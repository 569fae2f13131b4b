package graft.operators

import org.scalatest.funsuite.AnyFunSuite

/** [[EpochIndex.awaitAll]] runs the concurrent layout writes of one epoch
  * slice. A caller that sees its exception may retry into the same
  * uncommitted epoch directory, so no sibling write may still be landing
  * there when it returns.
  */
class AwaitAllSpec extends AnyFunSuite {

  test("awaitAll waits for every action before rethrowing the first error") {
    val marker = java.nio.file.Files.createTempDirectory("graft_await_all")
      .resolve("landed")
    val err = intercept[IllegalStateException] {
      EpochIndex.awaitAll(
        () => throw new IllegalStateException("first"),
        () => {
          Thread.sleep(1500)
          java.nio.file.Files.write(marker, Array[Byte](1))
          ()
        })
    }
    assert(java.nio.file.Files.exists(marker),
      "a sibling action was still running when awaitAll threw")
    assert(err.getMessage == "first")
  }

  test("awaitAll attaches the other failures as suppressed") {
    val err = intercept[IllegalStateException] {
      EpochIndex.awaitAll(
        () => throw new IllegalStateException("a"),
        () => (),
        () => { Thread.sleep(200); throw new IllegalArgumentException("b") })
    }
    assert(err.getMessage == "a")
    assert(err.getSuppressed.map(_.getMessage).toSeq == Seq("b"))
  }
}
