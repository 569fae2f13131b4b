#!/usr/bin/env python3
"""Repository benchmark: three user workloads over the vector-store catalog.

    python3 perfbench/run.py --workload serve|ingest|bulk --seed N \
        --seconds S --trace 0|1
    python3 perfbench/run.py --selftest

Run from the root of a checkout. The first run builds the library and the
benchmark from source with sbt (offline), then every run starts one JVM
(`graft.perfbench.Main`) with a heap sized from the machine's memory and
Spark as local[nproc]. Each run works in a fresh directory under
perfbench/.work/ that it deletes at its end. The last line of stdout is the
result: {"correct", "attempted", "failed", "metrics"}. With --trace 1 the
metrics are the per-layer ones and the spans are written to
perfbench/traces/<workload>-seed<N>.json.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

T0 = time.time()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("serve", "ingest", "bulk")
BUILD_TIMEOUT_S = 850
RUN_TIMEOUT_S = 170
BUILD_S = 0.0  # a build made by this run is not part of its set-up time


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


def meminfo_kb(key):
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return None


def heap_mb(share, lo, hi):
    """A share of the machine's memory, clamped to [lo, hi] MB."""
    total = meminfo_kb("MemTotal")
    if total is None:
        return lo
    return int(max(lo, min(hi, total / 1024 * share)))


def build_inputs():
    """Every file the build reads, relative to the checkout root."""
    files = ["build.sbt", "project/build.properties",
             "perfbench/build.sbt", "perfbench/project/build.properties"]
    for base in ("src/main", "perfbench/src/main"):
        for d, _, names in os.walk(os.path.join(ROOT, base)):
            files += [os.path.relpath(os.path.join(d, n), ROOT) for n in names]
    return sorted(files)


def stamp():
    h = hashlib.sha256()
    for rel in build_inputs():
        h.update(rel.encode())
        with open(os.path.join(ROOT, rel), "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build():
    """Compile the library and the benchmark unless the sources are unchanged
    since the last build in this checkout; returns the runtime classpath."""
    target = os.path.join(HERE, "target")
    cp_file = os.path.join(target, "classpath.txt")
    stamp_file = os.path.join(target, "build.stamp")
    want = stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == want:
                with open(cp_file) as g:
                    return g.read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false",
            f"-Xmx{heap_mb(0.2, 1536, 3072)}m"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log("building library and benchmark (sbt, offline)")
    t = time.time()
    try:
        proc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
            cwd=HERE, env=env, stdin=subprocess.DEVNULL, stdout=sys.stderr,
            stderr=sys.stderr, timeout=BUILD_TIMEOUT_S)
    except FileNotFoundError:
        fail("sbt not found on PATH")
    except subprocess.TimeoutExpired:
        fail(f"build did not finish within {BUILD_TIMEOUT_S} s")
    if proc.returncode != 0 or not os.path.exists(cp_file):
        fail(f"build failed (sbt exit {proc.returncode})")
    with open(stamp_file, "w") as f:
        f.write(want + "\n")
    global BUILD_S
    BUILD_S = time.time() - t
    log(f"built in {BUILD_S:.0f} s")
    with open(cp_file) as f:
        return f.read().strip()


def pid_alive(pid):
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        return True
    return True


def sweep_leftovers(base):
    """Delete run directories whose process is gone (a killed run)."""
    if not os.path.isdir(base):
        return
    for name in os.listdir(base):
        parts = name.split("-")
        if len(parts) >= 2 and parts[0] == "run" and parts[1].isdigit():
            if not pid_alive(int(parts[1])):
                shutil.rmtree(os.path.join(base, name), ignore_errors=True)


def java_cmd(cp, work, main_args):
    opens = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs",
             "java.base/sun.security.action", "java.base/sun.util.calendar"]
    heap = heap_mb(0.25, 1024, 4096)
    # a fixed heap: no resizing pauses that differ from run to run
    cmd = ["java", f"-Xms{heap}m", f"-Xmx{heap}m", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={work}/tmp", "--add-modules=jdk.incubator.vector"]
    for p in opens:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return cmd + ["-cp", cp, "graft.perfbench.Main"] + main_args


class Child:
    """The JVM of one run, in its own process group so that it and anything
    it starts can be stopped together."""

    def __init__(self):
        self.proc = None

    def stop(self):
        p = self.proc
        if p is None or p.poll() is not None:
            return
        for sig, wait in ((signal.SIGTERM, 10), (signal.SIGKILL, 10)):
            try:
                os.killpg(p.pid, sig)
            except ProcessLookupError:
                return
            try:
                p.wait(timeout=wait)
                return
            except subprocess.TimeoutExpired:
                continue


def run_jvm(child, cmd, work, timeout):
    errlog = os.path.join(work, "jvm.log")
    with open(errlog, "w") as err:
        child.proc = subprocess.Popen(cmd, cwd=ROOT, stdin=subprocess.DEVNULL,
                                      stdout=subprocess.PIPE, stderr=err,
                                      text=True, start_new_session=True)
        try:
            out, _ = child.proc.communicate(timeout=timeout)
        except subprocess.TimeoutExpired:
            child.stop()
            tail(errlog)
            fail(f"run did not finish within {timeout:.0f} s", 3)
    with open(errlog, errors="replace") as f:
        for line in f:
            if line.startswith("[perfbench]"):
                sys.stderr.write(line)
    return child.proc.returncode, out, errlog


def tail(path, n=40):
    try:
        with open(path, errors="replace") as f:
            lines = f.readlines()
    except OSError:
        return
    interesting = [l for l in lines if "[perfbench]" in l or "Exception" in l or "Error" in l]
    for line in (interesting or lines)[-n:]:
        sys.stderr.write(line)


def finite(x):
    return isinstance(x, (int, float)) and not isinstance(x, bool) and math.isfinite(x)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true",
                    help="feed every checker corrupted answers; no Spark")
    args = ap.parse_args()
    if not args.selftest and args.workload is None:
        fail("--workload is required")
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail(f"{ROOT} is not a checkout of the graft library (no build.sbt / src)")
    if shutil.which("java") is None:
        fail("java not found on PATH")

    cp = build()
    base = os.path.join(HERE, ".work")
    os.makedirs(base, exist_ok=True)
    sweep_leftovers(base)
    work = tempfile.mkdtemp(prefix=f"run-{os.getpid()}-", dir=base)
    os.makedirs(os.path.join(work, "tmp"))
    child = Child()

    def on_signal(signum, _frame):
        child.stop()
        shutil.rmtree(work, ignore_errors=True)
        sys.exit(128 + signum)

    signal.signal(signal.SIGTERM, on_signal)
    signal.signal(signal.SIGINT, on_signal)
    try:
        if args.selftest:
            code, out, errlog = run_jvm(child, java_cmd(cp, work, ["--selftest"]), work, RUN_TIMEOUT_S)
            sys.stdout.write(out)
            if code != 0:
                tail(errlog)
            return code
        main_args = ["--workload", args.workload, "--seed", str(args.seed),
                     "--seconds", str(args.seconds), "--trace", str(args.trace),
                     "--work", work, "--cores", str(len(os.sched_getaffinity(0))),
                     "--t0-ms", repr((T0 + BUILD_S) * 1000)]
        if args.trace:
            main_args += ["--trace-out", os.path.join(
                HERE, "traces", f"{args.workload}-seed{args.seed}.json")]
        code, out, errlog = run_jvm(child, java_cmd(cp, work, main_args), work, RUN_TIMEOUT_S)
        result = detail = None
        for line in out.splitlines():
            if line.startswith("PERFBENCH_RESULT "):
                result = json.loads(line[len("PERFBENCH_RESULT "):])
            elif line.startswith("PERFBENCH_DETAIL "):
                detail = line[len("PERFBENCH_DETAIL "):]
        if code != 0 or result is None:
            tail(errlog)
            fail(f"run ended without a result (jvm exit {code})", 4)
        bad = [k for k, m in result["metrics"].items() if not finite(m.get("value"))]
        if bad:
            tail(errlog)
            fail(f"metrics without a value: {bad}", 5)
        if not result["correct"]:
            tail(errlog)
        if detail:
            print(f"detail {detail}")
        print(json.dumps(result))
        return 0
    finally:
        child.stop()
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
