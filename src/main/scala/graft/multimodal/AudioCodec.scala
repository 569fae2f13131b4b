package graft.multimodal

import scala.util.control.NonFatal

/** Pure-JVM audio decode for the multimodal pipeline — the audio analog of
  * [[ImageCodec]]: a hand-rolled fast path for the dominant container
  * (RIFF/WAVE PCM, integer 8/16/24/32-bit and float32) plus the JDK's
  * `javax.sound.sampled` plugins (AIFF, AU, and WAV encodings the fast path
  * declines). No external codec libraries; compressed formats (MP3/AAC/OGG)
  * have no JVM decoder and follow the kernel's `undecodable` policy.
  *
  * Reference scope note: the reference has no media pipeline — this is part
  * of the 100 TB training-data extension surface (builder brief; SURVEY.md
  * north star). Decode runs partition-local inside
  * [[Multimodal.extractFeatures]]'s bounded batches, never on the driver.
  */
object AudioCodec {

  /** Mono-mixed samples in [-1, 1] (channels averaged), with the source
    * rate/channel layout preserved for metadata.
    */
  case class RawAudio(sampleRate: Int, channels: Int, samples: Array[Double]) {
    require(sampleRate > 0, s"bad sample rate $sampleRate")
    require(channels > 0, s"bad channel count $channels")
  }

  private def isWav(b: Array[Byte]) =
    b.length > 12 && b(0) == 'R' && b(1) == 'I' && b(2) == 'F' && b(3) == 'F' &&
      b(8) == 'W' && b(9) == 'A' && b(10) == 'V' && b(11) == 'E'
  private def isAiff(b: Array[Byte]) =
    b.length > 12 && b(0) == 'F' && b(1) == 'O' && b(2) == 'R' && b(3) == 'M' &&
      b(8) == 'A' && b(9) == 'I' && b(10) == 'F'
  private def isAu(b: Array[Byte]) =
    b.length > 4 && b(0) == '.' && b(1) == 's' && b(2) == 'n' && b(3) == 'd'

  def canDecode(bytes: Array[Byte]): Boolean =
    isWav(bytes) || isAiff(bytes) || isAu(bytes)

  def decode(bytes: Array[Byte]): RawAudio =
    if (isWav(bytes)) {
      // fast path for canonical PCM/float WAV; ADPCM/a-law/mu-law and other
      // encodings fall through to the javax.sound plugin, whose failure
      // (unsupported format) is the decisive error
      try decodeWavPcm(bytes)
      catch { case NonFatal(_) => decodeJavaSound(bytes) }
    }
    else if (isAiff(bytes) || isAu(bytes)) decodeJavaSound(bytes)
    else throw new IllegalArgumentException(
      "undecodable audio (supported: WAV PCM/float, AIFF, AU)")

  private def le16(b: Array[Byte], o: Int): Int =
    (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8)
  private def le32(b: Array[Byte], o: Int): Int =
    (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8) | ((b(o + 2) & 0xff) << 16) |
      ((b(o + 3) & 0xff) << 24)

  /** Hand-rolled RIFF/WAVE reader: walks the chunk list for `fmt ` and
    * `data` (chunk payloads are little-endian; odd-sized chunks carry a pad
    * byte). Accepts PCM (format 1: unsigned 8 / signed 16/24/32 LE) and
    * IEEE float32 (format 3), incl. their WAVE_FORMAT_EXTENSIBLE wrapping.
    */
  def decodeWavPcm(bytes: Array[Byte]): RawAudio = {
    require(isWav(bytes), "not a RIFF/WAVE container")
    var fmtFormat = -1
    var channels = 0
    var sampleRate = 0
    var bits = 0
    var dataOff = -1
    var dataLen = 0
    var o = 12
    while (o + 8 <= bytes.length && (fmtFormat < 0 || dataOff < 0)) {
      val id = new String(bytes, o, 4, java.nio.charset.StandardCharsets.US_ASCII)
      val size = le32(bytes, o + 4)
      require(size >= 0 && o + 8 + size <= bytes.length, s"chunk '$id' overruns buffer")
      if (id == "fmt ") {
        require(size >= 16, s"fmt chunk too small ($size)")
        fmtFormat = le16(bytes, o + 8)
        channels = le16(bytes, o + 10)
        sampleRate = le32(bytes, o + 12)
        bits = le16(bytes, o + 22)
        if (fmtFormat == 0xfffe && size >= 40) // EXTENSIBLE: real format in GUID
          fmtFormat = le16(bytes, o + 8 + 24)
      } else if (id == "data") {
        dataOff = o + 8
        dataLen = size
      }
      o += 8 + size + (size & 1) // odd chunks are padded
    }
    require(fmtFormat == 1 || fmtFormat == 3, s"not PCM/float WAV (format $fmtFormat)")
    require(dataOff >= 0, "no data chunk")
    require(channels >= 1 && sampleRate >= 1, s"bad fmt: ch=$channels rate=$sampleRate")
    val bytesPer = bits / 8
    require(fmtFormat != 1 || Seq(8, 16, 24, 32).contains(bits), s"PCM bits=$bits")
    require(fmtFormat != 3 || bits == 32, s"float WAV bits=$bits")
    val frames = dataLen / (bytesPer * channels)
    val out = new Array[Double](frames)
    var f = 0
    while (f < frames) {
      var acc = 0.0
      var c = 0
      while (c < channels) {
        val p = dataOff + (f * channels + c) * bytesPer
        acc += (if (fmtFormat == 3)
          java.lang.Float.intBitsToFloat(le32(bytes, p)).toDouble
        else bits match {
          case 8 => ((bytes(p) & 0xff) - 128) / 128.0
          case 16 => le16(bytes, p).toShort / 32768.0
          case 24 =>
            val v = (bytes(p) & 0xff) | ((bytes(p + 1) & 0xff) << 8) |
              (bytes(p + 2) << 16) // sign-extend via the top byte
            v / 8388608.0
          case 32 => le32(bytes, p) / 2147483648.0
        })
        c += 1
      }
      out(f) = acc / channels
      f += 1
    }
    RawAudio(sampleRate, channels, out)
  }

  /** JDK `javax.sound.sampled` fallback (AIFF, AU, non-canonical WAV):
    * transcode to signed 16-bit PCM at the source rate, then mix to mono.
    */
  def decodeJavaSound(bytes: Array[Byte]): RawAudio = {
    import javax.sound.sampled.{AudioFormat, AudioSystem}
    val in = AudioSystem.getAudioInputStream(new java.io.ByteArrayInputStream(bytes))
    try {
      val src = in.getFormat
      val target = new AudioFormat(
        AudioFormat.Encoding.PCM_SIGNED, src.getSampleRate, 16,
        src.getChannels, 2 * src.getChannels, src.getSampleRate, false)
      val pcm = AudioSystem.getAudioInputStream(target, in)
      try {
        val raw = pcm.readAllBytes()
        val channels = target.getChannels
        val frames = raw.length / (2 * channels)
        val out = new Array[Double](frames)
        var f = 0
        while (f < frames) {
          var acc = 0.0
          var c = 0
          while (c < channels) {
            acc += le16(raw, (f * channels + c) * 2).toShort / 32768.0
            c += 1
          }
          out(f) = acc / channels
          f += 1
        }
        RawAudio(math.round(target.getSampleRate).toInt, channels, out)
      } finally pcm.close()
    } finally in.close()
  }

  /** Fixed-width feature vector: [rms, peak, zero-crossing rate] ++ an
    * L1-normalized RMS energy envelope over `envelopeBins` equal time
    * windows. Duration-invariant (the envelope is relative), so clips of
    * different lengths land in one comparable vector space for the kNN /
    * near-dup operators downstream.
    */
  def features(audio: RawAudio, envelopeBins: Int): Array[Float] = {
    require(envelopeBins >= 1, s"envelopeBins must be >= 1, got $envelopeBins")
    val s = audio.samples
    val n = s.length
    val out = new Array[Float](3 + envelopeBins)
    if (n == 0) return out
    var sumSq = 0.0
    var peak = 0.0
    var crossings = 0
    var i = 0
    while (i < n) {
      val v = s(i)
      sumSq += v * v
      if (math.abs(v) > peak) peak = math.abs(v)
      if (i > 0 && (s(i - 1) >= 0) != (v >= 0)) crossings += 1
      i += 1
    }
    out(0) = math.sqrt(sumSq / n).toFloat
    out(1) = peak.toFloat
    out(2) = (crossings.toDouble / n).toFloat
    val env = new Array[Double](envelopeBins)
    i = 0
    while (i < n) {
      env((i.toLong * envelopeBins / n).toInt) += s(i) * s(i)
      i += 1
    }
    var total = 0.0
    var b = 0
    while (b < envelopeBins) { env(b) = math.sqrt(env(b)); total += env(b); b += 1 }
    b = 0
    while (b < envelopeBins) {
      out(3 + b) = (if (total > 0) env(b) / total else 0.0).toFloat
      b += 1
    }
    out
  }

  /** In-place iterative radix-2 Cooley–Tukey FFT (textbook public
    * algorithm). `re.length` must be a power of two; `im` same length.
    * Plenty fast for the perceptual fingerprint's frame sizes (≤ 8k bins);
    * runs partition-local inside the decode flatMap, never on the driver.
    */
  private[multimodal] def fft(re: Array[Double], im: Array[Double]): Unit = {
    val n = re.length
    require(n > 0 && (n & (n - 1)) == 0, s"FFT size must be a power of 2, got $n")
    require(im.length == n, "re/im length mismatch")
    // bit-reversal permutation
    var i = 1
    var j = 0
    while (i < n) {
      var bit = n >> 1
      while ((j & bit) != 0) { j ^= bit; bit >>= 1 }
      j |= bit
      if (i < j) {
        val tr = re(i); re(i) = re(j); re(j) = tr
        val ti = im(i); im(i) = im(j); im(j) = ti
      }
      i += 1
    }
    var len = 2
    while (len <= n) {
      val ang = -2.0 * math.Pi / len
      val wr = math.cos(ang)
      val wi = math.sin(ang)
      var blk = 0
      while (blk < n) {
        var cr = 1.0
        var ci = 0.0
        var k = 0
        while (k < len / 2) {
          val ur = re(blk + k); val ui = im(blk + k)
          val vr = re(blk + k + len / 2) * cr - im(blk + k + len / 2) * ci
          val vi = re(blk + k + len / 2) * ci + im(blk + k + len / 2) * cr
          re(blk + k) = ur + vr; im(blk + k) = ui + vi
          re(blk + k + len / 2) = ur - vr; im(blk + k + len / 2) = ui - vi
          val ncr = cr * wr - ci * wi
          ci = cr * wi + ci * wr
          cr = ncr
          k += 1
        }
        blk += len
      }
      len <<= 1
    }
  }

  /** Per-frame PERCEPTUAL peak words — a simplified spectral-peak
    * constellation in the spirit of Wang, "An Industrial-Strength Audio
    * Search Algorithm" (ISMIR 2003; published public knowledge): frame
    * the mono signal into start-aligned non-overlapping `frameMs` frames
    * (the [[Multimodal.audioWindowFingerprints]] alignment convention),
    * Hann-window + FFT each, sum spectrum energy into `bands` log-spaced
    * bands over [300 Hz, 3 kHz] (ceiling clamped under Nyquist), and emit
    * per frame the word packing the TOP-2 band INDICES by energy
    * (strongest * bands + runner-up).
    *
    * Why peak RANKS rather than energy values or sign bits: a positive
    * gain rescales every band uniformly, so the ranking — hence the word
    * — is EXACTLY gain-invariant; and a spectral peak towers over
    * requantization / re-encode noise by orders of magnitude, so unlike
    * sign-of-difference bits (whose leakage-level terms measurably flip
    * ~2 bits per 16-bit word under PCM16 requantization — tried first,
    * rejected for set semantics) the top-band identity survives noise.
    * Bands are absolute-Hz, so the same content at a different sample
    * rate lands in the same bands (resampling robustness). This is what
    * the exact PCM window hash cannot do ([[AudioIndex]] documents itself
    * as content identity, not acoustic similarity);
    * [[AudioPerceptualIndex]] is its perceptual twin.
    *
    * A near-tie between the runner-up and third band can swap under
    * noise; the set-Jaccard consumer absorbs that (one bad frame costs
    * `shingle` set elements, not the match). Returns one word per full
    * frame; empty when no full frame or the rate's Nyquist sits under
    * the 300 Hz floor.
    *
    * `hopMs` (default 0 = frameMs, non-overlapping) is the TRIM lever:
    * start-aligned non-overlapping frames break on a mid-frame trim (a
    * 47 ms cut shifts every window's content), but with hop h the
    * residual misalignment of ANY trim is at most h/2 — a trim that is
    * an exact hop multiple just drops leading frames, which a SET
    * consumer barely notices, and sub-h/2 shifts leave most 125 ms
    * windows' peak bands unchanged. Cost scales frameMs/hopMs × (more
    * FFTs, more set elements); the standard overlap trade in published
    * fingerprinting systems (Haitsma–Kalker run 31/32 overlap).
    */
  def peakBandWords(
      audio: RawAudio, frameMs: Long, bands: Int,
      hopMs: Long = 0L): Array[Int] = {
    require(frameMs >= 1, s"frameMs must be >= 1, got $frameMs")
    require(bands >= 2 && bands <= 256, s"bands must be in [2, 256], got $bands")
    val hop = if (hopMs <= 0) frameMs else hopMs
    require(hop <= frameMs, s"hopMs must be <= frameMs, got $hop > $frameMs")
    val n = (audio.sampleRate.toLong * frameMs / 1000L).toInt
    val hopN = math.max(1, (audio.sampleRate.toLong * hop / 1000L).toInt)
    if (n < 2) return Array.empty
    val frames =
      if (audio.samples.length < n) 0
      else (audio.samples.length - n) / hopN + 1
    if (frames < 1) return Array.empty
    var fftN = 1
    while (fftN < n) fftN <<= 1
    // Hann window (precomputed once per clip)
    val hann = Array.tabulate(n)(i =>
      0.5 * (1.0 - math.cos(2.0 * math.Pi * i / (n - 1))))
    // log-spaced band edges in Hz over [300, 3000], clamped under Nyquist
    val fMin = 300.0
    val fMax = math.min(3000.0, audio.sampleRate * 0.45)
    require(fMax > fMin,
      s"sample rate ${audio.sampleRate} too low for the 300 Hz band floor")
    val edges = Array.tabulate(bands + 1)(k =>
      fMin * math.pow(fMax / fMin, k.toDouble / bands))
    val binHz = audio.sampleRate.toDouble / fftN
    // bin b sits at frequency b*binHz; band of bin = its edge interval
    val bandOfBin = Array.tabulate(fftN / 2) { b =>
      val f = b * binHz
      if (f < fMin || f >= fMax) -1
      else {
        var k = 0
        while (k + 1 <= bands && f >= edges(k + 1)) k += 1
        k
      }
    }
    val re = new Array[Double](fftN)
    val im = new Array[Double](fftN)
    val e = new Array[Double](bands)
    val out = new Array[Int](frames)
    var t = 0
    while (t < frames) {
      java.util.Arrays.fill(re, 0.0)
      java.util.Arrays.fill(im, 0.0)
      var i = 0
      while (i < n) { re(i) = audio.samples(t * hopN + i) * hann(i); i += 1 }
      fft(re, im)
      java.util.Arrays.fill(e, 0.0)
      var b = 0
      while (b < fftN / 2) {
        val band = bandOfBin(b)
        if (band >= 0) e(band) += re(b) * re(b) + im(b) * im(b)
        b += 1
      }
      // top-2 band indices by energy (ties broken low-band-first, the
      // deterministic convention)
      var b1 = 0
      var b2 = -1
      var k = 1
      while (k < bands) {
        if (e(k) > e(b1)) { b2 = b1; b1 = k }
        else if (b2 < 0 || e(k) > e(b2)) b2 = k
        k += 1
      }
      out(t) = b1 * bands + math.max(b2, 0)
      t += 1
    }
    out
  }

  /** TIME-DELTA LANDMARK words — the geometry [[peakBandWords]] cannot
    * provide: robustness to small TEMPO edits. Wang 2003's actual hash is
    * a (peak, peak, Δt) pair across frames (public knowledge); this is
    * the event-sequence form of it over the per-frame TOP band:
    *
    *  1. take the strongest band per frame ([[peakBandWords]] framing —
    *     gain-invariant by rank, absolute-Hz bands survive resampling);
    *  2. collapse consecutive duplicates into PEAK EVENTS (band, frame):
    *     a tempo change scales RUN LENGTHS, never the event sequence;
    *  3. hash each consecutive event TRIPLE with its two inter-event
    *     gaps bucketed into log2 bins (gap 1 → bin 0, 2–3 → 1, 4–7 → 2,
    *     …, capped at 6): a ±few-% tempo edit multiplies every gap by
    *     ~1.0x, which crosses a log2 edge only for gaps within that few
    *     % of a power of two — almost every landmark survives, where the
    *     start-aligned frame-word shingles desynchronize cumulatively
    *     (drift grows linearly with time until every window straddles a
    *     tone boundary).
    *
    * The triple (b1, g1bin, b2, g2bin, b3) carries bands³·bins² states
    * (~800k at 32 bands — the cross-clip sparsity SET overlap needs; a
    * bare pair's bands²·bins ≈ 5k states would collide densely at corpus
    * scale), FNV-1a-folded into one 64-bit word. One noise-flipped event
    * costs 3 landmarks of ~events, not the match — the [[peakBandWords]]
    * shingle trade at the event level.
    */
  def landmarkWords(
      audio: RawAudio, frameMs: Long, bands: Int,
      hopMs: Long = 0L): Array[Long] = {
    val words = peakBandWords(audio, frameMs, bands, hopMs)
    if (words.length < 1) return Array.empty
    // collapse runs of the same TOP band into events
    val evBand = new Array[Int](words.length)
    val evFrame = new Array[Int](words.length)
    var nEv = 0
    var t = 0
    while (t < words.length) {
      val top = words(t) / bands
      if (nEv == 0 || evBand(nEv - 1) != top) {
        evBand(nEv) = top; evFrame(nEv) = t; nEv += 1
      }
      t += 1
    }
    if (nEv < 3) return Array.empty
    def gapBin(g: Int): Int =
      math.min(63 - java.lang.Long.numberOfLeadingZeros(math.max(g, 1).toLong),
        6L).toInt
    val out = new Array[Long](nEv - 2)
    var i = 0
    while (i < nEv - 2) {
      var h = 0xcbf29ce484222325L
      def mix(v: Long): Unit = { h ^= v & 0xffffffffL; h *= 0x100000001b3L }
      mix(evBand(i).toLong)
      mix(gapBin(evFrame(i + 1) - evFrame(i)).toLong)
      mix(evBand(i + 1).toLong)
      mix(gapBin(evFrame(i + 2) - evFrame(i + 1)).toLong)
      mix(evBand(i + 2).toLong)
      out(i) = h
      i += 1
    }
    out
  }

  /** Trim leading/trailing SILENCE by energy gate (the classic VAD
    * endpointing primitive — public knowledge): the signal is scanned in
    * 10 ms frames, a frame is silent when its RMS falls below
    * `thresholdRel` × the clip's PEAK frame RMS (relative, so the gate is
    * exactly gain-invariant like the peak-rank fingerprint), and the
    * samples outside the first..last non-silent frame are dropped. The
    * trailing PARTIAL frame (clip length mod frame) is kept whenever the
    * last full frame is non-silent OR its own RMS clears the gate, so
    * real tail content never depends on ending frame-aligned; only a
    * genuinely sub-gate partial is trimmed with the silent tail.
    *
    * Why it exists here: both audio fingerprint geometries are
    * start-aligned, so an exact-content duplicate with 200 ms of
    * prepended silence — a COMMON duplicate class (encoder padding,
    * lead-in trimmed differently by different rips) — matches NOTHING,
    * even through the exact window hash. Trimming first normalizes
    * alignment to the content's own onset. An all-silent (or empty) clip
    * returns itself unchanged (no onset to align to; the gate must not
    * invent one from noise).
    */
  def trimSilence(audio: RawAudio, thresholdRel: Double = 0.01): RawAudio = {
    require(thresholdRel > 0 && thresholdRel < 1,
      s"thresholdRel must be in (0, 1), got $thresholdRel")
    val n = audio.samples.length
    val frame = math.max(1, audio.sampleRate / 100) // 10 ms
    val frames = n / frame
    if (frames < 1) return audio
    val rms = new Array[Double](frames)
    var peak = 0.0
    var t = 0
    while (t < frames) {
      var acc = 0.0
      var i = 0
      while (i < frame) {
        val v = audio.samples(t * frame + i)
        acc += v * v
        i += 1
      }
      rms(t) = math.sqrt(acc / frame)
      if (rms(t) > peak) peak = rms(t)
      t += 1
    }
    if (peak <= 0) return audio
    val thr = thresholdRel * peak
    var first = 0
    while (first < frames && rms(first) < thr) first += 1
    if (first >= frames) return audio // all-silent: unchanged
    var last = frames - 1
    while (last > first && rms(last) < thr) last -= 1
    val from = first * frame
    // the trailing PARTIAL frame (n mod frame samples) is real content
    // too: it rides with the tail when the last FULL frame is non-silent,
    // and it REOPENS the tail when its own RMS clears the gate — without
    // that check a clip whose content ends just past a frame boundary
    // would lose its final <10 ms to the silent-full-frame scan, making
    // trim output depend on whether content happens to end frame-aligned
    val tailLen = n - frames * frame
    val tailLoud = tailLen > 0 && {
      var acc = 0.0
      var i = frames * frame
      while (i < n) { val v = audio.samples(i); acc += v * v; i += 1 }
      math.sqrt(acc / tailLen) >= thr
    }
    val until = if (last == frames - 1 || tailLoud) n else (last + 1) * frame
    if (from == 0 && until == n) audio
    else audio.copy(samples = java.util.Arrays.copyOfRange(
      audio.samples, from, until))
  }

  /** Canonical 16-bit PCM WAV encoder (mono-interleaved if one channel) —
    * the storage/test twin of [[decodeWavPcm]]; samples clipped to [-1, 1].
    */
  def encodeWavPcm16(sampleRate: Int, samples: Array[Double]): Array[Byte] = {
    require(sampleRate > 0, s"bad sample rate $sampleRate")
    val dataLen = samples.length * 2
    val buf = java.nio.ByteBuffer.allocate(44 + dataLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.put("RIFF".getBytes); buf.putInt(36 + dataLen); buf.put("WAVE".getBytes)
    buf.put("fmt ".getBytes); buf.putInt(16)
    buf.putShort(1); buf.putShort(1) // PCM, mono
    buf.putInt(sampleRate); buf.putInt(sampleRate * 2)
    buf.putShort(2); buf.putShort(16) // block align, bits
    buf.put("data".getBytes); buf.putInt(dataLen)
    samples.foreach { v =>
      val clipped = math.max(-1.0, math.min(1.0, v))
      buf.putShort(math.round(clipped * 32767.0).toShort)
    }
    buf.array()
  }
}
