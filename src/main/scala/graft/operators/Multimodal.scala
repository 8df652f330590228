package graft.operators

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.plans.Pins

/** Multimodal column handling: image/audio/video as opaque `binary` columns
  * with typed metadata, plus decode / feature-extract / frame-sample stages
  * whose Spark-side plumbing (schema, batch shape, partitioning) is real.
  * Images decode for REAL through `javax.imageio` and audio through
  * `javax.sound.sampled` (both in the JDK); video codecs — and compressed
  * audio (mp3/ogg) — are not available in this environment, so those
  * payloads and undecodable inputs fall through to a deterministic
  * md5-derived stub feature vector that an external SQL engine can replay.
  * Swap in a fuller codec (JNI/FFI) behind [[MediaCodec.decode]] without
  * touching any plan structure.
  *
  * North-star scope (no analog in the reference — its records are newline
  * text, SURVEY.md §1). Design notes for 100 TB:
  *  - media bytes ride in parquet binary columns; metadata columns stay
  *    prunable so metadata-only queries never deserialize payloads;
  *  - decode runs via `mapPartitions` so per-partition codec init happens
  *    once, not per row (same batching rationale as Arrow-batched UDFs);
  *  - feature vectors come back as `array<float>` ready for
  *    [[Similarity]] ANN ops.
  */
object Multimodal {

  /** Typed metadata for a media payload. */
  val mediaMetaSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("kind", StringType, nullable = false), // image | audio | video
    StructField("format", StringType, nullable = true),
    StructField("width", IntegerType, nullable = true),
    StructField("height", IntegerType, nullable = true),
    StructField("duration_ms", LongType, nullable = true),
    StructField("payload", BinaryType, nullable = true)))

  /** The codec boundary. Images decode for REAL through `javax.imageio`
    * and audio (WAV/PCM) through `javax.sound.sampled` — both pure JDK, no
    * external libraries; video and compressed-audio codecs are not
    * available in this environment, so those stay STUBBED. Payloads that
    * fail to decode fall back to a deterministic md5-derived
    * pseudo-feature vector, which keeps the whole pipeline replayable by an
    * external SQL engine (the same portability contract as
    * [[graft.operators.Dedup.portableHash64]]).
    */
  object MediaCodec {
    val featureDim = 16

    // keep ImageIO decoding fully in memory: the default disk-backed
    // FileCacheImageInputStream creates and deletes a temp file on
    // executor disk for EVERY decoded image — pure overhead in a hot
    // mapPartitions decode loop
    javax.imageio.ImageIO.setUseCache(false)

    /** Modulus for the stub features — features are `h % FeatureMod /
      * FeatureMod`, and `FeatureMod < 2^24` keeps the scaled-back integer
      * exactly recoverable from the Float (so a SQL oracle can replay an
      * integer digest of the vector without emulating float32 rounding).
      */
    val FeatureMod = 1000003L

    /** Magic-byte sniff for the mainstream formats the JDK's ImageIO
      * readers handle (PNG, JPEG, GIF, BMP, TIFF). In a mixed corpus most
      * payloads are NOT images of a decodable format, and spinning up the
      * ImageIO reader machinery per garbage payload measurably dominated
      * the decode stage (~3x on the fixture corpus) — a 4-byte prefix
      * check rejects them for free. Deliberate trade: WBMP (the one JDK
      * format with no reliable magic — its header starts 0x00 0x00, which
      * arbitrary binary matches constantly) is excluded and takes the
      * stub path; every magic-bearing JDK format decodes for real.
      */
    private def looksLikeImage(p: Array[Byte]): Boolean =
      p != null && p.length >= 4 && (
        (p(0) == 0x89.toByte && p(1) == 'P' && p(2) == 'N' && p(3) == 'G') ||
        (p(0) == 0xff.toByte && p(1) == 0xd8.toByte && p(2) == 0xff.toByte) ||
        (p(0) == 'G' && p(1) == 'I' && p(2) == 'F' && p(3) == '8') ||
        (p(0) == 'B' && p(1) == 'M') ||
        (p(0) == 'I' && p(1) == 'I' && p(2) == 0x2a.toByte && p(3) == 0) ||
        (p(0) == 'M' && p(1) == 'M' && p(2) == 0 && p(3) == 0x2a.toByte))

    /** Real image decode via `javax.imageio`. Returns null when the payload
      * is not a decodable image (wrong magic bytes, truncated stream) —
      * callers fall back to [[stubFeatures]]. Catches ALL non-fatal
      * throwables, not just IOException: the JDK BMP/GIF/TIFF readers
      * throw unchecked exceptions (IllegalArgument, NegativeArraySize,
      * ArrayIndexOutOfBounds) on payloads whose magic matches but whose
      * header fields are garbage — one such poison payload must degrade
      * to the stub, not fail the task 4 times and abort the stage.
      */
    def readImage(payload: Array[Byte]): java.awt.image.BufferedImage =
      if (!looksLikeImage(payload)) null
      else
        try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload))
        catch { case scala.util.control.NonFatal(_) => null }

    /** Decode + feature-extract. Images and audio attempt the real JDK
      * decoders first; everything else (video, and undecodable payloads)
      * takes the deterministic stub path.
      */
    def decode(payload: Array[Byte], kind: String): Array[Float] = {
      if (kind == "image") {
        val img = readImage(payload)
        if (img != null) return imageFeatures(img)
      }
      if (kind == "audio") {
        val af = audioFeatures(payload)
        if (af != null) return af
      }
      stubFeatures(payload)
    }

    /** Real audio decode for formats the JDK ships (WAV / PCM-signed
      * 16-bit via `javax.sound.sampled`): 16 RMS-energy windows over the
      * first channel, each in [0,1] — a genuine loudness-envelope
      * descriptor from decoded samples. Returns null (→ stub fallback)
      * for anything the JDK cannot parse (mp3/ogg/etc.).
      */
    /** Same cheap prefix rejection for audio containers the JDK parses
      * (RIFF/WAV, AIFF, AU) before the AudioSystem reader lookup.
      */
    private def looksLikeAudio(p: Array[Byte]): Boolean =
      p != null && p.length >= 4 && (
        (p(0) == 'R' && p(1) == 'I' && p(2) == 'F' && p(3) == 'F') ||
        (p(0) == 'F' && p(1) == 'O' && p(2) == 'R' && p(3) == 'M') ||
        (p(0) == '.' && p(1) == 's' && p(2) == 'n' && p(3) == 'd'))

    def audioFeatures(payload: Array[Byte]): Array[Float] = {
      if (!looksLikeAudio(payload)) return null
      try {
        val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
          new java.io.ByteArrayInputStream(payload))
        try {
          val fmt = ais.getFormat
          if (fmt.getEncoding != javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED ||
            fmt.getSampleSizeInBits != 16) return null
          val bytes = ais.readAllBytes()
          val frameSize = fmt.getFrameSize
          val nFrames = bytes.length / frameSize
          if (nFrames == 0) return null
          val big = fmt.isBigEndian
          val out = new Array[Float](featureDim)
          var w = 0
          while (w < featureDim) {
            val f0 = w * nFrames / featureDim
            val f1 = math.min(math.max((w + 1) * nFrames / featureDim, f0 + 1), nFrames)
            var sum = 0.0
            var f = f0
            while (f < f1) {
              val off = f * frameSize // first channel
              val s =
                if (big) ((bytes(off) << 8) | (bytes(off + 1) & 0xff)).toShort
                else ((bytes(off + 1) << 8) | (bytes(off) & 0xff)).toShort
              val x = s.toDouble / 32768.0
              sum += x * x
              f += 1
            }
            out(w) = math.sqrt(sum / (f1 - f0)).toFloat
            w += 1
          }
          out
        } finally ais.close()
      } catch { case _: Exception => null }
    }

    /** PCM16 mono WAV encode (RIFF/WAVE, little-endian, one `fmt ` +
      * one `data` chunk) — the inverse of [[audioFeatures]]'s decode
      * path, used by fixtures and by pipelines that re-emit normalized
      * audio. Lossless round trip: `audioFingerprint(wavPcm16(s))` sees
      * exactly `s`.
      */
    def wavPcm16(samples: Array[Short], sampleRate: Int = 8000): Array[Byte] = {
      val dataLen = samples.length * 2
      val bb = java.nio.ByteBuffer.allocate(44 + dataLen)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      val ascii = java.nio.charset.StandardCharsets.US_ASCII
      bb.put("RIFF".getBytes(ascii)).putInt(36 + dataLen).put("WAVE".getBytes(ascii))
      bb.put("fmt ".getBytes(ascii)).putInt(16)
        .putShort(1).putShort(1) // PCM, mono
        .putInt(sampleRate).putInt(sampleRate * 2) // byte rate
        .putShort(2).putShort(16) // block align, bits/sample
      bb.put("data".getBytes(ascii)).putInt(dataLen)
      var i = 0
      while (i < samples.length) { bb.putShort(samples(i)); i += 1 }
      bb.array()
    }

    /** Time-LOCALIZED audio fingerprint over the REAL PCM decode — the
      * windowed energy-band hash sequence that lets trimmed/offset/padded
      * audio duplicates match where [[audioFeatures]]' single whole-clip
      * vector cannot (its 16 RMS windows stretch with the clip, so any
      * offset misaligns every cell). The shape is the public chromaprint
      * recipe (per-window band energies, difference-coded bits), with the
      * spectral step made EXACTLY integer so an external engine replays
      * it from raw samples:
      *
      *  - the first channel splits into NON-overlapping windows of
      *    `windowFrames` samples (power of two); windows are the match
      *    granularity — a duplicate trimmed by a multiple of the window
      *    matches window-for-window;
      *  - each window takes an integer Walsh–Hadamard transform
      *    (`coef(k) = Σ_t s(t)·(−1)^{popcount(k AND t)}` — ±1 kernels,
      *    no irrational twiddles, exact in 64-bit), and the coefficients
      *    group into `bands` equal ranges whose energy is `Σ coef²`;
      *  - window `w ≥ 1` hashes to `2·(bands−1)` bits: bit `b` is the
      *    intra-window shape `E_b > E_{b+1}`, bit `bands−1+b` the
      *    temporal delta `(E_b−E_{b+1})(w) > (E_b−E_{b+1})(w−1)` —
      *    chromaprint's difference coding, strict integer compares.
      *
      * Returns one hash per window `w = 1 … nWindows−1` (window 0 seeds
      * the temporal deltas), an EMPTY sequence for decodable audio
      * shorter than two windows, and null for payloads the JDK cannot
      * decode (mp3/ogg/garbage) — callers fall back to
      * [[stubAudioFingerprint]], keeping the whole stage hash-checkable.
      */
    def audioFingerprint(payload: Array[Byte], windowFrames: Int = 64,
        bands: Int = 16): Seq[Long] = {
      require(windowFrames > 0 && (windowFrames & (windowFrames - 1)) == 0,
        s"audioFingerprint: windowFrames=$windowFrames must be a power of two")
      require(bands > 1 && windowFrames % bands == 0 && 2 * (bands - 1) <= 62,
        s"audioFingerprint: bands=$bands must divide windowFrames and fit 62 bits")
      if (!looksLikeAudio(payload)) return null
      try {
        val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
          new java.io.ByteArrayInputStream(payload))
        try {
          val fmt = ais.getFormat
          if (fmt.getEncoding != javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED ||
            fmt.getSampleSizeInBits != 16) return null
          val bytes = ais.readAllBytes()
          val frameSize = fmt.getFrameSize
          val nFrames = bytes.length / frameSize
          val nWin = nFrames / windowFrames
          if (nWin < 2) return Seq.empty
          val big = fmt.isBigEndian
          val dBands = windowFrames / bands
          val buf = new Array[Long](windowFrames)
          val e = new Array[Long](bands)
          val prevD = new Array[Long](bands - 1)
          val out = new scala.collection.mutable.ArrayBuffer[Long](nWin - 1)
          var w = 0
          while (w < nWin) {
            var t = 0
            while (t < windowFrames) {
              val off = (w * windowFrames + t) * frameSize // first channel
              buf(t) =
                if (big) ((bytes(off) << 8) | (bytes(off + 1) & 0xff)).toShort.toLong
                else ((bytes(off + 1) << 8) | (bytes(off) & 0xff)).toShort.toLong
              t += 1
            }
            // in-place fast WHT, natural (Hadamard) coefficient order
            var len = 1
            while (len < windowFrames) {
              var i = 0
              while (i < windowFrames) {
                var j = i
                while (j < i + len) {
                  val a = buf(j); val b = buf(j + len)
                  buf(j) = a + b; buf(j + len) = a - b
                  j += 1
                }
                i += 2 * len
              }
              len *= 2
            }
            java.util.Arrays.fill(e, 0L)
            var k = 0
            while (k < windowFrames) { e(k / dBands) += buf(k) * buf(k); k += 1 }
            if (w > 0) {
              var h = 0L
              var b = 0
              while (b < bands - 1) {
                if (e(b) > e(b + 1)) h |= 1L << b
                if (e(b) - e(b + 1) > prevD(b)) h |= 1L << (bands - 1 + b)
                b += 1
              }
              out += h
            }
            var b = 0
            while (b < bands - 1) { prevD(b) = e(b) - e(b + 1); b += 1 }
            w += 1
          }
          out.toSeq
        } finally ais.close()
      } catch { case scala.util.control.NonFatal(_) => null }
    }

    /** Sample threshold for clipping detection: |s| ≥ 32734
      * (≈ 0.999 · full scale) counts as clipped.
      */
    val ClipThresh = 32734L

    /** Per-window silence threshold: a 64-sample window with energy
      * `Σ s² < 64 · 100²` (RMS under ~0.3% of full scale) is silent.
      */
    val SilenceEnergy = 64L * 100L * 100L

    /** Real audio-quality stats from the PCM decode — the screen a
      * pipeline runs before spending fingerprint/transcription compute
      * on dead air and clipped captures. Returns
      * `[n_samples, peak_abs, n_clipped, n_windows, n_silent_windows]`
      * over the first channel (full 64-sample windows only), or null
      * for payloads the JDK cannot decode. Exact integer thresholds
      * ([[ClipThresh]], [[SilenceEnergy]]) so any engine replays the
      * counts from raw samples.
      */
    def audioQualityStats(payload: Array[Byte]): Array[Long] = {
      if (!looksLikeAudio(payload)) return null
      try {
        val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
          new java.io.ByteArrayInputStream(payload))
        try {
          val fmt = ais.getFormat
          if (fmt.getEncoding != javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED ||
            fmt.getSampleSizeInBits != 16) return null
          val bytes = ais.readAllBytes()
          val frameSize = fmt.getFrameSize
          val nFrames = bytes.length / frameSize
          if (nFrames == 0) return null
          val big = fmt.isBigEndian
          var peak = 0L
          var clipped = 0L
          var silent = 0L
          var winE = 0L
          var f = 0
          while (f < nFrames) {
            val off = f * frameSize
            val s =
              if (big) ((bytes(off) << 8) | (bytes(off + 1) & 0xff)).toShort.toLong
              else ((bytes(off + 1) << 8) | (bytes(off) & 0xff)).toShort.toLong
            val a = math.abs(s)
            if (a > peak) peak = a
            if (a >= ClipThresh) clipped += 1
            winE += s * s
            if (f % 64 == 63) {
              if (winE < SilenceEnergy) silent += 1
              winE = 0L
            }
            f += 1
          }
          Array(nFrames.toLong, peak, clipped, nFrames.toLong / 64L, silent)
        } finally ais.close()
      } catch { case scala.util.control.NonFatal(_) => null }
    }

    /** STUB fingerprint windows for payloads [[audioFingerprint]] cannot
      * decode: window `w` hashes to `md5_60(payload ++ ":aw" ++ w) % 2³⁰`
      * — the portable md5 scheme (DuckDB:
      * `('0x'||substr(md5(s || ':aw' || w),1,15))::BIGINT % 1073741824`),
      * one digest-state clone per window like [[stubFrameLumas]].
      */
    def stubAudioFingerprint(payload: Array[Byte], nWindows: Int): Seq[Long] = {
      val base = java.security.MessageDigest.getInstance("MD5")
      if (payload != null) base.update(payload)
      (0 until nWindows).map { w =>
        val md = base.clone().asInstanceOf[java.security.MessageDigest]
        md.update((":aw" + w).getBytes(java.nio.charset.StandardCharsets.UTF_8))
        graft.functions.PortableMd5.fromDigest(md.digest()) % (1L << 30)
      }
    }

    /** Real features for decoded images: a 4×4 grid of mean luminance
      * (Rec.601 weights) in [0,1] — a minimal but genuine visual
      * descriptor computed from actual pixels.
      */
    def imageFeatures(img: java.awt.image.BufferedImage): Array[Float] =
      imageFeatures(img, 4)

    /** [[imageFeatures]] at an arbitrary `grid`×`grid` cell resolution —
      * the finer luminance grid behind the wide perceptual hash
      * ([[Multimodal.perceptualHashWide]]): 8×8 gives a 64-bit code
      * whose band space no longer saturates at archive scale.
      */
    def imageFeatures(img: java.awt.image.BufferedImage,
        grid: Int): Array[Float] = {
      val out = new Array[Float](grid * grid)
      val w = img.getWidth
      val h = img.getHeight
      var gy = 0
      while (gy < grid) {
        var gx = 0
        while (gx < grid) {
          val x0 = gx * w / grid
          val x1 = math.min(math.max((gx + 1) * w / grid, x0 + 1), w)
          val y0 = gy * h / grid
          val y1 = math.min(math.max((gy + 1) * h / grid, y0 + 1), h)
          var sum = 0.0
          var n = 0
          var y = y0
          while (y < y1) {
            var x = x0
            while (x < x1) {
              val rgb = img.getRGB(x, y)
              sum += (0.299 * ((rgb >> 16) & 0xff) +
                0.587 * ((rgb >> 8) & 0xff) +
                0.114 * (rgb & 0xff)) / 255.0
              n += 1
              x += 1
            }
            y += 1
          }
          out(gy * grid + gx) = if (n == 0) 0f else (sum / n).toFloat
          gx += 1
        }
        gy += 1
      }
      out
    }

    /** STUB fallback for codecs this environment lacks: feature `d` is
      * `md5_60bit(payload ++ ":d") % FeatureMod / FeatureMod` — the
      * portable 60-bit md5 scheme, so an external engine replays the
      * vector from the raw bytes (DuckDB:
      * `('0x'||substr(md5(s || ':' || d),1,15))::BIGINT % 1000003`).
      */
    def stubFeatures(payload: Array[Byte]): Array[Float] =
      stubFeatures(payload, featureDim)

    /** [[stubFeatures]] at an arbitrary dimension count — the same md5
      * scheme, `d` ranging over `dims` (the wide-hash stub path).
      */
    def stubFeatures(payload: Array[Byte], dims: Int): Array[Float] = {
      val out = new Array[Float](dims)
      if (payload != null) {
        // hash the payload ONCE, then clone the digest state per dimension
        // and append only the ":d" suffix — md5(payload ++ ":d") exactly,
        // without `dims` full passes (and copies) of a possibly-multi-MB
        // payload per row; the oracle contract is unchanged
        val base = java.security.MessageDigest.getInstance("MD5")
        base.update(payload)
        var d = 0
        while (d < dims) {
          val md = base.clone().asInstanceOf[java.security.MessageDigest]
          md.update((":" + d).getBytes(java.nio.charset.StandardCharsets.UTF_8))
          out(d) = (graft.functions.PortableMd5.fromDigest(md.digest()) % FeatureMod)
            .toFloat / FeatureMod
          d += 1
        }
      }
      out
    }

    /** Magic-byte sniff-and-classify over the formats a corpus actually
      * contains — including compressed audio/video this environment has NO
      * codec for. The decode path lumps those with garbage payloads (both
      * take the deterministic stub), which is correct for features but
      * loses ROUTING information: a pipeline wants to quarantine real mp3/
      * mp4 payloads for a codec-equipped cluster, not discard them with
      * the noise. Returns (format, kind, decodable-here):
      *  - JDK-decodable images (png/jpeg/gif/bmp/tiff) and audio
      *    (wav/aiff/au) → decodable = true;
      *  - recognized-but-undecodable media (mp3 via ID3v2 tag or MPEG
      *    frame sync, ogg capture pattern, mp4/mov ftyp box, Matroska/
      *    webm EBML header, avi RIFF) → real format, decodable = false;
      *  - anything else → (null, "unknown", false).
      */
    def sniff(p: Array[Byte]): (String, String, Boolean) = {
      def at(i: Int, c: Char): Boolean = p(i) == c.toByte
      if (p == null || p.length < 12) (null, "unknown", false)
      else if (looksLikeImage(p)) {
        val fmt =
          if (p(0) == 0x89.toByte) "png"
          else if (p(0) == 0xff.toByte) "jpeg"
          else if (p(0) == 'G') "gif"
          else if (p(0) == 'B') "bmp"
          else "tiff"
        (fmt, "image", true)
      } else if (at(0, 'R') && at(1, 'I') && at(2, 'F') && at(3, 'F')) {
        // RIFF container: the form type at offset 8 splits WAV from AVI
        if (at(8, 'W') && at(9, 'A') && at(10, 'V') && at(11, 'E'))
          ("wav", "audio", true)
        else if (at(8, 'A') && at(9, 'V') && at(10, 'I') && at(11, ' '))
          ("avi", "video", false)
        else (null, "unknown", false)
      } else if (looksLikeAudio(p)) // FORM (aiff) / .snd (au)
        (if (at(0, 'F')) "aiff" else "au", "audio", true)
      else if (at(0, 'I') && at(1, 'D') && at(2, '3'))
        ("mp3", "audio", false) // ID3v2 tag prefix
      else if (p(0) == 0xff.toByte && (p(1) & 0xe0.toByte) == 0xe0.toByte)
        ("mp3", "audio", false) // bare MPEG audio frame sync (11 set bits)
      else if (at(0, 'O') && at(1, 'g') && at(2, 'g') && at(3, 'S'))
        ("ogg", "audio", false)
      else if (at(4, 'f') && at(5, 't') && at(6, 'y') && at(7, 'p'))
        ("mp4", "video", false) // ISO BMFF: size then 'ftyp' box
      else if (p(0) == 0x1a.toByte && p(1) == 0x45.toByte &&
        p(2) == 0xdf.toByte && p(3) == 0xa3.toByte)
        ("webm", "video", false) // EBML header (Matroska/WebM)
      else if (looksLikeY4m(p))
        ("y4m", "video", true) // uncompressed planar frames: decodable HERE
      else (null, "unknown", false)
    }

    /** Y4M (YUV4MPEG2) stream magic — the uncompressed planar video
      * container whose frames decode here with zero external codecs: the
      * header is an ASCII parameter line, every frame is a `FRAME` line
      * followed by raw Y (then U, V) planes, and the luma plane IS the
      * luminance data.
      */
    private def looksLikeY4m(p: Array[Byte]): Boolean =
      p != null && p.length >= 10 &&
        new String(p, 0, 10, java.nio.charset.StandardCharsets.ISO_8859_1) == "YUV4MPEG2 "

    private def looksLikeJpegSoi(p: Array[Byte], i: Int): Boolean =
      i + 2 < p.length && p(i) == 0xff.toByte && p(i + 1) == 0xd8.toByte &&
        p(i + 2) == 0xff.toByte

    /** Evenly-spaced sample of frame indices: `floor(k·n/max)` for
      * k < max, deduplicated — every frame when n ≤ max, a uniform
      * stride otherwise. Shared by the real decoders and the oracle
      * replay (the SQL twin computes the same `(k*n)//max` set).
      */
    private[operators] def sampleIdx(nFrames: Int, maxFrames: Int): Seq[Int] =
      (0 until maxFrames).map(k => k * nFrames / maxFrames).distinct
        .filter(_ < nFrames)

    /** REAL frame sampling for the video containers this JDK decodes
      * without external codecs. Returns `(container, nFrames, samples)`
      * where each sample is `(frameIdx, lumaMicro)` — the frame's mean
      * luminance as a fraction of full-scale in integer micro-units
      * (`Σluma·10⁶ div (pixels·255)`, truncating — engine-replayable):
      *
      *  - Y4M: header line gives W/H/colorspace (mono = Y only,
      *    444/422/420 plane sizes); each `FRAME` line is followed by the
      *    raw Y plane, whose byte sum is the luminance — a genuine
      *    structural parse of the container bytes;
      *  - MJPEG (concatenated JPEGs, SOI-delimited): the frame COUNT
      *    comes from scanning SOI markers; only the SAMPLED frames
      *    decode (via `javax.imageio`), with Rec.601 integer weights
      *    (299/587/114, scaled by 255000) — sampling must not pay a
      *    full-stream decode.
      *
      * Returns null for anything else (compressed video, garbage,
      * truncated streams) — callers fall back to [[stubFrameLumas]], the
      * same quarantine contract as [[decode]].
      */
    def videoFrames(payload: Array[Byte], maxFrames: Int): (String, Int, Seq[(Int, Long)]) =
      try {
        if (looksLikeY4m(payload)) y4mFrames(payload, maxFrames)
        else if (looksLikeJpegSoi(payload, 0)) mjpegFrames(payload, maxFrames)
        else null
      } catch { case scala.util.control.NonFatal(_) => null }

    private def y4mFrames(p: Array[Byte], maxFrames: Int): (String, Int, Seq[(Int, Long)]) = {
      var i = 0
      while (i < p.length && p(i) != '\n') i += 1
      if (i >= p.length) return null
      val header = new String(p, 0, i, java.nio.charset.StandardCharsets.ISO_8859_1)
      var w = 0
      var h = 0
      var cs = "420"
      header.split(" ").drop(1).foreach { t =>
        if (t.nonEmpty) t.charAt(0) match {
          case 'W' => w = t.tail.toInt
          case 'H' => h = t.tail.toInt
          case 'C' => cs = t.tail
          case _ => ()
        }
      }
      if (w <= 0 || h <= 0) return null
      val ySize = w * h
      val frameSize =
        if (cs.startsWith("mono")) ySize
        else if (cs.startsWith("444")) ySize * 3
        else if (cs.startsWith("422")) ySize * 2
        else ySize * 3 / 2 // 420 family (jpeg/mpeg2/paldv variants)
      val lumas = scala.collection.mutable.ArrayBuffer.empty[Long]
      var pos = i + 1
      var ok = true
      while (ok && pos < p.length) {
        val lineStart = pos
        while (pos < p.length && p(pos) != '\n') pos += 1
        val line = new String(p, lineStart,
          math.min(5, pos - lineStart), java.nio.charset.StandardCharsets.ISO_8859_1)
        if (pos >= p.length || !line.startsWith("FRAME") ||
          pos + 1 + frameSize > p.length) ok = false // truncated/garbage tail
        else {
          pos += 1
          var s = 0L
          var j = 0
          while (j < ySize) { s += p(pos + j) & 0xff; j += 1 }
          lumas += s * 1000000L / (ySize.toLong * 255L)
          pos += frameSize
        }
      }
      if (lumas.isEmpty) null
      else ("y4m", lumas.length,
        sampleIdx(lumas.length, maxFrames).map(f => (f, lumas(f))))
    }

    /** Walk one complete JPEG starting at SOI offset `soi`: segment
      * payloads (APPn/COM/DQT/DHT/SOF…) are skipped by their 2-byte
      * length fields and entropy-coded scan data byte-wise (stuffed
      * `FF00` and `RSTn` markers pass through), so a nested SOI inside
      * an EXIF/JFIF thumbnail is never mistaken for a frame boundary.
      * Returns the offset one past the EOI marker, or -1 for a
      * malformed/truncated stream.
      */
    private def jpegEnd(p: Array[Byte], soi: Int): Int = {
      var j = soi + 2
      var inScan = false
      while (j + 1 < p.length) {
        if ((p(j) & 0xff) != 0xff) {
          if (!inScan) return -1 // a segment must start with a marker
          j += 1
        } else (p(j + 1) & 0xff) match {
          case 0x00 | 0xff => j += 2 // stuffed data byte / fill bytes
          case 0xd9 => return j + 2 // EOI
          case m if m >= 0xd0 && m <= 0xd7 => j += 2 // RSTn (standalone)
          case 0x01 => j += 2 // TEM (standalone)
          case m =>
            if (j + 3 >= p.length) return -1
            val len = ((p(j + 2) & 0xff) << 8) | (p(j + 3) & 0xff)
            if (len < 2) return -1
            j += 2 + len
            inScan = m == 0xda // SOS: entropy-coded data follows
        }
      }
      -1
    }

    private def mjpegFrames(p: Array[Byte], maxFrames: Int): (String, Int, Seq[(Int, Long)]) = {
      // frame boundaries from a structural marker walk — counting must
      // not decode, and must not trip on thumbnails nested in APP1
      val sois = scala.collection.mutable.ArrayBuffer.empty[Int]
      val ends = scala.collection.mutable.ArrayBuffer.empty[Int]
      var i = 0
      while (i + 1 < p.length) {
        if (looksLikeJpegSoi(p, i)) {
          val e = jpegEnd(p, i)
          if (e < 0) return null // torn/garbage frame → whole payload stubs
          sois += i
          ends += e
          i = e
        } else i += 1 // tolerate inter-frame padding, never intra-frame
      }
      if (sois.isEmpty) return null
      val n = sois.length
      val samples = sampleIdx(n, maxFrames).map { f =>
        val from = sois(f)
        val until = ends(f)
        val img = readImage(java.util.Arrays.copyOfRange(p, from, until))
        if (img == null) return null // one poison frame → whole payload stubs
        var s = 0L
        var y = 0
        while (y < img.getHeight) {
          var x = 0
          while (x < img.getWidth) {
            val rgb = img.getRGB(x, y)
            s += 299L * ((rgb >> 16) & 0xff) + 587L * ((rgb >> 8) & 0xff) +
              114L * (rgb & 0xff)
            x += 1
          }
          y += 1
        }
        val px = img.getWidth.toLong * img.getHeight
        (f, s * 1000000L / (px * 255000L))
      }
      ("mjpeg", n, samples)
    }

    /** STUB pseudo-frame lumas for payloads [[videoFrames]] cannot decode:
      * frame `f` is `md5_60bit(payload ++ ":f" ++ f) % 1000001` — the
      * portable md5 scheme (DuckDB:
      * `('0x'||substr(md5(s || ':f' || f),1,15))::BIGINT % 1000001`), one
      * digest-state clone per frame like [[stubFeatures]].
      */
    def stubFrameLumas(payload: Array[Byte], maxFrames: Int): Seq[Long] = {
      val base = java.security.MessageDigest.getInstance("MD5")
      if (payload != null) base.update(payload)
      (0 until maxFrames).map { f =>
        val md = base.clone().asInstanceOf[java.security.MessageDigest]
        md.update((":f" + f).getBytes(java.nio.charset.StandardCharsets.UTF_8))
        graft.functions.PortableMd5.fromDigest(md.digest()) % 1000001L
      }
    }

    /** Shared aHash bit rule over unequal cells, all-integer: bit `c` is
      * set iff the cell's luminance EXCEEDS its pro-rata share of the
      * frame total — `cellSum·nPix > total·cellCnt`, cross-multiplied so
      * no division (and no float mean) can flip a borderline bit between
      * engines. With equal cells this reduces to the textbook
      * `cellSum·cells > total` average-hash compare.
      */
    private def aHashBits(cellSum: Array[Long], cellCnt: Array[Long],
        nPix: Long): Long = {
      var total = 0L
      var c = 0
      while (c < cellSum.length) { total += cellSum(c); c += 1 }
      var h = 0L
      c = 0
      while (c < cellSum.length) {
        if (cellSum(c) * nPix > total * cellCnt(c)) h |= 1L << c
        c += 1
      }
      h
    }

    /** REAL per-frame aHash sequence for the containers this JDK decodes
      * — the temporal fingerprint [[videoFrames]]' single mean-luma
      * samples cannot provide. EVERY frame (no sampling: a fingerprint
      * is a sequence) yields one `cells`-bit spatial average-hash over
      * contiguous luma bands (cell of pixel `p` = `p·cells div nPix` —
      * row bands in row-major order), bits by the exact integer
      * [[aHashBits]] rule:
      *
      *  - Y4M: cell sums are raw Y-plane byte sums — structural parse,
      *    zero decode cost beyond reading the plane;
      *  - MJPEG: every frame decodes via `javax.imageio`, per-pixel luma
      *    in Rec.601 integer weights (299/587/114 — the scale cancels in
      *    the cross-multiplied compare).
      *
      * Returns `(container, nFrames, hashes)` or null for anything else
      * (compressed video, garbage) — callers fall back to
      * [[stubVideoHashes]], the [[decode]] quarantine contract.
      */
    def videoFrameHashes(payload: Array[Byte], cells: Int = 16): (String, Int, Seq[Long]) =
      try {
        if (looksLikeY4m(payload)) y4mFrameHashes(payload, cells)
        else if (looksLikeJpegSoi(payload, 0)) mjpegFrameHashes(payload, cells)
        else null
      } catch { case scala.util.control.NonFatal(_) => null }

    private def y4mFrameHashes(p: Array[Byte], cells: Int): (String, Int, Seq[Long]) = {
      var i = 0
      while (i < p.length && p(i) != '\n') i += 1
      if (i >= p.length) return null
      val header = new String(p, 0, i, java.nio.charset.StandardCharsets.ISO_8859_1)
      var w = 0
      var h = 0
      var cs = "420"
      header.split(" ").drop(1).foreach { t =>
        if (t.nonEmpty) t.charAt(0) match {
          case 'W' => w = t.tail.toInt
          case 'H' => h = t.tail.toInt
          case 'C' => cs = t.tail
          case _ => ()
        }
      }
      if (w <= 0 || h <= 0) return null
      val ySize = w * h
      if (ySize < cells) return null // degenerate: fewer pixels than cells
      val frameSize =
        if (cs.startsWith("mono")) ySize
        else if (cs.startsWith("444")) ySize * 3
        else if (cs.startsWith("422")) ySize * 2
        else ySize * 3 / 2 // 420 family
      val cellSum = new Array[Long](cells)
      val cellCnt = new Array[Long](cells)
      var j = 0
      while (j < ySize) { cellCnt(j * cells / ySize) += 1; j += 1 }
      val hashes = scala.collection.mutable.ArrayBuffer.empty[Long]
      var pos = i + 1
      var ok = true
      while (ok && pos < p.length) {
        val lineStart = pos
        while (pos < p.length && p(pos) != '\n') pos += 1
        val line = new String(p, lineStart,
          math.min(5, pos - lineStart), java.nio.charset.StandardCharsets.ISO_8859_1)
        if (pos >= p.length || !line.startsWith("FRAME") ||
          pos + 1 + frameSize > p.length) ok = false // truncated/garbage tail
        else {
          pos += 1
          java.util.Arrays.fill(cellSum, 0L)
          j = 0
          while (j < ySize) {
            cellSum(j * cells / ySize) += p(pos + j) & 0xff
            j += 1
          }
          hashes += aHashBits(cellSum, cellCnt, ySize.toLong)
          pos += frameSize
        }
      }
      if (hashes.isEmpty) null else ("y4m", hashes.length, hashes.toSeq)
    }

    private def mjpegFrameHashes(p: Array[Byte], cells: Int): (String, Int, Seq[Long]) = {
      val sois = scala.collection.mutable.ArrayBuffer.empty[Int]
      val ends = scala.collection.mutable.ArrayBuffer.empty[Int]
      var i = 0
      while (i + 1 < p.length) {
        if (looksLikeJpegSoi(p, i)) {
          val e = jpegEnd(p, i)
          if (e < 0) return null
          sois += i
          ends += e
          i = e
        } else i += 1
      }
      if (sois.isEmpty) return null
      val hashes = new Array[Long](sois.length)
      var f = 0
      while (f < sois.length) {
        val img = readImage(java.util.Arrays.copyOfRange(p, sois(f), ends(f)))
        if (img == null) return null // one poison frame → whole payload stubs
        val nPix = img.getWidth.toLong * img.getHeight
        if (nPix < cells) return null
        val cellSum = new Array[Long](cells)
        val cellCnt = new Array[Long](cells)
        var y = 0
        while (y < img.getHeight) {
          var x = 0
          while (x < img.getWidth) {
            val rgb = img.getRGB(x, y)
            val luma = 299L * ((rgb >> 16) & 0xff) + 587L * ((rgb >> 8) & 0xff) +
              114L * (rgb & 0xff)
            val c = ((y.toLong * img.getWidth + x) * cells / nPix).toInt
            cellSum(c) += luma
            cellCnt(c) += 1
            x += 1
          }
          y += 1
        }
        hashes(f) = aHashBits(cellSum, cellCnt, nPix)
        f += 1
      }
      ("mjpeg", sois.length, hashes.toSeq)
    }

    /** STUB pseudo-frame hashes for payloads [[videoFrameHashes]] cannot
      * decode: frame `f` is `md5_60bit(payload ++ ":vh" ++ f) % 65536`
      * (DuckDB: `('0x'||substr(md5(s || ':vh' || f),1,15))::BIGINT %
      * 65536`) — the hash space of a 16-cell aHash, one digest-state
      * clone per frame like [[stubFrameLumas]].
      */
    def stubVideoHashes(payload: Array[Byte], nFrames: Int): Seq[Long] = {
      val base = java.security.MessageDigest.getInstance("MD5")
      if (payload != null) base.update(payload)
      (0 until nFrames).map { f =>
        val md = base.clone().asInstanceOf[java.security.MessageDigest]
        md.update((":vh" + f).getBytes(java.nio.charset.StandardCharsets.UTF_8))
        graft.functions.PortableMd5.fromDigest(md.digest()) % 65536L
      }
    }

    /** Header-level duration probe for COMPRESSED formats this environment
      * cannot decode — routing metadata without a codec: an mp3/mp4
      * payload headed for a codec-equipped cluster can still be
      * cost-estimated (seconds of audio/video) from pure byte parsing.
      * Returns None when headers are absent/garbage; never throws.
      *
      * mp3: skip a leading ID3v2 tag (syncsafe 28-bit size at bytes 6-9),
      * find the first MPEG audio frame sync within the next 2 KB, read
      * version + layer-III bitrate/samplerate indexes from the frame
      * header, and estimate duration as audio_bytes · 8 / bitrate — exact
      * for CBR (the common case), an approximation for VBR (a full VBR
      * scan would read every frame header; header-only is the right
      * screening trade).
      */
    def mp3DurationMs(p: Array[Byte]): Option[Long] = {
      if (p == null || p.length < 4) return None
      var off = 0
      if (p.length >= 10 && p(0) == 'I' && p(1) == 'D' && p(2) == '3') {
        // syncsafe: 4 bytes, 7 bits each, high bit must be clear
        if (((p(6) | p(7) | p(8) | p(9)) & 0x80) != 0) return None
        off = 10 + ((p(6) & 0x7f) << 21 | (p(7) & 0x7f) << 14 |
          (p(8) & 0x7f) << 7 | (p(9) & 0x7f))
        if (off < 0 || off >= p.length - 4) return None
      }
      // bounded scan for the frame sync (11 set bits): tags are sometimes
      // padded; 2 KB covers any sane padding without scanning a whole
      // garbage payload
      val limit = math.min(p.length - 4, off + 2048)
      var s = off
      while (s < limit &&
        !((p(s) & 0xff) == 0xff && (p(s + 1) & 0xe0) == 0xe0)) s += 1
      if (s >= limit) return None
      val b1 = p(s + 1) & 0xff
      val b2 = p(s + 2) & 0xff
      val versionBits = (b1 >> 3) & 0x3 // 0=MPEG2.5, 2=MPEG2, 3=MPEG1
      val layerBits = (b1 >> 1) & 0x3   // 1=Layer III
      if (versionBits == 1 || layerBits != 1) return None // reserved / not L3
      val bitrateIdx = (b2 >> 4) & 0xf
      val srIdx = (b2 >> 2) & 0x3
      if (bitrateIdx == 0 || bitrateIdx == 15 || srIdx == 3) return None
      val kbps =
        if (versionBits == 3)
          Array(0, 32, 40, 48, 56, 64, 80, 96, 112, 128,
            160, 192, 224, 256, 320)(bitrateIdx)
        else // MPEG2 / 2.5 Layer III share one table
          Array(0, 8, 16, 24, 32, 40, 48, 56, 64, 80,
            96, 112, 128, 144, 160)(bitrateIdx)
      val audioBytes = (p.length - s).toLong
      Some(audioBytes * 8L / kbps) // bytes·8 / (kbps·1000) · 1000 ms
    }

    /** mp4/mov duration from the `moov`→`mvhd` box — a flat walk of the
      * ISO BMFF box structure (32-bit big-endian size + fourcc, 64-bit
      * largesize when size == 1): duration/timescale out of the movie
      * header, version 0 (32-bit fields) and version 1 (64-bit) both
      * handled. No sample tables are touched — this is header metadata,
      * not decoding.
      */
    def mp4DurationMs(p: Array[Byte]): Option[Long] = {
      if (p == null || p.length < 16) return None
      def be32(o: Int): Long =
        ((p(o) & 0xffL) << 24) | ((p(o + 1) & 0xffL) << 16) |
          ((p(o + 2) & 0xffL) << 8) | (p(o + 3) & 0xffL)
      def be64(o: Int): Long = (be32(o) << 32) | be32(o + 4)
      def fourcc(o: Int, s: String): Boolean =
        p(o) == s(0).toByte && p(o + 1) == s(1).toByte &&
          p(o + 2) == s(2).toByte && p(o + 3) == s(3).toByte
      // walk boxes in [from, until) looking for `name`; returns the box's
      // (payloadStart, payloadEnd)
      def findBox(name: String, from: Long, until: Long): Option[(Long, Long)] = {
        var o = from
        while (o + 8 <= until) {
          val size0 = be32(o.toInt)
          val (size, hdr) =
            if (size0 == 1L && o + 16 <= until) (be64(o.toInt + 8), 16L)
            else (size0, 8L)
          if (size < hdr || o + size > until) return None // corrupt size
          if (fourcc(o.toInt + 4, name)) return Some((o + hdr, o + size))
          o += size
        }
        None
      }
      try {
        val end = p.length.toLong
        findBox("moov", 0L, end).flatMap { case (ms, me) =>
          findBox("mvhd", ms, me).flatMap { case (hs, he) =>
            val v = p(hs.toInt) & 0xff
            val (timescale, duration) =
              if (v == 1 && he - hs >= 28)
                (be32(hs.toInt + 20), be64(hs.toInt + 24))
              else if (v == 0 && he - hs >= 20)
                (be32(hs.toInt + 12), be32(hs.toInt + 16))
              else (0L, 0L)
            if (timescale <= 0L) None
            else Some(duration * 1000L / timescale)
          }
        }
      } catch { case _: IndexOutOfBoundsException => None }
    }

    /** Re-encode at new dimensions. Decodable images resample for real
      * (Graphics2D bilinear draw, re-encoded as PNG); anything else keeps
      * the deterministic stub truncation so the plan shape stays testable
      * for audio/video.
      */
    def resize(payload: Array[Byte], width: Int, height: Int, kind: String = ""): Array[Byte] = {
      if (kind == "image") {
        val img = readImage(payload)
        if (img != null) {
          val dst = new java.awt.image.BufferedImage(
            width, height, java.awt.image.BufferedImage.TYPE_INT_RGB)
          val g = dst.createGraphics()
          g.setRenderingHint(
            java.awt.RenderingHints.KEY_INTERPOLATION,
            java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
          g.drawImage(img, 0, 0, width, height, null)
          g.dispose()
          val bos = new java.io.ByteArrayOutputStream()
          javax.imageio.ImageIO.write(dst, "png", bos)
          return bos.toByteArray
        }
      }
      if (payload == null) null
      else java.util.Arrays.copyOf(payload, math.max(1, (width * height) / 64))
    }
  }

  /** Wrap raw media rows into the canonical schema (payload + metadata). */
  def fromBinary(df: DataFrame, idCol: String, payloadCol: String, kind: String): DataFrame =
    df.select(
      col(idCol).cast("long").as("media_id"),
      lit(kind).as("kind"),
      lit(null).cast("string").as("format"),
      lit(null).cast("int").as("width"),
      lit(null).cast("int").as("height"),
      lit(null).cast("long").as("duration_ms"),
      col(payloadCol).cast("binary").as("payload"))

  /** Sniff-and-classify stage: adds `format_detected` (magic-byte format,
    * null when unrecognized), `kind_detected` (image/audio/video/unknown —
    * from the BYTES, independent of the declared `kind` column),
    * `decodable` (whether [[MediaCodec.decode]] can decode it HERE, i.e.
    * with the JDK-only codecs) and `duration_ms_detected` (header-parsed
    * playback duration for the compressed formats whose decode is
    * env-blocked — mp3 frame headers, mp4 `mvhd`; null elsewhere). Row-
    * local, payload retained — this is the routing stage a pipeline runs
    * before [[extractFeatures]] to split decode-now rows from
    * quarantine-for-codec-cluster rows (`kind_detected != 'unknown' AND
    * NOT decodable`, now with a cost estimate) and plain garbage.
    */
  def classifyMedia(media: DataFrame): DataFrame = {
    val outSchema = StructType(media.schema.fields ++ Seq(
      StructField("format_detected", StringType, nullable = true),
      StructField("kind_detected", StringType, nullable = false),
      StructField("decodable", BooleanType, nullable = false),
      StructField("duration_ms_detected", LongType, nullable = true)))
    val payloadIdx = media.schema.fieldIndex("payload")
    implicit val enc = Encoders.row(outSchema)
    media.mapPartitions { rows =>
      rows.map { r =>
        val payload = r.getAs[Array[Byte]](payloadIdx)
        val (fmt, kind, dec) = MediaCodec.sniff(payload)
        val dur = (fmt match {
          case "mp3" => MediaCodec.mp3DurationMs(payload)
          case "mp4" => MediaCodec.mp4DurationMs(payload)
          case _ => None
        }).map(Long.box).orNull
        Row.fromSeq(r.toSeq :+ fmt :+ kind :+ dec :+ dur)
      }
    }
  }

  /** Decode + feature-extract stage: mapPartitions over the payloads so
    * codec init amortizes per partition; output keeps metadata and adds
    * `features array<float>` (payload dropped — decoded data should not
    * ride forward).
    */
  def extractFeatures(media: DataFrame): DataFrame = {
    val outSchema = StructType(
      media.schema.fields.filterNot(_.name == "payload") :+
        StructField("features", ArrayType(FloatType, containsNull = false)))
    val payloadIdx = media.schema.fieldIndex("payload")
    val kindIdx = media.schema.fieldIndex("kind")
    val keepIdx = media.schema.fields.indices.filterNot(_ == payloadIdx)
    implicit val enc = Encoders.row(outSchema)
    media.mapPartitions { rows =>
      // per-partition codec init would happen here (once, not per row)
      rows.map { r =>
        val payload = r.getAs[Array[Byte]](payloadIdx)
        val features = MediaCodec.decode(payload, r.getString(kindIdx))
        Row.fromSeq(keepIdx.map(r.get) :+ features.toSeq)
      }
    }
  }

  /** Decoded frame-sample stage (the decode-level complement of
    * [[sampleFrames]], which schedules frame TIMES from metadata without
    * touching bytes): one output row per SAMPLED frame (up to
    * `maxFrames`, evenly spaced) per media row. Uncompressed/intra-only
    * containers decode for REAL through [[MediaCodec.videoFrames]] — Y4M
    * luma planes read structurally, MJPEG frames through `javax.imageio`,
    * and only the sampled frames pay a decode; everything else (mp4/webm
    * and garbage — no codec here) emits `maxFrames` deterministic stub
    * pseudo-frames ([[MediaCodec.stubFrameLumas]], portable-md5
    * replayable), keeping the whole stage hash-checkable while the real
    * rows carry genuinely decoded luminance.
    *
    * Output: `(media_id, container, n_frames, frame_idx, luma_micro)` —
    * `n_frames` is the true container frame count (null on the stub
    * path), `luma_micro` the frame's mean luminance as a full-scale
    * fraction in integer micro-units.
    *
    * Scale shape: row-local flatMap at the same `mapPartitions` codec
    * boundary as [[extractFeatures]] (per-partition codec init, payloads
    * never shuffle); output is 16 bytes × ≤maxFrames per payload.
    */
  def decodeFrames(media: DataFrame, maxFrames: Int = 4): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("container", StringType, nullable = false),
      StructField("n_frames", LongType, nullable = true),
      StructField("frame_idx", IntegerType, nullable = false),
      StructField("luma_micro", LongType, nullable = false)))
    val payloadIdx = media.schema.fieldIndex("payload")
    val idIdx = media.schema.fieldIndex("media_id")
    implicit val enc = Encoders.row(outSchema)
    media.mapPartitions { rows =>
      rows.flatMap { r =>
        val id = r.getLong(idIdx)
        val payload = r.getAs[Array[Byte]](payloadIdx)
        val v = MediaCodec.videoFrames(payload, maxFrames)
        if (v != null) {
          val (container, nFrames, samples) = v
          samples.map { case (f, lm) =>
            Row(id, container, nFrames.toLong, f, lm)
          }
        } else MediaCodec.stubFrameLumas(payload, maxFrames).zipWithIndex.map {
          case (lm, f) => Row(id, "stub", null, f, lm)
        }
      }
    }
  }

  /** Time-localized audio fingerprint stage: one output row per
    * fingerprint WINDOW per media row ([[MediaCodec.audioFingerprint]] —
    * windowed Walsh–Hadamard energy-band hashes, chromaprint shape).
    * Real PCM decodes emit `win_idx = 1 … nWindows−1` (window 0 seeds
    * the temporal-difference bits); payloads the JDK cannot decode emit
    * `stubWindows` deterministic md5 pseudo-windows (`win_idx` from 0),
    * keeping the stage hash-checkable end to end — the same quarantine
    * contract as [[extractFeatures]].
    *
    * Output: `(media_id, is_real, n_windows, win_idx, fhash)`.
    *
    * Scale shape: row-local flatMap at the `mapPartitions` codec
    * boundary (per-partition codec init, payloads never shuffle); output
    * is ~24 bytes × windows per payload — the index a 100 TB audio
    * archive stores instead of re-decoding.
    */
  def audioFingerprints(media: DataFrame, windowFrames: Int = 64,
      bands: Int = 16, stubWindows: Int = 4): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("is_real", BooleanType, nullable = false),
      StructField("n_windows", LongType, nullable = false),
      StructField("win_idx", IntegerType, nullable = false),
      StructField("fhash", LongType, nullable = false)))
    val payloadIdx = media.schema.fieldIndex("payload")
    val idIdx = media.schema.fieldIndex("media_id")
    implicit val enc = Encoders.row(outSchema)
    media.mapPartitions { rows =>
      rows.flatMap { r =>
        val id = r.getLong(idIdx)
        val payload = r.getAs[Array[Byte]](payloadIdx)
        val fp = MediaCodec.audioFingerprint(payload, windowFrames, bands)
        if (fp != null) fp.zipWithIndex.map { case (h, i) =>
          Row(id, true, fp.length.toLong, i + 1, h)
        } else MediaCodec.stubAudioFingerprint(payload, stubWindows)
          .zipWithIndex.map { case (h, w) =>
            Row(id, false, stubWindows.toLong, w, h)
          }
      }
    }
  }

  /** Segment-boundary detection over the [[audioFingerprints]] window
    * hashes — the audio twin of [[videoSceneCuts]]: a boundary is a
    * window-to-window jump of ≥ `minJump` bits in the difference-coded
    * band-energy hash (consecutive windows of one acoustic segment share
    * most bits; a speaker change, music-to-speech transition or silence
    * edge flips many at once). Per media row: `(media_id, n_windows,
    * n_bounds, max_jump, first_bound)` with `first_bound` null for
    * single-segment audio — the cheap segmentation summary a pipeline
    * keys on before paying for transcription.
    *
    * Scale shape: [[videoSceneCuts]]' zero-shuffle reduction inside the
    * decode pass (one output row per clip, no window state), and the
    * same stateless streaming-projection property at ingest.
    */
  def audioSegmentBounds(media: DataFrame, minJump: Int = 8,
      windowFrames: Int = 64, bands: Int = 16,
      stubWindows: Int = 4): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("n_windows", LongType, nullable = false),
      StructField("n_bounds", LongType, nullable = false),
      StructField("max_jump", LongType, nullable = false),
      StructField("first_bound", IntegerType, nullable = true)))
    val payloadIdx = media.schema.fieldIndex("payload")
    val idIdx = media.schema.fieldIndex("media_id")
    implicit val enc = Encoders.row(outSchema)
    media.mapPartitions { rows =>
      rows.flatMap { r =>
        val id = r.getLong(idIdx)
        val payload = r.getAs[Array[Byte]](payloadIdx)
        val fp = MediaCodec.audioFingerprint(payload, windowFrames, bands)
        if (fp != null) boundaryRow(id, fp.length.toLong, fp, minJump, idx0 = 1)
        else boundaryRow(id, stubWindows.toLong,
          MediaCodec.stubAudioFingerprint(payload, stubWindows), minJump,
          idx0 = 0)
      }
    }
  }

  /** Audio-quality screen over the REAL PCM decode
    * ([[MediaCodec.audioQualityStats]]): per media row the sample count,
    * peak amplitude, clipped-sample count, full-window count, and
    * silent-window count — all exact integers under declared thresholds,
    * the cheap gate a pipeline runs before fingerprinting or
    * transcribing dead air and clipped captures (the audio analog of
    * [[imageQuality]]'s flat-frame screen). Undecodable payloads emit
    * deterministic md5 pseudo-stats (`md5_60(payload ++ ":aq" ++ d) %
    * 1000003`, the [[MediaCodec.stubFeatures]] scheme), so the stage
    * stays hash-checkable end to end. Row-local at the mapPartitions
    * codec boundary — no shuffle, no state.
    */
  def audioQuality(media: DataFrame): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("is_real", BooleanType, nullable = false),
      StructField("n_samples", LongType, nullable = false),
      StructField("peak_abs", LongType, nullable = false),
      StructField("n_clipped", LongType, nullable = false),
      StructField("n_windows", LongType, nullable = false),
      StructField("n_silent_windows", LongType, nullable = false)))
    val payloadIdx = media.schema.fieldIndex("payload")
    val idIdx = media.schema.fieldIndex("media_id")
    implicit val enc = Encoders.row(outSchema)
    media.mapPartitions { rows =>
      rows.map { r =>
        val id = r.getLong(idIdx)
        val payload = r.getAs[Array[Byte]](payloadIdx)
        val st = MediaCodec.audioQualityStats(payload)
        if (st != null) Row(id, true, st(0), st(1), st(2), st(3), st(4))
        else {
          val base = java.security.MessageDigest.getInstance("MD5")
          if (payload != null) base.update(payload)
          val v = (0 until 5).map { d =>
            val md = base.clone().asInstanceOf[java.security.MessageDigest]
            md.update((":aq" + d).getBytes(java.nio.charset.StandardCharsets.UTF_8))
            graft.functions.PortableMd5.fromDigest(md.digest()) % 1000003L
          }
          Row(id, false, v(0), v(1), v(2), v(3), v(4))
        }
      }
    }
  }

  /** Banded audio-duplicate matching over [[audioFingerprints]] — the
    * dedup step [[phashDupCounts]] cannot do for audio: because the
    * fingerprint is a SEQUENCE of per-window hashes, a duplicate that was
    * trimmed, padded, or offset by whole windows still pairs — its
    * windows match the original's at one consistent window DELTA, which
    * a single whole-clip hash can never recover. Two media rows pair
    * when ≥ `minMatch` of their windows share a hash at the same delta:
    * `(media_a, media_b, offset_w, n_match)` with `media_a < media_b`.
    *
    * Scale shape: the fingerprint frame (no payloads) persists behind a
    * count barrier so decode runs once; matching is a self-join BLOCKED
    * on the window hash — the LSH-band shape of
    * [[graft.operators.Dedup.minhashPairs]], never all-pairs. Degenerate
    * hashes (digital silence, flat tones — the audio stop-words) would
    * square their buckets, so buckets over `maxBucket` are dropped
    * before the join (declared recall trade, same as the text
    * stop-shingle cap); surviving buckets bound the join at
    * `maxBucket²/2` pairs each, and the (a, b, delta) count is one
    * map-side-combinable aggregate.
    */
  def audioDupPairs(media: DataFrame, minMatch: Int = 3,
      windowFrames: Int = 64, bands: Int = 16, stubWindows: Int = 4,
      maxBucket: Int = 1024): DataFrame = {
    // barrier: one decode pass; only the tiny hash frame pins
    val (fp, _) = Pins.materialize("multimodal.audio_dup_pairs",
      audioFingerprints(media, windowFrames, bands, stubWindows)
        .select("media_id", "win_idx", "fhash"))
    val ok = fp.groupBy("fhash").agg(count(lit(1)).as("nb"))
      .where(col("nb") <= maxBucket).select("fhash")
    val f = fp.join(ok, Seq("fhash")) // AQE broadcasts when small
    val a = f.select(col("fhash"), col("media_id").as("media_a"),
      col("win_idx").as("wa"))
    val b = f.select(col("fhash"), col("media_id").as("media_b"),
      col("win_idx").as("wb"))
    a.join(b, Seq("fhash"))
      .where(col("media_a") < col("media_b"))
      .groupBy(col("media_a"), col("media_b"),
        (col("wb") - col("wa")).as("offset_w"))
      .agg(count(lit(1)).as("n_match"))
      .where(col("n_match") >= minMatch)
  }

  /** Time-localized VIDEO fingerprint stage — the temporal complement of
    * [[perceptualHash]]'s one whole-media hash: one output row per FRAME
    * per media row ([[MediaCodec.videoFrameHashes]] — a `cells`-bit
    * spatial average-hash per frame over the real y4m/MJPEG decode,
    * integer cross-multiplied bits). A trimmed or re-cut duplicate — the
    * common crawl case a single whole-clip hash can never match — keeps
    * its per-frame hashes intact, so it pairs with the original at one
    * consistent frame DELTA ([[videoDupPairs]]). Payloads without a
    * decodable container emit `stubFrames` deterministic md5
    * pseudo-hashes ([[MediaCodec.stubVideoHashes]]), keeping the stage
    * hash-checkable end to end — the [[extractFeatures]] quarantine
    * contract.
    *
    * Output: `(media_id, is_real, n_frames, frame_idx, fhash)`.
    *
    * Scale shape: row-local flatMap at the `mapPartitions` codec boundary
    * (per-partition codec init, payloads never shuffle); output is
    * ~24 bytes × frames per payload — the index a 100 TB video archive
    * stores instead of re-decoding.
    */
  def videoFingerprints(media: DataFrame, cells: Int = 16,
      stubFrames: Int = 4): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("is_real", BooleanType, nullable = false),
      StructField("n_frames", LongType, nullable = false),
      StructField("frame_idx", IntegerType, nullable = false),
      StructField("fhash", LongType, nullable = false)))
    val payloadIdx = media.schema.fieldIndex("payload")
    val idIdx = media.schema.fieldIndex("media_id")
    implicit val enc = Encoders.row(outSchema)
    media.mapPartitions { rows =>
      rows.flatMap { r =>
        val id = r.getLong(idIdx)
        val payload = r.getAs[Array[Byte]](payloadIdx)
        val v = MediaCodec.videoFrameHashes(payload, cells)
        if (v != null) {
          val (_, nFrames, hashes) = v
          hashes.zipWithIndex.map { case (h, f) =>
            Row(id, true, nFrames.toLong, f, h)
          }
        } else MediaCodec.stubVideoHashes(payload, stubFrames).zipWithIndex.map {
          case (h, f) => Row(id, false, stubFrames.toLong, f, h)
        }
      }
    }
  }

  /** Banded video-duplicate matching over [[videoFingerprints]] — the
    * [[audioDupPairs]] shape on the frame decode: two media rows pair
    * when ≥ `minMatch` of their frames share an aHash at the same frame
    * delta, `(media_a, media_b, offset_f, n_match)` with
    * `media_a < media_b` — which is exactly how a trimmed/re-cut clip
    * matches its original while the whole-media [[phashDupCounts]] hash
    * misses it.
    *
    * Scale shape: the fingerprint frame (no payloads) persists behind a
    * count barrier so decode runs once; matching is a self-join BLOCKED
    * on the frame hash. Degenerate hashes (black frames, test cards —
    * the video stop-words) would square their buckets, so buckets over
    * `maxBucket` are dropped before the join (declared recall trade,
    * same as the text stop-shingle cap); surviving buckets bound the
    * join at `maxBucket²/2` pairs each, and the (a, b, delta) count is
    * one map-side-combinable aggregate.
    */
  def videoDupPairs(media: DataFrame, minMatch: Int = 3, cells: Int = 16,
      stubFrames: Int = 4, maxBucket: Int = 1024): DataFrame = {
    // barrier: one decode pass; only the tiny hash frame pins
    val (fp, _) = Pins.materialize("multimodal.video_dup_pairs",
      videoFingerprints(media, cells, stubFrames)
        .select("media_id", "frame_idx", "fhash"))
    val ok = fp.groupBy("fhash").agg(count(lit(1)).as("nb"))
      .where(col("nb") <= maxBucket).select("fhash")
    val f = fp.join(ok, Seq("fhash")) // AQE broadcasts when small
    val a = f.select(col("fhash"), col("media_id").as("media_a"),
      col("frame_idx").as("fa"))
    val b = f.select(col("fhash"), col("media_id").as("media_b"),
      col("frame_idx").as("fb"))
    a.join(b, Seq("fhash"))
      .where(col("media_a") < col("media_b"))
      .groupBy(col("media_a"), col("media_b"),
        (col("fb") - col("fa")).as("offset_f"))
      .agg(count(lit(1)).as("n_match"))
      .where(col("n_match") >= minMatch)
  }

  /** Scene-cut detection over the [[videoFingerprints]] frame hashes: a
    * cut is a frame-to-frame jump of ≥ `minJump` aHash bits (consecutive
    * frames of one shot share most luminance-grid bits; a shot change
    * flips many at once). Per video: `(media_id, n_frames, n_cuts,
    * max_jump, first_cut)` with `first_cut` null for single-shot clips —
    * the shot-boundary summary a video curation pipeline keys on (static
    * slideshows vs. rapid cuts), and the frame-level analysis
    * [[videoDupPairs]]' matcher deliberately ignores.
    *
    * Scale shape: a clip's frames all come out of ONE row's decode, so
    * the whole reduction runs inside the `mapPartitions` codec boundary —
    * zero shuffles, zero window state, one output row per clip. That
    * also makes it a stateless streaming projection: the SAME function
    * gates at ingest (parity pinned in MediaStreamsSpec).
    */
  def videoSceneCuts(media: DataFrame, minJump: Int = 4, cells: Int = 16,
      stubFrames: Int = 4): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("n_frames", LongType, nullable = false),
      StructField("n_cuts", LongType, nullable = false),
      StructField("max_jump", LongType, nullable = false),
      StructField("first_cut", IntegerType, nullable = true)))
    val payloadIdx = media.schema.fieldIndex("payload")
    val idIdx = media.schema.fieldIndex("media_id")
    implicit val enc = Encoders.row(outSchema)
    media.mapPartitions { rows =>
      rows.flatMap { r =>
        val id = r.getLong(idIdx)
        val payload = r.getAs[Array[Byte]](payloadIdx)
        val v = MediaCodec.videoFrameHashes(payload, cells)
        val (nFrames, hashes) =
          if (v != null) (v._2.toLong, v._3)
          else (stubFrames.toLong,
            MediaCodec.stubVideoHashes(payload, stubFrames))
        boundaryRow(id, nFrames, hashes, minJump, idx0 = 0)
      }
    }
  }

  /** The shared boundary reduction under [[videoSceneCuts]] /
    * [[audioSegmentBounds]]: popcount jumps between consecutive hashes,
    * emitting `(id, n, n_over, max_jump, first_over)` — row indices run
    * `idx0, idx0+1, …` (video frames and stub audio windows are 0-based,
    * real audio windows 1-based, matching the fingerprint ops exactly).
    * Hash-less clips (short real audio) emit nothing.
    */
  private def boundaryRow(id: Long, n: Long, hashes: Seq[Long],
      minJump: Int, idx0: Int): Iterator[Row] = {
    if (hashes.isEmpty) return Iterator.empty
    var nCuts = 0L
    var maxJ = 0L
    var first = -1
    var i = 1
    while (i < hashes.length) {
      val j = java.lang.Long.bitCount(hashes(i - 1) ^ hashes(i)).toLong
      if (j > maxJ) maxJ = j
      if (j >= minJump) { nCuts += 1; if (first < 0) first = idx0 + i }
      i += 1
    }
    Iterator.single(Row(id, n, nCuts, maxJ,
      if (first < 0) null else Int.box(first)))
  }

  /** Perceptual (average) hash per media row: one bit per feature cell,
    * set when the cell exceeds the row mean — over real image decodes the
    * features are the 4×4 luminance grid ([[MediaCodec.imageFeatures]]),
    * making this the standard aHash; over the stub path the bits derive
    * from the replayable md5 residues, so the whole hash is
    * engine-portable. The compare runs in INTEGER space (features scale
    * back to their exact `% 1000003` residues — the modulus is < 2²⁴, so
    * float32 carries them losslessly; real-decode luminances quantize
    * through the same map) as `r·dims > Σr`, strict — no float-mean
    * rounding can flip a borderline bit between engines.
    *
    * Scale shape: row-local on top of [[extractFeatures]]' mapPartitions
    * boundary — no shuffle, no driver state. The hash is the
    * blocking key for media dedup: equal hashes = perceptually
    * identical at grid resolution; near-dup (hamming ≤ t) pairing is
    * [[phashNearPairs]] — the text-simhash band-join
    * ([[graft.operators.Dedup.simhashPairs]]) on this fingerprint.
    */
  def perceptualHash(media: DataFrame): DataFrame =
    packPhash(extractFeatures(dropNullPayloads(media))
      .select(col("media_id"), col("features")))

  /** Null payloads are DROPPED before hashing, not hashed: the stub
    * feature path maps a null payload to the all-zero vector, so every
    * null row would pack to phash 0 and land in ONE degenerate bucket —
    * manufacturing exact-dup counts and hamming-0 "near pairs" between
    * completely unrelated rows (only `maxBucket` would bound the
    * blowup). A row with no bytes has no perceptual identity; it cannot
    * be a duplicate of anything.
    */
  private def dropNullPayloads(media: DataFrame): DataFrame =
    media.where(col("payload").isNotNull)

  /** grid²-bit perceptual hash — [[perceptualHash]] over a FINER
    * `grid`×`grid` luminance grid: real image decodes through
    * [[MediaCodec.imageFeatures]] at the requested resolution, anything
    * else the md5 stub at grid² dims (this is an image-family op, so
    * unlike [[extractFeatures]] there is no audio-decode leg). The
    * 16-bit default hash has only 2¹⁶ values — its band buckets grow
    * linearly with the corpus and [[phashNearPairsWide]]'s join work
    * ~quadratically; at 64 bits (grid = 8) the band space is 2¹⁶ PER
    * 16-bit band, so bucket sizes stay ~n/2¹⁶ and the banded join is
    * genuinely sub-quadratic at archive scale. Same integer bit rule
    * (`r·dims > Σr`, strict), same dynamic packing — bit 63 wraps to
    * Long.MinValue exactly as the oracle's two's-complement replay.
    */
  def perceptualHashWide(media: DataFrame, grid: Int = 8): DataFrame = {
    require(grid >= 2 && grid * grid <= 64,
      "grid^2 bits must fit one 64-bit hash")
    packPhash(gridFeatures(media, grid))
  }

  /** The shared decode stage under the image-hash family: the
    * `grid`×`grid` luminance features per media row — real image
    * decodes through [[MediaCodec.imageFeatures]] at the requested
    * resolution, anything else the md5 stub at grid² dims (an
    * image-family stage, so unlike [[extractFeatures]] there is no
    * audio-decode leg). Null payloads dropped ([[dropNullPayloads]]).
    * (media_id, features).
    */
  private def gridFeatures(media: DataFrame, grid: Int): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("features", ArrayType(FloatType, containsNull = false))))
    val payloadIdx = media.schema.fieldIndex("payload")
    val idIdx = media.schema.fieldIndex("media_id")
    val kindIdx = media.schema.fieldIndex("kind")
    implicit val enc = Encoders.row(outSchema)
    // spread the scan ONLY when the per-row decode work (O(grid²) stub
    // digests / a grid²-cell luminance reduction) dwarfs the repartition
    // of the payload bytes. Same-window A/B at sf0.1: grid 32 (1024
    // cells) phash_dct_near_keep 5.7/4.9 → 3.9/4.0 s spread, but grid 8
    // (64 cells) phash_near_pairs64 1.7/1.8 → 2.6/2.7 s — the shuffle
    // costs more than the single-task decode below ~256 cells (and the
    // 16-dim extractFeatures family measured the same regression from a
    // blanket fromBinary spread — guide §8's "move heavy bytes once").
    // On a many-split cluster input Spread.narrow is a no-op either way.
    val src =
      if (grid * grid >= 256) Spread.narrow(dropNullPayloads(media))
      else dropNullPayloads(media)
    src.mapPartitions { rows =>
      // per-partition codec init would happen here (once, not per row)
      rows.map { r =>
        val payload = r.getAs[Array[Byte]](payloadIdx)
        val img =
          if (r.getString(kindIdx) == "image") MediaCodec.readImage(payload)
          else null
        val f =
          if (img != null) MediaCodec.imageFeatures(img, grid)
          else MediaCodec.stubFeatures(payload, grid * grid)
        Row(r.getLong(idIdx), f.toSeq)
      }
    }
  }

  /** The scaled-integer DCT-II basis under [[perceptualHashDct]]:
    * `B[k][n] = round(cos(π·(2n+1)·k / (2·grid)) · 1024)` for the 8
    * frequencies k the hash keeps × the `grid` spatial positions.
    * Quantizing the basis to 1/1024 keeps EVERY downstream step in
    * exact 64-bit integer arithmetic (residues ≤ 10⁶, stage-1 sums
    * ≤ grid·10⁶·2¹⁰ ≈ 2⁴⁵, stage-2 ≤ grid·2⁴⁵·2¹⁰ ≈ 2⁶⁰ at grid 32 —
    * no overflow, no float drift), and the SAME integer table embeds
    * verbatim into the DuckDB oracle (SparkEntry splices it as a
    * VALUES list), so cross-engine cos() last-ulp disagreements cannot
    * flip a coefficient sign.
    */
  private[graft] def dctBasis(grid: Int): Array[Array[Long]] =
    Array.tabulate(8, grid)((k, n) =>
      Math.round(Math.cos(Math.PI * (2 * n + 1) * k / (2.0 * grid)) * 1024))

  /** The integer DCT hash kernel: residues → separable 2-stage DCT →
    * top-8×8 coefficient block → sign vs the block's LOWER MEDIAN
    * (sorted index 31 of the 64 coefficients — integer order statistic,
    * no averaging). Bit `d = v·8 + u`; bit 63 wraps to Long.MinValue
    * exactly as the oracle's two's-complement replay.
    */
  private[graft] def dctHash(features: Array[Float], grid: Int,
      basis: Array[Array[Long]]): Long = {
    val n = grid
    val res = new Array[Long](n * n)
    var i = 0
    while (i < n * n) {
      // the packPhash residue map: features carry k/1000003 (stub) or a
      // real luminance fraction; round() recovers the exact integer
      res(i) = Math.round(features(i).toDouble * 1000003); i += 1
    }
    val s1 = Array.ofDim[Long](8, n) // s1(u)(gy): x-transform at row gy
    var u = 0
    while (u < 8) {
      var gy = 0
      while (gy < n) {
        var acc = 0L; var gx = 0
        while (gx < n) { acc += res(gy * n + gx) * basis(u)(gx); gx += 1 }
        s1(u)(gy) = acc; gy += 1
      }
      u += 1
    }
    val c = new Array[Long](64)
    var v = 0
    while (v < 8) {
      u = 0
      while (u < 8) {
        var acc = 0L; var gy = 0
        while (gy < n) { acc += s1(u)(gy) * basis(v)(gy); gy += 1 }
        c(v * 8 + u) = acc; u += 1
      }
      v += 1
    }
    val sorted = c.clone()
    java.util.Arrays.sort(sorted)
    val m = sorted(31)
    var ph = 0L
    var d = 0
    while (d < 64) { if (c(d) > m) ph |= (1L << d); d += 1 }
    ph
  }

  /** DCT-based 64-bit perceptual hash — pHash PROPER, where
    * [[perceptualHash]]/[[perceptualHashWide]] are aHash (mean-threshold
    * luminance): the `grid`×`grid` luminance grid goes through a
    * scaled-INTEGER 2-D DCT-II ([[dctBasis]]) and the hash keeps the
    * sign-vs-median of the top 8×8 low-frequency coefficient block.
    * Why it is the robust code: a uniform brightness offset moves every
    * AC coefficient by (offset × Σ basis row) ≈ 0, and contrast/gamma
    * stretches SCALE the coefficients without reordering most of them
    * against the median — where aHash compares each cell against the
    * global mean and a gamma shift flips every cell whose luminance
    * sits near it. Exact integers end to end (residue map, basis,
    * sums, order-statistic median), so the hash replays bit-identically
    * in the DuckDB oracle and across engines.
    *
    * Scale shape: row-local mapPartitions at the decode boundary
    * (per-partition codec init, payloads never shuffle); the DCT is
    * 2×8×grid² integer multiply-adds per row — decode-pass arithmetic,
    * no shuffle, no state.
    */
  def perceptualHashDct(media: DataFrame, grid: Int = 32): DataFrame = {
    require(grid >= 8, "the top 8x8 coefficient block needs grid >= 8")
    dctHashOfFeatures(gridFeatures(media, grid), grid)
  }

  /** The row-local DCT-hash stage over an already-decoded features frame
    * — split from [[perceptualHashDct]] so [[phashDctNearKeep]] runs its
    * pair leg off the SAME persisted decode pass as its quality leg.
    */
  private def dctHashOfFeatures(feats: DataFrame, grid: Int): DataFrame = {
    val basis = dctBasis(grid)
    val outSchema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("phash", LongType, nullable = false)))
    val fIdx = feats.schema.fieldIndex("features")
    val idIdx = feats.schema.fieldIndex("media_id")
    implicit val enc = Encoders.row(outSchema)
    feats.mapPartitions { rows =>
      rows.map { r =>
        Row(r.getLong(idIdx), dctHash(r.getSeq[Float](fIdx).toArray, grid, basis))
      }
    }
  }

  /** [[phashNearPairsWide]] on the [[perceptualHashDct]] code — the
    * re-encode/brightness/gamma-robust near-dup path: same 64-bit
    * band space (4×16-bit bands, ~n/2¹⁶ bucket growth), same
    * pigeonhole-exact recall for `maxHamming < bands`, same popcount
    * verify; only the hash function changes (the banding machinery is
    * hash-agnostic by construction).
    */
  def phashDctNearPairs(media: DataFrame, maxHamming: Int = 3,
      bands: Int = 4, maxBucket: Int = 1024, grid: Int = 32): DataFrame =
    bandedHashPairs(perceptualHashDct(media, grid), 64, maxHamming, bands,
      maxBucket, "multimodal.phash_dct_near_pairs")

  /** Near-dup survivor election on the DCT code — [[phashNearKeep]]
    * with [[phashDctNearPairs]]' robust pairs: families resolve from the
    * banded DCT pairs and each family keeps its SHARPEST member, quality
    * = the exact integer variance of the SAME `grid`×`grid` decode pass
    * the hash rode in on ([[qualityOfFeatures]] is dimension-agnostic —
    * at grid 32 the spread statistic reads the full 1024-cell plane, so
    * a gamma-flattened or blurred re-encode scores strictly below its
    * sharp original), ties to the smallest media_id. ONE decode pass
    * total: the features frame persists behind a count barrier and
    * feeds both legs.
    */
  def phashDctNearKeep(media: DataFrame, maxHamming: Int = 3,
      bands: Int = 4, maxBucket: Int = 1024, grid: Int = 32): DataFrame = {
    require(grid >= 8, "the top 8x8 coefficient block needs grid >= 8")
    // barrier: the one decode pass both legs read from
    val (feats, _) = Pins.materialize("multimodal.phash_dct_near_keep",
      gridFeatures(media, grid))
    val pairs = bandedHashPairs(dctHashOfFeatures(feats, grid), 64,
        maxHamming, bands, maxBucket, "multimodal.phash_dct_near_keep.pairs")
      .select(col("media_a").as("a"), col("media_b").as("b"))
    val ids = media.select(col("media_id").as("doc_id"))
    val scores = qualityOfFeatures(feats)
      .select(col("media_id").as("doc_id"), col("var_scaled").as("score"))
    graft.operators.Dedup.survivorsByScore(ids, pairs, scores)
      .select(col("doc_id").as("media_id"), col("cluster"),
        col("survivor_id"), col("keep"))
  }

  /** The shared bit-packing half of [[perceptualHash]] /
    * [[perceptualHashWide]]: one bit per feature cell, set when the
    * cell exceeds the row mean, compared in exact integer space.
    * Dimension-agnostic — every expression reads `size(ri)` at runtime.
    */
  private def packPhash(feats: DataFrame): DataFrame =
    feats
      .select(col("media_id"), expr(
        "transform(features, x -> cast(round(cast(x as double) * 1000003) as bigint))")
        .as("ri"))
      // hoist the row total and dims OUT of the bit fold: higher-order
      // functions evaluate interpreted with no subexpression sharing, so
      // a total computed inside the zip_with lambda would re-sum the row
      // per element — O(dims²) per row, a trap once the feature grid
      // grows past the 4×4 stub
      .select(col("media_id"), col("ri"),
        expr("aggregate(ri, 0L, (a, x) -> a + x)").as("rtot"),
        size(col("ri")).cast("long").as("nd"))
      .select(col("media_id"), expr(
        """aggregate(
          |  zip_with(ri, sequence(0, size(ri) - 1),
          |    (r, d) -> if(r * nd > rtot, shiftleft(1L, cast(d as int)), 0L)),
          |  0L, (a, x) -> a + x)""".stripMargin).as("phash"))

  /** Image-quality screen over the decoded feature grid, all in EXACT
    * integer space: per media row the grid's scaled variance
    * `n·Σr² − (Σr)²` (no division — the integer-exact spread statistic),
    * its mean brightness `Σr div n`, and the `is_flat` flag (zero
    * variance = a blank/solid frame). The cheap structural filter a
    * media pipeline runs before spending GPU decode on blank captures,
    * test cards, and single-color fills; over real decodes the features
    * are the 4×4 luminance grid, so zero variance is exactly "every cell
    * equal". Row-local on the one decode pass — no shuffle, no state.
    */
  def imageQuality(media: DataFrame): DataFrame =
    qualityOfFeatures(extractFeatures(media))

  /** The integer-stat half of [[imageQuality]], split out so a caller
    * that already holds a (persisted) features frame — [[phashNearKeep]]
    * scores quality off the SAME decode pass that fed the pair join —
    * can reuse it without decoding the payloads a second time.
    */
  private def qualityOfFeatures(feats: DataFrame): DataFrame =
    feats
      .select(col("media_id"), expr(
        "transform(features, x -> cast(round(cast(x as double) * 1000003) as bigint))")
        .as("ri"))
      .select(col("media_id"),
        expr("aggregate(ri, 0L, (a, x) -> a + x)").as("rtot"),
        expr("aggregate(ri, 0L, (a, x) -> a + x * x)").as("rsq"),
        size(col("ri")).cast("long").as("nd"))
      .select(col("media_id"),
        (col("nd") * col("rsq") - col("rtot") * col("rtot")).as("var_scaled"),
        expr("rtot div nd").as("mean_r"),
        (col("nd") * col("rsq") === col("rtot") * col("rtot")).as("is_flat"))

  /** [[perceptualHash]] + duplicate accounting: per media row, how many
    * OTHER rows share its hash (`n_dups = |hash bucket| − 1`). The hash
    * frame — (media_id, phash), 16 bytes a row, NOT the payloads — is
    * persisted behind a count barrier so the decode pass runs ONCE, then
    * bucket sizes come from a map-side-combined aggregate and join back.
    * This shape has no skew failure mode: a window partitioned by phash
    * would funnel a degenerate corpus (every flat image hashing equal)
    * into one task, while an aggregate pre-combines per input partition
    * and AQE skew-splits the join if the bucket table is ever large.
    * Release of the pinned hash frame queues with the registry.
    */
  def phashDupCounts(media: DataFrame): DataFrame = {
    // barrier: one decode pass; only the tiny hash frame pins
    val (ph, _) = Pins.materialize("multimodal.phash_dups", perceptualHash(media))
    val counts = ph.groupBy("phash").agg(count(lit(1)).as("nb"))
    ph.join(counts, "phash") // AQE broadcasts the bucket table when small
      .select(col("media_id"), col("phash"), (col("nb") - 1L).as("n_dups"))
  }

  /** Hamming-banded image NEAR-duplicate pairs — the last cell of the
    * media dedup matrix: [[phashDupCounts]] pairs only on EXACT hash
    * equality, but the dominant crawl duplicate (a re-encoded, resized,
    * or slightly-cropped image) flips one or two of the 16 aHash bits
    * and never matches there. This is [[graft.operators.Dedup.simhashPairs]]'
    * band-join shape on the [[perceptualHash]] fingerprint: the 16-bit
    * hash splits into `bands` equal chunks and rows sharing ANY band's
    * bits are candidates — by pigeonhole a pair with hamming < bands
    * must agree on some band, so recall is EXACT for
    * `maxHamming ≤ bands − 1`; candidates verify with the codegen'd
    * integer popcount `bit_count(xor)`. Output
    * `(media_a, media_b, hamming)` with `media_a < media_b`.
    *
    * Scale shape: ONE decode pass (the 16-byte hash frame persists
    * behind a count barrier; payloads never join), then a self-join
    * BLOCKED on (band, band-bits) — Σbucket², never n². A 16-bit code
    * has only 2¹⁶ values, so at archive scale buckets grow linearly
    * with the corpus: `maxBucket` drops overfull buckets before the
    * join (the declared recall trade of [[videoDupPairs]]'s frame-hash
    * cap — degenerate hashes are the flat/solid images that pair
    * uselessly anyway), bounding the join at `maxBucket²/2` per
    * surviving bucket. For a finer code, feed a wider feature grid
    * through [[perceptualHash]] — the banding math only needs
    * `bands | nBits`.
    */
  def phashNearPairs(media: DataFrame, maxHamming: Int = 3, bands: Int = 4,
      maxBucket: Int = 1024): DataFrame =
    bandedHashPairs(perceptualHash(media), 16, maxHamming, bands, maxBucket,
      "multimodal.phash_near_pairs")

  /** [[phashNearPairs]] over the grid²-bit [[perceptualHashWide]] code —
    * the ARCHIVE-SCALE path: at 64 bits (grid = 8) each of the 4 bands
    * carries 16 bits, so band buckets hold ~n/2¹⁶ rows instead of the
    * 16-bit code's n/2⁴ and the banded join stays genuinely
    * sub-quadratic (MediaSoak's wide leg requires it). Same pigeonhole
    * recall guarantee, same popcount verify, same `maxBucket` cap for
    * the flat-image degenerate buckets.
    */
  def phashNearPairsWide(media: DataFrame, maxHamming: Int = 3,
      bands: Int = 4, maxBucket: Int = 1024, grid: Int = 8): DataFrame =
    bandedHashPairs(perceptualHashWide(media, grid), grid * grid,
      maxHamming, bands, maxBucket, "multimodal.phash_near_pairs_wide")

  /** The shared banded hamming join under [[phashNearPairs]] /
    * [[phashNearPairsWide]]: band the nBits code, drop buckets over
    * `maxBucket`, self-join same-band buckets, verify candidates with
    * the codegen'd integer popcount. `ph` must be (media_id, phash);
    * it is persisted behind a count barrier so its (decode-bearing)
    * lineage runs once.
    */
  private def bandedHashPairs(hashes: DataFrame, nBits: Int,
      maxHamming: Int, bands: Int, maxBucket: Int,
      releaseKey: String): DataFrame = {
    require(bands > maxHamming,
      "bands must exceed maxHamming for exact recall")
    require(nBits % bands == 0, s"bands must divide the $nBits phash bits")
    val r = nBits / bands
    val mask = if (r == 64) -1L else (1L << r) - 1
    // barrier: one decode pass; only the tiny hash frame pins
    val (ph, _) = Pins.materialize(releaseKey, hashes)
    val bandStructs = (0 until bands).map(j =>
      struct(lit(j).as("band"),
        shiftright(col("phash"), j * r).bitwiseAND(lit(mask)).as("bh")))
    val banded = ph
      .select(col("media_id"), col("phash"),
        explode(array(bandStructs: _*)).as("e"))
      .select(col("media_id"), col("phash"),
        col("e.band").as("band"), col("e.bh").as("bh"))
    val ok = banded.groupBy("band", "bh").agg(count(lit(1)).as("nb"))
      .where(col("nb") <= maxBucket).select("band", "bh")
    val f = banded.join(ok, Seq("band", "bh")) // AQE broadcasts when small
    f.as("x").join(f.as("y"), Seq("band", "bh"))
      .where(col("x.media_id") < col("y.media_id"))
      .select(col("x.media_id").as("media_a"),
        col("y.media_id").as("media_b"),
        graft.operators.Dedup.hammingDist(col("x.phash"), col("y.phash"))
          .cast("long").as("hamming"))
      // popcount verify BEFORE the distinct: most same-band candidates
      // fail a maxHamming≈3 filter, and rejecting them here keeps them
      // out of the dedup's exchange entirely — the distinct then
      // shuffles only true pairs (≤ bands copies each) instead of every
      // candidate the band join emitted. Same result, strictly less
      // shuffled data.
      .where(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Near-dup survivor election for images — the media composition of
    * the text election stack: resolve [[phashNearPairs]]' pair graph
    * into families ([[graft.operators.Dedup.resolveClusters]]' min-label
    * components) and keep each family's SHARPEST member, quality = the
    * exact integer grid variance of [[imageQuality]] (a re-encode/resize
    * blurs detail and flattens the luminance grid, so variance plays the
    * "most content" role `n_chars` plays for text), ties to the smallest
    * media_id via [[graft.operators.Dedup.survivorsByScore]]. Returns
    * `(media_id, cluster, survivor_id, keep)` restricted to multi-member
    * families.
    *
    * Scale shape: ONE decode pass total — the features frame (media_id
    * + the 16-float grid per row, payloads dropped) persists behind a
    * count barrier and feeds BOTH legs: the banded pair join (via
    * [[packPhash]]) and the quality score ([[qualityOfFeatures]]). Pair
    * generation is the banded join (Σbucket²); the election inherits
    * resolveClusters' adaptive resolution (driver union-find under the
    * 200k-edge gate, checkpoint-truncated distributed fixpoint above)
    * + one argmax aggregate per family.
    */
  def phashNearKeep(media: DataFrame, maxHamming: Int = 3, bands: Int = 4,
      maxBucket: Int = 1024): DataFrame = {
    // barrier: the one decode pass both legs read from
    val (feats, _) = Pins.materialize("multimodal.phash_near_keep",
      extractFeatures(dropNullPayloads(media))
        .select(col("media_id"), col("features")))
    val pairs = bandedHashPairs(packPhash(feats), 16, maxHamming, bands,
        maxBucket, "multimodal.phash_near_keep.pairs")
      .select(col("media_a").as("a"), col("media_b").as("b"))
    val ids = media.select(col("media_id").as("doc_id"))
    val scores = qualityOfFeatures(feats)
      .select(col("media_id").as("doc_id"), col("var_scaled").as("score"))
    graft.operators.Dedup.survivorsByScore(ids, pairs, scores)
      .select(col("doc_id").as("media_id"), col("cluster"),
        col("survivor_id"), col("keep"))
  }

  /** Resize stage shape for images: rewrites the payload through the
    * batched codec boundary and stamps the new dimensions into the metadata
    * columns. Row-local (no shuffle) and, like [[extractFeatures]], runs
    * via `mapPartitions` so codec init happens once per partition — not a
    * per-row UDF.
    */
  def resizeStub(media: DataFrame, width: Int, height: Int): DataFrame = {
    val images = media.where(col("kind") === "image")
    val schema = images.schema
    val payloadIdx = schema.fieldIndex("payload")
    val widthIdx = schema.fieldIndex("width")
    val heightIdx = schema.fieldIndex("height")
    implicit val enc = Encoders.row(schema)
    images.mapPartitions { rows =>
      // per-partition codec init would happen here (once, not per row)
      rows.map { r =>
        Row.fromSeq(schema.fields.indices.map {
          case i if i == payloadIdx =>
            MediaCodec.resize(r.getAs[Array[Byte]](payloadIdx), width, height, "image")
          case i if i == widthIdx => width
          case i if i == heightIdx => height
          case i => r.get(i)
        })
      }
    }
  }

  /** Frame-sampling stage shape for video: emit one row per sampled frame
    * index (the decode of each frame is the same stubbed codec boundary).
    * Demonstrates the explode-style fan-out plan a real sampler uses.
    */
  def sampleFrames(media: DataFrame, everyMs: Long = 1000L): DataFrame =
    media
      .where(col("kind") === "video" && col("duration_ms").isNotNull)
      .select(col("media_id"), col("duration_ms"),
        explode(sequence(lit(0L), col("duration_ms"), lit(everyMs))).as("frame_ms"))
}
