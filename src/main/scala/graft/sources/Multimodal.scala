package graft.sources

import java.awt.image.BufferedImage
import java.io.{ByteArrayInputStream, ByteArrayOutputStream}

import javax.imageio.ImageIO

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal column plumbing: media as opaque `binary` columns with a
  * typed metadata struct, processed in partition-local batches.
  *
  * The IMAGE path is real end to end: decode via `javax.imageio`
  * (PNG/JPEG/BMP/GIF — the JDK's built-in codecs), luminance-histogram
  * features from actual pixels, and a bounded-memory thumbnail resize
  * that re-encodes PNG bytes. The AUDIO path is real for WAV/PCM:
  * decode via `javax.sound.sampled` (the JDK's built-in RIFF codec),
  * time-sliced RMS-energy features from actual samples, true sample
  * rate / duration recovered from the header. Corrupt/undecodable
  * bytes NEVER fail a task on either path: they surface as quarantine
  * rows (`ok=false`, `err` set) so a 100 TB run loses one row, not one
  * 128 MB partition, to one bad blob.
  *
  * The VIDEO path is real for MJPEG-in-AVI: the RIFF/AVI container
  * parses with plain byte scanning (chunk walk to the `movi` list),
  * each frame is a standalone JPEG that `javax.imageio` decodes, frame
  * timing comes from the `avih` header. That covers the one video
  * format a JDK-only engine can honestly decode end to end; other
  * codecs (H.264 etc.) fall back to a byte-signature stand-in via the
  * quarantine-aware decode path — same contract (schema, partition
  * sizing, batch iteration, quarantine shape), so swapping a real
  * codec in changes only one call site.
  *
  * Scale posture: media rows are large (MBs) — `mediaRepartition`
  * targets ~128 MB per partition by byte size, not row count, so
  * executors neither starve (1 huge row per task) nor OOM (thousands of
  * rows per task). Feature extraction is mapPartitions: one codec init
  * per partition, streaming through rows without materialising the
  * partition; the decode buffer for resize is bounded by the TARGET
  * dims (plus the codec's one decoded frame), never by file count.
  */
object Multimodal {

  // ImageIO's default stream cache spools every decode/encode through
  // a temp FILE in java.io.tmpdir — pure overhead for byte arrays
  // already in memory, and disk churn on the hot executor path. Set
  // once per JVM at first use of this object (executors initialise it
  // when the first task touches the class).
  ImageIO.setUseCache(false)

  case class MediaMeta(
      kind: String, // image | audio | video
      width: Int, height: Int,
      sampleRate: Int, durationMs: Long)

  case class MediaRow(
      media_id: Long, bytes: Array[Byte], meta: MediaMeta)

  /** `ok=false` + `err` is the quarantine signal: the row flowed
    * through (features zeroed), the task never failed. */
  case class MediaFeatures(
      media_id: Long, kind: String, n_bytes: Long,
      features: Array[Float], ok: Boolean, err: String)

  /** Deterministic synthetic media table (stands in for a real binary
    * source). Image rows carry REAL PNG bytes — a deterministic RGB
    * gradient seeded from the id — so decode tests exercise the actual
    * codec; audio/video payloads are opaque seeded byte patterns. */
  def syntheticMedia(spark: SparkSession, n: Int): Dataset[MediaRow] = {
    import spark.implicits._
    spark.range(n.toLong).map { i =>
      val kind = Seq("image", "audio", "video")((i % 3).toInt)
      kind match {
        case "image" =>
          val w = 64 + (i % 4).toInt * 32
          val h = 64
          MediaRow(i, syntheticPng(w, h, seed = i),
            MediaMeta(kind, w, h, 0, 0L))
        case "audio" =>
          // real PCM16 WAV: a deterministic sine seeded by the id
          val durMs = 50L + (i % 5) * 25
          MediaRow(i, syntheticWav(16000, durMs, seed = i),
            MediaMeta(kind, 0, 0, 16000, durMs))
        case _ =>
          // real MJPEG-in-AVI: 2-6 JPEG frames at 4 fps
          val nFrames = 2 + (i % 5).toInt
          val fps = 4
          MediaRow(i, syntheticMjpegAvi(48, 32, nFrames, fps, seed = i),
            MediaMeta(kind, 48, 32, 0, nFrames * 1000L / fps))
      }
    }
  }

  /** Deterministic w×h RGB gradient. */
  private def syntheticImage(w: Int, h: Int, seed: Long): BufferedImage = {
    val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val r = ((x * 255 / math.max(1, w - 1)) + seed * 17) % 256
        val g = ((y * 255 / math.max(1, h - 1)) + seed * 29) % 256
        val b = ((x + y + seed * 43) % 256)
        img.setRGB(x, y, (r.toInt << 16) | (g.toInt << 8) | b.toInt)
        x += 1
      }
      y += 1
    }
    img
  }

  private[graft] def syntheticPng(w: Int, h: Int, seed: Long): Array[Byte] =
    encodePng(syntheticImage(w, h, seed))

  private def encodePng(img: BufferedImage): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  private def encodeJpeg(img: BufferedImage): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    ImageIO.write(img, "jpg", bos)
    bos.toByteArray
  }

  /** Deterministic mono PCM16 WAV at `sampleRate`: a sine whose
    * frequency and phase derive from the seed. Hand-rolled RIFF header
    * (the 44-byte canonical layout) — the WRITE side needs no codec;
    * decode goes through the real javax.sound path. */
  private[graft] def syntheticWav(
      sampleRate: Int, durationMs: Long, seed: Long): Array[Byte] = {
    val n = (sampleRate * durationMs / 1000L).toInt
    val dataLen = n * 2
    val buf = java.nio.ByteBuffer.allocate(44 + dataLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen)
      .put("WAVE".getBytes("US-ASCII"))
      .put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1) // PCM
      .putShort(1) // mono
      .putInt(sampleRate)
      .putInt(sampleRate * 2) // byte rate
      .putShort(2) // block align
      .putShort(16) // bits/sample
      .put("data".getBytes("US-ASCII")).putInt(dataLen)
    val freq = 110.0 + (seed % 40) * 20.0
    val phase = (seed % 17) * 0.37
    var t = 0
    while (t < n) {
      val v = math.sin(2 * math.Pi * freq * t / sampleRate + phase)
      buf.putShort((v * 12000).toShort)
      t += 1
    }
    buf.array()
  }

  /** Does the payload claim to be a RIFF WAVE container? Other audio
    * containers (MP3/OGG — no JDK codec) return false and take the
    * byte-signature stand-in path instead of quarantining, mirroring
    * [[isAvi]] for video. */
  def isWav(bytes: Array[Byte]): Boolean =
    bytes.length >= 12 && new String(bytes, 0, 4, "US-ASCII") == "RIFF" &&
      new String(bytes, 8, 4, "US-ASCII") == "WAVE"

  /** Real audio decode (WAV/PCM via the JDK codec; 8- or 16-bit,
    * any channel count — channels average to mono). Returns the
    * header's sample rate and mono PCM16 samples; Left(reason) on a
    * malformed container or a non-PCM encoding — caught, never a
    * task failure. */
  def decodeAudio(bytes: Array[Byte]): Either[String, (Int, Array[Short])] =
    try {
      val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new ByteArrayInputStream(bytes))
      try {
        import javax.sound.sampled.AudioFormat.Encoding
        val fmt = in.getFormat
        val bits = fmt.getSampleSizeInBits
        val ch = fmt.getChannels
        val enc = fmt.getEncoding
        if ((enc != Encoding.PCM_SIGNED && enc != Encoding.PCM_UNSIGNED) ||
            (bits != 8 && bits != 16) || ch < 1)
          Left(s"unsupported WAV layout: $enc $bits-bit x${ch}ch " +
            "(PCM 8/16-bit only)")
        else {
          val raw = in.readAllBytes()
          val bytesPerSample = bits / 8
          val frameBytes = bytesPerSample * ch
          val nFrames = raw.length / frameBytes
          val bb = java.nio.ByteBuffer.wrap(raw).order(
            if (fmt.isBigEndian) java.nio.ByteOrder.BIG_ENDIAN
            else java.nio.ByteOrder.LITTLE_ENDIAN)
          val out = new Array[Short](nFrames)
          var f = 0
          while (f < nFrames) {
            var acc = 0
            var c = 0
            while (c < ch) {
              val off = f * frameBytes + c * bytesPerSample
              acc += (if (bits == 16) bb.getShort(off).toInt
                      else if (enc == Encoding.PCM_UNSIGNED)
                        ((raw(off) & 0xFF) - 128) << 8
                      else raw(off).toInt << 8)
              c += 1
            }
            out(f) = (acc / ch).toShort
            f += 1
          }
          Right((fmt.getSampleRate.toInt, out))
        }
      } finally in.close()
    } catch {
      case e: Throwable =>
        Left(s"audio decode failed: ${e.getClass.getSimpleName}: " +
          String.valueOf(e.getMessage).take(120))
    }

  /** 8-slice RMS-energy profile over REAL samples, peak-normalised —
    * the audio twin of [[luminanceHistogram]]. Each bin divides by the
    * sample count IT received (the last bin absorbs the remainder when
    * the length isn't a multiple of 8 — a fixed divisor would inflate
    * its RMS). */
  private[graft] def rmsProfile(samples: Array[Short]): Array[Float] = {
    val out = new Array[Float](FeatureDim)
    if (samples.isEmpty) return out
    val counts = new Array[Int](FeatureDim)
    val slice = math.max(1, samples.length / FeatureDim)
    var i = 0
    while (i < samples.length) {
      val s = samples(i) / 32768.0
      val b = math.min(FeatureDim - 1, i / slice)
      out(b) += (s * s).toFloat
      counts(b) += 1
      i += 1
    }
    var b = 0
    while (b < FeatureDim) {
      if (counts(b) > 0) out(b) = math.sqrt(out(b) / counts(b)).toFloat
      b += 1
    }
    val peak = out.max
    if (peak > 0) { var j = 0; while (j < FeatureDim) { out(j) /= peak; j += 1 } }
    out
  }

  // ------------------------------------------------------------------
  // MJPEG-in-AVI video: RIFF container walked with plain byte offsets
  // (chunk = fourcc + LE size + payload, word-aligned), frames are
  // standalone JPEGs that ImageIO decodes. The one video format a
  // JDK-only engine can honestly read end to end.
  // ------------------------------------------------------------------

  /** avih header facts: frame period (µs), frame count, frame dims. */
  case class AviMeta(usPerFrame: Int, totalFrames: Int,
      width: Int, height: Int)

  private def leInt(v: Int): Array[Byte] =
    Array[Byte](v.toByte, (v >> 8).toByte, (v >> 16).toByte, (v >> 24).toByte)

  private def aviChunk(id: String, data: Array[Byte]): Array[Byte] = {
    val pad = if (data.length % 2 == 1) Array[Byte](0) else Array.empty[Byte]
    id.getBytes("US-ASCII") ++ leInt(data.length) ++ data ++ pad
  }

  private def aviList(listType: String, children: Array[Byte]): Array[Byte] =
    aviChunk("LIST", listType.getBytes("US-ASCII") ++ children)

  /** Deterministic MJPEG AVI: `nFrames` JPEG gradient frames at `fps`.
    * Minimal-but-valid layout: RIFF(AVI ) { LIST(hdrl){avih,
    * LIST(strl){strh,strf}}, LIST(movi){00dc…} }. */
  private[graft] def syntheticMjpegAvi(
      w: Int, h: Int, nFrames: Int, fps: Int, seed: Long): Array[Byte] = {
    val frames = (0 until nFrames).map(f =>
      encodeJpeg(syntheticImage(w, h, seed * 101 + f)))
    val maxFrame = frames.map(_.length).max
    val avih = aviChunk("avih",
      leInt(1000000 / fps) ++ leInt(0) ++ leInt(0) ++ leInt(0) ++
        leInt(nFrames) ++ leInt(0) ++ leInt(1) ++ leInt(maxFrame) ++
        leInt(w) ++ leInt(h) ++ leInt(0) ++ leInt(0) ++ leInt(0) ++ leInt(0))
    val strh = aviChunk("strh",
      "vids".getBytes("US-ASCII") ++ "MJPG".getBytes("US-ASCII") ++
        leInt(0) ++ leInt(0) ++ leInt(0) ++
        leInt(1) ++ leInt(fps) ++ // scale, rate: rate/scale = fps
        leInt(0) ++ leInt(nFrames) ++ leInt(maxFrame) ++ leInt(-1) ++
        leInt(0) ++
        Array[Byte](0, 0, 0, 0, w.toByte, (w >> 8).toByte,
          h.toByte, (h >> 8).toByte)) // rcFrame l,t,r,b as LE shorts
    val strf = aviChunk("strf",
      leInt(40) ++ leInt(w) ++ leInt(h) ++
        Array[Byte](1, 0, 24, 0) ++ // planes 1, bitcount 24
        "MJPG".getBytes("US-ASCII") ++ leInt(w * h * 3) ++
        leInt(0) ++ leInt(0) ++ leInt(0) ++ leInt(0))
    val hdrl = aviList("hdrl", avih ++ aviList("strl", strh ++ strf))
    val movi = aviList("movi",
      frames.map(aviChunk("00dc", _)).foldLeft(Array.empty[Byte])(_ ++ _))
    aviChunk("RIFF", "AVI ".getBytes("US-ASCII") ++ hdrl ++ movi)
  }

  private def fourccAt(b: Array[Byte], off: Int): String =
    new String(b, off, 4, "US-ASCII")

  private def leIntAt(b: Array[Byte], off: Int): Int =
    (b(off) & 0xFF) | ((b(off + 1) & 0xFF) << 8) |
      ((b(off + 2) & 0xFF) << 16) | ((b(off + 3) & 0xFF) << 24)

  /** Does the payload claim to be a RIFF AVI container at all? Other
    * video containers (mp4 etc.) return false and take the
    * byte-signature stand-in path instead of quarantining. */
  def isAvi(bytes: Array[Byte]): Boolean =
    bytes.length >= 12 && fourccAt(bytes, 0) == "RIFF" &&
      fourccAt(bytes, 8) == "AVI "

  /** AVI parse without copying payloads: header meta + each frame's
    * (offset, length) into the original byte array. Callers copy ONLY
    * the frames they actually use — frameSample at stride 30 over a
    * 1000-frame clip touches 34 frames, not 1000. Left(reason) on a
    * malformed container — caught, never a task failure. */
  def aviFrameRanges(
      bytes: Array[Byte]): Either[String, (AviMeta, Seq[(Int, Int)])] =
    try {
      if (!isAvi(bytes)) Left("not a RIFF/AVI container")
      else {
        var meta: AviMeta = null
        val frames = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
        def walk(start: Int, end: Int, inMovi: Boolean): Unit = {
          var pos = start
          while (pos + 8 <= end) {
            val id = fourccAt(bytes, pos)
            val size = leIntAt(bytes, pos + 4)
            val body = pos + 8
            if (size < 0 || body + size > end)
              throw new IllegalArgumentException(
                s"chunk $id overruns container at offset $pos")
            if (id == "LIST" && size >= 4) {
              val listType = fourccAt(bytes, body)
              walk(body + 4, body + size, inMovi || listType == "movi")
            } else if (id == "avih" && size >= 40) {
              meta = AviMeta(leIntAt(bytes, body), leIntAt(bytes, body + 16),
                leIntAt(bytes, body + 32), leIntAt(bytes, body + 36))
            } else if (inMovi && size > 0 &&
                (id.endsWith("dc") || id.endsWith("db"))) {
              frames += ((body, size))
            }
            pos = body + size + (size & 1)
          }
        }
        walk(12, math.min(bytes.length, 8 + leIntAt(bytes, 4)), inMovi = false)
        if (meta == null) Left("no avih header chunk")
        else if (frames.isEmpty) Left("no frame chunks in movi list")
        else Right((meta, frames.toSeq))
      }
    } catch {
      case e: Throwable =>
        Left(s"avi parse failed: ${e.getClass.getSimpleName}: " +
          String.valueOf(e.getMessage).take(120))
    }

  /** [[aviFrameRanges]] with every frame payload materialised — for
    * callers that consume the whole clip. */
  def decodeAviFrames(
      bytes: Array[Byte]): Either[String, (AviMeta, Seq[Array[Byte]])] =
    aviFrameRanges(bytes).map { case (meta, ranges) =>
      (meta, ranges.map { case (off, len) =>
        java.util.Arrays.copyOfRange(bytes, off, off + len) })
    }

  /** Real image decode. Left(reason) on corrupt/unsupported bytes —
    * exceptions are CAUGHT here so a bad blob can only ever produce a
    * quarantine row, never a task failure. */
  def decodeImage(bytes: Array[Byte]): Either[String, BufferedImage] =
    try {
      val img = ImageIO.read(new ByteArrayInputStream(bytes))
      if (img == null) Left("undecodable: no registered codec matched")
      else Right(img)
    } catch {
      case e: Throwable =>
        Left(s"decode failed: ${e.getClass.getSimpleName}: " +
          String.valueOf(e.getMessage).take(120))
    }

  private val FeatureDim = 8

  /** 8-bin luminance histogram over REAL pixels, L1-normalised — the
    * cheap content signature that stands where a model embedding would
    * go (same shape: fixed-dim float vector per row). */
  private[graft] def luminanceHistogram(img: BufferedImage): Array[Float] = {
    val out = new Array[Float](FeatureDim)
    val w = img.getWidth
    val h = img.getHeight
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val rgb = img.getRGB(x, y)
        val lum = (((rgb >> 16) & 0xFF) * 299 + ((rgb >> 8) & 0xFF) * 587 +
          (rgb & 0xFF) * 114) / 1000
        out(lum * FeatureDim / 256) += 1f
        x += 1
      }
      y += 1
    }
    val n = (w.toLong * h).toFloat
    var i = 0
    while (i < FeatureDim) { out(i) /= n; i += 1 }
    out
  }

  /** Byte-signature features for kinds with no JDK codec (audio/video):
    * deterministic 8 floats from a rolling byte hash. */
  private[graft] def byteSignatureFeatures(bytes: Array[Byte]): Array[Float] = {
    val out = new Array[Float](FeatureDim)
    var acc = 17L
    var i = 0
    while (i < bytes.length) {
      acc = (acc * 31 + (bytes(i) & 0xFF)) % 4294967291L
      out(i % FeatureDim) += ((acc % 1000) / 1000.0f - 0.5f)
      i += 1
    }
    out
  }

  /** Repartition a media frame so each partition holds ~targetBytes of
    * payload (byte-weighted, not row-count) — the knob that keeps codec
    * tasks uniform at 100 TB.
    *
    * Payload size comes from METADATA, never a data pass (the previous
    * implementation ran `sum(length(bytes))` — a full second scan of
    * the binary payload): an explicit `totalBytesHint` if the caller
    * knows it, else the sum of input-file lengths from the filesystem
    * (zero jobs; compressed size, the right unit for IO-balanced
    * partitioning), else the optimizer's logical size estimate. */
  /** 64-bit DIFFERENCE HASH of a decoded image — the standard
    * perceptual near-dup fingerprint (dHash; Krawetz's variant of
    * the average-hash family): box-average the luminance onto a 9×8
    * grid, then bit (y,x) = grid(y,x) < grid(y,x+1). Robust to
    * re-encoding, mild scaling and brightness shifts (gradients
    * survive what absolute levels don't) — which is exactly what a
    * crawl's duplicate images look like (same picture, different
    * JPEG quality/size). Pure integer/double math over the pixel
    * grid: deterministic across JVMs. */
  def dHash64(img: BufferedImage): Long = {
    val gw = 9
    val gh = 8
    val w = img.getWidth
    val h = img.getHeight
    val g = Array.ofDim[Double](gh, gw)
    var cy = 0
    while (cy < gh) {
      val y0 = cy * h / gh
      val y1 = math.max(y0 + 1, (cy + 1) * h / gh)
      var cx = 0
      while (cx < gw) {
        val x0 = cx * w / gw
        val x1 = math.max(x0 + 1, (cx + 1) * w / gw)
        var sum = 0L
        var y = y0
        while (y < y1) {
          var x = x0
          while (x < x1) {
            val rgb = img.getRGB(x, y)
            sum += 299L * ((rgb >> 16) & 0xff) +
              587L * ((rgb >> 8) & 0xff) + 114L * (rgb & 0xff)
            x += 1
          }
          y += 1
        }
        g(cy)(cx) = sum.toDouble / ((y1 - y0).toLong * (x1 - x0))
        cx += 1
      }
      cy += 1
    }
    var bits = 0L
    var y = 0
    while (y < 8) {
      var x = 0
      while (x < 8) {
        if (g(y)(x) < g(y)(x + 1)) bits |= 1L << (y * 8 + x)
        x += 1
      }
      y += 1
    }
    bits
  }

  /** 64-bit AUDIO FINGERPRINT — the dHash idea applied to two
    * gain-invariant envelope profiles: 32 bits compare adjacent RMS
    * windows (33-window energy envelope — a global volume change
    * scales every window, so the comparisons are invariant) and 32
    * bits compare adjacent ZERO-CROSSING-RATE windows (pitch/texture
    * profile, inherently gain-invariant). Same duplicate-crawl
    * rationale as [[dHash64]]: the same clip re-encoded or
    * re-normalized should collide within a few bits, different audio
    * should not. Deterministic integer math. */
  def audioFingerprint64(samples: Array[Short]): Long = {
    val W = 33
    if (samples.length < W) return 0L
    val energy = new Array[Double](W)
    val zcr = new Array[Double](W)
    val slice = math.max(1, samples.length / W)
    var i = 0
    while (i < samples.length) {
      val b = math.min(W - 1, i / slice)
      val s = samples(i).toDouble
      energy(b) += s * s
      if (i > 0 && (samples(i - 1) < 0) != (samples(i) < 0)) zcr(b) += 1
      i += 1
    }
    var bits = 0L
    var w = 0
    while (w < 32) {
      if (energy(w) < energy(w + 1)) bits |= 1L << w
      if (zcr(w) < zcr(w + 1)) bits |= 1L << (32 + w)
      w += 1
    }
    bits
  }

  /** 64-bit VIDEO FINGERPRINT: [[dHash64]] of the clip's sampled
    * frames MAJORITY-VOTED per bit — frame-accurate enough to pair
    * re-encodes, and the vote makes one corrupt/duplicated frame
    * harmless (a first-frame-only hash would break on a clip whose
    * container re-mux shifted frame one). `stride` caps decode cost:
    * at most 8 frames decode regardless of clip length. Quarantines
    * propagate as Left. */
  def videoFingerprint64(bytes: Array[Byte],
      maxFrames: Int = 8): Either[String, Long] =
    decodeAviFrames(bytes).flatMap { case (_, frames) =>
      if (frames.isEmpty) Left("no frames")
      else {
        val stride = math.max(1, frames.size / maxFrames)
        val sampled = frames.indices.by(stride).take(maxFrames)
          .map(frames(_))
        val hashes = sampled.map(decodeImage(_).map(dHash64))
        val ok = hashes.collect { case Right(h) => h }
        if (ok.isEmpty)
          Left(hashes.collectFirst { case Left(e) => e }
            .getOrElse("no decodable frames"))
        else {
          var bits = 0L
          var b = 0
          while (b < 64) {
            val ones = ok.count(h => (h >>> b & 1L) == 1L)
            if (2 * ones > ok.size) bits |= 1L << b
            b += 1
          }
          Right(bits)
        }
      }
    }

  // ------------------------------------------------------------------
  // Incremental perceptual-hash index: continuous media ingest
  // ------------------------------------------------------------------

  /** Per-row 64-bit perceptual fingerprint routed by KIND — one typed
    * map covering the three media fingerprints (image [[dHash64]],
    * audio [[audioFingerprint64]], video [[videoFingerprint64]]) with
    * the quarantine discipline of [[extractFeatures]]: corrupt or
    * unknown-kind rows yield ok=false + err, never a task failure.
    * Output (id, kind, dhash, ok, err). */
  def mediaHashes(media: DataFrame, idCol: String, bytesCol: String,
      kindCol: String): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col(idCol).cast("long"), col(kindCol), col(bytesCol))
      .as[(Long, String, Array[Byte])]
      .map { case (id, kind, bytes) =>
        val h: Either[String, Long] = kind match {
          case "image" => decodeImage(bytes).map(dHash64)
          case "audio" =>
            decodeAudio(bytes).map { case (_, s) => audioFingerprint64(s) }
          case "video" => videoFingerprint64(bytes)
          case other => Left(s"unknown media kind '$other'")
        }
        h match {
          case Right(v) => (id, kind, v, true, "")
          case Left(err) => (id, kind, 0L, false, err.take(200))
        }
      }
      .toDF(idCol, "kind", "dhash", "ok", "err")
  }

  /** Persisted perceptual-hash state of an already-deduped media
    * corpus: ONE table of (id, kind, dhash) — 8 bytes of fingerprint
    * per asset, the [[graft.operators.Dedup.SimhashIndex]] discipline
    * applied to media. The CORPUS BYTES are hashed once when they
    * enter and never re-read: every later batch dedups against this
    * table, so daily cost is O(batch decode) + a band equi-join
    * against 8-byte hashes — never O(corpus decode). Bands are pure
    * bit math recomputed at probe time, so one index serves any
    * maxHamming. [[save]] PARTITIONS by kind: an image-only batch
    * prunes the audio/video partitions at scan time. */
  final case class MediaHashIndex(entries: DataFrame) {
    /** Persist to `<dir>/entries` parquet, partitioned by `kind`
      * ([[graft.operators.IndexMaintenance.saveEntries]]). */
    def save(dir: String, mode: String = "error"): Unit =
      graft.operators.IndexMaintenance.saveEntries(entries, dir, "kind", mode)

    def materialize(): MediaHashIndex =
      MediaHashIndex(entries.localCheckpoint(false))

    /** Index for the grown corpus: existing entries plus a delta
      * (typically [[incrementalMediaDedup]]'s survivor index). */
    def union(delta: MediaHashIndex): MediaHashIndex =
      MediaHashIndex(entries.unionByName(delta.entries))
  }

  object MediaHashIndex {
    def load(spark: SparkSession, dir: String): MediaHashIndex =
      MediaHashIndex(graft.operators.IndexMaintenance.loadEntries(spark, dir,
        prepare = _.select("id", "kind", "dhash")))
  }

  /** Build the perceptual-hash index for a (deduped) media corpus —
    * quarantined rows (undecodable bytes) are excluded: they carry no
    * fingerprint to probe against. */
  def buildMediaHashIndex(media: DataFrame, idCol: String,
      bytesCol: String, kindCol: String): MediaHashIndex =
    MediaHashIndex(mediaFeatures(media, idCol, bytesCol, kindCol))

  /** (id, kind, dhash) of the decodable rows — the index entries'
    * shape, and the batch features of the incremental dedup. */
  private def mediaFeatures(media: DataFrame, idCol: String,
      bytesCol: String, kindCol: String): DataFrame =
    mediaHashes(media, idCol, bytesCol, kindCol)
      .filter(col("ok"))
      .select(col(idCol).as("id"), col("kind"), col("dhash"))

  /** Band keys of an (id, kind, dhash) frame: the SimHash bands of
    * `dhash`, each labelled with the row's kind, so an image dHash and
    * an audio envelope hash that happen to sit 3 bits apart never share
    * a key — kinds stay apart without a branch. */
  private def mediaKeys(maxHamming: Int): Column =
    graft.operators.Dedup.simhashBandStructs(col("dhash"), maxHamming,
      band = i => struct(col("kind"), lit(i)))

  /** Near-duplicate pairs within one (id, kind, dhash) frame: (a_id,
    * b_id, kind, hamming ≤ maxHamming). */
  private def mediaPairs(feat: DataFrame, maxHamming: Int): DataFrame =
    graft.operators.Dedup.hammingPairs(feat, "dhash", mediaKeys(maxHamming),
      maxHamming, Seq("kind"))

  /** Media NEAR-DUPLICATE pairs within one frame of mixed kinds: each
    * row's [[mediaHashes]] fingerprint (image [[dHash64]], audio
    * [[audioFingerprint64]], video [[videoFingerprint64]]) bucketed by
    * the banded-Hamming machinery SimHash text dedup uses — maxHamming+1
    * bands of 64-bit segments, so the pigeonhole guarantees every pair
    * within `maxHamming` bits shares a band and recall over the hash is
    * exact — then verified by exact bit_count. The bands carry the
    * kind, so pairs never cross kinds. Quarantined decodes are
    * excluded. The shuffle carries (id, kind, 8-byte hash) — media
    * BYTES never move. Returns (a_id, b_id, kind, hamming). */
  def mediaNearDup(media: DataFrame, idCol: String, bytesCol: String,
      kindCol: String, maxHamming: Int = 3): DataFrame =
    mediaPairs(mediaFeatures(media, idCol, bytesCol, kindCol), maxHamming)

  /** Probe a batch HASH frame (id, kind, dhash) against the index:
    * (corpus a_id, batch b_id, kind, hamming ≤ maxHamming). The batch
    * is banded and broadcast; the index contributes its 8-byte hashes
    * to the band equi-join — corpus media bytes never move. On a
    * saved index the kind filter prunes whole partitions first. */
  private[graft] def probeMediaHashes(batchHashes: DataFrame,
      index: MediaHashIndex, maxHamming: Int): DataFrame = {
    import graft.operators.Dedup
    Dedup.hammingProbe(
      Dedup.prunePartitions(index.entries, "kind", batchHashes.select("kind")),
      batchHashes, "dhash", mediaKeys(maxHamming), maxHamming, Seq("kind"))
  }

  /** Near-dup pairs between a new media batch and the indexed corpus:
    * (a_id, b_id, kind, hamming). Batch bytes decode ONCE; the index
    * side is 8-byte hashes. */
  def incrementalMediaNearDup(batch: DataFrame, index: MediaHashIndex,
      idCol: String, bytesCol: String, kindCol: String,
      maxHamming: Int = 3): DataFrame =
    probeMediaHashes(
      mediaFeatures(batch, idCol, bytesCol, kindCol).localCheckpoint(false),
      index, maxHamming)

  /** Incremental media near-dedup — [[graft.operators.Dedup
    * .incrementalDedup]]'s contract for perceptual hashes, through the
    * shared [[graft.operators.Dedup.incrementalBody]]: a batch
    * asset within `maxHamming` of ANY indexed corpus asset (same
    * kind) is dropped; among the rest, within-batch near-dup clusters
    * keep their minimum id; QUARANTINED rows (undecodable bytes) pass
    * through as survivors — they carry no evidence of duplication —
    * but never enter the index. Returns (survivors, delta-index);
    * union the delta into the corpus index for the next batch.
    * Batch media decode exactly once (the hash frame is pinned and
    * reused by the probe, the within-batch pass and the delta). */
  def incrementalMediaDedup(batch: DataFrame, index: MediaHashIndex,
      idCol: String, bytesCol: String, kindCol: String,
      maxHamming: Int = 3): (DataFrame, MediaHashIndex) = {
    import graft.operators.Dedup
    val (survivors, entries) = Dedup.incrementalBody(batch, idCol,
      mediaFeatures(batch, idCol, bytesCol, kindCol),
      probeMediaHashes(_, index, maxHamming),
      mediaPairs(_, maxHamming),
      identity)
    (survivors, MediaHashIndex(entries))
  }

  def mediaRepartition(
      df: DataFrame, bytesCol: String, targetBytes: Long,
      totalBytesHint: Option[Long] = None): DataFrame = {
    val total = totalBytesHint
      .orElse(inputFileBytes(df))
      .getOrElse(df.queryExecution.optimizedPlan.stats.sizeInBytes.toLong)
    val parts = math.max(1, (total / targetBytes).toInt)
    df.repartition(parts)
  }

  /** Sum of the frame's input-file sizes via filesystem metadata; None
    * when the frame isn't file-backed (e.g. an in-memory dataset). */
  private def inputFileBytes(df: DataFrame): Option[Long] = {
    val files = df.inputFiles
    if (files.isEmpty) None
    else {
      val hconf = df.sparkSession.sparkContext.hadoopConfiguration
      Some(files.map { f =>
        val p = new org.apache.hadoop.fs.Path(f)
        p.getFileSystem(hconf).getFileStatus(p).getLen
      }.sum)
    }
  }

  /** Batched feature extraction: mapPartitions so codec state is
    * per-partition, and rows flow through in `batchSize` groups — the
    * record-batch shape a vectorised codec or model forward-pass wants
    * (one call per batch, not per row). Image rows decode for REAL;
    * corrupt images become quarantine rows (`ok=false`, zero features),
    * never task failures. */
  def extractFeatures(
      media: Dataset[MediaRow], batchSize: Int = 64)(
      implicit spark: SparkSession): Dataset[MediaFeatures] = {
    import spark.implicits._
    media.mapPartitions { rows =>
      rows.grouped(batchSize).flatMap { batch =>
        batch.map { r =>
          r.meta.kind match {
            case "image" =>
              decodeImage(r.bytes) match {
                case Right(img) =>
                  MediaFeatures(r.media_id, r.meta.kind, r.bytes.length.toLong,
                    luminanceHistogram(img), ok = true, err = null)
                case Left(reason) =>
                  MediaFeatures(r.media_id, r.meta.kind, r.bytes.length.toLong,
                    new Array[Float](FeatureDim), ok = false, err = reason)
              }
            case "audio" if isWav(r.bytes) =>
              decodeAudio(r.bytes) match {
                case Right((_, samples)) =>
                  MediaFeatures(r.media_id, r.meta.kind, r.bytes.length.toLong,
                    rmsProfile(samples), ok = true, err = null)
                case Left(reason) =>
                  MediaFeatures(r.media_id, r.meta.kind, r.bytes.length.toLong,
                    new Array[Float](FeatureDim), ok = false, err = reason)
              }
            case "audio" => // MP3/OGG etc.: no JDK codec — stand-in,
              // NOT quarantine (the payload isn't corrupt)
              MediaFeatures(r.media_id, r.meta.kind, r.bytes.length.toLong,
                byteSignatureFeatures(r.bytes), ok = true, err = null)
            case "video" if isAvi(r.bytes) =>
              // real MJPEG path: mean pixel histogram over ≤ 4 evenly
              // spaced frames (first AND last included — a fixed
              // stride would never reach a long clip's tail); only the
              // sampled frames are copied out of the container. A bad
              // container OR a bad frame both quarantine
              val feats = aviFrameRanges(r.bytes).flatMap {
                case (_, ranges) =>
                  val n = ranges.size
                  val sampled =
                    if (n <= 4) ranges.indices
                    else (0 to 3).map(i => i * (n - 1) / 3).distinct
                  val hists = sampled.map { i =>
                    val (off, len) = ranges(i)
                    decodeImage(
                      java.util.Arrays.copyOfRange(r.bytes, off, off + len))
                  }
                  hists.collectFirst { case Left(e) => e } match {
                    case Some(e) => Left(s"frame decode: $e")
                    case None =>
                      val imgs = hists.collect { case Right(img) =>
                        luminanceHistogram(img) }
                      val mean = new Array[Float](FeatureDim)
                      imgs.foreach(hs => (0 until FeatureDim)
                        .foreach(j => mean(j) += hs(j) / imgs.size))
                      Right(mean)
                  }
              }
              feats match {
                case Right(v) =>
                  MediaFeatures(r.media_id, r.meta.kind, r.bytes.length.toLong,
                    v, ok = true, err = null)
                case Left(reason) =>
                  MediaFeatures(r.media_id, r.meta.kind, r.bytes.length.toLong,
                    new Array[Float](FeatureDim), ok = false, err = reason)
              }
            case "document" if isPdf(r.bytes) =>
              // archived-scrape PDFs (the reference's save_pdf output):
              // structural profile as features — page count, object
              // count, bytes/page — corrupt files quarantine
              pdfMeta(r.bytes) match {
                case Right(m) =>
                  val f = new Array[Float](FeatureDim)
                  f(0) = m.nPages.toFloat
                  f(1) = m.nObjects.toFloat
                  f(2) = r.bytes.length.toFloat / m.nPages
                  MediaFeatures(r.media_id, r.meta.kind, r.bytes.length.toLong,
                    f, ok = true, err = null)
                case Left(reason) =>
                  MediaFeatures(r.media_id, r.meta.kind, r.bytes.length.toLong,
                    new Array[Float](FeatureDim), ok = false, err = reason)
              }
            case _ => // video/document in a container with no JDK (or
              // built-in) decoder — byte-signature stand-in (NOT
              // quarantine: the payload isn't corrupt, this engine
              // just has no decoder for it)
              MediaFeatures(r.media_id, r.meta.kind, r.bytes.length.toLong,
                byteSignatureFeatures(r.bytes), ok = true, err = null)
          }
        }
      }
    }
  }

  // ------------------------------------------------------------------
  // PDF: the reference ARCHIVES scraped pages as PDF (save_pdf,
  // national/_1034/extract.py:114; pypdf.PdfWriter,
  // states/_1236/extract.py:4) — those archives ingest here as binary
  // columns, and this kernel is the typed-metadata projection over
  // them: structural fields straight off the bytes, no external PDF
  // library, scan-speed.
  // ------------------------------------------------------------------

  case class PdfMeta(version: String, nPages: Int, nObjects: Int)

  def isPdf(bytes: Array[Byte]): Boolean =
    bytes.length >= 8 && bytes(0) == '%' && bytes(1) == 'P' &&
      bytes(2) == 'D' && bytes(3) == 'F' && bytes(4) == '-'

  private val PdfPageRe = """/Type\s*/Page(?!s)""".r
  private val PdfObjRe = """(?m)^\d+\s+\d+\s+obj\b""".r

  /** Structural metadata: header version, LEAF page-object count
    * (`/Type /Page`, excluding the `/Pages` tree nodes), indirect
    * object count. Truncated files (no `%%EOF`) and page-less files
    * report Left — the quarantine signal, never a task failure.
    * Bytes are viewed through ISO-8859-1 (byte-preserving), so binary
    * stream content between the ASCII structure tokens is harmless. */
  def pdfMeta(bytes: Array[Byte]): Either[String, PdfMeta] = {
    if (!isPdf(bytes)) Left("not a PDF (missing %PDF- header)")
    else {
      val s = new String(bytes, java.nio.charset.StandardCharsets.ISO_8859_1)
      val version = s.drop(5).takeWhile(c => !c.isWhitespace)
      val nPages = PdfPageRe.findAllIn(s).size
      val nObjects = PdfObjRe.findAllIn(s).size
      if (!s.contains("%%EOF")) Left("truncated PDF (no %%EOF)")
      else if (version.isEmpty) Left("malformed PDF version header")
      else if (nPages == 0) Left("no page objects")
      else Right(PdfMeta(version, nPages, nObjects))
    }
  }

  /** Minimal but genuinely valid PDF: catalog + page tree + `n` empty
    * pages, a correct xref table and trailer. Deterministic bytes. */
  private[graft] def syntheticPdf(nPages: Int): Array[Byte] = {
    require(nPages >= 1, "syntheticPdf: nPages >= 1")
    val sb = new StringBuilder
    val offsets = scala.collection.mutable.ArrayBuffer.empty[Int]
    sb.append("%PDF-1.4\n")
    def obj(body: String): Unit = {
      offsets += sb.length
      sb.append(body).append('\n')
    }
    val kids = (0 until nPages).map(i => s"${3 + i} 0 R").mkString(" ")
    obj("1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj")
    obj(s"2 0 obj << /Type /Pages /Kids [$kids] /Count $nPages >> endobj")
    (0 until nPages).foreach { i =>
      obj(s"${3 + i} 0 obj << /Type /Page /Parent 2 0 R " +
        "/MediaBox [0 0 612 792] >> endobj")
    }
    val xrefAt = sb.length
    sb.append(s"xref\n0 ${offsets.size + 1}\n")
    sb.append("0000000000 65535 f \n")
    offsets.foreach(o => sb.append(f"$o%010d 00000 n \n"))
    sb.append(s"trailer << /Size ${offsets.size + 1} /Root 1 0 R >>\n")
    sb.append(s"startxref\n$xrefAt\n%%EOF\n")
    sb.toString.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
  }

  // ------------------------------------------------------------------
  // PDF text extraction: the content-text pull pdfMeta stops short of
  // — an LLM-data pipeline ingesting archived PDFs needs the TEXT, not
  // just the structural profile. Bounded and quarantine-disciplined:
  // per-stream and total output caps, corrupt Flate data quarantines
  // the row (never the task), unsupported filters are skipped (their
  // absence is visible in the empty/short text, not a crash).
  // ------------------------------------------------------------------

  /** Per-stream inflate cap and total text cap — the bounds that keep
    * a decompression bomb from OOMing an executor on one row. */
  val PdfMaxStreamBytes: Int = 4 << 20
  val PdfMaxTextChars: Int = 200000

  // All alternations are character-DISJOINT (the catch-all classes
  // exclude every char the other branches start with), so the Java
  // regex engine never backtracks — a crafted 4 MB stream of '(((('
  // must not be able to hang an executor (SourcesSpec pins a
  // pathological input completing fast).
  private val PdfTjRe = """(?s)\(((?:\\.|[^\\()])*)\)\s*Tj""".r
  private val PdfTjArrRe =
    """(?s)\[((?:\((?:\\.|[^\\()])*\)|[^\]()])*)\]\s*TJ""".r
  private val PdfStrRe = """(?s)\(((?:\\.|[^\\()])*)\)""".r

  /** PDF literal-string unescape: \( \) \\ \n \r \t \b \f and
    * 1-3 digit octal codes; an escaped EOL is a line continuation. */
  private[graft] def pdfUnescape(raw: String): String = {
    val out = new StringBuilder(raw.length)
    var i = 0
    while (i < raw.length) {
      val c = raw.charAt(i)
      if (c != '\\' || i + 1 >= raw.length) { out.append(c); i += 1 }
      else {
        raw.charAt(i + 1) match {
          case 'n' => out.append('\n'); i += 2
          case 'r' => out.append('\r'); i += 2
          case 't' => out.append('\t'); i += 2
          case 'b' => out.append('\b'); i += 2
          case 'f' => out.append('\f'); i += 2
          case '\n' => i += 2 // line continuation
          case '\r' =>
            i += (if (i + 2 < raw.length && raw.charAt(i + 2) == '\n') 3
                  else 2)
          case d if d >= '0' && d <= '7' =>
            var j = i + 1
            var v = 0
            while (j < raw.length && j <= i + 3 &&
                raw.charAt(j) >= '0' && raw.charAt(j) <= '7') {
              v = v * 8 + (raw.charAt(j) - '0'); j += 1
            }
            out.append((v & 0xff).toChar); i = j
          case other => out.append(other); i += 2
        }
      }
    }
    out.toString
  }

  /** Inflate with a hard output bound; Left on corrupt/truncated
    * deflate data (the quarantine signal). */
  private def inflateBounded(data: Array[Byte],
      maxOut: Int): Either[String, Array[Byte]] = {
    val inf = new java.util.zip.Inflater()
    inf.setInput(data)
    val bos = new ByteArrayOutputStream(math.min(data.length * 4, 1 << 16))
    val buf = new Array[Byte](8192)
    try {
      while (!inf.finished() && bos.size() < maxOut) {
        val n = inf.inflate(buf)
        if (n == 0) {
          if (inf.finished()) ()
          else return Left(
            "truncated Flate stream (inflater stalled before finish)")
        } else bos.write(buf, 0, n)
      }
      Right(bos.toByteArray)
    } catch {
      case e: java.util.zip.DataFormatException =>
        Left(s"corrupt Flate stream: ${e.getMessage}")
    } finally inf.end()
  }

  /** Extract the text shown by a PDF's content streams — every
    * `(…) Tj` / `[…] TJ` literal string, unescaped, in stream order,
    * pages joined as encountered. Uncompressed and /FlateDecode
    * streams are read (the two encodings the reference's pypdf
    * archives actually emit); other filters are skipped. Structure
    * errors (bad header, missing %%EOF) and corrupt Flate data
    * return Left — quarantine, never a task failure. A valid PDF
    * with no text operators returns Right("") (an image-only page is
    * not corrupt). Bounded: [[PdfMaxStreamBytes]] per stream,
    * [[PdfMaxTextChars]] total. */
  def pdfText(bytes: Array[Byte],
      maxChars: Int = PdfMaxTextChars): Either[String, String] = {
    if (!isPdf(bytes)) Left("not a PDF (missing %PDF- header)")
    else {
      val s = new String(bytes, java.nio.charset.StandardCharsets.ISO_8859_1)
      if (!s.contains("%%EOF")) Left("truncated PDF (no %%EOF)")
      else {
        val out = new StringBuilder
        var idx = 0
        var done = false
        var err: String = null
        while (!done && err == null && out.length < maxChars) {
          val st = s.indexOf("stream", idx)
          if (st < 0) done = true
          else {
            // content begins after the keyword's EOL (PDF: CRLF or LF)
            var cs = st + "stream".length
            if (cs < s.length && s.charAt(cs) == '\r') cs += 1
            if (cs < s.length && s.charAt(cs) == '\n') cs += 1
            val en = s.indexOf("endstream", cs)
            if (en < 0) err = "unterminated content stream"
            else {
              // the object dict sits just before the keyword — a
              // bounded look-back CUT AT THE OBJECT BOUNDARY reads
              // its /Filter without bleeding the previous object's in
              val back = s.substring(math.max(0, st - 300), st)
              val dict = back.lastIndexOf("obj") match {
                case -1 => back
                case k => back.substring(k)
              }
              val content: Either[String, String] =
                if (dict.contains("/FlateDecode"))
                  inflateBounded(
                    s.substring(cs, en).getBytes(
                      java.nio.charset.StandardCharsets.ISO_8859_1),
                    PdfMaxStreamBytes).map(b => new String(b,
                    java.nio.charset.StandardCharsets.ISO_8859_1))
                else if (dict.contains("/Filter")) Right("") // skipped
                else Right(s.substring(cs, en))
              content match {
                case Left(reason) => err = reason
                case Right(c) =>
                  PdfTjRe.findAllMatchIn(c).foreach(m =>
                    out.append(pdfUnescape(m.group(1))))
                  PdfTjArrRe.findAllMatchIn(c).foreach(arr =>
                    PdfStrRe.findAllMatchIn(arr.group(1)).foreach(m =>
                      out.append(pdfUnescape(m.group(1)))))
                  idx = en + "endstream".length
              }
            }
          }
        }
        if (err != null) Left(err)
        else Right(out.toString.take(maxChars))
      }
    }
  }

  /** One extracted-text row per document payload — ok=false carries
    * the quarantine reason, text is "" there. */
  case class PdfTextRow(media_id: Long, text: String, ok: Boolean,
      err: String)

  /** Text extraction over a media dataset's PDF rows (non-PDF rows
    * quarantine with their reason — route them like
    * [[extractFeatures]]' quarantine view). A pure typed projection:
    * no shuffle, bounded memory per row. */
  def pdfTexts(media: Dataset[MediaRow])(
      implicit spark: SparkSession): Dataset[PdfTextRow] = {
    import spark.implicits._
    media.map { r =>
      pdfText(r.bytes) match {
        case Right(t) => PdfTextRow(r.media_id, t, ok = true, err = null)
        case Left(reason) => PdfTextRow(r.media_id, "", ok = false,
          err = reason)
      }
    }
  }

  /** Valid PDF with one TEXT content stream per page (`BT (…) Tj ET`),
    * optionally /FlateDecode-compressed — the fixture generator for
    * the text-extraction round trip (and a real single-font one-column
    * PDF any viewer opens). Deterministic bytes given inputs. */
  private[graft] def syntheticTextPdf(pageTexts: Seq[String],
      compress: Boolean): Array[Byte] = {
    require(pageTexts.nonEmpty, "syntheticTextPdf: at least one page")
    def esc(t: String): String = t
      .replace("\\", "\\\\").replace("(", "\\(").replace(")", "\\)")
    val bos = new ByteArrayOutputStream()
    val offsets = scala.collection.mutable.ArrayBuffer.empty[Int]
    def raw(str: String): Unit = bos.write(
      str.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1))
    def obj(body: String): Unit = { offsets += bos.size(); raw(body) }
    raw("%PDF-1.4\n")
    val n = pageTexts.size
    val kids = (0 until n).map(i => s"${3 + 2 * i} 0 R").mkString(" ")
    obj("1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n")
    obj(s"2 0 obj << /Type /Pages /Kids [$kids] /Count $n >> endobj\n")
    pageTexts.zipWithIndex.foreach { case (t, i) =>
      val pageId = 3 + 2 * i
      val contId = pageId + 1
      obj(s"$pageId 0 obj << /Type /Page /Parent 2 0 R " +
        s"/MediaBox [0 0 612 792] /Contents $contId 0 R " +
        "/Resources << /Font << /F1 << /Type /Font /Subtype /Type1 " +
        "/BaseFont /Helvetica >> >> >> >> endobj\n")
      val content = s"BT /F1 12 Tf 72 720 Td (${esc(t)}) Tj ET"
        .getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
      val payload =
        if (!compress) content
        else {
          val d = new java.util.zip.Deflater()
          d.setInput(content); d.finish()
          val cb = new ByteArrayOutputStream(content.length)
          val buf = new Array[Byte](8192)
          while (!d.finished()) cb.write(buf, 0, d.deflate(buf))
          d.end()
          cb.toByteArray
        }
      offsets += bos.size()
      raw(s"$contId 0 obj << /Length ${payload.length}" +
        (if (compress) " /Filter /FlateDecode" else "") +
        " >> stream\n")
      bos.write(payload)
      raw("\nendstream endobj\n")
    }
    val xrefAt = bos.size()
    raw(s"xref\n0 ${offsets.size + 1}\n")
    raw("0000000000 65535 f \n")
    offsets.foreach(o => raw(f"$o%010d 00000 n \n"))
    raw(s"trailer << /Size ${offsets.size + 1} /Root 1 0 R >>\n")
    raw(s"startxref\n$xrefAt\n%%EOF\n")
    bos.toByteArray
  }

  /** The quarantine view: rows whose payload failed its codec. Pipe to
    * a side sink; the main pipeline continues on `ok` rows. */
  def quarantine(feats: Dataset[MediaFeatures]): Dataset[MediaFeatures] =
    feats.filter(!_.ok)

  /** Real bounded-memory thumbnail: decode, scale onto a targetW×targetH
    * canvas with bilinear interpolation, re-encode PNG. Peak heap per
    * row = one decoded frame + one target-sized buffer — independent of
    * batch/partition size. Non-image rows pass through untouched;
    * CORRUPT image rows also pass through untouched (bytes and meta
    * unmodified) so the caller can route them via [[extractFeatures]]'s
    * quarantine rather than losing them here. Meta carries the REAL
    * output dimensions. */
  def resize(
      media: Dataset[MediaRow], targetW: Int, targetH: Int)(
      implicit spark: SparkSession): Dataset[MediaRow] = {
    import spark.implicits._
    media.map { r =>
      if (r.meta.kind != "image") r
      else decodeImage(r.bytes) match {
        case Right(img) =>
          val thumb = new BufferedImage(targetW, targetH,
            BufferedImage.TYPE_INT_RGB)
          val g = thumb.createGraphics()
          try {
            g.setRenderingHint(
              java.awt.RenderingHints.KEY_INTERPOLATION,
              java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
            g.drawImage(img, 0, 0, targetW, targetH, null)
          } finally g.dispose()
          r.copy(bytes = encodePng(thumb),
            meta = r.meta.copy(width = targetW, height = targetH))
        case Left(_) => r
      }
    }
  }

  /** Frame sampling for video rows: every `stride`-th REAL frame from
    * the AVI container, with its true timestamp (from the avih frame
    * period) and encoded byte size — the explode shape a frame-level
    * feature extractor consumes. Zero-copy: frame (offset, length)
    * pairs come from [[aviFrameRanges]], no payload is materialised.
    *
    * Rows this pass CANNOT emit frames for — non-AVI containers and
    * malformed AVIs — produce NOTHING here; they are NOT silently
    * fine. Run [[frameSampleDropped]] alongside and route its rows to
    * a side sink: at 100 TB an empty result is indistinguishable from
    * a zero-frame clip without that signal. */
  def frameSample(
      media: Dataset[MediaRow], stride: Int)(
      implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    media.filter(_.meta.kind == "video")
      .flatMap { r =>
        aviFrameRanges(r.bytes) match {
          case Right((m, ranges)) =>
            (0 until ranges.size by stride).map { f =>
              (r.media_id, f, f.toLong * m.usPerFrame / 1000L,
                ranges(f)._2.toLong)
            }
          case Left(_) => Seq.empty
        }
      }
      .toDF("media_id", "frame_idx", "offset_ms", "n_bytes")
  }

  /** The video rows [[frameSample]] dropped, with the parse reason —
    * the quarantine signal for the frame-explode path (non-AVI
    * containers land here too: frame extraction, unlike
    * [[extractFeatures]]'s stand-in features, has no fallback). */
  def frameSampleDropped(
      media: Dataset[MediaRow])(
      implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    media.filter(_.meta.kind == "video")
      .flatMap { r =>
        aviFrameRanges(r.bytes) match {
          case Right(_) => None
          case Left(reason) => Some((r.media_id, reason))
        }
      }
      .toDF("media_id", "reason")
  }
}
