package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** A multimodal record: opaque media bytes + typed metadata. At 100 TB the
  * bytes live in parquet binary columns (or pointers to object storage);
  * everything the engine does with them is per-row narrow work that never
  * shuffles the payload.
  */
final case class MediaRecord(
    media_id: Long,
    media_type: String,   // "image" | "audio" | "video" | "text"
    content: Array[Byte],
    width: Option[Int],
    height: Option[Int],
    duration_ms: Option[Long])

final case class MediaFeatures(
    media_id: Long,
    media_type: String,
    n_bytes: Long,
    content_md5: String,
    sniffed_format: String,
    feature: Array[Float])  // decoder output (stubbed, see below)

/** Per-image decode output: REAL pixel statistics from a REAL codec
  * pass ([[Multimodal.decodeImage]]). Integer channel sums, not float
  * means — exact, hash-stable, and recomputable in plain SQL.
  */
final case class ImageStats(
    width: Int, height: Int, r_sum: Long, g_sum: Long, b_sum: Long)

/** Multimodal-column plumbing: schema, format sniffing, digesting, and the
  * batch-shaped decode pipeline. IMAGE decode is REAL — the JDK's
  * `javax.imageio` reads PNG/JPEG/GIF/BMP with no native libraries, so
  * [[decodeImage]]/[[imageFeatures]] run actual codec work inside the
  * per-partition contract. Audio/video remain honestly STUBBED (no
  * ffmpeg in this environment); their Spark-side shape (binary column
  * in, fixed-width feature out, batched per partition, payload never
  * shuffled) is real and tested.
  */
object Multimodal {

  /** Magic-byte format sniffing as a pure Column expression (first bytes of
    * the binary column, hex-compared). Covers the common containers.
    */
  def sniffFormat(content: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val head = hex(substring(content, 1, 8))
    when(head.startsWith("FFD8FF"), "jpeg")
      .when(head.startsWith("89504E47"), "png")
      .when(head.startsWith("47494638"), "gif")
      .when(head.startsWith("494433"), "mp3")
      .when(head.startsWith("52494646"), "riff") // wav/avi
      .when(head.startsWith("664C6143"), "flac")
      .otherwise("unknown")
  }

  /** Media metadata as a PURE projection — every emitted column
    * (`octet_length`, `md5`, magic-byte sniff) is a codegen'd Column
    * expression, so the registered metadata query is one scan + project
    * with no object serialization ([[decodeFeatures]] stays the
    * codec-contract API for the stubbed decode step, which genuinely
    * needs per-partition context).
    */
  def meta(df: DataFrame, idCol: String,
           content: org.apache.spark.sql.Column): DataFrame =
    df.select(col(idCol).cast("long").as("media_id"),
      octet_length(content).cast("long").as("n_bytes"),
      md5(content).as("content_md5"),
      sniffFormat(content).as("sniffed_format"))

  /** Deterministic fake "decode": a 16-dim byte-histogram of the payload.
    * STUB for a real codec (libjpeg/ffmpeg are unavailable here); a real
    * deployment swaps `decodeBatch` for the codec call — the partition
    * batching, schema, and shuffle-free shape stay identical.
    */
  private def fakeDecode(bytes: Array[Byte]): Array[Float] = {
    val hist = new Array[Float](16)
    var i = 0
    while (i < bytes.length) { hist((bytes(i) & 0xFF) >> 4) += 1f; i += 1 }
    val n = math.max(1, bytes.length).toFloat
    hist.map(_ / n)
  }

  private def md5Hex(bytes: Array[Byte]): String =
    java.security.MessageDigest.getInstance("MD5").digest(bytes)
      .map("%02x".format(_)).mkString

  private def sniff(bytes: Array[Byte]): String = {
    def at(i: Int) = if (i < bytes.length) bytes(i) & 0xFF else -1
    if (at(0) == 0xFF && at(1) == 0xD8 && at(2) == 0xFF) "jpeg"
    else if (at(0) == 0x89 && at(1) == 0x50 && at(2) == 0x4E && at(3) == 0x47) "png"
    else if (at(0) == 0x47 && at(1) == 0x49 && at(2) == 0x46) "gif"
    else "unknown"
  }

  /** Batch feature extraction: mapPartitions so a real decoder could reuse
    * one codec context per partition (the Scala analogue of arrow-batched
    * UDF execution). Narrow — no shuffle, payload read once.
    */
  def decodeFeatures(ds: Dataset[MediaRecord]): Dataset[MediaFeatures] = {
    import ds.sparkSession.implicits._
    ds.mapPartitions { it =>
      // per-partition decoder context would be initialized here
      it.map { r =>
        MediaFeatures(r.media_id, r.media_type, r.content.length.toLong,
          md5Hex(r.content), sniff(r.content), fakeDecode(r.content))
      }
    }
  }

  // ---- REAL image codec (JDK javax.imageio — no native libraries) ----

  /** Decode an image payload with the JDK's ImageIO and return exact
    * pixel statistics: dimensions plus per-channel integer sums over
    * sRGB values. `None` when the bytes are not a decodable image —
    * the caller decides whether that is a dirty-data drop or an error.
    *
    * Integer sums (not float means) keep the output exact and
    * SQL-replayable; for PNG (lossless) the decoded pixels equal the
    * encoded ones bit for bit, which is what lets the registered
    * `multimodal_decode` query hash-verify a REAL encode→decode round
    * trip against a closed-form oracle.
    */
  def decodeImage(bytes: Array[Byte]): Option[ImageStats] =
    readImage(bytes).map(statsOf)

  /** `ImageIO.read` with ALL decoder failures surfaced as `None`:
    * javax.imageio plugins throw RuntimeExceptions (IAE, CMMException,
    * IndexOutOfBounds) on malformed payloads, not just IOException —
    * on a dirty corpus a narrow catch kills the task instead of
    * letting the row surface as undecodable.
    */
  private def readImage(bytes: Array[Byte]): Option[java.awt.image.BufferedImage] =
    try Option(javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(bytes)))
    catch { case scala.util.control.NonFatal(_) => None }

  private def statsOf(img: java.awt.image.BufferedImage): ImageStats = {
    val w = img.getWidth
    val h = img.getHeight
    var rs = 0L; var gs = 0L; var bs = 0L
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val p = img.getRGB(x, y) // sRGB, alpha in the high byte
        rs += (p >> 16) & 0xFF; gs += (p >> 8) & 0xFF; bs += p & 0xFF
        x += 1
      }
      y += 1
    }
    ImageStats(w, h, rs, gs, bs)
  }

  /** [[decodeImage]] against a partition-scoped reusable reader — the
    * per-partition-codec contract cashed in. `ImageIO.read` pays a
    * provider-registry scan AND (with the default use-cache setting) a
    * temp-FILE-backed input stream per call — per-image disk churn that
    * dominated small-image decode at the 100× anchor. The reusable
    * reader + an explicit memory-cached stream keep the whole decode
    * in-heap; same decoded pixels (same PNG plugin underneath).
    */
  private[multimodal] def decodeWith(reader: javax.imageio.ImageReader,
                                     bytes: Array[Byte]): Option[ImageStats] = {
    val iis = new javax.imageio.stream.MemoryCacheImageInputStream(
      new java.io.ByteArrayInputStream(bytes))
    val img =
      try {
        reader.setInput(iis, true, true)
        reader.read(0)
      } catch { case _: Exception => null }
      finally iis.close()
    if (img == null) None else Some(statsOf(img))
  }

  /** Bilinear-resize a decoded image in memory (no PNG re-encode /
    * re-decode round trip — the [[dhashOf]] path pays two needless
    * codec passes otherwise). */
  private def scaleTo(src: java.awt.image.BufferedImage, w: Int,
                      h: Int): java.awt.image.BufferedImage = {
    val dst = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    val g = dst.createGraphics()
    try {
      g.setRenderingHint(java.awt.RenderingHints.KEY_INTERPOLATION,
        java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
      g.drawImage(src, 0, 0, w, h, null)
    } finally g.dispose()
    dst
  }

  /** Batch image decode through the per-partition codec contract: one
    * `mapPartitions` pass (same shape as [[decodeFeatures]] — a real
    * deployment hoists reusable codec state to the partition scope),
    * payload read once, never shuffled. Undecodable rows surface with
    * null stats rather than vanishing — at corpus scale silent drops
    * hide dirty-data problems; filter explicitly downstream.
    *
    * Input: (media_id long, content binary). Output: media_id,
    * sniffed_format, decodable, width, height, r_sum, g_sum, b_sum.
    */
  def imageFeatures(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col("media_id").cast("long"), col("content"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        // per-partition codec scope: ONE reusable PNG reader (see
        // decodeWith — ImageIO.read's registry scan + temp-file-cached
        // stream per call dominated small-image decode at the 100×
        // anchor); non-PNG payloads fall back to the generic path
        lazy val pngReader = javax.imageio.ImageIO
          .getImageReadersByFormatName("png").next()
        it.map { case (id, bytes) =>
          val fmt = sniff(bytes)
          val stats =
            if (fmt == "png") decodeWith(pngReader, bytes)
            else decodeImage(bytes)
          (id, fmt, stats.isDefined,
            stats.map(_.width), stats.map(_.height),
            stats.map(_.r_sum), stats.map(_.g_sum), stats.map(_.b_sum))
        }
      }
      .toDF("media_id", "sniffed_format", "decodable", "width", "height",
        "r_sum", "g_sum", "b_sum")
  }

  /** Render the deterministic 8×8 RGB fixture image for an id and
    * encode it as a REAL PNG via ImageIO — a single-image test fixture
    * (MultimodalSpec); the rows build frames with [[syntheticImages]].
    * Pixel (x, y) of image `id`
    * has channels
    * `r = (id·31 + x·7 + y·13) mod 256`,
    * `g = (id·17 + x·11 + y·3) mod 256`,
    * `b = (id·7 + x·5 + y·19) mod 256` —
    * a closed form a SQL oracle reproduces exactly, so a hash-green
    * decode row proves the real codec round-trip (PNG is lossless)
    * pixel for pixel.
    */
  def syntheticPng(id: Long, w: Int = 8, h: Int = 8): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    fillFixturePixels(img, id)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  private def fillFixturePixels(img: java.awt.image.BufferedImage,
                                id: Long): Unit = {
    require(id >= 0, s"fixture formula assumes non-negative id, got $id")
    val w = img.getWidth; val h = img.getHeight
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val r = ((id * 31 + x * 7 + y * 13) % 256).toInt
        val g = ((id * 17 + x * 11 + y * 3) % 256).toInt
        val b = ((id * 7 + x * 5 + y * 19) % 256).toInt
        img.setRGB(x, y, (r << 16) | (g << 8) | b)
        x += 1
      }
      y += 1
    }
  }

  /** PNG-encode with a partition-scoped reusable writer + an explicit
    * in-memory output stream (the encode half of [[decodeWith]]'s
    * codec-reuse rationale — `ImageIO.write` pays the registry scan
    * and a temp-FILE-backed output stream per call). Same plugin, same
    * bytes. */
  private[multimodal] def encodePngWith(writer: javax.imageio.ImageWriter,
      img: java.awt.image.BufferedImage): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val ios = new javax.imageio.stream.MemoryCacheImageOutputStream(bos)
    try {
      writer.setOutput(ios)
      writer.write(img)
      ios.flush()
    } finally ios.close()
    bos.toByteArray
  }

  /** An id-keyed frame of REAL PNG payloads (the fixture generator for
    * the decode pipeline): narrow mapPartitions encode, binary column
    * out — the write half of the codec round trip.
    */
  def syntheticImages(ids: DataFrame, idCol: String, w: Int = 8,
                      h: Int = 8): DataFrame = {
    val spark = ids.sparkSession
    import spark.implicits._
    ids.select(col(idCol).cast("long")).as[Long]
      .mapPartitions { it =>
        // per-partition codec scope: one PNG writer and one pixel
        // buffer, reused across the partition (see encodePngWith)
        lazy val writer = javax.imageio.ImageIO
          .getImageWritersByFormatName("png").next()
        lazy val img = new java.awt.image.BufferedImage(w, h,
          java.awt.image.BufferedImage.TYPE_INT_RGB)
        it.map { id =>
          fillFixturePixels(img, id)
          (id, encodePngWith(writer, img))
        }
      }
      .toDF("media_id", "content")
  }

  // ---- perceptual image hash (dHash) ----

  /** Integer luma (ITU-R 601 weights at 3 decimal places, integer
    * division) — SQL-replayable: `(299r + 587g + 114b) // 1000`. */
  private def lumaOf(p: Int): Int =
    (299 * ((p >> 16) & 0xFF) + 587 * ((p >> 8) & 0xFF) +
      114 * (p & 0xFF)) / 1000

  /** dHash over a decoded luma grid: bit (y·(w−1)+x) is set when
    * `luma(x+1, y) > luma(x, y)` — the classic difference hash. The
    * grid must carry at most 64 gradients (the canonical working point
    * is a 9×8 grid → 64 bits); arbitrary-size images go through
    * [[dhashOf]] which resizes to 9×8 first.
    */
  def dhash64(img: java.awt.image.BufferedImage): Long = {
    val w = img.getWidth; val h = img.getHeight
    require((w - 1) * h <= 64 && w >= 2,
      s"dhash64 needs a grid with <= 64 gradients, got ${w}x$h")
    var bits = 0L
    var y = 0
    while (y < h) {
      var x = 0
      var prev = lumaOf(img.getRGB(0, y))
      while (x < w - 1) {
        val next = lumaOf(img.getRGB(x + 1, y))
        if (next > prev) bits |= 1L << (y * (w - 1) + x)
        prev = next
        x += 1
      }
      y += 1
    }
    bits
  }

  /** Perceptual hash of an arbitrary image payload: decode, bilinear
    * resize to the canonical 9×8 luma grid, [[dhash64]]. The scalar
    * fixture MultimodalSpec checks [[dhashFeatures]] against; no
    * registered row calls it. `None` for
    * undecodable bytes. The resize makes re-encoded/rescaled
    * duplicates land within small Hamming distance — the property
    * [[graft.dedup.Dedup.hammingPairs]] turns into candidate pairs.
    * (The registered `image_neardup` query uses 9×8 fixtures directly
    * — no resize — so its oracle replays the exact grid; resize
    * determinism is JDK-internal and spec-tested, not oracle-pinned.)
    */
  def dhashOf(bytes: Array[Byte]): Option[Long] =
    readImage(bytes).map(dhashCanonical)

  /** dHash of a decoded image at the canonical 9×8 grid — images of any
    * other geometry are bilinear-resized in memory first (no re-encode
    * round trip). This is the per-image kernel [[dhashFeatures]] runs,
    * so a real corpus of arbitrary-size images never trips
    * [[dhash64]]'s 64-gradient bound. */
  private def dhashCanonical(img: java.awt.image.BufferedImage): Long =
    if (img.getWidth == 9 && img.getHeight == 8) dhash64(img)
    else dhash64(scaleTo(img, 9, 8))

  /** Batch dHash through the per-partition codec contract (reusable
    * PNG reader, the [[imageFeatures]] shape): (media_id, content) →
    * (media_id, decodable, dhash). Payload read once, never shuffled —
    * only the 8-byte fingerprint continues to the pair machinery.
    */
  def dhashFeatures(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col("media_id").cast("long"), col("content"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        lazy val pngReader = javax.imageio.ImageIO
          .getImageReadersByFormatName("png").next()
        it.map { case (id, bytes) =>
          val img =
            if (sniff(bytes) == "png") {
              val iis = new javax.imageio.stream.MemoryCacheImageInputStream(
                new java.io.ByteArrayInputStream(bytes))
              try { pngReader.setInput(iis, true, true); pngReader.read(0) }
              catch { case _: Exception => null }
              finally iis.close()
            } else readImage(bytes).orNull
          val dh = Option(img).map(dhashCanonical)
          (id, dh.isDefined, dh)
        }
      }
      .toDF("media_id", "decodable", "dhash")
  }

  /** Quadratic-residue pixel channel — the near-dup fixture formula.
    * The [[syntheticPng]] fixture's per-pixel values are LINEAR in
    * (x, y), which collapses every image's gradient signs onto a few
    * hundred dHash patterns; squaring modulo a prime decorrelates
    * adjacent columns, so fixture dHashes are distinct per id (27/27
    * planted pairs and nothing else at sf0.01 — measured) while
    * staying exactly SQL-replayable in 64-bit-safe integer arithmetic.
    * TWO independent prime residues are summed because one alone makes
    * the pixel grid PERIODIC in id with period = that prime: at 500k
    * ids a single mod-65521 formula repeats every image ~7.6×, and the
    * 1.6M hamming-0 twin pairs swamped the planted signal at the 100×
    * anchor. lcm(65521, 65479) ≈ 4.3·10⁹ pushes the period past any
    * realistic fixture size.
    */
  private def qrPx(id: Long, x: Int, y: Int, salt: Int): Int = {
    require(id >= 0, s"fixture formula assumes non-negative id, got $id")
    val c1 = (id * 73856093L + x * 19349663L + y * 83492791L +
      salt * 1299721L) % 65521L
    val c2 = (id * 2654435761L + x * 40503L + y * 30011L +
      salt * 914689L) % 65479L
    ((c1 * c1 % 65521L + c2 * c2 % 65479L) % 256L).toInt
  }

  private def fillQrPixels(img: java.awt.image.BufferedImage, id: Long,
                           perturb: Boolean): Unit = {
    val w = img.getWidth; val h = img.getHeight
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        var r = qrPx(id, x, y, 0)
        if (perturb && x == 0 && y == 0) r = (r + 64) % 256
        img.setRGB(x, y, (r << 16) | (qrPx(id, x, y, 1) << 8) |
          qrPx(id, x, y, 2))
        x += 1
      }
      y += 1
    }
  }

  /** The image near-dup fixture frame: one 9×8 PNG per id
    * (quadratic-residue pixels) plus, for the md5-chosen ~5% of ids, a
    * PERTURBED twin at id+10⁷ — channel R of pixel (0,0) shifted by
    * +64, a re-encoded near-duplicate whose dHash lands at Hamming
    * 0–1 from its original. Narrow mapPartitions encode with the
    * reusable PNG writer.
    */
  def syntheticImagesNearDup(ids: DataFrame, idCol: String,
                             base: Boolean = true,
                             twins: Boolean = true): DataFrame = {
    val spark = ids.sparkSession
    import spark.implicits._
    require(base || twins, "at least one of base/twins must be generated")
    val baseF = ids.select(col(idCol).cast("long").as("_id"),
      lit(false).as("_p"))
    val twinF = ids
      .filter(graft.util.Sampling.md5Bucket(col(idCol)) < 5)
      .select(col(idCol).cast("long").as("_id"), lit(true).as("_p"))
    val chosen =
      if (base && twins) baseF.unionByName(twinF)
      else if (base) baseF else twinF
    chosen.as[(Long, Boolean)]
      .mapPartitions { it =>
        lazy val writer = javax.imageio.ImageIO
          .getImageWritersByFormatName("png").next()
        lazy val img = new java.awt.image.BufferedImage(9, 8,
          java.awt.image.BufferedImage.TYPE_INT_RGB)
        it.map { case (id, p) =>
          fillQrPixels(img, id, p)
          (if (p) id + 10000000L else id, encodePngWith(writer, img))
        }
      }
      .toDF("media_id", "content")
  }

  // ---- REAL audio codec (JDK javax.sound.sampled — no native libs) ----

  /** Closed-form sample: frame `i` of channel `ch` of clip `id` is the
    * 16-bit signed value `((id·31 + i·7 + ch·13) mod 65536) − 32768` —
    * a formula a SQL oracle replays exactly, the audio twin of the
    * [[syntheticPng]] pixel formula.
    */
  private def sampleAt(id: Long, i: Int, ch: Int): Short = {
    require(id >= 0, s"fixture formula assumes non-negative id, got $id")
    (((id * 31 + i.toLong * 7 + ch.toLong * 13) % 65536) - 32768).toShort
  }

  /** A canonical 44-byte-header RIFF/WAVE payload (16-bit PCM stereo,
    * little-endian) carrying the closed-form fixture samples. The
    * header is written by hand — the WAV container is a fixed layout,
    * so the fixture generator pays no per-call codec-provider scan
    * (the ImageIO lesson); the DECODE side goes through the real
    * `javax.sound.sampled` SPI.
    */
  def syntheticWav(id: Long, nFrames: Int = 256,
                   sampleRate: Int = 8000): Array[Byte] = {
    val ch = 2
    val dataLen = nFrames * ch * 2
    val buf = java.nio.ByteBuffer.allocate(44 + dataLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val ascii = java.nio.charset.StandardCharsets.US_ASCII
    buf.put("RIFF".getBytes(ascii)); buf.putInt(36 + dataLen)
    buf.put("WAVE".getBytes(ascii))
    buf.put("fmt ".getBytes(ascii)); buf.putInt(16)
    buf.putShort(1) // PCM
    buf.putShort(ch.toShort)
    buf.putInt(sampleRate)
    buf.putInt(sampleRate * ch * 2) // byte rate
    buf.putShort((ch * 2).toShort) // block align
    buf.putShort(16) // bits per sample
    buf.put("data".getBytes(ascii)); buf.putInt(dataLen)
    var i = 0
    while (i < nFrames) {
      var c = 0
      while (c < ch) { buf.putShort(sampleAt(id, i, c)); c += 1 }
      i += 1
    }
    buf.array()
  }

  /** An id-keyed frame of REAL WAV payloads — the audio fixture
    * generator, same narrow mapPartitions shape as [[syntheticImages]].
    */
  def syntheticWavs(ids: DataFrame, idCol: String): DataFrame = {
    val spark = ids.sparkSession
    import spark.implicits._
    ids.select(col(idCol).cast("long")).as[Long]
      .mapPartitions(_.map(id => (id, syntheticWav(id))))
      .toDF("media_id", "content")
  }

  /** Decode a WAV/PCM payload through the `javax.sound.sampled` SPI
    * readers (hoisted to partition scope by [[audioFeatures]] — the
    * `AudioSystem.getAudioInputStream` front door re-scans the
    * provider registry per call, the same tax [[decodeWith]] removes
    * for images) and return exact per-channel 16-bit sample sums.
    * `None` when no provider decodes the bytes or the format is not
    * 16-bit PCM.
    */
  /** Mutable per-partition reader state: the full SPI list plus the
    * last reader that SUCCEEDED, tried first on the next payload. A
    * non-matching provider signals failure by THROWING
    * (UnsupportedAudioFileException — a stack-trace fill per reader
    * per row), so on a homogeneous corpus the preference turns
    * O(providers) exception overhead per row into one probe pass per
    * partition — measured 54.4s → (see BASELINE r8) at 500k WAVs.
    */
  private[multimodal] final class AudioReaders(
      val all: Seq[javax.sound.sampled.spi.AudioFileReader]) {
    var preferred: javax.sound.sampled.spi.AudioFileReader = null
  }

  private[multimodal] def decodeAudioWith(
      rs: AudioReaders,
      bytes: Array[Byte]): Option[(Int, Int, Long, Long, Long)] = {
    def tryOne(r: javax.sound.sampled.spi.AudioFileReader) =
      try Some(r.getAudioInputStream(new java.io.ByteArrayInputStream(bytes)))
      catch { case _: Exception => None }
    val ais = Option(rs.preferred).flatMap(tryOne).orElse {
      rs.all.iterator.flatMap { r =>
        val a = tryOne(r)
        if (a.isDefined) rs.preferred = r
        a
      }.nextOption()
    }
    ais.flatMap { st =>
      try {
        val fmt = st.getFormat
        if (fmt.getEncoding !=
            javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED ||
            fmt.getSampleSizeInBits != 16) None
        else {
          val ch = fmt.getChannels
          val frameSize = fmt.getFrameSize
          val data = st.readAllBytes()
          val n = data.length / frameSize
          def s16(off: Int): Long = {
            val lo = data(off) & 0xFF; val hi = data(off + 1)
            if (fmt.isBigEndian) ((data(off) << 8) | (data(off + 1) & 0xFF)).toLong
            else ((hi << 8) | lo).toLong
          }
          var s0 = 0L; var s1 = 0L; var i = 0
          while (i < n) {
            val off = i * frameSize
            s0 += s16(off)
            if (ch > 1) s1 += s16(off + 2)
            i += 1
          }
          Some((ch, fmt.getSampleRate.toInt, n.toLong, s0, s1))
        }
      } finally st.close()
    }
  }

  /** Batch audio decode through the per-partition codec contract:
    * the SPI reader list is materialized ONCE per partition, payload
    * read once, never shuffled — the audio twin of [[imageFeatures]].
    * Undecodable / non-16-bit-PCM rows surface with null stats.
    *
    * Input: (media_id long, content binary). Output: media_id,
    * sniffed_format, decodable, channels, sample_rate, n_frames,
    * ch0_sum, ch1_sum (ch1 null for mono).
    */
  def audioFeatures(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col("media_id").cast("long"), col("content"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        // per-partition codec scope: the SPI provider list loads once,
        // and the last SUCCESSFUL reader is tried first on each
        // subsequent payload (see AudioReaders)
        lazy val readers = {
          val b = Seq.newBuilder[javax.sound.sampled.spi.AudioFileReader]
          val ld = java.util.ServiceLoader
            .load(classOf[javax.sound.sampled.spi.AudioFileReader]).iterator()
          while (ld.hasNext) b += ld.next()
          new AudioReaders(b.result())
        }
        it.map { case (id, bytes) =>
          val fmt = {
            def at(i: Int) = if (i < bytes.length) bytes(i) & 0xFF else -1
            if (at(0) == 0x52 && at(1) == 0x49 && at(2) == 0x46 &&
              at(3) == 0x46) "riff"
            else "unknown"
          }
          val stats = decodeAudioWith(readers, bytes)
          (id, fmt, stats.isDefined, stats.map(_._1), stats.map(_._2),
            stats.map(_._3), stats.map(_._4),
            stats.filter(_._1 > 1).map(_._5))
        }
      }
      .toDF("media_id", "sniffed_format", "decodable", "channels",
        "sample_rate", "n_frames", "ch0_sum", "ch1_sum")
  }

  /** Two-prime quadratic-residue audio sample — the near-dup fixture
    * formula (the [[qrPx]] lesson applied to PCM): one prime alone
    * makes the sample stream periodic in id, and a naive
    * adjacent-window GRADIENT hash collapses too (the id enters the
    * stream as a translation, which order comparisons largely
    * survive — simulated 307k distinct fingerprints from 500k ids).
    * The registered fingerprint therefore mixes each window sum
    * multiplicatively ([[audioFpOf]]) — simulated 500k/500k distinct
    * at the 100× anchor, planted twins at Hamming ≤ 1, zero hot band
    * buckets.
    */
  private def qrSample(id: Long, i: Int, ch: Int): Short = {
    require(id >= 0, s"fixture formula assumes non-negative id, got $id")
    val c1 = (id * 73856093L + i * 19349663L + ch * 83492791L) % 65521L
    val c2 = (id * 2654435761L + i * 40503L + ch * 30011L) % 65479L
    (((c1 * c1 % 65521L + c2 * c2 % 65479L) % 65536L) - 32768L).toShort
  }

  /** The audio near-dup fixture frame: one 256-frame stereo PCM16 WAV
    * per id (quadratic-residue samples) plus, for the md5-chosen ~5%
    * of ids, a PERTURBED twin at id+10⁷ — channel 0 of frame 0
    * shifted by +1000 (wrapped int16), a re-encoded near-duplicate
    * whose fingerprint lands at Hamming 0–1 from its original. Same
    * narrow mapPartitions shape as [[syntheticImagesNearDup]]; the
    * DECODE side goes through the real `javax.sound.sampled` SPI.
    */
  def syntheticWavsNearDup(ids: DataFrame, idCol: String,
                           base: Boolean = true,
                           twins: Boolean = true): DataFrame = {
    val spark = ids.sparkSession
    import spark.implicits._
    require(base || twins, "at least one of base/twins must be generated")
    val baseF = ids.select(col(idCol).cast("long").as("_id"),
      lit(false).as("_p"))
    val twinF = ids
      .filter(graft.util.Sampling.md5Bucket(col(idCol)) < 5)
      .select(col(idCol).cast("long").as("_id"), lit(true).as("_p"))
    val chosen =
      if (base && twins) baseF.unionByName(twinF)
      else if (base) baseF else twinF
    chosen.as[(Long, Boolean)]
      .mapPartitions(_.map { case (id, p) =>
        (if (p) id + 10000000L else id, qrWav(id, p))
      })
      .toDF("media_id", "content")
  }

  private def qrWav(id: Long, perturb: Boolean, nFrames: Int = 256,
                    sampleRate: Int = 8000): Array[Byte] = {
    val ch = 2
    val dataLen = nFrames * ch * 2
    val buf = java.nio.ByteBuffer.allocate(44 + dataLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val ascii = java.nio.charset.StandardCharsets.US_ASCII
    buf.put("RIFF".getBytes(ascii)); buf.putInt(36 + dataLen)
    buf.put("WAVE".getBytes(ascii))
    buf.put("fmt ".getBytes(ascii)); buf.putInt(16)
    buf.putShort(1) // PCM
    buf.putShort(ch.toShort)
    buf.putInt(sampleRate)
    buf.putInt(sampleRate * ch * 2)
    buf.putShort((ch * 2).toShort)
    buf.putShort(16)
    buf.put("data".getBytes(ascii)); buf.putInt(dataLen)
    var i = 0
    while (i < nFrames) {
      var c = 0
      while (c < ch) {
        val raw = qrSample(id, i, c).toInt
        val v =
          if (perturb && i == 0 && c == 0)
            ((raw + 1000 + 32768) % 65536) - 32768
          else raw
        buf.putShort(v.toShort)
        c += 1
      }
      i += 1
    }
    buf.array()
  }

  /** 64-bit audio fingerprint from decoded ch-0 PCM16 samples: 64
    * windows × 4 frames, each window's INTEGER sample sum mixed
    * multiplicatively (Knuth constant, window index salted in so
    * equal sums in different windows decorrelate), bit w = the mix's
    * 2³¹ MSB. Exactly SQL-replayable (all intermediates non-negative,
    * < 2⁵⁵ — no overflow, no signed-% divergence), LOCAL (a one-
    * sample perturbation can flip only its own window's bit — the
    * planted-twin contract), and avalanche-mixed per bit (a gradient
    * hash of adjacent windows keeps the fixture's id-translation
    * structure and collapsed to 307k distinct values at 500k ids).
    */
  private[multimodal] def audioFpOf(winSums: Array[Long]): Long = {
    var fp = 0L
    var w = 0
    while (w < 64) {
      val m = ((winSums(w) + 131072L * (w + 1)) * 2654435761L) % 4294967296L
      if (m >= 2147483648L) fp |= 1L << w
      w += 1
    }
    fp
  }

  /** Batch audio fingerprint through the per-partition codec contract
    * (the [[dhashFeatures]] shape for the audio modality): WAV → SPI
    * decode (cached preferred reader) → ch-0 window sums over the
    * first 256 frames → [[audioFpOf]]. Payload read once, never
    * shuffled — only the 8-byte fingerprint continues to the Hamming
    * machinery. Rows that do not decode to ≥256-frame 16-bit PCM
    * surface undecodable.
    */
  def audioFingerprintFeatures(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col("media_id").cast("long"), col("content"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        lazy val readers = {
          val b = Seq.newBuilder[javax.sound.sampled.spi.AudioFileReader]
          val ld = java.util.ServiceLoader
            .load(classOf[javax.sound.sampled.spi.AudioFileReader]).iterator()
          while (ld.hasNext) b += ld.next()
          new AudioReaders(b.result())
        }
        it.map { case (id, bytes) =>
          val fp = decodeAudioFpWith(readers, bytes)
          (id, fp.isDefined, fp)
        }
      }
      .toDF("media_id", "decodable", "afp")
  }

  private[multimodal] def decodeAudioFpWith(
      rs: AudioReaders, bytes: Array[Byte]): Option[Long] = {
    def tryOne(r: javax.sound.sampled.spi.AudioFileReader) =
      try Some(r.getAudioInputStream(new java.io.ByteArrayInputStream(bytes)))
      catch { case _: Exception => None }
    val ais = Option(rs.preferred).flatMap(tryOne).orElse {
      rs.all.iterator.flatMap { r =>
        val a = tryOne(r)
        if (a.isDefined) rs.preferred = r
        a
      }.nextOption()
    }
    ais.flatMap { st =>
      try {
        val fmt = st.getFormat
        if (fmt.getEncoding !=
            javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED ||
            fmt.getSampleSizeInBits != 16) None
        else {
          val frameSize = fmt.getFrameSize
          val data = st.readAllBytes()
          val n = data.length / frameSize
          if (n < 256) None
          else {
            def s16(off: Int): Long =
              if (fmt.isBigEndian)
                ((data(off) << 8) | (data(off + 1) & 0xFF)).toLong
              else ((data(off + 1) << 8) | (data(off) & 0xFF)).toLong
            val sums = new Array[Long](64)
            var i = 0
            while (i < 256) {
              sums(i / 4) += s16(i * frameSize)
              i += 1
            }
            Some(audioFpOf(sums))
          }
        }
      } finally st.close()
    }
  }

  // ---- REAL video container parse (RIFF/AVI, uncompressed DIB frames) ----
  //
  // Compressed video needs ffmpeg (absent here) and stays an honest
  // stub. The CONTAINER level, however, is pure byte-walking: an AVI
  // file is RIFF chunks (the same published layout the WAV fixture
  // hand-writes), and an uncompressed BI_RGB AVI's '00db' frames are
  // plain bottom-up BGR DIB rows — no codec anywhere. So frame
  // demuxing + frame sampling, the operations a training pipeline runs
  // per video BEFORE any codec, are implemented for real and
  // hash-verified end to end; a deployment with ffmpeg swaps the DIB
  // branch for a codec call inside the same per-partition contract.

  /** Closed-form pixel: channel c of pixel (x, y) of frame f of clip
    * `id` — the video twin of the [[syntheticPng]] pixel formula, with
    * a per-frame term so every frame differs and a frame-sampling bug
    * (wrong frames picked) breaks the hash.
    */
  private def videoPx(id: Long, f: Int, x: Int, y: Int, c: Int): Int = {
    require(id >= 0, s"fixture formula assumes non-negative id, got $id")
    c match {
      case 0 => ((id * 31 + f * 29 + x * 7 + y * 13) % 256).toInt // R
      case 1 => ((id * 17 + f * 23 + x * 11 + y * 3) % 256).toInt // G
      case _ => ((id * 7 + f * 19 + x * 5 + y * 19) % 256).toInt  // B
    }
  }

  /** A canonical uncompressed AVI payload: RIFF('AVI ') with an 'hdrl'
    * LIST (avih + one 'vids'/'DIB ' stream with a 24-bit BI_RGB
    * BITMAPINFOHEADER) and a 'movi' LIST of one '00db' DIB chunk per
    * frame (bottom-up BGR rows, 4-byte-aligned). Hand-written like
    * [[syntheticWav]] — the container is a fixed public layout, so the
    * generator pays no codec work; the DECODE side walks the same
    * chunks back through [[decodeAviFrames]].
    */
  def syntheticAvi(id: Long, nFrames: Int = 8, w: Int = 8,
                   h: Int = 8): Array[Byte] =
    buildAvi(nFrames, w, h)((f, x, y, c) => videoPx(id, f, x, y, c))

  /** Assemble the canonical uncompressed AVI container around an
    * arbitrary per-(frame, x, y, channel) pixel function — shared by
    * the linear fixture ([[syntheticAvi]]) and the quadratic-residue
    * near-dup fixture ([[syntheticAvisNearDup]]). */
  private def buildAvi(nFrames: Int, w: Int, h: Int)(
      px: (Int, Int, Int, Int) => Int): Array[Byte] = {
    val rowBytes = ((w * 3 + 3) / 4) * 4
    val frameBytes = rowBytes * h
    val ascii = java.nio.charset.StandardCharsets.US_ASCII
    // sizes: hdrl list = 4 + (8+56) + (8 + 4 + (8+56) + (8+40))
    val strlSize = 4 + 8 + 56 + 8 + 40
    val hdrlSize = 4 + 8 + 56 + 8 + strlSize
    val moviSize = 4 + nFrames * (8 + frameBytes)
    val riffSize = 4 + 8 + hdrlSize + 8 + moviSize
    val buf = java.nio.ByteBuffer.allocate(8 + riffSize)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    def fourcc(s: String): Unit = buf.put(s.getBytes(ascii))
    fourcc("RIFF"); buf.putInt(riffSize); fourcc("AVI ")
    fourcc("LIST"); buf.putInt(hdrlSize); fourcc("hdrl")
    fourcc("avih"); buf.putInt(56)
    buf.putInt(100000)            // dwMicroSecPerFrame (10 fps)
    buf.putInt(frameBytes * 10)   // dwMaxBytesPerSec
    buf.putInt(0)                 // dwPaddingGranularity
    buf.putInt(0)                 // dwFlags
    buf.putInt(nFrames)           // dwTotalFrames
    buf.putInt(0)                 // dwInitialFrames
    buf.putInt(1)                 // dwStreams
    buf.putInt(frameBytes)        // dwSuggestedBufferSize
    buf.putInt(w)                 // dwWidth
    buf.putInt(h)                 // dwHeight
    buf.putInt(0); buf.putInt(0); buf.putInt(0); buf.putInt(0)
    fourcc("LIST"); buf.putInt(strlSize); fourcc("strl")
    fourcc("strh"); buf.putInt(56)
    fourcc("vids"); fourcc("DIB ")
    buf.putInt(0)                 // dwFlags
    buf.putShort(0); buf.putShort(0) // wPriority, wLanguage
    buf.putInt(0)                 // dwInitialFrames
    buf.putInt(1); buf.putInt(10) // dwScale / dwRate = 10 fps
    buf.putInt(0)                 // dwStart
    buf.putInt(nFrames)           // dwLength
    buf.putInt(frameBytes)        // dwSuggestedBufferSize
    buf.putInt(-1)                // dwQuality
    buf.putInt(0)                 // dwSampleSize
    buf.putShort(0); buf.putShort(0); buf.putShort(0); buf.putShort(0) // rcFrame
    fourcc("strf"); buf.putInt(40)
    buf.putInt(40)                // biSize
    buf.putInt(w); buf.putInt(h)  // biWidth / biHeight (bottom-up)
    buf.putShort(1)               // biPlanes
    buf.putShort(24)              // biBitCount
    buf.putInt(0)                 // biCompression = BI_RGB
    buf.putInt(frameBytes)        // biSizeImage
    buf.putInt(0); buf.putInt(0); buf.putInt(0); buf.putInt(0)
    fourcc("LIST"); buf.putInt(moviSize); fourcc("movi")
    var f = 0
    while (f < nFrames) {
      fourcc("00db"); buf.putInt(frameBytes)
      var row = h - 1 // DIB rows are stored bottom-up
      while (row >= 0) {
        var x = 0
        while (x < w) {
          buf.put(px(f, x, row, 2).toByte) // B
          buf.put(px(f, x, row, 1).toByte) // G
          buf.put(px(f, x, row, 0).toByte) // R
          x += 1
        }
        var pad = rowBytes - w * 3
        while (pad > 0) { buf.put(0.toByte); pad -= 1 }
        row -= 1
      }
      f += 1
    }
    buf.array()
  }

  /** An id-keyed frame of REAL AVI payloads — the video fixture
    * generator, same narrow mapPartitions shape as [[syntheticWavs]].
    */
  def syntheticAvis(ids: DataFrame, idCol: String): DataFrame = {
    val spark = ids.sparkSession
    import spark.implicits._
    ids.select(col(idCol).cast("long")).as[Long]
      .mapPartitions(_.map(id => (id, syntheticAvi(id))))
      .toDF("media_id", "content")
  }

  /** Per-sampled-frame decode output: exact integer channel sums, the
    * video analogue of [[ImageStats]]. */
  final case class FrameStats(
      frame_no: Int, width: Int, height: Int,
      r_sum: Long, g_sum: Long, b_sum: Long)

  /** Parse an uncompressed RIFF/AVI payload and return exact channel
    * sums for every `step`-th frame (frame sampling — the standard
    * pre-codec reduction for video corpora: nobody featurizes every
    * frame of 100 TB of video). Pure chunk-walking over the published
    * RIFF layout: 'hdrl' gives dimensions + bit depth, 'movi' gives
    * one '00db' DIB chunk per frame (bottom-up BGR, 4-byte-aligned
    * rows). `None` when the bytes are not RIFF/AVI or the stream is
    * not 24-bit BI_RGB (a compressed stream needs a codec — that is
    * the honest boundary of this parser).
    */
  /** Parsed uncompressed-AVI layout: dimensions + the 'movi' LIST
    * bounds holding the DIB frame chunks. */
  private final case class AviLayout(w: Int, h: Int, moviOff: Int,
                                     moviEnd: Int) {
    def rowBytes: Int = ((w * 3 + 3) / 4) * 4
  }

  private def parseAviLayout(bytes: Array[Byte]): Option[AviLayout] = {
    if (bytes.length < 12) return None
    val bb = java.nio.ByteBuffer.wrap(bytes)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    def fourcc(off: Int): String =
      if (off + 4 > bytes.length) ""
      else new String(bytes, off, 4, java.nio.charset.StandardCharsets.US_ASCII)
    if (fourcc(0) != "RIFF" || fourcc(8) != "AVI ") return None
    val end = math.min(bytes.length.toLong, 8L + bb.getInt(4)).toInt
    var w = -1; var h = -1; var bitCount = -1; var compression = -1
    var moviOff = -1; var moviEnd = -1
    // one pass over the top-level chunks; descend into LIST('hdrl') for
    // the stream format and remember LIST('movi') bounds for the frames
    var off = 12
    while (off + 8 <= end) {
      val id = fourcc(off); val sz = bb.getInt(off + 4)
      if (sz < 0 || off + 8 + sz > end) return None
      if (id == "LIST") {
        val listType = fourcc(off + 8)
        if (listType == "movi") { moviOff = off + 12; moviEnd = off + 8 + sz }
        else if (listType == "hdrl") {
          var o = off + 12
          val hEnd = off + 8 + sz
          while (o + 8 <= hEnd) {
            val cid = fourcc(o); val csz = bb.getInt(o + 4)
            if (csz < 0 || o + 8 + csz > hEnd) return None
            if (cid == "LIST" && fourcc(o + 8) == "strl") {
              var so = o + 12
              val sEnd = o + 8 + csz
              while (so + 8 <= sEnd) {
                val sid = fourcc(so); val ssz = bb.getInt(so + 4)
                if (ssz < 0 || so + 8 + ssz > sEnd) return None
                if (sid == "strf" && ssz >= 20) {
                  w = bb.getInt(so + 8 + 4)
                  h = bb.getInt(so + 8 + 8)
                  bitCount = bb.getShort(so + 8 + 14) & 0xFFFF
                  compression = bb.getInt(so + 8 + 16)
                }
                so += 8 + ssz + (ssz & 1)
              }
            }
            o += 8 + csz + (csz & 1)
          }
        }
      }
      off += 8 + sz + (sz & 1)
    }
    if (w <= 0 || h <= 0 || bitCount != 24 || compression != 0 ||
      moviOff < 0) None
    else Some(AviLayout(w, h, moviOff, moviEnd))
  }

  /** Walk the 'movi' LIST's '##db' DIB frames, calling `f(frameNo,
    * chunkDataOffset)` for every `step`-th frame. Returns the total
    * frame count, or None on a malformed/short chunk. */
  private def forEachDibFrame(bytes: Array[Byte], lay: AviLayout,
                              step: Int)(f: (Int, Int) => Unit): Option[Int] = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    def fourcc(off: Int): String =
      new String(bytes, off, 4, java.nio.charset.StandardCharsets.US_ASCII)
    var frameNo = 0
    var mo = lay.moviOff
    while (mo + 8 <= lay.moviEnd) {
      val id = fourcc(mo); val sz = bb.getInt(mo + 4)
      if (sz < 0 || mo + 8 + sz > lay.moviEnd) return None
      // '##db' = uncompressed DIB frame ('##dc' would be codec data)
      if (id.endsWith("db")) {
        if (sz < lay.rowBytes * lay.h) return None
        if (frameNo % step == 0) f(frameNo, mo + 8)
        frameNo += 1
      }
      mo += 8 + sz + (sz & 1)
    }
    Some(frameNo)
  }

  def decodeAviFrames(bytes: Array[Byte],
                      step: Int = 1): Option[(Int, Int, Int, Seq[FrameStats])] = {
    require(step >= 1, s"frame-sample step must be >= 1, got $step")
    parseAviLayout(bytes).flatMap { lay =>
      val w = lay.w; val h = lay.h; val rowBytes = lay.rowBytes
      val stats = Seq.newBuilder[FrameStats]
      forEachDibFrame(bytes, lay, step) { (frameNo, base) =>
        var rs = 0L; var gs = 0L; var bs = 0L
        var row = 0
        while (row < h) {
          var o = base + row * rowBytes
          var x = 0
          while (x < w) {
            bs += bytes(o) & 0xFF
            gs += bytes(o + 1) & 0xFF
            rs += bytes(o + 2) & 0xFF
            o += 3; x += 1
          }
          row += 1
        }
        // DIB rows are bottom-up; channel SUMS are row-order
        // invariant, so no flip is needed for these statistics
        stats += FrameStats(frameNo, w, h, rs, gs, bs)
      }.map(n => (w, h, n, stats.result()))
    }
  }

  // ---- video-CONTENT near-dup: per-frame dHash → majority clip fp ----

  /** The video near-dup fixture pixel: the [[qrPx]] two-prime
    * quadratic residue with a per-frame term folded into both
    * residues, so every (clip, frame) has decorrelated pixels (the
    * linear [[videoPx]] collapses gradient signs across ids — the
    * same degeneracy [[qrPx]] exists to break for images) while
    * staying exactly SQL-replayable in 64-bit-safe integer
    * arithmetic. Simulated before registering (the round-8 fixture
    * lesson): twins land at Hamming 0–1, zero false base pairs and
    * zero capped buckets at the 10k-sample scan of the 500k id range.
    */
  private def qrVideoPx(id: Long, f: Int, x: Int, y: Int,
                        salt: Int): Int = {
    require(id >= 0, s"fixture formula assumes non-negative id, got $id")
    val c1 = (id * 73856093L + f * 7368787L + x * 19349663L +
      y * 83492791L + salt * 1299721L) % 65521L
    val c2 = (id * 2654435761L + f * 104729L + x * 40503L +
      y * 30011L + salt * 914689L) % 65479L
    ((c1 * c1 % 65521L + c2 * c2 % 65479L) % 256L).toInt
  }

  /** The video near-dup fixture frame: one 9×8, 8-frame uncompressed
    * AVI per id (quadratic-residue pixels — 9×8 so the per-frame
    * dHash fills all 64 bits, keeping every 16-bit Hamming band
    * informative) plus, for the md5-chosen ~5% of ids, a PERTURBED
    * twin at id+10⁷: channel R of pixel (0, 0) shifted +64 in EVERY
    * frame — the stand-in for a re-encoded near-duplicate clip, whose
    * majority clip fingerprint lands at Hamming 0–1 from its
    * original. Narrow mapPartitions assemble (the container writer is
    * codec-free), same shape as [[syntheticImagesNearDup]].
    */
  def syntheticAvisNearDup(ids: DataFrame, idCol: String,
                           base: Boolean = true,
                           twins: Boolean = true): DataFrame = {
    val spark = ids.sparkSession
    import spark.implicits._
    require(base || twins, "at least one of base/twins must be generated")
    val baseF = ids.select(col(idCol).cast("long").as("_id"),
      lit(false).as("_p"))
    val twinF = ids
      .filter(graft.util.Sampling.md5Bucket(col(idCol)) < 5)
      .select(col(idCol).cast("long").as("_id"), lit(true).as("_p"))
    val chosen =
      if (base && twins) baseF.unionByName(twinF)
      else if (base) baseF else twinF
    chosen.as[(Long, Boolean)]
      .mapPartitions(_.map { case (id, p) =>
        val avi = buildAvi(nFrames = 8, w = 9, h = 8) { (f, x, y, c) =>
          val v = qrVideoPx(id, f, x, y, c)
          if (p && c == 0 && x == 0 && y == 0) (v + 64) % 256 else v
        }
        (if (p) id + 10000000L else id, avi)
      })
      .toDF("media_id", "content")
  }

  /** dHash of one DIB frame directly from the chunk bytes (bottom-up
    * BGR rows → image-order luma grid → gradient bits y·(w−1)+x),
    * exact integer arithmetic when the grid carries ≤ 64 gradients;
    * larger frames detour through a BufferedImage and the canonical
    * 9×8 resize (spec-tested, not oracle-pinned — same convention as
    * [[dhashOf]] for arbitrary images). */
  private def dibFrameDhash(bytes: Array[Byte], lay: AviLayout,
                            base: Int): Long = {
    val w = lay.w; val h = lay.h; val rowBytes = lay.rowBytes
    def lumaAt(x: Int, y: Int): Int = {
      val o = base + (h - 1 - y) * rowBytes + x * 3 // DIB rows bottom-up
      (299 * (bytes(o + 2) & 0xFF) + 587 * (bytes(o + 1) & 0xFF) +
        114 * (bytes(o) & 0xFF)) / 1000
    }
    if ((w - 1) * h <= 64 && w >= 2) {
      var bits = 0L
      var y = 0
      while (y < h) {
        var prev = lumaAt(0, y)
        var x = 0
        while (x < w - 1) {
          val next = lumaAt(x + 1, y)
          if (next > prev) bits |= 1L << (y * (w - 1) + x)
          prev = next
          x += 1
        }
        y += 1
      }
      bits
    } else {
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val o = base + (h - 1 - y) * rowBytes + x * 3
          img.setRGB(x, y, ((bytes(o + 2) & 0xFF) << 16) |
            ((bytes(o + 1) & 0xFF) << 8) | (bytes(o) & 0xFF))
          x += 1
        }
        y += 1
      }
      dhashCanonical(img)
    }
  }

  /** Clip-level perceptual fingerprint of an uncompressed AVI:
    * per-SAMPLED-frame dHash, then a MAJORITY vote per bit (bit j of
    * the clip fp is set when more than half the sampled frames set
    * it; ties → 0) — robust to a few perturbed/re-encoded frames
    * where a min- or first-frame fingerprint is not. Returns (total
    * frames, sampled frames, clip fp); `None` for non-AVI /
    * compressed payloads ([[decodeAviFrames]]'s honest boundary).
    */
  def aviClipDhash(bytes: Array[Byte],
                   step: Int = 1): Option[(Int, Int, Long)] = {
    require(step >= 1, s"frame-sample step must be >= 1, got $step")
    parseAviLayout(bytes).flatMap { lay =>
      val counts = new Array[Int](64)
      var sampled = 0
      forEachDibFrame(bytes, lay, step) { (_, base) =>
        val dh = dibFrameDhash(bytes, lay, base)
        var j = 0
        while (j < 64) {
          if (((dh >>> j) & 1L) == 1L) counts(j) += 1
          j += 1
        }
        sampled += 1
      }.map { n =>
        var fp = 0L
        var j = 0
        while (j < 64) {
          if (2 * counts(j) > sampled) fp |= 1L << j
          j += 1
        }
        (n, sampled, fp)
      }
    }
  }

  /** Batch clip fingerprinting through the per-partition contract:
    * (media_id, content) → (media_id, decodable, n_frames,
    * clip_dhash). Payload read once, never shuffled — only the 8-byte
    * clip fingerprint continues to [[graft.dedup.Dedup.hammingPairs]]
    * / `hammingIncremental`, exactly like the image dHash path.
    */
  def videoDhashFeatures(df: DataFrame, step: Int = 1): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col("media_id").cast("long"), col("content"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, bytes) =>
        aviClipDhash(bytes, step) match {
          case Some((n, _, fp)) => (id, true, n, Some(fp))
          case None => (id, false, 0, None: Option[Long])
        }
      })
      .toDF("media_id", "decodable", "n_frames", "clip_dhash")
  }

  /** Batch video frame-sampling through the per-partition contract:
    * one narrow pass demuxes each payload and emits one row per
    * SAMPLED frame — (media_id, n_frames, frame_no, width, height,
    * channel sums). The payload is read once and never shuffled; only
    * fixed-width per-frame statistics continue downstream (the shape a
    * codec-backed deployment keeps — frames are reduced where the
    * bytes live). Undecodable / compressed payloads surface as one
    * row with null stats rather than vanishing.
    */
  def videoFrameFeatures(df: DataFrame, step: Int = 1): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col("media_id").cast("long"), col("content"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.flatMap { case (id, bytes) =>
          decodeAviFrames(bytes, step) match {
            case Some((w, h, n, frames)) => frames.iterator.map(fs =>
              (id, true, n, Some(fs.frame_no), Some(w), Some(h),
                Some(fs.r_sum), Some(fs.g_sum), Some(fs.b_sum)))
            case None => Iterator.single(
              (id, false, 0, None: Option[Int], None: Option[Int],
                None: Option[Int], None: Option[Long], None: Option[Long],
                None: Option[Long]))
          }
        }
      }
      .toDF("media_id", "decodable", "n_frames", "frame_no", "width",
        "height", "r_sum", "g_sum", "b_sum")
  }

  // ---- exact area-pool resize (integer-exact, oracle-pinnable) ----

  /** Downsample by integer factors with AREA AVERAGING — each output
    * pixel is the floor-mean of its fx×fy source block, per channel.
    * This is the standard thumbnailing kernel for shrink-only resizes
    * (OpenCV's INTER_AREA at integer ratios) implemented in plain
    * integer arithmetic, so unlike the JDK's bilinear scaling
    * ([[scaleTo]]) its output is EXACTLY replayable in SQL — which
    * is what lets the registered resize row hash-verify real resized
    * pixels instead of only asserting geometry.
    */
  def avgPool(img: java.awt.image.BufferedImage, fx: Int,
              fy: Int): java.awt.image.BufferedImage = {
    val w = img.getWidth; val h = img.getHeight
    require(fx >= 1 && fy >= 1 && w % fx == 0 && h % fy == 0,
      s"avgPool needs integer block factors: ${w}x$h by ${fx}x$fy")
    val ow = w / fx; val oh = h / fy
    val out = new java.awt.image.BufferedImage(ow, oh,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    val n = fx * fy
    var yy = 0
    while (yy < oh) {
      var xx = 0
      while (xx < ow) {
        var rs = 0; var gs = 0; var bs = 0
        var dy = 0
        while (dy < fy) {
          var dx = 0
          while (dx < fx) {
            val p = img.getRGB(xx * fx + dx, yy * fy + dy)
            rs += (p >> 16) & 0xFF; gs += (p >> 8) & 0xFF; bs += p & 0xFF
            dx += 1
          }
          dy += 1
        }
        out.setRGB(xx, yy, ((rs / n) << 16) | ((gs / n) << 8) | (bs / n))
        xx += 1
      }
      yy += 1
    }
    out
  }

  /** Batch decode→resize→stats through the per-partition codec
    * contract (reusable PNG reader, the [[imageFeatures]] shape):
    * decode each payload, area-pool it down by (fx, fy), and emit the
    * RESIZED image's dimensions + exact channel sums. Payload read
    * once, never shuffled; rows whose dimensions don't divide by the
    * factors (or that don't decode) surface with null stats.
    */
  def resizeFeatures(df: DataFrame, fx: Int, fy: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col("media_id").cast("long"), col("content"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        lazy val pngReader = javax.imageio.ImageIO
          .getImageReadersByFormatName("png").next()
        it.map { case (id, bytes) =>
          val img =
            if (sniff(bytes) == "png") {
              val iis = new javax.imageio.stream.MemoryCacheImageInputStream(
                new java.io.ByteArrayInputStream(bytes))
              try { pngReader.setInput(iis, true, true); pngReader.read(0) }
              catch { case _: Exception => null }
              finally iis.close()
            } else readImage(bytes).orNull
          val pooled = Option(img)
            .filter(i => i.getWidth % fx == 0 && i.getHeight % fy == 0)
            .map(i => statsOf(avgPool(i, fx, fy)))
          (id, pooled.isDefined,
            Option(img).map(_.getWidth), Option(img).map(_.getHeight),
            pooled.map(_.width), pooled.map(_.height),
            pooled.map(_.r_sum), pooled.map(_.g_sum), pooled.map(_.b_sum))
        }
      }
      .toDF("media_id", "decodable", "src_width", "src_height", "width",
        "height", "r_sum", "g_sum", "b_sum")
  }

  /** Build a MediaRecord dataset from any table with a binary-able column —
    * used by tests and the driver queries (text bytes stand in for media
    * payloads; the pipeline does not care what the bytes mean).
    */
  def fromText(spark: SparkSession, df: DataFrame, idCol: String,
               textCol: String): Dataset[MediaRecord] = {
    import spark.implicits._
    df.select(col(idCol).cast("long").as("media_id"),
        lit("text").as("media_type"),
        encode(col(textCol), "UTF-8").as("content"),
        lit(null).cast("int").as("width"),
        lit(null).cast("int").as("height"),
        lit(null).cast("long").as("duration_ms"))
      .as[MediaRecord]
  }
}
