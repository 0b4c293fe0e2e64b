package graft.multimodal

import graft.TestSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class MultimodalSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def media(rows: (Long, Array[Byte])*) = {
    import spark.implicits._
    rows.toSeq.map { case (id, bytes) =>
      MediaRecord(id, "image", bytes, None, None, None)
    }.toDS()
  }

  test("decode pipeline: sniffing, digest, and feature shape survive mapPartitions") {
    val jpeg = Array(0xFF, 0xD8, 0xFF, 0xE0, 0x01, 0x02).map(_.toByte)
    val png = Array(0x89, 0x50, 0x4E, 0x47, 0x0D, 0x0A).map(_.toByte)
    val out = Multimodal.decodeFeatures(media(1L -> jpeg, 2L -> png))
      .collect().map(f => f.media_id -> f).toMap
    assert(out(1L).sniffed_format == "jpeg")
    assert(out(2L).sniffed_format == "png")
    assert(out(1L).n_bytes == 6)
    assert(out(1L).feature.length == 16)
    assert(math.abs(out(1L).feature.sum - 1.0f) < 1e-5) // histogram normalized
    assert(out(1L).content_md5.matches("[0-9a-f]{32}"))
  }

  test("column-expression sniffer agrees with the partition decoder") {
    val jpeg = Array(0xFF, 0xD8, 0xFF, 0xE0).map(_.toByte)
    val ds = media(1L -> jpeg)
    val viaExpr = ds.toDF()
      .select(Multimodal.sniffFormat(col("content"))).collect().head.getString(0)
    assert(viaExpr == "jpeg")
  }

  test("meta projection equals decodeFeatures metadata, with no object plan") {
    val jpeg = Array(0xFF, 0xD8, 0xFF, 0xE0, 0x01, 0x02).map(_.toByte)
    val png = Array(0x89, 0x50, 0x4E, 0x47, 0x0D, 0x0A).map(_.toByte)
    val ds = media(1L -> jpeg, 2L -> png)
    val viaMeta = Multimodal.meta(ds.toDF(), "media_id", col("content"))
    val viaDecode = Multimodal.decodeFeatures(ds).toDF()
      .select("media_id", "n_bytes", "content_md5", "sniffed_format")
    assert(viaMeta.orderBy("media_id").collect().toSeq ==
      viaDecode.orderBy("media_id").collect().toSeq)
    val plan = viaMeta.queryExecution.executedPlan.toString
    assert(!plan.contains("DeserializeToObject") &&
      !plan.contains("MapPartitions"), plan)
  }

  test("feature counts reconstruct exactly from the normalized histogram") {
    // the registered multimodal_features query exports round(f·n_bytes)
    // as the per-bucket count — pin that the float round-trip is
    // integer-exact and sums back to the payload size
    val rng = new scala.util.Random(3)
    val payload = Array.fill(4096)(rng.nextInt(256).toByte)
    val f = Multimodal.decodeFeatures(media(1L -> payload)).collect().head
    val counts = f.feature.map(x => math.round(x.toDouble * f.n_bytes))
    assert(counts.sum == f.n_bytes)
    // recompute the histogram directly and compare bucket by bucket
    val direct = new Array[Long](16)
    payload.foreach(b => direct((b & 0xFF) >> 4) += 1L)
    assert(counts.toSeq == direct.toSeq)
  }

  test("fromText round-trip: bytes are exact UTF-8 of the text") {
    import spark.implicits._
    val df = Seq((7L, "héllo")).toDF("doc_id", "text")
    val rec = Multimodal.fromText(spark, df, "doc_id", "text").collect().head
    assert(new String(rec.content, "UTF-8") == "héllo")
    assert(rec.media_id == 7L)
  }

  test("REAL codec round-trip: PNG encode then ImageIO decode is pixel-exact") {
    // the synthetic fixture's pixels are a closed form of (id, x, y);
    // PNG is lossless, so decodeImage must recover the exact channel
    // sums — this is the same invariant the multimodal_decode oracle
    // hashes corpus-wide
    for (id <- Seq(0L, 1L, 42L, 123456789L)) {
      val bytes = Multimodal.syntheticPng(id)
      // a real PNG container, sniffed as such
      assert((bytes(0) & 0xFF) == 0x89 && bytes(1) == 'P'.toByte)
      val st = Multimodal.decodeImage(bytes).get
      assert(st.width == 8 && st.height == 8)
      var (rs, gs, bs) = (0L, 0L, 0L)
      for (y <- 0 until 8; x <- 0 until 8) {
        rs += (id * 31 + x * 7 + y * 13) % 256
        gs += (id * 17 + x * 11 + y * 3) % 256
        bs += (id * 7 + x * 5 + y * 19) % 256
      }
      assert((st.r_sum, st.g_sum, st.b_sum) == ((rs, gs, bs)), s"id=$id")
    }
  }

  test("decodeImage handles JPEG and rejects non-image bytes") {
    // JPEG: real lossy codec — assert geometry and approximate color,
    // not exact bytes
    val img = new java.awt.image.BufferedImage(16, 9,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    val g2 = img.createGraphics()
    try { g2.setColor(java.awt.Color.RED); g2.fillRect(0, 0, 16, 9) }
    finally g2.dispose()
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "jpg", bos)
    val st = Multimodal.decodeImage(bos.toByteArray).get
    assert(st.width == 16 && st.height == 9)
    assert(st.r_sum > st.b_sum * 5, "solid red should dominate blue")
    // non-image payloads decode to None, never throw
    assert(Multimodal.decodeImage("not an image".getBytes("UTF-8")).isEmpty)
    assert(Multimodal.decodeImage(Array.emptyByteArray).isEmpty)
  }

  test("imageFeatures: distributed decode is narrow and flags undecodables") {
    import spark.implicits._
    val rows = Seq(
      (1L, Multimodal.syntheticPng(1L)),
      (2L, "junk bytes".getBytes("UTF-8")))
    val df = rows.toDF("media_id", "content").repartition(2)
    val out = Multimodal.imageFeatures(df)
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      s"decode must not shuffle the payload:\n$plan")
    val got = out.collect().map(r => r.getLong(0) -> r).toMap
    assert(got(1L).getBoolean(2) && got(1L).getString(1) == "png")
    assert(got(1L).getInt(3) == 8 && got(1L).getInt(4) == 8)
    assert(!got(2L).getBoolean(2) && got(2L).isNullAt(3))
  }

  test("REAL audio round-trip: WAV assemble then SPI decode is sample-exact") {
    import spark.implicits._
    // the fixture samples are a closed form of (id, frame, channel);
    // PCM is lossless, so the decoded per-channel sums must equal the
    // formula sums — the invariant the multimodal_audio_decode oracle
    // hashes corpus-wide
    val ids = Seq(0L, 1L, 42L, 123456789L)
    val out = Multimodal.audioFeatures(
        ids.map(id => (id, Multimodal.syntheticWav(id)))
          .toDF("media_id", "content").repartition(2))
      .collect().map(r => r.getLong(0) -> r).toMap
    for (id <- ids) {
      val r = out(id)
      assert(r.getString(1) == "riff" && r.getBoolean(2), s"id=$id")
      assert(r.getInt(3) == 2 && r.getInt(4) == 8000 && r.getLong(5) == 256)
      var (s0, s1) = (0L, 0L)
      for (i <- 0 until 256) {
        s0 += ((id * 31 + i * 7) % 65536) - 32768
        s1 += ((id * 31 + i * 7 + 13) % 65536) - 32768
      }
      assert((r.getLong(6), r.getLong(7)) == ((s0, s1)), s"id=$id")
    }
    // non-audio payloads surface as undecodable, never throw
    val junk = Multimodal.audioFeatures(
      Seq((9L, "not audio".getBytes("UTF-8"))).toDF("media_id", "content"))
      .collect().head
    assert(!junk.getBoolean(2) && junk.isNullAt(6))
  }

  test("dHash: planted perturbed twin lands within Hamming 3; payload never shuffles") {
    import spark.implicits._
    // md5Bucket(62) < 5, so the fixture plants a twin for id 62
    val ids = Seq(7L, 9L, 62L).toDF("doc_id")
    val imgs = Multimodal.syntheticImagesNearDup(ids, "doc_id")
    val sig = Multimodal.dhashFeatures(imgs)
    val plan = sig.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      s"dhash must not shuffle the payload:\n$plan")
    val got = sig.collect().map(r =>
      r.getLong(0) -> (r.getBoolean(1), r.getLong(2))).toMap
    val planted = got.keys.filter(_ >= 10000000L)
    assert(planted.nonEmpty, s"no twin planted among ${got.keys}")
    for (tw <- planted) {
      val orig = tw - 10000000L
      val hd = java.lang.Long.bitCount(got(tw)._2 ^ got(orig)._2)
      assert(hd <= 3, s"twin $tw at hamming $hd from $orig")
    }
    // distinct base images hash apart (the quadratic-residue fixture
    // exists precisely so they do)
    assert(got(7L)._2 != got(9L)._2)
    // and the pair machinery finds exactly the planted pair(s)
    val pairs = graft.dedup.Dedup.hammingPairs(
        sig.filter(org.apache.spark.sql.functions.col("decodable"))
          .select(org.apache.spark.sql.functions.col("media_id"),
            org.apache.spark.sql.functions.col("dhash")),
        "media_id", "dhash", maxHamming = 3, maxBucket = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(planted.forall(tw => pairs.contains((tw - 10000000L, tw))))
  }

  test("dHash of an arbitrary image: resize path is stable and re-encode lands near") {
    // a 32×32 smooth-gradient PNG: dhashOf resizes to the canonical
    // 9×8 grid; hashing the same bytes twice is identical, and a PNG
    // re-encode of the same pixels hashes identically too
    val png = Multimodal.syntheticPng(5L, 32, 32)
    val h1 = Multimodal.dhashOf(png).get
    assert(Multimodal.dhashOf(png).contains(h1))
    val reenc = {                                       // decode+re-encode
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(png)), "png", bos)
      bos.toByteArray
    }
    val h2 = Multimodal.dhashOf(reenc).get
    assert(java.lang.Long.bitCount(h1 ^ h2) <= 3,
      s"re-encoded image drifted to hamming ${java.lang.Long.bitCount(h1 ^ h2)}")
    assert(Multimodal.dhashOf("junk".getBytes("UTF-8")).isEmpty)
  }

  test("dhashFeatures handles arbitrary-size and corrupt payloads without throwing") {
    import spark.implicits._
    // a 32×32 image (larger than the canonical 9×8 grid) must resize
    // and hash — not trip dhash64's 64-gradient require and kill the
    // job — and its hash must equal the scalar dhashOf path's
    val big = Multimodal.syntheticPng(5L, 32, 32)
    // a truncated PNG makes javax.imageio throw a RuntimeException
    // (not IOException) from deep in the plugin; it must surface as
    // decodable=false
    val corrupt = Multimodal.syntheticPng(6L, 8, 8).take(40)
    val out = Multimodal.dhashFeatures(
        Seq((1L, big), (2L, corrupt), (3L, "junk".getBytes("UTF-8")))
          .toDF("media_id", "content"))
      .collect().map(r => r.getLong(0) ->
        (r.getBoolean(1), if (r.isNullAt(2)) None else Some(r.getLong(2))))
      .toMap
    assert(out(1L)._1 && out(1L)._2 == Multimodal.dhashOf(big))
    assert(!out(2L)._1 && out(2L)._2.isEmpty)
    assert(!out(3L)._1 && out(3L)._2.isEmpty)
  }

  test("video near-dup: majority clip fp pairs the planted twin, payload never shuffles") {
    import spark.implicits._
    // md5Bucket(62) < 5, so the fixture plants a twin clip for id 62
    val ids = Seq(7L, 9L, 62L).toDF("doc_id")
    val clips = Multimodal.syntheticAvisNearDup(ids, "doc_id")
    val sig = Multimodal.videoDhashFeatures(clips, step = 2)
    val plan = sig.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      s"clip hashing must not shuffle the payload:\n$plan")
    val got = sig.collect().map(r =>
      r.getLong(0) -> (r.getBoolean(1), r.getInt(2), r.getLong(3))).toMap
    // every clip demuxes: 8 total frames seen even though 4 are sampled
    assert(got.values.forall(v => v._1 && v._2 == 8))
    val planted = got.keys.filter(_ >= 10000000L)
    assert(planted.nonEmpty, s"no twin planted among ${got.keys}")
    for (tw <- planted) {
      val hd = java.lang.Long.bitCount(got(tw)._3 ^ got(tw - 10000000L)._3)
      assert(hd <= 1, s"twin clip $tw at hamming $hd")
    }
    assert(got(7L)._3 != got(9L)._3, "distinct base clips must hash apart")
    // and the pair machinery finds the planted pair(s)
    val pairs = graft.dedup.Dedup.hammingPairs(
        sig.select(org.apache.spark.sql.functions.col("media_id"),
          org.apache.spark.sql.functions.col("clip_dhash")),
        "media_id", "clip_dhash", maxHamming = 3, maxBucket = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(planted.forall(tw => pairs.contains((tw - 10000000L, tw))))
  }

  test("aviClipDhash: majority semantics, sampling, and honest boundaries") {
    // a clip whose frames all agree hashes to the common frame hash
    val avi = Multimodal.syntheticAvisNearDup(
      { import spark.implicits._; Seq(5L).toDF("doc_id") }, "doc_id",
      twins = false).collect().head.getAs[Array[Byte]]("content")
    val Some((n1, s1, fp1)) = Multimodal.aviClipDhash(avi, step = 1)
    val Some((n2, s2, fp2)) = Multimodal.aviClipDhash(avi, step = 2)
    assert(n1 == 8 && s1 == 8 && n2 == 8 && s2 == 4)
    // step changes WHICH frames vote (the qr fixture's frames are
    // deliberately decorrelated, so the two fps differ — real video
    // frames are similar and the step choice is a corpus-wide
    // constant); each sampling is deterministic
    assert(Multimodal.aviClipDhash(avi, step = 1).get._3 == fp1)
    assert(Multimodal.aviClipDhash(avi, step = 2).get._3 == fp2)
    // non-AVI payloads surface as None, never throw
    assert(Multimodal.aviClipDhash("junk".getBytes("UTF-8")).isEmpty)
    // a LINEAR-fixture AVI (videoPx) still hashes — shared walker
    assert(Multimodal.aviClipDhash(Multimodal.syntheticAvi(3L)).isDefined)
    // large-frame fallback path: a 16x16 AVI goes through the
    // BufferedImage resize branch and still fingerprints
    val big = Multimodal.syntheticAvi(4L, nFrames = 4, w = 16, h = 16)
    assert(Multimodal.aviClipDhash(big, step = 2).isDefined)
  }

  test("REAL video round-trip: AVI assemble then demux is pixel-exact, frames sample correctly") {
    // the fixture frames are a closed form of (id, frame, x, y); BI_RGB
    // DIB frames are codec-free, so demuxed per-frame sums must equal
    // the formula sums — the invariant the multimodal_video_frames
    // oracle hashes corpus-wide
    def expect(id: Long, f: Int): (Long, Long, Long) = {
      var rs = 0L; var gs = 0L; var bs = 0L
      for (x <- 0 until 8; y <- 0 until 8) {
        rs += (id * 31 + f * 29 + x * 7 + y * 13) % 256
        gs += (id * 17 + f * 23 + x * 11 + y * 3) % 256
        bs += (id * 7 + f * 19 + x * 5 + y * 19) % 256
      }
      (rs, gs, bs)
    }
    for (id <- Seq(0L, 3L, 123456789L)) {
      val Some((w, h, n, frames)) =
        Multimodal.decodeAviFrames(Multimodal.syntheticAvi(id), step = 3)
      assert(w == 8 && h == 8 && n == 8)
      // step=3 over 8 frames samples exactly frames 0, 3, 6
      assert(frames.map(_.frame_no) == Seq(0, 3, 6), s"id=$id")
      for (fs <- frames)
        assert((fs.r_sum, fs.g_sum, fs.b_sum) == expect(id, fs.frame_no),
          s"id=$id frame=${fs.frame_no}")
    }
    // step=1 demuxes every frame
    assert(Multimodal.decodeAviFrames(Multimodal.syntheticAvi(5L))
      .get._4.map(_.frame_no) == (0 until 8))
    // non-8x8 geometry: row padding path (w=5 -> rowBytes 16, pad 1)
    val Some((w5, _, _, fr5)) =
      Multimodal.decodeAviFrames(Multimodal.syntheticAvi(2L, 4, 5, 3))
    assert(w5 == 5 && fr5.size == 4)
    var rs5 = 0L
    for (x <- 0 until 5; y <- 0 until 3) rs5 += (2L * 31 + x * 7 + y * 13) % 256
    assert(fr5.head.r_sum == rs5)
    // honest boundaries: junk, truncated, and WAV (RIFF but not AVI)
    assert(Multimodal.decodeAviFrames("junk".getBytes("UTF-8")).isEmpty)
    assert(Multimodal.decodeAviFrames(
      Multimodal.syntheticAvi(1L).take(100)).isEmpty)
    assert(Multimodal.decodeAviFrames(Multimodal.syntheticWav(1L)).isEmpty)
  }

  test("videoFrameFeatures: distributed demux is narrow and flags undecodables") {
    import spark.implicits._
    val rows = Seq(
      (1L, Multimodal.syntheticAvi(1L)),
      (2L, "junk bytes".getBytes("UTF-8")))
    val df = rows.toDF("media_id", "content").repartition(2)
    val out = Multimodal.videoFrameFeatures(df, step = 3)
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      s"demux must not shuffle the payload:\n$plan")
    val got = out.collect()
    assert(got.filter(_.getLong(0) == 1L).map(_.getInt(3)).sorted
      .sameElements(Array(0, 3, 6)))
    val junk = got.filter(_.getLong(0) == 2L)
    assert(junk.length == 1 && !junk.head.getBoolean(1) &&
      junk.head.isNullAt(6))
  }

  test("avgPool: exact floor-mean per block; resizeFeatures matches brute force") {
    import spark.implicits._
    // brute-force the pooled sums from the fixture formula
    def pooledSums(id: Long): (Long, Long, Long) = {
      var rs = 0L; var gs = 0L; var bs = 0L
      for (bx <- 0 until 8; by <- 0 until 8) {
        var r = 0L; var g = 0L; var b = 0L
        for (dx <- 0 until 2; dy <- 0 until 2) {
          val x = bx * 2 + dx; val y = by * 2 + dy
          r += (id * 31 + x * 7 + y * 13) % 256
          g += (id * 17 + x * 11 + y * 3) % 256
          b += (id * 7 + x * 5 + y * 19) % 256
        }
        rs += r / 4; gs += g / 4; bs += b / 4
      }
      (rs, gs, bs)
    }
    val ids = Seq(0L, 7L, 424242L).toDF("doc_id")
    val out = Multimodal.resizeFeatures(
        Multimodal.syntheticImages(ids, "doc_id", 16, 16), 2, 2)
      .collect().map(r => r.getLong(0) -> r).toMap
    for (id <- Seq(0L, 7L, 424242L)) {
      val r = out(id)
      assert(r.getBoolean(1) && r.getInt(2) == 16 && r.getInt(4) == 8)
      assert((r.getLong(6), r.getLong(7), r.getLong(8)) == pooledSums(id),
        s"id=$id")
    }
    // dimensions that don't divide by the factors surface as null stats
    val odd = Multimodal.resizeFeatures(
        Seq((9L, Multimodal.syntheticPng(9L, 9, 8)))
          .toDF("media_id", "content"), 2, 2)
      .collect().head
    assert(!odd.getBoolean(1) && odd.isNullAt(6) && odd.getInt(2) == 9)
  }

  test("audio fingerprint: planted perturbed twin lands within Hamming 1; " +
      "payload never shuffles; fp matches the closed form") {
    import spark.implicits._
    val M = Multimodal
    // 62 is a bucket<5 twin-source id (the image/video tests' fixture)
    val base = M.syntheticWavsNearDup(Seq(1L, 2L, 62L).toDF("doc_id"),
      "doc_id", twins = false)
    val twin = M.syntheticWavsNearDup(Seq(62L).toDF("doc_id"),
      "doc_id", base = false)
    val sig = M.audioFingerprintFeatures(base.unionByName(twin))
      .filter(col("decodable"))
      .select(col("media_id"), col("afp"))
    val fps = sig.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fps.size == 4)
    val ham = java.lang.Long.bitCount(fps(62L) ^ fps(10000062L))
    assert(ham <= 1, s"twin hamming $ham")
    // the decoded-fp equals the closed form computed directly from the
    // fixture formula (PCM16 round-trips the SPI exactly)
    def qrS(id: Long, i: Int): Long = {
      val c1 = (id * 73856093L + i * 19349663L) % 65521L
      val c2 = (id * 2654435761L + i * 40503L) % 65479L
      (c1 * c1 % 65521L + c2 * c2 % 65479L) % 65536L - 32768L
    }
    val sums = new Array[Long](64)
    for (i <- 0 until 256) sums(i / 4) += qrS(62L, i)
    assert(fps(62L) == M.audioFpOf(sums))
    // fingerprinting itself never shuffles the payload (the dHash
    // test's fence, same codec contract)
    val sigPlan = M.audioFingerprintFeatures(base.unionByName(twin))
      .queryExecution.executedPlan.toString
    assert(!sigPlan.contains("Exchange hashpartitioning"),
      s"audio fp must not shuffle the payload:\n$sigPlan")
    // and the pair machinery finds exactly the planted pair
    val pairs = graft.dedup.Dedup.hammingPairs(sig, "media_id", "afp",
      maxHamming = 3, maxBucket = 64)
    val got = pairs.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((62L, 10000062L)))
  }

  test("MediaStore: stored probe equals the in-DAG incremental; " +
      "appendWrite closes the daily loop; compact heals retries") {
    import graft.dedup.{Dedup, MediaStore}
    val ids = spark.range(40).select(col("id").as("doc_id"))
    def sig(df: org.apache.spark.sql.DataFrame) =
      Multimodal.dhashFeatures(df).filter(col("decodable"))
        .select(col("media_id"), col("dhash"))
    val corpus = sig(Multimodal.syntheticImagesNearDup(
      ids.filter(col("doc_id") < 30), "doc_id", twins = false))
    val inc = sig(Multimodal.syntheticImagesNearDup(
        ids.filter(col("doc_id") >= 30), "doc_id", twins = false)
      .unionByName(
        Multimodal.syntheticImagesNearDup(ids, "doc_id", base = false)))
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1),
        r.getBoolean(3))).sortBy(_._1).toSeq
    val direct = rows(Dedup.hammingIncremental(inc, corpus,
      "media_id", "dhash", maxHamming = 3, maxBucket = 64))
    val sd = java.nio.file.Files.createTempDirectory("media_store").toString
    MediaStore.write(corpus, sd)
    val stored = rows(Dedup.hammingIncremental(inc,
      MediaStore.read(spark, sd), "media_id", "dhash",
      maxHamming = 3, maxBucket = 64))
    // the 8-byte fingerprints round-trip parquet exactly, so the
    // stored probe decides bit-identically — the shared-oracle claim
    assert(stored == direct)
    // daily loop: append ALL of today's accepted (is_new) fingerprints,
    // then tomorrow's re-serve of the same payloads (new ids) must come
    // back caught at Hamming 0 against the appended fingerprints
    val probe = Dedup.hammingIncremental(inc, MediaStore.read(spark, sd),
      "media_id", "dhash", maxHamming = 3, maxBucket = 64)
    // checkpointed: the lineage embeds the PRE-compact store read,
    // whose part files the compaction below renames away
    val accepted = inc.join(
      probe.filter(col("is_new")).select(col("media_id")), "media_id")
      .localCheckpoint()
    val nAccepted = accepted.count()
    assert(nAccepted > 0)
    MediaStore.appendWrite(accepted, sd)
    val reServed = accepted.select((col("media_id") + 500L).as("media_id"),
      col("dhash"))
    val caught = Dedup.hammingIncremental(reServed,
      MediaStore.read(spark, sd), "media_id", "dhash",
      maxHamming = 3, maxBucket = 64).collect()
    assert(caught.forall(!_.getBoolean(3)))
    // every re-serve matches its appended fingerprint exactly (dup_of
    // may name the base of a hamming-0 twin pair — lowest id wins —
    // so pin the hamming, not the id)
    assert(caught.forall(r => r.getAs[Number]("hamming").intValue == 0))
    // a retried ingest double-appends; compact heals the files and
    // changes no decision
    MediaStore.appendWrite(accepted, sd)
    val before = MediaStore.read(spark, sd).count()
    assert(before == 30L + 2 * nAccepted)
    MediaStore.compact(spark, sd)
    assert(MediaStore.read(spark, sd).count() == 30L + nAccepted)
    val caughtAfter = Dedup.hammingIncremental(reServed,
      MediaStore.read(spark, sd), "media_id", "dhash",
      maxHamming = 3, maxBucket = 64).collect()
    assert(caughtAfter.forall(!_.getBoolean(3)))
  }
}
