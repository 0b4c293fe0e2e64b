package graft.sources

import java.io.{ByteArrayInputStream, BufferedInputStream, DataInputStream}

import graft.TestSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class WarcSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def parse(bytes: Array[Byte]) =
    Warc.parseStream(new DataInputStream(
      new BufferedInputStream(new ByteArrayInputStream(bytes)))).toVector

  test("buildRecord/parseStream round-trip, multiple records") {
    val r1 = Warc.buildRecord("conversion", "http://a/1",
      "2000-01-01T00:00:00Z", "text/plain", "hello world".getBytes("UTF-8"))
    val r2 = Warc.buildRecord("response", "http://a/2",
      "2000-01-01T00:00:00Z", "application/http", Array[Byte](0, 1, 2, 3))
    val got = parse(r1 ++ r2)
    assert(got.size == 2)
    assert(got(0).warcType == "conversion")
    assert(got(0).targetUri == "http://a/1")
    assert(new String(got(0).content, "UTF-8") == "hello world")
    assert(got(1).warcType == "response")
    assert(got(1).content.toSeq == Seq[Byte](0, 1, 2, 3))
  }

  test("Content-Length counts BYTES: multi-byte payload framing survives") {
    val text = "déjà vu — 的是了"
    val rec = Warc.buildRecord("conversion", "http://a/mb",
      "2000-01-01T00:00:00Z", "text/plain", text.getBytes("UTF-8"))
    val tail = Warc.buildRecord("conversion", "http://a/after",
      "2000-01-01T00:00:00Z", "text/plain", "next".getBytes("UTF-8"))
    val got = parse(rec ++ tail)
    assert(got.size == 2)
    assert(new String(got(0).content, "UTF-8") == text)
    assert(new String(got(1).content, "UTF-8") == "next")
  }

  test("payload containing WARC framing bytes does not desync the parser") {
    // length-prefixed framing must not care what the payload contains
    val evil = "WARC/1.0\r\nContent-Length: 0\r\n\r\n embedded fake record"
    val rec = Warc.buildRecord("conversion", "http://a/evil",
      "2000-01-01T00:00:00Z", "text/plain", evil.getBytes("UTF-8"))
    val tail = Warc.buildRecord("conversion", "http://a/after",
      "2000-01-01T00:00:00Z", "text/plain", "ok".getBytes("UTF-8"))
    val got = parse(rec ++ tail)
    assert(got.size == 2)
    assert(new String(got(0).content, "UTF-8") == evil)
    assert(new String(got(1).content, "UTF-8") == "ok")
  }

  test("truncated payload fails loudly, not silently") {
    val rec = Warc.buildRecord("conversion", "http://a/t",
      "2000-01-01T00:00:00Z", "text/plain", "full payload".getBytes("UTF-8"))
    val cut = rec.take(rec.length - 10)
    val e = intercept[RuntimeException] { parse(cut) }
    assert(e.getMessage.contains("truncated"))
  }

  test("gzip member-per-record shards round-trip and interop with system gzip") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("warc_gz").toString
    val df = (1L to 40L).map(i => (s"http://x/$i", s"doc $i body"))
      .toDF("target_uri", "text").repartition(2)
    Warc.writeWet(df, dir, gzipPerRecord = true)
    val files = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".warc.gz"))
    assert(files.length == 2, files.map(_.getName).toSeq)
    val back = Warc.read(spark, dir)
    assert(back.count() == 40)
    val got = back.select(col("target_uri"),
        col("content").cast("string")).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got("http://x/3") == "doc 3 body")
    // member boundaries are REAL gzip members: the system gunzip
    // decompresses the concatenation, and the plain parser reads it
    import scala.sys.process._
    assume(("which gzip" #> new java.io.File("/dev/null")).! == 0)
    val plain = (Seq("gzip", "-dc", files.head.getPath) #> new java.io.File(s"$dir/plain.bin")).!
    assert(plain == 0)
    val recs = parse(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$dir/plain.bin")))
    assert(recs.nonEmpty && recs.forall(_.warcType == "conversion"))
  }

  test("non-ASCII WARC-Target-URI round-trips byte-exact") {
    // the writer emits proper UTF-8 header bytes; the old per-byte
    // toChar readLine reconstructed them as mojibake — pinned here
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("warc_utf8").toString
    val uri = "http://例え.テスト/café/straße?q=日本語"
    val df = Seq((uri, "body")).toDF("target_uri", "text")
    Warc.writeWet(df, dir)
    val got = Warc.read(spark, dir).select("target_uri").as[String].collect()
    assert(got.toSeq == Seq(uri))
  }

  test("response records: HTTP envelope round-trips, splitter surfaces dirty rows") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("warc_resp").toString
    // adversarial body: contains WARC framing AND an HTTP envelope of
    // its own — the length-prefixed parse and the FIRST-crlfcrlf split
    // must both stay put; plus a non-ASCII URI through the fixed reader
    val evil = ("WARC/1.0\r\nContent-Length: 0\r\n\r\n" +
      "HTTP/1.1 500 fake\r\nX: y\r\n\r\nnested").getBytes("UTF-8")
    val rows = Seq(
      ("http://a/ok", "HTTP/1.1 200 OK",
        Seq(("Content-Type", "text/html; charset=utf-8"), ("Server", "g")),
        "<html><body>hi</body></html>".getBytes("UTF-8")),
      ("http://a/évil", "HTTP/1.1 404 Not Found",
        Seq(("Content-Type", "text/plain")), evil))
      .toDF("target_uri", "status_line", "http_headers", "body")
    Warc.writeResponse(rows, dir)
    val back = Warc.readResponses(spark, dir)
      .collect().map(r => r.getString(2) -> r).toMap
    val ok = back("http://a/ok")
    assert(ok.getString(4) == "HTTP/1.1 200 OK")
    assert(ok.getInt(5) == 200)
    val hdrs = ok.getSeq[org.apache.spark.sql.Row](6)
      .map(h => h.getString(0) -> h.getString(1)).toMap
    assert(hdrs("Content-Type") == "text/html; charset=utf-8")
    assert(hdrs("Content-Length") == "28")
    assert(new String(ok.getAs[Array[Byte]](8), "UTF-8")
      == "<html><body>hi</body></html>")
    // the writer stamps sha1:BASE32 of the BODY; the reader surfaces it
    assert(ok.getString(3) == Warc.sha1Base32(
      "<html><body>hi</body></html>".getBytes("UTF-8")))
    val ev = back("http://a/évil")
    assert(ev.getInt(5) == 404)
    assert(ev.getAs[Array[Byte]](8).toSeq == evil.toSeq)
    assert(ev.getString(3) == Warc.sha1Base32(evil))
    // a payload with NO envelope surfaces NULL status + whole body
    val (s0, h0, b0) = Warc.splitHttpEnvelope("no envelope".getBytes("UTF-8"))
    assert(s0 == null && h0 == null &&
      new String(b0, "UTF-8") == "no envelope")
    // read() still surfaces the records unsplit with the right type
    assert(Warc.read(spark, dir)
      .where(col("warc_type") === "response").count() == 2)
  }

  test("base32 matches RFC 4648 §10 test vectors; sha1 digest is 32 chars unpadded") {
    val vectors = Seq(
      "" -> "", "f" -> "MY======", "fo" -> "MZXQ====",
      "foo" -> "MZXW6===", "foob" -> "MZXW6YQ=", "fooba" -> "MZXW6YTB",
      "foobar" -> "MZXW6YTBOI======")
    vectors.foreach { case (in, want) =>
      assert(Warc.base32(in.getBytes("UTF-8")) == want, s"base32($in)")
    }
    // SHA-1 is 160 bits = exactly 32 base32 chars, never padded
    val d = Warc.sha1Base32("abc".getBytes("UTF-8"))
    assert(d.startsWith("sha1:") && d.length == 37 && !d.contains("="))
    // deterministic and byte-sensitive
    assert(d == Warc.sha1Base32("abc".getBytes("UTF-8")))
    assert(d != Warc.sha1Base32("abd".getBytes("UTF-8")))
  }

  test("warcinfo preamble: one per shard, skipped by readResponses, read surfaces it") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("warc_info").toString
    val rows = (1L to 20L).map(i => (s"http://x/$i", "HTTP/1.1 200 OK",
        Seq(("Content-Type", "text/plain")), s"body $i".getBytes("UTF-8")))
      .toDF("target_uri", "status_line", "http_headers", "body")
      .repartition(2)
    Warc.writeResponse(rows, dir, warcinfo = true)
    val all = Warc.read(spark, dir)
    assert(all.where(col("warc_type") === "warcinfo").count() == 2)
    assert(all.count() == 22)
    // the preamble names its own shard and parses as warc-fields
    val info = all.where(col("warc_type") === "warcinfo")
      .select(col("content").cast("string")).as[String].collect()
    assert(info.forall(_.contains("format: WARC File Format 1.0")))
    // type-filtered response parse is preamble-blind
    assert(Warc.readResponses(spark, dir).count() == 20)
  }

  test("request records round-trip; readResponses skips them") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("warc_req").toString
    val rows = Seq(("http://x/1", "GET /1 HTTP/1.1",
        Seq(("Host", "x"), ("Accept", "*/*"))))
      .toDF("target_uri", "request_line", "http_headers")
    Warc.writeRequest(rows, dir)
    val got = Warc.read(spark, dir).collect()
    assert(got.length == 1)
    val r = got(0)
    assert(r.getString(0) == "request")
    assert(r.getString(4) == "application/http; msgtype=request")
    assert(r.isNullAt(5)) // requests carry no payload digest
    assert(new String(r.getAs[Array[Byte]](7), "UTF-8")
      == "GET /1 HTTP/1.1\r\nHost: x\r\nAccept: */*\r\n\r\n")
    assert(Warc.readResponses(spark, dir).count() == 0)
  }

  test("digest-keyed dedup groups byte-equal bodies from the parsed header alone") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("warc_dig").toString
    val rows = Seq(
      ("http://x/1", "same body"), ("http://x/2", "same body"),
      ("http://x/3", "other body"))
      .map { case (u, b) => (u, "HTTP/1.1 200 OK",
        Seq(("Content-Type", "text/plain")), b.getBytes("UTF-8")) }
      .toDF("target_uri", "status_line", "http_headers", "body")
    Warc.writeResponse(rows, dir)
    val groups = Warc.readResponses(spark, dir)
      .groupBy(col("payload_digest")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(groups.values.toSeq.sorted == Seq(1L, 2L))
    assert(groups.keySet == Set(
      Warc.sha1Base32("same body".getBytes("UTF-8")),
      Warc.sha1Base32("other body".getBytes("UTF-8"))))
  }

  test("writeWet/read round-trip through real shard files, sharded by partition") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("warc_spec").toString
    val df = (1L to 100L)
      .map(i => (s"http://x/$i", s"doc $i text with newline\nand 'quotes'"))
      .toDF("target_uri", "text").repartition(4)
    Warc.writeWet(df, dir)
    val files = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".warc"))
    assert(files.length == 4, files.map(_.getName).toSeq)
    val back = Warc.read(spark, dir)
    assert(back.count() == 100)
    val got = back.select(col("target_uri"),
        col("content").cast("string").as("text"), col("warc_type"),
        col("record_id"), col("content_length"))
      .collect().map(r => r.getString(0) ->
        (r.getString(1), r.getString(2), r.getString(3), r.getLong(4))).toMap
    val (t7, w7, id7, l7) = got("http://x/7")
    assert(t7 == "doc 7 text with newline\nand 'quotes'")
    assert(w7 == "conversion")
    assert(id7.startsWith("<urn:md5:") && id7.endsWith(">"))
    assert(l7 == t7.getBytes("UTF-8").length.toLong)
  }
}
