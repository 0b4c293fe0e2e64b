package graft.sources

import java.io.{BufferedInputStream, DataInputStream, EOFException}

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** WARC (ISO 28500) records — the format the big public web crawls
  * ship in, and therefore the front door of any 100 TB text-pipeline
  * ingest. Two halves:
  *
  *  - [[read]] — parse `.warc` shards into a DataFrame of records.
  *    Parallelism is PER FILE (the real-world contract: a crawl
  *    distribution is tens of thousands of ~1 GB shards; records
  *    inside one shard are length-prefixed sequential bytes with no
  *    index, so the file is the split unit — the same per-file
  *    parallel shape every published WARC processor uses). Memory is
  *    O(one record): the shard STREAMS through a
  *    `PortableDataStream`, never loaded whole.
  *  - [[writeWet]] — emit WET-style conversion records (`WARC-Type:
  *    conversion`, `Content-Type: text/plain`) — the plain-text
  *    sibling format the crawls distribute extracted text in. One
  *    `.warc` shard per partition, written straight from the task
  *    through Hadoop's FileSystem (hdfs:/s3a: paths work); the only
  *    data movement is the caller's own partitioning.
  *
  * Record layout written and parsed (version line, named headers, a
  * blank line, `Content-Length` payload bytes, two CRLFs):
  *
  * {{{
  * WARC/1.0\r\n
  * WARC-Type: conversion\r\n
  * WARC-Record-ID: <urn:md5:...>\r\n
  * WARC-Date: ...\r\n
  * WARC-Target-URI: ...\r\n
  * Content-Type: text/plain\r\n
  * Content-Length: N\r\n
  * \r\n
  * <N payload bytes>\r\n\r\n
  * }}}
  *
  * The writer's `WARC-Date` is a caller parameter with a FIXED
  * default (deterministic output is what makes the round-trip
  * hash-gateable; a production caller passes the crawl timestamp),
  * and `WARC-Record-ID` is the md5 of the target URI — a pure
  * function of the row, so re-running a failed task rewrites
  * identical bytes.
  */
object Warc {

  /** SCHEMA-EVOLUTION RULE (learned the hard way in round 11, when
    * `payload_digest` landed mid-schema and every positional consumer
    * — including WarcSpec's own getString indices — had to be bumped):
    * new columns are APPENDED at the end of these frames from now on,
    * and consumers should prefer name-based access
    * (`getAs[String]("payload_digest")`) over positions.
    */
  val schema: StructType = StructType(Seq(
    StructField("warc_type", StringType),
    StructField("record_id", StringType),
    StructField("warc_date", StringType),
    StructField("target_uri", StringType),
    StructField("content_type", StringType),
    StructField("payload_digest", StringType),
    StructField("content_length", LongType, nullable = false),
    StructField("content", BinaryType)))

  private val Crlf = "\r\n".getBytes("UTF-8")

  private def md5Hex(s: String): String = {
    val dig = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8"))
    dig.map(b => f"$b%02x").mkString
  }

  private val Base32Alphabet = "ABCDEFGHIJKLMNOPQRSTUVWXYZ234567"

  /** RFC 4648 base32 (uppercase, '=' padding). Pinned against the
    * RFC's own §10 test vectors in WarcSpec.
    */
  private[sources] def base32(data: Array[Byte]): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < data.length) {
      val n = math.min(5, data.length - i)
      var buf = 0L
      var j = 0
      while (j < 5) {
        buf = (buf << 8) | (if (j < n) data(i + j) & 0xFFL else 0L)
        j += 1
      }
      val outChars = n match {
        case 1 => 2; case 2 => 4; case 3 => 5; case 4 => 7; case _ => 8
      }
      var k = 0
      while (k < 8) {
        if (k < outChars)
          sb.append(Base32Alphabet(((buf >> (35 - 5 * k)) & 0x1F).toInt))
        else sb.append('=')
        k += 1
      }
      i += 5
    }
    sb.toString
  }

  /** `sha1:BASE32` payload digest — the convention the public crawls
    * label every record with (SHA-1 is 160 bits = exactly 32 base32
    * chars, no padding). Digest-keyed exact dedup at ingest reads this
    * HEADER instead of re-hashing payload bytes.
    */
  def sha1Base32(payload: Array[Byte]): String = {
    val dig = java.security.MessageDigest.getInstance("SHA-1")
      .digest(payload)
    "sha1:" + base32(dig)
  }

  /** One serialized record (see class doc for the layout).
    * `payloadDigest` (nullable) emits a `WARC-Payload-Digest` header —
    * for `response` records the digest of the HTTP BODY (the message
    * payload, not the envelope), for `conversion` records the digest
    * of the whole text payload, matching public-crawl convention.
    */
  def buildRecord(warcType: String, targetUri: String, warcDate: String,
                  contentType: String, payload: Array[Byte],
                  payloadDigest: String = null): Array[Byte] = {
    val header = new StringBuilder
    header.append("WARC/1.0\r\n")
    header.append(s"WARC-Type: $warcType\r\n")
    header.append(s"WARC-Record-ID: <urn:md5:${md5Hex(targetUri)}>\r\n")
    header.append(s"WARC-Date: $warcDate\r\n")
    header.append(s"WARC-Target-URI: $targetUri\r\n")
    if (payloadDigest != null)
      header.append(s"WARC-Payload-Digest: $payloadDigest\r\n")
    header.append(s"Content-Type: $contentType\r\n")
    header.append(s"Content-Length: ${payload.length}\r\n")
    header.append("\r\n")
    val h = header.toString.getBytes("UTF-8")
    val out = new Array[Byte](h.length + payload.length + 4)
    System.arraycopy(h, 0, out, 0, h.length)
    System.arraycopy(payload, 0, out, h.length, payload.length)
    System.arraycopy(Crlf, 0, out, h.length + payload.length, 2)
    System.arraycopy(Crlf, 0, out, h.length + payload.length + 2, 2)
    out
  }

  /** One `warcinfo` preamble record (the shard-metadata record every
    * public-crawl shard opens with): `WARC-Filename` names the shard,
    * the body is `application/warc-fields` key-value lines, and the
    * record id is the md5 of the filename (pure function of the shard
    * → task retries rewrite identical bytes).
    */
  private[sources] def buildWarcinfo(filename: String,
                                     warcDate: String): Array[Byte] = {
    val body = ("software: graft\r\n" +
      "format: WARC File Format 1.0\r\n").getBytes("UTF-8")
    val header = new StringBuilder
    header.append("WARC/1.0\r\n")
    header.append("WARC-Type: warcinfo\r\n")
    header.append(s"WARC-Record-ID: <urn:md5:${md5Hex(filename)}>\r\n")
    header.append(s"WARC-Date: $warcDate\r\n")
    header.append(s"WARC-Filename: $filename\r\n")
    header.append("Content-Type: application/warc-fields\r\n")
    header.append(s"Content-Length: ${body.length}\r\n")
    header.append("\r\n")
    val h = header.toString.getBytes("UTF-8")
    val out = new Array[Byte](h.length + body.length + 4)
    System.arraycopy(h, 0, out, 0, h.length)
    System.arraycopy(body, 0, out, h.length, body.length)
    System.arraycopy(Crlf, 0, out, h.length + body.length, 2)
    System.arraycopy(Crlf, 0, out, h.length + body.length + 2, 2)
    out
  }

  /** Write `(uriCol, textCol)` rows as WET-style conversion records,
    * one `.warc` shard per partition (`part-NNNNN.warc`). Idempotent
    * under task retry (deterministic names + bytes, overwrite
    * create); the caller owns partitioning — repartition upstream for
    * size-targeted shards.
    *
    * `gzipPerRecord = true` writes `.warc.gz` shards with ONE GZIP
    * MEMBER PER RECORD — the layout the public crawls actually
    * distribute (member boundaries = record boundaries). Java's gzip
    * writes a zero MTIME, so the bytes stay deterministic.
    */
  def writeWet(df: DataFrame, path: String, uriCol: String = "target_uri",
               textCol: String = "text",
               warcDate: String = "2000-01-01T00:00:00Z",
               gzipPerRecord: Boolean = false,
               warcinfo: Boolean = false): Unit = {
    import org.apache.spark.sql.functions.col
    val rows = df.select(col(uriCol).cast("string"), col(textCol).cast("string"))
    writeShards(rows, path, gzipPerRecord, warcinfo, warcDate) { r =>
      val uri = r.getString(0)
      val payload = r.getString(1).getBytes("UTF-8")
      buildRecord("conversion", uri, warcDate, "text/plain",
        payload, sha1Base32(payload))
    }
  }

  /** Write WARC `response` records — the RAW-crawl layer one step
    * before WET: the payload is a full HTTP envelope (status line +
    * headers + body), `Content-Type: application/http;
    * msgtype=response` (ISO 28500's convention for captured HTTP
    * messages). `headersCol` is an `array<struct<name,value>>` —
    * arrays preserve the caller's header order, so bytes stay
    * deterministic (a map would iterate in hash order); the writer
    * appends the envelope's own `Content-Length` from the body size.
    * Same shard/commit/gzip-member machinery as [[writeWet]].
    */
  def writeResponse(df: DataFrame, path: String,
                    uriCol: String = "target_uri",
                    statusCol: String = "status_line",
                    headersCol: String = "http_headers",
                    bodyCol: String = "body",
                    warcDate: String = "2000-01-01T00:00:00Z",
                    gzipPerRecord: Boolean = false,
                    warcinfo: Boolean = false): Unit = {
    import org.apache.spark.sql.functions.col
    val rows = df.select(col(uriCol).cast("string"),
      col(statusCol).cast("string"), col(headersCol),
      col(bodyCol).cast("binary"))
    writeShards(rows, path, gzipPerRecord, warcinfo, warcDate) { r =>
      val uri = r.getString(0)
      val headers = r.getSeq[Row](2).map(h => (h.getString(0), h.getString(1)))
      val body = r.getAs[Array[Byte]](3)
      val envelope = buildHttpResponse(r.getString(1), headers, body)
      // digest over the HTTP BODY (the message payload), not the
      // envelope — the key public-crawl consumers dedup on at ingest
      buildRecord("response", uri, warcDate,
        "application/http; msgtype=response", envelope, sha1Base32(body))
    }
  }

  /** Write WARC `request` records — the captured outbound HTTP request
    * beside each response in a raw crawl. The payload is the request
    * envelope only (request line + ordered headers + blank line; GET
    * requests carry no body), `Content-Type: application/http;
    * msgtype=request`. [[readResponses]] skips these by type; [[read]]
    * surfaces them unsplit like any other record.
    */
  def writeRequest(df: DataFrame, path: String,
                   uriCol: String = "target_uri",
                   requestLineCol: String = "request_line",
                   headersCol: String = "http_headers",
                   warcDate: String = "2000-01-01T00:00:00Z",
                   gzipPerRecord: Boolean = false,
                   warcinfo: Boolean = false): Unit = {
    import org.apache.spark.sql.functions.col
    val rows = df.select(col(uriCol).cast("string"),
      col(requestLineCol).cast("string"), col(headersCol))
    writeShards(rows, path, gzipPerRecord, warcinfo, warcDate) { r =>
      val uri = r.getString(0)
      val headers = r.getSeq[Row](2).map(h => (h.getString(0), h.getString(1)))
      val envelope = buildHttpRequest(r.getString(1), headers)
      buildRecord("request", uri, warcDate,
        "application/http; msgtype=request", envelope)
    }
  }

  /** Serialize one HTTP request envelope: request line, headers in the
    * given order, blank line — no body (the GET-shaped capture).
    */
  def buildHttpRequest(requestLine: String,
                       headers: Seq[(String, String)]): Array[Byte] = {
    val sb = new StringBuilder
    sb.append(requestLine).append("\r\n")
    headers.foreach { case (n, v) => sb.append(n).append(": ")
      .append(v).append("\r\n") }
    sb.append("\r\n")
    sb.toString.getBytes("UTF-8")
  }

  /** Serialize one HTTP response envelope: status line, headers in the
    * given order, a `Content-Length` derived from the body, blank
    * line, body bytes. Header names/values encode as UTF-8 (ASCII for
    * anything spec-conformant; captured reality is messier and must
    * round-trip).
    */
  def buildHttpResponse(statusLine: String, headers: Seq[(String, String)],
                        body: Array[Byte]): Array[Byte] = {
    val sb = new StringBuilder
    sb.append(statusLine).append("\r\n")
    headers.foreach { case (n, v) => sb.append(n).append(": ")
      .append(v).append("\r\n") }
    sb.append("Content-Length: ").append(body.length).append("\r\n\r\n")
    val h = sb.toString.getBytes("UTF-8")
    val out = new Array[Byte](h.length + body.length)
    System.arraycopy(h, 0, out, 0, h.length)
    System.arraycopy(body, 0, out, h.length, body.length)
    out
  }

  /** The shared shard writer: one `.warc[.gz]` file per partition
    * through the task-commit protocol, with the partition-scoped reused
    * Deflater when gzipping per record. `recordOf` maps a row to its
    * serialized record bytes.
    */
  private def writeShards(rows: DataFrame, path: String,
      gzipPerRecord: Boolean, warcinfo: Boolean, warcDate: String)(
      recordOf: Row => Array[Byte]): Unit = {
    val spark = rows.sparkSession
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    if (fs.exists(root)) fs.delete(root, true)
    fs.mkdirs(root)
    val serConf = spark.sparkContext.broadcast(
      new org.apache.spark.util.SerializableConfiguration(conf))
    rows.foreachPartition { (it: Iterator[Row]) =>
      if (it.hasNext) {
        val pid = org.apache.spark.TaskContext.getPartitionId()
        val ext = if (gzipPerRecord) ".warc.gz" else ".warc"
        val p = new Path(path, f"part-$pid%05d$ext")
        // ONE Deflater per partition, reset per member: a fresh
        // GZIPOutputStream per record allocates a native deflater per
        // row — the per-row-tax class the 100x anchor keeps catching
        val deflater = if (gzipPerRecord)
          new java.util.zip.Deflater(
            java.util.zip.Deflater.DEFAULT_COMPRESSION, true) else null
        try {
          Sinks.writeTaskFile(serConf.value.value, p) { rawOut =>
            def emit(rec: Array[Byte]): Unit =
              if (gzipPerRecord) gzipMember(rec, deflater, rawOut)
              else rawOut.write(rec)
            if (warcinfo) emit(buildWarcinfo(p.getName, warcDate))
            it.foreach(r => emit(recordOf(r)))
          }
        } finally if (deflater != null) deflater.end()
      }
    }
    Sinks.markSuccess(conf, path)
  }

  /** Write one complete gzip MEMBER (header, raw-deflate body, CRC32 +
    * ISIZE trailer) with a caller-owned reusable [[java.util.zip
    * .Deflater]] (`nowrap = true`, reset here per member). Byte-wise
    * the layout `GZIPOutputStream` produces (zero MTIME — the output
    * stays deterministic).
    */
  private[sources] def gzipMember(data: Array[Byte],
      deflater: java.util.zip.Deflater,
      out: java.io.OutputStream): Unit = {
    out.write(Array[Byte](0x1f, 0x8b.toByte, 8, 0, 0, 0, 0, 0, 0, 0))
    deflater.reset()
    deflater.setInput(data)
    deflater.finish()
    val buf = new Array[Byte](1 << 16)
    while (!deflater.finished()) {
      val n = deflater.deflate(buf)
      if (n > 0) out.write(buf, 0, n)
    }
    val crc = new java.util.zip.CRC32()
    crc.update(data)
    def le32(v: Long): Unit = {
      out.write((v & 0xFF).toInt); out.write(((v >> 8) & 0xFF).toInt)
      out.write(((v >> 16) & 0xFF).toInt); out.write(((v >> 24) & 0xFF).toInt)
    }
    le32(crc.getValue)
    le32(data.length.toLong)
  }

  /** Parse every `.warc` / `.warc.gz` shard under `path` into the
    * [[schema]] record frame. Per-file parallel, per-record memory
    * (the shard streams; see class doc). `.warc.gz` shards stream
    * through `GZIPInputStream`, which reads concatenated members
    * transparently — both the crawl's member-per-record layout and a
    * whole-shard single member parse identically. Malformed shards
    * fail loudly — a crawl ingest must not silently drop records.
    */
  /** The shared shard→record RDD behind [[read]] / [[readResponses]]:
    * glob-guard (Hadoop's FileInputFormat throws on a non-matching
    * input pattern, and a directory holds either plain or gzipped
    * shards, or a mix), per-file parallel binaryFiles, transparent
    * gzip-member decompression, streaming parse.
    */
  private def recordRdd(spark: SparkSession,
                        path: String): org.apache.spark.rdd.RDD[Rec] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new Path(path).getFileSystem(conf)
    val globs = Seq(s"$path/*.warc", s"$path/*.warc.gz")
      .filter(g => fs.globStatus(new Path(g)).nonEmpty)
    require(globs.nonEmpty, s"no .warc or .warc.gz shards under $path")
    spark.sparkContext
      .binaryFiles(globs.mkString(","))
      .flatMap { case (file, pds) =>
        val raw = pds.open()
        val in = new DataInputStream(new BufferedInputStream(
          if (file.endsWith(".gz"))
            new java.util.zip.GZIPInputStream(raw, 1 << 16)
          else raw))
        parseStream(in)
      }
  }

  def read(spark: SparkSession, path: String): DataFrame = {
    val rdd = recordRdd(spark, path)
      .map(r => Row(r.warcType, r.recordId, r.warcDate, r.targetUri,
        r.contentType, r.payloadDigest, r.content.length.toLong, r.content))
    spark.createDataFrame(rdd, schema)
  }

  val responseSchema: StructType = StructType(Seq(
    StructField("record_id", StringType),
    StructField("warc_date", StringType),
    StructField("target_uri", StringType),
    StructField("payload_digest", StringType),
    StructField("status_line", StringType),
    StructField("http_status", IntegerType),
    StructField("http_headers", ArrayType(StructType(Seq(
      StructField("name", StringType), StructField("value", StringType))))),
    StructField("body_length", LongType, nullable = false),
    StructField("body", BinaryType)))

  /** Parse `response` records under `path` with their HTTP envelopes
    * split — the raw-crawl ingest front door (`warcinfo`/`request`/
    * other record types are skipped; [[read]] surfaces everything
    * unsplit). The split happens in the SAME per-record streaming
    * pass as the WARC parse — no second scan, no UDF. Dirty rows
    * surface per-row: a payload with no envelope (no CRLFCRLF, or no
    * HTTP status line) comes back with NULL status and the whole
    * payload as body, never a failed job.
    */
  def readResponses(spark: SparkSession, path: String): DataFrame = {
    val rdd = recordRdd(spark, path)
      .filter(_.warcType == "response")
      .map { r =>
        val (status, headers, body) = splitHttpEnvelope(r.content)
        val code = statusCodeOf(status)
        Row(r.recordId, r.warcDate, r.targetUri, r.payloadDigest, status,
          code,
          if (headers == null) null
          else headers.map { case (n, v) => Row(n, v) },
          body.length.toLong, body)
      }
    spark.createDataFrame(rdd, responseSchema)
  }

  /** Split an HTTP message payload into (status line, headers, body).
    * Returns `(null, null, payload)` when no header/body separator or
    * no `HTTP/` status line is present — the per-row dirty-data
    * surface. The header block decodes as UTF-8 WHOLE, never
    * char-by-byte (the mojibake class fixed in `readLine`).
    */
  private[sources] def splitHttpEnvelope(
      payload: Array[Byte]): (String, Seq[(String, String)], Array[Byte]) = {
    // find the first \r\n\r\n
    var i = 0
    var sep = -1
    while (sep < 0 && i + 3 < payload.length) {
      if (payload(i) == '\r' && payload(i + 1) == '\n' &&
          payload(i + 2) == '\r' && payload(i + 3) == '\n') sep = i
      else i += 1
    }
    if (sep < 0) return (null, null, payload)
    val head = new String(payload, 0, sep, "UTF-8")
    val lines = head.split("\r\n", -1)
    if (lines.isEmpty || !lines(0).startsWith("HTTP/"))
      return (null, null, payload)
    val headers = lines.drop(1).toSeq.flatMap { l =>
      val j = l.indexOf(':')
      if (j <= 0) None
      else Some(l.substring(0, j) -> l.substring(j + 1).trim)
    }
    val body = java.util.Arrays.copyOfRange(payload, sep + 4, payload.length)
    (lines(0), headers, body)
  }

  private[sources] def statusCodeOf(statusLine: String): Integer = {
    if (statusLine == null) return null
    val parts = statusLine.split(" ")
    if (parts.length < 2) return null
    try Integer.valueOf(parts(1).toInt)
    catch { case _: NumberFormatException => null }
  }

  private[sources] case class Rec(warcType: String, recordId: String,
      warcDate: String, targetUri: String, contentType: String,
      payloadDigest: String, content: Array[Byte])

  /** Iterate records off a stream; closes it at EOF. */
  private[sources] def parseStream(in: DataInputStream): Iterator[Rec] =
    new Iterator[Rec] {
      private var nextRec: Rec = _
      private var done = false
      // accumulate BYTES and decode the line as UTF-8 whole: the old
      // per-byte `b.toChar` append reconstructed multi-byte sequences
      // as one mojibake char per byte, so a non-ASCII WARC-Target-URI
      // written correctly by the UTF-8 writer came back corrupted.
      // One buffer per iterator, reset per line (no per-line alloc).
      // (declared BEFORE the eager advance() below — field init order.)
      private val lineBuf = new java.io.ByteArrayOutputStream(256)
      advance()

      private def readLine(): String = {
        lineBuf.reset()
        var b = in.read()
        while (b != -1 && b != '\n') {
          if (b != '\r') lineBuf.write(b)
          b = in.read()
        }
        if (b == -1 && lineBuf.size == 0) null
        else new String(lineBuf.toByteArray, "UTF-8")
      }

      private def advance(): Unit = {
        // skip record-separator CRLFs / blank lines
        var line = readLine()
        while (line != null && line.isEmpty) line = readLine()
        if (line == null) {
          done = true; in.close(); return
        }
        require(line.startsWith("WARC/"),
          s"expected a WARC version line, got '$line'")
        var headers = Map.empty[String, String]
        var h = readLine()
        while (h != null && h.nonEmpty) {
          val i = h.indexOf(':')
          require(i > 0, s"malformed WARC header line '$h'")
          headers += h.substring(0, i).toLowerCase -> h.substring(i + 1).trim
          h = readLine()
        }
        val len = headers.getOrElse("content-length",
          sys.error("WARC record missing Content-Length")).toLong
        require(len <= Int.MaxValue, s"record payload too large: $len")
        val payload = new Array[Byte](len.toInt)
        try in.readFully(payload)
        catch { case _: EOFException =>
          sys.error("truncated WARC record payload") }
        nextRec = Rec(
          headers.getOrElse("warc-type", ""),
          headers.getOrElse("warc-record-id", ""),
          headers.getOrElse("warc-date", ""),
          headers.getOrElse("warc-target-uri", ""),
          headers.getOrElse("content-type", ""),
          headers.getOrElse("warc-payload-digest", null),
          payload)
      }

      override def hasNext: Boolean = !done

      override def next(): Rec = {
        val r = nextRec
        advance()
        r
      }
    }
}
