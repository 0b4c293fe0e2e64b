package graft.sources

import java.io.{BufferedInputStream, DataInputStream}

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** POSIX ustar tar shards — the WebDataset layout: training samples
  * stored as consecutive members of plain `.tar` shards
  * (`{key}.{ext}` per modality — `000017.jpg`, `000017.json`, …),
  * the de-facto interchange format for large-scale MULTIMODAL
  * training data (sequential reads, no per-sample open cost, any
  * tool can unpack it). The engine half of that contract:
  *
  *  - [[writeTarShards]] — one `.tar` shard per partition, written
  *    straight from the task through Hadoop's FS (the [[Warc]]
  *    convention; the caller owns partitioning/shard sizing).
  *    Headers are DETERMINISTIC (mtime 0, uid/gid 0, mode 0644) so
  *    a retried task rewrites identical bytes and round-trips
  *    hash-gate.
  *  - [[read]] — parse shards back per-file-parallel with O(one
  *    member) memory (streams; never loads a shard whole).
  *
  * Only the ustar subset WebDataset itself uses is implemented:
  * regular files, names ≤ 100 bytes (require'd — a training-sample
  * key that long is a bug), no links/devices/pax extensions; the
  * reader skips non-file typeflags rather than failing so shards
  * from other producers (directory entries, pax headers) still read.
  */
object Tar {

  val schema: StructType = StructType(Seq(
    StructField("name", StringType),
    StructField("size", LongType, nullable = false),
    StructField("content", BinaryType)))

  private val BlockSize = 512

  /** Serialize one ustar member (header block + data padded to 512). */
  def buildEntry(name: String, content: Array[Byte]): Array[Byte] = {
    val nameBytes = name.getBytes("UTF-8")
    require(nameBytes.length <= 100,
      s"ustar member name exceeds 100 bytes: '$name'")
    val header = new Array[Byte](BlockSize)
    def putOctal(value: Long, off: Int, len: Int): Unit = {
      // len-1 octal digits, zero-padded, NUL-terminated (ustar style)
      val s = java.lang.Long.toOctalString(value)
      val pad = len - 1 - s.length
      require(pad >= 0, s"octal field overflow: $value in $len")
      var i = 0
      while (i < pad) { header(off + i) = '0'.toByte; i += 1 }
      System.arraycopy(s.getBytes("US-ASCII"), 0, header, off + pad, s.length)
      header(off + len - 1) = 0
    }
    System.arraycopy(nameBytes, 0, header, 0, nameBytes.length)
    putOctal(420, 100, 8)                 // mode 0644
    putOctal(0, 108, 8)                   // uid
    putOctal(0, 116, 8)                   // gid
    putOctal(content.length.toLong, 124, 12) // size
    putOctal(0, 136, 12)                  // mtime — deterministic
    header(156) = '0'                     // typeflag: regular file
    System.arraycopy("ustar".getBytes("US-ASCII"), 0, header, 257, 5)
    header(263) = '0'; header(264) = '0'  // version "00"
    // checksum: field treated as 8 spaces during the sum
    java.util.Arrays.fill(header, 148, 156, ' '.toByte)
    var sum = 0L
    var i = 0
    while (i < BlockSize) { sum += header(i) & 0xFF; i += 1 }
    val cs = java.lang.Long.toOctalString(sum)
    val csPad = 6 - cs.length
    var j = 0
    while (j < csPad) { header(148 + j) = '0'.toByte; j += 1 }
    System.arraycopy(cs.getBytes("US-ASCII"), 0, header, 148 + csPad, cs.length)
    header(154) = 0; header(155) = ' '
    val dataBlocks = (content.length + BlockSize - 1) / BlockSize
    val out = new Array[Byte](BlockSize + dataBlocks * BlockSize)
    System.arraycopy(header, 0, out, 0, BlockSize)
    System.arraycopy(content, 0, out, BlockSize, content.length)
    out
  }

  /** Two zero blocks — the end-of-archive marker. */
  private def trailer: Array[Byte] = new Array[Byte](2 * BlockSize)

  /** Write `(nameCol, contentCol: binary)` rows as one `.tar` shard
    * per partition (`part-NNNNN.tar`). WebDataset grouping (all of a
    * sample's members consecutive) is the caller's row order —
    * sort within partitions by sample key upstream.
    */
  def writeTarShards(df: DataFrame, path: String, nameCol: String = "name",
                     contentCol: String = "content"): Unit = {
    val spark = df.sparkSession
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    if (fs.exists(root)) fs.delete(root, true)
    fs.mkdirs(root)
    val serConf = spark.sparkContext.broadcast(
      new org.apache.spark.util.SerializableConfiguration(conf))
    import org.apache.spark.sql.functions.col
    val rows = df.select(col(nameCol).cast("string"),
      col(contentCol).cast("binary"))
    rows.foreachPartition { (it: Iterator[Row]) =>
      if (it.hasNext) {
        val pid = org.apache.spark.TaskContext.getPartitionId()
        val p = new Path(path, f"part-$pid%05d.tar")
        Sinks.writeTaskFile(serConf.value.value, p) { out =>
          it.foreach(r =>
            out.write(buildEntry(r.getString(0), r.getAs[Array[Byte]](1))))
          out.write(trailer)
        }
      }
    }
    Sinks.markSuccess(conf, path)
  }

  /** Parse every `.tar` shard under `path` into the [[schema]] member
    * frame. Per-file parallel, per-member memory.
    */
  def read(spark: SparkSession, path: String): DataFrame = {
    // guard the glob (mirrors Warc.read): an empty or wrong directory
    // otherwise surfaces as an obscure Hadoop input-path exception
    val conf = spark.sparkContext.hadoopConfiguration
    val glob = new Path(path + "/*.tar")
    val fs = glob.getFileSystem(conf)
    require(fs.globStatus(glob) != null && fs.globStatus(glob).nonEmpty,
      s"no .tar shards under $path")
    val rdd = spark.sparkContext
      .binaryFiles(path + "/*.tar")
      .flatMap { case (_, pds) =>
        val in = new DataInputStream(new BufferedInputStream(pds.open()))
        parseStream(in)
      }
      .map { case (name, content) =>
        Row(name, content.length.toLong, content) }
    spark.createDataFrame(rdd, schema)
  }

  private[sources] def parseStream(
      in: DataInputStream): Iterator[(String, Array[Byte])] =
    new Iterator[(String, Array[Byte])] {
      private var nextEntry: (String, Array[Byte]) = _
      private var done = false
      advance()

      private def cString(block: Array[Byte], off: Int, len: Int): String = {
        var end = off
        while (end < off + len && block(end) != 0) end += 1
        new String(block, off, end - off, "UTF-8")
      }

      private def advance(): Unit = {
        while (true) {
          val header = new Array[Byte](BlockSize)
          try in.readFully(header)
          catch { case _: java.io.EOFException =>
            done = true; in.close(); return }
          if (header.forall(_ == 0)) { done = true; in.close(); return }
          val size = java.lang.Long.parseLong(
            cString(header, 124, 12).trim, 8)
          require(size <= Int.MaxValue, s"tar member too large: $size")
          val content = new Array[Byte](size.toInt)
          in.readFully(content)
          val padding = (BlockSize - (size % BlockSize)) % BlockSize
          if (padding > 0) in.skipNBytes(padding)
          val typeflag = header(156)
          if (typeflag == '0' || typeflag == 0) {
            nextEntry = (cString(header, 0, 100), content)
            return
          } // else: skip non-file member (dir, pax, link) and continue
        }
      }

      override def hasNext: Boolean = !done

      override def next(): (String, Array[Byte]) = {
        val e = nextEntry
        advance()
        e
      }
    }
}
