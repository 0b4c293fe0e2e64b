package graft.sources

import graft.TestSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Sink-side contracts: the exact JSONL round-trip, the raw-file task
  * commit, and partitioned writes with partition pruning — exercised
  * end-to-end through real writes.
  */
class SinksSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val src = "/root/testdata/sf0.001"

  test("jsonl round-trip is exact on adversarial text") {
    import spark.implicits._
    val nasty = Seq(
      (1L, "plain text"),
      (2L, "line\nbreaks\r\nand\ttabs"),
      (3L, "\"quotes\" and \\backslashes\\ and {\"json\":1}"),
      (4L, "unicode: héllo wörld — ∑∫ 中文 🚀"),
      (5L, ""))
      .toDF("doc_id", "text")
    val out = java.nio.file.Files.createTempDirectory("graft_jsonl").toString
    Sinks.writeJsonl(nasty, out)
    val back = Sinks.readJsonl(spark, out, nasty.schema)
    assert(back.orderBy("doc_id").collect().map(r =>
        (r.getLong(0), if (r.isNullAt(1)) null else r.getString(1))).toSeq ==
      nasty.orderBy("doc_id").collect().map(r =>
        (r.getLong(0), if (r.isNullAt(1)) null else r.getString(1))).toSeq)
  }

  test("commitTaskFile: lost rename is benign ONLY when a winner exists") {
    import org.apache.hadoop.fs.{FileSystem, FilterFileSystem, Path}
    val dir = java.nio.file.Files.createTempDirectory("graft_commit").toString
    val conf = spark.sparkContext.hadoopConfiguration
    val real = new Path(dir).getFileSystem(conf)
    def mk(name: String): Path = {
      val p = new Path(dir, name)
      val o = real.create(p, true); o.write('x'); o.close(); p
    }
    // rename loses AND the concurrent winner's file lands in the same
    // instant — the speculative-race shape, without a real second
    // attempt. Benign: temp dropped, no throw, winner intact.
    val racing: FileSystem = new FilterFileSystem(real) {
      override def rename(src: Path, dst: Path): Boolean = {
        val o = real.create(dst, true); o.write('x'); o.close()
        false
      }
    }
    val tmp1 = mk(".s1.tmp"); val fin1 = new Path(dir, "s1.bin")
    Sinks.commitTaskFile(racing, tmp1, fin1)
    assert(real.exists(fin1) && !real.exists(tmp1))
    // rename loses and NOBODY produced the file
    val losing: FileSystem = new FilterFileSystem(real) {
      override def rename(src: Path, dst: Path): Boolean = false
    }
    // no winner → the shard would be silently lost; MUST throw
    // (before the fix this deleted the temp and returned success,
    // and the job then wrote _SUCCESS over a missing shard)
    val tmp2 = mk(".s2.tmp"); val fin2 = new Path(dir, "s2.bin")
    val e = intercept[java.io.IOException] {
      Sinks.commitTaskFile(losing, tmp2, fin2)
    }
    assert(e.getMessage.contains("commit failed"))
    // the real FS path still commits end-to-end
    val tmp3 = mk(".s3.tmp"); val fin3 = new Path(dir, "s3.bin")
    Sinks.commitTaskFile(real, tmp3, fin3)
    assert(real.exists(fin3) && !real.exists(tmp3))
  }

  test("partitioned write prunes partitions on read") {
    val out = java.nio.file.Files.createTempDirectory("graft_part").toString
    val ev = Tables.events(spark, src)
    ev.write.partitionBy("event_type").mode("overwrite").parquet(out)
    val back = spark.read.parquet(out).filter(col("event_type") === "click")
    val scan = back.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters") &&
      scan.contains("event_type"), scan)
    val expect = ev.filter(col("event_type") === "click").count()
    assert(back.count() == expect)
  }
}
