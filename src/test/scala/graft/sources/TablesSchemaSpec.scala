package graft.sources

import graft.TestSpark
import java.util.concurrent.atomic.AtomicInteger
import org.apache.commons.io.FileUtils
import org.apache.spark.graftbench.ListenerSync
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** `Tables.parquet` infers a path's schema once per file listing: a
  * repeated read submits no inference job, and a table rewritten in
  * place or appended to is read with its new schema and rows.
  */
class TablesSchemaSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  /** The value of `f` and the Spark jobs submitted while it ran. */
  private def jobsDuring[T](f: => T): (T, Int) = {
    val sc = spark.sparkContext
    ListenerSync.waitUntilEmpty(sc)
    val jobs = new AtomicInteger(0)
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    sc.addSparkListener(l)
    try {
      val r = f
      ListenerSync.waitUntilEmpty(sc)
      (r, jobs.get)
    } finally sc.removeSparkListener(l)
  }

  private def multiset(df: DataFrame): Map[Seq[Any], Int] =
    df.collect().toSeq.groupBy(_.toSeq).map { case (k, v) => k -> v.size }

  private def withTempDir(f: String => Unit): Unit = {
    val d = java.nio.file.Files.createTempDirectory("graft_schema").toFile
    try f(d.toString) finally FileUtils.deleteQuietly(d)
  }

  test("a second events read submits no job and returns the same rows") {
    val first = Tables.events(spark, dir)
    val (second, jobs) = jobsDuring(Tables.events(spark, dir))
    assert(jobs == 0, "the second read inferred the schema again")
    assert(second.schema == first.schema)
    assert(multiset(second) == multiset(first))
  }

  test("a table rewritten in place is read with its new column and rows") {
    import spark.implicits._
    withTempDir { d =>
      val path = s"$d/t.parquet"
      Seq((1L, "a"), (2L, "b")).toDF("id", "x").write.parquet(path)
      assert(Tables.parquet(spark, path).columns.toSeq == Seq("id", "x"))
      val now = Seq((7L, "p", 0.5), (8L, "q", 1.5)).toDF("id", "x", "y")
      now.write.mode("overwrite").parquet(path)
      val back = Tables.parquet(spark, path)
      assert(back.columns.toSeq == Seq("id", "x", "y"))
      assert(multiset(back) == multiset(now))
    }
  }

  test("a store dir read, appended to and read again returns the appended rows") {
    import spark.implicits._
    withTempDir { d =>
      val path = s"$d/fingerprints"
      val base = Seq(1L, 2L, 3L).toDF("fingerprint")
      base.write.parquet(path)
      assert(multiset(Tables.parquet(spark, path)) == multiset(base))
      val inc = Seq(4L, 5L).toDF("fingerprint")
      inc.write.mode("append").parquet(path)
      assert(multiset(Tables.parquet(spark, path)) ==
        multiset(base.unionAll(inc)))
    }
  }
}
