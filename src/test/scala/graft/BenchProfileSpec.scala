package graft

import org.scalatest.funsuite.AnyFunSuite

/** Fence on Bench's per-row profile: the Spark counters a timed row
  * reports, and the `SCALEBENCH {json}` line the `tools/` scripts read.
  */
class BenchProfileSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  test("timeRow counts lag_1d's jobs, stages and tasks") {
    // the first read of events in the session infers its schema in a
    // job of its own, so warm once; then 2 jobs at sf0.001 on local[4],
    // both submitted by the final action
    Bench.timeRow(spark, "lag_1d", dir)
    val t = Bench.timeRow(spark, "lag_1d", dir)
    assert(t.rows > 0, t)
    assert(t.jobs == 2, t)
    assert(t.eagerJobs == 0, t)
    assert(t.stages >= 1 && t.tasks >= t.stages, t)
    assert(t.sec > 0.0 && t.shuffleWriteBytes >= 0L, t)
  }

  test("timeRow counts dedup_minhash's eager jobs") {
    // 9 of its 13 jobs at sf0.001 are submitted inside the builder
    // (its checkpoints and counts), once the documents schema is cached
    Bench.timeRow(spark, "dedup_minhash", dir)
    val t = Bench.timeRow(spark, "dedup_minhash", dir)
    assert(t.rows > 0L, t)
    assert(t.eagerJobs == 9, t)
  }

  test("a SCALEBENCH row line parses as JSON with the fields the tools read") {
    val line = Bench.timeRow(spark, "lag_1d", dir).line("lag_1d", dir)
    assert(line.startsWith("SCALEBENCH {"), line)
    val js = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(line.stripPrefix("SCALEBENCH "))
    assert(js.get("query").asText == "lag_1d", line)
    assert(js.get("sec").isNumber && js.get("gc_sec").isNumber, line)
    assert(js.get("rows").isIntegralNumber && js.get("rows").asLong > 0L, line)
    for (f <- Seq("jobs", "eager_jobs", "stages", "tasks"))
      assert(js.get(f).isIntegralNumber, s"$f missing: $line")
    assert(js.get("shuffle_write_mb").isNumber, line)
    assert(js.get("sf").asText == dir, line)
  }
}
