package graft

import org.scalatest.funsuite.AnyFunSuite

/** Fence on Bench's per-row profile: the Spark counters a timed row
  * reports, and the `SCALEBENCH {json}` line the `tools/` scripts read.
  */
class BenchProfileSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  test("timeRow counts lag_1d's jobs, stages and tasks") {
    // 3 jobs: the count the former per-row probe measured for this row
    // at sf0.001 on local[4] before Bench carried the listener
    val t = Bench.timeRow(spark, "lag_1d", dir)
    assert(t.rows > 0, t)
    assert(t.jobs == 3, t)
    assert(t.stages >= 1 && t.tasks >= t.stages, t)
    assert(t.sec > 0.0 && t.shuffleWriteBytes >= 0L, t)
  }

  test("a SCALEBENCH row line parses as JSON with the fields the tools read") {
    val line = Bench.timeRow(spark, "lag_1d", dir).line("lag_1d", dir)
    assert(line.startsWith("SCALEBENCH {"), line)
    val js = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(line.stripPrefix("SCALEBENCH "))
    assert(js.get("query").asText == "lag_1d", line)
    assert(js.get("sec").isNumber && js.get("gc_sec").isNumber, line)
    assert(js.get("rows").isIntegralNumber && js.get("rows").asLong > 0L, line)
    for (f <- Seq("jobs", "stages", "tasks"))
      assert(js.get(f).isIntegralNumber, s"$f missing: $line")
    assert(js.get("shuffle_write_mb").isNumber, line)
    assert(js.get("sf").asText == dir, line)
  }
}
