package graft

import graft.lagops.{LagMatrix, LagSpec, Lead, Rolling}
import graft.sources.Tables
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** The method-call sugar of `graft.lagops.implicits` (the port of the
  * reference's `CreateLagMatrix` trait) must hit the same operators as
  * the object API.
  */
class SyntaxSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  private def rows(df: DataFrame): Map[Seq[Any], Int] =
    df.collect().toSeq.map(_.toSeq).groupBy(identity).map {
      case (k, v) => k -> v.size }

  test("lagops.implicits methods return the object API's rows") {
    import graft.lagops.implicits._
    val ev = Tables.events(spark, dir)
    val spec = LagSpec(Seq("ts_ns", "event_id"), Seq("user_id"), Seq(1, 2), None)
    val lagged = ev.lagMatrix("value", spec)
    assert(lagged.columns.contains("value_lag_2"))
    assert(lagged.count() == ev.count())
    assert(rows(lagged) == rows(LagMatrix.wide(ev, "value", spec)))
    assert(rows(ev.lagMatrixLong("value", spec)) ==
      rows(LagMatrix.long(ev, "value", spec)))
    assert(rows(ev.leadMatrix("value", spec)) ==
      rows(Lead.wide(ev, "value", spec)))
    assert(rows(ev.rolling("value", spec, 3)) ==
      rows(Rolling.over(ev, "value", spec, 3)))
  }
}
