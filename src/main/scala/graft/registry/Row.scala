package graft
package registry

import org.apache.spark.sql.{DataFrame, SparkSession}

/** A registered row: its DataFrame function of `(session, sf dir)` and
  * its DuckDB oracle, defined together so every row has exactly one
  * oracle.
  * [[graft.SparkEntry.queries]] and [[graft.SparkEntry.oracleSql]] are
  * both derived from the family files' `rows`. The oracle SQL is built
  * on first use, so a caller that only runs the rows (Bench, perfbench)
  * never pays for the 199 strings — some replay a whole fit, such as the
  * BPE merge table.
  */
private[graft] final class Row(val name: String,
                               val build: (SparkSession, String) => DataFrame,
                               sql: => String) {
  lazy val oracle: String = sql
}

private[graft] object Row {
  def apply(name: String, build: (SparkSession, String) => DataFrame,
            oracle: => String): Row = new Row(name, build, oracle)
}
