package graft
package registry

import graft.plans.AsOfJoin
import graft.sources.Tables
import org.apache.spark.sql.functions._

/** The relational layer over the star schema (free from Catalyst,
  * exercised to prove pushdown, broadcast and AQE behavior), set
  * operations, pivots and quantiles, and the as-of and range joins
  * (time-series table stakes).
  */
private[graft] object RelationalRows {

  lazy val rows: Seq[Row] = Seq(
    Row("q_set_ops", (s, dir) => {
      // (user, day) pairs with clicks but no purchase that day (EXCEPT)
      // day as STRING: date values round-trip differently through the two
      // engines' parquet/pandas paths (date vs midnight-datetime)
      val ev = Tables.events(s, dir)
        .withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))
      ev.filter(col("event_type") === "click")
        .select("user_id", "day").distinct()
        .except(ev.filter(col("event_type") === "purchase")
          .select("user_id", "day").distinct())
    },
      """SELECT DISTINCT user_id, strftime(ts, '%Y-%m-%d') AS day
         FROM events WHERE event_type = 'click'
         EXCEPT
         SELECT DISTINCT user_id, strftime(ts, '%Y-%m-%d') AS day
         FROM events WHERE event_type = 'purchase'"""),

    Row("q1_pricing", (s, dir) => {
      val li = Tables.lineitem(s, dir)
      li.filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"),
          sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double").as("sum_base_price"),
          sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
            .cast("decimal(18,6)")).cast("double").as("sum_disc_price"),
          count(lit(1)).as("count_order"))
    },
      """SELECT l_returnflag, l_linestatus,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
         CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS sum_disc_price,
         COUNT(*) AS count_order
         FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
         GROUP BY l_returnflag, l_linestatus"""),

    Row("q_rollup", (s, dir) => {
      // grouping-set super-aggregates: (flag, status), per-flag, and
      // grand total in ONE pass — Spark plans a single Expand +
      // aggregate, not three scans
      val li = Tables.lineitem(s, dir)
      li.rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double")
            .as("sum_qty"))
    },
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
         FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)"""),

    Row("q_window_stats", (s, dir) =>
      // distribution window functions (ntile / percent_rank /
      // cume_dist) over a (value, id) total order per event type —
      // computed via the range-bucket re-key (EventAnalytics
      // .distributionStats) so no single task ever sorts a whole
      // event type: the direct ntile window keeps one task per
      // distinct type alive forever (9.5x/decade on the r11 anchors)
      graft.lagops.EventAnalytics.distributionStats(
        Tables.events(s, dir), "event_type", "value", "event_id",
        tiles = 4, buckets = 32),
      """SELECT event_id, event_type, value,
         ntile(4) OVER w AS quartile,
         round(percent_rank() OVER w, 6) AS pct_rank,
         round(cume_dist() OVER w, 6) AS cume
         FROM events
         WINDOW w AS (PARTITION BY event_type ORDER BY value, event_id)"""),

    Row("q3_topk_orders", (s, dir) => {
      val c = Tables.customer(s, dir).filter(col("c_mktsegment") === "BUILDING")
      val o = Tables.orders(s, dir)
      val li = Tables.lineitem(s, dir)
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .groupBy(col("o_orderkey"))
        .agg(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
          .cast("decimal(18,6)")).cast("double").as("revenue"))
        .orderBy(col("revenue").desc, col("o_orderkey"))
        .limit(10)
    },
      """SELECT o_orderkey,
         CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         WHERE c_mktsegment = 'BUILDING'
         GROUP BY o_orderkey ORDER BY revenue DESC, o_orderkey LIMIT 10"""),

    Row("q5_region_revenue", (s, dir) => {
      val li = Tables.lineitem(s, dir)
      val o = Tables.orders(s, dir)
      val c = Tables.customer(s, dir)
      val n = Tables.nation(s, dir)
      val r = Tables.region(s, dir)
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
          .cast("decimal(18,6)")).cast("double").as("revenue"),
          count(lit(1)).as("n_items"))
    },
      """SELECT r_name, n_name,
         CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
         COUNT(*) AS n_items
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         GROUP BY r_name, n_name"""),

    Row("sql_q6", (s, dir) => {
      // SQL front door: same engine, spark.sql text instead of the
      // DataFrame DSL (temp views over the canonical loaders)
      Tables.lineitem(s, dir).createOrReplaceTempView("lineitem_v")
      s.sql("""SELECT CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
                      COUNT(*) AS n
               FROM lineitem_v
               WHERE l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""")
    },
      """SELECT CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
         COUNT(*) AS n
         FROM lineitem
         WHERE l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24"""),

    Row("sql_q17_small_qty", (s, dir) => {
      // TPC-H q17 shape: CORRELATED scalar subquery (per-part 20%-of-
      // average quantity threshold), written as SQL so Catalyst's
      // DecorrelateInnerQuery rewrites it into the aggregate + join the
      // DataFrame form would hand-build — one lineitem scan feeds both
      // the threshold aggregate and the probe side, parts broadcast.
      // l_quantity values are small integers in doubles, so the avg is
      // exact and the threshold comparison is engine-identical.
      Tables.lineitem(s, dir).createOrReplaceTempView("lineitem_v")
      Tables.part(s, dir).createOrReplaceTempView("part_v")
      s.sql("""SELECT ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0, 2) AS avg_yearly,
                      COUNT(*) AS n_small_qty
               FROM lineitem_v l JOIN part_v p ON p.p_partkey = l.l_partkey
               WHERE p.p_brand = 'Brand#4'
               AND l.l_quantity < (SELECT 0.2 * AVG(l2.l_quantity)
                                   FROM lineitem_v l2
                                   WHERE l2.l_partkey = p.p_partkey)""")
    },
      """SELECT ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0, 2) AS avg_yearly,
         COUNT(*) AS n_small_qty
         FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
         WHERE p.p_brand = 'Brand#4'
         AND l.l_quantity < (SELECT 0.2 * AVG(l2.l_quantity)
                             FROM lineitem l2
                             WHERE l2.l_partkey = p.p_partkey)"""),

    Row("window_rank", (s, dir) => {
      val o = Tables.orders(s, dir)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      o.select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
          row_number().over(w).as("rnk"))
        .filter(col("rnk") <= 3)
    },
      """SELECT o_custkey, o_orderkey, o_totalprice, rnk FROM (
         SELECT o_custkey, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rnk
         FROM orders) WHERE rnk <= 3"""),

    Row("json_props", (s, dir) => {
      val ev = Tables.events(s, dir)
      ev.select(col("event_id"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
    },
      """SELECT event_id,
         CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS BIGINT) AS k
         FROM events"""),

    Row("q_pivot", (s, dir) => {
      val d = Tables.documents(s, dir)
      d.groupBy(col("source"))
        .pivot("lang", Seq("de", "en", "es", "fr", "zh"))
        .agg(count(lit(1)))
        .na.fill(0L)
    },
      """SELECT source,
         count(*) FILTER (lang = 'de') AS de,
         count(*) FILTER (lang = 'en') AS en,
         count(*) FILTER (lang = 'es') AS es,
         count(*) FILTER (lang = 'fr') AS fr,
         count(*) FILTER (lang = 'zh') AS zh
         FROM documents GROUP BY source"""),

    Row("q_anti_join", (s, dir) => {
      // customers with no high-value order (every customer has SOME order
      // in this data, so the unfiltered anti-join would be empty)
      val c = Tables.customer(s, dir)
      val o = Tables.orders(s, dir).filter(col("o_totalprice") > 400000)
      c.join(o, col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name")
    },
      """SELECT c_custkey, c_name FROM customer
         WHERE NOT EXISTS (SELECT 1 FROM orders
           WHERE o_custkey = c_custkey AND o_totalprice > 400000)"""),

    Row("q_quantile", (s, dir) => {
      val ev = Tables.events(s, dir)
      ev.groupBy(col("event_type"))
        .agg(round(percentile(col("value"), lit(0.5)), 6).as("p50"),
          round(percentile(col("value"), lit(0.9)), 6).as("p90"),
          count(lit(1)).as("n"))
    },
      """SELECT event_type, round(quantile_cont(value, 0.5), 6) AS p50,
         round(quantile_cont(value, 0.9), 6) AS p90, count(*) AS n
         FROM events GROUP BY event_type"""),

    Row("salted_agg", (s, dir) =>
      graft.plans.SkewAgg.saltedStats(Tables.events(s, dir),
        Seq("event_type"), "value", saltBuckets = 16),
      """SELECT event_type, count(*) AS n,
         CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total,
         min(value) AS vmin, max(value) AS vmax
         FROM events GROUP BY event_type"""),

    Row("asof_join", (s, dir) => {
      val ev = Tables.events(s, dir).withColumn("key", col("user_id") % 5)
      val oa = Tables.orders(s, dir)
        .groupBy((col("o_custkey") % 5).as("key"), col("o_orderdate"))
        .agg(max(col("o_totalprice")).as("last_price"))
      AsOfJoin.backward(ev, oa, "key", "ts", "o_orderdate", Seq("last_price"))
        .select(col("event_id"), col("key"), col("last_price"))
    },
      """WITH oa AS (SELECT o_custkey % 5 AS key, o_orderdate,
           max(o_totalprice) AS last_price FROM orders GROUP BY 1, 2)
         SELECT e.event_id, e.user_id % 5 AS key, oa.last_price
         FROM events e ASOF LEFT JOIN oa
         ON (e.user_id % 5) = oa.key AND e.ts >= oa.o_orderdate"""),

    Row("asof_join_forward", (s, dir) => {
      // the next-observation twin: earliest order at-or-after each
      // event (same union-window machinery run toward the future)
      val ev = Tables.events(s, dir).withColumn("key", col("user_id") % 5)
      val oa = Tables.orders(s, dir)
        .groupBy((col("o_custkey") % 5).as("key"), col("o_orderdate"))
        .agg(max(col("o_totalprice")).as("next_price"))
      AsOfJoin.forward(ev, oa, "key", "ts", "o_orderdate", Seq("next_price"))
        .select(col("event_id"), col("key"), col("next_price"))
    },
      // DuckDB ASOF with <= picks the nearest right row at-or-after
      // the left time — the forward twin's exact semantics
      """WITH oa AS (SELECT o_custkey % 5 AS key, o_orderdate,
           max(o_totalprice) AS next_price FROM orders GROUP BY 1, 2)
         SELECT e.event_id, e.user_id % 5 AS key, oa.next_price
         FROM events e ASOF LEFT JOIN oa
         ON (e.user_id % 5) = oa.key AND e.ts <= oa.o_orderdate"""),

    Row("asof_join_tolerance", (s, dir) => {
      // tolerance-bounded as-of (the pandas merge_asof `tolerance`
      // contract): latest purchase by the same user at-or-before each
      // event, kept only if within 24h — else the -1 sentinel. The
      // match time rides along in the payload; the tolerance test is a
      // post-join projection, so the plan is byte-identical to plain
      // backward as-of (one key-shuffle, no row amplification).
      val ev = Tables.events(s, dir)
      val purchases = ev.filter(col("event_type") === "purchase")
        .groupBy(col("user_id"), col("ts").as("p_ts"))
        .agg(max(col("value")).as("p_value"))
      val tolUs = 24L * 3600 * 1000000
      AsOfJoin.backward(ev, purchases, "user_id", "ts", "p_ts",
          Seq("p_value", "p_ts"))
        .select(col("event_id"), col("user_id"),
          round(coalesce(
            when(unix_micros(col("ts")) - unix_micros(col("p_ts")) <= tolUs,
              col("p_value")), lit(-1.0)), 6).as("p_value_24h"))
    },
      // ASOF picks the nearest at-or-before purchase; the 24h tolerance
      // is the same post-join µs test as the Spark projection
      """WITH p AS (SELECT user_id, ts AS p_ts, max(value) AS p_value
           FROM events WHERE event_type = 'purchase' GROUP BY 1, 2)
         SELECT e.event_id, e.user_id,
           round(coalesce(CASE WHEN epoch_us(e.ts) - epoch_us(p.p_ts)
                 <= 86400000000 THEN p.p_value END, -1.0), 6) AS p_value_24h
         FROM events e ASOF LEFT JOIN p
         ON e.user_id = p.user_id AND e.ts >= p.p_ts"""),

    Row("range_join_events", (s, dir) => {
      // point-in-interval RANGE join, bucketed: each user's error
      // opens a 24h incident window; every event BY THAT USER landing
      // inside the window pairs with it ("what did the user do in the
      // day after each error"). Spark has no range-join operator — the
      // naive `p BETWEEN s AND e` predicate plans as a nested-loop /
      // cartesian, O(|L|·|R|) — so RangeJoin rewrites it as an EQUI
      // join on (user, time-bucket): intervals explode to ≤2 buckets
      // at width = window length, points hash to exactly one, residual
      // BETWEEN after the shuffle join. The user key makes the OUTPUT
      // scale-stable: per-user event density is a corpus property, so
      // pairs grow linearly with users — a keyless window over a
      // densifying stream is quadratic in sf by construction (the
      // r7 cosine-threshold lesson, applied to time). µs arithmetic
      // end to end: identical values in both engines on every layout.
      val ev = Tables.events(s, dir)
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("ts_us"), col("event_type"))
      val winUs = 24L * 3600 * 1000000
      val iv = ev.filter(col("event_type") === "error")
        .select(col("user_id"), col("event_id").as("incident_id"),
          col("ts_us").as("start_us"),
          (col("ts_us") + lit(winUs)).as("end_us"))
      graft.plans.RangeJoin.pointInInterval(ev, iv,
          "ts_us", "start_us", "end_us", bucketWidth = winUs,
          equiKeys = Seq("user_id"))
        .select(col("incident_id"), col("event_id"), col("user_id"),
          col("event_type"))
    },
      // the naive BETWEEN form — DuckDB plans its own range join; the
      // Spark side's bucketed equi-join rewrite must produce exactly
      // this pair set (each point lives in one bucket, so no dedup
      // term hides in the comparison)
      """WITH ev AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us,
             event_type FROM events),
         iv AS (SELECT user_id, event_id AS incident_id, ts_us AS start_us,
             ts_us + 86400000000 AS end_us
           FROM ev WHERE event_type = 'error')
         SELECT i.incident_id, e.event_id, e.user_id, e.event_type
         FROM ev e JOIN iv i
           ON e.user_id = i.user_id
           AND e.ts_us >= i.start_us AND e.ts_us <= i.end_us""")
  )
}
