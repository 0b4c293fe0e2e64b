package graft
package registry

import graft.sources.Tables
import graft.streaming.StreamingOps
import org.apache.spark.sql.functions._

/** Streaming-shaped ops: the same plan runs batch or over a
  * `readStream` source.
  */
private[graft] object StreamingRows {

  lazy val rows: Seq[Row] = Seq(
    Row("stream_window_agg", (s, dir) => {
      StreamingOps.windowedCounts(Tables.events(s, dir))
        .select(unix_micros(col("ts_hour")).as("ts_hour_us"), col("event_type"),
          col("n_events"), round(col("total_value"), 6).as("total_value"))
    },
      """SELECT epoch_us(CAST(date_trunc('hour', ts) AS TIMESTAMP)) AS ts_hour_us,
         event_type, count(*) AS n_events, round(sum(value), 6) AS total_value
         FROM events GROUP BY 1, 2"""),

    Row("sessionize", (s, dir) =>
      StreamingOps.sessionizeBatch(Tables.events(s, dir), 30),
      """WITH t AS (SELECT user_id, event_id, value, epoch_ns(ts) AS ts_ns FROM events),
         s AS (SELECT *, CASE WHEN lag(ts_ns) OVER w IS NULL
                OR ts_ns - lag(ts_ns) OVER w > 1800000000000 THEN 1 ELSE 0 END AS ns
               FROM t WINDOW w AS (PARTITION BY user_id ORDER BY ts_ns, event_id)),
         g AS (SELECT *, sum(ns) OVER (PARTITION BY user_id ORDER BY ts_ns, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid FROM s)
         SELECT user_id, min(ts_ns) // 1000 AS session_start_us, max(ts_ns) // 1000 AS session_end_us,
         count(*) AS n_events, round(sum(value), 6) AS total_value
         FROM g GROUP BY user_id, sid"""),

    Row("stream_trending_ngrams", (s, dir) => {
      // windowed n-gram burst detection, batch-replayed: event time is
      // doc_id seconds (the deterministic ingest clock the streaming
      // specs use), 100-second tumbling windows, threshold 5
      val d = Tables.documents(s, dir).withColumn("ingest_ts",
        timestamp_micros(col("doc_id") * 1000000L))
      StreamingOps.trendingNgrams(d, "text", "ingest_ts",
        n = 2, minCount = 5)
        .select(unix_micros(col("w_start")).as("w_start_us"),
          col("ngram"), col("cnt"))
    },
      // the tumbling window start for ts = doc_id seconds is
      // floor(doc_id / 100) * 100 seconds, emitted as epoch micros
      """WITH toks AS (SELECT doc_id,
           list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS w
           FROM documents),
         ng AS (SELECT (doc_id // 100) * 100000000 AS w_start_us,
                  w[i] || ' ' || w[i+1] AS ngram
                FROM (SELECT doc_id, w, unnest(generate_series(1, len(w) - 1)) AS i
                      FROM toks WHERE len(w) >= 2))
         SELECT w_start_us, ngram, count(*) AS cnt FROM ng
         GROUP BY 1, 2 HAVING count(*) >= 5"""),

    Row("attribution_join", (s, dir) => {
      // stream-stream interval join shape, run in batch: clicks paired
      // with same-user purchases in the following 30 minutes
      val ev = Tables.events(s, dir)
      StreamingOps.attributionJoin(
        ev.filter(col("event_type") === "click"),
        ev.filter(col("event_type") === "purchase"), 30)
    },
      """WITH c AS (SELECT event_id AS click_id, user_id, epoch_us(ts) AS ts_us
           FROM events WHERE event_type = 'click'),
         p AS (SELECT event_id AS purchase_id, user_id, epoch_us(ts) AS ts_us
           FROM events WHERE event_type = 'purchase')
         SELECT c.click_id, p.purchase_id, c.user_id,
           p.ts_us - c.ts_us AS gap_us
         FROM c JOIN p ON c.user_id = p.user_id
         AND p.ts_us >= c.ts_us AND p.ts_us <= c.ts_us + 1800000000"""),

    Row("session_window_native", (s, dir) => {
      // Spark's native session_window operator (vs. the gaps-and-islands
      // rewrite in `sessionize` — both shapes belong in the inventory)
      val ev = Tables.events(s, dir)
      ev.groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
        .agg(count(lit(1)).as("n_events"),
          round(sum(col("value")), 6).as("total_value"))
        .select(col("user_id"),
          unix_micros(col("session_window.start")).as("session_start_us"),
          col("n_events"), col("total_value"))
    },
      """WITH t AS (SELECT user_id, event_id, value, epoch_us(ts) AS ts_us FROM events),
         s AS (SELECT *, CASE WHEN lag(ts_us) OVER w IS NULL
                OR ts_us - lag(ts_us) OVER w >= 1800000000 THEN 1 ELSE 0 END AS ns
               FROM t WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
         g AS (SELECT *, sum(ns) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid FROM s)
         SELECT user_id, min(ts_us) AS session_start_us,
         count(*) AS n_events, round(sum(value), 6) AS total_value
         FROM g GROUP BY user_id, sid""")
  )
}
