package graft.dedup

import graft.sources.Tables
import graft.textops.TextOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The persisted MinHash SIGNATURE STORE — the artifact that makes
  * incremental near-dedup a zero-corpus-reprocessing operation.
  *
  * [[Dedup.minhashIncremental]] recomputes the corpus's signatures on
  * every ingest (two narrow corpus scans: band keys + verify
  * shingles). At 100 TB that is the dominant cost, and it is the SAME
  * work every day — so a real pipeline computes it once and persists
  * it. The store holds the two corpus-derived frames the probe needs:
  *
  *  - `banded(doc_id, band, bucket)` — the LSH band keys
  *    ([[Dedup.minhashLsh]]'s signature definition, shared helper);
  *  - `shingleHashes(doc_id, hs)` — each document's SORTED xxhash64
  *    shingle-hash array for the exact-Jaccard verify (longs: ~8×
  *    fewer bytes than the shingle strings, and set intersection on
  *    them equals string-set intersection up to vanishing 64-bit
  *    collisions — the [[Dedup.ngramJaccardSortedPrefix]] contract).
  *
  * Ingest then runs [[Dedup.minhashIncrementalStored]]: the increment
  * is signed (O(increment) work), its band keys broadcast-probe the
  * stored banded frame, and the verify re-joins the stored hash
  * arrays for candidate ids only — the corpus TEXT is never read at
  * all, and nothing corpus-sized ever shuffles. After the ingest
  * decision, append the accepted increment's own store rows
  * ([[build]] of the survivors) — the store grows with the corpus
  * without ever being rebuilt.
  *
  * Measured (zsf1 twin, 1% increment, by a probe removed after
  * acd062c): direct 2.35s vs persisted-store 1.93s per ingest. The
  * delta IS the corpus-side signature kernel the store eliminates — O(corpus)
  * md5-per-shingle work that grows linearly with the corpus while the
  * stored probe stays O(increment); at 50k docs it is ~0.4s against a
  * ~1.5s fixed floor, at 100 TB it is the entire job.
  */
object SignatureStore {

  final case class Store(banded: DataFrame, shingleHashes: DataFrame)

  /** Build the store frames from a corpus: two narrow projections of
    * one logical definition (the shared [[Dedup]] shingle/band-key
    * helpers), no shuffle in either.
    */
  def build(corpus: DataFrame, idCol: String, textCol: String,
            shingleSize: Int = 3, bands: Int = 8,
            rowsPerBand: Int = 2): Store = {
    val sh = Dedup.shingleSetsOf(graft.util.Par.spread(corpus), idCol,
      textCol, shingleSize)
    Store(
      banded = Dedup.bandKeysOf(sh, bands, rowsPerBand),
      shingleHashes = sh.select(col("doc_id"),
        graft.functions.Kernels.xxSortedHashes(col("sh")).as("hs")))
  }

  /** Persist both frames as parquet under `dir` (`signatures/`,
    * `shingle_hashes/`). Plain columnar layout: the probe path reads
    * both frames as the STREAMED side of broadcast joins, so scan
    * parallelism (row groups) is what matters, not co-location; at
    * cluster scale, bucket `shingle_hashes` by doc_id if the verify
    * fetch should prune files.
    */
  def write(store: Store, dir: String): Unit = {
    store.banded.write.mode("overwrite").parquet(s"$dir/signatures")
    store.shingleHashes.write.mode("overwrite")
      .parquet(s"$dir/shingle_hashes")
  }

  def read(spark: SparkSession, dir: String): Store = Store(
    banded = Tables.parquet(spark, s"$dir/signatures"),
    shingleHashes = Tables.parquet(spark, s"$dir/shingle_hashes"))

  /** Close the daily-ingest loop: the ACCEPTED increment's own store
    * rows ([[build]] of the survivors) unioned onto the store, so
    * tomorrow's probe sees today's accepted documents without the
    * O(corpus) rebuild the `_stored`/`_probe` family exists to avoid.
    * O(increment) work — the union is lazy and the increment side is
    * the only new computation. No row calls it (the `_updated` rows
    * derive the accepted layer from the probe's own checkpoint,
    * [[Dedup.acceptedLayerFromSig]]); it is the reference those rows'
    * loop is tested against in DedupSpec "store append closes the
    * ingest loop" and "pair A/B loop: a B pair duplicating an ACCEPTED
    * A pair ...".
    */
  def append(store: Store, accepted: DataFrame, idCol: String,
             textCol: String, shingleSize: Int = 3, bands: Int = 8,
             rowsPerBand: Int = 2): Store = {
    val inc = build(accepted, idCol, textCol, shingleSize, bands, rowsPerBand)
    Store(store.banded.unionByName(inc.banded),
      store.shingleHashes.unionByName(inc.shingleHashes))
  }

  /** Persisted twin of [[append]]: write ONLY the increment's rows into
    * the store directory (parquet append — new files, no rewrite of
    * existing data). A retried ingest that appends the same doc twice
    * is healed by [[compact]]. No row calls it or [[compact]] (the
    * `_updated` rows union in-DAG); the store-lifecycle contract is
    * pinned by DedupSpec "persisted appendWrite grows the store;
    * compact heals a double append" and StreamingSpec's
    * `pairIngestProbe` cross-batch test.
    */
  def appendWrite(inc: Store, dir: String): Unit = {
    inc.banded.write.mode("append").parquet(s"$dir/signatures")
    inc.shingleHashes.write.mode("append").parquet(s"$dir/shingle_hashes")
  }

  /** Compaction: dedup by doc id (one row per (doc_id, band) /
    * doc_id — heals double-appended retries) and rewrite the store as
    * fresh parquet. The rewrite goes through a staging directory and an
    * atomic filesystem rename, so a reader never sees a half-written
    * store; cost is one scan of the 8-byte-row store, NOT the corpus
    * text — run it on the compaction cadence (daily/weekly), not per
    * ingest.
    */
  def compact(spark: SparkSession, dir: String): Unit = {
    compactOne(spark, s"$dir/signatures", Seq("doc_id", "band"))
    compactOne(spark, s"$dir/shingle_hashes", Seq("doc_id"))
  }

  private[graft] def compactOne(spark: SparkSession, path: String,
                                keys: Seq[String],
                                partitionCols: Seq[String] = Nil,
                                sortCols: Seq[String] = Nil): Unit = {
    val tmp = path + ".compact"
    // `partitionCols` preserves a partitioned store layout across the
    // rewrite (the vecindex code store's list_id pruning contract);
    // `sortCols` clusters rows inside each partition file so parquet
    // row-group min/max statistics can prune WITHIN a bucket (the
    // within-bucket list pruning the clamp region needs)
    val deduped = Tables.parquet(spark, path).dropDuplicates(keys)
    (if (partitionCols.isEmpty) deduped.write
     else deduped.repartition(partitionCols.map(col): _*)
       .sortWithinPartitions((partitionCols ++ sortCols).map(col): _*)
       .write.partitionBy(partitionCols: _*))
      .mode("overwrite").parquet(tmp)
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(conf)
    // swap via rename-aside, NOT delete-then-rename: the live path is
    // absent only between two renames (never with the data existing
    // solely in the staging dir), and a crash at any point leaves a
    // complete copy recoverable by renaming `.compact`/`.old` back
    val old = new org.apache.hadoop.fs.Path(path + ".old")
    fs.delete(old, true) // stale leftover from a previous crash
    require(fs.rename(p, old), s"compact: rename $path -> $old failed")
    require(fs.rename(new org.apache.hadoop.fs.Path(tmp), p),
      s"compact: rename $tmp -> $path failed (recover: rename $old back)")
    fs.delete(old, true)
    // the swap invalidates any session-cached file listing for the
    // path (same session re-reads would otherwise chase the renamed
    // part files — FAILED_READ_FILE on the very next scan)
    spark.catalog.refreshByPath(path)
  }

  /** The winnow-fingerprint store — the persisted form of the
    * passage-level ingest check ([[Dedup.spanIncremental]]'s corpus
    * side, computed once at corpus ingest): `(doc_id, fp, df)` where
    * `df` is the fingerprint's corpus document frequency, DENORMALIZED
    * onto every row so the probe's boilerplate cap (`df <= maxDf`)
    * becomes a parquet-pushable scan predicate — the store build pays
    * the one df aggregate + attach join; every subsequent ingest skips
    * both the corpus text scan AND any df computation.
    */
  def buildSpans(corpus: DataFrame, idCol: String, textCol: String,
                 k: Int = 8, w: Int = 4): DataFrame = {
    val fps = TextOps
      .winnowing(graft.util.Par.spread(corpus), idCol, textCol, k, w)
      .select(col(idCol).cast("long").as("doc_id"), col("fp"))
    val dfreq = fps.groupBy(col("fp")).agg(count(lit(1)).as("df"))
    fps.join(dfreq, "fp").select(col("doc_id"), col("fp"), col("df"))
  }

  def writeSpans(fps: DataFrame, dir: String): Unit =
    fps.write.mode("overwrite").parquet(s"$dir/span_fps")

  def readSpans(spark: SparkSession, dir: String): DataFrame =
    Tables.parquet(spark, s"$dir/span_fps")

  /** The increment's bare `(doc_id, fp)` winnow rows — the DELTA unit
    * of the span store's append-only path (no df: document frequency
    * is a CORPUS property that goes stale the moment the next delta
    * lands, so deltas don't carry it; [[Dedup.spanIncrementalStoredDelta]]
    * derives the effective df at probe time and [[compactSpans]] heals
    * it into the base store at compaction cadence).
    */
  def spanDeltaRows(accepted: DataFrame, idCol: String, textCol: String,
                    k: Int = 8, w: Int = 4): DataFrame =
    TextOps.winnowing(graft.util.Par.spread(accepted), idCol, textCol, k, w)
      .select(col(idCol).cast("long").as("doc_id"), col("fp"))

  /** Persisted span append, the `appendWrite` twin for the span store:
    * write ONLY the increment's (doc_id, fp) rows as parquet deltas
    * under `dir/span_deltas` — O(increment) work, NO rewrite of the
    * O(corpus) base store (the cost an in-place append pays: the span
    * store DENORMALIZES each fingerprint's corpus df onto every row, so
    * a merged append must also bump the df of existing rows). Probes
    * against
    * base+deltas go through [[Dedup.spanIncrementalStoredDelta]];
    * [[compactSpans]] folds the deltas back into the denormalized base
    * at compaction cadence, restoring the single-scan pushed-predicate
    * probe.
    */
  def appendSpansWrite(accepted: DataFrame, dir: String, idCol: String,
                       textCol: String, k: Int = 8, w: Int = 4): Unit =
    spanDeltaRows(accepted, idCol, textCol, k, w)
      .write.mode("append").parquet(s"$dir/span_deltas")

  /** Read the delta frame (empty-schema-safe: a store with no appends
    * yet has no `span_deltas` directory). */
  def readSpanDeltas(spark: SparkSession, dir: String): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/span_deltas")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) Tables.parquet(spark, p.toString)
    else spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("fp",
          org.apache.spark.sql.types.LongType))))
  }

  /** Merge bare delta rows into a denormalized base store frame —
    * EXACTLY [[buildSpans]] of the unioned corpus (df of existing rows
    * bumped, not left stale; pinned in DedupSpec), computed from stored rows
    * without touching corpus text. Cost: two scans of the 8-byte-row
    * base (df bump + base-df lookup for delta fps) — the compaction
    * unit, not the per-probe unit.
    */
  def mergeSpanDeltas(storeFps: DataFrame, deltas: DataFrame): DataFrame = {
    val d = deltas.select(col("doc_id"), col("fp")).localCheckpoint()
    val dDf = d.groupBy(col("fp")).agg(count(lit(1)).as("_inc_df"))
    val bumped = storeFps.join(broadcast(dDf), Seq("fp"), "left")
      .select(col("doc_id"), col("fp"),
        (col("df") + coalesce(col("_inc_df"), lit(0L))).as("df"))
    // base df for delta fps: any matching row's denormalized df (df is
    // constant per fp; max for determinism) — derived via a broadcast
    // semi-probe, the base never shuffles
    val baseDf = storeFps
      .join(broadcast(d.select(col("fp")).distinct()), "fp")
      .groupBy(col("fp")).agg(max(col("df")).as("_base_df"))
    val deltaRows = d.join(broadcast(dDf), "fp")
      .join(broadcast(baseDf), Seq("fp"), "left")
      .select(col("doc_id"), col("fp"),
        (col("_inc_df") + coalesce(col("_base_df"), lit(0L))).as("df"))
    bumped.unionByName(deltaRows)
  }

  /** Span-store compaction: fold `span_deltas` into the denormalized
    * base (one [[mergeSpanDeltas]] pass + the rename-aside swap of
    * [[compact]]), then drop the delta directory. Restores the
    * single-scan parquet-pushed-df probe; run at compaction cadence.
    * No row compacts (`dedup_spans_probe_updated` times the delta
    * probe); DedupSpec "span delta path: ... compactSpans heals" pins
    * it.
    */
  def compactSpans(spark: SparkSession, dir: String): Unit = {
    val base = readSpans(spark, dir)
    val deltas = readSpanDeltas(spark, dir)
    val path = s"$dir/span_fps"
    val tmp = path + ".compact"
    mergeSpanDeltas(base, deltas).write.mode("overwrite").parquet(tmp)
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val old = new org.apache.hadoop.fs.Path(path + ".old")
    fs.delete(old, true)
    require(fs.rename(p, old), s"compactSpans: rename $path -> $old failed")
    require(fs.rename(new org.apache.hadoop.fs.Path(tmp), p),
      s"compactSpans: rename $tmp -> $path failed (recover: rename $old back)")
    fs.delete(old, true)
    fs.delete(new org.apache.hadoop.fs.Path(s"$dir/span_deltas"), true)
  }

}
