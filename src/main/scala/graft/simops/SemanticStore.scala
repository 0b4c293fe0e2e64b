package graft.simops

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The persisted SEMANTIC index — the [[graft.dedup.SignatureStore]]
  * convention for the embedding-cluster modality: the two-level
  * centroid forest plus every corpus vector's list assignment, written
  * at "corpus ingest time" so a daily probe reads 8-byte-ish store
  * rows instead of re-FITTING and re-ASSIGNING the whole corpus once
  * per run (the in-DAG form pays an O(n·√nlist·dim) assignment
  * projection every day for an index that didn't change).
  *
  * Layout (plain columnar parquet):
  *  - `forest/`  — (kind, coarse_id, sub_id, centroid, s): the fitted
  *    centroids at both levels plus the sub-stride `s` that globalizes
  *    list ids. Index metadata — O(nlist·dim), never O(rows).
  *  - `assigned/` — (vec_id, list_id, vec): each corpus vector with
  *    its global list id and its double-cast vector (the probe's
  *    verify needs the payload; doubles round-trip parquet exactly,
  *    so stored probes decide bit-identically to the in-DAG form).
  *    At cluster scale, bucket by `list_id` so a probe prunes row
  *    groups to the increment's lists.
  *
  * [[appendWrite]] closes the daily loop: accepted increment vectors
  * land as O(increment) extra `assigned/` files — no store rewrite,
  * arrival-order-wins across days.
  */
object SemanticStore {

  final case class Store(forest: DataFrame, assigned: DataFrame)

  /** Fit + assign the corpus — the identical
    * [[Ivf.fitHier]]/[[Embed.autoNlist]] path the in-DAG operators
    * run, so stored decisions can never drift from theirs.
    */
  def build(corpus: DataFrame, idCol: String, vecCol: String,
            targetListSize: Int = 32, iters: Int = 1,
            fitSamplePct: Int = 100): Store = {
    val spark = corpus.sparkSession
    val n = corpus.select(col(idCol)).count()
    val nlist = Embed.autoNlist(n, targetListSize)
    val h = Ivf.fitHier(corpus, idCol, vecCol, nlist, iters, fitSamplePct, n)
    Store(forestFrame(spark, h), Embed.assignFrame(corpus, idCol, vecCol, h))
  }

  def write(store: Store, dir: String): Unit = {
    store.forest.coalesce(1).write.mode("overwrite").parquet(s"$dir/forest")
    store.assigned.write.mode("overwrite").parquet(s"$dir/assigned")
  }

  def read(spark: SparkSession, dir: String): Store = Store(
    forest = spark.read.parquet(s"$dir/forest"),
    assigned = spark.read.parquet(s"$dir/assigned"))

  /** Append the ACCEPTED increment's assigned rows (vec_id, list_id,
    * vec — the probe's own checkpointed assignment, so no kernel
    * re-runs) as extra store files. O(increment). No row calls it or
    * [[compact]] (the `_updated` row unions in-DAG); AnnPropertiesSpec
    * "SemanticStore.compact heals double-appended retries without
    * changing decisions" pins both.
    */
  def appendWrite(acceptedAssigned: DataFrame, dir: String): Unit =
    acceptedAssigned.write.mode("append").parquet(s"$dir/assigned")

  /** Retry-healing compaction — the same contract every other store
    * family carries ([[graft.dedup.SignatureStore.compact]],
    * [[graft.dedup.BloomStore.compact]],
    * [[graft.dedup.MediaStore.compact]]): dedup the `assigned/` rows
    * by vec_id (a retried ingest that appended the same vector twice
    * never changed a probe decision — the within-list verify is
    * per-pair — only bytes) and rewrite via the crash-safe
    * rename-aside protocol. One scan of (id, list, vec) store rows,
    * never a corpus re-fit or re-assignment; the forest is untouched.
    */
  def compact(spark: SparkSession, dir: String): Unit =
    graft.dedup.SignatureStore.compactOne(spark, s"$dir/assigned",
      Seq("vec_id"))

  /** Assign a frame through the store's FROZEN forest — the
    * (vec_id, list_id, vec) shape [[appendWrite]] expects, and the
    * in-memory half of the daily loop: `append` unions it onto the
    * store lazily (the [[graft.dedup.SignatureStore]] `append`
    * convention — the persisted base never mutates mid-query).
    */
  def assign(store: Store, df: DataFrame, idCol: String,
             vecCol: String): DataFrame =
    Embed.assignFrame(df, idCol, vecCol, indexOf(store.forest))

  /** The lazy in-memory append: tomorrow's probe sees today's accepted
    * vectors without touching the persisted files.
    */
  def append(store: Store, acceptedAssigned: DataFrame): Store =
    store.copy(assigned = store.assigned
      .select(col("vec_id"), col("list_id"), col("vec"))
      .union(acceptedAssigned
        .select(col("vec_id"), col("list_id"), col("vec"))))

  private val forestSchema = StructType(Seq(
    StructField("kind", StringType, nullable = false),
    StructField("coarse_id", IntegerType, nullable = false),
    StructField("sub_id", IntegerType, nullable = true),
    StructField("centroid", ArrayType(DoubleType), nullable = false),
    StructField("s", IntegerType, nullable = false)))

  private def forestFrame(spark: SparkSession, h: Ivf.HierIndex): DataFrame = {
    val rows = new java.util.ArrayList[Row]()
    h.coarse.foreach { case (cid, c) => rows.add(Row("coarse", cid, null, c, h.s)) }
    h.subIds.zipWithIndex.foreach { case (ids, cid) =>
      ids.zipWithIndex.foreach { case (sid, pos) =>
        rows.add(Row("sub", cid, sid, h.subCents(cid)(pos).toSeq, h.s))
      }
    }
    spark.createDataFrame(rows, forestSchema)
  }

  /** Rebuild the driver-resident index from the persisted forest — a
    * bounded collect (O(nlist·dim), the same class as the fit's own
    * driver state).
    */
  private[simops] def indexOf(forest: DataFrame): Ivf.HierIndex = {
    val rows = forest.collect()
    require(rows.nonEmpty, "SemanticStore: empty forest")
    val s = rows.head.getInt(4)
    val coarse = rows.iterator.filter(_.getString(0) == "coarse")
      .map(r => (r.getInt(1), r.getSeq[Double](3))).toSeq.sortBy(_._1)
    val subs = rows.iterator.filter(_.getString(0) == "sub")
      .map(r => ((r.getInt(1), r.getInt(2)), r.getSeq[Double](3))).toMap
    val c = coarse.iterator.map(_._1).max + 1
    val (sc, si) = Ivf.subArrays(c, subs)
    Ivf.HierIndex(coarse, s, sc, si)
  }
}
