package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Dev tool: generates a scaled-up synthetic twin of the driver's
  * `documents` / `embeddings` / `events` tables (TESTDATA.md
  * conventions: token-soup text, 10-cluster embeddings, one-month
  * event stream) so the 100 TB design claims get an empirical scaling
  * anchor beyond sf0.1. Everything is a pure deterministic function of
  * the row id (xxhash64 seeding) — no RNG state, no driver-side loops,
  * so generation itself distributes.
  *
  * Documents draw tokens from a ZIPFIAN vocabulary (round 5): the
  * driver's own ~40 tokens are the hot head (ranks 1-40 — the
  * stopword-grade keys the skew guards exist for) and synthetic
  * `tokR` tokens extend the tail to rank 4000, with P(rank≈r) ∝ 1/r
  * via the V^u inverse-CDF draw. The r4 anchor's uniform-40-token soup
  * saturated the 3-gram/fingerprint spaces at 50k docs, so
  * candidate-generation ops measured saturation skew, not scaling
  * (BASELINE.md r4 analysis); with a realistic rank-frequency law the
  * distinct n-gram / posting / fingerprint spaces grow with the corpus
  * the way a real crawl's do. Compare ScaleGen outputs at two mults
  * (e.g. 1 vs 10) so both anchor points share the generator.
  *
  * Duplicate structure is planted at fixed rates so the dedup/CC
  * workload keeps its character as rows grow: every 503rd document is
  * a near-copy of its neighbor (same token stream + one extra token),
  * every 701st an exact copy; every 211th embedding is its neighbor's
  * vector plus tiny noise. Pair counts therefore scale LINEARLY with
  * corpus size — the realistic sparse-near-dup regime, not the
  * quadratic blowup naive row replication would create.
  *
  * Usage: runMain graft.ScaleGen <outDir> <mult>
  *   reads /root/testdata/sf0.1, writes <outDir>/{documents,embeddings,
  *   events}.parquet at mult× the sf0.1 row counts.
  */
object ScaleGen {
  def main(args: Array[String]): Unit = {
    val outDir = if (args.length > 0) args(0) else "benchdata/sf1"
    val mult = if (args.length > 1) args(1).toInt else 10
    val srcDir = "/root/testdata/sf0.1"
    val cores = GraftSession.cores
    val spark = GraftSession.builder(cores).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // vocabulary + event types from the source tables (tiny collects)
    val vocab = graft.sources.Tables.documents(spark, srcDir)
      .select(explode(split(col("text"), "\\s+")).as("w"))
      .filter(col("w") =!= "").distinct()
      .collect().map(_.getString(0)).sorted
    val eventTypes = graft.sources.Tables.events(spark, srcDir)
      .select(col("event_type")).distinct().collect().map(_.getString(0)).sorted
    val vocabLit = array(vocab.map(lit): _*)
    val typesLit = array(eventTypes.map(lit): _*)

    def u(salt: String, seed: Column, mod: Long): Column =
      pmod(xxhash64(lit(salt), seed), lit(mod))

    // ---- documents: 5000·mult rows of Zipfian token soup ------------
    // rank = floor(V^u), u ~ U[0,1): P(rank=r) = ln((r+1)/r)/ln(V)
    // ∝ 1/r — the classic inverse-CDF Zipf(s=1) draw, engine-pure.
    // Ranks 1..|driver vocab| reuse the driver's tokens (hot head);
    // deeper ranks mint deterministic tail tokens.
    val zipfV = 4000.0
    def zipfToken(seed: Column, i: Column): Column = {
      val uu = pmod(xxhash64(lit("tok"), seed, i), lit(1000000L)) / 1000000.0
      val rank = floor(pow(lit(zipfV), uu)).cast("int")
      when(rank <= vocab.length, element_at(vocabLit, rank))
        .otherwise(concat(lit("tok"), rank))
    }
    val nDocs = 5000L * mult
    val docSeed = when(pmod(col("id"), lit(503)) === 0, col("id") + 1)
      .when(pmod(col("id"), lit(701)) === 0, col("id") + 2)
      .otherwise(col("id"))
    val docs = spark.range(0, nDocs, 1, cores)
      .select(col("id").as("doc_id"), docSeed.as("_seed"))
      .withColumn("_toks", transform(
        sequence(lit(1), (u("len", col("_seed"), 56) + 20).cast("int")),
        i => zipfToken(col("_seed"), i)))
      .withColumn("text", when(pmod(col("doc_id"), lit(503)) === 0,
        concat(array_join(col("_toks"), " "), lit(" extra")))
        .otherwise(array_join(col("_toks"), " ")))
      .withColumn("_l", u("lang", col("doc_id"), 100))
      .select(col("doc_id"), col("text"),
        when(col("_l") < 41, "en").when(col("_l") < 56, "zh")
          .when(col("_l") < 71, "fr").when(col("_l") < 86, "es")
          .otherwise("de").as("lang"),
        concat(lit("src"), u("src", col("doc_id"), 20)).as("source"),
        length(col("text")).as("n_chars"))
    docs.write.mode("overwrite").parquet(s"$outDir/documents.parquet")

    // ---- embeddings: 2000·mult rows, dim 64 -------------------------
    // The driver's embeddings carry NO cosine cluster structure
    // (measured: same-label and cross-label mean cosine are both ~0, so
    // labels are independent of direction and near-dup pairs come from
    // the random 64-dim tail, P(cos ≥ 0.4) ≈ 6e-4). Mirror that: pure
    // hash-uniform vectors + a planted near-copy of the neighbor every
    // 211 rows (tiny jitter, cosine ≈ 1).
    val nVecs = 2000L * mult
    val planted = pmod(col("id"), lit(211)) === 0
    val vecSeed = when(planted, col("id") + 1).otherwise(col("id"))
    val jitterScale = when(planted, lit(0.02)).otherwise(lit(0.0))
    val embeddings = spark.range(0, nVecs, 1, cores)
      .select(col("id").as("vec_id"), vecSeed.as("_seed"),
        jitterScale.as("_js"),
        u("lab", col("id"), 10).cast("int").as("label"))
      .select(col("vec_id"),
        transform(sequence(lit(0), lit(63)), d =>
          ((pmod(xxhash64(lit("e"), col("_seed"), d), lit(2001L)) / 1000.0
              - 1.0) +
            (pmod(xxhash64(lit("j"), col("vec_id"), d), lit(2001L)) / 1000.0
              - 1.0) * col("_js")).cast("float")).as("embedding"),
        col("label"))
    embeddings.write.mode("overwrite").parquet(s"$outDir/embeddings.parquet")

    // ---- events: 100k·mult rows over ~25 days, ns-long timestamps ---
    // Timestamps are UNIQUE and µs-ALIGNED by construction: an injective
    // odd-multiplier map of the id into a 2⁴¹-µs (~25.4-day) span, ×1000
    // ns. (Multiplication by an odd constant is bijective mod 2⁴¹, so
    // distinct ids — capped below 2³¹ — land in distinct µs slots.)
    // Uniqueness keeps every ORDER BY ts deterministic, and µs alignment
    // makes Spark's ns ordering identical to DuckDB's µs-truncated
    // ordering — the same property the driver's generator has, and what
    // lets the oracle gate run against this data too.
    val baseNs = 1704067200000000000L // 2024-01-01T00:00:00Z
    val nEvents = 100000L * mult
    require(nEvents < (1L << 31), s"events cap is 2^31 rows, got $nEvents")
    val usSlot = (col("id") * lit(2654435761L)).bitwiseAND(lit((1L << 41) - 1))
    val events = spark.range(0, nEvents, 1, cores)
      .select(col("id").as("event_id"),
        (lit(baseNs) + usSlot * lit(1000L)).as("ts"),
        u("u", col("id"), 1500L * mult).as("user_id"),
        element_at(typesLit,
          (u("et", col("id"), eventTypes.length.toLong) + 1).cast("int"))
          .as("event_type"),
        (u("v", col("id"), 100000L) / 1000.0).as("value"),
        concat(lit("{\"k\": "), u("k", col("id"), 100L), lit("}")).as("props"))
    events.write.mode("overwrite").parquet(s"$outDir/events.parquet")

    // ---- TPC-H family twins (round 6): the relational queries anchor
    // too (q1/q3/q5/q17, window_rank, set/pivot/rollup/quantile). Value
    // domains mirror the driver's sf0.1 measurements (TESTDATA.md) so
    // filter selectivities — q6's discount band, q17's small-quantity
    // cut, the date windows — keep their character as rows grow.
    // region/nation are fixed dimensions (5 / 25 rows; they don't scale
    // with SF in TPC-H either) and are copied through from the source.
    val nCust = 15000L * mult
    val nSupp = 1000L * mult
    val nParts = 20000L * mult
    val nOrders = 150000L * mult
    val segsLit = array(Seq("AUTOMOBILE", "BUILDING", "FURNITURE",
      "HOUSEHOLD", "MACHINERY").map(lit): _*)
    val prioLit = array(Seq("1-URGENT", "2-HIGH", "3-MEDIUM",
      "4-NOT SPECIFIED", "5-LOW").map(lit): _*)
    val typesPLit = array(Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO",
      "SMALL", "STANDARD").map(lit): _*)
    val adjLit = array(Seq("blue", "cold", "hot", "large", "new", "old",
      "red", "small").map(lit): _*)
    val nounLit = array(Seq("anvil", "bolt", "gear", "gizmo", "plate",
      "ring", "rod", "widget").map(lit): _*)
    def pick(arr: Column, salt: String, seed: Column, n: Long): Column =
      element_at(arr, (u(salt, seed, n) + 1).cast("int"))
    // date at day granularity, stored as TIMESTAMP like the driver's
    def day(salt: String, seed: Column, spanDays: Long): Column =
      date_add(to_date(lit("1995-01-01")),
        u(salt, seed, spanDays).cast("int")).cast("timestamp")

    for (t <- Seq("region", "nation"))
      spark.read.parquet(s"$srcDir/$t.parquet")
        .write.mode("overwrite").parquet(s"$outDir/$t.parquet")

    spark.range(0, nCust, 1, cores).select(
        col("id").as("c_custkey"),
        format_string("Customer#%09d", col("id")).as("c_name"),
        u("cn", col("id"), 25).cast("int").as("c_nationkey"),
        round(u("cb", col("id"), 1100000L) / 100.0 - 1000.0, 2)
          .as("c_acctbal"),
        pick(segsLit, "seg", col("id"), 5).as("c_mktsegment"))
      .write.mode("overwrite").parquet(s"$outDir/customer.parquet")

    spark.range(0, nSupp, 1, cores).select(
        col("id").as("s_suppkey"),
        format_string("Supplier#%09d", col("id")).as("s_name"),
        u("sn", col("id"), 25).cast("int").as("s_nationkey"),
        round(u("sb", col("id"), 1100000L) / 100.0 - 1000.0, 2)
          .as("s_acctbal"))
      .write.mode("overwrite").parquet(s"$outDir/supplier.parquet")

    spark.range(0, nParts, 1, cores).select(
        col("id").as("p_partkey"),
        concat(pick(adjLit, "pa", col("id"), 8), lit(" "),
          pick(nounLit, "pn", col("id"), 8)).as("p_name"),
        concat(lit("Brand#"), u("pb", col("id"), 25) + 1).as("p_brand"),
        pick(typesPLit, "pt", col("id"), 6).as("p_type"),
        (u("ps", col("id"), 50) + 1).cast("int").as("p_size"),
        // the driver's retail price is a pure id ramp: 900.0 + (key mod
        // 1000)/10 — keep it, some oracles group on exact prices
        round(lit(900.0) + pmod(col("id"), lit(1000L)) / 10.0, 1)
          .as("p_retailprice"))
      .write.mode("overwrite").parquet(s"$outDir/part.parquet")

    spark.range(0, nOrders, 1, cores).select(
        col("id").as("o_orderkey"),
        u("oc", col("id"), nCust).as("o_custkey"),
        pick(array(lit("F"), lit("O"), lit("P")), "os", col("id"), 3)
          .as("o_orderstatus"),
        round(u("ot", col("id"), 49900000L) / 100.0 + 1000.0, 2)
          .as("o_totalprice"),
        day("od", col("id"), 2405).as("o_orderdate"),
        pick(prioLit, "op", col("id"), 5).as("o_orderpriority"))
      .write.mode("overwrite").parquet(s"$outDir/orders.parquet")

    spark.range(0, 600000L * mult, 1, cores).select(
        // uniform order assignment ≈ Poisson(4) lines per order — the
        // same shape as the driver's generator (its max is ~17 lines)
        u("lo", col("id"), nOrders).as("l_orderkey"),
        u("lp", col("id"), nParts).as("l_partkey"),
        u("ls", col("id"), nSupp).as("l_suppkey"),
        (u("ln", col("id"), 7) + 1).cast("int").as("l_linenumber"),
        (u("lq", col("id"), 50) + 1).cast("double").as("l_quantity"),
        round(u("le", col("id"), 10410000L) / 100.0 + 900.0, 2)
          .as("l_extendedprice"),
        (u("ld", col("id"), 11) / 100.0).as("l_discount"),
        (u("lt", col("id"), 9) / 100.0).as("l_tax"),
        pick(array(lit("A"), lit("N"), lit("R")), "lr", col("id"), 3)
          .as("l_returnflag"),
        pick(array(lit("F"), lit("O")), "ll", col("id"), 2)
          .as("l_linestatus"),
        day("lsd", col("id"), 2500).as("l_shipdate"))
      .write.mode("overwrite").parquet(s"$outDir/lineitem.parquet")

    val tpchTables = Seq("region", "nation", "customer", "supplier",
      "part", "orders", "lineitem")

    // collapse each table to a single bare file, like the driver's
    // layout (one parquet per table — what tools/check_oracle.py's
    // DuckDB views read). Scan parallelism inside the single file comes
    // from ROW-GROUP granularity: Spark assigns a row group to the
    // split holding its midpoint, so a file written as one 128 MB
    // default-size row group scans as ONE task no matter how many byte
    // splits exist (measured: the whole map side of every lineitem join
    // ran single-threaded at zsf1 — q5 7.1s). 16 MB row groups give the
    // scheduler ~8 independent units per 128 MB, restoring the
    // parallelism a multi-file table would have.
    for (t <- Seq("documents", "embeddings", "events") ++ tpchTables) {
      val dir = java.nio.file.Paths.get(s"$outDir/$t.parquet")
      val tmp = java.nio.file.Paths.get(s"$outDir/_single_$t")
      spark.read.parquet(dir.toString).coalesce(1)
        .write.mode("overwrite")
        .option("parquet.block.size", (16L << 20).toString)
        .parquet(tmp.toString)
      val part = java.nio.file.Files.list(tmp).toArray.map(_.toString)
        .filter(p => p.endsWith(".parquet") && !p.contains("_SUCCESS")).head
      org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
      java.nio.file.Files.move(java.nio.file.Paths.get(part), dir)
      org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
    }
    for (t <- Seq("documents", "embeddings", "events") ++ tpchTables)
      println(s"SCALEGEN $t rows=" +
        spark.read.parquet(s"$outDir/$t.parquet").count())
    spark.stop()
  }
}
