package graft
package registry

import graft.dedup.Dedup
import graft.simops.{Ivf, Similarity}
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import Shared._
import Stores._

/** Similarity search and embedding dedup (north star): brute-force,
  * LSH, IVF and PQ search, kNN and label centroids, the semantic-dedup
  * and vector-index store rows, and the embedding near-dup and cluster
  * rows over planted near-copies.
  */
private[graft] object SimopsRows {

  /** The deterministic near-copies alone (id +10⁷, dim 1 halved) —
    * the increment side of the planted-incremental row and the
    * planted half of [[plantedEmbeddings]].
    */
  private def plantedCopies(e: DataFrame): DataFrame = e
    .filter(graft.util.Sampling.md5Bucket(col("vec_id")) < 5)
    .select((col("vec_id") + lit(10000000L)).as("vec_id"),
      concat(array(element_at(col("embedding"), 1) * lit(0.5f)),
        slice(col("embedding"), 2, 63)).as("embedding"),
      col("label"))

  /** `embeddings` UNION a deterministic near-copy of the md5-chosen
    * ~5% of vectors: id offset +10⁷ (disjoint from any corpus id),
    * dimension 1 HALVED — multiplication by 0.5 is exact in float, so
    * the DuckDB oracle materializes bit-identical planted vectors
    * (`duckPlantedEmbCtes`) and the band keys / cosines agree exactly.
    * Cosine(original, copy) ≈ 0.998 on 64-dim vectors — inside the
    * 0.9 near-dup threshold — and a 1-of-64-dim perturbation flips
    * each 16-bit band with low probability, so banding still catches
    * the pair (recall measured in SimilaritySpec).
    */
  private def plantedEmbeddings(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    e.unionByName(plantedCopies(e))
  }

  /** Banded-LSH geometry + verify threshold for the embedding near-dup
    * family (neardup / incremental / clusters), shared by the queries
    * AND the oracle CTEs so they can never drift.
    *
    * Round 7, from the 100× anchor: 8-bit band keys gave every RANDOM
    * vector pair a 2⁻⁸ per-band collision chance — candidate volume
    * n²/2⁸ is quadratic no verify threshold can save (388s at 200k
    * vectors, 2.4s expected). 16-bit keys (4 bands over the same
    * one-long 64-plane signature) put random collisions at n²/2¹⁶ —
    * linear-regime for corpora into the tens of millions — and 0.9 is
    * an actual NEAR-DUP verify threshold (0.4 in 64-dim admits every
    * ~3σ random pair, a quadratic OUTPUT): planted near-copies at
    * cos≈0.999 keep ≥99.8% band recall. Band width must grow with
    * log₂(n) — see the [[graft.simops.Similarity.nearDupPairsBanded]]
    * scaladoc.
    */
  private val EmbNearDupBands = 4
  private val EmbNearDupThreshold = 0.9

  /** CTE chain mirroring [[graft.simops.Similarity.nearDupPairsBanded]]
    * (numPlanes=64, bands=8, dim=64 — the plane matrix embedded
    * literally so DuckDB derives the same band keys, candidates, and
    * verified sims), ending in `epairs(doc_a, doc_b, sim)` — the column
    * names [[closureCtes]] expects, so `embedding_clusters` closes over
    * the same pairs the `embedding_neardup` row checks.
    */
  private def embPairCtesFrom(src: String): String = {
    val cos = duckCosine("a.embedding", "b.embedding")
    s"""${embBanded64CtesFrom(src)},
         ep AS (SELECT DISTINCT x.vec_id AS id_a, y.vec_id AS id_b
               FROM ebanded x JOIN ebanded y USING (band, key)
               WHERE x.vec_id < y.vec_id),
         epairs AS (SELECT ep.id_a AS doc_a, ep.id_b AS doc_b, round($cos, 4) AS sim
         FROM ep JOIN $src a ON a.vec_id = ep.id_a
         JOIN $src b ON b.vec_id = ep.id_b
         WHERE round($cos, 4) >= $EmbNearDupThreshold)"""
  }

  private lazy val embPairCtes: String = embPairCtesFrom("embeddings")

  /** `sigs`/`ebanded` — every vector's 64-plane/8-band signature band
    * keys, the literal-plane mirror of the banded projection inside
    * [[graft.simops.Similarity.nearDupPairsBanded]] /
    * [[graft.simops.Similarity.nearDupIncremental]]. Shared by
    * [[embPairCtes]] and the `embedding_neardup_incremental` oracle so
    * the signature derivation can never drift between them.
    */
  private def embBanded64CtesFrom(src: String): String = {
    val planes = Similarity.hyperplanes(64, 64)
    val bands = EmbNearDupBands; val bits = 64 / bands
    val keys = (0 until bands)
      .map(b => s"${duckBandKey("embedding", planes, b, bits)} AS key_$b")
      .mkString(", ")
    val banded = (0 until bands)
      .map(b => s"SELECT vec_id, $b AS band, key_$b AS key FROM sigs")
      .mkString(" UNION ALL ")
    s"""sigs AS (SELECT vec_id, $keys FROM $src),
         ebanded AS ($banded)"""
  }

  private lazy val embBanded64Ctes: String = embBanded64CtesFrom("embeddings")

  /** The planted-near-copy corpus `pemb`: `embeddings` UNION a
    * deterministic near-copy of the md5-chosen ~5% of vectors (id
    * offset +10⁷, dimension 1 HALVED — an exact float operation, so
    * both engines materialize bit-identical planted vectors and derive
    * identical band keys/cosines). Exists so the driver's sf0.01 gate
    * row for the near-dup pair pipeline is non-vacuous: on
    * hash-uniform embeddings zero pairs at 0.9 is the correct (but
    * unexercising) answer.
    */
  private val duckPlantedEmbCtes: String =
    s"""pemb AS (
         SELECT vec_id, embedding FROM embeddings
         UNION ALL
         SELECT vec_id + 10000000,
           list_concat([CAST(embedding[1] * 0.5::DOUBLE AS FLOAT)],
             embedding[2:64]) AS embedding
         FROM embeddings
         WHERE list_sum(list_transform(generate_series(1, 15),
             p -> ((strpos('0123456789abcdef',
                    substr(md5(vec_id::VARCHAR), p, 1)) - 1)::BIGINT
                   << (4 * (15 - p)))))::BIGINT % 100 < 5)"""

  /** The IVF index fit as DuckDB CTEs — `asg2` ends as every vector's
    * (id, vv, list_id) under the fitted index. Shared by the
    * `similarity_ivf` and `dedup_semantic` oracles so the index replay
    * can never drift between them. Mirrors
    * [[graft.simops.Ivf.fitSeq]](nlist=16, iters=1, fitSamplePct=60):
    * seeds + the Lloyd step run on the md5-bucket<60 sample (`sv`, the
    * same fold as sample_stratified's oracle); init = 16 lowest-id
    * SAMPLE vectors; centroids rounded to 6dp (the rounding is what
    * makes the index bit-reproducible across engines); the final
    * assignment (`a2`/`asg2`) covers ALL vectors.
    */
  /** The doubled embeddings (`v`) and their md5-bucket<60 fit sample
    * (`sv`) — the input CTEs every index-fitting oracle starts from
    * (`similarity_ivf` / `dedup_semantic` via [[duckIvfFitCtes]], and
    * `embedding_pq`).
    */
  /** The shared fit-sample CTE: the md5 percent draw with its pct
    * CAPPED to the absolute fit target — the same
    * `clamp(1, 60, ceil(target·100 / n))` integer arithmetic
    * [[graft.util.Sampling.cappedPct]] applies, computed from the
    * table's own count so both engines derive the identical pct at
    * every scale.
    */
  /** The same CTEs with the FIT corpus restricted by `fitWhere` (a
    * predicate over `id`): `v` stays the FULL table (assignment and
    * encode cover every stored vector — including frozen-index
    * appends), while the pct cap and the sample draw come from the
    * fit corpus's own count — the `_updated` serving-index replay,
    * where the index was fitted before the increment arrived.
    */
  private def duckEmbSampleCtesOn(fitWhere: String): String = {
    val t100 = graft.util.Sampling.FitSampleTarget * 100
    s"""v AS (SELECT vec_id AS id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vv
           FROM embeddings),
         fv AS (SELECT id, vv FROM v WHERE $fitWhere),
         fp AS (SELECT GREATEST(1, LEAST(60,
             ($t100 + count(*) - 1) // count(*))) AS pct FROM fv),
         sv AS (SELECT id, vv FROM fv WHERE
             ${duckMd5Pct("id")} < (SELECT pct FROM fp))"""
  }

  private lazy val duckEmbSampleCtes: String = duckEmbSampleCtesOn("TRUE")

  private def duckIvfFitCtesOn(fitWhere: String): String = {
    val cosAI = duckCosine("sv.vv", "i.c")
    val cosAC = duckCosine("v.vv", "c.c")
    s"""${duckEmbSampleCtesOn(fitWhere)},
         init AS (SELECT row_number() OVER (ORDER BY id) - 1 AS list_id, vv AS c
                  FROM (SELECT id, vv FROM sv ORDER BY id LIMIT 16)),
         a1 AS (SELECT sv.id, sv.vv, i.list_id,
                 row_number() OVER (PARTITION BY sv.id
                   ORDER BY $cosAI DESC, i.list_id) AS rn
                FROM sv, init i),
         asg1 AS (SELECT id, vv, list_id FROM a1 WHERE rn = 1),
         cent_d AS (SELECT list_id, d, round(avg(vv[d]), 6) AS m
                    FROM asg1, (SELECT unnest(generate_series(1, 64)) AS d)
                    GROUP BY list_id, d),
         cent AS (SELECT list_id, list(m ORDER BY d) AS c
                  FROM cent_d GROUP BY list_id),
         a2 AS (SELECT v.id, v.vv, c.list_id,
                 row_number() OVER (PARTITION BY v.id
                   ORDER BY $cosAC DESC, c.list_id) AS rn
                FROM v, cent c),
         asg2 AS (SELECT id, vv, list_id FROM a2 WHERE rn = 1)"""
  }

  private lazy val duckIvfFitCtes: String = duckIvfFitCtesOn("TRUE")

  /** The two Lloyd levels of the hier-IVF fit over the sample `svh`
    * (`csh` in scope): C coarse seeds → one pass → `c1h`, then per
    * coarse cell S sub seeds → one pass → `c2h`. Shared by
    * [[duckHierFitCtes]] and [[duckVecIndexCtes]]. No leading WITH.
    */
  private def duckHierLloydCtes(dim: Int): String = {
    def cos(a: String, b: String) = duckCosine(a, b)
    s"""inith AS (SELECT rn - 1 AS list_id, vv AS cv FROM
             (SELECT vv, row_number() OVER (ORDER BY id) AS rn FROM svh)
           WHERE rn <= (SELECT c FROM csh)),
         a1h AS (SELECT svh.id, svh.vv, i.list_id,
                 row_number() OVER (PARTITION BY svh.id
                   ORDER BY ${cos("svh.vv", "i.cv")} DESC, i.list_id) AS rn
                FROM svh, inith i),
         asg1h AS (SELECT id, vv, list_id FROM a1h WHERE rn = 1),
         cd1h AS (SELECT list_id, d, round(avg(vv[d]), 6) AS m
                  FROM asg1h, (SELECT unnest(generate_series(1, $dim)) AS d)
                  GROUP BY list_id, d),
         c1h AS (SELECT list_id, list(m ORDER BY d) AS cv
                 FROM cd1h GROUP BY list_id),
         sa1h AS (SELECT svh.id, svh.vv, c.list_id AS coarse_id,
                 row_number() OVER (PARTITION BY svh.id
                   ORDER BY ${cos("svh.vv", "c.cv")} DESC, c.list_id) AS rn
                FROM svh, c1h c),
         sasgh AS (SELECT id, vv, coarse_id FROM sa1h WHERE rn = 1),
         seedh AS (SELECT coarse_id, rn - 1 AS sub_id, vv AS cv FROM
             (SELECT coarse_id, vv, row_number() OVER
                (PARTITION BY coarse_id ORDER BY id) AS rn FROM sasgh)
           WHERE rn <= (SELECT s FROM csh)),
         a2sh AS (SELECT sa.id, sa.vv, sa.coarse_id, sd.sub_id,
                 row_number() OVER (PARTITION BY sa.id
                   ORDER BY ${cos("sa.vv", "sd.cv")} DESC, sd.sub_id) AS rn
                FROM sasgh sa JOIN seedh sd ON sd.coarse_id = sa.coarse_id),
         g2h AS (SELECT id, vv, coarse_id, sub_id FROM a2sh WHERE rn = 1),
         cd2h AS (SELECT coarse_id, sub_id, d, round(avg(vv[d]), 6) AS m
                  FROM g2h, (SELECT unnest(generate_series(1, $dim)) AS d)
                  GROUP BY coarse_id, sub_id, d),
         c2h AS (SELECT coarse_id, sub_id, list(m ORDER BY d) AS cv
                 FROM cd2h GROUP BY coarse_id, sub_id),"""
  }

  /** The HIERARCHICAL (two-level) IVF fit + full assignment as DuckDB
    * CTEs over `src` (a relation with vec_id + embedding) — `asgH`
    * ends as every vector's (id, vv, list_id) under the fitted forest.
    * Shared by the `dedup_semantic` / `dedup_semantic_incremental`
    * oracles so the replay can never drift. Mirrors
    * [[graft.simops.Ivf.fitHier]] at the [[graft.simops.Embed.autoNlist]]
    * contract (targetListSize=32, iters=1, fitSamplePct=60):
    *
    *  - geometry from the relation's OWN count(*) — nlist =
    *    clamp(4, 2²⁰, ⌈n/32⌉), C = ⌈√nlist⌉, S = ⌈nlist/C⌉ — the
    *    cappedPct convention extended to the index shape, so both
    *    engines derive the identical forest at every scale;
    *  - level 1 = the duckIvfFitCtes fit with 16 → C (seeds = C
    *    lowest-id sample vectors, one Lloyd pass, 6dp-rounded means);
    *  - level 2 = per surviving coarse cell, seeds = the cell's S
    *    lowest-id sample vectors, one Lloyd pass over the sample;
    *  - final assignment covers ALL of `src`: coarse argmax then
    *    within-cell sub argmax (ties → lowest id at both levels),
    *    global list_id = coarse_id·S + sub_id. A coarse cell left
    *    subless by Lloyd reassignment falls back to sub 0 on both
    *    engines (the kernel's empty-cell guard / COALESCE here).
    */
  private def duckHierFitCtes(src: String,
                              dim: Int = SemanticDim,
                              targetListSize: Int = SemanticTargetListSize,
                              fitSamplePct: Int = SemanticFitPct): String = {
    val t100 = graft.util.Sampling.FitSampleTarget * 100
    def cos(a: String, b: String) = duckCosine(a, b)
    s"""vh AS (SELECT vec_id AS id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vv
           FROM $src),
         geoh AS (SELECT GREATEST(4, LEAST(1048576,
             (count(*) + ${targetListSize - 1}) // $targetListSize))
             AS nlist FROM vh),
         csh AS (SELECT CAST(ceil(sqrt(nlist)) AS BIGINT) AS c,
             (nlist + CAST(ceil(sqrt(nlist)) AS BIGINT) - 1)
               // CAST(ceil(sqrt(nlist)) AS BIGINT) AS s FROM geoh),
         fph AS (SELECT GREATEST(1, LEAST($fitSamplePct,
             ($t100 + count(*) - 1) // count(*))) AS pct FROM vh),
         svh AS (SELECT id, vv FROM vh
                 WHERE ${duckMd5Pct("id")} < (SELECT pct FROM fph)),
         ${duckHierLloydCtes(dim)}
         fa1h AS (SELECT vh.id, vh.vv, c.list_id AS coarse_id,
                 row_number() OVER (PARTITION BY vh.id
                   ORDER BY ${cos("vh.vv", "c.cv")} DESC, c.list_id) AS rn
                FROM vh, c1h c),
         fach AS (SELECT id, vv, coarse_id FROM fa1h WHERE rn = 1),
         fa2h AS (SELECT a.id, a.vv, a.coarse_id, c2.sub_id,
                 row_number() OVER (PARTITION BY a.id
                   ORDER BY ${cos("a.vv", "c2.cv")} DESC, c2.sub_id) AS rn
                FROM fach a LEFT JOIN c2h c2 ON c2.coarse_id = a.coarse_id),
         asgh AS (SELECT id, vv,
                 coarse_id * (SELECT s FROM csh) + COALESCE(sub_id, 0)
                   AS list_id
                FROM fa2h WHERE rn = 1)"""
  }

  /** The semantic daily-ingest decision replayed in SQL — shared by
    * `dedup_semantic_incremental` and `dedup_semantic_probe` (the
    * parquet store round-trip changes the physics a bench row
    * measures, never the answer): hier fit + corpus assignment over
    * the bucket<70 corpus only, the increment assigned through the
    * same forest, candidates compared within-list — best match =
    * highest 4dp cosine, then lowest corpus id.
    */
  /** Assignment of a side relation `src` (id, vv) through the fitted
    * forest (c1h/c2h/csh in scope) — the coarse-then-sub argmax chain,
    * CTE names prefixed `p`, ending at `${p}asg` (id, vv, list_id).
    */
  private def duckHierAssignCtes(src: String, p: String): String =
    s"""${p}a1 AS (SELECT $src.id, $src.vv, c.list_id AS coarse_id,
                 row_number() OVER (PARTITION BY $src.id
                   ORDER BY ${duckCosine(s"$src.vv", "c.cv")} DESC,
                     c.list_id) AS rn
                FROM $src, c1h c),
         ${p}ac AS (SELECT id, vv, coarse_id FROM ${p}a1 WHERE rn = 1),
         ${p}a2 AS (SELECT a.id, a.vv, a.coarse_id, c2.sub_id,
                 row_number() OVER (PARTITION BY a.id
                   ORDER BY ${duckCosine("a.vv", "c2.cv")} DESC,
                     c2.sub_id) AS rn
                FROM ${p}ac a LEFT JOIN c2h c2 ON c2.coarse_id = a.coarse_id),
         ${p}asg AS (SELECT id, vv,
                 coarse_id * (SELECT s FROM csh) + COALESCE(sub_id, 0)
                   AS list_id
                FROM ${p}a2 WHERE rn = 1)"""

  /** The within-list best-match decision of `incRel` against `corRel`
    * (both (id, vv, list_id)): ver/best CTEs prefixed `p`, then the
    * final (vec_id, list_id, dup_of, sim, is_new) select.
    */
  private def duckSemanticDecide(incRel: String, corRel: String,
                                 p: String): String = {
    val cosAB = duckCosine("i.vv", "g.vv")
    s"""${p}ver AS (SELECT i.id AS inc_id, g.id AS dup_id,
                   round($cosAB, 4) AS sim
                 FROM $incRel i JOIN $corRel g ON g.list_id = i.list_id
                 WHERE i.id <> g.id AND round($cosAB, 4) >= 0.4),
         ${p}best AS (SELECT inc_id, dup_id, sim FROM (
             SELECT *, row_number() OVER (PARTITION BY inc_id
               ORDER BY sim DESC, dup_id) AS rn FROM ${p}ver) WHERE rn = 1)
         SELECT i.id AS vec_id, i.list_id, ${p}best.dup_id AS dup_of,
           ${p}best.sim, (${p}best.dup_id IS NULL) AS is_new
         FROM $incRel i LEFT JOIN ${p}best ON ${p}best.inc_id = i.id"""
  }

  private lazy val semanticIncrementalOracle: String =
    s"""WITH ${duckHierFitCtes(
        s"(SELECT vec_id, embedding FROM embeddings WHERE ${
          duckMd5Pct("vec_id")} < 70)")},
         vinc AS (SELECT vec_id AS id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vv
           FROM embeddings WHERE ${duckMd5Pct("vec_id")} >= 70),
         ${duckHierAssignCtes("vinc", "i")},
         ${duckSemanticDecide("iasg", "asgh", "")}"""

  /** The semantic A/B ingest LOOP replayed in SQL: increment A (bucket
    * 70-84) decided against the store, its is_new survivors appended
    * (with their forest assignments), increment B (bucket >= 85)
    * decided against the UPDATED membership — the cross-increment
    * catch the `_updated` convention exists to verify.
    */
  private lazy val semanticUpdatedOracle: String =
    s"""WITH ${duckHierFitCtes(
        s"(SELECT vec_id, embedding FROM embeddings WHERE ${
          duckMd5Pct("vec_id")} < 70)")},
         vinca AS (SELECT vec_id AS id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vv
           FROM embeddings WHERE ${duckMd5Pct("vec_id")} >= 70
             AND ${duckMd5Pct("vec_id")} < 85),
         vincb AS (SELECT vec_id AS id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vv
           FROM embeddings WHERE ${duckMd5Pct("vec_id")} >= 85),
         ${duckHierAssignCtes("vinca", "x")},
         ${duckHierAssignCtes("vincb", "y")},
         dupa AS (SELECT DISTINCT i.id FROM xasg i JOIN asgh g
                 ON g.list_id = i.list_id
                 WHERE i.id <> g.id
                   AND round(${duckCosine("i.vv", "g.vv")}, 4) >= 0.4),
         uasg AS (SELECT id, vv, list_id FROM asgh
                  UNION ALL
                  SELECT id, vv, list_id FROM xasg
                  WHERE id NOT IN (SELECT id FROM dupa)),
         ${duckSemanticDecide("yasg", "uasg", "b")}"""

  /** Engine-portable squared-L2 between two DuckDB lists (explicit
    * multiply, left-to-right `list_sum` — the same fold as the PQ
    * kernels' accumulation).
    */
  private def duckL2(a: String, b: String): String =
    s"list_sum(list_transform(list_zip($a, $b), " +
      "p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)) * " +
      "(CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))))"

  private val pqM = 8
  private val pqSub = 8

  /** The PQ codebook fit + full-corpus encode as DuckDB CTEs, per
    * subspace `mi`: `cb_mi` is the post-Lloyd codebook, `enc_mi` each
    * vector's (id, code, d2). Shared by the `embedding_pq` /
    * `similarity_pq` oracles (raw vectors: `sv`/`v`) and the
    * `similarity_ivfpq` oracle (residual frames: `rsv`/`rv`) so the
    * codebook replay can never drift. Mirrors
    * Embed.fitBooks(m=8, k=16, iters=1, fitSamplePct=60, dim=64):
    * seeds = 16 lowest-id SAMPLE subvectors, one Lloyd step with
    * 6dp-rounded means, argmin-L2 with ties to the lowest code.
    * @param svN the fit-sample CTE (id, vv); @param vN the full frame
    */
  private def duckPqFitCtesOn(svN: String, vN: String): String =
    (0 until pqM).map { mi =>
      val off = mi * pqSub
      val sl = s"[${off + 1}:${off + pqSub}]"
      s"""init_$mi AS (SELECT row_number() OVER (ORDER BY id) - 1 AS code, vv$sl AS c
                  FROM (SELECT id, vv FROM $svN ORDER BY id LIMIT 16)),
         a_$mi AS (SELECT $svN.id, $svN.vv$sl AS s, i.code,
                 row_number() OVER (PARTITION BY $svN.id
                   ORDER BY ${duckL2(s"$svN.vv$sl", "i.c")} ASC, i.code) AS rn
                FROM $svN, init_$mi i),
         g_$mi AS (SELECT s, code FROM a_$mi WHERE rn = 1),
         cd_$mi AS (SELECT code, d, round(avg(s[d]), 6) AS md FROM g_$mi,
                 (SELECT unnest(generate_series(1, $pqSub)) AS d) GROUP BY 1, 2),
         cb_$mi AS (SELECT code, list(md ORDER BY d) AS c FROM cd_$mi GROUP BY code),
         e_$mi AS (SELECT $vN.id, c.code, ${duckL2(s"$vN.vv$sl", "c.c")} AS d2,
                 row_number() OVER (PARTITION BY $vN.id
                   ORDER BY ${duckL2(s"$vN.vv$sl", "c.c")} ASC, c.code) AS rn
                FROM $vN, cb_$mi c),
         enc_$mi AS (SELECT id, code, d2 FROM e_$mi WHERE rn = 1)"""
    }.mkString(",\n         ")

  private lazy val duckPqFitCtes: String = duckPqFitCtesOn("sv", "v")

  /** Residual frames for the `similarity_ivfpq` oracle: each vector
    * minus its assigned list's (post-Lloyd) centroid — the IVFADC
    * encode space — and the md5-bucket fit sample of the same. Exact
    * elementwise double subtraction, the arithmetic
    * [[graft.simops.Embed.ivfPqTopK]]'s residual projection performs.
    */
  private val duckResidual =
    "list_transform(list_zip(%s, %s), " +
      "p -> CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)) AS vv"
  private lazy val duckIvfResidualCtes: String =
    s"""rv AS (SELECT a.id, a.list_id,
             ${duckResidual.format("a.vv", "c.c")}
           FROM asg2 a JOIN cent c USING (list_id)),
         rsv AS (SELECT rv.id, rv.vv FROM rv JOIN sv ON sv.id = rv.id)"""

  /** The full IVFADC top-k replay (fit → residual encode → ADC →
    * rank), with the FITS restricted to the `fitWhere` corpus — shared
    * verbatim by `similarity_ivfpq` / `similarity_ivfpq_probe`
    * (fitWhere = TRUE: full-corpus index) and
    * `similarity_ivfpq_probe_updated` (fitWhere = bucket<70: the
    * frozen-index A/B loop, where assignment/encode still cover every
    * stored vector). Both shared fit replays in one query: asg2 (IVF
    * list per vector) from [[duckIvfFitCtesOn]], then the RESIDUAL
    * frames (vector minus assigned centroid — IVFADC) feed the PQ
    * fit/encode, so recon holds residual reconstructions; queries
    * probe their 4 nearest lists (same window/tiebreak as
    * similarity_ivf), subtract the PROBED list's centroid, and
    * ADC-score only the probed candidates in that list's residual
    * space.
    */
  private def duckIvfPqTopKOracle(fitWhere: String): String = {
    val cosQC = duckCosine("q.vv", "c.c")
    val reconJoins = (0 until pqM).map(mi =>
      (if (mi == 0) "FROM enc_0" else s"JOIN enc_$mi ON enc_$mi.id = enc_0.id") +
        s" JOIN cb_$mi r$mi ON r$mi.code = enc_$mi.code").mkString(" ")
    val reconCols = (0 until pqM).map(mi => s"r$mi.c AS c$mi").mkString(", ")
    val adcSum = (0 until pqM).map { mi =>
      val off = mi * pqSub
      duckL2(s"qr.qrv[${off + 1}:${off + pqSub}]", s"r.c$mi")
    }.mkString(" + ")
    s"""WITH ${duckIvfFitCtesOn(fitWhere)},
       $duckIvfResidualCtes,
       ${duckPqFitCtesOn("rsv", "rv")},
       recon AS (SELECT enc_0.id, $reconCols $reconJoins),
       qp AS (SELECT q.id AS query_id, q.vv AS qv, c.list_id,
               row_number() OVER (PARTITION BY q.id
                 ORDER BY $cosQC DESC, c.list_id) AS rn
              FROM v q, cent c WHERE q.id < 10),
       qpf AS (SELECT query_id, qv, list_id FROM qp WHERE rn <= 4),
       qr AS (SELECT qpf.query_id, qpf.list_id,
               ${duckResidual.format("qpf.qv", "c.c").replace(" AS vv", " AS qrv")}
              FROM qpf JOIN cent c USING (list_id)),
       scored AS (SELECT qr.query_id, a.id AS neighbor_id,
           round($adcSum, 6) AS adist
         FROM qr JOIN asg2 a USING (list_id)
         JOIN recon r ON r.id = a.id
         WHERE a.id <> qr.query_id)
       SELECT query_id, neighbor_id, adist, rank FROM (
         SELECT *, row_number() OVER (PARTITION BY query_id
           ORDER BY adist ASC, neighbor_id) AS rank
         FROM scored) WHERE rank <= 5"""
  }

  /** The hier-IVF fit + full assignment CTEs for the SERVING index
    * (`VectorIndexStore`): the [[duckHierFitCtes]] replay with the
    * FIT corpus restricted by `fitWhere` while geometry (nlist =
    * clamp(4, 2²⁰, ⌈n/32⌉) from the fit corpus's OWN count — the
    * autoNlist contract), the cappedPct sample, and both Lloyd levels
    * come from the fit corpus, and the FINAL assignment covers ALL
    * embeddings (frozen-forest appends assign through the same
    * forest). `asgh` ends as every vector's (id, vv, list_id, lcv =
    * the assigned list's centroid — sub-centroid, coarse fallback for
    * a subless cell), the IVFADC residual base.
    */
  private def duckVecIndexCtes(fitWhere: String): String = {
    val t100 = graft.util.Sampling.FitSampleTarget * 100
    def cos(a: String, b: String) = duckCosine(a, b)
    s"""vh AS (SELECT vec_id AS id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vv
           FROM embeddings),
         fvh AS (SELECT id, vv FROM vh WHERE $fitWhere),
         geoh AS (SELECT GREATEST(4, LEAST(1048576,
             (count(*) + ${SemanticTargetListSize - 1})
               // $SemanticTargetListSize)) AS nlist FROM fvh),
         csh AS (SELECT CAST(ceil(sqrt(nlist)) AS BIGINT) AS c,
             (nlist + CAST(ceil(sqrt(nlist)) AS BIGINT) - 1)
               // CAST(ceil(sqrt(nlist)) AS BIGINT) AS s FROM geoh),
         fph AS (SELECT GREATEST(1, LEAST(60,
             ($t100 + count(*) - 1) // count(*))) AS pct FROM fvh),
         svh AS (SELECT id, vv FROM fvh
                 WHERE ${duckMd5Pct("id")} < (SELECT pct FROM fph)),
         ${duckHierLloydCtes(64)}
         fa1h AS (SELECT vh.id, vh.vv, c.list_id AS coarse_id,
                 c.cv AS ccv,
                 row_number() OVER (PARTITION BY vh.id
                   ORDER BY ${cos("vh.vv", "c.cv")} DESC, c.list_id) AS rn
                FROM vh, c1h c),
         fach AS (SELECT id, vv, coarse_id, ccv FROM fa1h WHERE rn = 1),
         fa2h AS (SELECT a.id, a.vv, a.coarse_id, a.ccv, c2.sub_id,
                 c2.cv AS scv,
                 row_number() OVER (PARTITION BY a.id
                   ORDER BY ${cos("a.vv", "c2.cv")} DESC, c2.sub_id) AS rn
                FROM fach a LEFT JOIN c2h c2 ON c2.coarse_id = a.coarse_id),
         asgh AS (SELECT id, vv,
                 CAST(coarse_id * (SELECT s FROM csh)
                   + COALESCE(sub_id, 0) AS INTEGER) AS list_id,
                 COALESCE(scv, ccv) AS lcv
                FROM fa2h WHERE rn = 1)"""
  }

  /** The full serving-index top-k replay (hier fit at count-derived
    * geometry → residual encode → PQ fit on the shared capped sample →
    * ADC over the probed lists), shared by `similarity_ivfpq_probe`
    * (fitWhere = TRUE: full-corpus index) and
    * `similarity_ivfpq_probe_updated` (fitWhere = bucket<70: the
    * frozen-index A/B loop, where assignment/encode still cover every
    * stored vector). The query probe mirrors
    * [[graft.simops.VectorIndexStore.topK]]: top-nprobe coarse cells
    * (cosine desc, coarse id asc), then top-nprobe global lists among
    * those cells' sub-centroids (cosine desc, list id asc; a subless
    * cell contributes its fallback list with the coarse centroid),
    * query residual against each probed list's centroid, ADC over
    * that list's stored codes.
    */
  private def duckVecIndexScoredCtes(fitWhere: String): String = {
    val reconJoins = (0 until pqM).map(mi =>
      (if (mi == 0) "FROM enc_0" else s"JOIN enc_$mi ON enc_$mi.id = enc_0.id") +
        s" JOIN cb_$mi r$mi ON r$mi.code = enc_$mi.code").mkString(" ")
    val reconCols = (0 until pqM).map(mi => s"r$mi.c AS c$mi").mkString(", ")
    val adcSum = (0 until pqM).map { mi =>
      val off = mi * pqSub
      duckL2(s"qr.qrv[${off + 1}:${off + pqSub}]", s"r.c$mi")
    }.mkString(" + ")
    val resid = "list_transform(list_zip(%s, %s), " +
      "p -> CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))"
    s"""${duckVecIndexCtes(fitWhere)},
       rvh AS (SELECT id, ${resid.format("vv", "lcv")} AS vv FROM asgh),
       rsvh AS (SELECT rvh.id, rvh.vv FROM rvh
                JOIN svh ON svh.id = rvh.id),
       ${duckPqFitCtesOn("rsvh", "rvh")},
       recon AS (SELECT enc_0.id, $reconCols $reconJoins),
       qp0 AS (SELECT q.id AS query_id, q.vv AS qv,
               c.list_id AS coarse_id, c.cv AS ccv,
               row_number() OVER (PARTITION BY q.id
                 ORDER BY ${duckCosine("q.vv", "c.cv")} DESC, c.list_id) AS rn
              FROM vh q, c1h c WHERE q.id < 10),
       qpc AS (SELECT query_id, qv, coarse_id, ccv FROM qp0 WHERE rn <= 4),
       qls AS (SELECT qpc.query_id, qpc.qv,
               CAST(qpc.coarse_id * (SELECT s FROM csh)
                 + COALESCE(c2.sub_id, 0) AS INTEGER) AS list_id,
               COALESCE(c2.cv, qpc.ccv) AS lcv
              FROM qpc LEFT JOIN c2h c2 ON c2.coarse_id = qpc.coarse_id),
       qlr AS (SELECT *, row_number() OVER (PARTITION BY query_id
                 ORDER BY ${duckCosine("qv", "lcv")} DESC, list_id) AS rn
               FROM qls),
       qr AS (SELECT query_id, list_id,
               ${resid.format("qv", "lcv")} AS qrv
              FROM qlr WHERE rn <= 4),
       scored AS (SELECT qr.query_id, a.id AS neighbor_id,
           round($adcSum, 6) AS adist
         FROM qr JOIN asgh a USING (list_id)
         JOIN recon r ON r.id = a.id
         WHERE a.id <> qr.query_id)"""
  }

  private def duckVecIndexProbeOracle(fitWhere: String): String =
    s"""WITH ${duckVecIndexScoredCtes(fitWhere)}
       SELECT query_id, neighbor_id, adist, rank FROM (
         SELECT *, row_number() OVER (PARTITION BY query_id
           ORDER BY adist ASC, neighbor_id) AS rank
         FROM scored) WHERE rank <= 5"""

  /** The TWO-STAGE retrieval replay (`similarity_ivfpq_probe_rerank`):
    * the ADC chain above shortlists the top 4·k candidates per query
    * (same adist/id ordering as the probe row), then the shortlist is
    * re-scored with EXACT cosine between the original query and
    * neighbor vectors (round-4 + id tiebreak — the bruteForceTopK
    * convention; `+ 0.0` normalizes DuckDB's signed zero).
    */
  private def duckVecIndexRerankOracle(fitWhere: String): String =
    s"""WITH ${duckVecIndexScoredCtes(fitWhere)},
       shortl AS (SELECT query_id, neighbor_id FROM (
           SELECT *, row_number() OVER (PARTITION BY query_id
             ORDER BY adist ASC, neighbor_id) AS arn
           FROM scored) WHERE arn <= 20),
       rer AS (SELECT sl.query_id, sl.neighbor_id,
           round(${duckCosine("q.vv", "n.vv")}, 4) + 0.0 AS sim
         FROM shortl sl
         JOIN vh q ON q.id = sl.query_id
         JOIN vh n ON n.id = sl.neighbor_id)
       SELECT query_id, neighbor_id, sim, rank FROM (
         SELECT *, row_number() OVER (PARTITION BY query_id
           ORDER BY sim DESC, neighbor_id) AS rank
         FROM rer) WHERE rank <= 5"""

  /** DuckDB mirror of one [[graft.simops.Similarity.lshSignature]] plane
    * dot: the plane is embedded as the exact double values of the
    * float-cast literals Spark dots against (shortest-round-trip decimal
    * strings re-parse to the identical doubles), and elements widen to
    * double before multiply with the same left-to-right fold — so the
    * sign test, and hence every band key, matches bit for bit.
    */
  private def duckPlaneDot(vecExpr: String, plane: Array[Double]): String = {
    val lits = plane.map(v => v.toFloat.toDouble.toString)
      .mkString("[", ", ", "]")
    s"list_sum(list_transform(list_zip($vecExpr, $lits), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))"
  }

  /** One LSH band key (= bits [band*bits, (band+1)*bits) of the packed
    * signature) as a DuckDB expression over `vecExpr`.
    */
  private def duckBandKey(vecExpr: String, planes: Array[Array[Double]],
                          band: Int, bits: Int): String =
    (0 until bits).map { i =>
      s"(CASE WHEN ${duckPlaneDot(vecExpr, planes(band * bits + i))} > 0.0 THEN ${1L << i} ELSE 0 END)"
    }.mkString("(", " + ", ")")

  /** Double-precision sequential cosine, the DuckDB mirror of
    * Similarity.cosine (same left-to-right fold ⇒ same bits).
    */
  private def duckCosine(a: String, b: String): String = {
    def dot(x: String, y: String) =
      s"list_sum(list_transform(list_zip($x, $y), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))"
    val d = dot(a, b)
    val na = dot(a, a)
    val nb = dot(b, b)
    s"(CASE WHEN sqrt($na) * sqrt($nb) = 0 THEN 0.0 ELSE $d / (sqrt($na) * sqrt($nb)) END)"
  }

  lazy val rows: Seq[Row] = Seq(
    Row("similarity_ivf", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      // index fit on a 60% md5-bucket sample: the 100 TB shape (Lloyd
      // passes O(sample), not O(corpus)); assignment + probe still
      // cover every candidate, and the oracle replays the same sample
      Ivf.topK(emb.filter(col("vec_id") < 10), emb, "vec_id", "embedding",
        k = 5, nlist = 16, nprobe = 4, iters = 1, fitSamplePct = 60)
    }, {
      // replays Ivf.topK(nlist=16, nprobe=4, k=5, iters=1,
      // fitSamplePct=60) exactly on the shared fit CTEs; probe and
      // rank run over ALL vectors and mirror the Spark window/tiebreak
      // rules.
      val cosQC = duckCosine("q.vv", "c.c")
      val cosS = duckCosine("qpf.qv", "a.vv")
      s"""WITH $duckIvfFitCtes,
         qp AS (SELECT q.id AS query_id, q.vv AS qv, c.list_id,
                 row_number() OVER (PARTITION BY q.id
                   ORDER BY $cosQC DESC, c.list_id) AS rn
                FROM v q, cent c WHERE q.id < 10),
         qpf AS (SELECT query_id, qv, list_id FROM qp WHERE rn <= 4),
         scored AS (SELECT qpf.query_id, a.id AS neighbor_id,
                     round($cosS, 4) AS sim
                    FROM qpf JOIN asg2 a USING (list_id)
                    WHERE a.id <> qpf.query_id)
         SELECT query_id, neighbor_id, sim, rank FROM (
           SELECT *, row_number() OVER (PARTITION BY query_id
             ORDER BY sim DESC, neighbor_id) AS rank
           FROM scored) WHERE rank <= 5"""
    }),

    Row("dedup_semantic", (s, dir) =>
      // SemDeDup: keep/drop per vector, cluster-scoped greedy
      // lowest-id-wins at cosine >= 0.4 — at the autoNlist contract
      // (nlist = ceil(n/32), assigned through the two-level forest) so
      // the within-list pair fan-out stays O(n*targetListSize) instead
      // of n^2/nlist with nlist frozen at 16
      graft.simops.Embed.semanticDedupHier(Tables.embeddings(s, dir),
        "vec_id", "embedding", threshold = 0.4,
        targetListSize = SemanticTargetListSize, iters = 1,
        fitSamplePct = SemanticFitPct), {
      // replay the two-level autoNlist fit, then the greedy rule: a
      // vector drops iff a lower-id vector in its list scores cosine
      // >= 0.4
      val cosAB = duckCosine("a.vv", "b.vv")
      s"""WITH ${duckHierFitCtes("embeddings")},
         drp AS (SELECT DISTINCT a.id FROM asgh a JOIN asgh b
                 ON a.list_id = b.list_id AND a.id > b.id
                 WHERE round($cosAB, 4) >= 0.4)
         SELECT g.id AS vec_id, g.list_id, (d.id IS NULL) AS kept
         FROM asgh g LEFT JOIN drp d ON d.id = g.id"""
    }),

    Row("dedup_semantic_incremental", (s, dir) => {
      // the semantic-dedup DAILY-INGEST decision: index fitted on the
      // corpus only (bucket < 70 — the dedup_minhash_incremental split
      // convention), increment assigned through the same two-level
      // projection, candidates compared within-list only; the corpus
      // never shuffles (increment broadcast, hammingIncremental shape)
      val e = Tables.embeddings(s, dir)
      val bucket = graft.util.Sampling.md5Bucket(col("vec_id"))
      graft.simops.Embed.semanticDedupIncremental(e.filter(bucket >= 70),
        e.filter(bucket < 70), "vec_id", "embedding", threshold = 0.4,
        targetListSize = SemanticTargetListSize, iters = 1,
        fitSamplePct = SemanticFitPct)
    },
      semanticIncrementalOracle),

    Row("dedup_semantic_probe", (s, dir) => {
      // the PROBE-ONLY form (the dedup_minhash_probe convention):
      // forest + corpus assignments read from parquet persisted at
      // "corpus ingest time" (first invocation builds the store — the
      // bench's warmup pass), so the timed row measures what a daily
      // semantic ingest actually pays: O(increment) assignment +
      // broadcast within-list probes — no corpus fit, no corpus
      // assignment kernel. Decision identical to
      // dedup_semantic_incremental — same oracle.
      val e = Tables.embeddings(s, dir)
      val bucket = graft.util.Sampling.md5Bucket(col("vec_id"))
      val sd = ensureSemanticStore(s, dir)
      graft.simops.Embed.semanticDedupStored(e.filter(bucket >= 70),
        graft.simops.SemanticStore.read(s, sd), "vec_id", "embedding",
        threshold = 0.4)
    },
      // the parquet-persisted forest + assignments make the SAME decision
      // again — the store round-trip changes the physics (what the bench
      // row measures), never the answer
      semanticIncrementalOracle),

    Row("dedup_semantic_probe_updated", (s, dir) => {
      // the semantic daily-ingest LOOP closed (the _updated
      // convention): probe increment A (bucket 70-84) against the
      // persisted store, append A's is_new survivors IN MEMORY (the
      // SignatureStore lazy-append convention — the persisted base
      // never mutates mid-query), probe increment B (bucket >= 85)
      // against the updated membership; a B vector near-duplicating an
      // ACCEPTED A vector is caught, one duplicating a REJECTED A
      // vector is not re-flagged against it (arrival-order-wins)
      val e = Tables.embeddings(s, dir)
      val bucket = graft.util.Sampling.md5Bucket(col("vec_id"))
      val sd = ensureSemanticStore(s, dir)
      val store = graft.simops.SemanticStore.read(s, sd)
      val incA = e.filter(bucket >= 70 && bucket < 85)
      val probeA = graft.simops.Embed.semanticDedupStored(incA, store,
        "vec_id", "embedding", threshold = 0.4)
      // bounded accepted-ids checkpoint (the pairUpdatedStored
      // convention) — keeps the A-probe DAG out of the B probe's plan
      val accIds = probeA.filter(col("is_new")).select(col("vec_id"))
        .localCheckpoint()
      val acceptedA = graft.simops.SemanticStore.assign(store, incA,
          "vec_id", "embedding")
        .join(broadcast(accIds), "vec_id")
      graft.simops.Embed.semanticDedupStored(e.filter(bucket >= 85),
        graft.simops.SemanticStore.append(store, acceptedA),
        "vec_id", "embedding", threshold = 0.4)
    },
      semanticUpdatedOracle),

    Row("dedup_semantic_liststats", (s, dir) =>
      // the capstats row for the semantic geometry: the autoNlist pair
      // bound is only as good as the real list-size distribution —
      // integer-only aggregate over the same fitted forest
      graft.simops.Embed.semanticListStats(Tables.embeddings(s, dir),
        "vec_id", "embedding", targetListSize = SemanticTargetListSize,
        iters = 1, fitSamplePct = SemanticFitPct), {
      // the same forest replay, reduced to the integer list-size
      // distribution — no float surface
      s"""WITH ${duckHierFitCtes("embeddings")},
         szh AS (SELECT list_id, count(*) AS sz FROM asgh GROUP BY list_id)
         SELECT CAST(sum(sz) AS BIGINT) AS n_vecs, count(*) AS n_lists,
           max(sz) AS max_list,
           CAST(sum(CASE WHEN sz > 64 THEN 1 ELSE 0 END) AS BIGINT)
             AS over_2x_target
         FROM szh"""
    }),

    Row("embedding_pq", (s, dir) =>
      // product quantization: 8 subspaces x 16 codes = 32x compression
      // at dim 64; sampled codebook fit, pure-projection encode
      graft.simops.Embed.pqEncode(Tables.embeddings(s, dir),
        "vec_id", "embedding", m = 8, k = 16, iters = 1,
        fitSamplePct = 60, dim = 64), {
      // replays Embed.pqEncode(m=8, k=16, iters=1, fitSamplePct=60,
      // dim=64) on the shared per-subspace fit CTEs: codes concatenate
      // CSV and the reconstruction error sums across subspaces (in
      // subspace order) before the sqrt
      val codesCsv = (0 until pqM).map(mi => s"enc_$mi.code::VARCHAR")
        .mkString(" || ',' || ")
      val errSum = (0 until pqM).map(mi => s"enc_$mi.d2").mkString(" + ")
      val joins = (0 until pqM).map(mi => s"JOIN enc_$mi ON enc_$mi.id = v.id")
        .mkString(" ")
      s"""WITH $duckEmbSampleCtes,
         $duckPqFitCtes
         SELECT v.id AS vec_id, $codesCsv AS codes_csv,
           round(sqrt(($errSum) / 64), 6) AS rmse
         FROM v $joins"""
    }),

    Row("embedding_pq_opq", (s, dir) =>
      // OPQ allocation (Ge et al.): variance-balancing permutation
      // fitted on the sample, then the same m=8 x k=16 encode — the
      // fit is one 64-row aggregate, the permute a pure projection
      graft.simops.Embed.pqEncodeOpq(Tables.embeddings(s, dir),
        "vec_id", "embedding", m = 8, k = 16, iters = 1,
        fitSamplePct = 60, dim = 64), {
      // the permutation FIT replayed in SQL: per-dim sample variance
      // in the same sum-of-squares form (rounded 6dp), rank desc with
      // index tie-break, snake-deal ranks across subspaces; then the
      // standard fit CTEs run on the permuted frames
      val codesCsv = (0 until pqM).map(mi => s"enc_$mi.code::VARCHAR")
        .mkString(" || ',' || ")
      val errSum = (0 until pqM).map(mi => s"enc_$mi.d2").mkString(" + ")
      val joins = (0 until pqM).map(mi => s"JOIN enc_$mi ON enc_$mi.id = pv.id")
        .mkString(" ")
      s"""WITH $duckEmbSampleCtes,
         vr AS (SELECT dd, round(sum(vv[dd]*vv[dd])/count(*) -
               (sum(vv[dd])/count(*))*(sum(vv[dd])/count(*)), 6) AS vrr
             FROM sv, (SELECT unnest(generate_series(1, 64)) AS dd)
             GROUP BY dd),
         rk AS (SELECT dd, row_number() OVER (ORDER BY vrr DESC, dd) - 1 AS r
             FROM vr),
         pm AS (SELECT dd,
             (CASE WHEN (r // $pqM) % 2 = 0 THEN r % $pqM
                   ELSE $pqM - 1 - (r % $pqM) END) * $pqSub + (r // $pqM) AS np
             FROM rk),
         pl AS (SELECT list(dd ORDER BY np) AS p FROM pm),
         pv AS (SELECT id, list_transform(generate_series(1, 64),
               i -> vv[p[i]]) AS vv FROM v, pl),
         psv AS (SELECT pv.id, pv.vv FROM pv JOIN sv ON sv.id = pv.id),
         ${duckPqFitCtesOn("psv", "pv")}
         SELECT pv.id AS vec_id, $codesCsv AS codes_csv,
           round(sqrt(($errSum) / 64), 6) AS rmse
         FROM pv $joins"""
    }),

    Row("similarity_pq", (s, dir) => {
      // ADC top-k over the compressed codes (memory-bound ANN scan);
      // same fitted codebooks as embedding_pq
      val emb = Tables.embeddings(s, dir)
      graft.simops.Embed.pqTopK(emb.filter(col("vec_id") < 10), emb,
        "vec_id", "embedding", kNN = 5, m = 8, k = 16, iters = 1,
        fitSamplePct = 60, dim = 64)
    }, {
      // ADC: squared L2 between the full query vector and the
      // candidate's per-subspace reconstruction, summed in subspace
      // order; rank ties break on neighbor id (same fitted codebooks
      // as embedding_pq via the shared CTEs)
      val reconJoins = (0 until pqM).map(mi =>
        (if (mi == 0) "FROM enc_0" else s"JOIN enc_$mi ON enc_$mi.id = enc_0.id") +
          s" JOIN cb_$mi r$mi ON r$mi.code = enc_$mi.code").mkString(" ")
      val reconCols = (0 until pqM).map(mi => s"r$mi.c AS c$mi").mkString(", ")
      val adcSum = (0 until pqM).map { mi =>
        val off = mi * pqSub
        duckL2(s"q.vv[${off + 1}:${off + pqSub}]", s"r.c$mi")
      }.mkString(" + ")
      s"""WITH $duckEmbSampleCtes,
         $duckPqFitCtes,
         recon AS (SELECT enc_0.id, $reconCols $reconJoins),
         scored AS (SELECT q.id AS query_id, r.id AS neighbor_id,
             round($adcSum, 6) AS adist
           FROM v q, recon r WHERE q.id < 10 AND r.id <> q.id)
         SELECT query_id, neighbor_id, adist, rank FROM (
           SELECT *, row_number() OVER (PARTITION BY query_id
             ORDER BY adist ASC, neighbor_id) AS rank
           FROM scored) WHERE rank <= 5"""
    }),

    Row("similarity_ivfpq", (s, dir) => {
      // the composed big-ANN shape: IVF list pruning + ADC scoring of
      // PQ codes; both indexes share the sampled deterministic fits
      val emb = Tables.embeddings(s, dir)
      graft.simops.Embed.ivfPqTopK(emb.filter(col("vec_id") < 10), emb,
        "vec_id", "embedding", kNN = 5, nlist = 16, nprobe = 4,
        m = 8, k = 16, iters = 1, fitSamplePct = 60, dim = 64)
    },
      duckIvfPqTopKOracle("TRUE")),

    Row("similarity_ivfpq_probe", (s, dir) => {
      // the SERVING form of the IVFADC family (the _probe convention):
      // the hier centroid forest, codebooks, and the corpus's packed
      // PQ codes were fitted + encoded ONCE at "corpus ingest time"
      // (first invocation builds the VectorIndexStore — the bench's
      // warmup pass) at the SCALE-TRUE geometry — nlist =
      // autoNlist(corpus count), the dedup_semantic contract — with
      // `codes/` partitioned by list_id, so the timed row measures
      // what an online query batch actually pays: query-side forest
      // probe + residual projection + ADC over the STORED m-int code
      // arrays of the probed lists ONLY (dynamic partition pruning
      // over the broadcast query side — no corpus fit, no corpus PQ
      // re-encode, no corpus vector read, no full code-store scan;
      // plan-fenced in PlanAuditSpec). Oracle: the full hier-IVFADC
      // replay with geometry re-derived from the corpus's own
      // count(*) (duckVecIndexProbeOracle).
      val emb = Tables.embeddings(s, dir)
      val sd = ensureVecIndexStore(s, dir)
      graft.simops.VectorIndexStore.topK(emb.filter(col("vec_id") < 10),
        openVecIndex(s, sd), "vec_id", "embedding",
        kNN = 5, nprobe = 4)
    },
      // the stored-serving form at the SCALE-TRUE geometry: the hier
      // forest + PQ replay with nlist re-derived from the corpus's own
      // count(*) (the autoNlist contract), parquet round-trips exact
      duckVecIndexProbeOracle("TRUE")),

    Row("similarity_ivfpq_probe_updated", (s, dir) => {
      // the serving index's daily-ingest LOOP closed (the _updated
      // convention, the dedup_bloom_probe_updated shape: the append
      // runs at store-setup time so the persisted state is
      // deterministic): the index is fitted on the bucket<70 corpus
      // only; increment vectors (bucket >= 70) were assigned + encoded
      // under the FROZEN centroids/codebooks (the SemanticStore
      // frozen-forest convention) and appended with
      // VectorIndexStore.appendWrite — O(increment), no refit, no
      // rewrite. The timed query batch then retrieves over the grown
      // store: appended vectors are servable the moment the append
      // lands (the cross-increment retrieval is pinned on a planted
      // near-copy in EmbedStoreSpec). Oracle = the hier-IVFADC replay
      // with geometry + fits from the bucket<70 corpus only.
      val emb = Tables.embeddings(s, dir)
      val sd = ensureVecIndexAbStore(s, dir)
      graft.simops.VectorIndexStore.topK(emb.filter(col("vec_id") < 10),
        openVecIndex(s, sd), "vec_id", "embedding",
        kNN = 5, nprobe = 4)
    },
      // the A/B twin: geometry + fits from the bucket<70 corpus (the
      // store's build input), assignment + encode over EVERYTHING (the
      // appended increment encodes under the FROZEN forest — per-row
      // pure functions of (vector, forest, codebooks), so the
      // full-table replay equals build-then-append)
      duckVecIndexProbeOracle(s"${duckMd5Pct("id")} < 70")),

    Row("similarity_ivfpq_probe_rerank", (s, dir) => {
      // TWO-STAGE serving retrieval (the production recall fix for
      // ADC-only ranking): the stored-index probe keeps its top
      // 4·k ADC candidates per query, fetches THOSE vectors from
      // embeddings by key (a bounded O(queries·R) literal-In fetch
      // that parquet row-group stats prune — never a corpus scan,
      // plan-fenced), and re-ranks by exact cosine (round-4 + id
      // tiebreak, the bruteForceTopK reproducibility convention).
      // Same store, same probe geometry as similarity_ivfpq_probe;
      // the oracle extends the hier-IVFADC replay with the
      // shortlist + exact-cosine rerank CTEs.
      val emb = Tables.embeddings(s, dir)
      val sd = ensureVecIndexStore(s, dir)
      graft.simops.VectorIndexStore.topKRerank(
        emb.filter(col("vec_id") < 10), openVecIndex(s, sd),
        "vec_id", "embedding", emb, kNN = 5, nprobe = 4)
    },
      // the two-stage form: the same ADC chain shortlists top 4·k, then
      // exact cosine re-ranks the shortlist (round-4 + id tiebreak)
      duckVecIndexRerankOracle("TRUE")),

    Row("embedding_neardup", (s, dir) =>
      // banded LSH candidates + exact cosine verify (no nested-loop pair
      // scan); params must stay in sync with the literal-plane oracle
      Similarity.nearDupPairsBanded(Tables.embeddings(s, dir), "vec_id",
        "embedding", EmbNearDupThreshold, numPlanes = 64,
        bands = EmbNearDupBands, dim = 64),
      s"""WITH $embPairCtes
         SELECT doc_a AS id_a, doc_b AS id_b, sim FROM epairs"""),

    Row("embedding_neardup_incremental", (s, dir) => {
      // the near-dup daily-ingest decision for the vector modality:
      // same md5-bucket split as dedup_minhash_incremental (>= 70 plays
      // the incoming batch); the increment's band keys broadcast
      // against the corpus's banded signature frame — the corpus never
      // shuffles, and full vectors move only for verified candidates
      val e = Tables.embeddings(s, dir)
      val bucket = graft.util.Sampling.md5Bucket(col("vec_id"))
      Similarity.nearDupIncremental(e.filter(bucket >= 70),
        e.filter(bucket < 70), "vec_id", "embedding", EmbNearDupThreshold,
        numPlanes = 64, bands = EmbNearDupBands, dim = 64)
    }, {
      // mirrors Similarity.nearDupIncremental over the md5-bucket split:
      // increment band keys probe the corpus's banded frame, exact
      // cosine verifies candidates, best match per incoming vector
      val cos = duckCosine("a.embedding", "b.embedding")
      s"""WITH $embBanded64Ctes,
         esb AS (SELECT vec_id,
           list_sum(list_transform(generate_series(1, 15),
             p -> ((strpos('0123456789abcdef',
                    substr(md5(vec_id::VARCHAR), p, 1)) - 1)::BIGINT
                   << (4 * (15 - p)))))::BIGINT % 100 AS sbucket
           FROM embeddings),
         incb AS (SELECT e.vec_id, band, key FROM ebanded e
                  JOIN esb USING (vec_id) WHERE esb.sbucket >= 70),
         corb AS (SELECT e.vec_id, band, key FROM ebanded e
                  JOIN esb USING (vec_id) WHERE esb.sbucket < 70),
         ikeys AS (SELECT DISTINCT band, key FROM incb),
         mat AS (SELECT c.vec_id, band, key FROM corb c
                 JOIN ikeys USING (band, key)),
         cand AS (SELECT DISTINCT i.vec_id AS inc_id, m.vec_id AS dup_id
                  FROM incb i JOIN mat m USING (band, key)),
         ver AS (SELECT cand.inc_id, cand.dup_id, round($cos, 4) AS sim
                 FROM cand JOIN embeddings a ON a.vec_id = cand.inc_id
                 JOIN embeddings b ON b.vec_id = cand.dup_id
                 WHERE round($cos, 4) >= $EmbNearDupThreshold),
         best AS (SELECT inc_id, dup_id, sim FROM (
             SELECT *, row_number() OVER (PARTITION BY inc_id
               ORDER BY sim DESC, dup_id) AS rn FROM ver) WHERE rn = 1)
         SELECT i.vec_id, best.dup_id AS dup_of, best.sim,
           (best.dup_id IS NULL) AS is_new
         FROM (SELECT vec_id FROM esb WHERE sbucket >= 70) i
         LEFT JOIN best ON best.inc_id = i.vec_id"""
    }),

    Row("embedding_clusters", (s, dir) =>
      // the dedup decision for embeddings: same connected-components
      // closure, over the cosine near-dup pair graph
      Dedup.clusters(Similarity.nearDupPairsBanded(Tables.embeddings(s, dir),
        "vec_id", "embedding", EmbNearDupThreshold, numPlanes = 64,
        bands = EmbNearDupBands, dim = 64),
        aCol = "id_a", bCol = "id_b"),
      s"""WITH RECURSIVE ${embPairCtes + closureCtes("epairs")}
         SELECT node AS doc_id, cluster_id,
           count(*) OVER (PARTITION BY cluster_id) AS cluster_size
         FROM lbl"""),

    Row("embedding_neardup_planted", (s, dir) =>
      // the NON-VACUOUS gate twin of embedding_neardup: on the
      // driver's hash-uniform embeddings zero pairs at 0.9 is the
      // correct answer, so this row unions the corpus with
      // deterministic near-copies (md5-chosen ~5%, id +10⁷, dim 1
      // halved — exact in float, bit-replayed by the oracle) and the
      // pair pipeline must find them
      Similarity.nearDupPairsBanded(plantedEmbeddings(s, dir), "vec_id",
        "embedding", EmbNearDupThreshold, numPlanes = 64,
        bands = EmbNearDupBands, dim = 64),
      s"""WITH $duckPlantedEmbCtes,
         ${embPairCtesFrom("pemb")}
         SELECT doc_a AS id_a, doc_b AS id_b, sim FROM epairs"""),

    Row("embedding_neardup_incremental_planted", (s, dir) => {
      // the ingest decision's planted gate twin: the increment IS the
      // deterministic near-copies, the corpus their originals — every
      // incoming vector must come back flagged (is_new = false,
      // dup_of = its original) through the broadcast-probe pipeline,
      // so the sf0.01 gate exercises the matched path end to end
      val e = Tables.embeddings(s, dir)
      Similarity.nearDupIncremental(plantedCopies(e), e, "vec_id",
        "embedding", EmbNearDupThreshold, numPlanes = 64,
        bands = EmbNearDupBands, dim = 64)
    }, {
      // the two sides split out of the shared planted corpus: the
      // increment is the id >= 10⁷ copies, the corpus the originals
      val cos = duckCosine("a.embedding", "b.embedding")
      s"""WITH $duckPlantedEmbCtes,
         ${embBanded64CtesFrom("pemb")},
         pincb AS (SELECT vec_id, band, key FROM ebanded
                   WHERE vec_id >= 10000000),
         pcorb AS (SELECT vec_id, band, key FROM ebanded
                   WHERE vec_id < 10000000),
         pikeys AS (SELECT DISTINCT band, key FROM pincb),
         pmat AS (SELECT c.vec_id, band, key FROM pcorb c
                  JOIN pikeys USING (band, key)),
         pcand AS (SELECT DISTINCT i.vec_id AS inc_id, m.vec_id AS dup_id
                   FROM pincb i JOIN pmat m USING (band, key)),
         pver AS (SELECT pcand.inc_id, pcand.dup_id, round($cos, 4) AS sim
                  FROM pcand JOIN pemb a ON a.vec_id = pcand.inc_id
                  JOIN pemb b ON b.vec_id = pcand.dup_id
                  WHERE round($cos, 4) >= $EmbNearDupThreshold),
         pbest AS (SELECT inc_id, dup_id, sim FROM (
             SELECT *, row_number() OVER (PARTITION BY inc_id
               ORDER BY sim DESC, dup_id) AS rn FROM pver) WHERE rn = 1)
         SELECT i.vec_id, pbest.dup_id AS dup_of, pbest.sim,
           (pbest.dup_id IS NULL) AS is_new
         FROM (SELECT vec_id FROM pemb WHERE vec_id >= 10000000) i
         LEFT JOIN pbest ON pbest.inc_id = i.vec_id"""
    }),

    Row("embedding_clusters_planted", (s, dir) =>
      // the closure over the planted pairs: each planted copy joins
      // its original's cluster, so the component pipeline is exercised
      // with rows > 0 at the sf0.01 gate
      Dedup.clusters(Similarity.nearDupPairsBanded(
          plantedEmbeddings(s, dir), "vec_id", "embedding",
          EmbNearDupThreshold, numPlanes = 64, bands = EmbNearDupBands,
          dim = 64),
        aCol = "id_a", bCol = "id_b"),
      s"""WITH RECURSIVE $duckPlantedEmbCtes,
         ${embPairCtesFrom("pemb") + closureCtes("epairs")}
         SELECT node AS doc_id, cluster_id,
           count(*) OVER (PARTITION BY cluster_id) AS cluster_size
         FROM lbl"""),

    Row("similarity_topk", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.bruteForceTopK(emb.filter(col("vec_id") < 10), emb,
        "vec_id", "embedding", 5)
    }, {
      val cos = duckCosine("q.qv", "c.embedding")
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 10),
         scored AS (SELECT q.query_id, c.vec_id AS neighbor_id, round($cos, 4) AS sim
                    FROM q, embeddings c WHERE c.vec_id <> q.query_id)
         SELECT query_id, neighbor_id, sim, rank FROM (
           SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
           FROM scored) WHERE rank <= 5"""
    }),

    Row("knn_classify", (s, dir) => {
      // label propagation: modal label of the 5 nearest neighbors,
      // labels riding the one broadcast-queries candidate pass
      val emb = Tables.embeddings(s, dir)
      Similarity.knnClassify(emb.filter(col("vec_id") < 10), emb,
        "vec_id", "embedding", "label", 5)
    }, {
      // same scored/rank CTEs as similarity_topk, then a vote count
      // and the (votes DESC, label ASC) modal pick
      val cos = duckCosine("q.qv", "c.embedding")
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 10),
         scored AS (SELECT q.query_id, c.vec_id AS neighbor_id, c.label AS lbl,
                     round($cos, 4) AS sim
                    FROM q, embeddings c WHERE c.vec_id <> q.query_id),
         top AS (SELECT query_id, lbl FROM (
                   SELECT query_id, lbl, row_number() OVER (PARTITION BY query_id
                     ORDER BY sim DESC, neighbor_id) AS rank
                   FROM scored) WHERE rank <= 5),
         votes AS (SELECT query_id, lbl, count(*) AS votes FROM top GROUP BY 1, 2)
         SELECT query_id, lbl AS pred_label, votes FROM (
           SELECT *, row_number() OVER (PARTITION BY query_id
             ORDER BY votes DESC, lbl) AS rn FROM votes) WHERE rn = 1"""
    }),

    Row("label_centroids", (s, dir) =>
      // per-class mean vector in long format: ONE combinable (label,
      // dim)-keyed average — the exchange carries partial sums, not
      // vectors
      graft.simops.Embed.labelCentroids(Tables.embeddings(s, dir),
        "embedding", "label"),
      """SELECT label, i - 1 AS dim,
           round(avg(CAST(embedding[i] AS DOUBLE)), 6) AS mean_c,
           count(*) AS n_vecs
         FROM (SELECT label, embedding,
               unnest(generate_series(1, len(embedding))) AS i FROM embeddings)
         GROUP BY 1, 2"""),

    Row("similarity_lsh", (s, dir) => {
      // params must stay in sync with the literal-plane oracle below
      val emb = Tables.embeddings(s, dir)
      Similarity.lshTopK(emb.filter(col("vec_id") < 10), emb,
        "vec_id", "embedding", 5, numPlanes = 16, bands = 4, dim = 64)
    }, {
      // mirrors lshTopK(numPlanes=16, bands=4, dim=64) with literal
      // planes — the approximate ANN result is deterministic given the
      // planes, so it hash-checks exactly like the brute-force query
      val planes = Similarity.hyperplanes(16, 64)
      val bands = 4; val bits = 4
      val keys = (0 until bands)
        .map(b => s"${duckBandKey("embedding", planes, b, bits)} AS key_$b")
        .mkString(", ")
      val banded = (0 until bands)
        .map(b => s"SELECT vec_id, $b AS band, key_$b AS key FROM sigs")
        .mkString(" UNION ALL ")
      val cos = duckCosine("qe.embedding", "ce.embedding")
      s"""WITH sigs AS (SELECT vec_id, $keys FROM embeddings),
         banded AS ($banded),
         qb AS (SELECT vec_id AS query_id, band, key FROM banded WHERE vec_id < 10),
         cand AS (SELECT DISTINCT c.vec_id AS neighbor_id, q.query_id
                  FROM banded c JOIN qb q USING (band, key)
                  WHERE c.vec_id <> q.query_id),
         scored AS (SELECT cand.query_id, cand.neighbor_id, round($cos, 4) AS sim
                    FROM cand JOIN embeddings qe ON qe.vec_id = cand.query_id
                    JOIN embeddings ce ON ce.vec_id = cand.neighbor_id)
         SELECT query_id, neighbor_id, sim, rank FROM (
           SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
           FROM scored) WHERE rank <= 5"""
    }),

    Row("embedding_quantize", (s, dir) =>
      // symmetric int8 storage quantization — 4× smaller embedding
      // column before any shuffle/index; pure projection
      graft.simops.Embed.quantizeInt8(Tables.embeddings(s, dir),
        "vec_id", "embedding"),
      """WITH v AS (SELECT vec_id,
           list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vv
           FROM embeddings),
         s AS (SELECT vec_id, vv,
           greatest(list_max(list_transform(vv, x -> abs(x))), 1e-30) / 127.0 AS scale
           FROM v)
         SELECT vec_id, scale,
           array_to_string(list_transform(vv,
             x -> CAST(CAST(floor(x / scale + 0.5) AS BIGINT) AS VARCHAR)), ',') AS q_csv,
           CASE WHEN len(vv) = 0 THEN 0.0 ELSE
             round(sqrt(list_sum(list_transform(vv,
               x -> (x - floor(x / scale + 0.5) * scale)
                    * (x - floor(x / scale + 0.5) * scale))) / len(vv)), 6)
           END AS rmse
         FROM s"""),

    Row("vecindex_liststats", (s, dir) => {
      // the capstats row for the SERVING index's list geometry (the
      // dedup_semantic_liststats convention): a hot IVF list is a slow
      // probe for every query routed to it, so the stored
      // assignment's list-size distribution ships as an oracle-checked
      // integer-only row over the codes store — one footer-count-free
      // scan of (vec_id, list_id), zero decodes, zero fits.
      val sd = ensureVecIndexStore(s, dir)
      val ls = openVecIndex(s, sd).coded
        .groupBy(col("list_id")).agg(count(lit(1)).as("sz"))
      val tot = ls.agg(sum(col("sz")).as("nv"), count(lit(1)).as("nl"))
      ls.crossJoin(broadcast(tot)).groupBy(col("nv"), col("nl"))
        .agg(max(col("sz")).as("max_list"),
          sum(when(col("sz") * col("nl") > lit(2L) * col("nv"), 1L)
            .otherwise(0L)).as("over_2x_avg"))
        .select(col("nv").as("n_vecs"), col("nl").as("n_lists"),
          col("max_list"), col("over_2x_avg"))
    },
      // the serving index's list-size distribution replayed from the
      // full-corpus HIER fit at count-derived geometry (asgh = every
      // vector's global list under the autoNlist forest)
      s"""WITH ${duckVecIndexCtes("TRUE")},
         ls AS (SELECT list_id, count(*) AS sz FROM asgh GROUP BY 1),
         tot AS (SELECT CAST(sum(sz) AS BIGINT) AS nv,
                 count(*)::BIGINT AS nl FROM ls)
         SELECT tot.nv AS n_vecs, tot.nl AS n_lists,
           CAST(max(sz) AS BIGINT) AS max_list,
           CAST(sum(CASE WHEN sz * tot.nl > 2 * tot.nv
                    THEN 1 ELSE 0 END) AS BIGINT) AS over_2x_avg
         FROM ls, tot GROUP BY tot.nv, tot.nl""")
  )
}
