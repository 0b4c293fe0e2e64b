package graft
package registry

import graft.dedup.Dedup
import graft.multimodal.Multimodal
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import Shared._
import Stores._

/** Multimodal plumbing and media near-dup (north star): the decode and
  * feature rows, and per modality (image, video, audio) the seven
  * near-dup rows generated from one [[Modality]] table.
  */
private[graft] object MediaRows {

  /** One media modality: its pair rows' name tag
    * (`pair_neardup{pairTag}`), its persisted fingerprint store (family
    * dir + params), its fingerprint column, the decode + fingerprint
    * kernel `features`, the synthetic fixture `gen(ids, base, twins)`
    * (base media of `ids` and/or their perturbed twins, id + 10⁷, of
    * the md5-chosen ~5%), and the DuckDB twin of fixture + kernel:
    * `duckFixture` CTEs ending in `duckSrc(media_id, hcol)`, with
    * `duckMb` its md5-bucket CTE. [[mediaRows]] registers each
    * modality's seven rows and their oracles from it.
    */
  private[registry] final case class Modality(
      name: String, pairTag: String, family: String, params: String,
      hcol: String, features: DataFrame => DataFrame,
      gen: (DataFrame, Boolean, Boolean) => DataFrame,
      duckFixture: String, duckSrc: String, duckMb: String) {

    /** The 8-byte fingerprint frame: decode + fingerprint once in the
      * partition-scoped codec contract, keep decodable rows — shared by
      * the in-DAG rows, the store build and the probe increments, so
      * the kernel definition can never drift.
      */
    def sig(media: DataFrame): DataFrame =
      features(media).filter(col("decodable"))
        .select(col("media_id"), col(hcol))

    /** Corpus side: base media of the bucket<70 ids. */
    def corpusFps(ids: DataFrame): DataFrame =
      sig(gen(ids.filter(docBucket < 70), true, false))

    /** Increment side: fresh base media (bucket ≥ `from`) plus ALL
      * perturbed twins. Ids split BEFORE the generator, so the
      * encode + decode kernel runs once per side.
      */
    def incFps(ids: DataFrame, from: Int = 70): DataFrame =
      sig(gen(ids.filter(docBucket >= from), true, false)
        .unionByName(gen(ids, false, true)))
  }

  private[registry] def mediaIds(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir).select(col("doc_id"))

  /** image: PNG decode → dHash (9×8 luma gradient); video: RIFF/AVI
    * demux → dHash of sampled frames 0,2,4,6 → majority vote; audio:
    * WAV SPI decode → ch-0 window sums → multiplicative mix bits.
    */
  private[registry] lazy val Modalities: Seq[Modality] = Seq(
    Modality("image", "", "media_image", "v1 corpus=bkt<70 fp=dhash",
      "dhash", Multimodal.dhashFeatures,
      Multimodal.syntheticImagesNearDup(_, "doc_id", _, _),
      duckDhashCtes, "dh", "mb"),
    Modality("video", "_video", "media_video",
      "v1 corpus=bkt<70 step=2 fp=clip_dhash", "clip_dhash",
      Multimodal.videoDhashFeatures(_, step = 2),
      Multimodal.syntheticAvisNearDup(_, "doc_id", _, _),
      duckVideoDhashCtes, "vdh", "vmb"),
    Modality("audio", "_audio", "media_audio", "v1 corpus=bkt<70 fp=afp",
      "afp", Multimodal.audioFingerprintFeatures,
      Multimodal.syntheticWavsNearDup(_, "doc_id", _, _),
      duckAudioFpCtes, "afh", "amb"))

  /** The seven rows of every media modality, under the names the
    * registry has always carried (`image_neardup`, …,
    * `pair_neardup_video_probe_updated`). Hamming rows band the 64-bit
    * fingerprint into four 16-bit keys, cap buckets at 64 and verify
    * `bit_count(xor) ≤ 3` on the probe row; only fingerprints cross the
    * shuffle, payloads decode once and never move.
    *  - `X_neardup`: batch pairs; each planted twin lands at Hamming
    *    0–1 and MUST pair.
    *  - `X_neardup_incremental`: the daily-ingest decision — each twin
    *    flagged against its original; only the increment's band keys
    *    broadcast, the corpus fingerprint stream never shuffles.
    *  - `X_neardup_probe`: the same decision against the persisted
    *    MediaStore (corpus decoded once, on first invocation — the
    *    bench warmup); the timed row pays O(increment) decode + band
    *    probes and never reads corpus payloads (plan-fenced in
    *    PlanAuditSpec). The parquet round-trip changes the physics, not
    *    the answer — same oracle as the incremental row.
    *  - `X_neardup_probe_updated`: the A/B ingest loop
    *    ([[mediaUpdatedStored]]).
    *  - `pair_neardup{tag}`: the cross-modal pair rule
    *    (Dedup.pairNearDupIncremental) — an incoming (caption, media)
    *    pair drops iff BOTH its caption is a MinHash near-dup AND its
    *    media a Hamming near-dup of the SAME prior pair; either side
    *    alone is fresh training signal. Pair id = doc_id; twin pairs
    *    re-post the caption and perturb the media.
    *  - `pair_neardup{tag}_probe`: both sides against their persisted
    *    stores ([[pairProbeStored]]), decision-identical — same oracle.
    *  - `pair_neardup{tag}_probe_updated`: the pair A/B loop
    *    ([[pairUpdatedStored]]).
    */
  private lazy val mediaRows: Seq[Row] = Modalities.flatMap { m =>
    import m.{duckFixture => fx, duckMb => mb, duckSrc => src, hcol}
    lazy val incOracle = mediaIncrementalOracleFrom(fx, src, hcol, mb)
    lazy val pairOracle = pairNeardupOracleFrom(fx, src, hcol, mb)
    val pair = s"pair_neardup${m.pairTag}"
    Seq(
      Row(s"${m.name}_neardup", (s, dir) =>
        Dedup.hammingPairs(m.sig(m.gen(mediaIds(s, dir), true, true)),
          "media_id", hcol, maxHamming = 3, maxBucket = 64),
        hammingPairsOracleFrom(fx, src, hcol)),
      Row(s"${m.name}_neardup_incremental", (s, dir) => {
        val ids = mediaIds(s, dir)
        Dedup.hammingIncremental(m.incFps(ids), m.corpusFps(ids),
          "media_id", hcol, maxHamming = 3, maxBucket = 64)
      }, incOracle),
      Row(s"${m.name}_neardup_probe", (s, dir) => {
        val sd = ensureMediaStore(s, dir, m)
        Dedup.hammingIncremental(m.incFps(mediaIds(s, dir)),
          graft.dedup.MediaStore.read(s, sd),
          "media_id", hcol, maxHamming = 3, maxBucket = 64)
      }, incOracle),
      Row(s"${m.name}_neardup_probe_updated",
        (s, dir) => mediaUpdatedStored(s, dir, m),
        mediaUpdatedOracleFrom(fx, src, hcol, mb)),
      Row(pair, (s, dir) => {
        val d = Tables.documents(s, dir)
        val ids = d.select(col("doc_id"))
        Dedup.pairNearDupIncremental(pairIncTexts(d, 70),
          d.filter(docBucket < 70).select(col("doc_id"), col("text")),
          m.incFps(ids), m.corpusFps(ids),
          "doc_id", "text", "media_id", hcol,
          shingleSize = 3, bands = 8, rowsPerBand = 2, threshold = 0.5,
          maxHamming = 3, maxBucket = 64)
      }, pairOracle),
      Row(s"${pair}_probe", (s, dir) => pairProbeStored(s, dir, m),
        pairOracle),
      Row(s"${pair}_probe_updated", (s, dir) => pairUpdatedStored(s, dir, m),
        pairNeardupUpdatedOracleFrom(fx, src, hcol, mb)))
  }

  /** The pair rows' caption increment: the docs of bucket ≥ `from`
    * plus the bucket<5 twin pairs' re-posted captions (id + 10⁷,
    * trailing " repost").
    */
  private def pairIncTexts(d: DataFrame, from: Int): DataFrame = {
    val twinTexts = d.filter(docBucket < 5)
      .select((col("doc_id") + lit(10000000L)).as("doc_id"),
        concat(col("text"), lit(" repost")).as("text"))
    d.filter(docBucket >= from)
      .select(col("doc_id"), col("text")).unionByName(twinTexts)
  }

  /** The pair rule's PROBE core (the caption side is always the
    * minhash SignatureStore): the caption increment probes the
    * persisted signature store, the modality's increment fingerprints
    * probe its persisted media store, and the pair rule composes the
    * two verified-candidate sets.
    */
  private def pairProbeStored(s: SparkSession, dir: String,
                              m: Modality): DataFrame = {
    val incFps = m.incFps(mediaIds(s, dir))
    val mediaSd = ensureMediaStore(s, dir, m)
    Dedup.pairNearDupStored(pairIncTexts(Tables.documents(s, dir), 70),
      graft.dedup.SignatureStore.read(s, ensureMinhashStore(s, dir)),
      incFps, graft.dedup.MediaStore.read(s, mediaSd),
      "doc_id", "text", "media_id", m.hcol,
      shingleSize = 3, bands = 8, rowsPerBand = 2, threshold = 0.5,
      maxHamming = 3, maxBucket = 64)
  }

  /** The pair rule's A/B LOOP core — the layered two-store design.
    * Layer 0 = both persisted stores minus the twin-source pairs
    * (bucket < 5); increment A = those base pairs, probed and ACCEPTED
    * pairs appended to BOTH sides as checkpointed fingerprint frames
    * (never text — the ingest_clean fingerprint-checkpoint convention);
    * increment B = fresh pairs (bucket ≥ 85) + ALL twin pairs. Every
    * twin's base lives only in the accepted-A layer, so each caught
    * twin certifies the cross-increment append on both modalities; a B
    * pair duplicating an accepted A pair on caption or media alone
    * still survives.
    */
  private def pairUpdatedStored(s: SparkSession, dir: String,
                                m: Modality): DataFrame = {
    val hcol = m.hcol
    val mediaSd = ensureMediaStore(s, dir, m)
    val d = Tables.documents(s, dir)
    val ids = d.select(col("doc_id"))
    val tStore = graft.dedup.SignatureStore.read(s,
      ensureMinhashStore(s, dir))
    val tStore0 = graft.dedup.SignatureStore.Store(
      tStore.banded.filter(docBucket >= 5),
      tStore.shingleHashes.filter(docBucket >= 5))
    val mStore0 = graft.dedup.MediaStore.read(s, mediaSd)
      .filter(graft.util.Sampling.md5Bucket(col("media_id")) >= 5)
    val incTextsA = d.filter(docBucket < 5)
      .select(col("doc_id"), col("text"))
    // NOT checkpointed: its only consumer is the hamming leg, whose
    // own banded checkpoint pays the decode once (r16 shipped a
    // redundant second checkpoint job here)
    val incFpsA = m.sig(m.gen(ids.filter(docBucket < 5), true, false))
    val incTextsB = pairIncTexts(d, 85)
    val incFpsB = m.incFps(ids, 85)
    // ALL FOUR increment-side checkpoint builds fired concurrently
    // (guide §2.6): the two B frames are store-independent — B's
    // media decode and caption signing (the row's only real kernel
    // work) overlap the entire A probe instead of queueing behind it;
    // these are small fixed-latency jobs nowhere near saturating the
    // cluster, so overlap is pure wall-clock.
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    val sigAF = Future(Dedup.minhashIncSig(incTextsA, "doc_id", "text",
      shingleSize = 3, bands = 8, rowsPerBand = 2))
    val bndAF = Future(Dedup.hammingBandedCkpt(incFpsA, "media_id", hcol))
    val sigBF = Future(Dedup.minhashIncSig(incTextsB, "doc_id", "text",
      shingleSize = 3, bands = 8, rowsPerBand = 2))
    val bndBF = Future(Dedup.hammingBandedCkpt(incFpsB, "media_id", hcol))
    val sigA = Await.result(sigAF, Duration.Inf)
    val bndA = Await.result(bndAF, Duration.Inf)
    val (incIdsA, tverA) = Dedup.minhashStoredProbeFromSig(sigA, tStore0,
      bands = 8, rowsPerBand = 2, threshold = 0.5, maxBucket = 64)
    val (_, mverA) = Dedup.hammingProbeFromBanded(bndA, mStore0,
      "media_id", hcol, maxHamming = 3, maxBucket = 64)
    // ids only — never checkpoint raw text
    val accIds = Dedup.pairCompose(incIdsA, tverA, mverA)
      .filter(col("is_new")).select(col("doc_id")).localCheckpoint()
    // the accepted layer's store frames are DERIVED from the A probe's
    // own checkpoints (text: fused (sh, sig); media: banded
    // fingerprints) — zero re-signing, zero re-decoding, and zero
    // additional checkpoint jobs where r16 spent three (accStore
    // banded + hashes + incFpsA). The derivations are narrow
    // recomputes over ExistingRDD leaves, so the B probe's plan stays
    // documents-free (PlanAuditSpec fence unchanged).
    val accLayer = Dedup.acceptedLayerFromSig(sigA, accIds,
      bands = 8, rowsPerBand = 2)
    val tStore1 = graft.dedup.SignatureStore.Store(
      tStore0.banded.unionByName(accLayer.banded),
      tStore0.shingleHashes.unionByName(accLayer.shingleHashes))
    val mStore1 = mStore0.unionByName(Dedup.acceptedMediaFromBanded(
      bndA, accIds.withColumnRenamed("doc_id", "media_id"),
      "media_id", hcol))
    val sigB = Await.result(sigBF, Duration.Inf)
    val bndB = Await.result(bndBF, Duration.Inf)
    val (incIdsB, tverB) = Dedup.minhashStoredProbeFromSig(sigB, tStore1,
      bands = 8, rowsPerBand = 2, threshold = 0.5, maxBucket = 64)
    val (_, mverB) = Dedup.hammingProbeFromBanded(bndB, mStore1,
      "media_id", hcol, maxHamming = 3, maxBucket = 64)
    Dedup.pairCompose(incIdsB, tverB, mverB)
  }

  /** The single-modality media A/B LOOP core: probe the twin-source
    * bases (bucket < 5) against the persisted store minus those ids
    * (an 8-byte-row filter on the store scan, no re-decode),
    * lazy-append the is_new survivors, then probe fresh bases
    * (bucket ≥ 85) + ALL twins. Every twin's original lives only in
    * the accepted-A layer, so a twin is caught iff the cross-increment
    * append worked. The persisted base never mutates mid-query
    * (MediaStore.appendWrite is the between-runs compaction). The A
    * and B banded fingerprint checkpoints are fired CONCURRENTLY (B's
    * decode is store-independent — guide §2.6), the banded checkpoint
    * pays the decode once, and the accepted-A media rows derive from
    * band 0 of the A checkpoint (Dedup.acceptedMediaFromBanded).
    */
  private def mediaUpdatedStored(s: SparkSession, dir: String,
                                 m: Modality): DataFrame = {
    val hcol = m.hcol
    val mediaSd = ensureMediaStore(s, dir, m)
    val ids = mediaIds(s, dir)
    val store = graft.dedup.MediaStore.read(s, mediaSd)
    val corpus0 = store.filter(
      graft.util.Sampling.md5Bucket(col("media_id")) >= 5)
    val fpsA = m.sig(m.gen(ids.filter(docBucket < 5), true, false))
    val incB = m.incFps(ids, 85)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    val bndAF = Future(Dedup.hammingBandedCkpt(fpsA, "media_id", hcol))
    val bndBF = Future(Dedup.hammingBandedCkpt(incB, "media_id", hcol))
    val bndA = Await.result(bndAF, Duration.Inf)
    val (incIdsA, verA) = Dedup.hammingProbeFromBanded(bndA, corpus0,
      "media_id", hcol, maxHamming = 3, maxBucket = 64)
    val probeA = Dedup.hammingBestDecision(incIdsA, verA, "media_id")
    // bounded accepted-ids checkpoint (the pairUpdatedStored
    // convention) — keeps the A-probe DAG out of the B probe's plan
    val accIds = probeA.filter(col("is_new")).select(col("media_id"))
      .localCheckpoint()
    val acceptedA = Dedup.acceptedMediaFromBanded(bndA, accIds,
      "media_id", hcol)
    val (incIdsB, verB) = Dedup.hammingProbeFromBanded(
      Await.result(bndBF, Duration.Inf), corpus0.unionByName(acceptedA),
      "media_id", hcol, maxHamming = 3, maxBucket = 64)
    Dedup.hammingBestDecision(incIdsB, verB, "media_id")
  }

  /** The video near-dup fixture's clip fingerprints in closed form —
    * the frame-aware twin of [[duckDhashCtes]]: quadratic-residue
    * pixels per (clip, frame, x, y), the perturbation applied in
    * EVERY frame, sampled frames 0,2,4,6 (step=2 over 8 — the frame
    * sampling the Spark side really performs on the demuxed DIB
    * chunks), per-frame gradient booleans, then the MAJORITY vote per
    * bit position assembled into the 64-bit clip fp.
    */
  private lazy val duckVideoDhashCtes: String = {
    def qr1(cExpr: String) =
      s"(((($cExpr) % 65521) * ((($cExpr) % 65521))) % 65521)"
    def qr2(cExpr: String) =
      s"(((($cExpr) % 65479) * ((($cExpr) % 65479))) % 65479)"
    def qr(salt: Int) = {
      val c1 = s"src * 73856093 + f * 7368787 + x * 19349663 + " +
        s"y * 83492791 + ${salt * 1299721}"
      val c2 = s"src * 2654435761 + f * 104729 + x * 40503 + " +
        s"y * 30011 + ${salt * 914689}"
      s"((${qr1(c1)} + ${qr2(c2)}) % 256)"
    }
    val cR = qr(0); val cG = qr(1); val cB = qr(2)
    s"""vmb AS (SELECT doc_id,
           list_sum(list_transform(generate_series(1, 15),
             p -> ((strpos('0123456789abcdef',
                    substr(md5(doc_id::VARCHAR), p, 1)) - 1)::BIGINT
                   << (4 * (15 - p)))))::BIGINT % 100 AS bkt
           FROM documents),
         clips AS (SELECT doc_id AS media_id, doc_id AS src, false AS p
                  FROM documents
                  UNION ALL
                  SELECT doc_id + 10000000, doc_id, true
                  FROM vmb JOIN documents USING (doc_id) WHERE bkt < 5),
         vpx AS (SELECT media_id, src, p, f.g AS f, x.g AS x, y.g AS y
                FROM clips, (SELECT unnest([0, 2, 4, 6]) AS g) f,
                     generate_series(0, 8) x(g),
                     generate_series(0, 7) y(g)),
         vch AS (SELECT media_id, f, x, y,
             CASE WHEN p AND x = 0 AND y = 0
                  THEN ($cR + 64) % 256 ELSE $cR END AS r,
             $cG AS g2, $cB AS b2
           FROM vpx),
         vlm AS (SELECT media_id, f, x, y,
             (299 * r + 587 * g2 + 114 * b2) // 1000 AS l FROM vch),
         vgr AS (SELECT a.media_id, a.x, a.y,
             sum(CASE WHEN b.l > a.l THEN 1 ELSE 0 END) AS cnt
           FROM vlm a JOIN vlm b ON b.media_id = a.media_id
             AND b.f = a.f AND b.y = a.y AND b.x = a.x + 1
           WHERE a.x < 8 GROUP BY 1, 2, 3),
         vdh AS (SELECT media_id,
             sum(CASE WHEN 2 * cnt > 4 THEN
                 CASE WHEN y = 7 AND x = 7
                      THEN (-9223372036854775807 - 1)
                      ELSE (1::BIGINT << (y * 8 + x)) END
                 ELSE 0 END)::BIGINT AS clip_dhash
           FROM vgr GROUP BY 1)"""
  }

  /** The image near-dup fixture's decoded dHashes in closed form —
    * `mb` (md5 buckets), `imgs` (base + perturbed twins), pixels →
    * luma → `dh(media_id, dhash)`. Shared by the `image_neardup` and
    * `image_neardup_incremental` oracles so the fixture formula can
    * never drift between them. Two-prime quadratic residue (see
    * [[graft.multimodal.Multimodal]] qrPx: one prime alone is
    * periodic in id with period 65521 — 1.6M twin pairs at the 100×
    * anchor).
    */
  private lazy val duckDhashCtes: String = {
    def qr1(cExpr: String) =
      s"(((($cExpr) % 65521) * ((($cExpr) % 65521))) % 65521)"
    def qr2(cExpr: String) =
      s"(((($cExpr) % 65479) * ((($cExpr) % 65479))) % 65479)"
    def qr(salt: Int) = {
      val c1 = s"src * 73856093 + x * 19349663 + y * 83492791 + ${salt * 1299721}"
      val c2 = s"src * 2654435761 + x * 40503 + y * 30011 + ${salt * 914689}"
      s"((${qr1(c1)} + ${qr2(c2)}) % 256)"
    }
    val cR = qr(0); val cG = qr(1); val cB = qr(2)
    s"""mb AS (SELECT doc_id,
           list_sum(list_transform(generate_series(1, 15),
             p -> ((strpos('0123456789abcdef',
                    substr(md5(doc_id::VARCHAR), p, 1)) - 1)::BIGINT
                   << (4 * (15 - p)))))::BIGINT % 100 AS bkt
           FROM documents),
         imgs AS (SELECT doc_id AS media_id, doc_id AS src, false AS p
                  FROM documents
                  UNION ALL
                  SELECT doc_id + 10000000, doc_id, true
                  FROM mb JOIN documents USING (doc_id) WHERE bkt < 5),
         px AS (SELECT media_id, src, p, x.g AS x, y.g AS y
                FROM imgs, generate_series(0, 8) x(g),
                     generate_series(0, 7) y(g)),
         ch AS (SELECT media_id, x, y,
             CASE WHEN p AND x = 0 AND y = 0
                  THEN ($cR + 64) % 256 ELSE $cR END AS r,
             $cG AS g2, $cB AS b2
           FROM px),
         lm AS (SELECT media_id, x, y,
             (299 * r + 587 * g2 + 114 * b2) // 1000 AS l FROM ch),
         dh AS (SELECT a.media_id,
             sum(CASE WHEN b.l > a.l THEN
                 CASE WHEN a.y = 7 AND a.x = 7
                      THEN (-9223372036854775807 - 1)
                      ELSE (1::BIGINT << (a.y * 8 + a.x)) END
                 ELSE 0 END)::BIGINT AS dhash
           FROM lm a JOIN lm b ON b.media_id = a.media_id
             AND b.y = a.y AND b.x = a.x + 1
           WHERE a.x < 8 GROUP BY 1)"""
  }

  /** [[graft.dedup.Dedup.hammingPairs]] replayed over a media
    * fixture's closed-form fingerprints (`src(media_id, hcol)`, base
    * media + perturbed twins): four 16-bit band keys, buckets capped at
    * 64, pairs verified at Hamming ≤ 3. The Spark side REALLY encodes
    * and REALLY decodes each payload before fingerprinting, so a
    * hash-green row pins the codec round trip + fingerprint + banding
    * all at once.
    */
  private def hammingPairsOracleFrom(fixture: String, src: String,
                                     hcol: String): String =
    s"""WITH $fixture,
         hband AS (SELECT media_id, $hcol, b,
             ($hcol >> (b * 16)) & 65535 AS key
           FROM $src, (SELECT unnest(generate_series(0, 3)) AS b)),
         hcapped AS (SELECT b, key, media_id, $hcol FROM hband
           QUALIFY count(*) OVER (PARTITION BY b, key) <= 64),
         hp AS (SELECT DISTINCT x.media_id AS doc_a, y.media_id AS doc_b,
               bit_count(xor(x.$hcol, y.$hcol)) AS hamming
               FROM hcapped x JOIN hcapped y USING (b, key)
               WHERE x.media_id < y.media_id)
         SELECT doc_a, doc_b, hamming FROM hp WHERE hamming <= 3"""

  /** The verified-candidate half of the media incremental replay
    * (`xband` … `xver(inc_id, dup_id, hamming)`) — shared by the
    * per-modality incremental oracles and the `pair_neardup`
    * composition (which joins `xver` against the text side's `ver1`).
    * No leading WITH.
    */
  private def mediaVerifiedCtes(src: String, hcol: String,
                                mb: String): String =
    s"""xband AS (SELECT media_id, $hcol, b,
             ($hcol >> (b * 16)) & 65535 AS key
           FROM $src, (SELECT unnest(generate_series(0, 3)) AS b)),
         xinc AS (SELECT i.media_id AS inc_id, i.$hcol AS ih, b, key
                  FROM xband i LEFT JOIN $mb ON $mb.doc_id = i.media_id
                  WHERE i.media_id >= 10000000 OR $mb.bkt >= 70),
         xcor AS (SELECT i.media_id AS dup_id, i.$hcol AS ch2, b, key
                  FROM xband i JOIN $mb ON $mb.doc_id = i.media_id
                  WHERE i.media_id < 10000000 AND $mb.bkt < 70),
         xkeys AS (SELECT DISTINCT b, key FROM xinc),
         xmat AS (SELECT c.dup_id, c.ch2, c.b, c.key FROM xcor c
                  JOIN xkeys USING (b, key)),
         xcap AS (SELECT dup_id, ch2, b, key FROM xmat
                  QUALIFY count(*) OVER (PARTITION BY b, key) <= 64),
         xver AS (SELECT DISTINCT i.inc_id, m.dup_id,
               bit_count(xor(i.ih, m.ch2)) AS hamming
               FROM xinc i JOIN xcap m USING (b, key)
               WHERE i.inc_id <> m.dup_id)"""

  /** [[graft.dedup.Dedup.hammingIncremental]] replayed over a media
    * fixture's closed-form fingerprints: corpus = base media of
    * bucket<70 ids; increment = fresh base media (bucket>=70) + ALL
    * perturbed twins; banded keys, matched-slice bucket cap, exact
    * `bit_count(xor)` verify, best = lowest Hamming then lowest corpus
    * id. One builder for every modality (`src`/`hcol` name the
    * fixture's fingerprint CTE and column, `mb` its md5-bucket CTE) —
    * and for both the in-DAG incremental rows and their `_probe` store
    * twins, which are decision-identical by construction.
    */
  private def mediaIncrementalOracleFrom(fixture: String, src: String,
                                         hcol: String, mb: String): String =
    s"""WITH $fixture,
         ${mediaVerifiedCtes(src, hcol, mb)},
         xbest AS (SELECT inc_id, dup_id, hamming FROM (
             SELECT *, row_number() OVER (PARTITION BY inc_id
               ORDER BY hamming ASC, dup_id) AS rn
             FROM xver WHERE hamming <= 3) WHERE rn = 1)
         SELECT i.inc_id AS media_id, xbest.dup_id AS dup_of,
           xbest.hamming, (xbest.dup_id IS NULL) AS is_new
         FROM (SELECT DISTINCT inc_id FROM xinc) i
         LEFT JOIN xbest USING (inc_id)"""

  /** `pair_neardup` replayed in SQL: the paired-text relation (`ptx` —
    * every document plus the bucket<5 twin pairs' re-posted captions),
    * the shared MinHash probe chain over it (`ver1` — verified text
    * candidates), the image fixture's verified Hamming candidates
    * (`xver`), and the pair rule: drop iff both sides flag the SAME
    * prior pair; best = highest jaccard, lowest Hamming, lowest prior
    * id.
    */
  private def pairNeardupOracleFrom(fixture: String, src: String,
                                    hcol: String, mb: String): String =
    s"""WITH ptx AS (SELECT doc_id, text FROM documents
           UNION ALL
           SELECT doc_id + 10000000, text || ' repost' FROM documents
           WHERE ${duckMd5Pct("doc_id")} < 5),
         ${minhashBandedCtesFrom("ptx")},
         sb AS (SELECT doc_id, ${duckMd5Pct("doc_id")} AS sbucket FROM ptx),
         isz AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
         ${minhashProbeCtes("1",
             "(sb.sbucket >= 70 AND b.doc_id < 10000000) OR b.doc_id >= 10000000",
             "sb.sbucket < 70 AND b.doc_id < 10000000")},
         $fixture,
         ${mediaVerifiedCtes(src, hcol, mb)},
         pboth AS (SELECT v.inc_id, v.dup_id, v.jaccard, x.hamming
                   FROM ver1 v JOIN xver x
                   ON x.inc_id = v.inc_id AND x.dup_id = v.dup_id
                   WHERE x.hamming <= 3),
         pbest AS (SELECT inc_id, dup_id, jaccard, hamming FROM (
             SELECT *, row_number() OVER (PARTITION BY inc_id
               ORDER BY jaccard DESC, hamming ASC, dup_id) AS rn
             FROM pboth) WHERE rn = 1)
         SELECT i.doc_id, pbest.dup_id AS dup_of, pbest.jaccard,
           pbest.hamming, (pbest.dup_id IS NULL) AS is_new
         FROM (SELECT p.doc_id FROM ptx p JOIN sb USING (doc_id)
               WHERE sb.sbucket >= 70 OR p.doc_id >= 10000000) i
         LEFT JOIN pbest ON pbest.inc_id = i.doc_id"""

  /** The PAIR A/B ingest loop replayed in SQL
    * (`pair_neardup_probe_updated` — the dedup_bloom_probe_updated
    * two-layer shape on the cross-modal composition): layer 0 = both
    * corpora minus the twin-source pairs (buckets [5,70)); increment A
    * = the twin-source base pairs (bucket < 5: original caption +
    * base image), decided under the PAIR rule (drop iff BOTH sides
    * flag the same prior pair) against layer 0; ACCEPTED A pairs join
    * both layer-1 corpora; increment B = fresh pairs (bucket >= 85) +
    * ALL twin pairs (re-posted caption + perturbed image), decided
    * against layer 1. Text side layers through [[minhashProbeCtes]]'s
    * predicates; media side through the banded-union CTEs below.
    */
  private def pairNeardupUpdatedOracleFrom(fixture: String, src: String,
                                           hcol: String,
                                           mb: String): String =
    s"""WITH ptx AS (SELECT doc_id, text FROM documents
           UNION ALL
           SELECT doc_id + 10000000, text || ' repost' FROM documents
           WHERE ${duckMd5Pct("doc_id")} < 5),
         ${minhashBandedCtesFrom("ptx")},
         sb AS (SELECT doc_id, ${duckMd5Pct("doc_id")} AS sbucket FROM ptx),
         isz AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
         ${minhashProbeCtes("1",
             "sb.sbucket < 5 AND b.doc_id < 10000000",
             "sb.sbucket >= 5 AND sb.sbucket < 70 AND b.doc_id < 10000000")},
         $fixture,
         pband AS (SELECT media_id, $hcol, b,
             ($hcol >> (b * 16)) & 65535 AS key
           FROM $src, (SELECT unnest(generate_series(0, 3)) AS b)),
         pcor0 AS (SELECT i.media_id AS dup_id, i.$hcol AS ch2, b, key
                  FROM pband i JOIN $mb ON $mb.doc_id = i.media_id
                  WHERE i.media_id < 10000000
                    AND $mb.bkt >= 5 AND $mb.bkt < 70),
         pinca AS (SELECT i.media_id AS inc_id, i.$hcol AS ih, b, key
                  FROM pband i JOIN $mb ON $mb.doc_id = i.media_id
                  WHERE i.media_id < 10000000 AND $mb.bkt < 5),
         pakeys AS (SELECT DISTINCT b, key FROM pinca),
         pamat AS (SELECT c.dup_id, c.ch2, c.b, c.key FROM pcor0 c
                  JOIN pakeys USING (b, key)),
         pacap AS (SELECT dup_id, ch2, b, key FROM pamat
                  QUALIFY count(*) OVER (PARTITION BY b, key) <= 64),
         xvera AS (SELECT DISTINCT i.inc_id, m.dup_id,
               bit_count(xor(i.ih, m.ch2)) AS hamming
               FROM pinca i JOIN pacap m USING (b, key)
               WHERE i.inc_id <> m.dup_id),
         pbotha AS (SELECT DISTINCT v.inc_id FROM ver1 v JOIN xvera x
                   ON x.inc_id = v.inc_id AND x.dup_id = v.dup_id
                   WHERE x.hamming <= 3),
         accp AS (SELECT doc_id FROM sb
                  WHERE sbucket < 5 AND doc_id < 10000000
                    AND doc_id NOT IN (SELECT inc_id FROM pbotha)),
         ${minhashProbeCtes("2",
             "(sb.sbucket >= 85 AND b.doc_id < 10000000) OR b.doc_id >= 10000000",
             "(sb.sbucket >= 5 AND sb.sbucket < 70 AND b.doc_id < 10000000)" +
               " OR b.doc_id IN (SELECT doc_id FROM accp)")},
         pincb AS (SELECT i.media_id AS inc_id, i.$hcol AS ih, b, key
                  FROM pband i LEFT JOIN $mb ON $mb.doc_id = i.media_id
                  WHERE i.media_id >= 10000000 OR $mb.bkt >= 85),
         pacc AS (SELECT inc_id AS dup_id, ih AS ch2, b, key FROM pinca
                  WHERE inc_id IN (SELECT doc_id FROM accp)),
         pcor1 AS (SELECT * FROM pcor0 UNION ALL SELECT * FROM pacc),
         pbkeys AS (SELECT DISTINCT b, key FROM pincb),
         pbmat AS (SELECT c.dup_id, c.ch2, c.b, c.key FROM pcor1 c
                  JOIN pbkeys USING (b, key)),
         pbcap AS (SELECT dup_id, ch2, b, key FROM pbmat
                  QUALIFY count(*) OVER (PARTITION BY b, key) <= 64),
         xverb AS (SELECT DISTINCT i.inc_id, m.dup_id,
               bit_count(xor(i.ih, m.ch2)) AS hamming
               FROM pincb i JOIN pbcap m USING (b, key)
               WHERE i.inc_id <> m.dup_id),
         pbothb AS (SELECT v.inc_id, v.dup_id, v.jaccard, x.hamming
                   FROM ver2 v JOIN xverb x
                   ON x.inc_id = v.inc_id AND x.dup_id = v.dup_id
                   WHERE x.hamming <= 3),
         pbestb AS (SELECT inc_id, dup_id, jaccard, hamming FROM (
             SELECT *, row_number() OVER (PARTITION BY inc_id
               ORDER BY jaccard DESC, hamming ASC, dup_id) AS rn
             FROM pbothb) WHERE rn = 1)
         SELECT i.doc_id, pbestb.dup_id AS dup_of, pbestb.jaccard,
           pbestb.hamming, (pbestb.dup_id IS NULL) AS is_new
         FROM (SELECT p.doc_id FROM ptx p JOIN sb USING (doc_id)
               WHERE (sb.sbucket >= 85 AND p.doc_id < 10000000)
                  OR p.doc_id >= 10000000) i
         LEFT JOIN pbestb ON pbestb.inc_id = i.doc_id"""

  /** The media A/B ingest loop replayed in SQL
    * (`image/video_neardup_probe_updated`): the persisted store minus
    * the twin-source ids (bucket >= 5, < 70) is the layer-0 corpus;
    * increment A = the twin-source BASE media (bucket < 5), probed and
    * accepted (everything without a Hamming≤3 match); increment B =
    * fresh bases (bucket >= 85) + ALL perturbed twins, probed against
    * layer-0 ∪ accepted-A. Every twin's original lives only in the
    * accepted-A layer, so each caught twin certifies the
    * cross-increment append.
    */
  private def mediaUpdatedOracleFrom(fixture: String, src: String,
                                     hcol: String, mb: String): String =
    s"""WITH $fixture,
         uband AS (SELECT media_id, $hcol, b,
             ($hcol >> (b * 16)) & 65535 AS key
           FROM $src, (SELECT unnest(generate_series(0, 3)) AS b)),
         ucor0 AS (SELECT i.media_id AS dup_id, i.$hcol AS ch2, b, key
                  FROM uband i JOIN $mb ON $mb.doc_id = i.media_id
                  WHERE i.media_id < 10000000
                    AND $mb.bkt >= 5 AND $mb.bkt < 70),
         uinca AS (SELECT i.media_id AS inc_id, i.$hcol AS ih, b, key
                  FROM uband i JOIN $mb ON $mb.doc_id = i.media_id
                  WHERE i.media_id < 10000000 AND $mb.bkt < 5),
         uakeys AS (SELECT DISTINCT b, key FROM uinca),
         uamat AS (SELECT c.dup_id, c.ch2, c.b, c.key FROM ucor0 c
                  JOIN uakeys USING (b, key)),
         uacap AS (SELECT dup_id, ch2, b, key FROM uamat
                  QUALIFY count(*) OVER (PARTITION BY b, key) <= 64),
         uadup AS (SELECT DISTINCT i.inc_id
                  FROM uinca i JOIN uacap m USING (b, key)
                  WHERE i.inc_id <> m.dup_id
                    AND bit_count(xor(i.ih, m.ch2)) <= 3),
         uacc AS (SELECT inc_id AS dup_id, ih AS ch2, b, key FROM uinca
                  WHERE inc_id NOT IN (SELECT inc_id FROM uadup)),
         ucor1 AS (SELECT * FROM ucor0 UNION ALL SELECT * FROM uacc),
         uincb AS (SELECT i.media_id AS inc_id, i.$hcol AS ih, b, key
                  FROM uband i LEFT JOIN $mb ON $mb.doc_id = i.media_id
                  WHERE i.media_id >= 10000000 OR $mb.bkt >= 85),
         ubkeys AS (SELECT DISTINCT b, key FROM uincb),
         ubmat AS (SELECT c.dup_id, c.ch2, c.b, c.key FROM ucor1 c
                  JOIN ubkeys USING (b, key)),
         ubcap AS (SELECT dup_id, ch2, b, key FROM ubmat
                  QUALIFY count(*) OVER (PARTITION BY b, key) <= 64),
         ubver AS (SELECT DISTINCT i.inc_id, m.dup_id,
               bit_count(xor(i.ih, m.ch2)) AS hamming
               FROM uincb i JOIN ubcap m USING (b, key)
               WHERE i.inc_id <> m.dup_id),
         ubbest AS (SELECT inc_id, dup_id, hamming FROM (
             SELECT *, row_number() OVER (PARTITION BY inc_id
               ORDER BY hamming ASC, dup_id) AS rn
             FROM ubver WHERE hamming <= 3) WHERE rn = 1)
         SELECT i.inc_id AS media_id, ubbest.dup_id AS dup_of,
           ubbest.hamming, (ubbest.dup_id IS NULL) AS is_new
         FROM (SELECT DISTINCT inc_id FROM uincb) i
         LEFT JOIN ubbest USING (inc_id)"""

  /** The audio near-dup fixture's decoded fingerprints in closed form
    * — `amb` (md5 buckets), `awv` (base + perturbed twins), frames →
    * ch-0 window sums → multiplicative mix bits →
    * `afh(media_id, afp)`. Mirrors
    * [[graft.multimodal.Multimodal.audioFpOf]] exactly: every
    * intermediate non-negative (no signed-% divergence) and < 2⁵⁵
    * (no overflow on either engine). Shared by all four audio rows.
    */
  private lazy val duckAudioFpCtes: String = {
    val c1 = "((src * 73856093 + i * 19349663) % 65521)"
    val c2 = "((src * 2654435761 + i * 40503) % 65479)"
    val v0 = s"(($c1 * $c1 % 65521 + $c2 * $c2 % 65479) % 65536 - 32768)"
    s"""amb AS (SELECT doc_id,
           list_sum(list_transform(generate_series(1, 15),
             p -> ((strpos('0123456789abcdef',
                    substr(md5(doc_id::VARCHAR), p, 1)) - 1)::BIGINT
                   << (4 * (15 - p)))))::BIGINT % 100 AS bkt
           FROM documents),
         awv AS (SELECT doc_id AS media_id, doc_id AS src, false AS p
                  FROM documents
                  UNION ALL
                  SELECT doc_id + 10000000, doc_id, true
                  FROM amb JOIN documents USING (doc_id) WHERE bkt < 5),
         asmp AS (SELECT media_id, i,
             CASE WHEN p AND i = 0
                  THEN ($v0 + 1000 + 32768) % 65536 - 32768
                  ELSE $v0 END AS v
           FROM awv, generate_series(0, 255) t(i)),
         awin AS (SELECT media_id, i // 4 AS w, sum(v) AS sw
                  FROM asmp GROUP BY 1, 2),
         afh AS (SELECT media_id,
             sum(CASE WHEN ((sw + 131072 * (w + 1)) * 2654435761)
                        % 4294967296 >= 2147483648
                 THEN CASE WHEN w = 63
                      THEN (-9223372036854775807 - 1)
                      ELSE (1::BIGINT << w::INT) END
                 ELSE 0 END)::BIGINT AS afp
           FROM awin GROUP BY 1)"""
  }

  lazy val rows: Seq[Row] = mediaRows ++ Seq(
    Row("multimodal_meta", (s, dir) => {
      // pure projection — no DeserializeToObject/mapPartitions in this
      // plan; decodeFeatures (the codec contract) is exercised by
      // MultimodalSpec and stays equivalent on the metadata columns
      val d = Tables.documents(s, dir)
      Multimodal.meta(d, "doc_id", encode(col("text"), "UTF-8"))
    },
      """SELECT doc_id AS media_id, octet_length(encode(text)) AS n_bytes,
         md5(text) AS content_md5, 'unknown' AS sniffed_format
         FROM documents"""),

    Row("multimodal_features", (s, dir) => {
      // the batch decode pipeline itself, end-to-end through the
      // mapPartitions codec contract (per-partition decoder context —
      // the Scala analogue of arrow-batched UDF execution): binary
      // payload in, fixed-width feature out, payload never shuffled.
      // The stub decode is a 16-bucket high-nibble byte histogram, so
      // the oracle replays it exactly from hex(content); exported in
      // long format with the per-bucket COUNT reconstructed from the
      // normalized float feature (f·n_bytes rounds to the exact count
      // for any payload < 8 MB — integer-exact, hash-stable)
      val media = Multimodal.fromText(s, Tables.documents(s, dir),
        "doc_id", "text")
      Multimodal.decodeFeatures(media).toDF()
        .select(col("media_id"), col("sniffed_format"), col("n_bytes"),
          posexplode(col("feature")).as(Seq("bucket", "f")))
        .select(col("media_id"), col("sniffed_format"), col("n_bytes"),
          col("bucket").cast("long").as("bucket"),
          round(col("f").cast("double") * col("n_bytes"))
            .cast("long").as("n_in_bucket"))
    },
      // replays the stubbed decode exactly: the high nibble of byte i
      // is hex digit 2i-1 of hex(content); UTF-8 text can only ever
      // sniff as 'gif' (0xFF/0x89 are not valid UTF-8 lead bytes)
      """WITH mb AS (SELECT doc_id AS media_id, hex(encode(text)) AS hx,
           octet_length(encode(text))::BIGINT AS n_bytes,
           CASE WHEN substr(text, 1, 3) = 'GIF' THEN 'gif'
                ELSE 'unknown' END AS sniffed_format
           FROM documents),
         midx AS (SELECT media_id, hx,
           unnest(generate_series(1, len(hx) // 2)) AS i FROM mb),
         mcnt AS (SELECT media_id,
             strpos('0123456789ABCDEF', substr(hx, 2 * i - 1, 1)) - 1 AS bucket,
             count(*)::BIGINT AS n
           FROM midx GROUP BY 1, 2),
         grid AS (SELECT media_id, sniffed_format, n_bytes,
           unnest(generate_series(0, 15)) AS bucket FROM mb)
         SELECT g.media_id, g.sniffed_format, g.n_bytes,
           g.bucket::BIGINT AS bucket,
           coalesce(c.n, 0)::BIGINT AS n_in_bucket
         FROM grid g LEFT JOIN mcnt c
           ON c.media_id = g.media_id AND c.bucket = g.bucket"""),

    Row("multimodal_decode", (s, dir) => {
      // REAL image decode, hash-verified: render one deterministic 8x8
      // PNG per doc_id (closed-form pixels), push the bytes through the
      // JDK's ImageIO codec in the per-partition contract, and emit the
      // decoded dimensions + exact per-channel pixel sums. PNG is
      // lossless, so the oracle recomputes the sums from the pixel
      // formula alone — a hash-green row proves the actual codec
      // round-trip pixel for pixel (a decoder bug, a channel swap, or a
      // color-space drift all break the hash). Both halves are narrow
      // mapPartitions passes; the payload never shuffles.
      val ids = Tables.documents(s, dir).select(col("doc_id"))
      Multimodal.imageFeatures(
          Multimodal.syntheticImages(ids, "doc_id"))
        .select(col("media_id"), col("sniffed_format"), col("width"),
          col("height"), col("r_sum"), col("g_sum"), col("b_sum"))
    },
      // the decode row's pixels in closed form: the Spark side REALLY
      // encodes each image as PNG and REALLY decodes it with ImageIO;
      // lossless PNG means the decoded channel sums must equal these
      // formula sums exactly — the hash gate IS the codec test
      """WITH px AS (SELECT d.doc_id AS media_id, x.g AS x, y.g AS y
           FROM documents d, generate_series(0, 7) x(g),
                generate_series(0, 7) y(g)),
         sums AS (SELECT media_id,
             sum((media_id * 31 + x * 7 + y * 13) % 256)::BIGINT AS r_sum,
             sum((media_id * 17 + x * 11 + y * 3) % 256)::BIGINT AS g_sum,
             sum((media_id * 7 + x * 5 + y * 19) % 256)::BIGINT AS b_sum
           FROM px GROUP BY media_id)
         SELECT media_id, 'png' AS sniffed_format, 8::INTEGER AS width,
           8::INTEGER AS height, r_sum, g_sum, b_sum
         FROM sums"""),

    Row("multimodal_audio_decode", (s, dir) => {
      // REAL audio decode, hash-verified: one canonical 16-bit PCM
      // stereo WAV per doc_id (closed-form samples), decoded through
      // the javax.sound.sampled SPI in the per-partition contract
      // (readers loaded once per partition — the ImageIO registry-tax
      // lesson), exact per-channel sample sums out. PCM is lossless,
      // so the oracle recomputes the sums from the sample formula
      // alone — a hash-green row proves the real container+codec round
      // trip sample for sample. Video stays an honest stub (no ffmpeg
      // in this environment).
      val ids = Tables.documents(s, dir).select(col("doc_id"))
      Multimodal.audioFeatures(Multimodal.syntheticWavs(ids, "doc_id"))
        .select(col("media_id"), col("sniffed_format"), col("channels"),
          col("sample_rate"), col("n_frames"), col("ch0_sum"),
          col("ch1_sum"))
    },
      // the decode row's samples in closed form: the Spark side REALLY
      // assembles a canonical RIFF/WAVE container and REALLY decodes
      // it through the javax.sound.sampled SPI; PCM is lossless, so
      // the decoded per-channel sums must equal these formula sums
      // exactly — the hash gate IS the codec test
      """WITH fr AS (SELECT d.doc_id AS media_id, i.g AS i
           FROM documents d, generate_series(0, 255) i(g)),
         sums AS (SELECT media_id,
             sum(((media_id * 31 + i * 7) % 65536) - 32768)::BIGINT AS ch0_sum,
             sum(((media_id * 31 + i * 7 + 13) % 65536) - 32768)::BIGINT AS ch1_sum
           FROM fr GROUP BY media_id)
         SELECT media_id, 'riff' AS sniffed_format, 2::INTEGER AS channels,
           8000::INTEGER AS sample_rate, 256::BIGINT AS n_frames,
           ch0_sum, ch1_sum
         FROM sums"""),

    Row("multimodal_video_frames", (s, dir) => {
      // REAL video container demux + frame sampling, hash-verified:
      // one canonical uncompressed AVI per doc_id (8 frames of 8×8
      // BI_RGB DIB — closed-form pixels with a per-frame term), walked
      // back through the RIFF chunk parser in the per-partition
      // contract, every 3rd frame sampled, exact per-frame channel
      // sums out. The container layout is public and codec-free for
      // BI_RGB, so the oracle recomputes the sums from the pixel
      // formula alone — a hash-green row proves demux + bottom-up BGR
      // row walk + frame selection byte for byte. Compressed streams
      // are the honest boundary (no ffmpeg here): they surface as
      // undecodable rather than vanishing.
      val ids = Tables.documents(s, dir).select(col("doc_id"))
      Multimodal.videoFrameFeatures(
          Multimodal.syntheticAvis(ids, "doc_id"), step = 3)
        .select(col("media_id"), col("n_frames"), col("frame_no"),
          col("width"), col("height"), col("r_sum"), col("g_sum"),
          col("b_sum"))
    },
      // the sampled frames' pixels in closed form: the Spark side
      // REALLY assembles a RIFF/AVI container and REALLY demuxes it
      // chunk by chunk; BI_RGB frames are codec-free, so the decoded
      // per-frame sums must equal these formula sums exactly — the
      // hash gate IS the demux + frame-sampling test
      """WITH fr AS (SELECT d.doc_id AS media_id, f.g AS f
           FROM documents d, generate_series(0, 7) f(g)
           WHERE f.g % 3 = 0),
         px AS (SELECT media_id, f, x.g AS x, y.g AS y
           FROM fr, generate_series(0, 7) x(g), generate_series(0, 7) y(g)),
         sums AS (SELECT media_id, f,
             sum((media_id * 31 + f * 29 + x * 7 + y * 13) % 256)::BIGINT AS r_sum,
             sum((media_id * 17 + f * 23 + x * 11 + y * 3) % 256)::BIGINT AS g_sum,
             sum((media_id * 7 + f * 19 + x * 5 + y * 19) % 256)::BIGINT AS b_sum
           FROM px GROUP BY 1, 2)
         SELECT media_id, 8::INTEGER AS n_frames, f::INTEGER AS frame_no,
           8::INTEGER AS width, 8::INTEGER AS height, r_sum, g_sum, b_sum
         FROM sums"""),

    Row("multimodal_resize", (s, dir) => {
      // REAL decode→resize→stats, hash-verified: 16×16 fixture PNGs
      // decoded with the partition-scoped reader, area-pooled 2×2 to
      // 8×8 in exact integer arithmetic (floor-mean per block — the
      // INTER_AREA thumbnailing kernel), resized channel sums out.
      // Unlike the JDK bilinear resize (spec-tested, JDK-internal
      // rounding), the pool kernel is exactly SQL-replayable, so the
      // oracle recomputes the resized pixels from the source formula —
      // the hash gate verifies real resized pixel values, not just
      // geometry.
      val ids = Tables.documents(s, dir).select(col("doc_id"))
      Multimodal.resizeFeatures(
          Multimodal.syntheticImages(ids, "doc_id", 16, 16), fx = 2, fy = 2)
        .select(col("media_id"), col("src_width"), col("src_height"),
          col("width"), col("height"), col("r_sum"), col("g_sum"),
          col("b_sum"))
    },
      // the area-pooled pixels in closed form: 2×2 source blocks of
      // the 16×16 fixture formula, floor-mean per channel, summed over
      // the 8×8 result — the Spark side REALLY decodes the PNG and
      // REALLY pools decoded pixels, so hash-green = real resized
      // pixel values, not geometry
      """WITH px AS (SELECT d.doc_id AS media_id, x.g AS x, y.g AS y
           FROM documents d, generate_series(0, 15) x(g),
                generate_series(0, 15) y(g)),
         blocks AS (SELECT media_id, x // 2 AS bx, y // 2 AS by,
             sum((media_id * 31 + x * 7 + y * 13) % 256) AS rs,
             sum((media_id * 17 + x * 11 + y * 3) % 256) AS gs,
             sum((media_id * 7 + x * 5 + y * 19) % 256) AS bs
           FROM px GROUP BY 1, 2, 3),
         pooled AS (SELECT media_id, sum(rs // 4)::BIGINT AS r_sum,
             sum(gs // 4)::BIGINT AS g_sum, sum(bs // 4)::BIGINT AS b_sum
           FROM blocks GROUP BY 1)
         SELECT media_id, 16::INTEGER AS src_width, 16::INTEGER AS src_height,
           8::INTEGER AS width, 8::INTEGER AS height, r_sum, g_sum, b_sum
         FROM pooled"""),

    Row("media_band_capstats", (s, dir) => {
      // the capstats convention for the MEDIA band geometry (the
      // dedup_minhash_capstats / ngram_df_capstats /
      // dedup_semantic_liststats lineage): every media near-dup row
      // caps Hamming band buckets at 64 — a hot bucket is SILENT
      // recall loss at scale, so the bucket-size distribution ships as
      // an oracle-checked integer-only row per modality instead of a
      // simulated law. Reads the persisted fingerprint STORES (built
      // here if a probe row has not run yet — same family dirs, same
      // params), so the row costs three 8-byte-column scans, zero
      // decodes.
      Modalities.map { m =>
        graft.dedup.MediaStore.read(s, ensureMediaStore(s, dir, m))
          .select(col(m.hcol).as("_h"))
          .select(posexplode(array((0 until 4).map { b =>
            shiftright(col("_h"), b * 16).bitwiseAND(0xFFFFL)
          }: _*)).as(Seq("band", "key")))
          .groupBy(col("band"), col("key"))
          .agg(count(lit(1)).as("_n"))
          .agg(count(lit(1)).as("n_buckets"),
            max(col("_n")).as("max_bucket"),
            sum(when(col("_n") > 64, 1L).otherwise(0L)).as("over_cap"))
          .select(lit(m.name).as("modality"), col("n_buckets"),
            col("max_bucket"), col("over_cap"))
      }.reduce(_ unionByName _)
    }, {
      // each modality's fixture fingerprint chain replayed in closed
      // form over the store slice (bucket<70 base media), then the band
      // geometry: distinct (band,key) buckets, the largest, and how
      // many exceed the 64 cap — integer-only, one row per modality
      def key(m: Modality) = m.name.take(1)
      val cors = Modalities.map { m =>
        import m.{duckMb => mb, duckSrc => src}
        s"""${key(m)}cor AS (SELECT $src.${m.hcol} AS h FROM $src
                  JOIN $mb ON $mb.doc_id = $src.media_id
                  WHERE $src.media_id < 10000000 AND $mb.bkt < 70)"""
      }
      val bands = Modalities.map(key).map(k =>
        s"""${k}b AS (SELECT b, (h >> (b * 16)) & 65535 AS key FROM ${k}cor,
                (SELECT unnest(generate_series(0, 3)) AS b)),
         ${k}g AS (SELECT b, key, count(*) AS n FROM ${k}b GROUP BY 1, 2)""")
      val unions = Modalities.tail.map(m => s"""
         UNION ALL
         SELECT '${m.name}', count(*)::BIGINT, max(n)::BIGINT,
           CAST(sum(CASE WHEN n > 64 THEN 1 ELSE 0 END) AS BIGINT)
           FROM ${key(m)}g""").mkString
      val first = Modalities.head
      s"""WITH ${Modalities.map(_.duckFixture).mkString(", ")},
         ${(cors ++ bands).mkString(",\n         ")}
         SELECT '${first.name}' AS modality, count(*)::BIGINT AS n_buckets,
           max(n)::BIGINT AS max_bucket,
           CAST(sum(CASE WHEN n > 64 THEN 1 ELSE 0 END) AS BIGINT)
             AS over_cap FROM ${key(first)}g$unions"""
    })
  )
}
