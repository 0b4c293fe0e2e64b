package graft
package registry

import graft.dedup.Dedup
import graft.sources.Tables
import graft.textops.TextOps
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import MediaRows.Modalities
import Shared._
import Stores._

/** Text deduplication (north star): exact, MinHash, SimHash, n-gram,
  * span, substring and line dedup, each in its batch form and, where
  * the family has one, its incremental, persisted-store probe and A/B
  * `_updated` forms; plus the `store_capstats` health row over every
  * persisted store family.
  */
private[graft] object DedupRows {

  /** The multi-line fixture view both line-dedup oracles replay —
    * mirrors [[graft.textops.LineDedup.multilineFixture]] (8-token
    * lines from the doc's own tokens, the md5 bucket < 20 boilerplate
    * plant and the bucket >= 80 first-line self-dup plant). Ends in
    * `ml(doc_id, ls)`. No leading WITH.
    */
  private val lineFixtureCtes =
    """lw AS (SELECT doc_id,
           list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS w
           FROM documents),
         mlb AS (SELECT doc_id,
           list_transform(generate_series(1,
               greatest(CAST(ceil(len(w) / 8.0) AS BIGINT), 1)),
             g -> array_to_string(w[((g-1)*8+1):least(g*8, len(w))], ' ')) AS ls0,
           list_sum(list_transform(generate_series(1, 15),
             p -> ((strpos('0123456789abcdef',
                    substr(md5(doc_id::VARCHAR), p, 1)) - 1)::BIGINT
                   << (4 * (15 - p)))))::BIGINT % 100 AS bucket
           FROM lw),
         ml AS (SELECT doc_id, ls0
           || (CASE WHEN bucket < 20
               THEN ['accept cookies to continue'] ELSE []::VARCHAR[] END)
           || (CASE WHEN bucket >= 80
               THEN [ls0[1]] ELSE []::VARCHAR[] END) AS ls
           FROM mlb)"""

  /** Increment A's kept lines in the line-dedup A/B replay: the
    * fixture's lines `l`, the doc_id % 10 < 7 corpus lines `cor`, and
    * increment A's (doc_id % 10 in {7, 8}) first-occurrence,
    * corpus-absent lines `ka(doc_id, i, line)` — shared by
    * `dedup_lines_bloom_probe_updated` and `store_capstats`. Requires
    * `ml`; no leading WITH.
    */
  private val linesAcceptedACtes: String =
    """l AS (SELECT doc_id, ls, i, ls[i] AS line
               FROM ml, unnest(generate_series(1, len(ls))) AS t(i)),
         cor AS (SELECT DISTINCT line FROM l WHERE doc_id % 10 < 7),
         la AS (SELECT * FROM l WHERE doc_id % 10 IN (7, 8)),
         newa AS (SELECT la.* FROM la LEFT JOIN cor
               ON la.line = cor.line WHERE cor.line IS NULL),
         fa1 AS (SELECT line, min(doc_id) AS d0 FROM newa GROUP BY line),
         fa2 AS (SELECT n.line, n.doc_id, min(n.i) AS i0 FROM newa n
               JOIN fa1 ON n.line = fa1.line AND n.doc_id = fa1.d0
               GROUP BY n.line, n.doc_id),
         ka AS (SELECT n.doc_id, n.i, n.line FROM newa n
               JOIN fa2 ON n.line = fa2.line AND n.doc_id = fa2.doc_id
                 AND n.i = fa2.i0)"""

  /** The line-granularity daily-ingest decision replayed in SQL —
    * shared by `dedup_lines_incremental` and `dedup_lines_bloom_probe`
    * (the persisted sketch changes the physics a bench row measures,
    * never the decision): the increment (doc_id % 10 >= 7) keeps a
    * line iff it appears NOWHERE in the corpus slice and is the global
    * first occurrence within the increment itself.
    */
  private lazy val linesIncrementalOracle: String =
    s"""WITH $lineFixtureCtes,
         l AS (SELECT doc_id, ls, i, ls[i] AS line
               FROM ml, unnest(generate_series(1, len(ls))) AS t(i)),
         inc AS (SELECT * FROM l WHERE doc_id % 10 >= 7),
         cor AS (SELECT DISTINCT line FROM l WHERE doc_id % 10 < 7),
         new AS (SELECT inc.* FROM inc LEFT JOIN cor
               ON inc.line = cor.line WHERE cor.line IS NULL),
         f1 AS (SELECT line, min(doc_id) AS d0 FROM new GROUP BY line),
         f2 AS (SELECT n.line, n.doc_id, min(n.i) AS i0 FROM new n
               JOIN f1 ON n.line = f1.line AND n.doc_id = f1.d0
               GROUP BY n.line, n.doc_id),
         k AS (SELECT n.doc_id, n.i, n.line FROM new n
               JOIN f2 ON n.line = f2.line AND n.doc_id = f2.doc_id
                 AND n.i = f2.i0)
         SELECT ml.doc_id, len(ml.ls)::BIGINT AS n_lines,
           COALESCE(c.n_kept, 0)::BIGINT AS n_kept,
           COALESCE(c.text_clean, '') AS text_clean
         FROM ml LEFT JOIN (SELECT doc_id, count(*)::BIGINT AS n_kept,
             string_agg(line, chr(10) ORDER BY i) AS text_clean
           FROM k GROUP BY doc_id) c USING (doc_id)
         WHERE ml.doc_id % 10 >= 7"""

  /** The line-granularity A/B loop replayed in SQL
    * (`dedup_lines_bloom_probe_updated`): probe increment A (doc_id %
    * 10 in {7,8}) against the %10<7 corpus lines, append A's KEPT
    * (first-occurrence, corpus-absent) lines, probe increment B
    * (doc_id % 10 = 9) against corpus ∪ accepted-A — a B line an
    * accepted A doc introduced drops cross-increment.
    */
  private lazy val linesUpdatedOracle: String =
    s"""WITH $lineFixtureCtes,
         $linesAcceptedACtes,
         cor1 AS (SELECT line FROM cor
                  UNION SELECT DISTINCT line FROM ka),
         lb AS (SELECT * FROM l WHERE doc_id % 10 = 9),
         newb AS (SELECT lb.* FROM lb LEFT JOIN cor1
               ON lb.line = cor1.line WHERE cor1.line IS NULL),
         fb1 AS (SELECT line, min(doc_id) AS d0 FROM newb GROUP BY line),
         fb2 AS (SELECT n.line, n.doc_id, min(n.i) AS i0 FROM newb n
               JOIN fb1 ON n.line = fb1.line AND n.doc_id = fb1.d0
               GROUP BY n.line, n.doc_id),
         kb AS (SELECT n.doc_id, n.i, n.line FROM newb n
               JOIN fb2 ON n.line = fb2.line AND n.doc_id = fb2.doc_id
                 AND n.i = fb2.i0)
         SELECT ml.doc_id, len(ml.ls)::BIGINT AS n_lines,
           COALESCE(c.n_kept, 0)::BIGINT AS n_kept,
           COALESCE(c.text_clean, '') AS text_clean
         FROM ml LEFT JOIN (SELECT doc_id, count(*)::BIGINT AS n_kept,
             string_agg(line, chr(10) ORDER BY i) AS text_clean
           FROM kb GROUP BY doc_id) c USING (doc_id)
         WHERE ml.doc_id % 10 = 9"""

  private val minhashPairCtes = minhashPairCtesFrom("documents")

  private val minhashClusterCtes = minhashPairCtes + closureCtes("mpairs")

  /** Oracle replay of [[graft.dedup.Dedup.minhashIncremental]] on the
    * shared banded-signature CTEs: same md5-bucket split as
    * dedup_incremental (>= 70 incoming), increment band keys probe the
    * corpus side, matched buckets capped at 64, exact Jaccard >= 0.5
    * verify, best match = (jaccard desc, corpus id). Shared verbatim
    * by `dedup_minhash_incremental` and `dedup_minhash_stored` — the
    * stored-probe form computes the identical decision, so one oracle
    * pins both.
    */
  private lazy val minhashIncrementalOracle: String =
    s"""WITH $minhashBandedCtes,
         sb AS (SELECT doc_id,
           list_sum(list_transform(generate_series(1, 15),
             p -> ((strpos('0123456789abcdef',
                    substr(md5(doc_id::VARCHAR), p, 1)) - 1)::BIGINT
                   << (4 * (15 - p)))))::BIGINT % 100 AS sbucket
           FROM documents),
         incb AS (SELECT b.doc_id, bnd, bucket FROM banded b
                  JOIN sb USING (doc_id) WHERE sb.sbucket >= 70),
         corb AS (SELECT b.doc_id, bnd, bucket FROM banded b
                  JOIN sb USING (doc_id) WHERE sb.sbucket < 70),
         ikeys AS (SELECT DISTINCT bnd, bucket FROM incb),
         mat AS (SELECT c.doc_id, c.bnd, c.bucket FROM corb c
                 JOIN ikeys USING (bnd, bucket)),
         mcap AS (SELECT doc_id, bnd, bucket FROM mat
                  QUALIFY count(*) OVER (PARTITION BY bnd, bucket) <= 64),
         cand AS (SELECT DISTINCT i.doc_id AS inc_id, m.doc_id AS dup_id
                  FROM incb i JOIN mcap m USING (bnd, bucket)),
         isz AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
         iiv AS (SELECT cand.inc_id, cand.dup_id, count(*) AS inter
                 FROM cand JOIN sh x ON x.doc_id = cand.inc_id
                 JOIN sh y ON y.doc_id = cand.dup_id AND y.shingle = x.shingle
                 GROUP BY 1, 2),
         ver AS (SELECT iiv.inc_id, iiv.dup_id,
             round(iiv.inter::DOUBLE / (sx.n_sh + sy.n_sh - iiv.inter), 6) AS jaccard
           FROM iiv JOIN isz sx ON sx.doc_id = iiv.inc_id
           JOIN isz sy ON sy.doc_id = iiv.dup_id
           WHERE round(iiv.inter::DOUBLE / (sx.n_sh + sy.n_sh - iiv.inter), 6) >= 0.5),
         best AS (SELECT inc_id, dup_id, jaccard FROM (
             SELECT *, row_number() OVER (PARTITION BY inc_id
               ORDER BY jaccard DESC, dup_id) AS rn FROM ver) WHERE rn = 1)
         SELECT i.doc_id, best.dup_id AS dup_of, best.jaccard,
           (best.dup_id IS NULL) AS is_new
         FROM (SELECT doc_id FROM sb WHERE sbucket >= 70) i
         LEFT JOIN best ON best.inc_id = i.doc_id"""

  /** The two-probe replay of `dedup_minhash_stored_updated`: probe 1
    * (A = buckets [70,85) against corpus buckets <70) decides the
    * accepted set; the store for probe 2 (B = buckets ≥85) is the
    * corpus UNION the accepted A docs — the oracle-side mirror of
    * [[graft.dedup.SignatureStore.append]].
    */
  private lazy val minhashStoredUpdatedOracle: String =
    s"""WITH $minhashBandedCtes,
         sb AS (SELECT doc_id,
           list_sum(list_transform(generate_series(1, 15),
             p -> ((strpos('0123456789abcdef',
                    substr(md5(doc_id::VARCHAR), p, 1)) - 1)::BIGINT
                   << (4 * (15 - p)))))::BIGINT % 100 AS sbucket
           FROM documents),
         isz AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
         ${minhashProbeCtes("1",
             "sb.sbucket >= 70 AND sb.sbucket < 85", "sb.sbucket < 70")},
         acc AS (SELECT doc_id FROM sb WHERE sbucket >= 70 AND sbucket < 85
                 AND doc_id NOT IN (SELECT inc_id FROM ver1)),
         ${minhashProbeCtes("2", "sb.sbucket >= 85",
             "sb.sbucket < 70 OR b.doc_id IN (SELECT doc_id FROM acc)")}
         SELECT i.doc_id, best2.dup_id AS dup_of, best2.jaccard,
           (best2.dup_id IS NULL) AS is_new
         FROM (SELECT doc_id FROM sb WHERE sbucket >= 85) i
         LEFT JOIN best2 ON best2.inc_id = i.doc_id"""

  /** Mirrors [[graft.dedup.Dedup.spanIncremental]] over the md5-bucket
    * split: the post-probe df cap counts corpus rows per PROBED fp
    * (equal to that fp's corpus df among increment-present fps — and
    * equal to the persisted store's denormalized df column), so this
    * one oracle serves both `dedup_spans_incremental` and
    * `dedup_spans_stored`.
    */
  private lazy val spanIncrementalOracle: String =
    s"""WITH $duckWinnowFpCtes,
         wsb AS (SELECT doc_id,
           list_sum(list_transform(generate_series(1, 15),
             p -> ((strpos('0123456789abcdef',
                    substr(md5(doc_id::VARCHAR), p, 1)) - 1)::BIGINT
                   << (4 * (15 - p)))))::BIGINT % 100 AS sbucket
           FROM documents),
         fi AS (SELECT f.doc_id AS inc_id, fp FROM f
                JOIN wsb USING (doc_id) WHERE wsb.sbucket >= 70),
         fc AS (SELECT f.doc_id AS dup_id, fp FROM f
                JOIN wsb USING (doc_id) WHERE wsb.sbucket < 70),
         wik AS (SELECT DISTINCT fp FROM fi),
         wmat AS (SELECT fc.dup_id, fc.fp FROM fc JOIN wik USING (fp)),
         wcap AS (SELECT dup_id, fp FROM wmat
                  QUALIFY count(*) OVER (PARTITION BY fp) <= 16),
         wsh AS (SELECT fi.inc_id, m.dup_id, count(*) AS n_shared
                 FROM fi JOIN wcap m USING (fp)
                 GROUP BY 1, 2 HAVING count(*) >= 5),
         wbest AS (SELECT inc_id, dup_id, n_shared FROM (
             SELECT *, row_number() OVER (PARTITION BY inc_id
               ORDER BY n_shared DESC, dup_id) AS rn FROM wsh)
             WHERE rn = 1)
         SELECT i.doc_id, wbest.dup_id AS dup_of, wbest.n_shared,
           (wbest.dup_id IS NULL) AS is_new
         FROM (SELECT doc_id FROM wsb WHERE sbucket >= 70) i
         LEFT JOIN wbest ON wbest.inc_id = i.doc_id"""

  /** One span broadcast-probe as suffixed CTEs (`fi$sfx` …
    * `wbest$sfx`) parameterized on membership predicates over `wsb` —
    * the building block `dedup_spans_stored_updated` applies twice
    * (textually mirrors [[spanIncrementalOracle]]'s single probe).
    * Requires `f` and `wsb` in scope. The post-probe df cap equals
    * the appended store's GLOBAL denormalized df for every probed fp
    * (all rows carrying a probed fp match the probe), which is what
    * makes one oracle shape serve both the direct and the
    * appended-store forms.
    */
  private def spanProbeCtes(sfx: String, incPred: String,
                            corPred: String): String =
    s"""fi$sfx AS (SELECT f.doc_id AS inc_id, fp FROM f
                JOIN wsb USING (doc_id) WHERE $incPred),
         fc$sfx AS (SELECT f.doc_id AS dup_id, fp FROM f
                JOIN wsb USING (doc_id) WHERE $corPred),
         wik$sfx AS (SELECT DISTINCT fp FROM fi$sfx),
         wmat$sfx AS (SELECT fc$sfx.dup_id, fc$sfx.fp FROM fc$sfx
                 JOIN wik$sfx USING (fp)),
         wcap$sfx AS (SELECT dup_id, fp FROM wmat$sfx
                  QUALIFY count(*) OVER (PARTITION BY fp) <= 16),
         wsh$sfx AS (SELECT fi$sfx.inc_id, m.dup_id, count(*) AS n_shared
                 FROM fi$sfx JOIN wcap$sfx m USING (fp)
                 GROUP BY 1, 2 HAVING count(*) >= 5),
         wbest$sfx AS (SELECT inc_id, dup_id, n_shared FROM (
             SELECT *, row_number() OVER (PARTITION BY inc_id
               ORDER BY n_shared DESC, dup_id) AS rn FROM wsh$sfx)
             WHERE rn = 1)"""

  /** The two-probe replay of `dedup_spans_stored_updated`: probe 1
    * decides the accepted set, the store for probe 2 is the corpus
    * UNION the accepted A docs — the oracle-side mirror of
    * [[graft.dedup.SignatureStore.mergeSpanDeltas]] (df bumped, since
    * the wcap2 count runs over the unioned membership).
    */
  private lazy val spanStoredUpdatedOracle: String =
    s"""WITH $duckWinnowFpCtes,
         wsb AS (SELECT doc_id,
           list_sum(list_transform(generate_series(1, 15),
             p -> ((strpos('0123456789abcdef',
                    substr(md5(doc_id::VARCHAR), p, 1)) - 1)::BIGINT
                   << (4 * (15 - p)))))::BIGINT % 100 AS sbucket
           FROM documents),
         ${spanProbeCtes("1",
             "wsb.sbucket >= 70 AND wsb.sbucket < 85", "wsb.sbucket < 70")},
         acc AS (SELECT doc_id FROM wsb WHERE sbucket >= 70 AND sbucket < 85
                 AND doc_id NOT IN (SELECT inc_id FROM wsh1)),
         ${spanProbeCtes("2", "wsb.sbucket >= 85",
             "wsb.sbucket < 70 OR f.doc_id IN (SELECT doc_id FROM acc)")}
         SELECT i.doc_id, wbest2.dup_id AS dup_of, wbest2.n_shared,
           (wbest2.dup_id IS NULL) AS is_new
         FROM (SELECT doc_id FROM wsb WHERE sbucket >= 85) i
         LEFT JOIN wbest2 ON wbest2.inc_id = i.doc_id"""

  /** Shared CTE chain mirroring [[graft.dedup.Dedup.simhashPairs]],
    * ending in `spairs(doc_a, doc_b, hamming)`; selected directly by the
    * `dedup_simhash` oracle and closed over by `dedup_clusters_simhash`.
    */
  private val simhashPairCtes =
    """tok AS (SELECT doc_id,
           unnest(list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '')) AS tok
           FROM documents),
         h AS (SELECT doc_id,
           list_sum(list_transform(generate_series(1, 15),
             p -> ((strpos('0123456789abcdef', substr(md5(tok), p, 1)) - 1)::BIGINT
                   << (4 * (15 - p)))))::BIGINT AS h
           FROM tok),
         bits AS (SELECT doc_id, j,
             sum(CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END) AS c
           FROM h, (SELECT unnest(generate_series(0, 63)) AS j) GROUP BY doc_id, j),
         sim AS (SELECT doc_id,
             sum(CASE WHEN c > 0 THEN 1::BIGINT << j ELSE 0 END)::BIGINT AS simhash
           FROM bits GROUP BY doc_id),
         sbanded AS (SELECT doc_id, simhash, b, (simhash >> (b * 16)) & 65535 AS key
           FROM sim, (SELECT unnest(generate_series(0, 3)) AS b)),
         scapped AS (SELECT b, key, doc_id, simhash FROM sbanded
           QUALIFY count(*) OVER (PARTITION BY b, key) <= 64),
         sp AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
               bit_count(xor(x.simhash, y.simhash)) AS hamming
               FROM scapped x JOIN scapped y USING (b, key)
               WHERE x.doc_id < y.doc_id),
         spairs AS (SELECT doc_a, doc_b, hamming FROM sp WHERE hamming <= 3)"""
  /** The EXACT daily-ingest decision replayed in SQL — shared by
    * `dedup_incremental` and `dedup_bloom_probe`: same md5-bucket
    * split (>= 70 incoming), normalized-content fingerprints,
    * batch-survivor min-id rule, corpus-absence check.
    */
  private val exactIncrementalOracle: String =
    """WITH b AS (SELECT doc_id,
           md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fingerprint,
           list_sum(list_transform(generate_series(1, 15),
             p -> ((strpos('0123456789abcdef',
                    substr(md5(doc_id::VARCHAR), p, 1)) - 1)::BIGINT
                   << (4 * (15 - p)))))::BIGINT % 100 AS bucket
           FROM documents),
         inc AS (SELECT doc_id, fingerprint FROM b WHERE bucket >= 70),
         corp AS (SELECT fingerprint FROM b WHERE bucket < 70),
         keepb AS (SELECT fingerprint, min(doc_id) AS keep_id FROM inc GROUP BY 1),
         hit AS (SELECT DISTINCT c.fingerprint FROM corp c JOIN keepb USING (fingerprint))
         SELECT i.doc_id, i.fingerprint,
           (i.doc_id = k.keep_id AND h.fingerprint IS NULL) AS is_new
         FROM inc i JOIN keepb k USING (fingerprint)
         LEFT JOIN hit h ON h.fingerprint = i.fingerprint"""

  /** Increment A's accepted fingerprints in the exact-dedup A/B
    * replay: the bucket<70 corpus `corp`, increment A (bucket 70-84)
    * `inca`, its batch survivors `keepa`, and the corpus-absent
    * survivors `acc(fingerprint)` — shared by
    * `dedup_bloom_probe_updated` and `store_capstats`. Requires
    * `b(doc_id, fingerprint, bucket)`; no leading WITH.
    */
  private val bloomAcceptedACtes: String =
    """corp AS (SELECT fingerprint FROM b WHERE bucket < 70),
         inca AS (SELECT doc_id, fingerprint FROM b
                  WHERE bucket >= 70 AND bucket < 85),
         keepa AS (SELECT fingerprint, min(doc_id) AS keep_id
                   FROM inca GROUP BY 1),
         hita AS (SELECT DISTINCT c.fingerprint FROM corp c
                  JOIN keepa USING (fingerprint)),
         acc AS (SELECT k.fingerprint FROM keepa k
                 LEFT JOIN hita h USING (fingerprint)
                 WHERE h.fingerprint IS NULL)"""

  /** The exact-ingest A/B loop replayed in SQL (`dedup_bloom_probe_updated`):
    * probe increment A (bucket 70-84) against the bucket<70 corpus,
    * append the accepted (batch-survivor, corpus-absent) fingerprints,
    * probe increment B (bucket >= 85) against the grown set — a B doc
    * duplicating an ACCEPTED A doc is caught, one duplicating a
    * REJECTED A doc is not re-flagged (the rejected fp was already in
    * the corpus, so the flag is unchanged either way —
    * arrival-order-wins).
    */
  private val bloomUpdatedOracle: String =
    s"""WITH b AS (SELECT doc_id,
           md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fingerprint,
           list_sum(list_transform(generate_series(1, 15),
             p -> ((strpos('0123456789abcdef',
                    substr(md5(doc_id::VARCHAR), p, 1)) - 1)::BIGINT
                   << (4 * (15 - p)))))::BIGINT % 100 AS bucket
           FROM documents),
         $bloomAcceptedACtes,
         corp1 AS (SELECT fingerprint FROM corp
                   UNION ALL SELECT fingerprint FROM acc),
         incb AS (SELECT doc_id, fingerprint FROM b WHERE bucket >= 85),
         keepb AS (SELECT fingerprint, min(doc_id) AS keep_id
                   FROM incb GROUP BY 1),
         hitb AS (SELECT DISTINCT c.fingerprint FROM corp1 c
                  JOIN keepb USING (fingerprint))
         SELECT i.doc_id, i.fingerprint,
           (i.doc_id = k.keep_id AND h.fingerprint IS NULL) AS is_new
         FROM incb i JOIN keepb k USING (fingerprint)
         LEFT JOIN hitb h ON h.fingerprint = i.fingerprint"""

  /** [[duckWinnowFpCtes]] with the CORPUS-SCALED winnow window: `wv`
    * re-derives [[graft.dedup.Dedup.scaledWinnowWindow]] from the
    * table's own count(*) with integer-exact bit-position arithmetic
    * (`length(bin(q−1))` = ceil(log₂ q)), so both engines compute the
    * identical window at every scale — the `dedup_spans` (w = AUTO)
    * replay. Equals the fixed-w chain at ≤65536 docs.
    */
  private val duckWinnowFpScaledCtes: String =
    """wv AS (SELECT CASE WHEN count(*) <= 65536 THEN 4
           ELSE 4 + length(bin(((count(*) + 65535) // 65536) - 1))::INT END AS w
           FROM documents),
         h AS (SELECT doc_id,
           list_transform(generate_series(1, greatest(length(text) - 8 + 1, 1)),
             i -> list_sum(list_transform(generate_series(1, 15),
               p -> ((strpos('0123456789abcdef', substr(md5(substr(text, i, 8)), p, 1)) - 1)::BIGINT
                     << (4 * (15 - p)))))::BIGINT) AS kh
           FROM documents),
         w AS (SELECT doc_id, list_distinct(list_transform(
             generate_series(1, greatest(len(kh) - wv.w + 1, 1)),
             j -> list_min(kh[j:j+wv.w-1]))) AS fps FROM h, wv),
         f AS (SELECT doc_id, unnest(fps) AS fp FROM w)"""

  /** DuckDB twin of the text_stats projection — shared by the DataFrame
    * row and its SQL-front-door twin (`sql_text_stats`), which make the
    * identical computation through `spark.sql` + the registered
    * `text_gate_stats` kernel.
    */
  /** DuckDB twin of exact dedup — shared by `dedup_exact` and its
    * SQL-front-door twin (one md5-of-normalized-text fingerprint, one
    * combinable GROUP BY).
    */
  private val duckDedupExactOracle: String =
    """SELECT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fingerprint,
       min(doc_id) AS keep_id, count(*) AS dup_count
       FROM documents GROUP BY 1"""

  lazy val rows: Seq[Row] = Seq(
    Row("sql_dedup_exact", (s, dir) => {
      // SQL front door for exact dedup: the fingerprint is plain
      // md5-of-normalized-text, so the whole operator is one SQL
      // statement — same single combinable-aggregate shuffle as the
      // DataFrame form.
      Tables.documents(s, dir).createOrReplaceTempView("documents_v")
      s.sql("""SELECT md5(regexp_replace(lower(trim(text)), '\\s+', ' ')) AS fingerprint,
                      min(doc_id) AS keep_id, count(*) AS dup_count
               FROM documents_v GROUP BY fingerprint""")
    },
      duckDedupExactOracle),

    Row("dedup_lines_intra", (s, dir) =>
      // C4's within-document rule: keep each distinct line's FIRST
      // occurrence, preserve document order. Pure per-row array
      // arithmetic — no shuffle at any corpus size. The corpus is
      // single-line prose, so the row runs over the deterministic
      // multi-line fixture view (lines of 8 own-tokens + planted
      // boilerplate/self-dup lines — both md5 draws the oracle
      // replays); ~20% of docs carry a within-doc duplicate to drop
      graft.textops.LineDedup.dedupLinesIntra(
        graft.textops.LineDedup.multilineFixture(
          Tables.documents(s, dir), "doc_id", "text"),
        "doc_id", "text"),
      // replays the multi-line fixture (8-token lines + the two md5
      // plant draws), then C4's keep-first-occurrence-within-doc:
      // an element survives iff its index IS its value's first index
      s"""WITH $lineFixtureCtes,
         l AS (SELECT doc_id, ls, i, ls[i] AS line
               FROM ml, unnest(generate_series(1, len(ls))) AS t(i)),
         k AS (SELECT doc_id, i, line FROM l
               WHERE list_position(ls, line) = i)
         SELECT ml.doc_id, len(ml.ls)::BIGINT AS n_lines,
           c.n_kept, c.text_clean
         FROM ml JOIN (SELECT doc_id, count(*)::BIGINT AS n_kept,
             string_agg(line, chr(10) ORDER BY i) AS text_clean
           FROM k GROUP BY doc_id) c USING (doc_id)"""),

    Row("dedup_lines_corpus", (s, dir) =>
      // MassiveText/RefinedWeb's cross-document rule: a line survives
      // only at its globally FIRST occurrence (min (doc_id, pos)) —
      // the planted cookie-banner boilerplate drops from every doc
      // but one. Line strings never shuffle: (xxhash64, doc_id, pos)
      // 24-byte rows feed one combinable min agg + one hash-keyed
      // join; cleaned text is rebuilt from each doc's own lines by
      // surviving position
      graft.textops.LineDedup.dedupLinesCorpus(
        graft.textops.LineDedup.multilineFixture(
          Tables.documents(s, dir), "doc_id", "text"),
        "doc_id", "text"),
      // same fixture, then the MassiveText cross-document rule: a
      // line survives only at its global min (doc_id, position).
      // The oracle keys on the line STRING where the engine keys on
      // xxhash64 of the same string (the novelty_score collision
      // convention)
      s"""WITH $lineFixtureCtes,
         l AS (SELECT doc_id, ls, i, ls[i] AS line
               FROM ml, unnest(generate_series(1, len(ls))) AS t(i)),
         f1 AS (SELECT line, min(doc_id) AS d0 FROM l GROUP BY line),
         f2 AS (SELECT l.line, l.doc_id, min(l.i) AS i0 FROM l
               JOIN f1 ON l.line = f1.line AND l.doc_id = f1.d0
               GROUP BY l.line, l.doc_id),
         k AS (SELECT l.doc_id, l.i, l.line FROM l
               JOIN f2 ON l.line = f2.line AND l.doc_id = f2.doc_id
                 AND l.i = f2.i0)
         SELECT ml.doc_id, len(ml.ls)::BIGINT AS n_lines,
           COALESCE(c.n_kept, 0)::BIGINT AS n_kept,
           COALESCE(c.text_clean, '') AS text_clean
         FROM ml LEFT JOIN (SELECT doc_id, count(*)::BIGINT AS n_kept,
             string_agg(line, chr(10) ORDER BY i) AS text_clean
           FROM k GROUP BY doc_id) c USING (doc_id)"""),

    Row("dedup_lines_incremental", (s, dir) => {
      // line-granularity DAILY INGEST: doc_id % 10 >= 7 plays the
      // crawl increment — deliberately ORTHOGONAL to the fixture's
      // md5 plants, so increment docs carry the boilerplate line the
      // corpus already owns (a real cross-set drop) plus their own
      // self-dup plants (the within-increment first-occurrence rule).
      // Increment line hashes broadcast; the corpus never shuffles
      val d = graft.textops.LineDedup.multilineFixture(
        Tables.documents(s, dir), "doc_id", "text")
      val isInc = pmod(col("doc_id"), lit(10)) >= 7
      graft.textops.LineDedup.dedupLinesIncremental(
        d.filter(isInc), d.filter(!isInc), "doc_id", "text")
    },
      linesIncrementalOracle),

    Row("dedup_exact", (s, dir) =>
      Dedup.exact(Tables.documents(s, dir), "doc_id", "text"),
      duckDedupExactOracle),

    Row("dedup_minhash", (s, dir) =>
      // bands = -1 = AUTO: geometry derived from the corpus count
      // (Dedup.scaledBandGeometry) — identical to 8x2 below the 65536
      // knee (every driver sf, zsf1), rows grow ~1/decade above it
      Dedup.minhashLsh(Tables.documents(s, dir), "doc_id", "text",
        shingleSize = 3, bands = -1, rowsPerBand = -1, threshold = 0.5),
      s"""WITH $minhashPairCtes
         SELECT doc_a, doc_b, jaccard FROM mpairs"""),

    Row("dedup_minhash_cjk", (s, dir) =>
      // the SAME minhash pipeline over segmentScripts-padded text —
      // zero signature churn, one extra codegen'd regexp pass. The
      // fixture plants no-space Han near-dup pairs (id-partners share
      // a 32-ideograph base, differ in a 4-kana suffix): unsegmented,
      // each doc is ONE token → one whole-text shingle → the pairs
      // are invisible; segmented, character shingles carry them at
      // jaccard ≈ 0.79 (DedupSpec pins both directions)
      Dedup.minhashLsh(
        cjkFixture(Tables.documents(s, dir))
          .withColumn("text", TextOps.segmentScripts(col("text"))),
        "doc_id", "text",
        shingleSize = 3, bands = -1, rowsPerBand = -1, threshold = 0.5),
      // the planted fixture + segmentScripts pad, then the IDENTICAL
      // signature/band/verify CTEs over the padded relation
      s"""WITH $cjkFixtureCtes,
         seg AS (SELECT doc_id, ${duckSegment("text")} AS text FROM cjk),
         ${minhashPairCtesFrom("seg")}
         SELECT doc_a, doc_b, jaccard FROM mpairs"""),

    Row("dedup_minhash_capstats", (s, dir) => {
      // the bucket cap's OBSERVABILITY row: per band, how many LSH
      // buckets exceed maxBucket=64 and how many banded keys they
      // carry (= what lshCandidatePairs drops). The fixture plants a
      // 71-strong exact-duplicate pile (70 re-crawls of doc 0), whose
      // identical signatures flood one bucket in EVERY band past the
      // cap — so the dropped mass is non-zero and hash-checked
      val d = Tables.documents(s, dir)
      val planted = d.filter(col("doc_id") === 0)
        .select(explode(sequence(lit(1), lit(70))).as("k"), col("text"))
        .select((lit(20000000L) + col("k")).as("doc_id"), col("text"))
      val crawl = d.select(col("doc_id"), col("text")).unionAll(planted)
      Dedup.lshCapAudit(crawl, "doc_id", "text", shingleSize = 3,
        bands = 8, rowsPerBand = 2, maxBucket = 64)
    },
      s"""WITH crawl AS (
           SELECT doc_id, text FROM documents
           UNION ALL
           SELECT 20000000 + k, text
           FROM documents, (SELECT unnest(generate_series(1, 70)) AS k)
           WHERE doc_id = 0),
         ${minhashBandedCtesFrom("crawl")},
         bs AS (SELECT bnd, bucket, count(*) AS n FROM banded GROUP BY 1, 2)
         SELECT bnd AS band, count(*) AS n_buckets,
           count(*) FILTER (n > 64) AS n_over_cap,
           coalesce(sum(n) FILTER (n > 64), 0)::BIGINT AS keys_dropped
         FROM bs GROUP BY 1"""),

    Row("dedup_clusters", (s, dir) =>
      // pairs are edges; the dedup decision needs components — transitive
      // closure by distributed min-label propagation over minhash pairs
      Dedup.clusters(Dedup.minhashLsh(Tables.documents(s, dir), "doc_id",
        "text", shingleSize = 3, bands = -1, rowsPerBand = -1,
        threshold = 0.5)),
      s"""WITH RECURSIVE $minhashClusterCtes
         SELECT node AS doc_id, cluster_id,
           count(*) OVER (PARTITION BY cluster_id) AS cluster_size
         FROM lbl"""),

    Row("dedup_resolve", (s, dir) => {
      val d = Tables.documents(s, dir)
      Dedup.resolve(d, "doc_id", Dedup.minhashLsh(d, "doc_id", "text",
        shingleSize = 3, bands = -1, rowsPerBand = -1, threshold = 0.5))
    },
      s"""WITH RECURSIVE $minhashClusterCtes
         SELECT d.doc_id, COALESCE(l.cluster_id, d.doc_id) AS keep_id,
           d.doc_id = COALESCE(l.cluster_id, d.doc_id) AS kept
         FROM documents d LEFT JOIN lbl l ON l.node = d.doc_id"""),

    Row("dedup_resolve_best", (s, dir) => {
      // canonical-by-QUALITY resolve: among each near-dup cluster's
      // members keep the highest 6dp heuristic score (ties to the
      // smallest id) — what production dedup ships, vs resolve's
      // arbitrary smallest-id. One combinable struct-argmax per
      // cluster + a cluster-keyed join back; no corpus window
      val d = Tables.documents(s, dir)
      Dedup.resolveBest(d, "doc_id", "text",
        Dedup.minhashLsh(d, "doc_id", "text",
          shingleSize = 3, bands = -1, rowsPerBand = -1, threshold = 0.5))
    },
      // same closure CTEs; the canonical pick replays as a rank over
      // (quality DESC, doc_id) per cluster — identical 6dp doubles on
      // both sides, so the ordering agrees row for row
      s"""WITH RECURSIVE $minhashClusterCtes,
         rqb AS (SELECT doc_id, $duckQualityParts FROM documents),
         rq AS (SELECT doc_id, $duckQualityFromParts AS q FROM rqb),
         rm AS (SELECT d.doc_id, COALESCE(l.cluster_id, d.doc_id) AS grp,
               rq.q
             FROM documents d LEFT JOIN lbl l ON l.node = d.doc_id
             JOIN rq ON rq.doc_id = d.doc_id),
         rbest AS (SELECT grp, doc_id AS keep_id FROM (
             SELECT grp, doc_id, row_number() OVER (PARTITION BY grp
               ORDER BY q DESC, doc_id ASC) AS rn FROM rm) WHERE rn = 1)
         SELECT rm.doc_id, rbest.keep_id,
           rm.doc_id = rbest.keep_id AS kept
         FROM rm JOIN rbest USING (grp)"""),

    Row("split_leakage_free", (s, dir) => {
      // 80/10/10 train/val/test where the md5 draw keys on the near-dup
      // CLUSTER representative — a whole duplicate cluster lands in one
      // split, so no test doc has a near-copy in train
      val d = Tables.documents(s, dir)
      Dedup.splitLeakageFree(d, "doc_id", Dedup.minhashLsh(d, "doc_id",
        "text", shingleSize = 3, bands = -1, rowsPerBand = -1,
        threshold = 0.5))
    },
      // same closure CTEs; the split draw replays the md5 bucket on the
      // cluster representative
      s"""WITH RECURSIVE $minhashClusterCtes,
         k AS (SELECT d.doc_id,
               COALESCE(l.cluster_id, d.doc_id) AS keep_id
             FROM documents d LEFT JOIN lbl l ON l.node = d.doc_id),
         b AS (SELECT doc_id, keep_id,
               list_sum(list_transform(generate_series(1, 15),
                 p -> ((strpos('0123456789abcdef',
                        substr(md5(keep_id::VARCHAR), p, 1)) - 1)::BIGINT
                       << (4 * (15 - p)))))::BIGINT % 100 AS bucket
             FROM k)
         SELECT doc_id, keep_id, bucket,
           CASE WHEN bucket < 80 THEN 'train'
                WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split
         FROM b"""),

    Row("dedup_editdist", (s, dir) =>
      // small-edit near-dup pairs: the SAME LSH candidate machinery
      // (ids-only band shuffles, bucket caps), verified by Levenshtein
      // over 400-char prefixes — the threshold form abandons the DP at
      // maxDist and a prefix-length band check prunes before any DP
      Dedup.editDistancePairs(Tables.documents(s, dir), "doc_id",
        "text", maxDist = 40, prefixLen = 400),
      // replays the LSH candidate CTEs (only `p` is referenced — the
      // Jaccard-verify CTEs after it stay unevaluated) and verifies
      // with DuckDB's levenshtein over the same 400-char prefixes;
      // exact integer distances, no float parity concern
      s"""WITH $minhashPairCtes,
         tx AS (SELECT doc_id, substr(text, 1, 400) AS t FROM documents)
         SELECT p.doc_a, p.doc_b, levenshtein(a.t, b.t) AS dist
         FROM p JOIN tx a ON a.doc_id = p.doc_a
           JOIN tx b ON b.doc_id = p.doc_b
         WHERE abs(len(a.t) - len(b.t)) <= 40
           AND levenshtein(a.t, b.t) <= 40"""),

    Row("dedup_simhash", (s, dir) =>
      Dedup.simhashPairs(Tables.documents(s, dir), "doc_id", "text",
        maxHamming = 3),
      s"""WITH $simhashPairCtes
         SELECT doc_a, doc_b, hamming FROM spairs"""),

    Row("dedup_clusters_simhash", (s, dir) =>
      // the CC operator is pair-source-agnostic: same closure over
      // SimHash Hamming pairs instead of MinHash Jaccard pairs
      Dedup.clusters(Dedup.simhashPairs(Tables.documents(s, dir), "doc_id",
        "text", maxHamming = 3).select(col("doc_a"), col("doc_b"))),
      s"""WITH RECURSIVE ${simhashPairCtes + closureCtes("spairs")}
         SELECT node AS doc_id, cluster_id,
           count(*) OVER (PARTITION BY cluster_id) AS cluster_size
         FROM lbl"""),

    Row("ngram_jaccard", (s, dir) =>
      // sorted-prefix (in-array AllPairs) form with the maxDf
      // boilerplate cap (the dedup_spans convention): shingles in more
      // than 16 documents leave the SETS before prefix, candidate join,
      // and verify — a frequency-f shingle costs ~((1-t)f)^2 candidate
      // pairs and the hottest f grows linearly on Zipf text, so an
      // ABSOLUTE cap is what keeps candidate volume linear at 100 TB
      // (a relative cap re-admits the quadratic term). Jaccard is then
      // measured over DISTINCTIVE shingles; the uncapped form is
      // ngramJaccard (equivalence-tested against maxDf = 0), and
      // ngram_df_capstats makes the dropped mass visible
      Dedup.ngramJaccardSortedPrefix(Tables.documents(s, dir), "doc_id",
        "text", shingleSize = 3, threshold = 0.8, maxDf = 16),
      // the maxDf=16 boilerplate cap replayed on shingle STRINGS
      // (engine counts df on xxhash64 of the shingle — identical up to
      // vanishing in-pair collisions, the same contract as the verify)
      """WITH toks AS (SELECT doc_id,
           list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS w
           FROM documents),
         idx AS (SELECT doc_id, w,
           unnest(generate_series(1, greatest(len(w) - 2, 1))) AS i FROM toks),
         sh0 AS (SELECT DISTINCT doc_id,
           CASE WHEN len(w) < 3 THEN array_to_string(w, ' ')
                ELSE w[i] || ' ' || w[i+1] || ' ' || w[i+2] END AS shingle FROM idx),
         dfc AS (SELECT shingle FROM sh0 GROUP BY shingle
                 HAVING count(*) <= 16),
         sh AS (SELECT sh0.doc_id, sh0.shingle FROM sh0 JOIN dfc USING (shingle)),
         sz AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
         p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
               FROM sh a JOIN sh b USING (shingle)
               WHERE a.doc_id < b.doc_id GROUP BY 1, 2)
         SELECT doc_a, doc_b, inter,
           round(inter::DOUBLE / (x.n_sh + y.n_sh - inter), 6) AS jaccard
         FROM p JOIN sz x ON x.doc_id = doc_a JOIN sz y ON y.doc_id = doc_b
         WHERE inter::DOUBLE / (x.n_sh + y.n_sh - inter) >= 0.8"""),

    Row("ngram_df_capstats", (s, dir) => {
      // the cap's OBSERVABILITY row (no silent recall cliff): how many
      // distinct shingles the df cap drops and how much posting mass
      // they carried — the number a pipeline owner watches when
      // deciding whether 16 still means 'boilerplate' on their corpus
      val d = Tables.documents(s, dir)
      val sh = d.select(col("doc_id"),
        // Kernels.wordShingles output is already per-doc distinct, so
        // count(*) per shingle IS its document frequency
        explode_outer(graft.textops.TextOps.shinglesFromTokens(
          graft.textops.TextOps.tokens(lower(col("text"))), 3))
          .as("shingle"))
      sh.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
        .agg(count(lit(1)).as("n_shingles"),
          count(when(col("df") > 16, 1)).as("n_hot"),
          coalesce(sum(when(col("df") > 16, col("df"))), lit(0L))
            .cast("long").as("postings_dropped"))
    },
      """WITH toks AS (SELECT doc_id,
           list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS w
           FROM documents),
         idx AS (SELECT doc_id, w,
           unnest(generate_series(1, greatest(len(w) - 2, 1))) AS i FROM toks),
         sh AS (SELECT DISTINCT doc_id,
           CASE WHEN len(w) < 3 THEN array_to_string(w, ' ')
                ELSE w[i] || ' ' || w[i+1] || ' ' || w[i+2] END AS shingle FROM idx),
         dfs AS (SELECT shingle, count(*) AS df FROM sh GROUP BY 1)
         SELECT count(*) AS n_shingles,
           count(*) FILTER (df > 16) AS n_hot,
           coalesce(sum(df) FILTER (df > 16), 0)::BIGINT AS postings_dropped
         FROM dfs"""),

    Row("dedup_spans", (s, dir) =>
      // passage-level reuse: pairs sharing >= 5 winnow fingerprints
      // after df-capping corpus-wide boilerplate spans. w = AUTO: the
      // window grows log₂ with corpus size past 65536 docs
      // (Dedup.scaledWinnowWindow — the band-bits scale law applied to
      // fingerprint density; identical to w=4 at every driver sf, and
      // the oracle re-derives the same window from its own count(*))
      Dedup.spanPairs(Tables.documents(s, dir), "doc_id", "text",
        k = 8, w = -1, minShared = 5, maxDf = 16),
      // replays Dedup.spanPairs(k=8, w=AUTO, minShared=5, maxDf=16) on
      // the SCALED winnow-fingerprint CTEs (window re-derived from
      // count(*)): df-cap the boilerplate fingerprints, self-join,
      // count shared fps per ordered pair
      s"""WITH $duckWinnowFpScaledCtes,
         d AS (SELECT fp FROM f GROUP BY fp HAVING count(*) <= 16),
         p AS (SELECT f.doc_id, f.fp FROM f JOIN d USING (fp))
         SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared
         FROM p a JOIN p b ON a.fp = b.fp AND a.doc_id < b.doc_id
         GROUP BY 1, 2 HAVING count(*) >= 5"""),

    Row("dedup_substrings", (s, dir) =>
      // EXACT substring dedup (Lee et al. ExactSubstr at word
      // granularity): maximal runs of duplicated 20-token grams; one
      // hash-only corpus exchange, candidate-scale after the dup filter
      Dedup.substrings(Tables.documents(s, dir), "doc_id", "text", k = 20),
      // Lee et al. ExactSubstr replayed relationally: positional word
      // 20-grams (the Spark side joins on the gram's 64-bit hash; the
      // oracle joins on the gram string — equal absent collisions, the
      // standing contract of every hashed candidate generator), window
      // count marks duplicated positions, pos - row_number() groups
      // maximal runs
      """WITH t AS (SELECT doc_id,
           list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS toks
           FROM documents),
         g AS (SELECT doc_id, unnest(generate_series(1, len(toks) - 19)) AS i,
           toks FROM t WHERE len(toks) >= 20),
         g2 AS (SELECT doc_id, i - 1 AS pos,
           array_to_string(toks[i:i+19], ' ') AS gram FROM g),
         m AS (SELECT doc_id, pos FROM
           (SELECT doc_id, pos, count(*) OVER (PARTITION BY gram) AS n FROM g2)
           WHERE n >= 2),
         r AS (SELECT doc_id, pos, pos - row_number()
             OVER (PARTITION BY doc_id ORDER BY pos) AS run FROM m)
         SELECT doc_id, min(pos)::BIGINT AS start_tok,
           (max(pos) + 20)::BIGINT AS end_tok,
           (max(pos) + 20 - min(pos))::BIGINT AS n_tokens
         FROM r GROUP BY doc_id, run"""),

    Row("dedup_substrings_char", (s, dir) =>
      // character-level ExactSubstr: 50-code-point grams catch verbatim
      // runs that start/end mid-word (templated boilerplate with
      // interpolated values) — same one-exchange positional machinery
      Dedup.substringsChar(Tables.documents(s, dir), "doc_id", "text",
        k = 50),
      // the character-granularity twin: positions enumerate code points
      // (DuckDB's substr/length are character-indexed, matching the
      // kernel's code-point walk); the Spark side joins on the gram's
      // 64-bit hash, the oracle on the gram string — equal absent
      // collisions, the standing hashed-candidate contract
      """WITH g AS (SELECT doc_id,
           unnest(generate_series(1, length(text) - 49)) AS i, text
           FROM documents WHERE length(text) >= 50),
         g2 AS (SELECT doc_id, i - 1 AS pos, substr(text, i, 50) AS gram
           FROM g),
         m AS (SELECT doc_id, pos FROM
           (SELECT doc_id, pos, count(*) OVER (PARTITION BY gram) AS n
            FROM g2) WHERE n >= 2),
         r AS (SELECT doc_id, pos, pos - row_number()
             OVER (PARTITION BY doc_id ORDER BY pos) AS run FROM m)
         SELECT doc_id, min(pos)::BIGINT AS start_chr,
           (max(pos) + 50)::BIGINT AS end_chr,
           (max(pos) + 50 - min(pos))::BIGINT AS n_chars
         FROM r GROUP BY doc_id, run"""),

    Row("dedup_spans_incremental", (s, dir) => {
      // passage-level daily ingest: same md5-bucket split (>= 70 plays
      // the increment); the increment's winnow fp keys broadcast
      // against the corpus fingerprint stream — the corpus never
      // shuffles, and the boilerplate cap runs post-probe where the
      // matched count per fp IS its corpus df
      val d = Tables.documents(s, dir)
      val bucket = graft.util.Sampling.md5Bucket(col("doc_id"))
      Dedup.spanIncremental(d.filter(bucket >= 70), d.filter(bucket < 70),
        "doc_id", "text", k = 8, w = 4, minShared = 5, maxDf = 16)
    },
      spanIncrementalOracle),

    Row("dedup_spans_stored", (s, dir) => {
      // the persisted-store form of the passage-level ingest check:
      // the store frame stands in for parquet the corpus wrote at its
      // own ingest time (round-trip pinned in DedupSpec); stored df ==
      // post-probe matched count for probed fps, so output is
      // identical to dedup_spans_incremental (same oracle)
      val d = Tables.documents(s, dir)
      val bucket = graft.util.Sampling.md5Bucket(col("doc_id"))
      val store = graft.dedup.SignatureStore.buildSpans(
        d.filter(bucket < 70), "doc_id", "text", k = 8, w = 4)
      Dedup.spanIncrementalStored(d.filter(bucket >= 70), store,
        "doc_id", "text", k = 8, w = 4, minShared = 5, maxDf = 16)
    },
      // the stored probe makes the IDENTICAL decision from the persisted
      // (doc_id, fp, df) frame — same oracle, like dedup_minhash_stored
      spanIncrementalOracle),

    Row("dedup_spans_stored_updated", (s, dir) => {
      // the span-store twin of dedup_minhash_stored_updated — the
      // passage-level daily-ingest loop CLOSED: probe increment A,
      // merge the accepted docs' span deltas (df BUMPED on colliding
      // fingerprints, not left stale), probe increment B against the
      // updated store — a B doc re-serving a passage an ACCEPTED A doc
      // introduced is caught
      // store0 from PARQUET (the dedup_spans_probe convention, same
      // store dir): probe/append/probe then re-scan 8-byte (doc_id,
      // fp, df) rows; the in-DAG buildSpans form re-ran the corpus
      // winnow kernel once per plan fork — ~8 passes, 117s at the
      // 100× anchor, for the identical decision
      val d = Tables.documents(s, dir)
      val bucket = graft.util.Sampling.md5Bucket(col("doc_id"))
      val incA = d.filter(bucket >= 70 && bucket < 85)
      val incB = d.filter(bucket >= 85)
      val sd = ensureSpansStore(s, dir)
      val store0 = graft.dedup.SignatureStore.readSpans(s, sd)
      // increment B's winnow checkpoint is store-independent — built
      // concurrently with the whole A phase (guide §2.6)
      import scala.concurrent.{Await, Future}
      import scala.concurrent.ExecutionContext.Implicits.global
      import scala.concurrent.duration.Duration
      val fpsBF = Future(Dedup.spanIncFps(incB, "doc_id", "text",
        k = 8, w = 4))
      val fpsA = Dedup.spanIncFps(incA, "doc_id", "text", k = 8, w = 4)
      val probeA = Dedup.spanStoredProbeFromFps(incA, fpsA, store0,
        "doc_id", minShared = 5, maxDf = 16)
      // bounded accepted-ids checkpoint (the pairUpdatedStored
      // convention) — truncates the A-probe DAG out of the B probe's
      // plan; decisions unchanged. The accepted DELTA rows derive from
      // the A probe's own winnow checkpoint (broadcast id filter) —
      // r16 re-winnowed the accepted slice inside the B plan
      // (spanDeltaRows over the raw accepted docs); winnowing is per-row
      // deterministic, so the rows are identical (pinned in DedupSpec)
      val accIds = probeA.filter(col("is_new")).select(col("doc_id"))
        .localCheckpoint()
      val accDeltas = fpsA.join(
          broadcast(accIds.withColumnRenamed("doc_id", "inc_id")),
          "inc_id")
        .select(col("inc_id").as("doc_id"), col("fp"))
      val store1 = graft.dedup.SignatureStore.mergeSpanDeltas(store0,
        accDeltas)
      Dedup.spanStoredProbeFromFps(incB,
        Await.result(fpsBF, Duration.Inf), store1,
        "doc_id", minShared = 5, maxDf = 16)
    },
      spanStoredUpdatedOracle),

    Row("dedup_incremental", (s, dir) => {
      // daily-ingest decision: md5-bucket >= 70 plays the incoming
      // batch, the rest the already-deduped corpus; the incoming
      // fingerprints broadcast, the corpus never shuffles
      val d = Tables.documents(s, dir)
      val bucket = graft.util.Sampling.md5Bucket(col("doc_id"))
      Dedup.exactIncremental(d.filter(bucket >= 70), d.filter(bucket < 70),
        "doc_id", "text")
    },
      exactIncrementalOracle),

    Row("dedup_bloom_probe", (s, dir) => {
      // the recrawl-scale exact ingest decision: persisted fingerprint
      // store + Bloom membership sketch (built once at corpus-ingest
      // time — the _probe convention); the timed row never reads the
      // corpus, and the verify broadcast carries only bloom-POSITIVE
      // fingerprints. Decision identical to dedup_incremental — same
      // oracle.
      val d = Tables.documents(s, dir)
      val bucket = graft.util.Sampling.md5Bucket(col("doc_id"))
      val sd = ensureBloomStore(s, dir)
      Dedup.exactIncrementalBloom(d.filter(bucket >= 70),
        graft.dedup.BloomStore.read(s, sd)._1, "doc_id", "text")
    },
      // the Bloom prefilter + persisted fingerprint store make the SAME
      // decision (no false negatives; false positives die in the verify
      // join) — the store/sketch round-trip changes the physics only
      exactIncrementalOracle),

    Row("dedup_bloom_probe_updated", (s, dir) => {
      // the exact-ingest A/B loop CLOSED through the PERSISTED sketch
      // (the _updated convention, completing the set beside
      // minhash/spans/semantic): at store-setup time (bench warmup,
      // like every _probe build) increment A (bucket 70-84) was probed
      // and its accepted fingerprints appended with
      // BloomStore.appendWrite — parquet append + same-geometry sketch
      // merge, O(increment), no rebuild; the timed plan probes
      // increment B (bucket >= 85) against the GROWN store, so a B doc
      // duplicating an ACCEPTED A doc is caught by the bloom path and
      // one duplicating a REJECTED A doc is not re-flagged
      // (arrival-order-wins). Own store family ("bloom_ab") so the
      // single-probe dedup_bloom_probe row's corpus-only store stays
      // untouched.
      val d = Tables.documents(s, dir)
      val bucket = graft.util.Sampling.md5Bucket(col("doc_id"))
      val sd = ensureBloomAbStore(s, dir)
      Dedup.exactIncrementalBloom(d.filter(bucket >= 85),
        graft.dedup.BloomStore.read(s, sd)._1, "doc_id", "text")
    },
      bloomUpdatedOracle),

    Row("dedup_lines_bloom_probe", (s, dir) => {
      // the Bloom prefilter at LINE granularity — the regime the
      // sketch was built for (lines ≫ docs at recrawl scale): the
      // persisted store holds the corpus's DISTINCT line hashes
      // (8 bytes each, built once at corpus-ingest time) plus the
      // membership sketch; the timed plan explodes only the INCREMENT
      // (doc_id % 10 >= 7, the dedup_lines_incremental split), bloom-
      // prefilters its line owners map-side, and verifies the
      // positives against the stored hash column — the corpus text is
      // never read. Decision bit-identical to dedup_lines_incremental
      // (no false negatives; verify kills false positives) — same
      // oracle.
      val d = linesFixture(s, dir)
      val isInc = pmod(col("doc_id"), lit(10)) >= 7
      val sd = ensureBloomLinesStore(s, dir)
      graft.textops.LineDedup.dedupLinesIncrementalBloom(d.filter(isInc),
        graft.dedup.BloomStore.read(s, sd)._1, "doc_id", "text")
    },
      // the Bloom-prefiltered line probe is decision-bit-identical to
      // the direct incremental (no false negatives; the verify join
      // kills the sketch's false positives) — same oracle
      linesIncrementalOracle),

    Row("dedup_lines_bloom_probe_updated", (s, dir) => {
      // the line-granularity A/B ingest LOOP closed — the last
      // modality without one (minhash/spans/semantic/exact/image/
      // video/audio each have theirs): at store-setup time increment
      // A (doc_id % 10 in {7,8}) was probed and its KEPT lines'
      // hashes appended with BloomStore.appendWrite (the kept lines
      // round-trip exactly through text_clean: n_kept separators
      // rebuild the same line set the decision kept, empty-output
      // docs filtered on n_kept); the timed plan probes increment B
      // (doc_id % 10 = 9) against the grown store, so a B line that
      // an ACCEPTED A doc introduced is dropped cross-increment
      // (ScaleGen's neighbor-copy plants land across the %10 split at
      // the anchors; DedupSpec pins the catch on planted docs). Own
      // store family ("bloom_lines_ab") so the single-probe row's
      // corpus-only store stays untouched.
      val d = linesFixture(s, dir)
      val m10 = pmod(col("doc_id"), lit(10))
      val sd = ensureBloomLinesAbStore(s, dir)
      graft.textops.LineDedup.dedupLinesIncrementalBloom(d.filter(m10 === 9),
        graft.dedup.BloomStore.read(s, sd)._1, "doc_id", "text")
    },
      linesUpdatedOracle),

    Row("dedup_minhash_incremental", (s, dir) => {
      // the near-dup daily-ingest decision: same md5-bucket split as
      // dedup_incremental (>= 70 plays the crawl increment); the
      // increment's band keys broadcast against the corpus's banded
      // signature frame — the corpus never shuffles
      val d = Tables.documents(s, dir)
      val bucket = graft.util.Sampling.md5Bucket(col("doc_id"))
      Dedup.minhashIncremental(d.filter(bucket >= 70), d.filter(bucket < 70),
        "doc_id", "text", shingleSize = 3, bands = 8, rowsPerBand = 2,
        threshold = 0.5)
    },
      minhashIncrementalOracle),

    Row("dedup_minhash_stored", (s, dir) => {
      // the persisted-signature-store form of the same ingest decision:
      // the store frames stand in for parquet the corpus wrote at its
      // own ingest time (SinksSpec-style round-trip pinned in
      // DedupSpec), so probing touches no corpus text
      val d = Tables.documents(s, dir)
      val bucket = graft.util.Sampling.md5Bucket(col("doc_id"))
      val store = graft.dedup.SignatureStore.build(d.filter(bucket < 70),
        "doc_id", "text", shingleSize = 3, bands = 8, rowsPerBand = 2)
      Dedup.minhashIncrementalStored(d.filter(bucket >= 70), store,
        "doc_id", "text", shingleSize = 3, bands = 8, rowsPerBand = 2,
        threshold = 0.5)
    },
      // the stored-probe form computes the IDENTICAL decision (hashed
      // verify arrays intersect like the string sets, same rounded
      // jaccard), so it shares the incremental oracle verbatim
      minhashIncrementalOracle),

    Row("dedup_minhash_probe", (s, dir) => {
      // the PROBE-ONLY form: reads the signature store from parquet
      // persisted at "corpus ingest time" (first invocation builds and
      // writes it — the bench's warmup pass — so the TIMED passes and
      // this row measure what a daily ingest actually pays: O(increment)
      // signing + broadcast probes against the stored frames, no corpus
      // text, no signature kernel). Decision identical to
      // dedup_minhash_stored — same oracle.
      val d = Tables.documents(s, dir)
      val bucket = graft.util.Sampling.md5Bucket(col("doc_id"))
      val sd = ensureMinhashStore(s, dir)
      Dedup.minhashIncrementalStored(d.filter(bucket >= 70),
        graft.dedup.SignatureStore.read(s, sd),
        "doc_id", "text", shingleSize = 3, bands = 8, rowsPerBand = 2,
        threshold = 0.5)
    },
      // the parquet-persisted probe rows make the SAME decision again —
      // the store round-trip changes the physics (what the bench row
      // measures), never the answer
      minhashIncrementalOracle),

    Row("dedup_minhash_stored_updated", (s, dir) => {
      // the daily-ingest LOOP closed: probe increment A, append the
      // ACCEPTED (is_new) docs' signatures to the store
      // (SignatureStore.append — O(increment), no corpus rebuild),
      // then probe increment B against the updated store — a B doc
      // near-duplicating an ACCEPTED A doc is caught, one rejected as
      // a dup of the corpus is not re-added (arrival-order-wins)
      // store0 comes from PARQUET persisted at "corpus ingest time"
      // (the dedup_minhash_probe convention — the SAME store dir, so
      // it is written at most once per sf dir): every probe/append
      // consumer then re-SCANS 8-byte store rows instead of re-running
      // the corpus signature kernel once per plan fork — the in-DAG
      // build form cost ~4 corpus kernel passes (54s at the 100×
      // anchor) for the identical decision
      val d = Tables.documents(s, dir)
      val bucket = graft.util.Sampling.md5Bucket(col("doc_id"))
      val incA = d.filter(bucket >= 70 && bucket < 85)
      val incB = d.filter(bucket >= 85)
      val sd = ensureMinhashStore(s, dir)
      val store0 = graft.dedup.SignatureStore.read(s, sd)
      // the pairUpdatedStored convention (r16): checkpoint the
      // accepted IDS (bounded, increment-sized) so the B probe's plan
      // does not embed the ENTIRE A-probe DAG once per store fork —
      // the un-truncated form planned a 190 KB tree
      // (plans/r16/dedup_minhash_stored_updated_before.txt) whose
      // Catalyst/AQE planning dwarfed its execution. Since r17 the
      // accepted LAYER derives from the A probe's own fused signature
      // checkpoint (Dedup.acceptedLayerFromSig) — zero re-signing and
      // zero extra checkpoint jobs where r16 spent two
      // increment B's fused signature checkpoint is store-independent:
      // fire it concurrently with the whole A phase (guide §2.6)
      import scala.concurrent.{Await, Future}
      import scala.concurrent.ExecutionContext.Implicits.global
      import scala.concurrent.duration.Duration
      val sigBF = Future(Dedup.minhashIncSig(incB, "doc_id", "text",
        shingleSize = 3, bands = 8, rowsPerBand = 2))
      val sigA = Dedup.minhashIncSig(incA, "doc_id", "text",
        shingleSize = 3, bands = 8, rowsPerBand = 2)
      val (incIdsA, verifiedA) = Dedup.minhashStoredProbeFromSig(sigA,
        store0, bands = 8, rowsPerBand = 2, threshold = 0.5, maxBucket = 64)
      val probeA = Dedup.minhashBestDecision(incIdsA, verifiedA)
      val accIds = probeA.filter(col("is_new")).select(col("doc_id"))
        .localCheckpoint()
      val accLayer = Dedup.acceptedLayerFromSig(sigA, accIds,
        bands = 8, rowsPerBand = 2)
      val store1 = graft.dedup.SignatureStore.Store(
        store0.banded.unionByName(accLayer.banded),
        store0.shingleHashes.unionByName(accLayer.shingleHashes))
      val (incIdsB, verifiedB) = Dedup.minhashStoredProbeFromSig(
        Await.result(sigBF, Duration.Inf), store1,
        bands = 8, rowsPerBand = 2, threshold = 0.5, maxBucket = 64)
      Dedup.minhashBestDecision(incIdsB, verifiedB)
    },
      minhashStoredUpdatedOracle),

    Row("dedup_spans_probe", (s, dir) => {
      // probe-only passage-level ingest: winnow-fp store read from
      // parquet (built+written on first invocation, i.e. bench warmup);
      // the denormalized df makes the boilerplate cap a pushed scan
      // predicate. Decision identical to dedup_spans_stored.
      val d = Tables.documents(s, dir)
      val bucket = graft.util.Sampling.md5Bucket(col("doc_id"))
      val sd = ensureSpansStore(s, dir)
      Dedup.spanIncrementalStored(d.filter(bucket >= 70),
        graft.dedup.SignatureStore.readSpans(s, sd),
        "doc_id", "text", k = 8, w = 4, minShared = 5, maxDf = 16)
    },
      spanIncrementalOracle),

    Row("dedup_spans_probe_updated", (s, dir) => {
      // the DELTA-append form of the closed span-ingest loop — what a
      // literal daily ingest runs between compactions: day 1's
      // accepted docs were appended as bare (doc_id, fp) parquet
      // deltas (appendSpansWrite — O(increment), NO store rewrite; the
      // probe-A + delta write happen once at store setup, i.e. bench
      // warmup, like every _probe row's build), and the timed plan
      // probes increment B against base store + deltas with the
      // effective df (base df + delta rows per fp) derived lazily for
      // probed fps only. Decision IDENTICAL to
      // dedup_spans_stored_updated (same oracle); plan-fenced in
      // PlanAuditSpec: no store rewrite, no corpus re-winnowing.
      val d = Tables.documents(s, dir)
      val bucket = graft.util.Sampling.md5Bucket(col("doc_id"))
      val incB = d.filter(bucket >= 85)
      val sd = ensureSpansDeltas(s, dir)
      Dedup.spanIncrementalStoredDelta(incB,
        graft.dedup.SignatureStore.readSpans(s, sd),
        graft.dedup.SignatureStore.readSpanDeltas(s, sd),
        "doc_id", "text", k = 8, w = 4, minShared = 5, maxDf = 16)
    },
      // the delta-append probe makes the IDENTICAL decision over the
      // identical membership (base corpus + accepted A deltas vs inc B)
      spanStoredUpdatedOracle),

    Row("store_capstats", (s, dir) => {
      // the STORE-HEALTH datasheet (the capstats convention applied to
      // the store files themselves): one row per persisted ingest
      // family — total persisted rows, rows appended beyond the base
      // build, and the family's own refit/fold signal (bloom sketches:
      // meta.overfull, the sketch outgrew its bit geometry and fpp is
      // drifting — run compact; spans: un-folded delta files awaiting
      // compactSpans; append-final stores: 0) — so "is any store due
      // for compaction" is a measured, oracle-checked integer row
      // instead of an in-code assumption. The timed row reads metas
      // and parquet footer counts only: zero corpus work, zero
      // decodes, zero fits. The oracle replays every count from the
      // base tables (store states after warmup are deterministic
      // functions of them — the family-ensure helpers are the single
      // source of truth for what each store contains).
      import graft.dedup.{BloomStore, MediaStore, SignatureStore}
      def metaRow(family: String, sd: String) = {
        val m = BloomStore.readMeta(sd)
        s.range(1).select(lit(family).as("family"),
          lit(m.actualN).as("n_rows"),
          lit(m.actualN - m.expectedN).as("n_appended"),
          lit(if (m.overfull) 1L else 0L).as("due_compact"))
      }
      def cntRow(family: String, frame: DataFrame, appended: Column) =
        frame.agg(count(lit(1)).as("_n"),
            sum(when(appended, 1L).otherwise(0L)).as("_a"))
          .select(lit(family).as("family"), col("_n").as("n_rows"),
            coalesce(col("_a"), lit(0L)).as("n_appended"),
            lit(0L).as("due_compact"))
      val spansSd = ensureSpansDeltas(s, dir)
      val spansRow = SignatureStore.readSpans(s, spansSd)
        .agg(count(lit(1)).as("_b"))
        .crossJoin(SignatureStore.readSpanDeltas(s, spansSd)
          .agg(count(lit(1)).as("_d")))
        .select(lit("spans").as("family"),
          (col("_b") + col("_d")).as("n_rows"),
          col("_d").as("n_appended"),
          (col("_d") > 0).cast("long").as("due_compact"))
      (Seq(metaRow("bloom", ensureBloomStore(s, dir)),
        metaRow("bloom_ab", ensureBloomAbStore(s, dir)),
        metaRow("bloom_lines", ensureBloomLinesStore(s, dir)),
        metaRow("bloom_lines_ab", ensureBloomLinesAbStore(s, dir)),
        cntRow("minhash", SignatureStore.read(s,
          ensureMinhashStore(s, dir)).banded, lit(false)),
        spansRow,
        cntRow("semantic", graft.simops.SemanticStore.read(s,
          ensureSemanticStore(s, dir)).assigned, lit(false))) ++
        Modalities.map(m => cntRow(m.family,
          MediaStore.read(s, ensureMediaStore(s, dir, m)), lit(false))) ++
        Seq(cntRow("vecindex",
          openVecIndex(s, ensureVecIndexStore(s, dir)).coded, lit(false)),
        cntRow("vecindex_ab",
          openVecIndex(s, ensureVecIndexAbStore(s, dir)).coded,
          graft.util.Sampling.md5Bucket(col("vec_id")) >= 70)))
        .reduce(_ unionByName _)
    }, {
      // every persisted-store count replayed from the base tables:
      // store states after warmup are deterministic functions of them
      // — bloom metas (actualN = base + accepted-A appends, overfull
      // when grown), the lines fixture's distinct corpus/kept-A lines,
      // banded minhash rows (8 per corpus doc), winnow base + accepted
      // delta rows, assignment/codes counts for the vector stores
      val pct = duckMd5Pct("doc_id")
      val media = Modalities.map(m => s"\n         UNION ALL SELECT " +
        s"'${m.family}', nd.n, 0::BIGINT, 0::BIGINT FROM nd").mkString
      s"""WITH $lineFixtureCtes,
         $linesAcceptedACtes,
         b AS (SELECT doc_id,
           md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fingerprint,
           $pct AS bucket
           FROM documents),
         $bloomAcceptedACtes,
         $duckWinnowFpCtes,
         wsb AS (SELECT doc_id, $pct AS sbucket FROM documents),
         ${spanProbeCtes("1",
             "wsb.sbucket >= 70 AND wsb.sbucket < 85", "wsb.sbucket < 70")},
         sacc AS (SELECT doc_id FROM wsb WHERE sbucket >= 70 AND sbucket < 85
                  AND doc_id NOT IN (SELECT inc_id FROM wsh1)),
         nd AS (SELECT count(*)::BIGINT AS n FROM documents WHERE $pct < 70),
         ne AS (SELECT count(*)::BIGINT AS n FROM embeddings),
         nec AS (SELECT count(*)::BIGINT AS n FROM embeddings
                 WHERE ${duckMd5Pct("vec_id")} < 70),
         nacc AS (SELECT count(*)::BIGINT AS n FROM acc),
         nlines AS (SELECT count(DISTINCT line)::BIGINT AS n FROM l
                    WHERE doc_id % 10 < 7),
         nka AS (SELECT count(DISTINCT line)::BIGINT AS n FROM ka),
         nspan AS (SELECT count(*)::BIGINT AS n FROM f
                   JOIN wsb USING (doc_id) WHERE wsb.sbucket < 70),
         nsdelta AS (SELECT count(*)::BIGINT AS n FROM f
                     WHERE f.doc_id IN (SELECT doc_id FROM sacc))
         SELECT 'bloom' AS family, nd.n AS n_rows, 0::BIGINT AS n_appended,
           0::BIGINT AS due_compact FROM nd
         UNION ALL SELECT 'bloom_ab', nd.n + nacc.n, nacc.n,
           (nacc.n > 0)::BIGINT FROM nd, nacc
         UNION ALL SELECT 'bloom_lines', nlines.n, 0::BIGINT, 0::BIGINT
           FROM nlines
         UNION ALL SELECT 'bloom_lines_ab', nlines.n + nka.n, nka.n,
           (nka.n > 0)::BIGINT FROM nlines, nka
         UNION ALL SELECT 'minhash', 8 * nd.n, 0::BIGINT, 0::BIGINT FROM nd
         UNION ALL SELECT 'spans', nspan.n + nsdelta.n, nsdelta.n,
           (nsdelta.n > 0)::BIGINT FROM nspan, nsdelta
         UNION ALL SELECT 'semantic', nec.n, 0::BIGINT, 0::BIGINT FROM nec$media
         UNION ALL SELECT 'vecindex', ne.n, 0::BIGINT, 0::BIGINT FROM ne
         UNION ALL SELECT 'vecindex_ab', ne.n, ne.n - nec.n, 0::BIGINT
           FROM ne, nec"""
    })
  )
}
