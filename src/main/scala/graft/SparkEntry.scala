package graft

import graft.dedup.Dedup
import graft.lagops.{ArrayLag, DistributedLag, LagMatrix, LagSpec, Lead, Rolling}
import graft.multimodal.Multimodal
import graft.plans.AsOfJoin
import graft.simops.{Ivf, Similarity}
import graft.sources.Tables
import graft.streaming.StreamingOps
import graft.textops.TextOps
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every operator from SURVEY.md §2.4 (reference semantics + north-star
  * training-data-pipeline extensions) has a `queries` entry; the
  * SQL-expressible ones carry a DuckDB oracle in `oracleSql` with
  * IDENTICAL column names. Determinism rules (SURVEY.md §7.3): unique
  * tiebreak keys in every ordering; timestamps emitted as epoch
  * micro/nanosecond longs; double aggregates either exact (decimal
  * accumulation) or rounded well inside the float error margin.
  */
object SparkEntry {

  private val INF = "CAST('infinity' AS DOUBLE)"

  /** DuckDB CTE prefix shared by every MinHash oracle: tokens →
    * shingles (`sh`) → md5 double-hash signature → LSH band keys
    * (`banded(doc_id, bnd, bucket)`). [[minhashPairCtes]] appends the
    * batch pair pipeline; the `dedup_minhash_incremental` oracle appends
    * the broadcast-probe pipeline — both replay the SAME signature
    * definition, so they can never drift. Parameterized on the source
    * relation (default `documents`) so composed pipelines
    * (`corpus_clean_near`) replay the identical signature over their
    * own survivor CTE.
    */
  private def minhashBandedCtesFrom(src: String) =
    s"""toks AS (SELECT doc_id,
           list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS w
           FROM $src),
         idx AS (SELECT doc_id, w,
           unnest(generate_series(1, greatest(len(w) - 2, 1))) AS i FROM toks),
         sh AS (SELECT DISTINCT doc_id,
           CASE WHEN len(w) < 3 THEN array_to_string(w, ' ')
                ELSE w[i] || ' ' || w[i+1] || ' ' || w[i+2] END AS shingle FROM idx),
         hh AS (SELECT doc_id, md5(shingle) AS m FROM sh),
         hv AS (SELECT doc_id,
             list_sum(list_transform(generate_series(1, 15),
               p -> ((strpos('0123456789abcdef', substr(m, p, 1)) - 1)::BIGINT
                     << (4 * (15 - p)))))::BIGINT AS h1,
             list_sum(list_transform(generate_series(1, 14),
               p -> ((strpos('0123456789abcdef', substr(m, 16 + p, 1)) - 1)::BIGINT
                     << (4 * (14 - p)))))::BIGINT AS h2
           FROM hh),
         sig AS (SELECT doc_id, j, min(h1 + j * h2) AS m
                 FROM hv, (SELECT unnest(generate_series(0, 15)) AS j)
                 GROUP BY doc_id, j),
         banded AS (SELECT doc_id, j // 2 AS bnd,
             md5((j // 2) || '#' || string_agg(m::VARCHAR, ',' ORDER BY j)) AS bucket
           FROM sig GROUP BY doc_id, j // 2)"""

  private val minhashBandedCtes = minhashBandedCtesFrom("documents")

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
         l AS (SELECT doc_id, ls, i, ls[i] AS line
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
                 AND n.i = fa2.i0),
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

  /** [[minhashBandedCtes]] + the batch pair pipeline mirroring
    * [[graft.dedup.Dedup.minhashLsh]] (bucket cap → candidate pairs →
    * exact-Jaccard verify), ending in `mpairs(doc_a, doc_b, jaccard)`.
    * The `dedup_minhash` oracle selects from it directly; the
    * `dedup_clusters` / `dedup_resolve` oracles build a recursive
    * transitive closure over the same pairs, so all three rows check
    * the same pipeline.
    */
  private def minhashPairCtesFrom(src: String) = minhashBandedCtesFrom(src) +
    """,
         capped AS (SELECT bnd, bucket, doc_id FROM banded
           QUALIFY count(*) OVER (PARTITION BY bnd, bucket) <= 64),
         p AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
               FROM capped x JOIN capped y USING (bnd, bucket)
               WHERE x.doc_id < y.doc_id),
         sz AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
         iv AS (SELECT p.doc_a, p.doc_b, count(*) AS inter
                FROM p JOIN sh x ON x.doc_id = p.doc_a
                JOIN sh y ON y.doc_id = p.doc_b AND y.shingle = x.shingle
                GROUP BY 1, 2),
         mpairs AS (SELECT iv.doc_a, iv.doc_b,
           round(iv.inter::DOUBLE / (sx.n_sh + sy.n_sh - iv.inter), 6) AS jaccard
         FROM iv JOIN sz sx ON sx.doc_id = iv.doc_a
         JOIN sz sy ON sy.doc_id = iv.doc_b
         WHERE round(iv.inter::DOUBLE / (sx.n_sh + sy.n_sh - iv.inter), 6) >= 0.5)"""

  private val minhashPairCtes = minhashPairCtesFrom("documents")

  /** DuckDB mirrors of [[graft.textops.TextOps.cjkPadClass]] /
    * [[graft.textops.TextOps.seaBaseClass]] /
    * [[graft.textops.TextOps.seaMarkClass]] — identical code-point
    * ranges spelled in RE2's `\x{…}` syntax (NOT `\p{Han}`/`\p{M}`:
    * property classes drift across the engines' Unicode versions;
    * explicit ranges cannot; RE2 has no `\X` at all).
    */
  private val duckCjkPadClass: String =
    "[\\x{3040}-\\x{30FF}\\x{3400}-\\x{4DBF}\\x{4E00}-\\x{9FFF}" +
      "\\x{F900}-\\x{FAFF}" +
      "\\x{20000}-\\x{2A6DF}\\x{2F800}-\\x{2FA1F}]"
  private val duckSeaBaseClass: String =
    "[\\x{0E00}-\\x{0E7F}\\x{0E80}-\\x{0EFF}" +
      "\\x{1000}-\\x{109F}\\x{1780}-\\x{17FF}]"
  private val duckSeaMarkClass: String =
    "[\\x{0E31}\\x{0E34}-\\x{0E3A}\\x{0E47}-\\x{0E4E}" +
      "\\x{0EB1}\\x{0EB4}-\\x{0EBC}\\x{0EC8}-\\x{0ECD}" +
      "\\x{102B}-\\x{103E}\\x{17B4}-\\x{17D3}\\x{17DD}]"

  /** DuckDB replay of [[graft.textops.TextOps.segmentScripts]]: Han/
    * kana per code point, SEA scripts per grapheme cluster (base +
    * trailing dependent signs) — the identical alternation, leftmost-
    * first in both engines.
    */
  private def duckSegment(e: String): String =
    s"regexp_replace($e, '($duckCjkPadClass|" +
      s"$duckSeaBaseClass$duckSeaMarkClass*)', ' \\1 ', 'g')"

  /** Hex→Han map for the planted-CJK fixture: the 10 zh stopwords
    * first (so a planted doc's language signal is real), 6 common Han
    * fillers after.
    */
  private val cjkHan16 = "的是了在和有我不这他中大来上国人"
  private val cjkKata16 = "アイウエオカキクケコサシスセソタ"

  /** The html_extract_main fixture page around each document's text —
    * shared by `html_extract_main`, `warc_response_extract`, and
    * `crawl_clean` (oracle twin: [[htmlMainCtes]]'s `hm` CTE). Plants
    * the three boilerplate shapes a real page carries around its
    * prose (nav bar, link farm, entity-laden footer) plus a prose
    * block with an inline link the keep rule must retain.
    */
  private def htmlFixturePage: org.apache.spark.sql.Column = concat(
    lit("<html><head><title>Doc "), col("doc_id").cast("string"),
    lit("</title><script>var nav = 1 &amp;&amp; 2;</script>" +
      "<style>a { color: blue; }</style></head><body>" +
      "<nav><a href=\"/\">Home</a> <a href=\"/about\">About</a> " +
      "<a href=\"/contact\">Contact</a></nav><p>"),
    col("text"),
    lit("</p><p>Read the full guide at <a href=\"/guide\">the " +
      "documentation portal</a> for complete details today</p><div>"),
    expr("repeat('<a href=\"/deal\">hot deal item</a> ', 4)"),
    lit("</div><footer>Copyright &amp; terms</footer></body></html>"))

  /** The planted-CJK fixture the multilingual twin rows share: docs
    * whose PAIR key (doc_id div 2) lands in md5 bucket < 30 have their
    * text swapped for a NO-SPACE mixed-script string — 32 Han chars
    * derived from the pair key (so id-partners 2k/2k+1 share the base:
    * a planted near-dup pair) plus a 4-katakana per-doc suffix (so the
    * pair is near, not exact). Everything derives from md5(doc_id), so
    * the DuckDB oracle replays it exactly ([[cjkFixtureCtes]]).
    */
  private def cjkFixture(d: DataFrame): DataFrame = {
    val hex = "0123456789abcdef"
    val bucket = graft.util.Sampling.md5Bucket(expr("doc_id div 2"))
    val base = translate(
      md5(expr("doc_id div 2").cast("string")), hex, cjkHan16)
    val suf = translate(
      substring(md5(col("doc_id").cast("string")), 1, 4), hex, cjkKata16)
    d.select(col("doc_id"), col("lang"),
      when(bucket < 30, concat(base, suf)).otherwise(col("text")).as("text"))
  }

  /** DuckDB twin of [[cjkFixture]]; ends in `cjk(doc_id, lang, text)`.
    * No leading WITH.
    */
  private val cjkFixtureCtes: String =
    s"""cjkb AS (SELECT doc_id, lang, text,
           list_sum(list_transform(generate_series(1, 15),
             p -> ((strpos('0123456789abcdef',
                    substr(md5((doc_id // 2)::VARCHAR), p, 1)) - 1)::BIGINT
                   << (4 * (15 - p)))))::BIGINT % 100 AS bucket
           FROM documents),
         cjk AS (SELECT doc_id, lang,
           CASE WHEN bucket < 30 THEN
             translate(md5((doc_id // 2)::VARCHAR),
               '0123456789abcdef', '$cjkHan16')
             || translate(substr(md5(doc_id::VARCHAR), 1, 4),
               '0123456789abcdef', '$cjkKata16')
           ELSE text END AS text FROM cjkb)"""

  /** Hex→Thai map for the planted-SEA fixture: digits 0–9 → consonants
    * (grapheme-cluster BASES), a–f → combining dependent signs (SARA A,
    * SARA I, SARA II, MAI EK, MAI THO, MAI TRI — all in
    * [[graft.textops.TextOps.seaMarkClass]]), so a translated md5
    * string is a deterministic mix of bases and attaching marks.
    */
  private val seaThai16 =
    "กขคงจฉชซดต" +
      "ัิี่้๊"

  /** The planted-Thai fixture behind `text_stats_sea`: docs in md5
    * bucket < 30 have their text swapped for the 32-char translate of
    * their own md5 under [[seaThai16]] — ~3/8 of the chars are
    * combining signs, so per-CODE-POINT segmentation (round 11's rule)
    * would count ~32 tokens while grapheme-cluster segmentation counts
    * only the bases (plus orphan leading-sign runs). Everything
    * derives from md5(doc_id); the oracle replays it exactly.
    */
  private def seaFixture(d: DataFrame): DataFrame =
    d.select(col("doc_id"),
      when(graft.util.Sampling.md5Bucket(col("doc_id")) < 30,
        translate(md5(col("doc_id").cast("string")),
          "0123456789abcdef", seaThai16))
        .otherwise(col("text")).as("text"))

  /** DuckDB twin of [[seaFixture]]; ends in `sea(doc_id, text)`. No
    * leading WITH.
    */
  private val seaFixtureCtes: String =
    s"""seab AS (SELECT doc_id, text,
           list_sum(list_transform(generate_series(1, 15),
             p -> ((strpos('0123456789abcdef',
                    substr(md5(doc_id::VARCHAR), p, 1)) - 1)::BIGINT
                   << (4 * (15 - p)))))::BIGINT % 100 AS bucket
           FROM documents),
         sea AS (SELECT doc_id,
           CASE WHEN bucket < 30 THEN
             translate(md5(doc_id::VARCHAR),
               '0123456789abcdef', '$seaThai16')
           ELSE text END AS text FROM seab)"""

  /** Recursive min-label transitive closure over a `(doc_a, doc_b)` pair
    * CTE (appended to its chain; the whole WITH is declared RECURSIVE),
    * ending in `lbl(node, cluster_id)` — the DuckDB mirror of
    * [[graft.dedup.Dedup.clusters]]'s fixpoint. `reach` enumerates every
    * (node, reachable-node) pair of the undirected pair graph; UNION
    * (distinct) bounds it at O(V²) rows of the tiny sf0.01 pair set.
    */
  private def closureCtes(pairsCte: String): String =
    s""",
         cedges AS (SELECT doc_a AS src, doc_b AS dst FROM $pairsCte
                    UNION SELECT doc_b, doc_a FROM $pairsCte),
         reach AS (SELECT src AS node, dst AS r FROM cedges
                   UNION
                   SELECT reach.node, e.dst FROM reach
                   JOIN cedges e ON reach.r = e.src),
         lbl AS (SELECT node, least(min(r), node) AS cluster_id
                 FROM reach GROUP BY node)"""

  private val minhashClusterCtes = minhashPairCtes + closureCtes("mpairs")

  /** Repo-local cache dir for the persisted-store probe queries, keyed
    * by the sf dir's basename so sf0.01 (correctness) and sf0.1
    * (bench) never share a store (same-named dirs are told apart by
    * the [[ensureStore]] fence). First invocation of a `_probe` query
    * builds and writes the store here (the bench's warmup pass); timed
    * passes only read it — the row measures the O(increment) probe,
    * which is the operator the stored family exists for.
    */
  private def storeDir(dir: String, family: String): String =
    s"benchdata/stores/${new java.io.File(dir).getName}/$family"

  /** Scratch dir `name` under java.io.tmpdir for the rows that
    * round-trip through a sink, deleted at JVM exit. The path is fixed
    * per name, not createTempDirectory: the writers overwrite it, so
    * repeated invocations (bench warmup + timed passes, repeated verify
    * runs) reuse one directory instead of accumulating corpus copies.
    * On a real cluster the caller hands the sinks shared storage
    * (s3://, hdfs://) — nothing in them is driver-local.
    */
  private def scratchDir(name: String): String = {
    val d = java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"), name)
      .toFile
    scratchDirs.add(d)
    d.toString
  }

  private lazy val scratchDirs: java.util.Set[java.io.File] = {
    val dirs = java.util.concurrent.ConcurrentHashMap.newKeySet[java.io.File]()
    sys.addShutdownHook(dirs.forEach { d =>
      org.apache.commons.io.FileUtils.deleteQuietly(d); () })
    dirs
  }

  /** Store-staleness fence: a `_SUCCESS` marker alone cannot tell a
    * store built with TODAY's parameters over TODAY's data from one an
    * earlier code revision, or other data, left behind — the probe
    * would then run against a stale store while the oracle replays the
    * new fit, a confusing hash mismatch. Every store family records a
    * fence in a `store.params` file: its geometry/fit constants (and a
    * layout version) plus [[dataFence]] of the sf dir; any mismatch
    * wipes the family dir and rebuilds it through `build(storeDir)`.
    * The params string is the single source of truth a row's
    * registered entry passes — change an entry's constants, or the
    * data under the sf dir, and the store self-heals on next touch.
    * Returns the family dir.
    */
  private def ensureStore(dir: String, family: String, marker: String,
                          params: String)(build: String => Unit): String = {
    val sd = storeDir(dir, family)
    val fence = s"$params\n${dataFence(dir)}"
    val pf = new java.io.File(sd, "store.params")
    val fresh = new java.io.File(sd, marker).exists() && pf.exists() && {
      val src = scala.io.Source.fromFile(pf, "UTF-8")
      try src.mkString == fence finally src.close()
    }
    if (!fresh) {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm)
        f.delete(); ()
      }
      val sdf = new java.io.File(sd)
      if (sdf.exists()) rm(sdf)
      build(sd)
      sdf.mkdirs()
      val w = new java.io.FileWriter(pf)
      try w.write(fence) finally w.close()
    }
    sd
  }

  /** What a store was built from: the sf dir's canonical path and a
    * sorted `relative-path length mtime` line per file under it. Two
    * sf dirs that share a basename (and so a [[storeDir]]), or a twin
    * regenerated in place, get different fences.
    */
  private def dataFence(dir: String): String = {
    import scala.jdk.CollectionConverters._
    val root = new java.io.File(dir).getCanonicalFile
    val files =
      if (!root.isDirectory) Nil
      else scala.util.Using.resource(java.nio.file.Files.walk(root.toPath)) {
        _.iterator().asScala.map(_.toFile).filter(_.isFile).map { f =>
          s"${root.toPath.relativize(f.toPath)} ${f.length} ${f.lastModified}"
        }.toList
      }
    (root.getPath +: files.sorted).mkString("\n")
  }

  /** One params string per store family (shared by every row that
    * touches the family, so the fence can never disagree with itself):
    * every constant baked into the store's layout or the decisions
    * derived from it, plus a layout version.
    */
  private val MinhashStoreParams =
    "v1 corpus=bkt<70 shingle=3 bands=8 rpb=2"
  private val SpansStoreParams =
    "v1 corpus=bkt<70 k=8 w=4 deltas=incA-bkt70-84 minShared=5 maxDf=16"
  private val SemanticStoreParams =
    "v1 corpus=bkt<70 tls=32 iters=1 pct=60"
  private val BloomDocsParams =
    "v1 corpus=bkt<70 fpp=0.03"
  private val BloomAbParams =
    "v1 corpus=bkt<70 incA=bkt70-84 fpp=0.03 appended"
  private val BloomLinesParams =
    "v1 corpus=doc_id%10<7 keys=distinct-line-xxhash64 fpp=0.03"
  private val BloomLinesAbParams =
    "v1 corpus=%10<7 incA=%10in7,8 keys=distinct-line-xxhash64 " +
      "fpp=0.03 appended"
  private val VecIndexParams =
    "v4 corpus=all hier tls=32 nprobe=4 m=8 k=16 iters=1 pct=60 dim=64 " +
      "res=1 part=mod256 sorted"
  private val VecIndexAbParams =
    "v4 corpus=bkt<70 inc=bkt>=70 hier tls=32 nprobe=4 m=8 k=16 iters=1 " +
      "pct=60 dim=64 res=1 part=mod256 sorted appended compacted"

  /** The OPENED serving index, one per store dir per session: a
    * serving process opens its index once and holds it (driver-side
    * coarse/codebook metadata + the partition-discovery file listing);
    * re-listing the bucketed `codes/` layout on every query batch is a
    * bench-harness artifact, not a deployment cost — the timed probe
    * rows measure the probe, the warmup pass pays the open.
    *
    * INVALIDATION CONTRACT: a cached handle serves a point-in-time
    * file listing, so any append/compact to the dir AFTER an open
    * must drop the entry ([[invalidateVecIndex]]) or later probes
    * silently miss appended files (append) or chase renamed ones
    * (compact). Today every append/compact runs inside the
    * family-ensure build blocks BEFORE the first open, and each
    * build block ends by invalidating defensively — a future call
    * site that mutates the dir mid-session must do the same.
    */
  private val vecIndexCache =
    scala.collection.concurrent.TrieMap
      .empty[String, graft.simops.VectorIndexStore.Store]

  private def openVecIndex(s: SparkSession,
                           sd: String): graft.simops.VectorIndexStore.Store =
    vecIndexCache.getOrElseUpdate(sd,
      graft.simops.VectorIndexStore.read(s, sd))

  private def invalidateVecIndex(sd: String): Unit = {
    vecIndexCache.remove(sd); ()
  }

  /** The semantic family's registered constants — the SAME values are
    * passed to the Scala entries below and default the oracle CTE
    * builder (`duckHierFitCtes`), so engine and oracle cannot
    * silently desynchronize when a parameter changes (r12 ADVICE).
    */
  private val SemanticDim = 64
  private val SemanticTargetListSize = 32
  private val SemanticFitPct = 60

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
  private final case class Modality(
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

  private def docBucket: Column = graft.util.Sampling.md5Bucket(col("doc_id"))

  private def mediaIds(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir).select(col("doc_id"))

  /** image: PNG decode → dHash (9×8 luma gradient); video: RIFF/AVI
    * demux → dHash of sampled frames 0,2,4,6 → majority vote; audio:
    * WAV SPI decode → ch-0 window sums → multiplicative mix bits.
    */
  private lazy val Modalities: Seq[Modality] = Seq(
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

  /** A registered row with its DuckDB oracle. */
  private final case class Row(name: String,
                               build: (SparkSession, String) => DataFrame,
                               oracle: String)

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
    val incOracle = mediaIncrementalOracleFrom(fx, src, hcol, mb)
    val pairOracle = pairNeardupOracleFrom(fx, src, hcol, mb)
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

  /** Family-ensure helpers: ONE definition of each persisted store
    * family's (dir, params, build block), shared by every row that
    * touches the family AND by the `store_capstats` health row — so
    * two rows can never disagree on what a family's store contains
    * (the r13 ADVICE duplication risk, closed structurally). Each
    * returns the family dir, building at most once per sf dir.
    */
  private def ensureBloomStore(s: SparkSession, dir: String): String =
    ensureStore(dir, "bloom", "fingerprints/_SUCCESS", BloomDocsParams) { sd =>
      val (st, meta) = graft.dedup.BloomStore.build(
        Tables.documents(s, dir).filter(docBucket < 70), "doc_id", "text")
      graft.dedup.BloomStore.write(st, meta, sd)
    }

  /** bloom_ab: corpus build PLUS the A-increment probe + appendWrite
    * at setup time (the `_updated` warmup convention — the persisted
    * state is deterministic, so B-probe decisions and the meta's
    * grown actualN replay exactly).
    */
  private def ensureBloomAbStore(s: SparkSession, dir: String): String =
    ensureStore(dir, "bloom_ab", "fingerprints/_SUCCESS", BloomAbParams) { sd =>
      val d = Tables.documents(s, dir)
      val (st, meta) = graft.dedup.BloomStore.build(
        d.filter(docBucket < 70), "doc_id", "text")
      graft.dedup.BloomStore.write(st, meta, sd)
      val probeA = Dedup.exactIncrementalBloom(
        d.filter(docBucket >= 70 && docBucket < 85), st, "doc_id", "text")
      graft.dedup.BloomStore.appendWrite(
        probeA.filter(col("is_new")).select(col("fingerprint")),
        st, meta, sd)
    }

  private def linesFixture(s: SparkSession, dir: String): DataFrame =
    graft.textops.LineDedup.multilineFixture(
      Tables.documents(s, dir), "doc_id", "text")

  private def ensureBloomLinesStore(s: SparkSession, dir: String): String =
    ensureStore(dir, "bloom_lines", "fingerprints/_SUCCESS",
        BloomLinesParams) { sd =>
      val (st, meta) = graft.dedup.BloomStore.buildLines(
        linesFixture(s, dir).filter(pmod(col("doc_id"), lit(10)) < 7),
        "text")
      graft.dedup.BloomStore.write(st, meta, sd)
    }

  private def ensureBloomLinesAbStore(s: SparkSession, dir: String): String =
    ensureStore(dir, "bloom_lines_ab", "fingerprints/_SUCCESS",
        BloomLinesAbParams) { sd =>
      val d = linesFixture(s, dir)
      val m10 = pmod(col("doc_id"), lit(10))
      val (st, meta) = graft.dedup.BloomStore.buildLines(
        d.filter(m10 < 7), "text")
      graft.dedup.BloomStore.write(st, meta, sd)
      val probeA = graft.textops.LineDedup.dedupLinesIncrementalBloom(
        d.filter(m10 === 7 || m10 === 8), st, "doc_id", "text")
      val acc = probeA.filter(col("n_kept") > 0)
        .select(explode(split(col("text_clean"), "\n")).as("_ln"))
        .select(xxhash64(col("_ln")).as("fingerprint")).distinct()
      graft.dedup.BloomStore.appendWrite(acc, st, meta, sd)
    }

  private def ensureMinhashStore(s: SparkSession, dir: String): String =
    ensureStore(dir, "minhash", "signatures/_SUCCESS",
        MinhashStoreParams) { sd =>
      graft.dedup.SignatureStore.write(
        graft.dedup.SignatureStore.build(
          Tables.documents(s, dir).filter(docBucket < 70),
          "doc_id", "text", shingleSize = 3, bands = 8, rowsPerBand = 2), sd)
    }

  private def ensureSpansStore(s: SparkSession, dir: String): String =
    ensureStore(dir, "spans", "span_fps/_SUCCESS", SpansStoreParams) { sd =>
      graft.dedup.SignatureStore.writeSpans(
        graft.dedup.SignatureStore.buildSpans(
          Tables.documents(s, dir).filter(docBucket < 70),
          "doc_id", "text", k = 8, w = 4), sd)
    }

  /** spans base PLUS the A-increment's accepted (doc_id, fp) delta
    * files (`appendSpansWrite` at setup — the delta-append daily form
    * `dedup_spans_probe_updated` times between compactions).
    */
  private def ensureSpansDeltas(s: SparkSession, dir: String): String = {
    val sd = ensureSpansStore(s, dir)
    if (!new java.io.File(s"$sd/span_deltas/_SUCCESS").exists()) {
      val d = Tables.documents(s, dir)
      val incA = d.filter(docBucket >= 70 && docBucket < 85)
      val probeA = Dedup.spanIncrementalStored(incA,
        graft.dedup.SignatureStore.readSpans(s, sd),
        "doc_id", "text", k = 8, w = 4, minShared = 5, maxDf = 16)
      val accepted = incA.join(
        probeA.filter(col("is_new")).select(col("doc_id")), "doc_id")
      graft.dedup.SignatureStore.appendSpansWrite(accepted, sd,
        "doc_id", "text", k = 8, w = 4)
    }
    sd
  }

  private def ensureSemanticStore(s: SparkSession, dir: String): String =
    ensureStore(dir, "semantic", "forest/_SUCCESS", SemanticStoreParams) { sd =>
      val e = Tables.embeddings(s, dir)
      graft.simops.SemanticStore.write(
        graft.simops.SemanticStore.build(
          e.filter(graft.util.Sampling.md5Bucket(col("vec_id")) < 70),
          "vec_id", "embedding", targetListSize = SemanticTargetListSize,
          iters = 1, fitSamplePct = SemanticFitPct), sd)
    }

  /** The modality's persisted (media_id, fingerprint) store: the
    * corpus side's fingerprints, decoded once.
    */
  private def ensureMediaStore(s: SparkSession, dir: String,
                               m: Modality): String =
    ensureStore(dir, m.family, "fingerprints/_SUCCESS", m.params) { sd =>
      graft.dedup.MediaStore.write(m.corpusFps(mediaIds(s, dir)), sd)
    }

  private def ensureVecIndexStore(s: SparkSession, dir: String): String =
    ensureStore(dir, "vecindex", "codes/_SUCCESS", VecIndexParams) { sd =>
      graft.simops.VectorIndexStore.write(
        graft.simops.VectorIndexStore.build(Tables.embeddings(s, dir),
          "vec_id", "embedding",
          targetListSize = SemanticTargetListSize, m = 8, k = 16,
          iters = 1, fitSamplePct = 60, dim = 64), sd)
      invalidateVecIndex(sd)
    }

  private def ensureVecIndexAbStore(s: SparkSession, dir: String): String =
    ensureStore(dir, "vecindex_ab", "codes/_SUCCESS", VecIndexAbParams) { sd =>
      val emb = Tables.embeddings(s, dir)
      val bucket = graft.util.Sampling.md5Bucket(col("vec_id"))
      val st = graft.simops.VectorIndexStore.build(
        emb.filter(bucket < 70), "vec_id", "embedding",
        targetListSize = SemanticTargetListSize, m = 8, k = 16,
        iters = 1, fitSamplePct = 60, dim = 64)
      graft.simops.VectorIndexStore.write(st, sd)
      // the append re-opens the WRITTEN store so the increment's
      // frozen-forest assignment reads the same parquet doubles a
      // later probe will (and the pre-write in-memory frames can be
      // GC'd) — decisions identical either way (exact round-trip)
      val st0 = graft.simops.VectorIndexStore.read(s, sd)
      graft.simops.VectorIndexStore.appendWrite(
        graft.simops.VectorIndexStore.encode(emb.filter(bucket >= 70),
          "vec_id", "embedding", st0), sd)
      // compact at append cadence (the serving contract): the A/B
      // store serves from a compacted ~one-file-per-bucket layout, so
      // the daily loop's file count stays bounded no matter how many
      // appends accumulate between rebuilds. Decisions unchanged
      // (append ≡ compacted-append pinned in EmbedStoreSpec).
      graft.simops.VectorIndexStore.compact(s, sd)
      invalidateVecIndex(sd)
    }

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

  private def plantedEmbeddings(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    e.unionByName(plantedCopies(e))
  }

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

  /** One broadcast-probe pipeline as suffixed CTEs (`incb$sfx` …
    * `best$sfx`), parameterized on the increment / corpus membership
    * predicates over `sb` — the building block the two-probe
    * `dedup_minhash_stored_updated` oracle applies twice, replaying
    * [[graft.dedup.Dedup.minhashIncrementalStored]] exactly like
    * [[minhashIncrementalOracle]] (whose single probe it textually
    * mirrors). Requires `banded`, `sb`, `sh`, `isz` in scope.
    */
  private def minhashProbeCtes(sfx: String, incPred: String,
                               corPred: String): String =
    s"""incb$sfx AS (SELECT b.doc_id, bnd, bucket FROM banded b
                  JOIN sb USING (doc_id) WHERE $incPred),
         corb$sfx AS (SELECT b.doc_id, bnd, bucket FROM banded b
                  JOIN sb USING (doc_id) WHERE $corPred),
         ikeys$sfx AS (SELECT DISTINCT bnd, bucket FROM incb$sfx),
         mat$sfx AS (SELECT c.doc_id, c.bnd, c.bucket FROM corb$sfx c
                 JOIN ikeys$sfx USING (bnd, bucket)),
         mcap$sfx AS (SELECT doc_id, bnd, bucket FROM mat$sfx
                  QUALIFY count(*) OVER (PARTITION BY bnd, bucket) <= 64),
         cand$sfx AS (SELECT DISTINCT i.doc_id AS inc_id, m.doc_id AS dup_id
                  FROM incb$sfx i JOIN mcap$sfx m USING (bnd, bucket)),
         iiv$sfx AS (SELECT cand$sfx.inc_id, cand$sfx.dup_id, count(*) AS inter
                 FROM cand$sfx JOIN sh x ON x.doc_id = cand$sfx.inc_id
                 JOIN sh y ON y.doc_id = cand$sfx.dup_id AND y.shingle = x.shingle
                 GROUP BY 1, 2),
         ver$sfx AS (SELECT iiv$sfx.inc_id, iiv$sfx.dup_id,
             round(iiv$sfx.inter::DOUBLE / (sx.n_sh + sy.n_sh - iiv$sfx.inter), 6) AS jaccard
           FROM iiv$sfx JOIN isz sx ON sx.doc_id = iiv$sfx.inc_id
           JOIN isz sy ON sy.doc_id = iiv$sfx.dup_id
           WHERE round(iiv$sfx.inter::DOUBLE / (sx.n_sh + sy.n_sh - iiv$sfx.inter), 6) >= 0.5),
         best$sfx AS (SELECT inc_id, dup_id, jaccard FROM (
             SELECT *, row_number() OVER (PARTITION BY inc_id
               ORDER BY jaccard DESC, dup_id) AS rn FROM ver$sfx) WHERE rn = 1)"""

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
  /** The global sequence-packing CTE chain (budget 2048), ending in
    * `packed(doc_id, n_tokens, pack_id, pack_offset)` — shared by the
    * `seq_pack` (per-doc) and `pack_manifest` (per-pack) oracles so
    * the packing definition can never drift between them.
    */
  private val duckSeqPackCtes =
    """b AS (SELECT doc_id,
           len(list_filter(string_split_regex(text, '\s+'), x -> x <> ''))::BIGINT AS n_tokens
           FROM documents),
         p AS (SELECT doc_id, n_tokens,
           COALESCE(sum(n_tokens) OVER (ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pre
           FROM b),
         packed AS (SELECT doc_id, n_tokens, CAST(pre // 2048 AS BIGINT) AS pack_id,
           CAST(pre % 2048 AS BIGINT) AS pack_offset FROM p)"""

  /** BPE token-count CTE chain, ending in `bcounts(doc_id, n_bpe)` —
    * shared by every `_bpe` budget oracle. The merge table is
    * interpolated from [[graft.functions.BpeVocab.merges]] (the same
    * fixture the Spark kernel carries, so the two sides cannot drift),
    * and the recursive CTE replays the kernel's exact SentencePiece
    * segmentation rule: merge the LEFTMOST occurrence of the
    * lowest-rank adjacent pair until no pair is in the table. Words are
    * encoded once each (DISTINCT), vocabulary-scale work, then joined
    * back to (doc, word) occurrences. Queries using this chain must
    * open with `WITH RECURSIVE`.
    */
  private lazy val duckBpeCtes: String =
    duckBpeCtesFor(graft.functions.BpeVocab.merges)

  private def duckBpeCtesFor(merges: Seq[(String, String)],
                             textExpr: String = "text",
                             byteLevel: Boolean = false): String = {
    val values = merges.zipWithIndex
      .map { case ((l, r), i) =>
        s"('${l.replace("'", "''")}','${r.replace("'", "''")}',$i)" }
      .mkString(", ")
    // byte-level seed: the word's UTF-8 bytes through the literal
    // byteToUnicode map (b2u, 1-indexed) — bytes extracted via the
    // uppercase hex fold, the engine-portable byte accessor
    val bseed =
      if (!byteLevel)
        """bseed AS (SELECT w, list_transform(generate_series(1, length(w)),
             i -> substr(w, i, 1)) AS syms FROM bw),"""
      else {
        val cps = graft.functions.BpeVocab.byteToUnicode.mkString(", ")
        s"""bmap AS (SELECT list_transform([$cps], c -> chr(c)) AS b2u),
         bseed AS (SELECT w, list_transform(
             generate_series(1, octet_length(encode(w))),
             i -> b2u[(strpos('0123456789ABCDEF',
                        substr(hex(encode(w)), 2*i-1, 1)) - 1) * 16
                      + strpos('0123456789ABCDEF',
                        substr(hex(encode(w)), 2*i, 1))]) AS syms
           FROM bw, bmap),"""
      }
    s"""bmerges(l, r, rank) AS (VALUES $values),
         brk AS (SELECT map(list(l || chr(1) || r ORDER BY rank),
                            list(rank ORDER BY rank)) AS m FROM bmerges),
         btok AS (SELECT doc_id,
           list_filter(string_split_regex($textExpr, '\\s+'), x -> x <> '') AS toks
           FROM documents),
         bw AS (SELECT DISTINCT unnest(toks) AS w FROM btok),
         $bseed
         benc AS (
           SELECT w, syms FROM bseed
           UNION ALL
           SELECT w, syms[1:bi-1] || [syms[bi] || syms[bi+1]] || syms[bi+2:] AS syms
           FROM (SELECT w, syms,
                   CASE WHEN list_min(rks) < 2147483647
                        THEN list_position(rks, list_min(rks)) END AS bi
                 FROM (SELECT w, syms,
                         list_transform(generate_series(1, len(syms) - 1),
                           i -> coalesce(map_extract(m, syms[i] || chr(1) || syms[i+1])[1],
                                         2147483647)) AS rks
                       FROM benc, brk))
           WHERE bi IS NOT NULL),
         bwc AS (SELECT w, min(len(syms))::BIGINT AS wtok FROM benc GROUP BY w),
         bflat AS (SELECT doc_id, unnest(toks) AS w FROM btok),
         bcounts AS (SELECT t.doc_id, COALESCE(s.n_bpe, 0)::BIGINT AS n_bpe
           FROM btok t LEFT JOIN (SELECT doc_id, sum(wtok) AS n_bpe
             FROM bflat JOIN bwc USING (w) GROUP BY doc_id) s USING (doc_id))"""
  }

  /** Order/partition clause shared by all events-window oracles. */
  private val EvW = "ORDER BY ts, event_id"
  private val EvWP = "PARTITION BY user_id ORDER BY ts, event_id"

  /** BM25 probe queries (terms drawn from the synthetic corpus
    * vocabulary so every query has matching docs); shared verbatim by
    * the registered query and its oracle's VALUES list. */
  private val BmQueries = Seq(
    "q1" -> "hash join merge",
    "q2" -> "window agg stream",
    "q3" -> "customer order line")

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

  /** Flagship query on the sf0.001 test tables, the entry point of the
    * contract with [[queries]] and [[oracleSql]] (RegistrySpec checks it
    * returns rows).
    * Lag features per user joined against each user's mean: "which events
    * exceeded the user's average after rising for two steps" — the
    * value-vs-recent-history question the reference's lag matrices feed.
    */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    val ev = Tables.events(spark, dir)
    val lagged = LagMatrix.wide(ev, "value",
      LagSpec(Seq("ts_ns", "event_id"), Seq("user_id"), Seq(0, 1, 2), None))
    val userAvg = ev.groupBy("user_id").agg(avg("value").as("user_avg"))
    lagged.join(broadcast(userAvg), "user_id")
      .filter(col("value") > col("user_avg"))
      .select("user_id", "event_id", "value", "value_lag_1", "value_lag_2",
        "user_avg")
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Map[String, (SparkSession, String) => DataFrame](

    // ---- reference lag-matrix family (SURVEY §2.1 O1-O9) ----
    "lag_1d" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      LagMatrix.wide(ev, "value", LagSpec(Seq("ts_ns", "event_id"), Nil,
          Seq(0, 1, 2, 3), Some(Double.PositiveInfinity)))
        .select("event_id", "value", "value_lag_1", "value_lag_2", "value_lag_3")
    }),

    "lag_1d_arbitrary_order" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      LagMatrix.wide(ev, "value",
          LagSpec(Seq("ts_ns", "event_id"), Nil, Seq(3, 1, 2), None))
        .select("event_id", "value_lag_3", "value_lag_1", "value_lag_2")
    }),

    "lag_null_fill" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      LagMatrix.wide(ev, "value",
          LagSpec(Seq("ts_ns", "event_id"), Nil, Seq(0, 2), None))
        .select("event_id", "value", "value_lag_2")
    }),

    "lag_2d_partitioned" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      LagMatrix.wide(ev, "value", LagSpec(Seq("ts_ns", "event_id"),
          Seq("user_id"), Seq(0, 1, 2, 3), Some(Double.PositiveInfinity)))
        .select("user_id", "event_id", "value",
          "value_lag_1", "value_lag_2", "value_lag_3")
    }),

    "lag_long_format" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      LagMatrix.long(ev, "value",
          LagSpec(Seq("ts_ns", "event_id"), Seq("user_id"), Seq(1, 2), None))
        .select("user_id", "event_id", "lag", "value")
    }),

    "lag_2d_colmajor" -> ((s, dir) => {
      // the ColumnMajor ingest edge (reference src/lib.rs:999-1075,
      // ndarray_support.rs): a fixed flat column-major matrix (3 series
      // × 8 steps) is layout-normalized by SeriesInput.from2D, then
      // lagged exactly like any long-format input. Independent of `dir`
      // on purpose — the matrix is the reference-test-style literal.
      val data = (1 to 24).map(_.toDouble)
      LagMatrix.wide(
          graft.lagops.SeriesInput.from2D(s, data,
            graft.lagops.ColumnMajor(8)),
          "value", LagSpec(Seq("t"), Seq("series_id"), Seq(0, 1, 2),
            Some(-1.0)))
        .select(col("series_id").cast("long").as("series_id"), col("t"),
          col("value"), col("value_lag_1"), col("value_lag_2"))
    }),

    "lead_1d" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      Lead.wide(ev, "value",
          LagSpec(Seq("ts_ns", "event_id"), Nil, Seq(0, 1, 2), None))
        .select("event_id", "value", "value_lead_1", "value_lead_2")
    }),

    "lag_matrix_array" -> ((s, dir) => {
      // uses the codegen'd ArrayShiftExpr (one allocation per row); the
      // built-in-composition twin ArrayLag.shift is equivalence-tested
      val emb = Tables.embeddings(s, dir)
      emb.select(col("vec_id"),
          posexplode(graft.functions.ArrayShiftExpr(col("embedding"), 2, None))
            .as(Seq("pos", "v")))
        .select(col("vec_id"), col("pos"), col("v").cast("double").as("val"))
    }),

    "lag_distributed" -> ((s, dir) => {
      // same result as a global-order lag, computed via range buckets +
      // boundary pads (no single-partition window) — the 100 TB path
      val ev = Tables.events(s, dir)
      DistributedLag.wide(ev, "value",
          LagSpec(Seq("ts_ns", "event_id"), Nil, Seq(0, 1, 2, 3), None),
          numBuckets = 32)
        .select("event_id", "value", "value_lag_1", "value_lag_2", "value_lag_3")
    }),

    "rolling_agg" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      Rolling.over(ev, "value",
          LagSpec(Seq("ts_ns", "event_id"), Seq("user_id"), Seq(1)), 4)
        .select(col("user_id"), col("event_id"), col("value"),
          round(col("value_roll_avg_4"), 6).as("roll_avg"),
          round(col("value_roll_sum_4"), 6).as("roll_sum"),
          col("value_roll_min_4").as("roll_min"),
          col("value_roll_max_4").as("roll_max"),
          col("value_roll_n_4").as("roll_n"))
    }),

    "ewma" -> ((s, dir) => {
      // per-user exponentially-weighted value (alpha 0.3, 16 terms):
      // one collapsed Window pass over all 16 weighted lag columns
      val ev = Tables.events(s, dir)
      graft.lagops.Ewma.over(ev, "value",
          LagSpec(Seq("ts_ns", "event_id"), Seq("user_id"), Seq(1), None),
          alpha = 0.3, window = 16)
        .select("user_id", "event_id", "value", "value_ewma")
    }),

    "lag_ffill" -> ((s, dir) => {
      // gap-filling: ~20% of values knocked out deterministically, then
      // forward-filled per user (LOCF); leading gaps -> -1 sentinel so
      // the nullable double survives the oracle hash-compare
      val ev = Tables.events(s, dir)
        .withColumn("v_sparse",
          when(col("event_id") % 5 =!= 0, col("value")))
      graft.lagops.Ffill.over(ev, "v_sparse",
          LagSpec(Seq("ts_ns", "event_id"), Seq("user_id"), Seq(1), None))
        .select(col("user_id"), col("event_id"),
          round(coalesce(col("v_sparse"), lit(-1.0)), 6).as("v_sparse"),
          round(coalesce(col("v_sparse_ffill"), lit(-1.0)), 6).as("v_filled"))
    }),

    "funnel_steps" -> ((s, dir) =>
      // ordered view→click→purchase funnel: one user-keyed exchange,
      // chained running-min windows over one sort (ts is unique per
      // event — TESTDATA.md — so the struct order key reduces to ts
      // and the oracle can chain scalar min-ts CTEs), then a
      // combinable per-user reduce to one row of step counts
      graft.lagops.EventAnalytics.funnel(Tables.events(s, dir),
        "user_id", "event_type", Seq("ts_ns", "event_id"),
        Seq("view", "click", "purchase"))),

    "retention_cohorts" -> ((s, dir) =>
      // weekly cohort retention: two aggregates share the user-keyed
      // partitioning, the join is user-sized, the output matrix-sized
      graft.lagops.EventAnalytics.retention(Tables.events(s, dir),
          "user_id", "ts", "week")
        .withColumnRenamed("offset", "week_offset")),

    "lag_interp" -> ((s, dir) => {
      // linear gap interpolation (same ~20% knockout as lag_ffill):
      // two window frames over one (user, order) exchange; -1 sentinel
      // keeps the nullable doubles hash-comparable
      val ev = Tables.events(s, dir)
        .withColumn("v_sparse",
          when(col("event_id") % 5 =!= 0, col("value")))
      graft.lagops.EventAnalytics.interpolate(ev, "v_sparse", "ts_ns",
          Seq("user_id"), Seq("ts_ns", "event_id"))
        .select(col("user_id"), col("event_id"),
          round(coalesce(col("v_sparse"), lit(-1.0)), 6).as("v_sparse"),
          round(coalesce(col("v_sparse_interp"), lit(-1.0)), 6)
            .as("v_interp"))
    }),

    "events_debounce" -> ((s, dir) =>
      // at-least-once ingest dedup: collapse same-(user, type) bursts
      // with inter-arrival gap ≤ 24h to their first event. One
      // (user, type)-keyed exchange; the burst aggregate's grouping
      // keys extend the window partitioning, so it adds no second
      // shuffle (plan-fenced)
      graft.lagops.EventAnalytics.debounce(Tables.events(s, dir),
          Seq("user_id", "event_type"), "ts_ns", "event_id",
          Seq("ts_ns", "event_id"), gapNs = 86400L * 1000000000L)
        .select(col("user_id"), col("event_type"), col("first_event"),
          expr("burst_start div 1000").as("burst_start_us"),
          col("n_collapsed"))),

    "series_acf" -> ((s, dir) =>
      // per-user autocorrelation, lags 1..5: all lag columns in ONE
      // collapsed window pass, then one combinable corr aggregate on
      // the same user partitioning (grouping key == window key, so no
      // second exchange); output is users × 5 rows
      graft.lagops.SeriesStats.acf(Tables.events(s, dir), "value",
        LagSpec(Seq("ts_ns", "event_id"), Seq("user_id"), Seq(1)),
        maxLag = 5)),

    "series_xcorr" -> ((s, dir) =>
      // hourly-bucket cross-correlation view→purchase at shifts −3..+3:
      // event rows feed ONE combinable conditional-average aggregate;
      // everything downstream is bucket-sized (a year of hours is ~10k
      // rows at ANY corpus size) through a broadcast self-join — no
      // global-order window anywhere
      graft.lagops.SeriesStats.crossCorr(Tables.events(s, dir),
        "event_type", "ts", "value", "view", "purchase",
        bucketSeconds = 3600L, maxShift = 3)),

    "trend_decompose" -> ((s, dir) =>
      // centered ±3-row moving-average trend + residual per user: one
      // series-keyed exchange, one bounded symmetric frame (incremental
      // — the quadratic-frame fence plans this query too)
      graft.lagops.SeriesStats.decompose(Tables.events(s, dir), "value",
          LagSpec(Seq("ts_ns", "event_id"), Seq("user_id"), Seq(1)),
          halfWidth = 3)
        .select("user_id", "event_id", "value", "trend", "resid")),

    "anomaly_zscore" -> ((s, dir) =>
      // rolling-z outliers: each value vs mean/std of its own previous
      // 8 observations (frame ends at the PREVIOUS row, so a spike
      // never suppresses its own detection); undefined z → -999
      // sentinel so the nullable double survives the hash gate
      graft.lagops.SeriesStats.anomalies(Tables.events(s, dir), "value",
          LagSpec(Seq("ts_ns", "event_id"), Seq("user_id"), Seq(1)),
          window = 8, threshold = 2.5)
        .select(col("user_id"), col("event_id"), col("value"),
          col("base_n"), coalesce(col("z"), lit(-999.0)).as("z"),
          col("is_anomaly"))),

    "stl_seasonal" -> ((s, dir) =>
      // classical seasonal decomposition (value = trend + hour-of-day
      // seasonal + remainder): trend window, seasonal aggregate and
      // join-back all share the user partitioning — one exchange
      graft.lagops.SeriesStats.seasonalDecompose(
          Tables.events(s, dir).withColumn("hod", hour(col("ts"))),
          "value", "hod",
          LagSpec(Seq("ts_ns", "event_id"), Seq("user_id"), Seq(1)),
          halfWidth = 12)
        .select("user_id", "event_id", "hod", "value", "trend",
          "seasonal", "remainder")),

    "rolling_corr" -> ((s, dir) =>
      // time-local lag-1 autocorrelation over each row's trailing 24
      // observations: lag column and frame correlation share one
      // exchange + one sort; undefined → -999 sentinel
      graft.lagops.SeriesStats.rollingCorr(Tables.events(s, dir),
          "value",
          LagSpec(Seq("ts_ns", "event_id"), Seq("user_id"), Seq(1)),
          window = 24)
        .select(col("user_id"), col("event_id"), col("value"),
          col("n_pairs"),
          coalesce(col("roll_corr"), lit(-999.0)).as("roll_corr"))),

    "value_histogram" -> ((s, dir) =>
      // per-type equi-width value histogram (width 10, 12 buckets,
      // edge buckets absorb outliers): ONE combinable hash aggregate,
      // output bounded at types × buckets
      graft.lagops.EventAnalytics.histogram(Tables.events(s, dir),
        "event_type", "value", width = 10.0, nBuckets = 12)),

    "resample_ohlc" -> ((s, dir) => {
      // per-user hourly OHLC downsample in ONE combinable agg (min_by/
      // max_by on the (ts_ns, event_id) struct order key — no window
      // pass, map-side partials); bucket emitted as epoch micros
      val ev = Tables.events(s, dir)
      graft.lagops.Resample.ohlc(ev, "value", "ts", Seq("user_id"),
          Seq("ts_ns", "event_id"), "hour")
        .select(col("user_id"), unix_micros(col("bucket")).as("bucket_us"),
          round(col("value_open"), 6).as("open"),
          round(col("value_high"), 6).as("high"),
          round(col("value_low"), 6).as("low"),
          round(col("value_close"), 6).as("close"),
          col("n"))
    }),

    "rolling_time_window" -> ((s, dir) => {
      // time-RANGE frame (all events in the trailing hour), vs. the
      // row-count frame in rolling_agg. Range frames include all peers of
      // the boundary, so ts ties need no tiebreak to stay deterministic.
      // µs on BOTH engines: DuckDB only sees µs-truncated timestamps, so a
      // ns-precise boundary could straddle differently at exactly -1h
      val ev = Tables.events(s, dir)
        .withColumn("ts_us", expr("ts_ns div 1000"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("ts_us"))
        .rangeBetween(-3600000000L, 0) // 1 hour in µs
      ev.select(col("user_id"), col("event_id"),
        round(sum(col("value")).over(w), 6).as("hour_sum"),
        count(lit(1)).over(w).as("hour_n"))
    }),

    "q_set_ops" -> ((s, dir) => {
      // (user, day) pairs with clicks but no purchase that day (EXCEPT)
      // day as STRING: date values round-trip differently through the two
      // engines' parquet/pandas paths (date vs midnight-datetime)
      val ev = Tables.events(s, dir)
        .withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))
      ev.filter(col("event_type") === "click")
        .select("user_id", "day").distinct()
        .except(ev.filter(col("event_type") === "purchase")
          .select("user_id", "day").distinct())
    }),

    // ---- relational layer over the star schema (free from Catalyst,
    //      exercised to prove pushdown/broadcast/AQE behavior) ----
    "q1_pricing" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
      li.filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"),
          sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double").as("sum_base_price"),
          sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
            .cast("decimal(18,6)")).cast("double").as("sum_disc_price"),
          count(lit(1)).as("count_order"))
    }),

    "q_rollup" -> ((s, dir) => {
      // grouping-set super-aggregates: (flag, status), per-flag, and
      // grand total in ONE pass — Spark plans a single Expand +
      // aggregate, not three scans
      val li = Tables.lineitem(s, dir)
      li.rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double")
            .as("sum_qty"))
    }),

    "q_window_stats" -> ((s, dir) =>
      // distribution window functions (ntile / percent_rank /
      // cume_dist) over a (value, id) total order per event type —
      // computed via the range-bucket re-key (EventAnalytics
      // .distributionStats) so no single task ever sorts a whole
      // event type: the direct ntile window keeps one task per
      // distinct type alive forever (9.5x/decade on the r11 anchors)
      graft.lagops.EventAnalytics.distributionStats(
        Tables.events(s, dir), "event_type", "value", "event_id",
        tiles = 4, buckets = 32)),

    "q3_topk_orders" -> ((s, dir) => {
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
    }),

    "q5_region_revenue" -> ((s, dir) => {
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
    }),

    "sql_q6" -> ((s, dir) => {
      // SQL front door: same engine, spark.sql text instead of the
      // DataFrame DSL (temp views over the canonical loaders)
      Tables.lineitem(s, dir).createOrReplaceTempView("lineitem_v")
      s.sql("""SELECT CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
                      COUNT(*) AS n
               FROM lineitem_v
               WHERE l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""")
    }),

    "sql_q17_small_qty" -> ((s, dir) => {
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
    }),

    "sql_text_stats" -> ((s, dir) => {
      // SQL front door for the text pipeline: the fused gate kernel is
      // registered as text_gate_stats(...) (GraftFunctions), so a
      // SQL-only user computes the same codegen'd one-pass stats the
      // Column API gets — no UDF, no second tokenization pass.
      GraftFunctions.register(s)
      Tables.documents(s, dir).createOrReplaceTempView("documents_v")
      s.sql("""SELECT doc_id, length(text) AS n_chars_computed,
                      gs.n_tokens AS n_tokens,
                      size(filter(split(text, '[^A-Za-z0-9]+'), x -> x != ''))
                        + length(regexp_replace(text, '[A-Za-z0-9\\s]', '')) AS n_subword_tokens,
                      round(CASE WHEN gs.n_chars = 0 THEN 0.0D
                            ELSE CAST(gs.n_punct AS DOUBLE) / CAST(gs.n_chars AS DOUBLE) END, 6) AS punct_ratio,
                      round(CASE WHEN gs.n_tokens = 0 THEN 0.0D
                            ELSE CAST(gs.n_stop AS DOUBLE) / CAST(gs.n_tokens AS DOUBLE) END, 6) AS stopword_ratio
               FROM (SELECT doc_id, text, text_gate_stats(text) AS gs FROM documents_v)""")
    }),

    "sql_dedup_exact" -> ((s, dir) => {
      // SQL front door for exact dedup: the fingerprint is plain
      // md5-of-normalized-text, so the whole operator is one SQL
      // statement — same single combinable-aggregate shuffle as the
      // DataFrame form.
      Tables.documents(s, dir).createOrReplaceTempView("documents_v")
      s.sql("""SELECT md5(regexp_replace(lower(trim(text)), '\\s+', ' ')) AS fingerprint,
                      min(doc_id) AS keep_id, count(*) AS dup_count
               FROM documents_v GROUP BY fingerprint""")
    }),

    "sql_lang_id" -> ((s, dir) => {
      // SQL front door for language-ID: text_lang(...) is the composed
      // marker-hit argmax expression (same Column builder as the
      // DataFrame operator — cannot drift)
      GraftFunctions.register(s)
      Tables.documents(s, dir).createOrReplaceTempView("documents_v")
      s.sql("SELECT doc_id, lang, text_lang(text) AS lang_pred FROM documents_v")
    }),

    "sql_quality_score" -> ((s, dir) => {
      // SQL front door for the quality score — one registered function
      GraftFunctions.register(s)
      Tables.documents(s, dir).createOrReplaceTempView("documents_v")
      s.sql("SELECT doc_id, text_quality(text) AS quality FROM documents_v")
    }),

    "sql_corpus_profile" -> ((s, dir) => {
      // SQL front door for the corpus datasheet: text_quality(...) is
      // the COMPOSED scoring expression (built by the same Column
      // builder the engine uses), so the SQL form cannot drift from
      // the DataFrame operator's arithmetic. Same scale shape: one
      // scan + one stratum-keyed aggregate.
      GraftFunctions.register(s)
      Tables.documents(s, dir).createOrReplaceTempView("documents_v")
      s.sql("""WITH g AS (SELECT source, lang, text_gate_stats(text) AS gs,
                      text_quality(text) AS q FROM documents_v),
               s AS (SELECT source, lang, CAST(gs.n_tokens AS DOUBLE) AS n_tok, q FROM g)
               SELECT source, count(*) AS n_docs,
                      CAST(sum(n_tok) AS BIGINT) AS n_tokens,
                      -- fixed-point mean in exact integer micro-units
                      -- (the Vocab.microMean convention: round(avg)
                      -- lands on decimal boundaries the engines
                      -- round differently)
                      CAST((2 * sum(CAST(round(q * 1000000) AS BIGINT))
                            + count(*)) div (2 * count(*)) AS DOUBLE)
                        / 1000000.0 AS mean_quality,
                      round(percentile(n_tok, 0.5D), 6) AS p50_tokens,
                      round(percentile(n_tok, 0.9D), 6) AS p90_tokens,
                      count(DISTINCT lang) AS n_langs
               FROM s GROUP BY source""")
    }),

    "window_rank" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      o.select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
          row_number().over(w).as("rnk"))
        .filter(col("rnk") <= 3)
    }),

    "json_props" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      ev.select(col("event_id"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
    }),

    // ---- streaming-shaped ops (same plan batch or readStream) ----
    "stream_window_agg" -> ((s, dir) => {
      StreamingOps.windowedCounts(Tables.events(s, dir))
        .select(unix_micros(col("ts_hour")).as("ts_hour_us"), col("event_type"),
          col("n_events"), round(col("total_value"), 6).as("total_value"))
    }),

    "sessionize" -> ((s, dir) =>
      StreamingOps.sessionizeBatch(Tables.events(s, dir), 30)),

    "stream_trending_ngrams" -> ((s, dir) => {
      // windowed n-gram burst detection, batch-replayed: event time is
      // doc_id seconds (the deterministic ingest clock the streaming
      // specs use), 100-second tumbling windows, threshold 5
      val d = Tables.documents(s, dir).withColumn("ingest_ts",
        timestamp_micros(col("doc_id") * 1000000L))
      StreamingOps.trendingNgrams(d, "text", "ingest_ts",
        n = 2, minCount = 5)
        .select(unix_micros(col("w_start")).as("w_start_us"),
          col("ngram"), col("cnt"))
    }),

    "attribution_join" -> ((s, dir) => {
      // stream-stream interval join shape, run in batch: clicks paired
      // with same-user purchases in the following 30 minutes
      val ev = Tables.events(s, dir)
      StreamingOps.attributionJoin(
        ev.filter(col("event_type") === "click"),
        ev.filter(col("event_type") === "purchase"), 30)
    }),

    "session_window_native" -> ((s, dir) => {
      // Spark's native session_window operator (vs. the gaps-and-islands
      // rewrite in `sessionize` — both shapes belong in the inventory)
      val ev = Tables.events(s, dir)
      ev.groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
        .agg(count(lit(1)).as("n_events"),
          round(sum(col("value")), 6).as("total_value"))
        .select(col("user_id"),
          unix_micros(col("session_window.start")).as("session_start_us"),
          col("n_events"), col("total_value"))
    }),

    "q_pivot" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      d.groupBy(col("source"))
        .pivot("lang", Seq("de", "en", "es", "fr", "zh"))
        .agg(count(lit(1)))
        .na.fill(0L)
    }),

    "q_anti_join" -> ((s, dir) => {
      // customers with no high-value order (every customer has SOME order
      // in this data, so the unfiltered anti-join would be empty)
      val c = Tables.customer(s, dir)
      val o = Tables.orders(s, dir).filter(col("o_totalprice") > 400000)
      c.join(o, col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name")
    }),

    "q_quantile" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      ev.groupBy(col("event_type"))
        .agg(round(percentile(col("value"), lit(0.5)), 6).as("p50"),
          round(percentile(col("value"), lit(0.9)), 6).as("p90"),
          count(lit(1)).as("n"))
    }),

    "salted_agg" -> ((s, dir) =>
      graft.plans.SkewAgg.saltedStats(Tables.events(s, dir),
        Seq("event_type"), "value", saltBuckets = 16)),

    "similarity_ivf" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      // index fit on a 60% md5-bucket sample: the 100 TB shape (Lloyd
      // passes O(sample), not O(corpus)); assignment + probe still
      // cover every candidate, and the oracle replays the same sample
      Ivf.topK(emb.filter(col("vec_id") < 10), emb, "vec_id", "embedding",
        k = 5, nlist = 16, nprobe = 4, iters = 1, fitSamplePct = 60)
    }),

    // ---- text analysis (north star) ----
    "text_stats" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      val t = col("text")
      d.select(col("doc_id"), length(t).as("n_chars_computed"),
        TextOps.tokenCount(t).as("n_tokens"),
        TextOps.bpeishCount(t).as("n_subword_tokens"),
        round(TextOps.punctRatio(t), 6).as("punct_ratio"),
        round(TextOps.stopwordRatio(t), 6).as("stopword_ratio"))
    }),

    "lang_id" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      d.select(col("doc_id"), col("lang"),
        TextOps.langId(col("text")).as("lang_pred"))
    }),

    "text_stats_cjk" -> ((s, dir) => {
      // the multilingual-twin of text_stats over the planted no-space
      // fixture: without segmentScripts a CJK doc collapses to ~ONE
      // whitespace token (n_tokens_ws ≈ 1 — the silent quality-gate
      // poison a multilingual crawl hits); with it, one token per
      // ideograph. Both counts surface side-by-side; stopword_ratio
      // runs on the segmented text through the same fused gate kernel
      val seg = TextOps.segmentScripts(col("text"))
      cjkFixture(Tables.documents(s, dir)).select(col("doc_id"),
        length(col("text")).as("n_chars_computed"),
        TextOps.tokenCount(col("text")).as("n_tokens_ws"),
        TextOps.tokenCount(seg).as("n_tokens_seg"),
        round(TextOps.stopwordRatio(seg), 6).as("stopword_ratio"))
    }),

    "text_stats_sea" -> ((s, dir) => {
      // the grapheme-cluster pin for the SEA branch of segmentScripts:
      // planted Thai docs are ~3/8 combining signs, so n_tokens_seg
      // counts CLUSTERS (bases + orphan-sign runs), not code points —
      // round 11's per-code-point rule read ~32 here and inflated
      // every SEA quality gate ~2x. Unplanted (Latin) docs must pass
      // through with n_tokens_seg == n_tokens_ws
      val seg = TextOps.segmentScripts(col("text"))
      seaFixture(Tables.documents(s, dir)).select(col("doc_id"),
        length(col("text")).as("n_chars_computed"),
        TextOps.tokenCount(col("text")).as("n_tokens_ws"),
        TextOps.tokenCount(seg).as("n_tokens_seg"))
    }),

    "lang_id_cjk" -> ((s, dir) => {
      // langId over the planted fixture: unsegmented, a no-space zh
      // doc has ZERO marker hits ('und'); segmented, its single-char
      // stopwords surface and zh wins — the same op, fed right
      val d = cjkFixture(Tables.documents(s, dir))
      d.select(col("doc_id"),
        TextOps.langId(col("text")).as("lang_pred_ws"),
        TextOps.langId(TextOps.segmentScripts(col("text")))
          .as("lang_pred"))
    }),

    "quality_score" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      d.select(col("doc_id"), TextOps.qualityScore(col("text")).as("quality"))
    }),

    "rep_stats" -> ((s, dir) =>
      // Gopher/C4-style repetition filters: duplicate n-gram fractions
      // (narrow) + top-token coverage (word-count-shaped agg)
      TextOps.repStats(Tables.documents(s, dir), "doc_id", "text")),

    "quality_filter" -> ((s, dir) =>
      // the composite KEEP decision those heuristics feed: named
      // Gopher/C4-family rules (length band, chars-per-token band,
      // stopword floor, punctuation ceiling) from ONE gate-stats
      // kernel pass, with the failed-rule list — the rule-level drop
      // rates a corpus datasheet reports. Boundary-exact in both
      // engines: every threshold compares an IEEE division of the
      // same integers
      TextOps.qualityFilter(Tables.documents(s, dir), "doc_id", "text")),

    "domain_profile" -> ((s, dir) => {
      // the domain-blocklist input signal: the per-source datasheet
      // re-keyed on the canonical-URL HOST (how a crawl pipeline
      // actually strata-keys quality before blocklisting domains) —
      // derives the domain through the full canonicalize chain, then
      // the SAME one-scan/one-agg profile as corpus_profile
      val d = Tables.documents(s, dir)
      val url = graft.textops.Url.urlFixture(col("doc_id"), col("source"))
      val host = regexp_extract(graft.textops.Url.canonicalize(url),
        "^[a-z][a-z0-9+.-]*://([^/:?#]+)", 1)
      graft.textops.Vocab.corpusProfile(
        d.withColumn("domain", host), "domain", "lang", "text")
    }),

    "domain_filter" -> ((s, dir) => {
      // DOMAIN-level gating — the decision the domain_profile
      // datasheet feeds (RefinedWeb/C4 domain rules): keep/drop every
      // doc by its canonical host's AGGREGATE mean quality and doc
      // volume. A spam domain is PLANTED in-query (md5 bucket < 10:
      // host swapped to spam-farm.example.com, text to punctuation
      // junk scoring ~0.05 — far under the 0.3 cut, while real
      // domains sit at ~0.55) so the gate verifies a real drop. One
      // corpus scan into a domain-sized combinable agg, one
      // domain-keyed attach-back join, no broadcast hint (domain
      // tables reach tens of millions at crawl scale; AQE decides)
      val d = Tables.documents(s, dir)
      val url = graft.textops.Url.urlFixture(col("doc_id"), col("source"))
      val host = regexp_extract(graft.textops.Url.canonicalize(url),
        "^[a-z][a-z0-9+.-]*://([^/:?#]+)", 1)
      val bucket = graft.util.Sampling.md5Bucket(col("doc_id"))
      // bucket 10 plants the NULL-domain slice: a doc whose URL failed
      // to parse carries no host — the gate's advertised conservative
      // path (keep coalesces to false) must actually be exercised, and
      // NULL group-by keys must not join back to any profile row
      val planted = d.select(col("doc_id"),
        when(bucket < 10, lit("spam-farm.example.com"))
          .when(bucket === 10, lit(null).cast("string"))
          .otherwise(host).as("domain"),
        when(bucket < 10, lit("!!! buy now !!! buy now !!!"))
          .otherwise(col("text")).as("text"))
      graft.textops.Vocab.domainFilter(planted, "domain", "text")
        .select(col("doc_id"), col("domain"), col("domain_n_docs"),
          col("domain_mean_quality"), col("keep"))
    }),

    "url_canonicalize" -> ((s, dir) => {
      // the crawl-frontier dedup key: canonical URL (lowercase
      // scheme/host, fragment dropped, default port + www stripped,
      // tracking params dropped, params sorted, trailing slash
      // folded). The corpus has no URL column, so each doc carries a
      // deterministic messy-URL fixture covering every rule; one
      // narrow projection, no shuffle
      val d = Tables.documents(s, dir)
      val url = graft.textops.Url.urlFixture(col("doc_id"), col("source"))
      d.select(col("doc_id"), url.as("url"),
        graft.textops.Url.canonicalize(url).as("url_canonical"))
    }),

    "sample_dsir" -> ((s, dir) =>
      // DSIR-style importance scoring (Xie et al. 2023): hashed
      // n-gram bucket models for target (source = src0) vs the raw
      // pool, per-doc avg log-likelihood ratio, top-quartile keep.
      // One combinable bucket-count agg (10k buckets), broadcast
      // log-ratio table, one combinable per-doc agg, one
      // percentile_approx scalar — the corpus never shuffles
      graft.textops.Classifier.dsirScore(Tables.documents(s, dir),
        "doc_id", "text", col("source") === "src0")),

    "dedup_lines_intra" -> ((s, dir) =>
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
        "doc_id", "text")),

    "dedup_lines_corpus" -> ((s, dir) =>
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
        "doc_id", "text")),

    "dedup_lines_incremental" -> ((s, dir) => {
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
    }),

    "sample_cap_per_source" -> ((s, dir) =>
      // "at most k docs per source" by deterministic md5 draw — the
      // per-domain ceiling applied before mixture weighting. Salted
      // two-phase top-k: per-(source, salt) windows keep local top-k
      // (a superset of the global answer), then the tiny survivor
      // frame re-ranks — never a corpus-wide window into |sources|
      // partitions
      graft.pipeline.Pipeline.capPerGroup(Tables.documents(s, dir),
        "doc_id", "source", k = 10)),

    "topk_ngrams" -> ((s, dir) =>
      // corpus-wide bigram heavy hitters: one map-side-combinable agg +
      // distributed TakeOrdered top-k (no global sort)
      graft.textops.Vocab.topNgrams(Tables.documents(s, dir), "text",
        n = 2, k = 50)),

    "tfidf_terms" -> ((s, dir) =>
      // per-doc top-3 TF-IDF keywords: two combinable aggs + a
      // term-keyed join + per-doc window
      graft.textops.Vocab.tfidfTerms(Tables.documents(s, dir),
        "doc_id", "text", k = 3)),

    "bm25_search" -> ((s, dir) =>
      // BM25 top-10 docs per probe query: corpus tokens narrow to the
      // broadcast query-term list BEFORE any shuffle; N/avgdl ride as
      // broadcast 1-row scalars; ranking cut on (6dp score, doc_id)
      graft.textops.Search.bm25(Tables.documents(s, dir), "doc_id",
        "text", BmQueries, k = 10)),

    "pmi_bigrams" -> ((s, dir) =>
      // top-50 bigram collocations by PMI (joint count ≥ 5): two
      // combinable count aggs, vocabulary-sized marginal joins on
      // 8-byte word hashes, TakeOrdered cut on (6dp pmi, bigram)
      graft.textops.Search.pmiBigrams(Tables.documents(s, dir), "text",
        minCount = 5, k = 50)),

    "corpus_profile" -> ((s, dir) =>
      // the per-source corpus datasheet: one scan + one stratum-keyed agg
      graft.textops.Vocab.corpusProfile(Tables.documents(s, dir),
        "source", "lang", "text")),

    "corpus_profile_approx" -> ((s, dir) =>
      // the sketched-percentile datasheet: bounded-memory GK sketch per
      // stratum instead of the exact buffering percentile — the form
      // for strata that outgrow executor memory
      graft.textops.Vocab.corpusProfileApprox(Tables.documents(s, dir),
        "source", "lang", "text")),

    "novelty_score" -> ((s, dir) =>
      // per-doc fraction of corpus-unique bigrams: the templated-text
      // signal exact and near-dup passes both miss
      graft.textops.Vocab.noveltyScore(Tables.documents(s, dir),
        "doc_id", "text", n = 2)),

    "lm_score" -> ((s, dir) =>
      // per-doc fluency under the corpus's own add-one bigram LM —
      // the model-based quality axis next to the heuristic
      // quality_score
      graft.textops.Vocab.lmScore(Tables.documents(s, dir),
        "doc_id", "text")),

    "quality_model_score" -> ((s, dir) => {
      // the LEARNED-filter scoring pass (fastText/DCLM class): a
      // linear unigram model scored as one broadcast weight-table
      // join + ONE combinable per-doc aggregate. The fixture weight
      // table is the corpus's own top-2000 tokens (md5-fold weights
      // — both engines replay it), standing in for a trained model's
      // weight table (any (token, weight) frame scores the same way);
      // integer micro-unit score, OOV tokens weigh 0
      val d = Tables.documents(s, dir)
      graft.textops.Classifier.scoreLinear(d, "doc_id", "text",
        graft.textops.Classifier.fixtureWeights(d, "text", vocab = 2000))
    }),

    "doc_winnow" -> ((s, dir) =>
      // rolling-hash (winnowing) fingerprints as (doc_id, fp) rows
      TextOps.winnowing(Tables.documents(s, dir), "doc_id", "text",
        k = 8, w = 4)),

    "doc_fingerprint" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      d.select(col("doc_id"), TextOps.fingerprint(col("text")).as("fingerprint"))
    }),

    // ---- dedup family (north star) ----
    "dedup_exact" -> ((s, dir) =>
      Dedup.exact(Tables.documents(s, dir), "doc_id", "text")),

    "dedup_minhash" -> ((s, dir) =>
      // bands = -1 = AUTO: geometry derived from the corpus count
      // (Dedup.scaledBandGeometry) — identical to 8x2 below the 65536
      // knee (every driver sf, zsf1), rows grow ~1/decade above it
      Dedup.minhashLsh(Tables.documents(s, dir), "doc_id", "text",
        shingleSize = 3, bands = -1, rowsPerBand = -1, threshold = 0.5)),

    "dedup_minhash_cjk" -> ((s, dir) =>
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
        shingleSize = 3, bands = -1, rowsPerBand = -1, threshold = 0.5)),

    "dedup_minhash_capstats" -> ((s, dir) => {
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
    }),

    "dedup_clusters" -> ((s, dir) =>
      // pairs are edges; the dedup decision needs components — transitive
      // closure by distributed min-label propagation over minhash pairs
      Dedup.clusters(Dedup.minhashLsh(Tables.documents(s, dir), "doc_id",
        "text", shingleSize = 3, bands = -1, rowsPerBand = -1,
        threshold = 0.5))),

    "dedup_resolve" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      Dedup.resolve(d, "doc_id", Dedup.minhashLsh(d, "doc_id", "text",
        shingleSize = 3, bands = -1, rowsPerBand = -1, threshold = 0.5))
    }),

    "dedup_resolve_best" -> ((s, dir) => {
      // canonical-by-QUALITY resolve: among each near-dup cluster's
      // members keep the highest 6dp heuristic score (ties to the
      // smallest id) — what production dedup ships, vs resolve's
      // arbitrary smallest-id. One combinable struct-argmax per
      // cluster + a cluster-keyed join back; no corpus window
      val d = Tables.documents(s, dir)
      Dedup.resolveBest(d, "doc_id", "text",
        Dedup.minhashLsh(d, "doc_id", "text",
          shingleSize = 3, bands = -1, rowsPerBand = -1, threshold = 0.5))
    }),

    "split_leakage_free" -> ((s, dir) => {
      // 80/10/10 train/val/test where the md5 draw keys on the near-dup
      // CLUSTER representative — a whole duplicate cluster lands in one
      // split, so no test doc has a near-copy in train
      val d = Tables.documents(s, dir)
      Dedup.splitLeakageFree(d, "doc_id", Dedup.minhashLsh(d, "doc_id",
        "text", shingleSize = 3, bands = -1, rowsPerBand = -1,
        threshold = 0.5))
    }),

    "dedup_editdist" -> ((s, dir) =>
      // small-edit near-dup pairs: the SAME LSH candidate machinery
      // (ids-only band shuffles, bucket caps), verified by Levenshtein
      // over 400-char prefixes — the threshold form abandons the DP at
      // maxDist and a prefix-length band check prunes before any DP
      Dedup.editDistancePairs(Tables.documents(s, dir), "doc_id",
        "text", maxDist = 40, prefixLen = 400)),

    "dedup_simhash" -> ((s, dir) =>
      Dedup.simhashPairs(Tables.documents(s, dir), "doc_id", "text",
        maxHamming = 3)),

    "dedup_clusters_simhash" -> ((s, dir) =>
      // the CC operator is pair-source-agnostic: same closure over
      // SimHash Hamming pairs instead of MinHash Jaccard pairs
      Dedup.clusters(Dedup.simhashPairs(Tables.documents(s, dir), "doc_id",
        "text", maxHamming = 3).select(col("doc_a"), col("doc_b")))),

    "ngram_jaccard" -> ((s, dir) =>
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
        "text", shingleSize = 3, threshold = 0.8, maxDf = 16)),

    "ngram_df_capstats" -> ((s, dir) => {
      // the cap's OBSERVABILITY row (no silent recall cliff): how many
      // distinct shingles the df cap drops and how much posting mass
      // they carried — the number a pipeline owner watches when
      // deciding whether 16 still means 'boilerplate' on their corpus
      val d = Tables.documents(s, dir)
      val sh = d.select(col("doc_id"),
        // WordShinglesExpr output is already per-doc distinct, so
        // count(*) per shingle IS its document frequency
        explode_outer(graft.textops.TextOps.shinglesFromTokens(
          graft.textops.TextOps.tokens(lower(col("text"))), 3))
          .as("shingle"))
      sh.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
        .agg(count(lit(1)).as("n_shingles"),
          count(when(col("df") > 16, 1)).as("n_hot"),
          coalesce(sum(when(col("df") > 16, col("df"))), lit(0L))
            .cast("long").as("postings_dropped"))
    }),

    "dedup_spans" -> ((s, dir) =>
      // passage-level reuse: pairs sharing >= 5 winnow fingerprints
      // after df-capping corpus-wide boilerplate spans. w = AUTO: the
      // window grows log₂ with corpus size past 65536 docs
      // (Dedup.scaledWinnowWindow — the band-bits scale law applied to
      // fingerprint density; identical to w=4 at every driver sf, and
      // the oracle re-derives the same window from its own count(*))
      Dedup.spanPairs(Tables.documents(s, dir), "doc_id", "text",
        k = 8, w = -1, minShared = 5, maxDf = 16)),

    "dedup_substrings" -> ((s, dir) =>
      // EXACT substring dedup (Lee et al. ExactSubstr at word
      // granularity): maximal runs of duplicated 20-token grams; one
      // hash-only corpus exchange, candidate-scale after the dup filter
      Dedup.substrings(Tables.documents(s, dir), "doc_id", "text", k = 20)),

    "dedup_substrings_char" -> ((s, dir) =>
      // character-level ExactSubstr: 50-code-point grams catch verbatim
      // runs that start/end mid-word (templated boilerplate with
      // interpolated values) — same one-exchange positional machinery
      Dedup.substringsChar(Tables.documents(s, dir), "doc_id", "text",
        k = 50)),

    "dedup_spans_incremental" -> ((s, dir) => {
      // passage-level daily ingest: same md5-bucket split (>= 70 plays
      // the increment); the increment's winnow fp keys broadcast
      // against the corpus fingerprint stream — the corpus never
      // shuffles, and the boilerplate cap runs post-probe where the
      // matched count per fp IS its corpus df
      val d = Tables.documents(s, dir)
      val bucket = graft.util.Sampling.md5Bucket(col("doc_id"))
      Dedup.spanIncremental(d.filter(bucket >= 70), d.filter(bucket < 70),
        "doc_id", "text", k = 8, w = 4, minShared = 5, maxDf = 16)
    }),

    "dedup_spans_stored" -> ((s, dir) => {
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
    }),

    "dedup_spans_stored_updated" -> ((s, dir) => {
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
    }),

    "dedup_incremental" -> ((s, dir) => {
      // daily-ingest decision: md5-bucket >= 70 plays the incoming
      // batch, the rest the already-deduped corpus; the incoming
      // fingerprints broadcast, the corpus never shuffles
      val d = Tables.documents(s, dir)
      val bucket = graft.util.Sampling.md5Bucket(col("doc_id"))
      Dedup.exactIncremental(d.filter(bucket >= 70), d.filter(bucket < 70),
        "doc_id", "text")
    }),

    "dedup_bloom_probe" -> ((s, dir) => {
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
    }),

    "dedup_bloom_probe_updated" -> ((s, dir) => {
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
    }),

    "dedup_lines_bloom_probe" -> ((s, dir) => {
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
    }),

    "dedup_lines_bloom_probe_updated" -> ((s, dir) => {
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
    }),

    "dedup_minhash_incremental" -> ((s, dir) => {
      // the near-dup daily-ingest decision: same md5-bucket split as
      // dedup_incremental (>= 70 plays the crawl increment); the
      // increment's band keys broadcast against the corpus's banded
      // signature frame — the corpus never shuffles
      val d = Tables.documents(s, dir)
      val bucket = graft.util.Sampling.md5Bucket(col("doc_id"))
      Dedup.minhashIncremental(d.filter(bucket >= 70), d.filter(bucket < 70),
        "doc_id", "text", shingleSize = 3, bands = 8, rowsPerBand = 2,
        threshold = 0.5)
    }),

    "dedup_minhash_stored" -> ((s, dir) => {
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
    }),

    "dedup_minhash_probe" -> ((s, dir) => {
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
    }),

    "dedup_minhash_stored_updated" -> ((s, dir) => {
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
      val (incIdsA, verifiedA, sigA) =
        Dedup.minhashIncrementalStoredVerifiedSig(incA, store0,
          "doc_id", "text", shingleSize = 3, bands = 8, rowsPerBand = 2,
          threshold = 0.5, maxBucket = 64)
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
    }),

    "dedup_spans_probe" -> ((s, dir) => {
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
    }),

    "dedup_spans_probe_updated" -> ((s, dir) => {
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
    }),

    "dedup_semantic" -> ((s, dir) =>
      // SemDeDup: keep/drop per vector, cluster-scoped greedy
      // lowest-id-wins at cosine >= 0.4 — at the autoNlist contract
      // (nlist = ceil(n/32), assigned through the two-level forest) so
      // the within-list pair fan-out stays O(n*targetListSize) instead
      // of n^2/nlist with nlist frozen at 16
      graft.simops.Embed.semanticDedupHier(Tables.embeddings(s, dir),
        "vec_id", "embedding", threshold = 0.4,
        targetListSize = SemanticTargetListSize, iters = 1,
        fitSamplePct = SemanticFitPct)),

    "dedup_semantic_incremental" -> ((s, dir) => {
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
    }),

    "dedup_semantic_probe" -> ((s, dir) => {
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
    }),

    "dedup_semantic_probe_updated" -> ((s, dir) => {
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
    }),

    "dedup_semantic_liststats" -> ((s, dir) =>
      // the capstats row for the semantic geometry: the autoNlist pair
      // bound is only as good as the real list-size distribution —
      // integer-only aggregate over the same fitted forest
      graft.simops.Embed.semanticListStats(Tables.embeddings(s, dir),
        "vec_id", "embedding", targetListSize = SemanticTargetListSize,
        iters = 1, fitSamplePct = SemanticFitPct)),

    "embedding_pq" -> ((s, dir) =>
      // product quantization: 8 subspaces x 16 codes = 32x compression
      // at dim 64; sampled codebook fit, pure-projection encode
      graft.simops.Embed.pqEncode(Tables.embeddings(s, dir),
        "vec_id", "embedding", m = 8, k = 16, iters = 1,
        fitSamplePct = 60, dim = 64)),

    "embedding_pq_opq" -> ((s, dir) =>
      // OPQ allocation (Ge et al.): variance-balancing permutation
      // fitted on the sample, then the same m=8 x k=16 encode — the
      // fit is one 64-row aggregate, the permute a pure projection
      graft.simops.Embed.pqEncodeOpq(Tables.embeddings(s, dir),
        "vec_id", "embedding", m = 8, k = 16, iters = 1,
        fitSamplePct = 60, dim = 64)),

    "similarity_pq" -> ((s, dir) => {
      // ADC top-k over the compressed codes (memory-bound ANN scan);
      // same fitted codebooks as embedding_pq
      val emb = Tables.embeddings(s, dir)
      graft.simops.Embed.pqTopK(emb.filter(col("vec_id") < 10), emb,
        "vec_id", "embedding", kNN = 5, m = 8, k = 16, iters = 1,
        fitSamplePct = 60, dim = 64)
    }),

    "similarity_ivfpq" -> ((s, dir) => {
      // the composed big-ANN shape: IVF list pruning + ADC scoring of
      // PQ codes; both indexes share the sampled deterministic fits
      val emb = Tables.embeddings(s, dir)
      graft.simops.Embed.ivfPqTopK(emb.filter(col("vec_id") < 10), emb,
        "vec_id", "embedding", kNN = 5, nlist = 16, nprobe = 4,
        m = 8, k = 16, iters = 1, fitSamplePct = 60, dim = 64)
    }),

    "similarity_ivfpq_probe" -> ((s, dir) => {
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
    }),

    "similarity_ivfpq_probe_updated" -> ((s, dir) => {
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
    }),

    "similarity_ivfpq_probe_rerank" -> ((s, dir) => {
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
    }),

    "embedding_neardup" -> ((s, dir) =>
      // banded LSH candidates + exact cosine verify (no nested-loop pair
      // scan); params must stay in sync with the literal-plane oracle
      Similarity.nearDupPairsBanded(Tables.embeddings(s, dir), "vec_id",
        "embedding", EmbNearDupThreshold, numPlanes = 64,
        bands = EmbNearDupBands, dim = 64)),

    "embedding_neardup_incremental" -> ((s, dir) => {
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
    }),

    "embedding_clusters" -> ((s, dir) =>
      // the dedup decision for embeddings: same connected-components
      // closure, over the cosine near-dup pair graph
      Dedup.clusters(Similarity.nearDupPairsBanded(Tables.embeddings(s, dir),
        "vec_id", "embedding", EmbNearDupThreshold, numPlanes = 64,
        bands = EmbNearDupBands, dim = 64),
        aCol = "id_a", bCol = "id_b")),

    "embedding_neardup_planted" -> ((s, dir) =>
      // the NON-VACUOUS gate twin of embedding_neardup: on the
      // driver's hash-uniform embeddings zero pairs at 0.9 is the
      // correct answer, so this row unions the corpus with
      // deterministic near-copies (md5-chosen ~5%, id +10⁷, dim 1
      // halved — exact in float, bit-replayed by the oracle) and the
      // pair pipeline must find them
      Similarity.nearDupPairsBanded(plantedEmbeddings(s, dir), "vec_id",
        "embedding", EmbNearDupThreshold, numPlanes = 64,
        bands = EmbNearDupBands, dim = 64)),

    "embedding_neardup_incremental_planted" -> ((s, dir) => {
      // the ingest decision's planted gate twin: the increment IS the
      // deterministic near-copies, the corpus their originals — every
      // incoming vector must come back flagged (is_new = false,
      // dup_of = its original) through the broadcast-probe pipeline,
      // so the sf0.01 gate exercises the matched path end to end
      val e = Tables.embeddings(s, dir)
      Similarity.nearDupIncremental(plantedCopies(e), e, "vec_id",
        "embedding", EmbNearDupThreshold, numPlanes = 64,
        bands = EmbNearDupBands, dim = 64)
    }),

    "embedding_clusters_planted" -> ((s, dir) =>
      // the closure over the planted pairs: each planted copy joins
      // its original's cluster, so the component pipeline is exercised
      // with rows > 0 at the sf0.01 gate
      Dedup.clusters(Similarity.nearDupPairsBanded(
          plantedEmbeddings(s, dir), "vec_id", "embedding",
          EmbNearDupThreshold, numPlanes = 64, bands = EmbNearDupBands,
          dim = 64),
        aCol = "id_a", bCol = "id_b")),

    // ---- similarity search (north star) ----
    "similarity_topk" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.bruteForceTopK(emb.filter(col("vec_id") < 10), emb,
        "vec_id", "embedding", 5)
    }),

    "knn_classify" -> ((s, dir) => {
      // label propagation: modal label of the 5 nearest neighbors,
      // labels riding the one broadcast-queries candidate pass
      val emb = Tables.embeddings(s, dir)
      Similarity.knnClassify(emb.filter(col("vec_id") < 10), emb,
        "vec_id", "embedding", "label", 5)
    }),

    "label_centroids" -> ((s, dir) =>
      // per-class mean vector in long format: ONE combinable (label,
      // dim)-keyed average — the exchange carries partial sums, not
      // vectors
      graft.simops.Embed.labelCentroids(Tables.embeddings(s, dir),
        "embedding", "label")),

    "similarity_lsh" -> ((s, dir) => {
      // params must stay in sync with the literal-plane oracle below
      val emb = Tables.embeddings(s, dir)
      Similarity.lshTopK(emb.filter(col("vec_id") < 10), emb,
        "vec_id", "embedding", 5, numPlanes = 16, bands = 4, dim = 64)
    }),

    "embedding_quantize" -> ((s, dir) =>
      // symmetric int8 storage quantization — 4× smaller embedding
      // column before any shuffle/index; pure projection
      graft.simops.Embed.quantizeInt8(Tables.embeddings(s, dir),
        "vec_id", "embedding")),

    // ---- as-of join (time-series table stakes) ----
    "asof_join" -> ((s, dir) => {
      val ev = Tables.events(s, dir).withColumn("key", col("user_id") % 5)
      val oa = Tables.orders(s, dir)
        .groupBy((col("o_custkey") % 5).as("key"), col("o_orderdate"))
        .agg(max(col("o_totalprice")).as("last_price"))
      AsOfJoin.backward(ev, oa, "key", "ts", "o_orderdate", Seq("last_price"))
        .select(col("event_id"), col("key"), col("last_price"))
    }),

    "asof_join_forward" -> ((s, dir) => {
      // the next-observation twin: earliest order at-or-after each
      // event (same union-window machinery run toward the future)
      val ev = Tables.events(s, dir).withColumn("key", col("user_id") % 5)
      val oa = Tables.orders(s, dir)
        .groupBy((col("o_custkey") % 5).as("key"), col("o_orderdate"))
        .agg(max(col("o_totalprice")).as("next_price"))
      AsOfJoin.forward(ev, oa, "key", "ts", "o_orderdate", Seq("next_price"))
        .select(col("event_id"), col("key"), col("next_price"))
    }),

    "asof_join_tolerance" -> ((s, dir) => {
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
    }),

    "range_join_events" -> ((s, dir) => {
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
    }),

    // ---- corpus-preparation pipeline (north star) ----
    "pii_scrub" -> ((s, dir) =>
      graft.pipeline.Pipeline.piiScrub(Tables.documents(s, dir),
        "doc_id", "text")),

    "html_extract" -> ((s, dir) => {
      // HTML → training-text extraction (the web-corpus cleaning step
      // before quality/dedup): script/style/comment blocks dropped
      // wholesale (their content is code — tag-stripping alone leaks
      // it), remaining tags to spaces, prose entities decoded (&amp;
      // LAST — the double-decode ordering bug, pinned), whitespace
      // collapsed. Every step is a codegen'd string expression on the
      // scan — no UDF, no shuffle. The page fixture wraps each doc in
      // deterministic markup built identically in both engines:
      // mixed-case tags, a script body with stray '<', doc_id%4
      // anchors, entity-laden footer — so the md5'd cleaned text
      // hash-checks the full contract, not just the happy path.
      val d = Tables.documents(s, dir)
      val html = concat(
        lit("<html><head><title>Doc "), col("doc_id").cast("string"),
        lit("</title><SCRIPT type=\"text/javascript\">var x = 1 " +
          "&amp;&amp; 2;\nif (x < 3) { x = 4; }</SCRIPT>" +
          "<style>p { color: red; }</style></head><body><!-- nav\n" +
          "boilerplate --><p>"),
        col("text"),
        lit("</p>"),
        expr("repeat('<a href=\"/l\">link</a>', cast(doc_id % 4 as int))"),
        lit("<div>Tail &amp; footer&nbsp;&lt;end&gt;</div></body></html>"))
      graft.textops.Html.extract(
        d.select(col("doc_id"), html.as("html")), "doc_id", "html")
    }),

    "html_extract_main" -> ((s, dir) => {
      // MAIN-content selection on top of html_extract's cleaning —
      // the justext core: block segmentation on block-level tags +
      // the (minWords, link-density) keep rule, all integer
      // arithmetic. The page fixture plants the three boilerplate
      // shapes a real page carries around its prose: a nav bar (3
      // words, 100% linked), a link-farm listing (12 words, 100%
      // linked — length alone would keep it), and an entity-laden
      // footer (3 words); plus a SECOND prose block with an inline
      // link at 25% density that must be KEPT (the rule is a
      // density cut, not a no-links cut). The md5'd main text
      // hash-checks that exactly the prose survives.
      val d = Tables.documents(s, dir)
      graft.textops.Html.extractMain(
        d.select(col("doc_id"), htmlFixturePage.as("html")), "doc_id", "html",
        minWords = 5, maxLinkPct = 30)
    }),

    "sql_html_extract" -> ((s, dir) => {
      // SQL front door for the HTML cleaner: html_clean(...) is the
      // composed extraction expression built by the SAME Column
      // builder the DataFrame operator uses (eager bridge — cannot
      // drift); same fixture page, same columns, same oracle as
      // html_extract.
      GraftFunctions.register(s)
      Tables.documents(s, dir).createOrReplaceTempView("documents_v")
      s.sql("""WITH h AS (SELECT doc_id,
                 concat('<html><head><title>Doc ', cast(doc_id AS STRING),
                   '</title><SCRIPT type="text/javascript">var x = 1 &amp;&amp; 2;\nif (x < 3) { x = 4; }</SCRIPT>',
                   '<style>p { color: red; }</style></head><body><!-- nav\nboilerplate --><p>',
                   text, '</p>',
                   repeat('<a href="/l">link</a>', cast(doc_id % 4 AS INT)),
                   '<div>Tail &amp; footer&nbsp;&lt;end&gt;</div></body></html>') AS html
                 FROM documents_v)
               SELECT doc_id,
                 regexp_extract(html, '(?is)<title[^>]*>(.*?)</title>', 1) AS title,
                 cast(size(regexp_extract_all(html, '(?i)<a[\\s>]', 0)) AS BIGINT) AS n_links,
                 cast(length(clean) AS BIGINT) AS clean_len,
                 md5(clean) AS clean_fp
               FROM (SELECT doc_id, html, html_clean(html) AS clean FROM h)""")
    }),

    "sql_html_extract_main" -> ((s, dir) => {
      // SQL front door for the MAIN-content selector: html_main(...)
      // is the composed justext-core expression (same eager-bridge
      // builder as the DataFrame operator — cannot drift); same
      // fixture page as html_extract_main, trimmed to the main-text
      // columns a SQL user asks for.
      GraftFunctions.register(s)
      Tables.documents(s, dir).createOrReplaceTempView("documents_v")
      s.sql("""WITH h AS (SELECT doc_id,
                 concat('<html><head><title>Doc ', cast(doc_id AS STRING),
                   '</title><script>var nav = 1 &amp;&amp; 2;</script>',
                   '<style>a { color: blue; }</style></head><body>',
                   '<nav><a href="/">Home</a> <a href="/about">About</a> ',
                   '<a href="/contact">Contact</a></nav><p>', text,
                   '</p><p>Read the full guide at <a href="/guide">the ',
                   'documentation portal</a> for complete details today</p><div>',
                   repeat('<a href="/deal">hot deal item</a> ', 4),
                   '</div><footer>Copyright &amp; terms</footer></body></html>') AS html
                 FROM documents_v)
               SELECT doc_id,
                 cast(length(main) AS BIGINT) AS main_len,
                 md5(main) AS main_fp
               FROM (SELECT doc_id, html_main(html) AS main FROM h)""")
    }),

    "seq_pack" -> ((s, dir) =>
      // global concat-then-chunk packing; distributed two-pass prefix
      // sum (range buckets + broadcast base offsets), no
      // single-partition window over the data
      graft.pipeline.Pipeline.seqPack(Tables.documents(s, dir),
        "doc_id", "text", budget = 2048)),

    "pack_manifest" -> ((s, dir) =>
      // the per-pack reader view: member doc ids + attention-boundary
      // offsets as deterministic CSV, one combinable agg over seq_pack
      graft.pipeline.Pipeline.packManifest(Tables.documents(s, dir),
        "doc_id", "text", budget = 2048)),

    "embedding_profile" -> ((s, dir) =>
      // the embedding-column datasheet: per-label counts, dim, norm
      // distribution — one scan + one label-keyed agg
      graft.simops.Embed.profile(Tables.embeddings(s, dir),
        "embedding", "label")),

    "corpus_shuffle" -> ((s, dir) =>
      // deterministic shuffle-before-pack: same distributed prefix sum
      // as seq_pack, ordered by a reproducible md5 shuffle key (doc_id
      // tie-break) instead of the id
      graft.pipeline.Pipeline.corpusShuffle(Tables.documents(s, dir),
        "doc_id", "text", budget = 2048, seed = "graft-r4")),

    "sample_stratified" -> ((s, dir) =>
      graft.pipeline.Pipeline.sampleStratified(Tables.documents(s, dir),
        "doc_id", "lang",
        pctByStratum = Map("en" -> 80, "zh" -> 50), defaultPct = 25)),

    "sample_mixture" -> ((s, dir) =>
      // token-share domain mixing: output token mass targets
      // en:zh:fr:es = 6:2:1:1, German drops (weight 0); rates are
      // computed from the corpus's own token counts in-plan
      graft.pipeline.Pipeline.sampleMixture(Tables.documents(s, dir),
        "doc_id", "lang", "text",
        weights = Map("en" -> 6.0, "zh" -> 2.0, "fr" -> 1.0, "es" -> 1.0))),

    "sample_temperature" -> ((s, dir) =>
      // temperature-scaled mixture (mT5 rule, τ=2): target shares
      // (T_s/ΣT)^(1/τ) renormalized, derived from the corpus's own
      // per-source token mass — low-resource sources upsample, the
      // head never drowns; same T_out/basis-point/md5 machinery as
      // sample_mixture, corpus never shuffles
      graft.pipeline.Pipeline.sampleTemperature(Tables.documents(s, dir),
        "doc_id", "source", "text", temperature = 2.0)),

    "sample_quality_tiers" -> ((s, dir) =>
      // quality-weighted curriculum mix: quartile tiers from ONE
      // bounded-memory approx_percentile agg (never a global-window
      // ntile), md5 keep-draw upsampling the top of the distribution
      // (5/20/50/90% by tier)
      graft.pipeline.Pipeline.sampleQualityTiers(Tables.documents(s, dir),
        "doc_id", "text", tiers = 4,
        pctByTier = Map(1 -> 5, 2 -> 20, 3 -> 50, 4 -> 90))),

    "sample_ppl_buckets" -> ((s, dir) =>
      // CCNet head/middle/tail perplexity buckets: per-doc fluency
      // under the corpus's own bigram LM (lm_score), quartile-boundary
      // buckets from ONE percentile_approx scalar (head = most
      // fluent), 90/50/10% md5 keep-draws — the model-based-quality
      // curriculum beside the heuristic tiers
      graft.pipeline.Pipeline.samplePerplexityBuckets(
        Tables.documents(s, dir), "doc_id", "text")),

    // ---- REAL-tokenizer (BPE) budget family: the same operators
    // metered in the subword units a trainer actually consumes. One
    // codegen'd scan-stage kernel (BpeCountExpr, memoized per distinct
    // word) replaces the whitespace count; everything downstream —
    // prefix sums, pack cuts, mixture rates — is unchanged plan shape.
    "bpe_tokens" -> ((s, dir) =>
      // the tokenizer itself as a query: per-doc whitespace vs BPE
      // token counts under the fixture merge table
      graft.util.Par.spread(Tables.documents(s, dir)).select(col("doc_id"),
        TextOps.tokenCount(col("text")).cast("long").as("n_tokens"),
        TextOps.bpeTokenCount(col("text")).as("n_bpe"))),

    "bpe_tokens_ext" -> ((s, dir) => {
      // budgets in a REAL tokenizer's units: the merge table comes from
      // an EXTERNAL merges.txt (standard ordered-pair format), loaded
      // via BpeVocab.fromFile — the path a production pipeline takes
      // with its model's actual vocabulary. The fixture's first 100
      // merges stand in as the "external" table (written on first
      // invocation, probe-row convention): a genuinely different,
      // coarser vocabulary than the 200-merge fixture, whose oracle CTE
      // interpolates the same 100-merge prefix.
      val sd = storeDir(dir, "bpe")
      val path = s"$sd/merges.txt"
      val fs = new org.apache.hadoop.fs.Path(path)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      if (!fs.exists(new org.apache.hadoop.fs.Path(path)))
        graft.functions.BpeVocab.toFile(
          graft.functions.BpeVocab.merges.take(100), path,
          s.sparkContext.hadoopConfiguration)
      val ext = graft.functions.BpeVocab.fromFile(path,
        s.sparkContext.hadoopConfiguration)
      graft.util.Par.spread(Tables.documents(s, dir)).select(col("doc_id"),
        TextOps.bpeTokenCount(col("text"), ext).as("n_bpe"))
    }),

    "bpe_tokens_byte" -> ((s, dir) =>
      // GPT-2-family BYTE-LEVEL pre-encoding: each word's UTF-8 bytes
      // (through the public bytes_to_unicode map) seed the merge loop
      // — the symbol space real merges.txt vocabularies are written
      // over. The driver corpus is pure ASCII (where byte-level ≡
      // code-point), so a deterministic multi-byte suffix is planted
      // in-query: byte-level metering counts its é (2 bytes) and №
      // (3 bytes) as byte symbols, which the oracle replays through
      // the same literal map
      graft.util.Par.spread(Tables.documents(s, dir)).select(col("doc_id"),
        graft.functions.BpeCountExpr.byteLevel(
          concat(col("text"), lit(" café №")),
          graft.functions.BpeVocab.merges).as("n_bpe"))),

    "seq_pack_bpe" -> ((s, dir) =>
      graft.pipeline.Pipeline.seqPack(Tables.documents(s, dir),
        "doc_id", "text", budget = 2048,
        counter = TextOps.bpeTokenCount)),

    "pack_manifest_bpe" -> ((s, dir) =>
      graft.pipeline.Pipeline.packManifest(Tables.documents(s, dir),
        "doc_id", "text", budget = 2048,
        counter = TextOps.bpeTokenCount)),

    "sample_mixture_bpe" -> ((s, dir) =>
      graft.pipeline.Pipeline.sampleMixture(Tables.documents(s, dir),
        "doc_id", "lang", "text",
        weights = Map("en" -> 6.0, "zh" -> 2.0, "fr" -> 1.0, "es" -> 1.0),
        counter = TextOps.bpeTokenCount)),

    "corpus_profile_bpe" -> ((s, dir) =>
      graft.textops.Vocab.corpusProfile(Tables.documents(s, dir),
        "source", "lang", "text",
        counter = TextOps.bpeTokenCount)),

    "corpus_clean" -> ((s, dir) =>
      // the whole corpus-prep pipeline composed in one DAG: quality
      // gate -> exact dedup -> stratified sample -> sequence packing
      graft.pipeline.Pipeline.corpusClean(Tables.documents(s, dir),
        "doc_id", "text", "lang", minQuality = 0.3,
        pctByStratum = Map("en" -> 80, "zh" -> 50), defaultPct = 25,
        budget = 2048)),

    "corpus_clean_near" -> ((s, dir) =>
      // gate -> exact dedup -> MinHash near-dedup in one DAG (greedy
      // smaller-id-wins drop rule; closure form stays dedup_resolve)
      graft.pipeline.Pipeline.corpusCleanNear(Tables.documents(s, dir),
        "doc_id", "text", "lang", minQuality = 0.3)),

    "ingest_clean" -> ((s, dir) => {
      // the daily-ingest pipeline in one DAG: gate the increment, check
      // it against the corpus for exact and near duplicates, emit the
      // composite accept decision (same md5-bucket split as the
      // incremental dedup queries)
      val d = Tables.documents(s, dir)
      val bucket = graft.util.Sampling.md5Bucket(col("doc_id"))
      graft.pipeline.Pipeline.ingestClean(d.filter(bucket >= 70),
        d.filter(bucket < 70), "doc_id", "text", minQuality = 0.3,
        shingleSize = 3, bands = 8, rowsPerBand = 2, threshold = 0.5)
    }),

    "decontaminate" -> ((s, dir) => {
      // benchmark-leak check: docs 0-19 stand in for an eval suite;
      // corpus docs sharing any 5-gram with them are flagged
      val d = Tables.documents(s, dir)
      graft.pipeline.Pipeline.decontaminate(d,
        d.filter(col("doc_id") < 20), "doc_id", "text",
        shingleSize = 5, minShared = 1)
    }),

    "decontaminate_pairs" -> ((s, dir) => {
      // the provenance report behind the gate: which probe doc leaked
      // into which corpus doc, with the distinct shared-5-gram count
      val d = Tables.documents(s, dir)
      graft.pipeline.Pipeline.decontaminatePairs(d,
        d.filter(col("doc_id") < 20), "doc_id", "text",
        shingleSize = 5, minShared = 1)
    }),

    // ---- multimodal plumbing (north star; codec stubbed, see Multimodal) ----
    "tar_shards_roundtrip" -> ((s, dir) => {
      // the WebDataset contract: each sample's members as consecutive
      // tar entries ({key}.txt + {key}.cls here — the text/label
      // pairing every multimodal trainer reads), one .tar shard per
      // partition, samples grouped by a doc-keyed repartition +
      // within-partition sort. The oracle hash checks the byte-level
      // round-trip of BOTH members per doc
      val d = Tables.documents(s, dir)
      val members = d.select(col("doc_id"),
          explode(map(lit("txt"), col("text"), lit("cls"), col("lang"))))
        .select(col("doc_id"),
          concat_ws(".", col("doc_id"), col("key")).as("name"),
          encode(col("value"), "UTF-8").as("content"))
        .repartition(col("doc_id"))
        .sortWithinPartitions(col("doc_id"), col("name"))
      val tmp = scratchDir("graft_tar_rt")
      graft.sources.Tar.writeTarShards(members, tmp)
      graft.sources.Tar.read(s, tmp).select(
        regexp_extract(col("name"), "^(\\d+)\\.", 1)
          .cast("long").as("doc_id"),
        regexp_extract(col("name"), "\\.(\\w+)$", 1).as("ext"),
        col("size"),
        col("content").cast("string").as("content"))
    }),

    "warc_wet_roundtrip" -> ((s, dir) => {
      // the crawl-ingest front door: documents -> WET conversion
      // records (WARC/1.0, the public web-crawl text-distribution
      // format) -> .warc shards -> streamed per-file parse back.
      // The oracle hash checks the round-trip: any header/payload
      // framing bug, lossy byte handling, or Content-Length drift
      // would mismatch against the parquet original
      val d = Tables.documents(s, dir).select(
        concat(lit("http://graft.invalid/doc/"), col("doc_id"))
          .as("target_uri"),
        col("text"))
      val tmp = scratchDir("graft_warc_rt")
      graft.sources.Warc.writeWet(d, tmp)
      graft.sources.Warc.read(s, tmp).select(
        regexp_extract(col("target_uri"), "/doc/(\\d+)$", 1)
          .cast("long").as("doc_id"),
        col("warc_type"), col("target_uri"), col("content_length"),
        col("content").cast("string").as("text"))
    }),

    "warc_wet_gz_roundtrip" -> ((s, dir) => {
      // the same WET round-trip through the crawls' ACTUAL shard
      // layout: .warc.gz with one gzip member per record (member
      // boundary = record boundary — offset indexes give record
      // random access). Shares warc_wet_roundtrip's oracle
      val d = Tables.documents(s, dir).select(
        concat(lit("http://graft.invalid/doc/"), col("doc_id"))
          .as("target_uri"),
        col("text"))
      val tmp = scratchDir("graft_warcgz_rt")
      graft.sources.Warc.writeWet(d, tmp, gzipPerRecord = true)
      graft.sources.Warc.read(s, tmp).select(
        regexp_extract(col("target_uri"), "/doc/(\\d+)$", 1)
          .cast("long").as("doc_id"),
        col("warc_type"), col("target_uri"), col("content_length"),
        col("content").cast("string").as("text"))
    }),

    "warc_response_roundtrip" -> ((s, dir) => {
      // the RAW-crawl layer one step before WET: documents -> WARC
      // `response` records whose payload is a full HTTP envelope
      // (status line + ordered headers + Content-Length + body) ->
      // .warc shards -> streamed parse WITH the envelope split in the
      // same pass. Adversarial by construction: the body carries WARC
      // framing AND a fake inner HTTP envelope (the split must stop
      // at the FIRST header/body separator), and the target URI is
      // non-ASCII (the UTF-8 header-decode fix, hash-gated here)
      val d = Tables.documents(s, dir).select(
        concat(lit("http://graft.invalid/café/"), col("doc_id"))
          .as("target_uri"),
        lit("HTTP/1.1 200 OK").as("status_line"),
        array(struct(lit("Content-Type").as("name"),
          lit("text/html; charset=utf-8").as("value"))).as("http_headers"),
        concat(lit("WARC/1.0\r\nContent-Length: 0\r\n\r\n" +
          "HTTP/1.1 500 fake\r\n\r\n"), col("text"))
          .cast("binary").as("body"))
      val tmp = scratchDir("graft_warcresp_rt")
      graft.sources.Warc.writeResponse(d, tmp)
      graft.sources.Warc.readResponses(s, tmp).select(
        regexp_extract(col("target_uri"), "/(\\d+)$", 1)
          .cast("long").as("doc_id"),
        col("target_uri"), col("status_line"), col("http_status"),
        element_at(col("http_headers"), 1).getField("value")
          .as("content_type"),
        // the writer-appended envelope Content-Length (2nd header:
        // Content-Type is the only caller header), checked
        // numerically against the actual body span
        element_at(col("http_headers"), 2).getField("value")
          .cast("long").as("http_content_length"),
        col("body_length"),
        col("body").cast("string").as("body_text"))
    }),

    "warc_response_extract" -> ((s, dir) => {
      // the COMPLETE raw-crawl -> clean-text chain: documents wrapped
      // in the html_extract_main fixture page -> WARC response
      // records (HTTP envelope) -> shards -> envelope split -> justext
      // main-content extraction on the recovered body. Shares
      // html_extract_main's oracle verbatim — the crawl hop must be
      // invisible to the extractor
      val d = Tables.documents(s, dir)
      val rows = d.select(
        concat(lit("http://graft.invalid/doc/"), col("doc_id"))
          .as("target_uri"),
        lit("HTTP/1.1 200 OK").as("status_line"),
        array(struct(lit("Content-Type").as("name"),
          lit("text/html; charset=utf-8").as("value"))).as("http_headers"),
        htmlFixturePage.cast("binary").as("body"))
      val tmp = scratchDir("graft_warcresp_ex")
      graft.sources.Warc.writeResponse(rows, tmp)
      val resp = graft.sources.Warc.readResponses(s, tmp).select(
        regexp_extract(col("target_uri"), "/doc/(\\d+)$", 1)
          .cast("long").as("doc_id"),
        col("body").cast("string").as("html"))
      graft.textops.Html.extractMain(resp, "doc_id", "html",
        minWords = 5, maxLinkPct = 30)
    }),

    "warc_digest_dedup" -> ((s, dir) => {
      // digest-keyed exact dedup AT INGEST: the step public-crawl
      // consumers run on the WARC-Payload-Digest HEADER (sha1:BASE32
      // of the HTTP body, stamped by the writer) before any
      // text-level pass — the dedup reads the parsed header only,
      // never re-hashing payload bytes. The fixture plants exact-byte
      // duplicates (every 7th doc re-crawled under a new id) and the
      // shards open with warcinfo preambles that readResponses must
      // skip by type. Oracle groups the same crawl by raw text —
      // byte-equality ⇔ digest-equality
      val d = Tables.documents(s, dir)
      val crawl = d.select(col("doc_id"), col("text"))
        .unionAll(d.filter(col("doc_id") % 7 === 0)
          .select((col("doc_id") + lit(10000000L)).as("doc_id"),
            col("text")))
      val rows = crawl.select(
        concat(lit("http://graft.invalid/doc/"), col("doc_id"))
          .as("target_uri"),
        lit("HTTP/1.1 200 OK").as("status_line"),
        array(struct(lit("Content-Type").as("name"),
          lit("text/plain").as("value"))).as("http_headers"),
        col("text").cast("binary").as("body"))
      val tmp = scratchDir("graft_warc_digest")
      graft.sources.Warc.writeResponse(rows, tmp, warcinfo = true)
      graft.sources.Warc.readResponses(s, tmp)
        .select(regexp_extract(col("target_uri"), "/doc/(\\d+)$", 1)
          .cast("long").as("doc_id"), col("payload_digest"))
        .groupBy(col("payload_digest"))
        .agg(min(col("doc_id")).as("keep_id"),
          count(lit(1)).as("dup_count"))
        .select(col("keep_id"), col("dup_count"))
    }),

    "warc_types" -> ((s, dir) => {
      // the mixed raw-crawl record surface: response + request shards,
      // each opening with a warcinfo preamble, all surfaced UNSPLIT by
      // Warc.read. Counts pin the type mix (4 + 2 warcinfo records
      // from the fixed repartition) AND digest presence: responses
      // carry sha1 payload digests, requests and warcinfo do not
      val d = Tables.documents(s, dir)
      val respDir = scratchDir("graft_warc_types_rs")
      val reqDir = scratchDir("graft_warc_types_rq")
      graft.sources.Warc.writeResponse(d.select(
        concat(lit("http://graft.invalid/doc/"), col("doc_id"))
          .as("target_uri"),
        lit("HTTP/1.1 200 OK").as("status_line"),
        array(struct(lit("Content-Type").as("name"),
          lit("text/plain").as("value"))).as("http_headers"),
        col("text").cast("binary").as("body")).repartition(4),
        respDir, warcinfo = true)
      graft.sources.Warc.writeRequest(d.select(
        concat(lit("http://graft.invalid/doc/"), col("doc_id"))
          .as("target_uri"),
        concat(lit("GET /doc/"), col("doc_id"), lit(" HTTP/1.1"))
          .as("request_line"),
        array(struct(lit("Host").as("name"),
          lit("graft.invalid").as("value"))).as("http_headers"))
        .repartition(2), reqDir, warcinfo = true)
      graft.sources.Warc.read(s, respDir)
        .unionAll(graft.sources.Warc.read(s, reqDir))
        .groupBy(col("warc_type"))
        .agg(count(lit(1)).as("n"),
          count(col("payload_digest")).as("n_digest"))
    }),

    "crawl_clean" -> ((s, dir) => {
      // the COMPLETE crawl->training-data DAG in ONE registered row:
      // documents wrapped in the html_extract_main fixture page ->
      // WARC response shards (HTTP envelopes, payload digests,
      // warcinfo preambles) -> envelope split -> justext main-content
      // extraction -> quality gate -> exact dedup -> MinHash
      // near-dedup -> sequence packing. The oracle chains the
      // per-stage oracles' CTEs over the same fixture; the plan fence
      // (PlanAuditSpec) pins that no hash exchange carries html or
      // extracted text
      val d = Tables.documents(s, dir)
      val rows = d.select(
        concat(lit("http://graft.invalid/doc/"), col("doc_id"))
          .as("target_uri"),
        lit("HTTP/1.1 200 OK").as("status_line"),
        array(struct(lit("Content-Type").as("name"),
          lit("text/html; charset=utf-8").as("value"))).as("http_headers"),
        htmlFixturePage.cast("binary").as("body"))
      val tmp = scratchDir("graft_crawl_clean")
      graft.sources.Warc.writeResponse(rows, tmp, warcinfo = true)
      val resp = graft.sources.Warc.readResponses(s, tmp).select(
        regexp_extract(col("target_uri"), "/doc/(\\d+)$", 1)
          .cast("long").as("doc_id"),
        col("body").cast("string").as("html"))
      // scratch path scoped by PID (r16 ADVICE): two concurrent
      // sessions on one box (a bench and a verify run) raced on the
      // shared dir — one run's overwrite deleted files the other's
      // in-flight scan was reading. Per-JVM scoping keeps dir growth
      // bounded (overwritten per invocation within a JVM) while
      // making cross-process interference impossible; scratchDir
      // deletes it at JVM exit.
      graft.pipeline.Pipeline.crawlClean(resp, "doc_id", "html",
        minQuality = 0.3, budget = 2048,
        scratchDir = Some(scratchDir(
          s"graft_crawl_clean_ex_${java.lang.ProcessHandle.current().pid()}")))
    }),

    "jsonl_roundtrip" -> ((s, dir) => {
      // the corpus interchange gate: documents -> JSONL (gzip) -> read
      // back under the explicit schema. Registered so the ORACLE hash
      // checks the round-trip — any lossy escape of newlines/quotes/
      // unicode in text would mismatch against the parquet original
      val d = Tables.documents(s, dir).select(col("doc_id"), col("lang"),
        col("source"), col("n_chars"), col("text"))
      val tmp = scratchDir("graft_jsonl_rt")
      graft.sources.Sinks.writeJsonl(d, tmp)
      graft.sources.Sinks.readJsonl(s, tmp, d.schema)
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
          col("text"))
    }),

    "multimodal_meta" -> ((s, dir) => {
      // pure projection — no DeserializeToObject/mapPartitions in this
      // plan; decodeFeatures (the codec contract) is exercised by
      // MultimodalSpec and stays equivalent on the metadata columns
      val d = Tables.documents(s, dir)
      Multimodal.meta(d, "doc_id", encode(col("text"), "UTF-8"))
    }),

    "multimodal_features" -> ((s, dir) => {
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
    }),

    "multimodal_decode" -> ((s, dir) => {
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
    }),

    "multimodal_audio_decode" -> ((s, dir) => {
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
    }),

    "multimodal_video_frames" -> ((s, dir) => {
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
    }),

    "multimodal_resize" -> ((s, dir) => {
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
    }),

    "vecindex_liststats" -> ((s, dir) => {
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
    }),

    "media_band_capstats" -> ((s, dir) => {
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
    }),

    "store_capstats" -> ((s, dir) => {
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
    })
  ) ++ mediaRows.map(r => r.name -> r.build)

  /** DuckDB oracle SQL, one per SQL-expressible query, same column names.
    * MinHash and SimHash use an md5 hash family precisely so their whole
    * pipelines are portable and oracle-checked; the LSH operators embed
    * their literal plane matrices so even the APPROXIMATE results are
    * deterministic and hash-checked (approximate ≠ unverifiable).
    */
  def oracleSql: Map[String, String] = Map(
    "lag_1d" ->
      s"""SELECT event_id, value,
          lag(value,1,$INF) OVER ($EvW) AS value_lag_1,
          lag(value,2,$INF) OVER ($EvW) AS value_lag_2,
          lag(value,3,$INF) OVER ($EvW) AS value_lag_3
          FROM events""",

    "lag_1d_arbitrary_order" ->
      s"""SELECT event_id,
          lag(value,3) OVER ($EvW) AS value_lag_3,
          lag(value,1) OVER ($EvW) AS value_lag_1,
          lag(value,2) OVER ($EvW) AS value_lag_2
          FROM events""",

    "lag_null_fill" ->
      s"""SELECT event_id, value, lag(value,2) OVER ($EvW) AS value_lag_2
          FROM events""",

    "lag_2d_partitioned" ->
      s"""SELECT user_id, event_id, value,
          lag(value,1,$INF) OVER ($EvWP) AS value_lag_1,
          lag(value,2,$INF) OVER ($EvWP) AS value_lag_2,
          lag(value,3,$INF) OVER ($EvWP) AS value_lag_3
          FROM events""",

    "lag_long_format" ->
      s"""SELECT user_id, event_id, 1 AS lag, lag(value,1) OVER ($EvWP) AS value FROM events
          UNION ALL
          SELECT user_id, event_id, 2 AS lag, lag(value,2) OVER ($EvWP) AS value FROM events""",

    "lag_distributed" ->
      s"""SELECT event_id, value,
          lag(value,1) OVER ($EvW) AS value_lag_1,
          lag(value,2) OVER ($EvW) AS value_lag_2,
          lag(value,3) OVER ($EvW) AS value_lag_3
          FROM events""",

    "lag_2d_colmajor" ->
      """WITH m AS (SELECT s.s AS series_id, t.t AS t,
           CAST(t.t * 3 + s.s + 1 AS DOUBLE) AS value
           FROM (SELECT unnest(generate_series(0, 2)) AS s) s,
                (SELECT unnest(generate_series(0, 7)) AS t) t)
         SELECT series_id, t, value,
           lag(value, 1, -1.0) OVER w AS value_lag_1,
           lag(value, 2, -1.0) OVER w AS value_lag_2
         FROM m WINDOW w AS (PARTITION BY series_id ORDER BY t)""",

    "lead_1d" ->
      s"""SELECT event_id, value,
          lead(value,1) OVER ($EvW) AS value_lead_1,
          lead(value,2) OVER ($EvW) AS value_lead_2
          FROM events""",

    "lag_matrix_array" ->
      """SELECT vec_id, i - 1 AS pos,
         CASE WHEN i <= 2 THEN NULL ELSE CAST(embedding[i-2] AS DOUBLE) END AS val
         FROM (SELECT vec_id, embedding,
               unnest(generate_series(1, len(embedding))) AS i FROM embeddings)""",

    "ewma" -> {
      // the identical truncated weighted sum, left-associated in the
      // same order, weights embedded as the same shortest-round-trip
      // double literals Spark's plan carries (duckPlaneDot precedent)
      val alpha = 0.3; val win = 16
      val ws = (0 until win).map(j => math.pow(1.0 - alpha, j).toString)
      def lagSql(j: Int) =
        if (j == 0) "value" else s"lag(value, $j) OVER w"
      val numer = (0 until win).map(j =>
        s"(CASE WHEN ${lagSql(j)} IS NULL THEN 0.0 ELSE ${ws(j)} * ${lagSql(j)} END)")
        .mkString(" + ")
      val denom = (0 until win).map(j =>
        s"(CASE WHEN ${lagSql(j)} IS NULL THEN 0.0 ELSE ${ws(j)} END)")
        .mkString(" + ")
      s"""SELECT user_id, event_id, value,
          round(($numer) / ($denom), 6) AS value_ewma
          FROM events WINDOW w AS ($EvWP)"""
    },

    "lag_ffill" ->
      s"""SELECT user_id, event_id,
          round(coalesce(v_sparse, -1.0), 6) AS v_sparse,
          round(coalesce(last_value(v_sparse IGNORE NULLS) OVER
            ($EvWP ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
            -1.0), 6) AS v_filled
          FROM (SELECT user_id, event_id, ts,
                CASE WHEN event_id % 5 <> 0 THEN value END AS v_sparse
                FROM events)""",

    "funnel_steps" ->
      // scalar min-ts CTE chain — equivalent to the engine's chained
      // running-min windows because ts is unique per event, so "after
      // an earlier qualifying step" == "after the MIN qualifying time"
      """WITH q1 AS (SELECT user_id, min(ts) AS t1 FROM events
           WHERE event_type = 'view' GROUP BY 1),
         q2 AS (SELECT e.user_id, min(e.ts) AS t2 FROM events e
           JOIN q1 USING (user_id)
           WHERE e.event_type = 'click' AND e.ts > q1.t1 GROUP BY 1),
         q3 AS (SELECT e.user_id, min(e.ts) AS t3 FROM events e
           JOIN q2 USING (user_id)
           WHERE e.event_type = 'purchase' AND e.ts > q2.t2 GROUP BY 1)
         SELECT 1 AS step_idx, 'view' AS step, count(*) AS n_users FROM q1
         UNION ALL SELECT 2, 'click', count(*) FROM q2
         UNION ALL SELECT 3, 'purchase', count(*) FROM q3""",

    "retention_cohorts" ->
      """WITH c AS (SELECT user_id, date_trunc('week', min(ts)) AS cohort
           FROM events GROUP BY 1),
         a AS (SELECT DISTINCT user_id, date_trunc('week', ts) AS period
           FROM events)
         SELECT c.cohort,
           CAST(floor(date_diff('day', c.cohort, a.period) / 7.0) AS INT)
             AS week_offset,
           count(*) AS n_users
         FROM a JOIN c USING (user_id) GROUP BY 1, 2""",

    "events_debounce" ->
      // same sessionize-trick window formulation; ts is unique per
      // event (TESTDATA.md) so arg_min by ts_ns == the engine's min_by
      // on the (ts_ns, event_id) order struct
      """WITH t AS (SELECT user_id, event_type, event_id,
             epoch_ns(ts) AS ts_ns FROM events),
         s AS (SELECT *, CASE WHEN lag(ts_ns) OVER w IS NULL
                OR ts_ns - lag(ts_ns) OVER w > 86400000000000 THEN 1 ELSE 0 END AS nb
               FROM t WINDOW w AS (PARTITION BY user_id, event_type
                 ORDER BY ts_ns, event_id)),
         g AS (SELECT *, sum(nb) OVER (PARTITION BY user_id, event_type
               ORDER BY ts_ns, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS burst FROM s)
         SELECT user_id, event_type, arg_min(event_id, ts_ns) AS first_event,
           min(ts_ns) // 1000 AS burst_start_us, count(*) AS n_collapsed
         FROM g GROUP BY user_id, event_type, burst""",

    "lag_interp" ->
      s"""WITH t AS (SELECT user_id, event_id, ts,
             CAST(epoch_ns(ts) AS DOUBLE) AS tt,
             CASE WHEN event_id % 5 <> 0 THEN value END AS v_sparse
           FROM events),
         w AS (SELECT user_id, event_id, v_sparse, tt,
           last_value(v_sparse IGNORE NULLS) OVER
             ($EvWP ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS pv,
           last_value(CASE WHEN v_sparse IS NOT NULL THEN tt END
             IGNORE NULLS) OVER
             ($EvWP ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS pt,
           first_value(v_sparse IGNORE NULLS) OVER
             ($EvWP ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
             AS nv,
           first_value(CASE WHEN v_sparse IS NOT NULL THEN tt END
             IGNORE NULLS) OVER
             ($EvWP ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
             AS nt
           FROM t)
         SELECT user_id, event_id,
           round(coalesce(v_sparse, -1.0), 6) AS v_sparse,
           round(coalesce(CASE WHEN v_sparse IS NOT NULL THEN v_sparse
             WHEN pv IS NULL THEN nv WHEN nv IS NULL THEN pv
             ELSE pv + (nv - pv) * (tt - pt) / (nt - pt) END, -1.0), 6)
             AS v_interp
         FROM w""",

    "series_acf" -> {
      // same lag columns, same per-user Pearson corr; the n>=2 guard
      // mirrors the engine's NaN→NULL normalization (DuckDB yields
      // NULL below 2 pairs where Spark yields NaN)
      val ls = (1 to 5).map(k => s"lag(value, $k) OVER w AS l$k")
        .mkString(", ")
      val parts = (1 to 5).map(k =>
        s"""SELECT user_id, $k AS "lag", count(l$k) AS n_pairs,
            round(CASE WHEN count(l$k) >= 2
              THEN corr(value, l$k) END, 6) + 0.0 AS acf
            FROM l GROUP BY user_id""").mkString(" UNION ALL ")
      s"""WITH l AS (SELECT user_id, value, $ls FROM events
          WINDOW w AS ($EvWP)) $parts"""
    },

    "series_xcorr" ->
      // identical hourly bucketing (integer µs floor-division ==
      // the engine's unix-seconds floor), self-join at bucket+shift,
      // combinable corr per shift
      """WITH b AS (SELECT (epoch_us(ts) // 3600000000) * 3600 AS bucket,
             avg(CASE WHEN event_type = 'view' THEN value END) AS va,
             avg(CASE WHEN event_type = 'purchase' THEN value END) AS vb
           FROM events WHERE event_type IN ('view', 'purchase')
           GROUP BY 1),
         k AS (SELECT unnest(generate_series(-3, 3)) AS shift)
         SELECT k.shift, count(*) AS n_pairs,
           round(corr(a.va, bb.vb), 6) + 0.0 AS xcorr
         FROM k, b a, b bb
         WHERE a.va IS NOT NULL AND bb.vb IS NOT NULL
           AND a.bucket + k.shift * 3600 = bb.bucket
         GROUP BY k.shift""",

    "trend_decompose" ->
      // resid from the ROUNDED trend (both engines subtract identical
      // doubles — ulp-boundary-safe at any row count)
      s"""SELECT user_id, event_id, value,
          round(avg(value) OVER w, 6) AS trend,
          round(value - round(avg(value) OVER w, 6), 6) + 0.0 AS resid
          FROM events
          WINDOW w AS ($EvWP ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)""",

    "anomaly_zscore" ->
      // rounded z feeds BOTH the sentinel and the flag, matching the
      // engine (is_anomaly compares the 6dp z, and the -999 sentinel
      // is applied after the flag so it can never trip it)
      s"""WITH w AS (SELECT user_id, event_id, value,
             count(value) OVER fr AS base_n,
             avg(value) OVER fr AS mu,
             stddev_samp(value) OVER fr AS sd
           FROM events
           WINDOW fr AS ($EvWP ROWS BETWEEN 8 PRECEDING AND 1 PRECEDING)),
         z AS (SELECT user_id, event_id, value, base_n,
             round(CASE WHEN base_n >= 2 AND sd > 0
               THEN (value - mu) / sd END, 6) + 0.0 AS zr
           FROM w)
         SELECT user_id, event_id, value, base_n,
           coalesce(zr, -999.0) AS z,
           coalesce(abs(zr) > 2.5, false) AS is_anomaly
         FROM z""",

    "stl_seasonal" -> {
      // exact integer micro-unit replay of the engine pipeline:
      // fixed-point inputs make double means land ON decimal rounding
      // boundaries, where Spark's shortest-repr BigDecimal round and
      // DuckDB's binary round systematically disagree — so no double
      // aggregation appears anywhere; means are the shared
      // round-half-up integer-division formula
      val off = "1000000000"
      def halfUp(a: String, b: String) =
        s"(CAST(((2*(($a) + $off*($b)) + ($b)) - ((2*(($a) + $off*($b)) + ($b)) % (2*($b)))) / (2*($b)) AS BIGINT) - $off)"
      s"""WITH t AS (SELECT user_id, event_id, value, hour(ts) AS hod,
             CAST(round(value * 100) AS BIGINT) * 10000 AS vm,
             sum(CAST(round(value * 100) AS BIGINT) * 10000) OVER fr AS fs,
             count(*) OVER fr AS fn
           FROM events
           WINDOW fr AS ($EvWP
             ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING)),
         t2 AS (SELECT user_id, event_id, value, hod, vm,
             ${halfUp("fs", "fn")} AS trm FROM t),
         s AS (SELECT user_id, hod,
             ${halfUp("sum(vm - trm)", "count(*)")} AS seam
             FROM t2 GROUP BY 1, 2)
         SELECT t2.user_id, t2.event_id, t2.hod, t2.value,
           t2.trm / 1000000.0 AS trend,
           s.seam / 1000000.0 AS seasonal,
           (t2.vm - t2.trm - s.seam) / 1000000.0 AS remainder
         FROM t2 JOIN s USING (user_id, hod)"""
    },

    "rolling_corr" ->
      s"""WITH l AS (SELECT user_id, event_id, ts, value,
             lag(value, 1) OVER ($EvWP) AS y
           FROM events),
         w AS (SELECT user_id, event_id, value,
             count(y) OVER fr AS n_pairs,
             CASE WHEN count(y) OVER fr >= 2
               THEN corr(value, y) OVER fr END AS c
           FROM l
           WINDOW fr AS ($EvWP
             ROWS BETWEEN 23 PRECEDING AND CURRENT ROW))
         SELECT user_id, event_id, value, n_pairs,
           coalesce(round(c, 6) + 0.0, -999.0) AS roll_corr FROM w""",

    "value_histogram" ->
      """SELECT event_type,
         CAST(least(greatest(floor(value / 10.0), 0.0), 11.0) AS BIGINT)
           AS bucket,
         count(*) AS n,
         round(min(value), 6) AS lo_seen,
         round(max(value), 6) AS hi_seen
         FROM events GROUP BY 1, 2""",

    "resample_ohlc" ->
      // window formulation of the same OHLC semantics (first/last value
      // in (ts, event_id) order per (user, hour) bucket); open/close are
      // constant within the bucket, so grouping by them reduces to the
      // (user, bucket) grain
      """WITH w AS (SELECT user_id, date_trunc('hour', ts) AS bucket, value,
           first_value(value) OVER pw AS open,
           last_value(value) OVER pwf AS close
         FROM events
         WINDOW pw AS (PARTITION BY user_id, date_trunc('hour', ts)
                       ORDER BY ts, event_id),
                pwf AS (PARTITION BY user_id, date_trunc('hour', ts)
                        ORDER BY ts, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING
                        AND UNBOUNDED FOLLOWING))
         SELECT user_id, epoch_us(bucket) AS bucket_us,
           round(open, 6) AS open, round(max(value), 6) AS high,
           round(min(value), 6) AS low, round(close, 6) AS close,
           count(*) AS n
         FROM w GROUP BY user_id, bucket, open, close""",

    "rolling_agg" ->
      s"""SELECT user_id, event_id, value,
          round(avg(value) OVER w, 6) AS roll_avg,
          round(sum(value) OVER w, 6) AS roll_sum,
          min(value) OVER w AS roll_min,
          max(value) OVER w AS roll_max,
          count(value) OVER w AS roll_n
          FROM events
          WINDOW w AS ($EvWP ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)""",

    "rolling_time_window" ->
      """SELECT user_id, event_id,
         round(sum(value) OVER w, 6) AS hour_sum,
         count(*) OVER w AS hour_n
         FROM (SELECT user_id, event_id, value, epoch_us(ts) AS ts_us FROM events)
         WINDOW w AS (PARTITION BY user_id ORDER BY ts_us
           RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)""",

    "q_set_ops" ->
      """SELECT DISTINCT user_id, strftime(ts, '%Y-%m-%d') AS day
         FROM events WHERE event_type = 'click'
         EXCEPT
         SELECT DISTINCT user_id, strftime(ts, '%Y-%m-%d') AS day
         FROM events WHERE event_type = 'purchase'""",

    "q1_pricing" ->
      """SELECT l_returnflag, l_linestatus,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
         CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS sum_disc_price,
         COUNT(*) AS count_order
         FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
         GROUP BY l_returnflag, l_linestatus""",

    "q_rollup" ->
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
         FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""",

    "q_window_stats" ->
      """SELECT event_id, event_type, value,
         ntile(4) OVER w AS quartile,
         round(percent_rank() OVER w, 6) AS pct_rank,
         round(cume_dist() OVER w, 6) AS cume
         FROM events
         WINDOW w AS (PARTITION BY event_type ORDER BY value, event_id)""",

    "q3_topk_orders" ->
      """SELECT o_orderkey,
         CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         WHERE c_mktsegment = 'BUILDING'
         GROUP BY o_orderkey ORDER BY revenue DESC, o_orderkey LIMIT 10""",

    "q5_region_revenue" ->
      """SELECT r_name, n_name,
         CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
         COUNT(*) AS n_items
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         GROUP BY r_name, n_name""",

    "sql_q6" ->
      """SELECT CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
         COUNT(*) AS n
         FROM lineitem
         WHERE l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""",

    "sql_q17_small_qty" ->
      """SELECT ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0, 2) AS avg_yearly,
         COUNT(*) AS n_small_qty
         FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
         WHERE p.p_brand = 'Brand#4'
         AND l.l_quantity < (SELECT 0.2 * AVG(l2.l_quantity)
                             FROM lineitem l2
                             WHERE l2.l_partkey = p.p_partkey)""",

    "window_rank" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, rnk FROM (
         SELECT o_custkey, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rnk
         FROM orders) WHERE rnk <= 3""",

    "json_props" ->
      """SELECT event_id,
         CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS BIGINT) AS k
         FROM events""",

    "stream_window_agg" ->
      """SELECT epoch_us(CAST(date_trunc('hour', ts) AS TIMESTAMP)) AS ts_hour_us,
         event_type, count(*) AS n_events, round(sum(value), 6) AS total_value
         FROM events GROUP BY 1, 2""",

    "sessionize" ->
      """WITH t AS (SELECT user_id, event_id, value, epoch_ns(ts) AS ts_ns FROM events),
         s AS (SELECT *, CASE WHEN lag(ts_ns) OVER w IS NULL
                OR ts_ns - lag(ts_ns) OVER w > 1800000000000 THEN 1 ELSE 0 END AS ns
               FROM t WINDOW w AS (PARTITION BY user_id ORDER BY ts_ns, event_id)),
         g AS (SELECT *, sum(ns) OVER (PARTITION BY user_id ORDER BY ts_ns, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid FROM s)
         SELECT user_id, min(ts_ns) // 1000 AS session_start_us, max(ts_ns) // 1000 AS session_end_us,
         count(*) AS n_events, round(sum(value), 6) AS total_value
         FROM g GROUP BY user_id, sid""",

    "attribution_join" ->
      """WITH c AS (SELECT event_id AS click_id, user_id, epoch_us(ts) AS ts_us
           FROM events WHERE event_type = 'click'),
         p AS (SELECT event_id AS purchase_id, user_id, epoch_us(ts) AS ts_us
           FROM events WHERE event_type = 'purchase')
         SELECT c.click_id, p.purchase_id, c.user_id,
           p.ts_us - c.ts_us AS gap_us
         FROM c JOIN p ON c.user_id = p.user_id
         AND p.ts_us >= c.ts_us AND p.ts_us <= c.ts_us + 1800000000""",

    "session_window_native" ->
      """WITH t AS (SELECT user_id, event_id, value, epoch_us(ts) AS ts_us FROM events),
         s AS (SELECT *, CASE WHEN lag(ts_us) OVER w IS NULL
                OR ts_us - lag(ts_us) OVER w >= 1800000000 THEN 1 ELSE 0 END AS ns
               FROM t WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
         g AS (SELECT *, sum(ns) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid FROM s)
         SELECT user_id, min(ts_us) AS session_start_us,
         count(*) AS n_events, round(sum(value), 6) AS total_value
         FROM g GROUP BY user_id, sid""",

    "q_pivot" ->
      """SELECT source,
         count(*) FILTER (lang = 'de') AS de,
         count(*) FILTER (lang = 'en') AS en,
         count(*) FILTER (lang = 'es') AS es,
         count(*) FILTER (lang = 'fr') AS fr,
         count(*) FILTER (lang = 'zh') AS zh
         FROM documents GROUP BY source""",

    "q_anti_join" ->
      """SELECT c_custkey, c_name FROM customer
         WHERE NOT EXISTS (SELECT 1 FROM orders
           WHERE o_custkey = c_custkey AND o_totalprice > 400000)""",

    "q_quantile" ->
      """SELECT event_type, round(quantile_cont(value, 0.5), 6) AS p50,
         round(quantile_cont(value, 0.9), 6) AS p90, count(*) AS n
         FROM events GROUP BY event_type""",

    "salted_agg" ->
      """SELECT event_type, count(*) AS n,
         CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total,
         min(value) AS vmin, max(value) AS vmax
         FROM events GROUP BY event_type""",

    "text_stats" -> duckTextStatsOracle,

    "text_stats_cjk" -> {
      val stops = TextOps.stopwords.values.flatten.toSeq.distinct
        .map(w => s"'$w'").mkString("[", ", ", "]")
      s"""WITH $cjkFixtureCtes,
         segd AS (SELECT doc_id, text,
           ${duckSegment("text")} AS seg FROM cjk),
         t AS (SELECT doc_id, length(text) AS n_chars_computed,
           len(list_filter(string_split_regex(text, '\\s+'),
             x -> x <> '')) AS n_tokens_ws,
           len(list_filter(string_split_regex(seg, '\\s+'),
             x -> x <> '')) AS n_tokens_seg,
           list_filter(string_split_regex(lower(seg), '\\s+'),
             x -> x <> '') AS wseg
           FROM segd)
         SELECT doc_id, n_chars_computed, n_tokens_ws, n_tokens_seg,
           round(CASE WHEN len(wseg) = 0 THEN 0.0 ELSE
             len(list_filter(wseg, x -> list_contains($stops, x)))::DOUBLE
             / len(wseg)::DOUBLE END, 6) AS stopword_ratio
         FROM t"""
    },

    "text_stats_sea" ->
      // the identical fixture + the identical cluster-segmentation
      // regexp (duckSegment), so n_tokens_seg counts clusters in both
      // engines by construction
      s"""WITH $seaFixtureCtes,
         segd AS (SELECT doc_id, text,
           ${duckSegment("text")} AS seg FROM sea)
         SELECT doc_id, length(text) AS n_chars_computed,
           len(list_filter(string_split_regex(text, '\\s+'),
             x -> x <> '')) AS n_tokens_ws,
           len(list_filter(string_split_regex(seg, '\\s+'),
             x -> x <> '')) AS n_tokens_seg
         FROM segd""",

    "lang_id_cjk" ->
      s"""WITH $cjkFixtureCtes,
         l0 AS (SELECT doc_id,
           list_sort(${duckLangPacks("text")})[-1] AS bw,
           list_sort(${duckLangPacks(duckSegment("text"))})[-1] AS bs
           FROM cjk)
         SELECT doc_id,
           CASE WHEN bw.h = 0 THEN 'und' ELSE bw.l END AS lang_pred_ws,
           CASE WHEN bs.h = 0 THEN 'und' ELSE bs.l END AS lang_pred
         FROM l0""",

    // the SQL-front-door rows make the IDENTICAL computation through
    // spark.sql + the registered graft functions — same oracles
    "sql_text_stats" -> duckTextStatsOracle,
    "lang_id" -> duckLangIdOracle,

    "sql_lang_id" -> duckLangIdOracle,

    "quality_score" -> duckQualityScoreOracle,

    "quality_filter" ->
      // replays the rule set literally over the same integer stats;
      // CASE-without-ELSE is NULL on pass and concat_ws skips NULLs in
      // both engines, so the reasons column needs no list machinery
      s"""WITH b AS (SELECT doc_id,
           len(list_filter(string_split_regex(text, '\\s+'), x -> x <> ''))::BIGINT AS n_tokens,
           length(text)::DOUBLE AS nc,
           length(regexp_replace(text, '[^!-/:-@\\[-`{-~]', '', 'g'))::DOUBLE AS np,
           len(list_filter(string_split_regex(lower(text), '\\s+'),
               x -> x <> '' AND list_contains($duckStopList, x)))::DOUBLE AS ns
           FROM documents),
         r AS (SELECT doc_id, n_tokens,
           (n_tokens >= 20) AS r1,
           (n_tokens <= 100000) AS r2,
           (CASE WHEN n_tokens = 0 THEN 0.0 ELSE nc / n_tokens::DOUBLE END
              BETWEEN 2.0 AND 12.0) AS r3,
           (CASE WHEN n_tokens = 0 THEN 0.0 ELSE ns / n_tokens::DOUBLE END
              >= 0.02) AS r4,
           (CASE WHEN nc = 0.0 THEN 0.0 ELSE np / nc END <= 0.2) AS r5
           FROM b)
         SELECT doc_id, n_tokens,
           (r1 AND r2 AND r3 AND r4 AND r5) AS keep,
           concat_ws(',',
             CASE WHEN NOT r1 THEN 'min_len' END,
             CASE WHEN NOT r2 THEN 'max_len' END,
             CASE WHEN NOT r3 THEN 'word_len' END,
             CASE WHEN NOT r4 THEN 'stopword' END,
             CASE WHEN NOT r5 THEN 'punct' END) AS reasons
         FROM r""",

    "sample_cap_per_source" ->
      // the salted two-phase top-k equals this single global rank per
      // source by construction (each salt's local top-k is a superset
      // of its members of the global top-k)
      """WITH r AS (SELECT doc_id, source, md5(doc_id::VARCHAR) AS draw
           FROM documents),
         rk AS (SELECT doc_id, source, row_number() OVER (
             PARTITION BY source ORDER BY draw, doc_id) AS rank
           FROM r)
         SELECT doc_id, source, rank::BIGINT AS rank
         FROM rk WHERE rank <= 10""",

    "domain_profile" ->
      // the canonical host of the fixture URL is lower(source) ||
      // '.example.com' by construction — the oracle derives it
      // directly and replays the corpus_profile arithmetic per domain
      s"""WITH b AS (SELECT lower(source) || '.example.com' AS domain,
             lang, $duckQualityParts FROM documents),
         s AS (SELECT domain, lang, n_tok,
             $duckQualityFromParts AS quality FROM b)
         SELECT domain, count(*) AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS n_tokens,
           $duckMeanQualityMicro,
           round(quantile_cont(n_tok, 0.5), 6) AS p50_tokens,
           round(quantile_cont(n_tok, 0.9), 6) AS p90_tokens,
           count(DISTINCT lang) AS n_langs
         FROM s GROUP BY domain""",

    "domain_filter" ->
      // replays the planted spam domain (md5 bucket < 10 swaps host +
      // junk text), the per-domain mean-quality aggregate, and the
      // (mean_quality >= 0.3 AND n_docs >= 2) keep rule per doc
      s"""WITH ub AS (SELECT doc_id, source, text,
           list_sum(list_transform(generate_series(1, 15),
             p -> ((strpos('0123456789abcdef',
                    substr(md5(doc_id::VARCHAR), p, 1)) - 1)::BIGINT
                   << (4 * (15 - p)))))::BIGINT % 100 AS bucket
           FROM documents),
         pl AS (SELECT doc_id,
           CASE WHEN bucket < 10 THEN 'spam-farm.example.com'
                WHEN bucket = 10 THEN NULL
                ELSE lower(source) || '.example.com' END AS domain,
           CASE WHEN bucket < 10 THEN '!!! buy now !!! buy now !!!'
                ELSE text END AS text
           FROM ub),
         b AS (SELECT doc_id, domain, $duckQualityParts FROM pl),
         s AS (SELECT doc_id, domain,
           $duckQualityFromParts AS quality FROM b),
         sm AS (SELECT doc_id, domain,
           CAST(round(quality * 1000000) AS BIGINT) AS qm FROM s),
         pr0 AS (SELECT domain, count(*)::BIGINT AS domain_n_docs,
           2 * (sum(qm) + 1000000000 * count(*)) + count(*) AS biga,
           2 * count(*) AS bigb
           FROM sm GROUP BY domain),
         prof AS (SELECT domain, domain_n_docs,
           (((biga - (biga % bigb)) // bigb) - 1000000000)::DOUBLE
             / 1000000.0 AS domain_mean_quality
           FROM pr0)
         SELECT sm.doc_id, sm.domain, prof.domain_n_docs,
           prof.domain_mean_quality,
           COALESCE(prof.domain_mean_quality >= 0.3
                    AND prof.domain_n_docs >= 2, FALSE) AS keep
         FROM sm LEFT JOIN prof USING (domain)""",

    "url_canonicalize" ->
      // replays the messy-URL fixture (md5 bucket draw) and every
      // canonicalization rule literally: lowercase scheme/host, www +
      // default-port strip, fragment drop, tracking-param filter,
      // param sort, trailing-slash fold
      """WITH ub AS (SELECT doc_id, source,
           list_sum(list_transform(generate_series(1, 15),
             p -> ((strpos('0123456789abcdef',
                    substr(md5(doc_id::VARCHAR), p, 1)) - 1)::BIGINT
                   << (4 * (15 - p)))))::BIGINT % 100 AS bucket
           FROM documents),
         u AS (SELECT doc_id,
           'HTTP://WWW.' || upper(source) || '.Example.COM:80/Docs/'
             || doc_id ||
           CASE WHEN bucket < 20 THEN '/?utm_source=x&b=2&a=1#frag'
                WHEN bucket < 40 THEN '?a=1&utm_campaign=y&fbclid=z'
                WHEN bucket < 60 THEN '/#section-2'
                WHEN bucket < 80 THEN '?z=9&a=1'
                ELSE '' END AS url
           FROM ub),
         p AS (SELECT doc_id, url,
           lower(regexp_extract(url,
             '^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#]+)([^?#]*)(\?[^#]*)?(#.*)?$', 1)) AS scheme,
           lower(regexp_extract(url,
             '^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#]+)([^?#]*)(\?[^#]*)?(#.*)?$', 2)) AS host0,
           regexp_extract(url,
             '^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#]+)([^?#]*)(\?[^#]*)?(#.*)?$', 3) AS path0,
           regexp_extract(url,
             '^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#]+)([^?#]*)(\?[^#]*)?(#.*)?$', 4) AS q0
           FROM u),
         c AS (SELECT doc_id, url, scheme,
           CASE WHEN scheme = 'http'
                THEN regexp_replace(regexp_replace(host0, '^www\.', ''), ':80$', '')
                WHEN scheme = 'https'
                THEN regexp_replace(regexp_replace(host0, '^www\.', ''), ':443$', '')
                ELSE regexp_replace(host0, '^www\.', '') END AS host,
           CASE WHEN path0 = '' THEN '/'
                WHEN path0 <> '/' THEN regexp_replace(path0, '/$', '')
                ELSE path0 END AS path,
           array_to_string(list_sort(list_filter(
             string_split(regexp_replace(q0, '^\?', ''), '&'),
             x -> x <> '' AND NOT regexp_matches(x,
               '^(utm_[^=]*|gclid|fbclid)(=|$)'))), '&') AS q
           FROM p)
         SELECT doc_id, url,
           CASE WHEN scheme <> '' AND host <> ''
                THEN scheme || '://' || host || path ||
                     CASE WHEN q <> '' THEN '?' || q ELSE '' END
           END AS url_canonical
         FROM c""",

    "sample_dsir" ->
      // replays the hashed-n-gram bucket models (md5-fold % 10000),
      // add-one smoothing, the per-doc avg log-ratio rounded 6dp,
      // and the quartile threshold as explicit rank selection (the
      // corpus_profile_approx discrete-quantile convention)
      s"""WITH dt AS (SELECT doc_id, source = 'src0' AS t,
           list_filter(string_split_regex(lower(text), '\\s+'),
             x -> x <> '') AS w
           FROM documents),
         fu AS (SELECT doc_id, t, unnest(w) AS f FROM dt),
         fbg AS (SELECT doc_id, t, w[i] || ' ' || w[i+1] AS f
               FROM (SELECT doc_id, t, w,
                     unnest(generate_series(1, len(w) - 1)) AS i
                     FROM dt WHERE len(w) >= 2)),
         fa AS (SELECT doc_id, t,
           list_sum(list_transform(generate_series(1, 15),
             p -> ((strpos('0123456789abcdef',
                    substr(md5(f), p, 1)) - 1)::BIGINT
                   << (4 * (15 - p)))))::BIGINT % 10000 AS b
           FROM (SELECT * FROM fu UNION ALL SELECT * FROM fbg)),
         c AS (SELECT b, count(*) AS cr, count(*) FILTER (t) AS ct
               FROM fa GROUP BY b),
         tot AS (SELECT sum(cr) AS rtot, sum(ct) AS ttot FROM c),
         lr AS (SELECT b, ln((ct + 1.0) / (ttot + 10000))
                        - ln((cr + 1.0) / (rtot + 10000)) AS lr
               FROM c, tot),
         s AS (SELECT doc_id, count(*) AS n_feats,
               round(avg(lr), 6) AS dsir_score
               FROM fa JOIN lr USING (b) GROUP BY doc_id),
         r AS (SELECT dsir_score, row_number() OVER (ORDER BY dsir_score) AS rn,
               count(*) OVER () AS n FROM s),
         thr AS (SELECT max(CASE WHEN rn =
               greatest(CAST(ceil(0.75 * n) AS BIGINT), 1)
               THEN dsir_score END) AS t3 FROM r)
         SELECT d.doc_id, COALESCE(s.n_feats, 0) AS n_feats,
           s.dsir_score,
           COALESCE(s.dsir_score > thr.t3, false) AS keep
         FROM documents d LEFT JOIN s USING (doc_id), thr""",

    "dedup_lines_intra" ->
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
           FROM k GROUP BY doc_id) c USING (doc_id)""",

    "dedup_lines_corpus" ->
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
           FROM k GROUP BY doc_id) c USING (doc_id)""",

    "dedup_lines_incremental" -> linesIncrementalOracle,

    // the Bloom-prefiltered line probe is decision-bit-identical to
    // the direct incremental (no false negatives; the verify join
    // kills the sketch's false positives) — same oracle
    "dedup_lines_bloom_probe" -> linesIncrementalOracle,

    "dedup_lines_bloom_probe_updated" -> linesUpdatedOracle,

    "sql_quality_score" -> duckQualityScoreOracle,

    "corpus_profile" -> duckCorpusProfileOracle,

    "sql_corpus_profile" -> duckCorpusProfileOracle,

    "corpus_profile_approx" ->
      // below the sketch's compression threshold approx_percentile IS
      // the exact discrete quantile: the value at 1-based rank
      // ceil(p * n) of the stratum's sorted values (QuantileSummaries'
      // rank rule with exact samples) — replayed here as an explicit
      // row_number selection, so even the "approximate" datasheet row
      // hash-checks
      s"""WITH b AS (SELECT source, lang, $duckQualityParts FROM documents),
         s AS (SELECT source, lang, n_tok,
               $duckQualityFromParts AS quality FROM b),
         a AS (SELECT source, count(*) AS n_docs,
               CAST(sum(n_tok) AS BIGINT) AS n_tokens,
               $duckMeanQualityMicro,
               count(DISTINCT lang) AS n_langs
             FROM s GROUP BY source),
         r AS (SELECT source, n_tok,
               row_number() OVER (PARTITION BY source ORDER BY n_tok) AS rn,
               count(*) OVER (PARTITION BY source) AS n FROM s),
         p AS (SELECT source,
               max(CASE WHEN rn = greatest(CAST(ceil(0.5 * n) AS BIGINT), 1)
                   THEN n_tok END) AS p50_tokens,
               max(CASE WHEN rn = greatest(CAST(ceil(0.9 * n) AS BIGINT), 1)
                   THEN n_tok END) AS p90_tokens
             FROM r GROUP BY source)
         SELECT a.source, a.n_docs, a.n_tokens, a.mean_quality,
           p.p50_tokens, p.p90_tokens, a.n_langs
         FROM a JOIN p USING (source)""",

    "doc_fingerprint" ->
      """SELECT doc_id, md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fingerprint
         FROM documents""",

    "rep_stats" ->
      """WITH toks AS (SELECT doc_id,
           list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS w
           FROM documents),
         g2 AS (SELECT doc_id, count(DISTINCT s) AS d FROM (
             SELECT doc_id, CASE WHEN len(w) < 2 THEN array_to_string(w, ' ')
               ELSE w[i] || ' ' || w[i+1] END AS s
             FROM (SELECT doc_id, w,
               unnest(generate_series(1, greatest(len(w) - 1, 1))) AS i FROM toks))
           GROUP BY 1),
         g3 AS (SELECT doc_id, count(DISTINCT s) AS d FROM (
             SELECT doc_id, CASE WHEN len(w) < 3 THEN array_to_string(w, ' ')
               ELSE w[i] || ' ' || w[i+1] || ' ' || w[i+2] END AS s
             FROM (SELECT doc_id, w,
               unnest(generate_series(1, greatest(len(w) - 2, 1))) AS i FROM toks))
           GROUP BY 1),
         tc AS (SELECT doc_id, max(c) AS maxc FROM (
             SELECT doc_id, tok, count(*) AS c
             FROM (SELECT doc_id, unnest(w) AS tok FROM toks)
             GROUP BY 1, 2) GROUP BY 1)
         SELECT t.doc_id, len(w) AS n_tokens,
           round(CASE WHEN len(w) = 0 THEN 0.0
             ELSE 1.0 - len(list_distinct(w))::DOUBLE / len(w) END, 6) AS dup_tok_frac,
           round(CASE WHEN len(w) = 0 THEN 0.0
             ELSE 1.0 - g2.d::DOUBLE / greatest(len(w) - 1, 1) END, 6) AS dup_2gram_frac,
           round(CASE WHEN len(w) = 0 THEN 0.0
             ELSE 1.0 - g3.d::DOUBLE / greatest(len(w) - 2, 1) END, 6) AS dup_3gram_frac,
           round(CASE WHEN len(w) = 0 THEN 0.0
             ELSE tc.maxc::DOUBLE / len(w) END, 6) AS top_tok_frac
         FROM toks t
         LEFT JOIN g2 ON g2.doc_id = t.doc_id
         LEFT JOIN g3 ON g3.doc_id = t.doc_id
         LEFT JOIN tc ON tc.doc_id = t.doc_id""",

    "stream_trending_ngrams" ->
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
         GROUP BY 1, 2 HAVING count(*) >= 5""",

    "topk_ngrams" ->
      // bigrams over the shared whitespace token fold; docs with < 2
      // tokens contribute nothing; (cnt desc, ngram) is a total order
      // so the LIMIT cut is engine-agnostic
      """WITH toks AS (SELECT
           list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS w
           FROM documents),
         ng AS (SELECT w[i] || ' ' || w[i+1] AS ngram
                FROM (SELECT w, unnest(generate_series(1, len(w) - 1)) AS i
                      FROM toks WHERE len(w) >= 2))
         SELECT ngram, count(*) AS cnt FROM ng GROUP BY 1
         ORDER BY cnt DESC, ngram LIMIT 50""",

    "novelty_score" ->
      """WITH toks AS (SELECT doc_id,
           list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS w
           FROM documents),
         ng AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] AS ngram
                FROM (SELECT doc_id, w, unnest(generate_series(1, len(w) - 1)) AS i
                      FROM toks WHERE len(w) >= 2)),
         d AS (SELECT ngram, count(*) AS df FROM ng GROUP BY 1)
         SELECT doc_id, count(*) AS n_ngrams,
           round(avg(CASE WHEN df = 1 THEN 1.0 ELSE 0.0 END), 6) AS novelty
         FROM ng JOIN d USING (ngram) GROUP BY doc_id""",

    "quality_model_score" ->
      // replays the fixture vocabulary (top-2000 tokens, count desc /
      // token asc cut), the md5-fold weights, the OOV-zero left join,
      // and the all-positive round-half-up micro-unit division
      """WITH qmt AS (SELECT doc_id,
           unnest(list_filter(string_split_regex(lower(text), '\s+'),
             x -> x <> '')) AS token
           FROM documents),
         qmv AS (SELECT token FROM qmt GROUP BY token
                 ORDER BY count(*) DESC, token ASC LIMIT 2000),
         qmw AS (SELECT token,
           list_sum(list_transform(generate_series(1, 15),
             p -> ((strpos('0123456789abcdef',
                    substr(md5(token), p, 1)) - 1)::BIGINT
                   << (4 * (15 - p)))))::BIGINT % 2001 AS weight
           FROM qmv),
         qms AS (SELECT doc_id, count(*) AS n_tokens,
               count(w.weight) AS n_invocab,
               sum(COALESCE(w.weight, 0)) AS wsum
             FROM qmt LEFT JOIN qmw w USING (token) GROUP BY doc_id)
         SELECT d.doc_id,
           COALESCE(qms.n_tokens, 0) AS n_tokens,
           COALESCE(qms.n_invocab, 0) AS n_invocab,
           CAST(CASE WHEN qms.doc_id IS NULL THEN NULL
                ELSE (wsum * 2000000 + n_tokens) // (n_tokens * 2) END
             AS BIGINT) AS score_micro
         FROM documents d LEFT JOIN qms USING (doc_id)""",

    "lm_score" ->
      // replays Vocab.lmScore on the string keys (the engine joins on
      // xxhash64 of the same strings — identical up to the vanishing
      // collision contract): corpus bigram/unigram counts, add-one
      // smoothing, ln, 6dp-rounded per-doc average
      """WITH toks AS (SELECT doc_id,
           list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS w
           FROM documents),
         bg AS (SELECT doc_id, w[i] || ' ' || w[i+1] AS bg, w[i] AS w1
                FROM (SELECT doc_id, w, unnest(generate_series(1, len(w) - 1)) AS i
                      FROM toks WHERE len(w) >= 2)),
         c12 AS (SELECT bg, count(*) AS c12 FROM bg GROUP BY 1),
         uni AS (SELECT unnest(w) AS tok FROM toks),
         c1 AS (SELECT tok, count(*) AS c1 FROM uni GROUP BY 1),
         v AS (SELECT count(DISTINCT tok) AS vv FROM uni)
         SELECT doc_id, count(*) AS n_bigrams,
           round(avg(ln((c12.c12 + 1.0) / (c1.c1 + v.vv))), 6) AS avg_logp
         FROM bg JOIN c12 USING (bg) JOIN c1 ON c1.tok = bg.w1, v
         GROUP BY doc_id""",

    "sample_ppl_buckets" ->
      // the lm_score CTE chain feeding the quality_tiers conventions:
      // quartile thresholds as explicit rank selection (value at
      // 1-based rank ceil(p·n) — ties safe: the VALUE at a sorted
      // position is deterministic), head/middle/tail by strict >
      // compares on the 6dp score, then the shared md5-bucket draw
      """WITH toks AS (SELECT doc_id,
           list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS w
           FROM documents),
         bg AS (SELECT doc_id, w[i] || ' ' || w[i+1] AS bg, w[i] AS w1
                FROM (SELECT doc_id, w, unnest(generate_series(1, len(w) - 1)) AS i
                      FROM toks WHERE len(w) >= 2)),
         c12 AS (SELECT bg, count(*) AS c12 FROM bg GROUP BY 1),
         uni AS (SELECT unnest(w) AS tok FROM toks),
         c1 AS (SELECT tok, count(*) AS c1 FROM uni GROUP BY 1),
         v AS (SELECT count(DISTINCT tok) AS vv FROM uni),
         lm AS (SELECT doc_id, count(*) AS n_bigrams,
           round(avg(ln((c12.c12 + 1.0) / (c1.c1 + v.vv))), 6) AS avg_logp
           FROM bg JOIN c12 USING (bg) JOIN c1 ON c1.tok = bg.w1, v
           GROUP BY doc_id),
         r AS (SELECT avg_logp, row_number() OVER (ORDER BY avg_logp) AS rn,
               count(*) OVER () AS n FROM lm),
         t AS (SELECT
               max(CASE WHEN rn = greatest(CAST(ceil(0.25 * n) AS BIGINT), 1)
                   THEN avg_logp END) AS t1,
               max(CASE WHEN rn = greatest(CAST(ceil(0.75 * n) AS BIGINT), 1)
                   THEN avg_logp END) AS t3
             FROM r),
         b AS (SELECT doc_id, n_bigrams, avg_logp,
               CASE WHEN avg_logp > t.t3 THEN 'head'
                    WHEN avg_logp > t.t1 THEN 'middle'
                    ELSE 'tail' END AS ppl_bucket,
               list_sum(list_transform(generate_series(1, 15),
                 p -> ((strpos('0123456789abcdef',
                        substr(md5(doc_id::VARCHAR), p, 1)) - 1)::BIGINT
                       << (4 * (15 - p)))))::BIGINT % 100 AS bucket
             FROM lm, t)
         SELECT doc_id, n_bigrams, avg_logp, ppl_bucket, bucket FROM b
         WHERE bucket < CASE ppl_bucket WHEN 'head' THEN 90
                        WHEN 'middle' THEN 50 ELSE 10 END""",

    "tfidf_terms" ->
      // smooth tf-idf: score = tf * ln((N+1)/(df+1)) rounded to 6dp on
      // both engines; rank ties break on the term string
      """WITH toks AS (SELECT doc_id,
           unnest(list_filter(string_split_regex(lower(text), '\s+'),
             x -> x <> '')) AS term
           FROM documents),
         tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
         dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
         n AS (SELECT count(*) AS n_docs FROM documents),
         scored AS (SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
             round(tf.tf * ln((n.n_docs + 1.0) / (dfreq.df + 1.0)), 6) AS score
           FROM tf JOIN dfreq USING (term), n)
         SELECT doc_id, term, tf, df, score, rank FROM (
           SELECT *, row_number() OVER (PARTITION BY doc_id
             ORDER BY score DESC, term) AS rank
           FROM scored) WHERE rank <= 3""",

    "bm25_search" -> {
      // same tokenization, same Lucene-form idf and tf normalization
      // with the constants spelled identically ((1.2 + 1.0), 1.0 - 0.75)
      // so both engines fold the same IEEE arithmetic; cut on
      // (6dp score, doc_id)
      val qvals = BmQueries.flatMap { case (qid, qt) =>
        qt.toLowerCase.split("\\s+").filter(_.nonEmpty).distinct
          .map(t => s"('$qid', '$t')")
      }.mkString(", ")
      s"""WITH q(query_id, term) AS (VALUES $qvals),
         toks AS (SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\\s+'),
               x -> x <> '') AS w
           FROM documents),
         dl AS (SELECT doc_id, len(w) AS dl FROM toks),
         sc AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
         tk AS (SELECT doc_id, unnest(w) AS term FROM toks),
         m AS (SELECT q.query_id, q.term, tk.doc_id
               FROM tk JOIN q USING (term)),
         tf AS (SELECT query_id, term, doc_id, count(*) AS tf
                FROM m GROUP BY 1, 2, 3),
         dfq AS (SELECT term, count(DISTINCT doc_id) AS df
                 FROM tf GROUP BY 1),
         s AS (SELECT tf.query_id, tf.doc_id,
             round(sum(ln(1.0 + (sc.n_docs - dfq.df + 0.5) / (dfq.df + 0.5))
               * (tf.tf * (1.2 + 1.0))
               / (tf.tf + 1.2 * ((1.0 - 0.75) + 0.75 * dl.dl / sc.avgdl))),
               6) AS score
           FROM tf JOIN dfq USING (term) JOIN dl USING (doc_id), sc
           GROUP BY 1, 2)
         SELECT query_id, rank, doc_id, score FROM (
           SELECT *, row_number() OVER (PARTITION BY query_id
             ORDER BY score DESC, doc_id) AS rank FROM s)
         WHERE rank <= 10"""
    },

    "pmi_bigrams" ->
      // identical count model and division order; ordering on the
      // ROUNDED pmi so the top-50 cut agrees between engines
      """WITH toks AS (SELECT list_filter(
             string_split_regex(lower(text), '\s+'), x -> x <> '') AS w
           FROM documents),
         uni AS (SELECT unnest(w) AS tok FROM toks),
         c1 AS (SELECT tok, count(*) AS c FROM uni GROUP BY 1),
         nu AS (SELECT count(*) AS nu FROM uni),
         bg AS (SELECT w[i] || ' ' || w[i+1] AS bigram
                FROM (SELECT w, unnest(generate_series(1, len(w) - 1)) AS i
                      FROM toks WHERE len(w) >= 2)),
         c12 AS (SELECT bigram, count(*) AS c12 FROM bg GROUP BY 1
                 HAVING count(*) >= 5),
         nb AS (SELECT count(*) AS nb FROM bg)
         SELECT bigram, c12, a.c AS c1, b.c AS c2,
           round(ln((c12 / nb.nb) /
             ((a.c / nu.nu) * (b.c / nu.nu))), 6) AS pmi
         FROM c12
           JOIN c1 a ON a.tok = split_part(bigram, ' ', 1)
           JOIN c1 b ON b.tok = split_part(bigram, ' ', 2), nb, nu
         ORDER BY pmi DESC, bigram LIMIT 50""",

    "doc_winnow" ->
      s"""WITH $duckWinnowFpCtes
         SELECT doc_id, fp FROM f""",

    "dedup_spans" ->
      // replays Dedup.spanPairs(k=8, w=AUTO, minShared=5, maxDf=16) on
      // the SCALED winnow-fingerprint CTEs (window re-derived from
      // count(*)): df-cap the boilerplate fingerprints, self-join,
      // count shared fps per ordered pair
      s"""WITH $duckWinnowFpScaledCtes,
         d AS (SELECT fp FROM f GROUP BY fp HAVING count(*) <= 16),
         p AS (SELECT f.doc_id, f.fp FROM f JOIN d USING (fp))
         SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared
         FROM p a JOIN p b ON a.fp = b.fp AND a.doc_id < b.doc_id
         GROUP BY 1, 2 HAVING count(*) >= 5""",

    "dedup_substrings" ->
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
         FROM r GROUP BY doc_id, run""",

    "dedup_substrings_char" ->
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
         FROM r GROUP BY doc_id, run""",

    "dedup_spans_incremental" -> spanIncrementalOracle,

    // the stored probe makes the IDENTICAL decision from the persisted
    // (doc_id, fp, df) frame — same oracle, like dedup_minhash_stored
    "dedup_spans_stored" -> spanIncrementalOracle,

    "dedup_exact" -> duckDedupExactOracle,

    "sql_dedup_exact" -> duckDedupExactOracle,

    "dedup_minhash" ->
      s"""WITH $minhashPairCtes
         SELECT doc_a, doc_b, jaccard FROM mpairs""",

    "dedup_minhash_cjk" ->
      // the planted fixture + segmentScripts pad, then the IDENTICAL
      // signature/band/verify CTEs over the padded relation
      s"""WITH $cjkFixtureCtes,
         seg AS (SELECT doc_id, ${duckSegment("text")} AS text FROM cjk),
         ${minhashPairCtesFrom("seg")}
         SELECT doc_a, doc_b, jaccard FROM mpairs""",

    "dedup_editdist" ->
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
           AND levenshtein(a.t, b.t) <= 40""",

    "dedup_clusters" ->
      s"""WITH RECURSIVE $minhashClusterCtes
         SELECT node AS doc_id, cluster_id,
           count(*) OVER (PARTITION BY cluster_id) AS cluster_size
         FROM lbl""",

    "dedup_resolve" ->
      s"""WITH RECURSIVE $minhashClusterCtes
         SELECT d.doc_id, COALESCE(l.cluster_id, d.doc_id) AS keep_id,
           d.doc_id = COALESCE(l.cluster_id, d.doc_id) AS kept
         FROM documents d LEFT JOIN lbl l ON l.node = d.doc_id""",

    "dedup_resolve_best" ->
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
         FROM rm JOIN rbest USING (grp)""",

    "split_leakage_free" ->
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
         FROM b""",

    "dedup_simhash" ->
      s"""WITH $simhashPairCtes
         SELECT doc_a, doc_b, hamming FROM spairs""",

    "dedup_clusters_simhash" ->
      s"""WITH RECURSIVE ${simhashPairCtes + closureCtes("spairs")}
         SELECT node AS doc_id, cluster_id,
           count(*) OVER (PARTITION BY cluster_id) AS cluster_size
         FROM lbl""",

    "ngram_jaccard" ->
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
         WHERE inter::DOUBLE / (x.n_sh + y.n_sh - inter) >= 0.8""",

    "ngram_df_capstats" ->
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
         FROM dfs""",

    "dedup_minhash_capstats" ->
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
         FROM bs GROUP BY 1""",

    "embedding_neardup" ->
      s"""WITH $embPairCtes
         SELECT doc_a AS id_a, doc_b AS id_b, sim FROM epairs""",

    "embedding_neardup_incremental" -> {
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
    },

    "embedding_clusters" ->
      s"""WITH RECURSIVE ${embPairCtes + closureCtes("epairs")}
         SELECT node AS doc_id, cluster_id,
           count(*) OVER (PARTITION BY cluster_id) AS cluster_size
         FROM lbl""",

    "embedding_neardup_planted" ->
      s"""WITH $duckPlantedEmbCtes,
         ${embPairCtesFrom("pemb")}
         SELECT doc_a AS id_a, doc_b AS id_b, sim FROM epairs""",

    "embedding_clusters_planted" ->
      s"""WITH RECURSIVE $duckPlantedEmbCtes,
         ${embPairCtesFrom("pemb") + closureCtes("epairs")}
         SELECT node AS doc_id, cluster_id,
           count(*) OVER (PARTITION BY cluster_id) AS cluster_size
         FROM lbl""",

    "embedding_neardup_incremental_planted" -> {
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
    },

    "similarity_lsh" -> {
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
    },

    "similarity_topk" -> {
      val cos = duckCosine("q.qv", "c.embedding")
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 10),
         scored AS (SELECT q.query_id, c.vec_id AS neighbor_id, round($cos, 4) AS sim
                    FROM q, embeddings c WHERE c.vec_id <> q.query_id)
         SELECT query_id, neighbor_id, sim, rank FROM (
           SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
           FROM scored) WHERE rank <= 5"""
    },

    "knn_classify" -> {
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
    },

    "label_centroids" ->
      """SELECT label, i - 1 AS dim,
           round(avg(CAST(embedding[i] AS DOUBLE)), 6) AS mean_c,
           count(*) AS n_vecs
         FROM (SELECT label, embedding,
               unnest(generate_series(1, len(embedding))) AS i FROM embeddings)
         GROUP BY 1, 2""",

    "similarity_ivf" -> {
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
    },

    "dedup_incremental" -> exactIncrementalOracle,

    // the Bloom prefilter + persisted fingerprint store make the SAME
    // decision (no false negatives; false positives die in the verify
    // join) — the store/sketch round-trip changes the physics only
    "dedup_bloom_probe" -> exactIncrementalOracle,

    "dedup_bloom_probe_updated" -> bloomUpdatedOracle,

    "dedup_minhash_incremental" -> minhashIncrementalOracle,

    "ingest_clean" ->
      // composes the corpus_clean quality gate with BOTH incremental
      // duplicate checks' oracle logic: exact (batch min-id survivor +
      // corpus fingerprint absence, over GATED docs only) and near
      // (the banded-probe chain, incb restricted to gated docs; the
      // boolean only needs pair existence, not the best-match rank)
      s"""WITH $minhashBandedCtes,
         sb AS (SELECT doc_id,
           list_sum(list_transform(generate_series(1, 15),
             p -> ((strpos('0123456789abcdef',
                    substr(md5(doc_id::VARCHAR), p, 1)) - 1)::BIGINT
                   << (4 * (15 - p)))))::BIGINT % 100 AS sbucket
           FROM documents),
         qb AS (SELECT doc_id, $duckQualityParts FROM documents),
         qv AS (SELECT doc_id, $duckQualityFromParts AS quality FROM qb),
         incq AS (SELECT s.doc_id, qv.quality FROM sb s
                  JOIN qv ON qv.doc_id = s.doc_id WHERE s.sbucket >= 70),
         gated AS (SELECT doc_id FROM incq WHERE quality >= 0.3),
         fps AS (SELECT doc_id,
           md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp
           FROM documents),
         keepb AS (SELECT fp, min(f.doc_id) AS keep_id FROM fps f
                   JOIN gated g ON g.doc_id = f.doc_id GROUP BY fp),
         corpfp AS (SELECT DISTINCT f.fp FROM fps f
                    JOIN sb ON sb.doc_id = f.doc_id WHERE sb.sbucket < 70),
         hitx AS (SELECT DISTINCT k.fp FROM keepb k
                  JOIN corpfp c ON c.fp = k.fp),
         exn AS (SELECT f.doc_id,
             (f.doc_id = k.keep_id AND h.fp IS NULL) AS is_new_exact
           FROM fps f JOIN gated g ON g.doc_id = f.doc_id
           JOIN keepb k ON k.fp = f.fp LEFT JOIN hitx h ON h.fp = f.fp),
         incb AS (SELECT b.doc_id, bnd, bucket FROM banded b
                  JOIN gated g USING (doc_id)),
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
         ver AS (SELECT DISTINCT iiv.inc_id FROM iiv
           JOIN isz sx ON sx.doc_id = iiv.inc_id
           JOIN isz sy ON sy.doc_id = iiv.dup_id
           WHERE round(iiv.inter::DOUBLE / (sx.n_sh + sy.n_sh - iiv.inter), 6) >= 0.5),
         nearn AS (SELECT g.doc_id, (v.inc_id IS NULL) AS is_new_near
                   FROM gated g LEFT JOIN ver v ON v.inc_id = g.doc_id)
         SELECT i.doc_id, i.quality,
           COALESCE(e.is_new_exact, false) AS is_new_exact,
           COALESCE(n.is_new_near, false) AS is_new_near,
           (i.quality >= 0.3 AND COALESCE(e.is_new_exact, false)
             AND COALESCE(n.is_new_near, false)) AS accepted
         FROM incq i LEFT JOIN exn e ON e.doc_id = i.doc_id
         LEFT JOIN nearn n ON n.doc_id = i.doc_id""",

    "dedup_minhash_stored" ->
      // the stored-probe form computes the IDENTICAL decision (hashed
      // verify arrays intersect like the string sets, same rounded
      // jaccard), so it shares the incremental oracle verbatim
      minhashIncrementalOracle,

    // the parquet-persisted probe rows make the SAME decision again —
    // the store round-trip changes the physics (what the bench row
    // measures), never the answer
    "dedup_minhash_probe" -> minhashIncrementalOracle,
    "dedup_spans_probe" -> spanIncrementalOracle,

    "dedup_minhash_stored_updated" -> minhashStoredUpdatedOracle,
    "dedup_spans_stored_updated" -> spanStoredUpdatedOracle,
    // the delta-append probe makes the IDENTICAL decision over the
    // identical membership (base corpus + accepted A deltas vs inc B)
    "dedup_spans_probe_updated" -> spanStoredUpdatedOracle,

    "dedup_semantic" -> {
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
    },

    "dedup_semantic_incremental" -> semanticIncrementalOracle,

    // the parquet-persisted forest + assignments make the SAME decision
    // again — the store round-trip changes the physics (what the bench
    // row measures), never the answer
    "dedup_semantic_probe" -> semanticIncrementalOracle,

    "dedup_semantic_probe_updated" -> semanticUpdatedOracle,

    "dedup_semantic_liststats" -> {
      // the same forest replay, reduced to the integer list-size
      // distribution — no float surface
      s"""WITH ${duckHierFitCtes("embeddings")},
         szh AS (SELECT list_id, count(*) AS sz FROM asgh GROUP BY list_id)
         SELECT CAST(sum(sz) AS BIGINT) AS n_vecs, count(*) AS n_lists,
           max(sz) AS max_list,
           CAST(sum(CASE WHEN sz > 64 THEN 1 ELSE 0 END) AS BIGINT)
             AS over_2x_target
         FROM szh"""
    },

    "embedding_pq" -> {
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
    },

    "embedding_pq_opq" -> {
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
    },

    "similarity_pq" -> {
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
    },

    "similarity_ivfpq" -> duckIvfPqTopKOracle("TRUE"),

    // the stored-serving form at the SCALE-TRUE geometry: the hier
    // forest + PQ replay with nlist re-derived from the corpus's own
    // count(*) (the autoNlist contract), parquet round-trips exact
    "similarity_ivfpq_probe" -> duckVecIndexProbeOracle("TRUE"),

    // the two-stage form: the same ADC chain shortlists top 4·k, then
    // exact cosine re-ranks the shortlist (round-4 + id tiebreak)
    "similarity_ivfpq_probe_rerank" -> duckVecIndexRerankOracle("TRUE"),

    // the A/B twin: geometry + fits from the bucket<70 corpus (the
    // store's build input), assignment + encode over EVERYTHING (the
    // appended increment encodes under the FROZEN forest — per-row
    // pure functions of (vector, forest, codebooks), so the
    // full-table replay equals build-then-append)
    "similarity_ivfpq_probe_updated" ->
      duckVecIndexProbeOracle(s"${duckMd5Pct("id")} < 70"),

    "embedding_quantize" ->
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
         FROM s""",

    "asof_join" ->
      """WITH oa AS (SELECT o_custkey % 5 AS key, o_orderdate,
           max(o_totalprice) AS last_price FROM orders GROUP BY 1, 2)
         SELECT e.event_id, e.user_id % 5 AS key, oa.last_price
         FROM events e ASOF LEFT JOIN oa
         ON (e.user_id % 5) = oa.key AND e.ts >= oa.o_orderdate""",

    "asof_join_forward" ->
      // DuckDB ASOF with <= picks the nearest right row at-or-after
      // the left time — the forward twin's exact semantics
      """WITH oa AS (SELECT o_custkey % 5 AS key, o_orderdate,
           max(o_totalprice) AS next_price FROM orders GROUP BY 1, 2)
         SELECT e.event_id, e.user_id % 5 AS key, oa.next_price
         FROM events e ASOF LEFT JOIN oa
         ON (e.user_id % 5) = oa.key AND e.ts <= oa.o_orderdate""",

    "asof_join_tolerance" ->
      // ASOF picks the nearest at-or-before purchase; the 24h tolerance
      // is the same post-join µs test as the Spark projection
      """WITH p AS (SELECT user_id, ts AS p_ts, max(value) AS p_value
           FROM events WHERE event_type = 'purchase' GROUP BY 1, 2)
         SELECT e.event_id, e.user_id,
           round(coalesce(CASE WHEN epoch_us(e.ts) - epoch_us(p.p_ts)
                 <= 86400000000 THEN p.p_value END, -1.0), 6) AS p_value_24h
         FROM events e ASOF LEFT JOIN p
         ON e.user_id = p.user_id AND e.ts >= p.p_ts""",

    "range_join_events" ->
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
           AND e.ts_us >= i.start_us AND e.ts_us <= i.end_us""",

    "pii_scrub" -> {
      val email = graft.pipeline.Pipeline.emailPattern
      val ip = graft.pipeline.Pipeline.ipv4Pattern
      s"""SELECT doc_id,
         len(regexp_extract_all(text, '$email')) AS n_emails,
         len(regexp_extract_all(text, '$ip')) AS n_ipv4,
         md5(regexp_replace(regexp_replace(text, '$email', '<EMAIL>', 'g'),
             '$ip', '<IP>', 'g')) AS scrub_fp
         FROM documents"""
    },

    "html_extract" -> htmlExtractOracle,
    // the SQL front door builds the same page and calls the composed
    // html_clean(...) expression — identical decision, same oracle
    "sql_html_extract" -> htmlExtractOracle,

    "html_extract_main" -> htmlExtractMainOracle,
    // the SQL front door computes the same main text on the same page
    // — its oracle is the main oracle trimmed to the main-text columns
    "sql_html_extract_main" ->
      s"""WITH vbase AS ($htmlExtractMainOracle)
         SELECT doc_id, main_len, main_fp FROM vbase""",

    "seq_pack" ->
      // the distributed two-pass prefix sum equals this single global
      // window by construction (base + within-bucket prefix telescopes)
      s"""WITH $duckSeqPackCtes
         SELECT doc_id, n_tokens, pack_id, pack_offset FROM packed""",

    "pack_manifest" ->
      // the per-pack reader view on the shared packing CTEs: member
      // offsets/ids as CSV ordered by (offset, doc_id) — the same
      // total order Spark's sorted struct array produces
      s"""WITH $duckSeqPackCtes
         SELECT pack_id, count(*) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
           string_agg(pack_offset::VARCHAR, ','
             ORDER BY pack_offset, doc_id) AS offsets_csv,
           string_agg(doc_id::VARCHAR, ','
             ORDER BY pack_offset, doc_id) AS doc_ids_csv
         FROM packed GROUP BY pack_id""",

    "embedding_profile" ->
      // norm = sqrt of the same sequential double dot the engine's
      // kernel computes; exact interpolating median (q_quantile /
      // corpus_profile precedent)
      """WITH v AS (SELECT label,
           list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vv
           FROM embeddings),
         n AS (SELECT label, len(vv) AS d,
           sqrt(list_sum(list_transform(list_zip(vv, vv),
             p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))) AS nrm
           FROM v)
         SELECT label, count(*) AS n_vecs, max(d) AS dim,
           round(avg(nrm), 6) AS mean_norm,
           round(quantile_cont(nrm, 0.5), 6) AS p50_norm
         FROM n GROUP BY label""",

    "corpus_shuffle" ->
      // same single-global-window statement as seq_pack, ordered by the
      // engine-portable md5 shuffle key (hex -> bigint via the strpos
      // fold, as in sample_stratified), doc_id tie-break
      """WITH k AS (SELECT doc_id,
           list_sum(list_transform(generate_series(1, 15),
             p -> ((strpos('0123456789abcdef',
                    substr(md5('graft-r4-' || doc_id::VARCHAR), p, 1)) - 1)::BIGINT
                   << (4 * (15 - p)))))::BIGINT AS shuffle_key,
           len(list_filter(string_split_regex(text, '\s+'), x -> x <> ''))::BIGINT AS n_tokens
           FROM documents),
         p AS (SELECT doc_id, shuffle_key, n_tokens,
           COALESCE(sum(n_tokens) OVER (ORDER BY shuffle_key, doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pre
           FROM k)
         SELECT doc_id, shuffle_key, n_tokens,
           CAST(pre // 2048 AS BIGINT) AS pack_id,
           CAST(pre % 2048 AS BIGINT) AS pack_offset FROM p""",

    "sample_mixture" ->
      // replays Pipeline.sampleMixture(en 6, zh 2, fr 1, es 1, de 0):
      // per-stratum token sums, in-data weight normalization,
      // T_out = min(T_s/share_s), basis-point keep rates, md5 draw at
      // mod 10000 — the identical double arithmetic in the same order
      """WITH b AS (SELECT doc_id, lang,
           len(list_filter(string_split_regex(text, '\s+'), x -> x <> ''))::BIGINT AS n_tokens
           FROM documents),
         sw AS (SELECT lang, sum(n_tokens) AS ts,
               CASE lang WHEN 'en' THEN 6.0 WHEN 'zh' THEN 2.0
                         WHEN 'fr' THEN 1.0 WHEN 'es' THEN 1.0
                         ELSE 0.0 END AS w
             FROM b GROUP BY lang),
         sf AS (SELECT lang, ts, w FROM sw WHERE w > 0),
         ws AS (SELECT sum(w) AS wsum FROM sf),
         sh AS (SELECT lang, ts, w / ws.wsum AS share FROM sf, ws),
         t0 AS (SELECT min(ts / share) AS tout FROM sh),
         r AS (SELECT lang,
               CAST(floor(share * t0.tout / ts * 10000 + 1e-9) AS BIGINT) AS keep
             FROM sh, t0)
         SELECT b.doc_id, b.lang, b.n_tokens
         FROM b JOIN r USING (lang)
         WHERE list_sum(list_transform(generate_series(1, 15),
             p -> ((strpos('0123456789abcdef',
                    substr(md5(b.doc_id::VARCHAR), p, 1)) - 1)::BIGINT
                   << (4 * (15 - p)))))::BIGINT % 10000 < r.keep""",

    "sample_temperature" ->
      // replays Pipeline.sampleTemperature(source, τ=2): per-source
      // token mass, pow(share, 1/τ) renormalization, T_out reduction,
      // basis-point keep rates, md5 draw — identical double arithmetic
      // in the same order
      """WITH b AS (SELECT doc_id, source,
           len(list_filter(string_split_regex(text, '\s+'), x -> x <> ''))::BIGINT AS n_tokens
           FROM documents),
         s AS (SELECT source, sum(n_tokens) AS ts FROM b GROUP BY source),
         tt AS (SELECT sum(ts) AS tot FROM s),
         pw AS (SELECT source, ts, pow(ts / tt.tot, 0.5) AS pw FROM s, tt),
         ps AS (SELECT sum(pw) AS psum FROM pw),
         sh AS (SELECT source, ts, pw / ps.psum AS share FROM pw, ps),
         t0 AS (SELECT min(ts / share) AS tout FROM sh),
         r AS (SELECT source,
               CAST(floor(share * t0.tout / ts * 10000 + 1e-9) AS BIGINT) AS keep
             FROM sh, t0)
         SELECT b.doc_id, b.source, b.n_tokens
         FROM b JOIN r USING (source)
         WHERE list_sum(list_transform(generate_series(1, 15),
             p -> ((strpos('0123456789abcdef',
                    substr(md5(b.doc_id::VARCHAR), p, 1)) - 1)::BIGINT
                   << (4 * (15 - p)))))::BIGINT % 10000 < r.keep""",

    "bpe_tokens" ->
      // the fixture tokenizer replayed as a recursive CTE (encode each
      // DISTINCT word once, join back to occurrences) next to the
      // whitespace count
      s"""WITH RECURSIVE $duckBpeCtes
         SELECT t.doc_id, len(t.toks)::BIGINT AS n_tokens, c.n_bpe
         FROM btok t JOIN bcounts c USING (doc_id)""",

    "bpe_tokens_ext" ->
      // the same CTE chain under the EXTERNAL 100-merge table the query
      // loads from merges.txt — interpolated from the identical prefix,
      // so kernel, file round-trip, and oracle all consume one table
      s"""WITH RECURSIVE ${duckBpeCtesFor(
            graft.functions.BpeVocab.merges.take(100))}
         SELECT t.doc_id, c.n_bpe
         FROM btok t JOIN bcounts c USING (doc_id)""",

    "bpe_tokens_byte" ->
      // the byte-level CTE chain over the same planted multi-byte
      // suffix; the byteToUnicode map is interpolated literally so the
      // pre-encoder can never drift between engines
      s"""WITH RECURSIVE ${duckBpeCtesFor(graft.functions.BpeVocab.merges,
            textExpr = "text || ' caf" + "é №'",
            byteLevel = true)}
         SELECT t.doc_id, c.n_bpe
         FROM btok t JOIN bcounts c USING (doc_id)""",

    "seq_pack_bpe" ->
      // the seq_pack prefix-sum chain metered in BPE tokens
      s"""WITH RECURSIVE $duckBpeCtes,
         bp AS (SELECT doc_id, n_bpe AS n_tokens,
           COALESCE(sum(n_bpe) OVER (ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pre
           FROM bcounts)
         SELECT doc_id, n_tokens, CAST(pre // 2048 AS BIGINT) AS pack_id,
           CAST(pre % 2048 AS BIGINT) AS pack_offset FROM bp""",

    "pack_manifest_bpe" ->
      s"""WITH RECURSIVE $duckBpeCtes,
         bp AS (SELECT doc_id, n_bpe AS n_tokens,
           COALESCE(sum(n_bpe) OVER (ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pre
           FROM bcounts),
         bpacked AS (SELECT doc_id, n_tokens,
           CAST(pre // 2048 AS BIGINT) AS pack_id,
           CAST(pre % 2048 AS BIGINT) AS pack_offset FROM bp)
         SELECT pack_id, count(*) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
           string_agg(pack_offset::VARCHAR, ','
             ORDER BY pack_offset, doc_id) AS offsets_csv,
           string_agg(doc_id::VARCHAR, ','
             ORDER BY pack_offset, doc_id) AS doc_ids_csv
         FROM bpacked GROUP BY pack_id""",

    "sample_mixture_bpe" ->
      // sample_mixture's rate computation with T_s summed in BPE tokens
      s"""WITH RECURSIVE $duckBpeCtes,
         mb AS (SELECT d.doc_id, d.lang, c.n_bpe AS n_tokens
             FROM documents d JOIN bcounts c USING (doc_id)),
         sw AS (SELECT lang, sum(n_tokens) AS ts,
               CASE lang WHEN 'en' THEN 6.0 WHEN 'zh' THEN 2.0
                         WHEN 'fr' THEN 1.0 WHEN 'es' THEN 1.0
                         ELSE 0.0 END AS w
             FROM mb GROUP BY lang),
         sf AS (SELECT lang, ts, w FROM sw WHERE w > 0),
         ws AS (SELECT sum(w) AS wsum FROM sf),
         sh AS (SELECT lang, ts, w / ws.wsum AS share FROM sf, ws),
         t0 AS (SELECT min(ts / share) AS tout FROM sh),
         r AS (SELECT lang,
               CAST(floor(share * t0.tout / ts * 10000 + 1e-9) AS BIGINT) AS keep
             FROM sh, t0)
         SELECT mb.doc_id, mb.lang, mb.n_tokens
         FROM mb JOIN r USING (lang)
         WHERE list_sum(list_transform(generate_series(1, 15),
             p -> ((strpos('0123456789abcdef',
                    substr(md5(mb.doc_id::VARCHAR), p, 1)) - 1)::BIGINT
                   << (4 * (15 - p)))))::BIGINT % 10000 < r.keep""",

    "corpus_profile_bpe" ->
      // the per-source datasheet with token mass in BPE units; quality
      // stays on the shared heuristic parts
      s"""WITH RECURSIVE $duckBpeCtes,
         pqb AS (SELECT doc_id, source, lang, $duckQualityParts FROM documents),
         ps AS (SELECT pqb.source, pqb.lang, c.n_bpe AS bt,
               $duckQualityFromParts AS quality
             FROM pqb JOIN bcounts c USING (doc_id))
         SELECT source, count(*) AS n_docs,
           CAST(sum(bt) AS BIGINT) AS n_tokens,
           $duckMeanQualityMicro,
           round(quantile_cont(bt, 0.5), 6) AS p50_tokens,
           round(quantile_cont(bt, 0.9), 6) AS p90_tokens,
           count(DISTINCT lang) AS n_langs
         FROM ps GROUP BY source""",

    "sample_stratified" ->
      """WITH b AS (SELECT doc_id, lang,
           list_sum(list_transform(generate_series(1, 15),
             p -> ((strpos('0123456789abcdef',
                    substr(md5(doc_id::VARCHAR), p, 1)) - 1)::BIGINT
                   << (4 * (15 - p)))))::BIGINT % 100 AS bucket
           FROM documents)
         SELECT doc_id, lang, bucket FROM b
         WHERE bucket < CASE lang WHEN 'en' THEN 80 WHEN 'zh' THEN 50
                        ELSE 25 END""",

    "sample_quality_tiers" ->
      // quartile thresholds replayed as explicit rank selection (the
      // corpus_profile_approx discrete-quantile convention: value at
      // 1-based rank ceil(p·n)), tier = 1 + #{thresholds strictly
      // below}, then the shared md5-bucket keep-draw
      s"""WITH qb AS (SELECT doc_id, $duckQualityParts FROM documents),
         q AS (SELECT doc_id, $duckQualityFromParts AS quality FROM qb),
         r AS (SELECT quality, row_number() OVER (ORDER BY quality) AS rn,
               count(*) OVER () AS n FROM q),
         t AS (SELECT
               max(CASE WHEN rn = greatest(CAST(ceil(0.25 * n) AS BIGINT), 1)
                   THEN quality END) AS t1,
               max(CASE WHEN rn = greatest(CAST(ceil(0.5 * n) AS BIGINT), 1)
                   THEN quality END) AS t2,
               max(CASE WHEN rn = greatest(CAST(ceil(0.75 * n) AS BIGINT), 1)
                   THEN quality END) AS t3
             FROM r),
         b AS (SELECT doc_id, quality,
               1 + (quality > t.t1)::INT + (quality > t.t2)::INT
                 + (quality > t.t3)::INT AS tier,
               list_sum(list_transform(generate_series(1, 15),
                 p -> ((strpos('0123456789abcdef',
                        substr(md5(doc_id::VARCHAR), p, 1)) - 1)::BIGINT
                       << (4 * (15 - p)))))::BIGINT % 100 AS bucket
             FROM q, t)
         SELECT doc_id, quality, tier, bucket FROM b
         WHERE bucket < CASE tier WHEN 1 THEN 5 WHEN 2 THEN 20
                        WHEN 3 THEN 50 ELSE 90 END""",

    "corpus_clean" ->
      s"""WITH qb AS (SELECT doc_id, lang, text, $duckQualityParts FROM documents),
         q AS (SELECT doc_id, lang, text, $duckQualityFromParts AS quality FROM qb),
         g AS (SELECT * FROM q WHERE quality >= 0.3),
         d AS (SELECT * FROM (SELECT *, row_number() OVER (
             PARTITION BY md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))
             ORDER BY doc_id) AS rn FROM g) WHERE rn = 1),
         sm AS (SELECT * FROM d WHERE
           list_sum(list_transform(generate_series(1, 15),
             p -> ((strpos('0123456789abcdef',
                    substr(md5(doc_id::VARCHAR), p, 1)) - 1)::BIGINT
                   << (4 * (15 - p)))))::BIGINT % 100
           < CASE lang WHEN 'en' THEN 80 WHEN 'zh' THEN 50 ELSE 25 END),
         b AS (SELECT doc_id, lang, quality,
           len(list_filter(string_split_regex(text, '\\s+'), x -> x <> ''))::BIGINT AS n_tokens
           FROM sm),
         p AS (SELECT doc_id, lang, quality, n_tokens,
           COALESCE(sum(n_tokens) OVER (ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pre
           FROM b)
         SELECT doc_id, lang, quality, n_tokens,
           CAST(pre // 2048 AS BIGINT) AS pack_id,
           CAST(pre % 2048 AS BIGINT) AS pack_offset FROM p""",

    "corpus_clean_near" ->
      // same gate + exact-dedup CTEs as corpus_clean (no sampling),
      // then the SHARED minhash pair pipeline replayed over the
      // survivor CTE; a survivor is dropped iff it pairs with a
      // smaller-id survivor (mpairs already has doc_a < doc_b)
      s"""WITH qb AS (SELECT doc_id, lang, text, $duckQualityParts FROM documents),
         q AS (SELECT doc_id, lang, text, $duckQualityFromParts AS quality FROM qb),
         g AS (SELECT * FROM q WHERE quality >= 0.3),
         sdocs AS (SELECT * FROM (SELECT *, row_number() OVER (
             PARTITION BY md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))
             ORDER BY doc_id) AS rn FROM g) WHERE rn = 1),
         ${minhashPairCtesFrom("sdocs")}
         SELECT doc_id, lang, quality,
           len(list_filter(string_split_regex(text, '\\s+'), x -> x <> ''))::BIGINT AS n_tokens
         FROM sdocs
         WHERE doc_id NOT IN (SELECT doc_b FROM mpairs)""",

    "decontaminate" ->
      // joins on shingle STRINGS where Spark joins on xxhash64 of the
      // same strings — counts agree up to hash collisions (P ≈ n²/2⁶⁴,
      // the contract ngram_jaccard's oracle already uses)
      """WITH toks AS (SELECT doc_id,
           list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS w
           FROM documents),
         idx AS (SELECT doc_id, w,
           unnest(generate_series(1, greatest(len(w) - 4, 1))) AS i FROM toks),
         sh AS (SELECT DISTINCT doc_id,
           CASE WHEN len(w) < 5 THEN array_to_string(w, ' ')
                ELSE w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' ||
                     w[i+3] || ' ' || w[i+4] END AS s FROM idx),
         ph AS (SELECT DISTINCT s FROM sh WHERE doc_id < 20)
         SELECT c.doc_id, count(DISTINCT c.s) AS n_shared
         FROM sh c JOIN ph ON ph.s = c.s
         WHERE c.doc_id >= 20
         GROUP BY 1""",

    "decontaminate_pairs" ->
      // the provenance form: same shingle/probe definitions, grouped
      // by (corpus doc, probe doc) instead of corpus doc alone
      """WITH toks AS (SELECT doc_id,
           list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS w
           FROM documents),
         idx AS (SELECT doc_id, w,
           unnest(generate_series(1, greatest(len(w) - 4, 1))) AS i FROM toks),
         sh AS (SELECT DISTINCT doc_id,
           CASE WHEN len(w) < 5 THEN array_to_string(w, ' ')
                ELSE w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' ||
                     w[i+3] || ' ' || w[i+4] END AS s FROM idx),
         ph AS (SELECT DISTINCT doc_id AS probe_id, s FROM sh WHERE doc_id < 20)
         SELECT c.doc_id, ph.probe_id, count(DISTINCT c.s) AS n_shared
         FROM sh c JOIN ph ON ph.s = c.s
         WHERE c.doc_id >= 20
         GROUP BY 1, 2""",

    "tar_shards_roundtrip" ->
      // both members per doc must come back byte-identical (DuckDB
      // strlen is bytes — the tar size field)
      """SELECT doc_id, 'txt' AS ext, strlen(text)::BIGINT AS size,
           text AS content FROM documents
         UNION ALL
         SELECT doc_id, 'cls', strlen(lang)::BIGINT, lang
         FROM documents""",

    "warc_wet_roundtrip" ->
      // the Spark side went parquet -> WET records -> .warc shards
      // -> streamed parse; a lossless round-trip must reproduce the
      // text and its UTF-8 byte count (DuckDB strlen is bytes)
      """SELECT doc_id, 'conversion' AS warc_type,
           'http://graft.invalid/doc/' || doc_id AS target_uri,
           strlen(text)::BIGINT AS content_length, text
         FROM documents""",

    "warc_wet_gz_roundtrip" ->
      // identical contract through the member-per-record gzip layout
      """SELECT doc_id, 'conversion' AS warc_type,
           'http://graft.invalid/doc/' || doc_id AS target_uri,
           strlen(text)::BIGINT AS content_length, text
         FROM documents""",

    "warc_response_roundtrip" ->
      // the Spark side went parquet -> HTTP envelopes inside WARC
      // response records -> shards -> streamed parse + envelope
      // split. The oracle reconstructs every surfaced column from the
      // documents table: the adversarial planted prefix (WARC framing
      // + a fake inner envelope) must ride through as BODY bytes, the
      // writer's envelope Content-Length must equal the body span,
      // and the non-ASCII URI must round-trip exactly
      """WITH p AS (SELECT 'WARC/1.0' || chr(13) || chr(10) ||
             'Content-Length: 0' || chr(13) || chr(10) || chr(13) || chr(10) ||
             'HTTP/1.1 500 fake' || chr(13) || chr(10) || chr(13) || chr(10)
             AS prefix)
         SELECT doc_id,
           'http://graft.invalid/café/' || doc_id AS target_uri,
           'HTTP/1.1 200 OK' AS status_line,
           200 AS http_status,
           'text/html; charset=utf-8' AS content_type,
           strlen(prefix || text)::BIGINT AS http_content_length,
           strlen(prefix || text)::BIGINT AS body_length,
           prefix || text AS body_text
         FROM documents, p""",

    "warc_response_extract" -> htmlExtractMainOracle,

    "warc_digest_dedup" ->
      // the engine dedups on the parsed WARC-Payload-Digest header;
      // the oracle replays the same decision on raw text equality —
      // byte-equal bodies ⇔ equal sha1 digests, so the groups match
      // without re-deriving base32(sha1) in SQL (the digest ENCODING
      // itself is pinned by WarcSpec against RFC 4648's own vectors)
      """WITH crawl AS (
           SELECT doc_id, text FROM documents
           UNION ALL
           SELECT doc_id + 10000000, text FROM documents
           WHERE doc_id % 7 = 0)
         SELECT min(doc_id) AS keep_id, count(*) AS dup_count
         FROM crawl GROUP BY text""",

    "warc_types" ->
      // one warcinfo preamble per NON-EMPTY shard (writeShards skips
      // empty partitions entirely), so the expected count derives from
      // the doc count instead of hardcoding 4+2: round-robin
      // repartition(k) leaves no empty shard while every scan
      // partition carries >= k rows (true at every gate scale — the
      // single-file gate tables scan as 1-2 partitions of hundreds of
      // rows), and below k docs exactly n shards are non-empty. Only
      // responses carry payload digests
      """SELECT 'response' AS warc_type, count(*) AS n,
           count(*) AS n_digest FROM documents
         UNION ALL
         SELECT 'request', count(*), 0::BIGINT FROM documents
         UNION ALL
         SELECT 'warcinfo',
           LEAST(4, count(*)) + LEAST(2, count(*)), 0::BIGINT
         FROM documents""",

    "crawl_clean" ->
      // the per-stage oracles chained end to end: the shared
      // html_extract_main fixture+extraction CTEs (the WARC hop is
      // checked lossless by warc_response_roundtrip/_extract), then
      // corpus_clean_near's gate + exact-dedup + minhash-pair CTEs
      // over the EXTRACTED text, then corpus_clean's prefix-sum pack
      // replay over the survivors
      s"""WITH $htmlMainCtes,
         cw AS (SELECT doc_id, main AS text FROM m),
         cqb AS (SELECT doc_id, text, $duckQualityParts FROM cw),
         cq AS (SELECT doc_id, text,
             $duckQualityFromParts AS quality FROM cqb),
         cg AS (SELECT * FROM cq WHERE quality >= 0.3),
         sdocs AS (SELECT * FROM (SELECT *, row_number() OVER (
             PARTITION BY md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))
             ORDER BY doc_id) AS rn FROM cg) WHERE rn = 1),
         ${minhashPairCtesFrom("sdocs")},
         surv AS (SELECT doc_id, quality,
             len(list_filter(string_split_regex(text, '\\s+'), x -> x <> ''))::BIGINT AS n_tokens
           FROM sdocs
           WHERE doc_id NOT IN (SELECT doc_b FROM mpairs)),
         pk AS (SELECT doc_id, quality, n_tokens,
           COALESCE(sum(n_tokens) OVER (ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pre
           FROM surv)
         SELECT doc_id, quality, n_tokens,
           CAST(pre // 2048 AS BIGINT) AS pack_id,
           CAST(pre % 2048 AS BIGINT) AS pack_offset FROM pk""",

    "jsonl_roundtrip" ->
      // the Spark side went parquet -> JSONL -> frame; a lossless
      // round-trip must hash-equal the original columns
      """SELECT doc_id, lang, source, n_chars, text FROM documents""",

    "multimodal_meta" ->
      """SELECT doc_id AS media_id, octet_length(encode(text)) AS n_bytes,
         md5(text) AS content_md5, 'unknown' AS sniffed_format
         FROM documents""",

    "multimodal_features" ->
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
           ON c.media_id = g.media_id AND c.bucket = g.bucket""",

    "multimodal_decode" ->
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
         FROM sums""",

    "multimodal_audio_decode" ->
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
         FROM sums""",

    "multimodal_video_frames" ->
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
         FROM sums""",

    "multimodal_resize" ->
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
         FROM pooled""",

    "vecindex_liststats" ->
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
         FROM ls, tot GROUP BY tot.nv, tot.nl""",

    "media_band_capstats" -> {
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
    },

    "store_capstats" -> {
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
         l AS (SELECT doc_id, ls, i, ls[i] AS line
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
                 AND n.i = fa2.i0),
         b AS (SELECT doc_id,
           md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fingerprint,
           $pct AS bucket
           FROM documents),
         corp AS (SELECT fingerprint FROM b WHERE bucket < 70),
         inca AS (SELECT doc_id, fingerprint FROM b
                  WHERE bucket >= 70 AND bucket < 85),
         keepa AS (SELECT fingerprint, min(doc_id) AS keep_id
                   FROM inca GROUP BY 1),
         hita AS (SELECT DISTINCT c.fingerprint FROM corp c
                  JOIN keepa USING (fingerprint)),
         acc AS (SELECT k.fingerprint FROM keepa k
                 LEFT JOIN hita h USING (fingerprint)
                 WHERE h.fingerprint IS NULL),
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
    }
  ) ++ mediaRows.map(r => r.name -> r.oracle)

  /** Replays the HTML cleaning contract literally, same step order:
    * block drops → tag strip → entity decode (`&amp;` last) →
    * whitespace collapse; RE2-safe patterns so both regex engines
    * agree character for character. Shared by `html_extract` and its
    * SQL front door `sql_html_extract` (same page, same decision).
    */
  private lazy val htmlExtractOracle: String =
    """WITH h AS (SELECT doc_id,
           '<html><head><title>Doc ' || doc_id::VARCHAR ||
           '</title><SCRIPT type="text/javascript">var x = 1 ' ||
           '&amp;&amp; 2;' || chr(10) || 'if (x < 3) { x = 4; }</SCRIPT>' ||
           '<style>p { color: red; }</style></head><body><!-- nav' ||
           chr(10) || 'boilerplate --><p>' || text || '</p>' ||
           repeat('<a href="/l">link</a>', (doc_id % 4)::INT) ||
           '<div>Tail &amp; footer&nbsp;&lt;end&gt;</div></body></html>'
             AS html
           FROM documents),
         c AS (SELECT doc_id, html,
           trim(regexp_replace(
             replace(replace(replace(replace(replace(replace(
               regexp_replace(regexp_replace(regexp_replace(regexp_replace(
                 html,
                 '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
                 '(?is)<style[^>]*>.*?</style>', ' ', 'g'),
                 '(?s)<!--.*?-->', ' ', 'g'),
                 '(?s)<[^>]+>', ' ', 'g'),
               '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
               '&#39;', ''''), '&amp;', '&'),
             '\s+', ' ', 'g')) AS clean
           FROM h)
         SELECT doc_id,
           regexp_extract(html, '(?is)<title[^>]*>(.*?)</title>', 1) AS title,
           len(regexp_extract_all(html, '(?i)<a[\s>]'))::BIGINT AS n_links,
           length(clean)::BIGINT AS clean_len,
           md5(clean) AS clean_fp
         FROM c"""

  /** Replays the justext-core main-content selection: the block
    * segmentation (block-level tags → chr(1) delimiters → split), the
    * per-block cleaner, the integer (minWords=5, maxLinkPct=30) keep
    * rule over word and anchor-word counts, and the document-order
    * join — all as DuckDB list lambdas mirroring Spark's higher-order
    * array functions one for one.
    */
  // DuckDB mirrors of Html.mainText's per-unit helpers — shared by the
  // html_extract_main oracle and the crawl_clean composition oracle.
  // the per-unit cleaner (tag strip → entities &amp;-last → collapse)
  private def htmlCleanSql(x: String): String =
    s"""trim(regexp_replace(
           replace(replace(replace(replace(replace(replace(
             regexp_replace($x, '(?s)<[^>]+>', ' ', 'g'),
             '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
             '&#39;', ''''), '&amp;', '&'),
           '\\s+', ' ', 'g'))"""
  private def htmlWcSql(c: String): String =
    s"(CASE WHEN length($c) = 0 THEN 0 ELSE len(string_split($c, ' ')) END)"
  private def htmlAwSql(b: String): String =
    s"""coalesce(list_sum(list_transform(
         regexp_extract_all($b, '(?is)<a(\\s[^>]*)?>(.*?)</a>', 2),
         a -> ${htmlWcSql(htmlCleanSql("a"))})), 0)"""
  private def htmlKeepSql(b: String): String =
    s"(${htmlWcSql(htmlCleanSql(b))} >= 5 AND " +
      s"${htmlAwSql(b)} * 100 <= ${htmlWcSql(htmlCleanSql(b))} * 30)"
  private val htmlBlockTagSql = "(?is)</?(p|div|h[1-6]|li|ul|ol|table|tr|td|th|" +
    "section|article|header|footer|nav|aside|blockquote|br)[^>]*>"

  /** The shared html_extract_main fixture + main-text CTE chain,
    * ending in `m(doc_id, html, blocks, main)` — no leading WITH.
    * Reused by the `crawl_clean` oracle, whose engine side recovers
    * the SAME page from WARC response shards before extracting.
    */
  private lazy val htmlMainCtes: String =
    s"""hm AS (SELECT doc_id,
           '<html><head><title>Doc ' || doc_id::VARCHAR ||
           '</title><script>var nav = 1 &amp;&amp; 2;</script>' ||
           '<style>a { color: blue; }</style></head><body>' ||
           '<nav><a href="/">Home</a> <a href="/about">About</a> ' ||
           '<a href="/contact">Contact</a></nav><p>' || text ||
           '</p><p>Read the full guide at <a href="/guide">the ' ||
           'documentation portal</a> for complete details today</p><div>' ||
           repeat('<a href="/deal">hot deal item</a> ', 4) ||
           '</div><footer>Copyright &amp; terms</footer></body></html>'
             AS html
           FROM documents),
         blk AS (SELECT doc_id, html,
           string_split(regexp_replace(
             regexp_replace(regexp_replace(regexp_replace(html,
               '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
               '(?is)<style[^>]*>.*?</style>', ' ', 'g'),
               '(?s)<!--.*?-->', ' ', 'g'),
             '$htmlBlockTagSql', chr(1), 'g'), chr(1)) AS blocks
           FROM hm),
         m AS (SELECT doc_id, html, blocks,
           array_to_string(list_transform(
             list_filter(blocks, b -> ${htmlKeepSql("b")}),
             b -> ${htmlCleanSql("b")}), ' ') AS main
           FROM blk)"""

  private lazy val htmlExtractMainOracle: String =
    s"""WITH $htmlMainCtes
         SELECT doc_id,
           regexp_extract(html, '(?is)<title[^>]*>(.*?)</title>', 1) AS title,
           len(regexp_extract_all(html, '(?i)<a[\\s>]'))::BIGINT AS n_links,
           len(list_filter(blocks,
             b -> ${htmlWcSql(htmlCleanSql("b"))} > 0))::BIGINT AS n_blocks,
           len(list_filter(blocks, b -> ${htmlKeepSql("b")}))::BIGINT AS n_kept,
           length(main)::BIGINT AS main_len,
           md5(main) AS main_fp
         FROM m"""

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

  /** The md5 percent-bucket fold over an id expression — the SQL twin
    * of [[graft.util.Sampling.md5Bucket]], shared by every sampling
    * oracle.
    */
  private def duckMd5Pct(idExpr: String): String =
    s"""list_sum(list_transform(generate_series(1, 15),
           p -> ((strpos('0123456789abcdef',
                  substr(md5($idExpr::VARCHAR), p, 1)) - 1)::BIGINT
                 << (4 * (15 - p)))))::BIGINT % 100"""

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
         inith AS (SELECT rn - 1 AS list_id, vv AS cv FROM
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
                 FROM cd2h GROUP BY coarse_id, sub_id),
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
    """WITH b AS (SELECT doc_id,
           md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fingerprint,
           list_sum(list_transform(generate_series(1, 15),
             p -> ((strpos('0123456789abcdef',
                    substr(md5(doc_id::VARCHAR), p, 1)) - 1)::BIGINT
                   << (4 * (15 - p)))))::BIGINT % 100 AS bucket
           FROM documents),
         corp AS (SELECT fingerprint FROM b WHERE bucket < 70),
         inca AS (SELECT doc_id, fingerprint FROM b
                  WHERE bucket >= 70 AND bucket < 85),
         keepa AS (SELECT fingerprint, min(doc_id) AS keep_id
                   FROM inca GROUP BY 1),
         hita AS (SELECT DISTINCT c.fingerprint FROM corp c
                  JOIN keepa USING (fingerprint)),
         acc AS (SELECT k.fingerprint FROM keepa k
                 LEFT JOIN hita h USING (fingerprint)
                 WHERE h.fingerprint IS NULL),
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
         inith AS (SELECT rn - 1 AS list_id, vv AS cv FROM
             (SELECT vv, row_number() OVER (ORDER BY id) AS rn FROM svh)
           WHERE rn <= (SELECT c FROM csh)),
         a1h AS (SELECT svh.id, svh.vv, i.list_id,
                 row_number() OVER (PARTITION BY svh.id
                   ORDER BY ${cos("svh.vv", "i.cv")} DESC, i.list_id) AS rn
                FROM svh, inith i),
         asg1h AS (SELECT id, vv, list_id FROM a1h WHERE rn = 1),
         cd1h AS (SELECT list_id, d, round(avg(vv[d]), 6) AS m
                  FROM asg1h, (SELECT unnest(generate_series(1, 64)) AS d)
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
                  FROM g2h, (SELECT unnest(generate_series(1, 64)) AS d)
                  GROUP BY coarse_id, sub_id, d),
         c2h AS (SELECT coarse_id, sub_id, list(m ORDER BY d) AS cv
                 FROM cd2h GROUP BY coarse_id, sub_id),
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

  /** The winnowing fingerprint rows `(doc_id, fp)` as DuckDB CTEs
    * (k = 8, w = 4 — the registered parameters), shared by the
    * `doc_winnow` and `dedup_spans` oracles so the fingerprint
    * definition can never drift between them. Mirrors
    * [[graft.textops.TextOps.winnowing]]: top-60-bit md5 k-gram hashes,
    * window-min, distinct per document.
    */
  private val duckWinnowFpCtes: String =
    """h AS (SELECT doc_id,
           list_transform(generate_series(1, greatest(length(text) - 8 + 1, 1)),
             i -> list_sum(list_transform(generate_series(1, 15),
               p -> ((strpos('0123456789abcdef', substr(md5(substr(text, i, 8)), p, 1)) - 1)::BIGINT
                     << (4 * (15 - p)))))::BIGINT) AS kh
           FROM documents),
         w AS (SELECT doc_id, list_distinct(list_transform(
             generate_series(1, greatest(len(kh) - 4 + 1, 1)),
             j -> list_min(kh[j:j+3]))) AS fps FROM h),
         f AS (SELECT doc_id, unnest(fps) AS fp FROM w)"""

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

  /** The quality-score heuristic's component expressions (token count,
    * punctuation ratio, stopword ratio) and the [0,1] blend, shared by
    * the `quality_score` and `corpus_clean` oracles so the two rows can
    * never drift apart.
    */
  private lazy val duckStopList: String =
    TextOps.stopwords.values.flatten.toSeq.distinct
      .map(w => s"'$w'").mkString("[", ", ", "]")

  private lazy val duckQualityParts: String = {
    val stops = duckStopList
    s"""len(list_filter(string_split_regex(text, '\\s+'), x -> x <> ''))::DOUBLE AS n_tok,
           CASE WHEN length(text) = 0 THEN 0.0 ELSE
             length(regexp_replace(text, '[^!-/:-@\\[-`{-~]', '', 'g'))::DOUBLE
             / length(text)::DOUBLE END AS punct,
           CASE WHEN len(list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '')) = 0 THEN 0.0 ELSE
             len(list_filter(string_split_regex(lower(text), '\\s+'),
                 x -> x <> '' AND list_contains($stops, x)))::DOUBLE
             / len(list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> ''))::DOUBLE END AS stopr"""
  }

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

  /** DuckDB twin of the corpus datasheet — shared by `corpus_profile`
    * and its SQL-front-door twin. quantile_cont mirrors Spark's exact
    * interpolating percentile (q_quantile precedent); counts/sums are
    * integral so the casts are lossless.
    */
  private lazy val duckCorpusProfileOracle: String =
    s"""WITH b AS (SELECT source, lang, $duckQualityParts FROM documents),
       s AS (SELECT source, lang, n_tok,
             $duckQualityFromParts AS quality FROM b)
       SELECT source, count(*) AS n_docs,
         CAST(sum(n_tok) AS BIGINT) AS n_tokens,
         $duckMeanQualityMicro,
         round(quantile_cont(n_tok, 0.5), 6) AS p50_tokens,
         round(quantile_cont(n_tok, 0.9), 6) AS p90_tokens,
         count(DISTINCT lang) AS n_langs
       FROM s GROUP BY source"""

  /** DuckDB twin of the language-ID heuristic — shared by `lang_id`
    * and its SQL-front-door twin.
    */
  /** The (hits, lang) struct list behind every langId oracle,
    * parameterized on the text expression so the segmented twin
    * replays the identical argmax over padded text.
    */
  private def duckLangPacks(textExpr: String): String =
    TextOps.stopwords.toSeq.sortBy(_._1).map { case (lang, words) =>
      val list = words.map(w => s"'$w'").mkString("[", ", ", "]")
      s"struct_pack(h := len(list_filter(list_distinct(string_split_regex(lower($textExpr), '\\s+')), x -> list_contains($list, x))), l := '$lang')"
    }.mkString("[", ", ", "]")

  private lazy val duckLangIdOracle: String =
    s"""SELECT doc_id, lang,
       CASE WHEN best.h = 0 THEN 'und' ELSE best.l END AS lang_pred
       FROM (SELECT doc_id, lang,
         list_sort(${duckLangPacks("text")})[-1] AS best FROM documents)"""

  /** DuckDB twin of the quality score — shared by `quality_score` and
    * its SQL-front-door twin.
    */
  private lazy val duckQualityScoreOracle: String =
    s"""WITH b AS (SELECT doc_id, $duckQualityParts FROM documents)
       SELECT doc_id, $duckQualityFromParts AS quality FROM b"""

  private lazy val duckTextStatsOracle: String = {
    val stops = TextOps.stopwords.values.flatten.toSeq.distinct
      .map(w => s"'$w'").mkString("[", ", ", "]")
    s"""SELECT doc_id, length(text) AS n_chars_computed,
       len(list_filter(string_split_regex(text, '\\s+'), x -> x <> '')) AS n_tokens,
       len(list_filter(string_split_regex(text, '[^A-Za-z0-9]+'), x -> x <> ''))
         + length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) AS n_subword_tokens,
       round(CASE WHEN length(text) = 0 THEN 0.0 ELSE
         length(regexp_replace(text, '[^!-/:-@\\[-`{-~]', '', 'g'))::DOUBLE
         / length(text)::DOUBLE END, 6) AS punct_ratio,
       round(CASE WHEN len(list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '')) = 0 THEN 0.0 ELSE
         len(list_filter(string_split_regex(lower(text), '\\s+'),
             x -> x <> '' AND list_contains($stops, x)))::DOUBLE
         / len(list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> ''))::DOUBLE END, 6) AS stopword_ratio
       FROM documents"""
  }

  /** Fixed-point group mean of the 6dp quality score in pure integer
    * arithmetic — the SQL twin of Vocab.microMean (floor((2S+n)/2n) on
    * non-negative operands = round-half-up of S/n; the final /1e6 is
    * the identical IEEE op on both engines). Shared by every
    * mean_quality oracle so the datasheet rows cannot hit the decimal
    * rounding boundaries round(avg(q), 6) lands on.
    */
  private val duckMeanQualityMicro: String =
    "((2 * sum(CAST(round(quality * 1000000) AS BIGINT)) + count(*)) " +
      "// (2 * count(*)))::DOUBLE / 1000000.0 AS mean_quality"

  private val duckQualityFromParts: String =
    """round(greatest(0.0,
           least(n_tok / 50.0, 1.0) * 0.4 + least(stopr * 4.0, 1.0) * 0.4
           + (1.0 - least(punct * 5.0, 1.0)) * 0.2), 6)"""

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
}
