package graft
package registry

import graft.dedup.Dedup
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import MediaRows.{Modality, mediaIds}
import Shared._

/** Store plumbing for the persisted-store rows: the store dir, the
  * staleness fence, the scratch dirs of the sink round-trip rows, the
  * opened vector-index cache and one ensure helper per store family.
  */
private[graft] object Stores {

  /** Repo-local cache dir for the persisted-store probe queries, keyed
    * by the sf dir's basename so sf0.01 (correctness) and sf0.1
    * (bench) never share a store (same-named dirs are told apart by
    * the [[ensureStore]] fence). First invocation of a `_probe` query
    * builds and writes the store here (the bench's warmup pass); timed
    * passes only read it — the row measures the O(increment) probe,
    * which is the operator the stored family exists for.
    */
  private[registry] def storeDir(dir: String, family: String): String =
    s"benchdata/stores/${new java.io.File(dir).getName}/$family"

  /** Scratch dir `name` under java.io.tmpdir for the rows that
    * round-trip through a sink, deleted at JVM exit. The path is fixed
    * per name, not createTempDirectory: the writers overwrite it, so
    * repeated invocations (bench warmup + timed passes, repeated verify
    * runs) reuse one directory instead of accumulating corpus copies.
    * On a real cluster the caller hands the sinks shared storage
    * (s3://, hdfs://) — nothing in them is driver-local.
    */
  private[registry] def scratchDir(name: String): String = {
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
    * The params string lives in the family's one ensure helper below
    * and names every constant baked into the store's layout or the
    * decisions derived from it, plus a layout version — change a
    * family's constants (and its params), or the data under the sf
    * dir, and the store self-heals on next touch.
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

  private[registry] def openVecIndex(s: SparkSession,
                           sd: String): graft.simops.VectorIndexStore.Store =
    vecIndexCache.getOrElseUpdate(sd,
      graft.simops.VectorIndexStore.read(s, sd))

  private def invalidateVecIndex(sd: String): Unit = {
    vecIndexCache.remove(sd); ()
  }

  /** Family-ensure helpers: ONE definition of each persisted store
    * family's (dir, params, build block), shared by every row that
    * touches the family AND by the `store_capstats` health row — so
    * two rows can never disagree on what a family's store contains
    * (the r13 ADVICE duplication risk, closed structurally). Each
    * returns the family dir, building at most once per sf dir.
    */
  private[registry] def ensureBloomStore(s: SparkSession, dir: String): String =
    ensureStore(dir, "bloom", "fingerprints/_SUCCESS",
        "v1 corpus=bkt<70 fpp=0.03") { sd =>
      val (st, meta) = graft.dedup.BloomStore.build(
        Tables.documents(s, dir).filter(docBucket < 70), "doc_id", "text")
      graft.dedup.BloomStore.write(st, meta, sd)
    }

  /** bloom_ab: corpus build PLUS the A-increment probe + appendWrite
    * at setup time (the `_updated` warmup convention — the persisted
    * state is deterministic, so B-probe decisions and the meta's
    * grown actualN replay exactly).
    */
  private[registry] def ensureBloomAbStore(s: SparkSession, dir: String): String =
    ensureStore(dir, "bloom_ab", "fingerprints/_SUCCESS",
        "v1 corpus=bkt<70 incA=bkt70-84 fpp=0.03 appended") { sd =>
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

  private[registry] def linesFixture(s: SparkSession, dir: String): DataFrame =
    graft.textops.LineDedup.multilineFixture(
      Tables.documents(s, dir), "doc_id", "text")

  private[registry] def ensureBloomLinesStore(s: SparkSession, dir: String): String =
    ensureStore(dir, "bloom_lines", "fingerprints/_SUCCESS",
        "v1 corpus=doc_id%10<7 keys=distinct-line-xxhash64 fpp=0.03") { sd =>
      val (st, meta) = graft.dedup.BloomStore.buildLines(
        linesFixture(s, dir).filter(pmod(col("doc_id"), lit(10)) < 7),
        "text")
      graft.dedup.BloomStore.write(st, meta, sd)
    }

  private[registry] def ensureBloomLinesAbStore(s: SparkSession, dir: String): String =
    ensureStore(dir, "bloom_lines_ab", "fingerprints/_SUCCESS",
        "v1 corpus=%10<7 incA=%10in7,8 keys=distinct-line-xxhash64 " +
          "fpp=0.03 appended") { sd =>
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

  private[registry] def ensureMinhashStore(s: SparkSession, dir: String): String =
    ensureStore(dir, "minhash", "signatures/_SUCCESS",
        "v1 corpus=bkt<70 shingle=3 bands=8 rpb=2") { sd =>
      graft.dedup.SignatureStore.write(
        graft.dedup.SignatureStore.build(
          Tables.documents(s, dir).filter(docBucket < 70),
          "doc_id", "text", shingleSize = 3, bands = 8, rowsPerBand = 2), sd)
    }

  private[registry] def ensureSpansStore(s: SparkSession, dir: String): String =
    ensureStore(dir, "spans", "span_fps/_SUCCESS",
        "v1 corpus=bkt<70 k=8 w=4 deltas=incA-bkt70-84 minShared=5 maxDf=16") { sd =>
      graft.dedup.SignatureStore.writeSpans(
        graft.dedup.SignatureStore.buildSpans(
          Tables.documents(s, dir).filter(docBucket < 70),
          "doc_id", "text", k = 8, w = 4), sd)
    }

  /** spans base PLUS the A-increment's accepted (doc_id, fp) delta
    * files (`appendSpansWrite` at setup — the delta-append daily form
    * `dedup_spans_probe_updated` times between compactions).
    */
  private[registry] def ensureSpansDeltas(s: SparkSession, dir: String): String = {
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

  private[registry] def ensureSemanticStore(s: SparkSession, dir: String): String =
    ensureStore(dir, "semantic", "forest/_SUCCESS",
        "v1 corpus=bkt<70 tls=32 iters=1 pct=60") { sd =>
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
  private[registry] def ensureMediaStore(s: SparkSession, dir: String,
                               m: Modality): String =
    ensureStore(dir, m.family, "fingerprints/_SUCCESS", m.params) { sd =>
      graft.dedup.MediaStore.write(m.corpusFps(mediaIds(s, dir)), sd)
    }

  private[registry] def ensureVecIndexStore(s: SparkSession, dir: String): String =
    ensureStore(dir, "vecindex", "codes/_SUCCESS",
        "v4 corpus=all hier tls=32 nprobe=4 m=8 k=16 iters=1 pct=60 dim=64 " +
          "res=1 part=mod256 sorted") { sd =>
      graft.simops.VectorIndexStore.write(
        graft.simops.VectorIndexStore.build(Tables.embeddings(s, dir),
          "vec_id", "embedding",
          targetListSize = SemanticTargetListSize, m = 8, k = 16,
          iters = 1, fitSamplePct = 60, dim = 64), sd)
      invalidateVecIndex(sd)
    }

  private[registry] def ensureVecIndexAbStore(s: SparkSession, dir: String): String =
    ensureStore(dir, "vecindex_ab", "codes/_SUCCESS",
        "v4 corpus=bkt<70 inc=bkt>=70 hier tls=32 nprobe=4 m=8 k=16 iters=1 " +
          "pct=60 dim=64 res=1 part=mod256 sorted appended compacted") { sd =>
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
}
