package graft.dedup

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.BloomFilter

import graft.sources.Tables
import graft.textops.TextOps

/** The persisted EXACT-dedup ingest index: the corpus's normalized
  * content fingerprints as a bare parquet column plus a Bloom
  * membership sketch over their xxhash64.
  *
  * Why a sketch on top of a fingerprint store: the exact daily-ingest
  * decision ([[Dedup.exactIncremental]]) broadcasts the INCREMENT's
  * distinct fingerprints into the corpus-side probe — O(increment)
  * broadcast bytes. At recrawl scale the increment is the same order
  * as the corpus, and the broadcast stops being trivial. The Bloom
  * sketch (fixed ~7 bits/key at 3% fpp, built ONCE at corpus-ingest
  * time) prefilters the increment MAP-SIDE: only bloom-POSITIVE
  * fingerprints enter the verify join, so the broadcast shrinks to
  * O(true dups + fpp·increment) while the decision stays EXACT — a
  * Bloom filter has no false negatives, and the verify join against
  * the fingerprint store removes its false positives. The corpus
  * itself is never read at probe time at all: the store's fingerprint
  * column (16 bytes/doc) is the only corpus-derived input.
  *
  * The same machinery serves ANY key granularity via [[buildKeys]]:
  * `dedup_lines_bloom_probe` runs it over distinct LINE hashes (at
  * recrawl scale lines ≫ docs, the exact regime the sketch targets).
  */
object BloomStore {

  final case class Store(fps: DataFrame, bloom: BloomFilter)

  /** Default false-positive rate: 3% wastes ~3% of the verify
    * broadcast on ghosts — far below the win of not broadcasting the
    * other 97% — at ~7.3 bits per corpus key.
    */
  val DefaultFpp = 0.03

  /** `expectedN` is the key count the sketch's bit geometry was sized
    * for (fixed at build/compact time); `actualN` tracks the keys
    * actually inserted, bumped by every [[appendWrite]]. The
    * actual/expected ratio is the caller's refit signal: past ~1 the
    * realized fpp degrades beyond the target and [[compact]] should
    * refit at the grown count.
    */
  final case class Meta(expectedN: Long, actualN: Long, fpp: Double) {
    def overfull: Boolean = actualN > expectedN
  }

  /** Build over a precomputed single-column key frame (`fingerprint`
    * of any orderable type — md5 strings for documents, xxhash64
    * longs for lines). The sketch hashes `xxhash64(fingerprint)`, so
    * membership tests replay identically at probe time regardless of
    * the key type.
    */
  def buildKeys(fps: DataFrame, fpp: Double = DefaultFpp): (Store, Meta) = {
    val n = math.max(fps.count(), 1L)
    val bloom = fps.select(xxhash64(col("fingerprint")).as("fp64"))
      .stat.bloomFilter("fp64", n, fpp)
    (Store(fps, bloom), Meta(n, n, fpp))
  }

  def build(corpus: DataFrame, idCol: String, textCol: String,
            fpp: Double = DefaultFpp): (Store, Meta) =
    buildKeys(graft.util.Par.spread(corpus)
      .select(TextOps.fingerprint(col(textCol)).as("fingerprint")), fpp)

  /** Distinct corpus LINE hashes as the key frame — the line-granularity
    * store build ([[graft.textops.LineDedup.dedupLinesIncrementalBloom]]
    * is the probe). Boilerplate lines repeat across most of a crawl, so
    * the distinct store is far smaller than the line count.
    */
  def buildLines(corpus: DataFrame, textCol: String,
                 fpp: Double = DefaultFpp): (Store, Meta) =
    buildKeys(graft.util.Par.spread(corpus)
      .select(explode(split(col(textCol), "\n")).as("_ln"))
      .select(xxhash64(col("_ln")).as("fingerprint"))
      .distinct(), fpp)

  private def conf = new org.apache.hadoop.conf.Configuration()

  /** Sketch writes go through the rename-aside protocol (the
    * [[SignatureStore.compactOne]] pattern): the new bytes land at a
    * temp path and swap in with two renames, so a crash mid-write
    * leaves either the previous valid sketch or (for the instant
    * between the renames) no file at all — fail-stop on read, never a
    * torn sketch that parses wrongly.
    */
  private def writeBloom(bloom: BloomFilter, dir: String): Unit = {
    val path = new org.apache.hadoop.fs.Path(s"$dir/bloom.bin")
    val tmp = new org.apache.hadoop.fs.Path(s"$dir/bloom.bin.tmp")
    val old = new org.apache.hadoop.fs.Path(s"$dir/bloom.bin.old")
    val fs = path.getFileSystem(conf)
    val out = fs.create(tmp, true)
    try bloom.writeTo(out) finally out.close()
    fs.delete(old, false) // stale leftover from a previous crash
    if (fs.exists(path))
      require(fs.rename(path, old), s"writeBloom: rename $path -> $old failed")
    require(fs.rename(tmp, path),
      s"writeBloom: rename $tmp -> $path failed (recover: rename $old back)")
    fs.delete(old, false)
  }

  private def writeMeta(meta: Meta, dir: String): Unit = {
    val mp = new org.apache.hadoop.fs.Path(s"$dir/bloom.meta")
    val out = mp.getFileSystem(conf).create(mp, true)
    try out.write(s"${meta.expectedN} ${meta.fpp} ${meta.actualN}"
      .getBytes("UTF-8"))
    finally out.close()
  }

  def write(store: Store, meta: Meta, dir: String): Unit = {
    store.fps.write.mode("overwrite").parquet(s"$dir/fingerprints")
    writeBloom(store.bloom, dir)
    writeMeta(meta, dir)
  }

  /** The meta alone — the store-health probe (`store_capstats`) needs
    * the counters without paying the sketch-bytes load.
    */
  def readMeta(dir: String): Meta = {
    val mp = new org.apache.hadoop.fs.Path(s"$dir/bloom.meta")
    val mIn = mp.getFileSystem(conf).open(mp)
    val ms = try new java.io.BufferedReader(
        new java.io.InputStreamReader(mIn, "UTF-8")).readLine().trim.split(" ")
      finally mIn.close()
    // metas written before the actualN field carry two tokens — the
    // sketch then holds exactly its build-time keys, so actual = expected
    val expectedN = ms(0).toLong
    val actualN = if (ms.length >= 3) ms(2).toLong else expectedN
    Meta(expectedN, actualN, ms(1).toDouble)
  }

  def read(spark: SparkSession, dir: String): (Store, Meta) = {
    val path = new org.apache.hadoop.fs.Path(s"$dir/bloom.bin")
    val fs = path.getFileSystem(conf)
    // self-healing for writeBloom's two-rename window: a crash (or a
    // concurrent reader racing an append) can observe NO bloom.bin —
    // the previous sketch is then still complete at bloom.bin.old.
    // Reading it is SAFE for the module's invariant: appendWrite
    // persists the sketch BEFORE the fingerprint files, so the .old
    // sketch is a superset of every fingerprint row on disk at that
    // instant (extra positives die in the verify join; false
    // negatives remain impossible).
    val old = new org.apache.hadoop.fs.Path(s"$dir/bloom.bin.old")
    // the swap window is two renames wide — retry the live path once
    // before falling back, and if NEITHER file exists fail with the
    // store state instead of an opaque FileNotFound on the .old path
    val src = if (fs.exists(path)) path
      else if (fs.exists(old)) old
      else if (fs.exists(path)) path // post-swap race: .old just deleted
      else throw new java.io.FileNotFoundException(
        s"no bloom sketch found at $dir (neither bloom.bin nor " +
          "bloom.bin.old exists — store was never written or is " +
          "mid-crash with no recoverable sketch)")
    val in = fs.open(src)
    val bloom = try BloomFilter.readFrom(in) finally in.close()
    (Store(Tables.parquet(spark, s"$dir/fingerprints"), bloom),
      readMeta(dir))
  }

  /** Close the daily loop O(increment): the accepted increment's
    * fingerprints append to the store files, and a sketch built over
    * them WITH THE ORIGINAL GEOMETRY (same expectedN/fpp → same bit
    * size and hash count) merges into the persisted one — Bloom
    * insertion is monotone, no rebuild, no rewrite. fpp drifts up as
    * `actualN` outgrows `expectedN`; the returned (and persisted)
    * meta carries the grown count so callers see `overfull` and run
    * [[compact]] on their compaction cadence.
    *
    * MUTATES `store.bloom` in place (mergeInPlace): after this call
    * the in-memory store reflects the appended keys, matching the
    * on-disk state — re-read the store only to pick up OTHER writers'
    * appends.
    *
    * Crash-safe ORDER: the merged sketch (and meta) persist BEFORE the
    * fingerprint files append, so every intermediate on-disk state has
    * bloom ⊇ fps — the sketch's extra positives are killed by the
    * verify join, and no false negative can ever appear. The reverse
    * order would leave fps ⊋ bloom after a crash: duplicates of the
    * appended keys would then sail past the prefilter as is_new on
    * every later probe, a silent persistent violation of the module's
    * no-false-negatives invariant. (A crash between meta and fps
    * leaves actualN overstating the store by one increment — harmless:
    * actualN is only the refit signal, and overstating it only runs
    * [[compact]] earlier.)
    */
  def appendWrite(acceptedFps: DataFrame, store: Store, meta: Meta,
                  dir: String): Meta = {
    val fps = acceptedFps.localCheckpoint() // increment-sized, bounded
    val inc = fps.select(xxhash64(col("fingerprint")).as("fp64"))
      .stat.bloomFilter("fp64", meta.expectedN, meta.fpp)
    store.bloom.mergeInPlace(inc)
    writeBloom(store.bloom, dir)
    val grown = meta.copy(actualN = meta.actualN + fps.count())
    writeMeta(grown, dir)
    fps.write.mode("append").parquet(s"$dir/fingerprints")
    grown
  }

  /** The promised refit: rewrite the fingerprint files deduplicated
    * (healing double-appended retries — duplicates never changed probe
    * decisions, only bytes) through [[SignatureStore.compactOne]]'s
    * crash-safe rename-aside protocol, then rebuild the sketch at the
    * ACTUAL distinct key count so the realized fpp returns to `fpp`.
    * Order matters for crash-safety: fingerprints first — a crash
    * before the sketch rewrite leaves the OLD sketch, whose key set is
    * a superset of the compacted store (extra positives are killed by
    * the verify join; no false negatives can appear), so every
    * intermediate state still probes correctly. Cost is one scan of
    * the key-sized store, never the corpus — run on the compaction
    * cadence, not per ingest. No row compacts (`dedup_bloom_probe_updated`
    * times the grown store); DedupSpec "BloomStore appendWrite grows
    * actualN; compact restores geometry ..." pins it.
    */
  def compact(spark: SparkSession, dir: String,
              fpp: Double = DefaultFpp): Meta = {
    SignatureStore.compactOne(spark, s"$dir/fingerprints",
      Seq("fingerprint"))
    val fps = Tables.parquet(spark, s"$dir/fingerprints")
    val n = math.max(fps.count(), 1L)
    val bloom = fps.select(xxhash64(col("fingerprint")).as("fp64"))
      .stat.bloomFilter("fp64", n, fpp)
    writeBloom(bloom, dir)
    val meta = Meta(n, n, fpp)
    writeMeta(meta, dir)
    meta
  }
}
