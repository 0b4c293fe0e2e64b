package graft.functions

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.unsafe.types.UTF8String

/** Byte-pair-encoding tokenizer fixture: a deterministic merge table
  * trained at class-load time from an embedded sample text (the public
  * Sennrich et al. 2016 training algorithm — word-frequency table,
  * iteratively merge the most frequent adjacent symbol pair).
  *
  * The merge table — not the trainer — is the shared artifact: the
  * Spark kernel ([[Kernels.bpeCount]]), the naive Scala reference
  * implementation the kernel is equivalence-tested against, and the
  * DuckDB oracle's recursive CTE all consume `BpeVocab.merges`, so the
  * three sides can never drift. A production deployment would load the
  * merge table of its real tokenizer (the format is the same: an
  * ordered list of symbol pairs); the embedded fixture keeps the engine
  * self-contained and the budgets REAL — packs and mixtures metered in
  * the subword units a trainer consumes, not whitespace splits.
  */
object BpeVocab {

  /** Training sample: original filler prose, lowercase ASCII only (so
    * the SQL literal needs no escaping). Sized so a few hundred merges
    * have pair support.
    */
  val sample: String = """
    the training corpus for a large language model is assembled from many
    sources and the pipeline that prepares the data must be careful with
    every document in the collection the documents are scored for quality
    and the duplicated documents are removed before the tokens are counted
    the tokenizer splits each word into subword units and the units are
    merged by frequency the most frequent pair of symbols is merged first
    and then the next pair and the process repeats until the table of
    merges is full the resulting vocabulary covers the common words of the
    language with single tokens while the rare words are split into many
    smaller pieces the packing stage lays the token streams end to end and
    cuts them into sequences of a fixed budget the mixture stage reweights
    the sources so that the output corpus matches the target shares the
    sampling is deterministic so that every run of the pipeline keeps the
    same documents the quality filters measure the length of the document
    the ratio of punctuation and the share of common stopwords a document
    with a very low score is dropped from the corpus the deduplication
    stage compares the documents by their fingerprints and keeps the first
    copy of each duplicated text the near duplicates are found with hashed
    signatures and verified exactly the cleaned corpus is then packed and
    shuffled and written to sharded files for the trainer the reader loads
    the packs and builds the batches for the optimizer the statistics of
    the corpus are profiled so that the distribution of lengths languages
    and sources is known before the training begins the whole process is
    repeated for every new crawl and the incremental updates are checked
    against the existing corpus so that the old documents are never
    processed twice the engine computes all of these steps as declarative
    plans and the optimizer chooses the physical strategy for the cluster
    the partitions are sized so that the shuffles stay balanced and the
    small tables are broadcast to every executor the filters are pushed
    down to the scans and the columns that are not needed are pruned the
    result is a pipeline that scales from a single machine to a large
    cluster without changing the query
  """.trim

  /** Number of merge rules requested from the trainer (the embedded
    * sample supports ~206 before pair counts drop below 2).
    */
  val numMerges = 200

  /** The ordered merge table (rank = position). Deterministic: ties on
    * pair frequency break on the lexicographically smallest pair, and a
    * pair is never emitted twice.
    */
  lazy val merges: Seq[(String, String)] = train(sample, numMerges)

  /** Sennrich-style BPE training over a word-frequency table. Merging
    * is all-occurrences, left-to-right non-overlapping, per iteration;
    * stops early when no pair occurs at least twice.
    */
  def train(corpus: String, n: Int): Seq[(String, String)] = {
    // lowercase BEFORE counting — the one shared normalization with the
    // distributed trainer ([[graft.textops.BpeTrainer.train]] tokenizes
    // lower(text)); without it the advertised distributed-equals-local
    // merge guarantee silently breaks on any mixed-case corpus.
    // Locale.ROOT matches Spark's locale-agnostic `lower`.
    val wf = corpus.toLowerCase(java.util.Locale.ROOT).split("\\s+")
      .filter(_.nonEmpty)
      .groupBy(identity).map { case (w, g) => w -> g.length.toLong }.toSeq
    trainFromCounts(wf, n)
  }

  /** The training loop over an explicit `(word, frequency)` table —
    * the sufficient statistic of the corpus. [[train]] builds the
    * table from a string; [[graft.textops.BpeTrainer]] builds it
    * distributed (one combinable aggregate) and hands the vocab-sized
    * result here, so the two paths learn IDENTICAL merges from
    * identical counts.
    */
  def trainFromCounts(wordFreq: Seq[(String, Long)],
                      n: Int): Seq[(String, String)] = {
    var words: Map[Vector[String], Long] = wordFreq
      .groupMapReduce(_._1.map(_.toString).toVector)(_._2)(_ + _)
    val out = Vector.newBuilder[(String, String)]
    val emitted = scala.collection.mutable.Set[(String, String)]()
    var i = 0
    var done = false
    while (i < n && !done) {
      val counts = scala.collection.mutable.Map[(String, String), Long]()
      for ((syms, f) <- words; j <- 0 until syms.length - 1)
        counts.updateWith((syms(j), syms(j + 1)))(c => Some(c.getOrElse(0L) + f))
      val candidates = counts.filter { case (p, c) => c >= 2 && !emitted(p) }
      if (candidates.isEmpty) done = true
      else {
        // deterministic tie-break: highest count, then lexicographically
        // smallest (l, r)
        val maxC = candidates.values.max
        val (l, r) = candidates.collect { case (p, c) if c == maxC => p }
          .toSeq.min
        emitted += ((l, r))
        out += ((l, r))
        words = words.map { case (syms, f) => (mergeAll(syms, l, r), f) }
        i += 1
      }
    }
    out.result()
  }

  /** Load an EXTERNAL merge table in the standard `merges.txt` format
    * (the artifact every public BPE tokenizer distribution ships: one
    * `left right` pair per line, rank = line order, an optional
    * `#version: …` header). This is the path to metering budgets in a
    * REAL model's tokenizer units instead of the embedded fixture's:
    * load once on the driver (merge tables are vocabulary-sized, tens
    * of thousands of lines — KBs to low MBs), and the ranks map rides
    * to executors as a codegen reference object inside
    * [[Kernels.bpeCount]], exactly like the fixture table.
    *
    * Reads through Hadoop's FileSystem so `file:/`, `hdfs:/`, `s3a:/`
    * paths all work on a cluster; bare paths resolve against the
    * default FS. Lines that are blank or `#`-prefixed are skipped;
    * a line with other than two whitespace-separated symbols is a
    * format error (fail loud — a silently mis-parsed vocabulary would
    * quietly re-meter every budget downstream).
    */
  def fromFile(path: String,
               hadoopConf: org.apache.hadoop.conf.Configuration =
                 new org.apache.hadoop.conf.Configuration())
      : Seq[(String, String)] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(hadoopConf)
    val in = new java.io.BufferedReader(new java.io.InputStreamReader(
      fs.open(p), java.nio.charset.StandardCharsets.UTF_8))
    try {
      val out = Vector.newBuilder[(String, String)]
      var lineNo = 0
      var line = in.readLine()
      while (line != null) {
        lineNo += 1
        val t = line.trim
        if (t.nonEmpty && !t.startsWith("#")) {
          val parts = t.split("\\s+")
          require(parts.length == 2,
            s"$path:$lineNo: expected 'left right', got '$t'")
          out += ((parts(0), parts(1)))
        }
        line = in.readLine()
      }
      val merges = out.result()
      require(merges.nonEmpty, s"$path: no merge rules found")
      merges
    } finally in.close()
  }

  /** Write a merge table in the same `merges.txt` format [[fromFile]]
    * reads — round-trip pinned in BpeSpec.
    */
  def toFile(merges: Seq[(String, String)], path: String,
             hadoopConf: org.apache.hadoop.conf.Configuration =
               new org.apache.hadoop.conf.Configuration()): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(hadoopConf)
    val out = new java.io.BufferedWriter(new java.io.OutputStreamWriter(
      fs.create(p, true), java.nio.charset.StandardCharsets.UTF_8))
    try {
      out.write("#version: 0.2\n")
      merges.foreach { case (l, r) => out.write(s"$l $r\n") }
    } finally out.close()
  }

  /** The GPT-2-family byte-to-unicode pre-encoder map (the PUBLIC
    * `bytes_to_unicode` algorithm from OpenAI's encoder.py, reproduced
    * from its published description): printable bytes — `!`..`~`,
    * `¡`..`¬`, `®`..`ÿ` — map to their own code points; every other
    * byte b maps to 256+n where n counts the non-printable bytes below
    * b. Real GPT-2-family merges.txt tables are written over THESE
    * symbols (`Ġ` = mapped space, etc.), so metering text with such a
    * vocabulary without this pre-encoder mis-counts every non-ASCII
    * word. Index = byte value, element = mapped code point (< 0x142,
    * always one UTF-16 char).
    */
  lazy val byteToUnicode: IndexedSeq[Int] = {
    val direct = (('!'.toInt to '~'.toInt) ++ (0xA1 to 0xAC) ++
      (0xAE to 0xFF)).toSet
    var n = 0
    (0 until 256).map { b =>
      if (direct(b)) b else { val cp = 256 + n; n += 1; cp }
    }
  }

  /** Merge all left-to-right non-overlapping (l, r) adjacencies. */
  private def mergeAll(syms: Vector[String], l: String, r: String): Vector[String] = {
    val b = Vector.newBuilder[String]
    var j = 0
    while (j < syms.length) {
      if (j < syms.length - 1 && syms(j) == l && syms(j + 1) == r) {
        b += l + r; j += 2
      } else { b += syms(j); j += 1 }
    }
    b.result()
  }

  /** Reference ENCODER (the executable spec the kernel is tested
    * against, and the semantics the DuckDB oracle's recursive CTE
    * replays): repeatedly merge the LEFTMOST occurrence of the
    * lowest-rank adjacent pair — the SentencePiece BPE segmentation
    * rule — until no adjacent pair is in the table. Operates on code
    * points, matching DuckDB's character-indexed `substr`.
    */
  def encodeReference(word: String, merges: Seq[(String, String)]): Seq[String] = {
    val rank = merges.zipWithIndex.toMap
    var syms = word.codePoints().toArray.toVector
      .map(cp => new String(Character.toChars(cp)))
    var go = true
    while (go && syms.length > 1) {
      val ranked = syms.indices.dropRight(1)
        .flatMap(i => rank.get((syms(i), syms(i + 1))).map(r => (r, i)))
      if (ranked.isEmpty) go = false
      else {
        val (_, i) = ranked.min
        syms = syms.take(i) ++ Vector(syms(i) + syms(i + 1)) ++ syms.drop(i + 2)
      }
    }
    syms
  }
}

/** Runtime for [[Kernels.bpeCount]]: tight-loop BPE symbol counting with a
  * process-wide word→count memo (Zipfian corpora re-see the same words
  * constantly, so steady-state cost is one hash probe per token).
  */
object BpeKernelUtil {

  /** A merge table's pair ranks. It rides in plans as a literal, so it
    * prints as its size: a real table has tens of thousands of merges,
    * and every query execution keeps its plan's text.
    */
  final class Ranks(capacity: Int)
      extends java.util.HashMap[String, Integer](capacity) {
    override def toString: String = s"bpe_ranks(${size()} merges)"

    /** This table's word memo, found once per copy: the lookup hashes
      * the whole table, and each task deserializes its own copy.
      */
    @transient private[BpeKernelUtil] lazy val memo =
      caches.computeIfAbsent(this, _ => new ConcurrentHashMap[String, Integer]())
  }

  /** Pair-rank lookup keyed `left + '\u0001' + right` (the same key the
    * DuckDB oracle's map uses — any ambiguity from a '\u0001' inside a
    * word is mirrored bit-for-bit on both sides).
    */
  def buildRanks(merges: Seq[(String, String)]): Ranks = {
    val m = new Ranks(merges.size * 2)
    merges.zipWithIndex.foreach { case ((l, r), i) =>
      m.put(l + "\u0001" + r, Integer.valueOf(i)) }
    m
  }

  /** One memo per merge table, shared by equal copies: the cache key is
    * the word, so two different merge tables in one JVM must not share a
    * map.
    */
  private val caches =
    new ConcurrentHashMap[Ranks, ConcurrentHashMap[String, Integer]]()
  private val MaxCacheEntries = 1 << 20

  /** BPE token count of one word (symbol count after all merges).
    * In-place array merge, O(len²) worst case — paid once per DISTINCT
    * word thanks to the memo.
    */
  def wordCount(word: String, ranks: java.util.HashMap[String, Integer]): Int = {
    val cps = word.codePoints().toArray
    var n = cps.length
    if (n <= 1) return n
    val syms = new Array[String](n)
    var i = 0
    while (i < n) { syms(i) = new String(Character.toChars(cps(i))); i += 1 }
    var go = true
    while (go && n > 1) {
      var bestRank = Int.MaxValue
      var bestIdx = -1
      i = 0
      while (i < n - 1) {
        val r = ranks.get(syms(i) + "\u0001" + syms(i + 1))
        if (r != null && r.intValue() < bestRank) {
          bestRank = r.intValue(); bestIdx = i
        }
        i += 1
      }
      if (bestIdx < 0) go = false
      else {
        syms(bestIdx) = syms(bestIdx) + syms(bestIdx + 1)
        i = bestIdx + 1
        while (i < n - 1) { syms(i) = syms(i + 1); i += 1 }
        n -= 1
      }
    }
    n
  }

  /** Sum of per-word BPE token counts over the document: whitespace
    * token boundaries exactly as [[TextGateStatsUtil.gateStats]] (Java
    * regex `\s` bytes — safe because ASCII whitespace never occurs
    * inside multi-byte UTF-8 sequences).
    *
    * `byteLevel = true` runs the GPT-2-family byte pre-encoder
    * ([[BpeVocab.byteToUnicode]]) in front of the merge loop: each
    * word's UTF-8 BYTES become the seed symbols (mapped to printable
    * code points), which is the symbol space real merges.txt
    * vocabularies are written over. ASCII words map to themselves, so
    * pure-ASCII corpora meter identically either way — the flag
    * changes only multi-byte text, which byte-level metering counts
    * per byte-symbol instead of per code point.
    */
  def docCount(text: UTF8String, ranks: Ranks, byteLevel: Boolean): Long = {
    val cache = ranks.memo
    val nBytes = text.numBytes()
    var total = 0L
    var tokStart = -1
    var i = 0
    while (i < nBytes) {
      val b = text.getByte(i)
      val ws = b == 32 || (b >= 9 && b <= 13)
      if (!ws) { if (tokStart < 0) tokStart = i }
      else if (tokStart >= 0) {
        total += tokenCount(text, tokStart, i - tokStart, ranks, cache,
          byteLevel)
        tokStart = -1
      }
      i += 1
    }
    if (tokStart >= 0)
      total += tokenCount(text, tokStart, nBytes - tokStart, ranks, cache,
        byteLevel)
    total
  }

  /** [[docCount]] without the byte-level pre-encoder. */
  def docCount(text: UTF8String, ranks: Ranks): Long =
    docCount(text, ranks, byteLevel = false)

  private def tokenCount(text: UTF8String, start: Int, len: Int,
                         ranks: java.util.HashMap[String, Integer],
                         cache: ConcurrentHashMap[String, Integer],
                         byteLevel: Boolean): Int = {
    val buf = new Array[Byte](len)
    var j = 0
    while (j < len) { buf(j) = text.getByte(start + j); j += 1 }
    // byte-level: the word's SYMBOLS are its mapped UTF-8 bytes. The
    // memo key is the mapped string — for ASCII it equals the raw
    // word (identical symbols, identical count), so the cache is
    // correct across both modes.
    val word =
      if (byteLevel) {
        val cs = new Array[Char](len)
        var k = 0
        while (k < len) {
          cs(k) = BpeVocab.byteToUnicode(buf(k) & 0xFF).toChar
          k += 1
        }
        new String(cs)
      } else UTF8String.fromBytes(buf).toString
    val hit = cache.get(word)
    if (hit != null) return hit.intValue()
    val c = wordCount(word, ranks)
    if (cache.size() < MaxCacheEntries) cache.put(word, Integer.valueOf(c))
    c
  }
}
