package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.catalyst.expressions.{UnsafeArrayData, XXH64}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.sketch.BloomFilter

/** Batch kernels for the hot per-document array pipelines.
  *
  * Catalyst does no common-subexpression elimination inside higher-order-
  * function lambdas and evaluates lambda bodies on the INTERPRETED path —
  * so `transform(shingles, s => md5(s))` pays interpreted-eval overhead
  * per array element, per row. These kernels replace each whole per-row
  * array pipeline with ONE codegen'd static call running a tight JVM
  * loop (a [[Kernels]] row): measured 3-10× on the dedup/similarity
  * bench queries.
  *
  * Every kernel is BIT-IDENTICAL to the Column-expression form it
  * replaces (the HOF forms remain as equivalence-test twins), so the
  * DuckDB oracles — which replay the md5/xxhash64 arithmetic in SQL —
  * stay green unchanged.
  */
object BatchKernelUtil {

  private val mdLocal = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest = MessageDigest.getInstance("MD5")
  }

  /** First 15 hex chars of an md5 digest as a long — equals
    * `conv(substring(md5(x), 1, 15), 16, 10)`: bytes 0-6 plus the high
    * nibble of byte 7 (60 bits, always non-negative).
    */
  private def hexPrefix15(dig: Array[Byte]): Long = {
    var acc = 0L
    var i = 0
    while (i < 7) { acc = (acc << 8) | (dig(i) & 0xFFL); i += 1 }
    (acc << 4) | ((dig(7) >> 4) & 0xFL)
  }

  /** Hex chars 17-30 (1-based) of an md5 digest as a long — equals
    * `conv(substring(md5(x), 17, 14), 16, 10)`: bytes 8-14 (56 bits).
    */
  private def hexMid14(dig: Array[Byte]): Long = {
    var acc = 0L
    var i = 8
    while (i < 15) { acc = (acc << 8) | (dig(i) & 0xFFL); i += 1 }
    acc
  }

  /** MinHash signature straight from the shingle array: one md5 per
    * shingle seeds the Kirsch-Mitzenmacher family `g_j = h1 + j·h2`;
    * `sig[j] = min over shingles of g_j`. Null shingles are skipped
    * (array_min semantics); an all-null/empty input yields null elements
    * (`array_min(empty) = NULL`). All values < 2^61: no overflow on any
    * engine.
    */
  def minhashSig(arr: ArrayData, numHashes: Int): ArrayData = {
    val n = arr.numElements()
    val mins = new Array[Long](numHashes)
    java.util.Arrays.fill(mins, Long.MaxValue)
    var any = false
    val md = mdLocal.get()
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        any = true
        val dig = md.digest(arr.getUTF8String(i).getBytes)
        val h1 = hexPrefix15(dig)
        val h2 = hexMid14(dig)
        var j = 0
        while (j < numHashes) {
          val g = h1 + j * h2
          if (g < mins(j)) mins(j) = g
          j += 1
        }
      }
      i += 1
    }
    if (!any) new GenericArrayData(new Array[Any](numHashes)) // all nulls
    else UnsafeArrayData.fromPrimitiveArray(mins)
  }

  /** `array_sort(transform(arr, s => xxhash64(s)))` in one pass: Spark's
    * XXH64 over each string's UTF-8 bytes with the xxhash64 SQL seed (42);
    * a null element hashes to the bare seed, exactly as the XxHash64
    * expression leaves the running hash untouched for null children.
    */
  def xxSortedHashes(arr: ArrayData): ArrayData = {
    val n = arr.numElements()
    val out = new Array[Long](n)
    var i = 0
    while (i < n) {
      out(i) =
        if (arr.isNullAt(i)) 42L
        else {
          val s = arr.getUTF8String(i)
          XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, 42L)
        }
      i += 1
    }
    java.util.Arrays.sort(out)
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** Winnowing k-gram hashes in one pass over the text — equals
    * `transform(sequence(1, greatest(len-k+1, 1)),
    *            i => conv(substring(md5(substr(text,i,k)),1,15),16,10))`:
    * character-based substrings (UTF8String.substringSQL, what `substr`
    * compiles to), one md5 each, 60-bit prefix as the hash.
    */
  def kgramHashes(text: UTF8String, k: Int): ArrayData = {
    val len = text.numChars()
    val n = math.max(len - k + 1, 1)
    val out = new Array[Long](n)
    val md = mdLocal.get()
    var i = 0
    while (i < n) {
      out(i) = hexPrefix15(md.digest(text.substringSQL(i + 1, k).getBytes))
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** Hashed n-gram feature buckets for DSIR importance scoring
    * ([[graft.textops.Classifier.dsirScore]]): tokenize on ASCII
    * whitespace (the `TextOps.tokens` boundaries — safe on UTF-8,
    * see [[wordKgramXx]]), then emit `md5-fold % nBuckets` for every
    * unigram and every adjacent bigram ("tok1 tok2", digested over
    * the joined BYTES — no joined string ever allocates). Equals
    * `transform(concat(toks, bigrams),
    *   f => pmod(conv(substring(md5(f), 1, 15), 16, 10), B))`
    * bit for bit (the [[graft.util.Sampling.md5Bucket]] fold on
    * each feature string); pinned by an equivalence spec. Output
    * order: unigrams then bigrams — downstream is aggregation, but
    * the equivalence spec pins it anyway.
    */
  def dsirBuckets(text: UTF8String, nBuckets: Int): ArrayData = {
    val nBytes = text.numBytes()
    var starts = new Array[Int](32)
    var ends = new Array[Int](32)
    var n = 0
    var tokStart = -1
    var i = 0
    while (i <= nBytes) {
      val ws = i == nBytes || {
        val b = text.getByte(i); b == 32 || (b >= 9 && b <= 13) }
      if (!ws) { if (tokStart < 0) tokStart = i }
      else if (tokStart >= 0) {
        if (n == starts.length) {
          starts = java.util.Arrays.copyOf(starts, n * 2)
          ends = java.util.Arrays.copyOf(ends, n * 2)
        }
        starts(n) = tokStart; ends(n) = i; n += 1; tokStart = -1
      }
      i += 1
    }
    if (n == 0) return UnsafeArrayData.fromPrimitiveArray(new Array[Long](0))
    val md = mdLocal.get()
    val base = text.getBytes
    val out = new Array[Long](n + (if (n >= 2) n - 1 else 0))
    var j = 0
    while (j < n) {
      md.reset()
      md.update(base, starts(j), ends(j) - starts(j))
      out(j) = hexPrefix15(md.digest()) % nBuckets
      j += 1
    }
    j = 0
    while (j < n - 1) {
      md.reset()
      md.update(base, starts(j), ends(j) - starts(j))
      md.update(' '.toByte)
      md.update(base, starts(j + 1), ends(j + 1) - starts(j + 1))
      out(n + j) = hexPrefix15(md.digest()) % nBuckets
      j += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** Winnowing fingerprint SET of a document in one pass — equals the
    * relational formulation in `TextOps.winnowingViaWindow` (hash every
    * character k-gram via [[kgramHashes]]'s md5-prefix hash, keep the
    * min of each full sliding window of `w` hashes — truncated to the
    * whole array when fewer than `w` k-grams exist — then dedupe),
    * pinned by an equivalence spec. Sliding min is the monotonic-deque
    * algorithm, O(k-grams) amortized; dedup is per-document, which
    * equals the relational DISTINCT because document ids are unique.
    *
    * The point is plan shape, not arithmetic: the windowed form
    * explodes O(chars) rows per document through a (doc)-keyed Window
    * exchange plus a global DISTINCT exchange just to compute a
    * per-document value — this kernel keeps the whole computation
    * inside the scan stage and emits only the final fingerprints.
    */
  def winnowFps(text: UTF8String, k: Int, w: Int): ArrayData = {
    val len = text.numChars()
    val n = math.max(len - k + 1, 1)
    val h = new Array[Long](n)
    val md = mdLocal.get()
    var i = 0
    while (i < n) {
      h(i) = hexPrefix15(md.digest(text.substringSQL(i + 1, k).getBytes))
      i += 1
    }
    if (n <= w) {
      var m = Long.MaxValue; i = 0
      while (i < n) { if (h(i) < m) m = h(i); i += 1 }
      return UnsafeArrayData.fromPrimitiveArray(Array(m))
    }
    val seen = new java.util.LinkedHashSet[java.lang.Long]()
    val dq = new Array[Int](n)
    var head = 0; var tail = 0
    i = 0
    while (i < n) {
      while (tail > head && h(dq(tail - 1)) >= h(i)) tail -= 1
      dq(tail) = i; tail += 1
      if (dq(head) <= i - w) head += 1
      if (i >= w - 1) seen.add(h(dq(head)))
      i += 1
    }
    val out = new Array[Long](seen.size())
    val it = seen.iterator(); i = 0
    while (it.hasNext) { out(i) = it.next(); i += 1 }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** Distinct word shingles from a token array — equals
    * `array_distinct(when(size < n, array(array_join(toks, " ")))
    *   .otherwise(transform(seq, i => array_join(slice(toks,i+1,n), " "))))`
    * including array_join's skip-nulls rule and array_distinct's
    * first-occurrence order.
    */
  def wordShingles(toks: ArrayData, n: Int): ArrayData = {
    val m = toks.numElements()
    val sep = UTF8String.fromString(" ")
    def joinRange(from: Int, until: Int): UTF8String = {
      val parts = new Array[UTF8String](until - from)
      var i = from
      while (i < until) { parts(i - from) = toks.getUTF8String(i); i += 1 }
      UTF8String.concatWs(sep, parts: _*) // skips nulls, like array_join
    }
    if (m < n) return new GenericArrayData(Array[Any](joinRange(0, m)))
    val seen = new java.util.LinkedHashSet[UTF8String]()
    var i = 0
    while (i <= m - n) { seen.add(joinRange(i, i + n)); i += 1 }
    new GenericArrayData(seen.toArray(new Array[AnyRef](seen.size())))
  }

  /** Positional word-k-gram hashes for exact-substring dedup: tokenize
    * on the ASCII whitespace bytes (the same boundaries as
    * [[TextGateStatsUtil.gateStats]] — safe because ASCII whitespace
    * never occurs inside multi-byte UTF-8 sequences), xxhash64 each
    * token in place (no token strings allocate), then fold k
    * consecutive token hashes with an LCG combine. Element i is the
    * hash of tokens i..i+k-1; fewer than k tokens yields an empty
    * array. Two positions collide iff their k token hash sequences
    * collide — the oracle joins on the literal gram STRING, so the
    * 64-bit hash only has to be collision-free on the data, the same
    * contract every hashed candidate generator in this file relies on.
    */
  def wordKgramXx(text: UTF8String, k: Int): ArrayData = {
    val nBytes = text.numBytes()
    var th = new Array[Long](32)
    var n = 0
    var tokStart = -1
    var i = 0
    while (i <= nBytes) {
      val ws = i == nBytes || {
        val b = text.getByte(i); b == 32 || (b >= 9 && b <= 13) }
      if (!ws) { if (tokStart < 0) tokStart = i }
      else if (tokStart >= 0) {
        if (n == th.length) th = java.util.Arrays.copyOf(th, n * 2)
        th(n) = XXH64.hashUnsafeBytes(text.getBaseObject,
          text.getBaseOffset + tokStart, i - tokStart, 42L)
        n += 1
        tokStart = -1
      }
      i += 1
    }
    if (n < k) return UnsafeArrayData.fromPrimitiveArray(Array.emptyLongArray)
    val out = new Array[Long](n - k + 1)
    var s = 0
    while (s <= n - k) {
      var acc = 42L
      var j = 0
      while (j < k) { acc = acc * 6364136223846793005L + th(s + j); j += 1 }
      out(s) = acc
      s += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** Positional CHARACTER k-grams, hashed: `out[p]` is the XXH64 of the
    * UTF-8 bytes of the k-CODE-POINT window starting at code point `p`
    * (0-based). The character-granularity twin of [[wordKgramXx]] for
    * Lee-et-al. ExactSubstr dedup: catches verbatim runs that start or
    * end mid-word (templated boilerplate with interpolated values),
    * which word grams structurally miss. Code points — not bytes — so
    * the DuckDB oracle's character-indexed `substr` enumerates the
    * same positions; hashing the raw byte window (no normalization)
    * keeps "exact" exact.
    *
    * One pass to mark code-point starts (a non-continuation byte,
    * `(b & 0xC0) != 0x80`), then one XXH64 per position over the byte
    * range — O(n·k) bytes hashed in the scan stage; text never leaves
    * the scan.
    */
  def charKgramXx(text: UTF8String, k: Int): ArrayData = {
    val nBytes = text.numBytes()
    // byte offsets of each code-point start, plus the end sentinel
    var offs = new Array[Int](math.max(32, nBytes / 2))
    var n = 0
    var i = 0
    while (i < nBytes) {
      if ((text.getByte(i) & 0xC0) != 0x80) {
        if (n == offs.length) offs = java.util.Arrays.copyOf(offs, n * 2)
        offs(n) = i
        n += 1
      }
      i += 1
    }
    if (n < k) return UnsafeArrayData.fromPrimitiveArray(Array.emptyLongArray)
    if (n == offs.length) offs = java.util.Arrays.copyOf(offs, n + 1)
    offs(n) = nBytes
    val out = new Array[Long](n - k + 1)
    var p = 0
    while (p <= n - k) {
      out(p) = XXH64.hashUnsafeBytes(text.getBaseObject,
        text.getBaseOffset + offs(p), offs(p + k) - offs(p), 42L)
      p += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** Cosine similarity of `vec` against every centroid of a literal
    * matrix, in one pass: the vector unpacks once and its norm computes
    * once for ALL centroids. Arithmetic is bit-identical to the expanded
    * `cosinePre(dot(v, cᵢ), norm(v), ‖cᵢ‖)` column form (left-to-right
    * accumulation, min-length truncation, 0.0 when either norm is zero),
    * so the DuckDB oracle that replays that form stays green.
    */
  def centroidSims(vec: ArrayData, cents: Array[Array[Double]],
                   cnorms: Array[Double]): ArrayData = {
    val x = vec.toDoubleArray()
    var vn = 0.0
    var j = 0
    while (j < x.length) { vn += x(j) * x(j); j += 1 }
    vn = math.sqrt(vn)
    val out = new Array[Double](cents.length)
    var i = 0
    while (i < cents.length) {
      val c = cents(i)
      val n = math.min(x.length, c.length)
      var acc = 0.0
      var k = 0
      while (k < n) { acc += x(k) * c(k); k += 1 }
      val nn = vn * cnorms(i)
      out(i) = if (nn == 0.0) 0.0 else acc / nn
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** Sign-bit hyperplane signature: bit i set iff
    * `dot(vec, planes(i)) > 0` with the same left-to-right
    * float-widened-to-double accumulation as [[VectorOpsUtil.dotFloat]]
    * (and the DuckDB oracle). One vector unpack serves ALL planes — the
    * expanded form re-unpacked the vector once per plane.
    */
  def hyperplaneSig(vec: ArrayData, planes: Array[Array[Float]]): Long = {
    val x = vec.toFloatArray()
    var sig = 0L
    var i = 0
    while (i < planes.length) {
      val p = planes(i)
      val n = math.min(x.length, p.length)
      var acc = 0.0
      var j = 0
      while (j < n) { acc += x(j).toDouble * p(j).toDouble; j += 1 }
      if (acc > 0.0) sig |= 1L << i
      i += 1
    }
    sig
  }

  /** Membership of a 64-bit fingerprint in a fixed sketch — the
    * ingest-time prefilter of [[graft.dedup.BloomStore]]. The sketch has
    * NO false negatives, so filtering the broadcast side of the exact
    * verify join to bloom-positives can never change the decision — it
    * only shrinks the broadcast from O(increment) fingerprints to
    * O(dups + fpp·increment). A handful of hash probes per row, no
    * allocation.
    */
  def bloomContains(fp: Long, bloom: BloomFilter): Boolean =
    bloom.mightContainLong(fp)
}

/** Product-quantization codebooks: per subspace `m`, a parallel pair of
  * (code ids, centroids). Codes keep their ORIGINAL ids when a Lloyd
  * pass empties a cell (mirroring [[graft.simops.Ivf]]'s survivor
  * semantics), so the arrays may be shorter than K but never renumber.
  */
object PqKernelUtil {

  /** Best (lowest-distance, ties → lowest code id) code for subspace `m`
    * of `x`: squared-L2 against each centroid with left-to-right
    * accumulation; vector elements past `x.length` read as 0.0 (ragged
    * corpora). Returns the INDEX into the books(m) arrays.
    */
  def bestIdx(x: Array[Double], m: Int,
              books: Array[Array[Array[Double]]]): Int = {
    val book = books(m)
    val subDim = if (book.isEmpty) 0 else book(0).length
    val off = m * subDim
    var best = 0
    var bestD = Double.MaxValue
    var k = 0
    while (k < book.length) {
      val c = book(k)
      var acc = 0.0
      var d = 0
      while (d < c.length) {
        val xv = if (off + d < x.length) x(off + d) else 0.0
        val diff = xv - c(d)
        acc += diff * diff
        d += 1
      }
      if (acc < bestD) { bestD = acc; best = k }
      k += 1
    }
    best
  }

  /** All M subspace codes of `vec` as an int array. */
  def pqCodes(vec: ArrayData, codes: Array[Array[Int]],
              books: Array[Array[Array[Double]]]): ArrayData = {
    val x = vec.toDoubleArray()
    val out = new Array[Int](books.length)
    var m = 0
    while (m < books.length) {
      out(m) = codes(m)(bestIdx(x, m, books))
      m += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** Total squared reconstruction error of `vec` under its best codes
    * (same argmin as [[pqCodes]], summed across subspaces).
    */
  def pqErr(vec: ArrayData, books: Array[Array[Array[Double]]]): Double = {
    val x = vec.toDoubleArray()
    var total = 0.0
    var m = 0
    while (m < books.length) {
      val book = books(m)
      val subDim = if (book.isEmpty) 0 else book(0).length
      val off = m * subDim
      val c = book(bestIdx(x, m, books))
      var acc = 0.0
      var d = 0
      while (d < c.length) {
        val xv = if (off + d < x.length) x(off + d) else 0.0
        val diff = xv - c(d)
        acc += diff * diff
        d += 1
      }
      total += acc
      m += 1
    }
    total
  }

  /** Assignment for the Lloyd pass: subspace `m`'s best ORIGINAL code id
    * for `vec` under the current books.
    */
  def pqAssign(vec: ArrayData, m: Int, codes: Array[Array[Int]],
               books: Array[Array[Array[Double]]]): Int =
    codes(m)(bestIdx(vec.toDoubleArray(), m, books))
}

/** Asymmetric-distance (ADC) kernel for PQ-compressed search: squared
  * L2 between a FULL query vector and a candidate's RECONSTRUCTION
  * (per-subspace codebook centroid for its code). `idx(m)(codeId)`
  * maps original code ids to positions in `books(m)` (codebooks keep
  * original ids when Lloyd empties a cell). Accumulation is
  * left-to-right within each subspace and subspaces sum in order —
  * the same fold as the DuckDB oracle's chained `l2(...) + l2(...)`.
  */
object PqAdcUtil {
  def adc(qv: ArrayData, codes: ArrayData, idx: Array[Array[Int]],
          books: Array[Array[Array[Double]]]): Double = {
    val x = qv.toDoubleArray()
    var total = 0.0
    var m = 0
    while (m < books.length) {
      val book = books(m)
      val subDim = if (book.isEmpty) 0 else book(0).length
      val off = m * subDim
      val c = book(idx(m)(codes.getInt(m)))
      var acc = 0.0
      var d = 0
      while (d < c.length) {
        val xv = if (off + d < x.length) x(off + d) else 0.0
        val diff = xv - c(d)
        acc += diff * diff
        d += 1
      }
      total += acc
      m += 1
    }
    total
  }
}

/** One-pass token/char/punct/stopword counts — see
  * [[TextGateStatsUtil.gateStats]].
  */
object TextGateStatsUtil {

  /** A gate dictionary. It rides in plans as a literal, so it prints as
    * its size, not its words.
    */
  final class Words(capacity: Int)
      extends java.util.HashSet[UTF8String](capacity) {
    override def toString: String = s"gate_dict(${size()} words)"
  }

  /** The lookup set: the dictionary words exactly as given (callers pass
    * lowercase words).
    */
  def buildDict(words: Seq[String]): Words = {
    val s = new Words(words.size * 2)
    words.foreach(w => s.add(UTF8String.fromString(w)))
    s
  }

  def maxBytes(words: Seq[String]): Int =
    if (words.isEmpty) 0
    // 3x slack: membership is tested on the LOWERCASED token, and a
    // Unicode case fold can shrink a code point from 3 bytes to 1
    // (U+212A KELVIN SIGN -> 'k'), so a raw token up to 3x the longest
    // dict entry can still fold into the dict. The prefilter only needs
    // to be sound, not tight — it exists to skip paragraph-length
    // "tokens" (URLs, base64 runs), not to be exact.
    else words.map(w => UTF8String.fromString(w).numBytes()).max * 3

  /** Single byte-scan over the UTF-8 payload computing, together:
    *
    *   - `n_tokens`: maximal runs of non-whitespace bytes, where
    *     whitespace is Java regex `\s` = `[ \t\n\x0B\f\r]` (bytes
    *     9-13 and 32) — exactly `size(filter(split(text, "\\s+"),
    *     t => t != ""))`, because ASCII whitespace bytes never occur
    *     inside multi-byte UTF-8 sequences;
    *   - `n_chars`: code points (bytes that are not 10xxxxxx
    *     continuations) — exactly `length(text)`;
    *   - `n_punct`: bytes in the ASCII ranges `!-/`, `:-@`, `` [-` ``,
    *     `{-~` — exactly `length(regexp_replace(text,
    *     "[^!-/:-@\\[-`{-~]", ""))` (the class is pure ASCII, so code
    *     points and bytes coincide);
    *   - `n_stop`: tokens whose lowercase form (Spark's own
    *     `UTF8String.toLowerCase`, the `lower()` runtime) is in `dict`
    *     — exactly `size(filter(tokens(lower(text)), t =>
    *     array_contains(dict, t)))` for any text where lowercasing
    *     preserves token boundaries (no Unicode lowercase mapping
    *     produces whitespace). Tokens longer than `maxTokBytes` skip
    *     the allocation + lookup entirely.
    *
    * Replaces the two `split` passes, two `regexp_replace` passes and
    * the whole-string `lower` the Column form pays per document —
    * the quality/token/gate family becomes one pass over the bytes.
    */
  def gateStats(text: UTF8String,
                dict: java.util.HashSet[UTF8String],
                maxTokBytes: Int): org.apache.spark.sql.catalyst.InternalRow = {
    val nBytes = text.numBytes()
    var nTok = 0
    var nChars = 0
    var nPunct = 0
    var nStop = 0
    var tokStart = -1
    var i = 0
    while (i < nBytes) {
      val b = text.getByte(i)
      if ((b & 0xC0) != 0x80) nChars += 1
      val ws = b == 32 || (b >= 9 && b <= 13)
      if (!ws) {
        if ((b >= 33 && b <= 47) || (b >= 58 && b <= 64) ||
            (b >= 91 && b <= 96) || (b >= 123 && b <= 126)) nPunct += 1
        if (tokStart < 0) tokStart = i
      } else if (tokStart >= 0) {
        nTok += 1
        if (i - tokStart <= maxTokBytes &&
            dictHit(text, tokStart, i - tokStart, dict)) nStop += 1
        tokStart = -1
      }
      i += 1
    }
    if (tokStart >= 0) {
      nTok += 1
      if (nBytes - tokStart <= maxTokBytes &&
          dictHit(text, tokStart, nBytes - tokStart, dict)) nStop += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](nTok, nChars, nPunct, nStop))
  }

  private def dictHit(text: UTF8String, start: Int, len: Int,
                      dict: java.util.HashSet[UTF8String]): Boolean = {
    val buf = new Array[Byte](len)
    var j = 0
    while (j < len) { buf(j) = text.getByte(start + j); j += 1 }
    dict.contains(UTF8String.fromBytes(buf).toLowerCase)
  }
}

/** Word n-gram kernels — see [[WordNgramUtil]]. */
object WordNgramUtil {

  private val sep = UTF8String.fromString(" ")

  private def joinRange(toks: ArrayData, from: Int, n: Int): UTF8String = {
    val parts = new Array[UTF8String](n)
    var j = 0
    while (j < n) {
      parts(j) = if (toks.isNullAt(from + j)) null
                 else toks.getUTF8String(from + j)
      j += 1
    }
    UTF8String.concatWs(sep, parts: _*) // skips nulls, like concat_ws
  }

  /** All order-preserving word n-grams (duplicates kept), EMPTY when the
    * doc has fewer than `n` tokens — equals
    * `when(size(toks) >= n, transform(sequence(1, size - n + 1),
    *    i => concat_ws(" ", toks[i], ..., toks[i+n-1]))).otherwise(array())`
    * without the per-element interpreted-lambda cost.
    */
  def wordNgrams(toks: ArrayData, n: Int): ArrayData = {
    val m = toks.numElements()
    if (m < n) return new GenericArrayData(Array.empty[Any])
    val out = new Array[AnyRef](m - n + 1)
    var i = 0
    while (i <= m - n) { out(i) = joinRange(toks, i, n); i += 1 }
    new GenericArrayData(out)
  }

  /** The document's DISTINCT n-gram xxhash64 set in one pass —
    * `array_distinct(transform(word_ngrams(toks, n), g => xxhash64(g)))`
    * (first-occurrence order, Spark's XXH64 seed 42). Exploding this is
    * exactly the `(doc, hash)`-distinct frame the df-style corpus
    * aggregates start from, WITHOUT the corpus-sized distinct exchange:
    * the doc id is in that distinct key, so the dedup is per-document
    * and per-document work belongs in the scan stage, not a shuffle.
    */
  def ngramXxSet(toks: ArrayData, n: Int): ArrayData = {
    val m = toks.numElements()
    if (m < n) return UnsafeArrayData.fromPrimitiveArray(Array.empty[Long])
    val seen = new java.util.LinkedHashSet[java.lang.Long]()
    var i = 0
    while (i <= m - n) {
      val g = joinRange(toks, i, n)
      seen.add(XXH64.hashUnsafeBytes(g.getBaseObject, g.getBaseOffset,
        g.numBytes, 42L))
      i += 1
    }
    val out = new Array[Long](seen.size())
    val it = seen.iterator()
    var k = 0
    while (it.hasNext) { out(k) = it.next(); k += 1 }
    UnsafeArrayData.fromPrimitiveArray(out)
  }
}

/** Per-document word counts — see [[WordCountsUtil.wordCounts]]. */
object WordCountsUtil {

  /** The document's per-token occurrence counts in one pass,
    * first-occurrence order: `array<struct<term, tf>>` equal as an
    * UNORDERED multiset to `groupBy(doc, term).count()` restricted to
    * this doc. Any aggregation whose grouping key contains the document
    * id is per-document work — this moves it into the scan stage, so
    * the exploded output is already (doc, term)-unique and the
    * corpus-sized first shuffle of the tf/df family disappears. A NULL
    * token is skipped: `term` is non-nullable.
    */
  def wordCounts(toks: ArrayData): ArrayData = {
    val m = toks.numElements()
    val counts = new java.util.LinkedHashMap[UTF8String, java.lang.Long]()
    var i = 0
    while (i < m) {
      if (!toks.isNullAt(i)) {
        val t = toks.getUTF8String(i)
        val prev = counts.get(t)
        counts.put(t, if (prev == null) 1L else prev + 1L)
      }
      i += 1
    }
    val out = new Array[Any](counts.size())
    val it = counts.entrySet().iterator()
    var k = 0
    while (it.hasNext) {
      val e = it.next()
      out(k) = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](e.getKey, e.getValue))
      k += 1
    }
    new GenericArrayData(out)
  }
}

/** Second-level (within-coarse-cell) nearest-sub-centroid assignment for
  * the hierarchical IVF index ([[graft.simops.Ivf]] `fitHier` /
  * [[graft.simops.Embed.semanticDedupHier]]).
  *
  * The flat index's `nlist` argmax is O(nlist·dim) per row, which caps
  * how far `nlist` can grow with the corpus; splitting the index into
  * C = ⌈√nlist⌉ coarse cells × S = ⌈nlist/C⌉ sub-centroids makes the
  * full assignment O((C+S)·dim) = O(√nlist·dim) per row, so nlist can
  * honor the `autoNlist` contract (nlist ∝ corpus size) at any scale.
  *
  * `subCents(coarseId)` is that cell's sub-centroid matrix in ascending
  * local-sub-id order (possibly sparse after Lloyd survivor drops —
  * `subIds(coarseId)` carries the surviving ids); cosine uses the same
  * left-to-right multiply-accumulate fold as
  * [[BatchKernelUtil.centroidSims]] (and the DuckDB oracle's
  * `list_sum(list_transform(...))`), zero-norm → 0.0; strict `>` keeps
  * the FIRST max, so ties break to the lowest surviving sub id —
  * `row_number() OVER (ORDER BY cos DESC, sub_id)` in SQL.
  */
object SubNearestUtil {
  def nearestSub(vec: ArrayData, coarseId: Int,
                 subCents: Array[Array[Array[Double]]],
                 subNorms: Array[Array[Double]],
                 subIds: Array[Array[Int]]): Int = {
    val cents = subCents(coarseId)
    if (cents.isEmpty) return 0
    val x = vec.toDoubleArray()
    var vn = 0.0
    var j = 0
    while (j < x.length) { vn += x(j) * x(j); j += 1 }
    vn = math.sqrt(vn)
    val norms = subNorms(coarseId)
    var best = 0
    var bestSim = Double.NegativeInfinity
    var i = 0
    while (i < cents.length) {
      val c = cents(i)
      val n = math.min(x.length, c.length)
      var acc = 0.0
      var k = 0
      while (k < n) { acc += x(k) * c(k); k += 1 }
      val nn = vn * norms(i)
      val sim = if (nn == 0.0) 0.0 else acc / nn
      if (sim > bestSim) { bestSim = sim; best = i }
      i += 1
    }
    subIds(coarseId)(best)
  }
}

/** `count_below(value, cuts)` — how many elements of `cuts` are
  * STRICTLY below `value`; the range-bucket assignment of
  * [[graft.lagops.EventAnalytics.distributionStats]]. Identical
  * semantics to `size(filter(cuts, c -> value > c))` (NULL elements
  * are not counted, matching the HOF filter's three-valued logic) but
  * as one codegen'd loop instead of an interpreted per-element lambda
  * — the cuts array rides every corpus row, so the lambda overhead is
  * corpus-sized.
  */
object CountBelowUtil {
  def countBelow(value: Double, cuts: ArrayData): Int = {
    var n = 0
    var i = 0
    val len = cuts.numElements()
    while (i < len) {
      if (!cuts.isNullAt(i) && value > cuts.getDouble(i)) n += 1
      i += 1
    }
    n
  }
}

/** Language-ID kernel — see [[LangIdUtil.langId]]. */
object LangIdUtil {

  final class Dict(langs: Seq[(String, Seq[String])]) extends Serializable {
    /** lowercase marker token → bitmask of language indexes (langs are
      * few; an Int mask is plenty). */
    val tokenMask: java.util.HashMap[UTF8String, Integer] = {
      val m = new java.util.HashMap[UTF8String, Integer]()
      langs.zipWithIndex.foreach { case ((_, words), i) =>
        words.foreach { w =>
          val k = UTF8String.fromString(w)
          val prev = m.get(k)
          m.put(k, Integer.valueOf(
            (if (prev == null) 0 else prev.intValue()) | (1 << i)))
        }
      }
      m
    }
    val langCodes: Array[UTF8String] =
      langs.map(l => UTF8String.fromString(l._1)).toArray
    val und: UTF8String = UTF8String.fromString("und")
    val maxTokBytes: Int =
      if (langs.forall(_._2.isEmpty)) 0
      else langs.flatMap(_._2)
        .map(w => UTF8String.fromString(w).numBytes()).max
  }

  /** One fused pass replacing the per-language Column pipeline
    * `array_max(array(struct(markerHits(text, words_i), lang_i)))`
    * where `markerHits = size(filter(array_distinct(tokens(lower(
    * text))), t => array_contains(dict_i, t)))`:
    *
    *   - lowercase ONCE via `UTF8String.toLowerCase` (the `lower()`
    *     runtime — bit-identical by construction);
    *   - tokenize the lowered bytes by maximal non-`\s` runs (ASCII
    *     whitespace bytes never occur inside multi-byte UTF-8
    *     sequences, so this equals `split(lowered, "\\s+")` minus
    *     empties);
    *   - DISTINCT tokens via a seen-set (array_distinct semantics:
    *     repeated filler counts once per language);
    *   - per distinct token, one map lookup bumps every language whose
    *     dictionary contains it (tokens longer than the longest dict
    *     entry skip the allocation + lookup);
    *   - the winner replays `array_max` over `struct(hits, lang)`
    *     EXACTLY: highest hits, ties to the binary-GREATEST lang code;
    *     zero hits everywhere → "und".
    *
    * The Column form recomputed tokenize+lower+distinct once per
    * LANGUAGE in interpreted HOF lambdas.
    */
  def langId(text: UTF8String, dict: Dict): UTF8String = {
    val lowered = text.toLowerCase
    val n = lowered.numBytes()
    val base = lowered.getBaseObject
    val off = lowered.getBaseOffset
    val hits = new Array[Int](dict.langCodes.length)
    val seen = new java.util.HashSet[UTF8String]()
    var i = 0
    while (i < n) {
      // skip \s run (9-13, 32 — never part of a multi-byte sequence)
      var b = org.apache.spark.unsafe.Platform.getByte(base, off + i)
      if (b == 32 || (b >= 9 && b <= 13)) { i += 1 }
      else {
        val start = i
        var done = false
        while (!done && i < n) {
          b = org.apache.spark.unsafe.Platform.getByte(base, off + i)
          if (b == 32 || (b >= 9 && b <= 13)) done = true else i += 1
        }
        val len = i - start
        if (len <= dict.maxTokBytes) {
          val t = UTF8String.fromAddress(base, off + start, len)
          if (seen.add(t)) {
            val mask = dict.tokenMask.get(t)
            if (mask != null) {
              var m = mask.intValue()
              var k = 0
              while (m != 0) {
                if ((m & 1) != 0) hits(k) += 1
                m >>>= 1
                k += 1
              }
            }
          }
        }
      }
    }
    var best = -1
    var bestHits = 0
    var k = 0
    while (k < hits.length) {
      if (hits(k) > 0 && (best < 0 || hits(k) > bestHits ||
          (hits(k) == bestHits &&
            dict.langCodes(k).compareTo(dict.langCodes(best)) > 0))) {
        best = k
        bestHits = hits(k)
      }
      k += 1
    }
    if (best < 0) dict.und else dict.langCodes(best)
  }
}
