package graft.textops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed BPE merge-table training — learn a tokenizer vocabulary
  * FROM the corpus the engine is preparing, instead of shipping one in
  * (the [[graft.functions.BpeVocab.fromFile]] path) or relying on the
  * embedded fixture.
  *
  * The Sennrich 2016 algorithm's sufficient statistic is the
  * word-frequency table, which is VOCABULARY-sized no matter how large
  * the corpus: the distributed part is therefore exactly one
  * combinable count aggregate over the corpus tokens plus a
  * TakeOrdered head, and the iterative merge loop runs on the driver
  * over that table — the same sample-bounded-fit discipline as the
  * IVF/PQ codebook fits (`Sampling.cappedPct`), except here the bound
  * is not even a sample: the head of the word-frequency table carries
  * almost the entire pair mass (Zipf), and public tokenizer trainers
  * (subword-nmt, HuggingFace tokenizers) train from precisely this
  * in-memory table.
  *
  * The loop itself is [[graft.functions.BpeVocab.trainFromCounts]] —
  * the SAME code the embedded fixture trains through — so a spec can
  * pin distributed-equals-local merges on identical counts, and the
  * learned table plugs into every `_bpe` operator via the existing
  * `counter` parameter.
  */
object BpeTrainer {

  /** Learn `numMerges` merges from `df`'s `textCol`. No row trains
    * (merge learning is an iterative argmax with no SQL replay, so the
    * `_bpe` rows meter with the embedded fixture table); BpeSpec's
    * three "distributed trainer" tests pin distributed ≡ local merges.
    *
    * @param maxVocab cap on the word-frequency table collected to the
    *                 driver (top-`maxVocab` words by frequency, ties on
    *                 the word string) — vocabulary-sized, NOT
    *                 corpus-sized; 100k words × avg word length ≈ a few
    *                 MB on the driver at any corpus scale
    */
  def train(df: DataFrame, textCol: String, numMerges: Int,
            maxVocab: Int = 100000): Seq[(String, String)] = {
    require(numMerges >= 1, s"numMerges must be >= 1, got $numMerges")
    require(maxVocab >= 1, s"maxVocab must be >= 1, got $maxVocab")
    // ONE combinable aggregate (map-side partials absorb the Zipf
    // head) + a distributed TakeOrdered top-k — never a full collect
    val wf = graft.util.Par.spread(df)
      .select(explode(TextOps.tokens(lower(col(textCol)))).as("_w"))
      .groupBy(col("_w")).agg(count(lit(1)).as("_f"))
      .orderBy(col("_f").desc, col("_w").asc)
      .limit(maxVocab)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    graft.functions.BpeVocab.trainFromCounts(wf, numMerges)
  }
}
