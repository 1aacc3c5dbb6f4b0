package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** WordPiece tokenizer learning — the third production subword family
  * beside BPE ([[Bpe]]) and the unigram LM (Schuster & Nakajima 2012,
  * "Japanese and Korean voice search"; the BERT tokenizer): the merge
  * LOOP is byte-pair encoding's, but the pair to merge each round is
  * the one maximizing the training-corpus LIKELIHOOD gain, which for a
  * unigram language model reduces to the pair score
  *
  *   score(l, r) = freq(l r) / (freq(l) · freq(r))
  *
  * — the most-frequent pair RELATIVE to what independence predicts,
  * rather than BPE's raw pair frequency. Encoding afterwards is NOT
  * merge application but greedy longest-match-first with `##`
  * continuation pieces and a whole-word `[UNK]` fallback
  * ([[org.apache.spark.sql.graft.WordPieceTokens]]).
  *
  * Determinism (what makes the gates SQL-oracle-able): scores are
  * exact Q40 fixed-point integer quotients — (pf · 2⁴⁰) div (fl · fr)
  * computed in DECIMAL(38,0) so no corpus size can overflow — and
  * division truncates toward zero in both engines (all operands
  * positive, so trunc = floor = DuckDB's `//` over HUGEINT). The
  * argmax tie-break (score DESC, left ASC, right ASC — binary/UTF-8
  * collation in both engines) is total, and the merge fold is
  * [[Bpe.applyMerge]]'s greedy leftmost pass unchanged.
  *
  * Scale shape: identical to BPE learning — after the one corpus
  * word-frequency aggregation every round runs over the VOCABULARY
  * (distinct words × freq): one symbol-frequency aggregation, one
  * map-side-combined pair count, two dimension-sized broadcast joins
  * (the symbol table is alphabet+rounds-sized), a 1-row argmax
  * collect, and a map-only merge fold. Lineage is cut per round
  * ([[graft.util.Lineage.cut]]) — the iterative-Catalyst guard the
  * BPE learner needs applies verbatim here. */
object WordPiece {

  /** Q40 scale of the integer likelihood score. */
  val ScoreScale = 1099511627776L // 1L << 40

  /** Learn `k` likelihood-scored merges from a (word, freq) table.
    * Returns the ordered merge list (left, right, pairFreq, scoreQ40)
    * — shorter than `k` iff the vocabulary runs out of adjacent pairs
    * first. */
  def learnMerges(wordFreq: DataFrame, k: Int,
      wordCol: String = "word",
      freqCol: String = "freq"): Seq[(String, String, Long, Long)] = {
    require(k >= 1, s"k must be >= 1: $k")
    var vocab = graft.util.Lineage.cut(
      wordFreq.select(Bpe.charSyms(col(wordCol)).as("syms"),
        col(freqCol).cast("long").as("freq")))
    // round r-1 releases only after round r's argmax materialized
    // round r's cut RDD (the Bpe.learnMerges discipline)
    var prev: Option[DataFrame] = None
    val merges = scala.collection.mutable.ArrayBuffer[(String, String, Long, Long)]()
    try {
      var round = 0
      var dry = false
      while (round < k && !dry) {
        // current symbol unigram frequencies — alphabet+merges-sized,
        // broadcast onto the pair table (never the other way round)
        val symFreq = vocab
          .select(col("freq"), explode(col("syms")).as("sym"))
          .groupBy(col("sym")).agg(sum(col("freq")).as("f"))
        val best = vocab
          .filter(size(col("syms")) >= 2)
          .select(col("freq"), explode(
            transform(sequence(lit(1), size(col("syms")) - 1),
              i => struct(element_at(col("syms"), i).as("l"),
                element_at(col("syms"), i + lit(1)).as("r")))).as("p"))
          .groupBy(col("p.l").as("l"), col("p.r").as("r"))
          .agg(sum(col("freq")).as("pf"))
          .join(broadcast(symFreq.select(col("sym").as("l"), col("f").as("fl"))), "l")
          .join(broadcast(symFreq.select(col("sym").as("r"), col("f").as("fr"))), "r")
          // exact Q40 quotient in DECIMAL(38,0): truncating integral
          // division, overflow-free at any corpus size
          .select(col("l"), col("r"), col("pf"),
            expr(s"CAST((CAST(pf AS DECIMAL(38,0)) * $ScoreScale) " +
              "div (CAST(fl AS DECIMAL(38,0)) * CAST(fr AS DECIMAL(38,0))) AS BIGINT)")
              .as("score"))
          .orderBy(desc("score"), asc("l"), asc("r"))
          .limit(1).collect()
        prev.foreach(graft.util.Lineage.release(_))
        prev = Some(vocab)
        if (best.isEmpty) dry = true
        else {
          val (l, r) = (best(0).getString(0), best(0).getString(1))
          merges += ((l, r, best(0).getLong(2), best(0).getLong(3)))
          vocab = graft.util.Lineage.cut(
            vocab.select(Bpe.applyMerge(col("syms"), l, r).as("syms"), col("freq")))
          round += 1
        }
      }
      merges.toSeq
    } finally {
      // on the dry-exit path prev IS vocab; release is idempotent
      prev.foreach(graft.util.Lineage.release(_))
      graft.util.Lineage.release(vocab)
    }
  }
}
