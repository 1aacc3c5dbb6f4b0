package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Byte-pair-encoding tokenizer learning — the subword vocabulary step
  * of a real LLM training pipeline (Sennrich et al. 2016, "Neural
  * Machine Translation of Rare Words with Subword Units"): starting
  * from words split into characters, repeatedly (a) count adjacent
  * symbol pairs weighted by word frequency, (b) take the most frequent
  * pair (ties: lexicographic on the pair), (c) merge that pair greedily
  * left-to-right in every word, K times. The learned merge list IS the
  * tokenizer; applying it to a word reproduces its final symbol
  * sequence.
  *
  * Scale shape: learning never touches the corpus after the one
  * word-frequency aggregation — every round runs over the VOCABULARY
  * (distinct words × frequency, dimension-sized relative to a 100 TB
  * corpus; vocabulary grows ~Heaps-law sublinearly). Per round: one
  * map-side-combined pair count over the vocab, a 1-row argmax collect
  * (driver-sized by contract, the centroid-collect pattern), and a
  * map-only merge fold. Encoding documents afterward is the codegen'd
  * [[org.apache.spark.sql.graft.BpeTokens]] expression with the merge
  * list as a broadcast reference object — a pure map pass.
  *
  * Determinism (what makes the gates SQL-oracle-able): pair counts are
  * exact integer sums; the argmax tie-break (freq DESC, left ASC, right
  * ASC) is total; the merge fold is order-deterministic (greedy
  * leftmost, non-overlapping — "a a a" + merge(a,a) → [aa, a]). DuckDB
  * replays all K rounds bit-for-bit (t_bpe_learn / t_pack_bpe).
  *
  * Symbols are Unicode code points (a surrogate pair is one symbol),
  * matching DuckDB's per-character string indexing. No end-of-word
  * marker: merges never cross word boundaries by construction, and the
  * learned unit is the word-internal subword — the variant choice is
  * documented rather than load-bearing (any marker convention would be
  * applied identically on both engine and oracle sides). */
object Bpe {

  /** Word → its character symbols (split("") is code-point aware; the
    * trailing empty string Java's split can emit is filtered). */
  def charSyms(word: Column): Column =
    filter(split(word, ""), s => s =!= "")

  /** Word → its UTF-8 BYTE symbols, each rendered as an uppercase
    * 2-hex-digit string ("café" → [63, 61, 66, C3, A9]) — the
    * byte-level BPE base alphabet (GPT-2 lineage: UTF-8 bytes as base
    * symbols mean EVERY string is segmentable, so the tokenizer has no
    * `[UNK]`). Hex strings rather than raw bytes because (a) merged
    * symbols stay plain string concatenation ("C3A9"), (b) the pair
    * argmax tie-break stays VARCHAR ordering both engines share, and
    * (c) the DuckDB oracle reproduces the split exactly:
    * `substring(hex(encode(word)), 2i-1, 2)`. Spark's `hex` is
    * uppercase like DuckDB's. */
  def byteSyms(word: Column): Column = {
    val h = hex(encode(word, "UTF-8"))
    // guard the empty word: Spark's sequence(1, 0) yields [1, 0] (a
    // DESCENDING ramp), which would mint two phantom ""-symbols here,
    // diverging from DuckDB's range(1, 1) = [] and from
    // BpeTokens.byteSymsOf (empty array)
    when(octet_length(word) === 0, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(1), octet_length(word)),
        i => h.substr(i * 2 - 1, lit(2))))
  }

  /** One greedy left-to-right merge pass of (l, r) → l+r over a symbol
    * array — the interpreted higher-order-function formulation (an
    * `aggregate` fold: merge when the accumulator's last symbol is `l`
    * and the current is `r`, else append). Kept as the value-equality
    * reference for the codegen'd [[org.apache.spark.sql.graft
    * .BpeTokens]] expression in specs, and used by [[learnMerges]]
    * itself (vocabulary-sized input — the fold's O(len²) array copies
    * are bounded by word length). */
  def applyMerge(syms: Column, l: String, r: String): Column =
    aggregate(syms, array().cast("array<string>"),
      (acc, s) => when(get(acc, size(acc) - 1) === lit(l) && (s === lit(r)),
          concat(slice(acc, lit(1), size(acc) - 1), array(concat(lit(l), s))))
        .otherwise(concat(acc, array(s))))

  /** Learn `k` merges from a (word, freq) table. Returns the ordered
    * merge list (left, right, pairFreq) — shorter than `k` iff the
    * vocabulary runs out of adjacent pairs first.
    *
    * Each round's vocabulary goes through [[graft.util.Lineage.cut]]
    * (persisted RDD + constant-depth logical plan) BEFORE the argmax
    * materializes it, and the previous round releases as soon as its
    * successor lands. Plain `persist` is NOT enough here: carrying the
    * fold lineage grew per-round ANALYSIS cost ~2× per round (measured:
    * round 14 took 2.8 s, round 19 took 102 s then OOM'd an 8 GB
    * driver on a vocabulary of ~10k words) — the classic iterative-
    * Catalyst failure the CC loops already guard against. */
  def learnMerges(wordFreq: DataFrame, k: Int,
      wordCol: String = "word", freqCol: String = "freq",
      symsOf: Column => Column = charSyms): Seq[(String, String, Long)] = {
    require(k >= 1, s"k must be >= 1: $k")
    var vocab = graft.util.Lineage.cut(
      wordFreq.select(symsOf(col(wordCol)).as("syms"),
        col(freqCol).cast("long").as("freq")))
    // round r-1's release is deferred until round r's argmax has
    // materialized round r's cut RDD (the argmax IS the materializing
    // job — one Spark job per round, no extra count pass; releasing
    // r-1 earlier would force r's first evaluation to recompute the
    // whole chain from the source)
    var prev: Option[DataFrame] = None
    val merges = scala.collection.mutable.ArrayBuffer[(String, String, Long)]()
    try {
      var round = 0
      var dry = false
      while (round < k && !dry) {
        val best = vocab
          .filter(size(col("syms")) >= 2)
          .select(col("freq"), explode(
            transform(sequence(lit(1), size(col("syms")) - 1),
              i => struct(element_at(col("syms"), i).as("l"),
                element_at(col("syms"), i + lit(1)).as("r")))).as("p"))
          .groupBy(col("p.l").as("l"), col("p.r").as("r"))
          .agg(sum(col("freq")).as("pf"))
          .orderBy(desc("pf"), asc("l"), asc("r"))
          .limit(1).collect()
        prev.foreach(graft.util.Lineage.release(_))
        prev = Some(vocab)
        if (best.isEmpty) dry = true
        else {
          val (l, r, pf) = (best(0).getString(0), best(0).getString(1), best(0).getLong(2))
          merges += ((l, r, pf))
          vocab = graft.util.Lineage.cut(
            vocab.select(applyMerge(col("syms"), l, r).as("syms"), col("freq")))
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
