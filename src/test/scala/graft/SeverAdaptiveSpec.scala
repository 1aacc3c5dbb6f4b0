package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.dedup.Dedup
import graft.util.Lineage.Mode

/** The size-adaptive severed shingle index (round-20 optimization)
  * must be a pure materialization choice: forcing the severed (big-
  * corpus) path and the recompute (small-corpus) path must produce the
  * identical pair set — including the per-doc set sizes, on inputs
  * whose doc ids repeat. */
class SeverAdaptiveSpec extends AnyFunSuite {
  import SharedSpark._

  private val docs = Tables.documents(spark, "/root/testdata/sf0.001")

  private def pairs(in: DataFrame, mode: Mode): Seq[(Long, Long, Double)] =
    try {
      Dedup.ngramJaccardPairs(in, 3, 0.5, "doc_id", "text", 10000L, mode)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .toSeq.sorted
    } finally graft.util.IntermediateCaches.releaseAll(blocking = true)

  test("severed index path == recompute path (jaccard pairs + values)") {
    val severed = pairs(docs, Mode.Local)
    val recomputed = pairs(docs, Mode.Lazy)
    assert(severed.nonEmpty, "fixture corpus must contain near-dup pairs")
    assert(severed == recomputed)
  }

  test("severed and recompute paths agree when doc ids repeat") {
    // every 7th document appears twice under its id: once as is, once
    // with the text of its successor — a repeated id that carries
    // different shingles on each row
    val next = docs.select((col("doc_id") - 1).as("doc_id"),
      col("text").as("next_text"))
    val dupes = docs.filter(col("doc_id") % 7 === 0)
      .join(next, Seq("doc_id"))
      .select(docs.columns.map(c =>
        if (c == "text") col("next_text").as("text") else col(c)): _*)
    val withDupes = docs.unionByName(dupes)
    assert(withDupes.select("doc_id").distinct().count() < withDupes.count())
    val severed = pairs(withDupes, Mode.Local)
    val recomputed = pairs(withDupes, Mode.Lazy)
    assert(severed.nonEmpty)
    assert(severed == recomputed)
    // one row per pair, whichever path
    assert(severed.map(p => (p._1, p._2)).distinct.size == severed.size)
  }

  test("winnowRecall row identical under both sever modes") {
    def run(mode: Mode) =
      try graft.queries.LlmOps.winnowRecallWith(docs, mode)
        .collect().map(_.toString).toSeq
      finally graft.util.IntermediateCaches.releaseAll(blocking = true)
    assert(run(Mode.Local) == run(Mode.Lazy))
  }
}
