package graft.perfbench

import java.nio.file.Path

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.registry.{InMemorySchemaRegistry, SubjectType}

/** ns/row of graft's codegen expressions on fixed in-memory columns,
  * beside a builtin formulation of the same column.
  *
  * The builtin side is the library's retained builtin or higher-order
  * reference where one exists (norm_text, tokens, quality_score, lang_id,
  * winnow_fingerprint_set, shingles, html_main_text). Where the library
  * keeps none, it is the scan-and-project floor of the same input:
  * `length` of a string or binary column, `hash` of a struct. */
object Kernels {
  private val TargetRows = 65536L
  private val Tiers = Seq(2, 16, 128, 1024, 8192)
  private val TierSeconds = 0.2
  private val Reps = 3

  private val Merges: Seq[(String, String)] = Seq(
    "t" -> "a", "ta" -> "b", "tab" -> "l", "e" -> "r", "a" -> "l", "v" -> "al",
    "q" -> "u", "qu" -> "e", "s" -> "t", "st" -> "r", "w" -> "i", "wi" -> "n",
    "o" -> "r", "d" -> "e", "c" -> "o", "co" -> "l", "i" -> "n", "a" -> "t")
  private val Letters = ('a' to 'z').map(_.toString)
  private val InitPieces = Letters ++ Seq("ta", "tab", "table", "val", "value", "qu",
    "query", "str", "stream", "win", "window", "col", "column", "da", "data", "sc", "scan")
  private val ContPieces = Letters ++ Seq("le", "ue", "ry", "am", "ow", "umn", "ta", "an", "er")

  def run(spark: SparkSession, input: Path): Map[String, Any] = {
    val docs = spark.read.parquet(input.resolve("documents.parquet").toString)
    val copies = math.max(1L, (TargetRows + docs.count() - 1) / docs.count())
    val cores = spark.sparkContext.defaultParallelism
    val texts = docs
      .select(col("doc_id"), col("text"), col("source"),
        explode(sequence(lit(0L), lit(copies - 1))).as("r"))
      .select((col("doc_id") * copies + col("r")).as("id"), col("text"),
        graft.queries.LlmOps.htmlAug(col("doc_id") * copies + col("r"), col("text"),
          col("source")).as("html"),
        concat(col("text"), when(col("r") % 3 === 0,
          lit(" mail ann.lee@example.org or 555-867-5309 from 10.0.0.1"))
          .otherwise(lit(""))).as("pii"))
      .repartition(cores).cache()
    val words = texts.select(explode(split(col("text"), " ")).as("word"))
      .limit(TargetRows.toInt).repartition(cores).cache()
    val orders = spark.read.parquet(input.resolve("orders.parquet").toString)
      .repartition(cores).cache()
    val row = struct(orders.columns.map(col).toIndexedSeq: _*)
    val client = new InMemorySchemaRegistry("perfbench")
    val payload = orders.select(graft.confluent.to_confluent_avro(row, "orders",
      SubjectType.value, client).as("payload")).cache()
    try {
      Seq(texts, words, orders, payload).foreach(_.count())
      val t = col("text")
      val T = graft.text.`package`
      val cases: Seq[(String, DataFrame, Column, Column)] = Seq(
        ("html_main_text", texts, graft.text.Html.extractMainText(col("html")),
          graft.text.Html.extractMainTextBuiltin(col("html"))),
        ("norm_text", texts, T.norm_text(t), T.norm_text_builtin(t)),
        ("tokens", texts, T.tokens(t), T.tokens_builtin(t)),
        ("nfc_normalize", texts, graft.functions.nfc_normalize(t), length(t)),
        ("pii_scrub", texts, T.pii_scrub(col("pii")), length(col("pii"))),
        ("quality_score", texts, T.quality_score(t),
          T.quality_score_from_builtin(T.norm_text_builtin(t), T.tokens_builtin(t))),
        ("lang_id", texts, T.lang_id(t), T.lang_id_from_builtin(t, T.tokens_builtin(t))),
        ("winnow_fingerprint_set", texts, T.winnow_fingerprint_set(t, 3, 4),
          T.winnow_fingerprint_set_hof(t, 3, 4)),
        ("shingles", texts, T.shingles(t, 3), T.shingles_from_hof(T.tokens_builtin(t), 3)),
        ("simhash64", texts, T.simhash64(t), length(t)),
        ("bpe_encode", words, graft.functions.bpe_encode(col("word"), Merges),
          length(col("word"))),
        ("wordpiece_encode", words,
          graft.functions.wordpiece_encode(col("word"), InitPieces, ContPieces),
          length(col("word"))),
        ("to_confluent_avro", orders, graft.confluent.to_confluent_avro(row, "orders",
          SubjectType.value, client), hash(row)),
        ("from_confluent_avro", payload, graft.confluent.from_confluent_avro(
          col("payload"), "orders", SubjectType.value, client), length(col("payload"))))
      val tiered = cases.map(_._2).distinct.map(df => df -> new Tiered(df)).toMap
      try cases.flatMap { case (name, df, kernel, builtin) =>
        Seq(s"expressions.$name.ns_per_row" -> tiered(df).nsPerRow(kernel),
          s"expressions.$name.builtin_ns_per_row" -> tiered(df).nsPerRow(builtin))
      }.toMap
      finally tiered.values.foreach(_.release())
    } finally Seq(payload, orders, words, texts).foreach(_.unpersist(blocking = true))
  }

  private def once(df: DataFrame, c: Column): Long = {
    val t0 = System.nanoTime()
    df.select(c.as("k")).write.format("noop").mode("overwrite").save()
    System.nanoTime() - t0
  }

  private def median(df: DataFrame, c: Column): Double =
    Seq.fill(Reps)(once(df, c)).sorted.apply(Reps / 2).toDouble

  /** One input column cut to growing row counts (`Tiers`, then all of it),
    * with the cost of reading each cut measured once. */
  private final class Tiered(df: DataFrame) {
    private val inputs = Tiers.map(n => df.limit(n).cache()) :+ df
    private val rows = inputs.map(_.count())
    private val floors = inputs.map(median(_, lit(0)))

    /** ns/row of a column beyond the cost of reading the input: the time
      * of a noop write of the column less that of a constant column, the
      * median of `Reps` runs, over the rows. After one untimed run, it uses
      * the largest cut on which one run of the column is predicted, from
      * the cut below, to stay within `TierSeconds`; the higher-order references cost orders
      * of magnitude more per row than the codegen kernels, so they stop at
      * small cuts. Not below 0: a column no dearer than a constant. */
    def nsPerRow(c: Column): Double = {
      def perRow(i: Int, t: Double) = (t - floors(i)).max(0.0) / rows(i)
      once(inputs.head, c)
      var top = 0
      var t = once(inputs.head, c).toDouble
      while (top + 1 < inputs.size &&
          floors(top + 1) + perRow(top, t) * rows(top + 1) <= TierSeconds * 1e9) {
        top += 1
        t = once(inputs(top), c).toDouble
      }
      perRow(top, median(inputs(top), c))
    }

    def release(): Unit = inputs.init.foreach(_.unpersist(blocking = true))
  }
}
