package graft.ops

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed byte-pair-encoding primitives — the tokenizer-training leg
  * of a training-data pipeline. BPE training is iterative (find the most
  * frequent adjacent symbol pair, merge it, repeat), which no single SQL
  * query expresses; the scale insight is that after ONE corpus pass to
  * build the word-frequency table, every iteration runs over the *vocab*
  * table (distinct words), which is orders of magnitude smaller than the
  * corpus and independent of corpus growth. 100 TB of text with a 10M-word
  * vocabulary trains at 10M-row iteration cost.
  *
  * The per-iteration merge rewrite is a builtin `aggregate` fold (greedy
  * left-to-right pair substitution) — no UDF, stays in codegen; the only
  * driver-side value per iteration is the single winning (pair, count) row.
  */
object BpeOps {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.t(s, dir, "documents")

  /** One corpus pass: (word, freq) over whitespace tokens. */
  def wordFreqOn(docsDf: DataFrame): DataFrame =
    docsDf
      .select(explode(split(trim(col("text")), " ")).as("word"))
      .where(length(col("word")) > 0)
      .groupBy("word")
      .agg(count(lit(1)).as("freq"))

  /** q105: the first BPE merge step as a query — frequency of every
    * adjacent character pair, weighted by word frequency; top 20. The
    * pair table is bounded by |alphabet|², so the final rank window's
    * single partition holds a few hundred rows at any corpus size.
    */
  def bpePairsOn(docsDf: DataFrame, topK: Int = 20): DataFrame = {
    val counts = wordFreqOn(docsDf)
      .where(length(col("word")) >= 2)
      .select(col("freq"), explode(expr(
        "transform(sequence(1, length(word) - 1)," +
          " i -> concat(substr(word, i, 1), ' ', substr(word, i + 1, 1)))"))
        .as("pair"))
      .groupBy("pair")
      .agg(sum(col("freq")).as("pair_count"))
    counts
      .withColumn("rank", row_number()
        .over(Window.orderBy(col("pair_count").desc, col("pair").asc)))
      .where(col("rank") <= topK)
      .select(col("rank"), col("pair"), col("pair_count"))
      .orderBy("rank")
  }

  def bpePairs(s: SparkSession, dir: String): DataFrame =
    bpePairsOn(docs(s, dir))

  /** Single-character symbol array of `c`. (Not `split(c, "")`: Spark's
    * split uses Java's limit=-1 semantics, which keeps a trailing empty
    * string that would pollute the symbol alphabet. And the empty string
    * must short-circuit: sequence(1, 0) DESCENDS — Spark defaults the
    * step to -1 when start > stop — so the bare transform would emit two
    * phantom "" symbols for empty text.) */
  private def chars(c: Column): Column =
    when(length(c) === 0, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(1), length(c)), i => c.substr(i, lit(1))))

  /** Greedy left-to-right merge of adjacent (l, r) symbol pairs into l+r —
    * the standard BPE substitution, as a pure builtin fold: scan the
    * symbol array once, gluing `r` onto a trailing `l`; a just-merged
    * token never re-merges in the same pass (its spelling is l+r, not l).
    */
  private def mergePair(syms: Column, l: String, r: String): Column =
    when(size(syms) < 2, syms).otherwise(aggregate(
      slice(syms, lit(2), size(syms) - 1),
      slice(syms, lit(1), lit(1)),
      (acc, x) => when(element_at(acc, -1) === lit(l) && x === lit(r),
        concat(slice(acc, lit(1), size(acc) - 1), array(lit(l + r))))
        .otherwise(concat(acc, array(x)))))

  /** Train `merges` BPE rules over the corpus. Returns the learned rules
    * in application order: (step, left, right, merged, pair_count).
    *
    * Cost model: one corpus pass (word freq), then per rule one vocab-table
    * aggregation plus a one-row collect — the corpus is never touched
    * again. Each iteration pins the vocab ([[Tables.pin]]) so plan depth
    * stays constant across rules, and releases the vocab it supersedes;
    * the call leaves no pin behind.
    */
  def bpeTrainOn(docsDf: DataFrame, merges: Int): DataFrame = {
    val spark = docsDf.sparkSession
    var vocab = Tables.pin(wordFreqOn(docsDf)
      .select(chars(col("word")).as("syms"), col("freq")))
    val learned = Seq.newBuilder[(Int, String, String, String, Long)]
    var step = 0
    var exhausted = false
    while (step < merges && !exhausted) {
      // adjacent pairs via transform over the symbol array (no window):
      val top1 = vocab
        .where(size(col("syms")) >= 2)
        .select(col("freq"), explode(expr(
          "transform(sequence(1, size(syms) - 1)," +
            " i -> struct(element_at(syms, i) AS l," +
            " element_at(syms, i + 1) AS r))")).as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum(col("freq")).as("cnt"))
        .orderBy(col("cnt").desc, col("l").asc, col("r").asc)
        .limit(1)
      val pairCounts = Tables.boundedCollect(top1, 1, "bpe top pair")
      if (pairCounts.isEmpty) exhausted = true
      else {
        val row = pairCounts(0)
        val (l, r, cnt) =
          (row.getString(0), row.getString(1), row.getLong(2))
        learned += ((step + 1, l, r, l + r, cnt))
        val next = Tables.pin(vocab
          .select(mergePair(col("syms"), l, r).as("syms"), col("freq")))
        Tables.unpin(vocab)
        vocab = next
        step += 1
      }
    }
    Tables.unpin(vocab)
    import spark.implicits._
    learned.result()
      .toDF("step", "left", "right", "merged", "pair_count")
  }

  /** Apply learned rules (in order) to tokenize `textCol`: returns the
    * symbol array after all merges. Rule count becomes expression-tree
    * depth — fine for the few-hundred-rule range; export to a real
    * tokenizer runtime beyond that. */
  def bpeApply(textCol: Column, rules: Seq[(String, String)]): Column =
    rules.foldLeft(chars(textCol)) {
      case (syms, (l, r)) => mergePair(syms, l, r)
    }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q105_bpe_pairs" -> bpePairs)

  val oracle: Map[String, String] = Map(
    "q105_bpe_pairs" ->
      """WITH w AS (SELECT unnest(string_split(trim(text), ' ')) AS word
        |  FROM documents),
        |f AS (SELECT word, count(*) AS freq FROM w
        |  WHERE len(word) > 0 GROUP BY 1),
        |p AS (SELECT substr(word, CAST(i AS INT), 1) || ' ' ||
        |    substr(word, CAST(i AS INT) + 1, 1) AS pair, freq
        |  FROM (SELECT word, freq, unnest(range(1, len(word))) AS i
        |    FROM f WHERE len(word) >= 2)),
        |a AS (SELECT pair, CAST(sum(freq) AS BIGINT) AS pair_count
        |  FROM p GROUP BY 1),
        |r AS (SELECT *, row_number() OVER (
        |    ORDER BY pair_count DESC, pair ASC) AS rank FROM a)
        |SELECT CAST(rank AS INT) AS rank, pair, pair_count
        |FROM r WHERE rank <= 20 ORDER BY rank""".stripMargin)
}
