package graft

import graft.ops.BpeOps
import org.apache.spark.sql.functions._

/** Distributed BPE (q105 + trainer): pair-count weighting, greedy merge
  * semantics (non-overlapping, no same-pass re-merge), and trainer
  * equivalence against a sequential reference implementation with the
  * same (count desc, left asc, right asc) tie-break.
  */
class BpeSpec extends SparkSpec {

  import spark.implicits._

  private def corpus(rows: (Long, String)*) =
    rows.map { case (id, t) => (id, t, "en", "web") }
      .toDF("doc_id", "text", "lang", "source")

  test("pair counts weight by word frequency and rank deterministically") {
    val df = corpus(1L -> "aa ab aa", 2L -> "ab ba")
    // freq: aa=2, ab=2, ba=1 → pairs: (a,a)=2, (a,b)=2, (b,a)=1
    val got = BpeOps.bpePairsOn(df).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSeq
    assert(got === Seq((1, "a a", 2L), (2, "a b", 2L), (3, "b a", 1L)))
  }

  test("greedy merge is left-to-right, non-overlapping, and a merged " +
      "token does not re-merge in the same pass") {
    val df = Seq("aaaa", "aaa", "aab", "ba").toDF("t")
    val got = df.select(
      BpeOps.bpeApply(col("t"), Seq("a" -> "a")).as("syms"))
      .as[Seq[String]].collect().toSeq
    assert(got === Seq(
      Seq("aa", "aa"), Seq("aa", "a"), Seq("aa", "b"), Seq("b", "a")))
  }

  test("empty text tokenizes to an empty symbol array, not phantom " +
      "empty strings") {
    // sequence(1, 0) DESCENDS in Spark — the unguarded chars() would
    // emit ["", ""] for empty text
    val got = Seq("", "ab").toDF("t")
      .select(BpeOps.bpeApply(col("t"), Seq("a" -> "b")).as("syms"))
      .collect().map(_.getSeq[String](0)).toSeq
    assert(got === Seq(Seq(), Seq("ab")))
  }

  test("chained rules apply in order") {
    val df = Seq("aab", "aabaab").toDF("t")
    val got = df.select(BpeOps.bpeApply(col("t"),
      Seq("a" -> "a", "aa" -> "b")).as("syms"))
      .as[Seq[String]].collect().toSeq
    assert(got === Seq(Seq("aab"), Seq("aab", "aab")))
  }

  test("trainer matches a sequential reference on a randomized corpus") {
    val rnd = new scala.util.Random(42L)
    val vocab = Vector("table", "tablet", "batch", "hash", "shash", "ta")
    val texts = (0L until 40L).map { id =>
      id -> Seq.fill(3 + rnd.nextInt(8))(vocab(rnd.nextInt(vocab.size)))
        .mkString(" ")
    }
    val words = texts.flatMap(_._2.split(" ")).groupBy(identity)
      .map { case (w, ws) => w -> ws.size.toLong }
    val expected = refTrain(words, 8)
    val got = BpeOps.bpeTrainOn(corpus(texts: _*), 8).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2),
        r.getString(3), r.getLong(4))).toSeq
    assert(got === expected)
  }

  test("bpeTrainOn(corpus, 8) leaves the registered-RDD set as it found " +
      "it: every superseded vocab pin, and the last, is released") {
    val docs = corpus((0L until 20L).map(i => i -> s"tablet batch hash t$i"): _*)
    val before = registeredRdds
    assert(BpeOps.bpeTrainOn(docs, 8).collect().length === 8)
    val left = registeredRdds -- before
    assert(left.isEmpty, s"bpeTrainOn left RDDs registered: $left")
  }

  test("trainer stops early when no pair remains") {
    val got = BpeOps.bpeTrainOn(corpus(1L -> "ab ab"), 10).collect()
    // "ab" merges once to a single symbol; nothing pairable remains
    assert(got.length === 1)
    assert((got(0).getString(1), got(0).getString(2)) === (("a", "b")))
  }

  /** Sequential BPE with the production tie-break. */
  private def refTrain(words: Map[String, Long],
      merges: Int): Seq[(Int, String, String, String, Long)] = {
    var vocab = words.toSeq.map { case (w, f) =>
      (w.map(_.toString).toList, f)
    }
    val out = Seq.newBuilder[(Int, String, String, String, Long)]
    var step = 0
    var done = false
    while (step < merges && !done) {
      val counts = scala.collection.mutable.Map[(String, String), Long]()
      for ((syms, f) <- vocab; Seq(l, r) <- syms.sliding(2)
           if syms.length >= 2)
        counts((l, r)) = counts.getOrElse((l, r), 0L) + f
      if (counts.isEmpty) done = true
      else {
        val ((l, r), c) = counts.toSeq.minBy { case ((l, r), c) =>
          (-c, l, r)
        }
        out += ((step + 1, l, r, l + r, c))
        vocab = vocab.map { case (syms, f) => (greedy(syms, l, r), f) }
        step += 1
      }
    }
    out.result()
  }

  private def greedy(syms: List[String], l: String,
      r: String): List[String] =
    syms.foldLeft(List.empty[String]) {
      case (acc :+ last, x) if last == l && x == r => acc :+ (l + r)
      case (acc, x) => acc :+ x
    }
}
