package graft

import graft.ops.SimilarityOps
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** The recall curve every ANN eval face computes through
  * `SimilarityOps.recallSweep`: on a one-vector corpus each face answers
  * the empty-neighbourhood regime honestly (one row per grid value, the
  * lone probe counted with 0 recall, the scan fraction NULL — no other
  * vectors, undefined rather than 0 — and the read fraction still
  * grid/total), and a source lint keeps the sweep the only place a recall
  * curve is computed.
  */
class RecallSweepSpec extends SparkSpec {

  import spark.implicits._

  private lazy val one: DataFrame = {
    val r = new scala.util.Random(3)
    Seq((0L, Array.fill(SimilarityOps.Dim)(r.nextGaussian().toFloat), 0))
      .toDF("vec_id", "embedding", "label")
  }

  private lazy val oneValid: DataFrame = one.select(col("vec_id"),
    col("label"), col("embedding").cast("array<double>").as("embedding"))

  private def centroid: Array[Double] =
    oneValid.head().getSeq[Double](2).toArray

  /** Rows of `curve` after checking its columns, its grid column and the
    * empty-neighbourhood answer shared by every face. */
  private def emptyCurve(curve: DataFrame, cols: Seq[String],
      grid: Seq[Int]): Seq[Row] = {
    assert(curve.columns.toSeq === cols)
    val rows = curve.collect().toSeq
    assert(rows.map(_.getInt(0)) === grid)
    rows.foreach { r =>
      assert(r.getLong(1) === 1L, s"the lone probe is counted: $r")
      assert(r.getDouble(2) === 0.0, s"no neighbour, no recall: $r")
    }
    rows
  }

  private val census =
    Seq("n_queries", "mean_recall_at_k", "mean_frac_scanned")

  private def assertNullScan(rows: Seq[Row]): Unit =
    rows.foreach(r => assert(r.isNullAt(3),
      s"mean_frac_scanned on a one-vector corpus is NULL, not 0: $r"))

  test("IVF recall faces on a one-vector corpus: one row per nProbe, " +
      "recall 0, scan fraction NULL") {
    val grid = 1 to SimilarityOps.RecallMaxProbe
    assertNullScan(emptyCurve(SimilarityOps.annIvfRecallOn(one),
      "n_probe" +: census, grid))
    assertNullScan(emptyCurve(
      SimilarityOps.annIvfRecallWithCells(oneValid, Array(centroid)),
      "n_probe" +: census, grid))
    assertNullScan(emptyCurve(
      SimilarityOps.annIvfPqRecallWith(oneValid, Array(centroid),
        Array(Array.fill(SimilarityOps.Dim)(0.0))),
      "n_probe" +: census, grid))
  }

  test("LSH recall face on a one-vector corpus: one row per radius, " +
      "recall 0, scan fraction NULL") {
    assertNullScan(emptyCurve(SimilarityOps.annLshRecallOn(one),
      "radius" +: census, 0 to SimilarityOps.RecallMaxRadius))
  }

  test("RP and PQ recall faces on a one-vector corpus: one row per " +
      "prefix, recall 0, read fraction grid/total") {
    val rp = emptyCurve(SimilarityOps.annRpRecallOn(one),
      Seq("d_used", "n_queries", "mean_recall_at_k", "frac_proj_read"),
      SimilarityOps.RecallDimGrid)
    rp.foreach(r => assert(r.getDouble(3) === r.getInt(0) / 16.0, s"$r"))
    val pq = emptyCurve(SimilarityOps.annPqRecallOn(one),
      Seq("m_used", "n_queries", "mean_recall_at_k", "frac_code_read"),
      SimilarityOps.RecallSubGrid)
    pq.foreach(r => assert(r.getDouble(3) === r.getInt(0) / 8.0, s"$r"))
  }

  test("recallSweep is the one recall curve in src/main: exactly one " +
      ".as(\"mean_recall_at_k\") code site, and every topkIds( call, " +
      "both inside recallSweep") {
    assume(SourceLint.root.isDirectory, "spec must run from the repo root")
    val file = new java.io.File(SourceLint.root,
      "graft/ops/SimilarityOps.scala")
    val lines = new String(java.nio.file.Files.readAllBytes(file.toPath),
      java.nio.charset.StandardCharsets.UTF_8).linesIterator.toSeq
    val start = lines.indexWhere(_.contains("private def recallSweep("))
    assert(start >= 0, "SimilarityOps.recallSweep is missing")
    val end = lines.indexWhere(_ == "  }", start)
    // 1-based line numbers of the sweep body, def line to closing brace
    val body = (start + 1) to (end + 1)
    def outside(hits: Seq[(String, String)]): Seq[String] =
      hits.map(_._2).filterNot { h =>
        val Array(path, line) = h.split(":", 3).take(2)
        path == file.getPath && body.contains(line.toInt)
      }
    val recall = SourceLint.codeHits(Seq(".as(\"mean_recall_at_k\")"))
    assert(recall.size === 1,
      s"one recall-curve site expected:\n${recall.map(_._2).mkString("\n")}")
    assert(outside(recall).isEmpty,
      s"a recall curve outside recallSweep:\n${outside(recall).mkString("\n")}")
    val topk = SourceLint.codeHits(Seq("topkIds("))
    assert(topk.nonEmpty, "recallSweep ranks through topkIds")
    assert(outside(topk).isEmpty,
      s"topkIds( outside recallSweep:\n${outside(topk).mkString("\n")}")
  }
}
