package graft

import graft.ops.SimilarityOps

/** The label-centroid oracle twins and the trainer replays state
  * Spark's float-to-decimal conversion. Spark casts a FLOAT element to DECIMAL through its exact
  * binary value, i.e. through DOUBLE (0.8125188f → 0.8125187755); DuckDB's
  * direct FLOAT cast scales in single precision and keeps only the
  * float's leading digits (0.8125188f → 0.8125187584), so the two sides
  * would sum different numbers. The corpus here puts a q43 centroid on a
  * 6-dp rounding boundary where the two conversions round apart.
  */
class FloatCastOracleSpec extends SparkSpec {

  import spark.implicits._

  private val twinQueries = Seq("q43_label_centroids", "q45_ann_ivf",
    "q95_cluster_purity", "q123_ann_pq", "q126_cluster_cohesion",
    "q128_pq_distortion", "q135_ann_recall", "q136_embedding_drift",
    "q138_pq_recall")

  /** The oracles replaying a Lloyd trainer (`pqTrainedCbCtes` for
    * q140/q142, `ivfTrainedCbCtes` for the rest): each iteration's
    * codeword mean sums the FLOAT embedding elements. */
  private val trainerReplays = Seq("q140_ann_pq_trained",
    "q142_pq_recall_trained", "q143_ann_ivf_trained",
    "q144_ivf_recall_trained", "q151_ann_ivfpq", "q153_ivfpq_recall",
    "q154_ivfpq_refined")

  /** Label 0's dim-1 mean: the exact binary values of -0.25151232f and
    * 0.5073033f average to 0.12789548935, rounding to 0.127895; DuckDB's
    * direct FLOAT cast rounds the mean to 0.127896.
    */
  private lazy val dir: String = {
    val d = tmpDir("graft-float-cast")
    Seq((0L, -0.25151232f, 0), (1L, 0.5073033f, 0), (2L, 0.25f, 1))
      .map { case (id, x, label) =>
        (id, x +: Array.fill(SimilarityOps.Dim - 1)(0.5f), label) }
      .toDF("vec_id", "embedding", "label")
      .write.parquet(s"$d/embeddings.parquet")
    d
  }

  test("the label-centroid oracles cast each FLOAT element through DOUBLE") {
    for (q <- twinQueries) {
      val sql = SparkEntry.oracleSql(q)
      assert(sql.contains("CAST(CAST(embedding[s.i] AS DOUBLE)"), q)
      assert(!sql.contains("CAST(embedding[s.i] AS DECIMAL"), q)
    }
  }

  test("the trainer-replay oracles cast each FLOAT element through " +
      "DOUBLE") {
    val direct = raw"CAST\(e\.embedding\[[^\]]*\]\s+AS DECIMAL".r
    for (q <- trainerReplays) {
      val sql = SparkEntry.oracleSql(q)
      assert(sql.contains("CAST(CAST(e.embedding["), q)
      assert(direct.findFirstIn(sql).isEmpty, q)
    }
  }

  test("q43 on a 6-dp boundary: Spark's centroid is the exact binary " +
      "mean's, and the DuckDB oracle returns the same number") {
    val got = SimilarityOps.labelCentroids(spark, dir)
      .filter($"label" === 0 && $"dim" === 1)
      .select("centroid").as[Double].collect().toSeq
    assert(got === Seq(0.127895))
    assume(python(Seq("-c", "import duckdb"))._1 == 0,
      "python3 with duckdb is not available")
    val oracle = SparkEntry.oracleSql("q43_label_centroids")
    assert(duckCentroid(oracle) === 0.127895)
    // the direct FLOAT cast rounds the other way: the corpus discriminates
    assert(duckCentroid(oracle.replace("CAST(CAST(embedding[s.i] AS DOUBLE)",
      "CAST(embedding[s.i]")) === 0.127896)
  }

  /** (exit code, stdout + stderr) of `python3 args`; -1 without python3. */
  private def python(args: Seq[String]): (Int, String) = {
    val out = new StringBuilder
    val log = scala.sys.process.ProcessLogger(
      l => out.append(l).append('\n'), l => out.append(l).append('\n'))
    val code = try scala.sys.process.Process("python3" +: args).!(log)
    catch { case _: java.io.IOException => -1 }
    (code, out.toString.trim)
  }

  /** Label 0's dim-1 centroid from `sql` run by DuckDB over the corpus. */
  private def duckCentroid(sql: String): Double = {
    val script =
      """import sys, duckdb
        |con = duckdb.connect()
        |con.execute("CREATE VIEW embeddings AS SELECT * FROM "
        |  "read_parquet('" + sys.argv[1] + "/embeddings.parquet/*.parquet')")
        |print(repr(con.execute("SELECT centroid FROM (" + sys.argv[2] +
        |  ") WHERE label = 0 AND dim = 1").fetchone()[0]))
        |""".stripMargin
    val (code, out) = python(Seq("-c", script, dir, sql))
    assert(code == 0, s"DuckDB run failed: $out")
    out.toDouble
  }
}
