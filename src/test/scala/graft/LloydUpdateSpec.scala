package graft

import graft.functions.GraftFunctions
import graft.ops.SimilarityOps
import graft.ops.SimilarityOps.{PqSub, PqSubDim}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** [[SimilarityOps.lloydUpdate]]'s exact-decimal fold against two
  * groupBy/agg formulations of the same update, kept here as the
  * reference: the k-means posexplode contraction per (cluster, position)
  * and the PQ per-subspace explode with sibling decimal sums per
  * (subspace, codeword). Every comparison is bit-for-bit.
  */
class LloydUpdateSpec extends SparkSpec {

  import spark.implicits._

  private type Codebook = Array[Array[Double]]

  private def bits(cb: Codebook): Seq[Seq[Long]] =
    cb.map(_.map(java.lang.Double.doubleToRawLongBits).toSeq).toSeq

  /** The k-means update: `assigned` is (codes, embedding), cluster =
    * codes[0]; an untouched cluster keeps its centroid.
    */
  private def kmeansCells(assigned: DataFrame, prev: Codebook): Codebook = {
    val upd = assigned
      .select(element_at(col("codes"), 1).as("cluster"),
        posexplode(col("embedding")).as(Seq("pos", "v")))
      .groupBy("cluster", "pos")
      .agg(round(
        sum(col("v").cast("decimal(38,10)")).cast("double") /
          count(lit(1)), 6).as("cv"))
      .collect()
    val next = prev.map(_.clone())
    upd.foreach(r => next(r.getInt(0))(r.getInt(1)) = r.getDouble(2))
    next
  }

  /** The PQ update: one row per (vector, subspace), the subspace's
    * positions as sibling decimal sums; an emptied codeword keeps its
    * values.
    */
  private def pqCells(assigned: DataFrame, prev: Codebook): Codebook = {
    val cells = assigned
      .filter(col("codes").isNotNull)
      .select(col("codes"), col("embedding"),
        explode(typedLit((0 until PqSub).toList)).as("m"))
      .select(col("m") +:
        element_at(col("codes"), col("m") + 1).as("cw") +:
        (1 to PqSubDim).map(i =>
          element_at(col("embedding"), col("m") * PqSubDim + i)
            .as(s"v_$i")): _*)
      .groupBy("m", "cw")
      .agg(count(lit(1)).as("n"),
        (1 to PqSubDim).map(i => round(
          sum(col(s"v_$i").cast("decimal(38,10)")).cast("double") /
            count(lit(1)), 6).as(s"cv_$i")): _*)
      .collect()
    val next = prev.map(_.clone())
    cells.foreach { r =>
      val base = r.getAs[Int]("m") * PqSubDim
      (1 to PqSubDim).foreach(i =>
        next(r.getAs[Int]("cw"))(base + i - 1) = r.getAs[Double](s"cv_$i"))
    }
    next
  }

  private def init(vecs: DataFrame, k: Int): Codebook =
    vecs.orderBy(
        Tables.lcgBucket(col("vec_id"), 48271L, 11L, 1000000007L).asc,
        col("vec_id").asc)
      .limit(k).select(col("embedding").cast("array<double>"))
      .collect().map(_.getSeq[Double](0).toArray)

  /** [[SimilarityOps.kmeansCentroids]] with the reference update. */
  private def refKmeans(embDf: DataFrame, k: Int, iters: Int): Codebook =
    (0 until iters).foldLeft(init(embDf, k)) { (cb, _) =>
      kmeansCells(SimilarityOps.assignClusters(embDf, cb)
        .select(array(col("cluster")).as("codes"), col("embedding")), cb)
    }

  /** [[SimilarityOps.pqTrainedCodebook]] with the reference update. */
  private def refPq(embDf: DataFrame, k: Int, iters: Int): Codebook = {
    val valid = embDf
      .filter(col("embedding").isNotNull &&
        size(col("embedding")) === SimilarityOps.Dim &&
        !exists(col("embedding"), v => v.isNull))
      .select(col("vec_id"),
        col("embedding").cast("array<double>").as("embedding"))
    (0 until iters).foldLeft(init(valid, k)) { (cb, _) =>
      pqCells(valid.select(
        GraftFunctions.pqEncode(col("embedding"), cb, PqSubDim).as("codes"),
        col("embedding")), cb)
    }
  }

  private val dim = SimilarityOps.Dim

  /** 90 vectors around three directions, values with many digits. */
  private def corpus(i: Int): Array[Double] = Array.tabulate(dim) { j =>
    (if (j % 3 == i % 3) 1.0 else 0.0) + 0.37 * math.sin(i * 7.0 + j * 1.3)
  }

  private lazy val doubles: DataFrame =
    (0 until 90).map(i => (i.toLong, corpus(i), i % 3))
      .toDF("vec_id", "embedding", "label")

  private lazy val floats: DataFrame =
    (0 until 90).map(i => (i.toLong, corpus(i).map(_.toFloat), i % 3))
      .toDF("vec_id", "embedding", "label")

  /** (codes, embedding) rows under an explicit schema, so elements and
    * whole columns can be null.
    */
  private def assigned(elem: DataType, rows: Seq[(Seq[Integer], Seq[Any])],
      slices: Int = 3): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map { case (c, e) => Row(c, e) },
        slices),
      StructType(Seq(
        StructField("codes", ArrayType(IntegerType)),
        StructField("embedding", ArrayType(elem)))))

  private def prevCodebook(k: Int): Codebook =
    Array.tabulate(k, dim)((c, p) => c * 1000.0 + p + 0.125)

  test("k-means and PQ training match the groupBy/agg update on " +
      "array<float> and array<double> input") {
    for (df <- Seq(floats, doubles)) {
      val km = SimilarityOps.kmeansCentroids(df, k = 5, iters = 4)
      assert(bits(km) === bits(refKmeans(df, 5, 4)))
      val pq = SimilarityOps.pqTrainedCodebook(df, k = 6, iters = 3)
      assert(bits(pq) === bits(refPq(df, 6, 3)))
    }
  }

  test("training on the sf0.001 testdata matches the groupBy/agg update") {
    val e = Tables.t(spark, sfDir, "embeddings")
    val valid = SimilarityOps.validLabeled(e)
    assert(bits(SimilarityOps.kmeansCentroids(valid, SimilarityOps.IvfTrainK,
      SimilarityOps.IvfTrainIters)) === bits(refKmeans(valid,
      SimilarityOps.IvfTrainK, SimilarityOps.IvfTrainIters)))
    assert(bits(SimilarityOps.pqTrainedCodebook(e)) === bits(refPq(e,
      SimilarityOps.PqTrainK, SimilarityOps.PqTrainIters)))
  }

  test("an emptied codeword keeps its previous values") {
    // duplicate-heavy init (2 distinct vectors, k = 6): ties assign to
    // the lowest cluster, so the duplicates' clusters empty every
    // iteration
    val dup = (0 until 12).map { i =>
      val v = Array.fill(dim)(0.25); v(i % 2) = 1.0
      (i.toLong, v)
    }.toDF("vec_id", "embedding")
    assert(bits(SimilarityOps.kmeansCentroids(dup, k = 6, iters = 2)) ===
      bits(refKmeans(dup, 6, 2)))
    assert(bits(SimilarityOps.pqTrainedCodebook(dup, k = 6, iters = 2)) ===
      bits(refPq(dup, 6, 2)))
    // direct: codeword 2 receives no row in any subspace
    val prev = prevCodebook(3)
    val rows = (0 until 8).map(i => (
      Seq.tabulate[Integer](PqSub)(m => (i + m) % 2),
      Seq.tabulate[Any](dim)(p => i * 0.25 + p)))
    val df = assigned(DoubleType, rows)
    val km = SimilarityOps.lloydUpdate(
      df.select(slice(col("codes"), 1, 1).as("codes"), col("embedding")),
      prev, nSub = 1)
    assert(bits(km) === bits(kmeansCells(
      df.select(slice(col("codes"), 1, 1).as("codes"), col("embedding")),
      prev)))
    val pq = SimilarityOps.lloydUpdate(df, prev, nSub = PqSub)
    assert(bits(pq) === bits(pqCells(df, prev)))
    assert(bits(Array(km(2), pq(2))) === bits(Array(prev(2), prev(2))))
  }

  test("a null, NaN or infinite element counts toward its cell's rows " +
      "but not its sum; a row with null codes or embedding is skipped") {
    val prev = prevCodebook(2)
    def row(i: Int): Seq[Any] = Seq.tabulate[Any](dim)(p => i * 0.5 - p * 0.1)
    for ((elem, conv) <- Seq[(DataType, Any => Any)](
        DoubleType -> identity,
        FloatType -> { case d: Double => d.toFloat; case x => x })) {
      val kmRows = Seq[(Seq[Integer], Seq[Any])](
        (Seq(0), row(1)), (Seq(0), row(2).updated(3, null)),
        (Seq(1), row(3).updated(1, Double.NaN)),
        (Seq(1), row(4).updated(2, Double.PositiveInfinity)),
        (Seq(1), row(5)), (Seq(0), null),
        (Seq(1), row(6).take(dim - 2))) // ragged: 62 positions
      val km = assigned(elem, kmRows.map { case (c, e) =>
        (c, Option(e).map(_.map(conv)).orNull) })
      assert(bits(SimilarityOps.lloydUpdate(km, prev, nSub = 1)) ===
        bits(kmeansCells(km, prev)))
      val pqRows = Seq[(Seq[Integer], Seq[Any])](
        (Seq.fill[Integer](PqSub)(0), row(1)),
        (Seq.tabulate[Integer](PqSub)(_ % 2), row(2).updated(3, null)),
        (Seq.tabulate[Integer](PqSub)(m => (m + 1) % 2),
          row(3).updated(9, Double.NaN)),
        (Seq.fill[Integer](PqSub)(1), row(4)), (null, row(5)))
      val pq = assigned(elem, pqRows.map { case (c, e) =>
        (c, e.map(conv)) })
      assert(bits(SimilarityOps.lloydUpdate(pq, prev, nSub = PqSub)) ===
        bits(pqCells(pq, prev)))
    }
  }

  test("a mean on a 6-dp half boundary rounds as the exact decimal sum " +
      "says, for double and float elements alike") {
    val prev = prevCodebook(1)
    // double: exact mean 0.3043465 rounds up; the double sum falls below
    assert(BigDecimal((0.3016078 + 0.3070852) / 2)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble === 0.304346)
    // float: Spark's cast takes each float's exact binary value (through
    // DOUBLE), whose mean rounds to 0.902734; the floats' shortest decimal
    // forms (0.8125188, 0.9929502) would give 0.902735
    for ((elem, a, b, want) <- Seq[(DataType, Any, Any, Double)](
        (DoubleType, 0.3016078, 0.3070852, 0.304347),
        (FloatType, 0.8125188f, 0.9929502f, 0.902734))) {
      // one partition: both elements meet in the same partial sum
      val df = assigned(elem, Seq(a, b).map(x =>
        (Seq[Integer](0), x +: Seq.fill[Any](dim - 1)(
          if (elem == FloatType) 0f else 0.0))), slices = 1)
      val got = SimilarityOps.lloydUpdate(df, prev, nSub = 1)
      assert(got(0)(0) === want)
      assert(bits(got) === bits(kmeansCells(df, prev)))
    }
  }
}
