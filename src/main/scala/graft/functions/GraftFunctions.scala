package graft.functions

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}

/** Registration for the graft native expressions.
  *
  * Two paths to the same functions:
  *  - [[GraftFunctions.ensureRegistered]] — runtime registration into the
  *    session's function registry; every graft operator calls it, so the
  *    library works against any plain SparkSession (the driver builds its
  *    own session without extra config).
  *  - [[GraftExtensions]] — `spark.sql.extensions=graft.functions.GraftExtensions`
  *    for users who want the functions available in pure `spark.sql(...)`
  *    from session start.
  */
object GraftFunctions {

  /** Named-arity guard: wrong-arity SQL calls get "$fn expects N
    * arguments, got M" instead of a bare IndexOutOfBoundsException from a
    * positional `es(i)`.
    */
  private def arity(fn: String, es: Seq[Expression], n: Int)(
      build: => Expression): Expression = {
    if (es.length != n)
      throw new IllegalArgumentException(
        s"$fn expects $n argument${if (n == 1) "" else "s"}, got ${es.length}")
    build
  }

  private def boolArg(fn: String, es: Seq[Expression], i: Int): Boolean =
    es.lift(i) match {
      case Some(Literal(v: java.lang.Boolean, _)) => v.booleanValue()
      case other => throw new IllegalArgumentException(
        s"$fn: argument ${i + 1} must be a boolean literal, got " +
          other.map(_.sql).getOrElse("nothing"))
    }

  private def intArg(fn: String, es: Seq[Expression], i: Int): Int = es.lift(i) match {
    // integral literal types only — a bare numeric match would silently
    // truncate e.g. 2.5 to 2 via intValue()
    case Some(Literal(v: Number, ByteType | ShortType | IntegerType |
        LongType)) =>
      val l = v.longValue()
      // a long literal past Int range must error, not wrap: intValue() of
      // 2^32+1 is 1, which would silently compute 1-gram hashes
      if (l < Int.MinValue || l > Int.MaxValue)
        throw new IllegalArgumentException(
          s"$fn: argument ${i + 1} out of Int range: $l")
      l.toInt
    case other => throw new IllegalArgumentException(
      s"$fn: argument ${i + 1} must be an integer literal, got " +
        other.map(_.sql).getOrElse("nothing"))
  }

  val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "graft_minhash_band_keys" ->
      (es => arity("graft_minhash_band_keys", es, 2)(
        MinHashBandKeys(es.head, intArg("graft_minhash_band_keys", es, 1)))),
    "graft_simhash64" ->
      (es => arity("graft_simhash64", es, 1)(SimHash64(es.head))),
    "graft_min_k" ->
      (es => arity("graft_min_k", es, 2)(
        MinKLongs(es.head, intArg("graft_min_k", es, 1))
          .toAggregateExpression())),
    "graft_topk_ids" ->
      (es => arity("graft_topk_ids", es, 4)(
        TopKIdsByScore(es.head, es(1), intArg("graft_topk_ids", es, 2),
          boolArg("graft_topk_ids", es, 3)).toAggregateExpression())),
    "graft_topk_rows" ->
      (es => {
        // two arities: (score, id, k, asc) or (score, id, payload, k, asc)
        if (es.length != 4 && es.length != 5)
          throw new IllegalArgumentException(
            s"graft_topk_rows expects 4 or 5 arguments, got ${es.length}")
        val payload = if (es.length == 5) Some(es(2)) else None
        val base = es.length - 2
        TopKRowsByScore(es.head, es(1), payload,
          intArg("graft_topk_rows", es, base),
          boolArg("graft_topk_rows", es, base + 1)).toAggregateExpression()
      }),
    "graft_vec_dot" ->
      (es => arity("graft_vec_dot", es, 2)(VecDot(es.head, es(1)))),
    "graft_edit_lb" ->
      (es => arity("graft_edit_lb", es, 2)(EditLowerBound(es.head, es(1)))),
    "graft_edit_hist" ->
      (es => arity("graft_edit_hist", es, 1)(CodePointHist32(es.head))),
    "graft_hist_lb" ->
      (es => arity("graft_hist_lb", es, 2)(HistL1LowerBound(es.head, es(1)))),
    "graft_code_points" ->
      (es => arity("graft_code_points", es, 1)(CodePoints(es.head))),
    "graft_shingle_hashes" ->
      (es => arity("graft_shingle_hashes", es, 2)(
        ShingleHashes(es.head, intArg("graft_shingle_hashes", es, 1)))),
    "graft_winnow_positions" ->
      (es => arity("graft_winnow_positions", es, 2)(
        WinnowPositions(es.head, intArg("graft_winnow_positions", es, 1)))),
    "graft_bloom_agg" ->
      (es => arity("graft_bloom_agg", es, 3)(
        BloomLongs(es.head, intArg("graft_bloom_agg", es, 1),
          intArg("graft_bloom_agg", es, 2)).toAggregateExpression())),
    "graft_bloom_contains" ->
      (es => arity("graft_bloom_contains", es, 2)(
        BloomMightContain(es.head, es(1)))),
    "graft_cell_dists" -> (es => arity("graft_cell_dists", es, 2)(
      CellDistances(es.head, cbArg("graft_cell_dists", es, 1)))),
    "graft_pq_encode" -> (es => arity("graft_pq_encode", es, 3)(
      PqEncode(es.head,
        intArg("graft_pq_encode", es, 2), cbArg("graft_pq_encode", es, 1)))),
    "graft_pq_error" -> (es => arity("graft_pq_error", es, 3)(
      PqError(es.head,
        intArg("graft_pq_error", es, 2), cbArg("graft_pq_error", es, 1)))))

  /** Extract an array<array<double>> codebook that is a Literal OR any
    * foldable expression (SQL text `array(array(0.1d, …))` is a
    * CreateArray at analysis time — builders run BEFORE constant folding,
    * so requiring a Literal would lock the PQ functions out of pure
    * `spark.sql(...)`, the very path GraftExtensions exists for; a
    * foldable expression evaluates here to the same plan-time constant).
    * The codebook is plan metadata, not data — it must be plan-time
    * constant so the kernel embeds it once instead of deserializing per
    * row.
    */
  private def cbArg(fn: String, es: Seq[Expression], i: Int): Seq[Seq[Double]] = {
    val cbType = org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.DoubleType))
    def fromArrayData(ad: org.apache.spark.sql.catalyst.util.ArrayData) =
      (0 until ad.numElements()).map { r =>
        // a null INNER array (array(array(1.0d), CAST(NULL AS
        // array<double>))) passes the outer sameType/non-null checks —
        // raise the same named error, not an NPE
        val row = ad.getArray(r)
        if (row == null) throw new IllegalArgumentException(
          s"$fn: argument ${i + 1} contains a null inner array — the " +
            "codebook must be a non-null array<array<double>> constant")
        row.toDoubleArray().toSeq
      }
    es.lift(i) match {
      case Some(Literal(ad: org.apache.spark.sql.catalyst.util.ArrayData,
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.ArrayType(
              org.apache.spark.sql.types.DoubleType, _), _))) =>
        fromArrayData(ad)
      case Some(e) if e.foldable && org.apache.spark.sql.catalyst.types
          .DataTypeUtils.sameType(e.dataType, cbType) =>
        e.eval() match {
          case ad: org.apache.spark.sql.catalyst.util.ArrayData =>
            fromArrayData(ad)
          case _ => throw new IllegalArgumentException(
            s"$fn: argument ${i + 1} evaluated to null — the codebook " +
              "must be a non-null array<array<double>> constant")
        }
      case other => throw new IllegalArgumentException(
        s"$fn: argument ${i + 1} must be an array<array<double>> " +
          "constant (literal or foldable), got " +
          other.map(_.sql).getOrElse("nothing"))
    }
  }

  /** Idempotently register all graft functions into `spark`'s registry:
    * a name already bound to the same builder instance (an earlier call,
    * or [[GraftExtensions]]) is left alone, so repeat calls register
    * nothing.
    */
  def ensureRegistered(spark: SparkSession): Unit = {
    val registry = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry
    builders.foreach { case (name, builder) =>
      if (!registry.lookupFunctionBuilder(FunctionIdentifier(name))
          .exists(_ eq builder))
        registry.createOrReplaceTempFunction(name, builder, "built-in")
    }
  }
}

/** `spark.sql.extensions` entry point (config-time registration). */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit =
    GraftFunctions.builders.foreach { case (name, builder) =>
      e.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo("graft.functions", name), builder))
    }
}
