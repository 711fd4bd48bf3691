package graft.functions

import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.ColumnBridge.{column, expression}
import org.apache.spark.sql.types._

/** The graft native expressions, two ways in:
  *  - the typed constructors ([[vecDot]], [[pqEncode]], [[bloomAgg]], …),
  *    each a `Column` built straight from its expression. Every operator
  *    uses these, so graft writes nothing into the caller's function
  *    registry and runs on any plain session, a fresh one included.
  *  - the `graft_*` names ([[builders]]) for SQL text only, registered by
  *    [[ensureRegistered]] at run time or by [[GraftExtensions]]
  *    (`spark.sql.extensions`) from session start.
  */
object GraftFunctions {

  // The typed constructors. minK, topKIdsByScore, topKRowsByScore and
  // bloomAgg are aggregates. A codebook (cellDists, pqEncode, pqError) is a
  // plan-time constant the kernel embeds once instead of reading per row.
  def minhashBandKeys(shingles: Column, bands: Int): Column =
    column(MinHashBandKeys(expression(shingles), bands))
  def simhash64(tokenHashes: Column): Column =
    column(SimHash64(expression(tokenHashes)))
  def vecDot(a: Column, b: Column): Column =
    column(VecDot(expression(a), expression(b)))
  def editLb(a: Column, b: Column): Column =
    column(EditLowerBound(expression(a), expression(b)))
  def editHist(text: Column): Column = column(CodePointHist32(expression(text)))
  def histLb(a: Column, b: Column): Column =
    column(HistL1LowerBound(expression(a), expression(b)))
  def codePoints(text: Column): Column = column(CodePoints(expression(text)))
  def shingleHashes(text: Column, k: Int): Column =
    column(ShingleHashes(expression(text), k))
  def winnowPositions(hashes: Column, w: Int): Column =
    column(WinnowPositions(expression(hashes), w))
  def bloomContains(filter: Column, key: Column): Column =
    column(BloomMightContain(expression(filter), expression(key)))
  def cellDists(v: Column, cells: Array[Array[Double]]): Column =
    column(CellDistances(expression(v), rows(cells)))
  def pqEncode(v: Column, codebook: Array[Array[Double]], subDim: Int): Column =
    column(PqEncode(expression(v), subDim, rows(codebook)))
  def pqError(v: Column, codebook: Array[Array[Double]], subDim: Int): Column =
    column(PqError(expression(v), subDim, rows(codebook)))
  def minK(v: Column, k: Int): Column = aggregate(MinKLongs(expression(v), k))
  def topKIdsByScore(score: Column, id: Column, k: Int,
      asc: Boolean): Column =
    aggregate(TopKIdsByScore(expression(score), expression(id), k, asc))
  def topKRowsByScore(score: Column, id: Column, k: Int,
      asc: Boolean): Column =
    aggregate(TopKRowsByScore(expression(score), expression(id), None, k, asc))
  def topKRowsByScore(score: Column, id: Column, payload: Column, k: Int,
      asc: Boolean): Column =
    aggregate(TopKRowsByScore(expression(score), expression(id),
      Some(expression(payload)), k, asc))
  def bloomAgg(key: Column, nBits: Int, k: Int): Column =
    aggregate(BloomLongs(expression(key), nBits, k))

  private def aggregate(f: TypedImperativeAggregate[_]): Column =
    column(f.toAggregateExpression())
  private def rows(cb: Array[Array[Double]]): Seq[Seq[Double]] =
    cb.map(_.toSeq).toSeq

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

  /** One SQL call's arguments, read with its function's name in errors. */
  private final class Args(fn: String, es: Seq[Expression]) {
    def apply(i: Int): Expression = es(i)
    def int(i: Int): Int = intArg(fn, es, i)
    def bool(i: Int): Boolean = boolArg(fn, es, i)
    def codebook(i: Int): Seq[Seq[Double]] = cbArg(fn, es, i)
  }

  private def named(fn: String, n: Int)(build: Args => Expression)
      : (String, Seq[Expression] => Expression) =
    fn -> (es => arity(fn, es, n)(build(new Args(fn, es))))

  val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    named("graft_minhash_band_keys", 2)(a => MinHashBandKeys(a(0), a.int(1))),
    named("graft_simhash64", 1)(a => SimHash64(a(0))),
    named("graft_min_k", 2)(a =>
      MinKLongs(a(0), a.int(1)).toAggregateExpression()),
    named("graft_topk_ids", 4)(a => TopKIdsByScore(a(0), a(1), a.int(2),
      a.bool(3)).toAggregateExpression()),
    "graft_topk_rows" ->
      (es => {
        // two arities: (score, id, k, asc) or (score, id, payload, k, asc)
        if (es.length != 4 && es.length != 5)
          throw new IllegalArgumentException(
            s"graft_topk_rows expects 4 or 5 arguments, got ${es.length}")
        val a = new Args("graft_topk_rows", es)
        val base = es.length - 2
        TopKRowsByScore(a(0), a(1), if (es.length == 5) Some(a(2)) else None,
          a.int(base), a.bool(base + 1)).toAggregateExpression()
      }),
    named("graft_vec_dot", 2)(a => VecDot(a(0), a(1))),
    named("graft_edit_lb", 2)(a => EditLowerBound(a(0), a(1))),
    named("graft_edit_hist", 1)(a => CodePointHist32(a(0))),
    named("graft_hist_lb", 2)(a => HistL1LowerBound(a(0), a(1))),
    named("graft_code_points", 1)(a => CodePoints(a(0))),
    named("graft_shingle_hashes", 2)(a => ShingleHashes(a(0), a.int(1))),
    named("graft_winnow_positions", 2)(a => WinnowPositions(a(0), a.int(1))),
    named("graft_bloom_agg", 3)(a =>
      BloomLongs(a(0), a.int(1), a.int(2)).toAggregateExpression()),
    named("graft_bloom_contains", 2)(a => BloomMightContain(a(0), a(1))),
    named("graft_cell_dists", 2)(a => CellDistances(a(0), a.codebook(1))),
    named("graft_pq_encode", 3)(a => PqEncode(a(0), a.int(2), a.codebook(1))),
    named("graft_pq_error", 3)(a => PqError(a(0), a.int(2), a.codebook(1))))

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
    def fromArrayData(ad: ArrayData) =
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
      case Some(Literal(ad: ArrayData,
          ArrayType(ArrayType(DoubleType, _), _))) =>
        fromArrayData(ad)
      case Some(e) if e.foldable && DataTypeUtils.sameType(e.dataType,
          ArrayType(ArrayType(DoubleType))) =>
        e.eval() match {
          case ad: ArrayData => fromArrayData(ad)
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
