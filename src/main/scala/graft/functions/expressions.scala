package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Native Catalyst expressions for the hot per-row kernels of the dedup /
  * similarity operators — the cases where composing built-in higher-order
  * functions is asymptotically fine but allocation-bound (each lambda step
  * materializes a boxed intermediate array per element).
  *
  * Each expression consumes `ArrayData` directly with primitive `while`
  * loops — no boxing, no Scala-collection conversion (the overhead that
  * makes a plain UDF slow) — and implements real `doGenCode`, so the
  * kernels stay inside whole-stage codegen (FunctionsSpec runs them with
  * codegen fallback disabled). They are deterministic, null-safe, and
  * foldable only through the standard Catalyst machinery. Operators build
  * them as Columns through the typed constructors in [[GraftFunctions]];
  * SQL text reaches them by their `graft_*` names (see [[GraftFunctions]]).
  */
object MinHashBandKeys {
  val NumHashes = 64

  /** Prime modulus shared by every portable hash in the engine (1e9+7, the
    * q34 fingerprint modulus): all affine/fold products stay < 2^63, so the
    * IDENTICAL arithmetic runs in any engine with 64-bit integers — the
    * property that lets DuckDB re-derive the full minhash signature in the
    * q38 oracle. (The previous wrapping-mod-2^64 family was JVM-only.)
    */
  val Mod: Long = 1000000007L

  /** Polynomial fold base for band keys / shingle composition (< Mod). */
  val FoldBase: Long = 1000003L

  /** Fixed-seed splitmix64 stream → affine mod-p permutation constants
    * (a ∈ [1, p-1] ⇒ bijective mod p, b ∈ [0, p-1]).
    */
  private[graft] val (permA: Array[Long], permB: Array[Long]) = {
    var state = 0x243F6A8885A308D3L
    def next(): Long = {
      state += 0x9E3779B97F4A7C15L
      var z = state
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^ (z >>> 31)
    }
    (Array.fill(NumHashes)(java.lang.Math.floorMod(next(), Mod - 1L) + 1L),
      Array.fill(NumHashes)(java.lang.Math.floorMod(next(), Mod)))
  }
}

/** minhash_band_keys(shingle_hashes: array<bigint>, bands) →
  * array<bigint> of `bands` LSH keys: the 64-value minhash signature
  * (min over affine permutations a_i·h+b_i of the shingle hashes) folded
  * into `bands` keys of 64/bands rows each.
  */
case class MinHashBandKeys(child: Expression, bands: Int)
    extends UnaryExpression {
  import MinHashBandKeys._

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _ if bands < 1 || bands > NumHashes || NumHashes % bands != 0 =>
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName: bands must be a divisor of $NumHashes in [1, $NumHashes], got $bands")
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires an array<bigint> argument")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_band_keys"

  private val rowsPerBand = NumHashes / math.max(1, bands)

  override protected def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    // no shingles → no signature → no band keys: folding the untouched
    // Long.MaxValue sentinel minima would overflow signed 64-bit and emit
    // negative "keys" outside the documented mod-p domain
    if (n == 0) return new GenericArrayData(new Array[Long](0))
    val mins = Array.fill(NumHashes)(Long.MaxValue)
    var s = 0
    while (s < n) {
      // a null element would read as hash 0 from UnsafeArrayData and
      // become a spurious minimum in EVERY permutation (false duplicate
      // matches). Fail loud — unlike vec_dot's raw-user-column NULL
      // discipline, this array is PIPELINE-CONSTRUCTED (shingle_hashes
      // emits no nulls), so a null here is an engine bug, not data.
      if (arr.isNullAt(s))
        throw new IllegalArgumentException(
          s"$prettyName: null element at position $s")
      // inputs from the graft pipeline are already < Mod; floorMod keeps
      // arbitrary 64-bit inputs safe from product overflow
      val h = java.lang.Math.floorMod(arr.getLong(s), Mod)
      var i = 0
      while (i < NumHashes) {
        val v = (h * permA(i) + permB(i)) % Mod
        if (v < mins(i)) mins(i) = v
        i += 1
      }
      s += 1
    }
    val keys = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      // polynomial fold of the band's minima, seeded by the band index —
      // engine-portable (every intermediate < Mod·FoldBase + Mod < 2^63)
      var acc = b.toLong
      var r = 0
      while (r < rowsPerBand) {
        acc = (acc * FoldBase + mins(b * rowsPerBand + r)) % Mod
        r += 1
      }
      keys(b) = acc
      b += 1
    }
    new GenericArrayData(keys)
  }

  /** Real codegen (same loop as nullSafeEval): the kernel runs once per
    * document inside the signature projection — staying in whole-stage
    * codegen avoids the per-row boxing of the interpreted fallback path.
    * The permutation tables ride in as reference objects.
    */
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, arr => {
      val pa = ctx.addReferenceObj("permA", permA, "long[]")
      val pb = ctx.addReferenceObj("permB", permB, "long[]")
      val n = ctx.freshName("n")
      val mins = ctx.freshName("mins")
      val keys = ctx.freshName("keys")
      val h = ctx.freshName("h")
      val v = ctx.freshName("v")
      val acc = ctx.freshName("acc")
      val s = ctx.freshName("s")
      val i = ctx.freshName("i")
      val b = ctx.freshName("b")
      val r = ctx.freshName("r")
      s"""
         |final int $n = $arr.numElements();
         |final long[] $mins = new long[$NumHashes];
         |java.util.Arrays.fill($mins, Long.MAX_VALUE);
         |if ($n == 0) {
         |  ${ev.value} =
         |    new org.apache.spark.sql.catalyst.util.GenericArrayData(
         |      new long[0]);
         |} else {
         |for (int $s = 0; $s < $n; $s++) {
         |  if ($arr.isNullAt($s)) {
         |    throw new IllegalArgumentException(
         |      "minhash_band_keys: null element at position " + $s);
         |  }
         |  final long $h = java.lang.Math.floorMod($arr.getLong($s), ${Mod}L);
         |  for (int $i = 0; $i < $NumHashes; $i++) {
         |    final long $v = ($h * $pa[$i] + $pb[$i]) % ${Mod}L;
         |    if ($v < $mins[$i]) $mins[$i] = $v;
         |  }
         |}
         |final long[] $keys = new long[$bands];
         |for (int $b = 0; $b < $bands; $b++) {
         |  long $acc = (long) $b;
         |  for (int $r = 0; $r < $rowsPerBand; $r++) {
         |    $acc = ($acc * ${FoldBase}L + $mins[$b * $rowsPerBand + $r])
         |      % ${Mod}L;
         |  }
         |  $keys[$b] = $acc;
         |}
         |${ev.value} =
         |  new org.apache.spark.sql.catalyst.util.GenericArrayData($keys);
         |}
         |""".stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** simhash64(token_hashes: array<bigint>) → bigint: per-bit majority vote
  * over the 64 bits of each token hash, packed to one long (bit k of the
  * result is 1 iff more tokens have bit k set than unset).
  */
case class SimHash64(child: Expression)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires an array<bigint> argument")
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash64"

  override protected def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val votes = new Array[Int](64)
    var t = 0
    while (t < n) {
      // null element = silent hash 0 (all-zero bits vote down every
      // position) — fail loud: a pipeline-constructed array (see
      // MinHashBandKeys' rationale) with a null is an engine bug
      if (arr.isNullAt(t))
        throw new IllegalArgumentException(
          s"$prettyName: null element at position $t")
      val h = arr.getLong(t)
      var k = 0
      while (k < 64) {
        if (((h >>> k) & 1L) == 1L) votes(k) += 1 else votes(k) -= 1
        k += 1
      }
      t += 1
    }
    var sim = 0L
    var k = 63
    while (k >= 0) {
      sim = (sim << 1) | (if (votes(k) > 0) 1L else 0L)
      k -= 1
    }
    sim
  }

  /** Real codegen twin of nullSafeEval — one primitive vote loop per doc. */
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, arr => {
      val n = ctx.freshName("n")
      val votes = ctx.freshName("votes")
      val h = ctx.freshName("h")
      val sim = ctx.freshName("sim")
      val t = ctx.freshName("t")
      val k = ctx.freshName("k")
      s"""
         |final int $n = $arr.numElements();
         |final int[] $votes = new int[64];
         |for (int $t = 0; $t < $n; $t++) {
         |  if ($arr.isNullAt($t)) {
         |    throw new IllegalArgumentException(
         |      "simhash64: null element at position " + $t);
         |  }
         |  final long $h = $arr.getLong($t);
         |  for (int $k = 0; $k < 64; $k++) {
         |    if ((($h >>> $k) & 1L) == 1L) $votes[$k]++; else $votes[$k]--;
         |  }
         |}
         |long $sim = 0L;
         |for (int $k = 63; $k >= 0; $k--) {
         |  $sim = ($sim << 1) | ($votes[$k] > 0 ? 1L : 0L);
         |}
         |${ev.value} = $sim;
         |""".stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** code_points(s: string) → array<bigint> of Unicode code points.
  *
  * Spark's `ascii()` collapses every non-ASCII character to 63 ('?'), so a
  * rolling hash built on it is NOT portable against engines that fold real
  * code points (DuckDB `unicode()`). This kernel iterates the UTF8String's
  * code points directly, so character-level fingerprints agree across
  * engines for any text.
  */
case class CodePoints(child: Expression)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string argument")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "code_points"

  override protected def nullSafeEval(input: Any): Any = {
    val s = input.toString
    val n = s.codePointCount(0, s.length)
    val out = new Array[Long](n)
    var i = 0
    var k = 0
    while (k < n) {
      val cp = s.codePointAt(i)
      out(k) = cp.toLong
      i += Character.charCount(cp)
      k += 1
    }
    new GenericArrayData(out)
  }

  /** Real codegen: this kernel runs per TOKEN (twice in the portable
    * fingerprint path), the hottest of the string kernels — the generated
    * loop avoids the interpreted-eval dispatch per call.
    */
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, in => {
      val s = ctx.freshName("s")
      val n = ctx.freshName("n")
      val out = ctx.freshName("out")
      val cp = ctx.freshName("cp")
      val i = ctx.freshName("i")
      val k = ctx.freshName("k")
      s"""
         |final String $s = $in.toString();
         |final int $n = $s.codePointCount(0, $s.length());
         |final long[] $out = new long[$n];
         |int $i = 0;
         |for (int $k = 0; $k < $n; $k++) {
         |  final int $cp = $s.codePointAt($i);
         |  $out[$k] = (long) $cp;
         |  $i += Character.charCount($cp);
         |}
         |${ev.value} =
         |  new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
         |""".stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** edit_lb(a: string, b: string) → int: the counting-filter lower bound on
  * Levenshtein distance — ceil(L1(hist(a), hist(b)) / 2) over 32-bin
  * code-point histograms (bin = cp & 31). One edit operation changes at
  * most two histogram counts by one each (a substitution decrements one
  * bin and increments another; insert/delete touches one), so
  * dist(a, b) ≥ ceil(L1 / 2) always — bucketing code points only LOWERS
  * the bound, never breaks it.
  *
  * Purpose: pre-DP pruning in the q112 edit-similarity join. The capped
  * Levenshtein confirm is O(maxDist·len) per candidate pair; this bound is
  * O(len + 32) with two stack arrays, and on length-blocked candidates
  * (mostly unrelated texts that happen to be of similar length) it
  * eliminates the DP for the vast majority. Runs per candidate pair →
  * real codegen like [[VecDot]].
  */
case class EditLowerBound(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = IntegerType
  override def prettyName: String = "edit_lb"

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType == StringType)
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two string arguments")
  }

  override protected def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.toString
    val b = r.toString
    val hist = new Array[Int](32)
    var i = 0
    while (i < a.length) {
      val cp = a.codePointAt(i)
      hist(cp & 31) += 1
      i += Character.charCount(cp)
    }
    var j = 0
    while (j < b.length) {
      val cp = b.codePointAt(j)
      hist(cp & 31) -= 1
      j += Character.charCount(cp)
    }
    var l1 = 0
    var k = 0
    while (k < 32) {
      l1 += math.abs(hist(k))
      k += 1
    }
    (l1 + 1) / 2
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (l, r) => {
      val a = ctx.freshName("a")
      val b = ctx.freshName("b")
      val hist = ctx.freshName("hist")
      val cp = ctx.freshName("cp")
      val i = ctx.freshName("i")
      val l1 = ctx.freshName("l1")
      s"""
         |final String $a = $l.toString();
         |final String $b = $r.toString();
         |final int[] $hist = new int[32];
         |for (int $i = 0; $i < $a.length(); ) {
         |  final int $cp = $a.codePointAt($i);
         |  $hist[$cp & 31] += 1;
         |  $i += Character.charCount($cp);
         |}
         |for (int $i = 0; $i < $b.length(); ) {
         |  final int $cp = $b.codePointAt($i);
         |  $hist[$cp & 31] -= 1;
         |  $i += Character.charCount($cp);
         |}
         |int $l1 = 0;
         |for (int $i = 0; $i < 32; $i++) {
         |  $l1 += java.lang.Math.abs($hist[$i]);
         |}
         |${ev.value} = ($l1 + 1) / 2;
         |""".stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** edit_hist(s: string) → array<int>(32): [[EditLowerBound]]'s 32-bin
  * code-point histogram (bin = cp & 31) exposed as a per-DOCUMENT column.
  * Pure factoring of the pair kernel: in the q112 length-band join every
  * candidate pair re-walked BOTH texts (O(len_a + len_b) per pair — at
  * sf0.1 that is ~5·10⁵ length-passing pairs × ~600 code points, the
  * join's dominant term); computing the histogram once per document and
  * comparing with [[HistL1LowerBound]] makes the per-pair cost O(32).
  * `hist_lb(edit_hist(a), edit_hist(b)) ≡ edit_lb(a, b)` value for value
  * — FunctionsSpec pins the identity.
  */
case class CodePointHist32(child: Expression)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string argument")
  }
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "edit_hist"

  override protected def nullSafeEval(input: Any): Any = {
    val s = input.toString
    val hist = new Array[Int](32)
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      hist(cp & 31) += 1
      i += Character.charCount(cp)
    }
    new GenericArrayData(hist)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, in => {
      val s = ctx.freshName("s")
      val hist = ctx.freshName("hist")
      val cp = ctx.freshName("cp")
      val i = ctx.freshName("i")
      s"""
         |final String $s = $in.toString();
         |final int[] $hist = new int[32];
         |for (int $i = 0; $i < $s.length(); ) {
         |  final int $cp = $s.codePointAt($i);
         |  $hist[$cp & 31] += 1;
         |  $i += Character.charCount($cp);
         |}
         |${ev.value} =
         |  new org.apache.spark.sql.catalyst.util.GenericArrayData($hist);
         |""".stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** hist_lb(ha: array<int>, hb: array<int>) → int:
  * ceil(L1(ha, hb) / 2) over two [[CodePointHist32]] columns — the
  * [[EditLowerBound]] value with the per-text walks hoisted out of the
  * pair loop. Mismatched histogram widths (not the kernel's own 32-bin
  * shape — only a miswired pipeline produces that) read as NULL, the
  * corrupt-input discipline every kernel here follows: NULL drops the
  * candidate from a `<= maxDist` filter the same way edit_lb's
  * null-propagation does for a null text.
  */
case class HistL1LowerBound(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = IntegerType
  override def nullable: Boolean = true
  override def prettyName: String = "hist_lb"

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(IntegerType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two array<int> arguments")
  }

  override protected def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = a.numElements()
    if (b.numElements() != n) return null
    var l1 = 0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      l1 += math.abs(a.getInt(i) - b.getInt(i))
      i += 1
    }
    (l1 + 1) / 2
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val l1 = ctx.freshName("l1")
      val bad = ctx.freshName("bad")
      s"""
         |final int $n = $a.numElements();
         |if ($b.numElements() != $n) {
         |  ${ev.isNull} = true;
         |} else {
         |  int $l1 = 0;
         |  boolean $bad = false;
         |  for (int $i = 0; $i < $n && !$bad; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) {
         |      $bad = true;
         |    } else {
         |      $l1 += java.lang.Math.abs($a.getInt($i) - $b.getInt($i));
         |    }
         |  }
         |  if ($bad) { ${ev.isNull} = true; }
         |  else { ${ev.value} = ($l1 + 1) / 2; }
         |}
         |""".stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** cell_dists(emb: array<float|double>; cells plan-time literal) →
  * array<struct<d: double, c: int>>: the squared-L2 distance of `emb` to
  * every codebook cell, in cell-index order — EXACTLY the composed
  * `array(struct((x·x − 2.0·vec_dot(x, cᵢ)) + |cᵢ|², i), …)` expression
  * it replaces (SimilarityOps.cellDists): x² is the index-order
  * self-dot, each x·cᵢ the index-order VecDot, |cᵢ|² the driver-side
  * index-order fold, and the sum associates ((x² − 2·dot) + c²) — every
  * term bit-identical, so `array_min(...).d/.c` consumers (assignment
  * argmin, probe ranking) see byte-identical structs and the
  * q43/q143/q151 oracle replays are untouched.
  *
  * WHY a kernel and not the composed form (guide §1.2 per-task work +
  * §7.2 codegen hygiene): (1) the composed form embeds each |cᵢ|² as an
  * INLINE double constant in the generated source, so every Lloyd
  * iteration's new centroids produce NEW source — a janino recompile of
  * the whole stage per iteration (the trained faces pay 5–10 of these
  * per call; this kernel carries its cells as codegen REFERENCES like
  * [[PqEncode]], one compile per session); (2) per row it allocates k
  * boxed structs through k unshared expression trees — here one
  * primitive loop over a k×dim double matrix.
  *
  * Corrupt-input discipline (matches the composed form's VecDot nulls):
  * a ragged `emb` (width ≠ the cells') or any null element yields
  * d = NULL for EVERY cell — the struct rows still carry their cell
  * index, and downstream array_min orders null-d structs exactly as the
  * composed form did.
  */
case class CellDistances(child: Expression, cells: Seq[Seq[Double]])
    extends UnaryExpression {
  require(cells.nonEmpty, "cell_dists: empty codebook")
  require(cells.forall(_.length == cells.head.length),
    "cell_dists: ragged codebook")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType | DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires an array<float> or array<double> argument")
  }
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("d", DoubleType, nullable = true),
    StructField("c", IntegerType, nullable = false))), containsNull = false)
  override def prettyName: String = "cell_dists"

  private lazy val isFloat =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType
  @transient private lazy val cb: Array[Array[Double]] =
    cells.map(_.toArray).toArray
  // |c|² per cell: same index-ascending fold as the inline lit(c2) the
  // composed form embedded (c.map(v => v * v).sum)
  @transient private lazy val c2s: Array[Double] =
    cb.map(c => c.map(v => v * v).sum)

  override protected def nullSafeEval(input: Any): Any =
    CellDistances.compute(input.asInstanceOf[ArrayData], isFloat, cb, c2s)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, { in =>
      val cbRef = ctx.addReferenceObj("cellCodebook", cb, "double[][]")
      val c2Ref = ctx.addReferenceObj("cellNorms", c2s, "double[]")
      s"""
         |${ev.value} = graft.functions.CellDistances.compute(
         |  $in, $isFloat, $cbRef, $c2Ref);
         |""".stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object CellDistances {
  import org.apache.spark.sql.catalyst.expressions.GenericInternalRow

  def compute(in: ArrayData, isFloat: Boolean, cb: Array[Array[Double]],
      c2s: Array[Double]): GenericArrayData = {
    val dim = cb(0).length
    val n = in.numElements()
    var valid = n == dim
    var i = 0
    while (valid && i < n) {
      if (in.isNullAt(i)) valid = false
      i += 1
    }
    val out = new Array[Any](cb.length)
    if (!valid) {
      var c = 0
      while (c < cb.length) {
        out(c) = new GenericInternalRow(Array[Any](null, c))
        c += 1
      }
      return new GenericArrayData(out)
    }
    val x = new Array[Double](n)
    i = 0
    while (i < n) {
      x(i) = if (isFloat) in.getFloat(i).toDouble else in.getDouble(i)
      i += 1
    }
    var x2 = 0.0
    i = 0
    while (i < n) { x2 += x(i) * x(i); i += 1 }
    var c = 0
    while (c < cb.length) {
      val cc = cb(c)
      var dot = 0.0
      var j = 0
      while (j < n) { dot += x(j) * cc(j); j += 1 }
      out(c) = new GenericInternalRow(
        Array[Any](x2 - 2.0 * dot + c2s(c), c))
      c += 1
    }
    new GenericArrayData(out)
  }
}

/** vec_dot(a: array<float|double>, b: array<float|double>) → double: dot
  * product accumulated in double, strictly in index order (foldLeft), so the
  * result is bit-identical to a left-associated SQL sum of products — the
  * property the DuckDB oracle comparison depends on.
  *
  * STRUCTURALLY-CORRUPT input — a length mismatch between the two arrays,
  * or a null element inside either — yields NULL, not a number and not an
  * exception. Returning a value would be silent corruption (truncating to
  * the shorter array produces a plausible but wrong similarity; a null
  * element reads as 0.0 from UnsafeArrayData); THROWING means one ragged
  * row among 10¹¹ kills an entire 100 TB scan — the exact hazard class the
  * round-9 zero-norm fix removed (there via `try_divide`). NULL completes
  * that discipline: missing (null column), degenerate (zero norm) and
  * corrupt (ragged / null element) vectors all score NULL, which every
  * downstream max/threshold/top-k already excludes, and the q110
  * embedding-audit face is the tool that REPORTS such rows. The kernel is
  * therefore unconditionally nullable even over non-null inputs.
  *
  * Hottest kernel of the four (runs once per CANDIDATE PAIR in the
  * similarity joins); like the others it implements real `doGenCode` —
  * a primitive loop over the two ArrayData with no per-call boxing.
  */
case class VecDot(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "vec_dot"

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(FloatType | DoubleType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<float> or array<double> arguments")
  }

  private def isFloat(e: Expression): Boolean =
    e.dataType.asInstanceOf[ArrayType].elementType == FloatType
  private lazy val leftFloat = isFloat(left)
  private lazy val rightFloat = isFloat(right)

  override protected def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = a.numElements()
    // corrupt input → NULL (see class doc): a length mismatch or a null
    // element has no meaningful dot product, and a number here would be
    // silent corruption while a throw kills the whole scan
    if (b.numElements() != n) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val x = if (leftFloat) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (rightFloat) b.getFloat(i).toDouble else b.getDouble(i)
      acc += x * y
      i += 1
    }
    acc
  }

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      val bad = ctx.freshName("bad")
      val getA = if (leftFloat) s"(double) $a.getFloat($i)" else s"$a.getDouble($i)"
      val getB = if (rightFloat) s"(double) $b.getFloat($i)" else s"$b.getDouble($i)"
      // corrupt input → NULL, same branch structure as nullSafeEval
      s"""
         |final int $n = $a.numElements();
         |if ($b.numElements() != $n) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $acc = 0.0;
         |  boolean $bad = false;
         |  for (int $i = 0; $i < $n && !$bad; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) {
         |      $bad = true;
         |    } else {
         |      $acc += $getA * $getB;
         |    }
         |  }
         |  if ($bad) { ${ev.isNull} = true; } else { ${ev.value} = $acc; }
         |}
         |""".stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** shingle_hashes(text: string, k) → array<bigint>: the 31-polynomial
  * mod-1e9+7 hash (the q34 fingerprint arithmetic) of every word k-gram of
  * `trim(text)` split on single spaces — i.e. exactly
  * `transform(shingles, s -> fold over code_points(s))` for the shingles
  * `concat_ws(" ", tok_i .. tok_{i+k-1})`, in ONE pass.
  *
  * Why one pass is possible: splitting on a single-space pattern and
  * re-joining consecutive tokens with a single space reproduces the exact
  * character run of the trimmed text between the two token boundaries
  * (runs of spaces split into empty tokens whose re-join restores every
  * separator), so each shingle IS a contiguous code-point span. The kernel
  * builds prefix hashes H and powers of 31 mod p over the trimmed string
  * once, then evaluates each span in O(1) as H[b] − H[a−1]·31^(b−a+1) —
  * O(len) total versus the composed form's O(len·k·avg_token) char
  * re-walk (measured 10× on the 5M-doc winnowing pass).
  *
  * Fewer than k tokens → empty array (the caller's length filter sees the
  * same row set as the composed form, which emits no shingles there).
  * Empty / all-space text is ONE empty token (split('') = ['']), so k = 1
  * yields [0] — again matching the composed form, not an empty array.
  */
case class ShingleHashes(child: Expression, k: Int)
    extends UnaryExpression {
  require(k >= 1, s"shingle width must be >= 1, got $k")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string argument")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "shingle_hashes"

  override protected def nullSafeEval(input: Any): Any =
    new GenericArrayData(ShingleHashes.compute(input.toString, k))

  /** Real codegen: the loop body lives in the compiled static helper, the
    * generated code is one static call — no interpreted-expression
    * dispatch per row, and the expression stays inside whole-stage
    * codegen spans.
    */
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, in => {
      s"""
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(
         |  graft.functions.ShingleHashes.compute($in.toString(), $k));
         |""".stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object ShingleHashes {
  private val Mod = MinHashBandKeys.Mod // 1e9+7, the engine-wide modulus

  /** The one-pass span-hash evaluation described on [[ShingleHashes]]. */
  def compute(raw: String, k: Int): Array[Long] = {
    // Spark's trim() strips ASCII spaces only — match it exactly
    var lo = 0
    var hi = raw.length
    while (lo < hi && raw.charAt(lo) == ' ') lo += 1
    while (hi > lo && raw.charAt(hi - 1) == ' ') hi -= 1
    val s = raw.substring(lo, hi)
    val n = s.codePointCount(0, s.length)
    // prefix hashes over code points (1-based), powers of 31 mod p, and
    // the code-point indices of the separator spaces
    val h = new Array[Long](n + 1)
    val pow = new Array[Long](n + 1)
    pow(0) = 1L
    var spaces = new Array[Int](8)
    var nSpaces = 0
    var ci = 0 // char index
    var cj = 0 // code-point index
    while (cj < n) {
      val cp = s.codePointAt(ci)
      h(cj + 1) = (h(cj) * 31L + cp) % Mod
      pow(cj + 1) = pow(cj) * 31L % Mod
      if (cp == ' ') {
        if (nSpaces == spaces.length)
          spaces = java.util.Arrays.copyOf(spaces, nSpaces * 2)
        spaces(nSpaces) = cj + 1 // 1-based
        nSpaces += 1
      }
      ci += Character.charCount(cp)
      cj += 1
    }
    val m = nSpaces + 1 // token count (split on single space, empties kept)
    // NOTE no n == 0 short-circuit: split('') is [''] (m = 1), so k = 1
    // over empty/all-space text must yield the empty token's hash [0],
    // exactly like the composed form; the len <= 0 branch below covers it
    if (m < k) return new Array[Long](0)
    val out = new Array[Long](m - k + 1)
    var i = 0
    while (i <= m - k) {
      // span of tokens i .. i+k-1 (0-based): after the (i-1)-th space up
      // to before the (i+k-1)-th space (or end of string for the last)
      val a = if (i == 0) 1 else spaces(i - 1) + 1
      val b = if (i + k - 1 == m - 1) n else spaces(i + k - 1) - 1
      val len = b - a + 1
      val v =
        if (len <= 0) 0L
        else {
          val x = (h(b) - h(a - 1) * pow(len)) % Mod
          if (x < 0) x + Mod else x
        }
      out(i) = v
      i += 1
    }
    out
  }
}

/** winnow_positions(hashes: array<bigint>, w) → array<bigint>: the
  * distinct 1-based positions winnowing selects — the minimum of every
  * w-wide window over the hash sequence, leftmost occurrence on ties,
  * consecutive duplicates collapsed (selected positions are
  * non-decreasing, so distinct = skip-equal). A sequence shorter than one
  * window yields its global minimum; an empty sequence yields an empty
  * selection.
  *
  * Replaces the composed `transform(windows, i ->
  * array_position(slice(hs,i,w), array_min(slice(hs,i,w))))`: that form
  * allocates two w-element arrays and walks them twice PER WINDOW, the
  * dominant cost of the 5M-doc winnowing pass. This kernel is the classic
  * monotonic-deque sliding minimum — O(m) total, zero per-window
  * allocation (each index enters and leaves the deque once). Equal values
  * are never popped, so the earliest index stays in front: the leftmost
  * tie rule falls out of the invariant.
  *
  * Null elements are rejected with an error: a window minimum over a null
  * hash has no meaning, and silently reading the slot as 0 (ArrayData's
  * primitive accessor behavior) would select it as every window's minimum.
  */
case class WinnowPositions(child: Expression, w: Int)
    extends UnaryExpression {
  require(w >= 1, s"window width must be >= 1, got $w")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires an array<bigint> argument")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "winnow_positions"

  override protected def nullSafeEval(input: Any): Any =
    new GenericArrayData(
      WinnowPositions.compute(input.asInstanceOf[ArrayData], w))

  /** Real codegen: one static call (the loop is compiled bytecode, and the
    * expression stays inside whole-stage codegen spans).
    */
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, in => {
      s"""
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(
         |  graft.functions.WinnowPositions.compute($in, $w));
         |""".stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object WinnowPositions {

  /** The monotonic-deque sliding minimum described on [[WinnowPositions]]. */
  def compute(hs: ArrayData, w: Int): Array[Long] = {
    val m = hs.numElements()
    if (m == 0) return new Array[Long](0)
    val nWin = math.max(m - w + 1, 1)
    val deque = new Array[Int](m) // indices, values strictly increasing
    var head = 0
    var tail = 0 // exclusive
    val out = new Array[Long](nWin)
    var nOut = 0
    var j = 0
    while (j < m) {
      if (hs.isNullAt(j))
        // ArrayData.getLong would silently read a null slot as 0 and
        // select it as every window's minimum — fail loudly instead
        throw new IllegalArgumentException(
          s"winnow_positions: null hash at position ${j + 1}")
      val v = hs.getLong(j)
      // strict: equal values keep their earlier index ahead (leftmost tie)
      while (tail > head && hs.getLong(deque(tail - 1)) > v) tail -= 1
      deque(tail) = j
      tail += 1
      val winStart = j - w + 1 // first window ends at j = w-1 (or at m-1
      if (j >= w - 1 || j == m - 1) { //  for a below-w sequence)
        while (deque(head) < winStart) head += 1
        val sel = deque(head) + 1L // 1-based
        if (nOut == 0 || out(nOut - 1) != sel) {
          out(nOut) = sel
          nOut += 1
        }
      }
      j += 1
    }
    if (nOut == out.length) out else java.util.Arrays.copyOf(out, nOut)
  }
}

/** pq_encode(vec: array<float|double>) → array<int>: product-quantization
  * codes — for each contiguous `subDim`-wide subspace, the index of the
  * codebook row whose subvector minimizes |x_m|² − 2·x_m·c + |c|² (ties to
  * the lower index). One fused pass over the vector: no per-codeword array
  * slices, no boxed intermediates — the expression-tree formulation of the
  * same argmin (11 vec_dots × 8 subspaces per row) blows past the codegen
  * method budget and falls back to interpreted eval with no subexpression
  * reuse; this kernel is the whole encode in one static call.
  *
  * Bit-exactness contract (the q123 oracle replays it): x² and x·c
  * accumulate in index order from 0.0, c² likewise (the driver-literal
  * left fold), and the distance combines as (x² − 2·dot) + c² — identical
  * IEEE op order to both the Column formulation and the unrolled SQL twin.
  *
  * The codebook is a constructor value (embedded via `addReferenceObj` in
  * codegen, not re-parsed per row); the registry builder accepts it as an
  * array<array<double>> LITERAL so `call_function` works from any session.
  */
case class PqEncode(child: Expression, subDim: Int, codebook: Seq[Seq[Double]])
    extends UnaryExpression {
  require(subDim >= 1, s"subDim must be >= 1, got $subDim")
  require(codebook.nonEmpty, "pq_encode: empty codebook")
  require(codebook.forall(_.length == codebook.head.length),
    "pq_encode: ragged codebook")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType | DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires an array<float> or array<double> argument")
  }
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  // NULL codes for a vector the codebook cannot encode (ragged dim /
  // null element — see encodeCore), even over a non-null child
  override def nullable: Boolean = true
  override def prettyName: String = "pq_encode"

  private lazy val isFloat =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType
  @transient private lazy val cb: Array[Array[Double]] =
    codebook.map(_.toArray).toArray
  @transient private lazy val c2s: Array[Array[Double]] =
    PqEncode.subNorms(cb, subDim)

  override protected def nullSafeEval(input: Any): Any =
    PqEncode.compute(input.asInstanceOf[ArrayData], isFloat, subDim, cb, c2s)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, { in =>
      val cbRef = ctx.addReferenceObj("pqCodebook", cb, "double[][]")
      val c2Ref = ctx.addReferenceObj("pqSubNorms", c2s, "double[][]")
      s"""
         |${ev.value} = graft.functions.PqEncode.compute(
         |  $in, $isFloat, $subDim, $cbRef, $c2Ref);
         |if (${ev.value} == null) { ${ev.isNull} = true; }
         |""".stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object PqEncode {

  /** The row-invariant per-(subspace, codeword) |c|² table: c² depends
    * only on the constructor codebook, so recomputing it per row per
    * codeword (the naive fused loop) roughly doubles the hot kernel's
    * arithmetic for values that never change. Same index-ascending fold
    * from 0.0 as the inline computation it replaces — bit-identical
    * terms, so the q123/q128 oracle replay contract is untouched.
    */
  private[functions] def subNorms(cb: Array[Array[Double]],
      subDim: Int): Array[Array[Double]] = {
    val dim = cb(0).length
    val nSub = math.max(1, dim / subDim)
    val t = Array.ofDim[Double](nSub, cb.length)
    var m = 0
    while (m < nSub) {
      val off = m * subDim
      var l = 0
      while (l < cb.length) {
        val c = cb(l)
        var c2 = 0.0
        var j = 0
        while (j < subDim && off + j < dim) {
          c2 += c(off + j) * c(off + j)
          j += 1
        }
        t(m)(l) = c2
        l += 1
      }
      m += 1
    }
    t
  }

  /** The fused encode loop described on [[PqEncode]]; null for a vector
    * the codebook cannot encode (see [[PqEncode.encodeCore]]).
    */
  def compute(a: ArrayData, isFloat: Boolean, subDim: Int,
      cb: Array[Array[Double]],
      c2s: Array[Array[Double]]): GenericArrayData = {
    val codes = encodeCore(a, isFloat, subDim, cb, c2s, null)
    if (codes == null) null else new GenericArrayData(codes)
  }

  /** Shared encode core: returns the per-subspace argmin codes; when
    * `errAcc` is non-null, also accumulates the total quantization error
    * Σ_m round6(max(bestD_m, 0)) into errAcc(0) — per-subspace HALF-UP
    * rounding (floor(v·1e6 + 0.5), the q51 convention both engines
    * replay) with tiny negative float artifacts of x²−2xc+c² clamped to
    * zero so neither engine can emit −0.0. The subvector is copied to a
    * local buffer once (not re-read through ArrayData per codeword) and
    * |c|² comes from the precomputed [[subNorms]] table — identical IEEE
    * op order to the original inline loops.
    *
    * A vector the codebook cannot encode — dimension differing from the
    * codebook width (or not divisible by subDim), or a null element —
    * returns NULL codes rather than throwing: the VecDot corrupt-input
    * discipline (one ragged row must not kill a 100 TB encode pass; the
    * q110 audit face reports such rows).
    */
  private[functions] def encodeCore(a: ArrayData, isFloat: Boolean,
      subDim: Int, cb: Array[Array[Double]], c2s: Array[Array[Double]],
      errAcc: Array[Double]): Array[Int] = {
    val dim = a.numElements()
    if (cb(0).length != dim || dim % subDim != 0) return null
    val nSub = dim / subDim
    val codes = new Array[Int](nSub)
    val xs = new Array[Double](subDim)
    var m = 0
    while (m < nSub) {
      val off = m * subDim
      var x2 = 0.0
      var i = 0
      while (i < subDim) {
        // a null element would read as 0.0 — corrupt input, NULL codes
        if (a.isNullAt(off + i)) return null
        val x = if (isFloat) a.getFloat(off + i).toDouble
                else a.getDouble(off + i)
        xs(i) = x
        x2 += x * x
        i += 1
      }
      var best = 0
      var bestD = Double.PositiveInfinity
      var l = 0
      while (l < cb.length) {
        val c = cb(l)
        var dotAcc = 0.0
        var j = 0
        while (j < subDim) {
          dotAcc += xs(j) * c(off + j)
          j += 1
        }
        val d = x2 - 2.0 * dotAcc + c2s(m)(l)
        if (d < bestD) { bestD = d; best = l }
        l += 1
      }
      codes(m) = best
      if (errAcc != null) {
        val clamped = if (bestD < 0.0) 0.0 else bestD
        errAcc(0) += math.floor(clamped * 1e6 + 0.5) / 1e6
      }
      m += 1
    }
    codes
  }
}

/** pq_error(vec: array<float|double>) → double: the total quantization
  * error the vector's PQ codes carry — Σ over subspaces of the CHOSEN
  * codeword's squared distance, each term rounded at 6 dp (HALF-UP, the
  * engine-portable q51 arithmetic) and clamped at zero. The retraining
  * monitor for a PQ index: ADC recall degrades silently as a drifting
  * corpus moves away from the codebook, and this is the number that
  * moves first. Same fused loop as [[PqEncode]] (shared core), same
  * literal-codebook contract.
  */
case class PqError(child: Expression, subDim: Int, codebook: Seq[Seq[Double]])
    extends UnaryExpression {
  require(subDim >= 1, s"subDim must be >= 1, got $subDim")
  require(codebook.nonEmpty, "pq_error: empty codebook")
  require(codebook.forall(_.length == codebook.head.length),
    "pq_error: ragged codebook")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType | DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires an array<float> or array<double> argument")
  }
  override def dataType: DataType = DoubleType
  // NULL error for a vector the codebook cannot encode (the pq_encode /
  // vec_dot corrupt-input discipline), even over a non-null child
  override def nullable: Boolean = true
  override def prettyName: String = "pq_error"

  private lazy val isFloat =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType
  @transient private lazy val cb: Array[Array[Double]] =
    codebook.map(_.toArray).toArray
  @transient private lazy val c2s: Array[Array[Double]] =
    PqEncode.subNorms(cb, subDim)

  override protected def nullSafeEval(input: Any): Any =
    PqError.compute(input.asInstanceOf[ArrayData], isFloat, subDim, cb, c2s)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, { in =>
      val cbRef = ctx.addReferenceObj("pqCodebook", cb, "double[][]")
      val c2Ref = ctx.addReferenceObj("pqSubNorms", c2s, "double[][]")
      val boxed = ctx.freshName("boxedErr")
      s"""
         |java.lang.Double $boxed = graft.functions.PqError.compute(
         |  $in, $isFloat, $subDim, $cbRef, $c2Ref);
         |if ($boxed == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = $boxed.doubleValue(); }
         |""".stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object PqError {

  /** The error accumulation described on [[PqError]]; null for a vector
    * the codebook cannot encode (the [[PqEncode.encodeCore]] contract).
    */
  def compute(a: ArrayData, isFloat: Boolean, subDim: Int,
      cb: Array[Array[Double]], c2s: Array[Array[Double]]): java.lang.Double = {
    val err = new Array[Double](1)
    val codes = PqEncode.encodeCore(a, isFloat, subDim, cb, c2s, err)
    if (codes == null) null else java.lang.Double.valueOf(err(0))
  }
}
