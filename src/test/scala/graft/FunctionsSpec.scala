package graft

import graft.functions.GraftFunctions
import org.apache.spark.sql.functions._

/** Behavioral properties of the native Catalyst expressions
  * (functions/expressions.scala): estimation quality for the sketch
  * kernels, bit-exactness for the dot product.
  */
class FunctionsSpec extends SparkSpec {

  import spark.implicits._

  GraftFunctions.ensureRegistered(spark)

  test("vec_dot matches a driver-side index-order dot exactly") {
    val rnd = new scala.util.Random(7)
    val rows = (1 to 50).map { i =>
      (i.toLong, Array.fill(64)(rnd.nextGaussian().toFloat),
        Array.fill(64)(rnd.nextGaussian().toFloat))
    }
    val got = rows.toDF("id", "a", "b")
      .select(col("id"), call_function("graft_vec_dot", col("a"), col("b")))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    rows.foreach { case (id, a, b) =>
      var acc = 0.0
      (0 until 64).foreach(i => acc += a(i).toDouble * b(i).toDouble)
      assert(got(id) === acc, s"row $id") // bit-exact, no tolerance
    }
  }

  test("graft_min_k keeps the k smallest, skips nulls, merges partials") {
    // force many partitions so partial buffers must serialize and merge
    val df = spark.range(1000).select(
      (col("id") % 7).as("g"),
      when(col("id") % 13 === 0, lit(null).cast("long"))
        .otherwise((col("id") * 48271L) % 1009L).as("v"))
      .repartition(8)
    val got = df.groupBy("g")
      .agg(expr("graft_min_k(v, 5)").as("mk"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val naive = df.collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getLong(1))))
      .groupBy(_._1)
      .map { case (g, vs) => g -> vs.flatMap(_._2).sorted.take(5).toSeq }
    naive.foreach { case (g, want) => assert(got(g) === want, s"group $g") }
  }

  test("graft_min_k: empty/all-null group yields an empty array") {
    val r = spark.sql(
      "SELECT graft_min_k(v, 3) FROM (SELECT CAST(NULL AS BIGINT) v)")
      .head().getSeq[Long](0)
    assert(r === Seq.empty[Long])
  }

  test("graft_topk_ids equals the row_number window it replaces: both " +
      "directions, lower-id ties, null skips, partial merges") {
    // many partitions force partial-buffer serialize + merge; duplicate
    // scores force the id tie-break; nulls in both children force skips
    val df = spark.range(2000).select(
      (col("id") % 5).as("g"),
      when(col("id") % 17 === 0, lit(null).cast("double"))
        .otherwise(((col("id") * 48271L) % 97L).cast("double") / 10.0)
        .as("s"),
      when(col("id") % 31 === 0, lit(null).cast("long"))
        .otherwise(col("id")).as("v"))
      .repartition(8)
    for (asc <- Seq(true, false)) {
      val got = df.groupBy("g")
        .agg(expr(s"graft_topk_ids(s, v, 7, $asc)").as("ids"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
      val want = df.collect()
        .filter(r => !r.isNullAt(1) && !r.isNullAt(2))
        .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
        .groupBy(_._1)
        .map { case (g, rows) =>
          val sorted =
            if (asc) rows.sortBy(t => (t._2, t._3))
            else rows.sortBy(t => (-t._2, t._3))
          g -> sorted.take(7).map(_._3).toSeq
        }
      want.foreach { case (g, w) =>
        assert(got(g) === w, s"group $g asc=$asc")
      }
    }
  }

  test("graft_topk_ids: NaN ranks as the largest score (the Spark sort " +
      "order), empty/all-null groups yield an empty array, k past the " +
      "group size returns everything ranked") {
    import spark.implicits._
    val df = Seq((Double.NaN, 1L), (5.0, 2L), (7.0, 3L), (Double.NaN, 0L))
      .toDF("s", "v")
    assert(df.agg(expr("graft_topk_ids(s, v, 3, false)")).head()
      .getSeq[Long](0) === Seq(0L, 1L, 3L),
      "desc: NaN first (ties by id), then the largest real score")
    assert(df.agg(expr("graft_topk_ids(s, v, 3, true)")).head()
      .getSeq[Long](0) === Seq(2L, 3L, 0L),
      "asc: real scores first, NaN last")
    assert(df.agg(expr("graft_topk_ids(s, v, 9, true)")).head()
      .getSeq[Long](0) === Seq(2L, 3L, 0L, 1L))
    assert(spark.sql("SELECT graft_topk_ids(CAST(NULL AS DOUBLE), 1L, " +
      "3, true) ").head().getSeq[Long](0) === Seq.empty[Long])
  }

  test("graft_topk_rows ranks exactly like graft_topk_ids and carries " +
      "score + payload faithfully: both arities, both directions, null " +
      "payloads kept, forced partial merges") {
    val df = spark.range(2000).select(
      (col("id") % 5).as("g"),
      when(col("id") % 17 === 0, lit(null).cast("double"))
        .otherwise(((col("id") * 48271L) % 97L).cast("double") / 10.0)
        .as("s"),
      when(col("id") % 31 === 0, lit(null).cast("long"))
        .otherwise(col("id")).as("v"),
      when(col("id") % 13 === 0, lit(null).cast("string"))
        .otherwise(concat(lit("p"), col("id"))).as("p"))
      .repartition(8)
    for (asc <- Seq(true, false)) {
      val rows = df.groupBy("g")
        .agg(expr(s"graft_topk_rows(s, v, p, 7, $asc)").as("top"),
          expr(s"graft_topk_ids(s, v, 7, $asc)").as("ids"))
        .collect()
      assert(rows.length === 5)
      rows.foreach { r =>
        val top = r.getSeq[org.apache.spark.sql.Row](1)
        assert(top.map(_.getLong(0)) === r.getSeq[Long](2),
          s"same ranked ids as the ids form (asc=$asc, g=${r.getLong(0)})")
        top.foreach { t =>
          val id = t.getLong(0)
          assert(t.getDouble(1) === ((id * 48271L) % 97L).toDouble / 10.0,
            "carried score is the ranking value")
          if (id % 13 == 0) assert(t.isNullAt(2),
            "a null payload on a ranking row is kept as null cargo")
          else assert(t.getString(2) === s"p$id",
            "carried payload matches the source row")
        }
      }
    }
    // 4-arg arity: struct<id, score> only — same ids, no payload field
    val r4 = df.groupBy("g")
      .agg(expr("graft_topk_rows(s, v, 7, false)").as("top"),
        expr("graft_topk_ids(s, v, 7, false)").as("ids"))
      .collect()
    r4.foreach { r =>
      val top = r.getSeq[org.apache.spark.sql.Row](1)
      assert(top.forall(_.length == 2), "pairs arity has no payload field")
      assert(top.map(_.getLong(0)) === r.getSeq[Long](2))
    }
  }

  test("graft_topk_rows: struct payloads survive the partial-merge serde, " +
      "k past the group size returns everything, wrong arity and bad " +
      "types fail with named errors") {
    val df = spark.range(100).select(col("id"),
      ((col("id") * 7) % 13).cast("double").as("s"),
      struct(col("id").as("a"), concat(lit("x"), col("id")).as("b"))
        .as("pay"))
      .repartition(7) // forces serialize + merge of struct payloads
    val out = df.agg(expr("graft_topk_rows(s, id, pay, 5, false)"))
      .head().getSeq[org.apache.spark.sql.Row](0)
    assert(out.length === 5)
    out.foreach { t =>
      val id = t.getLong(0)
      val p = t.getStruct(2)
      assert(p.getLong(0) === id && p.getString(1) === s"x$id",
        s"struct payload must round-trip through serde: $t")
    }
    assert(df.limit(3).agg(expr("graft_topk_rows(s, id, pay, 9, true)"))
      .head().getSeq[org.apache.spark.sql.Row](0).length === 3,
      "k past the group size returns everything ranked")
    val eArity = intercept[Exception] {
      spark.sql("SELECT graft_topk_rows(1.0D, 1L, 2)").collect()
    }
    assert(eArity.getMessage.contains("expects 4 or 5 arguments"),
      s"named arity error, got: ${eArity.getMessage}")
    val eType = intercept[Exception] {
      spark.sql("SELECT graft_topk_rows('a', 1L, 3, true)").collect()
    }
    assert(eType.getMessage.toLowerCase.contains("graft_topk_rows"),
      s"named type error, got: ${eType.getMessage}")
  }

  test("graft_topk_rows: two different-typed payload calls in ONE " +
      "aggregation keep their own serde — the plan-fixed-schema contract") {
    // the payload schema is fixed per CALL SITE at plan time (the
    // expression is part of the aggregate node, so every partial of one
    // node serializes the same type — partials of different nodes never
    // share buffer slots). This is the invariant that makes the
    // per-payload UnsafeRow serde safe without a schema tag per element;
    // pin it where it would break: two different-typed calls side by
    // side, partials forced, each must round-trip its own type.
    val df = spark.range(600).select(
      (col("id") % 4).as("g"),
      ((col("id") * 31L) % 101L).cast("double").as("s"),
      col("id").as("v"),
      concat(lit("str"), col("id")).as("ps"),
      struct((col("id") * 2).as("a"),
        (col("id") % 7).cast("int").as("b")).as("pt"))
      .repartition(9) // forces serialize/merge of BOTH payload schemas
    val rows = df.groupBy("g").agg(
        expr("graft_topk_rows(s, v, ps, 4, false)").as("t_str"),
        expr("graft_topk_rows(s, v, pt, 4, false)").as("t_struct"),
        expr("graft_topk_ids(s, v, 4, false)").as("ids"))
      .collect()
    assert(rows.length === 4)
    rows.foreach { r =>
      val ids = r.getSeq[Long](3)
      val tStr = r.getSeq[org.apache.spark.sql.Row](1)
      val tStruct = r.getSeq[org.apache.spark.sql.Row](2)
      assert(tStr.map(_.getLong(0)) === ids &&
        tStruct.map(_.getLong(0)) === ids,
        "both payload calls rank identically to the ids form")
      tStr.foreach(t => assert(t.getString(2) === s"str${t.getLong(0)}",
        s"string-payload call must yield its own payloads: $t"))
      tStruct.foreach { t =>
        val p = t.getStruct(2)
        assert(p.getLong(0) === t.getLong(0) * 2 &&
          p.getInt(1) === (t.getLong(0) % 7).toInt,
          s"struct-payload call must yield its own payloads: $t")
      }
    }
  }

  test("graft_min_k agrees with sorted-take on arbitrary data") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    val prop = Prop.forAll(
      Gen.nonEmptyListOf(Gen.choose(-1000L, 1000L)),
      Gen.choose(1, 8)) { (vs, k) =>
      val got = vs.toDF("v").repartition(4)
        .agg(expr(s"graft_min_k(v, $k)")).head().getSeq[Long](0)
      got == vs.sorted.take(k)
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(25), prop)
    assert(res.passed, res.status.toString)
  }

  test("registered functions are callable from SQL text") {
    val r = spark.sql(
      """SELECT graft_vec_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d,
        |       graft_simhash64(array(3L, 3L)) AS s,
        |       size(graft_minhash_band_keys(array(1L, 2L, 3L), 16)) AS b"""
        .stripMargin).head()
    assert(r.getDouble(0) === 11.0)
    assert(r.getLong(1) === 3L) // both inputs have bits 0,1 set -> majority 1s there
    assert(r.getInt(2) === 16)
    // a repeat call registers nothing: each registration builds a fresh
    // ExpressionInfo, so identical info instances mean no name was re-bound
    val registry = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry
    def infos = GraftFunctions.builders.map { case (name, _) =>
      registry.lookupFunction(
        org.apache.spark.sql.catalyst.FunctionIdentifier(name)).orNull }
    val before = infos
    assert(before.forall(_ != null))
    GraftFunctions.ensureRegistered(spark)
    assert(infos.zip(before).forall { case (a, b) => a eq b },
      "a second ensureRegistered call re-registered a function")
  }

  test("non-integer literal band count is rejected, not truncated") {
    val e = intercept[Exception] {
      spark.sql(
        "SELECT graft_minhash_band_keys(array(1L, 2L), 2.5)").head()
    }
    // walk the cause chain: Spark wraps the builder failure in analysis errors
    val msgs = Iterator.iterate(e: Throwable)(_.getCause)
      .takeWhile(_ != null).map(_.getMessage).mkString(" | ")
    assert(msgs.contains("must be an integer literal"),
      s"2.5 must be rejected, not truncated to 2; got: $msgs")
    // integral literal still accepted
    val ok = spark.sql(
      "SELECT size(graft_minhash_band_keys(array(1L, 2L), 8))").head().getInt(0)
    assert(ok === 8)
  }

  test("native kernels survive whole-stage codegen with fallback disabled") {
    // all four kernels now implement doGenCode; fallback=false turns any
    // generated-code compile failure into an exception instead of a silent
    // interpreted fallback
    val strict = spark.newSession()
    strict.conf.set("spark.sql.codegen.fallback", "false")
    GraftFunctions.ensureRegistered(strict)
    val r = strict.sql(
      """SELECT
        |  graft_simhash64(transform(sequence(1, 50), x -> x * 1234567L)) AS s,
        |  size(graft_minhash_band_keys(array(1L, 2L, 3L), 16)) AS b,
        |  size(graft_code_points('héllo wörld')) AS c,
        |  graft_vec_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d,
        |  graft_edit_lb('kitten', 'sitting') AS e,
        |  size(graft_shingle_hashes('a b c d', 3)) AS f,
        |  graft_winnow_positions(array(5L, 3L, 3L, 9L), 2) AS g
        |FROM range(1, 4)""".stripMargin).collect()
    assert(r.length === 3)
    assert(r.head.getInt(1) === 16)
    assert(r.head.getInt(2) === 11)
    assert(r.head.getDouble(3) === 11.0)
    // kitten→sitting: hist diff {k:+1, s:-1, e:+1, i:-1, g:-1} → L1 5, lb 3
    // (≤ the true distance 3, and equals the interpreted eval)
    assert(r.head.getInt(4) === 3)
    assert(r.head.getInt(5) === 2)
    // windows of 2 over [5,3,3,9]: mins at 2 (leftmost of the 3-tie), 2, 3
    assert(r.head.getSeq[Long](6) === Seq(2L, 3L))
    assert(graft.functions.EditLowerBound(
      org.apache.spark.sql.catalyst.expressions.Literal("kitten"),
      org.apache.spark.sql.catalyst.expressions.Literal("sitting"))
      .eval(null) === 3)
    // codegen result must equal the interpreted (nullSafeEval) result
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    val interp = graft.functions.SimHash64(Literal(new GenericArrayData(
      (1L to 50L).map(_ * 1234567L).toArray),
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.LongType))).eval(null)
    assert(r.head.getLong(0) === interp.asInstanceOf[Long])
  }

  test("pq_encode: fused kernel replays the documented op order exactly, " +
      "strict codegen, lowest-index ties") {
    val strict = spark.newSession()
    strict.conf.set("spark.sql.codegen.fallback", "false")
    GraftFunctions.ensureRegistered(strict)
    import strict.implicits._
    val rnd = new scala.util.Random(13)
    val dim = 16
    val subDim = 4
    val cbook = Seq.fill(5)(Seq.fill(dim)(
      math.rint(rnd.nextGaussian() * 1e6) / 1e6))
    val rows = (0L until 40L).map(i =>
      (i, Array.fill(dim)(rnd.nextGaussian().toFloat)))
    val got = rows.toDF("id", "v")
      .select(col("id"), call_function("graft_pq_encode", col("v"),
        typedLit(cbook), lit(subDim)).as("codes"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    // independent driver-side replay of the contract: x², x·c, c² all
    // index-order from 0.0, d = (x² − 2·dot) + c², first-min tie-break
    rows.foreach { case (id, v) =>
      val want = (0 until dim / subDim).map { m =>
        var x2 = 0.0
        (0 until subDim).foreach { i =>
          val x = v(m * subDim + i).toDouble; x2 += x * x
        }
        val ds = cbook.map { c =>
          var dotAcc = 0.0
          var c2 = 0.0
          (0 until subDim).foreach { j =>
            val x = v(m * subDim + j).toDouble
            dotAcc += x * c(m * subDim + j)
            c2 += c(m * subDim + j) * c(m * subDim + j)
          }
          x2 - 2.0 * dotAcc + c2
        }
        ds.indexOf(ds.min)
      }
      assert(got(id) === want, s"row $id")
    }
    // identical codewords: the tie must keep the LOWEST index on every
    // subspace (the oracle's ORDER BY dist, code)
    val dup = Seq((1L, Array.fill(dim)(1.0f))).toDF("id", "v")
      .select(call_function("graft_pq_encode", col("v"),
        typedLit(Seq(cbook.head, cbook.head, cbook.head)), lit(subDim)))
      .collect().head.getSeq[Int](0)
    assert(dup === Seq.fill(dim / subDim)(0))
    // a non-literal codebook argument must be rejected loudly
    val err = intercept[Exception] {
      rows.take(1).toDF("id", "v")
        .select(call_function("graft_pq_encode", col("v"),
          array(array(col("id").cast("double"))), lit(1)))
        .collect()
    }
    assert(err.getMessage.contains("literal"))
  }

  test("pq_error: driver replay of the rounded clamped per-subspace " +
      "error, zero for a vector that IS a codeword, strict codegen") {
    val strict = spark.newSession()
    strict.conf.set("spark.sql.codegen.fallback", "false")
    GraftFunctions.ensureRegistered(strict)
    import strict.implicits._
    val rnd = new scala.util.Random(17)
    val dim = 16
    val subDim = 4
    val cbook = Seq.fill(4)(Seq.fill(dim)(
      math.rint(rnd.nextGaussian() * 1e6) / 1e6))
    val rows = (0L until 30L).map(i =>
      (i, Array.fill(dim)(rnd.nextGaussian().toFloat))) :+
      // a vector that IS codeword 0 exactly: every subspace distance is
      // a tiny float artifact at most, clamped and rounded to 0
      (99L, cbook.head.map(_.toFloat).toArray)
    val got = rows.toDF("id", "v")
      .select(col("id"), call_function("graft_pq_error", col("v"),
        typedLit(cbook), lit(subDim)).as("e"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got(99L) === 0.0)
    rows.foreach { case (id, v) =>
      val want = (0 until dim / subDim).map { m =>
        val best = cbook.map { c =>
          var x2 = 0.0
          var dotAcc = 0.0
          var c2 = 0.0
          (0 until subDim).foreach { j =>
            val x = v(m * subDim + j).toDouble
            x2 += x * x
            dotAcc += x * c(m * subDim + j)
            c2 += c(m * subDim + j) * c(m * subDim + j)
          }
          x2 - 2.0 * dotAcc + c2
        }.min
        math.floor(math.max(best, 0.0) * 1e6 + 0.5) / 1e6
      }.foldLeft(0.0)(_ + _)
      assert(got(id) === want, s"row $id")
    }
  }

  test("shingle_hashes equals the composed per-shingle code-point fold") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    GraftFunctions.ensureRegistered(spark)
    // adversarial fixtures: runs of spaces (empty tokens), leading/trailing
    // spaces, non-ASCII incl. an astral (surrogate-pair) code point,
    // short docs below k, the empty string
    val texts = Seq(
      "the quick brown fox jumps",
      "a  double  spaced   doc here",
      "  leading and trailing  ",
      "héllo wörld déjà vu encore",
      "astral 😀 plane mixed in text",
      "one two", "solo", "", "   ",
      "x y z") ++ (1 to 50).map { i =>
      val rnd = new scala.util.Random(i)
      Seq.fill(3 + rnd.nextInt(20))("t" + rnd.nextInt(30)).mkString(" ")
    }
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val composed = df
      .withColumn("toks", split(trim(col("text")), " "))
      .withColumn("n_tokens", size(col("toks")))
      .filter(col("n_tokens") >= 3)
      .withColumn("hs", transform(
        sequence(lit(1), col("n_tokens") - 2), i =>
          aggregate(call_function("graft_code_points",
            concat_ws(" ",
              element_at(col("toks"), i),
              element_at(col("toks"), i + 1),
              element_at(col("toks"), i + 2))), lit(0L),
            (acc, x) => (acc * lit(31L) + x) % lit(1000000007L))))
      .select("doc_id", "hs").as[(Long, Seq[Long])].collect().toMap
    val kernel = df
      .withColumn("hs",
        call_function("graft_shingle_hashes", col("text"), lit(3)))
      .select("doc_id", "hs").as[(Long, Seq[Long])].collect().toMap
    composed.foreach { case (id, hs) =>
      assert(kernel(id) === hs, s"doc $id: kernel != composed fold")
    }
    // below-k and empty docs yield an empty array, not a crash
    kernel.filterKeys(id => !composed.contains(id)).foreach {
      case (id, hs) => assert(hs.isEmpty, s"doc $id must be empty")
    }
  }

  test("winnow_positions equals the composed per-window min selection " +
      "on arbitrary sequences") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    GraftFunctions.ensureRegistered(spark)
    val rnd = new scala.util.Random(42)
    // small value alphabet forces plenty of ties → exercises the
    // leftmost-tie rule; lengths 1..30 cross the below-one-window edge
    val seqs = (0 until 200).map { i =>
      (i.toLong, Seq.fill(1 + rnd.nextInt(30))(rnd.nextInt(6).toLong))
    }
    val df = seqs.toDF("id", "hs")
    val w = 4
    val composed = df
      .withColumn("n_win", greatest(size(col("hs")) - (w - 1), lit(1)))
      .withColumn("sel", array_distinct(
        transform(sequence(lit(1), col("n_win")), i =>
          (i - 1).cast("long") +
            array_position(slice(col("hs"), i, lit(w)),
              array_min(slice(col("hs"), i, lit(w)))))))
      .select("id", "sel").as[(Long, Seq[Long])].collect().toMap
    val kernel = df
      .withColumn("sel",
        call_function("graft_winnow_positions", col("hs"), lit(w)))
      .select("id", "sel").as[(Long, Seq[Long])].collect().toMap
    seqs.foreach { case (id, hs) =>
      assert(kernel(id) === composed(id),
        s"id $id hs=$hs: deque selection != composed selection")
    }
    // empty sequence → empty selection, not a crash
    val empty = Seq((0L, Seq.empty[Long])).toDF("id", "hs")
      .select(call_function("graft_winnow_positions", col("hs"), lit(w)))
      .as[Seq[Long]].collect().head
    assert(empty.isEmpty)
  }

  test("shingle_hashes k=1 matches the composed form on empty and " +
      "all-space text (one empty token, hash 0)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    GraftFunctions.ensureRegistered(spark)
    // split(trim(''), ' ') = [''] in Spark — one empty token, so k=1 must
    // emit its hash [0], exactly like the composed transform/fold
    val df = Seq((0L, ""), (1L, "   "), (2L, "a"), (3L, "a b"))
      .toDF("doc_id", "text")
    val got = df.select(col("doc_id"),
      call_function("graft_shingle_hashes", col("text"), lit(1)).as("hs"))
      .as[(Long, Seq[Long])].collect().toMap
    val composed = df
      .withColumn("toks", split(trim(col("text")), " "))
      .withColumn("hs", transform(col("toks"), t =>
        aggregate(call_function("graft_code_points", t), lit(0L),
          (acc, x) => (acc * lit(31L) + x) % lit(1000000007L))))
      .select("doc_id", "hs").as[(Long, Seq[Long])].collect().toMap
    (0L to 3L).foreach(id => assert(got(id) === composed(id), s"doc $id"))
    assert(got(0L) === Seq(0L) && got(1L) === Seq(0L))
  }

  test("minhash_band_keys over an empty array yields an empty key set, " +
      "and out-of-Int-range literal args error instead of wrapping") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    GraftFunctions.ensureRegistered(spark)
    // no shingles → no signature → no band keys (folding the untouched
    // Long.MaxValue minima would overflow into negative "keys")
    val empty = Seq(Tuple1(Seq.empty[Long])).toDF("hs")
      .select(call_function("graft_minhash_band_keys", col("hs"), lit(16)))
      .as[Seq[Long]].collect().head
    assert(empty.isEmpty)
    // 2^32 + 1 truncates to 1 via intValue() — must error loudly
    val ex = intercept[Exception] {
      spark.sql("SELECT graft_shingle_hashes('a b c', 4294967297L)").collect()
    }
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    assert(causes(ex).exists(c => c.getMessage != null &&
      c.getMessage.contains("out of Int range")), s"got: $ex")
  }

  test("minhash_band_keys and simhash64 reject null hash elements " +
      "loudly (silent 0 would fabricate minima / down-votes)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    GraftFunctions.ensureRegistered(spark)
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    val df = Seq(Tuple1(Seq[java.lang.Long](1L, null, 3L))).toDF("hs")
    val e1 = intercept[Exception] {
      df.select(call_function("graft_minhash_band_keys", col("hs"), lit(16)))
        .collect()
    }
    assert(causes(e1).exists(c => c.getMessage != null &&
      c.getMessage.contains("null element")), s"got: $e1")
    val e2 = intercept[Exception] {
      df.select(call_function("graft_simhash64", col("hs"))).collect()
    }
    assert(causes(e2).exists(c => c.getMessage != null &&
      c.getMessage.contains("null element")), s"got: $e2")
  }

  test("pq functions accept a SQL-text codebook (foldable, not yet a " +
      "Literal at analysis time) and arity errors are named") {
    GraftFunctions.ensureRegistered(spark)
    // array(array(...)) in SQL is CreateArray when the builder runs —
    // the foldable arm must evaluate it, or pure-SQL users are locked out
    val codes = spark.sql(
      """SELECT graft_pq_encode(array(0.0D, 1.0D),
        |  array(array(0.0D, 1.0D), array(5.0D, 5.0D)), 2) AS c"""
        .stripMargin).head().getSeq[Int](0)
    assert(codes === Seq(0), s"nearest codeword must be row 0: $codes")
    // wrong arity: a named message, not a bare IndexOutOfBounds
    val e = intercept[Exception] {
      spark.sql("SELECT graft_vec_dot(array(1.0D))").head()
    }
    val msgs = Iterator.iterate(e: Throwable)(_.getCause)
      .takeWhile(_ != null).map(String.valueOf(_: Any)).mkString(" | ")
    assert(msgs.contains("expects 2 arguments"), s"got: $msgs")
  }

  test("pq codebook with a NULL inner array is rejected with the named " +
      "error, not an NPE") {
    GraftFunctions.ensureRegistered(spark)
    // passes the outer sameType + non-null checks; the per-row extraction
    // must raise the codebook contract error instead of NPE-ing
    val e = intercept[Exception] {
      spark.sql(
        """SELECT graft_pq_encode(array(0.0D, 1.0D),
          |  array(array(0.0D, 1.0D), CAST(NULL AS array<double>)), 2)"""
          .stripMargin).head()
    }
    val msgs = Iterator.iterate(e: Throwable)(_.getCause)
      .takeWhile(_ != null).map(String.valueOf(_: Any)).mkString(" | ")
    assert(msgs.contains("null inner array"), s"got: $msgs")
    assert(!msgs.contains("NullPointerException"), s"got: $msgs")
  }

  test("winnow_positions rejects null hash elements loudly") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    GraftFunctions.ensureRegistered(spark)
    // ArrayData's primitive accessor would silently read a null slot as 0
    // and select it as every window's minimum — the kernel must throw
    val ex = intercept[Exception] {
      Seq(Tuple1(Seq[java.lang.Long](null, 5L, 7L))).toDF("hs")
        .select(call_function("graft_winnow_positions", col("hs"), lit(2)))
        .collect()
    }
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    assert(causes(ex).exists(_.getMessage != null) &&
      causes(ex).exists(c => c.getMessage != null &&
        c.getMessage.contains("null hash")), s"unexpected error: $ex")
  }

  test("edit_lb is a true lower bound on Levenshtein distance") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) =>
        if (i == 0) j else if (j == 0) i else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j), d(i)(j - 1)) + 1,
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    def lb(a: String, b: String): Int =
      graft.functions.EditLowerBound(
        org.apache.spark.sql.catalyst.expressions.Literal(a),
        org.apache.spark.sql.catalyst.expressions.Literal(b))
        .eval(null).asInstanceOf[Int]
    // small alphabet maximizes bin collisions — the regime where an
    // over-tight bound would break first
    val sGen = Gen.listOf(Gen.oneOf('a', 'b', 'c', ' ')).map(_.mkString)
    val prop = Prop.forAll(sGen, sGen)((a, b) => lb(a, b) <= lev(a, b))
    val res = SCTest.check(SCTest.Parameters.default
      .withMinSuccessfulTests(300), prop)
    assert(res.passed, res.status.toString)
  }

  test("hist_lb over edit_hist columns is value-identical to edit_lb " +
      "(the q112 per-pair factoring), codegen AND interpreted") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    // unicode included: the factoring must agree on multi-byte code
    // points and surrogate pairs too ("😀" = one emoji)
    val sGen = Gen.listOf(Gen.oneOf("a", "b", "z", " ", "é",
      "😀")).map(_.mkString)
    val prop = Prop.forAll(sGen, sGen) { (a, b) =>
      val r = spark.sql(
        s"""SELECT graft_edit_lb(${sqlStr(a)}, ${sqlStr(b)}) v,
           |  graft_hist_lb(graft_edit_hist(${sqlStr(a)}),
           |    graft_edit_hist(${sqlStr(b)})) w""".stripMargin).head()
      r.getInt(0) == r.getInt(1)
    }
    val res = SCTest.check(SCTest.Parameters.default
      .withMinSuccessfulTests(60), prop)
    assert(res.passed, res.status.toString)
    // null / corrupt discipline: null text nulls the histogram, which
    // nulls the bound — the same drop edit_lb's null-propagation causes;
    // a mismatched histogram width reads NULL, never a number
    val r = spark.sql(
      """SELECT graft_hist_lb(graft_edit_hist(CAST(NULL AS STRING)),
        |  graft_edit_hist('x')) a,
        |  graft_hist_lb(array(1, 2), array(1, 2, 3)) b""".stripMargin)
      .head()
    assert(r.isNullAt(0) && r.isNullAt(1))
    // interpreted parity (FunctionsSpec convention: eval must match gen)
    val viaEval = graft.functions.HistL1LowerBound(
      graft.functions.CodePointHist32(
        org.apache.spark.sql.catalyst.expressions.Literal("kitten")),
      graft.functions.CodePointHist32(
        org.apache.spark.sql.catalyst.expressions.Literal("sitting")))
      .eval(null).asInstanceOf[Int]
    val viaEditLb = graft.functions.EditLowerBound(
      org.apache.spark.sql.catalyst.expressions.Literal("kitten"),
      org.apache.spark.sql.catalyst.expressions.Literal("sitting"))
      .eval(null).asInstanceOf[Int]
    assert(viaEval === viaEditLb)
  }

  private def sqlStr(s: String): String =
    "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"

  test("each typed constructor builds the expression its SQL name " +
      "resolves to, and answers the same") {
    val cb = Array(Array(0.5, -1.0), Array(2.0, 0.25))
    val cbSql = "array(array(0.5d, -1.0d), array(2.0d, 0.25d))"
    val df = Seq(
      (Seq(11L, 22L, 33L), "a b c d", 1.0, 7L, Seq(1.0, 2.0)),
      (Seq(5L, 4L), "x  y", 3.0, 8L, Seq(-1.0, 0.5)))
      .toDF("hs", "text", "score", "id", "v")
      .withColumn("bf", GraftFunctions.bloomAgg(col("id"), 64, 3)
        .over(org.apache.spark.sql.expressions.Window.partitionBy()))
    val G = GraftFunctions
    val pairs = Seq(
      G.minhashBandKeys(col("hs"), 16) -> "graft_minhash_band_keys(hs, 16)",
      G.simhash64(col("hs")) -> "graft_simhash64(hs)",
      G.minK(col("id"), 3) -> "graft_min_k(id, 3)",
      G.topKIdsByScore(col("score"), col("id"), 1, true) ->
        "graft_topk_ids(score, id, 1, true)",
      G.topKRowsByScore(col("score"), col("id"), 2, false) ->
        "graft_topk_rows(score, id, 2, false)",
      G.topKRowsByScore(col("score"), col("id"), col("text"), 2, false) ->
        "graft_topk_rows(score, id, text, 2, false)",
      G.vecDot(col("v"), col("v")) -> "graft_vec_dot(v, v)",
      G.editLb(col("text"), lit("a b")) -> "graft_edit_lb(text, 'a b')",
      G.editHist(col("text")) -> "graft_edit_hist(text)",
      G.histLb(G.editHist(col("text")), G.editHist(lit("a b"))) ->
        "graft_hist_lb(graft_edit_hist(text), graft_edit_hist('a b'))",
      G.codePoints(col("text")) -> "graft_code_points(text)",
      G.shingleHashes(col("text"), 2) -> "graft_shingle_hashes(text, 2)",
      G.winnowPositions(col("hs"), 2) -> "graft_winnow_positions(hs, 2)",
      G.bloomAgg(col("id"), 64, 3) -> "graft_bloom_agg(id, 64, 3)",
      G.bloomContains(col("bf"), col("id")) ->
        "graft_bloom_contains(bf, id)",
      G.cellDists(col("v"), cb) -> s"graft_cell_dists(v, $cbSql)",
      G.pqEncode(col("v"), cb, 1) -> s"graft_pq_encode(v, $cbSql, 1)",
      G.pqError(col("v"), cb, 1) -> s"graft_pq_error(v, $cbSql, 1)")
    for ((typed, sql) <- pairs) {
      val a = df.select(typed.as("k"))
      val b = df.select(expr(sql).as("k"))
      assert(a.queryExecution.analyzed.sameResult(b.queryExecution.analyzed),
        s"$sql:\n${a.queryExecution.analyzed}\nvs\n${b.queryExecution.analyzed}")
      assert(a.collect() === b.collect(), sql)
    }
  }

  test("GraftExtensions injection path registers every graft function") {
    import org.apache.spark.sql.SparkSession
    // `spark.sql.extensions` is a STATIC conf — on a shared SparkContext
    // it can't be set per-session, so exercise the same injection hook
    // through the public builder API (what the config resolves to)
    val prev = spark
    SparkSession.clearDefaultSession()
    SparkSession.clearActiveSession()
    try {
      val s = SparkSession.builder()
        .withExtensions(new graft.functions.GraftExtensions())
        .getOrCreate()
      assert(s ne prev)
      assert(s.sql("SELECT size(graft_minhash_band_keys(array(1L), 8)) n")
        .head().getInt(0) === 8)
      // aggregate + scalar pair came through the same injection
      val bf = s.sql("SELECT graft_bloom_agg(id, 64, 2) AS b FROM range(5)")
        .head().getAs[Array[Byte]]("b")
      assert(graft.functions.Bloom.mightContain(bf, 3L))
      assert(!s.sql("SELECT graft_bloom_contains(X'00000002000000080000000000000000', 3L) AS c")
        .head().getBoolean(0))
    } finally {
      SparkSession.setDefaultSession(prev)
      SparkSession.setActiveSession(prev)
    }
  }

  test("registerAll exposes every testdata table as a SQL view") {
    graft.Tables.registerAll(spark, sfDir)
    graft.Tables.names.foreach { n =>
      assert(spark.sql(s"SELECT count(*) FROM $n").head().getLong(0) > 0,
        s"view $n must be queryable")
    }
  }

  test("rolling fingerprint matches an independent model on arbitrary Unicode") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    import spark.implicits._
    val P = 1000000007L
    // arbitrary scalar values including astral planes (surrogate range
    // excluded — not valid scalar values); exercises the codegen'd
    // CodePoints kernel + the aggregate fold against plain-JVM math
    val cpGen = Gen.frequency(
      6 -> Gen.choose(0x20, 0x7E),
      2 -> Gen.choose(0xA0, 0xFFFD).suchThat(c => c < 0xD800 || c > 0xDFFF),
      1 -> Gen.choose(0x10000, 0x10FFFF))
    val strGen = Gen.listOfN(24, cpGen)
      .map(cps => new String(cps.toArray, 0, cps.length))
    val prop = Prop.forAll(Gen.listOfN(8, strGen)) { strs =>
      val got = strs.toDF("t")
        .select(aggregate(call_function("graft_code_points", col("t")),
          lit(987654321L), (a, c) => (a * lit(31L) + c) % lit(P)))
        .collect().map(_.getLong(0)).toSeq
      val want = strs.map(_.codePoints().toArray.foldLeft(987654321L)(
        (a, c) => (a * 31L + c) % P))
      got == want
    }
    val res = SCTest.check(SCTest.Parameters.default
      .withMinSuccessfulTests(10), prop)
    assert(res.passed, res.status.toString)
  }

  test("code_points returns true Unicode code points, incl. non-ASCII") {
    val r = spark.sql(
      "SELECT graft_code_points('aé中'), graft_code_points('')")
      .head()
    assert(r.getSeq[Long](0) === Seq(97L, 233L, 20013L),
      "must not collapse non-ASCII to '?' (63) like ascii() does")
    assert(r.getSeq[Long](1) === Seq.empty)
    // the q34 rolling hash over those code points, hand-computed
    val fp = Seq(97L, 233L, 20013L)
      .foldLeft(0L)((acc, c) => (acc * 31 + c) % 1000000007L)
    val got = spark.sql(
      """SELECT aggregate(graft_code_points('aé中'), 0L,
        |  (acc, x) -> (acc * 31L + x) % 1000000007L)""".stripMargin
        )
      .head().getLong(0)
    assert(got === fp)
  }

  test("corrupt-input discipline: vec_dot / pq_encode / pq_error read " +
      "NULL on ragged or null-element vectors — codegen AND interpreted") {
    // raw-user-column kernels must not kill a scan on one corrupt row
    // (the round-9 zero-norm hazard class); NULL is not silent corruption
    // because it is excluded from every max/threshold/top-k downstream.
    // Pipeline-array kernels (minhash/simhash/winnow) stay fail-loud —
    // their inputs are engine-constructed, a null there is an engine bug.
    val strict = spark.newSession()
    strict.conf.set("spark.sql.codegen.fallback", "false")
    GraftFunctions.ensureRegistered(strict)
    // arguments ride on col("id") so ConstantFolding cannot pre-evaluate
    // them — the NULLs here are produced by the GENERATED code
    val r = strict.range(1).select(
      call_function("graft_vec_dot",
        array(col("id").cast("double"), lit(2.0)),
        array(lit(3.0))).as("ragged"),
      call_function("graft_vec_dot",
        array(col("id").cast("double"), expr("CAST(NULL AS DOUBLE)")),
        array(lit(3.0), lit(4.0))).as("null_elem"),
      call_function("graft_pq_encode",
        array(col("id").cast("double"), lit(2.0), lit(3.0)),
        expr("array(array(0.0D, 1.0D))"), lit(1)).as("pq_ragged"),
      call_function("graft_pq_encode",
        array(col("id").cast("double"), expr("CAST(NULL AS DOUBLE)")),
        expr("array(array(0.0D, 1.0D))"), lit(1)).as("pq_null_elem"),
      call_function("graft_pq_error",
        array(col("id").cast("double"), lit(2.0), lit(3.0)),
        expr("array(array(0.0D, 1.0D))"), lit(1)).as("pe_ragged"),
      call_function("graft_pq_encode",
        array(col("id").cast("double"), lit(2.0), lit(3.0)),
        expr("array(array(0.0D, 1.0D, 3.0D))"), lit(2)).as("pq_indivisible"),
      call_function("graft_vec_dot",
        array(col("id").cast("double") + 1.0, lit(2.0)),
        array(lit(3.0), lit(4.0))).as("well_formed")).head()
    (0 to 5).foreach(i =>
      assert(r.isNullAt(i), s"column $i must read NULL on corrupt input"))
    assert(r.getDouble(6) === 11.0) // 1*3 + 2*4 — good rows still score
    // interpreted (nullSafeEval) twins of the same cases
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.{ArrayType, DoubleType}
    import graft.functions.{PqEncode, PqError, VecDot}
    def arr(xs: Seq[java.lang.Double]) =
      Literal.create(xs, ArrayType(DoubleType))
    assert(VecDot(arr(Seq(1.0, 2.0)), arr(Seq(3.0))).eval(null) == null)
    assert(VecDot(arr(Seq(1.0, null)), arr(Seq(3.0, 4.0))).eval(null) == null)
    assert(PqEncode(arr(Seq(1.0, 2.0, 3.0)), 1, Seq(Seq(0.0, 1.0)))
      .eval(null) == null)
    assert(PqError(arr(Seq(1.0, 2.0, 3.0)), 1, Seq(Seq(0.0, 1.0)))
      .eval(null) == null)
    assert(VecDot(arr(Seq(1.0, 2.0)), arr(Seq(3.0, 4.0))).eval(null) === 11.0)
  }

  test("vec_dot accepts mixed float/double arrays") {
    val one = Seq((Array(1.0f, 2.0f), Array(3.0, 4.0))).toDF("a", "b")
      .select(call_function("graft_vec_dot", col("a"), col("b")))
      .head().getDouble(0)
    assert(one === 11.0)
  }

  test("minhash band-key agreement tracks Jaccard similarity") {
    // identical sets → all bands equal; disjoint sets → (w.h.p.) none
    val a = (1L to 300L).toArray
    val same = a.clone()
    val disjoint = (1001L to 1300L).toArray
    // 290 shared of 320 union -> J = 0.906
    val near = ((1L to 290L) ++ (2001L to 2020L)).toArray
    val df = Seq(("a", a), ("same", same), ("dis", disjoint), ("near", near))
      .toDF("name", "shs")
      .select(col("name"),
        call_function("graft_minhash_band_keys", col("shs"), lit(16)).as("bh"))
    val keys = df.collect()
      .map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    assert(keys("a") === keys("same"))
    assert(keys("a").zip(keys("dis")).count { case (x, y) => x == y } === 0)
    val nearMatches = keys("a").zip(keys("near"))
      .count { case (x, y) => x == y }
    // P(band match) = J^4 = (290/320)^4 ≈ 0.674 per band → expect ~10.8/16;
    // require ≥ 4 as a loose flake-proof floor
    assert(nearMatches >= 4, s"only $nearMatches bands matched at J≈0.9")
  }

  test("simhash: identical sets collide, near sets are close, disjoint far") {
    val a = (1L to 200L).toArray
    val near = ((1L to 190L) ++ (5001L to 5010L)).toArray
    val dis = (9001L to 9200L).toArray
    // hash ids first, as the production path does — simhash votes expect
    // well-mixed bits, not small sequential integers
    val h = Seq(("a", a), ("same", a.clone()), ("near", near), ("dis", dis))
      .toDF("name", "ids")
      .select(col("name"), call_function("graft_simhash64",
        expr("transform(ids, t -> xxhash64(t))")))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    def ham(x: Long, y: Long) = java.lang.Long.bitCount(x ^ y)
    assert(ham(h("a"), h("same")) === 0)
    assert(ham(h("a"), h("near")) < ham(h("a"), h("dis")),
      "a 95%-overlapping set must be closer than a disjoint one")
    assert(ham(h("a"), h("dis")) > 10, "disjoint sets should differ widely")
  }
}
