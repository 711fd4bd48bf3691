package graft.ops

import graft.Tables
import graft.functions.GraftFunctions
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, Decimal, FloatType}

/** Similarity search over the `embeddings` table (`embedding: array<float>`,
  * fixed dim 64).
  *
  * The dot product is a lambda `aggregate` over `zip_with` — a compact
  * expression whole-stage codegen can JIT (an unrolled 64-term element_at
  * chain exceeds the JIT method-size budget and falls back to interpreted
  * eval), and the foldLeft addition order makes the float math bit-identical
  * to the DuckDB oracle's left-associated unrolled SQL twin.
  *
  * Scale design: brute-force top-k broadcasts the query vector and plans as
  * scan → project → TakeOrderedAndProject (no shuffle of the corpus); the
  * LSH variant buckets by random-hyperplane signature so candidate
  * generation is a hash-shuffle, not a cross join.
  */
object SimilarityOps {

  val Dim = 64

  private def emb(s: SparkSession, dir: String): DataFrame =
    Tables.t(s, dir, "embeddings")

  /** Dot product of two array<float|double> columns in double, summed in
    * index order — bit-identical to the oracle's left-associated unrolled
    * SQL sum. Native kernel (graft.functions.VecDot): one primitive loop
    * over ArrayData, no boxed per-element intermediates.
    */
  def dot(a: Column, b: Column): Column = GraftFunctions.vecDot(a, b)

  /** Unrolled L2 norm. */
  def norm(a: Column): Column = sqrt(dot(a, a))

  /** A zero-norm vector has no direction, so its cosine is NULL —
    * excluded from maxes, thresholds and top-k cuts (the q41 JVM kernel's
    * no-direction discipline at SQL level). `try_divide` instead of `/`:
    * Spark 4's default ANSI mode THROWS on a double 0/0, so one
    * degenerate vector in a corpus would otherwise kill every scan-level
    * cosine query; try is also conf-robust (null under ANSI on or off,
    * matching the oracle twins' nullif).
    */
  def cosine(a: Column, b: Column): Column =
    try_divide(dot(a, b), norm(a) * norm(b))

  /** SQL twin of [[dot]]: identical term order for bit-exact float math. */
  private[ops] def sqlDot(a: String, b: String): String =
    (1 to Dim).map(i =>
      s"CAST($a[$i] AS DOUBLE) * CAST($b[$i] AS DOUBLE)").mkString(" + ")

  private[ops] def sqlNorm(a: String): String = s"sqrt(${sqlDot(a, a)})"

  /** Brute-force cosine top-k for one query vector (vec_id 0): broadcast the
    * query row, one scan, TakeOrderedAndProject top-10.
    */
  def annTopK(s: SparkSession, dir: String): DataFrame =
    annTopKOn(emb(s, dir))

  /** `embDf` needs (vec_id, label, embedding); `queryId` selects the query
    * vector (the q40 registration pins (0, 10) for the oracle).
    */
  def annTopKOn(embDf: DataFrame, queryId: Long = 0L, k: Int = 10): DataFrame = {
    val q = broadcast(embDf.filter(col("vec_id") === queryId)
      .select(col("embedding").as("q_emb")))
    embDf.crossJoin(q)
      .filter(col("vec_id") =!= queryId)
      .select(col("vec_id"), col("label"),
        round(cosine(col("embedding"), col("q_emb")), 6).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id").asc)
      .limit(k)
  }

  /** Exact-block-scan sizes above this leave the exact all-pairs kernel
    * for LSH-bucket subdivision (the q65 `AcThreshold` pattern made
    * executable for the similarity family): an exact block is O(block²)
    * cosines, so a 50k-vector block is ~1.25B pairs in ONE task — the
    * 787 s / 212 s entries of the round-3 100× sweep. Both harness scales
    * sit far below the gate (sf0.1's largest label block is 218 vectors),
    * so the oracle-checked arm is the exact scan; the 100× sweep's
    * ~20k-vector blocks dispatch.
    */
  private[ops] val MaxExactBlock = 4096

  /** Top-50 most-similar pairs within each label block (exact, pairwise).
    *
    * Implemented as a per-label `flatMapGroups` kernel rather than a
    * self-join: the all-pairs scan runs as tight primitive loops over a
    * float matrix with a bounded top-k buffer per block, so only ≤50 rows
    * per label ever leave the executor — a join would materialize every
    * candidate pair through the operator pipeline (~60× slower at the 10×
    * corpus). Cosine math is identical to [[dot]] (index-order double
    * accumulation) and rounding matches Spark's `round` (HALF_UP), so the
    * DuckDB oracle still hash-matches exactly.
    *
    * SIZE-GATED (executable, not prose): a per-block count rides in via a
    * broadcast join, and blocks above `maxExactBlock` are subdivided by
    * the 16-bit hyperplane signature — the q42 screen — so the kernel's
    * quadratic term is bounded by the bucket size the caller chose, not
    * by the corpus's largest natural block. Blocks at or below the gate
    * are scanned exactly, so small-block results (and the oracle corpus)
    * are bit-identical to the exact form; `exact = true` forces the
    * exact scan everywhere (validation mode).
    */
  def cosineTopPairs(s: SparkSession, dir: String): DataFrame =
    cosineTopPairsOn(emb(s, dir))

  /** `embDf` needs (vec_id, embedding) plus whatever `blockCol` reads.
    * `blockCol` is the comparison-blocking key (default: the `label`
    * column); oversized blocks subdivide by LSH signature per the gate
    * above.
    */
  def cosineTopPairsOn(embDf: DataFrame, k: Int = 50,
      blockCol: Column = col("label"),
      maxExactBlock: Int = MaxExactBlock,
      exact: Boolean = false): DataFrame = {
    val session = embDf.sparkSession
    import session.implicits._
    val blocked = embDf
      .select(blockCol.cast("int").as("label"), col("vec_id"), col("embedding"))
      // the typed kernel rides a (Int, Long, Long, Array[Float]) encoder
      // whose null asserts would kill the scan on ONE corrupt row: a null
      // block key / vec_id has no pair identity, and a null-element vector
      // has no cosine (the vec_dot corrupt-input discipline — q110 is the
      // audit face). NaN/Inf ELEMENTS stay: the kernel's score-0 arm
      // handles those.
      .filter(col("label").isNotNull && col("vec_id").isNotNull &&
        col("embedding").isNotNull &&
        !exists(col("embedding"), x => x.isNull))
    val keyed = withSubBucket(blocked, maxExactBlock, exact)
      .select(col("label"), col("_sub"), col("vec_id"), col("embedding"))
    val topPerLabel = keyed
      .as[(Int, Long, Long, Array[Float])]
      .groupByKey(t => (t._1, t._2))
      .flatMapGroups { (key: (Int, Long),
          rs: Iterator[(Int, Long, Long, Array[Float])]) =>
        val label = key._1
        val it = rs.map(t => (t._3, t._4))
        val rows = it.toArray.sortBy(_._1)
        // CONTRACT identical vectors before the quadratic scan: byte-equal
        // embeddings produce bit-identical cosines against every candidate
        // (same arithmetic), so the pair scan runs over DISTINCT vectors —
        // d² dot products instead of n² — and duplicate-clique pairs
        // expand from group structure. On a dup-dense block (1000 copies
        // per vector) this is the q37-style contraction, done exactly,
        // in-memory, where the full tie order is visible. All copies of a
        // vector share this (label, sub) block: identical embeddings have
        // identical signatures.
        val order = scala.collection.mutable.LinkedHashMap
          .empty[scala.collection.immutable.ArraySeq[Float],
            scala.collection.mutable.ArrayBuffer[Long]]
        rows.foreach { case (id, emb) =>
          order.getOrElseUpdate(
            scala.collection.immutable.ArraySeq.unsafeWrapArray(emb),
            scala.collection.mutable.ArrayBuffer.empty[Long]) += id
        }
        // members arrive sorted by id (rows are), so each buffer is sorted
        val members = order.values.toArray
        val embs = order.keysIterator.map(_.toArray).toArray
        val d = embs.length
        val nrm = embs.map { e =>
          var acc = 0.0
          var i = 0
          while (i < e.length) { acc += e(i).toDouble * e(i).toDouble; i += 1 }
          math.sqrt(acc)
        }
        def rnd(x: Double): Double =
          BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        def cosOf(i: Int, j: Int): Double = {
          val (va, vb) = (embs(i), embs(j))
          // a RAGGED pair (dims differ inside one label block — corrupt
          // rows the q110 audit reports) has no cosine: score 0, the same
          // never-a-top-pair arm as zero-norm below, instead of an
          // index-out-of-bounds killing the whole block scan
          if (va.length != vb.length) return 0.0
          var acc = 0.0
          var t = 0
          while (t < va.length) { acc += va(t).toDouble * vb(t).toDouble; t += 1 }
          val r = acc / (nrm(i) * nrm(j))
          // a zero-norm (or NaN/Inf-element) vector has no direction: score
          // 0 — never a top pair — instead of feeding BigDecimal a NaN and
          // killing the whole job (q110's audit exists to surface these)
          if (java.lang.Double.isFinite(r)) rnd(r) else 0.0
        }
        // candidates = distinct pairs (i < j) plus each m≥2 group's self
        // pair; a candidate expands to ≥ 1 result pairs, and a result pair
        // in the block top-k has < k candidates strictly above it — so
        // only candidates with cos ≥ the k-th-best candidate cos matter.
        // Pass 1: that threshold, via a size-k min-heap on cos alone.
        val cosHeap = scala.collection.mutable.PriorityQueue
          .empty[Double](Ordering[Double].reverse)
        def offerCos(c: Double): Unit =
          if (cosHeap.size < k) cosHeap.enqueue(c)
          else if (c > cosHeap.head) { cosHeap.dequeue(); cosHeap.enqueue(c) }
        var i = 0
        while (i < d) {
          if (members(i).length >= 2) offerCos(cosOf(i, i))
          var j = i + 1
          while (j < d) { offerCos(cosOf(i, j)); j += 1 }
          i += 1
        }
        val cMin = if (cosHeap.isEmpty) Double.NegativeInfinity else cosHeap.head
        // Pass 2: re-scan; qualifying candidates expand to their k smallest
        // (a, b) pairs — endpoints of any top-k pair lie among the k+1
        // smallest ids of each side (a later id would be preceded by k+1
        // smaller same-shape pairs) — into the final (cos, a, b) heap.
        val heap = scala.collection.mutable.PriorityQueue
          .empty[(Double, Long, Long)](
            Ordering.by[(Double, Long, Long), (Double, Long, Long)] {
              case (c, a, b) => (-c, a, b)
            }) // min-heap on rank order: worst element on top
        def offer(cand: (Double, Long, Long)): Unit =
          if (heap.size < k) heap.enqueue(cand)
          else {
            val w = heap.head
            val better = cand._1 > w._1 ||
              (cand._1 == w._1 && (cand._2 < w._2 ||
                (cand._2 == w._2 && cand._3 < w._3)))
            if (better) { heap.dequeue(); heap.enqueue(cand) }
          }
        def expandSelf(c: Double, g: Int): Unit = {
          val ms = members(g)
          val lim = math.min(ms.length, k + 1)
          var x = 0
          while (x < lim) {
            var y = x + 1
            while (y < lim) { offer((c, ms(x), ms(y))); y += 1 }
            x += 1
          }
        }
        def expandCross(c: Double, g: Int, h: Int): Unit = {
          val (ma, mb) = (members(g), members(h))
          val (la, lb) = (math.min(ma.length, k + 1), math.min(mb.length, k + 1))
          var x = 0
          while (x < la) {
            var y = 0
            while (y < lb) {
              val (p, q) = (ma(x), mb(y))
              offer((c, math.min(p, q), math.max(p, q)))
              y += 1
            }
            x += 1
          }
        }
        i = 0
        while (i < d) {
          if (members(i).length >= 2) {
            val c = cosOf(i, i)
            if (c >= cMin) expandSelf(c, i)
          }
          var j = i + 1
          while (j < d) {
            val c = cosOf(i, j)
            if (c >= cMin) expandCross(c, i, j)
            j += 1
          }
          i += 1
        }
        heap.toSeq.map { case (c, a, b) => (label, a, b, c) }.iterator
      }
      .toDF("label", "a_id", "b_id", "cos_sim")
    topPerLabel
      .orderBy(col("cos_sim").desc, col("a_id").asc, col("b_id").asc)
      .limit(k)
  }

  // ---- LSH-bucketed ANN (scale path) -------------------------------------

  private val Planes = 16

  /** Deterministic pseudo-random hyperplanes, precomputed driver-side with
    * splitmix64 from a fixed seed and embedded as literals — the signature
    * expression is then a pure codegen'd multiply-add chain (no per-row
    * hashing, reproducible across partitions, runs, and cluster sizes).
    */
  private val planes: Array[Array[Double]] = {
    var state = 0x9E3779B97F4A7C15L // fixed seed
    def next(): Double = {
      state += 0x9E3779B97F4A7C15L
      var z = state
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z = z ^ (z >>> 31)
      (z >>> 11).toDouble / (1L << 53).toDouble - 0.5
    }
    Array.fill(Planes, Dim)(next())
  }

  /** Public blocking helper: the 16-bit hyperplane signature as a bucket
    * key — same-bucket vectors are near-neighbor candidates. Pass as
    * `blockCol` to [[cosineTopPairsOn]] (or group [[nnDedupOn]] inputs by
    * it) when no label-like natural block exists or blocks outgrow memory.
    */
  def lshBlock(e: Column): Column = signature(e)

  /** Signature: one native vec_dot against each constant plane (array
    * literals evaluate once, the dot is a primitive loop), bits folded with
    * plain column arithmetic — max value 2^16, no overflow concerns.
    */
  private def signature(e: Column): Column =
    planes.map(p =>
      when(dot(e, typedLit(p.toSeq)) >= 0, lit(1L)).otherwise(lit(0L)))
      .reduce((acc, bit) => acc * 2 + bit)

  /** ANN via random-hyperplane LSH, two-table multi-probe: the 16-bit
    * signature splits into two independent 8-bit tables (high/low byte); a
    * vector is a candidate if either table lands within Hamming distance 2
    * of the query's bucket. Candidates are exactly re-ranked. Two OR'd
    * tables trade a ~29% candidate rate for much better recall than one
    * table at the same budget.
    */
  def annLsh(s: SparkSession, dir: String): DataFrame =
    annLshOn(emb(s, dir))

  /** `embDf` needs (vec_id, label, embedding). */
  def annLshOn(embDf: DataFrame, queryId: Long = 0L, k: Int = 10): DataFrame = {
    val e = embDf.withColumn("sig", signature(col("embedding")))
    val q = broadcast(e.filter(col("vec_id") === queryId)
      .select(col("embedding").as("q_emb"), col("sig").as("q_sig")))
    val hi = bit_count(shiftrightunsigned(col("sig"), 8)
      .bitwiseXOR(shiftrightunsigned(col("q_sig"), 8)))
    val lo = bit_count(col("sig").bitwiseAND(lit(0xFFL))
      .bitwiseXOR(col("q_sig").bitwiseAND(lit(0xFFL))))
    e.crossJoin(q)
      .filter(col("vec_id") =!= queryId && (hi <= 2 || lo <= 2))
      .select(col("vec_id"), col("label"),
        round(cosine(col("embedding"), col("q_emb")), 6).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id").asc)
      .limit(k)
  }

  /** All-nearest-neighbor table — the embedding-cosine near-dup primitive:
    * for every vector, its most-similar neighbor within the label block and
    * the cosine score (a dedup pass keeps `nn_cos < threshold` rows or
    * collapses clusters; threshold stays a caller decision since it is
    * corpus-dependent).
    *
    * SIZE-GATED like [[cosineTopPairsOn]]: label blocks at or below
    * `maxExactBlock` run the exact all-pairs comparison (bit-identical to
    * the oracle form); blocks above it subdivide by the 16-bit hyperplane
    * signature, so each vector's neighbor search is confined to its LSH
    * bucket — the O(n) screening semantics of q64, applied only where the
    * exact scan would be O(block²). A vector alone in its bucket emits no
    * row on the screened arm (it has no candidate neighbor — at dedup
    * thresholds, "no bucket-mate" already means "not a near-duplicate").
    * `exact = true` forces the exact scan everywhere.
    */
  def nnDedup(s: SparkSession, dir: String): DataFrame =
    nnDedupOn(emb(s, dir), stats = Some(dupMultForDir(s, dir)))

  /** Per-directory memo of the duplicate-multiplicity probe — the
    * [[CorpusStats.forDir]] ANALYZE convention applied to the embeddings
    * table: the two multiplicity-dispatched catalog faces (q64 nnDedup,
    * q132 semanticLeakage) share ONE probe job per directory snapshot
    * instead of one hash-agg over the corpus per call. `On`-form callers
    * with external frames keep the per-call probe (no path to key a
    * snapshot by).
    *
    * Keyed on (canonical path, file-listing signature) — name/length/mtime
    * of every part file — NOT the raw dir string: a directory regenerated
    * within one JVM (ScaleUp reruns, in-place corpus rewrites) or reached
    * via an aliasing relative path would otherwise serve a stale
    * multiplicity, and in the gated regime the two dispatch arms are not
    * output-equal (r09 ADVICE item, the lmSeen hazard class). A rewrite
    * changes the signature, so the memo misses without anyone having to
    * remember to call [[invalidateDupMult]]; a fresh snapshot retires the
    * directory's prior entries ([[Tables.snapshotMemo]]), so a JVM that
    * rewrites a dir in a loop never grows the memo.
    */
  private val dupMultCache =
    scala.collection.concurrent.TrieMap.empty[String, Long]

  /** Snapshot key for `dir`'s embeddings table — the shared
    * [[Tables.pathSnapshotKey]] definition (canonical path + MD5'd
    * part-file listing; CorpusStats.forDir keys the same way).
    */
  private def embSnapshotKey(dir: String): String =
    Tables.tableSnapshotKey(dir, "embeddings")

  private[graft] def dupMultForDir(s: SparkSession, dir: String): Long =
    Tables.snapshotMemo(dupMultCache, Tables.memoGroup(dir),
      embSnapshotKey(dir))(estMaxDupMult(emb(s, dir)))

  private[graft] def invalidateDupMult(dir: String): Unit =
    Tables.snapshotMemoEvict(dupMultCache, Tables.memoGroup(dir))

  /** Duplicate-vector multiplicity above this dispatches [[nnDedupOn]] to
    * the contracted arm: the block scan (even LSH-subdivided — identical
    * vectors share every signature bit, so copies of one vector always
    * land in ONE bucket) is quadratic in copy count, the embedding-space
    * twin of the q37/q38/q39 duplicate-clique trap. Measured: the 1000×
    * corpus (2M vectors = 1000 copies each) ran 78 s gated-direct vs
    * linear contracted. Both harness scales sit at multiplicity 1, so the
    * oracle-checked arm is the direct scan.
    */
  private[graft] val MaxDupMult = 256L

  /** Dispatch probe: largest per-(label, identical-embedding) copy count.
    * Hashes the vector (64-bit) so the probe shuffles (label, hash) pairs,
    * never embeddings; a collision only OVERcounts, which only moves work
    * to the (always-correct) contracted arm — result rows ride on exact
    * array equality, never on this hash.
    */
  private def estMaxDupMult(embDf: DataFrame): Long =
    embDf.groupBy(col("label"), xxhash64(col("embedding")))
      .agg(count(lit(1)).as("m"))
      .agg(coalesce(max(col("m")), lit(0L))).head().getLong(0)

  /** `embDf` needs (vec_id, label, embedding).
    *
    * MULTIPLICITY-DISPATCHED on top of the size gate: past `maxDupMult`
    * (one light hash-agg probe) exact-duplicate vectors are contracted
    * first — each copy's nearest neighbor IS another copy (byte-identical
    * embeddings produce the bit-identical maximal cosine), so only
    * DISTINCT vectors run the gated block scan and the
    * quadratic-in-multiplicity term disappears. Contraction groups on the
    * raw (label, embedding) columns — exact array equality, no hash in
    * the result path.
    *
    * Arm equivalence is on (vec_id, nn_cos): both arms return a true
    * maximal-cosine neighbor. WHICH neighbor id is reported can differ
    * under an exact cosine TIE between a copy's own duplicate group and a
    * distinct-but-parallel vector (e.g. 2·v, where IEEE scaling makes the
    * cosine bit-equal 1.0): the direct arm's (cos, -nn_id) argmax picks
    * the globally lowest tied id, the contracted arm stays inside the
    * duplicate group. Both answers are correct under the argmax spec;
    * pinning the direct arm's id choice would require every tied
    * candidate, which is exactly the Ω(multiplicity²) work the
    * contraction removes. `exact = true` forces the direct exact scan
    * everywhere (validation mode). `stats` supplies a pre-computed probe
    * answer (the ANALYZE convention) so repeated calls skip the per-call
    * hash-agg job over the corpus.
    */
  def nnDedupOn(embDf: DataFrame, maxExactBlock: Int = MaxExactBlock,
      exact: Boolean = false, maxDupMult: Long = MaxDupMult,
      stats: Option[Long] = None): DataFrame = {
    if (!exact && stats.getOrElse(estMaxDupMult(embDf)) > maxDupMult)
      nnDedupContracted(embDf, maxExactBlock)
    else nnDedupDirect(embDf, maxExactBlock, exact)
  }

  /** The dup-dense arm: contract → gated scan over distinct vectors →
    * per-copy rows from group structure. Every vector still gets a row
    * (copies pair within their group; distinct vectors keep the direct
    * arm's semantics, including the screened no-bucket-mate case).
    */
  private def nnDedupContracted(embDf: DataFrame,
      maxExactBlock: Int): DataFrame = {
    val g = embDf.groupBy(col("label"), col("embedding"))
      .agg(min(col("vec_id")).as("id1"), count(lit(1)).as("m"))
    // NULL-SAFE rejoin: groupBy treats null keys as equal, but an EqualTo
    // join never rematches them — a plain Seq-join would silently DROP
    // every null-label/null-embedding row from the output (the direct
    // arm emits them), violating the every-vector-gets-a-row contract
    val withG = embDf.as("e").join(g.as("g"),
        col("e.label") <=> col("g.label") &&
          col("e.embedding") <=> col("g.embedding"))
      .select(col("e.*"), col("g.id1"), col("g.m"))
    // second-lowest member id — the lowest member's in-group neighbor
    // (id1 is unique across groups: each vec_id belongs to one group)
    val id2s = withG.filter(col("vec_id") =!= col("id1"))
      .groupBy(col("id1")).agg(min(col("vec_id")).as("id2"))
    // nn_cos via the direct arm's OWN formula on the identical pair
    // (dot(e,e)/(‖e‖·‖e‖), rounded 6) rather than a literal 1.0 — a
    // zero vector yields the same NULL (try_divide — no direction, never
    // a neighbor score) and a null embedding the same null the exact scan
    // produces for that pair
    val selfCos = round(
      try_divide(dot(col("embedding"), col("embedding")),
        norm(col("embedding")) * norm(col("embedding"))), 6)
    val dupRows = withG.filter(col("m") >= 2)
      .join(id2s, Seq("id1"))
      .select(col("vec_id"), col("label"),
        when(col("vec_id") === col("id1"), col("id2"))
          .otherwise(col("id1")).as("nn_id"),
        selfCos.as("nn_cos"))
    // distinct vectors (group minima) are the candidate set; only the
    // true singletons still need a mined neighbor. A tie against a dup
    // group resolves to that group's minimum — exactly id1, the row the
    // distinct set carries.
    val distinctVecs = embDf
      .join(g.select(col("id1").as("vec_id")), Seq("vec_id"))
    val singleRows = nnDedupDirect(distinctVecs, maxExactBlock,
      exact = false)
      .join(g.filter(col("m") === 1).select(col("id1").as("vec_id")),
        Seq("vec_id"))
    dupRows.unionByName(singleRows).orderBy("vec_id")
  }

  /** The q41/q44 shared size gate: per-label counts contract to ≤|blocks|
    * rows and broadcast back (the same bounded side-table shape as the
    * IVF probe list, never a driver hop); blocks past `maxExactBlock`
    * subdivide by LSH signature into `_sub`. `exact` skips the sizes pass
    * entirely (the gate column would be a constant), keeping the
    * validation arm's plan identical to the ungated form. ONE definition
    * so the two consumers' scale paths cannot silently diverge.
    */
  private def withSubBucket(df: DataFrame, maxExactBlock: Int,
      exact: Boolean): DataFrame =
    if (exact) df.withColumn("_sub", lit(0L))
    else {
      val sizes = df.groupBy("label").agg(count(lit(1)).as("_bn"))
      df.join(broadcast(sizes), "label")
        .withColumn("_sub",
          when(col("_bn") > maxExactBlock, signature(col("embedding")))
            .otherwise(lit(0L)))
        .drop("_bn")
    }

  private def nnDedupDirect(embDf: DataFrame, maxExactBlock: Int,
      exact: Boolean): DataFrame = {
    val d0 = embDf.withColumn("nrm", norm(col("embedding")))
    val d = withSubBucket(d0, maxExactBlock, exact)
    val a = d.select(col("vec_id").as("vec_id"), col("label"), col("_sub"),
      col("embedding").as("a_emb"), col("nrm").as("a_nrm"))
    val b = d.select(col("vec_id").as("nn_id"), col("label").as("b_label"),
      col("_sub").as("b_sub"), col("embedding").as("b_emb"),
      col("nrm").as("b_nrm"))
    val cos = try_divide(dot(col("a_emb"), col("b_emb")),
      col("a_nrm") * col("b_nrm"))
    // arg-max via max_by with a (cos, -nn_id) key — ties break to the lowest
    // neighbor id, matching the oracle's `ORDER BY cos DESC, nn_id ASC`.
    // Unlike a window rank (which shuffles every candidate pair), max_by
    // partial-aggregates map-side: only one row per vector reaches the
    // shuffle, so the plan is insensitive to block size.
    a.join(b, col("label") === col("b_label") && col("_sub") === col("b_sub") &&
        col("vec_id") =!= col("nn_id"))
      .withColumn("cos", cos)
      .groupBy("vec_id", "label")
      .agg(max_by(struct(col("nn_id"), col("cos")),
        struct(col("cos"), -col("nn_id"))).as("nn"))
      .select(col("vec_id"), col("label"), col("nn.nn_id").as("nn_id"),
        round(col("nn.cos"), 6).as("nn_cos"))
      .orderBy("vec_id")
  }

  /** IVF-style ANN: per-label centroids act as the coarse quantizer cells
    * (the testdata's labels are its natural clustering; a k-means coarse
    * codebook drops into the same shape). The query probes its `nProbe`
    * nearest cells, then exact-re-ranks only those cells' vectors — the
    * scan shrinks by ~|cells|/nProbe versus brute force, and both the
    * centroid table and the probe list are broadcast (no shuffle of the
    * corpus at any point).
    */
  def annIvf(s: SparkSession, dir: String): DataFrame =
    annIvfOn(emb(s, dir))

  /** (label, centroid) with the q43 decimal-exact rounded per-dim mean:
    * order-independent, so downstream choices (IVF probes, cohesion
    * stats) are reproducible on any cluster AND re-derivable by the
    * oracle (a float avg() would make near-tie decisions depend on
    * partition order).
    */
  private def centroidFrame(e: DataFrame): DataFrame =
    e.select(col("label"), posexplode(col("embedding")).as(Seq("pos", "v")))
      .groupBy("label", "pos")
      .agg(round(
        sum(col("v").cast("decimal(38,10)")).cast("double") / count(lit(1)), 6)
        .as("cv"))
      .groupBy("label")
      .agg(transform(
        array_sort(collect_list(struct(col("pos"), col("cv")))),
        x => x.getField("cv")).as("centroid"))

  /** `embDf` needs (vec_id, label, embedding). */
  def annIvfOn(embDf: DataFrame, queryId: Long = 0L, k: Int = 10,
      nProbe: Int = 3): DataFrame = {
    val e = embDf
    val cent = centroidFrame(e)
    val q = broadcast(e.filter(col("vec_id") === queryId)
      .select(col("embedding").as("q_emb")))
    val probed = broadcast(
      cent.crossJoin(q)
        // cosine(), not a raw `/`: a degenerate all-zero centroid must
        // rank LAST as NULL like the oracle's nullif (one idiom with
        // q135's probe ranking; identical values on any non-degenerate
        // cell)
        .withColumn("c_cos", cosine(col("centroid"), col("q_emb")))
        .orderBy(col("c_cos").desc, col("label").asc)
        .limit(nProbe)
        .select(col("label")))
    e.join(probed, "label")
      .filter(col("vec_id") =!= queryId)
      .crossJoin(q)
      .select(col("vec_id"), col("label"),
        round(cosine(col("embedding"), col("q_emb")), 6).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id").asc)
      .limit(k)
  }

  /** Per-label centroids, one row per (label, dim): posexplode + exact
    * decimal mean (order-independent, oracle-stable).
    */
  def labelCentroids(s: SparkSession, dir: String): DataFrame =
    labelCentroidsOn(emb(s, dir))

  /** `embDf` needs (label, embedding). */
  def labelCentroidsOn(embDf: DataFrame): DataFrame =
    embDf
      .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "v")))
      .groupBy(col("label"), (col("pos") + 1).as("dim"))
      .agg(round(
        sum(col("v").cast("decimal(38,10)")).cast("double") / count(lit(1)), 6)
        .as("centroid"), count(lit(1)).as("n"))
      .orderBy("label", "dim")

  // ---- q136: per-label embedding drift between snapshots --------------------

  /** q136: embedding drift report between a base corpus and a new crawl
    * batch — the embedding-space twin of q114's token-KL drift and the
    * retraining trigger that fires BEFORE q128's PQ distortion visibly
    * degrades: per label, both snapshot sizes (read out of the centroid
    * contraction itself — the widest dimension's contributor count, the
    * row count for any non-empty vector), the cosine between the two
    * decimal-exact centroids (q43's order-independent mean, so the number
    * is reproducible on any cluster and re-derivable by the oracle), and
    * both centroid norms (a shrinking batch norm with high cosine =
    * same direction, lower confidence — a different failure than
    * rotation, so both axes are reported).
    *
    * The catalog face derives the batch from the corpus with pinned
    * deterministic edits (every vec_id % 5 == 0 vector, each element
    * rescaled x·0.9 + 0.05 — a simulated encoder nudge) so the oracle
    * rebuilds the identical pair; [[embeddingDriftOn]] is the general
    * two-snapshot library form.
    *
    * Scale: each side is ONE q43-shape contraction (posexplode +
    * map-side partial decimal sums) to ≤ |labels| centroid rows; the
    * full-outer label join and everything after it is label-bounded. The
    * corpora are never joined row-to-row. A label present in only one
    * snapshot reports its missing side as n = 0 with NULL cosine (no
    * centroid to compare — the q108 no-model discipline).
    */
  def embeddingDrift(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val base = e.filter(col("vec_id") % 5 =!= 0)
    val batch = e.filter(col("vec_id") % 5 === 0)
      .withColumn("embedding",
        transform(col("embedding"), x => x.cast("double") * 0.9 + 0.05))
    embeddingDriftOn(base, batch)
  }

  /** Both snapshots need (label, embedding). */
  def embeddingDriftOn(baseDf: DataFrame, batchDf: DataFrame): DataFrame = {
    // centroidFrame's contraction with the per-label size read OUT OF the
    // same pass (n = the widest dimension's contributor count — the row
    // count for any non-empty vector), instead of a second corpus scan
    // per side for a bare count (r12 session-2 review finding: the
    // docstring promises ONE contraction per side, and now it is one)
    def side(df: DataFrame, nName: String, cName: String): DataFrame =
      df.select(col("label"), posexplode(col("embedding")).as(Seq("pos", "v")))
        .groupBy("label", "pos")
        .agg(round(
          sum(col("v").cast("decimal(38,10)")).cast("double") / count(lit(1)),
          6).as("cv"), count(lit(1)).as("cnt"))
        .groupBy("label")
        .agg(transform(
          array_sort(collect_list(struct(col("pos"), col("cv")))),
          x => x.getField("cv")).as(cName),
          max("cnt").as(nName))
    side(baseDf, "n_base", "c_base")
      .join(side(batchDf, "n_batch", "c_batch"), Seq("label"), "full_outer")
      .select(col("label"),
        coalesce(col("n_base"), lit(0L)).as("n_base"),
        coalesce(col("n_batch"), lit(0L)).as("n_batch"),
        round(cosine(col("c_base"), col("c_batch")), 6).as("centroid_cos"),
        round(norm(col("c_base")), 6).as("base_norm"),
        round(norm(col("c_batch")), 6).as("batch_norm"))
      .orderBy("label")
  }

  // ---- q135: IVF recall-vs-nProbe eval --------------------------------------

  /** q135 registration constants: probe-set size, k, and the nProbe grid
    * ceiling (the oracle replays the same literals).
    */
  val RecallProbes = 8
  val RecallK = 10
  val RecallMaxProbe = 4

  def annIvfRecall(s: SparkSession, dir: String): DataFrame =
    annIvfRecallOn(emb(s, dir))

  /** `embDf` needs (vec_id, label, embedding).
    *
    * THE tuning curve an IVF deployment reads before fixing nProbe at
    * scale: recall@k of the cell-probed search (q45's arm) against exact
    * brute force, swept over nProbe = 1..`maxProbe`, averaged over a
    * fixed probe set (the `pCount` smallest vec_ids — an eval set is
    * small and pinned, never corpus-sized), with the cost axis alongside
    * (`mean_frac_scanned`: probed-cell candidates / (n−1), self
    * excluded — the quartet-wide convention).
    * One row per nProbe: raising nProbe buys recall linearly in scan
    * fraction — where the curve knees is where production stops.
    *
    * Scale: the probe set is bounded by construction (limit), so the
    * ground-truth pass is |corpus|·pCount cosines — the price OF the
    * eval, run on a fixed sample, never on every query. Each pair
    * left-joins its broadcast probed-cell rank (≤ pCount·maxProbe build
    * side) and an nProbe arm admits the pairs ranked within it; the rest
    * is [[recallSweep]] (its cost convention included).
    */
  def annIvfRecallOn(embDf: DataFrame, k: Int = RecallK,
      pCount: Int = RecallProbes,
      maxProbe: Int = RecallMaxProbe): DataFrame = {
    require(maxProbe >= 1 && pCount >= 1 && k >= 1,
      s"annIvfRecallOn: maxProbe, pCount and k must be >= 1, got " +
        s"($maxProbe, $pCount, $k) — an empty sweep grid or probe set " +
        "is a caller bug, not an empty curve")
    val e = embDf.select(col("vec_id"), col("label"), col("embedding"))
      .withColumn("enorm", norm(col("embedding")))
    val probes = e.orderBy("vec_id").limit(pCount)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        col("enorm").as("qnorm"))

    // centroid rank per (probe, label): which cells each nProbe arm scans
    // (annIvfOn's c_cos, ranked per probe instead of globally limited)
    val w = org.apache.spark.sql.expressions.Window.partitionBy("q_id")
      .orderBy(col("c_cos").desc, col("label").asc)
    // cosine(), not a raw `/`: a degenerate all-zero centroid (vectors
    // that cancel) must rank LAST as NULL like the oracle's nullif —
    // NaN under a raw divide would sort FIRST in desc order and probe
    // the empty-direction cell (r12 session-2 review finding)
    val probedCells = broadcast(broadcast(probes)
      .crossJoin(broadcast(centroidFrame(e)))
      .withColumn("c_cos", cosine(col("centroid"), col("q_emb")))
      .withColumn("cent_rank", row_number().over(w))
      .filter(col("cent_rank") <= maxProbe)
      .select(col("q_id"), col("label").as("cell"), col("cent_rank")))
    val assigned = e.withColumn("cell", col("label"))
    recallSweep(ringPairs(assigned, probes, probedCells), probes,
      ringArms(maxProbe, col("cos_sim")), "n_probe", k, asc = false,
      census = Some(assigned))
  }

  /** q144: the q135 curve pointed at the TRAINED coarse cells — the
    * side-by-side that closes the IVF story the way q142 closes PQ's:
    * q135 documents what the label-derived cells buy, this face what the
    * [[kmeansCentroids]] ANALYZE buys back, on the same harness, probes,
    * nProbe grid, and oracle replay — the two curves differ in exactly
    * one variable: the cell assignment. Retrains per call BY DESIGN (the
    * q140/q143 convention — the oracle covers the lifecycle); production
    * evaluates a store-loaded codebook via [[annIvfRecallWithCells]].
    */
  def annIvfRecallTrained(s: SparkSession, dir: String): DataFrame = {
    val valid = validLabeled(emb(s, dir))
    annIvfRecallWithCells(valid,
      kmeansCentroids(valid, IvfTrainK, IvfTrainIters))
  }

  /** The q135 harness pointed at an explicit coarse codebook: vectors
    * assign to cells via [[assignClusters]], each probe ranks ALL cells
    * by squared-L2 asc (the assignment's own metric and op order —
    * [[cellDists]] — so the probe ring and the cell contents agree on
    * geometry; ties to the lower cell index like the oracle's
    * `ORDER BY dist, cw`). `validDf` needs (vec_id, label, embedding),
    * null-free full-dim ([[validLabeled]]'s contract — training-set and
    * index membership must not diverge, so the ground-truth pass runs
    * over the same frame).
    */
  def annIvfRecallWithCells(validDf: DataFrame,
      centroids: Array[Array[Double]], k: Int = RecallK,
      pCount: Int = RecallProbes,
      maxProbe: Int = RecallMaxProbe): DataFrame = {
    require(maxProbe >= 1 && pCount >= 1 && k >= 1,
      s"annIvfRecallWithCells: maxProbe, pCount and k must be >= 1, got " +
        s"($maxProbe, $pCount, $k) — an empty sweep grid or probe set " +
        "is a caller bug, not an empty curve")
    require(centroids.nonEmpty,
      "annIvfRecallWithCells: empty coarse codebook — train with " +
        "kmeansCentroids")
    val session = validDf.sparkSession
    import session.implicits._
    val e = assignClusters(validDf, centroids)
      .withColumnRenamed("cluster", "cell")
      .withColumn("enorm", norm(col("embedding")))
    // bounded probe set collected ONCE; rings are [[probeRingLocal]]'s
    // driver arithmetic (the cellDists twin) and both frames enter the
    // plan as local relations — the previous probes → probedCells
    // broadcast chain cost two sequential corpus-scan jobs (r15)
    val probeRows = probeSetLocal(validDf, pCount)
    val probes = probeRows.toDF("q_id", "q_emb", "qnorm")
    val probedCells = broadcast(probeRows.flatMap { case (qid, qs, _) =>
      probeRingLocal(qs.toArray, centroids, maxProbe).zipWithIndex
        .map { case (cell, p) => (qid, cell, p + 1) }
    }.toDF("q_id", "cell", "cent_rank"))
    recallSweep(ringPairs(e, probes, probedCells), probes,
      ringArms(maxProbe, col("cos_sim")), "n_probe", k, asc = false,
      census = Some(e))
  }

  /** One arm of a [[recallSweep]]: its grid value, the score it ranks
    * pairs by, and the pairs it admits (None: every pair).
    */
  private case class RecallArm(value: Int, score: Column,
      admit: Option[Column] = None)

  /** The exact arm's score of a probe pair (corpus `embedding`/`enorm`
    * against probe `q_emb`/`qnorm`): the 6-dp cosine, NULL on a zero
    * norm.
    */
  private def exactCos: Column =
    round(try_divide(dot(col("embedding"), col("q_emb")),
      col("enorm") * col("qnorm")), 6).as("cos_sim")

  /** Every (corpus vector, probe) pair bar the probe itself: the one
    * corpus×probes pass of a recall eval (bounded probe build side).
    */
  private def probePairs(corpus: DataFrame, probes: DataFrame): DataFrame =
    corpus.crossJoin(broadcast(probes)).filter(col("vec_id") =!= col("q_id"))

  /** The IVF ring join of q135/q144/q153: [[probePairs]] over a corpus
    * with `cell`, each pair tagged with its cell's rank in the probe's
    * ring (`cent_rank`, NULL beyond the ring), plus the exact cosine and
    * `scores`.
    */
  private def ringPairs(corpus: DataFrame, probes: DataFrame,
      probedCells: DataFrame, scores: Column*): DataFrame =
    probePairs(corpus, probes)
      .join(probedCells, Seq("q_id", "cell"), "left")
      .select(Seq(col("q_id"), col("vec_id"), col("cent_rank"), exactCos)
        ++ scores: _*)

  /** nProbe = 1..`maxProbe` arms over [[ringPairs]]: arm np ranks by
    * `score` the pairs whose cell is among the probe's np nearest.
    */
  private def ringArms(maxProbe: Int, score: Column): Seq[RecallArm] =
    (1 to maxProbe).map(np =>
      RecallArm(np, score, Some(col("cent_rank") <= np)))

  /** The bounded probe set (the `pCount` smallest vec_ids) collected ONCE
    * as (q_id, q_emb, qnorm) — qnorm is math.sqrt of the index-order
    * self-dot, bit-identical to the norm() expression
    * (java.lang.Math.sqrt is IEEE correctly-rounded).
    */
  private def probeSetLocal(df: DataFrame,
      pCount: Int): Seq[(Long, Seq[Double], Double)] =
    Tables.boundedCollect(df.orderBy("vec_id").limit(pCount)
        .select(col("vec_id"), col("embedding").cast("array<double>")),
      pCount, "recall probe set").toSeq.map { r =>
      val q = r.getSeq[Double](1).toArray
      (r.getLong(0), q.toSeq, math.sqrt(ddot(q, q)))
    }

  /** The one recall curve of every ANN eval face (q135, q137–q139, q142,
    * q144, q153). `pairs` ([[probePairs]]) carries q_id, vec_id, the
    * exact `cos_sim` and whatever the arms read; each arm ranks by its
    * score over the pairs it admits — an unadmitted pair scores NULL,
    * which the [[graft.functions.TopKIdsByScore]] heap skips, so no arm
    * fan-out row ever exists. ONE map-side-combined aggregation per
    * probe takes the exact top-k (cosine desc), every arm's top-k (`asc`
    * for a distance such as ADC) and, given a `census` corpus, each
    * arm's admitted-pair count as a sibling conditional sum. Recall is
    * an array_intersect over ≤ probes·arms k-id lists: nothing after the
    * scan is corpus-sized. A probe with NO admitted candidate reports 0
    * scanned and 0 recall (coalesced, not dropped — the curve must show
    * the empty-filter regime honestly).
    *
    * Cost convention: `mean_frac_scanned` EXCLUDES the probe itself and
    * divides by n−1 (n = the census corpus's rows), so every family's
    * curve reads as one decision surface; on a single-vector corpus the
    * fraction is NULL (no other vectors — undefined, not 0). A face whose
    * cost axis is the bytes it reads (RP, PQ) passes it as `readCost`, a
    * column over the arm value.
    *
    * Returns (`armCol`, n_queries, mean_recall_at_k, then
    * mean_frac_scanned with a census, then `readCost`), ordered by the
    * arm.
    */
  private def recallSweep(pairs: DataFrame, probes: DataFrame,
      arms: Seq[RecallArm], armCol: String, k: Int, asc: Boolean,
      census: Option[DataFrame], readCost: Option[Column] = None)
      : DataFrame = {
    // [[graft.functions.TopKIdsByScore]]: the group's k best ids by
    // (score, id), highest first unless `asc`; null scores never rank.
    // Plans as ObjectHashAggregate with a map-side partial — the
    // bounded-heap replacement for a salted rank stage
    def topkIds(score: Column, asc: Boolean): Column =
      GraftFunctions.topKIdsByScore(score, col("vec_id"), k, asc)
    // conditional scores and scan flags are PRE-computed in this
    // whole-stage-codegen'd project: a TypedImperativeAggregate's
    // children evaluate interpreted per row, so the aggregate inputs
    // must be bare column refs, not per-row CASE trees
    val scores = arms.map(a =>
      a.admit.fold(a.score)(when(_, a.score)).as(s"score_${a.value}"))
    val flags = census.toSeq.flatMap(_ => arms.map(a =>
      a.admit.fold(lit(1L))(when(_, 1L).otherwise(0L))
        .as(s"in_${a.value}")))
    val topks = pairs
      .select(Seq(col("q_id"), col("vec_id"), col("cos_sim")) ++ scores
        ++ flags: _*)
      .groupBy("q_id")
      .agg(topkIds(col("cos_sim"), asc = false).as("ids_exact"),
        arms.map(a => topkIds(col(s"score_${a.value}"), asc)
          .as(s"ids_${a.value}")) ++
        census.toSeq.flatMap(_ => arms.map(a =>
          sum(col(s"in_${a.value}")).as(s"scan_${a.value}"))): _*)
    val armRows = arms.map(a => struct(lit(a.value).as(armCol) +:
      Tables.sizeOrNull(array_intersect(col(s"ids_${a.value}"),
        col("ids_exact"))).as("n_hits") +:
      census.toSeq.map(_ => col(s"scan_${a.value}").as("n_scanned")): _*))
    val perArm = probes.select("q_id")
      .join(topks, Seq("q_id"), "left")
      .select(col("q_id"), explode(array(armRows: _*)).as("a"))
    val recall = graft.Tables.davg(
      coalesce(col("a.n_hits"), lit(0)) / lit(k), 6).as("mean_recall_at_k")
    val curve = census match {
      case Some(corpus) => perArm
        .crossJoin(broadcast(corpus.agg((count(lit(1)) - 1).as("n_others"))))
        .groupBy(col(s"a.$armCol").as(armCol))
        .agg(count(lit(1)).as("n_queries"), recall,
          graft.Tables.davg(try_divide(
            coalesce(col("a.n_scanned"), lit(0L)), col("n_others")), 6)
            .as("mean_frac_scanned"))
      case None => perArm
        .groupBy(col(s"a.$armCol").as(armCol))
        .agg(count(lit(1)).as("n_queries"), recall)
    }
    readCost.fold(curve)(c => curve.select(col("*"), c)).orderBy(armCol)
  }

  // ---- q137: LSH recall-vs-radius eval --------------------------------------

  /** Band-hamming radius ceiling the q137 registration pins (swept
    * 0..this over the two 8-bit bands of the 16-bit signature — q42's
    * production filter sits at radius 2).
    */
  val RecallMaxRadius = 4

  def annLshRecall(s: SparkSession, dir: String): DataFrame =
    annLshRecallOn(emb(s, dir))

  /** `embDf` needs (vec_id, embedding).
    *
    * q135's harness pointed at the OTHER index family: recall@k of q42's
    * banded-hamming LSH filter vs exact brute force, swept over the band
    * radius 0..`maxRadius` — the radius is the signature index's one
    * tuning knob (q42 ships radius 2), and this curve is what justifies
    * it: where recall knees against the candidate fraction actually
    * scanned. Same bounded probe set, same cost axis, so the q135 and
    * q137 curves read side by side when choosing WHICH index to deploy.
    *
    * Scale: unlike IVF (storage-side cells), the LSH filter is
    * score-side, so ONE corpus×probes pass (norms precomputed per row)
    * computes every pair's cosine AND min band distance, and a radius-r
    * arm admits the pairs with `min_band <= r`; the rest is
    * [[recallSweep]] (its cost convention included).
    */
  def annLshRecallOn(embDf: DataFrame, k: Int = RecallK,
      pCount: Int = RecallProbes,
      maxRadius: Int = RecallMaxRadius): DataFrame = {
    require(maxRadius >= 0 && pCount >= 1 && k >= 1,
      s"annLshRecallOn: maxRadius must be >= 0, pCount and k >= 1, got " +
        s"($maxRadius, $pCount, $k) — an empty sweep grid or probe set " +
        "is a caller bug, not an empty curve")
    val e = embDf.select(col("vec_id"), col("embedding"))
      .withColumn("sig", signature(col("embedding")))
      .withColumn("enorm", norm(col("embedding")))
    val probes = e.orderBy("vec_id").limit(pCount)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        col("sig").as("q_sig"), col("enorm").as("qnorm"))
    val hi = bit_count(shiftrightunsigned(col("sig"), 8)
      .bitwiseXOR(shiftrightunsigned(col("q_sig"), 8)))
    val lo = bit_count(col("sig").bitwiseAND(lit(0xFFL))
      .bitwiseXOR(col("q_sig").bitwiseAND(lit(0xFFL))))
    val pairs = probePairs(e, probes).select(col("q_id"), col("vec_id"),
      exactCos, least(hi, lo).as("min_band"))
    recallSweep(pairs, probes, (0 to maxRadius).map(r =>
        RecallArm(r, col("cos_sim"), Some(col("min_band") <= r))),
      "radius", k, asc = false, census = Some(e))
  }

  // ---- q139: RP projection-prefix recall eval -------------------------------

  /** Projection-prefix grid the q139 registration pins: rank on the
    * first d of the [[Planes]] random-projection coordinates.
    */
  val RecallDimGrid: Seq[Int] = Seq(4, 8, 12, 16)

  def annRpRecall(s: SparkSession, dir: String): DataFrame =
    annRpRecallOn(emb(s, dir))

  /** `embDf` needs (vec_id, embedding).
    *
    * The eval harness pointed at the FOURTH index family: recall@k of
    * q113's random-projection search vs exact brute force, swept over
    * the projection PREFIX ranked on (the first d of 16 JL coordinates)
    * — the dimension knob: how few projected floats still preserve the
    * neighborhood. `frac_proj_read = d/16` is the cost column (each
    * projected float costs 1/4 of a full-vector dot at Dim 64, so d = 16
    * is already a 4× cheaper scan; this curve says how much FURTHER the
    * projection can shrink). Completes the eval quartet: q135 cells /
    * q137 radius / q138 code bytes / q139 projection dims — one
    * decision surface across all four index families.
    *
    * Scale: project once per vector (map-only, the q113 expression),
    * then ONE corpus×probes pass computes every pair's prefix
    * similarities AND the full-precision ground truth as sibling
    * columns, and [[recallSweep]] takes every arm's top-k map-side out
    * of that one frame. The previous form exploded the frame ×(arms+1)
    * through two salted rank stages; the 6M-vector measurement said
    * those SORTS of 240M rows, not the cosines, were the whole cost. No
    * census (RP reads every vector — the cost axis is dims, not
    * candidates).
    */
  def annRpRecallOn(embDf: DataFrame, k: Int = RecallK,
      pCount: Int = RecallProbes,
      dimGrid: Seq[Int] = RecallDimGrid): DataFrame = {
    require(dimGrid.nonEmpty && dimGrid.forall(d => d >= 1 && d <= Planes)
        && dimGrid.distinct.size == dimGrid.size,
      s"annRpRecallOn: prefix grid must be distinct values in " +
        s"1..$Planes, got $dimGrid")
    val proj = array(planes.map(p =>
      round(dot(col("embedding"), typedLit(p.toSeq)), 6)): _*)
    // Per-pair arithmetic is the eval's whole cost at 10⁸ pairs, so
    // everything pair-INDEPENDENT precomputes per row: prefix norms on
    // both sides, the full-vector norm, and the projection itself. The
    // per-pair prefix dots then build INCREMENTALLY along the sorted
    // grid in the exact VecDot fold order (0.0-seeded, index-ascending,
    // left-associated), so every sim is bit-identical to the
    // cosine-over-slice form the oracle replays — ~10⁹ slice
    // allocations and redundant norm recomputations cheaper.
    val sortedGrid = dimGrid.sorted
    def extendDot(acc: Column, a: String, b: String, lo: Int,
        hi: Int): Column =
      (lo to hi).foldLeft(acc)((c, i) =>
        c + element_at(col(a), i) * element_at(col(b), i))
    def prefixNorms(a: String, prefix: String): Seq[Column] =
      sortedGrid.zip(0 +: sortedGrid.dropRight(1)).scanLeft(
          (lit(0.0), 0)) { case ((acc, _), (d, prev)) =>
        (extendDot(acc, a, a, prev + 1, d), d)
      }.drop(1).map { case (sq, d) => sqrt(sq).as(s"$prefix$d") }
    val e = embDf.select(col("vec_id") +: col("embedding") +:
      proj.as("p") +: norm(col("embedding")).as("enorm") +: Nil: _*)
      .select(col("*") +: prefixNorms("p", "pn_"): _*)
    val probes = e.orderBy("vec_id").limit(pCount)
      .select(col("vec_id").as("q_id") +: col("embedding").as("q_emb") +:
        col("p").as("qp") +: col("enorm").as("qnorm") +:
        sortedGrid.map(d => col(s"pn_$d").as(s"qn_$d")): _*)
    val arms = sortedGrid.zip(0 +: sortedGrid.dropRight(1))
      .scanLeft((lit(0.0), 0)) { case ((acc, _), (d, prev)) =>
        (extendDot(acc, "p", "qp", prev + 1, d), d)
      }.drop(1).map { case (dt, d) =>
        RecallArm(d, round(try_divide(dt, col(s"pn_$d") * col(s"qn_$d")), 6))
      }
    recallSweep(probePairs(e, probes).select(col("*"), exactCos), probes,
      arms, "d_used", k, asc = false, census = None,
      readCost = Some(round(col("d_used") / lit(Planes.toDouble), 6)
        .as("frac_proj_read")))
  }

  // ---- q138: PQ progressive-scan recall eval --------------------------------

  /** Subspace-prefix grid the q138 registration pins: ADC over the first
    * m of the [[PqSub]] subspaces = reading m of the 8 code bytes per
    * vector.
    */
  val RecallSubGrid: Seq[Int] = Seq(2, 4, 6, 8)

  def annPqRecall(s: SparkSession, dir: String): DataFrame =
    annPqRecallOn(emb(s, dir))

  /** `embDf` needs (vec_id, label, embedding).
    *
    * The eval harness pointed at the THIRD index family: recall@k of
    * q123's asymmetric-distance PQ search vs exact brute force, swept
    * over the SUBSPACE PREFIX actually read (ADC over the first m of 8
    * code bytes) — the progressive-scan knob: a PQ index can rank on a
    * prefix of each vector's code and read deeper only for finalists, so
    * this curve is the bytes-per-vector ⇄ recall trade, the same
    * decision axis q135 (cells) and q137 (radius) give the other two
    * families. `frac_code_read = m/8` is the cost column.
    *
    * Scale: the corpus encodes ONCE through the fused native
    * `graft_pq_encode` kernel (map-only); per probe the 8 lookup tables
    * are |codebook|-bounded expressions evaluated on the probe row and
    * broadcast alongside the raw query vector, so ONE corpus×probes
    * pass computes the exact cosine AND every ADC prefix sum
    * (incremental in subspace order — the identical 0.0-seeded
    * left-assoc fold as the slice-aggregate it replaces), and
    * [[recallSweep]] ranks every arm ascending (ADC is a distance).
    * Unencodable vectors carry NULL pieces and never rank (q123's
    * corrupt-input discipline, now the heap's null-skip).
    */
  def annPqRecallOn(embDf: DataFrame, k: Int = RecallK,
      pCount: Int = RecallProbes,
      subGrid: Seq[Int] = RecallSubGrid): DataFrame =
    annPqRecallWith(embDf, pqCodebook(embDf)._2, k, pCount, subGrid)

  /** q142: the q138 curve pointed at the TRAINED codebook — the
    * side-by-side that closes the PQ story: q138 documents what the
    * label-derived codebook buys as an INDEX (on this corpus:
    * compression-only, ~4 % flat — the honest verdict that mandated
    * training), and this face documents what the q140 ANALYZE buys
    * back. Same harness, same probes, same grid, same oracle replay
    * (training CTEs + the q138 recall tail), so the two curves differ
    * in exactly one variable: the codebook.
    */
  def annPqRecallTrained(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    annPqRecallWith(e, pqTrainedCodebook(e))
  }

  /** The q138 harness pointed at an explicit codebook (e.g.
    * [[pqTrainedCodebook]]) — the eval that shows a trained codebook's
    * recall lift over the label-derived baseline before a deployment
    * swaps q123's index for q140's.
    */
  def annPqRecallWith(embDf: DataFrame, full: Array[Array[Double]],
      k: Int = RecallK, pCount: Int = RecallProbes,
      subGrid: Seq[Int] = RecallSubGrid): DataFrame = {
    require(subGrid.nonEmpty && subGrid.forall(m => m >= 1 && m <= PqSub)
        && subGrid.distinct.size == subGrid.size,
      s"annPqRecallWith: subspace grid must be distinct values in " +
        s"1..$PqSub, got $subGrid")
    val cb: Array[Array[Array[Double]]] = Array.tabulate(PqSub)(m =>
      full.map(_.slice(m * PqSubDim, (m + 1) * PqSubDim)))
    def sub(m: Int): Column =
      slice(col("q_emb"), m * PqSubDim + 1, PqSubDim)
    // the q123 LUT arithmetic, evaluated on each PROBE row
    def dists(m: Int): Seq[Column] = {
      val x2 = dot(sub(m), sub(m))
      cb(m).toSeq.map(c =>
        x2 - lit(2.0) * dot(sub(m), typedLit(c.toSeq)) +
          lit(c.map(v => v * v).sum))
    }
    val e = embDf.select(col("vec_id"), col("embedding"),
      norm(col("embedding")).as("enorm"),
      GraftFunctions.pqEncode(col("embedding"), full, PqSubDim).as("codes"))
    val probes = e.orderBy("vec_id").limit(pCount)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        col("enorm").as("qnorm"))
      .select(col("*") +:
        (0 until PqSub).map(m => array(dists(m): _*).as(s"lut$m")): _*)
    val sortedGrid = subGrid.sorted
    def piece(m: Int): Column =
      element_at(col(s"lut$m"), col("codes")(m) + 1)
    // ADC prefix sums build incrementally along the sorted grid — the
    // same ((0.0 + p0) + p1) + … association at every grid point as the
    // full fold, so each arm's distance is bit-identical to the oracle's
    val arms = sortedGrid.zip(0 +: sortedGrid.dropRight(1))
      .scanLeft((lit(0.0), 0)) { case ((acc, _), (m, prev)) =>
        ((prev until m).foldLeft(acc)((c, i) => c + piece(i)), m)
      }.drop(1).map { case (adc, m) => RecallArm(m, round(adc, 6)) }
    recallSweep(probePairs(e, probes).select(col("*"), exactCos), probes,
      arms, "m_used", k, asc = true, census = None,
      readCost = Some(round(col("m_used") / lit(PqSub.toDouble), 6)
        .as("frac_code_read")))
  }

  /** SemDeDup-style semantic dedup (Abbas et al. 2023): bucket every vector
    * by the high byte of the hyperplane signature — 256 coarse cells, the
    * deterministic stand-in for a k-means cluster assignment (a trained
    * codebook drops into the same shape) — elect the lowest-id member of
    * each cell as its representative, and flag members whose cosine to the
    * representative clears the near-duplicate threshold.
    *
    * Scale: the signature is a codegen'd multiply-add chain (no shuffle to
    * assign); representatives contract to ONE row per occupied bucket
    * (≤ 2^16 regardless of corpus size) and are BROADCAST back, so the
    * corpus shuffles once on the bucket key and is never compared pairwise —
    * each vector does exactly one cosine, against its representative.
    * Contrast q44 (all pairs within a block): that is O(block²) exact
    * nearest-neighbor; this is the O(n) screening pass run first at 100 TB.
    */
  def semanticDedup(s: SparkSession, dir: String): DataFrame =
    semanticDedupOn(emb(s, dir))

  /** `embDf` needs (vec_id, embedding); `threshold` is corpus-dependent
    * (the q64 registration pins 0.995 for the oracle). `bucketCol` is the
    * cluster assignment — default: the hyperplane-signature high byte; with
    * a trained codebook pass
    * `assignClusters(embDf, codebook)` and `col("cluster")` instead (same
    * plan shape: reps contract per bucket and broadcast).
    */
  def semanticDedupOn(embDf: DataFrame, threshold: Double = 0.995,
      bucketCol: Column =
        shiftrightunsigned(signature(col("embedding")), 8)): DataFrame = {
    val e = embDf.select(col("vec_id"), col("embedding"),
      bucketCol.cast("long").as("sig"))
    val reps = e.groupBy("sig").agg(min("vec_id").as("rep_id"))
    val repEmb = broadcast(
      e.select(col("vec_id").as("rep_id"), col("embedding").as("rep_emb"))
        .join(broadcast(reps), "rep_id"))
    e.join(repEmb, "sig")
      .select(col("vec_id"), col("sig"), col("rep_id"),
        round(cosine(col("embedding"), col("rep_emb")), 6).as("rep_cos"))
      .withColumn("is_dup",
        col("vec_id") =!= col("rep_id") && col("rep_cos") >= threshold)
      .orderBy("vec_id")
  }

  // ---- q132: semantic split leakage ----------------------------------------

  /** Near-duplicate cosine threshold q132 pins for the oracle. Corpus-
    * dependent like q64's: on THIS synthetic corpus (random-ish gaussians,
    * no true embedding near-dups) 0.3 sits at the ~90th percentile of
    * max train→held cosines so the audit reports a non-degenerate rate;
    * a production embedding space uses a near-dup band (≥ 0.95).
    */
  private[ops] val Q132Threshold = 0.3

  /** q132: semantic split-leakage audit — the embedding-space twin of the
    * q130 n-gram audit: assign every vector its deterministic q116 hash
    * split (salt "graft-split", the same 'cccc' hex threshold; valid ∪
    * test form the held-out side), take each train vector's MAX cosine
    * against the held-out vectors in its label block, and flag train
    * vectors clearing [[Q132Threshold]], rolled up per label. n-gram
    * decontamination misses paraphrases and re-encodings that embed
    * nearby — the reason modern pipelines audit both lexical (q130) and
    * semantic (this) leakage before training.
    *
    * Scale: blocks are labels with the SAME size gate as q41/q44
    * ([[withSubBucket]]): past `maxExactBlock` a block subdivides by the
    * 16-bit LSH signature, confining the train×held comparison to LSH
    * cells (SemDeDup's accepted-miss screening — identical and
    * near-parallel vectors share cells, so real leaks survive the
    * subdivision) instead of O(|block|²). Each train vector contributes
    * ONE row to the post-join shuffle (map-side partial max), the rollup
    * is ≤|labels| rows. Determinism: cosine rounds 6 dp BEFORE the max
    * (order-independent, the oracle's max(round(...))).
    */
  def semanticLeakage(s: SparkSession, dir: String): DataFrame =
    semanticLeakageOn(emb(s, dir), stats = Some(dupMultForDir(s, dir)))

  /** The q116 deterministic split, shared by both q132 arms: ONE
    * definition so the dup-dense dispatch cannot silently audit a
    * different train/held assignment than the exact scan.
    */
  private def splitIsTrain: Column = substring(
    md5(concat(lit("graft-split:"), col("vec_id").cast("string"))),
    1, 4) < "cccc"

  /** `embDf` needs (vec_id, label, embedding). `exact = true` forces the
    * full within-label scan everywhere (validation mode — both harness
    * scales sit below the gate, so the catalog plan IS the exact plan).
    *
    * MULTIPLICITY-DISPATCHED like [[nnDedupOn]]: past `maxDupMult`
    * (same light hash-agg probe; `stats` supplies a pre-computed answer)
    * identical embeddings are contracted to one representative per
    * (label, split-side) with multiplicity carried — on a dup-dense
    * corpus every copy of a vector lands in the SAME LSH cell by
    * construction (signatures agree bit-for-bit), so the gated scan's
    * cells carry the full copy mass and the train×held join is quadratic
    * in multiplicity; identical vectors have identical max-cosines, so
    * auditing one representative and weighting the rollup by `m` is the
    * same answer at linear cost.
    */
  def semanticLeakageOn(embDf: DataFrame,
      threshold: Double = Q132Threshold,
      maxExactBlock: Int = MaxExactBlock,
      exact: Boolean = false,
      maxDupMult: Long = MaxDupMult,
      stats: Option[Long] = None): DataFrame = {
    if (!exact && stats.getOrElse(estMaxDupMult(embDf)) > maxDupMult)
      semanticLeakageContracted(embDf, threshold, maxExactBlock)
    else semanticLeakageDirect(embDf, threshold, maxExactBlock, exact)
  }

  private def semanticLeakageDirect(embDf: DataFrame,
      threshold: Double, maxExactBlock: Int, exact: Boolean): DataFrame = {
    // r16 (guide §5): e feeds the train side, the held side, the held
    // counts AND the final train rollup — four executions of the
    // scan+split+norm+size-gate subtree in the static plan (six parquet
    // scans). Pin it once; Tables.releaseCheckpoints frees the blocks
    // at the harness loop points (the q67/q149 convention).
    val e = Tables.pin(withSubBucket(
      embDf.select(col("vec_id"), col("label"), col("embedding"))
        .withColumn("is_train", splitIsTrain)
        .withColumn("nrm", norm(col("embedding"))),
      maxExactBlock, exact))
    val t = e.filter(col("is_train"))
      .select(col("vec_id"), col("label"), col("_sub"),
        col("embedding").as("t_emb"), col("nrm").as("t_nrm"))
    val h = e.filter(!col("is_train"))
      .select(col("label").as("h_label"), col("_sub").as("h_sub"),
        col("embedding").as("h_emb"), col("nrm").as("h_nrm"))
    val best = t
      .join(h, col("label") === col("h_label") &&
        col("_sub") === col("h_sub"))
      .groupBy(col("vec_id"), col("label"))
      .agg(max(round(try_divide(dot(col("t_emb"), col("h_emb")),
        col("t_nrm") * col("h_nrm")), 6)).as("max_cos"))
    val heldCounts = e.filter(!col("is_train"))
      .groupBy("label").agg(count(lit(1)).as("n_held"))
    e.filter(col("is_train")).select("vec_id", "label")
      .join(best, Seq("vec_id", "label"), "left")
      .groupBy("label")
      .agg(count(lit(1)).as("n_train"),
        sum(when(col("max_cos") >= threshold, 1L).otherwise(0L))
          .as("n_leaky"),
        max("max_cos").as("max_cos"))
      .join(heldCounts, Seq("label"), "left")
      .na.fill(0L, Seq("n_held"))
      .withColumn("leak_rate",
        round(col("n_leaky").cast("double") / col("n_train"), 6))
      .select("label", "n_train", "n_held", "n_leaky", "leak_rate",
        "max_cos")
      .orderBy("label")
  }

  /** The dup-dense arm: identical embeddings on the same (label,
    * split-side) are interchangeable for the audit — a train copy's max
    * cosine is the group's max cosine, and a held copy contributes the
    * same candidate values as its twin — so the scan runs over one
    * representative per group and the rollup weights by multiplicity
    * (`sum(m)` for n_train/n_held, `sum(m where leaky)` for n_leaky; the
    * per-label max is multiplicity-invariant). The size gate then sees
    * DISTINCT counts, so dup-dense blocks drop back under the exact
    * threshold and the quadratic-in-multiplicity cell mass disappears.
    * Cosines use the direct arm's own round-6-before-max expression —
    * zero vectors produce the same NULL (try_divide — a zero-norm
    * vector has no direction), so arm equivalence is exact.
    */
  private def semanticLeakageContracted(embDf: DataFrame,
      threshold: Double, maxExactBlock: Int): DataFrame = {
    // rep_id = min member id: a bounded group key for the per-rep max
    // (shuffling a long, not the embedding array). min() skips null
    // vec_ids, but a null vec_id has a null split side and is filtered
    // from both sides below — exactly the direct arm's behavior.
    val g = embDf.select(col("vec_id"), col("label"), col("embedding"))
      .withColumn("is_train", splitIsTrain)
      .groupBy(col("label"), col("is_train"), col("embedding"))
      .agg(min(col("vec_id")).as("rep_id"), count(lit(1)).as("m"))
    val e = withSubBucket(
      g.withColumn("nrm", norm(col("embedding"))),
      maxExactBlock, exact = false)
    val t = e.filter(col("is_train"))
      .select(col("rep_id"), col("label"), col("_sub"),
        col("embedding").as("t_emb"), col("nrm").as("t_nrm"))
    val h = e.filter(!col("is_train"))
      .select(col("label").as("h_label"), col("_sub").as("h_sub"),
        col("embedding").as("h_emb"), col("nrm").as("h_nrm"))
    val best = t
      .join(h, col("label") === col("h_label") &&
        col("_sub") === col("h_sub"))
      .groupBy(col("rep_id"), col("label"))
      .agg(max(round(try_divide(dot(col("t_emb"), col("h_emb")),
        col("t_nrm") * col("h_nrm")), 6)).as("max_cos"))
    val heldCounts = e.filter(!col("is_train"))
      .groupBy("label").agg(sum(col("m")).as("n_held"))
    e.filter(col("is_train")).select("rep_id", "label", "m")
      .join(best, Seq("rep_id", "label"), "left")
      .groupBy("label")
      .agg(sum(col("m")).as("n_train"),
        sum(when(col("max_cos") >= threshold, col("m")).otherwise(0L))
          .as("n_leaky"),
        max("max_cos").as("max_cos"))
      .join(heldCounts, Seq("label"), "left")
      .na.fill(0L, Seq("n_held"))
      .withColumn("leak_rate",
        round(col("n_leaky").cast("double") / col("n_train"), 6))
      .select("label", "n_train", "n_held", "n_leaky", "leak_rate",
        "max_cos")
      .orderBy("label")
  }

  /** Lloyd's k-means coarse-codebook builder — the trained-cluster path the
    * IVF cells (q45) and semantic-dedup buckets (q64) document as
    * "precomputed in production". Deterministic end to end, so a rebuilt
    * codebook on any cluster layout is bit-identical: init picks the k
    * vectors with the lowest arithmetic hash of vec_id (reproducible, no
    * rand()), assignment breaks distance ties on the lower cluster index,
    * and each centroid update is [[lloydUpdate]]'s exact-decimal fold,
    * rounded to 6 dp after the merge (partition-order independent AND
    * engine-independent — the q43/q140 cross-engine digest discipline;
    * quantizing each iteration's codebook kills float-ulp drift, which is
    * what lets the q143/q144 oracles replay the full training in DuckDB).
    *
    * Scale per iteration: the k×dim codebook rides into the plan as
    * literals (broadcast by value), assignment is per-row arithmetic
    * (k native vec_dot calls), and the update folds each partition to one
    * k×dim partial — the corpus never shuffles. Driver holds only the
    * k×dim codebook between iterations (same bounded footprint as the IVF
    * probe list).
    */
  def kmeansCentroids(embDf: DataFrame, k: Int = 8,
      iters: Int = 5): Array[Array[Double]] =
    lloyd(embDf, k, iters, nSub = 1,
      "kmeansCentroids: no vectors to train on (empty embedding frame) — " +
        "an empty codebook would make every downstream assignment " +
        "undefined")(cb => array(clusterOf(cb)))

  /** The one Lloyd loop behind [[kmeansCentroids]] and
    * [[pqTrainedCodebook]]: init is the `k` vectors of `vecs` (vec_id,
    * embedding) with the lowest [[Tables.lcgBucket]] hash of vec_id, then
    * `iters` rounds of [[lloydUpdate]] over the `codes` assignment column
    * (`array<int>`, one codeword per subspace, `nSub` subspaces) built
    * from the current codebook. Fails with `emptyMsg` when there is
    * nothing to train on.
    */
  private def lloyd(vecs: DataFrame, k: Int, iters: Int, nSub: Int,
      emptyMsg: String)(
      codes: Array[Array[Double]] => Column): Array[Array[Double]] = {
    var cb: Array[Array[Double]] = Tables.boundedCollect(vecs
      .orderBy(Tables.lcgBucket(col("vec_id"), 48271L, 11L, 1000000007L).asc,
        col("vec_id").asc)
      .limit(k)
      .select(col("embedding").cast("array<double>")),
      k, "Lloyd init vectors").map(_.getSeq[Double](0).toArray)
    require(cb.nonEmpty, emptyMsg)
    for (_ <- 0 until iters)
      cb = lloydUpdate(vecs.select(codes(cb), col("embedding")), cb, nSub)
    cb
  }

  /** One Lloyd update step: `assigned` is (codes: array&lt;int&gt;,
    * embedding: array&lt;float|double&gt;), where `codes(m)` is the row's
    * codeword in subspace m, which spans positions
    * `[m·subDim, (m+1)·subDim)` with `subDim = dim / nSub`. Each codeword
    * position becomes the mean of its assigned rows' elements.
    *
    * ONE `treeAggregate` (depth 1, the MLlib k-means shape) folds each
    * partition into exact per-(codeword, position) decimal sums and row
    * counts ([[LloydCells]]) and merges the partials on the driver: one
    * job with no shuffle stage, so neither AQE nor a reducer count has
    * anything to decide and the session conf is never touched. Each
    * element becomes Spark's own [[Decimal]] at (38,10) — what
    * `CAST(v AS DECIMAL(38,10))` computes — and exact sums make the merge
    * order irrelevant, so the result is the one
    * `round(CAST(sum(CAST(v AS DECIMAL(38,10))) AS DOUBLE) / count(*), 6)`
    * the oracle CTEs replay. A row with a null `codes` or embedding, or a
    * null codeword, is skipped; a null (or NaN/±Inf, which the cast makes
    * NULL) element still counts toward its cell's rows but not its sum.
    * An emptied codeword keeps its previous values.
    */
  private[graft] def lloydUpdate(assigned: DataFrame,
      prev: Array[Array[Double]], nSub: Int): Array[Array[Double]] = {
    val dim = prev.head.length
    val subDim = dim / nSub
    val isFloat = assigned.schema(1).dataType
      .asInstanceOf[ArrayType].elementType == FloatType
    val cells = assigned.queryExecution.toRdd.treeAggregate(
      new LloydCells(prev.length, dim))(
      (acc, row) => acc.add(row, isFloat, subDim), _.merge(_), depth = 1)
    Array.tabulate(prev.length, dim)((c, p) => cells.mean(c, p, prev(c)(p)))
  }

  /** [[lloydUpdate]]'s partials: per (codeword, position) cell, the exact
    * scale-10 sum of its non-null elements (null until one arrives) and
    * its assigned-row count. Mutated in place, like MLlib's k-means
    * aggregator; its size is k × dim by construction.
    */
  private final class LloydCells(k: Int, dim: Int) extends Serializable {
    private val sums = new Array[java.math.BigDecimal](k * dim)
    private val counts = new Array[Long](k * dim)

    def add(row: InternalRow, isFloat: Boolean, subDim: Int): LloydCells = {
      if (!row.isNullAt(0) && !row.isNullAt(1)) {
        val codes = row.getArray(0)
        val v = row.getArray(1)
        val n = math.min(v.numElements(), dim)
        var m = 0
        while (m < codes.numElements()) {
          if (!codes.isNullAt(m)) {
            val base = codes.getInt(m) * dim
            var p = m * subDim
            val end = math.min(p + subDim, n)
            while (p < end) {
              counts(base + p) += 1
              if (!v.isNullAt(p)) {
                val x = if (isFloat) v.getFloat(p).toDouble else v.getDouble(p)
                // NaN/±Inf have no decimal form: the cast yields NULL
                if (!x.isNaN && !x.isInfinite) {
                  val d = Decimal(x)
                  if (!d.changePrecision(38, 10))
                    throw new ArithmeticException(
                      s"lloydUpdate: $x does not fit DECIMAL(38,10)")
                  val s = sums(base + p)
                  val e = d.toJavaBigDecimal
                  sums(base + p) = if (s == null) e else s.add(e)
                }
              }
              p += 1
            }
          }
          m += 1
        }
      }
      this
    }

    def merge(o: LloydCells): LloydCells = {
      var i = 0
      while (i < sums.length) {
        counts(i) += o.counts(i)
        if (o.sums(i) != null)
          sums(i) = if (sums(i) == null) o.sums(i) else sums(i).add(o.sums(i))
        i += 1
      }
      this
    }

    /** `round(CAST(sum AS DOUBLE) / n, 6)` as Spark evaluates it on a
      * double (HALF_UP over the double's shortest decimal form), or
      * `prev` for a cell with no element to average.
      */
    def mean(c: Int, p: Int, prev: Double): Double = {
      val s = sums(c * dim + p)
      if (s == null) prev
      else BigDecimal(Decimal(s).toDouble / counts(c * dim + p))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
  }

  /** Nearest-centroid assignment for a literal codebook: squared-L2 argmin
    * entirely in per-row arithmetic (|x|² shared across the k distances),
    * deterministic tie-break on the lower cluster index via struct
    * `array_min`. Adds a `cluster` column.
    */
  def assignClusters(embDf: DataFrame,
      centroids: Array[Array[Double]]): DataFrame = {
    // r16: the per-cell struct array comes from the graft_cell_dists
    // kernel instead of the composed array(struct(…)) expression — same
    // structs bit for bit (the kernel replays cellDists' op order; its
    // scaladoc carries the proof obligations), but the centroids ride as
    // codegen REFERENCES: the composed form inlined each |c|² as a
    // source constant, so every Lloyd iteration's fresh centroids forced
    // a janino recompile of the update stage (5–10 per trained-face
    // call). array_min's argmin/tie-break semantics are untouched.
    embDf.withColumn("cluster", clusterOf(centroids))
  }

  /** [[assignClusters]]' `cluster` column over `embedding`. */
  private def clusterOf(centroids: Array[Array[Double]]): Column =
    array_min(GraftFunctions.cellDists(col("embedding"), centroids))
      .getField("c")

  /** q89: cross-modal curation — the documents table (lexical quality,
    * the q33 composite score) joined with the embeddings table (the same
    * corpus's vector modality, doc_id = vec_id) to rank documents by a
    * combined lexical×semantic signal: `score × ||embedding||`. This is
    * the join every curation pipeline runs once embeddings exist — text
    * heuristics alone keep boilerplate with confident embeddings, vector
    * signals alone keep fluent spam; the product requires both.
    *
    * Scale: both sides are corpus-sized, co-keyed on the document id —
    * ONE id-keyed shuffle equi-join (AQE picks sort-merge vs broadcast by
    * actual size); quality scoring and the norm are per-row codegen'd
    * maps; the final cut is TakeOrderedAndProject. Determinism: the score
    * is the oracle-proven q33 expression, the norm is the index-order
    * VecDot accumulation (bit-exact vs the oracle's unrolled SQL), and
    * the ordering key rounds before comparing.
    */
  def crossmodalCuration(s: SparkSession, dir: String): DataFrame =
    crossmodalCurationOn(Tables.t(s, dir, "documents"), emb(s, dir))

  /** `docsDf` needs (doc_id, source, text); `embDf` (vec_id, embedding). */
  def crossmodalCurationOn(docsDf: DataFrame, embDf: DataFrame,
      k: Int = 20): DataFrame = {
    val scored = TextOps.scoredDocsOn(docsDf)
      .select(col("doc_id"), col("source"), col("score"))
    val norms = embDf.select(col("vec_id").as("doc_id"),
      norm(col("embedding")).as("raw_norm"))
    scored.join(norms, "doc_id")
      .select(col("doc_id"), col("source"), col("score"),
        round(col("raw_norm"), 6).as("emb_norm"),
        round(col("score") * col("raw_norm"), 6).as("combined"))
      .orderBy(col("combined").desc, col("doc_id").asc)
      .limit(k)
  }

  /** q95: cluster-purity / confusion matrix — every vector assigned to
    * its nearest label centroid (squared-L2, deterministic low-index
    * tie-break), tabulated against its true label. The vector-side
    * quality gate a curation pipeline runs on a new embedding batch:
    * off-diagonal mass = vectors that disagree with their label's
    * centroid (mislabeled or drifted).
    *
    * Scale: the codebook is |labels|×dim values — it contracts through
    * the same decimal-exact aggregation as q43 and rides the plan as
    * LITERALS (the bounded driver hop every codebook/IVF system makes);
    * assignment is per-row codegen'd arithmetic (|x|² shared across the
    * k distances), and the confusion matrix is a ≤|labels|² aggregation.
    * The corpus never shuffles. Determinism: centroids are the q43
    * rounded values (hash-proven), every distance accumulates in index
    * order (VecDot), so the DuckDB oracle re-derives identical
    * assignments.
    */
  def clusterPurity(s: SparkSession, dir: String): DataFrame =
    clusterPurityOn(emb(s, dir))

  /** `embDf` needs (vec_id, label, embedding). */
  def clusterPurityOn(embDf: DataFrame): DataFrame = {
    // one codebook-assembly definition (pqCodebook): same collect/group/
    // sort discipline AND its empty-table guard, instead of a drifting
    // re-implementation that failed later with an opaque array_min error
    val (labels, codebook) = pqCodebook(embDf)
    assignClusters(embDf, codebook)
      .select(col("label"),
        element_at(typedLit(labels.toSeq), col("cluster") + 1)
          .as("assigned_label"))
      .groupBy("label", "assigned_label")
      .agg(count(lit(1)).as("n_vectors"))
      .orderBy("label", "assigned_label")
  }

  // ---------------------------------------------------------------- q113

  /** q113: ANN top-k in random-projection space — the
    * Johnson–Lindenstrauss scale path. Every vector projects ONCE onto the
    * 16 fixed hyperplanes (the q42 constants, kept as VALUES instead of
    * sign bits): 16 native `VecDot`s against literal planes, a map-only
    * pass. The search then runs entirely in 16-dim space — dot products
    * cost Dim/16 = 4× less than the q40 brute scan, and the projected
    * table is ~4× smaller to shuffle, cache, or re-query. Top-k is the
    * same broadcast-query + TakeOrderedAndProject shape as q40.
    *
    * Projected cosines approximate true cosines (JL preserves inner
    * products in expectation); the spec pins a planted near-duplicate to
    * rank 1 and the oracle replays the whole projection bit-exactly
    * (plane literals round-trip through Double.toString, coordinates
    * round to 6 dp before the cosine, so both engines fold identical
    * doubles in identical order).
    */
  def annRp(s: SparkSession, dir: String): DataFrame =
    annRpOn(emb(s, dir))

  /** `embDf` needs (vec_id, label, embedding). */
  def annRpOn(embDf: DataFrame, queryId: Long = 0L, k: Int = 10): DataFrame = {
    val proj = array(planes.map(p =>
      round(dot(col("embedding"), typedLit(p.toSeq)), 6)): _*)
    val e = embDf.select(col("vec_id"), col("label"), proj.as("p"))
    val q = broadcast(e.filter(col("vec_id") === queryId)
      .select(col("p").as("qp")))
    e.crossJoin(q)
      .filter(col("vec_id") =!= queryId)
      .select(col("vec_id"), col("label"),
        round(cosine(col("p"), col("qp")), 6).as("proj_sim"))
      .orderBy(col("proj_sim").desc, col("vec_id").asc)
      .limit(k)
  }

  // ---------------------------------------------------------------- q110

  /** q110: embedding-store integrity audit — per label: vector count, the
    * count of NULL vectors (they'd silently null out a downstream cosine —
    * min/max/avg all skip nulls, so without an explicit column the audit
    * itself would be blind to them), the count of vectors with a null
    * ELEMENT (a class the vec_dot kernel reads as NULL — the corrupt-input
    * discipline — so THIS query is where such rows become visible instead
    * of silently shrinking every similarity result), the dimension range
    * (ragged arrays
    * are the classic silent killer of a downstream matmul: one short
    * vector poisons a whole batch), the L2 norm range/mean, and the count
    * of degenerate (near-zero-norm) vectors that would NaN out a cosine.
    * Run before any ANN/dedup pass over a freshly ingested embedding
    * table; at 100 TB this is one linear scan with an ≤|labels|-row
    * aggregate and the same per-row native VecDot kernel the ANN queries
    * use — no shuffle wider than the label rollup.
    *
    * Determinism: the per-row norm is the index-ordered [[dot]] fold
    * (bit-identical to the unrolled oracle SQL), rounded to 6 dp; the mean
    * runs through an exact decimal sum of those rounded norms, divided by
    * the NON-NULL count.
    */
  def embeddingAudit(s: SparkSession, dir: String): DataFrame =
    embeddingAuditOn(emb(s, dir))

  /** `embDf` needs (label, embedding). */
  def embeddingAuditOn(embDf: DataFrame): DataFrame = {
    val Dec = org.apache.spark.sql.types.DecimalType(38, 10)
    // a null ELEMENT inside a vector is its own malformation class: the
    // norm kernel (vec_dot) reads it as NULL (corrupt-input discipline),
    // but the audit detects it EXPLICITLY so the report distinguishes
    // "null element" from other null-norm causes — the audit's job is to
    // name the malformation, not infer it from a null score (the oracle
    // twin propagates the null through its arithmetic naturally, landing
    // on the same null nrm)
    val nullElem = col("embedding").isNotNull &&
      exists(col("embedding"), x => x.isNull)
    embDf
      .select(col("label"),
        when(col("embedding").isNotNull && !nullElem,
          round(norm(col("embedding")), 6)).as("nrm"),
        // dim guarded by isNotNull rather than relying on size(NULL) =
        // NULL: under spark.sql.legacy.sizeOfNull a NULL embedding would
        // report dim = -1, so n_null would read 0 and min_dim -1 —
        // silently defeating the audit's whole point of surfacing NULLs
        when(col("embedding").isNotNull,
          size(col("embedding")).cast("long")).as("dim"),
        col("embedding").isNull.as("is_null"),
        nullElem.as("has_null_elem"))
      .groupBy("label")
      .agg(
        count(lit(1)).as("n"),
        sum(when(col("is_null"), 1L).otherwise(0L)).as("n_null"),
        sum(when(col("has_null_elem"), 1L).otherwise(0L)).as("n_null_elem"),
        min("dim").as("min_dim"), max("dim").as("max_dim"),
        min("nrm").as("min_norm"), max("nrm").as("max_norm"),
        round(sum(col("nrm").cast(Dec)).cast("double") / count(col("nrm")), 6)
          .as("avg_norm"),
        sum(when(col("nrm") < 1e-6, 1L).otherwise(0L)).as("n_degenerate"))
      .orderBy("label")
  }

  // ---------------------------------------------------------------- q123

  /** Subspace count and width for product quantization: 64 dims → 8
    * contiguous 8-dim blocks.
    */
  val PqSub = 8
  val PqSubDim: Int = Dim / PqSub

  /** q123: product-quantization ANN (Jégou et al., "Product Quantization
    * for Nearest Neighbor Search", IEEE TPAMI 2011) — the memory-scale
    * path past IVF (q45) and random projection (q113): each vector is
    * split into [[PqSub]] contiguous subvectors and every subvector is
    * quantized to its nearest sub-codeword, compressing 64 floats (256 B)
    * to 8 one-byte codes — a 32× cut, the difference between an
    * in-memory ANN index and none at 100 TB. Search is asymmetric
    * distance computation (ADC): the query stays EXACT, one per-subspace
    * lookup table is built once from the query, and every corpus vector
    * costs 8 table lookups + 7 adds — no full-dimension arithmetic in the
    * scan at all.
    *
    * Codebook: per (subspace, codeword) slices of the q43 decimal-exact
    * rounded per-label centroids (the testdata's natural clustering —
    * a [[kmeansCentroids]]-per-subspace codebook drops into the same
    * literal shape), so the oracle re-derives identical codewords. The
    * driver hop is |labels| × Dim rounded doubles — the same bounded
    * codebook footprint every PQ system keeps.
    *
    * Scale: encoding is a map-only pass (all codewords ride as literals;
    * the corpus never shuffles), the query row broadcasts, and the top-k
    * is TakeOrderedAndProject. Determinism: each distance is
    * |x_m|² − 2·x_m·c + |c|² with both dots in index order (native
    * VecDot), c² a driver-side left fold the oracle unrolls identically,
    * argmin tie-broken on the lower codeword, and the 8-term ADC sum
    * left-associated on both engines before the final round.
    */
  def annPq(s: SparkSession, dir: String): DataFrame =
    annPqOn(emb(s, dir))

  /** Sorted distinct labels and the full rounded centroid per label —
    * codeword index = label rank (bounded driver hop, q43 values).
    */
  private def pqCodebook(embDf: DataFrame): (Array[Int], Array[Array[Double]]) = {
    // null labels carry no codeword identity (Row.getAs[Int] would
    // silently unbox them to 0 and merge them into real label 0), and
    // ragged corpus vectors stretch their label's position-wise centroid
    // past the corpus dim — both are training-data corruption, not
    // codebook shape. Settle on the MODAL centroid length (ties to the
    // smaller — deterministic), truncate longer centroids to it (their
    // leading dims were averaged over every member, including the ragged
    // one's prefix), and drop labels that cannot reach it; the q110 audit
    // face is where the dropped rows get reported.
    // one row per (label, dim) — the codebook's own shape
    val centRows = Tables.boundedCollect(
      labelCentroidsOn(embDf.filter(col("label").isNotNull))
        .select("label", "dim", "centroid"),
      1 << 20, "pq codebook centroids (labels × dim)")
    require(centRows.nonEmpty,
      "PQ codebook: empty embedding table — no labels to derive " +
        "sub-codewords from (train one and use the *With form: " +
        "annPqWith / pqDistortionWith)")
    val byLabel = centRows.groupBy(_.getAs[Int]("label"))
    val modal = byLabel.valuesIterator.map(_.length).toSeq
      .groupBy(identity).maxBy { case (len, occ) => (occ.size, -len) }._1
    val labels = byLabel.collect {
      case (l, rows) if rows.length >= modal => l
    }.toArray.sorted
    val full = labels.map(l => byLabel(l).sortBy(_.getAs[Int]("dim"))
      .take(modal).map(_.getAs[Double]("centroid")))
    (labels, full)
  }

  /** `embDf` needs (vec_id, label, embedding). */
  def annPqOn(embDf: DataFrame, queryId: Long = 0L, k: Int = 10): DataFrame = {
    val (labels, full) = pqCodebook(embDf)
    annPqSearch(embDf, labels, full, queryId, k)
  }

  /** Trained-codebook form — the production path: the codebook is an
    * ANALYZE artifact (e.g. [[kmeansCentroids]], trained once per corpus
    * generation), so encode+search skips the per-call centroid pass
    * entirely; `pq_code` then carries codeword indices. Same plan shape.
    */
  def annPqWith(embDf: DataFrame, codebook: Array[Array[Double]],
      queryId: Long = 0L, k: Int = 10): DataFrame =
    annPqSearch(embDf, codebook.indices.toArray, codebook, queryId, k)

  private def annPqSearch(embDf: DataFrame, labels: Array[Int],
      full: Array[Array[Double]], queryId: Long, k: Int): DataFrame = {
    // codebook(m)(j) = 8-dim sub-codeword j of subspace m
    val cb: Array[Array[Array[Double]]] = Array.tabulate(PqSub)(m =>
      full.map(_.slice(m * PqSubDim, (m + 1) * PqSubDim)))
    def sub(m: Int): Column =
      slice(col("embedding"), m * PqSubDim + 1, PqSubDim)
    // |x_m|² − 2·x_m·c_j + |c_j|² per codeword: dots in index order,
    // c² a driver left fold — the assignClusters arithmetic per subspace.
    // Used ONLY on the single query row (the lookup tables); the corpus
    // encodes through the fused native kernel, which computes the
    // IDENTICAL op sequence (spec-pinned) without the 88-dot expression
    // tree that overflows the codegen budget into interpreted eval.
    def dists(m: Int): Seq[Column] = {
      val x2 = dot(sub(m), sub(m))
      cb(m).toSeq.map(c =>
        x2 - lit(2.0) * dot(sub(m), typedLit(c.toSeq)) +
          lit(c.map(v => v * v).sum))
    }
    val coded = embDf.select(col("vec_id"), col("label"),
      GraftFunctions.pqEncode(col("embedding"), full, PqSubDim).as("codes"))
    // ADC lookup tables: the SAME distance expressions evaluated once on
    // the query row (asymmetric — the query side is never quantized)
    val q = broadcast(embDf.filter(col("vec_id") === queryId)
      .select((0 until PqSub).map(m => array(dists(m): _*).as(s"lut$m")): _*))
    val adc = (0 until PqSub).map(m =>
        element_at(col(s"lut$m"), col("codes")(m) + 1))
      .reduceLeft(_ + _)
    coded.crossJoin(q)
      .filter(col("vec_id") =!= queryId)
      .select(col("vec_id"), col("label"),
        array_join(transform(col("codes"), j =>
          element_at(typedLit(labels.toSeq), j + 1).cast("string")), ",")
          .as("pq_code"),
        round(adc, 6).as("adc_dist"))
      // a vector the codebook could not encode has NULL codes → NULL ADC
      // distance (the kernel corrupt-input discipline); ascending order
      // sorts nulls FIRST, so they must be excluded or they displace real
      // neighbors from the top-k
      .filter(col("adc_dist").isNotNull)
      .orderBy(col("adc_dist").asc, col("vec_id").asc)
      .limit(k)
  }

  // ---------------------------------------------------------------- q140

  /** Trained-PQ codebook size and Lloyd iteration count the q140
    * registration pins (the oracle unrolls exactly this many iterations).
    */
  val PqTrainK = 8
  val PqTrainIters = 5

  /** Joint per-subspace Lloyd training for the PQ codebook — the
    * ANALYZE step that replaces the label-derived codebook (q123/q128's
    * compression-only fallback; the q138 recall curve is flat at ~4 % on
    * a corpus whose labels don't cluster) with codewords fit to the data
    * actually being quantized. All [[PqSub]] subspaces train TOGETHER in
    * one corpus pass per iteration: assignment reuses the fused native
    * `graft_pq_encode` kernel (per-subspace squared-L2 argmin, low-index
    * tie-break — the spec-pinned q123 arithmetic, so the oracle's
    * row_number replay derives identical codes), and the update is
    * [[lloydUpdate]]'s one fold to ≤ PqSub·k·subDim exact-decimal cells —
    * the corpus never shuffles, and a separate per-subspace training (8×
    * the passes) would read the same bytes eight times for no extra
    * information.
    *
    * Returned as `k` FULL-dim codewords (sub-codeword j of subspace m =
    * slice m of row j — subspaces are independent in PQ, so the pairing
    * is just storage layout): [[annPqWith]], `pqDistortionWith` and the
    * store writer consume it unchanged.
    *
    * Determinism (the rebuild-anywhere contract, same as
    * [[kmeansCentroids]]): init is the `k` valid vectors with the lowest
    * [[Tables.lcgBucket]] hash of vec_id (no rand()), every update mean
    * is the exact-decimal sum rounded to 6 dp after the merge (the
    * q43 cross-engine digest discipline — quantizing each iteration's
    * codebook kills float-ulp drift across engines and cluster layouts),
    * and an emptied codeword keeps its previous values. Training reads
    * only valid full-dim vectors (null / ragged / null-element rows are
    * data corruption, not codebook shape — q110's audit is where they
    * get reported).
    */
  def pqTrainedCodebook(embDf: DataFrame, k: Int = PqTrainK,
      iters: Int = PqTrainIters): Array[Array[Double]] = {
    // persisted across the Lloyd iterations (standard k-means practice:
    // 1 + iters sequential jobs would otherwise re-scan and re-project
    // the corpus each time); MEMORY_AND_DISK so a corpus past executor
    // memory degrades to spill, not OOM
    val valid = embDf
      .filter(col("embedding").isNotNull &&
        size(col("embedding")) === Dim &&
        !exists(col("embedding"), v => v.isNull))
      .select(col("vec_id"),
        col("embedding").cast("array<double>").as("embedding"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try pqTrainOn(valid, k, iters)
    finally valid.unpersist(blocking = false)
  }

  /** The Lloyd loop of [[pqTrainedCodebook]] over an ALREADY-materialized
    * valid (vec_id, embedding: array&lt;double&gt;) frame — the trained
    * IVF-PQ faces feed it their pinned residual frame (r15),
    * which already serves the encode and the search, instead of paying
    * the trainer's own persist of a second copy.
    */
  private def pqTrainOn(valid: DataFrame, k: Int,
      iters: Int): Array[Array[Double]] =
    lloyd(valid, k, iters, nSub = PqSub,
      "pqTrainedCodebook: no valid full-dim vectors to train on " +
        "(empty or fully-corrupt embedding table)")(cb =>
      GraftFunctions.pqEncode(col("embedding"), cb, PqSubDim))

  /** q140: trained-PQ ANN — the q123 ADC search running against the
    * [[pqTrainedCodebook]] instead of the label-derived one: train (5
    * bounded one-pass iterations), encode through the fused kernel,
    * search with query-side lookup tables. This is the production PQ
    * face — the label codebook is what a pipeline uses before its first
    * ANALYZE; this is what it uses after. `pq_code` carries codeword
    * INDICES (0-based init rank), the trained codebook's only identity.
    *
    * Scale: training adds `1 + iters` bounded driver collects (init
    * vectors + k×Dim cell frames — the same footprint every PQ system's
    * train step keeps); search is unchanged q123 shape (map-only encode,
    * broadcast LUTs, TakeOrderedAndProject). In production the codebook
    * is trained once per corpus generation, persisted via
    * [[writeCodebookStore]], and reused via [[readCodebookStore]] +
    * [[annPqWith]]; this face retrains per call so the oracle can replay
    * the whole lifecycle end to end.
    */
  def annPqTrained(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    annPqWith(e, pqTrainedCodebook(e))
  }

  // ---------------------------------------------------------------- q143

  /** Trained-IVF coarse codebook size and Lloyd iteration count the
    * q143/q144 registrations pin (the oracle unrolls exactly this many
    * iterations).
    */
  val IvfTrainK = 8
  val IvfTrainIters = 5

  /** Valid full-dim (vec_id, label, embedding: array<double>) projection —
    * the trained-IVF faces train AND search over exactly this frame, so a
    * vector excluded from training (null / ragged / null-element — data
    * corruption, reported by q110's audit, not silently quantized) is
    * also never a search candidate: train-set and index membership cannot
    * diverge.
    */
  private[graft] def validLabeled(embDf: DataFrame): DataFrame =
    embDf.filter(col("embedding").isNotNull &&
        size(col("embedding")) === Dim &&
        !exists(col("embedding"), v => v.isNull))
      .select(col("vec_id"), col("label"),
        col("embedding").cast("array<double>").as("embedding"))

  /** q143: trained-IVF ANN — the q45 cell-probed search running against
    * [[kmeansCentroids]] cells instead of the label-derived ones: train
    * (5 bounded one-pass Lloyd iterations), assign every vector to its
    * nearest trained centroid (the spec-pinned [[assignClusters]]
    * arithmetic — squared-L2 argmin, low-index tie-break), probe the
    * query's 3 nearest cells by the same metric, exact-re-rank only those
    * cells' vectors. This is the production IVF face — q45's label cells
    * are what a pipeline uses before its first ANALYZE; this is what it
    * uses after (the open half of q140's trained-index story).
    *
    * Scale: training is [[kmeansCentroids]]'s bounded loop (the corpus
    * never shuffles — ≤ k·dim update cells per iteration); the search is
    * unchanged q45 shape (codebook rides in as literals, probe list
    * broadcast, TakeOrderedAndProject top-k). The face retrains per call
    * BY DESIGN so the oracle replays the whole train→assign→probe→rank
    * lifecycle (the q140 convention); production trains once, persists
    * via [[writeCodebookStore]], and reuses via [[readCodebookStore]] +
    * [[annIvfWithCells]].
    */
  def annIvfTrained(s: SparkSession, dir: String): DataFrame = {
    val valid = validLabeled(emb(s, dir))
    annIvfWithCells(valid, kmeansCentroids(valid, IvfTrainK, IvfTrainIters))
  }

  /** The q45 search shape pointed at an explicit coarse codebook (e.g.
    * [[kmeansCentroids]], trained once per corpus generation): corpus
    * vectors assign to cells via [[assignClusters]], the query probes its
    * `nProbe` nearest cells (squared-L2 asc, lower cell index on ties —
    * the SAME metric as the assignment, so the probe ring and the cell
    * contents agree on geometry), and only the probed cells' vectors pay
    * an exact cosine. `validDf` needs (vec_id, label, embedding); pass a
    * null-free full-dim frame ([[validLabeled]]'s contract).
    *
    * Scale: zero corpus shuffles — the codebook and the ≤ nProbe probe
    * list are broadcast/literal, assignment is per-row arithmetic, the
    * cut is TakeOrderedAndProject.
    */
  def annIvfWithCells(validDf: DataFrame, centroids: Array[Array[Double]],
      queryId: Long = 0L, k: Int = 10, nProbe: Int = 3): DataFrame = {
    val session = validDf.sparkSession
    import session.implicits._
    require(centroids.nonEmpty,
      "annIvfWithCells: empty coarse codebook — train with kmeansCentroids")
    // probe ring driver-side from ONE bounded collect of the query row
    // ([[probeRingLocal]] — the annIvfPqFromStore twin of cellDists'
    // expression arithmetic); the query vector re-enters the plan as a
    // literal. The previous q → probed broadcast-subtree chain cost two
    // sequential jobs, each re-running the corpus scan (r15; a missing
    // query id yields an empty ring → empty join → empty result, the
    // prior empty-broadcast behavior).
    val qOpt = queryVecLocal(validDf, queryId)
    val ring = qOpt.map(q => probeRingLocal(q, centroids, nProbe))
      .getOrElse(Seq.empty)
    val qArr: Seq[Double] = qOpt.map(_.toSeq).getOrElse(Seq.empty)
    assignClusters(validDf, centroids)
      .join(broadcast(ring.toDF("cell")), col("cluster") === col("cell"))
      .filter(col("vec_id") =!= queryId)
      .select(col("vec_id"), col("label"), col("cell"),
        round(cosine(col("embedding"), typedLit(qArr)), 6).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id").asc)
      .limit(k)
  }

  // The former composed per-cell struct builder (cellDists) lives on as
  // the graft_cell_dists kernel (functions.CellDistances) — same
  // arithmetic and op order, centroids as codegen references instead of
  // inlined source constants; [[assignClusters]] is its only consumer.

  // ---------------------------------------------------------------- q151

  /** Probe-ring width the q151 registration pins (q143's 3, so the two
    * trained faces differ only in what is scanned inside the ring:
    * exact vectors there, residual codes here).
    */
  val IvfPqNProbe = 3

  /** q151: trained IVF-PQ residual ANN — the two trained quantizers
    * COMPOSED the way a production index actually ships (the FAISS
    * IVFADC shape): a coarse Lloyd codebook ([[kmeansCentroids]])
    * partitions the corpus into cells, every vector PQ-encodes its
    * RESIDUAL (vector − its cell centroid) against a second per-subspace
    * codebook trained ON those residuals ([[pqResidualCodebook]]), and a
    * query probes its [[IvfPqNProbe]] nearest cells, scoring ONLY the
    * probed cells' residual codes by ADC with a per-cell lookup table
    * (the query's residual differs per cell). Residual encoding is what
    * makes the composition worth it: residuals are centered near 0, so
    * the same 8-bit-per-subspace budget spends its codewords on a far
    * tighter distribution than raw vectors — q140 compresses, q143
    * prunes, q151 does both, which is the only way an exhaustive-scan-
    * free index fits a 100 TB corpus.
    *
    * Scale: both trainings are the proven bounded loops (corpus never
    * shuffles; ≤ k·dim update cells per iteration); the search scan
    * touches only probed cells' 8-byte codes — no full-dim arithmetic
    * per candidate at all (8 table lookups + 7 adds); probe list and
    * LUTs broadcast from the single query row; the cut is
    * TakeOrderedAndProject. Retrains per call BY DESIGN (the q140/q143
    * convention — the oracle replays BOTH trainings, the residual
    * construction, the encode, and the probed ADC end to end);
    * production trains once, persists both artifacts via
    * [[writeCodebookStore]], and searches via [[annIvfPqWith]].
    *
    * Determinism: coarse assignment is [[assignClusters]]' arithmetic;
    * residuals are element-wise IEEE subtractions (exact, both
    * engines); the residual trainer inherits [[pqTrainedCodebook]]'s
    * after-merge 6-dp rounding; LUT distances replay the q123 op
    * order per probed cell; the 8-term ADC sum left-associates before
    * the final round.
    */
  def annIvfPqTrained(s: SparkSession, dir: String): DataFrame = {
    val valid = validLabeled(emb(s, dir))
    val cells = kmeansCentroids(valid, IvfTrainK, IvfTrainIters)
    // r15: ONE materialized residual frame (a Tables.pin, never the
    // session cache)
    // feeds the residual trainer's 6 bounded iterations AND the index
    // encode; before, the trainer pinned its own copy and the search
    // re-derived residuals from parquet with a second full
    // coarse-assignment pass.
    val resid = Tables.pin(residualsWith(valid, cells))
    annIvfPqSearchOn(resid, cells, pqResidualCodebookOn(resid),
      queryId = 0L, k = 10, nProbe = IvfPqNProbe)
  }

  /** The coarse-assigned residual frame: (vec_id, label, cluster,
    * residual = embedding − its cell centroid) — ONE definition feeding
    * the residual trainer, the index encode, and (via the same
    * arithmetic on the query row) the search LUTs, so the three can
    * never disagree on what a residual is. Element-wise double
    * subtraction: exact and engine-identical given the 6-dp-rounded
    * centroids ride in as literals.
    */
  private def residualsWith(validDf: DataFrame,
      cells: Array[Array[Double]]): DataFrame = {
    val cellsLit = typedLit(cells.map(_.toSeq).toSeq)
    // embedding rides along (r15): the trained faces pin this
    // frame once and serve the query-vector lookup, the recall sweep's
    // exact arm and the refine stage from it — consumers that don't need
    // it prune the column at plan time, so the inline (*With) paths pay
    // nothing for it
    assignClusters(validDf, cells)
      .select(col("vec_id"), col("label"), col("cluster"), col("embedding"),
        zip_with(col("embedding"),
          element_at(cellsLit, col("cluster") + 1),
          (x, c) => x - c).as("residual"))
  }

  /** Train the residual PQ codebook: [[pqTrainedCodebook]]'s bounded
    * per-subspace Lloyd loop pointed at the residual frame instead of
    * the raw corpus. `validDf` must be [[validLabeled]]-shaped and
    * `cells` the coarse codebook the index will assign against —
    * training on residuals of a DIFFERENT coarse generation would
    * produce codewords centered on the wrong distribution (the
    * codebook-fingerprint store guard exists for exactly this class).
    */
  def pqResidualCodebook(validDf: DataFrame, cells: Array[Array[Double]],
      k: Int = PqTrainK, iters: Int = PqTrainIters): Array[Array[Double]] =
    pqTrainedCodebook(
      residualsWith(validDf, cells)
        .select(col("vec_id"), col("residual").as("embedding")),
      k, iters)

  /** [[pqResidualCodebook]] over an ALREADY-materialized residual frame
    * (the trained faces' pin) — skips the trainer's own
    * persist and its validity re-filter: residuals of [[validLabeled]]
    * vectors are non-null full-dim doubles by construction (zip_with of
    * two non-null double arrays), so the filter passes every row and the
    * training set is identical.
    */
  private def pqResidualCodebookOn(residFrame: DataFrame,
      k: Int = PqTrainK, iters: Int = PqTrainIters): Array[Array[Double]] =
    pqTrainOn(residFrame
      .select(col("vec_id"), col("residual").as("embedding")), k, iters)

  /** IVF-PQ search against explicit artifacts — the production form
    * (both codebooks trained once, persisted via
    * [[writeCodebookStore]], rehydrated via [[readCodebookStore]]).
    * `validDf` needs (vec_id, label, embedding), null-free full-dim
    * ([[validLabeled]]'s contract).
    */
  def annIvfPqWith(validDf: DataFrame, cells: Array[Array[Double]],
      residCb: Array[Array[Double]], queryId: Long = 0L, k: Int = 10,
      nProbe: Int = IvfPqNProbe): DataFrame = {
    require(cells.nonEmpty && residCb.nonEmpty,
      "annIvfPqWith: empty coarse or residual codebook — train with " +
        "kmeansCentroids / pqResidualCodebook")
    annIvfPqSearchOn(residualsWith(validDf, cells), cells, residCb,
      queryId, k, nProbe)
  }

  /** The IVF-PQ search over an already-built residual frame
    * ([[residualsWith]] inline, or the trained faces' pin of
    * it). The probe ring and the per-probed-cell ADC lookup tables are
    * the [[annIvfPqFromStore]] driver arithmetic ([[probeRingLocal]] /
    * [[adcLutsLocal]] — bit-identical to the former expression path; the
    * storegate's from-store == inline pin is the proof), computed from
    * ONE bounded collect of the query row and shipped as a LOCAL
    * relation. The previous q → probed → luts broadcast-subtree chain
    * cost three sequential jobs, each re-running its own corpus scan
    * (r15 optimization; a missing query id yields empty ring → empty
    * local relation → empty result, the prior empty-broadcast behavior).
    */
  private def annIvfPqSearchOn(residFrame: DataFrame,
      cells: Array[Array[Double]], residCb: Array[Array[Double]],
      queryId: Long, k: Int, nProbe: Int): DataFrame = {
    val session = residFrame.sparkSession
    import session.implicits._
    // index side: residual codes + cell, 8 B per vector (built at ingest
    // in production; per call here so the oracle replays it)
    val coded = residFrame
      .select(col("vec_id"), col("label"), col("cluster").as("cell"),
        GraftFunctions.pqEncode(col("residual"), residCb, PqSubDim)
          .as("codes"))
    val luts: Seq[(Int, Seq[Seq[Double]])] =
      queryVecLocal(residFrame, queryId).map { q =>
        val ring = probeRingLocal(q, cells, nProbe)
        adcLutsLocal(q, ring, cells, residCb, PqSub).toSeq.sortBy(_._1)
      }.getOrElse(Seq.empty)
    val adc = (0 until PqSub).map(m =>
        element_at(element_at(col("lut"), m + 1), col("codes")(m) + 1))
      .reduceLeft(_ + _)
    coded.join(broadcast(luts.toDF("cell", "lut")), Seq("cell"))
      .filter(col("vec_id") =!= queryId)
      .select(col("vec_id"), col("label"), col("cell"),
        array_join(transform(col("codes"), j => j.cast("string")), ",")
          .as("pq_code"),
        round(adc, 6).as("adc_dist"))
      .filter(col("adc_dist").isNotNull)
      .orderBy(col("adc_dist").asc, col("vec_id").asc)
      .limit(k)
  }

  /** q153: the recall curve for the COMPOSED index — q144 measures what
    * probing costs with exact re-ranking inside the ring, q142 what
    * quantization costs with the whole corpus scanned; this face
    * measures both at once (candidates from nProbe trained cells,
    * ranked by residual ADC), which is the number an IVFADC deployment
    * actually ships on. Same harness conventions as the rest of the
    * quartet: bounded probe set, recall@k vs exact brute force,
    * `mean_frac_scanned` cost axis (probe excluded, /(n−1)).
    * Retrains both artifacts per call BY DESIGN (the oracle replays the
    * whole lifecycle); production evaluates store-loaded artifacts via
    * [[annIvfPqRecallWith]].
    *
    * Measured at sf0.01 (the honest verdict, like q138's): recall@10
    * reads 0.35 FLAT across nProbe 1→4 at the q144 ring's scan
    * fractions — the ADC ranking saturates (the error is in the 8-byte
    * quantization, not the candidate set, so a wider ring buys
    * nothing), versus 0.775→0.9125 for q144's exact re-rank on the
    * same ring and 0.2625 for q142's full-scan raw-PQ at the same
    * 8-byte budget. Two production lessons in one curve: residual
    * encoding beats raw PQ decisively (0.35 at 12 % scan vs 0.2625 at
    * 100 %), and a deployed IVFADC wants an exact REFINE stage over its
    * ADC finalists — which this library already ships as q144's ring
    * re-rank.
    */
  def annIvfPqRecall(s: SparkSession, dir: String): DataFrame = {
    val valid = validLabeled(emb(s, dir))
    val cells = kmeansCentroids(valid, IvfTrainK, IvfTrainIters)
    // r15: one pinned residual frame serves trainer, sweep census,
    // probe collect and exact arm (the annIvfPqTrained shape)
    val resid = Tables.pin(residualsWith(valid, cells))
    annIvfPqRecallOn(resid, cells, pqResidualCodebookOn(resid),
      RecallK, RecallProbes, RecallMaxProbe)
  }

  /** The sweep against explicit artifacts. `validDf` needs (vec_id,
    * label, embedding), null-free full-dim.
    *
    * Scale: ONE corpus×probes pass (bounded probe build side) computes
    * the exact cosine AND the residual ADC per probed pair — the
    * per-(probe, cell) LUTs ride in on the ≤ pCount·maxProbe probed-cell
    * rows (an unprobed pair's null LUT nulls its ADC) — and
    * [[recallSweep]] ranks every nProbe arm by ADC ascending, with the
    * scanned census. Nothing after the scan is corpus-sized.
    */
  def annIvfPqRecallWith(validDf: DataFrame, cells: Array[Array[Double]],
      residCb: Array[Array[Double]], k: Int = RecallK,
      pCount: Int = RecallProbes,
      maxProbe: Int = RecallMaxProbe): DataFrame = {
    require(cells.nonEmpty && residCb.nonEmpty,
      "annIvfPqRecallWith: empty coarse or residual codebook — train " +
        "with kmeansCentroids / pqResidualCodebook")
    annIvfPqRecallOn(residualsWith(validDf, cells), cells, residCb,
      k, pCount, maxProbe)
  }

  /** The sweep over an already-built residual frame. Probe rows and the
    * per-(probe, cell) rings/LUTs are driver arithmetic over ONE bounded
    * collect of the probe set ([[probeRingLocal]] / [[adcLutsLocal]] —
    * the annIvfPqFromStore twins), shipped as local relations; the
    * previous plan evaluated them as two broadcast-subtree jobs that each
    * re-ran the corpus scan + encode (r15 optimization).
    */
  private def annIvfPqRecallOn(residFrame: DataFrame,
      cells: Array[Array[Double]], residCb: Array[Array[Double]],
      k: Int, pCount: Int, maxProbe: Int): DataFrame = {
    val session = residFrame.sparkSession
    import session.implicits._
    require(maxProbe >= 1 && pCount >= 1 && k >= 1,
      s"annIvfPqRecallWith: maxProbe, pCount and k must be >= 1, got " +
        s"($maxProbe, $pCount, $k)")
    val e = residFrame
      .select(col("vec_id"), col("embedding"),
        norm(col("embedding")).as("enorm"),
        col("cluster").as("cell"),
        GraftFunctions.pqEncode(col("residual"), residCb, PqSubDim)
          .as("codes"))
    val probeRows = probeSetLocal(residFrame, pCount)
    val probes = probeRows.toDF("q_id", "q_emb", "qnorm")
    // per-(probe, probed-cell) rows carrying that pair's ADC LUT
    val probedCells = broadcast(probeRows.flatMap { case (qid, qs, _) =>
      val q = qs.toArray
      val ring = probeRingLocal(q, cells, maxProbe)
      val lutByCell = adcLutsLocal(q, ring, cells, residCb, PqSub)
      ring.zipWithIndex.map { case (cell, p) =>
        (qid, cell, p + 1, lutByCell(cell)) }
    }.toDF("q_id", "cell", "cent_rank", "lut"))
    val adc = round((0 until PqSub).map(m =>
        element_at(element_at(col("lut"), m + 1), col("codes")(m) + 1))
      .reduceLeft(_ + _), 6)
    recallSweep(ringPairs(e, probes, probedCells, adc.as("adc")), probes,
      ringArms(maxProbe, col("adc")), "n_probe", k, asc = true,
      census = Some(e))
  }

  /** ADC shortlist width the q154 registration pins — how many ADC
    * finalists pay an exact re-rank (the FAISS `refine` knob; 5× the
    * requested k is the conventional starting point).
    */
  val IvfPqRefine = 50

  /** q154: the REFINED IVFADC search — the production query path q153's
    * own evidence mandates: stage 1 ranks the probed cells' residual
    * codes by ADC and keeps a `shortlist`-deep finalist set (8 bytes per
    * candidate — the q151 scan); stage 2 re-reads FULL vectors for only
    * those ≤ `shortlist` finalists and re-ranks them by exact cosine.
    * q153 measured why: ADC alone saturates at 0.35 recall@10
    * (quantization-bound) while the same ring exact-re-ranked reads
    * 0.875 at nProbe 3. Measured at sf0.01 (mean over the 8 harness
    * probes): the 50-deep refine reads **0.7625** — recovering most of
    * the 0.35 → 0.875 gap for 50 full-vector reads instead of ~2.2k
    * (the residue is true neighbors ADC misranks below the shortlist;
    * the `shortlist` knob trades those reads for that tail).
    *
    * Scale: stage 1 is the q151 plan (codes-only scan, partition-
    * prunable from the store); stage 2 is a broadcast semi-join of the
    * ≤ `shortlist` finalist ids back to the vector table — point
    * lookups, never a second corpus scan. Retrains per call BY DESIGN
    * (oracle replays the lifecycle); production searches store-loaded
    * artifacts with [[annIvfPqRefinedWith]] over [[annIvfPqFromStore]]'s
    * shortlist.
    */
  def annIvfPqRefined(s: SparkSession, dir: String): DataFrame = {
    val valid = validLabeled(emb(s, dir))
    val cells = kmeansCentroids(valid, IvfTrainK, IvfTrainIters)
    // r15: one pinned residual frame serves trainer, stage-1 codes scan
    // AND the stage-2 full-vector refine (it carries the raw embedding)
    // — before, stage 2 re-read parquet
    val resid = Tables.pin(residualsWith(valid, cells))
    annIvfPqRefinedOn(resid, cells, pqResidualCodebookOn(resid),
      0L, 10, IvfPqNProbe, IvfPqRefine)
  }

  /** The two-stage search against explicit artifacts. `validDf` needs
    * (vec_id, label, embedding), null-free full-dim.
    */
  def annIvfPqRefinedWith(validDf: DataFrame,
      cells: Array[Array[Double]], residCb: Array[Array[Double]],
      queryId: Long = 0L, k: Int = 10, nProbe: Int = IvfPqNProbe,
      shortlist: Int = IvfPqRefine): DataFrame =
    annIvfPqRefinedOn(residualsWith(validDf, cells), cells, residCb,
      queryId, k, nProbe, shortlist)

  /** The two-stage search over an already-built residual frame: stage 1
    * is [[annIvfPqSearchOn]]'s codes-only ADC scan kept `shortlist` deep;
    * stage 2 re-ranks ONLY the finalists by exact cosine against the
    * query vector, which rides in as a literal from the same single
    * bounded collect (r15: the broadcast query-row subtree and its extra
    * job are gone; the refine reads the residual frame's embedding
    * column, so the trained face re-reads its checkpoint, not parquet).
    */
  private def annIvfPqRefinedOn(residFrame: DataFrame,
      cells: Array[Array[Double]], residCb: Array[Array[Double]],
      queryId: Long, k: Int, nProbe: Int, shortlist: Int): DataFrame = {
    require(shortlist >= k,
      s"annIvfPqRefinedWith: shortlist $shortlist must be >= k $k — a " +
        "shorter shortlist than the answer set is a caller bug")
    val finalists = annIvfPqSearchOn(residFrame, cells, residCb, queryId,
        k = shortlist, nProbe = nProbe)
      .select(col("vec_id"), col("cell"), col("adc_dist"))
    // the same arithmetic the former broadcast row carried: q_emb verbatim,
    // qnorm = sqrt(index-order self-dot) — bit-identical to norm()
    val qOpt = queryVecLocal(residFrame, queryId)
    val qArr: Seq[Double] = qOpt.map(_.toSeq).getOrElse(Seq.empty)
    val qnorm = qOpt.map(q => math.sqrt(ddot(q, q))).getOrElse(Double.NaN)
    residFrame.join(broadcast(finalists), Seq("vec_id"))
      .select(col("vec_id"), col("label"), col("cell"), col("adc_dist"),
        round(try_divide(dot(col("embedding"), typedLit(qArr)),
          norm(col("embedding")) * lit(qnorm)), 6).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id").asc)
      .limit(k)
  }

  // ---- driver-side probe arithmetic (ONE definition for the store and
  // ---- inline searches; the storegate's from-store == inline pin is what
  // ---- proves it bit-identical to the expression path) -------------------

  /** Driver twin of [[dot]]'s VecDot kernel: index-order `acc += x·y`. */
  private def ddot(a: Array[Double], b: Array[Double]): Double = {
    var acc = 0.0; var i = 0
    while (i < a.length) { acc += a(i) * b(i); i += 1 }
    acc
  }

  /** Driver-side probe ring — [[assignClusters]]' arithmetic (x² shared,
    * index-order dots, c² accumulated in the same index order), then
    * (d, c) ascending, first `nProbe` cell indices. Extracted verbatim
    * from [[annIvfPqFromStore]] (r15): the inline searches now share it
    * instead of evaluating the same arithmetic as a chain of
    * broadcast-subtree jobs.
    */
  private[graft] def probeRingLocal(q: Array[Double],
      cells: Array[Array[Double]], nProbe: Int): Seq[Int] = {
    val dim = q.length
    val x2 = { var a = 0.0; q.foreach(v => a += v * v); a }
    cells.zipWithIndex.map { case (c, i) =>
      var dotAcc = 0.0; var c2 = 0.0
      (0 until dim).foreach { j => dotAcc += q(j) * c(j); c2 += c(j) * c(j) }
      (x2 - 2.0 * dotAcc + c2, i)
    }.sortBy(identity).take(nProbe).map(_._2).toSeq
  }

  /** Per-probed-cell ADC lookup tables driver-side: qr = q − cell, then
    * the annPqFromStore LUT replay per subspace over the residual
    * codewords. Extracted verbatim from [[annIvfPqFromStore]] (r15).
    */
  private[graft] def adcLutsLocal(q: Array[Double], probed: Seq[Int],
      cells: Array[Array[Double]], residCb: Array[Array[Double]],
      nSub: Int): Map[Int, Seq[Seq[Double]]] = {
    val dim = q.length
    probed.map { ci =>
      val qr = Array.tabulate(dim)(j => q(j) - cells(ci)(j))
      ci -> (0 until nSub).map { m =>
        val off = m * PqSubDim
        var qx2 = 0.0
        (0 until PqSubDim).foreach { i =>
          val x = qr(off + i); qx2 += x * x
        }
        residCb.toSeq.map { c =>
          var dotAcc = 0.0; var c2 = 0.0
          (0 until PqSubDim).foreach { j =>
            dotAcc += qr(off + j) * c(off + j)
            c2 += c(off + j) * c(off + j)
          }
          qx2 - 2.0 * dotAcc + c2
        }
      }
    }.toMap
  }

  /** The single query row's full-dim vector, collected ONCE — the bounded
    * driver hop every probe-side computation hangs off (r15: replaces the
    * q → probed → luts broadcast-subtree chains, which cost one job each
    * and re-ran their own corpus scan). The frame must be null-free
    * full-dim ([[validLabeled]] / [[residualsWith]] shapes). Exactly one
    * row may carry the id: a duplicated query id previously multiplied
    * the probe join silently; the bounded collect fails loud instead.
    */
  private def queryVecLocal(df: DataFrame,
      queryId: Long): Option[Array[Double]] =
    Tables.boundedCollect(
      df.filter(col("vec_id") === queryId)
        .select(col("embedding").cast("array<double>")),
      1, s"ann query vector (vec_id=$queryId)")
      .headOption.map(_.getSeq[Double](0).toArray)

  // ---- persisted IVF-PQ index (cell-partitioned inverted lists) ----------

  /** Stamp/read the TWO codebook fingerprints an IVF-PQ store depends
    * on — coarse cells and residual codewords are separate trained
    * artifacts with separate retrain cadences, and a drift in EITHER
    * silently mis-scores the whole index (stale residual codes against
    * fresh cells are exactly as wrong as the reverse). The same stamp and
    * guard serve a whole store and the root of the batch-id-keyed
    * streaming layout ([[graft.streaming.VectorIngestPipeline]]).
    */
  private[graft] def writeIvfPqMeta(s: SparkSession, path: String,
      cells: Array[Array[Double]], residCb: Array[Array[Double]]): Unit = {
    import s.implicits._
    Seq((codebookFingerprint(cells), codebookFingerprint(residCb)))
      .toDF("cells_fp", "resid_fp").coalesce(1)
      .write.mode("overwrite").parquet(ScaleOps.metaPath(path))
  }

  private[graft] def requireIvfPqFingerprints(s: SparkSession,
      path: String, cells: Array[Array[Double]],
      residCb: Array[Array[Double]], op: String): Unit = {
    require(cells.nonEmpty && residCb.nonEmpty,
      s"$op: empty coarse or residual codebook — train with " +
        "kmeansCentroids / pqResidualCodebook, or load the store's " +
        "artifacts with readCodebookStore")
    val p = new org.apache.hadoop.fs.Path(ScaleOps.metaPath(path))
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) {
      val r = Tables.boundedCollect(s.read.parquet(p.toString)
        .select("cells_fp", "resid_fp"), 1, "ivfpq store fingerprints").head
      def bad(which: String) = s"$op: the IVF-PQ store at $path was " +
        s"encoded by a DIFFERENT $which codebook generation than the " +
        "one passed — its codes would score silently wrong. Load the " +
        "store's matching artifacts (readCodebookStore) or re-encode " +
        "the index (writeIvfPqStore)"
      require(r.getLong(0) == codebookFingerprint(cells), bad("coarse"))
      require(r.getLong(1) == codebookFingerprint(residCb), bad("residual"))
    }
  }

  /** Materialize the IVF-PQ index: one (vec_id, label, codes) row per
    * vector, PARTITIONED BY its coarse cell — the inverted-list layout,
    * so a probed search prunes to nProbe cell directories at the
    * STORAGE level (the scan never opens an unprobed cell's files) and
    * each row costs 8 residual-code bytes. This is the at-scale form of
    * q151: both artifacts train once ([[kmeansCentroids]] /
    * [[pqResidualCodebook]], persisted via [[writeCodebookStore]]), the
    * corpus encodes once at ingest, and every search after reads codes
    * only ([[annIvfPqFromStore]]). Dual fingerprints stamp the sidecar,
    * published with the codes through [[ScaleOps.publishStore]].
    * `validDf` needs (vec_id, label, embedding), null-free full-dim.
    */
  def writeIvfPqStore(validDf: DataFrame, cells: Array[Array[Double]],
      residCb: Array[Array[Double]], path: String): Unit =
    ScaleOps.publishStore(ivfPqEncoded(validDf, cells, residCb), path,
      Seq("cell"), writeIvfPqMeta(validDf.sparkSession, _, cells, residCb))

  /** One keyed segment of the streaming IVF-PQ layout, written in place
    * (the segment overwrite is the replay contract). Unstamped: the
    * fingerprints live at the keyed store's root ([[writeIvfPqMeta]]). */
  private[graft] def writeIvfPqSegment(validDf: DataFrame,
      cells: Array[Array[Double]], residCb: Array[Array[Double]],
      dir: String): Unit =
    ivfPqEncoded(validDf, cells, residCb)
      .write.partitionBy("cell").mode("overwrite").parquet(dir)

  /** Fold a new batch into the index (admit exactly once, the
    * [[appendToPqStore]] contract); refuses drifted artifacts loud.
    */
  def appendToIvfPqStore(batch: DataFrame, cells: Array[Array[Double]],
      residCb: Array[Array[Double]], path: String): Unit = {
    requireIvfPqFingerprints(batch.sparkSession, path, cells, residCb,
      "appendToIvfPqStore")
    ivfPqEncoded(batch, cells, residCb)
      .write.partitionBy("cell").mode("append").parquet(path)
    writeIvfPqMeta(batch.sparkSession, path, cells, residCb)
  }

  /** Re-contract replayed-append duplicates to one row per vec_id through
    * [[ScaleOps.compactStore]], which keeps the cell partitioning (the
    * layout is the index — a flat rewrite would turn every probe back
    * into a full scan) and carries the fingerprint sidecar across.
    */
  def compactIvfPqStore(s: SparkSession, path: String): Unit =
    ScaleOps.compactStore(s, path, _.dropDuplicates("vec_id"))

  private def ivfPqEncoded(validDf: DataFrame,
      cells: Array[Array[Double]],
      residCb: Array[Array[Double]]): DataFrame = {
    residualsWith(validDf, cells)
      .select(col("vec_id"), col("label"),
        GraftFunctions.pqEncode(col("residual"), residCb, PqSubDim)
          .as("codes"),
        col("cluster").as("cell"))
  }

  /** ADC search over the PERSISTED inverted lists: the probe ring and
    * the per-probed-cell lookup tables compute driver-side from the
    * literal artifacts (replaying [[annIvfPqWith]]'s op order exactly —
    * spec-pinned bit-identical), and the scan reads ONLY the probed
    * cells' code files via partition pruning. `queryVec` arrives as
    * floats like the stored embeddings ([[annPqFromStore]]'s
    * convention).
    */
  def annIvfPqFromStore(s: SparkSession, path: String,
      cells: Array[Array[Double]], residCb: Array[Array[Double]],
      queryVec: Array[Float], excludeId: Long = -1L, k: Int = 10,
      nProbe: Int = IvfPqNProbe): DataFrame = {
    val dim = queryVec.length
    requireIvfPqFingerprints(s, path, cells, residCb, "annIvfPqFromStore")
    require(cells.nonEmpty && cells.head.length == dim,
      s"annIvfPqFromStore: coarse codebook width != query dim $dim")
    require(residCb.nonEmpty && residCb.head.length == dim,
      s"annIvfPqFromStore: residual codebook width != query dim $dim")
    require(dim % PqSubDim == 0,
      s"annIvfPqFromStore: query dim $dim not divisible by $PqSubDim")
    val nSub = dim / PqSubDim
    Tables.boundedCollect(
      s.read.parquet(path).select(size(col("codes")).as("w")).limit(1),
      1, "ivfpq store code-width probe").foreach { r =>
      require(r.getInt(0) == nSub,
        s"annIvfPqFromStore: store encodes ${r.getInt(0)} subspaces but " +
          s"the $dim-dim query implies $nSub — wrong codebook or store")
    }
    val q = queryVec.map(_.toDouble)
    val probedCells = probeRingLocal(q, cells, nProbe)
    val lutByCell: Map[Int, Seq[Seq[Double]]] =
      adcLutsLocal(q, probedCells, cells, residCb, nSub)
    val lut = element_at(typedLit(lutByCell), col("cell"))
    val adc = (0 until nSub).map(m =>
        element_at(element_at(lut, m + 1), col("codes")(m) + 1))
      .reduceLeft(_ + _)
    s.read.parquet(path)
      .filter(col("cell").isInCollection(probedCells.toSeq) &&
        col("vec_id") =!= excludeId)
      .select(col("vec_id"), col("label"), col("cell"),
        array_join(transform(col("codes"), j => j.cast("string")), ",")
          .as("pq_code"),
        round(adc, 6).as("adc_dist"))
      .orderBy(col("adc_dist").asc, col("vec_id").asc)
      .limit(k)
  }

  // ---------------------------------------------------------------- q126

  /** q126: cluster-cohesion report — per cluster: size, the cosine
    * spread of members around their centroid (min = the cluster radius,
    * exact-decimal mean), and the count of weakly-attached members
    * (cosine < 0.5). The q95 confusion matrix answers "do clusters agree
    * with labels"; this answers "how TIGHT is each cluster" — the
    * diagnostic that picks the SemDeDup threshold (q64) and the IVF
    * probe count (q45) before committing a multi-day dedup run: a loose
    * cluster needs more probes and a stricter near-dup threshold.
    *
    * Scale: the centroid frame contracts to |labels| rows and broadcasts
    * back — ONE corpus-sized shuffle (the posexplode contraction), one
    * cosine per vector (native VecDot against the joined centroid), an
    * ≤|labels|-row rollup. Determinism: q43 centroids, index-order dots,
    * cosines rounded to 6 dp before the min/mean, mean through the exact
    * decimal accumulator.
    */
  def clusterCohesion(s: SparkSession, dir: String): DataFrame =
    clusterCohesionOn(emb(s, dir))

  /** `embDf` needs (label, embedding). */
  def clusterCohesionOn(embDf: DataFrame): DataFrame = {
    val Dec = org.apache.spark.sql.types.DecimalType(38, 10)
    embDf.join(broadcast(centroidFrame(embDf)), "label")
      .select(col("label"),
        round(cosine(col("embedding"), col("centroid")), 6).as("cos"))
      .groupBy("label")
      .agg(count(lit(1)).as("n"),
        min("cos").as("min_cos"),
        round(sum(col("cos").cast(Dec)).cast("double") / count(lit(1)), 6)
          .as("avg_cos"),
        sum(when(col("cos") < 0.5, 1L).otherwise(0L)).as("n_weak"))
      .orderBy("label")
  }

  // ---------------------------------------------------------------- q127

  /** q127: contrastive triplet mining — (anchor, positive, negative) rows
    * for embedding-model training (SimCLR/SBERT-style): the positive is
    * the anchor's nearest neighbor (the q44 all-NN table — swap in the
    * LSH/IVF/PQ candidate generators at scale, the fuseRrf convention),
    * the negative a deterministic rank ROTATION (rank' = (rank−1+d) mod
    * n, d ≈ 48271) — a rotation is a bijection with no fixed points for
    * EVERY corpus size (a multiplicative draw collapses to one constant
    * negative whenever gcd(multiplier, n) > 1), so the negative is never
    * the anchor itself; reproducible on any cluster, no rand(). The one
    * remaining degenerate case (the rotation landing exactly on the
    * anchor's positive) drops rather than re-draws — ~1 row per corpus.
    *
    * Scale: the NN table is the gated q44 scan (multiplicity-dispatched);
    * ranks come from [[ScaleOps.withGlobalRowNumber]] over an id-only
    * projection (range shuffle, no single-task sort). The rank frame is
    * consumed ONCE: each ranked row explodes into its two roles — the
    * anchor at its own rank, and the negative for the anchor `d`
    * positions behind it — and one rank-keyed aggregation zips the roles
    * into (anchor, negative) pairs, so the whole rotation costs one
    * narrow shuffle + one N-row join with the NN table. (Joining the
    * rank frame twice — once for the anchor's rank, once to resolve the
    * rotated rank back to an id — would replay the post-checkpoint
    * branch of the ladder and pay a SECOND N-row join; at 2000 vectors
    * that was ~15% of the query's floor in scheduler barriers alone,
    * and at 10⁹ vectors it is an entire extra sort-merge join.)
    * Nothing here touches embedding payloads except the NN scan itself.
    * Dup-dense caveat,
    * inherited from q44's arm equivalence: past the multiplicity gate
    * the contracted arm may report a DIFFERENT (equally maximal) pos_id
    * under exact cosine ties, which can flip the rare neg=positive drop —
    * triplet sets on such corpora are arm-stable up to that corner, and
    * the oracle twin replays the exact arm only.
    */
  def contrastiveTriplets(s: SparkSession, dir: String): DataFrame =
    contrastiveTripletsOn(emb(s, dir), stats = Some(dupMultForDir(s, dir)))

  /** `embDf` needs (vec_id, label, embedding). `stats` is the ANALYZE
    * convention (see [[nnDedupOn]]): the dir face passes the memoized
    * multiplicity so the NN pass skips its per-call probe — q127 paid a
    * full hash-agg job over the corpus on EVERY execution from r8 (when
    * the dispatch probe landed) until r11 caught it via the per-stage
    * floor decomposition; that one job was the entire "q127 floor rose
    * while q44 got faster" bench watch item.
    */
  def contrastiveTripletsOn(embDf: DataFrame,
      stats: Option[Long] = None): DataFrame = {
    val pos = nnDedupOn(embDf, stats = stats)
    // n rides the ranking kernel's offset ladder (totalOut) — the
    // previous separate count job re-scanned the corpus for a value the
    // ladder already sums
    val ranked = ScaleOps.withGlobalRowNumber(
      embDf.select(col("vec_id")), Seq(col("vec_id")), "rk",
      totalOut = Some("n"))
    // rotation offset: 48271 unless n divides it exactly (identity
    // rotation — n = 48271 itself), where the coprime neighbor steps in
    val d = when(lit(48271L) % col("n") === 0, 48270L).otherwise(48271L)
    // each ranked row in both roles: anchor at rank rk, and negative for
    // the anchor at rank (rk − 1 − d) mod n + 1 — the anchor whose
    // rotation (a − 1 + d) mod n + 1 lands on rk. Exactly one row of
    // each role per rank (the rotation is a bijection), so max() zips
    // the pair; a null vec_id contributes null roles, which the inner
    // join / null-guard filter below drop exactly as the join-twice
    // shape did.
    val idType = embDf.schema("vec_id").dataType
    val pairs = ranked
      .select(explode(array(
        struct(col("rk").as("k"), col("vec_id").as("aid"),
          lit(null).cast(idType).as("neg_id")),
        struct((pmod(col("rk") - 1L - d, col("n")) + 1L).as("k"),
          lit(null).cast(idType).as("aid"),
          col("vec_id").as("neg_id")))).as("r"))
      .select(col("r.*"))
      .groupBy("k")
      .agg(max("aid").as("aid"), max("neg_id").as("neg_id"))
    pos.join(pairs, col("vec_id") === col("aid"))
      .filter(col("neg_id") =!= col("vec_id") &&
        col("neg_id") =!= col("nn_id"))
      .select(col("vec_id").as("anchor_id"), col("nn_id").as("pos_id"),
        col("neg_id"), col("nn_cos").as("pos_cos"))
      .orderBy("anchor_id")
  }

  // ---------------------------------------------------------------- q128

  /** q128: PQ quantization-distortion report — per label: vector count
    * and the average / worst total quantization error under the current
    * codebook (Σ over subspaces of the chosen codeword's squared
    * distance, each term rounded 6 dp and zero-clamped — the
    * `graft_pq_error` kernel). THE retraining monitor for a PQ index:
    * ADC recall degrades silently as a drifting corpus moves away from
    * the codebook it was encoded under, and distortion is the number
    * that moves first — watch it per crawl, retrain + re-encode
    * ([[writePqStore]]) when a label's average breaks its baseline.
    *
    * Scale: one map-only kernel pass + an ≤|labels|-row rollup — the
    * q126 shape without even the broadcast-back (the codebook rides as a
    * literal). Determinism: the kernel's per-subspace HALF-UP rounding
    * is the oracle's round(greatest(d, 0), 6); the mean runs through the
    * exact decimal accumulator; max compares bit-identical doubles.
    */
  def pqDistortion(s: SparkSession, dir: String): DataFrame =
    pqDistortionOn(emb(s, dir))

  /** `embDf` needs (label, embedding). */
  def pqDistortionOn(embDf: DataFrame): DataFrame = {
    val (_, full) = pqCodebook(embDf)
    pqDistortionWith(embDf, full)
  }

  /** Trained-codebook form (the per-crawl monitor never re-derives the
    * codebook it is auditing).
    *
    * `graft_pq_error` reads an unencodable vector (ragged / null-element /
    * codebook-width mismatch) as NULL, so the average divides by
    * `count(err)` — encodable vectors only — and the NULL rows surface as
    * an explicit `n_unencodable` count instead of silently diluting the
    * distortion the retraining monitor watches (a corrupt crawl would
    * otherwise UNDER-report distortion, the exact silent-bias class the
    * kernel's NULL discipline exists to avoid). `n` stays `count(*)` —
    * total rows per label, the column's meaning since the monitor first
    * shipped — so a cross-round consumer of q128 sees no unexplained
    * shift; encodable = n - n_unencodable is derivable. `try_divide`: a
    * label whose vectors are ALL unencodable reports NULL distortion,
    * not an ANSI divide-by-zero scan kill.
    */
  def pqDistortionWith(embDf: DataFrame,
      codebook: Array[Array[Double]]): DataFrame = {
    val Dec = org.apache.spark.sql.types.DecimalType(38, 10)
    embDf.select(col("label"),
        GraftFunctions.pqError(col("embedding"), codebook, PqSubDim)
          .as("err"))
      .groupBy("label")
      .agg(count(lit(1)).as("n"),
        (count(lit(1)) - count(col("err"))).as("n_unencodable"),
        round(try_divide(sum(col("err").cast(Dec)).cast("double"),
          count(col("err"))), 6).as("avg_sqerr"),
        max("err").as("max_sqerr"))
      .orderBy("label")
  }

  // ---- persisted PQ-encoded index ------------------------------------------

  /** Deterministic 64-bit fingerprint of a codebook's exact values
    * (FNV-1a over shape + the raw IEEE bits, so any retrain — even one
    * with identical k and dim — changes it). Stored beside every PQ code
    * table and validated by every consumer that pairs the table with a
    * codebook argument: codes are INDICES into a specific codebook's
    * codeword lists, so a same-shape different-values codebook scores
    * every stored code silently wrong (the r14 judge's "wrong geometry"
    * hazard), and a different-k one silently NULLs the codes past the
    * shorter LUT. Width checks can't see either; only value identity can.
    */
  private[graft] def codebookFingerprint(cb: Array[Array[Double]]): Long = {
    var h = 0xcbf29ce484222325L
    def mix(v: Long): Unit = { h ^= v; h *= 0x100000001b3L }
    mix(cb.length.toLong)
    mix(cb.headOption.map(_.length.toLong).getOrElse(0L))
    cb.foreach(_.foreach(d => mix(java.lang.Double.doubleToLongBits(d))))
    h
  }

  /** Stamp the encoding codebook's fingerprint in the store's hidden
    * sidecar (`_graft_meta` — underscore-prefixed, invisible to parquet
    * readers; the [[SpanOps]] shingle-k convention). The same stamp and
    * guard serve a whole store and the root of the batch-id-keyed
    * streaming layout ([[graft.streaming.VectorIngestPipeline]]): the
    * keyed segments form ONE index, so its generation guard lives at the
    * store root rather than per segment.
    */
  private[graft] def writePqMeta(s: SparkSession, path: String,
      codebook: Array[Array[Double]]): Unit = {
    import s.implicits._
    Seq(codebookFingerprint(codebook)).toDF("codebook_fp").coalesce(1)
      .write.mode("overwrite").parquet(ScaleOps.metaPath(path))
  }

  /** Refuses a codebook that is not the store's encoding generation. A
    * pre-fingerprint store carries no stamp — absent meta skips the check
    * rather than bricking existing indexes; every writer below
    * (re)stamps, so the window closes at the next write or compaction.
    */
  private[graft] def requirePqFingerprint(s: SparkSession, path: String,
      codebook: Array[Array[Double]], op: String): Unit = {
    // named BEFORE any head access: an empty codebook must say so, not
    // surface a bare NoSuchElementException (r15 self-review finding)
    require(codebook.nonEmpty, s"$op: empty codebook — train with " +
      "kmeansCentroids / pqTrainedCodebook, or load the store's " +
      "artifact with readCodebookStore")
    val p = new org.apache.hadoop.fs.Path(ScaleOps.metaPath(path))
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) {
      val stored = Tables.boundedCollect(s.read.parquet(p.toString)
        .select("codebook_fp"), 1, "pq store codebook fingerprint")
        .head.getLong(0)
      require(stored == codebookFingerprint(codebook),
        s"$op: the PQ store at $path was encoded by a DIFFERENT codebook " +
          "generation than the one passed — its codes would score " +
          "silently wrong. Load the store's matching codebook " +
          "(readCodebookStore on the artifact published with it) or " +
          "re-encode the index against the new codebook (writePqStore)")
    }
  }

  /** Materialize the PQ index: one (vec_id, label, codes) row per vector —
    * 8 codes instead of 64 floats, the 32× compression that lets the ANN
    * index of a 100 TB embedding table live in memory. Encode at ingest,
    * search forever after against the CODES ONLY ([[annPqFromStore]]):
    * the raw embedding table is never re-read by a query. Append-only like
    * the shingle/fingerprint stores (admit a batch exactly once;
    * re-encoding after a codebook retrain is a full rewrite by design —
    * codes are meaningless across codebooks, so there is nothing to
    * merge). Stamps the codebook's [[codebookFingerprint]] so a later
    * append or search with a drifted codebook fails loud, not silently
    * wrong. Codes and stamp publish together through
    * [[ScaleOps.publishStore]].
    */
  def writePqStore(embDf: DataFrame, codebook: Array[Array[Double]],
      path: String): Unit =
    ScaleOps.publishStore(pqEncoded(embDf, codebook), path,
      stamp = writePqMeta(embDf.sparkSession, _, codebook))

  /** One keyed segment of the streaming PQ layout, written in place (the
    * segment overwrite is the replay contract). Unstamped: the fingerprint
    * lives at the keyed store's root ([[writePqMeta]]). */
  private[graft] def writePqSegment(embDf: DataFrame,
      codebook: Array[Array[Double]], dir: String): Unit =
    pqEncoded(embDf, codebook).write.mode("overwrite").parquet(dir)

  /** Fold a new batch of vectors into the index (same admit-exactly-once
    * contract as every append store). Refuses a codebook that isn't the
    * store's encoding generation — mixed-generation codes are the one
    * corruption compaction can never repair (dropDuplicates keeps an
    * arbitrary row of each vec_id; half the index would score against
    * the wrong codeword table forever).
    */
  def appendToPqStore(batch: DataFrame, codebook: Array[Array[Double]],
      path: String): Unit = {
    requirePqFingerprint(batch.sparkSession, path, codebook,
      "appendToPqStore")
    pqEncoded(batch, codebook).write.mode("append").parquet(path)
    writePqMeta(batch.sparkSession, path, codebook)
  }

  /** Re-contract accumulated append segments (a replayed append leaves
    * duplicate vec_id rows, which duplicate ADC results) to one row per
    * vec_id — a replay re-encodes the identical codes, so any row of a
    * vec_id is the row — publishing via staging + atomic swap: durable
    * state, never `mode("overwrite")` on the live path. The codebook
    * fingerprint sidecar rides across the swap.
    */
  def compactPqStore(s: SparkSession, path: String): Unit =
    ScaleOps.compactStore(s, path, _.dropDuplicates("vec_id"))

  private def pqEncoded(embDf: DataFrame,
      codebook: Array[Array[Double]]): DataFrame = {
    embDf.select(col("vec_id"), col("label"),
      GraftFunctions.pqEncode(col("embedding"), codebook, PqSubDim)
        .as("codes"))
  }

  // ---- persisted trained-codebook store --------------------------------

  /** Persist a trained codebook ([[pqTrainedCodebook]]'s PQ rows or
    * [[kmeansCentroids]]'s IVF cells — both are k full-dim codewords) —
    * the missing piece of the trained-index lifecycle: the q140/q143
    * catalog faces retrain per call BY DESIGN so the oracle replays the
    * whole ANALYZE, but production trains ONCE, stores the k×dim
    * artifact here, and every later call — [[annPqWith]] /
    * [[annIvfWithCells]] search, [[writePqStore]] encode,
    * `pqDistortionWith` retraining monitor — loads it back with ZERO
    * corpus reads. One row per codeword (cw, centroid) plus the shape
    * metadata the reader validates before any search can misuse a
    * mismatched artifact. Staged write + atomic swap like every
    * whole-store writer (never `mode("overwrite")` on the live path);
    * `train_iters` records provenance for the rebuild-anywhere contract.
    */
  def writeCodebookStore(s: SparkSession, codebook: Array[Array[Double]],
      path: String, trainIters: Int): Unit = {
    require(codebook.nonEmpty &&
        codebook.forall(_.length == codebook.head.length),
      "writeCodebookStore: codebook must be non-empty and rectangular")
    import s.implicits._
    ScaleOps.publishStore(codebook.zipWithIndex.toSeq
      .map { case (c, i) => (i, c.toSeq, c.length, trainIters) }
      .toDF("cw", "centroid", "dim", "train_iters").coalesce(1), path)
  }

  /** Load a codebook back as the literal array every search/encode face
    * consumes — a bounded driver hop over k rows, never a corpus read.
    * Fails loud on the artifacts a broken pipeline could leave: an empty
    * store, mixed widths, or duplicate/missing codeword rows (an
    * accidental `mode("append")` on the live path — codebooks are
    * whole artifacts, REPLACED by [[writeCodebookStore]]'s swap, never
    * appended: codeword index IS the identity the stored pq codes point
    * into, so a doubled row set would silently rescore half the index).
    */
  def readCodebookStore(s: SparkSession, path: String): Array[Array[Double]] = {
    val rows = Tables.boundedCollect(
      s.read.parquet(path).select("cw", "centroid", "dim").orderBy("cw"),
      1 << 16, "codebook store rows")
    require(rows.nonEmpty, s"readCodebookStore: empty codebook store at " +
      s"$path — train and publish with writeCodebookStore first")
    require(rows.map(_.getInt(2)).distinct.length == 1 &&
        rows.forall(r => r.getSeq[Double](1).length == r.getInt(2)),
      s"readCodebookStore: inconsistent codeword widths at $path — " +
        "corrupt or mixed-generation store; rebuild with writeCodebookStore")
    val cws = rows.map(_.getInt(0)).toSeq
    require(cws == (0 until rows.length),
      s"readCodebookStore: store at $path is not one row per contiguous " +
        s"codeword (cw = $cws) — an accidental append or partial write; " +
        "rebuild with writeCodebookStore (codebook stores are replaced, " +
        "never appended)")
    rows.map(_.getSeq[Double](1).toArray)
  }

  /** ADC search over the PERSISTED code table: the query vector quantizes
    * its lookup tables driver-side (the same op order as the in-plan
    * form, so results are bit-identical to [[annPqWith]] on the same
    * corpus — spec-pinned), and the scan touches only the 8-codes rows.
    * `queryVec` arrives as floats like the stored embeddings so the
    * float→double widening matches the expression path exactly.
    */
  def annPqFromStore(s: SparkSession, path: String,
      codebook: Array[Array[Double]], queryVec: Array[Float],
      excludeId: Long = -1L, k: Int = 10): DataFrame = {
    val dim = queryVec.length
    requirePqFingerprint(s, path, codebook, "annPqFromStore")
    require(codebook.head.length == dim,
      s"annPqFromStore: codebook width ${codebook.head.length} != query " +
        s"dim $dim")
    require(dim % PqSubDim == 0,
      s"annPqFromStore: query dim $dim not divisible by subDim $PqSubDim " +
        "(the in-plan encoder rejects the same inconsistency)")
    val nSub = dim / PqSubDim
    // the store's code width must match the query's implied subspace
    // count — a mismatched query would otherwise silently score only a
    // PREFIX of each stored code (one-row probe, bounded driver hop)
    Tables.boundedCollect(
      s.read.parquet(path).select(size(col("codes")).as("w")).limit(1),
      1, "pq store code-width probe").foreach { r =>
        require(r.getInt(0) == nSub,
          s"annPqFromStore: store encodes ${r.getInt(0)} subspaces but " +
            s"the $dim-dim query implies $nSub — wrong codebook or store")
      }
    // driver-side LUT replaying the kernel/expression op order: x², x·c
    // index-order from 0.0, c² left fold, (x² − 2·dot) + c²
    val lut: Seq[Seq[Double]] = (0 until nSub).map { m =>
      val off = m * PqSubDim
      var x2 = 0.0
      (0 until PqSubDim).foreach { i =>
        val x = queryVec(off + i).toDouble; x2 += x * x
      }
      codebook.toSeq.map { c =>
        var dotAcc = 0.0
        var c2 = 0.0
        (0 until PqSubDim).foreach { j =>
          val x = queryVec(off + j).toDouble
          dotAcc += x * c(off + j)
          c2 += c(off + j) * c(off + j)
        }
        x2 - 2.0 * dotAcc + c2
      }
    }
    val adc = (0 until nSub).map(m =>
        element_at(typedLit(lut(m)), col("codes")(m) + 1))
      .reduceLeft(_ + _)
    s.read.parquet(path)
      .filter(col("vec_id") =!= excludeId)
      .select(col("vec_id"), col("label"),
        array_join(transform(col("codes"), j => j.cast("string")), ",")
          .as("pq_code"),
        round(adc, 6).as("adc_dist"))
      .orderBy(col("adc_dist").asc, col("vec_id").asc)
      .limit(k)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q40_ann_topk" -> annTopK,
    "q41_cosine_top_pairs" -> cosineTopPairs,
    "q42_ann_lsh" -> annLsh,
    "q43_label_centroids" -> labelCentroids,
    "q44_nn_dedup" -> nnDedup,
    "q45_ann_ivf" -> annIvf,
    "q64_semantic_dedup" -> semanticDedup,
    "q89_crossmodal_curation" -> crossmodalCuration,
    "q95_cluster_purity" -> clusterPurity,
    "q110_embedding_audit" -> embeddingAudit,
    "q113_ann_rp" -> annRp,
    "q123_ann_pq" -> annPq,
    "q126_cluster_cohesion" -> clusterCohesion,
    "q127_contrastive_triplets" -> contrastiveTriplets,
    "q128_pq_distortion" -> pqDistortion,
    "q132_semantic_leakage" -> semanticLeakage,
    "q135_ann_recall" -> annIvfRecall,
    "q136_embedding_drift" -> embeddingDrift,
    "q137_lsh_recall" -> annLshRecall,
    "q138_pq_recall" -> annPqRecall,
    "q139_rp_recall" -> annRpRecall,
    "q140_ann_pq_trained" -> annPqTrained,
    "q142_pq_recall_trained" -> annPqRecallTrained,
    "q143_ann_ivf_trained" -> annIvfTrained,
    "q144_ivf_recall_trained" -> annIvfRecallTrained,
    "q151_ann_ivfpq" -> annIvfPqTrained,
    "q153_ivfpq_recall" -> annIvfPqRecall,
    "q154_ivfpq_refined" -> annIvfPqRefined)

  /** The hyperplane constants as full-precision SQL literals (Java's
    * Double.toString round-trips, and DuckDB parses to the same IEEE
    * double), so the oracle computes bit-identical signatures.
    */
  private def sqlSignature(e: String): String =
    planes.map { p =>
      val d = p.zipWithIndex
        .map { case (v, i) => s"CAST($e[${i + 1}] AS DOUBLE) * $v" }
        .mkString(" + ")
      s"(CASE WHEN $d >= 0 THEN 1 ELSE 0 END)"
    }.reduce((acc, bit) => s"($acc * 2 + $bit)")

  /** The 16 projected coordinates as a SQL list literal — each coordinate
    * the unrolled index-order dot against one plane's full-precision
    * literals, rounded to 6 dp (the Spark side rounds identically, so the
    * downstream cosine folds identical doubles).
    */
  private def sqlProj(e: String): String =
    planes.map { p =>
      val d = p.zipWithIndex
        .map { case (v, i) => s"CAST($e[${i + 1}] AS DOUBLE) * $v" }
        .mkString(" + ")
      s"round($d, 6)"
    }.mkString("[", ", ", "]")

  /** Index-order dot over the first `n` elements of two list columns. */
  private def sqlDotK(a: String, b: String, n: Int): String =
    (1 to n).map(i => s"$a[$i] * $b[$i]").mkString(" + ")

  /** q123 oracle helpers: the per-subspace distance pieces, unrolled in
    * index order with the subspace offset `m.m * PqSubDim` left symbolic —
    * one SQL expression covers all 8 subspaces via the generate_series
    * cross join.
    */
  private def sqlPqX2(e: String): String =
    (1 to PqSubDim).map { i =>
      val idx = s"m.m * $PqSubDim + $i"
      s"CAST($e[$idx] AS DOUBLE) * CAST($e[$idx] AS DOUBLE)"
    }.mkString(" + ")

  private def sqlPqXC(e: String, c: String): String =
    (1 to PqSubDim).map { i =>
      val idx = s"m.m * $PqSubDim + $i"
      s"CAST($e[$idx] AS DOUBLE) * $c[$idx]"
    }.mkString(" + ")

  private def sqlPqC2(c: String): String =
    (1 to PqSubDim).map { i =>
      val idx = s"m.m * $PqSubDim + $i"
      s"$c[$idx] * $c[$idx]"
    }.mkString(" + ")

  /** The Lloyd-training CTE chain (valid vectors → init → cb0..cbN)
    * shared by the q140 and q142 oracles; defines `v`, `m`, `pos`,
    * `init`, `cb0..cb$PqTrainIters`. No trailing comma.
    */
  private def pqTrainedCbCtes: String = {
    val dist = (cb: String) =>
      s"""(${sqlPqX2("e.embedding")})
         |      - 2 * (${sqlPqXC("e.embedding", s"$cb.carr")})
         |      + (${sqlPqC2(s"$cb.carr")})""".stripMargin
    val iters = (1 to PqTrainIters).map { t =>
      s"""a$t AS (SELECT e.vec_id, m.m, c.cw,
         |    ${dist("c")} AS dist
         |  FROM v e CROSS JOIN m CROSS JOIN cb${t - 1} c),
         |asn$t AS (SELECT vec_id, m, cw FROM (
         |    SELECT vec_id, m, cw, row_number() OVER (
         |      PARTITION BY vec_id, m ORDER BY dist, cw) AS rn FROM a$t)
         |  WHERE rn = 1),
         |u$t AS (SELECT asn.m, asn.cw, s.i,
         |    round(CAST(sum(CAST(CAST(e.embedding[asn.m * $PqSubDim + s.i]
         |        AS DOUBLE) AS DECIMAL(38,10))) AS DOUBLE) / count(*), 6)
         |      AS cv
         |  FROM asn$t asn JOIN v e USING (vec_id)
         |  CROSS JOIN (SELECT unnest(generate_series(1, $PqSubDim)) AS i) s
         |  GROUP BY asn.m, asn.cw, s.i),
         |cb$t AS MATERIALIZED (SELECT g.cw,
         |    list(coalesce(u.cv, g.carr[pp.pos]) ORDER BY pp.pos) AS carr
         |  FROM cb${t - 1} g CROSS JOIN pos pp
         |  LEFT JOIN u$t u
         |    ON u.cw = g.cw AND u.m * $PqSubDim + u.i = pp.pos
         |  GROUP BY g.cw)""".stripMargin
    }.mkString(",\n")
    s"""v AS MATERIALIZED (SELECT vec_id, embedding FROM embeddings
       |  WHERE embedding IS NOT NULL AND len(embedding) = $Dim
       |    AND len(list_filter(embedding, x -> x IS NULL)) = 0),
       |m AS (SELECT unnest(generate_series(0, ${PqSub - 1})) AS m),
       |pos AS (SELECT unnest(generate_series(1, $Dim)) AS pos),
       |init AS (SELECT embedding, cw FROM (
       |    SELECT embedding, row_number() OVER (ORDER BY
       |      (((vec_id % 1000000007) + 1000000007) % 1000000007
       |        * 48271 + 11) % 1000000007 ASC,
       |      vec_id ASC) - 1 AS cw FROM v)
       |  WHERE cw < $PqTrainK),
       |cb0 AS (SELECT cw,
       |    list(CAST(embedding[pp.pos] AS DOUBLE) ORDER BY pp.pos) AS carr
       |  FROM init CROSS JOIN pos pp GROUP BY cw),
       |$iters""".stripMargin
  }

  /** q140 oracle: [[pqTrainedCbCtes]] + the verbatim q123 search tail
    * against the final trained codebook.
    */
  private def pqTrainedOracleSql: String = {
    val dist = (cb: String) =>
      s"""(${sqlPqX2("e.embedding")})
         |      - 2 * (${sqlPqXC("e.embedding", s"$cb.carr")})
         |      + (${sqlPqC2(s"$cb.carr")})""".stripMargin
    s"""WITH $pqTrainedCbCtes,
       |d AS (SELECT e.vec_id, e.label AS v_label, m.m, c.cw AS code,
       |    ${dist("c")} AS dist
       |  FROM embeddings e CROSS JOIN m CROSS JOIN cb$PqTrainIters c),
       |pick AS (SELECT vec_id, v_label, m, code,
       |    row_number() OVER (PARTITION BY vec_id, m
       |      ORDER BY dist, code) AS rn
       |  FROM d),
       |codes AS (SELECT vec_id, v_label, m, code FROM pick WHERE rn = 1),
       |lut AS (SELECT m, code, dist FROM d WHERE vec_id = 0)
       |SELECT c.vec_id, min(c.v_label) AS label,
       |  string_agg(CAST(c.code AS VARCHAR), ',' ORDER BY c.m) AS pq_code,
       |  round(list_reduce(list(l.dist ORDER BY c.m), (a, b) -> a + b), 6)
       |    AS adc_dist
       |FROM codes c JOIN lut l ON l.m = c.m AND l.code = c.code
       |WHERE c.vec_id <> 0
       |GROUP BY c.vec_id
       |ORDER BY adc_dist, vec_id LIMIT 10""".stripMargin
  }

  /** The per-subspace Lloyd chain of [[pqTrainedCbCtes]] pointed at an
    * arbitrary (vec_id, rarr) CTE with prefixed names — the q151 oracle
    * trains the RESIDUAL codebook with it (src = the residual CTE,
    * p = "r"): defines `${p}m`, `${p}init`, `${p}cb0..cb$PqTrainIters`.
    * Assumes a `pos` CTE (1..Dim) is already in scope. Kept textually
    * parallel to [[pqTrainedCbCtes]] on purpose — the two replay the
    * SAME Spark trainer ([[pqTrainedCodebook]]); if they ever diverge,
    * q140 or q151 goes red at the oracle gate.
    */
  private def pqLloydCtesOver(src: String, p: String): String = {
    val dist = (cb: String) =>
      s"""(${sqlPqX2("e.rarr")})
         |      - 2 * (${sqlPqXC("e.rarr", s"$cb.carr")})
         |      + (${sqlPqC2(s"$cb.carr")})""".stripMargin
    val iters = (1 to PqTrainIters).map { t =>
      s"""${p}a$t AS (SELECT e.vec_id, m.m, c.cw,
         |    ${dist("c")} AS dist
         |  FROM $src e CROSS JOIN ${p}m m CROSS JOIN ${p}cb${t - 1} c),
         |${p}asn$t AS (SELECT vec_id, m, cw FROM (
         |    SELECT vec_id, m, cw, row_number() OVER (
         |      PARTITION BY vec_id, m ORDER BY dist, cw) AS rn
         |    FROM ${p}a$t)
         |  WHERE rn = 1),
         |${p}u$t AS (SELECT asn.m, asn.cw, s.i,
         |    round(CAST(sum(CAST(e.rarr[asn.m * $PqSubDim + s.i]
         |        AS DECIMAL(38,10))) AS DOUBLE) / count(*), 6) AS cv
         |  FROM ${p}asn$t asn JOIN $src e USING (vec_id)
         |  CROSS JOIN (SELECT unnest(generate_series(1, $PqSubDim)) AS i) s
         |  GROUP BY asn.m, asn.cw, s.i),
         |${p}cb$t AS MATERIALIZED (SELECT g.cw,
         |    list(coalesce(u.cv, g.carr[pp.pos]) ORDER BY pp.pos) AS carr
         |  FROM ${p}cb${t - 1} g CROSS JOIN pos pp
         |  LEFT JOIN ${p}u$t u
         |    ON u.cw = g.cw AND u.m * $PqSubDim + u.i = pp.pos
         |  GROUP BY g.cw)""".stripMargin
    }.mkString(",\n")
    s"""${p}m AS (SELECT unnest(generate_series(0, ${PqSub - 1})) AS m),
       |${p}init AS (SELECT rarr, cw FROM (
       |    SELECT rarr, row_number() OVER (ORDER BY
       |      (((vec_id % 1000000007) + 1000000007) % 1000000007
       |        * 48271 + 11) % 1000000007 ASC,
       |      vec_id ASC) - 1 AS cw FROM $src)
       |  WHERE cw < $PqTrainK),
       |${p}cb0 AS (SELECT cw,
       |    list(CAST(rarr[pp.pos] AS DOUBLE) ORDER BY pp.pos) AS carr
       |  FROM ${p}init CROSS JOIN pos pp GROUP BY cw),
       |$iters""".stripMargin
  }

  /** The shared q151/q154 lifecycle chain: [[ivfTrainedCbCtes]] (coarse
    * training) + final assignment + residual construction +
    * [[pqLloydCtesOver]] (residual training) + residual encode + the
    * probe ring + per-probed-cell ADC lookup tables. Defines everything
    * through `lut` (plus `q`, `pr`, `res`, `rcodes`); no trailing comma.
    *
    * The stacked chain is why `res` is pinned MATERIALIZED: it feeds 13
    * references (residual init + 5 Lloyd iterations + encode + final),
    * each of which would otherwise re-run the whole coarse assignment
    * (and, with `v` inlined, re-open the parquet until even a 20k fd
    * limit blows — the measured failure). `v` and the cb levels are
    * MATERIALIZED inside the shared builders.
    */
  private def ivfPqSearchCtes: String = {
    val n = IvfTrainIters
    val rn = PqTrainIters
    val rdist = (cb: String) =>
      s"""(${sqlPqX2("e.rarr")})
         |      - 2 * (${sqlPqXC("e.rarr", s"$cb.carr")})
         |      + (${sqlPqC2(s"$cb.carr")})""".stripMargin
    s"""$ivfTrainedCbCtes,
       |fa AS (SELECT e.vec_id, c.cw,
       |    ${sqlL2("e.embedding", "c.carr")} AS dist
       |  FROM v e CROSS JOIN cb$n c),
       |fasn AS (SELECT vec_id, cw FROM (
       |    SELECT vec_id, cw, row_number() OVER (
       |      PARTITION BY vec_id ORDER BY dist, cw) AS rn FROM fa)
       |  WHERE rn = 1),
       |res AS MATERIALIZED (SELECT e.vec_id, e.label, a.cw AS cell,
       |    list_transform(generate_series(1, $Dim),
       |      i -> CAST(e.embedding[i] AS DOUBLE) - c.carr[i]) AS rarr
       |  FROM v e JOIN fasn a USING (vec_id) JOIN cb$n c ON c.cw = a.cw),
       |${pqLloydCtesOver("res", "r")},
       |rd AS (SELECT e.vec_id, m.m, c.cw AS code,
       |    ${rdist("c")} AS dist
       |  FROM res e CROSS JOIN rm m CROSS JOIN rcb$rn c),
       |rcodes AS (SELECT vec_id, m, code FROM (
       |    SELECT vec_id, m, code, row_number() OVER (
       |      PARTITION BY vec_id, m ORDER BY dist, code) AS rn FROM rd)
       |  WHERE rn = 1),
       |q AS (SELECT embedding AS q_emb FROM v WHERE vec_id = 0),
       |pd AS (SELECT c.cw,
       |    ${sqlL2("q.q_emb", "c.carr")} AS dist
       |  FROM cb$n c CROSS JOIN q),
       |pr AS (SELECT cw FROM pd ORDER BY dist, cw LIMIT $IvfPqNProbe),
       |qr AS (SELECT pr.cw AS cell,
       |    list_transform(generate_series(1, $Dim),
       |      i -> CAST(q.q_emb[i] AS DOUBLE) - c.carr[i]) AS rarr
       |  FROM pr JOIN cb$n c ON c.cw = pr.cw CROSS JOIN q),
       |lut AS (SELECT e.cell, m.m, c.cw AS code,
       |    ${rdist("c")} AS dist
       |  FROM qr e CROSS JOIN rm m CROSS JOIN rcb$rn c)""".stripMargin
  }

  /** q151 oracle: [[ivfPqSearchCtes]] + the probed-cells-only ADC rank —
    * the whole IVFADC lifecycle replayed.
    */
  private def ivfPqOracleSql: String =
    s"""WITH $ivfPqSearchCtes
       |SELECT r.vec_id, min(r.label) AS label,
       |  CAST(min(r.cell) AS INT) AS cell,
       |  string_agg(CAST(c.code AS VARCHAR), ',' ORDER BY c.m) AS pq_code,
       |  round(list_reduce(list(l.dist ORDER BY c.m), (a, b) -> a + b), 6)
       |    AS adc_dist
       |FROM res r JOIN pr ON r.cell = pr.cw
       |JOIN rcodes c ON c.vec_id = r.vec_id
       |JOIN lut l ON l.cell = r.cell AND l.m = c.m AND l.code = c.code
       |WHERE r.vec_id <> 0
       |GROUP BY r.vec_id
       |ORDER BY adc_dist, r.vec_id LIMIT 10""".stripMargin

  /** q154 oracle: [[ivfPqSearchCtes]] + the ADC shortlist (q151's rank,
    * LIMIT [[IvfPqRefine]]) + the exact-cosine refine over only the
    * finalists' full vectors.
    */
  private def ivfPqRefinedOracleSql: String =
    s"""WITH $ivfPqSearchCtes,
       |short AS (SELECT r.vec_id, min(r.label) AS label,
       |    CAST(min(r.cell) AS INT) AS cell,
       |    round(list_reduce(list(l.dist ORDER BY c.m), (a, b) -> a + b),
       |      6) AS adc_dist
       |  FROM res r JOIN pr ON r.cell = pr.cw
       |  JOIN rcodes c ON c.vec_id = r.vec_id
       |  JOIN lut l ON l.cell = r.cell AND l.m = c.m AND l.code = c.code
       |  WHERE r.vec_id <> 0
       |  GROUP BY r.vec_id
       |  ORDER BY adc_dist, r.vec_id LIMIT $IvfPqRefine)
       |SELECT s.vec_id, s.label, s.cell, s.adc_dist,
       |  round((${sqlDot("e.embedding", "q.q_emb")})
       |    / nullif(${sqlNorm("e.embedding")} * ${sqlNorm("q.q_emb")}, 0),
       |    6) AS cos_sim
       |FROM short s JOIN v e ON e.vec_id = s.vec_id CROSS JOIN q
       |ORDER BY cos_sim DESC, s.vec_id ASC LIMIT 10""".stripMargin

  /** q153 oracle: the q151 lifecycle CTEs (coarse + residual training,
    * residuals, codes) + the q144 recall tail with the candidate
    * ranking swapped from exact cosine to residual ADC — per (probe,
    * probed cell) query residuals, per-pair LUT sums, ADC-ascending
    * arms, exact ground truth unchanged.
    */
  private def ivfPqRecallOracleSql: String = {
    val n = IvfTrainIters
    val rn = PqTrainIters
    val rdist = (cb: String) =>
      s"""(${sqlPqX2("e.rarr")})
         |      - 2 * (${sqlPqXC("e.rarr", s"$cb.carr")})
         |      + (${sqlPqC2(s"$cb.carr")})""".stripMargin
    s"""WITH $ivfTrainedCbCtes,
       |fa AS (SELECT e.vec_id, c.cw,
       |    ${sqlL2("e.embedding", "c.carr")} AS dist
       |  FROM v e CROSS JOIN cb$n c),
       |fasn AS (SELECT vec_id, cw FROM (
       |    SELECT vec_id, cw, row_number() OVER (
       |      PARTITION BY vec_id ORDER BY dist, cw) AS rn FROM fa)
       |  WHERE rn = 1),
       |res AS MATERIALIZED (SELECT e.vec_id, e.label, a.cw AS cell,
       |    list_transform(generate_series(1, $Dim),
       |      i -> CAST(e.embedding[i] AS DOUBLE) - c.carr[i]) AS rarr
       |  FROM v e JOIN fasn a USING (vec_id) JOIN cb$n c ON c.cw = a.cw),
       |${pqLloydCtesOver("res", "r")},
       |rd AS (SELECT e.vec_id, m.m, c.cw AS code,
       |    ${rdist("c")} AS dist
       |  FROM res e CROSS JOIN rm m CROSS JOIN rcb$rn c),
       |rcodes AS MATERIALIZED (SELECT vec_id, m, code FROM (
       |    SELECT vec_id, m, code, row_number() OVER (
       |      PARTITION BY vec_id, m ORDER BY dist, code) AS rn FROM rd)
       |  WHERE rn = 1),
       |p AS (SELECT vec_id AS q_id, embedding AS q_emb
       |  FROM v ORDER BY vec_id LIMIT $RecallProbes),
       |np AS (SELECT unnest(generate_series(1, $RecallMaxProbe)) AS np),
       |ex AS (SELECT p.q_id, e.vec_id,
       |    round((${sqlDot("e.embedding", "p.q_emb")})
       |      / nullif(${sqlNorm("e.embedding")} * ${sqlNorm("p.q_emb")},
       |        0), 6) AS cos_sim
       |  FROM v e CROSS JOIN p WHERE e.vec_id <> p.q_id),
       |ext AS (SELECT q_id, vec_id FROM (SELECT q_id, vec_id,
       |    row_number() OVER (PARTITION BY q_id
       |      ORDER BY cos_sim DESC, vec_id ASC) AS rk FROM ex
       |    WHERE cos_sim IS NOT NULL)
       |  WHERE rk <= $RecallK),
       |cr AS (SELECT q_id, q_emb, cw, row_number() OVER (
       |    PARTITION BY q_id ORDER BY dist, cw) AS cent_rank
       |  FROM (SELECT p.q_id, p.q_emb, c.cw,
       |      ${sqlL2("p.q_emb", "c.carr")} AS dist
       |    FROM cb$n c CROSS JOIN p)),
       |pc AS (SELECT * FROM cr WHERE cent_rank <= $RecallMaxProbe),
       |qr AS (SELECT pc.q_id, pc.cw AS cell, pc.cent_rank,
       |    list_transform(generate_series(1, $Dim),
       |      i -> CAST(pc.q_emb[i] AS DOUBLE) - c.carr[i]) AS rarr
       |  FROM pc JOIN cb$n c ON c.cw = pc.cw),
       |lut AS MATERIALIZED (SELECT e.q_id, e.cell, e.cent_rank, m.m,
       |    c.cw AS code, ${rdist("c")} AS dist
       |  FROM qr e CROSS JOIN rm m CROSS JOIN rcb$rn c),
       |cand AS MATERIALIZED (SELECT l.q_id, l.cent_rank, r.vec_id,
       |    round(list_reduce(list(l.dist ORDER BY c.m), (a, b) -> a + b),
       |      6) AS adc
       |  FROM res r
       |  JOIN rcodes c ON c.vec_id = r.vec_id
       |  JOIN lut l ON l.cell = r.cell AND l.m = c.m AND l.code = c.code
       |  WHERE r.vec_id <> l.q_id
       |  GROUP BY l.q_id, l.cent_rank, r.vec_id),
       |cat AS (SELECT q_id, n_probe, vec_id FROM (
       |    SELECT q_id, np.np AS n_probe, vec_id, adc,
       |      row_number() OVER (PARTITION BY q_id, np.np
       |        ORDER BY adc ASC, vec_id ASC) AS rk
       |    FROM cand CROSS JOIN np
       |    WHERE np.np >= cand.cent_rank AND adc IS NOT NULL)
       |  WHERE rk <= $RecallK),
       |h AS (SELECT q_id, n_probe, count(*) AS n_hits
       |  FROM cat JOIN ext USING (q_id, vec_id) GROUP BY 1, 2),
       |tot AS (SELECT count(*) - 1 AS n_others FROM v),
       |sc AS (SELECT q_id, np.np AS n_probe,
       |    CAST(count(*) AS BIGINT) AS n_scanned
       |  FROM cand CROSS JOIN np WHERE np.np >= cand.cent_rank
       |  GROUP BY 1, 2),
       |g AS (SELECT p.q_id, np.np AS n_probe FROM p CROSS JOIN np)
       |SELECT CAST(g.n_probe AS INT) AS n_probe, count(*) AS n_queries,
       |  ${Tables.sqlDavg(s"coalesce(h.n_hits, 0) / $RecallK", 6)}
       |    AS mean_recall_at_k,
       |  ${Tables.sqlDavg(
            "coalesce(sc.n_scanned, 0) / nullif(tot.n_others, 0)", 6)}
       |    AS mean_frac_scanned
       |FROM g LEFT JOIN h USING (q_id, n_probe)
       |  LEFT JOIN sc USING (q_id, n_probe) CROSS JOIN tot
       |GROUP BY g.n_probe ORDER BY n_probe""".stripMargin
  }

  /** Full-dim squared-L2 between two SQL list expressions in the
    * [[cellDists]]/[[assignClusters]] op order: (x·x − 2·(x·c)) + (c·c),
    * every dot unrolled left-associated in index order — bit-exact vs the
    * Spark side's native VecDot accumulation and driver-side c² fold.
    */
  private def sqlL2(x: String, c: String): String =
    s"""(${sqlDot(x, x)})
       |      - 2 * (${sqlDot(x, c)})
       |      + (${sqlDot(c, c)})""".stripMargin

  /** The full-dim Lloyd-training CTE chain (valid vectors → init →
    * cb0..cbN) shared by the q143 and q144 oracles; defines `v`, `pos`,
    * `init`, `cb0..cb$IvfTrainIters`. No trailing comma. The
    * [[pqTrainedCbCtes]] pattern with the subspace axis removed — the
    * coarse quantizer trains on whole vectors.
    */
  private def ivfTrainedCbCtes: String = {
    // each cb$t is referenced TWICE (the next iteration's assignment and
    // its own fallback join), so an inlined chain re-executes level t−1
    // for both — 2^iters blowup; MATERIALIZED pins each level to run
    // once (DuckDB 1.0 syntax; same results, measured 24 s → ~2 s on the
    // q143 oracle at sf0.01)
    val iters = (1 to IvfTrainIters).map { t =>
      s"""a$t AS (SELECT e.vec_id, c.cw,
         |    ${sqlL2("e.embedding", "c.carr")} AS dist
         |  FROM v e CROSS JOIN cb${t - 1} c),
         |asn$t AS (SELECT vec_id, cw FROM (
         |    SELECT vec_id, cw, row_number() OVER (
         |      PARTITION BY vec_id ORDER BY dist, cw) AS rn FROM a$t)
         |  WHERE rn = 1),
         |u$t AS (SELECT asn.cw, pp.pos,
         |    round(CAST(sum(CAST(CAST(e.embedding[pp.pos] AS DOUBLE)
         |      AS DECIMAL(38,10))) AS DOUBLE) / count(*), 6) AS cv
         |  FROM asn$t asn JOIN v e USING (vec_id) CROSS JOIN pos pp
         |  GROUP BY asn.cw, pp.pos),
         |cb$t AS MATERIALIZED (SELECT g.cw,
         |    list(coalesce(u.cv, g.carr[pp.pos]) ORDER BY pp.pos) AS carr
         |  FROM cb${t - 1} g CROSS JOIN pos pp
         |  LEFT JOIN u$t u ON u.cw = g.cw AND u.pos = pp.pos
         |  GROUP BY g.cw)""".stripMargin
    }.mkString(",\n")
    s"""v AS MATERIALIZED (SELECT vec_id, label, embedding FROM embeddings
       |  WHERE embedding IS NOT NULL AND len(embedding) = $Dim
       |    AND len(list_filter(embedding, x -> x IS NULL)) = 0),
       |pos AS (SELECT unnest(generate_series(1, $Dim)) AS pos),
       |init AS (SELECT embedding, cw FROM (
       |    SELECT embedding, row_number() OVER (ORDER BY
       |      (((vec_id % 1000000007) + 1000000007) % 1000000007
       |        * 48271 + 11) % 1000000007 ASC,
       |      vec_id ASC) - 1 AS cw FROM v)
       |  WHERE cw < $IvfTrainK),
       |cb0 AS MATERIALIZED (SELECT cw,
       |    list(CAST(embedding[pp.pos] AS DOUBLE) ORDER BY pp.pos) AS carr
       |  FROM init CROSS JOIN pos pp GROUP BY cw),
       |$iters""".stripMargin
  }

  /** q143 oracle: [[ivfTrainedCbCtes]] + final assignment under the
    * trained codebook + the 3-nearest-cell probe + the q45 exact re-rank
    * tail within the probed cells.
    */
  private def ivfTrainedOracleSql: String = {
    val n = IvfTrainIters
    s"""WITH $ivfTrainedCbCtes,
       |q AS (SELECT embedding AS q_emb FROM v WHERE vec_id = 0),
       |pd AS (SELECT c.cw,
       |    ${sqlL2("q.q_emb", "c.carr")} AS dist
       |  FROM cb$n c CROSS JOIN q),
       |pr AS (SELECT cw FROM pd ORDER BY dist, cw LIMIT 3),
       |fa AS (SELECT e.vec_id, c.cw,
       |    ${sqlL2("e.embedding", "c.carr")} AS dist
       |  FROM v e CROSS JOIN cb$n c),
       |fasn AS (SELECT vec_id, cw FROM (
       |    SELECT vec_id, cw, row_number() OVER (
       |      PARTITION BY vec_id ORDER BY dist, cw) AS rn FROM fa)
       |  WHERE rn = 1)
       |SELECT e.vec_id, e.label, CAST(a.cw AS INT) AS cell,
       |  round((${sqlDot("e.embedding", "q.q_emb")})
       |    / nullif(${sqlNorm("e.embedding")} * ${sqlNorm("q.q_emb")}, 0), 6)
       |    AS cos_sim
       |FROM v e JOIN fasn a USING (vec_id) JOIN pr ON a.cw = pr.cw
       |CROSS JOIN q
       |WHERE e.vec_id <> 0
       |ORDER BY cos_sim DESC, vec_id ASC LIMIT 10""".stripMargin
  }

  /** q144 oracle: [[ivfTrainedCbCtes]] + the q135 recall-replay tail
    * (probes, exact ground truth, per-arm candidates, rollup) with the
    * label cells swapped for the trained assignment — the two curves'
    * oracles differ in exactly the cell derivation, like the faces.
    */
  private def ivfRecallTrainedOracleSql: String = {
    val n = IvfTrainIters
    s"""WITH $ivfTrainedCbCtes,
       |p AS (SELECT vec_id AS q_id, embedding AS q_emb
       |  FROM v ORDER BY vec_id LIMIT $RecallProbes),
       |np AS (SELECT unnest(generate_series(1, $RecallMaxProbe)) AS np),
       |ex AS (SELECT p.q_id, e.vec_id,
       |    round((${sqlDot("e.embedding", "p.q_emb")})
       |      / nullif(${sqlNorm("e.embedding")} * ${sqlNorm("p.q_emb")},
       |        0), 6) AS cos_sim
       |  FROM v e CROSS JOIN p WHERE e.vec_id <> p.q_id),
       |ext AS (SELECT q_id, vec_id FROM (SELECT q_id, vec_id,
       |    row_number() OVER (PARTITION BY q_id
       |      ORDER BY cos_sim DESC, vec_id ASC) AS rk FROM ex
       |    WHERE cos_sim IS NOT NULL)
       |  WHERE rk <= $RecallK),
       |fa AS (SELECT e.vec_id, c.cw,
       |    ${sqlL2("e.embedding", "c.carr")} AS dist
       |  FROM v e CROSS JOIN cb$n c),
       |fasn AS (SELECT vec_id, cw FROM (
       |    SELECT vec_id, cw, row_number() OVER (
       |      PARTITION BY vec_id ORDER BY dist, cw) AS rn FROM fa)
       |  WHERE rn = 1),
       |cr AS (SELECT q_id, q_emb, cw, row_number() OVER (
       |    PARTITION BY q_id ORDER BY dist, cw) AS cent_rank
       |  FROM (SELECT p.q_id, p.q_emb, c.cw,
       |      ${sqlL2("p.q_emb", "c.carr")} AS dist
       |    FROM cb$n c CROSS JOIN p)),
       |pc AS (SELECT * FROM cr WHERE cent_rank <= $RecallMaxProbe),
       |cand AS (SELECT pc.q_id, pc.cent_rank, e.vec_id,
       |    round((${sqlDot("e.embedding", "pc.q_emb")})
       |      / nullif(${sqlNorm("e.embedding")} * ${sqlNorm("pc.q_emb")},
       |        0), 6) AS cos_sim
       |  FROM v e JOIN fasn a USING (vec_id) JOIN pc ON a.cw = pc.cw
       |  WHERE e.vec_id <> pc.q_id),
       |cat AS (SELECT q_id, n_probe, vec_id FROM (
       |    SELECT q_id, np.np AS n_probe, vec_id, cos_sim,
       |      row_number() OVER (PARTITION BY q_id, np.np
       |        ORDER BY cos_sim DESC, vec_id ASC) AS rk
       |    FROM cand CROSS JOIN np
       |    WHERE np.np >= cand.cent_rank AND cos_sim IS NOT NULL)
       |  WHERE rk <= $RecallK),
       |h AS (SELECT q_id, n_probe, count(*) AS n_hits
       |  FROM cat JOIN ext USING (q_id, vec_id) GROUP BY 1, 2),
       |tot AS (SELECT count(*) - 1 AS n_others FROM v),
       |sc AS (SELECT q_id, np.np AS n_probe,
       |    CAST(count(*) AS BIGINT) AS n_scanned
       |  FROM cand CROSS JOIN np WHERE np.np >= cand.cent_rank
       |  GROUP BY 1, 2),
       |g AS (SELECT p.q_id, np.np AS n_probe FROM p CROSS JOIN np)
       |SELECT CAST(g.n_probe AS INT) AS n_probe, count(*) AS n_queries,
       |  ${Tables.sqlDavg(s"coalesce(h.n_hits, 0) / $RecallK", 6)}
       |    AS mean_recall_at_k,
       |  ${Tables.sqlDavg(
            "coalesce(sc.n_scanned, 0) / nullif(tot.n_others, 0)", 6)}
       |    AS mean_frac_scanned
       |FROM g LEFT JOIN h USING (q_id, n_probe)
       |  LEFT JOIN sc USING (q_id, n_probe) CROSS JOIN tot
       |GROUP BY g.n_probe ORDER BY n_probe""".stripMargin
  }

  /** The q138 recall-replay tail: probes, exact ground truth, encode +
    * ADC prefix arms, rollup — everything downstream of a codebook CTE
    * named `ca` (label, carr full-dim) and the subspace series `m`.
    * Shared verbatim by the label face (q138) and the trained face
    * (q142), so the two curves differ in exactly one CTE.
    */
  private def pqRecallOracleTail: String =
    s"""mg AS (SELECT unnest([${RecallSubGrid.mkString(", ")}]) AS m_used),
       |p AS (SELECT vec_id AS q_id, embedding AS q_emb
       |  FROM embeddings ORDER BY vec_id LIMIT $RecallProbes),
       |ex AS (SELECT p.q_id, e.vec_id,
       |    round((${sqlDot("e.embedding", "p.q_emb")})
       |      / nullif(${sqlNorm("e.embedding")} * ${sqlNorm("p.q_emb")},
       |        0), 6) AS cos_sim
       |  FROM embeddings e CROSS JOIN p WHERE e.vec_id <> p.q_id),
       |ext AS (SELECT q_id, vec_id FROM (SELECT q_id, vec_id,
       |    row_number() OVER (PARTITION BY q_id
       |      ORDER BY cos_sim DESC, vec_id ASC) AS rk FROM ex
       |    WHERE cos_sim IS NOT NULL)
       |  WHERE rk <= $RecallK),
       |d AS (SELECT e.vec_id, m.m, ca.label AS code,
       |    (${sqlPqX2("e.embedding")})
       |      - 2 * (${sqlPqXC("e.embedding", "ca.carr")})
       |      + (${sqlPqC2("ca.carr")}) AS dist
       |  FROM embeddings e CROSS JOIN m CROSS JOIN ca),
       |pick AS (SELECT vec_id, m, code,
       |    row_number() OVER (PARTITION BY vec_id, m
       |      ORDER BY dist, code) AS rn, dist
       |  FROM d),
       |codes AS (SELECT vec_id, m, code FROM pick
       |  WHERE rn = 1 AND dist IS NOT NULL),
       |lut AS (SELECT p.q_id, m.m, ca.label AS code,
       |    (${sqlPqX2("p.q_emb")})
       |      - 2 * (${sqlPqXC("p.q_emb", "ca.carr")})
       |      + (${sqlPqC2("ca.carr")}) AS dist
       |  FROM p CROSS JOIN m CROSS JOIN ca),
       |adc AS (SELECT l.q_id, c.vec_id, mg.m_used,
       |    round(list_reduce(list_prepend(0.0, list(l.dist ORDER BY c.m)),
       |      (a, b) -> a + b), 6) AS adc_dist
       |  FROM codes c JOIN lut l ON l.m = c.m AND l.code = c.code
       |  CROSS JOIN mg
       |  WHERE c.m < mg.m_used AND c.vec_id <> l.q_id
       |  GROUP BY l.q_id, c.vec_id, mg.m_used
       |  HAVING count(*) = mg.m_used AND adc_dist IS NOT NULL),
       |cat AS (SELECT q_id, m_used, vec_id FROM (
       |    SELECT q_id, m_used, vec_id,
       |      row_number() OVER (PARTITION BY q_id, m_used
       |        ORDER BY adc_dist ASC, vec_id ASC) AS rk FROM adc)
       |  WHERE rk <= $RecallK),
       |h AS (SELECT q_id, m_used, count(*) AS n_hits
       |  FROM cat JOIN ext USING (q_id, vec_id) GROUP BY 1, 2),
       |g AS (SELECT p.q_id, mg.m_used FROM p CROSS JOIN mg)
       |SELECT CAST(g.m_used AS INT) AS m_used, count(*) AS n_queries,
       |  ${Tables.sqlDavg(s"coalesce(h.n_hits, 0) / $RecallK", 6)}
       |    AS mean_recall_at_k,
       |  round(CAST(g.m_used AS DOUBLE) / $PqSub, 6) AS frac_code_read
       |FROM g LEFT JOIN h USING (q_id, m_used)
       |GROUP BY g.m_used ORDER BY m_used""".stripMargin

  /** DuckDB twins of the catalog faces. A FLOAT element summed into a
    * label centroid or a trainer replay's codeword mean (the
    * `pqTrainedCbCtes` / `ivfTrainedCbCtes` chains) goes to DECIMAL
    * through DOUBLE (`CAST(CAST(embedding[i] AS DOUBLE)
    * AS DECIMAL(38,10))`) because that is what Spark's float-to-decimal
    * cast computes: the float's exact binary value (0.8125188f →
    * 0.8125187755), where DuckDB's direct FLOAT cast scales in single
    * precision (0.8125188f → 0.8125187584) — a different sum that
    * `round(…, 6)` shows once a mean lands next to a rounding boundary.
    */
  val oracle: Map[String, String] = Map(
    // Replays distortion: the q123 codebook/argmin CTEs, then the CHOSEN
    // code's distance per subspace — round(greatest(d, 0), 6) summed in
    // subspace order (the kernel's exact arithmetic) — rolled up per
    // label through the decimal mean.
    "q128_pq_distortion" ->
      s"""WITH c0 AS (SELECT label, s.i AS dim,
         |    round(CAST(sum(CAST(CAST(embedding[s.i] AS DOUBLE)
         |      AS DECIMAL(38,10))) AS DOUBLE) / count(*), 6) AS cv
         |  FROM embeddings
         |  CROSS JOIN (SELECT unnest(generate_series(1, $Dim)) AS i) s
         |  GROUP BY label, s.i),
         |ca AS (SELECT label, list(cv ORDER BY dim) AS carr FROM c0
         |  GROUP BY label),
         |m AS (SELECT unnest(generate_series(0, ${PqSub - 1})) AS m),
         |d AS (SELECT e.vec_id, e.label AS v_label, m.m, ca.label AS code,
         |    (${sqlPqX2("e.embedding")})
         |      - 2 * (${sqlPqXC("e.embedding", "ca.carr")})
         |      + (${sqlPqC2("ca.carr")}) AS dist
         |  FROM embeddings e CROSS JOIN m CROSS JOIN ca),
         |pick AS (SELECT vec_id, v_label, m, dist,
         |    row_number() OVER (PARTITION BY vec_id, m
         |      ORDER BY dist, code) AS rn
         |  FROM d),
         |e AS (SELECT vec_id, min(v_label) AS label,
         |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |      list(round(greatest(dist, 0), 6) ORDER BY m)),
         |      (a, b) -> a + b) AS err
         |  FROM pick WHERE rn = 1 GROUP BY vec_id)
         |SELECT label, count(*) AS n,
         |  count(*) - count(err) AS n_unencodable,
         |  round(CAST(sum(CAST(err AS DECIMAL(38,10))) AS DOUBLE)
         |    / nullif(count(err), 0), 6) AS avg_sqerr,
         |  max(err) AS max_sqerr
         |FROM e GROUP BY label ORDER BY label""".stripMargin,
    // Replays triplet mining: the q44 all-NN table (positives) + the
    // rank-rotation negative draw, the lone degenerate case dropped.
    "q127_contrastive_triplets" ->
      s"""WITH d AS (SELECT vec_id, label, embedding,
         |  ${sqlNorm("embedding")} AS nrm FROM embeddings),
         |p AS (SELECT a.vec_id AS vec_id, a.label, b.vec_id AS nn_id,
         |  (${sqlDot("a.embedding", "b.embedding")})
         |    / nullif(a.nrm * b.nrm, 0) AS cos
         |  FROM d a JOIN d b ON a.label = b.label AND a.vec_id <> b.vec_id),
         |r AS (SELECT *, row_number() OVER (PARTITION BY vec_id
         |  ORDER BY cos DESC, nn_id ASC) AS rn FROM p),
         |nn AS (SELECT vec_id, nn_id, round(cos, 6) AS nn_cos
         |  FROM r WHERE rn = 1),
         |rk AS (SELECT vec_id, row_number() OVER (ORDER BY vec_id) AS rk
         |  FROM embeddings),
         |cnt AS (SELECT count(*) AS n,
         |    CASE WHEN 48271 % count(*) = 0 THEN 48270 ELSE 48271 END AS d
         |  FROM embeddings),
         |t AS (SELECT nn.vec_id, nn.nn_id, nn.nn_cos,
         |    ((rk.rk - 1 + cnt.d) % cnt.n) + 1 AS negrk
         |  FROM nn JOIN rk USING (vec_id) CROSS JOIN cnt)
         |SELECT t.vec_id AS anchor_id, t.nn_id AS pos_id,
         |  g.vec_id AS neg_id, t.nn_cos AS pos_cos
         |FROM t JOIN rk g ON g.rk = t.negrk
         |WHERE g.vec_id <> t.vec_id AND g.vec_id <> t.nn_id
         |ORDER BY anchor_id""".stripMargin,
    // Replays cohesion: q43 rounded centroids → one cosine per vector
    // (index-order, rounded 6 dp) → per-label rollup with the decimal
    // mean.
    "q126_cluster_cohesion" ->
      s"""WITH c0 AS (SELECT label, s.i AS dim,
         |    round(CAST(sum(CAST(CAST(embedding[s.i] AS DOUBLE)
         |      AS DECIMAL(38,10))) AS DOUBLE) / count(*), 6) AS cv
         |  FROM embeddings
         |  CROSS JOIN (SELECT unnest(generate_series(1, $Dim)) AS i) s
         |  GROUP BY label, s.i),
         |ca AS (SELECT label, list(cv ORDER BY dim) AS carr FROM c0
         |  GROUP BY label),
         |d AS (SELECT e.label,
         |    round((${sqlDot("e.embedding", "ca.carr")})
         |      / nullif(${sqlNorm("e.embedding")} * ${sqlNorm("ca.carr")}, 0), 6)
         |      AS cos
         |  FROM embeddings e JOIN ca USING (label))
         |SELECT label, count(*) AS n, min(cos) AS min_cos,
         |  round(CAST(sum(CAST(cos AS DECIMAL(38,10))) AS DOUBLE)
         |    / count(*), 6) AS avg_cos,
         |  CAST(sum(CASE WHEN cos < 0.5 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_weak
         |FROM d GROUP BY label ORDER BY label""".stripMargin,
    // Replays PQ end to end: q43 rounded centroids → per-subspace
    // |x_m|² − 2·x_m·c + |c|² (index-order unrolled, c² left-associated
    // like the JVM fold) → argmin with the low-codeword tie-break →
    // ADC = left fold of the 8 query-side lookups in subspace order.
    "q123_ann_pq" ->
      s"""WITH c0 AS (SELECT label, s.i AS dim,
         |    round(CAST(sum(CAST(CAST(embedding[s.i] AS DOUBLE)
         |      AS DECIMAL(38,10))) AS DOUBLE) / count(*), 6) AS cv
         |  FROM embeddings
         |  CROSS JOIN (SELECT unnest(generate_series(1, $Dim)) AS i) s
         |  GROUP BY label, s.i),
         |ca AS (SELECT label, list(cv ORDER BY dim) AS carr FROM c0
         |  GROUP BY label),
         |m AS (SELECT unnest(generate_series(0, ${PqSub - 1})) AS m),
         |d AS (SELECT e.vec_id, e.label AS v_label, m.m, ca.label AS code,
         |    (${sqlPqX2("e.embedding")})
         |      - 2 * (${sqlPqXC("e.embedding", "ca.carr")})
         |      + (${sqlPqC2("ca.carr")}) AS dist
         |  FROM embeddings e CROSS JOIN m CROSS JOIN ca),
         |pick AS (SELECT vec_id, v_label, m, code,
         |    row_number() OVER (PARTITION BY vec_id, m
         |      ORDER BY dist, code) AS rn
         |  FROM d),
         |codes AS (SELECT vec_id, v_label, m, code FROM pick WHERE rn = 1),
         |lut AS (SELECT m, code, dist FROM d WHERE vec_id = 0)
         |SELECT c.vec_id, min(c.v_label) AS label,
         |  string_agg(CAST(c.code AS VARCHAR), ',' ORDER BY c.m) AS pq_code,
         |  round(list_reduce(list(l.dist ORDER BY c.m), (a, b) -> a + b), 6)
         |    AS adc_dist
         |FROM codes c JOIN lut l ON l.m = c.m AND l.code = c.code
         |WHERE c.vec_id <> 0
         |GROUP BY c.vec_id
         |ORDER BY adc_dist, vec_id LIMIT 10""".stripMargin,
    "q140_ann_pq_trained" -> pqTrainedOracleSql,
    "q143_ann_ivf_trained" -> ivfTrainedOracleSql,
    "q144_ivf_recall_trained" -> ivfRecallTrainedOracleSql,
    "q151_ann_ivfpq" -> ivfPqOracleSql,
    "q153_ivfpq_recall" -> ivfPqRecallOracleSql,
    "q154_ivfpq_refined" -> ivfPqRefinedOracleSql,
    "q113_ann_rp" ->
      s"""WITH p AS (SELECT vec_id, label, ${sqlProj("embedding")} AS p
         |  FROM embeddings),
         |q AS (SELECT p AS qp FROM p WHERE vec_id = 0)
         |SELECT vec_id, label,
         |  round((${sqlDotK("p", "qp", Planes)}) /
         |    nullif(sqrt(${sqlDotK("p", "p", Planes)})
         |      * sqrt(${sqlDotK("qp", "qp", Planes)}), 0), 6) AS proj_sim
         |FROM p, q WHERE vec_id <> 0
         |ORDER BY proj_sim DESC, vec_id LIMIT 10""".stripMargin,
    "q110_embedding_audit" ->
      s"""WITH d AS (SELECT label,
         |    round(${sqlNorm("embedding")}, 6) AS nrm,
         |    CASE WHEN embedding IS NOT NULL AND
         |        len(list_filter(embedding, x -> x IS NULL)) > 0
         |      THEN 1 ELSE 0 END AS ne,
         |    len(embedding) AS dim FROM embeddings)
         |SELECT label, count(*) AS n,
         |  CAST(sum(CASE WHEN dim IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_null,
         |  CAST(sum(ne) AS BIGINT) AS n_null_elem,
         |  CAST(min(dim) AS BIGINT) AS min_dim,
         |  CAST(max(dim) AS BIGINT) AS max_dim,
         |  min(nrm) AS min_norm, max(nrm) AS max_norm,
         |  round(CAST(sum(CAST(nrm AS DECIMAL(38,10))) AS DOUBLE)
         |    / count(nrm), 6) AS avg_norm,
         |  CAST(sum(CASE WHEN nrm < 1e-6 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_degenerate
         |FROM d GROUP BY label ORDER BY label""".stripMargin,
    // Cross-modal curation: the q33 quality-score expression (inlined, raw
    // components) joined to the unrolled index-order embedding norm.
    "q89_crossmodal_curation" ->
      s"""WITH m AS (SELECT doc_id, source, text,
         |    string_split(trim(text), ' ') AS toks FROM documents),
         |sc AS (SELECT doc_id, source,
         |    round(0.4e0 * (len(list_distinct(toks)) / len(toks))
         |      + 0.3e0 * least((length(regexp_replace(text, ' ', '', 'g'))
         |          / len(toks)) / 10.0e0, 1.0e0)
         |      + 0.3e0 * (1.0e0 - len(regexp_extract_all(text,
         |          '[^a-zA-Z0-9 ]')) / len(toks)), 6) AS score
         |  FROM m),
         |n AS (SELECT vec_id AS doc_id,
         |    ${sqlNorm("embedding")} AS raw_norm FROM embeddings)
         |SELECT sc.doc_id, source, score,
         |  round(raw_norm, 6) AS emb_norm,
         |  round(score * raw_norm, 6) AS combined
         |FROM sc JOIN n ON sc.doc_id = n.doc_id
         |ORDER BY combined DESC, sc.doc_id LIMIT 20""".stripMargin,
    // Replays the semantic leakage audit: q116's md5 split on vec_id,
    // within-label train×held cosines (unrolled literal dot — bit-exact
    // vs VecDot), per-train-vector max of 6dp-rounded cosines, per-label
    // rollup with the threshold flag.
    "q132_semantic_leakage" ->
      s"""WITH e AS (SELECT vec_id, label, embedding,
         |    substr(md5('graft-split:' || CAST(vec_id AS VARCHAR)), 1, 4)
         |      < 'cccc' AS is_train
         |  FROM embeddings),
         |t AS (SELECT vec_id, label, embedding FROM e WHERE is_train),
         |h AS (SELECT label, embedding FROM e WHERE NOT is_train),
         |m AS (SELECT t.vec_id, t.label,
         |    max(round((${sqlDot("t.embedding", "h.embedding")})
         |      / nullif(${sqlNorm("t.embedding")}
         |          * ${sqlNorm("h.embedding")}, 0),
         |      6)) AS max_cos
         |  FROM t JOIN h ON t.label = h.label
         |  GROUP BY t.vec_id, t.label),
         |hn AS (SELECT label, CAST(count(*) AS BIGINT) AS n_held FROM h
         |  GROUP BY label),
         |r AS (SELECT t.label, CAST(count(*) AS BIGINT) AS n_train,
         |    CAST(sum(CASE WHEN m.max_cos >= $Q132Threshold THEN 1
         |        ELSE 0 END) AS BIGINT) AS n_leaky,
         |    max(m.max_cos) AS max_cos
         |  FROM t LEFT JOIN m ON t.vec_id = m.vec_id
         |  GROUP BY t.label)
         |SELECT r.label, r.n_train,
         |  CAST(coalesce(hn.n_held, 0) AS BIGINT) AS n_held, r.n_leaky,
         |  round(CAST(r.n_leaky AS DOUBLE) / r.n_train, 6) AS leak_rate,
         |  r.max_cos
         |FROM r LEFT JOIN hn ON r.label = hn.label
         |ORDER BY r.label""".stripMargin,
    // Replays semantic dedup: literal-plane signatures (bit-exact vs the
    // codegen'd chain) → min-id representative per bucket → one cosine per
    // vector against its representative.
    "q64_semantic_dedup" ->
      s"""WITH s AS (SELECT vec_id, embedding,
         |  CAST(${sqlSignature("embedding")} AS BIGINT) >> 8 AS sig
         |  FROM embeddings),
         |r AS (SELECT sig, min(vec_id) AS rep_id FROM s GROUP BY sig),
         |re AS (SELECT r.sig, r.rep_id, s.embedding AS rep_emb
         |  FROM r JOIN s ON s.vec_id = r.rep_id),
         |j AS (SELECT e.vec_id, e.sig, re.rep_id,
         |  round((${sqlDot("e.embedding", "re.rep_emb")})
         |    / nullif(${sqlNorm("e.embedding")} * ${sqlNorm("re.rep_emb")}, 0), 6)
         |    AS rep_cos
         |  FROM s e JOIN re ON e.sig = re.sig)
         |SELECT vec_id, sig, rep_id, rep_cos,
         |  (vec_id <> rep_id AND rep_cos >= 0.995e0) AS is_dup
         |FROM j ORDER BY vec_id""".stripMargin,
    // Replays the full LSH pipeline: 16 plane dots (literal planes,
    // index-order accumulation = bit-exact vs VecDot) → sign-bit signature →
    // two-table Hamming≤2 multi-probe → exact cosine re-rank.
    "q42_ann_lsh" ->
      s"""WITH s AS (SELECT vec_id, label, embedding,
         |  CAST(${sqlSignature("embedding")} AS BIGINT) AS sig
         |  FROM embeddings),
         |q AS (SELECT embedding AS q_emb, sig AS q_sig FROM s
         |  WHERE vec_id = 0)
         |SELECT e.vec_id, e.label,
         |  round((${sqlDot("e.embedding", "q.q_emb")})
         |    / nullif(${sqlNorm("e.embedding")} * ${sqlNorm("q.q_emb")}, 0), 6)
         |    AS cos_sim
         |FROM s e CROSS JOIN q
         |WHERE e.vec_id <> 0 AND (
         |  bit_count(xor(e.sig >> 8, q.q_sig >> 8)) <= 2 OR
         |  bit_count(xor(e.sig & 255, q.q_sig & 255)) <= 2)
         |ORDER BY cos_sim DESC, e.vec_id ASC LIMIT 10""".stripMargin,
    // Replays IVF: decimal-exact rounded per-dim centroids (the q43
    // definition) → centroid-vs-query cosine (index-order, bit-exact) →
    // top-3 probe → exact re-rank within the probed cells.
    "q45_ann_ivf" ->
      s"""WITH c0 AS (SELECT label, s.i AS dim,
         |    round(CAST(sum(CAST(CAST(embedding[s.i] AS DOUBLE)
         |      AS DECIMAL(38,10))) AS DOUBLE) / count(*), 6) AS cv
         |  FROM embeddings
         |  CROSS JOIN (SELECT unnest(generate_series(1, $Dim)) AS i) s
         |  GROUP BY label, s.i),
         |c AS (SELECT label, list(cv ORDER BY dim) AS carr FROM c0
         |  GROUP BY label),
         |q AS (SELECT embedding AS q_emb FROM embeddings WHERE vec_id = 0),
         |pr AS (SELECT c.label,
         |    (${sqlDot("c.carr", "q.q_emb")})
         |      / nullif(${sqlNorm("c.carr")} * ${sqlNorm("q.q_emb")}, 0) AS c_cos
         |  FROM c CROSS JOIN q
         |  ORDER BY c_cos DESC, c.label ASC LIMIT 3)
         |SELECT e.vec_id, e.label,
         |  round((${sqlDot("e.embedding", "q.q_emb")})
         |    / nullif(${sqlNorm("e.embedding")} * ${sqlNorm("q.q_emb")}, 0), 6)
         |    AS cos_sim
         |FROM embeddings e JOIN pr ON e.label = pr.label CROSS JOIN q
         |WHERE e.vec_id <> 0
         |ORDER BY cos_sim DESC, e.vec_id ASC LIMIT 10""".stripMargin,
    "q139_rp_recall" -> {
      def pfold(terms: String): String =
        s"list_reduce(list_prepend(0.0, list_transform(" +
          s"generate_series(1, dg.d), i -> $terms)), (x, y) -> x + y)"
      s"""WITH pr AS (SELECT vec_id, embedding,
         |    ${sqlProj("embedding")} AS p
         |  FROM embeddings),
         |q AS (SELECT vec_id AS q_id, embedding AS q_emb, p AS qp
         |  FROM pr ORDER BY vec_id LIMIT $RecallProbes),
         |dg AS (SELECT unnest([${RecallDimGrid.mkString(", ")}]) AS d),
         |ex AS (SELECT q.q_id, e.vec_id,
         |    round((${sqlDot("e.embedding", "q.q_emb")})
         |      / nullif(${sqlNorm("e.embedding")} * ${sqlNorm("q.q_emb")},
         |        0), 6) AS cos_sim
         |  FROM pr e CROSS JOIN q WHERE e.vec_id <> q.q_id),
         |ext AS (SELECT q_id, vec_id FROM (SELECT q_id, vec_id,
         |    row_number() OVER (PARTITION BY q_id
         |      ORDER BY cos_sim DESC, vec_id ASC) AS rk FROM ex
         |    WHERE cos_sim IS NOT NULL)
         |  WHERE rk <= $RecallK),
         |sc AS (SELECT q.q_id, e.vec_id, dg.d AS d_used,
         |    round((${pfold("e.p[i] * q.qp[i]")})
         |      / nullif(sqrt(${pfold("e.p[i] * e.p[i]")})
         |        * sqrt(${pfold("q.qp[i] * q.qp[i]")}), 0), 6) AS sim
         |  FROM pr e CROSS JOIN q CROSS JOIN dg
         |  WHERE e.vec_id <> q.q_id),
         |cat AS (SELECT q_id, d_used, vec_id FROM (
         |    SELECT q_id, d_used, vec_id,
         |      row_number() OVER (PARTITION BY q_id, d_used
         |        ORDER BY sim DESC, vec_id ASC) AS rk FROM sc
         |    WHERE sim IS NOT NULL)
         |  WHERE rk <= $RecallK),
         |h AS (SELECT q_id, d_used, count(*) AS n_hits
         |  FROM cat JOIN ext USING (q_id, vec_id) GROUP BY 1, 2),
         |g AS (SELECT q.q_id, dg.d AS d_used FROM q CROSS JOIN dg)
         |SELECT CAST(g.d_used AS INT) AS d_used, count(*) AS n_queries,
         |  ${Tables.sqlDavg(s"coalesce(h.n_hits, 0) / $RecallK", 6)}
         |    AS mean_recall_at_k,
         |  round(CAST(g.d_used AS DOUBLE) / $Planes, 6) AS frac_proj_read
         |FROM g LEFT JOIN h USING (q_id, d_used)
         |GROUP BY g.d_used ORDER BY d_used""".stripMargin
    },
    "q138_pq_recall" ->
      s"""WITH c0 AS (SELECT label, s.i AS dim,
         |    round(CAST(sum(CAST(CAST(embedding[s.i] AS DOUBLE)
         |      AS DECIMAL(38,10))) AS DOUBLE) / count(*), 6) AS cv
         |  FROM embeddings
         |  CROSS JOIN (SELECT unnest(generate_series(1, $Dim)) AS i) s
         |  GROUP BY label, s.i),
         |ca AS (SELECT label, list(cv ORDER BY dim) AS carr FROM c0
         |  GROUP BY label),
         |m AS (SELECT unnest(generate_series(0, ${PqSub - 1})) AS m),
         |$pqRecallOracleTail""".stripMargin,
    // Training CTEs + the identical recall tail: the q138/q142 pair
    // differs in exactly the `ca` codebook CTE.
    "q142_pq_recall_trained" ->
      s"""WITH $pqTrainedCbCtes,
         |ca AS (SELECT cw AS label, carr FROM cb$PqTrainIters),
         |$pqRecallOracleTail""".stripMargin,
    "q137_lsh_recall" ->
      s"""WITH s AS (SELECT vec_id, embedding,
         |    CAST(${sqlSignature("embedding")} AS BIGINT) AS sig
         |  FROM embeddings),
         |p AS (SELECT vec_id AS q_id, embedding AS q_emb, sig AS q_sig
         |  FROM s ORDER BY vec_id LIMIT $RecallProbes),
         |rg AS (SELECT unnest(generate_series(0, $RecallMaxRadius)) AS r),
         |sc AS (SELECT p.q_id, e.vec_id,
         |    round((${sqlDot("e.embedding", "p.q_emb")})
         |      / nullif(${sqlNorm("e.embedding")} * ${sqlNorm("p.q_emb")},
         |        0), 6) AS cos_sim,
         |    least(bit_count(xor(e.sig >> 8, p.q_sig >> 8)),
         |      bit_count(xor(e.sig & 255, p.q_sig & 255))) AS min_band
         |  FROM s e CROSS JOIN p WHERE e.vec_id <> p.q_id),
         |ext AS (SELECT q_id, vec_id FROM (SELECT q_id, vec_id,
         |    row_number() OVER (PARTITION BY q_id
         |      ORDER BY cos_sim DESC, vec_id ASC) AS rk FROM sc
         |    WHERE cos_sim IS NOT NULL)
         |  WHERE rk <= $RecallK),
         |ca AS (SELECT q_id, rg.r AS radius, vec_id, cos_sim
         |  FROM sc CROSS JOIN rg WHERE rg.r >= sc.min_band),
         |cat AS (SELECT q_id, radius, vec_id FROM (
         |    SELECT q_id, radius, vec_id,
         |      row_number() OVER (PARTITION BY q_id, radius
         |        ORDER BY cos_sim DESC, vec_id ASC) AS rk FROM ca
         |    WHERE cos_sim IS NOT NULL)
         |  WHERE rk <= $RecallK),
         |h AS (SELECT q_id, radius, count(*) AS n_hits
         |  FROM cat JOIN ext USING (q_id, vec_id) GROUP BY 1, 2),
         |scn AS (SELECT q_id, radius, count(*) AS n_scanned
         |  FROM ca GROUP BY 1, 2),
         |tot AS (SELECT count(*) - 1 AS n_others FROM embeddings),
         |g AS (SELECT p.q_id, rg.r AS radius FROM p CROSS JOIN rg)
         |SELECT CAST(g.radius AS INT) AS radius, count(*) AS n_queries,
         |  ${Tables.sqlDavg(s"coalesce(h.n_hits, 0) / $RecallK", 6)}
         |    AS mean_recall_at_k,
         |  ${Tables.sqlDavg("coalesce(scn.n_scanned, 0) / tot.n_others", 6)}
         |    AS mean_frac_scanned
         |FROM g LEFT JOIN h USING (q_id, radius)
         |  LEFT JOIN scn USING (q_id, radius) CROSS JOIN tot
         |GROUP BY g.radius ORDER BY radius""".stripMargin,
    "q136_embedding_drift" ->
      s"""WITH b0 AS (SELECT label, s.i AS dim,
         |    round(CAST(sum(CAST(CAST(embedding[s.i] AS DOUBLE)
         |      AS DECIMAL(38,10))) AS DOUBLE) / count(*), 6) AS cv,
         |    count(embedding[s.i]) AS cnt
         |  FROM embeddings
         |  CROSS JOIN (SELECT unnest(generate_series(1, $Dim)) AS i) s
         |  WHERE vec_id % 5 <> 0 GROUP BY label, s.i),
         |base AS (SELECT label, list(cv ORDER BY dim) AS carr,
         |    max(cnt) AS n_base
         |  FROM b0 GROUP BY label),
         |t AS (SELECT label, list_transform(embedding,
         |      x -> CAST(x AS DOUBLE) * 0.9 + 0.05) AS embedding
         |  FROM embeddings WHERE vec_id % 5 = 0),
         |t0 AS (SELECT label, s.i AS dim,
         |    round(CAST(sum(CAST(CAST(embedding[s.i] AS DOUBLE)
         |      AS DECIMAL(38,10))) AS DOUBLE) / count(*), 6) AS cv,
         |    count(embedding[s.i]) AS cnt
         |  FROM t
         |  CROSS JOIN (SELECT unnest(generate_series(1, $Dim)) AS i) s
         |  GROUP BY label, s.i),
         |batch AS (SELECT label, list(cv ORDER BY dim) AS carr,
         |    max(cnt) AS n_batch
         |  FROM t0 GROUP BY label)
         |SELECT coalesce(base.label, batch.label) AS label,
         |  coalesce(base.n_base, 0) AS n_base,
         |  coalesce(batch.n_batch, 0) AS n_batch,
         |  round((${sqlDot("base.carr", "batch.carr")})
         |    / nullif(${sqlNorm("base.carr")} * ${sqlNorm("batch.carr")},
         |      0), 6) AS centroid_cos,
         |  round(${sqlNorm("base.carr")}, 6) AS base_norm,
         |  round(${sqlNorm("batch.carr")}, 6) AS batch_norm
         |FROM base FULL OUTER JOIN batch ON base.label = batch.label
         |ORDER BY label""".stripMargin,
    "q135_ann_recall" ->
      s"""WITH p AS (SELECT vec_id AS q_id, embedding AS q_emb
         |  FROM embeddings ORDER BY vec_id LIMIT $RecallProbes),
         |np AS (SELECT unnest(generate_series(1, $RecallMaxProbe)) AS np),
         |ex AS (SELECT p.q_id, e.vec_id,
         |    round((${sqlDot("e.embedding", "p.q_emb")})
         |      / nullif(${sqlNorm("e.embedding")} * ${sqlNorm("p.q_emb")},
         |        0), 6) AS cos_sim
         |  FROM embeddings e CROSS JOIN p WHERE e.vec_id <> p.q_id),
         |ext AS (SELECT q_id, vec_id FROM (SELECT q_id, vec_id,
         |    row_number() OVER (PARTITION BY q_id
         |      ORDER BY cos_sim DESC, vec_id ASC) AS rk FROM ex
         |    WHERE cos_sim IS NOT NULL)
         |  WHERE rk <= $RecallK),
         |c0 AS (SELECT label, s.i AS dim,
         |    round(CAST(sum(CAST(CAST(embedding[s.i] AS DOUBLE)
         |      AS DECIMAL(38,10))) AS DOUBLE) / count(*), 6) AS cv
         |  FROM embeddings
         |  CROSS JOIN (SELECT unnest(generate_series(1, $Dim)) AS i) s
         |  GROUP BY label, s.i),
         |c AS (SELECT label, list(cv ORDER BY dim) AS carr FROM c0
         |  GROUP BY label),
         |cr AS (SELECT q_id, q_emb, label, row_number() OVER (
         |    PARTITION BY q_id ORDER BY c_cos DESC, label ASC) AS cent_rank
         |  FROM (SELECT p.q_id, p.q_emb, c.label,
         |      (${sqlDot("c.carr", "p.q_emb")})
         |        / nullif(${sqlNorm("c.carr")} * ${sqlNorm("p.q_emb")}, 0)
         |        AS c_cos
         |    FROM c CROSS JOIN p)),
         |pc AS (SELECT * FROM cr WHERE cent_rank <= $RecallMaxProbe),
         |cand AS (SELECT pc.q_id, pc.cent_rank, e.vec_id,
         |    round((${sqlDot("e.embedding", "pc.q_emb")})
         |      / nullif(${sqlNorm("e.embedding")} * ${sqlNorm("pc.q_emb")},
         |        0), 6) AS cos_sim
         |  FROM embeddings e JOIN pc ON e.label = pc.label
         |  WHERE e.vec_id <> pc.q_id),
         |cat AS (SELECT q_id, n_probe, vec_id FROM (
         |    SELECT q_id, np.np AS n_probe, vec_id, cos_sim,
         |      row_number() OVER (PARTITION BY q_id, np.np
         |        ORDER BY cos_sim DESC, vec_id ASC) AS rk
         |    FROM cand CROSS JOIN np
         |    WHERE np.np >= cand.cent_rank AND cos_sim IS NOT NULL)
         |  WHERE rk <= $RecallK),
         |h AS (SELECT q_id, n_probe, count(*) AS n_hits
         |  FROM cat JOIN ext USING (q_id, vec_id) GROUP BY 1, 2),
         |tot AS (SELECT count(*) - 1 AS n_others FROM embeddings),
         |sc AS (SELECT q_id, np.np AS n_probe,
         |    CAST(count(*) AS BIGINT) AS n_scanned
         |  FROM cand CROSS JOIN np WHERE np.np >= cand.cent_rank
         |  GROUP BY 1, 2),
         |g AS (SELECT p.q_id, np.np AS n_probe FROM p CROSS JOIN np)
         |SELECT CAST(g.n_probe AS INT) AS n_probe, count(*) AS n_queries,
         |  ${Tables.sqlDavg(s"coalesce(h.n_hits, 0) / $RecallK", 6)}
         |    AS mean_recall_at_k,
         |  ${Tables.sqlDavg(
              "coalesce(sc.n_scanned, 0) / nullif(tot.n_others, 0)", 6)}
         |    AS mean_frac_scanned
         |FROM g LEFT JOIN h USING (q_id, n_probe)
         |  LEFT JOIN sc USING (q_id, n_probe) CROSS JOIN tot
         |GROUP BY g.n_probe ORDER BY n_probe""".stripMargin,
    "q40_ann_topk" ->
      s"""SELECT e.vec_id, e.label,
         |  round((${sqlDot("e.embedding", "q.q_emb")})
         |    / nullif(${sqlNorm("e.embedding")} * ${sqlNorm("q.q_emb")}, 0), 6)
         |    AS cos_sim
         |FROM embeddings e CROSS JOIN
         |  (SELECT embedding AS q_emb FROM embeddings WHERE vec_id = 0) q
         |WHERE e.vec_id <> 0
         |ORDER BY cos_sim DESC, e.vec_id ASC LIMIT 10""".stripMargin,
    "q41_cosine_top_pairs" ->
      s"""WITH d AS (SELECT vec_id, label, embedding,
         |  ${sqlNorm("embedding")} AS nrm FROM embeddings)
         |SELECT a.label, a.vec_id AS a_id, b.vec_id AS b_id,
         |  round((${sqlDot("a.embedding", "b.embedding")}) / (a.nrm * b.nrm), 6)
         |    AS cos_sim
         |FROM d a JOIN d b ON a.label = b.label AND a.vec_id < b.vec_id
         |ORDER BY cos_sim DESC, a_id ASC, b_id ASC LIMIT 50""".stripMargin,
    "q44_nn_dedup" ->
      s"""WITH d AS (SELECT vec_id, label, embedding,
         |  ${sqlNorm("embedding")} AS nrm FROM embeddings),
         |p AS (SELECT a.vec_id AS vec_id, a.label, b.vec_id AS nn_id,
         |  (${sqlDot("a.embedding", "b.embedding")})
         |    / nullif(a.nrm * b.nrm, 0) AS cos
         |  FROM d a JOIN d b ON a.label = b.label AND a.vec_id <> b.vec_id),
         |r AS (SELECT *, row_number() OVER (PARTITION BY vec_id
         |  ORDER BY cos DESC, nn_id ASC) AS rn FROM p)
         |SELECT vec_id, label, nn_id, round(cos, 6) AS nn_cos
         |FROM r WHERE rn = 1 ORDER BY vec_id""".stripMargin,
    "q43_label_centroids" ->
      """SELECT label, s.i AS dim,
        |  round(CAST(sum(CAST(CAST(embedding[s.i] AS DOUBLE)
        |    AS DECIMAL(38,10))) AS DOUBLE) / count(*), 6) AS centroid,
        |  count(*) AS n
        |FROM embeddings
        |CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS i) s
        |GROUP BY label, s.i ORDER BY label, dim""".stripMargin,
    // Replays the nearest-centroid assignment: q43's rounded centroids →
    // per-label list → |x|² − 2·x·c + |c|² with every accumulation in
    // index order (c² as a left fold, matching the JVM's Array.sum) →
    // argmin with the low-label tie-break.
    "q95_cluster_purity" ->
      s"""WITH c AS (SELECT label AS c_label, s.i AS dim,
         |    round(CAST(sum(CAST(CAST(embedding[s.i] AS DOUBLE)
         |      AS DECIMAL(38,10))) AS DOUBLE) / count(*), 6) AS cv
         |  FROM embeddings
         |  CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS i) s
         |  GROUP BY c_label, s.i),
         |ca AS (SELECT c_label, list(cv ORDER BY dim) AS c_arr
         |  FROM c GROUP BY c_label),
         |cs AS (SELECT c_label, c_arr,
         |    list_reduce(list_transform(c_arr, v -> v * v),
         |      (a, b) -> a + b) AS c2
         |  FROM ca),
         |d AS (SELECT e.vec_id, e.label, cs.c_label,
         |    (${sqlDot("e.embedding", "e.embedding")})
         |      - 2 * (${sqlDot("e.embedding", "cs.c_arr")}) + cs.c2
         |      AS dist
         |  FROM embeddings e CROSS JOIN cs),
         |pick AS (SELECT vec_id, label, c_label,
         |    row_number() OVER (PARTITION BY vec_id
         |      ORDER BY dist, c_label) AS rn
         |  FROM d)
         |SELECT label, c_label AS assigned_label, count(*) AS n_vectors
         |FROM pick WHERE rn = 1
         |GROUP BY label, assigned_label
         |ORDER BY label, assigned_label""".stripMargin)
}
