package graft

import graft.ops.{DedupOps, SimilarityOps}
import org.apache.spark.graft.CheckpointDirs.withCheckpointDir
import org.apache.spark.sql.functions._

/** Planted-duplicate tests for the approximate dedup / similarity paths
  * (the exact paths are covered by the DuckDB oracle gate).
  */
class DedupSpec extends SparkSpec {

  /** Write a documents.parquet with planted near-duplicates into a temp dir
    * shaped like the driver's testdata, so the ops run unchanged on it.
    */
  private lazy val plantedDocsDir: String = {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog and runs far " +
      "away into the deep green forest near the old stone bridge today"
    val nearDup = base.replace("today", "tonight") // 1 token differs
    val other = "completely different words about spark catalyst optimizer " +
      "plans shuffles partitions and codegen stages in the query engine"
    val docs = Seq(
      (0L, base, "en", "src0", base.length.toLong),
      (1L, nearDup, "en", "src0", nearDup.length.toLong),
      (2L, other, "en", "src1", other.length.toLong),
      (3L, base, "en", "src2", base.length.toLong), // exact dup of 0
      (4L, "tiny doc here", "en", "src3", 13L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = tmpDir("planted-docs")
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  /** Independent exact ground truth: all pairs with distinct-token Jaccard
    * ≥ `t` within language, computed with plain Scala sets from the raw
    * parquet — shares nothing with the DedupOps implementations.
    */
  private def exactTokenPairs(dir: String, t: Double)
      : Map[(Long, Long), Double] = {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "lang", "text").collect()
      .map(r => (r.getLong(0), r.getString(1),
        r.getString(2).trim.split(" ").toSet))
    (for {
      (a, la, sa) <- docs
      (b, lb, sb) <- docs
      if a < b && la == lb
      inter = (sa & sb).size
      jac = inter.toDouble / (sa.size + sb.size - inter)
      if jac >= t
    } yield (a, b) -> math.rint(jac * 1e6) / 1e6).toMap
  }

  test("q37 equals an independently computed exact pair set at sf0.001") {
    val want = exactTokenPairs(sfDir, 0.9)
    val got = DedupOps.jaccardPairs(spark, sfDir).collect()
      .map(r => (r.getLong(1), r.getLong(2)) -> r.getDouble(3)).toMap
    assert(got.keySet === want.keySet)
    got.foreach { case (k, v) =>
      assert(math.abs(v - want(k)) < 1e-9, s"pair $k: $v vs ${want(k)}") }
  }

  test("the general-vocab prefix path matches the exact pair set") {
    import spark.implicits._
    // >64 distinct tokens forces jaccardPairsPrefix + the prefix branch of
    // dedupClusters — the production path for any realistic corpus
    val rnd = new scala.util.Random(13)
    val vocab = (0 until 120).map(i => s"w$i")
    def doc(): Seq[String] = rnd.shuffle(vocab).take(30)
    val d0 = doc()
    val d1 = d0.updated(0, "w999") // 29/31 shared tokens → J ≈ 0.935
    val rows = Seq((0L, d0), (1L, d1), (2L, d0.reverse)) ++ // 2 dups of 0
      (3L until 40L).map(i => (i, doc()))
    val dir = tmpDir("bigvocab-docs")
    rows.map { case (id, toks) =>
      (id, toks.mkString(" "), "en", "s", toks.mkString(" ").length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")

    val want = exactTokenPairs(dir, 0.9)
    assert(want.contains((0L, 1L)) && want.contains((0L, 2L)),
      "fixture must contain planted near-dups")
    val got = DedupOps.jaccardPairs(spark, dir).collect()
      .map(r => (r.getLong(1), r.getLong(2)) -> r.getDouble(3)).toMap
    assert(got.keySet === want.keySet)
    got.foreach { case (k, v) =>
      assert(math.abs(v - want(k)) < 1e-9, s"pair $k: $v vs ${want(k)}") }

    // clusters on the same fixture: 0,1,2 form one component rooted at 0
    val reps = DedupOps.dedupClusters(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(reps(0L) === 0L && reps(1L) === 0L && reps(2L) === 0L)
  }

  test("minhash LSH finds planted exact and near duplicates, skips distinct") {
    val pairs = DedupOps.minhashLshPairs(spark, plantedDocsDir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 3L)), "exact dup must be found")
    assert(pairs.contains((0L, 1L)), "near dup must be found")
    assert(pairs.contains((1L, 3L)), "near dup must be found")
    assert(!pairs.exists(p => p._1 == 2L || p._2 == 2L),
      "distinct doc must not pair")
  }

  test("simhash finds planted exact duplicates and emits only valid pairs") {
    // SimHash@64-bit with Hamming ≤ 3 targets exact/very-near duplicates:
    // over small distinct-token sets a single token swap legitimately flips
    // more than 3 bits (vote margins are O(√n_tokens)), so the 1-token
    // near-dup is MinHash's job (asserted above), not SimHash's.
    val out = DedupOps.simhashPairs(spark, plantedDocsDir).collect()
    val pairs = out.map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 3L)), "exact dup must be hamming 0")
    assert(out.forall(_.getAs[Int]("hamming") <= 3))
    assert(!pairs.exists(p => p._1 == 2L || p._2 == 2L),
      "distinct doc must not pair")
  }

  test("dedup clusters label every planted near-dup with the min doc_id") {
    val reps = DedupOps.dedupClusters(spark, plantedDocsDir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(reps === Map(0L -> 0L, 1L -> 0L, 3L -> 0L),
      s"docs 0/1/3 form one component rooted at 0, got $reps")
  }

  test("connected components handle long paths and disjoint components") {
    import spark.implicits._
    // a 200-node path (diameter 199) — naive label propagation needs ~200
    // rounds, pointer jumping ~8; the 40-round cap would throw if jumping
    // regressed — plus a disjoint 3-clique and an isolated node
    val n = 200L
    val pathEdges = (0L until n - 1).map(i => (i, i + 1))
    val cliqueEdges = Seq((500L, 501L), (501L, 502L), (500L, 502L))
    val nodes = ((0L until n) ++ Seq(500L, 501L, 502L, 900L)).toDF("id")
    val edges = (pathEdges ++ cliqueEdges).toDF("src", "dst")
    val reps = DedupOps.connectedComponents(nodes, edges).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((0L until n).forall(reps(_) == 0L), "path collapses to node 0")
    assert(Seq(500L, 501L, 502L).forall(reps(_) == 500L))
    assert(reps(900L) === 900L, "isolated node is its own component")
    assert(reps.size === n.toInt + 4)
  }

  test("dedup clusters with a reliable checkpoint dir match local mode") {
    val ckpt = tmpDir("cc-ckpt")
    val local = DedupOps.dedupClusters(spark, plantedDocsDir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // a context checkpoint dir makes every pin reliable; the dir is
    // restored afterwards, so no later suite inherits it
    val reliable = withCheckpointDir(ckpt) {
      DedupOps.dedupClusters(spark, plantedDocsDir)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    assert(reliable === local)
    // the reliable run must actually write checkpoint data to the dir
    def files(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(files) else Seq(f)
    assert(files(new java.io.File(ckpt)).nonEmpty,
      "reliable mode must persist checkpoint files")
  }

  test("minhash LSH output is a subset of exact shingle-jaccard >= 0.8") {
    // precision check against an INDEPENDENT shingle-Jaccard computation
    // (plain Scala sets from the raw parquet — not the column the op
    // filtered on itself)
    val shingleSets = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text").collect()
      .map { r =>
        val toks = r.getString(1).trim.split(" ")
        r.getLong(0) -> toks.sliding(3).filter(_.length == 3)
          .map(_.mkString(" ")).toSet
      }.toMap
    val lsh = DedupOps.minhashLshPairs(spark, sfDir).collect()
    assert(lsh.nonEmpty)
    lsh.foreach { r =>
      val (a, b, jac) = (r.getLong(0), r.getLong(1), r.getDouble(2))
      val (sa, sb) = (shingleSets(a), shingleSets(b))
      val inter = (sa & sb).size
      val exact = inter.toDouble / (sa.size + sb.size - inter)
      assert(exact >= 0.8, s"pair ($a,$b) has true jaccard $exact < 0.8")
      assert(math.abs(jac - math.rint(exact * 1e6) / 1e6) < 1e-9,
        s"pair ($a,$b): emitted $jac vs exact $exact")
    }
  }

  test("lsh ANN retrieves a planted near-duplicate vector") {
    import spark.implicits._
    val dim = SimilarityOps.Dim
    val rnd = new scala.util.Random(42)
    def vec(): Array[Float] = Array.fill(dim)(rnd.nextGaussian().toFloat)
    val q = vec()
    val near = q.map(x => x + 0.02f * rnd.nextGaussian().toFloat)
    val rows = (0L, q, 0) +: (1L, near, 0) +:
      (2L until 200L).map(i => (i, vec(), (i % 3).toInt))
    val dir = tmpDir("planted-emb")
    rows.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")

    val ann = SimilarityOps.annLsh(spark, dir).collect()
    assert(ann.nonEmpty && ann.head.getLong(0) === 1L,
      s"planted neighbor must rank first, got ${ann.map(_.getLong(0)).toSeq}")
    val brute = SimilarityOps.annTopK(spark, dir).collect()
    assert(brute.head.getLong(0) === 1L)
    assert(brute.head.getDouble(2) > 0.99)

    // IVF: the planted near-dup shares the query's label, so its cell is
    // the closest centroid to the query and must be probed.
    val ivf = SimilarityOps.annIvf(spark, dir).collect()
    assert(ivf.nonEmpty && ivf.head.getLong(0) === 1L,
      s"IVF must retrieve the planted neighbor, got ${ivf.map(_.getLong(0)).toSeq}")

    // q113 random projection: the near-1 cosine survives the 16-dim JL
    // projection, so the planted neighbor still ranks first there too
    val rp = SimilarityOps.annRp(spark, dir).collect()
    assert(rp.nonEmpty && rp.head.getLong(0) === 1L,
      s"RP must retrieve the planted neighbor, got ${rp.map(_.getLong(0)).toSeq}")
    assert(rp.head.getDouble(2) > 0.9,
      s"projected cosine of a near-dup must stay high, got ${rp.head.getDouble(2)}")

    // all-NN dedup table: the planted pair must be mutual nearest neighbors
    // with cosine > 0.99; every vector gets exactly one row.
    val nn = SimilarityOps.nnDedup(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(2), r.getDouble(3))).toMap
    assert(nn(0L)._1 === 1L && nn(1L)._1 === 0L)
    assert(nn(0L)._2 > 0.99)
    assert(nn.size === 200)
  }

  test("ANN On-variants honor caller query id and k") {
    import spark.implicits._
    val dim = SimilarityOps.Dim
    val rnd = new scala.util.Random(42)
    def vec(): Array[Float] = Array.fill(dim)(rnd.nextGaussian().toFloat)
    val q = vec()
    val near = q.map(x => x + 0.02f * rnd.nextGaussian().toFloat)
    val rows = (0L, q, 0) +: (1L, near, 0) +:
      (2L until 100L).map(i => (i, vec(), (i % 3).toInt))
    val embDf = rows.toDF("vec_id", "embedding", "label")

    // query from vector 1 instead of the pinned 0: its nearest must be 0
    val fromOne = SimilarityOps.annTopKOn(embDf, queryId = 1L, k = 5).collect()
    assert(fromOne.length === 5)
    assert(fromOne.head.getLong(0) === 0L,
      "vector 0 must be vector 1's nearest neighbor")
    assert(!fromOne.exists(_.getLong(0) == 1L), "query excluded from results")
    val ivf = SimilarityOps.annIvfOn(embDf, queryId = 1L, k = 3)
    assert(ivf.collect().head.getLong(0) === 0L)
  }

  test("PQ ANN: planted near-duplicate ranks first, codes map to labels") {
    import spark.implicits._
    val dim = SimilarityOps.Dim
    val rnd = new scala.util.Random(7)
    def vec(): Array[Float] = Array.fill(dim)(rnd.nextGaussian().toFloat)
    val q = vec()
    val near = q.map(x => x + 0.02f * rnd.nextGaussian().toFloat)
    val rows = (0L, q, 0) +: (1L, near, 0) +:
      (2L until 200L).map(i => (i, vec(), (i % 4).toInt))
    val embDf = rows.toDF("vec_id", "embedding", "label")

    val out = SimilarityOps.annPqOn(embDf).collect()
    assert(out.length === 10)
    // a 0.02-σ perturbed copy quantizes to (nearly) the query's own
    // codewords, so its ADC distance is the minimal lattice distance —
    // far below any random gaussian's
    assert(out.head.getLong(0) === 1L,
      s"planted neighbor must rank first, got ${out.map(_.getLong(0)).toSeq}")
    val dists = out.map(_.getAs[Double]("adc_dist")).toSeq
    assert(dists === dists.sorted, "ADC distances must be ascending")
    out.foreach { r =>
      val code = r.getAs[String]("pq_code").split(",")
      assert(code.length === SimilarityOps.PqSub)
      assert(code.forall(c => (0 to 3).contains(c.toInt)),
        s"every code must be a corpus label, got ${r.getAs[String]("pq_code")}")
    }

    // queryId/k are honored: from vector 1, vector 0 is the nearest
    val fromOne = SimilarityOps.annPqOn(embDf, queryId = 1L, k = 5).collect()
    assert(fromOne.length === 5)
    assert(fromOne.head.getLong(0) === 0L)
    assert(!fromOne.exists(_.getLong(0) == 1L), "query excluded from results")
  }

  test("contrastive triplets: planted near-dup becomes the positive, " +
      "negatives are valid draws, output is partition-order independent") {
    import spark.implicits._
    val dim = SimilarityOps.Dim
    val rnd = new scala.util.Random(31)
    def vec(): Array[Float] = Array.fill(dim)(rnd.nextGaussian().toFloat)
    val q = vec()
    val near = q.map(x => x + 0.02f * rnd.nextGaussian().toFloat)
    val rows = (0L, q, 0) +: (1L, near, 0) +:
      (2L until 80L).map(i => (i, vec(), (i % 2).toInt))
    val embDf = rows.toDF("vec_id", "embedding", "label")
    val out = SimilarityOps.contrastiveTripletsOn(embDf).collect()
    val byAnchor = out.map(r => r.getLong(0) ->
      (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    // the planted pair are each other's positives with near-1 cosine
    assert(byAnchor(0L)._1 === 1L && byAnchor(1L)._1 === 0L)
    assert(byAnchor(0L)._3 > 0.99)
    // negatives never collide with the anchor or its positive
    out.foreach { r =>
      assert(r.getLong(2) !== r.getLong(0), s"neg == anchor: $r")
      assert(r.getLong(2) !== r.getLong(1), s"neg == positive: $r")
    }
    // ≥ n − 2 anchors survive (degenerate draws drop, never re-draw)
    assert(out.length >= 78, s"only ${out.length} triplets")
    // rank arithmetic is partition-order independent
    val shuffled = SimilarityOps.contrastiveTripletsOn(embDf.repartition(7))
      .collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    assert(shuffled === out.map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet)
  }

  test("cluster cohesion: a planted tight cluster reads tight, a diffuse " +
      "one reads loose with weak members counted") {
    import spark.implicits._
    val dim = SimilarityOps.Dim
    val rnd = new scala.util.Random(23)
    val anchor = Array.fill(dim)(rnd.nextGaussian().toFloat)
    // label 0: tiny perturbations of one anchor (cosine to centroid ≈ 1);
    // label 1: independent gaussians (centroid ≈ 0, members scatter)
    val tight = (0L until 20L).map(i =>
      (i, anchor.map(x => x + 0.01f * rnd.nextGaussian().toFloat), 0))
    val loose = (20L until 60L).map(i =>
      (i, Array.fill(dim)(rnd.nextGaussian().toFloat), 1))
    val out = SimilarityOps.clusterCohesionOn(
      (tight ++ loose).toDF("vec_id", "embedding", "label"))
      .collect().map(r => r.getInt(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getLong(4))).toMap
    assert(out(0)._1 === 20L && out(1)._1 === 40L)
    assert(out(0)._2 > 0.95, s"tight cluster radius: ${out(0)}")
    assert(out(0)._4 === 0L, "no weak members in the tight cluster")
    assert(out(1)._3 < out(0)._3, "diffuse cluster must read looser")
    assert(out(1)._4 > 0L, s"diffuse cluster must count weak members: ${out(1)}")
  }

  test("pq distortion: identical-vector label reads zero, scattered label " +
      "reads positive, a mismatched codebook inflates the monitor") {
    import spark.implicits._
    val dim = SimilarityOps.Dim
    val rnd = new scala.util.Random(29)
    val anchor = Array.fill(dim)(rnd.nextGaussian().toFloat)
    // label 0: 10 identical copies (centroid == the vector → error 0);
    // label 1: independent gaussians (strictly positive distortion)
    val rows = (0L until 10L).map(i => (i, anchor.clone(), 0)) ++
      (10L until 40L).map(i =>
        (i, Array.fill(dim)(rnd.nextGaussian().toFloat), 1))
    val embDf = rows.toDF("vec_id", "embedding", "label")
    val out = SimilarityOps.pqDistortionOn(embDf).collect()
      .map(r => r.getInt(0) -> (r.getAs[Long]("n"),
        r.getAs[Double]("avg_sqerr"), r.getAs[Double]("max_sqerr"),
        r.getAs[Long]("n_unencodable"))).toMap
    assert(out(0)._1 === 10L && out(1)._1 === 30L)
    assert(out(0)._4 === 0L && out(1)._4 === 0L,
      s"clean corpus must report zero unencodable vectors: $out")
    assert(out(0)._2 === 0.0 && out(0)._3 === 0.0,
      s"identical vectors must quantize losslessly: ${out(0)}")
    assert(out(1)._2 > 0.0 && out(1)._3 >= out(1)._2,
      s"scattered label must carry distortion: ${out(1)}")
    // the retraining signal: auditing under someone ELSE's codebook
    // (every codeword shifted) must read strictly worse
    val shifted = SimilarityOps.kmeansCentroids(embDf, k = 2, iters = 1)
      .map(_.map(_ + 5.0))
    val drifted = SimilarityOps.pqDistortionWith(embDf, shifted).collect()
      .map(r => r.getInt(0) -> r.getAs[Double]("avg_sqerr")).toMap
    assert(drifted(0) > out(0)._2 && drifted(1) > out(1)._2,
      s"a mismatched codebook must inflate distortion: $drifted vs $out")
    // corrupt-input discipline: an unencodable (ragged) vector surfaces
    // in n_unencodable and must NOT dilute the encodable average — and a
    // label that is ALL unencodable reads NULL distortion, not a
    // divide-by-zero scan kill
    val trained = SimilarityOps.kmeansCentroids(embDf, k = 2, iters = 1)
    val corrupt = embDf.unionByName(Seq(
        (100L, Array.fill(3)(1.0f), 0),
        (101L, Array.fill(3)(2.0f), 9)).toDF("vec_id", "embedding", "label"))
    val audited = SimilarityOps.pqDistortionWith(corrupt, trained).collect()
      .map(r => r.getInt(0) -> r).toMap
    assert(audited(0).getAs[Long]("n") === 11L &&
      audited(0).getAs[Long]("n_unencodable") === 1L,
      s"n stays total rows; ragged vector counts as unencodable and " +
        s"must not dilute: ${audited(0)}")
    assert(audited(0).getAs[Double]("avg_sqerr") ===
      SimilarityOps.pqDistortionWith(embDf, trained).collect()
        .find(_.getInt(0) == 0).get.getAs[Double]("avg_sqerr"),
      "encodable average must be unchanged by corrupt rows")
    assert(audited(9).getAs[Long]("n") === 1L &&
      audited(9).getAs[Long]("n_unencodable") === 1L &&
      audited(9).isNullAt(audited(9).fieldIndex("avg_sqerr")),
      s"all-unencodable label must read NULL, not crash: ${audited(9)}")
  }

  test("PQ ANN: a trained k-means codebook drops in and still retrieves " +
      "the planted neighbor") {
    import spark.implicits._
    val dim = SimilarityOps.Dim
    val rnd = new scala.util.Random(7)
    def vec(): Array[Float] = Array.fill(dim)(rnd.nextGaussian().toFloat)
    val q = vec()
    val near = q.map(x => x + 0.02f * rnd.nextGaussian().toFloat)
    val rows = (0L, q, 0) +: (1L, near, 0) +:
      (2L until 200L).map(i => (i, vec(), (i % 4).toInt))
    val embDf = rows.toDF("vec_id", "embedding", "label")
    val trained = SimilarityOps.kmeansCentroids(embDf, k = 6, iters = 3)
    val out = SimilarityOps.annPqWith(embDf, trained).collect()
    assert(out.length === 10)
    assert(out.head.getLong(0) === 1L,
      s"planted neighbor must rank first, got ${out.map(_.getLong(0)).toSeq}")
    out.foreach { r =>
      val code = r.getAs[String]("pq_code").split(",").map(_.toInt)
      assert(code.forall(c => c >= 0 && c < 6),
        "trained-codebook codes are codeword indices")
    }
  }

  test("PQ store round-trip: search from the persisted codes is " +
      "bit-identical to the in-plan form, appends extend the index") {
    import spark.implicits._
    val dim = SimilarityOps.Dim
    val rnd = new scala.util.Random(19)
    def vec(): Array[Float] = Array.fill(dim)(rnd.nextGaussian().toFloat)
    val all = (0L until 120L).map(i => (i, vec(), (i % 3).toInt))
    val embDf = all.toDF("vec_id", "embedding", "label")
    val cbook = SimilarityOps.kmeansCentroids(embDf, k = 4, iters = 2)
    val store = tmpDir("pq-store") + "/codes"

    // seed with the first 80 vectors, append the remaining 40
    SimilarityOps.writePqStore(
      all.take(80).toDF("vec_id", "embedding", "label"), cbook, store)
    SimilarityOps.appendToPqStore(
      all.drop(80).toDF("vec_id", "embedding", "label"), cbook, store)
    assert(spark.read.parquet(store).count() === 120)

    val q = all.head._2
    val fromStore = SimilarityOps.annPqFromStore(spark, store, cbook, q,
      excludeId = 0L).collect()
    val inline = SimilarityOps.annPqWith(embDf, cbook).collect()
    assert(fromStore.map(r => (r.getLong(0), r.getString(2), r.getDouble(3)))
      .toSeq ===
      inline.map(r => (r.getLong(0), r.getString(2), r.getDouble(3))).toSeq,
      "store search must replay the in-plan ADC bit-for-bit")

    // a replayed append leaves duplicate vec_ids; compaction re-contracts
    // to one row per vec_id via staging+swap — never a direct overwrite
    // of the live dir — and search answers are unchanged
    SimilarityOps.appendToPqStore(
      all.drop(80).toDF("vec_id", "embedding", "label"), cbook, store)
    assert(spark.read.parquet(store).count() === 160)
    SimilarityOps.compactPqStore(spark, store)
    assert(spark.read.parquet(store).count() === 120)
    val afterCompact = SimilarityOps.annPqFromStore(spark, store, cbook, q,
      excludeId = 0L).collect()
    assert(afterCompact.map(r => (r.getLong(0), r.getString(2),
      r.getDouble(3))).toSeq ===
      fromStore.map(r => (r.getLong(0), r.getString(2), r.getDouble(3)))
        .toSeq, "compaction must not change ADC answers")
    assert(!new java.io.File(store + ".merging").exists)
    assert(!new java.io.File(store + ".old").exists)
  }

  test("IVF-PQ: the composed index retrieves the planted neighbor from " +
      "residual codes, candidates come only from the probed ring, codes " +
      "index the residual codebook, and empty artifacts fail loud") {
    import spark.implicits._
    val dim = SimilarityOps.Dim
    val rnd = new scala.util.Random(41)
    def vec(): Array[Float] = Array.fill(dim)(rnd.nextGaussian().toFloat)
    val q = vec()
    val near = q.map(x => x + 0.02f * rnd.nextGaussian().toFloat)
    val rows = (0L, q, 0) +: (1L, near, 0) +:
      (2L until 200L).map(i => (i, vec(), (i % 4).toInt))
    val embDf = rows.toDF("vec_id", "embedding", "label")
      .select(col("vec_id"), col("label"),
        col("embedding").cast("array<double>").as("embedding"))
    val cells = SimilarityOps.kmeansCentroids(embDf, k = 6, iters = 3)
    val rcb = SimilarityOps.pqResidualCodebook(embDf, cells, k = 6,
      iters = 3)
    val out = SimilarityOps.annIvfPqWith(embDf, cells, rcb).collect()
    assert(out.length === 10)
    assert(out.head.getLong(0) === 1L,
      s"planted neighbor must rank first through residual ADC, got " +
        s"${out.map(_.getLong(0)).toSeq}")
    // every candidate's cell sits in the query's nProbe ring — recompute
    // the ring with the library's own assignment arithmetic
    val qCell = SimilarityOps.assignClusters(
      embDf.filter(col("vec_id") === 0L), cells)
      .select("cluster").head().getInt(0)
    val candCells = out.map(_.getInt(2)).toSet
    assert(candCells.size <= SimilarityOps.IvfPqNProbe &&
      candCells.contains(qCell),
      s"candidates must come from ≤ nProbe cells incl. the query's own: " +
        s"$candCells (query cell $qCell)")
    out.foreach { r =>
      val codes = r.getString(3).split(",").map(_.toInt)
      assert(codes.length === SimilarityOps.PqSub &&
        codes.forall(c => c >= 0 && c < 6),
        s"codes are residual-codebook indices: ${r.getString(3)}")
      assert(!r.isNullAt(4), "every valid candidate scores a finite ADC")
    }
    intercept[IllegalArgumentException] {
      SimilarityOps.annIvfPqWith(embDf, Array.empty, rcb)
    }
    intercept[IllegalArgumentException] {
      SimilarityOps.annIvfPqWith(embDf, cells, Array.empty)
    }
  }

  test("IVF-PQ store: inverted-list search from persisted codes is " +
      "bit-identical to the in-plan form across append+replay+compact, " +
      "the probed scan prunes to cell partitions, and a drift in either " +
      "artifact fails loud by name") {
    import spark.implicits._
    val dim = SimilarityOps.Dim
    val rnd = new scala.util.Random(47)
    def vec(): Array[Float] = Array.fill(dim)(rnd.nextGaussian().toFloat)
    val all = (0L until 120L).map(i => (i, vec(), (i % 3).toInt))
    def frame(rows: Seq[(Long, Array[Float], Int)]) =
      rows.toDF("vec_id", "embedding", "label")
        .select(col("vec_id"), col("label"),
          col("embedding").cast("array<double>").as("embedding"))
    val embDf = frame(all)
    val cells = SimilarityOps.kmeansCentroids(embDf, k = 4, iters = 2)
    val rcb = SimilarityOps.pqResidualCodebook(embDf, cells, k = 4,
      iters = 2)
    val store = tmpDir("ivfpq-store") + "/index"
    SimilarityOps.writeIvfPqStore(frame(all.take(80)), cells, rcb, store)
    SimilarityOps.appendToIvfPqStore(frame(all.drop(80)), cells, rcb,
      store)
    assert(spark.read.parquet(store).count() === 120)

    val q = all.head._2
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getInt(2), r.getString(3), r.getDouble(4))
    val fromStore = SimilarityOps.annIvfPqFromStore(spark, store, cells,
      rcb, q, excludeId = 0L)
    assert(fromStore.collect().map(key).toSeq ===
      SimilarityOps.annIvfPqWith(embDf, cells, rcb).collect()
        .map(key).toSeq,
      "store search must replay the in-plan residual ADC bit-for-bit")
    // the layout IS the index: cell directories on disk, and the probed
    // scan prunes to them at the source (no unprobed cell is read)
    assert(new java.io.File(store).listFiles()
      .exists(_.getName.startsWith("cell=")), "inverted-list layout")
    assert(fromStore.queryExecution.executedPlan.toString
      .contains("PartitionFilters: ["),
      "the probe must reach the scan as a partition filter")

    // replayed append duplicates; compaction re-contracts, preserves
    // the partitioning AND the fingerprint sidecar
    SimilarityOps.appendToIvfPqStore(frame(all.drop(80)), cells, rcb,
      store)
    assert(spark.read.parquet(store).count() === 160)
    SimilarityOps.compactIvfPqStore(spark, store)
    assert(spark.read.parquet(store).count() === 120)
    assert(new java.io.File(store).listFiles()
      .exists(_.getName.startsWith("cell=")),
      "compaction must keep the inverted-list layout")
    assert(SimilarityOps.annIvfPqFromStore(spark, store, cells, rcb, q,
      excludeId = 0L).collect().map(key).toSeq ===
      SimilarityOps.annIvfPqWith(embDf, cells, rcb).collect()
        .map(key).toSeq, "compaction must not change answers")

    // drift in EITHER artifact is named: coarse vs residual
    val cells2 = cells.map(_.map(_ * 1.5))
    val rcb2 = rcb.map(_.map(_ * 1.5))
    val eCoarse = intercept[IllegalArgumentException] {
      SimilarityOps.annIvfPqFromStore(spark, store, cells2, rcb, q)
    }
    assert(eCoarse.getMessage.contains("DIFFERENT coarse codebook"),
      eCoarse.getMessage)
    val eResid = intercept[IllegalArgumentException] {
      SimilarityOps.appendToIvfPqStore(frame(all.take(1)), cells, rcb2,
        store)
    }
    assert(eResid.getMessage.contains("DIFFERENT residual codebook"),
      eResid.getMessage)
  }

  test("IVF-PQ recall curve: four arms over the same ring as the exact " +
      "re-rank curve — identical scan fractions, recalls in range, and " +
      "the ADC arms never fabricate hits for unprobed candidates") {
    import spark.implicits._
    val dim = SimilarityOps.Dim
    val rnd = new scala.util.Random(53)
    def vec(): Array[Float] = Array.fill(dim)(rnd.nextGaussian().toFloat)
    val embDf = (0L until 200L).map(i => (i, vec(), (i % 4).toInt))
      .toDF("vec_id", "embedding", "label")
      .select(col("vec_id"), col("label"),
        col("embedding").cast("array<double>").as("embedding"))
    val cells = SimilarityOps.kmeansCentroids(embDf, k = 4, iters = 2)
    val rcb = SimilarityOps.pqResidualCodebook(embDf, cells, k = 4,
      iters = 2)
    val adcCurve = SimilarityOps.annIvfPqRecallWith(embDf, cells, rcb)
      .collect()
    val exactCurve = SimilarityOps.annIvfRecallWithCells(embDf, cells)
      .collect()
    assert(adcCurve.length === 4 && exactCurve.length === 4)
    adcCurve.zip(exactCurve).foreach { case (a, x) =>
      assert(a.getInt(0) === x.getInt(0) && a.getLong(1) === 8L)
      val r = a.getDouble(2)
      assert(r >= 0.0 && r <= 1.0, s"recall in range: $a")
      // the ring (hence the scan census) is shared with the exact
      // curve — ADC only changes the RANKING inside it
      assert(a.getDouble(3) === x.getDouble(3),
        s"same ring, same scan fraction: $a vs $x")
      // ADC ranks within the same candidate set, so it can never beat
      // the exact re-rank on the same ring
      assert(r <= x.getDouble(2) + 1e-9,
        s"ADC recall bounded by exact re-rank on the same ring: $a vs $x")
    }
    val fracs = adcCurve.map(_.getDouble(3))
    assert(fracs.zip(fracs.tail).forall { case (a, b) => a <= b },
      "scan fraction grows with the ring")
  }

  test("IVF-PQ refined search: exact re-rank of the ADC shortlist finds " +
      "the planted neighbor, never recalls worse than pure ADC, carries " +
      "the stage-1 ADC distance as cargo, and rejects a shortlist " +
      "narrower than k") {
    import spark.implicits._
    val dim = SimilarityOps.Dim
    val rnd = new scala.util.Random(59)
    def vec(): Array[Float] = Array.fill(dim)(rnd.nextGaussian().toFloat)
    val q = vec()
    val near = q.map(x => x + 0.02f * rnd.nextGaussian().toFloat)
    val rows = (0L, q, 0) +: (1L, near, 0) +:
      (2L until 200L).map(i => (i, vec(), (i % 4).toInt))
    val embDf = rows.toDF("vec_id", "embedding", "label")
      .select(col("vec_id"), col("label"),
        col("embedding").cast("array<double>").as("embedding"))
    val cells = SimilarityOps.kmeansCentroids(embDf, k = 4, iters = 2)
    val rcb = SimilarityOps.pqResidualCodebook(embDf, cells, k = 4,
      iters = 2)
    val refined = SimilarityOps.annIvfPqRefinedWith(embDf, cells, rcb)
      .collect()
    assert(refined.length === 10)
    assert(refined.head.getLong(0) === 1L,
      s"exact re-rank must surface the planted neighbor first: " +
        s"${refined.map(_.getLong(0)).toSeq}")
    // cosine ordering is descending and carried per row
    val sims = refined.map(_.getDouble(4))
    assert(sims.zip(sims.tail).forall { case (a, b) => a >= b })
    // the stage-1 ADC distance rides along as cargo: each refined row's
    // adc_dist equals the pure-ADC search's value for that id
    val adcById = SimilarityOps.annIvfPqWith(embDf, cells, rcb,
        k = SimilarityOps.IvfPqRefine).collect()
      .map(r => r.getLong(0) -> r.getDouble(4)).toMap
    refined.foreach(r => assert(adcById(r.getLong(0)) === r.getDouble(3),
      s"cargo ADC must match stage 1 for ${r.getLong(0)}"))
    // refined ⊇ shortlist ∩ true-top-k, and ADC's top-10 ⊆ shortlist —
    // so refined recall can never be worse than pure ADC's
    val exactTop = SimilarityOps.annTopKOn(embDf).collect()
      .map(_.getLong(0)).toSet
    val adcTop = SimilarityOps.annIvfPqWith(embDf, cells, rcb).collect()
      .map(_.getLong(0)).toSet
    assert((refined.map(_.getLong(0)).toSet & exactTop).size >=
      (adcTop & exactTop).size,
      "refine must not lose recall vs pure ADC")
    intercept[IllegalArgumentException] {
      SimilarityOps.annIvfPqRefinedWith(embDf, cells, rcb, k = 10,
        shortlist = 5)
    }
  }

  test("PQ store generation guard: a drifted codebook fails append and " +
      "search loud, the stamp survives compaction, pre-stamp stores " +
      "are accepted") {
    import spark.implicits._
    val dim = SimilarityOps.Dim
    val rnd = new scala.util.Random(23)
    def vec(): Array[Float] = Array.fill(dim)(rnd.nextGaussian().toFloat)
    val all = (0L until 60L).map(i => (i, vec(), (i % 3).toInt))
    val embDf = all.toDF("vec_id", "embedding", "label")
    val cbook = SimilarityOps.kmeansCentroids(embDf, k = 4, iters = 2)
    // same k, same dim, different values — the width checks see nothing
    val retrained = SimilarityOps.kmeansCentroids(embDf, k = 4, iters = 1)
    assert(SimilarityOps.codebookFingerprint(cbook) !==
      SimilarityOps.codebookFingerprint(retrained),
      "fixture must produce two distinct codebook generations")
    val store = tmpDir("pq-gen-guard") + "/codes"
    SimilarityOps.writePqStore(embDf, cbook, store)
    val q = all.head._2

    val eAppend = intercept[IllegalArgumentException] {
      SimilarityOps.appendToPqStore(embDf.limit(1), retrained, store)
    }
    assert(eAppend.getMessage.contains("DIFFERENT codebook generation"),
      eAppend.getMessage)
    val eSearch = intercept[IllegalArgumentException] {
      SimilarityOps.annPqFromStore(spark, store, retrained, q)
    }
    assert(eSearch.getMessage.contains("DIFFERENT codebook generation"),
      eSearch.getMessage)

    // the stamp rides compaction's staging+swap like the shingle-k meta
    SimilarityOps.appendToPqStore(embDf, cbook, store) // dup rows to eat
    SimilarityOps.compactPqStore(spark, store)
    assert(SimilarityOps.annPqFromStore(spark, store, cbook, q,
      excludeId = 0L).count() === 10L,
      "the matching codebook must still search after compaction")
    intercept[IllegalArgumentException] {
      SimilarityOps.annPqFromStore(spark, store, retrained, q)
    }

    // a pre-fingerprint store (no sidecar) skips the check instead of
    // bricking: delete the meta and the drifted search is merely
    // unguarded, as before r15
    val fs = new org.apache.hadoop.fs.Path(s"$store/_graft_meta")
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$store/_graft_meta"), true)
    assert(SimilarityOps.annPqFromStore(spark, store, retrained, q)
      .count() === 10L, "absent meta must skip the generation check")
  }

  test("PQ ANN: codes carry actual label values on non-contiguous labels") {
    import spark.implicits._
    val dim = SimilarityOps.Dim
    val rnd = new scala.util.Random(11)
    val rows = (0L until 40L).map(i =>
      (i, Array.fill(dim)(rnd.nextGaussian().toFloat),
        if (i % 2 == 0) 2 else 5))
    val out = SimilarityOps.annPqOn(rows.toDF("vec_id", "embedding", "label"))
      .collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val code = r.getAs[String]("pq_code").split(",").map(_.toInt)
      assert(code.forall(c => c == 2 || c == 5),
        s"codeword ids must be the label values {2,5}, got ${code.toSeq}")
    }
  }

  test("DataFrame-API entry points self-register kernels on a fresh session") {
    import org.apache.spark.sql.functions.col
    // a brand-new session has NO graft functions registered — every
    // On-variant that builds kernel calls must register on entry, not rely
    // on the catalog path having run first
    val fresh = spark.newSession()
    val docs = fresh.read.parquet(s"$sfDir/documents.parquet")
    val embs = fresh.read.parquet(s"$sfDir/embeddings.parquet")
    assert(ops.DedupOps.minhashLshPairsOn(docs).count() > 0)
    assert(ops.DedupOps.simhashPairsOn(docs).count() > 0)
    assert(ops.TextOps.docFingerprintOn(docs).count() > 0)
    assert(SimilarityOps.cosineTopPairsOn(embs, 5,
      SimilarityOps.lshBlock(col("embedding"))).count() > 0)
    assert(SimilarityOps.annTopKOn(embs).count() > 0)
  }

  test("cosine top pairs block by LSH bucket when no label exists") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val dim = SimilarityOps.Dim
    val rnd = new scala.util.Random(7)
    def vec(): Array[Float] = Array.fill(dim)(rnd.nextGaussian().toFloat)
    val base = vec()
    val nearDup = base.map(x => x + 0.01f * rnd.nextGaussian().toFloat)
    // labels are all 0 — blocking must come from the LSH signature instead
    val rows = (0L, base, 0) +: (1L, nearDup, 0) +:
      (2L until 150L).map(i => (i, vec(), 0))
    val embDf = rows.toDF("vec_id", "embedding", "label")
    val top = SimilarityOps.cosineTopPairsOn(embDf, k = 5,
      blockCol = SimilarityOps.lshBlock(col("embedding"))).collect()
    // the planted near-dup pair shares its bucket and must rank first
    assert(top.head.getLong(1) === 0L && top.head.getLong(2) === 1L,
      s"planted pair must top the list, got ${top.map(r =>
        (r.getLong(1), r.getLong(2))).toSeq}")
    assert(top.head.getDouble(3) > 0.99)
  }

  test("IVF probes only the nearest cells — a decoy in a far cell is unseen") {
    import spark.implicits._
    val dim = SimilarityOps.Dim
    def unit(axis: Int, scale: Float = 1f): Array[Float] = {
      val v = new Array[Float](dim); v(axis) = scale; v
    }
    def mix(pairs: (Int, Float)*): Array[Float] = {
      val v = new Array[Float](dim)
      pairs.foreach { case (i, x) => v(i) = x }; v
    }
    // 8 cells; query q = e0 in cell 0. The decoy is IDENTICAL to q (cos=1,
    // better than the planted neighbor) but sits in cell 7, whose other
    // members point away from q — so cell 7's centroid is anti-correlated
    // with q and a correct 3-probe search never sees the decoy. If probe
    // selection were inverted (or pruning ignored), the decoy would rank
    // first and the assertions below fail.
    val rows =
      Seq((0L, unit(0), 0), (1L, mix(0 -> 1f, 1 -> 0.05f), 0),
        (2L, unit(0), 7)) ++ // the decoy
      (10L until 20L).map(i => (i, mix(0 -> 0.5f, 3 -> 0.8f), 0)) ++
      (for { c <- 1 to 6; i <- 0 until 10 }
        yield ((100 * c + i).toLong, mix(c -> 1f, 8 -> (0.01f * i)), c)) ++
      (900L until 920L).map(i => (i, mix(7 -> 1f, 0 -> -0.4f), 7))
    val dir2 = tmpDir("ivf-cells")
    rows.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir2/embeddings.parquet")

    val ivf = SimilarityOps.annIvf(spark, dir2).collect()
    val ids = ivf.map(_.getLong(0)).toSeq
    assert(!ids.contains(2L), s"decoy in an unprobed cell must be unseen: $ids")
    assert(ids.head === 1L, s"planted neighbor must rank first, got $ids")
  }

  // ---- round-4: density dispatch + bounded-width listing ------------------

  /** Dup-dense fixture: one 22-token base text duplicated 30×, a 1-token
    * near-dup duplicated 5×, three distinct docs, and a short doc (< 3
    * tokens, invisible to the minhash listing) duplicated 2×. Exact-dup
    * pair floor = C(30,2) + C(5,2) + C(2,2·) = 446.
    */
  private lazy val denseDocs = {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog and runs far " +
      "away into the deep green forest near the old stone bridge today"
    val near = base.replace("today", "tonight")
    val rows =
      (0L until 30L).map(i => (i, base, "en", "s0")) ++
        (30L until 35L).map(i => (i, near, "en", "s0")) ++
        Seq((40L, "completely different words about spark catalyst " +
          "optimizer plans shuffles partitions and codegen stages here",
          "en", "s1"),
          (41L, "another unrelated document troubleshooting watermark " +
            "state timeouts and session windows in streaming jobs", "en", "s1"),
          (42L, "third distinct text covering parquet footers row groups " +
            "statistics and predicate pushdown behavior", "en", "s1")) ++
        Seq((50L, "tiny doc", "en", "s2"), (51L, "tiny doc", "en", "s2"))
    rows.toDF("doc_id", "text", "lang", "source")
  }

  /** Union-find ground truth: components over (near-dup pairs ∪ exact-dup
    * groups), every doc labeled with its component minimum.
    */
  private def expectedClusters(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    val ids = denseDocs.collect().map(r => r.getLong(0)).sorted
    val byText = denseDocs.collect()
      .groupBy(_.getString(1)).values
      .flatMap { g =>
        val m = g.map(_.getLong(0)).min
        g.map(r => (r.getLong(0), m))
      }
    val parent = scala.collection.mutable.Map(ids.map(i => i -> i): _*)
    def find(x: Long): Long =
      if (parent(x) == x) x else { val r = find(parent(x)); parent(x) = r; r }
    def union(a: Long, b: Long): Unit = {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { val m = math.min(ra, rb); parent(ra) = m; parent(rb) = m }
    }
    (pairs ++ byText).foreach { case (a, b) => union(a, b) }
    ids.map(i => i -> find(i)).toMap
  }

  test("q37/q38/q39 density gate: dense corpora fail fast with the floor " +
      "named, fullPairs escapes, and dedupDecision matches union-find") {
    // gate straddling: the same corpus lists below the threshold …
    val listed = DedupOps.jaccardPairsOn(denseDocs, maxListedPairs = 1000)
    assert(listed.columns.contains("jaccard"), "below threshold => listing")
    // … and FAILS FAST above it (446 exact-dup floor > 100) — schema-
    // stable contract: the listing never silently changes shape
    val ex = intercept[IllegalArgumentException] {
      DedupOps.jaccardPairsOn(denseDocs, maxListedPairs = 100)
    }
    assert(ex.getMessage.contains("446"), "error must name the floor")
    assert(ex.getMessage.contains("fullPairs") &&
      ex.getMessage.contains("dedupDecision"), "error must name the escapes")
    for (name <- Seq("minhashLshPairsOn", "simhashPairsOn")) {
      val e = intercept[IllegalArgumentException] {
        if (name.startsWith("minhash"))
          DedupOps.minhashLshPairsOn(denseDocs, maxListedPairs = 100)
        else DedupOps.simhashPairsOn(denseDocs, maxListedPairs = 100)
      }
      assert(e.getMessage.contains(name), name)
    }
    // fullPairs overrides the gate entirely
    val forced = DedupOps.jaccardPairsOn(denseDocs, fullPairs = true,
      maxListedPairs = 100)
    assert(forced.columns.contains("jaccard"))
    // caller-provided stats decide without probing, same decision
    val st = Some(ops.CorpusStats.compute(denseDocs))
    intercept[IllegalArgumentException] {
      DedupOps.jaccardPairsOn(denseDocs, maxListedPairs = 100, stats = st)
    }
    assert(DedupOps.jaccardPairsOn(denseDocs, maxListedPairs = 1000,
      stats = st).columns.contains("jaccard"))

    // dedupDecision arms agree with union-find over each family's forced
    // full listing plus exact-dup groups, every doc labeled (singletons
    // label themselves) — the schema-stable (doc_id, rep) contract
    val pairs37 = forced.collect().map(r => (r.getLong(1), r.getLong(2))).toSeq
    for ((name, pairs) <- Seq(
      ("jaccard", pairs37),
      ("minhash", DedupOps.minhashLshPairsOn(denseDocs, fullPairs = true)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq),
      ("simhash", DedupOps.simhashPairsOn(denseDocs, fullPairs = true)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq))) {
      assert(pairs.nonEmpty, s"$name listing must find the planted dups")
      val decision = DedupOps.dedupDecision(denseDocs, method = name)
      assert(decision.columns.toSeq === Seq("doc_id", "rep"), name)
      val got = decision.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(got === expectedClusters(pairs), name)
    }
    intercept[IllegalArgumentException] {
      DedupOps.dedupDecision(denseDocs, method = "nope")
    }
  }

  test("dedupDecision(jaccard): identical NULL-lang texts stay separate " +
      "components (no miner ever pairs a null lang)") {
    import spark.implicits._
    // the per-language miners join on lang === b_lang (null-falsy) and
    // the q46/q101 oracle on a.lang = b.lang — so the exact-dup
    // contraction must NOT force-merge what no arm links
    val docs = Seq(
      (0L, "hello world common text", null: String),
      (1L, "hello world common text", null: String),
      (2L, "hello world common text", "en"),
      (3L, "hello world common text", "en")
    ).toDF("doc_id", "text", "lang")
    val reps = DedupOps.dedupDecision(docs, method = "jaccard")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(reps(0L) === 0L && reps(1L) === 1L,
      s"null-lang identical texts must each rep themselves: $reps")
    assert(reps(2L) === 2L && reps(3L) === 2L,
      s"same-lang identical texts still merge: $reps")
  }

  test("dedupDecision(winnow): matches union-find over the q121 miner on " +
      "the contracted reps, planted overlap links, exact-dup cliques " +
      "label through the contraction") {
    import spark.implicits._
    // the decision arm contracts exact dups BEFORE mining, so the df
    // prune sees each distinct text once — compute the ground truth the
    // same way: q121 listing over one rep per distinct text, un-cut,
    // then union-find with the exact-text groups
    val repsDf = denseDocs.collect().groupBy(_.getString(1)).values
      .map(g => g.minBy(_.getLong(0)))
      .map(r => (r.getLong(0), r.getString(1))).toSeq
      .toDF("doc_id", "text")
    val pairs = graft.ops.TextOps.winnowMatchesOn(repsDf, topK = 1000000)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(pairs.nonEmpty,
      "the 21-token shared run between base and near must surface edges")
    val decision = DedupOps.dedupDecision(denseDocs, method = "winnow")
    assert(decision.columns.toSeq === Seq("doc_id", "rep"))
    val got = decision.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got === expectedClusters(pairs))
    // the planted near-dup (one token edited at the end) must have linked
    // to the base clique through the winnow fingerprints
    assert(got(30L) === 0L,
      "near-dup rep must fold into the base cluster via shared fingerprints")
    // and the 30-copy exact clique never reached the pair join: every
    // copy labels through the contraction to the same rep
    assert((0L until 30L).forall(got(_) === 0L))
  }

  test("q37 listing plans without collect_list and survives a hot mask group") {
    import spark.implicits._
    // one text duplicated 400× — the round-3 plan would build a single
    // 400-element array row per mask group; the join-based expansion keeps
    // row width constant and still emits every pair
    val hot = (0L until 400L).map(i => (i, "same exact text every time", "en"))
      .toDF("doc_id", "text", "lang")
    val listing = DedupOps.jaccardPairsOn(hot, fullPairs = true)
    val plan = listing.queryExecution.optimizedPlan.toString
    assert(!plan.toLowerCase.contains("collect_list"),
      "membership must never materialize as an in-row array")
    assert(listing.count() === 400L * 399L / 2)
    // the cluster path over the same corpus: one component rooted at 0
    val reps = DedupOps.dedupClustersOn(hot).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(reps.length === 400 && reps.forall(_._2 == 0L))
  }

  test("minhash/simhash pairs support reliable checkpoint mode") {
    val ckpt = tmpDir("pairs-ckpt")
    val docs = spark.read.parquet(s"$plantedDocsDir/documents.parquet")
    val mhLocal = DedupOps.minhashLshPairsOn(docs)
      .collect().map(_.toSeq).toSet
    val shLocal = DedupOps.simhashPairsOn(docs).collect().map(_.toSeq).toSet
    val (mhRel, shRel) = withCheckpointDir(ckpt) {
      (DedupOps.minhashLshPairsOn(docs).collect().map(_.toSeq).toSet,
        DedupOps.simhashPairsOn(docs).collect().map(_.toSeq).toSet)
    }
    assert(spark.sparkContext.getCheckpointDir.isEmpty,
      "the test must leave the shared context without a checkpoint dir")
    assert(mhRel === mhLocal)
    assert(shRel === shLocal)
    def files(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(files) else Seq(f)
    assert(files(new java.io.File(ckpt)).nonEmpty,
      "reliable mode must persist checkpoint files")
  }

  test("general-vocab clusters contract exact duplicates on a dup-dense " +
      "corpus and still match the pair-graph ground truth") {
    import spark.implicits._
    // > 64 distinct tokens forces the PREFIX branch; heavy duplication
    // trips the dup-fraction probe, so mining runs over distinct texts
    val rnd = new scala.util.Random(21)
    val vocab = (0 until 120).map(i => s"w$i")
    def doc(): Seq[String] = rnd.shuffle(vocab).take(30)
    val d0 = doc()
    val d1 = d0.updated(0, "w999") // near-dup of d0 (J ≈ 0.935)
    val dX = doc() // unrelated, also duplicated
    val rows =
      (0L until 25L).map(i => (i, d0.mkString(" "))) ++ // 25 copies of d0
        (30L until 35L).map(i => (i, d1.mkString(" "))) ++ // 5 copies of d1
        (50L until 70L).map(i => (i, dX.mkString(" "))) ++ // 20 copies of dX
        Seq((100L, doc().mkString(" "))) // true singleton
    val docs = rows.map { case (id, t) => (id, t, "en", "s", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = tmpDir("dense-bigvocab")
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")

    val want = exactTokenPairs(dir, 0.9) // independent ground truth
    assert(want.contains((0L, 30L)), "planted near-dup must qualify")
    val got = DedupOps.dedupClusters(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // d0+d1 copies form one component rooted at 0; dX copies at 50;
    // the singleton never appears (no qualifying pair)
    val expect = ((0L until 25L) ++ (30L until 35L)).map(_ -> 0L).toMap ++
      (50L until 70L).map(_ -> 50L).toMap
    assert(got === expect)
  }

  test("contracted q38/q39 arms never merge case-variant texts the " +
      "listing would not pair") {
    import spark.implicits._
    // raw-distinct, normalized-equal: the miners hash the RAW token
    // stream, so the two case groups share no shingle fingerprints and
    // the full listing pairs neither across groups — the contraction key
    // must therefore be raw text, or the dispatched arm force-merges them
    val upper = "The Quick Brown Fox Jumps Over The Lazy Dog And Runs " +
      "Far Away Into The Deep Green Forest Tonight"
    val lower = upper.toLowerCase
    val rows = (0L until 20L).map(i => (i, upper, "en")) ++
      (100L until 120L).map(i => (i, lower, "en"))
    val docs = rows.toDF("doc_id", "text", "lang")
    for ((name, full, contracted) <- Seq(
      ("minhash",
        DedupOps.minhashLshPairsOn(docs, fullPairs = true),
        DedupOps.dedupDecision(docs, method = "minhash")),
      ("simhash",
        DedupOps.simhashPairsOn(docs, fullPairs = true),
        DedupOps.dedupDecision(docs, method = "simhash")))) {
      val pairs = full.collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(!pairs.exists(p => p._1 < 100 && p._2 >= 100),
        s"$name listing must not pair across case groups")
      val got = contracted.collect()
        .map(r => (r.getLong(0), r.getLong(1))).toMap
      assert((0L until 20L).forall(got(_) == 0L), name)
      assert((100L until 120L).forall(got(_) == 100L),
        s"$name contracted arm must keep case groups separate clusters")
    }
  }

  test("prefix-branch contraction keeps cross-language identical texts " +
      "apart (floor-gated)") {
    import spark.implicits._
    // >64-token vocab forces the prefix branch; 2100 copies per group push
    // the exact-dup pair floor past MaxListedPairs (2·C(2100,2) ≈ 4.4M),
    // so the contracted path runs. The same text in two languages must
    // form TWO clusters — the prefix miner never pairs across languages.
    val rnd = new scala.util.Random(5)
    val vocab = (0 until 120).map(i => s"w$i")
    val d0 = rnd.shuffle(vocab).take(30).mkString(" ")
    val rows = (0L until 2100L).map(i => (i, d0, "en")) ++
      (10000L until 12100L).map(i => (i, d0, "fr"))
    val docs = rows.toDF("doc_id", "text", "lang")
      .withColumn("source", lit("s")).withColumn("n_chars", length(col("text")))
    val got = DedupOps.dedupClustersOn(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got.size === 4200)
    assert((0L until 2100L).forall(got(_) == 0L))
    assert((10000L until 12100L).forall(got(_) == 10000L),
      "cross-language identical texts must stay separate components")
  }

  test("q41/q44 block-size gate: oversized blocks dispatch to the LSH " +
      "screen, small blocks stay exact") {
    import spark.implicits._
    val dim = SimilarityOps.Dim
    val rnd = new scala.util.Random(99)
    def vec(): Array[Float] = Array.fill(dim)(rnd.nextGaussian().toFloat)
    // label 0: 60 vectors = 30 identical twin pairs — every vector's true
    // nearest neighbor is its twin, and a twin shares its LSH bucket by
    // construction, so the screened arm must reproduce the exact arm
    // bit-for-bit; label 1: 10 vectors, below the gate on both arms
    val pairs = (0 until 30).map(_ => vec())
    val rows = pairs.zipWithIndex.flatMap { case (v, i) =>
      Seq((2L * i, v, 0), (2L * i + 1, v.clone(), 0)) } ++
      (100L until 110L).map(i => (i, vec(), 1))
    val embDf = rows.toDF("vec_id", "embedding", "label")

    // straddling: threshold 20 puts label 0 (60 vectors) on the screened
    // arm and label 1 (10) on the exact arm
    val nnExact = SimilarityOps.nnDedupOn(embDf, exact = true)
      .collect().map(_.toSeq).toSeq
    val nnAuto = SimilarityOps.nnDedupOn(embDf, maxExactBlock = 20)
      .collect().map(_.toSeq).toSeq
    assert(nnAuto === nnExact)
    assert(nnExact.size === 70, "exact arm covers every vector")

    val tpExact = SimilarityOps.cosineTopPairsOn(embDf, k = 10, exact = true)
      .collect().map(_.toSeq).toSeq
    val tpAuto = SimilarityOps.cosineTopPairsOn(embDf, k = 10,
      maxExactBlock = 20).collect().map(_.toSeq).toSeq
    assert(tpAuto === tpExact)

    // the screen is genuinely active: random vectors in one oversized
    // block scatter into singleton buckets, which emit no q44 row —
    // the exact arm still scans all pairs
    val lone = (0L until 60L).map(i => (i, vec(), 0))
      .toDF("vec_id", "embedding", "label")
    assert(SimilarityOps.nnDedupOn(lone, exact = true).count() === 60L)
    assert(SimilarityOps.nnDedupOn(lone, maxExactBlock = 20).count() < 60L)
  }

  test("q44 multiplicity dispatch: contracted arm equals the exact scan " +
      "on a dup-dense embedding corpus") {
    import spark.implicits._
    val dim = SimilarityOps.Dim
    val rnd = new scala.util.Random(123)
    def vec(): Array[Float] = Array.fill(dim)(rnd.nextGaussian().toFloat)
    // label 0: one vector duplicated 40×, a second duplicated 3×, and 6
    // distinct singletons; label 1: 5 distinct singletons — straddles a
    // maxDupMult of 8 (40 > 8 dispatches; the default 256 does not)
    val hot = vec()
    val warm = vec()
    val rows = (0L until 40L).map(i => (i, hot.clone(), 0)) ++
      (100L until 103L).map(i => (i, warm.clone(), 0)) ++
      (200L until 206L).map(i => (i, vec(), 0)) ++
      (300L until 305L).map(i => (i, vec(), 1))
    val embDf = rows.toDF("vec_id", "embedding", "label")

    val exact = SimilarityOps.nnDedupOn(embDf, exact = true)
      .collect().map(_.toSeq).toSeq
    val contracted = SimilarityOps.nnDedupOn(embDf, maxDupMult = 8)
      .collect().map(_.toSeq).toSeq
    assert(contracted === exact,
      "contracted arm must reproduce the exact scan row-for-row")
    assert(exact.size === 54, "every vector gets a row")
    // spot the group structure: copy 5's neighbor is the group minimum,
    // the minimum's neighbor is the second member, both at cos 1.0
    val byId = exact.map(r => r.head -> (r(2), r(3))).toMap
    assert(byId(5L) === ((0L, 1.0)))
    assert(byId(0L) === ((1L, 1.0)))
    assert(byId(100L) === ((101L, 1.0)))
    // default threshold (256) keeps this corpus on the direct arm — the
    // probe dispatches, it never changes results
    assert(SimilarityOps.nnDedupOn(embDf)
      .collect().map(_.toSeq).toSeq === exact)
  }

  test("q44 arms agree on zero vectors: null nn_cos (no direction), no " +
      "ANSI divide-by-zero crash") {
    import spark.implicits._
    // duplicated zero vectors exercise the contracted arm's self-pair
    // cosine AND the direct arm's pair scan — both must yield NULL
    // (try_divide), never throw (ANSI 0/0) or fabricate 1.0
    val dim = SimilarityOps.Dim
    val rnd = new scala.util.Random(321)
    def vec(): Array[Float] = Array.fill(dim)(rnd.nextGaussian().toFloat)
    val zero = Array.fill(dim)(0.0f)
    val rows = (0L until 3L).map(i => (i, zero.clone(), 0)) ++
      (10L until 14L).map(i => (i, vec(), 0))
    val embDf = rows.toDF("vec_id", "embedding", "label")
    def collectNn(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toMap
    val exact = collectNn(SimilarityOps.nnDedupOn(embDf, exact = true))
    val contracted = collectNn(SimilarityOps.nnDedupOn(embDf,
      maxDupMult = 1))
    assert(exact.size === 7 && contracted.size === 7,
      "every vector still gets a row")
    // equivalence on (vec_id, nn_cos) — the documented arm contract
    assert(contracted.view.mapValues(_.map(c => c)).toMap ===
      exact.view.mapValues(_.map(c => c)).toMap)
    (0L until 3L).foreach { i =>
      assert(exact(i).isEmpty, s"zero vector $i must score null: ${exact(i)}")
    }
    assert(exact(10L).nonEmpty)
  }

  test("q41 kernel contraction: clique-heavy blocks expand top-k pairs in " +
      "exact tie order") {
    import spark.implicits._
    val dim = SimilarityOps.Dim
    val rnd = new scala.util.Random(321)
    def vec(): Array[Float] = Array.fill(dim)(rnd.nextGaussian().toFloat)
    // one vector 40×, one 3×, 5 distinct — the top-k is dominated by the
    // cos-1.0 duplicate cliques, whose pairs must come out ordered by
    // (a_id, b_id) across groups exactly as the uncontracted scan orders
    val hot = vec()
    val warm = vec()
    val all = ((0L until 40L).map(i => (i, hot.clone(), 0)) ++
      (50L until 53L).map(i => (i, warm.clone(), 0)) ++
      (100L until 105L).map(i => (i, vec(), 0)))
      .toDF("vec_id", "embedding", "label")
    val exact = SimilarityOps.cosineTopPairsOn(all, k = 10, exact = true)
      .collect().map(_.toSeq).toSeq
    val contracted = SimilarityOps.cosineTopPairsOn(all, k = 10)
      .collect().map(_.toSeq).toSeq
    assert(contracted === exact)
    // ground truth: ten smallest (a, b) pairs at cos 1.0 all start at a=0
    assert(exact.map(r => (r(1), r(2))) ===
      (1L to 10L).map(b => (0L, b)))
    assert(exact.forall(_.apply(3) === 1.0))
  }

  // ---------------------------------------------------------------- q112

  test("edit pairs: banded arm finds cross-band pairs exactly once") {
    import spark.implicits._
    // lengths 15 / 17 straddle the band-16 edge (bands 0 and 1) — the
    // adjacent-band replication must still pair them, exactly once
    val a = "a" * 15
    val b = "a" * 17 // dist 2 from a (two inserts)
    val c = "a" * 13 + "bb" // 15 chars, dist 2 from a (two substitutions)
    val far = "z" * 41 // band 2; |len diff| > maxDist from everything
    val docs = Seq((0L, a), (1L, b), (2L, c), (3L, far))
      .toDF("doc_id", "text")
      .withColumn("n_chars", length(col("text")).cast("long"))
    val got = DedupOps.editPairsOn(docs, maxDist = 10, band = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    // b vs c: substitute the two b's, insert two a's -> dist 4
    assert(got === Seq((0L, 1L, 2L), (0L, 2L, 2L), (1L, 2L, 4L)))
  }

  test("edit pairs: banded arm equals capped brute force at sf0.001") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val banded = DedupOps.editPairsOn(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    // independent ground truth: full cross join, same capped levenshtein
    val brute = docs.select(col("doc_id").as("a_id"), col("text").as("ta"))
      .crossJoin(docs.select(col("doc_id").as("b_id"), col("text").as("tb")))
      .filter(col("a_id") < col("b_id"))
      .withColumn("dist", levenshtein(col("ta"), col("tb"), 10))
      .filter(col("dist") >= 0)
      .select(col("a_id"), col("b_id"), col("dist").cast("long"))
      .orderBy("a_id", "b_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(banded === brute)
  }

  test("edit pairs: LSH-screen arm matches the banded arm on word-level " +
      "near-dups") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val banded = DedupOps.editPairsOn(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val screened = DedupOps.editPairsOn(docs, screen = true)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // the screen is recall-bounded by construction; on this corpus (whole-
    // word edits => high shingle overlap) it must keep every true pair
    assert(screened === banded)
  }

  test("edit pairs: density gate fails fast on dup-dense corpora and " +
      "dedupDecision(edit) matches union-find") {
    val ex = intercept[IllegalArgumentException] {
      DedupOps.editPairsOn(denseDocs, maxListedPairs = 100)
    }
    assert(ex.getMessage.contains("fullPairs") &&
      ex.getMessage.contains("dedupDecision"), "error must name the escapes")
    val forced = DedupOps.editPairsOn(denseDocs, fullPairs = true,
      exact = true, maxListedPairs = 100)
    val pairs = forced.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(pairs.nonEmpty, "the planted dup cliques must pair at dist 0")
    val decision = DedupOps.dedupDecision(denseDocs, method = "edit")
    assert(decision.columns.toSeq === Seq("doc_id", "rep"))
    val got = decision.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got === expectedClusters(pairs))
  }

  test("edit pairs: band-size gate dispatches oversized bands to the LSH " +
      "screen") {
    import spark.implicits._
    // five equal-length docs in ONE length band: a base sentence, a
    // whole-word edit of it (shingle overlap survives -> the screen keeps
    // it), and three unrelated same-length fillers that inflate the band
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    // one char appended to the LAST word: dist 1, and only the final
    // 3-shingle changes (7/8 shared) so the LSH screen retains the pair
    val near = base.replace("kappa", "kappaq")
    val fillers = Seq(
      "one small doc about completely unrelated query planner internals xx",
      "another filler text describing shuffle exchange reuse and metrics z",
      "third filler sentence on parquet encodings and page level statistic")
    val docs = (Seq(base, near) ++ fillers).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val exact = DedupOps.editPairsOn(docs, maxDist = 10, band = 128,
        exact = true)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(exact === Seq((0L, 1L)), "only the near pair confirms")
    // auto arm with maxBandRows = 2: the single 5-doc band trips the gate,
    // candidates come from the shingle screen instead — same confirmed set
    // on word-level edits
    val auto = DedupOps.editPairsOn(docs, maxDist = 10, band = 128,
        maxBandRows = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(auto === exact, "screen arm must keep the word-level near pair")
    // above the gate the auto arm IS the banded arm (capped-count
    // short-circuit: 5 rows <= maxBandRows -> no histogram job)
    val banded = DedupOps.editPairsOn(docs, maxDist = 10, band = 128)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(banded === exact)
  }

  test("connectedComponents zero-edge short-circuit labels every node " +
      "with itself") {
    import spark.implicits._
    val nodes = Seq(5L, 9L, 2L).toDF("id")
    val edges = Seq.empty[(Long, Long)].toDF("src", "dst")
    val got = DedupOps.connectedComponents(nodes, edges).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === Set((5L, 5L), (9L, 9L), (2L, 2L)))
  }

  test("connectedComponents driver union-find arm equals the distributed " +
      "pointer-jumping loop on a random graph") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    // 300 nodes, ~200 random edges: a mix of multi-node components, a
    // long path (stresses pointer jumping), and isolated singletons
    val ids = (0L until 300L)
    val random = (0 until 200).map(_ =>
      (ids(rnd.nextInt(300)), ids(rnd.nextInt(300)))).filter(p => p._1 != p._2)
    val path = (250L until 299L).map(i => (i, i + 1)) // path component
    val undirected = (random ++ path).toDF("src", "dst")
    val nodes = ids.toDF("id")
    val viaUf = DedupOps.connectedComponents(nodes, undirected)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val bidir = undirected.union(
      undirected.select(col("dst").as("src"), col("src").as("dst")))
      .localCheckpoint(true)
    val viaLoop = DedupOps.connectedComponentsLoop(nodes, bidir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(viaUf === viaLoop)
    assert(viaUf.size === 300)
    // the path component must label down to its minimum
    assert((250L to 299L).forall(i => viaUf(i) === viaUf(250L)))
  }

  test("dedupDecision on an exact-dups-only corpus (zero mined edges) " +
      "labels every document, all four methods") {
    import spark.implicits._
    // two exact copies + one unrelated doc: after contraction the miners
    // find NO near-dup rep pair in any arm, so the decision comes from the
    // short-circuit path — it must still cover every doc_id
    val docs = Seq(
      (1L, "en", "x x"), (2L, "en", "x x"),
      (3L, "en", "completely different words appear here"))
      .toDF("doc_id", "lang", "text")
      .withColumn("n_chars", length(col("text")).cast("long"))
    val want = Set((1L, 1L), (2L, 1L), (3L, 3L))
    for (m <- Seq("jaccard", "minhash", "simhash", "edit")) {
      val got = DedupOps.dedupDecision(docs, m).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got === want, s"method $m")
    }
  }

  test("embedding audit counts NULL vectors under legacy sizeOfNull too") {
    import spark.implicits._
    val key = "spark.sql.legacy.sizeOfNull"
    spark.conf.set(key, "true") // size(NULL) = -1 in this mode
    try {
      val rows = Seq(
        (0L, Array(3.0f, 4.0f), 1),
        (1L, null.asInstanceOf[Array[Float]], 1))
        .toDF("vec_id", "embedding", "label")
      val got = SimilarityOps.embeddingAuditOn(rows).collect().head
      assert(got.getAs[Long]("n_null") === 1L)
      assert(got.getAs[Long]("min_dim") === 2L,
        "a legacy -1 dim must never reach min_dim")
    } finally spark.conf.unset(key)
  }

  // ---------------------------------------------------------------- q110

  test("embedding audit: ragged dims, degenerate and NULL vectors are " +
      "flagged") {
    import spark.implicits._
    val rows = Seq(
      (0L, Array(3.0f, 4.0f), 1), // norm 5
      (1L, Array(0.0f, 0.0f), 1), // degenerate
      (2L, Array(1.0f, 0.0f, 0.0f), 2), // ragged: dim 3
      (3L, null.asInstanceOf[Array[Float]], 2)) // NULL vector
      .toDF("vec_id", "embedding", "label")
    val got = SimilarityOps.embeddingAuditOn(rows).collect()
    val l1 = got.find(_.getInt(0) == 1).get
    assert(l1.getAs[Long]("n") === 2L)
    assert(l1.getAs[Long]("n_null") === 0L)
    assert(l1.getAs[Long]("n_degenerate") === 1L)
    assert(l1.getAs[Double]("min_norm") === 0.0)
    assert(l1.getAs[Double]("max_norm") === 5.0)
    assert(l1.getAs[Long]("min_dim") === 2L && l1.getAs[Long]("max_dim") === 2L)
    val l2 = got.find(_.getInt(0) == 2).get
    assert(l2.getAs[Long]("n") === 2L)
    // the null row is counted explicitly and does NOT dilute the mean
    assert(l2.getAs[Long]("n_null") === 1L)
    assert(l2.getAs[Long]("min_dim") === 3L)
    assert(l2.getAs[Double]("avg_norm") === 1.0)
    assert(l2.getAs[Long]("n_degenerate") === 0L)
  }

  test("q110/q112 plans hold the documented shuffle budget") {
    import spark.implicits._
    def exchanges(df: org.apache.spark.sql.DataFrame): Int =
      "Exchange".r.findAllIn(df.queryExecution.executedPlan.toString).length
    val embs = (0L until 20L)
      .map(i => (i, Array.fill(8)(i.toFloat + 1f), (i % 3).toInt))
      .toDF("vec_id", "embedding", "label")
    // q110: one two-phase agg + the label-ordered output sort
    val aud = exchanges(SimilarityOps.embeddingAuditOn(embs))
    assert(aud <= 3, s"q110 exchanges = $aud")
    // q112 banded arm: band-key join (each side once) + output sort
    val docs = (0L until 20L).map(i => (i, s"text number $i padded a bit"))
      .toDF("doc_id", "text")
    val ep = exchanges(DedupOps.editPairsOn(docs, fullPairs = true,
      exact = true))
    assert(ep <= 4, s"q112 exchanges = $ep")
  }

  test("dup multiplicity histogram partitions groups and docs") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a"), (2L, "A "), (3L, "a"), // one group of 3 (normalized)
      (4L, "b"), (5L, "B"), // one group of 2
      (6L, "c"), (7L, "d")) // two singletons
      .toDF("doc_id", "text")
    val out = ops.DedupOps.dupMultiplicityOn(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.toSeq === Seq((1L, 2L, 2L), (2L, 1L, 2L), (3L, 1L, 3L)))
  }

  test("dedupDecision keeps null-text documents: they form one exact-dup " +
      "group instead of vanishing from the contraction join") {
    import spark.implicits._
    val docs = Seq(
      (0L, "en", Some("alpha beta gamma")),
      (1L, "en", None: Option[String]), // md5(NULL) = NULL group key
      (2L, "en", None: Option[String]),
      (3L, "en", Some("alpha beta gamma")))
      .toDF("doc_id", "lang", "text")
    val out = ops.DedupOps.dedupDecision(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // every input doc gets a decision row (the old null join key silently
    // dropped docs 1 and 2), and the two null texts group together like
    // any other pair of identical texts under groupBy semantics
    assert(out.keySet === Set(0L, 1L, 2L, 3L))
    assert(out(3L) === 0L)
    assert(out(1L) === 1L && out(2L) === 1L)
  }

  test("q41 kernel survives a zero-norm vector (scores 0, never a top " +
      "pair) and q110 surfaces null-element vectors instead of crashing") {
    import spark.implicits._
    val embs = Seq(
      (0L, 0, Array(1.0f, 0.0f)),
      (1L, 0, Array(0.9f, 0.1f)),
      (2L, 0, Array(0.0f, 0.0f))) // zero norm: cosine undefined
      .toDF("vec_id", "label", "embedding")
    val pairs = SimilarityOps.cosineTopPairsOn(embs, k = 10, exact = true)
      .collect().map(r => (r.getAs[Long]("a_id"), r.getAs[Long]("b_id"),
        r.getAs[Double]("cos_sim"))).toSeq
    // no NaN crash; the degenerate vector's pairs score exactly 0
    assert(pairs.exists { case (a, b, c) => a == 0L && b == 1L && c > 0.9 })
    assert(pairs.filter(p => p._1 == 2L || p._2 == 2L)
      .forall(_._3 === 0.0))
    // audit: one vector with a null ELEMENT is counted, not thrown on
    val ragged = Seq(
      (0, Some(Seq[java.lang.Float](1.0f, 2.0f))),
      (0, Some(Seq[java.lang.Float](null, 2.0f))),
      (0, None: Option[Seq[java.lang.Float]]))
      .toDF("label", "embedding")
    val a = SimilarityOps.embeddingAuditOn(ragged).collect().head
    assert(a.getAs[Long]("n") === 3L)
    assert(a.getAs[Long]("n_null") === 1L)
    assert(a.getAs[Long]("n_null_elem") === 1L)
    // the clean vector's norm still reports
    assert(a.getAs[Double]("max_norm") > 2.0)
  }

  test("q132 planted leak at the production band: a train→held near-dup " +
      "(cos = 1.0) is flagged at threshold 0.95 on both the exact and " +
      "the sub-bucketed arm") {
    import spark.implicits._
    val dim = SimilarityOps.Dim
    val rnd = new scala.util.Random(777)
    def vec(): Array[Float] = Array.fill(dim)(rnd.nextGaussian().toFloat)
    // probe the DETERMINISTIC q116 split for candidate ids first (the
    // q130 spec's device): we need ids we KNOW land train vs held
    val assign = (0L until 40L).map { i =>
      val h4 = java.security.MessageDigest.getInstance("MD5")
        .digest(s"graft-split:$i".getBytes("UTF-8"))
        .take(2).map("%02x".format(_)).mkString
      i -> (h4 < "cccc")
    }.toMap
    val trainIds = assign.filter(_._2).keys.toSeq.sorted
    val heldIds = assign.filterNot(_._2).keys.toSeq.sorted
    assert(trainIds.size >= 6 && heldIds.size >= 4,
      s"fixture needs both sides: ${trainIds.size}/${heldIds.size}")
    // label 0 (leaky): planted train vector + its EXACTLY-parallel held
    // twin (2·v — cosine exactly 1.0, and positive scaling preserves every
    // hyperplane sign bit, so the pair shares its LSH cell BY CONSTRUCTION
    // under subdivision) + random train/held fillers.
    // label 1 (clean): random vectors only, both sides.
    val planted = vec()
    val twin = planted.map(_ * 2.0f)
    val leakyTrain = trainIds.head
    val rows =
      Seq((leakyTrain, planted, 0), (heldIds.head, twin, 0)) ++
        trainIds.slice(1, 4).map(i => (i, vec(), 0)) ++
        heldIds.slice(1, 3).map(i => (i, vec(), 0)) ++
        trainIds.slice(4, 6).map(i => (i, vec(), 1)) ++
        heldIds.slice(3, 4).map(i => (i, vec(), 1))
    val embDf = rows.toDF("vec_id", "embedding", "label")

    def audit(exact: Boolean, maxBlock: Int) =
      SimilarityOps.semanticLeakageOn(embDf, threshold = 0.95,
        maxExactBlock = maxBlock, exact = exact)
        .collect().map(r => r.getInt(0) ->
          (r.getLong(1), r.getLong(2), r.getLong(3),
            // max_cos is null when no train vector shares a cell with any
            // held vector (possible for a clean label under subdivision)
            if (r.isNullAt(5)) Double.NaN else r.getDouble(5))).toMap
    val full = audit(exact = true, maxBlock = 4096)
    // exact arm: the planted pair is THE leak — label 0 flags exactly one
    // train vector at max_cos 1.0, the clean label flags none
    assert(full(0) === ((4L, 3L, 1L, 1.0)), s"leaky label: ${full(0)}")
    assert(full(1)._3 === 0L, s"clean label must not flag: ${full(1)}")
    // sub-bucketed arm (every label block > 2 subdivides by LSH cell):
    // the parallel pair shares its cell, so the planted leak SURVIVES the
    // subdivision — the recall claim at the production band
    val sub = audit(exact = false, maxBlock = 2)
    assert(sub(0)._3 === 1L && sub(0)._4 === 1.0,
      s"planted leak must survive sub-bucketing: ${sub(0)}")
    assert(sub(1)._3 === 0L, s"clean label under subdivision: ${sub(1)}")
    // counts (n_train, n_held) are split-derived, not gate-derived —
    // identical on both arms
    assert(sub(0)._1 === full(0)._1 && sub(0)._2 === full(0)._2)
  }

  test("q132 dup-dense contracted arm: multiplicity-weighted rollup " +
      "equals the exact scan, and the planted leak survives at the " +
      "production band") {
    import spark.implicits._
    val dim = SimilarityOps.Dim
    val rnd = new scala.util.Random(778)
    def vec(): Array[Float] = Array.fill(dim)(rnd.nextGaussian().toFloat)
    // deterministic q116 split probe over a wider id range so every
    // duplicated embedding can take fresh ids on its OWN side (copies
    // must not flip split side, or the fixture's expected counts move)
    val assign = (0L until 120L).map { i =>
      val h4 = java.security.MessageDigest.getInstance("MD5")
        .digest(s"graft-split:$i".getBytes("UTF-8"))
        .take(2).map("%02x".format(_)).mkString
      i -> (h4 < "cccc")
    }.toMap
    val trainPool = scala.collection.mutable.Queue(
      assign.filter(_._2).keys.toSeq.sorted: _*)
    val heldPool = scala.collection.mutable.Queue(
      assign.filterNot(_._2).keys.toSeq.sorted: _*)
    val planted = vec()
    val twin = planted.map(_ * 2.0f)
    // base corpus: the planted leak pair in label 0 plus clean fillers in
    // labels 0 and 1 — then EVERY embedding gets 3 copies on its side
    // (the dup-dense shape the 1000x sweep corpus has)
    val base: Seq[(Array[Float], Int, Boolean)] =
      Seq((planted, 0, true), (twin, 0, false)) ++
        (1 to 3).map(_ => (vec(), 0, true)) ++
        (1 to 2).map(_ => (vec(), 0, false)) ++
        (1 to 2).map(_ => (vec(), 1, true)) ++
        Seq((vec(), 1, false))
    val rows = base.flatMap { case (e, label, isTrain) =>
      val pool = if (isTrain) trainPool else heldPool
      (1 to 3).map(_ => (pool.dequeue(), e, label))
    }
    val embDf = rows.toDF("vec_id", "embedding", "label")

    def collectMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getInt(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4),
          if (r.isNullAt(5)) Double.NaN else r.getDouble(5))).toMap
    // arm equivalence at full exactness: contraction (forced via
    // maxDupMult = 0) must reproduce the exact scan's multiplicity-
    // weighted rollup bit-for-bit — same blocks, same cosines, counts
    // carried by m instead of by row
    val direct = collectMap(SimilarityOps.semanticLeakageOn(
      embDf, threshold = 0.95, maxExactBlock = 4096, exact = true))
    val contracted = collectMap(SimilarityOps.semanticLeakageOn(
      embDf, threshold = 0.95, maxExactBlock = 4096, maxDupMult = 0L))
    assert(contracted === direct,
      s"contracted $contracted\nvs direct $direct")
    // the planted leak: 3 train copies of the planted vector all leak
    assert(direct(0)._1 === 12L && direct(0)._2 === 9L,
      s"multiplicity-weighted counts: ${direct(0)}")
    assert(direct(0)._3 === 3L && direct(0)._5 === 1.0,
      s"all three planted copies must flag: ${direct(0)}")
    assert(direct(1)._3 === 0L, s"clean label: ${direct(1)}")
    // production band: contracted AND sub-bucketed (rep blocks > 2 still
    // subdivide; the parallel pair shares its LSH cell by construction)
    val sub = collectMap(SimilarityOps.semanticLeakageOn(
      embDf, threshold = 0.95, maxExactBlock = 2, maxDupMult = 0L))
    assert(sub(0)._3 === 3L && sub(0)._5 === 1.0,
      s"planted leak must survive contraction + sub-bucketing: ${sub(0)}")
    assert(sub(0)._1 === 12L && sub(0)._2 === 9L && sub(1)._3 === 0L)
    // the dispatch probe itself routes this corpus (multiplicity 3) to
    // the contracted arm at a maxDupMult of 2
    val dispatched = collectMap(SimilarityOps.semanticLeakageOn(
      embDf, threshold = 0.95, maxExactBlock = 4096, maxDupMult = 2L))
    assert(dispatched === direct)
  }

  test("q132 contracted arm matches the exact scan on malformed inputs " +
      "(null embeddings, zero vectors)") {
    import spark.implicits._
    // the nnDedupContracted null-safety class, applied to the audit: a
    // contraction that grouped or joined carelessly could drop/duplicate
    // null-embedding rows or fabricate a 1.0 for a zero vector
    val dim = SimilarityOps.Dim
    val rnd = new scala.util.Random(779)
    def vec(): Array[Float] = Array.fill(dim)(rnd.nextGaussian().toFloat)
    val assign = (0L until 40L).map { i =>
      val h4 = java.security.MessageDigest.getInstance("MD5")
        .digest(s"graft-split:$i".getBytes("UTF-8"))
        .take(2).map("%02x".format(_)).mkString
      i -> (h4 < "cccc")
    }.toMap
    val trainIds = assign.filter(_._2).keys.toSeq.sorted
    val heldIds = assign.filterNot(_._2).keys.toSeq.sorted
    val zero = Array.fill(dim)(0.0f)
    val rows: Seq[(Long, Array[Float], Int)] =
      // two identical NULL-embedding train rows + one held null (group as
      // one rep each side; never leaky, still counted in n_train/n_held)
      Seq((trainIds(0), null, 0), (trainIds(1), null, 0),
        (heldIds(0), null, 0),
        // zero vectors on both sides: no direction — the cosine is NULL
        // (try_divide; ANSI mode would THROW on the raw 0/0), excluded
        // from the max and never leaky, identically on both arms
        (trainIds(2), zero, 0), (heldIds(1), zero, 0),
        // normal planted leak + filler
        (trainIds(3), vec(), 0), (heldIds(2), vec(), 0))
    val embDf = rows.toDF("vec_id", "embedding", "label")
    def run(maxDupMult: Long, exact: Boolean = false) =
      SimilarityOps.semanticLeakageOn(embDf, threshold = 0.95,
        maxExactBlock = 4096, exact = exact, maxDupMult = maxDupMult)
        .collect().map(_.toSeq).toSeq
    val direct = run(Long.MaxValue)
    val contracted = run(0L)
    assert(contracted === direct,
      s"contracted $contracted\nvs direct $direct")
    // and the exact-forced arm agrees too (no gating on this tiny block)
    assert(run(0L) === run(Long.MaxValue, exact = true))
  }

  test("IVF recall eval: planted cross-cell neighbor gives recall 0.5 at " +
      "nProbe 1 and 1.0 once its cell is probed; full probe scans all") {
    import spark.implicits._
    // query 0 lives in cell L0; its TRUE nearest neighbor (id 3) is
    // labeled L1, so nProbe=1 (L0 only: candidates 1,2) finds 1 of the
    // exact top-2 {3, 1}; nProbe=2 scans both cells and recovers both
    def v(xs: Double*): Array[Float] = xs.map(_.toFloat).toArray
    val embDf = Seq(
      (0L, v(1, 0, 0, 0), 0), (1L, v(0.95, 0.05, 0, 0), 0),
      (2L, v(0.9, 0.1, 0, 0), 0),
      (3L, v(0.99, 0.01, 0, 0), 1), (4L, v(0, 0, 1, 0), 1),
      (5L, v(0, 0, 0.9, 0.1), 1)).toDF("vec_id", "embedding", "label")
    val got = SimilarityOps.annIvfRecallOn(embDf, k = 2, pCount = 1,
        maxProbe = 2).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
      .toSeq
    // frac under the quartet-wide convention: candidates EXCLUDING the
    // probe itself over n-1 — nProbe=1 scans cell L0's 2 other members
    // of the 5 non-probe vectors (0.4); full probe = 5/5 = 1.0
    assert(got === Seq(
      (1, 1L, 0.5, 0.4),
      (2, 1L, 1.0, 1.0)))
  }

  test("IVF recall eval: recall and scan fraction are monotone in nProbe " +
      "and reach exactly 1.0 when every cell is probed") {
    import spark.implicits._
    val dim = SimilarityOps.Dim
    val rnd = new scala.util.Random(11)
    def vec(): Array[Float] = Array.fill(dim)(rnd.nextGaussian().toFloat)
    val embDf = (0L until 120L).map(i => (i, vec(), (i % 3).toInt))
      .toDF("vec_id", "embedding", "label")
    val rows = SimilarityOps.annIvfRecallOn(embDf, k = 10, pCount = 4,
        maxProbe = 3).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
      .toSeq
    assert(rows.map(_._1) === Seq(1, 2, 3))
    assert(rows.forall(_._2 === 4L))
    val recalls = rows.map(_._3)
    val fracs = rows.map(_._4)
    assert(recalls.zip(recalls.tail).forall { case (a, b) => a <= b },
      s"recall must be monotone in nProbe: $recalls")
    assert(fracs.zip(fracs.tail).forall { case (a, b) => a < b },
      s"scan fraction must strictly grow: $fracs")
    // probing all |labels| cells IS brute force: recall exactly 1
    assert(recalls.last === 1.0 && fracs.last === 1.0)
  }

  test("embedding drift: identical batch reports cosine 1, an orthogonal " +
      "batch 0, and a base-only label keeps NULL cosine with n_batch 0") {
    import spark.implicits._
    def v(xs: Double*): Array[Float] = xs.map(_.toFloat).toArray
    // label 0: batch == base -> centroids identical, cos exactly 1.0
    // label 1: base on e1, batch on e2 -> cos exactly 0.0
    // label 2: base only -> full-outer right side missing
    val base = Seq(
      (0, v(1, 0, 0, 0)), (0, v(0, 1, 0, 0)),
      (1, v(1, 0, 0, 0)), (1, v(1, 0.5, 0, 0)),
      (2, v(0, 0, 1, 0))).toDF("label", "embedding")
    val batch = Seq(
      (0, v(1, 0, 0, 0)), (0, v(0, 1, 0, 0)),
      (1, v(0, 0, 0, 1))).toDF("label", "embedding")
    val got = SimilarityOps.embeddingDriftOn(base, batch).collect()
    assert(got.length === 3)
    val l0 = got(0)
    assert((l0.getLong(1), l0.getLong(2)) === ((2L, 2L)))
    assert(l0.getDouble(3) === 1.0, "identical centroids must read 1.0")
    val l1 = got(1)
    assert(l1.getDouble(3) === 0.0, "orthogonal centroids must read 0.0")
    val l2 = got(2)
    assert((l2.getLong(1), l2.getLong(2)) === ((1L, 0L)))
    assert(l2.isNullAt(3) && l2.isNullAt(5),
      "a batch-missing label has no centroid to compare: NULL, not 0")
    assert(!l2.isNullAt(4), "the base norm is still reported")
  }

  test("IVF recall eval: nProbe beyond the cell count behaves as a full " +
      "probe (rows present, recall and scan fraction saturate at 1.0)") {
    import spark.implicits._
    def v(xs: Double*): Array[Float] = xs.map(_.toFloat).toArray
    val embDf = Seq(
      (0L, v(1, 0, 0, 0), 0), (1L, v(0.9, 0.1, 0, 0), 0),
      (2L, v(0, 0, 1, 0), 1), (3L, v(0, 0, 0.9, 0.1), 1))
      .toDF("vec_id", "embedding", "label")
    // only 2 cells exist; sweep to nProbe 4 anyway
    val rows = SimilarityOps.annIvfRecallOn(embDf, k = 2, pCount = 1,
        maxProbe = 4).collect()
      .map(r => (r.getInt(0), r.getDouble(2), r.getDouble(3))).toSeq
    assert(rows.map(_._1) === Seq(1, 2, 3, 4),
      "every swept nProbe must report a row even past the cell count")
    rows.filter(_._1 >= 2).foreach { case (np, recall, frac) =>
      assert(recall === 1.0 && frac === 1.0,
        s"nProbe $np >= |cells| must saturate at full-probe: $rows")
    }
  }

  test("LSH recall eval: recall climbs monotonically with the band " +
      "radius and saturates at exactly 1.0 when the radius admits " +
      "every pair") {
    import spark.implicits._
    val dim = SimilarityOps.Dim
    val rnd = new scala.util.Random(23)
    def vec(): Array[Float] = Array.fill(dim)(rnd.nextGaussian().toFloat)
    val embDf = (0L until 150L).map(i => (i, vec(), 0))
      .toDF("vec_id", "embedding", "label")
    // radius 8 admits EVERY pair (two 8-bit bands: min hamming <= 8)
    val rows = SimilarityOps.annLshRecallOn(embDf, k = 10, pCount = 4,
        maxRadius = 8).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
      .toSeq
    assert(rows.map(_._1) === (0 to 8))
    assert(rows.forall(_._2 === 4L))
    val recalls = rows.map(_._3)
    val fracs = rows.map(_._4)
    assert(recalls.zip(recalls.tail).forall { case (a, b) => a <= b },
      s"recall must be monotone in radius: $recalls")
    assert(fracs.zip(fracs.tail).forall { case (a, b) => a <= b },
      s"scan fraction must be monotone in radius: $fracs")
    assert(recalls.last === 1.0 && fracs.last === 1.0,
      s"radius 8 IS brute force over 8-bit bands: $rows")
  }

  test("PQ recall eval: perfectly clustered labels reach recall 1.0 at " +
      "every code prefix once the separating subspace is read") {
    import spark.implicits._
    val dim = SimilarityOps.Dim
    // label j: 1.0 at dim j+1 (all inside subspace 0, so every swept
    // prefix m >= 2 contains the separating subspace) + a small distinct
    // ramp at dim 9+j (subspace 1) to make the exact ranking unambiguous
    val rows = (0L until 15L).map { i =>
      val j = (i % 3).toInt
      val v = Array.fill(dim)(0f)
      v(j) = 1f
      v(8 + j) = 0.01f * (i / 3 + 1)
      (i, v, j)
    }
    val embDf = rows.toDF("vec_id", "embedding", "label")
    // probes 0,1,2 = one per cluster; each probe's exact top-4 IS its 4
    // cluster mates, and ADC ranks the identically-coded mates first
    val got = SimilarityOps.annPqRecallOn(embDf, k = 4, pCount = 3)
      .collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
      .toSeq
    assert(got.map(_._1) === Seq(2, 4, 6, 8))
    assert(got.forall(_._2 === 3L))
    got.foreach { case (m, _, recall, frac) =>
      assert(recall === 1.0,
        s"clustered corpus must give full recall at prefix $m: $got")
      assert(frac === m / 8.0)
    }
  }

  test("RP recall eval: an exact duplicate is recovered at every " +
      "projection prefix (recall@1 exactly 1.0 across the sweep)") {
    import spark.implicits._
    val dim = SimilarityOps.Dim
    val rnd = new scala.util.Random(31)
    // 10 base vectors, each appearing 3 times: every probe (ids 0..3)
    // has an exact duplicate, whose projection is identical at EVERY
    // prefix -> top-1 in both the prefix arms and the exact arm
    val base = Array.fill(10)(Array.fill(dim)(rnd.nextGaussian().toFloat))
    val embDf = (0L until 30L).map(i => (i, base((i % 10).toInt), 0))
      .toDF("vec_id", "embedding", "label")
    val got = SimilarityOps.annRpRecallOn(embDf, k = 1, pCount = 4)
      .collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
      .toSeq
    assert(got.map(_._1) === Seq(4, 8, 12, 16))
    assert(got.forall(_._2 === 4L))
    got.foreach { case (d, _, recall, frac) =>
      assert(recall === 1.0,
        s"an exact duplicate must be top-1 at prefix $d: $got")
      assert(frac === d / 16.0)
    }
  }

  test("recall eval grid edges: pCount past the corpus size evals every " +
      "vector, k past the corpus saturates recall, a single-label corpus " +
      "collapses the IVF cells without dying, empty grids fail loud") {
    import spark.implicits._
    val dim = SimilarityOps.Dim
    val rnd = new scala.util.Random(41)
    // 5 vectors, ONE label: a single IVF cell — every nProbe arm probes
    // the same (only) cell, so recall across arms equals the full scan
    val embDf = (0L until 5L)
      .map(i => (i, Array.fill(dim)(rnd.nextGaussian().toFloat), 0))
      .toDF("vec_id", "embedding", "label")
    // pCount 64 >> 5: every vector becomes a probe. k 50 >> 4 others:
    // every arm holds ALL 4 others, and recall reports 4/50 = 0.08 —
    // the denominator is the REQUESTED k (the oracle-pinned convention:
    // asking for 50 neighbors of a 5-vector corpus IS a recall failure,
    // not a rescaled success); the scan fraction saturates at 1.0
    val ivf = SimilarityOps.annIvfRecallOn(embDf, k = 50, pCount = 64,
        maxProbe = 2).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    assert(ivf.map(_._1).toSeq === Seq(1, 2))
    ivf.foreach { case (np, nq, recall, frac) =>
      assert(nq === 5L, "every vector becomes a probe")
      assert(recall === 0.08 && frac === 1.0,
        s"one cell IS the corpus at any nProbe: ${ivf.toSeq}")
    }
    val rp = SimilarityOps.annRpRecallOn(embDf, k = 50, pCount = 64)
      .collect().map(r => (r.getLong(1), r.getDouble(2)))
    rp.foreach { case (nq, recall) =>
      assert(nq === 5L && recall === 0.08,
        s"k past the corpus holds all 4 others in every arm: ${rp.toSeq}")
    }
    // empty / senseless grids are caller bugs, not empty curves
    intercept[IllegalArgumentException] {
      SimilarityOps.annIvfRecallOn(embDf, maxProbe = 0)
    }
    intercept[IllegalArgumentException] {
      SimilarityOps.annLshRecallOn(embDf, maxRadius = -1)
    }
    intercept[IllegalArgumentException] {
      SimilarityOps.annRpRecallOn(embDf, dimGrid = Seq.empty)
    }
    intercept[IllegalArgumentException] {
      SimilarityOps.annPqRecallOn(embDf, subGrid = Seq(2, 2))
    }
  }

  /** The deterministic init rank of [[SimilarityOps.pqTrainedCodebook]]
    * for a 0-based id — the test builds cluster membership FROM this
    * order so each init vector provably seeds a distinct cluster.
    */
  private def lcgHash(id: Long): Long =
    ((id % 1000000007L) * 48271L + 11L) % 1000000007L

  test("trained PQ codebook recovers planted clusters the label codebook " +
      "cannot see: recall lifts from near-zero to exactly 1.0") {
    import spark.implicits._
    val dim = SimilarityOps.Dim
    val k = SimilarityOps.PqTrainK
    // 8 planted clusters of 5 IDENTICAL vectors on orthogonal axes;
    // membership assigned along the deterministic init-hash order, so
    // the k lowest-hash ids (the Lloyd init) cover all 8 clusters —
    // convergence is then immediate and exact
    val ids = (0L until 40L).sortBy(i => (lcgHash(i), i))
    val cluster = ids.zipWithIndex.map { case (id, r) =>
      id -> (if (r < k) r else (r - k) % k)
    }.toMap
    val rows = (0L until 40L).map { i =>
      val c = cluster(i)
      val v = Array.fill(dim)(0f)
      v(c) = 10f
      (i, v, 0) // ONE label: the label codebook degenerates to 1 codeword
    }
    val embDf = rows.toDF("vec_id", "embedding", "label")
    val trained = SimilarityOps.pqTrainedCodebook(embDf)
    // each probe's exact top-4 IS its 4 identical cluster mates; the
    // trained codewords separate the clusters, so ADC recall is 1.0 at
    // every code prefix
    val got = SimilarityOps.annPqRecallWith(embDf, trained, k = 4,
        pCount = 8).collect()
      .map(r => (r.getInt(0), r.getDouble(2))).toSeq
    got.foreach { case (m, recall) =>
      assert(recall === 1.0,
        s"trained codebook must give full recall at prefix $m: $got")
    }
    // the label-derived baseline collapses to one codeword (single
    // label): every candidate ties on ADC, the cut is by vec_id, and
    // recall stays far below the trained curve — the q138 lift the
    // harness exists to show
    val baseline = SimilarityOps.annPqRecallOn(embDf, k = 4, pCount = 8)
      .collect().map(r => (r.getInt(0), r.getDouble(2))).toSeq
    baseline.foreach { case (m, recall) =>
      assert(recall < 0.5,
        s"single-label codebook cannot separate clusters at prefix $m: " +
          s"$baseline")
    }
  }

  test("trained PQ codebook: deterministic rebuild, emptied codewords " +
      "keep their values (no NaN / zero rows), q140 search ranks the " +
      "planted cluster mates first") {
    import spark.implicits._
    val dim = SimilarityOps.Dim
    // only 3 distinct vectors over 9 rows with k=8 codewords: init picks
    // duplicates, ties assign to the LOWEST codeword, so the higher
    // duplicates receive zero vectors and must keep their init values
    // instead of dividing by zero
    val rows = (0L until 9L).map { i =>
      val c = (i % 3).toInt
      val v = Array.fill(dim)(0f)
      v(c) = 5f
      (i, v, c)
    }
    val embDf = rows.toDF("vec_id", "embedding", "label")
    val t1 = SimilarityOps.pqTrainedCodebook(embDf)
    val t2 = SimilarityOps.pqTrainedCodebook(embDf)
    assert(t1.length === SimilarityOps.PqTrainK)
    assert(t1.map(_.toSeq) === t2.map(_.toSeq),
      "training must be bit-identical on rebuild")
    val legal = (0 until 3).map { c =>
      val v = Array.fill(dim)(0.0); v(c) = 5.0; v.toSeq
    }.toSet
    t1.foreach { cw =>
      assert(!cw.exists(_.isNaN), "an emptied codeword must not divide " +
        s"by zero: ${cw.toSeq}")
      assert(legal.contains(cw.toSeq),
        s"every codeword must be one of the 3 planted vectors (updated " +
          s"mean or kept init), got ${cw.toSeq.take(4)}...")
    }
    // q140's search face over the same planted corpus: the query's 2
    // identical cluster mates must rank first with ADC distance 0
    val top = SimilarityOps.annPqWith(embDf, t1, queryId = 0L, k = 2)
      .collect().map(r => (r.getLong(0), r.getDouble(3))).toSeq
    assert(top.map(_._1) === Seq(3L, 6L), s"cluster mates first: $top")
    assert(top.forall(_._2 === 0.0), s"identical vectors code to the " +
      s"query's own nearest codewords: $top")
  }

  /** 8 planted clusters of 5 IDENTICAL vectors on orthogonal axes, ONE
    * label, membership assigned along the deterministic init-hash order
    * (the pqTrainedCodebook spec's recipe) — the k lowest-hash ids seed
    * all 8 clusters, so Lloyd converges immediately and exactly. The
    * label-derived cells degenerate to a single cell over this corpus;
    * the trained cells separate it — the q143/q144 story in miniature.
    */
  private def plantedIvfCorpus: (org.apache.spark.sql.DataFrame,
      Map[Long, Int]) = {
    import spark.implicits._
    val dim = SimilarityOps.Dim
    val k = SimilarityOps.IvfTrainK
    val ids = (0L until 40L).sortBy(i => (lcgHash(i), i))
    val cluster = ids.zipWithIndex.map { case (id, r) =>
      id -> (if (r < k) r else (r - k) % k)
    }.toMap
    val rows = (0L until 40L).map { i =>
      val v = Array.fill(dim)(0f)
      v(cluster(i)) = 10f
      (i, v, 0)
    }
    (rows.toDF("vec_id", "embedding", "label"), cluster)
  }

  test("trained IVF (q143): probing one Lloyd cell returns exactly the " +
      "planted cluster mates, and the whole lifecycle rebuilds " +
      "bit-identically") {
    val (embDf, cluster) = plantedIvfCorpus
    def run() = SimilarityOps.annIvfWithCells(embDf,
      SimilarityOps.kmeansCentroids(embDf, SimilarityOps.IvfTrainK,
        SimilarityOps.IvfTrainIters), queryId = 0L, k = 4)
      .collect()
    val out = run()
    val mates = (1L until 40L).filter(i => cluster(i) == cluster(0L))
    assert(out.map(_.getLong(0)).toSet === mates.toSet,
      s"the probed trained cell holds the planted mates: " +
        s"${out.map(_.getLong(0)).toSeq}")
    assert(out.forall(_.getDouble(3) === 1.0),
      s"identical cluster mates read cosine 1.0: ${out.toSeq}")
    assert(out.map(_.getInt(2)).distinct.length === 1,
      "all mates sit in ONE trained cell (the assignment recovered the " +
        "planted structure)")
    assert(out.map(_.toSeq).toSeq === run().map(_.toSeq).toSeq,
      "train→assign→probe→rank must be bit-identical on rebuild")
  }

  test("trained IVF recall curve (q144): full recall at nProbe=1 for " +
      "~1/8 of the scan the degenerate single-label cells pay") {
    val (embDf, _) = plantedIvfCorpus
    val cents = SimilarityOps.kmeansCentroids(embDf,
      SimilarityOps.IvfTrainK, SimilarityOps.IvfTrainIters)
    val trained = SimilarityOps.annIvfRecallWithCells(embDf, cents, k = 4)
      .collect()
      .map(r => (r.getInt(0), r.getDouble(2), r.getDouble(3))).toSeq
    trained.foreach { case (np, recall, frac) =>
      assert(recall === 1.0,
        s"trained cells give full recall at nProbe=$np: $trained")
      assert(frac < 0.5, s"probed-cell scan stays a fraction: $trained")
    }
    val frac1 = trained.find(_._1 == 1).get._3
    assert(frac1 < 0.2,
      s"one trained cell is ~4/39 of the candidates, got $frac1")
    // the label face on the same corpus: ONE label = one cell = every
    // arm scans the whole corpus — recall 1.0 bought at frac 1.0, the
    // cost axis q144 exists to document
    val label = SimilarityOps.annIvfRecallOn(embDf, k = 4)
      .collect().map(r => (r.getInt(0), r.getDouble(3))).toMap
    assert(label(1) === 1.0,
      s"single label-cell probing scans everything: $label")
  }

  test("codebook store: write/read round-trips the trained artifact " +
      "bit-identically, from-store search equals the inline path, and " +
      "appends/empties fail loud") {
    val (embDf, _) = plantedIvfCorpus
    val ivfCb = SimilarityOps.kmeansCentroids(embDf,
      SimilarityOps.IvfTrainK, SimilarityOps.IvfTrainIters)
    val pqCb = SimilarityOps.pqTrainedCodebook(embDf)
    val root = tmpDir("codebook-store")

    // round-trip: the loaded artifact IS the trained one, bit for bit
    SimilarityOps.writeCodebookStore(spark, ivfCb, s"$root/ivf",
      SimilarityOps.IvfTrainIters)
    SimilarityOps.writeCodebookStore(spark, pqCb, s"$root/pq",
      SimilarityOps.PqTrainIters)
    val ivfBack = SimilarityOps.readCodebookStore(spark, s"$root/ivf")
    assert(ivfBack.map(_.toSeq) === ivfCb.map(_.toSeq))
    assert(SimilarityOps.readCodebookStore(spark, s"$root/pq")
      .map(_.toSeq) === pqCb.map(_.toSeq))

    // train once, search forever: the from-store searches are
    // bit-identical to the inline-trained ones — zero retraining
    assert(SimilarityOps.annIvfWithCells(embDf, ivfBack, queryId = 0L,
        k = 4).collect().map(_.toSeq).toSeq
      === SimilarityOps.annIvfWithCells(embDf, ivfCb, queryId = 0L,
        k = 4).collect().map(_.toSeq).toSeq)
    assert(SimilarityOps.annPqWith(embDf,
        SimilarityOps.readCodebookStore(spark, s"$root/pq"))
        .collect().map(_.toSeq).toSeq
      === SimilarityOps.annPqWith(embDf, pqCb).collect().map(_.toSeq).toSeq)

    // a re-publish REPLACES (swap semantics): the store reads the new
    // artifact, not a union
    SimilarityOps.writeCodebookStore(spark, ivfCb.take(3), s"$root/ivf", 1)
    assert(SimilarityOps.readCodebookStore(spark, s"$root/ivf").length === 3)

    // accidental append on the live path → duplicate codeword rows must
    // refuse with the rebuild message, not silently rescore half an index
    import spark.implicits._
    pqCb.zipWithIndex.toSeq
      .map { case (c, i) => (i, c.toSeq, c.length, 1) }
      .toDF("cw", "centroid", "dim", "train_iters")
      .write.mode("append").parquet(s"$root/pq")
    val eDup = intercept[IllegalArgumentException] {
      SimilarityOps.readCodebookStore(spark, s"$root/pq")
    }
    assert(eDup.getMessage.contains("accidental append or partial write"))

    // an empty store (published from a broken trainer) fails loud too
    Seq.empty[(Int, Seq[Double], Int, Int)]
      .toDF("cw", "centroid", "dim", "train_iters")
      .write.mode("overwrite").parquet(s"$root/empty")
    val eEmpty = intercept[IllegalArgumentException] {
      SimilarityOps.readCodebookStore(spark, s"$root/empty")
    }
    assert(eEmpty.getMessage.contains("empty codebook store"))

    // a non-rectangular codebook never publishes
    val eRect = intercept[IllegalArgumentException] {
      SimilarityOps.writeCodebookStore(spark,
        Array(Array(1.0, 2.0), Array(3.0)), s"$root/bad", 1)
    }
    assert(eRect.getMessage.contains("rectangular"))
  }

  test("trainer degenerate shapes: k past the corpus size keeps a sane " +
      "codebook (one codeword per existing vector), emptied k-means " +
      "clusters keep their values, an all-corrupt table refuses to " +
      "train, and a missing query id is an empty search — not a crash") {
    import spark.implicits._
    val dim = SimilarityOps.Dim
    // 5 valid vectors, k = 8: init collects what exists — 5 codewords
    val five = (0L until 5L).map { i =>
      val v = Array.fill(dim)(0f); v(i.toInt) = 3f; (i, v, 0)
    }.toDF("vec_id", "embedding", "label")
    val cb = SimilarityOps.kmeansCentroids(five, k = 8, iters = 2)
    assert(cb.length === 5, "codebook holds the vectors that exist")
    assert(cb.forall(c => c.length == dim && !c.exists(_.isNaN)))
    val pq = SimilarityOps.pqTrainedCodebook(five, k = 8, iters = 2)
    assert(pq.length === 5 &&
      pq.forall(c => c.length == dim && !c.exists(_.isNaN)))
    // duplicate-heavy init (2 distinct vectors, k = 4): ties assign to
    // the LOWEST cluster, so the duplicate clusters empty every
    // iteration and must keep their init values — no NaN, no zero rows
    val dups = (0L until 6L).map { i =>
      val v = Array.fill(dim)(0f); v((i % 2).toInt) = 2f; (i, v, 0)
    }.toDF("vec_id", "embedding", "label")
    val cbd = SimilarityOps.kmeansCentroids(dups, k = 4, iters = 3)
    val legal = (0 until 2).map { c =>
      val v = Array.fill(dim)(0.0); v(c) = 2.0; v.toSeq
    }.toSet
    assert(cbd.length === 4 && cbd.forall(c => legal.contains(c.toSeq)),
      s"every codeword is a planted vector (updated mean or kept init)")
    // an all-corrupt (non-empty) table: ragged and null rows only — the
    // trainer's OWN message, distinct from the empty-frame guard
    val corrupt = Seq(
      (0L, Array.fill(3)(1.0f), 0),
      (1L, null.asInstanceOf[Array[Float]], 0))
      .toDF("vec_id", "embedding", "label")
    val e = intercept[IllegalArgumentException] {
      SimilarityOps.pqTrainedCodebook(corrupt)
    }
    assert(e.getMessage.contains("no valid full-dim vectors"))
    // a query id with no valid vector: empty probe ring, empty result
    assert(SimilarityOps.annIvfWithCells(five, cb, queryId = 99L)
      .count() === 0L)
  }

  test("trained IVF guards: an empty corpus refuses to train and an " +
      "empty codebook refuses to search, each with its own message") {
    import spark.implicits._
    val empty = Seq.empty[(Long, Array[Float], Int)]
      .toDF("vec_id", "embedding", "label")
    val e1 = intercept[IllegalArgumentException] {
      SimilarityOps.kmeansCentroids(empty)
    }
    assert(e1.getMessage.contains("no vectors to train on"))
    val e2 = intercept[IllegalArgumentException] {
      SimilarityOps.annIvfWithCells(empty, Array.empty)
    }
    assert(e2.getMessage.contains("empty coarse codebook"))
    val e3 = intercept[IllegalArgumentException] {
      SimilarityOps.annIvfRecallWithCells(empty, Array.empty)
    }
    assert(e3.getMessage.contains("empty coarse codebook"))
  }
}
