package graft

import org.apache.spark.sql.functions._

/** Pins the round-10 fix for the r09 ADVICE staleness hazard: the
  * duplicate-multiplicity dispatch memo (`SimilarityOps.dupMultForDir`)
  * used to key on the raw directory STRING, so a directory regenerated
  * within one JVM (ScaleUp reruns, in-place corpus rewrites) served a stale
  * multiplicity — and in the gated regime the two dispatch arms are not
  * output-equal, so stale dispatch could change q64/q132 results. The memo
  * now keys on (canonical path, part-file signature): a rewrite changes
  * the signature, so the next probe re-runs without anyone calling the
  * invalidation hook.
  */
class DupMultCacheSpec extends SparkSpec {

  import spark.implicits._

  private def writeEmb(dir: String, copies: Int): Unit = {
    val base = (0 until 4).map(i =>
      (i.toLong, Seq.fill(8)(i.toFloat + 1f), i % 2))
    val rows = (0 until copies).flatMap(c =>
      base.map { case (id, e, l) => (id + 10L * c, e, l) })
    rows.toDF("vec_id", "embedding", "label")
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$dir/embeddings.parquet")
  }

  test("a rewritten embeddings dir re-probes multiplicity (no stale memo)") {
    val dir = tmpDir("graft-dupmult")
    writeEmb(dir, copies = 1)
    assert(ops.SimilarityOps.dupMultForDir(spark, dir) === 1L)
    // rewrite IN PLACE with every (label, embedding) group duplicated 300×
    // — past the 256 dispatch gate; a raw-string-keyed memo would still
    // answer 1 and keep q64/q132 on the direct arm
    writeEmb(dir, copies = 300)
    assert(ops.SimilarityOps.dupMultForDir(spark, dir) === 300L)
    // relative-path aliasing must not resurrect the stale entry either:
    // the key is the canonical path + signature, so both spellings agree
    val aliased = dir + "/./"
    assert(ops.SimilarityOps.dupMultForDir(spark, aliased) === 300L)
  }

  test("snapshot keys see NESTED layouts: a rewrite under a partition " +
      "subdirectory changes the key (r10 ADVICE: top-level-only listing " +
      "read a partitioned table as an empty signature)") {
    val dir = tmpDir("graft-snapkey")
    val leaf = new java.io.File(s"$dir/label=0")
    leaf.mkdirs()
    java.nio.file.Files.write(leaf.toPath.resolve("part-0.parquet"),
      "v1".getBytes)
    val k1 = Tables.pathSnapshotKey(dir)
    java.nio.file.Files.write(leaf.toPath.resolve("part-0.parquet"),
      "v2-longer".getBytes)
    val k2 = Tables.pathSnapshotKey(dir)
    assert(k1 !== k2,
      s"nested rewrite must change the snapshot key: $k1 vs $k2")
  }

  test("pathSnapshotKey terminates on a symlink cycle and keys on the " +
      "real files only (r11 review: the recursive walk must not follow " +
      "links)") {
    val dir = tmpDir("graft-symlink")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "part-0.parquet"), "v1".getBytes)
    // dir/loop -> dir: unbounded without the link guard
    java.nio.file.Files.createSymbolicLink(
      java.nio.file.Paths.get(dir, "loop"), java.nio.file.Paths.get(dir))
    val k = Tables.pathSnapshotKey(dir) // must return, not overflow
    assert(k.contains("#1#"), s"one real file expected in the key: $k")
  }

  test("pathSnapshotKey includes SYMLINKED regular files via their " +
      "target's (length, mtime) — a table staged via linked part-files " +
      "re-keys when the link targets are rewritten (r12 ADVICE: the " +
      "recursive walk used to skip all symlinks, freezing the key)") {
    val dir = tmpDir("graft-symfile")
    val targetDir = tmpDir("graft-symfile-targets")
    val target = java.nio.file.Paths.get(targetDir, "part-0.parquet")
    java.nio.file.Files.write(target, "v1".getBytes)
    java.nio.file.Files.createSymbolicLink(
      java.nio.file.Paths.get(dir, "part-0.parquet"), target)
    val k1 = Tables.pathSnapshotKey(dir)
    assert(k1.contains("#1#"),
      s"the linked part-file must contribute to the signature: $k1")
    java.nio.file.Files.write(target, "v2-longer".getBytes)
    val k2 = Tables.pathSnapshotKey(dir)
    assert(k1 !== k2,
      s"rewriting the link TARGET must change the key: $k1 vs $k2")
  }

  test("pathSnapshotKey fails loud past depth 16 instead of silently " +
      "truncating the signature (a truncated key never changes on " +
      "rewrite — the exact stale-memo hazard the key exists to retire)") {
    val dir = tmpDir("graft-deep")
    val deep = (1 to 18).foldLeft(new java.io.File(dir)) { (d, i) =>
      val n = new java.io.File(d, s"d$i"); n.mkdirs(); n
    }
    java.nio.file.Files.write(
      deep.toPath.resolve("part-0.parquet"), "v1".getBytes)
    val e = intercept[IllegalStateException](Tables.pathSnapshotKey(dir))
    assert(e.getMessage.contains("depth 16"), e.getMessage)
  }

  test("snapshotMemo: a compute that THROWS leaves the memo untouched — " +
      "callers on the previous snapshot keep their entry (r12 ADVICE: " +
      "evict-before-compute dropped the valid entry on a transient " +
      "probe failure)") {
    val cache = scala.collection.concurrent.TrieMap.empty[String, Long]
    var probes = 0
    def probe(v: Long): Long = { probes += 1; v }
    assert(Tables.snapshotMemo(cache, "/g", "snap1")(probe(1L)) === 1L)
    intercept[RuntimeException](Tables.snapshotMemo(cache, "/g", "snap2")(
      throw new RuntimeException("transient FS failure")))
    assert(cache.size === 1, s"failed compute must not evict: ${cache.keySet}")
    assert(Tables.snapshotMemo(cache, "/g", "snap1")(probe(99L)) === 1L)
    assert(probes === 1, "the surviving entry must still serve hits")
  }

  test("snapshotMemo under concurrent evict/insert: a key is always " +
      "paired with its own snapshot's value, and one sequential call " +
      "re-bounds the group (the documented self-healing worst case, " +
      "pinned with threads rather than prose)") {
    val cache = scala.collection.concurrent.TrieMap.empty[String, String]
    val errs = new java.util.concurrent.atomic.AtomicInteger
    val threads = (0 until 4).map { t =>
      new Thread(() => {
        var i = 0
        while (i < 500) {
          val key = s"snap${(i + t) % 3}"
          val v = Tables.snapshotMemo(cache, "/g", key)(s"val-$key")
          if (v != s"val-$key") errs.incrementAndGet()
          i += 1
        }
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    assert(errs.get === 0,
      "a key must never serve another snapshot's value")
    assert(cache.size <= 3,
      s"group must stay bounded by the live key set: ${cache.keySet}")
    Tables.snapshotMemo(cache, "/g", "snapFinal")("val-snapFinal")
    assert(cache.size === 1,
      s"one fresh-snapshot call must retire every stale entry: ${cache.keySet}")
  }

  test("snapshotMemo retires a group's prior snapshot entries instead of " +
      "stranding them (bounded memo in a regenerate-in-a-loop JVM)") {
    val cache = scala.collection.concurrent.TrieMap.empty[String, Long]
    var probes = 0
    def probe(v: Long): Long = { probes += 1; v }
    assert(Tables.snapshotMemo(cache, "/g", "snap1")(probe(1L)) === 1L)
    assert(Tables.snapshotMemo(cache, "/g", "snap1")(probe(99L)) === 1L)
    assert(probes === 1, "second identical-snapshot call must hit the memo")
    assert(Tables.snapshotMemo(cache, "/other", "snapX")(probe(7L)) === 7L)
    // a FRESH snapshot of /g evicts its stale entry but not /other's
    assert(Tables.snapshotMemo(cache, "/g", "snap2")(probe(2L)) === 2L)
    assert(cache.size === 2,
      s"stale /g#snap1 must be retired, /other kept: ${cache.keySet}")
    assert(Tables.snapshotMemo(cache, "/other", "snapX")(probe(99L)) === 7L,
      "other group's entry must survive the eviction")
  }
}
