package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Aggregates every operator group's named queries and their DuckDB oracle
  * SQL twins. Column names are aliased identically on both sides (the
  * driver's compare sorts columns by name before hashing values).
  */
object SparkEntry {

  private type Face = (SparkSession, String) => DataFrame

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * Reference's flagship question: top-10 counterparty exposure
    * (dashboard.py:164-165) → top-10 users by total event value.
    */
  def entry(spark: SparkSession): DataFrame =
    ops.EventOps.topUsers(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2, each through
    * the catalog-boundary [[org.apache.spark.sql.graft.FinalSort]] rule
    * (a root sort of a grouped aggregate over a shuffle runs in one
    * partition).
    */
  def queries: Map[String, Face] =
    faces.map { case (name, face) =>
      name -> ((s: SparkSession, dir: String) =>
        org.apache.spark.sql.graft.FinalSort(face(s, dir)))
    }

  /** The operator families, each as (name, its faces, their DuckDB oracle
    * twins): the one list behind [[faces]], [[oracleSql]] and `Bench`'s
    * per-family subtotals.
    */
  private[graft] def families: Seq[(String, Map[String, Face],
      Map[String, String])] = Seq(
    ("events", ops.EventOps.queries, ops.EventOps.oracle),
    ("relational", ops.RelationalOps.queries, ops.RelationalOps.oracle),
    ("text", ops.TextOps.queries, ops.TextOps.oracle),
    ("dedup", ops.DedupOps.queries, ops.DedupOps.oracle),
    ("similarity", ops.SimilarityOps.queries, ops.SimilarityOps.oracle),
    ("multimodal", ops.MultimodalOps.queries, ops.MultimodalOps.oracle),
    ("temporal", ops.TemporalOps.queries, ops.TemporalOps.oracle),
    ("curation", ops.CurationOps.queries, ops.CurationOps.oracle),
    ("search", ops.SearchOps.queries, ops.SearchOps.oracle),
    ("stat", ops.StatOps.queries, ops.StatOps.oracle),
    ("span", ops.SpanOps.queries, ops.SpanOps.oracle),
    ("scrub", ops.ScrubOps.queries, ops.ScrubOps.oracle),
    ("bpe", ops.BpeOps.queries, ops.BpeOps.oracle))

  /** The operator groups' own faces, merged, without the catalog rule. */
  private[graft] def faces: Map[String, Face] =
    families.map(_._2).reduce(_ ++ _)

  /** The catalog query a name or prefix stands for: the exact key first,
    * then the `qNN_` boundary match (`q10` is `q10_json_props`, not
    * `q100_…`/`q101_…`), then a unique prefix. No match or an ambiguous
    * prefix is an error.
    */
  def resolve(prefix: String): (String, Face) = {
    val qs = queries
    qs.get(prefix).map(prefix -> _).getOrElse {
      val hits = qs.toSeq.filter(_._1.startsWith(prefix)).sortBy(_._1)
      (hits.filter(_._1.startsWith(prefix + "_")), hits) match {
        case (Seq(q), _) => q
        case (_, Seq(q)) => q
        case (_, Seq()) =>
          throw new IllegalArgumentException(s"no query named $prefix")
        case (_, many) => throw new IllegalArgumentException(
          s"ambiguous prefix $prefix: ${many.map(_._1).mkString(", ")}")
      }
    }
  }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted keys → weaker rows-only check.
    */
  def oracleSql: Map[String, String] = families.map(_._3).reduce(_ ++ _)
}
