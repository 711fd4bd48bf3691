package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.execution.{CoalesceExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.FinalSort
import org.apache.spark.sql.util.QueryExecutionListener

/** Pins the catalog-boundary [[FinalSort]] rule on the sf0.01 tables:
  *   (a) the catalog faces whose root sort sits on a grouped aggregate
  *       split into the rewritten ones, which plan no range-partitioning
  *       shuffle for a `noop` write, and the pinned few the rule leaves
  *       because their aggregate's input is already partitioned on a
  *       grouping key (q13's window), so a coalesce would pull the window
  *       or join below into one task;
  *   (b) under every coalesce a rewritten face executes, the stage down to
  *       the nearest shuffle only aggregates, projects, filters and sorts;
  *   (c) each rewritten face answers the same rows, in the same order, as
  *       its unwrapped operator-group twin;
  *   (d) a face whose sort sits on a join, generate or scan keeps its
  *       range sort (q52, q122), and so does q13.
  * The spec classifies each face from the twin's analyzed plan with its
  * own walk and pins both the rewritten count and the kept set, so a rule
  * that rewrites nothing, or a classifier that drifts, fails (a) rather
  * than shrinking the set the other checks cover.
  */
class FinalSortSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  /** The sf0.01 tables, beside the suite's sf0.001 ones. */
  private val sf = new java.io.File(sfDir).getParent + "/sf0.01"

  /** A root `Sort(global)` under Projects whose input, through Projects
    * and Filters, is a grouped `Aggregate`.
    */
  private def sortsGroupedAggregate(p: LogicalPlan): Boolean = {
    def grouped(q: LogicalPlan): Boolean = q match {
      case Project(_, c) => grouped(c)
      case Filter(_, c) => grouped(c)
      case a: Aggregate => a.groupingExpressions.nonEmpty
      case _ => false
    }
    p match {
      case Project(_, c) => sortsGroupedAggregate(c)
      case s: Sort => s.global && grouped(s.child)
      case _ => false
    }
  }

  /** The executed plan of a `noop` write of `df`. */
  private def written(df: DataFrame): SparkPlan = {
    @volatile var qe: Option[QueryExecution] = None
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, q: QueryExecution, ns: Long): Unit = qe = Some(q)
      def onFailure(f: String, q: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      df.write.format("noop").mode("overwrite").save()
      org.apache.spark.graft.ListenerBus.drain(spark.sparkContext)
    } finally spark.listenerManager.unregister(listener)
    qe.getOrElse(fail("the noop write reported no plan")).executedPlan
  }

  /** The range-partitioning shuffles of an executed plan, adaptive stages
    * and subqueries included.
    */
  private def rangeShuffles(plan: SparkPlan): Seq[SparkPlan] =
    collectWithSubqueries(plan) {
      case e: ShuffleExchangeExec
          if e.outputPartitioning.isInstanceOf[RangePartitioning] => e
    }

  /** The coalesces of an executed plan whose stage reaches below an
    * aggregate's shuffle.
    */
  private def unboundedCoalesces(plan: SparkPlan): Seq[SparkPlan] =
    collectWithSubqueries(plan) {
      case c: CoalesceExec if !PlanProbe.aggregationToShuffle(c.child) => c
    }

  /** How many faces sort a grouped aggregate and are rewritten. */
  private val RewrittenCount = 59

  /** The faces that sort a grouped aggregate the rule leaves as they are:
    * their aggregate's input is already partitioned on a grouping key.
    */
  private val Kept = Set("q13_user_sessions", "q61_token_packing",
    "q102_dup_spans", "q107_delta_spans")

  /** The timed relational faces of the catalog benchmark. */
  private val Relational =
    Set("q03_type_distribution", "q27_supplier_nation_revenue",
      "q82_session_transitions", "q86_above_type_average")

  test("every catalog face whose root sort sits on a grouped aggregate " +
      "plans no range shuffle, coalesces only aggregation and answers its " +
      "twin's rows in order, bar the pinned kept set") {
    val offenders = scala.collection.mutable.ArrayBuffer.empty[String]
    val rewritten = scala.collection.mutable.ArrayBuffer.empty[String]
    val kept = scala.collection.mutable.ArrayBuffer.empty[String]
    SparkEntry.faces.toSeq.sortBy(_._1).foreach { case (name, twin) =>
      val raw = twin(spark, sf)
      if (sortsGroupedAggregate(raw.queryExecution.analyzed)) {
        val face = SparkEntry.queries(name)(spark, sf)
        val plan = written(face)
        if (rangeShuffles(plan).nonEmpty) {
          kept += name
          if (FinalSort(raw) ne raw)
            offenders += s"$name keeps a range sort yet the rule rewrote it"
        } else {
          rewritten += name
          unboundedCoalesces(plan).foreach { c =>
            offenders += s"$name coalesces more than aggregation:\n$c"
          }
          val (got, want) = (face.collect().toSeq, raw.collect().toSeq)
          if (got != want)
            offenders += s"$name: ${got.size} rows differ from the twin's " +
              s"${want.size} (or their order does)"
        }
      }
      Tables.releaseCheckpoints(spark)
    }
    info(s"${rewritten.size} faces rewritten; kept: ${kept.sorted.mkString(", ")}")
    assert(offenders.isEmpty, offenders.mkString("\n"))
    assert(kept.toSet === Kept)
    assert(rewritten.size === RewrittenCount)
    assert(Relational.subsetOf(rewritten.toSet),
      Relational.diff(rewritten.toSet))
  }

  test("a face sorting a join, generate or scan keeps its range sort") {
    Seq("q52_frame_sample", "q122_training_manifest").foreach { name =>
      val raw = SparkEntry.faces(name)(spark, sf)
      assert(!sortsGroupedAggregate(raw.queryExecution.analyzed), name)
      assert(FinalSort(raw) eq raw, s"$name: the rule must leave it as is")
      val face = SparkEntry.queries(name)(spark, sf)
      assert(rangeShuffles(written(face)).nonEmpty, s"$name lost its range sort")
      Tables.releaseCheckpoints(spark)
    }
  }

  test("q13, grouped by its window's partition key, keeps its range sort") {
    val name = "q13_user_sessions"
    val raw = SparkEntry.faces(name)(spark, sf)
    assert(sortsGroupedAggregate(raw.queryExecution.analyzed))
    assert(FinalSort(raw) eq raw, "a coalesce would run q13's window in one task")
    assert(rangeShuffles(written(SparkEntry.queries(name)(spark, sf))).nonEmpty)
    Tables.releaseCheckpoints(spark)
  }

  test("the rule rewrites a sort over a grouped aggregate, through a " +
      "filter, and nothing else") {
    val t = spark.range(200).toDF("id").withColumn("k", col("id") % 7)
    val grouped = t.groupBy("k").agg(count(lit(1)).as("n"))
      .filter(col("n") > 0).orderBy(col("n").desc, col("k"))
    val g = FinalSort(grouped).queryExecution.analyzed
    assert(g.collectFirst { case s: Sort => s.global } === Some(false))
    assert(g.collectFirst {
      case r: Repartition => (r.numPartitions, r.shuffle)
    } === Some((1, false)))
    assert(FinalSort(grouped).collect().toSeq === grouped.collect().toSeq)
    val untouched = Seq(
      t.orderBy("id"),                                   // a scan
      t.agg(sum("id").as("s")).orderBy("s"),             // no grouping
      t.groupBy("k").count().orderBy("k").limit(3),      // a top-k
      t.join(t.groupBy("k").count(), "k").orderBy("id"), // a join
      // grouped by the window's partition key: no shuffle under the
      // aggregate, so a coalesce would run the window in one task
      t.withColumn("r", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy("k").orderBy("id")))
        .groupBy("k", "r").count().orderBy("k", "r"))
    untouched.foreach(df => assert(FinalSort(df) eq df, df.queryExecution.analyzed))
  }
}
