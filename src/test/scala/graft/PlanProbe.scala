package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{Cast, EqualTo, Expression, NamedExpression}
import org.apache.spark.sql.execution._
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.joins.{BaseJoinExec, CartesianProductExec}
import org.apache.spark.sql.execution.window.WindowExec

/** THE plan-shape walker shared by the executable scale invariants —
  * [[WindowBoundednessSpec]] (no corpus-sized global window) and
  * [[JoinBoundednessSpec]] (no corpus×corpus product) — one definition
  * of "this subtree cannot be corpus-sized", so the two invariants
  * cannot drift apart the way two hand-maintained walkers would.
  */
object PlanProbe {

  /** True when every row path from `p` upward passes through a
    * row-contracting node: aggregates, limits, and bounded window rungs
    * terminate the walk; unary nodes pass through; joins require every
    * child bounded (a join only multiplies bounded inputs); leaves fail.
    */
  def boundedBelow(p: SparkPlan): Boolean = p match {
    case _: BaseAggregateExec => true
    case _: GlobalLimitExec | _: LocalLimitExec |
        _: TakeOrderedAndProjectExec => true
    // a lower window rung is fine iff it is itself bounded below — the
    // offset-ladder / rollup shape (window over aggregate)
    case w: WindowExec => boundedBelow(w.child)
    // CartesianProductExec extends BaseJoinExec, so this covers it too
    case j: BaseJoinExec => j.children.forall(boundedBelow)
    case u: UnionExec => u.children.forall(boundedBelow)
    // a Generate (explode) multiplies rows by a DATA-DEPENDENT array
    // length — an aggregate-then-re-expand subtree is corpus-sized
    // again, so explode does NOT inherit its child's boundedness
    case _: GenerateExec => false
    // exchange reuse replaces a subtree with a leaf pointing at the
    // original — boundedness is the original's
    case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec =>
      boundedBelow(r.child)
    // local literal relations are bounded by construction
    case _: LocalTableScanExec => true
    case leaf if leaf.children.isEmpty => false
    // projections, filters, sorts, exchanges, expands: row counts pass
    // through (or shrink / multiply by a constant factor) — recurse
    case other => other.children.forall(boundedBelow)
  }

  /** True when `p` is a POINT PROBE: a pass-through unary chain over a
    * filter carrying at least one `attribute = literal` equality
    * conjunct — the `vec_id === queryId` query-row idiom of every ANN
    * face (the one crossJoin side that is tiny without being an
    * aggregate or a limit). NOT a row-count guarantee: equality on a
    * non-key column could still select half the corpus — the invariant
    * accepts the idiom because every audited site probes a key, and the
    * falsifiability arms pin that a bare scan or a non-equality filter
    * does NOT qualify. Generate is excluded like in [[boundedBelow]].
    */
  def pointProbeBelow(p: SparkPlan): Boolean = p match {
    case f: FilterExec if hasPointEquality(f.condition) => true
    case _: GenerateExec => false
    case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec =>
      pointProbeBelow(r.child)
    case other if other.children.size == 1 =>
      pointProbeBelow(other.children.head)
    case _ => false
  }

  /** A join side that cannot blow up a product: row-contracted, or the
    * point-probe idiom.
    */
  def boundedSideOk(p: SparkPlan): Boolean =
    boundedBelow(p) || pointProbeBelow(p)

  private def stripCastsAndAliases(e: Expression): Expression = e match {
    case c: Cast => stripCastsAndAliases(c.child)
    case a: org.apache.spark.sql.catalyst.expressions.Alias =>
      stripCastsAndAliases(a.child)
    case other => other
  }

  private def conjuncts(e: Expression): Seq[Expression] = e match {
    case org.apache.spark.sql.catalyst.expressions.And(l, r) =>
      conjuncts(l) ++ conjuncts(r)
    case other => Seq(other)
  }

  /** A top-level AND-conjunct must BE the attribute = literal equality —
    * not merely contain one: `vec_id =!= q` is Not(EqualTo) (corpus minus
    * one row) and `id === 0 || text.isNotNull` hides the equality inside
    * a disjunct (whole corpus); `cond.exists` would bless both, silently
    * re-opening the corpus-broadcast class this walker gates (the r12
    * review finding — same family as Generate-inherits-boundedness).
    */
  private def hasPointEquality(cond: Expression): Boolean =
    conjuncts(cond).exists {
      case EqualTo(a, b) =>
        val (sa, sb) = (stripCastsAndAliases(a), stripCastsAndAliases(b))
        (sa.isInstanceOf[NamedExpression] && sb.foldable) ||
          (sb.isInstanceOf[NamedExpression] && sa.foldable)
      case _ => false
    }

  /** True when the stage `p` heads, down to the nearest shuffle, only
    * aggregates, projects, filters and sorts rows: the work a coalesce to
    * one task over `p` pulls into that task is merging the shuffled rows
    * of an aggregate, not a window, join or scan. Walks an executed
    * adaptive plan (query stages, shuffle reads) or a pre-execution one.
    */
  def aggregationToShuffle(p: SparkPlan): Boolean = p match {
    case _: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike |
        _: org.apache.spark.sql.execution.exchange.ReusedExchangeExec |
        _: org.apache.spark.sql.execution.adaptive.ShuffleQueryStageExec |
        _: org.apache.spark.sql.execution.adaptive.AQEShuffleReadExec => true
    case _: BaseAggregateExec | _: ProjectExec | _: FilterExec | _: SortExec |
        _: WholeStageCodegenExec | _: InputAdapter =>
      aggregationToShuffle(p.children.head)
    case _ => false
  }

  /** The query's physical plan with an adaptive root unwrapped: under
    * AQE (the session default) `executedPlan` is an
    * `AdaptiveSparkPlanExec` LEAF, so a bare `collect` would see no
    * operator at all — the invariant would silently pass on every
    * query. Pre-execution the adaptive root's current plan IS the
    * initial plan, so the walk sees the same tree the AQE-off planner
    * produces (modulo runtime re-optimization, which only ever replaces
    * a shuffle join with a broadcast of a measured-small side).
    */
  def physical(df: DataFrame): SparkPlan =
    df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
}
