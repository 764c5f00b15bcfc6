package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.SparkStrategy
import graft.functions._

/** What a graft session is: the settings every graft main and test
  * session shares, and the native surface (expressions, optimizer
  * rewrites, planner strategy) that [[GraftExtensions]] injects and
  * [[graft.functions.GraftFunctions.register]] retrofits — both install
  * from the one table below, so neither can drift from the other. */
object Session {

  /** A local builder with graft's settings: `local[cpus]` with as many
    * shuffle partitions, the extensions, a UTC session clock, TIMESTAMP
    * (NANOS) parquet read as long (Tables.events normalizes it) and no
    * UI. Callers chain their own extras before `getOrCreate()`. */
  def builder(cpus: Int): SparkSession.Builder = SparkSession.builder()
    .master(s"local[$cpus]")
    .config("spark.sql.extensions", "graft.GraftExtensions")
    .config("spark.sql.shuffle.partitions", cpus.toString)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.ui.enabled", "false")

  private def fn(name: String, cls: Class[_ <: Expression])(
      build: Seq[Expression] => Expression) =
    (FunctionIdentifier(name), new ExpressionInfo(cls.getCanonicalName, name), build)

  /** Every graft-native SQL function, in registration order. */
  val functions: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    fn("graft_dot", classOf[DotProduct])(e => DotProduct(e(0), e(1))),
    fn("graft_qdot", classOf[QuantDot])(e => QuantDot(e(0), e(1))),
    fn("graft_qdist2", classOf[QuantDist2])(e => QuantDist2(e(0), e(1))),
    fn("graft_intersect_count", classOf[IntersectCount])(e => IntersectCount(e(0), e(1))),
    fn("graft_shingle3", classOf[Shingle3])(e => Shingle3(e(0))),
    fn("graft_simhash64", classOf[SimHash64])(e => SimHash64(e(0))),
    fn("graft_hyperband", classOf[HyperBand])(e => HyperBand(e(0))),
    fn("graft_sid60", classOf[Sid60])(e => Sid60(e(0))),
    fn("graft_shingle_sids", classOf[ShingleSids])(e => ShingleSids(e(0))),
    fn("graft_posting_records", classOf[PostingRecords])(e => PostingRecords(e(0))),
    // the window width is a plan-time constant of the expression
    fn("graft_window_sids", classOf[WindowSids])(e =>
      WindowSids(e(0), e(1).eval().asInstanceOf[Number].intValue())),
    fn("graft_capped_list", classOf[CappedList])(e => CappedList(e(0), e(1))),
    fn("graft_repstats", classOf[RepStats])(e => RepStats(e(0))),
    fn("graft_mg_topk", classOf[MisraGries])(e => MisraGries(e(0), e(1))),
    fn("graft_kmv", classOf[Kmv])(e => Kmv(e(0), e(1))),
    fn("graft_topk_min", classOf[TopKMin])(e => TopKMin(e(0), e(1))),
    fn("graft_geohash8", classOf[Geohash8])(e => Geohash8(e(0), e(1))),
    fn("graft_hilbert", classOf[HilbertD])(e => HilbertD(e(0), e(1), e(2))),
    fn("graft_pair_codes", classOf[PairCodes])(e => PairCodes(e(0))),
    fn("graft_ray_cross", classOf[RayCrossings])(e => RayCrossings(e(0), e(1), e(2), e(3))),
    fn("graft_clip", classOf[ClipBox])(e => ClipBox(e(0), e(1), e(2))),
    fn("graft_dp", classOf[DpSimplify])(e => DpSimplify(e(0), e(1), e(2))),
    fn("graft_reproject", classOf[Reproject])(e => Reproject(e(0), e(1), e(2))))

  /** Optimizer rewrites, in application order: interpreted
    * `size(filter(a, x -> array_contains(b, x)))` lambdas → the
    * codegen'd hash probe, then constant-width interval joins →
    * bucketed equi-joins instead of BroadcastNestedLoopJoin. */
  val rules: Seq[Rule[LogicalPlan]] =
    Seq(graft.plans.IntersectCountRewrite, graft.plans.RangeJoinRewrite)

  /** Physical planning for the first-class as-of join node. */
  val strategies: Seq[SparkStrategy] = Seq(graft.plans.AsofJoinStrategy)
}

/** SparkSessionExtensions entry point: `spark.sql.extensions=
  * graft.GraftExtensions` gives every session — including ones created
  * by spark-submit on a real cluster — the [[Session]] native surface
  * without calling GraftFunctions.register by hand. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    Session.functions.foreach(ext.injectFunction)
    Session.rules.foreach(r => ext.injectOptimizerRule(_ => r))
    Session.strategies.foreach(s => ext.injectPlannerStrategy(_ => s))
  }
}
