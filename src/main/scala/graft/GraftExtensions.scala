package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}

/** Session-extension entry point (`spark.sql.extensions=graft.GraftExtensions`
  * or `SparkSession.builder.withExtensions(new GraftExtensions)`): registers
  * the native vector expressions so SQL users get `graft_dot` /
  * `graft_normsq` / `graft_cosine` alongside the DataFrame API
  * ([[graft.functions.VectorOps]], which builds the expressions directly
  * and works in ANY session, extensions or not), the signature
  * aggregates `graft_minhash_sig`/`graft_simhash`
  * ([[graft.functions.expressions.SigAggs]]), plus the `graft_asof`
  * table-valued function ([[graft.plans.AsofTvf]]) so the as-of join's
  * custom exec is reachable from plain SQL, and two planner strategies:
  * the as-of join's ([[graft.plans.AsofJoinStrategy]]) and
  * [[graft.plans.ScanFilterParamStrategy]], which plans a store scan's
  * residual filter with its constants as codegen references, so sliced
  * reads compile once per plan shape. A session without the extensions
  * plans store scans as Spark does.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    graft.functions.expressions.VecExprs.registrations.foreach(ext.injectFunction)
    ext.injectFunction(graft.functions.expressions.EwmaWin.registration)
    ext.injectFunction(graft.functions.expressions.CusumWin.registration)
    graft.functions.expressions.SigAggs.registrations.foreach(ext.injectFunction)
    ext.injectTableFunction(graft.plans.AsofTvf.registration)
    ext.injectTableFunction(graft.plans.StoreTvf.registration)
    ext.injectTableFunction(graft.plans.StoreChangesTvf.registration)
    ext.injectOptimizerRule(_ => graft.plans.RewriteSelfDotToNormSq)
    ext.injectPlannerStrategy(_ => graft.plans.AsofJoinStrategy)
    ext.injectPlannerStrategy(s => graft.plans.ScanFilterParamStrategy(s))
  }
}

object GraftExtensions {
  /** The local session the mains (Bench, Verify, ScaleSmoke) run on:
    * `local[cpus]` with graft's extensions, one shuffle partition per
    * core, UTC session time, no UI.
    */
  def localSession(cpus: String): SparkSession =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
}
