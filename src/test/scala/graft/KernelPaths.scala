package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions.col
import org.scalatest.Assertions

/** The two-path checks: the one every native kernel pin runs its frame
  * through, and the one for connected components.
  */
object KernelPaths extends AdaptiveSparkPlanHelper with Assertions {

  /** Broadcast threshold setting that sends
    * [[graft.operators.Dedup.clustersFromPairs]] down its loop.
    */
  val LoopOnly = Seq("spark.sql.autoBroadcastJoinThreshold" -> "-1")

  /** Runs a kernel pin's frame on both evaluation paths and returns its
    * rows. The first run evaluates interpreted: whole-stage codegen and
    * expression codegen are off, and over a local frame
    * `ConvertToLocalRelation` folds the projection into a
    * `LocalTableScan` at plan time anyway. The second run turns codegen
    * back on, excludes that rule (from the adaptive re-optimizer too)
    * and keeps only the `kernelCols` (all columns if none are named),
    * since an interpreted higher-order reference column in the same
    * projection would keep it out of whole-stage codegen. That plan must
    * call a graft kernel inside a `WholeStageCodegenExec`, and its rows
    * must equal the interpreted ones (compared as strings, so -0.0 and
    * NaN count too; order-insensitive, for the joined pins).
    */
  def bothPaths(df: DataFrame, kernelCols: String*): Array[Row] = {
    val interpreted = withConf(df, Seq(
      "spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN"))(df.collect())
    val cols = if (kernelCols.isEmpty) df.columns.toSeq else kernelCols
    val noFold = "org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation"
    withConf(df, Seq("spark.sql.optimizer.excludedRules" -> noFold,
        "spark.sql.adaptive.optimizer.excludedRules" -> noFold)) {
      val gen = df.select(cols.map(col): _*)
      val generated = gen.collect()
      val plan = gen.queryExecution.executedPlan
      assert(collect(plan) { case w: WholeStageCodegenExec => w }
        .exists(_.child.exists(_.expressions.exists(_.exists {
          case s: StaticInvoke => s.staticObject.getName.startsWith("graft.")
          case _ => false
        }))), s"no graft kernel inside whole-stage codegen:\n$plan")
      val expected = interpreted.map(r =>
        Row.fromSeq(cols.map(c => r.get(r.fieldIndex(c)))))
      assert(generated.map(_.toString).sorted.toSeq
        == expected.map(_.toString).sorted.toSeq,
        "generated rows differ from interpreted rows")
    }
    interpreted
  }

  /** Runs [[graft.operators.Dedup.clustersFromPairs]] on a non-empty
    * pair list down both of its paths and returns the rows. At the
    * session's broadcast threshold the pairs must be solved on the
    * driver (a local frame, no loop rounds); under [[LoopOnly]] the loop
    * must run. Schemas and rows, in order, must be equal.
    */
  def componentPaths(pairs: DataFrame): Array[Row] = {
    import graft.operators.Dedup
    val (local, noRounds) = Dedup.clustersFromPairsCounted(pairs)
    assert(noRounds == 0 && local.queryExecution.analyzed.isInstanceOf[
      org.apache.spark.sql.catalyst.plans.logical.LocalRelation],
      s"expected the driver path:\n${local.queryExecution.analyzed}")
    val (loop, rounds, loopRows) = withConf(pairs, LoopOnly) {
      val (df, r) = Dedup.clustersFromPairsCounted(pairs)
      (df, r, df.collect())
    }
    assert(rounds > 0, "expected the pointer-doubling loop")
    assert(local.schema == loop.schema)
    val localRows = local.collect()
    assert(localRows.toSeq == loopRows.toSeq,
      "driver and loop components differ")
    localRows
  }

  private[graft] def withConf[T](df: DataFrame, kvs: Seq[(String, String)])(
      body: => T): T = {
    val conf = df.sparkSession.conf
    val prev = kvs.map { case (k, _) => k -> conf.getOption(k) }
    kvs.foreach { case (k, v) => conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }
}
