package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.functions.col

/** Shared plumbing for the codegen'd text kernels. */
private[graft] object Kernels {

  /** Buy parallelism for a compute-bound kernel whose scan planned fewer
    * splits than cores are worth: narrow to exactly the needed columns and
    * round-robin them across min(16, 2×cores) tasks. A small
    * heavily-compressed text table lands in ONE split (zstd packs text
    * ~50×), putting a fused kernel on one core; a <8-split scan is
    * ≤ ~1 GB of input by construction (maxPartitionBytes), so the
    * exchange is bounded and never appears at corpus scale, where the
    * file layout supplies the splits. The bar is core-relative because
    * parquet bin-packing already targets ~defaultParallelism splits. A
    * kernel applied to the result stays above the repartition: the
    * optimizer does not push Generate nodes through an exchange (a plain
    * Project would be pushed back down).
    *
    * The decision never executes its input. Only a shuffle-free planned
    * plan (no `Exchange`, no `AdaptiveSparkPlanExec` root) is probed for
    * its split count: there `.rdd.getNumPartitions` is static and fires
    * no job. An input below an exchange — a join, an aggregate, a
    * distinct — is returned narrowed but unspread: its parallelism is
    * whatever the shuffle and AQE give it. Under AQE the probe itself
    * would run every upstream shuffle stage at build time, and the action
    * would then run the same stages again. Deciding still pays a full
    * physical planning of the input, so a caller whose input always sits
    * below an exchange (a semi-join's output) gains nothing from the call
    * and does not make it.
    *
    * r22 NEGATIVE RESULT, do not re-try: widening the gate to
    * `parts < cores` (so a 16-file sf1 corpus spreads on 32 cores) with
    * a 2×cores target made q30 at sf1 WORSE, 1.7-1.9 → 2.05-2.22 s warm
    * — a keyless repartition first pays a local sort of its input
    * (spark.sql.execution.sortBeforeRepartition, needed for retry
    * determinism) plus serialize/compress of ~50 MB of text both sides,
    * which costs more than halving the shingle-kernel stage's task
    * walls buys back. The 8-split gate and 16-task cap stand as
    * measured.
    */
  def spread(df: DataFrame, cols: Seq[String]): DataFrame = {
    val narrow = df.select(cols.map(col): _*)
    val planned = narrow.queryExecution.executedPlan
    val shuffled = planned.isInstanceOf[AdaptiveSparkPlanExec] ||
      planned.exists(_.isInstanceOf[Exchange])
    val cores = df.sparkSession.sparkContext.defaultParallelism
    if (shuffled || narrow.rdd.getNumPartitions >= math.min(8, cores)) narrow
    else narrow.repartition(math.min(16, 2 * cores))
  }
}
