package graft

import graft.obs.QueryMetrics
import graft.ops.DataQueries

/** Round 14: RankKernel's pass 2 moved to the driver — the collect job
  * that materializes the offset table must now END at the map-combined
  * pass-1 aggregate. A shuffled aggregate is 2 stages (map + reduce);
  * the old in-plan offset window added a third (exchange by the bare
  * stratum + sort + the running-sum Window ops). This spec pins the
  * job shape so the window can't silently creep back into the collect
  * job.
  */
class KernelJobShapeSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"

  test("kernel offset collect job is agg-only: ≤ 2 stages per driver action") {
    // building the frame runs the kernel's driver actions (the narrow
    // signal checkpoint + the offset collect); no output action yet
    val (df, m) = QueryMetrics.of(spark)(DataQueries.tokenBudget(spark, sf))
    val counts = m.stagesPerJob
    assert(counts.nonEmpty, "expected the kernel's driver actions to run jobs")
    // job 1 = the localCheckpoint of the scored frame (1 stage);
    // job 2 = the offset-table collect: scan + groupBy aggregate =
    // exactly 2 stages. The pre-round-14 shape was 3+ (agg + the
    // bare-stratum offset window's exchange).
    assert(counts.forall(_ <= 2),
      s"a kernel driver action grew past the agg-only shape: stages per job = $counts")
    // and the prune path still yields the budgeted rows
    assert(df.count() > 0)
  }
}
