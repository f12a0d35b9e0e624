package graft.operators

import org.apache.spark.sql.DataFrame

/** TEST-ONLY pre-checkpoint plan capture (round-16, closing the round-15
  * verdict's lint-blindness debt): an eager `localCheckpoint` truncates a
  * query's lineage, so PlanLintSpec's column-pruning probe — which walks
  * the FINAL physical plan for parquet scans — goes blind on every
  * operator that materializes a shared frame at construction (the q_chi2 /
  * q_token_lift caveat family). Operators route those checkpoints through
  * `cut`, which is `localCheckpoint(true)` exactly, plus one extra hand-off
  * of the PRE-checkpoint frame to an installed capture. Production
  * behavior is identical — `capture` is None outside tests, and the
  * capture itself only inspects plans, never rows. */
object PlanProbe {
  @volatile private[graft] var capture: Option[DataFrame => Unit] = None

  /** Eager localCheckpoint with the pre-checkpoint frame observed by the
    * installed test capture first. */
  def cut(df: DataFrame): DataFrame = {
    capture.foreach(_(df))
    df.localCheckpoint(true)
  }
}
