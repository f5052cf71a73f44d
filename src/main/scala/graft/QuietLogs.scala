package graft

/** Log hygiene for the harness mains: two warnings that carry no
  * information the build does not already enforce, each raised to ERROR
  * on its own logger so everything else keeps warning.
  *
  *  - WindowExec's "No Partition Defined" warning fires once per
  *    execution of every single-partition window, flooding VERIFY/BENCH
  *    tails with hundreds of identical lines that bury the real planner
  *    warnings (r12's dropped broadcast hints were found via exactly such
  *    a buried log line). Every unpartitioned window in the registry is
  *    audited bounded-by-construction by [[PlanSweep]]
  *    (`boundedWindowAllowlist`, gated by CoverageGuardSpec).
  *  - Unpersisting a local checkpoint (`Pins.release`, `Pins.scoped`, the
  *    end of every `graft.Run`) makes `MapPartitionsRDD` (the RDD behind
  *    `Dataset.localCheckpoint`) log "RDD N was locally checkpointed, its
  *    lineage has been truncated and cannot be recomputed after
  *    unpersisting" — 283 lines in one sf0.001 Verify. Releasing a pin
  *    only after its last reader is what `Pins` does by design, and
  *    `PinLeakSpec`/`RunSpec` gate it.
  */
object QuietLogs {
  /** Both audited warnings; what `Harness.session()` sets. */
  def suppressAuditedWarnings(): Unit = {
    suppressAuditedWindowWarning()
    toError("org.apache.spark.rdd.MapPartitionsRDD")
  }

  /** The window warning alone (the benchmark's own session sets this). */
  def suppressAuditedWindowWarning(): Unit =
    toError("org.apache.spark.sql.execution.window.WindowExec")

  private def toError(logger: String): Unit =
    try org.apache.logging.log4j.core.config.Configurator.setLevel(
      logger, org.apache.logging.log4j.Level.ERROR)
    catch { case _: Throwable => () } // log backend absent: keep the noise
}
