package graft.util

/** Shared log hygiene for every engine session (`graft.Engine.start`:
  * Bench, Verify, Dev and the specs): every unpartitioned window in the
  * library sits over a bounded post-aggregation frame (value-domain
  * histogram, per-source rate table, per-type shares — each justified
  * at its call site), so the per-task "No Partition Defined for Window
  * operation" WARN is noise that floods gate logs and buries real
  * warnings. Quieting it centrally keeps the correctness-gate output
  * signal-only. */
object QuietLogs {
  def suppressWindowWarns(): Unit =
    Seq("org.apache.spark.sql.execution.window.WindowExec",
      "org.apache.spark.sql.execution.window.WindowExecBase",
      "org.apache.spark.sql.execution.window.WindowGroupLimitExec")
      .foreach(l => org.apache.logging.log4j.core.config.Configurator
        .setLevel(l, org.apache.logging.log4j.Level.ERROR))
}
