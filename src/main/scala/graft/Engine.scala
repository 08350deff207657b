package graft
import org.apache.spark.sql.SparkSession

/** The one engine session factory: Bench, Verify, Dev and the test
  * `SparkSpec` all build their session here, so every caller plans and
  * runs under the same confs. */
object Engine {
  def builder(cores: Int, timeZone: String = "UTC"): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", timeZone)
      .config("spark.ui.enabled", "false")
      // static conf: the default 100-entry codegen cache thrashes across
      // a 60-query suite (several codegen units each), forcing janino
      // recompiles on every timed rep
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      // AQE partition coalescing sizes post-shuffle partitions by
      // COMPRESSED BYTES, but this engine's decomposition/window ops
      // stack many CPU-heavy passes downstream of shuffles that
      // compress to a few MB (two-long grid rows) — the coalescer
      // collapsed those stages to 1-4 partitions and serialized them
      // (ts_residual_cusum: 11.5 s coalesced vs 1.4 s not, round 16).
      // At 32 shuffle partitions coalescing saves only sub-ms task
      // scheduling, so it is off in every engine session; on a real
      // cluster with TB-scale shuffles the byte model is accurate and
      // the flag can be re-enabled.
      .config("spark.sql.adaptive.coalescePartitions.enabled", "false")
      // keep every job in the status store so per-query job counts
      // (read via statusTracker job groups) never get evicted mid-run
      .config("spark.ui.retainedJobs", "100000")

  /** `getOrCreate` on `b` (an [[builder]], optionally with extra confs),
    * with Spark's own logging at WARN and the window-partition WARN
    * quieted. */
  def start(b: SparkSession.Builder): SparkSession = {
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    util.QuietLogs.suppressWindowWarns()
    spark
  }

  def session(cores: Int, timeZone: String = "UTC"): SparkSession =
    start(builder(cores, timeZone))
}
