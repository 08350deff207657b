package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded synthetic traffic generation — the reference's demo/backfill
  * generators (app/utils.py:79-152 diurnal Gaussian + noise;
  * app/services/camera.py:106-134 time-of-day multiplier;
  * app/utils.py:16-30 location profiles).
  *
  * Determinism (SURVEY §7.4 hazard 6): the reference uses `random.*` —
  * irreproducible. Here noise is a PURE FUNCTION of (seed, ts): an
  * md5-derived uniform in [0,1). Same row → same value on any executor,
  * any partitioning, any engine (the DuckDB oracle reproduces it).
  * Generation is `sequence()`+`explode` — distributed, no driver loop.
  */
object Synthetic {

  /** Deterministic uniform [0,1) from a seed string and a column. */
  def u01(seed: String, c: Column): Column =
    (TextDedup.md5Hash60(concat(lit(seed), lit(":"), c.cast("string")))
      % 1000000L).cast("double") / 1000000.0

  /** Diurnal Gaussian curve value for an hour-of-day column:
    * peak * exp(-((h-mu)^2)/width) (app/utils.py:125-126). */
  def diurnal(hr: Column, peak: Double, mu: Double, width: Double): Column =
    lit(peak) * exp((hr.cast("double") - mu) * (hr.cast("double") - mu) * -1.0
      / lit(width))

  /** Generate an observation series: one row per `intervalSec` from
    * `startDate` for `days` days, value = diurnal curve ± jitter,
    * clamped to [0, cap] and truncated toward zero like the reference's
    * int() (hazard 4). */
  def series(s: SparkSession, startDate: String, days: Int, intervalSec: Long,
             peak: Double, mu: Double, width: Double, jitter: Double,
             cap: Double, seed: String): DataFrame = {
    val start = to_timestamp(lit(startDate))
    val n = days * 86400L / intervalSec
    s.range(1).select(explode(sequence(lit(0L), lit(n - 1))).as("i"))
      .withColumn("ts_epoch",
        unix_timestamp(start) + col("i") * intervalSec)
      .withColumn("ts", timestamp_seconds(col("ts_epoch")))
      .withColumn("hr", hour(col("ts")))
      .withColumn("raw",
        diurnal(col("hr"), peak, mu, width) +
          (u01(seed, col("ts_epoch")) * 2.0 - 1.0) * jitter)
      .withColumn("value",
        greatest(least(col("raw"), lit(cap)), lit(0.0)).cast("long"))
      .select(col("ts_epoch"), col("hr").cast("long").as("hr"), col("value"))
  }

  /** Demo-augment proportional class rescale — the reference's
    * post-multiplier count adjustment (app/services/camera.py:258-278):
    * the TOTAL is scaled by the traffic multiplier with Python `int()`
    * truncation, then each class count is re-derived as
    * `int(scaled_total * class/total_classes)` — the class RATIOS come
    * from the ORIGINAL counts, each class truncated independently (so
    * the rescaled classes may sum to less than the scaled total; that
    * loss is reference behavior, SURVEY hazard 4). When the original
    * class sum is 0 the classes are left untouched (the reference's
    * `if total_classes > 0` guard).
    *
    * Pure per-row projection — no shuffle, embarrassingly parallel at
    * any scale. All arithmetic is double with one final truncation per
    * output, in a fixed association order `(scaled_total * class) /
    * total` that the DuckDB oracle reproduces bit-exactly.
    */
  def augmentRescale(df: DataFrame, multCol: Column, totalCol: String,
                     classCols: Seq[String]): DataFrame = {
    val totalClasses = classCols.map(c => col(c).cast("double")).reduce(_ + _)
    val scaled = df.withColumn(s"scaled_$totalCol",
      (col(totalCol).cast("double") * multCol).cast("long"))
    classCols.foldLeft(scaled) { (d, c) =>
      d.withColumn(s"scaled_$c",
        when(totalClasses > 0,
          (col(s"scaled_$totalCol").cast("double") * col(c).cast("double")
            / totalClasses).cast("long"))
          .otherwise(col(c).cast("long")))
    }
  }
}
