package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.util.Exact

/** A6 — exact percentile threshold fitting ("training").
  *
  * Reference semantics: per camera, `np.percentile(hourly_volumes,
  * [50, 75, 90])` + max → congestion thresholds catalog
  * (scripts/analyze_thresholds.py:30-60). numpy uses linear
  * interpolation — Spark's exact `percentile` implements the same
  * estimator (SURVEY.md §7.4 hazard 3: `percentile_approx` does NOT and
  * must not be used for the correctness contract; at 100 TB a
  * sketch-based `approx_percentile` variant is offered separately where
  * the consumer tolerates error).
  *
  * Input is the *hourly volume* series: `GROUP BY strftime('%Y-%m-%d %H')`
  * sums (A5, scripts/analyze_thresholds.py:33-44) — two chained hash
  * aggregates, both map-side-partial, both scale linearly.
  */
object Percentiles {

  /** The (key, hour_bucket) hourly-volume partials — the A5 grain, as
    * exact long units so partials from different batches merge by long
    * addition (the streaming training MV, Ingest.hourlyView). */
  def hourlyPartials(df: DataFrame, keyCol: String, tsCol: String,
                     valueCol: String): DataFrame =
    df.groupBy(col(keyCol), date_trunc("hour", col(tsCol)).as("hour_bucket"))
      .agg(Exact.unitsSum2(col(valueCol)).as("hourly_units"))

  /** Merge hourly-partial frames (full outer on (key, bucket), long
    * addition) — fitting from merged partials is bit-identical to
    * fitting from the concatenated history. */
  def mergeHourlyPartials(keyCol: String)(
      state: DataFrame, batch: DataFrame): DataFrame = {
    val keys = Seq(keyCol, "hour_bucket")
    val s = state.select(keys.map(col) :+ col("hourly_units").as("s_u"): _*)
    val b = batch.select(keys.map(col) :+ col("hourly_units").as("b_u"): _*)
    s.join(b, keys, "full_outer")
      .select(keys.map(col) :+
        (coalesce(col("s_u"), lit(0L)) + coalesce(col("b_u"), lit(0L)))
          .as("hourly_units"): _*)
  }

  /** Fit p50/p75/p90/max from (merged) hourly partials. The percentile
    * runs over the AGGREGATE (keys × hours rows), not raw history —
    * which is why the training path scales: the 100 TB never reaches
    * the sort. */
  def thresholdsFromHourly(hourly: DataFrame, keyCol: String): DataFrame =
    hourly
      .withColumn("hourly_volume",
        Exact.unitsToDouble2(col("hourly_units")))
      .groupBy(col(keyCol))
      .agg(
        // one percentile buffer+sort per group, not three: the array
        // form shares the sorted values across all requested quantiles
        percentile(col("hourly_volume"),
          array(lit(0.5), lit(0.75), lit(0.9))).as("_p"),
        max(col("hourly_volume")).as("max_volume"))
      .select(col(keyCol),
        round(col("_p")(0), 6).as("p50"),
        round(col("_p")(1), 6).as("p75"),
        round(col("_p")(2), 6).as("p90"),
        col("max_volume"))
      .orderBy(keyCol)

  /** Per-key hourly sums → per-key p50/p75/p90/max of hourly volume. */
  def thresholds(df: DataFrame, keyCol: String, tsCol: String,
                 valueCol: String): DataFrame =
    thresholdsFromHourly(hourlyPartials(df, keyCol, tsCol, valueCol), keyCol)

  /** Scale path: t-digest/approx variant for interactive 100 TB fitting
    * (NOT oracle-checked — different estimator by design). */
  /** Additive fixed-point VALUE HISTOGRAM — the mergeable sufficient
    * statistic for EXACT quantiles when the value domain is bounded
    * (2-dp sensor/traffic readings: the state is domain-cardinality
    * rows — tens of thousands — never data-cardinality). (unit, n)
    * counts of round(value·100); merge = long addition, so partials
    * from any batch split fold to the same histogram. */
  def valueHistPartial(df: DataFrame, valueCol: String): DataFrame =
    df.filter(col(valueCol).isNotNull)
      .groupBy(round(col(valueCol) * 100).cast("long").as("unit"))
      .agg(count(lit(1)).as("n"))

  def mergeValueHist(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b).groupBy(col("unit")).agg(sum(col("n")).as("n"))

  /** Exact quantiles from a value histogram, reproducing Spark's exact
    * `percentile` (and numpy's linear interpolation) bit-for-bit:
    * 0-based position = (N−1)·p over the sorted multiset;
    * q = v_lo·(⌈pos⌉−pos) + v_hi·(pos−⌊pos⌋) — the TWO-SIDED blend,
    * which is Spark's own Percentile form (pinned empirically: the
    * StreamingSpec bit-equality test distinguishes it from the
    * mathematically-equal one-sided v_lo + frac·(v_hi−v_lo) on e.g.
    * {…, 7.2, 8.2, …} at p=0.75 → 7.94 vs 7.9399999999999995 — the
    * forms differ in the last ulp at non-integral positions, so the
    * bit-identical contract demands this exact shape, mirrored in the
    * DuckDB oracle). v directly when the position is integral (the
    * same special case Spark's implementation takes — the blend would
    * collapse to 0 there). unit/100.0 is correctly rounded, hence
    * bit-identical to the original 2-dp double.
    *
    * One cumulative window over the histogram (single-partition BY
    * DESIGN: the histogram is domain-cardinality — the temperature-
    * waterfill precedent) and two bracketing joins per probability. */
  def quantilesFromHist(hist: DataFrame, probs: Seq[Double]): DataFrame = {
    require(probs.nonEmpty && probs.forall(p => p >= 0 && p <= 1))
    import org.apache.spark.sql.expressions.Window
    val w = Window.orderBy("unit")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = hist
      .withColumn("_hi_cum", sum(col("n")).over(w))
      .withColumn("_lo_cum", col("_hi_cum") - col("n"))
    val n = hist.agg(coalesce(sum(col("n")), lit(0L)).as("_N"))
    val session = hist.sparkSession
    import session.implicits._
    val pr = probs.toDF("p") // tiny literal frame
      .crossJoin(broadcast(n))
      .withColumn("_pos", (col("_N") - 1) * col("p"))
      .withColumn("_lower", floor(col("_pos")).cast("long"))
      .withColumn("_higher", ceil(col("_pos")).cast("long"))
    def bracket(out: String) =
      cum.select(col("unit").as(out), col("_lo_cum"), col("_hi_cum"))
    val withLo = pr.join(bracket("_ulo"),
      col("_lower") >= col("_lo_cum") && col("_lower") < col("_hi_cum"),
      "left").drop("_lo_cum", "_hi_cum")
    val withHi = withLo.join(bracket("_uhi"),
      col("_higher") >= col("_lo_cum") && col("_higher") < col("_hi_cum"),
      "left").drop("_lo_cum", "_hi_cum")
    withHi.select(col("p"),
        when(col("_N") === 0, lit(null).cast("double"))
          .when(col("_higher") === col("_lower"),
            col("_ulo").cast("double") / 100.0)
          .otherwise(
            (col("_ulo").cast("double") / 100.0) *
              (col("_higher") - col("_pos")) +
            (col("_uhi").cast("double") / 100.0) *
              (col("_pos") - col("_lower"))).as("q"))
      .orderBy("p")
  }

  def thresholdsApprox(df: DataFrame, keyCol: String, tsCol: String,
                       valueCol: String): DataFrame =
    df.groupBy(col(keyCol), date_trunc("hour", col(tsCol)).as("hour_bucket"))
      .agg(sum(col(valueCol)).as("hourly_volume"))
      .groupBy(col(keyCol))
      .agg(
        percentile_approx(col("hourly_volume"), array(lit(0.5), lit(0.75), lit(0.9)),
          lit(10000)).as("p"),
        max(col("hourly_volume")).as("max_volume"))
      .select(col(keyCol), col("p")(0).as("p50"), col("p")(1).as("p75"),
        col("p")(2).as("p90"), col("max_volume"))
      .orderBy(keyCol)
}
