package graft

import graft.ops.{Percentiles, Scalars, TimeBuckets}
import org.apache.spark.sql.functions._
import java.sql.Timestamp

/** Pins the known semantic hazards from SURVEY §7.4 — each of these has
  * silently shifted results in at least one engine port before. */
class HazardsSpec extends SparkSpec {
  import spark.implicits._

  test("DOW mapping: SQLite %w (0=Sun) = Spark dayofweek - 1") {
    // 2024-02-04 is a Sunday; 2024-02-05 a Monday
    val d = Seq(
      (1L, Timestamp.valueOf("2024-02-04 12:00:00")),
      (2L, Timestamp.valueOf("2024-02-05 12:00:00"))).toDF("id", "ts")
    val out = d.select(col("id"), (dayofweek(col("ts")) - 1).as("w"))
      .orderBy("id").as[(Long, Int)].collect()
    assert(out(0)._2 == 0) // Sunday → %w = 0
    assert(out(1)._2 == 1) // Monday → %w = 1
  }

  test("percentile (exact) matches numpy linear interpolation, not approx") {
    // numpy.percentile([1,2,3,4], 75) = 3.25 (linear interpolation)
    val d = Seq(1.0, 2.0, 3.0, 4.0).toDF("v")
    val exact = d.agg(percentile(col("v"), lit(0.75))).as[Double].collect().head
    assert(math.abs(exact - 3.25) < 1e-12)
  }

  test("int truncation semantics: cast truncates toward zero, round does not") {
    val d = Seq(2.7, -2.7, 2.2).toDF("v")
    val out = d.select(col("v").cast("int")).as[Int].collect()
    assert(out.sameElements(Array(2, -2, 2))) // Python int() behavior
  }

  test("IOU uses the +1 pixel convention (reference camera.py:96-100)") {
    // identical 10x10 boxes → area (10-0+1)^2, IOU exactly 1
    // disjoint boxes → 0; half-overlap computed with +1 on each side
    val iou = Scalars.iou(
      lit(0L), lit(0L), lit(10L), lit(10L),
      lit(0L), lit(0L), lit(10L), lit(10L))
    val disjoint = Scalars.iou(
      lit(0L), lit(0L), lit(10L), lit(10L),
      lit(100L), lit(100L), lit(110L), lit(110L))
    val r = spark.range(1).select(iou.as("a"), disjoint.as("b"))
      .as[(Double, Double)].collect().head
    assert(r._1 == 1.0)
    assert(r._2 == 0.0)
  }

  test("dense buckets: zero-filled spine covers gaps") {
    val d = Seq(
      (Timestamp.valueOf("2024-02-01 00:00:30"), 5.0),
      // 2-hour gap
      (Timestamp.valueOf("2024-02-01 03:00:30"), 7.0)).toDF("ts", "value")
    val out = TimeBuckets.dense(d, "ts", "value", 3600).collect()
    assert(out.length == 4) // 00,01,02,03 hours
    val zeros = out.filter(_.getAs[Double]("total_value") == 0.0)
    assert(zeros.length == 2) // the gap hours are present and zero
    assert(zeros.forall(_.getAs[Long]("n_events") == 0L))
  }

  test("prediction default: cameras with no history predict 0 (left join)") {
    val hist = Seq((1L, Timestamp.valueOf("2024-02-05 08:30:00"), 10.0))
      .toDF("user_id", "ts", "value")
    val keys = Seq(1L, 2L).toDF("user_id")
    val out = graft.ops.Predict.predictSlot(hist, keys, "user_id", "ts",
        "value", dow = 1, hr = 8)
      .orderBy("user_id").collect()
    assert(out.length == 2)
    assert(out(0).getAs[Double]("predicted_volume") == 10.0)
    assert(out(1).getAs[Double]("predicted_volume") == 0.0) // no-history default
  }

  test("driver contract: entry() returns rows and every query has an oracle or rows-only note") {
    assert(SparkEntry.entry(spark).count() > 0)
    val qs = SparkEntry.queries.keySet
    val os = SparkEntry.oracleSql.keySet
    assert(os.subsetOf(qs), s"oracles without queries: ${os -- qs}")
    // every query is fully oracled since round 6 (e_lsh_topk/e_ivf_topk
    // were the last rows-only exceptions; both now have generated SQL)
    assert((qs -- os).isEmpty, s"unexpected rows-only: ${qs -- os}")
    // the oracle SQL is composed from shared fragments: a fragment whose
    // margin was never stripped, or a `||` line that a second
    // stripMargin cut to one bar, leaves a line opening with a lone `|`;
    // a literal `${` is a fragment that was never interpolated
    SparkEntry.oracleSql.foreach { case (name, sql) =>
      val bare = sql.linesIterator.map(_.trim)
        .filter(l => l.startsWith("|") && !l.startsWith("||")).toSeq
      assert(bare.isEmpty, s"$name: unstripped margin line(s): $bare")
      assert(!sql.contains("${"), s"$name: uninterpolated fragment")
    }
  }

  test("session-TZ sweep: wall-clock outputs follow the session time zone, instant-derived outputs don't") {
    // Full sweep (graft.Verify under SPARK_GRAFT_TZ=America/Los_Angeles
    // vs UTC at sf0.001, 2026-08): 65/75 queries bit-identical; the 10
    // that differ are exactly the wall-clock family — a4_predict_pattern,
    // a8_history_* (3), a9_pivot_day_stats, f_datetime_family,
    // j4_predict_slot_rules, j6_replay_pattern, s1_range_scan,
    // syn_diurnal_series — whose hour/day/dow derivations interpret
    // instants in the session TZ (Spark's documented date_trunc/hour/
    // dayofweek semantics, and the reference's own localtime behavior,
    // app.py's strftime over local time). This test pins one
    // representative of each class so a future operator can't silently
    // join the wrong class. The driver gate always runs UTC.
    val dir = "/root/testdata/sf0.001"
    def canon(name: String) =
      SparkEntry.queries(name)(spark, dir).collect().map(_.toSeq).toSeq
    val prev = spark.conf.get("spark.sql.session.timeZone")
    val utcTotals = canon("a1_totals_global")     // instant-derived only
    val utcDedup = canon("dd_exact_dedup")        // no time at all
    val utcBuckets = canon("a8_history_buckets_15m") // wall-clock buckets
    try {
      spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
      assert(canon("a1_totals_global") == utcTotals,
        "instant-derived totals must not move with the session TZ")
      assert(canon("dd_exact_dedup") == utcDedup,
        "text ops must not move with the session TZ")
      assert(canon("a8_history_buckets_15m") != utcBuckets,
        "wall-clock buckets are DEFINED in session-local time and must shift")
    } finally spark.conf.set("spark.sql.session.timeZone", prev)
  }

  test("numpy-style percentile thresholds agree with manual interpolation") {
    // hourly volumes 10,20,30,40 → p50=25, p75=32.5, p90=37 (numpy linear)
    val rows = (0 until 4).map { h =>
      (7L, Timestamp.valueOf(f"2024-02-01 0$h%d:00:00"), (h + 1) * 10.0)
    }
    val d = rows.toDF("user_id", "ts", "value")
    val th = Percentiles.thresholds(d, "user_id", "ts", "value").collect().head
    assert(math.abs(th.getAs[Double]("p50") - 25.0) < 1e-9)
    assert(math.abs(th.getAs[Double]("p75") - 32.5) < 1e-9)
    assert(math.abs(th.getAs[Double]("p90") - 37.0) < 1e-9)
    assert(th.getAs[Double]("max_volume") == 40.0)
  }
}
