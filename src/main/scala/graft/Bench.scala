package graft
import org.apache.spark.sql.SparkSession
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Engine.session(cpus.toInt)
    // Force FULL evaluation of every output column: count() would let
    // Catalyst prune window/projection expressions that don't affect
    // cardinality, under-measuring expression-heavy queries. The noop
    // sink materializes every row and column, then discards them.
    def run(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Unit =
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
    // Warmup pass: JVM JIT + whole-stage-codegen compilation + parquet
    // footer caching, so timings below measure the queries, not startup.
    SparkEntry.queries.foreach { case (_, fn) =>
      try { run(fn) } catch { case _: Throwable => }
    }
    // Spark job count for a job group, letting the async listener bus
    // settle (two consecutive equal reads) so late events are counted.
    def jobsFor(group: String): Int = {
      def read = spark.sparkContext.statusTracker.getJobIdsForGroup(group).length
      var prev = -1; var cur = read; var i = 0
      while (cur != prev && i < 50) { Thread.sleep(20); prev = cur; cur = read; i += 1 }
      cur
    }
    // best-of-3 timed runs per query: a single-shot timing at local[32]
    // is dominated by JIT/GC noise from whatever ran before it (observed
    // spread at sf0.1 is routinely 2-3x between reps of the same query).
    // The last rep runs under a job group so the JSON can attribute the
    // ~0.2 s/query scheduling floor: many-job queries pay it per job.
    // SPARK_GRAFT_BENCH_REPS overrides for expensive one-off baskets
    // (the sf1 whole-basket run uses 1: warmup + one timed pass).
    val reps = sys.env.get("SPARK_GRAFT_BENCH_REPS") match {
      case Some(v) => v.toIntOption match {
        case Some(n) if n >= 1 => n
        case _ => sys.error(
          s"SPARK_GRAFT_BENCH_REPS must be a positive integer, got '$v'")
      }
      case None => 3
    }
    // A rep that throws is never timed: a query that fails in 5 ms
    // would read as a speedup. It records JSON null, its query is
    // listed under "failed" and left out of the total, and the run
    // exits 1 after printing its short stdout line.
    def timed(label: String)(body: => Unit): Option[Double] = {
      val t0 = System.nanoTime()
      try { body; Some((System.nanoTime() - t0) / 1e9) }
      catch { case e: Throwable =>
        System.err.println(s"[bench] $label FAILED: $e"); None }
    }
    def json(t: Option[Double]): String = t.fold("null")(v => f"$v%.4f")
    val results = SparkEntry.queries.map { case (name, fn) =>
      val times = (1 to reps).map { rep =>
        if (rep == reps) spark.sparkContext.setJobGroup(s"bench:$name", name)
        val dt = timed(s"$name rep $rep")(run(fn))
        if (rep == reps) spark.sparkContext.clearJobGroup()
        dt
      }
      val best = if (times.forall(_.isDefined)) Some(times.flatten.min) else None
      name -> (best, jobsFor(s"bench:$name"))
    }
    // Noise index: 5 reps of one fixed, untouched control query AFTER
    // the whole basket, so every bench artifact carries its own
    // box-noise measurement — readers adjudicate 2-30x single-rep
    // spikes against this series instead of prose (the r15 driver rep
    // carried ~40 s of noise on untouched code; this makes that
    // visible in-band). a1_totals_global: one scan + one tiny agg,
    // plan-stable since round 1.
    // A failed control run must NOT record its (fast) failure time as
    // a noise sample — that reads as a suspiciously quiet box.
    val noiseControl = (1 to 5).map { rep =>
      json(timed(s"noise_control rep $rep")(
        run(SparkEntry.queries("a1_totals_global"))))
    }
    val noiseJson = noiseControl.mkString("[", ",", "]")
    // Self-adjudication for one-rep baskets (the sf1 run): a heavy
    // query's single basket rep can carry 2-4x of cross-query
    // interference (codegen cache, GC) that a dedicated re-measure
    // doesn't. Re-run the N heaviest queries (by their basket time)
    // with 3 dedicated reps each AFTER the basket, so the artifact
    // carries its own interference measurement instead of needing a
    // follow-up `graft.Dev time` session. Defaults: top-3 when
    // reps == 1, off for multi-rep baskets (best-of-3 already absorbs it);
    // SPARK_GRAFT_BENCH_RECHECK overrides the count (0 disables).
    val recheckN = sys.env.get("SPARK_GRAFT_BENCH_RECHECK")
      .flatMap(_.toIntOption).getOrElse(if (reps == 1) 3 else 0)
    val recheck =
      if (recheckN <= 0) Seq.empty
      else results.toSeq.sortBy(-_._2._1.getOrElse(0.0)).take(recheckN).map {
        case (name, _) =>
          name -> (1 to 3).map(rep =>
            timed(s"recheck $name rep $rep")(run(SparkEntry.queries(name))))
      }
    val recheckJson = recheck.map { case (name, ts) =>
      "\"" + name + "\":" + ts.map(json).mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    val failed = (results.toSeq.collect { case (k, (None, _)) => k } ++
      recheck.collect { case (k, ts) if ts.exists(_.isEmpty) => k })
      .distinct.sorted
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val qs = results.map { case (k, (v, _)) =>
        s"\"" + k + "\":" + v.fold("null")(_.toString) }
      .mkString("{", ",", "}")
    val js = results.map { case (k, (_, j)) => s"\"" + k + "\":" + j }
      .mkString("{", ",", "}")
    val total = results.values.flatMap(_._1).sum
    val totalJobs = results.values.map(_._2).sum
    val full = s"""{"metric":"total","value":$total,"unit":"sec","cpus":$cpus,"queries":$qs,"jobs":$js,"total_jobs":$totalJobs,"failed":$failedJson,"noise_control":$noiseJson,"recheck":$recheckJson,"sf":"$sfDir"}"""
    // the full per-query map lives ONLY in the file artifact: a
    // 76-query single-line JSON overflows captured-log tails, leaving
    // the driver-side artifact unparseable (round-7 BENCH_r07.json had
    // "parsed": null). Stdout gets a SHORT line that always survives
    // tail capture, printed LAST (after spark.stop()'s shutdown noise).
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_FULL.json")
    java.nio.file.Files.write(java.nio.file.Paths.get(outFile),
      (full + "\n").getBytes("UTF-8"))
    // ALSO write a run-stamped copy (round-17 verdict item: two driver
    // runs at different core counts clobbered each other's per-query
    // map in BENCH_FULL.json, blinding the round-over-round PERF
    // comparison to totals). The stamp (core count + epoch seconds)
    // makes every run's map durable; the short stdout line names the
    // exact file so a parser can find this run's map without guessing.
    // The copy goes into a bench-runs/ directory beside the output
    // file, so stamped copies collect in one git-ignored place.
    val stamped = {
      val out = java.nio.file.Paths.get(outFile)
      val runs = out.resolveSibling("bench-runs")
      java.nio.file.Files.createDirectories(runs)
      val base = out.getFileName.toString.stripSuffix(".json")
      runs.resolve(s"${base}_c${cpus}_${System.currentTimeMillis / 1000}.json")
    }
    java.nio.file.Files.write(stamped, (full + "\n").getBytes("UTF-8"))
    spark.stop()
    println(s"""{"metric":"total","value":$total,"unit":"sec","n_queries":${results.size},"cpus":$cpus,"total_jobs":$totalJobs,"failed":$failedJson,"sf":"$sfDir","per_query":"$stamped"}""")
    if (failed.nonEmpty) sys.exit(1)
  }
}
