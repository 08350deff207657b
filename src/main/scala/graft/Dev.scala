package graft
import java.io.{File, PrintWriter}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.execution.ExplainMode
import scala.collection.mutable

/** Development commands over the declared queries, all on one
  * [[Engine]] session (so timings and plans are the shapes Bench runs):
  * {{{
  *   SPARK_GRAFT_SF_DIR=<sf> sbt "runMain graft.Dev time <query...>"
  *   SPARK_GRAFT_SF_DIR=<sf> sbt "runMain graft.Dev jobs <query...>"
  *   SPARK_GRAFT_SF_DIR=<sf> sbt "runMain graft.Dev plans <outDir> <suffix> <query...>"
  *   SPARK_GRAFT_SF_DIR=<sf> sbt "runMain graft.Dev audit"
  * }}}
  * `SPARK_GRAFT_CPUS` sets the core count (default: all). Bench and
  * Verify do not depend on it. */
object Dev {
  def main(args: Array[String]): Unit = {
    val usage = "usage: Dev time|jobs <query...> | plans <outDir> <suffix> " +
      "<query...> | audit   (SPARK_GRAFT_SF_DIR=<sf dir>)"
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", sys.error(usage))
    val (cmd, names) = args.toSeq match {
      case Seq(c @ ("time" | "jobs"), qs @ _*) if qs.nonEmpty => (c, qs)
      case Seq("plans", _, _, qs @ _*) if qs.nonEmpty => ("plans", qs)
      case Seq("audit") => ("audit", SparkEntry.queries.keys.toSeq.sorted)
      case _ => sys.error(usage)
    }
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown query name(s): ${unknown.mkString(", ")}")
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)
    val spark = Engine.session(cpus)
    def frame(q: String) = SparkEntry.queries(q)(spark, dir)
    // Bench's full-evaluation noop sink: every row and column computed
    def run(q: String): Unit =
      frame(q).write.format("noop").mode("overwrite").save()
    def secs(t0: Long) = (System.nanoTime() - t0) / 1e9
    cmd match {
      // 5 reps each, to separate JIT/GC noise from real per-query cost
      case "time" => names.foreach { q =>
        val times = (1 to 5).map { _ =>
          val t0 = System.nanoTime(); run(q); secs(t0)
        }
        println(f"$q%-26s min=${times.min}%.3f  " +
          s"runs=${times.map(t => f"$t%.2f").mkString(",")}")
      }
      // per-job timeline of the third rep (two warmups): the gaps
      // between jobs are planning and AQE re-planning, which at sf0.1
      // often dominate a query's time
      case "jobs" =>
        val submit = mutable.Map[Int, Long]()
        val jobs = mutable.ArrayBuffer[(Int, Long, Long)]()
        spark.sparkContext.addSparkListener(new SparkListener {
          override def onJobStart(e: SparkListenerJobStart): Unit =
            submit.synchronized { submit(e.jobId) = System.nanoTime() }
          override def onJobEnd(e: SparkListenerJobEnd): Unit =
            submit.synchronized {
              jobs += ((e.jobId, submit.getOrElse(e.jobId, 0L), System.nanoTime()))
            }
        })
        names.foreach { q =>
          // the listener bus is asynchronous: let it drain around the
          // measured rep so no warmup job lands in it and none of its
          // own is missed
          run(q); run(q); Thread.sleep(300)
          submit.synchronized { jobs.clear() }
          val t0 = System.nanoTime(); run(q); val total = secs(t0)
          Thread.sleep(500)
          val timeline = submit.synchronized { jobs.toList }
          println(f"%n== $q total=$total%.2f s, ${timeline.length} jobs ==")
          timeline.sortBy(_._2).foreach { case (id, s, e) =>
            println(f"  job $id%4d  start=${(s - t0) / 1e9}%6.3f  " +
              f"dur=${(e - s) / 1e9}%6.3f s")
          }
        }
      // `.explain("formatted")` to <outDir>/<query>_<suffix>.txt, the
      // round-artifact format (plans/r{N}/<query>_{before,after}.txt)
      case "plans" =>
        val (outDir, suffix) = (args(1), args(2))
        new File(outDir).mkdirs()
        names.foreach { q =>
          val f = new File(outDir, s"${q}_$suffix.txt")
          val pw = new PrintWriter(f)
          try pw.write(frame(q).queryExecution
            .explainString(ExplainMode.fromString("formatted")))
          finally pw.close()
          println(s"[plans] wrote $f")
        }
      case "audit" => audit(names, frame)
    }
    spark.stop()
  }

  /** Plan-audit sweep: flags join shapes worth eyeballing across the
    * whole query suite. Expected (deliberate) flags as of round 2:
    *  - BroadcastNestedLoop in a2/a7/a8_history_period (one-row max-ts
    *    scalar broadcast), t_unigram_score / t_bigram_score (one-row
    *    totals scalar broadcast), j6 (pattern replay IS a cross join,
    *    tiny side), e_ann_bruteforce / e_int8_topk (the brute-force
    *    baselines are deliberate corpus × probes scans), and the
    *    e_recall_* evaluators (they contain the brute-force component;
    *    their own recall join is top-k-scale and AQE-broadcast at run);
    *  - SortMergeJoin in the dedup family / e_cosine_neardup (banded
    *    sign-LSH self-join) / t_curate / pipe_pretrain_recipe (contains
    *    dedupCorpus) / prof_events_drift (two profile snapshots joined —
    *    n_cols rows, AQE broadcasts at runtime): inverted-index and
    *    band-bucket self-joins where BOTH sides are large at scale — a
    *    shuffle join is the correct physical choice (AQE still converts
    *    to broadcast at runtime when a side turns out small).
    * Round-13 additions, all deliberate:
    *  - g_pagerank / g_pagerank_seeded: SortMergeJoin — the
    *    per-iteration rank×edges join, where BOTH sides are graph-scale
    *    at 100 TB (AQE broadcasts the node-scale rank side at runtime
    *    when it fits);
    *  - x_fuzzy_pairs: BroadcastNestedLoop — the degenerate block's
    *    length-band loop over DISTINCT sub-q·d-gram string values
    *    (value-domain-bounded by construction, see FuzzyJoin);
    *  - mv_quantiles: BroadcastNestedLoop — quantilesFromHist's
    *    bracketing joins of a 4-row probability frame against the
    *    bounded value-domain histogram (the prof_quantiles shape);
    *  - mv_pagerank: SortMergeJoin — the same graph-scale rank×edges
    *    join as g_pagerank, served from the edge-log MV (g_kcore's
    *    semi-joins read clean: AQE broadcasts the node-scale keep
    *    set).
    * Round-14 additions, deliberate:
    *  - t_lm_condprob: BroadcastNestedLoop — the one-row vocabulary
    *    scalar broadcast (the t_unigram_score/t_bigram_score totals
    *    pattern);
    *  - pipe_embed_curation: SortMergeJoin — inherited from its
    *    semanticDedup stage (the banded sign-LSH self-join, the
    *    e_semantic_dedup/e_cosine_neardup shape where both sides are
    *    corpus-scale at 100 TB). The spectral queries themselves
    *    (e_pca_*, mv_pca) read clean: pure aggregations, no joins.
    * Round-15 addition, deliberate:
    *  - t_prf_indexed: BroadcastNestedLoop — the one-row expansion-stats
    *    scalar broadcast (crossJoin(broadcast(stats)), the same pattern
    *    as t_bm25_topk's corpus-stats scalar).
    * Round-18 removals (53 flags, down from 56): t_curate no longer
    * flags — its exactDedup semi-join collapsed into one min_by
    * aggregation (no join at all); pipe_pretrain_recipe /
    * pipe_curate_shards flag via their eager internal stages only.
    * Anything NEW appearing here deserves a look.
    */
  private def audit(names: Seq[String],
                    frame: String => org.apache.spark.sql.DataFrame): Unit = {
    names.foreach { q =>
      try {
        val plan = frame(q).queryExecution.executedPlan.toString
        val flags = Seq(
          "CartesianProduct" -> "CartesianProduct",
          "SortMergeJoin" -> "SortMergeJoin",
          "BroadcastNestedLoop" -> "BroadcastNestedLoopJoin")
          .collect { case (flag, node) if plan.contains(node) => flag }
        if (flags.nonEmpty) println(s"[audit] $q: ${flags.mkString(",")}")
      } catch {
        case e: Throwable => println(s"[audit] $q: ERROR ${e.getMessage.take(80)}")
      }
    }
    println("[audit] done")
  }
}
