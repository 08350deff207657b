package steadybench

import scala.collection.mutable
import graft.SparkEntry

/** Offline curation and analytics jobs: one op is one query of
  * `graft.SparkEntry.queries` over seeded tables shaped like the
  * sf0.1 test data's `documents`. Each query's
  * rows must be non-empty and hash the same in every round. */
final class BatchLoad(c: Ctx) extends Workload {
  import BatchLoad._
  private val spark = c.spark
  private val dir = s"${c.work}/tables"

  Gen.writeDocuments(spark, Gen.documents(c.seed, Docs), s"$dir/documents.parquet")

  /** First hash seen per query; every later round must match it. */
  val hashes: mutable.LinkedHashMap[String, String] = mutable.LinkedHashMap.empty

  val roundSeconds = 3.3
  val minRounds = 4
  val warmRounds = (3, 3)
  def diskBytes: Long = Main.bytesUnder(dir)

  def round(r: Int): IndexedSeq[Op] = {
    order(c.seed, r).map(q => Op(q, t => {
      val df = t.span("ops", s"SparkEntry.$q")(SparkEntry.queries(q)(spark, dir))
      val rows = t.span("exec", "collect")(df.collect())
      val h = Main.sha256(rows.iterator.map(_.toString))
      val want = hashes.getOrElseUpdate(q, if (c.perturb) "perturbed" else h)
      if (rows.isEmpty) Some(s"$q returned no rows")
      else if (h != want) Some(s"$q hash $h differs from the first round's $want")
      else None
    })).toIndexedSeq
  }

  override def layerMetrics(t: Traced): Map[String, Double] = {
    val kernelOps = t.ops.filter(o => family(o.kind) == "kernel").map(_.op).toSet
    val spans = t.opSpans.filter(s => s.layer == "exec" && kernelOps(s.op))
    val spanIds = spans.map(_.id).toSet
    val jobs = t.opJobs.filter(_._3.exists(s => spanIds(s.id))).map(_._1)
    val n = kernelOps.size.max(1)
    Map(
      "functions.exec_ms" -> spans.map(_.dur).sum / 1e6 / n,
      "functions.task_cpu_ms" -> t.stagesOf(jobs).map(_.cpuNs).sum / 1e6 / n)
  }
}

object BatchLoad {
  val Docs = 5000

  /** The query set and each query's family, trimmed to what a run's
    * time budget holds (see the README): two fused-kernel queries and
    * one eager iterative one. An odd count keeps the median op inside
    * one query's cluster instead of between two. */
  val Queries: Seq[(String, String)] = Seq(
    "t_curate" -> "kernel", "dd_simhash_pairs" -> "kernel",
    "g_pagerank" -> "eager")

  val family: Map[String, String] = Queries.toMap

  /** Round `r`'s query order: a permutation drawn from the seed. */
  def order(seed: Long, r: Int): Seq[String] =
    new scala.util.Random(seed * 1000003L + r).shuffle(Queries.map(_._1))
}
