package steadybench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
import org.apache.spark.sql.steadybench.Internals

/** One timed interval: a call into a layer on the client thread, or a
  * Spark job (layer "job"). Times are nanoseconds on one clock; `parent`
  * is -1 for the root span of an op. */
final case class Span(id: Int, parent: Int, layer: String, name: String,
                      op: Int, t0: Long, t1: Long) {
  def dur: Long = t1 - t0
}

object Spans {

  /** Self time of every span: its duration minus the part of it that
    * its direct children cover (overlapping children count once). */
  def selfTimes(spans: Seq[Span]): Map[Int, Long] = {
    val children = spans.filter(_.parent >= 0).groupBy(_.parent)
    spans.map { s =>
      val cs = children.getOrElse(s.id, Nil)
        .map(c => (math.max(c.t0, s.t0), math.min(c.t1, s.t1)))
        .filter { case (a, b) => a < b }.sortBy(_._1)
      var covered = 0L
      var end = Long.MinValue
      cs.foreach { case (a, b) =>
        if (b > end) { covered += b - math.max(a, end); end = b }
      }
      s.id -> (s.dur - covered)
    }.toMap
  }
}

/** Records a span around each call the benchmark makes into a layer.
  * Disabled, `span` only runs its body: the untraced run pays nothing. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  import Tracer._
  private val sc = spark.sparkContext
  private val done = ArrayBuffer.empty[Span]
  private var open = List.empty[Int]
  private var nextId = 0
  private var op = -1

  def spans: Seq[Span] = done.toSeq

  /** Mark the ops that follow (jobs they submit carry the group). */
  def beginOp(i: Int): Unit = if (enabled) {
    op = i
    sc.setJobGroup(s"$GroupPrefix$i", s"op $i")
  }

  def endOp(): Unit = if (enabled) { sc.clearJobGroup(); op = -1 }

  def span[T](layer: String, name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = open.headOption.getOrElse(-1)
      open = id :: open
      sc.setLocalProperty(SpanKey, id.toString)
      val t0 = System.nanoTime()
      try body
      finally {
        done += Span(id, parent, layer, name, op, t0, System.nanoTime())
        open = open.tail
        sc.setLocalProperty(SpanKey, open.headOption.map(_.toString).orNull)
      }
    }
}

object Tracer {
  val GroupPrefix = "steadybench-op-"
  val SpanKey = "steadybench.span"
}

/** A finished Spark job as the listener saw it. */
final case class JobRec(jobId: Int, group: String, span: Int,
                        callSite: String, startMs: Long, endMs: Long,
                        stageIds: Seq[Int])

/** A completed stage's task totals. */
final case class StageRec(tasks: Int, cpuNs: Long, gcMs: Long,
                          inputBytes: Long, shuffleBytes: Long,
                          spillBytes: Long)

/** A finished SQL execution: its Catalyst phase times and scanned files. */
final case class QueryRec(endMs: Long, analysisMs: Long, optimizerMs: Long,
                          planningMs: Long, scanFiles: Long)

/** The listener the traced run registers: jobs, stages and SQL
  * executions, kept in memory until the run ends. */
final class Recorder extends SparkListener {
  private val starts = new ConcurrentHashMap[Int, SparkListenerJobStart]()
  private val jobRecs = new ConcurrentHashMap[Int, JobRec]()
  private val stageRecs = new ConcurrentHashMap[Int, StageRec]()
  private val queryRecs = new java.util.concurrent.ConcurrentLinkedQueue[QueryRec]()

  def jobs: Seq[JobRec] = jobRecs.values.asScala.toSeq.sortBy(_.jobId)
  def stages: Map[Int, StageRec] = stageRecs.asScala.toMap
  def queries: Seq[QueryRec] = queryRecs.asScala.toSeq

  override def onJobStart(e: SparkListenerJobStart): Unit =
    starts.put(e.jobId, e)

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(starts.remove(e.jobId)).foreach { s =>
      val p = Option(s.properties)
      def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
      // the result stage is named after the call site that ran the job
      val site = s.stageInfos.sortBy(-_.stageId).headOption
        .map(_.name).getOrElse("")
      jobRecs.put(e.jobId, JobRec(e.jobId,
        prop("spark.jobGroup.id").getOrElse(""),
        prop(Tracer.SpanKey).map(_.toInt).getOrElse(-1),
        site, s.time, e.time, s.stageIds))
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val m = i.taskMetrics
    if (m != null)
      stageRecs.put(i.stageId, StageRec(i.numTasks, m.executorCpuTime,
        m.jvmGCTime, m.inputMetrics.bytesRead,
        m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled))
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case end: SparkListenerSQLExecutionEnd =>
      Option(Internals.queryExecution(end)).foreach { qe =>
        val ph = qe.tracker.phases
        def ms(k: String) = ph.get(k).map(_.durationMs).getOrElse(0L)
        val files = graft.util.PlanMetrics.allNodes(qe.executedPlan).collect {
          case s: FileSourceScanExec =>
            s.metrics.get("numFiles").map(_.value).getOrElse(0L)
        }.sum
        queryRecs.add(QueryRec(end.time, ms("analysis"), ms("optimization"),
          ms("planning"), files))
      }
    case _ =>
  }
}
