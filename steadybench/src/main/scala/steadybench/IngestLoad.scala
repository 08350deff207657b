package steadybench

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.io.{Batches, Snapshot}
import graft.ops.Predict
import graft.streaming.{Detection, Ingest}

/** Truth for one camera after some ticks: lifetime flux, the density of
  * the last tick and its time. */
final case class CamTruth(acc: Long, accCars: Long, accMotors: Long,
                          current: Long, lastSec: Long)

/** The 36-camera detection stream. One op is one micro-batch (one
  * minute of 2 s ticks): hand the detections to the snapshot sink and
  * the pattern view sink, wait until each has committed, read the
  * served snapshot and pattern back and check them against the
  * stream's known truth. (The hourly-threshold view sink is left out:
  * with the sinks in sequence it added a fifth to the batch time, in the
  * workload that already takes the largest share of the run budget.) */
final class IngestLoad(c: Ctx) extends Workload {
  import IngestLoad._
  private val spark = c.spark
  import spark.implicits._
  private implicit val sqlc: org.apache.spark.sql.SQLContext = spark.sqlContext

  private val root = s"${c.work}/ingest"
  private val hist = s"$root/history"
  private val snap = s"$root/snapshot"
  private val snapWork = s"$root/snapwork"
  private val patWork = s"$root/pattern"

  private val streams = Seq.fill(2)(MemoryStream[Detection])

  val queries: Seq[StreamingQuery] = Seq(
    Ingest.startSnapshotSink(streams(0).toDS(), hist, snap, s"$root/ckpt-snap",
      Windows, workRoot = snapWork, compactHistoryEvery = CompactEvery),
    Ingest.startPatternSink(Ingest.dedupObservations(streams(1).toDS()).toDF()
      .withColumn("value", col("new_count").cast("double")),
      "camera_id", "ts", "value", patWork, s"$root/ckpt-pattern"))

  private val stream = new DetectionStream(c.seed, Cameras, TicksPerBatch, StartSec, TickSec)

  private var nextBatch = 0
  private val allDets = ArrayBuffer.empty[Detection]
  /** Per-(camera, tick) observation truth, in stream order. */
  private val truthObs = ArrayBuffer.empty[(Int, Long, Long, Long, Long, Long)]
  var detections = 0L

  val roundSeconds = 5.6
  val minRounds = 4
  val warmRounds = (3, 3)
  def diskBytes: Long = Main.bytesUnder(root)

  /** A round is one compaction cycle, so every run holds whole cycles. */
  def round(r: Int): IndexedSeq[Op] = IndexedSeq.fill(CompactEvery) {
    val b = nextBatch
    nextBatch += 1
    val dets = stream.batch(b)
    allDets ++= dets
    detections += dets.length
    val want = truth()
    val wantPattern = patternTruth()
    Op("batch", t => {
      // both sinks read the same stream, so both get the batch before
      // either is waited for; their micro-batches overlap as they would
      // behind one detection source
      streams.zipWithIndex.foreach { case (m, i) =>
        t.span("streaming", s"Ingest.feed$i")(m.addData(dets))
      }
      queries.zipWithIndex.foreach { case (q, i) =>
        t.span("streaming", s"processAllAvailable$i")(q.processAllAvailable())
      }
      val gotSnap = t.span("io", "readSnapshot")(
        Snapshot.readSources(spark, snap).collect()).map(x =>
        x.getString(0) -> CamTruth(x.getLong(1), x.getLong(2), x.getLong(3),
          x.getLong(4), x.getDouble(5).toLong)).sortBy(_._1).toSeq
      val gotPattern = t.span("io", "readPattern")(
        Ingest.readPattern(spark, patWork, "camera_id").get.collect()).map(x =>
        (x.getString(0), x.getInt(1), x.getInt(2), x.getDouble(3))).sortBy(x => (x._1, x._2, x._3)).toSeq
      Expect.diff(s"snapshot after batch $b", gotSnap, want)
        .orElse(Expect.diff(s"pattern after batch $b", gotPattern, wantPattern,
          (g: (String, Int, Int, Double), w: (String, Int, Int, Double)) =>
            g._1 == w._1 && g._2 == w._2 && g._3 == w._3 && Expect.close(g._4, w._4)))
    })
  }

  /** The per-camera snapshot truth after every batch so far; also
    * extends the per-(camera, tick) observations behind the view truths. */
  private def truth(): Seq[(String, CamTruth)] = {
    val fresh = allDets.iterator.drop(truthDetsSeen).toSeq
    truthDetsSeen = allDets.length
    fresh.groupBy(d => (d.camera_id, d.ts.getTime)).toSeq
      .sortBy(x => (x._1._2, x._1._1)).foreach { case ((cam, ms), ds) =>
        val ci = cam.drop(3).toInt
        val tick = (ms / 1000 - StartSec) / TickSec
        val isNew = if (tick == 0) ds else ds.drop(stream.statics(ci).length)
        truthObs += ((ci, ms / 1000, ds.length.toLong, isNew.length.toLong,
          isNew.count(_.class_id == "car").toLong,
          isNew.count(_.class_id == "motorcycle").toLong))
      }
    truthObs.groupBy(_._1).toSeq.sortBy(_._1).map { case (ci, os) =>
      val last = os.maxBy(_._2)
      val bump = if (c.perturb && ci == 0) 1L else 0L
      camId(ci) -> CamTruth(os.map(_._4).sum + bump, os.map(_._5).sum,
        os.map(_._6).sum, last._3, last._2)
    }
  }
  private var truthDetsSeen = 0

  /** All-slot pattern: per camera, weekday and hour, the mean over dates
    * of that hour's flux. */
  private def patternTruth(): Seq[(String, Int, Int, Double)] =
    truthObs.groupBy { o =>
      val d = java.time.Instant.ofEpochSecond(o._2).atZone(java.time.ZoneOffset.UTC)
      (o._1, d.getDayOfWeek.getValue % 7, d.getHour)
    }.toSeq.map { case ((ci, dow, hr), os) =>
      val days = os.groupBy(o => Math.floorDiv(o._2, 86400L)).values.map(_.map(_._4).sum)
      (camId(ci), dow, hr, Expect.cents(days.sum * 100) / days.size.toDouble)
    }.sortBy(x => (x._1, x._2, x._3))

  /** After the run: the served views must equal what the engine's batch
    * path computes from every detection, and the history lake (folded by
    * in-sink compaction) must hold every observation exactly once. */
  override def finish(): Option[String] = {
    val ds = allDets.toSeq.toDS()
    val batchObs = Ingest.batchObservations(ds).toDF()
    val expectDoc = s"$root/expect-snapshot"
    Snapshot.write(Snapshot.build(batchObs, Windows), expectDoc)
    val docs = Seq(snap, expectDoc).map(Main.jsonPart)
    val withValue = batchObs.withColumn("value", col("new_count").cast("double"))
    def rows(df: DataFrame) = df.collect().map(_.toString).sorted.toSeq
    val pattern = rows(Ingest.readPattern(spark, patWork, "camera_id").get)
    val lake = Batches.read(spark, hist).get.count()
    if (docs(0) != docs(1)) Some("snapshot doc differs from the batch build")
    else Expect.diff("pattern vs batch path", pattern,
        rows(Predict.hourlyPattern(withValue, "camera_id", "ts", "value")))
      .orElse(if (lake == truthObs.length) None
        else Some(s"history lake holds $lake observations, expected ${truthObs.length}"))
  }

  def stop(): Unit = queries.foreach(_.stop())

  override def layerMetrics(t: Traced): Map[String, Double] = {
    // every op is one batch of each sink, and ops run in stream order
    // from 0, so an op's id is its batch id in both queries
    val traced = t.ops.map(_.op.toLong).toSet
    val progress = queries.flatMap(_.recentProgress)
      .filter(p => p.numInputRows > 0 && traced(p.batchId))
      .groupBy(p => (p.id, p.batchId)).values.map(_.last).toSeq
    def perOp(k: String) = t.perOp(progress
      .flatMap(p => Option(p.durationMs.get(k)).map(_.toDouble)).sum)
    val state = queries.flatMap(q => Option(q.lastProgress)).flatMap(_.stateOperators)
    val streamJobs = t.opJobs.count(_._3.exists(_.layer == "streaming"))
    val (compact, plain) = t.ops.partition(o => o.op > 0 && o.op % CompactEvery == 0)
    def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.length
    Map(
      "streaming.add_batch_ms" -> perOp("addBatch"),
      "streaming.plan_ms" -> perOp("queryPlanning"),
      "streaming.wal_ms" -> perOp("walCommit"),
      "streaming.state_rows" -> state.map(_.numRowsTotal).sum.toDouble,
      "streaming.state_mb" -> state.map(_.memoryUsedBytes).sum / 1048576.0,
      "streaming.jobs_per_batch" -> t.perOp(streamJobs),
      "io.compact_batch_ms" -> mean(compact.map(_.ms)),
      "io.plain_batch_ms" -> mean(plain.map(_.ms)),
      "io.b_dirs" -> Main.dirNamesUnder(hist).count(_.startsWith("b=")).toDouble,
      "io.v_dirs" -> Seq(s"$snapWork/state", s"$patWork/pattern")
        .map(d => Main.dirNamesUnder(d).count(_.startsWith("v="))).sum.toDouble,
      "io.files" -> Main.filesUnder(root).length.toDouble,
      "io.bytes_per_det" -> diskBytes.toDouble / math.max(detections, 1L),
      "io.read_snapshot_ms" -> Layers.meanSpanMs(t, "io", "readSnapshot"),
      "io.read_pattern_ms" -> Layers.meanSpanMs(t, "io", "readPattern"))
  }
}

object IngestLoad {
  val Cameras = 36
  val TickSec = 2L
  /** One minute of ticks: the reference rewrites its snapshot every 60 s. */
  val TicksPerBatch = 30
  val CompactEvery = 3
  val StartSec: Long = Gen.Start + 7 * 3600L
  /** The snapshot's rolling windows, as the reference serves them. */
  val Windows: Seq[(String, Long)] =
    Seq("10s" -> 10L, "30m" -> 1800L, "1h" -> 3600L, "5h" -> 18000L, "24h" -> 86400L)
  def camId(i: Int): String = DetectionStream.camId(i)
}
