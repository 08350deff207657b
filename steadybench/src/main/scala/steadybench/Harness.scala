package steadybench

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.SparkSession

/** What every workload gets: the session, the seed, its own work
  * directory and whether to break one expected value on purpose (to
  * prove that a failed check fails the run). */
final case class Ctx(spark: SparkSession, seed: Long, work: String,
                     perturb: Boolean)

/** One unit of client work. `run` calls into the engine and checks what
  * came back: `None` is a pass, `Some(reason)` a failed check. A throw
  * is a failure too. */
final case class Op(kind: String, run: Tracer => Option[String])

/** A closed-loop workload with fixed work: round `r` always holds the
  * same ops for the same seed, and a run is a fixed number of rounds. */
trait Workload {
  /** Nominal seconds of one warm round; sizes the loop. */
  def roundSeconds: Double
  /** Fewest timed rounds: enough ops for the tail rule. */
  def minRounds: Int
  /** Warm-up bounds in rounds (see [[Harness.warmUp]]). */
  def warmRounds: (Int, Int)
  /** Rounds in the timed loop of a run meant to last about `seconds`:
    * a function of `seconds` only, so the work is fixed. */
  final def rounds(seconds: Int): Int =
    math.max(minRounds, math.round(seconds / roundSeconds).toInt)
  /** The ops of round `r`; rounds below 0 are warm-up rounds. */
  def round(r: Int): IndexedSeq[Op]
  /** End-of-run checks that look at the whole run; `None` is a pass. */
  def finish(): Option[String] = None
  /** Bytes on disk the workload's data occupies at the end of the run. */
  def diskBytes: Long
  /** Workload-specific per-layer metrics of the traced ops. */
  def layerMetrics(t: Traced): Map[String, Double] = Map.empty
}

final case class OpResult(op: Int, kind: String, ms: Double, error: Option[String]) {
  def ok: Boolean = error.isEmpty
}

/** Runs ops one after another on the calling thread and times each. */
final class Harness(spark: SparkSession) {
  private var nextOp = 0
  val results = ArrayBuffer.empty[OpResult]
  /** Epoch-ms window of every op, for attributing listener events. */
  val windows = ArrayBuffer.empty[(Int, Long, Long)]

  /** Run one round; returns its ops' results. A failed op is recorded
    * with its error and never counts as a timed success. */
  def runRound(ops: IndexedSeq[Op], tracer: Tracer): Seq[OpResult] =
    ops.map { op =>
      val i = nextOp
      nextOp += 1
      tracer.beginOp(i)
      val w0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val err =
        try tracer.span("op", op.kind)(op.run(tracer))
        catch { case e: Throwable => Some(s"threw ${e.getClass.getName}: ${e.getMessage}") }
      val ms = (System.nanoTime() - t0) / 1e6
      windows += ((i, w0, System.currentTimeMillis()))
      tracer.endOp()
      val r = OpResult(i, op.kind, ms, err)
      System.err.println(f"[steadybench] op $i ${op.kind} $ms%.1f ms" +
        err.map(e => s" FAILED: $e").getOrElse(""))
      results += r
      r
    }
}

object Harness {

  /** Warm-up: run whole rounds until the round time stops falling —
    * a round no more than `tolerance` faster than the best before it —
    * after at least `minRounds`, and at most `maxRounds`. Returns the
    * round times in seconds. */
  def warmUp(runRound: Int => Double, minRounds: Int, maxRounds: Int,
             tolerance: Double = 0.03): Seq[Double] = {
    val times = ArrayBuffer.empty[Double]
    var steady = false
    while (!steady && times.length < maxRounds) {
      val t = runRound(times.length)
      steady = times.length + 1 >= minRounds && times.nonEmpty &&
        t >= times.min * (1.0 - tolerance)
      times += t
    }
    times.toSeq
  }
}
