package steadybench

import java.io.File
import java.lang.management.{ManagementFactory, MemoryType}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.steadybench.Internals

/** One benchmark run: one workload, one seed, a fresh JVM.
  *
  * {{{
  * Main --workload ingest|batch --seed N --seconds S --trace 0|1
  *      --work DIR --out DIR --launch-ms EPOCH_MS [--perturb 1]
  * }}}
  *
  * The last stdout line is the result object; the exit code is 0 only
  * when every op passed its check. */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        work: String, out: String, launchMs: Long,
                        perturb: Boolean)

  def parse(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", need("work"), need("out"),
      need("launch-ms").toLong,
      m.get("perturb").contains("1"))
  }

  /** Spark's core count, `local[Cores]`. These workloads are bound by
    * the job floor, not by task CPU: one core ran the ingest batch in
    * 2.0 s against 2.3 s on two and 3.1 s on four, ran the batch queries
    * as fast, and leaves the JIT compiler and the collector the other
    * cores of a 4-core machine. */
  val Cores = 1

  /** The session confs of `graft.Bench`, so the plans measured here are
    * the plans the basket measures; scratch space stays in the work dir. */
  def session(work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("steadybench")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.streaming.numRecentProgressUpdates", "1000")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def make(name: String, c: Ctx): Workload = name match {
    case "ingest" => new IngestLoad(c)
    case "batch" => new BatchLoad(c)
    case other => sys.error(s"unknown workload $other")
  }

  /** Inputs are set up this many times and the median time kept. */
  val SetupReps = 3

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val spark = session(a.work)
    val sessionS = (System.currentTimeMillis() - a.launchMs) / 1000.0
    val code =
      try run(a, spark, sessionS)
      catch { case e: Throwable => e.printStackTrace(); 2 }
    System.exit(code)
  }

  private def secondsOf[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val v = body
    (v, (System.nanoTime() - t0) / 1e9)
  }

  def run(a: Args, spark: SparkSession, sessionS: Double): Int = {
    // set up several times into fresh dirs and keep the last instance
    val setups = (0 until SetupReps).map { k =>
      secondsOf(make(a.workload,
        Ctx(spark, a.seed, s"${a.work}/setup$k", a.perturb)))
    }
    setups.init.foreach(s => close(s._1))
    val w = setups.last._1
    val h = new Harness(spark)
    val off = new Tracer(spark, enabled = false)
    def timedRound(r: Int, t: Tracer): Double =
      secondsOf(h.runRound(w.round(r), t))._2
    val (warm, warmS) = secondsOf(Harness.warmUp(r => timedRound(-1 - r, off),
      w.warmRounds._1, w.warmRounds._2))
    val setupS = sessionS + Stats.median(setups.map(_._2)) + warmS
    val firstTimed = h.results.length
    val rounds = w.rounds(a.seconds)

    def failures = h.results.count(!_.ok)
    val measured: Seq[(String, Double, String)] =
      if (failures > 0) Nil // a failed warm-up skips the timed loop
      else if (a.trace) traced(a, spark, w, h, rounds, timedRound)
      else {
        val roundS = (0 until rounds).map(r => timedRound(r, off))
        val ms = h.results.drop(firstTimed).map(_.ms).toSeq
        val tail = Stats.tail(ms)
        println(Json.obj("detail" -> Json.obj(
          "workload" -> a.workload, "seed" -> a.seed, "ops" -> ms.length,
          "rounds" -> rounds, "warmup_round_s" -> warm, "round_s" -> roundS,
          "op_tail_pct" -> tail.pct, "op_tail_beyond" -> tail.beyond,
          "setup_parts_s" -> Json.obj("jvm_and_session" -> sessionS,
            "inputs" -> setups.map(_._2), "warmup" -> warmS))))
        Seq(
          ("setup_s", setupS, "s"),
          ("op_p50_ms", Stats.median(ms), "ms"),
          ("op_tail_ms", tail.value, "ms"),
          ("ops_per_s", ms.length / roundS.sum, "1/s"),
          ("heap_mb", heapAfterGc(), "MB"),
          ("disk_mb", w.diskBytes / 1048576.0, "MB"))
      }
    // a failed op is never timed as a success: a failed run reports no timings
    val metrics = if (failures > 0) Nil else measured

    val (finalErr, finishS) = secondsOf(
      try w.finish() catch { case e: Throwable => Some(s"threw $e") })
    System.err.println(f"[steadybench] end-of-run check took $finishS%.1f s")
    finalErr.foreach(e => System.err.println(s"[steadybench] end-of-run check FAILED: $e"))
    w match {
      case b: BatchLoad => println(Json.obj("batch_hashes" -> Json.obj(b.hashes.toSeq: _*)))
      case _ =>
    }
    close(w)
    val attempted = h.results.length + 1
    val failed = failures + finalErr.size
    spark.stop()
    println(Json.obj(
      "correct" -> (failed == 0), "attempted" -> attempted, "failed" -> failed,
      "metrics" -> Json.obj(metrics.map { case (n, v, u) =>
        n -> Json.obj("value" -> v, "unit" -> u) }: _*)))
    exitCode(failed)
  }

  /** Any failed op or end-of-run check fails the command. */
  def exitCode(failed: Int): Int = if (failed == 0) 0 else 1

  /** Traced run: over the same round count as an untraced run, rounds
    * go untraced, traced, traced, untraced (repeating), so both kinds
    * sit at the same mean position and the tracer's overhead is
    * measured against comparable ops under the same drift. */
  private def traced(a: Args, spark: SparkSession, w: Workload, h: Harness,
                     rounds: Int, timedRound: (Int, Tracer) => Double)
      : Seq[(String, Double, String)] = {
    val sc = spark.sparkContext
    val off = new Tracer(spark, enabled = false)
    val on = new Tracer(spark, enabled = true)
    val rec = new Recorder
    val epochOffsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
    val offS = ArrayBuffer.empty[Double]
    val onS = ArrayBuffer.empty[Double]
    val tracedOps = ArrayBuffer.empty[OpResult]
    (0 until rounds).foreach { r =>
      if (r % 4 == 0 || r % 4 == 3) offS += timedRound(r, off)
      else {
        sc.addSparkListener(rec)
        val before = h.results.length
        onS += timedRound(r, on)
        tracedOps ++= h.results.drop(before)
        Internals.drainListeners(sc)
        sc.removeSparkListener(rec)
      }
    }
    val t = Traced(on.spans, rec.jobs, rec.stages, rec.queries, h.windows.toSeq,
      tracedOps.filter(_.ok).toSeq, epochOffsetNs)
    writeSpans(new File(a.out, s"spans-${a.workload}-seed${a.seed}.jsonl"),
      t.opSpans ++ t.jobSpans)
    val all = Layers.generic(t) ++ w.layerMetrics(t) +
      ("trace.overhead_pct" -> 100.0 * (onS.sum / onS.length / (offS.sum / offS.length) - 1.0))
    Layers.names.map(n => (n, all.getOrElse(n, 0.0), Layers.units(n)))
  }

  /** One JSON line per span, with its self time. */
  private def writeSpans(f: File, spans: Seq[Span]): Unit = {
    f.getParentFile.mkdirs()
    val self = Spans.selfTimes(spans)
    val lines = spans.map(s => Json.obj("span" -> s.id, "parent" -> s.parent,
      "layer" -> s.layer, "name" -> s.name, "op" -> s.op, "t0_ns" -> s.t0,
      "dur_ns" -> s.dur, "self_ns" -> self(s.id)))
    java.nio.file.Files.write(f.toPath, (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }

  private def close(w: Workload): Unit = w match {
    case i: IngestLoad => i.stop()
    case _ =>
  }

  /** Heap still in use after full collections, in MiB: what the heap
    * pools held when the last collection ended, so that what the
    * streaming threads allocate afterwards does not count. */
  def heapAfterGc(): Double = {
    (0 until 3).foreach { _ => System.gc(); Thread.sleep(100) }
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP)
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / 1048576.0
  }

  // ---- small file helpers ----

  def filesUnder(path: String): Seq[File] = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
      else if (f.isFile) Seq(f) else Nil
    walk(new File(path))
  }

  def bytesUnder(path: String): Long = filesUnder(path).map(_.length).sum

  def dirNamesUnder(path: String): Seq[String] =
    Option(new File(path).listFiles()).toSeq.flatten.filter(_.isDirectory).map(_.getName)

  /** The text of the one JSON part file a snapshot doc was written as. */
  def jsonPart(dir: String): String = {
    val parts = filesUnder(dir).filter(f =>
      f.getName.startsWith("part-") && f.getName.endsWith(".json"))
    require(parts.length == 1, s"expected one json part in $dir, found ${parts.length}")
    new String(java.nio.file.Files.readAllBytes(parts.head.toPath), "UTF-8")
  }

  def sha256(lines: Iterator[String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    lines.foreach { l => md.update(l.getBytes("UTF-8")); md.update('\n'.toByte) }
    md.digest().map(b => f"$b%02x").mkString
  }
}

/** Just enough JSON writing for the result lines. */
object Json {
  /** An already-encoded JSON value. */
  final case class Raw(json: String) {
    override def toString: String = json
  }

  def obj(kvs: (String, Any)*): Raw =
    Raw(kvs.map { case (k, v) => s"${str(k)}: ${value(v)}" }.mkString("{", ", ", "}"))

  private def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case ch if ch < ' ' => f"\\u${ch.toInt}%04x"
    case ch => ch.toString
  } + "\""

  private def value(v: Any): String = v match {
    case r: Raw => r.json
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case xs: Seq[_] => xs.map(value).mkString("[", ", ", "]")
    case other => str(other.toString)
  }
}
