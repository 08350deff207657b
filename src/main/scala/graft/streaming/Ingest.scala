package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}

/** One detection event — the contract the reference's CV stage emits
  * (app/services/camera.py:210-227: boxes → (class, conf, bbox) with the
  * COCO→internal class map of app/config.py:31-37). */
case class Detection(
    camera_id: String,
    ts: java.sql.Timestamp,
    class_id: String, // "car" | "motorcycle" after mapping
    confidence: Double,
    x1: Long, y1: Long, x2: Long, y2: Long)

/** One observation row — the reference's traffic_history grain
  * (app/database.py:18-30): density (total_*) vs flux (new_*). */
case class Observation(
    camera_id: String,
    ts: java.sql.Timestamp,
    total_count: Long, car_count: Long, motorcycle_count: Long,
    new_count: Long, new_cars: Long, new_motors: Long)

/** Per-camera dedup state: the previous tick's boxes
  * (app/services/camera.py:35 `prev_rects`). */
case class CamState(prevBoxes: Seq[(Long, Long, Long, Long)])

/** A mergeable view: running state that each micro-batch updates by
  * folding its own `partials` into the previous version with `merge`
  * ([[graft.io.VersionedState]]: versioned by batchId and merged from
  * the PREVIOUS version, so a crash-replayed batch re-merges from the
  * same base instead of double-counting). The state lives under
  * `<workRoot>/<name>` and is aggregate-scale. [[Ingest.startView]]
  * runs [[commit]] on every trigger; a batch replay (a backfill, or the
  * `mv_*` oracle queries, which fold a deterministic batch split)
  * calls the same [[commit]], so it exercises the exact code path the
  * sink runs. */
final case class MergeableView(name: String,
                               partials: DataFrame => DataFrame,
                               merge: (DataFrame, DataFrame) => DataFrame) {

  /** Fold `batch` into the state as version `batchId`. */
  def commit(batch: DataFrame, workRoot: String, batchId: Long): Unit =
    graft.io.VersionedState.mergeCommit(batch.sparkSession,
      s"$workRoot/$name", batchId, partials(batch), merge)

  /** The latest committed state (None before the first commit). */
  def latest(spark: SparkSession, workRoot: String): Option[DataFrame] =
    MergeableView.latest(spark, workRoot, name)
}

object MergeableView {
  /** The latest committed state of the view named `name` — for the
    * serving reads, which know the view but not its input columns. */
  def latest(spark: SparkSession, workRoot: String,
             name: String): Option[DataFrame] =
    graft.io.VersionedState.readLatest(spark, s"$workRoot/$name")
}

/** §2.9 — the streaming ingest pipeline. The reference is a hand-rolled
  * processing-time micro-batch system (2 s tick per camera, one daemon
  * thread each); here it is Structured Streaming:
  *
  *   detections stream
  *     → [stateful] IOU static-object dedup per camera (flatMapGroupsWithState)
  *     → observation rows (density + flux)
  *     → windowed aggregations with watermark / partitioned lake sink
  *
  * Scale: state is keyed by camera — thousands of cameras shard across
  * executors; state size is bounded by boxes-per-frame, not history.
  * The dedup is the ONE genuinely sequential op in the system (each tick
  * compares against the previous tick), which is exactly what
  * flatMapGroupsWithState models without giving up distribution across
  * keys.
  */
object Ingest {

  /** COCO class id → internal class (reference app/config.py:28-37). */
  val cocoClassMap: Map[Int, String] =
    Map(1 -> "motorcycle", 2 -> "car", 3 -> "motorcycle", 5 -> "car", 7 -> "car")

  // State directory names of the mergeable views whose serving reads
  // finalize the state; each is the on-disk layout of a deployed view.
  private val PatternState = "pattern"
  private val GramState = "gram"
  private val HourlyState = "hourly"
  private val ProfileState = "profile"
  private val SourceCountState = "sourcecounts"
  private val DsirRawState = "dsirraw"
  private val QuantileState = "valuehist"
  private val DataChecksState = "datachecks"

  /** The one `foreachBatch` stream builder: every sink below runs
    * `body(batch, batchId)` per micro-batch in append mode under
    * `checkpoint` (exactly-once at the batch grain). */
  private def sink(rows: DataFrame, checkpoint: String, trigger: Trigger)(
      body: (DataFrame, Long) => Unit): StreamingQuery =
    rows.writeStream
      .outputMode(OutputMode.Append)
      .trigger(trigger)
      .option("checkpointLocation", checkpoint)
      .foreachBatch(body)
      .start()

  /** Maintain `view` from the `rows` stream: each micro-batch is
    * [[MergeableView.commit]]ted under `workRoot`; serve from the view's
    * `latest` state or its finalizing read. */
  def startView(view: MergeableView, rows: DataFrame, workRoot: String,
                checkpoint: String,
                trigger: Trigger = Trigger.ProcessingTime(0L))
      : StreamingQuery =
    sink(rows, checkpoint, trigger)(view.commit(_, workRoot, _))

  /** The in-sink fold cadence: every `every`-th batch after the first
    * (`every = 0` disables — external maintenance cadence instead). */
  private def compactDue(every: Int, batchId: Long): Boolean =
    every > 0 && batchId > 0 && batchId % every == 0

  /** In-sink maintenance for the `b=<batchId>` layouts: on the
    * `every`-batch cadence ([[compactDue]]), fold each root's committed
    * batch dirs (`upTo = batchId - 1` — committed by definition once
    * this batch runs, see [[graft.io.Batches.compact]]'s safe-fold
    * bound) into its compacted base. Keeps a long-running stream's dir
    * count O(every) per root instead of O(stream lifetime).
    *
    * CONSUMER CONTRACT for every root this touches: compaction
    * renames a new base over the old one and only then deletes the
    * superseded dirs, so there is a crash window
    * (post-rename, pre-delete) in which a plain
    * `spark.read.parquet(root)` double-reads rows that are in both the
    * new base and a not-yet-deleted dir. [[graft.io.Batches.read]]'s
    * live-dirs rule resolves that window correctly — downstream
    * consumers of any self-compacting root MUST read through it (and
    * lose per-batch `b=` provenance on folded batches); callers whose
    * consumers read plain parquet should pass `compactEvery = 0` and
    * fold externally at a quiet moment. Each public sink's
    * `compactEvery` doc repeats this. */
  private def maybeCompact(spark: SparkSession, every: Int, batchId: Long,
                           roots: String*): Unit =
    if (compactDue(every, batchId))
      roots.foreach(r =>
        graft.io.Batches.compact(spark, r, upTo = batchId - 1))

  /** Column-level COCO mapping for use before typed conversion. */
  def mapCocoClass(classId: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val m = typedlit(cocoClassMap.map { case (k, v) => (k.toString, v) })
    m(classId.cast("string"))
  }

  /** IOU with the reference's +1-pixel convention (camera.py:88-104). */
  def iou(a: (Long, Long, Long, Long), b: (Long, Long, Long, Long)): Double = {
    val iw = math.max(math.min(a._3, b._3) - math.max(a._1, b._1) + 1, 0L)
    val ih = math.max(math.min(a._4, b._4) - math.max(a._2, b._2) + 1, 0L)
    val inter = iw * ih
    val union = (a._3 - a._1 + 1) * (a._4 - a._2 + 1) +
      (b._3 - b._1 + 1) * (b._4 - b._2 + 1) - inter
    if (union > 0) inter.toDouble / union.toDouble else 0.0
  }

  private val StaticIou = 0.5 // app/config.py IOU threshold for "static"

  /** Core per-camera tick processor: rows sorted by event time, grouped
    * into ticks (identical ts = one frame); a detection overlapping any
    * previous-tick box with IOU > 0.5 is static → excluded from new_*
    * (camera.py:239-256). Pure function so batch and streaming share it. */
  def processTicks(rows: Seq[Detection],
                   initial: Seq[(Long, Long, Long, Long)])
      : (Seq[Observation], Seq[(Long, Long, Long, Long)]) = {
    var prev = initial
    val out = Seq.newBuilder[Observation]
    // stable sort by ts then coordinates for deterministic tick order
    val ticks = rows.sortBy(d => (d.ts.getTime, d.x1, d.y1, d.x2, d.y2))
      .foldLeft(Vector.empty[Vector[Detection]]) { (acc, d) =>
        if (acc.nonEmpty && acc.last.head.ts == d.ts) acc.init :+ (acc.last :+ d)
        else acc :+ Vector(d)
      }
    ticks.foreach { tick =>
      val boxes = tick.map(d => (d.x1, d.y1, d.x2, d.y2))
      val isNew = tick.map { d =>
        !prev.exists(p => iou((d.x1, d.y1, d.x2, d.y2), p) > StaticIou)
      }
      val cars = tick.count(_.class_id == "car")
      val motos = tick.count(_.class_id == "motorcycle")
      val newDet = tick.zip(isNew).filter(_._2).map(_._1)
      out += Observation(
        camera_id = tick.head.camera_id,
        ts = tick.head.ts,
        total_count = tick.size.toLong,
        car_count = cars.toLong,
        motorcycle_count = motos.toLong,
        new_count = newDet.size.toLong,
        new_cars = newDet.count(_.class_id == "car").toLong,
        new_motors = newDet.count(_.class_id == "motorcycle").toLong)
      prev = boxes
    }
    (out.result(), prev)
  }

  /** Streaming stateful dedup: one state object per camera, carried
    * across micro-batches. Works identically on a batch Dataset (Spark
    * invokes the function once per key with all rows). */
  def dedupObservations(detections: Dataset[Detection]): Dataset[Observation] = {
    import detections.sparkSession.implicits._
    detections
      .groupByKey(_.camera_id)
      .flatMapGroupsWithState[CamState, Observation](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: String, rows: Iterator[Detection], state: GroupState[CamState]) =>
          val initial =
            if (state.exists) state.get.prevBoxes else Seq.empty
          val (obs, last) = processTicks(rows.toSeq, initial)
          state.update(CamState(last))
          obs.iterator
      }
  }

  /** Batch analog with identical semantics (used to cross-check the
    * streaming path in tests, and as the backfill job at rest). */
  def batchObservations(detections: Dataset[Detection]): Dataset[Observation] =
    dedupObservations(detections)

  /** A7/A8 streaming: tumbling-window flux sums with watermark-based
    * state eviction (replaces the deque retention bound, config.py:25). */
  def windowedFlux(obs: DataFrame, windowLen: String,
                   watermark: String): DataFrame =
    obs.withWatermark("ts", watermark)
      .groupBy(col("camera_id"), window(col("ts"), windowLen))
      .agg(sum("new_count").as("flux"),
        sum("new_cars").as("flux_cars"),
        sum("new_motors").as("flux_motors"),
        count(lit(1)).as("n_obs"))

  /** Gap-based session aggregation via the NATIVE `session_window` —
    * the streaming counterpart of `ops.Analytic.sessionize` (batch
    * lag+cumsum). State is merged/evicted by the engine per key as the
    * watermark advances, so unbounded keys don't accumulate unbounded
    * state. Boundary semantics: `session_window` starts a NEW session
    * when the inter-event gap is >= gap, the batch operator when it is
    * > gap — identical for every gap that isn't exactly the threshold.
    * Works on a static frame too (same code path, batch execution). */
  def sessionFlux(events: DataFrame, keyCol: String, tsCol: String,
                  valueCol: String, gap: String,
                  watermark: String): DataFrame =
    events.withWatermark(tsCol, watermark)
      .groupBy(col(keyCol), session_window(col(tsCol), gap))
      .agg(count(lit(1)).as("n_events"),
        min(unix_timestamp(col(tsCol))).as("session_start"),
        max(unix_timestamp(col(tsCol))).as("session_end"),
        graft.util.Exact.dsum2(col(valueCol)).as("total_value"))
      .select(col(keyCol), col("n_events"), col("session_start"),
        col("session_end"), col("total_value"))

  /** Streaming exact dedup over a document stream: drop any document
    * whose content hash was already seen within the watermark horizon —
    * the ingest-time half of the corpus-dedup pipeline (the batch half,
    * ops.TextDedup.exactDedup, sweeps the at-rest lake). State is one
    * entry per distinct hash, keyed and sharded by the 60-bit content
    * hash, and `dropDuplicatesWithinWatermark` evicts entries as event
    * time advances — bounded state on an unbounded stream, which a
    * plain dropDuplicates would not give. The text column never enters
    * the state store (hash + event-time only). Works identically on a
    * static frame (degenerates to the batch semantics). */
  def streamingExactDedup(docs: DataFrame, idCol: String, textCol: String,
                          tsCol: String, watermark: String): DataFrame = {
    val hashed = docs.withColumn("content_hash",
      graft.ops.TextDedup.md5Hash60(col(textCol)))
    if (docs.isStreaming)
      hashed.withWatermark(tsCol, watermark)
        .dropDuplicatesWithinWatermark("content_hash")
    else {
      // batch degenerate case: deterministic min-id survivor, matching
      // ops.TextDedup.exactDedup's keep_id convention (a bare
      // dropDuplicates keeps whichever row a partition saw first)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("content_hash").orderBy(col(idCol))
      hashed.withColumn("_rn", row_number().over(w))
        .filter(col("_rn") === 1).drop("_rn")
    }
  }

  /** X7-style running accumulators: streaming global + per-camera totals
    * (output mode Update — incremental by design). */
  def runningTotals(obs: DataFrame): DataFrame =
    obs.groupBy(col("camera_id"))
      .agg(sum("new_count").as("accumulated_count"),
        sum("new_cars").as("accumulated_cars"),
        sum("new_motors").as("accumulated_motors"),
        max("ts").as("last_update"))

  /** S8 streaming — periodic full-state snapshot (the reference rewrites
    * traffic_stats.json every 60 s, camera.py:319-322), maintained
    * INCREMENTALLY: each micro-batch reads only itself plus two bounded
    * stores, never the history lake.
    *
    *   - lifetime per-camera stats live in a versioned state table
    *     (camera-catalog-sized, one file): the batch's
    *     `Snapshot.perCamera` roll-up is folded in with
    *     `Snapshot.mergePerCamera` — sums add, density/last-update come
    *     from the later timestamp. Versioned by batchId and merged from
    *     the PREVIOUS version, so a replayed batch after a crash
    *     re-merges from the same base instead of double-counting
    *     (exactly-once without a transactional store).
    *   - the trailing-window slice lives in a `recent` store
    *     partitioned by (batch, day): dynamic partition overwrite makes
    *     replays idempotent, and day partitions older than the longest
    *     window are DELETED each batch — the store is bounded by the
    *     window horizon, not the stream's lifetime.
    *
    * The doc is then `Snapshot.assemble(state, recent)` — the same code
    * path as the batch `Snapshot.build`, producing a byte-identical
    * document (StreamingSpec pins equality across batches). At 100 TB
    * this replaces a full-lake scan per tick with: one batch roll-up,
    * one catalog-sized merge, one horizon-bounded read.
    *
    * The raw observations still append to `historyRoot` (the S9 lake) —
    * write-only here; nothing below ever reads it back.
    *
    * `mirrors` (catalog rows with camera_id, mirror_id) enables the
    * reference's mirror short-circuit (camera.py:140-154): mirrored
    * cameras serve their source's stats in the doc, and their window
    * history double-counts exactly like the reference's copied deque.
    * `foreachBatch` is the reference's cadence hook; a real deployment
    * sets Trigger.ProcessingTime("60 seconds"). */
  def startSnapshotSink(detections: Dataset[Detection], historyRoot: String,
                        snapshotPath: String, checkpoint: String,
                        windows: Seq[(String, Long)],
                        trigger: Trigger = Trigger.ProcessingTime(0L),
                        workRoot: String = null,
                        mirrors: Option[DataFrame] = None,
                        compactHistoryEvery: Int = 0)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val spark = detections.sparkSession
    val work = Option(workRoot).getOrElse(checkpoint + "_snapwork")
    val stateRoot = s"$work/state"
    val recentRoot = s"$work/recent"
    val horizonSec = windows.map(_._2).max
    val obs = dedupObservations(detections).toDF()
    // reference cadence: trigger = ProcessingTime("60 seconds")
    sink(obs, checkpoint, trigger) { (batch, batchId) =>
      batch.persist()
      try {
        // S9 lake append — write-only: the snapshot never reads this.
        // Each batch owns a b=<batchId> dir it overwrites, so a crash
        // replay can't double detections in the long-term record;
        // compactHistoryEvery folds the accumulating dirs in-sink
        // (or fold externally with graft.io.Batches.compact,
        // upTo <= last committed batch)
        graft.io.Batches.write(batch, historyRoot, batchId)
        maybeCompact(spark, compactHistoryEvery, batchId, historyRoot)
        // 1. fold the batch roll-up into the previous state version
        // (replay-safe versioned commit — io.VersionedState)
        graft.io.VersionedState.mergeCommit(
          spark, stateRoot, batchId,
          graft.io.Snapshot.perCamera(batch),
          graft.io.Snapshot.mergePerCamera)
        val state = graft.io.VersionedState.read(spark, stateRoot, batchId)
        // 2. horizon-bounded recent store, idempotent on replay.
        // Partitioned by EPOCH day — floor(epoch/86400), the same
        // clock the retention cutoff below uses. A calendar key
        // (to_date) would be session-timezone-local: west of UTC a
        // local day holds rows up to |offset| hours past the assumed
        // UTC day end, and the prune would delete in-horizon rows.
        batch.select(col("camera_id"), col("ts"), col("new_count"),
            col("new_cars"), col("new_motors"))
          .withColumn("b", lit(batchId))
          .withColumn("d", floor(unix_timestamp(col("ts")) / 86400L))
          .write.partitionBy("b", "d")
          .option("partitionOverwriteMode", "dynamic")
          .mode("overwrite").parquet(recentRoot)
        // 3. retention: a day partition whose entire range is older
        // than (now − horizon) can never contribute to a window again
        // — partition d covers [d*86400, (d+1)*86400), so it is dead
        // iff (d+1)*86400 <= now − horizon, i.e. d + 1 <= cutoffDay.
        // An all-empty stream so far (processing-time triggers DO
        // deliver empty batches) has no "now" and nothing to prune or
        // publish — skip those steps without killing the query.
        val nowRow = state.agg(max(col("last_update"))).collect().head
        if (!nowRow.isNullAt(0)) {
          val nowEpoch = nowRow.getDouble(0)
          val cutoffDay =
            math.floor((nowEpoch - horizonSec) / 86400.0).toLong
          graft.io.Fs.listDirNames(spark, recentRoot)
            .filter(_.startsWith("b=")).foreach { bname =>
              val bdir = s"$recentRoot/$bname"
              graft.io.Fs.listDirNames(spark, bdir)
                .filter(_.startsWith("d=")).foreach { dname =>
                  val day = dname.drop(2).toLong
                  if (day + 1 <= cutoffDay)
                    graft.io.Fs.delete(spark, s"$bdir/$dname")
                }
              // a batch dir whose last day partition was pruned is
              // dead weight: left in place it would grow the listing
              // walk and partition discovery forever (~1.4k dirs/day
              // at a 60s cadence) — delete it so the directory count
              // stays bounded by the horizon too
              if (graft.io.Fs.listDirNames(spark, bdir)
                    .forall(!_.startsWith("d=")))
                graft.io.Fs.delete(spark, bdir)
            }
          // 4. assemble the doc from state + bounded recent — the
          // same code path as the batch Snapshot.build
          val recent = spark.read.parquet(recentRoot).drop("b", "d")
          val pc = mirrors
            .map(m => graft.io.Snapshot.applyMirrors(state, m))
            .getOrElse(state)
          val winObs = mirrors
            .map(m => graft.io.Snapshot.withMirroredObs(recent, m))
            .getOrElse(recent)
          graft.io.Snapshot.write(
            graft.io.Snapshot.assemble(pc, winObs, windows), snapshotPath)
        }
      } finally { batch.unpersist(); () }
    }
  }

  /** Incrementally-maintained prediction pattern — the A4 materialized
    * view. The reference recomputes its (dow, hour) averages from full
    * history on every `/api/predict_traffic` request (app/database.py:
    * 109-145); at 100 TB that read is the product. Here each
    * micro-batch folds its (key, dow, hr, date) daily partials —
    * exact long units, additive across batches — into a versioned
    * state table ([[patternView]], the same replay-safe mechanic as the
    * snapshot sink), and serving is a tiny groupBy over the partials
    * via [[readPattern]]: `Predict.patternFromDaily(state)` is
    * bit-identical to `Predict.hourlyPattern(full history)` at every
    * point in time (StreamingSpec pins it, including batches that
    * split a calendar day). The state is the DAILY aggregate —
    * cameras × 24 × days rows, catalog-calendar scale, not the lake. */
  def startPatternSink(events: DataFrame, keyCol: String, tsCol: String,
                       valueCol: String, workRoot: String,
                       checkpoint: String,
                       trigger: Trigger = Trigger.ProcessingTime(0L))
      : org.apache.spark.sql.streaming.StreamingQuery =
    startView(patternView(keyCol, tsCol, valueCol), events, workRoot,
      checkpoint, trigger)

  /** The view [[startPatternSink]] maintains: (key, dow, hr, date)
    * daily partials in exact long units. */
  def patternView(keyCol: String, tsCol: String,
                  valueCol: String): MergeableView =
    MergeableView(PatternState,
      graft.ops.Predict.dailyPartials(_, keyCol, tsCol, valueCol),
      graft.ops.Predict.mergeDailyPartials(keyCol))

  /** Serving read for [[startPatternSink]]: all-slot predictions from
    * the materialized partials (empty frame before the first commit). */
  def readPattern(spark: SparkSession, workRoot: String,
                  keyCol: String): Option[DataFrame] =
    MergeableView.latest(spark, workRoot, PatternState)
      .map(daily => graft.ops.Predict.patternFromDaily(daily, keyCol))

  /** Streaming MODEL MV — the trained model kept continuously current
    * from the SAME state [[startPatternSink]] maintains: the slot
    * regression's training input is the daily-partials grain, whose
    * cross-batch merge is long addition, so refitting the closed-form
    * model ([[graft.ml.SlotRegression]]) from the materialized state
    * equals the batch fit over the concatenated stream BIT-FOR-BIT
    * (StreamingSpec pins it; the mv_slot_lr driver row shares
    * ml_slot_lr's exact-integer oracle). Per-trigger cost is the
    * pattern sink's partial merge; the refit runs at serve time over
    * slot-scale state — at 100 TB the model is always fresh and
    * training never rescans events. */
  def readSlotModel(spark: SparkSession, workRoot: String,
                    keyCol: String): Option[DataFrame] =
    MergeableView.latest(spark, workRoot, PatternState)
      .map(daily => graft.ml.SlotRegression.predictFromSlots(
        graft.ml.SlotRegression.slotLabelsFromDaily(daily, keyCol),
        keyCol))

  /** Streaming SPECTRAL MV — [[readSlotModel]]'s sibling for the
    * embedding corpus: each batch folds its exact second-moment
    * partials ([[graft.ops.Spectral.gramPartials]] — d(d+1)/2 + d + 1
    * DECIMAL rows, additive) into versioned state, so the corpus's
    * covariance spectrum is always current without ever rescanning
    * vectors. Per-trigger cost is the batch's one Gram pass plus a
    * merge over the metadata-scale state table; at 100 TB the
    * spectrum serves from state alone. Run it with [[startView]]. */
  def gramView(vecCol: String): MergeableView =
    MergeableView(GramState, graft.ops.Spectral.gramPartials(_, vecCol),
      graft.ops.Spectral.mergeGramPartials)

  /** Serving read for [[gramView]]: the spectral health row
    * (n_vecs, trace_e8, lambda_e8, share_bp) refit from state — the
    * partials merge is exact decimal addition, so this equals the
    * batch [[graft.ops.Spectral.pcaVariance]] over the concatenated
    * stream BIT-FOR-BIT (the mv_pca driver row shares e_pca_var's
    * unrolled-CTE oracle). */
  def readPcaVariance(spark: SparkSession, workRoot: String, dim: Int,
                      iters: Int): Option[DataFrame] =
    MergeableView.latest(spark, workRoot, GramState)
      .map(p => graft.ops.Spectral.varianceDf(spark,
        graft.ops.Spectral.statsFromPartials(p, dim), iters))

  /** Incrementally-maintained threshold training input — the A5/A6
    * materialized view, same mechanic as [[startPatternSink]]: each
    * batch's (key, hour_bucket) volume partials (exact long units,
    * additive) fold into a versioned state table; [[readThresholds]]
    * refits p50/p75/p90/max from the AGGREGATE (keys × hours rows), so
    * at 100 TB the percentile sort never sees raw history. Refit
    * cadence is the caller's choice — the state is always current.
    * Run it with [[startView]]. */
  def hourlyView(keyCol: String, tsCol: String,
                 valueCol: String): MergeableView =
    MergeableView(HourlyState,
      graft.ops.Percentiles.hourlyPartials(_, keyCol, tsCol, valueCol),
      graft.ops.Percentiles.mergeHourlyPartials(keyCol))

  /** Serving read for [[hourlyView]]: thresholds refit from the
    * materialized hourly partials (None before the first commit). */
  def readThresholds(spark: SparkSession, workRoot: String,
                     keyCol: String): Option[DataFrame] =
    MergeableView.latest(spark, workRoot, HourlyState)
      .map(h => graft.ops.Percentiles.thresholdsFromHourly(h, keyCol))

  /** Incrementally-maintained corpus unigram statistics — the
    * LM-quality filter's corpus model as a streaming MV, same mechanic
    * as [[startPatternSink]]: each micro-batch's `(term, cnt)` partials
    * ([[graft.ops.TextStats.unigramPartials]] — exact longs, additive
    * in any batch order) fold into a versioned state table. Serving:
    * the view's `latest` state + [[graft.ops.TextStats.unigramScoreAgainst]]
    * scores any doc slice against the current model — bit-identical to
    * `unigramScore` over the full ingested corpus (StreamingSpec pins
    * it), without ever rescanning that corpus. The state is
    * VOCAB-scale (one row per distinct term), not corpus-scale. Run it
    * with [[startView]]. */
  def unigramView(textCol: String): MergeableView =
    MergeableView("unigram", graft.ops.TextStats.unigramPartials(_, textCol),
      graft.ops.TextStats.mergeUnigramPartials)

  /** Streaming shingle doc-frequency MV — the ExactSubstr duplication
    * profile's corpus statistic as an incrementally-maintained state
    * table (same additive-partial machinery as [[unigramView]]):
    * each micro-batch's `(sh_h, df)` partials
    * ([[graft.ops.TextDedup.shingleFreqPartials]] — docs counted once,
    * exact longs) fold into versioned state. Serving: the view's
    * `latest` state + [[graft.ops.TextDedup.dupSpanStatsAgainst]]
    * scores any ingested slice's duplicated-span fraction against the
    * WHOLE corpus history — row-identical to batch `dupSpanStats` over
    * everything ingested (StreamingSpec pins it) with no corpus
    * rescan. State is shingle-vocabulary scale. Run it with
    * [[startView]]. */
  def shingleFreqView(idCol: String, textCol: String,
                      n: Int): MergeableView =
    MergeableView("shinglefreq",
      graft.ops.TextDedup.shingleFreqPartials(_, idCol, textCol, n),
      graft.ops.TextDedup.mergeShingleFreqPartials)

  /** Streaming corpus BIGRAM-stats MV — [[unigramView]] for
    * 2-gram events (same additive-partial + versioned-state-merge
    * machinery, bigram-vocab-scale state): keeps the order-sensitive
    * [[graft.ops.TextStats.bigramScore]] model current without corpus
    * rescans; serve via the view's `latest` state +
    * [[graft.ops.TextStats.bigramScoreAgainst]] (bit-equal to the
    * batch score, spec-pinned). Run it with [[startView]]. */
  def bigramView(textCol: String): MergeableView =
    MergeableView("bigram", graft.ops.TextStats.bigramPartials(_, textCol),
      graft.ops.TextStats.mergeUnigramPartials)

  /** Streaming COLUMN-PROFILE MV — the data-quality monitor as a
    * materialized view (same versioned-state mechanic as the
    * unigram/bigram/pattern sinks): each micro-batch is profiled once
    * ([[graft.ops.Profiler.profilePartials]] — exact counts + typed
    * min/max + a mergeable DataSketches HLL sketch per column) and
    * folded into an n_cols-row state table. Serving:
    * [[readProfile]] finalizes the state into [[graft.ops.Profiler.summary]]'s
    * schema: the EXACT stats (counts, null counts, typed min/max) are
    * bit-identical to single-pass-profiling the full ingested corpus;
    * the distinct-count column is an HLL union estimate — within the
    * sketch's error bound of the single-pass estimate and
    * deterministic for a fixed fold order, but NOT fold-invariant
    * (union mode transitions discard the HIP estimator; ProfilerSpec
    * pins the tolerance, StreamingSpec the determinism) — all without
    * ever rescanning that corpus, and
    * [[graft.ops.Profiler.driftFromProfiles]] gates it against any
    * baseline profile with an n_cols-row join. At 100 TB of ingest
    * this keeps a continuously-current profile for the cost of one
    * wide aggregation per micro-batch. Run it with [[startView]]. */
  val profileView: MergeableView =
    MergeableView(ProfileState, graft.ops.Profiler.profilePartials,
      graft.ops.Profiler.mergeProfilePartials)

  /** Serving read for [[profileView]]: the current profile in
    * [[graft.ops.Profiler.summary]]'s schema (None before the first
    * commit). */
  def readProfile(spark: SparkSession,
                  workRoot: String): Option[DataFrame] =
    MergeableView.latest(spark, workRoot, ProfileState)
      .map(graft.ops.Profiler.profileFromPartials)

  /** Streaming SOURCE-HISTOGRAM MV — the state behind a continuously
    * current temperature-rebalance rate table (the batch recipe's
    * rebalance stage, [[graft.ops.Sampling.temperature]], made
    * streaming-consumable): each micro-batch's per-source counts —
    * exact additive longs, so fold order cannot change the state —
    * merge into a sources-scale versioned table (one row per source,
    * same mechanic as the profile/unigram MVs). Serving:
    * [[readTemperatureRates]] runs the exact waterfill
    * ([[graft.ops.Sampling.temperatureRates]]) over the tiny state
    * frame, so a downstream sampler
    * ([[graft.ops.Sampling.applyTemperatureRates]]) consumes rates
    * that reflect EVERYTHING ingested so far — bit-identical to
    * running batch `temperature` over the full ingested corpus
    * (StreamingSpec pins the kept-id-set equality) without rescanning
    * it. At 100 TB of ingest the per-trigger cost is one partial-agg
    * count of the batch plus a sources-scale merge. Run it with
    * [[startView]]. */
  def sourceCountView(sourceCol: String): MergeableView =
    MergeableView(SourceCountState,
      _.groupBy(col(sourceCol)).agg(count(lit(1)).as("_n")),
      (a, b) => a.unionByName(b).groupBy(col(sourceCol))
        .agg(sum(col("_n")).as("_n")))

  /** Streaming DSIR RAW-side bucket-count MV — importance-resampling
    * statistics kept current as the raw corpus streams in (the same
    * additive-partial + versioned-state machinery as the unigram MV;
    * state is <= nBuckets rows of exact longs, so fold order cannot
    * change it). The TARGET corpus is small and fixed by definition —
    * DSIR selects raw docs TOWARD a target distribution — so its
    * counts stay a batch frame the caller supplies at serving time:
    * [[readDsirModel]] folds the current raw state with them and
    * freezes the micro-unit weights, bit-identical to batch
    * [[graft.ops.Sampling.dsirFit]] over everything ingested
    * (StreamingSpec pins model and scores) with no corpus rescan. Run
    * it with [[startView]]. */
  def dsirRawCountView(textCol: String, nBuckets: Int): MergeableView =
    MergeableView(DsirRawState,
      graft.ops.Sampling.dsirBucketCounts(_, textCol, nBuckets),
      graft.ops.Sampling.mergeDsirCounts)

  /** Serving read for [[dsirRawCountView]]: the frozen DSIR model
    * over everything ingested so far vs the supplied target corpus
    * (None before the first commit). Feed it to
    * [[graft.ops.Sampling.dsirScore]] / `dsirResample`. */
  def readDsirModel(spark: SparkSession, workRoot: String,
                    target: DataFrame, textCol: String, nBuckets: Int)
      : Option[graft.ops.Sampling.DsirModel] =
    MergeableView.latest(spark, workRoot, DsirRawState)
      .map(raw => graft.ops.Sampling.dsirFitFromCounts(raw,
        graft.ops.Sampling.dsirBucketCounts(target, textCol, nBuckets),
        nBuckets))

  /** Serving read for [[sourceCountView]]: the CURRENT waterfill
    * rate table (`sourceCol`, `rate`), None before the first commit.
    * Feed it to [[graft.ops.Sampling.applyTemperatureRates]]. */
  def readTemperatureRates(spark: SparkSession, workRoot: String,
                           sourceCol: String, alpha: Double,
                           budgetFrac: Double): Option[DataFrame] =
    MergeableView.latest(spark, workRoot, SourceCountState)
      .map(h => graft.ops.Sampling.temperatureRates(
        h, sourceCol, "_n", alpha, budgetFrac))

  /** Streaming ACTIVITY INDEX — retention analytics without ever
    * rescanning the event stream: each micro-batch appends its
    * DISTINCT `(user, period)` pairs idempotently under `b=<batchId>`
    * (the replay-safe layout shared with the history/near-dup sinks;
    * [[graft.io.Batches.compact]] bounds the directory count). The
    * state is pair-scale — users × their active periods — which is
    * what makes a retention dashboard over a 100 TB event history
    * serveable: the serving read ([[readRetention]]) dedups pairs
    * across batches (a user active in the same period in many batches
    * counts once) and runs the cohort fold over that small set,
    * row-identical to batch [[graft.ops.Analytic.retentionCohorts]]
    * over the concatenated stream (StreamingSpec). */
  def startActivitySink(events: DataFrame, userCol: String,
                        tsCol: String, intervalSec: Long,
                        outRoot: String, checkpoint: String,
                        trigger: Trigger = Trigger.ProcessingTime(0L))
      : org.apache.spark.sql.streaming.StreamingQuery =
    sink(events, checkpoint, trigger) { (batch, batchId) =>
      commitActivityBatch(batch, outRoot, batchId, userCol, tsCol,
        intervalSec)
    }

  /** Per-batch body of [[startActivitySink]] (exposed for batch
    * replay, like [[MergeableView.commit]]). */
  def commitActivityBatch(batch: DataFrame, outRoot: String, batchId: Long,
                          userCol: String, tsCol: String,
                          intervalSec: Long): Unit = {
    graft.io.Batches.write(batch.select(col(userCol),
        floor(unix_timestamp(col(tsCol)) / intervalSec)
          .cast("long").as("period"))
      .distinct(), outRoot, batchId)
    ()
  }

  /** Serving read for [[startActivitySink]]: the retention cohort
    * triangle over everything ingested so far (None before the first
    * commit). */
  def readRetention(spark: SparkSession, outRoot: String,
                    userCol: String): Option[DataFrame] =
    graft.io.Batches.read(spark, outRoot).map(act =>
      graft.ops.Analytic.retentionFromActivity(
        act.select(col(userCol), col("period")).distinct(),
        userCol))

  /** Streaming GAP-SESSION MV — the streaming form of the native
    * session-window family (`a16_session_window` is the batch twin):
    * each micro-batch sessionizes ITS OWN events (the lag/cumsum gap
    * split, per key) and appends the resulting session SUMMARIES
    * `(key, smin, smax, n, vol_units)` under `b=<batchId>`
    * (replay-idempotent; [[graft.io.Batches.compact]] bounds the
    * directory count). Serving ([[readSessions]]) interval-merges the
    * accumulated summaries per key — exact: consecutive gaps inside a
    * committed sub-session are < gapSec by construction, so two
    * summaries belong to one raw-event session iff their intervals
    * overlap or sit closer than gapSec, a pure fold over
    * SESSION-grain rows (state is sessions × keys, never the event
    * history). Counts and fixed-point volume units are additive
    * longs, so the merged row is bit-identical to the batch
    * aggregation at ANY batch split, including splits that bisect a
    * session and out-of-order arrivals (StreamingSpec; driver-oracled
    * `mv_sessions` against the a16 SQL). `horizonSec > 0` (requires
    * compactEvery > 0) turns on the production recent-store
    * discipline: compaction watermark-evicts sessions closed more
    * than the horizon before the event-time high-water mark, bounding
    * at-rest state by LIVE in-horizon sessions instead of stream
    * history — serving inside the horizon stays bit-identical
    * ([[compactSessions]]; StreamingSpec pins both properties). The
    * default keeps everything so the oracle can re-derive the MV
    * exactly. */
  def startSessionSink(events: DataFrame, keyCol: String, tsCol: String,
                       valueCol: String, gapSec: Long,
                       outRoot: String, checkpoint: String,
                       trigger: Trigger = Trigger.ProcessingTime(0L),
                       compactEvery: Int = 0,
                       horizonSec: Long = 0L)
      : org.apache.spark.sql.streaming.StreamingQuery =
    sink(events, checkpoint, trigger) { (batch, batchId) =>
      // the session fold MERGES while it compacts (Batches.compact
      // foldBase contract): the folded base holds one row per LIVE
      // merged session, so the at-rest state — and every serve's
      // merge input — is bounded by session count, never by how
      // many commits the stream has made. Consumer contract as
      // every self-compacting root: read via Batches.read
      // (readSessions does).
      if (compactDue(compactEvery, batchId))
        compactSessions(batch.sparkSession, outRoot, keyCol, gapSec,
          upTo = batchId - 1, horizonSec = horizonSec)
      commitSessionBatch(batch, outRoot, batchId, keyCol, tsCol,
        valueCol, gapSec)
    }

  /** The session-summary interval merge in STORED form (`smin`,
    * `smax`, `n`, `vol_units`) — shared by the serving read and the
    * compaction fold. A summary starts a new merged session iff its
    * smin sits ≥ gapSec after the running max smax of everything
    * before it (running max, not lag — an interval can be wholly
    * contained in an earlier one). Confluent: a merged row is itself
    * a valid summary (its internal gaps are < gapSec), so merging a
    * SUBSET first and re-merging later yields the same final rows —
    * which is what makes the fold a serve-level no-op at any
    * compaction cadence (spec-pinned). */
  def mergeSessionSummaries(s: DataFrame, keyCol: String,
                            gapSec: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(keyCol))
      .orderBy(col("smin"), col("smax"))
    val prevMax = max(col("smax")).over(
      w.rowsBetween(Window.unboundedPreceding, -1))
    s.withColumn("_brk",
        when(prevMax.isNull || col("smin") - prevMax >= gapSec, 1L)
          .otherwise(0L))
      .withColumn("_sid",
        sum(col("_brk")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col(keyCol), col("_sid"))
      .agg(min(col("smin")).as("smin"), max(col("smax")).as("smax"),
        sum(col("n")).as("n"), sum(col("vol_units")).as("vol_units"))
      .select(col(keyCol), col("smin"), col("smax"), col("n"),
        col("vol_units"))
  }

  /** Fold the session root's committed batches into one PRE-MERGED
    * base (see [[startSessionSink]]'s compactEvery note).
    *
    * `horizonSec > 0` enables WATERMARK EVICTION — the production
    * recent-store discipline: after the merge, sessions whose
    * `smax + gapSec` sits more than `horizonSec` behind the fold's
    * event-time high-water mark (max smax across the folded state)
    * are dropped from the new base. Such a session is CLOSED under
    * the watermark contract — any event that could still extend it
    * would be more than `horizonSec` late and is excluded by
    * assumption (the standard Structured-Streaming lateness bound) —
    * so serving within the horizon is bit-identical to the
    * keep-everything replay (spec-pinned), while the at-rest state is
    * bounded by sessions LIVE inside the horizon instead of growing
    * with stream history. 0 keeps everything (the oracle-replay
    * mode). */
  def compactSessions(spark: SparkSession, outRoot: String,
                      keyCol: String, gapSec: Long, upTo: Long,
                      horizonSec: Long = 0L): Boolean =
    graft.io.Batches.compact(spark, outRoot, upTo,
      foldBase = { df =>
        val merged = mergeSessionSummaries(df.drop("b"), keyCol, gapSec)
        if (horizonSec <= 0L) merged
        else {
          // one-row event-time high-water mark (the bounded scalar
          // broadcast pattern); evict sessions already closed more
          // than the horizon before it
          val wm = merged.agg(max(col("smax")).as("_wm"))
          merged.crossJoin(broadcast(wm))
            .filter(col("smax") + gapSec >= col("_wm") - horizonSec)
            .drop("_wm")
        }
      })

  /** Per-batch body of [[startSessionSink]] (exposed for batch
    * replay, like [[MergeableView.commit]]): the batch's
    * own gap-sessions, reduced to summary rows with exact long units
    * (round(value·100) — the [[graft.util.Exact]] fixed-point). */
  def commitSessionBatch(batch: DataFrame, outRoot: String,
                         batchId: Long, keyCol: String, tsCol: String,
                         valueCol: String, gapSec: Long): Unit = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(keyCol)).orderBy(col("eps"))
    graft.io.Batches.write(batch.select(col(keyCol),
        unix_timestamp(col(tsCol)).as("eps"),
        round(col(valueCol) * 100).cast("long").as("_u"))
      .withColumn("_brk",
        when(lag(col("eps"), 1).over(w).isNull ||
          col("eps") - lag(col("eps"), 1).over(w) >= gapSec, 1L)
          .otherwise(0L))
      .withColumn("_sid", sum(col("_brk")).over(w))
      .groupBy(col(keyCol), col("_sid"))
      .agg(min(col("eps")).as("smin"), max(col("eps")).as("smax"),
        count(lit(1)).as("n"), sum(col("_u")).as("vol_units"))
      .select(col(keyCol), col("smin"), col("smax"), col("n"),
        col("vol_units")), outRoot, batchId)
    ()
  }

  /** Serving read for [[startSessionSink]]: the merged session table
    * over everything ingested so far, in the `a16_session_window`
    * output convention (`session_end` = last event + gap). The merge
    * is one window pass over SESSION-summary rows: a summary starts a
    * new merged session iff its smin sits ≥ gapSec after the running
    * max smax of everything before it (running max, not lag — an
    * interval can be wholly contained in an earlier one). None before
    * the first commit. */
  def readSessions(spark: SparkSession, outRoot: String, keyCol: String,
                   gapSec: Long): Option[DataFrame] =
    graft.io.Batches.read(spark, outRoot).map { s =>
      mergeSessionSummaries(s.select(col(keyCol), col("smin"),
          col("smax"), col("n"), col("vol_units")), keyCol, gapSec)
        .select(col(keyCol), col("smin").as("session_start"),
          (col("smax") + gapSec).as("session_end"),
          col("n").as("n_events"),
          graft.util.Exact.unitsToDouble2(col("vol_units"))
            .as("session_volume"))
    }

  /** Streaming LINK-GRAPH MV — the crawl-prioritization model kept
    * current: each micro-batch appends its (src, dst) edges under
    * `b=<batchId>` (replay-idempotent — the activity-sink layout;
    * per-trigger cost is one narrow write of the batch, nothing reads
    * history); serving ([[readPageRank]]) runs the fixed-iteration
    * exact PageRank over the accumulated edge log, so domain ranks
    * always reflect every link ingested. [[graft.io.Batches.compact]]
    * bounds the directory count of a long-running stream. */
  def startLinkGraphSink(edges: DataFrame, srcCol: String, dstCol: String,
                         outRoot: String, checkpoint: String,
                         trigger: Trigger = Trigger.ProcessingTime(0L))
      : org.apache.spark.sql.streaming.StreamingQuery =
    sink(edges, checkpoint, trigger) { (batch, batchId) =>
      commitLinkGraphBatch(batch, outRoot, batchId, srcCol, dstCol)
    }

  /** Per-batch body of [[startLinkGraphSink]] (exposed for batch
    * replay, like [[MergeableView.commit]]). */
  def commitLinkGraphBatch(batch: DataFrame, outRoot: String,
                           batchId: Long, srcCol: String,
                           dstCol: String): Unit = {
    graft.io.Batches.write(
      batch.select(col(srcCol).as("src"), col(dstCol).as("dst")),
      outRoot, batchId)
    ()
  }

  /** Serving read for [[startLinkGraphSink]]: exact fixed-iteration
    * PageRank over every edge ingested so far — identical to the
    * batch [[graft.ops.Graph.pageRankU6]] over the concatenated edge
    * stream (edge order cannot matter: the rank recursion only sees
    * the multiset of edges). None before the first commit. */
  def readPageRank(spark: SparkSession, outRoot: String,
                   iters: Int): Option[DataFrame] =
    graft.io.Batches.read(spark, outRoot).map(e =>
      graft.ops.Graph.pageRankU6(e.drop("b"), "src", "dst", iters))

  /** Streaming BUCKET-GRAIN MV — the time-series family's feeder kept
    * continuously current: each micro-batch appends its own
    * (key, bucket_ts, u) fixed-point partials under `b=<batchId>`
    * (replay-idempotent; ADDITIVE — a bucket split across batches
    * folds by long addition at serving, so per-trigger cost is one
    * partial agg of the batch). Serving folds the grain and
    * re-expresses it as an equivalent one-event-per-bucket stream
    * ([[readBucketGrainAsEvents]]) — the ENTIRE Forecast family
    * (decompose, next-day forecast, EWMA, CUSUM, MAD anomalies) then
    * runs over a 100 TB event history without rescanning events, with
    * results identical to the batch op over the raw stream
    * (StreamingSpec pins MAD and the forecast): bucketUnits re-derives
    * the exact same grain from the reconstructed stream
    * (floor(bucket/γ)·γ = bucket; round((u/100)·100) = u, exact for
    * |u| < 2^51). [[graft.io.Batches.compact]] bounds the layout. */
  def startBucketGrainSink(events: DataFrame, keyCol: String,
                           tsCol: String, valueCol: String,
                           bucketSec: Long, outRoot: String,
                           checkpoint: String,
                           trigger: Trigger = Trigger.ProcessingTime(0L))
      : org.apache.spark.sql.streaming.StreamingQuery =
    sink(events, checkpoint, trigger) { (batch, batchId) =>
      commitBucketGrainBatch(batch, outRoot, batchId, keyCol, tsCol,
        valueCol, bucketSec)
    }

  /** Per-batch body of [[startBucketGrainSink]] (exposed for batch
    * replay, like [[MergeableView.commit]]). */
  def commitBucketGrainBatch(batch: DataFrame, outRoot: String,
                             batchId: Long, keyCol: String, tsCol: String,
                             valueCol: String, bucketSec: Long): Unit = {
    graft.io.Batches.write(batch.groupBy(col(keyCol),
        (floor(unix_timestamp(col(tsCol)) / bucketSec) * bucketSec)
          .cast("long").as("bucket_ts"))
      .agg(sum(round(col(valueCol) * 100).cast("long")).as("u")),
      outRoot, batchId)
    ()
  }

  /** Serving read for [[startBucketGrainSink]]: the folded grain as an
    * equivalent event stream (one event per bucket at the bucket
    * timestamp carrying the bucket's exact total) — feed it to any
    * Forecast op with `tsCol = "ts"`, `valueCol = "value"`. None
    * before the first commit. */
  def readBucketGrainAsEvents(spark: SparkSession, outRoot: String,
                              keyCol: String): Option[DataFrame] =
    graft.io.Batches.read(spark, outRoot).map(grain =>
      grain.drop("b")
        .groupBy(col(keyCol), col("bucket_ts"))
        .agg(sum(col("u")).as("_u"))
        .select(col(keyCol),
          timestamp_seconds(col("bucket_ts")).as("ts"),
          (col("_u").cast("double") / 100.0).as("value")))

  /** Streaming EXACT-QUANTILE MV — continuous p50/p95/p99 over
    * everything ingested, with NO sketch error: each micro-batch
    * contributes its additive fixed-point value histogram
    * ([[graft.ops.Percentiles.valueHistPartial]] — (unit, n) counts,
    * merge = long addition) through the versioned-state machinery.
    * The state is DOMAIN-cardinality (distinct 2-dp values), not
    * data-cardinality — the bounded-domain contract that makes exact
    * beat a KLL/t-digest here; for unbounded domains use the approx
    * percentile dial instead. Serving interpolates Spark's exact
    * `percentile` semantics from the histogram
    * ([[graft.ops.Percentiles.quantilesFromHist]]), so the dashboard
    * answer is bit-identical to batch `percentile` over the
    * concatenated stream (StreamingSpec). Run it with [[startView]]. */
  def quantileView(valueCol: String): MergeableView =
    MergeableView(QuantileState,
      graft.ops.Percentiles.valueHistPartial(_, valueCol),
      graft.ops.Percentiles.mergeValueHist)

  /** Serving read for [[quantileView]] (None before the first
    * commit). */
  def readQuantiles(spark: SparkSession, workRoot: String,
                    probs: Seq[Double]): Option[DataFrame] =
    MergeableView.latest(spark, workRoot, QuantileState)
      .map(h => graft.ops.Percentiles.quantilesFromHist(h, probs))

  /** Streaming CDC UPSERT SINK — a change-data-capture log (id, seq,
    * op ∈ {upsert, delete}, payload) ingested continuously, serving a
    * current table snapshot on demand. Each micro-batch writes ONLY
    * its own per-id folded rows ([[graft.ops.Corpus.cdcLatest]] —
    * dominated intra-batch changes collapse map-side) under
    * `b=<batchId>`, so per-trigger cost tracks BATCH size, not the
    * table's change history (the growth contract the line-dedup sink
    * had to retrofit a bloom for; here the fold is associative, so
    * the bounded-write layout is free). Replay overwrites its own
    * batch dir — idempotent under at-least-once delivery.
    * [[graft.io.Batches.compact]] folds the tail when the directory
    * count grows; the serving fold re-runs per read, so compaction
    * changes layout, never answers. */
  def startCdcSink(changes: DataFrame, idCol: String, seqCol: String,
                   opCol: String, outRoot: String, checkpoint: String,
                   trigger: Trigger = Trigger.ProcessingTime(0L))
      : org.apache.spark.sql.streaming.StreamingQuery =
    sink(changes, checkpoint, trigger) { (batch, batchId) =>
      commitCdcBatch(batch, outRoot, batchId, idCol, seqCol, opCol)
    }

  /** Per-batch body of [[startCdcSink]] (exposed for batch replay,
    * like [[MergeableView.commit]]). */
  def commitCdcBatch(batch: DataFrame, outRoot: String, batchId: Long,
                     idCol: String, seqCol: String, opCol: String): Unit = {
    graft.io.Batches.write(
      graft.ops.Corpus.cdcLatest(batch, idCol, seqCol, opCol),
      outRoot, batchId)
    ()
  }

  /** Serving read for [[startCdcSink]]: the base snapshot with every
    * ingested change applied, identical to batch
    * [[graft.ops.Corpus.cdcApply]] over the concatenated log (max is
    * associative: re-folding the per-batch folds loses nothing).
    * None before the first commit. */
  def readCdcSnapshot(spark: SparkSession, outRoot: String,
                      base: DataFrame, idCol: String, seqCol: String,
                      opCol: String): Option[DataFrame] =
    graft.io.Batches.read(spark, outRoot).map(log =>
      graft.ops.Corpus.cdcApply(base, log.drop("b"), idCol, seqCol, opCol))

  /** Streaming DATA-QUALITY MONITOR MV — the
    * [[graft.ops.Checks.rowChecks]] expectation report kept
    * continuously current over everything ingested: each micro-batch
    * contributes its one-row additive partial (exact long counts —
    * fold order cannot change the state), merged through the same
    * versioned-state machinery as the profile/source-count MVs.
    * Serving ([[readDataChecksReport]]) reconstitutes the per-check
    * report from the single state row, bit-identical to batch
    * `rowChecks` over the concatenated stream (StreamingSpec). The
    * per-trigger cost is one partial aggregation of the batch plus a
    * one-row merge — at 100 TB of ingest the quality dashboard is
    * free. Row-local checks only: uniqueness/FK need the key set, so
    * they stay batch jobs over the at-rest table. Run it with
    * [[startView]]. */
  def dataChecksView(checks: Seq[graft.ops.Checks.RowCheck]): MergeableView =
    MergeableView(DataChecksState,
      graft.ops.Checks.rowCheckPartials(_, checks),
      graft.ops.Checks.mergeRowCheckPartials)

  /** Serving read for [[dataChecksView]]: the current expectation
    * report (None before the first commit). `checks` must be the same
    * list the sink runs with. */
  def readDataChecksReport(spark: SparkSession, workRoot: String,
                           checks: Seq[graft.ops.Checks.RowCheck])
      : Option[DataFrame] =
    MergeableView.latest(spark, workRoot, DataChecksState)
      .map(p => graft.ops.Checks.reportFromPartials(p, checks))

  /** Incremental NEAR-dup ingest filter: a persisted MinHash band index
    * (parquet at `indexPath`, rows = (doc_id, band, band_h) from
    * ops.TextDedup.bandKeys) suppresses any incoming document whose
    * band key collides with an already-admitted document — the
    * streaming half of corpus dedup (the at-rest half,
    * `TextDedup.dedupCorpus`, additionally exact-verifies; ingest
    * accepts LSH's false-positive rate in exchange for one
    * hash-equi-join per batch against an index that is ~bands rows per
    * admitted doc, never the text). Within-batch near-dups collapse by
    * keeping the smallest id per colliding bucket. Surviving docs land
    * under `outRoot`; their band keys under the index.
    * foreachBatch makes the read-index/filter/write cycle transactional
    * per micro-batch (exactly-once under the checkpoint).
    *
    * Idempotence: each batch OVERWRITES its own `b=<batchId>`
    * subdirectory in both the out root and the index (same layout as
    * the contamination guard) — a crash replay rewrites the same dirs
    * instead of appending duplicate rows/keys. The per-batch index
    * read sees only COMMITTED PRIOR content ([[graft.io.Batches.read]]
    * with `below = batchId`): on replay this batch's own stale dir
    * must not suppress its own docs, and a half-written current dir
    * must not break schema inference. Replayed batches therefore
    * re-read the index as of their own completed predecessors, so the
    * filter decision is reproduced, not double-counted.
    *
    * Maintenance: `compactEvery > 0` folds the index's committed prior
    * batch dirs into a compacted base every that-many batches
    * ([[graft.io.Batches.compact]] with the safe `upTo = batchId - 1`
    * bound), keeping the per-trigger listing and read path-list
    * O(compactEvery) instead of O(completed batches) over the stream's
    * life. The OUT root folds on the same cadence — write-only here,
    * but its dir count grows per batch all the same. Folding collapses
    * per-batch `b=` provenance into the base tag, and consumers of a
    * self-compacting root MUST read it via [[graft.io.Batches.read]]
    * (plain `spark.read.parquet` can double-read a superseded base in
    * the fold's crash window — see [[maybeCompact]]); keep
    * `compactEvery = 0` when downstream reads plain parquet or needs
    * full provenance, and fold externally instead.
    *
    * Layout break (pre-round-7 deployments): an index written by the
    * old FLAT append layout (parquet files directly at the root) is
    * NOT silently ignored — previously admitted docs would be
    * forgotten and near-dups of them re-admitted. [[graft.io.Batches
    * .requireBatchLayout]] fails the batch fast; migrate the flat
    * files into a `b=` dir first.
    *
    * STATE HORIZON (`horizonSec`, round 17): by default (0) the band
    * index grows with corpus history forever — the right default for
    * dedup, where "have I EVER admitted this" is the question. At
    * 100 TB an operator needs the documented alternative: with
    * `horizonSec > 0`, index rows are stamped with their admission
    * second (`_seen` = `clock()` at the batch), the prior-hits probe
    * only consults rows admitted within the horizon (an out-of-horizon
    * near-dup is RE-ADMITTED and re-indexed fresh — recency dedup, the
    * retention trade an operator dials like [[nearDupDropAudit]]
    * measures the no-verify trade), and compaction's fold EVICTS
    * out-of-horizon rows, so the at-rest index is bounded by
    * horizon-live admissions instead of corpus history (StreamingSpec
    * pins in-horizon behavior identical to the unbounded sink and the
    * state bound itself). The cumulative bloom deliberately does NOT
    * evict (a bloom cannot): stale positives are exact-verified
    * against the in-horizon index and fall through to admission, so
    * correctness is unaffected, but its fpp tracks total history —
    * rebuild it offline via `rebuildNearDupGuard` if a very long
    * stream outgrows `expectedKeys`. A horizoned index must be
    * horizoned from its FIRST batch (rows without `_seen` cannot be
    * probed); `clock` is injectable for deterministic tests and must
    * be monotone. */
  def startNearDupFilterSink(docs: DataFrame, idCol: String,
                             textCol: String, outRoot: String,
                             indexPath: String, checkpoint: String,
                             n: Int = 3, k: Int = 16, bands: Int = 4,
                             trigger: Trigger = Trigger.ProcessingTime(0L),
                             compactEvery: Int = 0,
                             bloomGuard: Boolean = true,
                             expectedKeys: Long = 40000000L,
                             fpp: Double = 0.001,
                             prefixParts: Int = 256,
                             bloomDriverMaxRows: Long = 1000000L,
                             horizonSec: Long = 0L,
                             clock: () => Long =
                               () => System.currentTimeMillis() / 1000L)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    require(horizonSec >= 0L, s"horizonSec must be >= 0, got $horizonSec")
    val guard =
      if (bloomGuard) Some(new GuardBloom(indexPath, expectedKeys, fpp,
        bloomDriverMaxRows)) else None
    sink(docs, checkpoint, trigger) { (batch, batchId) =>
      val spark = batch.sparkSession
      // one clock read per batch: the stamp every admitted key gets,
      // the probe cutoff, and the eviction cutoff all agree
      val now = clock()
      val cutoff: Option[Long] =
        if (horizonSec > 0L) Some(now - horizonSec) else None
      val evict: DataFrame => DataFrame = cutoff match {
        case Some(c) => df => df.filter(col("_seen") >= c)
        case None => graft.io.Batches.noFold
      }
      val keys = graft.ops.TextDedup
        .bandKeys(batch, idCol, textCol, n, k, bands).cache()
      var admittedKeys: DataFrame = null
      try {
        // the index fold evicts out-of-horizon rows (state bound);
        // outRoot is the OUTPUT corpus, not probe state — never evicted
        compactFilterRoots(spark, compactEvery, batchId, indexPath,
          outRoot, guard.map(_ => prefixOf(col("band_h"), prefixParts)),
          evict)
        val prevBloom = guard.flatMap(_.before(spark, batchId))
        // cross-batch: drop docs colliding with the persisted index —
        // guarded: bloom-negative keys provably collide with nothing,
        // the residue probes the p=-pruned base + flat tails;
        // unguarded: the full-index semi-join (fails fast on a
        // pre-b= flat layout rather than forgetting its admissions)
        val priorHits =
          if (bloomGuard)
            nearDupPriorHits(spark, indexPath, batchId, keys, idCol,
              prevBloom, prefixParts, cutoff)
          else graft.io.Batches
            .read(spark, indexPath, below = Some(batchId)) match {
            case Some(idx) =>
              val inHorizon = cutoff match {
                case Some(c) => idx.filter(col("_seen") >= c)
                case None => idx
              }
              keys.join(inHorizon.select("band", "band_h"),
                  Seq("band", "band_h"), "left_semi")
                .select(col(idCol)).distinct()
            case None => keys.select(col(idCol)).limit(0)
          }
        // within-batch: keep the smallest id per colliding bucket
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("band", "band_h").orderBy(col(idCol))
        val batchDups = keys
          .withColumn("_keep", min(col(idCol)).over(w))
          .filter(col(idCol) =!= col("_keep"))
          .select(col(idCol)).distinct()
        val dropIds = priorHits.union(batchDups).distinct()
        graft.io.Batches.write(batch.join(dropIds, Seq(idCol), "left_anti"),
          outRoot, batchId)
        // persisted: the frame feeds the index write AND the bloom
        // append (which also counts it) — one computation, not three
        admittedKeys = keys.join(dropIds, Seq(idCol), "left_anti")
          .persist()
        // horizoned indexes stamp every key with its admission second
        val indexRows =
          if (horizonSec > 0L) admittedKeys.withColumn("_seen", lit(now))
          else admittedKeys
        graft.io.Batches.write(indexRows, indexPath, batchId)
        // bloom LAST (see GuardBloom.commit)
        guard.foreach(_.commit(spark, batchId, admittedKeys, "band_h",
          prevBloom))
      } finally {
        if (admittedKeys != null) admittedKeys.unpersist()
        keys.unpersist()
        ()
      }
    }
  }

  /** First 60 bits of a 16-byte md5 digest as a non-negative BIGINT —
    * the bloom/prefix key of the line-dedup guard, derived from the
    * already-computed 128-bit line hash (no second digest): equal
    * `_h` ⇒ equal `_h64`, so bloom membership and prefix routing are
    * consistent with the exact 128-bit identity by construction. */
  private[graft] def h64FromMd5(h: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column =
    conv(substring(hex(h), 1, 15), 16, 10).cast("long")

  /** The guard's cumulative bloom over every admitted line's `_h64`,
    * as of batches strictly below `below` (the same committed-prior
    * bound as the index read — a crash replay must not see its own
    * half-committed bloom). None before the first commit. */
  private[graft] def readLineBloom(spark: SparkSession, indexPath: String,
                                   below: Long)
      : Option[org.apache.spark.util.sketch.BloomFilter] =
    graft.io.BloomState
      .latestVersionBefore(spark, s"$indexPath/_bloom", below)
      .map(v => graft.io.BloomState.read(spark, s"$indexPath/_bloom", v))

  /** Hash-prefix partition `p` of a guarded index row with key `key`. */
  private def prefixOf(key: org.apache.spark.sql.Column,
                       prefixParts: Int): org.apache.spark.sql.Column =
    pmod(key, lit(prefixParts)).cast("int")

  /** In-sink fold of a filter sink's two roots on the [[compactDue]]
    * cadence. Folding only batches <= batchId - 1 (committed by
    * definition once this batch runs) BEFORE the probe enumerates the
    * prior dirs can neither race a replay nor change what a replayed
    * batch reads — the base holds exactly the dirs the replay would
    * have enumerated. The index folds through `foldBase`; a guarded
    * index (`prefix` = its flat tails' `p` column) folds into a
    * `p=`-partitioned base. The write-only out root folds on the same
    * cadence: its dir count grows per batch all the same. */
  private def compactFilterRoots(spark: SparkSession, every: Int,
      batchId: Long, indexPath: String, outRoot: String,
      prefix: Option[org.apache.spark.sql.Column],
      foldBase: DataFrame => DataFrame = graft.io.Batches.noFold): Unit =
    if (compactDue(every, batchId)) {
      graft.io.Batches.compact(spark, indexPath, upTo = batchId - 1,
        partitionBy = prefix.map(_ => "p").toSeq,
        deriveTail = df => prefix.fold(df)(df.withColumn("p", _)),
        foldBase = foldBase)
      graft.io.Batches.compact(spark, outRoot, upTo = batchId - 1)
    }

  /** A guarded filter sink's cumulative bloom under `<indexPath>/_bloom`,
    * cached across triggers: the cached filter serves only while its
    * version is still the latest committed below the current batch —
    * checked per trigger against the cheap file listing, so restarts
    * and replays fall back to a fresh read, never a stale filter. */
  private final class GuardBloom(indexPath: String, expectedKeys: Long,
                                 fpp: Double, driverMaxRows: Long) {
    private val root = s"$indexPath/_bloom"
    private var cached: (Long, org.apache.spark.util.sketch.BloomFilter) =
      null

    /** The filter as of batches strictly below `batchId`; None before
      * the first commit. */
    def before(spark: SparkSession, batchId: Long)
        : Option[org.apache.spark.util.sketch.BloomFilter] =
      graft.io.BloomState.latestVersionBefore(spark, root, below = batchId)
        .map { v =>
          if (cached == null || cached._1 != v)
            cached = (v, graft.io.BloomState.read(spark, root, v))
          cached._2
        }

    /** Insert `admitted`'s `keyCol` into `prev` and commit the result as
      * version `batchId`. Call it LAST in the batch, once the index rows
      * it certifies are on disk: any crash before it replays the whole
      * batch against the previous bloom + index. The build site is
      * adaptive ([[graft.io.BloomState.append]]): at trigger scale the
      * keys insert on the driver into a COPY of the previous filter
      * (measured cheaper than per-partition full-size filters); past
      * `driverMaxRows` (a catch-up batch after downtime) the build is a
      * distributed stat.bloomFilter merged executor-side, so driver
      * memory never scales with the backlog. */
    def commit(spark: SparkSession, batchId: Long, admitted: DataFrame,
               keyCol: String,
               prev: Option[org.apache.spark.util.sketch.BloomFilter])
        : Unit = {
      val nb = graft.io.BloomState.append(admitted.select(col(keyCol)),
        keyCol, prev, expectedKeys, fpp, driverMaxRows)
      graft.io.BloomState.commit(spark, root, batchId, nb)
      cached = (batchId, nb)
    }
  }

  /** Guarded cross-batch admission for the line-dedup sink: of this
    * batch's distinct-line winners (`firstInBatch`: one row per `_h`
    * carrying `_h64` and the prefix partition `p`), the rows whose
    * line no COMMITTED prior batch admitted. Exposed for the spec's
    * files-read assertion. The two-tier probe:
    *
    *   1. bloom front (no false negatives): a bloom-NEGATIVE line is
    *      definitely new — admitted map-side without touching the
    *      index at all;
    *   2. the bloom-POSITIVE residue (true repeats + fpp·batch) is
    *      exact-verified against the COMPACTED BASE — the
    *      corpus-history bulk, laid out in `p=` hash-prefix
    *      partitions and read PRUNED to the residue's own prefixes (a
    *      bounded ≤ prefixParts-row collect builds the predicate;
    *      equal lines share `p` by construction, so no qualifying row
    *      is ever outside the pruned set) — plus the uncompacted TAIL
    *      dirs, which are batch-scale by the compaction contract and
    *      read whole (keeping per-trigger writes flat and cheap; only
    *      the fold ever pays the many-directories layout).
    *
    * Output is row-identical to the unguarded full-index anti-join
    * (StreamingSpec pins parity): the bloom only short-circuits
    * definite negatives and the pruning only removes partitions that
    * cannot hold a probe's hash. */
  private[graft] def lineDedupAdmit(spark: SparkSession, indexPath: String,
      batchId: Long, firstInBatch: DataFrame,
      bloom: Option[org.apache.spark.util.sketch.BloomFilter]): DataFrame =
    guardedProbe(spark, indexPath, batchId, firstInBatch, "_h64", Seq("_h"),
      bloom, "bloom guard cannot certify definitely-new lines (a missing " +
        "hash would re-admit its line). Run rebuildLineDedupGuard") match {
      case None => firstInBatch // nothing admitted yet, or all negative
      case Some((hit, prior)) =>
        firstInBatch.filter(!hit).unionByName(
          firstInBatch.filter(hit).join(prior, Seq("_h"), "left_anti"))
    }

  /** The two-tier probe of the guarded filter sinks ([[lineDedupAdmit]],
    * [[nearDupPriorHits]]) against the committed index below `batchId`:
    * None when no prior row can match a row of `rows` (nothing
    * admitted yet, or every `keyCol` bloom-negative); otherwise the
    * bloom-hit predicate and the prior index rows (`cols`) that can
    * match the positives — the `p=`-partitioned base read PRUNED to the
    * positives' prefixes (a bounded ≤ prefixParts-row collect builds the
    * predicate) plus the flat tails, batch-scale by the compaction
    * contract and read whole. `rows` carries `keyCol` and its prefix
    * `p`. An index with admitted batches but no bloom fails fast
    * (`missing` completes the message): a missing key would re-admit
    * its row. */
  private def guardedProbe(spark: SparkSession, indexPath: String,
      batchId: Long, rows: DataFrame, keyCol: String, cols: Seq[String],
      bloom: Option[org.apache.spark.util.sketch.BloomFilter],
      missing: String): Option[(org.apache.spark.sql.Column, DataFrame)] = {
    graft.io.Batches.requireBatchLayout(spark, indexPath)
    val live = graft.io.Batches.live(spark, indexPath, below = Some(batchId))
    if (live.dirs.isEmpty) return None
    val bf = bloom.getOrElse(throw new IllegalStateException(
      s"$indexPath holds admitted batches but no _bloom state: the " +
        missing + " once (stream stopped) to migrate an unguarded " +
        "index, or start the sink with bloomGuard = false"))
    val hit = graft.functions.BloomMightContainLong
      .mightContain(col(keyCol), spark.sparkContext.broadcast(bf))
    val pset = rows.filter(hit).select(col("p")).distinct()
      .collect().map(_.getInt(0)) // bounded at prefixParts rows
    if (pset.isEmpty) return None
    Some(hit -> (live.base.map(d => spark.read.parquet(d)
        .filter(col("p").isin(pset.map(Int.box): _*))
        .select(cols.map(col): _*)).toSeq ++
      live.tailDirs.map(d => spark.read.parquet(d).select(cols.map(col): _*)))
      .reduce(_.unionByName(_)))
  }

  /** Layout-aware consumer read of the guarded line index's live
    * content — one `_h` row per admitted line. The guarded layout is
    * MIXED (flat batch tails + a `p=`-partitioned compacted base), so
    * a plain `spark.read.parquet(root)` — and [[graft.io.Batches.read]],
    * which unifies dirs under one basePath — fail on conflicting
    * partition columns; this is the read every consumer (and external
    * maintenance) must use instead. */
  def readLineIndex(spark: SparkSession, indexPath: String,
                    below: Option[Long] = None): Option[DataFrame] = {
    graft.io.Batches.requireBatchLayout(spark, indexPath)
    val dirs = graft.io.Batches.live(spark, indexPath, below).dirs
    if (dirs.isEmpty) None
    else Some(dirs
      .map(d => spark.read.parquet(d).select(col("_h")))
      .reduce(_.unionByName(_)))
  }

  /** Shared one-time guard (re)build: rewrite an index's live content
    * as a single compacted base partitioned by `p` (added by
    * `withPrefix`), and commit the full bloom over `bloomCol`. Run
    * with the stream STOPPED (the bloom version is committed as the
    * index's current high-water batch id, so the next batch —
    * necessarily a higher id — sees it). No-op on an empty index. */
  private def rebuildGuardedBase(spark: SparkSession, indexPath: String,
      prep: DataFrame => DataFrame,
      bloomKeys: DataFrame => DataFrame,
      expectedItems: Long, fpp: Double): Unit = {
    val live = graft.io.Batches.live(spark, indexPath)
    val (dirs, highWater) = (live.dirs, live.highWater)
    if (dirs.isEmpty) return
    // prep: live rows → STORAGE rows + the `p` column (re-derived, so
    // a resize rebuild of an already-guarded index just re-buckets);
    // storage must keep the tails' schema — the next compaction unions
    // base and tails by name
    val rows = prep(dirs
        .map(d => spark.read.parquet(d).drop("p"))
        .reduce(_.unionByName(_)))
      .persist()
    try {
      val staging = s"$indexPath/_rebuild"
      graft.io.Fs.delete(spark, staging)
      rows.repartition(col("p"))
        .write.partitionBy("p").mode("overwrite").parquet(staging)
      // one-off full-index bloom build: stat.bloomFilter's per-partition
      // full-size filters are fine in an offline job (the per-batch path
      // inserts incrementally instead — see the sinks)
      val bloom = bloomKeys(rows).stat.bloomFilter("k", expectedItems, fpp)
      graft.io.Fs.delete(spark, s"$indexPath/_bloom")
      graft.io.BloomState.commit(spark, s"$indexPath/_bloom",
        highWater, bloom)
      graft.io.Fs.rename(spark, staging,
        graft.io.Batches.baseDir(indexPath, highWater))
      dirs.foreach(graft.io.Fs.delete(spark, _))
    } finally { rows.unpersist(); () }
  }

  /** One-time migration of a pre-guard line-dedup index to the guarded
    * layout (also the resize path — sizing is fixed between rebuilds).
    * See [[rebuildGuardedBase]] for the protocol. */
  def rebuildLineDedupGuard(spark: SparkSession, indexPath: String,
                            expectedLines: Long, fpp: Double,
                            prefixParts: Int): Unit =
    rebuildGuardedBase(spark, indexPath,
      df => df.select(col("_h")).distinct()
        .withColumn("p", prefixOf(h64FromMd5(col("_h")), prefixParts)),
      rows => rows.select(h64FromMd5(col("_h")).as("k")),
      expectedLines, fpp)

  /** One-time migration of a pre-guard NEAR-DUP band index to the
    * guarded layout (or resize). See [[rebuildGuardedBase]]. */
  def rebuildNearDupGuard(spark: SparkSession, indexPath: String,
                          expectedKeys: Long, fpp: Double,
                          prefixParts: Int): Unit =
    rebuildGuardedBase(spark, indexPath,
      df => df.withColumn("p", prefixOf(col("band_h"), prefixParts)),
      rows => rows.select(col("band_h").as("k")),
      expectedKeys, fpp)

  /** Guarded cross-batch collision probe for the near-dup filter sink:
    * ids of `keys` rows (this batch's band keys, carrying `idCol`,
    * `band`, `band_h`) that collide with any COMMITTED prior batch's
    * admitted keys. Same two-tier shape as [[lineDedupAdmit]]: a
    * bloom-NEGATIVE band key provably collides with nothing (admit
    * without touching the index); the positive residue semi-joins the
    * `p=`-pruned base plus the flat batch-scale tails. Identical hit
    * set to the unguarded full-index semi-join (spec-pinned). */
  private[graft] def nearDupPriorHits(spark: SparkSession,
      indexPath: String, batchId: Long, keys: DataFrame, idCol: String,
      bloom: Option[org.apache.spark.util.sketch.BloomFilter],
      prefixParts: Int,
      horizonCutoff: Option[Long] = None): DataFrame = {
    val rows = keys.withColumn("p", prefixOf(col("band_h"), prefixParts))
    // horizoned probe: only in-horizon index rows may suppress — a
    // bloom positive whose rows all aged out falls through to
    // admission (the bloom itself never evicts; see the sink doc)
    guardedProbe(spark, indexPath, batchId, rows, "band_h",
      Seq("band", "band_h") ++ horizonCutoff.map(_ => "_seen"), bloom,
      "guard cannot certify collision-free keys. Run " +
        "rebuildNearDupGuard") match {
      case None => keys.select(col(idCol)).limit(0)
      case Some((hit, idx)) =>
        val inHorizon = horizonCutoff match {
          case Some(c) => idx.filter(col("_seen") >= c)
            .select(col("band"), col("band_h"))
          case None => idx
        }
        rows.filter(hit).join(inHorizon, Seq("band", "band_h"), "left_semi")
          .select(col(idCol)).distinct()
    }
  }

  /** Layout-aware consumer read of the guarded near-dup index
    * (mixed flat tails + `p=` base — plain parquet reads conflict). */
  def readNearDupIndex(spark: SparkSession, indexPath: String,
                       below: Option[Long] = None): Option[DataFrame] = {
    graft.io.Batches.requireBatchLayout(spark, indexPath)
    val dirs = graft.io.Batches.live(spark, indexPath, below).dirs
    if (dirs.isEmpty) None
    else Some(dirs.map(d => spark.read.parquet(d).drop("p"))
      .reduce(_.unionByName(_)))
  }

  /** Streaming LINE dedup at the ingest door — the incremental form of
    * [[graft.ops.TextDedup.dedupLines]] (C4-style boilerplate
    * stripping): a persisted index of admitted line hashes (parquet at
    * `indexPath`, one 16-byte binary md5 per distinct line ever
    * admitted)
    * suppresses every line already seen in ANY earlier batch; within a
    * batch the first occurrence by (idCol, position) wins via the same
    * partial-aggregable `min(struct(id, pos, line))` reduction as the
    * batch op — map-side-combinable, so a boilerplate line repeated
    * across the whole batch never funnels into one task — exactly the
    * batch rule. Admitted documents land under `outRoot` reassembled
    * in original line order (a document whose every line was seen
    * before survives as an empty string — the caller decides).
    *
    * Equivalence: when document ids arrive in increasing order across
    * batches (an ingest stream's natural key order), the admitted
    * corpus is IDENTICAL to running the batch [[graft.ops.TextDedup.dedupLines]]
    * over the concatenated input (StreamingSpec pins it) — the
    * streaming order (batch, then (id, pos)) then coincides with the
    * batch total order.
    *
    * THE SCALE HAZARD this sink must answer (and the unguarded form
    * does not): the admitted-hash index grows with CORPUS HISTORY —
    * ~10^9–10^10 distinct lines × 16 bytes at 100 TB — and a bare
    * per-batch anti-join scans and shuffles that whole index every
    * trigger, so per-batch cost grows linearly with everything ever
    * ingested. `bloomGuard = true` (the default) bounds the probe by
    * BATCH content instead ([[lineDedupAdmit]]):
    *
    *   - a broadcast bloom over every admitted `_h64` (maintained
    *     incrementally through replay-safe versioned merges — never
    *     rebuilt from the index) admits definitely-new lines map-side:
    *     the index is not even read for them;
    *   - the residue (true repeats + fpp·batch false positives) is
    *     exact-verified against the COMPACTED BASE — the corpus-history
    *     bulk, laid out in `p=` hash-prefix partitions at fold time and
    *     read PRUNED to the residue's own prefixes (files-read is
    *     spec-pinned) — plus the flat uncompacted tail dirs, which the
    *     compaction contract keeps batch-scale. Per-trigger index
    *     WRITES stay flat and identical to the unguarded layout; only
    *     the fold ever pays the many-directories base.
    *
    * Output is row-identical with the guard on or off (spec-pinned);
    * false drops are impossible (bloom negatives are exact, positives
    * are exact-verified). Dials: `expectedLines`/`fpp` size the bloom
    * (~14 bits/line at 0.1% — a 10^10-line horizon is ~17 GB, so the
    * broadcast bound, not correctness, caps the horizon; past it the
    * fpp degrades and the guard gracefully approaches the unguarded
    * cost); `prefixParts` trades base partition-pruning resolution
    * against the fold's directory count (size it a few × the expected
    * per-batch positive-line count); `compactEvery` bounds the
    * read-whole tail. A boilerplate-saturated batch (positives in
    * every prefix) degrades to the unguarded full-index probe for
    * that batch — a cost ceiling, never a correctness edge. Sizing is
    * fixed for the index's life; resizing = [[rebuildLineDedupGuard]]
    * (also the migration path for a pre-guard index, which the
    * guarded sink refuses to run on rather than silently re-admitting
    * its lines).
    *
    * Cost: per trigger, one shuffle of the batch's lines keyed by the
    * 16-byte hash, the guarded probe above, one reassembly exchange —
    * all batch-sized. The index grows by distinct-new-lines only.
    * Standard `b=` layout on both roots: replay rewrites its own dirs,
    * committed-prior reads, in-sink `compactEvery` folding preserving
    * the `p=` sub-layout (consumers of a self-compacting root must
    * read via [[graft.io.Batches.read]], or keep `compactEvery = 0`
    * for plain-parquet readers — see [[maybeCompact]]). */
  def startLineDedupSink(docs: DataFrame, idCol: String, textCol: String,
                         outRoot: String, indexPath: String,
                         checkpoint: String, sep: String = "\n",
                         minChars: Int = 0,
                         trigger: Trigger = Trigger.ProcessingTime(0L),
                         compactEvery: Int = 0,
                         bloomGuard: Boolean = true,
                         expectedLines: Long = 10000000L,
                         fpp: Double = 0.001,
                         prefixParts: Int = 256,
                         bloomDriverMaxRows: Long = 1000000L)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val guard =
      if (bloomGuard) Some(new GuardBloom(indexPath, expectedLines, fpp,
        bloomDriverMaxRows)) else None
    sink(docs, checkpoint, trigger) { (batch, batchId) =>
      val spark = batch.sparkSession
      val lines = batch.select(col(idCol),
        posexplode(split(coalesce(col(textCol), lit("")),
          java.util.regex.Pattern.quote(sep))).as(Seq("pos", "line")))
        .persist()
      var admitted: DataFrame = null
      try {
        compactFilterRoots(spark, compactEvery, batchId, indexPath,
          outRoot, guard.map(_ =>
            prefixOf(h64FromMd5(col("_h")), prefixParts)))
        val cand = lines.filter(length(col("line")) >= minChars)
          .withColumn("_h", unhex(md5(col("line").cast("binary"))))
        val exempt = lines.filter(length(col("line")) < minChars)
          .withColumn("_h", lit(null).cast("binary"))
        // within-batch first occurrence of each hash — min(struct) is
        // partial-aggregable; all rows of a hash group share the same
        // line text, so the struct carries the winner's text out
        val firstInBatch = cand
          .groupBy(col("_h"))
          .agg(min(struct(col(idCol), col("pos"), col("line"))).as("_w"))
          .select(col("_h"),
            col("_w").getField(idCol).as(idCol),
            col("_w").getField("pos").as("pos"),
            col("_w").getField("line").as("line"))
        // ...minus lines any COMMITTED prior batch admitted
        val prevBloom = guard.flatMap(_.before(spark, batchId))
        admitted = (if (bloomGuard) {
          val withKeys = firstInBatch
            .withColumn("_h64", h64FromMd5(col("_h")))
            .withColumn("p", prefixOf(col("_h64"), prefixParts))
          lineDedupAdmit(spark, indexPath, batchId, withKeys, prevBloom)
        } else {
          val priorHashes = graft.io.Batches
            .read(spark, indexPath, below = Some(batchId)) match {
            case Some(idx) => idx.select(col("_h"))
            case None => cand.select(col("_h")).limit(0)
          }
          firstInBatch.join(priorHashes, Seq("_h"), "left_anti")
        }).persist()
        val kept = admitted.select(col("_h"), col(idCol), col("pos"),
          col("line")).unionByName(exempt)
        val reassembled = kept.groupBy(col(idCol))
          .agg(array_join(transform(
            array_sort(collect_list(struct(col("pos"), col("line")))),
            x => x.getField("line")), sep).as("_text"))
        graft.io.Batches.write(batch.drop(textCol)
          .join(reassembled, Seq(idCol), "left")
          .withColumn(textCol, coalesce(col("_text"), lit("")))
          .drop("_text"), outRoot, batchId)
        if (bloomGuard) {
          // tail dirs are FLAT — identical layout to the unguarded
          // sink (batch-scale, read whole by the probe); only the
          // compaction fold pays the p= many-directories layout
          graft.io.Batches.write(admitted.select(col("_h")), indexPath, batchId)
          // bloom LAST (see GuardBloom.commit)
          guard.foreach(_.commit(spark, batchId, admitted, "_h64", prevBloom))
        } else
          graft.io.Batches.write(admitted.select(col("_h")).distinct(),
            indexPath, batchId)
      } finally {
        if (admitted != null) admitted.unpersist()
        lines.unpersist()
        ()
      }
    }
  }

  /** Offline recall audit for [[startNearDupFilterSink]]: the sink
    * drops a document on a bare band collision — no exact verify — so
    * it knowingly accepts LSH's false-positive rate in exchange for a
    * single equi-join per batch. This query measures that rate after
    * the fact: for every document of `input` that the sink did NOT
    * admit (absent from `outRoot`), was the drop JUSTIFIED — does the
    * document have at least one true near-duplicate (jaccard >=
    * `minJaccard` via [[graft.ops.TextDedup.jaccardPairs]], the exact
    * prefix-filtered path) anywhere in the corpus? A dropped document
    * with NO qualifying partner is a false drop: a band-collision
    * accident that cost a unique document.
    *
    * Returns one row per dropped doc: (idCol, has_near_dup 0/1);
    * `1 - avg(has_near_dup)` is the false-drop rate. Run it offline on
    * a sample of the ingested corpus — the jaccardPairs truth pass is
    * the expensive half (prefix-filtered, but still corpus×corpus
    * candidate generation), which is exactly why the sink itself
    * doesn't exact-verify per batch. */
  def nearDupDropAudit(input: DataFrame, outRoot: String, idCol: String,
                       textCol: String, n: Int = 3,
                       minJaccard: Double = 0.8): DataFrame = {
    val spark = input.sparkSession
    val admitted = graft.io.Batches.read(spark, outRoot)
      .map(_.select(col(idCol)))
      .getOrElse(input.select(col(idCol)).limit(0))
    val dropped = input.join(admitted, Seq(idCol), "left_anti")
    val pairs = graft.ops.TextDedup
      .jaccardPairs(input, idCol, textCol, n, minJaccard)
    val partnered = pairs.select(col("a_id").as(idCol))
      .union(pairs.select(col("b_id").as(idCol))).distinct()
      .withColumn("_p", lit(1L))
    dropped.select(col(idCol))
      .join(partnered, Seq(idCol), "left")
      .select(col(idCol), coalesce(col("_p"), lit(0L)).as("has_near_dup"))
  }

  /** Incremental EMBEDDING near-dup ingest filter — the vector sibling
    * of [[startNearDupFilterSink]] (and the streaming half of
    * [[graft.ops.Embeddings.semanticDedup]]): a persisted sign-LSH band
    * index suppresses any incoming vector within `minCos` of an
    * already-admitted one, and within a batch the smaller id of any
    * qualifying pair wins (the same pairwise dominance rule as the
    * batch operator).
    *
    * Unlike the text sink, a band collision alone NEVER justifies a
    * drop here: sign-LSH band keys live in a 2^planesPerBand domain
    * (256 at the default 8), so bucket occupancy saturates as the
    * admitted set grows — at scale every bucket is inhabited and a
    * bare-collision rule would converge on dropping EVERYTHING. The
    * index therefore stores each admitted vector's quantized form
    * (`qv`) alongside its band keys, and every collision is
    * exact-verified (integer-quantized cosine, the fused
    * [[graft.functions.QDot]] kernel) before it drops anything — so
    * false drops are impossible; LSH recall misses only ever ADMIT a
    * near-dup (the at-rest [[graft.ops.Embeddings.semanticDedup]]
    * catches those later). The per-batch cost stays band-bucketed:
    * collision candidates join on (band, key), never all-pairs.
    *
    * `planesPerBand` is the COST dial (never a correctness one, since
    * every drop is exact-verified): it sets the band-key domain
    * (2^planesPerBand) and thus how fast buckets saturate. Measured
    * (round 11, 100 batches x 50 random unit vectors, all
    * admitted): at the default 8 the verify fan-out reaches 161 exact
    * cosines per new vector and per-batch wall time grows 1.9 -> 4.1 s;
    * at 15 (the max with bands=4 under the 60-bit signature) fan-out is
    * 6 per vector and cost is flat (1.3 s late). The price is recall at
    * the margin: a true cos=0.99 pair collides in >=1 band with
    * p~0.998 at 8 planes vs ~0.985 at 15 — misses only admit, so size
    * the dial to the admitted-set scale, not the other way round.
    *
    * Idempotence + maintenance: the standard `b=<batchId>` overwrite
    * layout on both roots, committed-prior reads, and in-sink
    * `compactEvery` folding — same contract as the text sink,
    * including its consumer rule: read self-compacting roots via
    * [[graft.io.Batches.read]], or keep `compactEvery = 0` for
    * plain-parquet readers (see [[maybeCompact]]). */
  def startEmbeddingNearDupFilterSink(vecs: DataFrame, idCol: String,
                                      vecCol: String, outRoot: String,
                                      indexPath: String, checkpoint: String,
                                      dim: Int, minCos: Double = 0.99,
                                      planesPerBand: Int = 8, bands: Int = 4,
                                      trigger: Trigger = Trigger.ProcessingTime(0L),
                                      compactEvery: Int = 0)
      : org.apache.spark.sql.streaming.StreamingQuery =
    sink(vecs, checkpoint, trigger) { (batch, batchId) =>
      val spark = batch.sparkSession
      val keys = graft.ops.Embeddings
        .signBandKeys(batch, idCol, vecCol, dim, planesPerBand, bands)
        .cache()
      try {
        maybeCompact(spark, compactEvery, batchId, indexPath, outRoot)
        val priorHits = graft.io.Batches
          .read(spark, indexPath, below = Some(batchId)) match {
          case Some(idx) =>
            keys.join(
                idx.select(col("band"), col("key"), col("qv").as("_iqv")),
                Seq("band", "key"))
              .filter(graft.ops.Embeddings
                .qcosine(col("qv"), col("_iqv")) >= minCos)
              .select(col(idCol)).distinct()
          case None => batch.select(col(idCol)).limit(0)
        }
        val batchDominated = keys.as("x").join(keys.as("y"),
            col("x.band") === col("y.band") &&
              col("x.key") === col("y.key") &&
              col(s"x.$idCol") < col(s"y.$idCol"))
          .filter(graft.ops.Embeddings
            .qcosine(col("x.qv"), col("y.qv")) >= minCos)
          .select(col(s"y.$idCol").as(idCol)).distinct()
        val dropIds = priorHits.union(batchDominated).distinct()
        graft.io.Batches.write(batch.join(dropIds, Seq(idCol), "left_anti"),
          outRoot, batchId)
        graft.io.Batches.write(keys.join(dropIds, Seq(idCol), "left_anti"),
          indexPath, batchId)
      } finally { keys.unpersist(); () }
    }

  /** Eval-contamination ingest guard — the streaming half of the
    * train/eval hygiene check ([[graft.ops.TextDedup.contamination]]):
    * per micro-batch each incoming document is scored against a FIXED
    * benchmark corpus (the batch operator with the stream as the
    * assessed side), and only documents whose contaminated-shingle
    * ratio stays below `maxRatio` are admitted to `outRoot` — leaked
    * benchmark text is refused at the door instead of discovered after
    * a training run. Refused documents land in `quarantineRoot` WITH
    * their scores for audit. A document too short to carry an
    * n-shingle cannot be assessed and is admitted (same no-row
    * semantics as the batch operator, spec-pinned there).
    *
    * The benchmark is FIXED for the life of the sink, so its distinct
    * shingle-hash set is built and persisted ONCE at sink start
    * ([[graft.ops.TextDedup.benchmarkHashSet]]) and every micro-batch
    * probes that materialized set ([[graft.ops.TextDedup
    * .contaminationAgainst]], row-identical to the role-swapped batch
    * operator — equivalence argued there and spec-pinned). The benchmark
    * is never re-tokenized per tick, and — unlike the earlier
    * batch-hashes-broadcast formulation — nothing about the PLAN depends
    * on the micro-batch's size, so a post-downtime catch-up batch cannot
    * blow a driver-side broadcast. `broadcastBench` (default true: a
    * benchmark hash set is small) controls whether the probe set is
    * broadcast-hinted or left to shuffle.
    *
    * Idempotence: each batch writes `b=<batchId>` subdirectories with
    * overwrite, so a crash-replayed batch REWRITES its own directories
    * instead of appending duplicates — exactly-once at the batch grain
    * under the checkpoint (readers of `outRoot`/`quarantineRoot` see a
    * `b` partition column carrying ingest-batch provenance). Duplicate
    * `idCol` values within one micro-batch are scored as ONE logical
    * document (the union of their shingles) and admitted or refused
    * atomically — [[graft.ops.TextDedup.contaminationAgainst]] grades
    * per id, not per row. The persisted probe set is released when the
    * query terminates (listener-hooked). Long streams: `compactEvery`
    * folds the accumulating `b=` dirs under both roots in-sink (0 =
    * fold externally with [[graft.io.Batches.compact]],
    * upTo <= last committed batch); consumers of a self-compacting
    * root must read via [[graft.io.Batches.read]] — see
    * [[maybeCompact]]. */
  def startContaminationFilterSink(docs: DataFrame, idCol: String,
                                   textCol: String, evalDocs: DataFrame,
                                   outRoot: String, quarantineRoot: String,
                                   checkpoint: String, n: Int = 3,
                                   maxRatio: Double = 0.2,
                                   trigger: Trigger = Trigger.ProcessingTime(0L),
                                   broadcastBench: Boolean = true,
                                   compactEvery: Int = 0)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val spark = docs.sparkSession
    val benchHashes = graft.ops.TextDedup
      .benchmarkHashSet(evalDocs, textCol, n)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    benchHashes.count() // materialize before the first trigger fires
    val probe = if (broadcastBench) broadcast(benchHashes) else benchHashes
    val query = sink(docs, checkpoint, trigger) { (batch, batchId) =>
      batch.persist()
      try {
        maybeCompact(batch.sparkSession, compactEvery, batchId,
          outRoot, quarantineRoot)
        val refused = graft.ops.TextDedup
          .contaminationAgainst(batch, idCol, textCol, n, probe)
          .filter(col("contamination_ratio") >= maxRatio)
          .persist()
        try {
          graft.io.Batches.write(batch.join(refused, Seq(idCol), "inner"),
            quarantineRoot, batchId)
          graft.io.Batches.write(batch.join(refused.select(col(idCol)),
            Seq(idCol), "left_anti"), outRoot, batchId)
        } finally { refused.unpersist(); () }
      } finally { batch.unpersist(); () }
    }
    val qid = query.id
    spark.streams.addListener(
      new org.apache.spark.sql.streaming.StreamingQueryListener {
        override def onQueryStarted(
            e: org.apache.spark.sql.streaming.StreamingQueryListener
              .QueryStartedEvent): Unit = ()
        override def onQueryProgress(
            e: org.apache.spark.sql.streaming.StreamingQueryListener
              .QueryProgressEvent): Unit = ()
        override def onQueryTerminated(
            e: org.apache.spark.sql.streaming.StreamingQueryListener
              .QueryTerminatedEvent): Unit =
          if (e.id == qid) {
            benchHashes.unpersist()
            spark.streams.removeListener(this)
          }
      })
    query
  }

  /** PII scrub at the ingest door — the streaming half of
    * [[graft.ops.TextStats.piiStats]]/[[graft.ops.TextStats.piiRedact]]
    * (the privacy sibling of the contamination guard): every admitted
    * document lands under `outRoot` with its text REDACTED (typed
    * placeholders — identifiers never reach the training store), and
    * documents that carried PII are additionally recorded under
    * `quarantineRoot` with their ORIGINAL text and per-pattern counts,
    * for audit and recall handling. Both writes are pure projections
    * of the micro-batch (codegen'd regexes, no shuffle, no driver
    * round-trip) — at 100 TB of ingest the scan is the whole cost.
    *
    * Idempotence: the standard `b=<batchId>` overwrite layout on both
    * roots (crash replay rewrites the same dirs); `compactEvery` folds
    * the accumulating dirs in-sink (0 = fold externally with
    * [[graft.io.Batches.compact]]); consumers of a self-compacting
    * root must read via [[graft.io.Batches.read]] — see
    * [[maybeCompact]]. */
  def startPiiScrubSink(docs: DataFrame, textCol: String,
                        outRoot: String, quarantineRoot: String,
                        checkpoint: String,
                        trigger: Trigger = Trigger.ProcessingTime(0L),
                        compactEvery: Int = 0)
      : org.apache.spark.sql.streaming.StreamingQuery =
    sink(docs, checkpoint, trigger) { (batch, batchId) =>
      batch.persist()
      try {
        import graft.ops.TextStats
        maybeCompact(batch.sparkSession, compactEvery, batchId,
          outRoot, quarantineRoot)
        // audit record FIRST (original text + counts for carriers) —
        // if the batch dies between the two writes, a replay
        // rewrites both dirs, so order only affects what a
        // mid-crash window can observe, and quarantine-without-out
        // is the safe side (never redaction-less text in out)
        graft.io.Batches.write(TextStats.withPiiStats(batch, textCol)
          .filter(col("has_pii") > 0L), quarantineRoot, batchId)
        graft.io.Batches.write(
          batch.withColumn(textCol, TextStats.piiRedacted(col(textCol))),
          outRoot, batchId)
      } finally { batch.unpersist(); () }
    }

  /** Streaming IVF index maintenance: append each micro-batch of new
    * embedding rows into the persisted cell-partitioned index
    * ([[graft.ops.Embeddings.appendToIvfIndex]] — fixed coarse
    * quantizer, only the touched cells' directories receive files).
    * The searchable index is therefore continuously current without a
    * rebuild; searches via `ivfTopKIndexed` pick up new vectors at
    * their next run. Exactly-once per the checkpoint at the batch
    * grain. Replay-idempotent: each batch owns its (cell, b=batchId)
    * subpartitions and OVERWRITES them dynamically on replay
    * ([[graft.ops.Embeddings.appendToIvfIndex]]'s batchTag mode) — a
    * crash-restart rewrites the same directories instead of appending
    * duplicate vectors. `compactEvery` folds the accumulating per-cell
    * `b=` subpartitions in-sink via
    * [[graft.ops.Embeddings.compactIvfIndex]] (same safe bound as the
    * other sinks; 0 = external maintenance; index reads go through
    * `ivfTopKIndexed`, which already handles the folded layout). */
  def startIvfAppendSink(model: graft.ops.Embeddings.IvfModel,
                         vectors: DataFrame, idCol: String, vecCol: String,
                         indexPath: String, checkpoint: String,
                         trigger: Trigger = Trigger.ProcessingTime(0L),
                         compactEvery: Int = 0)
      : org.apache.spark.sql.streaming.StreamingQuery =
    sink(vectors, checkpoint, trigger) { (batch, batchId) =>
      if (compactDue(compactEvery, batchId))
        graft.ops.Embeddings.compactIvfIndex(batch.sparkSession,
          indexPath, upTo = batchId - 1)
      graft.ops.Embeddings.appendToIvfIndex(model, batch, idCol, vecCol,
        indexPath, batchTag = Some(batchId))
    }

  /** Streaming maintenance of the at-rest BM25 search index
    * ([[graft.ops.Retrieval.writeSearchIndex]]): each micro-batch of
    * new documents appends its postings, df partials and stats row
    * under `b=<batchId>` — the tagged dynamic-overwrite layout, so a
    * crash replay overwrites its own partitions instead of
    * double-counting. The read side ([[graft.ops.Retrieval.bm25IndexTopK]])
    * sums the partials, so a search over the live index is
    * row-identical to a rebuild over everything ingested (StreamingSpec).
    * Per-batch cost tracks BATCH token count: tokenize-and-route is
    * map-side on the batch; nothing reads the accumulated index. */
  def startSearchIndexAppendSink(docs: DataFrame, idCol: String,
                                 textCol: String, indexPath: String,
                                 checkpoint: String,
                                 trigger: Trigger = Trigger.ProcessingTime(0L),
                                 compactEvery: Int = 0)
      : org.apache.spark.sql.streaming.StreamingQuery =
    sink(docs, checkpoint, trigger) { (batch, batchId) =>
      // fold only batches this stream has already committed
      // (upTo = batchId - 1), the startIvfAppendSink bound
      if (compactDue(compactEvery, batchId))
        graft.ops.Retrieval.compactSearchIndex(batch.sparkSession,
          indexPath, upTo = batchId - 1)
      graft.ops.Retrieval.appendToSearchIndex(batch, idCol, textCol,
        indexPath, batchTag = Some(batchId))
    }

  /** End-to-end wiring: detections stream → dedup → parquet history sink
    * (partitioned by date like the reference's lake) + console-able
    * windowed aggs. Returns the started query for the history sink. */
  def startHistorySink(detections: Dataset[Detection], outRoot: String,
                       checkpoint: String,
                       trigger: Trigger = Trigger.ProcessingTime(0L))
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val obs = dedupObservations(detections).toDF()
    obs.withColumn("year", year(col("ts")))
      .withColumn("month", month(col("ts")))
      .withColumn("day", dayofmonth(col("ts")))
      .writeStream
      .trigger(trigger) // reference tick: ProcessingTime("2 seconds")
      .format("parquet")
      .option("path", outRoot)
      .option("checkpointLocation", checkpoint)
      .partitionBy("year", "month", "day")
      .outputMode(OutputMode.Append)
      .start()
  }
}
