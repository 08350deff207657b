package graft.io

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Maintenance for the streaming sinks' replay-idempotent `b=<batchId>`
  * directory layouts (near-dup out root + index, history lake,
  * contamination out/quarantine — see [[graft.streaming.Ingest]]).
  *
  * The idempotence contract (each micro-batch OVERWRITES its own
  * `b=<id>` dir) is the right crash story, but it accumulates one
  * directory per micro-batch for the stream's whole life: a
  * thousand-batch day is a thousand small dirs per sink, and a sink
  * that re-reads its own store (the near-dup index) pays an
  * O(completed batches) listing per trigger. [[compact]] bounds both:
  * it folds the committed batch dirs into a single COMPACTED BASE dir
  * whose name encodes the fold's high-water batch id, after which
  * readers see `base + uncompacted tail` and the per-trigger listing is
  * O(batches since last compaction).
  *
  * Layout (one flat root):
  *   - `b=<id>`, id >= 0 — one dir per micro-batch (the sinks write
  *     these; a crash replay rewrites its own dir in place);
  *   - `b=-(w+2)`, w >= 0 — the compacted base holding every batch
  *     id <= w. The watermark rides IN THE DIR NAME, so its publish is
  *     one atomic rename and readers never consult side state. (The
  *     tag rules are [[Tagged]]'s, shared with the indexes' layout,
  *     whose base build owns -1.)
  *
  * Read rule ([[live]]): take the base dir with the HIGHEST
  * watermark w, plus batch dirs with id > w. Everything else —
  * batch dirs <= w (folded content; a post-compaction replay may
  * recreate one, byte-equivalent, see below), superseded older bases —
  * is stale and ignored, so every crash window reads exactly-once.
  *
  * Crash safety of [[compact]] (stage → rename → delete):
  *   - crash before the rename: only the `_`-prefixed staging dir
  *     exists (invisible to partition discovery); nothing changed;
  *   - crash after the rename, before the deletes: new base + old base
  *     + folded dirs all present — the read rule picks the new base
  *     only; the next compact sweeps the leftovers.
  *
  * Safe-fold bound: `upTo` must not exceed the stream's last batch
  * COMMITTED to its checkpoint. A replay only ever re-runs the first
  * uncommitted batch, so under that bound a fold can neither race a
  * replay's in-flight rewrite nor change what a replayed batch reads
  * (the base holds exactly the dirs the replay would have enumerated).
  * In-sink auto-compaction (batch B folding `upTo = B - 1`) satisfies
  * the bound by construction; an external maintenance job should pass
  * the stream's last committed batch id (or run while the stream is
  * stopped). Folding collapses the `b` partition column's per-batch
  * provenance into the base tag — readers that audit ingest batches
  * should read the uncompacted tail, or compact on a provenance-sized
  * cadence.
  */
object Batches {
  /** Identity fold sentinel: compact() sizes its new base action-free
    * when the fold is this exact value (reference check), and measures
    * the fold's row shrink otherwise. */
  val noFold: DataFrame => DataFrame = identity

  private def batchIds(s: SparkSession, root: String): Seq[Long] =
    Fs.listDirNames(s, root).flatMap(Tagged.tagOf)

  private def dir(root: String, id: Long): String =
    s"$root/${Tagged.dirName(id)}"

  /** High-water batch id folded into the compacted base; -1 if the root
    * has never been compacted (or doesn't exist). */
  def watermark(s: SparkSession, root: String): Long =
    Tagged.watermarkOf(batchIds(s, root))

  /** Write one micro-batch's rows as its own `b=<batchId>` dir,
    * overwriting it — the replay-idempotent write of every sink on
    * this layout. */
  def write(df: DataFrame, root: String, batchId: Long): Unit =
    df.write.mode(SaveMode.Overwrite).parquet(dir(root, batchId))

  /** The compacted base dir holding every batch id <= `w`. */
  def baseDir(root: String, w: Long): String = dir(root, Tagged.baseTag(w))

  /** A root's live content ([[live]]): the newest compacted base's
    * watermark `w` (-1 if never compacted) and the batch ids of the
    * uncompacted tail, ascending. */
  final case class Live(root: String, w: Long, tail: Seq[Long]) {
    /** The compacted base dir, if any. */
    def base: Option[String] = if (w >= 0L) Some(baseDir(root, w)) else None
    def tailDirs: Seq[String] = tail.map(dir(root, _))
    /** Every live dir, base first. */
    def dirs: Seq[String] = base.toSeq ++ tailDirs
    /** The highest batch id held (the base counts as its watermark). */
    def highWater: Long = (w +: tail).max
  }

  /** Fail fast on a pre-`b=` layout: parquet files sitting directly at
    * `root` (the old flat-append sinks wrote these). Silently ignoring
    * them would FORGET previously admitted docs — e.g. the near-dup
    * sink would re-admit near-duplicates of everything the old layout
    * holds. An in-place upgrade must migrate them into a `b=` dir
    * (any id below the checkpoint's next batch works) first. */
  def requireBatchLayout(s: SparkSession, root: String): Unit = {
    if (!Fs.exists(s, root)) return
    val strays = Fs.fs(s, root)
      .listStatus(new org.apache.hadoop.fs.Path(root)).toSeq
      .filter(_.isFile).map(_.getPath.getName)
      .filter(n => n.endsWith(".parquet") && !n.startsWith("_") &&
        !n.startsWith("."))
    require(strays.isEmpty,
      s"$root holds parquet files outside the b=<batchId> layout " +
        s"(${strays.take(3).mkString(", ")}…): pre-layout data would be " +
        "silently ignored — migrate it into a b= dir first")
  }

  /** What a reader should see: the newest compacted base (if any) plus
    * uncompacted batch dirs above its watermark — optionally only those
    * below `below` (a sink reading its own store passes its current
    * batch id, so a replay can't see its own half-written output). */
  def live(s: SparkSession, root: String,
           below: Option[Long] = None): Live = {
    val ids = batchIds(s, root)
    val w = Tagged.watermarkOf(ids)
    below.foreach(b => require(w < b,
      s"$root compacted through batch $w, at or past the reader's " +
        s"current batch $b — a fold ran beyond the stream's committed " +
        "frontier (upTo must stay <= the last checkpointed batch)"))
    Live(root, w,
      ids.filter(id => id >= 0L && id > w && below.forall(id < _)).sorted)
  }

  /** Read the layout's live content (base + tail) with `b` as a
    * partition column (the base dir's rows carry its tag). None when
    * nothing has been written yet.
    *
    * `mergeSchema` is ON: a long-running sink redeployed with newer
    * code may add columns to later batches, and the default
    * sample-one-file schema SILENTLY DROPS them from every read
    * (SchemaEvolutionSpec pins the contract: evolved columns surface,
    * nulled on elder rows). The merge pass reads footers only, and the
    * dir count is bounded by the compaction cadence. */
  def read(s: SparkSession, root: String,
           below: Option[Long] = None): Option[DataFrame] = {
    requireBatchLayout(s, root)
    val dirs = live(s, root, below).dirs
    if (dirs.isEmpty) None
    else Some(s.read.option("basePath", root)
      .option("mergeSchema", "true").parquet(dirs: _*))
  }

  /** Fold the compacted base plus every committed batch dir with
    * id in (watermark, upTo] into a new base sized to
    * `targetFileBytes`-ish files, then delete the superseded dirs.
    * Also sweeps stale artifacts of earlier crashes (superseded bases,
    * batch dirs at or below the watermark, leftover staging). Returns
    * true iff a fold happened (false: nothing new to fold — the sweep
    * still runs). See the object doc for the `upTo` bound.
    *
    * `partitionBy` + `deriveTail`: the PREFIX-PARTITIONED-BASE layout
    * (the line-dedup guard's index): batch tail dirs stay flat —
    * batch-scale, written and read whole, zero per-trigger layout
    * overhead — and only the compacted base (the corpus-history bulk)
    * carries `partitionBy` subdirectories, so partition-pruned probes
    * skip most of history while the fold is the only code paying the
    * many-directories write. `deriveTail` recomputes the partition
    * columns for flat tail rows (they are derivable — e.g. the hash
    * prefix from the stored hash — so the tail never stores them);
    * the old base already carries them as partition columns. The
    * pre-write shuffle is a repartition BY those columns (each value
    * lands in ~one task's files) instead of a bare coalesce, which
    * would scatter every value across every task and write
    * nFiles × nValues tiny files.
    *
    * `foldBase`: applied to the UNION of everything
    * being folded, before the new base is written — for roots whose
    * rows are MERGEABLE state rather than append-only facts (e.g. the
    * session-summary sink: summaries of one raw session split across
    * commits collapse to one row). The function must be a semantic
    * no-op for the root's serving read (serve(fold(x)) == serve(x)) —
    * the fold then also BOUNDS the at-rest state by live entities
    * instead of by commit count. Identity for plain fact logs.
    *
    * Fold-aware sizing contract: a NON-identity fold pays two extra
    * actions (a raw count and a folded count, state-scale frames; the
    * folded frame is persisted so the sizing count and the write share
    * one fold evaluation). Identity folds must be passed as
    * [[Batches.noFold]] — the no-op detection is by REFERENCE, so a
    * caller handing a plain `identity` lambda pays the sizing passes
    * for nothing. */
  def compact(s: SparkSession, root: String, upTo: Long,
              targetFileBytes: Long = 128L * 1024 * 1024,
              partitionBy: Seq[String] = Nil,
              deriveTail: DataFrame => DataFrame = identity,
              foldBase: DataFrame => DataFrame = Batches.noFold): Boolean = {
    if (!Fs.exists(s, root)) return false
    requireBatchLayout(s, root)
    val staging = s"$root/_compact_b"
    Fs.delete(s, staging)
    val ids = batchIds(s, root)
    val w = Tagged.watermarkOf(ids)
    // sweep: bases superseded by a newer watermark; batch dirs whose
    // content the base already holds (a replay after compaction may
    // have re-created one — byte-equivalent, so deletion loses nothing)
    ids.filter(Tagged.stale(_, w)).foreach(id => Fs.delete(s, dir(root, id)))
    val candidates = ids.filter(id => id >= 0L && id > w && id <= upTo)
    if (candidates.isEmpty) return false
    val newW = candidates.max
    val sources =
      (if (w >= 0L) Seq(Tagged.baseTag(w)) else Nil) ++ candidates.sorted
    val paths = sources.map(dir(root, _))
    val bytes = paths
      .map(p => Fs.totalBytes(s, p, _.endsWith(".parquet"))).sum
    // A non-identity foldBase can SHRINK the union substantially (the
    // session fold collapses per-commit summaries to one row per live
    // session), so sizing the new base from pre-fold bytes writes more
    // files than the folded data warrants — small-file drift that
    // compounds across compactions. Scale the byte estimate by the
    // fold's observed row ratio (two cheap counts, state-scale frames;
    // skipped entirely for identity folds — the common fact-log path
    // stays action-free). The caller persists `folded` before calling
    // so the count here and the write after share one fold evaluation.
    def sizedFiles(raw: DataFrame, folded: DataFrame): Int = {
      val effBytes =
        if (foldBase eq Batches.noFold) bytes
        else {
          val rawN = raw.count()
          // double intermediate: bytes * foldedCount would overflow a
          // long once bytes x rows crosses 2^63 (TB-scale base, 1e9
          // rows); the ratio itself is always <= 1
          if (rawN == 0L) bytes
          else math.max(1L,
            (bytes.toDouble * folded.count() / rawN).toLong)
        }
      math.max(1L, (effBytes + targetFileBytes - 1) / targetFileBytes).toInt
    }
    // persisted across sizedFiles' count and the write below for
    // non-identity folds; unpersisted after the publish
    var foldedHandle: Option[DataFrame] = None
    def pin(folded: DataFrame): DataFrame =
      if (foldBase eq Batches.noFold) folded
      else { foldedHandle = Some(folded.persist()); folded }
    val shaped =
      if (partitionBy.isEmpty) {
        // mergeSchema for the same reason as read(): folding an
        // evolved tail into the base must not drop its added columns
        val raw = s.read.option("basePath", root)
          .option("mergeSchema", "true")
          .parquet(paths: _*)
          .drop("b") // the new base dir's name carries the tag
        val folded = pin(foldBase(raw))
        folded.coalesce(sizedFiles(raw, folded))
      } else {
        // mixed read: the old base carries partitionBy as partition
        // dirs, flat tails re-derive them (see scaladoc);
        // allowMissingColumns = the unionByName spelling of the same
        // schema-evolution contract (elder frames null the new column)
        val oldBase = if (w >= 0L)
          Seq(s.read.option("mergeSchema", "true")
            .parquet(baseDir(root, w))) else Nil
        val tails = candidates.sorted
          .map(id => deriveTail(s.read.parquet(dir(root, id))))
        val raw = (oldBase ++ tails)
          .reduce(_.unionByName(_, allowMissingColumns = true))
        val folded = pin(foldBase(raw))
        folded.repartition(sizedFiles(raw, folded),
          partitionBy.map(org.apache.spark.sql.functions.col): _*)
      }
    try {
      val w0 = shaped.write.mode(SaveMode.Overwrite)
      (if (partitionBy.isEmpty) w0 else w0.partitionBy(partitionBy: _*))
        .parquet(staging)
    } finally foldedHandle.foreach(_.unpersist())
    Fs.rename(s, staging, baseDir(root, newW)) // atomic publish
    paths.foreach(Fs.delete(s, _))
    true
  }
}
