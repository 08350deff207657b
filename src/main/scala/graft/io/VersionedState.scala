package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Replay-safe versioned state table for foreachBatch sinks — the
  * exactly-once merge mechanic shared by the snapshot sink and every
  * mergeable view (graft.streaming.MergeableView): each micro-batch
  * folds its update into the PREVIOUS committed version and writes a
  * new `v=<batchId>` directory; the merge base survives until the NEXT
  * batch commits, so a crash-replayed batch re-merges from the same
  * base instead of double-counting. State is aggregate-scale (written
  * `coalesce(1)`) — catalog × calendar rows, never the lake. A commit
  * returns nothing: a caller that needs the committed state reads it
  * back with [[read]], and the rest skip that read's schema
  * inference. The `v=` naming and the commit steps live here only;
  * [[BloomState]] commits through [[publish]]. */
object VersionedState {

  /** The entry of version `v` under `root`. */
  private[io] def versionPath(root: String, v: Long): String = s"$root/v=$v"

  /** The versions among the entry `names` of a state root. */
  private[io] def versionsOf(names: Seq[String]): Seq[Long] =
    names.filter(_.startsWith("v=")).flatMap(_.drop(2).toLongOption)

  private def versions(s: SparkSession, root: String): Seq[Long] =
    versionsOf(Fs.listDirNames(s, root))

  /** The commit steps shared by every versioned store: `write` into a
    * staging path, replace a replay leftover at `v=<batchId>`, rename
    * the staging entry into place, then prune what `listed` holds
    * older than `base` — the version this commit merged from, which
    * survives until the NEXT commit. The staging name has no "v="
    * prefix, so a concurrent reader never lists a half-written
    * version. `base` is read after the rename. */
  private[io] def publish(s: SparkSession, root: String, batchId: Long,
                          base: => Option[Long], listed: => Seq[Long])(
                          write: String => Unit): Unit = {
    val staging = s"$root/_staging_$batchId"
    Fs.delete(s, staging)
    write(staging)
    Fs.delete(s, versionPath(root, batchId))
    Fs.rename(s, staging, versionPath(root, batchId))
    base.foreach(b => listed.filter(_ < b)
      .foreach(v => Fs.delete(s, versionPath(root, v))))
  }

  /** Fold `update` into the latest version strictly before `batchId`
    * (replay-safe base), commit as `v=<batchId>`, and prune versions
    * older than the base. */
  def mergeCommit(s: SparkSession, root: String, batchId: Long,
                  update: DataFrame,
                  merge: (DataFrame, DataFrame) => DataFrame): Unit = {
    val prev = versions(s, root).filter(_ < batchId).maxOption
    val merged = prev match {
      case Some(p) => merge(read(s, root, p), update)
      case None => update
    }
    publish(s, root, batchId, prev, versions(s, root))(
      merged.coalesce(1).write.mode("overwrite").parquet(_))
  }

  /** Committed version `version` — e.g. the one a sink just wrote. */
  def read(s: SparkSession, root: String, version: Long): DataFrame =
    s.read.parquet(versionPath(root, version))

  /** Latest committed version, for serving reads (None before the
    * first commit). */
  def readLatest(s: SparkSession, root: String): Option[DataFrame] =
    versions(s, root).maxOption.map(read(s, root, _))
}
