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
  * returns nothing: a caller that needs the committed state reads
  * `v=<batchId>` itself, and the rest skip that read's schema
  * inference. */
object VersionedState {

  private def versions(s: SparkSession, root: String): Seq[Long] =
    Fs.listDirNames(s, root).filter(_.startsWith("v="))
      .map(_.drop(2).toLong)

  /** Fold `update` into the latest version strictly before `batchId`
    * (replay-safe base), commit as `v=<batchId>`, and prune versions
    * older than the base. */
  def mergeCommit(s: SparkSession, root: String, batchId: Long,
                  update: DataFrame,
                  merge: (DataFrame, DataFrame) => DataFrame): Unit = {
    val prev = versions(s, root).filter(_ < batchId).sorted.lastOption
    val merged = prev match {
      case Some(p) => merge(s.read.parquet(s"$root/v=$p"), update)
      case None => update
    }
    // stage + rename: a concurrent readLatest must never list a
    // half-written version directory (the staging name has no "v="
    // prefix, so it is invisible to the version listing)
    val staging = s"$root/_staging_$batchId"
    Fs.delete(s, staging)
    merged.coalesce(1).write.mode("overwrite").parquet(staging)
    Fs.delete(s, s"$root/v=$batchId") // replay leftovers
    Fs.rename(s, staging, s"$root/v=$batchId")
    prev.foreach(p => versions(s, root).filter(_ < p)
      .foreach(v => Fs.delete(s, s"$root/v=$v")))
  }

  /** Latest committed version, for serving reads (None before the
    * first commit). */
  def readLatest(s: SparkSession, root: String): Option[DataFrame] =
    versions(s, root).sorted.lastOption
      .map(v => s.read.parquet(s"$root/v=$v"))
}
