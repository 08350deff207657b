package graft.io

import org.apache.spark.sql.SparkSession
import org.apache.spark.util.sketch.BloomFilter

/** Replay-safe versioned storage for a cumulative
  * [[org.apache.spark.util.sketch.BloomFilter]] — the guard state of
  * the streaming line-dedup sink (graft.streaming.Ingest). Same
  * versioning contract as [[VersionedState]] (each batch commits
  * `v=<batchId>`, merged from the latest version strictly below it, so
  * a crash-replayed batch re-derives from the same base), but the blob
  * is a RAW FILE written through [[Fs]] rather than a 1-row DataFrame:
  * a megabytes-scale filter riding a LocalRelation would serialize
  * into every task of its write job (the round-11 probe measured
  * ~8 MB tasks and multi-second per-batch overhead), while a direct
  * driver-side write is one sequential IO. */
object BloomState {

  private def versions(s: SparkSession, root: String): Seq[Long] =
    VersionedState.versionsOf(Fs.listFileNames(s, root))

  /** Latest committed version strictly below `below` — the only read a
    * sink consuming its own state may use (a replay must not see its
    * own crashed attempt's leftover). */
  def latestVersionBefore(s: SparkSession, root: String,
                          below: Long): Option[Long] =
    versions(s, root).filter(_ < below).maxOption

  def toBytes(bf: BloomFilter): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    bf.writeTo(bos)
    bos.toByteArray
  }

  def fromBytes(b: Array[Byte]): BloomFilter =
    BloomFilter.readFrom(new java.io.ByteArrayInputStream(b))

  def read(s: SparkSession, root: String, version: Long): BloomFilter =
    fromBytes(Fs.readBytes(s, VersionedState.versionPath(root, version)))

  /** Append one batch of admitted hashes (`colName`, LongType) into a
    * COPY of `prev` (or a fresh filter sized `expectedItems`/`fpp`) —
    * the copy keeps the caller's cached previous filter untouched if
    * the batch dies mid-commit. Build site is ADAPTIVE on the batch's
    * row count:
    *
    *  - ≤ `driverMaxRows`: collect + insert on the driver. For the
    *    typical trigger (batch-scale, 8 bytes/hash — the same order
    *    as the coordination traffic the batch already pays) this is
    *    measurably cheaper than allocating a full-size filter per
    *    partition (the round-11 probe: multi-second per-batch
    *    overhead for megabyte filters).
    *  - above it (a CATCH-UP batch after downtime — backlog-scale,
    *    where a driver collect would be unbounded): distributed
    *    `stat.bloomFilter` over a few coalesced partitions
    *    (treeAggregate of per-partition filters, executor-side),
    *    merged into the copy — driver memory stays one filter,
    *    independent of row count.
    *
    * The merge requires `prev` to have been created with the same
    * (expectedItems, fpp); if an operator restarted the sink with a
    * different sizing, the merge falls back to a streamed driver
    * insert (`toLocalIterator` — bounded memory, never a full
    * collect). */
  def append(hashes: org.apache.spark.sql.DataFrame, colName: String,
             prev: Option[BloomFilter], expectedItems: Long, fpp: Double,
             driverMaxRows: Long): BloomFilter = {
    val h = hashes.select(org.apache.spark.sql.functions.col(colName))
    val nRows = h.count()
    val nb = prev match {
      case Some(pb) => fromBytes(toBytes(pb))
      case None => BloomFilter.create(expectedItems, fpp)
    }
    if (nRows <= driverMaxRows)
      h.collect().foreach(r => nb.putLong(r.getLong(0)))
    else {
      val partial = h.coalesce(4).stat
        .bloomFilter(colName, expectedItems, fpp)
      try { nb.mergeInPlace(partial); () }
      catch {
        case _: org.apache.spark.util.sketch.IncompatibleMergeException =>
          val it = h.toLocalIterator()
          while (it.hasNext) nb.putLong(it.next().getLong(0))
      }
    }
    nb
  }

  /** Commit `bf` as `v=<batchId>` through [[VersionedState]]'s
    * staged write + atomic rename (a replay leftover at the same
    * version is replaced), then prune versions older than the base this
    * commit merged from — the base itself survives until the NEXT
    * commit, exactly the [[VersionedState]] retention rule. */
  def commit(s: SparkSession, root: String, batchId: Long,
             bf: BloomFilter): Unit =
    VersionedState.publish(s, root, batchId,
      latestVersionBefore(s, root, batchId), versions(s, root))(
      Fs.writeBytes(s, _, toBytes(bf)))
}
