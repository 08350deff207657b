package graft.io

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.{col, lit}

/** The `b` tag rules of every batch-tagged layout ([[Batches]]' flat
  * `b=<tag>` dirs and the indexes' `b` partitions): build `-1`, the
  * compacted base through batch w `-(w+2)`, tail batch ids `>= 0`.
  * Also the `_w_` store the IVF, IVF-PQ and BM25 search indexes share:
  * partitioned trees with a `b` column, the fold watermark in `_w_<w>`
  * marker files at the root; appends [[write]] their tag, readers
  * filter to [[live]] tags, and [[compact]] folds the tail. */
object Tagged {
  /** Tag of a base build. */
  private[io] val buildTag: Long = -1L

  /** Tag of the compacted base folded through batch `w`. */
  def baseTag(w: Long): Long = -(w + 2L)

  /** The watermark a base tag encodes; None for build and tail tags. */
  private[io] def foldedThrough(tag: Long): Option[Long] =
    if (tag <= -2L) Some(-tag - 2L) else None

  /** Highest watermark among the base tags in `tags`; -1 when none. */
  private[io] def watermarkOf(tags: Seq[Long]): Long =
    tags.flatMap(foldedThrough).maxOption.getOrElse(-1L)

  /** A tag a fold through `w` made obsolete: a tail batch the base
    * already holds (a post-fold replay may re-create one,
    * byte-equivalent) or a base superseded by a newer watermark. */
  private[io] def stale(tag: Long, w: Long): Boolean =
    (tag >= 0L && tag <= w) || foldedThrough(tag).exists(_ < w)

  /** Name of the directory holding tag `tag`. */
  def dirName(tag: Long): String = s"b=$tag"

  /** The tag a `b=<tag>` directory name carries. */
  def tagOf(name: String): Option[Long] =
    if (name.startsWith("b=")) name.stripPrefix("b=").toLongOption else None

  /** Row filter selecting LIVE content under watermark `w`: the base
    * build (b = -1), the compacted fold base (b = -(w+2)), and the
    * uncompacted tail (b > w). Stale partitions a crashed [[compact]] or
    * a post-compaction replay left behind are excluded, so every crash
    * window reads each row exactly once. Degenerates to all partitions
    * when w = -1 (never compacted: -(w+2) = -1 and b > -1 covers every
    * tag). A pure partition-column predicate, so it prunes
    * directories, not rows. */
  private[io] def live(w: Long): Column =
    col("b") === lit(buildTag) || col("b") === lit(baseTag(w)) ||
      col("b") > lit(w)

  private def markerOf(name: String): Option[Long] =
    if (name.startsWith("_w_")) name.stripPrefix("_w_").toLongOption
    else None

  /** Watermark of the last [[compact]] of the store at `path`: the
    * highest id among `_w_<id>` marker files at its root; -1 before any
    * fold. Markers are underscore-prefixed (invisible to partition
    * discovery) and CREATED, never rewritten — the newest one wins, so
    * a crash can never leave the watermark half-updated (the window a
    * single rewritten marker file would have between delete and
    * recreate). */
  def watermark(s: SparkSession, path: String): Long =
    Fs.listFileNames(s, path).flatMap(markerOf).maxOption.getOrElse(-1L)

  /** [[live]] under the store's current [[watermark]]. One predicate
    * serves every tree of a store: each append stamps the same tag into
    * all of them. */
  def live(s: SparkSession, path: String): Column = live(watermark(s, path))

  /** Write `df` into the tree at `path`, partitioned by `partitionCols`
    * then `b`. Some(batchId) DYNAMICALLY OVERWRITES its own `b=<batchId>`
    * partitions (a crash replay rewrites, never duplicates; other tags
    * untouched); None plain-appends under the build tag. */
  def write(df: DataFrame, path: String, partitionCols: Seq[String],
            batchTag: Option[Long]): Unit = {
    val w = df.withColumn("b", lit(batchTag.getOrElse(buildTag)))
      .write.partitionBy(partitionCols :+ "b": _*)
    batchTag match {
      case Some(_) => w.option("partitionOverwriteMode", "dynamic")
        .mode(SaveMode.Overwrite).parquet(path)
      case None => w.mode(SaveMode.Append).parquet(path)
    }
  }

  /** One tree of a store for [[compact]]: sub-dir (`""` = the root),
    * partition columns above `b`, and the fold of the folded rows (`b`
    * dropped) — a rewrite for final rows, an exact sum for partials. */
  final case class Tree(sub: String, partitionCols: Seq[String],
                        fold: DataFrame => DataFrame)

  /** `(dir, tag)` of every `b=` partition of `tree` under `path`. */
  private def tagDirs(s: SparkSession, path: String,
                      tree: Tree): Seq[(String, Long)] = {
    def under(dir: String, cols: Seq[String]): Seq[(String, Long)] =
      cols match {
        case c +: rest => Fs.listDirNames(s, dir)
          .filter(_.startsWith(s"$c=")).flatMap(n => under(s"$dir/$n", rest))
        case _ => Fs.listDirNames(s, dir)
          .flatMap(n => tagOf(n).map(t => s"$dir/$n" -> t))
      }
    under(treePath(path, tree), tree.partitionCols)
  }

  private def treePath(path: String, tree: Tree): String =
    if (tree.sub.isEmpty) path else s"$path/${tree.sub}"

  /** Fold the tail tags in (watermark, upTo] — plus the previous fold's
    * base — into one new base tag `-(newW+2)` across every tree. The
    * build's b=-1 (the corpus bulk) is never rewritten. Each step is
    * safe to die after and to repeat: heal a crashed build publish;
    * sweep [[stale]] tags; fold by dynamic partition overwrite (readers
    * ignore the new tag until the marker lands); touch `_w_<newW>`, the
    * ATOMIC watermark advance; sweep the folded sources; sweep older
    * markers (also when there is nothing to fold, so a crash before
    * this last sweep converges on the next call). `upTo` must
    * stay at or below the appending stream's last checkpointed batch,
    * the bound of [[Batches.compact]]. Returns true iff a fold
    * happened. */
  def compact(s: SparkSession, path: String, upTo: Long,
              trees: Seq[Tree]): Boolean = {
    if (!Fs.exists(s, path)) return false
    Fs.recoverPublished(s, path)
    val w = watermark(s, path)
    val tagged = trees.flatMap(tagDirs(s, path, _))
    tagged.filter(kv => stale(kv._2, w)).foreach(kv => Fs.delete(s, kv._1))
    val candidates = tagged.map(_._2).distinct
      .filter(t => t >= 0L && t > w && t <= upTo)
    val newW = candidates.maxOption
    newW.foreach { nw =>
      val foldTags = (if (w >= 0L) Seq(baseTag(w)) else Nil) ++ candidates
      trees.foreach { t =>
        val root = treePath(path, t)
        write(t.fold(s.read.parquet(root).filter(col("b").isin(foldTags: _*))
          .drop("b")), root, t.partitionCols, Some(baseTag(nw)))
      }
      Fs.touch(s, s"$path/_w_$nw")
      tagged.filter(kv => foldTags.contains(kv._2))
        .foreach(kv => Fs.delete(s, kv._1))
    }
    val current = newW.getOrElse(w)
    Fs.listFileNames(s, path).filter(n => markerOf(n).exists(_ < current))
      .foreach(n => Fs.delete(s, s"$path/$n"))
    newW.nonEmpty
  }
}
