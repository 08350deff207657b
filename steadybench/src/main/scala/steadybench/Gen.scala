package steadybench

import java.util.SplittableRandom
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.streaming.Detection

final case class Doc(id: Long, text: String, lang: String, source: String)

/** Seeded input generators: the same seed gives the same rows. */
object Gen {
  val Start: Long = 1704067200L // 2024-01-01 00:00:00 UTC

  private def rng(seed: Long, salt: Long) =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ salt)

  val Vocab: Vector[String] = Vector("spark", "window", "merge", "table",
    "column", "vector", "stream", "value", "data", "small", "join", "filter",
    "big", "group", "hash", "customer", "sort", "order", "slow", "line",
    "part", "fast", "row", "the", "agg", "key", "query", "a", "scan", "batch")

  /** A corpus of the shape measured on the sf0.1 test data's
    * `documents`: 10–100 words from a 30-word vocabulary; 5 % of docs
    * near-duplicates (another doc with " dup" appended), 8 pairs of which
    * copy the same doc and so are exact copies of each other; `en` on
    * 41 % of docs and the other four languages sharing the rest; the 20
    * sources in turn. Those counts are the same for every seed, so dedup
    * work does not swing from seed to seed; the words, the languages and
    * the doc each near-duplicate copies come from the seed. */
  def documents(seed: Long, n: Int): Array[Doc] = {
    val r = rng(seed, 2)
    val others = Vector("zh", "es", "fr", "de")
    def isNearDup(i: Int) = i % 20 == 19
    val own = Array.fill(n)(
      Seq.fill(10 + r.nextInt(91))(Vocab(r.nextInt(Vocab.length))).mkString(" "))
    val copied = scala.collection.mutable.Set.empty[Int]
    var original = 0
    Array.tabulate(n) { i =>
      val text =
        if (!isNearDup(i)) own(i)
        else {
          // every 31st near-duplicate copies the previous one's doc
          if ((i / 20) % 31 != 30) {
            original = r.nextInt(n)
            while (isNearDup(original) || copied(original)) original = r.nextInt(n)
            copied += original
          }
          own(original) + " dup"
        }
      val u = r.nextDouble()
      val lang = if (u < 0.41) "en" else others(((u - 0.41) / 0.59 * others.length).toInt)
      Doc(i.toLong, text, lang, s"src${i % 20}")
    }
  }

  def writeDocuments(spark: SparkSession, docs: Array[Doc], path: String): Unit = {
    import spark.implicits._
    docs.toSeq.toDF().select(col("id").as("doc_id"), col("text"), col("lang"),
        col("source"), length(col("text")).cast("long").as("n_chars"))
      .coalesce(1).write.mode("overwrite").parquet(path)
  }
}

/** The seeded detection stream of `cameras` cameras, one tick every
  * `tickSec` seconds from `startSec`, `ticksPerBatch` ticks per
  * micro-batch. Each camera has 1–3 fixed boxes (static from its second
  * tick on: IOU 1 with the previous tick) and 0–4 moving boxes a tick,
  * in a band the previous tick left empty (IOU 0, so each is new): the
  * expected flux is known by construction. */
final class DetectionStream(seed: Long, cameras: Int, ticksPerBatch: Int,
                            startSec: Long, tickSec: Long) {
  import DetectionStream._

  /** Each camera's fixed boxes, by class. */
  val statics: IndexedSeq[IndexedSeq[String]] = {
    val r = new SplittableRandom(seed * 7919L + 11)
    (0 until cameras).map(_ => IndexedSeq.fill(1 + r.nextInt(3))(cls(r)))
  }

  /** Detections of micro-batch `b`, the same for the same seed. */
  def batch(b: Int): Seq[Detection] = {
    val r = new SplittableRandom(seed * 1000003L + b)
    for {
      tick <- b.toLong * ticksPerBatch until (b + 1L) * ticksPerBatch
      cam <- 0 until cameras
      ts = new java.sql.Timestamp((startSec + tick * tickSec) * 1000L)
      moving = r.nextInt(5)
      det <- statics(cam).zipWithIndex.map { case (k, s) =>
        Detection(camId(cam), ts, k, 0.9, 20L + 120 * s, 20L, 100L + 120 * s, 80L)
      } ++ (0 until moving).map { m =>
        val y = if (tick % 2 == 0) 500L else 700L
        val x = 20L + 150 * m + r.nextInt(20)
        Detection(camId(cam), ts, cls(r), 0.8, x, y, x + 90, y + 60)
      }
    } yield det
  }
}

object DetectionStream {
  def camId(i: Int): String = f"cam$i%02d"
  private def cls(r: SplittableRandom) = if (r.nextInt(3) == 0) "motorcycle" else "car"
}
