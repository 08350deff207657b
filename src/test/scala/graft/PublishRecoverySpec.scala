package graft

import graft.io.{Fs, Snapshot}
import graft.ops.Embeddings
import graft.streaming.{Detection, Ingest}
import java.sql.Timestamp

/** Crash-window semantics of the bak-swap publish (Fs.publish /
  * Fs.recoverPublished) and its read-path healing — the Spark analog of
  * the reference's tmp→bak→move writer (app/utils.py:494-508) and
  * main-then-.bak loader (app/utils.py:405-441). */
class PublishRecoverySpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private val fixture = Seq(
    Detection("cam1", ts("2024-02-01 10:00:00"), "car", 0.9, 0, 0, 10, 10),
    Detection("cam1", ts("2024-02-01 10:00:02"), "car", 0.9, 0, 0, 10, 10),
    Detection("cam2", ts("2024-02-01 10:00:00"), "car", 0.9, 5, 5, 15, 15))

  private def bakOf(path: String): String = {
    val p = new org.apache.hadoop.fs.Path(path)
    new org.apache.hadoop.fs.Path(p.getParent, "_bak_" + p.getName).toString
  }

  test("publish swaps content and leaves no bak behind") {
    val root = tmp("graft_pub")
    val path = s"$root/snap"
    val obs = Ingest.batchObservations(fixture.toDS()).toDF().cache()
    Snapshot.write(Snapshot.build(obs, Seq("1h" -> 3600L)), path)
    val v1 = Snapshot.readSources(spark, path).collect()
    assert(v1.map(_.getString(0)).toSet == Set("cam1", "cam2"))
    assert(!Fs.exists(spark, bakOf(path)), "bak must be cleared after publish")
    // publish again (a second snapshot tick) — replaces in place
    Snapshot.write(Snapshot.build(obs, Seq("1h" -> 3600L)), path)
    assert(Fs.exists(spark, path) && !Fs.exists(spark, bakOf(path)))
  }

  test("crash between publish's two renames: reader heals from the bak") {
    val root = tmp("graft_pub_crash")
    val path = s"$root/snap"
    val obs = Ingest.batchObservations(fixture.toDS()).toDF().cache()
    Snapshot.write(Snapshot.build(obs, Seq("1h" -> 3600L)), path)
    val before = Snapshot.readSources(spark, path).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // simulate a crash after step 1 (path → bak) and before step 2:
    // the published path is gone, the complete old copy sits at the bak
    Fs.rename(spark, path, bakOf(path))
    assert(!Fs.exists(spark, path) && Fs.exists(spark, bakOf(path)))
    // the reader's recoverPublished fallback serves the old snapshot
    val after = Snapshot.readSources(spark, path).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(after == before)
    // and the heal is durable: the path is back, the bak consumed
    assert(Fs.exists(spark, path) && !Fs.exists(spark, bakOf(path)))
    // recoverPublished is a no-op once healthy
    assert(!Fs.recoverPublished(spark, path))
  }

  test("re-running publish after a crash is idempotent (staging survives the crash)") {
    val root = tmp("graft_pub_retry")
    val path = s"$root/snap"
    val obs = Ingest.batchObservations(fixture.toDS()).toDF().cache()
    Snapshot.write(Snapshot.build(obs, Seq("1h" -> 3600L)), path)
    // build v2 in staging but crash after step 1: path is at the bak,
    // staging is complete, nothing live
    val staging = path + "_tmp"
    Snapshot.build(obs, Seq("24h" -> 86400L))
      .coalesce(1).write.mode("overwrite").json(staging)
    Fs.rename(spark, path, bakOf(path))
    // the retried publish completes the swap and clears the bak
    Fs.publish(spark, staging, path)
    assert(Fs.exists(spark, path) && !Fs.exists(spark, bakOf(path)))
    assert(!Fs.exists(spark, staging))
    val rows = Snapshot.readSources(spark, path).collect()
    assert(rows.map(_.getString(0)).toSet == Set("cam1", "cam2"))
  }

  test("crash matrix: every intermediate publish state serves a complete doc after recovery") {
    // publish(staging, path) = [A] delete stale bak, [B] path -> bak,
    // [C] staging -> path, [D] delete bak. Simulate a crash after each
    // step and assert the invariant the protocol promises: after
    // recoverPublished, `path` holds a COMPLETE doc (the old one before
    // C, the new one from C on) and a retried/next publish converges.
    val obs = Ingest.batchObservations(fixture.toDS()).toDF().cache()
    val oldSnap = Snapshot.build(obs, Seq("1h" -> 3600L))
    val newSnap = Snapshot.build(obs, Seq("24h" -> 86400L))
    def camsAt(path: String) = Snapshot.readSources(spark, path)
      .collect().map(_.getString(0)).toSet
    val allCams = Set("cam1", "cam2")

    for (crashAfter <- Seq("A", "B", "C", "D")) {
      val root = tmp(s"graft_pub_matrix_$crashAfter")
      val path = s"$root/snap"
      val staging = path + "_tmp"
      Snapshot.write(oldSnap, path) // live v1
      newSnap.coalesce(1).write.mode("overwrite").json(staging) // staged v2
      // replay publish's steps up to the crash point
      Fs.delete(spark, bakOf(path))                        // A
      if (crashAfter >= "B") Fs.rename(spark, path, bakOf(path))
      if (crashAfter >= "C") Fs.rename(spark, staging, path)
      if (crashAfter >= "D") Fs.delete(spark, bakOf(path))
      // invariant 1: recovery + read serves a complete doc
      Fs.recoverPublished(spark, path)
      assert(camsAt(path) == allCams, s"crash after $crashAfter: unreadable")
      // invariant 2: the system converges — rerun the publish (restage
      // if the staging dir was consumed by the crash point) and the NEW
      // doc is live with no bak left behind
      if (!Fs.exists(spark, staging))
        newSnap.coalesce(1).write.mode("overwrite").json(staging)
      Fs.publish(spark, staging, path)
      assert(camsAt(path) == allCams)
      assert(!Fs.exists(spark, bakOf(path)) && !Fs.exists(spark, staging),
        s"crash after $crashAfter: leftovers after converging publish")
    }
  }

  test("indexed IVF search heals a crashed index publish") {
    val e = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val probes = e.filter($"vec_id" < 3)
    val model = Embeddings.ivfFit(e, "vec_id", "embedding", nLists = 8)
    val dir = s"${tmp("graft_ivf_crash")}/index"
    Embeddings.writeIvfIndex(model, e, "vec_id", "embedding", dir)
    val healthy = Embeddings.ivfTopKIndexed(model, spark, dir, probes,
      "vec_id", "embedding", nProbe = 2, k = 3).collect().map(_.toSeq).toSet
    // crash a rebuild mid-swap: live index renamed aside, nothing live
    Fs.rename(spark, dir, bakOf(dir))
    assert(!Fs.exists(spark, dir))
    val healed = Embeddings.ivfTopKIndexed(model, spark, dir, probes,
      "vec_id", "embedding", nProbe = 2, k = 3).collect().map(_.toSeq).toSet
    assert(healed == healthy)
    assert(Fs.exists(spark, dir) && !Fs.exists(spark, bakOf(dir)))
  }

  test("crash matrix: every intermediate state of a tagged-store compaction serves the pre-fold read and converges") {
    // Tagged.compact on a store with a previous fold (watermark w0):
    // [F] fold write under the new base tag, [M] `_w_<newW>` marker,
    // [S] sweep of the folded sources, [W] sweep of older markers.
    // Each state after a crash is rebuilt from copies taken before
    // and after one full compact; in every one the live read must be
    // the pre-fold read, and re-running the compact with the same
    // upTo must converge to the full run's tag dirs, markers and
    // watermark.
    import java.nio.file.{Files, Path, Paths}
    import org.apache.commons.io.FileUtils
    import scala.jdk.CollectionConverters._
    def walk(dir: String): Seq[Path] = {
      val st = Files.walk(Paths.get(dir))
      try st.iterator().asScala.toList finally st.close()
    }
    def tagDirs(dir: String): Set[String] = walk(dir)
      .filter(p => Files.isDirectory(p) &&
        graft.io.Tagged.tagOf(p.getFileName.toString).nonEmpty)
      .map(p => Paths.get(dir).relativize(p).toString).toSet
    def markers(dir: String): Set[String] = Fs.listFileNames(spark, dir)
      .filter(_.startsWith("_w_")).toSet
    def copy(from: String, to: String): Unit =
      FileUtils.copyDirectory(new java.io.File(from), new java.io.File(to))

    val e = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val probes = e.filter($"vec_id" < 5)
    val model = Embeddings.ivfFit(e, "vec_id", "embedding", nLists = 8)
    val ivfParts = (0 to 3).map(i => e.filter($"vec_id" % 4 === i))
    val docs = Seq(
      (1L, "spark shuffle join plan"), (2L, "broadcast join codegen stage"),
      (3L, "shuffle skew salting shuffle"), (4L, "join reorder statistics"),
      (5L, "skew aware partition pruning"), (6L, "shuffle join skew"))
      .toDF("doc_id", "text")
    val terms = Seq("shuffle", "join", "skew")
    // (name, build + appends + first fold, second fold's upTo, compact,
    //  live read)
    case class Store(name: String, build: String => Unit, upTo: Long,
                     compact: String => Boolean,
                     read: String => Set[Seq[Any]])
    val stores = Seq(
      Store("ivf", { dir =>
          Embeddings.writeIvfIndex(model, ivfParts(0), "vec_id",
            "embedding", dir)
          (1 to 3).foreach(i => Embeddings.appendToIvfIndex(model,
            ivfParts(i), "vec_id", "embedding", dir,
            batchTag = Some(i - 1L)))
          assert(Embeddings.compactIvfIndex(spark, dir, upTo = 0L))
        }, 2L,
        Embeddings.compactIvfIndex(spark, _, upTo = 2L),
        dir => Embeddings.ivfTopKIndexed(model, spark, dir, probes,
          "vec_id", "embedding", nProbe = 3, k = 5)
          .collect().map(_.toSeq).toSet),
      Store("search", { dir =>
          graft.ops.Retrieval.writeSearchIndex(
            docs.filter($"doc_id" <= 2), "doc_id", "text", dir, nBuckets = 8)
          (3L to 6L).foreach(id => graft.ops.Retrieval.appendToSearchIndex(
            docs.filter($"doc_id" === id), "doc_id", "text", dir,
            batchTag = Some(id - 3L)))
          assert(graft.ops.Retrieval.compactSearchIndex(spark, dir, 1L))
        }, 3L,
        graft.ops.Retrieval.compactSearchIndex(spark, _, upTo = 3L),
        dir => graft.ops.Retrieval.bm25IndexTopK(spark, dir, "doc_id",
          terms, k = 10).collect().map(_.toSeq).toSet))

    for (st <- stores) {
      val root = tmp(s"graft_tagged_matrix_${st.name}")
      val pre = s"$root/pre"; val post = s"$root/post"
      st.build(pre)
      val before = st.read(pre)
      copy(pre, post)
      assert(st.compact(post))
      val newW = graft.io.Tagged.watermark(spark, post)
      assert(newW == st.upTo)
      assert(st.read(post) == before, s"${st.name}: full fold changed reads")
      val newBase = graft.io.Tagged.dirName(graft.io.Tagged.baseTag(newW))
      val folded = walk(post).filter(p => Files.isDirectory(p) &&
        p.getFileName.toString == newBase)
      assert(folded.nonEmpty)
      def withFold(dir: String): Unit = {
        copy(pre, dir)
        folded.foreach(p => copy(p.toString,
          s"$dir/${Paths.get(post).relativize(p)}"))
      }
      val states = Seq[(String, String => Unit)](
        "fold write" -> withFold,
        "marker" -> { d => withFold(d); Fs.touch(spark, s"$d/_w_$newW") },
        "source sweep" -> { d => copy(post, d)
          markers(pre).foreach(m => Fs.touch(spark, s"$d/$m")) },
        "marker sweep" -> (copy(post, _)))
      for ((crashAfter, make) <- states) {
        val dir = s"$root/${crashAfter.replace(' ', '_')}"
        make(dir)
        assert(st.read(dir) == before,
          s"${st.name}, crash after $crashAfter: live read changed")
        st.compact(dir)
        assert(tagDirs(dir) == tagDirs(post) &&
          markers(dir) == markers(post) &&
          graft.io.Tagged.watermark(spark, dir) == newW,
          s"${st.name}, crash after $crashAfter: re-run did not converge")
        assert(st.read(dir) == before)
      }
    }
  }
}
