package graft

import graft.streaming.{Detection, Ingest, Observation}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import java.sql.Timestamp

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  private def det(cam: String, t: String, cls: String,
                  box: (Long, Long, Long, Long)): Detection =
    Detection(cam, ts(t), cls, 0.9, box._1, box._2, box._3, box._4)

  // tick 1: two cars; tick 2: one car static (same box), one new motorcycle
  private val fixture = Seq(
    det("cam1", "2024-02-01 10:00:00", "car", (0L, 0L, 10L, 10L)),
    det("cam1", "2024-02-01 10:00:00", "car", (50L, 50L, 60L, 60L)),
    det("cam1", "2024-02-01 10:00:02", "car", (0L, 0L, 10L, 10L)), // static
    det("cam1", "2024-02-01 10:00:02", "motorcycle", (200L, 200L, 210L, 210L)),
    det("cam2", "2024-02-01 10:00:00", "car", (5L, 5L, 15L, 15L)))

  test("batch dedup: static box excluded from flux, density keeps it") {
    val obs = Ingest.batchObservations(fixture.toDS())
      .collect().sortBy(o => (o.camera_id, o.ts.getTime))
    assert(obs.length == 3)
    val t1 = obs(0); val t2 = obs(1); val c2 = obs(2)
    assert(t1.total_count == 2 && t1.new_count == 2) // first tick: all new
    assert(t2.total_count == 2 && t2.car_count == 1 && t2.motorcycle_count == 1)
    assert(t2.new_count == 1 && t2.new_cars == 0 && t2.new_motors == 1) // car static
    assert(c2.camera_id == "cam2" && c2.new_count == 1)
  }

  test("streaming dedup equals batch dedup, state carries across batches") {
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[Detection]
    val q = Ingest.dedupObservations(mem.toDS())
      .writeStream.format("memory").queryName("obs_out")
      .outputMode("append").start()
    try {
      // batch 1 = tick 1 only; batch 2 = tick 2 → the static-car
      // comparison must use state carried from batch 1
      mem.addData(fixture.filter(_.ts == ts("2024-02-01 10:00:00")): _*)
      q.processAllAvailable()
      mem.addData(fixture.filter(_.ts == ts("2024-02-01 10:00:02")): _*)
      q.processAllAvailable()
      val streamed = spark.table("obs_out").as[Observation]
        .collect().sortBy(o => (o.camera_id, o.ts.getTime))
      val batch = Ingest.batchObservations(fixture.toDS())
        .collect().sortBy(o => (o.camera_id, o.ts.getTime))
      assert(streamed.toSeq == batch.toSeq)
    } finally q.stop()
  }

  test("streaming exact dedup drops cross-batch duplicates, keeps state bounded by watermark") {
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[(Long, String, java.sql.Timestamp)]
    val docs = mem.toDF().toDF("doc_id", "text", "ts")
    val q = Ingest.streamingExactDedup(docs, "doc_id", "text", "ts", "10 minutes")
      .select("doc_id", "content_hash")
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    try {
      mem.addData((1L, "alpha beta", ts("2024-02-01 10:00:00")),
        (2L, "gamma delta", ts("2024-02-01 10:00:01")))
      q.processAllAvailable()
      // batch 2: doc 3 duplicates doc 1's content ACROSS batches → dropped
      mem.addData((3L, "alpha beta", ts("2024-02-01 10:00:05")),
        (4L, "epsilon", ts("2024-02-01 10:00:06")))
      q.processAllAvailable()
      val kept = spark.table("dedup_out").collect().map(_.getLong(0)).toSet
      assert(kept == Set(1L, 2L, 4L))
    } finally q.stop()
  }

  test("near-dup ingest filter drops collisions across and within batches, admits novel docs") {
    implicit val sc = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("graft_neardup")
    val out = s"$tmp/out"; val idx = s"$tmp/idx"; val cp = s"$tmp/cp"
    val mem = MemoryStream[(Long, String)]
    val docs = mem.toDF().toDF("doc_id", "text")
    val q = Ingest.startNearDupFilterSink(docs, "doc_id", "text",
      out, idx, cp)
    try {
      mem.addData(
        (1L, "the quick brown fox jumps over the lazy dog today"),
        (2L, "completely different words describing another topic entirely here"))
      q.processAllAvailable()
      // batch 2: doc 3 duplicates doc 1 (cross-batch), docs 4 and 5 are
      // identical to each other (within-batch), doc 6 is novel
      mem.addData(
        (3L, "the quick brown fox jumps over the lazy dog today"),
        (4L, "some brand new content that matches only its own twin text"),
        (5L, "some brand new content that matches only its own twin text"),
        (6L, "yet another unrelated document with fresh vocabulary inside"))
      q.processAllAvailable()
      val kept = spark.read.parquet(out)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(kept == Set(1L, 2L, 4L, 6L), s"kept $kept")
      // index holds band keys only for admitted docs
      val indexed = spark.read.parquet(idx)
        .select("doc_id").distinct().collect().map(_.getLong(0)).toSet
      assert(indexed == Set(1L, 2L, 4L, 6L))
      // replay-safe layout: each micro-batch owns a b=<batchId> dir it
      // would overwrite (not append) on a crash replay — in BOTH the
      // admitted-doc root and the band index
      Seq(out, idx).foreach { root =>
        val dirs = new java.io.File(root).listFiles()
          .filter(_.isDirectory).map(_.getName)
          .filterNot(_.startsWith("_")).toSet
        assert(dirs == Set("b=0", "b=1"), s"$root layout: $dirs")
      }
      // provenance: the b partition column carries the ingest batch
      val perBatch = spark.read.parquet(out)
        .groupBy(col("b").cast("long").as("b")).count().collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(perBatch == Map(0L -> 2L, 1L -> 2L), s"got $perBatch")
    } finally q.stop()
  }

  test("near-dup sink auto-compaction bounds the index layout without changing admissions") {
    // the unbounded-growth hazard: a long-running stream accumulates
    // one index dir per micro-batch AND re-enumerates all of them per
    // trigger. compactEvery folds committed prior batches into the
    // watermark-named base — admissions must be IDENTICAL to the
    // uncompacted run (the base holds exactly the dirs a batch would
    // have enumerated), while the dir count stays O(compactEvery).
    implicit val sc = spark.sqlContext
    val batches: Seq[Seq[(Long, String)]] = Seq(
      Seq(1L -> "the quick brown fox jumps over the lazy dog today",
          2L -> "completely different words describing another topic entirely here"),
      Seq(3L -> "the quick brown fox jumps over the lazy dog today", // dup of 1
          4L -> "some brand new content that matches only its own twin text"),
      Seq(5L -> "some brand new content that matches only its own twin text", // dup of 4
          6L -> "yet another unrelated document with fresh vocabulary inside"),
      Seq(7L -> "yet another unrelated document with fresh vocabulary inside", // dup of 6
          8L -> "final novel sentence carrying vocabulary seen nowhere previously done")
    )
    def run(compactEvery: Int, tag: String): (Set[Long], Set[String]) = {
      val tmp = java.nio.file.Files.createTempDirectory(tag)
      val out = s"$tmp/out"; val idx = s"$tmp/idx"; val cp = s"$tmp/cp"
      val mem = MemoryStream[(Long, String)]
      val q = Ingest.startNearDupFilterSink(mem.toDF().toDF("doc_id", "text"),
        "doc_id", "text", out, idx, cp, compactEvery = compactEvery)
      try {
        batches.foreach { b => mem.addData(b: _*); q.processAllAvailable() }
      } finally q.stop()
      val kept = spark.read.parquet(out)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      val idxDirs = new java.io.File(idx).listFiles()
        .filter(_.isDirectory).map(_.getName)
        .filterNot(_.startsWith("_")).toSet
      (kept, idxDirs)
    }
    val (keptPlain, dirsPlain) = run(0, "graft_nd_plain")
    val (keptComp, dirsComp) = run(2, "graft_nd_comp")
    assert(keptPlain == Set(1L, 2L, 4L, 6L, 8L), s"baseline kept $keptPlain")
    assert(keptComp == keptPlain,
      s"compaction changed admissions: $keptComp vs $keptPlain")
    assert(dirsPlain == Set("b=0", "b=1", "b=2", "b=3"))
    // batch 2 folded {0,1} -> base b=-3 (w=1); batches 2,3 are the tail
    assert(dirsComp == Set("b=-3", "b=2", "b=3"),
      s"compacted index layout: $dirsComp")
  }

  test("near-dup horizon: stale state is re-admitted and evicted; " +
    "in-horizon behavior identical to the unbounded sink") {
    implicit val sc = spark.sqlContext
    // injected monotone clock, advanced between micro-batches
    val fox = "the quick brown fox jumps over the lazy dog today"
    val diff = "completely different words describing another topic entirely here"
    val twin = "some brand new content that matches only its own twin text"
    val fresh = "yet another unrelated document with fresh vocabulary inside"
    // (time, docs): batch 1 runs 1000 s later — past a 100 s horizon
    // of batch 0 — then batch 2 runs 10 s after batch 1 (in-horizon)
    val script: Seq[(Long, Seq[(Long, String)])] = Seq(
      1000L -> Seq(1L -> fox, 2L -> diff),
      2000L -> Seq(3L -> fox, 4L -> twin), // 3 dups 1, but 1 aged out
      2010L -> Seq(5L -> fox, 6L -> fresh)) // 5 dups 3, 3 in-horizon
    def run(horizonSec: Long, compactEvery: Int, bloomGuard: Boolean,
            tag: String): (Set[Long], Set[Long]) = {
      val tmp = java.nio.file.Files.createTempDirectory(tag)
      val out = s"$tmp/out"; val idx = s"$tmp/idx"; val cp = s"$tmp/cp"
      var t = 0L
      val mem = MemoryStream[(Long, String)]
      val q = Ingest.startNearDupFilterSink(mem.toDF().toDF("doc_id", "text"),
        "doc_id", "text", out, idx, cp, compactEvery = compactEvery,
        bloomGuard = bloomGuard, horizonSec = horizonSec, clock = () => t)
      try {
        script.foreach { case (time, docs) =>
          t = time; mem.addData(docs: _*); q.processAllAvailable()
        }
      } finally q.stop()
      val kept = spark.read.parquet(out)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      val indexed = Ingest.readNearDupIndex(spark, idx)
        .map(_.select("doc_id").distinct()
          .collect().map(_.getLong(0)).toSet)
        .getOrElse(Set.empty[Long])
      (kept, indexed)
    }
    for (guard <- Seq(true, false)) {
      // horizon = 100 s: doc 3 (dup of 1, 1000 s later) is RE-ADMITTED;
      // doc 5 (dup of 3, 10 s later) is still suppressed
      val (kept, _) = run(100L, 0, guard, s"graft_nd_hz_$guard")
      assert(kept == Set(1L, 2L, 3L, 4L, 6L),
        s"horizon admissions (guard=$guard): $kept")
      // a horizon nothing ages out of behaves exactly like the
      // unbounded sink on the same script
      val (keptWide, idxWide) = run(1000000L, 0, guard, s"graft_nd_wide_$guard")
      val (kept0, idx0) = run(0L, 0, guard, s"graft_nd_unb_$guard")
      assert(kept0 == Set(1L, 2L, 4L, 6L), s"unbounded kept: $kept0")
      assert(keptWide == kept0 && idxWide == idx0,
        s"in-horizon run differs from unbounded (guard=$guard): " +
          s"$keptWide/$idxWide vs $kept0/$idx0")
      // state bound: with compaction, the fold EVICTS batch-0 rows
      // (stamped 1000 < cutoff 1910 at the batch-2 fold) — the at-rest
      // index holds only horizon-live admissions {3, 4}, plus the
      // uncompacted batch-2 tail {6}; the OUT corpus keeps everything
      val (keptC, idxC) = run(100L, 2, guard, s"graft_nd_hzc_$guard")
      assert(keptC == Set(1L, 2L, 3L, 4L, 6L),
        s"compacted-horizon admissions (guard=$guard): $keptC")
      assert(idxC == Set(3L, 4L, 6L),
        s"horizon fold did not bound the index (guard=$guard): $idxC")
    }
  }

  test("near-dup guard: admitted corpus and index identical with guard " +
    "on/off; the guarded collision probe is partition-pruned") {
    implicit val sc = spark.sqlContext
    import org.apache.spark.sql.functions._
    val tmp = java.nio.file.Files.createTempDirectory("graft_ndg").toString
    // novel docs + cross-batch dups + within-batch dups, several batches
    val batches = (0 until 3).map { b =>
      (0 until 20).map { i =>
        val id = (b * 100 + i).toLong
        val text =
          if (i % 5 == 4 && b > 0) // dup of the previous batch's i-th doc
            s"probe document b${b - 1} i$i carrying tokens alpha beta gamma delta"
          else if (i % 5 == 4)
            s"probe document b$b i$i carrying tokens alpha beta gamma delta"
          else
            s"unique document b$b i$i with tokens t${b * 31 + i} u${i * 7} v${b + i}"
        id -> text
      }
    }
    def run(sub: String, guard: Boolean): (Set[Long], Set[Long]) = {
      val out = s"$tmp/$sub/out"; val idx = s"$tmp/$sub/idx"
      val mem = MemoryStream[(Long, String)]
      val q = Ingest.startNearDupFilterSink(mem.toDF().toDF("doc_id", "text"),
        "doc_id", "text", out, idx, s"$tmp/$sub/cp",
        bloomGuard = guard, expectedKeys = 10000L, fpp = 0.01,
        prefixParts = 16)
      try batches.foreach { b => mem.addData(b: _*); q.processAllAvailable() }
      finally q.stop()
      val kept = spark.read.parquet(out).select("doc_id")
        .collect().map(_.getLong(0)).toSet
      val indexed = Ingest.readNearDupIndex(spark, idx).get
        .select("doc_id").collect().map(_.getLong(0)).toSet
      (kept, indexed)
    }
    val (gKept, gIdx) = run("guarded", guard = true)
    val (uKept, uIdx) = run("plain", guard = false)
    assert(gKept == uKept, "admitted corpus differs between modes")
    assert(gIdx == uIdx, "indexed doc set differs between modes")
    assert(gKept.nonEmpty && gKept.size < batches.flatten.size,
      "fixture must both admit and drop")

    // pruning: fold the guarded index, probe one already-admitted doc's
    // band keys — the collision check must read only those keys' p=
    // partitions of the base (non-vacuous files-read)
    val idx = s"$tmp/guarded/idx"
    graft.io.Batches.compact(spark, idx, upTo = 2L,
      partitionBy = Seq("p"),
      deriveTail = df => df.withColumn("p",
        pmod(col("band_h"), lit(16)).cast("int")))
    val probeDoc = batches.head.head // admitted in batch 0
    val keys = graft.ops.TextDedup.bandKeys(
      Seq(probeDoc).toDF("doc_id", "text"), "doc_id", "text", 3, 16, 4)
    val bloomV = graft.io.BloomState
      .latestVersionBefore(spark, s"$idx/_bloom", 100L)
    assert(bloomV.isDefined, "guarded index must carry bloom state")
    val bloom = Some(graft.io.BloomState.read(spark, s"$idx/_bloom",
      bloomV.get))
    val hits = Ingest.nearDupPriorHits(spark, idx, 100L, keys, "doc_id",
      bloom, 16)
    assert(hits.collect().map(_.getLong(0)).toSet == Set(probeDoc._1),
      "admitted doc's keys must collide with its own index entry")
    val read = graft.util.PlanMetrics.filesReadUnder(hits, idx)
    def parquetFiles(dir: java.io.File): Seq[java.io.File] =
      if (!dir.exists) Nil
      else dir.listFiles.toSeq.flatMap(f =>
        if (f.isDirectory) parquetFiles(f)
        else if (f.getName.endsWith(".parquet")) Seq(f) else Nil)
    val allFiles = parquetFiles(new java.io.File(idx))
      .filterNot(_.getPath.contains("_bloom"))
    assert(read >= 1 && read < allFiles.size,
      s"probe read $read of ${allFiles.size} files — expected a " +
        "non-vacuous pruned read")
  }

  test("near-dup drop audit separates justified drops from band-collision false drops") {
    implicit val sc = spark.sqlContext
    import spark.implicits._
    val batches: Seq[Seq[(Long, String)]] = Seq(
      Seq(1L -> "the quick brown fox jumps over the lazy dog today",
          2L -> "completely different words describing another topic entirely here"),
      Seq(3L -> "the quick brown fox jumps over the lazy dog today", // dup of 1
          4L -> "some brand new content that matches only its own twin text"),
      Seq(5L -> "some brand new content that matches only its own twin text", // dup of 4
          6L -> "yet another unrelated document with fresh vocabulary inside"),
      Seq(7L -> "yet another unrelated document with fresh vocabulary inside", // dup of 6
          8L -> "final novel sentence carrying vocabulary seen nowhere previously done")
    )
    val input = batches.flatten.toDF("doc_id", "text")
    val tmp = java.nio.file.Files.createTempDirectory("graft_nd_audit")
    val out = s"$tmp/out"; val idx = s"$tmp/idx"; val cp = s"$tmp/cp"
    val mem = MemoryStream[(Long, String)]
    val q = Ingest.startNearDupFilterSink(mem.toDF().toDF("doc_id", "text"),
      "doc_id", "text", out, idx, cp)
    try batches.foreach { b => mem.addData(b: _*); q.processAllAvailable() }
    finally q.stop()
    // the real sink's drops on this fixture are all true near-dups
    val audited = Ingest.nearDupDropAudit(input, out, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(audited == Map(3L -> 1L, 5L -> 1L, 7L -> 1L),
      s"sink drops misclassified: $audited")
    // synthetic out root missing doc 8 (unique — no qualifying partner):
    // the audit must flag 8 as a FALSE drop, the rest as justified
    val out2 = s"$tmp/out2"
    input.filter($"doc_id".isin(1L, 2L, 4L, 6L))
      .write.parquet(s"$out2/b=0")
    val audited2 = Ingest.nearDupDropAudit(input, out2, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(audited2 == Map(3L -> 1L, 5L -> 1L, 7L -> 1L, 8L -> 0L),
      s"false drop not flagged: $audited2")
  }

  test("shingle-freq MV: streamed dup-span stats equal the batch operator " +
    "over the full ingested corpus") {
    implicit val sc = spark.sqlContext
    import spark.implicits._
    // cross-batch duplication: doc 3 (batch 2) shares its whole text
    // with doc 1 (batch 1); doc 4 is unique — the MV must see ACROSS
    // batch boundaries, which per-batch dupSpanStats cannot
    val batches: Seq[Seq[(Long, String)]] = Seq(
      Seq(1L -> "one two three four five", 2L -> "six seven eight nine"),
      Seq(3L -> "one two three four five"),
      Seq(4L -> "ten eleven twelve thirteen")
    )
    val all = batches.flatten.toDF("doc_id", "text")
    val tmp = java.nio.file.Files.createTempDirectory("graft_shfreq")
    val mem = MemoryStream[(Long, String)]
    val view = Ingest.shingleFreqView("doc_id", "text", 3)
    val q = Ingest.startView(view, mem.toDF().toDF("doc_id", "text"),
      s"$tmp/work", s"$tmp/cp")
    try batches.foreach { b => mem.addData(b: _*); q.processAllAvailable() }
    finally q.stop()
    val freq = view.latest(spark, s"$tmp/work").get
    // state == full-corpus doc frequencies, exactly
    val expectFreq = ops.TextDedup
      .shingleFreqPartials(all, "doc_id", "text", 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val gotFreq = freq.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(gotFreq == expectFreq)
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("doc_id", "n_shingles", "n_dup", "dup_frac").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSet
    // served slice scoring ≡ the batch operator over everything ingested
    assert(rows(ops.TextDedup.dupSpanStatsAgainst(all, "doc_id", "text",
        3, freq)) == rows(ops.TextDedup.dupSpanStats(all, "doc_id", "text", 3)))
    // the cross-batch pair is what the MV buys: docs 1 and 3 read fully
    // duplicated even though neither batch saw both
    val served = rows(ops.TextDedup.dupSpanStatsAgainst(all, "doc_id",
      "text", 3, freq)).map(t => t._1 -> t._4).toMap
    assert(served(1L) == 1.0 && served(3L) == 1.0 && served(4L) == 0.0)
    // a not-yet-folded doc: unseen shingles score unique (conservative)
    val fresh = Seq(9L -> "brand new words entirely").toDF("doc_id", "text")
    val f = rows(ops.TextDedup.dupSpanStatsAgainst(fresh, "doc_id",
      "text", 3, freq)).head
    assert(f._3 == 0L && f._4 == 0.0)
    // span REMOVAL against the MV ≡ the batch operator over everything
    // ingested (same membership rule), and the fresh doc survives whole
    def cutRows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(cutRows(ops.TextDedup.removeDupSpansAgainst(all, "doc_id",
        "text", 3, freq)) ==
      cutRows(ops.TextDedup.removeDupSpans(all, "doc_id", "text", 3)))
    val fc = cutRows(ops.TextDedup.removeDupSpansAgainst(fresh, "doc_id",
      "text", 3, freq)).head
    assert(fc._2 == "brand new words entirely" && fc._4 == 0L)
  }

  test("unigram MV: streamed state scores bit-identically to the batch operator") {
    implicit val sc = spark.sqlContext
    import spark.implicits._
    val batches: Seq[Seq[(Long, String)]] = Seq(
      Seq(1L -> "alpha beta gamma alpha", 2L -> "beta beta delta"),
      Seq(3L -> "gamma gamma alpha epsilon"),
      Seq(4L -> "delta alpha beta beta zeta")
    )
    val all = batches.flatten.toDF("doc_id", "text")
    val tmp = java.nio.file.Files.createTempDirectory("graft_unigram")
    val mem = MemoryStream[(Long, String)]
    val view = Ingest.unigramView("text")
    val q = Ingest.startView(view, mem.toDF().toDF("doc_id", "text"),
      s"$tmp/work", s"$tmp/cp")
    try batches.foreach { b => mem.addData(b: _*); q.processAllAvailable() }
    finally q.stop()
    val counts = view.latest(spark, s"$tmp/work").get
    // state == full-corpus counts, exactly
    val expectCounts = ops.TextStats.unigramPartials(all, "text")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val gotCounts = counts.collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(gotCounts == expectCounts)
    // scoring the ingested corpus against the MV state ≡ the batch
    // operator over that corpus, bit-for-bit (same integer sums, same
    // division shape)
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("doc_id", "n_tokens", "avg_token_prob").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(rows(ops.TextStats.unigramScoreAgainst(all, "doc_id", "text",
      counts)) == rows(ops.TextStats.unigramScore(all, "doc_id", "text")))
    // OOV: a new doc's unseen terms contribute probability 0
    val nd = Seq(9L -> "alpha omega omega").toDF("doc_id", "text")
    val scored = ops.TextStats.unigramScoreAgainst(nd, "doc_id", "text",
      counts).collect().head
    val total = expectCounts.values.sum
    assert(scored.getLong(1) == 3L)
    assert(scored.getDouble(2) ==
      (1.0 * expectCounts("alpha")) / (3.0 * total))
  }

  test("dsir raw-count MV: the served model and its scores are " +
    "bit-identical to the batch fit over the full ingested corpus") {
    implicit val sc = spark.sqlContext
    import spark.implicits._
    val batches: Seq[Seq[(Long, String)]] = Seq(
      (0L until 20L).map(i => i -> s"spark scan filter join stage $i"),
      (100L until 120L).map(i => i -> s"weather rain football city $i"),
      (200L until 210L).map(i => i -> s"spark shuffle partition task $i")
    )
    val all = batches.flatten.toDF("doc_id", "text")
    val target = (300L until 310L)
      .map(i => (i, s"spark scan filter join stage $i"))
      .toDF("doc_id", "text")
    val nB = 64
    val tmp = java.nio.file.Files.createTempDirectory("graft_dsirmv")
    val mem = MemoryStream[(Long, String)]
    val q = Ingest.startView(Ingest.dsirRawCountView("text", nB),
      mem.toDF().toDF("doc_id", "text"), s"$tmp/work", s"$tmp/cp")
    try batches.foreach { b => mem.addData(b: _*); q.processAllAvailable() }
    finally q.stop()
    // folded state == single-pass raw counts, exactly
    val state = io.VersionedState.readLatest(spark, s"$tmp/work/dsirraw")
      .get.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val direct = ops.Sampling.dsirBucketCounts(all, "text", nB)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(state == direct)
    // the served model is the batch fit, weight-for-weight; scores
    // and the resampled kept set follow bit-for-bit
    val served = Ingest.readDsirModel(spark, s"$tmp/work", target,
      "text", nB).get
    val batchModel = ops.Sampling.dsirFit(all, target, "text", nB)
    assert(served.wMicro.toSeq == batchModel.wMicro.toSeq)
    assert(served.rawTotal == batchModel.rawTotal &&
      served.targetTotal == batchModel.targetTotal)
    def scores(m: ops.Sampling.DsirModel) =
      ops.Sampling.dsirScore(all, "doc_id", "text", m)
        .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(scores(served) == scores(batchModel))
  }

  test("source-count MV: served temperature rates keep the identical " +
    "id set to batch temperature over the full ingested corpus") {
    implicit val sc = spark.sqlContext
    import spark.implicits._
    // skewed sources incl. NULL, spread across batches so every merge
    // path runs (new source, existing source, NULL group)
    val batches: Seq[Seq[(Long, String)]] = Seq(
      (0L until 200L).map(i => i -> "web"),
      (200L until 260L).map(i => i -> "wiki") ++
        (260L until 270L).map(i => i -> (null: String)),
      (270L until 470L).map(i => i -> "web") ++
        (470L until 480L).map(i => i -> "books")
    )
    val all = batches.flatten.toDF("id", "src")
    val tmp = java.nio.file.Files.createTempDirectory("graft_srcmv")
    val mem = MemoryStream[(Long, String)]
    val q = Ingest.startView(Ingest.sourceCountView("src"),
      mem.toDF().toDF("id", "src"), s"$tmp/work", s"$tmp/cp")
    try batches.foreach { b => mem.addData(b: _*); q.processAllAvailable() }
    finally q.stop()
    // state == full-corpus histogram, exactly (additive long counts)
    val hist = io.VersionedState
      .readLatest(spark, s"$tmp/work/sourcecounts").get
      .collect().map(r => Option(r.getString(0)) -> r.getLong(1)).toMap
    assert(hist == Map(Some("web") -> 400L, Some("wiki") -> 60L,
      None -> 10L, Some("books") -> 10L))
    // serving the MV rates through applyTemperatureRates ≡ the batch
    // operator over the concatenated corpus — identical kept ids
    val rates = Ingest.readTemperatureRates(spark, s"$tmp/work",
      "src", alpha = 0.5, budgetFrac = 0.5).get
    def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.select("id").as[Long].collect().toSet
    val streamed = ids(ops.Sampling.applyTemperatureRates(
      all, rates, "src", "id", "mvtemp"))
    val batch = ids(ops.Sampling.temperature(
      all, "src", "id", 0.5, 0.5, "mvtemp"))
    assert(streamed == batch && streamed.nonEmpty)
  }

  test("every mergeable view: recommitting batch 2 over a stale staging " +
    "dir serves the same state and leaves exactly v=1 and v=2") {
    implicit val sc = spark.sqlContext
    import spark.implicits._
    val events = Seq(
      (0L, 1L, ts("2024-02-05 08:10:00"), 5.0),
      (1L, 1L, ts("2024-02-05 08:40:00"), 2.5),
      (2L, 2L, ts("2024-02-05 09:00:00"), 3.0),
      (3L, 1L, ts("2024-02-12 08:15:00"), 11.0),
      (4L, 2L, ts("2024-02-06 09:30:00"), 4.0),
      (5L, 2L, ts("2024-02-06 10:30:00"), 20.0),
      (6L, 1L, ts("2024-02-07 11:00:00"), 7.25),
      (7L, 2L, ts("2024-02-07 11:05:00"), 0.07),
      (8L, 1L, ts("2024-02-08 12:00:00"), 9.5))
      .toDF("id", "user_id", "ts", "value")
    val docs = Seq(
      (0L, "alpha beta gamma alpha", "web"),
      (1L, "beta beta delta", "wiki"),
      (2L, "gamma gamma alpha epsilon", "web"),
      (3L, "alpha beta gamma alpha", null),
      (4L, "delta alpha beta beta zeta", "books"),
      (5L, "one two three four five", "web"))
      .toDF("id", "text", "src")
    val vecs = (0 until 12).map(i => (i.toLong,
        (0 until 8).map(k => (((i * (k + 3)) % 17) - 8 + 0.01 * k).toFloat)))
      .toDF("id", "embedding")
    val checks = Seq(ops.Checks.notNull("value"),
      ops.Checks.inRange("value", 0.0, 10.0))
    val views = Seq(
      Ingest.patternView("user_id", "ts", "value") -> events,
      Ingest.gramView("embedding") -> vecs,
      Ingest.hourlyView("user_id", "ts", "value") -> events,
      Ingest.unigramView("text") -> docs,
      Ingest.shingleFreqView("id", "text", 3) -> docs,
      Ingest.bigramView("text") -> docs,
      Ingest.profileView -> docs,
      Ingest.sourceCountView("src") -> docs,
      Ingest.dsirRawCountView("text", 16) -> docs,
      Ingest.quantileView("value") -> events,
      Ingest.dataChecksView(checks) -> events)
    // the on-disk state dir names are the deployed layout
    assert(views.map(_._1.name).toSet == Set("pattern", "gram", "hourly",
      "unigram", "shinglefreq", "bigram", "profile", "sourcecounts",
      "dsirraw", "valuehist", "datachecks"))
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toSeq.map {
        case a: Array[Byte] => a.toSeq
        case x => x
      }.mkString("|")).toSeq.sorted
    views.foreach { case (view, input) =>
      def batch(b: Long) = input.filter(pmod(col("id"), lit(3)) === b)
      def commitAll(work: String): Unit =
        (0L to 2L).foreach(b => view.commit(batch(b), work, b))
      val plain = java.nio.file.Files.createTempDirectory("mvplain").toString
      commitAll(plain)
      val work = java.nio.file.Files.createTempDirectory("mvreplay").toString
      commitAll(work)
      // a crash mid-commit of batch 2 leaves its staging dir behind
      spark.range(3).write.parquet(s"$work/${view.name}/_staging_2")
      view.commit(batch(2L), work, 2L)
      assert(rows(view.latest(spark, work).get) ==
        rows(view.latest(spark, plain).get), view.name)
      val versions = new java.io.File(s"$work/${view.name}").list()
        .filter(_.startsWith("v=")).toSet
      assert(versions == Set("v=1", "v=2"), view.name)
    }
  }

  test("bigram MV: streamed state scores bit-identically to the batch operator") {
    implicit val sc = spark.sqlContext
    import spark.implicits._
    val batches: Seq[Seq[(Long, String)]] = Seq(
      Seq(1L -> "alpha beta gamma alpha", 2L -> "beta beta delta"),
      Seq(3L -> "gamma gamma alpha epsilon"))
    val all = batches.flatten.toDF("doc_id", "text")
    val tmp = java.nio.file.Files.createTempDirectory("graft_bigram")
    val mem = MemoryStream[(Long, String)]
    val view = Ingest.bigramView("text")
    val q = Ingest.startView(view, mem.toDF().toDF("doc_id", "text"),
      s"$tmp/work", s"$tmp/cp")
    try batches.foreach { b => mem.addData(b: _*); q.processAllAvailable() }
    finally q.stop()
    val counts = view.latest(spark, s"$tmp/work").get
    val expectCounts = ops.TextStats.bigramPartials(all, "text")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts.collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap == expectCounts)
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("doc_id", "n_bigrams", "avg_bigram_prob").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(rows(ops.TextStats.bigramScoreAgainst(all, "doc_id", "text",
      counts)) == rows(ops.TextStats.bigramScore(all, "doc_id", "text")))
    // unseen word ORDER scores 0 even when both words are in-model
    val nd = Seq(9L -> "beta alpha").toDF("doc_id", "text")
    val scored = ops.TextStats.bigramScoreAgainst(nd, "doc_id", "text",
      counts).collect().head
    assert(scored.getLong(1) == 1L && scored.getDouble(2) == 0.0)
  }

  test("embedding near-dup sink exact-verifies band collisions before dropping") {
    implicit val sc = spark.sqlContext
    import spark.implicits._
    // 1: base; 2: orthogonal-ish to 1; batch B: 3 = exact twin of 1
    // (drop), 4 = same-orthant low-cosine neighbor of 1 (band-collides
    // by construction — verified below — but cosine ≈ 0.962 < 0.99, so
    // exact verify must ADMIT it); batch C: 5 = near twin of 4 (drop),
    // 6 within-batch twin of 5's... 6 = twin of 2 (drop via index)
    val v1 = Seq(1.0, 1.0, 1.0)
    val v2 = Seq(-1.0, 1.0, 0.1)
    val v4 = Seq(1.0, 1.0, 0.5)
    val batches: Seq[Seq[(Long, Seq[Double])]] = Seq(
      Seq(1L -> v1, 2L -> v2),
      Seq(3L -> v1, 4L -> v4),
      Seq(5L -> v4.map(_ + 0.001), 6L -> v2)
    )
    val all = batches.flatten.toDF("vec_id", "embedding")
    // fixture self-check: (1,4) must share at least one band key, or
    // this test would pass without exercising the exact-verify branch
    val keys = ops.Embeddings.signBandKeys(
      all.filter($"vec_id".isin(1L, 4L)), "vec_id", "embedding",
      dim = 3, planesPerBand = 8, bands = 4)
    val shared = keys.groupBy("band", "key")
      .count().filter($"count" === 2).count()
    assert(shared > 0, "fixture: (1,4) never band-collide — pick a closer pair")
    val tmp = java.nio.file.Files.createTempDirectory("graft_emb_nd")
    val out = s"$tmp/out"; val idx = s"$tmp/idx"; val cp = s"$tmp/cp"
    val mem = MemoryStream[(Long, Seq[Double])]
    val q = Ingest.startEmbeddingNearDupFilterSink(
      mem.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding",
      out, idx, cp, dim = 3, minCos = 0.99)
    try batches.foreach { b => mem.addData(b: _*); q.processAllAvailable() }
    finally q.stop()
    val kept = spark.read.parquet(out)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 2L, 4L), s"kept $kept")
    // replay-idempotent layout; index rows carry qv for verification
    val dirs = new java.io.File(idx).listFiles()
      .filter(_.isDirectory).map(_.getName).toSet
    assert(dirs == Set("b=0", "b=1", "b=2"), s"index layout: $dirs")
    val idxCols = spark.read.parquet(idx).columns.toSet
    assert(Set("vec_id", "qv", "band", "key").subsetOf(idxCols), s"$idxCols")
  }

  test("PII scrub sink redacts admitted text, quarantines originals with counts") {
    implicit val sc = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("graft_pii")
    val out = s"$tmp/out"; val qr = s"$tmp/quarantine"; val cp = s"$tmp/cp"
    val mem = MemoryStream[(Long, String)]
    val q = Ingest.startPiiScrubSink(mem.toDF().toDF("doc_id", "text"),
      "text", out, qr, cp)
    try {
      mem.addData(
        (1L, "clean document with no identifiers"),
        (2L, "mail me at who@example.org thanks"))
      q.processAllAvailable()
      mem.addData(
        (3L, "call 555-123-4567 or ping 10.0.0.7"),
        (4L, "another clean one"))
      q.processAllAvailable()
      // out: EVERY doc admitted, identifiers replaced in place
      val admitted = spark.read.parquet(out)
        .select("doc_id", "text").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(admitted.keySet == Set(1L, 2L, 3L, 4L))
      assert(admitted(2L) == "mail me at [EMAIL] thanks")
      assert(admitted(3L) == "call [PHONE] or ping [IP]")
      assert(admitted(1L) == "clean document with no identifiers")
      // quarantine: only carriers, ORIGINAL text + per-pattern counts
      val quarantined = spark.read.parquet(qr)
        .select("doc_id", "text", "n_emails", "n_phones", "n_ipv4")
        .collect().map(r => r.getLong(0) ->
          ((r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
      assert(quarantined.keySet == Set(2L, 3L))
      assert(quarantined(2L) == (("mail me at who@example.org thanks", 1L, 0L, 0L)))
      assert(quarantined(3L) == (("call 555-123-4567 or ping 10.0.0.7", 0L, 1L, 1L)))
      // replay-idempotent layout on both roots
      Seq(out, qr).foreach { root =>
        val dirs = new java.io.File(root).listFiles()
          .filter(_.isDirectory).map(_.getName).toSet
        assert(dirs == Set("b=0", "b=1"), s"$root layout: $dirs")
      }
    } finally q.stop()
  }

  test("contamination guard quarantines leaked benchmark text, admits clean and unassessable docs") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("graft_contam")
    val out = s"$tmp/out"; val qr = s"$tmp/quarantine"; val cp = s"$tmp/cp"
    val eval_ = Seq(
      (100L, "alpha beta gamma delta epsilon zeta"),
      (101L, "one two three four five six seven")).toDF("doc_id", "text")
    val mem = MemoryStream[(Long, String)]
    val q = Ingest.startContaminationFilterSink(
      mem.toDF().toDF("doc_id", "text"), "doc_id", "text", eval_,
      out, qr, cp, n = 3, maxRatio = 0.5)
    try {
      mem.addData(
        (1L, "alpha beta gamma delta epsilon zeta"), // verbatim leak → refuse
        (2L, "totally unrelated clean document text here"), // clean → admit
        (3L, "so short")) // < n tokens: unassessable → admit
      q.processAllAvailable()
      // second batch exercises the append path
      mem.addData(
        (4L, "one two three four five six seven"), // leak → refuse
        (5L, "another clean and novel piece of writing"))
      q.processAllAvailable()
      val kept = spark.read.parquet(out)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(kept == Set(2L, 3L, 5L), s"kept $kept")
      val quarantined = spark.read.parquet(qr)
        .select("doc_id", "contamination_ratio").collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(quarantined.keySet == Set(1L, 4L))
      assert(quarantined.values.forall(_ == 1.0)) // verbatim leaks
      // parity: the batch operator refuses exactly the same ids
      val all = Seq(
        (1L, "alpha beta gamma delta epsilon zeta"),
        (2L, "totally unrelated clean document text here"),
        (3L, "so short"),
        (4L, "one two three four five six seven"),
        (5L, "another clean and novel piece of writing"))
        .toDF("doc_id", "text")
      val batchRefused = graft.ops.TextDedup
        .contamination(eval_, all, "doc_id", "text", 3)
        .filter(col("contamination_ratio") >= 0.5)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(batchRefused == quarantined.keySet)
      // replay-safe layout: each micro-batch owns a b=<batchId> dir it
      // would overwrite (not append) on a crash replay
      val outDirs = new java.io.File(out).listFiles()
        .filter(_.isDirectory).map(_.getName).toSet
      assert(outDirs == Set("b=0", "b=1"), s"got $outDirs")
      // and the b partition column carries ingest-batch provenance
      val perBatch = spark.read.parquet(out)
        .groupBy(col("b").cast("long").as("b")).count().collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(perBatch == Map(0L -> 2L, 1L -> 1L), s"got $perBatch")
    } finally q.stop()
  }

  test("contamination guard grades duplicate ids as one logical doc, atomically") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("graft_contam_dup")
    val out = s"$tmp/out"; val qr = s"$tmp/quarantine"; val cp = s"$tmp/cp"
    val eval_ = Seq((100L, "alpha beta gamma delta epsilon zeta"))
      .toDF("doc_id", "text")
    val mem = MemoryStream[(Long, String)]
    val q = Ingest.startContaminationFilterSink(
      mem.toDF().toDF("doc_id", "text"), "doc_id", "text", eval_,
      out, qr, cp, n = 3, maxRatio = 0.5)
    try {
      // id 7 appears twice: one leaked row + one clean row of the same
      // shingle count → union ratio 0.5 >= maxRatio → BOTH rows refused
      mem.addData(
        (7L, "alpha beta gamma delta epsilon zeta"),
        (7L, "clean novel words nothing shared here"),
        (8L, "entirely unrelated admissible document text"))
      q.processAllAvailable()
      val kept = spark.read.parquet(out)
        .select("doc_id").collect().map(_.getLong(0))
      assert(kept.toSeq == Seq(8L), s"kept ${kept.toSeq}")
      val quarantined = spark.read.parquet(qr)
        .select("doc_id").collect().map(_.getLong(0))
      assert(quarantined.length == 2 && quarantined.toSet == Set(7L),
        s"quarantined ${quarantined.toSeq}")
    } finally q.stop()
  }

  test("streaming exact dedup on a static frame equals batch exactDedup survivors") {
    import spark.implicits._
    val docs = Seq(
      (1L, "same text", ts("2024-02-01 10:00:00")),
      (2L, "same text", ts("2024-02-01 10:00:01")),
      (3L, "other", ts("2024-02-01 10:00:02")))
      .toDF("doc_id", "text", "ts")
    val streamedStyle = Ingest.streamingExactDedup(docs, "doc_id", "text",
      "ts", "10 minutes").select("doc_id").collect().map(_.getLong(0)).toSet
    val batch = graft.ops.TextDedup.exactDedup(docs, "doc_id", "text")
      .select("keep_id").collect().map(_.getLong(0)).toSet
    assert(streamedStyle == batch)
  }

  test("windowed flux with watermark aggregates per camera") {
    val obs = Ingest.batchObservations(fixture.toDS()).toDF()
    val out = Ingest.windowedFlux(obs, "1 minute", "10 minutes")
      .orderBy("camera_id").collect()
    assert(out.length == 2)
    assert(out(0).getAs[Long]("flux") == 3L) // cam1: 2 + 1 new
    assert(out(1).getAs[Long]("flux") == 1L)
  }

  test("running totals accumulate flux not density") {
    val obs = Ingest.batchObservations(fixture.toDS()).toDF()
    val out = Ingest.runningTotals(obs).orderBy("camera_id").collect()
    assert(out(0).getAs[Long]("accumulated_count") == 3L)
    assert(out(0).getAs[Long]("accumulated_cars") == 2L)
    assert(out(0).getAs[Long]("accumulated_motors") == 1L)
  }

  test("history sink writes date-partitioned observations") {
    implicit val sc = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("hist").toString
    val mem = MemoryStream[Detection]
    val q = Ingest.startHistorySink(mem.toDS(), s"$dir/data", s"$dir/ckpt")
    try {
      mem.addData(fixture: _*)
      q.processAllAvailable()
      val back = spark.read.parquet(s"$dir/data")
      assert(back.count() == 3)
      assert(back.columns.contains("year")) // partition columns surfaced
      val pruned = back.filter(col("year") === 2024 && col("month") === 2 &&
        col("day") === 1)
      assert(pruned.count() == 3)
    } finally q.stop()
  }

  /** The one JSON line a Snapshot.write directory holds. */
  private def snapJson(dir: String): String = {
    def files(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(files)
      else if (f.getName.startsWith("part-") && f.getName.endsWith(".json"))
        Seq(f) else Nil
    val parts = files(new java.io.File(dir))
    assert(parts.length == 1, s"expected one json part in $dir")
    scala.io.Source.fromFile(parts.head).getLines().mkString("\n")
  }

  private def deleteRec(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRec))
    f.delete(); ()
  }

  test("snapshot sink: incremental doc equals the full-history batch build, never reads the lake, prunes the recent store") {
    implicit val sc = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("snapsink").toString
    val mem = MemoryStream[Detection]
    val windows = Seq("1h" -> 3600L, "24h" -> 86400L)
    val q = Ingest.startSnapshotSink(mem.toDS(), s"$dir/hist",
      s"$dir/snap", s"$dir/ckpt", windows)
    try {
      val batch3 = Seq(
        det("cam1", "2024-02-03 09:00:00", "car", (0L, 0L, 9L, 9L)),
        det("cam3", "2024-02-03 09:00:01", "motorcycle", (30L, 30L, 40L, 40L)))
      val batches = Seq(
        fixture.filter(_.ts == ts("2024-02-01 10:00:00")),
        fixture.filter(_.ts == ts("2024-02-01 10:00:02")),
        batch3)
      var seen = Seq.empty[Detection]
      batches.zipWithIndex.foreach { case (b, i) =>
        // before the last batch, DESTROY the history lake: the doc must
        // still come out right, proving the sink never reads it back
        if (i == 2) deleteRec(new java.io.File(s"$dir/hist"))
        mem.addData(b: _*)
        q.processAllAvailable()
        seen = seen ++ b
        val expect = graft.io.Snapshot.build(
          Ingest.batchObservations(seen.toDS()).toDF(), windows)
        graft.io.Snapshot.write(expect, s"$dir/expect$i")
        assert(snapJson(s"$dir/snap") == snapJson(s"$dir/expect$i"),
          s"batch $i: incremental doc != batch build")
      }
      // retention: after the Feb-3 batch, the Feb-1 epoch-day
      // partitions are outside the 24h horizon and must be deleted
      val feb1 = ts("2024-02-01 00:00:00").getTime / 1000 / 86400
      val bdirs = Option(new java.io.File(s"$dir/ckpt_snapwork/recent")
        .listFiles()).toSeq.flatten.filter(_.isDirectory)
        .filter(_.getName.startsWith("b="))
      val days = bdirs
        .flatMap(b => Option(b.listFiles()).toSeq.flatten)
        .map(_.getName).filter(_.startsWith("d=")).map(_.drop(2).toLong)
      assert(days.nonEmpty && days.forall(_ > feb1),
        s"recent store not pruned: $days")
      // and the emptied b= batch dirs are gone too (the directory
      // count is bounded by the horizon, not the stream's lifetime):
      // 3 batches ran, only the Feb-3 one still holds a day partition
      assert(bdirs.length == 1,
        s"emptied batch dirs not deleted: ${bdirs.map(_.getName)}")
    } finally q.stop()
  }

  test("retention is timezone-safe: west-of-UTC session prunes nothing inside the horizon") {
    implicit val sc = spark.sqlContext
    // the partition key and the cutoff must share a clock (epoch days).
    // Regression scenario for a calendar-day key: under an LA session
    // TZ, a row at Feb-2 06:00 UTC falls in LOCAL day Feb-1, whose
    // epoch-day prune fires once now-horizon passes Feb-2 00:00 UTC —
    // deleting a row still inside the 24h window.
    val prevTz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    val dir = java.nio.file.Files.createTempDirectory("snaptz").toString
    val mem = MemoryStream[Detection]
    val windows = Seq("24h" -> 86400L)
    val q = Ingest.startSnapshotSink(mem.toDS(), s"$dir/hist",
      s"$dir/snap", s"$dir/ckpt", windows)
    try {
      val b1 = Seq(det("cam1", "2024-02-02 06:00:00", "car",
        (0L, 0L, 10L, 10L)))
      val b2 = Seq(det("cam2", "2024-02-03 04:00:00", "car",
        (5L, 5L, 15L, 15L))) // now-horizon = Feb-2 04:00 < cam1's row
      mem.addData(b1: _*); q.processAllAvailable()
      mem.addData(b2: _*); q.processAllAvailable()
      // cam1's row is 22h old — inside the 24h horizon; it must still
      // be in the recent store and counted by the incremental doc
      val recent = spark.read.parquet(s"$dir/ckpt_snapwork/recent")
      assert(recent.filter(col("camera_id") === "cam1").count() == 1,
        "in-horizon row was pruned by retention")
      val expect = graft.io.Snapshot.build(
        Ingest.batchObservations((b1 ++ b2).toDS()).toDF(), windows)
      graft.io.Snapshot.write(expect, s"$dir/expect")
      assert(snapJson(s"$dir/snap") == snapJson(s"$dir/expect"),
        "incremental doc != batch build under a west-of-UTC session TZ")
      val w = spark.read.json(s"$dir/snap")
        .select(col("window_stats.24h.total_volume")).collect().head
      assert(w.getLong(0) == 2L, s"window undercounted: $w")
    } finally {
      q.stop()
      spark.conf.set("spark.sql.session.timeZone", prevTz)
    }
  }

  test("snapshot sink survives a restart: state resumes from the checkpoint, totals stay exact") {
    implicit val sc = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("snaprestart").toString
    val mem = MemoryStream[Detection]
    val windows = Seq("24h" -> 86400L)
    def start() = Ingest.startSnapshotSink(mem.toDS(), s"$dir/hist",
      s"$dir/snap", s"$dir/ckpt", windows)
    val q1 = start()
    mem.addData(fixture.filter(_.ts == ts("2024-02-01 10:00:00")): _*)
    q1.processAllAvailable()
    mem.addData(fixture.filter(_.ts == ts("2024-02-01 10:00:02")): _*)
    q1.processAllAvailable()
    q1.stop()
    // restart from the same checkpoint; a third batch arrives after
    val q2 = start()
    try {
      val b3 = Seq(
        det("cam1", "2024-02-01 11:00:00", "car", (70L, 70L, 80L, 80L)))
      mem.addData(b3: _*)
      q2.processAllAvailable()
      val expect = graft.io.Snapshot.build(
        Ingest.batchObservations((fixture ++ b3).toDS()).toDF(), windows)
      graft.io.Snapshot.write(expect, s"$dir/expect")
      assert(snapJson(s"$dir/snap") == snapJson(s"$dir/expect"),
        "post-restart doc must equal the full-history batch build")
    } finally q2.stop()
  }

  test("snapshot sink mirror short-circuit: mirrored camera serves its source's stats") {
    implicit val sc = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("snapmirror").toString
    val mem = MemoryStream[Detection]
    val windows = Seq("24h" -> 86400L)
    // cam9 mirrors cam1 and has NO observations of its own (the
    // reference skips processing entirely in mirror mode)
    val mirrors = Seq(("cam9", "cam1"), ("cam1", null), ("cam2", null))
      .toDF("camera_id", "mirror_id")
    val q = Ingest.startSnapshotSink(mem.toDS(), s"$dir/hist",
      s"$dir/snap", s"$dir/ckpt", windows, mirrors = Some(mirrors))
    try {
      mem.addData(fixture: _*)
      q.processAllAvailable()
      val back = graft.io.Snapshot.readSources(spark, s"$dir/snap")
        .collect().map(r => r.getString(0) -> r.toSeq.tail).toMap
      assert(back.keySet == Set("cam1", "cam2", "cam9"))
      assert(back("cam9") == back("cam1"), "mirror must equal its source")
      assert(back("cam2") != back("cam1"))
      // and the doc equals the batch build with the same mirrors
      val expect = graft.io.Snapshot.build(
        Ingest.batchObservations(fixture.toDS()).toDF(), windows,
        Some(mirrors))
      graft.io.Snapshot.write(expect, s"$dir/expect")
      assert(snapJson(s"$dir/snap") == snapJson(s"$dir/expect"))
    } finally q.stop()
  }

  test("pattern sink: materialized A4 view equals hourlyPattern over full history at every batch") {
    implicit val sc = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("patsink").toString
    val mem = MemoryStream[(Long, Timestamp, Double)]
    val events = mem.toDS().toDF("user_id", "ts", "value")
    val q = Ingest.startPatternSink(events, "user_id", "ts", "value",
      s"$dir/work", s"$dir/ckpt")
    try {
      // batch 2 continues the SAME (user, day, hour) slot batch 1
      // started — the cross-batch partial merge must add, not replace
      val batches = Seq(
        Seq((1L, ts("2024-02-05 08:10:00"), 5.0),
          (1L, ts("2024-02-05 08:20:00"), 7.25),
          (2L, ts("2024-02-05 09:00:00"), 3.0)),
        Seq((1L, ts("2024-02-05 08:40:00"), 2.5), // same slot as batch 1
          (1L, ts("2024-02-12 08:15:00"), 11.0)), // same dow, next week
        Seq((2L, ts("2024-02-06 09:30:00"), 4.0)))
      var seen = Seq.empty[(Long, Timestamp, Double)]
      batches.foreach { b =>
        mem.addData(b: _*)
        q.processAllAvailable()
        seen = seen ++ b
        val expect = ops.Predict.hourlyPattern(
            seen.toDF("user_id", "ts", "value"), "user_id", "ts", "value")
          .orderBy("user_id", "dow", "hr").collect().map(_.toSeq).toSeq
        val got = Ingest.readPattern(spark, s"$dir/work", "user_id").get
          .orderBy("user_id", "dow", "hr").collect().map(_.toSeq).toSeq
        assert(got == expect, s"after ${seen.length} events")
      }
      // the Monday-8am slot for user 1 now averages two dates:
      // (5 + 7.25 + 2.5) = 14.75 and 11.0 → 12.875
      val slot = Ingest.readPattern(spark, s"$dir/work", "user_id").get
        .filter(col("user_id") === 1L && col("hr") === 8)
        .collect().head.getAs[Double]("predicted_volume")
      assert(slot == 12.875)
    } finally q.stop()
  }

  test("streaming model MV: the closed-form slot regression refit " +
    "from the pattern state equals the batch fit BIT-FOR-BIT at " +
    "every batch, including a slot cell split across batches") {
    implicit val sc = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("mlsink").toString
    val mem = MemoryStream[(Long, Timestamp, Double)]
    val events = mem.toDS().toDF("user_id", "ts", "value")
    val q = Ingest.startPatternSink(events, "user_id", "ts", "value",
      s"$dir/work", s"$dir/ckpt")
    try {
      // ≥3 distinct slots per user so the fit is full-rank; batch 2
      // ADDS to the (1, Mon, 8, 02-05) cell batch 1 opened — the
      // daily-partial long addition is what makes the streamed model
      // exact, so that cell must flow through the merge
      val batches = Seq(
        Seq((1L, ts("2024-02-05 08:10:00"), 5.0),
          (1L, ts("2024-02-05 09:20:00"), 7.25),
          (1L, ts("2024-02-06 10:00:00"), 3.0),
          (2L, ts("2024-02-05 08:00:00"), 2.0)),
        Seq((1L, ts("2024-02-05 08:40:00"), 2.5), // same cell as batch 1
          (2L, ts("2024-02-06 11:15:00"), 11.0),
          (2L, ts("2024-02-07 14:15:00"), 1.0)))
      var seen = Seq.empty[(Long, Timestamp, Double)]
      batches.foreach { b =>
        mem.addData(b: _*)
        q.processAllAvailable()
        seen = seen ++ b
        val expect = graft.ml.SlotRegression.predictU6(
            seen.toDF("user_id", "ts", "value"), "user_id", "ts", "value")
          .collect().map(_.toSeq).toSeq
        val got = Ingest.readSlotModel(spark, s"$dir/work", "user_id").get
          .collect().map(_.toSeq).toSeq
        assert(got == expect, s"after ${seen.length} events")
      }
    } finally q.stop()
  }

  test("hourly sink: thresholds refit from materialized partials equal the batch fit at every batch") {
    implicit val sc = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("hoursink").toString
    val mem = MemoryStream[(Long, Timestamp, Double)]
    val events = mem.toDS().toDF("user_id", "ts", "value")
    val q = Ingest.startView(Ingest.hourlyView("user_id", "ts", "value"),
      events, s"$dir/work", s"$dir/ckpt")
    try {
      // batch 2 adds more volume to an hour batch 1 already opened
      val batches = Seq(
        Seq((1L, ts("2024-02-05 08:10:00"), 5.0),
          (1L, ts("2024-02-05 09:20:00"), 9.0),
          (2L, ts("2024-02-05 08:05:00"), 3.5)),
        Seq((1L, ts("2024-02-05 08:45:00"), 2.0), // same hour as batch 1
          (1L, ts("2024-02-05 10:00:00"), 6.0)),
        Seq((2L, ts("2024-02-05 11:00:00"), 8.25)))
      var seen = Seq.empty[(Long, Timestamp, Double)]
      batches.foreach { b =>
        mem.addData(b: _*)
        q.processAllAvailable()
        seen = seen ++ b
        val expect = ops.Percentiles.thresholds(
            seen.toDF("user_id", "ts", "value"), "user_id", "ts", "value")
          .collect().map(_.toSeq).toSeq
        val got = Ingest.readThresholds(spark, s"$dir/work", "user_id").get
          .collect().map(_.toSeq).toSeq
        assert(got == expect, s"after ${seen.length} events")
      }
    } finally q.stop()
  }

  test("streaming windowed flux emits closed windows in append mode") {
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[Detection]
    val obs = Ingest.dedupObservations(mem.toDS()).toDF()
    val q = Ingest.windowedFlux(obs, "1 minute", "0 seconds")
      .writeStream.format("memory").queryName("wflux")
      .outputMode("append").start()
    try {
      mem.addData(det("cam1", "2024-02-01 10:00:00", "car", (0L, 0L, 10L, 10L)))
      q.processAllAvailable()
      // advance event time far past the first window + watermark
      mem.addData(det("cam1", "2024-02-01 10:30:00", "car", (50L, 50L, 60L, 60L)))
      q.processAllAvailable()
      mem.addData(det("cam1", "2024-02-01 11:00:00", "car", (80L, 80L, 90L, 90L)))
      q.processAllAvailable()
      val out = spark.table("wflux").collect()
      assert(out.length >= 1) // the 10:00 window closed and was emitted
      assert(out.forall(_.getAs[Long]("flux") == 1L))
    } finally q.stop()
  }

  test("running totals stream incrementally in update mode") {
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[Detection]
    val q = Ingest.runningTotals(Ingest.dedupObservations(mem.toDS()).toDF())
      .writeStream.format("memory").queryName("rtot")
      .outputMode("update").start()
    try {
      mem.addData(fixture.filter(_.ts == ts("2024-02-01 10:00:00")): _*)
      q.processAllAvailable()
      val afterB1 = spark.table("rtot")
        .groupBy("camera_id").agg(max("accumulated_count").as("acc"))
        .collect().map(r => r.getString(0) -> r.getAs[Long]("acc")).toMap
      assert(afterB1("cam1") == 2L)
      mem.addData(fixture.filter(_.ts == ts("2024-02-01 10:00:02")): _*)
      q.processAllAvailable()
      // update mode re-emits cam1 with the accumulated value grown by
      // the second tick's flux (1 new, the static car excluded)
      val afterB2 = spark.table("rtot")
        .groupBy("camera_id").agg(max("accumulated_count").as("acc"))
        .collect().map(r => r.getString(0) -> r.getAs[Long]("acc")).toMap
      assert(afterB2("cam1") == 3L)
      assert(afterB2("cam2") == 1L)
    } finally q.stop()
  }

  test("streaming session_window flux equals batch sessionize") {
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, Double)]
    val events = mem.toDS().toDF("user_id", "ts", "value")
    val q = Ingest.sessionFlux(events, "user_id", "ts", "value",
        gap = "30 minutes", watermark = "10 minutes")
      .writeStream.format("memory").queryName("sessions")
      .outputMode("append").start()
    val data = Seq(
      (1L, ts("2024-02-01 10:00:00"), 5.0),
      (1L, ts("2024-02-01 10:10:00"), 7.0), // same session (gap 10m)
      (2L, ts("2024-02-01 10:05:00"), 1.0),
      (1L, ts("2024-02-01 11:00:00"), 2.0)) // new session (gap 50m > 30m)
    try {
      mem.addData(data.take(2): _*)
      q.processAllAvailable()
      mem.addData(data.drop(2): _*)
      q.processAllAvailable()
      // watermark pusher: a far-future event closes every earlier session
      mem.addData((99L, ts("2024-02-01 13:00:00"), 0.0))
      q.processAllAvailable()
      val streamed = spark.table("sessions")
        .filter(col("user_id") =!= 99L)
        .select("user_id", "n_events", "session_start", "session_end",
          "total_value")
        .collect().map(_.toSeq).toSet
      val batch = ops.Analytic.sessionize(
          data.toDF("user_id", "ts", "value"), "user_id", "ts", "value",
          gapSec = 1800L)
        .select(col("user_id"), col("n_events"), col("session_start"),
          col("session_end"), col("total_value"))
        .collect().map(_.toSeq).toSet
      assert(streamed == batch,
        s"streamed=$streamed\nbatch=$batch")
      assert(streamed.size == 3) // two sessions for user 1, one for user 2
    } finally q.stop()
  }

  test("session MV sink: merged summaries equal the one-shot batch" +
    " session_window aggregation across splits that bisect sessions," +
    " incl. out-of-order arrivals; replaying a commit is idempotent") {
    implicit val sc = spark.sqlContext
    import spark.implicits._
    // user 1's first session spans three commits (every inter-event
    // gap < 30 min) and batch 3 delivers an OUT-OF-ORDER event that
    // lands BETWEEN batch-1 events — the interval merge must stitch
    // all of it back into one session
    val batches: Seq[Seq[(Long, Timestamp, Double)]] = Seq(
      Seq((1L, ts("2024-02-01 10:00:00"), 5.0),
        (1L, ts("2024-02-01 10:20:00"), 7.0)),
      Seq((1L, ts("2024-02-01 10:45:00"), 2.0), // bisects session 1
        (1L, ts("2024-02-01 12:00:00"), 1.0)), // gap 75m: new session
      Seq((1L, ts("2024-02-01 10:10:00"), 3.0), // out-of-order, inside s1
        (2L, ts("2024-02-01 09:00:00"), 4.0)))
    val tmp = java.nio.file.Files.createTempDirectory("graft_sessmv")
    val mem = MemoryStream[(Long, Timestamp, Double)]
    val q = Ingest.startSessionSink(
      mem.toDF().toDF("user_id", "ts", "value"),
      "user_id", "ts", "value", 1800L, s"$tmp/work", s"$tmp/cp")
    try batches.foreach { b => mem.addData(b: _*); q.processAllAvailable() }
    finally q.stop()
    def servedSet() = Ingest
      .readSessions(spark, s"$tmp/work", "user_id", 1800L).get
      .collect().map(_.toSeq).toSet
    val served = servedSet()
    val batchForm = batches.flatten.toDF("user_id", "ts", "value")
      .groupBy(col("user_id"),
        session_window(date_trunc("second", col("ts")),
          "1800 seconds").as("sw"))
      .agg(count(lit(1)).as("n_events"),
        graft.util.Exact.dsum2(col("value")).as("session_volume"))
      .select(col("user_id"),
        unix_timestamp(col("sw.start")).as("session_start"),
        unix_timestamp(col("sw.end")).as("session_end"),
        col("n_events"), col("session_volume"))
      .collect().map(_.toSeq).toSet
    assert(served == batchForm, s"served=$served\nbatch=$batchForm")
    // the thrice-bisected session came back as ONE 4-event session
    assert(served.count(_.head == 1L) == 2)
    assert(served.exists(r => r.head == 1L && r(3) == 4L))
    // crash-replay: re-committing a batch overwrites its own b= dir
    Ingest.commitSessionBatch(batches(1).toDF("user_id", "ts", "value"),
      s"$tmp/work", 1L, "user_id", "ts", "value", 1800L)
    assert(servedSet() == batchForm)
    // compaction MERGES while it folds: the base holds one row per
    // live merged session (3 here), and the serve is unchanged
    assert(Ingest.compactSessions(spark, s"$tmp/work", "user_id",
      1800L, upTo = 2L))
    assert(servedSet() == batchForm)
    val base = spark.read.parquet(s"$tmp/work/b=-4")
    assert(base.count() == 3L)
    // a post-compaction commit still merges against the folded base
    Ingest.commitSessionBatch(
      Seq((1L, ts("2024-02-01 11:10:00"), 9.0)) // extends folded s1
        .toDF("user_id", "ts", "value"),
      s"$tmp/work", 3L, "user_id", "ts", "value", 1800L)
    val after = Ingest
      .readSessions(spark, s"$tmp/work", "user_id", 1800L).get
      .collect().map(_.toSeq).toSet
    val batchForm2 = (batches.flatten :+
        (1L, ts("2024-02-01 11:10:00"), 9.0))
      .toDF("user_id", "ts", "value")
      .groupBy(col("user_id"),
        session_window(date_trunc("second", col("ts")),
          "1800 seconds").as("sw"))
      .agg(count(lit(1)).as("n_events"),
        graft.util.Exact.dsum2(col("value")).as("session_volume"))
      .select(col("user_id"),
        unix_timestamp(col("sw.start")).as("session_start"),
        unix_timestamp(col("sw.end")).as("session_end"),
        col("n_events"), col("session_volume"))
      .collect().map(_.toSeq).toSet
    assert(after == batchForm2)
  }

  test("session MV watermark eviction: in-horizon serve identical," +
    " at-rest state bounded by live in-horizon sessions") {
    import spark.implicits._
    val gap = 1800L
    val horizon = 4 * 3600L
    val t0 = 1706745600L // 2024-02-01 00:00:00 UTC
    // 30 commits, each one 2-event session per user 1, sessions 1 h
    // apart (every inter-session gap > gapSec) with event time
    // strictly advancing — the steady-stream shape whose summary log
    // grows forever without eviction
    def batchAt(i: Int) = Seq(
      (1L, new Timestamp((t0 + i * 3600L) * 1000L), 1.0),
      (1L, new Timestamp((t0 + i * 3600L + 60L) * 1000L), 2.0))
      .toDF("user_id", "ts", "value")
    def runAll(root: String, horizonSec: Long): Unit =
      (0 until 30).foreach { i =>
        Ingest.commitSessionBatch(batchAt(i), root, i.toLong,
          "user_id", "ts", "value", gap)
        if (i > 0 && i % 5 == 0)
          Ingest.compactSessions(spark, root, "user_id", gap,
            upTo = i - 1L, horizonSec = horizonSec)
      }
    val tmp = java.nio.file.Files.createTempDirectory("graft_sessev")
    runAll(s"$tmp/evict", horizon)
    runAll(s"$tmp/keep", 0L)
    def served(root: String) = Ingest
      .readSessions(spark, root, "user_id", gap).get
      .collect().map(_.toSeq).toSet
    val evictServe = served(s"$tmp/evict")
    val keepServe = served(s"$tmp/keep")
    // last compaction saw batches 0..24: watermark = t0 + 24h + 60s.
    // In-horizon sessions (smax + gap >= wm - horizon) are i >= 20;
    // commits 25..29 land after that compaction. Within the horizon
    // the evicting serve is IDENTICAL to keep-everything.
    val wmLast = t0 + 24 * 3600L + 60L
    val inHorizon = keepServe.filter { r =>
      // session_end = smax + gap (readSessions convention)
      r(2).asInstanceOf[Long] >= wmLast - horizon
    }
    assert(evictServe == inHorizon,
      s"evict=${evictServe.size} rows, expected=${inHorizon.size}")
    assert(keepServe.size == 30 && evictServe.size == 10)
    // at-rest bound: the evicting base holds only live in-horizon
    // sessions (i = 20..24 -> 5 rows); keep-everything folds all 25
    val evictBase = spark.read.parquet(s"$tmp/evict/b=-26")
    val keepBase = spark.read.parquet(s"$tmp/keep/b=-26")
    assert(evictBase.count() == 5L, s"evict base = ${evictBase.count()}")
    assert(keepBase.count() == 25L)
  }

  test("COCO class map: {1,3}→motorcycle, {2,5,7}→car, else null") {
    val d = Seq(1, 2, 3, 5, 7, 9).toDF("c")
    val out = d.select(Ingest.mapCocoClass(col("c"))).as[Option[String]]
      .collect()
    assert(out.sameElements(Array(Some("motorcycle"), Some("car"),
      Some("motorcycle"), Some("car"), Some("car"), None)))
  }

  test("in-sink compaction folds write-only b= roots without changing content") {
    implicit val sc = spark.sqlContext
    // PII sink over 6 batches: with compactEvery=2 both roots fold to
    // base + short tail, and admitted/quarantined content is identical
    // to the uncompacted run (the fold only rearranges committed dirs)
    def runPii(every: Int, tag: String)
        : (Map[Long, String], Set[Long], Set[String], Set[String]) = {
      val tmp = java.nio.file.Files
        .createTempDirectory(s"graft_piic$tag").toString
      val mem = MemoryStream[(Long, String)]
      val q = Ingest.startPiiScrubSink(mem.toDF().toDF("doc_id", "text"),
        "text", s"$tmp/out", s"$tmp/qr", s"$tmp/cp", compactEvery = every)
      try (0 until 6).foreach { b =>
        mem.addData(
          (b * 10L, s"doc $b mail b$b@example.com"),
          (b * 10L + 1, s"clean $b"))
        q.processAllAvailable()
      } finally q.stop()
      def dirsOf(root: String) = new java.io.File(root).listFiles()
        .filter(_.isDirectory).map(_.getName)
        .filter(_.startsWith("b=")).toSet
      val admitted = spark.read.parquet(s"$tmp/out")
        .select("doc_id", "text").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      val quarantined = spark.read.parquet(s"$tmp/qr")
        .select("doc_id").collect().map(_.getLong(0)).toSet
      (admitted, quarantined, dirsOf(s"$tmp/out"), dirsOf(s"$tmp/qr"))
    }
    val (aPlain, qPlain, doPlain, dqPlain) = runPii(0, "p")
    val (aComp, qComp, doComp, dqComp) = runPii(2, "c")
    assert(aComp == aPlain && qComp == qPlain,
      "compaction changed sink content")
    assert(doPlain.size == 6 && dqPlain.size == 6) // one dir per batch
    // every=2 over batches 0..5: folds at b=2 (0,1) and b=4 (<=3) ->
    // base b=-5 + tail b=4, b=5 on each root
    assert(doComp == Set("b=-5", "b=4", "b=5"), s"out layout: $doComp")
    assert(dqComp == Set("b=-5", "b=4", "b=5"), s"qr layout: $dqComp")

    // snapshot sink's history lake folds on compactHistoryEvery
    val dir = java.nio.file.Files.createTempDirectory("snapcomp").toString
    val mem = MemoryStream[Detection]
    val q = Ingest.startSnapshotSink(mem.toDS(), s"$dir/hist",
      s"$dir/snap", s"$dir/ckpt", Seq("1h" -> 3600L),
      compactHistoryEvery = 2)
    val batch3 = Seq(
      det("cam1", "2024-02-01 10:00:04", "car", (70L, 0L, 80L, 9L)))
    val batches = Seq(
      fixture.filter(_.ts == ts("2024-02-01 10:00:00")),
      fixture.filter(_.ts == ts("2024-02-01 10:00:02")),
      batch3)
    try batches.foreach { b => mem.addData(b: _*); q.processAllAvailable() }
    finally q.stop()
    val hDirs = new java.io.File(s"$dir/hist").listFiles()
      .filter(_.isDirectory).map(_.getName).toSet
    // fold fired at batch 2 with upTo=1 -> base watermark 1 (b=-3)
    assert(hDirs == Set("b=-3", "b=2"), s"history layout: $hDirs")
    // folded lake still holds every observation the batch path produces
    val lakeRows = spark.read.parquet(s"$dir/hist").count()
    val expect = Ingest.batchObservations(
      (fixture ++ batch3).toDS()).count()
    assert(lakeRows == expect, s"lake $lakeRows vs batch $expect")
  }

  test("streaming profile MV: serving equals the batch fold of the same " +
    "slices, exact stats match the exact summary") {
    implicit val sc = spark.sqlContext
    import graft.ops.Profiler
    val tmp = java.nio.file.Files.createTempDirectory("graft_prof").toString
    val mem = MemoryStream[(Long, String, Double)]
    val q = Ingest.startView(Ingest.profileView,
      mem.toDF().toDF("id", "cat", "v"), s"$tmp/work", s"$tmp/cp")
    val slices = Seq(
      (0 until 40).map(i => (i.toLong, if (i % 5 == 0) null else s"c${i % 7}",
        i * 1.5)),
      (40 until 70).map(i => (i.toLong, s"c${i % 7}", i * 1.5)),
      (70 until 100).map(i => (i.toLong, null: String, -0.0)))
    try slices.foreach { b => mem.addData(b: _*); q.processAllAvailable() }
    finally q.stop()
    val served = Ingest.readProfile(spark, s"$tmp/work").get
      .orderBy("col_name").collect().map(_.toSeq).toSeq
    // the MV folds state left-to-right in batch order; reproduce that
    // fold in batch and expect EXACT equality (same inputs, same
    // union structure — replay determinism is the contract)
    val dfs = slices.map(_.toDF("id", "cat", "v"))
    val folded = dfs.map(Profiler.profilePartials)
      .reduceLeft(Profiler.mergeProfilePartials)
    val expect = Profiler.profileFromPartials(folded)
      .orderBy("col_name").collect().map(_.toSeq).toSeq
    assert(served == expect, "served profile != batch fold of the slices")
    // and the exact stats agree with the exact summary of everything
    val all = dfs.reduce(_ unionByName _)
    val exact = Profiler.summary(all, exact = true)
      .orderBy("col_name").collect()
    served.zip(exact).foreach { case (m, e) =>
      assert(m(0) == e.getString(0))
      assert(m(1) == e.getLong(1) && m(2) == e.getLong(2),
        s"counts for ${e.getString(0)}")
      (4 to 7).foreach(i => assert(m(i) == e.get(i),
        s"slot $i for ${e.getString(0)}"))
      val md = m(3).asInstanceOf[Long].toDouble
      val ed = e.getLong(3).toDouble
      assert(math.abs(md - ed) <= math.max(ed * 0.15, 2.0),
        s"n_distinct ${e.getString(0)}: exact=$ed sketch=$md")
    }
  }

  test("streaming line dedup equals batch dedupLines over the " +
    "concatenated corpus; replay-idempotent layout on both roots") {
    implicit val sc = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("graft_ld").toString
    val out = s"$tmp/out"; val idx = s"$tmp/idx"; val cp = s"$tmp/cp"
    val mem = MemoryStream[(Long, String)]
    val q = Ingest.startLineDedupSink(mem.toDF().toDF("doc_id", "text"),
      "doc_id", "text", out, idx, cp)
    // increasing ids across batches -> streaming order == batch order
    val batches = Seq(
      Seq(1L -> "alpha\nshared line\nalpha", 2L -> "shared line\nbeta"),
      Seq(3L -> "shared line",                 4L -> "beta\ngamma"),
      Seq(5L -> "gamma\ndelta\nalpha",       6L -> "delta"))
    try batches.foreach { b => mem.addData(b: _*); q.processAllAvailable() }
    finally q.stop()
    val streamed = spark.read.parquet(out)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val all = batches.flatten.toDF("doc_id", "text")
    val batchForm = graft.ops.TextDedup.dedupLines(all, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(streamed == batchForm, s"streamed $streamed vs $batchForm")
    // sanity on the semantics: later repeats gone, emptied doc kept
    assert(streamed(3L) == "" && streamed(6L) == "")
    assert(streamed(5L) == "delta")
    // standard b= layout on both roots (the guarded index additionally
    // carries its underscore-hidden _bloom state dir); index holds one
    // hash per distinct admitted line
    Seq(out, idx).foreach { root =>
      val dirs = new java.io.File(root).listFiles()
        .filter(_.isDirectory).map(_.getName)
        .filterNot(_.startsWith("_")).toSet
      assert(dirs == Set("b=0", "b=1", "b=2"), s"$root layout: $dirs")
    }
    val nHashes = spark.read.parquet(idx).select("_h").distinct().count()
    val nLines = spark.read.parquet(idx).count()
    // 5 distinct lines: alpha, "shared line", beta, gamma, delta
    assert(nHashes == nLines && nHashes == 5L,
      s"index: $nLines rows, $nHashes distinct (want 5 distinct lines)")
  }

  test("line-dedup bloom guard: admitted corpus and index identical " +
    "with guard on/off; the guarded probe is partition-pruned") {
    implicit val sc = spark.sqlContext
    import org.apache.spark.sql.functions._
    val tmp = java.nio.file.Files.createTempDirectory("graft_ldg").toString
    // ~40 docs per batch: mostly new lines plus boilerplate repeated in
    // every batch and cross-batch repeats of earlier content
    val batches = (0 until 3).map { b =>
      (0 until 40).map { i =>
        val id = (b * 100 + i).toLong
        val lines = Seq(s"unique line $b $i a", s"unique line $b $i b",
          "boilerplate footer", s"shared ${i % 7}") ++
          (if (b > 0) Seq(s"unique line ${b - 1} $i a") else Nil)
        id -> lines.mkString("\n")
      }
    }
    def run(sub: String, guard: Boolean): (Map[Long, String], Set[Seq[Byte]]) = {
      val out = s"$tmp/$sub/out"; val idx = s"$tmp/$sub/idx"
      val mem = MemoryStream[(Long, String)]
      val q = Ingest.startLineDedupSink(mem.toDF().toDF("doc_id", "text"),
        "doc_id", "text", out, idx, s"$tmp/$sub/cp",
        bloomGuard = guard, expectedLines = 10000L, fpp = 0.01,
        prefixParts = 16)
      try batches.foreach { b => mem.addData(b: _*); q.processAllAvailable() }
      finally q.stop()
      val docs = spark.read.parquet(out).select("doc_id", "text").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      val hashes = spark.read.parquet(idx).select("_h").collect()
        .map(_.getAs[Array[Byte]](0).toSeq).toSet
      (docs, hashes)
    }
    val (gDocs, gHashes) = run("guarded", guard = true)
    val (uDocs, uHashes) = run("plain", guard = false)
    assert(gDocs == uDocs, "admitted corpus differs between modes")
    assert(gHashes == uHashes, "admitted hash set differs between modes")
    // ...and equals the batch operator over the concatenated corpus
    val all = batches.flatten.toDF("doc_id", "text")
    val batchForm = graft.ops.TextDedup.dedupLines(all, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(gDocs == batchForm)

    // partition pruning: fold the guarded index into its p= base
    // (stream stopped, upTo = last committed batch), then probe ONE
    // already-admitted line — the exact-verify must read only that
    // line's p= partition's files, not the whole base
    val idx = s"$tmp/guarded/idx"
    graft.io.Batches.compact(spark, idx, upTo = 2L,
      partitionBy = Seq("p"),
      deriveTail = df => df.withColumn("p",
        pmod(Ingest.h64FromMd5(col("_h")), lit(16)).cast("int")))
    val probeLine = "boilerplate footer"
    val fib = Seq((3L, 0)).toDF("doc_id", "pos")
      .withColumn("line", lit(probeLine))
      .withColumn("_h", unhex(md5(col("line").cast("binary"))))
      .withColumn("_h64", Ingest.h64FromMd5(col("_h")))
      .withColumn("p", pmod(col("_h64"), lit(16)).cast("int"))
    val bloom = Ingest.readLineBloom(spark, idx, below = 100L)
    assert(bloom.isDefined, "guarded index must carry bloom state")
    val admitted = Ingest.lineDedupAdmit(spark, idx, 100L, fib, bloom)
    // collect(), not count(): the files-read metric lives on THIS
    // queryExecution (count() builds its own plan, leaving it 0 and
    // the pruning assertion below vacuous)
    assert(admitted.collect().isEmpty,
      "already-admitted line must not re-admit")
    val probeP = fib.select("p").head.getInt(0)
    def parquetFiles(dir: java.io.File): Seq[java.io.File] =
      if (!dir.exists) Nil
      else dir.listFiles.toSeq.flatMap(f =>
        if (f.isDirectory) parquetFiles(f)
        else if (f.getName.endsWith(".parquet")) Seq(f) else Nil)
    val allFiles = parquetFiles(new java.io.File(idx))
      .filterNot(_.getPath.contains("_bloom"))
    val inProbePart = allFiles.count(_.getPath.contains(s"/p=$probeP/"))
    val read = graft.util.PlanMetrics.filesReadUnder(admitted.toDF(), idx)
    assert(read >= 1 && read <= inProbePart && read < allFiles.size,
      s"probe read $read files; partition p=$probeP holds $inProbePart " +
        s"of ${allFiles.size} total — expected a non-vacuous pruned read")
  }

  test("executor-side bloom build (catch-up batch past " +
    "bloomDriverMaxRows): admissions and bloom state identical to " +
    "the driver path, in BOTH dedup sinks") {
    implicit val sc = spark.sqlContext
    import org.apache.spark.sql.functions._
    val tmp = java.nio.file.Files.createTempDirectory("graft_xbloom").toString
    // batch 0 is CATCH-UP SCALE relative to the dial (3k docs ≫
    // maxRows=0 → every batch takes the distributed stat.bloomFilter
    // path); batch 1 then probes the committed bloom cross-batch
    val big = (0 until 3000).map(i =>
      i.toLong -> s"line a $i\nline b $i\nboilerplate footer")
    val follow = Seq(
      5001L -> "line a 17\nline b 2999\nfresh line one", // repeats dropped
      5002L -> "boilerplate footer\nfresh line two")
    def runLines(sub: String, maxRows: Long): Map[Long, String] = {
      val mem = MemoryStream[(Long, String)]
      val q = Ingest.startLineDedupSink(mem.toDF().toDF("doc_id", "text"),
        "doc_id", "text", s"$tmp/$sub/out", s"$tmp/$sub/idx",
        s"$tmp/$sub/cp", expectedLines = 100000L, fpp = 0.01,
        bloomDriverMaxRows = maxRows)
      try Seq(big, follow).foreach { b =>
        mem.addData(b: _*); q.processAllAvailable()
      } finally q.stop()
      spark.read.parquet(s"$tmp/$sub/out").select("doc_id", "text")
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    }
    val dist = runLines("dist", maxRows = 0L)
    val drv = runLines("drv", maxRows = Long.MaxValue)
    assert(dist == drv, "admissions diverge between bloom build sites")
    // the distributed-path bloom is FUNCTIONAL cross-batch: the
    // follow-up batch's repeats were dropped, novelties admitted
    assert(dist(5001L) == "fresh line one" &&
      dist(5002L) == "fresh line two", s"follow-up: ${dist(5001L)} / ${dist(5002L)}")
    // and the committed filter bytes answer membership
    val bloom = Ingest.readLineBloom(spark, s"$tmp/dist/idx", below = 100L)
    assert(bloom.isDefined)
    val h = Seq(Tuple1("boilerplate footer")).toDF("line")
      .select(Ingest.h64FromMd5(unhex(md5(col("line").cast("binary")))))
      .head.getLong(0)
    assert(bloom.get.mightContainLong(h), "admitted line absent from bloom")

    // near-dup sink through the same dial: admissions identical to the
    // existing driver-path contract
    def runNearDup(sub: String, maxRows: Long): Set[Long] = {
      val mem = MemoryStream[(Long, String)]
      val q = Ingest.startNearDupFilterSink(mem.toDF().toDF("doc_id", "text"),
        "doc_id", "text", s"$tmp/$sub/out", s"$tmp/$sub/idx",
        s"$tmp/$sub/cp", expectedKeys = 100000L, fpp = 0.01,
        bloomDriverMaxRows = maxRows)
      val b0 = Seq(
        1L -> "the quick brown fox jumps over the lazy dog today",
        2L -> "completely different words describing another topic entirely here")
      val b1 = Seq(
        3L -> "the quick brown fox jumps over the lazy dog today",
        4L -> "some brand new content that matches only its own twin text",
        5L -> "some brand new content that matches only its own twin text",
        6L -> "yet another unrelated document with fresh vocabulary inside")
      try Seq(b0, b1).foreach { b =>
        mem.addData(b: _*); q.processAllAvailable()
      } finally q.stop()
      spark.read.parquet(s"$tmp/$sub/out").select("doc_id")
        .collect().map(_.getLong(0)).toSet
    }
    assert(runNearDup("nd_dist", 0L) == Set(1L, 2L, 4L, 6L))
    assert(runNearDup("nd_drv", Long.MaxValue) == Set(1L, 2L, 4L, 6L))
  }

  test("search-index append sink: live index == full rebuild; batch" +
    " partitions replay-safe") {
    implicit val sc = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("graft_sidx")
    val idx = s"$tmp/idx"; val cp = s"$tmp/cp"
    import spark.implicits._
    val base = Seq(
      (1L, "spark shuffle join plan"),
      (2L, "broadcast join codegen stage")).toDF("doc_id", "text")
    graft.ops.Retrieval.writeSearchIndex(base, "doc_id", "text", idx,
      nBuckets = 8)
    val mem = MemoryStream[(Long, String)]
    val q = Ingest.startSearchIndexAppendSink(
      mem.toDF().toDF("doc_id", "text"), "doc_id", "text", idx, cp)
    try {
      mem.addData((3L, "shuffle skew salting shuffle"))
      q.processAllAvailable()
      mem.addData((4L, "join reorder statistics"), (5L, ""))
      q.processAllAvailable()
      val terms = Seq("shuffle", "join", "skew")
      val live = graft.ops.Retrieval.bm25IndexTopK(spark, idx, "doc_id",
          terms, k = 10).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      // rebuild from scratch over everything ingested — scores must be
      // bit-identical: df/stats partials sum exactly across batches
      // (doc 5's zero tokens still counts in n_docs/avgdl)
      val all = base.union(Seq(
        (3L, "shuffle skew salting shuffle"),
        (4L, "join reorder statistics"), (5L, "")).toDF("doc_id", "text"))
      val full = s"$tmp/full"
      graft.ops.Retrieval.writeSearchIndex(all, "doc_id", "text", full,
        nBuckets = 8)
      val rebuilt = graft.ops.Retrieval.bm25IndexTopK(spark, full,
          "doc_id", terms, k = 10).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      assert(live == rebuilt, s"live $live vs rebuilt $rebuilt")
      // doc 3 (rare 'skew' + double 'shuffle') must lead
      assert(live.head._1 == 3L)
      // layout: base b=-1 plus one b=<batchId> per micro-batch, in
      // every tree — a crash replay overwrites its own partitions
      val statsB = spark.read.parquet(s"$idx/stats")
        .select(col("b").cast("long")).collect().map(_.getLong(0)).toSet
      assert(statsB == Set(-1L, 0L, 1L), s"stats batches: $statsB")
    } finally q.stop()
  }

  test("search-index sink auto-compaction folds committed batches —" +
    " search results unchanged, layout bounded") {
    implicit val sc = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("graft_sidxc")
    val idx = s"$tmp/idx"; val cp = s"$tmp/cp"
    import spark.implicits._
    val base = Seq((1L, "spark shuffle join plan")).toDF("doc_id", "text")
    graft.ops.Retrieval.writeSearchIndex(base, "doc_id", "text", idx,
      nBuckets = 8)
    val batches = Seq(
      Seq(2L -> "broadcast join codegen stage"),
      Seq(3L -> "shuffle skew salting shuffle"),
      Seq(4L -> "join reorder statistics"),
      Seq(5L -> "skew aware partition pruning"))
    val mem = MemoryStream[(Long, String)]
    val q = Ingest.startSearchIndexAppendSink(
      mem.toDF().toDF("doc_id", "text"), "doc_id", "text", idx, cp,
      compactEvery = 2)
    try {
      batches.foreach { b => mem.addData(b: _*); q.processAllAvailable() }
    } finally q.stop()
    // batchId 2 folded batches 0..1 into b=-3 (watermark 1); batches
    // 2,3 are the uncompacted tail; base b=-1 never rewritten
    assert(graft.io.Tagged.watermark(spark, idx) == 1L)
    val statsB = spark.read.parquet(s"$idx/stats")
      .select(col("b").cast("long")).collect().map(_.getLong(0)).toSet
    assert(statsB == Set(-1L, -3L, 2L, 3L), s"stats layout: $statsB")
    // the compacted live index answers identically to a full rebuild
    val all = base.union(batches.flatten.toDF("doc_id", "text"))
    val full = s"$tmp/full"
    graft.ops.Retrieval.writeSearchIndex(all, "doc_id", "text", full,
      nBuckets = 8)
    val terms = Seq("shuffle", "join", "skew")
    def hits(p: String) = graft.ops.Retrieval.bm25IndexTopK(spark, p,
        "doc_id", terms, k = 10).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(hits(idx) == hits(full))
    // a compaction replay (crash between fold and sweep) is harmless:
    // same upTo re-folds into the same tag, then sweeps
    graft.ops.Retrieval.compactSearchIndex(spark, idx, upTo = 3L)
    assert(hits(idx) == hits(full))
    assert(graft.io.Tagged.watermark(spark, idx) == 3L)
  }

  test("activity index: streamed retention equals batch cohorts over " +
    "the full stream; same-period re-activity across batches counts once") {
    implicit val sc = spark.sqlContext
    import spark.implicits._
    def ts(e: Long) = new java.sql.Timestamp(e * 1000L)
    // user 1 is active in period 0 in BOTH batch 1 and batch 2 (must
    // count once) and returns in period 1; user 2 appears only later
    val batches: Seq[Seq[(Long, java.sql.Timestamp)]] = Seq(
      Seq((1L, ts(5L))),
      Seq((1L, ts(8L)), (2L, ts(12L))),
      Seq((1L, ts(15L)), (2L, ts(25L))))
    val tmp = java.nio.file.Files.createTempDirectory("graft_actidx")
    val mem = MemoryStream[(Long, java.sql.Timestamp)]
    val q = Ingest.startActivitySink(
      mem.toDF().toDF("user_id", "ts"), "user_id", "ts", 10L,
      s"$tmp/idx", s"$tmp/cp")
    try batches.foreach { b => mem.addData(b: _*); q.processAllAvailable() }
    finally q.stop()
    val served = Ingest.readRetention(spark, s"$tmp/idx", "user_id")
      .get.orderBy("cohort", "offset").collect().map(_.toSeq).toSeq
    val batch = ops.Analytic.retentionCohorts(
        batches.flatten.toDF("user_id", "ts"), "user_id", "ts", 10L)
      .orderBy("cohort", "offset").collect().map(_.toSeq).toSeq
    assert(served == batch)
    // compaction keeps the answer identical
    graft.io.Batches.compact(spark, s"$tmp/idx", upTo = 2L)
    val afterCompact = Ingest.readRetention(spark, s"$tmp/idx", "user_id")
      .get.orderBy("cohort", "offset").collect().map(_.toSeq).toSeq
    assert(afterCompact == served)
  }

  test("link-graph MV: served PageRank equals the batch ranks over " +
    "the concatenated edge stream; compaction keeps it identical") {
    implicit val sc = spark.sqlContext
    import spark.implicits._
    // hub-and-spoke arriving across three batches, plus a replayed
    // edge (2 -> 0 in batches 2 AND 3 is a genuine MULTI-edge: the
    // stream really carries it twice, so it must count twice — only a
    // batch REPLAY dedups, via the b= overwrite)
    val batches: Seq[Seq[(Long, Long)]] = Seq(
      Seq((1L, 0L), (2L, 0L)),
      Seq((3L, 0L), (0L, 1L), (2L, 0L)),
      Seq((4L, 0L), (5L, 0L)))
    val tmp = java.nio.file.Files.createTempDirectory("graft_linkg")
    val mem = MemoryStream[(Long, Long)]
    val q = Ingest.startLinkGraphSink(
      mem.toDF().toDF("src", "dst"), "src", "dst",
      s"$tmp/idx", s"$tmp/cp")
    try batches.foreach { b => mem.addData(b: _*); q.processAllAvailable() }
    finally q.stop()
    val served = Ingest.readPageRank(spark, s"$tmp/idx", iters = 8)
      .get.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val batch = ops.Graph.pageRankU6(
        batches.flatten.toDF("src", "dst"), "src", "dst", iters = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(served == batch)
    graft.io.Batches.compact(spark, s"$tmp/idx", upTo = 2L)
    val afterCompact = Ingest.readPageRank(spark, s"$tmp/idx", iters = 8)
      .get.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(afterCompact == served)
  }

  test("bucket-grain MV: MAD anomalies and the next-day forecast over " +
    "the served grain are bit-identical to the batch ops over the raw " +
    "stream, including a bucket split across batches") {
    implicit val sc = spark.sqlContext
    import spark.implicits._
    def ts(h: Long, m: Long = 0L) =
      new java.sql.Timestamp((1704067200L + h * 3600 + m * 60) * 1000L)
    // steady hourly signal with one spike, a bucket whose events SPLIT
    // across batches (hour 40), and a second key
    val batches: Seq[Seq[(Long, java.sql.Timestamp, Double)]] = Seq(
      (0 until 40).map(h => (1L, ts(h.toLong), 10.0)) ++
        Seq((1L, ts(40L, 10L), 6.0), (2L, ts(1L), 3.0)),
      Seq((1L, ts(40L, 50L), 4.0)) ++ // folds into hour 40: total 10.0
        (41 until 70).map(h => (1L, ts(h.toLong), 10.0)) ++
        Seq((1L, ts(65L, 30L), 490.0)) ++ // spike on top of hour 65
        (2 until 50).map(h => (2L, ts(h.toLong), 3.0)))
    val tmp = java.nio.file.Files.createTempDirectory("graft_bgmv")
    val mem = MemoryStream[(Long, java.sql.Timestamp, Double)]
    val q = Ingest.startBucketGrainSink(
      mem.toDF().toDF("user_id", "ts", "value"),
      "user_id", "ts", "value", 3600L, s"$tmp/grain", s"$tmp/cp")
    try batches.foreach { b => mem.addData(b: _*); q.processAllAvailable() }
    finally q.stop()
    val served = Ingest.readBucketGrainAsEvents(
      spark, s"$tmp/grain", "user_id").get
    val raw = batches.flatten.toDF("user_id", "ts", "value")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSeq
    val madServed = rows(ops.Forecast.madAnomalies(
      served, "user_id", "ts", "value"))
    val madBatch = rows(ops.Forecast.madAnomalies(
      raw, "user_id", "ts", "value"))
    assert(madServed == madBatch && madServed.nonEmpty)
    // the spike bucket is flagged; the split bucket (hour 40) is NOT
    assert(madServed.exists(_(1) == 1704067200L + 65 * 3600))
    assert(!madServed.exists(_(1) == 1704067200L + 40 * 3600))
    val fcServed = rows(ops.Forecast.forecastNextBuckets(
      served, "user_id", "ts", "value"))
    val fcBatch = rows(ops.Forecast.forecastNextBuckets(
      raw, "user_id", "ts", "value"))
    assert(fcServed == fcBatch && fcServed.nonEmpty)
  }

  test("quantile MV: served exact quantiles are BIT-identical to " +
    "Spark percentile over the full ingested stream, including an " +
    "integral-position probability") {
    implicit val sc = spark.sqlContext
    import spark.implicits._
    // 2-dp values spread over batches; n = 12 makes p=0.5 integral
    // between sorted positions only for some probs — cover both the
    // interpolated and the exact-index branch
    val batches: Seq[Seq[Double]] = Seq(
      Seq(1.25, 9.5, 3.75, 0.07),
      Seq(2.0, 2.0, 7.31, 4.44),
      Seq(5.5, 8.01, 6.66, 0.07))
    val probs = Seq(0.0, 0.25, 0.5, 0.9, 1.0)
    val tmp = java.nio.file.Files.createTempDirectory("graft_qmv")
    val mem = MemoryStream[Double]
    val q = Ingest.startView(Ingest.quantileView("value"),
      mem.toDF().toDF("value"), s"$tmp/mv", s"$tmp/cp")
    try batches.foreach { b => mem.addData(b: _*); q.processAllAvailable() }
    finally q.stop()
    val served = Ingest.readQuantiles(spark, s"$tmp/mv", probs)
      .get.collect().map(r => (r.getDouble(0), r.getDouble(1))).toSeq
    val pArr = array(probs.map(lit): _*)
    val batch = batches.flatten.toDF("value")
      .agg(percentile(col("value"), pArr).as("qs"))
      .collect().head.getSeq[Double](0)
    assert(served.map(_._1) == probs)
    assert(served.map(_._2) == batch.toSeq) // bit-identical, no tolerance
  }

  test("CDC sink: served snapshot equals batch cdcApply over the " +
    "concatenated log, including cross-batch overrides; compaction " +
    "keeps it identical") {
    implicit val sc = spark.sqlContext
    import spark.implicits._
    val base = Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d"))
      .toDF("id", "text")
    // cross-batch shapes: id 2 upserted in b0 then deleted in b2 (the
    // override spans batches — neither batch alone decides); id 3
    // deleted in b0 then re-upserted with a HIGHER seq in b1; id 5
    // inserted and immediately superseded intra-batch
    val batches: Seq[Seq[(Long, Long, String, String)]] = Seq(
      Seq((2L, 1L, "upsert", "b2"), (3L, 1L, "delete", null)),
      Seq((3L, 2L, "upsert", "c3"),
        (5L, 1L, "upsert", "e0"), (5L, 2L, "upsert", "e1")),
      Seq((2L, 2L, "delete", null)))
    val tmp = java.nio.file.Files.createTempDirectory("graft_cdc")
    val mem = MemoryStream[(Long, Long, String, String)]
    val q = Ingest.startCdcSink(
      mem.toDF().toDF("id", "seq", "op", "text"),
      "id", "seq", "op", s"$tmp/log", s"$tmp/cp")
    try batches.foreach { b => mem.addData(b: _*); q.processAllAvailable() }
    finally q.stop()
    def snap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val served = snap(Ingest.readCdcSnapshot(
      spark, s"$tmp/log", base, "id", "seq", "op").get)
    val batch = snap(ops.Corpus.cdcApply(base,
      batches.flatten.toDF("id", "seq", "op", "text"), "id", "seq", "op"))
    assert(served == batch)
    assert(served == Set((1L, "a"), (3L, "c3"), (4L, "d"), (5L, "e1")))
    // compaction folds the batch dirs; the served answer is unchanged
    graft.io.Batches.compact(spark, s"$tmp/log", upTo = 2L)
    val afterCompact = snap(Ingest.readCdcSnapshot(
      spark, s"$tmp/log", base, "id", "seq", "op").get)
    assert(afterCompact == served)
  }

  test("data-checks MV: streamed expectation report equals batch " +
    "rowChecks over the full ingested stream") {
    implicit val sc = spark.sqlContext
    import spark.implicits._
    val checks = Seq(
      graft.ops.Checks.notNull("v"),
      graft.ops.Checks.inRange("v", 0.0, 10.0),
      graft.ops.Checks.accepted("flag", Seq("A", "N")))
    // violations land in DIFFERENT batches: the folded state must see
    // all of them while each batch alone sees a different subset
    val batches: Seq[Seq[(Long, Option[Double], String)]] = Seq(
      Seq((1L, Some(5.0), "A"), (2L, Some(20.0), "N")),
      Seq((3L, None, "X")),
      Seq((4L, Some(-1.0), "A"), (5L, Some(3.0), "N")))
    val tmp = java.nio.file.Files.createTempDirectory("graft_dcmv")
    val mem = MemoryStream[(Long, Option[Double], String)]
    val q = Ingest.startView(Ingest.dataChecksView(checks),
      mem.toDF().toDF("id", "v", "flag"), s"$tmp/work", s"$tmp/cp")
    try batches.foreach { b => mem.addData(b: _*); q.processAllAvailable() }
    finally q.stop()
    val served = Ingest.readDataChecksReport(spark, s"$tmp/work", checks)
      .get.orderBy("check").collect().map(_.toSeq).toSeq
    val batch = graft.ops.Checks.rowChecks(
        batches.flatten.toDF("id", "v", "flag"), checks)
      .orderBy("check").collect().map(_.toSeq).toSeq
    assert(served == batch)
    // and the counts are the cross-batch totals, not any single batch's
    assert(served.map(r => (r(0), r(3))).toMap ==
      Map("accepted_values" -> 1L, "in_range" -> 2L, "not_null" -> 1L))
  }

  test("streaming gram sink: true-streaming path serves the batch " +
    "spectrum bit-for-bit at every trigger") {
    implicit val sc = spark.sqlContext
    val dim = 8
    def vec(seed: Int): Seq[Float] =
      (0 until dim).map(k =>
        (((seed * (k + 3)) % 17) - 8 + 0.01 * k).toFloat)
    val rows = (0 until 60).map(i => (i.toLong, vec(i)))
    val mem = MemoryStream[(Long, Seq[Float])]
    val dir = java.nio.file.Files.createTempDirectory("gram-stream").toString
    val q = Ingest.startView(Ingest.gramView("embedding"),
      mem.toDF().toDF("vec_id", "embedding"), s"$dir/work", s"$dir/ckpt")
    try {
      val (b1, b2) = rows.splitAt(25)
      mem.addData(b1: _*); q.processAllAvailable()
      val s1 = Ingest.readPcaVariance(spark, s"$dir/work", dim, 12)
        .get.collect().toSeq
      val e1 = graft.ops.Spectral.pcaVariance(
          b1.toDF("vec_id", "embedding"), "embedding", dim, 12)
        .collect().toSeq
      assert(s1 == e1, "after trigger 1")
      mem.addData(b2: _*); q.processAllAvailable()
      val s2 = Ingest.readPcaVariance(spark, s"$dir/work", dim, 12)
        .get.collect().toSeq
      val e2 = graft.ops.Spectral.pcaVariance(
          rows.toDF("vec_id", "embedding"), "embedding", dim, 12)
        .collect().toSeq
      assert(s2 == e2, "after trigger 2")
    } finally q.stop()
  }

  test("rebuilt line-dedup guard admits exactly a batch's unseen lines") {
    // a pre-guard index of 1,000 admitted line hashes, migrated in place
    val idx = java.nio.file.Files.createTempDirectory("graft_ldrb").toString + "/idx"
    spark.range(1000L)
      .select(unhex(md5(concat(lit("line"), col("id")))).as("_h"))
      .write.parquet(s"$idx/b=0")
    Ingest.rebuildLineDedupGuard(spark, idx,
      expectedLines = 10000L, fpp = 0.01, prefixParts = 16)
    assert(Ingest.readLineIndex(spark, idx).get.count() == 1000L)
    // 200-line batch: half repeats of admitted lines, half fresh
    val fib = spark.range(200L)
      .select(col("id").as("doc_id"), lit(0).as("pos"),
        when(col("id") < 100, concat(lit("line"), col("id")))
          .otherwise(concat(lit("fresh"), col("id"))).as("line"))
      .withColumn("_h", unhex(md5(col("line").cast("binary"))))
      .withColumn("_h64", Ingest.h64FromMd5(col("_h")))
      .withColumn("p", pmod(col("_h64"), lit(16)).cast("int"))
    val bloom = Ingest.readLineBloom(spark, idx, below = 1L)
    assert(bloom.isDefined, "rebuild must commit bloom state")
    assert(Ingest.lineDedupAdmit(spark, idx, 1L, fib, bloom).count() == 100L)
  }

  test("rebuilt near-dup guard finds exactly the colliding docs of a batch") {
    val idx = java.nio.file.Files.createTempDirectory("graft_ndrb").toString + "/idx"
    def bandKeys(ids: org.apache.spark.sql.Column) =
      ops.TextDedup.md5Hash60(concat(ids, lit("b"), col("band")))
    spark.range(1000L)
      .select(col("id"), explode(sequence(lit(0), lit(3))).as("band"))
      .select(col("band"), bandKeys(col("id")).as("band_h"))
      .write.parquet(s"$idx/b=0")
    // 20-doc batch: ids 0-9 collide with the index, 10-19 are shifted out
    val keys = spark.range(20L)
      .select(col("id").as("doc_id"), explode(sequence(lit(0), lit(3))).as("band"))
      .select(col("doc_id"), col("band"), bandKeys(
        when(col("doc_id") < 10, col("doc_id"))
          .otherwise(col("doc_id") + 900000000L)).as("band_h"))
    def hits(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id").distinct().collect().map(_.getLong(0)).toSet
    val unguarded = hits(keys.join(graft.io.Batches.read(spark, idx).get
      .select("band", "band_h"), Seq("band", "band_h"), "left_semi"))
    Ingest.rebuildNearDupGuard(spark, idx,
      expectedKeys = 8000L, fpp = 0.01, prefixParts = 16)
    val bloom = graft.io.BloomState
      .latestVersionBefore(spark, s"$idx/_bloom", 1L)
      .map(v => graft.io.BloomState.read(spark, s"$idx/_bloom", v))
    assert(bloom.isDefined, "rebuild must commit bloom state")
    val guarded = hits(Ingest.nearDupPriorHits(spark, idx, 1L, keys,
      "doc_id", bloom, 16))
    assert(unguarded == (0L until 10L).toSet && guarded == unguarded,
      s"unguarded $unguarded, guarded $guarded")
  }
}
