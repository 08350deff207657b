package graft

import graft.ops.Embeddings
import org.apache.spark.sql.functions._

/** Persisted IVF index: cell-partitioned layout + dynamic partition
  * pruning on the probe join, with results identical to the in-memory
  * search. */
class IvfIndexSpec extends SparkSpec {
  import spark.implicits._

  test("indexed IVF search prunes to probed cells and matches in-memory results") {
    val e = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val probes = e.filter($"vec_id" < 5)
    val model = Embeddings.ivfFit(e, "vec_id", "embedding", nLists = 8)
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf").toString
    Embeddings.writeIvfIndex(model, e, "vec_id", "embedding", dir)

    // one directory per non-empty cell
    val cellDirs = new java.io.File(dir).listFiles()
      .count(f => f.isDirectory && f.getName.startsWith("cell="))
    assert(cellDirs > 1, s"expected multiple cell partitions, got $cellDirs")

    val indexed = Embeddings.ivfTopKIndexed(model, spark, dir, probes,
      "vec_id", "embedding", nProbe = 2, k = 5)
    // plan: the probed cell set must arrive as a STATIC partition
    // filter on the index scan (deterministic directory pruning — DPP
    // is a heuristic and was measured falling back to a full scan)
    val scanLine = indexed.queryExecution.executedPlan.toString
      .linesIterator.find(l => l.contains("FileScan") && l.contains(dir))
      .getOrElse(fail(s"no index FileScan in plan"))
    assert(scanLine.contains("PartitionFilters: [") &&
      (scanLine.contains("cell") && (scanLine.contains(" IN ") ||
        scanLine.contains("INSET"))),
      s"no static cell partition filter on the index scan:\n$scanLine")

    val mem = Embeddings.ivfTopK(model, e, probes, "vec_id", "embedding",
        nProbe = 2, k = 5)
      .collect().map(r => (r.getLong(0), r.getInt(3)) ->
        (r.getLong(1), r.getDouble(2))).toSet
    val idx = indexed
      .collect().map(r => (r.getLong(0), r.getInt(3)) ->
        (r.getLong(1), r.getDouble(2))).toSet
    assert(idx == mem)

    // MEASURED pruning, not just plan shape: the scan's files-read
    // counter must cover only the probed cells' files. Compute the
    // exact probed cell set (what the query's broadcast side contains)
    // and the per-cell file counts on disk — files read must equal the
    // probed cells' files and stay below the full index.
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
      else if (f.getName.endsWith(".parquet")) Seq(f) else Nil
    // files live under cell=<c>/b=<tag>/ — climb to the cell ancestor
    def cellOf(f: java.io.File): Int = {
      var d = f.getParentFile
      while (d != null && !d.getName.startsWith("cell=")) d = d.getParentFile
      d.getName.stripPrefix("cell=").toInt
    }
    val filesPerCell = walk(new java.io.File(dir))
      .groupBy(cellOf)
      .map { case (c, fs) => c -> fs.length }
    val probedCells = Embeddings.probeCellsOf(model, probes,
        "vec_id", "embedding", nProbe = 2)
      .select("cell").distinct().collect().map(_.getInt(0)).toSet
    val expected = filesPerCell.filter(kv => probedCells(kv._1)).values.sum
    val read = graft.util.PlanMetrics.filesReadUnder(indexed, dir)
    assert(read == expected && read < filesPerCell.values.sum,
      s"index scan read $read files; probed cells hold $expected of " +
        s"${filesPerCell.values.sum} — pruning not effective")
  }

  test("indexed IVF+PQ search prunes to probed cells, stores codes " +
    "not vectors, and matches the in-memory composed search") {
    val e = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val probes = e.filter($"vec_id" < 5)
    val cells = Embeddings.ivfFit(e, "vec_id", "embedding", nLists = 8)
    val pq = Embeddings.pqFit(e, "vec_id", "embedding", m = 4, k = 16)
    val dir = java.nio.file.Files.createTempDirectory("graft_ivfpq").toString
    Embeddings.writeIvfPqIndex(cells, pq, e, "vec_id", "embedding", dir)
    // the stored rows are code arrays, not vectors
    val stored = spark.read.parquet(dir)
    assert(stored.columns.toSet == Set("vec_id", "codes", "cell", "b"))
    assert(stored.select(max(size(col("codes")))).head.getInt(0) == 4)
    val indexed = Embeddings.ivfPqTopKIndexed(cells, pq, spark, dir,
      probes, "vec_id", "embedding", nProbe = 2, k = 5)
    // static cell partition filter on the scan
    val scanLine = indexed.queryExecution.executedPlan.toString
      .linesIterator.find(l => l.contains("FileScan") && l.contains(dir))
      .getOrElse(fail(s"no index FileScan in plan"))
    assert(scanLine.contains("PartitionFilters: [") &&
      (scanLine.contains(" IN ") || scanLine.contains("INSET")),
      s"no static cell partition filter on the index scan:\n$scanLine")
    // row-identical to the in-memory composed search
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getInt(3)) -> (r.getLong(1), r.getLong(2)))
      .toSet
    assert(key(indexed) == key(Embeddings.ivfPqTopK(cells, pq, e, probes,
      "vec_id", "embedding", nProbe = 2, k = 5)))
    // measured pruning: files read == the probed cells' files
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
      else if (f.getName.endsWith(".parquet")) Seq(f) else Nil
    def cellOf(f: java.io.File): Int = {
      var d = f.getParentFile
      while (d != null && !d.getName.startsWith("cell=")) d = d.getParentFile
      d.getName.stripPrefix("cell=").toInt
    }
    val filesPerCell = walk(new java.io.File(dir))
      .groupBy(cellOf).map { case (c, fs) => c -> fs.length }
    val probedCells = Embeddings.probeCellsOf(cells, probes,
        "vec_id", "embedding", nProbe = 2)
      .select("cell").distinct().collect().map(_.getInt(0)).toSet
    val expected = filesPerCell.filter(kv => probedCells(kv._1)).values.sum
    val read = graft.util.PlanMetrics.filesReadUnder(indexed, dir)
    assert(read == expected && read < filesPerCell.values.sum,
      s"index scan read $read files; probed cells hold $expected of " +
        s"${filesPerCell.values.sum}")
  }

  test("IVF+PQ append routes code rows to their cells; search equals " +
    "a full rebuild, and a replayed tag never duplicates") {
    val e = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val probes = e.filter($"vec_id" < 5)
    val old = e.filter($"vec_id" % 2 === 0)
    val neu = e.filter($"vec_id" % 2 === 1)
    val cells = Embeddings.ivfFit(old, "vec_id", "embedding", nLists = 8)
    val pq = Embeddings.pqFit(old, "vec_id", "embedding", m = 4, k = 16)
    val inc = java.nio.file.Files.createTempDirectory("graft_ivfpq_a").toString
    val full = java.nio.file.Files.createTempDirectory("graft_ivfpq_f").toString
    Embeddings.writeIvfPqIndex(cells, pq, old, "vec_id", "embedding", inc)
    Embeddings.appendToIvfPqIndex(cells, pq, neu, "vec_id", "embedding",
      inc, batchTag = Some(7L))
    // replayed tag overwrites itself — no duplicate code rows
    Embeddings.appendToIvfPqIndex(cells, pq, neu, "vec_id", "embedding",
      inc, batchTag = Some(7L))
    Embeddings.writeIvfPqIndex(cells, pq, e, "vec_id", "embedding", full)
    assert(spark.read.parquet(inc).count() ==
      spark.read.parquet(full).count())
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getInt(3)) -> (r.getLong(1), r.getLong(2)))
      .toSet
    val a = key(Embeddings.ivfPqTopKIndexed(cells, pq, spark, inc, probes,
      "vec_id", "embedding", nProbe = 3, k = 5))
    val b = key(Embeddings.ivfPqTopKIndexed(cells, pq, spark, full, probes,
      "vec_id", "embedding", nProbe = 3, k = 5))
    assert(a == b && a.nonEmpty)
  }

  test("incremental append routes new vectors to their cells; search equals a full rebuild") {
    val e = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val probes = e.filter($"vec_id" < 5)
    val model = Embeddings.ivfFit(e, "vec_id", "embedding", nLists = 8)
    val half1 = e.filter($"vec_id" % 2 === 0)
    val half2 = e.filter($"vec_id" % 2 =!= 0)
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_inc").toString
    Embeddings.writeIvfIndex(model, half1, "vec_id", "embedding", dir)
    val before = spark.read.parquet(dir).count()
    Embeddings.appendToIvfIndex(model, half2, "vec_id", "embedding", dir)
    assert(spark.read.parquet(dir).count() == e.count())
    assert(before == half1.count())
    // appended rows landed in the SAME cell layout the full write uses
    val fullDir = java.nio.file.Files.createTempDirectory("graft_ivf_full")
      .toString
    Embeddings.writeIvfIndex(model, e, "vec_id", "embedding", fullDir)
    def cells(d: String) = spark.read.parquet(d)
      .select("vec_id", "cell").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(cells(dir) == cells(fullDir))
    // and the indexed search over the incrementally-built index matches
    val full = Embeddings.ivfTopKIndexed(model, spark, fullDir, probes,
        "vec_id", "embedding", nProbe = 3, k = 5)
      .collect().map(_.toSeq).toSet
    val inc = Embeddings.ivfTopKIndexed(model, spark, dir, probes,
        "vec_id", "embedding", nProbe = 3, k = 5)
      .collect().map(_.toSeq).toSet
    assert(inc == full)
  }

  test("tagged append is replay-idempotent: re-running a batch never duplicates vectors") {
    val e = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val model = Embeddings.ivfFit(e, "vec_id", "embedding", nLists = 8)
    val base = e.filter($"vec_id" % 2 === 0)
    val batch = e.filter($"vec_id" % 2 =!= 0)
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_replay")
      .toString
    Embeddings.writeIvfIndex(model, base, "vec_id", "embedding", dir)
    Embeddings.appendToIvfIndex(model, batch, "vec_id", "embedding", dir,
      batchTag = Some(7L))
    val once = spark.read.parquet(dir).count()
    // crash replay: the SAME batch id runs again — must overwrite its
    // own (cell, b=7) subpartitions, not append on top of them
    Embeddings.appendToIvfIndex(model, batch, "vec_id", "embedding", dir,
      batchTag = Some(7L))
    assert(spark.read.parquet(dir).count() == once)
    assert(once == e.count())
    // the base build's b=-1 partitions survived the dynamic overwrite
    assert(spark.read.parquet(dir)
      .filter(col("b").cast("long") === -1L).count() == base.count())
  }

  test("streaming IVF append sink keeps the index search-identical to a full rebuild") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sc = spark.sqlContext
    val e = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val probes = e.filter($"vec_id" < 5)
    val model = Embeddings.ivfFit(e, "vec_id", "embedding", nLists = 8)
    val tmp = java.nio.file.Files.createTempDirectory("graft_ivf_stream")
    val dir = s"$tmp/index"
    val mem = MemoryStream[(Long, Seq[Float])]
    val q = graft.streaming.Ingest.startIvfAppendSink(model,
      mem.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding",
      dir, s"$tmp/ckpt")
    try {
      val rows = e.select("vec_id", "embedding").collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1)))
      val (b1, b2) = rows.splitAt(rows.length / 2)
      mem.addData(b1.toIndexedSeq: _*); q.processAllAvailable()
      mem.addData(b2.toIndexedSeq: _*); q.processAllAvailable()
      val fullDir = s"$tmp/full"
      Embeddings.writeIvfIndex(model, e, "vec_id", "embedding", fullDir)
      val full = Embeddings.ivfTopKIndexed(model, spark, fullDir, probes,
        "vec_id", "embedding", nProbe = 3, k = 5).collect().map(_.toSeq).toSet
      val streamed = Embeddings.ivfTopKIndexed(model, spark, dir, probes,
        "vec_id", "embedding", nProbe = 3, k = 5).collect().map(_.toSeq).toSet
      assert(streamed == full)
    } finally q.stop()
  }

  test("streaming IVF append sink with compactEvery folds tags in-sink, stays search-identical") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sc = spark.sqlContext
    val e = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val probes = e.filter($"vec_id" < 5)
    val model = Embeddings.ivfFit(e, "vec_id", "embedding", nLists = 8)
    val tmp = java.nio.file.Files.createTempDirectory("graft_ivf_sc")
    val dir = s"$tmp/index"
    val mem = MemoryStream[(Long, Seq[Float])]
    val q = graft.streaming.Ingest.startIvfAppendSink(model,
      mem.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding",
      dir, s"$tmp/ckpt", compactEvery = 2)
    try {
      val rows = e.select("vec_id", "embedding").collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1)))
      rows.grouped(math.max(1, rows.length / 5)).foreach { b =>
        mem.addData(b.toIndexedSeq: _*); q.processAllAvailable()
      }
      val fullDir = s"$tmp/full"
      Embeddings.writeIvfIndex(model, e, "vec_id", "embedding", fullDir)
      val full = Embeddings.ivfTopKIndexed(model, spark, fullDir, probes,
        "vec_id", "embedding", nProbe = 3, k = 5).collect().map(_.toSeq).toSet
      val streamed = Embeddings.ivfTopKIndexed(model, spark, dir, probes,
        "vec_id", "embedding", nProbe = 3, k = 5).collect().map(_.toSeq).toSet
      assert(streamed == full)
      // folded layout: per-cell tags are the compacted base plus the
      // short uncompacted tail, never one dir per completed batch
      val tags = spark.read.parquet(dir)
        .select($"b".cast("long")).distinct().collect()
        .map(_.getLong(0)).toSet
      assert(tags.count(_ >= 0L) <= 3, s"uncompacted tail too long: $tags")
      assert(tags.exists(_ <= -2L), s"no compacted base tag in: $tags")
    } finally q.stop()
  }

  test("IVF batch compaction folds append tags, leaves the base build, survives crash leftovers") {
    val e = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val probes = e.filter($"vec_id" < 5)
    val model = Embeddings.ivfFit(e, "vec_id", "embedding", nLists = 8)
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_compact")
      .toString
    val Seq(base, a1, a2, a3) = (0 to 3).map(i => e.filter($"vec_id" % 4 === i))
    Embeddings.writeIvfIndex(model, base, "vec_id", "embedding", dir)
    Seq(0L -> a1, 1L -> a2, 2L -> a3).foreach { case (tag, b) =>
      Embeddings.appendToIvfIndex(model, b, "vec_id", "embedding", dir,
        batchTag = Some(tag))
    }
    def topk() = Embeddings.ivfTopKIndexed(model, spark, dir, probes,
      "vec_id", "embedding", nProbe = 3, k = 5).collect().map(_.toSeq).toSet
    val before = topk()

    assert(Embeddings.compactIvfIndex(spark, dir, upTo = 1L))
    assert(graft.io.Tagged.watermark(spark, dir) == 1L)
    val tags = spark.read.parquet(dir)
      .select(col("b").cast("long")).distinct()
      .collect().map(_.getLong(0)).toSet
    assert(tags == Set(-1L, -3L, 2L), // build base, fold of {0,1}, tail
      s"partition tags after fold: $tags")
    assert(spark.read.parquet(dir).count() == e.count(),
      "fold lost or duplicated vectors")
    assert(topk() == before, "search changed across the fold")

    // crash leftovers: a post-fold replay re-creates an already-folded
    // tag — readers must ignore it, the next compaction sweeps it
    Embeddings.appendToIvfIndex(model, a2, "vec_id", "embedding", dir,
      batchTag = Some(1L))
    assert(topk() == before,
      "replayed folded batch double-counted by the reader")
    assert(!Embeddings.compactIvfIndex(spark, dir, upTo = 1L)) // sweep only
    assert(spark.read.parquet(dir)
      .select(col("b").cast("long")).distinct()
      .collect().map(_.getLong(0)).toSet == Set(-1L, -3L, 2L))

    // fold the rest: the previous fold base collapses into the new one
    assert(Embeddings.compactIvfIndex(spark, dir, upTo = 99L))
    assert(graft.io.Tagged.watermark(spark, dir) == 2L)
    assert(spark.read.parquet(dir)
      .select(col("b").cast("long")).distinct()
      .collect().map(_.getLong(0)).toSet == Set(-1L, -4L))
    assert(topk() == before)
    assert(spark.read.parquet(dir).count() == e.count())
  }

  test("refitIvfIndex: a drifted append stream re-balances under the " +
    "re-fit quantizer; content survives and recall does not regress") {
    import spark.implicits._
    // deterministic hash jitter so the clusters have internal structure
    def jit(id: Long, d: Int): Double =
      (((id * 2654435761L + d * 40503L) % 1000 + 1000) % 1000) / 10000.0 - 0.05
    // initial distribution: 4 one-hot corners of the positive orthant
    def vecA(id: Long): Seq[Double] = {
      val c = (id % 4).toInt
      (0 until 4).map(d => (if (d == c) 1.0 else 0.0) + jit(id, d))
    }
    // drifted distribution: 4 sub-clusters in the negative orthant — a
    // region no initial centroid is near, with enough internal
    // structure that a re-fit can spend several centroids on it
    def vecB(id: Long): Seq[Double] = {
      val c = (id % 4).toInt
      (0 until 4).map(d => (if (d == c) -1.5 else -0.5) + jit(id, d))
    }
    val a = (0L until 1000L).map(i => (i, vecA(i))).toDF("vec_id", "embedding")
    // drift DOMINANT: 4x the initial corpus arrives from the new
    // region, the realistic "the ingest mix moved" shape
    val b = (10000L until 14000L).map(i => (i, vecB(i)))
      .toDF("vec_id", "embedding")
    val model = Embeddings.ivfFit(a, "vec_id", "embedding", nLists = 8)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_ivf_refit").toString
    Embeddings.writeIvfIndex(model, a, "vec_id", "embedding", dir)
    Embeddings.appendToIvfIndex(model, b, "vec_id", "embedding", dir)

    def cellSizes(): Map[Int, Long] = spark.read.parquet(dir)
      .groupBy("cell").count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    // the fixed quantizer funnels the drifted region into its nearest
    // STALE cells: the hottest holds several times the balanced share
    // (2000 rows / 8 lists = 250)
    val before = cellSizes()
    assert(before.values.max >= 1500L,
      s"expected a drift-bloated hot cell, got $before")

    val queries = (20000L until 20005L).map(i => (i, vecB(i)))
      .toDF("vec_id", "embedding")
    val full = a.unionByName(b)
    val truth = Embeddings
      .bruteForceTopK(full, queries, "vec_id", "embedding", 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def recall(m: Embeddings.IvfModel): Double = {
      val got = Embeddings.ivfTopKIndexed(m, spark, dir, queries,
          "vec_id", "embedding", nProbe = 2, k = 5)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      (truth & got).size.toDouble / truth.size
    }
    // MEAN rows a query's nProbe=2 probe must scan under model m
    def probedRows(m: Embeddings.IvfModel, sizes: Map[Int, Long]): Double = {
      val per = Embeddings
        .probeCellsOf(m, queries, "vec_id", "embedding", nProbe = 2)
        .collect().map(r => (r.getLong(0), r.getInt(1)))
        .groupBy(_._1)
        .map { case (_, cs) => cs.map(c => sizes.getOrElse(c._2, 0L)).sum }
      per.sum.toDouble / per.size
    }
    val rBefore = recall(model)
    val scanBefore = probedRows(model, before)

    val model2 = Embeddings.refitIvfIndex(spark, dir, "vec_id", nLists = 8)

    // every vector survived the rebuild, exactly once
    assert(spark.read.parquet(dir).select("vec_id").as[Long]
      .collect().sorted.toSeq ==
      ((0L until 1000L) ++ (10000L until 14000L)).toSeq)
    // balance restored: the re-fit spends centroids where the data is.
    // fair share is 2000/8 = 250; the stale layout blows past 2x fair
    // share, the re-fit layout stays within it
    val after = cellSizes()
    val fair = 5000L / 8
    assert(before.values.max > 2 * fair && after.values.max <= 2 * fair,
      s"refit did not re-balance: before=$before after=$after")
    // probes of the drifted region scan a fraction of the old hot cell
    val scanAfter = probedRows(model2, after)
    assert(scanAfter <= scanBefore * 0.6,
      s"probe scan cost did not drop: $scanBefore -> $scanAfter")
    val rAfter = recall(model2)
    assert(rAfter >= rBefore,
      s"recall regressed across refit: $rBefore -> $rAfter")
    assert(rAfter >= 0.8, s"recall after refit too low: $rAfter")
  }

  test("ivfMonitorAndRefit: planted drift sinks the sampled recall " +
    "below the floor, the monitor detects it and triggers a refit, " +
    "and the re-probe shows recall restored") {
    import spark.implicits._
    // md5-based jitter: the affine hash the refit test uses makes all
    // four dims the SAME base value shifted by a constant (mod-1000
    // arithmetic collapses any affine mix), which silently correlates
    // the cell coin with the neighborhood dims and hides the drift —
    // this test needs genuinely independent dims
    def jit(id: Long, d: Int): Double = {
      val b = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$id:$d".getBytes)
      (((b(0) & 0xFF) * 256 + (b(1) & 0xFF)) % 1000) / 10000.0 - 0.05
    }
    // initial distribution: 4 one-hot corners → 4 centroids ≈ corners
    def vecA(id: Long): Seq[Double] = {
      val c = (id % 4).toInt
      (0 until 4).map(d => (if (d == c) 1.0 else 0.0) + jit(id, d))
    }
    // drifted cloud sitting ON the boundary between the e0 and e1
    // centroids, with the two roles DECOUPLED: which stale cell a
    // member lands in is decided by the tiny dim-0/1 jitter (an
    // independent hash — a coin flip between the e0 and e1 cells),
    // while its true nearest neighbors are decided by the LARGE
    // dim-2/3 jitter. Each neighborhood therefore straddles both
    // cells, and a frozen nProbe=1 probe misses the half that fell on
    // the other side. This is the silent-degradation shape: no hot
    // cell, no error, recall just sinks.
    def vecDrift(id: Long): Seq[Double] =
      Seq(1.0 + jit(id, 0) * 0.2, 1.0 + jit(id, 1) * 0.2,
        3 * jit(id, 2), 3 * jit(id, 3))
    val a = (0L until 1000L).map(i => (i, vecA(i))).toDF("vec_id", "embedding")
    val drift = (10000L until 11000L).map(i => (i, vecDrift(i)))
      .toDF("vec_id", "embedding")
    val model = Embeddings.ivfFit(a, "vec_id", "embedding", nLists = 4)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_ivf_monitor").toString
    Embeddings.writeIvfIndex(model, a, "vec_id", "embedding", dir)

    // healthy baseline: before any drift the monitor stays quiet
    val (m0, r0, refit0) = Embeddings.ivfMonitorAndRefit(spark, dir,
      model, "vec_id", nLists = 4, nProbe = 1, k = 5,
      recallFloor = 0.9, nQueries = 48)
    assert(!refit0 && (m0 eq model), s"healthy index triggered a refit ($r0)")
    assert(r0 >= 0.9, s"baseline recall unexpectedly low: $r0")

    Embeddings.appendToIvfIndex(model, drift, "vec_id", "embedding", dir)
    val (m1, r1, refit1) = Embeddings.ivfMonitorAndRefit(spark, dir,
      model, "vec_id", nLists = 4, nProbe = 1, k = 5,
      recallFloor = 0.9, nQueries = 48)
    assert(r1 < 0.9, s"planted drift not detected: sampled recall $r1")
    assert(refit1, "monitor did not trigger the refit")
    // the refit restored the neighborhoods: re-probe under the new
    // quantizer clears the floor the stale one sank below
    val r2 = Embeddings.ivfRecallProbe(spark, dir, m1, "vec_id",
      nProbe = 1, k = 5, nQueries = 48)
    assert(r2 > r1 && r2 >= 0.9,
      s"refit did not restore recall: $r1 -> $r2")
    // content survived the refit rebuild, exactly once
    assert(spark.read.parquet(dir).count() == 2000L)
  }
}
