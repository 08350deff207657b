package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Link-graph analytics for corpus curation — the crawl-prioritization
  * side of a training-data pipeline (CommonCrawl-style corpora rank
  * domains/pages by link structure before deciding what to fetch,
  * keep, or upsample; see Page et al. 1999 for PageRank and the
  * Common Crawl host-level ranking releases for the use case).
  *
  * Everything here is FIXED-POINT integer arithmetic in micro-units
  * (1e6 = rank 1.0) with truncating integer division at exactly the
  * steps a reference replay would take — so any engine reproduces
  * every rank bit-for-bit and the DuckDB oracle replays the iteration
  * chain as unrolled CTEs (aggregates are not allowed in a recursive
  * CTE's recursive term, so the fixed iteration count IS the portable
  * form).
  *
  * Scale shape: the edge list is joined ONCE with out-degrees and
  * cached; each iteration is one hash join of the rank table against
  * the pre-degreed edges plus one map-side-combinable sum by dst;
  * iterations are a fixed small count, not a convergence loop, so the
  * plan and the cost are both bounded up front. Rank state is one row
  * per node — node-scale, never edge-scale. At 100 TB, persist the
  * graph with [[writeEdgeLayout]] (pre-degreed, src-bucketed) and
  * iterate with [[pageRankU6FromLayout]]: the per-iteration join then
  * reads the edge side exchange-free and only node-scale data ever
  * shuffles (GraphSpec pins the plan).
  */
object Graph {

  /** Fixed-iteration PageRank in exact micro-units. `edges` carries
    * (srcCol, dstCol); multi-edges count once per occurrence (the
    * standard multigraph convention). Damping 0.85 as the integer
    * step r' = 150000 + (85 · Σ contribs) div 100 with per-edge
    * contribution r div outdeg — truncation is part of the contract
    * (deliberately reproducible, off by < 1 micro-unit per step from
    * the real-valued recursion). Nodes = src ∪ dst; every node starts
    * at 1.0 (the unnormalized convention); sink nodes (no out-edges)
    * simply leak their mass, the common simplification when ranks
    * feed a RELATIVE keep/upsample decision rather than a probability
    * readout. Output: (id, rank_u6), one row per node. */
  def pageRankU6(edges: DataFrame, srcCol: String, dstCol: String,
                 iters: Int): DataFrame = {
    require(iters >= 1 && iters <= 64, s"iters must be in [1,64]: $iters")
    val e0 = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
    val nodes = e0.select(col("src").as("id"))
      .unionAll(e0.select(col("dst").as("id")))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val outdeg = e0.groupBy(col("src")).agg(count(lit(1)).as("od"))
    // pre-degree the edges once: every iteration reuses this frame,
    // so the per-iteration work is one join + one partial-agg sum
    val e = e0.join(outdeg, Seq("src"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val out = prIterate(nodes, e, iters)
    graft.util.CacheRelease.releaseAfterFirstAction(out, Seq(nodes, e))
  }

  /** The shared fixed-iteration loop over a pre-degreed edge frame
    * (src, dst, od): exact integer steps, lineage cut every 4
    * iterations (the pretrainRecipe precedent: 544 s → 8 s from
    * exactly this cut). */
  private def prIterate(nodes: DataFrame, e: DataFrame,
                        iters: Int): DataFrame = {
    var rank = nodes.select(col("id"), lit(1000000L).as("r"))
    var it = 0
    while (it < iters) {
      val contribs = e.join(rank, e("src") === rank("id"))
        .select(col("dst").as("id"),
          call_function("div", col("r"), col("od")).as("c"))
        .groupBy(col("id")).agg(sum(col("c")).as("cs"))
      rank = nodes.join(contribs, Seq("id"), "left")
        .select(col("id"),
          (lit(150000L) + call_function("div",
            lit(85L) * coalesce(col("cs"), lit(0L)), lit(100L))).as("r"))
      it += 1
      if (it % 4 == 0 && it < iters) rank = rank.localCheckpoint(true)
    }
    rank.select(col("id"), col("r").as("rank_u6")).orderBy("id")
  }

  /** Write the 100 TB edge layout the header promises: pre-degreed
    * edges (src, dst, od) BUCKETED by src via
    * [[graft.io.Lake.writeBucketed]]. A graph that is iterated more
    * than once should be stored this way: every
    * [[pageRankU6FromLayout]] iteration then reads the edge side of
    * the rank⋈edges join EXCHANGE-FREE (the bucket scan's hash
    * partitioning satisfies the join requirement), so per-iteration
    * shuffle traffic is NODE-scale (rank exchange + contribution
    * sum), never edge-scale. Bucket count is the cluster-lifetime
    * dial (~2–4× executor count). */
  def writeEdgeLayout(edges: DataFrame, srcCol: String, dstCol: String,
                      table: String, nBuckets: Int): Unit = {
    val e0 = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
    val outdeg = e0.groupBy(col("src")).agg(count(lit(1)).as("od"))
    graft.io.Lake.writeBucketed(e0.join(outdeg, Seq("src")), table,
      "src", nBuckets, sortCols = Seq("src"))
  }

  /** Fixed-iteration PageRank over a [[writeEdgeLayout]] table —
    * bit-identical output to [[pageRankU6]] on the same edges
    * (spec-pinned), but the per-iteration join never exchanges the
    * edge side: the only edge-scale work left per iteration is the
    * map-side read + partial contribution aggregate. The node set is
    * derived once and cached (node-scale). */
  def pageRankU6FromLayout(spark: org.apache.spark.sql.SparkSession,
                           table: String, iters: Int): DataFrame = {
    require(iters >= 1 && iters <= 64, s"iters must be in [1,64]: $iters")
    val e = spark.table(table)
    val nodes = e.select(col("src").as("id"))
      .unionAll(e.select(col("dst").as("id")))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val out = prIterate(nodes, e, iters)
    graft.util.CacheRelease.releaseAfterFirstAction(out, Seq(nodes))
  }

  /** K-CORE decomposition by fixed-round peeling — the cohesion gate
    * of link-graph curation (a domain living in a dense k-core is
    * structurally endorsed; spam farms and orphan tails peel away):
    * symmetrize the edge list to a simple undirected graph (distinct
    * pairs, self-loops dropped), then `rounds` times delete every
    * node whose surviving degree is < k. Peeling is monotone, so the
    * result after convergence IS the exact k-core; a fixed round
    * count (not a convergence loop) keeps the plan bounded and the
    * DuckDB oracle expressible as unrolled CTEs — size `rounds` to
    * the longest dependent-removal chain you care to peel (the spec
    * pins a planted chain). Output: (id, degree) of the surviving
    * core, degree measured inside the core.
    *
    * Per round: one map-side-combinable degree count + two semi-joins
    * of the edge list against the node-scale keep set — edge-linear,
    * shuffle keyed on the endpoints; lineage cut every 3 rounds (the
    * PageRank precedent). */
  def kCore(edges: DataFrame, srcCol: String, dstCol: String,
            k: Int, rounds: Int): DataFrame = {
    require(k >= 1 && rounds >= 1 && rounds <= 64)
    // The symmetrized base is persisted and released via the
    // CacheRelease pattern like pageRankU6. Cadence cuts stay EAGER
    // (localCheckpoint(true)) deliberately: each peel round references
    // the previous edge frame three times (degree count + two
    // semi-joins), so a lazy checkpoint defers everything into one
    // action whose sibling branches race to compute the shared subtree
    // before its cache fills — measured 7.07 s vs 1.35 s for g_kcore
    // at sf0.1 when round 14 tried the lazy form. The cost of eager
    // cuts (a plan-build-time job even if the caller never executes)
    // is the documented lesser evil: every consumer of this operator
    // executes the result.
    // EAGER localCheckpoint, not persist + CacheRelease, deliberately
    // (round-14 measured the alternatives): each peel round references
    // the previous edge frame three times (degree count + two
    // semi-joins), so by round 3 the base is referenced ~27 times.
    // persist() caches EXECUTION but keeps the logical subtree in the
    // plan — every reference re-analyzes and re-optimizes it, and
    // g_kcore went 1.38 s → 8.8 s from driver-side planning alone
    // (lazy checkpoints were worse still: one mega-action whose
    // sibling branches race to compute the shared subtree, 10.4 s).
    // localCheckpoint truncates lineage to a LogicalRDD leaf, keeping
    // every round's plan flat; its blocks are reclaimed by the
    // ContextCleaner once the caller drops the result frame.
    // The peel loop runs WITH AQE partition coalescing, scoped to its
    // internal checkpoint actions: the engine keeps coalescing OFF
    // globally (byte-proportional coalescing starves CPU-heavy window
    // chains behind few-MB shuffles — Bench.scala), but a peel round
    // is the opposite shape — many tiny stages whose cost is pure
    // task-scheduling floor, where collapsing a few-MB shuffle to a
    // handful of partitions is exactly right. Same-window r17 A/B:
    // g_kcore 4.37 s (off) → 1.78 s (on); the final aggregate below
    // executes under the caller's conf.
    val out = withCoalescing(edges.sparkSession) {
      var e = symmetrize(edges, srcCol, dstCol).localCheckpoint(true)
      var it = 0
      while (it < rounds) {
        e = peelOnce(e, k)
        it += 1
        if (it % 3 == 0 && it < rounds) e = e.localCheckpoint(true)
      }
      e
    }
    out.groupBy(col("src").as("id")).agg(count(lit(1)).as("degree"))
      .filter(col("degree") >= k)
      .orderBy("id")
  }

  /** Runs `body` with AQE partition coalescing enabled, restoring the
    * previous session setting after. Scoping is SESSION-wide while the
    * body runs: a concurrent query on the same SparkSession would see
    * coalescing on — the engine's mains execute queries sequentially;
    * callers sharing a session across threads should clone the session
    * (`spark.newSession()`) for graph ops instead. */
  private def withCoalescing[T](
      spark: org.apache.spark.sql.SparkSession)(body: => T): T = {
    val key = "spark.sql.adaptive.coalescePartitions.enabled"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "true")
    try body
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** Undirected simple graph as a bidirectional edge list: self-loops
    * dropped, duplicates collapsed, each undirected edge present in
    * both directions (so per-src degree counts are undirected
    * degrees). */
  private def symmetrize(edges: DataFrame, srcCol: String,
                         dstCol: String): DataFrame = {
    val und = edges
      .select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .distinct()
      .select(col("a").as("src"), col("b").as("dst"))
    und.unionAll(und.select(col("dst").as("src"), col("src").as("dst")))
  }

  /** One peel round: drop every edge touching a node whose surviving
    * degree is < k (degree count + two node-scale semi-joins). */
  private def peelOnce(e: DataFrame, k: Int): DataFrame = {
    val keep = e.groupBy(col("src")).agg(count(lit(1)).as("_d"))
      .filter(col("_d") >= k)
      .select(col("src").as("id"))
    val e1 = e.join(keep, e("src") === keep("id"), "left_semi")
    val keep2 = keep // fresh alias frame for the dst side
    e1.join(keep2, e1("dst") === keep2("id"), "left_semi")
  }

  /** EXACT k-core: peel to fixpoint instead of a fixed round count —
    * the 100 TB form ([[kCore]]'s fixed rounds are the portable oracle
    * contract, but a dependent-removal chain deeper than `rounds`
    * under-peels; this converges regardless of chain depth). Same
    * dual-mode precedent as TextDedup.nearDupClusters. Each round
    * materializes the surviving edge list (an eager local checkpoint —
    * the convergence test IS an action, so per-round jobs are inherent
    * to fixpoint iteration) and stops when no edge was removed;
    * `maxRounds` bounds a pathological chain (peeling is monotone and
    * removes ≥ 1 node per non-converged round, so node count is the
    * true worst case). Output identical in shape to [[kCore]]. */
  def kCoreExact(edges: DataFrame, srcCol: String, dstCol: String,
                 k: Int, maxRounds: Int = 1000): DataFrame = {
    require(k >= 1 && maxRounds >= 1)
    // fixpoint loop under scoped coalescing, same rationale as kCore
    val out = withCoalescing(edges.sparkSession) {
      var e = symmetrize(edges, srcCol, dstCol).localCheckpoint(true)
      var n = e.count()
      var it = 0
      var converged = n == 0L
      while (!converged && it < maxRounds) {
        val next = peelOnce(e, k).localCheckpoint(true)
        val m = next.count()
        converged = m == n
        e = next
        n = m
        it += 1
      }
      e
    }
    out.groupBy(col("src").as("id")).agg(count(lit(1)).as("degree"))
      .filter(col("degree") >= k)
      .orderBy("id")
  }

  /** Personalized variant for seed-biased curation (rank relative to
    * a trusted seed set): the teleport mass lands only on `seeds`
    * (member rows of the node domain), i.e. r'_v = (85 · Σ contribs)
    * div 100 + (1_000_000 · 15) div 100 · [v ∈ seeds] — same exact
    * integer steps, same cost shape, one extra broadcast semi-join
    * per iteration replaced by a precomputed membership flag. */
  def personalizedPageRankU6(edges: DataFrame, srcCol: String,
                             dstCol: String, seeds: DataFrame,
                             seedCol: String, iters: Int): DataFrame = {
    require(iters >= 1 && iters <= 64, s"iters must be in [1,64]: $iters")
    val e0 = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
    val nodes0 = e0.select(col("src").as("id"))
      .unionAll(e0.select(col("dst").as("id")))
      .distinct()
    val nodes = nodes0
      .join(seeds.select(col(seedCol).as("id")).distinct()
        .withColumn("_seed", lit(1L)), Seq("id"), "left")
      .select(col("id"), coalesce(col("_seed"), lit(0L)).as("_seed"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val outdeg = e0.groupBy(col("src")).agg(count(lit(1)).as("od"))
    val e = e0.join(outdeg, Seq("src"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var rank = nodes.select(col("id"),
      (col("_seed") * 1000000L).as("r"))
    var it = 0
    while (it < iters) {
      val contribs = e.join(rank, e("src") === rank("id"))
        .select(col("dst").as("id"),
          call_function("div", col("r"), col("od")).as("c"))
        .groupBy(col("id")).agg(sum(col("c")).as("cs"))
      rank = nodes.join(contribs, Seq("id"), "left")
        .select(col("id"), col("_seed"),
          (col("_seed") * 150000L + call_function("div",
            lit(85L) * coalesce(col("cs"), lit(0L)), lit(100L))).as("r"))
      it += 1
      if (it % 4 == 0 && it < iters) rank = rank.localCheckpoint(true)
    }
    val out = rank.select(col("id"), col("r").as("rank_u6"))
      .orderBy("id")
    graft.util.CacheRelease.releaseAfterFirstAction(out, Seq(nodes, e))
  }
}
