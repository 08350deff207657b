package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic sampling and splitting for training-data pipelines.
  *
  * Everything here is a PURE FUNCTION of (seed, row id): the selection
  * variate is the md5-derived uniform `Synthetic.u01`, so a sample is
  * reproducible across runs, engines (the DuckDB oracle draws the same
  * rows), partitionings and cluster sizes — none of which is true of
  * `df.sample()` / `rand()`, whose draw depends on partition layout.
  * Filters are codegen'd map-side predicates: sampling 100 TB is an
  * embarrassingly parallel scan that writes the kept fraction, no
  * shuffle. Membership is STABLE under corpus growth: a document's
  * (seed, id) never changes, so yesterday's holdout rows are still
  * holdout rows after an append — the property that keeps eval sets
  * uncontaminated across pipeline runs.
  */
object Sampling {

  private def u(seed: String, id: Column): Column = Synthetic.u01(seed, id)

  /** Uniform deterministic sample: keep rows with u01(seed, id) < frac. */
  def uniform(df: DataFrame, idCol: String, frac: Double,
              seed: String): DataFrame =
    df.filter(u(seed, col(idCol)) < frac)

  /** Stratified deterministic sample: per-stratum keep rates (e.g.
    * re-balancing languages or sources), `defaultRate` for strata not
    * in the map. The rate lookup is a broadcast map literal — one
    * predicate, no join, no shuffle. */
  def stratified(df: DataFrame, stratumCol: String, idCol: String,
                 rates: Map[String, Double], defaultRate: Double,
                 seed: String): DataFrame = {
    val m = typedlit(rates)
    df.filter(u(seed, col(idCol)) <
      coalesce(m(col(stratumCol)), lit(defaultRate)))
  }

  /** Exact-COUNT weighted allocation — "exactly `total` examples,
    * 3:2:1 across sources": apportion `total` over the integer weight
    * vector by largest remainder (Hamilton; top-ups tie toward the
    * lexicographically smaller stratum), then take each stratum's
    * allocᵢ rows in md5-u01 order. [[stratified]]'s per-row rates hit
    * a budget only in expectation; this is the fixed-budget contract
    * a training-mix spec actually states. A short stratum keeps all
    * its rows and the shortfall is NOT redistributed — membership
    * decisions stay independent of the other strata's data (the
    * family's stability invariant). Strata absent from `weights` get
    * zero. The allocation is pure parameter arithmetic on the driver
    * (no data, no collect — the ewma weight-vector precedent); the
    * per-stratum take is one rank window in the [[shuffleShards]]
    * sort shape. */
  def weightedQuota(df: DataFrame, stratumCol: String, idCol: String,
                    weights: Seq[(String, Long)], total: Long,
                    seed: String): DataFrame = {
    require(total >= 0 && weights.nonEmpty && weights.forall(_._2 >= 0))
    require(weights.map(_._1).distinct.size == weights.size,
      "duplicate stratum in weights")
    val wsum = weights.map(_._2).sum
    require(wsum > 0, "weights must not all be zero")
    val base = weights.map { case (s, w) =>
      (s, total * w / wsum, total * w % wsum) }
    val topUp = (total - base.map(_._2).sum).toInt
    val alloc: Map[String, Long] = base
      .sortBy { case (s, _, r) => (-r, s) }.zipWithIndex
      .map { case ((s, b, _), i) => s -> (b + (if (i < topUp) 1L else 0L)) }
      .toMap
    val m = typedlit(alloc)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(stratumCol))
      .orderBy(u(seed, col(idCol)), col(idCol))
    df.withColumn("_alloc", coalesce(m(col(stratumCol)), lit(0L)))
      .filter(col("_alloc") > 0)
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") <= col("_alloc"))
      .drop("_alloc", "_rn")
  }

  /** CLUSTER-BALANCED (diversity) sampling over an embedding column —
    * the SemDeDup/DSIR-adjacent recipe step: assign every vector to
    * its k-means cell ([[Embeddings.ivfAssign]] under the caller's
    * integer-exact [[Embeddings.ivfFit]] model — deterministic, so the
    * whole draw is engine-reproducible) and Bernoulli-keep each row at
    * rate `min(1, perCell / |cell|)` — dense regions (big clusters)
    * down-weight toward an expected `perCell` rows per cell, sparse
    * regions survive whole, which is exactly the "sample the tails,
    * thin the blob" shape diversity sampling wants. Returns kept
    * (idCol, cell).
    *
    * Scale shape: cell assignment is a pure projection (broadcast
    * centroid distances, [[graft.functions.QDot]] kernel); the
    * per-cell histogram is one map-side-combinable count over k cells;
    * the rate table broadcasts (k rows) and the keep decision is the
    * deterministic u01 predicate — two map scans of the vectors, one
    * k-row aggregate, no corpus shuffle. */
  def clusterBalancedSample(model: Embeddings.IvfModel, vecs: DataFrame,
                            idCol: String, vecCol: String,
                            perCell: Long, seed: String): DataFrame = {
    require(perCell > 0, s"perCell must be positive, got $perCell")
    val assigned = Embeddings.ivfAssign(model, vecs, idCol, vecCol)
    val rates = assigned.groupBy("cell").agg(count(lit(1)).as("_n"))
      .withColumn("_rate", least(lit(1.0),
        lit(perCell.toDouble) / col("_n").cast("double")))
    assigned.join(broadcast(rates.select(col("cell"), col("_rate"))),
        "cell")
      .filter(u(seed, col(idCol)) < col("_rate"))
      .select(col(idCol), col("cell"))
  }

  /** LEAKAGE-FREE holdout over a cluster assignment (e.g.
    * [[TextDedup.nearDupClusters]]): the split coin is flipped per
    * CLUSTER, not per row — every member of a near-dup cluster lands
    * on the same side, so paraphrases/near-copies of a training doc
    * can never leak into the eval split (the failure mode of a plain
    * row-hash holdout). Appends `is_holdout`.
    *
    * Scale shape: a pure map expression on the cluster-id column — no
    * join, no shuffle, no per-cluster state; any frame carrying a
    * cluster id (or any group key: URL host, source, author) splits
    * consistently, even across separately-processed partitions of a
    * 100 TB corpus. */
  def clusterHoldout(clusters: DataFrame, clusterCol: String,
                     holdoutFrac: Double, seed: String): DataFrame = {
    require(holdoutFrac >= 0.0 && holdoutFrac <= 1.0,
      s"holdoutFrac must be in [0,1], got $holdoutFrac")
    clusters.withColumn("is_holdout",
      u(seed, col(clusterCol)) < lit(holdoutFrac))
  }

  // ---- DSIR: Data Selection via Importance Resampling (Xie et al.
  // 2023) — select raw-corpus docs that look like a small target
  // corpus, using hashed n-gram features instead of a trained model.

  /** Hashed-n-gram features of a text column: unigrams and bigrams,
    * exploded — the DSIR feature space before bucketing. */
  private def dsirFeatures(df: DataFrame, textCol: String): DataFrame =
    df.select(TextDedup.tokens(col(textCol)).as("_w"))
      .select(explode(concat(col("_w"),
        TextDedup.shingleArray(col("_w"), 2))).as("g"))

  /** Per-bucket feature counts of the raw and target corpora — the
    * sufficient statistics of the DSIR fit, and the oracled stage
    * (samp_dsir_buckets): bucket = md5Hash60(gram) % nBuckets, counts
    * are total occurrences. Only observed buckets are returned;
    * [[dsirFit]] spreads the +1 smoothing over the full bucket spine.
    *
    * Scale shape: two map-side-combinable counts over at most nBuckets
    * keys (the shuffle moves <= nBuckets partial rows per task, not
    * corpus rows) and one tiny full-outer join — the 100 TB pass is a
    * pure scan. */
  def dsirBuckets(raw: DataFrame, target: DataFrame, textCol: String,
                  nBuckets: Int): DataFrame =
    dsirBucketCounts(raw, textCol, nBuckets)
      .withColumnRenamed("cnt", "c_raw")
      .join(dsirBucketCounts(target, textCol, nBuckets)
        .withColumnRenamed("cnt", "c_target"), Seq("bucket"), "full_outer")
      .select(col("bucket"),
        coalesce(col("c_raw"), lit(0L)).as("c_raw"),
        coalesce(col("c_target"), lit(0L)).as("c_target"))

  /** Single-corpus hashed-feature bucket counts (bucket, cnt) — the
    * additive exact-long partial BOTH [[dsirBuckets]] sides are built
    * from, and the per-batch partial of the streaming raw-count MV
    * ([[graft.streaming.Ingest.dsirRawCountView]]). */
  def dsirBucketCounts(d: DataFrame, textCol: String,
                       nBuckets: Int): DataFrame = {
    require(nBuckets > 0, s"nBuckets must be positive, got $nBuckets")
    dsirFeatures(d, textCol)
      .groupBy((TextDedup.md5Hash60(col("g")) % nBuckets).as("bucket"))
      .agg(count(lit(1)).as("cnt"))
  }

  /** Merge bucket-count partials — additive longs, so the folded state
    * is fold-order-invariant and equals the single-pass counts. */
  def mergeDsirCounts(state: DataFrame, batch: DataFrame): DataFrame =
    state.unionByName(batch).groupBy("bucket").agg(sum("cnt").as("cnt"))

  /** The fitted DSIR importance model: per-bucket log-likelihood-ratio
    * weights in MICRO units (floor(1e6 * (ln p_target - ln p_raw)),
    * +1-smoothed over nBuckets), plus the corpus totals. */
  final case class DsirModel(nBuckets: Int, wMicro: Array[Long],
                             rawTotal: Long, targetTotal: Long)

  /** Fit the hashed-n-gram importance weights. The ln() evaluation is
    * the ONE deliberately float-tolerant stage of the family (the
    * QualityModel precedent): it runs on the DRIVER over the bounded
    * nBuckets-row bucket table and is frozen into exact micro-unit
    * longs, so scoring and resampling downstream are pure integer
    * arithmetic — bit-reproducible everywhere the frozen model goes. */
  def dsirFit(raw: DataFrame, target: DataFrame, textCol: String,
              nBuckets: Int): DsirModel =
    dsirFitFromCounts(dsirBucketCounts(raw, textCol, nBuckets),
      dsirBucketCounts(target, textCol, nBuckets), nBuckets)

  /** The fit over MATERIALIZED (bucket, cnt) count frames — the
    * serving path of the streaming raw-count MV (raw side = the
    * current state, target side = the fixed target corpus's counts);
    * bit-identical to [[dsirFit]] over the corpora the counts came
    * from. Collects are bounded at nBuckets rows by construction. */
  def dsirFitFromCounts(rawCounts: DataFrame, targetCounts: DataFrame,
                        nBuckets: Int): DsirModel = {
    val cr = new Array[Long](nBuckets)
    val ct = new Array[Long](nBuckets)
    rawCounts.collect().foreach(r => cr(r.getLong(0).toInt) = r.getLong(1))
    targetCounts.collect()
      .foreach(r => ct(r.getLong(0).toInt) = r.getLong(1))
    val rTot = cr.sum; val tTot = ct.sum
    val w = Array.tabulate(nBuckets) { b =>
      math.floor(1e6 * (math.log((ct(b) + 1).toDouble / (tTot + nBuckets)) -
        math.log((cr(b) + 1).toDouble / (rTot + nBuckets)))).toLong
    }
    DsirModel(nBuckets, w, rTot, tTot)
  }

  /** Per-document importance score: the integer sum of the frozen
    * bucket weights over the doc's hashed features (sum of micro log
    * ratios == micro log of the product ratio). Map-side only — the
    * weight table rides along as a codegen array literal, no join. */
  def dsirScore(df: DataFrame, idCol: String, textCol: String,
                model: DsirModel): DataFrame = {
    val wLit = typedlit(model.wMicro.toIndexedSeq)
    df.select(col(idCol), TextDedup.tokens(col(textCol)).as("_w"))
      .withColumn("_g", concat(col("_w"),
        TextDedup.shingleArray(col("_w"), 2)))
      .select(col(idCol),
        size(col("_g")).cast("long").as("n_features"),
        aggregate(col("_g"), lit(0L), (acc, g) => acc +
          element_at(wLit,
            (TextDedup.md5Hash60(g) % model.nBuckets).cast("int") + 1))
          .as("score_micro"))
  }

  /** Importance RESAMPLE: Bernoulli-keep each doc at rate
    * min(1, expectedKeep * w_i / sum w) with w_i = exp(score/1e6) —
    * docs that look like the target survive preferentially, and the
    * expected kept count is `expectedKeep` when no rate clips. The
    * normalizer is one aggregate; the draw is the deterministic u01
    * gate. exp() runs per row on the frozen integer scores, so a rerun
    * (any partitioning) reproduces the same kept set. */
  def dsirResample(scored: DataFrame, idCol: String, expectedKeep: Double,
                   seed: String): DataFrame = {
    // the normalizer action would otherwise evaluate the caller's
    // scoring lineage once here and again in the returned filter —
    // cache across the two (released on the caller's first action,
    // the dedupCorpus precedent)
    val s = scored.persist(
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val zRow = s.agg(
      sum(exp(col("score_micro").cast("double") / 1e6)).as("z"))
      .collect().head
    // empty corpus: the sum is SQL-null; any placeholder works (the
    // filter below has no rows) as long as nothing divides by null
    val z = if (zRow.isNullAt(0)) 1.0 else zRow.getDouble(0)
    val out = s.withColumn("_rate", least(lit(1.0),
        exp(col("score_micro").cast("double") / 1e6) * expectedKeep / z))
      .filter(u(seed, col(idCol)) < col("_rate"))
      .drop("_rate")
    graft.util.CacheRelease.releaseAfterFirstAction(out, Seq(s))
  }

  /** Data mixing with per-source EPOCH weights — the canonical
    * pretraining recipe step ("2.5 epochs of source A, 0.5 of B"):
    * weight w yields floor(w) guaranteed copies of every row plus one
    * extra copy kept with probability frac(w), decided by
    * u01(seed, id:copy) so the draw is per-(row, copy) deterministic.
    * Output carries `copy` (0-based) so downstream shuffling/packing
    * can treat repeats as distinct rows. One explode of at most
    * ceil(w)+1 candidates per row, one codegen'd filter — no shuffle,
    * no driver state; 100 TB mixes as a scan. */
  def mixSources(df: DataFrame, sourceCol: String, idCol: String,
                 weights: Map[String, Double], defaultWeight: Double,
                 seed: String): DataFrame = {
    require(defaultWeight >= 0 && weights.values.forall(_ >= 0),
      "epoch weights must be non-negative")
    val m = typedlit(weights)
    val w = coalesce(m(col(sourceCol)), lit(defaultWeight))
    df.withColumn("_w", w)
      .withColumn("copy",
        explode(sequence(lit(0L), floor(col("_w")).cast("long"))))
      .filter(col("copy") < floor(col("_w")) ||
        u(seed, concat_ws(":", col(idCol), col("copy"))) <
          (col("_w") - floor(col("_w"))))
      .drop("_w")
  }

  /** Temperature-based source resampling — the multilingual-pretraining
    * recipe (mT5/XLM-R style): sample sources with probability
    * q_s ∝ p_s^alpha where p_s = n_s/N is the source's corpus share.
    * alpha < 1 flattens the distribution (upweights rare sources
    * relative to their share), alpha = 1 is proportional (no change),
    * alpha > 1 sharpens toward head sources. `budgetFrac` sets the
    * target output size B = budgetFrac*N; this operator only
    * DOWN-samples deterministically (use [[mixSources]] with epoch
    * weights > 1 to upsample), so it requires budgetFrac ≤ 1 — the
    * waterfill derivation assumes B ≤ N, and a budget the input cannot
    * deliver would otherwise silently degenerate to keep-everything
    * instead of telling the caller their budget needs upsampling.
    *
    * WATERFILLING: the naive rate min(1, B*q_s/n_s) under-delivers
    * whenever the cap binds for flattened rare sources — their surplus
    * budget is lost. Instead the exact fixed point is solved
    * declaratively: rates are r_s = min(1, λ*q_s/n_s) with λ chosen so
    * Σ r_s*n_s = B when B ≤ N. Sources saturate (r=1) in increasing
    * order of t_s = n_s/q_s, so the saturated set is a prefix of the
    * t-ordering; a row k is saturated iff the budget consumed at
    * λ = t_k, i.e. Cn_k + t_k*(1 − Cq_k), is ≤ B (Cn/Cq = cumulative
    * n/q through row k). One window over the per-source histogram —
    * a tiny frame — finds the prefix; no driver collect, no iteration.
    *
    * NULL policy (whole file): a NULL source is a source like any
    * other — it is counted as its own group and joined back null-safely
    * (`<=>`), so NULL rows are temperature-sampled at the NULL group's
    * rate rather than silently dropped (inner equi-join) while still
    * inflating N and Z.
    *
    * Engine-exact determinism: every aggregate feeding a rate is a
    * LONG (group counts, and n^alpha quantized to micro-units via
    * floor(n^alpha * 1e6)) — long sums are exact and order-free, so
    * the rates are bit-identical across partitionings, reruns, and
    * engines (the DuckDB oracle reproduces them: the remaining
    * arithmetic is IEEE +,−,×,÷ on exactly-representable longs, all
    * correctly rounded). alpha = 0.5 uses `sqrt` rather than `pow`
    * (IEEE requires sqrt correctly rounded; pow may be off by 1 ulp,
    * which flips the quantization floor at perfect squares).
    *
    * Plan shape: one partial-agg count of the (low-cardinality) source
    * column, waterfilling on that tiny frame, then a broadcast hash
    * join back to the corpus and a codegen'd u01 filter — the 100 TB
    * pass over the fact table is a map-only scan; the only shuffle
    * moves one row per source. Quantized n^alpha assumes
    * n^alpha * 1e6 < 2^63 — holds for any real corpus at alpha ≤ 1;
    * for alpha > 1 keep n_s below ~10^12. */
  def temperature(df: DataFrame, sourceCol: String, idCol: String,
                  alpha: Double, budgetFrac: Double,
                  seed: String): DataFrame =
    applyTemperatureRates(df,
      temperatureRates(
        df.groupBy(col(sourceCol)).agg(count(lit(1)).as("_n")),
        sourceCol, "_n", alpha, budgetFrac),
      sourceCol, idCol, seed)

  /** The waterfill HALF of [[temperature]], factored so a caller with
    * an already-maintained source histogram — notably the streaming
    * MV ([[graft.streaming.Ingest.sourceCountView]], whose state
    * is exact additive long counts) — can derive the CURRENT rate
    * table without rescanning the corpus. `hist` is one row per source
    * (`sourceCol`, `nCol` = long count); returns (`sourceCol`, `rate`).
    * Same exact-arithmetic waterfill as [[temperature]] — feeding the
    * full corpus's histogram through here is bit-identical to the
    * one-call form. */
  def temperatureRates(hist: DataFrame, sourceCol: String, nCol: String,
                       alpha: Double, budgetFrac: Double): DataFrame = {
    require(alpha > 0, "alpha must be positive")
    require(budgetFrac > 0, "budgetFrac must be positive")
    require(budgetFrac <= 1,
      "budgetFrac must be <= 1: temperature only down-samples (B <= N); " +
        "use mixSources with epoch weights > 1 to upsample")
    val nDbl = col("_n").cast("double")
    val paDbl = if (alpha == 0.5) sqrt(nDbl) else pow(nDbl, alpha)
    val counts = hist
      .select(col(sourceCol), col(nCol).cast("long").as("_n"))
      .withColumn("_pa", floor(paDbl * 1e6))
    // The whole waterfill is window arithmetic over the single-partition
    // histogram — scalar totals, cumulative sums, and the saturated
    // prefix all ride ONE sort of the tiny frame, so the rate table
    // costs zero joins and one job to broadcast (a crossJoin(broadcast)
    // formulation spends a scheduler round-trip per materialized scalar
    // frame). The deliberate global window is safe: the frame is one
    // row per SOURCE, not per document.
    //
    // Saturation order: ascending t_s = n_s * Z / pa_s; Z is constant,
    // so order by the double ratio n/pa (ties: n, then source — the
    // predicate below is provably constant within a tie group, so tie
    // order never changes the result; it is pinned for determinism).
    val W = org.apache.spark.sql.expressions.Window
    val ord = W.orderBy(
      (col("_n").cast("double") / col("_pa").cast("double")).asc,
      col("_n").asc, col(sourceCol).asc_nulls_first)
    val cum = ord.rowsBetween(W.unboundedPreceding, W.currentRow)
    val all = ord.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    val enriched = counts
      .withColumn("_totn", sum("_n").over(all))
      .withColumn("_totz", sum("_pa").over(all))
      .withColumn("_B", lit(budgetFrac) * col("_totn").cast("double"))
      .withColumn("_cn", sum("_n").over(cum))
      .withColumn("_cpa", sum("_pa").over(cum))
      .withColumn("_sat",
        col("_cn").cast("double") +
          col("_n").cast("double") * (col("_totz") - col("_cpa")).cast("double")
            / col("_pa").cast("double") <= col("_B"))
    // λ's prefix sums = cumulative at the LAST saturated row (0 if none)
    enriched
      .withColumn("_cnp",
        coalesce(max(when(col("_sat"), col("_cn"))).over(all), lit(0L)))
      .withColumn("_cpap",
        coalesce(max(when(col("_sat"), col("_cpa"))).over(all), lit(0L)))
      .withColumn("_rate",
        when(col("_sat"), lit(1.0)).otherwise(least(lit(1.0),
          (col("_B") - col("_cnp").cast("double")) * col("_pa").cast("double")
            / ((col("_totz") - col("_cpap")).cast("double")
              * col("_n").cast("double")))))
      .select(col(sourceCol), col("_rate").as("rate"))
  }

  /** The sampling HALF of [[temperature]]: keep rows with
    * u01(seed, id) < their source's rate. `rates` is
    * [[temperatureRates]]' (`sourceCol`, `rate`) table — broadcast
    * (one row per source), null-safe on the source key, so the 100 TB
    * pass stays a map-only scan. Deterministic in (seed, id): the same
    * rate table always keeps the same id set. */
  def applyTemperatureRates(df: DataFrame, rates: DataFrame,
                            sourceCol: String, idCol: String,
                            seed: String): DataFrame = {
    val r = rates.select(col(sourceCol).as("_src"),
      col("rate").as("_rate"))
    df.join(broadcast(r), col(sourceCol) <=> col("_src"))
      .filter(u(seed, col(idCol)) < col("_rate"))
      .drop("_src", "_rate")
  }

  /** Per-source quota cap — the "domain cap" curation step (à la C4 /
    * RefinedWeb): keep at most `cap` documents per source, retaining
    * the best by `scoreCol` descending (ties broken by `idCol`
    * ascending, so the kept set is deterministic).
    *
    * Scale design: a naive `row_number() OVER (PARTITION BY source)`
    * sorts EVERY source — at 100 TB that is a full shuffle of the
    * corpus and a single-task sort of the hottest domain. Instead the
    * plan is two-path: a partial-agg count finds the over-cap sources;
    * under-cap sources pass through with an anti join (for a web
    * corpus this is the long tail, i.e. most of the bytes); only rows
    * of over-cap sources are shuffled and ranked. The over-cap side
    * carries NO broadcast hint on purpose: its cardinality is
    * data-dependent (a small cap on a high-cardinality corpus makes it
    * huge), so the choice is left to AQE, which sees the post-agg size
    * at runtime and picks broadcast when it fits
    * `spark.sql.autoBroadcastJoinThreshold` and a shuffle join when it
    * doesn't — no driver OOM from a hinted over-broadcast, no extra
    * guard job re-scanning the corpus to count.
    *
    * Hot-domain pre-filter: a hot source (think one domain holding
    * half a web crawl) must NOT sort its full row set in the ranking
    * window's single task. Before ranking, the per-source score
    * THRESHOLD is derived exactly from the (source, score) level
    * histogram — a partial-aggregable count per distinct score value,
    * so the hot source reaches the histogram window as one row per
    * score LEVEL, not per document. Levels whose preceding cumulative
    * count is < cap are the only ones that can contain a rank ≤ cap;
    * a null-safe semi join keeps just the rows at those levels, so the
    * final ranking window sorts at most cap + (ties at the threshold
    * level) − 1 rows per source — O(cap) per task. (An exact
    * `percentile` would find the same threshold, but its percentage
    * argument must be foldable in Spark, so it cannot vary per source;
    * the histogram prefix is the same computation done per-group.)
    * Residuals, both degenerate-input-shaped: a CONTINUOUS score makes
    * the level histogram as big as the source (quantize scores first
    * if so), and a CONSTANT score makes everything tie at the
    * threshold (any exact method must then rank the full group).
    *
    * NULL policy (see [[temperature]]): a NULL source is a source like
    * any other. Both joins are null-safe (`<=>`), so a NULL source
    * with more than `cap` rows is ranked and capped like any other
    * group instead of slipping through the anti join uncapped. */
  def sourceCap(df: DataFrame, sourceCol: String, scoreCol: String,
                idCol: String, cap: Int): DataFrame = {
    require(cap > 0, "cap must be positive")
    val over = df.groupBy(col(sourceCol)).agg(count(lit(1)).as("_n"))
      .filter(col("_n") > cap).select(col(sourceCol).as("_over_src"))
    val under = df.join(over, col(sourceCol) <=> col("_over_src"),
      "left_anti")
    val overRows = df.join(over, col(sourceCol) <=> col("_over_src"),
      "left_semi")
    // exact per-source threshold from the score-LEVEL histogram: a
    // level can hold a rank <= cap iff strictly fewer than cap rows
    // rank above it. One row per distinct (source, score) — the hot
    // domain is histogram-collapsed before any window sees it.
    val W = org.apache.spark.sql.expressions.Window
    val wh = W.partitionBy(col(sourceCol))
      .orderBy(col(scoreCol).desc, col(idCol))
    val keptLevels = overRows
      .groupBy(col(sourceCol), col(scoreCol)).agg(count(lit(1)).as("_c"))
      .withColumn("_above", coalesce(
        sum(col("_c")).over(W.partitionBy(col(sourceCol))
          .orderBy(col(scoreCol).desc)
          .rowsBetween(W.unboundedPreceding, -1)), lit(0L)))
      .filter(col("_above") < cap)
      .select(col(sourceCol).as("_t_src"), col(scoreCol).as("_t_score"))
    val capped = overRows
      .join(keptLevels, col(sourceCol) <=> col("_t_src") &&
        col(scoreCol) <=> col("_t_score"), "left_semi")
      .withColumn("_rn", row_number().over(wh))
      .filter(col("_rn") <= cap).drop("_rn")
    under.unionByName(capped)
  }

  /** Deterministic holdout tag: `is_holdout` = u01(seed, id) < frac.
    * Tagging (not splitting) keeps it one scan; `train`/`holdout`
    * below are the two filtered views. */
  def withHoldout(df: DataFrame, idCol: String, frac: Double,
                  seed: String): DataFrame =
    df.withColumn("is_holdout", u(seed, col(idCol)) < frac)

  def train(df: DataFrame, idCol: String, frac: Double,
            seed: String): DataFrame =
    df.filter(u(seed, col(idCol)) >= frac)

  def holdout(df: DataFrame, idCol: String, frac: Double,
              seed: String): DataFrame =
    df.filter(u(seed, col(idCol)) < frac)

  /** Deterministic GLOBAL shuffle + sharding — the export step between
    * curation and the trainer: training wants documents in a fixed
    * pseudo-random order split into equal shards, and wants the same
    * order on every rerun. The order key is `md5Hash60(seed:id)` — a
    * pure row function, so the permutation is reproducible across
    * runs, engines and cluster sizes (a `rand()`/`repartition` shuffle
    * is none of these), and uniform regardless of id distribution —
    * adjacent source documents land in unrelated shards/positions, so
    * a training batch never sees a source-correlated run. Adds
    * `ord` (the key), `shard` = ord % nShards (equal-sized in
    * expectation: ord is uniform on 2^60), and `pos` (0-based dense
    * rank within the shard by (ord, id) — id breaks 60-bit ties).
    *
    * Cost: computing ord/shard is a codegen'd projection; `pos` is one
    * hash exchange on `shard` + a per-shard sort — the SAME layout the
    * sharded write needs anyway, so the ordering is free at export
    * time ([[writeShuffledShards]] reuses it). `pos` is dense within a
    * SNAPSHOT of the corpus: appending documents keeps every existing
    * row's (shard, relative order) but renumbers `pos` after the
    * insertion points — positions are manifest coordinates, not stable
    * ids (membership/order stability comes from `ord`, which never
    * changes). At 100 TB size nShards so a shard fits a task:
    * the per-shard sort is the only super-linear term. */
  def shuffleShards(df: DataFrame, idCol: String, nShards: Int,
                    seed: String): DataFrame = {
    require(nShards > 0, "nShards must be positive")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("shard")).orderBy(col("ord"), col(idCol))
    df.withColumn("ord",
        TextDedup.md5Hash60(concat(lit(seed), lit(":"),
          col(idCol).cast("string"))))
      .withColumn("shard", pmod(col("ord"), lit(nShards.toLong)))
      .withColumn("pos", (row_number().over(w) - 1).cast("long"))
  }

  /** Write the shuffled corpus as `shard=<k>/` parquet, rows in
    * training order within each shard file. `repartition(nShards,
    * shard)` routes each shard to exactly one task (a task may own
    * several shards, a shard never splits), `sortWithinPartitions`
    * puts the task's rows in (shard, ord) order, and `partitionBy`
    * splits the task output per shard preserving row order — so the
    * file order IS the `pos` order and the trainer streams shards
    * sequentially with zero further shuffling. */
  def writeShuffledShards(df: DataFrame, idCol: String, nShards: Int,
                          seed: String, path: String): Unit =
    shuffleShards(df, idCol, nShards, seed)
      .repartition(nShards, col("shard"))
      .sortWithinPartitions(col("shard"), col("ord"), col(idCol))
      .write.mode("overwrite").partitionBy("shard").parquet(path)
}
