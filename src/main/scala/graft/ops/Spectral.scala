package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Spectral analysis of an embedding corpus — the dimensionality-
  * reduction / dominant-direction family a curation pipeline runs
  * before clustering or outlier triage (classic PCA over document
  * embeddings: the top principal direction is where the corpus varies
  * most, and documents with extreme projections along it are the
  * embedding-space outliers worth auditing first).
  *
  * Everything is EXACT fixed-point integer arithmetic, same
  * portability contract as [[Graph]]'s micro-unit PageRank and
  * [[graft.ml.SlotRegression]]'s Cramer fit: vectors quantize through
  * the shared [[Embeddings.quantize]] floor(x·10⁴) kernel, the
  * second-moment sums are exact integers, the covariance is the
  * integer matrix C = n·G − s·sᵀ (covariance scaled by n² — positive
  * semidefinite, so Rayleigh quotients and the trace are
  * non-negative and every division below runs on non-negative
  * operands where Spark `div`, BigInt `/` and DuckDB `//` all agree),
  * and the power iteration renormalizes with truncating division in
  * micro-units. A DuckDB oracle replays the whole chain — quantize,
  * Gram, covariance, each iteration, projection — bit-for-bit as
  * unrolled CTEs.
  *
  * Scale shape: the ONLY data-scale work is (a) one pass computing
  * the d(d+1)/2 Gram sums — a per-row d² expansion (inherent to any
  * Gram computation) that partial aggregation collapses to
  * d(d+1)/2 × partitions rows before the one narrow shuffle — and
  * (b) one map-side projection pass over the broadcast direction
  * (64 longs). The d×d eigen-solve runs on the DRIVER over
  * metadata-scale state (d² integers — the same bounded-collect
  * class as IVF centroids), never over rows. Integer headroom: Gram
  * entries are summed as DECIMAL(38,0) (exact at any corpus size);
  * the driver covariance and iteration run in BigInt (unbounded);
  * the oracle mirrors with HUGEINT, whose 1.7e38 ceiling holds past
  * 10⁹ vectors (C·v terms ≈ n²·10⁸·10⁶ ≈ 10³² at n = 10⁹).
  */
object Spectral {

  /** ADDITIVE second-moment partials of the quantized corpus as a
    * (i, j, v DECIMAL(38,0)) frame: Gram entries Σ l_i·l_j at (i, j)
    * with i ≤ j, component sums Σ l_i at (i, -1), and the row count at
    * (-1, -1). Partials from disjoint batches fold by plain addition
    * ([[mergeGramPartials]]) — the streaming-MV contract: a sink that
    * keeps these d(d+1)/2 + d + 1 rows current serves the SAME model
    * the batch fit computes, bit-for-bit, without ever rescanning
    * vectors. Ragged vectors are total on both engines: components
    * past the consumer's `dim` truncate ([[statsFromPartials]]),
    * short vectors contribute only their present components. */
  def gramPartials(df: DataFrame, vecCol: String): DataFrame = {
    // Two-phase exact aggregation (the graft.util.Exact rationale:
    // per-row decimal updates inside the aggregate hash map cost ~3×
    // a primitive long sum): phase 1 sums PRIMITIVE LONG products per
    // (input partition, i, j) — exact while rows-per-partition ×
    // max|l|² < 2^63, i.e. ~10⁹ unit-scale vectors per 128 MB split,
    // far past any sane partitioning; ANSI mode errors loudly if a
    // caller ever feeds huge-magnitude vectors — and phase 2 folds
    // the partition partials (d(d+1)/2 × partitions rows, tiny) in
    // DECIMAL(38,0), exact at ANY corpus size.
    // ONE source scan (the first form aggregated g, s and n as three
    // branches over the same subtree — three full source reads per
    // call, and per STREAMING TRIGGER in Ingest.gramView), kept on
    // the codegen'd Generate path: append a SENTINEL 1 to each
    // quantized vector and run the same upper-triangle double
    // posexplode over the extended array — pairs with j at the
    // sentinel slot are l_i·1 = the component sums, and the
    // (sentinel, sentinel) pair is 1·1 = the row count; the index
    // remap to the (-1) sentinel coordinates happens on the exploded
    // grain. (A struct-array `transform`+`flatten` formulation was
    // tried first and REVERTED: higher-order-function lambdas
    // evaluate interpreted per element — e_pca_var 0.34 → 2.5 s at
    // sf0.1.) An empty input vector still contributes its count row
    // (its extended array is just the sentinel). Empty INPUT yields
    // an empty frame rather than a (-1,-1,0) row — the partials are
    // additive, so the absent zero row is identical to every
    // consumer (statsFromPartials initializes n = 0). A NULL vector
    // coalesces to the empty array first: concat(null, [1]) is null
    // and posexplode would silently drop the row from the count,
    // diverging from the pre-sentinel form's count(*) — null-vector
    // rows contribute their count row and nothing else.
    val q = df.select(
      concat(coalesce(Embeddings.quantize(col(vecCol)),
          array().cast("array<bigint>")), array(lit(1L))).as("l"),
      spark_partition_id().as("_pid"))
    val li = q.select(col("_pid"), col("l"), size(col("l")).as("_d"),
      posexplode(col("l")).as(Seq("i", "li")))
    li.select(col("_pid"), col("_d"), col("i"), col("li"),
        posexplode(col("l")).as(Seq("j", "lj")))
      .filter(col("j") >= col("i"))
      .groupBy(col("_pid"),
        when(col("i") === col("_d") - 1, lit(-1))
          .otherwise(col("i")).as("i"),
        when(col("j") === col("_d") - 1, lit(-1))
          .otherwise(col("j")).as("j"))
      .agg(sum(col("li") * col("lj")).as("p"))
      .groupBy(col("i"), col("j"))
      .agg(sum(col("p").cast(DecimalType(38, 0))).as("v"))
      .select(col("i"), col("j"), col("v"))
  }

  /** Fold two partial frames — exact decimal addition on the
    * (i, j) grain. */
  def mergeGramPartials(state: DataFrame, batch: DataFrame): DataFrame =
    state.union(batch).groupBy(col("i"), col("j"))
      .agg(sum(col("v")).as("v"))

  /** Driver-side (n, s, G) from a partials frame (metadata-scale
    * collect: 1 + d + d(d+1)/2 rows). Components past `dim` are
    * DROPPED — the oracle's generate_series(0, dim−1) replay sees
    * exactly the first dim components of an over-long vector, so the
    * Spark side must truncate identically rather than crash (short
    * vectors already agree: absent components contribute nothing on
    * either engine). */
  def statsFromPartials(partials: DataFrame,
                        dim: Int): (BigInt, Array[BigInt], Array[Array[BigInt]]) = {
    val gm = Array.fill(dim, dim)(BigInt(0))
    val s = Array.fill(dim)(BigInt(0))
    var n = BigInt(0)
    partials.collect().foreach { r =>
      val i = r.getInt(0); val j = r.getInt(1)
      val v = BigInt(r.getDecimal(2).toBigInteger)
      if (i == -1) n = v
      else if (j == -1) { if (i < dim) s(i) = v }
      else if (i < dim && j < dim) { gm(i)(j) = v; gm(j)(i) = v }
    }
    (n, s, gm)
  }

  /** Second-moment sufficient statistics of the quantized corpus,
    * collected to the driver (metadata-scale: 1 + d + d² integers).
    * Returns (n, s, G) with s_i = Σ l_i and G_ij = Σ l_i·l_j over all
    * vectors (G symmetric, computed once per unordered pair). */
  def momentStats(df: DataFrame, vecCol: String,
                  dim: Int): (BigInt, Array[BigInt], Array[Array[BigInt]]) =
    statsFromPartials(gramPartials(df, vecCol), dim)

  /** Integer covariance matrix scaled by n²: C = n·G − s·sᵀ. Positive
    * semidefinite (it is n² times the sample covariance), so traces
    * and Rayleigh quotients downstream are non-negative. */
  def covarianceN2(n: BigInt, s: Array[BigInt],
                   g: Array[Array[BigInt]]): Array[Array[BigInt]] = {
    val d = s.length
    Array.tabulate(d, d)((i, j) => n * g(i)(j) - s(i) * s(j))
  }

  /** Fixed-count power iteration in exact micro-units: v₀ = (10⁶,…),
    * each round w = C·v, then renormalize to max |component| = 10⁶ by
    * the SIGN-SPLIT truncating division (both operands non-negative,
    * so BigInt `/` and DuckDB `//` agree). A zero w (C = 0, or a start
    * vector exactly in C's kernel) collapses to the zero vector and
    * stays there — callers read that as "no dominant direction". */
  def powerIterU6(c: Array[Array[BigInt]], iters: Int): Array[Long] = {
    val d = c.length
    val mega = BigInt(1000000)
    var v = Array.fill(d)(mega)
    for (_ <- 1 to iters) {
      val w = Array.tabulate(d) { i =>
        var acc = BigInt(0)
        var j = 0
        while (j < d) { acc += c(i)(j) * v(j); j += 1 }
        acc
      }
      val m = w.map(_.abs).max
      v =
        if (m == 0) Array.fill(d)(BigInt(0))
        else w.map(t => if (t < 0) -((mega * -t) / m) else (mega * t) / m)
    }
    v.map(_.toLong)
  }

  /** Top principal direction of the corpus in micro-units (one Spark
    * stats pass + the driver-side iteration). The sign is fixed by the
    * deterministic all-ones start, not normalized — oracles replay it,
    * and projections only ever feed |·|-ranked decisions. */
  def principalDirectionU6(df: DataFrame, vecCol: String, dim: Int,
                           iters: Int): Array[Long] = {
    val (n, s, g) = momentStats(df, vecCol, dim)
    powerIterU6(covarianceN2(n, s, g), iters)
  }

  /** Exact integer projection of every vector on a micro-unit
    * direction: proj = Σ l_k·dir_k (units 10⁻¹⁰ of x·v̂·|v|) — a pure
    * map-side pass over the 64-long broadcast literal, through the
    * fused [[graft.functions.QDot]] codegen kernel. */
  def projectU6(df: DataFrame, idCol: String, vecCol: String,
                dirU6: Array[Long]): DataFrame =
    df.select(col(idCol),
      Embeddings.qdot(Embeddings.quantize(col(vecCol)),
        typedLit(dirU6.toSeq)).as("proj"))

  /** The k most extreme documents along the corpus's top principal
    * direction — the "audit these first" outlier list. Ordered by
    * |projection| descending with id tie-break. */
  def pcaOutliers(df: DataFrame, idCol: String, vecCol: String, dim: Int,
                  iters: Int, k: Int): DataFrame = {
    val dir = principalDirectionU6(df, vecCol, dim, iters)
    projectU6(df, idCol, vecCol, dir)
      .orderBy(abs(col("proj")).desc, col(idCol))
      .limit(k)
  }

  /** Wielandt deflation of a fitted direction, integer-exact:
    * A₂ = (vᵀv)·C − v·(Cv)ᵀ removes v's eigenvalue while keeping every
    * other eigenpair of the symmetric C (the classic Wielandt step
    * with u = v/(vᵀv), multiplied through by vᵀv so it stays integer),
    * then rescales by the truncating divisor D = 1 + max|A₂|/2³⁸ — a
    * pure-integer renormalization (sign-split, so both engines agree)
    * that bounds entries to ~2³⁸ and keeps the oracle's HUGEINT
    * matvec far from overflow at any corpus size. Rescaling only
    * changes eigenVALUE scale, never eigenvectors, and shares are
    * measured against the ORIGINAL C afterwards. */
  def deflateScaled(c: Array[Array[BigInt]],
                    v: Array[BigInt]): Array[Array[BigInt]] = {
    val d = c.length
    val vv = v.map(x => x * x).sum
    val w = Array.tabulate(d) { i =>
      var acc = BigInt(0); var j = 0
      while (j < d) { acc += c(i)(j) * v(j); j += 1 }
      acc
    }
    val a2 = Array.tabulate(d, d)((i, j) => vv * c(i)(j) - v(i) * w(j))
    val m = a2.flatten.map(_.abs).max
    val dd = BigInt(1) + m / (BigInt(1) << 38)
    a2.map(_.map(t => if (t < 0) -((-t) / dd) else t / dd))
  }

  /** Variance share of direction v against C, in basis points:
    * 10000·(vᵀCv) / ((vᵀv)·trace(C)) — non-negative for ANY v since C
    * is PSD, so the truncating division is portable. 0 on the
    * degenerate guards. */
  def rayleighShareBp(c: Array[Array[BigInt]], trace: BigInt,
                      v: Array[BigInt]): BigInt = {
    val d = c.length
    val vv = v.map(x => x * x).sum
    var num = BigInt(0)
    for (i <- 0 until d; j <- 0 until d) num += v(i) * c(i)(j) * v(j)
    if (vv == 0 || trace == 0) BigInt(0)
    else (BigInt(10000) * num) / (vv * trace)
  }

  /** Top two principal directions (micro-units): the second comes from
    * power iteration on the Wielandt-deflated matrix. */
  def topTwoDirectionsU6(df: DataFrame, vecCol: String, dim: Int,
                         iters: Int): (Array[Long], Array[Long]) = {
    val (n, s, g) = momentStats(df, vecCol, dim)
    val c = covarianceN2(n, s, g)
    val v1 = powerIterU6(c, iters)
    val v2 = powerIterU6(deflateScaled(c, v1.map(BigInt(_))), iters)
    (v1, v2)
  }

  /** One-row top-2 spectrum: (n_vecs, share1_bp, share2_bp) — the
    * "is this corpus effectively rank-1/rank-2?" readout (embedding
    * collapse shows up as share1 ≈ 10000; a healthy spread splits
    * mass across many directions). Same exact-integer chain as
    * [[pcaVariance]], one deflation deeper. Caveat inherent to finite
    * power iteration: on a near-FLAT spectrum (shares within a few bp
    * of each other, i.e. no dominant direction to find) the two
    * estimates can land within noise of each other and even misorder —
    * deterministically, and the oracle replays the same estimates. The
    * readout is meaningful exactly when it matters: when some
    * direction actually dominates. */
  def topTwoShares(df: DataFrame, vecCol: String, dim: Int,
                   iters: Int): DataFrame = {
    val (n, s, g) = momentStats(df, vecCol, dim)
    val c = covarianceN2(n, s, g)
    val d = c.length
    val trace = (0 until d).map(i => c(i)(i)).sum
    val v1 = powerIterU6(c, iters).map(BigInt(_))
    val v2 = powerIterU6(deflateScaled(c, v1), iters).map(BigInt(_))
    val spark = df.sparkSession
    import spark.implicits._
    Seq((exactLong(n), rayleighShareBp(c, trace, v1).toLong,
        rayleighShareBp(c, trace, v2).toLong)) // shares ≤ 10000 by range
      .toDF("n_vecs", "share1_bp", "share2_bp")
  }

  /** One-row spectral summary: corpus size, total variance (trace of
    * C, scaled down 10⁸), the top eigenvalue estimate (Rayleigh
    * quotient of the fitted direction, same scale), and its share of
    * total variance in basis points — the "is this corpus effectively
    * low-rank?" health check. All quotients are truncating divisions
    * on non-negative integers (C is PSD), replayed by the oracle. */
  def pcaVariance(df: DataFrame, vecCol: String, dim: Int,
                  iters: Int): DataFrame =
    varianceDf(df.sparkSession, momentStats(df, vecCol, dim), iters)

  /** The one-row summary from already-collected stats — shared by the
    * batch query and the streaming-MV serve path
    * ([[graft.streaming.Ingest.readPcaVariance]]): partials fold by
    * exact addition, so the MV serves this same row bit-for-bit. */
  def varianceDf(spark: org.apache.spark.sql.SparkSession,
                 stats: (BigInt, Array[BigInt], Array[Array[BigInt]]),
                 iters: Int): DataFrame = {
    val (n, s, g) = stats
    val c = covarianceN2(n, s, g)
    val v = powerIterU6(c, iters).map(BigInt(_))
    val d = c.length
    val trace = (0 until d).map(i => c(i)(i)).sum
    val vv = v.map(x => x * x).sum
    var num = BigInt(0)
    for (i <- 0 until d; j <- 0 until d) num += v(i) * c(i)(j) * v(j)
    val e8 = BigInt(100000000)
    val lambdaE8 = if (vv == 0) BigInt(0) else (num / vv) / e8
    val shareBp =
      if (vv == 0 || trace == 0) BigInt(0)
      else (BigInt(10000) * num) / (vv * trace)
    import spark.implicits._
    Seq((exactLong(n), exactLong(trace / e8), exactLong(lambdaE8),
        exactLong(shareBp)))
      .toDF("n_vecs", "trace_e8", "lambda_e8", "share_bp")
  }

  /** BigInt → Long that ERRORS on overflow instead of silently
    * truncating bits (BigInt.toLong wraps): the oracle's
    * CAST(... AS BIGINT) fails loudly past 2⁶³, and the Spark side
    * must fail the same way, never emit a wrapped value. */
  private def exactLong(b: BigInt): Long = b.bigInteger.longValueExact()
}
