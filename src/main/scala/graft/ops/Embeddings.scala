package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`Array[Float]`) — the
  * ANN surface a training-data pipeline needs: brute-force cosine top-k
  * as the correctness baseline, and an LSH-bucketed variant as the scale
  * path.
  *
  * Determinism contract: floats are quantized to BIGINT (floor(x*10^4))
  * before any arithmetic, so dot products and norms are EXACT integer
  * sums (order-independent, identical in any engine — this is what makes
  * the DuckDB oracle byte-exact). The final cosine is one double division
  * of exact integers. Quantization noise ~1e-4 is far below any ranking
  * that matters, and ties break on vec_id.
  *
  * Scale design: queries are broadcast (top-k search is "few probes vs
  * huge corpus"); the corpus side never shuffles for brute force. The
  * LSH path buckets the corpus by hyperplane-sign signature so each
  * probe only scans its bucket — the 1000-executor plan is a broadcast
  * join on (bucket) instead of a full scan per probe.
  */
object Embeddings {

  /** Quantize a float vector to exact BIGINTs: floor(x * 10^4). */
  def quantize(v: Column): Column =
    transform(v, x => floor(x.cast("double") * 10000).cast("long"))

  /** Exact integer dot product of two quantized vectors — fused custom
    * Catalyst expression (graft.functions.QDotProduct): one codegen loop,
    * no intermediate array, same exact-Long semantics as the
    * zip_with+aggregate formulation it replaces. */
  def qdot(a: Column, b: Column): Column = graft.functions.QDot.qdot(a, b)

  /** Cosine similarity of two quantized vectors as double (exact-integer
    * dot/norms, one final double division; 0 when either norm is 0). */
  def qcosine(a: Column, b: Column): Column = {
    val dot = qdot(a, b).cast("double")
    val na = sqrt(qdot(a, a).cast("double"))
    val nb = sqrt(qdot(b, b).cast("double"))
    when(na === 0.0 || nb === 0.0, lit(0.0)).otherwise(dot / (na * nb))
  }

  /** Per-query top-k of a scored `(query_id, corpus_id, score)` frame:
    * windowed rank by `score` (descending with `desc`), corpus_id
    * tie-break. Returns (query_id, corpus_id, score, rnk). */
  private def rankTopK(scored: DataFrame, score: String, k: Int,
                       desc: Boolean = false): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy("query_id")
      .orderBy(if (desc) col(score).desc else col(score), col("corpus_id"))
    scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("corpus_id"), col(score),
        col("rnk").cast("int").as("rnk"))
  }

  /** Brute-force cosine top-k: for each query vector, the k most similar
    * corpus vectors (excluding itself). Queries are broadcast; the corpus
    * is scanned once; ranking is windowed per query with vec_id
    * tie-break. */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame,
                     idCol: String, vecCol: String, k: Int): DataFrame = {
    val c = corpus.select(col(idCol).as("corpus_id"),
      quantize(col(vecCol)).as("cv"))
    val q = queries.select(col(idCol).as("query_id"),
      quantize(col(vecCol)).as("qv"))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("corpus_id") =!= col("query_id"))
      .withColumn("cosine", qcosine(col("qv"), col("cv")))
    rankTopK(scored, "cosine", k, desc = true)
  }

  /** Brute-force top-k by exact integer squared-L2 distance — the
    * exact baseline for the L2-metric approximate paths ([[pqTopK]]'s
    * ADC ranks by L2, not cosine, so its recall is measured against
    * this, not [[bruteForceTopK]]). Same plan shape: broadcast
    * queries, one corpus scan, windowed per-query rank, corpus_id
    * tie-break; `dist` = |q - c|^2 in the quantized-long domain. */
  def bruteForceTopKL2(corpus: DataFrame, queries: DataFrame,
                       idCol: String, vecCol: String, k: Int): DataFrame = {
    val c = corpus.select(col(idCol).as("corpus_id"),
      quantize(col(vecCol)).as("cv"))
    val q = queries.select(col(idCol).as("query_id"),
      quantize(col(vecCol)).as("qv"))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("corpus_id") =!= col("query_id"))
      .withColumn("dist",
        qdot(col("qv"), col("qv")) - lit(2L) * qdot(col("qv"), col("cv")) +
          qdot(col("cv"), col("cv")))
    rankTopK(scored, "dist", k)
  }

  /** ANN evaluation: recall of an approximate top-k frame against the
    * exact one — the quality dial every approximate path (LSH, IVF,
    * int8) is tuned by. Both inputs are (query_id, corpus_id, ...)
    * rank frames ([[bruteForceTopK]] / [[lshTopK]] / [[ivfTopK]]
    * output shape). Per query: |approx ∩ exact| / |exact|. One
    * semi-join on the pair key + two aggregations — everything is
    * top-k-scale (queries × k rows); the corpus never moves. */
  def recallAtK(approx: DataFrame, exact: DataFrame): DataFrame = {
    val e = exact.select(col("query_id"), col("corpus_id"))
    val hits = e.join(
        approx.select(col("query_id"), col("corpus_id")),
        Seq("query_id", "corpus_id"), "left_semi")
      .groupBy("query_id").agg(count(lit(1)).as("n_hit"))
    e.groupBy("query_id").agg(count(lit(1)).as("n_exact"))
      .join(hits, Seq("query_id"), "left")
      .select(col("query_id"), col("n_exact"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        (coalesce(col("n_hit"), lit(0L)).cast("double") /
          col("n_exact").cast("double")).as("recall"))
  }

  /** Symmetric per-vector INT8 quantization — the ANN memory path: a
    * 100 TB embedding store at float32 is 4× the bytes of int8 codes,
    * and brute-force/IVF scan cost is memory-bandwidth-bound, so the
    * codes ARE the speedup. Per vector: s = max|v_i| over the exact
    * fixed-point domain ([[quantize]]), q_i = round-half-away-from-zero
    * of 127·v_i/s, so q_i ∈ [-127, 127] (spec-pinned) — a real
    * deployment stores `array<byte>`; this keeps long arrays for the
    * [[qdot]] kernel. The rounding runs in double arithmetic on
    * exactly-representable integers with a fixed operation order, so
    * DuckDB reproduces every code bit-for-bit. COSINE over int8 codes
    * needs no dequantization: the two scale factors cancel, so ranking
    * is [[qcosine]] on the codes themselves — only the quantization
    * noise (≲1/254 per component) moves a score. Zero vectors code to
    * all-zero (s = 0 guard). */
  def int8Quantized(df: DataFrame, idCol: String,
                    vecCol: String): DataFrame =
    df.select(col(idCol), quantize(col(vecCol)).as("_qv"))
      .withColumn("s", array_max(transform(col("_qv"), x => abs(x))))
      .withColumn("q8",
        when(col("s") === 0L, transform(col("_qv"), _ => lit(0L)))
          .otherwise(transform(col("_qv"), x =>
            (floor(lit(127.0) * abs(x).cast("double") /
              col("s").cast("double") + lit(0.5)) *
              when(x < 0L, lit(-1.0)).otherwise(lit(1.0))).cast("long"))))
      .drop("_qv")

  /** Brute-force cosine top-k over INT8 codes — same plan shape as
    * [[bruteForceTopK]] (broadcast queries × one corpus scan, windowed
    * rank, vec_id tie-break) but each dot runs on 8-bit-domain values:
    * the scan reads a quarter of the bytes and the [[qdot]] loop's
    * multiplies never leave small-int range. Scores are `cosine_q`
    * (quantized-domain cosine) — an approximation of the float cosine,
    * ranked deterministically; recall vs the exact path is the
    * spec-measured dial. */
  def int8TopK(corpus: DataFrame, queries: DataFrame,
               idCol: String, vecCol: String, k: Int): DataFrame = {
    val c = int8Quantized(corpus, idCol, vecCol)
      .select(col(idCol).as("corpus_id"), col("q8").as("cq"))
    val q = int8Quantized(queries, idCol, vecCol)
      .select(col(idCol).as("query_id"), col("q8").as("qq"))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("corpus_id") =!= col("query_id"))
      .withColumn("cosine_q", qcosine(col("qq"), col("cq")))
    rankTopK(scored, "cosine_q", k, desc = true)
  }

  /** Deterministic pseudo-random hyperplane component for (plane j,
    * dim i): md5-derived value mapped to [-1, 1). Computed ONCE on the
    * driver (same md5 → same value as the column-expression form, but
    * the row path multiplies against literals instead of running md5
    * per element per row). Reproducible in any engine — no RNG state. */
  private[graft] def planeComponent(j: Int, i: Int): Double = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s"plane:$j:$i".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    (java.lang.Long.parseLong(hex.substring(0, 15), 16) % 2000001L)
      .toDouble / 1000000.0 - 1.0
  }

  private def planeVector(j: Int, dim: Int): Seq[Double] =
    (0 until dim).map(i => planeComponent(j, i))

  /** Sign-random-projection LSH signature: `nPlanes` hyperplanes, bit j =
    * 1 iff dot(v, plane_j) >= 0. Returns (id, bucket) where bucket packs
    * the signs into a BIGINT. Same-bucket vectors are ANN candidates.
    * `dim` is the embedding width (planes are driver-side literals).
    *
    * Each plane dot runs through the fused QDot codegen kernel on
    * QUANTIZED vectors and planes (v at 10^4, planes at 10^6 — products
    * ~10^10·dim stay far inside a long): one tight loop per plane
    * instead of a zip_with+aggregate lambda chain per element. The sign
    * boundary moves by at most the quantization noise, which only
    * relabels near-orthogonal pairs — bucket ids are internal, and the
    * exact-verify / full-probe paths are invariant to them. */
  def lshBuckets(df: DataFrame, idCol: String, vecCol: String,
                 nPlanes: Int, dim: Int): DataFrame = {
    val v = quantize(col(vecCol))
    // dot(v, plane_j) sign per plane, packed little-endian
    val bucket = (0 until nPlanes).map { j =>
      val qp = planeVector(j, dim).map(x => math.floor(x * 1000000).toLong)
      when(qdot(v, typedlit(qp)) >= 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)
    df.select(col(idCol), bucket.as("bucket"))
  }

  /** LSH-bucketed ANN: top-k per query restricted to the query's bucket.
    * Recall < 1 by construction (that's the trade); bucket size bounds the
    * per-probe work. At scale the corpus is written bucketed/partitioned
    * by `bucket` so a probe reads one partition. */
  def lshTopK(corpus: DataFrame, queries: DataFrame,
              idCol: String, vecCol: String, nPlanes: Int, dim: Int,
              k: Int): DataFrame =
    lshTopKMultiProbe(corpus, queries, idCol, vecCol, nPlanes, dim, k,
      probeHamming = 0)

  /** Multi-probe LSH (Lv et al., VLDB'07): each query additionally scans
    * buckets within Hamming distance `probeHamming` of its own signature
    * — the standard way to buy recall without more hash tables. The
    * query side fans out to Σ C(nPlanes, ≤h) buckets (driver-side mask
    * literals; still broadcast), the corpus side is untouched. With
    * h = nPlanes every bucket is probed and the result is EXACTLY brute
    * force — which is how the bucket-join plumbing gets hash-verified
    * against the DuckDB oracle. */
  def lshTopKMultiProbe(corpus: DataFrame, queries: DataFrame,
                        idCol: String, vecCol: String, nPlanes: Int,
                        dim: Int, k: Int, probeHamming: Int): DataFrame = {
    val cb = corpus.join(lshBuckets(corpus, idCol, vecCol, nPlanes, dim), idCol)
      .select(col(idCol).as("corpus_id"), quantize(col(vecCol)).as("cv"),
        col("bucket"))
    val masks = (0 until (1 << nPlanes))
      .filter(m => Integer.bitCount(m) <= probeHamming)
    val qb = queries.join(lshBuckets(queries, idCol, vecCol, nPlanes, dim), idCol)
      .select(col(idCol).as("query_id"), quantize(col(vecCol)).as("qv"),
        explode(array(masks.map(m =>
          col("bucket").bitwiseXOR(lit(m.toLong))): _*)).as("bucket"))
    val scored = cb.join(broadcast(qb), Seq("bucket"))
      .filter(col("corpus_id") =!= col("query_id"))
      .withColumn("cosine", qcosine(col("qv"), col("cv")))
    rankTopK(scored, "cosine", k, desc = true)
  }

  /** IVF coarse-quantizer model: a small centroid table, broadcast as
    * expression literals on both the corpus and query side. Centroids
    * are QUANTIZED longs (same floor(x*10^4) domain as the vectors), so
    * every model-dependent computation downstream is exact integer
    * arithmetic — which is what lets a SQL oracle reproduce the fit
    * bit-for-bit (see SparkEntry's generated e_ivf_topk oracle). */
  final case class IvfModel(centroids: Array[Array[Long]])

  /** IVF (inverted-file) ANN index fit: a deterministic k-means coarse
    * quantizer partitions the corpus into `nLists` cells; a query scans
    * only its `nProbe` nearest cells. The scale path writes the corpus
    * bucketed by cell so a probe reads nProbe partitions of a 100 TB
    * corpus.
    *
    * The quantizer is fit on a BOUNDED sample — at 100 TB nobody
    * k-means the full corpus; recall comes from nProbe, not centroid
    * optimality, so a few thousand sample points are plenty (this is
    * also how FAISS trains IVF quantizers). The sample is the first
    * `sampleCap` rows in md5(id) order (deterministic shuffle, one
    * TakeOrdered pass over the corpus); Lloyd's then runs on the
    * driver — a few ms for ≤4096 × dim points, replacing a 10-job
    * distributed-KMeans loop whose per-iteration scheduling dominated
    * the fit. Init = first nLists sample points; empty cells keep
    * their previous centroid.
    *
    * The ENTIRE fit is exact integer arithmetic on quantized vectors:
    * distances are long sums of squared diffs (order-independent),
    * centroid updates are truncating integer division (`sum / count`,
    * Java semantics == DuckDB `//`), ties break to the lowest cell.
    * Rounding centroids to the 10^-4 grid each iteration costs nothing
    * (recall comes from nProbe, not centroid optimality) and makes the
    * model reproducible to the bit in ANY engine — no float summation
    * order, no libm. The e_ivf_topk DuckDB oracle replays this loop. */
  def ivfFit(corpus: DataFrame, idCol: String, vecCol: String,
             nLists: Int, iters: Int = 10, sampleCap: Int = 4096): IvfModel =
    fitQuantizedSample(
      corpus
        .select(quantize(col(vecCol)).as("v"),
          md5(col(idCol).cast("string")).as("h"))
        .orderBy("h").limit(sampleCap)
        .collect().map(_.getSeq[Long](0).toArray),
      nLists, iters)

  /** The driver-side Lloyd's loop of [[ivfFit]], shared with
    * [[refitIvfIndex]] (whose sample is already in the quantized
    * domain). Exact integer arithmetic throughout — see [[ivfFit]]. */
  private def fitQuantizedSample(sample: Array[Array[Long]],
                                 nLists: Int, iters: Int): IvfModel = {
    require(sample.length >= nLists, s"need >= $nLists sample vectors")
    val dim = sample.head.length
    var centers = sample.take(nLists).map(_.clone())
    var it = 0
    while (it < iters) {
      val sums = Array.fill(nLists)(new Array[Long](dim))
      val counts = new Array[Long](nLists)
      sample.foreach { p =>
        var best = 0; var bestD = Long.MaxValue
        var j = 0
        while (j < nLists) {
          var d = 0L; var i = 0
          while (i < dim) { val t = p(i) - centers(j)(i); d += t * t; i += 1 }
          if (d < bestD) { bestD = d; best = j }
          j += 1
        }
        counts(best) += 1
        var i = 0
        while (i < dim) { sums(best)(i) += p(i); i += 1 }
      }
      centers = centers.zipWithIndex.map { case (c, j) =>
        if (counts(j) == 0) c
        else sums(j).map(_ / counts(j))
      }
      it += 1
    }
    IvfModel(centers)
  }

  /** Centroids with their squared norms (exact longs). */
  private def qCentroids(model: IvfModel): Array[(Array[Long], Long)] =
    model.centroids.map { q => (q, q.map(v => v * v).sum) }

  /** Centroid-distance (score, cell) structs over QUANTIZED vectors —
    * a pure map expression (no join, no row blowup: the 100 TB corpus
    * assignment is embarrassingly parallel). Ranking key is
    * −2·(q·c) + ‖c‖², the squared L2 distance minus the per-row
    * constant ‖q‖² — same argmin/ordering, and each centroid costs ONE
    * fused QDot codegen loop (exact long arithmetic, no per-element
    * lambda dispatch, no intermediate arrays). */
  private def centroidDistStructs(model: IvfModel, qv: Column): Seq[Column] =
    qCentroids(model).toIndexedSeq.zipWithIndex.map { case ((c, n2), j) =>
      struct(
        (lit(-2L) * qdot(qv, typedlit(c.toIndexedSeq)) + lit(n2)).as("d"),
        lit(j).as("cell"))
    }

  /** Nearest-centroid cell id for a quantized vector (ties → lowest
    * cell). ONE fused kernel call ([[graft.functions.IvfCell]],
    * value-identical to the `array_min(array(struct(d, cell), …))`
    * argmin it replaces — IvfIndexSpec pins the declarative form
    * verbatim): a single expression node means a pushed join-key
    * filter (`isnotnull(cell)`) inlines ONE call, where the struct
    * form re-inlined the whole per-centroid distance array — 16
    * quantization `transform`s per row in samp_cluster_balanced's
    * scan Filter before round 18 (lambdas are CSE-exempt, so every
    * copy evaluated). */
  def cellOfQuantized(model: IvfModel, qv: Column): Column =
    graft.functions.IvfCell.cellCol(qv, model.centroids)

  /** Nearest-centroid cell id (exact integer argmin; the kernel
    * quantizes raw float vectors inline — no `transform` lambda in
    * the plan at all). */
  def cellOf(model: IvfModel, vec: Column): Column =
    graft.functions.IvfCell.cellCol(vec, model.centroids)

  /** Assign each vector to its IVF cell — one narrow projection. */
  def ivfAssign(model: IvfModel, df: DataFrame,
                idCol: String, vecCol: String): DataFrame =
    df.select(col(idCol), cellOf(model, col(vecCol)).as("cell"))

  /** The `nProbe` nearest cells of quantized vector `qv`, nearest
    * first. */
  private def nearestCells(model: IvfModel, qv: Column, nProbe: Int): Column =
    transform(slice(array_sort(array(centroidDistStructs(model, qv): _*)),
      1, nProbe), s => s.getField("cell"))

  /** The `nProbe` nearest cells of each query vector — exactly the
    * broadcast cell set [[ivfTopK]]/[[ivfTopKIndexed]] join against.
    * Exposed for diagnostics: measuring how many index partitions a
    * probe set touches (IvfIndexSpec pins files-read == these cells'
    * files) and for cache pre-warming. */
  def probeCellsOf(model: IvfModel, queries: DataFrame, idCol: String,
                   vecCol: String, nProbe: Int): DataFrame = {
    val cells = nearestCells(model, quantize(col(vecCol)), nProbe)
    queries.select(col(idCol).as("query_id"), explode(cells).as("cell"))
  }

  /** IVF top-k: per query, brute-force cosine within the query's
    * `nProbe` nearest cells only. Probe-cell selection is also a pure
    * expression (sort the centroid-distance array, slice nProbe,
    * explode) — no shuffle on the query side before the bucket join.
    * With nProbe == nLists every cell is probed and the result is
    * EXACTLY brute force (each corpus vector lives in exactly one
    * cell), which oracle-verifies the IVF plumbing end to end. */
  def ivfTopK(model: IvfModel, corpus: DataFrame, queries: DataFrame,
              idCol: String, vecCol: String, nProbe: Int, k: Int): DataFrame = {
    val cb = corpus
      .select(col(idCol).as("corpus_id"), quantize(col(vecCol)).as("cv"))
      .select(col("corpus_id"), col("cv"),
        cellOfQuantized(model, col("cv")).as("cell"))
    val probeCells = nearestCells(model, quantize(col(vecCol)), nProbe)
    val qCells = queries.select(col(idCol).as("query_id"),
      quantize(col(vecCol)).as("qv"), explode(probeCells).as("cell"))
    val scored = cb.join(broadcast(qCells), Seq("cell"))
      .filter(col("corpus_id") =!= col("query_id"))
      .withColumn("cosine", qcosine(col("qv"), col("cv")))
    rankTopK(scored, "cosine", k, desc = true)
  }

  // ---- Product Quantization (Jégou et al. 2011): the ANN memory
  // path one step past int8 — the corpus is stored as m small codes
  // per vector (m bytes at k=256, here k=16 for the oracle replay),
  // and search scans codes instead of vectors. At 100 TB the scan is
  // memory-bandwidth-bound, so a 64-dim float corpus (256 B/vector)
  // compressed to m=4 codes reads ~64x fewer bytes; classically PQ
  // composes with the IVF cell layout above (probe cells, ADC-scan
  // codes within them).

  /** The fitted PQ codebooks: `codebooks(m)(code)` is the centroid of
    * subspace m for that code, in the exact quantized-long domain —
    * each subspace is its own [[ivfFit]]-style integer Lloyd's fit, so
    * the whole model (and therefore every code and every ADC distance)
    * is bit-reproducible in any engine. */
  final case class PqModel(subDim: Int,
                           codebooks: Array[Array[Array[Long]]])

  /** Fit `m` per-subspace codebooks of `k` centroids each on the same
    * bounded md5-ordered sample as [[ivfFit]] (one TakeOrdered pass;
    * Lloyd's per subspace runs on the driver over <= sampleCap x
    * dim/m longs). */
  def pqFit(corpus: DataFrame, idCol: String, vecCol: String, m: Int,
            k: Int = 16, iters: Int = 10, sampleCap: Int = 4096): PqModel = {
    val sample = corpus
      .select(quantize(col(vecCol)).as("v"),
        md5(col(idCol).cast("string")).as("h"))
      .orderBy("h").limit(sampleCap)
      .collect().map(_.getSeq[Long](0).toArray)
    require(sample.nonEmpty, "pqFit needs a non-empty corpus")
    val dim = sample.head.length
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val subDim = dim / m
    val books = Array.tabulate(m) { j =>
      fitQuantizedSample(
        sample.map(v => v.slice(j * subDim, (j + 1) * subDim)), k, iters)
        .centroids
    }
    PqModel(subDim, books)
  }

  /** PQ code array (length m) of a quantized vector — a pure map
    * expression: m independent argmins over k centroids each, no join,
    * no shuffle; encoding a 100 TB corpus is an embarrassingly
    * parallel scan that writes m small ints per row. ONE fused kernel
    * call ([[graft.functions.PqCodes]], value-identical to the
    * `array(array_min(array(struct(…))), …)` composition it replaces —
    * IvfCellSpec pins the declarative form verbatim): the struct form
    * re-inlined the quantization `transform` once per (subspace ×
    * centroid) reference — 64 interpreted lambda evaluations per
    * corpus row in the encode Project (lambdas are CSE-exempt). */
  def pqCodeOfQuantized(model: PqModel, qv: Column): Column =
    graft.functions.PqCodes.codesCol(qv, model.subDim, model.codebooks)

  /** Encode a corpus: (id, codes) — the stored PQ index rows. The
    * kernel quantizes raw float vectors inline (no `transform` lambda
    * in the plan at all). */
  def pqEncode(model: PqModel, df: DataFrame, idCol: String,
               vecCol: String): DataFrame =
    df.select(col(idCol),
      pqCodeOfQuantized(model, col(vecCol)).as("codes"))

  /** Reconstruct the quantized vector a code array stands for: the
    * concatenation of each subspace's chosen centroid, looked up in
    * the broadcast codebook literals — map-side, no join. */
  def pqReconstruct(model: PqModel, codes: Column): Column =
    concat(model.codebooks.toIndexedSeq.zipWithIndex.map { case (b, j) =>
      element_at(
        typedlit(b.map(_.toIndexedSeq).toIndexedSeq),
        element_at(codes, j + 1).cast("int") + 1)
    }: _*)

  /** PQ top-k by asymmetric distance (ADC): the query stays full
    * precision, each corpus row is scored against its RECONSTRUCTION,
    * which equals the classical per-subspace table-lookup sum exactly
    * (the distance decomposes over subspaces). `adc_dist` is the exact
    * integer squared L2 |q - recon|^2 — ties break on corpus_id, and
    * every value is oracle-reproducible. Plan shape: broadcast
    * queries x one scan of the code table, windowed per-query rank —
    * the [[bruteForceTopK]] plan reading codes instead of vectors. */
  def pqTopK(model: PqModel, corpus: DataFrame, queries: DataFrame,
             idCol: String, vecCol: String, k: Int): DataFrame = {
    val cr = pqEncode(model, corpus, idCol, vecCol)
      .select(col(idCol).as("corpus_id"),
        pqReconstruct(model, col("codes")).as("rv"))
    val q = queries.select(col(idCol).as("query_id"),
      quantize(col(vecCol)).as("qv"))
    val scored = cr.crossJoin(broadcast(q))
      .filter(col("corpus_id") =!= col("query_id"))
      .withColumn("adc_dist",
        qdot(col("qv"), col("qv")) - lit(2L) * qdot(col("qv"), col("rv")) +
          qdot(col("rv"), col("rv")))
    rankTopK(scored, "adc_dist", k)
  }

  /** IVF+PQ composed search — the classical pairing (and FAISS's
    * workhorse index): the coarse quantizer routes every corpus vector
    * to a cell, PQ compresses it to m codes, and a query ADC-scans
    * ONLY its `nProbe` nearest cells' codes. At 100 TB that is the
    * full memory story: partition pruning cuts the scan to nProbe
    * cells ([[writeIvfIndex]]'s layout), PQ cuts the bytes per scanned
    * row ~64x. Distances, fits and codes are the same integer-exact
    * machinery as [[ivfTopK]] and [[pqTopK]], so the whole composition
    * is oracle-replayable (e_ivfpq_topk). With nProbe == nLists this
    * is exactly [[pqTopK]] (spec-pinned). */
  def ivfPqTopK(cells: IvfModel, pq: PqModel, corpus: DataFrame,
                queries: DataFrame, idCol: String, vecCol: String,
                nProbe: Int, k: Int): DataFrame = {
    val cb = corpus
      .select(col(idCol).as("corpus_id"), quantize(col(vecCol)).as("cv"))
      .select(col("corpus_id"),
        cellOfQuantized(cells, col("cv")).as("cell"),
        pqReconstruct(pq, pqCodeOfQuantized(pq, col("cv"))).as("rv"))
    val probeCells = nearestCells(cells, quantize(col(vecCol)), nProbe)
    val q = queries.select(col(idCol).as("query_id"),
      quantize(col(vecCol)).as("qv"), explode(probeCells).as("cell"))
    val scored = cb.join(broadcast(q), Seq("cell"))
      .filter(col("corpus_id") =!= col("query_id"))
      .withColumn("adc_dist",
        qdot(col("qv"), col("qv")) - lit(2L) * qdot(col("qv"), col("rv")) +
          qdot(col("rv"), col("rv")))
    rankTopK(scored, "adc_dist", k)
  }

  /** PQ search with exact RE-RANKING — the standard production recipe
    * (ADC shortlist, then exact distances on just the shortlist): the
    * code scan proposes `shortlist` candidates per query, full vectors
    * are fetched for those rows ONLY (a semi-join touching queries x
    * shortlist corpus rows, not the corpus), and exact squared-L2
    * re-ranks the final top-k. m x log2(k) bits per vector decide what
    * gets fetched; recall is the shortlist dial — at shortlist ==
    * corpus size the result is exactly [[bruteForceTopKL2]]
    * (spec-pinned). */
  def pqTopKRerank(model: PqModel, corpus: DataFrame, queries: DataFrame,
                   idCol: String, vecCol: String, k: Int,
                   shortlist: Int): DataFrame = {
    val short = pqTopK(model, corpus, queries, idCol, vecCol, shortlist)
      .select(col("query_id"), col("corpus_id"))
    val cv = corpus.select(col(idCol).as("corpus_id"),
      quantize(col(vecCol)).as("cv"))
    val qv = queries.select(col(idCol).as("query_id"),
      quantize(col(vecCol)).as("qv"))
    val scored = short.join(cv, "corpus_id").join(broadcast(qv), "query_id")
      .withColumn("dist",
        qdot(col("qv"), col("qv")) - lit(2L) * qdot(col("qv"), col("cv")) +
          qdot(col("cv"), col("cv")))
    rankTopK(scored, "dist", k)
  }

  /** Persist the IVF index: the quantized corpus written PARTITIONED BY
    * cell — the physical layout behind the "a probe reads nProbe cells
    * of a 100 TB corpus" claim. One directory per cell; the search path
    * below joins on the partition column so Spark's dynamic partition
    * pruning (broadcast side = the probed cells) skips every other
    * directory at scan time. */
  def writeIvfIndex(model: IvfModel, corpus: DataFrame, idCol: String,
                    vecCol: String, path: String,
                    filesPerCell: Int = 1): Unit =
    publishIvfBuild(ivfRows(model, corpus, idCol, vecCol), idCol, path,
      filesPerCell)

  /** Quantized `(id, cv, cell)` index rows of `df` under `model`. */
  private def ivfRows(model: IvfModel, df: DataFrame, idCol: String,
                      vecCol: String): DataFrame =
    df.select(col(idCol), quantize(col(vecCol)).as("cv"))
      .withColumn("cell", cellOfQuantized(model, col("cv")))

  /** PQ code `(id, cell, codes)` index rows of `df`. */
  private def pqRows(cells: IvfModel, pq: PqModel, df: DataFrame,
                     idCol: String, vecCol: String): DataFrame =
    df.select(col(idCol), quantize(col(vecCol)).as("_cv"))
      .withColumn("cell", cellOfQuantized(cells, col("_cv")))
      .withColumn("codes", pqCodeOfQuantized(pq, col("_cv")))
      .drop("_cv")

  /** Write cell-carrying `rows` as a fresh build (`cell=<c>/b=-1`) to a
    * staging dir, then bak-swap publish it at `path`
    * ([[graft.io.Fs.publish]]) so a rebuild-while-serving search never
    * reads a half-written index and a crash mid-publish leaves the
    * previous index recoverable (rebuilds happen on quantizer retrain —
    * rare, but they race live probes). Streaming appends own
    * `b=<batchId>` (see appendToIvfIndex), so a crash replay overwrites
    * its own subpartitions instead of appending duplicate vectors.
    *
    * Route by cell before the partitioned write: without it every
    * upstream task emits a file into every cell it touches, so file
    * count scales with tasks × cells (measured 1920 files for a
    * 64-cell index at the 30× probe — a search then opens ~30 files
    * per probed cell) instead of with the cell layout. filesPerCell
    * splits giant cells across writers when one file per cell is too
    * coarse; the build is a rare offline job, so the routing shuffle
    * is the right trade for a read-optimized layout. */
  private def publishIvfBuild(rows: DataFrame, idCol: String, path: String,
                              filesPerCell: Int): Unit = {
    val s = rows.sparkSession
    val staging = path + "_staging"
    graft.io.Fs.delete(s, staging)
    val parted =
      if (filesPerCell <= 1) rows.repartition(col("cell"))
      else rows.repartition(col("cell"),
        pmod(hash(col(idCol)), lit(filesPerCell)))
    graft.io.Tagged.write(parted, staging, Seq("cell"), batchTag = None)
    graft.io.Fs.publish(s, staging, path)
  }

  /** The live rows of the persisted index's `cells` directories: a
    * static `cell IN (...)` partition filter plus the tag filter
    * ([[graft.io.Tagged.live]]), both pruning directories. */
  private def liveCells(spark: org.apache.spark.sql.SparkSession,
                        indexPath: String, cells: Array[Int]): DataFrame =
    spark.read.parquet(indexPath)
      .filter(col("cell").isin(cells.toIndexedSeq: _*))
      .filter(graft.io.Tagged.live(spark, indexPath))

  /** The cell-pruned probe of a persisted index: the quantized queries
    * `q` (query_id, qv) fanned out to their `nProbe` nearest cells,
    * joined with the live rows of only those cells ([[liveCells]]; the
    * cell set, bounded by nLists, is collected to the driver), each row
    * carrying the index-side `corpus` columns (corpus_id among them);
    * self-pairs dropped. */
  private def probeLiveCells(model: IvfModel,
                             spark: org.apache.spark.sql.SparkSession,
                             indexPath: String, q: DataFrame, nProbe: Int,
                             corpus: Column*): DataFrame = {
    val qCells = q.select(col("query_id"), col("qv"),
      explode(nearestCells(model, col("qv"), nProbe)).as("cell"))
    val probed = qCells.select("cell").distinct()
      .collect().map(_.getInt(0))
    liveCells(spark, indexPath, probed).select(corpus :+ col("cell"): _*)
      .join(broadcast(qCells), Seq("cell"))
      .filter(col("corpus_id") =!= col("query_id"))
  }

  /** Persist the IVF+PQ index: PQ CODES partitioned by cell — the
    * at-rest form of [[ivfPqTopK]] and the full 100 TB memory story in
    * one layout: a probe's scan is cut to its nProbe cell directories
    * (same static-partition pruning as [[ivfTopKIndexed]]) AND each
    * scanned row is m small code ints instead of a dim-length vector
    * (~64x fewer bytes at m=4/dim=64); the probe side reconstructs
    * from the broadcast codebooks at scan time. Same route-then-write
    * file discipline, `cell=<c>/b=-1` layout and bak-swap publish as
    * [[writeIvfIndex]]; incremental maintenance goes through
    * [[appendToIvfPqIndex]] (the code-row twin of appendToIvfIndex),
    * and the publish crash story carries over. */
  def writeIvfPqIndex(cells: IvfModel, pq: PqModel, corpus: DataFrame,
                      idCol: String, vecCol: String, path: String,
                      filesPerCell: Int = 1): Unit =
    publishIvfBuild(pqRows(cells, pq, corpus, idCol, vecCol), idCol, path,
      filesPerCell)

  /** Search the persisted IVF+PQ index: collect the probe cell set,
    * scan ONLY those cell directories (static partition filter, the
    * [[ivfTopKIndexed]] discipline incl. publish-crash healing and
    * fold-watermark filtering), reconstruct each code row from the
    * broadcast codebooks, ADC-rank. Row-identical to the in-memory
    * [[ivfPqTopK]] (spec-pinned). */
  def ivfPqTopKIndexed(cells: IvfModel, pq: PqModel,
                       spark: org.apache.spark.sql.SparkSession,
                       indexPath: String, queries: DataFrame,
                       idCol: String, vecCol: String,
                       nProbe: Int, k: Int): DataFrame = {
    graft.io.Fs.recoverPublished(spark, indexPath)
    val scored = probeLiveCells(cells, spark, indexPath,
        queries.select(col(idCol).as("query_id"),
          quantize(col(vecCol)).as("qv")), nProbe,
        col(idCol).as("corpus_id"), pqReconstruct(pq, col("codes")).as("rv"))
      .withColumn("adc_dist",
        qdot(col("qv"), col("qv")) - lit(2L) * qdot(col("qv"), col("rv")) +
          qdot(col("rv"), col("rv")))
    rankTopK(scored, "adc_dist", k)
  }

  /** Incremental IVF index maintenance: route NEW vectors into their
    * cells and append — only the touched cell directories receive
    * files, the rest of a 100 TB index is untouched. The coarse
    * quantizer stays FIXED (standard IVF practice: the quantizer is
    * retrained rarely and offline; recall comes from nProbe, and cell
    * assignment must stay consistent with the vectors already indexed,
    * which a fixed model guarantees). Pair with [[compactIvfIndex]]
    * when high-frequency appends fragment hot cells — it folds the
    * accumulated `(cell, b=batchId)` tag dirs into one base tag per
    * cell without rewriting the b=-1 build.
    *
    * `batchTag`: replay idempotence for streaming callers. With
    * Some(batchId), the append DYNAMICALLY OVERWRITES its own
    * (cell, b=batchId) subpartitions — re-running the same batch after
    * a crash rewrites the same directories instead of duplicating
    * vectors (same contract as the ingest sinks' b=<batchId> layout);
    * other batches' and the base build's (b=-1) partitions are
    * untouched. With None (one-shot batch appends), plain append under
    * b=-1, matching the build. */
  def appendToIvfIndex(model: IvfModel, newVectors: DataFrame,
                       idCol: String, vecCol: String, path: String,
                       batchTag: Option[Long] = None): Unit =
    // one file per touched cell per append (vs one per task × cell);
    // append batches are small, so the routing shuffle is trivial
    graft.io.Tagged.write(ivfRows(model, newVectors, idCol, vecCol)
      .repartition(col("cell")), path, Seq("cell"), batchTag)

  /** [[appendToIvfIndex]] for the CODE-ROW layout of
    * [[writeIvfPqIndex]]: new vectors route through the FIXED coarse
    * quantizer AND the fixed PQ codebooks (both retrained rarely and
    * offline — codes must stay comparable with the rows already
    * indexed), so an append touches only the new vectors' cell
    * directories and writes m-code rows. Same `batchTag` replay
    * contract: Some(batchId) dynamically overwrites its own
    * (cell, b=batchId) subpartitions, None plain-appends under the
    * build's b=-1. */
  def appendToIvfPqIndex(cells: IvfModel, pq: PqModel,
                         newVectors: DataFrame, idCol: String,
                         vecCol: String, path: String,
                         batchTag: Option[Long] = None): Unit =
    graft.io.Tagged.write(pqRows(cells, pq, newVectors, idCol, vecCol)
      .repartition(col("cell")), path, Seq("cell"), batchTag)

  /** Fold the streaming `(cell, b=batchId)` subpartitions with
    * id in (watermark, upTo] — plus the previous fold's base — into a
    * single new base tag `b=-(newW+2)` per touched cell, bounding the
    * per-cell directory count a long-running [[appendToIvfIndex]]
    * stream accumulates (one dir per micro-batch per touched cell).
    * The base build's b=-1 partitions are never rewritten (they are
    * the bulk of a 100 TB index; folding them would make maintenance
    * cost proportional to the corpus instead of to the appends).
    *
    * The index is one tree of the shared `_w_` store
    * ([[graft.io.Tagged.compact]]: fold → atomic `_w_<newW>` marker →
    * sweep, each step safe to die after; the same `upTo` bound).
    * Returns true iff a fold happened. */
  def compactIvfIndex(spark: org.apache.spark.sql.SparkSession,
                      path: String, upTo: Long): Boolean =
    // one file per touched cell (same routing as appendToIvfIndex: the
    // fold is append-scale, not corpus-scale)
    graft.io.Tagged.compact(spark, path, upTo, Seq(graft.io.Tagged.Tree(
      "", Seq("cell"), _.repartition(col("cell")))))

  /** Offline IVF quantizer maintenance — the answer to centroid DRIFT:
    * [[appendToIvfIndex]] (and [[graft.streaming.Ingest.startIvfAppendSink]])
    * route new vectors through a FIXED quantizer, so when the ingest
    * distribution shifts, the shifted mass piles into the few nearest
    * stale cells — probes of those cells scan an ever-growing fraction
    * of the index (and, when the drifted region spans more cells than
    * `nProbe`, recall decays too). This job re-fits the coarse
    * quantizer on the index's CURRENT content and rebuilds the layout:
    *
    *  1. read the live rows (watermark-aware: base + fold + tail —
    *     exactly what a search sees);
    *  2. re-fit on a bounded sample in md5(id) order (same rationale
    *     and same exact-integer Lloyd's loop as [[ivfFit]]);
    *  3. re-route EVERY live vector through the new model and write a
    *     fresh single-base index to a staging dir;
    *  4. bak-swap publish ([[graft.io.Fs.publish]], the
    *     [[writeIvfIndex]] protocol) — a concurrent search never reads
    *     a half-built index, and a crash mid-swap is healed by the
    *     reader's `recoverPublished`.
    *
    * The rebuild is a full rewrite of the index — unlike
    * [[compactIvfIndex]]'s append-scale fold — which is exactly the
    * standard IVF trade: retrain rarely, offline, when drift has
    * been measured (IvfIndexSpec's drift case shows the hot cell
    * holding 50% of the index re-balancing to ~1/nLists).
    *
    * Serving/append handoff: searches and appends must switch to the
    * RETURNED model — cell assignment under the old model no longer
    * matches the published layout. Stop a running append sink at a
    * committed checkpoint before refitting and restart it with the new
    * model: a batch replayed from BEFORE the refit would re-add rows
    * the rebuild already folded into the new base (its dynamic
    * `(cell, b=batchId)` overwrite no longer owns those rows' dirs) —
    * the same committed-boundary rule as [[graft.io.Batches.compact]]'s
    * `upTo`. */
  def refitIvfIndex(spark: org.apache.spark.sql.SparkSession,
                    path: String, idCol: String, nLists: Int,
                    iters: Int = 10, sampleCap: Int = 4096,
                    filesPerCell: Int = 1): IvfModel = {
    graft.io.Fs.recoverPublished(spark, path)
    val live = spark.read.parquet(path)
      .filter(graft.io.Tagged.live(spark, path))
      .select(col(idCol), col("cv"))
    val sample = live
      .select(col("cv"), md5(col(idCol).cast("string")).as("h"))
      .orderBy("h").limit(sampleCap)
      .collect().map(_.getSeq[Long](0).toArray)
    val model = fitQuantizedSample(sample, nLists, iters)
    // the staging write CONSUMES the old index (live reads it) before
    // publish touches the path; the new index is a clean single-base
    // build — b=-1 everywhere, no watermark markers (a fresh stream
    // starts its b= tags from scratch)
    publishIvfBuild(live.withColumn("cell", cellOfQuantized(model,
      col("cv"))), idCol, path, filesPerCell)
    model
  }

  /** IVF top-k against a persisted index: identical semantics to
    * [[ivfTopK]] but the corpus side is the partitioned index, so only
    * the probed cells' directories are read.
    *
    * The pruning is STATIC, not left to dynamic partition pruning: the
    * distinct probed cell set is collected to the driver (bounded by
    * nLists — a few thousand ints at most, one narrow job over the
    * query set) and pushed as a `cell IN (...)` partition filter, so
    * the index listing skips unprobed directories deterministically.
    * DPP was measured falling back to a full-index scan on larger
    * inputs (AQE replaces the pruning subquery with `true` when its
    * broadcast-reuse heuristic declines — a 30× multiplied corpus read
    * the whole index under the pre-static-pruning build); a 100 TB index
    * cannot ride on that heuristic.
    * IvfIndexSpec pins files-read == probed cells' files. */
  def ivfTopKIndexed(model: IvfModel, spark: org.apache.spark.sql.SparkSession,
                     indexPath: String, queries: DataFrame, idCol: String,
                     vecCol: String, nProbe: Int, k: Int): DataFrame = {
    // heal a crash inside a writeIvfIndex publish (bak-swap, Fs.publish):
    // if the index path vanished mid-swap, the surviving _bak_ copy is
    // moved back before serving — the reference loader's main-then-.bak
    // order (app/utils.py:405-441) applied to the index directory
    graft.io.Fs.recoverPublished(spark, indexPath)
    val scored = probeLiveCells(model, spark, indexPath,
        queries.select(col(idCol).as("query_id"),
          quantize(col(vecCol)).as("qv")), nProbe,
        col(idCol).as("corpus_id"), col("cv"))
      .withColumn("cosine", qcosine(col("qv"), col("cv")))
    rankTopK(scored, "cosine", k, desc = true)
  }

  /** Sampled RECALL MONITOR for a persisted IVF index — the drift
    * gauge for the frozen coarse quantizer: [[appendToIvfIndex]]
    * routes new vectors through centroids fit on the ORIGINAL
    * distribution, so a drifting append stream piles into cells that
    * no longer separate neighborhoods and nProbe-bounded search
    * quietly loses true neighbors — no error, just sinking recall.
    *
    * The monitor samples `nQueries` LIVE index vectors
    * deterministically (md5 order on id, so successive runs are
    * comparable), runs the indexed nProbe search against brute force
    * over the SAME live rows, and returns the mean recall@k. Cost:
    * one brute-force corpus pass for the sampled queries (broadcast
    * queries, map-only scan + top-k window) plus one pruned indexed
    * probe — the standard recall-eval bill, paid on the monitoring
    * cadence, never per search. */
  def ivfRecallProbe(spark: org.apache.spark.sql.SparkSession,
                     indexPath: String, model: IvfModel, idCol: String,
                     nProbe: Int, k: Int, nQueries: Int = 64): Double = {
    graft.io.Fs.recoverPublished(spark, indexPath)
    val live = spark.read.parquet(indexPath)
      .filter(graft.io.Tagged.live(spark, indexPath))
      .select(col(idCol), col("cv"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val q = live
      .withColumn("_h", md5(col(idCol).cast("string")))
      .orderBy("_h").limit(nQueries)
      .select(col(idCol).as("query_id"), col("cv").as("qv"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    def topK(candidates: DataFrame): DataFrame =
      rankTopK(candidates, "cosine", k, desc = true)
    val exact = topK(live.select(col(idCol).as("corpus_id"), col("cv"))
      .crossJoin(broadcast(q))
      .filter(col("corpus_id") =!= col("query_id"))
      .withColumn("cosine", qcosine(col("qv"), col("cv"))))
    // approx side: the same cell-pruned probe as [[ivfTopKIndexed]],
    // on the already-quantized sampled vectors
    val approx = topK(probeLiveCells(model, spark, indexPath, q, nProbe,
        col(idCol).as("corpus_id"), col("cv"))
      .withColumn("cosine", qcosine(col("qv"), col("cv"))))
    val r = recallAtK(approx, exact)
      .agg(avg(col("recall"))).head()
    live.unpersist(); q.unpersist()
    if (r.isNullAt(0)) 1.0 else r.getDouble(0) // empty index: vacuously fine
  }

  /** Drift monitor + REFIT TRIGGER: measure the sampled recall of the
    * persisted index under its current (frozen) quantizer; when it
    * has sunk below `recallFloor`, refit the quantizer from the
    * index's current live rows ([[refitIvfIndex]] — bak-swap publish,
    * safe against concurrent readers) and return the new model.
    * Returns (model to use from now on, measured recall BEFORE any
    * refit, whether a refit happened). The caller owns the cadence
    * (per N appends, per compaction, nightly) and should re-probe
    * after a refit if it wants the post-fix number on record. */
  def ivfMonitorAndRefit(spark: org.apache.spark.sql.SparkSession,
                         indexPath: String, model: IvfModel, idCol: String,
                         nLists: Int, nProbe: Int, k: Int,
                         recallFloor: Double, nQueries: Int = 64,
                         iters: Int = 10, sampleCap: Int = 4096,
                         filesPerCell: Int = 1)
      : (IvfModel, Double, Boolean) = {
    val recall = ivfRecallProbe(spark, indexPath, model, idCol, nProbe,
      k, nQueries)
    if (recall < recallFloor)
      (refitIvfIndex(spark, indexPath, idCol, nLists, iters, sampleCap,
        filesPerCell), recall, true)
    else (model, recall, false)
  }

  /** Embedding-cosine near-duplicate pairs: all (a, b), a < b, with
    * cosine >= minCos — banded sign-LSH OR-construction (the embedding
    * analog of MinHash banding): `bands × planesPerBand` hyperplanes,
    * a pair becomes a candidate when it collides in AT LEAST ONE band,
    * then every candidate is EXACT-verified (quantized-integer cosine).
    *
    * Why banded: a single wide band has recall p^nPlanes (p = per-plane
    * collision prob, ≈ 1 − θ/π); at cos 0.99 (θ ≈ 8°) one 8-plane band
    * catches only ~0.69 of true pairs. OR-ing `bands` bands lifts
    * recall to 1 − (1 − p^planesPerBand)^bands ≈ 0.99 at the default
    * 4×8 dial. Band WIDTH is the selectivity knob: an 8-plane band has
    * 256 buckets, so a random pair collides in some band with
    * probability ≈ bands/256 ≈ 1.6% — narrower bands (more recall)
    * quadratically inflate the candidate set (4-plane bands = 16
    * buckets ≈ 22% collision, measured ~16× the candidates here); at a
    * larger corpus, widen the bands and add more of them.
    *
    * Scale shape: band keys are an EXPLODE (bands rows per vector, each
    * carrying the quantized vector — the standard per-table
    * materialization of multi-table LSH); candidates come from a hash
    * self-join on (band, key) and are exact-verified IN the join
    * projection, so a candidate costs one fused-QDot cosine per band it
    * collides in and nothing else — no pair-set shuffle, no join-back.
    * Random pairs collide in ~one band, so the duplicate-verify
    * overhead concentrates on true near-dups (all bands), which the
    * cheap post-filter DISTINCT then collapses; a distinct BEFORE
    * verification was measured strictly worse (the full candidate
    * stream — random collisions included — pays a shuffle plus two
    * vector join-backs, ~6× slower on a 60k-vector probe). Nothing is
    * ever all-pairs on the corpus. */
  def cosineNearDupPairs(df: DataFrame, idCol: String, vecCol: String,
                         dim: Int, minCos: Double,
                         planesPerBand: Int = 8, bands: Int = 4): DataFrame = {
    val bandRows = signBandKeys(df, idCol, vecCol, dim, planesPerBand, bands)
      .withColumnRenamed(idCol, "id")
    bandRows.as("x").join(bandRows.as("y"),
        col("x.band") === col("y.band") && col("x.key") === col("y.key") &&
          col("x.id") < col("y.id"))
      .select(col("x.id").as("a_id"), col("y.id").as("b_id"),
        qcosine(col("x.qv"), col("y.qv")).as("cosine"))
      .filter(col("cosine") >= minCos)
      .distinct()
  }

  /** One row per (vector, band): the sign-LSH band bucket keys of a
    * vector plus its quantized form (`qv`) for exact verification —
    * shared by [[cosineNearDupPairs]] and the streaming embedding
    * near-dup sink (whose persisted index stores these rows; the
    * quantized vector rides along because a band key alone cannot
    * justify a drop — see the sink's scaladoc). */
  def signBandKeys(df: DataFrame, idCol: String, vecCol: String,
                   dim: Int, planesPerBand: Int, bands: Int): DataFrame = {
    val nPlanes = planesPerBand * bands
    require(nPlanes <= 60, "sign signature must fit a BIGINT")
    val mask = (1L << planesPerBand) - 1
    val sig = df.join(lshBuckets(df, idCol, vecCol, nPlanes, dim), idCol)
      .select(col(idCol), quantize(col(vecCol)).as("qv"), col("bucket"))
    sig.select(col(idCol), col("qv"),
      explode(array((0 until bands).map(b => struct(
        lit(b).as("band"),
        shiftrightunsigned(col("bucket"), b * planesPerBand)
          .bitwiseAND(lit(mask)).as("key"))): _*)).as("bk"))
      .select(col(idCol), col("qv"),
        col("bk.band").as("band"), col("bk.key").as("key"))
  }

  /** Semantic dedup over an embedding column (the SemDeDup recipe:
    * Abbas et al. 2023, "SemDeDup: Data-efficient learning at
    * web-scale through semantic deduplication" — keep one exemplar per
    * group of embedding-near-duplicates): a vector survives iff NO
    * smaller-id vector lies within `minCos` of it. The pairwise
    * dominance rule, deterministic and order-free — on a chain
    * a~b, b~c, !(a~c) it drops BOTH b and c (each has a smaller-id
    * near-dup), where a keep-set-aware greedy scan would re-admit c;
    * that sequential scan is inherently order-dependent, and for
    * near-dup graphs (cliques in practice — near-duplication is
    * ~transitive at high minCos) the two rules coincide.
    *
    * Scale shape: the drop set derives from [[cosineNearDupPairs]]
    * (banded sign-LSH candidates, exact quantized-integer verify —
    * nothing all-pairs), so it is pair-scale; the final keep filter is
    * one left_anti hash join of the corpus against it. Returns the
    * surviving input rows unchanged. */
  def semanticDedup(df: DataFrame, idCol: String, vecCol: String,
                    dim: Int, minCos: Double,
                    planesPerBand: Int = 8, bands: Int = 4): DataFrame = {
    val dominated = cosineNearDupPairs(df, idCol, vecCol, dim, minCos,
      planesPerBand, bands)
      .select(col("b_id").as(idCol)).distinct()
    df.join(dominated, Seq(idCol), "left_anti")
  }
}
