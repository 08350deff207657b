package graft

import graft.ops.Spectral
import org.apache.spark.sql.functions._

/** ops/Spectral — exact-integer PCA: planted-direction recovery, parity
  * with a double-precision reference iteration, determinism, and the
  * degenerate zero-covariance guards. */
class SpectralSpec extends SparkSpec {
  import spark.implicits._

  private val dim = 8

  /** Deterministic planted corpus: x_i = a_i·u + small structured
    * noise, with u the dominant axis by construction (spread of a_i
    * dwarfs the noise). */
  private def planted() = {
    val u = Array(0.6, 0.3, -0.5, 0.2, 0.0, -0.4, 0.1, 0.3)
    val un = { val n = math.sqrt(u.map(x => x * x).sum); u.map(_ / n) }
    val rows = (0 until 200).map { i =>
      val a = (i % 41).toDouble - 20.0 // spread -20..20 along u
      val vec = Array.tabulate(dim) { k =>
        (a * un(k) + 0.01 * math.sin(i * 37 + k * 13)).toFloat
      }
      (i.toLong, vec.toSeq)
    }
    (rows.toDF("vec_id", "embedding"), un)
  }

  private def cosine(a: Array[Double], b: Array[Double]): Double = {
    val dot = a.zip(b).map { case (x, y) => x * y }.sum
    val na = math.sqrt(a.map(x => x * x).sum)
    val nb = math.sqrt(b.map(x => x * x).sum)
    dot / (na * nb)
  }

  test("planted dominant direction is recovered (|cos| > 0.99)") {
    val (df, u) = planted()
    val dir = Spectral.principalDirectionU6(df, "embedding", dim, 12)
      .map(_.toDouble)
    assert(math.abs(cosine(dir, u)) > 0.99)
  }

  test("integer iteration tracks a double-precision reference") {
    val (df, _) = planted()
    val (n, s, g) = Spectral.momentStats(df, "embedding", dim)
    val c = Spectral.covarianceN2(n, s, g)
    // double-precision power iteration on the same integer covariance
    val cd = c.map(_.map(_.toDouble))
    var v = Array.fill(dim)(1.0)
    for (_ <- 1 to 50) {
      val w = Array.tabulate(dim)(i =>
        (0 until dim).map(j => cd(i)(j) * v(j)).sum)
      val m = w.map(math.abs).max
      v = w.map(_ / m)
    }
    val vi = Spectral.powerIterU6(c, 12).map(_.toDouble)
    assert(math.abs(cosine(vi, v)) > 0.9999)
  }

  test("deterministic: two fits agree exactly") {
    val (df, _) = planted()
    val a = Spectral.principalDirectionU6(df, "embedding", dim, 12)
    val b = Spectral.principalDirectionU6(df, "embedding", dim, 12)
    assert(a.sameElements(b))
  }

  test("empty corpus: all-zero health row, empty outlier list, no crash") {
    val df = Seq.empty[(Long, Seq[Float])].toDF("vec_id", "embedding")
    val v = Spectral.pcaVariance(df, "embedding", dim, 12).collect()(0)
    assert(v.getAs[Long]("n_vecs") == 0L &&
      v.getAs[Long]("trace_e8") == 0L && v.getAs[Long]("share_bp") == 0L)
    assert(Spectral.pcaOutliers(df, "vec_id", "embedding", dim, 12, 5)
      .collect().isEmpty)
  }

  test("constant corpus: zero covariance collapses to the guard path") {
    val df = (0 until 20)
      .map(i => (i.toLong, Seq.fill(dim)(1.5f)))
      .toDF("vec_id", "embedding")
    val dir = Spectral.principalDirectionU6(df, "embedding", dim, 12)
    assert(dir.forall(_ == 0L))
    val v = Spectral.pcaVariance(df, "embedding", dim, 12).collect()(0)
    assert(v.getAs[Long]("n_vecs") == 20L)
    assert(v.getAs[Long]("trace_e8") == 0L)
    assert(v.getAs[Long]("lambda_e8") == 0L)
    assert(v.getAs[Long]("share_bp") == 0L)
  }

  test("projectU6 equals the zip_with+aggregate formulation") {
    val (df, _) = planted()
    val dir = Spectral.principalDirectionU6(df, "embedding", dim, 12)
    val viaKernel = Spectral.projectU6(df, "vec_id", "embedding", dir)
      .orderBy("vec_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    val dl = typedLit(dir.toSeq)
    val viaBuiltins = df.select(col("vec_id"),
        aggregate(
          zip_with(graft.ops.Embeddings.quantize(col("embedding")), dl,
            (a, b) => a * b),
          lit(0L), (acc, x) => acc + x).as("proj"))
      .orderBy("vec_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(viaKernel.sameElements(viaBuiltins))
  }

  test("pcaOutliers ranks by |projection| with id tie-break") {
    val (df, _) = planted()
    val out = Spectral.pcaOutliers(df, "vec_id", "embedding", dim, 12, 10)
      .collect()
    assert(out.length == 10)
    val mags = out.map(r => math.abs(r.getLong(1)))
    assert(mags.sameElements(mags.sortBy(-_)))
    // top row must carry the corpus-wide max |projection|
    val all = Spectral.projectU6(df, "vec_id", "embedding",
        Spectral.principalDirectionU6(df, "embedding", dim, 12))
      .agg(max(abs(col("proj")))).collect()(0).getLong(0)
    assert(mags.head == all)
  }

  test("streaming gram MV: served spectrum equals the batch fit at " +
    "every commit, and replaying a commit is idempotent") {
    val (df, _) = planted()
    val work = java.nio.file.Files.createTempDirectory("gram-mv").toString
    for (b <- 0 until 3) {
      graft.streaming.Ingest.gramView("embedding").commit(
        df.filter(pmod(col("vec_id"), lit(3)) === b), work, b.toLong)
      val served = graft.streaming.Ingest
        .readPcaVariance(spark, work, dim, 12).get.collect().toSeq
      val batchFit = Spectral.pcaVariance(
        df.filter(pmod(col("vec_id"), lit(3)) <= b), "embedding", dim, 12)
        .collect().toSeq
      assert(served == batchFit, s"batch $b")
    }
    // crash-replay: recommitting the last batch must not double-count
    graft.streaming.Ingest.gramView("embedding").commit(
      df.filter(pmod(col("vec_id"), lit(3)) === 2), work, 2L)
    val replayed = graft.streaming.Ingest
      .readPcaVariance(spark, work, dim, 12).get.collect().toSeq
    val full = Spectral.pcaVariance(df, "embedding", dim, 12)
      .collect().toSeq
    assert(replayed == full)
  }

  /** Two planted orthogonal axes with a 4:1 spread ratio — PC1 must
    * find the wide axis, the deflated PC2 the narrow one. */
  private def planted2() = {
    val u1 = Array(1.0, 1.0, 1.0, 1.0, 0.0, 0.0, 0.0, 0.0).map(_ / 2.0)
    val u2 = Array(0.0, 0.0, 0.0, 0.0, 1.0, -1.0, 1.0, -1.0).map(_ / 2.0)
    val rows = (0 until 400).map { i =>
      val a = ((i % 41).toDouble - 20.0)       // spread ±20 along u1
      val b = ((i % 11).toDouble - 5.0)        // spread ±5 along u2
      val vec = Array.tabulate(dim) { k =>
        (a * u1(k) + b * u2(k) + 0.01 * math.sin(i * 37 + k * 13)).toFloat
      }
      (i.toLong, vec.toSeq)
    }
    (rows.toDF("vec_id", "embedding"), u1, u2)
  }

  test("deflated second direction recovers the planted second axis") {
    val (df, u1, u2) = planted2()
    val (v1, v2) = Spectral.topTwoDirectionsU6(df, "embedding", dim, 12)
    assert(math.abs(cosine(v1.map(_.toDouble), u1)) > 0.99)
    assert(math.abs(cosine(v2.map(_.toDouble), u2)) > 0.99)
    // near-orthogonal by construction of the deflation
    assert(math.abs(cosine(v1.map(_.toDouble), v2.map(_.toDouble))) < 0.05)
  }

  test("top-2 shares: ordered, and near-exhaustive on a rank-2 corpus") {
    val (df, _, _) = planted2()
    val r = Spectral.topTwoShares(df, "embedding", dim, 12).collect()(0)
    val s1 = r.getAs[Long]("share1_bp"); val s2 = r.getAs[Long]("share2_bp")
    assert(s1 >= s2 && s2 > 0)
    assert(s1 + s2 > 9900L) // the planted corpus is essentially rank 2
  }

  test("rank-1 corpus: second share collapses to ~0") {
    val (df, _) = planted() // single planted axis + tiny noise
    val r = Spectral.topTwoShares(df, "embedding", dim, 12).collect()(0)
    assert(r.getAs[Long]("share1_bp") > 9900L)
    assert(r.getAs[Long]("share2_bp") < 100L)
  }

  test("ragged corpora: over-long vectors truncate at dim (the oracle's " +
    "generate_series view), short vectors contribute only present dims") {
    val full = (0 until 30).map(i =>
      (i.toLong, (0 until dim).map(k => (i * (k + 1) % 7 - 3).toFloat)))
    // same corpus with 8 trailing junk components on every vector —
    // stats at `dim` must be IDENTICAL (truncation, not a crash)
    val long = full.map { case (id, v) =>
      (id, v ++ (0 until 8).map(k => (99 + k).toFloat)) }
    val (n1, s1, g1) = Spectral.momentStats(
      full.toDF("vec_id", "embedding"), "embedding", dim)
    val (n2, s2, g2) = Spectral.momentStats(
      long.toDF("vec_id", "embedding"), "embedding", dim)
    assert(n1 == n2 && s1.sameElements(s2))
    assert(g1.map(_.toSeq).toSeq == g2.map(_.toSeq).toSeq)
    // a short vector simply contributes nothing to its absent dims
    val mixed = full.take(29) :+ (29L, (0 until dim / 2)
      .map(k => 1.0f))
    val v = Spectral.pcaVariance(
      mixed.toDF("vec_id", "embedding"), "embedding", dim, 12).collect()(0)
    assert(v.getAs[Long]("n_vecs") == 30L) // total, no crash
  }

  test("invariants over seeded random PSD matrices: renorm bound and " +
    "share range") {
    val rnd = new scala.util.Random(42)
    for (_ <- 1 to 20) {
      val d = 1 + rnd.nextInt(12)
      // C = BᵀB is PSD for any integer B
      val b = Array.fill(d, d)(BigInt(rnd.nextInt(2001) - 1000))
      val c = Array.tabulate(d, d)((i, j) =>
        (0 until d).map(k => b(k)(i) * b(k)(j)).sum)
      val v = Spectral.powerIterU6(c, 8)
      val maxAbs = v.map(math.abs).max
      assert(maxAbs == 1000000L || v.forall(_ == 0L))
      val trace = (0 until d).map(i => c(i)(i)).sum
      val s1 = Spectral.rayleighShareBp(c, trace, v.map(BigInt(_)))
      assert(s1 >= 0 && s1 <= 10000)
      val v2 = Spectral.powerIterU6(
        Spectral.deflateScaled(c, v.map(BigInt(_))), 8)
      val s2 = Spectral.rayleighShareBp(c, trace, v2.map(BigInt(_)))
      assert(s2 >= 0 && s2 <= 10000)
    }
  }

  test("variance summary: dominant share is high on the planted corpus") {
    val (df, _) = planted()
    val v = Spectral.pcaVariance(df, "embedding", dim, 12).collect()(0)
    assert(v.getAs[Long]("n_vecs") == 200L)
    // the planted axis carries nearly all variance
    assert(v.getAs[Long]("share_bp") > 9500L)
    assert(v.getAs[Long]("lambda_e8") <= v.getAs[Long]("trace_e8") + 1)
  }
}
