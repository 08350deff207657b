package graft

import graft.ops.{TextDedup, TextStats}
import org.apache.spark.sql.functions._

class TextDedupSpec extends SparkSpec {
  import spark.implicits._

  private def docs(rows: (Long, String)*) =
    rows.toDF("doc_id", "text")

  test("exactDedup groups identical content, keeps min id") {
    val d = docs(1L -> "a b c", 2L -> "a b c", 3L -> "x y z")
    val out = TextDedup.exactDedup(d, "doc_id", "text")
      .orderBy("keep_id").collect()
    assert(out.length == 2)
    assert(out(0).getAs[Long]("keep_id") == 1L)
    assert(out(0).getAs[Long]("n_copies") == 2L)
    assert(out(1).getAs[Long]("keep_id") == 3L)
    assert(out(1).getAs[Long]("n_copies") == 1L)
  }

  test("exactDedupKeepBest: normalized identity, longest raw survivor, min-id ties, columns carried") {
    val d = Seq(
      (1L, "a b c", "s0"),        // shortest variant of group 1
      (2L, "  A  b\tC ", "s1"),   // same normalized text, longer raw
      (3L, "A B C", "s2"),        // same normalized, len 5 — ties id 1
      (4L, "x y z", "s3"))        // singleton group
      .toDF("doc_id", "text", "source")
    val out = TextDedup.exactDedupKeepBest(d, "doc_id", "text")
      .orderBy("doc_id").collect()
    assert(out.length == 2)
    // group {1,2,3}: doc 2's raw text is longest (9 chars) — it wins
    // over the min-id policy that plain exactDedup would apply
    assert(out(0).getAs[Long]("doc_id") == 2L)
    assert(out(0).getAs[Long]("n_chars") == 9L)
    assert(out(0).getAs[String]("source") == "s1") // input columns ride
    assert(out(1).getAs[Long]("doc_id") == 4L)
    // tie-break: drop doc 2, docs 1 and 3 both have n_chars 5 → min id
    val tied = TextDedup.exactDedupKeepBest(
      d.filter($"doc_id" =!= 2L), "doc_id", "text")
      .orderBy("doc_id").collect()
    assert(tied.map(_.getAs[Long]("doc_id")).toSeq == Seq(1L, 4L))
    // norm_hash equals the normalized-identity hash withNormalized emits
    val nh = TextStats.withNormalized(d, "doc_id", "text")
      .filter($"doc_id" === 2L).collect().head.getAs[Long]("norm_hash")
    assert(out(0).getAs[Long]("norm_hash") == nh)
  }

  test("jaccardPairs finds near-dups and scores them exactly") {
    // doc 1 and 2 share 4 of their 3-gram shingles; doc 3 is unrelated
    val d = docs(
      1L -> "a b c d e f",      // shingles: abc bcd cde def (4)
      2L -> "a b c d e g",      // shingles: abc bcd cde deg (4) → ∩=3, ∪=5
      3L -> "q r s t u v")
    val out = TextDedup.jaccardPairs(d, "doc_id", "text", 3, 0.5)
      .collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getAs[Long]("a_id") == 1L && r.getAs[Long]("b_id") == 2L)
    assert(r.getAs[Long]("n_common") == 3L)
    assert(math.abs(r.getAs[Double]("jaccard") - 0.6) < 1e-12)
  }

  test("containmentPairs: directed subset detection where jaccard is blind") {
    val big = (1 to 40).map(i => s"w$i").mkString(" ")
    val excerpt = (1 to 12).map(i => s"w$i").mkString(" ")
    val d = docs(1L -> big, 2L -> excerpt, 3L -> "unrelated text here")
    // excerpt ⊂ big: containment(2 → 1) = 1.0, but J = 10/38 ≈ 0.26
    val c = TextDedup.containmentPairs(d, "doc_id", "text", 3, 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getAs[Double]("containment")))
    assert(c.toSeq == Seq((2L, 1L, 1.0)), s"got ${c.toSeq}")
    // the symmetric op misses it at the same bar
    assert(TextDedup.jaccardPairs(d, "doc_id", "text", 3, 0.9)
      .collect().isEmpty)
    // candidate generation is exact: the one-sided prefix join finds
    // the pair even when the shared shingles are the corpus-commonest
    // (prefix = rarest-first would not hold them on the contained side
    // alone — the full container index does)
    val guard = TextDedup.containmentPairs(d, "doc_id", "text", 3, 0.9,
      restrictSets = false).collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(guard.toSeq == Seq((2L, 1L)))
  }

  test("jaccard dedup output is a subset of input pairs (property)") {
    val d = Tables.documents(spark, "/root/testdata/sf0.001")
    val ids = d.select("doc_id").as[Long].collect().toSet
    val pairs = TextDedup.jaccardPairs(d, "doc_id", "text", 3, 0.8).collect()
    pairs.foreach { r =>
      assert(ids.contains(r.getAs[Long]("a_id")))
      assert(ids.contains(r.getAs[Long]("b_id")))
      assert(r.getAs[Long]("a_id") < r.getAs[Long]("b_id"))
      assert(r.getAs[Double]("jaccard") >= 0.8 &&
        r.getAs[Double]("jaccard") <= 1.0)
    }
  }

  test("MinHashK fused kernel matches the declarative k-min-aggregates signature") {
    // the codegen kernel must be value-identical to the groupBy
    // formulation it replaced (hash family h_i(s) = ((2i+1)(s mod P) +
    // (17i+91)) mod P, k min aggregates over the exploded index)
    val P = graft.functions.MinHashK.P
    val k = 16
    val d = Tables.documents(spark, "/root/testdata/sf0.001")
    val fused = TextDedup.minhashSignatures(
        TextDedup.shingleHashSets(d, "doc_id", "text", 3), "doc_id", k)
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    val sh = TextDedup.shingleHashes(d, "doc_id", "text", 3)
    val hh = (col("sh_h") % P).as("hh")
    val aggs = (0 until k).map { i =>
      min((lit(i * 2L + 1) * col("hh") + lit(i * 17L + 91)) % P).as(s"mh$i")
    }
    val ref = sh.select(col("doc_id"), hh).groupBy(col("doc_id"))
      .agg(aggs.head, aggs.tail: _*)
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    assert(fused.nonEmpty && fused == ref)
  }

  test("minhash signatures and band keys are shuffle-free projections") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val d = Tables.documents(spark, "/root/testdata/sf0.001")
      Seq(
        TextDedup.minhashSignatures(
          TextDedup.shingleHashSets(d, "doc_id", "text", 3), "doc_id", 16),
        TextDedup.bandKeys(d, "doc_id", "text", 3, 16, 4)
      ).foreach { q =>
        val plan = q.queryExecution.executedPlan
        assert(plan.collect { case s: ShuffleExchangeLike => s }.isEmpty,
          s"expected a pure projection:\n$plan")
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  test("banded self-joins reuse the signature exchange — one map pass over the corpus") {
    // the anchor contract: the tokenize+md5+signature map work sits
    // under ONE exchange that both self-join sides (and the verify
    // path's set joins, where shapes allow) replay — visible statically
    // as a ReusedExchange in the non-AQE plan (AQE's stage cache does
    // the same at runtime)
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val d = Tables.documents(spark, "/root/testdata/sf0.001")
      Seq(
        "minhashLshPairs" ->
          TextDedup.minhashLshPairs(d, "doc_id", "text", 3, 16, 4, 0.8),
        "simhashPairs" ->
          TextDedup.simhashPairs(d, "doc_id", "text", 10)
      ).foreach { case (name, q) =>
        val reused = q.queryExecution.executedPlan.collect {
          case r: ReusedExchangeExec => r
        }
        assert(reused.nonEmpty,
          s"$name: no ReusedExchange — self-join sides recompute the corpus map work")
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  test("verifyPairs set restriction (scale default) is row-identical and semi-joins the set table") {
    // the 100 TB contract: with restrictSets (the library default) the
    // corpus-wide shingle-set table is cut to candidate-pair ids by a
    // LeftSemi join BEFORE the two pair joins, so only candidate docs'
    // sets ever shuffle; restrictSets = false (the benched local mode)
    // skips the semi join. Both modes must return identical rows —
    // the pair joins are inner on candidate ids, so the restriction
    // can never change the output.
    import org.apache.spark.sql.catalyst.plans.LeftSemi
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    val d = Tables.documents(spark, "/root/testdata/sf0.001")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("a_id", "b_id").collect().toSeq
    val scaleJ = TextDedup.jaccardPairs(d, "doc_id", "text", 3, 0.8)
    assert(canon(scaleJ) == canon(TextDedup.jaccardPairs(
      d, "doc_id", "text", 3, 0.8, restrictSets = false)))
    assert(canon(TextDedup.minhashLshPairs(d, "doc_id", "text", 3, 16, 4, 0.8))
      == canon(TextDedup.minhashLshPairs(d, "doc_id", "text", 3, 16, 4, 0.8,
        restrictSets = false)))
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val plan = TextDedup.jaccardPairs(d, "doc_id", "text", 3, 0.8)
        .queryExecution.executedPlan
      val semis = plan.collect {
        case j: BaseJoinExec if j.joinType == LeftSemi => j
      }
      assert(semis.nonEmpty,
        s"scale mode: no LeftSemi set restriction in the plan:\n$plan")
      val plainPlan = TextDedup.jaccardPairs(d, "doc_id", "text", 3, 0.8,
          restrictSets = false)
        .queryExecution.executedPlan
      assert(plainPlan.collect {
        case j: BaseJoinExec if j.joinType == LeftSemi => j
      }.isEmpty, "local mode must not pay the semi-join barriers")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  test("minhashLshPairs achieves full recall on high-jaccard pairs") {
    // LSH (16 sigs, 4 bands) must find everything jaccardPairs finds at
    // J>=0.9 (theoretical recall at 0.9 with r=4: 1-(1-0.9^4)^4 ≈ 0.98;
    // on the seeded near-dup corpus the pairs are J≈0.99 → recall 1)
    val d = Tables.documents(spark, "/root/testdata/sf0.001")
    val exact = TextDedup.jaccardPairs(d, "doc_id", "text", 3, 0.9)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = TextDedup.minhashLshPairs(d, "doc_id", "text", 3, 16, 4, 0.9)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "fixture should contain near-dup pairs")
    assert(exact == lsh)
  }

  test("simhash: identical docs have hamming 0 and are found") {
    val d = docs(1L -> "alpha beta gamma delta", 2L -> "alpha beta gamma delta",
      3L -> "unrelated words entirely here")
    val out = TextDedup.simhashPairs(d, "doc_id", "text", 0).collect()
    assert(out.exists(r => r.getAs[Long]("a_id") == 1L &&
      r.getAs[Long]("b_id") == 2L && r.getAs[Long]("hamming") == 0L))
  }

  test("collapseExact mines pairs between exact-group representatives only") {
    // docs 1,2,3 are exact copies; doc 4 is a near-dup of the group;
    // doc 5 is unrelated. Uncollapsed: within-group pairs (1,2) (1,3)
    // (2,3) all emit at hamming 0 — quadratic in group size. Collapsed:
    // the group participates ONLY through its min-id representative.
    val d = docs(
      1L -> "alpha beta gamma delta epsilon zeta",
      2L -> "alpha beta gamma delta epsilon zeta",
      3L -> "alpha beta gamma delta epsilon zeta",
      4L -> "alpha beta gamma delta epsilon eta",
      5L -> "unrelated words entirely here now")
    val collapsed = TextDedup.simhashPairs(d, "doc_id", "text", 10,
      collapseExact = true).collect()
    val pairs = collapsed.map(r =>
      (r.getAs[Long]("a_id"), r.getAs[Long]("b_id"))).toSet
    assert(!pairs.contains((1L, 2L)) && !pairs.contains((2L, 3L)),
      s"within-group pairs must not emit: $pairs")
    assert(pairs.contains((1L, 4L)), s"representative pair missing: $pairs")
    assert(pairs.forall { case (_, b) => b != 2L && b != 3L })
    // equivalence: collapsed output == uncollapsed over a
    // hand-collapsed corpus (reps = min id per exact text)
    val handReps = docs(
      1L -> "alpha beta gamma delta epsilon zeta",
      4L -> "alpha beta gamma delta epsilon eta",
      5L -> "unrelated words entirely here now")
    val expect = TextDedup.simhashPairs(handReps, "doc_id", "text", 10)
      .collect().map(_.toString).sorted
    assert(collapsed.map(_.toString).sorted.sameElements(expect))
    // no exact dups -> flag is a no-op (bit-identical), across all four
    // pair entry points' shared exactReps path
    val clean = docs(1L -> "alpha beta gamma delta epsilon zeta",
      4L -> "alpha beta gamma delta epsilon eta",
      5L -> "unrelated words entirely here now")
    val on = TextDedup.jaccardPairs(clean, "doc_id", "text", 3, 0.5,
      collapseExact = true).collect().map(_.toString).sorted
    val off = TextDedup.jaccardPairs(clean, "doc_id", "text", 3, 0.5)
      .collect().map(_.toString).sorted
    assert(on.sameElements(off))
  }

  test("simhashSignatures is a pure projection — no shuffle in the plan") {
    // the 100 TB contract for the map-side rewrite: signatures fold
    // per-row over the token array; nothing about the corpus shuffles
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val d = Tables.documents(spark, "/root/testdata/sf0.001")
      val plan = TextDedup.simhashSignatures(d, "doc_id", "text")
        .queryExecution.executedPlan
      assert(plan.collect { case s: ShuffleExchangeLike => s }.isEmpty,
        s"simhashSignatures shuffles:\n$plan")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  test("SimHash60 fused kernel matches the declarative explode-form signature") {
    // the codegen kernel must be bit-identical to the reference
    // formulation (explode tokens x bits, sign-sum per bit) it replaced
    val d = Tables.documents(spark, "/root/testdata/sf0.001")
    val fused = TextDedup.simhashSignatures(d, "doc_id", "text")
      .orderBy("doc_id").as[(Long, Long)].collect().toSeq
    val tok = d.select(col("doc_id"),
        explode(TextDedup.tokens(col("text"))).as("t"))
      .withColumn("h", TextDedup.md5Hash60(col("t")))
    val ref = tok.select(col("doc_id"), col("h"),
        explode(sequence(lit(0), lit(59))).as("b"))
      .withColumn("sign",
        when(expr("shiftrightunsigned(h, CAST(b AS INT)) & 1") === 1L,
          lit(1L)).otherwise(lit(-1L)))
      .groupBy(col("doc_id"), col("b")).agg(sum("sign").as("s"))
      .groupBy(col("doc_id"))
      .agg(sum(when(col("s") > 0,
        expr("shiftleft(CAST(1 AS BIGINT), CAST(b AS INT))")).otherwise(lit(0L)))
        .as("simhash"))
      .orderBy("doc_id").as[(Long, Long)].collect().toSeq
    assert(fused.nonEmpty && fused == ref)
  }

  test("simhash signature is 60-bit non-negative") {
    val d = Tables.documents(spark, "/root/testdata/sf0.001")
    val sigs = TextDedup.simhashSignatures(d, "doc_id", "text")
      .select("simhash").as[Long].collect()
    sigs.foreach(sg => assert(sg >= 0L && sg < (1L << 60)))
  }

  test("langId picks the profile with most stopword hits; und when none") {
    val d = Seq(
      (1L, "the cat and the dog is a friend of mine"),
      (2L, "el perro es de los gatos la casa"),
      (3L, "zzz qqq www")).toDF("doc_id", "text")
    val out = d.select(col("doc_id"), TextStats.langId(col("text")).as("l"))
      .orderBy("doc_id").as[(Long, String)].collect()
    assert(out(0)._2 == "en")
    assert(out(1)._2 == "es")
    assert(out(2)._2 == "und")
  }

  test("fingerprint is order-sensitive, stable, and 0 for empty") {
    val d = Seq((1L, "a b c"), (2L, "c b a"), (3L, "a b c"), (4L, ""))
      .toDF("doc_id", "text")
    val out = d.select(col("doc_id"),
        TextStats.fingerprint(col("text")).as("fp"))
      .orderBy("doc_id").as[(Long, Long)].collect().map(_._2)
    assert(out(0) != out(1)) // order matters
    assert(out(0) == out(2)) // deterministic
    assert(out(3) == 0L)
  }

  test("nearDupClusters: min-label propagation closes chains, singletons keep own id") {
    val ids = Seq(1L, 2L, 3L, 4L, 10L, 11L).toDF("doc_id")
    // chain 1-2-3 (1 and 3 never directly paired: needs 2 rounds),
    // pair 10-11, singleton 4
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("a_id", "b_id")
    val out = TextDedup.nearDupClusters(ids, pairs, "doc_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L,
      10L -> 10L, 11L -> 10L))
    // long chain: diameter 5, still converges inside maxIter
    val chainIds = (1L to 6L).toDF("doc_id")
    val chain = (1L to 5L).map(i => (i, i + 1)).toDF("a_id", "b_id")
    val c = TextDedup.nearDupClusters(chainIds, chain, "doc_id")
      .collect().map(r => r.getLong(1)).distinct
    assert(c.sameElements(Array(1L)))
  }

  test("nearDupClusters fixed-rounds with a reliable checkpoint dir matches the default path") {
    val ids = Seq(1L, 2L, 3L, 4L, 10L, 11L).toDF("doc_id")
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("a_id", "b_id")
    val expect = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L,
      10L -> 10L, 11L -> 10L)
    val ckpt = java.nio.file.Files.createTempDirectory("graft_cc_ckpt")
      .toString
    // executor-loss-resilient mode for real clusters: edges checkpoint
    // to a durable dir instead of executor-local blocks
    val out = TextDedup.nearDupClusters(ids, pairs, "doc_id", rounds = 3,
        checkpointDir = Some(ckpt))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == expect)
    // the checkpoint actually landed in the durable dir
    val files = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
        else Seq(f)
      walk(new java.io.File(ckpt))
    }
    assert(files.nonEmpty, "no reliable checkpoint files written")
  }

  test("contamination counts per-eval-doc shingle overlap with train") {
    val train = docs(
      1L -> "a b c d e",        // 3-shingles: abc bcd cde
      2L -> "x y z w v")
    val ev = docs(
      10L -> "a b c d q",       // abc bcd (2 of 3 in train)
      11L -> "p q r s t")       // none in train
    val out = TextDedup.contamination(train, ev, "doc_id", "text", 3)
      .orderBy("doc_id").collect()
    assert(out.map(_.getAs[Long]("doc_id")).toSeq == Seq(10L, 11L))
    assert(out(0).getAs[Long]("n_shingles") == 3L)
    assert(out(0).getAs[Long]("n_contaminated") == 2L)
    assert(math.abs(out(0).getAs[Double]("contamination_ratio") - 2.0 / 3) < 1e-12)
    assert(out(1).getAs[Long]("n_contaminated") == 0L)
    assert(out(1).getAs[Double]("contamination_ratio") == 0.0)
    // an eval doc shorter than n tokens has no shingles and therefore
    // no row — it cannot be assessed at this n (pinned semantics)
    val short = TextDedup.contamination(train, docs(12L -> "a b"),
      "doc_id", "text", 3).collect()
    assert(short.isEmpty)
  }

  test("contamination: broadcast and shuffle modes return identical rows") {
    val d = Tables.documents(spark, "/root/testdata/sf0.001")
    val train = d.filter(col("source") =!= "src0")
    val ev = d.filter(col("source") === "src0")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("doc_id").collect().map(_.toSeq).toSeq
    assert(
      canon(TextDedup.contamination(train, ev, "doc_id", "text", 3,
        broadcastEval = true)) ==
      canon(TextDedup.contamination(train, ev, "doc_id", "text", 3,
        broadcastEval = false)))
  }

  test("contamination broadcast mode: train scan is map-only up to the semi-join") {
    // the 100 TB contract: eval hashes broadcast and the train-side hash
    // stream is filtered BEFORE any exchange — no shuffle keyed by the
    // train corpus may exist under the semi-join's streamed side
    import org.apache.spark.sql.catalyst.optimizer.BuildRight
    import org.apache.spark.sql.catalyst.plans.LeftSemi
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val d = Tables.documents(spark, "/root/testdata/sf0.001")
      val q = TextDedup.contamination(
        d.filter(col("source") =!= "src0"),
        d.filter(col("source") === "src0"), "doc_id", "text", 3)
      val semis = q.queryExecution.executedPlan.collect {
        case b: BroadcastHashJoinExec
          if b.joinType == LeftSemi && b.buildSide == BuildRight => b
      }
      assert(semis.nonEmpty, "expected a broadcast LeftSemi for the train filter")
      // the train-filter join is the one streaming a raw scan (no
      // aggregation below); every one of them must be exchange-free
      semis.foreach { j =>
        assert(j.left.collect { case s: ShuffleExchangeLike => s }.isEmpty,
          s"train side shuffles before the broadcast semi-join:\n${j.left}")
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  test("prefix candidates cover every true pair and prune the naive co-occurrence join") {
    // 30 docs sharing a boilerplate head (its shingles are in every
    // doc, the naive inverted-index join's hot keys), each with a
    // one-word-appended twin: J = 22/23 and both containments >= 0.9
    val base = (0 until 30).map { i =>
      i.toLong -> ("cookie banner accept all " +
        (0 until 20).map(k => s"w${(i * 7 + k * 3) % 97}").mkString(" "))
    }
    val d = docs(base ++ base.map { case (i, t) => (i + 100) -> (t + " edited") }: _*)
    val sh = TextDedup.shingleHashes(d, "doc_id", "text", 3)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val cand = pairs(TextDedup.prefixCandidates(sh, "doc_id", 0.8))
    val truth = pairs(TextDedup.jaccardPairs(d, "doc_id", "text", 3, 0.8))
    assert(truth.size >= 30 && truth.subsetOf(cand),
      s"prefix lemma lost pairs: ${truth -- cand}")
    val naive = sh.groupBy("sh_h").count()
      .agg(sum(expr("(count * (count - 1)) div 2"))).first().getLong(0)
    assert(cand.size * 4 <= naive,
      s"prefix filtering ineffective: ${cand.size} candidates vs $naive naive")
    val contCand = pairs(TextDedup.containmentCandidates(sh, "doc_id", 0.9))
    val contTruth = pairs(TextDedup.containmentPairs(d, "doc_id", "text", 3, 0.9))
    assert(contTruth.size >= 60 && contTruth.subsetOf(contCand),
      s"one-sided prefix lemma lost pairs: ${contTruth -- contCand}")
  }

  test("bloom pre-filter passes the benchmark's shingles and prunes the rest") {
    // assessed = benchmark docs verbatim + the same docs with every
    // token salted, whose shingles are all outside the benchmark
    val bench = docs((0 until 20).map(i =>
      i.toLong -> (0 until 12).map(k => s"t${i * 13 + k}").mkString(" ")): _*)
    val assessed = bench.union(bench.select((col("doc_id") + 1000L).as("doc_id"),
      regexp_replace(col("text"), "(\\S+)", "$1q").as("text")))
    val hashes = TextDedup.benchmarkHashSet(bench, "text", 3)
    val bloom = hashes.stat.bloomFilter("sh_h", hashes.count(), 0.001)
    val stream = TextDedup.shingleHashes(assessed, "doc_id", "text", 3)
    val passed = stream.filter(graft.functions.BloomMightContainLong
      .mightContain(col("sh_h"), spark.sparkContext.broadcast(bloom))).count()
    // no false negatives: all 200 benchmark shingles pass; at fpp 0.001
    // the 200 salted ones are (all but a handful) pruned
    assert(stream.count() == 400L && passed >= 200L && passed < 210L,
      s"$passed of 400 shingle rows passed the bloom")
  }

  test("bloom-guarded contamination is row-identical to the exact path and pre-filters map-side") {
    // no-false-negatives: the bloom pre-filter may only ADD candidates
    // the exact semi-join then removes, so rows must match exactly —
    // for any filter sizing, including a deliberately undersized one
    // (high fpp → many false positives, all confirmed away)
    import org.apache.spark.sql.execution.FilterExec
    val d = Tables.documents(spark, "/root/testdata/sf0.001")
    val bench = TextDedup.benchmarkHashSet(
      d.filter(col("source") =!= "src0"), "text", 3)
    val assessed = d.filter(col("source") === "src0")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("doc_id").collect().map(_.toSeq).toSeq
    val exact = canon(TextDedup.contaminationAgainst(
      assessed, "doc_id", "text", 3, bench))
    Seq((200000L, 0.01), (100L, 0.5)).foreach { case (items, fpp) =>
      val guarded = TextDedup.contaminationBloomGuarded(
        assessed, "doc_id", "text", 3, bench, items, fpp)
      assert(canon(guarded) == exact, s"items=$items fpp=$fpp")
    }
    // the probe is a real map-side Filter in the physical plan
    // (AQE off for the plan walk, as in the sibling plan asserts)
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val plan = TextDedup.contaminationBloomGuarded(
          assessed, "doc_id", "text", 3, bench, 200000L, 0.01)
        .queryExecution.executedPlan
      val blooms = plan.collect {
        case f: FilterExec
          if f.condition.toString.contains("bloom_might_contain_long") => f
      }
      assert(blooms.nonEmpty, s"no bloom pre-filter in plan:\n$plan")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  test("contaminationAgainst a prebuilt hash set equals the role-swapped operator") {
    val d = Tables.documents(spark, "/root/testdata/sf0.001")
    val bench = d.filter(col("source") === "src0")
    val assessed = d.filter(col("source") =!= "src0")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("doc_id").collect().map(_.toSeq).toSeq
    val probe = TextDedup.benchmarkHashSet(bench, "text", 3)
    assert(
      canon(TextDedup.contaminationAgainst(assessed, "doc_id", "text", 3,
        probe)) ==
      canon(TextDedup.contamination(bench, assessed, "doc_id", "text", 3)))
  }

  test("contaminationAgainst a persisted probe set reads the cache, not the benchmark") {
    // the streaming-guard contract: once benchmarkHashSet is persisted,
    // a per-batch score must probe the materialized set — the benchmark
    // corpus itself may not be re-tokenized in the per-batch plan. The
    // benchmark here is a LOCAL relation, so any leak of it into the
    // plan would surface as a LocalTableScan; the assessed side reads
    // parquet, so the two sources are distinguishable by node type.
    import org.apache.spark.sql.execution.LocalTableScanExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val bench = docs(
      100L -> "alpha beta gamma delta epsilon zeta",
      101L -> "one two three four five six seven")
    val assessed = Tables.documents(spark, "/root/testdata/sf0.001")
    val probe = TextDedup.benchmarkHashSet(bench, "text", 3).persist()
    try {
      probe.count()
      val q = TextDedup.contaminationAgainst(assessed, "doc_id", "text", 3,
        org.apache.spark.sql.functions.broadcast(probe))
      val plan = q.queryExecution.executedPlan
      assert(plan.collect { case s: InMemoryTableScanExec => s }.nonEmpty,
        s"no cache scan in per-batch plan:\n$plan")
      assert(plan.collect { case s: LocalTableScanExec => s }.isEmpty,
        s"benchmark local relation leaked into the per-batch plan:\n$plan")
    } finally {
      probe.unpersist()
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
    }
  }

  test("tfidfTopK ranks doc-salient terms above ubiquitous ones") {
    // "common" appears in every doc (df=3) → score 1/3; each doc's
    // private term has df=1 → score tf/1, so private terms rank first
    val d = docs(
      1L -> "common apple apple",
      2L -> "common banana",
      3L -> "common cherry")
    val out = TextStats.tfidfTopK(d, "doc_id", "text", 2)
      .orderBy("doc_id", "rnk").collect()
    // doc 1: apple tf=2 df=1 score=2.0, then common tf=1 df=3 score=1/3
    assert(out(0).getAs[String]("term") == "apple")
    assert(out(0).getAs[Long]("tf") == 2L)
    assert(out(0).getAs[Long]("df") == 1L)
    assert(out(0).getAs[Double]("score") == 2.0)
    assert(out(1).getAs[String]("term") == "common")
    assert(out(1).getAs[Double]("score") == 1.0 / 3.0)
    // ties break lexicographically: banana/cherry before common
    assert(out(2).getAs[String]("term") == "banana")
    assert(out(4).getAs[String]("term") == "cherry")
    // k bounds output: 2 rows per doc
    assert(out.length == 6)
  }

  test("unigramScore: natural-vocabulary docs outscore rare-token docs") {
    // corpus counts: "the" x3, "cat" x2, "zyx" x1; total_tokens = 6
    val d = docs(
      1L -> "the the cat",     // (3+3+2)/(3*6) = 8/18
      2L -> "the cat zyx")     // (3+2+1)/(3*6) = 6/18
    val out = TextStats.unigramScore(d, "doc_id", "text")
      .orderBy("doc_id").collect()
    assert(out(0).getAs[Long]("n_tokens") == 3L)
    assert(out(0).getAs[Double]("avg_token_prob") == 8.0 / 18.0)
    assert(out(1).getAs[Double]("avg_token_prob") == 6.0 / 18.0)
    assert(out(0).getAs[Double]("avg_token_prob") >
      out(1).getAs[Double]("avg_token_prob"))
  }

  test("dedup operators release their internal caches after the result's first action") {
    // the cache-hygiene contract: every .cache() a dedup operator takes
    // internally is gone once the caller's first action completes — a
    // long-lived session running many dedup jobs must not accumulate
    // storage. Release rides a one-shot QueryExecutionListener (zero
    // extra jobs — an eager materialization here measured 3x job counts
    // under AQE), so it lands asynchronously: poll to the baseline.
    val sc = spark.sparkContext
    def persisted: Set[Int] = sc.getPersistentRDDs.keySet.toSet
    val base = persisted
    def awaitBaseline(what: String): Unit = {
      val deadline = System.nanoTime() + 15L * 1000 * 1000 * 1000
      while (persisted.diff(base).nonEmpty && System.nanoTime() < deadline)
        Thread.sleep(50)
      assert(persisted.diff(base).isEmpty,
        s"$what left persisted RDDs behind: ids ${persisted.diff(base)}")
    }
    val d = Tables.documents(spark, "/root/testdata/sf0.001")
    TextDedup.jaccardPairs(d, "doc_id", "text", 3, 0.8).count()
    awaitBaseline("jaccardPairs")
    TextDedup.minhashLshPairs(d, "doc_id", "text", 3, 16, 4, 0.8).count()
    awaitBaseline("minhashLshPairs")
    TextDedup.dedupCorpus(d, "doc_id", "text", 3, 16, 4, 0.8).count()
    awaitBaseline("dedupCorpus")
    TextDedup.simhashPairs(d, "doc_id", "text", 10).count()
    awaitBaseline("simhashPairs")
    val ids = Seq(1L, 2L, 3L, 4L).toDF("doc_id")
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("a_id", "b_id")
    TextDedup.nearDupClusters(ids, pairs, "doc_id").count()
    awaitBaseline("nearDupClusters (converging mode)")
  }

  test("cluster label cache survives unrelated actions, releases on result consumption") {
    // scoping contract of the listener release: the cache backs the
    // RESULT, so only an action whose plan contains the result (or its
    // cached frames) may release it — a concurrent unrelated action on
    // the session (streaming foreachBatch work, parallel queries) must
    // NOT evict the label cache before the caller consumes it.
    val sc = spark.sparkContext
    def persisted: Set[Int] = sc.getPersistentRDDs.keySet.toSet
    val base = persisted
    val ids = Seq(1L, 2L, 3L, 4L).toDF("doc_id")
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("a_id", "b_id")
    val res = TextDedup.nearDupClusters(ids, pairs, "doc_id")
    assert(persisted.diff(base).nonEmpty,
      "expected the final label cache to be alive before consumption")
    // unrelated actions — give a (wrongly) triggered async release
    // ample time to land before checking the cache survived
    (1 to 3).foreach(_ => spark.range(10).count())
    Thread.sleep(500)
    assert(persisted.diff(base).nonEmpty,
      "an unrelated action released the label cache early")
    // consumption THROUGH A TRANSFORMATION (not the raw frame) must
    // still match — the release keys on plan containment, not identity
    res.filter(col("cluster_id") === 1L).count()
    val deadline = System.nanoTime() + 15L * 1000 * 1000 * 1000
    while (persisted.diff(base).nonEmpty && System.nanoTime() < deadline)
      Thread.sleep(50)
    assert(persisted.diff(base).isEmpty,
      s"label cache not released after consumption: ids ${persisted.diff(base)}")
  }

  test("PII scrub: per-pattern exclusive counts, typed-placeholder redaction") {
    val d = Seq(
      (1L, "reach me at jo.doe+x@mail-host.co or 555-123-4567, server 10.0.0.1"),
      (2L, "ssn 123-45-6789 vs phone 123-456-7890 vs dotted 1.2.3.4"),
      (3L, "no identifiers here at all"),
      (4L, "two mails a@b.io and c@d.org")
    ).toDF("doc_id", "text")
    val stats = TextStats.piiStats(d, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5)))).toMap
    assert(stats(1L) == ((1L, 0L, 1L, 1L, 1L)))
    // the 3-2-4 id and the 3-3-4 phone shapes must NOT cross-match
    assert(stats(2L) == ((0L, 1L, 1L, 1L, 1L)))
    assert(stats(3L) == ((0L, 0L, 0L, 0L, 0L)))
    assert(stats(4L) == ((2L, 0L, 0L, 0L, 1L)))
    val red = TextStats.piiRedact(d, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(red(1L) == "reach me at [EMAIL] or [PHONE], server [IP]")
    assert(red(2L) == "ssn [ID] vs phone [PHONE] vs dotted [IP]")
    assert(red(3L) == "no identifiers here at all")
    assert(red(4L) == "two mails [EMAIL] and [EMAIL]")
    // pure projection: the scrub is a map-side scan, nothing shuffles
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    val plan = TextStats.piiStats(d, "doc_id", "text")
      .queryExecution.executedPlan
    assert(plan.collect { case s: ShuffleExchangeLike => s }.isEmpty,
      s"piiStats must be a pure projection:\n$plan")
  }

  test("bigramScore penalizes shuffled word order that unigramScore cannot see") {
    // docs 1-4: the same natural sentence; doc 5: identical WORDS,
    // scrambled order → identical unigram distribution, alien bigrams
    val natural = "the quick brown fox jumps over the lazy dog"
    val shuffled = "dog the over fox lazy quick the jumps brown"
    val d = ((1L to 4L).map(_ -> natural) :+ (5L -> shuffled))
      .toDF("doc_id", "text")
    val uni = TextStats.unigramScore(d, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(uni(5L) == uni(1L), "unigram is order-blind by construction")
    val bi = TextStats.bigramScore(d, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(bi(5L) < bi(1L) / 2,
      s"shuffled doc must score far below natural: ${bi(5L)} vs ${bi(1L)}")
  }

  test("lmCondScore: hand-computed add-one conditional probabilities, " +
    "quantized exactly; sub-2-token docs emit no row; order " +
    "sensitivity matches the conditional-LM intuition") {
    // corpus: doc1 "a b a b", doc2 "a c", doc3 "a" (no bigram)
    // bigram counts: ab=2, ba=1, ac=1; left totals: a->3, b->1; V=3
    // p_u9(ab) = 1e9*(2+1) div (3+3) = 500000000
    // p_u9(ba) = 1e9*(1+1) div (1+3) = 500000000
    // p_u9(ac) = 1e9*(1+1) div (3+3) = 333333333
    // doc1: n=3 (ab,ba,ab), mean = (2*5e8 + 1*5e8) div 3 = 500000000
    // doc2: n=1, mean = 333333333
    val d = Seq((1L, "a b a b"), (2L, "a c"), (3L, "a"))
      .toDF("doc_id", "text")
    val out = TextStats.lmCondScore(d, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    assert(out == Map(1L -> ((3L, 500000000L)), 2L -> ((1L, 333333333L))),
      out.toString)
    // conditional form: a scrambled doc scores below its natural twin
    val natural = "the quick brown fox jumps over the lazy dog"
    val shuffled = "dog the over fox lazy quick the jumps brown"
    val c = ((1L to 4L).map(_ -> natural) :+ (5L -> shuffled))
      .toDF("doc_id", "text")
    val lm = TextStats.lmCondScore(c, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(lm(5L) < lm(1L) / 2,
      s"shuffled doc must score far below natural: ${lm(5L)} vs ${lm(1L)}")
  }

  test("bpeMerges learns deterministic merge rules; merge is left-to-right non-overlapping") {
    val d = Seq((1L, "aab aab"), (2L, "aab ab")).toDF("doc_id", "text")
    // wf: aab x3, ab x1 → round 1 pairs (a,a):3, (a,b):4 → merge (a,b)
    // round 2: aab=[a,ab], ab=[ab] → (a,ab):3 → merge (a,ab)
    // round 3: no pairs left → early stop
    val m = TextStats.bpeMerges(d, "text", 10).orderBy("rnk").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(m.toSeq == Seq((1, "a", "b", 4L), (2, "a", "ab", 3L)))
    // non-overlap: merging (a,a) on "aaaa" gives [aa,aa] → round 2
    // merges (aa,aa), not (aa,a)
    val q = Seq((1L, "aaaa")).toDF("doc_id", "text")
    val m2 = TextStats.bpeMerges(q, "text", 2).orderBy("rnk").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(m2.toSeq == Seq((1, "a", "a", 3L), (2, "aa", "aa", 1L)))
    // round-1 statistics agree with the oracled bpeTopPairs view
    val tp = TextStats.bpeTopPairs(d, "text", 2).orderBy("rnk").collect()
      .map(r => (r.getString(1), r.getString(2), r.getLong(3)))
    assert(tp.head == ("a", "b", 4L))
  }

  test("bpeMergesLocal is bit-identical to the distributed trainer " +
    "(tie-breaks, non-overlap, early stop) and on real corpus data") {
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("rnk").collect()
        .map(r => (r.getInt(0), r.getString(1), r.getString(2),
          r.getLong(3))).toSeq
    // tie-heavy + overlap + early-stop fixtures
    for (fix <- Seq(
      Seq((1L, "aab aab"), (2L, "aab ab")),
      Seq((1L, "aaaa")),
      Seq((1L, "xy xy yx"), (2L, "yx xy")),
      Seq((1L, "q")))) {
      val d = fix.toDF("doc_id", "text")
      assert(rows(TextStats.bpeMergesLocal(d, "text", 10)) ==
        rows(TextStats.bpeMerges(d, "text", 10)))
    }
    // the real documents table: same 5 merges from both trainers
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    assert(rows(TextStats.bpeMergesLocal(docs, "text", 5)) ==
      rows(TextStats.bpeMerges(docs, "text", 5)))
    // a binding vocabCap is a truncation of the statistics, not a crash
    val capped = TextStats.bpeMergesLocal(
      Seq((1L, "aab aab"), (2L, "aab ab")).toDF("doc_id", "text"),
      "text", 10, vocabCap = 1)
    assert(rows(capped).nonEmpty)
  }

  test("bpeEncodeCached is bit-identical to bpeEncode, including the " +
    "OOV expression fallback under a binding vocabCap") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val m = TextStats.bpeMergesLocal(docs, "text", 3).orderBy("rnk")
      .collect().map(r => (r.getString(1), r.getString(2))).toSeq
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("doc_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3))).toSeq
    val plain = rows(TextStats.bpeEncode(docs, "doc_id", "text", m))
    assert(rows(TextStats.bpeEncodeCached(docs, "doc_id", "text", m))
      == plain)
    // vocabCap = 1: nearly every token takes the fallback path — same
    // bits
    assert(rows(TextStats.bpeEncodeCached(docs, "doc_id", "text", m,
      vocabCap = 1)) == plain)
  }

  test("bpeEncode applies learned merges in rank order (incl. partial " +
    "merges on unseen words); empty docs keep the empty-stream fp") {
    val train = Seq((1L, "aab aab"), (2L, "aab ab")).toDF("doc_id", "text")
    val m = TextStats.bpeMerges(train, "text", 10).orderBy("rnk").collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    assert(m == Seq(("a", "b"), ("a", "ab"))) // the trainer spec's rules
    def fp(s: String): Long = spark.range(1)
      .select(TextDedup.md5Hash60(lit(s))).head.getLong(0)
    // encode a DIFFERENT frame: "aabb" was never trained on — rule 1
    // merges its (a,b), rule 2 then merges (a,ab) -> [aab, b]
    val enc = TextStats.bpeEncode(
        Seq((1L, "aab aab"), (2L, "aab ab"), (3L, ""), (4L, "aabb"))
          .toDF("doc_id", "text"), "doc_id", "text", m)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(enc(1L) == ((2L, 2L, fp("aab aab")))) // both words fully merged
    assert(enc(2L) == ((2L, 2L, fp("aab ab"))))  // "ab" stops at rule 1
    assert(enc(3L) == ((0L, 0L, fp(""))))
    assert(enc(4L) == ((1L, 2L, fp("aab b"))))
    // no shuffle: encoding is a pure projection
    val plan = TextStats.bpeEncode(train, "doc_id", "text", m)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), "bpeEncode must stay a projection")
  }

  test("tokenIds: vocab lookup is a shuffle-free projection, OOV maps to -1, fp is order-sensitive") {
    val d = Seq((1L, "red blue red"), (2L, "blue red red"), (3L, ""))
      .toDF("doc_id", "text")
    val vocab = Map("red" -> 1L, "blue" -> 2L)
    val out = TextStats.tokenIds(d, "doc_id", "text", vocab)
    assert(!out.queryExecution.executedPlan.toString.contains("Exchange"),
      "tokenIds must stay a pure projection")
    val rows = out.orderBy("doc_id").collect()
    assert(rows(0).getSeq[Long](rows(0).fieldIndex("token_ids")) ==
      Seq(1L, 2L, 1L))
    assert(rows(0).getAs[Long]("n_oov") == 0L)
    // same multiset, different order → different fingerprint
    assert(rows(0).getAs[Long]("ids_fp") != rows(1).getAs[Long]("ids_fp"))
    // empty text: zero tokens, fingerprint of the empty sequence
    assert(rows(2).getAs[Long]("n_tokens") == 0L)
    val oov = TextStats.tokenIds(
      Seq((1L, "red qux")).toDF("doc_id", "text"), "doc_id", "text", vocab)
      .collect().head
    assert(oov.getSeq[Long](oov.fieldIndex("token_ids")) == Seq(1L, -1L))
    assert(oov.getAs[Long]("n_oov") == 1L)
    // the fused VocabIds kernel is value-identical to the declarative
    // broadcast-map-literal form it replaced (incl. OOV and empty docs)
    val m = typedlit(vocab)
    val declarative = d.select(col("doc_id"),
        transform(graft.ops.TextDedup.tokens(col("text")),
          t => coalesce(element_at(m, t), lit(-1L))).as("ids"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val fused = TextStats.tokenIds(d, "doc_id", "text", vocab)
      .select(col("doc_id"), col("token_ids"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(fused == declarative)
  }

  test("token counts: ws vs bpe-ish") {
    val d = Seq((1L, "hello world, abcdefgh!")).toDF("doc_id", "text")
    val r = TextStats.qualityMetrics(d, "doc_id", "text").collect().head
    assert(r.getAs[Long]("n_tokens") == 3L)       // hello world abcdefgh
    assert(r.getAs[Long]("n_tokens_ws") == 3L)
    // bpe-ish: ceil(5/4)+ceil(5/4)+ceil(8/4) = 2+2+2 = 6 subwords + 2 punct
    assert(r.getAs[Long]("n_tokens_bpe") == 8L)
  }

  test("dedupLines: global first-occurrence wins, within-doc repeats " +
    "drop, minChars exempts, emptied docs survive") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha\nshared line\nalpha"),        // within-doc repeat of alpha
      (2L, "shared line\nbeta\nok"),            // cross-doc repeat of shared
      (3L, "shared line"),                        // collapses to empty
      (4L, "ok\ngamma")                          // 'ok' repeats doc 2's
    ).toDF("doc_id", "text")
    val out = graft.ops.TextDedup.dedupLines(docs, "doc_id", "text")
      .orderBy("doc_id").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) == "alpha\nshared line") // second alpha dropped
    assert(out(2L) == "beta\nok")           // shared line kept by doc 1
    assert(out(3L) == "")                   // all lines dropped, doc stays
    assert(out(4L) == "gamma")              // 'ok' kept by doc 2
    // minChars: lines shorter than the bound keep EVERY occurrence
    val exempt = graft.ops.TextDedup.dedupLines(docs, "doc_id", "text",
        minChars = 6)
      .orderBy("doc_id").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(exempt(1L) == "alpha\nshared line\nalpha") // alpha (5) exempt
    assert(exempt(4L) == "ok\ngamma")                  // both exempt
    // determinism across partition layouts
    val a = graft.ops.TextDedup.dedupLines(docs.repartition(7), "doc_id",
      "text").orderBy("doc_id").collect().map(_.toSeq).toSeq
    val b = graft.ops.TextDedup.dedupLines(docs.repartition(1), "doc_id",
      "text").orderBy("doc_id").collect().map(_.toSeq).toSeq
    assert(a == b)
  }

  test("dedupLines plan: winner rule is a partial-aggregable reduction " +
    "(no window on the line hash)") {
    import spark.implicits._
    val docs = Seq((1L, "a\nb"), (2L, "a\nc")).toDF("doc_id", "text")
    val plan = graft.ops.TextDedup.dedupLines(docs, "doc_id", "text")
      .queryExecution.executedPlan.toString
    // a row_number window over md5(line) would single-task-sort a hot
    // boilerplate line's entire global repeat group; the min(struct)
    // rule must show as HashAggregate pairs (partial + final), never
    // as a Window/Sort on the hash
    assert(!plan.contains("Window"), s"WindowExec in dedupLines plan:\n$plan")
    assert(plan.contains("partial_min") || plan.contains("HashAggregate"),
      s"no partial aggregation in dedupLines plan:\n$plan")
  }

  test("linearScore: occurrence-weighted exact sums, OOV is 0, empty " +
    "doc scores the bias") {
    import spark.implicits._
    val docs = Seq(
      (1L, "good good bad"),   // 2*w(good) + w(bad)
      (2L, "novel words"),     // all OOV -> bias only
      (3L, "")                 // no tokens -> bias only, row kept
    ).toDF("doc_id", "text")
    val weights = Seq(("good", 500000L), ("bad", -250000L))
      .toDF("term", "w_micro")
    val out = graft.ops.TextStats.linearScore(docs, "doc_id", "text",
        weights, biasMicro = 100000L)
      .orderBy("doc_id").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap
    assert(out(1L) == ((3L, 2L * 500000L - 250000L + 100000L, 0.85)))
    assert(out(2L) == ((2L, 100000L, 0.1)))
    assert(out(3L) == ((0L, 100000L, 0.1)))
    // partition-layout determinism of the exact long path
    val a = graft.ops.TextStats.linearScore(docs.repartition(5), "doc_id",
      "text", weights).orderBy("doc_id").collect().map(_.toSeq).toSeq
    val b = graft.ops.TextStats.linearScore(docs, "doc_id", "text",
      weights).orderBy("doc_id").collect().map(_.toSeq).toSeq
    assert(a == b)
  }

  test("dupSpanStats: duplicated-shingle fraction per document") {
    val d = docs(
      1L -> "alpha beta gamma delta epsilon", // 3 shingles, all unique
      2L -> "one two three four five six",    // shares nothing
      3L -> "one two three four seven eight") // shares 2 of its 4 shingles
    val out = TextDedup.dupSpanStats(d, "doc_id", "text", n = 3)
      .orderBy("doc_id").collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(out(1L) == ((3L, 0L, 0.0)))
    // docs 2/3 share "one two three" and "two three four"
    assert(out(2L) == ((4L, 2L, 0.5)))
    assert(out(3L) == ((4L, 2L, 0.5)))
  }

  test("dupSpanStats counts DISTINCT shingles; short docs yield no row") {
    val d = docs(
      1L -> "a b a b a b",  // shingles {aba, bab} each repeated in-doc
      2L -> "x y")          // shorter than n -> no shingles, no row
    val out = TextDedup.dupSpanStats(d, "doc_id", "text", n = 3).collect()
    assert(out.length == 1)
    val r = out.head
    // distinct per doc: 2 shingles, neither appears in another doc
    assert(r.getLong(1) == 2L && r.getLong(2) == 0L)
  }

  test("dropDuplicatedDocs removes mostly-copied docs, keeps shingle-free docs") {
    val d = docs(
      1L -> "the quick brown fox jumps over the lazy dog",
      2L -> "the quick brown fox jumps over a sleeping cat", // 4/7 dup
      3L -> "quick brown fox jumps",                          // wholly contained
      4L -> "zz")                                             // no shingles
    val kept = TextDedup.dropDuplicatedDocs(d, "doc_id", "text",
        n = 3, maxDupFrac = 0.9)
      .select("doc_id").as[Long].collect().sorted
    // doc 3: every shingle also in doc 1 -> dup_frac 1.0 -> dropped;
    // docs 1/2 under the bar; doc 4 has no evidence -> kept
    assert(kept.toSeq == Seq(1L, 2L, 4L))
  }

  test("dupSpanStats plan: no window, aggregation-only movement") {
    val d = docs(1L -> "a b c d", 2L -> "a b c e")
    val plan = TextDedup.dupSpanStats(d, "doc_id", "text", n = 3)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"))
    assert(plan.contains("HashAggregate"))
  }

  test("removeDupSpans cuts every duplicated span from every occurrence," +
    " keeps the rest in order") {
    val d = docs(
      1L -> "intro alpha beta gamma delta tail one",
      2L -> "other alpha beta gamma delta coda two",
      3L -> "x y",  // shorter than n: survives whole
      4L -> "")     // no tokens: survives empty
    val out = TextDedup.removeDupSpans(d, "doc_id", "text", n = 3)
      .orderBy("doc_id").collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3))))
      .toMap
    // shared shingles "alpha beta gamma" / "beta gamma delta" cover
    // token positions [1, 5) in BOTH docs
    assert(out(1L) == (("intro tail one", 3L, 4L)))
    assert(out(2L) == (("other coda two", 3L, 4L)))
    assert(out(3L) == (("x y", 2L, 0L)))
    assert(out(4L) == (("", 0L, 0L)))
  }

  test("removeDupSpans property: matches a reference implementation on " +
    "a small-vocab corpus (kept subsequence, dup spans fully cut)") {
    val n = 3
    val vocab = Vector("red", "blue", "green", "fox", "dog", "cat",
      "runs", "jumps", "sleeps", "fast")
    val corpus = (0 until 40).map { i =>
      val len = 4 + (i * 7) % 9
      val mid = (0 until len)
        .map(j => vocab(((i * 13 + j * j * 5 + j) % vocab.size)))
      // unique bracketing tokens force PARTIAL cuts: the shared middle
      // is duplicated across docs, the brackets never are
      i.toLong -> (s"u$i" +: mid :+ s"v$i").mkString(" ")
    }.toMap
    def ref(all: Map[Long, String]): Map[Long, (String, Long, Long)] = {
      val toks = all.map { case (k, v) =>
        k -> "[a-z0-9]+".r.findAllIn(v.toLowerCase).toVector }
      val shOf = toks.map { case (k, w) =>
        k -> (0 to w.length - n).map(i => w.slice(i, i + n).mkString(" ")) }
      val df = shOf.values.toSeq.flatMap(_.distinct)
        .groupBy(identity).map { case (s, v) => s -> v.size }
      toks.map { case (k, w) =>
        val covered = shOf(k).zipWithIndex
          .collect { case (s, i) if df(s) > 1 => i }
          .flatMap(s => s until s + n).toSet
        val kept = w.zipWithIndex.collect { case (t, i) if !covered(i) => t }
        k -> ((kept.mkString(" "), kept.size.toLong,
          (w.size - kept.size).toLong))
      }
    }
    val expected = ref(corpus)
    // the corpus must actually exercise removal for the test to mean much
    assert(expected.values.exists(_._3 > 0), "fixture removes nothing")
    assert(expected.values.exists(v => v._2 > 0 && v._3 > 0),
      "fixture has no partial cut")
    val out = TextDedup.removeDupSpans(docs(corpus.toSeq: _*),
        "doc_id", "text", n)
      .collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(out == expected)
    // and the subsequence property explicitly: kept tokens appear in the
    // input in order
    out.foreach { case (k, (text, _, _)) =>
      val w = "[a-z0-9]+".r.findAllIn(corpus(k).toLowerCase).toVector
      val kept = if (text.isEmpty) Vector.empty else text.split(" ").toVector
      var i = 0
      kept.foreach { t =>
        val j = w.indexOf(t, i)
        assert(j >= 0, s"doc $k: kept token '$t' not a subsequence match")
        i = j + 1
      }
    }
  }

  test("removeDupSpans plan: no window, interval algebra stays map-side") {
    val d = docs(1L -> "a b c d", 2L -> "a b c e")
    val plan = TextDedup.removeDupSpans(d, "doc_id", "text", n = 3)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"))
  }
}
