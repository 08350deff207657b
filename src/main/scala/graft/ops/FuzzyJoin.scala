package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Edit-distance similarity self-join — entity-resolution blocking for
  * name/title dedup (the fuzzy cousin of the token-set joins in
  * ops/TextDedup: PPJoin catches word-level overlap, this catches
  * character-level typos/transpositions that change the token).
  *
  * Candidate generation is RARE-FIRST PREFIX indexing over q-gram sets
  * (the Ed-Join reduction — Xiao et al., VLDB 2008 — of the same
  * prefix-filter lemma ops/TextDedup's PPJoin uses): order every
  * string's DISTINCT q-grams by global document frequency (rarest
  * first, ties by gram value — one total order corpus-wide) and index
  * only the first q·d+1 of them. Soundness: if levenshtein(a,b) ≤ d,
  * each edit destroys ≤ q gram occurrences, every gram VALUE of a
  * missing from b has all its occurrences destroyed, so
  * |set(a) ∩ set(b)| ≥ |set(x)| − q·d for BOTH sides; by the prefix
  * lemma (first |set| − t + 1 grams of each side under one global
  * order must collide when the overlap is ≥ t, here t =
  * max over sides of |set| − q·d) a qualifying pair collides within
  * the q·d+1-gram prefixes whenever at least one side has > q·d
  * distinct grams. Exact `levenshtein` verifies every candidate, so
  * the join is lossless; prefix indexing only bounds WHERE candidates
  * can come from.
  *
  * This kills the HOT-GRAM hazard structurally: a corpus-wide constant
  * prefix ("CAM-…", "INV-…") makes its grams the most FREQUENT, so
  * they sort to the back of every rarity-ordered list and fall out of
  * every indexed prefix — each string contributes ≤ q·d+1 grams and
  * they are the ones least able to collide. Per-string join work is
  * O((q·d+1) · rare-posting-length), never all-grams × all-positions.
  * Residual dial: on an ALPHABET-LIMITED random corpus (hex
  * fingerprints, digit ids) even the rarest grams collide ~n/|Σ|^q
  * times, so q must satisfy |Σ|^q ≫ corpus size — [[autoQ]] derives
  * exactly that from the corpus (rarity floor vs short-string
  * ceiling) and is the default; the ×100 probe's 667k-string md5-hex
  * domain auto-derives q=7 and stays at ~167k candidates where a
  * fixed q=4 produced 670M.
  *
  * Pairs where BOTH sides have ≤ q·d distinct grams (genuinely short
  * strings — |set| ≤ len−q+1 — plus degenerate repetitions like
  * "aaaa…") carry no prefix guarantee; they go through a separate
  * DEGENERATE block that first dedups to DISTINCT string values, runs
  * the length-band nested loop over the value domain (bounded by the
  * sub-(q·d+1)-distinct-gram VALUE domain, not the row count — a
  * million copies of "ab" cost one value row), verifies levenshtein at
  * value granularity, and only then re-expands to id pairs through
  * hash equi-joins on the value. Same-value duplicates (distance 0)
  * expand through one value-equality self-join whose output is the
  * answer itself. The two paths partition the pair space on
  * max(distinct-gram-count) ≷ q·d, so no dedup join is needed.
  */
object FuzzyJoin {

  /** Distinct q-gram values of `s` (set semantics — positions and
    * multiplicity dropped; the destruction bound above is on values).
    * Strings shorter than q have NO q-gram: the guard matters because
    * `sequence(1, len-(q-1))` with len < q evaluates as the DESCENDING
    * sequence [1, 0] and substr at both positions returns the whole
    * string — a phantom whole-string "gram" that would admit sub-q
    * strings into the prefix index. With the empty set they carry
    * _dsz = 0 and flow only through the degenerate block, which is
    * their correctness path anyway. */
  private def gramSet(s: Column, q: Int): Column =
    when(length(s) >= q,
      array_distinct(transform(
        sequence(lit(1), length(s) - (q - 1)),
        i => s.substr(i, lit(q)))))
      .otherwise(array().cast("array<string>"))

  /** Candidate pairs surviving the blocking filters, before the exact
    * levenshtein verify. Columns: a_id, b_id, a_s, b_s. */
  private[graft] def candidates(df: DataFrame, idCol: String,
                                strCol: String, maxDist: Int,
                                q: Int): DataFrame = {
    require(maxDist >= 1 && q >= 2)
    val d = maxDist
    val degenMax = q * d // ≤ this many distinct grams ⇒ no prefix guarantee
    val s = df.select(col(idCol).as("id"), col(strCol).as("s"),
      length(col(strCol)).as("len"))

    val g = s.select(col("id"), col("s"), col("len"),
      explode(gramSet(col("s"), q)).as("gram"))
    // global rarity rank: doc frequency as a window over the gram
    // partition (one shuffle by gram), then per-string rank under the
    // ONE global order (_df, gram) — ties on _df broken by the gram
    // value so every string ranks its grams identically
    val wFreq = org.apache.spark.sql.expressions.Window
      .partitionBy(col("gram"))
    val wDoc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("id")).orderBy(col("_df"), col("gram"))
    val wSz = org.apache.spark.sql.expressions.Window.partitionBy(col("id"))
    val ranked = g.withColumn("_df", count(lit(1)).over(wFreq))
      .withColumn("_rk", row_number().over(wDoc))
      .withColumn("_dsz", count(lit(1)).over(wSz))
    val prefix = ranked.filter(col("_rk") <= degenMax + 1)
      .select(col("id"), col("s"), col("len"), col("gram"), col("_dsz"))
    // prefix-prefix collision + length band (necessary for ed ≤ d);
    // max(_dsz) > q·d keeps this path disjoint from the degenerate
    // block. distinct() because a pair may collide on several prefix
    // grams.
    val longPairs = prefix.as("a").join(prefix.as("b"),
        col("a.gram") === col("b.gram") &&
          col("a.id") < col("b.id") &&
          abs(col("a.len") - col("b.len")) <= d &&
          greatest(col("a._dsz"), col("b._dsz")) > degenMax)
      .select(col("a.id").as("a_id"), col("b.id").as("b_id"),
        col("a.s").as("a_s"), col("b.s").as("b_s"))
      .distinct()

    // ---- degenerate block: both sides ≤ q·d distinct grams ----
    val dsz = g.groupBy(col("id")).agg(count(lit(1)).as("_dsz"))
    val degen = s.join(dsz, Seq("id"), "left")
      .filter(coalesce(col("_dsz"), lit(0L)) <= degenMax)
      .select(col("id"), col("s"), col("len"))
    // distinct VALUES only: the nested loop is over the value domain
    // with a length band, and levenshtein verifies HERE so only true
    // value matches fan back out to ids
    val vals = degen.select(col("s"), col("len")).distinct()
    val valPairs = vals.as("u").join(vals.as("v"),
        col("u.s") < col("v.s") &&
          abs(col("u.len") - col("v.len")) <= d)
      .select(col("u.s").as("u_s"), col("v.s").as("v_s"))
      // bounded form: Ukkonen banded DP with early abandon (built-in
      // since Spark 3.5; -1 = beyond d) — O(d·len) per pair instead of
      // O(len²), and most candidate pairs abandon in the first rows
      .filter(levenshtein(col("u_s"), col("v_s"), d) >= 0)
    val ids = degen.select(col("s"), col("id"))
    val crossVal = valPairs
      .join(ids.as("x"), col("x.s") === col("u_s"))
      .join(ids.as("y"), col("y.s") === col("v_s"))
      .select(
        least(struct(col("x.id").as("id"), col("u_s").as("s")),
          struct(col("y.id").as("id"), col("v_s").as("s"))).as("a"),
        greatest(struct(col("y.id").as("id"), col("v_s").as("s")),
          struct(col("x.id").as("id"), col("u_s").as("s"))).as("b"))
      .select(col("a.id").as("a_id"), col("b.id").as("b_id"),
        col("a.s").as("a_s"), col("b.s").as("b_s"))
    // same-value duplicates (distance 0): every id pair within a value
    // group IS in the answer, so the value-equality self-join's output
    // is inherent, not manufactured
    val sameVal = degen.as("x").join(degen.as("y"),
        col("x.s") === col("y.s") && col("x.id") < col("y.id"))
      .select(col("x.id").as("a_id"), col("y.id").as("b_id"),
        col("x.s").as("a_s"), col("y.s").as("b_s"))

    longPairs.union(crossVal).union(sameVal)
  }

  /** Auto-derived gram width — the scale governor for the one dial
    * that could go quadratic. On an alphabet-limited corpus the
    * rarest q-grams still collide ~n/|Σ|^q times, so the ×100 probe's
    * measured failure mode (hex fingerprints at q=4: 670M candidates;
    * q=6: 364k, same exact answer) is just |Σ|^q ≲ n. Derivation:
    *
    *  - RARITY floor: smallest q with |Σ|^q ≥ 64·n, i.e. expected
    *    collisions per gram VALUE ≤ 1/64 — estimated from the full
    *    row count (metadata-cheap on parquet) and an
    *    `approx_count_distinct` alphabet estimate on a bounded
    *    sample (≤100k rows; alphabets converge in far fewer).
    *  - SHORT-STRING ceiling: q ≤ (p10_len + 1)/(maxDist + 1), so at
    *    least ~90% of strings keep > q·maxDist distinct grams and
    *    stay on the prefix path (strings below it fall to the
    *    degenerate value-domain block — correct, but only
    *    value-bounded).
    *  - Clamped to [2, 8]: below 2 grams stop discriminating, above
    *    8 the q·d+1 prefix itself dominates candidate cost.
    *
    * Ceiling beats floor when they conflict (short-string corpora
    * like person names genuinely cannot support large q; q=2 is the
    * classic Ed-Join setting there). Choice of q never changes the
    * ANSWER — the levenshtein verify keeps blocking lossless — only
    * the candidate volume, so the estimate needs to be sane, not
    * exact. Runs 3 small jobs at plan-build time (count + 2 sampled
    * aggregates); that eager cost is what parametrizes the plan. */
  private[graft] def autoQ(df: DataFrame, strCol: String,
                           maxDist: Int): Int = {
    val s0 = df.select(col(strCol).as("s")).filter(col("s").isNotNull)
    val n = s0.count()
    if (n == 0) return 2
    val sample = s0.limit(100000)
    val p10 = sample
      .agg(percentile_approx(length(col("s")), lit(0.1), lit(1000)))
      .first() match {
        case r if r.isNullAt(0) => 0
        case r => r.getInt(0)
      }
    val alpha = math.max(2L, sample
      .select(explode(split(col("s"), "")).as("c"))
      .filter(length(col("c")) === 1)
      .agg(approx_count_distinct(col("c"))).first().getLong(0))
    val qRare = math.ceil(
      math.log(64.0 * n) / math.log(alpha.toDouble)).toInt
    val qCap = (p10 + 1) / (maxDist + 1)
    math.min(8, math.max(2, math.min(qRare, qCap)))
  }

  /** All pairs (a_id < b_id) with levenshtein ≤ maxDist, with the
    * distance. Exact (blocking is lossless); output ordered. The
    * verify uses the BOUNDED levenshtein (threshold form, built-in
    * since Spark 3.5): banded DP with early abandon makes each
    * candidate O(maxDist·len) instead of O(len²), and the distance it
    * returns for surviving pairs is exact — output is bit-identical
    * to the unbounded form (spec-pinned).
    *
    * `q = 0` (the default) derives the gram width from the corpus via
    * [[autoQ]]; pass q > 0 to pin it manually. */
  def selfPairs(df: DataFrame, idCol: String, strCol: String,
                maxDist: Int, q: Int = 0): DataFrame = {
    val qq = if (q > 0) q else autoQ(df, strCol, maxDist)
    candidates(df, idCol, strCol, maxDist, qq)
      .withColumn("dist", levenshtein(col("a_s"), col("b_s"), maxDist))
      .filter(col("dist") >= 0)
      .select(col("a_id"), col("b_id"), col("dist").cast("long").as("dist"))
      .orderBy("a_id", "b_id")
  }
}
