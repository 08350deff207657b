package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis family for a training-data pipeline: language ID
  * (stopword-profile heuristic), quality scoring, token counting, and
  * document fingerprinting. All pure column expressions — whole-stage
  * codegen end to end, no UDFs, embarrassingly parallel (no shuffle at
  * all until a caller aggregates).
  */
object TextStats {

  /** Per-language stopword profiles for the n-gram/stopword language-ID
    * heuristic. Deterministic scoring: count profile-word occurrences per
    * language, argmax with fixed tie order (profile list order). */
  val stopwordProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "is"),
    "es" -> Seq("el", "la", "de", "los", "es"),
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "fr" -> Seq("le", "la", "les", "des", "est"))

  private def countWord(text: Column, w: String): Column =
    size(filter(TextDedup.tokens(text), t => t === lit(w))).cast("long")

  /** Stopword-profile score for one language over a text column. */
  def langScore(text: Column, profile: Seq[String]): Column =
    profile.map(countWord(text, _)).reduce(_ + _)

  /** Language-ID: argmax of profile scores, 'und' (undetermined) when all
    * scores are zero. First profile in the list wins ties.
    *
    * Column form — fine for one-off use, but it re-tokenizes per score
    * reference; hot paths should use `withLangId`, which materializes
    * the token array and the per-language scores in their own projection
    * stages (CollapseProject does not inline a non-cheap alias that is
    * referenced more than once, so each stage evaluates exactly once). */
  def langId(text: Column): Column = {
    val scored = stopwordProfiles.map { case (l, p) => (l, langScore(text, p)) }
    val best = scored.map(_._2).reduce((a, b) => greatest(a, b))
    scored.reverse.foldLeft(lit("und")) { case (acc, (l, s)) =>
      when(s > 0 && s === best, lit(l)).otherwise(acc)
    }
  }

  /** Language-ID as a staged DataFrame op: tokenize ONCE, score each
    * profile ONCE over the materialized array, then argmax over the
    * materialized scores. Identical output to `langId`; one regex pass
    * per row instead of one per (language × reference). */
  def withLangId(df: DataFrame, textCol: String, outCol: String): DataFrame =
    withLangIdFromTokens(
      df.withColumn("_lid_w", TextDedup.tokens(col(textCol))),
      "_lid_w", outCol, dropTokens = true)

  /** [[withLangId]] over an ALREADY-materialized token-array column —
    * lets a pipeline that tokenized for other metrics (curate) reuse
    * the array instead of running the tokenizer regex a second time. */
  private[ops] def withLangIdFromTokens(df: DataFrame, tokCol: String,
                                        outCol: String,
                                        dropTokens: Boolean = false)
      : DataFrame = {
    val scoreCols = stopwordProfiles.map { case (l, _) => s"_lid_s_$l" }
    val scored = stopwordProfiles.foldLeft(df) { case (d, (l, p)) =>
      d.withColumn(s"_lid_s_$l",
        size(filter(col(tokCol), w => w.isin(p.map(lit): _*))).cast("long"))
    }
    val best = scoreCols.map(col).reduce(greatest(_, _))
    val pick = stopwordProfiles.reverse.foldLeft(lit("und")) {
      case (acc, (l, _)) =>
        when(col(s"_lid_s_$l") > 0 && col(s"_lid_s_$l") === best, lit(l))
          .otherwise(acc)
    }
    scored.withColumn(outCol, pick)
      .drop((if (dropTokens) Seq(tokCol) else Nil) ++ scoreCols: _*)
  }

  /** Whitespace token count. */
  def tokenCountWs(text: Column): Column =
    size(split(trim(text), "\\s+")).cast("long")

  /** Quality metrics: char count, token counts, mean token length,
    * punctuation ratio, stopword ratio, and a composite [0,1] score
    * (the reference has no text quality notion; this follows the usual
    * corpus-filtering recipe: penalize very short docs, high punctuation,
    * zero stopwords). */
  def qualityMetrics(df: DataFrame, idCol: String, textCol: String): DataFrame =
    withQualityMetrics(df.select(col(idCol), col(textCol)), textCol)
      .select(col(idCol), col("n_chars"), col("n_tokens"),
        col("n_tokens_ws"), col("n_tokens_bpe"), col("mean_token_len"),
        col("punct_ratio"), col("stopword_ratio"), col("quality_score"))

  /** [[qualityMetrics]] as an APPENDING transform: every input column
    * is kept, the metric columns are added, and the materialized token
    * array stays behind as `_qm_w` — so a curation pipeline can chain
    * language-ID and dedup keys off the SAME single tokenization and
    * frame, instead of recombining per-row projections of one input
    * with a corpus self-join. Callers drop `_qm_w` when done. */
  private[ops] def withQualityMetrics(df: DataFrame,
                                      textCol: String): DataFrame = {
    val allStop = stopwordProfiles.flatMap(_._2).distinct
    // Stage 1: tokenize once. Stage 2: every array/regex pass once, as
    // materialized counts (CollapseProject keeps multiply-referenced
    // non-cheap aliases in their own projection, so nothing re-runs).
    // Stage 3: ratios and the composite score — same arithmetic, same
    // order of operations as the one-expression form (oracle parity).
    val s1 = df.withColumn("_qm_w", TextDedup.tokens(col(textCol)))
    val t = col(textCol)
    val s2 = s1
      .withColumn("_nchars", length(t).cast("long"))
      .withColumn("_ntok", size(col("_qm_w")).cast("long"))
      .withColumn("_ntok_ws", tokenCountWs(t))
      .withColumn("_toklen", aggregate(col("_qm_w"), lit(0L),
        (acc, w) => acc + length(w).cast("long")))
      .withColumn("_bpe_sub", aggregate(col("_qm_w"), lit(0L),
        (acc, w) => acc + ceil(length(w).cast("double") / 4.0).cast("long")))
      .withColumn("_npunct",
        length(regexp_replace(t, "[a-zA-Z0-9\\s]+", "")).cast("long"))
      .withColumn("_nstop",
        size(filter(col("_qm_w"), w => w.isin(allStop.map(lit): _*)))
          .cast("long"))
    val nTok = col("_ntok")
    val meanTokLen = when(nTok > 0,
      col("_toklen").cast("double") / nTok.cast("double")).otherwise(lit(0.0))
    val punctRatio = when(col("_nchars") > 0,
      col("_npunct").cast("double") / col("_nchars").cast("double"))
      .otherwise(lit(0.0))
    val stopRatio = when(nTok > 0,
      col("_nstop").cast("double") / nTok.cast("double")).otherwise(lit(0.0))
    val lengthScore = least(nTok.cast("double") / 20.0, lit(1.0))
    val score = round(
      lengthScore * (lit(1.0) - punctRatio) *
        (lit(0.5) + least(stopRatio * 5.0, lit(0.5))), 6)
    s2
      .withColumn("n_chars", col("_nchars"))
      .withColumn("n_tokens", nTok)
      .withColumn("n_tokens_ws", col("_ntok_ws"))
      .withColumn("n_tokens_bpe", col("_bpe_sub") + col("_npunct"))
      .withColumn("mean_token_len", round(meanTokLen, 6))
      .withColumn("punct_ratio", round(punctRatio, 6))
      .withColumn("stopword_ratio", round(stopRatio, 6))
      .withColumn("quality_score", score)
      .drop("_nchars", "_ntok", "_ntok_ws", "_toklen", "_bpe_sub",
        "_npunct", "_nstop")
  }

  /** Corpus vocabulary: top-k tokens by frequency (ties broken
    * lexicographically). Shuffle key = token; map-side partial counts do
    * the heavy lifting at corpus scale; only k rows reach the driver. */
  def vocabTopK(df: DataFrame, textCol: String, k: Int): DataFrame = {
    val counts = df.select(explode(TextDedup.tokens(col(textCol))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("n"))
    // TakeOrdered first (parallel partial top-k per partition), THEN rank
    // the k survivors — a global row_number over all counts would funnel
    // the whole vocabulary through one reducer at corpus scale
    val top = counts.orderBy(col("n").desc, col("token")).limit(k)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("n").desc, col("token"))
    top.withColumn("rnk", row_number().over(w).cast("int"))
      .select("token", "n", "rnk")
  }

  /** Word n-gram frequency table, top-k (the n-gram statistics a
    * contamination / memorization audit needs). */
  def ngramTopK(df: DataFrame, textCol: String, n: Int, k: Int): DataFrame = {
    val w = TextDedup.tokens(col(textCol))
    val grams = df.select(
      explode(TextDedup.shingleArray(w, n)).as("ngram"))
    val counts = grams.groupBy("ngram").agg(count(lit(1)).as("n"))
    val top = counts.orderBy(col("n").desc, col("ngram")).limit(k)
    val win = org.apache.spark.sql.expressions.Window
      .orderBy(col("n").desc, col("ngram"))
    top.withColumn("rnk", row_number().over(win).cast("int"))
      .select("ngram", "n", "rnk")
  }

  /** Per-document top-k salient terms by tf-idf, with the DETERMINISTIC
    * idf variant score = tf / df: log-idf is a transcendental whose last
    * ulp differs across math libraries (so a cross-engine hash compare
    * can flicker), while a single IEEE division of two exact longs is
    * bit-reproducible everywhere — and per document 1/df induces the
    * same "penalize ubiquitous terms" ordering family. Ties break
    * lexicographically, so top-k is total-ordered.
    *
    * Scale: tf is one linear shuffle on (doc, term); df aggregates the
    * tf table (one row per distinct (doc, term)) with map-side partial
    * counts; the tf⋈df join is keyed by term — hot stopwords are the
    * AQE skew-join case (the df side holds ONE row per term, so the
    * skewed tf partitions split freely; `Skew.saltedJoin` is the manual
    * dial if AQE is off). The per-doc top-k is a rank-filter window
    * that Spark rewrites to WindowGroupLimit (partial per-partition
    * top-k before the doc shuffle). */
  def tfidfTopK(df: DataFrame, idCol: String, textCol: String,
                k: Int): DataFrame = {
    val tok = df.select(col(idCol),
      explode(TextDedup.tokens(col(textCol))).as("term"))
    val tf = tok.groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val scored = tf.join(dfreq, "term")
      .withColumn("score", col("tf").cast("double") / col("df").cast("double"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("score").desc, col("term"))
    scored.withColumn("rnk", row_number().over(w).cast("int"))
      .filter(col("rnk") <= k)
      .select(col(idCol), col("term"), col("tf"), col("df"),
        col("score"), col("rnk"))
  }

  /** Corpus-unigram quality score — the deterministic stand-in for the
    * LM-perplexity filter of CCNet/Gopher-style curation: each document
    * scores by its mean token CORPUS PROBABILITY, avg_token_prob =
    * (Σ_tokens count(token)) / (n_tokens · total_tokens). Documents of
    * common, natural vocabulary score high; rare-token/garbage text
    * scores low — same signal direction as negated perplexity without a
    * transcendental (one IEEE division of exact longs; see [[tfidfTopK]]
    * for why that matters to the oracle). Bound: the numerator
    * Σ tf·cnt must fit a long — at 1e4-token docs that holds to ~1e14
    * corpus tokens, and ANSI mode faults loudly rather than wrapping
    * beyond it. The denominator n_tokens · total_tokens is routed
    * through decimal(38,0) — a full long×long product always fits 38
    * digits — so it can NEVER wrap, even in a session running with
    * ansi.enabled=false; below 2^53 the decimal→double rounding is
    * value-identical to the previous long-product path (and to the
    * DuckDB oracle's BIGINT product).
    *
    * Scale: same linear shapes as [[tfidfTopK]] — the weighted sums run
    * over the (doc, term) tf table, not the raw token stream, and the
    * one-row totals aggregate broadcasts. Zero-token documents carry no
    * rows. */
  def unigramScore(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tok = df.select(col(idCol),
      explode(TextDedup.tokens(col(textCol))).as("term"))
    val tf = tok.groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tf"))
    val cnt = tf.groupBy("term").agg(sum("tf").as("cnt"))
    val totals = cnt.agg(sum("cnt").as("total_tokens"))
    val perDoc = tf.join(cnt, "term")
      .groupBy(col(idCol))
      .agg(sum("tf").as("n_tokens"),
        sum(col("tf") * col("cnt")).as("sum_cnt"))
    perDoc.crossJoin(broadcast(totals))
      .select(col(idCol), col("n_tokens"),
        (col("sum_cnt").cast("double") /
          (col("n_tokens").cast("decimal(19,0)") *
            col("total_tokens").cast("decimal(19,0)")).cast("double"))
          .as("avg_token_prob"))
  }

  /** Bigram typicality score — [[unigramScore]]'s exact-rational form
    * over 2-gram EVENTS: mean corpus-probability of the document's
    * adjacent token pairs. The signal unigram scoring cannot see is
    * word ORDER — shuffled-word spam and template-stitched text reuse
    * perfectly common words in bigrams the corpus has never produced,
    * so they score low here while sailing through the unigram filter.
    * Same determinism discipline: every aggregate is an exact long
    * (conditional-probability means were rejected — summing
    * per-bigram fractions with differing denominators is
    * float-addition-order-dependent under shuffle), one final double
    * division, one-row totals broadcast. Documents with fewer than two
    * tokens carry no bigrams and emit no row. */
  def bigramScore(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    // tokens staged in their OWN projection below the Generate
    // (lmCondScore's shape): generator expressions get no
    // subexpression elimination, so the inlined form ran the
    // tokenizer regex 4x per row (shingleArray references the token
    // array four times — round-18 plan sweep)
    val grams = df
      .select(col(idCol), TextDedup.tokens(col(textCol)).as("_w"))
      .select(col(idCol),
        explode(TextDedup.shingleArray(col("_w"), 2)).as("bg"))
    val tf = grams.groupBy(col(idCol), col("bg")).agg(count(lit(1)).as("tf"))
    val cnt = tf.groupBy("bg").agg(sum("tf").as("cnt"))
    val totals = cnt.agg(sum("cnt").as("total_bigrams"))
    val perDoc = tf.join(cnt, "bg")
      .groupBy(col(idCol))
      .agg(sum("tf").as("n_bigrams"),
        sum(col("tf") * col("cnt")).as("sum_cnt"))
    perDoc.crossJoin(broadcast(totals))
      .select(col(idCol), col("n_bigrams"),
        (col("sum_cnt").cast("double") /
          (col("n_bigrams").cast("decimal(19,0)") *
            col("total_bigrams").cast("decimal(19,0)")).cast("double"))
          .as("avg_bigram_prob"))
  }

  /** Add-one-smoothed CONDITIONAL bigram LM score — the CCNet-style
    * scorer proper (Wenzek et al. 2020 rank by LM perplexity, i.e.
    * P(w₂|w₁) chains, not joint typicality): per bigram VALUE the
    * smoothed conditional probability
    *   P̂(w₂|w₁) = (c(w₁w₂) + 1) / (c(w₁·) + V)
    * (add-one over the corpus vocabulary V, c(w₁·) the left-context
    * total), QUANTIZED per value to u9 fixed point by integer
    * division — which is what makes a conditional-probability MEAN
    * deterministic at all: summing raw per-event fractions with
    * differing denominators is float-addition-order-dependent under
    * shuffle (the documented reason [[bigramScore]] rejected the
    * conditional form), while quantized longs sum exactly in any
    * order and the oracle replays every division. Doc score =
    * (Σ tf·p_u9) div n — the integer mean of its events' smoothed
    * conditional probabilities (log-free on purpose: cross-engine
    * `ln` is not bit-reproducible). Documents with fewer than two
    * tokens emit no row.
    *
    * Scale shape: counts live at bigram-vocab cardinality, the
    * context totals at unigram-vocab; the probability attaches to the
    * (doc, bigram) tf grain by a vocab-keyed join; V is a one-row
    * broadcast. No event-grain join, no all-pairs. */
  def lmCondScore(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = df.select(col(idCol), TextDedup.tokens(col(textCol)).as("_w"))
    val tf = toks.select(col(idCol),
        explode(TextDedup.shingleArray(col("_w"), 2)).as("bg"))
      .groupBy(col(idCol), col("bg")).agg(count(lit(1)).as("tf"))
    val cnt = tf.groupBy(col("bg")).agg(sum(col("tf")).as("cnt"))
    val c1 = cnt
      .groupBy(split(col("bg"), " ").getItem(0).as("_w1"))
      .agg(sum(col("cnt")).as("_c1"))
    val vocab = toks.select(TextDedup.explodeArr(col("_w")).as("_tok"))
      .agg(count_distinct(col("_tok")).as("_v"))
    val p = cnt.withColumn("_w1", split(col("bg"), " ").getItem(0))
      .join(c1, Seq("_w1")).crossJoin(broadcast(vocab))
      .select(col("bg"),
        call_function("div", lit(1000000000L) * (col("cnt") + lit(1L)),
          col("_c1") + col("_v")).as("_p"))
    tf.join(p, Seq("bg"))
      .groupBy(col(idCol))
      .agg(sum(col("tf")).as("n_bigrams"),
        sum(col("tf") * col("_p")).as("_su"))
      .select(col(idCol), col("n_bigrams"),
        call_function("div", col("_su"), col("n_bigrams")).as("lm_u9"))
      .orderBy(idCol)
  }

  /** Per-batch corpus term counts `(term, cnt)` — the additive partial
    * for the streaming unigram-stats MV
    * ([[graft.streaming.Ingest.unigramView]]). Long counts are
    * exact and associative, so partials merged in any batch order equal
    * the full-corpus counts bit-for-bit. */
  def unigramPartials(df: DataFrame, textCol: String): DataFrame =
    df.select(explode(TextDedup.tokens(col(textCol))).as("term"))
      .groupBy("term").agg(count(lit(1)).as("cnt"))

  /** State merge for [[unigramPartials]]: full-outer per-term sum. */
  def mergeUnigramPartials(state: DataFrame, batch: DataFrame): DataFrame =
    state.select(col("term"), col("cnt").as("_s"))
      .join(batch.select(col("term"), col("cnt").as("_b")),
        Seq("term"), "full_outer")
      .select(col("term"),
        (coalesce(col("_s"), lit(0L)) + coalesce(col("_b"), lit(0L)))
          .as("cnt"))

  /** [[unigramScore]] against PRE-BUILT corpus term counts (`(term,
    * cnt)` — e.g. the streaming MV state): for docs that are part of
    * the counted corpus the output is identical to
    * `unigramScore(corpus)` (every term present, same exact integer
    * sums, same division shape — spec-pinned bit-equal); terms absent
    * from `counts` (new docs scored against an older corpus model)
    * contribute probability 0, the standard OOV floor. At 100 TB this
    * is the point of the MV: scoring a new slice costs one pass over
    * the SLICE plus a vocab-scale join, never a corpus rescan. */
  def unigramScoreAgainst(df: DataFrame, idCol: String, textCol: String,
                          counts: DataFrame): DataFrame = {
    val tok = df.select(col(idCol),
      explode(TextDedup.tokens(col(textCol))).as("term"))
    val tf = tok.groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tf"))
    val totals = counts.agg(sum("cnt").as("total_tokens"))
    val perDoc = tf.join(counts.select(col("term"), col("cnt")),
        Seq("term"), "left")
      .groupBy(col(idCol))
      .agg(sum("tf").as("n_tokens"),
        sum(col("tf") * coalesce(col("cnt"), lit(0L))).as("sum_cnt"))
    perDoc.crossJoin(broadcast(totals))
      .select(col(idCol), col("n_tokens"),
        (col("sum_cnt").cast("double") /
          (col("n_tokens").cast("decimal(19,0)") *
            col("total_tokens").cast("decimal(19,0)")).cast("double"))
          .as("avg_token_prob"))
  }

  /** Bigram analog of [[unigramPartials]]: per-batch `(term, cnt)`
    * where term is the space-joined adjacent token pair. Same additive
    * long counts, same column names — [[mergeUnigramPartials]] merges
    * these unchanged, and the state is bigram-VOCAB-scale. */
  def bigramPartials(df: DataFrame, textCol: String): DataFrame =
    df.select(TextDedup.tokens(col(textCol)).as("_w"))
      .select(explode(TextDedup.shingleArray(col("_w"), 2)).as("term"))
      .groupBy("term").agg(count(lit(1)).as("cnt"))

  /** [[bigramScore]] against PRE-BUILT corpus bigram counts — the
    * serving half of the streaming bigram MV, with the same contract
    * as [[unigramScoreAgainst]]: identical output to
    * `bigramScore(corpus)` for docs inside the counted corpus
    * (spec-pinned bit-equal), probability-0 floor for bigrams the
    * model has never seen, one pass over the slice plus a vocab-scale
    * join — never a corpus rescan. */
  def bigramScoreAgainst(df: DataFrame, idCol: String, textCol: String,
                         counts: DataFrame): DataFrame = {
    val grams = df
      .select(col(idCol), TextDedup.tokens(col(textCol)).as("_w"))
      .select(col(idCol),
        explode(TextDedup.shingleArray(col("_w"), 2)).as("term"))
    val tf = grams.groupBy(col(idCol), col("term"))
      .agg(count(lit(1)).as("tf"))
    val totals = counts.agg(sum("cnt").as("total_bigrams"))
    val perDoc = tf.join(counts.select(col("term"), col("cnt")),
        Seq("term"), "left")
      .groupBy(col(idCol))
      .agg(sum("tf").as("n_bigrams"),
        sum(col("tf") * coalesce(col("cnt"), lit(0L))).as("sum_cnt"))
    perDoc.crossJoin(broadcast(totals))
      .select(col(idCol), col("n_bigrams"),
        (col("sum_cnt").cast("double") /
          (col("n_bigrams").cast("decimal(19,0)") *
            col("total_bigrams").cast("decimal(19,0)")).cast("double"))
          .as("avg_bigram_prob"))
  }

  /** Corpus-refresh TEXT drift gate — the unigram sibling of
    * [[graft.ops.Profiler.drift]]: per-term parts-per-million rates in
    * two corpora (exact integer micro rates, cnt*1e6 div total),
    * full-outer-joined over their vocabularies with the ppm shift.
    * Catches the content drift a column profiler is blind to —
    * tokenizer changes, crawler regressions, template floods. Two
    * vocab-scale map-side-combinable counts + broadcast totals + one
    * vocab-scale join; each corpus is scanned once. `minPpm` drops
    * terms below the floor on BOTH sides (noise tail). */
  def vocabDrift(a: DataFrame, b: DataFrame, textCol: String,
                 minPpm: Long = 0L): DataFrame = {
    def rates(d: DataFrame, name: String) = {
      val wf = wordFrequencies(d, textCol)
      val tot = wf.agg(sum(col("cnt")).as("_tot"))
      wf.crossJoin(broadcast(tot))
        .select(col("word"), expr("cnt * 1000000 div _tot").as(name))
    }
    rates(a, "ppm_a").join(rates(b, "ppm_b"), Seq("word"), "full_outer")
      .select(col("word"),
        coalesce(col("ppm_a"), lit(0L)).as("ppm_a"),
        coalesce(col("ppm_b"), lit(0L)).as("ppm_b"))
      .withColumn("delta_ppm", col("ppm_b") - col("ppm_a"))
      .filter(col("ppm_a") >= minPpm || col("ppm_b") >= minPpm)
  }

  /** Per-source corpus DATA CARD — the report a corpus team
    * regenerates on every refresh: volumes (docs/tokens/chars), exact
    * mean quality, language mix and PII-carrier counts per source, in
    * ONE corpus pass. The per-doc metrics are the map-side
    * [[withQualityMetrics]] projection plus [[piiMatchCount]]; the
    * report is a map-side-combinable groupBy over sources-cardinality
    * keys, and mean quality rides the order-independent exact sum
    * ([[graft.util.Exact.dsum6]]) — the whole card is bit-reproducible
    * across engines and partitionings. */
  def corpusReport(df: DataFrame, idCol: String, textCol: String,
                   sourceCol: String, langCol: String): DataFrame = {
    val q = withQualityMetrics(
        df.select(col(idCol), col(sourceCol), col(langCol), col(textCol)),
        textCol)
      .withColumn("_npii", piiMatchCount(col(textCol)))
    q.groupBy(col(sourceCol))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        sum(col("n_chars")).as("n_chars"),
        graft.util.Exact.dsum6(col("quality_score")).as("_qs"),
        sum(when(col(langCol) === "en", lit(1L)).otherwise(lit(0L)))
          .as("n_en"),
        sum(when(col("_npii") > 0, lit(1L)).otherwise(lit(0L)))
          .as("n_pii_docs"))
      .select(col(sourceCol), col("n_docs"), col("n_tokens"),
        col("n_chars"),
        round(col("_qs") / col("n_docs").cast("double"), 6)
          .as("mean_quality"),
        col("n_en"), col("n_pii_docs"))
  }

  /** CCNet-style perplexity bucketing (Wenzek et al. 2020): rank every
    * document by its corpus-LM typicality ([[bigramScore]]'s
    * avg_bigram_prob — high prob == low perplexity) and label the
    * corpus thirds head/middle/tail; CCNet trains on head+middle and
    * drops the tail. Thresholds are the exact 1/3 and 2/3
    * interpolated percentiles (the a6 estimator), then the label is a
    * map-side comparison against the broadcast pair — no global sort,
    * no window over the corpus.
    *
    * `exact = true` is the oracle contract (one exact-percentile
    * buffer holding one double per DOC — one reducer; fine to ~1e8
    * docs); `exact = false` swaps in percentile_approx (t-digest,
    * mergeable, the 100 TB interactive path — NOT oracle-checked, the
    * thresholdsApprox precedent). */
  def pplBuckets(df: DataFrame, idCol: String, textCol: String,
                 exact: Boolean = true): DataFrame = {
    // the scored frame feeds BOTH the threshold subquery and the probe
    // side, and exchange reuse does not bridge a broadcast boundary —
    // uncached, the full bigram pipeline runs twice (measured 89 s ->
    // 47 s at the x30 probe). Within-action cache, released on the
    // caller's first action (the dedupCorpus precedent).
    val scored = bigramScore(df, idCol, textCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val p = array(lit(1.0 / 3), lit(2.0 / 3))
    val q =
      if (exact) percentile(col("avg_bigram_prob"), p)
      else percentile_approx(col("avg_bigram_prob"), p, lit(10000))
    val th = scored.agg(q.as("_t"), sum(col("n_bigrams")).as("_tb"))
    val out = scored.crossJoin(broadcast(th))
      .select(col(idCol), col("n_bigrams"), col("avg_bigram_prob"),
        bucketLabel(col("avg_bigram_prob"), col("_t")(0), col("_t")(1),
          col("_tb")).as("ppl_bucket"))
    graft.util.CacheRelease.releaseAfterFirstAction(out, Seq(scored))
  }

  /** The bucket comparison with a SCALE-DERIVED rounding quantum
    * (mirrored in the oracle): both comparison sides are multiplied by
    * 10^digits(total_bigrams) — exact powers of ten in double far past
    * any corpus size — and rounded at 6dp, i.e. the quantum is ~1e-6
    * RELATIVE to the score's natural scale 1/total_bigrams. Rounding
    * both sides absorbs the last-ulp disagreement between Spark
    * `percentile` and DuckDB `quantile_cont` at non-integral positions
    * (an unrounded boundary doc would flip buckets between engines —
    * the Profiler.histogram precedent), and the SCORE is rounded too
    * so score == threshold stays an equality after rounding (a
    * single-doc corpus is its own head). A FIXED decimal count cannot
    * do this job: the previous hardcoded 9dp collapses the tertiles
    * to equality once avg_bigram_prob ~ 1/corpus-bigrams drops below
    * 1e-9 (a web-scale corpus), while a fixed fine quantum loses the
    * ulp absorption on tiny corpora — digits(total_bigrams) tracks
    * the scale exactly (spec-pinned on a planted corpus where 9dp
    * collapses). The OUTPUT column stays unrounded. */
  private[graft] def bucketLabel(score: Column, t0: Column, t1: Column,
                                 totalBigrams: Column): Column = {
    val sc = pow(lit(10.0),
      length(totalBigrams.cast("string")).cast("double"))
    val s = round(score * sc, 6)
    when(s >= round(t1 * sc, 6), lit("head"))
      .when(s >= round(t0 * sc, 6), lit("middle"))
      .otherwise(lit("tail"))
  }

  /** Document-length histogram: counts per `binWidth`-char bin —
    * the distribution check before length-based quality filtering. */
  def lengthHistogram(df: DataFrame, textCol: String, binWidth: Int): DataFrame =
    df.select((floor(length(col(textCol)) / binWidth) * binWidth)
        .cast("long").as("bin_lo"))
      .groupBy("bin_lo").agg(count(lit(1)).as("n_docs"))

  /** Canonical text normalization — the pre-hash step dedup pipelines
    * apply so cosmetic variants (case, runs of whitespace, stray
    * control characters) collapse to one identity: lowercase, control
    * chars → space, whitespace runs → one space, trim. Pure codegen'd
    * string expression; patterns are dialect-neutral (Java regex ==
    * RE2 here) so the oracle reproduces it byte-for-byte. */
  def normalizeText(text: Column): Column =
    trim(regexp_replace(
      regexp_replace(lower(text), "[\\x00-\\x1F]", " "), "\\s+", " "))

  /** Normalized identity per document: the canonical text's length and
    * 60-bit content hash — what exactDedup SHOULD key on when the
    * corpus carries cosmetic duplicates. */
  def withNormalized(df: DataFrame, idCol: String,
                     textCol: String): DataFrame =
    df.select(col(idCol),
      normalizeText(col(textCol)).as("norm_text"))
      .select(col(idCol),
        length(col("norm_text")).cast("long").as("n_chars_norm"),
        TextDedup.md5Hash60(col("norm_text")).as("norm_hash"))

  /** PII surface patterns — the pre-training privacy scrub every
    * training-data pipeline runs before text leaves curation (the
    * hygiene sibling of [[graft.ops.TextDedup.contamination]]: that
    * one keeps eval text OUT of train, this one keeps personal
    * identifiers out of everything). A deliberately conservative,
    * dialect-neutral regex subset (no lookaround, no backreferences,
    * ASCII classes only) so Java's engine and the DuckDB oracle's RE2
    * match identically: emails, dashed 3-2-4 id numbers (kept apart
    * from phones by group shape), 3-3-4 phones, dotted-quad IPv4.
    * (name, pattern, redaction placeholder), in REDACTION ORDER:
    * emails first — their local parts may embed digit runs the
    * number patterns would otherwise see; placeholders themselves
    * contain no digits, so later patterns can't match across an
    * earlier replacement. */
  private[ops] val piiPatterns: Seq[(String, String, String)] = Seq(
    ("emails", """[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}""",
      "[EMAIL]"),
    ("ids", """\b\d{3}-\d{2}-\d{4}\b""", "[ID]"),
    ("phones", """\b\d{3}[-.]\d{3}[-.]\d{4}\b""", "[PHONE]"),
    ("ipv4", """\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b""", "[IP]"))

  /** Total PII matches in `text` across all patterns — the column-level
    * building block ([[piiStats]] per-pattern counts, the streaming
    * scrub sink's routing predicate). Codegen'd, shuffle-free. */
  def piiMatchCount(text: Column): Column =
    piiPatterns.map { case (_, pat, _) =>
      size(regexp_extract_all(text, lit(pat), lit(0)))
    }.reduce(_ + _).cast("long")

  /** `text` with every PII match replaced by its typed placeholder, in
    * [[piiPatterns]] order. Codegen'd, shuffle-free. */
  def piiRedacted(text: Column): Column =
    piiPatterns.foldLeft(text) { case (c, (_, pat, repl)) =>
      regexp_replace(c, lit(pat), lit(repl))
    }

  /** Per-document PII counts (each pattern counted independently on
    * the ORIGINAL text — the patterns are mutually exclusive by
    * construction) plus a has_pii 0/1 flag. A pure projection of
    * codegen'd regexp_extract_all calls: no shuffle, input
    * partitioning survives, and at 100 TB the scan is the whole
    * job — exactly what a scrub pass should cost. */
  def piiStats(df: DataFrame, idCol: String, textCol: String): DataFrame =
    withPiiStats(df, textCol).select(col(idCol) +:
      (piiPatterns.map(p => col(s"n_${p._1}")) :+ col("has_pii")): _*)

  /** [[piiStats]]'s columns APPENDED to the input row (still a pure
    * projection) — for callers that route on the counts and keep the
    * document, like the streaming scrub sink's quarantine record. */
  def withPiiStats(df: DataFrame, textCol: String): DataFrame = {
    val withCounts = piiPatterns.foldLeft(df) { case (d, (name, pat, _)) =>
      d.withColumn(s"n_$name",
        size(regexp_extract_all(col(textCol), lit(pat), lit(0)))
          .cast("long"))
    }
    withCounts.withColumn("has_pii",
      (piiPatterns.map(p => col(s"n_${p._1}")).reduce(_ + _) > 0L)
        .cast("long"))
  }

  /** Redacted copy of the text: (id, redacted). Same pure-projection
    * shape as [[piiStats]]. */
  def piiRedact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), piiRedacted(col(textCol)).as("redacted"))

  /** Gopher-style repetition metrics — the curation filters that catch
    * degenerate/templated text exact dedup misses: per document,
    * `dup_token_frac` = 1 − distinct/total tokens (token-level
    * repetitiveness) and `top_bigram_frac` = most-frequent-bigram count
    * / total bigrams (the "fraction of characters in the most common
    * n-gram" family of Rae et al.'s Gopher rules, at word grain).
    * EVERYTHING is a per-row array expression — the bigram mode is a
    * sort + one linear max-run pass over the doc's own bigrams, not an
    * explode: the explode/groupBy formulation shuffles ~n_tokens rows
    * PER DOCUMENT (a 40x row blow-up through the network at 100 TB),
    * where a map-side pass moves nothing and needs no join back.
    * Ratios are single IEEE divisions of exact longs →
    * oracle-reproducible. */
  def repetitionMetrics(df: DataFrame, idCol: String,
                        textCol: String): DataFrame = {
    // round 17: max bigram multiplicity via the fused TopGramRun kernel
    // (one hash-map pass per row) — the sort_array(shingles) +
    // interpreted aggregate run-scan it replaces materialized and
    // sorted a per-row shingle copy and evaluated its lambda per
    // element (TextKernelsSpec pins value-identity). The denominator
    // is the bigram count, max(n_tokens - 1, 0), without building the
    // array: division by 0 yields null → coalesce 0.0, exactly as the
    // empty-shingle case did before.
    df.select(col(idCol), TextDedup.tokens(col(textCol)).as("_w"))
      .withColumn("n_tokens", size(col("_w")).cast("long"))
      .withColumn("_nd", size(array_distinct(col("_w"))).cast("long"))
      .withColumn("_bgtop",
        graft.functions.TextKernels.topGramRunCol(col("_w"), 2))
      .select(col(idCol), col("n_tokens"),
        round(when(col("n_tokens") > 0,
          lit(1.0) - col("_nd").cast("double") / col("n_tokens")
            .cast("double")).otherwise(lit(0.0)), 6).as("dup_token_frac"),
        round(coalesce(col("_bgtop").getField("cnt").cast("double") /
          greatest(col("n_tokens") - 1L, lit(0L)).cast("double"),
          lit(0.0)), 6)
          .as("top_bigram_frac"))
  }

  /** The Gopher stopword list (Rae et al. 2021, Appendix A): a doc must
    * contain at least `minStopHits` DISTINCT of these to pass the
    * stopword rule. */
  val gopherStopwords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** Gopher-style rule-based quality filter (Rae et al. 2021, Appendix
    * A "Quality filtering", adapted to this tokenizer): per-document
    * signals, one boolean verdict per rule, and the conjunctive `keep`.
    * Rules: word count in [minWords, maxWords]; mean word length in
    * [minMeanLen, maxMeanLen]; symbol-to-word ratio ('#' plus '...'
    * occurrences over words) <= maxSymbolRatio; fraction of lines
    * starting with a bullet <= maxBulletFrac; fraction of lines ending
    * in an ellipsis <= maxEllipsisFrac; fraction of whitespace words
    * containing a letter >= minAlphaFrac; >= minStopHits distinct
    * [[gopherStopwords]].
    *
    * Scale shape: ONE tokenization + a handful of per-row array/string
    * expressions — entirely map-side (no shuffle, no join, no UDF), so
    * the filter streams through a 100 TB scan at I/O speed. Counts are
    * exact longs; every ratio is a single IEEE division of exact longs
    * → oracle-reproducible bit-for-bit. */
  def gopherRules(df: DataFrame, idCol: String, textCol: String,
                  minWords: Long = 50L, maxWords: Long = 100000L,
                  minMeanLen: Double = 3.0, maxMeanLen: Double = 10.0,
                  maxSymbolRatio: Double = 0.1,
                  maxBulletFrac: Double = 0.9,
                  maxEllipsisFrac: Double = 0.3,
                  minAlphaFrac: Double = 0.8,
                  minStopHits: Long = 2L): DataFrame = {
    val t = col(textCol)
    // '#' and non-overlapping '...' occurrences via literal replace
    // (left-to-right non-overlap in every engine, no regex dialects)
    val nHash = length(t) - length(replace(t, lit("#"), lit("")))
    val nEllipsis =
      (length(t) - length(replace(t, lit("..."), lit("")))) / lit(3)
    val s1 = df
      .select(col(idCol), t,
        TextDedup.tokens(t).as("_w"),
        split(t, "\n").as("_lines"),
        split(trim(lower(t)), "\\s+").as("_ws"))
      .withColumn("_nw", size(col("_w")).cast("long"))
      .withColumn("_chars",
        graft.functions.TextKernels.sumCharLenCol(col("_w")))
      .withColumn("_nsym", (nHash + nEllipsis).cast("long"))
      .withColumn("_nlines", size(col("_lines")).cast("long"))
      .withColumn("_nbullet", size(filter(col("_lines"), l => {
        val lt = ltrim(l)
        lt.startsWith("- ") || lt.startsWith("* ")
      })).cast("long"))
      .withColumn("_nellipsis", size(filter(col("_lines"),
        l => rtrim(l).endsWith("..."))).cast("long"))
      .withColumn("_nalpha", size(filter(col("_ws"),
        w => w.rlike("[a-z]"))).cast("long"))
      .withColumn("_nws", size(col("_ws")).cast("long"))
      .withColumn("stop_hits", size(array_intersect(
        array_distinct(col("_w")),
        array(gopherStopwords.map(lit): _*))).cast("long"))
    val nw = col("_nw")
    val meanLen = when(nw > 0,
      col("_chars").cast("double") / nw.cast("double")).otherwise(lit(0.0))
    val symRatio = when(nw > 0,
      col("_nsym").cast("double") / nw.cast("double")).otherwise(lit(0.0))
    val bulletFrac = when(col("_nlines") > 0,
      col("_nbullet").cast("double") / col("_nlines").cast("double"))
      .otherwise(lit(0.0))
    val ellipsisFrac = when(col("_nlines") > 0,
      col("_nellipsis").cast("double") / col("_nlines").cast("double"))
      .otherwise(lit(0.0))
    val alphaFrac = when(col("_nws") > 0,
      col("_nalpha").cast("double") / col("_nws").cast("double"))
      .otherwise(lit(0.0))
    val s2 = s1
      .withColumn("n_words", nw)
      .withColumn("mean_word_len", round(meanLen, 6))
      .withColumn("symbol_ratio", round(symRatio, 6))
      .withColumn("bullet_frac", round(bulletFrac, 6))
      .withColumn("ellipsis_frac", round(ellipsisFrac, 6))
      .withColumn("alpha_frac", round(alphaFrac, 6))
      .withColumn("r_words",
        nw >= minWords && nw <= maxWords)
      .withColumn("r_mean_len",
        meanLen >= minMeanLen && meanLen <= maxMeanLen)
      .withColumn("r_symbols", symRatio <= maxSymbolRatio)
      .withColumn("r_bullets", bulletFrac <= maxBulletFrac)
      .withColumn("r_ellipsis", ellipsisFrac <= maxEllipsisFrac)
      .withColumn("r_alpha", alphaFrac >= minAlphaFrac)
      .withColumn("r_stopwords", col("stop_hits") >= minStopHits)
    s2.withColumn("keep",
        col("r_words") && col("r_mean_len") && col("r_symbols") &&
          col("r_bullets") && col("r_ellipsis") && col("r_alpha") &&
          col("r_stopwords"))
      .select(col(idCol), col("n_words"), col("mean_word_len"),
        col("symbol_ratio"), col("bullet_frac"), col("ellipsis_frac"),
        col("alpha_frac"), col("stop_hits"),
        col("r_words"), col("r_mean_len"), col("r_symbols"),
        col("r_bullets"), col("r_ellipsis"), col("r_alpha"),
        col("r_stopwords"), col("keep"))
  }

  /** The Gopher REPETITION signal family at full strength (Rae et al.
    * 2021, Appendix A) — [[repetitionMetrics]]'s big sibling: per
    * document, duplicate-line fraction by count and by character mass,
    * "fraction of characters inside the single most frequent n-gram"
    * for n = 2,3,4 (naive count x gram chars over word chars — may
    * exceed 1 on degenerate text, exactly like the original), and
    * "fraction of characters covered by ANY duplicated n-gram" for
    * n = `dupN` (positional union — overlapping occurrences counted
    * once).
    *
    * Scale shape: entirely per-row fused kernels, zero shuffles. The
    * top-n-gram pass is one hash-map scan (ties go to the
    * lexicographically-smallest gram — deterministic, the same winner
    * the previous sorted-run-scan form produced). The dupN coverage
    * pass is O(tokens) per row. Corpora where whole documents are one
    * repeated phrase should profile spans with the corpus-level
    * machinery (TextDedup.dupSpanStats) instead. */
  def gopherRepetition(df: DataFrame, idCol: String, textCol: String,
                       dupN: Int = 5): DataFrame = {
    // Round 17: every per-row pass below is a fused codegen kernel
    // (graft.functions.TextKernels) — the sort_array + interpreted
    // higher-order run-scans this replaced spent seconds per bench row
    // in per-element lambda dispatch, and their expression structure
    // had to be defended against a CollapseProject-inlining hazard
    // (a HoF lambda referencing a non-cheap array column re-evaluates
    // the producing expression PER ELEMENT once pruning drops the
    // pass-through reference — measured 200x at the x30 probe in r15).
    // Kernels consume the array once per row by construction, so the
    // hazard class is gone, the per-row sorted shingle copies are
    // gone, and each signal is one hash-map pass. Value parity with
    // the old expressions is pinned by TextKernelsSpec and the
    // unchanged DuckDB oracle.
    import graft.functions.TextKernels.{topGramRunCol, dupGramCoverageCol,
      sumCharLenCol, dupRunCharsCol}
    val s1 = df
      .select(col(idCol), TextDedup.tokens(col(textCol)).as("_w"),
        split(col(textCol), "\n").as("_lines"))
      .withColumn("n_tokens", size(col("_w")).cast("long"))
      .withColumn("_chars", sumCharLenCol(col("_w")))
      .withColumn("_nlines", size(col("_lines")).cast("long"))
      .withColumn("_ndlines",
        size(array_distinct(col("_lines"))).cast("long"))
      .withColumn("_linechars", sumCharLenCol(col("_lines")))
      .withColumn("_dupchars", dupRunCharsCol(col("_lines")))
    // per-n top-gram stats: the (cnt, gram) struct is a COLUMN so the
    // two getField consumers share one run-scan
    def topFracOut(t: Column, n: Int): Column =
      round(coalesce(
        when(t.getField("cnt") > 0,
          t.getField("cnt").cast("double") *
            (length(t.getField("gram")) - lit(n - 1)).cast("double") /
            col("_chars").cast("double")),
        lit(0.0)), 6)
    val s1t = s1
      .withColumn("_t2", topGramRunCol(col("_w"), 2))
      .withColumn("_t3", topGramRunCol(col("_w"), 3))
      .withColumn("_t4", topGramRunCol(col("_w"), 4))
    // duplicated dupN-gram positional coverage (distinct duplicated
    // grams, repeat-start count, covered-token char mass) — one kernel
    // pass replacing the dupg/starts/interval-merge/slice-sum chain
    val s2 = s1t
      .withColumn("_dupc", dupGramCoverageCol(col("_w"), dupN))
    s2.select(col(idCol), col("n_tokens"),
      round(when(col("_nlines") > 0,
        (col("_nlines") - col("_ndlines")).cast("double") /
          col("_nlines").cast("double")).otherwise(lit(0.0)), 6)
        .as("dup_line_frac"),
      round(when(col("_linechars") > 0,
        col("_dupchars").cast("double") / col("_linechars").cast("double"))
        .otherwise(lit(0.0)), 6).as("dup_line_char_frac"),
      topFracOut(col("_t2"), 2).as("top2_char_frac"),
      topFracOut(col("_t3"), 3).as("top3_char_frac"),
      topFracOut(col("_t4"), 4).as("top4_char_frac"),
      col("_dupc").getField("dup_ngrams").as(s"dup${dupN}_ngrams"),
      col("_dupc").getField("dup_spans").as(s"dup${dupN}_spans"),
      round(when(col("_chars") > 0,
        col("_dupc").getField("cov_chars").cast("double") /
          col("_chars").cast("double"))
        .otherwise(lit(0.0)), 6).as(s"dup${dupN}_char_frac"))
  }

  /** Length-grouped micro-batching — the OTHER packing regime next to
    * [[packSequences]]' concat-and-chunk: padded-batch training and
    * batch inference pay for every pad token, so docs are banded by
    * token length (`bandWidth`-token bands), ordered (n_tokens, id)
    * within a band, and cut into consecutive `batchSize`-doc batches;
    * each batch pads to its own max. Returns one row per batch: docs,
    * max/summed lengths, padded size, and the padding fraction — the
    * efficiency dial a serving/training team tunes bandWidth against.
    *
    * Scale shape: the only per-row state is a rank WITHIN a length
    * band — nBands parallel windows over corpus/nBands rows each
    * (packSequences' bucketed-cumsum argument); everything after is a
    * per-batch aggregate. All longs; the fraction is one rounded
    * division. */
  def lengthBatches(df: DataFrame, idCol: String, textCol: String,
                    bandWidth: Int, batchSize: Int): DataFrame = {
    require(bandWidth > 0 && batchSize > 0,
      s"bandWidth/batchSize must be positive, got $bandWidth/$batchSize")
    val t = df.select(col(idCol),
        size(TextDedup.tokens(col(textCol))).cast("long").as("n_tokens"))
      .withColumn("band",
        floor(col("n_tokens") / lit(bandWidth)).cast("long"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("band").orderBy(col("n_tokens"), col(idCol))
    t.withColumn("batch_idx",
        floor((row_number().over(w) - lit(1)) / lit(batchSize))
          .cast("long"))
      .groupBy("band", "batch_idx")
      .agg(count(lit(1)).as("n_docs"),
        max(col("n_tokens")).as("max_len"),
        sum(col("n_tokens")).as("sum_tokens"))
      .withColumn("padded_tokens", col("n_docs") * col("max_len"))
      .withColumn("padding_frac",
        round(when(col("padded_tokens") > 0,
          (col("padded_tokens") - col("sum_tokens")).cast("double") /
            col("padded_tokens").cast("double")).otherwise(lit(0.0)), 6))
  }

  /** GPT-style sequence packing (concat-and-chunk): documents are
    * concatenated in a deterministic order and cut into fixed
    * `budget`-token training blocks; a document "belongs" to the block
    * its first token lands in (documents may straddle block
    * boundaries — that's standard pretraining packing, not bin
    * packing). The corpus is first hashed into `nBuckets` independent
    * streams, so the only sequential structure (the running token
    * offset) is a per-bucket window cumsum: nBuckets parallel sorted
    * cumsums over corpus/nBuckets rows each — pick nBuckets ≈ cores ×
    * a few at scale and no single reducer ever sees the corpus. Every
    * column is a pure function of (id, text) → exactly reproducible in
    * the DuckDB oracle. */
  def packSequences(df: DataFrame, idCol: String, textCol: String,
                    budget: Long, nBuckets: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("bucket")).orderBy(col(idCol))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    df.select(col(idCol),
        size(TextDedup.tokens(col(textCol))).cast("long").as("n_tokens"))
      .withColumn("bucket", pmod(col(idCol), lit(nBuckets)).cast("long"))
      .withColumn("start_off",
        coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .withColumn("pack_id", expr(s"start_off div $budget"))
      .select(col(idCol), col("bucket"), col("n_tokens"),
        col("start_off"), col("pack_id"))
  }

  /** RAG/training chunking: cut each document's token stream into
    * sliding windows of `size` tokens advancing by `stride` (overlap =
    * size − stride). Chunk starts are every stride-th offset below the
    * token count, so trailing chunks may be shorter than `size`; docs
    * with no tokens yield no chunks. Output grain is (id, chunk_idx)
    * with the chunk re-joined as text and its token count.
    *
    * Pure per-row expansion: tokenize → `sequence` of starts →
    * `posexplode` → `slice` — one Generate inside the scan stage, no
    * shuffle, no state. At 100 TB this chunker is a map-only pass whose
    * output partitioning inherits the input's; the bounded expansion
    * factor is ~len/stride per document. */
  def chunkDocuments(df: DataFrame, idCol: String, textCol: String,
                     size: Int, stride: Int): DataFrame = {
    require(size > 0 && stride > 0 && stride <= size,
      s"need 0 < stride <= size, got size=$size stride=$stride")
    val toks = TextDedup.tokens(col(textCol))
    df.select(col(idCol), toks.as("_w"))
      .withColumn("_n", org.apache.spark.sql.functions.size(col("_w")))
      .where(col("_n") > 0)
      .select(col(idCol), col("_w"), col("_n"),
        posexplode(sequence(lit(0),
          (col("_n") - 1).divide(stride).cast("int") * stride,
          lit(stride))).as(Seq("chunk_idx", "_start")))
      .select(col(idCol), col("chunk_idx").cast("long").as("chunk_idx"),
        col("_start").cast("long").as("start_token"), // provenance: the
        // chunk's 0-based token offset in the source doc (RAG
        // attribution / span reconstruction without re-tokenizing)
        least(lit(size), col("_n") - col("_start")).cast("long")
          .as("n_tokens"),
        array_join(slice(col("_w"), col("_start") + 1, lit(size)), " ")
          .as("chunk"))
  }

  /** Document fingerprint: position-weighted rolling hash over tokens —
    * sum over positions of ((pos+1) * (md5Hash60(token) mod 1e6)) mod
    * 2^61-1. Order-sensitive (unlike a bag-of-words hash) and exactly
    * reproducible in any engine with md5. */
  def fingerprint(text: Column): Column = fingerprintOf(TextDedup.tokens(text))

  private def fingerprintOf(words: Column): Column = {
    val pairs = zip_with(
      words,
      sequence(lit(1), greatest(size(words), lit(1))),
      (w, i) => i.cast("long") * (TextDedup.md5Hash60(w) % 1000000L))
    when(size(words) === 0, lit(0L)).otherwise(
      aggregate(pairs, lit(0L), (acc, x) => (acc + x) % 2305843009213693951L))
  }

  /** Staged fingerprint: the token array materializes once (it is
    * referenced three times in the expression — zip_with input plus two
    * size() guards — and would otherwise re-run the regex per
    * reference). */
  def withFingerprint(df: DataFrame, idCol: String, textCol: String,
                      outCol: String): DataFrame =
    df.select(col(idCol), TextDedup.tokens(col(textCol)).as("_w"))
      .select(col(idCol), fingerprintOf(col("_w")).as(outCol))

  /** End-to-end EXACT corpus curation — the composed training-data
    * hygiene pipeline: language filter (predicted language ∈
    * `keepLangs`) → quality filter (`quality_score >= minQuality`) →
    * exact dedup (min-id survivor per content hash). Every stage is
    * deterministic and SQL-expressible, so the whole composition is
    * DuckDB-oracled; the LSH-approximate near-dup stage deliberately
    * stays separate ([[graft.ops.TextDedup.dedupCorpus]]) — run it
    * after this when near-dup removal is wanted. Returns
    * (id, lang_pred, quality_score, n_tokens) for surviving docs.
    *
    * Stage order is dedup FIRST, then ONE fused language+quality pass
    * over the survivors: equal content means equal text, so every
    * member of a content-hash group passes or fails the lang/quality
    * filters together, so reorderings that dedup before/after the
    * filter are output-identical.
    *
    * Plan-shape note (measured, not guessed): a "fused" single-pass
    * variant — quality + language on one projection sharing one token
    * array — LOOKS cheaper but plans slower: predicate pushdown and
    * project collapse happily inline the non-codegen token/stopword
    * expression tree into every reference (29 copies of the tokenizer
    * regex in the optimized plan), and higher-order functions fall out
    * of whole-stage codegen so no subexpression elimination saves it.
    * Keeping language and quality as two NARROW projections joined on
    * id bounds each expression tree to one evaluation site; the join
    * is id-keyed on catalog-thin rows and its exchanges are reused
    * across the two references of `passed` below. */
  def curate(df: DataFrame, idCol: String, textCol: String,
             keepLangs: Seq[String], minQuality: Double): DataFrame = {
    // ONE corpus scan, ONE tokenization: the fused kernel computes
    // lang_pred + n_tokens + quality_score + the keep decision in a
    // single expression, so the pushed scan filter references ONE
    // `pass` field (one tokenizer pass per row) instead of re-inlining
    // the staged langid/quality cascade (24 regexp_extract_all copies
    // per row across 4 corpus scans before round 18 — predicate
    // pushdown has no duplication guard; see
    // [[graft.functions.CurateSignalKernel]]).
    val passed = df.select(col(idCol), col(textCol))
      .withColumn("_cs", graft.functions.CurateSignal.signalCol(
        TextDedup.tokens(col(textCol)),
        length(col(textCol)).cast("long"),
        length(regexp_replace(col(textCol), "[a-zA-Z0-9\\s]+", ""))
          .cast("long"),
        stopwordProfiles, keepLangs, minQuality))
      .filter(col("_cs.pass"))
    // exact dedup (TextDedup.exactDedup semantics: group by the
    // 60-bit content hash, keep the min-id row) fused into ONE
    // aggregation instead of groupBy + semi-join-back: rows in a hash
    // group share the text, hence every kernel-derived column — so
    // min_by lifts the survivor ROW directly, map-side partial
    // aggregation and all, and the corpus is scanned once, not twice.
    passed
      .groupBy(TextDedup.md5Hash60(col(textCol)).as("_h"))
      .agg(min_by(struct(col(idCol), col("_cs.lang_pred").as("lang_pred"),
        col("_cs.quality_score").as("quality_score"),
        col("_cs.n_tokens").as("n_tokens")), col(idCol)).as("_r"))
      .select(col(s"_r.$idCol"), col("_r.lang_pred"),
        col("_r.quality_score"), col("_r.n_tokens"))
  }

  // ---- tokenizer family: vocab application + BPE merge training ----

  /** Corpus word-frequency table — THE size reduction every
    * tokenizer-training pass leans on: one scan of the corpus collapses
    * 100 TB of text into a vocabulary-scale (word, cnt) table, and all
    * the iterative work downstream ([[bpeMerges]]) runs on that table,
    * never the corpus again. */
  def wordFrequencies(df: DataFrame, textCol: String): DataFrame =
    df.select(explode(TextDedup.tokens(col(textCol))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("cnt"))

  /** Top-k vocabulary as a driver-side (term -> id) map, id = 1-based
    * frequency rank (count desc, term asc — [[vocabTopK]]'s order).
    * The collect is BOUNDED at k rows by construction (TakeOrdered
    * prunes per-partition before anything reaches the driver). */
  def vocabIdMap(df: DataFrame, textCol: String,
                 k: Int): Map[String, Long] =
    vocabTopK(df, textCol, k).collect()
      .map(r => r.getString(0) -> r.getInt(2).toLong).toMap

  /** Tokenizer APPLICATION: map each document's tokens to ids from a
    * fixed bounded vocabulary; OOV tokens map to -1. A PURE PROJECTION
    * — no join, no shuffle, input partitioning survives; tokenizing
    * 100 TB is an embarrassingly parallel scan (the same shape real
    * pipelines use: the vocab is trainer-fixed and tiny next to the
    * corpus). Adds `token_ids`, `n_tokens`, `n_oov`, and `ids_fp` — a
    * 60-bit content hash of the id SEQUENCE (order-sensitive), the
    * cheap equality witness for "same tokenization" across engines and
    * runs. The lookup is the fused codegen kernel
    * [[graft.functions.VocabIds]] (value-identical to the declarative
    * broadcast-map-literal form, spec-pinned): the vocab rides one
    * Broadcast handle instead of a per-task plan literal, and the
    * per-token probe runs on UTF8String bytes inside whole-stage
    * codegen instead of an interpreted higher-order lambda — the lift
    * the earlier scaladoc promised for a hot 100 TB deployment. */
  def tokenIds(df: DataFrame, idCol: String, textCol: String,
               vocab: Map[String, Long]): DataFrame =
    df.withColumn("token_ids",
        graft.functions.VocabIds.vocabIds(
          TextDedup.tokens(col(textCol)), df.sparkSession, vocab))
      .withColumn("n_tokens", size(col("token_ids")).cast("long"))
      .withColumn("n_oov",
        size(filter(col("token_ids"), x => x === -1L)).cast("long"))
      .withColumn("ids_fp", TextDedup.md5Hash60(
        concat_ws(",", transform(col("token_ids"), x => x.cast("string")))))

  /** Adjacent symbol-pair counts over a (cnt, syms) word table — one
    * BPE training round's statistics: every adjacent (syms[i],
    * syms[i+1]) weighted by the word's corpus count. Pairs never cross
    * word boundaries (the standard word-internal BPE regime). */
  def bpePairCounts(wf: DataFrame): DataFrame =
    wf.filter(size(col("syms")) >= 2)
      .select(col("cnt"), explode(transform(
        sequence(lit(1), size(col("syms")) - 1),
        i => struct(element_at(col("syms"), i).as("l"),
          element_at(col("syms"), i + 1).as("r")))).as("p"))
      .select(col("cnt"), col("p.l").as("l"), col("p.r").as("r"))
      .groupBy("l", "r").agg(sum(col("cnt")).as("n"))

  /** Round-1 BPE statistics with a deterministic rank — the oracled
    * window into the trainer: top-k character pairs by weighted count
    * (ties by pair lexicographically), TakeOrdered-pruned before the
    * rank window like [[vocabTopK]]. */
  def bpeTopPairs(df: DataFrame, textCol: String, k: Int): DataFrame = {
    val pc = bpePairCounts(wordFrequencies(df, textCol)
      .withColumn("syms", split(col("word"), "")))
    val top = pc.orderBy(col("n").desc, col("l"), col("r")).limit(k)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("n").desc, col("l"), col("r"))
    top.withColumn("rnk", row_number().over(w).cast("int"))
      .select("rnk", "l", "r", "n")
  }

  /** Left-to-right non-overlapping merge of adjacent (l, r) into l||r —
    * one BPE merge applied to a symbol array. A sequential fold by
    * nature (after a merge the NEW symbol is the candidate left of the
    * next pair: merging (a,a) on "aaaa" yields [aa,aa], not [aa,a,a]),
    * hence `aggregate`, not a positional transform. A just-merged
    * symbol can never falsely re-merge as `l` in the same pass: that
    * would need l||r == l, impossible for nonempty r. */
  private def mergeAdjacent(syms: Column, l: String, r: String): Column =
    aggregate(syms, array().cast("array<string>"),
      (acc, s) => when(
        size(acc) > 0 && element_at(acc, -1) === lit(l) && s === lit(r),
        concat(slice(acc, lit(1), size(acc) - 1),
          array(concat(element_at(acc, -1), s))))
        .otherwise(concat(acc, array(s))))

  /** BPE merge TRAINING: learn `nMerges` merge rules from the corpus —
    * the missing trainer half of the tokenizer family ([[tokenIds]]
    * being the apply half). Classic regime: symbols start as single
    * characters inside [a-z0-9]+ words (no cross-word pairs, no
    * end-of-word marker), each round merges the globally most frequent
    * adjacent pair (ties broken lexicographically, so the merge table
    * is deterministic), stops early when no pair remains.
    *
    * Scale shape: the corpus is scanned ONCE into the vocab-scale
    * word-frequency table; every round then runs on that table —
    * explode-count-argmax (one shuffle on 2-char keys, one bounded
    * 1-row collect) plus a map-side merge rewrite. The per-round
    * frame is cached and the previous round released as soon as the
    * next materializes (the sanctioned iterative-loop cache pattern,
    * same as nearDupClusters' convergence loop — NOT localCheckpoint,
    * which explodes job counts under AQE). Returns the merge table
    * (rnk, left, right, n) — nMerges rows, driver-bounded by
    * construction. */
  def bpeMerges(df: DataFrame, textCol: String, nMerges: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    var wf = wordFrequencies(df, textCol)
      .withColumn("syms", split(col("word"), "")).cache()
    wf.count()
    val merges = scala.collection.mutable.ArrayBuffer[(Int, String, String, Long)]()
    var rank = 1
    var exhausted = false
    while (rank <= nMerges && !exhausted) {
      val top = bpePairCounts(wf)
        .orderBy(col("n").desc, col("l"), col("r")).limit(1).collect()
      if (top.isEmpty) exhausted = true
      else {
        val (l, r, n) =
          (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        merges += ((rank, l, r, n))
        val next = wf
          .withColumn("syms", mergeAdjacent(col("syms"), l, r)).cache()
        next.count()
        wf.unpersist()
        wf = next
        rank += 1
      }
    }
    wf.unpersist()
    merges.toSeq.toDF("rnk", "left", "right", "n")
  }

  /** [[bpeMerges]] with the merge loop on the DRIVER over a BOUNDED
    * word-frequency table — the ivfFit precedent (nobody iterates a
    * cluster 3×/round over statistics that fit in memory). ONE corpus
    * scan builds the top-`vocabCap` (cnt desc, word asc) table; the
    * round loop (pair count → argmax → greedy merge) then runs in
    * microseconds with the same count-desc/(l,r)-asc tie-break and the
    * same left-to-right non-overlapping merge as the distributed form
    * — bit-identical output whenever vocabCap covers the true vocab
    * (spec-pinned), and a principled truncation otherwise (Zipf: the
    * merge statistics live in the head; cap is the explicit dial).
    * Cuts the trainer from ~8 jobs/round to ONE job total — at
    * local[32] that was 9.1 s → ~1 s for t_bpe_encode, and on a real
    * cluster it removes 3 shuffle rounds per merge. */
  def bpeMergesLocal(df: DataFrame, textCol: String, nMerges: Int,
                     vocabCap: Int = 1 << 20): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val wf: Array[(Array[String], Long)] =
      wordFrequencies(df, textCol)
        .orderBy(col("cnt").desc, col("word")).limit(vocabCap)
        .collect()
        .map(r => (r.getString(0).split("").filter(_.nonEmpty),
          r.getLong(1)))
    val words = wf.map(_._1.clone())
    val merges = scala.collection.mutable.ArrayBuffer[(Int, String, String, Long)]()
    var rank = 1
    var exhausted = false
    while (rank <= nMerges && !exhausted) {
      val counts = scala.collection.mutable.HashMap
        .empty[(String, String), Long]
      var wi = 0
      while (wi < words.length) {
        val syms = words(wi); val cnt = wf(wi)._2
        var i = 0
        while (i < syms.length - 1) {
          val k = (syms(i), syms(i + 1))
          counts.update(k, counts.getOrElse(k, 0L) + cnt)
          i += 1
        }
        wi += 1
      }
      if (counts.isEmpty) exhausted = true
      else {
        // argmax: n desc, then (l, r) lexicographically
        var best: ((String, String), Long) = null
        counts.foreach { kv =>
          if (best == null || kv._2 > best._2 ||
            (kv._2 == best._2 &&
              (kv._1._1 < best._1._1 ||
                (kv._1._1 == best._1._1 && kv._1._2 < best._1._2))))
            best = kv
        }
        val ((l, r), n) = best
        merges += ((rank, l, r, n))
        // greedy left-to-right non-overlapping merge, the exact fold
        // semantics of the distributed mergeAdjacent
        wi = 0
        while (wi < words.length) {
          val syms = words(wi)
          val out = scala.collection.mutable.ArrayBuffer.empty[String]
          var i = 0
          while (i < syms.length) {
            if (out.nonEmpty && out.last == l && syms(i) == r)
              out(out.length - 1) = out.last + syms(i)
            else out += syms(i)
            i += 1
          }
          words(wi) = out.toArray
          wi += 1
        }
        rank += 1
      }
    }
    merges.toSeq.toDF("rnk", "left", "right", "n")
  }

  /** BPE ENCODING — the apply half of the trainer loop: tokenize each
    * document, split every token into character symbols, apply the
    * learned merge rules IN RANK ORDER (each one the same
    * left-to-right non-overlapping [[mergeAdjacent]] the trainer
    * used — so encoding the training corpus reproduces the trainer's
    * final symbol state, spec-pinned), and flatten to the document's
    * subword stream. Output per doc: `n_tokens`, `n_subwords`, and
    * `subwords_fp` — the 60-bit order-sensitive hash of the
    * space-joined stream, the cross-engine equality witness (same
    * convention as [[tokenIds]]' `ids_fp`).
    *
    * A pure projection: the merge table rides the expression tree (a
    * trained table is tens-of-thousands of rules; THIS form is the
    * reference semantics and is what the oracle replays — a hot
    * 100 TB encoder would fuse the rank-ordered merge loop into a
    * codegen kernel exactly like [[graft.functions.VocabIds]] replaced
    * tokenIds' lambda, trading the per-rule nested `transform`s for
    * one greedy pass). No join, no shuffle; empty docs keep a row
    * with the empty-stream fingerprint. */
  /** [[bpeEncode]] with the merge work done once per VOCAB WORD
    * instead of once per token occurrence: BPE decomposition is a pure
    * function of the word, and word frequency is Zipf — so the driver
    * applies the rules to the top-`vocabCap` words once (the
    * bpeMergesLocal loop) and tokens look their decomposition up in a
    * broadcast-literal map; a token outside the cap falls back LAZILY
    * to the expression path (coalesce short-circuits, so only OOV
    * occurrences pay it). Bit-identical to [[bpeEncode]]
    * (spec-pinned); at the bench the per-occurrence nested-fold was
    * the suite's single most expensive line (~9 s) and collapses to
    * the map probe. Keep vocabCap at plan-literal-friendly sizes
    * (default 64k); an unbounded-vocab deployment should lift the map
    * into a [[graft.functions.VocabIds]]-style broadcast kernel. */
  def bpeEncodeCached(df: DataFrame, idCol: String, textCol: String,
                      merges: Seq[(String, String)],
                      vocabCap: Int = 1 << 16): DataFrame = {
    val words = wordFrequencies(df, textCol)
      .orderBy(col("cnt").desc, col("word")).limit(vocabCap)
      .select("word").collect().map(_.getString(0))
    def encodeWord(w: String): String = {
      var syms: Array[String] = w.split("").filter(_.nonEmpty)
      merges.foreach { case (l, r) =>
        val out = scala.collection.mutable.ArrayBuffer.empty[String]
        var i = 0
        while (i < syms.length) {
          if (out.nonEmpty && out.last == l && syms(i) == r)
            out(out.length - 1) = out.last + syms(i)
          else out += syms(i)
          i += 1
        }
        syms = out.toArray
      }
      syms.mkString(" ")
    }
    val subMap = typedlit(words.map(w => w -> encodeWord(w)).toMap)
    def fallback(t: Column): Column = array_join(
      merges.foldLeft(split(t, "")) { case (acc, (l, r)) =>
        mergeAdjacent(acc, l, r)
      }, " ")
    def subOf(t: Column): Column =
      coalesce(element_at(subMap, t), fallback(t))
    df.select(col(idCol), TextDedup.tokens(col(textCol)).as("_w"))
      .withColumn("_subs", transform(col("_w"), t => subOf(t)))
      .select(col(idCol),
        size(col("_w")).cast("long").as("n_tokens"),
        aggregate(col("_subs"), lit(0L),
          (acc, s) => acc + size(split(s, " ")).cast("long"))
          .as("n_subwords"),
        TextDedup.md5Hash60(array_join(col("_subs"), " "))
          .as("subwords_fp"))
  }

  def bpeEncode(df: DataFrame, idCol: String, textCol: String,
                merges: Seq[(String, String)]): DataFrame = {
    val perTok = transform(TextDedup.tokens(col(textCol)),
      t => split(t, ""))
    val mergedTok = merges.foldLeft(perTok) { case (acc, (l, r)) =>
      transform(acc, syms => mergeAdjacent(syms, l, r))
    }
    df.select(col(idCol), mergedTok.as("_st"))
      .select(col(idCol),
        size(col("_st")).cast("long").as("n_tokens"),
        aggregate(col("_st"), lit(0L),
          (acc, s) => acc + size(s).cast("long")).as("n_subwords"),
        TextDedup.md5Hash60(
          array_join(transform(col("_st"), s => array_join(s, " ")), " "))
          .as("subwords_fp"))
  }

  /** Model-based quality scoring — the fasttext/CCNet-style linear
    * classifier inference step of a curation pipeline, at corpus
    * scale: score(doc) = bias + Σ over TOKEN OCCURRENCES of w(token)
    * (a bag-of-words linear model; repeats count once per occurrence,
    * out-of-vocabulary tokens weigh 0). The model arrives as a
    * `(term, w_micro)` DataFrame with weights in integer MICRO-units:
    * the per-document sum is then an exact LONG — order-free across
    * any partitioning and bit-identical in the DuckDB oracle — and one
    * final correctly-rounded division surfaces the double score.
    * (Summing double weights directly would make the score depend on
    * Spark's partition-order reduction; a sigmoid is deliberately NOT
    * applied here — exp is not correctly-rounded IEEE, so engines may
    * disagree by an ulp; monotone thresholding doesn't need it.)
    *
    * Plan: token explode (bounded per-row expansion) → equi-join the
    * vocab-scale weights table (AQE broadcasts a real model's few
    * million rows; a corpus-scale join would shuffle on the 8-byte-ish
    * term anyway) → one partial-agg groupBy(id). Empty documents keep
    * a row (explode_outer) scoring exactly the bias. */
  def linearScore(df: DataFrame, idCol: String, textCol: String,
                  weights: DataFrame, biasMicro: Long = 0L): DataFrame = {
    val tok = df.select(col(idCol),
      explode_outer(TextDedup.tokens(col(textCol))).as("term"))
    tok.join(weights.select(col("term"), col("w_micro")), Seq("term"),
        "left")
      .groupBy(col(idCol))
      .agg(count(col("term")).as("n_tokens"),
        coalesce(sum(coalesce(col("w_micro"), lit(0L))), lit(0L)).as("_s"))
      .select(col(idCol), col("n_tokens"),
        (col("_s") + lit(biasMicro)).as("score_micro"),
        ((col("_s") + lit(biasMicro)).cast("double") / 1e6).as("score"))
  }
}
