package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Retrieval family for a training-data pipeline: a sharded inverted
  * index (the Lucene-segment layout, re-expressed as a partitioned
  * table) and a BM25-style ranked keyword search over the corpus. The
  * reference has no search surface (its lookups are key joins,
  * app/database.py), but a corpus team doing curation triage — "show me
  * the top documents mentioning X" — needs exactly this, and at 100 TB
  * it must be an index probe, not a corpus scan.
  *
  * Determinism contract: scoring is transcendental-free (the odds form
  * of the Robertson-Spärck-Jones idf, i.e. the ARGUMENT of BM25's log,
  * not its log — java.lang.Math.log and libm disagree in the last ulp,
  * so an oracled score cannot cross one). Per-term scores are frozen to
  * exact micro-units (round half-up to long) BEFORE the per-document
  * sum, so the sum is integer arithmetic — order-independent across
  * partitionings and engines, the [[graft.ml.QualityModel]] precedent.
  */
object Retrieval {

  /** Sharded inverted index: `(term, segment) -> sorted posting list`,
    * with the global document frequency carried on every shard row.
    *
    * The segment key (`doc_id mod nSegments`) bounds every aggregation
    * group at its segment's share of the term's postings — a stopword
    * appearing in 10^9 documents becomes nSegments groups of
    * 10^9/nSegments, never one hot reducer holding the full list; the
    * global df is re-aggregated from per-segment counts (map-side
    * combinable longs), so no stage ever sees a term's full posting
    * set in one task. `minDf` prunes hapax noise at the end (after the
    * exact global count, so the threshold is corpus-true).
    *
    * Posting lists are per-document-DISTINCT terms (an index maps term
    * to documents; term frequency belongs to the scorer, [[bm25TopK]]).
    */
  def shardedPostings(df: DataFrame, idCol: String, textCol: String,
                      nSegments: Int, minDf: Long = 1L): DataFrame = {
    val tok = df.select(col(idCol).as("_doc"),
        explode(array_distinct(TextDedup.tokens(col(textCol)))).as("term"))
      .withColumn("segment", pmod(col("_doc"), lit(nSegments.toLong))
        .cast("int"))
    val perSeg = tok.groupBy(col("term"), col("segment"))
      .agg(count(lit(1)).as("seg_docs"),
        array_join(transform(sort_array(collect_list(col("_doc"))),
          x => x.cast("string")), ",").as("doc_list"))
    val dfreq = perSeg.groupBy("term")
      .agg(sum(col("seg_docs")).as("n_docs"))
    perSeg.join(dfreq, "term")
      .filter(col("n_docs") >= minDf)
      .select(col("term"), col("segment"), col("n_docs"),
        col("seg_docs"), col("doc_list"))
  }

  /** BM25-ranked top-k keyword search (Robertson et al., Okapi at
    * TREC-3): score = Σ_terms idf_odds(t) · tf·(k1+1) / (tf + k1·(1−b +
    * b·dl/avgdl)), with idf_odds = (N − df + 0.5)/(df + 0.5) — the
    * inside of the canonical log-idf (see object doc for why the log
    * stays out). Ranking within a single term is identical to true
    * BM25 (the log is monotone); across multiple terms the odds sum
    * weights rare terms more sharply than the log sum — documented
    * variant, not an approximation error.
    *
    * Scale shape: the corpus-wide stats (N, Σdl) are a one-row
    * aggregate (broadcast); the token stream is FILTERED TO THE QUERY
    * TERMS before any shuffle, so the only data that moves is the
    * postings of the searched terms — an index probe's cost, reached
    * here by predicate pushdown instead of a stored index (pair with
    * [[shardedPostings]] for the at-rest layout). Per-term df is a
    * query-terms-cardinality aggregate (broadcast back). The final
    * top-k is orderBy+limit → TakeOrderedAndProject (K rows per
    * partition to the driver, never the match set).
    */
  def bm25TopK(df: DataFrame, idCol: String, textCol: String,
               queryTerms: Seq[String], k: Int,
               k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(queryTerms.nonEmpty, "bm25TopK: empty query")
    val base = df.select(col(idCol),
        TextDedup.tokens(col(textCol)).as("_toks"))
      .select(col(idCol), size(col("_toks")).as("dl"), col("_toks"))
    val stats = base.agg(count(lit(1)).as("n_docs"),
      sum(col("dl")).as("tot_tokens"))
    val tf = base
      .select(col(idCol), col("dl"), TextDedup.explodeArr(col("_toks")).as("term"))
      .filter(col("term").isin(queryTerms: _*))
      .groupBy(col(idCol), col("dl"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df_t"))
    scoreAndRank(tf, dfreq, stats, idCol, k, k1, b)
  }

  /** The shared BM25 ranking tail: identical expression tree whether
    * the `(doc, dl, term, tf)` postings come from an in-memory
    * tokenization ([[bm25TopK]]) or the at-rest index
    * ([[bm25IndexTopK]]) — bit-identical micro-unit scores either way,
    * which is what lets the index path be verified against the
    * recompute path row-for-row. */
  /** The per-(doc, term) BM25 micro-unit score over the standard
    * column names (`tf`, `dl`, `df_t`, `n_docs`, `tot_tokens`) — ONE
    * expression tree shared by every scorer so all paths (in-memory,
    * indexed, batched) stay bit-identical to one oracle formula. */
  private def termScorePpm(k1: Double, b: Double)
      : org.apache.spark.sql.Column = {
    val avgdl = col("tot_tokens").cast("double") /
      col("n_docs").cast("double")
    val idfOdds = (col("n_docs").cast("double") -
      col("df_t").cast("double") + lit(0.5)) /
      (col("df_t").cast("double") + lit(0.5))
    val norm = lit(k1) * (lit(1.0 - b) +
      lit(b) * (col("dl").cast("double") / avgdl))
    val termScore = idfOdds * (col("tf").cast("double") * lit(k1 + 1.0)) /
      (col("tf").cast("double") + norm)
    round(termScore * lit(1000000.0), 0).cast("long")
  }

  private def scoreAndRank(tf: DataFrame, dfreq: DataFrame,
                           stats: DataFrame, idCol: String, k: Int,
                           k1: Double, b: Double): DataFrame =
    tf.join(broadcast(dfreq), "term")
      .crossJoin(broadcast(stats))
      .withColumn("ts_ppm", termScorePpm(k1, b))
      .groupBy(col(idCol))
      .agg(sum(col("ts_ppm")).as("score_ppm"),
        count(lit(1)).as("n_terms"))
      .orderBy(col("score_ppm").desc, col(idCol))
      .limit(k)

  /** Batched BM25: one pass answers a whole TABLE of keyword queries
    * `(query_id, terms array<string>)` — the shape a production search
    * tier runs at 100 TB, where per-query jobs would pay the scheduling
    * floor |queries| times and rescan the corpus each time. The token
    * stream is filtered ONCE against the union of all query terms
    * (broadcast semi-join — the term set is query-scale, not
    * corpus-scale), per-term stats are computed once and shared, and
    * the per-query fan-out joins the slim `(doc, term, score)` frame
    * against the broadcast query map. Ranking is a per-query window
    * over candidate docs (the ANN searchers' shape). Scores are
    * bit-identical to [[bm25TopK]] run per query (same
    * [[termScorePpm]] tree; oracled `t_bm25_batch`). */
  def bm25BatchTopK(df: DataFrame, idCol: String, textCol: String,
                    queries: DataFrame, k: Int,
                    k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val qterms = queries.select(col("query_id"),
      explode(array_distinct(col("terms"))).as("term"))
    val allTerms = qterms.select("term").distinct()
    val base = df.select(col(idCol),
        TextDedup.tokens(col(textCol)).as("_toks"))
      .select(col(idCol), size(col("_toks")).as("dl"), col("_toks"))
    val stats = base.agg(count(lit(1)).as("n_docs"),
      sum(col("dl")).as("tot_tokens"))
    val tf = base
      .select(col(idCol), col("dl"), TextDedup.explodeArr(col("_toks")).as("term"))
      .join(broadcast(allTerms), Seq("term"), "left_semi")
      .groupBy(col(idCol), col("dl"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df_t"))
    val scored = tf.join(broadcast(dfreq), "term")
      .crossJoin(broadcast(stats))
      .withColumn("ts_ppm", termScorePpm(k1, b))
      .join(broadcast(qterms), Seq("term"))
      .groupBy(col("query_id"), col(idCol))
      .agg(sum(col("ts_ppm")).as("score_ppm"),
        count(lit(1)).as("n_terms"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("score_ppm").desc, col(idCol))
    scored.withColumn("rnk", row_number().over(w).cast("int"))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col(idCol), col("score_ppm"),
        col("n_terms"), col("rnk"))
  }

  /** Driver-side twin of [[graft.functions.Md5Hash60]] for routing a
    * QUERY term to its bucket without a Spark job. */
  private def termBucket(term: String, nBuckets: Int): Int = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val h = graft.functions.Md5Hash60.first60Bits(
      md.digest(term.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
    (h % nBuckets.toLong).toInt
  }

  /** The three index trees as `(postings tf-frame, stats one-row)` for
    * one document set — shared by the base build and every append.
    * With `withPositions`, each posting also carries the term's sorted
    * in-document position list (the Lucene positional-postings shape,
    * what [[phraseIndexTopK]] consumes) — a size/capability dial
    * recorded in the stats sidecar so appends stay schema-consistent. */
  private def indexParts(df: DataFrame, idCol: String, textCol: String,
                         nBuckets: Int, withPositions: Boolean)
      : (DataFrame, DataFrame) = {
    val base = df.select(col(idCol),
        TextDedup.tokens(col(textCol)).as("_toks"))
      .select(col(idCol), size(col("_toks")).as("dl"), col("_toks"))
    val posed = base.select(col(idCol), col("dl"),
        TextDedup.posexplodeArr(col("_toks")).as(Seq("pos", "term")))
      .groupBy(col(idCol), col("dl"), col("term"))
    val tf = (if (withPositions)
        posed.agg(count(lit(1)).as("tf"),
          sort_array(collect_list(col("pos"))).as("positions"))
      else posed.agg(count(lit(1)).as("tf")))
      .withColumn("tb", pmod(graft.functions.Md5Hash60.md5hash60(
        col("term")), lit(nBuckets.toLong)).cast("int"))
    val stats = base
      .agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("tot_tokens"))
      .select(col("n_docs"),
        coalesce(col("tot_tokens"), lit(0L)).as("tot_tokens"))
      .withColumn("n_buckets", lit(nBuckets))
      .withColumn("has_positions", lit(withPositions))
    (tf, stats)
  }

  /** Write the three trees under `batchTag` ([[graft.io.Tagged.write]]:
    * a tagged replay overwrites ITS OWN b= partitions in all three
    * instead of appending duplicates). */
  private def writeParts(tf: DataFrame, stats: DataFrame, root: String,
                         batchTag: Option[Long]): Unit = {
    val dfreq = tf.groupBy(col("term"), col("tb"))
      .agg(count(lit(1)).as("df_t"))
    graft.io.Tagged.write(tf.repartition(col("tb")), root + "/postings",
      Seq("tb"), batchTag)
    graft.io.Tagged.write(dfreq.repartition(col("tb")), root + "/dfreq",
      Seq("tb"), batchTag)
    graft.io.Tagged.write(stats.coalesce(1), root + "/stats", Nil, batchTag)
  }

  /** Persist the search index: postings `(id, dl, term, tf)` written
    * PARTITIONED BY a term-hash bucket `tb` — the at-rest layout behind
    * "a keyword search probes its terms' buckets of a 100 TB corpus,
    * not the corpus". A query's scan is statically pruned to
    * |queryTerms| of `nBuckets` directories (IvfIndexSpec discipline:
    * files-read == the probed buckets' files, asserted in
    * RetrievalSpec); the per-term df table rides the same bucketing,
    * and the corpus stats `(n_docs, tot_tokens, n_buckets)` are a
    * one-row sidecar read before planning. Route-then-write
    * (`repartition(tb)`) keeps file count at the bucket layout instead
    * of tasks × buckets, and the whole tree is staged then bak-swap
    * published ([[graft.io.Fs.publish]]) so a rebuild never races a
    * live search and a mid-publish crash is recoverable.
    *
    * dl is denormalized onto every posting row (the Lucene norms
    * pattern): +8 bytes/posting buys the scorer a scan with no join
    * back to a doc-length table. */
  def writeSearchIndex(df: DataFrame, idCol: String, textCol: String,
                       path: String, nBuckets: Int = 64,
                       withPositions: Boolean = false): Unit = {
    val s = df.sparkSession
    val staging = path + "_staging"
    graft.io.Fs.delete(s, staging)
    val (tf, stats) = indexParts(df, idCol, textCol, nBuckets,
      withPositions)
    // base build owns b=-1 in every tree; appends own b=<batchId>
    writeParts(tf, stats, staging, batchTag = None)
    graft.io.Fs.publish(s, staging, path)
  }

  /** Incremental append: tokenize ONLY the new documents, write their
    * postings/df-partials/stats-row under `b=<batchTag>` (or append to
    * the base `b=-1` when untagged). Everything the scorer needs is
    * ADDITIVE over disjoint document sets — df partials and the stats
    * row sum exactly — so an appended index answers [[bm25IndexTopK]]
    * row-identically to a full rebuild over the union (spec-pinned).
    * Contract: appended ids must be NEW documents (the
    * [[Embeddings.appendToIvfIndex]] contract); re-adding an id
    * double-counts it. A tagged replay overwrites its own partitions
    * (dynamic partition overwrite), so a crashed streaming batch
    * re-runs clean ([[graft.streaming.Ingest.startSearchIndexAppendSink]]). */
  def appendToSearchIndex(newDocs: DataFrame, idCol: String,
                          textCol: String, path: String,
                          batchTag: Option[Long] = None): Unit = {
    val s = newDocs.sparkSession
    graft.io.Fs.recoverPublished(s, path)
    val head = s.read.parquet(path + "/stats")
      .select(col("n_buckets"), col("has_positions")).head
    val (tf, stats) = indexParts(newDocs, idCol, textCol,
      head.getInt(0), head.getBoolean(1))
    writeParts(tf, stats, path, batchTag)
  }

  /** Fold the per-batch append partitions with tag in (watermark, upTo]
    * (plus the previous fold base) into one new base tag across ALL
    * THREE trees, bounding the directory count a long-running
    * [[graft.streaming.Ingest.startSearchIndexAppendSink]] accumulates.
    * Postings fold by rewrite (rows are final); df partials and stats
    * rows fold by EXACT SUM — the same additivity that lets the read
    * side reassemble totals lets the compactor pre-sum them. The base
    * build's b=-1 is never rewritten (it is the 100 TB bulk; folding it
    * would price maintenance at corpus scale instead of append scale).
    * The three trees are one store of [[graft.io.Tagged.compact]]
    * (fold → `_w_` marker → sweep, each step crash-safe to repeat);
    * `upTo` must not pass the appending stream's last checkpointed
    * batch. Returns true iff a fold happened. */
  def compactSearchIndex(spark: org.apache.spark.sql.SparkSession,
                         path: String, upTo: Long): Boolean = {
    import graft.io.Tagged.Tree
    graft.io.Tagged.compact(spark, path, upTo, Seq(
      Tree("postings", Seq("tb"), _.repartition(col("tb"))),
      Tree("dfreq", Seq("tb"), _.groupBy(col("term"), col("tb"))
        .agg(sum(col("df_t")).as("df_t")).repartition(col("tb"))),
      Tree("stats", Nil, _.agg(sum(col("n_docs")).as("n_docs"),
        sum(col("tot_tokens")).as("tot_tokens"),
        max(col("n_buckets")).as("n_buckets"),
        max(col("has_positions")).as("has_positions")).coalesce(1))))
  }

  /** BM25 search over the persisted index: read the stats sidecar,
    * route each query term to its bucket DRIVER-SIDE ([[termBucket]]),
    * scan only those `tb=` directories of postings and dfreq (static
    * partition pruning — the file listing never touches the other
    * buckets), and rank with the EXACT [[scoreAndRank]] tree —
    * row-identical to [[bm25TopK]] recomputing from raw text
    * (spec-pinned). idCol must match the indexed name. */
  def bm25IndexTopK(spark: org.apache.spark.sql.SparkSession,
                    indexPath: String, idCol: String,
                    queryTerms: Seq[String], k: Int,
                    k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(queryTerms.nonEmpty, "bm25IndexTopK: empty query")
    graft.io.Fs.recoverPublished(spark, indexPath)
    val live = graft.io.Tagged.live(spark, indexPath)
    val statsRows = spark.read.parquet(indexPath + "/stats").filter(live)
    val nBuckets = statsRows.select(col("n_buckets")).head.getInt(0)
    val buckets = queryTerms.map(termBucket(_, nBuckets)).distinct
    // stats rows and df rows are per-batch PARTIALS (base b=-1, fold
    // base, uncompacted appends) — exact long sums reassemble totals
    val stats = statsRows.agg(sum(col("n_docs")).as("n_docs"),
      sum(col("tot_tokens")).as("tot_tokens"))
    val tf = spark.read.parquet(indexPath + "/postings")
      .filter(col("tb").isin(buckets: _*)).filter(live)
      .filter(col("term").isin(queryTerms: _*))
      .select(col(idCol), col("dl"), col("term"), col("tf"))
    val dfreq = spark.read.parquet(indexPath + "/dfreq")
      .filter(col("tb").isin(buckets: _*)).filter(live)
      .filter(col("term").isin(queryTerms: _*))
      .groupBy(col("term")).agg(sum(col("df_t")).as("df_t"))
    scoreAndRank(tf, dfreq, stats, idCol, k, k1, b)
  }

  /** Exact-phrase top-k by occurrence count, CORPUS-SCAN form: one
    * fused kernel ([[graft.functions.PhraseScan]]) counts the phrase's
    * occurrences per document — zero shuffle until the final
    * TakeOrderedAndProject, all whole-stage codegen. The right Spark
    * plan when the corpus is being scanned anyway (curation triage);
    * [[phraseIndexTopK]] is the index-probe twin for interactive use.
    * Oracled (`t_phrase_search`).
    *
    * History, kept deliberately: the original declarative form (a
    * filtered start-position `sequence` over the token array) ran its
    * lambda interpreted per position; a round-15 attempt to fix that
    * WITHIN the HoF vocabulary — an allocation-free `aggregate`
    * running fold — measured 2.68 → 4.71 s at sf0.1 (every HoF lambda
    * is interpreted, so folding harder only added per-step dispatch).
    * That negative result is the argument FOR the round-17 kernel: one
    * codegen'd JVM loop, no per-element dispatch at all. */
  def phraseMatch(df: DataFrame, idCol: String, textCol: String,
                  phrase: Seq[String], k: Int): DataFrame = {
    require(phrase.nonEmpty, "phraseMatch: empty phrase")
    // round 17: the position scan is a fused codegen kernel
    // (graft.functions.PhraseScan) — the declarative
    // size(filter(sequence(...), element_at chain)) form evaluated its
    // lambda INTERPRETED per position (~2.8 s of the r16 bench row);
    // the kernel is one JVM loop per row, value-identical
    // (TextKernelsSpec pins it against the old expression).
    df.select(col(idCol), TextDedup.tokens(col(textCol)).as("_toks"))
      .withColumn("n_occ", graft.functions.TextKernels
        .phraseScanCol(col("_toks"), phrase).getField("n_occ"))
      .filter(col("n_occ") > 0)
      .select(col(idCol), col("n_occ"))
      .orderBy(col("n_occ").desc, col(idCol))
      .limit(k)
  }

  /** Keyword-in-context (KWIC) snippets: for the top-k documents by
    * phrase-occurrence count, extract the token window around the
    * FIRST occurrence — the triage view a curation reviewer reads
    * ("show me the flagged boilerplate in context"). Same map-side
    * start-position expression as [[phraseMatch]] plus a clamped array
    * slice; still zero shuffle before the final ordering. Oracled
    * (`t_kwic`). */
  def kwicSnippets(df: DataFrame, idCol: String, textCol: String,
                   phrase: Seq[String], window: Int, k: Int): DataFrame = {
    require(phrase.nonEmpty, "kwicSnippets: empty phrase")
    val L = phrase.length
    // same fused kernel as [[phraseMatch]] (round 17); the snippet
    // slice stays declarative — it runs once per SURVIVING row, after
    // the n_occ > 0 filter
    val gs = greatest(col("_first") + lit(1) - lit(window), lit(1))
    val ge = least(col("_first") + lit(L) + lit(window),
      size(col("_toks")))
    df.select(col(idCol), TextDedup.tokens(col(textCol)).as("_toks"))
      .withColumn("_ps",
        graft.functions.TextKernels.phraseScanCol(col("_toks"), phrase))
      .withColumn("n_occ", col("_ps").getField("n_occ"))
      .filter(col("n_occ") > 0)
      .withColumn("_first", col("_ps").getField("first_pos").cast("int"))
      .select(col(idCol), col("n_occ"),
        col("_first").cast("long").as("first_pos"),
        array_join(slice(col("_toks"), gs, ge - gs + lit(1)), " ")
          .as("snippet"))
      .orderBy(col("n_occ").desc, col(idCol))
      .limit(k)
  }

  /** Exact-phrase top-k over the POSITIONAL index (built with
    * `withPositions = true`): read only the phrase terms' buckets,
    * explode each term's position list shifted by its slot, and keep
    * the start positions where EVERY slot aligns — the classic
    * positional-postings intersection, expressed as one
    * count-per-(doc, start) aggregation instead of an L-way self-join.
    * Scan cost is the phrase terms' (pruned) postings, never the
    * corpus. Row-identical to [[phraseMatch]] (spec-pinned). */
  def phraseIndexTopK(spark: org.apache.spark.sql.SparkSession,
                      indexPath: String, idCol: String,
                      phrase: Seq[String], k: Int): DataFrame = {
    require(phrase.nonEmpty, "phraseIndexTopK: empty phrase")
    graft.io.Fs.recoverPublished(spark, indexPath)
    val head = spark.read.parquet(indexPath + "/stats")
      .select(col("n_buckets"), col("has_positions")).head
    require(head.getBoolean(1),
      "phraseIndexTopK: index was built without positions " +
        "(writeSearchIndex(withPositions = true))")
    val nBuckets = head.getInt(0)
    val live = graft.io.Tagged.live(spark, indexPath)
    val buckets = phrase.distinct.map(termBucket(_, nBuckets)).distinct
    val posts = spark.read.parquet(indexPath + "/postings")
      .filter(col("tb").isin(buckets: _*)).filter(live)
      .filter(col("term").isin(phrase.distinct: _*))
      .select(col(idCol), col("term"),
        explode(col("positions")).as("pos"))
    val slots = phrase.zipWithIndex.map { case (t, j) =>
      posts.filter(col("term") === t)
        .select(col(idCol), (col("pos") - lit(j)).as("p0"))
    }.reduce(_ union _)
    // positions are distinct within (doc, term), so each slot lands at
    // most one row per (doc, p0): count == L  ⇔  every slot aligned
    slots.groupBy(col(idCol), col("p0"))
      .agg(count(lit(1)).as("_nslots"))
      .filter(col("_nslots") === lit(phrase.length.toLong))
      .groupBy(col(idCol)).agg(count(lit(1)).as("n_occ"))
      .orderBy(col("n_occ").desc, col(idCol))
      .limit(k)
  }

  /** [[prfExpand]]'s index-probe twin: identical two-round RM3-lite
    * semantics, but every corpus-scale pass reads the at-rest
    * [[writeSearchIndex]] trees instead of re-tokenizing text — the
    * interactive-path variant prfExpand's scaladoc names. Round 1 and
    * round 2 are term-bucket-PRUNED postings probes (the
    * [[bm25IndexTopK]] path), candidate mining reads the postings'
    * (doc, term, tf) rows semi-joined to the (broadcast, nDocs-row)
    * feedback set — one postings pass, no tokenization — and the
    * stopword df cap sums the dfreq tree's additive partials. The
    * expanded term set (≤ nTerms + |query| strings) is collected to
    * the driver to drive round 2's bucket pruning (bounded-collect
    * class). Row-identical to [[prfExpand]] over the indexed corpus —
    * oracled `t_prf_indexed`, same oracle SQL as `t_prf_expand` —
    * including across incremental appends (spec-pinned). */
  def prfIndexTopK(spark: org.apache.spark.sql.SparkSession,
                   indexPath: String, idCol: String,
                   queryTerms: Seq[String], k: Int,
                   nDocs: Int = 3, nTerms: Int = 4, maxDfPct: Int = 50,
                   k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(queryTerms.nonEmpty, "prfIndexTopK: empty query")
    require(maxDfPct >= 1 && maxDfPct <= 100,
      "prfIndexTopK: maxDfPct must be in [1, 100]")
    graft.io.Fs.recoverPublished(spark, indexPath)
    val live = graft.io.Tagged.live(spark, indexPath)
    val stats = spark.read.parquet(indexPath + "/stats").filter(live)
      .agg(sum(col("n_docs")).as("n_docs"),
        sum(col("tot_tokens")).as("tot_tokens"))
    // round 1: the pruned index probe, feedback = its top nDocs ids
    val fb = bm25IndexTopK(spark, indexPath, idCol, queryTerms, nDocs,
        k1, b)
      .select(col(idCol))
    // candidate mining: postings already carry (doc, term, tf), so
    // feedback-doc term frequencies are ONE semi-joined postings pass
    // (Σ tf over the fb docs ≡ prfExpand's exploded-token count)
    val fbTf = spark.read.parquet(indexPath + "/postings").filter(live)
      .join(broadcast(fb), Seq(idCol), "left_semi")
      .filter(!col("term").isin(queryTerms: _*))
      .groupBy(col("term")).agg(sum(col("tf")).as("fb_tf"))
    // corpus df of the candidates from the dfreq tree's exact partials
    val candDf = spark.read.parquet(indexPath + "/dfreq").filter(live)
      .join(broadcast(fbTf.select("term")), Seq("term"), "left_semi")
      .groupBy(col("term")).agg(sum(col("df_t")).as("df_t"))
    val expansion = fbTf.join(candDf, "term")
      .crossJoin(broadcast(stats))
      .filter(col("df_t") * lit(100L) <= col("n_docs") * lit(maxDfPct.toLong))
      .orderBy(col("fb_tf").desc, col("term"))
      .limit(nTerms)
      .select(col("term"))
    val terms2 =
      (expansion.collect().map(_.getString(0)).toSeq ++ queryTerms).distinct
    // round 2 IS a plain pruned probe with the expanded term set
    bm25IndexTopK(spark, indexPath, idCol, terms2, k, k1, b)
  }

  /** Pseudo-relevance-feedback query expansion (RM3-lite, Lavrenko &
    * Croft's relevance-model idea with tf-based term selection): run
    * BM25 once, mine the top feedback docs for frequent terms the
    * query didn't contain, and re-rank with the expanded term set —
    * the classic recall lever when literal keyword match misses
    * paraphrases.
    *
    * Term selection is deterministic: candidates are ranked by their
    * total tf inside the `nDocs` feedback docs (ties on the term
    * itself), stopword-guarded by an integer corpus-df cap
    * (`df·100 ≤ n_docs·maxDfPct` — no float fraction), and the final
    * scoring is the same integer micro-unit BM25 as [[bm25TopK]], so
    * the whole two-round composition is oracle-replayable
    * (`t_prf_expand`).
    *
    * Scale shape: three corpus passes, each filtered before any
    * shuffle — round 1 keeps only the literal query terms, candidate
    * mining semi-joins the token stream down to `nDocs` docs
    * (broadcast), the df guard and round 2 semi-join against the
    * (tiny, broadcast) candidate/expanded term sets. Round 2 ranks via
    * the same TakeOrderedAndProject path as [[bm25TopK]] — no window,
    * no single-partition hot key. [[prfIndexTopK]] is the index-backed
    * twin (df/stats from the [[writeSearchIndex]] trees, zero
    * tokenization); the in-memory form keeps the composition
    * self-contained when no index exists.
    */
  def prfExpand(df: DataFrame, idCol: String, textCol: String,
                queryTerms: Seq[String], k: Int,
                nDocs: Int = 3, nTerms: Int = 4, maxDfPct: Int = 50,
                k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(queryTerms.nonEmpty, "prfExpand: empty query")
    require(maxDfPct >= 1 && maxDfPct <= 100,
      "prfExpand: maxDfPct must be in [1, 100]")
    val spark = df.sparkSession
    import spark.implicits._
    val base = df.select(col(idCol),
        TextDedup.tokens(col(textCol)).as("_toks"))
      .select(col(idCol), size(col("_toks")).as("dl"), col("_toks"))
    val stats = base.agg(count(lit(1)).as("n_docs"),
      sum(col("dl")).as("tot_tokens"))
    // round 1: plain BM25, feedback = its top nDocs doc ids
    val fb = bm25TopK(df, idCol, textCol, queryTerms, nDocs, k1, b)
      .select(col(idCol))
    // candidate mining: term tf inside the feedback docs only
    val fbTf = base
      .join(broadcast(fb), Seq(idCol), "left_semi")
      .select(TextDedup.explodeArr(col("_toks")).as("term"))
      .filter(!col("term").isin(queryTerms: _*))
      .groupBy(col("term")).agg(count(lit(1)).as("fb_tf"))
    // corpus df of the candidates (one pass, candidate-filtered first)
    val candDf = base
      .select(col(idCol), explode(array_distinct(col("_toks"))).as("term"))
      .join(broadcast(fbTf.select("term")), Seq("term"), "left_semi")
      .groupBy(col("term")).agg(count(lit(1)).as("df_t"))
    val expansion = fbTf.join(candDf, "term")
      .crossJoin(broadcast(stats))
      .filter(col("df_t") * lit(100L) <= col("n_docs") * lit(maxDfPct.toLong))
      .orderBy(col("fb_tf").desc, col("term"))
      .limit(nTerms)
      .select(col("term"))
    // round 2: literal + mined terms, scored on the no-window path
    val terms2 = expansion.union(queryTerms.toDF("term")).distinct()
    val tf2 = base
      .select(col(idCol), col("dl"), TextDedup.explodeArr(col("_toks")).as("term"))
      .join(broadcast(terms2), Seq("term"), "left_semi")
      .groupBy(col(idCol), col("dl"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val dfreq2 = tf2.groupBy("term").agg(count(lit(1)).as("df_t"))
    scoreAndRank(tf2, dfreq2, stats, idCol, k, k1, b)
  }

  /** Reciprocal-rank fusion (Cormack, Clarke & Büttcher, SIGIR 2009):
    * fuse any number of ranked candidate lists — e.g. a BM25 keyword
    * arm and a dense-embedding ANN arm — into one hybrid ranking, the
    * standard first-stage fusion of a modern RAG retrieval tier.
    *
    * Each arm is `(query_id, doc_id, rnk)` with `rnk` 1-based within
    * its query. A document's fused score is the sum over arms of
    * `1 / (k0 + rnk)`; per the determinism contract each contribution
    * is frozen to integer units FIRST — `1e9 div (k0 + rnk)`, exact
    * long floor-division — so the per-document sum is integer
    * arithmetic: order-independent across partitionings and engines
    * (oracled `t_hybrid_search`; DuckDB replays it with `//`).
    *
    * Scale shape: fusion touches only the arms' top-k rows
    * (|queries| × k × |arms|), never the corpus — the heavy lifting
    * stays in the candidate generators ([[bm25BatchTopK]], the
    * [[graft.ops.Embeddings]] ANN paths), each already audited for
    * 100 TB. The group-by key is `(query_id, doc_id)` over that tiny
    * frame; ties break on `doc_id`. Missing-from-an-arm docs simply
    * contribute nothing (no outer join, no null handling).
    */
  def rrfFuse(arms: Seq[DataFrame], k: Int, k0: Int = 60): DataFrame = {
    require(arms.nonEmpty, "rrfFuse: no arms")
    require(k0 >= 1, "rrfFuse: k0 must be >= 1")
    val shaped = arms.map(_.select(col("query_id"), col("doc_id"),
      expr(s"1000000000L div (${k0}L + cast(rnk as long))")
        .as("contrib_u")))
    val fused = shaped.reduce(_ union _)
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("contrib_u")).as("rrf_u"),
        count(lit(1)).as("n_arms"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("rrf_u").desc, col("doc_id"))
    fused.withColumn("rnk", row_number().over(w).cast("int"))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("doc_id"), col("rrf_u"),
        col("n_arms"), col("rnk"))
  }

  /** Attribute-fair interleave: within each query, reorder a ranked
    * run round-robin over a categorical attribute (source, lang,
    * domain) — the i-th best result of EVERY attribute value competes
    * at slot i, so one dominant source cannot monopolize the first
    * page. The categorical complement of [[mmrRerank]]'s vector
    * diversity; the same lever a corpus team uses to de-bias sampling
    * inspection lists.
    *
    * Deterministic: slot = rank within (query, attr) by original
    * `rnk` then `doc_id`; the output order is (slot, rnk, doc_id) —
    * two window ranks, no scores to tie. Scale shape: both windows
    * partition run-scale rows (|queries|×k per query, bounded), the
    * corpus never enters.
    */
  def interleaveByAttr(run: DataFrame, attrCol: String): DataFrame = {
    val wAttr = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"), col(attrCol))
      .orderBy(col("rnk"), col("doc_id"))
    val wOut = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("slot"), col("rnk"), col("doc_id"))
    run.withColumn("slot", row_number().over(wAttr).cast("int"))
      .withColumn("fair_rank", row_number().over(wOut).cast("int"))
  }

  /** Hard-negative mining for contrastive embedding training: the
    * highest-ranked docs a retriever surfaced that are NOT labeled
    * positive — exactly the negatives that teach a bi-encoder the
    * decision boundary (the DPR / Sentence-BERT recipe; random
    * negatives are trivially separable, top-ranked non-positives are
    * not).
    *
    * `run` is `(query_id, doc_id, rnk)` from any ranker ([[bm25TopK]],
    * [[bm25BatchTopK]], an ANN arm, or an [[rrfFuse]]d hybrid);
    * `positives` is `(query_id, doc_id)` labels. Output keeps the
    * retriever's rank and adds a dense `neg_rank` (1..nNeg) per query.
    *
    * Scale shape: anti-join then window over run-scale rows
    * (|queries|×k) — label- and candidate-scale only, corpus never
    * enters; the per-query window partition is bounded by the run's k.
    */
  def mineHardNegatives(run: DataFrame, positives: DataFrame,
                        nNeg: Int): DataFrame = {
    require(nNeg >= 1, "mineHardNegatives: nNeg must be >= 1")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("rnk"), col("doc_id"))
    run.join(positives, Seq("query_id", "doc_id"), "left_anti")
      .withColumn("neg_rank", row_number().over(w).cast("int"))
      .filter(col("neg_rank") <= nNeg)
      .select(col("query_id"), col("doc_id"), col("rnk"),
        col("neg_rank"))
  }

  /** Maximal-marginal-relevance diversity re-rank (Carbonell &
    * Goldstein, SIGIR 1998): greedily pick `k` items per query from a
    * candidate set, each next pick maximizing
    * `λ·rel − (1−λ)·max_{s∈selected} sim(d, s)` — the standard
    * context-packing step between retrieval and a RAG prompt, where
    * near-duplicate passages waste the token budget.
    *
    * Input: `(query_id, doc_id, rel_u, <vecCol>)` — the caller's
    * top-n candidates per query with integer relevance units (e.g.
    * rank-derived) and an embedding. Contract: `n` is ranker-bounded
    * (tens, not corpus-scale) — the greedy loop is inherently
    * sequential per query, so it runs as one bounded
    * `groupByKey.flatMapGroups` task per query over n vectors and at
    * most n·k cosines; the corpus never enters. This is the
    * [[graft.ops.Multimodal]] precedent: imperative per-group code
    * exactly where the operation is genuinely non-relational, bounded
    * by construction.
    *
    * Determinism: vectors go through [[graft.ops.Embeddings.quantize]]
    * (the exact-integer dot domain); cosines are frozen to micro-units
    * with `floor(cos·1e6 + 0.5)` (IEEE ops on exactly-representable
    * longs — bit-identical across engines); the MMR score is
    * `(λpct·rel_u − (100−λpct)·maxSim_u) / 100` in truncating long
    * division (Spark `div` ≡ DuckDB `//` ≡ Scala `/` — all truncate
    * toward zero); ties break on `doc_id`. Pick 1 carries no
    * similarity term. Oracled `t_mmr_rerank` replays the greedy loop
    * as k unrolled CTE stages.
    */
  def mmrRerank(cands: DataFrame, vecCol: String, k: Int,
                lambdaPct: Int = 70): DataFrame = {
    require(k >= 1, "mmrRerank: k must be >= 1")
    require(lambdaPct >= 0 && lambdaPct <= 100,
      "mmrRerank: lambdaPct must be in [0, 100]")
    val spark = cands.sparkSession
    import spark.implicits._
    val lam = lambdaPct.toLong
    cands.select(col("query_id").cast("long"),
        col("doc_id").cast("long"), col("rel_u").cast("long"),
        Embeddings.quantize(col(vecCol)))
      .as[(Long, Long, Long, Seq[Long])]
      .groupByKey(_._1)
      .flatMapGroups { (qid: Long, it: Iterator[(Long, Long, Long, Seq[Long])]) =>
        val cs = it.toArray
        def dot(a: Seq[Long], b: Seq[Long]): Long = {
          val n = math.min(a.length, b.length)
          var i = 0; var s = 0L
          while (i < n) { s += a(i) * b(i); i += 1 }
          s
        }
        val norms = cs.map(c => math.sqrt(dot(c._4, c._4).toDouble))
        def cosU(i: Int, j: Int): Long =
          if (norms(i) == 0.0 || norms(j) == 0.0) 0L
          else math.floor(dot(cs(i)._4, cs(j)._4).toDouble /
            (norms(i) * norms(j)) * 1e6 + 0.5).toLong
        val nC = cs.length
        val selected = scala.collection.mutable.ArrayBuffer.empty[Int]
        val out = scala.collection.mutable.ArrayBuffer
          .empty[(Long, Long, Long, Long, Int)]
        var pick = 1
        val kk = math.min(k, nC)
        while (pick <= kk) {
          var bestIdx = -1
          var bestScore = Long.MinValue
          var i = 0
          while (i < nC) {
            if (!selected.contains(i)) {
              val maxSim =
                if (selected.isEmpty) 0L
                else selected.iterator.map(s => cosU(i, s)).max
              val score = (lam * cs(i)._3 - (100L - lam) * maxSim) / 100L
              if (bestIdx < 0 || score > bestScore ||
                  (score == bestScore && cs(i)._2 < cs(bestIdx)._2))
                { bestIdx = i; bestScore = score }
            }
            i += 1
          }
          out += ((qid, cs(bestIdx)._2, cs(bestIdx)._3, bestScore, pick))
          selected += bestIdx
          pick += 1
        }
        out.iterator
      }
      .toDF("query_id", "doc_id", "rel_u", "mmr_u", "pick")
  }

  /** The binary-gain nDCG discount table, frozen to integer
    * micro-units: `disc(r) = round(1e6 / log2(r+1))` for ranks
    * `1..k`. The values are data-independent constants computed once
    * here and baked as literals into BOTH the Spark plan and the
    * generated oracle SQL (the LSH-hyperplane-literal precedent,
    * [[graft.ops.Embeddings]]), so the one transcendental (log) never
    * executes per-row in either engine and cannot disagree. */
  def ndcgDiscounts(k: Int): Seq[Long] =
    (1 to k).map(r =>
      Math.round(1e6 * Math.log(2) / Math.log(r + 1.0)))

  /** Prefix sums of [[ndcgDiscounts]]: `idcg(i)` for an ideal ranking
    * placing `i` relevant docs at ranks `1..i` (binary gains). */
  def ndcgIdcgPrefix(k: Int): Seq[Long] =
    ndcgDiscounts(k).scanLeft(0L)(_ + _).tail

  /** Retrieval-quality evaluation: recall@k, reciprocal rank and
    * binary-gain nDCG@k per query — a run `(query_id, doc_id, rnk)`
    * scored against a qrels table `(query_id, doc_id)`, the TREC-eval
    * shape every search tier runs after an index or ranking change.
    * The run is truncated to `rnk <= k` first, making the cutoff
    * explicit rather than trusting the caller's run depth.
    *
    * Determinism contract: every metric is frozen to integer units by
    * exact long floor-division — `recall_ppm = 1e6·hits div n_rel`,
    * `rr_u = 1e9 div first_rel_rnk` (0 when no relevant doc was
    * retrieved), `ndcg_ppm = 1e6·dcg_u div idcg_u` with dcg/idcg
    * summing the baked [[ndcgDiscounts]] micro-units — so there is no
    * per-row float arithmetic for engines to disagree on (oracled
    * `t_eval_retrieval`).
    *
    * Scale shape: the run is |queries|×k rows and qrels is judgment-
    * scale — both orders of magnitude below the corpus — so the inner
    * join and the per-query aggregation never touch corpus-scale data;
    * queries with zero retrieved-relevant docs are kept through the
    * left join from the qrels side (recall 0, rr 0, ndcg 0), mirroring
    * [[graft.ops.Embeddings]]'s recallAtK contract of never dropping a
    * zero-hit query.
    */
  def evalRetrieval(run: DataFrame, qrels: DataFrame,
                    k: Int = 20): DataFrame = {
    require(k >= 1 && k <= 1000, "evalRetrieval: k must be in [1, 1000]")
    val disc = typedLit(ndcgDiscounts(k))
    val prefix = typedLit(ndcgIdcgPrefix(k))
    val nrel = qrels.groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_rel"))
    val hits = run.filter(col("rnk") <= k)
      .join(qrels, Seq("query_id", "doc_id"))
      .groupBy(col("query_id"))
      .agg(count(lit(1)).as("hits"),
        min(col("rnk")).as("_first"),
        sum(element_at(disc, col("rnk").cast("int"))).as("_dcg_u"))
    nrel.join(hits, Seq("query_id"), "left")
      .withColumn("_idcg_u",
        element_at(prefix, least(col("n_rel"), lit(k.toLong)).cast("int")))
      .select(col("query_id"), col("n_rel"),
        coalesce(col("hits"), lit(0L)).as("hits"),
        expr("1000000L * coalesce(hits, 0L) div n_rel")
          .as("recall_ppm"),
        coalesce(expr("1000000000L div cast(_first as long)"), lit(0L))
          .as("rr_u"),
        coalesce(expr("1000000L * _dcg_u div _idcg_u"), lit(0L))
          .as("ndcg_ppm"))
  }
}
