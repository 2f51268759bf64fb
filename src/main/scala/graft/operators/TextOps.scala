package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TextFunctions._
import graft.functions.NumericFunctions.stableRound4

/** Text-analysis operators over the `documents` table (north-star ★ surface:
  * language-ID, quality scoring, token counting, fingerprinting). Everything
  * is a single narrow scan + (at most) one aggregation shuffle — at 100 TB
  * these run at parquet-scan speed with partial aggregation.
  */
object TextOps {

  /** Shared engine/oracle Kneser-Ney constants (q_kn_bigram) — the oracle
    * SQL interpolates these so both sides cannot drift. */
  val KnDiscount = 0.75
  val KnMinCount = 3
  val KnTopN = 30

  private[graft] val EnWords = Seq("the", "a", "of", "and")
  private val DeWords = Seq("der", "die", "das", "und")
  private val EsWords = Seq("el", "los", "las", "y")
  private val FrWords = Seq("le", "les", "des", "et")

  /** Per-language corpus rollup: doc count, avg chars, avg tokens. */
  def textStats(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .withColumn("n_tokens", size(tokens(col("text"))))
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        graft.functions.NumericFunctions.stableRound4(avg(col("n_chars")))
          .as("avg_chars"),
        graft.functions.NumericFunctions.stableRound4(avg(col("n_tokens")))
          .as("avg_tokens"))
      .orderBy(col("lang"))

  /** Per-document token/char counts (whitespace tokenizer). */
  def tokenCount(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(
        col("doc_id"),
        size(tokens(col("text"))).as("n_tokens"),
        length(col("text")).as("n_chars_exact"))
      .orderBy(col("doc_id"))

  /** Token counting, BPE-ish: subword-run segmentation vs whitespace —
    * the token-budget estimate a training-data pipeline tracks per doc. */
  def tokenCountBpe(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(
        col("doc_id"),
        size(bpeishTokens(col("text"))).as("n_bpe_tokens"),
        size(tokens(col("text"))).as("n_ws_tokens"))
      .orderBy(col("doc_id"))

  /** Heuristic language identification: stopword-membership counts per
    * candidate language, argmax with a fixed priority tie-break (en > de >
    * es > fr). A real pipeline would use char n-gram profiles; the declared
    * query keeps the scoring SQL-expressible so the oracle can replay it. */
  def langId(spark: SparkSession, dir: String): DataFrame = {
    val toks = tokensLower(col("text"))
    val en = tokenMatchCount(toks, EnWords)
    val de = tokenMatchCount(toks, DeWords)
    val es = tokenMatchCount(toks, EsWords)
    val fr = tokenMatchCount(toks, FrWords)
    Tables.documents(spark, dir)
      .select(
        col("doc_id"),
        col("lang"),
        en.as("en_n"), de.as("de_n"), es.as("es_n"), fr.as("fr_n"))
      .withColumn("lang_pred",
        when(col("en_n") >= col("de_n") && col("en_n") >= col("es_n")
          && col("en_n") >= col("fr_n"), "en")
          .when(col("de_n") >= col("es_n") && col("de_n") >= col("fr_n"), "de")
          .when(col("es_n") >= col("fr_n"), "es")
          .otherwise("fr"))
      .orderBy(col("doc_id"))
  }

  /** Declared-vs-detected language confusion matrix — the metadata-validation
    * audit a pipeline runs before trusting a corpus's `lang` tags (mislabeled
    * documents poison per-language sampling weights, decontamination scopes,
    * and eval splits). Cells are row-normalized: `share` is the fraction of
    * documents DECLARED as `lang` that the n-gram heuristic ([[langId]])
    * assigns to `lang_pred`, so the diagonal reads as per-language label
    * agreement. One aggregation over the langId scan plus a broadcast join
    * of the per-language totals (≤ #languages rows) — scan speed at 100 TB. */
  def langConfusion(spark: SparkSession, dir: String): DataFrame = {
    val cells = langId(spark, dir)
      .groupBy(col("lang"), col("lang_pred"))
      .agg(count(lit(1)).as("n_docs"))
    val totals = cells.groupBy(col("lang")).agg(sum(col("n_docs")).as("n_lang"))
    cells.join(broadcast(totals), Seq("lang"))
      .select(col("lang"), col("lang_pred"), col("n_docs"),
        stableRound4(col("n_docs") / col("n_lang")).as("share"))
      .orderBy(col("lang"), col("lang_pred"))
  }

  /** CCNet-style perplexity bucketing (Wenzek et al., LREC 2020): score
    * every document with the corpus's own unigram LM
    * ([[unigramLogprobDocs]]) and cut each language at its own logp
    * terciles into head / middle / tail quality tiers — the standard
    * pre-training split for per-tier sampling weights. Buckets are
    * assigned by comparing against broadcast per-language tercile
    * cut-points (a #languages-row aggregate), never a data-sized ntile
    * window, so the assignment is a narrow map at 100 TB (a real
    * deployment would swap the exact percentile for approx_percentile;
    * the exact form keeps the oracle sharp at test SF). Cut comparison
    * uses the 4-decimal-stabilized boundary so the bucket edges are
    * engine-reproducible. */
  def pplBuckets(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val scored = graft.operators.Materialize(
      unigramLogprobDocs(docs)
        .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id")))
    // round 16: per-lang exact tercile cuts via ExactPercentile's
    // bounded-state bracketed selection (bit-identical to percentile();
    // the unchanged oracle is the proof) — percentile()'s aggregation
    // state buffered every per-doc score of the lang, O(|docs|) at 100 TB
    val cutMap = ExactPercentile.compute(scored, Seq("lang"), "mean_logp",
      Seq(1.0 / 3, 2.0 / 3))
    val spark0 = spark
    val cuts = broadcast(spark0.createDataFrame(
      spark0.sparkContext.parallelize(
        cutMap.toSeq.map { case (k, vs) =>
          org.apache.spark.sql.Row(k.head, vs.toSeq) }, 1),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("lang",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("cuts",
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.DoubleType))))))
    scored.join(cuts, Seq("lang"))
      .select(col("lang"), col("mean_logp"), col("n_tokens"), expr(
        "aggregate(cuts, 0, (acc, c) -> acc + " +
          "IF(mean_logp > CAST(round(CAST(c AS DECIMAL(20,8)), 4) AS DOUBLE), 1, 0))")
        .as("b"))
      .withColumn("bucket",
        when(col("b") === 2, "head")
          .when(col("b") === 1, "middle")
          .otherwise("tail"))
      .groupBy(col("lang"), col("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        stableRound4(min(col("mean_logp"))).as("lo"),
        stableRound4(max(col("mean_logp"))).as("hi"))
      .orderBy(col("lang"), col("bucket"))
  }

  /** Document quality score from structural signals: token volume, average
    * word length, stopword ratio. Score ∈ [0, 1]; all arithmetic in double
    * so the oracle reproduces it bit-for-bit. */
  def qualityScore(spark: SparkSession, dir: String): DataFrame = {
    val toks = tokens(col("text"))
    Tables.documents(spark, dir)
      .select(
        col("doc_id"),
        size(toks).as("n_tokens"),
        length(regexp_replace(col("text"), "\\s", "")).as("n_letter_chars"),
        tokenMatchCount(tokensLower(col("text")), EnWords).as("sw_n"))
      .withColumn("awl", col("n_letter_chars").cast("double") / col("n_tokens"))
      .withColumn("swr", col("sw_n").cast("double") / col("n_tokens"))
      .select(
        col("doc_id"),
        col("n_tokens"),
        graft.functions.NumericFunctions.stableRound4(col("awl"))
          .as("avg_wlen"),
        graft.functions.NumericFunctions.stableRound4(col("swr"))
          .as("stopword_ratio"),
        graft.functions.NumericFunctions.stableRound4(
          least(lit(1.0), col("n_tokens") / lit(50.0)) * 0.5
            + when(col("awl").between(3.0, 8.0), 0.3).otherwise(0.0)
            + least(lit(0.2), col("swr"))).as("quality_score"))
      .orderBy(col("doc_id"))
  }

  /** Quality-score decile assignment WITHOUT a global sort — the scalable
    * replacement for `ntile(10) OVER (ORDER BY score)`, which plans a
    * single-partition window (the whole corpus through one task at 100 TB).
    * Instead: one aggregate computes the 9 global decile cut points
    * (array-percentile, one row), broadcast back onto the scan, and each
    * row counts how many (4-decimal-rounded) cuts it strictly exceeds —
    * a narrow O(9) expression per row. Bucket populations differ from
    * ntile's only in tie handling at cut values (deterministically: ties
    * land in the lower bucket together, where ntile splits them by
    * arbitrary row order — the ntile behavior is the NON-deterministic
    * one). Output: per-decile counts with score bounds. */
  def qualityDeciles(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.NumericFunctions.stableRound4
    val scored = graft.operators.Materialize(
      qualityScore(spark, dir).select(col("doc_id"),
        col("quality_score").as("qs")))
    // round 16: the 9 global decile cuts via ExactPercentile (bounded
    // state, bit-identical to percentile() — unchanged oracle); the old
    // aggregate buffered EVERY doc's score in one reducer at 100 TB
    val cutArr = ExactPercentile.computeGlobal(scored, "qs",
      Seq(0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9))
    val spark0 = spark
    val cuts = broadcast(spark0.createDataFrame(
      spark0.sparkContext.parallelize(
        Seq(org.apache.spark.sql.Row(cutArr.toSeq)), 1),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("cuts",
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.DoubleType))))))
    scored.crossJoin(cuts)
      .select(col("doc_id"), col("qs"), expr(
        "aggregate(cuts, 0, (acc, c) -> acc + " +
          "IF(qs > CAST(round(CAST(c AS DECIMAL(20,8)), 4) AS DOUBLE), 1, 0))")
        .as("decile"))
      .groupBy(col("decile"))
      .agg(count(lit(1)).as("n"),
        stableRound4(min(col("qs"))).as("lo"),
        stableRound4(max(col("qs"))).as("hi"))
      .orderBy(col("decile"))
  }

  /** Per-document repetition metrics, the Gopher-style quality signals that
    * catch degenerate/templated text: `dup_word_frac` (share of token
    * occurrences beyond each word's first — 1 − distinct/total) and
    * `top_word_share` (occurrences of the single most frequent word over
    * total). Two partial-aggregated shuffles keyed by (doc_id, token) then
    * doc_id — never a per-document interpreted loop, so at 100 TB it runs
    * at explode+agg speed with map-side combine on both hops. */
  def repetitionStats(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.NumericFunctions.stableRound4
    Tables.documents(spark, dir)
      .select(col("doc_id"), explode(tokensLower(col("text"))).as("tok"))
      .groupBy(col("doc_id"), col("tok"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(
        sum(col("c")).as("n_tokens"),
        count(lit(1)).as("n_distinct"),
        max(col("c")).as("top_c"))
      .select(
        col("doc_id"),
        col("n_tokens"),
        stableRound4(lit(1.0) - col("n_distinct") / col("n_tokens"))
          .as("dup_word_frac"),
        stableRound4(col("top_c") / col("n_tokens")).as("top_word_share"))
      .orderBy(col("doc_id"))
  }

  /** Per-document mean unigram log-probability under the corpus's own
    * unigram LM — the deterministic stand-in for perplexity-based quality
    * filtering (a model-free LM: p(token) = corpus count / corpus total, so
    * no external weights and every token has count ≥ 1 — no smoothing
    * needed). Low `mean_logp` marks documents dominated by rare/garbled
    * tokens; `low_quality` applies the filter threshold to the ROUNDED
    * value so the flag is reproducible across engines.
    *
    * Scale shape: one explode + two hash aggregations (vocab, then per-doc)
    * plus one high-cardinality equality join of the token stream against
    * the vocab — all partial-aggregated, no windows, no driver data. At
    * 100 TB the vocab side is the small one (10⁸ rows vs 10¹¹ token
    * occurrences) and AQE picks the right join side. */
  def unigramLogprob(spark: SparkSession, dir: String): DataFrame =
    unigramLogprobDocs(Tables.documents(spark, dir))

  /** Core of [[unigramLogprob]] over any (doc_id, text) frame. */
  def unigramLogprobDocs(docs: DataFrame): DataFrame = {
    import graft.functions.NumericFunctions.stableRound4
    // Pre-aggregated to (doc_id, token, cnt) BEFORE materializing: the
    // checkpoint and the vocab join then scale with DISTINCT tokens per
    // doc, not token occurrences — smaller by the corpus's repetition
    // factor at zero semantic cost (the per-doc mean is re-weighted by
    // cnt below, so repeated tokens contribute exactly as before).
    // Materialized because the per-doc counts feed both the vocab
    // aggregation and the per-doc join — without it the
    // scan+tokenize+explode+agg runs twice.
    val toks = Materialize(
      docs.select(col("doc_id"), explode(tokensLower(col("text"))).as("token"))
        .groupBy(col("doc_id"), col("token"))
        .agg(count(lit(1)).as("cnt")))
    val vocab = toks.groupBy(col("token")).agg(sum(col("cnt")).as("n"))
    val total = vocab.agg(sum(col("n")).as("total"))
    toks.join(vocab, Seq("token"))
      .crossJoin(broadcast(total))
      .select(col("doc_id"), col("cnt"),
        log10(col("n").cast("double") / col("total")).as("logp"))
      .groupBy(col("doc_id"))
      .agg(sum(col("cnt")).as("n_tokens"),
        stableRound4(sum(col("logp") * col("cnt")) / sum(col("cnt")))
          .as("mean_logp"))
      .select(col("doc_id"), col("n_tokens"), col("mean_logp"),
        (col("mean_logp") < -3.5).as("low_quality"))
      .orderBy(col("doc_id"))
  }

  /** Per-document mean CONDITIONAL bigram log-probability under the
    * corpus's own bigram LM: mean over positions i ≥ 2 of
    * log10(c(w_{i-1} w_i) / c(w_{i-1} as prefix)) — a closer perplexity
    * proxy than [[unigramLogprob]] (it scores word ORDER, catching
    * shuffled/templated text a unigram model ranks as fluent). The prefix
    * count is occurrences as a bigram prefix (doc-final tokens excluded),
    * so conditional probabilities normalize exactly; every observed bigram
    * has count ≥ 1, so no smoothing is needed. Docs with < 2 tokens have
    * no bigrams and are excluded.
    *
    * Scale shape: one narrow zip_with (no index explode), one materialized
    * bigram stream feeding two hash aggregations and two high-cardinality
    * equality joins — all partial-aggregated, no windows, no driver data. */
  def bigramLogprob(spark: SparkSession, dir: String): DataFrame =
    bigramLogprobDocs(Tables.documents(spark, dir))

  /** Core of [[bigramLogprob]] over any (doc_id, text) frame.
    *
    * Round 16: the round-15 version [[Materialize]]d the FULL exploded
    * (doc_id, prev, cur) bigram OCCURRENCE stream — a corpus-sized
    * localCheckpoint that contradicts Materialize's own scale note —
    * and then ran two more corpus-wide aggregation passes over it. Now
    * ONE explode pass partial-aggregates straight into the per-doc
    * bigram PROFILE (doc_id, prev, cur, c) and only that is
    * checkpointed: within-doc repeats collapse, so the checkpoint is
    * strictly smaller than the r15 one (closed 31-token fixture
    * vocabulary: ≤ 961 types per doc however long the doc). Both count
    * tables now derive from the profile by exact integer rollups —
    * bigram counts nbg = Σ_docs c, prefix counts nprev = Σ_cur nbg —
    * deleting BOTH extra corpus passes. The per-doc mean re-weights by c
    * (sum(logp·c)/sum(c)), which is the same contribution per occurrence
    * as before (the unigramLogprobDocs re-weighting trade, oracle-pinned
    * at sf0.01 and sf0.1). */
  def bigramLogprobDocs(docs: DataFrame): DataFrame = {
    import graft.functions.NumericFunctions.stableRound4
    val dgb = Materialize(Spread(docs.select(col("doc_id"), col("text")))
      .select(col("doc_id"), tokensLower(col("text")).as("toks"))
      .filter(size(col("toks")) >= 2)
      .select(col("doc_id"), explode(expr(
        "zip_with(slice(toks, 1, size(toks) - 1), " +
          "slice(toks, 2, size(toks) - 1), " +
          "(x, y) -> named_struct('prev', x, 'cur', y))")).as("b"))
      .select(col("doc_id"), col("b.prev").as("prev"), col("b.cur").as("cur"))
      .groupBy(col("doc_id"), col("prev"), col("cur"))
      .agg(count(lit(1)).as("c")))
    val bgCounts = dgb.groupBy(col("prev"), col("cur"))
      .agg(sum(col("c")).cast("bigint").as("nbg"))
    val prevCounts = bgCounts.groupBy(col("prev"))
      .agg(sum(col("nbg")).cast("bigint").as("nprev"))
    dgb.join(bgCounts, Seq("prev", "cur"))
      .join(prevCounts, Seq("prev"))
      .select(col("doc_id"), col("c"),
        log10(col("nbg").cast("double") / col("nprev")).as("logp"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).cast("bigint").as("n_bigrams"),
        stableRound4(sum(col("logp") * col("c")) / sum(col("c")))
          .as("mean_logp"))
      .orderBy(col("doc_id"))
  }

  /** q_kn_bigram: interpolated Kneser–Ney bigram probabilities over the
    * corpus LM — the smoothing every n-gram LM pipeline actually ships
    * (Chen & Goodman 1999): absolute-discount the observed bigram mass
    * and back off to the CONTINUATION unigram (how many distinct contexts
    * a word follows, not how often it occurs — "francisco" is frequent
    * but only ever follows "san"). p_KN(w2|w1) = max(c(w1w2)−D, 0)/c(w1·)
    * + (D·N1+(w1·)/c(w1·)) · (N1+(·w2)/N1+(··)), D = `discount`.
    * Output: the `topN` highest-probability bigrams with count ≥
    * `minCount`, ordered by (p_kn desc, w1, w2) on the round-4 value so
    * the cutoff is tie-stable cross-engine.
    *
    * Scale shape: one bigram explode feeding four partial-friendly hash
    * aggregations (bigram counts; per-prefix totals + distinct-follower
    * counts in ONE pass; per-word distinct-predecessor counts; one global
    * count), then a joins-over-counts assembly — the same
    * explode-then-aggregate cost class as [[bigramLogprobDocs]], nothing
    * quadratic, no windows over the corpus. The bigram-count table is
    * [[Materialize]]d once: four downstream consumers (the multi-consumer
    * barrier rule from SCALE.md's round-9 audit). */
  /** q_kn_trigram: the full interpolated Kneser–Ney RECURSION (Chen &
    * Goodman 1999 eq. 18) — trigram level backing off through the
    * continuation-count bigram level to the continuation unigram:
    *
    *   p(w3|w1w2) = max(c123−D,0)/c12· + D·N1+(w1w2·)/c12· · p_low(w3|w2)
    *   p_low(w3|w2) = max(N1+(·w2w3)−D,0)/N1+(·w2·)
    *                  + D·N1+(w2·)/N1+(·w2·) · N1+(·w3)/N1+(··)
    *
    * where the LOWER level uses continuation (distinct-predecessor)
    * counts, not raw counts — the defining KN property [[knBigram]]
    * documents. Completes the LM family: unigram → bigram → KN-bigram →
    * KN-trigram, all corpus-trained, all oracled.
    *
    * Scale shape: one trigram explode into a Materialize'd type-count
    * table feeding five partial-friendly aggregations (context totals +
    * distinct-successor counts in one pass; middle-token predecessor
    * type counts in one pass; bigram-level successor/continuation counts
    * from the bigram type table), then joins-over-counts — the knBigram
    * cost class one explode wider, nothing quadratic. The float chain is
    * composed in ONE fixed association order mirrored exactly by the
    * oracle (stableRound4 only at the end). */
  def knTrigram(spark: SparkSession, dir: String,
      discount: Double = KnDiscount, minCount: Int = KnMinCount,
      topN: Int = KnTopN): DataFrame = {
    import graft.functions.NumericFunctions.stableRound4
    // Spread before the tokenize+trigram explode (per-row-heavy on a 1-2
    // split scan; identity at scale — all downstream counts are integers)
    val toks = Spread(Tables.documents(spark, dir).select(col("text")))
      .select(tokensLower(col("text")).as("toks"))
    // trigram TYPE counts — the single corpus-sized explode
    val tgc = Materialize(toks
      .filter(size(col("toks")) >= 3)
      .select(explode(expr(
        "zip_with(zip_with(slice(toks, 1, size(toks) - 2), " +
          "slice(toks, 2, size(toks) - 2), " +
          "(x, y) -> named_struct('w1', x, 'w2', y)), " +
          "slice(toks, 3, size(toks) - 2), " +
          "(p, z) -> named_struct('w1', p.w1, 'w2', p.w2, 'w3', z))"))
        .as("t"))
      .select(col("t.w1").as("w1"), col("t.w2").as("w2"),
        col("t.w3").as("w3"))
      .groupBy(col("w1"), col("w2"), col("w3"))
      .agg(count(lit(1)).as("c123")))
    // context (w1,w2): raw total + distinct-successor type count, one pass
    val ctx = tgc.groupBy(col("w1"), col("w2"))
      .agg(sum(col("c123")).as("c12dot"), count(lit(1)).as("n_after12"))
    // middle-token w2: predecessor type count per (w2,w3) + its total
    val midPair = Materialize(tgc.groupBy(col("w2"), col("w3"))
      .agg(count(lit(1)).as("n_before23")))
    val mid = midPair.groupBy(col("w2"))
      .agg(sum(col("n_before23")).as("n_mid2"))
    // bigram type table for the lower level's λ and the unigram base
    val bgc = Materialize(toks
      .filter(size(col("toks")) >= 2)
      .select(explode(expr(
        "zip_with(slice(toks, 1, size(toks) - 1), " +
          "slice(toks, 2, size(toks) - 1), " +
          "(x, y) -> named_struct('w1', x, 'w2', y))")).as("b"))
      .select(col("b.w1").as("bw1"), col("b.w2").as("bw2"))
      .groupBy(col("bw1"), col("bw2"))
      .agg(count(lit(1)).as("cb")))
    val after2 = bgc.groupBy(col("bw1").as("w2"))
      .agg(count(lit(1)).as("n_after2"))
    val cont3 = bgc.groupBy(col("bw2").as("w3"))
      .agg(count(lit(1)).as("n_before3"))
    val nBig = bgc.agg(count(lit(1)).as("n_big"))
    val pLow =
      greatest(col("n_before23").cast("double") - lit(discount), lit(0.0)) /
        col("n_mid2").cast("double") +
        ((lit(discount) * col("n_after2").cast("double")) /
          col("n_mid2").cast("double")) *
          (col("n_before3").cast("double") / col("n_big").cast("double"))
    val pKn =
      greatest(col("c123").cast("double") - lit(discount), lit(0.0)) /
        col("c12dot").cast("double") +
        ((lit(discount) * col("n_after12").cast("double")) /
          col("c12dot").cast("double")) * pLow
    tgc.filter(col("c123") >= minCount)
      .join(ctx, Seq("w1", "w2"))
      .join(midPair, Seq("w2", "w3"))
      .join(mid, Seq("w2"))
      .join(after2, Seq("w2"))
      .join(cont3, Seq("w3"))
      .crossJoin(broadcast(nBig))
      .select(col("w1"), col("w2"), col("w3"), col("c123"),
        stableRound4(pKn).as("p_kn"))
      .orderBy(col("p_kn").desc, col("w1"), col("w2"), col("w3"))
      .limit(topN)
  }

  def knBigram(spark: SparkSession, dir: String,
      discount: Double = KnDiscount, minCount: Int = KnMinCount,
      topN: Int = KnTopN): DataFrame = {
    import graft.functions.NumericFunctions.stableRound4
    val bgc = Materialize(
      Tables.documents(spark, dir)
        .select(tokensLower(col("text")).as("toks"))
        .filter(size(col("toks")) >= 2)
        .select(explode(expr(
          "zip_with(slice(toks, 1, size(toks) - 1), " +
            "slice(toks, 2, size(toks) - 1), " +
            "(x, y) -> named_struct('w1', x, 'w2', y))")).as("b"))
        .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
        .groupBy(col("w1"), col("w2"))
        .agg(count(lit(1)).as("c12")))
    val pfx = bgc.groupBy(col("w1"))
      .agg(sum(col("c12")).as("c1"), count(lit(1)).as("n_after"))
    val cont = bgc.groupBy(col("w2")).agg(count(lit(1)).as("n_before"))
    val total = bgc.agg(count(lit(1)).as("n_big"))
    val pkn =
      greatest(col("c12").cast("double") - lit(discount), lit(0.0)) /
        col("c1").cast("double") +
        ((lit(discount) * col("n_after").cast("double")) /
          col("c1").cast("double")) *
          (col("n_before").cast("double") / col("n_big").cast("double"))
    bgc.filter(col("c12") >= minCount)
      .join(pfx, Seq("w1"))
      .join(cont, Seq("w2"))
      .crossJoin(broadcast(total))
      .select(col("w1"), col("w2"), col("c12"),
        stableRound4(pkn).as("p_kn"))
      .orderBy(col("p_kn").desc, col("w1"), col("w2"))
      .limit(topN)
  }

  /** Per-document token-distribution statistics: Shannon entropy (bits) and
    * type-token ratio — the lexical-diversity quality signals (low entropy =
    * repetitive/templated text; TTR complements [[repetitionStats]]'s
    * dup-word fraction). Entropy uses the aggregation-friendly identity
    * H = (ln n − Σ c·ln c / n) / ln 2 over per-doc token counts c, so the
    * whole query is two partial-aggregated hash shuffles — no per-token
    * probability column, no window, no driver data; at 100 TB it runs at
    * explode-then-aggregate speed like every other corpus-stats pass. */
  def tokenEntropy(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.NumericFunctions.stableRound4
    Tables.documents(spark, dir)
      .select(col("doc_id"), explode(tokensLower(col("text"))).as("tok"))
      .groupBy(col("doc_id"), col("tok"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(
        sum(col("c")).as("n_tokens"),
        count(lit(1)).as("n_distinct"),
        sum(col("c").cast("double") * log(col("c").cast("double")))
          .as("sum_clnc"))
      .select(
        col("doc_id"), col("n_tokens"),
        stableRound4(col("n_distinct") / col("n_tokens")).as("ttr"),
        stableRound4(
          (log(col("n_tokens").cast("double"))
            - col("sum_clnc") / col("n_tokens")) / lit(math.log(2.0)))
          .as("entropy_bits"))
      .orderBy(col("doc_id"))
  }

  /** Model-based quality scoring stand-in: a logistic classifier with
    * FIXED, documented weights over the structural features this module
    * already extracts (token count, average word length, stopword ratio,
    * dup-word fraction) — the deterministic proxy for the fastText-style
    * quality classifier every corpus pipeline runs. No learned weights ship
    * with this repo by design; the plumbing (feature extraction → linear
    * score → sigmoid → threshold on the ROUNDED probability) is exactly
    * what a real classifier needs, and swapping in trained coefficients
    * changes one constant list.
    *
    * Scale shape: feature extraction is narrow; the dup-word fraction adds
    * the [[repetitionStats]] explode + two partial-aggregated hops; the
    * join back to features is on doc_id. Nothing exceeds one corpus scan
    * plus one agg pipeline. */
  def qualityLogistic(spark: SparkSession, dir: String): DataFrame =
    logisticPKeepDf(Tables.documents(spark, dir))
      .withColumn("keep", col("p_keep") >= 0.5)
      .orderBy(col("doc_id"))

  /** Per-doc structural features for the logistic family: token count,
    * average word length, stopword ratio, dup-word fraction. One narrow
    * scan + the dup explode's two partial-aggregated hops + a doc_id
    * join — shared by the fixed-weight scorer, the calibration audit,
    * and the trained variant. */
  private[operators] def logisticFeaturesDf(docs: DataFrame): DataFrame = {
    val toks = tokens(col("text"))
    val feats = docs
      .select(col("doc_id"),
        size(toks).cast("double").as("n_toks"),
        (length(regexp_replace(col("text"), "\\s", "")).cast("double")
          / size(toks)).as("awl"),
        (tokenMatchCount(tokensLower(col("text")), EnWords).cast("double")
          / size(toks)).as("swr"))
    val dup = docs
      .select(col("doc_id"), explode(tokensLower(col("text"))).as("tok"))
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg((lit(1.0) - count(lit(1)) / sum(col("c"))).as("dupfrac"))
    feats.join(dup, Seq("doc_id"))
  }

  /** Per-doc (doc_id, p_keep) from the fixed-weight logistic — shared by
    * the declared query and the calibration audit. p_keep is ROUNDED to
    * 4 dp here so every consumer bins/compares the same value. */
  private[operators] def logisticPKeepDf(docs: DataFrame): DataFrame = {
    // fixed interpretable weights: reward stopword density and length,
    // penalize repetition and extreme word lengths (documented stand-in)
    val z = lit(-1.0) + col("swr") * 8.0 + least(col("n_toks") / 100.0, lit(1.0)) * 1.5 -
      col("dupfrac") * 4.0 - abs(col("awl") - 5.0) * 0.3
    logisticFeaturesDf(docs)
      .select(col("doc_id"),
        stableRound4(lit(1.0) / (lit(1.0) + exp(-z))).as("p_keep"))
  }

  /** q_quality_train: TRAIN the quality classifier instead of shipping
    * fixed weights — full-batch logistic-regression gradient descent on
    * the structural features, labeled by the per-doc Gopher all-rules
    * outcome (the same proxy-label trick as [[calibration]]). `iters`
    * deterministic steps of w ← w − lr·∇: each step is ONE scan-and-
    * aggregate job producing the 5-component mean gradient; the model —
    * five doubles — lives on the driver between steps (the same bounded-
    * driver-model budget as the k-means quantizers; nothing row-sized
    * ever crosses). Features are the classifier's own: bias, stopword
    * ratio, capped length, dup-word fraction, |awl−5|. Output: one row of
    * trained weights plus training accuracy at the 0.5 threshold (on the
    * 4-dp-rounded probability — the engine-safe comparison) and the label
    * base rate. Oracle: the full unroll — each iteration's weights become
    * a 1-row CTE cross-joined into the next iteration's sigmoid.
    *
    * Scale shape: (iters + 1) scan+agg jobs over the feature pass — at
    * 100 TB this is iters× the cost of [[qualityLogistic]], still
    * scan-bound with |1|-row shuffles. */
  def qualityTrain(spark: SparkSession, dir: String, iters: Int = 25,
      lr: Double = 5.0): DataFrame = {
    val feats = graft.operators.Materialize(
      logisticFeaturesDf(Tables.documents(spark, dir))
        .join(gopherDocFlags(Tables.documents(spark, dir))
          .select(col("doc_id"),
            (col("p_wc") && col("p_mwl") && col("p_stop") && col("p_alpha"))
              .cast("double").as("y")),
          Seq("doc_id"))
        .select(col("doc_id"),
          col("swr").as("x1"),
          least(col("n_toks") / 100.0, lit(1.0)).as("x2"),
          col("dupfrac").as("x3"),
          abs(col("awl") - 5.0).as("x4"),
          col("y")))
    var w = Array(0.0, 0.0, 0.0, 0.0, 0.0)
    def zCol = lit(w(0)) + col("x1") * w(1) + col("x2") * w(2) +
      col("x3") * w(3) + col("x4") * w(4)
    // round 16: the weights enter each GD step through [[RefDouble]] —
    // a reference-object "literal". With plain lit(w) every step embeds
    // different doubles into the generated Java source, so whole-stage
    // codegen RECOMPILES per step (the dominant per-iteration cost for a
    // 5-column aggregate over a checkpointed feature table; a broadcast
    // 1-row weight frame was measured WORSE — per-step exchange overhead
    // exceeds the compile it saves). RefDouble keeps the source identical
    // across steps (Janino cache hit) while the float chain is the same
    // ops in the same order on the same doubles — bit-identical
    // gradients, unchanged oracle.
    def wRef(arr: Array[Double], i: Int) =
      org.apache.spark.sql.GraftColumnBridge.toColumn(
        graft.functions.expressions.RefDouble(arr, i))
    for (_ <- 1 to iters) {
      val wa = w.clone()
      val zColW = wRef(wa, 0) + col("x1") * wRef(wa, 1) +
        col("x2") * wRef(wa, 2) + col("x3") * wRef(wa, 3) +
        col("x4") * wRef(wa, 4)
      val err = (lit(1.0) / (lit(1.0) + exp(-zColW)) - col("y")).as("e")
      val g = feats
        .select(err, col("x1"), col("x2"), col("x3"), col("x4"))
        .agg(avg(col("e")), avg(col("e") * col("x1")),
          avg(col("e") * col("x2")), avg(col("e") * col("x3")),
          avg(col("e") * col("x4")))
        .head()
      w = w.indices.map(i => w(i) - lr * g.getDouble(i)).toArray
    }
    val p4 = stableRound4(lit(1.0) / (lit(1.0) + exp(-zCol)))
    feats.agg(
      count(lit(1)).as("n_docs"),
      stableRound4(avg(col("y"))).as("base_rate"),
      stableRound4(avg(((p4 >= 0.5).cast("double") === col("y"))
        .cast("double"))).as("train_acc"))
      .select(lit(iters).as("iters"), col("n_docs"), col("base_rate"),
        col("train_acc"),
        stableRound4(lit(w(0))).as("w_bias"),
        stableRound4(lit(w(1))).as("w_swr"),
        stableRound4(lit(w(2))).as("w_len"),
        stableRound4(lit(w(3))).as("w_dup"),
        stableRound4(lit(w(4))).as("w_awl"))
  }

  /** q_calibration: reliability diagram for the [[qualityLogistic]]
    * classifier — does a predicted keep-probability of 0.8 actually mean
    * ~80% of those documents clear an independent quality bar? The
    * outcome variable is the document passing all four Gopher rules
    * (a rule family the logistic's weights never saw — the standard
    * proxy-label trick when no human labels exist). Documents are binned
    * by ⌊10·p⌋ on the ROUNDED probability (top bin closed), and each bin
    * reports count, mean predicted probability, empirical pass rate, and
    * the |gap| whose doc-weighted sum is the expected calibration error.
    * Scale shape: the two per-doc passes (logistic features + rule
    * flags) are scans the module already runs; the calibration rollup
    * adds one doc_id join and a ≤10-group aggregation — nothing wider
    * than the classifier itself. */
  def calibration(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val pass = gopherDocFlags(docs)
      .select(col("doc_id"),
        (col("p_wc") && col("p_mwl") && col("p_stop") && col("p_alpha"))
          .cast("double").as("pass"))
    logisticPKeepDf(docs).join(pass, Seq("doc_id"))
      .select(least(floor(col("p_keep") * 10), lit(9)).cast("int").as("bin"),
        col("p_keep"), col("pass"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n_docs"),
        stableRound4(avg(col("p_keep"))).as("mean_pred"),
        stableRound4(avg(col("pass"))).as("frac_pass"))
      .withColumn("gap", stableRound4(abs(col("mean_pred") - col("frac_pass"))))
      .orderBy(col("bin"))
  }

  /** Canonical md5 fingerprint of the normalized text (rolling-hash style
    * document identity for exact dedup across formatting noise). */
  def fingerprintDocs(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(
        col("doc_id"),
        fingerprint(col("text")).as("fp"))
      .orderBy(col("doc_id"))

  /** Gopher-style quality-filter report: the repetition-free subset of the
    * document heuristics published with Gopher (Rae et al. 2021, §A1.1 —
    * word-count bounds, mean-word-length bounds, stopword presence,
    * alphabetic-word fraction), evaluated per document and rolled up to a
    * per-source pass-rate scorecard. This is the shape of every rule-based
    * corpus filter: N narrow boolean expressions on one scan, then one
    * small aggregation — at 100 TB it is scan-bound with a per-source
    * (tiny-key) shuffle of one row per task. */
  def gopherRules(spark: SparkSession, dir: String): DataFrame =
    gopherRulesDf(Tables.documents(spark, dir))

  /** Per-doc Gopher rule booleans (keyed by doc_id, source riding along)
    * — shared by the per-source scorecard and the calibration audit. */
  private[operators] def gopherDocFlags(docs: DataFrame): DataFrame = {
    val toks = tokensLower(col("text"))
    docs
      .select(col("doc_id"), col("source"), toks.as("toks"),
        length(regexp_replace(col("text"), "\\s", "")).cast("double")
          .as("n_chars"))
      .select(col("doc_id"), col("source"),
        size(col("toks")).as("n_words"),
        (col("n_chars") / size(col("toks"))).as("mwl"),
        tokenMatchCount(col("toks"), EnWords).as("sw_n"),
        (size(filter(col("toks"), t => t.rlike("[a-z]"))).cast("double")
          / size(col("toks"))).as("alpha_frac"))
      .select(col("doc_id"), col("source"),
        col("n_words").between(20, 100000).as("p_wc"),
        col("mwl").between(3.0, 10.0).as("p_mwl"),
        (col("sw_n") >= 2).as("p_stop"),
        (col("alpha_frac") >= 0.8).as("p_alpha"))
  }

  private[operators] def gopherRulesDf(docs: DataFrame): DataFrame = {
    gopherDocFlags(docs)
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("p_wc").cast("long")).as("n_pass_wc"),
        sum(col("p_mwl").cast("long")).as("n_pass_mwl"),
        sum(col("p_stop").cast("long")).as("n_pass_stop"),
        sum(col("p_alpha").cast("long")).as("n_pass_alpha"),
        sum((col("p_wc") && col("p_mwl") && col("p_stop") && col("p_alpha"))
          .cast("long")).as("n_pass_all"))
      .withColumn("pass_rate",
        stableRound4(col("n_pass_all").cast("double") / col("n_docs")))
      .orderBy(col("source"))
  }

  /** Flesch reading-ease profile per source: syllables approximated as
    * vowel-group runs (the standard dictionary-free heuristic), sentences
    * as terminal-punctuation runs floored at 1. All three counts are
    * narrow regexp expressions on one scan; the per-source average is one
    * tiny-key aggregation. */
  def readability(spark: SparkSession, dir: String): DataFrame =
    readabilityDf(Tables.documents(spark, dir))

  /** q_token_fertility: per-language tokenizer-efficiency profile — the
    * metric a training pipeline tracks when one tokenizer serves a
    * multilingual corpus. Fertility = subword tokens per whitespace word
    * (BPE-ish segmentation vs whitespace); chars-per-subword is the
    * bytes-per-token proxy that sets context-window economics. A language
    * whose fertility drifts high is paying more sequence length per word —
    * the standard signal for re-training or re-weighting the tokenizer.
    *
    * Scale shape: two narrow per-row regex counts + one groupBy(lang) —
    * one shuffle of |langs| partial buffers, no explode, no join. */
  def tokenFertility(spark: SparkSession, dir: String): DataFrame = {
    val nBpe = size(bpeishTokens(col("text"))).cast("double")
    val nWs = size(tokens(col("text"))).cast("double")
    val nChars = length(regexp_replace(col("text"), "\\s", "")).cast("double")
    Tables.documents(spark, dir)
      .select(col("lang"), nBpe.as("b"), nWs.as("w"), nChars.as("c"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        stableRound4(sum(col("b")) / sum(col("w"))).as("fertility"),
        stableRound4(sum(col("c")) / sum(col("b"))).as("chars_per_token"))
      .orderBy(col("lang"))
  }

  /** q_ttr: per-source vocabulary richness — type-token ratio (distinct
    * words / word occurrences) and hapax fraction (share of the vocabulary
    * seen exactly once). Template-generated or boilerplate-heavy sources
    * show low TTR and low hapax; scraped natural text shows high hapax.
    * Complements [[graft.operators.CorpusOps]]'s vocab-coverage (which
    * measures coverage OF a fixed top-k vocab, not richness).
    *
    * Scale shape: explode to (source, token), ONE groupBy(source, token)
    * with map-side combine collapses occurrences to counts, then a
    * |vocab|-sized groupBy(source) rollup. No join, no window; both
    * shuffles carry pre-aggregated rows. */
  def typeTokenRatio(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("source"), explode(tokensLower(col("text"))).as("token"))
      .groupBy(col("source"), col("token"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_types"),
        sum(col("cnt")).as("n_tokens"),
        stableRound4(count(lit(1)).cast("double") / sum(col("cnt")))
          .as("ttr"),
        stableRound4(sum(when(col("cnt") === 1, 1).otherwise(0))
          .cast("double") / count(lit(1))).as("hapax_frac"))
      .orderBy(col("source"))

  /** q_lang_trigram: character-trigram language classification — the
    * profile method of Cavnar & Trenkle (1994), the standard upgrade over
    * the stopword heuristic of [[langId]] (robust to short docs and
    * unseen words because it models sub-word orthography). Profiles are
    * trained FROM THE CORPUS ITSELF per declared lang (top-`topK`
    * trigrams by frequency, rank-weighted w = topK+1−rank), then every
    * document is scored against every profile by the sum of rank weights
    * over its distinct trigrams and assigned the argmax lang. Output is
    * the declared-vs-predicted confusion matrix.
    *
    * All weights and scores are INTEGERS (rank positions, not float
    * frequencies), so the argmax is exactly reproducible — no
    * float-sum-order ties between engines. Scale shape: one trigram
    * explode (≈ n_chars rows/doc, the same order as tokenize+explode),
    * two partial-aggregated groupBys, a per-lang top-K window over the
    * |langs|·|distinct trigrams| profile table (small), and ONE broadcast
    * join of the ≤ langs·topK profile against the distinct doc-trigram
    * set. No doc×doc work anywhere; the model never leaves the cluster. */
  def langTrigram(spark: SparkSession, dir: String, topK: Int = 64)
      : DataFrame =
    trigramPredShared(spark, dir, topK)
      .groupBy(col("lang"), col("lang_pred"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy(col("lang"), col("lang_pred"))

  /** Session cache for [[trigramPredDf]] (r12 verdict ask #2): THREE
    * declared queries consume the identical trained-classifier frame —
    * [[langTrigram]] rolls it up, [[mcnemar]] and [[cohensKappa]] pair it
    * against the stopword heuristic — and each re-ran the full trigram
    * explode + profile training + scoring pass (~3.5 s each at sf0.1; two
    * redundant full-corpus passes per audit run at scale). Distinct from
    * the measured-slower IN-QUERY materialization recorded in
    * [[trigramPredDf]] (that traded one extra codegen'd scan for a
    * corpus-sized checkpoint INSIDE one query); this is the CROSS-query
    * case the GraphOps shared-edges cache already proved: the frame is a
    * deterministic function of (dir, topK), |docs| rows wide, built once
    * per session. Keyed by session so parallel test sessions never alias;
    * registered for [[SessionCache.clearAll]]. Measured (BenchOne sf0.1
    * ×3, min): q_mcnemar 3.09 → 0.34 s cached, q_cohens_kappa
    * 3.99 → 0.71 s, q_lang_trigram 3.14 → 0.18 s — the pair queries are
    * now the join+agg cost the r12 verdict asked for; the one-time build
    * (~3.5 s) is paid by whichever consumer runs first. */
  private val trigramShared =
    new SessionCache[(SparkSession, String, Int), DataFrame]()

  /** Drop the cached classifier frames (see [[SessionCache]] contract). */
  def clearCache(): Unit = trigramShared.clear()

  /** [[trigramPredDf]], materialized once per session/dir/topK — the
    * shared entry point for the three classifier-audit queries. */
  private[operators] def trigramPredShared(spark: SparkSession, dir: String,
      topK: Int = 64): DataFrame =
    trigramShared.getOrBuild((spark, dir, topK))(
      Materialize(trigramPredDf(spark, dir, topK)))

  /** Per-doc trigram-classifier predictions (doc_id, lang, lang_pred) —
    * the frame [[langTrigram]] rolls up and [[mcnemar]] pairs against the
    * stopword heuristic. */
  private[operators] def trigramPredDf(spark: SparkSession, dir: String,
      topK: Int = 64): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val norm = regexp_replace(lower(col("text")), "\\s+", " ")
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), norm.as("s"))
    // Two passes over the scan+explode, NOT a shared pre-aggregated
    // materialization: the unigram-logprob rewrite (pre-agg to counts,
    // checkpoint, fan out) was tried here and measured ~20% SLOWER
    // (BenchOne sf0.1 min 4.10 s vs 3.39 s) — char trigrams repeat only
    // ~1.7× within a doc, so the (doc, gram) groupBy shuffles nearly the
    // whole exploded stream and the checkpoint write outweighs one extra
    // codegen'd scan+explode. Don't re-apply that pattern without
    // re-measuring.
    val grams = docs.filter(length(col("s")) >= 3)
      .select(col("doc_id"), col("lang"),
        explode(expr(
          "transform(sequence(1, length(s) - 2), i -> substring(s, i, 3))"))
          .as("g"))
    val docG = grams.select(col("doc_id"), col("g")).distinct()
    val prof = grams.groupBy(col("lang"), col("g"))
      .agg(count(lit(1)).as("c"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("lang")).orderBy(col("c").desc, col("g"))))
      .filter(col("rk") <= topK)
      .select(col("lang").as("plang"), col("g"),
        (lit(topK + 1) - col("rk")).cast("long").as("w"))
    val scores = docG.join(broadcast(prof), Seq("g"))
      .groupBy(col("doc_id"), col("plang"))
      .agg(sum(col("w")).as("score"))
    val best = scores
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("doc_id"))
          .orderBy(col("score").desc, col("plang"))))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("plang"))
    // docs too short to produce a trigram (or with zero profile overlap)
    // deterministically fall back to the alphabetically-first lang
    val minLang = Tables.documents(spark, dir)
      .agg(min(col("lang")).as("min_lang"))
    Tables.documents(spark, dir).select(col("doc_id"), col("lang"))
      .join(best, Seq("doc_id"), "left")
      .crossJoin(broadcast(minLang))
      .select(col("doc_id"), col("lang"),
        coalesce(col("plang"), col("min_lang")).as("lang_pred"))
  }

  private[operators] def readabilityDf(docs: DataFrame): DataFrame = {
    val nWords = size(tokensLower(col("text"))).cast("double")
    val nSents = greatest(lit(1L), regexp_count(col("text"), lit("[.!?]+")))
      .cast("double")
    val nSylls = size(regexp_extract_all(lower(col("text")),
      lit("[aeiouy]+"), lit(0))).cast("double")
    docs
      .select(col("source"), nWords.as("w"), nSents.as("s"), nSylls.as("y"))
      .select(col("source"),
        (lit(206.835) - lit(1.015) * (col("w") / col("s"))
          - lit(84.6) * (col("y") / col("w"))).as("flesch"),
        (col("y") / col("w")).as("spw"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        stableRound4(avg(col("flesch"))).as("avg_flesch"),
        stableRound4(avg(col("spw"))).as("avg_syll_per_word"))
      .orderBy(col("source"))
  }

  /** q_textrank: corpus keyword extraction by TextRank (Mihalcea & Tarau
    * 2004) — PageRank over the word co-occurrence graph. Nodes are
    * content words (length ≥ `minLen` — the deterministic stand-in for a
    * POS filter), edges the DISTINCT adjacent pairs in the raw token
    * sequence (window 2, undirected, unweighted — the paper's base
    * variant); ranks are `iters` damped power-iteration sweeps, top-`k`
    * words out. The graph build is one narrow explode + self-join on
    * position; the rank loop mirrors [[GraphOps.pageRank]]'s shape
    * exactly (adjacency grouped ONCE into a |vocab|-row Materialized
    * table, per-sweep |E| rows exist only inside an exploded projection,
    * map-side partial sums shrink the shuffle to |vocab| rows).
    * Oracle: the q_pagerank unrolled-CTE pattern over token edges. */
  def textRank(spark: SparkSession, dir: String, iters: Int = 5,
      damping: Double = 0.85, minLen: Int = 4, k: Int = 20): DataFrame = {
    val pos = Tables.documents(spark, dir)
      .select(col("doc_id"), posexplode(tokensLower(col("text"))))
      .select(col("doc_id"), col("pos"), col("col").as("tok"))
      .filter(length(col("tok")) >= minLen)
    val e = pos.as("a").join(pos.as("b"),
        col("a.doc_id") === col("b.doc_id")
          && col("a.pos") + 1 === col("b.pos")
          && col("a.tok") =!= col("b.tok"))
      .select(least(col("a.tok"), col("b.tok")).as("src"),
        greatest(col("a.tok"), col("b.tok")).as("dst"))
      .distinct()
    val adj = Materialize(
      e.unionAll(e.select(col("dst").as("src"), col("src").as("dst")))
        .groupBy(col("src"))
        .agg(collect_list(col("dst")).as("nbrs")))
    val n = adj.count()
    val teleport = (1.0 - damping) / n
    var ranks = adj.select(col("src").as("node"), lit(1.0 / n).as("rank"))
    for (_ <- 1 to iters) {
      val contrib = adj
        .join(ranks, adj("src") === ranks("node"))
        .select(explode(col("nbrs")).as("node"),
          (col("rank") / size(col("nbrs"))).as("c"))
        .groupBy(col("node"))
        .agg(sum(col("c")).as("inflow"))
      ranks = contrib.select(col("node"),
        (lit(teleport) + lit(damping) * col("inflow")).as("rank"))
    }
    ranks
      .select(col("node").as("token"), stableRound4(col("rank")).as("rank"))
      .orderBy(col("rank").desc, col("token"))
      .limit(k)
  }

  /** Collocation dials (q_llr_colloc): minimum pair count and report size. */
  val LlrMinCount = 5
  val LlrTopN = 30

  /** q_llr_colloc: collocation extraction by Dunning's log-likelihood
    * ratio (Dunning 1993) over ADJACENT token bigrams — the significance
    * test that, unlike raw PMI (q_cooccur's document-level signal),
    * doesn't explode on rare pairs: each bigram's 2×2 contingency table
    * (k11 = c(w1 w2), k12 = c(w1 ¬w2), k21 = c(¬w1 w2), k22 = rest)
    * is scored G² = 2·Σ kᵢⱼ·ln(kᵢⱼ·N / (rowᵢ·colⱼ)), zero terms dropped.
    * Collocations are the multi-word units a tokenizer/vocab-induction
    * pass should keep intact — the measurable counterpart to BPE merges.
    *
    * Scale shape: the same one-explode bigram aggregation as [[knBigram]]
    * (zip_with adjacent pairs, partial-aggregated (w1,w2) counts), two
    * marginal rollups joined back on their keys, ONE scalar total
    * broadcast, then per-row literal algebra. All counts are exact
    * integers; the lns are per-row with a chained fixed-order sum, so
    * the ranking key (ROUNDED G², ties on the pair) replays exactly. */
  def llrColloc(spark: SparkSession, dir: String,
      minCount: Int = LlrMinCount, topN: Int = LlrTopN): DataFrame = {
    val bgc = Materialize(
      Tables.documents(spark, dir)
        .select(tokensLower(col("text")).as("toks"))
        .filter(size(col("toks")) >= 2)
        .select(explode(expr(
          "zip_with(slice(toks, 1, size(toks) - 1), " +
            "slice(toks, 2, size(toks) - 1), " +
            "(x, y) -> named_struct('w1', x, 'w2', y))")).as("b"))
        .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
        .groupBy(col("w1"), col("w2"))
        .agg(count(lit(1)).as("k11")))
    val c1 = bgc.groupBy(col("w1")).agg(sum(col("k11")).as("c1"))
    val c2 = bgc.groupBy(col("w2")).agg(sum(col("k11")).as("c2"))
    val tot = bgc.agg(sum(col("k11")).as("nn"))
    // G² term: k·ln(k·N/(row·col)), contributing 0 when k = 0 (lazy
    // CaseWhen keeps the ln off the zero branch — the ANSI guard rule)
    def term(k: Column, row: Column, colm: Column): Column =
      when(k > 0, k.cast("double")
        * log(k.cast("double") * col("nn")
          / (row.cast("double") * colm.cast("double"))))
        .otherwise(lit(0.0))
    bgc.filter(col("k11") >= minCount)
      .join(c1, "w1").join(c2, "w2")
      .crossJoin(broadcast(tot))
      .select(col("w1"), col("w2"), col("k11").as("n_pair"),
        stableRound4(lit(2.0) * (
          term(col("k11"), col("c1"), col("c2"))
            + term(col("c1") - col("k11"), col("c1"), col("nn") - col("c2"))
            + term(col("c2") - col("k11"), col("nn") - col("c1"), col("c2"))
            + term(col("nn") - col("c1") - col("c2") + col("k11"),
              col("nn") - col("c1"), col("nn") - col("c2"))))
          .as("llr"))
      .orderBy(col("llr").desc, col("w1"), col("w2"))
      .limit(topN)
  }

  /** q_self_bleu: corpus diversity by self-BLEU-2 (Zhu et al. 2018's
    * diversity metric, BLEU per Papineni et al. 2002) — each document
    * scored against its id-successor WITHIN its source (a deterministic
    * linear pairing: near-1 means the source emits near-duplicates, the
    * generation-diversity red flag). Per pair: clipped unigram/bigram
    * precisions p₁, p₂ (Σ min(c_hyp, c_ref) / hyp length), brevity
    * penalty min(1, e^(1−r/h)), BLEU₂ = BP·√(p₁p₂); reported as
    * per-source means.
    *
    * Scale shape: one explode → (doc, gram) partial-aggregated counts
    * per gram order, a per-source lead() window over doc ids (bounded by
    * docs-per-source), and two pair⋈counts joins in which every doc
    * appears in ≤ 2 pairs — all linear in the corpus; no doc×doc blowup
    * anywhere. Precisions are exact-integer ratios; the only
    * transcendental is the BP exponential on the length ratio. */
  def selfBleu(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // Spread before the tokenize (three explode/window consumers would
    // otherwise each re-run it on a 1-2 split scan; identity at scale)
    val docs = Spread(Tables.documents(spark, dir)
        .select(col("doc_id"), col("source"), col("text")))
      .select(col("doc_id"), col("source"), tokensLower(col("text")).as("toks"))
      .filter(size(col("toks")) >= 2)
    val uni = docs
      .select(col("doc_id"), explode(col("toks")).as("g"))
      .groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("c"))
    val bi = docs
      .select(col("doc_id"), explode(expr(
        "zip_with(slice(toks, 1, size(toks) - 1), " +
          "slice(toks, 2, size(toks) - 1), (x, y) -> concat(x, ' ', y))"))
        .as("g"))
      .groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("c"))
    val wSrc = Window.partitionBy(col("source")).orderBy(col("hyp"))
    val pairs = docs
      .select(col("source"), col("doc_id").as("hyp"),
        size(col("toks")).as("len_h"))
      .withColumn("ref", lead(col("hyp"), 1).over(wSrc))
      .withColumn("len_r", lead(col("len_h"), 1).over(wSrc))
      .filter(col("ref").isNotNull)
    def clipped(cnt: DataFrame): DataFrame =
      pairs.select(col("hyp"), col("ref"))
        .join(cnt.as("a"), col("hyp") === col("a.doc_id"))
        .join(cnt.as("b"),
          col("ref") === col("b.doc_id") && col("a.g") === col("b.g"))
        .groupBy(col("hyp"))
        .agg(sum(least(col("a.c"), col("b.c"))).as("clip"))
    val p1 = clipped(uni).withColumnRenamed("clip", "clip1")
    val p2 = clipped(bi).withColumnRenamed("clip", "clip2")
    pairs
      .join(p1, Seq("hyp"), "left").join(p2, Seq("hyp"), "left")
      .select(col("source"),
        (coalesce(col("clip1"), lit(0L)).cast("double") / col("len_h"))
          .as("prec1"),
        (coalesce(col("clip2"), lit(0L)).cast("double") / (col("len_h") - 1))
          .as("prec2"),
        when(col("len_r") <= col("len_h"), lit(1.0))
          .otherwise(exp(lit(1.0) - col("len_r").cast("double") / col("len_h")))
          .as("bp"))
      .select(col("source"), col("prec1"), col("prec2"),
        (col("bp") * sqrt(col("prec1") * col("prec2"))).as("bleu2"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_pairs"),
        stableRound4(avg(col("prec1"))).as("avg_p1"),
        stableRound4(avg(col("prec2"))).as("avg_p2"),
        stableRound4(avg(col("bleu2"))).as("avg_self_bleu"))
      .orderBy(col("source"))
  }

  /** q_isotonic_cal: isotonic (PAV) recalibration of the quality
    * classifier's binned reliability curve — the post-hoc fix a
    * miscalibrated [[calibration]] audit calls for (Zadrozny & Elkan
    * 2002). Over the same ≤10 score bins, the isotonic fit is the
    * minimax closed form of pool-adjacent-violators:
    * iso(i) = max_{j≤i} min_{k≥i} pooled-pass-rate(j..k) — monotone by
    * construction, and exactly the PAV solution.
    *
    * Scale shape: the corpus-sized work is the SAME two classifier scans
    * the calibration audit already prices; everything after is algebra
    * on a ≤10-row aggregate (cumulative sums + two bounded self-joins
    * over bin pairs — ≤55 rows). Pooled rates are exact-integer
    * divisions and min/max of identical doubles, so the fit replays
    * bit-for-bit in the oracle. */
  def isotonicCal(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, dir)
    val pass = gopherDocFlags(docs)
      .select(col("doc_id"),
        (col("p_wc") && col("p_mwl") && col("p_stop") && col("p_alpha"))
          .cast("double").as("pass"))
    // materialized: the ≤10-row bin aggregate feeds FIVE consumers (the
    // cumulative window, both sides of the pooled self-join, the iso
    // probe and the final assembly) — without the barrier the two
    // corpus-sized classifier passes above re-execute per consumer
    // (PlanReuseAudit catch, same shape as the q_cooccur fix)
    val bins = Materialize(logisticPKeepDf(docs).join(pass, Seq("doc_id"))
      .select(least(floor(col("p_keep") * 10), lit(9)).cast("int").as("bin"),
        col("pass"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"), sum(col("pass")).as("s")))
    val wCum = Window.orderBy(col("bin"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = bins
      .withColumn("cn", sum(col("n")).over(wCum))
      .withColumn("cs", sum(col("s")).over(wCum))
    // pooled pass rate over bin range [j..k] from the cumulative frame
    val pooled = cum.as("k").join(cum.as("j"), col("j.bin") <= col("k.bin"))
      .select(col("j.bin").as("jb"), col("k.bin").as("kb"),
        ((col("k.cs") - col("j.cs") + col("j.s"))
          / (col("k.cn") - col("j.cn") + col("j.n")).cast("double")).as("m"))
    val iso = bins.select(col("bin"))
      .join(pooled, col("jb") <= col("bin") && col("bin") <= col("kb"))
      .groupBy(col("bin"), col("jb")).agg(min(col("m")).as("mn"))
      .groupBy(col("bin")).agg(max(col("mn")).as("iso"))
    bins.join(iso, "bin")
      .select(col("bin"), col("n").as("n_docs"),
        stableRound4(col("s") / col("n").cast("double")).as("frac_pass"),
        stableRound4(col("iso")).as("iso_pass"))
      .orderBy(col("bin"))
  }

  /** q_mcnemar: McNemar's paired test (continuity-corrected) between the
    * two shipped language classifiers — the stopword heuristic
    * ([[langId]]) and the trigram profile classifier ([[langTrigram]]) —
    * on the SAME documents against the declared lang. The paired design
    * is the right test for "is classifier B actually better": only the
    * discordant documents (one right, one wrong) carry information;
    * χ² = (|b−c|−1)²/(b+c), NULL when no discordant pairs exist.
    *
    * Scale shape: both classifiers are existing linear passes; the test
    * adds one doc_id equi-join and a single 5-counter aggregate. Every
    * counter is an exact integer, so the statistic is one bit-stable
    * division. */
  def mcnemar(spark: SparkSession, dir: String): DataFrame = {
    val a = langId(spark, dir)
      .select(col("doc_id"), (col("lang_pred") === col("lang")).as("ca"))
    val b = trigramPredShared(spark, dir)
      .select(col("doc_id"), (col("lang_pred") === col("lang")).as("cb"))
    a.join(b, "doc_id")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("ca") && col("cb"), 1L).otherwise(0L)).as("both_correct"),
        sum(when(col("ca") && !col("cb"), 1L).otherwise(0L)).as("only_heuristic"),
        sum(when(!col("ca") && col("cb"), 1L).otherwise(0L)).as("only_trigram"),
        sum(when(!col("ca") && !col("cb"), 1L).otherwise(0L)).as("both_wrong"))
      .select(col("n_docs"), col("both_correct"), col("only_heuristic"),
        col("only_trigram"), col("both_wrong"),
        stableRound4(when(col("only_heuristic") + col("only_trigram") > 0,
          (abs(col("only_heuristic") - col("only_trigram")) - 1)
            .cast("double")
            * (abs(col("only_heuristic") - col("only_trigram")) - 1)
            / (col("only_heuristic") + col("only_trigram")).cast("double")))
          .as("mcnemar_chi2"))
  }

  /** q_cohens_kappa: chance-corrected agreement (Cohen 1960) between the
    * two shipped language classifiers on their PREDICTIONS — where
    * [[mcnemar]] asks "is one more accurate", κ asks "are they even
    * looking at the same thing": κ = (p₀ − pₑ)/(1 − pₑ), with the
    * expected agreement pₑ = Σ_k marginal_A(k)·marginal_B(k). The pair
    * is the standard duplicate-annotation audit a labeling pipeline
    * runs before trusting auto-labels.
    *
    * Scale shape: both classifiers are existing linear passes; κ adds
    * one doc_id equi-join, one |labels|²-bounded prediction-pair
    * aggregation, and closed-form algebra on that tiny frame. The
    * marginal products are exact-integer arithmetic over one N² scale
    * factor — a single division order shared with the oracle. */
  def cohensKappa(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.NumericFunctions.stableRound4
    val a = langId(spark, dir).select(col("doc_id"), col("lang_pred").as("pa"))
    val b = trigramPredShared(spark, dir)
      .select(col("doc_id"), col("lang_pred").as("pb"))
    val cells = a.join(b, "doc_id")
      .groupBy(col("pa"), col("pb")).agg(count(lit(1)).as("n"))
    val ma = cells.groupBy(col("pa")).agg(sum(col("n")).as("na"))
    val mb = cells.groupBy(col("pb")).agg(sum(col("n")).as("nb"))
    val tot = cells.agg(
      sum(col("n")).as("n_docs"),
      sum(when(col("pa") === col("pb"), col("n")).otherwise(0L)).as("agree"))
    // Σ na·nb over shared labels — exact integers until the two divisions
    val pe = ma.join(mb, col("pa") === col("pb"))
      .agg(coalesce(sum(col("na") * col("nb")), lit(0L)).as("exp_agree"))
    tot.crossJoin(broadcast(pe))
      .select(col("n_docs"), col("agree"),
        stableRound4(col("agree").cast("double") / col("n_docs")).as("p_obs"),
        stableRound4(col("exp_agree").cast("double")
          / (col("n_docs") * col("n_docs")).cast("double")).as("p_exp"),
        stableRound4(
          (col("agree").cast("double") / col("n_docs")
            - col("exp_agree").cast("double")
              / (col("n_docs") * col("n_docs")).cast("double"))
          / (lit(1.0) - col("exp_agree").cast("double")
            / (col("n_docs") * col("n_docs")).cast("double"))).as("kappa"))
  }

  /** q_cronbach_alpha: Cronbach's α internal-consistency audit over the
    * quality classifier's four structural features ([[logisticFeaturesDf]]
    * items: stopword ratio, capped length, dup-word fraction, |awl−5|) —
    * do the features measure ONE latent "quality" construct, or is the
    * classifier summing unrelated signals? α = k/(k−1)·(1 − Σvarᵢ/var_total)
    * with population variances; var_total > 0 guarded per the module
    * convention. A low α here is the standard prompt to re-weight or drop
    * a feature before retraining ([[qualityTrain]]).
    * Scale shape: the one feature pass the classifier family already
    * runs, then a single 10-sum aggregate — nothing after the feature
    * join exceeds one row. */
  def cronbachAlpha(spark: SparkSession, dir: String): DataFrame = {
    val f = logisticFeaturesDf(Tables.documents(spark, dir))
      .select(col("doc_id"), col("swr").as("x1"),
        least(col("n_toks") / 100.0, lit(1.0)).as("x2"),
        col("dupfrac").as("x3"), abs(col("awl") - 5.0).as("x4"))
    def popVar(c: Column): Column = (avg(c * c) - avg(c) * avg(c))
    val m = f.agg(count(lit(1)).as("n_docs"),
      popVar(col("x1")).as("v1"), popVar(col("x2")).as("v2"),
      popVar(col("x3")).as("v3"), popVar(col("x4")).as("v4"),
      popVar(col("x1") + col("x2") + col("x3") + col("x4")).as("vt"))
    m.select(col("n_docs"), lit(4).as("k_items"),
      stableRound4(col("v1") + col("v2") + col("v3") + col("v4"))
        .as("sum_item_var"),
      stableRound4(col("vt")).as("total_var"),
      stableRound4(when(col("vt") > 0,
        (lit(4.0) / 3.0) * (lit(1.0)
          - (col("v1") + col("v2") + col("v3") + col("v4")) / col("vt"))))
        .as("alpha"))
  }

  /** q_entropy_rate: conditional bigram entropy H(next|prev) of the
    * corpus token stream — the entropy-RATE companion to
    * [[tokenEntropy]]'s unigram view and the model-free floor for the
    * perplexity any LM ([[knTrigram]]) can reach on this corpus:
    * H = −Σ_{ab} p(ab)·log₂ p(b|a) over within-doc consecutive pairs.
    * Bigram pairs come from one array zip (no self-join — each doc emits
    * its own adjacent pairs); counts are exact integers and the final
    * sum runs over the ≤\|vocab\|² bigram-type table (the closed-vocab
    * fixture caps it at 31² = 961 rows at any corpus size).
    * Scale shape: one explode + two partial-aggregated groupBys, then a
    * bounded rollup. */
  def entropyRate(spark: SparkSession, dir: String): DataFrame = {
    val pairs = Tables.documents(spark, dir)
      .select(tokensLower(col("text")).as("toks"))
      .filter(size(col("toks")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, size(toks) - 1), " +
          "i -> struct(toks[i - 1] AS w1, toks[i] AS w2))")).as("p"))
      .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
    val bg = pairs.groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).cast("bigint").as("c"))
    val un = bg.groupBy(col("w1")).agg(sum(col("c")).cast("bigint").as("cu"))
    val tot = bg.agg(sum(col("c")).cast("bigint").as("n"))
    bg.join(un, Seq("w1")).crossJoin(broadcast(tot))
      .groupBy(col("n"))
      .agg(count(lit(1)).cast("bigint").as("n_bigram_types"),
        stableRound4(-sum((col("c").cast("double") / col("n"))
          * log2(col("c").cast("double") / col("cu")))).as("entropy_rate"))
      .select(col("n").as("n_pairs"), col("n_bigram_types"),
        col("entropy_rate"))
  }

  /** q_hapax: average within-document hapax-legomena ratio per source —
    * the fraction of a document's DISTINCT tokens that occur exactly
    * once in it, the classic productivity/diversity signal
    * ([[typeTokenRatio]]'s companion; corpus-level hapax saturates to
    * zero on the closed
    * synthetic vocabulary, so the declared form is the per-doc ratio,
    * which stays live — the round-12 saturation lesson applied).
    * Scale shape (round 16): the ratio is WITHIN-document, so it needs no
    * cross-row state at all — the round-15 explode + two corpus-sized
    * hash aggregations (8-core sweep: 4.6 s) are replaced by one per-row
    * array expression over the sorted token array (a token is a hapax iff
    * it differs from both sorted neighbors; distinct = \|array_distinct\|,
    * the identical integer counts the (doc, token) rollup produced), then
    * the same \|sources\| rollup. Zero token-level shuffles; the only
    * exchange left is the \|sources\|-key aggregate. Docs with no tokens
    * are filtered exactly as the explode dropped them. */
  def hapaxRatio(spark: SparkSession, dir: String): DataFrame =
    Spread(Tables.documents(spark, dir).select(col("source"), col("text")))
      .select(col("source"), tokensLower(col("text")).as("toks"))
      .filter(size(col("toks")) > 0)
      // bind the sorted array to a column FIRST: referencing
      // array_sort(...) inside the filter lambda would re-sort per element
      .select(col("source"), array_sort(col("toks")).as("s"),
        size(col("toks")).as("n"),
        size(array_distinct(col("toks"))).as("n_distinct"))
      .select(col("source"), expr(
        // sorted neighbors: position i (1-based) is a run of length 1 —
        // a hapax — iff it differs from both i-1 and i+1
        """CAST(size(filter(sequence(1, n),
          |  i -> (i = 1 OR element_at(s, i) != element_at(s, i - 1))
          |   AND (i = n OR element_at(s, i) != element_at(s, i + 1))))
          |  AS DOUBLE) / n_distinct""".stripMargin).as("hr"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        stableRound4(avg(col("hr"))).as("avg_hapax_ratio"))
      .orderBy(col("source"))

  /** q_char_profile: character-class composition per source — letter,
    * whitespace and vowel-within-letters ratios from exact per-doc
    * regexp counts (integer sums until the three final divisions). The
    * cheap charset-drift screen a crawl pipeline runs before language
    * ID: a slice whose letter ratio collapses is markup/binary
    * contamination regardless of what [[langId]] says. The synthetic
    * corpus is closed lowercase-ASCII (upper/digit classes saturate at
    * zero — the round-12 closed-vocabulary lesson), so the declared
    * profile keeps only the three classes with live variance.
    * Scale shape: one narrow scan with per-row regexp counts, one
    * \|sources\|-group aggregation. */
  def charProfile(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("source"), length(col("text")).as("n_all"),
        length(regexp_replace(col("text"), "[^a-z]", "")).as("n_letter"),
        length(regexp_replace(col("text"), "[^ ]", "")).as("n_space"),
        length(regexp_replace(col("text"), "[^aeiou]", "")).as("n_vowel"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_all")).cast("bigint").as("n_chars"),
        stableRound4(sum(col("n_letter")).cast("double") / sum(col("n_all")))
          .as("letter_ratio"),
        stableRound4(sum(col("n_space")).cast("double") / sum(col("n_all")))
          .as("space_ratio"),
        stableRound4(when(sum(col("n_letter")) > 0,
          sum(col("n_vowel")).cast("double") / sum(col("n_letter"))))
          .as("vowel_ratio"))
      .orderBy(col("source"))
}
