package graft.llm

import graft.U
import graft.llm.TextUtil._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** SURVEY.md §2.10 — text analysis over the `documents` corpus: tokenize/TF,
  * TF-IDF, corpus quality stats, stopword-list language ID, token counting
  * (whitespace + BPE-ish regex), and rolling-hash fingerprints.
  *
  * All token math stays in integer domains (counts, poly-hashes); the only
  * floats are final divisions/ln with identical operand trees both engines
  * (ln rounded to 6 to absorb libm ulp skew). Every shape is
  * explode→hash-aggregate: one shuffle keyed by token/doc, partial combine
  * on the map side — linear scale-out over corpus size.
  */
object TextAnalysis {

  private def docs(s: SparkSession, d: String) = U.tbl(s, d, "documents")

  private def tokenizeTf(s: SparkSession, d: String): DataFrame =
    docs(s, d)
      .select(col("doc_id"), explode(tokens(col("text"))).as("token"))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("tf"), countDistinct(col("doc_id")).as("df"))
      .orderBy("token")

  private def tfidf(s: SparkSession, d: String): DataFrame = {
    val tok = docs(s, d)
      .select(col("doc_id"), explode(tokens(col("text"))).as("token"))
    val tf = tok.groupBy(col("doc_id"), col("token")).agg(count(lit(1)).as("tf"))
    // df from tf (distinct pairs already) — one tokenize pass, no distinct
    // agg; same ReusedExchange collapse as keywordExtract
    val df = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
    val n = docs(s, d).agg(count(lit(1)).as("n_docs"))
    tf.join(df, "token").crossJoin(broadcast(n))
      .select(col("doc_id"), col("token"), col("tf"),
        round(col("tf").cast(DoubleType) *
          round(log(col("n_docs").cast(DoubleType) / col("df").cast(DoubleType)), 6), 6)
          .as("tfidf"))
      .orderBy("doc_id", "token")
  }

  /** BM25 relevance of every document against a fixed 3-term query — the
    * standard retrieval scorer a curation pipeline uses to rank documents
    * against a topic probe (k₁=1.2, b=0.75). Exactness: avgdl enters as
    * the exact rational dl·N/Σdl (never a pre-divided float), every
    * mixed-type op keeps a DOUBLE operand (DuckDB would otherwise slip
    * bigint+0.5 into DECIMAL), and each (doc, term) score floors to
    * integer micro-units BEFORE the per-doc sum — the micro-nat
    * discipline, so partial-aggregation order cannot matter. Classic BM25
    * goes negative for terms in more than half the corpus — kept as-is,
    * deterministically, in both engines. Two token-pass hash aggs + one
    * broadcast of the |terms| df frame; the tf⋈dl join keys on doc_id. */
  private def bm25(s: SparkSession, d: String): DataFrame = {
    val tok = docs(s, d)
      .select(col("doc_id"), explode(tokens(col("text"))).as("token"))
    val dl = docs(s, d).select(col("doc_id"),
      size(tokens(col("text"))).cast(LongType).as("dl"))
    val stats = dl.agg(count(lit(1)).as("n"), sum(col("dl")).as("sdl"))
    val tf = tok.filter(col("token").isin("spark", "query", "table"))
      .groupBy(col("doc_id"), col("token")).agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
    tf.join(broadcast(df), "token")
      .join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .withColumn("term_micro", expr(
        "CAST(floor(1000000.0 * (" +
          "ln((CAST(n AS DOUBLE) - df + 0.5) / (CAST(df AS DOUBLE) + 0.5)) * " +
          "(CAST(tf AS DOUBLE) * 2.2) / " +
          "(CAST(tf AS DOUBLE) + 1.2 * (0.25 + 0.75 * " +
          "(CAST(dl AS DOUBLE) * n / sdl))))) AS BIGINT)"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_terms_hit"),
        (sum(col("term_micro")).cast(DoubleType) / lit(1000000.0)).as("bm25"))
      .orderBy("doc_id")
  }

  private def qualityStats(s: SparkSession, d: String): DataFrame =
    docs(s, d)
      .withColumn("n_tokens", size(tokens(col("text"))).cast(LongType))
      .withColumn("n_alpha", length(regexp_replace(col("text"), " ", "")).cast(LongType))
      .groupBy(col("lang"), col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"),
        (sum(col("n_chars")).cast(DoubleType) / count(lit(1))).as("avg_chars"),
        (sum(col("n_tokens")).cast(DoubleType) / count(lit(1))).as("avg_tokens"),
        (sum(col("n_alpha")).cast(DoubleType) / sum(col("n_tokens")).cast(DoubleType))
          .as("avg_token_len"),
        (sum(when(col("n_chars") < 200, 1L).otherwise(0L)).cast(DoubleType) /
          count(lit(1))).as("short_ratio"))
      .orderBy("lang", "source")

  /** Stopword-list language scoring: count hits per language word-list,
    * argmax with a fixed tie order. (The fixture vocab is shared across
    * langs, so this exercises the machinery, not linguistics.) */
  /** Per-doc language guess frame (doc_id, lang, marker scores, guess) —
    * shared by [[langid]]'s listing and [[langidConfusion]]'s evaluation
    * so the classifier and its gate cannot drift. */
  private def langidGuess(s: SparkSession, d: String): DataFrame = {
    val t = tokens(col("text"))
    val sEn = size(filter(t, x => x.isin("scan", "filter", "join"))).cast(LongType)
    val sFr = size(filter(t, x => x.isin("table", "row", "value"))).cast(LongType)
    val sDe = size(filter(t, x => x.isin("hash", "merge", "batch"))).cast(LongType)
    docs(s, d).select(col("doc_id"), col("lang"),
      sEn.as("s_en"), sFr.as("s_fr"), sDe.as("s_de"))
      .withColumn("guess",
        when(col("s_en") >= col("s_fr") && col("s_en") >= col("s_de"), "en")
          .when(col("s_fr") >= col("s_de"), "fr").otherwise("de"))
  }

  private def langid(s: SparkSession, d: String): DataFrame =
    langidGuess(s, d).orderBy("doc_id")

  /** Confusion matrix of the n-gram language guesser against the corpus's
    * ground-truth lang column — the classifier QUALITY gate, measured not
    * assumed: per (actual, guessed) cell counts plus each cell's share of
    * its actual-language row in exact micro-units. The heuristic's error
    * structure (which languages it confuses) is the decision surface for
    * whether it can gate a crawl at 100 TB. */
  private def langidConfusion(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("lang"))
    langidGuess(s, d)
      .groupBy(col("lang"), col("guess")).agg(count(lit(1)).as("n_docs"))
      .withColumn("row_total", sum(col("n_docs")).over(w))
      .select(col("lang"), col("guess"), col("n_docs"),
        expr("(1000000 * n_docs) DIV row_total").as("row_share_micro"),
        (col("lang") === col("guess")).as("correct"))
      .orderBy("lang", "guess")
  }

  private def tokenCount(s: SparkSession, d: String): DataFrame =
    docs(s, d).select(col("doc_id"),
      size(tokens(col("text"))).cast(LongType).as("n_ws"),
      regexp_count(col("text"), lit("[a-z]+|[0-9]+|[^a-z0-9 ]")).cast(LongType)
        .as("n_bpe"),
      size(array_distinct(tokens(col("text")))).cast(LongType).as("n_distinct"))
      .orderBy("doc_id")

  /** Rolling-hash fingerprints: whole-text polynomial hash + min token hash
    * (a 1-permutation MinHash). */
  private def fingerprint(s: SparkSession, d: String): DataFrame =
    docs(s, d).select(col("doc_id"),
      graft.plans.CustomExprs.poly_hash(col("text"), 7L).as("text_hash"),
      array_min(graft.plans.CustomExprs.poly_hash_array(tokens(col("text")), 13L))
        .as("min_token_hash"))
      .orderBy("doc_id")

  /** Unigram log-prob quality score per doc (the perplexity-style rung of
    * corpus quality filtering): avg over tokens of ln(corpus_tf/total).
    * The per-token log-prob is floored to INTEGER MICRO-NATS before the
    * per-doc sum — double addition is not associative, so summing raw
    * doubles would make the result partial-aggregation-order-dependent;
    * the integer sum is exact and engine-identical, with one final
    * division back to doubles. */
  private def unigramLp(s: SparkSession, d: String): DataFrame = {
    // the exploded token frame feeds three consumers (tf, total, join-back)
    // — persist it once instead of re-tokenizing the corpus per consumer
    val tok = U.track(docs(s, d)
      .select(col("doc_id"), explode(tokens(col("text"))).as("token"))
      .persist())
    val tf = tok.groupBy(col("token")).agg(count(lit(1)).as("ctf"))
    val tot = tok.agg(count(lit(1)).as("n_total"))
    tok.join(tf, "token").crossJoin(broadcast(tot))
      .withColumn("lp_micro",
        floor(log(col("ctf").cast(DoubleType) / col("n_total").cast(DoubleType)) *
          lit(1000000.0)).cast(LongType))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("lp_micro")).as("sum_lp_micro"))
      .withColumn("avg_logprob",
        col("sum_lp_micro").cast(DoubleType) / (lit(1000000.0) * col("n_tokens")))
      .orderBy("doc_id")
  }

  /** Bigram conditional log-prob score per doc (the next rung above
    * [[unigramLp]]): avg over positions of ln(c(w1,w2)/c(w1 as prefix)),
    * MLE-conditional on the corpus' own bigram table. Bigrams stay (w1,w2)
    * pairs — no string re-concatenation, so tokens containing any
    * delimiter can't alias. Same integer micro-nat doctrine as unigramLp;
    * docs with fewer than 2 tokens have no bigrams and drop out on both
    * engines. */
  private def bigramLp(s: SparkSession, d: String): DataFrame = {
    val base = docs(s, d)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
    // three consumers (bigram counts, prefix counts, join-back) — persist
    // the exploded pair frame once instead of re-tokenizing per consumer.
    // (Measured dead end: pre-aggregating per-(doc, bigram) multiplicities
    // so the counts cascade from shrinking aggregates benched 2x SLOWER at
    // sf0.1 — natural-text bigrams are near-unique within a doc, so the
    // extra wide-string-key shuffle buys nothing.)
    val pairs = U.track(base
      .select(col("doc_id"), explode(tokenPairs(col("toks"), 1)).as("bg"))
      .select("doc_id", "bg.*")
      .persist())
    val cBg = pairs.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("cb"))
    val cPrefix = pairs.groupBy(col("w1")).agg(count(lit(1)).as("cp"))
    pairs.join(cBg, Seq("w1", "w2")).join(cPrefix, Seq("w1"))
      .withColumn("lp_micro",
        floor(log(col("cb").cast(DoubleType) / col("cp").cast(DoubleType)) *
          lit(1000000.0)).cast(LongType))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("lp_micro")).as("sum_lp_micro"))
      .withColumn("avg_logprob",
        col("sum_lp_micro").cast(DoubleType) / (lit(1000000.0) * col("n_bigrams")))
      .orderBy("doc_id")
  }

  /** Denylist redaction (the PII/blocked-term scrub rung): replace every
    * whole-word denylist hit with a placeholder, count hits per doc. Pure
    * per-row regex projection — embarrassingly parallel, pushdown-friendly.
    * DuckDB's regexp_replace needs the 'g' flag to match Spark's
    * replace-all; counting mirrors the text_token_count precedent. */
  private def redact(s: SparkSession, d: String): DataFrame = {
    val pat = "\\b(customer|key)\\b"
    docs(s, d).select(col("doc_id"),
      regexp_replace(col("text"), pat, "[REDACTED]").as("redacted"),
      regexp_count(col("text"), lit(pat)).cast(LongType).as("n_redacted"))
      .orderBy("doc_id")
  }

  /** Winnowing fingerprints (the MOSS document-fingerprint scheme): hash
    * every POSITIONAL 3-gram shingle (duplicates kept — order matters,
    * unlike the dedup family's distinct shingle sets), then keep the min
    * hash of each sliding window of 4 — guarantees any shared run of >= 6
    * tokens shares a fingerprint, with ~1/4 the storage of full shingling.
    * All-array per-row ops: no shuffle until the output sort. */
  private def winnowing(s: SparkSession, d: String): DataFrame =
    docs(s, d)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= 6) // need >= 4 shingles for one window
      .withColumn("fps", graft.plans.CustomExprs.window_min_distinct(
        graft.plans.CustomExprs.poly_hash_array(
          graft.plans.CustomExprs.spans_w(col("toks"), 3, "_"), 13L), 4))
      .select(col("doc_id"), size(col("fps")).cast(LongType).as("n_fps"),
        array_min(col("fps")).as("min_fp"), array_max(col("fps")).as("max_fp"))
      .orderBy("doc_id")

  /** Gopher-style repetition quality signals per doc: duplicate-token
    * ratio (1 − distinct/total, in integer micro-units), the most frequent
    * token's count, and the most frequent word-bigram's count — the
    * repetition filters every corpus-quality pass runs (heavily repeated
    * text is boilerplate or spam). Entirely per-row array arithmetic
    * (each top count is one codegen'd hash count, `CustomExprs.max_freq`:
    * linear in tokens-per-doc and in docs), so the whole query is a
    * shuffle-free projection at any corpus size.
    * Docs under 2 tokens are filtered BEFORE the ratio division — ANSI
    * mode evaluates expressions on semantically-unreachable rows. */
  private def repetition(s: SparkSession, d: String): DataFrame =
    docs(s, d)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= 2)
      .withColumn("n_tokens", size(col("toks")).cast(LongType))
      .withColumn("n_distinct", size(array_distinct(col("toks"))).cast(LongType))
      .withColumn("top_token", graft.plans.CustomExprs.max_freq(col("toks")))
      .withColumn("top_bigram", graft.plans.CustomExprs.max_freq(
        graft.plans.CustomExprs.spans_w(col("toks"), 2, "_")))
      .select(col("doc_id"), col("n_tokens"), col("n_distinct"),
        expr("((n_tokens - n_distinct) * 1000000) DIV n_tokens").as("dup_micro"),
        col("top_token"), col("top_bigram"))
      .orderBy("doc_id")

  /** First-occurrence shingle novelty per doc (the incremental-crawl
    * curation signal: how much of this document's content is new to the
    * corpus in doc_id order): each distinct 3-gram shingle is owned by the
    * minimum doc_id containing it; a doc's novelty is the fraction of its
    * shingles it owns. Explode → min-agg → join-back, all keyed on the
    * shingle — two linear hash shuffles, the dedup family's shape, fed
    * from [[Dedup.shingled]]'s per-(session, sfDir) cache so the corpus
    * is shingled once per JVM across the whole dedup/novelty family. */
  private def novelty(s: SparkSession, d: String): DataFrame = {
    val sh = Dedup.shingled(s, d)
      .select(col("doc_id"), explode(col("ss")).as("sh"))
    val first = sh.groupBy(col("sh")).agg(min(col("doc_id")).as("first_doc"))
    sh.join(first, "sh")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
          .as("n_novel"))
      .select(col("doc_id"), col("n_shingles"), col("n_novel"),
        expr("(n_novel * 1000000) DIV n_shingles").as("novelty_micro"))
      .orderBy("doc_id")
  }

  /** Per-doc keyword extraction: [[tfidf]]'s scoring reduced to each doc's
    * top-3 terms (rank by 6-dp-rounded tf-idf, token tiebreak => total
    * deterministic order both engines). At scale the per-doc top-k runs
    * through bounded heaps (GroupedTopK shape), not a full per-doc sort. */
  private def keywordExtract(s: SparkSession, d: String): DataFrame = {
    val tok = docs(s, d)
      .select(col("doc_id"), explode(tokens(col("text"))).as("token"))
    val tf = tok.groupBy(col("doc_id"), col("token")).agg(count(lit(1)).as("tf"))
    // df derives from tf — its (doc_id, token) rows are distinct already,
    // so this is a plain count (no distinct agg) and the second tokenize
    // pass disappears: the identical tf aggregate subplan on both branches
    // collapses to one ReusedExchange at runtime
    val dfq = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
    val n = docs(s, d).agg(count(lit(1)).as("n_docs"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("tfidf").desc, col("token"))
    tf.join(dfq, "token").crossJoin(broadcast(n))
      .select(col("doc_id"), col("token"),
        round(col("tf").cast(DoubleType) *
          round(log(col("n_docs").cast(DoubleType) / col("df").cast(DoubleType)), 6), 6)
          .as("tfidf"))
      .withColumn("rank", row_number().over(w).cast(LongType))
      .filter(col("rank") <= 3)
      .orderBy("doc_id", "rank")
  }

  /** Pointwise mutual information of adjacent word pairs (the collocation
    * detector — which bigrams are "phrases" rather than chance adjacency):
    * pmi(w1,w2) = ln(p(w1,w2) / (p(w1)·p(w2))), restricted to pairs seen
    * ≥ 5 times. All counts are exact integers; the single ln argument is
    * one rational built with an identical operand tree both engines, and
    * the result floors to integer MICRO-NATS (the [[unigramLp]] doctrine),
    * so ordering is total and engine-stable. The unigram/bigram count
    * aggregations are the same explode→hash-agg shuffles as the LM scores;
    * the two corpus totals ride in as broadcast scalar frames. */
  private def pmi(s: SparkSession, d: String): DataFrame = {
    val base = docs(s, d).select(col("doc_id"), tokens(col("text")).as("toks"))
    val tok = base.select(explode(col("toks")).as("token"))
    val uni = tok.groupBy(col("token")).agg(count(lit(1)).as("c1"))
    val nu = tok.agg(count(lit(1)).as("n_uni"))
    val pairs = base.select(explode(tokenPairs(col("toks"), 1)).as("bg"))
      .select("bg.*")
    val nb = pairs.agg(count(lit(1)).as("n_bg"))
    val cBg = pairs.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("cb"))
      .filter(col("cb") >= 5)
    cBg.join(uni.select(col("token").as("w1"), col("c1").as("ca")), Seq("w1"))
      .join(uni.select(col("token").as("w2"), col("c1").as("cc")), Seq("w2"))
      .crossJoin(broadcast(nu)).crossJoin(broadcast(nb))
      .select(col("w1"), col("w2"), col("cb"),
        expr("CAST(floor(ln((CAST(cb AS DOUBLE) * n_uni * n_uni) / " +
          "(CAST(n_bg AS DOUBLE) * ca * cc)) * 1000000.0) AS BIGINT)")
          .as("pmi_micro"))
      .orderBy(col("pmi_micro").desc, col("w1"), col("w2"))
  }

  /** Bigram Kneser–Ney smoothing — THE n-gram LM estimator (absolute
    * discount d = 3/4 with continuation-probability backoff; the
    * [[bigramLp]] MLE assigns unseen bigrams −∞, KN is what production
    * n-gram LMs actually ship): for each bigram seen ≥ 5 times,
    * P_KN(w2|w1) = max(c₁₂ − d, 0)/c₁· + d·N₁₊(w1,•)/c₁· · P_cont(w2)
    * with P_cont(w2) = N₁₊(•,w2)/N₁₊(••). Everything stays exact
    * integers: d = 3/4 enters by the ×4 clearing (max(4c₁₂ − 3, 0)), the
    * three probabilities ship as explicit micro DIV trees mirrored
    * operand-for-operand in the oracle (sum-of-two-DIVs is the DECLARED
    * quantization, identical both engines), and every input is a count.
    * Shapes: one bigram explosion + four hash aggs — token-key shuffles;
    * the two scalar totals broadcast. */
  private def kneserNey(s: SparkSession, d: String): DataFrame = {
    val base = docs(s, d).select(tokens(col("text")).as("toks"))
    kneserNeyOn(base.select(explode(tokenPairs(col("toks"), 1)).as("bg"))
      .select("bg.*"), 5L)
  }

  /** The Kneser–Ney kernel over any (w1, w2) bigram-occurrence frame —
    * shared by the declared query and
    * [[graft.api.GraftApi.kneserNey]]. `minCount` is the caller's
    * bigram-count floor (the declared query's 5). */
  private[graft] def kneserNeyOn(bg: DataFrame, minCount: Long): DataFrame = {
    val pairs = U.track(bg.persist())
    val cBg = pairs.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("cb"))
    val cPrefix = pairs.groupBy(col("w1")).agg(count(lit(1)).as("c1"),
      countDistinct(col("w2")).as("n1_fwd"))
    val cont = pairs.select(col("w1"), col("w2")).distinct()
      .groupBy(col("w2")).agg(count(lit(1)).as("n1_back"))
    val nTypes = pairs.select(col("w1"), col("w2")).distinct()
      .agg(count(lit(1)).as("n_types"))
    cBg.filter(col("cb") >= minCount)
      .join(cPrefix, Seq("w1"))
      .join(cont, Seq("w2"))
      .crossJoin(broadcast(nTypes))
      .withColumn("pcont_micro",
        expr("(1000000 * n1_back) DIV n_types"))
      .select(col("w1"), col("w2"), col("cb"), col("c1"), col("n1_fwd"),
        col("n1_back"), col("pcont_micro"),
        expr("(1000000 * greatest(4 * cb - 3, 0)) DIV (4 * c1) + " +
          "(3 * n1_fwd * pcont_micro) DIV (4 * c1)").as("pkn_micro"))
      .orderBy("w1", "w2")
  }

  /** Perplexity quality filter (the CCNet/Gopher LM-filter rung): each
    * document's bigram cross-entropy under the SHARED [[kneserNey]] model
    * — ONE model definition (this calls the declared query's builder;
    * the oracle nests the same KN CTE chain), so filter and model cannot
    * drift. Per doc: every adjacent bigram left-joins the model; covered
    * bigrams contribute floor(ln(10⁶ / max(pkn_micro, 1)) · 10⁶)
    * micro-nats (one ln of an exact rational — the §5-safe call; pkn ≤
    * 10⁶ so every term is ≥ 0), uncovered bigrams are counted but not
    * scored (coverage ships beside the score — a doc the model has never
    * seen is a coverage signal, not a zero-perplexity pass). The verdict:
    * keep = avg micro-nats ≤ the corpus average (both sides the same DIV
    * quantization), NULL when nothing scored — low cross-entropy means
    * the doc looks like the corpus the model was trained on, exactly the
    * CCNet selection direction. Scale shape: token-key shuffles for the
    * model (vocabulary-bounded, minCount-floored), one doc_id hash agg
    * for the scores, and the corpus threshold rides in as a 1-row
    * broadcast scalar — nothing is ever corpus². */
  private def perplexityFilter(s: SparkSession, d: String): DataFrame =
    perplexityFilterOn(docs(s, d).select(col("doc_id"), col("text")))

  /** The perplexity-filter kernel over any (doc_id, text) frame — shared
    * by the declared query and [[graft.api.GraftApi.perplexityFilter]].
    * Trains the KN model on the SAME frame through [[kneserNeyOn]]
    * (minCount 5, the declared query's floor), so the model is always
    * the corpus's own — the self-scoring CCNet shape. */
  private[graft] def perplexityFilterOn(docsDf: DataFrame): DataFrame = {
    val bg = U.track(docsDf
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"), explode(tokenPairs(col("toks"), 1)).as("bg"))
      .select("doc_id", "bg.*")
      .persist())
    val model = kneserNeyOn(bg.select(col("w1"), col("w2")), 5L)
      .select(col("w1"), col("w2"), col("pkn_micro"))
    val scored = bg.join(model, Seq("w1", "w2"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(when(col("pkn_micro").isNotNull, 1L).otherwise(0L))
          .as("n_scored"),
        sum(when(col("pkn_micro").isNotNull,
            expr("CAST(floor(ln(1000000.0 / greatest(pkn_micro, 1)) * " +
              "1000000.0) AS BIGINT)"))
          .otherwise(0L)).as("nll_sum_micro"))
    val thr = scored.agg(sum(col("nll_sum_micro")).as("tot_nll"),
      sum(col("n_scored")).as("tot_n"))
    docsDf.select(col("doc_id"))
      .join(scored, Seq("doc_id"), "left")
      .crossJoin(broadcast(thr))
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("n_scored"), lit(0L)).as("n_scored"),
        coalesce(col("nll_sum_micro"), lit(0L)).as("nll_sum_micro"),
        expr("CASE WHEN coalesce(n_scored, 0) > 0 " +
          "THEN nll_sum_micro DIV n_scored END").as("avg_nll_micro"),
        expr("tot_nll DIV tot_n").as("corpus_avg_micro"),
        expr("CASE WHEN coalesce(n_scored, 0) > 0 THEN " +
          "(nll_sum_micro DIV n_scored) <= (tot_nll DIV tot_n) END")
          .as("keep"))
      .orderBy("doc_id")
  }

  /** HTML boilerplate stripping — the text-EXTRACTION rung every
    * web-corpus pipeline runs before any quality filter (the simplified
    * trafilatura step): each doc is wrapped in a deterministic synthetic
    * HTML shell (title header, paragraph tags, an entity-escaped phrase,
    * a comment — the closed-form-fixture discipline of the multimodal
    * codecs, since no raw-HTML column exists), and the operator under
    * test strips comments then tags, unescapes the four core entities,
    * collapses whitespace and trims. Output ships tag/entity counts and
    * the recovered text; Round14Spec pins the ROUNDTRIP law (recovered
    * text = a closed-form normalization of the original). Pure per-row
    * projection — zero shuffles before the output sort. */
  private def htmlStrip(s: SparkSession, d: String): DataFrame = {
    val html = concat(lit("<html><head><title>Doc "), col("doc_id"),
      lit("</title></head><body><h1>Doc "), col("doc_id"),
      lit("</h1><p>"),
      regexp_replace(col("text"), "data", "&quot;data&quot;"),
      lit("</p><!-- footer --><div class=\"nav\">menu &amp; links</div>" +
        "</body></html>"))
    docs(s, d).select(col("doc_id"), html.as("html"))
      .withColumn("no_comment",
        regexp_replace(col("html"), "<!--.*?-->", " "))
      .withColumn("n_tags",
        regexp_count(col("no_comment"), lit("<[^>]*>")).cast(LongType))
      .withColumn("stripped",
        regexp_replace(col("no_comment"), "<[^>]*>", " "))
      .withColumn("n_entities",
        regexp_count(col("stripped"),
          lit("&(quot|amp|lt|gt);")).cast(LongType))
      .withColumn("clean", trim(regexp_replace(
        regexp_replace(regexp_replace(regexp_replace(regexp_replace(
          col("stripped"), "&quot;", "\""), "&amp;", "&"), "&lt;", "<"),
          "&gt;", ">"),
        "\\s+", " ")))
      .select(col("doc_id"), col("n_tags"), col("n_entities"),
        length(col("clean")).cast(LongType).as("clean_len"), col("clean"))
      .orderBy("doc_id")
  }

  /** Distinct-n diversity per source (the generation-diversity metric —
    * distinct-1/distinct-2 of Li et al.: distinct n-grams over total
    * n-grams; templated or mode-collapsed text craters it while natural
    * text stays high): exact token/bigram counts and distinct counts per
    * source, ratios in integer micro via DIV. Two explode→hash-agg
    * passes, taxonomy-bounded output. */
  private def distinctN(s: SparkSession, d: String): DataFrame = {
    val base = docs(s, d)
      .select(col("source"), tokens(col("text")).as("toks"))
    val uni = base.select(col("source"), explode(col("toks")).as("g"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n1"), countDistinct(col("g")).as("d1"))
    val bi = base.select(col("source"),
        explode(graft.plans.CustomExprs.spans_w(col("toks"), 2, "_")).as("g"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n2"), countDistinct(col("g")).as("d2"))
    uni.join(bi, Seq("source"))
      .select(col("source"), col("n1"), col("d1"), col("n2"), col("d2"),
        expr("(1000000 * d1) DIV n1").as("distinct1_micro"),
        expr("(1000000 * d2) DIV n2").as("distinct2_micro"))
      .orderBy("source")
  }

  /** Skip-gram PMI within a ±2 window — the word2vec/SGNS co-occurrence
    * statistic ([[pmi]]'s adjacent bigrams detect PHRASES; this unordered
    * window-2 table is the distributional signal embeddings train on):
    * every position pair |i−j| ∈ {1, 2} contributes both directions (the
    * SGNS objective is symmetric), counts stay exact integers, and
    * pmi = ln(c_xy·N_uni² / (N_sg·c_x·c_y)) ships floored to micro-nats
    * through ONE ln of a rational with the identical operand tree both
    * engines (the unigramLp doctrine). Pairs seen < 10 times filter out,
    * bounding the table by the heavy vocab² head, not the corpus. Shapes:
    * two offset projections + hash aggs — token-key shuffles only. */
  private def skipgramPmi(s: SparkSession, d: String): DataFrame = {
    val base = U.track(docs(s, d)
      .select(tokens(col("text")).as("toks")).persist())
    val tok = base.select(explode(col("toks")).as("token"))
    val uni = tok.groupBy(col("token")).agg(count(lit(1)).as("c1"))
    val nu = tok.agg(count(lit(1)).as("n_uni"))
    def offPairs(off: Int): DataFrame = base
      .select(explode(tokenPairs(col("toks"), off)).as("p"))
      .select(col("p.w1").as("wa"), col("p.w2").as("wb"))
    val dir = offPairs(1).unionByName(offPairs(2))
    val sym = dir.unionByName(
      dir.select(col("wb").as("wa"), col("wa").as("wb")))
    val nsg = sym.agg(count(lit(1)).as("n_sg"))
    val cSg = sym.groupBy(col("wa"), col("wb"))
      .agg(count(lit(1)).as("cb")).filter(col("cb") >= 10)
    cSg
      .join(uni.select(col("token").as("wa"), col("c1").as("ca")), Seq("wa"))
      .join(uni.select(col("token").as("wb"), col("c1").as("cc")), Seq("wb"))
      .crossJoin(broadcast(nu)).crossJoin(broadcast(nsg))
      .select(col("wa").as("center"), col("wb").as("context"),
        col("cb").as("n_cooc"),
        expr("CAST(floor(ln((CAST(cb AS DOUBLE) * n_uni * n_uni) / " +
          "(CAST(n_sg AS DOUBLE) * ca * cc)) * 1000000.0) AS BIGINT)")
          .as("pmi_micro"))
      .orderBy(col("pmi_micro").desc, col("center"), col("context"))
  }

  /** Zipf rank-frequency fit over the top-1000 vocabulary (the corpus
    * health check — natural text slopes ≈ −1, templated/synthetic text
    * drifts): least-squares of ln(tf) on ln(rank). Both logs floor to
    * integer MICRO-NATS per term, the five power sums are exact int64
    * (micro-nat cross products of 1000 points stay < 2^57), and only the
    * final slope/intercept divisions re-enter doubles via the
    * covPowerSums-style shared operand tree. Top-1000 selection is a
    * TakeOrdered (no global sort), and the 1000-row ranking window is a
    * deliberate single partition. */
  private def zipf(s: SparkSession, d: String): DataFrame = {
    val tf = docs(s, d).select(explode(tokens(col("text"))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("tf"))
      .orderBy(col("tf").desc, col("token")).limit(1000)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("tf").desc, col("token"))
    val slope = "(CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy) / " +
      "(CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)"
    tf.withColumn("rank", row_number().over(w).cast(LongType))
      .select(
        expr("CAST(floor(ln(CAST(rank AS DOUBLE)) * 1000000.0) AS BIGINT)")
          .as("x"),
        expr("CAST(floor(ln(CAST(tf AS DOUBLE)) * 1000000.0) AS BIGINT)")
          .as("y"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum(col("y")).as("sy"), sum(expr("x * y")).as("sxy"),
        sum(expr("x * x")).as("sxx"))
      .select(col("n").as("n_terms"),
        expr(slope).as("zipf_slope"),
        expr(s"(CAST(sy AS DOUBLE) - ($slope) * sx) / n").as("zipf_intercept"))
  }

  /** Boilerplate-sentence detection (the C4/RefinedWeb cleaning step that
    * drops lines repeated verbatim across many pages): split each doc on
    * '. ', count each sentence's distinct-document frequency corpus-wide,
    * and report per doc how many of its sentences are shared by ≥ 5
    * documents, with the ratio floored to integer micro-units. Sentence
    * strings shuffle once for the frequency agg and once for the join-back
    * — at 100 TB the sentences would carry a poly-hash instead of the raw
    * string through the exchange (the [[graft.llm.Dedup]] digest
    * discipline), which changes bytes moved, not semantics. */
  private def boilerplate(s: SparkSession, d: String): DataFrame = {
    val sent = docs(s, d).select(col("doc_id"),
      explode(filter(split(col("text"), "\\. "), x => length(x) > 0))
        .as("sent"))
    val cnt = sent.groupBy(col("sent"))
      .agg(countDistinct(col("doc_id")).as("ndocs"))
    sent.join(cnt, Seq("sent"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_sent"),
        sum(when(col("ndocs") >= 5, 1L).otherwise(0L)).as("n_boiler"))
      .withColumn("boiler_micro", expr("(1000000 * n_boiler) DIV n_sent"))
      .orderBy("doc_id")
  }

  /** Gopher-style document quality rules (Rae et al. 2021's filter family,
    * re-expressed over this corpus's scale): per-doc token count, mean word
    * length, alphabetic-token fraction and stopword count, each compared
    * against a fixed band into a pass/fail flag, plus the conjunctive
    * `keep`. The thresholds are tuned to the fixture's distribution
    * (tokens 10–99, mean word length 3.7–5.3) so every flag has both
    * outcomes in the data. Pure per-row projection — no shuffle at any
    * corpus size; the ratios are single divisions of exact integers with
    * identical operand trees in both engines. */
  private[llm] def gopherRules(s: SparkSession, d: String): DataFrame =
    docs(s, d)
      .select(col("doc_id"), col("text"), tokens(col("text")).as("toks"))
      .withColumn("n_tokens", size(col("toks")).cast(LongType))
      .withColumn("word_chars",
        length(regexp_replace(col("text"), " ", "")).cast(LongType))
      .withColumn("n_alpha",
        size(filter(col("toks"), t => t.rlike("^[a-z]+$"))).cast(LongType))
      .withColumn("n_stop",
        size(filter(col("toks"), t => t.isin("the", "a"))).cast(LongType))
      .withColumn("mean_word_len",
        col("word_chars").cast(DoubleType) / col("n_tokens"))
      .withColumn("frac_alpha",
        col("n_alpha").cast(DoubleType) / col("n_tokens"))
      .withColumn("pass_len", col("n_tokens") >= 30)
      .withColumn("pass_word_len",
        col("mean_word_len") >= 4.0 && col("mean_word_len") <= 5.0)
      .withColumn("pass_alpha", col("frac_alpha") >= 0.8)
      .withColumn("pass_stop", col("n_stop") >= 2)
      .withColumn("keep", col("pass_len") && col("pass_word_len") &&
        col("pass_alpha") && col("pass_stop"))
      .select(col("doc_id"), col("n_tokens"), col("mean_word_len"),
        col("frac_alpha"), col("n_stop"), col("pass_len"),
        col("pass_word_len"), col("pass_alpha"), col("pass_stop"), col("keep"))
      .orderBy("doc_id")

  /** Flesch reading-ease per document — the classic readability score a
    * curation pipeline thresholds on. Syllables use the standard
    * vowel-group heuristic (maximal [aeiouy]+ runs over the lowercased
    * text — deterministic, no dictionary), sentences count [.!?]+ runs
    * clamped to >=1, words reuse the library tokenizer. The three counts
    * are exact integers; the score's double tree
    * (206.835 − 1.015·w/s − 84.6·syl/w) is mirrored token-for-token in
    * the oracle. Pure per-row projection: no shuffle before the sort. */
  private def readability(s: SparkSession, d: String): DataFrame =
    docs(s, d).select(col("doc_id"),
        size(tokens(col("text"))).cast(LongType).as("n_words"),
        greatest(regexp_count(col("text"), lit("[.!?]+")).cast(LongType),
          lit(1L)).as("n_sentences"),
        regexp_count(lower(col("text")), lit("[aeiouy]+")).cast(LongType)
          .as("n_syllables"))
      .filter(col("n_words") > 0)
      .withColumn("flesch",
        lit(206.835) -
          lit(1.015) * (col("n_words").cast(DoubleType) / col("n_sentences")) -
          lit(84.6) * (col("n_syllables").cast(DoubleType) / col("n_words")))
      .orderBy("doc_id")

  /** Lexical diversity per document: type count, type-token ratio and the
    * hapax-legomenon fraction (types used exactly once) — the vocabulary-
    * richness signal that separates word-soup spam from organic text.
    * Shape: explode → ONE shuffle on (doc_id, token) with map-side
    * combine, then a second doc_id-keyed agg that is shuffle-free (the
    * (doc_id, token) partitioning already co-locates each document). All
    * counts exact integers; the two ratios are single divisions. */
  private def ttr(s: SparkSession, d: String): DataFrame =
    docs(s, d)
      .select(col("doc_id"), explode(tokens(col("text"))).as("token"))
      .groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_types"), sum(col("c")).as("n_tokens"),
        sum(when(col("c") === 1, 1L).otherwise(0L)).as("n_hapax"))
      .select(col("doc_id"), col("n_tokens"), col("n_types"), col("n_hapax"),
        (col("n_types").cast(DoubleType) / col("n_tokens")).as("ttr"),
        (col("n_hapax").cast(DoubleType) / col("n_types")).as("hapax_frac"))
      .orderBy("doc_id")

  /** Source-level corpus overlap: Jaccard of each source pair's distinct
    * word-3-gram shingle sets — the contamination/mirror-site report run
    * before mixing corpora ("are src3 and src11 the same crawl?"). Rides
    * the SHARED codegen'd shingle cache (Dedup.shingled) — one distinct
    * (source, shingle) projection then feeds both the sizes and the
    * shingle-keyed pair join; posting lists are bounded by \|sources\|,
    * so the join fan-out per shingle is a constant, never corpus-scale.
    * The \|sources\|-row size frames broadcast (taxonomy bound). */
  private def sourceOverlap(s: SparkSession, d: String): DataFrame = {
    // ONE sg-keyed shuffle builds per-shingle source SETS (collect_set
    // dedups (source, sg) by construction, absorbing the former
    // distinct()'s exchange), and pairs explode MAP-SIDE from each set —
    // the coPairs idiom (r15, guide §2.3/§2.4): the previous shape
    // shuffled the distinct (source, shingle) frame once for distinct
    // and twice more through a shingle-keyed self-join. Posting lists
    // are bounded by |sources|, so the per-shingle fan-out stays
    // C(|sources|, 2) — a taxonomy constant at any corpus size.
    val bySg = U.track(Dedup.shingled(s, d)
      .join(docs(s, d).select(col("doc_id"), col("source")), "doc_id")
      .select(col("source"), explode(col("ss")).as("sg"))
      .groupBy(col("sg")).agg(collect_set(col("source")).as("srcs"))
      .persist())
    val sizes = bySg.select(explode(col("srcs")).as("source"))
      .groupBy(col("source")).agg(count(lit(1)).as("n_sh"))
    bySg
      .select(explode(col("srcs")).as("src_a"), col("srcs"))
      .select(col("src_a"), explode(col("srcs")).as("src_b"))
      .filter(col("src_a") < col("src_b"))
      .groupBy(col("src_a"), col("src_b")).agg(count(lit(1)).as("common"))
      .join(broadcast(sizes.select(col("source").as("sa"),
        col("n_sh").as("na"))), col("src_a") === col("sa"))
      .join(broadcast(sizes.select(col("source").as("sb"),
        col("n_sh").as("nb"))), col("src_b") === col("sb"))
      .select(col("src_a"), col("src_b"), col("na"), col("nb"), col("common"),
        (col("common").cast(DoubleType) /
          (col("na") + col("nb") - col("common"))).as("jaccard"))
      .orderBy("src_a", "src_b")
  }

  /** KL divergence of each source's unigram distribution from the corpus
    * — the outlier-source detector ("which crawl writes differently?").
    * Counts are exact integers from one (source, token) hash-agg; each
    * token's p·ln(p/q) term is MICRO-FLOORED before the per-source sum
    * (the agg_jsd discipline — never aggregate raw doubles), with the
    * log argument's cross products in Decimal(38,0)↔HUGEINT so the one
    * double cast rounds identically at any corpus size. Sources with
    * token mass absent from other sources cannot occur (q includes the
    * source itself), so every term is finite. */
  private def klSource(s: SparkSession, d: String): DataFrame = {
    val tok = U.track(docs(s, d)
      .select(col("source"), explode(tokens(col("text"))).as("token"))
      .groupBy(col("source"), col("token"))
      .agg(count(lit(1)).as("cs"))
      .persist())
    val corpus = tok.groupBy(col("token").as("t2"))
      .agg(sum(col("cs")).as("ca"))
    val ns = tok.groupBy(col("source").as("s2")).agg(sum(col("cs")).as("nsrc"))
    val nAll = tok.groupBy().agg(sum(col("cs")).as("nall"))
    tok.join(corpus, col("token") === col("t2"))
      .join(broadcast(ns), col("source") === col("s2"))
      .crossJoin(broadcast(nAll))
      .withColumn("term_micro", floor(
        col("cs").cast(DoubleType) / col("nsrc") *
          log(expr("CAST(CAST(cs AS DECIMAL(38,0)) * nall AS DOUBLE) / " +
            "CAST(CAST(ca AS DECIMAL(38,0)) * nsrc AS DOUBLE)")) *
          lit(1000000.0)).cast(LongType))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_types"), max(col("nsrc")).as("n_tokens"),
        sum(col("term_micro")).as("kl_micro"))
      .orderBy("source")
  }

  /** Token burstiness: the Fano factor (variance-to-mean ratio) of
    * per-document counts for the 20 highest-df tokens — a token that
    * appears uniformly (function word) scores ≈ its Bernoulli baseline;
    * a topical/boilerplate token CLUMPS and scores high. Zero-count docs
    * enter through the closed form (N·Σc² − (Σc)²)/(N·Σc) — no dense
    * doc×token frame ever exists. One (doc, token) hash-agg, one
    * per-token rollup, one TakeOrdered top-20 under a (df DESC, token)
    * total order; vmr ships in exact micro-units via the DECIMAL DIV
    * bridge. */
  private def burstiness(s: SparkSession, d: String): DataFrame = {
    val dec = DecimalType(38, 0)
    val tok = docs(s, d)
      .select(col("doc_id"), explode(tokens(col("text"))).as("token"))
      .groupBy(col("doc_id"), col("token")).agg(count(lit(1)).as("c"))
    val perTok = tok.groupBy(col("token"))
      .agg(count(lit(1)).as("df"), sum(col("c")).as("s1"),
        sum((col("c") * col("c")).cast(dec)).as("s2"))
    val nd = docs(s, d).groupBy().agg(count(lit(1)).as("nn"))
    perTok.crossJoin(broadcast(nd))
      .select(col("token"), col("df"), col("s1").as("total"),
        expr("CAST((1000000 * (CAST(nn AS DECIMAL(38,0)) * s2 - " +
          "CAST(s1 AS DECIMAL(38,0)) * s1)) DIV " +
          "(CAST(nn AS DECIMAL(38,0)) * s1) AS BIGINT)").as("vmr_micro"))
      .orderBy(col("df").desc, col("token")).limit(20)
  }

  /** Heaps-law vocabulary growth curve: cumulative docs, tokens and
    * DISTINCT types after each tenth of the corpus (by doc_id range) —
    * the "will more data keep adding new vocabulary" scaling probe a
    * tokenizer budget is planned against. No global row sort: buckets
    * come from the integer doc_id range split; each type contributes
    * once at its FIRST bucket (min-bucket hash-agg), and the cumulative
    * close runs over a constant 10-row grid. */
  private def heapsLaw(s: SparkSession, d: String): DataFrame = {
    val mx = docs(s, d).groupBy().agg(max(col("doc_id")).as("mid"))
    val db = docs(s, d).crossJoin(broadcast(mx))
      .select(col("doc_id"), col("text"),
        expr("least(9, (doc_id * 10) DIV (mid + 1))").as("bucket"))
    val tok = U.track(db
      .select(col("bucket"), explode(tokens(col("text"))).as("token"))
      .persist())
    val docsB = db.groupBy(col("bucket")).agg(count(lit(1)).as("n_docs"))
    val toksB = tok.groupBy(col("bucket")).agg(count(lit(1)).as("n_toks"))
    val newTypes = tok.groupBy(col("token")).agg(min(col("bucket")).as("fb"))
      .groupBy(col("fb")).agg(count(lit(1)).as("n_new"))
    val wq = Window.orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    s.range(10).select(col("id").as("bucket"))
      .join(docsB, Seq("bucket"), "left")
      .join(toksB, Seq("bucket"), "left")
      .join(newTypes.withColumnRenamed("fb", "bucket"), Seq("bucket"), "left")
      .select(col("bucket"),
        sum(coalesce(col("n_docs"), lit(0L))).over(wq).as("docs_cum"),
        sum(coalesce(col("n_toks"), lit(0L))).over(wq).as("tokens_cum"),
        sum(coalesce(col("n_new"), lit(0L))).over(wq).as("vocab_cum"))
      .orderBy("bucket")
  }

  /** Token-length profile per source: decade-bucket histogram of
    * per-document token counts with each bucket's share — the
    * length-distribution report behind packing efficiency and truncation
    * budgets ("crawl B is all snippets, crawl A is all books"). Decade
    * buckets are integer CASE thresholds (the ts_rainflow discipline —
    * no log10 float); shares close in exact micro-units against a
    * window total over the ≤|sources|×5-row agg frame. */
  private def lengthProfile(s: SparkSession, d: String): DataFrame = {
    val ws = Window.partitionBy(col("source"))
    docs(s, d)
      .select(col("source"), size(tokens(col("text"))).cast(LongType)
        .as("nt"))
      .withColumn("bucket",
        when(col("nt") === 0L, 0L).when(col("nt") < 10L, 1L)
          .when(col("nt") < 100L, 2L).when(col("nt") < 1000L, 3L)
          .otherwise(4L))
      .groupBy(col("source"), col("bucket"))
      .agg(count(lit(1)).as("n_docs"), sum(col("nt")).as("n_tokens"))
      .withColumn("__tot", sum(col("n_docs")).over(ws))
      .withColumn("share_micro", expr("(1000000 * n_docs) DIV __tot"))
      .drop("__tot")
      .orderBy("source", "bucket")
  }

  /** Simpson diversity per source: the probability two tokens drawn
    * without replacement are the SAME type, D = Σc(c−1)/(N(N−1)) — the
    * concentration-weighted diversity that (unlike entropy's log scale)
    * is dominated by the head, so boilerplate-heavy crawls stand out
    * immediately. FULLY integer: both products exact, one DECIMAL DIV
    * close to micro-units; one (source, token) hash-agg + one
    * \|sources\| rollup. */
  private def simpson(s: SparkSession, d: String): DataFrame = {
    val dec = DecimalType(38, 0)
    docs(s, d)
      .select(col("source"), explode(tokens(col("text"))).as("token"))
      .groupBy(col("source"), col("token")).agg(count(lit(1)).as("c"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_types"), sum(col("c")).as("n_tokens"),
        sum((col("c") * (col("c") - 1L)).cast(dec)).as("match2"))
      .select(col("source"), col("n_types"), col("n_tokens"),
        expr("CAST((1000000 * match2) DIV " +
          "(CAST(n_tokens AS DECIMAL(38,0)) * (n_tokens - 1)) AS BIGINT)")
          .as("simpson_micro"))
      .orderBy("source")
  }

  /** Corpus-level hapax legomena per source: tokens whose TOTAL count
    * within the source is exactly 1 (vs [[textTtr]]'s per-DOC hapax — a
    * corpus hapax is a vocabulary one-off across the whole crawl slice:
    * OCR noise, mangled encodings, and genuinely rare forms, the
    * token-level quality screen Heaps/Zipf summarize in aggregate). One
    * tokenize pass + two hash aggs; all counts exact, share in integer
    * micro-units. */
  private def hapaxCorpus(s: SparkSession, d: String): DataFrame =
    docs(s, d)
      .select(col("source"), explode(tokens(col("text"))).as("token"))
      .groupBy(col("source"), col("token")).agg(count(lit(1)).as("c"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_types"),
        sum(col("c")).as("n_tokens"),
        sum(when(col("c") === 1L, 1L).otherwise(0L)).as("n_hapax"))
      .select(col("source"), col("n_types"), col("n_tokens"), col("n_hapax"),
        expr("(1000000 * n_hapax) DIV n_types").as("hapax_share_micro"))
      .orderBy("source")

  /** Code-vs-prose detection — the routing signal a mixed crawl needs
    * before language-specific filters run (code wants different quality
    * rules than prose): per doc the structural-symbol count (braces,
    * semicolons, operators), digit count and
    * camelCase token count, folded into exact micro-ratios and an
    * is_code vote (≥2 of the 3 signals firing). Pure per-row regex
    * counting — no shuffle; each counter is regexp_replace length
    * arithmetic with identical semantics in both engines. */
  private def codeDetect(s: SparkSession, d: String): DataFrame =
    docs(s, d)
      .select(col("doc_id"), col("text"),
        length(col("text")).cast(LongType).as("n_chars"))
      .filter(col("n_chars") >= 1L)
      .withColumn("n_symbols", (col("n_chars") -
        length(regexp_replace(col("text"), "[{}();=\\[\\]<>+*/\\\\|&]", "")))
        .cast(LongType))
      .withColumn("n_digits", (col("n_chars") -
        length(regexp_replace(col("text"), "[0-9]", ""))).cast(LongType))
      .withColumn("n_camel",
        size(filter(TextUtil.tokens(col("text")),
          t => t.rlike("^[a-z]+[A-Z]"))).cast(LongType))
      .select(col("doc_id"), col("n_chars"), col("n_symbols"),
        col("n_digits"), col("n_camel"),
        expr("(1000000 * n_symbols) DIV n_chars").as("symbol_micro"),
        expr("(1000000 * n_digits) DIV n_chars").as("digit_micro"),
        ((when(expr("(1000000 * n_symbols) DIV n_chars >= 20000"), 1)
          .otherwise(0) +
          when(expr("(1000000 * n_digits) DIV n_chars >= 50000"), 1)
            .otherwise(0) +
          when(col("n_camel") >= 3L, 1).otherwise(0)) >= 2).as("is_code"))
      .orderBy("doc_id")

  /** CCNet-style perplexity bucketing — the head/middle/tail split the
    * CCNet curation pipeline cuts a crawl into before deciding what to
    * keep: per-doc average unigram log-prob (the [[unigramLp]] micro-nat
    * doctrine — ln() agrees cross-engine, exp() does not, so the score
    * stays in log space), then the corpus ranks by (score, doc_id) and
    * splits into thirds — 'tail' = least-probable (highest perplexity).
    * The global rank runs as the blocked two-level scan-prefix over
    * 2²⁰-wide SCORE ranges: avg log-prob per token is bounded by the
    * vocabulary (ln 1/N_total ≈ −20 nats), so the block frame is ≤ ~20
    * rows at ANY corpus size — value-domain, not corpus-domain.
    * Truncating division is order-preserving, so blocks stay contiguous
    * on the negative score axis. */
  private def ccnetBuckets(s: SparkSession, d: String): DataFrame = {
    val tok = U.track(docs(s, d)
      .select(col("doc_id"), explode(tokens(col("text"))).as("token"))
      .persist())
    val tf = tok.groupBy(col("token")).agg(count(lit(1)).as("ctf"))
    val tot = tok.agg(count(lit(1)).as("n_total"))
    val scored = U.track(tok.join(tf, "token").crossJoin(broadcast(tot))
      .withColumn("lp_micro",
        floor(log(col("ctf").cast(DoubleType) / col("n_total").cast(DoubleType)) *
          lit(1000000.0)).cast(LongType))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("lp_micro")).as("slp"))
      .withColumn("score_micro", expr("slp DIV n_tokens"))
      .withColumn("rng", expr("score_micro DIV 1048576"))
      .persist())
    val offs = scored.groupBy(col("rng")).agg(count(lit(1)).as("c"))
      .withColumn("off", coalesce(
        sum(col("c")).over(Window.orderBy(col("rng"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("rng").as("o_rng"), col("off"))
    val w = Window.partitionBy(col("rng"))
      .orderBy(col("score_micro"), col("doc_id"))
    val (offsG, wo) = graft.U.sizeGate(offs)
    val nd = scored.agg(count(lit(1)).as("n_docs"))
    scored.join(wo(offsG), col("rng") === col("o_rng"))
      .withColumn("rank", col("off") + row_number().over(w))
      .crossJoin(broadcast(nd))
      .select(col("doc_id"), col("n_tokens"), col("score_micro"), col("rank"),
        expr("CASE ((rank - 1) * 3) DIV n_docs WHEN 0 THEN 'tail' " +
          "WHEN 1 THEN 'middle' ELSE 'head' END").as("bucket"))
      .orderBy("doc_id")
  }

  /** Out-of-vocabulary rate per source against the reference vocabulary
    * (the distinct tokens of the lexicographically first source) — the
    * cross-domain tokenizer-coverage read a corpus owner takes before
    * pointing an existing tokenizer at a new source: per source, token
    * OCCURRENCES (not types) outside the reference vocab, in exact
    * micro. The vocab side is vocabulary-sized — potentially millions —
    * so the membership join is a token-key SHUFFLE join, deliberately
    * not broadcast; the reference source row is the only broadcast. The
    * reference source itself reads 0 — the built-in sanity anchor. */
  private def textOov(s: SparkSession, d: String): DataFrame = {
    val toks = U.track(docs(s, d)
      .select(col("source"), explode(tokens(col("text"))).as("tok"))
      .persist())
    val ref = toks.agg(min(col("source")).as("rs"))
    val vocab = toks.crossJoin(broadcast(ref))
      .filter(col("source") === col("rs"))
      .select(col("tok").as("vtok")).distinct()
    toks.join(vocab, col("tok") === col("vtok"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("vtok").isNull, 1L).otherwise(0L)).as("n_oov"))
      .select(col("source"), col("n_tokens"), col("n_oov"),
        expr("(1000000 * n_oov) DIV nullif(n_tokens, 0)").as("oov_micro"))
      .orderBy("source")
  }

  /** Monroe's "fightin' words" log-odds with an informative Dirichlet
    * prior: which tokens distinguish src0's documents from src1's, with
    * the WHOLE corpus as the prior (α_w = corpus count of w) so rare
    * tokens can't dominate the way raw log-ratios let them. Every count
    * is an exact integer; each side's log-odds ln((y+α)/(n+A−y−α))
    * floors to micro-nats independently (one §5-safe ln of an
    * exact-integer ratio per side) and δ is their integer difference.
    * Ships the top 20 by |δ| (token tiebreak). Shape: one tokenize
    * explode → token hash agg for the prior, one for the two sides,
    * then vocabulary-keyed joins — the final top-k is one
    * TakeOrderedAndProject, never a full sort. */
  private def textLogOdds(s: SparkSession, d: String): DataFrame = {
    val all = U.track(docs(s, d)
      .select(col("source"), explode(tokens(col("text"))).as("token"))
      .persist())
    val corpus = all.groupBy(col("token")).agg(count(lit(1)).as("alpha"))
    val cnt = all.filter(col("source").isin("src0", "src1"))
      .groupBy(col("token"), col("source")).agg(count(lit(1)).as("c"))
    val y = corpus
      .join(cnt.filter(col("source") === "src0")
        .select(col("token").as("t0"), col("c").as("c0")),
        col("token") === col("t0"), "left")
      .join(cnt.filter(col("source") === "src1")
        .select(col("token").as("t1"), col("c").as("c1")),
        col("token") === col("t1"), "left")
      .select(col("token"), col("alpha"),
        coalesce(col("c0"), lit(0L)).as("y0"),
        coalesce(col("c1"), lit(0L)).as("y1"))
    val tot = y.agg(sum(col("y0")).as("n0"), sum(col("y1")).as("n1"),
      sum(col("alpha")).as("aa"))
    val top = y.crossJoin(broadcast(tot))
      .withColumn("delta_micro_nats", expr(
        "CAST(floor(1000000.0 * ln(CAST(y0 + alpha AS DOUBLE) / " +
          "CAST(n0 + aa - y0 - alpha AS DOUBLE))) AS BIGINT) - " +
          "CAST(floor(1000000.0 * ln(CAST(y1 + alpha AS DOUBLE) / " +
          "CAST(n1 + aa - y1 - alpha AS DOUBLE))) AS BIGINT)"))
      .select(col("token"), col("alpha"), col("y0"), col("y1"),
        col("delta_micro_nats"))
      .orderBy(abs(col("delta_micro_nats")).desc, col("token"))
      .limit(20)
    // rank assigned AFTER the top-k cut: the single-partition window only
    // ever sees 20 rows; the corpus-wide selection above stays a
    // TakeOrderedAndProject
    val w = Window.orderBy(abs(col("delta_micro_nats")).desc, col("token"))
    top.withColumn("rk", row_number().over(w).cast(LongType))
      .orderBy("rk")
  }

  /** Burrows' Delta between every source pair — the classic stylometric
    * authorship distance: relative frequencies of the corpus's top-20
    * words (count desc, token tiebreak), z-scored ACROSS sources, and
    * Delta = mean |z_a − z_b|. Exactness: frequencies floor to micro by
    * integral division, the z numerator (ns·f − Σf) and variance
    * numerator (ns·Σf² − (Σf)²) stay exact integers below 2⁵³ so ONE
    * double tree (with IEEE-exact sqrt) computes z identically on both
    * engines, and each |Δz| floors to micro BEFORE the integer sum —
    * the micro-nat discipline. Shape: one tokenize hash agg, a top-20
    * TakeOrdered, then taxonomy²-bounded pair work (|sources|² × 20). */
  private def burrowsDelta(s: SparkSession, d: String): DataFrame = {
    val tok = U.track(docs(s, d)
      .select(col("source"), explode(tokens(col("text"))).as("token"))
      .persist())
    val top = tok.groupBy(col("token")).agg(count(lit(1)).as("ctot"))
      .orderBy(col("ctot").desc, col("token")).limit(20)
      .select(col("token"))
    val nt = tok.groupBy(col("source")).agg(count(lit(1)).as("nt"))
    val cnt = tok.join(broadcast(top), Seq("token"))
      .groupBy(col("source"), col("token")).agg(count(lit(1)).as("c"))
    val ns = nt.agg(count(lit(1)).as("ns"))
    val grid = nt.crossJoin(broadcast(top))
      .join(cnt, Seq("source", "token"), "left")
      .select(col("source"), col("token"),
        expr("(1000000 * coalesce(c, 0)) DIV nt").as("f"))
    val st = grid.groupBy(col("token").as("tw"))
      .agg(sum(col("f")).as("sf"),
        sum(col("f") * col("f")).as("sff"))
    val z = grid
      .join(broadcast(st), col("token") === col("tw"))
      .crossJoin(broadcast(ns))
      .withColumn("z", expr(
        "CASE WHEN ns * sff - sf * sf > 0 THEN " +
          "(CAST(ns * f - sf AS DOUBLE) / CAST(ns AS DOUBLE)) / " +
          "sqrt(CAST(ns * sff - sf * sf AS DOUBLE) / " +
          "(CAST(ns AS DOUBLE) * (CAST(ns AS DOUBLE) - 1.0))) " +
          "ELSE 0.0 END"))
      .select(col("source"), col("token"), col("z"))
    z.select(col("source").as("src_a"), col("token"), col("z").as("za"))
      .join(z.select(col("source").as("src_b"), col("token"),
        col("z").as("zb")), Seq("token"))
      .filter(col("src_a") < col("src_b"))
      .withColumn("term",
        expr("CAST(floor(1000000.0 * abs(za - zb)) AS BIGINT)"))
      .groupBy(col("src_a"), col("src_b"))
      .agg(expr("CAST(SUM(term) DIV COUNT(*) AS BIGINT)")
        .as("delta_micro"))
      .orderBy("src_a", "src_b")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "text_burrows_delta" -> burrowsDelta _,
    "text_oov" -> textOov _,
    "text_ccnet_buckets" -> ccnetBuckets _,
    "text_code_detect" -> codeDetect _,
    "text_hapax" -> hapaxCorpus _,
    "text_simpson" -> simpson _,
    "text_length_profile" -> lengthProfile _,
    "text_heaps_law" -> heapsLaw _,
    "text_burstiness" -> burstiness _,
    "text_kl_source" -> klSource _,
    "text_source_overlap" -> sourceOverlap _,
    "text_ttr" -> ttr _,
    "text_readability" -> readability _,
    "text_gopher_rules" -> gopherRules _,
    "text_boilerplate" -> boilerplate _,
    "text_pmi" -> pmi _,
    "text_skipgram_pmi" -> skipgramPmi _,
    "text_kneser_ney" -> kneserNey _,
    "pipeline_perplexity_filter" -> perplexityFilter _,
    "text_distinct_n" -> distinctN _,
    "text_html_strip" -> htmlStrip _,
    "text_zipf" -> zipf _,
    "text_repetition" -> repetition _,
    "text_novelty" -> novelty _,
    "text_keyword_extract" -> keywordExtract _,
    "text_winnowing" -> winnowing _,
    "text_redact" -> redact _,
    "text_bigram_lp" -> bigramLp _,
    "text_unigram_lp" -> unigramLp _,
    "text_tokenize_tf" -> tokenizeTf _,
    "text_tfidf" -> tfidf _,
    "text_bm25" -> bm25 _,
    "text_quality_stats" -> qualityStats _,
    "text_langid" -> langid _,
    "text_langid_confusion" -> langidConfusion _,
    "text_log_odds" -> textLogOdds _,
    "text_token_count" -> tokenCount _,
    "text_fingerprint" -> fingerprint _)

  /** Shared gopher-rule CTE chain + keep predicate — one SQL definition
    * serving both the text_gopher_rules oracle and pipeline_dataset_card's
    * keep-rate rollup (mirrors [[gopherRules]]). */
  private[llm] val gopherCtes =
    s"gt AS (SELECT doc_id, source, text, ${sqlTokens("text")} AS toks " +
      "FROM documents), " +
      "gf AS (SELECT doc_id, source, " +
      "CAST(len(toks) AS BIGINT) AS n_tokens, " +
      "CAST(length(replace(text, ' ', '')) AS BIGINT) AS word_chars, " +
      "CAST(len(list_filter(toks, x -> regexp_full_match(x, '[a-z]+'))) " +
      "AS BIGINT) AS n_alpha, " +
      "CAST(len(list_filter(toks, x -> x IN ('the', 'a'))) AS BIGINT) " +
      "AS n_stop FROM gt)"
  private[llm] val gopherKeepSql =
    "(n_tokens >= 30 AND " +
      "CAST(word_chars AS DOUBLE) / n_tokens >= 4.0 AND " +
      "CAST(word_chars AS DOUBLE) / n_tokens <= 5.0 AND " +
      "CAST(n_alpha AS DOUBLE) / n_tokens >= 0.8 AND n_stop >= 2)"

  /** The Kneser–Ney model CTE chain, shared VERBATIM by the
    * `text_kneser_ney` oracle and the `pipeline_perplexity_filter`
    * oracle (which nests it) — one definition, so the filter can never
    * score under a model that drifted from the declared one. Ends at
    * `knmodel(w1, w2, cb, c1, n1_fwd, n1_back, pcont_micro, pkn_micro)`.
    * `def`, not `val`: object-init order must not matter. */
  private def knModelCtes: String =
    s"knbase AS (SELECT ${sqlTokens("text")} AS toks " +
      "FROM documents WHERE len(list_filter(string_split(text, ' '), " +
      "x -> length(x) > 0)) >= 2), " +
      "knpairs AS (SELECT toks[CAST(i AS INTEGER)] AS w1, " +
      "toks[CAST(i + 1 AS INTEGER)] AS w2 " +
      "FROM knbase, unnest(range(1, len(toks))) AS t(i)), " +
      "kncbg AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS cb " +
      "FROM knpairs GROUP BY w1, w2), " +
      "kncpre AS (SELECT w1, CAST(COUNT(*) AS BIGINT) AS c1, " +
      "CAST(COUNT(DISTINCT w2) AS BIGINT) AS n1_fwd FROM knpairs " +
      "GROUP BY w1), " +
      "kndist AS (SELECT DISTINCT w1, w2 FROM knpairs), " +
      "kncont AS (SELECT w2, CAST(COUNT(*) AS BIGINT) AS n1_back " +
      "FROM kndist GROUP BY w2), " +
      "knnt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_types FROM kndist), " +
      "knmodel AS (SELECT w1, w2, cb, c1, n1_fwd, n1_back, " +
      "(1000000 * n1_back) // n_types AS pcont_micro, " +
      "(1000000 * greatest(4 * cb - 3, 0)) // (4 * c1) + " +
      "(3 * n1_fwd * ((1000000 * n1_back) // n_types)) // (4 * c1) " +
      "AS pkn_micro " +
      "FROM kncbg JOIN kncpre USING (w1) JOIN kncont USING (w2) " +
      "CROSS JOIN knnt WHERE cb >= 5)"

  val oracleSql: Map[String, String] = Map(
    "text_burrows_delta" ->
      (s"WITH tok AS (SELECT source, unnest(${sqlTokens("text")}) " +
        "AS token FROM documents), " +
        "top AS (SELECT token FROM (SELECT token, COUNT(*) AS ctot " +
        "FROM tok GROUP BY 1 ORDER BY ctot DESC, token LIMIT 20)), " +
        "nt AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS nt " +
        "FROM tok GROUP BY 1), " +
        "cnt AS (SELECT source, token, CAST(COUNT(*) AS BIGINT) AS c " +
        "FROM tok JOIN top USING (token) GROUP BY 1, 2), " +
        "ns AS (SELECT CAST(COUNT(*) AS BIGINT) AS ns FROM nt), " +
        "grid AS (SELECT nt.source, top.token, " +
        "(1000000 * coalesce(cnt.c, 0)) // nt.nt AS f " +
        "FROM nt CROSS JOIN top LEFT JOIN cnt " +
        "ON cnt.source = nt.source AND cnt.token = top.token), " +
        "st AS (SELECT token, CAST(SUM(f) AS BIGINT) AS sf, " +
        "CAST(SUM(f * f) AS BIGINT) AS sff FROM grid GROUP BY 1), " +
        "z AS (SELECT grid.source, grid.token, " +
        "CASE WHEN ns * sff - sf * sf > 0 THEN " +
        "(CAST(ns * f - sf AS DOUBLE) / CAST(ns AS DOUBLE)) / " +
        "sqrt(CAST(ns * sff - sf * sf AS DOUBLE) / " +
        "(CAST(ns AS DOUBLE) * (CAST(ns AS DOUBLE) - 1.0))) " +
        "ELSE 0.0 END AS z FROM grid JOIN st USING (token) " +
        "CROSS JOIN ns) " +
        "SELECT a.source AS src_a, b.source AS src_b, " +
        "CAST(SUM(CAST(floor(1000000.0 * abs(a.z - b.z)) AS BIGINT)) // " +
        "COUNT(*) AS BIGINT) AS delta_micro " +
        "FROM z a JOIN z b ON a.token = b.token AND a.source < b.source " +
        "GROUP BY 1, 2 ORDER BY 1, 2"),
    "text_log_odds" ->
      (s"WITH al AS (SELECT source, unnest(${sqlTokens("text")}) AS token " +
        "FROM documents), " +
        "corpus AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS alpha " +
        "FROM al GROUP BY 1), " +
        "cnt AS (SELECT token, source, CAST(COUNT(*) AS BIGINT) AS c " +
        "FROM al WHERE source IN ('src0', 'src1') GROUP BY 1, 2), " +
        "y AS (SELECT corpus.token, alpha, " +
        "coalesce(c0.c, 0) AS y0, coalesce(c1.c, 0) AS y1 FROM corpus " +
        "LEFT JOIN cnt c0 ON corpus.token = c0.token AND c0.source = 'src0' " +
        "LEFT JOIN cnt c1 ON corpus.token = c1.token AND c1.source = 'src1'), " +
        "tot AS (SELECT CAST(SUM(y0) AS BIGINT) AS n0, " +
        "CAST(SUM(y1) AS BIGINT) AS n1, " +
        "CAST(SUM(alpha) AS BIGINT) AS aa FROM y), " +
        "dl AS (SELECT token, alpha, y0, y1, " +
        "CAST(floor(1000000.0 * ln(CAST(y0 + alpha AS DOUBLE) / " +
        "CAST(n0 + aa - y0 - alpha AS DOUBLE))) AS BIGINT) - " +
        "CAST(floor(1000000.0 * ln(CAST(y1 + alpha AS DOUBLE) / " +
        "CAST(n1 + aa - y1 - alpha AS DOUBLE))) AS BIGINT) " +
        "AS delta_micro_nats FROM y CROSS JOIN tot), " +
        "rk AS (SELECT *, CAST(row_number() OVER " +
        "(ORDER BY abs(delta_micro_nats) DESC, token) AS BIGINT) AS rk " +
        "FROM dl) " +
        "SELECT token, alpha, y0, y1, delta_micro_nats, rk FROM rk " +
        "WHERE rk <= 20 ORDER BY rk"),
    "text_oov" ->
      (s"WITH toks AS (SELECT source, unnest(${sqlTokens("text")}) AS tok " +
        "FROM documents), " +
        "ref AS (SELECT MIN(source) AS rs FROM toks), " +
        "vocab AS (SELECT DISTINCT tok AS vtok FROM toks CROSS JOIN ref " +
        "WHERE source = rs) " +
        "SELECT source, CAST(COUNT(*) AS BIGINT) AS n_tokens, " +
        "CAST(SUM(CASE WHEN v.vtok IS NULL THEN 1 ELSE 0 END) AS BIGINT) " +
        "AS n_oov, " +
        "CAST((1000000 * SUM(CASE WHEN v.vtok IS NULL THEN 1 ELSE 0 END)) " +
        "// nullif(COUNT(*), 0) AS BIGINT) AS oov_micro " +
        "FROM toks LEFT JOIN vocab v ON toks.tok = v.vtok " +
        "GROUP BY 1 ORDER BY 1"),
    "text_ccnet_buckets" ->
      (s"WITH tok AS (SELECT doc_id, unnest(${sqlTokens("text")}) AS token " +
        "FROM documents), " +
        "tf AS (SELECT token, COUNT(*) AS ctf FROM tok GROUP BY token), " +
        "tot AS (SELECT COUNT(*) AS n_total FROM tok), " +
        "sc AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens, " +
        "CAST(SUM(CAST(floor(ln(CAST(ctf AS DOUBLE) / " +
        "CAST(n_total AS DOUBLE)) * 1000000.0) AS BIGINT)) AS BIGINT) AS slp " +
        "FROM tok JOIN tf USING (token) CROSS JOIN tot GROUP BY doc_id), " +
        "nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM sc), " +
        "r AS (SELECT doc_id, n_tokens, CAST(slp // n_tokens AS BIGINT) " +
        "AS score_micro, CAST(row_number() OVER (ORDER BY slp // n_tokens, " +
        "doc_id) AS BIGINT) AS rank FROM sc) " +
        "SELECT doc_id, n_tokens, score_micro, rank, " +
        "CASE ((rank - 1) * 3) // n_docs WHEN 0 THEN 'tail' " +
        "WHEN 1 THEN 'middle' ELSE 'head' END AS bucket " +
        "FROM r CROSS JOIN nd ORDER BY doc_id"),
    "text_code_detect" ->
      ("WITH c AS (SELECT doc_id, text, CAST(length(text) AS BIGINT) " +
        "AS n_chars FROM documents WHERE length(text) >= 1), " +
        "m AS (SELECT doc_id, n_chars, " +
        "n_chars - CAST(length(regexp_replace(text, " +
        "'[{}();=\\[\\]<>+*/\\\\|&]', '', 'g')) AS BIGINT) AS n_symbols, " +
        "n_chars - CAST(length(regexp_replace(text, '[0-9]', '', 'g')) " +
        "AS BIGINT) AS n_digits, " +
        s"CAST(len(list_filter(${sqlTokens("text")}, " +
        "t -> regexp_matches(t, '^[a-z]+[A-Z]'))) AS BIGINT) AS n_camel " +
        "FROM c) " +
        "SELECT doc_id, n_chars, n_symbols, n_digits, n_camel, " +
        "CAST((1000000 * n_symbols) // n_chars AS BIGINT) AS symbol_micro, " +
        "CAST((1000000 * n_digits) // n_chars AS BIGINT) AS digit_micro, " +
        "((CASE WHEN (1000000 * n_symbols) // n_chars >= 20000 THEN 1 " +
        "ELSE 0 END) + (CASE WHEN (1000000 * n_digits) // n_chars >= 50000 " +
        "THEN 1 ELSE 0 END) + (CASE WHEN n_camel >= 3 THEN 1 ELSE 0 END)) " +
        ">= 2 AS is_code FROM m ORDER BY doc_id"),
    "text_hapax" ->
      (s"WITH tok AS (SELECT source, unnest(${sqlTokens("text")}) AS token " +
        "FROM documents), " +
        "tc AS (SELECT source, token, COUNT(*) AS c FROM tok GROUP BY 1, 2), " +
        "ag AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_types, " +
        "CAST(SUM(c) AS BIGINT) AS n_tokens, " +
        "CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax " +
        "FROM tc GROUP BY 1) " +
        "SELECT source, n_types, n_tokens, n_hapax, " +
        "CAST((1000000 * n_hapax) // n_types AS BIGINT) AS hapax_share_micro " +
        "FROM ag ORDER BY source"),
    "text_simpson" ->
      (s"WITH tok AS (SELECT source, unnest(${sqlTokens("text")}) AS token " +
        "FROM documents), " +
        "tc AS (SELECT source, token, CAST(COUNT(*) AS BIGINT) AS c " +
        "FROM tok GROUP BY 1, 2), " +
        "ps AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_types, " +
        "CAST(SUM(c) AS BIGINT) AS n_tokens, " +
        "SUM(CAST(c AS HUGEINT) * (c - 1)) AS match2 FROM tc GROUP BY 1) " +
        "SELECT source, n_types, n_tokens, " +
        "CAST((1000000 * match2) // " +
        "(CAST(n_tokens AS HUGEINT) * (n_tokens - 1)) AS BIGINT) " +
        "AS simpson_micro FROM ps ORDER BY source"),
    "text_length_profile" ->
      (s"WITH lp AS (SELECT source, " +
        s"CAST(len(${sqlTokens("text")}) AS BIGINT) AS nt FROM documents), " +
        "bk AS (SELECT source, CASE WHEN nt = 0 THEN 0 WHEN nt < 10 " +
        "THEN 1 WHEN nt < 100 THEN 2 WHEN nt < 1000 THEN 3 ELSE 4 END " +
        "AS bucket, nt FROM lp), " +
        "ag AS (SELECT source, CAST(bucket AS BIGINT) AS bucket, " +
        "CAST(COUNT(*) AS BIGINT) AS n_docs, " +
        "CAST(SUM(nt) AS BIGINT) AS n_tokens FROM bk GROUP BY 1, 2) " +
        "SELECT source, bucket, n_docs, n_tokens, " +
        "CAST((1000000 * n_docs) // SUM(n_docs) OVER (PARTITION BY source) " +
        "AS BIGINT) AS share_micro FROM ag ORDER BY source, bucket"),
    "text_heaps_law" ->
      (s"WITH mx AS (SELECT MAX(doc_id) AS mid FROM documents), " +
        "db AS (SELECT doc_id, text, " +
        "least(9, (doc_id * 10) // (mid + 1)) AS bucket " +
        "FROM documents CROSS JOIN mx), " +
        s"tok AS (SELECT bucket, unnest(${sqlTokens("text")}) AS token " +
        "FROM db), " +
        "docs_b AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_docs " +
        "FROM db GROUP BY 1), " +
        "toks_b AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_toks " +
        "FROM tok GROUP BY 1), " +
        "new_t AS (SELECT fb AS bucket, CAST(COUNT(*) AS BIGINT) AS n_new " +
        "FROM (SELECT token, MIN(bucket) AS fb FROM tok GROUP BY 1) " +
        "GROUP BY 1), " +
        "grid AS (SELECT CAST(unnest(range(0, 10)) AS BIGINT) AS bucket) " +
        "SELECT grid.bucket, " +
        "CAST(SUM(COALESCE(n_docs, 0)) OVER w AS BIGINT) AS docs_cum, " +
        "CAST(SUM(COALESCE(n_toks, 0)) OVER w AS BIGINT) AS tokens_cum, " +
        "CAST(SUM(COALESCE(n_new, 0)) OVER w AS BIGINT) AS vocab_cum " +
        "FROM grid LEFT JOIN docs_b ON grid.bucket = docs_b.bucket " +
        "LEFT JOIN toks_b ON grid.bucket = toks_b.bucket " +
        "LEFT JOIN new_t ON grid.bucket = new_t.bucket " +
        "WINDOW w AS (ORDER BY grid.bucket " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) " +
        "ORDER BY grid.bucket"),
    "text_burstiness" ->
      (s"WITH tok AS (SELECT doc_id, unnest(${sqlTokens("text")}) AS token " +
        "FROM documents), " +
        "tc AS (SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS c " +
        "FROM tok GROUP BY 1, 2), " +
        "pt AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS df, " +
        "CAST(SUM(c) AS BIGINT) AS s1, " +
        "SUM(CAST(c AS HUGEINT) * c) AS s2 FROM tc GROUP BY 1), " +
        "nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS nn FROM documents) " +
        "SELECT token, df, s1 AS total, " +
        "CAST((1000000 * (CAST(nn AS HUGEINT) * s2 - " +
        "CAST(s1 AS HUGEINT) * s1)) // " +
        "(CAST(nn AS HUGEINT) * s1) AS BIGINT) AS vmr_micro " +
        "FROM pt CROSS JOIN nd ORDER BY df DESC, token LIMIT 20"),
    "text_kl_source" ->
      (s"WITH tok AS (SELECT source, unnest(${sqlTokens("text")}) AS token " +
        "FROM documents), " +
        "tc AS (SELECT source, token, CAST(COUNT(*) AS BIGINT) AS cs " +
        "FROM tok GROUP BY 1, 2), " +
        "corpus AS (SELECT token AS t2, CAST(SUM(cs) AS BIGINT) AS ca " +
        "FROM tc GROUP BY 1), " +
        "ns AS (SELECT source AS s2, CAST(SUM(cs) AS BIGINT) AS nsrc " +
        "FROM tc GROUP BY 1), " +
        "na AS (SELECT CAST(SUM(cs) AS BIGINT) AS nall FROM tc), " +
        "tm AS (SELECT source, nsrc, " +
        "CAST(floor(CAST(cs AS DOUBLE) / nsrc * " +
        "ln(CAST(CAST(cs AS HUGEINT) * nall AS DOUBLE) / " +
        "CAST(CAST(ca AS HUGEINT) * nsrc AS DOUBLE)) * 1000000.0) " +
        "AS BIGINT) AS term_micro " +
        "FROM tc JOIN corpus ON token = t2 JOIN ns ON source = s2 " +
        "CROSS JOIN na) " +
        "SELECT source, CAST(COUNT(*) AS BIGINT) AS n_types, " +
        "CAST(MAX(nsrc) AS BIGINT) AS n_tokens, " +
        "CAST(SUM(term_micro) AS BIGINT) AS kl_micro " +
        "FROM tm GROUP BY 1 ORDER BY source"),
    "text_source_overlap" ->
      (s"WITH t AS (SELECT source, ${sqlTokens("text")} AS toks " +
        "FROM documents), " +
        s"sh AS (SELECT DISTINCT source, unnest(${sqlShingles3("toks")}) " +
        "AS sg FROM t), " +
        "sizes AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_sh " +
        "FROM sh GROUP BY 1), " +
        "p AS (SELECT a.source AS src_a, b.source AS src_b, " +
        "CAST(COUNT(*) AS BIGINT) AS common FROM sh a JOIN sh b " +
        "ON a.sg = b.sg AND a.source < b.source GROUP BY 1, 2) " +
        "SELECT src_a, src_b, sa.n_sh AS na, sb.n_sh AS nb, common, " +
        "CAST(common AS DOUBLE) / (sa.n_sh + sb.n_sh - common) AS jaccard " +
        "FROM p JOIN sizes sa ON src_a = sa.source " +
        "JOIN sizes sb ON src_b = sb.source ORDER BY src_a, src_b"),
    "text_ttr" ->
      (s"WITH tok AS (SELECT doc_id, unnest(${sqlTokens("text")}) AS token " +
        "FROM documents), " +
        "tc AS (SELECT doc_id, token, COUNT(*) AS c FROM tok GROUP BY 1, 2), " +
        "ag AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_types, " +
        "CAST(SUM(c) AS BIGINT) AS n_tokens, " +
        "CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax " +
        "FROM tc GROUP BY doc_id) " +
        "SELECT doc_id, n_tokens, n_types, n_hapax, " +
        "CAST(n_types AS DOUBLE) / n_tokens AS ttr, " +
        "CAST(n_hapax AS DOUBLE) / n_types AS hapax_frac " +
        "FROM ag ORDER BY doc_id"),
    "text_readability" ->
      (s"WITH c AS (SELECT doc_id, " +
        s"CAST(len(${sqlTokens("text")}) AS BIGINT) AS n_words, " +
        "GREATEST(CAST(len(regexp_extract_all(text, '[.!?]+')) AS BIGINT), " +
        "CAST(1 AS BIGINT)) AS n_sentences, " +
        "CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS BIGINT) " +
        "AS n_syllables FROM documents) " +
        "SELECT doc_id, n_words, n_sentences, n_syllables, " +
        "206.835 - 1.015 * (CAST(n_words AS DOUBLE) / n_sentences) - " +
        "84.6 * (CAST(n_syllables AS DOUBLE) / n_words) AS flesch " +
        "FROM c WHERE n_words > 0 ORDER BY doc_id"),
    "text_gopher_rules" ->
      (s"WITH $gopherCtes " +
        "SELECT doc_id, n_tokens, " +
        "CAST(word_chars AS DOUBLE) / n_tokens AS mean_word_len, " +
        "CAST(n_alpha AS DOUBLE) / n_tokens AS frac_alpha, n_stop, " +
        "n_tokens >= 30 AS pass_len, " +
        "(CAST(word_chars AS DOUBLE) / n_tokens >= 4.0 AND " +
        "CAST(word_chars AS DOUBLE) / n_tokens <= 5.0) AS pass_word_len, " +
        "CAST(n_alpha AS DOUBLE) / n_tokens >= 0.8 AS pass_alpha, " +
        "n_stop >= 2 AS pass_stop, " +
        s"$gopherKeepSql AS keep " +
        "FROM gf ORDER BY doc_id"),
    "text_boilerplate" ->
      ("WITH sent AS (SELECT doc_id, " +
        "unnest(list_filter(string_split(text, '. '), " +
        "x -> length(x) > 0)) AS sent FROM documents), " +
        "cnt AS (SELECT sent, CAST(COUNT(DISTINCT doc_id) AS BIGINT) " +
        "AS ndocs FROM sent GROUP BY sent) " +
        "SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_sent, " +
        "CAST(SUM(CASE WHEN ndocs >= 5 THEN 1 ELSE 0 END) AS BIGINT) " +
        "AS n_boiler, " +
        "(1000000 * CAST(SUM(CASE WHEN ndocs >= 5 THEN 1 ELSE 0 END) " +
        "AS BIGINT)) // CAST(COUNT(*) AS BIGINT) AS boiler_micro " +
        "FROM sent JOIN cnt USING (sent) GROUP BY doc_id ORDER BY doc_id"),
    "text_html_strip" ->
      ("WITH h AS (SELECT doc_id, '<html><head><title>Doc ' || doc_id || " +
        "'</title></head><body><h1>Doc ' || doc_id || '</h1><p>' || " +
        "regexp_replace(text, 'data', '&quot;data&quot;', 'g') || " +
        "'</p><!-- footer --><div class=\"nav\">menu &amp; links</div>" +
        "</body></html>' AS html FROM documents), " +
        "nc AS (SELECT doc_id, regexp_replace(html, '<!--.*?-->', ' ', " +
        "'g') AS no_comment FROM h), " +
        "st AS (SELECT doc_id, CAST(len(regexp_extract_all(no_comment, " +
        "'<[^>]*>')) AS BIGINT) AS n_tags, " +
        "regexp_replace(no_comment, '<[^>]*>', ' ', 'g') AS stripped " +
        "FROM nc), " +
        "cl AS (SELECT doc_id, n_tags, " +
        "CAST(len(regexp_extract_all(stripped, '&(quot|amp|lt|gt);')) " +
        "AS BIGINT) AS n_entities, " +
        "trim(regexp_replace(replace(replace(replace(replace(stripped, " +
        "'&quot;', '\"'), '&amp;', '&'), '&lt;', '<'), '&gt;', '>'), " +
        "'\\s+', ' ', 'g')) AS clean FROM st) " +
        "SELECT doc_id, n_tags, n_entities, " +
        "CAST(length(clean) AS BIGINT) AS clean_len, clean " +
        "FROM cl ORDER BY doc_id"),
    "text_distinct_n" ->
      (s"WITH base AS (SELECT source, ${sqlTokens("text")} AS toks " +
        "FROM documents), " +
        "uni AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n1, " +
        "CAST(COUNT(DISTINCT g) AS BIGINT) AS d1 FROM " +
        "(SELECT source, unnest(toks) AS g FROM base) GROUP BY source), " +
        "bi AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n2, " +
        "CAST(COUNT(DISTINCT g) AS BIGINT) AS d2 FROM " +
        "(SELECT source, toks[CAST(i AS INTEGER)] || '_' || " +
        "toks[CAST(i + 1 AS INTEGER)] AS g " +
        "FROM base, unnest(range(1, len(toks))) AS t(i) " +
        "WHERE len(toks) >= 2) GROUP BY source) " +
        "SELECT source, n1, d1, n2, d2, " +
        "(1000000 * d1) // n1 AS distinct1_micro, " +
        "(1000000 * d2) // n2 AS distinct2_micro " +
        "FROM uni JOIN bi USING (source) ORDER BY source"),
    "text_kneser_ney" ->
      (s"WITH $knModelCtes " +
        "SELECT w1, w2, cb, c1, n1_fwd, n1_back, pcont_micro, pkn_micro " +
        "FROM knmodel ORDER BY w1, w2"),
    "pipeline_perplexity_filter" ->
      (s"WITH $knModelCtes, " +
        s"dbase AS (SELECT doc_id, ${sqlTokens("text")} AS toks " +
        "FROM documents), " +
        "dbg AS (SELECT doc_id, toks[CAST(i AS INTEGER)] AS w1, " +
        "toks[CAST(i + 1 AS INTEGER)] AS w2 " +
        "FROM dbase, unnest(range(1, len(toks))) AS t(i) " +
        "WHERE len(toks) >= 2), " +
        "sc AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams, " +
        "CAST(SUM(CASE WHEN pkn_micro IS NOT NULL THEN 1 ELSE 0 END) " +
        "AS BIGINT) AS n_scored, " +
        "CAST(SUM(CASE WHEN pkn_micro IS NOT NULL THEN " +
        "CAST(floor(ln(1000000.0 / greatest(pkn_micro, 1)) * 1000000.0) " +
        "AS BIGINT) ELSE 0 END) AS BIGINT) AS nll_sum_micro " +
        "FROM dbg LEFT JOIN knmodel USING (w1, w2) GROUP BY doc_id), " +
        "thr AS (SELECT CAST(SUM(nll_sum_micro) AS BIGINT) AS tot_nll, " +
        "CAST(SUM(n_scored) AS BIGINT) AS tot_n FROM sc) " +
        "SELECT d.doc_id, COALESCE(n_bigrams, 0) AS n_bigrams, " +
        "COALESCE(n_scored, 0) AS n_scored, " +
        "COALESCE(nll_sum_micro, 0) AS nll_sum_micro, " +
        "CASE WHEN COALESCE(n_scored, 0) > 0 " +
        "THEN nll_sum_micro // n_scored END AS avg_nll_micro, " +
        "tot_nll // tot_n AS corpus_avg_micro, " +
        "CASE WHEN COALESCE(n_scored, 0) > 0 THEN " +
        "(nll_sum_micro // n_scored) <= (tot_nll // tot_n) END AS keep " +
        "FROM (SELECT doc_id FROM documents) d " +
        "LEFT JOIN sc USING (doc_id) CROSS JOIN thr ORDER BY doc_id"),
    "text_skipgram_pmi" ->
      (s"WITH base AS (SELECT doc_id, ${sqlTokens("text")} AS toks " +
        "FROM documents), " +
        "tok AS (SELECT unnest(toks) AS token FROM base), " +
        "uni AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS c1 FROM tok " +
        "GROUP BY token), " +
        "nu AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_uni FROM tok), " +
        "d1 AS (SELECT toks[CAST(i AS INTEGER)] AS wa, " +
        "toks[CAST(i + 1 AS INTEGER)] AS wb " +
        "FROM base, unnest(range(1, len(toks))) AS t(i) " +
        "WHERE len(toks) >= 2), " +
        "d2 AS (SELECT toks[CAST(i AS INTEGER)] AS wa, " +
        "toks[CAST(i + 2 AS INTEGER)] AS wb " +
        "FROM base, unnest(range(1, len(toks) - 1)) AS t(i) " +
        "WHERE len(toks) >= 3), " +
        "sym AS (SELECT wa, wb FROM d1 UNION ALL SELECT wb, wa FROM d1 " +
        "UNION ALL SELECT wa, wb FROM d2 UNION ALL SELECT wb, wa FROM d2), " +
        "nsg AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_sg FROM sym), " +
        "csg AS (SELECT wa, wb, CAST(COUNT(*) AS BIGINT) AS cb FROM sym " +
        "GROUP BY wa, wb HAVING COUNT(*) >= 10) " +
        "SELECT csg.wa AS center, csg.wb AS context, cb AS n_cooc, " +
        "CAST(floor(ln((CAST(cb AS DOUBLE) * n_uni * n_uni) / " +
        "(CAST(n_sg AS DOUBLE) * ca * cc)) * 1000000.0) AS BIGINT) " +
        "AS pmi_micro " +
        "FROM csg " +
        "JOIN (SELECT token AS wa, c1 AS ca FROM uni) ua USING (wa) " +
        "JOIN (SELECT token AS wb, c1 AS cc FROM uni) ub USING (wb) " +
        "CROSS JOIN nu CROSS JOIN nsg " +
        "ORDER BY pmi_micro DESC, center, context"),
    "text_pmi" ->
      (s"WITH base AS (SELECT doc_id, ${sqlTokens("text")} AS toks " +
        "FROM documents), " +
        "tok AS (SELECT unnest(toks) AS token FROM base), " +
        "uni AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS c1 FROM tok " +
        "GROUP BY token), " +
        "nu AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_uni FROM tok), " +
        "pairs AS (SELECT toks[CAST(i AS INTEGER)] AS w1, " +
        "toks[CAST(i + 1 AS INTEGER)] AS w2 " +
        "FROM base, unnest(range(1, len(toks))) AS t(i) " +
        "WHERE len(toks) >= 2), " +
        "nb AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_bg FROM pairs), " +
        "cbg AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS cb FROM pairs " +
        "GROUP BY w1, w2 HAVING COUNT(*) >= 5) " +
        "SELECT w1, w2, cb, " +
        "CAST(floor(ln((CAST(cb AS DOUBLE) * n_uni * n_uni) / " +
        "(CAST(n_bg AS DOUBLE) * ca * cc)) * 1000000.0) AS BIGINT) " +
        "AS pmi_micro " +
        "FROM cbg " +
        "JOIN (SELECT token AS w1, c1 AS ca FROM uni) ua USING (w1) " +
        "JOIN (SELECT token AS w2, c1 AS cc FROM uni) ub USING (w2) " +
        "CROSS JOIN nu CROSS JOIN nb " +
        "ORDER BY pmi_micro DESC, w1, w2"),
    "text_zipf" -> {
      val slope = "(CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy) / " +
        "(CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)"
      s"WITH tok AS (SELECT unnest(${sqlTokens("text")}) AS token " +
        "FROM documents), " +
        "tf AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS tf FROM tok " +
        "GROUP BY token ORDER BY tf DESC, token LIMIT 1000), " +
        "pts AS (SELECT CAST(floor(ln(CAST(row_number() OVER " +
        "(ORDER BY tf DESC, token) AS DOUBLE)) * 1000000.0) AS BIGINT) AS x, " +
        "CAST(floor(ln(CAST(tf AS DOUBLE)) * 1000000.0) AS BIGINT) AS y " +
        "FROM tf), " +
        "ps AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, " +
        "CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy, " +
        "CAST(SUM(x * y) AS BIGINT) AS sxy, " +
        "CAST(SUM(x * x) AS BIGINT) AS sxx FROM pts) " +
        s"SELECT n AS n_terms, $slope AS zipf_slope, " +
        s"(CAST(sy AS DOUBLE) - ($slope) * sx) / n AS zipf_intercept FROM ps"
    },
    "text_repetition" ->
      (s"WITH t AS (SELECT doc_id, ${sqlTokens("text")} AS toks " +
        "FROM documents), " +
        "f AS (SELECT doc_id, toks, " +
        "list_transform(range(1, len(toks)), " +
        "i -> toks[CAST(i AS INTEGER)] || '_' || toks[CAST(i + 1 AS INTEGER)]) " +
        "AS bgs FROM t WHERE len(toks) >= 2) " +
        "SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens, " +
        "CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct, " +
        "CAST(((len(toks) - len(list_distinct(toks))) * 1000000) " +
        "// len(toks) AS BIGINT) AS dup_micro, " +
        "CAST(list_max(list_transform(list_distinct(toks), " +
        "t -> len(list_filter(toks, x -> x = t)))) AS BIGINT) AS top_token, " +
        "CAST(list_max(list_transform(list_distinct(bgs), " +
        "b -> len(list_filter(bgs, x -> x = b)))) AS BIGINT) AS top_bigram " +
        "FROM f ORDER BY doc_id"),
    "text_novelty" ->
      (s"WITH sh AS (SELECT doc_id, " +
        s"unnest(${sqlShingles3(sqlTokens("text"))}) AS sh FROM documents), " +
        "fst AS (SELECT sh, MIN(doc_id) AS first_doc FROM sh GROUP BY sh) " +
        "SELECT doc_id, COUNT(*) AS n_shingles, " +
        "CAST(SUM(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) AS BIGINT) " +
        "AS n_novel, " +
        "CAST((SUM(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) * 1000000) " +
        "// COUNT(*) AS BIGINT) AS novelty_micro " +
        "FROM sh JOIN fst USING (sh) GROUP BY doc_id ORDER BY doc_id"),
    "text_keyword_extract" ->
      (s"WITH tok AS (SELECT doc_id, unnest(${sqlTokens("text")}) AS token " +
        "FROM documents), " +
        "tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM tok GROUP BY 1, 2), " +
        "df AS (SELECT token, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY 1), " +
        "n AS (SELECT COUNT(*) AS n_docs FROM documents), " +
        "scored AS (SELECT doc_id, tf.token AS token, " +
        "round(CAST(tf AS DOUBLE) * " +
        "round(ln(CAST(n_docs AS DOUBLE) / CAST(df AS DOUBLE)), 6), 6) AS tfidf " +
        "FROM tf JOIN df ON tf.token = df.token CROSS JOIN n) " +
        "SELECT doc_id, token, tfidf, rank FROM (SELECT *, " +
        "CAST(row_number() OVER (PARTITION BY doc_id " +
        "ORDER BY tfidf DESC, token) AS BIGINT) AS rank FROM scored) " +
        "WHERE rank <= 3 ORDER BY doc_id, rank"),
    "text_winnowing" ->
      (s"WITH t AS (SELECT doc_id, ${sqlTokens("text")} AS toks FROM documents), " +
        "sh AS (SELECT doc_id, list_transform(range(1, len(toks) - 1), " +
        "i -> toks[CAST(i AS INTEGER)] || '_' || toks[CAST(i + 1 AS INTEGER)] " +
        "|| '_' || toks[CAST(i + 2 AS INTEGER)]) AS sh " +
        "FROM t WHERE len(toks) >= 6), " +
        s"h AS (SELECT doc_id, list_transform(sh, g -> ${sqlPolyHash("g", 13L)}) " +
        "AS hs FROM sh), " +
        "f AS (SELECT doc_id, list_distinct(list_transform(range(1, len(hs) - 2), " +
        "i -> list_min(hs[CAST(i AS INTEGER):CAST(i + 3 AS INTEGER)]))) AS fps " +
        "FROM h) " +
        "SELECT doc_id, CAST(len(fps) AS BIGINT) AS n_fps, " +
        "CAST(list_min(fps) AS BIGINT) AS min_fp, " +
        "CAST(list_max(fps) AS BIGINT) AS max_fp " +
        "FROM f ORDER BY doc_id"),
    "text_redact" ->
      ("SELECT doc_id, " +
        "regexp_replace(text, '\\b(customer|key)\\b', '[REDACTED]', 'g') " +
        "AS redacted, " +
        "CAST(len(regexp_extract_all(text, '\\b(customer|key)\\b')) AS BIGINT) " +
        "AS n_redacted FROM documents ORDER BY doc_id"),
    "text_bigram_lp" ->
      (s"WITH base AS (SELECT doc_id, ${sqlTokens("text")} AS toks " +
        "FROM documents), " +
        "pairs AS (SELECT doc_id, toks[CAST(i AS INTEGER)] AS w1, " +
        "toks[CAST(i + 1 AS INTEGER)] AS w2 " +
        "FROM base, unnest(range(1, len(toks))) AS t(i) WHERE len(toks) >= 2), " +
        "cbg AS (SELECT w1, w2, COUNT(*) AS cb FROM pairs GROUP BY w1, w2), " +
        "cpx AS (SELECT w1, COUNT(*) AS cp FROM pairs GROUP BY w1) " +
        "SELECT doc_id, COUNT(*) AS n_bigrams, " +
        "CAST(SUM(CAST(floor(ln(CAST(cb AS DOUBLE) / CAST(cp AS DOUBLE)) " +
        "* 1000000.0) AS BIGINT)) AS BIGINT) AS sum_lp_micro, " +
        "CAST(SUM(CAST(floor(ln(CAST(cb AS DOUBLE) / CAST(cp AS DOUBLE)) " +
        "* 1000000.0) AS BIGINT)) AS DOUBLE) / (1000000.0 * COUNT(*)) " +
        "AS avg_logprob " +
        "FROM pairs JOIN cbg USING (w1, w2) JOIN cpx USING (w1) " +
        "GROUP BY doc_id ORDER BY doc_id"),
    "text_unigram_lp" ->
      (s"WITH tok AS (SELECT doc_id, unnest(${sqlTokens("text")}) AS token " +
        "FROM documents), " +
        "tf AS (SELECT token, COUNT(*) AS ctf FROM tok GROUP BY token), " +
        "tot AS (SELECT COUNT(*) AS n_total FROM tok) " +
        "SELECT doc_id, COUNT(*) AS n_tokens, " +
        "CAST(SUM(CAST(floor(ln(CAST(ctf AS DOUBLE) / CAST(n_total AS DOUBLE)) " +
        "* 1000000.0) AS BIGINT)) AS BIGINT) AS sum_lp_micro, " +
        "CAST(SUM(CAST(floor(ln(CAST(ctf AS DOUBLE) / CAST(n_total AS DOUBLE)) " +
        "* 1000000.0) AS BIGINT)) AS DOUBLE) / (1000000.0 * COUNT(*)) " +
        "AS avg_logprob " +
        "FROM tok JOIN tf USING (token) CROSS JOIN tot " +
        "GROUP BY doc_id ORDER BY doc_id"),
    "text_tokenize_tf" ->
      (s"WITH tok AS (SELECT doc_id, unnest(${sqlTokens("text")}) AS token " +
        "FROM documents) " +
        "SELECT token, COUNT(*) AS tf, COUNT(DISTINCT doc_id) AS df " +
        "FROM tok GROUP BY token ORDER BY token"),
    "text_tfidf" ->
      (s"WITH tok AS (SELECT doc_id, unnest(${sqlTokens("text")}) AS token " +
        "FROM documents), " +
        "tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM tok GROUP BY 1, 2), " +
        "df AS (SELECT token, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY 1), " +
        "n AS (SELECT COUNT(*) AS n_docs FROM documents) " +
        "SELECT doc_id, tf.token, tf, " +
        "round(CAST(tf AS DOUBLE) * " +
        "round(ln(CAST(n_docs AS DOUBLE) / CAST(df AS DOUBLE)), 6), 6) AS tfidf " +
        "FROM tf JOIN df ON tf.token = df.token CROSS JOIN n " +
        "ORDER BY doc_id, tf.token"),
    "text_bm25" ->
      (s"WITH tok AS (SELECT doc_id, unnest(${sqlTokens("text")}) AS token " +
        "FROM documents), " +
        s"dl AS (SELECT doc_id, CAST(len(${sqlTokens("text")}) AS BIGINT) " +
        "AS dl FROM documents), " +
        "st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, " +
        "CAST(SUM(dl) AS BIGINT) AS sdl FROM dl), " +
        "tf AS (SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf " +
        "FROM tok WHERE token IN ('spark', 'query', 'table') GROUP BY 1, 2), " +
        "df AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS df FROM tf " +
        "GROUP BY 1), " +
        "terms AS (SELECT doc_id, CAST(floor(1000000.0 * (" +
        "ln((CAST(n AS DOUBLE) - df + 0.5) / (CAST(df AS DOUBLE) + 0.5)) * " +
        "(CAST(tf AS DOUBLE) * 2.2) / " +
        "(CAST(tf AS DOUBLE) + 1.2 * (0.25 + 0.75 * " +
        "(CAST(dl AS DOUBLE) * n / sdl))))) AS BIGINT) AS term_micro " +
        "FROM tf JOIN df USING (token) JOIN dl USING (doc_id) " +
        "CROSS JOIN st) " +
        "SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_terms_hit, " +
        "CAST(SUM(term_micro) AS DOUBLE) / 1000000.0 AS bm25 " +
        "FROM terms GROUP BY doc_id ORDER BY doc_id"),
    "text_quality_stats" ->
      (s"WITH x AS (SELECT lang, source, n_chars, " +
        s"CAST(len(${sqlTokens("text")}) AS BIGINT) AS n_tokens, " +
        "CAST(length(replace(text, ' ', '')) AS BIGINT) AS n_alpha " +
        "FROM documents) " +
        "SELECT lang, source, COUNT(*) AS n_docs, " +
        "CAST(SUM(n_chars) AS BIGINT) AS sum_chars, " +
        "CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) AS avg_chars, " +
        "CAST(SUM(n_tokens) AS DOUBLE) / COUNT(*) AS avg_tokens, " +
        "CAST(SUM(n_alpha) AS DOUBLE) / CAST(SUM(n_tokens) AS DOUBLE) AS avg_token_len, " +
        "CAST(SUM(CASE WHEN n_chars < 200 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS short_ratio " +
        "FROM x GROUP BY lang, source ORDER BY lang, source"),
    "text_langid_confusion" ->
      (s"WITH t AS (SELECT doc_id, lang, ${sqlTokens("text")} AS toks FROM documents), " +
        "sc AS (SELECT doc_id, lang, " +
        "CAST(len(list_filter(toks, x -> list_contains(['scan','filter','join'], x))) AS BIGINT) AS s_en, " +
        "CAST(len(list_filter(toks, x -> list_contains(['table','row','value'], x))) AS BIGINT) AS s_fr, " +
        "CAST(len(list_filter(toks, x -> list_contains(['hash','merge','batch'], x))) AS BIGINT) AS s_de " +
        "FROM t), " +
        "g AS (SELECT lang, CASE WHEN s_en >= s_fr AND s_en >= s_de THEN 'en' " +
        "WHEN s_fr >= s_de THEN 'fr' ELSE 'de' END AS guess FROM sc), " +
        "ct AS (SELECT lang, guess, CAST(COUNT(*) AS BIGINT) AS n_docs " +
        "FROM g GROUP BY 1, 2), " +
        "rt AS (SELECT lang, guess, n_docs, " +
        "SUM(n_docs) OVER (PARTITION BY lang) AS row_total FROM ct) " +
        "SELECT lang, guess, n_docs, " +
        "CAST((1000000 * n_docs) // row_total AS BIGINT) AS row_share_micro, " +
        "lang = guess AS correct FROM rt ORDER BY lang, guess"),
    "text_langid" ->
      (s"WITH t AS (SELECT doc_id, lang, ${sqlTokens("text")} AS toks FROM documents), " +
        "sc AS (SELECT doc_id, lang, " +
        "CAST(len(list_filter(toks, x -> list_contains(['scan','filter','join'], x))) AS BIGINT) AS s_en, " +
        "CAST(len(list_filter(toks, x -> list_contains(['table','row','value'], x))) AS BIGINT) AS s_fr, " +
        "CAST(len(list_filter(toks, x -> list_contains(['hash','merge','batch'], x))) AS BIGINT) AS s_de " +
        "FROM t) " +
        "SELECT doc_id, lang, s_en, s_fr, s_de, " +
        "CASE WHEN s_en >= s_fr AND s_en >= s_de THEN 'en' " +
        "WHEN s_fr >= s_de THEN 'fr' ELSE 'de' END AS guess " +
        "FROM sc ORDER BY doc_id"),
    "text_token_count" ->
      (s"SELECT doc_id, CAST(len(${sqlTokens("text")}) AS BIGINT) AS n_ws, " +
        "CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS n_bpe, " +
        s"CAST(len(list_distinct(${sqlTokens("text")})) AS BIGINT) AS n_distinct " +
        "FROM documents ORDER BY doc_id"),
    "text_fingerprint" ->
      (s"SELECT doc_id, ${sqlPolyHash("text", 7L)} AS text_hash, " +
        s"CAST(list_min(list_transform(${sqlTokens("text")}, " +
        s"t -> ${sqlPolyHash("t", 13L)})) AS BIGINT) AS min_token_hash " +
        "FROM documents ORDER BY doc_id"))
}
