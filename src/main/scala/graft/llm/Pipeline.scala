package graft.llm

import graft.{OSQL, SharedIndex, U}
import graft.llm.TextUtil._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** SURVEY.md §2.10 extension — the dataset-assembly half of a training-data
  * pipeline (the dedup/similarity/text-analysis operators cover cleaning;
  * these cover splitting, sampling, canonicalization, and sequence packing).
  *
  * Determinism doctrine: every randomized-looking decision (split
  * assignment, sample membership) is a pure integer hash of a STABLE key —
  * content hash for splits, event id for samples — never rand()/row order.
  * That is also what a 100 TB pipeline needs operationally: re-running a
  * failed partition, adding a shard, or re-sharding the input must not move
  * any example across splits. Hashes are the shared polynomial hash
  * (TextUtil), reproducible in DuckDB, so all four ops are exactly
  * oracle-able.
  */
object Pipeline {

  private def docs(s: SparkSession, d: String) = U.tbl(s, d, "documents")

  /** Content-keyed train/val/test split (80/10/10): bucket = polyhash(text)
    * mod 100. Keying on CONTENT (not doc_id) means byte-identical documents
    * land in the same split even across corpus versions with re-assigned
    * ids — the property that prevents train/test leakage after a re-crawl.
    * Pure projection: no shuffle at any scale. */
  /** The (doc_id, bucket, split) assignment frame — shared by
    * [[splitTrainTest]]'s listing and [[splitLeakage]]'s gate so the
    * split rule has ONE definition. */
  private def splitAssign(s: SparkSession, d: String): DataFrame =
    docs(s, d)
      .select(col("doc_id"),
        pmod(graft.plans.CustomExprs.poly_hash(col("text"), 7L), lit(100L)).as("bucket"))
      .withColumn("split",
        when(col("bucket") < 80, "train")
          .when(col("bucket") < 90, "val")
          .otherwise("test"))

  private def splitTrainTest(s: SparkSession, d: String): DataFrame =
    splitAssign(s, d).orderBy("doc_id")

  /** Near-duplicate leakage census across the train/val/test boundary —
    * the SPLIT-INTEGRITY gate every eval pipeline needs before it trusts
    * a held-out number: a hash split is uniform over documents, so
    * near-duplicate PAIRS routinely straddle splits and leak training
    * text into test. Counts the shared Jaccard-candidate pairs (≥ 0.2)
    * per ordered split pair; `crosses_split` rows are the leak. Rides the
    * SAME shared pair cache and split rule as dedup_jaccard and
    * split_train_test — the census cannot drift from either. */
  private def splitLeakage(s: SparkSession, d: String): DataFrame = {
    val pairs = Dedup.jaccardPairsShared(s, d).filter(col("jac") >= 0.2)
    val sp = splitAssign(s, d).select(col("doc_id"), col("split"))
    pairs
      .join(sp.select(col("doc_id").as("da"), col("split").as("spa")), Seq("da"))
      .join(sp.select(col("doc_id").as("db"), col("split").as("spb")), Seq("db"))
      .select(least(col("spa"), col("spb")).as("split_a"),
        greatest(col("spa"), col("spb")).as("split_b"))
      .groupBy(col("split_a"), col("split_b"))
      .agg(count(lit(1)).as("n_pairs"))
      .withColumn("crosses_split", col("split_a") =!= col("split_b"))
      .orderBy("split_a", "split_b")
  }

  /** Deterministic stratified sample over events: per-stratum rates
    * (purchase 50%, click 20%, rest 10%) decided by an LCG hash of the
    * event id. The CASE rate table is the knob a curriculum/rebalancing
    * pass turns; membership is a pure per-row predicate, so the sample is
    * a pushdown-friendly filter — no shuffle, no sort, no rand(). */
  private def sampleStratified(s: SparkSession, d: String): DataFrame = {
    val h = pmod(col("event_id") * lit(1103515245L) + lit(12345L), lit(2147483648L))
    val rate = when(col("event_type") === "purchase", 50L)
      .when(col("event_type") === "click", 20L)
      .otherwise(10L)
    U.events(s, d)
      .filter(pmod(h, lit(100L)) < rate)
      .select(col("event_id"), col("event_type"), col("user_id"), col("value"))
      .orderBy("event_id")
  }

  /** Canonical-form near-exact dedup: lowercase + whitespace-collapse +
    * trim, then exact dedup on the normalized form — catches the
    * formatting-only duplicates content-hash dedup misses (the first
    * normalization rung below dedup_jaccard's shingle overlap). Same
    * one-shuffle hash-agg shape as dedup_exact. */
  private def dedupNormalized(s: SparkSession, d: String): DataFrame =
    docs(s, d)
      .select(col("doc_id"),
        sha2(trim(regexp_replace(lower(col("text")), "\\s+", " ")), 256).as("h"))
      .groupBy(col("h"))
      .agg(min(col("doc_id")).as("keeper"), count(lit(1)).as("n_copies"))
      .orderBy("keeper")

  /** Concat-and-chunk sequence packing: docs in doc_id order fill
    * fixed-capacity 2048-token batches; a doc's batch is its exclusive
    * cumulative token count DIV 2048 (the streaming packing every LLM data
    * loader uses). The corpus-order prefix sum runs as the distributed
    * TWO-LEVEL scan-prefix (the [[sampleWeighted]] shape): per-1024-id
    * range partials cumulated with a window over the tiny range frame,
    * joined back (size-gated broadcast), then an intra-range running sum
    * partitioned by range — no stage windows the full corpus in one
    * partition, and prefix sums are exact so the output is identical to
    * the single-window form at any partition count. */
  private def packSequences(s: SparkSession, d: String): DataFrame = {
    // persisted: the range-partial branch and the rank join would
    // otherwise each re-tokenize the corpus
    val base = U.track(docs(s, d)
      .select(col("doc_id"), size(tokens(col("text"))).cast(LongType).as("n_tokens"))
      .withColumn("rng", expr("doc_id DIV 1024"))
      .persist())
    val offs = base.groupBy(col("rng"))
      .agg(sum(col("n_tokens")).as("rng_sum"))
      .withColumn("rng_off", coalesce(
        sum(col("rng_sum")).over(Window.orderBy(col("rng"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("rng").as("o_rng"), col("rng_off"))
    val w = Window.partitionBy(col("rng")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val (offsG, wo) = graft.U.sizeGate(offs)
    base.join(wo(offsG), col("rng") === col("o_rng"))
      .withColumn("tok_start",
        col("rng_off") + sum(col("n_tokens")).over(w) - col("n_tokens"))
      .select(col("doc_id"), col("n_tokens"),
        expr("tok_start DIV 2048").as("batch_id"),
        pmod(col("tok_start"), lit(2048L)).as("batch_offset"))
      .orderBy("doc_id")
  }

  /** Per-(vec_id, label, dim) fixed-point components — the ONE definition
    * of the exploded embedding frame that `emb_label_centroid` and
    * `emb_label_outlier` both build on (the eigvecCtes discipline: a
    * shared base so the two cannot drift). */
  private def labelComp(s: SparkSession, d: String): DataFrame =
    U.tbl(s, d, "embeddings")
      .select(col("vec_id"), col("label"),
        posexplode(microVec(col("embedding"))).as(Seq("pos", "x")))
      .select(col("vec_id"), col("label"),
        (col("pos") + 1).cast(LongType).as("dim"), col("x"))

  /** Floored-mean centroid per (label, dim) over [[labelComp]]. */
  private def labelCent(comp: DataFrame): DataFrame =
    comp.groupBy(col("label"), col("dim"))
      .agg(floor(sum(col("x")).cast(DoubleType) / count(lit(1)))
        .cast(LongType).as("cx"), count(lit(1)).as("n_vecs"))

  /** Per-label embedding centroids in the exact fixed-point domain
    * (posexplode → per-(label, dim) integer sums → floored mean): the
    * label-analytics rung of embedding curation (class prototypes, drift
    * checks). One explode shuffle keyed (label, dim) — linear, and the
    * same recenter shape as the IVF quantizer but fully oracle-able. */
  private def embLabelCentroid(s: SparkSession, d: String): DataFrame =
    labelCent(labelComp(s, d))
      .select(col("label"), col("dim"), col("cx"), col("n_vecs"))
      .orderBy("label", "dim")

  /** Distance-to-own-centroid label outliers (the mislabel/anomaly screen
    * one rung above [[embLabelCentroid]]'s class prototypes): squared L2
    * distance from each vector to its label's centroid, top-5 farthest per
    * label. Every step is exact-integer — component diffs and squares are
    * Longs (64 dims × (2e6)² ≈ 2.6e14, well inside Long), the centroid is
    * the same floored mean as emb_label_centroid — so the ranking
    * hash-matches SQL. Scale shape: two linear explode-shuffles keyed
    * (label, dim); the centroid frame is labels×64 rows, so Catalyst
    * broadcasts the re-join and the per-label top-k is the GroupedTopK
    * window shape. */
  private def embLabelOutlier(s: SparkSession, d: String): DataFrame = {
    val comp = labelComp(s, d)
    val cent = labelCent(comp).select(col("label"), col("dim"), col("cx"))
    val w = Window.partitionBy(col("label"))
      .orderBy(col("dist2").desc, col("vec_id"))
    comp.join(cent, Seq("label", "dim"))
      .groupBy(col("label"), col("vec_id"))
      .agg(sum((col("x") - col("cx")) * (col("x") - col("cx"))).as("dist2"))
      .withColumn("rank", row_number().over(w).cast(LongType))
      .filter(col("rank") <= 5)
      .select(col("label").cast(LongType).as("label"), col("vec_id"),
        col("dist2"), col("rank"))
      .orderBy("label", "rank")
  }

  /** Simplified silhouette per label (centroid form — a = distance to own
    * centroid, b = distance to the nearest other centroid): the cluster-
    * quality score that tells a curation pipeline whether its labels are
    * separable before training on them. Distances stay exact integer
    * through the squared-L2 sums; the only per-row doubles are two sqrt's
    * and one division — deterministic scalar ops — and each vector's s is
    * MICRO-FLOORED before the label rollup so the sum is an exact integer
    * (the order-independence discipline: never aggregate raw doubles).
    * Shape: one explode shuffle + a constant 640-row centroid broadcast
    * fanning each (vec, dim) row over the 10-label taxonomy. */
  private def embSilhouette(s: SparkSession, d: String): DataFrame = {
    val comp = labelComp(s, d)
    val cent = labelCent(comp)
      .select(col("label").as("clabel"), col("dim"), col("cx"))
    val d2 = comp.join(broadcast(cent), Seq("dim"))
      .groupBy(col("vec_id"), col("label"), col("clabel"))
      .agg(sum((col("x") - col("cx")) * (col("x") - col("cx"))).as("d2"))
    val ab = d2.groupBy(col("vec_id"), col("label"))
      .agg(max(when(col("clabel") === col("label"), col("d2"))).as("a2"),
        min(when(col("clabel") =!= col("label"), col("d2"))).as("b2"))
    val sa = sqrt(col("a2").cast(DoubleType))
    val sb = sqrt(col("b2").cast(DoubleType))
    ab.select(col("label"),
        when(greatest(sa, sb) === 0.0, lit(0L))
          .otherwise(floor(lit(1000000.0) * ((sb - sa) / greatest(sa, sb)))
            .cast(LongType)).as("s_micro"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_vecs"), sum(col("s_micro")).as("sum_s_micro"))
      .select(col("label").cast(LongType).as("label"), col("n_vecs"),
        col("sum_s_micro"),
        (col("sum_s_micro").cast(DoubleType) /
          (lit(1000000.0) * col("n_vecs"))).as("mean_s"))
      .orderBy("label")
  }

  /** Deterministic round-robin source interleave — the epoch-order
    * shuffle-free mixing a trainer streams ("one doc from each source in
    * turn, sources in name order, until each runs dry"). The global
    * position is computed in CLOSED FORM — pos = Σ_s min(cnt_s, rn−1) +
    * #{s' < s alive at rn} + 1 — from one per-source round rank and the
    * |sources|-row count frame fanned out map-side, so there is NO global
    * sort at any scale; the DuckDB oracle computes the same order with an
    * actual global row_number, independently proving the closed form. */
  private def interleave(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
    val ranked = docs(s, d).select(col("doc_id"), col("source"))
      .withColumn("rn", row_number().over(w).cast(LongType))
    val cnts = docs(s, d).groupBy(col("source").as("s2"))
      .agg(count(lit(1)).as("cnt"))
    ranked.crossJoin(broadcast(cnts))
      .groupBy(col("doc_id"), col("source"), col("rn"))
      .agg(sum(least(col("cnt"), col("rn") - 1) +
        when(col("s2") < col("source") && col("cnt") >= col("rn"), 1L)
          .otherwise(0L)).as("pos0"))
      .select(col("doc_id"), col("source"), col("rn"),
        (col("pos0") + 1).as("global_pos"))
      .orderBy("global_pos")
  }

  /** Benchmark decontamination: flag train-split docs sharing any word
    * 3-gram shingle with the test split (the leakage check every eval
    * pipeline runs before training). The benchmark shingle set is tiny
    * relative to the corpus — broadcast-joined, so the train side streams
    * through with no shuffle until the final per-doc count. Splits reuse
    * [[splitTrainTest]]'s content-hash buckets, so the check is stable
    * across corpus re-shardings. */
  private def textDecontaminate(s: SparkSession, d: String): DataFrame = {
    val base = docs(s, d).select(col("doc_id"),
      pmod(graft.plans.CustomExprs.poly_hash(col("text"), 7L), lit(100L)).as("bucket"),
      graft.plans.CustomExprs.shingles3_fast(tokens(col("text"))).as("ss"))
    val bench = base.filter(col("bucket") >= 90)
      .select(explode(col("ss")).as("sh")).distinct()
    val hits = base.filter(col("bucket") < 80)
      .select(col("doc_id"), explode(col("ss")).as("sh"))
      .join(broadcast(bench), "sh")
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("sh")).as("nh"))
    base.filter(col("bucket") < 80).select(col("doc_id"))
      .join(hits, Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        coalesce(col("nh"), lit(0L)).as("n_hit_shingles"),
        (coalesce(col("nh"), lit(0L)) > 0).as("is_contaminated"))
      .orderBy("doc_id")
  }

  /** Deterministic fixed-k per-stratum sample (reservoir semantics without
    * state): rank every event by a multiplicative hash of its id and keep
    * the k=5 smallest per event_type. Equivalent to a seeded uniform draw,
    * but re-runnable and shard-order-independent; one shuffle+sort per
    * stratum, and at scale the same shape runs through GroupedTopK's
    * bounded heaps instead of a full sort. */
  private def sampleReservoir(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("hkey"), col("event_id"))
    U.events(s, d)
      .withColumn("hkey",
        pmod(col("event_id") * lit(2654435761L) + lit(40503L), lit(1000000007L)))
      .withColumn("rn", row_number().over(w).cast(LongType))
      .filter(col("rn") <= 5)
      .select(col("event_type"), col("rn"), col("event_id"), col("user_id"),
        col("value"))
      .orderBy("event_type", "rn")
  }

  /** Symmetric int8 quantization of each embedding (the storage/serving
    * compression rung): per-vector scale = max|x|/127, q = floor(x/scale
    * + 0.5) — floor instead of round because the engines' round-half rules
    * differ while floor is exact. Error accounting in integer nano units so
    * the per-vector sums are associative. Explode keyed by vec_id — linear,
    * same shape as [[embLabelCentroid]]. */
  private def embQuantize(s: SparkSession, d: String): DataFrame = {
    val scale = nullif(
      expr("array_max(transform(embedding, x -> abs(cast(x as double))))") / lit(127.0),
      lit(0.0))
    U.tbl(s, d, "embeddings")
      .withColumn("scale", scale)
      .select(col("vec_id"), col("scale"),
        posexplode(col("embedding")).as(Seq("pos", "x")))
      .withColumn("xd", col("x").cast(DoubleType))
      .withColumn("q", least(lit(127L), greatest(lit(-127L),
        floor(col("xd") / col("scale") + lit(0.5)).cast(LongType))))
      .withColumn("err_nano",
        floor(abs(col("xd") - col("q").cast(DoubleType) * col("scale")) *
          lit(1000000000.0)).cast(LongType))
      .groupBy(col("vec_id"))
      .agg(max(col("scale")).as("scale"), count(lit(1)).as("n_dims"),
        sum(col("q")).as("sum_q"), sum(col("q") * col("q")).as("sum_q2"),
        sum(col("err_nano")).as("sum_abs_err_nano"))
      .orderBy("vec_id")
  }

  /** BPE tokenizer training, 3 merge rounds — the canonical
    * corpus-to-tokenizer job, distributed: the word vocabulary (one
    * shuffle) carries each word as a delimiter-anchored symbol string
    * `|c|h|a|r|`; each round explodes adjacent symbol pairs weighted by
    * word frequency, hash-aggregates pair counts, picks the
    * deterministic top pair ((freq DESC, pair) — a 1-row broadcast), and
    * applies the merge as TWO literal `replace` passes (the second pass
    * catches matches whose shared delimiter the first consumed; both
    * engines' literal replace scans left-to-right non-overlapping, so
    * the vocab rewrite is engine-identical). Output is the learned merge
    * table — the artifact a tokenizer ships. Per round: one pair
    * aggregation over Σ|word| symbols + a broadcast scalar; no step
    * grows with corpus size beyond the vocab rollup. */
  /** The 3-round training loop, shared by `pipeline_bpe_train` (its merge
    * table), `pipeline_tokenizer_bpe` (merge table + merged token +
    * corpus token count after each round), `pipeline_bpe_apply` (final
    * encoded vocabulary) and `pipeline_bpe_doc_tokens` (per-doc encoded
    * lengths — the vocab keeps `w` through the merges for that join). */
  private val bpeIndex = SharedIndex[(Seq[DataFrame], DataFrame)]("bpeRounds",
      Seq("pipeline_bpe_apply", "pipeline_bpe_doc_tokens",
        "pipeline_bpe_train", "pipeline_tokenizer_bpe"),
      t => Seq(t._2)) { (s, d) =>
    // four consumers (train / tokenizer report / apply / doc tokens)
    // share the training loop — the permPvals lesson applied at birth:
    // materialize once per (session, sfDir); tops are 1-row frames,
    // the vocab is Heaps-law bounded (localCheckpoint cuts the
    // 3-round crossJoin lineage so no consumer re-runs a pair agg)
    val (tops, vocab) = bpeRoundsBuild(s, d)
    val t = (tops.map(_.localCheckpoint()), vocab.persist())
    t._2.count()
    t
  }
  private def bpeRounds(s: SparkSession, d: String)
      : (Seq[DataFrame], DataFrame) = bpeIndex.get(s, d)

  private def bpeRoundsBuild(s: SparkSession, d: String)
      : (Seq[DataFrame], DataFrame) = {
    import graft.llm.TextUtil.tokens
    val nSyms = size(filter(split(col("sym"), "\\|"),
      x => length(x) > 0)).cast(LongType)
    var vocab = U.tbl(s, d, "documents")
      .select(explode(tokens(col("text"))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
      .withColumn("sym",
        concat(regexp_replace(col("w"), "(.)", "|$1"), lit("|")))
      .select(col("w"), col("freq"), col("sym"))
    val tops = (1 to 3).map { r =>
      val pairs = vocab
        .withColumn("syms", filter(split(col("sym"), "\\|"),
          x => length(x) > 0))
        // sequence(1, 0) counts DOWN — single-
        // symbol words contribute no pairs and must filter out first
        .filter(size(col("syms")) >= 2)
        .withColumn("i", explode(expr("sequence(1, size(syms) - 1)")))
        .select(col("freq"), expr("element_at(syms, i)").as("a"),
          expr("element_at(syms, CAST(i + 1 AS INT))").as("b"))
      val top = pairs.groupBy(col("a"), col("b"))
        .agg(sum(col("freq")).as("pair_freq"))
        .orderBy(col("pair_freq").desc, col("a"), col("b")).limit(1)
      vocab = vocab.crossJoin(broadcast(top))
        .withColumn("pat", concat(lit("|"), col("a"), lit("|"), col("b"),
          lit("|")))
        .withColumn("rep", concat(lit("|"), col("a"), col("b"), lit("|")))
        .select(col("w"), col("freq"),
          expr("replace(replace(sym, pat, rep), pat, rep)").as("sym"))
        // each round's vocab has THREE consumers (next pairs, the count
        // below, the next merge): eager-checkpoint so the pair agg and
        // argmax of round r run exactly once
        .localCheckpoint()
      // corpus token count AFTER this round's merge: the conservation
      // quantity (before − applications) a tokenizer report tracks
      val cnt = vocab.agg(sum(col("freq") * nSyms).as("corpus_tokens_after"))
      top.select(lit(r.toLong).as("round"), col("a").as("merge_left"),
        col("b").as("merge_right"), col("pair_freq"),
        concat(col("a"), col("b")).as("merged_token"))
        .crossJoin(broadcast(cnt))
    }
    (tops, vocab)
  }

  private def bpeTrain(s: SparkSession, d: String): DataFrame =
    bpeRounds(s, d)._1.reduce(_.unionByName(_))
      .select(col("round"), col("merge_left"), col("merge_right"),
        col("pair_freq"))
      .orderBy("round")

  /** Tokenizer TRAINING, the full per-round report (r13 verdict "What's
    * missing #2", extending [[bpeTrain]]'s merge table): each of the 3
    * deterministic BPE rounds ships its argmax pair (corpus-frequency
    * tiebroken (freq DESC, a, b)), the resulting merged token, and the
    * corpus-wide token count AFTER applying the merge — the
    * compression-curve row a tokenizer-training log emits. The merge is
    * the delimited double string-replace (leftmost non-overlapping, both
    * engines' replace semantics); Round14Spec recounts the whole loop
    * with an independent local fold and checks merge-count conservation
    * (tokens_after = tokens_before − applications). Scale shape: all
    * work runs on the DISTINCT-WORD frequency table (vocabulary-bounded,
    * Heaps-law sublinear in corpus size), never on raw docs; each round
    * is one pair explosion + hash agg + 1-row broadcast. */
  private def tokenizerBpe(s: SparkSession, d: String): DataFrame =
    bpeRounds(s, d)._1.reduce(_.unionByName(_)).orderBy("round")

  /** Tokenizer application at the DOCUMENT grain (the other half of the
    * r13 ask): each doc's whitespace token count beside its encoded
    * length under the 3 learned merges — the tokens-per-doc histogram
    * input every context-budget planner needs. One tokenize pass joined
    * to the per-word encoded lengths on the word key (token-key shuffle;
    * the vocab side is Heaps-law bounded but NOT assumed broadcastable
    * at 100 TB). */
  private def bpeDocTokens(s: SparkSession, d: String): DataFrame = {
    import graft.llm.TextUtil.tokens
    val (_, vocab) = bpeRounds(s, d)
    val wt = vocab.select(col("w"),
      size(filter(split(col("sym"), "\\|"), x => length(x) > 0))
        .cast(LongType).as("n_sym"))
    U.tbl(s, d, "documents")
      .select(col("doc_id"), explode(tokens(col("text"))).as("w"))
      .join(wt, "w")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens_ws"),
        sum(col("n_sym")).as("n_tokens_bpe"))
      .orderBy("doc_id")
  }

  /** Tokenizer APPLICATION: the corpus encoded with the 3 learned merges,
    * reduced to the top-20 resulting tokens by corpus occurrence — the
    * post-merge vocabulary view a tokenizer report shows (merged symbols
    * like `er` outrank the letters they absorbed). Same shapes as
    * training: one symbol explosion weighted by word frequency, one hash
    * agg, one bounded top-k. */
  private def bpeApply(s: SparkSession, d: String): DataFrame = {
    val (_, vocab) = bpeRounds(s, d)
    vocab
      .withColumn("syms", filter(split(col("sym"), "\\|"),
        x => length(x) > 0))
      .select(col("freq"), explode(col("syms")).as("token"))
      .groupBy(col("token")).agg(sum(col("freq")).as("n_occurrences"))
      .orderBy(col("n_occurrences").desc, col("token")).limit(20)
  }

  /** The dataset-card report (the summary table a corpus release ships
    * with): per source — document and token counts, the exact-duplicate
    * rate, the gopher-quality keep rate, and the source's share of the
    * total token budget. Every ratio is an integer-micro DIV of exact
    * counts (no doubles anywhere), the keep flag is THE
    * `text_gopher_rules` query joined back by doc_id (one definition),
    * and the global token total is a 1-row broadcast — one tokenize pass
    * plus one per-source rollup at any corpus size. */
  private def datasetCard(s: SparkSession, d: String): DataFrame = {
    val keep = graft.llm.TextAnalysis.gopherRules(s, d)
      .select(col("doc_id"), col("keep"))
    val base = U.tbl(s, d, "documents").select(col("doc_id"), col("source"),
      size(graft.llm.TextUtil.tokens(col("text"))).cast(LongType).as("n_tok"),
      sha2(col("text"), 256).as("h"))
    val per = base.join(keep, Seq("doc_id"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"),
        countDistinct(col("h")).as("n_unique"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_keep"))
    val tot = per.agg(sum(col("n_tokens")).as("all_tokens"))
    per.crossJoin(broadcast(tot))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        expr("(1000000 * (n_docs - n_unique)) DIV n_docs").as("dup_micro"),
        expr("(1000000 * n_keep) DIV n_docs").as("keep_micro"),
        expr("(1000000 * n_tokens) DIV all_tokens").as("token_share_micro"))
      .orderBy("source")
  }

  /** Per-dimension embedding standardization (the whitening-lite transform
    * a feature pipeline applies before distance-based models): each of the
    * 64 dimensions gets corpus mean/sd from exact integer micro-unit power
    * sums (the 64-row stats frame broadcasts), then every component is
    * z-scored and each vector reduced to sample z's plus the exact
    * micro-floored Σz² diagnostic (≈ n_dims for well-standardized data).
    * Two linear passes — a 64-group rollup and a map-side broadcast join —
    * at any corpus size; the only doubles are the shared (x−sx/n)/sd tree,
    * identical operand-for-operand in the oracle. */
  private def embStandardize(s: SparkSession, d: String): DataFrame = {
    val comp = U.track(U.tbl(s, d, "embeddings")
      .select(col("vec_id"), posexplode(microVec(col("embedding"))).as(Seq("pos", "x")))
      .persist())
    val stats = comp.groupBy(col("pos"))
      .agg(sum(col("x")).as("sx"), sum(col("x") * col("x")).as("sxx"),
        count(lit(1)).as("n"))
      .withColumn("mean", col("sx").cast(DoubleType) / col("n"))
      .withColumn("sd", sqrt((col("sxx").cast(DoubleType) -
        col("sx").cast(DoubleType) * col("sx").cast(DoubleType) / col("n")) /
        col("n")))
      .select(col("pos").as("sp"), col("mean"), col("sd"))
    comp.join(broadcast(stats), col("pos") === col("sp"))
      .withColumn("z", (col("x").cast(DoubleType) - col("mean")) / col("sd"))
      .groupBy(col("vec_id"))
      .agg(
        max(when(col("pos") === 0, col("z"))).as("z0"),
        max(when(col("pos") === 1, col("z"))).as("z1"),
        sum(floor(col("z") * col("z") * lit(1000000.0)).cast(LongType))
          .as("z2_total_micro"))
      .orderBy("vec_id")
  }

  /** Weighted dataset mixing (the "data recipe" step every pretraining run
    * starts with): per-source epoch factors — curated sources repeat
    * (oversample via explode of a copy sequence), bulk sources keep one
    * copy, tail sources downsample by a deterministic id hash. Pure
    * projection + generate: no shuffle; the copy multiplicity is the knob
    * a mixture-tuning loop turns, and re-running any shard reproduces the
    * same mixture exactly. */
  private def datasetMix(s: SparkSession, d: String): DataFrame = {
    val h = pmod(pmod(col("doc_id") * lit(2654435761L) + lit(101L),
      lit(1000000007L)), lit(100L))
    val srcIdx = substring(col("source"), 4, 10).cast(LongType)
    val copies = when(col("source").isin("src0", "src1"), lit(2L))
      .when(srcIdx < 10, lit(1L))
      .otherwise(when(h < 40, lit(1L)).otherwise(lit(0L)))
    docs(s, d)
      .withColumn("n_copies", copies)
      .filter(col("n_copies") > 0)
      .select(col("doc_id"), col("source"),
        explode(sequence(lit(1L), col("n_copies"))).as("copy_idx"))
      .orderBy("doc_id", "copy_idx")
  }

  /** Temperature (α = 0.5) language-balance factors — the multilingual
    * mixing step (the mT5/XLM-R sampling rule) that [[datasetMix]]'s
    * per-SOURCE factors don't cover: per language, exact token share
    * and the upsampling factor ∝ √(1/share), so low-resource languages
    * repeat more without letting any language dominate. The factor is
    * per-row independent — floor(10⁶·√(total/n_tokens)) — deliberately
    * avoiding any cross-language float SUM (aggregation order differs
    * between engines); √ itself is IEEE-754 correctly rounded, the same
    * cross-engine guarantee every cosine oracle already rides. One
    * explode-free token-count agg over one scan, |langs| output rows,
    * 1-row total broadcast. */
  private def pipelineLangBalance(s: SparkSession, d: String): DataFrame = {
    val perLang = docs(s, d)
      .select(col("lang"), size(tokens(col("text"))).cast(LongType).as("nt"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("nt")).as("n_tokens"))
    val tot = perLang.agg(sum(col("n_tokens")).as("tot_tokens"))
    perLang.crossJoin(broadcast(tot))
      .select(col("lang"), col("n_docs"), col("n_tokens"),
        expr("(1000000 * n_tokens) DIV tot_tokens").as("share_micro"),
        expr("CAST(floor(1000000.0 * sqrt(CAST(tot_tokens AS DOUBLE) / " +
          "CAST(n_tokens AS DOUBLE))) AS BIGINT)").as("upsample_micro"))
      .withColumn("balanced_tokens",
        expr("(n_tokens * upsample_micro) DIV 1000000"))
      .orderBy("lang")
  }

  /** Data-constrained epoch planning — the repeat-budget step (the
    * "Scaling Data-Constrained Language Models" recipe) that decides how
    * many epochs each SOURCE runs when the token budget (here 4× the
    * corpus) exceeds the unique data: targets allocated by α = 0.5
    * temperature weights (√n_tokens, the [[pipelineLangBalance]] rule at
    * source granularity), epochs capped at 4 — repetition beyond ~4
    * epochs is measured near-worthless, so a capped source reports its
    * shortfall (budget the mixer must redistribute) instead of
    * over-repeating. All integer micro arithmetic; the one budget×weight
    * product is widened internally (DECIMAL(38,0) / HUGEINT — exact,
    * never in the output schema per the §5 policy) so the plan survives
    * 100 TB token counts. One token-count agg over one scan, |sources|
    * output rows, 1-row total broadcast. */
  private def pipelineEpochPlan(s: SparkSession, d: String): DataFrame =
    epochPlanOn(docs(s, d).select(col("source"), col("text")))

  /** The epoch-plan kernel on a caller (source, text) frame — one
    * definition for the declared query and the [[graft.api.GraftApi]]
    * lift. */
  private[graft] def epochPlanOn(docsDf: DataFrame): DataFrame = {
    val perSrc = docsDf
      .select(col("source"), size(tokens(col("text"))).cast(LongType).as("nt"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("nt")).as("n_tokens"))
      .withColumn("w_micro",
        expr("CAST(floor(1000000.0 * sqrt(CAST(n_tokens AS DOUBLE))) AS BIGINT)"))
    val tot = perSrc.agg(sum(col("n_tokens")).as("tot_tokens"),
      sum(col("w_micro")).as("tot_w"))
    perSrc.crossJoin(broadcast(tot))
      .withColumn("target_tokens", expr(
        "CAST((4 * CAST(tot_tokens AS DECIMAL(38,0)) * w_micro) DIV tot_w " +
          "AS BIGINT)"))
      .withColumn("epochs_micro", expr(
        "least(CAST(4000000 AS BIGINT), (1000000 * target_tokens) DIV n_tokens)"))
      .withColumn("capped",
        expr("(1000000 * target_tokens) DIV n_tokens > 4000000"))
      .withColumn("tokens_served",
        expr("(n_tokens * epochs_micro) DIV 1000000"))
      .select(col("source"), col("n_docs"), col("n_tokens"), col("w_micro"),
        col("target_tokens"), col("epochs_micro"), col("capped"),
        col("tokens_served"),
        expr("target_tokens - tokens_served").as("shortfall"))
      .orderBy("source")
  }

  /** Overlapping fixed-width chunking (context-window preparation): each doc
    * becomes ceil-spaced 200-char windows at stride 150, indexed and carrying
    * their text. The chunk count is closed-form from the length, so the op
    * is a per-row generate (explode of a computed sequence) — embarrassingly
    * parallel, no shuffle, and the chunk→doc lineage is explicit in
    * (doc_id, chunk_idx). */
  private def docChunking(s: SparkSession, d: String): DataFrame = {
    val n = length(col("text")).cast(DoubleType)
    val k = greatest(lit(1L),
      ceil((n - lit(200.0)) / lit(150.0)) + lit(1L))
    docs(s, d)
      .withColumn("n_chunks", k)
      .withColumn("chunk_idx", explode(sequence(lit(0L), col("n_chunks") - 1)))
      .select(col("doc_id"), col("n_chunks"), col("chunk_idx"),
        expr("substr(text, CAST(chunk_idx * 150 + 1 AS INT), 200)").as("chunk"))
      .withColumn("chunk_len", length(col("chunk")).cast(LongType))
      .orderBy("doc_id", "chunk_idx")
  }

  /** Weighted systematic sampling: walk the corpus in doc_id order and emit
    * one doc every `step` characters of cumulative weight (n_chars), i.e. a
    * doc is selected when the running total crosses a step boundary — docs
    * are picked proportionally to their weight, the sample is fully
    * deterministic, and expected size tracks corpus size at any SF.
    * The scale-relevant part is the global prefix sum: computed in TWO
    * phases — per-range partials (one row per 1024-id range) cumulated with
    * a window over that tiny frame, broadcast back, then an intra-range
    * running sum partitioned by range — so no stage windows the full corpus
    * in a single partition (the naive global ORDER BY window would; this is
    * the distributed scan-prefix shape). */
  private def sampleWeighted(s: SparkSession, d: String): DataFrame = {
    val step = 10000L
    val base = docs(s, d).select(col("doc_id"), col("n_chars"))
      .withColumn("rng", expr("doc_id DIV 1024"))
    val offs = base.groupBy(col("rng"))
      .agg(sum(col("n_chars")).as("rng_sum"))
      .withColumn("rng_off", coalesce(
        sum(col("rng_sum")).over(Window.orderBy(col("rng"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("rng").as("o_rng"), col("rng_off"))
    val w = Window.partitionBy(col("rng")).orderBy(col("doc_id"))
    // |ranges| = |docs|/1024 — corpus-scaling, so the prefix-offset frame
    // rides the size gate rather than an unconditional broadcast
    val (offsG, wo) = graft.U.sizeGate(offs)
    base.join(wo(offsG), col("rng") === col("o_rng"))
      .withColumn("cw", col("rng_off") + sum(col("n_chars")).over(w))
      .filter(expr(s"cw DIV $step") > expr(s"(cw - n_chars) DIV $step"))
      .select(col("doc_id"), col("n_chars"), col("cw"))
      .orderBy("doc_id")
  }

  /** An embedding floored to exact integer micro-units (array<bigint>). */
  private[llm] def microVec(e: Column): Column =
    transform(e, x => floor(x.cast(DoubleType) * lit(1000000.0)))

  /** Top principal direction of the embedding Gram matrix by POWER
    * ITERATION in fixed-point integers, so it hash-matches a SQL oracle
    * on any engine and aggregation order (float power iteration does
    * not): 2 rounds of q = C·v renormalized by max-|component| with
    * integer division, computed locally over the collected [[gram]]
    * ([[GramKernel.topEigvec]]: two 64×64 mat-vecs, no Spark job). */
  private[llm] def embTopEigvec(s: SparkSession, d: String): DataFrame =
    s.createDataFrame(GramKernel.topEigvec(gram(s, d)).toSeq.zipWithIndex
      .map { case (v, i) => (i.toLong, v) }).toDF("dim", "v")

  /** Second principal direction by DEFLATED power iteration — the PCA-2
    * completion of [[embTopEigvec]]: iterate u ← C·u but project v₁ back
    * out after every renormalization, so the iteration converges inside
    * v₁'s orthogonal complement ([[GramKernel.pca2]], computed locally). The
    * one product past int64 (s·v₁ᵢ ≤ ~6.4e19) is DECIMAL(38,0) with
    * integral DIV; the oracle mirrors it in HUGEINT, both truncating
    * toward zero (probed: DuckDB's `//` over DECIMAL returns DOUBLE). */
  private def embPca2(s: SparkSession, d: String): DataFrame = {
    val (v1, v2) = GramKernel.pca2(gram(s, d))
    s.createDataFrame(v1.indices.map(i => (i.toLong, v1(i), v2(i))))
      .toDF("dim", "pc1", "pc2")
  }

  /** The collected dim×dim Gram of the fixed-point embeddings, cell
    * (i, j) = Σ xᵢ·xⱼ DIV 1e9, read by the [[GramKernel]] tails. The
    * corpus-sized build stays distributed and shuffle-free until the
    * dim²-cell exchange: nested posexplodes generate each row's outer
    * product narrowly and map-side partial aggregation collapses every
    * partition to ≤dim² cells. Only those dim² cells are collected. */
  private val gramIndex = SharedIndex[GramKernel.Gram]("gram", Seq(
      "emb_cka", "emb_pca2", "emb_project_eigvec", "emb_top_eigvec"),
      _ => Nil) { (s, d) =>
    val cells = U.tbl(s, d, "embeddings").select(microVec(col("embedding")).as("f"))
      .select(posexplode(col("f")).as(Seq("i", "x")), col("f"))
      .select(col("i"), col("x"), posexplode(col("f")).as(Seq("j", "y")))
      .groupBy(col("i"), col("j"))
      .agg(expr("sum(x * y) DIV 1000000000").as("c")).collect()
    val n = if (cells.isEmpty) 0 else cells.map(_.getInt(0)).max + 1
    val g = Array.ofDim[Long](n, n)
    cells.foreach(r => g(r.getInt(0))(r.getInt(1)) = r.getLong(2))
    g
  }
  private[llm] def gram(s: SparkSession, d: String): GramKernel.Gram =
    gramIndex.get(s, d)

  /** Projection of every embedding onto the top principal direction (the
    * PCA rung above [[embTopEigvec]]): proj = Σ fxᵢ·vᵢ DIV 1e6, then a
    * decile bucket — the 1-d spectral summary drift monitors and
    * curriculum samplers key on. All integer: fx and v are exact
    * micro-unit Longs (64 · 1e6 · 1e6 ≈ 6.4e13, inside Long) and both
    * engines truncate integral division toward zero, so the projections
    * hash-match. Scale shape: the eigvector is 64 rows (broadcast), the
    * projection is one linear agg; the decile comes from a TWO-LEVEL rank
    * — proj-range blocks (truncating division is monotone, so blocks are
    * contiguous intervals of the order) give per-block counts cumulated
    * over the tiny block frame, joined back size-gated, then an
    * intra-block row_number; ntile(10) is re-derived from the global
    * 0-based index by its closed form (first n%10 buckets hold
    * ⌈n/10⌉ rows, the rest ⌊n/10⌋), so no stage sorts the corpus in a
    * single partition and the output is bit-identical to the global
    * ntile. */
  private def embProjectEigvec(s: SparkSession, d: String): DataFrame = {
    val v = embTopEigvec(s, d)
    val flat = U.tbl(s, d, "embeddings")
      .select(col("vec_id"), posexplode(microVec(col("embedding"))).as(Seq("i", "x")))
    // persisted: three consumers (block counts, the corpus count, the
    // rank join) would otherwise each replay the 64-way explode join
    val projF = U.track(flat
      .join(broadcast(v), col("i").cast(LongType) === col("dim"))
      .groupBy(col("vec_id"))
      .agg(expr("sum(x * v) DIV 1000000").as("proj"))
      .withColumn("rng", expr("proj DIV 1048576"))
      .persist())
    val offs = projF.groupBy(col("rng"))
      .agg(count(lit(1)).as("rng_n"))
      .withColumn("rng_off", coalesce(
        sum(col("rng_n")).over(Window.orderBy(col("rng"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("rng").as("o_rng"), col("rng_off"))
    val tot = projF.agg(count(lit(1)).as("n_tot"))
    val wi = Window.partitionBy(col("rng")).orderBy(col("proj"), col("vec_id"))
    val (offsG, wo) = graft.U.sizeGate(offs)
    projF.join(wo(offsG), col("rng") === col("o_rng"))
      .crossJoin(broadcast(tot))
      .withColumn("gi",
        col("rng_off") + row_number().over(wi).cast(LongType) - 1L)
      .withColumn("decile", expr(
        "CASE WHEN gi < (n_tot % 10) * (n_tot DIV 10 + 1) " +
          "THEN gi DIV (n_tot DIV 10 + 1) + 1 " +
          "ELSE n_tot % 10 + (gi - (n_tot % 10) * (n_tot DIV 10 + 1)) " +
          "DIV nullif(n_tot DIV 10, 0) + 1 END"))
      .select(col("vec_id"), col("proj"), col("decile"))
      .orderBy("vec_id")
  }

  /** The operators COMPOSED as one pipeline — the thing a user actually
    * runs: language filter → length quality gate → exact-dedup keeper
    * pick → 200-char/150-stride chunking → per-chunk token count. Each
    * stage is the same formula as its standalone query; the oracle is the
    * same CTE chain, so the whole pipeline hash-matches end to end. */
  private def pipelineEnd2End(s: SparkSession, d: String): DataFrame = {
    val q = U.tbl(s, d, "documents")
      .filter(col("lang") === "en" && col("n_chars").between(150, 450))
    val keepers = q.groupBy(sha2(col("text"), 256))
      .agg(min(col("doc_id")).as("doc_id")).select("doc_id")
    q.join(keepers, "doc_id")
      .withColumn("chunk_idx",
        explode(array((0 until 10).map(i => lit(i.toLong)): _*)))
      .filter(col("chunk_idx") * 150 + 1 <= length(col("text")))
      .withColumn("chunk",
        expr("substring(text, CAST(chunk_idx * 150 + 1 AS INT), 200)"))
      .select(col("doc_id"), col("chunk_idx"),
        length(col("chunk")).cast(LongType).as("n_chars"),
        (length(col("chunk")) -
          length(expr("replace(chunk, ' ', '')")) + 1).cast(LongType)
          .as("n_tokens"))
      .orderBy("doc_id", "chunk_idx")
  }

  /** Temperature-scaled source mixture (the multinomial-sampling weights of
    * multilingual/multi-source training-data assembly, T = 2 i.e.
    * weight ∝ count^(1/2)): per-source √count is floored to integer
    * MICRO-UNITS immediately — sqrt is correctly rounded in IEEE 754 so
    * both engines floor the same double, and the TOTAL is then a sum of
    * exact integers (summing raw doubles would be order-dependent). The
    * final share division and the integer budget allocation both run on
    * exact operands. Two tiny hash aggs + one broadcast — trivially linear. */
  private def sampleTemperature(s: SparkSession, d: String): DataFrame = {
    val perSrc = docs(s, d).groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
      .withColumn("sqrt_micro",
        floor(sqrt(col("n_docs").cast(DoubleType)) * lit(1000000.0))
          .cast(LongType))
    val tot = perSrc.agg(sum(col("sqrt_micro")).as("tot"))
    perSrc.crossJoin(broadcast(tot))
      .select(col("source"), col("n_docs"), col("sqrt_micro"),
        (col("sqrt_micro").cast(DoubleType) / col("tot").cast(DoubleType))
          .as("weight"),
        expr("(1000 * sqrt_micro) DIV tot").as("n_target"))
      .orderBy("source")
  }

  /** Sign product-quantization code histogram: each 64-dim embedding is
    * split into 8 contiguous 8-dim blocks; a block's bit is the sign of its
    * component sum (computed over exact fixed-point micro-units, so the
    * sum — and therefore the bit — is aggregation-order-free), and the 8
    * bits pack into one code byte. The histogram over codes is the
    * collision profile a PQ/LSH index design starts from. Explode →
    * two-level hash agg — linear, and the same fixed-point doctrine as
    * [[labelComp]]. */
  private def embPqCode(s: SparkSession, d: String): DataFrame =
    U.tbl(s, d, "embeddings")
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("pos", "x")))
      .select(col("vec_id"), expr("pos DIV 8").as("blk"),
        floor(col("x").cast(DoubleType) * lit(1000000.0)).cast(LongType).as("xm"))
      .groupBy(col("vec_id"), col("blk")).agg(sum(col("xm")).as("bs"))
      .groupBy(col("vec_id"))
      .agg(sum(expr(
        "CASE WHEN bs > 0 THEN shiftleft(1L, CAST(blk AS INT)) ELSE 0L END"))
        .as("code"))
      .groupBy(col("code")).agg(count(lit(1)).as("n_vecs"))
      .orderBy("code")

  /** Class-balanced downsample of the labeled embeddings (the classifier-
    * training prep that equalizes class priors): every label keeps exactly
    * k = min class size rows, chosen by the deterministic multiplicative
    * id hash (the [[sampleReservoir]] recipe — stable under any row
    * order). The min rides in as a broadcast scalar frame; the per-label
    * selection is one window sort per label shard — no skew, since the
    * output per label is uniform by construction. */
  private def sampleBalanced(s: SparkSession, d: String): DataFrame = {
    val emb = U.tbl(s, d, "embeddings").select(col("vec_id"), col("label"))
    val kf = emb.groupBy(col("label")).agg(count(lit(1)).as("n"))
      .agg(min(col("n")).as("k"))
    val w = Window.partitionBy(col("label")).orderBy(col("hkey"), col("vec_id"))
    emb.withColumn("hkey",
        pmod(col("vec_id") * lit(2654435761L) + lit(40503L), lit(1000000007L)))
      .withColumn("rn", row_number().over(w).cast(LongType))
      .crossJoin(broadcast(kf))
      .filter(col("rn") <= col("k"))
      .select(col("label"), col("rn"), col("vec_id"))
      .orderBy("label", "rn")
  }

  /** The full curation funnel in ONE lineage (what a training-data run
    * actually executes — filter → boilerplate screen → soft-dedup weight →
    * per-source token budget): docs with ≥ 10 tokens, boilerplate ratio
    * < 0.5 (corpus-frequency sentence screen), each surviving doc weighted
    * by 1/|near-dup cluster|, rolled up to per-source kept-doc and
    * weighted-token budgets in exact micro-units. Every stage reuses a
    * shared cache or a linear shuffle the standalone operators already
    * pay; the value of the composite is the DAG — Catalyst sees the whole
    * funnel and schedules it without intermediate sinks. */
  private def pipelineCurate(s: SparkSession, d: String): DataFrame = {
    val base = docs(s, d)
      .select(col("doc_id"), col("source"), tokens(col("text")).as("toks"))
      .withColumn("n_tokens", size(col("toks")).cast(LongType))
      .filter(col("n_tokens") >= 10)
    val sent = docs(s, d).select(col("doc_id"),
      explode(filter(split(col("text"), "\\. "), x => length(x) > 0))
        .as("sent"))
    val cnt = sent.groupBy(col("sent"))
      .agg(countDistinct(col("doc_id")).as("ndocs"))
    val boiler = sent.join(cnt, Seq("sent")).groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_sent"),
        sum(when(col("ndocs") >= 5, 1L).otherwise(0L)).as("n_boiler"))
      .withColumn("boiler_micro", expr("(1000000 * n_boiler) DIV n_sent"))
    val w = Dedup.softWeights(s, d).select(col("doc_id"), col("weight_micro"))
    base.join(boiler.select(col("doc_id"), col("boiler_micro")), Seq("doc_id"))
      .filter(col("boiler_micro") < 500000L)
      .join(w, Seq("doc_id"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("raw_tokens"),
        sum(col("n_tokens") * col("weight_micro"))
          .as("weighted_tokens_micro"))
      .orderBy("source")
  }

  /** Shard-manifest assembly (the WebDataset/tar-archive step that turns a
    * corpus into fixed-size training shards): per source, docs pack in
    * doc_id order into ~64 KB shards — shard id = starting byte offset
    * DIV 65536, from one windowed prefix sum, so assignment is exact
    * integer arithmetic and every doc lands in exactly one shard. Per
    * source the window is a single sorted pass; sources shard in parallel
    * (the realistic layout — shards never span a subset). The manifest
    * (doc ranges + byte totals per shard) is what a loader actually
    * consumes. */
  private def packShards(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
    docs(s, d).select(col("source"), col("doc_id"),
        col("n_chars").cast(LongType).as("n_bytes"))
      .withColumn("cum", sum(col("n_bytes")).over(w))
      .withColumn("shard", expr("(cum - n_bytes) DIV 65536"))
      .groupBy(col("source"), col("shard"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_bytes")).as("shard_bytes"),
        min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"))
      .orderBy("source", "shard")
  }

  /** Token-budget curation cut: rank documents by a quality proxy
    * (type-token ratio in exact integer micro-units, doc_id tiebreak) and
    * keep the best until the cumulative token count exceeds 20% of the
    * corpus — the "best N tokens under a budget" selection every
    * curated-pretraining mix runs. The cut threshold compares exact
    * integers (5·cum <= total ⟺ cum <= 20% — no division); the cumulative
    * sum is NOT a global sort: docs block by score decile (scores are
    * micro-ints in [0, 1e6], so `score_micro DIV 100000` is a bounded,
    * order-aligned block key), per-block prefixes run partitioned, and
    * block baselines prefix over the ≤11-row block frame — the
    * sample_weighted two-level scan-prefix shape. */
  private def tokenBudget(s: SparkSession, d: String): DataFrame = {
    val base = docs(s, d).select(col("doc_id"),
        tokens(col("text")).as("toks"))
      .select(col("doc_id"), size(col("toks")).cast(LongType).as("n_tokens"),
        size(array_distinct(col("toks"))).cast(LongType).as("n_distinct"))
      .filter(col("n_tokens") > 0)
      .withColumn("score_micro", expr("(1000000 * n_distinct) DIV n_tokens"))
      // block key DESCENDING in score so block order == keep order
      .withColumn("blk", expr("10 - score_micro DIV 100000"))
    val offs = base.groupBy(col("blk").as("ob"))
      .agg(sum(col("n_tokens")).as("bsum"))
      .withColumn("boff", coalesce(
        sum(col("bsum")).over(Window.orderBy(col("ob"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("ob"), col("boff"))
    val wb = Window.partitionBy(col("blk"))
      .orderBy(col("score_micro").desc, col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = base.agg(sum(col("n_tokens")).as("total"))
    base.join(offs, col("blk") === col("ob"))
      .withColumn("cum", col("boff") + sum(col("n_tokens")).over(wb))
      .crossJoin(broadcast(tot))
      .filter(lit(5L) * col("cum") <= col("total"))
      .select(col("doc_id"), col("n_tokens"), col("score_micro"), col("cum"))
      .orderBy("doc_id")
  }

  /** Source-pair centroid drift over the documents-aligned embeddings
    * (vec_id = doc_id): exact fixed-point squared L2 between every pair
    * of per-source embedding centroids — "did crawl B's representation
    * distribution move away from crawl A's?", the embedding-space
    * companion of text_source_overlap/text_kl_source. Components and
    * floored-mean centroids follow the [[labelComp]] discipline; the
    * centroid frame is |sources|×64 rows (taxonomy-bounded broadcast)
    * and the distance is an exact integer in the 1e-12 fixed-point
    * domain (≤ 64·(2e6)² ≈ 2.6e14 — inside Long). The id join itself is
    * corpus-scale and shuffles on the key — no broadcast there. */
  private def embSourceDrift(s: SparkSession, d: String): DataFrame = {
    val comp = U.tbl(s, d, "embeddings")
      .join(docs(s, d).select(col("doc_id"), col("source")),
        col("vec_id") === col("doc_id"))
      .select(col("source"),
        posexplode(microVec(col("embedding"))).as(Seq("pos", "x")))
      .select(col("source"), (col("pos") + 1).cast(LongType).as("dim"),
        col("x"))
    val cent = comp.groupBy(col("source"), col("dim"))
      .agg(floor(sum(col("x")).cast(DoubleType) / count(lit(1)))
        .cast(LongType).as("cx"), count(lit(1)).as("nv"))
    val b = cent.select(col("source").as("src_b"), col("dim").as("dim2"),
      col("cx").as("cb"), col("nv").as("nb"))
    cent.join(broadcast(b), col("dim") === col("dim2") &&
        col("source") < col("src_b"))
      .groupBy(col("source").as("src_a"), col("src_b"))
      .agg(max(col("nv")).as("n_a"), max(col("nb")).as("n_b"),
        sum((col("cx") - col("cb")) * (col("cx") - col("cb")))
          .as("dist2_fp"))
      .orderBy("src_a", "src_b")
  }

  /** Embedding-norm hygiene: per label, the exact fixed-point squared-L2
    * norm distribution (min/max/sum) plus the top-3 most extreme vectors
    * by |norm² − label mean·n| — the degenerate-vector screen (zeroed,
    * clipped or exploded embeddings) run before any similarity search
    * trusts the corpus. Norms are exact integers in the 1e-12 domain
    * (≤ 64·(2e6)² per vector); the deviation compare is the n-scaled
    * integer |n·norm² − Σ| so the mean never divides. One explode-agg +
    * one |labels| broadcast + one GroupedTopK-shaped window. */
  private def embNormOutliers(s: SparkSession, d: String): DataFrame = {
    val norms = U.tbl(s, d, "embeddings")
      .select(col("vec_id"), col("label").cast(LongType).as("label"),
        expr("aggregate(transform(embedding, " +
          "x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)), " +
          "CAST(0 AS BIGINT), (acc, v) -> acc + v * v)").as("norm2"))
    val st = norms.groupBy(col("label").as("lb"))
      .agg(count(lit(1)).as("n"), sum(col("norm2")).as("sn"),
        min(col("norm2")).as("min_norm2"), max(col("norm2")).as("max_norm2"))
    val w = Window.partitionBy(col("label"))
      .orderBy(col("dev").desc, col("vec_id"))
    norms.join(broadcast(st), col("label") === col("lb"))
      .withColumn("dev",
        abs(col("n").cast(DecimalType(38, 0)) * col("norm2") - col("sn")))
      .withColumn("rank", row_number().over(w).cast(LongType))
      .filter(col("rank") <= 3)
      .select(col("label"), col("rank"), col("vec_id"), col("norm2"),
        col("n"), col("min_norm2"), col("max_norm2"))
      .orderBy("label", "rank")
  }

  /** T5-style span corruption on a deterministic grid: token positions
    * p with (p−1) mod 37 ∈ {5,6,7} are masked, each 3-token span replaced
    * by one `<extra_id_k>` sentinel in the input and emitted after its
    * sentinel in the target — the denoising-objective transform a T5/UL2
    * data pipeline runs over every document. The fixed grid (not a RNG)
    * keeps the whole transform exactly oracle-able: BOTH full strings
    * (masked input, target) hash-match, not just the counts. One
    * tokenize + two position-indexed transforms per doc; linear,
    * embarrassingly parallel. */
  private def spanCorruption(s: SparkSession, d: String): DataFrame = {
    val toks = tokens(col("text"))
    def spanIdx(i: Column): Column =
      ((i - lit(1)) / lit(37)).cast("int").cast("string")
    def posMod(i: Column): Column = pmod(i - lit(1), lit(37))
    U.tbl(s, d, "documents")
      .select(col("doc_id"), toks.as("tk"))
      .select(col("doc_id"), size(col("tk")).cast(LongType).as("n_tokens"),
        array_join(filter(transform(sequence(lit(1), greatest(size(col("tk")), lit(1))),
          i => when(i > size(col("tk")), lit(null).cast("string"))
            .when(posMod(i) === 5,
              concat(lit("<extra_id_"), spanIdx(i), lit(">")))
            .when(posMod(i) === 6 || posMod(i) === 7,
              lit(null).cast("string"))
            .otherwise(element_at(col("tk"), i))),
          x => x.isNotNull), " ").as("masked_text"),
        array_join(filter(transform(sequence(lit(1), greatest(size(col("tk")), lit(1))),
          i => when(i > size(col("tk")), lit(null).cast("string"))
            .when(posMod(i) === 5,
              concat(lit("<extra_id_"), spanIdx(i), lit("> "),
                element_at(col("tk"), i)))
            .when(posMod(i) === 6 || posMod(i) === 7,
              element_at(col("tk"), i))
            .otherwise(lit(null).cast("string"))),
          x => x.isNotNull), " ").as("target_text"),
        sum_spans(col("tk")).as("n_spans"))
      .orderBy("doc_id")
  }

  /** Number of span-start positions on the (p−1) mod 37 = 5 grid for an
    * n-token document: positions 6, 43, 80, … — exact closed form. */
  private def sum_spans(tk: Column): Column =
    when(size(tk) < 6, lit(0L))
      .otherwise(((size(tk).cast(LongType) - 6L) / lit(37L)).cast(LongType) + 1L)

  /** Fill-in-the-middle transform (PSM order): split each document's
    * tokens at the exact 1/3 and 2/3 positions and emit
    * `<fim_prefix> P <fim_suffix> S <fim_middle> M` — the infilling
    * objective code-LLM pipelines apply to a deterministic share of
    * documents (the [[spanCorruption]] sibling for autoregressive
    * models). Deterministic integer cuts (floor thirds) keep the full
    * transformed string hash-matchable; documents shorter than 3 tokens
    * pass through untransformed with fim_applied = false. One tokenize +
    * three slices per doc, linear. */
  private def pipelineFim(s: SparkSession, d: String): DataFrame = {
    val toks = tokens(col("text"))
    U.tbl(s, d, "documents")
      .select(col("doc_id"), toks.as("tk"))
      .select(col("doc_id"), size(col("tk")).cast(LongType).as("n_tokens"),
        (size(col("tk")) / lit(3)).cast("int").as("c1"),
        (size(col("tk")) * lit(2) / lit(3)).cast("int").as("c2"),
        col("tk"))
      .select(col("doc_id"), col("n_tokens"),
        col("c1").cast(LongType).as("cut1"),
        col("c2").cast(LongType).as("cut2"),
        (col("n_tokens") >= 3L).as("fim_applied"),
        when(col("n_tokens") < 3L, array_join(col("tk"), " "))
          .otherwise(concat(
            lit("<fim_prefix> "),
            array_join(slice(col("tk"), lit(1), col("c1")), " "),
            lit(" <fim_suffix> "),
            array_join(slice(col("tk"), col("c2") + 1,
              size(col("tk")) - col("c2")), " "),
            lit(" <fim_middle> "),
            array_join(slice(col("tk"), col("c1") + 1,
              col("c2") - col("c1")), " "))).as("fim_text"))
      .orderBy("doc_id")
  }

  /** Deterministic token-dropout augmentation (the masking-noise rung
    * beside [[pipelineSpanCorruption]]): the token at 0-based position p
    * of doc d drops when the TENS digit of the LCG hash
    * ((d mod 1e9+7)·1103515245 + p·12345 + 7) is 0 — i.e. hash mod 100
    * < 10, an exactly-10% pure per-row predicate (the UNITS digit would
    * be the classic low-bit LCG trap: multiplier ≡ 5 mod 10 makes it
    * land only on {2, 7}, a 0% mask — caught by Round10Spec's rate
    * band):
    * no rand(), no shuffle, reproducible across runs, engines and
    * partitionings (the [[sampleStratified]] discipline; the doc_id
    * pre-mod keeps the product inside Long at any id scale). Emits the
    * kept text and exact counts; Round10Spec pins the partition law
    * n_tokens = n_kept + n_dropped and run-over-run mask identity. */
  /** The mask column builder — ONE definition shared by the declared
    * query and [[graft.api.GraftApi.dropoutMask]]. */
  private[graft] def dropoutKeptCol(id: Column, toks: Column): Column =
    filter(toks, (_, p) =>
      pmod(pmod(id, lit(1000000007L)) * lit(1103515245L) +
        p.cast(LongType) * lit(12345L) + lit(7L), lit(100L)) >= 10L)

  private def pipelineDropoutMask(s: SparkSession, d: String): DataFrame =
    docs(s, d)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .withColumn("n_tokens", size(col("toks")).cast(LongType))
      .withColumn("kept", dropoutKeptCol(col("doc_id"), col("toks")))
      .select(col("doc_id"), col("n_tokens"),
        (col("n_tokens") - size(col("kept")).cast(LongType)).as("n_dropped"),
        concat_ws(" ", col("kept")).as("kept_text"))
      .orderBy("doc_id")

  /** Curriculum ordering — the shortest-first schedule a curriculum
    * trainer streams (short documents early, long ones late, the classic
    * length-as-difficulty proxy): every doc gets its global position in
    * (n_tokens, doc_id) order plus the 4-way phase it lands in. The rank
    * runs as the blocked two-level scan-prefix with the TOKEN COUNT as
    * the block key — a value-domain frame (rows ≤ |distinct counts|,
    * bounded by max doc length, independent of corpus size), so no stage
    * sorts the corpus in one partition; the phase is exact integer
    * arithmetic off the position and the total. */
  private def pipelineCurriculum(s: SparkSession, d: String): DataFrame =
    curriculumOn(docs(s, d).select(col("doc_id"), col("text")))

  /** The curriculum kernel over any (doc_id, text) frame — shared with
    * [[graft.api.GraftApi.curriculum]]. */
  private[graft] def curriculumOn(docsDf: DataFrame): DataFrame = {
    val base = U.track(docsDf
      .select(col("doc_id"), tokens(col("text")).as("tk"))
      .select(col("doc_id"), size(col("tk")).cast(LongType).as("n_tokens"))
      .persist())
    val offs = base.groupBy(col("n_tokens")).agg(count(lit(1)).as("c"))
      .withColumn("off", coalesce(
        sum(col("c")).over(Window.orderBy(col("n_tokens"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("n_tokens").as("o_nt"), col("off"))
    val w = Window.partitionBy(col("n_tokens")).orderBy(col("doc_id"))
    val (offsG, wo) = graft.U.sizeGate(offs)
    val tot = base.agg(count(lit(1)).as("n_total"))
    base.join(wo(offsG), col("n_tokens") === col("o_nt"))
      .withColumn("curriculum_pos", col("off") + row_number().over(w))
      .crossJoin(broadcast(tot))
      .select(col("doc_id"), col("n_tokens"), col("curriculum_pos"),
        expr("((curriculum_pos - 1) * 4) DIV n_total").as("phase"))
      .orderBy("doc_id")
  }

  /** Chat-template rendering for SFT data prep — the conversation
    * formatter a fine-tuning pipeline runs over every record: documents
    * split into alternating user/assistant turns of 24 tokens, rendered
    * with role tags, with the LOSS-MASK accounting (assistant-turn
    * tokens are the ones trained on) emitted beside the render. Pure
    * per-row expressions — no shuffle at all — and every piece (turn
    * count, render, mask counts) is exact integer/string arithmetic, so
    * the output hash-matches. */
  private def pipelineChatTemplate(s: SparkSession, d: String): DataFrame =
    docs(s, d).select(col("doc_id"), tokens(col("text")).as("tk"))
      .withColumn("n_tokens", size(col("tk")).cast(LongType))
      .filter(col("n_tokens") >= 1L)
      .withColumn("n_turns", expr("(n_tokens + 23) DIV 24"))
      .withColumn("rendered", expr(
        "array_join(transform(sequence(0, CAST(n_turns - 1 AS INT)), " +
          "i -> concat(IF(i % 2 = 0, '<|user|>', '<|assistant|>'), ' ', " +
          "concat_ws(' ', slice(tk, i * 24 + 1, 24)))), ' ')"))
      .withColumn("n_assistant_tokens", expr(
        "aggregate(sequence(0, CAST(n_turns - 1 AS INT)), CAST(0 AS BIGINT), " +
          "(acc, i) -> acc + IF(i % 2 = 1, " +
          "CAST(size(slice(tk, i * 24 + 1, 24)) AS BIGINT), CAST(0 AS BIGINT)))"))
      .select(col("doc_id"), col("n_turns"), col("n_tokens"),
        col("n_assistant_tokens"),
        length(col("rendered")).cast(LongType).as("rendered_len"),
        substring(col("rendered"), 1, 64).as("rendered_head"))
      .orderBy("doc_id")

  /** SFT loss-mask span table — the per-turn consumable the packer and
    * trainer actually read (where [[pipelineChatTemplate]] reports the
    * per-doc ACCOUNTING, this ships the spans): one row per 24-token
    * turn of the same alternating user/assistant split, with the
    * 1-based token span, its length, and the trained flag (assistant
    * turns carry loss; user turns are masked). Same turn arithmetic as
    * the template render — Round15Spec pins the cross-query law (the
    * trained spans sum to the template's n_assistant_tokens and the
    * spans exactly partition [1, n_tokens]). Pure per-row explode —
    * no shuffle before the output sort; span count is bounded by max
    * doc length, never corpus size. */
  private def pipelineLossMask(s: SparkSession, d: String): DataFrame =
    docs(s, d).select(col("doc_id"), tokens(col("text")).as("tk"))
      .withColumn("n_tokens", size(col("tk")).cast(LongType))
      .filter(col("n_tokens") >= 1L)
      .withColumn("n_turns", expr("(n_tokens + 23) DIV 24"))
      .select(col("doc_id"), col("n_tokens"),
        explode(expr("sequence(0L, n_turns - 1)")).as("turn_idx"))
      .select(col("doc_id"), col("turn_idx"),
        expr("IF(turn_idx % 2 = 0, 'user', 'assistant')").as("role"),
        expr("turn_idx * 24 + 1").as("tok_start"),
        expr("least(turn_idx * 24 + 24, n_tokens)").as("tok_end"),
        expr("least(turn_idx * 24 + 24, n_tokens) - turn_idx * 24")
          .as("n_turn_tokens"),
        expr("turn_idx % 2 = 1").as("trained"))
      .orderBy("doc_id", "turn_idx")

  /** Tokenizer-fertility profile per source — the diagnostic a corpus
    * owner reads before/after switching tokenizers (chars per token,
    * tokens per doc): per-source exact totals with floored micro-unit
    * ratios. One hash agg over one scan. */
  private def pipelineFertility(s: SparkSession, d: String): DataFrame =
    docs(s, d)
      .select(col("source"), length(col("text")).cast(LongType).as("nc"),
        size(tokens(col("text"))).cast(LongType).as("nt"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("nt")).as("n_tokens"),
        sum(col("nc")).as("n_chars"))
      .select(col("source"), col("n_docs"), col("n_tokens"), col("n_chars"),
        expr("(1000000 * n_chars) DIV n_tokens").as("chars_per_token_micro"),
        expr("(1000000 * n_tokens) DIV n_docs").as("tokens_per_doc_micro"))
      .orderBy("source")

  /** Sampling-seed overlap audit — the reproducibility/independence check
    * a data-governance pass runs on its deterministic samplers: the same
    * ~10% LCG tens-digit rule under three seeds (the multiplier carries
    * the seed — an additive term would preserve order, the epoch-shuffle
    * trap), with the pairwise overlap and Jaccard of the sampled sets.
    * Near-independent samplers overlap at ~1% of the corpus; a sampler
    * whose seeds collide (or alias through the LCG) shows up as inflated
    * Jaccard. Pure per-row predicates + one 3-group agg. */
  private def sampleSeedOverlap(s: SparkSession, d: String): DataFrame = {
    def sel(seed: Long): Column =
      pmod(pmod(col("doc_id"), lit(1000000007L)) *
        lit(1103515245L + seed * 777767777L) + lit(7L), lit(100L)) < 10L
    docs(s, d).select(col("doc_id"),
        sel(1L).as("s1"), sel(2L).as("s2"), sel(3L).as("s3"))
      .select(explode(array(
          struct(lit("1:2").as("pair"), col("s1").as("a"), col("s2").as("b")),
          struct(lit("1:3").as("pair"), col("s1").as("a"), col("s3").as("b")),
          struct(lit("2:3").as("pair"), col("s2").as("a"), col("s3").as("b"))))
        .as("p"))
      .groupBy(col("p.pair").as("pair"))
      .agg(sum(when(col("p.a"), 1L).otherwise(0L)).as("n_a"),
        sum(when(col("p.b"), 1L).otherwise(0L)).as("n_b"),
        sum(when(col("p.a") && col("p.b"), 1L).otherwise(0L)).as("n_both"))
      .select(col("pair"), col("n_a"), col("n_b"), col("n_both"),
        expr("(1000000 * n_both) DIV (n_a + n_b - n_both)")
          .as("jaccard_micro"))
      .orderBy("pair")
  }

  /** Context-window fit report — the sizing table read before choosing a
    * training context length: for each candidate window (512/2048/8192),
    * how many docs fit whole, how many tokens truncation would lose, and
    * the one-doc-per-sequence utilization in floored micro-units (the
    * padding waste the packer must then recover). One scan with the
    * candidate windows exploded alongside — exact integer arithmetic
    * throughout. */
  private def pipelineContextFit(s: SparkSession, d: String): DataFrame =
    docs(s, d).select(size(tokens(col("text"))).cast(LongType).as("nt"))
      .select(col("nt"), explode(array(lit(512L), lit(2048L), lit(8192L)))
        .as("context_len"))
      .groupBy(col("context_len"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("nt") <= col("context_len"), 1L).otherwise(0L))
          .as("n_fit"),
        sum(col("nt")).as("tokens_total"),
        sum(greatest(col("nt") - col("context_len"), lit(0L)))
          .as("tokens_truncated"),
        sum(least(col("nt"), col("context_len"))).as("tokens_kept"))
      .select(col("context_len"), col("n_docs"), col("n_fit"),
        col("tokens_total"), col("tokens_truncated"),
        expr("(1000000 * tokens_kept) DIV (context_len * n_docs)")
          .as("util_micro"))
      .orderBy("context_len")

  /** Per-dimension variance profile of the embedding space — the
    * pre-PCA screen ("which dims carry signal, which are dead"): exact
    * integer power sums per dimension with the variance in micro²
    * units by one integral DECIMAL division (n·Σx² − (Σx)² can pass
    * 2⁶³ at corpus scale, so the cross terms run in DECIMAL(38,0) —
    * the emb_label_separation discipline). One posexplode + one
    * 64-group hash agg. */
  private def embDimVariance(s: SparkSession, d: String): DataFrame =
    U.tbl(s, d, "embeddings")
      .select(posexplode(microVec(col("embedding"))).as(Seq("pos", "x")))
      .groupBy(col("pos"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum(col("x").cast(DecimalType(38, 0)) *
          col("x").cast(DecimalType(38, 0))).as("sxx"))
      .select(col("pos").cast(LongType).as("pos"), col("n"),
        expr("sx DIV n").as("mean_micro"),
        expr("CAST((CAST(n AS DECIMAL(38,0)) * sxx - " +
          "CAST(sx AS DECIMAL(38,0)) * sx) DIV " +
          "(CAST(n AS DECIMAL(38,0)) * n) AS BIGINT)").as("var_micro2"))
      .orderBy("pos")

  /** The packing quality gate a data loader reads before training — per
    * 2048-token batch off [[packSequences]]' OWN output (the r9 gate
    * discipline: one definition shared with the operator it gates): how
    * many docs start in the batch, how many straddle its boundary (the
    * fragmentation that forces splitting or padding downstream), the
    * token mass started, and the doc-id span. One hash agg over the
    * packing frame. */
  private def pipelinePackEfficiency(s: SparkSession, d: String): DataFrame =
    packSequences(s, d)
      .groupBy(col("batch_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("batch_offset") + col("n_tokens") > 2048L, 1L)
          .otherwise(0L)).as("n_straddlers"),
        sum(col("n_tokens")).as("tokens_started"),
        min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc"))
      .orderBy("batch_id")

  /** Deterministic epoch shuffle — the data-loader permutation every
    * training run needs reproducible: epoch e orders the corpus by the
    * LCG key ((doc_id mod 1e9+7)·(1103515245 + e·777767777) + 7) mod 1e9+7
    * (doc_id tie-break), so any worker can recompute any epoch's order
    * with no stored permutation and no rand(). The global rank runs as
    * the blocked two-level scan-prefix over 2²⁰-wide HASH-RANGE blocks —
    * the block frame is ≤ ⌈1e9+7 / 2²⁰⌉ = 954 rows, a CONSTANT bound
    * (tighter than the doc-range blocks: the hash domain is fixed), so
    * no stage sorts the corpus in one partition at any size. Emits the
    * positions of epochs 0 and 1 side by side; Round10Spec pins that
    * both are permutations and that they genuinely differ. */
  private def pipelineEpochShuffle(s: SparkSession, d: String): DataFrame =
    epochShuffleOn(docs(s, d).select(col("doc_id")))

  /** The shuffle kernel over any single-column id frame — shared by the
    * declared query and [[graft.api.GraftApi.epochShuffle]]. */
  private[graft] def epochShuffleOn(ids: DataFrame): DataFrame = {
    val base = U.track(ids.persist())
    def ranked(e: Int): DataFrame = {
      // the multiplier, not an additive term, must carry the epoch: a
      // constant shift mod M preserves the order except at the wrap,
      // i.e. epochs would be near-identical permutations (caught by the
      // Round10Spec moved-fraction law)
      val h = pmod(pmod(col("doc_id"), lit(1000000007L)) *
        lit(1103515245L + e.toLong * 777767777L) + lit(7L),
        lit(1000000007L))
      val b = base.withColumn("h", h)
        .withColumn("rng", expr("h DIV 1048576"))
      val offs = b.groupBy(col("rng")).agg(count(lit(1)).as("c"))
        .withColumn("off", coalesce(
          sum(col("c")).over(Window.orderBy(col("rng"))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .select(col("rng").as("o_rng"), col("off"))
      val w = Window.partitionBy(col("rng")).orderBy(col("h"), col("doc_id"))
      val (offsG, wo) = graft.U.sizeGate(offs)
      b.join(wo(offsG), col("rng") === col("o_rng"))
        .select(col("doc_id"),
          (col("off") + row_number().over(w)).as(s"pos$e"))
    }
    ranked(0).join(ranked(1), "doc_id")
      .select(col("doc_id"), col("pos0"), col("pos1"))
      .orderBy("doc_id")
  }

  /** Weighted stride-scheduled source mixing — the deterministic order a
    * multilingual/multi-source trainer actually streams when sources
    * carry UNEQUAL target weights (the [[interleave]] round-robin is the
    * equal-weight special case): each source's docs get virtual times
    * vt = rn·1e12 DIV w_micro with w the SAME √count temperature weight
    * [[sampleTemperature]] emits (one definition — the mix cannot drift
    * from the declared weights), and the mix order is the global
    * (vt, source, rn) rank — classic stride scheduling, whose prefix
    * proportions provably track the weights to ±1 stride per source
    * (the Round10Spec law). The global rank runs as a blocked
    * THREE-level scan-prefix: 2²⁰-wide vt ranges for the within-block
    * rank, and the range offsets themselves computed through 2²⁰-wide
    * SUPER-ranges — the top (unpartitioned) frame is ≤⌈vt_max/2⁴⁰⌉ rows
    * with vt_max = √n_s·1e6, i.e. ONE row up to ~10¹² docs per source
    * (constant-bounded like [[pipelineEpochShuffle]]'s ≤954-row frame;
    * the r10 √corpus mid-level no longer passes through one partition). */
  private def pipelineMixSchedule(s: SparkSession, d: String): DataFrame = {
    val w = docs(s, d).groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
      .withColumn("w_micro",
        floor(sqrt(col("n_docs").cast(DoubleType)) * lit(1000000.0))
          .cast(LongType))
    val wr = Window.partitionBy(col("source")).orderBy(col("doc_id"))
    val base = U.track(docs(s, d).select(col("doc_id"), col("source"))
      .withColumn("rn", row_number().over(wr).cast(LongType))
      .join(broadcast(w.select(col("source").as("ws"), col("w_micro"))),
        col("source") === col("ws"))
      .withColumn("vt", expr("CAST((CAST(rn AS DECIMAL(38,0)) * " +
        "1000000000000) DIV w_micro AS BIGINT)"))
      .withColumn("rng", expr("vt DIV 1048576"))
      .persist())
    val cnt = base.groupBy(col("rng")).agg(count(lit(1)).as("c"))
      .withColumn("srng", expr("rng DIV 1048576"))
    val sOffs = cnt.groupBy(col("srng")).agg(sum(col("c")).as("sc"))
      .withColumn("soff", coalesce(
        sum(col("sc")).over(Window.orderBy(col("srng"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("srng").as("s_srng"), col("soff"))
    val wIn = Window.partitionBy(col("srng")).orderBy(col("rng"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val (sOffsG, swo) = graft.U.sizeGate(sOffs)
    val offs = cnt.join(swo(sOffsG), col("srng") === col("s_srng"))
      .withColumn("off", col("soff") + coalesce(sum(col("c")).over(wIn),
        lit(0L)))
      .select(col("rng").as("o_rng"), col("off"))
    val wb = Window.partitionBy(col("rng"))
      .orderBy(col("vt"), col("source"), col("rn"))
    val (offsG, wo) = graft.U.sizeGate(offs)
    base.join(wo(offsG), col("rng") === col("o_rng"))
      .select(col("doc_id"), col("source"), col("rn"), col("vt"),
        (col("off") + row_number().over(wb)).as("mix_pos"))
      .orderBy("mix_pos")
  }

  /** Per-doc alpha-density quality score in exact milli — the one score
    * definition shared by [[pipelineDpoPairs]] and [[pipelineBestOfK]]
    * so the two preference-mining shapes cannot drift. */
  private def scoredDocs(s: SparkSession, d: String): DataFrame =
    docs(s, d).filter(col("n_chars") > 0L)
      .select(col("doc_id"), col("source"),
        expr("(1000 * length(regexp_replace(text, ' ', ''))) DIV n_chars")
          .as("score"))

  /** DPO preference-pair mining per source — the max-margin pairing a
    * preference-data pipeline runs over scored generations: docs ranked
    * by the deterministic quality score (alpha density, exact milli),
    * rank i paired with rank n+1−i (best-vs-worst maximizes the reward
    * margin the DPO loss trains on), per-source pair counts and exact
    * margin stats shipped. The rank is the VALUE-DOMAIN blocked rank
    * (the curriculum idiom): offsets over the ≤1001-row per-source score
    * domain, then row_number only within (source, score) blocks — no
    * corpus-wide sort at any scale. */
  private def pipelineDpoPairs(s: SparkSession, d: String): DataFrame = {
    val base = U.track(scoredDocs(s, d).persist())
    val offs = base.groupBy(col("source"), col("score"))
      .agg(count(lit(1)).as("c"))
      .withColumn("off", coalesce(
        sum(col("c")).over(Window.partitionBy(col("source"))
          .orderBy(col("score").desc)
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("source").as("os"), col("score").as("osc"), col("off"))
    val wb = Window.partitionBy(col("source"), col("score"))
      .orderBy(col("doc_id"))
    val (offsG, wo) = U.sizeGate(offs)
    val cnt = base.groupBy(col("source").as("cs"))
      .agg(count(lit(1)).as("nd"))
    val ranked = base.join(wo(offsG),
        col("source") === col("os") && col("score") === col("osc"))
      .withColumn("rn", col("off") + row_number().over(wb))
      .join(broadcast(cnt), col("source") === col("cs"))
    val top = ranked.filter(col("rn") <= expr("nd DIV 2"))
      .select(col("source"), col("rn"), col("score").as("chosen_score"))
    val bot = ranked.filter(col("rn") > col("nd") - expr("nd DIV 2"))
      .select(col("source").as("bs"), (col("nd") + 1L - col("rn")).as("brn"),
        col("score").as("rejected_score"))
    top.join(bot, col("source") === col("bs") && col("rn") === col("brn"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("chosen_score") - col("rejected_score")).as("sm"),
        min(col("chosen_score") - col("rejected_score"))
          .as("min_margin_milli"),
        max(col("chosen_score") - col("rejected_score"))
          .as("max_margin_milli"))
      .select(col("source"), col("n_pairs"),
        expr("sm DIV n_pairs").as("mean_margin_milli"),
        col("min_margin_milli"), col("max_margin_milli"))
      .orderBy("source")
  }

  /** Best-of-k rejection sampling over fixed groups of 4 consecutive doc
    * ids — the distillation/RFT keep-argmax step: each group keeps its
    * highest-scoring doc (ties to the smallest id, via one lexicographic
    * struct max — no window over the corpus), and the per-source table
    * reports how many groups each source wins, its keep ratio, and the
    * exact milli score gain of selection over the group mean. One hash
    * agg on the group key + one id-key join back for the winner's
    * source. */
  private def pipelineBestOfK(s: SparkSession, d: String): DataFrame = {
    val scored = scoredDocs(s, d)
    val grp = scored.withColumn("g", expr("doc_id DIV 4"))
      .groupBy(col("g"))
      .agg(max(struct(col("score"), (-col("doc_id")).as("nid"))).as("m"),
        sum(col("score")).as("ssum"), count(lit(1)).as("kn"))
      .select((-col("m.nid")).as("best_id"),
        col("m.score").as("best_score"),
        expr("ssum DIV kn").as("avg_milli"))
    val src = scored.select(col("doc_id").as("sid"), col("source"))
    val tot = scored.groupBy(col("source").as("ts"))
      .agg(count(lit(1)).as("n_docs"))
    grp.join(src, col("best_id") === col("sid"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_groups_won"),
        sum(col("best_score") - col("avg_milli")).as("sg"),
        max(col("best_score") - col("avg_milli")).as("max_gain_milli"))
      .join(broadcast(tot), col("source") === col("ts"))
      .select(col("source"), col("n_docs"), col("n_groups_won"),
        expr("(1000000 * n_groups_won) DIV n_docs").as("keep_ratio_micro"),
        expr("sg DIV n_groups_won").as("mean_gain_milli"),
        col("max_gain_milli"))
      .orderBy("source")
  }

  /** Importance-sampling diagnostics for reweighting the corpus toward a
    * UNIFORM source mix — the question behind every mixture change "can I
    * reweight instead of recollect?": each source's weight is the exact
    * integral target/actual ratio in micro, and the corpus-level
    * effective sample size fraction ESS = (Σw)²/(n·Σw²) (Kish) ships
    * beside the table — a low ESS says the reweighted corpus behaves
    * like far fewer documents and the mix needs real data, not weights.
    * All integer: two taxonomy-sized aggregates, DECIMAL(38,0) cross
    * terms, nothing touches the documents twice. */
  /** DSIR-style importance-resampling weights (Xie et al.'s hashed-
    * n-gram data-selection step — the published way a pretraining
    * pipeline upweights raw documents that look like a target domain
    * without training a classifier): every doc's unigrams + bigrams hash
    * into 64 buckets, the target distribution is the `src0` slice (the
    * deterministic stand-in for "high-quality domain sample"), and each
    * doc scores Σ_b n_b·ln(p̂_target(b)/p̂_raw(b)) with Laplace-smoothed
    * bucket probabilities. Counts stay exact; each bucket's log-ratio is
    * ONE ln of an exact rational floored to micro-nats (the unigramLp
    * doctrine) and doc scores are exact integer dot products against
    * the 64-row broadcast score table. Scale shape: one feature
    * explosion + hash aggs; the score table is hash-domain-bounded (64
    * rows at any corpus size). */
  private def dsirWeights(s: SparkSession, d: String): DataFrame = {
    val base = U.tbl(s, d, "documents")
      .select(col("doc_id"), col("source"), tokens(col("text")).as("toks"))
    val uni = base.select(col("doc_id"), col("source"),
      explode(col("toks")).as("f"))
    val bi = base.select(col("doc_id"), col("source"),
      explode(graft.plans.CustomExprs.spans_w(col("toks"), 2, "_")).as("f"))
    // codegen'd PolyHash, not the interpreted HOF fold (the §4 lesson:
    // interpreted lambdas over millions of feature strings dominate)
    val fe = U.track(uni.unionByName(bi)
      .withColumn("b",
        pmod(graft.plans.CustomExprs.poly_hash(col("f"), 17L), lit(64L)))
      .persist())
    // r16 (guide §2.4): ONE pass over the cached feature frame builds both
    // per-bucket counts (raw, and target as a conditional sum — a bucket
    // with no src0 rows folds to 0, exactly the old left-join coalesce),
    // and the corpus totals fold over the 64-row bucket frame instead of
    // re-scanning fe twice more. 4 fe-wide jobs -> 1; the ln input values
    // are bit-identical, so the floored micro-nat scores cannot move.
    val perB = U.track(fe.groupBy(col("b"))
      .agg(count(lit(1)).as("cr"),
        sum(when(col("source") === "src0", 1L).otherwise(0L)).as("ct"))
      .persist())
    val tots = perB.agg(sum(col("cr")).as("r"), sum(col("ct")).as("t"))
    val sc = perB.crossJoin(broadcast(tots))
      .select(col("b"),
        expr("CAST(floor(ln((CAST(coalesce(ct, 0) + 1 AS DOUBLE) * " +
          "(r + 64)) / (CAST(cr + 1 AS DOUBLE) * (t + 64))) * " +
          "1000000.0) AS BIGINT)").as("sb"))
    fe.groupBy(col("doc_id"), col("b")).agg(count(lit(1)).as("nb"))
      .join(broadcast(sc), Seq("b"))
      .groupBy(col("doc_id"))
      .agg(sum(col("nb")).as("n_features"),
        sum(col("nb") * col("sb")).as("dsir_micro"))
      .orderBy("doc_id")
  }

  private def sampleEss(s: SparkSession, d: String): DataFrame = {
    val per = docs(s, d).groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"))
    val tot = per.agg(sum(col("n_docs")).as("n_total"),
      count(lit(1)).as("n_sources"))
    val w = U.track(per.crossJoin(broadcast(tot))
      .withColumn("w_micro",
        expr("CAST((CAST(1000000 AS DECIMAL(38,0)) * n_total) DIV " +
          "(n_docs * n_sources) AS BIGINT)"))
      .persist())
    val g = w.agg(
      expr("SUM(CAST(n_docs AS DECIMAL(38,0)) * w_micro)").as("sw"),
      expr("SUM(CAST(n_docs AS DECIMAL(38,0)) * w_micro * w_micro)")
        .as("sw2"),
      sum(col("n_docs")).as("nt"))
    w.crossJoin(broadcast(g))
      .select(col("source"), col("n_docs"), col("w_micro"),
        expr("CAST((1000000 * sw * sw) DIV nullif(nt * sw2, 0) AS BIGINT)")
          .as("ess_micro"))
      .orderBy("source")
  }

  /** Length-bucketed batching table — the dynamic-batching sizing read a
    * training loader takes to kill padding waste: documents grouped into
    * 128-token buckets, each bucket reporting its doc count, exact token
    * total, the padding tokens burned batching to the bucket ceiling,
    * and the waste fraction in micro. Pure per-row bucket key + one hash
    * agg — the cheapest answer to "is sorting by length worth it?". */
  private def pipelineLengthBuckets(s: SparkSession, d: String): DataFrame =
    docs(s, d)
      .select(size(tokens(col("text"))).cast(LongType).as("n_tokens"))
      .withColumn("bucket", expr("n_tokens DIV 128"))
      .withColumn("cap", (col("bucket") + 1L) * 128L)
      .groupBy(col("bucket"), col("cap"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("sum_tokens"),
        sum(col("cap") - col("n_tokens")).as("pad_tokens"))
      .select(col("bucket"), col("cap"), col("n_docs"), col("sum_tokens"),
        col("pad_tokens"),
        expr("CAST((CAST(1000000 AS DECIMAL(38,0)) * pad_tokens) DIV " +
          "(n_docs * cap) AS BIGINT)").as("waste_micro"))
      .orderBy("bucket")

  /** Group-relative advantage estimation (the GRPO/RLOO shape) over the
    * corpus: documents grouped by `source` play the prompt groups, the
    * deterministic reward is the whitespace token count, and each doc's
    * advantage is its reward against the group mean — exact integers:
    * adv_micro = 10⁶·r − (10⁶·Σr DIV n), with NO σ division (the
    * mean-baseline GRPO variant; a σ-normalized advantage needs sqrt,
    * which is not oracle-stable). The within-group rank (reward desc,
    * doc_id tiebreak) ships beside it — the best-of-group pick a
    * rejection-sampling loop reads. One hash agg on the 20-value source
    * column, broadcast back over the corpus scan — the advantage pass
    * stays one shuffle at any SF. */
  private def grpoAdvantages(s: SparkSession, d: String): DataFrame = {
    val r = docs(s, d).select(col("doc_id"), col("source"),
      size(tokens(col("text"))).cast(LongType).as("reward"))
    val g = r.groupBy(col("source").as("src"))
      .agg(count(lit(1)).as("group_n"),
        expr("CAST((CAST(SUM(reward) AS DECIMAL(38,0)) * 1000000) " +
          "DIV COUNT(*) AS BIGINT)").as("mean_micro"))
    val w = Window.partitionBy(col("source"))
      .orderBy(col("reward").desc, col("doc_id"))
    r.join(broadcast(g), col("source") === col("src"))
      .select(col("doc_id"), col("source"), col("reward"), col("group_n"),
        col("mean_micro"),
        (col("reward") * lit(1000000L) - col("mean_micro")).as("adv_micro"),
        row_number().over(w).cast(LongType).as("grp_rank"))
      .orderBy("doc_id")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "pipeline_grpo_adv" -> grpoAdvantages _,
    "pipeline_length_buckets" -> pipelineLengthBuckets _,
    "sample_ess" -> sampleEss _,
    "pipeline_dsir_weights" -> dsirWeights _,
    "pipeline_dpo_pairs" -> pipelineDpoPairs _,
    "pipeline_best_of_k" -> pipelineBestOfK _,
    "pipeline_mix_schedule" -> pipelineMixSchedule _,
    "pipeline_epoch_shuffle" -> pipelineEpochShuffle _,
    "pipeline_curriculum" -> pipelineCurriculum _,
    "pipeline_chat_template" -> pipelineChatTemplate _,
    "pipeline_loss_mask" -> pipelineLossMask _,
    "pipeline_lang_balance" -> pipelineLangBalance _,
    "pipeline_epoch_plan" -> pipelineEpochPlan _,
    "pipeline_fertility" -> pipelineFertility _,
    "pipeline_context_fit" -> pipelineContextFit _,
    "emb_dim_variance" -> embDimVariance _,
    "sample_seed_overlap" -> sampleSeedOverlap _,
    "pipeline_pack_efficiency" -> pipelinePackEfficiency _,
    "pipeline_dropout_mask" -> pipelineDropoutMask _,
    "pipeline_fim" -> pipelineFim _,
    "pipeline_span_corruption" -> spanCorruption _,
    "emb_norm_outliers" -> embNormOutliers _,
    "emb_source_drift" -> embSourceDrift _,
    "pipeline_token_budget" -> tokenBudget _,
    "pack_shards" -> packShards _,
    "pipeline_curate" -> pipelineCurate _,
    "sample_balanced" -> sampleBalanced _,
    "sample_temperature" -> sampleTemperature _,
    "emb_pq_code" -> embPqCode _,
    "pipeline_end2end" -> pipelineEnd2End _,
    "emb_top_eigvec" -> embTopEigvec _,
    "emb_pca2" -> embPca2 _,
    "emb_project_eigvec" -> embProjectEigvec _,
    "sample_weighted" -> sampleWeighted _,
    "dataset_mix" -> datasetMix _,
    "doc_chunking" -> docChunking _,
    "text_decontaminate" -> textDecontaminate _,
    "sample_reservoir" -> sampleReservoir _,
    "emb_quantize" -> embQuantize _,
    "emb_standardize" -> embStandardize _,
    "pipeline_dataset_card" -> datasetCard _,
    "pipeline_bpe_train" -> bpeTrain _,
    "pipeline_tokenizer_bpe" -> tokenizerBpe _,
    "pipeline_bpe_doc_tokens" -> bpeDocTokens _,
    "pipeline_bpe_apply" -> bpeApply _,
    "emb_label_centroid" -> embLabelCentroid _,
    "emb_label_outlier" -> embLabelOutlier _,
    "emb_silhouette" -> embSilhouette _,
    "pipeline_interleave" -> interleave _,
    "split_train_test" -> splitTrainTest _,
    "pipeline_split_leakage" -> splitLeakage _,
    "sample_stratified" -> sampleStratified _,
    "dedup_normalized" -> dedupNormalized _,
    "pack_sequences" -> packSequences _)

  /** The exploded-component + floored-mean-centroid CTE chain, shared by
    * the emb_label_centroid and emb_label_outlier oracles — one definition
    * so the two cannot drift (mirrors [[labelComp]]/[[labelCent]]). */
  private val labelCentCtes =
    "f AS (SELECT vec_id, label, list_transform(embedding, " +
      "x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS fx " +
      "FROM embeddings), " +
      "comp AS (SELECT vec_id, label, CAST(i AS BIGINT) AS dim, " +
      "fx[CAST(i AS INTEGER)] AS x FROM f CROSS JOIN range(1, 65) t(i)), " +
      "cent AS (SELECT label, dim, CAST(floor(CAST(SUM(x) AS DOUBLE) " +
      "/ COUNT(*)) AS BIGINT) AS cx, COUNT(*) AS n_vecs " +
      "FROM comp GROUP BY label, dim)"

  /** The fixed-point power-iteration CTE chain, shared by the eigvector
    * oracle and the projection oracle built on top of it — one definition
    * so the two cannot drift. */
  private[llm] val eigvecCtes =
    "fx AS (SELECT vec_id, list_transform(embedding, x -> " +
      "CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS f " +
      "FROM embeddings), " +
      "flat AS (SELECT vec_id, u.i - 1 AS i, u.x AS x FROM fx, " +
      "LATERAL (SELECT UNNEST(f) AS x, generate_subscripts(f, 1) AS i) u), " +
      "gram AS (SELECT a.i AS i, b.i AS j, " +
      "CAST(SUM(a.x * b.x) // 1000000000 AS BIGINT) AS c " +
      "FROM flat a JOIN flat b ON a.vec_id = b.vec_id GROUP BY a.i, b.i), " +
      "v0 AS (SELECT i AS dim, CAST(1000000 AS BIGINT) AS v " +
      "FROM (SELECT DISTINCT i FROM gram)), " +
      "q1 AS (SELECT g.i AS dim, CAST(SUM(g.c * v0.v) AS BIGINT) AS q " +
      "FROM gram g JOIN v0 ON g.j = v0.dim GROUP BY g.i), " +
      "v1 AS (SELECT dim, CAST((q * 1000000) // " +
      "(SELECT MAX(abs(q)) FROM q1) AS BIGINT) AS v FROM q1), " +
      "q2 AS (SELECT g.i AS dim, CAST(SUM(g.c * v1.v) AS BIGINT) AS q " +
      "FROM gram g JOIN v1 ON g.j = v1.dim GROUP BY g.i), " +
      "v2 AS (SELECT dim, CAST((q * 1000000) // " +
      "(SELECT MAX(abs(q)) FROM q2) AS BIGINT) AS v FROM q2)"

  /** One deflated power-iteration round for the emb_pca2 oracle: q = C·u,
    * renormalize, project the (converged, 2-iteration) first eigvector
    * `v2` out in HUGEINT (truncating integral division — the probed match
    * for Spark's DECIMAL(38,0) DIV), renormalize again. */
  private def pca2Round(n: Int, prevU: String): String =
    s"p$n AS (SELECT g.i AS dim, CAST(SUM(g.c * $prevU.u) AS BIGINT) AS q " +
      s"FROM gram g JOIN $prevU ON g.j = $prevU.dim GROUP BY g.i), " +
      s"pn$n AS (SELECT dim, CAST((q * 1000000) // " +
      s"(SELECT MAX(abs(q)) FROM p$n) AS BIGINT) AS qn FROM p$n), " +
      s"st$n AS (SELECT CAST(SUM(pn$n.qn * v2.v) AS BIGINT) AS s, " +
      s"CAST(SUM(v2.v * v2.v) AS BIGINT) AS t FROM pn$n " +
      s"JOIN v2 ON pn$n.dim = v2.dim), " +
      s"o$n AS (SELECT pn$n.dim AS dim, CAST(pn$n.qn - " +
      s"CAST((CAST(st$n.s AS HUGEINT) * v2.v) // st$n.t AS BIGINT) " +
      s"AS BIGINT) AS o FROM pn$n JOIN v2 ON pn$n.dim = v2.dim " +
      s"CROSS JOIN st$n), " +
      s"u$n AS (SELECT dim, CAST((o * 1000000) // " +
      s"(SELECT MAX(abs(o)) FROM o$n) AS BIGINT) AS u FROM o$n)"

  /** The scoredDocs SQL mirror — DuckDB regexp_replace needs the 'g'
    * flag to match Spark's replace-all. */
  private val scoredSql: String =
    "SELECT doc_id, source, " +
      "(1000 * length(regexp_replace(text, ' ', '', 'g'))) // n_chars " +
      "AS score FROM documents WHERE n_chars > 0"

  /** Shared CTE builders for the four BPE oracles (train, tokenizer
    * report, apply, per-doc tokens) — one definition so the chains can
    * never drift. The vocab CTEs carry `w` through the merges for the
    * per-doc join; extra columns in a CTE change nothing downstream. */
  private def bpePairsCte(v: String, p: String): String =
    s"$p AS (SELECT a, b, CAST(SUM(freq) AS BIGINT) AS pf FROM (" +
      "SELECT t.freq, u.a, t.syms[CAST(u.i + 1 AS INTEGER)] AS b " +
      "FROM (SELECT freq, list_filter(string_split(sym, '|'), " +
      s"x -> len(x) > 0) AS syms FROM $v) t, " +
      "LATERAL (SELECT UNNEST(t.syms) AS a, " +
      "generate_subscripts(t.syms, 1) AS i) u " +
      "WHERE u.i < len(t.syms)) GROUP BY a, b)"
  private def bpeTopCte(p: String, t: String): String =
    s"$t AS (SELECT a, b, pf FROM $p ORDER BY pf DESC, a, b LIMIT 1)"
  private def bpeMergeCte(v: String, t: String, vout: String): String =
    s"$vout AS (SELECT w, freq, replace(replace(sym, " +
      s"'|' || (SELECT a FROM $t) || '|' || (SELECT b FROM $t) || '|', " +
      s"'|' || (SELECT a FROM $t) || (SELECT b FROM $t) || '|'), " +
      s"'|' || (SELECT a FROM $t) || '|' || (SELECT b FROM $t) || '|', " +
      s"'|' || (SELECT a FROM $t) || (SELECT b FROM $t) || '|') " +
      s"AS sym FROM $v)"
  /** The 3-round chain through the last argmax (t3). */
  private val bpeBaseCtes: String =
    "v0 AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS freq, " +
      "regexp_replace(w, '(.)', '|\\1', 'g') || '|' AS sym FROM " +
      "(SELECT unnest(list_filter(string_split(text, ' '), " +
      "x -> length(x) > 0)) AS w FROM documents) GROUP BY w), " +
      s"${bpePairsCte("v0", "p1")}, ${bpeTopCte("p1", "t1")}, " +
      s"${bpeMergeCte("v0", "t1", "v1")}, " +
      s"${bpePairsCte("v1", "p2")}, ${bpeTopCte("p2", "t2")}, " +
      s"${bpeMergeCte("v1", "t2", "v2")}, " +
      s"${bpePairsCte("v2", "p3")}, ${bpeTopCte("p3", "t3")}"
  /** ... plus the final merged vocab (v3). */
  private val bpeFullCtes: String =
    s"$bpeBaseCtes, ${bpeMergeCte("v2", "t3", "v3")}"
  private def bpeCountCte(v: String, c: String): String =
    s"$c AS (SELECT CAST(SUM(freq * len(list_filter(string_split(sym, " +
      s"'|'), x -> len(x) > 0))) AS BIGINT) AS corpus_tokens_after FROM $v)"

  val oracleSql: Map[String, String] = Map(
    "pipeline_grpo_adv" ->
      (s"WITH r AS (SELECT doc_id, source, " +
        s"CAST(len(${graft.llm.TextUtil.sqlTokens("text")}) AS BIGINT) " +
        "AS reward FROM documents), " +
        "g AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS group_n, " +
        "CAST((CAST(SUM(reward) AS DECIMAL(38,0)) * 1000000) // COUNT(*) " +
        "AS BIGINT) AS mean_micro FROM r GROUP BY 1) " +
        "SELECT doc_id, source, reward, group_n, mean_micro, " +
        "reward * 1000000 - mean_micro AS adv_micro, " +
        "CAST(row_number() OVER (PARTITION BY source " +
        "ORDER BY reward DESC, doc_id) AS BIGINT) AS grp_rank " +
        "FROM r JOIN g USING (source) ORDER BY doc_id"),
    "pipeline_length_buckets" ->
      (s"WITH t AS (SELECT CAST(len(${graft.llm.TextUtil.sqlTokens("text")}) " +
        "AS BIGINT) AS n_tokens FROM documents), " +
        "b AS (SELECT n_tokens, n_tokens // 128 AS bucket, " +
        "(n_tokens // 128 + 1) * 128 AS cap FROM t) " +
        "SELECT bucket, cap, CAST(COUNT(*) AS BIGINT) AS n_docs, " +
        "CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens, " +
        "CAST(SUM(cap - n_tokens) AS BIGINT) AS pad_tokens, " +
        "CAST((1000000 * SUM(cap - n_tokens)) // (COUNT(*) * cap) " +
        "AS BIGINT) AS waste_micro " +
        "FROM b GROUP BY 1, 2 ORDER BY 1"),
    "sample_ess" ->
      ("WITH per AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs " +
        "FROM documents GROUP BY 1), " +
        "tot AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS n_total, " +
        "CAST(COUNT(*) AS BIGINT) AS n_sources FROM per), " +
        "w AS (SELECT source, n_docs, " +
        "CAST((1000000 * CAST(n_total AS HUGEINT)) // " +
        "(n_docs * n_sources) AS BIGINT) AS w_micro " +
        "FROM per CROSS JOIN tot), " +
        "g AS (SELECT SUM(CAST(n_docs AS HUGEINT) * w_micro) AS sw, " +
        "SUM(CAST(n_docs AS HUGEINT) * w_micro * w_micro) AS sw2, " +
        "CAST(SUM(n_docs) AS BIGINT) AS nt FROM w) " +
        "SELECT source, n_docs, w_micro, " +
        "CAST((1000000 * sw * sw) // nullif(nt * sw2, 0) AS BIGINT) " +
        "AS ess_micro FROM w CROSS JOIN g ORDER BY source"),
    "pipeline_dpo_pairs" ->
      (s"WITH b AS ($scoredSql), " +
        "rk AS (SELECT source, doc_id, score, row_number() OVER " +
        "(PARTITION BY source ORDER BY score DESC, doc_id) AS rn, " +
        "COUNT(*) OVER (PARTITION BY source) AS nd FROM b), " +
        "top AS (SELECT source, rn, score AS chosen_score FROM rk " +
        "WHERE rn <= nd // 2), " +
        "bot AS (SELECT source, nd + 1 - rn AS rn, " +
        "score AS rejected_score FROM rk WHERE rn > nd - nd // 2) " +
        "SELECT source, CAST(COUNT(*) AS BIGINT) AS n_pairs, " +
        "CAST(SUM(chosen_score - rejected_score) // COUNT(*) AS BIGINT) " +
        "AS mean_margin_milli, " +
        "CAST(MIN(chosen_score - rejected_score) AS BIGINT) " +
        "AS min_margin_milli, " +
        "CAST(MAX(chosen_score - rejected_score) AS BIGINT) " +
        "AS max_margin_milli " +
        "FROM top JOIN bot USING (source, rn) GROUP BY 1 ORDER BY 1"),
    "pipeline_best_of_k" ->
      (s"WITH b AS ($scoredSql), " +
        "g AS (SELECT doc_id, score, row_number() OVER " +
        "(PARTITION BY doc_id // 4 ORDER BY score DESC, doc_id) AS rn, " +
        "CAST(SUM(score) OVER (PARTITION BY doc_id // 4) AS BIGINT) " +
        "AS ssum, " +
        "CAST(COUNT(*) OVER (PARTITION BY doc_id // 4) AS BIGINT) AS kn " +
        "FROM b), " +
        "best AS (SELECT doc_id AS best_id, score AS best_score, " +
        "CAST(ssum // kn AS BIGINT) AS avg_milli FROM g WHERE rn = 1), " +
        "j AS (SELECT d.source, best_score, avg_milli FROM best " +
        "JOIN b d ON best.best_id = d.doc_id), " +
        "tot AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs " +
        "FROM b GROUP BY 1) " +
        "SELECT j.source, tot.n_docs, " +
        "CAST(COUNT(*) AS BIGINT) AS n_groups_won, " +
        "CAST((1000000 * COUNT(*)) // tot.n_docs AS BIGINT) " +
        "AS keep_ratio_micro, " +
        "CAST(SUM(best_score - avg_milli) // COUNT(*) AS BIGINT) " +
        "AS mean_gain_milli, " +
        "CAST(MAX(best_score - avg_milli) AS BIGINT) AS max_gain_milli " +
        "FROM j JOIN tot ON j.source = tot.source " +
        "GROUP BY 1, 2 ORDER BY 1"),
    "pipeline_mix_schedule" ->
      ("WITH w AS (SELECT source, COUNT(*) AS n_docs, " +
        "CAST(floor(sqrt(CAST(COUNT(*) AS DOUBLE)) * 1000000.0) AS BIGINT) " +
        "AS w_micro FROM documents GROUP BY 1), " +
        "b AS (SELECT doc_id, d.source, " +
        "CAST(row_number() OVER (PARTITION BY d.source ORDER BY doc_id) " +
        "AS BIGINT) AS rn, w_micro FROM documents d " +
        "JOIN w ON d.source = w.source), " +
        "v AS (SELECT doc_id, source, rn, " +
        "CAST((CAST(rn AS HUGEINT) * 1000000000000) // w_micro AS BIGINT) " +
        "AS vt FROM b) " +
        "SELECT doc_id, source, rn, vt, " +
        "CAST(row_number() OVER (ORDER BY vt, source, rn) AS BIGINT) " +
        "AS mix_pos FROM v ORDER BY mix_pos"),
    "sample_seed_overlap" -> {
      def selSql(seed: Long): String =
        s"((doc_id % 1000000007) * ${1103515245L + seed * 777767777L} + 7) " +
          "% 100 < 10"
      s"WITH b AS (SELECT doc_id, ${selSql(1L)} AS s1, ${selSql(2L)} AS s2, " +
        s"${selSql(3L)} AS s3 FROM documents), " +
        "p AS (SELECT '1:2' AS pair, s1 AS a, s2 AS b FROM b " +
        "UNION ALL SELECT '1:3', s1, s3 FROM b " +
        "UNION ALL SELECT '2:3', s2, s3 FROM b) " +
        "SELECT pair, " +
        "CAST(SUM(CASE WHEN a THEN 1 ELSE 0 END) AS BIGINT) AS n_a, " +
        "CAST(SUM(CASE WHEN b THEN 1 ELSE 0 END) AS BIGINT) AS n_b, " +
        "CAST(SUM(CASE WHEN a AND b THEN 1 ELSE 0 END) AS BIGINT) AS n_both, " +
        "CAST((1000000 * SUM(CASE WHEN a AND b THEN 1 ELSE 0 END)) // " +
        "(SUM(CASE WHEN a THEN 1 ELSE 0 END) + " +
        "SUM(CASE WHEN b THEN 1 ELSE 0 END) - " +
        "SUM(CASE WHEN a AND b THEN 1 ELSE 0 END)) AS BIGINT) " +
        "AS jaccard_micro FROM p GROUP BY pair ORDER BY pair"
    },
    "pipeline_context_fit" ->
      (s"WITH t AS (SELECT CAST(len(${TextUtil.sqlTokens("text")}) " +
        "AS BIGINT) AS nt FROM documents), " +
        "cl(context_len) AS (VALUES (CAST(512 AS BIGINT)), " +
        "(CAST(2048 AS BIGINT)), (CAST(8192 AS BIGINT))) " +
        "SELECT context_len, CAST(COUNT(*) AS BIGINT) AS n_docs, " +
        "CAST(SUM(CASE WHEN nt <= context_len THEN 1 ELSE 0 END) AS BIGINT) " +
        "AS n_fit, CAST(SUM(nt) AS BIGINT) AS tokens_total, " +
        "CAST(SUM(greatest(nt - context_len, 0)) AS BIGINT) " +
        "AS tokens_truncated, " +
        "CAST((1000000 * SUM(least(nt, context_len))) // " +
        "(context_len * COUNT(*)) AS BIGINT) AS util_micro " +
        "FROM t CROSS JOIN cl GROUP BY 1 ORDER BY 1"),
    "emb_dim_variance" ->
      ("WITH comp AS (SELECT generate_subscripts(fx, 1) - 1 AS pos, " +
        "unnest(fx) AS x FROM (SELECT list_transform(embedding, " +
        "e -> CAST(floor(CAST(e AS DOUBLE) * 1000000.0) AS BIGINT)) AS fx " +
        "FROM embeddings)), " +
        "st AS (SELECT pos, CAST(COUNT(*) AS BIGINT) AS n, " +
        "CAST(SUM(x) AS BIGINT) AS sx, " +
        "CAST(SUM(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx " +
        "FROM comp GROUP BY 1) " +
        "SELECT CAST(pos AS BIGINT) AS pos, n, " +
        "CAST(sx // n AS BIGINT) AS mean_micro, " +
        "CAST((CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx) // " +
        "(CAST(n AS HUGEINT) * n) AS BIGINT) AS var_micro2 " +
        "FROM st ORDER BY pos"),
    "pipeline_chat_template" ->
      (s"WITH t AS (SELECT doc_id, ${TextUtil.sqlTokens("text")} AS tk " +
        "FROM documents), " +
        "b AS (SELECT doc_id, tk, CAST(len(tk) AS BIGINT) AS n_tokens " +
        "FROM t WHERE len(tk) >= 1), " +
        "r AS (SELECT doc_id, n_tokens, (n_tokens + 23) // 24 AS n_turns, " +
        "tk FROM b), " +
        "z AS (SELECT doc_id, n_turns, n_tokens, " +
        "array_to_string(list_transform(range(0, n_turns), i -> " +
        "(CASE WHEN i % 2 = 0 THEN '<|user|>' ELSE '<|assistant|>' END) " +
        "|| ' ' || array_to_string(list_slice(tk, CAST(i*24+1 AS INTEGER), " +
        "CAST(i*24+24 AS INTEGER)), ' ')), ' ') AS rendered, " +
        "CAST(list_sum(list_transform(range(0, n_turns), i -> " +
        "CASE WHEN i % 2 = 1 THEN len(list_slice(tk, " +
        "CAST(i*24+1 AS INTEGER), CAST(i*24+24 AS INTEGER))) ELSE 0 END)) " +
        "AS BIGINT) AS n_assistant_tokens FROM r) " +
        "SELECT doc_id, n_turns, n_tokens, n_assistant_tokens, " +
        "CAST(length(rendered) AS BIGINT) AS rendered_len, " +
        "substring(rendered, 1, 64) AS rendered_head " +
        "FROM z ORDER BY doc_id"),
    "pipeline_epoch_plan" ->
      (s"WITH t AS (SELECT source, " +
        s"CAST(len(${TextUtil.sqlTokens("text")}) AS BIGINT) AS nt " +
        "FROM documents), " +
        "ps AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs, " +
        "CAST(SUM(nt) AS BIGINT) AS n_tokens FROM t GROUP BY source), " +
        "w AS (SELECT *, CAST(floor(1000000.0 * " +
        "sqrt(CAST(n_tokens AS DOUBLE))) AS BIGINT) AS w_micro FROM ps), " +
        "tot AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS tot_tokens, " +
        "CAST(SUM(w_micro) AS BIGINT) AS tot_w FROM w), " +
        "tgt AS (SELECT source, n_docs, n_tokens, w_micro, " +
        "CAST((4 * CAST(tot_tokens AS HUGEINT) * w_micro) // tot_w " +
        "AS BIGINT) AS target_tokens FROM w CROSS JOIN tot), " +
        "ep AS (SELECT *, least(CAST(4000000 AS BIGINT), " +
        "(1000000 * target_tokens) // n_tokens) AS epochs_micro, " +
        "(1000000 * target_tokens) // n_tokens > 4000000 AS capped " +
        "FROM tgt) " +
        "SELECT source, n_docs, n_tokens, w_micro, target_tokens, " +
        "epochs_micro, capped, " +
        "(n_tokens * epochs_micro) // 1000000 AS tokens_served, " +
        "target_tokens - (n_tokens * epochs_micro) // 1000000 AS shortfall " +
        "FROM ep ORDER BY source"),
    "pipeline_lang_balance" ->
      (s"WITH t AS (SELECT lang, " +
        s"CAST(len(${TextUtil.sqlTokens("text")}) AS BIGINT) AS nt " +
        "FROM documents), " +
        "pl AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs, " +
        "CAST(SUM(nt) AS BIGINT) AS n_tokens FROM t GROUP BY lang), " +
        "tot AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS tot_tokens " +
        "FROM pl) " +
        "SELECT lang, n_docs, n_tokens, " +
        "(1000000 * n_tokens) // tot_tokens AS share_micro, " +
        "CAST(floor(1000000.0 * sqrt(CAST(tot_tokens AS DOUBLE) / " +
        "CAST(n_tokens AS DOUBLE))) AS BIGINT) AS upsample_micro, " +
        "(n_tokens * CAST(floor(1000000.0 * " +
        "sqrt(CAST(tot_tokens AS DOUBLE) / CAST(n_tokens AS DOUBLE))) " +
        "AS BIGINT)) // 1000000 AS balanced_tokens " +
        "FROM pl CROSS JOIN tot ORDER BY lang"),
    "pipeline_loss_mask" ->
      (s"WITH t AS (SELECT doc_id, ${TextUtil.sqlTokens("text")} AS tk " +
        "FROM documents), " +
        "b AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_tokens " +
        "FROM t WHERE len(tk) >= 1), " +
        "e AS (SELECT doc_id, n_tokens, CAST(i AS BIGINT) AS turn_idx " +
        "FROM b, unnest(range(0, (n_tokens + 23) // 24)) AS u(i)) " +
        "SELECT doc_id, turn_idx, " +
        "CASE WHEN turn_idx % 2 = 0 THEN 'user' ELSE 'assistant' END " +
        "AS role, " +
        "turn_idx * 24 + 1 AS tok_start, " +
        "least(turn_idx * 24 + 24, n_tokens) AS tok_end, " +
        "least(turn_idx * 24 + 24, n_tokens) - turn_idx * 24 " +
        "AS n_turn_tokens, " +
        "turn_idx % 2 = 1 AS trained " +
        "FROM e ORDER BY doc_id, turn_idx"),
    "pipeline_fertility" ->
      (s"WITH t AS (SELECT source, CAST(length(text) AS BIGINT) AS nc, " +
        s"CAST(len(${TextUtil.sqlTokens("text")}) AS BIGINT) AS nt " +
        "FROM documents) " +
        "SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs, " +
        "CAST(SUM(nt) AS BIGINT) AS n_tokens, " +
        "CAST(SUM(nc) AS BIGINT) AS n_chars, " +
        "CAST((1000000 * SUM(nc)) // SUM(nt) AS BIGINT) " +
        "AS chars_per_token_micro, " +
        "CAST((1000000 * SUM(nt)) // COUNT(*) AS BIGINT) " +
        "AS tokens_per_doc_micro " +
        "FROM t GROUP BY source ORDER BY source"),
    "pipeline_curriculum" ->
      (s"WITH t AS (SELECT doc_id, CAST(len(${TextUtil.sqlTokens("text")}) " +
        "AS BIGINT) AS n_tokens FROM documents), " +
        "tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_total FROM t), " +
        "r AS (SELECT doc_id, n_tokens, CAST(row_number() OVER " +
        "(ORDER BY n_tokens, doc_id) AS BIGINT) AS curriculum_pos FROM t) " +
        "SELECT doc_id, n_tokens, curriculum_pos, " +
        "CAST(((curriculum_pos - 1) * 4) // n_total AS BIGINT) AS phase " +
        "FROM r CROSS JOIN tot ORDER BY doc_id"),
    "pipeline_epoch_shuffle" -> {
      def h(e: Int): String =
        s"((doc_id % 1000000007) * ${1103515245L + e * 777767777L} + 7) " +
          "% 1000000007"
      "WITH ids AS (SELECT doc_id FROM documents), " +
        s"e0 AS (SELECT doc_id, CAST(row_number() OVER (ORDER BY ${h(0)}, " +
        "doc_id) AS BIGINT) AS pos0 FROM ids), " +
        s"e1 AS (SELECT doc_id, CAST(row_number() OVER (ORDER BY ${h(1)}, " +
        "doc_id) AS BIGINT) AS pos1 FROM ids) " +
        "SELECT e0.doc_id, pos0, pos1 FROM e0 JOIN e1 " +
        "ON e0.doc_id = e1.doc_id ORDER BY e0.doc_id"
    },
    "pipeline_dropout_mask" ->
      (s"WITH t AS (SELECT doc_id, ${sqlTokens("text")} AS tk " +
        "FROM documents), " +
        // DuckDB lambda indexes are 1-based; (i-1) mirrors Spark's 0-based p
        "k AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_tokens, " +
        "list_filter(tk, (x, i) -> ((doc_id % 1000000007) * 1103515245 " +
        "+ (i - 1) * 12345 + 7) % 100 >= 10) AS kept FROM t) " +
        "SELECT doc_id, n_tokens, " +
        "n_tokens - CAST(len(kept) AS BIGINT) AS n_dropped, " +
        "array_to_string(kept, ' ') AS kept_text FROM k ORDER BY doc_id"),
    "pipeline_fim" ->
      (s"WITH t AS (SELECT doc_id, ${sqlTokens("text")} AS tk " +
        "FROM documents), " +
        "b AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_tokens, " +
        "CAST(len(tk) // 3 AS BIGINT) AS cut1, " +
        "CAST(len(tk) * 2 // 3 AS BIGINT) AS cut2, tk FROM t) " +
        "SELECT doc_id, n_tokens, cut1, cut2, " +
        "n_tokens >= 3 AS fim_applied, " +
        "CASE WHEN n_tokens < 3 THEN array_to_string(tk, ' ') " +
        "ELSE '<fim_prefix> ' || " +
        "array_to_string(tk[1:CAST(cut1 AS INTEGER)], ' ') || " +
        "' <fim_suffix> ' || " +
        "array_to_string(tk[CAST(cut2 + 1 AS INTEGER):" +
        "CAST(n_tokens AS INTEGER)], ' ') || " +
        "' <fim_middle> ' || " +
        "array_to_string(tk[CAST(cut1 + 1 AS INTEGER):" +
        "CAST(cut2 AS INTEGER)], ' ') END AS fim_text " +
        "FROM b ORDER BY doc_id"),
    "pipeline_span_corruption" -> {
      val sentinel = "'<extra_id_' || CAST((i-1)//37 AS VARCHAR) || '>'"
      s"WITH t AS (SELECT doc_id, ${sqlTokens("text")} AS tk " +
        "FROM documents) " +
        "SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_tokens, " +
        "array_to_string(list_filter(list_transform(" +
        "range(1, greatest(len(tk), 1) + 1), i -> " +
        "CASE WHEN i > len(tk) THEN NULL " +
        s"WHEN (i-1)%37 = 5 THEN $sentinel " +
        "WHEN (i-1)%37 IN (6, 7) THEN NULL " +
        "ELSE tk[CAST(i AS INTEGER)] END), x -> x IS NOT NULL), ' ') " +
        "AS masked_text, " +
        "array_to_string(list_filter(list_transform(" +
        "range(1, greatest(len(tk), 1) + 1), i -> " +
        "CASE WHEN i > len(tk) THEN NULL " +
        s"WHEN (i-1)%37 = 5 THEN $sentinel || ' ' || tk[CAST(i AS INTEGER)] " +
        "WHEN (i-1)%37 IN (6, 7) THEN tk[CAST(i AS INTEGER)] " +
        "ELSE NULL END), x -> x IS NOT NULL), ' ') AS target_text, " +
        "CAST(CASE WHEN len(tk) < 6 THEN 0 " +
        "ELSE (len(tk) - 6)//37 + 1 END AS BIGINT) AS n_spans " +
        "FROM t ORDER BY doc_id"
    },
    "emb_norm_outliers" ->
      ("WITH nm AS (SELECT vec_id, CAST(label AS BIGINT) AS label, " +
        "CAST(list_sum(list_transform(embedding, x -> " +
        "CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT) * " +
        "CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT))) AS BIGINT) " +
        "AS norm2 FROM embeddings), " +
        "st AS (SELECT label AS lb, CAST(COUNT(*) AS BIGINT) AS n, " +
        "CAST(SUM(norm2) AS BIGINT) AS sn, " +
        "CAST(MIN(norm2) AS BIGINT) AS min_norm2, " +
        "CAST(MAX(norm2) AS BIGINT) AS max_norm2 FROM nm GROUP BY 1), " +
        "rk AS (SELECT label, vec_id, norm2, n, min_norm2, max_norm2, " +
        "CAST(row_number() OVER (PARTITION BY label ORDER BY " +
        "abs(CAST(n AS HUGEINT) * norm2 - sn) DESC, vec_id) AS BIGINT) " +
        "AS rank FROM nm JOIN st ON label = lb) " +
        "SELECT label, rank, vec_id, norm2, n, min_norm2, max_norm2 " +
        "FROM rk WHERE rank <= 3 ORDER BY label, rank"),
    "emb_source_drift" ->
      ("WITH j AS (SELECT d2.source, e.embedding FROM embeddings e " +
        "JOIN documents d2 ON e.vec_id = d2.doc_id), " +
        "f AS (SELECT source, list_transform(embedding, " +
        "x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS fx " +
        "FROM j), " +
        "comp AS (SELECT source, CAST(i AS BIGINT) AS dim, " +
        "fx[CAST(i AS INTEGER)] AS x FROM f CROSS JOIN range(1, 65) t(i)), " +
        "cent AS (SELECT source, dim, CAST(floor(CAST(SUM(x) AS DOUBLE) " +
        "/ COUNT(*)) AS BIGINT) AS cx, CAST(COUNT(*) AS BIGINT) AS nv " +
        "FROM comp GROUP BY 1, 2) " +
        "SELECT a.source AS src_a, b.source AS src_b, " +
        "CAST(MAX(a.nv) AS BIGINT) AS n_a, CAST(MAX(b.nv) AS BIGINT) " +
        "AS n_b, CAST(SUM((a.cx - b.cx) * (a.cx - b.cx)) AS BIGINT) " +
        "AS dist2_fp FROM cent a JOIN cent b ON a.dim = b.dim " +
        "AND a.source < b.source GROUP BY 1, 2 ORDER BY src_a, src_b"),
    "pipeline_token_budget" ->
      (s"WITH base AS (SELECT doc_id, " +
        s"CAST(len(${sqlTokens("text")}) AS BIGINT) AS n_tokens, " +
        s"CAST(len(list_distinct(${sqlTokens("text")})) AS BIGINT) " +
        "AS n_distinct FROM documents), " +
        "b2 AS (SELECT doc_id, n_tokens, " +
        "(1000000 * n_distinct) // n_tokens AS score_micro, " +
        "10 - ((1000000 * n_distinct) // n_tokens) // 100000 AS blk " +
        "FROM base WHERE n_tokens > 0), " +
        "offs AS (SELECT ob, COALESCE(SUM(bsum) OVER (ORDER BY ob " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS boff " +
        "FROM (SELECT blk AS ob, SUM(n_tokens) AS bsum FROM b2 GROUP BY 1)), " +
        "tot AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS total FROM b2), " +
        "cums AS (SELECT doc_id, n_tokens, score_micro, " +
        "boff + SUM(n_tokens) OVER (PARTITION BY blk " +
        "ORDER BY score_micro DESC, doc_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum " +
        "FROM b2 JOIN offs ON blk = ob) " +
        "SELECT doc_id, n_tokens, score_micro, CAST(cum AS BIGINT) AS cum " +
        "FROM cums CROSS JOIN tot WHERE 5 * cum <= total ORDER BY doc_id"),
    "emb_pca2" ->
      (s"WITH $eigvecCtes, " +
        "u0 AS (SELECT dim, CAST(CASE WHEN dim % 2 = 0 THEN 1000000 " +
        "ELSE -1000000 END AS BIGINT) AS u FROM v0), " +
        pca2Round(1, "u0") + ", " + pca2Round(2, "u1") + " " +
        "SELECT a.dim AS dim, a.v AS pc1, b.u AS pc2 " +
        "FROM v2 a JOIN u2 b ON a.dim = b.dim ORDER BY dim"),
    "sample_temperature" ->
      ("WITH p AS (SELECT source, COUNT(*) AS n_docs, " +
        "CAST(floor(sqrt(CAST(COUNT(*) AS DOUBLE)) * 1000000.0) AS BIGINT) " +
        "AS sqrt_micro FROM documents GROUP BY source), " +
        "t AS (SELECT CAST(SUM(sqrt_micro) AS BIGINT) AS tot FROM p) " +
        "SELECT source, n_docs, sqrt_micro, " +
        "CAST(sqrt_micro AS DOUBLE) / CAST(tot AS DOUBLE) AS weight, " +
        "CAST((1000 * sqrt_micro) // tot AS BIGINT) AS n_target " +
        "FROM p CROSS JOIN t ORDER BY source"),
    "emb_pq_code" ->
      ("WITH c AS (SELECT vec_id, (u.i - 1) // 8 AS blk, " +
        "CAST(floor(CAST(u.x AS DOUBLE) * 1000000.0) AS BIGINT) AS xm " +
        "FROM embeddings, LATERAL (SELECT UNNEST(embedding) AS x, " +
        "generate_subscripts(embedding, 1) AS i) u), " +
        "b AS (SELECT vec_id, blk, CAST(SUM(xm) AS BIGINT) AS bs " +
        "FROM c GROUP BY vec_id, blk), " +
        "codes AS (SELECT vec_id, CAST(SUM(CASE WHEN bs > 0 THEN " +
        "(CAST(1 AS BIGINT) << CAST(blk AS INTEGER)) ELSE 0 END) AS BIGINT) " +
        "AS code FROM b GROUP BY vec_id) " +
        "SELECT code, COUNT(*) AS n_vecs FROM codes " +
        "GROUP BY code ORDER BY code"),
    "pipeline_end2end" ->
      ("WITH q AS (SELECT doc_id, text FROM documents WHERE lang = 'en' " +
        "AND n_chars BETWEEN 150 AND 450), " +
        "k AS (SELECT MIN(doc_id) AS doc_id FROM q GROUP BY sha256(text)), " +
        "kept AS (SELECT q.doc_id, q.text FROM q JOIN k USING (doc_id)), " +
        "chunks AS (SELECT doc_id, i AS chunk_idx, " +
        "substring(text, CAST(i * 150 + 1 AS INTEGER), 200) AS chunk " +
        "FROM kept CROSS JOIN range(0, 10) t(i) " +
        "WHERE i * 150 + 1 <= length(text)) " +
        "SELECT doc_id, chunk_idx, CAST(length(chunk) AS BIGINT) AS n_chars, " +
        "CAST(length(chunk) - length(replace(chunk, ' ', '')) + 1 AS BIGINT) " +
        "AS n_tokens FROM chunks ORDER BY doc_id, chunk_idx"),
    "emb_top_eigvec" ->
      s"WITH $eigvecCtes SELECT dim, v FROM v2 ORDER BY dim",
    "emb_project_eigvec" ->
      (s"WITH $eigvecCtes, " +
        "proj AS (SELECT fl.vec_id, CAST(SUM(fl.x * v2.v) // 1000000 " +
        "AS BIGINT) AS proj FROM flat fl JOIN v2 ON fl.i = v2.dim " +
        "GROUP BY fl.vec_id) " +
        "SELECT vec_id, proj, CAST(ntile(10) OVER (ORDER BY proj, vec_id) " +
        "AS BIGINT) AS decile FROM proj ORDER BY vec_id"),
    "sample_weighted" ->
      ("WITH c AS (SELECT doc_id, n_chars, SUM(n_chars) OVER (" +
        "ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) " +
        "AS cw FROM documents) " +
        "SELECT doc_id, n_chars, CAST(cw AS BIGINT) AS cw FROM c " +
        "WHERE cw // 10000 > (cw - n_chars) // 10000 ORDER BY doc_id"),
    "dataset_mix" ->
      ("WITH m AS (SELECT doc_id, source, " +
        "CASE WHEN source IN ('src0','src1') THEN 2 " +
        "WHEN CAST(substr(source, 4) AS BIGINT) < 10 THEN 1 " +
        "WHEN ((doc_id * 2654435761 + 101) % 1000000007) % 100 < 40 THEN 1 " +
        "ELSE 0 END AS n_copies FROM documents) " +
        "SELECT doc_id, source, CAST(ci AS BIGINT) AS copy_idx " +
        "FROM m, LATERAL unnest(generate_series(1, n_copies)) t(ci) " +
        "WHERE n_copies > 0 ORDER BY doc_id, copy_idx"),
    "doc_chunking" ->
      ("WITH t AS (SELECT doc_id, text, greatest(1, " +
        "CAST(ceil((CAST(length(text) AS DOUBLE) - 200.0) / 150.0) AS BIGINT) " +
        "+ 1) AS n_chunks FROM documents) " +
        "SELECT doc_id, n_chunks, CAST(ci AS BIGINT) AS chunk_idx, " +
        "substr(text, CAST(ci * 150 + 1 AS INTEGER), 200) AS chunk, " +
        "CAST(length(substr(text, CAST(ci * 150 + 1 AS INTEGER), 200)) " +
        "AS BIGINT) AS chunk_len " +
        "FROM t, LATERAL unnest(generate_series(0, n_chunks - 1)) u(ci) " +
        "ORDER BY doc_id, chunk_idx"),
    "text_decontaminate" ->
      (s"WITH base AS (SELECT doc_id, ${sqlPolyHash("text", 7L)} % 100 AS bucket, " +
        s"${sqlShingles3(sqlTokens("text"))} AS ss FROM documents), " +
        "bench AS (SELECT DISTINCT unnest(ss) AS sh FROM base WHERE bucket >= 90), " +
        "train AS (SELECT doc_id, unnest(ss) AS sh FROM base WHERE bucket < 80), " +
        "hits AS (SELECT doc_id, COUNT(DISTINCT sh) AS nh FROM train " +
        "JOIN bench USING (sh) GROUP BY doc_id) " +
        "SELECT b.doc_id, CAST(COALESCE(nh, 0) AS BIGINT) AS n_hit_shingles, " +
        "COALESCE(nh, 0) > 0 AS is_contaminated " +
        "FROM (SELECT doc_id FROM base WHERE bucket < 80) b " +
        "LEFT JOIN hits USING (doc_id) ORDER BY doc_id"),
    "pack_shards" ->
      ("WITH c AS (SELECT source, doc_id, CAST(n_chars AS BIGINT) AS n_bytes, " +
        "CAST(SUM(n_chars) OVER (PARTITION BY source ORDER BY doc_id) " +
        "AS BIGINT) AS cum FROM documents) " +
        "SELECT source, (cum - n_bytes) // 65536 AS shard, " +
        "CAST(COUNT(*) AS BIGINT) AS n_docs, " +
        "CAST(SUM(n_bytes) AS BIGINT) AS shard_bytes, " +
        "MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc " +
        "FROM c GROUP BY source, (cum - n_bytes) // 65536 " +
        "ORDER BY source, shard"),
    "pipeline_curate" ->
      (s"WITH RECURSIVE ${Dedup.jaccardCtes}, " +
        "pr AS (SELECT da, db FROM pairs " +
        "WHERE CAST(common AS DOUBLE) / CAST(na + nb - common AS DOUBLE) >= 0.2), " +
        "edges AS (SELECT da AS u, db AS v FROM pr " +
        "UNION ALL SELECT db, da FROM pr), " +
        "reach(u, v) AS (SELECT doc_id, doc_id FROM documents " +
        "UNION SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u), " +
        "lab AS (SELECT u AS doc_id, MIN(v) AS cluster_id FROM reach " +
        "GROUP BY u), " +
        "sz AS (SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS cluster_size " +
        "FROM lab GROUP BY cluster_id), " +
        "wt AS (SELECT doc_id, 1000000 // cluster_size AS weight_micro " +
        "FROM lab JOIN sz USING (cluster_id)), " +
        "sent AS (SELECT doc_id, " +
        "unnest(list_filter(string_split(text, '. '), " +
        "x -> length(x) > 0)) AS sent FROM documents), " +
        "cnt AS (SELECT sent, CAST(COUNT(DISTINCT doc_id) AS BIGINT) " +
        "AS ndocs FROM sent GROUP BY sent), " +
        "boiler AS (SELECT doc_id, " +
        "(1000000 * CAST(SUM(CASE WHEN ndocs >= 5 THEN 1 ELSE 0 END) " +
        "AS BIGINT)) // CAST(COUNT(*) AS BIGINT) AS boiler_micro " +
        "FROM sent JOIN cnt USING (sent) GROUP BY doc_id), " +
        s"base AS (SELECT doc_id, source, " +
        s"CAST(len(${sqlTokens("text")}) AS BIGINT) AS n_tokens " +
        s"FROM documents WHERE len(${sqlTokens("text")}) >= 10) " +
        "SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs, " +
        "CAST(SUM(n_tokens) AS BIGINT) AS raw_tokens, " +
        "CAST(SUM(n_tokens * weight_micro) AS BIGINT) " +
        "AS weighted_tokens_micro " +
        "FROM base JOIN boiler USING (doc_id) JOIN wt USING (doc_id) " +
        "WHERE boiler_micro < 500000 GROUP BY source ORDER BY source"),
    "sample_balanced" ->
      ("WITH k AS (SELECT MIN(n) AS k FROM " +
        "(SELECT COUNT(*) AS n FROM embeddings GROUP BY label)), " +
        "r AS (SELECT label, vec_id, " +
        "row_number() OVER (PARTITION BY label " +
        "ORDER BY (vec_id * 2654435761 + 40503) % 1000000007, vec_id) AS rn " +
        "FROM embeddings) " +
        "SELECT label, rn, vec_id FROM r CROSS JOIN k WHERE rn <= k " +
        "ORDER BY label, rn"),
    "pipeline_dsir_weights" -> {
      val toks = sqlTokens("text")
      val ph = sqlPolyHash("f", 17L)
      s"WITH base AS (SELECT doc_id, source, $toks AS toks FROM documents), " +
        "f1 AS (SELECT doc_id, source, unnest(toks) AS f FROM base), " +
        "f2 AS (SELECT doc_id, source, toks[CAST(i AS INTEGER)] || '_' || " +
        "toks[CAST(i + 1 AS INTEGER)] AS f " +
        "FROM base, unnest(range(1, len(toks))) AS t(i) " +
        "WHERE len(toks) >= 2), " +
        s"fe AS (SELECT doc_id, source, $ph % 64 AS b " +
        "FROM (SELECT * FROM f1 UNION ALL SELECT * FROM f2)), " +
        "tgt AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS ct FROM fe " +
        "WHERE source = 'src0' GROUP BY b), " +
        "raw AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS cr FROM fe " +
        "GROUP BY b), " +
        "tt AS (SELECT CAST(COUNT(*) AS BIGINT) AS t FROM fe " +
        "WHERE source = 'src0'), " +
        "rt AS (SELECT CAST(COUNT(*) AS BIGINT) AS r FROM fe), " +
        "sc AS (SELECT b, CAST(floor(ln((CAST(coalesce(ct, 0) + 1 " +
        "AS DOUBLE) * (r + 64)) / (CAST(cr + 1 AS DOUBLE) * (t + 64))) " +
        "* 1000000.0) AS BIGINT) AS sb " +
        "FROM raw LEFT JOIN tgt USING (b) CROSS JOIN tt CROSS JOIN rt), " +
        "db AS (SELECT doc_id, b, CAST(COUNT(*) AS BIGINT) AS nb " +
        "FROM fe GROUP BY doc_id, b) " +
        "SELECT doc_id, CAST(SUM(nb) AS BIGINT) AS n_features, " +
        "CAST(SUM(nb * sb) AS BIGINT) AS dsir_micro " +
        "FROM db JOIN sc USING (b) GROUP BY doc_id ORDER BY doc_id"
    },
    "sample_reservoir" ->
      ("SELECT event_type, rn, event_id, user_id, value FROM (" +
        "SELECT event_type, event_id, user_id, value, " +
        "row_number() OVER (PARTITION BY event_type " +
        "ORDER BY (event_id * 2654435761 + 40503) % 1000000007, event_id) AS rn " +
        "FROM events) WHERE rn <= 5 ORDER BY event_type, rn"),
    "emb_quantize" ->
      ("WITH e AS (SELECT vec_id, embedding, nullif(list_max(list_transform(" +
        "embedding, x -> abs(CAST(x AS DOUBLE)))) / 127.0, 0.0) AS scale " +
        "FROM embeddings), " +
        "ex AS (SELECT vec_id, scale, CAST(x AS DOUBLE) AS xd " +
        "FROM e, unnest(embedding) AS t(x)), " +
        "q AS (SELECT vec_id, scale, xd, least(127, greatest(-127, " +
        "CAST(floor(xd / scale + 0.5) AS BIGINT))) AS q FROM ex) " +
        "SELECT vec_id, MAX(scale) AS scale, COUNT(*) AS n_dims, " +
        "CAST(SUM(q) AS BIGINT) AS sum_q, CAST(SUM(q * q) AS BIGINT) AS sum_q2, " +
        "CAST(SUM(CAST(floor(abs(xd - CAST(q AS DOUBLE) * scale) * 1000000000.0) " +
        "AS BIGINT)) AS BIGINT) AS sum_abs_err_nano " +
        "FROM q GROUP BY vec_id ORDER BY vec_id"),
    "pipeline_bpe_train" ->
      (s"WITH $bpeBaseCtes " +
        "SELECT * FROM (" +
        "SELECT CAST(1 AS BIGINT) AS round, a AS merge_left, " +
        "b AS merge_right, pf AS pair_freq FROM t1 " +
        "UNION ALL SELECT CAST(2 AS BIGINT), a, b, pf FROM t2 " +
        "UNION ALL SELECT CAST(3 AS BIGINT), a, b, pf FROM t3) " +
        "ORDER BY round"),
    "pipeline_tokenizer_bpe" -> {
      def row(r: Int, t: String): String =
        s"SELECT CAST($r AS BIGINT) AS round, a AS merge_left, " +
          s"b AS merge_right, pf AS pair_freq, a || b AS merged_token, " +
          s"(SELECT corpus_tokens_after FROM c$r) AS corpus_tokens_after " +
          s"FROM $t"
      s"WITH $bpeFullCtes, ${bpeCountCte("v1", "c1")}, " +
        s"${bpeCountCte("v2", "c2")}, ${bpeCountCte("v3", "c3")} " +
        s"SELECT * FROM (${row(1, "t1")} UNION ALL " +
        s"${row(2, "t2")} UNION ALL ${row(3, "t3")}) " +
        "ORDER BY round"
    },
    "pipeline_bpe_doc_tokens" ->
      (s"WITH $bpeFullCtes, " +
        "wt AS (SELECT w, CAST(len(list_filter(string_split(sym, '|'), " +
        "x -> len(x) > 0)) AS BIGINT) AS n_sym FROM v3), " +
        "dw AS (SELECT doc_id, unnest(list_filter(string_split(text, ' '), " +
        "x -> length(x) > 0)) AS w FROM documents) " +
        "SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens_ws, " +
        "CAST(SUM(n_sym) AS BIGINT) AS n_tokens_bpe " +
        "FROM dw JOIN wt USING (w) GROUP BY doc_id ORDER BY doc_id"),
    "pipeline_bpe_apply" ->
      (s"WITH $bpeFullCtes " +
        "SELECT token, CAST(SUM(freq) AS BIGINT) AS n_occurrences FROM " +
        "(SELECT freq, unnest(list_filter(string_split(sym, '|'), " +
        "x -> len(x) > 0)) AS token FROM v3) " +
        "GROUP BY token ORDER BY n_occurrences DESC, token LIMIT 20"),
    "pipeline_dataset_card" ->
      (s"WITH ${graft.llm.TextAnalysis.gopherCtes}, " +
        "per AS (SELECT gf.source, CAST(COUNT(*) AS BIGINT) AS n_docs, " +
        "CAST(SUM(gf.n_tokens) AS BIGINT) AS n_tokens, " +
        "CAST(COUNT(DISTINCT sha256(gt.text)) AS BIGINT) AS n_unique, " +
        s"CAST(SUM(CASE WHEN ${graft.llm.TextAnalysis.gopherKeepSql} " +
        "THEN 1 ELSE 0 END) AS BIGINT) AS n_keep " +
        "FROM gf JOIN gt USING (doc_id) GROUP BY gf.source), " +
        "tt AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS all_tokens " +
        "FROM per) " +
        "SELECT source, n_docs, n_tokens, " +
        "CAST((1000000 * (n_docs - n_unique)) // n_docs AS BIGINT) " +
        "AS dup_micro, " +
        "CAST((1000000 * n_keep) // n_docs AS BIGINT) AS keep_micro, " +
        "CAST((1000000 * n_tokens) // all_tokens AS BIGINT) " +
        "AS token_share_micro " +
        "FROM per CROSS JOIN tt ORDER BY source"),
    "emb_standardize" ->
      ("WITH fx AS (SELECT vec_id, list_transform(embedding, x -> " +
        "CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS f " +
        "FROM embeddings), " +
        "comp AS (SELECT vec_id, u.i - 1 AS pos, u.x AS x FROM fx, " +
        "LATERAL (SELECT UNNEST(f) AS x, generate_subscripts(f, 1) AS i) u), " +
        "st AS (SELECT pos, CAST(SUM(x) AS BIGINT) AS sx, " +
        "CAST(SUM(x * x) AS BIGINT) AS sxx, CAST(COUNT(*) AS BIGINT) AS n " +
        "FROM comp GROUP BY pos), " +
        "zs AS (SELECT vec_id, pos, " +
        "(CAST(x AS DOUBLE) - CAST(sx AS DOUBLE) / n) / " +
        "sqrt((CAST(sxx AS DOUBLE) - " +
        "CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / n) / n) AS z " +
        "FROM comp JOIN st USING (pos)) " +
        "SELECT vec_id, MAX(CASE WHEN pos = 0 THEN z END) AS z0, " +
        "MAX(CASE WHEN pos = 1 THEN z END) AS z1, " +
        "CAST(SUM(CAST(floor(z * z * 1000000.0) AS BIGINT)) AS BIGINT) " +
        "AS z2_total_micro FROM zs GROUP BY vec_id ORDER BY vec_id"),
    "emb_label_centroid" ->
      (s"WITH $labelCentCtes SELECT label, dim, cx, n_vecs FROM cent " +
        "ORDER BY label, dim"),
    "pipeline_interleave" ->
      ("WITH r AS (SELECT doc_id, source, CAST(row_number() OVER " +
        "(PARTITION BY source ORDER BY doc_id) AS BIGINT) AS rn " +
        "FROM documents) " +
        "SELECT doc_id, source, rn, CAST(row_number() OVER " +
        "(ORDER BY rn, source, doc_id) AS BIGINT) AS global_pos " +
        "FROM r ORDER BY global_pos"),
    "emb_silhouette" ->
      (s"WITH $labelCentCtes, " +
        "sd2 AS (SELECT c.vec_id, c.label, ct.label AS clabel, " +
        "CAST(SUM((x - cx) * (x - cx)) AS BIGINT) AS d2 " +
        "FROM comp c JOIN cent ct ON c.dim = ct.dim " +
        "GROUP BY 1, 2, 3), " +
        "ab AS (SELECT vec_id, label, " +
        "MAX(CASE WHEN clabel = label THEN d2 END) AS a2, " +
        "MIN(CASE WHEN clabel <> label THEN d2 END) AS b2 " +
        "FROM sd2 GROUP BY 1, 2), " +
        "sm AS (SELECT label, CASE WHEN " +
        "GREATEST(sqrt(CAST(a2 AS DOUBLE)), sqrt(CAST(b2 AS DOUBLE))) = 0 " +
        "THEN CAST(0 AS BIGINT) ELSE " +
        "CAST(floor(1000000.0 * ((sqrt(CAST(b2 AS DOUBLE)) - " +
        "sqrt(CAST(a2 AS DOUBLE))) / " +
        "GREATEST(sqrt(CAST(a2 AS DOUBLE)), sqrt(CAST(b2 AS DOUBLE))))) " +
        "AS BIGINT) END AS s_micro FROM ab) " +
        "SELECT CAST(label AS BIGINT) AS label, " +
        "CAST(COUNT(*) AS BIGINT) AS n_vecs, " +
        "CAST(SUM(s_micro) AS BIGINT) AS sum_s_micro, " +
        "CAST(SUM(s_micro) AS DOUBLE) / (1000000.0 * COUNT(*)) AS mean_s " +
        "FROM sm GROUP BY 1 ORDER BY label"),
    "emb_label_outlier" ->
      (s"WITH $labelCentCtes, " +
        "d2 AS (SELECT c.label, c.vec_id, " +
        "CAST(SUM((x - cx) * (x - cx)) AS BIGINT) AS dist2 " +
        "FROM comp c JOIN cent ON c.label = cent.label AND c.dim = cent.dim " +
        "GROUP BY c.label, c.vec_id), " +
        "rk AS (SELECT label, vec_id, dist2, row_number() OVER " +
        "(PARTITION BY label ORDER BY dist2 DESC, vec_id) AS rank FROM d2) " +
        "SELECT CAST(label AS BIGINT) AS label, vec_id, dist2, rank " +
        "FROM rk WHERE rank <= 5 ORDER BY label, rank"),
    "pipeline_split_leakage" ->
      (s"WITH ${graft.llm.Dedup.jaccardCtes}, " +
        "pr AS (SELECT da, db FROM pairs WHERE CAST(common AS DOUBLE) / " +
        "CAST(na + nb - common AS DOUBLE) >= 0.2), " +
        s"sp AS (SELECT doc_id, CASE WHEN ${sqlPolyHash("text", 7L)} % 100 < 80 " +
        s"THEN 'train' WHEN ${sqlPolyHash("text", 7L)} % 100 < 90 THEN 'val' " +
        "ELSE 'test' END AS split FROM documents), " +
        "lab AS (SELECT least(a.split, b.split) AS split_a, " +
        "greatest(a.split, b.split) AS split_b FROM pr " +
        "JOIN sp a ON pr.da = a.doc_id JOIN sp b ON pr.db = b.doc_id) " +
        "SELECT split_a, split_b, CAST(COUNT(*) AS BIGINT) AS n_pairs, " +
        "split_a <> split_b AS crosses_split " +
        "FROM lab GROUP BY 1, 2 ORDER BY split_a, split_b"),
    "split_train_test" ->
      (s"SELECT doc_id, ${sqlPolyHash("text", 7L)} % 100 AS bucket, " +
        s"CASE WHEN ${sqlPolyHash("text", 7L)} % 100 < 80 THEN 'train' " +
        s"WHEN ${sqlPolyHash("text", 7L)} % 100 < 90 THEN 'val' " +
        "ELSE 'test' END AS split FROM documents ORDER BY doc_id"),
    "sample_stratified" ->
      ("SELECT event_id, event_type, user_id, value FROM events " +
        "WHERE ((event_id * 1103515245 + 12345) % 2147483648) % 100 < " +
        "CASE event_type WHEN 'purchase' THEN 50 WHEN 'click' THEN 20 " +
        "ELSE 10 END ORDER BY event_id"),
    "dedup_normalized" ->
      ("SELECT sha256(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS h, " +
        "MIN(doc_id) AS keeper, COUNT(*) AS n_copies " +
        "FROM documents GROUP BY 1 ORDER BY keeper"),
    "pack_sequences" ->
      (s"WITH $packCtes SELECT doc_id, n_tokens, batch_id, batch_offset " +
        "FROM packed ORDER BY doc_id"),
    "pipeline_pack_efficiency" ->
      (s"WITH $packCtes SELECT batch_id, " +
        "CAST(COUNT(*) AS BIGINT) AS n_docs, " +
        "CAST(SUM(CASE WHEN batch_offset + n_tokens > 2048 THEN 1 ELSE 0 " +
        "END) AS BIGINT) AS n_straddlers, " +
        "CAST(SUM(n_tokens) AS BIGINT) AS tokens_started, " +
        "MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc " +
        "FROM packed GROUP BY 1 ORDER BY batch_id"))

  /** Shared packing CTE chain ending at `packed` — nested by BOTH the
    * pack_sequences oracle and its pipeline_pack_efficiency gate so the
    * two cannot drift. */
  private lazy val packCtes: String =
    s"t AS (SELECT doc_id, CAST(len(${sqlTokens("text")}) AS BIGINT) " +
      "AS n_tokens FROM documents), " +
      "c AS (SELECT doc_id, n_tokens, SUM(n_tokens) OVER (ORDER BY doc_id " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens " +
      "AS tok_start FROM t), " +
      "packed AS (SELECT doc_id, n_tokens, " +
      "CAST(tok_start // 2048 AS BIGINT) AS batch_id, " +
      "CAST(tok_start % 2048 AS BIGINT) AS batch_offset FROM c)"
}
