package graft.llm

import graft.{SharedIndex, U}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** SURVEY.md §2.10 — similarity search over 64-dim float embeddings.
  *
  * Vector math runs in FIXED POINT: each component is floored to an integer
  * at 1e6 scale, so dot products and norms are exact Long sums — associative,
  * hence identical under Spark's partial aggregation and DuckDB's sequential
  * fold — and only the final cosine division happens in doubles with an
  * identical operand tree. This is what makes brute-force cosine
  * hash-matchable against a SQL oracle at all.
  *
  *  - `sim_bruteforce_topk`: exact top-5 neighbors for the 10 query vectors
  *    (vec_id < 10). Broadcast the queries; one pass over the corpus.
  *  - `dedup_embedding`: all pairs with cosine >= 0.4 (embedding near-dup).
  *    O(n^2) here; the 100 TB path is the LSH prefilter below.
  *  - `sim_lsh_ann`: random-hyperplane LSH (8 deterministic planes →
  *    256 buckets, hamming-1 multiprobe) + exact rerank inside the probed
  *    buckets. Approximate => no SQL oracle; LlmSpec measures recall
  *    against brute force.
  */
object Similarity {

  import graft.plans.CustomExprs.fixed_dot

  /** embedding floored to exact integer micro-units, plus its squared norm.
    * The dot/norm kernels are the custom codegen'd FixedDot expression —
    * Spark's interpreted HOF lambdas cost minutes inside the O(n^2) pair
    * joins at sf0.1; the tight generated loop is ~100x faster with byte-for-
    * byte identical Long results. */
  private[llm] def fixed(s: SparkSession, d: String): DataFrame =
    U.tbl(s, d, "embeddings").select(col("vec_id"), col("label"),
      Pipeline.microVec(col("embedding")).as("fx"))
      .withColumn("nrm", fixed_dot(col("fx"), col("fx")))

  /** The persisted (vec_id, fx, nrm) frame of a query or index build that
    * reads the corpus more than once. A shared-index build unpersists it
    * itself once the index is materialized; a query uses [[trackedEmb]]. */
  private def persistedEmb(s: SparkSession, d: String): DataFrame =
    fixed(s, d).select(col("vec_id"), col("fx"), col("nrm")).persist()

  /** [[persistedEmb]] registered with [[U.track]], so the harness's
    * `U.releaseTracked()` after each query releases it. */
  private def trackedEmb(s: SparkSession, d: String): DataFrame =
    U.track(persistedEmb(s, d))

  /** Recall@3 per query of an index's top-3 `hits` (q_id, id) against the
    * exact top-3 `truth` (q_id, id): (q_id, n_hits, recall = n_hits / 3).
    * Both sides are deterministic (fixed-point scores, id tiebreaks), so
    * the overlap count is exactly oracle-able. */
  private def recallAt3(hits: DataFrame, truth: DataFrame): DataFrame =
    hits.toDF("q_id", "hv")
      .join(truth.toDF("bq", "bv"),
        col("q_id") === col("bq") && col("hv") === col("bv"), "left")
      .groupBy(col("q_id"))
      .agg(count(col("bv")).as("n_hits"))
      .select(col("q_id"), col("n_hits"),
        (col("n_hits").cast(DoubleType) / lit(3.0)).as("recall"))
      .orderBy("q_id")

  /** Exact cosine top-3 (q_id, vec_id) of the 10 lowest-id probes — the
    * ground truth of the cosine indexes (IVF, kNN graph, int8). */
  private def cosTop3(s: SparkSession, d: String): DataFrame =
    scoredNeighbors(s, d, nQueries = 10, k = 3)
      .select(col("q_id"), col("vec_id"))

  /** Exact squared-L2 top-3 (q_id, vec_id) of the 10 lowest-id probes —
    * the ground truth of the PQ indexes, whose ADC ranks by L2. */
  private def l2Top3(s: SparkSession, d: String): DataFrame = {
    val all = trackedEmb(s, d)
    val q = all.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("fx").as("qx"), col("nrm").as("qn"))
    val wb = Window.partitionBy(col("q_id")).orderBy(col("d2"), col("vec_id"))
    all.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("d2", col("qn") - lit(2L) * fixed_dot(col("qx"), col("fx")) +
        col("nrm"))
      .withColumn("rank", row_number().over(wb))
      .filter(col("rank") <= 3)
      .select(col("q_id"), col("vec_id"))
  }

  private def dotCol(a: Column, b: Column): Column = fixed_dot(a, b)

  private def cosCol(dot: Column, na: Column, nb: Column): Column =
    dot.cast(DoubleType) / (sqrt(na.cast(DoubleType)) * sqrt(nb.cast(DoubleType)))

  /** Exact cosine-neighbor scaffold shared by `sim_bruteforce_topk` and
    * `emb_knn_classify`: the nQueries lowest vec_ids broadcast against one
    * corpus stream, each neighbor ranked per query by (cos DESC, vec_id)
    * and kept to the top k. One definition of the scoring tree so the two
    * queries cannot drift from their SQL mirrors independently. */
  private def scoredNeighbors(s: SparkSession, d: String,
      nQueries: Int, k: Int): DataFrame = {
    val all = fixed(s, d)
    val q = all.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("label").as("true_label"),
        col("fx").as("qx"), col("nrm").as("qn"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("vec_id"))
    all.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("cos", cosCol(dotCol(col("qx"), col("fx")), col("qn"), col("nrm")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** Recall@3 of the IVF index against brute-force ground truth per query
    * — ANN quality MEASURED, not assumed: the acceptance gate every
    * approximate index needs before it replaces the exact path at scale.
    * Both sides are the library's own declared queries (deterministic
    * fixed-point cosine, deterministic tiebreaks), so the overlap count is
    * exactly oracle-able; the join is 30 rows against 30. */
  private def simRecallAtK(s: SparkSession, d: String): DataFrame =
    recallAt3(ivfAnn(s, d).select(col("q_id"), col("vec_id")), cosTop3(s, d))

  private def bruteforceTopk(s: SparkSession, d: String): DataFrame =
    scoredNeighbors(s, d, nQueries = 10, k = 5)
      .select(col("q_id"), col("vec_id"), col("cos"),
        col("rank").cast(LongType).as("rank"))
      .orderBy("q_id", "rank")

  /** Radius (range) search — the OTHER exact vector-query shape next to
    * [[bruteforceTopk]]'s top-k: every corpus neighbor within cosine ≥
    * 0.35 of each of the 10 probe vectors. Same broadcast-probe /
    * one-corpus-stream scan and the same fixed-point cosine tree, but
    * NO per-query rank window at all — a radius cut is a pure filter,
    * so at 100 TB this is strictly cheaper than top-k (no per-probe
    * sort state, map-side end to end before the output sort). The 0.35
    * threshold compares the identical double both engines (the
    * `dedup_embedding` cos ≥ 0.4 precedent). */
  private def radiusSearch(s: SparkSession, d: String): DataFrame = {
    val all = fixed(s, d)
    val q = all.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("fx").as("qx"),
        col("nrm").as("qn"))
    all.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("cos",
        cosCol(dotCol(col("qx"), col("fx")), col("qn"), col("nrm")))
      .filter(col("cos") >= 0.35)
      .select(col("q_id"), col("vec_id"), col("cos"))
      .orderBy("q_id", "vec_id")
  }

  /** kNN majority-vote label prediction (the label-quality rung above
    * `sim_bruteforce_topk`): each of the 100 query vectors is classified by
    * the modal label of its 10 exact-cosine nearest neighbors, with a
    * deterministic (votes DESC, label ASC) tiebreak so the prediction is
    * engine-independent. The corpus streams once against the broadcast
    * query set — at 100 TB the query block is the small side by
    * construction (holdout vs corpus), so the scan is map-side with two
    * narrow per-query rollups after it; ranking and voting are exact
    * (identical cosine operand trees, integer votes), hence the full
    * prediction table hash-matches SQL. */
  private def knnClassify(s: SparkSession, d: String): DataFrame = {
    val wv = Window.partitionBy(col("q_id"))
      .orderBy(col("votes").desc, col("label"))
    scoredNeighbors(s, d, nQueries = 100, k = 10)
      .groupBy(col("q_id"), col("true_label"), col("label"))
      .agg(count(lit(1)).as("votes"))
      .withColumn("rn", row_number().over(wv))
      .filter(col("rn") === 1)
      .select(col("q_id"),
        col("true_label").cast(LongType).as("true_label"),
        col("label").cast(LongType).as("pred_label"), col("votes"),
        (col("label") === col("true_label")).as("is_correct"))
      .orderBy("q_id")
  }

  /** Vector-count bound for the exact all-pairs near-dup path: n(n-1)/2
    * codegen'd 64-dim dot products. 65536 vectors ≈ 2.1e9 pairs — core-
    * minutes on a cluster, the last scale where exact is sane; past it the
    * declared query switches to the IVF-blocked candidates + IDENTICAL
    * exact rerank ([[blockedPairs]], the `dedup_embedding_ann` kernel).
    * Below the cap the output is exact (the correctness anchor the DuckDB
    * oracle checks — no deterministic prefilter can guarantee 100% recall
    * at an arbitrary cosine threshold over unstructured vectors); above it
    * recall is approximate, which is precisely the documented 100 TB trade.
    * Same dispatch idiom as [[graft.operators.Components.DsuEdgeCap]]. */
  private[llm] val EmbExactVecCap = 65536L

  /** Embedding near-dup pairs (cos >= 0.4), size-gated: exact all-pairs
    * below [[EmbExactVecCap]], IVF-blocked + exact rerank above. */
  private def embeddingPairs(s: SparkSession, d: String): DataFrame =
    embeddingPairsImpl(s, d, EmbExactVecCap)

  private[graft] def embeddingPairsImpl(s: SparkSession, d: String,
      exactCap: Long): DataFrame = {
    val emb = trackedEmb(s, d)
    // one action on the persisted frame picks the path (and doubles as
    // the cache materializer both branches then reuse). The projection is
    // 1:1 with the source table, so at 100 TB the gate VALUE is available
    // metadata-only — parquet footer row counts / catalog rowCount stats
    // on `embeddings` — without executing the transform; the count() here
    // is the local-fixture form of that lookup.
    val n = emb.count()
    if (n <= exactCap) {
      val a = emb.select(col("vec_id").as("da"), col("fx").as("xa"),
        col("nrm").as("na"))
      val b = emb.select(col("vec_id").as("db"), col("fx").as("xb"),
        col("nrm").as("nb"))
      a.crossJoin(b).filter(col("da") < col("db"))
        .withColumn("cos", cosCol(dotCol(col("xa"), col("xb")), col("na"), col("nb")))
        .filter(col("cos") >= 0.4)
        .select(col("da"), col("db"), col("cos"))
        .orderBy("da", "db")
    } else blockedPairs(emb, n)
  }

  /** Scaled embedding near-dup: IVF cluster blocking (each vector probes its
    * 3 nearest coarse centroids) + exact fixed-point cosine rerank fused
    * into the within-cluster self-join. Work is n^2 * nprobe / K instead of
    * n^2, every stage a plain shuffle/broadcast — the 100 TB shape.
    * Candidates found in both shared clusters dedupe in the final distinct,
    * which only ever sees verified cos>=0.4 pairs. Approximate recall
    * (boundary vectors can land in disjoint probe sets) => rows-only gate;
    * LlmSpec asserts subset-of-exact + recall against `dedup_embedding`. */
  private def embeddingPairsAnn(s: SparkSession, d: String): DataFrame = {
    // the √n-cell IVF build is this query's own work (its only consumer),
    // so it runs inside the timed call like the serving half
    val emb = trackedEmb(s, d)
    blockedPairs(emb, emb.count())
  }

  /** The shared IVF-blocked pair kernel: `dedup_embedding_ann`'s whole body,
    * and `dedup_embedding`'s past-the-cap path. `emb` must be persisted. */
  private def blockedPairs(emb: DataFrame, n: Long): DataFrame = {
    // k ~ sqrt(n): candidate work is n^2 * nprobe^2 / k, so sqrt-scaling k
    // keeps the blocked fraction shrinking as the corpus grows while
    // clusters stay populated enough for near-dups to co-probe (a fixed k
    // over-fragments small corpora and under-prunes huge ones).
    val k = math.max(4, math.min(1024, math.round(math.sqrt(n.toDouble)).toInt))
    val cent = U.track(ivfCentroids(emb, k)) // per-query k — not the shared 16
    blockedPairsServe(U.track(assignN(emb, cent, 3).persist()))
  }

  /** The timed serving half: within-cell candidate join + exact cosine
    * rerank + distinct over any 3-probe (cid, vec_id, fx, nrm) frame. */
  private def blockedPairsServe(probed: DataFrame): DataFrame = {
    val a = probed.select(col("cid"), col("vec_id").as("da"), col("fx").as("xa"),
      col("nrm").as("na"))
    val b = probed.select(col("cid").as("cidb"), col("vec_id").as("db"),
      col("fx").as("xb"), col("nrm").as("nb"))
    a.join(b, col("cid") === col("cidb") && col("da") < col("db") &&
        cosCol(dotCol(col("xa"), col("xb")), col("na"), col("nb")) >= 0.4)
      .select(col("da"), col("db"),
        cosCol(dotCol(col("xa"), col("xb")), col("na"), col("nb")).as("cos"))
      .distinct()
      .orderBy("da", "db")
  }

  /** Deterministic pseudo-random hyperplanes (LCG over the flat index — no
    * RNG object, so plans and results are reproducible across runs). */
  private[llm] def planes(nPlanes: Int, dim: Int): Array[Array[Double]] =
    Array.tabulate(nPlanes, dim) { (j, i) =>
      val x = (1103515245L * (j * dim + i + 1) + 12345L) % 2147483648L
      x.toDouble / 2147483648.0 - 0.5
    }

  private def lshAnn(s: SparkSession, d: String): DataFrame = {
    val nPlanes = 8 // 256 buckets — sized so buckets hold a rerank-able handful
    // planes quantized to the same 1e6 fixed-point grid as the vectors, so
    // the bucket-bit sign test is a codegen'd FixedDot, not interpreted HOFs
    val pl = planes(nPlanes, 64).map(_.map(v => math.floor(v * 1000000.0).toLong))
    val planeCols = pl.zipWithIndex.map { case (p, j) =>
      // dot(fx, plane_j) > 0 => bit j of the bucket id
      val dot = fixed_dot(col("fx"), array(p.map(v => lit(v)).toIndexedSeq: _*))
      when(dot > 0, lit(1L << j)).otherwise(lit(0L))
    }
    val emb = U.tbl(s, d, "embeddings")
      .withColumn("fx", Pipeline.microVec(col("embedding")))
      .withColumn("bucket", planeCols.reduce(_ + _))
      .withColumn("nrm", fixed_dot(col("fx"), col("fx")))
      .select(col("vec_id"), col("bucket"), col("fx"), col("nrm"))
    // multiprobe: each query also probes the nPlanes buckets at hamming
    // distance 1 (sign flips near a hyperplane are the dominant miss mode)
    val probes = array((lit(0L) +: (0 until nPlanes).map(j => lit(1L << j))): _*)
    val q = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("bucket").as("q_bucket"),
        col("fx").as("qx"), col("nrm").as("qn"))
      .withColumn("flip", explode(probes))
      .withColumn("probe_bucket", expr("q_bucket ^ flip"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("vec_id"))
    emb.join(broadcast(q), col("bucket") === col("probe_bucket") &&
        col("vec_id") =!= col("q_id"))
      .withColumn("cos", cosCol(dotCol(col("qx"), col("fx")), col("qn"), col("nrm")))
      .withColumn("rank", row_number().over(w).cast(LongType))
      .filter(col("rank") <= 3)
      .select(col("q_id"), col("vec_id"), col("cos"), col("rank"))
      .orderBy("q_id", "rank")
  }

  /** IVF-style ANN: k-means-lite coarse quantizer (deterministic init = the
    * 16 lowest vec_ids, 2 Lloyd iterations as pure DataFrame ops), then
    * nprobe=2 cluster search with exact fixed-point rerank. This is the
    * 100 TB path for embedding search: the O(n^2) work shrinks to
    * n * nprobe/K, each stage a plain shuffle/broadcast.
    *
    * The whole index build runs in the integer domain — FixedDot coarse
    * metric, centroids as exact Long sums with integer division — so it is
    * partial-aggregation-order-free and bit-reproducible run over run
    * (double-avg centroids are not). Approximate => rows-only gate; recall
    * asserted in LlmSpec. */
  /** Top-`n` nearest-centroid assignment by cosine (dot normalized by the
    * centroid norm; the vector's own norm is rank-invariant per vec_id) —
    * the right coarse metric when the downstream predicate is a cosine
    * threshold. n=1 builds the index; n>1 multi-probes. */
  private def assignN(emb: DataFrame, cent: DataFrame, n: Int): DataFrame = {
    // Score narrow, shuffle narrow, join the vectors back by id: the
    // argmin runs over (vec_id, cid, dist) triples instead of dragging the
    // 64-long fx arrays through the sort/agg exchange (64x the bytes for
    // data the argmin never reads). n=1 further replaces the sort window
    // with a map-side-combinable hash agg — min(struct(dist, cid)) is the
    // same (dist, cid) lexicographic tie-break the window used.
    val scored = emb.select(col("vec_id").as("a_vid"), col("fx"))
      .crossJoin(broadcast(cent))
      .withColumn("dist", -dotCol(col("fx"), col("cfx")).cast(DoubleType) /
        sqrt(dotCol(col("cfx"), col("cfx")).cast(DoubleType)))
      .select(col("a_vid"), col("cid"), col("dist"))
    val picked =
      if (n == 1)
        scored.groupBy(col("a_vid"))
          .agg(min(struct(col("dist"), col("cid"))).as("m"))
          .select(col("a_vid"), col("m.cid").as("cid"))
      else {
        val w = Window.partitionBy(col("a_vid")).orderBy(col("dist"), col("cid"))
        scored.withColumn("rn", row_number().over(w))
          .filter(col("rn") <= n)
          .select(col("a_vid"), col("cid"))
      }
    picked.join(emb, picked("a_vid") === emb("vec_id"))
      .select(col("vec_id"), col("cid"), col("fx"), col("nrm"))
  }

  /** k-means-lite coarse quantizer: deterministic init (the k lowest
    * vec_ids), 2 Lloyd iterations as pure DataFrame ops, all in the integer
    * domain (exact Long sums + integer division) so centroids are
    * bit-reproducible regardless of partial-aggregation order.
    *
    * `seedCut` >= 0 switches seed selection to `vec_id <= seedCut` with
    * DENSE 0-based centroid ids (rank within the <=k-row seed frame) —
    * the facade path for caller frames whose ids are not dense from 0
    * (`vec_id < k` there silently selects too few/no seeds, and a raw
    * Int cast of a >2^31 id could collide two centroid labels). The
    * default path keeps the declared queries' exact plan and cids. */
  private[graft] def ivfCentroids(emb: DataFrame, k: Int,
      seedCut: Long = -1L): DataFrame = {
    def recenter(assigned: DataFrame): DataFrame =
      assigned.select(col("cid"), posexplode(col("fx")).as(Seq("pos", "x")))
        .groupBy(col("cid"), col("pos"))
        .agg(sum(col("x")).as("sx"), count(lit(1)).as("cnt"))
        .withColumn("cx", expr("sx DIV cnt"))
        .groupBy(col("cid"))
        .agg(array_sort(collect_list(struct(col("pos"), col("cx")))).as("ps"))
        .select(col("cid"), transform(col("ps"), p => p.getField("cx")).as("cfx"))
    var cent =
      if (seedCut >= 0L)
        // <=k-row frame by construction — the unpartitioned rank window
        // is constant-bounded (caller-bounded k; see SCALE.md audit)
        emb.filter(col("vec_id") <= seedCut)
          .select((row_number().over(Window.orderBy(col("vec_id"))) - 1)
            .as("cid"), col("fx").as("cfx"))
      else emb.filter(col("vec_id") < k)
        .select(col("vec_id").cast(IntegerType).as("cid"), col("fx").as("cfx"))
    for (_ <- 0 until 2) {
      val next = recenter(assignN(emb, cent, 1)).persist()
      next.count() // materialize before releasing the superseded centroids
      cent.unpersist()
      cent = next
    }
    cent // persisted + materialized; caller decides track-vs-share lifetime
  }

  /** Shared k=16 coarse quantizer (a [[graft.SharedIndex]] entry): the
    * IVF and IVF-PQ queries need the same deterministic index, so the
    * 2-iteration Lloyd build runs ONCE per session instead of each query
    * re-running k-means — that duplicate build was a measured 1.8→3.3 s
    * bench regression when the second consumer landed. */
  private val centIndex = SharedIndex[DataFrame]("centroids16", Seq(
      "emb_ood_score", "sim_index_persist", "sim_ivf_ann", "sim_ivf_curve",
      "sim_ivfpq_adc", "sim_ivfpq_recall", "sim_recall_at_k"),
      Seq(_)) { (s, d) =>
    val emb = persistedEmb(s, d)
    val c = ivfCentroids(emb, 16)
    emb.unpersist() // c is materialized; the build input can go
    c
  }
  private def centroids16(s: SparkSession, d: String): DataFrame =
    centIndex.get(s, d)

  /** The k=16 nprobe=1 corpus assignment — the serving-side HALF of the
    * shared IVF index that `sim_ivf_ann` and `sim_ivf_curve` both probed
    * and each re-built per invocation (~0.4 s each at sf0.1). A
    * [[graft.SharedIndex]] entry like [[centroids16]]; the probe windows,
    * candidate joins, reranks and recall math stay timed.
    * (`sim_index_persist` deliberately does NOT use it: re-assigning from
    * the file-loaded index is that query's point.) */
  private val assigned16Index = SharedIndex[DataFrame]("assigned16", Seq(
      "sim_ivf_ann", "sim_ivf_curve", "sim_recall_at_k"), Seq(_)) { (s, d) =>
    val emb = persistedEmb(s, d)
    val a = assignN(emb, centroids16(s, d), 1).persist()
    a.count()
    emb.unpersist()
    a
  }
  private def assigned16Cached(s: SparkSession, d: String): DataFrame =
    assigned16Index.get(s, d)

  private def ivfAnn(s: SparkSession, d: String): DataFrame = {
    val emb = trackedEmb(s, d)
    val cent = centroids16(s, d)
    val assigned = assigned16Cached(s, d)
    // queries probe their 2 nearest centroids
    val wq = Window.partitionBy(col("q_id")).orderBy(col("qdist"), col("cid"))
    val q = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("fx").as("qx"), col("nrm").as("qn"))
      .crossJoin(broadcast(cent))
      // same cosine coarse metric as assignN, so probe and index agree
      .withColumn("qdist", -dotCol(col("qx"), col("cfx")).cast(DoubleType) /
        sqrt(dotCol(col("cfx"), col("cfx")).cast(DoubleType)))
      .withColumn("prb", row_number().over(wq))
      .filter(col("prb") <= 2)
      .select(col("q_id"), col("cid"), col("qx"), col("qn"))
    val wr = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("vec_id"))
    assigned.join(broadcast(q), Seq("cid"))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("cos", cosCol(dotCol(col("qx"), col("fx")), col("qn"), col("nrm")))
      .withColumn("rank", row_number().over(wr).cast(LongType))
      .filter(col("rank") <= 3)
      .select(col("q_id"), col("vec_id"), col("cos"), col("rank"))
      .orderBy("q_id", "rank")
  }

  /** Recall/cost curve of the IVF index across probe widths — the tuning
    * table an ANN deployment actually reads before picking nprobe: one
    * row per setting with the candidate-set size (the COST — how many
    * exact cosines the rerank pays) and recall@3 against brute-force
    * ground truth (the QUALITY). Candidates are scored ONCE at the widest
    * probe and each narrower setting filters by probe rank, so the curve
    * costs one corpus join, not |settings|. Everything is deterministic
    * (fixed-point Lloyd quantizer, integer cosine trees, id tiebreaks),
    * so the whole curve hash-matches its SQL mirror — an exactly-oracled
    * measurement of an approximate index. */
  private[graft] def ivfCurveOnEmb(emb: DataFrame, cent: DataFrame,
      nQueries: Int, probes: Seq[Int], queryCut: Long = -1L,
      nQueryActual: Long = -1L, assignedPre: DataFrame = null): DataFrame = {
    // assignedPre: the declared query passes the shared cached assignment
    // (see assigned16Cached); the facade path builds and tracks its own
    val assigned =
      if (assignedPre != null) assignedPre
      else U.track(assignN(emb, cent, 1).persist())
    val wq = Window.partitionBy(col("q_id")).orderBy(col("qdist"), col("cid"))
    // queryCut >= 0: the facade's ranked-id selection (queries = the
    // nQueries SMALLEST ids, not ids below nQueries — on a caller frame
    // with ids starting at 1000 the raw threshold selects nothing);
    // the default keeps the declared query's exact plan.
    val qFilter = if (queryCut >= 0L) col("vec_id") <= queryCut
      else col("vec_id") < nQueries
    val q = emb.filter(qFilter)
      .select(col("vec_id").as("q_id"), col("fx").as("qx"), col("nrm").as("qn"))
    val probed = q.crossJoin(broadcast(cent))
      .withColumn("qdist", -dotCol(col("qx"), col("cfx")).cast(DoubleType) /
        sqrt(dotCol(col("cfx"), col("cfx")).cast(DoubleType)))
      .withColumn("prb", row_number().over(wq))
      .filter(col("prb") <= probes.max)
      .select(col("q_id"), col("cid"), col("prb"), col("qx"), col("qn"))
    val cand = U.track(assigned.join(broadcast(probed), Seq("cid"))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("cos", cosCol(dotCol(col("qx"), col("fx")), col("qn"), col("nrm")))
      .select(col("q_id"), col("prb"), col("vec_id"), col("cos"))
      .persist())
    val wb = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("vec_id"))
    val bf = emb.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("cos", cosCol(dotCol(col("qx"), col("fx")), col("qn"), col("nrm")))
      .withColumn("rank", row_number().over(wb))
      .filter(col("rank") <= 3)
      .select(col("q_id").as("bq"), col("vec_id").as("bv"))
    // the recall denominator is the ACTUAL query count (3 truth rows per
    // query): with fewer matching ids than nQueries a fixed nQueries*3
    // denominator would understate recall
    val denom = (if (nQueryActual >= 0L) nQueryActual else nQueries.toLong) * 3.0
    probes.map { np =>
      val wr = Window.partitionBy(col("q_id"))
        .orderBy(col("cos").desc, col("vec_id"))
      val c = cand.filter(col("prb") <= np)
      val top = c.withColumn("rank", row_number().over(wr))
        .filter(col("rank") <= 3)
      val hits = top.join(bf,
          top("q_id") === col("bq") && top("vec_id") === col("bv"), "left")
        .agg(count(col("bv")).as("n_hits"))
      val nc = c.agg(count(lit(1)).as("n_candidates"))
      nc.crossJoin(hits).select(lit(np.toLong).as("nprobe"),
        col("n_candidates"), col("n_hits"),
        (col("n_hits").cast(DoubleType) / lit(denom)).as("recall"))
    }.reduce(_.unionByName(_)).orderBy("nprobe")
  }

  private def ivfCurve(s: SparkSession, d: String): DataFrame = {
    val emb = trackedEmb(s, d)
    ivfCurveOnEmb(emb, centroids16(s, d), nQueries = 10, probes = Seq(1, 2, 4),
      assignedPre = assigned16Cached(s, d))
  }

  /** Product-quantization ADC search — the memory-bound ANN shape (IVF
    * probes fewer vectors; PQ shrinks each vector to a few CODE BYTES and
    * scores against a per-query lookup table, the form a 100 TB index
    * actually stores): 4 contiguous 16-dim subspaces, k=16 centroids each
    * from a deterministic 1-step Lloyd in the exact integer domain, each
    * vector encoded as 4 sub-codes, and the asymmetric distance
    * Σ_s ‖q_s − c_{code_s}‖² summed from the 160-row broadcast LUT. All
    * distances are exact Longs (‖a−b‖² = ‖a‖² − 2a·b + ‖b‖² over
    * fixed-point components), so the codebook, the codes AND the ranked
    * search hash-match SQL. Shared chain: [[pqAdc]] ranks, [[pqRecall]]
    * gates it against the exact-L2 top-3. */
  private[graft] def pqCoded(emb: DataFrame, nSub: Int = 4, k: Int = 16,
      vecDim: Int = 64, seedCut: Long = -1L)
      : (DataFrame, DataFrame, DataFrame) = {
    // subspace width derives from the DECLARED vector dimension (the
    // facade measures it off the caller frame; the fixture embeddings
    // are 64-dim) — a hard-coded 64 would slice past/short of any other
    // dimensionality and produce wrong codes with no error
    require(vecDim % nSub == 0, s"pqCoded: dim $vecDim not divisible by $nSub")
    val dim = vecDim / nSub
    // persisted but NOT U.track'd: the caller decides the lifetime
    // (the declared queries cache the triple per JVM; the facade tracks
    // and releases per call)
    val subsP = (0 until nSub).map { ss =>
        emb.select(col("vec_id"),
            expr(s"slice(fx, ${ss * dim + 1}, $dim)").as("sx"))
          .withColumn("sub", lit(ss.toLong))
      }.reduce(_ unionByName _)
      .withColumn("snrm", fixed_dot(col("sx"), col("sx"))).persist()
    def assign(cent: DataFrame): DataFrame = {
      val w = Window.partitionBy(col("sub"), col("vec_id"))
        .orderBy(col("d2"), col("cid"))
      subsP.join(broadcast(cent), Seq("sub"))
        .withColumn("d2", col("snrm") -
          lit(2L) * fixed_dot(col("sx"), col("cx")) +
          fixed_dot(col("cx"), col("cx")))
        .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("sub"), col("vec_id"), col("cid"), col("sx"))
    }
    // seedCut >= 0: facade ranked-id seeds (dense 0-based codes via the
    // per-sub rank — partitioned window, <=k rows per sub); default path
    // keeps the declared queries' exact plan and code ids
    val c0 =
      if (seedCut >= 0L)
        subsP.filter(col("vec_id") <= seedCut)
          .select(col("sub"), (row_number().over(Window.partitionBy(col("sub"))
            .orderBy(col("vec_id"))) - 1).as("cid"), col("sx").as("cx"))
      else subsP.filter(col("vec_id") < k)
        .select(col("sub"), col("vec_id").cast(IntegerType).as("cid"),
          col("sx").as("cx"))
    val cent1 = assign(c0)
      .select(col("sub"), col("cid"), posexplode(col("sx")).as(Seq("pos", "x")))
      .groupBy(col("sub"), col("cid"), col("pos"))
      .agg(expr("sum(x) DIV count(1)").as("cxx"))
      .groupBy(col("sub"), col("cid"))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("cxx")))),
        t => t.getField("cxx")).as("cx"))
    val coded = assign(cent1)
      .select(col("sub"), col("vec_id"), col("cid")).persist()
    (subsP, cent1, coded)
  }

  private[graft] def pqAdcOnEmb(emb: DataFrame, nQueries: Int,
      nSub: Int = 4, k: Int = 16, vecDim: Int = 64, seedCut: Long = -1L,
      queryCut: Long = -1L): DataFrame = {
    val t = pqCoded(emb, nSub, k, vecDim, seedCut)
    U.track(t._1); U.track(t._3)
    pqAdcOnEmbCached(t, nQueries, queryCut)
  }

  private def pqAdcOnEmbCached(t: (DataFrame, DataFrame, DataFrame),
      nQueries: Int, queryCut: Long = -1L): DataFrame = {
    val (subsP, cent1, coded) = t
    // queryCut >= 0: facade ranked-id queries (the ivfCurveOnEmb rule)
    val qFilter = if (queryCut >= 0L) col("vec_id") <= queryCut
      else col("vec_id") < nQueries
    val q = subsP.filter(qFilter)
      .select(col("sub"), col("vec_id").as("q_id"), col("sx").as("qx"),
        col("snrm").as("qn"))
    val lut = q.join(broadcast(cent1), Seq("sub"))
      .select(col("sub"), col("q_id"), col("cid"),
        (col("qn") - lit(2L) * fixed_dot(col("qx"), col("cx")) +
          fixed_dot(col("cx"), col("cx"))).as("d2"))
    val wr = Window.partitionBy(col("q_id")).orderBy(col("adc_d2"), col("vec_id"))
    coded.join(broadcast(lut), Seq("sub", "cid"))
      .filter(col("vec_id") =!= col("q_id"))
      .groupBy(col("q_id"), col("vec_id"))
      .agg(sum(col("d2")).as("adc_d2"))
      .withColumn("rank", row_number().over(wr).cast(LongType))
      .filter(col("rank") <= 3)
      .select(col("q_id"), col("vec_id"), col("adc_d2"), col("rank"))
  }

  /** Shared PQ index (a [[graft.SharedIndex]] entry): the PQ queries
    * need the same deterministic codebook + codes, and the two assignment
    * passes cost ~2 s each — so the build runs ONCE per session and is
    * served persisted. */
  private val pqIndex = SharedIndex[(DataFrame, DataFrame, DataFrame)](
      "pqCoded", Seq("sim_pq_adc", "sim_pq_distortion", "sim_pq_recall"),
      t => Seq(t._1, t._3)) { (s, d) =>
    val emb = fixed(s, d).select(col("vec_id"), col("fx")).persist()
    // pqCoded persists subsP/coded via U.track — untrack them into
    // the shared cache by building outside the tracked path
    val t = pqCodedUntracked(emb)
    emb.unpersist()
    t
  }
  private def pqCodedCached(s: SparkSession, d: String)
      : (DataFrame, DataFrame, DataFrame) = pqIndex.get(s, d)
  private def pqCodedUntracked(emb: DataFrame)
      : (DataFrame, DataFrame, DataFrame) = {
    val (subsP, cent1, coded) = pqCoded(emb)
    subsP.count(); coded.count() // materialize into the shared cache
    (subsP, cent1, coded)
  }

  private def pqAdcTop(s: SparkSession, d: String): DataFrame =
    pqAdcOnEmbCached(pqCodedCached(s, d), nQueries = 10)

  private def pqAdc(s: SparkSession, d: String): DataFrame =
    pqAdcTop(s, d).orderBy("q_id", "rank")

  /** IVF-PQ residual ADC search — the configuration that PASSES the
    * recall gate the raw PQ failed (sim_pq_recall ≈ 0.2 on this
    * near-uniform corpus): quantize each vector's RESIDUAL against its
    * coarse IVF cell (residual magnitudes are bounded by cell size, so
    * the same 4×16 codebook spends its 16 levels on a far smaller
    * domain), probe the query's `nprobe` nearest cells, rank the probed
    * candidates by the asymmetric residual distance ‖(q−c_cell)−r̂‖²
    * from a broadcast LUT, keep an `nShort` shortlist, and EXACT-refine
    * only those (the production IVF-PQ serving shape: codes prune
    * corpus→shortlist; the refine pays `nShort` full-vector reads per
    * query, not |cell|). Everything stays in the exact integer domain —
    * residuals are Long differences, codebooks the same 1-step Lloyd
    * discipline as [[pqCoded]], ADC sums exact Longs — so codes, the
    * shortlist AND the refined ranking hash-match SQL. Quality is
    * MEASURED, not assumed: [[ivfPqRecall]] nests the exact-L2 truth
    * (nprobe=4, nShort=192: recall@3 = 0.9 / 1.0 / 1.0 at
    * sf0.001/0.01/0.1 — above the sim_ivf_curve nprobe=1 row at every
    * SF; the sf0.001 0.9 is the nprobe=4 coverage ceiling itself).
    *
    * Scale shape: the build is one coarse assign + two codebook assigns
    * (broadcast joins over one corpus stream each); serving is
    * broadcast-LUT joins over the probed cells only. A shared
    * [[graft.SharedIndex]] entry since the ADC query and its recall gate
    * need the identical index. */
  private[graft] def ivfPqOnEmb(emb: DataFrame, cent: DataFrame,
      nQueries: Int, nprobe: Int = 4, nShort: Int = 32, nSub: Int = 4,
      k: Int = 16, vecDim: Int = 64, seedCut: Long = -1L,
      queryCut: Long = -1L): DataFrame = {
    val t = ivfPqCoded(emb, cent, nSub, k, vecDim, seedCut)
    U.track(t._1); U.track(t._2)
    ivfPqOnCoded(emb, cent, t, nQueries, nprobe, nShort, queryCut, nSub,
      vecDim)
  }

  /** The residual-PQ index build: (coded, cent1) where `coded` is
    * (sub, vec_id, cid, pcid) — each vector's coarse cell and its
    * per-subspace residual code — and `cent1` the 1-step-Lloyd residual
    * codebook (sub, pcid, cx). Both persisted; caller owns lifetime. */
  private[graft] def ivfPqCoded(emb: DataFrame, cent: DataFrame,
      nSub: Int, k: Int, vecDim: Int, seedCut: Long)
      : (DataFrame, DataFrame) = {
    require(vecDim % nSub == 0, s"ivfPqCoded: dim $vecDim not /$nSub")
    val dim = vecDim / nSub
    val resid = assignN(emb, cent, 1)
      .join(broadcast(cent), Seq("cid"))
      .select(col("vec_id"), col("cid"),
        zip_with(col("fx"), col("cfx"), (a, b) => a - b).as("rx"))
    // ONE posexplode projection, not an nSub-way union: union branches
    // re-execute the unpersisted assign+join parent per branch (a
    // measured 4x on the build input)
    val subsR = resid
      .select(col("vec_id"), col("cid"), posexplode(array(
          (0 until nSub).map(ss =>
            expr(s"slice(rx, ${ss * dim + 1}, $dim)")): _*))
        .as(Seq("sub", "sx")))
      .withColumn("sub", col("sub").cast(LongType))
      .withColumn("snrm", fixed_dot(col("sx"), col("sx"))).persist()
    def assign(cb: DataFrame): DataFrame = {
      val w = Window.partitionBy(col("sub"), col("vec_id"))
        .orderBy(col("d2"), col("pcid"))
      subsR.join(broadcast(cb), Seq("sub"))
        .withColumn("d2", col("snrm") -
          lit(2L) * fixed_dot(col("sx"), col("cx")) +
          fixed_dot(col("cx"), col("cx")))
        .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("sub"), col("vec_id"), col("cid"), col("pcid"),
          col("sx"))
    }
    val c0 =
      if (seedCut >= 0L)
        subsR.filter(col("vec_id") <= seedCut)
          .select(col("sub"), (row_number().over(Window
            .partitionBy(col("sub")).orderBy(col("vec_id"))) - 1)
            .as("pcid"), col("sx").as("cx"))
      else subsR.filter(col("vec_id") < k)
        .select(col("sub"), col("vec_id").cast(IntegerType).as("pcid"),
          col("sx").as("cx"))
    val cent1 = assign(c0)
      .select(col("sub"), col("pcid"),
        posexplode(col("sx")).as(Seq("pos", "x")))
      .groupBy(col("sub"), col("pcid"), col("pos"))
      .agg(expr("sum(x) DIV count(1)").as("cxx"))
      .groupBy(col("sub"), col("pcid"))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("cxx")))),
        t => t.getField("cxx")).as("cx")).persist()
    cent1.count()
    val coded = assign(cent1)
      .select(col("sub"), col("vec_id"), col("cid"), col("pcid")).persist()
    coded.count()
    subsR.unpersist()
    (coded, cent1)
  }

  /** The IVF-PQ serving path over a built (coded, cent1) index. */
  private def ivfPqOnCoded(emb: DataFrame, cent: DataFrame,
      t: (DataFrame, DataFrame), nQueries: Int, nprobe: Int, nShort: Int,
      queryCut: Long = -1L, nSub: Int = 4, vecDim: Int = 64): DataFrame = {
    val (coded, cent1) = t
    val qFilter = if (queryCut >= 0L) col("vec_id") <= queryCut
      else col("vec_id") < nQueries
    val q = emb.filter(qFilter)
      .select(col("vec_id").as("q_id"), col("fx").as("qx"),
        col("nrm").as("qn"))
    // probe the nprobe nearest coarse cells by the SAME cosine metric
    // the index was built with (assignN), carrying the cell vector for
    // the query-residual computation
    val wq = Window.partitionBy(col("q_id")).orderBy(col("qdist"), col("cid"))
    val probed = q.crossJoin(broadcast(cent))
      .withColumn("qdist", -dotCol(col("qx"), col("cfx")).cast(DoubleType) /
        sqrt(dotCol(col("cfx"), col("cfx")).cast(DoubleType)))
      .withColumn("prb", row_number().over(wq))
      .filter(col("prb") <= nprobe)
      .select(col("q_id"), col("cid"),
        zip_with(col("qx"), col("cfx"), (a, b) => a - b).as("qrx"))
    // per-(query, cell, sub, code) asymmetric distance LUT:
    // nQueries * nprobe * nSub * k rows — broadcast by construction.
    // One posexplode projection (the subsR rule): a union would
    // re-execute the probe window per branch.
    val dim = vecDim / nSub
    val qsub = probed
      .select(col("q_id"), col("cid"), posexplode(array(
          (0 until nSub).map(ss =>
            expr(s"slice(qrx, ${ss * dim + 1}, $dim)")): _*))
        .as(Seq("sub", "qsx")))
      .withColumn("sub", col("sub").cast(LongType))
      .withColumn("qsn", fixed_dot(col("qsx"), col("qsx")))
    val lut = qsub.join(cent1, Seq("sub"))
      .select(col("sub"), col("q_id"), col("cid"), col("pcid"),
        (col("qsn") - lit(2L) * fixed_dot(col("qsx"), col("cx")) +
          fixed_dot(col("cx"), col("cx"))).as("d2"))
    // ADC over the probed cells' codes only, then the nShort shortlist
    val ws = Window.partitionBy(col("q_id")).orderBy(col("adc_d2"), col("vec_id"))
    val short = coded.join(broadcast(lut), Seq("sub", "cid", "pcid"))
      .filter(col("vec_id") =!= col("q_id"))
      .groupBy(col("q_id"), col("vec_id"))
      .agg(sum(col("d2")).as("adc_d2"))
      .withColumn("srn", row_number().over(ws))
      .filter(col("srn") <= nShort)
      .select(col("q_id"), col("vec_id"))
    // exact-L2 refine of the shortlist: nShort full-vector reads/query
    val wr = Window.partitionBy(col("q_id")).orderBy(col("d2"), col("vec_id"))
    short.join(emb.select(col("vec_id"), col("fx"), col("nrm")), Seq("vec_id"))
      .join(broadcast(q), Seq("q_id"))
      .withColumn("d2", col("qn") - lit(2L) * dotCol(col("qx"), col("fx")) +
        col("nrm"))
      .withColumn("rank", row_number().over(wr).cast(LongType))
      .filter(col("rank") <= 3)
      .select(col("q_id"), col("vec_id"), col("d2"), col("rank"))
  }

  /** Shared IVF-PQ index (a [[graft.SharedIndex]] entry): sim_ivfpq_adc
    * and sim_ivfpq_recall need the identical codes. */
  private val ivfPqIndex = SharedIndex[(DataFrame, DataFrame)]("ivfPqCoded",
      Seq("sim_ivfpq_adc", "sim_ivfpq_recall"),
      t => Seq(t._1, t._2)) { (s, d) =>
    val emb = persistedEmb(s, d)
    val t = ivfPqCoded(emb, centroids16(s, d), nSub = 4, k = 16,
      vecDim = 64, seedCut = -1L)
    emb.unpersist()
    t
  }
  private def ivfPqCodedCached(s: SparkSession, d: String)
      : (DataFrame, DataFrame) = ivfPqIndex.get(s, d)

  private def ivfPqTop(s: SparkSession, d: String): DataFrame = {
    val emb = trackedEmb(s, d)
    ivfPqOnCoded(emb, centroids16(s, d), ivfPqCodedCached(s, d),
      nQueries = 10, nprobe = 4, nShort = 192)
  }

  private def ivfPqAdc(s: SparkSession, d: String): DataFrame =
    ivfPqTop(s, d).orderBy("q_id", "rank")

  /** Recall@3 of IVF-PQ against exact-L2 ground truth per query — the
    * [[pqRecall]] gate on the residual index. This is the configuration
    * that passes: measured 1.0 at sf0.01 (and 0.9/1.0 at sf0.001/sf0.1)
    * vs raw-PQ's ≈0.2 and the IVF curve's nprobe=1 row at every SF (the
    * shortlist's exact refine removes ADC ranking error; coverage comes
    * from the nprobe=4 cells). */
  private def ivfPqRecall(s: SparkSession, d: String): DataFrame =
    recallAt3(ivfPqTop(s, d).select(col("q_id"), col("vec_id")), l2Top3(s, d))

  /** Recall@3 of PQ-ADC against exact-L2 ground truth per query — the
    * quality gate the 4-byte code must pass before it replaces the
    * 256-byte vector (the sim_recall_at_k discipline on the PQ index;
    * same metric on both sides, L2). Measured ≈ 0.2 on this corpus:
    * the synthetic embeddings are near-uniform, which is exactly the
    * regime a 4-sub-code PQ cannot compress — the gate EXPOSES that
    * (real embedding corpora cluster, where PQ earns its keep); an
    * index this coarse must not silently replace the exact path, and
    * this query is the number that says so. The configuration that
    * passes is the residual variant: [[ivfPqRecall]]. */
  private def pqRecall(s: SparkSession, d: String): DataFrame =
    recallAt3(pqAdcTop(s, d).select(col("q_id"), col("vec_id")), l2Top3(s, d))

  /** Corpus-wide k-NN graph — top-3 cosine neighbors for EVERY vector,
    * blocked by a √n-cell IVF quantizer (the [[blockedPairs]] sizing: the
    * within-cell self-join costs n^1.5, never n²): the graph a diversity
    * sampler, label propagator or hard-negative miner builds ONCE and
    * reuses, as opposed to the 10-query search shapes. nprobe=1 per side
    * (each vector ranks only its own cell's mates) — the deliberate
    * cheapest rung; boundary recall is the measured trade the ANN family
    * quantifies elsewhere. Deterministic quantizer + exact fixed-point
    * cosine + (cos DESC, id) tiebreaks = the full 3n-row graph
    * hash-matches the nested-Lloyd SQL mirror. */
  /** Shared √n-cell quantizer ASSIGNMENT for the corpus kNN graph (a
    * [[graft.SharedIndex]] entry): the kNN-graph queries and the screen
    * built on it consume the identical index, and each invocation re-ran
    * the count + 2-step Lloyd + assign build (~0.7 s of the trio's
    * per-query time at sf0.1). The value keeps the centroids beside the
    * assignment so eviction releases both. */
  private val knnIndex = SharedIndex[(DataFrame, DataFrame)]("knnAssigned",
      Seq("emb_knn_label_purity", "sim_knn_graph", "sim_knn_recall"),
      t => Seq(t._1, t._2)) { (s, d) =>
    val emb = persistedEmb(s, d)
    val n = emb.count()
    val k = math.max(4,
      math.min(1024, math.round(math.sqrt(n.toDouble)).toInt))
    val cent = ivfCentroids(emb, k)
    val assigned = assignN(emb, cent, 1).persist()
    assigned.count()
    emb.unpersist()
    (cent, assigned)
  }
  private def knnAssignedCached(s: SparkSession, d: String): DataFrame =
    knnIndex.get(s, d)._2

  private def knnGraph(s: SparkSession, d: String): DataFrame =
    knnEdges(knnAssignedCached(s, d))

  /** The kNN-graph kernel over a persisted fixed-point (vec_id, fx, nrm)
    * frame — shared with [[graft.api.GraftApi.knnGraph]]. `seedCut` >= 0
    * is the facade's ranked-id quantizer seeding. (The declared queries
    * ride [[knnAssignedCached]] instead — same build, cached per JVM.) */
  private[graft] def knnGraphOnEmb(emb: DataFrame,
      seedCutFor: Int => Long = _ => -1L): DataFrame = {
    val n = emb.count()
    val k = math.max(4, math.min(1024, math.round(math.sqrt(n.toDouble)).toInt))
    val cent = U.track(ivfCentroids(emb, k, seedCutFor(k)))
    val assigned = U.track(assignN(emb, cent, 1).persist())
    knnEdges(assigned)
  }

  /** Top-3 same-cell cosine edges over an assigned (vec_id, cid, fx,
    * nrm) frame — one definition for the cached and facade paths. */
  private def knnEdges(assigned: DataFrame): DataFrame = {
    val b = assigned.select(col("cid").as("cidb"), col("vec_id").as("nbr_id"),
      col("fx").as("xb"), col("nrm").as("nb"))
    val w = Window.partitionBy(col("vec_id")).orderBy(col("cos").desc, col("nbr_id"))
    assigned.join(b, col("cid") === col("cidb") &&
        col("vec_id") =!= col("nbr_id"))
      .withColumn("cos", cosCol(dotCol(col("fx"), col("xb")), col("nrm"), col("nb")))
      .withColumn("rank", row_number().over(w).cast(LongType))
      .filter(col("rank") <= 3)
      .select(col("vec_id"), col("rank"), col("nbr_id"), col("cos"))
      .orderBy("vec_id", "rank")
  }

  /** Recall gate for the corpus kNN graph (the one ANN shape that shipped
    * without its own recall number, while `emb_knn_label_purity` builds ON
    * the graph): exact cosine top-3 by brute force for the 10 lowest-id
    * probes (one broadcast of 10 queries against a single corpus stream —
    * linear, the [[pqRecall]] discipline) joined against the graph's
    * top-3 for the same probes; `recall` = hits/3 per probe. nprobe=1
    * means a probe whose true neighbor sits across a cell boundary pays
    * in THIS number — the measured trade the graph's scaladoc promises.
    * Exact at any SF: both sides are deterministic integer/identical-
    * double trees, so the oracle recomputes graph AND truth. */
  private def knnRecall(s: SparkSession, d: String): DataFrame =
    recallAt3(knnGraph(s, d).filter(col("vec_id") < 10)
      .select(col("vec_id"), col("nbr_id")), cosTop3(s, d))

  /** LSH bucket-balance histogram — the index-health diagnostic behind
    * [[lshAnn]]: occupancy of every occupied 8-plane bucket. A healthy
    * random-hyperplane index spreads the corpus across its 256 buckets;
    * a skewed histogram means hot buckets (rerank cost blows up there)
    * or dead planes — the number an operator reads before trusting the
    * probe cost model. Pure per-row bucket id + one 256-group agg. */
  private def lshBalance(s: SparkSession, d: String): DataFrame = {
    val pl = planes(8, 64).map(_.map(v => math.floor(v * 1000000.0).toLong))
    val planeCols = pl.zipWithIndex.map { case (p, j) =>
      val dot = fixed_dot(col("fx"), array(p.map(v => lit(v)).toIndexedSeq: _*))
      when(dot > 0, lit(1L << j)).otherwise(lit(0L))
    }
    U.tbl(s, d, "embeddings")
      .withColumn("fx", Pipeline.microVec(col("embedding")))
      .withColumn("bucket", planeCols.reduce(_ + _))
      .groupBy(col("bucket")).agg(count(lit(1)).as("n_vecs"))
      .orderBy("bucket")
  }

  /** Per-vector OOD/novelty score — the distribution screen an embedding
    * ingest runs against its OWN index: distance of each vector to its
    * nearest coarse IVF centroid (1 − cos, floored micro-units), with
    * the nearest cell id and an is_ood flag at 0.3. Vectors far from
    * every cell are the novel/dirty tail a curation run inspects first,
    * and the same number says when the quantizer needs retraining. One
    * corpus stream against the broadcast cached k=16 quantizer — the
    * assignN shape with the score kept instead of dropped. */
  private def embOod(s: SparkSession, d: String): DataFrame = {
    val emb = trackedEmb(s, d)
    emb.crossJoin(broadcast(centroids16(s, d)))
      .withColumn("dist",
        -(dotCol(col("fx"), col("cfx")).cast(DoubleType) /
          (sqrt(col("nrm").cast(DoubleType)) *
            sqrt(dotCol(col("cfx"), col("cfx")).cast(DoubleType)))))
      .groupBy(col("vec_id"))
      .agg(min(struct(col("dist"), col("cid"))).as("m"))
      .select(col("vec_id"), col("m.cid").as("nearest_cid"),
        floor((lit(1.0) + col("m.dist")) * lit(1000000.0)).cast(LongType)
          .as("ood_micro"))
      .withColumn("is_ood", col("ood_micro") >= 300000L)
      .orderBy("vec_id")
  }

  /** Per-subspace PQ quantization distortion — the diagnostic that says
    * WHERE the codebook loses (the number behind sim_pq_recall's ≈0.2:
    * near-uniform data gives every subspace a large, flat SSE): for each
    * of the 4 subspaces, the count, total and max of ‖sx − c_code‖² over
    * the corpus, plus the floored mean — all exact Longs off the shared
    * per-JVM PQ index, so the whole table hash-matches the nested
    * pqCtes mirror. One broadcast join + one hash agg over the coded
    * frame; at 100 TB this is the index-build acceptance report. */
  private def pqDistortion(s: SparkSession, d: String): DataFrame = {
    val (subsP, cent1, coded) = pqCodedCached(s, d)
    subsP.join(coded, Seq("sub", "vec_id"))
      .join(broadcast(cent1), Seq("sub", "cid"))
      .withColumn("d2", col("snrm") -
        lit(2L) * fixed_dot(col("sx"), col("cx")) +
        fixed_dot(col("cx"), col("cx")))
      .groupBy(col("sub"))
      .agg(count(lit(1)).as("n_vecs"), sum(col("d2")).as("sse"),
        max(col("d2")).as("max_d2"))
      .select(col("sub"), col("n_vecs"), col("sse"), col("max_d2"),
        expr("sse DIV n_vecs").as("mean_d2"))
      .orderBy("sub")
  }

  /** Signs (±1) of the 8 deterministic LCG hyperplanes — the
    * Johnson–Lindenstrauss ±1 projection matrix, derived from the SAME
    * quantized [[planes]] the LSH bucketing uses (sign of the 1e6-grid
    * value), so one builder feeds both engines and both operators. */
  private[llm] def planeSigns(nPlanes: Int, dim: Int): Array[Array[Long]] =
    planes(nPlanes, dim)
      .map(_.map(v => if (math.floor(v * 1000000.0) >= 0) 1L else -1L))

  /** Random projection of every embedding to 8 dimensions (the
    * Johnson–Lindenstrauss sketch a 100 TB pipeline stores instead of the
    * full vector for coarse filtering): proj_j = ⟨fx, s_j⟩ with s_j the ±1
    * sign pattern of deterministic LCG hyperplanes — all-integer codegen'd
    * FixedDot per plane, no shuffle at all (pure per-row projection). For
    * ±1 signs E‖proj‖² = 8·‖x‖², so the distortion diagnostic
    * ratio = ‖proj‖² / (8·‖x‖²) should concentrate near 1; it is the one
    * double op, from two exact integers. */
  private def embRandProj(s: SparkSession, d: String): DataFrame = {
    val signs = planeSigns(8, 64)
    val projCols = signs.zipWithIndex.map { case (sg, j) =>
      fixed_dot(col("fx"), array(sg.map(v => lit(v)).toIndexedSeq: _*))
        .as(s"p$j")
    }
    fixed(s, d)
      .select(col("vec_id") +: col("nrm") +: projCols.toIndexedSeq: _*)
      .withColumn("proj_nrm",
        expr("p0*p0 + p1*p1 + p2*p2 + p3*p3 + p4*p4 + p5*p5 + p6*p6 + p7*p7"))
      .select(col("vec_id"), col("p0"), col("p1"), col("proj_nrm"),
        expr("CAST(proj_nrm AS DOUBLE) / (8.0 * CAST(nrm AS DOUBLE))")
          .as("norm_ratio"))
      .orderBy("vec_id")
  }

  /** Matryoshka prefix-retention diagnostic (can the first 16 of 64 dims
    * serve the cheap first-pass ranking?): for each of the 10 query
    * vectors, the exact top-5 by full-64 cosine and the top-5 by
    * 16-dim-prefix cosine, reduced to the per-query overlap count — the
    * number a pipeline reads before deciding to store truncated vectors.
    * Both rankings are the broadcast-queries × one-corpus-scan shape with
    * deterministic (cos DESC, vec_id) order, all dots codegen'd FixedDot
    * in the integer domain, so the overlap table is exactly oracle-able.
    * Queries with zero prefix survivors keep their row via the left join
    * back to the query ids. */
  private def embMatryoshka(s: SparkSession, d: String): DataFrame = {
    val emb = U.track(fixed(s, d)
      .withColumn("fx16", expr("slice(fx, 1, 16)"))
      .withColumn("nrm16", fixed_dot(col("fx16"), col("fx16")))
      .select(col("vec_id"), col("fx"), col("nrm"), col("fx16"),
        col("nrm16"))
      .persist())
    def top5(q: DataFrame, xc: String, nc: String): DataFrame = {
      val w = Window.partitionBy(col("q_id"))
        .orderBy(col("cos").desc, col("vec_id"))
      emb.crossJoin(broadcast(q))
        .filter(col("vec_id") =!= col("q_id"))
        .withColumn("cos", cosCol(dotCol(col("qx"), col(xc)),
          col("qn"), col(nc)))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 5)
        .select(col("q_id"), col("vec_id"))
    }
    val queries10 = emb.filter(col("vec_id") < 10)
    val full = top5(queries10.select(col("vec_id").as("q_id"),
      col("fx").as("qx"), col("nrm").as("qn")), "fx", "nrm")
    val pre = top5(queries10.select(col("vec_id").as("q_id"),
      col("fx16").as("qx"), col("nrm16").as("qn")), "fx16", "nrm16")
    val overlap = full.join(pre, Seq("q_id", "vec_id"))
      .groupBy(col("q_id")).agg(count(lit(1)).as("ov"))
    queries10.select(col("vec_id").as("q_id"))
      .join(overlap, Seq("q_id"), "left_outer")
      .select(col("q_id"), coalesce(col("ov"), lit(0L)).as("n_overlap"))
      .orderBy("q_id")
  }

  /** Cross-modal consistency screen (are the embeddings faithful to the
    * text?): every exact text near-dup pair (Jaccard ≥ 0.2, from the
    * shared inverted-index cache) whose BOTH ids carry an embedding is
    * scored with the exact fixed-point cosine; pairs flagged `divergent`
    * (high text overlap, cosine < 0.5) are embedding-quality bugs a
    * curation run wants surfaced. No new candidate generation — the pair
    * frame is the dedup family's cache and the vector join is two id
    * equijoins, so the query costs two narrow joins at any scale. */
  private def textVsEmbedding(s: SparkSession, d: String): DataFrame = {
    val p = graft.llm.Dedup.jaccardPairsShared(s, d)
      .filter(col("jac") >= 0.2).select(col("da"), col("db"), col("jac"))
    val f = fixed(s, d)
    p.join(f.select(col("vec_id").as("da"), col("fx").as("xa"),
        col("nrm").as("na2")), Seq("da"))
      .join(f.select(col("vec_id").as("db"), col("fx").as("xb"),
        col("nrm").as("nb2")), Seq("db"))
      .withColumn("cos", cosCol(dotCol(col("xa"), col("xb")),
        col("na2"), col("nb2")))
      .select(col("da"), col("db"), col("jac"), col("cos"),
        (col("cos") < 0.5).as("divergent"))
      .orderBy("da", "db")
  }

  /** Label separability of the embedding space (the one-number answer to
    * "are these embeddings any good for this labeling"): mean cosine over
    * all same-label pairs vs all cross-label pairs — computed WITHOUT pair
    * enumeration. Each vector is first normalized to integer MICRO-UNITS
    * (u_d = floor(fx_d·1e6 / √nrm), an identical operand tree in both
    * engines), so every pairwise dot u_a·u_b is an exact integer and the
    * group-pair sum decomposes over LINEAR per-group sums:
    *
    *   Σ_{i<j∈G} u_i·u_j = (‖Σ_{i∈G} u_i‖² − Σ_{i∈G} ‖u_i‖²) / 2
    *
    * The squares of component sums run in Decimal(38,0) (S_d ≈ n·1e6, so
    * S_d² overflows Long past ~3k vectors/label). Cost is one posexplode
    * (n·64 rows) plus label-cardinality aggregates — linear at any scale;
    * the O(n²) crossJoin this replaces needed a size gate the linear form
    * doesn't. The DuckDB oracle still enumerates all pairs, independently
    * proving the decomposition identity on the fixture. mean_cos divides
    * the doubled pair sum by 2e12·n_pairs — bit-identical to the oracle's
    * sum/(1e12·n_pairs) because doubling is exact in binary floating
    * point (rnd(2x) = 2·rnd(x)). */
  private def labelSeparation(s: SparkSession, d: String): DataFrame = {
    val dec = DecimalType(38, 0)
    // persisted: THREE consumers (the component explode, the per-label
    // self-sum, the corpus total) each re-ran the scan + unit-normalize
    // transform (r16, guide §2.4 — one pass feeds all three)
    val u = U.track(fixed(s, d).select(col("label"),
        transform(col("fx"), e => floor(e.cast(DoubleType) * lit(1000000.0) /
          sqrt(col("nrm").cast(DoubleType)))).as("ux"))
      .withColumn("self", fixed_dot(col("ux"), col("ux")))
      .persist())
    val comp = u.select(col("label"), posexplode(col("ux")).as(Seq("pos", "v")))
    val sl = comp.groupBy(col("label"), col("pos")).agg(sum(col("v")).as("sv"))
    val perLbl = sl.groupBy(col("label"))
      .agg(sum(col("sv").cast(dec) * col("sv").cast(dec)).as("sq"))
      .join(u.groupBy(col("label"))
        .agg(sum(col("self").cast(dec)).as("selfsum"),
          count(lit(1)).as("nl")), Seq("label"))
    val same = perLbl.agg(
      sum(col("sq") - col("selfsum")).as("same_sum2"),
      sum((col("nl") * (col("nl") - lit(1L)) / lit(2L)).cast(LongType))
        .as("same_pairs"))
    val tot = sl.groupBy(col("pos")).agg(sum(col("sv")).as("tv"))
      .agg(sum(col("tv").cast(dec) * col("tv").cast(dec)).as("tot_sq"))
      .crossJoin(broadcast(u.agg(sum(col("self").cast(dec)).as("tot_self"),
        count(lit(1)).as("n"))))
    val crossPairs = ((col("n") * (col("n") - lit(1L)) / lit(2L))
      .cast(LongType) - col("same_pairs"))
    def mean(sum2: Column, np: Column): Column =
      sum2.cast(DoubleType) / (lit(2.0e12) * np.cast(DoubleType))
    same.crossJoin(broadcast(tot)).select(explode(array(
        struct(lit(false).as("same_label"), crossPairs.as("n_pairs"),
          mean(col("tot_sq") - col("tot_self") - col("same_sum2"),
            crossPairs).as("mean_cos")),
        struct(lit(true).as("same_label"), col("same_pairs").as("n_pairs"),
          mean(col("same_sum2"), col("same_pairs")).as("mean_cos"))))
        .as("r"))
      .select(col("r.same_label"), col("r.n_pairs"), col("r.mean_cos"))
      .orderBy("same_label")
  }

  /** Index BUILD/SERVE separation (the property that makes ANN a system,
    * not a query): the IVF coarse quantizer is built once, PERSISTED as a
    * parquet artifact, and the serving path assigns every vector by
    * reading the index back FROM THE FILE — the deterministic
    * integer-domain construction survives the storage round-trip
    * bit-exactly, which is what the oracle (recomputing the same index in
    * SQL) proves. At 100 TB the build is the expensive offline job and
    * this read-assign-histogram is the cheap online one; splitting them
    * is the operational shape. */
  private def indexPersist(s: SparkSession, d: String): DataFrame = {
    val emb = trackedEmb(s, d)
    val cent = centroids16(s, d)
    val path = U.scratch(d, "ivf_index")
    cent.select(col("cid"), col("cfx")).coalesce(1)
      .write.mode("overwrite").parquet(path)
    val loaded = s.read.parquet(path)
    assignN(emb, loaded, 1)
      .groupBy(col("cid")).agg(count(lit(1)).as("n_vecs"))
      .orderBy("cid")
  }

  /** Binary (sign-bit) embedding search: each 64-dim vector collapses to a
    * 64-bit sign signature carried as TWO 32-bit words (both engines bit-op
    * BIGINTs; a 1<<63 sign-bit word would overflow DuckDB's checked shift),
    * then the 8 lowest-id probes rank the corpus by exact Hamming distance
    * — bit_count(xor) per word, pure integer, hash-exact. This is the
    * memory-bound ANN rung below IVF/LSH: signatures are 8 bytes/vector
    * (512× smaller than the float payload), the scan is one broadcast
    * probe block over a single corpus stream (same shape as
    * sim_bruteforce_topk), and Hamming ranks agree with cosine ranks in
    * the high-similarity regime LlmSpec checks. */
  private def hammingTopk(s: SparkSession, d: String): DataFrame =
    hammingRanked(s, d, nQueries = 8, k = 3)
      .select(col("q_id"), col("rank"), col("vec_id"), col("hamming"))
      .orderBy("q_id", "rank")

  /** The sign-signature Hamming ranker behind [[hammingTopk]] and
    * [[rrfFusion]]: the 64-dim fixture embeddings, the `nQueries`
    * lowest ids as probes, through [[hammingRankedOn]]. */
  private def hammingRanked(s: SparkSession, d: String,
      nQueries: Int, k: Int): DataFrame =
    hammingRankedOn(U.tbl(s, d, "embeddings"), "embedding", 64,
      col("vec_id") < nQueries, k)

  /** The Hamming ranking kernel behind [[hammingRanked]] and
    * [[graft.api.GraftApi.hammingTopK]] — one definition of the signature
    * words and the (hamming, vec_id) tiebreak. Each `embCol` vector of an
    * (vec_id: Long, embCol) frame packs its sign bits into ceil(dims/32)
    * 32-bit words (BIGINTs in both engines; a 1<<63 sign-bit word would
    * overflow DuckDB's checked shift); the `probe` rows broadcast as one
    * small block against a single corpus stream and rank it by exact
    * Hamming distance — bit_count(xor) per word, pure integer. Returns
    * (vec_id, q_id, hamming, rank) for the top `k` per probe. */
  private[graft] def hammingRankedOn(emb: DataFrame, embCol: String,
      dims: Int, probe: Column, k: Int): DataFrame = {
    val nWords = (dims + 31) / 32
    def word(wi: Int): String = {
      val lo = wi * 32
      s"aggregate(sequence($lo, ${math.min(lo + 31, dims - 1)}), " +
        s"CAST(0 AS BIGINT), (acc, i) -> acc + IF(element_at($embCol, " +
        "i + 1) > CAST(0 AS FLOAT), shiftleft(CAST(1 AS BIGINT), " +
        s"i - $lo), CAST(0 AS BIGINT)))"
    }
    val sig = emb.select(col("vec_id") +:
      (0 until nWords).map(i => expr(word(i)).as(s"__w$i")): _*)
    val q = sig.filter(probe)
      .select(col("vec_id").as("q_id") +:
        (0 until nWords).map(i => col(s"__w$i").as(s"__q$i")): _*)
    val ham = (0 until nWords)
      .map(i => s"bit_count(__w$i ^ __q$i)").mkString(" + ")
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("hamming"), col("vec_id"))
    sig.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("hamming", expr(s"CAST($ham AS BIGINT)"))
      .withColumn("rank", row_number().over(w).cast(LongType))
      .filter(col("rank") <= k)
      .select(col("vec_id"), col("q_id"), col("hamming"), col("rank"))
  }

  /** Reciprocal-rank fusion (k₀=60) of the two cheapest rankers — exact
    * cosine and Hamming-signature — for the 8 lowest-id queries: each
    * candidate scores Σ floor(10⁶/(60+rank)) over the lists that surface
    * it (depth 10 each), re-ranked by (fused DESC, vec_id) to a top 3.
    * RRF is the standard zero-tuning hybrid-retrieval combiner; integer
    * throughout (integral division, integer sum), so the fused table
    * hash-matches. Shape: both rankers are the broadcast-probe-block
    * corpus streams they already are; the fusion joins two ≤(queries×10)
    * row frames — driver-scale work ends after two TakeOrdered-size
    * windows. */
  private def rrfFusion(s: SparkSession, d: String): DataFrame =
    rrfOn(
      scoredNeighbors(s, d, nQueries = 8, k = 10)
        .select(col("q_id"), col("vec_id"),
          col("rank").cast(LongType).as("r1")),
      hammingRanked(s, d, nQueries = 8, k = 10)
        .select(col("q_id"), col("vec_id"), col("rank").as("r2")),
      k0 = 60, topK = 3)
      .withColumnRenamed("r1", "cos_rank")
      .withColumnRenamed("r2", "ham_rank")

  /** The RRF fusion core over two (q_id, vec_id, r1)/(q_id, vec_id, r2)
    * rank frames — shared by the declared query and
    * [[graft.api.GraftApi.rrfFuse]]. Integer floor(10⁶/(k0+rank)) scores,
    * FULL JOIN of the two lists, (fused DESC, vec_id) re-rank to topK. */
  private[graft] def rrfOn(a: DataFrame, b: DataFrame, k0: Int,
      topK: Int): DataFrame = {
    val hamR = b.select(col("q_id").as("hq"), col("vec_id").as("hv"),
      col("r2"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("rrf_micro").desc, col("vec_id"))
    a.join(hamR, col("q_id") === col("hq") && col("vec_id") === col("hv"),
        "full")
      .select(coalesce(col("q_id"), col("hq")).as("q_id"),
        coalesce(col("vec_id"), col("hv")).as("vec_id"),
        col("r1"), col("r2"))
      .withColumn("rrf_micro",
        expr(s"coalesce(1000000 DIV ($k0 + r1), 0) + " +
          s"coalesce(1000000 DIV ($k0 + r2), 0)"))
      .withColumn("fused_rank", row_number().over(w).cast(LongType))
      .filter(col("fused_rank") <= topK)
      .orderBy("q_id", "fused_rank")
  }

  /** Hard-negative mining for contrastive training (the SimCLR/DPR
    * curation step): for each of the 50 lowest-id anchor vectors, the 3
    * most-cosine-similar vectors carrying a DIFFERENT label — the
    * near-misses a contrastive loss learns most from. The
    * [[scoredNeighbors]] shape with the cross-label filter pushed BELOW
    * the ranking window: anchors broadcast, the corpus streams once
    * map-side, and per-anchor ranking runs over the label-filtered
    * candidates only. Exact fixed-point cosine (identical operand tree to
    * the SQL mirror), deterministic (cos DESC, vec_id) tiebreak. */
  private def hardNegatives(s: SparkSession, d: String): DataFrame = {
    val all = fixed(s, d)
    val q = all.filter(col("vec_id") < 50)
      .select(col("vec_id").as("q_id"), col("label").as("anchor_label"),
        col("fx").as("qx"), col("nrm").as("qn"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("vec_id"))
    all.crossJoin(broadcast(q))
      .filter(col("label") =!= col("anchor_label"))
      .withColumn("cos",
        cosCol(dotCol(col("qx"), col("fx")), col("qn"), col("nrm")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select(col("q_id"),
        col("anchor_label").cast(LongType).as("anchor_label"),
        col("vec_id").as("neg_id"), col("label").cast(LongType).as("neg_label"),
        col("cos"), col("rank").cast(LongType).as("rank"))
      .orderBy("q_id", "rank")
  }

  /** Maximal-marginal-relevance selection: greedily pick k = 5 vectors
    * maximizing 0.7·cos(query, x) − 0.3·max_{s∈selected} cos(x, s) —
    * the retrieval-diversity operator (a plain top-k returns five
    * near-duplicates of the best hit; MMR trades relevance for coverage).
    * Query = vec_id 0, broadcast; each of the 5 rounds streams the corpus
    * ONCE against the ≤4-row selected set (broadcast), so the work is
    * k × corpus, never corpus² — and the selected frame is
    * localCheckpoint-pinned per round (the graph_walk_corpus lesson:
    * without it round r re-executes rounds 1..r−1's plans). Scores are
    * the same fixed-point cosine tree as [[bruteforceTopk]] with a
    * deterministic vec_id tiebreak, so the whole greedy trajectory
    * hash-matches the SQL oracle's 5 chained CTEs. */
  private def embMmr(s: SparkSession, d: String): DataFrame =
    mmrOn(fixed(s, d), queryId = 0L, k = 5, relWeight = 0.7, divWeight = 0.3)

  /** The MMR kernel behind [[embMmr]] and [[graft.api.GraftApi.mmrSelect]]
    * over a fixed-point (vec_id, fx, nrm) frame: greedily pick `k` rows
    * maximizing relWeight·cos(query, x) − divWeight·max cos(x, selected),
    * query = the `queryId` row. The candidate frame is persisted and
    * tracked (release with `U.releaseTracked()`). Returns (step, vec_id,
    * rel, score) ordered by step. */
  private[graft] def mmrOn(all: DataFrame, queryId: Long, k: Int,
      relWeight: Double, divWeight: Double): DataFrame = {
    val q = all.filter(col("vec_id") === queryId)
      .select(col("fx").as("qx"), col("nrm").as("qn"))
    val cand = U.track(all.filter(col("vec_id") =!= queryId)
      .crossJoin(broadcast(q))
      .select(col("vec_id"), col("fx"), col("nrm"),
        cosCol(dotCol(col("fx"), col("qx")), col("nrm"), col("qn")).as("rel"))
      .persist())
    var sel: DataFrame = null
    for (step <- 1 to k) {
      val remaining =
        if (sel == null) cand
        else cand.join(sel.select(col("vec_id").as("sv")),
          col("vec_id") === col("sv"), "left_anti")
      val scored =
        if (sel == null) remaining.withColumn("pen", lit(0.0))
        else {
          val pens = remaining.select(col("vec_id"), col("fx"), col("nrm"))
            .crossJoin(broadcast(sel.select(col("fx").as("sx"),
              col("nrm").as("sn"))))
            .withColumn("pc",
              cosCol(dotCol(col("fx"), col("sx")), col("nrm"), col("sn")))
            .groupBy(col("vec_id")).agg(max(col("pc")).as("pen"))
          remaining.join(pens, Seq("vec_id"))
        }
      val pick = scored
        .withColumn("score",
          lit(relWeight) * col("rel") - lit(divWeight) * col("pen"))
        .orderBy(col("score").desc, col("vec_id")).limit(1)
        .select(lit(step.toLong).as("step"), col("vec_id"), col("fx"),
          col("nrm"), col("rel"), col("score"))
        .localCheckpoint()
      sel = if (sel == null) pick else sel.unionAll(pick).localCheckpoint()
    }
    sel.select(col("step"), col("vec_id"), col("rel"), col("score"))
      .orderBy("step")
  }

  /** The k-means training loop itself: (final assignments, final
    * centroids) — shared by [[embKmeans]]'s report and
    * [[embKmeansAri]]'s label-agreement gate so the two cannot drift. */
  private def kmeansAssignments(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val v = trackedEmb(s, d)
    kmeansOn(v, v.filter(col("vec_id") < 4L), 3)
  }

  /** The Lloyd loop behind [[kmeansAssignments]] and
    * [[graft.api.GraftApi.kmeansTrain]] / [[graft.api.GraftApi.semDedup]]
    * over a fixed-point (vec_id, fx, nrm) frame `v`, seeded with the
    * `seeds` rows of `v` (cid = the seed's vec_id): `iters` assignment
    * rounds with per-round (dist², cid) ties and floored-mean centroid
    * updates. Returns (assignments (vec_id, cid, dist2, fx), final
    * centroids (cid, cx, cn)) — a tuple, so concurrent driver threads
    * never share mutable state between the two results. */
  private[graft] def kmeansOn(v: DataFrame, seeds: DataFrame,
      iters: Int): (DataFrame, DataFrame) = {
    require(iters >= 1)
    var cent = seeds
      .select(col("vec_id").as("cid"), col("fx").as("cx"),
        col("nrm").as("cn")).localCheckpoint()
    var asg: DataFrame = null
    for (round <- 1 to iters) {
      val w = Window.partitionBy(col("vec_id")).orderBy(col("dist2"), col("cid"))
      asg = v.crossJoin(broadcast(cent))
        .withColumn("dist2",
          col("nrm") - lit(2L) * dotCol(col("fx"), col("cx")) + col("cn"))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") === 1)
        .select(col("vec_id"), col("cid"), col("dist2"), col("fx"))
      if (round < iters) {
        cent = asg
          .select(col("cid"), posexplode(col("fx")).as(Seq("pos", "x")))
          .groupBy(col("cid"), col("pos"))
          .agg(floor(sum(col("x")).cast(DoubleType) / count(lit(1)))
            .cast(LongType).as("c"))
          .groupBy(col("cid"))
          .agg(transform(
            array_sort(collect_list(struct(col("pos"), col("c")))),
            t => t.getField("c")).as("cx"))
          .withColumn("cn", fixed_dot(col("cx"), col("cx")))
          .localCheckpoint()
      }
    }
    (asg, cent)
  }

  /** Adjusted Rand index of the k-means assignment against the corpus's
    * ground-truth labels — the clustering QUALITY gate, measured not
    * assumed (the [[simRecallAtK]] discipline applied to [[embKmeans]]):
    * contingency pair counts are exact integers (C(n,2) = n(n−1) DIV 2 —
    * always even, so the integral division is exact), and the closing ARI
    * casts each exact count to double INDIVIDUALLY before any arithmetic
    * (a decimal-product route would re-open the HUGEINT→DOUBLE
    * double-rounding class past 2⁵³). ARI ≈ 0 for random assignment,
    * 1 for perfect label recovery. */
  private def embKmeansAri(s: SparkSession, d: String): DataFrame = {
    val (asg, _) = kmeansAssignments(s, d)
    val lab = U.tbl(s, d, "embeddings")
      .select(col("vec_id").as("lv"), col("label").cast(LongType).as("label"))
    val ct = asg.join(lab, col("vec_id") === col("lv"))
      .groupBy(col("cid"), col("label")).agg(count(lit(1)).as("nij"))
    val parts = ct.groupBy().agg(
      sum(col("nij")).as("n"),
      sum(expr("(nij * (nij - 1)) DIV 2")).as("idx"))
    val a2 = ct.groupBy(col("cid")).agg(sum(col("nij")).as("ai"))
      .agg(sum(expr("(ai * (ai - 1)) DIV 2")).as("a2"))
    val b2 = ct.groupBy(col("label")).agg(sum(col("nij")).as("bj"))
      .agg(sum(expr("(bj * (bj - 1)) DIV 2")).as("b2"))
    val nd = col("n").cast(DoubleType)
    val cn2 = nd * (nd - lit(1.0)) / lit(2.0)
    val exp = col("a2").cast(DoubleType) * col("b2").cast(DoubleType) / cn2
    parts.crossJoin(broadcast(a2)).crossJoin(broadcast(b2))
      .select(col("n"), col("idx"), col("a2"), col("b2"),
        ((col("idx").cast(DoubleType) - exp) /
          ((col("a2").cast(DoubleType) + col("b2").cast(DoubleType)) /
            lit(2.0) - exp)).as("ari"))
  }

  /** SemDeDup (semantic deduplication, the Abbas et al. recipe): cluster
    * the corpus with the SAME deterministic k-means the emb_kmeans query
    * ships, then WITHIN each cluster drop every vector whose cosine to a
    * smaller-id cluster-mate reaches 0.95 — the survivor set a pretraining
    * mix keeps. The threshold never leaves the integer domain: cos ≥ 0.95
    * ⟺ dot > 0 ∧ 400·dot² ≥ 361·‖a‖²·‖b‖² (361/400 = 0.95²), products in
    * DECIMAL(38,0)/HUGEINT. Scale shape: the quadratic pair scan is
    * WITHIN-CLUSTER only — the SemDeDup design point: k grows with the
    * corpus so cluster size (and the per-bucket pair work) stays bounded;
    * the oracle nests kmeansCtes so assignment and dedup cannot drift. */
  private def semDedup(s: SparkSession, d: String): DataFrame =
    semDupOn(kmeansAssignments(s, d)._1, 400L, 361L)
      .groupBy(col("cid"))
      .agg(count(lit(1)).as("n_vecs"), count(col("kb")).as("n_dropped"))
      .select(col("cid"), col("n_vecs"), col("n_dropped"),
        expr("(1000000 * (n_vecs - n_dropped)) DIV n_vecs")
          .as("keep_ratio_micro"))
      .orderBy("cid")

  /** The within-cluster duplicate marker behind [[semDedup]] and
    * [[graft.api.GraftApi.semDedup]], over a [[kmeansOn]] assignment
    * frame: a vector is a duplicate when its cosine to a smaller-id
    * cluster-mate reaches τ, with τ² = den/num tested as the integer
    * cross-multiplication dot > 0 ∧ num·dot² ≥ den·‖a‖²·‖b‖² in
    * DECIMAL(38,0). The (vec_id, cid, fx, nrm) frame is persisted and
    * tracked. Returns it left-joined to the duplicates: `kb` is the
    * vector's own id when it is dropped, NULL when kept. */
  private[graft] def semDupOn(asg: DataFrame, num: Long,
      den: Long): DataFrame = {
    val dec = DecimalType(38, 0)
    val m = U.track(asg.select(col("vec_id"), col("cid"), col("fx"))
      .withColumn("nrm", fixed_dot(col("fx"), col("fx"))).persist())
    val b = m.select(col("cid").as("bc"), col("vec_id").as("kb"),
      col("fx").as("bfx"), col("nrm").as("nb"))
    val dup = m.join(b, col("cid") === col("bc") && col("vec_id") < col("kb"))
      .withColumn("dot", fixed_dot(col("fx"), col("bfx")))
      .filter(col("dot") > 0L &&
        lit(num).cast(dec) * col("dot").cast(dec) * col("dot") >=
          lit(den).cast(dec) * col("nrm").cast(dec) * col("nb"))
      .select(col("bc").as("dc"), col("kb")).distinct()
    m.join(dup, col("cid") === col("dc") && col("vec_id") === col("kb"),
      "left")
  }

  /** Linear CKA (uncentered linear variant) between the FIRST and SECOND
    * 32-dim halves of the embedding — "do two representations of the
    * same items agree?", the readout a distillation/MRL pipeline tracks.
    * CKA² = ‖XᵀY‖²_F / (‖XᵀX‖_F·‖YᵀY‖_F), squared so no sqrt enters the
    * oracle, whose Gram CTE is nested verbatim from the eigvector
    * oracle. [[GramKernel.cka]] sums the Frobenius terms locally over
    * the shared collected Gram. */
  private def embCka(s: SparkSession, d: String): DataFrame =
    s.createDataFrame(Seq(GramKernel.cka(Pipeline.gram(s, d))))
      .toDF("fxx", "fxy", "fyy", "cka2_micro")

  /** Explicit distributed k-means (k = 4, 3 assignment rounds, seeds =
    * vec_ids 0–3): the TRAINING loop the IVF quantizer runs behind its
    * cache, surfaced as an exactly-oracled query. Everything stays in the
    * fixed-point integer domain — dist² = ‖x‖² − 2x·c + ‖c‖² is an exact
    * Long via the codegen'd FixedDot, centroid updates are the
    * [[graft.llm.Pipeline]] floored-mean discipline (floor of an exact
    * double division, identical both engines), and ties break on cid —
    * so the full 3-round trajectory (assignments, inertia, centroid
    * checksums) hash-matches 3 chained CTE rounds in SQL. Scale shape:
    * per round ONE corpus stream against a ≤4-row broadcast centroid
    * frame (localCheckpoint-pinned, the MMR lesson) + one explode-agg
    * keyed (cid, dim) for the update — linear in corpus × k, never
    * corpus². */
  private def embKmeans(s: SparkSession, d: String): DataFrame = {
    val (asg, cent) = kmeansAssignments(s, d)
    kmeansReportOn(asg, cent)
  }

  /** The k-means report behind [[embKmeans]] and
    * [[graft.api.GraftApi.kmeansTrain]]: per [[kmeansOn]] cluster the
    * member count, inertia and a positional checksum of its centroid.
    * Returns (cid, n_members, inertia, checksum) ordered by cid. */
  private[graft] def kmeansReportOn(asg: DataFrame,
      cent: DataFrame): DataFrame = {
    val checks = cent
      .select(col("cid").as("ccid"), posexplode(col("cx")).as(Seq("pos", "c")))
      .groupBy(col("ccid"))
      .agg(sum((col("pos") + 1).cast(LongType) * col("c")).as("checksum"))
    asg.groupBy(col("cid"))
      .agg(count(lit(1)).as("n_members"), sum(col("dist2")).as("inertia"))
      .join(checks, col("cid") === col("ccid"))
      .select(col("cid"), col("n_members"), col("inertia"), col("checksum"))
      .orderBy("cid")
  }

  /** Per-label embedding isotropy — the anisotropy screen run before
    * trusting cosine retrieval at all: contextual embedding spaces
    * collapse into a narrow cone (the known anisotropy failure), and the
    * mean-resultant ratio ‖Σv‖²/(n·Σ‖v‖²) measures exactly that — 1e6 =
    * every vector identical direction, →0 = isotropic spread. Entirely
    * exact integers: fixed-point component sums per (label, dim) (64
    * dims × |labels| rows after the first combine — partial aggregation
    * does all the work map-side), squared through DECIMAL(38,0), over
    * the exact norm total. No pairwise join — the n² "average pairwise
    * cosine" definition collapses to this one-pass identity. */
  private def embIsotropy(s: SparkSession, d: String): DataFrame = {
    val dec = DecimalType(38, 0)
    val emb = U.track(fixed(s, d)
      .select(col("label").cast(LongType).as("label"), col("fx"),
        col("nrm"))
      .persist())
    val comp = emb
      .select(col("label"), posexplode(col("fx")).as(Seq("pos", "v")))
      .groupBy(col("label"), col("pos")).agg(sum(col("v")).as("sv"))
      .groupBy(col("label"))
      .agg(sum(col("sv").cast(dec) * col("sv")).as("s2"))
      .select(col("label").as("cl"), col("s2"))
    emb.groupBy(col("label"))
      .agg(count(lit(1)).as("n_vecs"), sum(col("nrm").cast(dec)).as("snrm"))
      .join(broadcast(comp), col("label") === col("cl"))
      .select(col("label"), col("n_vecs"),
        expr("CAST((1000000 * s2) DIV nullif(n_vecs * snrm, 0) AS BIGINT)")
          .as("isotropy_micro"))
      .orderBy("label")
  }

  /** Label purity of the corpus-wide kNN graph — the cross-modal
    * label-quality screen an embedding pipeline runs after building its
    * neighbor graph ([[knnGraph]], same kernel, zero drift): per anchor
    * label, the fraction of its 3n graph edges whose neighbor shares the
    * label. Low purity on one label = that class is scattered through
    * the space (bad labels or bad embeddings — either way, inspect
    * before training). Two id-key shuffle joins onto the graph — labels
    * are corpus-sized, so they are NOT broadcast. */
  private def embKnnLabelPurity(s: SparkSession, d: String): DataFrame = {
    val lbl = U.tbl(s, d, "embeddings")
      .select(col("vec_id").as("aid"), col("label").cast(LongType).as("label"))
    val nbl = lbl.select(col("aid").as("bid"), col("label").as("nbr_label"))
    knnGraph(s, d)
      .join(lbl, col("vec_id") === col("aid"))
      .join(nbl, col("nbr_id") === col("bid"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_edges"),
        sum(when(col("label") === col("nbr_label"), 1L).otherwise(0L))
          .as("n_same"))
      .select(col("label"), col("n_edges"), col("n_same"),
        expr("(1000000 * n_same) DIV n_edges").as("purity_micro"))
      .orderBy("label")
  }

  /** Recall@3 of int8-quantized cosine search against float ground truth
    * — the quality gate that must pass BEFORE the 4× memory saving of
    * int8 vectors ships (the measure-before-trusting discipline the
    * PQ/IVF family established): vectors quantized by the emb_quantize
    * per-vector symmetric rule (scale = max|x|/127), cosine on the int8
    * codes (per-vector scales cancel in cosine — the reason int8 search
    * works at all), exact integer dot products, top-3 vs the
    * [[bruteforceTopk]] float answer. */
  private def embInt8Recall(s: SparkSession, d: String): DataFrame = {
    val q8 = U.track(U.tbl(s, d, "embeddings")
      .withColumn("scale", nullif(
        expr("array_max(transform(embedding, x -> abs(cast(x as double))))")
          / lit(127.0), lit(0.0)))
      .select(col("vec_id"),
        expr("transform(embedding, x -> least(CAST(127 AS BIGINT), " +
          "greatest(CAST(-127 AS BIGINT), " +
          "CAST(floor(cast(x as double) / scale + 0.5) AS BIGINT))))")
          .as("qx"))
      .withColumn("qn", fixed_dot(col("qx"), col("qx")))
      .persist())
    val qq = q8.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("qx").as("ax"),
        col("qn").as("an"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("vec_id"))
    val top = q8.crossJoin(broadcast(qq))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("cos",
        cosCol(dotCol(col("ax"), col("qx")), col("an"), col("qn")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select(col("q_id"), col("vec_id"))
    recallAt3(top, cosTop3(s, d))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "emb_int8_recall" -> embInt8Recall _,
    "emb_isotropy" -> embIsotropy _,
    "emb_knn_label_purity" -> embKnnLabelPurity _,
    "emb_kmeans" -> embKmeans _,
    "emb_kmeans_ari" -> embKmeansAri _,
    "emb_hard_negatives" -> hardNegatives _,
    "emb_cka" -> embCka _,
    "pipeline_semdedup" -> semDedup _,
    "sim_rrf_fusion" -> rrfFusion _,
    "sim_hamming_topk" -> hammingTopk _,
    "emb_matryoshka" -> embMatryoshka _,
    "sim_index_persist" -> indexPersist _,
    "emb_label_separation" -> labelSeparation _,
    "dedup_text_vs_embedding" -> textVsEmbedding _,
    "emb_rand_proj" -> embRandProj _,
    "emb_mmr" -> embMmr _,
    "sim_bruteforce_topk" -> bruteforceTopk _,
    "sim_radius_search" -> radiusSearch _,
    "sim_recall_at_k" -> simRecallAtK _,
    "emb_knn_classify" -> knnClassify _,
    "dedup_embedding" -> embeddingPairs _,
    "dedup_embedding_ann" -> embeddingPairsAnn _,
    "sim_lsh_ann" -> lshAnn _,
    "sim_ivf_ann" -> ivfAnn _,
    "sim_ivf_curve" -> ivfCurve _,
    "sim_pq_adc" -> pqAdc _,
    "sim_pq_recall" -> pqRecall _,
    "sim_ivfpq_adc" -> ivfPqAdc _,
    "sim_ivfpq_recall" -> ivfPqRecall _,
    "sim_pq_distortion" -> pqDistortion _,
    "sim_knn_graph" -> knnGraph _,
    "sim_knn_recall" -> knnRecall _,
    "emb_ood_score" -> embOod _,
    "sim_lsh_balance" -> lshBalance _)

  private val fxSql =
    "list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT))"
  private def dotSql(a: String, b: String): String =
    s"CAST(list_sum(list_transform(range(1, 65), i -> " +
      s"$a[CAST(i AS INTEGER)] * $b[CAST(i AS INTEGER)])) AS BIGINT)"

  /** Exact multiprobe-LSH oracle (round 5): the hyperplanes are a
    * deterministic LCG quantized to the same 1e6 fixed-point grid as the
    * vectors, so bucket bits, probe set and rerank are all integer or
    * identical-double arithmetic — the full output hash-matches.
    * "Approximate" describes this query's RECALL vs brute force (still
    * spec-gated in LlmSpec), not its output. The 8×64 plane constants are
    * inlined as list literals generated from the SAME [[planes]] builder
    * the Spark side uses — one definition, two engines. */
  private lazy val lshSql: String = {
    val pl = planes(8, 64).map(_.map(v => math.floor(v * 1000000.0).toLong))
    def planeDot(j: Int): String = {
      val lst = pl(j).mkString("[", ", ", "]")
      s"CAST(list_sum(list_transform(range(1, 65), i -> " +
        s"fx[CAST(i AS INTEGER)] * ($lst)[CAST(i AS INTEGER)])) AS BIGINT)"
    }
    val bucket = (0 until 8)
      .map(j => s"(CASE WHEN ${planeDot(j)} > 0 THEN ${1L << j} ELSE 0 END)")
      .mkString(" + ")
    s"WITH f AS (SELECT vec_id, $fxSql AS fx FROM embeddings), " +
      s"n AS (SELECT vec_id, fx, ${dotSql("fx", "fx")} AS nrm FROM f), " +
      s"b AS (SELECT vec_id, fx, nrm, CAST($bucket AS BIGINT) AS bucket FROM n), " +
      "q AS (SELECT vec_id AS q_id, bucket AS q_bucket, fx AS qx, nrm AS qn " +
      "FROM b WHERE vec_id < 10), " +
      "probes AS (SELECT q_id, qx, qn, xor(q_bucket, CAST(flip AS BIGINT)) " +
      "AS probe_bucket FROM q CROSS JOIN " +
      "(SELECT unnest([0, 1, 2, 4, 8, 16, 32, 64, 128]) AS flip) t), " +
      "scored AS (SELECT q_id, vec_id, " +
      s"CAST(${dotSql("qx", "fx")} AS DOUBLE) / " +
      "(sqrt(CAST(qn AS DOUBLE)) * sqrt(CAST(nrm AS DOUBLE))) AS cos " +
      "FROM b JOIN probes ON b.bucket = probes.probe_bucket " +
      "AND b.vec_id <> probes.q_id), " +
      "ranked AS (SELECT q_id, vec_id, cos, CAST(row_number() OVER " +
      "(PARTITION BY q_id ORDER BY cos DESC, vec_id) AS BIGINT) AS rank FROM scored) " +
      "SELECT q_id, vec_id, cos, rank FROM ranked WHERE rank <= 3 " +
      "ORDER BY q_id, rank"
  }

  /** One Lloyd iteration as a DuckDB CTE chain (round 5): nearest-centroid
    * assignment by the same -dot/√‖c‖ coarse metric (row_number mirrors
    * Spark's min(struct(dist, cid)) lexicographic tie-break), then integer
    * recentering — `SUM(x) // COUNT(*)` mirrors Spark's `DIV` (both floor;
    * verified on 2,124 negative non-divisible gram sums). The whole k-means
    * build is integer/identical-double arithmetic, which is what lets an
    * "approximate" ANN index hash-match a SQL oracle at all. */
  private def lloydCte(cin: String, tag: String): String = {
    val (s, a, e, r, cout) = (s"s$tag", s"a$tag", s"e$tag", s"r$tag", s"c$tag")
    s"$s AS (SELECT n.vec_id, $cin.cid, " +
      s"-CAST(${dotSql("fx", "cfx")} AS DOUBLE)/sqrt(CAST(${dotSql("cfx", "cfx")} AS DOUBLE)) AS dist " +
      s"FROM n CROSS JOIN $cin), " +
      s"$a AS (SELECT vec_id, cid FROM (SELECT vec_id, cid, row_number() OVER " +
      s"(PARTITION BY vec_id ORDER BY dist, cid) AS rn FROM $s) WHERE rn = 1), " +
      s"$e AS (SELECT $a.cid, generate_subscripts(n.fx, 1) AS pos, unnest(n.fx) AS x " +
      s"FROM $a JOIN n ON $a.vec_id = n.vec_id), " +
      s"$r AS (SELECT cid, pos, SUM(x) // COUNT(*) AS cx FROM $e GROUP BY 1, 2), " +
      s"$cout AS (SELECT cid, list(cx ORDER BY pos) AS cfx FROM $r GROUP BY cid)"
  }

  private def distSql(v: String, c: String): String =
    s"-CAST(${dotSql(v, c)} AS DOUBLE)/sqrt(CAST(${dotSql(c, c)} AS DOUBLE))"

  private def cosSql(a: String, b: String, na: String, nb: String): String =
    s"CAST(${dotSql(a, b)} AS DOUBLE)/(sqrt(CAST($na AS DOUBLE))*sqrt(CAST($nb AS DOUBLE)))"

  /** Exact IVF-ANN oracle: deterministic init (16 lowest vec_ids) + two
    * [[lloydCte]] iterations + nprobe-2 search, all bit-reproducible. */
  private lazy val ivfSql: String =
    s"WITH f AS (SELECT vec_id, $fxSql AS fx FROM embeddings), " +
      s"n AS (SELECT vec_id, fx, ${dotSql("fx", "fx")} AS nrm FROM f), " +
      "c0 AS (SELECT CAST(vec_id AS INTEGER) AS cid, fx AS cfx FROM n WHERE vec_id < 16), " +
      s"${lloydCte("c0", "1")}, ${lloydCte("c1", "2")}, " +
      s"s3 AS (SELECT n.vec_id, c2.cid, ${distSql("fx", "cfx")} AS dist FROM n CROSS JOIN c2), " +
      "af AS (SELECT s3.vec_id, s3.cid, n.fx, n.nrm FROM (SELECT vec_id, cid, " +
      "row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn FROM s3) s3 " +
      "JOIN n ON s3.vec_id = n.vec_id WHERE s3.rn = 1), " +
      "qp AS (SELECT q_id, cid, qx, qn FROM (SELECT n.vec_id AS q_id, c2.cid, " +
      "n.fx AS qx, n.nrm AS qn, row_number() OVER (PARTITION BY n.vec_id ORDER BY " +
      s"${distSql("fx", "cfx")}, cid) AS prb FROM n CROSS JOIN c2 WHERE n.vec_id < 10) " +
      "WHERE prb <= 2), " +
      s"scored AS (SELECT qp.q_id, af.vec_id, ${cosSql("qx", "fx", "qn", "nrm")} AS cos " +
      "FROM af JOIN qp ON af.cid = qp.cid AND af.vec_id <> qp.q_id), " +
      "ranked AS (SELECT q_id, vec_id, cos, CAST(row_number() OVER " +
      "(PARTITION BY q_id ORDER BY cos DESC, vec_id) AS BIGINT) AS rank FROM scored) " +
      "SELECT q_id, vec_id, cos, rank FROM ranked WHERE rank <= 3 ORDER BY q_id, rank"

  /** Exact recall/cost-curve oracle: the ivfSql quantizer + nprobe-4
    * candidate scoring, each narrower setting a probe-rank filter, recall
    * against the nested [[bruteSql]] ground truth — the sim_recall_at_k
    * nesting discipline extended across three probe widths. */
  private lazy val ivfCurveSql: String =
    s"WITH f AS (SELECT vec_id, $fxSql AS fx FROM embeddings), " +
      s"n AS (SELECT vec_id, fx, ${dotSql("fx", "fx")} AS nrm FROM f), " +
      "c0 AS (SELECT CAST(vec_id AS INTEGER) AS cid, fx AS cfx FROM n WHERE vec_id < 16), " +
      s"${lloydCte("c0", "1")}, ${lloydCte("c1", "2")}, " +
      s"s3 AS (SELECT n.vec_id, c2.cid, ${distSql("fx", "cfx")} AS dist FROM n CROSS JOIN c2), " +
      "af AS (SELECT s3.vec_id, s3.cid, n.fx, n.nrm FROM (SELECT vec_id, cid, " +
      "row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn FROM s3) s3 " +
      "JOIN n ON s3.vec_id = n.vec_id WHERE s3.rn = 1), " +
      "qp AS (SELECT q_id, cid, prb, qx, qn FROM (SELECT n.vec_id AS q_id, c2.cid, " +
      "n.fx AS qx, n.nrm AS qn, row_number() OVER (PARTITION BY n.vec_id ORDER BY " +
      s"${distSql("fx", "cfx")}, cid) AS prb FROM n CROSS JOIN c2 WHERE n.vec_id < 10) " +
      "WHERE prb <= 4), " +
      s"cand AS (SELECT qp.q_id, qp.prb, af.vec_id, ${cosSql("qx", "fx", "qn", "nrm")} AS cos " +
      "FROM af JOIN qp ON af.cid = qp.cid AND af.vec_id <> qp.q_id), " +
      s"bf AS (SELECT q_id AS bq, vec_id AS bv FROM ($bruteSql) WHERE rank <= 3), " +
      "np(nprobe) AS (VALUES (CAST(1 AS BIGINT)), (CAST(2 AS BIGINT)), (CAST(4 AS BIGINT))), " +
      "cnp AS (SELECT np.nprobe, c.q_id, c.vec_id, c.cos FROM cand c " +
      "JOIN np ON c.prb <= np.nprobe), " +
      "top3 AS (SELECT nprobe, q_id, vec_id FROM (SELECT nprobe, q_id, vec_id, " +
      "row_number() OVER (PARTITION BY nprobe, q_id ORDER BY cos DESC, vec_id) AS rk " +
      "FROM cnp) WHERE rk <= 3), " +
      "hits AS (SELECT nprobe, CAST(COUNT(bv) AS BIGINT) AS n_hits FROM top3 " +
      "LEFT JOIN bf ON top3.q_id = bf.bq AND top3.vec_id = bf.bv GROUP BY 1), " +
      "nc AS (SELECT nprobe, CAST(COUNT(*) AS BIGINT) AS n_candidates FROM cnp GROUP BY 1) " +
      "SELECT nc.nprobe, nc.n_candidates, hits.n_hits, " +
      "CAST(hits.n_hits AS DOUBLE) / 30.0 AS recall " +
      "FROM nc JOIN hits USING (nprobe) ORDER BY nprobe"

  /** Shared PQ CTE chain ending at `ranked` (ADC top-ranked neighbors)
    * — nested by BOTH sim_pq_adc and sim_pq_recall so the index and its
    * gate cannot drift. Mirrors [[pqCoded]]/[[pqAdcTop]] 1:1. */
  /** The full sim_knn_graph mirror, extracted so emb_knn_label_purity can
    * nest it as a subquery — one SQL definition of the graph on the
    * oracle side, matching the one kernel on the Spark side. */
  private lazy val knnGraphSql: String =
    s"WITH f AS (SELECT vec_id, $fxSql AS fx FROM embeddings), " +
      s"n AS (SELECT vec_id, fx, ${dotSql("fx", "fx")} AS nrm FROM f), " +
      "kk AS (SELECT greatest(4, least(1024, CAST(floor(sqrt(CAST(COUNT(*) AS DOUBLE)) + 0.5) AS BIGINT))) AS k FROM n), " +
      "c0 AS (SELECT CAST(vec_id AS INTEGER) AS cid, fx AS cfx FROM n WHERE vec_id < (SELECT k FROM kk)), " +
      s"${lloydCte("c0", "1")}, ${lloydCte("c1", "2")}, " +
      "s3 AS (SELECT n.vec_id, c2.cid, n.fx, n.nrm, " +
      s"${distSql("fx", "cfx")} AS dist FROM n CROSS JOIN c2), " +
      "asg AS (SELECT vec_id, cid, fx, nrm FROM (SELECT vec_id, cid, fx, nrm, " +
      "row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn FROM s3) WHERE rn = 1), " +
      "p AS (SELECT a.vec_id, b.vec_id AS nbr_id, " +
      s"${cosSql("a.fx", "b.fx", "a.nrm", "b.nrm")} AS cos " +
      "FROM asg a JOIN asg b ON a.cid = b.cid AND a.vec_id <> b.vec_id), " +
      "r AS (SELECT vec_id, nbr_id, cos, CAST(row_number() OVER " +
      "(PARTITION BY vec_id ORDER BY cos DESC, nbr_id) AS BIGINT) AS rank FROM p) " +
      "SELECT vec_id, rank, nbr_id, cos FROM r WHERE rank <= 3 " +
      "ORDER BY vec_id, rank"

  private lazy val pqCtes: String = {
    def a1(cin: String, cout: String): String =
      s"$cout AS (SELECT sub, vec_id, cid, sx FROM (SELECT sn.sub, " +
        "sn.vec_id, c.cid, sn.sx, row_number() OVER (PARTITION BY sn.sub, " +
        s"sn.vec_id ORDER BY sn.snrm - 2*${dot16Sql("sn.sx", "c.cx")} + " +
        s"${dot16Sql("c.cx", "c.cx")}, c.cid) AS rn " +
        s"FROM sn JOIN $cin c ON sn.sub = c.sub) WHERE rn = 1)"
    s"f AS (SELECT vec_id, $fxSql AS fx FROM embeddings), " +
      "sv AS (SELECT vec_id, CAST(ss AS BIGINT) AS sub, " +
      "list_slice(fx, CAST(ss*16+1 AS INTEGER), CAST(ss*16+16 AS INTEGER)) " +
      "AS sx FROM f CROSS JOIN range(0, 4) t(ss)), " +
      s"sn AS (SELECT vec_id, sub, sx, ${dot16Sql("sx", "sx")} AS snrm " +
      "FROM sv), " +
      "pc0 AS (SELECT sub, CAST(vec_id AS INTEGER) AS cid, sx AS cx " +
      "FROM sn WHERE vec_id < 16), " +
      a1("pc0", "pa1") + ", " +
      "pe AS (SELECT sub, cid, generate_subscripts(sx, 1) AS pos, " +
      "unnest(sx) AS x FROM pa1), " +
      "pr AS (SELECT sub, cid, pos, SUM(x) // COUNT(*) AS cxx " +
      "FROM pe GROUP BY 1, 2, 3), " +
      "pc1 AS (SELECT sub, cid, list(cxx ORDER BY pos) AS cx " +
      "FROM pr GROUP BY 1, 2), " +
      a1("pc1", "pcode") + ", " +
      "qq AS (SELECT sub, vec_id AS q_id, sx AS qx, snrm AS qn FROM sn " +
      "WHERE vec_id < 10), " +
      "lut AS (SELECT q.sub, q.q_id, c.cid, " +
      s"q.qn - 2*${dot16Sql("q.qx", "c.cx")} + ${dot16Sql("c.cx", "c.cx")} " +
      "AS d2 FROM qq q JOIN pc1 c ON q.sub = c.sub), " +
      "adc AS (SELECT l.q_id, pcode.vec_id, CAST(SUM(l.d2) AS BIGINT) " +
      "AS adc_d2 FROM pcode JOIN lut l ON pcode.sub = l.sub " +
      "AND pcode.cid = l.cid WHERE pcode.vec_id <> l.q_id GROUP BY 1, 2), " +
      "ranked AS (SELECT q_id, vec_id, adc_d2, CAST(row_number() OVER " +
      "(PARTITION BY q_id ORDER BY adc_d2, vec_id) AS BIGINT) AS rank " +
      "FROM adc)"
  }

  private lazy val pqAdcSql: String =
    s"WITH $pqCtes SELECT q_id, vec_id, adc_d2, rank FROM ranked " +
      "WHERE rank <= 3 ORDER BY q_id, rank"

  /** Shared IVF-PQ CTE chain ending at `ranked` (exact-refined top
    * neighbors off the residual-ADC shortlist) — nested by BOTH
    * sim_ivfpq_adc and sim_ivfpq_recall. Mirrors [[ivfPqCoded]] +
    * [[ivfPqOnCoded]] 1:1: the ivfSql coarse quantizer (c2/af), Long
    * residuals, the pqCtes 1-step-Lloyd discipline on residual
    * subspaces, nprobe-4 query cells, broadcast-LUT ADC, a 192-row
    * shortlist (192 rows) and the exact-L2 refine. */
  private lazy val ivfPqCtes: String = {
    def rAssign(cin: String, cout: String): String =
      s"$cout AS (SELECT sub, vec_id, cid, pcid, sx FROM (SELECT rs.sub, " +
        "rs.vec_id, rs.cid, c.pcid, rs.sx, row_number() OVER (PARTITION BY " +
        s"rs.sub, rs.vec_id ORDER BY rs.snrm - 2*${dot16Sql("rs.sx", "c.cx")} + " +
        s"${dot16Sql("c.cx", "c.cx")}, c.pcid) AS rn " +
        s"FROM rsn rs JOIN $cin c ON rs.sub = c.sub) WHERE rn = 1)"
    s"f AS (SELECT vec_id, $fxSql AS fx FROM embeddings), " +
      s"n AS (SELECT vec_id, fx, ${dotSql("fx", "fx")} AS nrm FROM f), " +
      "c0 AS (SELECT CAST(vec_id AS INTEGER) AS cid, fx AS cfx FROM n " +
      "WHERE vec_id < 16), " +
      s"${lloydCte("c0", "1")}, ${lloydCte("c1", "2")}, " +
      s"s3 AS (SELECT n.vec_id, c2.cid, ${distSql("fx", "cfx")} AS dist " +
      "FROM n CROSS JOIN c2), " +
      "af AS (SELECT s3.vec_id, s3.cid, n.fx, n.nrm FROM (SELECT vec_id, cid, " +
      "row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn FROM s3) s3 " +
      "JOIN n ON s3.vec_id = n.vec_id WHERE s3.rn = 1), " +
      "rx AS (SELECT af.vec_id, af.cid, list_transform(range(1, 65), i -> " +
      "af.fx[CAST(i AS INTEGER)] - c2.cfx[CAST(i AS INTEGER)]) AS rx " +
      "FROM af JOIN c2 ON af.cid = c2.cid), " +
      "rsv AS (SELECT vec_id, cid, CAST(ss AS BIGINT) AS sub, " +
      "list_slice(rx, CAST(ss*16+1 AS INTEGER), CAST(ss*16+16 AS INTEGER)) " +
      "AS sx FROM rx CROSS JOIN range(0, 4) t(ss)), " +
      s"rsn AS (SELECT vec_id, cid, sub, sx, ${dot16Sql("sx", "sx")} " +
      "AS snrm FROM rsv), " +
      "rc0 AS (SELECT sub, CAST(vec_id AS INTEGER) AS pcid, sx AS cx " +
      "FROM rsn WHERE vec_id < 16), " +
      rAssign("rc0", "ra1") + ", " +
      "re AS (SELECT sub, pcid, generate_subscripts(sx, 1) AS pos, " +
      "unnest(sx) AS x FROM ra1), " +
      "rr AS (SELECT sub, pcid, pos, SUM(x) // COUNT(*) AS cxx " +
      "FROM re GROUP BY 1, 2, 3), " +
      "rc1 AS (SELECT sub, pcid, list(cxx ORDER BY pos) AS cx " +
      "FROM rr GROUP BY 1, 2), " +
      rAssign("rc1", "rcode") + ", " +
      "qp AS (SELECT q_id, cid, qx, qn, cfx FROM (SELECT n.vec_id AS q_id, " +
      "c2.cid, n.fx AS qx, n.nrm AS qn, c2.cfx, row_number() OVER " +
      s"(PARTITION BY n.vec_id ORDER BY ${distSql("fx", "cfx")}, cid) AS prb " +
      "FROM n CROSS JOIN c2 WHERE n.vec_id < 10) WHERE prb <= 4), " +
      "qrx AS (SELECT q_id, cid, list_transform(range(1, 65), i -> " +
      "qx[CAST(i AS INTEGER)] - cfx[CAST(i AS INTEGER)]) AS qr FROM qp), " +
      "qsv AS (SELECT q_id, cid, CAST(ss AS BIGINT) AS sub, " +
      "list_slice(qr, CAST(ss*16+1 AS INTEGER), CAST(ss*16+16 AS INTEGER)) " +
      "AS qsx FROM qrx CROSS JOIN range(0, 4) t(ss)), " +
      s"qsn AS (SELECT q_id, cid, sub, qsx, ${dot16Sql("qsx", "qsx")} " +
      "AS qn2 FROM qsv), " +
      "lut AS (SELECT q.sub, q.q_id, q.cid, c.pcid, " +
      s"q.qn2 - 2*${dot16Sql("q.qsx", "c.cx")} + ${dot16Sql("c.cx", "c.cx")} " +
      "AS d2 FROM qsn q JOIN rc1 c ON q.sub = c.sub), " +
      "adc AS (SELECT l.q_id, rcode.vec_id, CAST(SUM(l.d2) AS BIGINT) " +
      "AS adc_d2 FROM rcode JOIN lut l ON rcode.sub = l.sub " +
      "AND rcode.cid = l.cid AND rcode.pcid = l.pcid " +
      "WHERE rcode.vec_id <> l.q_id GROUP BY 1, 2), " +
      "short AS (SELECT q_id, vec_id FROM (SELECT q_id, vec_id, " +
      "row_number() OVER (PARTITION BY q_id ORDER BY adc_d2, vec_id) AS srn " +
      "FROM adc) WHERE srn <= 192), " +
      "qv AS (SELECT vec_id AS q_id, fx AS qx, nrm AS qn FROM n " +
      "WHERE vec_id < 10), " +
      "ref AS (SELECT s.q_id, s.vec_id, " +
      s"CAST(qv.qn - 2*${dotSql("qv.qx", "n.fx")} + n.nrm AS BIGINT) AS d2 " +
      "FROM short s JOIN n ON s.vec_id = n.vec_id " +
      "JOIN qv ON s.q_id = qv.q_id), " +
      "ranked AS (SELECT q_id, vec_id, d2, CAST(row_number() OVER " +
      "(PARTITION BY q_id ORDER BY d2, vec_id) AS BIGINT) AS rank FROM ref)"
  }

  private lazy val ivfPqAdcSql: String =
    s"WITH $ivfPqCtes SELECT q_id, vec_id, d2, rank FROM ranked " +
      "WHERE rank <= 3 ORDER BY q_id, rank"

  private lazy val ivfPqRecallSql: String =
    s"WITH $ivfPqCtes, " +
      "ex AS (SELECT q_id, vec_id FROM (SELECT b.q_id, n.vec_id, " +
      s"row_number() OVER (PARTITION BY b.q_id ORDER BY b.qn - " +
      s"2*${dotSql("b.qx", "n.fx")} + n.nrm, n.vec_id) AS rk " +
      "FROM n CROSS JOIN qv b WHERE n.vec_id <> b.q_id) WHERE rk <= 3) " +
      "SELECT t.q_id, CAST(COUNT(e.vec_id) AS BIGINT) AS n_hits, " +
      "CAST(COUNT(e.vec_id) AS DOUBLE) / 3.0 AS recall " +
      "FROM (SELECT q_id, vec_id FROM ranked WHERE rank <= 3) t " +
      "LEFT JOIN ex e ON t.q_id = e.q_id AND t.vec_id = e.vec_id " +
      "GROUP BY t.q_id ORDER BY t.q_id"

  private lazy val pqRecallSql: String =
    s"WITH $pqCtes, " +
      s"n AS (SELECT vec_id, fx, ${dotSql("fx", "fx")} AS nrm FROM f), " +
      "bq AS (SELECT vec_id AS q_id, fx AS qx, nrm AS qn FROM n " +
      "WHERE vec_id < 10), " +
      "ex AS (SELECT q_id, vec_id FROM (SELECT b.q_id, n.vec_id, " +
      s"row_number() OVER (PARTITION BY b.q_id ORDER BY b.qn - " +
      s"2*${dotSql("b.qx", "n.fx")} + n.nrm, n.vec_id) AS rk " +
      "FROM n CROSS JOIN bq b WHERE n.vec_id <> b.q_id) WHERE rk <= 3) " +
      "SELECT t.q_id, CAST(COUNT(e.vec_id) AS BIGINT) AS n_hits, " +
      "CAST(COUNT(e.vec_id) AS DOUBLE) / 3.0 AS recall " +
      "FROM (SELECT q_id, vec_id FROM ranked WHERE rank <= 3) t " +
      "LEFT JOIN ex e ON t.q_id = e.q_id AND t.vec_id = e.vec_id " +
      "GROUP BY t.q_id ORDER BY t.q_id"

  /** Exact IVF-blocked near-dup oracle: k = max(4, min(1024, round(√n)))
    * (floor(√n + 0.5) mirrors Java Math.round), two Lloyd iterations,
    * nprobe-3 blocking, fused exact rerank — the whole `blockedPairs`
    * kernel in SQL. */
  private lazy val embAnnSql: String =
    s"WITH f AS (SELECT vec_id, $fxSql AS fx FROM embeddings), " +
      s"n AS (SELECT vec_id, fx, ${dotSql("fx", "fx")} AS nrm FROM f), " +
      "kk AS (SELECT greatest(4, least(1024, CAST(floor(sqrt(CAST(COUNT(*) AS DOUBLE)) + 0.5) AS BIGINT))) AS k FROM n), " +
      "c0 AS (SELECT CAST(vec_id AS INTEGER) AS cid, fx AS cfx FROM n WHERE vec_id < (SELECT k FROM kk)), " +
      s"${lloydCte("c0", "1")}, ${lloydCte("c1", "2")}, " +
      "s3 AS (SELECT n.vec_id, c2.cid, n.fx, n.nrm, " +
      s"${distSql("fx", "cfx")} AS dist FROM n CROSS JOIN c2), " +
      "probed AS (SELECT vec_id, cid, fx, nrm FROM (SELECT vec_id, cid, fx, nrm, " +
      "row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn FROM s3) WHERE rn <= 3), " +
      "pairs AS (SELECT DISTINCT a.vec_id AS da, b.vec_id AS db, " +
      s"${cosSql("a.fx", "b.fx", "a.nrm", "b.nrm")} AS cos " +
      "FROM probed a JOIN probed b ON a.cid = b.cid AND a.vec_id < b.vec_id " +
      s"WHERE ${cosSql("a.fx", "b.fx", "a.nrm", "b.nrm")} >= 0.4) " +
      "SELECT da, db, cos FROM pairs ORDER BY da, db"

  /** Exact brute-force cosine top-5 oracle — a named val so the recall
    * oracle can nest it as ground truth. */
  private lazy val bruteSql: String =
    s"WITH f AS (SELECT vec_id, $fxSql AS fx FROM embeddings), " +
      s"n AS (SELECT vec_id, fx, ${dotSql("fx", "fx")} AS nrm FROM f), " +
      "q AS (SELECT vec_id AS q_id, fx AS qx, nrm AS qn FROM n WHERE vec_id < 10), " +
      "scored AS (SELECT q_id, vec_id, " +
      s"CAST(${dotSql("qx", "fx")} AS DOUBLE) / " +
      "(sqrt(CAST(qn AS DOUBLE)) * sqrt(CAST(nrm AS DOUBLE))) AS cos " +
      "FROM n CROSS JOIN q WHERE vec_id <> q_id), " +
      "ranked AS (SELECT q_id, vec_id, cos, CAST(row_number() OVER " +
      "(PARTITION BY q_id ORDER BY cos DESC, vec_id) AS BIGINT) AS rank FROM scored) " +
      "SELECT q_id, vec_id, cos, rank FROM ranked WHERE rank <= 5 " +
      "ORDER BY q_id, rank"

  private def dot16Sql(a: String, b: String): String =
    s"CAST(list_sum(list_transform(range(1, 17), i -> " +
      s"$a[CAST(i AS INTEGER)] * $b[CAST(i AS INTEGER)])) AS BIGINT)"

  /** The MMR oracle: 5 chained greedy steps as CTEs — sel_i = sel_{i-1}
    * plus the argmax of 0.7·rel − 0.3·max-cos-to-selected over the
    * not-yet-selected corpus, every cosine the same fixed-point tree the
    * Spark side runs. */
  private lazy val mmrSql: String = {
    val cos = s"CAST(${dotSql("c.fx", "s.fx")} AS DOUBLE) / " +
      "(sqrt(CAST(c.nrm AS DOUBLE)) * sqrt(CAST(s.nrm AS DOUBLE)))"
    val steps = (2 to 5).map { i =>
      s"pen$i AS (SELECT c.vec_id AS pv, MAX($cos) AS pen " +
        s"FROM c CROSS JOIN sel${i - 1} s GROUP BY 1), " +
        s"sc$i AS (SELECT c.vec_id, c.fx, c.nrm, c.rel, " +
        s"0.7 * c.rel - 0.3 * p.pen AS score " +
        s"FROM c JOIN pen$i p ON p.pv = c.vec_id WHERE c.vec_id NOT IN " +
        s"(SELECT vec_id FROM sel${i - 1})), " +
        s"pk$i AS (SELECT CAST($i AS BIGINT) AS step, vec_id, fx, nrm, " +
        s"rel, score FROM sc$i ORDER BY score DESC, vec_id LIMIT 1), " +
        s"sel$i AS (SELECT * FROM sel${i - 1} UNION ALL " +
        s"SELECT * FROM pk$i)"
    }.mkString(", ")
    s"WITH f AS (SELECT vec_id, $fxSql AS fx FROM embeddings), " +
      s"n AS (SELECT vec_id, fx, ${dotSql("fx", "fx")} AS nrm FROM f), " +
      "q AS (SELECT fx AS qx, nrm AS qn FROM n WHERE vec_id = 0), " +
      "c AS (SELECT vec_id, fx, nrm, " +
      s"CAST(${dotSql("fx", "qx")} AS DOUBLE) / " +
      "(sqrt(CAST(nrm AS DOUBLE)) * sqrt(CAST(qn AS DOUBLE))) AS rel " +
      "FROM n CROSS JOIN q WHERE vec_id <> 0), " +
      "sel1 AS (SELECT CAST(1 AS BIGINT) AS step, vec_id, fx, nrm, rel, " +
      "0.7 * rel - 0.3 * 0.0 AS score FROM c " +
      "ORDER BY 0.7 * rel - 0.3 * 0.0 DESC, vec_id LIMIT 1), " +
      steps +
      " SELECT step, vec_id, rel, score FROM sel5 ORDER BY step"
  }

  /** The k-means oracle: 3 chained assignment/update rounds in component
    * space — Σ(x−cx)² is the same exact Long as the Spark side's
    * ‖x‖²−2x·c+‖c‖², and the floored-mean update is the identical
    * double-division tree. */
  private lazy val kmeansCtes: String = {
    def round(i: Int): String =
      s"d$i AS (SELECT comp.vec_id, c${i - 1}.cid, " +
        "CAST(SUM((x - cx) * (x - cx)) AS BIGINT) AS dist2 " +
        s"FROM comp JOIN c${i - 1} USING (dim) GROUP BY 1, 2), " +
        s"a$i AS (SELECT vec_id, cid, dist2, row_number() OVER " +
        s"(PARTITION BY vec_id ORDER BY dist2, cid) AS rk FROM d$i), " +
        s"asg$i AS (SELECT vec_id, cid, dist2 FROM a$i WHERE rk = 1)" +
        (if (i < 3)
          s", c$i AS (SELECT cid, dim, CAST(floor(CAST(SUM(x) AS DOUBLE) " +
            s"/ COUNT(*)) AS BIGINT) AS cx FROM comp JOIN asg$i " +
            "USING (vec_id) GROUP BY 1, 2)"
        else "")
    s"f AS (SELECT vec_id, $fxSql AS fx FROM embeddings), " +
      "comp AS (SELECT vec_id, CAST(i AS BIGINT) AS dim, " +
      "fx[CAST(i AS INTEGER)] AS x FROM f CROSS JOIN range(1, 65) t(i)), " +
      "c0 AS (SELECT vec_id AS cid, dim, x AS cx FROM comp " +
      "WHERE vec_id < 4), " +
      round(1) + ", " + round(2) + ", " + round(3)
  }

  private lazy val kmeansSql: String =
    s"WITH $kmeansCtes, " +
      "chk AS (SELECT cid, CAST(SUM(dim * cx) AS BIGINT) AS checksum " +
      "FROM c2 GROUP BY 1) " +
      "SELECT asg3.cid, CAST(COUNT(*) AS BIGINT) AS n_members, " +
      "CAST(SUM(dist2) AS BIGINT) AS inertia, MAX(checksum) AS checksum " +
      "FROM asg3 JOIN chk ON asg3.cid = chk.cid " +
      "GROUP BY 1 ORDER BY 1"

  /** The ARI oracle nests the k-means rounds so the assignment and the
    * quality gate cannot drift (the dedup_lsh_recall nesting pattern). */
  private lazy val kmeansAriSql: String =
    s"WITH $kmeansCtes, " +
      "ct AS (SELECT cid, CAST(label AS BIGINT) AS label, " +
      "CAST(COUNT(*) AS BIGINT) AS nij FROM asg3 " +
      "JOIN embeddings ON asg3.vec_id = embeddings.vec_id GROUP BY 1, 2), " +
      "parts AS (SELECT CAST(SUM(nij) AS BIGINT) AS n, " +
      "CAST(SUM((nij * (nij - 1)) // 2) AS BIGINT) AS idx FROM ct), " +
      "aa AS (SELECT CAST(SUM((ai * (ai - 1)) // 2) AS BIGINT) AS a2 FROM " +
      "(SELECT CAST(SUM(nij) AS BIGINT) AS ai FROM ct GROUP BY cid)), " +
      "bb AS (SELECT CAST(SUM((bj * (bj - 1)) // 2) AS BIGINT) AS b2 FROM " +
      "(SELECT CAST(SUM(nij) AS BIGINT) AS bj FROM ct GROUP BY label)) " +
      "SELECT n, idx, a2, b2, " +
      "(CAST(idx AS DOUBLE) - CAST(a2 AS DOUBLE) * CAST(b2 AS DOUBLE) / " +
      "(CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0) / 2.0)) / " +
      "((CAST(a2 AS DOUBLE) + CAST(b2 AS DOUBLE)) / 2.0 - " +
      "CAST(a2 AS DOUBLE) * CAST(b2 AS DOUBLE) / " +
      "(CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0) / 2.0)) AS ari " +
      "FROM parts CROSS JOIN aa CROSS JOIN bb"

  val oracleSql: Map[String, String] = Map(
    "emb_kmeans" -> kmeansSql,
    "emb_kmeans_ari" -> kmeansAriSql,
    "emb_cka" ->
      (s"WITH ${graft.llm.Pipeline.eigvecCtes}, " +
        "f AS (SELECT " +
        "CAST(SUM(CASE WHEN i < 32 AND j < 32 THEN " +
        "CAST(c AS HUGEINT) * c ELSE 0 END) AS BIGINT) AS fxx, " +
        "CAST(SUM(CASE WHEN i < 32 AND j >= 32 THEN " +
        "CAST(c AS HUGEINT) * c ELSE 0 END) AS BIGINT) AS fxy, " +
        "CAST(SUM(CASE WHEN i >= 32 AND j >= 32 THEN " +
        "CAST(c AS HUGEINT) * c ELSE 0 END) AS BIGINT) AS fyy " +
        "FROM gram) " +
        "SELECT fxx, fxy, fyy, " +
        "CASE WHEN fxx > 0 AND fyy > 0 THEN " +
        "CAST((CAST(fxy AS HUGEINT) * fxy * 1000000) // " +
        "(CAST(fxx AS HUGEINT) * fyy) AS BIGINT) END AS cka2_micro " +
        "FROM f"),
    "pipeline_semdedup" ->
      (s"WITH $kmeansCtes, " +
        s"nm AS (SELECT f.vec_id, fx, ${dotSql("fx", "fx")} AS nrm " +
        "FROM f), " +
        "m AS (SELECT asg3.vec_id, asg3.cid, nm.fx, nm.nrm " +
        "FROM asg3 JOIN nm ON asg3.vec_id = nm.vec_id), " +
        "pr AS (SELECT a.cid, b.vec_id AS kb, " +
        s"${dotSql("a.fx", "b.fx")} AS dot, a.nrm AS na, b.nrm AS nb " +
        "FROM m a JOIN m b ON a.cid = b.cid AND a.vec_id < b.vec_id), " +
        "dup AS (SELECT DISTINCT cid, kb FROM pr WHERE dot > 0 AND " +
        "400 * CAST(dot AS HUGEINT) * dot >= " +
        "361 * CAST(na AS HUGEINT) * nb) " +
        "SELECT m.cid, CAST(COUNT(*) AS BIGINT) AS n_vecs, " +
        "CAST(COUNT(dup.kb) AS BIGINT) AS n_dropped, " +
        "(1000000 * (COUNT(*) - COUNT(dup.kb))) // COUNT(*) " +
        "AS keep_ratio_micro " +
        "FROM m LEFT JOIN dup ON m.cid = dup.cid AND m.vec_id = dup.kb " +
        "GROUP BY 1 ORDER BY 1"),
    "emb_mmr" -> mmrSql,
    "sim_hamming_topk" ->
      ("WITH sig AS (SELECT vec_id, " +
        "list_reduce(list_transform(range(32), i -> CASE WHEN " +
        "embedding[i+1] > 0 THEN (CAST(1 AS BIGINT) << i) " +
        "ELSE CAST(0 AS BIGINT) END), (a, b) -> a | b) AS w0, " +
        "list_reduce(list_transform(range(32, 64), i -> CASE WHEN " +
        "embedding[i+1] > 0 THEN (CAST(1 AS BIGINT) << (i - 32)) " +
        "ELSE CAST(0 AS BIGINT) END), (a, b) -> a | b) AS w1 " +
        "FROM embeddings), " +
        "q AS (SELECT vec_id AS q_id, w0 AS q0, w1 AS q1 FROM sig " +
        "WHERE vec_id < 8), " +
        "scored AS (SELECT q_id, vec_id, " +
        "CAST(bit_count(xor(w0, q0)) + bit_count(xor(w1, q1)) AS BIGINT) " +
        "AS hamming FROM sig CROSS JOIN q WHERE vec_id <> q_id), " +
        "ranked AS (SELECT q_id, vec_id, hamming, " +
        "CAST(row_number() OVER (PARTITION BY q_id " +
        "ORDER BY hamming, vec_id) AS BIGINT) AS rank FROM scored) " +
        "SELECT q_id, rank, vec_id, hamming FROM ranked " +
        "WHERE rank <= 3 ORDER BY q_id, rank"),
    "emb_matryoshka" ->
      (s"WITH f AS (SELECT vec_id, $fxSql AS fx FROM embeddings), " +
        s"n AS (SELECT vec_id, fx, ${dotSql("fx", "fx")} AS nrm, " +
        s"${dot16Sql("fx", "fx")} AS nrm16 FROM f), " +
        "q AS (SELECT vec_id AS q_id, fx AS qx, nrm AS qn, " +
        "nrm16 AS qn16 FROM n WHERE vec_id < 10), " +
        "fs AS (SELECT q_id, vec_id, " +
        s"CAST(${dotSql("qx", "fx")} AS DOUBLE) / " +
        "(sqrt(CAST(qn AS DOUBLE)) * sqrt(CAST(nrm AS DOUBLE))) AS cos " +
        "FROM n CROSS JOIN q WHERE vec_id <> q_id), " +
        "f5 AS (SELECT q_id, vec_id FROM (SELECT q_id, vec_id, " +
        "row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) " +
        "AS rank FROM fs) WHERE rank <= 5), " +
        "ps AS (SELECT q_id, vec_id, " +
        s"CAST(${dot16Sql("qx", "fx")} AS DOUBLE) / " +
        "(sqrt(CAST(qn16 AS DOUBLE)) * sqrt(CAST(nrm16 AS DOUBLE))) AS cos " +
        "FROM n CROSS JOIN q WHERE vec_id <> q_id), " +
        "p5 AS (SELECT q_id, vec_id FROM (SELECT q_id, vec_id, " +
        "row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) " +
        "AS rank FROM ps) WHERE rank <= 5), " +
        "ov AS (SELECT q_id, CAST(COUNT(*) AS BIGINT) AS ov " +
        "FROM f5 JOIN p5 USING (q_id, vec_id) GROUP BY q_id) " +
        "SELECT q.q_id, CAST(coalesce(ov, 0) AS BIGINT) AS n_overlap " +
        "FROM (SELECT DISTINCT q_id FROM q) q LEFT JOIN ov USING (q_id) " +
        "ORDER BY q_id"),
    "sim_index_persist" ->
      (s"WITH f AS (SELECT vec_id, $fxSql AS fx FROM embeddings), " +
        s"n AS (SELECT vec_id, fx, ${dotSql("fx", "fx")} AS nrm FROM f), " +
        "c0 AS (SELECT CAST(vec_id AS INTEGER) AS cid, fx AS cfx FROM n " +
        "WHERE vec_id < 16), " +
        s"${lloydCte("c0", "1")}, ${lloydCte("c1", "2")}, " +
        "s3 AS (SELECT n.vec_id, c2.cid, " +
        s"${distSql("fx", "cfx")} AS dist FROM n CROSS JOIN c2), " +
        "a3 AS (SELECT vec_id, cid FROM (SELECT vec_id, cid, " +
        "row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn " +
        "FROM s3) WHERE rn = 1) " +
        "SELECT cid, CAST(COUNT(*) AS BIGINT) AS n_vecs FROM a3 " +
        "GROUP BY cid ORDER BY cid"),
    "emb_label_separation" ->
      (s"WITH f AS (SELECT vec_id, label, $fxSql AS fx FROM embeddings), " +
        s"n AS (SELECT vec_id, label, fx, ${dotSql("fx", "fx")} AS nrm " +
        "FROM f), " +
        "u AS (SELECT vec_id, label, list_transform(fx, e -> " +
        "CAST(floor(CAST(e AS DOUBLE) * 1000000.0 / " +
        "sqrt(CAST(nrm AS DOUBLE))) AS BIGINT)) AS ux FROM n), " +
        "p AS (SELECT a.label = b.label AS same_label, " +
        s"${dotSql("a.ux", "b.ux")} AS d " +
        "FROM u a JOIN u b ON a.vec_id < b.vec_id) " +
        "SELECT same_label, CAST(COUNT(*) AS BIGINT) AS n_pairs, " +
        "CAST(SUM(d) AS DOUBLE) / (1000000000000.0 * COUNT(*)) " +
        "AS mean_cos FROM p GROUP BY same_label ORDER BY same_label"),
    "dedup_text_vs_embedding" ->
      (s"WITH ${graft.llm.Dedup.jaccardCtes}, " +
        "pj AS (SELECT da, db, " +
        "CAST(common AS DOUBLE) / CAST(na + nb - common AS DOUBLE) AS jac " +
        "FROM pairs WHERE CAST(common AS DOUBLE) / " +
        "CAST(na + nb - common AS DOUBLE) >= 0.2), " +
        s"f AS (SELECT vec_id, $fxSql AS fx FROM embeddings), " +
        s"n AS (SELECT vec_id, fx, ${dotSql("fx", "fx")} AS nrm FROM f), " +
        "sc AS (SELECT da, db, jac, " +
        s"CAST(${dotSql("a.fx", "b.fx")} AS DOUBLE) / " +
        "(sqrt(CAST(a.nrm AS DOUBLE)) * sqrt(CAST(b.nrm AS DOUBLE))) AS cos " +
        "FROM pj JOIN n a ON pj.da = a.vec_id JOIN n b ON pj.db = b.vec_id) " +
        "SELECT da, db, jac, cos, cos < 0.5 AS divergent FROM sc " +
        "ORDER BY da, db"),
    "emb_rand_proj" -> {
      val signs = planeSigns(8, 64)
      def pd(j: Int): String = {
        val lst = signs(j).mkString("[", ", ", "]")
        s"CAST(list_sum(list_transform(range(1, 65), i -> " +
          s"fx[CAST(i AS INTEGER)] * ($lst)[CAST(i AS INTEGER)])) AS BIGINT)"
      }
      s"WITH f AS (SELECT vec_id, $fxSql AS fx FROM embeddings), " +
        s"n AS (SELECT vec_id, fx, ${dotSql("fx", "fx")} AS nrm FROM f), " +
        "p AS (SELECT vec_id, nrm, " +
        (0 until 8).map(j => s"${pd(j)} AS p$j").mkString(", ") +
        " FROM n), " +
        "q AS (SELECT vec_id, nrm, p0, p1, " +
        "p0*p0 + p1*p1 + p2*p2 + p3*p3 + p4*p4 + p5*p5 + p6*p6 + p7*p7 " +
        "AS proj_nrm FROM p) " +
        "SELECT vec_id, p0, p1, proj_nrm, " +
        "CAST(proj_nrm AS DOUBLE) / (8.0 * CAST(nrm AS DOUBLE)) " +
        "AS norm_ratio FROM q ORDER BY vec_id"
    },
    "sim_lsh_ann" -> lshSql,
    "sim_ivf_ann" -> ivfSql,
    "sim_ivf_curve" -> ivfCurveSql,
    "sim_pq_adc" -> pqAdcSql,
    "sim_pq_recall" -> pqRecallSql,
    "sim_ivfpq_adc" -> ivfPqAdcSql,
    "sim_ivfpq_recall" -> ivfPqRecallSql,
    "sim_lsh_balance" -> {
      val pl = planes(8, 64).map(_.map(v => math.floor(v * 1000000.0).toLong))
      def planeDot(j: Int): String = {
        val lst = pl(j).mkString("[", ", ", "]")
        s"CAST(list_sum(list_transform(range(1, 65), i -> " +
          s"fx[CAST(i AS INTEGER)] * ($lst)[CAST(i AS INTEGER)])) AS BIGINT)"
      }
      val bucket = (0 until 8)
        .map(j => s"(CASE WHEN ${planeDot(j)} > 0 THEN ${1L << j} ELSE 0 END)")
        .mkString(" + ")
      s"WITH f AS (SELECT vec_id, $fxSql AS fx FROM embeddings), " +
        s"b AS (SELECT vec_id, CAST($bucket AS BIGINT) AS bucket FROM f) " +
        "SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_vecs FROM b " +
        "GROUP BY bucket ORDER BY bucket"
    },
    "emb_ood_score" ->
      (s"WITH f AS (SELECT vec_id, $fxSql AS fx FROM embeddings), " +
        s"n AS (SELECT vec_id, fx, ${dotSql("fx", "fx")} AS nrm FROM f), " +
        "c0 AS (SELECT CAST(vec_id AS INTEGER) AS cid, fx AS cfx FROM n " +
        "WHERE vec_id < 16), " +
        s"${lloydCte("c0", "1")}, ${lloydCte("c1", "2")}, " +
        "s3 AS (SELECT n.vec_id, c2.cid, " +
        s"-(${cosSql("fx", "cfx", "nrm", dotSql("cfx", "cfx"))}) AS dist " +
        "FROM n CROSS JOIN c2), " +
        "a AS (SELECT vec_id, cid, dist FROM (SELECT vec_id, cid, dist, " +
        "row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn " +
        "FROM s3) WHERE rn = 1) " +
        "SELECT vec_id, cid AS nearest_cid, " +
        "CAST(floor((1.0 + dist) * 1000000.0) AS BIGINT) AS ood_micro, " +
        "CAST(floor((1.0 + dist) * 1000000.0) AS BIGINT) >= 300000 " +
        "AS is_ood FROM a ORDER BY vec_id"),
    "sim_knn_graph" -> knnGraphSql,
    "sim_knn_recall" ->
      (s"WITH kg AS (SELECT vec_id, nbr_id FROM ($knnGraphSql) " +
        "WHERE vec_id < 10) " +
        "SELECT kg.vec_id AS q_id, CAST(COUNT(bf.bv) AS BIGINT) AS n_hits, " +
        "CAST(COUNT(bf.bv) AS DOUBLE) / 3.0 AS recall FROM kg LEFT JOIN " +
        s"(SELECT q_id AS bq, vec_id AS bv FROM ($bruteSql) " +
        "WHERE rank <= 3) bf ON kg.vec_id = bf.bq AND kg.nbr_id = bf.bv " +
        "GROUP BY 1 ORDER BY 1"),
    "emb_int8_recall" ->
      ("WITH s8 AS (SELECT vec_id, embedding, " +
        "nullif(list_max(list_transform(embedding, " +
        "y -> abs(CAST(y AS DOUBLE)))) / 127.0, 0.0) AS scale " +
        "FROM embeddings), " +
        "e8 AS (SELECT vec_id, list_transform(embedding, " +
        "x -> least(CAST(127 AS BIGINT), greatest(CAST(-127 AS BIGINT), " +
        "CAST(floor(CAST(x AS DOUBLE) / scale + 0.5) AS BIGINT)))) " +
        "AS qx FROM s8), " +
        s"n8 AS (SELECT vec_id, qx, ${dotSql("qx", "qx")} AS qn FROM e8), " +
        "q AS (SELECT vec_id AS q_id, qx AS ax, qn AS an FROM n8 " +
        "WHERE vec_id < 10), " +
        "scored AS (SELECT q_id, vec_id, " +
        s"CAST(${dotSql("ax", "qx")} AS DOUBLE) / " +
        "(sqrt(CAST(an AS DOUBLE)) * sqrt(CAST(qn AS DOUBLE))) AS cos " +
        "FROM n8 CROSS JOIN q WHERE vec_id <> q_id), " +
        "ranked AS (SELECT q_id, vec_id, CAST(row_number() OVER " +
        "(PARTITION BY q_id ORDER BY cos DESC, vec_id) AS BIGINT) " +
        "AS rank FROM scored), " +
        "i8 AS (SELECT q_id, vec_id FROM ranked WHERE rank <= 3) " +
        "SELECT i8.q_id, CAST(COUNT(bf.bv) AS BIGINT) AS n_hits, " +
        "CAST(COUNT(bf.bv) AS DOUBLE) / 3.0 AS recall FROM i8 LEFT JOIN " +
        s"(SELECT q_id AS bq, vec_id AS bv FROM ($bruteSql) " +
        "WHERE rank <= 3) bf ON i8.q_id = bf.bq AND i8.vec_id = bf.bv " +
        "GROUP BY i8.q_id ORDER BY i8.q_id"),
    "emb_isotropy" ->
      (s"WITH f AS (SELECT CAST(label AS BIGINT) AS label, $fxSql AS fx " +
        "FROM embeddings), " +
        s"n AS (SELECT label, fx, ${dotSql("fx", "fx")} AS nrm FROM f), " +
        "dims AS (SELECT label, i AS pos, fx[CAST(i AS INTEGER)] AS v " +
        "FROM n CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS i)), " +
        "comp AS (SELECT label, pos, SUM(v) AS sv FROM dims GROUP BY 1, 2), " +
        "s2 AS (SELECT label, SUM(CAST(sv AS HUGEINT) * sv) AS s2 " +
        "FROM comp GROUP BY 1), " +
        "base AS (SELECT label, CAST(COUNT(*) AS BIGINT) AS n_vecs, " +
        "SUM(CAST(nrm AS HUGEINT)) AS snrm FROM n GROUP BY 1) " +
        "SELECT base.label, base.n_vecs, " +
        "CAST((1000000 * s2.s2) // nullif(base.n_vecs * base.snrm, 0) " +
        "AS BIGINT) AS isotropy_micro " +
        "FROM base JOIN s2 USING (label) ORDER BY label"),
    "emb_knn_label_purity" ->
      (s"WITH kg AS (SELECT vec_id, nbr_id FROM ($knnGraphSql)), " +
        "lb AS (SELECT vec_id AS lid, CAST(label AS BIGINT) AS label " +
        "FROM embeddings), " +
        "e AS (SELECT a.label, " +
        "CASE WHEN a.label = b.label THEN 1 ELSE 0 END AS same " +
        "FROM kg JOIN lb a ON kg.vec_id = a.lid " +
        "JOIN lb b ON kg.nbr_id = b.lid) " +
        "SELECT label, CAST(COUNT(*) AS BIGINT) AS n_edges, " +
        "CAST(SUM(same) AS BIGINT) AS n_same, " +
        "CAST((1000000 * SUM(same)) // COUNT(*) AS BIGINT) " +
        "AS purity_micro FROM e GROUP BY 1 ORDER BY 1"),
    "sim_pq_distortion" ->
      (s"WITH $pqCtes, " +
        "dist AS (SELECT p.sub, " +
        s"CAST(${dot16Sql("p.sx", "p.sx")} - 2*${dot16Sql("p.sx", "c.cx")} + " +
        s"${dot16Sql("c.cx", "c.cx")} AS BIGINT) AS d2 " +
        "FROM pcode p JOIN pc1 c ON p.sub = c.sub AND p.cid = c.cid) " +
        "SELECT sub, CAST(COUNT(*) AS BIGINT) AS n_vecs, " +
        "CAST(SUM(d2) AS BIGINT) AS sse, CAST(MAX(d2) AS BIGINT) AS max_d2, " +
        "CAST(SUM(d2) // COUNT(*) AS BIGINT) AS mean_d2 " +
        "FROM dist GROUP BY sub ORDER BY sub"),
    "dedup_embedding_ann" -> embAnnSql,
    "emb_hard_negatives" ->
      (s"WITH f AS (SELECT vec_id, label, $fxSql AS fx FROM embeddings), " +
        s"n AS (SELECT vec_id, label, fx, ${dotSql("fx", "fx")} AS nrm FROM f), " +
        "q AS (SELECT vec_id AS q_id, label AS anchor_label, fx AS qx, " +
        "nrm AS qn FROM n WHERE vec_id < 50), " +
        "scored AS (SELECT q_id, anchor_label, vec_id, label, " +
        s"CAST(${dotSql("qx", "fx")} AS DOUBLE) / " +
        "(sqrt(CAST(qn AS DOUBLE)) * sqrt(CAST(nrm AS DOUBLE))) AS cos " +
        "FROM n CROSS JOIN q WHERE label <> anchor_label), " +
        "ranked AS (SELECT q_id, anchor_label, vec_id, label, cos, " +
        "CAST(row_number() OVER (PARTITION BY q_id " +
        "ORDER BY cos DESC, vec_id) AS BIGINT) AS rank FROM scored) " +
        "SELECT q_id, CAST(anchor_label AS BIGINT) AS anchor_label, " +
        "vec_id AS neg_id, CAST(label AS BIGINT) AS neg_label, cos, rank " +
        "FROM ranked WHERE rank <= 3 ORDER BY q_id, rank"),
    "emb_knn_classify" ->
      (s"WITH f AS (SELECT vec_id, label, $fxSql AS fx FROM embeddings), " +
        s"n AS (SELECT vec_id, label, fx, ${dotSql("fx", "fx")} AS nrm FROM f), " +
        "q AS (SELECT vec_id AS q_id, label AS true_label, fx AS qx, nrm AS qn " +
        "FROM n WHERE vec_id < 100), " +
        "scored AS (SELECT q_id, true_label, vec_id, label, " +
        s"CAST(${dotSql("qx", "fx")} AS DOUBLE) / " +
        "(sqrt(CAST(qn AS DOUBLE)) * sqrt(CAST(nrm AS DOUBLE))) AS cos " +
        "FROM n CROSS JOIN q WHERE vec_id <> q_id), " +
        "topk AS (SELECT * FROM (SELECT q_id, true_label, label, " +
        "row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rank " +
        "FROM scored) WHERE rank <= 10), " +
        "votes AS (SELECT q_id, true_label, label, COUNT(*) AS votes FROM topk " +
        "GROUP BY q_id, true_label, label), " +
        "best AS (SELECT *, row_number() OVER (PARTITION BY q_id " +
        "ORDER BY votes DESC, label) AS rn FROM votes) " +
        "SELECT q_id, CAST(true_label AS BIGINT) AS true_label, " +
        "CAST(label AS BIGINT) AS pred_label, votes, " +
        "label = true_label AS is_correct FROM best WHERE rn = 1 ORDER BY q_id"),
    "sim_bruteforce_topk" -> bruteSql,
    "sim_radius_search" ->
      (s"WITH f AS (SELECT vec_id, $fxSql AS fx FROM embeddings), " +
        s"n AS (SELECT vec_id, fx, ${dotSql("fx", "fx")} AS nrm FROM f), " +
        "q AS (SELECT vec_id AS q_id, fx AS qx, nrm AS qn FROM n " +
        "WHERE vec_id < 10), " +
        "scored AS (SELECT q_id, vec_id, " +
        s"CAST(${dotSql("qx", "fx")} AS DOUBLE) / " +
        "(sqrt(CAST(qn AS DOUBLE)) * sqrt(CAST(nrm AS DOUBLE))) AS cos " +
        "FROM n CROSS JOIN q WHERE vec_id <> q_id) " +
        "SELECT q_id, vec_id, cos FROM scored WHERE cos >= 0.35 " +
        "ORDER BY q_id, vec_id"),
    "sim_rrf_fusion" ->
      (s"WITH f AS (SELECT vec_id, $fxSql AS fx FROM embeddings), " +
        s"n AS (SELECT vec_id, fx, ${dotSql("fx", "fx")} AS nrm FROM f), " +
        "cq AS (SELECT vec_id AS q_id, fx AS qx, nrm AS qn FROM n " +
        "WHERE vec_id < 8), " +
        "cscored AS (SELECT q_id, vec_id, " +
        s"CAST(${dotSql("qx", "fx")} AS DOUBLE) / " +
        "(sqrt(CAST(qn AS DOUBLE)) * sqrt(CAST(nrm AS DOUBLE))) AS cos " +
        "FROM n CROSS JOIN cq WHERE vec_id <> q_id), " +
        "cr AS (SELECT q_id, vec_id, r1 FROM (SELECT q_id, vec_id, " +
        "CAST(row_number() OVER (PARTITION BY q_id " +
        "ORDER BY cos DESC, vec_id) AS BIGINT) AS r1 FROM cscored) " +
        "WHERE r1 <= 10), " +
        "sig AS (SELECT vec_id, " +
        "list_reduce(list_transform(range(32), i -> CASE WHEN " +
        "embedding[i+1] > 0 THEN (CAST(1 AS BIGINT) << i) " +
        "ELSE CAST(0 AS BIGINT) END), (a, b) -> a | b) AS w0, " +
        "list_reduce(list_transform(range(32, 64), i -> CASE WHEN " +
        "embedding[i+1] > 0 THEN (CAST(1 AS BIGINT) << (i - 32)) " +
        "ELSE CAST(0 AS BIGINT) END), (a, b) -> a | b) AS w1 " +
        "FROM embeddings), " +
        "hq AS (SELECT vec_id AS q_id, w0 AS q0, w1 AS q1 FROM sig " +
        "WHERE vec_id < 8), " +
        "hscored AS (SELECT q_id, vec_id, " +
        "CAST(bit_count(xor(w0, q0)) + bit_count(xor(w1, q1)) AS BIGINT) " +
        "AS hamming FROM sig CROSS JOIN hq WHERE vec_id <> q_id), " +
        "hr AS (SELECT q_id, vec_id, r2 FROM (SELECT q_id, vec_id, " +
        "CAST(row_number() OVER (PARTITION BY q_id " +
        "ORDER BY hamming, vec_id) AS BIGINT) AS r2 FROM hscored) " +
        "WHERE r2 <= 10), " +
        "fused AS (SELECT coalesce(cr.q_id, hr.q_id) AS q_id, " +
        "coalesce(cr.vec_id, hr.vec_id) AS vec_id, " +
        "cr.r1 AS cos_rank, hr.r2 AS ham_rank, " +
        "coalesce(1000000 // (60 + cr.r1), 0) + " +
        "coalesce(1000000 // (60 + hr.r2), 0) AS rrf_micro " +
        "FROM cr FULL JOIN hr ON cr.q_id = hr.q_id " +
        "AND cr.vec_id = hr.vec_id), " +
        "rk AS (SELECT *, CAST(row_number() OVER (PARTITION BY q_id " +
        "ORDER BY rrf_micro DESC, vec_id) AS BIGINT) AS fused_rank " +
        "FROM fused) " +
        "SELECT q_id, vec_id, cos_rank, ham_rank, rrf_micro, fused_rank " +
        "FROM rk WHERE fused_rank <= 3 ORDER BY q_id, fused_rank"),
    "sim_recall_at_k" ->
      (s"SELECT iv.q_id, CAST(COUNT(bf.bv) AS BIGINT) AS n_hits, " +
        "CAST(COUNT(bf.bv) AS DOUBLE) / 3.0 AS recall " +
        s"FROM ($ivfSql) iv LEFT JOIN " +
        s"(SELECT q_id AS bq, vec_id AS bv FROM ($bruteSql) WHERE rank <= 3) bf " +
        "ON iv.q_id = bf.bq AND iv.vec_id = bf.bv " +
        "GROUP BY iv.q_id ORDER BY iv.q_id"),
    "dedup_embedding" ->
      (s"WITH f AS (SELECT vec_id, $fxSql AS fx FROM embeddings), " +
        s"n AS (SELECT vec_id, fx, ${dotSql("fx", "fx")} AS nrm FROM f) " +
        "SELECT a.vec_id AS da, b.vec_id AS db, " +
        s"CAST(${dotSql("a.fx", "b.fx")} AS DOUBLE) / " +
        "(sqrt(CAST(a.nrm AS DOUBLE)) * sqrt(CAST(b.nrm AS DOUBLE))) AS cos " +
        "FROM n a JOIN n b ON a.vec_id < b.vec_id " +
        s"WHERE CAST(${dotSql("a.fx", "b.fx")} AS DOUBLE) / " +
        "(sqrt(CAST(a.nrm AS DOUBLE)) * sqrt(CAST(b.nrm AS DOUBLE))) >= 0.4 " +
        "ORDER BY da, db"))
}
