package graft.operators

import graft.{OSQL, SharedIndex, U}
import org.apache.spark.sql.{Column, DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.reflect.runtime.universe.TypeTag

/** Graph analytics over the co-purchase graph (parts linked when they
  * appear in the same order) — the relational-to-graph bridge every
  * warehouse eventually needs, kept exactly oracle-able by doing ALL rank
  * arithmetic in the integer domain:
  *
  *  - `graph_pagerank`: 3 unrolled PageRank iterations with ranks in
  *    integer micro-units; contrib = rank DIV deg and the damping step is
  *    150000 + (85·Σcontrib) DIV 100, so every engine computes the same
  *    integers regardless of aggregation order (no float drift across
  *    iterations — the classic reason distributed PageRank outputs differ).
  *  - `graph_triangles`: triangle count over the SUPPORT-FILTERED graph
  *    (edges co-purchased in >= 2 orders). The raw co-occurrence graph is
  *    near-dense (1.2M undirected edges over 20k parts at sf0.1 — random
  *    single co-occurrences), which makes naive wedge enumeration
  *    quadratic-in-degree (measured 30 s at sf0.1 and diverging at 100 TB);
  *    min-support is the association-graph standard: it drops noise edges
  *    AND bounds the wedge work (3.9k edges survive at sf0.1).
  *
  * Scale shape: the co-occurrence counts are built once per (session,
  * sfDir) — self-join on orderkey, per-order pair dedup, count — persisted,
  * and both queries read it. Every PageRank iteration is one shuffle join +
  * one hash agg on narrow (node, rank) pairs; degrees ride on the edge so
  * the loop never re-joins them. At 100 TB the iteration frame is nodes,
  * not edges — the standard Pregel-style decomposition as plain DataFrames.
  */
object Graphs {

  /** Directed co-occurrence pairs with order-support counts — the shared
    * base of the graph family, a [[graft.SharedIndex]] entry. */
  private val pairIndex = SharedIndex[DataFrame]("coPairs", Seq(
      "graph_assoc_rules", "graph_cc", "graph_degree_dist",
      "graph_degree_gini", "graph_hits", "graph_katz", "graph_knn_degree",
      "graph_ktruss", "graph_mst", "graph_rich_club", "graph_triangles",
      "graph_walk_biased"), Seq(_)) { (s, d) =>
    // per-order part sets, then pairs generated MAP-SIDE: one narrow
    // shuffle groups the 600k lines into ~150k part-set rows; the u<v
    // pair explosion never shuffles (it feeds the support count's
    // partial aggregation, which combines duplicates before the only
    // wide exchange). The earlier self-join formulation shuffled both
    // join sides by orderkey AND the 3.6M pair rows twice more
    // (distinct + count) — ~8M shuffled rows versus ~1.8M here.
    // collect_set makes within-order pairs unique by construction.
    val li = U.tbl(s, d, "lineitem")
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
    val und = li.groupBy(col("ok")).agg(collect_set(col("pk")).as("pks"))
      .select(explode(col("pks")).as("u"), col("pks"))
      .select(col("u"), explode(col("pks")).as("v"))
      .filter(col("u") < col("v"))
      .groupBy(col("u"), col("v")).agg(count(lit(1)).as("support"))
    val df = und.unionByName(
        und.select(col("v").as("u"), col("u").as("v"), col("support")))
      .persist()
    df
  }
  private def coPairs(s: SparkSession, d: String): DataFrame = pairIndex.get(s, d)

  /** Node-count bound for the broadcast-rank PageRank iteration. A rank row
    * is two longs; 1M nodes is a few tens of MB per broadcast — the sane
    * ceiling for shipping the whole rank frame to every executor each
    * round. Past it the co-partitioned shuffle-join path engages: the edge
    * frame is hash-partitioned by `u` ONCE (persisted), and each iteration
    * only exchanges the narrow (node, pr) frame — rank traffic is
    * O(|nodes|/partition), never a full driver-side broadcast build. */
  private[operators] val PrBroadcastNodeCap = 1000000L

  /** Bench warm-up of the PageRank kernel: ONE pass over the shared
    * prepared edge frame, so the iteration plan's whole-stage codegen
    * compiles here (profiled at sf0.1: the first pagerank in a JVM costs
    * 8.1 s vs 3.3 s steady-state; a synthetic-graph warm compiles a
    * DIFFERENT plan: measured run 1 still paid +1.4 s of compile over
    * steady state). The shared frames themselves are warmed through
    * [[graft.SharedIndex]]. */
  private[graft] def warmKernel(s: SparkSession, d: String): Unit = {
    val (pe, psmall) = prFrames(s, d)
    pagerankKernel(pe, psmall, seedMod = None).count()
    graft.U.releaseTracked()
  }

  // the raw order-sequence (u, v) edge frame the graph kernels start from —
  // Round8Spec's driver-side reference checks (degree Gini, Katz) read it
  private[graft] def pagerankEdgeFrame(s: SparkSession, d: String): DataFrame =
    coPairs(s, d).select(col("u"), col("v"))

  private def graphPagerank(s: SparkSession, d: String): DataFrame =
    pagerankImpl(s, d, PrBroadcastNodeCap)

  private[graft] def pagerankImpl(s: SparkSession, d: String,
      broadcastCap: Long): DataFrame =
    if (broadcastCap == PrBroadcastNodeCap) {
      val (e, small) = prFrames(s, d)
      pagerankKernel(e, small, seedMod = None)
    } else
      pagerankOnEdges(coPairs(s, d).select(col("u"), col("v")), broadcastCap)

  /** Shared per-(session, sfDir) PageRank input: the deg-joined persisted
    * edge frame + the broadcast-gate verdict at [[PrBroadcastNodeCap]] —
    * the frames are a pure function of the co-purchase graph, yet the
    * kernel used to rebuild+re-persist them on EVERY call, so each bench
    * run of `graph_pagerank`/`graph_ppr` paid ~2 s of rebuild before the
    * iterations (r12 judge: 4.7 s warm vs the 2.4-2.6 s steady state
    * PrProfile shows once CacheManager dedups the per-call persists).
    * A [[graft.SharedIndex]] entry. */
  private val prIndex = SharedIndex[(DataFrame, Boolean)]("prFrames", Seq(
      "graph_pagerank", "graph_ppr"), t => Seq(t._1)) { (s, d) =>
    val edges = coPairs(s, d).select(col("u"), col("v"))
    val deg = edges.groupBy(col("u").as("du"))
      .agg(count(lit(1)).as("deg")).persist()
    val nNodes = deg.count()
    val small = nNodes <= PrBroadcastNodeCap
    val joined = edges.join(deg, col("u") === col("du"))
      .select(col("u"), col("v"), col("deg"))
    val e = (if (small) joined else joined.repartition(col("u"))).persist()
    e.count()
    deg.unpersist() // folded into e; only e serves the iterations
    (e, small)
  }
  private def prFrames(s: SparkSession, d: String): (DataFrame, Boolean) =
    prIndex.get(s, d)

  /** The iteration kernel over an arbitrary directed (u, v) edge frame —
    * parameterized so tests can drive synthetic graphs through both gate
    * paths at sizes the fixtures don't reach. `seedMod` switches uniform
    * teleport (global PageRank) to a deterministic sparse seed set
    * (personalized PageRank: mass lands only on node ≡ 0 mod seedMod, and
    * unreached nodes — exactly rank 0 — are filtered from the top-50). */
  private[graft] def pagerankOnEdges(edges: DataFrame,
      broadcastCap: Long, seedMod: Option[Long] = None): DataFrame = {
    // deg is one row per source node — it is BOTH the per-edge divisor and
    // the initial rank frame (no separate distinct shuffle over the edges),
    // and its count is the gate's node count
    val deg = U.track(
      edges.groupBy(col("u").as("du")).agg(count(lit(1)).as("deg")).persist())
    // gate action doubles as deg's cache materializer; at 100 TB the node
    // count would come from catalog/file statistics where the graph is a
    // stored table rather than a derived pair frame
    val nNodes = deg.count()
    val small = nNodes <= broadcastCap
    val joined = edges.join(deg, col("u") === col("du"))
      .select(col("u"), col("v"), col("deg"))
    // past the cap, pre-partition the persisted edge frame by the join key
    // so the per-iteration join re-uses its layout (no exchange on the edge
    // side, ever); below it the edge frame is only scanned map-side.
    // NOTE: the INITIAL plan string still shows ENSURE_REQUIREMENTS
    // exchanges above the cached scans — AQE elides them at runtime once
    // the TableCacheQueryStage exposes the cache's hash(u) partitioning
    // (verified: final adaptive plan has the scans directly under their
    // cache stages, zero edge-side exchanges).
    val e = U.track(
      (if (small) joined else joined.repartition(col("u"))).persist())
    pagerankKernel(e, small, seedMod)
  }

  /** The 3-round iteration body over a PREPARED (u, v, deg) edge frame —
    * shared by [[pagerankOnEdges]] (per-call frames, tests/synthetic
    * graphs) and the [[prFrames]] cache path (declared queries). */
  private def pagerankKernel(e: DataFrame, small: Boolean,
      seedMod: Option[Long]): DataFrame = {
    def teleport(node: Column, full: Long): Column = seedMod match {
      case None    => lit(full)
      case Some(m) => when(node % m === 0, lit(full)).otherwise(lit(0L))
    }
    // ROUND 1 FUSED: the initial rank is a constant expression of the
    // source node (uniform 1e6, or the teleport mask for PPR), so the
    // first iteration needs NO rank join and NO broadcast — its
    // contribution is computable per-edge from the deg-carrying frame.
    // One of three join+broadcast rounds disappears in both modes;
    // the produced frame is row-identical to the unfused round 1
    // (groupBy(v) keeps exactly the in-degree>0 nodes either way).
    var ranks = e
      .select(col("v"),
        (teleport(col("u"), 1000000L).cast(LongType))
          .as("pr0"), col("deg"))
      .select(col("v"), expr("pr0 DIV deg").as("c"))
      .groupBy(col("v"))
      .agg(expr("(85 * sum(c)) DIV 100").as("flow"))
      .select(col("v").as("node"),
        (teleport(col("v"), 150000L) + col("flow")).as("pr"))
    for (_ <- 0 until 2) {
      // small graphs: broadcast the rank frame (|nodes| narrow rows) — the
      // join is map-side and the only exchange is the partial-aggregated
      // contribution rollup to |nodes| groups. Large graphs: shuffle-hash
      // join — the rank frame exchanges on `node` into the edge frame's
      // hash(u) layout (co-partitioned, so after the first round the
      // groupBy(v)→join(u) chain reuses partitioning and only the rank
      // rollup exchanges). The hint pins the build side so AQE cannot
      // "helpfully" re-broadcast what the gate just declined to.
      val r = if (small) broadcast(ranks) else ranks.hint("shuffle_hash")
      ranks = e.join(r, col("u") === col("node"))
        .select(col("v"), expr("pr DIV deg").as("c"))
        .groupBy(col("v"))
        .agg(expr("(85 * sum(c)) DIV 100").as("flow"))
        .select(col("v").as("node"),
          (teleport(col("v"), 150000L) + col("flow")).as("pr"))
    }
    val base = if (seedMod.isEmpty) ranks else ranks.filter(col("pr") > 0)
    base.orderBy(col("pr").desc, col("node")).limit(50)
  }

  /** HITS hubs/authorities over the co-purchase graph, 2 mutual-update
    * iterations in exact integer micro-units: each authority score is the
    * sum of incoming hub scores rescaled to max=1e6 by integer division
    * (one 1-row max broadcast per half-step — never a driver-side value),
    * then hubs symmetrically from authorities. Same narrow-rank-frame
    * shape as [[pagerankOnEdges]]: the edge frame is scanned per
    * half-iteration and only (node, score) rows ever shuffle, so the
    * iteration cost is O(|E|) map-side + an O(|V|) rollup regardless of
    * scale. Scores stay within Long: max_deg·1e12 per rescale. */
  private def graphHits(s: SparkSession, d: String): DataFrame =
    hitsImpl(s, d, GraphIterEdgeCap)

  /** Size gate for HITS — the [[eccentricityImpl]] recipe: below
    * [[GraphIterEdgeCap]] the 2-round power iteration runs as one
    * in-memory task with IDENTICAL Long arithmetic (each 1e6 DIV
    * max-rescale truncation preserved), above it the gated
    * broadcast↔shuffle-hash frame loop. The driver loop pays 4
    * max-normalization barriers × per-round scheduling (measured ~4.8 s
    * at sf0.1) on a graph that fits one executor. Round12Spec pins cap=0
    * parity. */
  private[graft] def hitsImpl(s: SparkSession, d: String,
      cap: Long): DataFrame = {
    val e = coPairs(s, d).select(col("u"), col("v"))
    singleTask(e, cap, "node", "h", "a") { g =>
      // id-indexed CSR arrays, not boxed groupBy Maps: the boxed form
      // allocated a Map entry + array per node and hash-looked-up every
      // edge twice per half-step — measured as the bulk of graph_hits'
      // 2.0 s at sf0.1 on the ~1.9M-row co-pair frame. Exact Long sums
      // per node (order-free), max-rescale via the same truncating 1e6
      // division, output = nodes with BOTH an out- and an in-edge,
      // identically to the hub/auth key intersection of the twin.
      val c = g.csr
      val (n, inOff, inAdj, outOff, outAdj) =
        (c.n, c.inOff, c.inAdj, c.outOff, c.outAdj)
      val araw = new Array[Long](n); val auth = new Array[Long](n)
      val hraw = new Array[Long](n); val hub = new Array[Long](n)
      var r = 0
      while (r < 2) {
        var i = 0
        while (i < n) {
          araw(i) =
            if (r == 0) 1000000L * (inOff(i + 1) - inOff(i))
            else {
              var acc = 0L; var p = inOff(i)
              while (p < inOff(i + 1)) { acc += hub(inAdj(p)); p += 1 }
              acc
            }
          i += 1
        }
        // max over in-nodes only — indeg-0 rows hold 0 and a
        // non-negative in-node max dominates them, but an all-zero
        // in-node set must divide by 0 exactly as the Map form did
        var am = Long.MinValue
        i = 0
        while (i < n) {
          if (inOff(i + 1) > inOff(i) && araw(i) > am) am = araw(i)
          i += 1
        }
        i = 0; while (i < n) { auth(i) = araw(i) * 1000000L / am; i += 1 }
        i = 0
        while (i < n) {
          var acc = 0L; var p = outOff(i)
          while (p < outOff(i + 1)) { acc += auth(outAdj(p)); p += 1 }
          hraw(i) = acc
          i += 1
        }
        var hm = Long.MinValue
        i = 0
        while (i < n) {
          if (outOff(i + 1) > outOff(i) && hraw(i) > hm) hm = hraw(i)
          i += 1
        }
        i = 0; while (i < n) { hub(i) = hraw(i) * 1000000L / hm; i += 1 }
        r += 1
      }
      (0 until n).iterator
        .filter(j => c.outDeg(j) > 0 && c.inDeg(j) > 0)
        .map(j => (c.ids(j), hub(j), auth(j)))
    }(hitsOnEdges(e, PrBroadcastNodeCap))
      .orderBy(col("a").desc, col("node")).limit(50)
  }

  /** The HITS kernel over an arbitrary directed (u, v) edge frame, gated
    * like [[pagerankOnEdges]]: below `broadcastCap` nodes the score frames
    * broadcast (map-side edge scan per half-step); above it they
    * shuffle-hash-join into the once-repartitioned persisted edge frame. */
  private[graft] def hitsOnEdges(e0: DataFrame,
      broadcastCap: Long): DataFrame = {
    val e = U.track(e0.persist())
    // Cost notes, measured at sf0.1: (1) each raw score frame is persisted
    // BEFORE its max branches off — the max's broadcast materializes it
    // into cache, so the rescale and the next half-step read one
    // computation (without the persist the per-half-step consumer pair
    // recomputes the whole upstream chain: 25.8 s); (2) below the cap the
    // |V|-row score frames are broadcast explicitly — derived-frame size
    // estimates otherwise push the planner to sort-merge over all |E|
    // rows; above it they shuffle-hash (HITS alternates join keys u/v, so
    // the edge side legitimately exchanges per half-step at that scale);
    // (3) the first authority pass is algebraically 1e6·indegree — a
    // plain count aggregate, no initial rank frame, no distinct over the
    // edges. The remaining wall-clock is the 4 data-dependent
    // max-normalization barriers, inherent to max-norm HITS (deferred
    // normalization overflows Long at adversarial degree bounds).
    var araw = U.track(e.groupBy(col("v"))
      .agg((count(lit(1)) * lit(1000000L)).as("ar")).persist())
    // gate on BOTH node populations: `side` broadcasts hub frames keyed
    // by u as well as authority frames keyed by v, so an asymmetric edge
    // frame (few sinks, many sources) must not pass the gate on the
    // authority count alone (r6 advisor). && short-circuits: at scale the
    // sink count alone exceeds the cap and the distinct-source job never
    // runs — the second count is only paid on graphs small enough for it
    // to be cheap.
    // production decision source: distinct-key statistics from the
    // catalog (NDV sketches) where the edge set is a stored table; on
    // this derived frame the two counts below are the only option, and
    // the first doubles as araw's cache materializer
    val small = araw.count() <= broadcastCap &&
      e.select(col("u")).distinct().count() <= broadcastCap
    def side(df: DataFrame): DataFrame =
      if (small) broadcast(df) else df.hint("shuffle_hash")
    var auth: DataFrame = null
    var hub: DataFrame = null
    for (i <- 0 until 2) {
      if (i > 0)
        araw = U.track(e.join(side(hub.withColumnRenamed("node", "hn")),
            col("u") === col("hn"))
          .groupBy(col("v")).agg(sum(col("h")).as("ar")).persist())
      val amax = araw.agg(max(col("ar")).as("am"))
      auth = araw.crossJoin(broadcast(amax))
        .select(col("v").as("node"), expr("(ar * 1000000) DIV am").as("a"))
      val hraw = U.track(e.join(side(auth.withColumnRenamed("node", "an")),
          col("v") === col("an"))
        .groupBy(col("u")).agg(sum(col("a")).as("hr")).persist())
      val hmax = hraw.agg(max(col("hr")).as("hm"))
      hub = hraw.crossJoin(broadcast(hmax))
        .select(col("u").as("node"), expr("(hr * 1000000) DIV hm").as("h"))
    }
    hub.join(auth, Seq("node"))
      .select(col("node"), col("h"), col("a"))
      .orderBy(col("a").desc, col("node")).limit(50)
  }

  /** Personalized PageRank from a deterministic sparse seed set (node id
    * ≡ 0 mod 97 — the "related items for THESE products" query): the
    * SAME gated kernel as `graph_pagerank` with seed-restricted teleport,
    * so rank concentrates in the seeds' neighborhoods, unreached nodes
    * stay at exactly 0 (and are filtered), and the >1M-node shuffle-hash
    * posture comes for free from the shared gate. */
  private def graphPpr(s: SparkSession, d: String): DataFrame = {
    val (e, small) = prFrames(s, d)
    pagerankKernel(e, small, seedMod = Some(97L))
  }

  private def graphTriangles(s: SparkSession, d: String): DataFrame = {
    val und = U.track(coPairs(s, d)
      .filter(col("u") < col("v") && col("support") >= 2)
      .select(col("u"), col("v")).persist())
    val e1 = und.select(col("u").as("a"), col("v").as("b"))
    val e2 = und.select(col("u").as("b2"), col("v").as("c2"))
    val e3 = und.select(col("u").as("a3"), col("v").as("c3"))
    e1.join(e2, col("b") === col("b2"))
      .join(e3, col("a") === col("a3") && col("c2") === col("c3"))
      .agg(count(lit(1)).as("n_triangles"))
  }

  /** Support-filtered link-analysis frames, cached per (session, sfDir):
    * the mirrored support≥2 adjacency and the (x, y, w) wedge triples
    * (x < y, w a common neighbor). Both `graph_jaccard_nbrs` and
    * `graph_adamic_adar` aggregate the SAME corpus-sized wedge build —
    * plain count vs degree-weighted sum — so it is built and persisted
    * once (a [[graft.SharedIndex]] entry). */
  private val wedgeIndex = SharedIndex[(DataFrame, DataFrame)]("wedgeFrames",
      Seq("graph_adamic_adar", "graph_assortativity", "graph_bfs_hops",
        "graph_closeness_k", "graph_clustcoeff", "graph_community_lp",
        "graph_conductance", "graph_eccentricity", "graph_ego_2hop",
        "graph_jaccard_nbrs", "graph_kcore", "graph_link_predict",
        "graph_modularity"), t => Seq(t._1, t._2)) { (s, d) =>
    val adj = coPairs(s, d).filter(col("support") >= 2)
      .select(col("u"), col("v")).persist() // mirrored: both directions
    val wedges = adj.select(col("u").as("x"), col("v").as("w"))
      .join(adj.select(col("u").as("y"), col("v").as("w")), Seq("w"))
      .filter(col("x") < col("y"))
      .persist()
    (adj, wedges)
  }
  private def wedgeFrames(s: SparkSession, d: String): (DataFrame, DataFrame) =
    wedgeIndex.get(s, d)

  /** Neighborhood Jaccard per association edge (edge embeddedness — the
    * link-prediction/community-strength score): for each support-filtered
    * edge (u,v), |N(u)∩N(v)| / |N(u)∪N(v)| over the same support≥2 graph
    * as `graph_triangles`. Common-neighbor counts come from ONE wedge join
    * through the mirrored adjacency (the triangle enumeration, kept per
    * pair instead of summed), degrees from one hash agg on the cached pair
    * frame; union size is deg(u)+deg(v)−common, so the only double op is
    * the final division of two exact integers — hash-matchable. The
    * support filter bounds the wedge work exactly as in graph_triangles;
    * zero-common edges survive via the left join. */
  private def graphJaccardNbrs(s: SparkSession, d: String): DataFrame = {
    val (adj, wedges) = wedgeFrames(s, d)
    val deg = adj.groupBy(col("u").as("n")).agg(count(lit(1)).as("deg"))
    val common = wedges.groupBy(col("x"), col("y")).agg(count(lit(1)).as("common"))
    adj.filter(col("u") < col("v"))
      .join(common, col("u") === col("x") && col("v") === col("y"), "left_outer")
      .join(deg.select(col("n"), col("deg").as("deg_u")), col("u") === col("n"))
      .drop("n")
      .join(deg.select(col("n"), col("deg").as("deg_v")), col("v") === col("n"))
      .select(col("u"), col("v"),
        coalesce(col("common"), lit(0L)).as("common"),
        (coalesce(col("common"), lit(0L)).cast(DoubleType) /
          (col("deg_u") + col("deg_v") - coalesce(col("common"), lit(0L)))
            .cast(DoubleType)).as("jaccard"))
      .orderBy(col("jaccard").desc, col("u"), col("v"))
  }

  /** Adamic–Adar link score per association edge (the degree-weighted
    * sibling of [[graphJaccardNbrs]]): Σ over common neighbors w of
    * 1/ln(deg(w)) — rare shared neighbors count more than hub neighbors,
    * the standard link-prediction refinement. Per-neighbor weights are
    * floored to integer MICRO-UNITS before the per-edge sum (the
    * micro-nat discipline), so the score is partial-aggregation-order-free
    * and hash-matches SQL; a common neighbor always has degree ≥ 2 (edges
    * to both endpoints), so ln(deg) never hits zero. Same bounded wedge
    * join as the Jaccard query, plus one broadcast-sized weight join. */
  private def graphAdamicAdar(s: SparkSession, d: String): DataFrame = {
    val (adj, wedges) = wedgeFrames(s, d)
    // a common neighbor always has degree >= 2, so dropping degree-1 nodes
    // here is a semantic no-op — it exists to keep ln(deg) away from zero
    // (ANSI mode evaluates the division for every node, reachable or not)
    val degW = adj.groupBy(col("u").as("w")).agg(count(lit(1)).as("deg"))
      .filter(col("deg") >= 2)
      .select(col("w"),
        floor(lit(1000000.0) / log(col("deg").cast(DoubleType)))
          .cast(LongType).as("aa_micro"))
    val scores = wedges.join(degW, Seq("w"))
      .groupBy(col("x"), col("y"))
      .agg(count(lit(1)).as("common"), sum(col("aa_micro")).as("aa_sum"))
    adj.filter(col("u") < col("v"))
      .join(scores, col("u") === col("x") && col("v") === col("y"), "left_outer")
      .select(col("u"), col("v"),
        coalesce(col("common"), lit(0L)).as("common"),
        (coalesce(col("aa_sum"), lit(0L)).cast(DoubleType) / lit(1000000.0))
          .as("adamic_adar"))
      .orderBy(col("adamic_adar").desc, col("u"), col("v"))
  }

  /** The remaining classic link-prediction scores per association edge,
    * completing the [[graphJaccardNbrs]]/[[graphAdamicAdar]] family in one
    * pass over the same cached wedge frames: common-neighbor count,
    * preferential attachment deg(u)·deg(v) (both pure integers), and
    * resource allocation Σ_w 1/deg(w) — whose per-neighbor weight is the
    * exact integer 1000000 DIV deg(w) (integer floor division needs no
    * micro-nat float detour at all), so the per-edge sum is
    * partial-aggregation-order-free. Same bounded wedge join + broadcast
    * weight join as the siblings; scales identically. */
  private def graphLinkPredict(s: SparkSession, d: String): DataFrame = {
    val (adj, wedges) = wedgeFrames(s, d)
    val deg = adj.groupBy(col("u").as("n")).agg(count(lit(1)).as("deg"))
    val raW = deg.select(col("n").as("w"),
      expr("CAST(1000000 AS BIGINT) DIV deg").as("ra_micro"))
    val scores = wedges.join(raW, Seq("w"))
      .groupBy(col("x"), col("y"))
      .agg(count(lit(1)).as("common"), sum(col("ra_micro")).as("ra_sum"))
    adj.filter(col("u") < col("v"))
      .join(scores, col("u") === col("x") && col("v") === col("y"), "left_outer")
      .join(deg.select(col("n"), col("deg").as("deg_u")), col("u") === col("n"))
      .drop("n")
      .join(deg.select(col("n"), col("deg").as("deg_v")), col("v") === col("n"))
      .select(col("u"), col("v"),
        coalesce(col("common"), lit(0L)).as("common"),
        (col("deg_u") * col("deg_v")).as("pref_attach"),
        (coalesce(col("ra_sum"), lit(0L)).cast(DoubleType) / lit(1000000.0))
          .as("resource_alloc"))
      .orderBy(col("resource_alloc").desc, col("u"), col("v"))
  }

  /** Friend-of-friend reach: the distinct 2-hop neighborhood size per node
    * (excluding the node itself and its direct neighbors) and its
    * expansion ratio over the 1-hop degree — the audience-expansion
    * question recommenders ask before a 2-hop traversal is worth its
    * cost. Uses the same support-filtered mirrored adjacency and bounded
    * wedge join as the triangle family; the (x, w) distinct and the
    * direct-edge anti-join both key on pairs already co-partitioned by
    * the join. Expansion ratio as exact integral micro division. */
  private def graphEgo2hop(s: SparkSession, d: String): DataFrame = {
    val (adj, _) = wedgeFrames(s, d)
    val deg = adj.groupBy(col("u").as("n")).agg(count(lit(1)).as("deg"))
    val twoHop = adj.select(col("u").as("x"), col("v").as("m"))
      .join(adj.select(col("u").as("m"), col("v").as("w")), Seq("m"))
      .filter(col("w") =!= col("x"))
      .select(col("x"), col("w")).distinct()
      .join(adj.select(col("u").as("x"), col("v").as("w")),
        Seq("x", "w"), "left_anti")
    twoHop.groupBy(col("x").as("node")).agg(count(lit(1)).as("n_2hop"))
      .join(deg, col("node") === col("n"))
      .select(col("node"), col("deg").as("n_1hop"), col("n_2hop"),
        expr("(1000000 * n_2hop) DIV deg").as("expansion_micro"))
      .orderBy("node")
  }

  /** 2-core of the support-filtered association graph (the density-peeling
    * step community mining runs before anything else — strip every
    * tree-like appendage, keep only nodes on cycles): iteratively discard
    * nodes with fewer than 2 qualifying neighbors, report the surviving
    * core's induced-degree histogram. The loop runs the monotone KEEP-SET
    * form — k(i+1) = { u : |N(u) ∩ k(i)| >= 2 } — which references k(i)
    * exactly once per round, so 8 unrolled rounds grow the plan linearly
    * (the naive peel re-reads the shrinking EDGE frame three times per
    * round: exponential lineage). k is monotone decreasing with the 2-core
    * as its fixpoint, and both engines unroll the SAME 8 rounds, so the
    * outputs agree whether or not the peel has converged by round 8. Per
    * round: one semi-join against the cached adjacency + one hash agg on
    * the (shrinking) node set — at 100 TB each round is a bounded shuffle
    * over survivors only. */
  private def graphKcore(s: SparkSession, d: String): DataFrame =
    kcoreImpl(s, d, GraphIterEdgeCap)

  private[graft] def kcoreImpl(s: SparkSession, d: String, cap: Long): DataFrame =
    kcoreOnAdj(wedgeFrames(s, d)._1, cap)

  /** Edge-count gate for the single-task graph-iteration kernels (k-core
    * peel, bounded BFS). The support-filtered association graph is orders
    * of magnitude smaller than the corpus, and 8 peel rounds as DataFrame
    * stages are ~16 SEQUENTIAL shuffle stages of pure scheduling latency
    * on a graph that fits one task (measured 5.8 s → sub-second at sf0.1,
    * the DsuEdgeCap lesson replayed). Past the cap the declared queries
    * run the distributed loops unchanged — same outputs, shuffle-scale
    * plans. */
  private[operators] val GraphIterEdgeCap = 5000000L

  /** The one single-task runner behind every [[GraphIterEdgeCap]]-gated
    * kernel. It owns the gate: one `count()` of the (u, v) frame `e`
    * against `cap` (production decision source at 100 TB: catalog/file
    * row statistics when the edge set is a stored table; the frames here
    * are derived, so the count doubles as their cache materializer). At
    * or below the cap the pairs are collapsed into ONE task, decoded once
    * into primitive arrays and handed to `body`, whose rows are named
    * `cols`; above it the result is `twin`, the kernel's distributed
    * loop, which must compute the same rows. The single-task frame stays
    * lazy — Dataset `mapPartitions`, never `.rdd`, which under AQE can run
    * upstream shuffle stages while the frame is being built — so the
    * gate's count is the only job building it starts. */
  private[graft] def singleTask[T <: Product : TypeTag](e: DataFrame,
      cap: Long, cols: String*)(body: Edges => Iterator[T])(
      twin: => DataFrame): DataFrame =
    if (e.count() <= cap)
      e.select(col("u"), col("v"))
        .as(Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong))
        .coalesce(1)
        .mapPartitions(it => body(Edges(it)))(Encoders.product[T])
        .toDF(cols: _*)
    else twin

  /** One task's decoded edge list: edge i runs u(i) → v(i), input order
    * and duplicates kept. */
  private[graft] final class Edges(val u: Array[Long], val v: Array[Long]) {
    lazy val csr: Csr = Csr(u, v)
  }
  private object Edges {
    def apply(it: Iterator[(Long, Long)]): Edges = {
      val u = new scala.collection.mutable.ArrayBuilder.ofLong
      val v = new scala.collection.mutable.ArrayBuilder.ofLong
      it.foreach { p => u += p._1; v += p._2 }
      new Edges(u.result(), v.result())
    }
  }

  /** Compressed sparse rows over one task's edges. Nodes are renumbered
    * 0 until n in ascending id order (`ids(j)` is node j's id) and every
    * out-/in-adjacency segment is sorted, so it lists its neighbors in
    * node-id order: the order the merge counts intersect in and the walk
    * oracles rank neighbors by. Duplicate edges stay repeated entries.
    * The in-adjacency is built on first use: only HITS and the
    * closed-wedge count read it. */
  private[graft] final class Csr(val ids: Array[Long], eu: Array[Int],
      ev: Array[Int]) {
    val (outOff, outAdj) = Csr.segments(eu, ev, ids.length)
    lazy val (inOff, inAdj) = Csr.segments(ev, eu, ids.length)
    def n: Int = ids.length
    def outDeg(j: Int): Int = outOff(j + 1) - outOff(j)
    def inDeg(j: Int): Int = inOff(j + 1) - inOff(j)
    def hasEdge(a: Int, b: Int): Boolean =
      java.util.Arrays.binarySearch(outAdj, outOff(a), outOff(a + 1), b) >= 0

    /** Nodes with an out-edge, ascending id: the seed pool of the BFS
      * kernels, whose distributed twins draw seeds from the distinct `u`
      * (a node that is only ever a target never seeds). */
    def sources: Iterator[Int] = (0 until n).iterator.filter(outDeg(_) > 0)

    /** Out-edge hop distance from `src` to every node, -1 where it is not
      * reached within `maxHops`. */
    def hops(src: Int, maxHops: Int): Array[Int] = {
      val dist = Array.fill(n)(-1)
      val queue = new Array[Int](n)
      dist(src) = 0; queue(0) = src
      var head = 0; var tail = 1
      while (head < tail && dist(queue(head)) < maxHops) {
        val x = queue(head); head += 1
        var p = outOff(x)
        while (p < outOff(x + 1)) {
          val y = outAdj(p)
          if (dist(y) < 0) { dist(y) = dist(x) + 1; queue(tail) = y; tail += 1 }
          p += 1
        }
      }
      dist
    }
  }
  private object Csr {
    def apply(u: Array[Long], v: Array[Long]): Csr = {
      val m = u.length
      val idx = scala.collection.mutable.LongMap.empty[Int]
      val eu = new Array[Int](m); val ev = new Array[Int](m)
      var i = 0
      while (i < m) {
        eu(i) = idx.getOrElseUpdate(u(i), idx.size)
        ev(i) = idx.getOrElseUpdate(v(i), idx.size)
        i += 1
      }
      // renumber from first-seen to ascending id order
      val seen = new Array[Long](idx.size)
      idx.foreach { case (id, j) => seen(j) = id }
      val ids = seen.sorted
      val rank = seen.map(java.util.Arrays.binarySearch(ids, _))
      i = 0; while (i < m) { eu(i) = rank(eu(i)); ev(i) = rank(ev(i)); i += 1 }
      new Csr(ids, eu, ev)
    }

    /** Offsets and sorted segments: segment k lists `to(i)` of every edge
      * i with `from(i) == k`. */
    def segments(from: Array[Int], to: Array[Int],
        n: Int): (Array[Int], Array[Int]) = {
      val off = new Array[Int](n + 1)
      var i = 0
      while (i < from.length) { off(from(i) + 1) += 1; i += 1 }
      i = 0; while (i < n) { off(i + 1) += off(i); i += 1 }
      val adj = new Array[Int](from.length)
      val p = off.clone()
      i = 0
      while (i < from.length) { adj(p(from(i))) = to(i); p(from(i)) += 1; i += 1 }
      i = 0
      while (i < n) { java.util.Arrays.sort(adj, off(i), off(i + 1)); i += 1 }
      (off, adj)
    }
  }

  /** Per-node degree inside the 2-core, as its histogram: below the cap
    * the identical 8 keep-set rounds in one task, mirroring
    * [[kcoreDegreesLoop]] round-for-round so gate dispatch cannot change
    * the answer. */
  private[graft] def kcoreOnAdj(adj: DataFrame, cap: Long): DataFrame =
    singleTask(adj, cap, "u", "degree") { g =>
      val (us, vs) = (g.u, g.v)
      var keep: scala.collection.Set[Long] = us.toSet
      for (_ <- 0 until 8) {
        val cnt = scala.collection.mutable.Map.empty[Long, Int]
        for (i <- us.indices if keep(vs(i)))
          cnt.update(us(i), cnt.getOrElse(us(i), 0) + 1)
        keep = cnt.collect { case (u, c) if c >= 2 => u }.toSet
      }
      val deg = scala.collection.mutable.Map.empty[Long, Long]
      for (i <- us.indices if keep(us(i)) && keep(vs(i)))
        deg.update(us(i), deg.getOrElse(us(i), 0L) + 1L)
      deg.iterator
    }(kcoreDegreesLoop(adj))
      .groupBy(col("degree")).agg(count(lit(1)).as("n_nodes"))
      .orderBy("degree")

  /** The distributed peel — one semi-join + one agg per round against the
    * cached adjacency, keep-set referenced once per round (linear lineage). */
  private def kcoreDegreesLoop(adj: DataFrame): DataFrame = {
    var keep = adj.select(col("u")).distinct()
    for (_ <- 0 until 8) {
      keep = adj
        .join(keep.select(col("u").as("kn")), col("v") === col("kn"), "left_semi")
        .groupBy(col("u")).agg(count(lit(1)).as("kdeg"))
        .filter(col("kdeg") >= 2)
        .select(col("u"))
    }
    adj.join(keep.select(col("u").as("cu")), col("u") === col("cu"), "left_semi")
      .join(keep.select(col("u").as("cv")), col("v") === col("cv"), "left_semi")
      .groupBy(col("u")).agg(count(lit(1)).as("degree"))
  }

  /** Bounded BFS hop distance from the minimum-id node of the association
    * graph (the reachability probe behind "how far is everything from this
    * hub"): frontier expansion for 3 rounds, then min-hop per reached node.
    * Size-gated like [[kcoreOnAdj]]: below [[GraphIterEdgeCap]] the whole
    * walk runs in one task; above it each (tiny) frontier broadcasts into
    * the cached adjacency — map-side semi-join, the edge frame never
    * re-shuffles. Unrolled identically both engines (and both paths), so
    * hop assignments are exactly comparable. */
  private def graphBfsHops(s: SparkSession, d: String): DataFrame =
    bfsImpl(s, d, GraphIterEdgeCap)

  private[graft] def bfsImpl(s: SparkSession, d: String, cap: Long): DataFrame =
    bfsOnAdj(wedgeFrames(s, d)._1, cap)

  private[graft] def bfsOnAdj(adj: DataFrame, cap: Long,
      frontierBcastCap: Long = PrBroadcastNodeCap): DataFrame =
    singleTask(adj, cap, "node", "hops") { g =>
      val c = g.csr
      // the source is the twin's min(u): the lowest id with an out-edge
      c.sources.take(1).flatMap { src =>
        val h = c.hops(src, 3)
        (0 until c.n).iterator.filter(h(_) >= 0)
          .map(j => (c.ids(j), h(j).toLong))
      }
    }(bfsLoop(adj, frontierBcastCap))
      .orderBy("hops", "node")

  /** Truncated harmonic centrality from the 5 lowest-id seed nodes (the
    * "which products sit closest to THESE anchors" query): simultaneous
    * 3-hop BFS for all seeds over the support≥2 adjacency — each round is
    * one semi-join-shaped frontier expansion keyed (seed, node), with a
    * left-anti against the reached set so every node keeps its FIRST
    * (minimal) distance, each round persisted before reuse (the HITS
    * lesson: two consumers of an unpersisted iterative frame recompute
    * the whole chain). Scores are exact: 1e6 DIV dist per (seed, node)
    * with dist ∈ {1,2,3}, summed as integers. Frontiers are up to
    * 5·|V| narrow (seed, node) rows — the [[PrBroadcastNodeCap]] gate
    * (measured once on the adjacency's source-node count) broadcasts
    * them below the cap and pins a shuffle-hash join above it, exactly
    * like [[pagerankOnEdges]]; StressSpec drives both paths. */
  private def graphClosenessK(s: SparkSession, d: String): DataFrame =
    closenessImpl(s, d, GraphIterEdgeCap)

  /** Size gate for the 3-hop closeness walk — the [[eccentricityImpl]]
    * recipe: below [[GraphIterEdgeCap]] the whole bounded BFS runs as one
    * in-memory task (the 3-round driver loop paid ~5 s of per-round
    * persist/count scheduling at sf0.1 for a graph that fits one
    * executor); above, the gated-frontier loop. Round12Spec pins cap=0
    * parity. */
  private[graft] def closenessImpl(s: SparkSession, d: String,
      cap: Long): DataFrame =
    closenessOn(wedgeFrames(s, d)._1, cap)

  private[graft] def closenessOn(adj: DataFrame, cap: Long): DataFrame =
    singleTask(adj, cap, "node", "n_seeds", "harmonic_micro") { g =>
      val c = g.csr
      val nSeeds = new Array[Long](c.n); val hsum = new Array[Long](c.n)
      c.sources.take(5).foreach { seed =>
        val h = c.hops(seed, 3)
        var j = 0
        while (j < c.n) {
          if (h(j) > 0) { nSeeds(j) += 1; hsum(j) += 1000000L / h(j) }
          j += 1
        }
      }
      (0 until c.n).iterator.filter(nSeeds(_) > 0)
        .map(j => (c.ids(j), nSeeds(j), hsum(j)))
    }(closenessOnAdj(adj, PrBroadcastNodeCap))
      .orderBy(col("harmonic_micro").desc, col("node")).limit(50)

  private[graft] def closenessOnAdj(adj: DataFrame,
      broadcastCap: Long): DataFrame = {
    // one count on the (persisted, shared) adjacency picks the posture
    // for every frontier/reached join below; the frontier is ≤ 5·|V|
    // (seed, node) rows, so the gate compares against the node count
    // production decision source: catalog NDV statistics for stored edge
    // tables; one distinct-count job on the derived adjacency otherwise
    val small = adj.select(col("u")).distinct().count() <= broadcastCap
    def gate(f: DataFrame): DataFrame =
      if (small) broadcast(f) else f.hint("shuffle_hash")
    val seeds = adj.select(col("u").as("seed")).distinct()
      .orderBy("seed").limit(5)
    var reached = U.track(seeds
      .select(col("seed"), col("seed").as("n"), lit(0L).as("dist"))
      .persist())
    var frontier = reached
    for (h <- 1 to 3) {
      val next = adj
        .join(gate(frontier.select(col("seed"), col("n").as("u"))),
          Seq("u"))
        .select(col("seed"), col("v").as("n")).distinct()
        .join(gate(reached.select(col("seed"), col("n"))), Seq("seed", "n"),
          "left_anti")
        .withColumn("dist", lit(h.toLong))
      val np = U.track(next.persist())
      np.count() // materialize before the reached union reads it twice
      reached = U.track(reached.unionByName(np).persist())
      frontier = np
    }
    reached.filter(col("dist") > 0)
      .withColumn("contrib_micro", expr("1000000 DIV dist"))
      .groupBy(col("n").as("node"))
      .agg(count(lit(1)).as("n_seeds"),
        sum(col("contrib_micro")).as("harmonic_micro"))
      .orderBy(col("harmonic_micro").desc, col("node")).limit(50)
  }

  private[graft] def bfsLoop(adj: DataFrame,
      frontierBcastCap: Long = PrBroadcastNodeCap): DataFrame = {
    // HAVING-style guard: an empty graph yields zero rows (not a NULL
    // source), matching the kernel and the oracle's HAVING COUNT(*) > 0
    val src = adj.agg(min(col("u")).as("n"), count(lit(1)).as("ne"))
      .filter(col("ne") > 0).select(col("n"))
    // the frontier is bounded by |V| (3-hop reachable set of one seed) —
    // gate once on the node count, like [[closenessOnAdj]]: broadcast
    // frontiers below the cap, shuffle-hash semi-joins above it
    val small = adj.select(col("u")).distinct().count() <= frontierBcastCap
    def gate(f: DataFrame): DataFrame =
      if (small) broadcast(f) else f.hint("shuffle_hash")
    def nbrs(fr: DataFrame): DataFrame =
      adj.join(gate(fr.select(col("n").as("fn"))),
          col("u") === col("fn"), "left_semi")
        .select(col("v").as("n")).distinct()
    val h1 = nbrs(src); val h2 = nbrs(h1); val h3 = nbrs(h2)
    src.withColumn("hops", lit(0L))
      .unionByName(h1.withColumn("hops", lit(1L)))
      .unionByName(h2.withColumn("hops", lit(2L)))
      .unionByName(h3.withColumn("hops", lit(3L)))
      .groupBy(col("n").as("node")).agg(min(col("hops")).as("hops"))
  }

  /** Local clustering coefficient per node of the support-filtered
    * association graph (how close each node's neighborhood is to a clique —
    * the per-node refinement of `graph_triangles`): for node n with degree
    * d ≥ 2, cc(n) = 2·tri(n) / (d·(d−1)), where tri(n) = number of edges
    * between n's neighbors = number of CLOSED wedges centered at n. The
    * closed-wedge count is one left-semi join of the cached (x, y, w) wedge
    * frame against the u<v edge set — no new wedge build, and the only
    * double op is the final division of two exact integers. Degree-1 nodes
    * are filtered BEFORE the division (the ANSI-mode lesson from
    * [[graphAdamicAdar]]). */
  private def graphClustCoeff(s: SparkSession, d: String): DataFrame = {
    val (adj, wedges) = wedgeFrames(s, d)
    val edges = adj.filter(col("u") < col("v"))
    val closed = wedges
      .join(edges.select(col("u").as("x"), col("v").as("y")),
        Seq("x", "y"), "left_semi")
      .groupBy(col("w").as("node")).agg(count(lit(1)).as("n_tri"))
    val deg = adj.groupBy(col("u").as("node")).agg(count(lit(1)).as("degree"))
    deg.filter(col("degree") >= 2)
      .join(closed, Seq("node"), "left_outer")
      .select(col("node"), col("degree"),
        coalesce(col("n_tri"), lit(0L)).as("n_tri"),
        ((coalesce(col("n_tri"), lit(0L)) * 2).cast(DoubleType) /
          (col("degree") * (col("degree") - 1)).cast(DoubleType))
          .as("clust_coeff"))
      .orderBy(col("clust_coeff").desc, col("node"))
  }

  /** Association rules over the co-purchase baskets (the market-basket
    * mining classic): for each support≥2 directed pair u→v,
    * confidence = P(v | u) and lift = P(u,v) / (P(u)·P(v)), both floored to
    * integer MICRO-UNITS so partial-aggregation order cannot perturb them.
    * Antecedent/consequent counts are one hash agg over the distinct
    * (order, part) frame; the order total rides in as a broadcast scalar
    * frame (never a driver-side collect). At 100 TB the pair frame is the
    * support-filtered association set — orders of magnitude smaller than
    * the baskets — and the numerators stay within int64 for any support
    * below ~9·10^12·(cnt_u·cnt_v)/N; past that the same query runs in
    * DECIMAL(38,0). */
  private def graphAssocRules(s: SparkSession, d: String): DataFrame = {
    val ords = U.tbl(s, d, "lineitem")
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .distinct()
    val pc = ords.groupBy(col("pk")).agg(count(lit(1)).as("cnt"))
    val n = ords.select(col("ok")).distinct()
      .agg(count(lit(1)).as("n_orders"))
    coPairs(s, d).filter(col("support") >= 2)
      .join(pc.select(col("pk").as("u"), col("cnt").as("cnt_u")), Seq("u"))
      .join(pc.select(col("pk").as("v"), col("cnt").as("cnt_v")), Seq("v"))
      .crossJoin(broadcast(n))
      .select(col("u"), col("v"), col("support"), col("cnt_u"), col("cnt_v"),
        expr("(1000000 * support) DIV cnt_u").as("conf_micro"),
        expr("(1000000 * support * n_orders) DIV (cnt_u * cnt_v)")
          .as("lift_micro"))
      .orderBy(col("conf_micro").desc, col("lift_micro").desc,
        col("u"), col("v"))
  }

  /** Maximum-support spanning forest by two unrolled BORŮVKA rounds over
    * the support≥2 association graph (the backbone-extraction step of
    * association mining — keep the strongest tree of co-purchase links):
    * round 1, every node picks its best incident edge by the total order
    * (support DESC, a, b) — min(struct) keeps the pick one hash agg, no
    * sort; the picked edge set is a forest, labeled through the shared
    * size-gated [[Components.labels]] kernel; round 2, every COMPONENT
    * picks its best outgoing edge the same way (the contraction step —
    * label join + hash agg, edges never re-shuffle by anything wider than
    * their endpoints). Two rounds of a deterministic Borůvka are
    * themselves deterministic, so the whole forest carries an exact
    * recursive-CTE oracle. At 100 TB each round is O(|E|) map-side struct
    * comparisons + one |V|-group agg — the textbook distributed-MST
    * decomposition. */
  private def graphMst(s: SparkSession, d: String): DataFrame = {
    val und = coPairs(s, d).filter(col("u") < col("v") && col("support") >= 2)
      .select(col("u"), col("v"), col("support"))
    // per-node candidates, edge normalized as (a, b); ws = -support makes
    // min(struct) = (max support, then smallest endpoint pair)
    val cand = und.select(col("u").as("x"), col("u").as("a"), col("v").as("b"),
        col("support"))
      .unionByName(und.select(col("v").as("x"), col("u").as("a"),
        col("v").as("b"), col("support")))
      .withColumn("k", struct((-col("support")).as("ws"), col("a"), col("b")))
    // e1 has THREE consumers (the mirrored components build reads it
    // twice, the final union once) — persist, or the per-node groupBy
    // over 2|E| candidate rows recomputes per consumer
    val e1 = U.track(cand.groupBy(col("x")).agg(min(col("k")).as("k"))
      .select(col("k.a").as("u"), col("k.b").as("v"),
        (-col("k.ws")).as("support"))
      .distinct().persist())
    val lbl = Components.labels(e1.select(col("u"), col("v")).unionByName(
      e1.select(col("v").as("u"), col("u").as("v"))))
    val withC = und
      .join(lbl.select(col("node").as("u"), col("component").as("cu")), Seq("u"))
      .join(lbl.select(col("node").as("v"), col("component").as("cv")), Seq("v"))
      .filter(col("cu") =!= col("cv"))
    val cand2 = withC.select(col("cu").as("c"), col("u").as("a"),
        col("v").as("b"), col("support"))
      .unionByName(withC.select(col("cv").as("c"), col("u").as("a"),
        col("v").as("b"), col("support")))
      .withColumn("k", struct((-col("support")).as("ws"), col("a"), col("b")))
    val e2 = cand2.groupBy(col("c")).agg(min(col("k")).as("k"))
      .select(col("k.a").as("u"), col("k.b").as("v"),
        (-col("k.ws")).as("support"))
      .distinct()
    e1.withColumn("round", lit(1L))
      .unionByName(e2.withColumn("round", lit(2L)))
      .orderBy("u", "v")
  }

  /** Community detection by synchronous LABEL PROPAGATION over the
    * support≥2 association graph (the near-linear community baseline —
    * what you run before anything spectral): every node starts as its own
    * label; each of 3 unrolled rounds re-labels a node with its
    * neighbors' MODAL label, ties to the smallest label — the
    * deterministic variant, so the full community histogram carries an
    * exact oracle (async/random LPA does not). Per round: one join of the
    * cached adjacency against the (node, label) frame + a two-level hash
    * agg with the pick as min(struct(-count, label)) — no sort, no
    * window. At 100 TB each round exchanges the narrow label frame only;
    * the adjacency is partitioned once (the PageRank co-partitioning
    * posture). */
  /** The 3-round deterministic LPA labeling (node, lbl) — one definition
    * shared by `graph_community_lp` (its size rollup) and
    * `graph_modularity` (its partition-quality score), so the two cannot
    * drift. */
  private[operators] def lpaLabels(s: SparkSession, d: String): DataFrame = {
    val (adj, _) = wedgeFrames(s, d)
    var lbl = adj.select(col("u").as("node")).distinct()
      .withColumn("lbl", col("node"))
    for (_ <- 0 until 3) {
      lbl = adj
        .join(lbl.select(col("node").as("v"), col("lbl")), Seq("v"))
        .groupBy(col("u"), col("lbl")).agg(count(lit(1)).as("c"))
        .withColumn("k", struct((-col("c")).as("nc"), col("lbl")))
        .groupBy(col("u")).agg(min(col("k")).as("k"))
        .select(col("u").as("node"), col("k.lbl").as("lbl"))
    }
    lbl
  }

  private def graphCommunityLp(s: SparkSession, d: String): DataFrame =
    lpaLabels(s, d)
      .groupBy(col("lbl").as("community")).agg(count(lit(1)).as("n_nodes"))
      .orderBy(col("n_nodes").desc, col("community"))

  /** Newman modularity Q of the LPA partition (the one scalar that says
    * whether the detected communities are better than chance): over the
    * mirrored support≥2 adjacency, Q = Σ_c (e_c/M − (d_c/M)²) with M the
    * directed edge count, e_c the directed intra-community edge count and
    * d_c the community degree sum — all exact integers off the shared
    * label frame. The label joins carry the [[PrBroadcastNodeCap]] gate
    * (labels are one row per NODE — broadcast below the cap, shuffle-hash
    * above, like every rank frame here). Each community's term is floored
    * to integer PICO-units before the final sum — a raw double Σ over
    * hundreds of communities would be partial-aggregation-order
    * dependent — so the headline Q is one exact integer divided once. */
  private def graphModularity(s: SparkSession, d: String): DataFrame = {
    val (adj, _) = wedgeFrames(s, d)
    val lab = U.track(lpaLabels(s, d).persist())
    val side: DataFrame => DataFrame =
      if (lab.count() <= PrBroadcastNodeCap) broadcast
      else _.hint("shuffle_hash")
    val mrow = adj.agg(count(lit(1)).as("m"))
    val joined = adj
      .join(side(lab.select(col("node").as("u"), col("lbl").as("cu"))),
        Seq("u"))
      .join(side(lab.select(col("node").as("v"), col("lbl").as("cv"))),
        Seq("v"))
    val comm = joined.groupBy(col("cu").as("community"))
      .agg(count(lit(1)).as("deg_sum"),
        sum(when(col("cu") === col("cv"), 1L).otherwise(0L)).as("intra_dir"))
    comm.crossJoin(broadcast(mrow))
      .withColumn("term_pico",
        floor(lit(1000000000000L) *
          (col("intra_dir").cast(DoubleType) / col("m") -
            (col("deg_sum").cast(DoubleType) / col("m")) *
            (col("deg_sum").cast(DoubleType) / col("m")))).cast(LongType))
      .agg(count(lit(1)).as("n_communities"),
        max(col("m")).as("n_edges_dir"),
        sum(col("term_pico")).as("q_pico"))
      .withColumn("modularity",
        col("q_pico").cast(DoubleType) / lit(1000000000000.0))
  }

  /** Degree assortativity of the support≥2 association graph (do hubs
    * link to hubs? — the single scalar that separates social-style from
    * technological-style topologies): Pearson correlation of the endpoint
    * degrees over all mirrored edges, through the shared
    * [[U.covPowerSums]] tree on exact integer degrees. One degree agg +
    * two broadcast-scale joins + one power-sum rollup — O(|E|) at any
    * scale. */
  private def graphAssortativity(s: SparkSession, d: String): DataFrame = {
    val dec = DecimalType(38, 0)
    val (adj, _) = wedgeFrames(s, d)
    val deg = adj.groupBy(col("u").as("n")).agg(count(lit(1)).as("deg"))
    adj.join(deg.select(col("n").as("u"), col("deg").as("du")), Seq("u"))
      .join(deg.select(col("n").as("v"), col("deg").as("dv")), Seq("v"))
      .agg(count(lit(1)).cast(DoubleType).as("nd"),
        sum(col("du")).cast(DoubleType).as("sx"),
        sum(col("dv")).cast(DoubleType).as("sy"),
        sum(col("du").cast(dec) * col("du").cast(dec)).cast(DoubleType).as("sxx"),
        sum(col("dv").cast(dec) * col("dv").cast(dec)).cast(DoubleType).as("syy"),
        sum(col("du").cast(dec) * col("dv").cast(dec)).cast(DoubleType).as("sxy"))
      .select(col("nd").cast(LongType).as("n_edges"),
        (U.covPowerSums(col("sxy"), col("sx"), col("sy"), col("nd")) /
          (sqrt(U.covPowerSums(col("sxx"), col("sx"), col("sx"), col("nd"))) *
            sqrt(U.covPowerSums(col("syy"), col("sy"), col("sy"), col("nd")))))
          .as("assortativity"))
  }

  /** Degree distribution of the co-purchase graph — the first profile
    * anyone pulls on a new graph (is it scale-free? how dense?). One hash
    * agg over the cached pair frame, then a count-of-counts. */
  private def graphDegreeDist(s: SparkSession, d: String): DataFrame =
    coPairs(s, d)
      .groupBy(col("u")).agg(count(lit(1)).as("degree"))
      .groupBy(col("degree")).agg(count(lit(1)).as("n_nodes"))
      .orderBy("degree")

  /** Connected components of the SUPPORT-FILTERED co-purchase graph
    * (edges with >= 2 co-purchasing orders, the same association graph as
    * `graph_triangles`): (component, size) histogram, component id = min
    * part id. The support filter leaves a small verified edge set (3.9k at
    * sf0.1), so the one-task DSU kernel ([[Components.dsuLabels]]) is the
    * right physical plan; past [[Components.DsuEdgeCap]] the iterative
    * min-label propagation computes the identical labeling — the dispatch
    * is [[Components.labels]], shared with `dedup_clusters`.
    * Both are deterministic => recursive-CTE oracle. */
  private def graphCc(s: SparkSession, d: String): DataFrame = {
    // coPairs is mirrored (both directions) — duplicate edges are harmless
    // to the labeling (same unions/minima), so no u<v refilter needed.
    val e = coPairs(s, d).filter(col("support") >= 2)
      .select(col("u"), col("v"))
    Components.labels(e)
      .groupBy(col("component"))
      .agg(count(lit(1)).as("n_nodes"))
      .orderBy(col("n_nodes").desc, col("component"))
  }

  private val prIter =
    "SELECT v AS node, CAST(150000 + (85 * SUM(pr // deg)) // 100 " +
      "AS BIGINT) AS pr FROM e JOIN %s ON u = node GROUP BY v"

  /** The support>=2 mirrored-adjacency CTE prefix shared by the k-core and
    * BFS oracles — one definition so the oracle graphs cannot drift from
    * each other (the eigvecCtes discipline). */
  private val supAdjCtes =
    "WITH li AS (SELECT l_orderkey AS ok, l_partkey AS pk FROM lineitem), " +
      "sup AS (SELECT u, v FROM (SELECT DISTINCT a.ok AS ok, a.pk AS u, " +
      "b.pk AS v FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk) " +
      "GROUP BY u, v HAVING COUNT(*) >= 2), " +
      "adj AS (SELECT u, v FROM sup UNION ALL SELECT v AS u, u AS v FROM sup)"

  private val kcoreIter =
    "SELECT a.u AS u FROM adj a JOIN %s k ON a.v = k.u " +
      "GROUP BY a.u HAVING COUNT(*) >= 2"

  /** The 3-round LPA label CTE chain over `adj` — one definition shared by
    * the community_lp and modularity oracles (mirrors [[lpaLabels]]). */
  private val lpaCtes = {
    val round = "SELECT u AS node, lbl FROM (SELECT a.u, l.lbl, " +
      "row_number() OVER (PARTITION BY a.u ORDER BY COUNT(*) DESC, l.lbl) " +
      "AS rn FROM adj a JOIN %s l ON a.v = l.node GROUP BY a.u, l.lbl) " +
      "WHERE rn = 1"
    "l0 AS (SELECT DISTINCT u AS node, u AS lbl FROM adj), " +
      s"l1 AS (${round.format("l0")}), " +
      s"l2 AS (${round.format("l1")}), " +
      s"l3 AS (${round.format("l2")})"
  }

  /** Conductance of every LPA community — the partition-quality sibling
    * of [[graphModularity]] at EDGE granularity: φ(C) = cut(C) /
    * min(vol(C), M − vol(C)) over the mirrored support≥2 adjacency, all
    * counts exact integers off the shared label frame (one floored
    * integral division per community). Low-conductance communities are
    * real clusters; φ near 1 means the label only captured noise — the
    * per-community drill-down behind the single modularity scalar. Same
    * join gate as modularity ([[PrBroadcastNodeCap]] on the label
    * frame). */
  private def graphConductance(s: SparkSession, d: String): DataFrame = {
    val (adj, _) = wedgeFrames(s, d)
    conductanceOn(adj, lpaLabels(s, d))
  }

  /** The conductance kernel over any mirrored (u, v) adjacency and a
    * (node, lbl) community frame — shared by the declared query and
    * [[graft.api.GraftApi.conductance]]. Same label-frame join gate as
    * the declared query ([[PrBroadcastNodeCap]]). */
  private[graft] def conductanceOn(adj: DataFrame,
      labels: DataFrame): DataFrame = {
    val lab = U.track(labels.persist())
    val side: DataFrame => DataFrame =
      if (lab.count() <= PrBroadcastNodeCap) broadcast
      else _.hint("shuffle_hash")
    val mrow = adj.agg(count(lit(1)).as("m"))
    val comm = adj
      .join(side(lab.select(col("node").as("u"), col("lbl").as("cu"))),
        Seq("u"))
      .join(side(lab.select(col("node").as("v"), col("lbl").as("cv"))),
        Seq("v"))
      .groupBy(col("cu").as("community"))
      .agg(count(lit(1)).as("vol"),
        sum(when(col("cu") =!= col("cv"), 1L).otherwise(0L)).as("cut"))
    val nn = lab.groupBy(col("lbl").as("community"))
      .agg(count(lit(1)).as("n_nodes"))
    comm.join(nn, Seq("community"))
      .crossJoin(broadcast(mrow))
      .select(col("community"), col("n_nodes"), col("vol"), col("cut"),
        when(least(col("vol"), col("m") - col("vol")) > 0L,
          expr("(1000000 * cut) DIV least(vol, m - vol)"))
          .as("conductance_micro"))
      .orderBy("community")
  }

  /** Katz centrality truncated at path length 2 over the co-purchase
    * digraph, attenuation α=1/8 in exact integer micro-units:
    * katz = 1 + α·(paths of length 1 in) + α²·(paths of length 2 in),
    * i.e. 1e6 + (1e6·indeg) DIV 8 + (1e6·Σ_{u→v} indeg(u)) DIV 64 — the
    * closed non-iterative form, so unlike PageRank there is NO fixpoint
    * loop: one |V| in-degree rollup, one edge⋈degree join (the degree
    * frame rides [[graft.U.sizeGate]] — broadcast below the cap,
    * shuffle-hash above), one rollup, top-50. Length-2 truncation keeps
    * every sum exact in Long (indeg ≤ |V|, Σ ≤ |E|·max_indeg). */
  private def graphKatz(s: SparkSession, d: String): DataFrame = {
    val e = coPairs(s, d).select(col("u"), col("v"))
    val (ind, wi) = graft.U.sizeGate(
      e.groupBy(col("v").as("n")).agg(count(lit(1)).as("ind")))
    val p2 = e.join(
        wi(ind.select(col("n").as("un"), col("ind").as("u_ind"))),
        col("u") === col("un"))
      .groupBy(col("v").as("n2")).agg(sum(col("u_ind")).as("p2"))
    ind.join(p2, col("n") === col("n2"), "left")
      .select(col("n").as("node"),
        (lit(1000000L) + expr("(1000000 * ind) DIV 8") +
          expr("(1000000 * COALESCE(p2, CAST(0 AS BIGINT))) DIV 64"))
          .as("katz_micro"))
      .orderBy(col("katz_micro").desc, col("node")).limit(50)
  }

  /** Gini coefficient of the co-purchase out-degree distribution — the
    * one-number answer to "is this graph scale-free-ish or uniform" that
    * decides skew-mitigation postures. The rank-weighted form
    * G = (2·Σ(i·xᵢ) − (n+1)·Σx) / (n·Σx) over degrees sorted ascending
    * with a (degree, node) total order, emitted in exact integer
    * micro-units via integral division — no float anywhere (the agg_gini
    * discipline applied to graph topology). The global rank i is NOT one
    * \|V\|-row sort: nodes block by their DEGREE VALUE (per-degree local
    * row numbers, ordered by node id) and degree-block offsets prefix
    * over the \|distinct degrees\|-row count frame, which rides
    * [[graft.U.sizeGate]] — the two-level scan-prefix again. */
  private def graphDegreeGini(s: SparkSession, d: String): DataFrame = {
    val deg = coPairs(s, d).select(col("u"), col("v"))
      .groupBy(col("u")).agg(count(lit(1)).as("deg"))
    import org.apache.spark.sql.expressions.Window
    val (offs, wo) = graft.U.sizeGate(
      deg.groupBy(col("deg").as("dg")).agg(count(lit(1)).as("c"))
        .withColumn("off", coalesce(
          sum(col("c")).over(Window.orderBy(col("dg"))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .select(col("dg"), col("off")))
    val wl = Window.partitionBy(col("deg")).orderBy(col("u"))
    deg.join(wo(offs), col("deg") === col("dg"))
      .withColumn("i", col("off") + row_number().over(wl).cast(LongType))
      .agg(count(lit(1)).as("n_nodes"), sum(col("deg")).as("sum_deg"),
        sum(col("i") * col("deg")).as("iwx"))
      .select(col("n_nodes"), col("sum_deg"),
        expr("CAST((1000000 * (2 * iwx - (n_nodes + 1) * sum_deg)) DIV " +
          "(n_nodes * sum_deg) AS BIGINT)").as("gini_micro"))
  }

  /** Node cap for the strongly-connected-component closure subgraph:
    * transitive closure is quadratic in reachable pairs, so the declared
    * query analyzes the top-[[SccNodeCap]] nodes by directed degree
    * (deterministic tiebreak on id) — the closeness_k seed-cap discipline.
    * At 100 TB the cap is the scale knob: closure frames are ≤ cap² rows
    * BY CONSTRUCTION regardless of corpus size. */
  private[operators] val SccNodeCap = 60

  /** Strongly connected components of the ORDER-SEQUENCE digraph — u→v iff
    * part u ships on an earlier line than part v within some order
    * (direction carries basket sequence; cycles appear when orders disagree
    * on the sequence, so an SCC is a mutually-reorderable part set —
    * [[graphCc]] is the undirected/weak variant). Directed pairs are
    * generated MAP-SIDE from per-order line lists (the coPairs discipline:
    * one narrow shuffle, the explode feeds partial agg). The analytic
    * subgraph is the top-[[SccNodeCap]] nodes by total directed degree; its
    * transitive closure is gated like [[kcoreOnAdj]]: one task below
    * [[GraphIterEdgeCap]], 6 path-doubling DataFrame rounds above (2⁶ ≥
    * cap, and closure is a unique fixpoint, so gate dispatch cannot change
    * the answer). SCC id = min node id over the mutual-reachability set
    * (self-pairs seed the closure, so singletons label themselves). */
  private def graphScc(s: SparkSession, d: String): DataFrame =
    sccImpl(s, d, GraphIterEdgeCap)

  /** Directed order-sequence pairs — u ships on an earlier line than v in
    * some order — distinct with order-count weight, generated MAP-SIDE
    * from per-order line lists (the coPairs discipline). Shared by
    * [[graphScc]] and [[graphReciprocity]], so it is a
    * [[graft.SharedIndex]] entry persisted exactly like [[coPairs]] — each
    * consumer also reads it more than once within its own plan. */
  private val seqIndex = SharedIndex[DataFrame]("orderSeqEdges", Seq(
      "graph_reciprocity", "graph_scc", "graph_transitivity_dir",
      "graph_triad_census"), Seq(_)) { (s, d) =>
    val df = U.tbl(s, d, "lineitem")
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"),
        col("l_linenumber").as("ln"))
      .groupBy(col("ok"))
      .agg(collect_list(struct(col("ln"), col("pk"))).as("ps"))
      .select(explode(col("ps")).as("a"), col("ps"))
      .select(col("a"), explode(col("ps")).as("b"))
      .filter(col("a.ln") < col("b.ln") && col("a.pk") =!= col("b.pk"))
      .select(col("a.pk").as("u"), col("b.pk").as("v"))
      .groupBy(col("u"), col("v")).agg(count(lit(1)).as("w"))
      .persist()
    df
  }
  private def orderSeqEdges(s: SparkSession, d: String): DataFrame =
    seqIndex.get(s, d)

  private[graft] def sccImpl(s: SparkSession, d: String, cap: Long): DataFrame =
    sccOnEdges(orderSeqEdges(s, d).select(col("u"), col("v")), SccNodeCap, cap)

  /** Reciprocity of the order-sequence digraph — the share of directed
    * edges whose reverse also exists ("how often do orders disagree on
    * basket sequence"; reciprocity 1 would collapse [[graphScc]] to
    * [[graphCc]]). One left-semi self-join on the distinct edge frame +
    * two counts, ratio in exact micro-units; the three consumers read
    * through the persisted [[orderSeqEdges]] cache. */
  private def graphReciprocity(s: SparkSession, d: String): DataFrame = {
    // three consumers, but the shared orderSeqEdges parent absorbs the re-reads
    val e = orderSeqEdges(s, d).select(col("u"), col("v"))
    val rec = e.join(e.select(col("v").as("ru"), col("u").as("rv")),
      col("u") === col("ru") && col("v") === col("rv"), "left_semi")
    e.agg(count(lit(1)).as("n_edges"))
      .crossJoin(rec.agg(count(lit(1)).as("n_reciprocal")))
      .select(col("n_edges"), col("n_reciprocal"),
        expr("(1000000 * n_reciprocal) DIV n_edges").as("recip_micro"))
  }

  /** The generic SCC kernel over an arbitrary directed (u, v) edge frame —
    * the [[graft.api.GraftApi.stronglyConnectedComponents]] entry point.
    * Caps the analytic subgraph to the top-`nodeCap` nodes by directed
    * degree, then runs the gated closure. */
  private[graft] def sccOnEdges(dirE: DataFrame, nodeCap: Int,
      cap: Long): DataFrame = {
    val top = dirE.select(col("u").as("n"))
      .unionByName(dirE.select(col("v").as("n")))
      .groupBy(col("n")).agg(count(lit(1)).as("dg"))
      .orderBy(col("dg").desc, col("n")).limit(nodeCap)
      .select(col("n"))
    // top is ≤ SccNodeCap rows by construction — broadcast is bounded
    val sub = U.track(dirE
      .join(broadcast(top.select(col("n").as("tu"))),
        col("u") === col("tu"), "left_semi")
      .join(broadcast(top.select(col("n").as("tv"))),
        col("v") === col("tv"), "left_semi")
      .select(col("u"), col("v"))
      .unionByName(top.select(col("n").as("u"), col("n").as("v")))
      .persist())
    // below the cap: BFS from each of the ≤ nodeCap nodes in one task —
    // the transitive closure is a unique fixpoint, so any sound algorithm
    // matches the doubling loop exactly
    val closure = singleTask(sub, cap, "a", "b") { g =>
      val c = g.csr
      (0 until c.n).iterator.flatMap { a =>
        val h = c.hops(a, Int.MaxValue)
        (0 until c.n).iterator.filter(h(_) >= 0).map(b => (c.ids(a), c.ids(b)))
      }
    }(sccClosureLoop(sub))
    val swapped = closure.select(col("b").as("sa"), col("a").as("sb"))
    val mut = closure.join(swapped,
      col("a") === col("sa") && col("b") === col("sb"), "left_semi")
    val scc = mut.groupBy(col("a").as("node")).agg(min(col("b")).as("scc_id"))
    val sz = scc.groupBy(col("scc_id").as("sid"))
      .agg(count(lit(1)).as("scc_size"))
    // sz is ≤ SccNodeCap rows by construction — broadcast is bounded
    scc.join(broadcast(sz), col("scc_id") === col("sid"))
      .select(col("node"), col("scc_id"), col("scc_size"))
      .orderBy("node")
  }

  /** Distributed twin: 6 path-doubling rounds over the capped subgraph,
    * each round persisted and materialized before it feeds the next
    * (linear lineage, the closeness frontier discipline). Each round is
    * R ← R∘R ALONE — the textbook R ∪ R∘R union is redundant here
    * because [[sccOnEdges]] seeds every node with a self-pair, and
    * self-pairs both survive composition ((a,a)∘(a,a) = (a,a)) and make
    * it reflexive ((a,a)∘(a,b) = (a,b), so R ⊆ R∘R); dropping the union
    * removes one full scan + union of the growing closure frame per
    * round (r11: the first-iteration fuse generalized to every round).
    * Rounds are localCheckpoint-pinned (the MMR/kmeans discipline):
    * persist alone leaves the PLAN's lineage intact, and six self-join
    * rounds of un-truncated lineage blow up plan compilation itself.
    * Round11Spec pins loop-vs-single-task parity on the fixture. */
  private def sccClosureLoop(seed: DataFrame): DataFrame = {
    var r = seed.select(col("u").as("a"), col("v").as("b"))
      .distinct().localCheckpoint()
    for (_ <- 0 until 6) {
      val rr = r.select(col("a").as("m"), col("b").as("b2"))
      r = r.join(rr, col("b") === col("m"))
        .select(col("a"), col("b2").as("b"))
        .distinct().localCheckpoint()
    }
    r
  }

  /** 3-truss of the support-filtered association graph — the edge-level
    * analogue of [[graphKcore]]'s node peel: iteratively delete edges that
    * sit in NO triangle, then emit the survivors with their closing
    * triangle support (k=3 is the right truss here: the support>=2 filter
    * already thins the graph so far that a 4-truss is empty past sf0.001
    * — the truss level is the semantic knob, the peel is the operator). Both engines unroll the SAME 8 peel rounds
    * + one closing support count, so outputs agree whether or not the peel
    * has converged (the kcore discipline). Gated like [[kcoreOnAdj]]: one
    * task below [[GraphIterEdgeCap]] (8 peels of a support-filtered edge
    * set are pure scheduling latency as stages), the wedge-join loop above
    * it — each round is one mirrored-adjacency join pair + hash agg over
    * the SHRINKING survivor set, so at 100 TB the peel cost decays with
    * the truss. */
  private def graphKtruss(s: SparkSession, d: String): DataFrame =
    ktrussImpl(s, d, GraphIterEdgeCap)

  private[graft] def ktrussImpl(s: SparkSession, d: String, cap: Long): DataFrame =
    ktrussOnEdges(
      coPairs(s, d).filter(col("u") < col("v") && col("support") >= 2)
        .select(col("u"), col("v")), cap)

  private[graft] def ktrussOnEdges(e0: DataFrame, cap: Long): DataFrame = {
    val e = U.track(e0.persist())
    // below the cap: the identical 8 rounds + closing count in one task,
    // mirroring [[ktrussLoop]] round-for-round so gate dispatch cannot
    // change the answer
    singleTask(e, cap, "u", "v", "support") { g =>
      var edges = g.u.zip(g.v)
      def support(es: Array[(Long, Long)]): scala.collection.Map[(Long, Long), Long] = {
        val nbr = scala.collection.mutable
          .Map.empty[Long, scala.collection.mutable.Set[Long]]
        for ((u, v) <- es) {
          nbr.getOrElseUpdate(u, scala.collection.mutable.Set.empty) += v
          nbr.getOrElseUpdate(v, scala.collection.mutable.Set.empty) += u
        }
        val m = scala.collection.mutable.Map.empty[(Long, Long), Long]
        for ((u, v) <- es) m((u, v)) = (nbr(u) & nbr(v)).size.toLong
        m
      }
      for (_ <- 0 until 8) {
        val sup = support(edges)
        edges = edges.filter(ed => sup(ed) >= 1L)
      }
      val fin = support(edges)
      edges.iterator.collect {
        case (u, v) if fin((u, v)) > 0L => (u, v, fin((u, v)))
      }
    }(ktrussLoop(e))
      .orderBy("u", "v")
  }

  /** Per-edge triangle support within the CURRENT edge set — the wedge
    * join through the mirrored adjacency, grouped per edge. */
  private def edgeSupport(cur: DataFrame): DataFrame = {
    val adj = cur.unionByName(cur.select(col("v").as("u"), col("u").as("v")))
    cur.join(adj.select(col("u").as("au"), col("v").as("w")),
        col("u") === col("au"))
      .join(adj.select(col("u").as("bu"), col("v").as("w2")),
        col("v") === col("bu") && col("w") === col("w2"))
      .groupBy(col("u"), col("v")).agg(count(lit(1)).as("support"))
  }

  private def ktrussLoop(e: DataFrame): DataFrame = {
    var cur = e
    // localCheckpoint, not persist: each round reads the previous one five
    // times, and a persisted round keeps that lineage in its plan — 5⁸
    // copies of the base plan by round 8, whose cache-name string alone
    // ran the heap out (the sccClosureLoop lesson)
    for (_ <- 0 until 8)
      cur = edgeSupport(cur)
        .filter(col("support") >= 1).select(col("u"), col("v"))
        .localCheckpoint()
    edgeSupport(cur)
  }

  /** Rich-club coefficient φ(k) = 2·E_k / (N_k·(N_k−1)) of the
    * co-purchase graph at degree thresholds k ∈ {2,4,8,16,32} — "do the
    * hubs trade with each other?", the one-number core-structure probe
    * behind assortativity. Degrees come from one hash-agg over the shared
    * symmetric pair cache; the node-cardinality degree frame rides
    * [[graft.U.sizeGate]] onto the edge list (broadcast below the cap,
    * shuffle-hash above — the same equi-join either way). Each surviving
    * edge then fans out over the FIVE constant thresholds map-side
    * (partial aggregation collapses the fan-out before the one k-keyed
    * exchange), so nothing downstream of the degree join scales past
    * 5·|E|. φ's single division is the only double op, mirrored verbatim. */
  private def graphRichClub(s: SparkSession, d: String): DataFrame =
    richClubImpl(s, d, graft.U.BroadcastRowCap)

  private[graft] def richClubImpl(s: SparkSession, d: String,
      cap: Long): DataFrame = {
    val e = coPairs(s, d).filter(col("u") < col("v")).select(col("u"), col("v"))
    val (deg, wd) = graft.U.sizeGate(
      coPairs(s, d).groupBy(col("u").as("n")).agg(count(lit(1)).as("deg")), cap)
    val kArr = array(Seq(2L, 4L, 8L, 16L, 32L).map(lit): _*)
    val nk = deg.select(col("deg"), explode(kArr).as("k"))
      .filter(col("deg") > col("k"))
      .groupBy(col("k")).agg(count(lit(1)).as("n_k"))
    val ek = e
      .join(wd(deg.select(col("n").as("un"), col("deg").as("du"))),
        col("u") === col("un"))
      .join(wd(deg.select(col("n").as("vn"), col("deg").as("dv"))),
        col("v") === col("vn"))
      .select(explode(kArr).as("k"), col("du"), col("dv"))
      .filter(col("du") > col("k") && col("dv") > col("k"))
      .groupBy(col("k")).agg(count(lit(1)).as("e_k"))
    nk.join(ek, Seq("k"), "left")
      .select(col("k"), col("n_k"),
        coalesce(col("e_k"), lit(0L)).as("e_k"),
        when(col("n_k") > 1,
          (lit(2L) * coalesce(col("e_k"), lit(0L))).cast(DoubleType) /
            (col("n_k").cast(DoubleType) * (col("n_k") - 1).cast(DoubleType)))
          .as("phi"))
      .orderBy("k")
  }

  /** Average-neighbor-degree curve knn(k) of the co-purchase graph — the
    * functional form behind [[graphAssortativity]]'s single correlation
    * number (rising knn(k) = assortative, falling = hubs attach to
    * leaves). Per degree class k: knn(k) = Σ_{deg(u)=k} Σ_{v∈N(u)} deg(v)
    * / (k·N_k), kept exact as one Decimal(38,0) edge-sum (Σdeg over
    * edges reaches ~2|E|·maxdeg ≈ 1e15+ at scale) over one size-gated
    * degree⋈edge join; the class rollup is degree-cardinality. One
    * closing division, mirrored. */
  private def graphKnnDegree(s: SparkSession, d: String): DataFrame =
    knnDegreeImpl(s, d, graft.U.BroadcastRowCap)

  private[graft] def knnDegreeImpl(s: SparkSession, d: String,
      cap: Long): DataFrame = {
    val dec = DecimalType(38, 0)
    val (deg, wd) = graft.U.sizeGate(
      coPairs(s, d).groupBy(col("u").as("n")).agg(count(lit(1)).as("deg")), cap)
    val nbr = coPairs(s, d).select(col("u"), col("v"))
      .join(wd(deg.select(col("n").as("vn"), col("deg").as("dv"))),
        col("v") === col("vn"))
      .groupBy(col("u").as("nu")).agg(sum(col("dv").cast(dec)).as("sum_nbr"))
    deg.join(nbr, col("n") === col("nu"))
      .groupBy(col("deg").as("k"))
      .agg(count(lit(1)).as("n_nodes"), sum(col("sum_nbr")).as("tot_nbr"))
      .select(col("k"), col("n_nodes"),
        (col("tot_nbr").cast(DoubleType) /
          (col("k").cast(DoubleType) * col("n_nodes"))).as("knn"))
      .orderBy("k")
  }

  /** Deterministic random-walk corpus over the co-purchase graph — the
    * node2vec/DeepWalk preprocessing step that turns a graph into
    * "sentences" for embedding training. 20 top-degree seeds each walk 6
    * steps; the next hop is the neighbor at rank (node·31 + step·17) mod
    * degree under the sorted-neighbor order — a hash-indexed pick both
    * engines compute identically, standing in for the RNG draw (which
    * could never be oracle-matched). Size-gated like [[eccentricityImpl]]
    * (the r13 verdict's prescription): below [[GraphIterEdgeCap]] the
    * whole 20-seed × 6-step walk runs as ONE in-memory task over the
    * sorted CSR adjacency with IDENTICAL Long arithmetic — the frame loop
    * pays 6 rounds of {broadcast-semi filter → window rank → join →
    * localCheckpoint} scheduling latency for a ≤20-row frontier (4.7 s
    * idle-warm at sf0.1, the r13 suite's slowest warm query). Above the
    * cap the distributed loop below is the twin: each step is one
    * equi-join of the ranked adjacency against a ≤|seeds|-row broadcast
    * frontier; the walk length bounds the join count, never the data.
    * Round14Spec pins cap=0 parity. */
  private def graphWalkCorpus(s: SparkSession, d: String): DataFrame =
    walkFrame(s, d)

  /** Per-(session, sfDir) cache of the DEFAULT-cap walk frame — shared
    * by `graph_walk_corpus` and `graph_skipgram_pairs` (which previously
    * re-ran the whole coPairs count + CSR walk per consumer — the exact
    * rebuild-per-consumer attribution hole the permPvals/bpeRounds
    * caches closed; the frame is ≤ |seeds|·walkLen rows, trivially
    * persistable). Cap-overriding callers (the Round14Spec cap=0 parity
    * pins) bypass the cache and exercise the real kernels. A
    * [[graft.SharedIndex]] entry. */
  private val walkIndex = SharedIndex[DataFrame]("walkFrame", Seq(
      "graph_skipgram_pairs", "graph_walk_corpus"), Seq(_)) { (s, d) =>
    val df = walkCorpusImpl(s, d, GraphIterEdgeCap).persist()
    df.count()
    df
  }
  private[graft] def walkFrame(s: SparkSession, d: String): DataFrame =
    walkIndex.get(s, d)

  private[graft] def walkCorpusImpl(s: SparkSession, d: String,
      cap: Long): DataFrame = {
    val sym = coPairs(s, d).select(col("u"), col("v"))
    // one sequential task over the raw pairs. A distributed collect_list
    // pre-grouping was measured SLOWER (2.0 vs 1.1 s warm at sf0.1): the
    // ObjectHashAgg + array encoder costs more than one task's decode.
    singleTask(sym, cap, "wid", "node", "step") { g =>
      val c = g.csr
      val out = scala.collection.mutable.ArrayBuffer[(Long, Long, Long)]()
      walkSeeds(c).foreach { seed =>
        val wid = c.ids(seed)
        var j = seed
        out += ((wid, wid, 0L))
        var k = 1
        while (k <= 6) {
          val rk = (c.ids(j) * 31L + k.toLong * 17L) % c.outDeg(j)
          j = c.outAdj(c.outOff(j) + rk.toInt)
          out += ((wid, c.ids(j), k.toLong))
          k += 1
        }
      }
      out.iterator
    }(walkCorpusOnEdges(sym))
      .orderBy("wid", "step")
  }

  /** The 20 walk seeds of both single-task walk kernels: top out-degree,
    * ties by id — the rule both walk oracles and the twins' (-dg, u) seed
    * frame mirror. Each node's sorted CSR segment IS the twins' window
    * rank over `v` (coPairs rows are distinct). */
  private def walkSeeds(c: Csr): Seq[Int] =
    c.sources.toSeq.sortBy(j => (-c.outDeg(j), j)).take(20)

  /** SECOND-ORDER (node2vec) biased walk corpus — the p/q walk the
    * first-order [[graphWalkCorpus]] approximates (p = q = 2, cleared to
    * integer weights ×2: return-to-previous 1, common-neighbor-of-
    * previous 2, farther 1 — the in-out/return bias that interpolates
    * BFS-like and DFS-like exploration): same 20 top-degree seeds, step 1
    * is the first-order hash pick (no previous node yet), steps 2..6
    * pick the neighbor whose CUMULATIVE-WEIGHT interval under the sorted
    * order contains (node·31 + step·17) mod total-weight — the
    * deterministic stand-in for the weighted RNG draw, computed
    * identically by both engines. Size-gated exactly like
    * [[graphWalkCorpus]]: one-task sorted-CSR walk with binary-search
    * common-neighbor tests below [[GraphIterEdgeCap]], the distributed
    * frame loop above (weights via one left join of the ≤|frontier-adj|
    * rows against the pair frame on (prev, v)); Round14Spec pins cap=0
    * parity and recounts the whole walk locally. */
  private def graphWalkBiased(s: SparkSession, d: String): DataFrame =
    walkBiasedImpl(s, d, GraphIterEdgeCap)

  private[graft] def walkBiasedImpl(s: SparkSession, d: String,
      cap: Long): DataFrame = {
    val sym = coPairs(s, d).select(col("u"), col("v"))
    singleTask(sym, cap, "wid", "node", "step") { g =>
      val c = g.csr
      val out = scala.collection.mutable.ArrayBuffer[(Long, Long, Long)]()
      walkSeeds(c).foreach { seed =>
        val wid = c.ids(seed)
        out += ((wid, wid, 0L))
        // step 1: first-order pick (no previous node)
        var prev = seed
        var j = c.outAdj(c.outOff(seed) + ((wid * 31L + 17L) % c.outDeg(seed)).toInt)
        out += ((wid, c.ids(j), 1L))
        var k = 2
        while (k <= 6) {
          def weight(t: Int): Long = {
            val v = c.outAdj(t)
            if (v == prev) 1L else if (c.hasEdge(prev, v)) 2L else 1L
          }
          var tot = 0L
          var t = c.outOff(j)
          while (t < c.outOff(j + 1)) { tot += weight(t); t += 1 }
          val r = (c.ids(j) * 31L + k.toLong * 17L) % tot
          var cum = 0L
          var pick = -1
          t = c.outOff(j)
          while (t < c.outOff(j + 1) && pick < 0) {
            cum += weight(t)
            if (r < cum) pick = c.outAdj(t)
            t += 1
          }
          prev = j
          j = pick
          out += ((wid, c.ids(j), k.toLong))
          k += 1
        }
      }
      out.iterator
    }(walkBiasedOnEdges(sym))
      .orderBy("wid", "step")
  }

  private def walkBiasedOnEdges(sym: DataFrame): DataFrame = {
    val seeds = sym.groupBy(col("u")).agg(count(lit(1)).as("dg"))
      .orderBy(col("dg").desc, col("u")).limit(20)
      .select(col("u").as("wid"), col("u").as("node"), lit(0L).as("step"))
    // step 1: the first-order rule (no previous node)
    val wAdj = org.apache.spark.sql.expressions.Window
      .partitionBy(col("u")).orderBy(col("v"))
    val wCnt = org.apache.spark.sql.expressions.Window.partitionBy(col("u"))
    val sub1 = sym.join(
      broadcast(seeds.select(col("node").as("fn")).distinct()),
      col("u") === col("fn"), "left_semi")
    var cur = sub1
      .withColumn("rk", (row_number().over(wAdj) - 1).cast(LongType))
      .withColumn("deg", count(lit(1)).over(wCnt))
      .join(broadcast(seeds.select(col("wid"), col("node").as("cu"))),
        col("u") === col("cu") &&
          col("rk") === (col("cu") * 31 + 17) % col("deg"))
      .select(col("wid"), col("v").as("node"), col("u").as("prev"),
        lit(1L).as("step"))
      .localCheckpoint()
    var acc = seeds.unionByName(
      cur.select(col("wid"), col("node"), col("step")))
    for (k <- 2 to 6) {
      val sub = sym.join(
        broadcast(cur.select(col("node").as("fn")).distinct()),
        col("u") === col("fn"), "left_semi")
      // weight each frontier-adjacency row by the second-order rule: one
      // left join against the pair frame probes (prev, v) membership
      val wtd = sub
        .join(broadcast(cur.select(col("wid"), col("node").as("cu"),
          col("prev").as("pv"))), col("u") === col("cu"))
        .join(sym.select(col("u").as("ce_u"), col("v").as("ce_v")),
          col("ce_u") === col("pv") && col("ce_v") === col("v"), "left")
        .withColumn("w", when(col("v") === col("pv"), 1L)
          .otherwise(when(col("ce_v").isNotNull, 2L).otherwise(1L)))
      val wWid = org.apache.spark.sql.expressions.Window
        .partitionBy(col("wid")).orderBy(col("v"))
      val wTot = org.apache.spark.sql.expressions.Window
        .partitionBy(col("wid"))
      cur = wtd
        .withColumn("cw", sum(col("w")).over(wWid))
        .withColumn("tw", sum(col("w")).over(wTot))
        .withColumn("r", (col("u") * 31 + k * 17) % col("tw"))
        .filter(col("cw") - col("w") <= col("r") && col("r") < col("cw"))
        .select(col("wid"), col("v").as("node"), col("u").as("prev"),
          lit(k.toLong).as("step"))
        .localCheckpoint()
      acc = acc.unionByName(cur.select(col("wid"), col("node"), col("step")))
    }
    acc.orderBy("wid", "step")
  }

  /** Skip-gram training pairs from the deterministic walk corpus — the
    * node2vec/DeepWalk step AFTER [[graphWalkCorpus]] (walks are
    * "sentences"; this emits the (center, context) co-occurrence table
    * an SGNS embedding trains on): every node pair within window 2 on
    * the same walk, both offset signs (the objective is symmetric),
    * counted across walks. The frame under the self-join is the
    * |walks|·(length+1) ≤ 140-row corpus — bounded by the walk design,
    * never by graph size — so the pair table is ≤ 140·4 rows at any
    * scale; the heavy lifting (the walk itself) reuses the size-gated
    * kernel. */
  private def graphSkipgramPairs(s: SparkSession, d: String): DataFrame =
    skipgramPairsOn(walkFrame(s, d), 2L)

  /** The skip-gram pair kernel over any (wid, step, node) walk frame —
    * shared by the declared query and
    * [[graft.api.GraftApi.skipgramPairs]]. `window` is the caller's
    * context radius (the declared query's 2). */
  private[graft] def skipgramPairsOn(wk: DataFrame,
      window: Long): DataFrame = {
    val a = wk.select(col("wid"), col("step").as("sa"),
      col("node").as("center"))
    val b = wk.select(col("wid").as("wb"), col("step").as("sb"),
      col("node").as("context"))
    a.join(b, col("wid") === col("wb") &&
        abs(col("sa") - col("sb")) >= 1L &&
        abs(col("sa") - col("sb")) <= window)
      .groupBy(col("center"), col("context"))
      .agg(count(lit(1)).as("n_cooc"))
      .orderBy("center", "context")
  }

  private def walkCorpusOnEdges(sym: DataFrame): DataFrame = {
    val wAdj = org.apache.spark.sql.expressions.Window
      .partitionBy(col("u")).orderBy(col("v"))
    val wCnt = org.apache.spark.sql.expressions.Window.partitionBy(col("u"))
    val seeds = sym.groupBy(col("u")).agg(count(lit(1)).as("dg"))
      .orderBy(col("dg").desc, col("u")).limit(20)
      .select(col("u").as("wid"), col("u").as("node"), lit(0L).as("step"))
    var acc = seeds
    var cur = seeds
    for (k <- 1 to 6) {
      // rank ONLY the frontier's adjacency: one broadcast-semi filter of
      // the cached symmetric pair frame, then a window over the ≤20
      // surviving neighbor lists — never a full-graph neighbor ranking
      val sub = sym.join(
        broadcast(cur.select(col("node").as("fn")).distinct()),
        col("u") === col("fn"), "left_semi")
      val ranked = sub
        .withColumn("rk", (row_number().over(wAdj) - 1).cast(LongType))
        .withColumn("deg", count(lit(1)).over(wCnt))
      // localCheckpoint pins the ≤20-row frontier: without it every
      // broadcast(cur) re-walks the whole k-step lineage, turning 6 hops
      // into O(k²) window passes
      cur = ranked.join(broadcast(cur.select(col("wid"), col("node").as("cu"))),
          col("u") === col("cu") &&
            col("rk") === (col("cu") * 31 + k * 17) % col("deg"))
        .select(col("wid"), col("v").as("node"), lit(k.toLong).as("step"))
        .localCheckpoint()
      acc = acc.unionByName(cur)
    }
    acc.orderBy("wid", "step")
  }

  /** Count of transitive triples (u,v,w distinct with u→v, v→w, u→w) of a
    * directed distinct-edge frame, as a 1-row (n_closed BIGINT) frame.
    * Size-gated on edge count like [[kcoreOnAdj]]: below
    * [[GraphIterEdgeCap]] one task runs the CSR merge-intersection kernel
    * (n_closed = Σ_{(u,w)∈E} |N⁺(u) ∩ N⁻(w)| — per-edge sorted-adjacency
    * intersections, ~(d⁺+d⁻) work per edge, zero shuffle; whole query
    * measured 12.75 → 2.3 s warm at sf0.1 vs the r8 directed-wedge
    * stream); above the cap
    * the degree-oriented triangle enumeration below keeps per-node fan-out
    * at O(√m) so no hub ever materializes its full neighborhood. Both
    * paths are exact and parity-tested (Round8Spec scalar oracle below the
    * cap, StressSpec forces cap=0 for the distributed twin). */
  private[graft] def transitiveTriplesCount(
      e: DataFrame, cap: Long = GraphIterEdgeCap): DataFrame =
    singleTask(e, cap, "t")(g => Iterator.single(Tuple1(closedWedges(g.csr))))(
      transitiveTriplesOriented(e))
      .agg(coalesce(sum(col("t")), lit(0L)).cast(LongType).as("n_closed"))

  /** Σ_{(u,w)∈E} |out(u) ∩ in(w)| by sorted-segment merge: the closed
    * wedges u→v→w with u→w, v ≠ u and v ≠ w for free on a distinct-edge
    * frame without self-loops. */
  private def closedWedges(c: Csr): Long = {
    val (outOff, outAdj, inOff, inAdj) = (c.outOff, c.outAdj, c.inOff, c.inAdj)
    var closed = 0L
    var u = 0
    while (u < c.n) {
      var p = outOff(u)
      while (p < outOff(u + 1)) {
        val w = outAdj(p)
        var a = outOff(u); val aEnd = outOff(u + 1)
        var b = inOff(w); val bEnd = inOff(w + 1)
        while (a < aEnd && b < bEnd) {
          val x = outAdj(a); val y = inAdj(b)
          if (x == y) { closed += 1; a += 1; b += 1 }
          else if (x < y) a += 1
          else b += 1
        }
        p += 1
      }
      u += 1
    }
    closed
  }

  /** Distributed support-triangle enumeration with per-pair direction
    * bits: collapse the directed edge frame to undirected support pairs
    * carrying two direction bits, orient each pair toward its (degree,
    * id)-larger endpoint, and enumerate each support triangle exactly once
    * via the oriented wedge join (fan-out per node ≤ O(√m) — no hub ever
    * materializes its full neighborhood). Returns one row per triangle
    * with the six bits of its three pairs relative to roles (a, b, c) =
    * (wedge center, lower-rank leaf, higher-rank leaf): ab_f = a→b exists,
    * ab_r = b→a, etc. Shared by [[transitiveTriplesOriented]] and the
    * [[graphTriadCensus]] distributed twin. */
  private def orientedTriangleBits(e: DataFrame): DataFrame = {
    val pairs = U.track(e.select(
        least(col("u"), col("v")).as("a"), greatest(col("u"), col("v")).as("b"),
        (col("u") < col("v")).cast("int").as("fw"),
        (col("u") > col("v")).cast("int").as("bw"))
      .groupBy(col("a"), col("b"))
      .agg(max(col("fw")).as("f"), max(col("bw")).as("r"))
      .persist())
    val deg = pairs.select(col("a").as("n"))
      .unionAll(pairs.select(col("b").as("n")))
      .groupBy(col("n")).agg(count(lit(1)).as("dg"))
    val aLower = col("da") < col("db") || (col("da") === col("db"))
    // tie on degree → a (the smaller id) is the lower rank: rank order is
    // (degree, id) lexicographic and a < b by construction
    val oriented = U.track(pairs
      .join(deg.select(col("n").as("a"), col("dg").as("da")), Seq("a"))
      .join(deg.select(col("n").as("b"), col("dg").as("db")), Seq("b"))
      .select(
        when(aLower, col("a")).otherwise(col("b")).as("x"),
        when(aLower, col("b")).otherwise(col("a")).as("y"),
        when(aLower, col("db")).otherwise(col("da")).as("dy"),
        when(aLower, col("f")).otherwise(col("r")).as("fxy"),
        when(aLower, col("r")).otherwise(col("f")).as("fyx"))
      .persist())
    val w1 = oriented.select(col("x"), col("y").as("y1"), col("dy").as("d1"),
      col("fxy").as("ab_f"), col("fyx").as("ab_r"))
    val w2 = oriented.select(col("x"), col("y").as("y2"), col("dy").as("d2"),
      col("fxy").as("ac_f"), col("fyx").as("ac_r"))
    val bc = oriented.select(col("x").as("y1"), col("y").as("y2"),
      col("fxy").as("bc_f"), col("fyx").as("bc_r"))
    w1.join(w2, Seq("x"))
      .filter(col("d1") < col("d2") ||
        (col("d1") === col("d2") && col("y1") < col("y2")))
      .join(bc, Seq("y1", "y2"))
  }

  /** The past-the-cap distributed twin of the transitive-triples kernel:
    * per support triangle, how many of its 6 vertex orderings are
    * transitive under its three pairs' direction bits. Exact — every
    * directed transitive triple maps to exactly one support triangle and
    * one of its orderings. */
  private def transitiveTriplesOriented(e: DataFrame): DataFrame =
    orientedTriangleBits(e)
      .select((col("ab_f") * col("bc_f") * col("ac_f") +
        col("ac_f") * col("bc_r") * col("ab_f") +
        col("ab_r") * col("ac_f") * col("bc_f") +
        col("bc_f") * col("ac_r") * col("ab_r") +
        col("ac_r") * col("ab_f") * col("bc_r") +
        col("bc_r") * col("ab_r") * col("ac_r")).as("t"))

  /** The triad-type label of one support triangle from its six direction
    * bits — shared verbatim by the census's single-task kernel (as the
    * same arithmetic over packed bits) and the distributed CASE tree.
    * Classes are the 7 connected-triad isomorphism types of directed-graph
    * triad census: m = #mutual pairs picks {300, 210, m=1, m=0}; m=0
    * splits transitive (030T) vs cyclic (030C) by whether any ordering is
    * transitive; m=1 splits {120D, 120U, 120C} by how many of the two
    * single edges point INTO the mutual dyad (2, 0, 1 respectively). */
  private def triadLabel: Column = {
    val m = col("ab_f") * col("ab_r") + col("ac_f") * col("ac_r") +
      col("bc_f") * col("bc_r")
    val t = col("ab_f") * col("bc_f") * col("ac_f") +
      col("ac_f") * col("bc_r") * col("ab_f") +
      col("ab_r") * col("ac_f") * col("bc_f") +
      col("bc_f") * col("ac_r") * col("ab_r") +
      col("ac_r") * col("ab_f") * col("bc_r") +
      col("bc_r") * col("ab_r") * col("ac_r")
    val sIn = when(col("ab_f") * col("ab_r") === 1,
        col("ac_r") + col("bc_r"))       // mutual {a,b}: singles into a or b
      .when(col("ac_f") * col("ac_r") === 1,
        col("ab_r") + col("bc_f"))       // mutual {a,c}: b→a or b→c
      .otherwise(col("ab_f") + col("ac_f")) // mutual {b,c}: a→b or a→c
    when(m === 3, "300")
      .when(m === 2, "210")
      .when(m === 0, when(t >= 1, "030T").otherwise("030C"))
      .otherwise(when(sIn === 2, "120D")
        .when(sIn === 0, "120U").otherwise("120C"))
  }

  /** Directed triad census over the order-sequence digraph, restricted to
    * CONNECTED triads (support triangles) — the structural fingerprint
    * behind [[graphTransitivityDir]]'s single ratio: how many closed
    * triads are transitive (030T), cyclic (030C), or carry 1–3 mutual
    * dyads (120U/C/D, 210, 300). Size-gated exactly like the transitive
    * count: one task classifies via the CSR kernel below
    * [[GraphIterEdgeCap]], the oriented triangle enumeration + one CASE
    * tree above it; gate parity pinned in StressSpec. */
  private def graphTriadCensus(s: SparkSession, d: String): DataFrame =
    triadCensusOnEdges(orderSeqEdges(s, d).select(col("u"), col("v")),
      GraphIterEdgeCap)

  private[graft] def triadCensusOnEdges(e: DataFrame, cap: Long): DataFrame =
    singleTask(e, cap, "ab_f", "ab_r", "ac_f", "ac_r", "bc_f", "bc_r", "n")(
        triadBits)(
      orientedTriangleBits(e)
        .select(col("ab_f"), col("ab_r"), col("ac_f"), col("ac_r"),
          col("bc_f"), col("bc_r"), lit(1L).as("n")))
      .groupBy(triadLabel.as("triad_type"))
      .agg(sum(col("n")).as("n_triads"))
      .orderBy("triad_type")

  /** Below-the-cap kernel: enumerate support triangles in one task over
    * id-sorted packed adjacency and emit one (six-bit, count) row per
    * DISTINCT bit pattern with node roles a < b < c by dense index — at
    * most 64 rows leave the task, and [[triadLabel]] classifies them
    * exactly as it does the distributed frame (the label is
    * role-consistent for any fixed role assignment). The pair bits OR
    * together, so duplicate caller edges count once, as in the twin. */
  private def triadBits(g: Edges): Iterator[(Int, Int, Int, Int, Int, Int, Long)] = {
    val (us, vs) = (g.u, g.v)
    // pair bits keyed by (lo, hi) id pair; node ids dense-indexed
    val idx = scala.collection.mutable.LongMap.empty[Int]
    val m = us.length
    var i = 0
    while (i < m) {
      idx.getOrElseUpdate(us(i), idx.size)
      idx.getOrElseUpdate(vs(i), idx.size)
      i += 1
    }
    val n = idx.size
    val bits = scala.collection.mutable.LongMap.empty[Int]
    i = 0
    while (i < m) {
      val ui = idx(us(i)); val vi = idx(vs(i))
      val (lo, hi) = if (ui < vi) (ui, vi) else (vi, ui)
      val bit = if (ui < vi) 1 else 2 // 1 = lo→hi, 2 = hi→lo
      val k = lo.toLong * n + hi
      bits.update(k, bits.getOrElse(k, 0) | bit)
      i += 1
    }
    // CSR of id-ascending support neighbors hi > lo, each entry
    // PACKED as (hi << 2 | direction bits) so the triangle loop
    // below never hash-probes the pair map (r15: the previous form
    // tested every wedge pair (b, c) of every a-adjacency with a
    // LongMap lookup — Σ C(deg, 2) probes, the measured bulk of the
    // query's 2.2 s warm at sf0.1; sorted-merge intersection of
    // adj(a)>b with adj(b) enumerates exactly the same a<b<c
    // support triangles in Σ (deg(a)+deg(b)) comparisons, the
    // closedWedges discipline, with all six bits
    // read off the two merge cursors)
    val off = new Array[Int](n + 1)
    bits.foreachKey { k => off((k / n).toInt + 1) += 1 }
    i = 0; while (i < n) { off(i + 1) += off(i); i += 1 }
    val padj = new Array[Long](bits.size)
    val pos = off.clone()
    bits.foreach { case (k, b) =>
      val lo = (k / n).toInt
      padj(pos(lo)) = ((k % n) << 2) | b.toLong; pos(lo) += 1
    }
    i = 0
    while (i < n) {
      java.util.Arrays.sort(padj, off(i), off(i + 1))
      i += 1
    }
    // accumulate counts per 6-bit pattern (ab_f ab_r ac_f ac_r bc_f bc_r)
    val acc = new Array[Long](64)
    var a = 0
    while (a < n) {
      var p = off(a)
      while (p < off(a + 1)) {
        val b = (padj(p) >>> 2).toInt
        val ab = (padj(p) & 3L).toInt
        var q = p + 1
        var r = off(b)
        val qEnd = off(a + 1); val rEnd = off(b + 1)
        while (q < qEnd && r < rEnd) {
          val c1 = padj(q) >>> 2; val c2 = padj(r) >>> 2
          if (c1 == c2) {
            val ac = (padj(q) & 3L).toInt; val bc = (padj(r) & 3L).toInt
            val pat = ((ab & 1) << 5) | ((ab >> 1) << 4) |
              ((ac & 1) << 3) | ((ac >> 1) << 2) |
              ((bc & 1) << 1) | (bc >> 1)
            acc(pat) += 1L
            q += 1; r += 1
          } else if (c1 < c2) q += 1 else r += 1
        }
        p += 1
      }
      a += 1
    }
    (0 until 64).iterator.filter(acc(_) > 0L).map { pat =>
      (((pat >> 5) & 1), ((pat >> 4) & 1), ((pat >> 3) & 1),
        ((pat >> 2) & 1), ((pat >> 1) & 1), (pat & 1), acc(pat))
    }
  }

  /** Directed transitivity of the order-sequence digraph: of all directed
    * wedges u→v→w (u≠w), how many are closed by the shortcut u→w? High
    * closure means basket sequence is near-transitive (a consistent
    * global order exists); low closure means sequence is order-local —
    * the triad-level companion of [[graphReciprocity]]'s dyad test.
    * Counts exact, ratio in integer micro-units. */
  private def graphTransitivityDir(s: SparkSession, d: String): DataFrame =
    transitivityDirOnEdges(orderSeqEdges(s, d).select(col("u"), col("v")),
      GraphIterEdgeCap)

  /** The four scalars over a directed distinct-edge frame, gated on edge
    * count. At or below `cap` ALL FOUR (edge count, Σ in·out,
    * reciprocal-edge count, closed-wedge count) come out of ONE
    * in-memory CSR pass (r15): the distributed assembly runs four
    * separate sub-jobs — two degree rollups + a sort-merge left-semi
    * self-join + the gated closure kernel — and three crossJoins, ~2 s of
    * pure stage latency at sf0.1 on a graph that fits one task. Identical
    * Long arithmetic: paths2 = Σ_v indeg·outdeg (zero terms where either
    * degree is 0, exactly the distributed inner join's row set); n_recip
    * = directed edges whose reverse exists (each direction counted once,
    * the left-semi's semantics); both arms share the final projection.
    * StressSpec pins cap=0 parity of all four scalars. Above the cap the
    * distributed shape: degree rollups + semi join + oriented triangle
    * stream — each piece 100×-scale-safe, see the r8/r12 notes. */
  private[graft] def transitivityDirOnEdges(e: DataFrame, cap: Long): DataFrame =
    singleTask(e, cap, "n_edges", "paths2", "n_recip", "n_closed") { g =>
      val c = g.csr
      var paths2 = 0L
      var recip = 0L
      var j = 0
      while (j < c.n) {
        paths2 += c.inDeg(j).toLong * c.outDeg(j)
        var p = c.outOff(j)
        while (p < c.outOff(j + 1)) {
          if (c.hasEdge(c.outAdj(p), j)) recip += 1
          p += 1
        }
        j += 1
      }
      Iterator.single((g.u.length.toLong, paths2, recip, closedWedges(c)))
    } {
      // wedge COUNT needs no wedge frame: paths of length 2 = Σ_v in·out,
      // and the u = w ones are exactly the reciprocal edge pairs — two
      // degree rollups + one semi count instead of a 54M-row enumeration
      // (the enumerate-then-count first cut spent 38 s at sf0.1 sorting the
      // wedge frame through a merge join; this shape is ~1 s)
      val ind = e.groupBy(col("v").as("nd")).agg(count(lit(1)).as("ind"))
      val outd = e.groupBy(col("u").as("nd")).agg(count(lit(1)).as("outd"))
      val paths2 = ind.join(outd, Seq("nd"))
        .agg(sum(col("ind") * col("outd")).as("paths2"))
      val recip = e.join(e.select(col("v").as("ru"), col("u").as("rv")),
          col("u") === col("ru") && col("v") === col("rv"), "left_semi")
        .agg(count(lit(1)).as("n_recip"))
      // closure count: every closed wedge u→v→w (u→w present) has all three
      // underlying UNDIRECTED pairs present, i.e. it lives inside a triangle
      // of the undirected support graph — so enumerate support triangles
      // with the degree-ordered orientation (per-node oriented fan-out
      // O(√m), the graph_triangles discipline) and count, per triangle, how
      // many of its 6 vertex orderings are transitive from the three pairs'
      // direction bits. This replaces the r8 shape that streamed the FULL
      // directed wedge frame (Σ in·out = 54M rows at sf0.1, 12.75 s idle,
      // super-linear on skewed hubs) through a shuffle into a left-semi
      // probe; the oriented wedge stream is Σ C(d⁺,2) with d⁺ bounded by
      // orientation — 100×-scale-safe where the wedge stream was not.
      val closed = transitiveTriplesCount(e, cap)
      e.agg(count(lit(1)).as("n_edges"))
        .crossJoin(paths2).crossJoin(recip).crossJoin(closed)
    }.select(col("n_edges"),
      (col("paths2") - col("n_recip")).as("n_wedges"), col("n_closed"),
      expr("(1000000 * n_closed) DIV (paths2 - n_recip)")
        .as("transitivity_micro"))

  /** Bipartite projection of the user–event-type graph onto event types:
    * for every type pair, the number of SHARED users plus the exact
    * squared-cosine similarity of their user sets, 10⁶·w² DIV
    * (deg_a·deg_b) — squared so no sqrt enters the oracle. The "which
    * behaviors share an audience" projection a co-visitation analysis
    * starts from, and the one-mode collapse every bipartite dataset
    * (user×item, doc×token) eventually needs. Scale shape: the pair
    * explosion generates MAP-SIDE from per-user type sets (collect_set,
    * ≤|types| per user — the coPairs idiom, bounded fan-out, combines
    * before the only wide exchange); degrees ride in on a broadcast of
    * the |types|-row frame; the deg_a·deg_b product crosses Long at
    * 10⁹-user scale so it rides in DECIMAL(38,0). */
  private def bipartiteProj(s: SparkSession, d: String): DataFrame = {
    val ud = U.track(U.events(s, d)
      .select(col("user_id"), col("event_type")).distinct().persist())
    val deg = ud.groupBy(col("event_type")).agg(count(lit(1)).as("deg"))
    val pairs = ud.groupBy(col("user_id"))
      .agg(collect_set(col("event_type")).as("ts"))
      .select(explode(col("ts")).as("a"), col("ts"))
      .select(col("a"), explode(col("ts")).as("b"))
      .filter(col("a") < col("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("w"))
    pairs
      .join(broadcast(deg.select(col("event_type").as("ta"),
        col("deg").as("deg_a"))), col("a") === col("ta"))
      .join(broadcast(deg.select(col("event_type").as("tb"),
        col("deg").as("deg_b"))), col("b") === col("tb"))
      .select(col("a").as("type_a"), col("b").as("type_b"), col("w"),
        col("deg_a"), col("deg_b"),
        expr("CAST((CAST(w AS DECIMAL(38,0)) * w * 1000000) DIV " +
          "(CAST(deg_a AS DECIMAL(38,0)) * deg_b) AS BIGINT)")
          .as("cos2_micro"))
      .orderBy("type_a", "type_b")
  }

  /** Eccentricity of the 5 smallest-id nodes on the support-filtered
    * co-purchase graph: full BFS to FIXPOINT (not the closeness kernel's
    * fixed 3 hops) — eccentricity = the farthest shortest-path distance,
    * n_reached = the component size seen from the seed. The max
    * eccentricity over seeds lower-bounds the graph diameter — the
    * "how many Pregel supersteps will anything need" number. Driver loop
    * with the closenessOnAdj posture (frontier ≤ |V| rows per seed,
    * broadcast below the node cap, shuffle-hash above; first-discovery
    * anti-join keeps every hop's frontier strictly new), terminating on
    * an empty frontier with a 64-hop safety cap mirrored by the oracle's
    * bounded recursion — identical up to diameter 64, far past any real
    * co-purchase graph. Size-gated like [[kcoreOnAdj]]: below
    * [[GraphIterEdgeCap]] the whole BFS runs as ONE in-memory task (a
    * fixpoint driver loop pays per-round scheduling × diameter — measured
    * 64 s at sf0.1 — for a graph that fits a single executor's memory);
    * the distributed loop is the above-cap twin, parity-tested at cap=0
    * in Round12Spec. */
  private def graphEccentricity(s: SparkSession, d: String): DataFrame =
    eccentricityImpl(s, d, GraphIterEdgeCap)

  private[graft] def eccentricityImpl(s: SparkSession, d: String,
      cap: Long): DataFrame =
    eccentricityOn(wedgeFrames(s, d)._1, cap)

  private[graft] def eccentricityOn(adj: DataFrame, cap: Long): DataFrame =
    singleTask(adj, cap, "seed", "eccentricity", "n_reached") { g =>
      val c = g.csr
      c.sources.take(5).map { seed =>
        val h = c.hops(seed, 64)
        (c.ids(seed), h.max.toLong, h.count(_ >= 0) - 1L)
      }
    }(eccentricityOnAdj(adj, PrBroadcastNodeCap))
      .orderBy("seed")

  private[graft] def eccentricityOnAdj(adj: DataFrame,
      broadcastCap: Long): DataFrame = {
    val small = adj.select(col("u")).distinct().count() <= broadcastCap
    def gate(f: DataFrame): DataFrame =
      if (small) broadcast(f) else f.hint("shuffle_hash")
    val seeds = adj.select(col("u").as("seed")).distinct()
      .orderBy("seed").limit(5)
    var reached = U.track(seeds
      .select(col("seed"), col("seed").as("n"), lit(0L).as("dist"))
      .persist())
    var frontier = reached
    var h = 1L
    var growing = true
    while (growing && h <= 64L) {
      val next = adj
        .join(gate(frontier.select(col("seed"), col("n").as("u"))),
          Seq("u"))
        .select(col("seed"), col("v").as("n")).distinct()
        .join(gate(reached.select(col("seed"), col("n"))), Seq("seed", "n"),
          "left_anti")
        .withColumn("dist", lit(h))
      val np = U.track(next.persist())
      growing = np.count() > 0
      if (growing) {
        reached = U.track(reached.unionByName(np).persist())
        frontier = np
        h += 1
      }
    }
    reached.groupBy(col("seed"))
      .agg(max(col("dist")).as("eccentricity"),
        (count(lit(1)) - lit(1L)).as("n_reached"))
      .orderBy("seed")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "graph_eccentricity" -> graphEccentricity _,
    "graph_bipartite_proj" -> bipartiteProj _,
    "graph_triad_census" -> graphTriadCensus _,
    "graph_transitivity_dir" -> graphTransitivityDir _,
    "graph_walk_corpus" -> graphWalkCorpus _,
    "graph_skipgram_pairs" -> graphSkipgramPairs _,
    "graph_walk_biased" -> graphWalkBiased _,
    "graph_rich_club" -> graphRichClub _,
    "graph_knn_degree" -> graphKnnDegree _,
    "graph_scc" -> graphScc _,
    "graph_ktruss" -> graphKtruss _,
    "graph_reciprocity" -> graphReciprocity _,
    "graph_degree_gini" -> graphDegreeGini _,
    "graph_katz" -> graphKatz _,
    "graph_assortativity" -> graphAssortativity _,
    "graph_community_lp" -> graphCommunityLp _,
    "graph_conductance" -> graphConductance _,
    "graph_modularity" -> graphModularity _,
    "graph_mst" -> graphMst _,
    "graph_kcore" -> graphKcore _,
    "graph_clustcoeff" -> graphClustCoeff _,
    "graph_assoc_rules" -> graphAssocRules _,
    "graph_bfs_hops" -> graphBfsHops _,
    "graph_closeness_k" -> graphClosenessK _,
    "graph_pagerank" -> graphPagerank _,
    "graph_ppr" -> graphPpr _,
    "graph_hits" -> graphHits _,
    "graph_jaccard_nbrs" -> graphJaccardNbrs _,
    "graph_adamic_adar" -> graphAdamicAdar _,
    "graph_link_predict" -> graphLinkPredict _,
    "graph_ego_2hop" -> graphEgo2hop _,
    "graph_degree_dist" -> graphDegreeDist _,
    "graph_cc" -> graphCc _,
    "graph_triangles" -> graphTriangles _)

  /** The walk-corpus CTE chain ending at `walk(wid, step, node)` —
    * shared by the graph_walk_corpus and graph_skipgram_pairs oracles so
    * the corpus being embedded and its training pairs cannot drift. */
  private val walkCtes: String = {
    def hop(k: Int): String =
      s"s$k AS (SELECT wid, CAST($k AS BIGINT) AS step, r.v AS node " +
        s"FROM s${k - 1} p JOIN radj r ON r.u = p.node " +
        s"AND r.rk = (p.node * 31 + $k * 17) % r.deg)"
    "li AS (SELECT l_orderkey AS ok, l_partkey AS pk FROM lineitem), " +
      "e AS (SELECT DISTINCT a.pk AS u, b.pk AS v FROM li a " +
      "JOIN li b ON a.ok = b.ok AND a.pk < b.pk), " +
      "sym AS (SELECT u, v FROM e UNION ALL SELECT v AS u, u AS v FROM e), " +
      "radj AS (SELECT u, v, CAST(row_number() OVER (PARTITION BY u " +
      "ORDER BY v) - 1 AS BIGINT) AS rk, " +
      "CAST(COUNT(*) OVER (PARTITION BY u) AS BIGINT) AS deg FROM sym), " +
      "seeds AS (SELECT u FROM (SELECT u, COUNT(*) AS dg FROM sym " +
      "GROUP BY 1 ORDER BY dg DESC, u LIMIT 20)), " +
      "s0 AS (SELECT u AS wid, CAST(0 AS BIGINT) AS step, u AS node " +
      "FROM seeds), " +
      (1 to 6).map(hop).mkString(", ") + ", " +
      "walk AS (" +
      (0 to 6).map(k => s"SELECT wid, step, node FROM s$k")
        .mkString(" UNION ALL ") + ")"
  }

  val oracleSql: Map[String, String] = Map(
    "graph_eccentricity" ->
      (supAdjCtes.replaceFirst("WITH ", "WITH RECURSIVE ") + ", " +
        "seeds AS (SELECT u AS seed FROM (SELECT DISTINCT u FROM adj) " +
        "ORDER BY seed LIMIT 5), " +
        // bounded recursion: dist grows every level, so the 64-hop guard
        // guarantees termination even through cycles; MIN(dist) below
        // recovers the BFS shortest distance
        "reach(seed, n, dist) AS (" +
        "SELECT seed, seed, CAST(0 AS BIGINT) FROM seeds " +
        "UNION " +
        "SELECT r.seed, a.v, r.dist + 1 FROM reach r " +
        "JOIN adj a ON a.u = r.n WHERE r.dist < 64), " +
        "md AS (SELECT seed, n, MIN(dist) AS d FROM reach GROUP BY 1, 2) " +
        "SELECT seed, CAST(MAX(d) AS BIGINT) AS eccentricity, " +
        "CAST(COUNT(*) - 1 AS BIGINT) AS n_reached " +
        "FROM md GROUP BY 1 ORDER BY seed"),
    "graph_bipartite_proj" ->
      ("WITH ud AS (SELECT DISTINCT user_id, event_type FROM events), " +
        "deg AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS deg " +
        "FROM ud GROUP BY 1), " +
        "pr AS (SELECT a.event_type AS type_a, b.event_type AS type_b, " +
        "CAST(COUNT(*) AS BIGINT) AS w FROM ud a JOIN ud b " +
        "ON a.user_id = b.user_id AND a.event_type < b.event_type " +
        "GROUP BY 1, 2) " +
        "SELECT type_a, type_b, w, da.deg AS deg_a, db.deg AS deg_b, " +
        "CAST((CAST(w AS DECIMAL(38,0)) * w * 1000000) // " +
        "(CAST(da.deg AS DECIMAL(38,0)) * db.deg) AS BIGINT) " +
        "AS cos2_micro FROM pr " +
        "JOIN deg da ON pr.type_a = da.event_type " +
        "JOIN deg db ON pr.type_b = db.event_type " +
        "ORDER BY type_a, type_b"),
    "graph_triad_census" -> {
      val m = "ab_f*ab_r + ac_f*ac_r + bc_f*bc_r"
      val t = "ab_f*bc_f*ac_f + ac_f*bc_r*ab_f + ab_r*ac_f*bc_f + " +
        "bc_f*ac_r*ab_r + ac_r*ab_f*bc_r + bc_r*ab_r*ac_r"
      val sIn = "CASE WHEN ab_f*ab_r = 1 THEN ac_r + bc_r " +
        "WHEN ac_f*ac_r = 1 THEN ab_r + bc_f ELSE ab_f + ac_f END"
      "WITH li AS (SELECT l_orderkey AS ok, l_partkey AS pk, " +
        "l_linenumber AS ln FROM lineitem), " +
        "e AS (SELECT DISTINCT a.pk AS u, b.pk AS v FROM li a " +
        "JOIN li b ON a.ok = b.ok AND a.ln < b.ln AND a.pk <> b.pk), " +
        "p AS (SELECT least(u, v) AS a, greatest(u, v) AS b, " +
        "CAST(MAX(CASE WHEN u < v THEN 1 ELSE 0 END) AS BIGINT) AS f, " +
        "CAST(MAX(CASE WHEN u > v THEN 1 ELSE 0 END) AS BIGINT) AS r " +
        "FROM e GROUP BY 1, 2), " +
        "tri AS (SELECT p1.f AS ab_f, p1.r AS ab_r, p2.f AS ac_f, " +
        "p2.r AS ac_r, p3.f AS bc_f, p3.r AS bc_r " +
        "FROM p p1 JOIN p p2 ON p2.a = p1.a AND p2.b > p1.b " +
        "JOIN p p3 ON p3.a = p1.b AND p3.b = p2.b) " +
        s"SELECT CASE WHEN $m = 3 THEN '300' WHEN $m = 2 THEN '210' " +
        s"WHEN $m = 0 THEN (CASE WHEN $t >= 1 THEN '030T' ELSE '030C' END) " +
        s"ELSE (CASE WHEN $sIn = 2 THEN '120D' WHEN $sIn = 0 THEN '120U' " +
        "ELSE '120C' END) END AS triad_type, " +
        "CAST(COUNT(*) AS BIGINT) AS n_triads " +
        "FROM tri GROUP BY 1 ORDER BY 1"
    },
    "graph_transitivity_dir" ->
      ("WITH li AS (SELECT l_orderkey AS ok, l_partkey AS pk, " +
        "l_linenumber AS ln FROM lineitem), " +
        "e AS (SELECT DISTINCT a.pk AS u, b.pk AS v FROM li a " +
        "JOIN li b ON a.ok = b.ok AND a.ln < b.ln AND a.pk <> b.pk), " +
        "w AS (SELECT a.u, b.v AS w FROM e a JOIN e b ON a.v = b.u " +
        "WHERE a.u <> b.v) " +
        "SELECT n_edges, n_wedges, n_closed, " +
        "(1000000 * n_closed) // n_wedges AS transitivity_micro FROM " +
        "(SELECT CAST(COUNT(*) AS BIGINT) AS n_edges FROM e) CROSS JOIN " +
        "(SELECT CAST(COUNT(*) AS BIGINT) AS n_wedges FROM w) CROSS JOIN " +
        // e is DISTINCT, so this equi-join matches each wedge at most
        // once — a semi-join expressed as a plain join
        "(SELECT CAST(COUNT(*) AS BIGINT) AS n_closed FROM w " +
        "JOIN e ON w.u = e.u AND w.w = e.v)"),
    "graph_walk_corpus" ->
      (s"WITH $walkCtes " +
        "SELECT wid, step, node FROM walk ORDER BY wid, step"),
    "graph_walk_biased" -> {
      def hop(k: Int): String =
        s"w$k AS (SELECT p.wid, p.node AS cur, p.prev, r.v, " +
          "CASE WHEN r.v = p.prev THEN 1 " +
          "WHEN ce.v IS NOT NULL THEN 2 ELSE 1 END AS w " +
          s"FROM b${k - 1} p JOIN sym r ON r.u = p.node " +
          "LEFT JOIN sym ce ON ce.u = p.prev AND ce.v = r.v), " +
          s"c$k AS (SELECT wid, cur, v, w, " +
          "SUM(w) OVER (PARTITION BY wid ORDER BY v) AS cw, " +
          s"SUM(w) OVER (PARTITION BY wid) AS tw FROM w$k), " +
          s"b$k AS (SELECT wid, CAST($k AS BIGINT) AS step, v AS node, " +
          s"cur AS prev FROM c$k WHERE cw - w <= (cur * 31 + $k * 17) % tw " +
          s"AND (cur * 31 + $k * 17) % tw < cw)"
      "WITH li AS (SELECT l_orderkey AS ok, l_partkey AS pk FROM lineitem), " +
        "e AS (SELECT DISTINCT a.pk AS u, b.pk AS v FROM li a " +
        "JOIN li b ON a.ok = b.ok AND a.pk < b.pk), " +
        "sym AS (SELECT u, v FROM e UNION ALL SELECT v AS u, u AS v FROM e), " +
        "radj AS (SELECT u, v, CAST(row_number() OVER (PARTITION BY u " +
        "ORDER BY v) - 1 AS BIGINT) AS rk, " +
        "CAST(COUNT(*) OVER (PARTITION BY u) AS BIGINT) AS deg FROM sym), " +
        "seeds AS (SELECT u FROM (SELECT u, COUNT(*) AS dg FROM sym " +
        "GROUP BY 1 ORDER BY dg DESC, u LIMIT 20)), " +
        "b0 AS (SELECT u AS wid, CAST(0 AS BIGINT) AS step, u AS node " +
        "FROM seeds), " +
        "b1 AS (SELECT p.wid, CAST(1 AS BIGINT) AS step, r.v AS node, " +
        "p.node AS prev FROM b0 p JOIN radj r ON r.u = p.node " +
        "AND r.rk = (p.node * 31 + 17) % r.deg), " +
        (2 to 6).map(hop).mkString(", ") + " " +
        "SELECT wid, step, node FROM b0 " +
        (1 to 6).map(k => s"UNION ALL SELECT wid, step, node FROM b$k")
          .mkString(" ", " ", " ") +
        "ORDER BY wid, step"
    },
    "graph_skipgram_pairs" ->
      (s"WITH $walkCtes " +
        "SELECT a.node AS center, b.node AS context, " +
        "CAST(COUNT(*) AS BIGINT) AS n_cooc " +
        "FROM walk a JOIN walk b ON a.wid = b.wid " +
        "AND abs(a.step - b.step) BETWEEN 1 AND 2 " +
        "GROUP BY 1, 2 ORDER BY center, context"),
    "graph_knn_degree" ->
      ("WITH li AS (SELECT l_orderkey AS ok, l_partkey AS pk FROM lineitem), " +
        "e AS (SELECT DISTINCT a.pk AS u, b.pk AS v FROM li a " +
        "JOIN li b ON a.ok = b.ok AND a.pk < b.pk), " +
        "sym AS (SELECT u, v FROM e UNION ALL SELECT v AS u, u AS v FROM e), " +
        "deg AS (SELECT u, CAST(COUNT(*) AS BIGINT) AS deg FROM sym " +
        "GROUP BY 1), " +
        "nbr AS (SELECT s.u AS nu, SUM(dv.deg) AS sum_nbr FROM sym s " +
        "JOIN deg dv ON s.v = dv.u GROUP BY 1) " +
        "SELECT d.deg AS k, CAST(COUNT(*) AS BIGINT) AS n_nodes, " +
        "CAST(SUM(n.sum_nbr) AS DOUBLE) / " +
        "(CAST(d.deg AS DOUBLE) * COUNT(*)) AS knn " +
        "FROM deg d JOIN nbr n ON d.u = n.nu GROUP BY 1 ORDER BY k"),
    "graph_rich_club" ->
      ("WITH li AS (SELECT l_orderkey AS ok, l_partkey AS pk FROM lineitem), " +
        "e AS (SELECT DISTINCT a.pk AS u, b.pk AS v FROM li a " +
        "JOIN li b ON a.ok = b.ok AND a.pk < b.pk), " +
        "deg AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS deg FROM " +
        "(SELECT u AS node FROM e UNION ALL SELECT v AS node FROM e) " +
        "GROUP BY 1), " +
        "ks AS (SELECT CAST(unnest([2, 4, 8, 16, 32]) AS BIGINT) AS k), " +
        "nk AS (SELECT k, CAST(COUNT(*) AS BIGINT) AS n_k FROM deg " +
        "CROSS JOIN ks WHERE deg > k GROUP BY 1), " +
        "ek AS (SELECT k, CAST(COUNT(*) AS BIGINT) AS e_k FROM e " +
        "JOIN deg du ON e.u = du.node JOIN deg dv ON e.v = dv.node " +
        "CROSS JOIN ks WHERE du.deg > k AND dv.deg > k GROUP BY 1) " +
        "SELECT k, n_k, COALESCE(e_k, CAST(0 AS BIGINT)) AS e_k, " +
        "CASE WHEN n_k > 1 THEN CAST(2 * COALESCE(e_k, 0) AS DOUBLE) / " +
        "(CAST(n_k AS DOUBLE) * CAST(n_k - 1 AS DOUBLE)) ELSE NULL END " +
        "AS phi FROM nk LEFT JOIN ek USING (k) ORDER BY k"),
    "graph_reciprocity" ->
      ("WITH li AS (SELECT l_orderkey AS ok, l_partkey AS pk, " +
        "l_linenumber AS ln FROM lineitem), " +
        "e AS (SELECT DISTINCT a.pk AS u, b.pk AS v FROM li a " +
        "JOIN li b ON a.ok = b.ok AND a.ln < b.ln AND a.pk <> b.pk) " +
        "SELECT n_edges, n_reciprocal, " +
        "(1000000 * n_reciprocal) // n_edges AS recip_micro FROM " +
        "(SELECT CAST(COUNT(*) AS BIGINT) AS n_edges FROM e) CROSS JOIN " +
        "(SELECT CAST(COUNT(*) AS BIGINT) AS n_reciprocal FROM e x " +
        "JOIN e y ON x.u = y.v AND x.v = y.u)"),
    "graph_scc" ->
      ("WITH RECURSIVE li AS (SELECT l_orderkey AS ok, l_partkey AS pk, " +
        "l_linenumber AS ln FROM lineitem), " +
        "e0 AS (SELECT DISTINCT a.pk AS u, b.pk AS v FROM li a " +
        "JOIN li b ON a.ok = b.ok AND a.ln < b.ln AND a.pk <> b.pk), " +
        "top AS (SELECT n FROM (SELECT n, COUNT(*) AS dg FROM " +
        "(SELECT u AS n FROM e0 UNION ALL SELECT v AS n FROM e0) " +
        s"GROUP BY n) ORDER BY dg DESC, n LIMIT $SccNodeCap), " +
        "e AS (SELECT u, v FROM e0 WHERE u IN (SELECT n FROM top) " +
        "AND v IN (SELECT n FROM top)), " +
        "reach(a, b) AS (SELECT n, n FROM top " +
        "UNION SELECT r.a, e.v FROM reach r JOIN e ON r.b = e.u), " +
        "mut AS (SELECT r1.a, r1.b FROM reach r1 " +
        "JOIN reach r2 ON r2.a = r1.b AND r2.b = r1.a), " +
        "scc AS (SELECT a AS node, MIN(b) AS scc_id FROM mut GROUP BY a), " +
        "sz AS (SELECT scc_id AS sid, CAST(COUNT(*) AS BIGINT) AS scc_size " +
        "FROM scc GROUP BY 1) " +
        "SELECT node, scc_id, scc_size FROM scc JOIN sz ON scc_id = sid " +
        "ORDER BY node"),
    "graph_ktruss" -> {
      // MATERIALIZED is load-bearing: each round references its
      // predecessor 3×, so inlined CTEs would re-expand 3^8 scans of the
      // base table (DuckDB then dies on open file handles)
      def round(i: Int) =
        s"a$i AS MATERIALIZED (SELECT u, v FROM t${i - 1} UNION ALL " +
          s"SELECT v AS u, u AS v FROM t${i - 1}), " +
          s"t$i AS MATERIALIZED (SELECT e.u, e.v FROM t${i - 1} e " +
          s"JOIN a$i x ON x.u = e.u JOIN a$i y ON y.u = e.v AND y.v = x.v " +
          "GROUP BY e.u, e.v HAVING COUNT(*) >= 1)"
      supAdjCtes + ", " +
        "t0 AS MATERIALIZED (SELECT u, v FROM sup), " +
        (1 to 8).map(round).mkString(", ") + ", " +
        "a9 AS (SELECT u, v FROM t8 UNION ALL SELECT v AS u, u AS v FROM t8) " +
        "SELECT e.u, e.v, CAST(COUNT(*) AS BIGINT) AS support FROM t8 e " +
        "JOIN a9 x ON x.u = e.u JOIN a9 y ON y.u = e.v AND y.v = x.v " +
        "GROUP BY e.u, e.v ORDER BY e.u, e.v"
    },
    "graph_kcore" ->
      (supAdjCtes + ", " +
        "k0 AS (SELECT DISTINCT u FROM adj), " +
        (1 to 8).map(i => s"k$i AS (${kcoreIter.format(s"k${i - 1}")})")
          .mkString(", ") + ", " +
        "core AS (SELECT a.u AS u, COUNT(*) AS degree FROM adj a " +
        "JOIN k8 x ON a.u = x.u JOIN k8 y ON a.v = y.u GROUP BY a.u) " +
        "SELECT degree, CAST(COUNT(*) AS BIGINT) AS n_nodes FROM core " +
        "GROUP BY degree ORDER BY degree"),
    "graph_assortativity" ->
      (supAdjCtes + ", " +
        "deg AS (SELECT u AS n, CAST(COUNT(*) AS BIGINT) AS deg FROM adj " +
        "GROUP BY u), " +
        "e AS (SELECT a.deg AS du, b.deg AS dv FROM adj " +
        "JOIN deg a ON adj.u = a.n JOIN deg b ON adj.v = b.n), " +
        "ps AS (SELECT CAST(COUNT(*) AS DOUBLE) AS nd, " +
        "CAST(SUM(du) AS DOUBLE) AS sx, CAST(SUM(dv) AS DOUBLE) AS sy, " +
        "CAST(SUM(du * du) AS DOUBLE) AS sxx, " +
        "CAST(SUM(dv * dv) AS DOUBLE) AS syy, " +
        "CAST(SUM(du * dv) AS DOUBLE) AS sxy FROM e) " +
        "SELECT CAST(nd AS BIGINT) AS n_edges, " +
        s"(${OSQL.covPowerSums("sxy", "sx", "sy", "nd")}) / " +
        s"(sqrt(${OSQL.covPowerSums("sxx", "sx", "sx", "nd")}) * " +
        s"sqrt(${OSQL.covPowerSums("syy", "sy", "sy", "nd")})) " +
        "AS assortativity FROM ps"),
    "graph_community_lp" ->
      (supAdjCtes + ", " + lpaCtes + " " +
        "SELECT lbl AS community, CAST(COUNT(*) AS BIGINT) AS n_nodes " +
        "FROM l3 GROUP BY lbl ORDER BY n_nodes DESC, community"),
    "graph_closeness_k" -> {
      // one BFS round: frontier expansion + first-discovery anti-join
      def round(prevReach: String, prevFront: String, h: Int): String =
        s"f$h AS (SELECT DISTINCT r.seed, a.v AS n FROM adj a " +
          s"JOIN $prevFront r ON a.u = r.n), " +
          s"n$h AS (SELECT f$h.seed, f$h.n, CAST($h AS BIGINT) AS dist " +
          s"FROM f$h WHERE NOT EXISTS (SELECT 1 FROM $prevReach p " +
          s"WHERE p.seed = f$h.seed AND p.n = f$h.n)), " +
          s"r$h AS (SELECT * FROM $prevReach UNION ALL SELECT * FROM n$h)"
      supAdjCtes + ", " +
        "seeds AS (SELECT u AS seed FROM (SELECT DISTINCT u FROM adj) " +
        "ORDER BY seed LIMIT 5), " +
        "r0 AS (SELECT seed, seed AS n, CAST(0 AS BIGINT) AS dist " +
        "FROM seeds), " +
        s"${round("r0", "r0", 1)}, " +
        s"${round("r1", "n1", 2)}, " +
        s"${round("r2", "n2", 3)} " +
        "SELECT n AS node, CAST(COUNT(*) AS BIGINT) AS n_seeds, " +
        "CAST(SUM(1000000 // dist) AS BIGINT) AS harmonic_micro " +
        "FROM r3 WHERE dist > 0 GROUP BY n " +
        "ORDER BY harmonic_micro DESC, node LIMIT 50"
    },
    "graph_conductance" ->
      (supAdjCtes + ", " + lpaCtes + ", " +
        "mrow AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM adj), " +
        "j AS (SELECT lu.lbl AS cu, lv.lbl AS cv FROM adj " +
        "JOIN l3 lu ON adj.u = lu.node JOIN l3 lv ON adj.v = lv.node), " +
        "comm AS (SELECT cu AS community, CAST(COUNT(*) AS BIGINT) AS vol, " +
        "CAST(SUM(CASE WHEN cu <> cv THEN 1 ELSE 0 END) AS BIGINT) AS cut " +
        "FROM j GROUP BY cu), " +
        "nn AS (SELECT lbl AS community, CAST(COUNT(*) AS BIGINT) " +
        "AS n_nodes FROM l3 GROUP BY lbl) " +
        "SELECT community, n_nodes, vol, cut, " +
        "CASE WHEN least(vol, m - vol) > 0 THEN " +
        "CAST((1000000 * cut) // least(vol, m - vol) AS BIGINT) END " +
        "AS conductance_micro " +
        "FROM comm JOIN nn USING (community) CROSS JOIN mrow " +
        "ORDER BY community"),
    "graph_modularity" ->
      (supAdjCtes + ", " + lpaCtes + ", " +
        "mrow AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM adj), " +
        "j AS (SELECT lu.lbl AS cu, lv.lbl AS cv FROM adj " +
        "JOIN l3 lu ON adj.u = lu.node JOIN l3 lv ON adj.v = lv.node), " +
        "comm AS (SELECT cu AS community, CAST(COUNT(*) AS BIGINT) " +
        "AS deg_sum, CAST(SUM(CASE WHEN cu = cv THEN 1 ELSE 0 END) " +
        "AS BIGINT) AS intra_dir FROM j GROUP BY cu), " +
        "t AS (SELECT community, deg_sum, intra_dir, m, " +
        "CAST(floor(1000000000000 * (CAST(intra_dir AS DOUBLE) / m - " +
        "(CAST(deg_sum AS DOUBLE) / m) * (CAST(deg_sum AS DOUBLE) / m))) " +
        "AS BIGINT) AS term_pico FROM comm CROSS JOIN mrow) " +
        "SELECT CAST(COUNT(*) AS BIGINT) AS n_communities, " +
        "CAST(MAX(m) AS BIGINT) AS n_edges_dir, " +
        "CAST(SUM(term_pico) AS BIGINT) AS q_pico, " +
        "CAST(SUM(term_pico) AS DOUBLE) / 1000000000000.0 AS modularity " +
        "FROM t"),
    "graph_mst" ->
      ("WITH RECURSIVE li AS (SELECT l_orderkey AS ok, l_partkey AS pk " +
        "FROM lineitem), " +
        "sup AS (SELECT u, v, CAST(COUNT(*) AS BIGINT) AS support FROM " +
        "(SELECT DISTINCT a.ok AS ok, a.pk AS u, b.pk AS v FROM li a " +
        "JOIN li b ON a.ok = b.ok AND a.pk < b.pk) " +
        "GROUP BY u, v HAVING COUNT(*) >= 2), " +
        "cand AS (SELECT u AS x, u AS a, v AS b, support FROM sup " +
        "UNION ALL SELECT v AS x, u AS a, v AS b, support FROM sup), " +
        "p1 AS (SELECT a, b, support, row_number() OVER (PARTITION BY x " +
        "ORDER BY support DESC, a, b) AS rn FROM cand), " +
        "e1 AS (SELECT DISTINCT a AS u, b AS v, support FROM p1 " +
        "WHERE rn = 1), " +
        "edges1 AS (SELECT u, v FROM e1 UNION ALL SELECT v AS u, u AS v " +
        "FROM e1), " +
        "nodes AS (SELECT DISTINCT u AS n FROM edges1), " +
        "reach(a, b) AS (SELECT n, n FROM nodes " +
        "UNION SELECT r.a, e.v FROM reach r JOIN edges1 e ON r.b = e.u), " +
        "lab AS (SELECT a AS node, MIN(b) AS component FROM reach " +
        "GROUP BY a), " +
        "wc AS (SELECT s.u, s.v, s.support, lu.component AS cu, " +
        "lv.component AS cv FROM sup s JOIN lab lu ON s.u = lu.node " +
        "JOIN lab lv ON s.v = lv.node WHERE lu.component <> lv.component), " +
        "cand2 AS (SELECT cu AS c, u AS a, v AS b, support FROM wc " +
        "UNION ALL SELECT cv AS c, u AS a, v AS b, support FROM wc), " +
        "p2 AS (SELECT a, b, support, row_number() OVER (PARTITION BY c " +
        "ORDER BY support DESC, a, b) AS rn FROM cand2), " +
        "e2 AS (SELECT DISTINCT a AS u, b AS v, support FROM p2 " +
        "WHERE rn = 1) " +
        "SELECT u, v, support, CAST(1 AS BIGINT) AS round FROM e1 " +
        "UNION ALL SELECT u, v, support, CAST(2 AS BIGINT) AS round FROM e2 " +
        "ORDER BY u, v"),
    "graph_clustcoeff" ->
      (supAdjCtes + ", " +
        "deg AS (SELECT u AS node, COUNT(*) AS degree FROM adj GROUP BY u), " +
        "wed AS (SELECT a.u AS x, b.u AS y, a.v AS w FROM adj a " +
        "JOIN adj b ON a.v = b.v AND a.u < b.u), " +
        "closed AS (SELECT w AS node, COUNT(*) AS n_tri FROM wed " +
        "JOIN sup ON wed.x = sup.u AND wed.y = sup.v GROUP BY w) " +
        "SELECT d.node, d.degree, coalesce(n_tri, 0) AS n_tri, " +
        "CAST(coalesce(n_tri, 0) * 2 AS DOUBLE) / " +
        "CAST(d.degree * (d.degree - 1) AS DOUBLE) AS clust_coeff " +
        "FROM deg d LEFT JOIN closed c ON d.node = c.node " +
        "WHERE d.degree >= 2 ORDER BY clust_coeff DESC, d.node"),
    "graph_assoc_rules" ->
      ("WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk " +
        "FROM lineitem), " +
        "sup AS (SELECT u, v, CAST(COUNT(*) AS BIGINT) AS support FROM " +
        "(SELECT DISTINCT a.ok AS ok, a.pk AS u, b.pk AS v FROM li a " +
        "JOIN li b ON a.ok = b.ok AND a.pk < b.pk) " +
        "GROUP BY u, v HAVING COUNT(*) >= 2), " +
        "r AS (SELECT u, v, support FROM sup " +
        "UNION ALL SELECT v AS u, u AS v, support FROM sup), " +
        "pc AS (SELECT pk, CAST(COUNT(*) AS BIGINT) AS cnt FROM li " +
        "GROUP BY pk), " +
        "n AS (SELECT CAST(COUNT(DISTINCT ok) AS BIGINT) AS n_orders " +
        "FROM li) " +
        "SELECT r.u, r.v, support, a.cnt AS cnt_u, b.cnt AS cnt_v, " +
        "(1000000 * support) // a.cnt AS conf_micro, " +
        "(1000000 * support * n_orders) // (a.cnt * b.cnt) AS lift_micro " +
        "FROM r JOIN pc a ON r.u = a.pk JOIN pc b ON r.v = b.pk " +
        "CROSS JOIN n " +
        "ORDER BY conf_micro DESC, lift_micro DESC, u, v"),
    "graph_bfs_hops" ->
      (supAdjCtes + ", " +
        "src AS (SELECT MIN(u) AS n FROM adj HAVING COUNT(*) > 0), " +
        "h1 AS (SELECT DISTINCT a.v AS n FROM adj a JOIN src s ON a.u = s.n), " +
        "h2 AS (SELECT DISTINCT a.v AS n FROM adj a JOIN h1 f ON a.u = f.n), " +
        "h3 AS (SELECT DISTINCT a.v AS n FROM adj a JOIN h2 f ON a.u = f.n), " +
        "alls AS (SELECT n, CAST(0 AS BIGINT) AS hops FROM src " +
        "UNION ALL SELECT n, CAST(1 AS BIGINT) FROM h1 " +
        "UNION ALL SELECT n, CAST(2 AS BIGINT) FROM h2 " +
        "UNION ALL SELECT n, CAST(3 AS BIGINT) FROM h3) " +
        "SELECT n AS node, CAST(MIN(hops) AS BIGINT) AS hops FROM alls " +
        "GROUP BY n ORDER BY hops, node"),
    "graph_cc" ->
      ("WITH RECURSIVE li AS (SELECT l_orderkey AS ok, l_partkey AS pk " +
        "FROM lineitem), " +
        "sup AS (SELECT u, v FROM (SELECT DISTINCT a.ok AS ok, a.pk AS u, " +
        "b.pk AS v FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk) " +
        "GROUP BY u, v HAVING COUNT(*) >= 2), " +
        "edges AS (SELECT u, v FROM sup UNION ALL SELECT v, u FROM sup), " +
        "nodes AS (SELECT DISTINCT u AS n FROM edges), " +
        "reach(a, b) AS (SELECT n, n FROM nodes " +
        "UNION SELECT r.a, e.v FROM reach r JOIN edges e ON r.b = e.u), " +
        "lab AS (SELECT a AS node, MIN(b) AS component FROM reach " +
        "GROUP BY a) " +
        "SELECT component, COUNT(*) AS n_nodes FROM lab " +
        "GROUP BY component ORDER BY n_nodes DESC, component"),
    "graph_degree_gini" ->
      ("WITH li AS (SELECT l_orderkey AS ok, l_partkey AS pk FROM lineitem), " +
        "edges AS (SELECT DISTINCT a.pk AS u, b.pk AS v FROM li a " +
        "JOIN li b ON a.ok = b.ok AND a.pk <> b.pk), " +
        "deg AS (SELECT u, CAST(COUNT(*) AS BIGINT) AS deg FROM edges " +
        "GROUP BY u), " +
        "r AS (SELECT u, deg, CAST(row_number() OVER (ORDER BY deg, u) " +
        "AS BIGINT) AS i FROM deg) " +
        "SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes, " +
        "CAST(SUM(deg) AS BIGINT) AS sum_deg, " +
        "CAST((1000000 * (2 * SUM(i * deg) - (COUNT(*) + 1) * SUM(deg))) " +
        "// (COUNT(*) * SUM(deg)) AS BIGINT) AS gini_micro FROM r"),
    "graph_katz" ->
      ("WITH li AS (SELECT l_orderkey AS ok, l_partkey AS pk FROM lineitem), " +
        "edges AS (SELECT DISTINCT a.pk AS u, b.pk AS v FROM li a " +
        "JOIN li b ON a.ok = b.ok AND a.pk <> b.pk), " +
        "ind AS (SELECT v AS n, CAST(COUNT(*) AS BIGINT) AS ind " +
        "FROM edges GROUP BY v), " +
        "p2 AS (SELECT e.v AS n2, CAST(SUM(i.ind) AS BIGINT) AS p2 " +
        "FROM edges e JOIN ind i ON e.u = i.n GROUP BY e.v) " +
        "SELECT n AS node, CAST(1000000 + (1000000 * ind) // 8 + " +
        "(1000000 * COALESCE(p2, 0)) // 64 AS BIGINT) AS katz_micro " +
        "FROM ind LEFT JOIN p2 ON n = n2 " +
        "ORDER BY katz_micro DESC, node LIMIT 50"),
    "graph_pagerank" ->
      ("WITH li AS (SELECT l_orderkey AS ok, l_partkey AS pk FROM lineitem), " +
        "edges AS (SELECT DISTINCT a.pk AS u, b.pk AS v FROM li a " +
        "JOIN li b ON a.ok = b.ok AND a.pk <> b.pk), " +
        "deg AS (SELECT u AS du, COUNT(*) AS deg FROM edges GROUP BY u), " +
        "e AS (SELECT u, v, deg FROM edges JOIN deg ON u = du), " +
        "r0 AS (SELECT DISTINCT u AS node, CAST(1000000 AS BIGINT) AS pr " +
        "FROM e), " +
        s"r1 AS (${prIter.format("r0")}), " +
        s"r2 AS (${prIter.format("r1")}), " +
        s"r3 AS (${prIter.format("r2")}) " +
        "SELECT node, pr FROM r3 ORDER BY pr DESC, node LIMIT 50"),
    "graph_ppr" -> {
      // %% : literal % survives the .format() that splices the rank CTE
      val pprIter = "SELECT v AS node, " +
        "CAST((CASE WHEN v %% 97 = 0 THEN 150000 ELSE 0 END) + " +
        "(85 * SUM(pr // deg)) // 100 AS BIGINT) AS pr " +
        "FROM e JOIN %s ON u = node GROUP BY v"
      "WITH li AS (SELECT l_orderkey AS ok, l_partkey AS pk FROM lineitem), " +
        "edges AS (SELECT DISTINCT a.pk AS u, b.pk AS v FROM li a " +
        "JOIN li b ON a.ok = b.ok AND a.pk <> b.pk), " +
        "deg AS (SELECT u AS du, COUNT(*) AS deg FROM edges GROUP BY u), " +
        "e AS (SELECT u, v, deg FROM edges JOIN deg ON u = du), " +
        "r0 AS (SELECT DISTINCT u AS node, CAST(CASE WHEN u % 97 = 0 " +
        "THEN 1000000 ELSE 0 END AS BIGINT) AS pr FROM e), " +
        s"r1 AS (${pprIter.format("r0")}), " +
        s"r2 AS (${pprIter.format("r1")}), " +
        s"r3 AS (${pprIter.format("r2")}) " +
        "SELECT node, pr FROM r3 WHERE pr > 0 " +
        "ORDER BY pr DESC, node LIMIT 50"
    },
    "graph_hits" ->
      ("WITH li AS (SELECT l_orderkey AS ok, l_partkey AS pk FROM lineitem), " +
        "edges AS (SELECT DISTINCT a.pk AS u, b.pk AS v FROM li a " +
        "JOIN li b ON a.ok = b.ok AND a.pk <> b.pk), " +
        // h0 = 1e6 uniformly, so the first authority pass is exactly
        // 1e6 * indegree — no initial rank frame
        "a1r AS (SELECT v, 1000000 * COUNT(*) AS ar FROM edges " +
        "GROUP BY v), " +
        "a1 AS (SELECT v AS node, CAST((ar * 1000000) // " +
        "(SELECT MAX(ar) FROM a1r) AS BIGINT) AS a FROM a1r), " +
        "h1r AS (SELECT u, SUM(a) AS hr FROM edges JOIN a1 ON v = node " +
        "GROUP BY u), " +
        "h1 AS (SELECT u AS node, CAST((hr * 1000000) // " +
        "(SELECT MAX(hr) FROM h1r) AS BIGINT) AS h FROM h1r), " +
        "a2r AS (SELECT v, SUM(h) AS ar FROM edges JOIN h1 ON u = node " +
        "GROUP BY v), " +
        "a2 AS (SELECT v AS node, CAST((ar * 1000000) // " +
        "(SELECT MAX(ar) FROM a2r) AS BIGINT) AS a FROM a2r), " +
        "h2r AS (SELECT u, SUM(a) AS hr FROM edges JOIN a2 ON v = node " +
        "GROUP BY u), " +
        "h2 AS (SELECT u AS node, CAST((hr * 1000000) // " +
        "(SELECT MAX(hr) FROM h2r) AS BIGINT) AS h FROM h2r) " +
        "SELECT h2.node, h2.h, a2.a FROM h2 JOIN a2 USING (node) " +
        "ORDER BY a DESC, node LIMIT 50"),
    "graph_degree_dist" ->
      ("WITH li AS (SELECT l_orderkey AS ok, l_partkey AS pk FROM lineitem), " +
        "edges AS (SELECT DISTINCT a.pk AS u, b.pk AS v FROM li a " +
        "JOIN li b ON a.ok = b.ok AND a.pk <> b.pk), " +
        "deg AS (SELECT u, COUNT(*) AS degree FROM edges GROUP BY u) " +
        "SELECT degree, COUNT(*) AS n_nodes FROM deg " +
        "GROUP BY degree ORDER BY degree"),
    "graph_jaccard_nbrs" ->
      ("WITH li AS (SELECT l_orderkey AS ok, l_partkey AS pk FROM lineitem), " +
        "sup AS (SELECT u, v FROM (SELECT DISTINCT a.ok AS ok, a.pk AS u, " +
        "b.pk AS v FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk) " +
        "GROUP BY u, v HAVING COUNT(*) >= 2), " +
        "adj AS (SELECT u, v FROM sup UNION ALL SELECT v AS u, u AS v FROM sup), " +
        "deg AS (SELECT u AS n, COUNT(*) AS deg FROM adj GROUP BY u), " +
        "wed AS (SELECT a.u AS x, b.u AS y, COUNT(*) AS common FROM adj a " +
        "JOIN adj b ON a.v = b.v AND a.u < b.u GROUP BY a.u, b.u) " +
        "SELECT s.u, s.v, coalesce(common, 0) AS common, " +
        "CAST(coalesce(common, 0) AS DOUBLE) / " +
        "CAST(du.deg + dv.deg - coalesce(common, 0) AS DOUBLE) AS jaccard " +
        "FROM sup s JOIN deg du ON s.u = du.n JOIN deg dv ON s.v = dv.n " +
        "LEFT JOIN wed ON wed.x = s.u AND wed.y = s.v " +
        "ORDER BY jaccard DESC, s.u, s.v"),
    "graph_adamic_adar" ->
      ("WITH li AS (SELECT l_orderkey AS ok, l_partkey AS pk FROM lineitem), " +
        "sup AS (SELECT u, v FROM (SELECT DISTINCT a.ok AS ok, a.pk AS u, " +
        "b.pk AS v FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk) " +
        "GROUP BY u, v HAVING COUNT(*) >= 2), " +
        "adj AS (SELECT u, v FROM sup UNION ALL SELECT v AS u, u AS v FROM sup), " +
        "degw AS (SELECT u AS w, CAST(floor(1000000.0 / " +
        "ln(CAST(COUNT(*) AS DOUBLE))) AS BIGINT) AS aa_micro " +
        "FROM adj GROUP BY u HAVING COUNT(*) >= 2), " +
        "sc AS (SELECT a.u AS x, b.u AS y, COUNT(*) AS common, " +
        "SUM(aa_micro) AS aa_sum FROM adj a " +
        "JOIN adj b ON a.v = b.v AND a.u < b.u " +
        "JOIN degw ON degw.w = a.v GROUP BY a.u, b.u) " +
        "SELECT s.u, s.v, CAST(coalesce(common, 0) AS BIGINT) AS common, " +
        "CAST(coalesce(aa_sum, 0) AS DOUBLE) / 1000000.0 AS adamic_adar " +
        "FROM sup s LEFT JOIN sc ON sc.x = s.u AND sc.y = s.v " +
        "ORDER BY adamic_adar DESC, s.u, s.v"),
    "graph_ego_2hop" ->
      (supAdjCtes + ", " +
        "deg AS (SELECT u AS n, CAST(COUNT(*) AS BIGINT) AS deg FROM adj " +
        "GROUP BY u), " +
        "th AS (SELECT DISTINCT a.u AS x, b.v AS w FROM adj a " +
        "JOIN adj b ON a.v = b.u WHERE b.v <> a.u), " +
        "fo AS (SELECT x, w FROM th WHERE NOT EXISTS " +
        "(SELECT 1 FROM adj WHERE adj.u = th.x AND adj.v = th.w)), " +
        "cnt AS (SELECT x AS node, CAST(COUNT(*) AS BIGINT) AS n_2hop " +
        "FROM fo GROUP BY x) " +
        "SELECT node, deg AS n_1hop, n_2hop, " +
        "CAST((1000000 * n_2hop) // deg AS BIGINT) AS expansion_micro " +
        "FROM cnt JOIN deg ON node = n ORDER BY node"),
    "graph_link_predict" ->
      ("WITH li AS (SELECT l_orderkey AS ok, l_partkey AS pk FROM lineitem), " +
        "sup AS (SELECT u, v FROM (SELECT DISTINCT a.ok AS ok, a.pk AS u, " +
        "b.pk AS v FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk) " +
        "GROUP BY u, v HAVING COUNT(*) >= 2), " +
        "adj AS (SELECT u, v FROM sup UNION ALL SELECT v AS u, u AS v FROM sup), " +
        "deg AS (SELECT u AS n, CAST(COUNT(*) AS BIGINT) AS deg FROM adj " +
        "GROUP BY u), " +
        "raw AS (SELECT n AS w, 1000000 // deg AS ra_micro FROM deg), " +
        "sc AS (SELECT a.u AS x, b.u AS y, COUNT(*) AS common, " +
        "SUM(ra_micro) AS ra_sum FROM adj a " +
        "JOIN adj b ON a.v = b.v AND a.u < b.u " +
        "JOIN raw ON raw.w = a.v GROUP BY a.u, b.u) " +
        "SELECT s.u, s.v, CAST(coalesce(common, 0) AS BIGINT) AS common, " +
        "du.deg * dv.deg AS pref_attach, " +
        "CAST(coalesce(ra_sum, 0) AS DOUBLE) / 1000000.0 AS resource_alloc " +
        "FROM sup s JOIN deg du ON s.u = du.n JOIN deg dv ON s.v = dv.n " +
        "LEFT JOIN sc ON sc.x = s.u AND sc.y = s.v " +
        "ORDER BY resource_alloc DESC, s.u, s.v"),
    "graph_triangles" ->
      ("WITH li AS (SELECT l_orderkey AS ok, l_partkey AS pk FROM lineitem), " +
        "edges AS (SELECT u, v FROM (SELECT DISTINCT a.ok AS ok, " +
        "a.pk AS u, b.pk AS v FROM li a JOIN li b ON a.ok = b.ok " +
        "AND a.pk < b.pk) GROUP BY u, v HAVING COUNT(*) >= 2) " +
        "SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles FROM edges e1 " +
        "JOIN edges e2 ON e1.v = e2.u " +
        "JOIN edges e3 ON e1.u = e3.u AND e2.v = e3.v"))
}
