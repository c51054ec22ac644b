package graft.api

import graft.operators.{Components, Graphs, TimeSeries}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** The engine's reusable kernels as a PUBLIC, fixture-independent API.
  *
  * The declared queries in `graft.operators` / `graft.llm` demonstrate every
  * operator against the test-data schema; the methods here are the same
  * kernels lifted to caller-supplied frames and column names, so a user can
  * run them on their own tables without touching the query registry. Each
  * method keeps the scale shape its query twin is plan-guarded for (one
  * union+window pass for as-of, bounded posting-list joins for near-dup,
  * gated broadcast↔shuffle iteration for graphs — see SCALE.md).
  *
  * The rule: a facade method and its declared query share ONE kernel — a
  * `private[graft]` `*On` function next to the query, over caller frames
  * and columns — and the method only shapes the caller's columns in and
  * out. The exceptions, each with the reason it stays standalone, are the
  * allowlist of `FacadeKernelSpec`, which fails on any other method here
  * that does not call an `operators`/`llm` kernel.
  */
object GraftApi {

  /** As-of join: enrich each `probe` row with the latest `build` row at
    * `buildTs` <= `probeTs` (or the earliest at >= when `forward`), per
    * join key — the `join_asof` kernel ([[graft.operators.Joins.asOfOn]]).
    * One union-tagged frame + ONE window pass — no join operator, no
    * per-key range scan; build rows order before probes at equal ts, so
    * ties resolve to "at-or-before" exactly like DuckDB's ASOF JOIN.
    * `buildVals` columns come back as `asof_<name>`, all from the same
    * matched build row (null when no match; a matched row's NULL value
    * stays NULL). Build rows tying on (key, ts) win in an unspecified
    * order — supply unique build timestamps for determinism (the declared
    * query tie-breaks on event_id). */
  def asOfJoin(probe: DataFrame, build: DataFrame, keys: Seq[String],
      probeTs: String, buildTs: String, buildVals: Seq[String],
      forward: Boolean = false): DataFrame = {
    val carried = graft.operators.Joins.asOfOn(probe, build, keys, probeTs,
      buildTs, buildVals, Nil, Seq("__asof" -> forward))
    buildVals.foldLeft(carried) { (df, c) =>
        df.withColumn(s"asof_$c", col(s"__asof.$c"))
      }
      .drop("__asof")
  }

  /** Gap-based sessionization: appends a `session_id` column numbering each
    * key's sessions (1-based) with a new session whenever the gap to the
    * previous row exceeds `gapSeconds` — the `ts_sessionize` kernel
    * ([[TimeSeries.sessionizeOn]]). One shuffle+sort per key. */
  def sessionize(df: DataFrame, key: String, ts: String,
      gapSeconds: Long): DataFrame =
    TimeSeries.sessionizeOn(df, key, ts, Nil, gapSeconds * 1000000L)

  /** Grouped top-k through the custom whole-operator plan (bounded per-group
    * heaps — no global sort, no full window materialization). */
  def topKPerGroup(df: DataFrame, groupCols: Seq[String], orderCol: String,
      descending: Boolean, k: Int, rankCol: String = "rank"): DataFrame =
    graft.plans.GroupedTopKApi(df, groupCols, Seq((orderCol, descending)), k,
      rankCol)

  /** Integer micro-unit PageRank over a directed edge frame: 3 damped
    * iterations, broadcast rank frames below `broadcastNodeCap` nodes and
    * co-partitioned shuffle-hash joins above (the documented 100 TB
    * posture). `uCol`/`vCol` name the source/target columns on the
    * caller's frame. Returns the TOP-50 (node, pr) rows by rank — the
    * same contract as the `graph_pagerank` query; ranks are integer
    * micro-units of the uniform 1e6 start mass. */
  def pageRank(edges: DataFrame, uCol: String = "u", vCol: String = "v",
      broadcastNodeCap: Long = 1000000L): DataFrame =
    Graphs.pagerankOnEdges(
      edges.select(col(uCol).as("u"), col(vCol).as("v")), broadcastNodeCap)

  /** Connected components over an undirected edge list: min-id labels via
    * size-gated DSU (small edge sets, one task) or distributed min-label
    * propagation (past `dsuEdgeCap`). `uCol`/`vCol` name the endpoint
    * columns on the caller's frame. Returns (node, component). */
  def connectedComponents(edges: DataFrame,
      uCol: String = "u", vCol: String = "v",
      dsuEdgeCap: Long = Components.DsuEdgeCap): DataFrame = {
    val e = edges.select(col(uCol).as("u"), col(vCol).as("v"))
    Components.labels(
      e.unionByName(e.select(col("v").as("u"), col("u").as("v"))),
      dsuEdgeCap).toDF("node", "component")
  }

  /** Strongly connected components over a DIRECTED edge frame: the
    * analytic subgraph is capped to the top-`nodeCap` nodes by total
    * directed degree (deterministic id tiebreak — closure frames stay
    * ≤ nodeCap² BY CONSTRUCTION at any corpus size), then mutual
    * reachability labels each node with its SCC's minimum id. Same gated
    * closure as the `graph_scc` query: one task below `iterEdgeCap`,
    * path-doubling DataFrame rounds above. Returns
    * (node, scc_id, scc_size) for the capped subgraph. */
  def stronglyConnectedComponents(edges: DataFrame,
      uCol: String = "u", vCol: String = "v", nodeCap: Int = 60,
      iterEdgeCap: Long = 5000000L): DataFrame =
    Graphs.sccOnEdges(
      edges.select(col(uCol).as("u"), col(vCol).as("v")), nodeCap,
      iterEdgeCap)

  /** 3-truss peel over an UNDIRECTED edge list (u < v per row expected;
    * rows are canonicalized with least/greatest first): 8 rounds deleting
    * triangle-free edges, survivors returned with their closing triangle
    * support — the `graph_ktruss` kernel on caller columns. */
  def trussPeel(edges: DataFrame, uCol: String = "u", vCol: String = "v",
      iterEdgeCap: Long = 5000000L): DataFrame =
    Graphs.ktrussOnEdges(
      edges.select(least(col(uCol), col(vCol)).as("u"),
          greatest(col(uCol), col(vCol)).as("v"))
        .filter(col("u") =!= col("v")).distinct(),
      iterEdgeCap)

  /** CCNet-style paragraph-duplication profile per document: split
    * `textCol` into non-overlapping `windowTokens`-token windows, hash
    * each with the engine's polynomial fingerprint, count windows whose
    * hash appears in MORE THAN ONE distinct `idCol` document. Only
    * (id, hash) pairs ever shuffle — never text. Returns
    * (id, n_paras, n_dup, dup_micro). */
  def paragraphDupStats(df: DataFrame, idCol: String, textCol: String,
      windowTokens: Int = 10): DataFrame =
    graft.llm.Dedup.paragraphDupStats(df, idCol, textCol, windowTokens)

  /** 1-D random-walk Kalman filter over (key, ts, value): final filtered
    * level + posterior variance per key, by the same bit-exact struct fold
    * as the `ts_kalman` query. `q`/`r` must be decimal literals that
    * promote exactly (e.g. 0.01, 1.0). Rows tying on (key, ts) fold in an
    * unspecified order — supply unique timestamps for bit-determinism (the
    * declared query tie-breaks on event_id). */
  def kalmanFilter(df: DataFrame, key: String, ts: String, value: String,
      q: Double = 0.01, r: Double = 1.0): DataFrame =
    TimeSeries.structFoldOn(
      df.select(col(key).as("user_id"), col(ts).as("ts"),
        monotonically_increasing_id().as("event_id"), col(value).as("value")),
      "named_struct('x', p.value, 'p', CAST(1.0 AS DOUBLE))",
      s"named_struct(" +
        s"'x', acc.x + ((acc.p + $q) / (acc.p + $q + $r)) * (x.x - acc.x), " +
        s"'p', (1.0 - ((acc.p + $q) / (acc.p + $q + $r))) * (acc.p + $q))")
      .select(col("user_id").as(key), col("n"), col("fin.x").as("level"),
        col("fin.p").as("variance"))

  /** Multi-step windowed conversion funnel over (key, ts, type): the
    * deepest PREFIX of `steps` completed in strict order inside
    * `windowSeconds` of the first step's earliest occurrence per key —
    * the windowFunnel shape, earliest-completion semantics. Each step is
    * one filtered hash-agg joined to the anchor frame of the previous
    * step; a key that misses step i can never match step i+1 (its anchor
    * is null), so `funnel_level` counts a true prefix. Returns every key
    * with funnel_level (0..steps.length) and each step's completion time
    * t1..tN. The anchor frames are |keys|-cardinality, so they dispatch
    * through [[graft.U.sizeGate]]: broadcast below `broadcastCap` rows,
    * shuffle-hash equi-join above it. The verdict is measured once on the
    * first stage's anchors (one count on a persisted frame, released with
    * `graft.U.releaseTracked()`); every later stage's key set is a subset,
    * so the verdict covers the whole chain. */
  def windowFunnel(df: DataFrame, key: String, ts: String, typeCol: String,
      steps: Seq[String], windowSeconds: Long,
      broadcastCap: Long = graft.U.BroadcastRowCap): DataFrame = {
    require(steps.nonEmpty)
    val (a0, wrap) = graft.U.sizeGate(
      df.filter(col(typeCol) === steps.head)
        .groupBy(col(key).as("__k")).agg(min(col(ts)).as("t1"))
        .withColumn("__prev", col("t1")), broadcastCap)
    var anchors = a0
    for ((st, idx) <- steps.tail.zipWithIndex) {
      val cn = s"t${idx + 2}"
      val next = df.join(wrap(anchors), col(key) === col("__k"))
        .filter(col(typeCol) === st && col(ts) > col("__prev") &&
          unix_micros(col(ts)) <=
            unix_micros(col("t1")) + windowSeconds * 1000000L)
        .groupBy(col("__k").as("__k2")).agg(min(col(ts)).as(cn))
      anchors = anchors.join(next, col("__k") === col("__k2"), "left_outer")
        .drop("__k2").withColumn("__prev", col(cn))
    }
    val level = (1 to steps.length)
      .map(i => when(col(s"t$i").isNotNull, 1L).otherwise(0L))
      .reduce(_ + _)
    df.select(col(key)).distinct()
      .join(wrap(anchors.drop("__prev")), col(key) === col("__k"),
        "left_outer")
      .drop("__k")
      .withColumn("funnel_level", level)
  }

  /** Two-threshold hysteresis alarm over (key, ts, value): ON above `hi`,
    * OFF only below `lo`, latched via last-IGNORE-NULLS over each key's
    * ordered stream (oscillation between the thresholds cannot flap it).
    * Appends `alarm` (0/1) and `is_onset` columns; one window pass.
    * Rows tying on (key, ts) latch in an unspecified order — pass
    * `tiebreak` (appended to the window ordering) or supply unique
    * timestamps for determinism; the declared `ts_hysteresis` query
    * tie-breaks on event_id this way. */
  def hysteresisAlarm(df: DataFrame, key: String, ts: String, value: String,
      hi: Double, lo: Double, tiebreak: Option[String] = None): DataFrame = {
    require(lo <= hi)
    val ordCols = col(ts) +: tiebreak.map(col).toSeq
    val w = Window.partitionBy(col(key)).orderBy(ordCols: _*)
    val edge = when(col(value) > hi, 1L).when(col(value) < lo, 0L)
    df.withColumn("alarm", coalesce(
        last(edge, ignoreNulls = true)
          .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
        lit(0L)))
      .withColumn("is_onset", col("alarm") === 1L &&
        coalesce(lag(col("alarm"), 1).over(w), lit(0L)) === 0L)
  }

  /** Tabular (decision-interval) CUSUM alarm over (key, ts, value): flags
    * rows where the one-sided cumulative drift S⁺/S⁻ exceeds `h`, with
    * slack `k`, against each key's own mean — the small-sustained-shift
    * detector a per-point σ-band misses. The recursion S⁺ᵢ = max(0,
    * S⁺ᵢ₋₁ + x − μ − k) runs as its closed form cumᵢ − min(0, min_{j≤i}
    * cumⱼ) over two running windows; μ never divides (everything is
    * n-scaled in Decimal(38,0)), so the verdicts are exact at any scale.
    * `k`/`h` are in the value's own units as decimal literals that
    * promote exactly (e.g. 5.0, 50.0). Appends `cusum_high` /
    * `cusum_low` boolean columns. Rows tying on (key, ts) fold in an
    * unspecified order — pass `tiebreak` for determinism (the declared
    * `ts_cusum_alarm` query tie-breaks on event_id). */
  def cusumAlarm(df: DataFrame, key: String, ts: String, value: String,
      k: Double = 5.0, h: Double = 50.0,
      tiebreak: Option[String] = None): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val ordCols = col(ts) +: tiebreak.map(col).toSeq
    val w = Window.partitionBy(col(key)).orderBy(ordCols: _*)
    val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val full = Window.partitionBy(col(key))
    val kc = (lit(k).cast("decimal(12,2)") * 100).cast(LongType)
    val hc = (lit(h).cast("decimal(12,2)") * 100).cast(LongType)
    val hiN = col("__n").cast(dec) * hc
    df.withColumn("__vc", (col(value).cast("decimal(12,2)") * 100)
        .cast(LongType))
      .withColumn("__n", count(lit(1)).over(full))
      .withColumn("__sx", sum(col("__vc")).over(full))
      .withColumn("__dp",
        col("__n").cast(dec) * (col("__vc") - kc) - col("__sx"))
      .withColumn("__dm",
        col("__sx").cast(dec) - col("__n").cast(dec) * (col("__vc") + kc))
      .withColumn("__cp", sum(col("__dp")).over(run))
      .withColumn("__cm", sum(col("__dm")).over(run))
      .withColumn("cusum_high", col("__cp") -
        least(lit(0L).cast(dec), min(col("__cp")).over(run)) > hiN)
      .withColumn("cusum_low", col("__cm") -
        least(lit(0L).cast(dec), min(col("__cm")).over(run)) > hiN)
      .drop("__vc", "__n", "__sx", "__dp", "__dm", "__cp", "__cm")
  }

  /** Hampel filter over (key, ts, value): flags readings more than
    * `nMads` scaled MADs from the trailing-`window` rolling median — the
    * `ts_hampel` kernel on caller columns ([[TimeSeries.hampelOn]]), the
    * robust spike detector a single outlier cannot drag (a z-score's
    * mean and σ it WOULD inflate). `window` must be odd so both order
    * statistics are exact single picks; the verdict is the integer
    * cross-multiplication |x−med|·10⁴ > round(nMads·1.4826·10⁴)·mad.
    * Emitted only once the frame is full. Appends `med`, `mad` (cents)
    * and `is_outlier`. Rows tying on (key, ts) make the rolling window
    * contents nondeterministic — pass `tiebreak` (a unique column, e.g.
    * an event id) to pin the order, exactly as [[cusumAlarm]] does; with
    * no tiebreak the tie order is unspecified. */
  def hampelFilter(df: DataFrame, key: String, ts: String, value: String,
      window: Int = 7, nMads: Double = 3.0,
      tiebreak: Option[String] = None): DataFrame =
    TimeSeries.hampelOn(df.withColumn("__vc", graft.U.cents(col(value))),
        key, (ts +: tiebreak.toSeq).map(col), "__vc", window, nMads)
      .drop("__vc")

  /** Burst detection over (typeCol, ts): maximal runs of >= `minRun`
    * consecutive buckets each at least num/den × the type's mean bucket
    * rate — the `ts_burst` kernel on caller columns
    * ([[TimeSeries.burstOn]]: one input scan). The threshold compare
    * is the exact integer cross-multiplication den·n_b·buckets >= num·total
    * (no division), runs come from gaps-islands on the bucket index.
    * Everything after the first aggregation is bucket-cardinality. */
  def burstRuns(df: DataFrame, typeCol: String, ts: String,
      bucketSeconds: Long = 3600L, num: Long = 4L, den: Long = 3L,
      minRun: Int = 3): DataFrame = {
    val usPerBucket = bucketSeconds * 1000000L
    TimeSeries.burstOn(df, typeCol, ts, usPerBucket, num, den, minRun)
      .select(col(typeCol),
        timestamp_micros(col("__b0") * usPerBucket).as("burst_start"),
        timestamp_micros((col("__b1") + 1) * usPerBucket).as("burst_end"),
        col("n_buckets"), col("n_events"))
  }

  /** Peak concurrency per day over gap-sessionized (key, ts) activity —
    * the `ts_max_concurrency` sweep line on caller columns
    * ([[TimeSeries.maxConcurrencyOn]]). Sessions close
    * after `gapSeconds` idle; each contributes ±1 at its endpoints (starts
    * order before ends at equal instants, inclusive intervals). No global
    * sort: endpoints block by day, day baselines prefix over the |days|
    * frame, and GREATEST with the day-entry level counts
    * midnight-spanning sessions. */
  def maxConcurrency(df: DataFrame, key: String, ts: String,
      gapSeconds: Long = 1800L): DataFrame =
    TimeSeries.maxConcurrencyOn(df, key, ts, Nil, gapSeconds * 1000000L)

  /** Rolling OLS trend over (key, ts, value): slope and intercept of
    * value-vs-row-index over the trailing `window` points per key, emitted
    * once the frame is full — the `ts_rolling_ols` kernel on caller
    * columns ([[TimeSeries.rollingOlsOn]]). Four exact Long power sums
    * over ONE ROWS frame; doubles only in the closing divisions. Rows
    * tying on (key, ts) index in an
    * unspecified order — supply unique timestamps (or pre-disambiguate)
    * for bit-determinism, like the declared query's event_id tiebreak. */
  def rollingOls(df: DataFrame, key: String, ts: String, value: String,
      window: Int = 10): DataFrame =
    TimeSeries.rollingOlsOn(df.withColumn("__vc", graft.U.cents(col(value))),
        key, Seq(col(ts)), "__vc", window)
      .drop("__vc")

  /** Spearman rank correlation between two numeric columns per group — the
    * `agg_spearman` kernel on caller columns
    * ([[graft.operators.Aggregations.spearmanOn]]). Tie-averaged (midrank)
    * semantics with ONE sort per column: 2·midrank = rank() + RANGE-frame
    * peer count; power sums in Decimal(38,0), exact to ~1e9 rows/group.
    * Returns (group, n, spearman). */
  def spearmanCorr(df: DataFrame, group: String, xCol: String,
      yCol: String): DataFrame =
    graft.operators.Aggregations.spearmanOn(df, group, xCol, yCol)

  /** Binary (sign-bit) embedding search over an (id, Array[Float] emb)
    * frame — the `sim_hamming_topk` kernel on caller columns
    * ([[graft.llm.Similarity.hammingRankedOn]]), generalized to any
    * dimension: signatures pack into ceil(dims/32) 32-bit words
    * (8 bytes per 64 dims — the memory-bound rung below IVF/LSH), probes
    * are the given id set, and each probe ranks the corpus by exact
    * Hamming distance (bit_count per word). The probe block must be small
    * (it broadcasts); the corpus streams once. Returns
    * (q_id, rank, id, hamming). */
  def hammingTopK(df: DataFrame, id: String, embCol: String, dims: Int,
      probeIds: Seq[Long], k: Int = 3): DataFrame = {
    require(dims >= 1 && probeIds.nonEmpty && k >= 1)
    graft.llm.Similarity.hammingRankedOn(
        df.select(col(id).cast(LongType).as("vec_id"), col(embCol).as("__emb")),
        "__emb", dims, col("vec_id").isin(probeIds: _*), k)
      .select(col("q_id"), col("rank"), col("vec_id").as(id), col("hamming"))
  }

  /** Robust location + scale per group: exact doubled-median and
    * quadrupled-MAD of a <=2-decimal value column, emitted as the exact
    * halvings (median, mad) — the `agg_mad` kernel on caller columns.
    * Fully integer until the closing halvings; two window sorts + two
    * hash-aggs; the per-group median frame broadcasts through
    * [[graft.U.sizeGate]] (group cardinality is data-derived). Release
    * the gate's cached frame with `graft.U.releaseTracked()`. */
  def medianMad(df: DataFrame, group: String, value: String): DataFrame = {
    def med2Of(src: DataFrame, vcol: String, out: String): DataFrame = {
      val w = Window.partitionBy(col(group)).orderBy(col(vcol))
      val full = w.rowsBetween(Window.unboundedPreceding,
        Window.unboundedFollowing)
      src.withColumn("__rn", row_number().over(w).cast(LongType))
        .withColumn("__n", count(lit(1)).over(full))
        .groupBy(col(group))
        .agg(max(col("__n")).as("n"),
          sum(when(col("__rn") === expr("(__n + 1) DIV 2") ||
              col("__rn") === expr("__n DIV 2 + 1"),
            when(expr("__n % 2 = 1"), col(vcol) * 2).otherwise(col(vcol)))
            .otherwise(lit(0L))).as(out))
    }
    val base = df.select(col(group),
      (col(value).cast("decimal(12,2)") * 100).cast(LongType).as("__vc"))
    val (med, wm) = graft.U.sizeGate(
      med2Of(base, "__vc", "med2")
        .select(col(group).as("__g"), col("med2")))
    val devs = base.join(wm(med), col(group) === col("__g"))
      .select(col(group), abs(col("__vc") * 2 - col("med2")).as("__dev"))
    med2Of(devs, "__dev", "mad4")
      .join(wm(med), col(group) === col("__g"))
      .select(col(group), col("n"),
        (col("med2").cast("double") / lit(200.0)).as("median"),
        (col("mad4").cast("double") / lit(400.0)).as("mad"))
  }

  /** Multimodal ingestion: scan a directory of media files into the
    * BinaryType + typed-metadata frame the `multimodal_*` kernels consume —
    * `(path, mod_time, n_bytes, mime, payload, digest)` — optionally
    * exact-deduplicated by content digest. This is the fixture-readiness
    * path for a driver-shipped image/audio fixture (SURVEY §1): pointing
    * it at a real media directory is a path change, not new code.
    *
    * Scale shape: Spark's `binaryFile` source lists files distributed and
    * reads each file once; mime is derived from the extension (a real
    * deployment would sniff magic bytes in the same projection). With
    * `dedupByDigest`, keepers (min path per digest) are computed from a
    * digest-only projection — the PAYLOAD never enters that shuffle, only
    * 32-byte digests — and joined back `left_semi` through
    * [[graft.U.sizeGate]]: below the cap the keeper set broadcasts and
    * payloads never move; past it the semi-join shuffles (unavoidable
    * when the keeper set itself is shuffle-scale). Release the gate's
    * cached keeper frame with `graft.U.releaseTracked()` when done. */
  def ingestBinaryDir(spark: org.apache.spark.sql.SparkSession, dir: String,
      pathGlobFilter: Option[String] = None,
      dedupByDigest: Boolean = true): DataFrame = {
    val reader = spark.read.format("binaryFile")
    val withGlob = pathGlobFilter.fold(reader)(g =>
      reader.option("pathGlobFilter", g))
    val ext = lower(regexp_extract(col("path"), "\\.([A-Za-z0-9]+)$", 1))
    val framed = withGlob.load(dir).select(
        col("path"), col("modificationTime").as("mod_time"),
        col("length").cast(LongType).as("n_bytes"),
        when(ext === "png", "image/png")
          .when(ext.isin("jpg", "jpeg"), "image/jpeg")
          .when(ext === "gif", "image/gif")
          .when(ext === "wav", "audio/wav")
          .when(ext === "mp3", "audio/mpeg")
          .when(ext === "mp4", "video/mp4")
          .when(ext === "txt", "text/plain")
          .otherwise("application/octet-stream").as("mime"),
        col("content").as("payload"),
        sha2(col("content"), 256).as("digest"))
    if (!dedupByDigest) framed
    else {
      val (keep, wk) = graft.U.sizeGate(
        framed.select(col("digest"), col("path"))
          .groupBy(col("digest")).agg(min(col("path")).as("path")))
      framed.join(wk(keep), Seq("digest", "path"), "left_semi")
    }
  }

  /** Near-duplicate pairs over an (id, text) frame: word 3-gram shingles
    * through a df-capped inverted index (posting lists longer than
    * `shingleDfCap` are stop-shingles — the quadratic-bomb control): the
    * `dedup_jaccard` kernel [[graft.llm.Dedup.jaccardPairsOn]] on caller
    * columns. Returns (id_a, id_b, common, jaccard) for pairs with jaccard >=
    * `threshold`. NOTE on exactness (same tradeoff as the declared
    * `dedup_jaccard` query): shingles dropped by the df cap are excluded
    * from `common` but still counted in each document's shingle total, so
    * the reported jaccard is a LOWER BOUND for pairs that share
    * stop-shingles — a pair can only be under-scored, never over-scored.
    * Raise `shingleDfCap` (or Long.MaxValue) for exact scores at the cost
    * of the hot posting lists' quadratic blowup. */
  def nearDupPairs(df: DataFrame, id: String, text: String,
      threshold: Double = 0.2, shingleDfCap: Long = 1000L): DataFrame =
    graft.llm.Dedup.jaccardPairsOn(
        df.select(col(id).as("doc_id"), graft.plans.CustomExprs.shingles3_fast(
          graft.llm.TextUtil.tokens(col(text))).as("ss")),
        shingleDfCap)
      .filter(col("jac") >= threshold)
      .select(col("da").as("id_a"), col("db").as("id_b"), col("common"),
        col("jac").as("jaccard"))

  /** 1-Wasserstein drift per group: how far each group's distribution of
    * `value` (a <=2-decimal numeric) sits from the POOLED distribution —
    * the generic form of the declared `agg_wasserstein`. Exact: the ECDF
    * gap is the cross-multiplied integer |cum_g·n_all − cum_all·n_g| in
    * Decimal(38,0), divided out once. The first hash-agg collapses row
    * cardinality to (group, cent-value); everything after is bounded by
    * the VALUE DOMAIN times |groups|, so the support windows are safe at
    * any input size (a 1e9-distinct-value column would need bucketing
    * first — that is a property of the column, not the input row count). */
  def wassersteinDrift(df: DataFrame, group: String, value: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val counts = graft.U.track(df.select(col(group).as("__g"),
        (col(value).cast("decimal(12,2)") * 100).cast(LongType).as("__vc"))
      .groupBy(col("__g"), col("__vc")).agg(count(lit(1)).as("__c"))
      .persist())
    val wAll = Window.orderBy(col("__sv"))
    val pooled = counts.groupBy(col("__vc").as("__sv"))
      .agg(sum(col("__c")).as("__call"))
      .withColumn("__cumall", sum(col("__call")).over(wAll))
      .withColumn("__nxt", lead(col("__sv"), 1).over(wAll))
    val (nt, wn) = graft.U.sizeGate(counts.groupBy(col("__g").as("__g2"))
      .agg(sum(col("__c")).as("n_group")))
    val tot = counts.groupBy().agg(sum(col("__c")).as("n_all"))
    val wT = Window.partitionBy(col("__gt")).orderBy(col("__sv"))
    counts.select(col("__g").as("__gt")).distinct()
      .crossJoin(pooled)
      .join(counts, col("__sv") === col("__vc") &&
        col("__gt") === col("__g"), "left")
      .withColumn("__ct", coalesce(col("__c"), lit(0L)))
      .withColumn("__cumt", sum(col("__ct")).over(wT))
      .filter(col("__nxt").isNotNull)
      .join(wn(nt), col("__gt") === col("__g2"))
      .crossJoin(broadcast(tot))
      .groupBy(col("__gt"), col("n_group"), col("n_all"))
      .agg(sum((abs(col("__cumt").cast(dec) * col("n_all").cast(dec) -
          col("__cumall").cast(dec) * col("n_group").cast(dec)) *
        (col("__nxt") - col("__sv")).cast(dec))).as("__num"))
      .select(col("__gt").as(group), col("n_group"), col("n_all"),
        (col("__num").cast("double") /
          (col("n_group").cast("double") * col("n_all").cast("double") *
            lit(100.0))).as("w1"))
  }

  /** Bloom prefilter membership: build a `bits`-bit, 2-hash Bloom bitmap
    * from `build`'s text column and flag each `probe` row that MIGHT be
    * present (no false negatives; false-positive rate set by bits vs
    * build size). The bitmap is bits/32 rows — constant, independent of
    * build cardinality, which is the point: at 100 TB the filter ships as
    * a few KB broadcast while the corpus never moves. Uses the library's
    * engine-portable polynomial hash. `bits` must be a positive multiple
    * of 32. Returns `probe` plus a `bloom_hit` column. */
  def bloomPrefilter(build: DataFrame, probe: DataFrame, textCol: String,
      bits: Int = 16384, seed: Long = 11L): DataFrame = {
    require(bits > 0 && bits % 32 == 0, s"bits must be a multiple of 32: $bits")
    def positions(f: DataFrame): DataFrame = f
      .withColumn("__h", graft.plans.CustomExprs.poly_hash(col(textCol), seed))
      .withColumn("__p1", col("__h") % bits)
      .withColumn("__p2", (col("__h") * 31 + 7) % lit(graft.plans.PolyHash.M) % bits)
    val words = positions(build)
      .select(explode(array(col("__p1"), col("__p2"))).as("__p"))
      .groupBy(expr("__p DIV 32").as("__w"))
      .agg(expr("bit_or(CAST(1 AS BIGINT) << CAST(__p % 32 AS INT))")
        .as("__msk"))
    positions(probe)
      .join(broadcast(words.select(col("__w").as("__w1"),
        col("__msk").as("__m1"))), expr("__p1 DIV 32") === col("__w1"), "left")
      .join(broadcast(words.select(col("__w").as("__w2"),
        col("__msk").as("__m2"))), expr("__p2 DIV 32") === col("__w2"), "left")
      .withColumn("bloom_hit",
        coalesce(expr("(__m1 >> CAST(__p1 % 32 AS INT)) & 1"), lit(0L)) === 1 &&
          coalesce(expr("(__m2 >> CAST(__p2 % 32 AS INT)) & 1"), lit(0L)) === 1)
      .drop("__h", "__p1", "__p2", "__w1", "__m1", "__w2", "__m2")
  }

  /** Simplified silhouette per label over an Array[Float] embedding
    * column (a = distance to own centroid, b = to the nearest other):
    * the label-separability score from the declared `emb_silhouette`,
    * lifted. Distances are exact integers in the library's 1e-6
    * fixed-point domain; each vector's s is micro-floored before the
    * rollup so the per-label sum is order-independent. The centroid frame
    * is |labels|×dims rows and data-derived, so it rides
    * [[graft.U.sizeGate]] (taxonomy labels broadcast; a runaway
    * label column degrades to a shuffle join instead of an OOM). */
  def silhouette(df: DataFrame, labelCol: String, vecCol: String): DataFrame = {
    // ids must bind BEFORE the explode: a non-deterministic expression in
    // the generator projection would mint one id per (vec, dim) row
    val withId = df.select(col(labelCol).as("__l"),
      monotonically_increasing_id().as("__vid"), col(vecCol).as("__vec"))
    val comp = withId.select(col("__l"), col("__vid"),
      posexplode(transform(col("__vec"),
        x => floor(x.cast("double") * lit(1000000.0)))).as(Seq("__pos", "__x")))
    val (cent, wc) = graft.U.sizeGate(
      comp.groupBy(col("__l").as("__cl"), col("__pos").as("__cpos"))
        .agg(floor(sum(col("__x")).cast("double") / count(lit(1)))
          .cast(LongType).as("__cx")))
    val d2 = comp
      .join(wc(cent), col("__pos") === col("__cpos"))
      .groupBy(col("__vid"), col("__l"), col("__cl"))
      .agg(sum((col("__x") - col("__cx")) * (col("__x") - col("__cx")))
        .as("__d2"))
    val ab = d2.groupBy(col("__vid"), col("__l"))
      .agg(max(when(col("__cl") === col("__l"), col("__d2"))).as("__a2"),
        min(when(col("__cl") =!= col("__l"), col("__d2"))).as("__b2"))
    val sa = sqrt(col("__a2").cast("double"))
    val sb = sqrt(col("__b2").cast("double"))
    ab.select(col("__l"),
        when(greatest(sa, sb) === 0.0, lit(0L))
          .otherwise(floor(lit(1000000.0) * ((sb - sa) / greatest(sa, sb)))
            .cast(LongType)).as("__sm"))
      .groupBy(col("__l"))
      .agg(count(lit(1)).as("n_vecs"), sum(col("__sm")).as("sum_s_micro"))
      .select(col("__l").as(labelCol), col("n_vecs"), col("sum_s_micro"),
        (col("sum_s_micro").cast("double") /
          (lit(1000000.0) * col("n_vecs"))).as("mean_s"))
  }

  /** Directed triad census over caller (u, v) edges, restricted to
    * connected triads — the `graph_triad_census` kernel on any edge frame.
    * Same size gate: one-task CSR classification below `edgeCap`, the
    * degree-oriented triangle enumeration above. Returns (triad_type,
    * n_triads) over the 7 connected-triad classes. */
  def triadCensus(edges: DataFrame, uCol: String = "u", vCol: String = "v",
      edgeCap: Long = 5000000L): DataFrame =
    Graphs.triadCensusOnEdges(
      edges.select(col(uCol).as("u"), col(vCol).as("v")), edgeCap)

  /** The (vec_id, fx, nrm) frame the Similarity embedding kernels take:
    * the caller's `id` as vec_id, the fixed-point micro-int vector and its
    * squared norm — the Similarity discipline on caller columns. */
  private def fixedIds(df: DataFrame, id: Column, vec: String): DataFrame =
    df.select(id.as("vec_id"), transform(col(vec),
        x => floor(x.cast("double") * lit(1000000.0))).as("fx"))
      .withColumn("nrm",
        graft.plans.CustomExprs.fixed_dot(col("fx"), col("fx")))

  /** Maximal-marginal-relevance selection on a caller frame: greedily pick
    * `k` rows maximizing λ·cos(query, x) − (1−λ)·max cos(x, selected),
    * query = the row with `id` = `queryId`. The `emb_mmr` kernel lifted
    * ([[graft.llm.Similarity.mmrOn]]): deterministic fixed-point cosines,
    * id tiebreak, one stream of the cached candidate frame per round
    * against the broadcast selected set (release the cache with
    * `graft.U.releaseTracked()`). Returns (step, <id>, rel, score). */
  def mmrSelect(df: DataFrame, id: String, vec: String, queryId: Long,
      k: Int = 5, relWeight: Double = 0.7,
      divWeight: Double = 0.3): DataFrame = {
    // explicit pair, NOT a derived 1−λ: computing the complement in
    // floating point lands 1 ULP off the 0.3 literal the declared query
    // uses, which silently forks the greedy trajectory
    require(k >= 1 && relWeight >= 0.0 && divWeight >= 0.0)
    graft.llm.Similarity.mmrOn(fixedIds(df, col(id), vec), queryId, k,
        relWeight, divWeight)
      .withColumnRenamed("vec_id", id)
  }

  /** Explicit k-means training on a caller frame — the `emb_kmeans`
    * kernel lifted ([[graft.llm.Similarity.kmeansOn]] and its report):
    * seeds = the `k` smallest ids, `iters` assignment
    * rounds with floored-mean centroid updates, everything in the exact
    * fixed-point domain. Returns (cid, n_members, inertia, checksum). */
  def kmeansTrain(df: DataFrame, id: String, vec: String, k: Int = 4,
      iters: Int = 3): DataFrame = {
    val (asg, cent) = kmeansAsg(df, id, vec, k, iters)
    graft.llm.Similarity.kmeansReportOn(asg, cent)
  }

  /** [[graft.llm.Similarity.kmeansOn]] on a caller frame, seeded with the
    * k smallest-id vectors — shared by [[kmeansTrain]] and [[semDedup]]. */
  private def kmeansAsg(df: DataFrame, id: String, vec: String, k: Int,
      iters: Int): (DataFrame, DataFrame) = {
    require(k >= 1)
    val v = fixedIds(df, col(id), vec)
    graft.llm.Similarity.kmeansOn(v, v.orderBy(col("vec_id")).limit(k), iters)
  }

  /** SemDeDup on a caller embedding frame — the `pipeline_semdedup`
    * recipe lifted: k-means-cluster via [[kmeansAsg]] (k smallest-id
    * seeds, deterministic ties), then WITHIN each cluster mark every
    * vector whose cosine to a smaller-id cluster-mate reaches
    * `simMilli`/1000 (default 0.95) as a duplicate
    * ([[graft.llm.Similarity.semDupOn]]). The threshold never
    * leaves the integer domain: cos ≥ τ ⟺ dot > 0 ∧ 10⁶·dot² ≥
    * simMilli²·‖a‖²·‖b‖², products in DECIMAL(38,0). Returns one row per
    * input vector: (<id>, cid, kept). The quadratic scan is
    * within-cluster only — raise k with the corpus so buckets stay
    * bounded (the SemDeDup design point). */
  def semDedup(df: DataFrame, id: String, vec: String, k: Int = 4,
      simMilli: Int = 950): DataFrame = {
    require(simMilli >= 1 && simMilli <= 1000)
    graft.llm.Similarity.semDupOn(kmeansAsg(df, id, vec, k, iters = 3)._1,
        1000000L, simMilli.toLong * simMilli)
      .select(col("vec_id").as(id), col("cid"), col("kb").isNull.as("kept"))
      .orderBy(id)
  }

  /** The `nCut` smallest ids of a persisted (vec_id, ...) frame, sorted
    * ascending — one TakeOrderedAndProject action (the kmeansTrain
    * ranked-id idiom). Seeds/queries on caller frames select by RANK,
    * never by a raw `id < n` threshold: a frame whose ids start at 1000
    * would otherwise silently return empty or degenerate results. */
  private def smallestIds(emb: DataFrame, nCut: Int): Array[Long] = {
    // the ranked-id seed/query rule assumes unique non-null ids: a null id
    // sorts first and NPEs, a duplicate makes `vec_id <= seedCut` admit
    // more than k seeds (recall denominators silently exceed 1) — validate
    // up front with a clear message, like the dimension-uniformity check
    val chk = emb.agg(count(lit(1)).as("n"), count(col("vec_id")).as("nn"),
      countDistinct(col("vec_id")).as("ndist")).collect().head
    require(chk.getLong(0) > 0L, "embedding frame is empty")
    require(chk.getLong(0) == chk.getLong(1),
      s"id column has ${chk.getLong(0) - chk.getLong(1)} null(s) — " +
        "ranked-id seed selection requires non-null ids")
    require(chk.getLong(1) == chk.getLong(2),
      s"id column has duplicates (${chk.getLong(1)} rows, " +
        s"${chk.getLong(2)} distinct) — ranked-id seed selection " +
        "requires unique ids")
    emb.select(col("vec_id")).orderBy("vec_id").limit(nCut)
      .collect().map(_.getLong(0))
  }

  /** IVF recall/cost tuning curve on a caller frame — the
    * `sim_ivf_curve` kernel lifted: a deterministic `k`-centroid Lloyd
    * quantizer over the vector column (seeds = the k SMALLEST ids), then
    * one row per probe width in `probes` with the candidate-set size
    * (cost of the exact rerank) and recall@3 against brute-force ground
    * truth for the `nQueries` smallest ids; the recall denominator is
    * the ACTUAL query count when the frame holds fewer ids. Returns
    * (nprobe, n_candidates, n_hits, recall). */
  def ivfRecallCurve(df: DataFrame, id: String, vec: String, k: Int = 16,
      nQueries: Int = 10, probes: Seq[Int] = Seq(1, 2, 4)): DataFrame = {
    require(k >= 1 && nQueries >= 1 && probes.nonEmpty && probes.forall(_ >= 1))
    val emb = graft.U.track(
      fixedIds(df, col(id).cast(LongType), vec).persist())
    val ids = smallestIds(emb, math.max(k, nQueries))
    val seedCut = ids(math.min(k, ids.length) - 1)
    val qn = math.min(nQueries, ids.length)
    val cent = graft.U.track(
      graft.llm.Similarity.ivfCentroids(emb, k, seedCut))
    graft.llm.Similarity.ivfCurveOnEmb(emb, cent, nQueries, probes,
      queryCut = ids(qn - 1), nQueryActual = qn.toLong)
  }

  /** Product-quantization ADC top-3 search on a caller frame — the
    * `sim_pq_adc` kernel lifted: `nSub` contiguous subspaces (the width
    * is MEASURED off the vector column — any dimensionality divisible by
    * `nSub`, all rows equal-length) with `k` deterministic exact-integer
    * Lloyd centroids each (seeds = the k smallest ids), vectors encoded
    * as sub-codes, queries (the `nQueries` smallest ids) scored through
    * the broadcast asymmetric-distance LUT. Returns (q_id, vec_id,
    * adc_d2, rank). Pair with [[ivfRecallCurve]]'s discipline: measure
    * recall before trusting the codes. */
  def pqSearch(df: DataFrame, id: String, vec: String, nQueries: Int = 10,
      nSub: Int = 4, k: Int = 16): DataFrame = {
    require(nSub >= 1 && k >= 1 && nQueries >= 1)
    val dims = df.agg(min(size(col(vec))).as("lo"),
      max(size(col(vec))).as("hi")).collect().head
    require(!dims.isNullAt(0) && dims.getInt(0) == dims.getInt(1),
      "pqSearch: all vectors must share one dimension")
    val vecDim = dims.getInt(0)
    require(vecDim % nSub == 0,
      s"pqSearch: vector dimension $vecDim must split into nSub=$nSub " +
        "equal subspaces")
    val emb = graft.U.track(
      fixedIds(df, col(id).cast(LongType), vec)
        .select(col("vec_id"), col("fx")).persist())
    val ids = smallestIds(emb, math.max(k, nQueries))
    graft.llm.Similarity.pqAdcOnEmb(emb, nQueries, nSub, k, vecDim,
        seedCut = ids(math.min(k, ids.length) - 1),
        queryCut = ids(math.min(nQueries, ids.length) - 1))
      .orderBy("q_id", "rank")
  }

  /** IVF-PQ residual ADC search on a caller frame — the `sim_ivfpq_adc`
    * kernel lifted: a deterministic `k`-cell coarse quantizer (seeds =
    * the k smallest ids), per-cell residuals coded over `nSub` measured-
    * width subspaces, the query's `nprobe` nearest cells scored through
    * the broadcast asymmetric-distance LUT, and ONLY the `nShort`-row
    * ADC shortlist exact-refined (the production serving shape: codes
    * prune corpus→shortlist, the refine pays nShort full-vector reads
    * per query). Returns (q_id, vec_id, d2, rank) with exact-L2 `d2`.
    * Pair with [[ivfRecallCurve]]'s discipline: measure recall before
    * trusting the index — this residual configuration is the one that
    * PASSES the gate the raw [[pqSearch]] codes fail on near-uniform
    * corpora. */
  def ivfPqSearch(df: DataFrame, id: String, vec: String, k: Int = 16,
      nQueries: Int = 10, nSub: Int = 4, nprobe: Int = 4,
      nShort: Int = 192): DataFrame = {
    require(k >= 1 && nQueries >= 1 && nSub >= 1 && nprobe >= 1 && nShort >= 1)
    val dims = df.agg(min(size(col(vec))).as("lo"),
      max(size(col(vec))).as("hi")).collect().head
    require(!dims.isNullAt(0) && dims.getInt(0) == dims.getInt(1),
      "ivfPqSearch: all vectors must share one dimension")
    val vecDim = dims.getInt(0)
    require(vecDim % nSub == 0,
      s"ivfPqSearch: vector dimension $vecDim must split into nSub=$nSub " +
        "equal subspaces")
    val emb = graft.U.track(
      fixedIds(df, col(id).cast(LongType), vec).persist())
    val ids = smallestIds(emb, math.max(k, nQueries))
    val seedCut = ids(math.min(k, ids.length) - 1)
    val cent = graft.U.track(
      graft.llm.Similarity.ivfCentroids(emb, k, seedCut))
    graft.llm.Similarity.ivfPqOnEmb(emb, cent, nQueries, nprobe, nShort,
        nSub, k, vecDim, seedCut,
        queryCut = ids(math.min(nQueries, ids.length) - 1))
      .orderBy("q_id", "rank")
  }

  /** Corpus-wide k-NN graph on a caller frame — the `sim_knn_graph`
    * kernel lifted: top-3 cosine neighbors per vector, blocked by a
    * √n-cell deterministic IVF quantizer (n^1.5 work, never n²; seeds =
    * the k smallest ids). Returns (<id>, rank, nbr_id, cos). */
  def knnGraph(df: DataFrame, id: String, vec: String): DataFrame = {
    val emb = graft.U.track(
      fixedIds(df, col(id).cast(LongType), vec).persist())
    graft.llm.Similarity.knnGraphOnEmb(emb,
        seedCutFor = k => smallestIds(emb, k).last)
      .withColumnRenamed("vec_id", id)
  }

  /** Duplicated-span coverage on a caller frame — the
    * `dedup_substring_spans` kernel lifted with a caller-chosen span
    * width. Returns (<id>, n_spans, n_dup_spans, dup_frac, flagged). */
  def spanDupStats(df: DataFrame, id: String, text: String,
      spanTokens: Int = 13): DataFrame = {
    require(spanTokens >= 1)
    graft.llm.Dedup.spanDupOn(
        df.select(col(id).cast(LongType).as("doc_id"), col(text).as("text")),
        spanTokens)
      .withColumnRenamed("doc_id", id)
  }

  /** Shortest-first curriculum schedule on a caller frame — the
    * `pipeline_curriculum` kernel lifted (value-domain blocked rank on
    * the token count). Returns (<id>, n_tokens, curriculum_pos, phase). */
  def curriculum(df: DataFrame, id: String, text: String): DataFrame =
    graft.llm.Pipeline.curriculumOn(
        df.select(col(id).cast(LongType).as("doc_id"), col(text).as("text")))
      .withColumnRenamed("doc_id", id)

  /** Per-source token-budget admission on a caller frame — the BATCH
    * twin of `stream_token_quota`'s prefix-quota rule (the stream
    * enforces it live with one Long of state per source; this form
    * audits or backfills the same verdicts): a document is admitted
    * while its source's running token total in <id> order, including
    * itself, stays within `budgetTokens`. Returns (<id>, <source>,
    * n_tokens, cum_tokens, admitted). */
  def tokenQuota(df: DataFrame, id: String, source: String, text: String,
      budgetTokens: Long = 2000L): DataFrame = {
    require(budgetTokens >= 0L)
    val w = Window.partitionBy(col("__src")).orderBy(col("__id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.select(col(id).cast(LongType).as("__id"), col(source).as("__src"),
        graft.llm.TextUtil.tokens(col(text)).as("__tk"))
      .withColumn("n_tokens", size(col("__tk")).cast(LongType))
      .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
      .select(col("__id").as(id), col("__src").as(source), col("n_tokens"),
        col("cum_tokens"), (col("cum_tokens") <= budgetTokens).as("admitted"))
      .orderBy(id)
  }

  /** Split-conformal prediction interval on a caller frame — the
    * `agg_conformal_interval` kernel lifted: per `group`, the even
    * `unitId`s train the mean predictor in exact micro-cents, the odd
    * ones calibrate, and the interval half-width is the
    * k = ⌈0.9·(n_cal+1)⌉-th smallest absolute residual (guaranteed
    * ≥90% coverage on exchangeable data, no distributional assumption);
    * the empirical coverage is re-measured beside it. Returns (<group>,
    * n_train, n_cal, mean_micro, q90_micro, coverage_micro). */
  def conformalInterval(df: DataFrame, group: String, unitId: String,
      value: String): DataFrame =
    graft.operators.Aggregations.conformalOn(
        df.select(col(group).as("event_type"),
          col(unitId).cast(LongType).as("user_id"),
          graft.U.cents(col(value)).as("vc")))
      .withColumnRenamed("event_type", group)

  /** Poisson-bootstrap 90% CI of the per-group mean on a caller frame —
    * the `agg_bootstrap_ci` kernel lifted: B=32 deterministic integer
    * weights per row keyed by `id` (no rand(), reproducible on any
    * partitioning), one widened hash aggregate, CI bounds as order
    * statistics of exact integral replicate means. Returns (group, n,
    * mean_micro, n_rep, lo_micro, hi_micro). */
  def bootstrapCi(df: DataFrame, group: String, id: String,
      value: String): DataFrame =
    graft.operators.Aggregations.bootstrapOn(
        df.select(col(group).as("event_type"),
          graft.U.cents(col(value)).as("vc"),
          col(id).cast(LongType).as("event_id")))
      .withColumnRenamed("event_type", group)

  /** Croston intermittent-demand forecast on a caller (key, day, size)
    * demand frame — the `ts_croston` kernel lifted: per key, separate
    * α=0.2 EWMAs of demand size and inter-demand interval in exact
    * integer milli, forecast = size/interval. Rows with demand only;
    * zero days are read off the day gaps. Returns (key, day, size,
    * q_milli, a_milli, forecast_milli). */
  def crostonForecast(df: DataFrame, key: String, day: String,
      size: String): DataFrame =
    graft.operators.TimeSeries.crostonOn(
        df.select(col(key).as("event_type"),
          col(day).cast(LongType).as("dayi"),
          col(size).cast(LongType).as("z")))
      .withColumnRenamed("event_type", key)
      .withColumnRenamed("dayi", day)
      .withColumnRenamed("z", size)

  /** Deterministic ~10% token dropout on a caller frame — the
    * `pipeline_dropout_mask` kernel lifted: the token at position p of
    * row `id` drops when the LCG hash's tens digit is 0 (no rand(),
    * reproducible on any partitioning). Returns (id, n_tokens,
    * n_dropped, kept_text). */
  def dropoutMask(df: DataFrame, id: String, text: String): DataFrame =
    df.select(col(id).cast(LongType).as("doc_id"),
        graft.llm.TextUtil.tokens(col(text)).as("__toks"))
      .withColumn("n_tokens", size(col("__toks")).cast(LongType))
      .withColumn("__kept",
        graft.llm.Pipeline.dropoutKeptCol(col("doc_id"), col("__toks")))
      .select(col("doc_id").as(id), col("n_tokens"),
        (col("n_tokens") - size(col("__kept")).cast(LongType))
          .as("n_dropped"),
        concat_ws(" ", col("__kept")).as("kept_text"))
      .orderBy(id)

  /** Reproducible two-epoch loader permutation on a caller id frame —
    * the `pipeline_epoch_shuffle` kernel lifted (hash-range blocked
    * two-level rank; the epoch keys the LCG multiplier). Returns
    * (id, pos0, pos1). */
  def epochShuffle(df: DataFrame, id: String): DataFrame =
    graft.llm.Pipeline.epochShuffleOn(
        df.select(col(id).cast(LongType).as("doc_id")))
      .select(col("doc_id").as(id), col("pos0"), col("pos1"))

  /** Per-subject lifetime frame from caller columns — shared input
    * builder for [[kaplanMeier]] and [[logRank]] (one row per subject;
    * `deathDay` NULL means censored at `lastDay`; `arm` must be 0/1). */
  private def lifeFrame(df: DataFrame, entryDay: String, deathDay: String,
      lastDay: String, arm: String): DataFrame =
    df.select(col(entryDay).cast(LongType).as("fd"),
        col(deathDay).cast(LongType).as("dd"),
        col(lastDay).cast(LongType).as("ld"),
        col(arm).cast(LongType).as("grp"))
      .select(col("fd"), col("grp"),
        coalesce(col("dd"), col("ld")).as("exit"),
        when(col("dd").isNotNull, 1L).otherwise(0L).as("died"), col("dd"))

  /** Kaplan–Meier product-limit curves on a caller lifetime frame — the
    * `ts_kaplan_meier` kernel lifted: per (arm, death day) at-risk and
    * death counts with the survival curve in exact log micro-nats
    * (close it with exp() client-side — exp is not correctly rounded,
    * so the engine ships the exact form). */
  def kaplanMeier(df: DataFrame, entryDay: String, deathDay: String,
      lastDay: String, arm: String): DataFrame =
    TimeSeries.kmOnLife(lifeFrame(df, entryDay, deathDay, lastDay, arm))

  /** Two-arm log-rank test on a caller lifetime frame — the
    * `agg_log_rank` kernel lifted: exact micro-unit U and V over pooled
    * death days, z from the two exact operands. */
  def logRank(df: DataFrame, entryDay: String, deathDay: String,
      lastDay: String, arm: String): DataFrame =
    graft.operators.Aggregations.logRankOnLife(
      lifeFrame(df, entryDay, deathDay, lastDay, arm))

  /** Empirical-Bayes beta-binomial shrinkage of per-unit success rates
    * on a caller trial frame — the `agg_eb_shrinkage` kernel lifted:
    * `success` must be 0/1 per trial row; the prior strength is fitted
    * by method of moments over the per-unit floored micro rates (fallback
    * 20 on degenerate variance). Returns (<unit>, n, k, raw_micro,
    * global_micro, m_prior, shrunk_micro). */
  def ebShrinkage(df: DataFrame, unit: String, success: String): DataFrame =
    graft.operators.Aggregations.ebShrinkageOn(
        df.select(col(unit).cast(LongType).as("user_id"),
          col(success).cast(LongType).as("succ")))
      .withColumnRenamed("user_id", unit)

  /** Non-normalized matrix profile (window m=7, exclusion zone 4) of a
    * caller (key, index, value) series — the `ts_matrix_profile` kernel
    * lifted: per key, each length-7 window's squared-Euclidean nearest
    * non-trivial neighbor over the dense rank index. `value` must already
    * be an exact integer domain. Returns (<key>, w_idx, nn_idx, mp_d2);
    * `mp_d2` is the exact integer distance² as a canonical STRING (the
    * compute runs in DECIMAL(38,0); §5 policy bans decimal128 outputs). */
  def matrixProfile(df: DataFrame, key: String, idx: String,
      value: String): DataFrame =
    TimeSeries.matrixProfileOn(
        df.select(col(key).as("event_type"),
          col(idx).cast(LongType).as("dayi"),
          col(value).cast(LongType).as("y")))
      .withColumnRenamed("event_type", key)

  /** Reciprocal-rank fusion of two caller ranking frames — the
    * `sim_rrf_fusion` core lifted: each (query, item) scores
    * Σ floor(10⁶/(k0+rank)) over the lists that surface it, re-ranked
    * (fused DESC, item) to `topK` per query. Both frames need
    * (<query>, <item>, <rank>) columns. Returns (<query>, <item>,
    * rank_a, rank_b, rrf_micro, fused_rank). */
  def rrfFuse(a: DataFrame, b: DataFrame, query: String, item: String,
      rank: String, k0: Int = 60, topK: Int = 3): DataFrame = {
    require(k0 >= 1 && topK >= 1)
    def shape(f: DataFrame, r: String) =
      f.select(col(query).cast(LongType).as("q_id"),
        col(item).cast(LongType).as("vec_id"),
        col(rank).cast(LongType).as(r))
    graft.llm.Similarity.rrfOn(shape(a, "r1"), shape(b, "r2"), k0, topK)
      .withColumnRenamed("q_id", query)
      .withColumnRenamed("vec_id", item)
      .withColumnRenamed("r1", "rank_a")
      .withColumnRenamed("r2", "rank_b")
  }

  /** Shape a caller predictions frame to the model-eval kernels' (score,
    * label) contract: `score` must be (or cast to) an integer micro-rate
    * in [0, 10⁶], `label` 0/1. */
  private def scored(df: DataFrame, score: String, label: String) =
    df.select(col(score).cast(LongType).as("score"),
      col(label).cast(LongType).as("label"))

  /** Exact AUC-ROC on a caller (score, label) frame — the `agg_auc`
    * kernel lifted: the normalized Mann–Whitney 2U with the ½-tie
    * convention, via the value-domain cumulative (work scales with
    * DISTINCT scores, not rows). Returns (npos, nneg, u2, auc_micro). */
  def aucRoc(df: DataFrame, score: String, label: String): DataFrame =
    graft.operators.Aggregations.aucOn(scored(df, score, label))

  /** Precision/recall/F1 at the nine fixed micro-rate thresholds on a
    * caller (score, label) frame — the `agg_pr_curve` kernel lifted.
    * Returns (thr, tp, fp, fn, precision_micro, recall_micro,
    * f1_micro). */
  def prCurve(df: DataFrame, score: String, label: String): DataFrame =
    graft.operators.Aggregations.prCurveOn(scored(df, score, label))

  /** Ten-bucket expected calibration error on a caller (score, label)
    * frame — the `agg_ece` kernel lifted. Returns one row per non-empty
    * bucket plus the corpus ECE beside each. */
  def calibrationError(df: DataFrame, score: String,
      label: String): DataFrame =
    graft.operators.Aggregations.eceOn(scored(df, score, label))

  /** CUPED variance reduction on a caller per-unit frame — the
    * `agg_cuped` kernel lifted: one row per randomization unit with an
    * exact-integer pre-period covariate `pre`, post-period outcome
    * `post`, and 0/1 `arm`. θ = cov(pre, post)/var(pre) from exact
    * DECIMAL(38,0) power sums; degenerate inputs (zero pre-variance,
    * empty arm) return NULL fields, never throw. Returns (n_users,
    * theta, rho2, diff_raw, diff_cuped) — diffs in the `pre`/`post`
    * unit ÷ 100 (the cents→currency convention of the declared twin). */
  def cupedAdjust(df: DataFrame, pre: String, post: String,
      arm: String): DataFrame =
    graft.operators.Aggregations.cupedOn(
      df.select(col(pre).cast(LongType).as("x"),
        col(post).cast(LongType).as("y"),
        col(arm).cast(LongType).as("arm")))

  /** Holm–Bonferroni step-down correction on a caller p-value frame —
    * the `agg_holm` kernel lifted: rows are (key, p-micro); p-values
    * rank ascending, rank i tests pᵢ·(m−i+1) ≤ `alphaMicro` by integer
    * cross-multiplication, and rejection stops at the first failing
    * rank. Returns (<key>, p_micro, p_rank, holm_mult, rejected). */
  def holmCorrect(df: DataFrame, key: String, pMicro: String,
      alphaMicro: Long = 50000L): DataFrame =
    renameOut(graft.operators.Aggregations.holmOn(
        df.select(col(key).as("event_type"),
          col(pMicro).cast(LongType).as("p_micro")), alphaMicro),
      "event_type" -> key)

  /** Bigram Kneser–Ney smoothing on a caller bigram-occurrence frame —
    * the `text_kneser_ney` kernel lifted: one row per bigram OCCURRENCE
    * (w1, w2); d = 3/4 absolute discounting with continuation-probability
    * backoff, everything exact-integer micro. Returns (w1, w2, cb, c1,
    * n1_fwd, n1_back, pcont_micro, pkn_micro) for bigrams seen ≥
    * `minCount` times. */
  def kneserNey(df: DataFrame, w1: String, w2: String,
      minCount: Long = 5L): DataFrame =
    renameOut(graft.llm.TextAnalysis.kneserNeyOn(
        df.select(col(w1).as("w1"), col(w2).as("w2")), minCount),
      "w1" -> w1, "w2" -> w2)

  /** Perplexity quality filter on a caller (id, text) corpus — the
    * `pipeline_perplexity_filter` kernel lifted: a bigram Kneser–Ney
    * model trains on the SAME frame (minCount 5) and every document is
    * scored by its covered-bigram cross-entropy in floored micro-nats;
    * keep = at-or-below the corpus average (the CCNet selection
    * direction). Returns (<id>, n_bigrams, n_scored, nll_sum_micro,
    * avg_nll_micro, corpus_avg_micro, keep) — the avg and keep fields
    * are NULL for documents with zero model coverage. */
  def perplexityFilter(df: DataFrame, id: String, text: String): DataFrame =
    renameOut(graft.llm.TextAnalysis.perplexityFilterOn(
        df.select(col(id).as("doc_id"), col(text).as("text"))),
      "doc_id" -> id)

  /** Content-defined chunking dedup on a caller (id, text) corpus — the
    * `dedup_cdc_chunks` kernel lifted: rolling-hash boundaries (base-31
    * 4-char window, cut at h % 32 == 0) tile every document exactly,
    * chunks dedup corpus-wide by text, and each document reports how
    * many of its chars live in chunks that occur elsewhere too. Returns
    * (<id>, n_chunks, sum_len, n_dup_chunks, dup_chars). */
  def cdcChunkStats(df: DataFrame, id: String, text: String): DataFrame =
    renameOut(graft.llm.Dedup.cdcChunkStatsOn(
        df.select(col(id).as("doc_id"), col(text).as("text"))),
      "doc_id" -> id)

  /** Data-constrained epoch planning on a caller (source, text) corpus —
    * the `pipeline_epoch_plan` kernel lifted: per-source whitespace-token
    * mass, α = 0.5 temperature targets over a 4× token budget, epochs
    * capped at 4 with the capped shortfall reported. Returns (<source>,
    * n_docs, n_tokens, w_micro, target_tokens, epochs_micro, capped,
    * tokens_served, shortfall). */
  def epochPlan(df: DataFrame, source: String, text: String): DataFrame =
    renameOut(graft.llm.Pipeline.epochPlanOn(
        df.select(col(source).as("source"), col(text).as("text"))),
      "source" -> source)

  /** AnyRes tile-grid selection on a caller (id, width, height) image
    * dimension frame — the `multimodal_tile_grid` kernel lifted: per
    * image the 336 px candidate grid (1×1 … 3×1) maximizing effective
    * resolution, min-waste tiebreak. Returns (<id>, <width>, <height>,
    * gw, gh, can_w, can_h, scale_micro, fit_w, fit_h, n_tiles). */
  def tileGrid(df: DataFrame, id: String, width: String,
      height: String): DataFrame =
    renameOut(graft.llm.Multimodal.tileGridOn(
        df.select(col(id).as("doc_id"),
          col(width).cast(LongType).as("src_w"),
          col(height).cast(LongType).as("src_h"))),
      "doc_id" -> id, "src_w" -> width, "src_h" -> height)

  /** Adaptive keyframe planning on a caller (video, totalFrames, frame,
    * motion) frame-score table — the `multimodal_video_keyframe` kernel
    * lifted: frame 0 plus every frame with motion ≥ `threshold` is a
    * keyframe; per video the plan reports keyframe count, density and
    * the worst inter-keyframe gap. Returns (<video>, n_frames,
    * n_keyframes, kf_density_micro, max_gap). */
  def keyframes(df: DataFrame, video: String, totalFrames: String,
      frame: String, motion: String, threshold: Long = 900L): DataFrame =
    renameOut(graft.llm.Multimodal.keyframesOn(
        df.select(col(video).as("doc_id"),
          col(totalFrames).cast(LongType).as("n_frames"),
          col(frame).cast(LongType).as("frame_id"),
          col(motion).cast(LongType).as("motion")), threshold),
      "doc_id" -> video)

  /** Skip-gram (center, context) pair counts on a caller walk/sentence
    * frame — the `graph_skipgram_pairs` kernel lifted: rows are (walk
    * id, step, node); every pair within `window` steps on the same walk
    * counts once per direction. Returns (center, context, n_cooc). */
  def skipgramPairs(df: DataFrame, walkId: String, step: String,
      node: String, window: Long = 2L): DataFrame =
    graft.operators.Graphs.skipgramPairsOn(
      df.select(col(walkId).as("wid"), col(step).cast(LongType).as("step"),
        col(node).as("node")), window)

  /** Edit-distance verification on caller candidate pairs — the
    * `dedup_edit_verify` kernel lifted: `pairs` is (da, db) id pairs
    * (e.g. an LSH candidate table), `docs` the (id, text) corpus.
    * Returns (da, db, lev, maxlen, editsim_micro). */
  def editVerify(pairs: DataFrame, docs: DataFrame, da: String,
      db: String, id: String, text: String): DataFrame =
    graft.llm.Dedup.editVerifyOn(
      pairs.select(col(da).as("da"), col(db).as("db")),
      docs.select(col(id).as("doc_id"), col(text).as("text")))

  /** Renames kernel output columns back to the caller's names, failing
    * LOUDLY when the renamed frame would carry duplicate column names
    * (r13 ADVICE: a caller group column named like a kernel output —
    * "n0", "cum_n" — used to silently yield duplicate columns). */
  private def renameOut(df: DataFrame,
      renames: (String, String)*): DataFrame = {
    val fromSet = renames.map(_._1).toSet
    val finalCols =
      df.columns.filterNot(fromSet) ++ renames.map(_._2)
    require(finalCols.distinct.length == finalCols.length,
      s"caller column name collides with a kernel output column: result " +
        s"would be (${finalCols.mkString(", ")}); rename the input " +
        "column before calling this facade")
    renames.foldLeft(df) { case (acc, (f, t)) => acc.withColumnRenamed(f, t) }
  }

  /** Wald's SPRT over caller Bernoulli trials — the `agg_sprt` kernel
    * lifted: rows are (group, epoch, 0/1 success); per group the
    * cumulative LLR of H1: p=`p1` vs H0: p=`p0` updates per epoch and
    * each epoch carries its decision at the ±ln 19 (α=β=0.05)
    * boundaries. Returns (<group>, <epoch>, cum_n, cum_k, llr,
    * decision). */
  def sprt(df: DataFrame, group: String, epoch: String, success: String,
      p0: Double = 0.4, p1: Double = 0.5): DataFrame =
    graft.operators.Aggregations.sprtOn(
        df.select(col(group).as("event_type"),
          col(epoch).cast(LongType).as("dayi"),
          col(success).cast(LongType).as("succ")), p0, p1)
      .transform(renameOut(_, "event_type" -> group, "dayi" -> epoch))

  /** Sample-ratio-mismatch guardrail on a caller exposure frame — the
    * `agg_srm` kernel lifted: rows are (group, unit, 0/1 arm); units
    * dedupe before counting (the randomization unit counts once however
    * many exposure rows it has), χ² = (n₀−n₁)²/(n₀+n₁) in exact micro,
    * flagged at the 5% critical value. Returns (<group>, n0, n1,
    * srm_micro, flagged). */
  def srmCheck(df: DataFrame, group: String, unit: String,
      arm: String): DataFrame =
    graft.operators.Aggregations.srmOn(
        df.select(col(group).as("event_type"), col(unit).as("user_id"),
          col(arm).cast(LongType).as("arm")))
      .transform(renameOut(_, "event_type" -> group))

  /** Population Stability Index on a caller banded frame — the `agg_psi`
    * kernel lifted: rows are (group, epoch, band ∈ [0, 9]); the CALLER
    * picks the banding (PSI is only comparable under a fixed band
    * taxonomy), the kernel splits pre/post at the observed epoch
    * midpoint, Laplace-smooths the shares, and floors each (p−q)·ln(p/q)
    * term to micro-nats. Returns (<group>, n_pre, n_post, psi_micro,
    * flagged) — flagged at the standard 0.2 rule. */
  def psiDrift(df: DataFrame, group: String, epoch: String,
      band: String): DataFrame =
    graft.operators.Aggregations.psiOn(
        df.select(col(group).as("event_type"),
          col(epoch).cast(LongType).as("dayi"),
          col(band).cast(LongType).as("band")))
      .transform(renameOut(_, "event_type" -> group))

  /** Cochran–Mantel–Haenszel test on a caller stratified trial frame —
    * the `agg_cmh` kernel lifted: rows are (stratum, 0/1 arm, 0/1
    * outcome); per stratum the 2×2 margins stay exact integers,
    * E/V/ad/bc floor to micro through DECIMAL(38,0), and the statistic
    * closes as one χ² plus the Mantel–Haenszel common odds ratio.
    * Returns (n_strata, num_micro, den_micro, chi2_micro, or_micro). */
  def cmh(df: DataFrame, stratum: String, arm: String,
      outcome: String): DataFrame =
    graft.operators.Aggregations.cmhOn(
      df.select(col(stratum).cast(LongType).as("dayi"),
        col(arm).cast(LongType).as("arm"),
        col(outcome).cast(LongType).as("hv")))

  /** Difference-in-differences on a caller observation frame — the
    * `agg_did` kernel lifted: rows are (group, epoch, 0/1 arm,
    * exact-integer outcome); the kernel splits pre/post at the observed
    * epoch midpoint, takes the four cell means through ONE mirrored
    * double tree, and DiD = trend(arm 1) − trend(arm 0). Empty cells
    * NULL the estimate. Returns (<group>, n00, n01, n10, n11,
    * trend_control, trend_treat, did) — trends in outcome-unit ÷ 100. */
  def didEstimate(df: DataFrame, group: String, epoch: String,
      arm: String, outcome: String): DataFrame =
    graft.operators.Aggregations.didOn(
        df.select(col(group).as("event_type"),
          col(epoch).cast(LongType).as("dayi"),
          col(arm).cast(LongType).as("arm"),
          col(outcome).cast(LongType).as("vc")))
      .transform(renameOut(_, "event_type" -> group))

  /** Quantile treatment effects on a caller trial frame — the `agg_qte`
    * kernel lifted: rows are (0/1 arm, exact-integer outcome); per arm
    * the nine decile boundaries as exact value-domain order statistics,
    * QTE = q_treat − q_control per decile. Returns (q, q_control_c,
    * q_treat_c, qte_c). */
  def qte(df: DataFrame, arm: String, outcome: String): DataFrame =
    graft.operators.Aggregations.qteOn(
      df.select(col(arm).cast(LongType).as("arm"),
        col(outcome).cast(LongType).as("vc")))

  /** Tukey's HSD post-hoc on a caller observation frame — the
    * `agg_tukey_hsd` kernel lifted: rows are (group, exact-integer
    * outcome); all group pairs compare against HSD =
    * qCrit·√(MSW/2·(1/nᵢ+1/nⱼ)). Pass the studentized-range critical
    * value for YOUR k and df (default 3.858 = k=5, df→∞, α=0.05).
    * Returns (type_a, type_b, na, nb, mean_a, mean_b, diff, hsd,
    * significant). */
  def tukeyHsd(df: DataFrame, group: String, outcome: String,
      qCrit: Double = 3.858): DataFrame =
    graft.operators.Aggregations.tukeyOn(
      df.select(col(group).as("event_type"),
        col(outcome).cast(LongType).as("vc")), qCrit)
      .transform(renameOut(_,
        "type_a" -> s"${group}_a", "type_b" -> s"${group}_b"))

  /** Community conductance on caller edge + label frames — the
    * `graph_conductance` kernel lifted: `edges` must be the MIRRORED
    * adjacency (both directions present — conductance counts edge
    * endpoints), `labels` one (node, community) row per node. φ(C) =
    * cut(C) / min(vol(C), M − vol(C)) in exact integer micro. Returns
    * (community, n_nodes, vol, cut, conductance_micro). */
  def conductance(edges: DataFrame, labels: DataFrame, u: String,
      v: String, node: String, community: String): DataFrame =
    graft.operators.Graphs.conductanceOn(
      edges.select(col(u).as("u"), col(v).as("v")),
      labels.select(col(node).as("node"), col(community).as("lbl")))

  /** Isotonic (monotone non-decreasing) fit of `y` against `x` per
    * `group` — the `ts_isotonic` minimax kernel lifted. `y` must already
    * be an exact integer domain (e.g. micro-units); returns one row per
    * input point with the fitted level. */
  def isotonicFit(df: DataFrame, group: String, x: String, y: String)
      : DataFrame =
    TimeSeries.isotonicOnSeries(df.select(col(group).as("g"),
        col(x).cast(LongType).as("x"), col(y).cast(LongType).as("y")))
      .select(col("g").as(group), col("x").as(x), col("y_micro"),
        col("fitted_micro"))
}
