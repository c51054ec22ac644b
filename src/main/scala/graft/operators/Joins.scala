package graft.operators

import graft.{OSQL, U}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** SURVEY.md §2.3 — joins.
  *
  * Scale notes baked into each shape: dims get `broadcast()` (no shuffle of
  * the fact side); large-large equi joins rely on sort-merge + AQE; the
  * non-equi shapes keep an equi prefix (key or bucket) so Catalyst never
  * degenerates to a broadcast-nested-loop over the fact table. The as-of
  * join is the union-tag + running-last formulation: one shuffle/sort by
  * (key, time), no per-row probe — the only as-of shape that survives 100 TB
  * without a specialized physical operator.
  */
object Joins {

  private def joinInnerBroadcast(s: SparkSession, d: String): DataFrame =
    U.tbl(s, d, "lineitem")
      .join(broadcast(U.tbl(s, d, "part")), col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n"), U.dsum(col("l_quantity")).as("sum_qty"),
        U.dsum(col("l_extendedprice")).as("sum_price"))
      .orderBy("p_brand")

  private def joinInnerShuffle(s: SparkSession, d: String): DataFrame =
    U.tbl(s, d, "lineitem")
      .join(U.tbl(s, d, "orders"), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), U.dsum(col("l_extendedprice")).as("sum_price"))
      .orderBy("o_orderpriority")

  private def joinLeft(s: SparkSession, d: String): DataFrame =
    U.tbl(s, d, "customer")
      .join(U.tbl(s, d, "orders"), col("c_custkey") === col("o_custkey"), "left_outer")
      .groupBy(col("c_custkey"), col("c_mktsegment"))
      .agg(count(col("o_orderkey")).as("n_orders"),
        U.dsum(col("o_totalprice")).as("total_spend"))
      .orderBy("c_custkey")

  private def joinRight(s: SparkSession, d: String): DataFrame =
    U.tbl(s, d, "orders")
      .join(U.tbl(s, d, "customer"), col("o_custkey") === col("c_custkey"), "right_outer")
      .filter(col("c_custkey") < 100)
      .select(col("c_custkey"), col("o_orderkey"), col("o_totalprice"))
      .orderBy(col("c_custkey"), asc_nulls_first("o_orderkey"))

  private def joinFull(s: SparkSession, d: String): DataFrame = {
    val big = U.tbl(s, d, "orders").filter(col("o_totalprice") > 250000.0)
      .groupBy(col("o_custkey")).agg(count(lit(1)).as("n_big_orders"))
    val poor = U.tbl(s, d, "customer").filter(col("c_acctbal") < 1000.0)
      .select(col("c_custkey"), col("c_acctbal"))
    big.join(poor, col("o_custkey") === col("c_custkey"), "full_outer")
      .select(coalesce(col("o_custkey"), col("c_custkey")).as("custkey"),
        col("n_big_orders"), col("c_acctbal"))
      .orderBy("custkey")
  }

  private def joinSemi(s: SparkSession, d: String): DataFrame = {
    val urgent = U.tbl(s, d, "orders").filter(col("o_orderpriority") === "1-URGENT")
    U.tbl(s, d, "customer")
      .join(urgent, col("c_custkey") === col("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
      .orderBy("c_custkey")
  }

  private def joinAnti(s: SparkSession, d: String): DataFrame =
    U.tbl(s, d, "customer")
      .join(U.tbl(s, d, "orders"), col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
      .orderBy("c_custkey")

  /** Non-equi theta join over two tiny dims — BroadcastNestedLoop is the
    * right plan here and ONLY here (both sides bounded). */
  private def joinCrossTheta(s: SparkSession, d: String): DataFrame =
    U.tbl(s, d, "nation")
      .crossJoin(broadcast(U.tbl(s, d, "region")))
      .filter(col("n_regionkey") < col("r_regionkey"))
      .select(col("n_nationkey"), col("n_name"), col("r_regionkey"), col("r_name"))
      .orderBy("n_nationkey", "r_regionkey")

  /** Interval-containment with an equi prefix: the range predicate rides on
    * the orderkey equi join instead of forcing a nested loop. */
  private def joinRange(s: SparkSession, d: String): DataFrame =
    U.tbl(s, d, "lineitem")
      .join(U.tbl(s, d, "orders"),
        col("l_orderkey") === col("o_orderkey") &&
          col("l_shipdate") >= col("o_orderdate") &&
          col("l_shipdate") <= col("o_orderdate") + expr("INTERVAL 60 DAYS"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), U.dsum(col("l_quantity")).as("sum_qty"))
      .orderBy("o_orderpriority")

  /** The as-of kernel behind join_asof, join_asof_forward,
    * join_asof_nearest, join_asof_tolerance, ts_asof_enrich and
    * [[graft.api.GraftApi.asOfJoin]]: build and probe rows union-tagged
    * into ONE frame, one shuffle by `keys`, no join operator and no
    * per-key range scan. Each `markers` entry (output column -> forward)
    * is one running last(ignoreNulls) window over that frame; entries
    * share the shuffle and differ only in sort direction. Build rows
    * order before probes at equal ts, so ties resolve to at-or-before
    * (at-or-after when forward) exactly like DuckDB's ASOF JOIN;
    * `tiebreak` columns (present on both sides, ascending in both
    * directions) then decide which of several build rows at one
    * (key, ts) wins. The carried value is ONE row-marker struct of the
    * `buildVals` columns: last(..., ignoreNulls) skips only probe rows
    * (whose marker is a NULL struct), never a matched build row whose
    * VALUE is NULL, so a NULL build value comes back as the matched row's
    * NULL (DuckDB ASOF semantics) and every field comes from the SAME
    * build row. Returns the probe rows — keys, tiebreak columns, the
    * other probe columns — plus one marker struct per entry. */
  private[graft] def asOfOn(probe: DataFrame, build: DataFrame,
      keys: Seq[String], probeTs: String, buildTs: String,
      buildVals: Seq[String], tiebreak: Seq[String],
      markers: Seq[(String, Boolean)]): DataFrame = {
    require(keys.nonEmpty && buildVals.nonEmpty && markers.nonEmpty &&
      markers.forall(m => !Seq("__ts", "__side", "__m").contains(m._1)))
    val carried = probe.columns.toSeq
      .filterNot(c => keys.contains(c) || tiebreak.contains(c))
    val mType = StructType(buildVals.map(c => build.schema(c)))
    val bSide = build.select(
      keys.map(col) ++ Seq(col(buildTs).as("__ts"), lit(0).as("__side")) ++
        tiebreak.map(col) ++
        carried.map(c => lit(null).cast(probe.schema(c).dataType).as(c)) ++
        Seq(struct(buildVals.map(col): _*).as("__m")): _*)
    val pSide = probe.select(
      keys.map(col) ++ Seq(col(probeTs).as("__ts"), lit(1).as("__side")) ++
        tiebreak.map(col) ++ carried.map(col) ++
        Seq(lit(null).cast(mType).as("__m")): _*)
    markers.foldLeft(bSide.unionByName(pSide)) { case (df, (out, forward)) =>
        val ts = if (forward) col("__ts").desc else col("__ts").asc
        val w = Window.partitionBy(keys.map(col): _*)
          .orderBy(ts +: col("__side") +: tiebreak.map(col): _*)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        df.withColumn(out, last(col("__m"), ignoreNulls = true).over(w))
      }
      .filter(col("__side") === 1).drop("__ts", "__side", "__m")
  }

  /** The fixture as-of frames: 'error' probes (event_id, user_id, ts)
    * against 'purchase' builds carrying (ts, value), event_id the
    * tiebreak (the fixtures are (user_id, ts)-unique, but determinism
    * shouldn't rely on it). */
  private def errorAsOfPurchase(s: SparkSession, d: String,
      markers: (String, Boolean)*): DataFrame = {
    val ev = U.events(s, d)
    asOfOn(
      ev.filter(col("event_type") === "error")
        .select(col("event_id"), col("user_id"), col("ts")),
      ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("event_id"), col("value")),
      Seq("user_id"), "ts", "ts", Seq("ts", "value"), Seq("event_id"),
      markers)
  }

  /** As-of join: each 'error' event enriched with the latest 'purchase' of
    * the same user at ts <= error ts, through [[asOfOn]].
    * Oracle: DuckDB's native ASOF LEFT JOIN. */
  private def joinAsof(s: SparkSession, d: String): DataFrame =
    errorAsOfPurchase(s, d, "prev" -> false)
      .select(col("event_id"), col("user_id"), col("ts"),
        col("prev.ts").as("asof_ts"), col("prev.value").as("asof_value"))
      .orderBy("event_id")

  /** Forward as-of: each 'error' enriched with the EARLIEST same-user
    * 'purchase' at ts >= error ts — the joinAsof formulation with time
    * reversed (latest-first scan makes earliest-at-or-after a running
    * last; build rows still sort before probes at equal ts => ">="). */
  private def joinAsofForward(s: SparkSession, d: String): DataFrame =
    errorAsOfPurchase(s, d, "next" -> true)
      .select(col("event_id"), col("user_id"), col("ts"),
        col("next.ts").as("next_ts"), col("next.value").as("next_value"))
      .orderBy("event_id")

  /** Null-safe equality join (<=> / IS NOT DISTINCT FROM): NULL keys match
    * each other instead of vanishing — the semantics a dim with an "unknown"
    * bucket needs. Keys are per-type aggregates with 'error' nulled out, so
    * both sides carry exactly one NULL key row and the join must pair them. */
  private def joinNullsafe(s: SparkSession, d: String): DataFrame = {
    val a = U.events(s, d)
      .groupBy(nullif(col("event_type"), lit("error")).as("k"))
      .agg(count(lit(1)).as("n_a"))
    val b = U.events(s, d)
      .groupBy(nullif(col("event_type"), lit("error")).as("kb"))
      .agg(U.dsum(col("value")).as("sum_b"))
    a.join(b, col("k") <=> col("kb"))
      .select(col("k"), col("n_a"), col("sum_b"))
      .orderBy(asc_nulls_first("k"))
  }

  /** Nearest-in-time as-of (sensor-alignment join): each 'error' enriched
    * with the same-user 'purchase' CLOSEST in time, either direction, ties
    * to the earlier row. One union-tagged frame, two window passes (asc +
    * desc — two sorts of the same shuffle, still no join operator), then a
    * pick by integer-µs distance. */
  private def joinAsofNearest(s: SparkSession, d: String): DataFrame = {
    val both = errorAsOfPurchase(s, d, "prev" -> false, "next" -> true)
    val dPrev = unix_micros(col("ts")) - unix_micros(col("prev.ts"))
    val dNext = unix_micros(col("next.ts")) - unix_micros(col("ts"))
    val takeBackward = col("next.ts").isNull ||
      (col("prev.ts").isNotNull && dPrev <= dNext)
    both.select(col("event_id"), col("user_id"), col("ts"),
      when(takeBackward, col("prev.ts")).otherwise(col("next.ts")).as("nearest_ts"),
      when(takeBackward, col("prev.value")).otherwise(col("next.value")).as("nearest_value"),
      when(takeBackward, dPrev).otherwise(dNext).as("dist_us"))
      .orderBy("event_id")
  }

  /** Interval-overlap join with an equi prefix (user_id): per-user activity
    * spans of two event types that overlap in time. */
  private def joinIntervalOverlap(s: SparkSession, d: String): DataFrame = {
    val spans = U.events(s, d).groupBy(col("user_id"), col("event_type"))
      .agg(min(col("ts")).as("s"), max(col("ts")).as("e"))
    val a = spans.select(col("user_id"), col("event_type").as("type_a"),
      col("s").as("s_a"), col("e").as("e_a"))
    val b = spans.select(col("user_id").as("user_b"), col("event_type").as("type_b"),
      col("s").as("s_b"), col("e").as("e_b"))
    a.join(b, col("user_id") === col("user_b") &&
        col("type_a") < col("type_b") &&
        col("s_a") <= col("e_b") && col("s_b") <= col("e_a"))
      .select(col("user_id"), col("type_a"), col("type_b"),
        greatest(col("s_a"), col("s_b")).as("overlap_start"),
        least(col("e_a"), col("e_b")).as("overlap_end"))
      .orderBy("user_id", "type_a", "type_b")
  }

  /** Salted join — the manual skew-mitigation pattern for when one key
    * dominates (AQE skew-join handles sort-merge skew, but salting is the
    * only lever for skewed BROADCAST-side build or stateful keys): replicate
    * the dim row SALT ways, scatter the fact side with pmod(event_id, SALT),
    * join on (key, salt). Results are identical to the unsalted join, so the
    * oracle is the plain SQL join. The per-user dim is |users|·SALT rows —
    * data-derived — so it rides [[U.sizeGate]]: broadcast below the cap
    * (where salting fixes a skewed BUILD side), shuffle-hash above (where
    * salting spreads a hot key across SALT reducers). */
  private def joinSkewSalted(s: SparkSession, d: String): DataFrame = {
    val salt = 4
    val ev = U.events(s, d)
      .withColumn("salt", pmod(col("event_id"), lit(salt.toLong)))
    val (dim, wd) = U.sizeGate(U.events(s, d).groupBy(col("user_id").as("u"))
      .agg(count(lit(1)).as("user_total"))
      .withColumn("salt", explode(array((0 until salt).map(i => lit(i.toLong)): _*))))
    ev.join(wd(dim), col("user_id") === col("u") && ev("salt") === dim("salt"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("user_total")).as("sum_user_totals"))
      .orderBy("event_type")
  }

  /** Bucketed-layout join — the other half of the 100 TB layout story
    * (partitioned writes cover pruning; bucketing covers co-located joins).
    * orders and customer are laid out ONCE per JVM as 8-bucket external
    * tables on custkey, one file per bucket (repartition(8, key) aligns the
    * write tasks with the bucket hash), sorted within buckets. A sort-merge
    * join over both then plans with ZERO Exchange: the shuffle happened at
    * layout time and is amortized over every subsequent join on the key —
    * at 100 TB this turns the nightly fact-dim join from a full-fact
    * shuffle into a local merge. PlanSpec asserts the exchange-free plan;
    * values are identical to the plain join, so the oracle is plain SQL. */
  private[graft] def joinBucketedCore(s: SparkSession, d: String): DataFrame = {
    val tag = d.replaceAll("[^A-Za-z0-9]", "_")
    val (ot, ct) = (s"graft_orders_bkt_$tag", s"graft_customer_bkt_$tag")
    synchronized {
      if (!s.catalog.tableExists(ot)) {
        U.tbl(s, d, "orders")
          .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
          .repartition(8, col("o_custkey"))
          .write.bucketBy(8, "o_custkey").sortBy("o_custkey")
          .option("path", U.scratch(d, "bucket_orders"))
          .mode("overwrite").saveAsTable(ot)
        U.tbl(s, d, "customer")
          .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
          .repartition(8, col("c_custkey"))
          .write.bucketBy(8, "c_custkey").sortBy("c_custkey")
          .option("path", U.scratch(d, "bucket_customer"))
          .mode("overwrite").saveAsTable(ct)
      }
    }
    // merge hint: the dim would otherwise broadcast, which also avoids the
    // shuffle but leaves the bucketed layout unexercised
    s.table(ot).hint("merge")
      .join(s.table(ct), col("o_custkey") === col("c_custkey"))
      .select(col("o_orderkey"), col("o_custkey"), col("c_name"),
        col("c_mktsegment"), col("o_totalprice"))
  }

  private def joinBucketed(s: SparkSession, d: String): DataFrame =
    joinBucketedCore(s, d).orderBy("o_orderkey")

  /** Tolerance-bounded as-of (pandas merge_asof's `tolerance`): the
    * [[joinAsof]] formulation, then matches older than 1 hour are nulled
    * out — a stale quote must not enrich a trade. Same single sort+window,
    * no join operator; the tolerance is a post-pick projection. */
  private def joinAsofTolerance(s: SparkSession, d: String): DataFrame = {
    val inTol = col("prev.ts") >= col("ts") - expr("INTERVAL 1 HOUR")
    errorAsOfPurchase(s, d, "prev" -> false)
      .select(col("event_id"), col("user_id"), col("ts"),
        when(inTol, col("prev.ts")).as("asof_ts"),
        when(inTol, col("prev.value")).as("asof_value"))
      .orderBy("event_id")
  }

  /** Interval join WITHOUT an equi key — the shape that degenerates to a
    * nested loop if written naively. The scale-safe plan: explode each
    * interval into the fixed-width time bins it touches (week grain here),
    * hash-equijoin on the bin, dedup the candidate pair, then apply the
    * EXACT overlap predicate. Any overlap point lies in a shared bin, so
    * recall is exact; the oracle runs the naive range join and must match
    * row-for-row. Candidate volume = Σ bins-per-interval, not |A|·|B|.
    * PlanSpec asserts no CartesianProduct/BroadcastNestedLoopJoin. */
  private def joinIntervalBinned(s: SparkSession, d: String): DataFrame = {
    val binUs = 604800000000L // 1 week in µs
    val ev = U.events(s, d)
    val a = ev.filter(col("event_type") === "click")
      .groupBy(col("user_id"))
      .agg(min(col("ts")).as("s_a"), max(col("ts")).as("e_a"))
    val b = ev.filter(col("event_type") =!= "click")
      .groupBy(col("event_type"),
        (unix_micros(col("ts")) / binUs).cast(LongType).as("wk"))
      .agg(min(col("ts")).as("s_b"), max(col("ts")).as("e_b"))
    val aBinned = a.withColumn("bin", explode(sequence(
      (unix_micros(col("s_a")) / binUs).cast(LongType),
      (unix_micros(col("e_a")) / binUs).cast(LongType))))
    val bBinned = b.withColumn("bin", explode(sequence(
      (unix_micros(col("s_b")) / binUs).cast(LongType),
      (unix_micros(col("e_b")) / binUs).cast(LongType))))
    aBinned.join(bBinned, "bin")
      .filter(col("s_a") <= col("e_b") && col("s_b") <= col("e_a"))
      .select(col("user_id"), col("event_type"), col("wk"),
        greatest(col("s_a"), col("s_b")).as("overlap_start"),
        least(col("e_a"), col("e_b")).as("overlap_end"))
      .distinct()
      .orderBy("user_id", "event_type", "wk")
  }

  /** Temporal (point-in-time) join against an SCD2 dimension: each click
    * is enriched with the purchase-version row VALID AT its timestamp —
    * the warehouse pattern for joining facts to slowly-changing dims.
    * User equijoin carries the hash join; the validity range is a residual
    * predicate; left join keeps clicks that precede any version. Each
    * click matches at most one interval by construction. */
  private def joinScd2Temporal(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val dim = U.events(s, d).filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("event_id"), col("value"))
      .withColumn("version", row_number().over(w).cast(LongType))
      .withColumn("valid_to", lead(col("ts"), 1).over(w))
      .select(col("user_id").as("d_uid"), col("version"),
        col("ts").as("valid_from"), col("valid_to"),
        col("value").as("p_value"))
    val clicks = U.events(s, d).filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("ts"))
    clicks.join(dim,
        col("user_id") === col("d_uid") &&
          col("ts") >= col("valid_from") &&
          (col("valid_to").isNull || col("ts") < col("valid_to")),
        "left")
      .select(col("event_id"), col("user_id"), col("ts"),
        col("version"), col("p_value"))
      .orderBy("event_id")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "join_scd2_temporal" -> joinScd2Temporal _,
    "join_interval_binned" -> joinIntervalBinned _,
    "join_asof_tolerance" -> joinAsofTolerance _,
    "join_bucketed" -> joinBucketed _,
    "join_skew_salted" -> joinSkewSalted _,
    "join_inner_broadcast" -> joinInnerBroadcast _,
    "join_inner_shuffle" -> joinInnerShuffle _,
    "join_left" -> joinLeft _,
    "join_right" -> joinRight _,
    "join_full" -> joinFull _,
    "join_semi" -> joinSemi _,
    "join_anti" -> joinAnti _,
    "join_cross_theta" -> joinCrossTheta _,
    "join_range" -> joinRange _,
    "join_asof" -> joinAsof _,
    "join_asof_forward" -> joinAsofForward _,
    "join_asof_nearest" -> joinAsofNearest _,
    "join_nullsafe" -> joinNullsafe _,
    "join_interval_overlap" -> joinIntervalOverlap _)

  val oracleSql: Map[String, String] = Map(
    "join_bucketed" ->
      ("SELECT o_orderkey, o_custkey, c_name, c_mktsegment, o_totalprice " +
        "FROM orders JOIN customer ON o_custkey = c_custkey " +
        "ORDER BY o_orderkey"),
    "join_skew_salted" ->
      ("SELECT event_type, COUNT(*) AS n, " +
        "CAST(SUM(user_total) AS BIGINT) AS sum_user_totals FROM events " +
        "JOIN (SELECT user_id AS u, COUNT(*) AS user_total FROM events " +
        "GROUP BY user_id) ON user_id = u " +
        "GROUP BY event_type ORDER BY event_type"),
    "join_inner_broadcast" ->
      ("SELECT p_brand, COUNT(*) AS n, " +
        s"${OSQL.dsum("l_quantity")} AS sum_qty, " +
        s"${OSQL.dsum("l_extendedprice")} AS sum_price " +
        "FROM lineitem JOIN part ON l_partkey = p_partkey " +
        "GROUP BY p_brand ORDER BY p_brand"),
    "join_inner_shuffle" ->
      ("SELECT o_orderpriority, COUNT(*) AS n, " +
        s"${OSQL.dsum("l_extendedprice")} AS sum_price " +
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
        "GROUP BY o_orderpriority ORDER BY o_orderpriority"),
    "join_left" ->
      ("SELECT c_custkey, c_mktsegment, COUNT(o_orderkey) AS n_orders, " +
        s"${OSQL.dsum("o_totalprice")} AS total_spend " +
        "FROM customer LEFT JOIN orders ON c_custkey = o_custkey " +
        "GROUP BY c_custkey, c_mktsegment ORDER BY c_custkey"),
    "join_right" ->
      ("SELECT c_custkey, o_orderkey, o_totalprice " +
        "FROM orders RIGHT JOIN customer ON o_custkey = c_custkey " +
        "WHERE c_custkey < 100 ORDER BY c_custkey, o_orderkey NULLS FIRST"),
    "join_full" ->
      ("SELECT coalesce(o_custkey, c_custkey) AS custkey, n_big_orders, c_acctbal " +
        "FROM (SELECT o_custkey, COUNT(*) AS n_big_orders FROM orders " +
        "WHERE o_totalprice > 250000.0 GROUP BY o_custkey) big " +
        "FULL JOIN (SELECT c_custkey, c_acctbal FROM customer " +
        "WHERE c_acctbal < 1000.0) poor ON o_custkey = c_custkey ORDER BY custkey"),
    "join_semi" ->
      ("SELECT c_custkey, c_name, c_mktsegment FROM customer " +
        "WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey " +
        "AND o_orderpriority = '1-URGENT') ORDER BY c_custkey"),
    "join_anti" ->
      ("SELECT c_custkey, c_name, c_acctbal FROM customer " +
        "WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey) " +
        "ORDER BY c_custkey"),
    "join_cross_theta" ->
      ("SELECT n_nationkey, n_name, r_regionkey, r_name FROM nation, region " +
        "WHERE n_regionkey < r_regionkey ORDER BY n_nationkey, r_regionkey"),
    "join_range" ->
      ("SELECT o_orderpriority, COUNT(*) AS n, " +
        s"${OSQL.dsum("l_quantity")} AS sum_qty " +
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
        "AND l_shipdate >= o_orderdate " +
        "AND l_shipdate <= o_orderdate + INTERVAL 60 DAY " +
        "GROUP BY o_orderpriority ORDER BY o_orderpriority"),
    "join_asof" ->
      ("SELECT p.event_id, p.user_id, p.ts, b.ts AS asof_ts, b.value AS asof_value " +
        "FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'error') p " +
        "ASOF LEFT JOIN (SELECT user_id, ts, value FROM events " +
        "WHERE event_type = 'purchase') b " +
        "ON p.user_id = b.user_id AND b.ts <= p.ts ORDER BY p.event_id"),
    "join_scd2_temporal" ->
      ("WITH dim AS (SELECT user_id AS d_uid, " +
        "CAST(row_number() OVER w AS BIGINT) AS version, ts AS valid_from, " +
        "lead(ts) OVER w AS valid_to, value AS p_value " +
        "FROM events WHERE event_type = 'purchase' " +
        "WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)) " +
        "SELECT c.event_id, c.user_id, c.ts, dim.version, dim.p_value " +
        "FROM (SELECT event_id, user_id, ts FROM events " +
        "WHERE event_type = 'click') c " +
        "LEFT JOIN dim ON c.user_id = d_uid AND c.ts >= valid_from " +
        "AND (valid_to IS NULL OR c.ts < valid_to) " +
        "ORDER BY c.event_id"),
    "join_interval_binned" ->
      ("WITH a AS (SELECT user_id, MIN(ts) AS s_a, MAX(ts) AS e_a " +
        "FROM events WHERE event_type = 'click' GROUP BY user_id), " +
        "b AS (SELECT event_type, CAST(floor(epoch_us(ts) / 604800000000) " +
        "AS BIGINT) AS wk, MIN(ts) AS s_b, MAX(ts) AS e_b " +
        "FROM events WHERE event_type <> 'click' GROUP BY 1, 2) " +
        "SELECT user_id, event_type, wk, " +
        "greatest(s_a, s_b) AS overlap_start, least(e_a, e_b) AS overlap_end " +
        "FROM a JOIN b ON s_a <= e_b AND s_b <= e_a " +
        "ORDER BY user_id, event_type, wk"),
    "join_asof_tolerance" ->
      ("SELECT p.event_id, p.user_id, p.ts, " +
        "CASE WHEN b.ts >= p.ts - INTERVAL 1 HOUR THEN b.ts END AS asof_ts, " +
        "CASE WHEN b.ts >= p.ts - INTERVAL 1 HOUR THEN b.value END AS asof_value " +
        "FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'error') p " +
        "ASOF LEFT JOIN (SELECT user_id, ts, value FROM events " +
        "WHERE event_type = 'purchase') b " +
        "ON p.user_id = b.user_id AND b.ts <= p.ts ORDER BY p.event_id"),
    "join_asof_forward" ->
      ("SELECT p.event_id, p.user_id, p.ts, b.ts AS next_ts, b.value AS next_value " +
        "FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'error') p " +
        "ASOF LEFT JOIN (SELECT user_id, ts, value FROM events " +
        "WHERE event_type = 'purchase') b " +
        "ON p.user_id = b.user_id AND b.ts >= p.ts ORDER BY p.event_id"),
    "join_nullsafe" ->
      ("WITH a AS (SELECT nullif(event_type, 'error') AS k, COUNT(*) AS n_a " +
        "FROM events GROUP BY 1), " +
        s"b AS (SELECT nullif(event_type, 'error') AS kb, ${OSQL.dsum("value")} " +
        "AS sum_b FROM events GROUP BY 1) " +
        "SELECT k, n_a, sum_b FROM a JOIN b ON k IS NOT DISTINCT FROM kb " +
        "ORDER BY k ASC NULLS FIRST"),
    "join_asof_nearest" ->
      ("WITH p AS (SELECT event_id, user_id, ts FROM events " +
        "WHERE event_type = 'error'), " +
        "b AS (SELECT user_id, ts, value FROM events " +
        "WHERE event_type = 'purchase'), " +
        "bk AS (SELECT p.event_id, b.ts AS prev_ts, b.value AS prev_value " +
        "FROM p ASOF LEFT JOIN b ON p.user_id = b.user_id AND b.ts <= p.ts), " +
        "fw AS (SELECT p.event_id, b.ts AS next_ts, b.value AS next_value " +
        "FROM p ASOF LEFT JOIN b ON p.user_id = b.user_id AND b.ts >= p.ts) " +
        "SELECT p.event_id, p.user_id, p.ts, " +
        "CASE WHEN next_ts IS NULL OR (prev_ts IS NOT NULL AND " +
        "epoch_us(p.ts) - epoch_us(prev_ts) <= epoch_us(next_ts) - epoch_us(p.ts)) " +
        "THEN prev_ts ELSE next_ts END AS nearest_ts, " +
        "CASE WHEN next_ts IS NULL OR (prev_ts IS NOT NULL AND " +
        "epoch_us(p.ts) - epoch_us(prev_ts) <= epoch_us(next_ts) - epoch_us(p.ts)) " +
        "THEN prev_value ELSE next_value END AS nearest_value, " +
        "CASE WHEN next_ts IS NULL OR (prev_ts IS NOT NULL AND " +
        "epoch_us(p.ts) - epoch_us(prev_ts) <= epoch_us(next_ts) - epoch_us(p.ts)) " +
        "THEN epoch_us(p.ts) - epoch_us(prev_ts) " +
        "ELSE epoch_us(next_ts) - epoch_us(p.ts) END AS dist_us " +
        "FROM p JOIN bk USING (event_id) JOIN fw USING (event_id) " +
        "ORDER BY p.event_id"),
    "join_interval_overlap" ->
      ("WITH spans AS (SELECT user_id, event_type, MIN(ts) AS s, MAX(ts) AS e " +
        "FROM events GROUP BY user_id, event_type) " +
        "SELECT a.user_id, a.event_type AS type_a, b.event_type AS type_b, " +
        "greatest(a.s, b.s) AS overlap_start, least(a.e, b.e) AS overlap_end " +
        "FROM spans a JOIN spans b ON a.user_id = b.user_id " +
        "AND a.event_type < b.event_type AND a.s <= b.e AND b.s <= a.e " +
        "ORDER BY a.user_id, type_a, type_b"))
}
