package graft

/** Physical-plan regression guards (SURVEY.md §4): these assert the plan
  * SHAPES the 100 TB posture depends on — filters reaching the parquet
  * scan, dims broadcast instead of shuffled, top-k avoiding a global sort,
  * and the as-of join staying a single sort+window. A change that silently
  * regresses one of these would still pass the value-level oracle. */
class PlanSpec extends SparkTestBase {

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sfDir).queryExecution.executedPlan.toString

  test("q1_pricing pushes the shipdate filter into the parquet scan") {
    val p = plan("q1_pricing")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"),
      s"filter not pushed:\n$p")
  }

  test("join_inner_broadcast builds a broadcast hash join on the dim") {
    val p = plan("join_inner_broadcast")
    assert(p.contains("BroadcastHashJoin"), s"no BHJ:\n$p")
  }

  test("join_range keeps the equi key as the join key, range as condition") {
    val p = plan("join_range")
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin"),
      s"range join degenerated to nested loop:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"nested loop:\n$p")
  }

  test("limit_topk plans TakeOrderedAndProject, not a global sort") {
    val p = plan("limit_topk")
    assert(p.contains("TakeOrderedAndProject"), s"no top-k operator:\n$p")
  }

  test("join_asof is a single union + one window sort, no join operator") {
    val p = plan("join_asof")
    assert(p.contains("Union"), s"missing union:\n$p")
    assert(p.contains("Window"), s"missing window:\n$p")
    assert(!p.contains("Join"), s"as-of should not plan a join:\n$p")
  }

  test("scan_partition_pruned filters at the directory level") {
    val p = plan("scan_partition_pruned")
    // the dt predicate must be INSIDE the PartitionFilters bracket — a bare
    // contains() would pass on 'PartitionFilters: []' plus a post-scan Filter
    assert("PartitionFilters: \\[[^\\]]*dt".r.findFirstIn(p).isDefined,
      s"dt filter did not become a partition filter:\n$p")
  }

  test("custom DSv2 source receives the pruned column set") {
    val p = plan("scan_custom_source")
    assert(p.contains("BatchScan"), s"no DSv2 scan:\n$p")
    // the query touches only bucket/value_cents — `id` must not be read
    val scanLine = p.linesIterator.find(_.contains("BatchScan")).getOrElse("")
    assert(!scanLine.matches(".*\\bid\\b.*"), s"id not pruned: $scanLine")
  }

  test("scan column pruning: project_compute reads only the needed columns") {
    val p = plan("project_compute")
    assert(p.contains("ReadSchema"), s"no read schema:\n$p")
    assert(!p.contains("l_returnflag"), s"unpruned column in scan:\n$p")
  }

  test("dedup_simhash plans a band equijoin, not a cross/nested-loop join") {
    val p = plan("dedup_simhash")
    assert(!p.contains("CartesianProduct"), s"cartesian product:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"nested loop:\n$p")
  }

  test("win_topk_native plans the custom operator: no Window, no per-group sort") {
    val p = plan("win_topk_native")
    assert(p.contains("GroupedTopK"), s"custom operator not planned:\n$p")
    assert(!p.contains("Window"), s"fell back to window:\n$p")
    // the ONLY sort is the final presentation orderBy; the operator itself
    // must not sort its input (heaps replace the sort)
    val sortsBelowTopk = p.linesIterator.dropWhile(!_.contains("GroupedTopK"))
      .count(_.contains("Sort "))
    assert(sortsBelowTopk == 0, s"input sorted below the top-k operator:\n$p")
  }

  test("TopKRewriteRule rewrites the window top-k idiom into GroupedTopK") {
    graft.plans.GroupedTopKApi.register(spark)
    val exp = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].experimental
    val prev = exp.extraOptimizations
    exp.extraOptimizations = prev :+ graft.plans.TopKRewriteRule
    try {
      val df = SparkEntry.queries("win_topk_group")(spark, sfDir)
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("GroupedTopK"), s"rule did not rewrite:\n$p")
      assert(!p.contains("Window"), s"window survived the rewrite:\n$p")
      val rewritten = df.collect()
      exp.extraOptimizations = prev
      val plain = SparkEntry.queries("win_topk_group")(spark, sfDir).collect()
      assert(rewritten.length == plain.length)
      rewritten.zip(plain).foreach { case (a, b) => assert(a == b, s"$a != $b") }
    } finally exp.extraOptimizations = prev
  }

  test("win_topk_native values match the window formulation row-for-row") {
    val native = SparkEntry.queries("win_topk_native")(spark, sfDir).collect()
    val window = SparkEntry.queries("win_topk_group")(spark, sfDir).collect()
    assert(native.length == window.length)
    native.zip(window).foreach { case (a, b) => assert(a == b, s"$a != $b") }
  }

  test("sql_q5 snowflake: all dims broadcast, no nested-loop fallback") {
    val p = plan("sql_q5_local_supplier")
    val bhj = "BroadcastHashJoin".r.findAllIn(p).length
    assert(bhj >= 3, s"expected >=3 dim broadcasts, got $bhj:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"nested loop in q5:\n$p")
  }

  test("join_bucketed plans a sort-merge join with no Exchange on either side") {
    // core (pre-orderBy) plan: the bucketed layout must satisfy the SMJ's
    // distribution requirement on both sides — any Exchange means the
    // layout shuffle was NOT amortized
    val p = graft.operators.Joins.joinBucketedCore(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(p.contains("SortMergeJoin"), s"no SMJ:\n$p")
    assert(!p.contains("Exchange"), s"bucketed join still shuffles:\n$p")
  }

  test("decontamination broadcasts the benchmark shingle set") {
    val p = plan("text_decontaminate")
    assert(p.contains("BroadcastHashJoin"), s"benchmark side not broadcast:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"nested loop:\n$p")
  }

  test("sql_q7 broadcasts the nation dim under both roles") {
    val p = plan("sql_q7_volume")
    val bhj = "BroadcastHashJoin".r.findAllIn(p).length
    assert(bhj >= 2, s"expected both nation roles broadcast, got $bhj:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian in q7:\n$p")
  }

  test("lateral topk decorrelates to a join, not a per-row nested loop") {
    val p = plan("sql_lateral_topk")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"lateral stayed nested-loop:\n$p")
  }

  test("bitmap distinct avoids the count-distinct Expand") {
    val p = plan("agg_bitmap_distinct")
    assert(!p.contains("Expand"), s"bitmap path should not Expand:\n$p")
    assert(p.contains("HashAggregate"), s"no hash agg:\n$p")
  }

  test("join_dpp prunes fact partitions dynamically from the dim filter") {
    val p = plan("join_dpp")
    // the dt partition filter must be a RUNTIME subquery (dim's yr%2=0 is
    // not expressible over the join key, so static pruning can't do this)
    assert("PartitionFilters: \\[[^\\]]*dynamicpruning".r.findFirstIn(p).isDefined,
      s"no dynamic partition pruning on the fact scan:\n$p")
  }

  test("custom DSv2 source prunes slices from the runtime join filter") {
    val df = SparkEntry.queries("scan_custom_runtime_filter")(spark, sfDir)
    val p = df.queryExecution.executedPlan.toString
    assert("RuntimeFilters: \\[[^\\]]*dynamicpruning".r.findFirstIn(p).isDefined,
      s"no runtime filter reached the BatchScan:\n$p")
    graft.sources.DeterministicSource.lastRuntimeFilterKeys = None
    assert(df.collect().length == 5)
    // filter() must have run on the driver and kept exactly the 5 dim keys
    assert(graft.sources.DeterministicSource.lastRuntimeFilterKeys.contains(5),
      "SupportsRuntimeV2Filtering.filter did not narrow the scan")
  }

  test("custom DSv2 source narrows its generated range from pushed id filters") {
    val p = plan("scan_custom_pushdown")
    assert(p.contains("pushedRange=[5000,15000)"),
      s"id predicates did not reach the generator:\n$p")
  }

  test("custom DSv2 source receives the pushed top-N (id DESC limit 50)") {
    val p = plan("scan_custom_topn_pushdown")
    assert(p.contains("pushedLimit=50 (topN id DESC)"),
      s"top-N did not reach the generator:\n$p")
  }

  test("custom DSv2 source truncates slices from the pushed limit") {
    val p = plan("scan_custom_limit_pushdown")
    assert(p.contains("pushedLimit=120"),
      s"limit did not reach the generator:\n$p")
  }

  test("custom DSv2 source folds the group-by into per-slice partials") {
    val p = plan("scan_custom_agg_pushdown")
    assert(p.contains("pushedAggs=bucket:agg_count,agg_sum"),
      s"aggregation did not reach the generator:\n$p")
  }

  test("runtime bloom filter injects a might_contain probe on the fact side") {
    // the 100 TB row-level-filtering knob: a bloom filter built from the
    // filtered dim's join keys is pushed into the fact scan, skipping rows
    // before the shuffle. Thresholds are floored locally because the
    // fixture sizes are far below the production defaults.
    val confs = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100GB",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      // the rule only fires on probably-shuffle joins: at fixture scale the
      // planner would broadcast, so force the shuffle path (at 100 TB the
      // fact⋈filtered-dim IS a shuffle join and no forcing is needed)
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    graft.U.withConfs(spark, confs: _*) {
      import org.apache.spark.sql.functions._
      val li = graft.U.tbl(spark, sfDir, "lineitem")
      val o = graft.U.tbl(spark, sfDir, "orders")
        .filter(col("o_orderstatus") === "F")
      val p = li.join(o, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority")).agg(count(lit(1)).as("n"))
        .queryExecution.executedPlan.toString
      assert(p.contains("might_contain"), s"no bloom probe injected:\n$p")
    }
  }

  test("dedup_embedding_ann pairs via a cluster equijoin, not all-pairs") {
    val p = plan("dedup_embedding_ann")
    // the 16-row centroid broadcast crossJoin is the intended IVF shape;
    // what must NOT happen is the vector-vector pairing degenerating to a
    // cartesian scan — the cid self-join has to be a shuffle/hash equijoin
    assert(!p.contains("CartesianProduct"), s"cartesian product:\n$p")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
      s"no equijoin on cid:\n$p")
  }

  test("dedup_editdistance blocks on an equijoin key, not a cartesian scan") {
    val p = plan("dedup_editdistance")
    assert(!p.contains("CartesianProduct"), s"cartesian product:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"nested loop:\n$p")
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin") ||
      p.contains("ShuffledHashJoin"), s"no equijoin on the block key:\n$p")
  }

  test("sql_q8_mktshare broadcasts every dimension of the snowflake") {
    val p = plan("sql_q8_mktshare")
    // part/supplier/customer/nation(x2)/region all broadcast; only
    // orders jo lineitem may shuffle — the star-query shape at 100 TB
    val bhj = "BroadcastHashJoin".r.findAllIn(p).size
    assert(bhj >= 5, s"expected >=5 broadcast dims, got $bhj:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian product:\n$p")
  }

  test("sql_q6_forecast pushes all three predicates into the parquet scan") {
    val p = plan("sql_q6_forecast")
    // the PushedFilters bracket is elided in toString past ~4 entries, so
    // assert the visible prefix: all three columns' IsNotNull plus the
    // start of the shipdate range — enough to prove the scan got them
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), " +
      "IsNotNull(l_discount), IsNotNull(l_quantity), " +
      "GreaterThanOrEqual(l_shipda"), s"filters not pushed:\n$p")
  }

  test("Q21's EXISTS + NOT EXISTS decorrelate to semi/anti joins") {
    val p = plan("sql_q21_waiting")
    assert(p.contains("LeftSemi"), s"no semi join:\n$p")
    assert(p.contains("LeftAnti"), s"no anti join:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), s"nested loop:\n$p")
  }

  test("Q17's correlated scalar aggregate decorrelates to an aggregate join") {
    val p = plan("sql_q17_small_qty")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), s"nested loop:\n$p")
  }

  test("nested-schema pruning reads only the projected struct leaf") {
    val p = plan("scan_nested_pruning")
    assert(p.contains("payload:struct<price:double>"),
      s"struct not pruned to the price leaf:\n$p")
    assert(!p.contains("status"), s"unprojected leaf read:\n$p")
  }

  test("emb_label_separation enumerates no pairs (linear-sum decomposition)") {
    val p = plan("emb_label_separation")
    // r6 verdict: this was the last ungated all-pairs crossJoin in a
    // declared query. The linear-sum rewrite must never plan a cartesian
    // product; the only joins allowed are the tiny 1-row combiners and
    // the per-label equijoin.
    assert(!p.contains("CartesianProduct"), s"all-pairs scan is back:\n$p")
  }

  test("graph_pagerank iterates on narrow (node, rank) frames") {
    val p = plan("graph_pagerank")
    assert(!p.contains("CartesianProduct"), s"cartesian product:\n$p")
    // the persisted degree-carrying edge frame feeds every iteration
    assert(p.contains("InMemoryTableScan"), s"edge frame not reused:\n$p")
  }

  test("join_interval_binned plans a bin equijoin, not a nested loop") {
    val p = plan("join_interval_binned")
    assert(!p.contains("CartesianProduct"), s"cartesian product:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"nested loop:\n$p")
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin") ||
      p.contains("ShuffledHashJoin"), s"no equijoin on bin:\n$p")
  }

  test("sink_compaction reduces the fragmented layout to 2 files") {
    SparkEntry.queries("sink_compaction")(spark, sfDir).collect()
    def parts(tag: String): Int = new java.io.File(graft.U.scratch(sfDir, tag))
      .listFiles().count(f => f.getName.startsWith("part-") &&
        f.getName.endsWith(".parquet"))
    assert(parts("compact_frag") == 32, "expected 32 fragmented files")
    assert(parts("compact_tidy") == 2, "expected 2 compacted files")
  }

  test("TopKRewriteRule leaves a GLOBAL top-k (empty PARTITION BY) alone") {
    // regression (ADVICE r3, high): empty partitioning must NOT rewrite —
    // GroupedTopK over ClusteredDistribution(Nil) is rejected by Spark, and
    // per-partition heaps would silently return per-partition top-k anyway.
    // The rule is active in this session via GraftExtensions.
    import spark.implicits._
    import org.apache.spark.sql.functions.row_number
    val w = org.apache.spark.sql.expressions.Window.orderBy($"c_custkey".desc)
    val q = graft.U.tbl(spark, sfDir, "customer")
      .withColumn("rn", row_number().over(w))
      .filter($"rn" <= 5).select($"c_custkey", $"rn")
    val p = q.queryExecution.executedPlan.toString
    assert(!p.contains("GroupedTopK"), s"global top-k was rewritten:\n$p")
    val rows = q.collect() // pre-fix: crashed at plan time
    assert(rows.length == 5)
    assert(rows.map(_.getInt(1)).sorted.sameElements(1 to 5))
  }

  test("TopKRewriteRule aliases a bare un-cast rank reference at project root") {
    // regression (ADVICE r3, medium): selecting a column subset plus the raw
    // (int) rank makes the rank Attribute a TOP-LEVEL projection item; the
    // substituted Cast must be re-aliased under the original name/exprId or
    // optimization dies with a ClassCastException.
    import spark.implicits._
    import org.apache.spark.sql.functions.row_number
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"c_nationkey").orderBy($"c_acctbal".desc, $"c_custkey")
    val q = graft.U.tbl(spark, sfDir, "customer")
      .withColumn("rn", row_number().over(w))
      .filter($"rn" <= 2).select($"c_custkey", $"rn")
    val p = q.queryExecution.executedPlan.toString
    assert(p.contains("GroupedTopK"), s"rule did not rewrite:\n$p")
    val got = q.collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    // independent oracle: top-2 per nation by (acctbal desc, custkey asc)
    val raw = graft.U.tbl(spark, sfDir, "customer")
      .select($"c_nationkey", $"c_acctbal", $"c_custkey").collect()
      .map(r => (r.getInt(0), r.getDouble(1), r.getLong(2)))
    val expected = raw.groupBy(_._1).values.flatMap { g =>
      g.sortBy(t => (-t._2, t._3)).take(2).zipWithIndex
        .map { case (t, i) => (t._3, i + 1) }
    }.toSet
    assert(got == expected, s"values diverge: ${got.diff(expected)} / ${expected.diff(got)}")
  }

  test("AQE splits the skewed partition of a shuffle join at runtime") {
    // the OTHER half of the skew story next to join_skew_salted: Spark's
    // adaptive re-plan detects the hot key's oversized shuffle partition
    // and splits it across tasks (skew=true on the join). Thresholds are
    // floored locally because fixture partitions are KB-sized; a 100 TB
    // deployment keeps the defaults and just leaves AQE on.
    import org.apache.spark.sql.functions._
    val confs = Seq(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      // factor 2: the hot FACT partition (no median to speak of) clears it,
      // the mildly-uneven dim side must NOT — a partition skewed on both
      // sides is excluded from splitting
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2.0",
      // fixture shuffle partitions are a few (compressed) KB — floor both
      // knobs far below the 256MB/64MB production defaults
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "1KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "1KB",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
      // the split adds a shuffle before the downstream groupBy; at 100 TB
      // that trade is exactly the point, so opt in explicitly
      "spark.sql.adaptive.forceOptimizeSkewedJoin" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    graft.U.withConfs(spark, confs: _*) {
      val ev = graft.U.events(spark, sfDir).drop("ts")
      // collapse most users onto one hot key => one shuffle partition
      // carries ~2/3 of the rows; replicate ×16 so the hot partition's
      // compressed shuffle bytes clear the floored threshold
      // repartition(8) first: a skewed partition is split along MAPPER
      // boundaries, so the hot key's bytes must come from several map
      // tasks (the single-file fixture scan is otherwise one mapper and
      // the hot partition would be unsplittable)
      val fact = ev.withColumn("k",
          when(col("user_id") < 100, 0L).otherwise(col("user_id")))
        .withColumn("rep", explode(expr("sequence(1, 16)")))
        .repartition(8)
      val dim = ev.select(col("user_id").as("k"), col("event_id").as("e2"))
      val j = fact.join(dim, "k")
        .groupBy(col("event_type")).agg(count(lit(1)).as("n"))
      j.collect()
      val fin = j.queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.executedPlan
        case other => other
      }
      import org.apache.spark.sql.execution.SparkPlan
      import org.apache.spark.sql.execution.adaptive.{QueryStageExec, ShuffleQueryStageExec}
      def stages(pl: SparkPlan): Seq[QueryStageExec] =
        pl.collect { case q: QueryStageExec => q }
          .flatMap(q => q +: stages(q.plan))
      val stats = stages(fin).collect {
        case s: ShuffleQueryStageExec =>
          s"stage ${s.id}: " +
            s.mapStats.map(_.bytesByPartitionId.mkString(",")).getOrElse("none")
      }.mkString("; ")
      val p = j.queryExecution.executedPlan.toString
      assert(p.contains("skew=true"),
        s"AQE did not mark the skew split [mapstats: $stats]:\n$p")
    }
  }

  test("profile_table: one pruned scan branch per column, hash-aggregated") {
    val p = plan("profile_table")
    // five branches, each reading EXACTLY its own column (columnar reads:
    // same total bytes as a single five-column scan, narrower shuffles)
    assert("Scan parquet".r.findAllIn(p).size == 5,
      s"expected one pruned scan per profiled column:\n$p")
    for (c <- Seq("l_orderkey", "l_linenumber", "l_returnflag", "l_linestatus"))
      assert(s"ReadSchema: struct<$c:".r.findFirstIn(p).isDefined,
        s"branch for $c must prune to that column alone:\n$p")
    assert(!p.contains("Expand"),
      s"multi-distinct Expand (measured 6x slower via SortAggregate) crept back:\n$p")
  }

  test("graph_pagerank past the broadcast cap shuffle-joins ranks (no broadcast build)") {
    // force the past-the-cap path (cap=0): every rank-joining iteration
    // must be a shuffled hash join into the pre-partitioned edge frame —
    // a broadcast of |nodes| rows per iteration is the flagged 100 TB
    // scale-killer. Round 1 is FUSED (its rank is a constant expression
    // of the source node, so it joins nothing), leaving 2 rank joins.
    val df = graft.operators.Graphs.pagerankImpl(spark, sfDir, 0L)
    val p = df.queryExecution.executedPlan.toString
    assert("ShuffledHashJoin".r.findAllIn(p).size == 2,
      s"expected the 2 unfused rank iterations as shuffle-hash joins:\n$p")
    // and the gated path computes the identical integer fixpoint
    val gated = df.collect()
    val bcast = SparkEntry.queries("graph_pagerank")(spark, sfDir).collect()
    assert(gated.length == bcast.length && gated.sameElements(bcast),
      "shuffle-join path must equal the broadcast path row-for-row")
  }

  test("connected-components propagation path equals the DSU fast path") {
    import spark.implicits._
    // two chains + an isolated pair + duplicate/mirrored edges
    val pr = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (20L, 21L),
      (21L, 22L), (1L, 2L))
    val e = pr.toDF("u", "v")
    val mirrored = e.union(e.select($"v", $"u"))
    def labToSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val dsu = labToSet(graft.operators.Components.labels(mirrored, Long.MaxValue))
    val prop = labToSet(graft.operators.Components.labels(mirrored, 0L))
    assert(dsu == Set((1L, 1L), (2L, 1L), (3L, 1L), (4L, 1L), (10L, 10L),
      (11L, 10L), (20L, 20L), (21L, 20L), (22L, 20L)))
    assert(prop == dsu, s"propagation diverged: $prop vs $dsu")
  }

  test("graph_cc plans no cross join and exactly one single-partition pass") {
    val p = plan("graph_cc")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"component labeling must not cross-join:\n$p")
    assert(p.contains("Coalesce 1") || p.contains("coalesce"),
      s"DSU fast path should run as one task over the small edge set:\n$p")
  }

  test("graph_jaccard_nbrs wedge join is a hash/merge join, never a cross join") {
    val p = plan("graph_jaccard_nbrs")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"wedge enumeration degenerated to a cross join:\n$p")
  }

  test("emb_knn_classify broadcasts the query block over one corpus stream") {
    // the 100-query block must be the broadcast side; the corpus scan
    // streams map-side (BroadcastNestedLoopJoin IS the right operator for
    // an unconditioned crossJoin(broadcast(q)) — the filter/cosine land on
    // top), so the assert is on the broadcast, not the join flavor
    val p = plan("emb_knn_classify")
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastQueryStage"),
      s"query block not broadcast:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"corpus x queries planned as a partitioned cartesian:\n$p")
  }

  test("graph_kcore below the cap runs the one-task peel kernel (no joins)") {
    val p = plan("graph_kcore")
    assert(p.contains("MapPartitions"), s"kernel path not engaged:\n$p")
    assert(!p.contains("Join"), s"below-cap peel should not plan joins:\n$p")
  }

  test("graph_kcore past the cap keeps semi-join peel rounds, never cross") {
    val p = graft.operators.Graphs.kcoreImpl(spark, sfDir, 0L)
      .queryExecution.executedPlan.toString
    assert(p.contains("LeftSemi"), s"peel rounds lost the semi-join shape:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"peel degenerated to a cross join:\n$p")
  }

  test("graph_bfs_hops past the cap gates each frontier broadcast") {
    // below the node cap the frontier expansion must be map-side
    // (broadcast semi-join), never an edge-side shuffle
    val p = graft.operators.Graphs.bfsImpl(spark, sfDir, 0L)
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastQueryStage"),
      s"frontier not broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian frontier join:\n$p")
    // past the node cap the same loop must shuffle-hash, never broadcast —
    // and both postures must produce identical hop sets
    val edges = graft.U.tbl(spark, sfDir, "lineitem")
      .selectExpr("l_orderkey AS u", "l_partkey AS v").distinct()
    val gated = graft.operators.Graphs.bfsLoop(edges, 0L)
    val p0 = gated.queryExecution.executedPlan.toString
    assert(!p0.contains("BroadcastHashJoin") &&
      p0.contains("ShuffledHashJoin"),
      s"past-the-node-cap BFS frontier still broadcast:\n$p0")
    assert(gated.collect().map(_.toSeq).toSet ==
      graft.operators.Graphs.bfsLoop(edges, Long.MaxValue)
        .collect().map(_.toSeq).toSet,
      "BFS frontier gate paths diverge")
  }

  test("graph_kcore and graph_bfs_hops gate paths agree (cap=0 parity)") {
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSet
    assert(rows(graft.operators.Graphs.kcoreImpl(spark, sfDir, Long.MaxValue)) ==
      rows(graft.operators.Graphs.kcoreImpl(spark, sfDir, 0L)),
      "k-core kernel and loop disagree")
    assert(rows(graft.operators.Graphs.bfsImpl(spark, sfDir, Long.MaxValue)) ==
      rows(graft.operators.Graphs.bfsImpl(spark, sfDir, 0L)),
      "BFS kernel and loop disagree")
  }

  test("text_repetition is a shuffle-free projection (no join, no aggregate)") {
    val p = plan("text_repetition")
    assert(!p.contains("Join"), s"per-row array op grew a join:\n$p")
    assert(!p.contains("HashAggregate") && !p.contains("SortAggregate"),
      s"per-row array op grew an aggregate:\n$p")
  }

  test("ts_bollinger is one window pass, no join and no sqrt in the plan") {
    val p = plan("ts_bollinger")
    assert(p.contains("Window"), s"missing window:\n$p")
    assert(!p.contains("Join"), s"rolling stats grew a join:\n$p")
    // the breakout test is exact integer cross-multiplication by design
    assert(!p.toLowerCase.contains("sqrt"), s"float sqrt leaked into the plan:\n$p")
  }

  test("emb_rand_proj projects with no join and no aggregate before the sort") {
    val p = plan("emb_rand_proj")
    assert(!p.contains("Join"), s"pure projection grew a join:\n$p")
    assert(!p.contains("HashAggregate") && !p.contains("SortAggregate"),
      s"pure projection grew an aggregate:\n$p")
    assert(p.toLowerCase.contains("fixeddot"),
      s"codegen'd kernel missing from the plan:\n$p")
  }

  test("ts_changepoint exchanges the events table exactly once") {
    val p = plan("ts_changepoint")
    // one hash exchange feeds all three window passes (prefix sums, totals,
    // ranking share the user partitioning); the only other exchange is the
    // final presentation orderBy (range partitioning)
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(hashEx == 1, s"expected 1 hash exchange, got $hashEx:\n$p")
    assert(!p.contains("Join"), s"windowed totals grew a join:\n$p")
  }

  test("ts_dtw plans no join and a single aggregate chain per user") {
    val p = plan("ts_dtw")
    assert(!p.contains("Join"), s"unrolled DP grew a join:\n$p")
  }

  test("ts_cross_corr joins on an extractable equi key, not a nested loop") {
    val p = plan("ts_cross_corr")
    assert(!p.contains("NestedLoop"),
      s"shifted-key join degenerated to a nested loop:\n$p")
  }

  test("ts_theta is one aggregate chain per user, no join") {
    val p = plan("ts_theta")
    assert(!p.contains("Join"), s"fold-over-list grew a join:\n$p")
    // one hash exchange for the per-user collect; the other is the final
    // presentation orderBy (range partitioning)
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(hashEx == 1, s"expected 1 hash exchange, got $hashEx:\n$p")
  }

  test("text_gopher_rules stays a pure per-row projection") {
    val p = plan("text_gopher_rules")
    assert(!p.contains("Join"), s"per-row quality flags grew a join:\n$p")
    assert(!p.contains("HashAggregate") && !p.contains("SortAggregate"),
      s"per-row quality flags grew an aggregate:\n$p")
  }

  test("emb_standardize joins the 64-row stats frame by broadcast") {
    val p = plan("emb_standardize")
    assert(p.contains("BroadcastHashJoin"),
      s"stats join not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"64-row stats frame sort-merged:\n$p")
  }

  test("ts_rsi / ts_stochastic / ts_sma_cross share ONE user exchange") {
    // every rolling indicator is lag + windows over the same (user_id)
    // partitioning — one hash exchange total; the only other exchange is
    // the presentation orderBy (range partitioning), and nothing joins
    for (q <- Seq("ts_rsi", "ts_stochastic", "ts_sma_cross")) {
      val p = plan(q)
      val hashEx = "Exchange hashpartitioning".r.findAllIn(p).length
      assert(hashEx == 1, s"$q: expected 1 hash exchange, got $hashEx:\n$p")
      assert(!p.contains("Join"), s"$q: rolling indicator grew a join:\n$p")
    }
  }

  test("ts_macd / ts_kalman fold in one per-user collect, no join") {
    for (q <- Seq("ts_macd", "ts_kalman")) {
      val p = plan(q)
      assert(!p.contains("Join"), s"$q: struct fold grew a join:\n$p")
      val hashEx = "Exchange hashpartitioning".r.findAllIn(p).length
      assert(hashEx == 1, s"$q: expected 1 hash exchange, got $hashEx:\n$p")
    }
  }

  test("graph_link_predict stays an equi-join plan (no cartesian product)") {
    val p = plan("graph_link_predict")
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"),
      s"link predict degenerated to all-pairs:\n$p")
  }

  test("funnel-family anchor joins are gated: broadcast only below the cap") {
    // the declared queries run at fixture scale (|users| << UserAnchorCap),
    // so their anchor joins must plan as broadcast hash joins with no sort
    for (q <- Seq("ts_funnel", "ts_retention", "ts_funnel_steps",
        "ts_window_funnel")) {
      val p = plan(q)
      assert(p.contains("BroadcastHashJoin"), s"$q: anchor not broadcast:\n$p")
      assert(!p.contains("SortMergeJoin"), s"$q: anchor join sort-merged:\n$p")
      graft.U.releaseTracked()
    }
    // past the cap the same query must plan shuffle-hash, never broadcast
    val p0 = operators.TimeSeries.tsFunnelImpl(spark, sfDir, 0L)
      .queryExecution.executedPlan.toString
    graft.U.releaseTracked()
    assert(p0.contains("ShuffledHashJoin") && !p0.contains("BroadcastHashJoin"),
      s"past-the-cap funnel anchor not shuffle-hash:\n$p0")
  }

  test("agg_boxplot / agg_cramers_v broadcast their tiny stats side") {
    for (q <- Seq("agg_boxplot", "agg_cramers_v")) {
      val p = plan(q)
      assert(p.contains("BroadcastHashJoin") ||
        p.contains("BroadcastNestedLoopJoin") || // the 1-row total cross join
        p.contains("BroadcastQueryStage"),
        s"$q: stats side not broadcast:\n$p")
      assert(!p.contains("SortMergeJoin"), s"$q: stats side sort-merged:\n$p")
    }
  }

  test("ts_rolling_ols windows share ONE user exchange, no join") {
    val p = plan("ts_rolling_ols")
    assert(!p.contains("Join"), s"rolling OLS grew a join:\n$p")
    // one exchange for the per-user sort + one for the output orderBy
    val ex = "Exchange".r.findAllIn(p).length
    assert(ex <= 2, s"rolling OLS exchanges the events table $ex times:\n$p")
  }

  test("agg_ecdf is one aggregation pass, no events-times-probes blowup") {
    val p = plan("agg_ecdf")
    assert(!p.contains("Join") && !p.contains("CartesianProduct"),
      s"ecdf multiplied the event stream:\n$p")
    assert(p.contains("Generate"), s"stack() unpivot missing:\n$p")
  }

  test("sim_hamming_topk broadcasts the probe block and group-limits ranks") {
    val p = plan("sim_hamming_topk")
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastQueryStage"),
      s"probe block not broadcast:\n$p")
    // the rank()<=k idiom must plan bounded: either the repo's GroupedTopK
    // whole-operator (TopKRewriteRule engages under GraftExtensions) or
    // Spark 4's WindowGroupLimit partial top-k — never a full window sort
    assert(p.contains("GroupedTopK") || p.contains("WindowGroupLimit"),
      s"rank limit not bounded:\n$p")
  }

  test("text_readability plans as a pure projection — no shuffle before sort") {
    val p = plan("text_readability")
    assert(!p.contains("Join") && !p.contains("HashAggregate") &&
      !p.contains("Window "), s"readability grew a wide op:\n$p")
  }

  test("graph_katz reuses one edge scan with no fixpoint iteration joins") {
    val p = plan("graph_katz")
    assert(!p.contains("CartesianProduct"), s"katz cross join:\n$p")
    // closed form: at most the degree join + the final left join
    val joins = "Join".r.findAllIn(p).length
    assert(joins <= 8, s"katz join count exploded ($joins):\n$p")
    graft.U.releaseTracked()
  }

  test("dedup_prefix shuffles only the bounded prefix projection") {
    val p = plan("dedup_prefix")
    assert(!p.contains("Join"), s"prefix dedup grew a join:\n$p")
    // text must be pruned before the exchange: the scan projects it, the
    // aggregate keys on the derived prefix — the full text column may not
    // appear in any Exchange's output schema
    val exLines = p.linesIterator.filter(_.contains("Exchange")).mkString("\n")
    assert(!exLines.contains("text#"), s"full text shuffled:\n$exLines")
  }

  test("dedup_paragraph shuffles only (doc_id, hash) pairs, never text") {
    val p = plan("dedup_paragraph")
    val exLines = p.linesIterator.filter(_.contains("Exchange")).mkString("\n")
    assert(!exLines.contains("text#"), s"full text shuffled:\n$exLines")
    assert(!exLines.contains("tk#"), s"token array shuffled:\n$exLines")
  }

  test("emb_hard_negatives broadcasts the anchor block, corpus streams once") {
    val p = plan("emb_hard_negatives")
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastHashJoin"), s"anchor block not broadcast:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"hard negatives degenerated to a shuffled cross product:\n$p")
  }

  test("graph_scc and graph_ktruss never plan a cartesian product") {
    for (q <- Seq("graph_scc", "graph_ktruss")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"),
        s"$q grew an all-pairs product:\n$p")
      graft.U.releaseTracked()
    }
  }

  test("ts_ljung_box reuses the ACF plan: one extra agg, no extra scan") {
    val pa = plan("ts_acf_lags")
    val pl = plan("ts_ljung_box")
    def scans(p: String) = "Scan parquet".r.findAllIn(p).length
    assert(scans(pl) == scans(pa),
      s"ljung-box scans diverge from the shared ACF kernel:\n$pl")
  }

  test("round-8 sweep: new graph/distribution queries plan no cartesian product") {
    for (name <- Seq("graph_rich_club", "graph_knn_degree", "ts_beta",
        "ts_mann_kendall", "ts_event_study", "agg_cvm")) {
      val p = plan(name)
      assert(!p.contains("CartesianProduct"), s"$name planned a cartesian:\n$p")
    }
  }

  test("round-10 sweep: new pair/sweep queries plan no cartesian product") {
    for (name <- Seq("ts_isotonic", "agg_log_rank", "ts_kaplan_meier",
        "sim_pq_adc", "agg_dispersion", "ts_lorenz_interday")) {
      val p = plan(name)
      assert(!p.contains("CartesianProduct"),
        s"$name planned a cartesian:\n$p")
      graft.U.releaseTracked()
    }
  }

  test("pipeline_epoch_shuffle ranks inside hash-range partitions") {
    // the two-level rank: per-epoch row_number must be PARTITIONED by the
    // hash-range block key — a global (single-partition) corpus sort
    // would mean the conversion regressed
    val p = plan("pipeline_epoch_shuffle")
    assert("hashpartitioning\\(rng".r.findAllIn(p).nonEmpty,
      s"epoch shuffle lost its block partitioning:\n$p")
    graft.U.releaseTracked()
  }

  test("ts_atr and ts_obv share one exchange: daily bars agg then per-type window") {
    for (name <- Seq("ts_atr", "ts_obv")) {
      val p = plan(name)
      // the daily-bar aggregation runs BEFORE the window (struct-keyed
      // max_by plans as SortAggregate — still partial+final around one
      // exchange, which is the posture that matters)
      assert(p.contains("SortAggregate") || p.contains("HashAggregate"),
        s"$name lost the daily-bar agg:\n$p")
      assert(p.contains("Window"), s"$name lost the window:\n$p")
      assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
        s"$name planned a join it does not need:\n$p")
    }
  }

  test("agg_wasserstein's support windows run over the domain-bounded frame") {
    val p = plan("agg_wasserstein")
    // the event scan feeds ONE hash-agg keyed (event_type, vc) before any
    // window — the event-cardinality → value-domain collapse
    assert(p.contains("HashAggregate"), s"first-agg collapse missing:\n$p")
    assert(p.contains("Window"), s"cumulative window missing:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"support grid should broadcast, not sort-merge:\n$p")
  }

  test("dedup_bloom_prefilter broadcasts only the constant word frames") {
    val p = plan("dedup_bloom_prefilter")
    assert(p.contains("BroadcastHashJoin"), s"word probe not broadcast:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"bloom probe degenerated:\n$p")
  }

  test("emb_silhouette fans the centroid taxonomy out as a broadcast") {
    val p = plan("emb_silhouette")
    assert(p.contains("BroadcastHashJoin"), s"centroid join not broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian in silhouette:\n$p")
  }

  test("GroupedTopKApi rejects ambiguous column names instead of first-match") {
    import spark.implicits._
    import org.apache.spark.sql.functions.upper
    val dup = graft.U.tbl(spark, sfDir, "nation")
      .select($"n_regionkey", $"n_name", upper($"n_name").as("n_name"))
    val e = intercept[IllegalArgumentException] {
      graft.plans.GroupedTopKApi(dup, Seq("n_regionkey"),
        Seq(("n_name", false)), 2, "rn")
    }
    assert(e.getMessage.contains("ambiguous"), e.getMessage)
  }

  test("sql_star_except prunes the excluded columns from the scan") {
    val p = plan("sql_star_except")
    assert(p.contains("ReadSchema"), s"no read schema:\n$p")
    assert(!p.contains("c_acctbal"), s"excluded column still read:\n$p")
  }

  test("emb_kmeans assigns via a broadcast of the centroid frame") {
    val p = plan("emb_kmeans")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      s"centroid frame not broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian product:\n$p")
    U.releaseTracked()
  }

  test("emb_mmr streams the corpus against broadcast selections, no cartesian") {
    val p = plan("emb_mmr")
    assert(!p.contains("CartesianProduct"), s"cartesian product:\n$p")
    U.releaseTracked()
  }

  test("round-11 sweep: new operators plan no cartesian product") {
    // sim_knn_graph's self-join must ride the cid equijoin, the span/pair
    // joins their key equijoins, conformal its broadcast stats — a
    // CartesianProduct in any of them is the n^2 shape the kernels exist
    // to avoid
    for (name <- Seq("sim_knn_graph", "sim_ivfpq_adc",
        "dedup_substring_spans", "dedup_threshold_curve",
        "agg_conformal_interval", "text_ccnet_buckets",
        "pipeline_curriculum", "agg_mde", "emb_dim_variance")) {
      val p = plan(name)
      assert(!p.contains("CartesianProduct"), s"$name planned a cartesian:\n$p")
      U.releaseTracked()
    }
  }

  test("round-14 sweep: new operators plan no cartesian product") {
    // the skip-gram/bigram/feature joins ride their key equijoins, the
    // candidate scorers their band keys, DSIR its 64-row broadcast score
    // table — a CartesianProduct anywhere is the n^2 shape these kernels
    // exist to avoid (1-row broadcast cross joins plan as
    // BroadcastNestedLoop, which is fine and not matched here)
    for (name <- Seq("pipeline_tokenizer_bpe", "pipeline_bpe_doc_tokens",
        "graph_skipgram_pairs", "graph_walk_biased", "text_skipgram_pmi",
        "text_kneser_ney", "text_distinct_n", "dedup_edit_verify",
        "pipeline_dsir_weights", "agg_holm", "multimodal_zcr",
        "fn_decimal38_canary")) {
      val p = plan(name)
      assert(!p.contains("CartesianProduct"), s"$name planned a cartesian:\n$p")
      U.releaseTracked()
    }
  }

  test("round-15 sweep: new operators plan no cartesian product") {
    // the perplexity filter's doc-bigram × model join rides the (w1, w2)
    // equijoin and its 1-row threshold broadcast plans as
    // BroadcastNestedLoop (fine, unmatched here); loss_mask and
    // letterbox are pure projections that must not touch a join at all
    for (name <- Seq("pipeline_perplexity_filter", "pipeline_loss_mask",
        "multimodal_letterbox", "multimodal_patch_mask",
        "pipeline_lang_balance", "sim_radius_search",
        // second batch: cube rides one Expand+shuffle, the tile grid is a
        // join-free explode+window, epoch plan is a 1-row broadcast total,
        // CDC dedup keys its joins on doc_id / chunk text (shuffle, data-
        // sized — broadcasting either side would be the 100 TB mistake)
        "sql_grouping_sets", "multimodal_tile_grid",
        "pipeline_epoch_plan", "dedup_cdc_chunks",
        "multimodal_video_keyframe")) {
      val p = plan(name)
      assert(!p.contains("CartesianProduct"), s"$name planned a cartesian:\n$p")
      U.releaseTracked()
    }
  }

  test("dedup_cdc_chunks: one chunk-keyed shuffle, no join, no broadcast") {
    // the corpus dup count is a window over the chunk partition — ONE
    // chunk-keyed exchange; the boundary fold is per-row HOFs, so the
    // plan must contain no join (and hence no broadcast) at all
    val p = plan("dedup_cdc_chunks")
    assert(!p.contains("Join"), s"cdc must not join:\n$p")
    assert(p.contains("hashpartitioning(chunk"),
      s"cdc dup count must shuffle on the chunk key:\n$p")
    U.releaseTracked()
  }

  test("multimodal_tile_grid plans join-free with a partitioned rank window") {
    val p = plan("multimodal_tile_grid")
    assert(!p.contains("Join"), s"tile grid must not join:\n$p")
    U.releaseTracked()
  }

  test("emb_ood_score broadcasts the 16-row quantizer against one stream") {
    val p = plan("emb_ood_score")
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastHashJoin"),
      s"quantizer not broadcast:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"OOD scan degenerated to a shuffled cross product:\n$p")
    U.releaseTracked()
  }
}
