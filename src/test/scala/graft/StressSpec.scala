package graft

import org.apache.spark.sql.functions._

/** Scale-headroom probe: the exact-arithmetic design means aggregates over
  * k-times replicated input must equal EXACTLY k times the originals (Long/
  * decimal sums are associative; no float drift allowed). Runs the flagship
  * shape over an 8x self-union — more partitions, bigger shuffles, same
  * invariants. */
class StressSpec extends SparkTestBase {

  test("q1 aggregates over 8x replicated lineitem scale exactly by 8") {
    val base = operators.Aggregations.q1Pricing(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r).toMap
    val li = U.tbl(spark, sfDir, "lineitem")
    val li8 = (1 to 8).map(_ => li).reduce(_ unionAll _)
    // same query shape, over the 8x frame via a scratch parquet round-trip
    val scratch = U.scratch(sfDir, "stress_li8")
    li8.write.mode("overwrite").parquet(scratch)
    // point the query at a dir where lineitem.parquet IS the 8x data
    val d8 = U.scratch(sfDir, "stress_sf")
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(d8), true)
    fs.mkdirs(new org.apache.hadoop.fs.Path(d8))
    fs.rename(new org.apache.hadoop.fs.Path(scratch),
      new org.apache.hadoop.fs.Path(s"$d8/lineitem.parquet"))
    val big = operators.Aggregations.q1Pricing(spark, d8).collect()
    assert(big.nonEmpty)
    big.foreach { r =>
      val key = (r.getString(0), r.getString(1))
      val b = base(key)
      assert(r.getAs[Long]("count_order") == 8L * b.getAs[Long]("count_order"))
      // integer-exact sums scale exactly; averages are invariant
      assert(r.getAs[Double]("sum_qty") == 8.0 * b.getAs[Double]("sum_qty"))
      assert(r.getAs[Double]("sum_charge") == 8.0 * b.getAs[Double]("sum_charge"))
      assert(math.abs(r.getAs[Double]("avg_price") - b.getAs[Double]("avg_price")) < 1e-9)
    }
  }

  test("distributed label propagation labels a 200k-node synthetic graph") {
    // the PAST-THE-CAP connected-components path at a size the parquet
    // fixtures never reach: 20k star-shaped components (hub b*10 + 9
    // spokes — the shallow shape near-dup clusters actually have), 360k
    // mirrored edges, forced through propagation with cap=0. Expected
    // labeling is closed-form: every node's component is its block base.
    val e = spark.range(0L, 180000L)
      .selectExpr("(id DIV 9) * 10 AS u", "(id DIV 9) * 10 + (id % 9) + 1 AS v")
    val mirrored = e.unionByName(e.selectExpr("v AS u", "u AS v"))
    val lab = operators.Components.labels(mirrored, 0L)
    assert(lab.count() == 200000L, "every incident node must be labeled")
    val bad = lab.filter(col("component") =!= col("node") - pmod(col("node"), lit(10L)))
      .count()
    assert(bad == 0L, s"$bad nodes labeled off their block base")
    U.releaseTracked()
  }

  test("shuffle-join pagerank equals the broadcast path on a 30k-node graph") {
    // both gate paths of the rank iteration over the same synthetic
    // digraph (two deterministic out-edges per node): identical integer
    // fixpoint required, top-50 row-for-row
    val n = 30000L
    val e = spark.range(0L, n)
      .selectExpr(s"id AS u", s"(id * 31 + 7) % $n AS v")
    val edges = e.unionByName(
      spark.range(0L, n).selectExpr("id AS u", s"(id + 1) % $n AS v"))
    val bcast = operators.Graphs.pagerankOnEdges(edges, Long.MaxValue).collect()
    U.releaseTracked()
    val shuffled = operators.Graphs.pagerankOnEdges(edges, 0L).collect()
    U.releaseTracked()
    assert(bcast.length == 50 && bcast.sameElements(shuffled),
      "gated pagerank paths diverge on the synthetic graph")
  }

  test("gated personalized-pagerank paths agree on a 30k-node graph") {
    val n = 30000L
    val e = spark.range(0L, n)
      .selectExpr("id AS u", s"(id * 31 + 7) % $n AS v")
    val edges = e.unionByName(
      spark.range(0L, n).selectExpr("id AS u", s"(id + 1) % $n AS v"))
    val bcast = operators.Graphs
      .pagerankOnEdges(edges, Long.MaxValue, Some(97L)).collect()
    U.releaseTracked()
    val shuffled = operators.Graphs
      .pagerankOnEdges(edges, 0L, Some(97L)).collect()
    U.releaseTracked()
    assert(bcast.length == 50 && bcast.sameElements(shuffled),
      "gated PPR paths diverge on the synthetic graph")
  }

  test("gated HITS paths agree on a 30k-node graph") {
    val n = 30000L
    val e = spark.range(0L, n)
      .selectExpr("id AS u", s"(id * 31 + 7) % $n AS v")
    val edges = e.unionByName(
      spark.range(0L, n).selectExpr("id AS u", s"(id + 1) % $n AS v"))
    val bcast = operators.Graphs.hitsOnEdges(edges, Long.MaxValue).collect()
    U.releaseTracked()
    val shuffled = operators.Graphs.hitsOnEdges(edges, 0L).collect()
    U.releaseTracked()
    assert(bcast.length == 50 && bcast.sameElements(shuffled),
      "gated HITS paths diverge on the synthetic graph")
  }

  test("gated harmonic-closeness paths agree on a 30k-node graph") {
    // r6 advisor: graph_closeness_k broadcast the frontier unconditionally;
    // it now carries the PrBroadcastNodeCap gate — prove both postures
    // compute the same truncated-harmonic top-50 on a synthetic digraph
    val n = 30000L
    val e = spark.range(0L, n)
      .selectExpr("id AS u", s"(id * 31 + 7) % $n AS v")
    val edges = e.unionByName(
      spark.range(0L, n).selectExpr("id AS u", s"(id + 1) % $n AS v"))
    val bcast = operators.Graphs.closenessOnAdj(edges, Long.MaxValue).collect()
    U.releaseTracked()
    val shuffled = operators.Graphs.closenessOnAdj(edges, 0L).collect()
    U.releaseTracked()
    // 45 nodes are 3-hop-reachable from the 5 seeds in this digraph —
    // fewer than the query's top-50 cap, which is fine; parity is the claim
    assert(bcast.nonEmpty && bcast.sameElements(shuffled),
      "gated closeness paths diverge on the synthetic graph")
  }

  test("HITS gate measures both node populations on an asymmetric graph") {
    // r6 advisor: the gate read araw.count() — distinct SINKS only — but
    // `side` also broadcasts hub frames keyed by u. This graph has 3
    // sinks and 30k sources; with a cap of 10 the old gate said "small"
    // and would broadcast a 30k-row hub frame. The fixed gate must take
    // the shuffle path, and the result must still equal the broadcast
    // path's.
    val e = spark.range(0L, 30000L).selectExpr("id AS u", "id % 3 AS v")
    val gated = operators.Graphs.hitsOnEdges(e, 10L).collect()
    U.releaseTracked()
    val bcast = operators.Graphs.hitsOnEdges(e, Long.MaxValue).collect()
    U.releaseTracked()
    assert(gated.sameElements(bcast),
      "asymmetric-graph HITS paths diverge")
  }

  test("gated funnel-family anchor paths agree with the broadcast posture") {
    // r7 verdict #1: ts_funnel / ts_retention / ts_funnel_steps /
    // ts_window_funnel broadcast their |users|-row anchor frames
    // unconditionally; they now dispatch through TimeSeries.anchorGate.
    // Parity claim: cap=0 (every anchor shuffle-hash-joined) must be
    // row-identical to cap=MaxValue (every anchor broadcast) — it is the
    // same equi-join on user_id either way.
    val fams: Seq[(String, (org.apache.spark.sql.SparkSession, String, Long) =>
        org.apache.spark.sql.DataFrame)] = Seq(
      ("ts_funnel", operators.TimeSeries.tsFunnelImpl _),
      ("ts_retention", operators.TimeSeries.tsRetentionImpl _),
      ("ts_funnel_steps", operators.TimeSeries.tsFunnelStepsImpl _),
      ("ts_window_funnel", operators.TimeSeries.tsWindowFunnelImpl _))
    fams.foreach { case (name, f) =>
      val bcast = f(spark, sfDir, Long.MaxValue).collect()
      U.releaseTracked()
      val shuffled = f(spark, sfDir, 0L).collect()
      U.releaseTracked()
      assert(bcast.nonEmpty && bcast.sameElements(shuffled),
        s"$name: gated anchor paths diverge")
    }
  }

  test("gated rich-club and knn-degree paths agree with the broadcast posture") {
    // the round-8 degree⋈edge joins dispatch through U.sizeGate; cap=0
    // (degree frame shuffle-hash-joined) must be row-identical to
    // cap=MaxValue (degree frame broadcast) — same equi-join either way
    for ((name, f) <- Seq[(String, (org.apache.spark.sql.SparkSession,
        String, Long) => org.apache.spark.sql.DataFrame)](
      ("graph_rich_club", operators.Graphs.richClubImpl _),
      ("graph_knn_degree", operators.Graphs.knnDegreeImpl _))) {
      val bcast = f(spark, sfDir, Long.MaxValue).collect()
      U.releaseTracked()
      val shuffled = f(spark, sfDir, 0L).collect()
      U.releaseTracked()
      assert(bcast.nonEmpty && bcast.sameElements(shuffled),
        s"$name: gated degree paths diverge")
    }
  }

  test("window funnel survives a 120k-user anchor set on both gate paths") {
    // synthetic high-cardinality user set, far past what sf0.1 fixtures
    // carry: every user clicks at t0+u s, views +1h, purchases +2h — the
    // closed-form answer is funnel_level=3 for all 120k users. Runs the
    // real parquet-reading impl against a scratch events dir so the gate,
    // the persisted anchors, and the final distinct all execute.
    val n = 120000L
    val ev = spark.range(0L, n).selectExpr(
        "id AS user_id",
        "timestamp_micros(1700000000000000 + id * 1000000) AS ts0")
      .selectExpr("user_id",
        "stack(3, 'click', ts0, 'view', ts0 + INTERVAL 1 HOUR, " +
          "'purchase', ts0 + INTERVAL 2 HOURS) AS (event_type, ts)")
      .selectExpr("user_id * 3 AS event_id", "ts", "user_id", "event_type",
        "CAST(1.0 AS DOUBLE) AS value", "'{}' AS props")
    val d = U.scratch(sfDir, "stress_funnel_sf")
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(d), true)
    ev.write.parquet(s"$d/events.parquet")
    // cap 1000 << 120k users: the anchors MUST take the shuffle-hash path
    val gated = operators.TimeSeries.tsWindowFunnelImpl(spark, d, 1000L)
    val gp = gated.queryExecution.executedPlan.toString
    assert(!gp.contains("BroadcastHashJoin"),
      s"120k-row anchor still broadcast under cap=1000:\n$gp")
    val rows = gated.collect()
    U.releaseTracked()
    assert(rows.length == n.toInt)
    assert(rows.forall(_.getAs[Long]("funnel_level") == 3L),
      "closed-form funnel level violated on the synthetic set")
    val bcast = operators.TimeSeries.tsWindowFunnelImpl(spark, d, Long.MaxValue)
      .collect()
    U.releaseTracked()
    assert(bcast.sameElements(rows), "high-cardinality gate paths diverge")
  }

  test("struct-fold kernel handles a 200k-point single series exactly") {
    // the ts_macd/ts_kalman scale shape: ONE collect_list per key, bounded
    // by the longest series — drive it 20x past the fixture maximum and
    // check the Kalman recursion against the scalar loop bit-for-bit
    import spark.implicits._
    val n = 200000
    val ev = spark.range(0L, n)
      .select(lit(7L).as("user_id"),
        expr("timestamp_micros(1700000000000000 + id * 1000000)").as("ts"),
        col("id").as("event_id"),
        (lit(40.0) + (col("id") % 17).cast("double") * 0.25).as("value"))
    val got = operators.TimeSeries.structFoldOn(ev,
      "named_struct('x', p.value, 'p', CAST(1.0 AS DOUBLE))",
      "named_struct(" +
        "'x', acc.x + ((acc.p + 0.01) / (acc.p + 0.01 + 1.0)) * (x.x - acc.x), " +
        "'p', (1.0 - ((acc.p + 0.01) / (acc.p + 0.01 + 1.0))) * (acc.p + 0.01))")
      .select($"user_id", $"n", $"fin.x".as("level"), $"fin.p".as("variance"))
      .collect()
    assert(got.length == 1 && got.head.getAs[Long]("n") == n.toLong)
    var (x, p) = (40.0, 1.0)
    (1 until n).foreach { i =>
      val z = 40.0 + (i % 17).toDouble * 0.25
      val k = (p + 0.01) / (p + 0.01 + 1.0)
      val nx = x + k * (z - x); val np = (1.0 - k) * (p + 0.01)
      x = nx; p = np
    }
    assert(got.head.getAs[Double]("level") == x)
    assert(got.head.getAs[Double]("variance") == p)
  }

  test("imperative-path queries are value-deterministic run-over-run") {
    // the operators with hand-written sequential kernels (mapPartitions
    // LTTB, single-task union-find, power iteration, integer PageRank) —
    // exactly where nondeterminism would sneak in if ordering assumptions
    // broke; DataFrame-only queries are covered by the oracle gate
    for (name <- Seq("ts_lttb", "dedup_clusters", "emb_top_eigvec",
        "graph_pagerank", "agg_weighted_median", "graph_cc",
        "multimodal_codec_roundtrip", "ts_theta", "graph_hits")) {
      val f = SparkEntry.queries(name)
      val r1 = f(spark, sfDir).collect().map(_.toString)
      val r2 = f(spark, sfDir).collect().map(_.toString)
      assert(r1.sameElements(r2), s"$name differs run-over-run")
    }
  }

  // an adversarial directed distinct-edge frame: a dense 97-node digraph
  // with reciprocal pairs, plus a seeded 3-cycle and a bidirectional
  // triangle (a 3-cycle closes ZERO wedges — the orderings test)
  private def adversarialDigraph() =
    U.tbl(spark, sfDir, "lineitem")
      .selectExpr("l_partkey % 97 AS u", "(l_partkey * 31 + l_orderkey) % 97 AS v")
      .filter(col("u") =!= col("v")).distinct()
      .unionByName( // seed explicit 3-cycle + bidirectional triangle
        spark.range(1).selectExpr("CAST(1001 AS BIGINT) u", "CAST(1002 AS BIGINT) v")
          .unionAll(spark.range(1).selectExpr("1002L u", "1003L v"))
          .unionAll(spark.range(1).selectExpr("1003L u", "1001L v"))
          .unionAll(spark.range(1).selectExpr("2001L u", "2002L v"))
          .unionAll(spark.range(1).selectExpr("2002L u", "2001L v"))
          .unionAll(spark.range(1).selectExpr("2002L u", "2003L v"))
          .unionAll(spark.range(1).selectExpr("2003L u", "2002L v"))
          .unionAll(spark.range(1).selectExpr("2001L u", "2003L v"))
          .unionAll(spark.range(1).selectExpr("2003L u", "2001L v")))

  test("transitive-triples gate parity: oriented twin equals single-task kernel") {
    // force the past-the-cap degree-oriented triangle path (cap = 0) and
    // the below-the-cap CSR kernel (default cap) over the same edge frame;
    // gate dispatch must not change the answer
    val e = adversarialDigraph().persist()
    val fast = operators.Graphs.transitiveTriplesCount(e)
      .collect().head.getAs[Long]("n_closed")
    val dist = operators.Graphs.transitiveTriplesCount(e, cap = 0L)
      .collect().head.getAs[Long]("n_closed")
    // bidirectional triangle alone contributes exactly 6 transitive triples
    assert(fast >= 6L, s"expected >= 6 closed triples, got $fast")
    assert(fast == dist, s"gate parity broke: single-task=$fast oriented=$dist")

    // triad census over the same adversarial frame: both gate paths must
    // produce the identical 7-class histogram, and the seeded 3-cycle
    // (030C) and fully-mutual triangle (300) must be counted
    def census(cap: Long) =
      operators.Graphs.triadCensusOnEdges(e, cap).collect()
        .map(r => r.getString(0) -> r.getAs[Long]("n_triads")).toMap
    val cFast = census(Long.MaxValue)
    val cDist = census(0L)
    assert(cFast == cDist, s"census gate parity broke: $cFast vs $cDist")
    assert(cFast.getOrElse("030C", 0L) >= 1L && cFast.getOrElse("300", 0L) >= 1L)
    e.unpersist()
  }

  test("ktruss and transitivity-dir gate parity: sf0.001 and adversarial digraph") {
    def truss(e: org.apache.spark.sql.DataFrame, cap: Long) =
      operators.Graphs.ktrussOnEdges(e, cap).collect().map(_.toSeq).toSeq
    def dir(e: org.apache.spark.sql.DataFrame, cap: Long) =
      operators.Graphs.transitivityDirOnEdges(e, cap).collect().map(_.toSeq).toSeq
    val seq = SharedIndex.entries.find(_.name == "orderSeqEdges").get
      .get(spark, sfDir).asInstanceOf[org.apache.spark.sql.DataFrame]
      .select(col("u"), col("v"))
    val und = operators.Graphs.pagerankEdgeFrame(spark, sfDir)
      .filter(col("u") < col("v"))
    val adv = adversarialDigraph().persist()
    // ktruss takes an undirected u < v edge set (the trussPeel facade's
    // canonical form); transitivity takes the directed frame as it is
    val advUnd = adv.select(least(col("u"), col("v")).as("u"),
      greatest(col("u"), col("v")).as("v")).distinct()
    for ((name, e) <- Seq("sf0.001" -> und, "adversarial" -> advUnd)) {
      val fast = truss(e, Long.MaxValue)
      assert(fast.nonEmpty && fast == truss(e, 0L),
        s"ktruss gate parity broke on $name: ${fast.length} single-task rows")
      U.releaseTracked()
    }
    for ((name, e) <- Seq("sf0.001" -> seq, "adversarial" -> adv)) {
      val fast = dir(e, Long.MaxValue)
      assert(fast.length == 1 && fast == dir(e, 0L),
        s"transitivity-dir gate parity broke on $name: $fast")
      U.releaseTracked()
    }
    adv.unpersist()
  }

  test("survival curves are invariant under 8x user replication") {
    // replicate users with parity-preserving id offsets: every cohort's
    // composition replicates exactly, so at-risk and death counts scale
    // x8 while every (n-d)/n log factor — hence the entire curve in
    // micro-nats — must be IDENTICAL. The associativity claim for
    // survival analysis, tested at 8x the fixture population.
    val ev = U.events(spark, sfDir)
    val off = 1000000L // even offset => the id-parity arm is preserved
    val ev8 = (0 until 8).map(k =>
      ev.withColumn("user_id", col("user_id") + lit(k * off)))
      .reduce(_ unionAll _)
    val d8 = U.scratch(sfDir, "stress_surv")
    val fs = org.apache.hadoop.fs.FileSystem
      .get(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(d8), true)
    ev8.write.mode("overwrite").parquet(s"$d8/events.parquet")
    val base = SparkEntry.queries("ts_kaplan_meier")(spark, sfDir).collect()
    U.releaseTracked()
    val big = SparkEntry.queries("ts_kaplan_meier")(spark, d8).collect()
    U.releaseTracked()
    assert(base.nonEmpty && big.length == base.length,
      s"curve shape changed under replication: ${base.length} vs ${big.length}")
    val bm = base.map(r => (r.getLong(0), r.getLong(1)) -> r).toMap
    big.foreach { r =>
      val b = bm((r.getLong(0), r.getLong(1)))
      assert(r.getAs[Long]("n_at_risk") == 8L * b.getAs[Long]("n_at_risk"))
      assert(r.getAs[Long]("n_deaths") == 8L * b.getAs[Long]("n_deaths"))
      assert(r.isNullAt(r.fieldIndex("log_s_micro")) ==
        b.isNullAt(b.fieldIndex("log_s_micro")))
      if (!r.isNullAt(r.fieldIndex("log_s_micro")))
        assert(r.getAs[Long]("log_s_micro") == b.getAs[Long]("log_s_micro"),
          "the survival curve must be population-size-free")
    }
  }

  test("triangle kernels agree at 220k edges: oriented twins vs single task") {
    // the gate-parity test above proves dispatch correctness on a small
    // adversarial frame; this one proves the SIZE claim — both the
    // degree-oriented triangle enumeration and the census CASE tree run
    // at past-fixture scale (100k nodes / 220k directed edges, beyond the
    // 200k-edge bar) and still equal the single-task CSR kernel on the
    // same graph. Ring chords give 100k support triangles {i, i+1, i+2}
    // whose edges i→i+1, i+1→i+2, i→i+2 are transitive triples; every
    // fifth node adds a reverse edge (i+1)→i, seeding mutual dyads so the
    // census populates the 120-classes, not just 030T.
    val n = 100000L
    val ring1 = spark.range(0L, n).selectExpr("id AS u", s"(id + 1) % $n AS v")
    val ring2 = spark.range(0L, n).selectExpr("id AS u", s"(id + 2) % $n AS v")
    val rev = spark.range(0L, n).filter(col("id") % 5 === 0)
      .selectExpr(s"(id + 1) % $n AS u", "id AS v")
    val e = ring1.unionByName(ring2).unionByName(rev).persist()
    assert(e.count() == 220000L)
    val fast = operators.Graphs.transitiveTriplesCount(e, cap = Long.MaxValue)
      .collect().head.getAs[Long]("n_closed")
    val dist = operators.Graphs.transitiveTriplesCount(e, cap = 0L)
      .collect().head.getAs[Long]("n_closed")
    // each of the n ring triangles closes exactly one wedge; reverse
    // edges add more — the closed-form floor pins the magnitude
    assert(fast >= n, s"expected >= $n transitive triples, got $fast")
    assert(fast == dist,
      s"size parity broke at 220k edges: single-task=$fast oriented=$dist")
    def census(cap: Long) =
      operators.Graphs.triadCensusOnEdges(e, cap).collect()
        .map(r => r.getString(0) -> r.getAs[Long]("n_triads")).toMap
    val cFast = census(Long.MaxValue)
    val cDist = census(0L)
    assert(cFast == cDist,
      s"census size parity broke at 220k edges: $cFast vs $cDist")
    assert(cFast.values.sum >= n, "every ring triangle must be classified")
    assert(cFast.getOrElse("030T", 0L) >= 1L && cFast.keySet.size >= 2,
      s"expected a populated multi-class census, got $cFast")
    e.unpersist()
    U.releaseTracked()
  }

  test("stream_neardup state path at 100k docs: batch parity + bounded state") {
    // the 220k-edge StressSpec recipe applied to streaming (r10 verdict
    // #2): a synthetic 100k-doc corpus with planted dups replays through
    // NearDupProcessor on RocksDB, and the stream's rollup must equal the
    // batch banding verdict ROW FOR ROW at that size. Planted structure:
    //   - every i % 20 == 19 is an EXACT copy of doc i-1 (all 4 bands
    //     collide — guaranteed detections),
    //   - every i % 20 == 9 is a NEAR copy of doc i-1 (last token swapped
    //     — probabilistic band hits; parity must hold either way),
    //   - docs 50000, 60000, ..., 90000 are exact copies of doc i-50000 —
    //     keeper in micro-batch 1 (files 0-3), dup in batch 2: caught
    //     ONLY if the band ValueState survived the batch boundary.
    val n = 100000L
    val d0 = spark.range(0L, n).toDF("doc_id")
      .withColumn("seed",
        when(col("doc_id") % 20 === 9 || col("doc_id") % 20 === 19,
          col("doc_id") - 1)
        .when(col("doc_id") >= 50000L && col("doc_id") % 10000L === 0,
          col("doc_id") - 50000L)
        .otherwise(col("doc_id")))
      .withColumn("tid",
        when(col("doc_id") % 20 === 19, col("doc_id") - 1)
        .when(col("doc_id") >= 50000L && col("doc_id") % 10000L === 0,
          col("doc_id") - 50000L)
        .otherwise(col("doc_id")))
      .withColumn("text", concat_ws(" ",
        (0 until 23).map(j => concat(lit("w"),
          (col("seed") * 131L + lit(j.toLong * 17L)) % 1000003L)) :+
          concat(lit("t"), col("tid")): _*))
      .select(col("doc_id"), col("text"))
    // stage 8 doc_id-range files with increasing mtimes through the
    // declared replay's staging writer (batches arrive in doc_id order);
    // the dir is cleared first so every run restages this corpus
    val dir = U.scratch(sfDir, "stress_neardup")
    org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
      .delete(new org.apache.hadoop.fs.Path(dir), true)
    streaming.StreamingQueries.stageRanges(spark, d0, col("doc_id"), dir,
      passes = 1, marker = "_GRAFT_STAGED_stress_v1")
    val got = streaming.StreamingQueries.neardupStreamOnDir(spark, dir)
      .collect()
    // batch banding twin: same shingle/minhash/band expressions, per-band
    // prior = the bucket's min doc_id when smaller, folded per doc
    val bands = d0
      .select(col("doc_id"), graft.plans.CustomExprs.shingles3_fast(
        graft.llm.TextUtil.tokens(col("text"))).as("ss"))
      .filter(size(col("ss")) > 0)
      .select(col("doc_id"), graft.plans.CustomExprs.minhash_sigs(
        graft.plans.CustomExprs.poly_hash_array(col("ss"), 13L), 16)
        .as("sigs"))
      .select(col("doc_id"), explode(array(
          (0 until 4).map(b => struct(lit(b.toLong).as("band"),
            concat_ws(":", (0 until 4).map(r =>
              element_at(col("sigs"), b * 4 + r + 1)): _*).as("bkey"))): _*))
          .as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"), col("bb.bkey").as("bkey"))
      .persist()
    val bmin = bands.groupBy(col("band"), col("bkey"))
      .agg(min(col("doc_id")).as("bmin"))
    val expected = bands.join(bmin, Seq("band", "bkey"))
      .groupBy(col("doc_id"))
      .agg(sum(when(col("bmin") < col("doc_id"), 1L).otherwise(0L))
          .as("n_bands_hit"),
        min(when(col("bmin") < col("doc_id"), col("bmin"))).as("dup_of"))
      .select(col("doc_id"), col("n_bands_hit"),
        (col("n_bands_hit") > 0).as("is_dup"), col("dup_of"))
      .collect()
    assert(got.length == expected.length && got.length == n,
      s"row counts: stream ${got.length} vs batch ${expected.length}")
    assert(got.map(_.toString).sorted
        .sameElements(expected.map(_.toString).sorted),
      "stream/batch near-dup verdicts diverged at 100k docs")
    val byId = got.map(r => r.getAs[Long]("doc_id") -> r).toMap
    // every exact copy is a guaranteed detection of an earlier keeper
    (19L until n by 20L).foreach { i =>
      val r = byId(i)
      assert(r.getAs[Boolean]("is_dup") && r.getAs[Long]("dup_of") <= i - 1,
        s"exact copy $i not flagged against an earlier keeper")
    }
    // cross-batch: keeper in batch 1 (< 50000), dup in batch 2
    (50000L to 90000L by 10000L).foreach { i =>
      val r = byId(i)
      assert(r.getAs[Boolean]("is_dup") &&
          r.getAs[Long]("dup_of") <= i - 50000L,
        s"cross-batch dup $i missed — band state did not survive the boundary")
    }
    // state-size bound: RocksDB holds ONE Long per occupied bucket, and
    // occupied buckets = band rows that opened (prior = -1) = 4n minus the
    // hits — which must equal the DISTINCT band-key count, NOT corpus^2;
    // the planted dups make it strictly smaller than the 4n ceiling
    val stateKeys = bands.select(col("band"), col("bkey")).distinct().count()
    val hits = got.map(_.getAs[Long]("n_bands_hit")).sum
    assert(stateKeys == 4L * n - hits,
      s"state entries $stateKeys != opens ${4L * n - hits}")
    assert(stateKeys < 4L * n,
      "planted dups must collapse at least one band bucket")
    bands.unpersist()
    U.releaseTracked()
  }

  test("CDC chunking tiles and dedups a 60k-doc corpus with planted clones") {
    // the dedup_cdc_chunks scale shape 120x past the fixture: per-row HOF
    // boundary folds + one chunk-keyed shuffle must (a) tile EVERY text
    // exactly and (b) flag every chunk of a planted clone pair as dup.
    // Docs 0..999 are cloned verbatim at ids 30000..30999; all other ids
    // get id-unique text (an id-seeded word suffix in every 8-word line).
    val n = 60000L
    val docs = spark.range(0L, n)
      .select(col("id").as("doc_id"), expr(
        // ~15 words of base text + the id woven in so non-clones differ
        "concat_ws(' ', transform(sequence(1, 15), j -> " +
          "concat('w', (id % 30000) * 31 + j, " +
          "CASE WHEN j % 8 = 0 AND id % 30000 >= 1000 " +
          "THEN concat('u', id) ELSE '' END)))").as("text"))
    val got = graft.llm.Dedup.cdcChunkStatsOn(docs).collect()
    assert(got.length == n, "one row per document")
    val lens = docs.select(col("doc_id"), length(col("text")).cast("long"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    got.foreach { r =>
      assert(r.getLong(2) == lens(r.getLong(0)),
        s"doc ${r.getLong(0)} tiling at volume")
    }
    // planted clones: every chunk of both twins occurs >= 2 times
    val cloned = got.filter(r => r.getLong(0) % 30000 < 1000)
    assert(cloned.length == 2000)
    cloned.foreach { r =>
      assert(r.getLong(3) == r.getLong(1) && r.getLong(4) == r.getLong(2),
        s"clone ${r.getLong(0)}: all chunks must be corpus-dups")
    }
    U.releaseTracked()
  }
}
