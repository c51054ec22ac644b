package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.plans.CustomExprs

/** LLM-pipeline semantics: approx operators validated against their exact
  * counterparts; custom codegen expressions validated against the
  * declarative Catalyst forms they replaced (SURVEY.md §5). */
class LlmSpec extends SparkTestBase {
  import spark.implicits._

  test("minhash-LSH candidates recover the exact-Jaccard pairs (recall)") {
    val exact = graft.llm.Dedup.queries("dedup_jaccard")(spark, sfDir)
      .select("da", "db").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = graft.llm.Dedup.queries("dedup_minhash")(spark, sfDir)
      .select("da", "db").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "fixtures should contain planted near-dups")
    assert(lsh.subsetOf(exact), "minhash emits only exact-verified pairs")
    val recall = lsh.size.toDouble / exact.size
    assert(recall >= 0.8, s"LSH recall too low: $recall (${lsh.size}/${exact.size})")
  }

  test("banded simhash equals the exact all-pairs scan (pigeonhole recall)") {
    val banded = graft.llm.Dedup.queries("dedup_simhash")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val exact = graft.llm.Dedup.simhashPairsExact(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(exact.nonEmpty, "fixtures should contain simhash near-dups")
    assert(banded == exact,
      s"banding lost/added pairs: banded=${banded.size} exact=${exact.size}")
  }

  test("embedding ANN pairs are a subset of exact with high recall") {
    val exact = graft.llm.Similarity.queries("dedup_embedding")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ann = graft.llm.Similarity.queries("dedup_embedding_ann")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "fixtures should contain embedding near-dups")
    assert(ann.subsetOf(exact), "ANN reranks exactly, so every pair is true")
    val recall = ann.size.toDouble / exact.size
    assert(recall >= 0.8, s"IVF-blocked recall too low: $recall (${ann.size}/${exact.size})")
  }

  test("dedup_embedding past the vector cap dispatches to the blocked kernel") {
    // cap=0 forces the past-the-cap path of the DECLARED query; it must
    // produce exactly the IVF-blocked + exact-rerank pair set (the
    // dedup_embedding_ann kernel — deterministic, so equality is exact)
    val gated = graft.llm.Similarity.embeddingPairsImpl(spark, sfDir, 0L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val ann = graft.llm.Similarity.queries("dedup_embedding_ann")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(gated == ann, s"gated path diverged from the blocked kernel: " +
      s"${gated.size} vs ${ann.size} pairs")
  }

  test("containment dominates Jaccard: every jac>=0.8 pair is a containment pair") {
    // jac = c/(na+nb-c) <= c/max(na,nb) <= max(c/na, c/nb), so the 0.8
    // containment set must cover every 0.8-Jaccard pair — a cross-query
    // consistency law over the shared candidate frame
    val cont = graft.llm.Dedup.queries("dedup_containment")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val strongJac = graft.llm.Dedup.queries("dedup_jaccard")(spark, sfDir)
      .collect().filter(_.getAs[Double]("jac") >= 0.8)
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cont.nonEmpty, "fixtures should contain near-subset pairs")
    assert(strongJac.subsetOf(cont),
      s"missing containment pairs: ${strongJac.diff(cont)}")
  }

  test("simhash pairs overlap the Jaccard near-dups") {
    val jac = graft.llm.Dedup.queries("dedup_jaccard")(spark, sfDir)
      .select("da", "db").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val sim = graft.llm.Dedup.queries("dedup_simhash")(spark, sfDir)
      .select("da", "db").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(sim.nonEmpty)
    assert((sim intersect jac).size.toDouble / sim.size >= 0.5,
      "simhash pairs should be dominated by true near-dups")
  }

  test("LSH ANN returns a subset of brute-force candidates with sane scores") {
    val brute = graft.llm.Similarity.queries("sim_bruteforce_topk")(spark, sfDir)
      .collect().map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("vec_id"))).toSet
    val ann = graft.llm.Similarity.queries("sim_lsh_ann")(spark, sfDir).collect()
    assert(ann.nonEmpty, "multiprobe LSH should find some candidates")
    ann.foreach { r =>
      val cos = r.getAs[Double]("cos")
      assert(cos >= -1.0000001 && cos <= 1.0000001)
    }
    val hits = ann.map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("vec_id")))
      .count(brute.contains)
    assert(hits > 0, "ANN should recover at least one true top-5 neighbor")
  }

  test("IVF ANN recovers true neighbors within its probed clusters") {
    val brute = graft.llm.Similarity.queries("sim_bruteforce_topk")(spark, sfDir)
      .collect().map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("vec_id"))).toSet
    val ivf = graft.llm.Similarity.queries("sim_ivf_ann")(spark, sfDir).collect()
    assert(ivf.nonEmpty, "IVF should return candidates for every probed query")
    val hits = ivf.map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("vec_id")))
      .count(brute.contains)
    assert(hits > 0, "IVF should recover at least one true top-5 neighbor")
    ivf.groupBy(_.getAs[Long]("q_id")).foreach { case (_, rs) =>
      assert(rs.length <= 3)
    }
  }

  test("extensions reject a non-literal hash seed with a clear error") {
    val e = intercept[Exception] {
      spark.sql("SELECT graft_poly_hash('ab', doc_id) FROM VALUES (1L) t(doc_id)")
        .collect()
    }
    assert(e.getMessage.contains("literal integer seed") ||
      Option(e.getCause).exists(_.getMessage.contains("literal integer seed")),
      s"unhelpful error: ${e.getMessage}")
  }

  test("extensions register the custom expressions as SQL functions") {
    val r = spark.sql(
      "SELECT graft_poly_hash('ab', 7) AS h, " +
        "graft_fixed_dot(array(1L, 2L), array(3L, 4L)) AS d, " +
        "graft_simhash60(array(111L, 222L)) AS s, " +
        "graft_poly_hash_array(array('ab'), 7) AS ha").head()
    assert(r.getAs[Long]("h") == ((7L * 31 + 97) % 1000000007L * 31 + 98) % 1000000007L)
    assert(r.getAs[Long]("d") == 11L)
    assert(r.getAs[scala.collection.Seq[Long]]("ha").head == r.getAs[Long]("h"))
  }

  test("approx_count_distinct within rsd tolerance of exact") {
    val apx = graft.operators.Aggregations.queries("agg_approx_distinct")(spark, sfDir)
      .collect().map(r => r.getString(0) -> r.getAs[Long]("apx_part")).toMap
    val exact = graft.operators.Aggregations.queries("agg_count_distinct")(spark, sfDir)
      .collect().map(r => r.getString(0) -> r.getAs[Long]("nd_part")).toMap
    exact.foreach { case (k, ex) =>
      val er = math.abs(apx(k) - ex).toDouble / ex
      assert(er < 0.1, s"flag $k: approx $apx vs exact $ex (err $er)")
    }
  }

  test("custom codegen expressions match their declarative equivalents") {
    // the declarative forms the kernels replaced, kept here as the
    // reference: the ascii() fold over the characters (code points) ...
    def polyHashHof(t: Column, seed: Long) =
      when(length(t) === 0, lit(seed)).otherwise(
        aggregate(sequence(lit(1), length(t)), lit(seed),
          (acc, i) => pmod(acc * lit(31L) + ascii(t.substr(i, lit(1))),
            lit(1000000007L))))
    // ... and the distinct '_'-joined 3-gram walk
    def shingles3Hof(toks: Column) =
      when(size(toks) < 3, array().cast("array<string>"))
        .otherwise(array_distinct(transform(sequence(lit(1), size(toks) - 2),
          i => concat_ws("_", element_at(toks, i), element_at(toks, i + 1),
            element_at(toks, i + 2)))))
    val df = Seq((Seq(1L, 2L, 3L), Seq(4L, 5L, 6L), "hello world"))
      .toDF("a", "b", "s")
    val r = df.select(
      CustomExprs.fixed_dot(col("a"), col("b")).as("dot"),
      aggregate(zip_with(col("a"), col("b"), (x, y) => x * y), lit(0L),
        (acc, x) => acc + x).as("dot_hof"),
      CustomExprs.poly_hash(col("s"), 7L).as("ph"),
      polyHashHof(col("s"), 7L).as("ph_hof"),
      CustomExprs.poly_hash_array(split(col("s"), " "), 13L).as("pha"),
      transform(split(col("s"), " "), t => polyHashHof(t, 13L)).as("pha_hof"))
      .head()
    assert(r.getAs[Long]("dot") == 32L)
    assert(r.getAs[Long]("dot") == r.getAs[Long]("dot_hof"))
    assert(r.getAs[Long]("ph") == r.getAs[Long]("ph_hof"))
    assert(r.getAs[scala.collection.Seq[Long]]("pha").toList ==
      r.getAs[scala.collection.Seq[Long]]("pha_hof").toList)
    val sh = Seq("a b c d b c d e").toDF("t")
      .select(split(col("t"), " ").as("toks"))
      .select(CustomExprs.shingles3_fast(col("toks")).as("fast"),
        shingles3Hof(col("toks")).as("slow")).head()
    assert(sh.getAs[scala.collection.Seq[String]]("fast").toList ==
      sh.getAs[scala.collection.Seq[String]]("slow").toList)
    assert(sh.getAs[scala.collection.Seq[String]]("fast").toList ==
      List("a_b_c", "b_c_d", "c_d_b", "d_b_c", "c_d_e"))
    // non-ASCII text: the kernels fold code points like the ascii() fold
    // and DuckDB's sqlPolyHash (seed-7 values computed in DuckDB)
    val pinned = Seq("é" -> 450L, "a😀b" -> 4285724L,
      "naïve café" -> 980374742L)
    pinned.toDF("s", "want").select(col("s"), col("want"),
        CustomExprs.poly_hash(col("s"), 7L).as("ph"),
        polyHashHof(col("s"), 7L).as("ph_hof"),
        element_at(CustomExprs.poly_hash_array(array(col("s")), 7L), 1)
          .as("pha"),
        expr("graft_poly_hash(s, 7)").as("ph_sql"),
        expr("element_at(graft_poly_hash_array(array(s), 7), 1)").as("pha_sql"))
      .collect().foreach { u =>
        val want = u.getAs[Long]("want")
        for (c <- Seq("ph", "ph_hof", "pha", "ph_sql", "pha_sql"))
          assert(u.getAs[Long](c) == want,
            s"$c('${u.getAs[String]("s")}') = ${u.getAs[Long](c)}, want $want")
      }
  }

  test("max_freq and window_min_distinct equal the lambdas they replaced") {
    // the interpreted forms text_repetition and text_winnowing ran before
    val freqHof = "array_max(transform(array_distinct(xs), " +
      "t -> size(filter(xs, x -> x = t))))"
    val winHof = "array_distinct(transform(sequence(1, size(hs) - 3), " +
      "i -> array_min(slice(hs, i, 4))))"
    val xs = Seq(Seq("a", "b", "a", "c", "a", "b"), Seq("z"),
      Seq[String](), Seq("a", null, null, "a"), Seq[String](null))
    xs.map(Tuple1(_)).toDF("xs")
      .select(CustomExprs.max_freq(col("xs")).as("fast"),
        expr(freqHof).cast("bigint").as("slow")).collect()
      .foreach(r => assert(r.get(0) == r.get(1), s"max_freq $r"))
    val hs = Seq(Seq(5L, 3L, 9L, 7L, 3L, 8L, 1L, 6L), Seq(4L, 4L, 4L, 4L),
      Seq(9L, 8L, 7L, 6L, 5L, 6L, 7L, 8L, 9L), Seq(Long.MinValue, 0L, Long.MaxValue, 2L))
    hs.map(Tuple1(_)).toDF("hs")
      .select(CustomExprs.window_min_distinct(col("hs"), 4).as("fast"),
        expr(winHof).as("slow")).collect()
      .foreach(r => assert(r.getSeq[Long](0) == r.getSeq[Long](1), s"window min $r"))
    // and over every fixture document, codegen'd and interpreted
    val docs = U.tbl(spark, sfDir, "documents")
      .select(graft.llm.TextUtil.tokens(col("text")).as("xs"))
      .filter(size(col("xs")) >= 6)
      .withColumn("hs", CustomExprs.poly_hash_array(
        CustomExprs.spans_w(col("xs"), 3, "_"), 13L))
    val diff = docs.filter(
      !(CustomExprs.max_freq(col("xs")) <=> expr(freqHof).cast("bigint")) ||
        !(CustomExprs.window_min_distinct(col("hs"), 4) <=> expr(winHof)))
    assert(docs.count() > 0 && diff.count() == 0)
  }

  test("simhash60 of identical hash-sets is identical; disjoint sets differ") {
    val df = Seq(
      (1L, Seq(111L, 222L, 333L, 444L)),
      (2L, Seq(111L, 222L, 333L, 444L)),
      (3L, Seq(987654321L, 192837465L, 564738291L, 1029384756L)))
      .toDF("id", "hs")
      .select(col("id"), CustomExprs.simhash60(col("hs")).as("sh"))
    val m = df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m(1L) == m(2L))
    assert(m(1L) != m(3L))
  }

  test("knn classifier: one maximal-vote prediction per query vector") {
    val preds = graft.llm.Similarity.queries("emb_knn_classify")(spark, sfDir)
      .collect()
    assert(preds.length == 100, s"expected 100 predictions, got ${preds.length}")
    assert(preds.map(_.getAs[Long]("q_id")).distinct.length == 100)
    preds.foreach { r =>
      val v = r.getAs[Long]("votes")
      assert(v >= 1 && v <= 10, s"votes outside [1, k]: $r")
      val pred = r.getAs[Long]("pred_label")
      assert(pred >= 0 && pred <= 9, s"prediction outside label domain: $r")
      assert(r.getAs[Boolean]("is_correct") ==
        (pred == r.getAs[Long]("true_label")))
    }
  }

  test("label outliers: top-5 per label with non-increasing distance by rank") {
    val byLabel = graft.llm.Pipeline.queries("emb_label_outlier")(spark, sfDir)
      .collect().groupBy(_.getAs[Long]("label"))
    assert(byLabel.nonEmpty)
    byLabel.foreach { case (label, g) =>
      assert(g.length == 5, s"label $label: ${g.length} outliers")
      val ds = g.sortBy(_.getAs[Long]("rank")).map(_.getAs[Long]("dist2"))
      assert(ds.zip(ds.tail).forall { case (a, b) => a >= b },
        s"label $label: dist2 not non-increasing by rank")
      assert(ds.forall(_ >= 0L))
    }
  }

  test("eigvector projection: balanced deciles, ordered by projection value") {
    val rows = graft.llm.Pipeline.queries("emb_project_eigvec")(spark, sfDir)
      .collect()
    val n = rows.length
    assert(n > 0)
    val byDec = rows.groupBy(_.getAs[Long]("decile"))
    assert(byDec.keySet == (1L to 10L).toSet, s"deciles: ${byDec.keySet}")
    byDec.values.foreach(g =>
      assert(math.abs(g.length - n / 10) <= 1, "deciles not balanced"))
    val bounds = byDec.toSeq.sortBy(_._1)
      .map { case (_, g) =>
        val ps = g.map(_.getAs[Long]("proj"))
        (ps.min, ps.max)
      }
    bounds.sliding(2).foreach { w =>
      if (w.length == 2)
        assert(w(0)._2 <= w(1)._1, "deciles not ordered by projection")
    }
  }

  test("multimodal decode matches metadata byte counts") {
    val meta = graft.llm.Multimodal.queries("multimodal_schema")(spark, sfDir)
      .select("doc_id", "n_bytes").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val dec = graft.llm.Multimodal.queries("multimodal_decode")(spark, sfDir)
      .collect()
    assert(dec.nonEmpty)
    dec.foreach { r =>
      assert(r.getAs[Long]("n_bytes") == meta(r.getAs[Long]("doc_id")))
      val cs = r.getAs[Long]("checksum")
      assert(cs > 0 && cs <= r.getAs[Long]("n_bytes") * 255)
    }
  }
}
