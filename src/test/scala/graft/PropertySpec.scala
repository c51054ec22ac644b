package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Algebraic laws over generated inputs (SURVEY.md §5.3). Generation uses
  * scalacheck Gens pulled with FIXED seeds (the determinism rules ban
  * wall-clock/entropy seeds), so failures reproduce exactly. */
class PropertySpec extends SparkTestBase {
  import spark.implicits._

  private val rowsGen = Gen.listOfN(40,
    Gen.zip(Gen.chooseNum(0L, 5L), Gen.chooseNum(-100, 100)))

  private def samples[T](g: Gen[T], n: Int): Seq[T] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(42L + i)))

  test("filter fusion: filter(p).filter(q) == filter(p && q)") {
    samples(rowsGen, 5).foreach { data =>
      val df = data.toDF("k", "v")
      val a = df.filter(col("v") > 0).filter(col("k") < 3).count()
      val b = df.filter(col("v") > 0 && col("k") < 3).count()
      assert(a == b)
    }
  }

  test("union row-count additivity; intersect bounded by both sides") {
    samples(Gen.zip(rowsGen, rowsGen), 5).foreach { case (d1, d2) =>
      val a = d1.toDF("k", "v")
      val b = d2.toDF("k", "v")
      assert(a.unionAll(b).count() == a.count() + b.count())
      val i = a.intersect(b).count()
      assert(i <= math.min(a.distinct().count(), b.distinct().count()))
    }
  }

  test("window rank stays within [1, partition size]") {
    samples(rowsGen, 5).filter(_.nonEmpty).foreach { data =>
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("k")).orderBy(col("v"), col("k"))
      val df = data.toDF("k", "v").withColumn("rn", row_number().over(w))
      val sizes = data.groupBy(_._1).view.mapValues(_.size).toMap
      df.collect().foreach { r =>
        val rn = r.getAs[Int]("rn")
        assert(rn >= 1 && rn <= sizes(r.getAs[Long]("k")))
      }
    }
  }

  test("poly hash is deterministic and order-sensitive") {
    // arbitrary Unicode: ASCII, the rest of the BMP and the supplementary
    // planes (surrogates excluded — they are not characters)
    val codePoint = Gen.frequency(3 -> Gen.choose(0x20, 0x7e),
      1 -> Gen.choose(0x80, 0xd7ff), 1 -> Gen.choose(0xe000, 0x10ffff))
    def str(cps: Seq[Int]) = new String(cps.toArray, 0, cps.length)
    samples(Gen.listOf(codePoint).suchThat(_.length > 1), 10).foreach { c0 =>
      val cps = c0.take(20)
      val (s, rev) = (str(cps), str(cps.reverse))
      val df = Seq(s, s, rev).toDF("t")
        .select(graft.plans.CustomExprs.poly_hash(col("t"), 7L).as("h"))
      val hs = df.collect().map(_.getLong(0))
      assert(hs(0) == hs(1))
      if (s != rev) assert(hs(0) != hs(2))
      // the definition: fold (acc*31 + code point) mod 1e9+7
      val want = s.codePoints().toArray
        .foldLeft(7L)((acc, c) => (acc * 31L + c) % 1000000007L)
      assert(hs(0) == want, s"poly_hash('$s') = ${hs(0)}, want $want")
    }
  }

  test("zorder2 interleave: known values, monotone bit containment, SQL mirror") {
    // known pattern: x=0b11, y=0b01 -> z bits (y1 x1 y0 x0) = 0b0111
    val known = Seq((3L, 1L)).toDF("x", "y")
      .select(graft.plans.CustomExprs.zorder2(col("x"), col("y")).as("z"))
      .head().getLong(0)
    assert(known == 7L, s"zorder2(3,1) = $known, expected 7")
    // the codegen'd expression must agree with the unrolled SQL mirror
    samples(Gen.zip(Gen.chooseNum(0L, 65535L), Gen.chooseNum(0L, 65535L)), 20)
      .foreach { case (x, y) =>
        val df = Seq((x, y)).toDF("x", "y")
        val zExpr = df.select(
          graft.plans.CustomExprs.zorder2(col("x"), col("y")).as("z"))
          .head().getLong(0)
        val zSql = df.selectExpr(
          graft.plans.CustomExprs.sqlZorder2("x", "y") + " AS z")
          .head().getLong(0)
        assert(zExpr == zSql, s"codegen $zExpr != sql $zSql for ($x, $y)")
      }
  }

  test("weighted median: equals plain median under unit weights, bounded by extremes") {
    samples(rowsGen, 5).foreach { data =>
      val df = data.toDF("k", "x").select(col("k"),
        col("x").cast("long").as("x"), lit(1L).as("w"))
      import org.apache.spark.sql.expressions.Window
      val run = Window.partitionBy(col("k")).orderBy(col("x"), col("w"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wm = df.withColumn("cw", sum(col("w")).over(run))
        .withColumn("tw", sum(col("w")).over(Window.partitionBy(col("k"))))
        .filter(col("cw") * 2 >= col("tw"))
        .groupBy(col("k")).agg(min(col("x")).as("wmed"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val groups = data.groupBy(_._1)
      groups.foreach { case (k, rows) =>
        val xs = rows.map(_._2.toLong).sorted
        // unit weights: the crossing row is the lower median
        assert(wm(k) == xs((xs.length - 1) / 2), s"k=$k: ${wm(k)} vs $xs")
        assert(wm(k) >= xs.head && wm(k) <= xs.last)
      }
    }
  }

  test("LTTB picks are a subset of input points with endpoints kept") {
    val out = operators.TimeSeries.queries("ts_lttb")(spark, sfDir)
    val ev = U.events(spark, sfDir).select(col("user_id"),
      unix_micros(col("ts")).as("tus"), U.cents(col("value")).as("y"))
    // every (user, x+x0, y) pick must exist in the raw series
    val x0 = ev.groupBy(col("user_id").as("u2")).agg(min(col("tus")).as("x0"))
    val joined = out.join(x0, col("user_id") === col("u2"))
      .select(col("user_id"), (col("x_us") + col("x0")).as("tus"),
        col("y_cents").as("y"))
    val missing = joined.join(ev, Seq("user_id", "tus", "y"), "left_anti").count()
    assert(missing == 0L, s"$missing LTTB picks not present in the input")
  }

  test("SES fold stays inside the series envelope on generated series") {
    // the theta-method level is a convex combination of observations at
    // every step, so for any input sequence it must stay within ±1 of the
    // [min, max] cents envelope (the slack is the integer DIV truncation
    // of the 20/80 blend; JVM long division truncates like Spark's DIV)
    val seriesGen = Gen.listOfN(30, Gen.chooseNum(-10000L, 10000L))
    samples(seriesGen, 8).filter(_.length >= 2).foreach { ys =>
      val lvl = ys.tail.foldLeft(ys.head)((acc, y) => (20 * y + 80 * acc) / 100)
      assert(lvl >= ys.min - 1 && lvl <= ys.max + 1,
        s"SES level $lvl escaped [${ys.min - 1}, ${ys.max + 1}]")
    }
  }

  test("theta query's level column obeys the same envelope on the fixture") {
    val out = operators.TimeSeries.queries("ts_theta")(spark, sfDir)
    val env = U.events(spark, sfDir)
      .groupBy(col("user_id"))
      .agg(min(U.cents(col("value"))).as("lo"), max(U.cents(col("value"))).as("hi"))
    val bad = out.join(env, Seq("user_id"))
      .filter(col("lvl") < col("lo") - 1 || col("lvl") > col("hi") + 1)
      .count()
    assert(bad == 0L, s"$bad users with SES level outside the envelope")
  }

  test("double literal replace equals greedy BPE merge for distinct pairs") {
    // the pipeline_bpe_train merge encoding: delimiter-anchored symbols,
    // two non-overlapping literal replace passes. For a NON-SELF pair
    // (a != b) this equals a greedy left-to-right pair merge — adjacent
    // matches can only share one delimiter, which the second pass
    // catches. For a SELF pair (a,a) the equivalence is FALSE (see the
    // next test); the operator's load-bearing claim is the weaker one in
    // Pipeline.scala's docstring: both engines' literal replace is
    // identical, so the vocab rewrite is engine-deterministic either way.
    val symGen = Gen.listOfN(12, Gen.oneOf("a", "b", "ab", "c"))
    val mergeGen = Gen.oneOf(("a", "b"), ("b", "c"), ("ab", "a"))
    samples(Gen.zip(symGen, mergeGen), 60).foreach { case (syms, (a, b)) =>
      def greedy(xs: List[String]): List[String] = xs match {
        case x :: y :: rest if x == a && y == b => (a + b) :: greedy(rest)
        case x :: rest => x :: greedy(rest)
        case Nil => Nil
      }
      val enc = "|" + syms.mkString("|") + "|"
      val pat = s"|$a|$b|"
      val rep = s"|$a$b|"
      val out = enc.replace(pat, rep).replace(pat, rep)
      val expect = "|" + greedy(syms).mkString("|") + "|"
      assert(out == expect,
        s"double-replace '$out' != greedy '$expect' for $syms merging ($a,$b)")
    }
  }

  test("self-pair merge: replace semantics pinned (NOT greedy-equivalent)") {
    // counterexample from the r6 advisor: a run of 5 identical symbols
    // under the self-merge (a,a). Greedy left-to-right gives [aa,aa,a];
    // non-overlapping double replace gives [aa,a,aa] — the first pass
    // consumes |a|a| then restarts after the shared delimiter. Both
    // Spark's and DuckDB's replace() do exactly this, so the ENGINE
    // PARITY the oracle needs still holds; this test pins the actual
    // semantics so nobody re-asserts the greedy claim.
    val enc = "|a|a|a|a|a|"
    val out = enc.replace("|a|a|", "|aa|").replace("|a|a|", "|aa|")
    assert(out == "|aa|a|aa|", s"replace semantics drifted: '$out'")
    val sparkOut = spark.sql(
      "SELECT replace(replace('|a|a|a|a|a|', '|a|a|', '|aa|'), " +
        "'|a|a|', '|aa|') AS s").head.getString(0)
    assert(sparkOut == out, s"Spark replace '$sparkOut' != JVM '$out'")
  }

  test("pair-sum decomposition: sum over pairs equals (norm² − selfsum)/2") {
    // the identity emb_label_separation's linear rewrite stands on:
    //   Σ_{i<j} u_i·u_j = (‖Σu‖² − Σ‖u‖²) / 2   over integer vectors.
    // Proven here on generated Long vectors with plain JVM arithmetic
    // (BigInt, so no overflow caveat hides a miss), independent of Spark.
    val vecGen = Gen.listOfN(6, Gen.listOfN(8, Gen.chooseNum(-1000000L, 1000000L)))
    samples(vecGen, 40).foreach { vs =>
      def dot(a: List[Long], b: List[Long]): BigInt =
        a.zip(b).map { case (x, y) => BigInt(x) * BigInt(y) }.sum
      val pairSum = (for {
        i <- vs.indices; j <- vs.indices if i < j
      } yield dot(vs(i), vs(j))).sum
      val colSums = vs.transpose.map(c => c.map(BigInt(_)).sum)
      val normSq = colSums.map(s => s * s).sum
      val selfSum = vs.map(v => dot(v, v)).sum
      assert(pairSum * 2 == normSq - selfSum,
        s"decomposition identity failed for $vs")
    }
  }

  test("minhash signatures: identical shingle sets agree on all permutations") {
    val df = Seq((1L, "a b c d e f g h"), (2L, "a b c d e f g h"))
      .toDF("id", "text")
      .select(col("id"), graft.plans.CustomExprs.poly_hash_array(
        split(col("text"), " "), 13L).as("hs"))
    val sigs = (0 until 8).map(k => array_min(transform(col("hs"),
      h => pmod(h * lit(2L * k + 1) + lit(k * 12345L + 7L), lit(1000000007L))))
      .as(s"s$k"))
    val rows = df.select(col("id") +: sigs: _*).collect()
    assert(rows(0).toSeq.drop(1) == rows(1).toSeq.drop(1))
  }
}
