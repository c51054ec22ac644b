package graft

/** The measured scale-curve gate (r11/r12 verdicts' top carried ask):
  * re-derives the sf0.001 → sf0.1 scaling exponent for a representative
  * query of each of the 5 heaviest bench families (stream, graph, ts,
  * agg, sql — per-family totals in bench_latest.json, which Bench writes
  * only for a run on the sf0.1 fixtures) and asserts
  * at-most-~linear. The full 552-query tri-SF table lives in SCALE.md
  * ("Measured tri-SF scale curve"), produced by tools/scalecurve.py
  * from three Bench runs; this spec is the CI tripwire that catches a
  * super-linear kernel without needing the full 3-bench sweep.
  *
  * Protocol: per query per SF, one untimed warm run (JIT + shared-cache
  * build — caches are keyed by sfDir, so each SF pays its own), then
  * the MIN of 2 timed runs (min is the load-robust statistic here: load
  * only ever inflates). Exponent e = ln(t_hi/t_lo)/ln(100); e = 1 is
  * linear in data volume. The ~0.1-0.3 s per-job scheduling floor makes
  * measured exponents UNDERSTATE data scaling, so the 1.35 bound is
  * generous to noise yet far below a quadratic kernel's e ≈ 2 (which
  * would need a 10,000x ratio to pass 100x more data).
  *
  * Calendar-bounded kernels (ts_matrix_profile's calendar²·m,
  * agg_hodges_lehmann's calendar² — the two shapes the r12 verdict
  * singled out) carry a TIGHTER bound: their pair domains are the ~30-day
  * fixture calendar at every SF, so only the events scan scales — the
  * claim is near-flat, asserted at e <= 0.7 (ratio <= 25). */
class ScaleCurveSpec extends SparkTestBase {

  private val lo = "/root/testdata/sf0.001"
  private val hi = "/root/testdata/sf0.1"

  private def timeOne(name: String, d: String): Double = {
    val fn = SparkEntry.queries(name)
    fn(spark, d).count(); U.releaseTracked() // warm: JIT + per-SF caches
    val runs = (1 to 2).map { _ =>
      val t0 = System.nanoTime()
      fn(spark, d).count()
      U.releaseTracked()
      (System.nanoTime() - t0) / 1e9
    }
    runs.min
  }

  private def exponent(name: String): Double = {
    val tLo = timeOne(name, lo)
    val tHi = timeOne(name, hi)
    val e = math.log(tHi / tLo) / math.log(100.0)
    info(f"$name%-24s lo=$tLo%6.2f s  hi=$tHi%6.2f s  exp=$e%5.2f")
    e
  }

  /** Wall-clock exponents on a host whose ambient load swings bench
    * totals 207-324 s can spike past the bound with no code change (r13
    * ADVICE), so a failing measurement earns ONE full fresh re-measure.
    * The RE-MEASURE itself must pass (r14 ADVICE: min(e1, e2) <= bound
    * let a borderline super-linear kernel through whenever EITHER noisy
    * run dipped under — halving the tripwire's power; requiring e2 to
    * pass keeps one-leg load-spike absorption without the blind spot —
    * a genuine super-linear kernel exceeds the bound on both runs). */
  private def exponentChecked(name: String, bound: Double,
      label: String): Unit = {
    val e1 = exponent(name)
    if (e1 > bound) {
      val e2 = exponent(name)
      assert(e2 <= bound,
        s"$name $label: exponent $e1 (retry $e2) over sf0.001->sf0.1")
    }
  }

  test("heaviest-family representatives scale at most ~linearly (100x span)") {
    // one data-scaling pick per heavy family; bound 1.35 (see header)
    val picks = Seq(
      "stream_tumbling_watermark", // stream: replay floor + linear scan
      "graph_pagerank",            // graph: edge-frame build + iterations
      "ts_zscore",                 // ts: linear window kernel
      "agg_basic",                 // agg: one hash aggregate
      "sql_q9_profit")             // sql: the multi-join TPC-H heavyweight
    picks.foreach(q => exponentChecked(q, 1.35, "super-linear"))
  }

  test("calendar-bounded pair kernels stay near-flat across 100x data") {
    Seq("ts_matrix_profile", "agg_hodges_lehmann").foreach(q =>
      exponentChecked(q, 0.7, "claims a calendar-bounded pair domain"))
  }
}
