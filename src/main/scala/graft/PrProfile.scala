package graft
import org.apache.spark.sql.SparkSession
/** Run-over-run attribution for the PageRank kernel (the r4 "≤3 s warm"
  * target, pinned r7): run-over-run in one JVM separates the kernel's
  * steady-state cost from one-time costs the bench's single timed run
  * absorbs (plan-specific whole-stage-codegen compile, per-call deg/edge
  * cache builds; runs 2-3 reuse both via the codegen cache and
  * CacheManager same-plan dedup). Measured at sf0.1 (20k nodes, 2.39M
  * edges, idle machine, 2026-08-14, fused-round-1 kernel): run 1 5.7 s,
  * runs 2-3 ~2.6-3.0 s — the steady-state kernel meets the 3 s target;
  * the bench-cold number (~5.5 s) is attribution, not data volume.
  * HITS (same session): run 1 8.8 s, runs 2-3 6.5-7.6 s — its floor is
  * genuinely higher: 4 data-dependent max-normalization barriers (each a
  * persist + 1-row max job, inherent to max-norm HITS in exact integers)
  * plus 3 scans of the 2.4M-row cached edge frame; not a posture bug.
  * r13 re-measure after the prCache + real-plan-warm fixes (the
  * deg-joined edge frame builds once per JVM, and Graphs.warmKernel compiles
  * the REAL iteration plan): pagerank runs 2.67/2.59/2.44 s here and
  * ~0.6 s bench median at 4 threads — the per-call ~2 s frame rebuild
  * is gone (BASELINE.md round-13 notes). */
object PrProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def t[A](tag: String)(f: => A): A = {
      val t0 = System.nanoTime(); val r = f
      println(f"[prof] $tag%-28s ${(System.nanoTime() - t0) / 1e9}%8.3f s"); r
    }
    t("warm")(graft.operators.Graphs.warmKernel(spark, sfDir))
    for (i <- 1 to 3)
      t(s"pagerank run $i")(
        graft.operators.Graphs.pagerankImpl(spark, sfDir, 1000000L).count())
    // same attribution split for the bench's heaviest graph query: HITS
    // carries 4 inherent max-normalization barriers, so its floor is
    // higher than pagerank's — runs 2-3 show what is kernel vs one-time
    for (i <- 1 to 3) {
      t(s"hits run $i")(
        graft.SparkEntry.queries("graph_hits")(spark, sfDir).count())
      U.releaseTracked()
    }
    // SCC attribution (r11): the r10 driver's 5.99 s was the shared
    // order-sequence edge-cache build landing on whichever of
    // scc/reciprocity ran first — measured here as the build line; the
    // cache-warm kernel is the run 1-3 lines (single-task closure on the
    // 60-node capped subgraph), and the forced distributed loop (cap=0)
    // times the 6 localCheckpoint-pinned path-doubling rounds end to end.
    // Measured at sf0.1 (idle, 2026-08-15): build 2.0 s inside this
    // already-JITed JVM (6+ s when it lands on a cold first consumer —
    // the r10 driver shape), scc warm runs 3.1/2.2/1.9 s, forced
    // distributed loop 3.0 s end to end.
    t("scc seq-edge cache build")(
      graft.operators.Graphs.queries("graph_reciprocity")(spark, sfDir).count())
    for (i <- 1 to 3) {
      t(s"scc run $i (cache-warm)")(
        graft.operators.Graphs.queries("graph_scc")(spark, sfDir).count())
      U.releaseTracked()
    }
    t("scc forced distributed loop")(
      graft.operators.Graphs.sccImpl(spark, sfDir, 0L).count())
    U.releaseTracked()
    spark.stop()
  }
}
