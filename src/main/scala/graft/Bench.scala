package graft
import java.nio.file.{Files, Paths}
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = Session.sfDir
    val spark = Session.local()
    // A failed warm-up is recorded in the artifact ("warm_failed"), not
    // only logged: its cost then lands in whichever query runs first.
    val warmFailed = scala.collection.mutable.ArrayBuffer[String]()
    def warmStep(name: String)(f: => Unit): Unit =
      try f catch { case e: Throwable =>
        warmFailed += name
        System.err.println(s"[bench] warm-up $name failed (continuing): $e")
      }
    // Warm the JVM/codegen/scan paths once so the first timed query doesn't
    // absorb session bring-up (~3-4s JIT + filesystem metadata), including a
    // collation comparison (fn_collation measured 13.5 s as the FIRST
    // collation-touching query in the driver's r4 run vs ~1 s warm — the
    // UTF8_LCASE comparator class-loads + JITs on first use).
    warmStep("engine") {
      spark.range(1000000L).selectExpr("sum(id)").collect()
      spark.read.parquet(s"$sfDir/lineitem.parquet")
        .selectExpr("sum(l_quantity)").collect()
      spark.range(1000L)
        .selectExpr("count(CASE WHEN collate(concat('P', id), 'UTF8_LCASE') " +
          "= 'p500' THEN 1 END)").collect()
      // DSv2 write-path class-load/JIT (sink_custom_stats measured 2.4 s
      // first-write vs 0.25 s warm)
      spark.range(100L).selectExpr("id", "id AS cents")
        .write.format("graft.sources.StatsSink").option("run", "bench_warm")
        .mode("append").save()
      graft.sources.StatsSink.committed.remove("bench_warm")
    }
    // Pre-build the shared indexes so per-query numbers are
    // attribution-deterministic: whoever runs first no longer pays the
    // shared build.
    for (e <- SharedIndex.entries) warmStep(e.name)(e.warm(spark, sfDir))
    // JIT/class-load warms and Scans' on-disk input staging, per family
    warmStep("pagerankKernel")(graft.operators.Graphs.warmKernel(spark, sfDir))
    warmStep("scans")(graft.operators.Scans.warm(spark, sfDir))
    warmStep("audio")(graft.llm.Multimodal.warmAudio(spark))
    // a failed query must NOT pass as a fast timing: record it and surface
    // the failure list in the JSON (a plan-time crash is milliseconds and
    // would otherwise make a broken suite look faster than a working one)
    val failed = scala.collection.mutable.LinkedHashSet[String]()
    // median-of-3 protocol: single-run numbers spiked up to 5x on
    // unchanged code under driver-machine load; the per-query MEDIAN of
    // three back-to-back runs is the reported figure and the raw runs ship
    // alongside so any spike stays visible.
    val nRuns = 3
    // Host telemetry per query, so a loaded-host run is self-evident from
    // the JSON: the 1-minute /proc/loadavg before and after each triple,
    // and the hypervisor-stolen jiffies over it (/proc/stat's cpu STEAL column;
    // steal ≈ 0 plus high load = self-generated parallelism, steal >> 0 =
    // co-tenant interference). Files.readString, not io.Source: Source
    // leaks its descriptor until finalization, enough to trip a 1024
    // ulimit mid-run.
    def loadavg(): Array[Double] =
      try Files.readString(Paths.get("/proc/loadavg"))
        .split(" ").take(3).map(_.toDouble)
      catch { case _: Throwable => Array(-1.0, -1.0, -1.0) }
    def stealJiffies(): Long =
      try Files.readString(Paths.get("/proc/stat"))
        .linesIterator.next().trim.split("\\s+").drop(1).map(_.toLong)
        .lift(7).getOrElse(-1L) // cpu: user nice sys idle iowait irq softirq STEAL
      catch { case _: Throwable => -1L }
    val loadStart = loadavg()
    val tStartMs = System.currentTimeMillis()
    val results = Session.eachQuery(Nil) { (name, fn) =>
      val laBefore = loadavg()(0)
      val stBefore = stealJiffies()
      val runs = (1 to nRuns).map { _ =>
        val (dt, r) = Session.timed(spark, sfDir, fn)
        r.left.foreach { e =>
          failed += name
          System.err.println(s"[bench] $name failed: $e")
        }
        // release per-query persisted frames between runs (shared caches
        // are not tracked)
        U.releaseTracked()
        (dt, r.isRight)
      }
      val stAfter = stealJiffies()
      // failed runs are excluded from the median: a plan-time crash takes
      // milliseconds, so letting it vote would make a query failing 2 of 3
      // runs look CHEAPER than a working one. All-runs-failed reports null
      // (the name is in `failed` either way); raw triples stay complete.
      val ok = runs.collect { case (dt, true) => dt }.sorted
      val median = ok.lift((ok.length - 1) / 2)
      median -> Map("queries" -> median.fold("null")(_.toString),
        "runs" -> runs.map(_._1).mkString("[", ",", "]"),
        // raw Double.toString, not %.2f: the JVM default locale could
        // emit "3,14", invalid JSON
        "load" -> s"[$laBefore,${loadavg()(0)}]",
        "steal_jiffies" ->
          (if (stBefore < 0 || stAfter < 0) -1L else stAfter - stBefore).toString)
    }
    def perQuery(key: String) =
      results.map { case (k, (_, m)) => s""""$k":${m(key)}""" }.mkString("{", ",", "}")
    val loadEnv = {
      val le = loadavg()
      s""""load_start":[${loadStart.mkString(",")}],""" +
        s""""load_end":[${le.mkString(",")}],""" +
        s""""t_start_ms":$tStartMs,"t_end_ms":${System.currentTimeMillis()}"""
    }
    val total = results.flatMap(_._2._1).sum
    def strs(xs: Iterable[String]) = xs.map("\"" + _ + "\"").mkString("[", ",", "]")
    val failedJson = strs(failed)
    val warmJson = strs(warmFailed)
    val maps = Seq("queries", "runs", "load", "steal_jiffies")
      .map(k => s""""$k":${perQuery(k)}""").mkString(",")
    val full = s"""{"metric":"total","value":$total,"unit":"sec","protocol":"median_of_$nRuns",$maps,$loadEnv,"failed":$failedJson,"warm_failed":$warmJson,"sf":"$sfDir"}"""
    // The FULL json goes only to stable files (a ~10 KB per-query map got
    // truncated mid-JSON in a captured stdout tail); stdout's final line
    // is a compact summary that cannot truncate.
    for (p <- outputPaths(sfDir)) {
      try Files.writeString(Paths.get(p), full + "\n")
      catch { case _: Throwable => }
    }
    val compact = s"""{"metric":"total","value":$total,"unit":"sec","n":${results.size},"failed":$failedJson,"warm_failed":$warmJson,"queries_file":"/tmp/graft_bench.json","sf":"$sfDir"}"""
    // stop FIRST, print LAST: the contract line must be the absolute tail
    // of stdout so the driver's tail-parse cannot lose it to shutdown logs
    spark.stop()
    println(compact)
  }

  /** Where the full JSON goes: `/tmp/graft_bench.json` on every run, and
    * the committed `bench_latest.json` (relative to the working directory)
    * only for a run on the sf0.1 fixtures it records — so a local run at
    * another scale factor cannot overwrite it. */
  def outputPaths(sfDir: String): Seq[String] =
    "/tmp/graft_bench.json" +:
      (if (Paths.get(sfDir).normalize.getFileName.toString == "sf0.1")
        Seq("bench_latest.json") else Nil)
}
