package perfbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.time.Instant

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryListener, Trigger}
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

import graft.{SparkEntry, U}

/** Runs one benchmark plan in a fresh JVM and writes what it measured as one
  * JSON object per line. `perfbench/run.py` writes the plan, reads the
  * records and turns them into metrics.
  *
  * Usage: `Harness <sfDir> <planFile> <outFile> <trace 0|1>`, or
  * `Harness --list <outFile>` to write each query's name and owning module.
  *
  * The plan file's first line is `seconds <n> min_passes <m>`; every later
  * line is one pass, a comma-separated query order. The first `m` passes
  * always run; further listed passes run while the measured time stays
  * within `n` seconds.
  *
  * Each query is timed around the three calls that enter its layers:
  * build is `SparkEntry.queries(name)(spark, sfDir)`, plan is the
  * `executedPlan` of a digest Dataset over that frame, and exec is
  * `collect()` of the same Dataset. The digest is the row count plus the
  * DECIMAL(38,0) sum of per-row xxhash64 values over every column, so it
  * does not depend on row order and cannot prune a column.
  */
object Harness {

  /** Owning module of each query: membership in the module's public map.
    * Lazy, so that initialising the program's objects is part of set-up. */
  lazy val modules: Seq[(String, Map[String, (SparkSession, String) => DataFrame])] = Seq(
    "Scans" -> graft.operators.Scans.queries,
    "FilterProject" -> graft.operators.FilterProject.queries,
    "Aggregations" -> graft.operators.Aggregations.queries,
    "Windows" -> graft.operators.Windows.queries,
    "SetOps" -> graft.operators.SetOps.queries,
    "SqlText" -> graft.operators.SqlText.queries,
    "TpchSuite" -> graft.operators.TpchSuite.queries,
    "Graphs" -> graft.operators.Graphs.queries,
    "TypedApi" -> graft.operators.TypedApi.queries,
    "Joins" -> graft.operators.Joins.queries,
    "TimeSeries" -> graft.operators.TimeSeries.queries,
    "ScalarFns" -> graft.functions.ScalarFns.queries,
    "TextAnalysis" -> graft.llm.TextAnalysis.queries,
    "Dedup" -> graft.llm.Dedup.queries,
    "Pipeline" -> graft.llm.Pipeline.queries,
    "Similarity" -> graft.llm.Similarity.queries,
    "Multimodal" -> graft.llm.Multimodal.queries,
    "StreamingQueries" -> graft.streaming.StreamingQueries.queries)

  def moduleOf(name: String): String =
    modules.collectFirst { case (m, qs) if qs.contains(name) => m }.getOrElse("?")

  def main(args: Array[String]): Unit = {
    val mainNs = System.nanoTime()
    if (args.headOption.contains("--list")) {
      val out = new PrintWriter(new File(args(1)), "UTF-8")
      try SparkEntry.queries.keys.toSeq.sorted.foreach(n => out.println(s"$n ${moduleOf(n)}"))
      finally out.close()
      return
    }
    val Array(sfDir, planPath, outPath, traceArg) = args
    val trace = traceArg == "1"
    val planLines = Files.readAllLines(Paths.get(planPath)).asScala.toSeq
    val Array("seconds", secondsArg, "min_passes", minPassesArg) =
      planLines.head.trim.split("\\s+")
    val seconds = secondsArg.toDouble
    val minPasses = minPassesArg.toInt
    val passes = planLines.tail.map(_.split(",").toSeq)
    val out = new PrintWriter(new File(outPath), "UTF-8")
    def emit(fields: (String, Any)*): Unit = out.println(Json.obj(fields: _*))

    val n = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$n]")
      .config("spark.sql.shuffle.partitions", n.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    val sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    val sessionNs = System.nanoTime()
    val queries = SparkEntry.queries
    modules
    for (name <- passes.flatten.distinct if !queries.contains(name))
      throw new IllegalArgumentException(s"plan names unknown query $name")
    val resolveNs = System.nanoTime()
    WarmUp.run(spark, sfDir, Files.createTempDirectory("perfbench-warm").toString)
    val warmNs = System.nanoTime()

    val tracer = if (trace) Some(new Tracer) else None
    tracer.foreach { t =>
      sc.addSparkListener(t)
      spark.streams.addListener(t.streams)
    }
    def setPhase(attempt: Int, phase: String): Unit = if (trace) {
      sc.setLocalProperty("perfbench.attempt", attempt.toString)
      sc.setLocalProperty("perfbench.phase", phase)
    }
    def storage(): (Long, Seq[Int]) = {
      val used = sc.getExecutorMemoryStatus.values.map { case (max, free) => max - free }.sum
      (used, sc.getPersistentRDDs.keys.toSeq.sorted)
    }

    val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    def gcMs(): Long = gcBeans.map(_.getCollectionTime).sum
    val gc0 = gcMs()
    val steal0 = Host.stealJiffies()
    val runStartNs = System.nanoTime()
    emit("k" -> "setup", "setup_ms" -> (runStartNs - mainNs) / 1e6,
      "session_ms" -> (sessionNs - mainNs) / 1e6, "resolve_ms" -> (resolveNs - sessionNs) / 1e6,
      "warm_ms" -> (warmNs - resolveNs) / 1e6, "epoch_ms" -> System.currentTimeMillis())

    val epochBaseMs = System.currentTimeMillis() - System.nanoTime() / 1e6
    def epochMs(ns: Long): Double = epochBaseMs + ns / 1e6
    var attempt = 0
    var passIdx = 0
    var lastPassNs = 0L
    def measuredS = (System.nanoTime() - runStartNs) / 1e9
    while (passIdx < passes.size &&
        (passIdx < minPasses || measuredS + lastPassNs / 1e9 <= seconds)) {
      val passNo = passIdx + 1
      val passSteal0 = Host.stealJiffies()
      val passGc0 = gcMs()
      val p0 = System.nanoTime()
      for (name <- passes(passIdx)) {
        attempt += 1
        val marks = mutable.ArrayBuffer[Long](System.nanoTime())
        var failedIn: String = null
        var error: String = null
        var digest: (Long, String) = null
        var phases: Map[String, Long] = Map.empty
        try {
          failedIn = "build"
          setPhase(attempt, "build")
          val df = queries(name)(spark, sfDir)
          marks += System.nanoTime()
          failedIn = "plan"
          setPhase(attempt, "plan")
          val d = Digest.of(df)
          d.queryExecution.executedPlan
          marks += System.nanoTime()
          failedIn = "exec"
          setPhase(attempt, "exec")
          val row = d.collect().head
          marks += System.nanoTime()
          failedIn = null
          digest = (row.getLong(0), Option(row.getDecimal(1)).map(_.toPlainString).getOrElse("null"))
          phases = d.queryExecution.tracker.phases.map { case (k, v) => k -> v.durationMs }
        } catch {
          case e: Throwable =>
            error = e.toString.linesIterator.take(3).mkString(" | ")
            System.err.println(s"[perfbench] $name failed in $failedIn: $error")
        }
        if (trace) {
          sc.setLocalProperty("perfbench.attempt", null)
          sc.setLocalProperty("perfbench.phase", null)
        }
        val endNs = System.nanoTime()
        U.releaseTracked()
        val releasedNs = System.nanoTime()
        val (storageBytes, rdds) = storage()
        val layerMs = marks.toSeq.sliding(2).map(w => (w(1) - w(0)) / 1e6).toSeq
        emit("k" -> "q", "attempt" -> attempt, "pass" -> passNo, "name" -> name,
          "module" -> moduleOf(name),
          "start_ms" -> epochMs(marks.head), "end_ms" -> epochMs(endNs),
          "build_ms" -> layerMs.lift(0), "plan_ms" -> layerMs.lift(1),
          "exec_ms" -> layerMs.lift(2), "wall_ms" -> (endNs - marks.head) / 1e6,
          "release_ms" -> (releasedNs - endNs) / 1e6,
          "marks_ms" -> marks.toSeq.map(epochMs),
          "analysis_ms" -> phases.get("analysis"), "optimization_ms" -> phases.get("optimization"),
          "planning_ms" -> phases.get("planning"),
          "rows" -> Option(digest).map(_._1), "hash" -> Option(digest).map(_._2),
          "failed_in" -> Option(failedIn), "error" -> Option(error),
          "storage_bytes" -> storageBytes, "rdds" -> rdds.size,
          "rdd_ids" -> (if (trace) Some(rdds) else None))
      }
      lastPassNs = System.nanoTime() - p0
      emit("k" -> "pass", "pass" -> passNo, "wall_ms" -> lastPassNs / 1e6,
        "start_ms" -> epochMs(p0), "end_ms" -> epochMs(p0 + lastPassNs),
        "steal_jiffies" -> (Host.stealJiffies() - passSteal0), "jvm_gc_ms" -> (gcMs() - passGc0))
      out.flush()
      passIdx += 1
    }
    val runEndNs = System.nanoTime()
    emit("k" -> "host", "steal_jiffies" -> (Host.stealJiffies() - steal0),
      "load1" -> Host.load1(), "jvm_gc_ms" -> (gcMs() - gc0),
      "measured_ms" -> (runEndNs - runStartNs) / 1e6,
      "start_ms" -> epochMs(runStartNs), "end_ms" -> epochMs(runEndNs))
    emit("k" -> "env", "nproc" -> n, "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
      "spark_version" -> spark.version, "java_version" -> System.getProperty("java.version"),
      "java_vm" -> System.getProperty("java.vm.name"), "master" -> sc.master,
      "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
      "spark_local_dir_conf" -> sc.getConf.getOption("spark.local.dir"),
      "spark_local_dirs_env" -> sys.env.get("SPARK_LOCAL_DIRS"),
      "java_tmpdir" -> System.getProperty("java.io.tmpdir"))
    // stop() drains the listener bus, so every event has arrived afterwards
    spark.stop()
    tracer.foreach(_.write(emit))
    out.close()
  }
}

/** Generic engine warm-up, part of set-up. It runs no workload query and no
  * program code, only Spark work of the shapes the workloads use: a range
  * aggregate, a parquet scan with a join, a parquet write, and that file read
  * back by a stateful stream on the RocksDB state store. The engine's classes
  * and native libraries are then loaded before pass 1, so pass 1 holds what
  * the program's first queries pay. */
object WarmUp {
  def run(spark: SparkSession, sfDir: String, dir: String): Unit = {
    spark.range(1000000L).selectExpr("sum(id)").collect()
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
    val od = spark.read.parquet(s"$sfDir/orders.parquet")
    li.join(od, col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderstatus").agg(sum("l_quantity"), count(lit(1))).collect()
    spark.range(100000L).selectExpr("id % 100 AS k", "id AS v").write.parquet(s"$dir/in")
    val provider = "spark.sql.streaming.stateStore.providerClass"
    spark.conf.set(provider,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try spark.readStream.schema("k LONG, v LONG").parquet(s"$dir/in")
      .groupBy("k").agg(sum("v"))
      .writeStream.format("memory").queryName("perfbench_warm").outputMode("complete")
      .option("checkpointLocation", s"$dir/checkpoint")
      .trigger(Trigger.AvailableNow()).start().awaitTermination()
    finally spark.conf.unset(provider)
    spark.catalog.dropTempView("perfbench_warm")
  }
}

/** Order-independent output digest: row count and the DECIMAL(38,0) sum of
  * per-row xxhash64 over every column (a LONG sum overflows under ANSI mode).
  * Map and variant values are not hashable, so they are hashed as JSON. */
object Digest {
  private def hashable(t: DataType): Boolean = t match {
    case _: MapType | _: VariantType => false
    case s: StructType => s.fields.forall(f => hashable(f.dataType))
    case a: ArrayType => hashable(a.elementType)
    case _ => true
  }

  def of(df: DataFrame): DataFrame = {
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = named.schema.fields.toSeq.map { f =>
      if (hashable(f.dataType)) col(f.name) else to_json(col(f.name))
    }
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    named.agg(count(lit(1)), sum(h.cast(DecimalType(38, 0))))
  }
}

object Host {
  /** Cumulative hypervisor-stolen jiffies: /proc/stat's `cpu` line, field 8. */
  def stealJiffies(): Long =
    try Files.readString(Paths.get("/proc/stat")).linesIterator.next()
      .trim.split("\\s+").drop(1).map(_.toLong).lift(7).getOrElse(-1L)
    catch { case _: Exception => -1L }

  def load1(): Double =
    try Files.readString(Paths.get("/proc/loadavg")).split(" ")(0).toDouble
    catch { case _: Exception => -1.0 }
}

/** Spark job, task and micro-batch records for the traced run. Listener
  * callbacks arrive on the listener bus thread; `write` runs after the
  * session has stopped, when the bus has drained. */
class Tracer extends SparkListener {
  private class Job(val id: Int, val startMs: Long, val attempt: Option[String],
      val phase: Option[String], val stageNames: Seq[String], val cachedRdds: Seq[Int]) {
    var endMs = -1L
    var stages = 0
    var tasks = 0
    var runMs = 0L
    var cpuNs = 0L
    var gcMs = 0L
    var waitMs = 0L
    var shuffleWrite = 0L
    var shuffleRead = 0L
    var spill = 0L
    var inputRows = 0L
  }
  private val jobs = mutable.LinkedHashMap[Int, Job]()
  private val stageJob = mutable.Map[Int, Job]()
  private val stageSubmitMs = mutable.Map[Int, Long]()
  private val batches = mutable.ArrayBuffer[Seq[(String, Any)]]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    val j = new Job(e.jobId, e.time,
      props.flatMap(p => Option(p.getProperty("perfbench.attempt"))),
      props.flatMap(p => Option(p.getProperty("perfbench.phase"))),
      e.stageInfos.map(_.name),
      e.stageInfos.flatMap(_.rddInfos).filter(_.storageLevel != StorageLevel.NONE).map(_.id).distinct)
    jobs(e.jobId) = j
    e.stageIds.foreach(s => stageJob(s) = j)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobs.get(e.jobId).foreach(_.endMs = e.time)

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val info = e.stageInfo
    stageSubmitMs(info.stageId) = info.submissionTime.getOrElse(System.currentTimeMillis())
    stageJob.get(info.stageId).foreach(_.stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = stageJob.get(e.stageId).foreach { j =>
    j.tasks += 1
    j.waitMs += math.max(0L, e.taskInfo.launchTime - stageSubmitMs.getOrElse(e.stageId, e.taskInfo.launchTime))
    Option(e.taskMetrics).foreach { m =>
      j.runMs += m.executorRunTime
      j.cpuNs += m.executorCpuTime
      j.gcMs += m.jvmGCTime
      j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      j.inputRows += m.inputMetrics.recordsRead
    }
  }

  val streams: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
      val ops = p.stateOperators.toSeq
      val row = Seq[(String, Any)]("k" -> "batch", "run_id" -> p.runId.toString,
        "batch_id" -> p.batchId, "start_ms" -> Instant.parse(p.timestamp).toEpochMilli,
        "batch_ms" -> p.batchDuration, "input_rows" -> p.numInputRows,
        "trigger_ms" -> d.get("triggerExecution"), "add_batch_ms" -> d.get("addBatch"),
        "query_planning_ms" -> d.get("queryPlanning"), "wal_commit_ms" -> d.get("walCommit"),
        "state_commit_ms" -> ops.map(_.commitTimeMs).sum,
        "state_update_ms" -> ops.map(_.allUpdatesTimeMs).sum,
        "state_rows" -> ops.map(_.numRowsTotal).sum,
        "state_mem_bytes" -> ops.map(_.memoryUsedBytes).sum)
      synchronized { batches += row }
    }
  }

  def write(emit: Seq[(String, Any)] => Unit): Unit = {
    for (j <- jobs.values) emit(Seq("k" -> "job", "job" -> j.id, "attempt" -> j.attempt,
      "phase" -> j.phase, "start_ms" -> j.startMs, "end_ms" -> j.endMs,
      "stage_names" -> j.stageNames, "cached_rdds" -> j.cachedRdds, "stages" -> j.stages, "tasks" -> j.tasks,
      "task_run_ms" -> j.runMs, "task_cpu_ms" -> j.cpuNs / 1e6, "gc_ms" -> j.gcMs,
      "task_wait_ms" -> j.waitMs, "shuffle_write_bytes" -> j.shuffleWrite,
      "shuffle_read_bytes" -> j.shuffleRead, "spill_bytes" -> j.spill,
      "input_rows" -> j.inputRows))
    synchronized { batches.foreach(emit) }
  }
}

/** Minimal JSON writer for the harness's flat records. */
object Json {
  def obj(fields: (String, Any)*): String =
    fields.map { case (k, v) => s"${str(k)}:${value(v)}" }.mkString("{", ",", "}")

  private def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case b: Boolean => b.toString
    case n: java.lang.Number => n.toString
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  private def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
