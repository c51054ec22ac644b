package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one harness behind the three mains (`Bench`, `Verify`, `Probe`)
  * and the test session: one session builder, the program's only
  * environment reads, one query loop and the one timed call. */
object Session {
  type Query = (SparkSession, String) => DataFrame

  /** Fixture directory the mains read (`SPARK_GRAFT_SF_DIR`). */
  def sfDir: String =
    sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

  /** Local cores and shuffle width (`SPARK_GRAFT_CPUS`). */
  def cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  /** `local[cpus]` with `cpus` shuffle partitions, the UI off and the
    * session zone UTC explicitly (not only via the sbt -D flag): timestamp
    * literal casts must select the same rows as in the oracle plans. */
  def builder(cpus: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")

  /** The mains' session. Log level ERROR: a caller tails stdout for the
    * bench's JSON line, which thousands of WindowExec WARNs once drowned
    * (the unpartitioned-window posture is audited in WindowAuditSpec). */
  def local(): SparkSession = {
    val s = builder(cpus).getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Run `body` on each query in `names` (every declared query when empty)
    * in SORTED name order, releasing its tracked frames after each.
    * Sorted, not map order: map iteration reshuffles whenever the registry
    * grows, which re-attributes any residual shared-cache cost to a
    * different first consumer. Throws before running any query when a name
    * is not declared in [[SparkEntry.queries]]. */
  def eachQuery[A](names: Seq[String])(body: (String, Query) => A): Seq[(String, A)] = {
    val all = SparkEntry.queries
    val unknown = names.filterNot(all.contains)
    require(unknown.isEmpty, s"no such query: ${unknown.mkString(", ")}")
    val picked = if (names.isEmpty) all.keys.toSeq else names.distinct
    picked.sorted.map { name =>
      try name -> body(name, all(name)) finally U.releaseTracked()
    }
  }

  /** The one timed call, Bench's per-run figure and Probe's cold/warm
    * lines: build the query's frame and `count()` it. Wall seconds of
    * both steps, and the frame with its row count or what either threw
    * (a plan-time crash must surface as a failure, never as a timing). */
  def timed(spark: SparkSession, sfDir: String, fn: Query)
      : (Double, Either[Throwable, (DataFrame, Long)]) = {
    val t0 = System.nanoTime()
    val r =
      try { val df = fn(spark, sfDir); Right(df -> df.count()) }
      catch { case e: Throwable => Left(e) }
    ((System.nanoTime() - t0) / 1e9, r)
  }
}
