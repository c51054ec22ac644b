package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Shared helpers: table readers + exact-arithmetic aggregate builders.
  *
  * All fixture doubles carry at most 2 decimal digits (FIXTURES.md), so money
  * math is routed through DECIMAL / integer-cents domains where addition is
  * associative. Spark's partial-aggregation order then cannot diverge from
  * DuckDB's sequential sum, which keeps the driver's exact hash-compare
  * stable (SURVEY.md §5 pitfalls). Every helper here has a 1:1 SQL mirror in
  * [[OSQL]] — use them in pairs.
  */
object U {
  def tbl(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")

  /** The `events` table's `ts` column has shipped in three physical layouts
    * across fixture regenerations, each with a distinct Spark read schema:
    *
    *   - parquet TIMESTAMP(NANOS): Spark refuses it by default
    *     (PARQUET_TYPE_ILLEGAL); under `legacy.parquet.nanosAsLong` it reads
    *     as a raw-nanos BIGINT → floor-divide to µs (exactly DuckDB's
    *     TIMESTAMP view of the same nanos file);
    *   - TIMESTAMP(MICROS, isAdjustedToUTC=true): reads natively as
    *     `TimestampType` — already the oracle's type;
    *   - TIMESTAMP(MICROS, isAdjustedToUTC=false): reads as
    *     `TimestampNTZType` → cast to `TimestampType`. The session timezone
    *     is pinned UTC (Bench/Verify/Explain), so the cast is
    *     instant-preserving and value-identical to the UTC-micros layout.
    *
    * All paths end at identical µs `TimestampType` instants, so every
    * downstream query and oracle is layout-independent. Any OTHER read type
    * fails loudly here — a silent passthrough once broke 32 queries at a
    * fixture regeneration (see EventsLayoutSpec). The nanos legacy conf is
    * only flipped on when the native read actually refuses the file (the
    * conf must then STAY set — parquet scans consult it again at execution,
    * not just schema inference); micros-layout sessions are left untouched
    * so other nanos-parquet reads keep their default (refusing) behavior. */
  def events(spark: SparkSession, sfDir: String): DataFrame = {
    val df =
      try tbl(spark, sfDir, "events")
      catch {
        case e: Exception if e.getMessage != null &&
            (e.getMessage.contains("PARQUET_TYPE_ILLEGAL") ||
             e.getMessage.contains("ILLEGAL_PARQUET_TYPE") ||
             e.getMessage.contains("nanosAsLong")) =>
          spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
          tbl(spark, sfDir, "events")
      }
    df.schema("ts").dataType match {
      case LongType         => df.withColumn("ts", expr("timestamp_micros(ts DIV 1000)"))
      case TimestampType    => df
      case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
      case other => throw new IllegalStateException(
        s"events.ts read as unsupported type $other; extend U.events layout dispatch")
    }
  }

  /** Exact SUM of a <=2-decimal double column (decimal domain, then double). */
  def dsum(c: Column): Column = sum(c.cast(DecimalType(18, 2))).cast(DoubleType)

  /** Integer cents of a <=2-decimal double (exact). */
  def cents(c: Column): Column = (c.cast(DecimalType(12, 2)) * 100).cast(LongType)

  /** Exact AVG via integer cents; identical double-op tree to OSQL.davg. */
  def davg(c: Column): Column =
    sum(cents(c)).cast(DoubleType) / (lit(100.0) * count(c))

  /** Sample covariance from exact cents power sums — THE one definition of
    * the fragile double-op tree (variance = covPowerSums(sxx, sx, sx, nd));
    * the driver's hash gate requires this tree to match OSQL.covPowerSums
    * operation-for-operation, so never inline a copy. */
  def covPowerSums(sxy: Column, sx: Column, sy: Column, nd: Column): Column =
    (sxy / lit(10000.0) - (sx / lit(100.0)) * (sy / lit(100.0)) / nd) / (nd - lit(1.0))

  /** Scratch dir for sink/roundtrip operators; deterministic per (sfDir, tag). */
  def scratch(sfDir: String, tag: String): String =
    s"/tmp/graft_scratch/${sfDir.replaceAll("[^A-Za-z0-9.]", "_")}/$tag"

  /** Run `body` with the session confs `kvs` set; in a `finally`, each key
    * goes back to its prior value, or is unset if it had none. The one
    * set-and-restore scope in src/main: a per-query knob (replay shuffle
    * width, state-store provider, overwrite mode) must never leak into the
    * next query of a shared session. StreamingSpec audits that no other
    * code in src/main reads or unsets a session conf. */
  def withConfs[T](s: SparkSession, kvs: (String, String)*)(body: => T): T = {
    val prev = kvs.map { case (k, _) => k -> s.conf.getOption(k) }
    try {
      kvs.foreach { case (k, v) => s.conf.set(k, v) }
      body
    } finally prev.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None) => s.conf.unset(k)
    }
  }

  /** Row cap under which a data-derived frame may enter a `broadcast()`
    * join. 1M narrow rows is tens of MB serialized — inside Spark's 8 GB
    * broadcast hard limit and any sane driver/executor memory budget —
    * while the frames this guards (per-user anchors, SF-scaling TPC-H
    * dims, tombstone sets) reach 10⁸–10⁹ rows at the 100 TB target.
    * Shared by [[sizeGate]], [[graft.operators.TimeSeries.anchorGate]]
    * and the graph kernels' PrBroadcastNodeCap (same value by design).
    * Every broadcast site in the library is inventoried in SCALE.md's
    * "broadcast audit" table; BroadcastAuditSpec fails when a new site
    * appears without a table row. */
  val BroadcastRowCap = 1000000L

  /** Gate a data-derived frame: persist it (every caller consumes it at
    * least twice — the gating count plus >=1 join), count it once, and
    * return the persisted frame plus a join-side wrapper. Below `cap` the
    * wrapper is an explicit `broadcast` (derived-frame size estimates
    * otherwise push the planner to sort-merge); above it,
    * `hint("shuffle_hash")` — the frame exchanges on the join key and AQE
    * cannot re-broadcast what the gate declined. Both paths are the same
    * equi-join, so results are identical by construction. The count on a
    * freshly-read parquet frame is answered from footer row counts
    * (metadata-only); on a derived frame it costs one narrow agg job.
    *
    * Production decision source: before counting, the gate consults the
    * optimizer's size estimate — for a raw table scan that is the SUM OF
    * FILE SIZES from the catalog/filesystem listing, zero jobs. A frame
    * estimated past [[SizeGateStatsBytes]] cannot plausibly fit the row
    * cap (1M narrow rows is tens of MB; 1 GiB is a 40× margin), so the
    * count is skipped and the shuffle posture pinned. The fast path errs
    * in ONE direction only: an inflated estimate on a derived frame can
    * at worst pick shuffle-hash for a broadcastable frame (slower, never
    * wrong, and only past 1 GiB estimates); it can never broadcast an
    * over-cap frame, because small verdicts still require the count. */
  val SizeGateStatsBytes: Long = 1L << 30

  def sizeGate(f: DataFrame,
      cap: Long = BroadcastRowCap): (DataFrame, DataFrame => DataFrame) = {
    val p = track(f.persist())
    val estBytes = p.queryExecution.optimizedPlan.stats.sizeInBytes
    val small = estBytes <= BigInt(SizeGateStatsBytes) && p.count() <= cap
    val wrap: DataFrame => DataFrame =
      if (small) broadcast else _.hint("shuffle_hash")
    (p, wrap)
  }

  /** Per-query persisted-frame registry. Queries that persist an internal
    * frame for the duration of one computation (the PageRank edge frame, the
    * IVF vector frame, a propagation label fixpoint) register it here; the
    * harness (Bench/Verify) calls [[releaseTracked]] after each query's
    * result materializes, so a long benchmark JVM does not accumulate dead
    * cached blocks. Frames held by a [[SharedIndex]] entry are NOT tracked
    * — they are reused between queries by design, and the registry
    * unpersists them when a get for another (session, sfDir) rebuilds. */
  private val tracked = scala.collection.mutable.ListBuffer[DataFrame]()
  def track(df: DataFrame): DataFrame = synchronized { tracked += df; df }
  def releaseTracked(): Unit = synchronized {
    tracked.foreach(df => try df.unpersist()
      catch { case _: Throwable => () })
    tracked.clear()
  }
}

/** DuckDB-SQL mirrors of [[U]]'s exact-arithmetic helpers. The driver
  * hash-compares Spark output against DuckDB running these, so the double
  * operation trees must match U's exactly (same casts, same division order).
  */
object OSQL {
  def dsum(x: String): String = s"CAST(SUM(CAST($x AS DECIMAL(18,2))) AS DOUBLE)"
  def cents(x: String): String = s"CAST(CAST($x AS DECIMAL(12,2)) * 100 AS BIGINT)"
  def davg(x: String): String =
    s"CAST(SUM(${cents(x)}) AS DOUBLE) / (100.0 * COUNT($x))"
  def covPowerSums(sxy: String, sx: String, sy: String, nd: String): String =
    s"($sxy / 10000.0 - ($sx / 100.0) * ($sy / 100.0) / $nd) / ($nd - 1.0)"
}
