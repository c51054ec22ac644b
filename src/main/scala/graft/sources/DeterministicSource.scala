package graft.sources

import java.util

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.{Literal, NamedReference, Transform}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, ReadMaxRows, SupportsTriggerAvailableNow}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** DataSource V2 connector (the `sources/` tier of the blueprint): a
  * deterministic synthetic event generator exposed as a real Spark table —
  * `spark.read.format("graft.sources.DeterministicSource")
  *   .option("rows", n).option("slices", p).load()`.
  *
  * Demonstrates the full connector surface a 100 TB source needs:
  * parallel input partitions (`slices` independent [start,end) ranges — the
  * unit of executor parallelism), and column pruning via
  * SupportsPushDownRequiredColumns (the reader materializes ONLY requested
  * fields — a generator stand-in for a columnar store's projection
  * pushdown). All values are pure integer arithmetic on the row id, so the
  * output is reproducible in DuckDB SQL for the exact hash gate.
  */
class DeterministicSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    DeterministicSource.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val rows = properties.getOrDefault("rows", "1000").toLong
    val slices = properties.getOrDefault("slices", "4").toInt
    require(slices >= 1, s"slices must be >= 1, got $slices")
    // id * Mix must stay within Long for DuckDB-reproducible arithmetic
    // (Java would wrap silently; DuckDB's checked BIGINT would error)
    require(rows >= 0 && rows <= Long.MaxValue / DeterministicSource.Mix,
      s"rows must be in [0, ${Long.MaxValue / DeterministicSource.Mix}], got $rows")
    new DeterministicTable(rows, slices)
  }
}

object DeterministicSource {
  val schema: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("bucket", LongType, nullable = false),
    StructField("value_cents", LongType, nullable = false)))
  final val Mix = 2654435761L
  def bucketOf(id: Long): Long = id % 32
  def centsOf(id: Long): Long = (id * Mix) % 100000L
  /** Test-observability only: #keys of the last runtime IN-filter applied
    * (set on the driver in SupportsRuntimeV2Filtering.filter). */
  @volatile var lastRuntimeFilterKeys: Option[Int] = None
}

private class DeterministicTable(rows: Long, slices: Int)
    extends Table with SupportsRead {
  override def name(): String = s"deterministic($rows)"
  override def schema(): StructType = DeterministicSource.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    val batchRows = options.getOrDefault("batchRows", "5000").toLong
    require(batchRows >= 1, s"batchRows must be >= 1, got $batchRows")
    new DeterministicScanBuilder(rows, slices, batchRows)
  }
}

private class DeterministicScanBuilder(rows: Long, slices: Int, batchRows: Long)
    extends ScanBuilder with SupportsPushDownRequiredColumns
    with SupportsPushDownFilters with SupportsPushDownAggregates
    with SupportsPushDownLimit with SupportsPushDownTopN {
  private var required: StructType = DeterministicSource.schema
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  // Filter pushdown: range predicates on `id` narrow the generated
  // [lo, hi) BEFORE any row exists — the generator analogue of a columnar
  // store skipping row groups. Everything else is returned to Spark for
  // post-scan evaluation, so semantics never depend on what gets accepted.
  private var lo = 0L
  private var hi = rows
  private var pushed: Array[org.apache.spark.sql.sources.Filter] = Array.empty
  override def pushFilters(filters: Array[org.apache.spark.sql.sources.Filter])
      : Array[org.apache.spark.sql.sources.Filter] = {
    import org.apache.spark.sql.sources._
    def lit(v: Any): Option[Long] = v match {
      case n: java.lang.Number => Some(n.longValue())
      case _ => None
    }
    val (accepted, rejected) = filters.partition {
      case GreaterThan("id", v) => lit(v).isDefined
      case GreaterThanOrEqual("id", v) => lit(v).isDefined
      case LessThan("id", v) => lit(v).isDefined
      case LessThanOrEqual("id", v) => lit(v).isDefined
      case EqualTo("id", v) => lit(v).isDefined
      case IsNotNull("id") => true // non-nullable: trivially satisfied
      case _ => false
    }
    accepted.foreach {
      case GreaterThan("id", v) => lo = math.max(lo, lit(v).get + 1)
      case GreaterThanOrEqual("id", v) => lo = math.max(lo, lit(v).get)
      case LessThan("id", v) => hi = math.min(hi, lit(v).get)
      case LessThanOrEqual("id", v) => hi = math.min(hi, lit(v).get + 1)
      case EqualTo("id", v) => lo = math.max(lo, lit(v).get); hi = math.min(hi, lit(v).get + 1)
      case _ => ()
    }
    if (hi < lo) hi = lo
    pushed = accepted
    rejected
  }
  override def pushedFilters(): Array[org.apache.spark.sql.sources.Filter] = pushed

  // Aggregate pushdown: COUNT(*) / SUM(value_cents) GROUP BY bucket folds
  // into the generator — each slice emits its 32 partial rows instead of
  // its id range, so the exchange carries |slices|·32 rows however many
  // ids were scanned. supportCompletePushDown=false: Spark still merges
  // the partials, so multi-slice parallelism keeps exact semantics.
  private var aggregated = false
  override def supportCompletePushDown(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean = false
  override def pushAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean = {
    import org.apache.spark.sql.connector.expressions.aggregate._
    import org.apache.spark.sql.connector.expressions.NamedReference
    val groupOk = agg.groupByExpressions.toSeq match {
      case Seq(f: NamedReference) => f.fieldNames.mkString(".") == "bucket"
      case _ => false
    }
    val aggsOk = agg.aggregateExpressions.nonEmpty &&
      agg.aggregateExpressions.forall {
        case _: CountStar => true
        case s: Sum => s.column match {
          case f: NamedReference => f.fieldNames.mkString(".") == "value_cents"
          case _ => false
        }
        case _ => false
      }
    if (groupOk && aggsOk) {
      aggFields = agg.aggregateExpressions.map {
        case _: CountStar => "agg_count"
        case _: Sum => "agg_sum"
      }
      aggregated = true
    }
    aggregated
  }
  private var aggFields: Array[String] = Array.empty

  // Limit / top-N pushdown: each slice truncates its id range to the first
  // (or, for id DESC, last) `limit` ids — the generator analogue of a file
  // source stopping after `limit` rows per split. Partial push (Spark keeps
  // the final Limit / TakeOrderedAndProject), so any slicing stays exact.
  // Only orderings the generator can satisfy WITHOUT sorting are accepted:
  // `id` asc/desc, since ids are emitted monotonically per slice. Not
  // combined with aggregate pushdown — a limit over partial aggregates
  // would drop groups.
  private var pushedLimit: Option[Int] = None
  private var topNDesc = false
  override def pushLimit(limit: Int): Boolean = {
    if (aggregated) false
    else { pushedLimit = Some(limit); true }
  }
  override def pushTopN(
      orders: Array[org.apache.spark.sql.connector.expressions.SortOrder],
      limit: Int): Boolean = {
    import org.apache.spark.sql.connector.expressions.{NamedReference, SortDirection}
    orders.toSeq match {
      case Seq(o) if !aggregated =>
        o.expression() match {
          case f: NamedReference if f.fieldNames.mkString(".") == "id" =>
            pushedLimit = Some(limit)
            topNDesc = o.direction() == SortDirection.DESCENDING
            true
          case _ => false
        }
      case _ => false
    }
  }
  override def isPartiallyPushed: Boolean = true

  /** [start, end) split into `slices` parallel ranges over pruned columns. */
  private def slicePartitions(start: Long, end: Long): Array[InputPartition] = {
    val n = end - start
    val step = math.max(n / slices, 1L)
    (0 until slices).map { i =>
      val s0 = start + i * step
      val e0 = if (i == slices - 1) end else math.min(start + (i + 1) * step, end)
      val (s, e) = pushedLimit match {
        case Some(k) if !topNDesc => (s0, math.min(e0, s0 + k))
        case Some(k) => (math.max(s0, e0 - k), e0)
        case None => (s0, e0)
      }
      RangeSlice(s, math.max(s, e), required.fieldNames, aggFields): InputPartition
    }.toArray
  }

  private def readerFactory: PartitionReaderFactory = new PartitionReaderFactory {
    override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
      val slice = p.asInstanceOf[RangeSlice]
      if (slice.aggs.nonEmpty) new AggSliceReader(slice) else new SliceReader(slice)
    }
  }

  override def build(): Scan = new Scan with Batch
      with SupportsRuntimeV2Filtering {
    // Runtime (DPP-style) filtering: when this scan joins a filtered dim on
    // `id`, Spark evaluates the broadcast dim first and hands the surviving
    // keys here as an IN predicate — the generator then re-plans ONE tiny
    // [v, v+1) slice per key instead of the full row space. This is the
    // DSv2 analogue of dynamic partition pruning for partitioned parquet
    // (join_dpp): work is proportional to the matched keys, not the table.
    // Driver-side only (filter() runs at executedPlan materialization);
    // the last narrowing is recorded for the PlanSpec assertion.
    private var runtimeIds: Option[Array[Long]] = None
    override def filterAttributes(): Array[org.apache.spark.sql.connector.expressions.NamedReference] =
      Array(org.apache.spark.sql.connector.expressions.Expressions.column("id"))
    override def filter(predicates: Array[org.apache.spark.sql.connector.expressions.filter.Predicate]): Unit = {
      predicates.foreach { p =>
        if (p.name() == "IN" && p.children().nonEmpty) {
          (p.children()(0), p.children().drop(1)) match {
            case (f: NamedReference, vs) if f.fieldNames.mkString(".") == "id" =>
              // LiteralValue is private[sql] in Spark 4.1 — match the
              // public Literal interface instead (same trap as FieldReference)
              val ids = vs.collect {
                case l: Literal[_] if l.value().isInstanceOf[java.lang.Number] =>
                  l.value().asInstanceOf[java.lang.Number].longValue()
              }
              if (ids.length == vs.length) {
                val kept = ids.filter(v => v >= lo && v < hi).sorted.distinct
                runtimeIds = Some(kept)
                DeterministicSource.lastRuntimeFilterKeys = Some(kept.length)
              }
            case _ => ()
          }
        }
      }
    }

    override def planInputPartitions(): Array[InputPartition] =
      runtimeIds match {
        case Some(ids) =>
          ids.map(v => RangeSlice(v, v + 1, required.fieldNames, aggFields): InputPartition)
        case None => slicePartitions(lo, hi)
      }

    override def readSchema(): StructType =
      if (aggregated)
        StructType(StructField("bucket", LongType, nullable = false) +:
          aggFields.toSeq.map(f => StructField(f, LongType, nullable = false)))
      else required
    override def toBatch: Batch = this
    // surfaced in .explain via the BatchScan node so PlanSpec can assert
    // that the range/agg actually pushed at plan time
    override def description(): String =
      s"deterministic pushedRange=[$lo,$hi) of $rows" +
        (if (aggregated) s" pushedAggs=bucket:${aggFields.mkString(",")}" else "") +
        pushedLimit.map(k =>
          s" pushedLimit=$k${if (topNDesc) " (topN id DESC)" else ""}").getOrElse("")
    override def createReaderFactory(): PartitionReaderFactory = readerFactory

    /** Streaming side of the SAME table: the row-id space replayed in
      * admission-controlled micro-batches of `batchRows` (Trigger
      * .AvailableNow drains it batch over batch to the fixed end, so the
      * final state is exactly the batch read => full oracle). The offset
      * is the next unread row id — trivially serializable, and restart
      * just resumes the arithmetic at the committed id. The source
      * supports AvailableNow itself: without it Spark wraps the stream and
      * drains the whole ReadAllAvailable target in ONE batch, and the
      * `batchRows` limit never applies. */
    override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
      new MicroBatchStream with SupportsTriggerAvailableNow {
        private def off(o: Offset): Long = o.asInstanceOf[IdOffset].id
        override def initialOffset(): Offset = IdOffset(0L)
        override def latestOffset(): Offset =
          throw new UnsupportedOperationException(
            "admission-controlled source: use latestOffset(start, limit)")
        override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
          // ReadAllAvailable is how Trigger.AvailableNow captures the drain
          // TARGET at query start — it must see the full row space, or the
          // replay silently stops after one batch
          val cap = limit match {
            case m: ReadMaxRows => m.maxRows()
            case _: streaming.ReadAllAvailable => rows
            case _ => batchRows
          }
          IdOffset(math.min(rows, off(start) + cap))
        }
        override def getDefaultReadLimit: ReadLimit = ReadLimit.maxRows(batchRows)
        // the drain target is `rows`, fixed when the table was built, so
        // there is nothing to capture at query start
        override def prepareForTriggerAvailableNow(): Unit = ()
        override def deserializeOffset(json: String): Offset = IdOffset(json.toLong)
        // offsets advance over the FULL id space, but each batch intersects
        // the pushed [lo, hi): accepted filters are removed from post-scan
        // in streaming too, so ignoring them here would return wrong rows
        override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] =
          slicePartitions(math.max(off(start), lo),
            math.max(math.max(off(start), lo), math.min(off(end), hi)))
        override def createReaderFactory(): PartitionReaderFactory = readerFactory
        override def commit(end: Offset): Unit = ()
        override def stop(): Unit = ()
      }
  }
}

private case class IdOffset(id: Long) extends Offset {
  override def json(): String = id.toString
}

private case class RangeSlice(start: Long, end: Long, fields: Array[String],
    aggs: Array[String] = Array.empty) extends InputPartition

/** Partial-aggregate reader: folds the slice's id range into 32 per-bucket
  * partial rows (bucket, then each pushed agg in order). Spark's final
  * aggregation merges the per-slice partials. */
private class AggSliceReader(slice: RangeSlice) extends PartitionReader[InternalRow] {
  private val rows: Iterator[InternalRow] = {
    val count = new Array[Long](32)
    val sum = new Array[Long](32)
    var id = slice.start
    while (id < slice.end) {
      val b = DeterministicSource.bucketOf(id).toInt
      count(b) += 1
      sum(b) += DeterministicSource.centsOf(id)
      id += 1
    }
    (0 until 32).iterator.filter(count(_) > 0).map { b =>
      val vals = new Array[Any](1 + slice.aggs.length)
      vals(0) = b.toLong
      var i = 0
      while (i < slice.aggs.length) {
        vals(i + 1) = if (slice.aggs(i) == "agg_count") count(b) else sum(b)
        i += 1
      }
      new GenericInternalRow(vals): InternalRow
    }
  }
  private var cur: InternalRow = _
  override def next(): Boolean = { val h = rows.hasNext; if (h) cur = rows.next(); h }
  override def get(): InternalRow = cur
  override def close(): Unit = ()
}

private class SliceReader(slice: RangeSlice) extends PartitionReader[InternalRow] {
  private var id = slice.start - 1
  override def next(): Boolean = { id += 1; id < slice.end }
  override def get(): InternalRow = {
    // materialize only the pruned columns, in the requested order
    val vals = new Array[Any](slice.fields.length)
    var i = 0
    while (i < vals.length) {
      vals(i) = slice.fields(i) match {
        case "id" => id
        case "bucket" => DeterministicSource.bucketOf(id)
        case "value_cents" => DeterministicSource.centsOf(id)
      }
      i += 1
    }
    new GenericInternalRow(vals)
  }
  override def close(): Unit = ()
}
