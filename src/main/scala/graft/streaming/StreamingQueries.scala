package graft.streaming

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger

import graft.{OSQL, U}
import graft.operators.Aggregations.withSplitDay
import graft.sources.StatsSink
import graft.streaming.StreamingQueries.micros
import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StatefulProcessor, StreamingQuery, TTLConfig, TimeMode, TimerValues, Trigger}
import org.apache.spark.sql.types._

/** Encoder types for the stateful query — top-level for Catalyst codegen. */
case class SEvent(event_id: Long, user_id: Long, ts: java.sql.Timestamp, cents: Long)
case class SState(n: Long, sum: Long)
case class SOut(event_id: Long, user_id: Long, running_n: Long, running_sum: Double)

/** Spark 4.x arbitrary-state API (`transformWithState`) processor computing
  * the SAME running totals as the flatMapGroupsWithState step — the two
  * queries share one DuckDB oracle, which pins the semantics across both
  * state APIs. Top-level class: the processor is serialized to executors. */
class RunningTotalsProcessor extends StatefulProcessor[Long, SEvent, SOut] {
  @transient private var st: org.apache.spark.sql.streaming.ValueState[SState] = _
  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    st = getHandle.getValueState[SState]("running", Encoders.product[SState], TTLConfig.NONE)
  override def handleInputRows(key: Long, rows: Iterator[SEvent],
      tv: TimerValues): Iterator[SOut] = {
    val sorted = rows.toIndexedSeq.sortBy(e => (e.ts.getTime, e.ts.getNanos, e.event_id))
    var cur = if (st.exists()) st.get() else SState(0L, 0L)
    val out = sorted.map { e =>
      cur = SState(cur.n + 1, cur.sum + e.cents)
      SOut(e.event_id, key, cur.n, cur.sum.toDouble / 100.0)
    }
    st.update(cur)
    out.iterator
  }
}

/** Session accumulator for [[SessionizeProcessor]]; times in exact µs. */
case class SessState(sessionId: Long, startUs: Long, lastUs: Long, n: Long, cents: Long)
case class SessOut(user_id: Long, session_id: Long, start_us: Long, end_us: Long,
  n_events: Long, cents: Long)

/** Streaming sessionization through `transformWithState` custom state (gap
  * logic in a ValueState, not the built-in session_window): batches arrive
  * in event-time order, so each key's open session either extends or closes
  * on gap>30min exactly as the batch lag-gap pass would. Every touched
  * session emits its CURRENT summary each batch; the consumer keeps each
  * session's final (max-n) emission, which equals the batch answer =>
  * full oracle — unlike watermark-finalized session windows, no session is
  * lost to end-of-stream. */
class SessionizeProcessor extends StatefulProcessor[Long, SEvent, SessOut] {
  @transient private var st: org.apache.spark.sql.streaming.ValueState[SessState] = _
  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    st = getHandle.getValueState[SessState]("sess", Encoders.product[SessState], TTLConfig.NONE)
  private def fin(key: Long, c: SessState): SessOut =
    SessOut(key, c.sessionId, c.startUs, c.lastUs, c.n, c.cents)
  override def handleInputRows(key: Long, rows: Iterator[SEvent],
      tv: TimerValues): Iterator[SessOut] = {
    val sorted = rows.toIndexedSeq.sortBy(e => (micros(e.ts), e.event_id))
    var out = List.empty[SessOut]
    var cur = if (st.exists()) Option(st.get()) else None
    for (e <- sorted) {
      val t = micros(e.ts)
      cur match {
        case Some(c) if t - c.lastUs <= 1800000000L =>
          cur = Some(c.copy(lastUs = t, n = c.n + 1, cents = c.cents + e.cents))
        case Some(c) =>
          out ::= fin(key, c) // closed by gap: final summary
          cur = Some(SessState(c.sessionId + 1, t, t, 1L, e.cents))
        case None =>
          cur = Some(SessState(1L, t, t, 1L, e.cents))
      }
    }
    cur.foreach { c => st.update(c); out ::= fin(key, c) }
    out.reverseIterator
  }
}

/** Per-(user, type) input/output rows for [[HysteresisProcessor]]; the
  * quarter-cent thresholds ride on each row from the stream-static join. */
case class HEvent(event_id: Long, user_id: Long, event_type: String,
  ts: java.sql.Timestamp, v4: Long, hi_qc: Long, lo_qc: Long)
case class HOut(event_id: Long, user_id: Long, event_type: String,
  alarm: Long, is_onset: Boolean)

/** Streaming twin of the batch `ts_hysteresis` SCADA alarm: the latched
  * state is one Long ValueState per (user, type). Batches arrive in
  * event-time order (staged replay) and rows sort within a batch, so the
  * latch replays the batch last-IGNORE-NULLS scan exactly — both queries
  * share ONE oracle ([[graft.operators.TimeSeries.hysteresisSql]]). */
class HysteresisProcessor
    extends StatefulProcessor[(Long, String), HEvent, HOut] {
  @transient private var st: org.apache.spark.sql.streaming.ValueState[Long] = _
  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    st = getHandle.getValueState[Long]("alarm", Encoders.scalaLong, TTLConfig.NONE)
  override def handleInputRows(key: (Long, String), rows: Iterator[HEvent],
      tv: TimerValues): Iterator[HOut] = {
    val sorted = rows.toIndexedSeq
      .sortBy(e => (e.ts.getTime, e.ts.getNanos, e.event_id))
    var cur = if (st.exists()) st.get() else 0L
    val out = sorted.map { e =>
      val prev = cur
      cur = if (e.v4 > e.hi_qc) 1L else if (e.v4 < e.lo_qc) 0L else cur
      HOut(e.event_id, e.user_id, e.event_type, cur, cur == 1L && prev == 0L)
    }
    st.update(cur)
    out.iterator
  }
}

/** Per-type rows for [[CusumProcessor]]; the batch-computed (n, Σx) stats
  * ride on each row from the stream-static join (the HEvent discipline). */
case class CEvent(event_id: Long, event_type: String,
  ts: java.sql.Timestamp, vc: Long, n: Long, sx: Long)
case class CuState(cp: Long, minp: Long, cm: Long, minm: Long)
case class COut(event_type: String, us: Long, n: Long,
  hi: Boolean, lo: Boolean)

/** Streaming twin of the batch `ts_cusum_alarm` tabular CUSUM: the S⁺/S⁻
  * recursion runs NATIVELY here (max(0, prev + d) per event — the state
  * is exactly (cum, running-min) per side, 4 Longs per type), where the
  * batch query needed the closed-form window identity. Batches arrive in
  * event-time order (staged replay) and rows sort within a batch, so the
  * replay equals the batch ordered scan and both queries share ONE oracle
  * ([[graft.operators.TimeSeries.cusumAlarmSql]]). n-scaled Long domain:
  * |cum| ≤ n·max|x|·rows — fine to ~1e6 rows/type; the batch twin's
  * Decimal(38,0) is the 100 TB path. */
class CusumProcessor
    extends StatefulProcessor[String, CEvent, COut] {
  @transient private var st: org.apache.spark.sql.streaming.ValueState[CuState] = _
  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    st = getHandle.getValueState[CuState]("cusum",
      Encoders.product[CuState], TTLConfig.NONE)
  override def handleInputRows(key: String, rows: Iterator[CEvent],
      tv: TimerValues): Iterator[COut] = {
    val sorted = rows.toIndexedSeq
      .sortBy(e => (e.ts.getTime, e.ts.getNanos, e.event_id))
    var cur = if (st.exists()) st.get() else CuState(0L, 0L, 0L, 0L)
    val out = sorted.map { e =>
      val dp = e.n * (e.vc - 500L) - e.sx
      val dm = e.sx - e.n * (e.vc + 500L)
      val cp = cur.cp + dp; val cm = cur.cm + dm
      cur = CuState(cp, math.min(cur.minp, cp), cm, math.min(cur.minm, cm))
      val sp = cp - math.min(0L, cur.minp)
      val sm = cm - math.min(0L, cur.minm)
      COut(key, micros(e.ts), e.n, sp > e.n * 5000L, sm > e.n * 5000L)
    }
    st.update(cur)
    out.iterator
  }
}

case class PHEvent(event_id: Long, event_type: String,
  ts: java.sql.Timestamp, vc: Long)
case class PHOut(event_type: String, us: Long, exc: Long)

/** Page–Hinkley drift detection as a LIVE monitor — the streaming twin
  * of the batch ts_page_hinkley windows (SAME oracle): per event type
  * the processor carries (n, Σx, m, min m) and replays the identical
  * running-mean recursion, each mean term computed through BigInt so
  * the ×1e6 product can never wrap where the batch twin's
  * DECIMAL(38,0) doesn't (BigInt and Spark's DIV both truncate toward
  * zero). Batches arrive in event-time order (staged replay) and rows
  * sort within a batch — the [[CusumProcessor]] assumptions, so the
  * stream equals the batch ordered scan exactly. */
class PageHinkleyProcessor
    extends StatefulProcessor[String, PHEvent, PHOut] {
  @transient private var st: org.apache.spark.sql.streaming.ValueState[(Long, Long, Long, Long)] = _
  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    st = getHandle.getValueState[(Long, Long, Long, Long)]("ph",
      Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong,
        Encoders.scalaLong, Encoders.scalaLong), TTLConfig.NONE)
  override def handleInputRows(key: String, rows: Iterator[PHEvent],
      tv: TimerValues): Iterator[PHOut] = {
    val sorted = rows.toIndexedSeq
      .sortBy(e => (e.ts.getTime, e.ts.getNanos, e.event_id))
    var (i, sx, m, mn) =
      if (st.exists()) st.get() else (0L, 0L, 0L, Long.MaxValue)
    val out = sorted.map { e =>
      i += 1; sx += e.vc
      val term = (BigInt(1000000) * e.vc - (BigInt(1000000) * sx) / i).toLong
      m += term
      mn = math.min(mn, m)
      PHOut(key, micros(e.ts), m - mn)
    }
    st.update((i, sx, m, mn))
    out.iterator
  }
}

/** One exploded (doc, LSH band) row on the stream; `bkey` is the
  * concat_ws(":") band signature — the batch dedup_minhash key. */
case class NDEvent(doc_id: Long, band: Long, bkey: String)
case class NDOut(doc_id: Long, band: Long, prior: Long)

/** Streaming MinHash near-dup detector — the crawl-ingest shape: band
  * signatures flow through `transformWithState` keyed by (band, bkey);
  * each bucket's ValueState holds the MINIMUM doc_id seen, and every
  * arrival emits the bucket occupant it collided with (−1 if it opened
  * the bucket). Batches arrive in doc_id order (the staged replay's
  * mtime contract, same assumption as [[SessionizeProcessor]]) and rows
  * sort within a batch, so "occupant" = min smaller-id doc in the bucket
  * — exactly the batch banding's candidate predicate, which is what
  * makes the replay exactly oracle-able. State is one Long per occupied
  * bucket; a production deployment bounds the dedup horizon with a
  * TTLConfig on this state (drop-vs-keep then depends only on docs
  * inside the horizon), which changes retention, not the per-arrival
  * logic. */
class NearDupProcessor
    extends StatefulProcessor[(Long, String), NDEvent, NDOut] {
  @transient private var st: org.apache.spark.sql.streaming.ValueState[Long] = _
  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    st = getHandle.getValueState[Long]("minDoc",
      Encoders.scalaLong, TTLConfig.NONE)
  override def handleInputRows(key: (Long, String), rows: Iterator[NDEvent],
      tv: TimerValues): Iterator[NDOut] = {
    val sorted = rows.toIndexedSeq.sortBy(_.doc_id)
    var cur = if (st.exists()) st.get() else -1L
    val out = sorted.map { e =>
      val prior = if (cur >= 0L && cur < e.doc_id) cur else -1L
      cur = if (cur < 0L) e.doc_id else math.min(cur, e.doc_id)
      NDOut(e.doc_id, e.band, prior)
    }
    st.update(cur)
    out.iterator
  }
}

case class SprtEvent(event_type: String, us: Long, dayi: Long, succ: Long)
case class SprtOut(event_type: String, dayi: Long, cum_n: Long, cum_k: Long)

/** Wald's SPRT live on the stream — the always-valid sequential monitor
  * enforced where it belongs, on arrival: per type the running
  * (trials, successes) pair rides one ValueState, each event emits the
  * post-update cumulants tagged with its day, and the post-replay
  * rollup takes each day's LAST cumulants (max — the running counts
  * are monotone) before computing the LLR verdicts. Rows sort by event
  * time within a batch and the staged replay is event-time-ordered
  * across batches, so the per-day finals are batch-boundary-invariant
  * — which is why the stream shares the batch agg_sprt oracle
  * VERBATIM (the stream_page_hinkley discipline). */
class SprtProcessor
    extends StatefulProcessor[String, SprtEvent, SprtOut] {
  @transient private var st:
    org.apache.spark.sql.streaming.ValueState[(Long, Long)] = _
  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    st = getHandle.getValueState[(Long, Long)]("cums",
      Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong), TTLConfig.NONE)
  override def handleInputRows(key: String, rows: Iterator[SprtEvent],
      tv: TimerValues): Iterator[SprtOut] = {
    val sorted = rows.toIndexedSeq.sortBy(e => (e.us, e.dayi))
    var (n, k) = if (st.exists()) st.get() else (0L, 0L)
    val out = sorted.map { e =>
      n += 1L; k += e.succ
      SprtOut(e.event_type, e.dayi, n, k)
    }
    st.update((n, k))
    out.iterator
  }
}

case class SrmEvent(event_type: String, user_id: Long, us: Long, dayi: Long)
case class SrmOut(event_type: String, dayi: Long, arm: Long)

/** First-sight detector behind the streaming SRM guardrail — one Boolean
  * of RocksDB state per (type, user) (the stream_dedup state
  * discipline): a key emits exactly one row, tagged with the day of its
  * first arrival. Batches ride the staged replay's event-time order and
  * the batch minimum is taken explicitly, so first-sight day == the
  * batch MIN(day) — what makes the running rollup exactly oracle-able. */
class SrmFirstSeen
    extends StatefulProcessor[(String, Long), SrmEvent, SrmOut] {
  @transient private var seen:
    org.apache.spark.sql.streaming.ValueState[Boolean] = _
  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    seen = getHandle.getValueState[Boolean]("seen",
      Encoders.scalaBoolean, TTLConfig.NONE)
  override def handleInputRows(key: (String, Long),
      rows: Iterator[SrmEvent], tv: TimerValues): Iterator[SrmOut] = {
    if (seen.exists()) Iterator.empty
    else {
      val first = rows.minBy(_.us)
      seen.update(true)
      Iterator.single(SrmOut(key._1, first.dayi, key._2 % 2))
    }
  }
}

case class EwmaEvent(user_id: Long, us: Long, event_id: Long, value: Double)
case class EwmaOut(user_id: Long, n: Long, ewma: Double)

/** Per-user EWMA (α=0.2) live on the stream — one (count, accumulator)
  * ValueState per user, seeded with the user's first value exactly like
  * the batch fold, each batch emitting the running final so the rollup
  * keeps the row with the highest monotone count. The double chain is
  * order-sensitive, so rows sort by (event time, event_id) within the
  * batch and ride the staged replay's event-time file order across
  * batches — the two assumptions that make the stream hash-match the
  * batch ts_ewma oracle verbatim. */
class EwmaProcessor
    extends StatefulProcessor[Long, EwmaEvent, EwmaOut] {
  @transient private var st:
    org.apache.spark.sql.streaming.ValueState[(Long, Double)] = _
  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    st = getHandle.getValueState[(Long, Double)]("acc",
      Encoders.tuple(Encoders.scalaLong, Encoders.scalaDouble), TTLConfig.NONE)
  override def handleInputRows(key: Long, rows: Iterator[EwmaEvent],
      tv: TimerValues): Iterator[EwmaOut] = {
    val sorted = rows.toIndexedSeq.sortBy(e => (e.us, e.event_id))
    var (n, acc) = if (st.exists()) st.get() else (0L, 0.0)
    sorted.foreach { e =>
      acc = if (n == 0L) e.value else 0.2 * e.value + 0.8 * acc
      n += 1L
    }
    st.update((n, acc))
    Iterator.single(EwmaOut(key, n, acc))
  }
}

case class GapEvent(user_id: Long, us: Long, event_id: Long)
case class GapOut(user_id: Long, prev_us: Long, us: Long)

/** Live sensor-dropout detector behind the streaming gap monitor — ONE
  * Long of state per user (the last-seen event time): a gap over the
  * 2-hour threshold emits the moment the closing event arrives, exactly
  * the batch `ts_gap_detect` lag-window rows (which is why the twin
  * shares that oracle VERBATIM). The alert a maintenance pipeline wants
  * live, not at the nightly rollup. */
class GapProcessor
    extends StatefulProcessor[Long, GapEvent, GapOut] {
  @transient private var st:
    org.apache.spark.sql.streaming.ValueState[Long] = _
  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    st = getHandle.getValueState[Long]("last_us",
      Encoders.scalaLong, TTLConfig.NONE)
  override def handleInputRows(key: Long, rows: Iterator[GapEvent],
      tv: TimerValues): Iterator[GapOut] = {
    val sorted = rows.toIndexedSeq.sortBy(e => (e.us, e.event_id))
    var last = if (st.exists()) st.get() else Long.MinValue
    val out = scala.collection.mutable.ArrayBuffer[GapOut]()
    sorted.foreach { e =>
      if (last != Long.MinValue && e.us - last > 7200000000L)
        out += GapOut(key, last, e.us)
      last = e.us
    }
    st.update(last)
    out.iterator
  }
}

case class DrawEvent(user_id: Long, us: Long, event_id: Long, c: Long)
case class DrawOut(user_id: Long, event_id: Long, c: Long, peak_c: Long)

/** Live per-user running-peak tracker behind the streaming drawdown
  * monitor — ONE Long of state per user: rows ride the staged replay's
  * event-time order (sorted per batch on (us, event_id), state carries
  * the peak across batches), each event emits its running peak, and the
  * post-stream projection divides to currency — so the output is
  * row-for-row the batch `ts_drawdown` window, which is why the twin
  * shares that oracle VERBATIM. */
class DrawdownProcessor
    extends StatefulProcessor[Long, DrawEvent, DrawOut] {
  @transient private var st:
    org.apache.spark.sql.streaming.ValueState[Long] = _
  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    st = getHandle.getValueState[Long]("peak",
      Encoders.scalaLong, TTLConfig.NONE)
  override def handleInputRows(key: Long, rows: Iterator[DrawEvent],
      tv: TimerValues): Iterator[DrawOut] = {
    val sorted = rows.toIndexedSeq.sortBy(e => (e.us, e.event_id))
    var peak = if (st.exists()) st.get() else Long.MinValue
    val out = sorted.map { e =>
      if (e.c > peak) peak = e.c
      DrawOut(key, e.event_id, e.c, peak)
    }
    st.update(peak)
    out.iterator
  }
}

case class PsiEvent(event_type: String, us: Long, event_id: Long,
  band: Long, dayi: Long)
case class PsiState(counts: Array[Long], curDay: Long)
case class PsiSnap(event_type: String, dayi: Long, band: Long, cnt: Long)

/** Live band-histogram tracker behind the streaming PSI drift monitor —
  * ten Longs of state per event type: rows ride the staged replay's
  * event-time order, a day boundary closes the previous day with a
  * 10-band cumulative snapshot, and each batch also emits the current
  * (possibly partial) day — the epilogue keeps the LAST emission per
  * (type, day, band) (counts are monotone, max = final), so every
  * observed day ends with its exact cumulative histogram and the PSI
  * trajectory is exactly oracle-able. */
class PsiBandTracker
    extends StatefulProcessor[String, PsiEvent, PsiSnap] {
  @transient private var st:
    org.apache.spark.sql.streaming.ValueState[PsiState] = _
  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    st = getHandle.getValueState[PsiState]("bands",
      Encoders.product[PsiState], TTLConfig.NONE)
  override def handleInputRows(key: String, rows: Iterator[PsiEvent],
      tv: TimerValues): Iterator[PsiSnap] = {
    val sorted = rows.toIndexedSeq.sortBy(e => (e.us, e.event_id))
    var cur = if (st.exists()) st.get()
      else PsiState(Array.fill(10)(0L), Long.MinValue)
    val out = scala.collection.mutable.ArrayBuffer[PsiSnap]()
    def snap(day: Long): Unit =
      (0 until 10).foreach(b =>
        out += PsiSnap(key, day, b.toLong, cur.counts(b)))
    sorted.foreach { e =>
      if (cur.curDay != Long.MinValue && e.dayi > cur.curDay)
        snap(cur.curDay)
      cur = PsiState(cur.counts, e.dayi)
      cur.counts(e.band.toInt) += 1L
    }
    if (cur.curDay != Long.MinValue) snap(cur.curDay)
    st.update(cur)
    out.iterator
  }
}

case class QuotaEvent(doc_id: Long, source: String, n_tokens: Long)
case class QuotaOut(doc_id: Long, source: String, n_tokens: Long,
  cum_tokens: Long, admitted: Boolean)

/** Streaming per-source token-quota admission — the crawl-ingest budget
  * enforcer: each source's ValueState carries its running arrived-token
  * total, and a document is admitted while the running total (including
  * itself) stays within the fixed budget — the prefix-quota rule, whose
  * verdict depends only on arrival ORDER (the staged replay's doc_id
  * contract), not on batch boundaries, which is what makes the stream
  * exactly oracle-able as a per-source window cumsum. State is one Long
  * per source regardless of corpus size. */
object TokenQuotaProcessor { val BudgetTokens = 2000L }
class TokenQuotaProcessor
    extends StatefulProcessor[String, QuotaEvent, QuotaOut] {
  @transient private var st: org.apache.spark.sql.streaming.ValueState[Long] = _
  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    st = getHandle.getValueState[Long]("cumTokens",
      Encoders.scalaLong, TTLConfig.NONE)
  override def handleInputRows(key: String, rows: Iterator[QuotaEvent],
      tv: TimerValues): Iterator[QuotaOut] = {
    val sorted = rows.toIndexedSeq.sortBy(_.doc_id)
    var cum = if (st.exists()) st.get() else 0L
    val out = sorted.map { e =>
      cum += e.n_tokens
      QuotaOut(e.doc_id, e.source, e.n_tokens, cum,
        cum <= TokenQuotaProcessor.BudgetTokens)
    }
    st.update(cum)
    out.iterator
  }
}

case class IdleEvent(user_id: Long, ts: java.sql.Timestamp)
case class IdleAlert(user_id: Long, idle_since_us: Long)

/** Event-time TIMER processor (the one transformWithState feature the rest
  * of §2.9 doesn't exercise): alert when a user goes idle for >30 min of
  * EVENT time. Two emission paths produce ONE deterministic set:
  *
  *  - data path: a gap >30 min between consecutive arrivals emits the
  *    alert immediately (event time has provably passed — no watermark
  *    wait needed);
  *  - timer path: each arrival re-registers an event-time timer at
  *    last_ts+30 min; when the WATERMARK passes it (including the extra
  *    no-data batch Spark runs for pending timers after AvailableNow
  *    drains — TransformWithStateExec.shouldRunAnotherBatch), the trailing
  *    idle fires. A timer that races a same-batch arrival at worst
  *    duplicates the data-path alert VALUE-identically (the alert is a
  *    pure function of last_ts), so a final distinct() makes the union
  *    independent of batch boundaries — that invariance is what makes the
  *    query exactly oracle-able: gaps come from lag(), trailing idles from
  *    last_ts+30min <= final watermark (= max ts − 10 min).
  *
  * The alert value is computed from the µs STATE, not the ms timer expiry,
  * so timer granularity cannot truncate it. */
class IdleTimeoutProcessor extends StatefulProcessor[Long, IdleEvent, IdleAlert] {
  private val IdleUs = 1800000000L
  @transient private var last: org.apache.spark.sql.streaming.ValueState[Long] = _
  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    last = getHandle.getValueState[Long]("last_us", Encoders.scalaLong,
      TTLConfig.NONE)
  override def handleInputRows(key: Long, rows: Iterator[IdleEvent],
      tv: TimerValues): Iterator[IdleAlert] = {
    val sorted = rows.map(e => micros(e.ts)).toIndexedSeq.sorted
    var out = List.empty[IdleAlert]
    var cur = if (last.exists()) Some(last.get()) else None
    // only the PREVIOUS batch's last event ever registered a timer —
    // intra-batch predecessors never did, so delete exactly that one
    cur.foreach(p => getHandle.deleteTimer(p / 1000 + IdleUs / 1000))
    for (t <- sorted) {
      cur.foreach(p => if (t - p > IdleUs) out ::= IdleAlert(key, p))
      cur = Some(t)
    }
    cur.foreach { p =>
      last.update(p)
      getHandle.registerTimer(p / 1000 + IdleUs / 1000)
    }
    out.reverseIterator
  }
  override def handleExpiredTimer(key: Long, tv: TimerValues,
      info: org.apache.spark.sql.streaming.ExpiredTimerInfo): Iterator[IdleAlert] = {
    // fire only for the CURRENT last event — stale timers are deleted on
    // arrival, but a same-batch race is still value-identical by
    // construction (distinct() downstream)
    if (last.exists() &&
        last.get() / 1000 + IdleUs / 1000 == info.getExpiryTimeInMs)
      Iterator.single(IdleAlert(key, last.get()))
    else Iterator.empty
  }
}

/** SURVEY.md §2.9 — Structured Streaming over a replay of the `events`
  * table.
  *
  * Ingest simulation: events are split into 8 time-range parquet files
  * written SEQUENTIALLY (strictly increasing mtimes), so the file stream
  * source batches them in event-time order — watermarks then advance
  * deterministically batch over batch. Every query runs a REAL streaming
  * pipeline (readStream → transform → writeStream, Trigger.AvailableNow)
  * and returns the sink contents.
  *
  * Runner contract: every memory-sinked replay goes through [[runStream]],
  * the only code here that names a sink and starts a query. It builds the
  * streaming frame inside one [[U.withConfs]] scope (replay shuffle width,
  * changelog checkpointing, the query's state-store posture), unloads the
  * state-store providers inside that scope after the query ends, and
  * records [[lastReplayNote]]. The three non-memory sinks (custom DSv2
  * sink, foreachBatch upsert, parquet file sink) keep their own writers
  * and record their note through the same [[awaitReplay]]; the two
  * stateful-capable ones run in the same [[replayScope]]. Staged
  * input comes from the one writer [[stageRanges]].
  *
  * Four queries are deterministic regardless of micro-batch boundaries and
  * carry DuckDB oracles (complete-mode sliding agg; dedup-within-watermark
  * whose kept-row is value-identical either way; flatMapGroupsWithState
  * running totals, which hash-match a batch window-function query; a
  * stream-static join). The append-mode watermark queries (tumbling,
  * session) emit only watermark-finalized windows; the finalized SET is
  * nevertheless deterministic — it depends only on the final watermark
  * (max event time − delay, reached via the AvailableNow no-data batch) —
  * so round 4 upgraded both to exact oracles (batch aggregate filtered to
  * watermark-closed windows), on top of StreamingSpec's semantics tests.
  */
object StreamingQueries {

  /** Exact µs of an event timestamp: whole seconds from `getTime`, the
    * sub-second part from `getNanos` (`getTime` alone truncates to ms). */
  private[graft] def micros(t: java.sql.Timestamp): Long =
    (t.getTime / 1000) * 1000000L + t.getNanos / 1000

  private val nameCounter = new AtomicInteger(0)
  private val prepared = scala.collection.mutable.Set[String]()

  /** Allocate a memory-sink table name AND evict stale sinks: a memory
    * sink pins its rows in the driver for the session's lifetime, so a
    * 552-query bench (3 runs each) accumulates hundreds of dead
    * 10⁴-10⁵-row tables — measured as streaming replays getting SLOWER
    * run-over-run in one JVM (r12: stream_session triple [2.44, 5.24,
    * 4.79] with run 1 the fastest — heap pressure, not state). Every
    * declared query consumes its sink table immediately (count / parquet
    * dump / collect), so only the 4 most recent are kept live. */
  private val sinkNames = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  private def newSinkName(s: SparkSession): String = {
    val name = s"graft_sink_${nameCounter.incrementAndGet()}"
    sinkNames.add(name)
    while (sinkNames.size > 4) {
      val old = sinkNames.poll()
      if (old != null)
        try s.catalog.dropTempView(old) catch { case _: Throwable => }
    }
    name
  }

  /** The one staging writer: split `frame` into 8 sequentially-written
    * `rangeCol`-range files per pass into `dir` (once per JVM per dir, and
    * across JVMs once `marker` exists), each file stamped with a strictly
    * increasing mtime, so the file stream source replays the slices in
    * range order. The marker is versioned: a dir written from a superseded
    * fixture layout (nanos-era events, pre-explicit-mtime ordering) lacks
    * the current marker and is rebuilt rather than replayed stale.
    * `frame` is by name: an already-staged dir costs no table read. */
  private[graft] def stageRanges(s: SparkSession, frame: => DataFrame,
      rangeCol: Column, dir: String, passes: Int, marker: String)
      : String = synchronized {
    val markerPath = Paths.get(dir, marker)
    if (!prepared.contains(dir) && Files.exists(markerPath)) prepared += dir
    if (!prepared.contains(dir)) {
      val src = frame
      val bounds = src.agg(min(rangeCol).cast(LongType),
        max(rangeCol).cast(LongType)).head()
      val (lo, hi) = (bounds.getLong(0), bounds.getLong(1) + 1)
      val step = math.max((hi - lo) / 8, 1L)
      val fs = org.apache.hadoop.fs.FileSystem.get(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(dir), true)
      // Range-ordered replay requires strictly increasing mtimes, but fast
      // sequential writes can land in the same filesystem-timestamp tick
      // and FileStreamSource breaks ties by (random) part-file name — so
      // stamp each slice's new files with an explicit increasing mtime.
      var seq = 0
      val stamped = scala.collection.mutable.Set[String]()
      for (_ <- 0 until passes; i <- 0 until 8) {
        val loB = lo + i * step
        val hiB = if (i == 7) hi else lo + (i + 1) * step
        src.filter(rangeCol >= loB && rangeCol < hiB)
          .coalesce(1).write.mode("append").parquet(dir)
        val fresh = fs.listStatus(new org.apache.hadoop.fs.Path(dir))
          .filter(f => f.getPath.getName.startsWith("part-") &&
            !stamped.contains(f.getPath.getName))
          .sortBy(_.getPath.getName)
        for (f <- fresh) {
          fs.setTimes(f.getPath, 1600000000000L + seq * 1000L, -1L)
          stamped += f.getPath.getName
          seq += 1
        }
      }
      // marker makes the staging reusable across JVMs (Verify, Bench, tests
      // all replay the same deterministic files with their original mtimes)
      Files.createFile(markerPath)
      prepared += dir
    }
    dir
  }

  /** Events staged by event time; `doubled` writes every slice twice (16
    * files: each event arrives twice, for the dedup replay). */
  private def stagedEvents(s: SparkSession, d: String, doubled: Boolean): DataFrame =
    replaySource(s, stageRanges(s, U.events(s, d), unix_micros(col("ts")),
      U.scratch(d, if (doubled) "stream_events_x2" else "stream_events"),
      if (doubled) 2 else 1, "_GRAFT_STAGED_v3"))

  /** Documents staged by doc_id — the doc_id-ordered replay whose "first
    * bucket occupant = min id" contract the near-dup stream rides. */
  private def stageDocs(s: SparkSession, d: String): String =
    stageRanges(s, U.tbl(s, d, "documents"), col("doc_id"),
      U.scratch(d, "stream_docs"), 1, "_GRAFT_STAGED_v1")

  /** Every replay reads its staged dir at 4 files per trigger (2
    * micro-batches over the 8 slices): each query here is batch-boundary-
    * independent — stateless, complete-mode, keyed state over an
    * order-preserving replay, or append-mode windows that finalize only
    * on the FINAL watermark — so fewer batches means fewer state-store
    * commit rounds at the same result. StreamingSpec exercises watermark
    * finalization at fine batching with MemoryStream instead. */
  private val FilesPerTrigger = 4

  /** Streaming source over a staged dir — one definition so every query
    * (memory- or file-sinked) gets identical micro-batching. */
  private val stagedSchemas =
    scala.collection.mutable.Map[String, org.apache.spark.sql.types.StructType]()
  private def replaySource(s: SparkSession, dir: String): DataFrame = {
    // footer-derived schema cached per staged dir: the staging is immutable
    // once its marker exists, and re-inferring it costs a driver-side footer
    // read per SOURCE per query run (the two-source joins paid it twice)
    val schema = synchronized {
      stagedSchemas.getOrElseUpdate(dir, s.read.parquet(dir).schema)
    }
    s.readStream.schema(schema)
      .option("maxFilesPerTrigger", FilesPerTrigger.toString).parquet(dir)
  }

  /** State-store postures a replay runs under, as the confs that set them:
    * the session's default store; RocksDB (which `transformWithState`
    * requires); RocksDB with the stream-stream JOIN state in ONE store per
    * partition (virtual column families, state format v3) instead of
    * format v2's four — the commit rounds per batch per partition drop 4x,
    * the dominant cost of the two stream-stream joins. Persistence format
    * only (the keyToNumValues / keyWithIndexToValue layout inside the
    * store is unchanged), results byte-identical — oracle re-proven at all
    * three SFs. */
  private val DefaultStore = Seq.empty[(String, String)]
  private val RocksDb = Seq("spark.sql.streaming.stateStore.providerClass" ->
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
  private val RocksDbJoinV3 =
    RocksDb :+ ("spark.sql.streaming.join.stateFormatVersion" -> "3")

  /** Shuffle width of every replay: a state-store instance is committed
    * PER shuffle partition PER micro-batch, and at local replay scale
    * those commit rounds dominate wall-clock (the data per batch is tiny).
    * 4 partitions cuts the fixed cost 8× vs the session's 32 without
    * changing any result (hash partitioning is key-exact at any width —
    * r9 re-measured 8 → 4: same oracle rows, ~35% less family wall-clock).
    * A production deployment sizes this knob to cluster cores × state
    * volume instead — it is per-pipeline, not global. */
  private val ReplayPartitions = 4

  /** Run `body` (one replay) in the replay's conf scope: [[ReplayPartitions]]
    * shuffle width, RocksDB changelog checkpointing, and the `store`
    * posture, all restored by [[U.withConfs]]; the state-store providers
    * are unloaded inside the scope once `body` ends.
    *
    * r15 measured: CHANGELOG checkpointing makes a commit write a
    * changelog instead of uploading a full snapshot per (operator,
    * partition, batch) — family subset 66.3 → 60.0 s at sf0.1,
    * stream_hysteresis −2.4 s, stream_psi's tiny per-type state ~400 ms
    * per full-snapshot commit round (8 rounds = 3.1 s); the production-
    * recommended RocksDB posture at any scale, persistence format only,
    * results byte-identical — 30/30 oracle PASS. Two further knobs were
    * measured and REJECTED: partitions 4 → 2 (66.3 → 69.0 s — commit
    * rounds are already latency-bound at 4) and
    * rocksdb.trackTotalNumberOfRows=false (37.1 → 43.1 s on the TWS
    * subset, no win worth the lost state-row metrics).
    *
    * r16 measured: a terminated replay only DEACTIVATES its state-store
    * providers; the unload (RocksDB close + working-dir delete) waits for
    * the 60 s maintenance cycle, so back-to-back replays pile up dead
    * providers until the cycle fires an unload/snapshot storm mid-bench
    * (subset A/B: the family's late-alphabet queries ran 3-7x their
    * isolated cost exactly once the first cycle landed). Unloading eagerly
    * after each replay keeps the cost inside the query that incurred it; a
    * provider a LIVE query still needs would simply be reloaded from its
    * checkpoint (the executor-loss path), so this is safe at any
    * concurrency. */
  private def replayScope[T](s: SparkSession,
      store: Seq[(String, String)] = DefaultStore)(body: => T): T =
    U.withConfs(s, Seq(
        "spark.sql.shuffle.partitions" -> ReplayPartitions.toString,
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" ->
          "true") ++ store: _*) {
      try body
      finally
        try org.apache.spark.sql.graftbridge.Bridge.unloadStateStores()
        catch { case _: Throwable => }
    }

  /** Cost-attribution note for the LAST replay (printed by
    * [[graft.Probe]], backs BASELINE.md's BENCH-NOTES): micro-batch
    * count, stateful-operator count, and the summed state-store commit /
    * update wall-clock across all batches. The replay's fixed cost is
    * batches × stateOps × shufflePartitions state-store commit rounds —
    * inherent micro-batch overhead, not a plan defect. */
  private[graft] var lastReplayNote: String = ""

  /** Run a started replay `q` to completion and record its
    * [[lastReplayNote]] — every replay, whatever its sink, ends here. */
  private def awaitReplay(q: StreamingQuery): Unit = {
    q.awaitTermination()
    val prog = q.recentProgress
    val stateOps = prog.lastOption.map(_.stateOperators.length).getOrElse(0)
    lastReplayNote = s"batches=${prog.length} stateOps=$stateOps " +
      s"commitRounds=${prog.length * stateOps * ReplayPartitions} " +
      s"stateCommitMs=${prog.flatMap(_.stateOperators.map(_.commitTimeMs)).sum} " +
      s"stateUpdateMs=${prog.flatMap(_.stateOperators.map(_.allUpdatesTimeMs)).sum} " +
      s"batchDurationMs=${prog.map(_.batchDuration).sum}"
  }

  /** The one memory-sink runner: build `stream` in [[replayScope]], run it
    * to completion (Trigger.AvailableNow) through [[awaitReplay]] and
    * return the sink table. */
  private def runStream(s: SparkSession, mode: String,
      store: Seq[(String, String)] = DefaultStore)
      (stream: => DataFrame): DataFrame = replayScope(s, store) {
    val name = newSinkName(s)
    awaitReplay(stream.writeStream.outputMode(mode)
      .format("memory").queryName(name)
      .trigger(Trigger.AvailableNow()).start())
    s.table(name)
  }

  /** [[runStream]] over the staged events replay. */
  private def replayEvents(s: SparkSession, d: String, mode: String,
      store: Seq[(String, String)] = DefaultStore, doubled: Boolean = false)
      (build: DataFrame => DataFrame): DataFrame =
    runStream(s, mode, store)(build(stagedEvents(s, d, doubled)))

  /** Append-mode tumbling window + 10-minute watermark: only finalized
    * windows are emitted; late-vs-watermark semantics asserted in tests. */
  private def tumblingWatermark(s: SparkSession, d: String): DataFrame =
    // 4 files/trigger: the emitted set is exactly the windows below the
    // FINAL watermark (AvailableNow's no-data batch), so the oracle rows
    // are trigger-count-invariant; StreamingSpec exercises finalization
    // semantics at fine batching with MemoryStream instead
    replayEvents(s, d, "append") { in =>
      in.withWatermark("ts", "10 minutes")
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"), U.dsum(col("value")).as("sum_value"))
    }.select(col("window.start").as("wstart"), col("event_type"), col("n"),
      col("sum_value"))
      .orderBy("wstart", "event_type")

  /** UNION of two independently filtered branches of the replay feeding
    * ONE windowed stateful aggregation — the multi-source merge every
    * ingestion topology runs (two topics, one rollup). Spark unions the
    * branches INSIDE the micro-batch plan, the watermark advances on the
    * MERGED event time (max ts observed across the union, not the raw
    * stream), and a window finalizes once that merged watermark passes its
    * end. 4 files/batch: the staged replay is event-time-ordered, so
    * finalization depends only on the FINAL watermark and batch boundaries
    * cannot perturb the result. Oracle: the batch union aggregate filtered
    * to watermark-closed windows over the UNION's own max ts. */
  private def streamUnion(s: SparkSession, d: String): DataFrame =
    replayEvents(s, d, "append") { in =>
      val clicks = in.filter(col("event_type") === "click")
        .select(col("ts"), lit("clicks").as("branch"), col("value"))
      val purchases = in.filter(col("event_type") === "purchase")
        .select(col("ts"), lit("purchases").as("branch"), col("value"))
      clicks.unionByName(purchases)
        .withWatermark("ts", "10 minutes")
        .groupBy(window(col("ts"), "1 hour"), col("branch"))
        .agg(count(lit(1)).as("n"), U.dsum(col("value")).as("sum_value"))
    }.select(col("window.start").as("wstart"), col("branch"), col("n"),
      col("sum_value"))
      .orderBy("wstart", "branch")

  /** Chained stateful operators (Spark 4 multi-stateful append support):
    * 15-minute tumbling counts re-aggregated into hourly rollups — the
    * two-tier streaming aggregation every metrics pipeline runs. The inner
    * window's event-time column (window_time = window.end − 1µs) feeds the
    * outer window, and watermark finalization cascades: an hourly row
    * emits once the watermark passes its end, fed by exactly its four
    * finalized quarter-hours. Both finalized sets depend only on the FINAL
    * watermark, so the accumulated sink is exactly the batch double
    * aggregate filtered to watermark-closed hours (empirically pinned —
    * the end-of-stream no-data batches flush both operators). */
  private def chainedAgg(s: SparkSession, d: String): DataFrame =
    // 4 files/batch: the staged replay is event-time-ordered across files,
    // so no row is ever late and the finalized sets depend only on the
    // FINAL watermark — batch boundaries can't perturb the result, and the
    // two stacked stateful operators pay half the state-commit rounds.
    replayEvents(s, d, "append") { in =>
      // NO second withWatermark: the window column keeps its event-time
      // metadata through the agg, and window_time() carries it into the
      // outer window. (A re-watermark on the derived column creates a
      // second watermark node that never observes raw data, which pins the
      // query's global watermark at epoch and deadlocks BOTH tiers —
      // measured: 0 rows emitted.)
      in.withWatermark("ts", "10 minutes")
        .groupBy(window(col("ts"), "15 minutes"))
        .agg(count(lit(1)).as("n"), sum(U.cents(col("value"))).as("cents"))
        .groupBy(window(window_time(col("window")), "1 hour"))
        .agg(sum(col("n")).as("n"), count(lit(1)).as("n_quarters"),
          sum(col("cents")).as("cents"))
    }.select(col("window.start").as("hstart"), col("n"), col("n_quarters"),
      (col("cents").cast(DoubleType) / lit(100.0)).as("sum_value"))
      .orderBy("hstart")

  /** The replay written through the custom DSv2 STREAMING sink
    * ([[graft.sources.StatsSink]]'s StreamingWrite path): per-task partials
    * commit per EPOCH, keyed by epoch id so retries replace rather than
    * double-count — the idempotent-commit half of streaming exactly-once,
    * demonstrated on our own connector. Totals across epochs equal the
    * plain batch aggregate. */
  private def customSinkStream(s: SparkSession, d: String): DataFrame = replayScope(s) {
    val run = s"stream_${d.replaceAll("[^A-Za-z0-9.]", "_")}"
    // fresh accumulator per JVM run (epochs of an earlier same-tag run in
    // THIS JVM would otherwise leak into the total)
    StatsSink.epochs.keySet.removeIf(_._1 == run)
    // a stale checkpoint would make AvailableNow replay nothing in THIS JVM
    // and leave the epoch accumulator empty — always start from a clean one
    val ckDir = U.scratch(d, "custom_sink_ckpt")
    org.apache.hadoop.fs.FileSystem.get(s.sparkContext.hadoopConfiguration)
      .delete(new org.apache.hadoop.fs.Path(ckDir), true)
    val q = stagedEvents(s, d, doubled = false)
      .select(col("event_id").as("id"), U.cents(col("value")).as("cents"))
      .writeStream
      .format("graft.sources.StatsSink")
      .option("run", run)
      .option("checkpointLocation", ckDir)
      .outputMode("append")
      .trigger(Trigger.AvailableNow()).start()
    awaitReplay(q)
    val (n, sum) = StatsSink.streamedTotal(run)
    import s.implicits._
    Seq((n, sum)).toDF("n_rows", "sum_cents")
  }

  /** The streaming pipeline COMPOSED: watermarked dedup → broadcast static
    * enrich → tumbling append aggregation, chained in one query (dedup and
    * agg are both stateful — Spark 4 multi-stateful append). The replay has
    * no duplicate event_ids, so dedup passes rows through while its state
    * machinery runs for real; the finalized-window emission follows the
    * same final-watermark cutoff as [[tumblingWatermark]], making the whole
    * chain exactly oracle-able. */
  private def streamPipeline(s: SparkSession, d: String): DataFrame = {
    val types = U.events(s, d).select(col("event_type")).distinct()
      .withColumn("type_code",
        row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(col("event_type"))).cast(LongType))
      .withColumnRenamed("event_type", "et")
    // 4 files/trigger: event_ids are unique in the undoubled replay so the
    // watermark-dedup is an identity; downstream windows finalize on the
    // final watermark — trigger-count-invariant like tumblingWatermark
    replayEvents(s, d, "append") { in =>
      in.withWatermark("ts", "10 minutes")
        .dropDuplicatesWithinWatermark(Seq("event_id"))
        .join(broadcast(types), col("event_type") === col("et"))
        .groupBy(window(col("ts"), "1 hour"), col("type_code"))
        .agg(count(lit(1)).as("n"), sum(U.cents(col("value"))).as("cents"))
    }.select(col("window.start").as("wstart"), col("type_code"), col("n"),
      (col("cents").cast(DoubleType) / lit(100.0)).as("sum_value"))
      .orderBy("wstart", "type_code")
  }

  /** Complete-mode sliding window — final state equals the batch answer, so
    * it carries a full oracle. */
  private def slidingComplete(s: SparkSession, d: String): DataFrame =
    // complete mode: final state = the batch answer at ANY batching => 4
    replayEvents(s, d, "complete") { in =>
      in.groupBy(window(col("ts"), "1 hour", "15 minutes"))
        .agg(count(lit(1)).as("n"), U.dsum(col("value")).as("sum_value"))
    }.select(col("window.start").as("wstart"), col("n"), col("sum_value"))
      .orderBy("wstart")

  /** Append-mode session windows (30-minute gap) with watermark.
    * 4 files/trigger — emitted sessions are those closed by the FINAL
    * watermark, trigger-count-invariant like [[tumblingWatermark]]. */
  private def sessionWindows(s: SparkSession, d: String): DataFrame =
    replayEvents(s, d, "append") { in =>
      in.withWatermark("ts", "10 minutes")
        .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n_events"), U.dsum(col("value")).as("sum_value"))
    }.select(col("session_window.start").as("sstart"),
      col("session_window.end").as("send"), col("user_id"), col("n_events"),
      col("sum_value"))
      .orderBy("user_id", "sstart")

  /** Dedup within watermark over a DOUBLED replay (every event arrives
    * twice): kept rows are value-identical whichever copy wins, so the
    * result oracles to plain SELECT * FROM events. */
  private def dedupStream(s: SparkSession, d: String): DataFrame =
    replayEvents(s, d, "append", doubled = true) { in =>
      // 60-day delay > the 30-day event span: no state eviction, exact dedup
      // (kept rows value-identical whichever copy wins => 4 files/batch safe)
      in.withWatermark("ts", "60 days")
        .dropDuplicatesWithinWatermark("event_id")
    }.orderBy("event_id")

  /** Custom per-key streaming state: running count + cumulative spend per
    * user via flatMapGroupsWithState. Batches arrive in event-time order
    * (staged files), each batch's group iterator is sorted in the function,
    * so the running totals hash-match a batch window-function oracle. */
  private def statefulRunning(s: SparkSession, d: String): DataFrame =
    // files are time-ranged, the step sorts within each group iterator,
    // state carries across batches => exact at any files/trigger
    replayEvents(s, d, "append") { in =>
      import in.sparkSession.implicits._
      val ds: Dataset[SEvent] = in.select(col("event_id"), col("user_id"),
        col("ts"), graft.U.cents(col("value")).as("cents")).as[SEvent]
      def step(key: Long, it: Iterator[SEvent], st: GroupState[SState]): Iterator[SOut] = {
        val sorted = it.toIndexedSeq.sortBy(e => (e.ts.getTime, e.ts.getNanos, e.event_id))
        var cur = st.getOption.getOrElse(SState(0L, 0L))
        val out = sorted.map { e =>
          cur = SState(cur.n + 1, cur.sum + e.cents)
          SOut(e.event_id, key, cur.n, cur.sum.toDouble / 100.0)
        }
        st.update(cur)
        out.iterator
      }
      ds.groupByKey(_.user_id)
        .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(step)
        .toDF()
    }.orderBy("event_id")

  /** Same running totals through the Spark 4.x `transformWithState` API
    * (ValueState + StatefulProcessor) — requires the RocksDB state store
    * provider, the runner's [[RocksDb]] posture. */
  private def statefulRunningTws(s: SparkSession, d: String): DataFrame =
    replayEvents(s, d, "append", RocksDb) { in =>
      import in.sparkSession.implicits._
      in.select(col("event_id"), col("user_id"), col("ts"),
          graft.U.cents(col("value")).as("cents")).as[SEvent]
        .groupByKey(_.user_id)
        .transformWithState(new RunningTotalsProcessor,
          TimeMode.None(), OutputMode.Append())
        .toDF()
    }.orderBy("event_id")

  /** [[HysteresisProcessor]] end-to-end: the SCADA alarm as a LIVE
    * monitor — per-type thresholds computed batch-side (the static
    * profile a deployment refreshes offline), broadcast into the stream,
    * the latch advanced per (user, type) in custom state. Emits every
    * event's alarm state + onset flag; hash-matches the batch
    * ts_hysteresis query via the SHARED oracle. */
  private def hysteresisTws(s: SparkSession, d: String): DataFrame = {
    val vc = U.cents(col("value"))
    val th = U.events(s, d).groupBy(col("event_type").as("et")).agg(
      floor(percentile(vc, lit(0.75)) * 4).cast(LongType).as("hi_qc"),
      floor(percentile(vc, lit(0.5)) * 4).cast(LongType).as("lo_qc"))
    replayEvents(s, d, "append", RocksDb) { in =>
      import in.sparkSession.implicits._
      in.join(broadcast(th), col("event_type") === col("et"))
        .select(col("event_id"), col("user_id"), col("event_type"), col("ts"),
          (U.cents(col("value")) * 4).as("v4"), col("hi_qc"), col("lo_qc"))
        .as[HEvent]
        .groupByKey(e => (e.user_id, e.event_type))
        .transformWithState(new HysteresisProcessor,
          TimeMode.None(), OutputMode.Append())
        .toDF()
    }.orderBy("event_id")
  }

  /** [[PageHinkleyProcessor]] end-to-end: the drift monitor as a live
    * stream, then the SAME per-type rollup as the batch twin — one
    * shared oracle (the stream_cusum discipline). */
  private def pageHinkleyTws(s: SparkSession, d: String): DataFrame =
    replayEvents(s, d, "append", RocksDb) { in =>
      import in.sparkSession.implicits._
      in.select(col("event_id"), col("event_type"), col("ts"),
          U.cents(col("value")).as("vc")).as[PHEvent]
        .groupByKey(_.event_type)
        .transformWithState(new PageHinkleyProcessor,
          TimeMode.None(), OutputMode.Append())
        .toDF()
    }.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("exc") > 300000000000L, 1L).otherwise(0L))
          .as("n_alarms"),
        min(when(col("exc") > 300000000000L, col("us")))
          .as("first_alarm_us"),
        max(col("exc")).as("max_excursion_micro"))
      .orderBy("event_type")

  /** [[NearDupProcessor]] end-to-end — near-dup dedup ON THE STREAM, the
    * shape a crawl-ingest pipeline needs: each arriving doc shingles,
    * MinHash-signs and explodes into its 4 LSH band keys per row (all
    * codegen'd expressions, zero pre-shuffle), the stateful operator
    * tracks each bucket's minimum doc_id on RocksDB, and a post-replay
    * rollup folds the 4 band verdicts into one (is_dup, dup_of) row per
    * doc. The result equals the batch dedup_minhash banding predicate
    * applied per doc (min smaller-id bucket-mate), so the stream carries
    * a full DuckDB oracle — the stream_cusum shared-semantics discipline
    * on the documents corpus. */
  private def neardupStream(s: SparkSession, d: String): DataFrame =
    neardupStreamOnDir(s, stageDocs(s, d))

  /** The near-dup replay over ANY doc_id-ordered staged directory — the
    * declared query runs it on the fixture staging; StressSpec drives it
    * at 100k docs with planted dups to prove the state path at size. */
  private[graft] def neardupStreamOnDir(s: SparkSession, dir: String)
      : DataFrame =
    runStream(s, "append", RocksDb) {
      import s.implicits._
      val sigs = replaySource(s, dir)
        .select(col("doc_id"), graft.plans.CustomExprs.shingles3_fast(
          graft.llm.TextUtil.tokens(col("text"))).as("ss"))
        .filter(size(col("ss")) > 0)
        .select(col("doc_id"), graft.plans.CustomExprs.minhash_sigs(
          graft.plans.CustomExprs.poly_hash_array(col("ss"), 13L), 16)
          .as("sigs"))
      val bands = sigs.select(col("doc_id"), explode(array(
          (0 until 4).map(b => struct(lit(b.toLong).as("band"),
            concat_ws(":", (0 until 4).map(r =>
              element_at(col("sigs"), b * 4 + r + 1)): _*).as("bkey"))): _*))
          .as("bb"))
        .select(col("doc_id"), col("bb.band").as("band"),
          col("bb.bkey").as("bkey"))
      bands.as[NDEvent]
        .groupByKey(e => (e.band, e.bkey))
        .transformWithState(new NearDupProcessor,
          TimeMode.None(), OutputMode.Append())
        .toDF()
    }.groupBy(col("doc_id"))
      .agg(sum(when(col("prior") >= 0, 1L).otherwise(0L)).as("n_bands_hit"),
        min(when(col("prior") >= 0, col("prior"))).as("dup_of"))
      .select(col("doc_id"), col("n_bands_hit"),
        (col("n_bands_hit") > 0).as("is_dup"), col("dup_of"))
      .orderBy("doc_id")

  /** [[SprtProcessor]] end-to-end: the sequential test as a live stream,
    * then the SAME daily rollup as the batch twin — one shared oracle. */
  private def sprtTws(s: SparkSession, d: String): DataFrame =
    replayEvents(s, d, "append", RocksDb) { in =>
      import in.sparkSession.implicits._
      in.select(col("event_type"), expr("unix_micros(ts)").as("us"),
          expr("unix_micros(ts) DIV 86400000000").as("dayi"),
          when(graft.U.cents(col("value")) >= 5000L, 1L).otherwise(0L)
            .as("succ"))
        .as[SprtEvent]
        .groupByKey(_.event_type)
        .transformWithState(new SprtProcessor,
          TimeMode.None(), OutputMode.Append())
        .toDF()
    }.groupBy(col("event_type"), col("dayi"))
      .agg(max(col("cum_n")).as("cum_n"), max(col("cum_k")).as("cum_k"))
      .withColumn("llr", col("cum_k").cast("double") * log(lit(0.5) / lit(0.4)) +
        (col("cum_n") - col("cum_k")).cast("double") * log(lit(0.5) / lit(0.6)))
      .select(col("event_type"), col("dayi"), col("cum_n"), col("cum_k"),
        col("llr"),
        when(col("llr") >= log(lit(19.0)), "accept_h1")
          .when(col("llr") <= -log(lit(19.0)), "accept_h0")
          .otherwise("continue").as("decision"))
      .orderBy("event_type", "dayi")

  /** [[TokenQuotaProcessor]] end-to-end: the per-source token budget
    * enforced ON THE STREAM over the staged documents replay (the
    * stream_neardup staging), token counts from the shared whitespace
    * tokenizer, output one admission verdict per document. */
  private def tokenQuotaStream(s: SparkSession, d: String): DataFrame =
    runStream(s, "append", RocksDb) {
      import s.implicits._
      replaySource(s, stageDocs(s, d))
        .select(col("doc_id"), col("source"),
          size(graft.llm.TextUtil.tokens(col("text"))).cast("long")
            .as("n_tokens"))
        .as[QuotaEvent]
        .groupByKey(_.source)
        .transformWithState(new TokenQuotaProcessor,
          TimeMode.None(), OutputMode.Append())
        .toDF()
    }.orderBy("doc_id")

  /** [[CusumProcessor]] end-to-end: the tabular CUSUM recursion as a
    * stateful stream, per-type stats from a batch-side broadcast (the
    * stream-static join every threshold alarm runs), then the SAME
    * per-type rollup as the batch twin — one shared oracle. */
  private def cusumTws(s: SparkSession, d: String): DataFrame = {
    val vc = U.cents(col("value"))
    val stats = U.events(s, d).groupBy(col("event_type").as("et"))
      .agg(count(lit(1)).as("n"), sum(vc).as("sx"))
    replayEvents(s, d, "append", RocksDb) { in =>
      import in.sparkSession.implicits._
      in.join(broadcast(stats), col("event_type") === col("et"))
        .select(col("event_id"), col("event_type"), col("ts"),
          U.cents(col("value")).as("vc"), col("n"), col("sx"))
        .as[CEvent]
        .groupByKey(_.event_type)
        .transformWithState(new CusumProcessor,
          TimeMode.None(), OutputMode.Append())
        .toDF()
    }.groupBy(col("event_type"))
      .agg(max(col("n")).as("n"),
        sum(when(col("hi"), 1L).otherwise(0L)).as("n_alarms_high"),
        sum(when(col("lo"), 1L).otherwise(0L)).as("n_alarms_low"),
        min(when(col("hi"), col("us"))).as("first_high_us"),
        min(when(col("lo"), col("us"))).as("first_low_us"))
      .orderBy("event_type")
  }

  /** [[IdleTimeoutProcessor]] end-to-end: >30-min idle alerts via
    * EVENT-TIME TIMERS under a 10-minute watermark — gaps alert on the
    * next arrival, trailing idles alert when the (ms-granular) watermark
    * passes last+30min, including Spark's extra pending-timer batch after
    * AvailableNow drains. Relies on the staged replay's event-time file
    * order (the [[SessionizeProcessor]] assumption): a timer can never
    * fire before the gap it guards is decidable, because every event in a
    * later file is later than every event before it. Exactly oracle-able:
    * gaps from lag(), trailing idles from the ms-floored watermark
    * arithmetic Spark actually uses (watermark = floor-ms(max ts) −
    * 600000 ms). */
  private def idleTimeoutTws(s: SparkSession, d: String): DataFrame = {
    // 4 files/batch (the family default): the alert set is batch-boundary-
    // invariant by construction — gap alerts are pure functions of
    // consecutive (user, ts) pairs in the event-time-ordered replay, timer
    // alerts of last_ts + the FINAL watermark (the AvailableNow pending-
    // timer batch), and the distinct() absorbs the only race — so halving
    // the batches (r16: 5 -> 3, ~0.45 s/batch at sf0.1) cannot perturb the
    // result; oracle re-proven at all three SFs.
    replayEvents(s, d, "append", RocksDb) { in =>
      import in.sparkSession.implicits._
      in.withWatermark("ts", "10 minutes")
        .select(col("user_id"), col("ts")).as[IdleEvent]
        .groupByKey(_.user_id)
        .transformWithState(new IdleTimeoutProcessor,
          TimeMode.EventTime(), OutputMode.Append())
        .toDF()
    }.distinct() // timer/data race duplicates are value-identical
      .select(col("user_id"),
        timestamp_micros(col("idle_since_us")).as("idle_since"),
        timestamp_micros(col("idle_since_us") + 1800000000L).as("alert_ts"))
      .orderBy("user_id", "idle_since")
  }

  /** [[SessionizeProcessor]] end-to-end: custom-state session windows whose
    * kept emissions reproduce the batch lag-gap sessionization exactly. */
  private def sessionizeTws(s: SparkSession, d: String): DataFrame =
    replayEvents(s, d, "append", RocksDb) { in =>
      import in.sparkSession.implicits._
      in.select(col("event_id"), col("user_id"), col("ts"),
          graft.U.cents(col("value")).as("cents")).as[SEvent]
        .groupByKey(_.user_id)
        .transformWithState(new SessionizeProcessor,
          TimeMode.None(), OutputMode.Append())
        .toDF()
    }.distinct() // a session closed with no growth re-emits its last summary
      .withColumn("rn", row_number().over(org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id"), col("session_id"))
        .orderBy(col("n_events").desc)))
      .filter(col("rn") === 1) // final (= largest) emission per session
      .select(col("user_id"), col("session_id"),
        timestamp_micros(col("start_us")).as("session_start"),
        timestamp_micros(col("end_us")).as("session_end"),
        col("n_events"),
        (col("cents").cast(DoubleType) / 100.0).as("sum_value"))
      .orderBy("user_id", "session_id")

  /** Stream-stream windowed join: clicks joined to the same user's purchases
    * within the following 4 hours — both sides watermarked, time-interval
    * join condition (the flagship two-stream Structured Streaming shape).
    * The 60-day watermark delay exceeds the 30-day replay span, so no state
    * is evicted mid-replay and the inner join emits EXACTLY the batch
    * answer regardless of micro-batch boundaries => full DuckDB oracle.
    * Inner join + no mid-replay eviction => batch-boundary-independent, so
    * the 4-files/batch replay (2 batches) is safe: join state is committed
    * once per batch per partition, the dominant cost. */
  private def streamStreamJoin(s: SparkSession, d: String): DataFrame =
    clickPurchaseJoin(s, d, "60 days", "inner")
      .orderBy("c_event_id", "p_event_id")

  /** Stream-stream LEFT OUTER interval join: same click→purchase pairing as
    * [[streamStreamJoin]], but unmatched clicks are emitted with NULL right
    * columns once the watermark proves no purchase can still arrive — the
    * semantics that make streaming outer joins hard (state eviction = null
    * emission). Determinism: the matched set is batch-boundary-independent,
    * and the null set depends only on the FINAL watermark, so the
    * accumulated sink is exactly oracle-able: null rows are precisely the
    * matchless clicks whose join window [c_ts, c_ts+4 h] closed before the
    * final watermark. The query's watermark is the MIN across both
    * watermark nodes, each computed on its post-filter stream — i.e.
    * min(max click ts, max purchase ts) − 1 h, reached via the AvailableNow
    * end-of-stream no-data batch (verified empirically: the boundary rows
    * moved exactly with the per-type maxima, not the global max). Clicks
    * within ~5 h of stream end stay in state — their window never provably
    * closes — mirrored in the oracle's cutoff. */
  private def streamStreamLeftJoin(s: SparkSession, d: String): DataFrame =
    clickPurchaseJoin(s, d, "1 hour", "left_outer")
      .orderBy(col("c_event_id"), col("p_event_id"))

  /** The two stream-stream joins: each event type is its own source over
    * the staged replay, both watermarked by `delay`, joined on user within
    * [c_ts, c_ts + 4 h]; join state in [[RocksDbJoinV3]]. */
  private def clickPurchaseJoin(s: SparkSession, d: String, delay: String,
      joinType: String): DataFrame = runStream(s, "append", RocksDbJoinV3) {
    val clicks = stagedEvents(s, d, doubled = false)
      .filter(col("event_type") === "click")
      .select(col("event_id").as("c_event_id"), col("user_id").as("c_user"),
        col("ts").as("c_ts"))
      .withWatermark("c_ts", delay)
    val purchases = stagedEvents(s, d, doubled = false)
      .filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_event_id"), col("user_id").as("p_user"),
        col("ts").as("p_ts"), col("value").as("p_value"))
      .withWatermark("p_ts", delay)
    clicks.join(purchases,
        col("c_user") === col("p_user") &&
          col("p_ts") >= col("c_ts") &&
          col("p_ts") <= col("c_ts") + expr("INTERVAL 4 HOURS"), joinType)
      .select(col("c_event_id"), col("p_event_id"), col("c_user").as("user_id"),
        col("c_ts"), col("p_ts"), col("p_value"))
  }

  /** Streaming read through the custom DSv2 connector
    * ([[graft.sources.DeterministicSource]]): the generator's row-id space
    * drains in admission-controlled 5k-row micro-batches (4 batches);
    * complete-mode aggregate => final state equals the batch read => the
    * same generator-arithmetic oracle as scan_custom_source. */
  private def customSourceStream(s: SparkSession, d: String): DataFrame =
    runStream(s, "complete") {
      s.readStream.format("graft.sources.DeterministicSource")
        .option("rows", "20000").option("slices", "8").option("batchRows", "5000")
        .load()
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n"), sum(col("value_cents")).as("sum_cents"))
    }.orderBy("bucket")

  /** foreachBatch upsert sink (the merge pattern every CDC/serving pipeline
    * runs): each micro-batch's per-user latest row merges into a keyed
    * store, keeping the (ts, event_id)-max row per user. The store
    * alternates between two directories per batch — Spark refuses to
    * overwrite a path it is reading, and the swap also gives exactly-once
    * semantics on retry (a re-run of batch N rewrites N's target from N-1's
    * untouched source). Batches replay in event-time order, and the merge
    * picks the max key regardless, so the final store equals the batch
    * latest-per-user answer at ANY batching => full oracle. */
  private def foreachBatchUpsert(s: SparkSession, d: String): DataFrame = replayScope(s) {
    val base = U.scratch(d, s"febatch_${nameCounter.incrementAndGet()}")
    val fs = org.apache.hadoop.fs.FileSystem.get(s.sparkContext.hadoopConfiguration)
    for (i <- 0 to 1)
      fs.delete(new org.apache.hadoop.fs.Path(s"$base/v$i"), true)
    val wLatest = org.apache.spark.sql.expressions.Window.partitionBy(col("user_id"))
      .orderBy(col("ts").desc, col("event_id").desc)
    def latestPerUser(df: DataFrame): DataFrame = df
      .withColumn("rn", row_number().over(wLatest))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("ts"), col("event_id"), col("value"))
    val lastDst = new java.util.concurrent.atomic.AtomicReference[String]()
    val q = stagedEvents(s, d, doubled = false)
      .writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val src = s"$base/v${batchId % 2}"
        val dst = s"$base/v${(batchId + 1) % 2}"
        val incoming = latestPerUser(batch)
        val merged =
          if (fs.exists(new org.apache.hadoop.fs.Path(src)))
            latestPerUser(batch.sparkSession.read.parquet(src).unionByName(incoming))
          else incoming
        merged.write.mode("overwrite").parquet(dst)
        lastDst.set(dst)
      }
      .trigger(Trigger.AvailableNow()).start()
    awaitReplay(q)
    s.read.parquet(lastDst.get()).orderBy("user_id")
  }

  /** Stream-static enrichment join: the static side is a tiny derived dim
    * (event_type -> code), broadcast to every micro-batch. */
  private def staticJoin(s: SparkSession, d: String): DataFrame = {
    val dim = U.events(s, d).select(col("event_type")).distinct()
      .select(col("event_type").as("et"),
        row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(col("event_type"))).cast(LongType).as("type_code"))
    // stateless enrichment => batch-boundary-independent => 4 files/batch
    replayEvents(s, d, "append") { in =>
      in.join(broadcast(dim), col("event_type") === col("et"))
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("type_code"), col("value"))
    }.orderBy("event_id")
  }

  /** Checkpointed parquet file sink: the streaming transform lands in
    * exactly-once parquet output (checkpoint dir tracks committed batches);
    * result = the full replay, so the oracle is plain SELECT *. */
  private def parquetSink(s: SparkSession, d: String): DataFrame = {
    val outDir = U.scratch(d, "stream_pq_out")
    val ckDir = U.scratch(d, "stream_pq_ck")
    val fs = org.apache.hadoop.fs.FileSystem.get(s.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(outDir), true)
    fs.delete(new org.apache.hadoop.fs.Path(ckDir), true)
    // stateless projection sink => batch-boundary-independent => 4
    val q = stagedEvents(s, d, doubled = false)
      .withColumn("value_cents", graft.U.cents(col("value")))
      .writeStream.format("parquet")
      .option("path", outDir).option("checkpointLocation", ckDir)
      .trigger(Trigger.AvailableNow()).start()
    awaitReplay(q)
    s.read.parquet(outDir).orderBy("event_id")
  }

  /** Complete-mode streaming top-k: cumulative per-type totals re-ranked on
    * every batch (sort+limit are legal in complete mode); the memory sink
    * holds the LAST emission = the exact top-3 over the whole replay, so
    * batching can't perturb it => full oracle. The production shape of a
    * live "top movers" leaderboard. */
  private def streamTopk(s: SparkSession, d: String): DataFrame =
    replayEvents(s, d, "complete") { in =>
      in.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(graft.U.cents(col("value"))).as("spend_cents"))
        .orderBy(col("spend_cents").desc, col("event_type"))
        .limit(3)
    }.orderBy(col("spend_cents").desc, col("event_type"))

  /** [[GapProcessor]] end-to-end: per-user sensor-dropout gaps LIVE —
    * exactly the batch `ts_gap_detect` rows, emitted the moment the
    * closing event arrives (one Long of state per user; verbatim-shared
    * oracle). */
  private def gapDetectTws(s: SparkSession, d: String): DataFrame =
    replayEvents(s, d, "append", RocksDb) { in =>
      import in.sparkSession.implicits._
      in.select(col("user_id"), expr("unix_micros(ts)").as("us"),
          col("event_id"))
        .as[GapEvent]
        .groupByKey(_.user_id)
        .transformWithState(new GapProcessor,
          TimeMode.None(), OutputMode.Append())
        .toDF()
    }.select(col("user_id"),
      timestamp_micros(col("prev_us")).as("gap_start"),
      timestamp_micros(col("us")).as("gap_end"),
      ((col("us") - col("prev_us")).cast(DoubleType) / lit(1000000.0))
        .as("gap_seconds"))
      .orderBy("user_id", "gap_start")

  /** [[DrawdownProcessor]] end-to-end: the per-user running-peak
    * drawdown LIVE — the risk/degradation trajectory `ts_drawdown`
    * computes in batch, emitted per event as it arrives. Exactly the
    * batch window row-for-row (one Long of state per user), so the twin
    * shares the `ts_drawdown` oracle VERBATIM. */
  private def drawdownTws(s: SparkSession, d: String): DataFrame =
    replayEvents(s, d, "append", RocksDb) { in =>
      import in.sparkSession.implicits._
      in.select(col("user_id"), expr("unix_micros(ts)").as("us"),
          col("event_id"), graft.U.cents(col("value")).as("c"))
        .as[DrawEvent]
        .groupByKey(_.user_id)
        .transformWithState(new DrawdownProcessor,
          TimeMode.None(), OutputMode.Append())
        .toDF()
    }.select(col("user_id"), col("event_id"),
      (col("peak_c") / lit(100.0)).cast(DoubleType).as("running_peak"),
      ((col("peak_c") - col("c")) / lit(100.0)).cast(DoubleType)
        .as("drawdown"))
      .orderBy("event_id")

  /** [[EwmaProcessor]] end-to-end: the per-user EWMA maintained LIVE on
    * the stream, finals matching the batch ts_ewma fold bit-for-bit.
    * Each trigger's rows sort by (event time, event_id) and the staged
    * replay is event-time-ordered across batches, so the stream applies
    * the IDENTICAL double-op chain in the identical order as the batch
    * list fold — which is why it shares the ts_ewma oracle VERBATIM
    * (the stream_sprt discipline). State is one (count, Double) per
    * user; the running emission per batch rolls up by the monotone
    * count. */
  private def ewmaTws(s: SparkSession, d: String): DataFrame =
    replayEvents(s, d, "append", RocksDb) { in =>
      import in.sparkSession.implicits._
      in.select(col("user_id"), expr("unix_micros(ts)").as("us"),
          col("event_id"), col("value"))
        .as[EwmaEvent]
        .groupByKey(_.user_id)
        .transformWithState(new EwmaProcessor,
          TimeMode.None(), OutputMode.Append())
        .toDF()
    }.groupBy(col("user_id"))
      .agg(max(struct(col("n"), col("ewma"))).as("m"))
      .select(col("user_id"), col("m.n").as("n"), col("m.ewma").as("ewma"))
      .orderBy("user_id")

  /** [[SrmFirstSeen]] end-to-end: the sample-ratio-mismatch guardrail
    * LIVE per day — each (type, user) admits once with its first-arrival
    * day, the post-replay rollup cumulates per-arm user counts over
    * days, and the running one-df chi-square (exact micro, the agg_srm
    * expression) is the trajectory an experiment dashboard watches to
    * catch a broken randomizer the day it breaks, not at readout. */
  private def srmTws(s: SparkSession, d: String): DataFrame = {
    val firsts = replayEvents(s, d, "append", RocksDb) { in =>
      import in.sparkSession.implicits._
      in.select(col("event_type"), col("user_id"),
          expr("unix_micros(ts)").as("us"),
          expr("unix_micros(ts) DIV 86400000000").as("dayi"))
        .as[SrmEvent]
        .groupByKey(e => (e.event_type, e.user_id))
        .transformWithState(new SrmFirstSeen,
          TimeMode.None(), OutputMode.Append())
        .toDF()
    }
    val w = Window.partitionBy(col("event_type")).orderBy(col("dayi"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    firsts.groupBy(col("event_type"), col("dayi"))
      .agg(sum(when(col("arm") === 0L, 1L).otherwise(0L)).as("a0"),
        sum(when(col("arm") === 1L, 1L).otherwise(0L)).as("a1"))
      .withColumn("n0", sum(col("a0")).over(w))
      .withColumn("n1", sum(col("a1")).over(w))
      .select(col("event_type"), col("dayi"), col("n0"), col("n1"),
        expr("CAST((CAST(1000000 AS DECIMAL(38,0)) * (n0 - n1) * " +
          "(n0 - n1)) DIV nullif(n0 + n1, 0) AS BIGINT)")
          .as("srm_micro"))
      .withColumn("flagged", col("srm_micro") > 3841459L)
      .orderBy("event_type", "dayi")
  }

  /** The PSI drift monitor LIVE — the third member of the streaming
    * guardrail trio (stream_srm, stream_sprt): [[PsiBandTracker]] keeps
    * one 10-band histogram per event type in RocksDB state; the epilogue
    * fixes the reference window at the batch split day (the agg_psi
    * design), differences each post day's cumulative snapshot against
    * it, and walks the identical Laplace-smoothed micro-nat term tree —
    * so the trajectory's last day CLOSES on the batch agg_psi answer
    * (StreamingSpec-pinned). */
  private def psiTws(s: SparkSession, d: String): DataFrame = {
    val snaps0 = replayEvents(s, d, "append", RocksDb) { in =>
      import in.sparkSession.implicits._
      in.withColumn("vc", U.cents(col("value")))
        .select(col("event_type"), expr("unix_micros(ts)").as("us"),
          col("event_id"),
          expr("least(9, vc DIV 1000)").as("band"),
          expr("unix_micros(ts) DIV 86400000000").as("dayi"))
        .as[PsiEvent]
        .groupByKey(_.event_type)
        .transformWithState(new PsiBandTracker,
          TimeMode.None(), OutputMode.Append())
        .toDF()
    }
    val snaps = U.track(snaps0
      .groupBy(col("event_type"), col("dayi"), col("band"))
      .agg(max(col("cnt")).as("cnt"))
      .persist())
    val preDay = withSplitDay(snaps)
      .filter(col("dayi") < col("sd"))
      .groupBy(col("event_type").as("pt"))
      .agg(max(col("dayi")).as("pd"))
    val pre = snaps.join(broadcast(preDay),
        col("event_type") === col("pt") && col("dayi") === col("pd"))
      .select(col("event_type").as("qt"), col("band").as("qb"),
        col("cnt").as("c0"))
    val post = withSplitDay(snaps)
      .filter(col("dayi") >= col("sd"))
      .join(broadcast(pre), col("event_type") === col("qt") &&
        col("band") === col("qb"), "left")
      .select(col("event_type"), col("dayi"), col("band"),
        coalesce(col("c0"), lit(0L)).as("c0"),
        (col("cnt") - coalesce(col("c0"), lit(0L))).as("c1"))
    val tot = post.groupBy(col("event_type").as("tt"), col("dayi").as("td"))
      .agg(sum(col("c0")).as("n0"), sum(col("c1")).as("n1"))
    post.join(broadcast(tot), col("event_type") === col("tt") &&
        col("dayi") === col("td"))
      .withColumn("term", expr("CAST(floor(1000000.0 * " +
        "((CAST(c0 + 1 AS DOUBLE) / CAST(n0 + 10 AS DOUBLE)) - " +
        "(CAST(c1 + 1 AS DOUBLE) / CAST(n1 + 10 AS DOUBLE))) * " +
        "ln((CAST(c0 + 1 AS DOUBLE) / CAST(n0 + 10 AS DOUBLE)) / " +
        "(CAST(c1 + 1 AS DOUBLE) / CAST(n1 + 10 AS DOUBLE)))) " +
        "AS BIGINT)"))
      .groupBy(col("event_type"), col("dayi"))
      .agg(max(col("n0")).as("n_pre"), max(col("n1")).as("n_post"),
        sum(col("term")).as("psi_micro"))
      .withColumn("flagged", col("psi_micro") > 200000L)
      .orderBy("event_type", "dayi")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "stream_psi" -> psiTws _,
    "stream_srm" -> srmTws _,
    "stream_ewma" -> ewmaTws _,
    "stream_drawdown" -> drawdownTws _,
    "stream_gap_detect" -> gapDetectTws _,
    "stream_neardup" -> neardupStream _,
    "stream_token_quota" -> tokenQuotaStream _,
    "stream_sprt" -> sprtTws _,
    "stream_page_hinkley" -> pageHinkleyTws _,
    "stream_session_tws" -> sessionizeTws _,
    "stream_hysteresis" -> hysteresisTws _,
    "stream_cusum" -> cusumTws _,
    "stream_topk" -> streamTopk _,
    "stream_parquet_sink" -> parquetSink _,
    "stream_tumbling_watermark" -> tumblingWatermark _,
    "stream_union" -> streamUnion _,
    "stream_chained_agg" -> chainedAgg _,
    "stream_pipeline" -> streamPipeline _,
    "stream_custom_sink" -> customSinkStream _,
    "stream_sliding" -> slidingComplete _,
    "stream_session" -> sessionWindows _,
    "stream_dedup" -> dedupStream _,
    "stream_stateful" -> statefulRunning _,
    "stream_stateful_tws" -> statefulRunningTws _,
    "stream_idle_timeout" -> idleTimeoutTws _,
    "stream_stream_join" -> streamStreamJoin _,
    "stream_stream_left_join" -> streamStreamLeftJoin _,
    "stream_custom_source" -> customSourceStream _,
    "stream_upsert_sink" -> foreachBatchUpsert _,
    "stream_static_join" -> staticJoin _)

  val oracleSql: Map[String, String] = Map(
    // the prefix-quota rule re-stated as a per-source window cumsum in
    // doc_id order (= the replay's arrival order)
    "stream_token_quota" ->
      (s"WITH t AS (SELECT doc_id, source, " +
        s"CAST(len(${graft.llm.TextUtil.sqlTokens("text")}) AS BIGINT) " +
        "AS n_tokens FROM documents), " +
        "c AS (SELECT doc_id, source, n_tokens, " +
        "CAST(SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id " +
        "ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens FROM t) " +
        "SELECT doc_id, source, n_tokens, cum_tokens, " +
        s"cum_tokens <= ${TokenQuotaProcessor.BudgetTokens} AS admitted " +
        "FROM c ORDER BY doc_id"),
    // the batch MinHash banding re-stated per doc: prior = min smaller-id
    // bucket-mate over the doc's 4 bands — the replay's final state is
    // exactly this batch predicate (doc_id-ordered staged files)
    "stream_neardup" -> {
      import graft.llm.TextUtil.{sqlTokens, sqlShingles3, sqlPolyHash}
      val ph = sqlPolyHash("t", 13L)
      s"WITH sh AS (SELECT doc_id, ${sqlShingles3(sqlTokens("text"))} AS ss " +
        "FROM documents), " +
        "sized AS (SELECT doc_id, ss FROM sh WHERE len(ss) > 0), " +
        s"hs AS (SELECT doc_id, list_transform(ss, t -> $ph) AS hl FROM sized), " +
        "sig AS (SELECT doc_id, list_transform(range(0, 16), k -> " +
        "list_min(list_transform(hl, h -> (h*(2*k+1) + k*12345 + 7) % 1000000007))) " +
        "AS sigs FROM hs), " +
        "bands AS (SELECT doc_id, b, list_slice(sigs, CAST(b*4+1 AS INTEGER), " +
        "CAST(b*4+4 AS INTEGER)) AS bkey FROM sig CROSS JOIN range(0, 4) t(b)), " +
        "pr AS (SELECT x.doc_id, x.b, MIN(y.doc_id) AS prior FROM bands x " +
        "LEFT JOIN bands y ON x.b = y.b AND x.bkey = y.bkey " +
        "AND y.doc_id < x.doc_id GROUP BY 1, 2), " +
        "roll AS (SELECT doc_id, " +
        "CAST(SUM(CASE WHEN prior IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) " +
        "AS n_bands_hit, MIN(prior) AS dup_of FROM pr GROUP BY 1) " +
        "SELECT doc_id, n_bands_hit, n_bands_hit > 0 AS is_dup, dup_of " +
        "FROM roll ORDER BY doc_id"
    },
    // the batch ts_hysteresis oracle, verbatim — one definition pins both
    "stream_hysteresis" -> graft.operators.TimeSeries.hysteresisSql,
    // the batch ts_page_hinkley oracle, verbatim — same discipline
    "stream_page_hinkley" ->
      graft.operators.TimeSeries.oracleSql("ts_page_hinkley"),
    "stream_sprt" -> graft.operators.Aggregations.oracleSql("agg_sprt"),
    // the batch ts_ewma oracle, verbatim — the stream's per-user fold is
    // the same double chain in the same (ts, event_id) order
    "stream_ewma" -> graft.operators.TimeSeries.oracleSql("ts_ewma"),
    // the live drawdown IS the batch window row-for-row — one shared
    // oracle so the twins cannot drift
    "stream_drawdown" -> graft.operators.TimeSeries.oracleSql("ts_drawdown"),
    "stream_gap_detect" ->
      graft.operators.TimeSeries.oracleSql("ts_gap_detect"),
    // first-sight day == MIN(day) per (type, user) because the staged
    // replay is event-time ordered; the trajectory is a window cumsum
    "stream_psi" -> {
      val c = OSQL.cents("value")
      s"WITH ev AS (SELECT event_type, epoch_us(ts) // 86400000000 " +
        s"AS dayi, least(9, $c // 1000) AS band FROM events), " +
        "sp AS (SELECT (MIN(dayi) + MAX(dayi) + 1) // 2 AS sd FROM ev), " +
        "cts AS (SELECT event_type, dayi, band, " +
        "CAST(COUNT(*) AS BIGINT) AS n FROM ev GROUP BY 1, 2, 3), " +
        "days AS (SELECT DISTINCT event_type, dayi FROM ev), " +
        "bands AS (SELECT CAST(unnest(generate_series(0, 9)) AS BIGINT) " +
        "AS band), " +
        "grid AS (SELECT d.event_type, d.dayi, b.band, " +
        "coalesce(cts.n, 0) AS n FROM days d CROSS JOIN bands b " +
        "LEFT JOIN cts ON cts.event_type = d.event_type " +
        "AND cts.dayi = d.dayi AND cts.band = b.band), " +
        "cum AS (SELECT event_type, dayi, band, " +
        "CAST(SUM(n) OVER (PARTITION BY event_type, band ORDER BY dayi " +
        "ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cnt FROM grid), " +
        "pd AS (SELECT event_type, MAX(dayi) AS pd FROM days " +
        "CROSS JOIN sp WHERE dayi < sd GROUP BY 1), " +
        "pre AS (SELECT cum.event_type, cum.band, cum.cnt AS c0 " +
        "FROM cum JOIN pd ON cum.event_type = pd.event_type " +
        "AND cum.dayi = pd.pd), " +
        "post AS (SELECT cum.event_type, cum.dayi, cum.band, " +
        "coalesce(pre.c0, 0) AS c0, " +
        "cum.cnt - coalesce(pre.c0, 0) AS c1 FROM cum CROSS JOIN sp " +
        "LEFT JOIN pre ON cum.event_type = pre.event_type " +
        "AND cum.band = pre.band WHERE cum.dayi >= sd), " +
        "tot AS (SELECT event_type, dayi, CAST(SUM(c0) AS BIGINT) AS n0, " +
        "CAST(SUM(c1) AS BIGINT) AS n1 FROM post GROUP BY 1, 2), " +
        "t AS (SELECT post.event_type, post.dayi, n0, n1, " +
        "CAST(floor(1000000.0 * " +
        "((CAST(c0 + 1 AS DOUBLE) / CAST(n0 + 10 AS DOUBLE)) - " +
        "(CAST(c1 + 1 AS DOUBLE) / CAST(n1 + 10 AS DOUBLE))) * " +
        "ln((CAST(c0 + 1 AS DOUBLE) / CAST(n0 + 10 AS DOUBLE)) / " +
        "(CAST(c1 + 1 AS DOUBLE) / CAST(n1 + 10 AS DOUBLE)))) " +
        "AS BIGINT) AS term FROM post JOIN tot " +
        "ON post.event_type = tot.event_type AND post.dayi = tot.dayi) " +
        "SELECT event_type, dayi, CAST(MAX(n0) AS BIGINT) AS n_pre, " +
        "CAST(MAX(n1) AS BIGINT) AS n_post, " +
        "CAST(SUM(term) AS BIGINT) AS psi_micro, " +
        "CAST(SUM(term) AS BIGINT) > 200000 AS flagged " +
        "FROM t GROUP BY 1, 2 ORDER BY 1, 2"
    },
    "stream_srm" ->
      ("WITH fs AS (SELECT event_type, user_id, " +
        "CAST(user_id % 2 AS BIGINT) AS arm, " +
        "MIN(epoch_us(ts) // 86400000000) AS dayi FROM events " +
        "GROUP BY 1, 2, 3), " +
        "dd AS (SELECT event_type, dayi, " +
        "CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS a0, " +
        "CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS a1 " +
        "FROM fs GROUP BY 1, 2), " +
        "c AS (SELECT event_type, dayi, " +
        "CAST(SUM(a0) OVER w AS BIGINT) AS n0, " +
        "CAST(SUM(a1) OVER w AS BIGINT) AS n1 FROM dd " +
        "WINDOW w AS (PARTITION BY event_type ORDER BY dayi " +
        "ROWS UNBOUNDED PRECEDING)) " +
        "SELECT event_type, dayi, n0, n1, " +
        "CAST((1000000 * CAST(n0 - n1 AS HUGEINT) * (n0 - n1)) " +
        "// nullif(n0 + n1, 0) AS BIGINT) AS srm_micro, " +
        "CAST((1000000 * CAST(n0 - n1 AS HUGEINT) * (n0 - n1)) " +
        "// nullif(n0 + n1, 0) AS BIGINT) > 3841459 AS flagged " +
        "FROM c ORDER BY event_type, dayi"),
    "stream_cusum" -> graft.operators.TimeSeries.cusumAlarmSql,
    "stream_session_tws" ->
      ("WITH flagged AS (SELECT user_id, ts, event_id, value, " +
        "CASE WHEN lag(epoch_us(ts)) OVER w IS NULL " +
        "OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000 " +
        "THEN 1 ELSE 0 END AS new_sess FROM events " +
        "WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)), " +
        "numbered AS (SELECT *, CAST(SUM(new_sess) OVER (PARTITION BY user_id " +
        "ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) " +
        "AS BIGINT) AS session_id FROM flagged) " +
        "SELECT user_id, session_id, MIN(ts) AS session_start, " +
        "MAX(ts) AS session_end, COUNT(*) AS n_events, " +
        s"CAST(SUM(${OSQL.cents("value")}) AS DOUBLE) / 100.0 AS sum_value " +
        "FROM numbered GROUP BY user_id, session_id ORDER BY user_id, session_id"),
    "stream_topk" ->
      ("SELECT event_type, COUNT(*) AS n, " +
        s"CAST(SUM(${OSQL.cents("value")}) AS BIGINT) AS spend_cents " +
        "FROM events GROUP BY event_type " +
        "ORDER BY spend_cents DESC, event_type LIMIT 3"),
    "stream_upsert_sink" ->
      ("SELECT user_id, ts, event_id, value FROM (" +
        "SELECT user_id, ts, event_id, value, " +
        "row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) " +
        "AS rn FROM events) WHERE rn = 1 ORDER BY user_id"),
    "stream_parquet_sink" ->
      (s"SELECT *, ${OSQL.cents("value")} AS value_cents FROM events " +
        "ORDER BY event_id"),
    "stream_sliding" ->
      ("SELECT make_timestamp(CAST((floor(epoch(ts) / 900) * 900 - j * 900) " +
        "* 1000000 AS BIGINT)) AS wstart, " +
        s"COUNT(*) AS n, ${OSQL.dsum("value")} AS sum_value " +
        "FROM events CROSS JOIN (VALUES (0), (1), (2), (3)) offs(j) " +
        "GROUP BY 1 ORDER BY wstart"),
    "stream_dedup" -> "SELECT * FROM events ORDER BY event_id",
    "stream_stateful" ->
      ("SELECT event_id, user_id, " +
        "CAST(row_number() OVER w AS BIGINT) AS running_n, " +
        s"CAST(SUM(${OSQL.cents("value")}) OVER w AS DOUBLE) / 100.0 AS running_sum " +
        "FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) ORDER BY event_id"),
    "stream_idle_timeout" ->
      ("WITH g AS (SELECT user_id, epoch_us(ts) AS us, " +
        "lag(epoch_us(ts), 1) OVER w AS prev FROM events " +
        "WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)), " +
        "gaps AS (SELECT user_id, prev AS isu FROM g " +
        "WHERE prev IS NOT NULL AND us - prev > 1800000000), " +
        // Spark's watermark is millisecond-granular: floor-ms(max ts) -
        // 600000 ms; the trailing-timer fire condition mirrors that
        "fw AS (SELECT MAX(epoch_us(ts)) // 1000 - 600000 AS wm_ms " +
        "FROM events), " +
        "trail AS (SELECT user_id, MAX(epoch_us(ts)) AS last_us " +
        "FROM events GROUP BY 1), " +
        "t2 AS (SELECT user_id, last_us AS isu FROM trail CROSS JOIN fw " +
        "WHERE last_us // 1000 + 1800000 <= wm_ms), " +
        "a AS (SELECT user_id, isu FROM gaps " +
        "UNION SELECT user_id, isu FROM t2) " +
        "SELECT user_id, make_timestamp(isu) AS idle_since, " +
        "make_timestamp(isu + 1800000000) AS alert_ts " +
        "FROM a ORDER BY user_id, idle_since"),
    "stream_stateful_tws" ->
      ("SELECT event_id, user_id, " +
        "CAST(row_number() OVER w AS BIGINT) AS running_n, " +
        s"CAST(SUM(${OSQL.cents("value")}) OVER w AS DOUBLE) / 100.0 AS running_sum " +
        "FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) ORDER BY event_id"),
    "stream_stream_join" ->
      ("SELECT c.event_id AS c_event_id, p.event_id AS p_event_id, " +
        "c.user_id, c.ts AS c_ts, p.ts AS p_ts, p.value AS p_value " +
        "FROM events c JOIN events p ON c.user_id = p.user_id " +
        "AND c.event_type = 'click' AND p.event_type = 'purchase' " +
        "AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 4 HOURS " +
        "ORDER BY c_event_id, p_event_id"),
    // Finalized tumbling windows: append mode emits exactly the windows
    // whose end the final watermark (max ts - 10 min, reached via the
    // AvailableNow no-data batch) has passed — a deterministic set, so the
    // append-mode query is fully oracle-able after all (empirically pinned
    // at sf0.01: 3380 groups under both <= and < at the boundary).
    "stream_tumbling_watermark" ->
      ("WITH agg AS (SELECT make_timestamp(CAST((epoch_us(ts) // " +
        "3600000000) * 3600000000 AS BIGINT)) AS wstart, event_type, " +
        s"COUNT(*) AS n, ${OSQL.dsum("value")} AS sum_value " +
        "FROM events GROUP BY 1, 2) " +
        "SELECT wstart, event_type, n, sum_value FROM agg " +
        "WHERE wstart + INTERVAL 1 HOUR <= " +
        "(SELECT MAX(ts) - INTERVAL 10 MINUTE FROM events) " +
        "ORDER BY wstart, event_type"),
    "stream_union" ->
      ("WITH u AS (SELECT ts, CASE WHEN event_type = 'click' THEN 'clicks' " +
        "ELSE 'purchases' END AS branch, value FROM events " +
        "WHERE event_type IN ('click', 'purchase')), " +
        "agg AS (SELECT make_timestamp(CAST((epoch_us(ts) // " +
        "3600000000) * 3600000000 AS BIGINT)) AS wstart, branch, " +
        s"COUNT(*) AS n, ${OSQL.dsum("value")} AS sum_value " +
        "FROM u GROUP BY 1, 2) " +
        "SELECT wstart, branch, n, sum_value FROM agg " +
        "WHERE wstart + INTERVAL 1 HOUR <= " +
        "(SELECT MAX(ts) - INTERVAL 10 MINUTE FROM u) " +
        "ORDER BY wstart, branch"),
    // Chained stateful: the batch double aggregate filtered to
    // watermark-closed hours (the outer tier finalizes every hour whose
    // end the final global watermark passed; its four quarter-hours are
    // finalized by construction before it).
    "stream_chained_agg" ->
      ("WITH q15 AS (SELECT make_timestamp(CAST((epoch_us(ts) // " +
        "900000000) * 900000000 AS BIGINT)) AS qstart, COUNT(*) AS n, " +
        s"CAST(SUM(${OSQL.cents("value")}) AS BIGINT) AS cents " +
        "FROM events GROUP BY 1), " +
        "hr AS (SELECT make_timestamp(CAST((epoch_us(qstart) // " +
        "3600000000) * 3600000000 AS BIGINT)) AS hstart, " +
        "CAST(SUM(n) AS BIGINT) AS n, COUNT(*) AS n_quarters, " +
        "CAST(SUM(cents) AS BIGINT) AS cents FROM q15 GROUP BY 1) " +
        "SELECT hstart, n, n_quarters, CAST(cents AS DOUBLE) / 100.0 " +
        "AS sum_value FROM hr WHERE hstart + INTERVAL 1 HOUR <= " +
        "(SELECT MAX(ts) - INTERVAL 10 MINUTE FROM events) " +
        "ORDER BY hstart"),
    "stream_custom_sink" ->
      ("SELECT CAST(COUNT(*) AS BIGINT) AS n_rows, " +
        s"CAST(SUM(${OSQL.cents("value")}) AS BIGINT) AS sum_cents " +
        "FROM events"),
    // Composed pipeline: batch equivalent of dedup (ids unique => plain
    // events) -> type_code enrich -> hourly windows, watermark-cutoff
    "stream_pipeline" ->
      ("WITH types AS (SELECT event_type AS et, CAST(row_number() OVER " +
        "(ORDER BY event_type) AS BIGINT) AS type_code FROM " +
        "(SELECT DISTINCT event_type FROM events)), " +
        "agg AS (SELECT make_timestamp(CAST((epoch_us(ts) // 3600000000) " +
        "* 3600000000 AS BIGINT)) AS wstart, type_code, COUNT(*) AS n, " +
        s"CAST(SUM(${OSQL.cents("value")}) AS BIGINT) AS cents " +
        "FROM events JOIN types ON event_type = et GROUP BY 1, 2) " +
        "SELECT wstart, type_code, n, CAST(cents AS DOUBLE) / 100.0 " +
        "AS sum_value FROM agg WHERE wstart + INTERVAL 1 HOUR <= " +
        "(SELECT MAX(ts) - INTERVAL 10 MINUTE FROM events) " +
        "ORDER BY wstart, type_code"),
    // Finalized session windows: session end = last event + 30 min gap;
    // emitted when the final watermark passes it. Session merging equals
    // the batch lag-gap pass (proved by ts_session_native), so the oracle
    // is the batch sessionization filtered to watermark-closed sessions.
    "stream_session" ->
      ("WITH flagged AS (SELECT user_id, ts, event_id, value, " +
        "CASE WHEN lag(epoch_us(ts)) OVER w IS NULL " +
        "OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000 " +
        "THEN 1 ELSE 0 END AS new_sess FROM events " +
        "WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)), " +
        "numbered AS (SELECT *, SUM(new_sess) OVER (PARTITION BY user_id " +
        "ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND " +
        "CURRENT ROW) AS sid FROM flagged), " +
        "sess AS (SELECT user_id, MIN(ts) AS sstart, " +
        "MAX(ts) + INTERVAL 30 MINUTE AS send, COUNT(*) AS n_events, " +
        s"${OSQL.dsum("value")} AS sum_value " +
        "FROM numbered GROUP BY user_id, sid) " +
        "SELECT sstart, send, user_id, n_events, sum_value FROM sess " +
        "WHERE send <= (SELECT MAX(ts) - INTERVAL 10 MINUTE FROM events) " +
        "ORDER BY user_id, sstart"),
    "stream_stream_left_join" ->
      ("WITH c AS (SELECT event_id, user_id, ts FROM events " +
        "WHERE event_type = 'click'), " +
        "p AS (SELECT event_id, user_id, ts, value FROM events " +
        "WHERE event_type = 'purchase') " +
        "SELECT c.event_id AS c_event_id, p.event_id AS p_event_id, " +
        "c.user_id, c.ts AS c_ts, p.ts AS p_ts, p.value AS p_value " +
        "FROM c JOIN p ON c.user_id = p.user_id " +
        "AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 4 HOUR " +
        "UNION ALL " +
        "SELECT c.event_id, NULL, c.user_id, c.ts, NULL, NULL FROM c " +
        "WHERE c.ts + INTERVAL 4 HOUR < " +
        "(SELECT LEAST((SELECT MAX(ts) FROM c), (SELECT MAX(ts) FROM p)) " +
        "- INTERVAL 1 HOUR) " +
        "AND NOT EXISTS (SELECT 1 FROM p WHERE p.user_id = c.user_id " +
        "AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 4 HOUR) " +
        "ORDER BY c_event_id, p_event_id NULLS FIRST"),
    "stream_custom_source" ->
      ("SELECT bucket, COUNT(*) AS n, CAST(SUM(vc) AS BIGINT) AS sum_cents " +
        "FROM (SELECT range % 32 AS bucket, (range * 2654435761) % 100000 AS vc " +
        "FROM range(0, 20000)) GROUP BY bucket ORDER BY bucket"),
    "stream_static_join" ->
      ("SELECT event_id, user_id, event_type, type_code, value FROM events " +
        "JOIN (SELECT event_type AS et, CAST(row_number() OVER " +
        "(ORDER BY event_type) AS BIGINT) AS type_code FROM " +
        "(SELECT DISTINCT event_type FROM events)) ON event_type = et " +
        "ORDER BY event_id"))
}
