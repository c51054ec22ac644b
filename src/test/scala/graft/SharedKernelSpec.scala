package graft

import graft.operators.{Joins, TimeSeries}
import org.apache.spark.sql.catalyst.plans.logical.Window
import org.apache.spark.sql.functions._

/** Behaviour the shared kernels now give every consumer at once: the
  * as-of and sessionization tiebreaks, and one session numbering across
  * the session-derived queries. */
class SharedKernelSpec extends SparkTestBase {
  import spark.implicits._

  test("asOfOn: the tiebreak decides between build rows at one (key, ts)") {
    // two build rows at the same (key, ts): the one LAST in (ts, side,
    // tiebreak) order wins in both directions — the join_asof event_id rule
    val probe = Seq(("a", 3L, 12L), ("a", 4L, 8L)).toDF("k", "id", "sec")
      .select($"k", $"id", timestamp_micros($"sec" * 1000000L).as("t"))
    def matched(lowIdValue: Double, highIdValue: Double) = {
      val build = Seq(("a", 1L, lowIdValue), ("a", 2L, highIdValue))
        .toDF("k", "id", "v").withColumn("t", timestamp_micros(lit(10000000L)))
      Joins.asOfOn(probe, build, Seq("k"), "t", "t", Seq("id", "v"),
          Seq("id"), Seq("prev" -> false, "next" -> true))
        .orderBy("id").collect().toSeq
        .map(r => Seq("prev", "next").map(m =>
          Option(r.getAs[org.apache.spark.sql.Row](m))
            .map(b => (b.getLong(0), b.getDouble(1)))))
    }
    // probe t=12 only has an earlier match, probe t=8 only a later one
    assert(matched(1.0, 2.0) == Seq(Seq(Some((2L, 2.0)), None),
      Seq(None, Some((2L, 2.0)))))
    // the tiebreak, not the value, picks the row
    assert(matched(9.0, 7.0) == Seq(Seq(Some((2L, 7.0)), None),
      Seq(None, Some((2L, 7.0)))))
  }

  test("asOfJoin returns exactly the probe columns plus asof_* values") {
    val probe = Seq(("a", 1L, 12L)).toDF("k", "pid", "sec")
      .select($"k", $"pid", timestamp_micros($"sec" * 1000000L).as("pt"))
    val build = Seq(("a", 10L, 2.0)).toDF("k", "sec", "v")
      .select($"k", timestamp_micros($"sec" * 1000000L).as("bt"), $"v")
    val out = api.GraftApi.asOfJoin(probe, build, Seq("k"), "pt", "bt",
      Seq("bt", "v"))
    assert(out.columns.toSeq == Seq("k", "pid", "pt", "asof_bt", "asof_v"))
    assert(out.head().getAs[Double]("asof_v") == 2.0)
  }

  test("sessionizeOn orders rows tying on ts by the tiebreak") {
    val df = Seq(("u", 5L, 0L), ("u", 2L, 100L), ("u", 1L, 100L),
      ("u", 3L, 5000L), ("v", 4L, 0L)).toDF("who", "id", "sec")
      .select($"who", $"id", timestamp_micros($"sec" * 1000000L).as("at"))
    val s = TimeSeries.sessionizeOn(df, "who", "at", Seq("id"), 1800000000L)
    val order = s.queryExecution.optimizedPlan.collect {
      case w: Window => w.orderSpec.flatMap(_.child.references.map(_.name))
    }
    assert(order.nonEmpty && order.forall(_ == Seq("at", "id")),
      s"window orders $order must be (ts, tiebreak)")
    val got = s.orderBy("who", "at", "id").collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[Long]("session_id")))
    assert(got.toSeq == Seq((5L, 1L), (1L, 1L), (2L, 1L), (3L, 2L), (4L, 1L)))
  }

  test("ts_uptime counts exactly the sessions ts_sessionize numbers") {
    val nSessions = SparkEntry.queries("ts_sessionize")(spark, sfDir).count()
    val uptime = SparkEntry.queries("ts_uptime")(spark, sfDir)
      .agg(sum($"n_sessions")).head().getLong(0)
    assert(nSessions > 0 && uptime == nSessions)
  }
}
