package graft

import graft.operators.TimeSeries.gapFill
import org.apache.spark.sql.types.LongType

/** `TimeSeries.gapFill` on planted gaps. The fixtures have no empty day
  * bucket at any scale factor, so the oracle compare never reaches the
  * daily zero fill; these frames do. */
class GapFillSpec extends SparkTestBase {

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => r.toSeq).toSeq

  test("per-key grids span min..max, fill gaps with 0 and keep observed buckets") {
    val s = spark
    import s.implicits._
    // key a: interior gaps at 11, 12 and 14; key b: one bucket, pre-epoch
    val obs = Seq(("a", 10L, 5L, 7L), ("a", 13L, -2L, 0L), ("a", 15L, 4L, 1L),
      ("b", -3L, 9L, 9L))
    val out = gapFill(obs.toDF("k", "i", "x", "y"), Some("k"), "i")
    assert(out.columns.toSeq == Seq("k", "i", "g0", "x", "y"))
    assert(out.schema("x").dataType == LongType)
    val got = rows(out.orderBy("k", "i"))
    assert(got.count(_(0) == "a") == 15 - 10 + 1)
    assert(got.count(_(0) == "b") == 1)
    val expected =
      Seq(("a", 10L, 5L, 7L), ("a", 11L, 0L, 0L), ("a", 12L, 0L, 0L),
        ("a", 13L, -2L, 0L), ("a", 14L, 0L, 0L), ("a", 15L, 4L, 1L))
        .map { case (k, i, x, y) => Seq(k, i, 10L, x, y) } :+
        Seq("b", -3L, -3L, 9L, 9L)
    assert(got == expected)
  }

  test("the global grid (no key) spans the whole index range") {
    val s = spark
    import s.implicits._
    val out = gapFill(Seq((7L, 3L), (9L, -1L), (12L, 8L)).toDF("i", "x"),
      None, "i")
    assert(out.columns.toSeq == Seq("i", "g0", "x"))
    assert(rows(out.orderBy("i")) ==
      Seq(7L -> 3L, 8L -> 0L, 9L -> -1L, 10L -> 0L, 11L -> 0L, 12L -> 8L)
        .map { case (i, x) => Seq(i, 7L, x) })
  }
}
