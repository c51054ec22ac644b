package graft

import java.nio.file.{Path, Paths, Files}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Source audit for the derived frames several queries build: each has ONE
  * definition, so a fix made there reaches every consumer and its oracle
  * mirror. Over src/main, comment lines dropped, each site is attributed
  * to the nearest `def` above it:
  *  - the synthetic PNG round-trip (`new java.awt.image.BufferedImage(`):
  *    `Multimodal.pngRoundtrip`;
  *  - the synthetic WAV round-trip (`AudioSystem.write(`):
  *    `Multimodal.wavRoundtrip`;
  *  - the recall@3 roll-up (`/ lit(3.0)).as("recall")`):
  *    `Similarity.recallAt3`;
  *  - the persisted (vec_id, fx, nrm) frame: `Similarity.persistedEmb`;
  *  - the pre/post split day `(min(dayi) + max(dayi) + 1) DIV 2`:
  *    `Aggregations.withSplitDay` (the DuckDB mirrors spell it `// 2`);
  *  - the gap-filled bucket grid (`explode(sequence(col(` in TimeSeries and
  *    Aggregations): `TimeSeries.gapFill`, plus the allowlist below.
  */
class SharedBlockAuditSpec extends AnyFunSuite {

  private val root = Paths.get("src/main/scala/graft")

  /** file (relative to src/main/scala/graft) -> its code, comments dropped */
  private lazy val sources: Seq[(String, String)] =
    Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
      .map { p: Path =>
        root.relativize(p).toString -> Files.readAllLines(p).asScala
          .filterNot { l =>
            val t = l.trim
            t.startsWith("*") || t.startsWith("//") || t.startsWith("/**")
          }.mkString("\n")
      }

  /** (file, enclosing def) of every match of `pattern`, sorted */
  private def sites(pattern: String,
      files: Set[String] = Set.empty): Seq[(String, String)] =
    (for {
      (f, code) <- sources if files.isEmpty || files(f)
      m <- pattern.r.findAllMatchIn(code)
    } yield f -> """\bdef\s+(\w+)""".r.findAllMatchIn(code.take(m.start))
      .toSeq.lastOption.fold("<top level>")(_.group(1))).sorted

  private val blocks = Seq(
    ("synthetic PNG round-trip",
      """new\s+java\.awt\.image\.BufferedImage\s*\(""",
      "llm/Multimodal.scala" -> "pngRoundtrip"),
    ("synthetic WAV round-trip", """AudioSystem\.write\s*\(""",
      "llm/Multimodal.scala" -> "wavRoundtrip"),
    ("recall@3 roll-up", """/\s*lit\(3\.0\)\)\.as\("recall"\)""",
      "llm/Similarity.scala" -> "recallAt3"),
    ("persisted (vec_id, fx, nrm) frame",
      """select\(col\("vec_id"\),\s*col\("fx"\),\s*col\("nrm"\)\)\s*\.persist\(\)""",
      "llm/Similarity.scala" -> "persistedEmb"),
    ("pre/post split day",
      """\(min\(dayi\)\s*\+\s*max\(dayi\)\s*\+\s*1\)\s*DIV\s*2""",
      "operators/Aggregations.scala" -> "withSplitDay"))

  for ((name, pattern, home) <- blocks)
    test(s"one definition of the $name") {
      val found = sites(pattern)
      assert(found == Seq(home), s"'$pattern' sites $found — call " +
        s"${home._2} in ${home._1} instead of copying the block")
    }

  // (file, def) -> why the grid is not TimeSeries.gapFill's
  private val gridAllowlist = Map(
    ("operators/TimeSeries.scala", "userDayCloses") ->
      ("the per-user day grid of ts_resample_fill and ts_interpolate: a " +
        "timestamp grid whose empty days stay NULL for the forward fill " +
        "and the interpolation, not 0"),
    ("operators/Aggregations.scala", "aggFriedman") ->
      ("one global day grid crossed with every event type: the bounds " +
        "are global, not per key, so absent type-days fill on a grid " +
        "gapFill does not build"))

  test("one gap-filled bucket grid in TimeSeries and Aggregations") {
    val found = sites("""explode\s*\(\s*sequence\s*\(\s*col\s*\(""",
      Set("operators/TimeSeries.scala", "operators/Aggregations.scala"))
    val expected = (("operators/TimeSeries.scala", "gapFill") +:
      gridAllowlist.keys.toSeq).sorted
    assert(found == expected, s"explode(sequence(col( grids at $found, " +
      s"expected $expected — zero-fill through TimeSeries.gapFill, or " +
      "allowlist the site with its reason")
  }
}
