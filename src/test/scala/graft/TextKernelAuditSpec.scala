package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Source audit for the text primitives: each has ONE implementation, a
  * codegen'd kernel in `plans/CustomExprs.scala` or a built-in helper in
  * `llm/TextUtil.scala`, and no interpreted higher-order-function twin.
  * Three rules over src/main (comment lines dropped):
  *  - no `aggregate(sequence(` fold outside the allowlist below;
  *  - no `element_at(toks, i + 1)` n-gram lambda outside TextUtil — use
  *    `CustomExprs.spans_w` (joined n-grams) or `TextUtil.tokenPairs`;
  *  - no `ascii(` Column fold outside TextUtil — use `CustomExprs.poly_hash`
  *    (DuckDB oracle strings may call `ascii(`: literals are not code);
  *  - no per-value frequency lambda `transform(array_distinct(…), t ->
  *    size(filter(…)))` — use `CustomExprs.max_freq`;
  *  - no per-position window lambda `array_min(slice(…))` /
  *    `array_max(slice(…))` — use `CustomExprs.window_min_distinct`.
  * The last two name Spark functions (DuckDB spells them `list_*`), so
  * the rules read SQL strings too: the lambdas hid in `expr(…)` text.
  */
class TextKernelAuditSpec extends AnyFunSuite {

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

  private def hits(pattern: String, code: String): Int =
    pattern.r.findAllMatchIn(code).length

  // file -> (allowed count, why the fold stays interpreted)
  private val foldAllowlist = Map(
    "llm/Pipeline.scala" -> (1 ->
      ("pipeline_chat_template's n_turns fold: a per-row count over at " +
        "most ceil(tokens / 24) turns, not a per-character kernel")),
    "llm/Similarity.scala" -> (1 ->
      ("hammingRankedOn's sign-bit packing: one 32-step fold per word, " +
        "mirrored bit for bit by the DuckDB oracle")))

  test("no aggregate(sequence( fold outside the allowlist") {
    val found = sources.map { case (f, code) =>
      f -> hits("""aggregate\s*\(\s*sequence\s*\(""", code)
    }.filter(_._2 > 0).toMap
    val unexpected = found.filter { case (f, n) =>
      foldAllowlist.get(f).forall(_._1 != n)
    }
    assert(unexpected.isEmpty, s"interpreted aggregate(sequence( folds in " +
      s"$unexpected (allowlist ${foldAllowlist.map { case (f, (n, _)) =>
        f -> n }}) — use a codegen'd plans.CustomExprs kernel, or allowlist " +
      "the site with its reason")
  }

  test("no element_at(toks, i + 1) n-gram lambda outside TextUtil") {
    val found = sources.filter { case (f, code) =>
      f != "llm/TextUtil.scala" &&
        hits("""element_at\s*\(\s*toks\s*,\s*(CAST\s*\(\s*)?i\s*\+""", code) > 0
    }.map(_._1)
    assert(found.isEmpty, s"hand-written n-gram lambdas in $found — use " +
      "CustomExprs.spans_w (joined n-grams) or TextUtil.tokenPairs")
  }

  test("no ascii( Column fold outside TextUtil") {
    // string literals are SQL text (the DuckDB oracles), not Column code
    def code(src: String): String = src
      .replaceAll("(?s)\"\"\".*?\"\"\"", "\"\"")
      .replaceAll("\"(?:\\\\.|[^\"\\\\])*\"", "\"\"")
    val found = sources.filter { case (f, src) =>
      f != "llm/TextUtil.scala" && hits("""\bascii\s*\(""", code(src)) > 0
    }.map(_._1)
    assert(found.isEmpty, s"ascii( Column folds in $found — hash text " +
      "through CustomExprs.poly_hash")
  }

  test("no frequency-count or window-slice lambda over a token or hash array") {
    val rules = Seq(
      """transform\s*\(\s*array_distinct\s*\(""" -> "CustomExprs.max_freq",
      """array_m(in|ax)\s*\(\s*slice\s*\(""" -> "CustomExprs.window_min_distinct")
    val found = for ((re, use) <- rules; (f, code) <- sources
      if hits(re, code) > 0) yield s"$f: $re (use $use)"
    assert(found.isEmpty, s"interpreted per-element lambdas: $found")
  }
}
