package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Source audit for GraftApi's one-kernel rule: a facade method and its
  * declared query share ONE kernel, so every `def` in GraftApi.scala must
  * call a kernel of an `operators`/`llm` object and leave the algorithm —
  * its window specs — to that kernel. The only exceptions are the
  * allowlist below, each with the reason it stays standalone; a stale
  * entry (method gone, or now calling a kernel) fails too, so the list
  * cannot outlive its reasons.
  */
class FacadeKernelSpec extends AnyFunSuite {

  private val standalone = Map(
    "topKPerGroup" ->
      ("calls graft.plans.GroupedTopKApi, the physical-plan operator " +
        "win_topk_native runs on"),
    "windowFunnel" ->
      ("caller-supplied step list; ts_window_funnel's output and step " +
        "semantics differ"),
    "hysteresisAlarm" ->
      ("fixed caller thresholds per row; ts_hysteresis derives per-type " +
        "thresholds and latches per (user, type)"),
    "cusumAlarm" ->
      "appends per-row flags; ts_cusum_alarm rolls alarms up per type",
    "medianMad" ->
      ("gates its caller-sized median frame through U.sizeGate; agg_mad " +
        "broadcasts a |types|-row frame, so one kernel would add a job to " +
        "the query or branch on its caller"),
    "wassersteinDrift" ->
      ("gates its caller-sized totals through U.sizeGate; agg_wasserstein " +
        "broadcasts a |types|-row frame (the medianMad reason)"),
    "silhouette" ->
      ("mints vector ids and gates its caller-sized centroid frame through " +
        "U.sizeGate; emb_silhouette broadcasts a constant 640-row frame " +
        "(the medianMad reason)"),
    "bloomPrefilter" ->
      ("hashes separate build and probe frames; dedup_bloom_prefilter (a " +
        "benchmarked llm_index query) hashes the document base once"),
    "tokenQuota" -> "its twin stream_token_quota is a streaming query",
    "ingestBinaryDir" ->
      ("mime map and digest dedup over a caller directory; scan_binary_file " +
        "only projects (fname, length, sha) of its staged files — the one " +
        "shared line is the binaryFile read"),
    "fixedIds" -> "private column-shaping helper for the embedding kernels",
    "smallestIds" -> "private ranked-id validation and pick for seeds/queries",
    "lifeFrame" -> "private column-shaping helper for the lifetime kernels",
    "scored" -> "private column-shaping helper for the model-eval kernels",
    "renameOut" -> "private output-rename helper with a collision check")

  /** Objects owning kernels: every operators/llm source file except the
    * TextUtil column helpers. */
  private val owners = Seq("operators", "llm").flatMap { dir =>
    Files.list(Paths.get(s"src/main/scala/graft/$dir")).iterator().asScala
      .map(_.getFileName.toString).filter(_.endsWith(".scala"))
      .map(_.stripSuffix(".scala")).filterNot(_ == "TextUtil")
  }
  private val kernelCall = ("""\b(""" + owners.mkString("|") + """)\.\w+\(""").r

  /** GraftApi's top-level defs -> their code lines (comments dropped). */
  private def facadeDefs: Seq[(String, String)] = {
    val lines = Files.readAllLines(
      Paths.get("src/main/scala/graft/api/GraftApi.scala")).asScala.toSeq
      .filterNot { l =>
        val t = l.trim
        t.startsWith("*") || t.startsWith("//") || t.startsWith("/**")
      }
    val defLine = """^  (?:private )?def (\w+)""".r
    val starts = lines.zipWithIndex.flatMap { case (l, i) =>
      defLine.findFirstMatchIn(l).map(m => (m.group(1), i))
    }
    starts.zip(starts.drop(1).map(_._2) :+ lines.length).map {
      case ((name, from), until) => name -> lines.slice(from, until).mkString("\n")
    }
  }

  test("every GraftApi def delegates to a kernel or is allowlisted") {
    val defs = facadeDefs
    assert(defs.size > 50 && owners.contains("TimeSeries"))
    assert(defs.map(_._1).distinct.size == defs.size, "overloaded facade defs")
    val forks = defs.collect {
      case (name, body) if !standalone.contains(name) &&
          (kernelCall.findFirstIn(body).isEmpty || body.contains("Window.")) =>
        name
    }
    assert(forks.isEmpty, s"GraftApi methods $forks re-implement an " +
      "algorithm: move the body into a private[graft] kernel next to its " +
      "declared query and call it from both, or allowlist the method here " +
      "with the reason it stays standalone")
    val byName = defs.toMap
    val stale = standalone.keySet.filter(n =>
      !byName.contains(n) || kernelCall.findFirstIn(byName(n)).isDefined)
    assert(stale.isEmpty, s"allowlisted $stale no longer exist or now call a " +
      "kernel — drop them from the allowlist")
  }
}
