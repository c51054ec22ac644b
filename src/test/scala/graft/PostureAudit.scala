package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import scala.util.matching.Regex
import org.scalatest.Assertions._

/** The source count behind the posture audits (BroadcastAuditSpec,
  * WindowAuditSpec, SingleTaskAuditSpec). The expected per-file counts
  * are the `(N)` cells of the matching SCALE.md table, so the table is
  * the only inventory: a new site fails, and so does an audited file that
  * lost its sites, until the table row changes. A `(0 counted)` cell
  * records a file that names the construct without a counted call. */
object PostureAudit {

  /** file (relative to src/main/scala/graft) -> occurrences of `pattern`
    * outside comment lines; files without one are left out */
  def sourceCounts(pattern: Regex): Map[String, Int] = {
    val root = Paths.get("src/main/scala/graft")
    Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala"))
      .map { p =>
        val code = Files.readAllLines(p).asScala
          .filterNot { l =>
            val t = l.trim
            t.startsWith("*") || t.startsWith("//") || t.startsWith("/**")
          }
        root.relativize(p).toString -> code.map(pattern.findAllIn(_).length).sum
      }
      .filter(_._2 > 0).toMap
  }

  /** file -> N from the "| `file` (N) |" rows of the SCALE.md section
    * whose heading starts with `heading` */
  def tableCounts(heading: String): Map[String, Int] = {
    val row = """\| `([^`]+)` \((\d+)(?: counted)?\) \|.*""".r
    Files.readAllLines(Paths.get("SCALE.md")).asScala
      .dropWhile(!_.startsWith(heading)).drop(1)
      .takeWhile(!_.startsWith("## "))
      .collect { case row(file, n) => file -> n.toInt }.toMap
  }

  /** Fails unless every file's count of `pattern` equals its cell in the
    * SCALE.md table under `heading`; `advice` says how to classify a site. */
  def check(heading: String, pattern: Regex, advice: String): Unit = {
    val table = tableCounts(heading)
    assert(table.nonEmpty, s"no audit table under '$heading' in SCALE.md")
    val found = sourceCounts(pattern)
    def drift(keep: (Int, Int) => Boolean) =
      (table.keySet ++ found.keySet).toSeq.sorted
        .map(f => (f, table.getOrElse(f, 0), found.getOrElse(f, 0)))
        .filter { case (_, t, n) => t != n && keep(t, n) }
        .map { case (f, t, n) => s"$f: table $t, source $n" }
    val added = drift(_ < _)
    assert(added.isEmpty, s"'$pattern' sites without a SCALE.md entry: " +
      s"${added.mkString("; ")} — $advice in the '$heading' table and set " +
      "the row's count")
    val gone = drift(_ > _)
    assert(gone.isEmpty, s"'$pattern' sites the SCALE.md table still " +
      s"lists but the source no longer has: ${gone.mkString("; ")} — prune " +
      s"the row's site list and count in the '$heading' table")
  }
}
