package graft

import org.scalatest.funsuite.AnyFunSuite

/** CI guard for SCALE.md's "Round-10 single-task audit" table: every
  * `coalesce(1)` site in src/main funnels a frame into ONE task, which
  * is only legitimate when the frame is bounded (a constant dim table,
  * a k-row index frame, a bounded staging slice) or the call sits below
  * a size gate whose above-cap twin is distributed (the graph kernels'
  * `Graphs.singleTask` runner, the DSU). The per-file counts are the
  * table's own `(N)` cells — the third way a distributed plan can
  * silently collapse to one machine, audited like the other two. */
class SingleTaskAuditSpec extends AnyFunSuite {
  test("every coalesce(1) site in src/main is inventoried in SCALE.md") {
    PostureAudit.check("## Round-10 single-task audit", "coalesce\\(1\\)".r,
      "classify each site's bound (constant frame / size-gated kernel / " +
        "bounded staging slice)")
  }
}
