package graft

import org.scalatest.funsuite.AnyFunSuite

/** CI guard for SCALE.md's "Round-8 broadcast audit" table: every
  * `broadcast(` occurrence in src/main is inventoried there with the bound
  * that justifies it (constant taxonomy, 1-row total, declared strategy, or
  * a U.sizeGate dispatch). The per-file counts are the table's own `(N)`
  * cells, so an undocumented, potentially unbounded broadcast cannot merge
  * silently. U.scala's sizeGate references the bare `broadcast` function
  * value (no call parens): its row reads `(0 counted)`.
  */
class BroadcastAuditSpec extends AnyFunSuite {
  test("every broadcast() site in src/main is inventoried in SCALE.md") {
    PostureAudit.check("## Round-8 broadcast audit", "broadcast\\(".r,
      "classify each site's bound (or gate it via U.sizeGate)")
  }
}
