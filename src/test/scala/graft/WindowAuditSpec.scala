package graft

import org.scalatest.funsuite.AnyFunSuite

/** CI guard for SCALE.md's "Round-10 unpartitioned-window audit" table:
  * every `Window.orderBy(` site in src/main (i.e. a window WITHOUT a
  * partitionBy — the only window shape that funnels all rows into one
  * partition) is inventoried there with the bound that caps the sorted
  * frame (value-domain / calendar / degree-domain / block-frame /
  * constant). The per-file counts are the table's own `(N)` cells, so an
  * undocumented corpus-scale global sort cannot merge silently. The
  * partitioned form `Window.partitionBy(...).orderBy(...)` is
  * intentionally NOT counted: its parallelism is the partition key's
  * cardinality.
  */
class WindowAuditSpec extends AnyFunSuite {
  test("every Window.orderBy site in src/main is inventoried in SCALE.md") {
    PostureAudit.check("## Round-10 unpartitioned-window audit",
      "Window\\.orderBy\\(".r,
      "classify each site's bound (value-domain / calendar / degree-domain " +
        "/ block-frame / constant)")
  }
}
