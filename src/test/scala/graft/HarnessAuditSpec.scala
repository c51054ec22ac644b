package graft

import java.nio.file.Files

/** The one harness ([[Session]]): one session builder, one query loop and
  * the only environment reads, shared by the three mains. The functions
  * are called directly, never a `main`: every main stops its session,
  * which here is the shared test session. */
class HarnessAuditSpec extends SparkTestBase {
  test("src/main has one session builder, three mains and one env reader") {
    assert(PostureAudit.sourceCounts("SparkSession\\.builder".r) ==
      Map("Session.scala" -> 1))
    assert(PostureAudit.sourceCounts("def main\\(".r).keySet ==
      Set("Bench.scala", "Verify.scala", "Probe.scala"))
    assert(PostureAudit.sourceCounts("sys\\.env|getenv|SPARK_GRAFT_".r)
      .keySet == Set("Session.scala"))
  }

  test("the query loop rejects an unknown name before running any query") {
    var ran = List.empty[String]
    val e = intercept[IllegalArgumentException] {
      Session.eachQuery(Seq("filter_null", "no_such_query")) { (n, _) => ran ::= n }
    }
    assert(e.getMessage.contains("no_such_query"))
    assert(ran.isEmpty)
  }

  test("the query loop runs the named queries once each, in sorted order") {
    val got = Session.eachQuery(Seq("filter_pred", "filter_null", "filter_pred")) {
      (n, _) => n.length
    }
    assert(got == Seq("filter_null" -> 11, "filter_pred" -> 11))
  }

  test("Bench writes bench_latest.json only for a run on the sf0.1 fixtures") {
    val tmp = "/tmp/graft_bench.json"
    for (d <- Seq("data/sf0.1", "/data/sf0.1/", "sf0.1", "/x/../data/sf0.1"))
      assert(Bench.outputPaths(d) == Seq(tmp, "bench_latest.json"), d)
    for (d <- Seq("data/sf0.01", "/data/sf0.001", "/data/sf0.1/sub", "sf0.10"))
      assert(Bench.outputPaths(d) == Seq(tmp), d)
  }

  test("Verify.dump leaves no stale output when a query fails to build") {
    val out = Files.createTempDirectory("graft_verify").toString
    val dir = new java.io.File(s"$out/filter_null")
    try {
      Verify.dump(spark, sfDir, out, "filter_null",
        SparkEntry.queries("filter_null"))
      assert(dir.isDirectory &&
        dir.listFiles().exists(_.getName.endsWith(".parquet")))
      Verify.dump(spark, sfDir, out, "filter_null",
        (_, _) => throw new IllegalStateException("build failed"))
      assert(!dir.exists())
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(out))
  }
}
