package graft

import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import graft.operators.Graphs

/** The single-task graph runner (`Graphs.singleTask`): its BFS kernels
  * seed only from nodes with an out-edge, as their distributed twins do,
  * and building a gated frame starts no Spark job beyond the gate's
  * count. */
class GraphSingleTaskSpec extends SparkTestBase {
  import spark.implicits._

  test("closeness, eccentricity and BFS: both arms agree on a non-symmetric graph") {
    // nodes 1, 2, 3 are only ever targets and have the lowest ids: a
    // kernel that drew seeds from every interned node would start from
    // them, while the twins draw from the distinct sources 5..12
    val adj = Seq(5L -> 1L, 5L -> 2L, 5L -> 6L, 6L -> 7L, 7L -> 5L, 6L -> 3L,
      8L -> 9L, 9L -> 10L, 10L -> 11L, 11L -> 12L, 12L -> 8L, 12L -> 1L)
      .toDF("u", "v")
    def rows(f: Long => org.apache.spark.sql.DataFrame, cap: Long) = {
      val r = f(cap).collect().map(_.toSeq).toSeq
      U.releaseTracked()
      r
    }
    for ((name, f) <- Seq[(String, Long => org.apache.spark.sql.DataFrame)](
        "closeness" -> (Graphs.closenessOn(adj, _)),
        "eccentricity" -> (Graphs.eccentricityOn(adj, _)),
        "bfs" -> (Graphs.bfsOnAdj(adj, _)))) {
      val single = rows(f, Long.MaxValue)
      assert(single.nonEmpty && single == rows(f, 0L),
        s"$name: single-task and distributed arms disagree")
    }
    assert(rows(Graphs.eccentricityOn(adj, _), Long.MaxValue).map(_.head) ==
      Seq(5L, 6L, 7L, 8L, 9L), "eccentricity seeds must be the 5 lowest sources")
    assert(rows(Graphs.bfsOnAdj(adj, _), Long.MaxValue).head.take(2) ==
      Seq(5L, 0L), "BFS must start from the lowest source")
  }

  test("building graph_hits and graph_walk_corpus starts only the gate's count") {
    val sc = spark.sparkContext
    val edges = Graphs.pagerankEdgeFrame(spark, sfDir)
    edges.count() // the shared co-pair cache is held before counting jobs
    val seen = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.add(Option(e.properties).flatMap(p =>
          Option(p.getProperty("graft.spec.mark"))).getOrElse("job"))
    }
    // a marked job after the body: events arrive in order, so once it is
    // seen every job the body started has been seen too
    def mark(m: String): Unit = {
      sc.setLocalProperty("graft.spec.mark", m)
      try spark.range(1).count() finally sc.setLocalProperty("graft.spec.mark", null)
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (!seen.contains(m) && System.nanoTime() < deadline) Thread.sleep(10)
      assert(seen.contains(m), s"marker job $m never reached the listener")
    }
    def jobs(body: => Unit): Int = {
      mark("begin")
      seen.clear()
      body
      mark("end")
      val n = seen.toArray.takeWhile(_ != "end").length
      seen.clear()
      n
    }
    sc.addSparkListener(listener)
    try {
      val gate = jobs(edges.count())
      val hits = jobs(SparkEntry.queries("graph_hits")(spark, sfDir))
      val walk = jobs(Graphs.walkCorpusImpl(spark, sfDir, Long.MaxValue))
      assert(gate > 0 && hits == gate && walk == gate,
        s"gate count $gate jobs; graph_hits build $hits, walk build $walk")
    } finally sc.removeSparkListener(listener)
  }
}
