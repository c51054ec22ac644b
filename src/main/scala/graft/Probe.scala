package graft

import graft.streaming.StreamingQueries

/** Plan and timing probe: `runMain graft.Probe <query…>`. On Bench's
  * session and fixture directory, per query in sorted order, it prints the
  * formatted physical plan, a cold and a warm run of Bench's timed call
  * ([[Session.timed]]) with row counts, and the note of the last streaming
  * replay the query ran (nothing when it ran none), so a probe number
  * explains the bench number it was taken beside. */
object Probe {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: graft.Probe <query…>")
    val (spark, sfDir) = (Session.local(), Session.sfDir)
    try Session.eachQuery(args.toSeq) { (name, fn) =>
      println(s"===== $name =====")
      StreamingQueries.lastReplayNote = ""
      val cold = Session.timed(spark, sfDir, fn)
      U.releaseTracked()
      val warm = Session.timed(spark, sfDir, fn)
      warm._2.foreach { case (df, _) => df.explain("formatted") }
      for ((tag, (secs, r)) <- Seq("cold" -> cold, "warm" -> warm))
        println(f"$tag: $secs%.3f s " +
          r.fold(e => s"failed: $e", { case (_, rows) => s"rows=$rows" }))
      if (StreamingQueries.lastReplayNote.nonEmpty)
        println(s"replay: ${StreamingQueries.lastReplayNote}")
    } finally spark.stop()
  }
}
