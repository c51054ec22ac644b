package graft

import org.apache.spark.sql.SparkSession

/** Cost attribution for the streaming replay family (r7 verdict item #5):
  * the bench's 2.3-4.4 s/query on stream_* is NOT data volume — it is the
  * fixed micro-batch machinery. Each memory-sinked replay runs
  * Trigger.AvailableNow over 8 staged files at 4 files/batch with 4
  * shuffle partitions, so every stateful operator commits
  * batches × 4 state-store instances; this main prints the measured
  * batch/commit/update wall-clock per representative query from
  * StreamingQueryProgress (captured by runStream into lastReplayNote).
  * The measured numbers are pinned in BASELINE.md's BENCH-NOTES section.
  */
object StreamProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.streaming.forceDeleteTempCheckpointLocation", "true")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val picks = Seq("stream_pipeline", "stream_chained_agg", "stream_session",
      "stream_tumbling_watermark", "stream_stateful_tws", "stream_dedup",
      "stream_psi",
      // the two r14 regression suspects (adjudicated ambient in r15 —
      // TimeOne triples flat at ~3.4 / ~2.2 s; kept in the picks so the
      // decomposition stays on record round over round)
      "stream_idle_timeout", "stream_neardup")
    for (name <- picks) {
      val t0 = System.nanoTime()
      val n = graft.streaming.StreamingQueries.queries(name)(spark, sfDir).count()
      val secs = (System.nanoTime() - t0) / 1e9
      println(f"[sprof] $name%-26s ${secs}%6.2f s rows=$n%-7d " +
        graft.streaming.StreamingQueries.lastReplayNote)
      U.releaseTracked()
    }
    spark.stop()
  }
}
