package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Correctness dump: `Verify <sfDir> <outDir> [name…]` writes each
  * SparkEntry.queries result (or just the named ones) to parquet, plus
  * oracle_sql.json, for the DuckDB compare (`tools/check.py`). */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    val spark = Session.local()
    try {
      new java.io.File(outDir).mkdirs()
      Session.eachQuery(args.drop(2).toSeq)(dump(spark, sfDir, outDir, _, _))
      // JSON string escape: backslash, quote, and ALL control chars (<0x20)
      // — a tab or CR in builder-authored SQL would otherwise make the
      // driver's json.load fail and silently zero the round's correctness.
      def q(s: String): String = "\"" + s.flatMap {
        case '"'  => "\\\""
        case '\\' => "\\\\"
        case '\n' => "\\n"
        case '\r' => "\\r"
        case '\t' => "\\t"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      } + "\""
      val json = SparkEntry.oracleSql
        .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
      Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    } finally spark.stop()
  }

  /** Write query `name`'s result to `outDir/name`. The previous run's
    * output is deleted first: a query that throws while its frame is built
    * must leave no directory behind for the oracle check to pass. */
  def dump(spark: SparkSession, sfDir: String, outDir: String, name: String,
      fn: Session.Query): Unit = {
    val out = s"$outDir/$name"
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(out))
    try fn(spark, sfDir).coalesce(1).write.parquet(out)
    catch { case e: Throwable =>
      // e.toString, not getMessage: NPE-style exceptions have null
      // messages and this line is the only diagnostic for a zeroed query
      System.err.println(s"[verify] $name failed: $e")
    }
  }
}
