package graft

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.llm.GramKernel

/** The local spectral kernels over the collected Gram: row-identical
  * to the distributed DataFrame power iteration they replaced, overflowing
  * where Spark's ANSI arithmetic overflows, and starting no Spark job once
  * the Gram is held. */
class GramKernelSpec extends SparkTestBase {
  import spark.implicits._

  // The replaced DataFrame forms, kept here as the reference: the Gram
  // cells, 2 power-iteration rounds, 2 deflated rounds, the CKA sums.
  private def gramFrame(sf: String): DataFrame =
    U.tbl(spark, sf, "embeddings")
      .select(transform(col("embedding"),
        x => floor(x.cast(DoubleType) * lit(1000000.0)).cast(LongType)).as("f"))
      .select(posexplode(col("f")).as(Seq("i", "x")), col("f"))
      .select(col("i"), col("x"), posexplode(col("f")).as(Seq("j", "y")))
      .groupBy(col("i"), col("j"))
      .agg(expr("sum(x * y) DIV 1000000000").as("c"))

  private def topEigvecDf(g: DataFrame): DataFrame = {
    var v = g.select(col("i").as("dim")).distinct().withColumn("v", lit(1000000L))
    for (_ <- 0 until 2) {
      val q = g.join(broadcast(v), col("j") === col("dim"))
        .groupBy(col("i")).agg(sum(expr("c * v")).as("q"))
      val mx = q.agg(max(abs(col("q"))).as("mx"))
      v = q.crossJoin(broadcast(mx))
        .select(col("i").as("dim"), expr("(q * 1000000) DIV mx").as("v"))
    }
    v.select(col("dim").cast(LongType).as("dim"), col("v")).orderBy("dim")
  }

  private def pca2Df(g: DataFrame): DataFrame = {
    val wAll = Window.partitionBy(lit(1))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val v1 = topEigvecDf(g).localCheckpoint()
    var u = v1.select(col("dim"), expr("CAST(CASE WHEN dim % 2 = 0 THEN " +
      "1000000 ELSE -1000000 END AS BIGINT)").as("u"))
    for (_ <- 0 until 2) {
      u = g.join(broadcast(u), col("j").cast(LongType) === col("dim"))
        .groupBy(col("i")).agg(sum(expr("c * u")).as("q"))
        .withColumn("mx", max(abs(col("q"))).over(wAll))
        .select(col("i").cast(LongType).as("dim"),
          expr("(q * 1000000) DIV mx").as("qn"))
        .join(broadcast(v1), Seq("dim"))
        .withColumn("s", sum(expr("qn * v")).over(wAll))
        .withColumn("t", sum(expr("v * v")).over(wAll))
        .select(col("dim"),
          expr("qn - CAST((CAST(s AS DECIMAL(38,0)) * v) DIV t AS BIGINT)").as("o"))
        .withColumn("mo", max(abs(col("o"))).over(wAll))
        .select(col("dim"), expr("(o * 1000000) DIV mo").as("u"))
    }
    v1.join(u, Seq("dim"))
      .select(col("dim"), col("v").as("pc1"), col("u").as("pc2")).orderBy("dim")
  }

  private def ckaDf(g: DataFrame): DataFrame = {
    val dec = DecimalType(38, 0)
    def part(p: org.apache.spark.sql.Column) =
      sum(when(p, col("c").cast(dec) * col("c")).otherwise(lit(0L).cast(dec)))
    g.agg(part(col("i") < 32 && col("j") < 32).as("fxx"),
        part(col("i") < 32 && col("j") >= 32).as("fxy"),
        part(col("i") >= 32 && col("j") >= 32).as("fyy"))
      .select(expr("CAST(fxx AS BIGINT)").as("fxx"),
        expr("CAST(fxy AS BIGINT)").as("fxy"),
        expr("CAST(fyy AS BIGINT)").as("fyy"),
        expr("CASE WHEN fxx > 0 AND fyy > 0 THEN " +
          "CAST((CAST(fxy AS DECIMAL(38,0)) * fxy * 1000000) DIV " +
          "(CAST(fxx AS DECIMAL(38,0)) * fyy) AS BIGINT) END").as("cka2_micro"))
  }

  private def rows(df: DataFrame): Seq[Seq[Any]] = df.collect().toSeq.map(_.toSeq)
  private def cols(df: DataFrame) = df.schema.map(f => f.name -> f.dataType)

  test("local kernels are row-identical to the DataFrame power iteration") {
    for (sf <- Seq(sfDir, sfDir.replace("sf0.001", "sf0.01"))) {
      val g = gramFrame(sf).persist()
      try {
        val refs = Seq("emb_top_eigvec" -> topEigvecDf(g),
          "emb_pca2" -> pca2Df(g), "emb_cka" -> ckaDf(g))
        for ((q, ref) <- refs) {
          val got = SparkEntry.queries(q)(spark, sf)
          assert(cols(got) == cols(ref), s"$q schema at $sf")
          val (a, b) = (rows(got), rows(ref))
          assert(b.nonEmpty && a == b, s"$q at $sf: kernel $a vs DataFrame $b")
        }
      } finally g.unpersist()
    }
  }

  test("c·v past Long throws like Spark's ANSI sum(c * v) instead of wrapping") {
    // 1e13 · 1e6 = 1e19 > Long.MaxValue in the first round's q = C·v
    val g = Array(Array(10000000000000L, 1L), Array(1L, 1L))
    intercept[ArithmeticException](GramKernel.topEigvec(g))
    intercept[ArithmeticException](GramKernel.pca2(g))
    val cells = (for (i <- 0 until 2; j <- 0 until 2) yield (i, j, g(i)(j)))
      .toDF("i", "j", "c")
    val v0 = Seq(0L, 1L).toDF("dim").withColumn("v", lit(1000000L))
    val e = intercept[Exception](cells.join(v0, col("j") === col("dim"))
      .groupBy(col("i")).agg(sum(expr("c * v"))).collect())
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(_.isInstanceOf[ArithmeticException]), s"Spark raised $e")
  }

  test("with the Gram held, the spectral frames are built without a Spark job") {
    val sc = spark.sparkContext
    SharedIndex.entries.find(_.name == "gram").get.get(spark, sfDir)
    val seen = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.add(Option(e.properties).flatMap(p =>
          Option(p.getProperty("graft.spec.mark"))).getOrElse("job"))
    }
    // a marked job after the builds: events arrive in order, so once it is
    // seen every job the builds started has been seen too
    def mark(m: String): Unit = {
      sc.setLocalProperty("graft.spec.mark", m)
      try spark.range(1).count() finally sc.setLocalProperty("graft.spec.mark", null)
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (!seen.contains(m) && System.nanoTime() < deadline) Thread.sleep(10)
      assert(seen.contains(m), s"marker job $m never reached the listener")
    }
    sc.addSparkListener(listener)
    try {
      mark("begin")
      seen.clear()
      Seq("emb_top_eigvec", "emb_pca2", "emb_cka")
        .foreach(q => SparkEntry.queries(q)(spark, sfDir))
      mark("end")
      val jobs = seen.asScala.takeWhile(_ != "end").toSeq
      assert(jobs.isEmpty, s"${jobs.size} Spark jobs while building the frames")
    } finally sc.removeSparkListener(listener)
  }
}
