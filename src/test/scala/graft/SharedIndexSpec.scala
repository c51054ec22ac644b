package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** The [[SharedIndex]] registry: its ≥2-consumer policy, that the declared
  * consumers really read their entry, the (session, sfDir) lifecycle, and a
  * source audit that keeps every shared index inside the registry. */
class SharedIndexSpec extends SparkTestBase {

  private def entry(name: String) = SharedIndex.entries.find(_.name == name).get

  test("every entry has >= 2 distinct declared consumers, all real queries") {
    val entries = SharedIndex.entries
    assert(entries.nonEmpty)
    assert(entries.map(_.name).distinct.size == entries.size)
    val queries = SparkEntry.queries.keySet
    entries.foreach { e =>
      assert(e.consumers.size >= 2,
        s"${e.name}: a memoized index needs >= 2 consumer queries")
      val unknown = e.consumers -- queries
      assert(unknown.isEmpty, s"${e.name} declares unknown queries $unknown")
    }
  }

  test("each declared consumer performs a get on its entry") {
    val entries = SharedIndex.entries
    val fns = SparkEntry.queries
    val touched = entries.flatMap(_.consumers).distinct.sorted.map { q =>
      val before = entries.map(_.gets)
      fns(q)(spark, sfDir)
      U.releaseTracked()
      q -> entries.zip(before).collect { case (e, b) if e.gets > b => e.name }
    }.toMap
    for (e <- entries; q <- e.consumers)
      assert(touched(q).contains(e.name), s"$q declared on ${e.name} never gets it")
  }

  test("one value per (session, sfDir); another sfDir evicts the first") {
    val other = "/root/testdata/sf0.01"
    val sc = spark.sparkContext
    for (name <- Seq("shingled", "permPvals", "knnAssigned")) {
      val e = entry(name)
      val a = e.get(spark, sfDir).asInstanceOf[AnyRef]
      assert(a eq e.get(spark, sfDir).asInstanceOf[AnyRef])
      e.warm(spark, other)
      val before = sc.getPersistentRDDs.keySet
      e.warm(spark, sfDir)
      val held = sc.getPersistentRDDs.keySet -- before
      assert(held.nonEmpty, s"$name persisted nothing for $sfDir")
      assert(!(a eq e.get(spark, sfDir).asInstanceOf[AnyRef]))
      e.warm(spark, other)
      val left = held & sc.getPersistentRDDs.keySet
      assert(left.isEmpty, s"$name still pins $sfDir's RDDs $left")
      e.get(spark, sfDir)
    }
    // the collected Gram holds no frame: a second sfDir replaces the value
    val g = entry("gram")
    val a = g.get(spark, sfDir).asInstanceOf[AnyRef]
    assert(a eq g.get(spark, sfDir).asInstanceOf[AnyRef])
    g.get(spark, other)
    assert(!(a eq g.get(spark, sfDir).asInstanceOf[AnyRef]))
  }

  test("no hand-rolled per-(session, sfDir) cache outside SharedIndex.scala") {
    val root = Paths.get("src/main/scala")
    val banned = Seq("""sess\s+eq\s+s\b""",
      """mutable\s*\.\s*Map\s*\[\s*String\s*,\s*\(\s*SparkSession""").map(_.r)
    val hits = Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") &&
        p.getFileName.toString != "SharedIndex.scala")
      .filter { p =>
        val code = Files.readString(p)
        banned.exists(_.findFirstIn(code).isDefined)
      }
      .map(root.relativize(_).toString).toSeq
    assert(hits.isEmpty, s"per-(session, sfDir) cache outside the registry " +
      s"in $hits — declare it as a SharedIndex entry instead")
  }
}
