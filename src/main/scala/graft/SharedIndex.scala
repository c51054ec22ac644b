package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one registry of indexes that several queries of a session share:
  * the co-purchase graph frames, the collected embedding Gram, the shingle and
  * candidate-pair frames, the IVF/PQ codebooks and assignments.
  *
  * Policy: an entry exists only when at least two distinct declared queries
  * read it (SharedIndexSpec enforces this). A warm-up only moves the build
  * out of the timed region, it never makes a query cheaper, so a
  * single-consumer memo is attribution gaming, not reuse.
  *
  * Lifetime is explicit: an entry holds ONE value, for one (session, sfDir).
  * A get for another session or another sfDir unpersists the held frames and
  * rebuilds, so a JVM that runs several scale factors pins only the latest.
  * Held frames are deliberately not [[U.track]]ed: they outlive the query
  * that built them.
  *
  * One lock guards every entry. JVM monitors are reentrant, so a build may
  * get another entry (`wedgeFrames` reads `coPairs`) on the same thread. */
object SharedIndex {

  final class Entry[T] private[SharedIndex] (val name: String,
      val consumers: Set[String], frames: T => Seq[DataFrame],
      build: (SparkSession, String) => T) {
    private var held: Option[(SparkSession, String, T)] = None
    private var nGets = 0L

    /** The value for (s, d): the held one when both match (session by
      * identity: a frame bound to a stopped session must be rebuilt),
      * otherwise a fresh build that replaces it. */
    def get(s: SparkSession, d: String): T = lock.synchronized {
      nGets += 1
      held match {
        case Some((hs, hd, v)) if (hs eq s) && hd == d => v
        case _ =>
          evict()
          val v = build(s, d)
          held = Some((s, d, v))
          v
      }
    }

    /** Builds the value for (s, d) and materializes each of its frames. */
    def warm(s: SparkSession, d: String): Unit =
      frames(get(s, d)).foreach(_.count())

    private def evict(): Unit = {
      held.foreach { case (_, _, v) =>
        frames(v).foreach(f => try f.unpersist() catch { case _: Throwable => () })
      }
      held = None
    }

    /** Number of gets so far; lets a spec check the declared consumers. */
    private[graft] def gets: Long = lock.synchronized(nGets)
  }

  private val lock = new Object
  private val registered = scala.collection.mutable.ArrayBuffer[Entry[_]]()

  /** Declares an entry: its name, the queries that read it, the frames of
    * its value to unpersist on eviction, and its build. */
  def apply[T](name: String, consumers: Seq[String],
      frames: T => Seq[DataFrame])(build: (SparkSession, String) => T)
      : Entry[T] = {
    val e = new Entry(name, consumers.toSet, frames, build)
    registered.synchronized(registered += e)
    e
  }

  /** Every entry. Entries register when their module object initializes;
    * resolving [[SparkEntry.queries]] initializes every module. */
  def entries: Seq[Entry[_]] = {
    SparkEntry.queries
    registered.synchronized(registered.toSeq)
  }
}
