package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import scala.util.control.NonFatal

/** The engine's one cross-query memo. An entry is addressed by
  * (name, key) and carries a fingerprint of its inputs; a lookup under a
  * different fingerprint releases the old entry and rebuilds it.
  *
  * Entries whose value holds storage name it through `frames` (persisted
  * or localCheckpoint'd DataFrames). Those are bounded to `PerName`
  * per name, least recently used first out, and are the ones
  * [[invalidateAll]] drops: a harness that clears executor storage
  * wholesale (Bench/ScaleCurve at family boundaries, perfbench between
  * runs) calls it FIRST, because unpersisting a localCheckpoint RDD
  * destroys its only copy and a memo handing out the old DataFrame would
  * fail with CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND. Frame-less entries
  * (driver-side models, staged paths) survive a clear.
  *
  * Builds run under this object's monitor, which is reentrant: a build
  * may `get` another name. A build that throws stores nothing. Keys
  * that carry a SparkSession compare it by reference (it does not
  * override equals), so a stopped session's entries are never served
  * to a new one.
  */
object StorageMemos {

  /** Storage-holding entries kept per name: ScaleCurve interleaves a
    * small and a large dataset dir per query, so 1 would rebuild on
    * every timing. */
  private val PerName = 2

  private final case class Entry(fingerprint: String, value: Any, frames: Seq[DataFrame])
  // insertion order = recency: a hit re-inserts, so the head is the LRU
  private val entries = scala.collection.mutable.LinkedHashMap.empty[(String, Any), Entry]
  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** The value stored under (name, key) and `fingerprint`; otherwise
    * build, store and return it. A call without `frames` names `V`: the
    * default alone would infer it as Any. */
  def get[V](name: String, key: Any, fingerprint: String = "",
      frames: V => Seq[DataFrame] = (_: V) => Nil)(build: => V): V = synchronized {
    entries.get((name, key)) match {
      case Some(e) if e.fingerprint == fingerprint =>
        entries.remove((name, key)); entries.put((name, key), e)
        e.value.asInstanceOf[V]
      case _ => put(name, key, fingerprint, frames)(build)
    }
  }

  /** Build and store under (name, key), replacing any entry there. */
  def put[V](name: String, key: Any, fingerprint: String = "",
      frames: V => Seq[DataFrame] = (_: V) => Nil)(build: => V): V = synchronized {
    entries.remove((name, key)).foreach { old =>
      if (old.fingerprint != fingerprint)
        log.warn(s"memo $name: rebuilding $key, its input fingerprint changed")
      release(old)
    }
    val t0 = System.nanoTime()
    val v = build
    log.info(s"memo $name: built in ${(System.nanoTime() - t0) / 1000000} ms")
    val e = Entry(fingerprint, v, frames(v))
    entries.put((name, key), e)
    if (e.frames.nonEmpty) {
      entries.iterator.collect { case (k, x) if k._1 == name && x.frames.nonEmpty => k }
        .toList.dropRight(PerName).foreach(k => entries.remove(k).foreach(release))
    }
    v
  }

  /** Release and drop every entry that holds storage. */
  def invalidateAll(): Unit = synchronized {
    entries.filterInPlace { case (_, e) => e.frames.isEmpty || { release(e); false } }
  }

  /** Unpersist each frame, then every localCheckpoint RDD (LogicalRDD)
    * its plan reads: `clearCache()` never frees those. */
  private def release(e: Entry): Unit = e.frames.foreach { df =>
    try {
      df.unpersist()
      df.queryExecution.analyzed.foreach {
        case l: LogicalRDD => l.rdd.unpersist(blocking = false); ()
        case _ => ()
      }
    } catch { case NonFatal(t) => log.warn(s"memo release: dropping $t") }
  }
}
