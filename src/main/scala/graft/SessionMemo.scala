package graft

import scala.collection.concurrent.TrieMap
import org.apache.spark.sql.{DataFrame, GraftBridge, SparkSession}

/** The one owner of every session memo: shared graph, dedup, span,
  * token-kernel and BPE frames, input row counts and bloom-filter
  * bytes, in one concurrent map keyed by `(kind, session, key)`. `kind`
  * names the memo family; `key` is the family's own key (usually the
  * sf dir), which must change when the data it was built from changes.
  *
  * Lifecycle of every entry:
  *  - build outside the map, publish with putIfAbsent. Concurrent first
  *    callers may each build; one build is published, every caller gets
  *    it, and the losers' pinned frames are freed at once, so no
  *    localCheckpoint blocks are left unowned.
  *  - pins: the checkpointed frames the build created. A frame another
  *    entry owns (LPA's edge list is the graphSym frame) is not pinned
  *    again, so a lost race never frees a frame still being served.
  *  - clear() drops and frees every entry that pins frames; the memos
  *    rebuild lazily on next use. Scalar entries hold no block-manager
  *    storage and outlive it.
  */
object SessionMemo {

  private final case class Entry(value: Any, pins: Seq[DataFrame])

  private val memo = TrieMap.empty[(String, Option[SparkSession], Any), Entry]

  /** A checkpointed frame; the frame is its own pin. */
  def frame(kind: String, s: SparkSession, key: Any)(build: => DataFrame): DataFrame =
    memoize(kind, Some(s), key)(build)(Seq(_))

  /** A value holding several frames; `pins` lists the ones its build
    * created (and so owns).
    */
  def frames[V](kind: String, s: SparkSession, key: Any)(build: => V)(
      pins: V => Seq[DataFrame]): V =
    memoize(kind, Some(s), key)(build)(pins)

  /** A plain value with no block-manager storage: kept across `clear()`.
    * `s = None` shares the entry across sessions for the JVM's life.
    */
  def scalar[V](kind: String, s: Option[SparkSession], key: Any)(build: => V): V =
    memoize(kind, s, key)(build)(_ => Nil)

  private def memoize[V](kind: String, s: Option[SparkSession], key: Any)(build: => V)(
      pins: V => Seq[DataFrame]): V = {
    val k = (kind, s, key)
    memo.get(k) match {
      case Some(e) => e.value.asInstanceOf[V]
      case None =>
        val built = build
        memo.putIfAbsent(k, Entry(built, pins(built))) match {
          case None => built
          case Some(winner) =>
            pins(built).foreach(GraftBridge.freeLocalCheckpoint)
            winner.value.asInstanceOf[V]
        }
    }
  }

  /** Drop every entry that pins frames and free its checkpoint blocks. */
  def clear(): Unit =
    memo.foreach { case (k, e) =>
      if (e.pins.nonEmpty && memo.remove(k, e)) e.pins.foreach(GraftBridge.freeLocalCheckpoint)
    }

  /** The between-queries sweep: clear the memos, the catalog cache and
    * every persistent RDD, so one query's materialized state cannot
    * squeeze the next query's execution memory.
    */
  def sweep(s: SparkSession): Unit = {
    clear()
    s.catalog.clearCache()
    s.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
  }

  /** The keys published under `kind` (for tests). */
  private[graft] def keys(kind: String): Seq[Any] =
    memo.keys.collect { case (`kind`, _, key) => key }.toSeq
}
