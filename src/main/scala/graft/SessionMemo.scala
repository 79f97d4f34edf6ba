package graft

import java.util.concurrent.ConcurrentHashMap
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** The one memo for frames that query invocations share: resolved
  * tables and the families' shared caches, keyed by (session, scale
  * dir, name). A frame that is a registered shared cache is memoized
  * under its `SparkEntry.sharedCaches` name (`dedup.keeper_pairs`).
  *
  * Invariants:
  *  - Frames are shared by object identity. A checkpointed frame's plan
  *    is a `LogicalRDD` leaf, and every `localCheckpoint` mints a new
  *    RDD, so plan equality can never find it again; a persisted frame
  *    could be re-found through the CacheManager, but only after
  *    re-deriving and re-analyzing its whole plan on every call.
  *    Returning the same DataFrame costs neither. The build closure
  *    decides how the frame materializes (`.persist()`,
  *    `.localCheckpoint()`, or neither for a resolved table); the memo
  *    only shares it.
  *  - Builds nest: a build may memoize its upstream frames through
  *    this object. Lookup is therefore get-then-putIfAbsent, never
  *    `computeIfAbsent`, which forbids recursive updates. Two racing
  *    builds of one key both run; the winner's frame is returned to
  *    both, and the loser's checkpoint blocks are freed (a loser's
  *    `persist()` registered the winner's plan, so it is left alone).
  *  - Lifetime: an entry lives until [[release]] of its (session, dir)
  *    or the end of its session's SparkContext. One listener per
  *    context drops every entry of that context on application end;
  *    blocks need no freeing then, since the block manager stops with
  *    the context. A session abandoned while its context runs keeps
  *    its entries until [[release]].
  *  - [[release]] is the one release call. It drops the (session,
  *    dir)'s entries and frees what their builds materialized: the
  *    blocks behind a checkpointed frame's `LogicalRDD` and the
  *    CacheManager entry of a persisted frame. CacheManager entries are
  *    shared by plan across the sessions of one context, so a
  *    persisted frame stays cached while another session still holds a
  *    live entry of the same (dir, name).
  */
object SessionMemo {

  private final case class Key(s: SparkSession, d: String, name: String)
  private final case class Entry(df: DataFrame, persisted: Boolean)

  private val entries = new ConcurrentHashMap[Key, Entry]()
  private val watched = ConcurrentHashMap.newKeySet[SparkContext]()

  /** The (s, d, name) frame, built by `build` on first use. */
  def apply(s: SparkSession, d: String, name: String)(
      build: => DataFrame): DataFrame = {
    val key = Key(s, d, name)
    val hit = entries.get(key)
    if (hit != null) return hit.df
    watch(s.sparkContext)
    val built = build
    val entry = Entry(built, built.storageLevel != StorageLevel.NONE)
    val prev = entries.putIfAbsent(key, entry)
    if (prev == null) built
    else {
      if (!entry.persisted) freeCheckpoint(built)
      prev.df
    }
  }

  /** Drops every entry of (s, d) and frees its blocks (see the object
    * doc for what is freed and when a persisted frame is kept).
    */
  def release(s: SparkSession, d: String): Unit =
    entries.keySet.asScala.filter(k => (k.s eq s) && k.d == d)
      .foreach { k =>
        Option(entries.remove(k)).foreach { e =>
          if (!e.persisted) freeCheckpoint(e.df)
          else if (!entries.keySet.asScala.exists(o => o.d == k.d &&
              o.name == k.name && (o.s.sparkContext eq s.sparkContext)))
            e.df.unpersist(blocking = false)
        }
      }

  /** Names of the live entries of (s, d). */
  private[graft] def names(s: SparkSession, d: String): Set[String] =
    entries.keySet.asScala.collect {
      case k if (k.s eq s) && k.d == d => k.name }.toSet

  /** Number of live entries over every session. */
  private[graft] def size: Int = entries.size

  private def freeCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed match {
      case l: LogicalRDD => l.rdd.unpersist(blocking = false)
      case _ =>
    }

  private def watch(sc: SparkContext): Unit =
    if (watched.add(sc))
      sc.addSparkListener(new SparkListener {
        override def onApplicationEnd(e: SparkListenerApplicationEnd)
            : Unit = {
          entries.keySet.removeIf(_.s.sparkContext eq sc)
          watched.remove(sc)
        }
      })
}
