package graft

import java.util.concurrent.{ConcurrentHashMap, CopyOnWriteArrayList}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.concurrent.TrieMap
import scala.util.control.NonFatal

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD

/** One shared relation (or scalar) memoized per (session, dir) — the
  * "materialize once, consume many" discipline behind the graph, dedup,
  * vector and patent-pipeline families. Declared once with its label:
  * {{{
  *   private val edgeMemo = SessionMemo[DataFrame]("edges")
  *   def edges(s: SparkSession, d: String) = edgeMemo(s, d) { build }
  * }}}
  * Construction registers the memo, so every memo is labelled for the
  * build-time record and evicted by [[SessionMemo.clear]] — there is no
  * separate list to keep in sync. Eviction releases a value's storage:
  * cached frames are unpersisted and localCheckpoint blocks freed. */
private[graft] final class SessionMemo[V] private (val label: String) {
  private val cache = TrieMap.empty[(SparkSession, String), V]

  /** the memoized value for (s, d), running `build` on a miss. Entries
    * of stopped sessions are evicted first: without the sweep the map
    * would strongly retain dead sessions' DataFrames (and their plans)
    * for the JVM lifetime. */
  def apply(s: SparkSession, d: String)(build: => V): V = {
    evictWhere(_.sparkContext.isStopped)
    cache.getOrElseUpdate((s, d), {
      SessionMemo.builds.incrementAndGet()
      val t0 = System.nanoTime()
      val v = build
      // time spent INSIDE the build closure: eager builds
      // (localCheckpoint, an internal count) — exactly the expensive
      // ones — are captured fully; a lazy build records ~0 and its
      // cost rides the first consuming action
      val dt = (System.nanoTime() - t0) / 1e9
      SessionMemo.buildTimes.merge(label, dt, (a, b) => math.min(a, b))
      v
    })
  }

  private def evictWhere(p: SparkSession => Boolean): Unit =
    cache.filterInPlace { case ((sess, _), v) =>
      val drop = p(sess)
      if (drop) SessionMemo.release(v)
      !drop
    }
}

private[graft] object SessionMemo {
  private val all = new CopyOnWriteArrayList[SessionMemo[_]]

  def apply[V](label: String): SessionMemo[V] = {
    val m = new SessionMemo[V](label)
    all.forEach(o => require(o.label != label, s"duplicate memo label $label"))
    all.add(m)
    m
  }

  /** evict every memo entry of session `s`, releasing its storage.
    * Bench calls this after its warmup pass and between timed reps so
    * no timed query reads a relation or scalar another one built
    * (clearCache() alone would leave memoized-but-uncached frames that
    * recompute on every action). */
  def clear(s: SparkSession): Unit = all.forEach(_.evictWhere(_ eq s))

  /** count of memo builds since JVM start — Bench samples it around
    * each timed query to mark the memo-warming consumers, the rows
    * that carry a shared relation's build charge */
  val builds = new AtomicLong(0)

  /** min observed build seconds per memo label since the last
    * [[drainBuildTimes]] — Bench emits it as the "memo_build" map so
    * per-query comparison can subtract a memo move instead of reading
    * it as query drift */
  private val buildTimes = new ConcurrentHashMap[String, java.lang.Double]()

  def drainBuildTimes(): Map[String, Double] = {
    val out = Map.newBuilder[String, Double]
    buildTimes.forEach((k, v) => out += k -> v.doubleValue)
    buildTimes.clear()
    out.result()
  }

  /** release the storage behind an evicted value: unpersist a cached
    * frame and free a localCheckpoint'd one, recursing into multi-round
    * (Seq) and tupled values. Quiet: release on a dying session throws,
    * and eviction must still complete. */
  private def release(v: Any): Unit = v match {
    case ds: Dataset[_] =>
      try { ds.unpersist(); releaseLocalCheckpoint(ds) }
      catch { case NonFatal(_) => () }
    case seq: Seq[_] => seq.foreach(release)
    case p: Product => p.productIterator.foreach(release)
    case _ => ()
  }

  /** free the storage blocks behind a localCheckpoint'd Dataset:
    * Dataset.unpersist is a no-op for checkpoint blocks — they belong
    * to the internal RDD wrapped by the LogicalRDD leaf — so they would
    * linger until ContextCleaner GC. Only call this once every consumer
    * of the frame has MATERIALIZED (checkpoint blocks cannot be
    * recomputed). */
  def releaseLocalCheckpoint(df: Dataset[_]): Unit =
    df.queryExecution.logical match {
      case lr: LogicalRDD => lr.rdd.unpersist(blocking = false)
      case _ => ()
    }
}
