package graft.util

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.LongAdder

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{Dataset, SparkSession}

/** The engine's one memo layer for shared fixtures and subtrees. Every
  * value memoized here is a deterministic function of (corpus dir,
  * parameters), which is what makes dropping an entry and rebuilding it
  * later safe. Every parameter that changes a value goes into its `name`
  * (`simhash_pairs/$maxHamming`), so one name never serves two values.
  *
  * Two scopes:
  *   - [[corpus]]: kept for the life of the JVM, keyed by (corpus dir,
  *     name) — on-disk fixture layouts written once per corpus.
  *   - [[session]]: keyed by (session UUID, corpus dir, name) — DataFrames
  *     and session-bound objects. The entry is dropped once its session
  *     is dead (collected, or its SparkContext stopped), and a DataFrame
  *     value (or DataFrame element of a tuple value) is unpersisted.
  *
  * Builds run OUTSIDE the map lock, through a per-key [[Once]] slot: the
  * map is touched only to look a slot up or insert it, so a build may call
  * other keys of this memo (`shardedJaccardPairs` → `docTokens` →
  * `corpusToksAndSigs` → `Tables.read` nest four deep), which a build
  * inside `computeIfAbsent` on the one shared map could not do without
  * "Recursive update" failures or cross-thread bin-lock deadlocks.
  * Concurrent callers of one key build once; a build that throws is
  * retried by the next caller.
  *
  * Per name, the memo counts calls, builds and build seconds ([[stats]];
  * `graft.Bench` writes them to its full bench file). A nested build's
  * seconds include its inner builds.
  */
object Memo {
  final case class Stat(builds: Long, hits: Long, buildSeconds: Double)

  private final class Counter {
    val calls, builds, nanos = new LongAdder
  }

  /** Scope component of corpus-scope keys; session UUIDs never equal it. */
  private val Jvm = "jvm"

  private val slots = new ConcurrentHashMap[(String, String, String), Once[Any]]()
  private val counters = new ConcurrentHashMap[String, Counter]()

  /** JVM-lifetime value for (corpus dir `d`, `name`). */
  def corpus[V](d: String, name: String)(build: => V): V =
    get(Jvm, d, name, build)

  /** Value for (session `s`, corpus dir `d`, `name`), dropped when `s` dies. */
  def session[V](s: SparkSession, d: String, name: String)(build: => V): V =
    get(sessionKey(s), d, name, build)

  private def get[V](scope: String, d: String, name: String, build: => V): V = {
    val c = counters.computeIfAbsent(name, _ => new Counter)
    c.calls.increment()
    val key = (scope, d, name)
    val slot = slots.computeIfAbsent(key, _ => new Once[Any](() => {
      val t0 = System.nanoTime()
      try build
      finally { c.builds.increment(); c.nanos.add(System.nanoTime() - t0) }
    }))
    // a failed slot leaves the map, so the next caller retries with its
    // OWN builder, not one closed over an earlier caller's (maybe dead)
    // session
    try slot.value.asInstanceOf[V]
    catch { case t: Throwable => slots.remove(key, slot); throw t }
  }

  /** Names resident for corpus dir `d`, over all scopes (test seam). */
  private[util] def residentNames(d: String): Set[String] =
    slots.keySet.asScala.collect { case (_, `d`, n) => n }.toSet

  /** Builds, hits (calls that ran no build) and build seconds per name. */
  def stats: Map[String, Stat] =
    counters.asScala.map { case (n, c) =>
      val b = c.builds.sum()
      n -> Stat(b, c.calls.sum() - b, c.nanos.sum() / 1e9)
    }.toMap

  private val sessionIds: java.util.Map[SparkSession, String] =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkSession, String]())

  /** UUID → weak session ref, for liveness checks at sweep time. The weak
    * ref never pins the session.
    */
  private val sessionRefs =
    new ConcurrentHashMap[String, java.lang.ref.WeakReference[SparkSession]]()

  /** Per-session UUID via a weak identity map — the ONE place that keys
    * on a live SparkSession: the String value holds no reference back to
    * the session, so the weak key actually works (a map whose VALUES are
    * DataFrames would pin its session keys forever — DataFrames reference
    * their session). Unlike an identity hash, a random UUID can never
    * alias a collected session with a new one in a long-lived JVM. Minting
    * a key is the moment a session-cycling JVM starts growing the memo,
    * so it triggers the dead-session sweep — outside the map monitor, and
    * no memo lock is held while a build runs, so the sweep takes no lock
    * a concurrent caller could be holding.
    */
  private[graft] def sessionKey(s: SparkSession): String = {
    val existing = sessionIds.get(s)
    if (existing != null) existing
    else {
      val id = sessionIds.computeIfAbsent(s, _ => java.util.UUID.randomUUID().toString)
      sessionRefs.putIfAbsent(id, new java.lang.ref.WeakReference(s))
      sweepDeadSessions()
      id
    }
  }

  /** Drop every entry of each dead session (collected, or its context
    * stopped) and unpersist its DataFrames. Racing sweeps are harmless:
    * removal is by (key, slot) and happens once.
    */
  private[graft] def sweepDeadSessions(): Unit =
    sessionRefs.forEach { (id, ref) =>
      val s = ref.get()
      if ((s == null || s.sparkContext.isStopped) && sessionRefs.remove(id, ref))
        slots.forEach { (k, slot) =>
          if (k._1 == id && slots.remove(k, slot) && slot.isBuilt) release(k, slot.value)
        }
    }

  /** Unpersist the DataFrames of an evicted value. A stopped context took
    * its blocks with it; any other failure is logged with the entry's name
    * and the sweep continues.
    */
  private def release(k: (String, String, String), v: Any): Unit = {
    val dfs = v match {
      case df: Dataset[_] => Seq(df)
      case p: Product => p.productIterator.collect { case df: Dataset[_] => df }.toSeq
      case _ => Nil
    }
    dfs.filterNot(_.sparkSession.sparkContext.isStopped).foreach { df =>
      try df.unpersist(blocking = false)
      catch {
        case NonFatal(e) =>
          System.err.println(s"Memo: unpersist of ${k._3} (corpus ${k._2}) failed on eviction: $e")
      }
    }
  }
}
