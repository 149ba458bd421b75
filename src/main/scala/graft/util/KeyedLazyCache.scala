package graft.util

/** LRU-bounded memoizing cache for expensive build-once/use-many values
  * (e.g. an on-disk IVF index built from a corpus).
  *
  * Three lifecycle guarantees, all load-bearing for a long-lived JVM
  * serving many sessions:
  *
  *   1. '''Builds run OUTSIDE the shared lock.''' The map monitor is held
  *      only to look up / insert a memo slot (microseconds); forcing the
  *      slot's value runs the builder under the SLOT's own lazy-val lock
  *      ([[Once]], the slot [[Memo]] shares).
  *      Concurrent callers of the SAME key build exactly once; callers of
  *      DIFFERENT keys — and cache hits — never wait behind another key's
  *      build. (The pre-r10 IVF cache built full Spark jobs inside the
  *      global monitor, serializing every unrelated session's cache hit.)
  *
  *   2. '''Eviction never destroys the value's backing resources
  *      immediately.''' Values handed out by [[getOrBuild]] may outlive
  *      their cache residency (a lazy DataFrame over an evicted index's
  *      files is collected whenever the caller gets around to it), so
  *      eviction-time cleanup is a use-after-free by construction — the
  *      pre-r10 IVF cache deleted the evicted index's parquet inside
  *      `removeEldestEntry`, racing not-yet-collected queries into
  *      FileNotFoundException.
  *
  *   3. '''Retirement is DEFERRED but BOUNDED.''' A value that was
  *      already built WHEN EVICTED enters a FIFO retirement queue of
  *      depth `retireKeep`; once `retireKeep` further evictions have
  *      passed, the oldest is handed to `onRetire` (outside the lock) to
  *      free its backing resources. Total resource footprint is
  *      therefore bounded at `maxEntries + retireKeep` live values — not
  *      "every key ever seen", which for corpus-sized on-disk state is
  *      an operational disk-growth risk in a long-lived JVM. The
  *      residual race window is explicit and generational: a reader's
  *      value stays live until its key's EVICTION plus `retireKeep`
  *      further evictions — at minimum `retireKeep + 1` subsequent
  *      distinct-key builds, each a full corpus-scale index write, and
  *      more while the key stays recently used. (The bound is on
  *      evictions after the reader's key falls out, NOT a flat
  *      `maxEntries + retireKeep`: hits on other keys can demote a key
  *      to LRU without any build.) Callers whose values need no cleanup
  *      leave the default (`retireKeep = Int.MaxValue`): nothing is ever
  *      retired and resource lifetime falls to the owner (e.g. a
  *      [[TempDirs]] JVM-exit hook).
  *
  * Documented caveats:
  *   - Retire-eligibility is decided AT EVICTION TIME: a slot evicted
  *     while its value is still being built is never retired — even if
  *     the build completes moments later — because its builder's caller
  *     has not received the value yet and would otherwise face a
  *     zero-width window. Such a value's resources fall back to the
  *     owner's exit-time cleanup. And because the evicted slot is
  *     invisible to later callers of the same key, such a caller starts
  *     a duplicate build. Correctness is unaffected (builders are pure
  *     and produce independent resources); under heavy same-key churn at
  *     `maxEntries` this wastes builds — if that becomes real, consult a
  *     secondary in-flight map (key → Once) cleared on build completion.
  *   - `onRetire` is BEST-EFFORT: it runs on whichever caller thread
  *     happens to drain the queue, must be safe to call concurrently
  *     with readers of OTHER values, and a thrown exception is swallowed
  *     (the drain continues; the failed value's resources fall back to
  *     the owner's exit-time cleanup) — an unrelated caller, possibly a
  *     pure cache hit, must never fail because someone else's cleanup
  *     did.
  *
  * Eviction order is least-recently-USED (access-order LinkedHashMap), so
  * the hot working set survives a burst of one-off keys.
  */
final class KeyedLazyCache[K, V](
    maxEntries: Int,
    retireKeep: Int = Int.MaxValue,
    onRetire: V => Unit = (_: V) => ()) {
  require(maxEntries > 0, s"maxEntries must be positive, got $maxEntries")
  require(retireKeep >= 0, s"retireKeep must be non-negative, got $retireKeep")

  /** Evicted-but-not-yet-retired slots, oldest first. Only mutated under
    * the map monitor (removeEldestEntry fires inside our locked put).
    */
  private val retiredQ = new java.util.ArrayDeque[Once[V]]()

  private val map = new java.util.LinkedHashMap[K, Once[V]](16, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[K, Once[V]]): Boolean = {
      val evict = this.size() > maxEntries
      // retire-eligibility is decided HERE, not at drain time: a slot
      // still mid-build now may finish before the drain runs, and
      // retiring it then would destroy a value its builder's caller is
      // only just receiving (zero-width race window). Not enqueued ⇒
      // never retired ⇒ owner's exit-time cleanup applies.
      if (evict && retireKeep != Int.MaxValue && e.getValue.isBuilt)
        retiredQ.addLast(e.getValue)
      evict
    }
  }

  /** Return the cached value for `key`, building it (at most once per
    * residency) if absent. The builder — and any due `onRetire` work —
    * runs outside the cache-wide lock.
    *
    * If the builder throws, the failure propagates to every caller forced
    * on that slot while it remains cached (standard lazy-val semantics:
    * a later force retries the builder).
    */
  def getOrBuild(key: K)(build: => V): V = {
    val (slot, due) = map.synchronized {
      var s = map.get(key)
      if (s == null) { s = new Once(() => build); map.put(key, s) }
      val drained = Seq.newBuilder[Once[V]]
      while (retiredQ.size() > retireKeep) drained += retiredQ.pollFirst()
      (s, drained.result())
    }
    // best-effort, per slot: one failed cleanup must neither abort the
    // rest of the drained batch nor fail this (unrelated) caller — the
    // failed value's resources fall back to the owner's exit-time hook.
    // Logged, not silent: an operator debugging resource growth past the
    // documented bound needs the signal
    due.foreach { r =>
      try onRetire(r.value)
      catch {
        case scala.util.control.NonFatal(e) =>
          System.err.println(
            s"KeyedLazyCache: onRetire failed (resource falls back to exit-time cleanup): $e")
      }
    }
    slot.value
  }

  /** Current number of resident entries (test seam). */
  def size: Int = map.synchronized(map.size())

  /** Evicted values awaiting retirement (test seam). */
  def retiredPending: Int = map.synchronized(retiredQ.size())

  /** Whether `key` is currently resident (test seam). `containsKey` is not
    * an "access" on an access-order LinkedHashMap, so probing residency
    * does not promote the key and distort LRU assertions.
    */
  def contains(key: K): Boolean = map.synchronized(map.containsKey(key))
}
