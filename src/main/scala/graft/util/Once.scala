package graft.util

/** Once-only memo slot: `lazy val` gives once-only building with the slot
  * — not any enclosing cache — as the synchronization domain, so a cache
  * holds its own lock only to look up or insert a slot and forces the
  * value outside it. Concurrent callers of one slot build exactly once;
  * if the builder throws, the slot stays unbuilt and the next caller's
  * force retries it (lazy-val semantics). `isBuilt` flips only AFTER the
  * builder returns, so an owner can tell a usable value from an in-flight
  * or failed build without forcing one. The builder reference is RELEASED
  * once the value exists: a by-name builder closes over its caller's
  * scope (a DataFrame, a session), which must not stay reachable for the
  * slot's whole residency.
  */
private[util] final class Once[V](builder: () => V) {
  @volatile private var build: () => V = builder
  @volatile private var built = false
  lazy val value: V = { val v = build(); built = true; build = null; v }
  def isBuilt: Boolean = built
}
