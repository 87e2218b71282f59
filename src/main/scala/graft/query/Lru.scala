package graft.query

/** The one LRU of the query layer: access-ordered, bounded by a total
  * weight, safe under concurrent serving threads. `weigh` gives an entry's
  * weight (1 by default: an entry budget; a byte size for a byte budget);
  * `None` is a key the source does not hold, cached too so a repeat does
  * not re-probe. After a put the eldest entries are evicted until the
  * total is within `budget`; an entry heavier than the budget is evicted
  * at once.
  *
  * Eviction never corrupts an in-flight caller: [[getAll]] hands out the
  * values themselves, and eviction only drops the cache's reference. */
final class Lru[K, V](budget: Long,
    weigh: Option[V] => Long = (_: Option[V]) => 1L) {
  private val m = new java.util.LinkedHashMap[K, Option[V]](16, 0.75f, true)
  private var used = 0L

  /** The values of `keys` the source holds. Hits are snapshotted in the
    * same critical section that finds the misses (an entry seen there
    * cannot be evicted before it is read); the misses are fetched in ONE
    * call to `fetch`, outside the lock, and cached, absent ones as `None`.
    * A `fetch` that throws caches nothing. */
  def getAll(keys: Seq[K])(fetch: Seq[K] => Map[K, V]): Map[K, V] = {
    val hits = Map.newBuilder[K, V]
    var misses: List[K] = Nil
    m.synchronized {
      keys.foreach { k =>
        val v = m.get(k)
        if (v == null) misses = k :: misses
        else if (v.isDefined) hits += k -> v.get
      }
    }
    if (misses.nonEmpty) {
      val ks = misses.reverse
      val fetched = fetch(ks)
      m.synchronized {
        ks.foreach(k => insert(k, fetched.get(k)))
        evict()
      }
      ks.foreach(k => fetched.get(k).foreach(v => hits += k -> v))
    }
    hits.result()
  }

  def get(k: K): Option[V] = m.synchronized(Option(m.get(k)).flatten)

  def put(k: K, v: V): Unit = m.synchronized { insert(k, Some(v)); evict() }

  /** Entries held, absent keys included. */
  def size: Int = m.synchronized(m.size())

  /** Total weight held. */
  def weight: Long = m.synchronized(used)

  private def insert(k: K, v: Option[V]): Unit = {
    val prev = m.put(k, v)
    used += weigh(v) - (if (prev == null) 0L else weigh(prev))
  }

  private def evict(): Unit = {
    val it = m.values().iterator()
    while (used > budget && it.hasNext) { used -= weigh(it.next()); it.remove() }
  }
}
