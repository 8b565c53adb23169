package graft.store

/** A map bounded in bytes, evicting the least recently used entries
  * first: a `put` that takes the weights past `budget` drops the entries
  * read or written longest ago until they fit again, and an entry heavier
  * than the whole budget is never kept. `weigh` estimates the heap an
  * entry holds, key included.
  */
private[graft] final class ByteLru[K, V](budget: Long, weigh: (K, V) => Long) {
  private val entries = new java.util.LinkedHashMap[K, V](16, 0.75f, true)
  private var used = 0L

  def get(k: K): Option[V] = synchronized(Option(entries.get(k)))

  def put(k: K, v: V): Unit = putEvicting(k, v, _ => false)

  private def putEvicting(k: K, v: V, keep: K => Boolean): Unit = synchronized {
    Option(entries.remove(k)).foreach(old => used -= weigh(k, old))
    val w = weigh(k, v)
    if (w <= budget) {
      entries.put(k, v)
      used += w
      evict(keep)
    }
  }

  /** `put`, evicting only entries whose keys are outside `share`; when
    * `v` and the entries in `share` would weigh more than the whole
    * budget, nothing changes and the result is false.
    */
  def putWithin(k: K, v: V, share: K => Boolean): Boolean = synchronized {
    val fits = weighed(k2 => k2 != k && share(k2)) + weigh(k, v) <= budget
    if (fits) putEvicting(k, v, k2 => k2 == k || share(k2))
    fits
  }

  /** The weight of the entries whose keys are in `share`. */
  def weighed(share: K => Boolean): Long = synchronized {
    var sum = 0L
    entries.forEach((k, v) => if (share(k)) sum += weigh(k, v))
    sum
  }

  def size: Int = synchronized(entries.size)
  def bytes: Long = synchronized(used)

  private def evict(keep: K => Boolean): Unit = {
    val it = entries.entrySet.iterator
    while (used > budget && it.hasNext) {
      val e = it.next()
      if (!keep(e.getKey)) {
        used -= weigh(e.getKey, e.getValue)
        it.remove()
      }
    }
  }
}
