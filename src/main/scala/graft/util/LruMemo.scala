package graft.util

/** Least-recently-used memo with a hard entry bound: past `maxEntries`
  * the SINGLE least-recently-accessed entry is evicted (never a full
  * flush, so a churning session re-pays at most one artifact's compute
  * at a time). Reads bump recency. All map operations take a short
  * monitor lock; values are never computed under it — callers compute
  * outside and publish with [[putIfAbsent]], so a racing duplicate
  * computation is benign (both sides produce the same value; the loser
  * is dropped).
  */
private[graft] final class LruMemo[K, V <: AnyRef](maxEntries: Int) {
  require(maxEntries > 0, s"maxEntries must be positive: $maxEntries")

  private val map = new java.util.LinkedHashMap[K, V](16, 0.75f, true) {
    override def removeEldestEntry(
        eldest: java.util.Map.Entry[K, V]): Boolean =
      this.size > maxEntries
  }

  def get(key: K): Option[V] = map.synchronized(Option(map.get(key)))

  /** Publish `value` unless `key` is already present; returns the winner
    * (and bumps its recency either way).
    */
  def putIfAbsent(key: K, value: V): V = map.synchronized {
    val prev = map.get(key)
    if (prev != null) prev
    else {
      map.put(key, value)
      value
    }
  }

  def clear(): Unit = map.synchronized(map.clear())

  def size: Int = map.synchronized(map.size)
}
