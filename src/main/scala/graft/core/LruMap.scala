package graft.core

/** Size-capped, access-ordered map safe for concurrent use: past `cap`
  * entries the least recently used one is dropped. For driver-side
  * caches keyed by paths, whose key space grows without bound in a
  * long-lived JVM. */
private[graft] final class LruMap[K, V](val cap: Int) {
  private val m = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[K, V](16, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[K, V]): Boolean =
        this.size() > cap
    })

  def get(k: K): Option[V] = Option(m.get(k))

  def put(k: K, v: V): Unit = m.put(k, v): Unit

  /** The cached value, or `v` computed and cached. Concurrent misses on
    * one key may both compute; the last one stays. */
  def getOrElseUpdate(k: K)(v: => V): V = get(k).getOrElse {
    val x = v
    put(k, x)
    x
  }

  def size: Int = m.size
}
