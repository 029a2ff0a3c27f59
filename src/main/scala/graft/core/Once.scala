package graft.core

import org.apache.spark.sql.SparkSession

/** The one build-once registry. HBase writes snapshots, bulk-load
  * HFiles and secondary-index tables once, at ingest, and every
  * serving read only consumes them; graft's ingest-time artifacts
  * ([[Indexes.ensure]] dirs, [[Layout.ensureBucketed]] tables) and
  * its pinned pipeline memos follow the same policy through this map:
  *  - one holder per key: `computeIfAbsent` only installs a cheap
  *    holder, and the build runs under that holder's monitor, never
  *    under the map's bin lock, so a build may ensure another key and
  *    unrelated keys never wait behind it (only a same-key cycle
  *    deadlocks: that is a genuine cycle);
  *  - a build that throws caches nothing, so the next call builds;
  *  - entries whose SparkContext has stopped are swept on every call
  *    (a restarted context never reads the dead one's artifacts).
  * Each use keeps its own instance, so draining one registry never
  * touches another's entries. */
final class Once[V] {

  /** The session rides along so sweeps can drop holders of a stopped
    * context without forcing a build on it. */
  private final class Holder(val session: SparkSession) {
    private var value: Option[V] = None
    def get(build: => V): V = synchronized {
      value.getOrElse { val v = build; value = Some(v); v }
    }
    def peek: Option[V] = synchronized(value)
  }

  private val holders = new java.util.concurrent.ConcurrentHashMap[String, Holder]()

  /** The value at `key`, running `build` only when no earlier call
    * built it. */
  def apply(spark: SparkSession, key: String)(build: => V): V = {
    holders.entrySet().removeIf(_.getValue.session.sparkContext.isStopped)
    holders.computeIfAbsent(key, _ => new Holder(spark)).get(build)
  }

  /** The value at `key` if it is built, without building it. */
  def peek(key: String): Option[V] = Option(holders.get(key)).flatMap(_.peek)

  /** Remove every entry, then hand each built value to `release`.
    * Each entry is removed before its release, so an entry added
    * mid-drain is either released or left in place, never dropped
    * unreleased; a never-built entry is dropped without a build. */
  def drain(release: V => Unit): Unit = {
    val it = holders.values().iterator()
    while (it.hasNext) {
      val h = it.next()
      it.remove()
      h.peek.foreach(release)
    }
  }
}
