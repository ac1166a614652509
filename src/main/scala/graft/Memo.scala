package graft

import scala.jdk.CollectionConverters._

/** Build-once/apply-many memo of values derived from ONE on-disk table:
  * trained models, centroid matrices, merge tables, bloom filters,
  * fixture chains and layouts. Repeated bench passes and sibling
  * queries then pay only the apply side.
  *
  * An entry is keyed on the table's [[Tables.fingerprint]] (file names,
  * lengths, mtimes), not on the bare dir string:
  * `<dir>/<table>.parquet@<variant>#<fingerprint tail>`. A table
  * regenerated on disk under the same path therefore rebuilds instead of
  * serving a stale value. Once the fresh key commits, superseded keys
  * of the same (dir, table, variant) are evicted, so a long-lived JVM
  * keeps at most one live entry per variant. Paths that do not exist
  * fold to the stable `#absent` fingerprint and keep reusing their entry.
  *
  * Each call site owns its own instance: a build that calls another memo
  * is then never a recursive `computeIfAbsent` on the same map. */
final class Memo[V] {

  private val map = new java.util.concurrent.ConcurrentHashMap[String, V]()

  /** The value for (dir, table, variant) at the table's current
    * fingerprint, running `build` at most once per fingerprint.
    * Concurrent callers of one key block until the build commits. */
  def apply(dir: String, table: String, variant: String)(build: => V): V = {
    val path = s"$dir/$table.parquet"
    val live = s"$path@$variant#"
    val key = live + Tables.fingerprint(dir, table).substring(path.length + 1)
    val v = map.computeIfAbsent(key, _ => build)
    map.keySet.removeIf(k => k != key && k.startsWith(live))
    v
  }

  /** The live key set — the spec window onto the eviction contract. */
  private[graft] def keys: Set[String] = map.keySet.asScala.toSet
}
