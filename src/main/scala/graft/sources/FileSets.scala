package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}

/** Identity of a file set for driver-side caches of state derived
  * from files (a parquet schema, an index's centroids): every leaf
  * file a read of the roots would see, with its length and
  * modification time. Spark writers name every new file uniquely, so
  * an overwrite, an append or a compaction changes the identity and
  * the derived state is built again; an unchanged file set keeps it.
  */
private[graft] object FileSets {

  /** (path, length, mtime) of every visible leaf file under `roots`,
    * roots in the given order and each directory in name order. Hidden
    * names follow Spark's file-index rule (`_x` and `.x` are skipped,
    * `k=v` partition directories and parquet summary files are not).
    * None when a root is missing or cannot be listed: the caller then
    * leaves the read to Spark, which raises its usual error. */
  def fingerprint(conf: Configuration,
                  roots: Seq[String]): Option[Vector[(String, Long, Long)]] =
    scala.util.Try {
      val out = Vector.newBuilder[(String, Long, Long)]
      def walk(st: FileStatus): Unit =
        if (st.isDirectory)
          st.getPath.getFileSystem(conf).listStatus(st.getPath)
            .filterNot(s => hidden(s.getPath.getName))
            .sortBy(_.getPath.getName).foreach(walk)
        else out += ((st.getPath.toString, st.getLen, st.getModificationTime))
      val matched = roots.map { r =>
        val p = new Path(r)
        val fs = p.getFileSystem(conf)
        if (isGlob(r)) Option(fs.globStatus(p)).getOrElse(Array.empty)
        else Array(fs.getFileStatus(p))
      }
      if (matched.exists(_.isEmpty)) None
      else { matched.foreach(_.foreach(walk)); Some(out.result()) }
    }.toOption.flatten

  def isGlob(path: String): Boolean = path.exists("{}[]*?\\".contains(_))

  private def hidden(name: String): Boolean =
    ((name.startsWith("_") && !name.contains("=")) || name.startsWith(".") ||
      name.endsWith("._COPYING_")) &&
      !name.startsWith("_common_metadata") && !name.startsWith("_metadata")

  /** Every live [[Lru]], held weakly so a dropped cache is collected. */
  private val caches = java.util.Collections.newSetFromMap(
    new java.util.WeakHashMap[Lru[_, _], java.lang.Boolean])

  /** Empty every driver-side cache of file-derived state (parquet
    * schemas, IVF-PQ index sidecars, [[Resident]] artifact rows): the next
    * read loads or infers again, as the first one did. Benchmarks call
    * this between timed runs. */
  def clearCaches(): Unit =
    caches.synchronized(caches.toArray(Array.empty[Lru[_, _]])).foreach(_.clear())

  /** A bounded least-recently-used map, safe to share across threads:
    * at most `bound` entries and at most `maxWeight` of summed
    * `weight` (the least recently used go first; an entry heavier than
    * `maxWeight` on its own is not kept, and evicts nothing). Every
    * instance is emptied by [[clearCaches]]; [[evictions]] counts the
    * entries that went to make room. */
  final class Lru[K, V](bound: Int, maxWeight: Long = Long.MaxValue,
                        weight: V => Long = (_: V) => 0L) {
    private val m = new java.util.LinkedHashMap[K, V](16, 0.75f, true)
    private var total = 0L
    private var evicted = 0L
    caches.synchronized(caches.add(this))
    def evictions: Long = m.synchronized(evicted)
    def get(k: K): Option[V] = m.synchronized(Option(m.get(k)))
    def put(k: K, v: V): Unit = m.synchronized {
      Option(m.remove(k)).foreach(old => total -= weight(old))
      if (weight(v) <= maxWeight) {
        m.put(k, v)
        total += weight(v)
        // `k` is now the most recently used, so it is never the one to go
        val eldest = m.values.iterator
        while (m.size > bound || total > maxWeight) {
          total -= weight(eldest.next()); eldest.remove(); evicted += 1
        }
      }
    }
    def clear(): Unit = m.synchronized { m.clear(); total = 0L }
  }
}
