package graft

import org.apache.spark.sql.SparkSession

/** The one session-scoped memo behind everything graft builds once and
  * reuses: persisted bases, fitted quantizers, resolved tables, served
  * stores. A [[Slot]] declares its lifetime where it is defined:
  *   - `scratch`: persisted relations and driver values a bench or
  *     curation pass drops with [[releaseScratch]]; each carries its own
  *     release action;
  *   - `store`: built once per session, never released (writers may
  *     [[Slot.invalidate]] entries).
  *
  * Each (session, slot, key) is built once: only builders of the same
  * missing key wait for each other, hits take no lock, a build that
  * throws caches nothing, and nested builds of other keys run freely.
  * Entries of stopped sessions are swept on a miss. */
object SessionCache {

  final class Slot[K, V] private[SessionCache] (
      private[SessionCache] val release: Option[V => Unit]) {
    def apply(spark: SparkSession, key: K)(build: => V): V =
      lookup(spark, this, key, () => build).asInstanceOf[V]

    /** Drop this slot's entries whose key matches, for every session. */
    def invalidate(p: K => Boolean): Unit =
      cells.filterInPlace { case ((_, s, k), _) =>
        !((s eq this) && p(k.asInstanceOf[K])) }
  }

  def scratch[K, V](release: V => Unit): Slot[K, V] = new Slot(Some(release))
  def store[K, V]: Slot[K, V] = new Slot(None)

  private final class Cell {
    @volatile var built = false
    var value: Any = _
  }

  private type Key = (SparkSession, Slot[_, _], Any)
  private val cells = scala.collection.concurrent.TrieMap.empty[Key, Cell]

  @annotation.tailrec
  private def lookup(spark: SparkSession, slot: Slot[_, _], key: Any,
      build: () => Any): Any = {
    val k: Key = (spark, slot, key)
    val cell = cells.getOrElse(k, {
      cells.filterInPlace { case ((s, _, _), _) => !s.sparkContext.isStopped }
      val fresh = new Cell
      cells.putIfAbsent(k, fresh).getOrElse(fresh)
    })
    if (cell.built) cell.value
    else {
      val got = cell.synchronized {
        if (cell.built) Some(cell.value)
        else if (!cells.get(k).contains(cell)) None // dropped: start over
        else {
          cell.value = try build() catch {
            case e: Throwable => cells.remove(k, cell); throw e
          }
          cell.built = true
          Some(cell.value)
        }
      }
      got match {
        case Some(v) => v
        case None => lookup(spark, slot, key, build)
      }
    }
  }

  /** Release and drop every scratch entry of `spark`; stores stay. */
  def releaseScratch(spark: SparkSession): Unit =
    cells.foreach { case (k @ (s, slot, _), cell) =>
      slot.release.foreach { release =>
        if ((s eq spark) && cells.remove(k, cell) && cell.built)
          release.asInstanceOf[Any => Unit](cell.value)
      }
    }

  /** A store root under the JVM temp dir for input `dir`: the readable
    * prefix is convenience only, the md5 of the RAW dir string is the
    * collision-proof key ('/data/a b' and '/data/a_b' sanitize alike), and
    * the nonce keeps the path unpredictable — a fixed /tmp name could be
    * pre-created or clobbered by another user on a shared host. A fresh
    * nonce per call by default; [[jvmNonce]] keeps it stable in-process. */
  def storePath(prefix: String, dir: String, nonce: String = newNonce()): String = {
    val safe = dir.replaceAll("[^A-Za-z0-9._-]", "_").takeRight(64)
    val key = java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes("UTF-8")).take(8).map("%02x".format(_)).mkString
    new java.io.File(sys.props("java.io.tmpdir"),
      s"${prefix}_${safe}_${key}_$nonce").getAbsolutePath
  }

  private def newNonce(): String =
    java.lang.Long.toHexString(new java.security.SecureRandom().nextLong())

  lazy val jvmNonce: String = newNonce()
}
