package graft.core

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.storage.StorageLevel

/** The engine's one way to materialize an intermediate result.
  *  - [[reuse]]: persist at MEMORY_AND_DISK, lineage kept; a frame or
  *    RDD read by several jobs is computed once.
  *  - [[cut]]: an eager local checkpoint. The plan becomes a leaf, so
  *    a driver-side loop's plan stays one size every round. Its blocks
  *    cannot be recomputed: a cut frame must not be read once released.
  *  - [[own]]: session-owned; an uncompressed in-memory columnar
  *    cache of a frame's plan that any later plan containing it reads.
  *    No statement releases it; it lives until released.
  *  - [[release]]: idempotent; a no-op on anything not made here.
  *  - [[statement]]: releases, when the body returns or throws, what
  *    the body (or a thread it started) made and did not release. The
  *    runners wrap each statement's build AND its consumption in one,
  *    so a cut escaping into a returned plan is read before release.
  * Outside any statement a materialization lives as it always did:
  * until released, or until the ContextCleaner collects it. */
object Materialize {

  private final class Scope {
    var open = true
    val held = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[AnyRef, java.lang.Boolean])
  }
  private final case class Made(isCut: Boolean, scope: Scope)

  /** Unreleased materializations. Weak keys keep an abandoned frame
    * collectible; neither Dataset nor RDD overrides equals. */
  private val made = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[AnyRef, Made])

  /** What [[own]] made, held strongly: the CacheManager holds an owned
    * plan's blocks for as long as the context lives, so a collected
    * frame would leave them with nothing to release them. */
  private val owned = java.util.concurrent.ConcurrentHashMap.newKeySet[AnyRef]()

  /** The innermost statement; inherited by threads started inside it. */
  private val current = new InheritableThreadLocal[Scope]

  def reuse(df: DataFrame): DataFrame =
    if (df.storageLevel != StorageLevel.NONE) df // the caller's own cache
    else track(df.persist(StorageLevel.MEMORY_AND_DISK), isCut = false)

  def reuse[T](rdd: RDD[T]): RDD[T] =
    if (rdd.getStorageLevel != StorageLevel.NONE) rdd
    else track(rdd.persist(StorageLevel.MEMORY_AND_DISK), isCut = false)

  def cut(df: DataFrame): DataFrame = track(df.localCheckpoint(), isCut = true)

  /** Cache `df`'s plan in memory at MEMORY_AND_DISK as uncompressed
    * columnar batches, filled by the first job that scans it, and
    * return the owned frame to [[release]] it by. The cache is built
    * under a clone of the frame's session with compression off (the
    * CacheManager takes the compression setting from the conf of the
    * session that caches), so the caller's conf stays as it was; every
    * session of the context reads the cache. The fill runs inside a
    * user's statement, and compression would make it nearly twice as
    * slow for blocks a quarter smaller (TPC-H lineitem at sf0.1 on 4
    * cores: 3.1–3.6 s and 36 MB compressed, 1.8–2.1 s and 49 MB not). */
  def own(df: DataFrame): DataFrame = {
    val clone = Bridge.cloneSession(df.sparkSession,
      "spark.sql.inMemoryColumnarStorage.compressed" -> "false")
    val held = Bridge.frame(clone, df.queryExecution.analyzed)
      .persist(StorageLevel.MEMORY_AND_DISK)
    owned.add(held)
    made.put(held, Made(isCut = false, null))
    held
  }

  /** How many [[own]]ed frames are unreleased. */
  private[core] def ownedCount: Int = owned.size

  def release(x: AnyRef): Unit = {
    val m = made.remove(x)
    owned.remove(x)
    if (m != null) {
      if (m.scope != null) m.scope.synchronized(m.scope.held.remove(x))
      x match {
        // its blocks went with its context
        case df: Dataset[_] if df.sparkSession.sparkContext.isStopped => ()
        case rdd: RDD[_] => rdd.unpersist(blocking = false)
        // a cut's blocks live on the RDD in its LogicalRDD leaf, which
        // the CacheManager (and so Dataset's own release) never sees
        case df: Dataset[_] if m.isCut => df.queryExecution.analyzed match {
          case lr: LogicalRDD => lr.rdd.unpersist(blocking = false)
          case _ => ()
        }
        case df: Dataset[_] => df.unpersist(blocking = false)
        case _ => ()
      }
    }
  }

  def statement[T](body: => T): T = {
    val outer = current.get
    val scope = new Scope
    current.set(scope)
    try body
    finally {
      if (outer == null) current.remove() else current.set(outer)
      scope.synchronized { scope.open = false; scope.held.toArray }.foreach(release)
    }
  }

  private def track[T <: AnyRef](x: T, isCut: Boolean): T = {
    val scope = current.get
    if (scope == null) made.put(x, Made(isCut, null))
    else scope.synchronized {
      // a thread outliving its statement records as if outside one
      val open = scope.open && scope.held.add(x)
      made.put(x, Made(isCut, if (open) scope else null))
    }
    x
  }
}
