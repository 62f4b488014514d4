package graft.core

import java.lang.ref.SoftReference
import java.nio.file.{Files, InvalidPathException, Path, Paths}
import java.nio.file.attribute.BasicFileAttributes
import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Session-scoped relation METADATA cache shared by [[Tables]],
  * [[graft.sources.CsvSource]] and IvfIndex.openRaw — the catalog role
  * a real engine's metastore plays (optimization guide §6). Holds only
  * resolved, unevaluated relations (file listing + schema — no data,
  * no results); every execution still scans the files. Each entry
  * carries the caller's freshness token and is validated per hit.
  *
  * Key namespaces:
  *  - `tbl:<path>` — [[Tables]]' parquet/json/orc/xml relations;
  *  - `csv:<header>:<path>` — a CSV file's inferred relation (the
  *    driver-local head read + type inference done once per file
  *    version; a miss runs no Spark job either; a header read and an
  *    `nh` read of one path are separate entries);
  *  - `ivfraw:<path>` — a vector index's raw parquet relation, keyed
  *    on the sidecar generation.
  *
  * Lifetime (ADVICE r15): the outer map is weakly keyed on the
  * SparkSession, but a cached DataFrame strongly references its
  * session, so holding the inner map strongly would pin every session
  * forever (WeakHashMap value→key retention). The inner map therefore
  * sits behind a SoftReference: the key→value→key cycle runs through a
  * reference the collector may clear, so under memory pressure (or
  * once soft refs age out) the cache empties and a stopped session
  * becomes collectible; the next access just re-resolves the relation.
  *
  * `spark.graft.relationCache.enabled=false` disables caching
  * entirely — the escape hatch for non-file schemes (s3://, hdfs://),
  * whose [[stamp]] freshness token is a constant and which would
  * otherwise serve a session-lifetime listing like a remote catalog
  * does. */
object RelationCache {
  private val bySession =
    new java.util.WeakHashMap[SparkSession,
      SoftReference[ConcurrentHashMap[String, (AnyRef, DataFrame)]]]()

  private def enabled(spark: SparkSession): Boolean =
    spark.conf.get("spark.graft.relationCache.enabled", "true").toBoolean

  /** The cached relation for `key` if its stored token equals `token`,
    * else `build` (cached for the next hit). `key` is namespaced by
    * the caller ("tbl:…", "csv:…", "ivfraw:…"). */
  def getOrBuild(spark: SparkSession, key: String, token: AnyRef)
      (build: => DataFrame): DataFrame = {
    if (!enabled(spark)) return build
    val m = bySession.synchronized {
      val ref = bySession.get(spark)
      val ex = if (ref == null) null else ref.get
      if (ex != null) ex
      else {
        val fresh = new ConcurrentHashMap[String, (AnyRef, DataFrame)]()
        bySession.put(spark, new SoftReference(fresh))
        fresh
      }
    }
    val hit = m.get(key)
    if (hit != null && hit._1 == token) hit._2
    else {
      val df = build
      m.put(key, (token, df))
      df
    }
  }

  /** Cheap local freshness token for a file-backed relation.
    *  - A FILE: its full-precision modification time, size and file
    *    key (device + inode). An in-place rewrite (Sinks truncates and
    *    rewrites the same inode) changes the mtime at the filesystem's
    *    full timestamp precision even when the length does not; a
    *    replace-by-rename changes the inode.
    *  - A DIRECTORY dataset: a fold over the direct children's (name,
    *    mtime) plus their total size and the directory's own key — a
    *    Spark overwrite/append recreates or adds top-level part files
    *    (and rewrites _SUCCESS), so any Spark rewrite changes the
    *    token without a recursive listing.
    *  - Anything that does not stat locally (s3://, hdfs://, globs):
    *    the constant `(0, 0)`, so it caches for the session — a remote
    *    catalog's semantics. */
  def stamp(path: String): AnyRef = {
    val p = try Paths.get(path) catch { case _: InvalidPathException => null }
    val a = attrs(p)
    if (a == null) (0L, 0L)
    else if (!a.isDirectory) (a.lastModifiedTime, a.size, a.fileKey)
    else {
      val kids = p.toFile.listFiles()
      if (kids == null) (a.lastModifiedTime, -1L, a.fileKey)
      else {
        var h = nanos(a) ^ (kids.length.toLong * 1315423911L)
        var total = 0L
        kids.foreach { k =>
          val ka = attrs(k.toPath)
          h = h * 31 + k.getName.hashCode + (if (ka == null) 0L else nanos(ka))
          total += (if (ka == null) 0L else ka.size)
        }
        (h, total, a.fileKey)
      }
    }
  }

  private def attrs(p: Path): BasicFileAttributes =
    if (p == null) null
    else try Files.readAttributes(p, classOf[BasicFileAttributes])
    catch { case _: java.io.IOException => null }

  private def nanos(a: BasicFileAttributes): Long =
    a.lastModifiedTime.to(java.util.concurrent.TimeUnit.NANOSECONDS)
}
