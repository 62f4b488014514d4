package graft.core

import java.lang.ref.SoftReference
import java.nio.file.{Files, InvalidPathException, Path, Paths}
import java.nio.file.attribute.BasicFileAttributes
import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Session-scoped relation cache shared by [[Tables]],
  * [[graft.sources.CsvSource]] and IvfIndex.openRaw — the catalog role
  * a real engine's metastore plays (optimization guide §6) — plus a
  * typed in-memory data tier for CSV file versions.
  *
  * The METADATA cache ([[getOrBuild]]) holds resolved, unevaluated
  * relations (file listing + schema, no rows). Each entry carries the
  * caller's freshness token and is validated per hit. Key namespaces:
  *  - `tbl:<path>` — [[Tables]]' parquet/json/orc/xml relations;
  *  - `csv:<header>:<path>` — a CSV file's inferred relation (the
  *    driver-local head read + type inference done once per file
  *    version; a miss runs no Spark job either; a header read and an
  *    `nh` read of one path are separate entries);
  *  - `ivfraw:<path>` — a vector index's raw parquet relation, keyed
  *    on the sidecar generation.
  *
  * The DATA tier ([[columnar]]) holds rows: on the second read of one
  * local file's version it caches the typed relation in memory (see
  * [[columnar]]), so later statements scan columnar batches instead of
  * parsing the file's text again.
  *
  * Lifetime (ADVICE r15): the outer map is weakly keyed on the
  * SparkSession, but a cached DataFrame strongly references its
  * session, so holding the inner map strongly would pin every session
  * forever (WeakHashMap value→key retention). The inner map therefore
  * sits behind a SoftReference: the key→value→key cycle runs through a
  * reference the collector may clear, so under memory pressure (or
  * once soft refs age out) the cache empties and a stopped session
  * becomes collectible; the next access just re-resolves the relation.
  * The data tier's entries are held strongly instead, since only they
  * can release their blocks; an entry goes when its file changes, and
  * a stopped context's entries go at the next tier access.
  *
  * `spark.graft.relationCache.enabled=false` disables both
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

  /** The [[stamp]] of a regular local file. `key` (device + inode) is
    * null where the filesystem has none. */
  final case class FileStamp(mtime: java.nio.file.attribute.FileTime, bytes: Long, key: AnyRef)

  /** One file version's place in the data tier: its stamp, the reads
    * of it so far and, from the second read on, its cache. */
  private final class Version(val token: AnyRef) {
    @volatile var reads = 0
    @volatile var held: DataFrame = _
  }

  private val tiers = new ConcurrentHashMap[SparkContext, ConcurrentHashMap[String, Version]]()

  /** A file is cached only if twice its size fits in the block
    * managers' free storage memory: the uncompressed columnar form of
    * TPC-H lineitem is about 1.3× its CSV text, and the rest stays free
    * for other files and for execution to borrow. */
  private val Headroom = 2

  /** `df`, the relation read from the file version `token`, with the
    * data tier kept in step:
    *  - another version of `key` releases that version's cache before
    *    `df` is returned, so no plan of this version can match the old
    *    cache (Spark matches a cached plan by the files' paths, so a
    *    rewrite that keeps the schema would otherwise read old rows);
    *  - the second read of a version caches `df` through
    *    [[Materialize.own]], if `token` is a [[FileStamp]] whose file
    *    fits [[Headroom]]. Persisting runs no job: the first statement
    *    that scans it fills the cache in its own scan (a plan with an
    *    exchange in one job adaptive execution runs first), and later
    *    plans over this version read it;
    *  - a first read caches nothing, so a file read once per version
    *    (an export re-read) pays no fill.
    * `key` must name exactly what a cached plan matches on (the
    * relation's root paths and options), so that two spellings of one
    * path share an entry. Reads of one key are serialized, so
    * concurrent second reads persist once. With the relation cache
    * disabled, `key`'s cache is released and nothing is cached. */
  def columnar(spark: SparkSession, key: String, token: AnyRef, df: DataFrame): DataFrame = {
    tiers.keySet.asScala.filter(_.isStopped).foreach(stopped =>
      Option(tiers.remove(stopped)).foreach(_.values.asScala.foreach(release)))
    val sc = spark.sparkContext
    val on = enabled(spark) && token.isInstanceOf[FileStamp]
    tiers.computeIfAbsent(sc, _ => new ConcurrentHashMap[String, Version]())
      .compute(key, (_, old) => {
        val same = old != null && old.token == token
        if (old != null && !(on && same)) release(old)
        if (!on) null
        else {
          val v = if (same) old else new Version(token)
          v.reads += 1
          // a cache that cannot be made leaves the read as it was
          if (v.reads == 2 && fits(sc, token))
            v.held = try Materialize.own(df) catch { case scala.util.control.NonFatal(_) => null }
          v
        }
      })
    df
  }

  private def release(v: Version): Unit = if (v.held != null) Materialize.release(v.held)

  /** The data tier's cached frames in `spark`'s context. */
  def columnarEntries(spark: SparkSession): Seq[DataFrame] =
    Option(tiers.get(spark.sparkContext)).toSeq
      .flatMap(_.values.asScala.flatMap(v => Option(v.held)))

  private def fits(sc: SparkContext, token: AnyRef): Boolean = token match {
    case f: FileStamp =>
      f.bytes * Headroom <= sc.getExecutorMemoryStatus.values.map(_._2).sum
    case _ => false
  }

  /** Cheap local freshness token for a file-backed relation.
    *  - A FILE: its [[FileStamp]], the full-precision modification
    *    time, size and file key (device + inode). An in-place rewrite
    *    (Sinks truncates and rewrites the same inode) changes the
    *    mtime at the filesystem's full timestamp precision even when
    *    the length does not; a replace-by-rename changes the inode.
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
    else if (!a.isDirectory) FileStamp(a.lastModifiedTime, a.size, a.fileKey)
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
