package graft.operators

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.{FileContext, FileSystem, Path => HPath}

import org.apache.spark.sql.{DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.Materialize
import graft.queries.VectorQueries

/** The persisted IVF index lifecycle — the storage half of the ANN
  * story (the v45 layout, factored out of the gate so the dialect's
  * `index` / `serve` / `repair … using` statements and the upsert
  * path share ONE implementation).
  *
  * Layout: a cell-partitioned parquet directory (hive partitioning on
  * `cell`, the s19 pay-the-shuffle-once pattern applied to the vector
  * index). Every lifecycle operation then turns its cell set into a
  * STATIC partition predicate, so the scan READS only those cells'
  * files (`PartitionFilters` in the plan):
  *  - serve: the query batch's union of probed cells;
  *  - repair: the refresh's dirty cells;
  *  - upsert: the arrivals' touched cells (dynamic partition
  *    overwrite rewrites ONLY those — untouched cells' files stay
  *    byte-identical, R11OpsSpec-pinned);
  *  - append: arrivals land as NEW files inside their cells — the
  *    scattered-ingest path that writes O(batch) bytes where the
  *    read-merge-overwrite upsert would rewrite every touched cell.
  * At 100 TB that is the difference between an O(touched fraction)
  * maintenance op and a corpus rescan.
  *
  * The `_centers` SIDECAR (underscore-prefixed, so the index read's
  * partition discovery never sees it) persists the k·d-row center
  * artifact the build already computed: per cell, the frozen SERVING
  * center (what every assignment scores against), the current REFRESH
  * mean (the exact VecMeanAgg per-cell mean the repair drift check and
  * serve-batch routing need), the occupancy, and the append
  * bookkeeping (per-cell staleness, the seq high-water mark). Before
  * the sidecar, `serve … query` paid a full-index mean aggregate per
  * call and `repair … using` re-ran the sample fit against the CORPUS
  * — at 100 TB those scans ARE the op's cost; with it, both read k·d
  * driver rows and touch index files only for the pruned gather /
  * re-score itself.
  */
object IvfIndex {

  /** Subdirectory of an index path holding the center sidecar.
    * Underscore-prefixed: Spark's file listing treats `_*` paths as
    * metadata and skips them, so `spark.read.parquet(path)` of the
    * index never sees the sidecar rows. */
  val SidecarDir = "_centers"

  /** The persisted center artifact of one index.
    *  - `serving`: the frozen sample-bounded fit — what every
    *    assignment (build, upsert, append, stream ingest) scores
    *    against, and the "old" side of the repair drift check.
    *  - `refresh`: the exact per-cell VecMeanAgg means of the CURRENT
    *    index rows (occupied cells only), maintained by build/upsert/
    *    compact; `staleCells` marks cells whose refresh mean predates
    *    un-compacted appends (routing still works — it is a recall
    *    heuristic — but drift checks should recompute).
    *  - `counts`: per-cell occupancy at last maintenance.
    *  - `pendingAppends`: true iff appended files may hold superseded
    *    row versions (readLatest required; upsert refuses).
    *  - `maxSeq`: high-water mark of the `seq` row-version column —
    *    never reset, so appends after a compact still supersede
    *    every older row.
    *  - `version`: monotone write counter (cache invalidation aid). */
  final case class Sidecar(
      serving: Seq[(Int, Array[Double])],
      refresh: Seq[(Int, Array[Double])],
      counts: Map[Long, Long],
      staleCells: Set[Long],
      pendingAppends: Boolean,
      maxSeq: Long,
      version: Long,
      /** Frozen per-subspace PQ codebooks (m·k·dSub doubles) when the
        * index stores codes — what arrival encoding and ADC serving
        * score against. Empty for a plain index. */
      books: Seq[Seq[(Int, Array[Double])]] = Seq.empty,
      /** Seq high-water mark at the last duplicate-free point (build /
        * compact). Rows with `seq > compactedSeq` are exactly the
        * post-compact APPENDS — the only possible winners that strand
        * a superseded copy — which is what lets compact's duplicate
        * analysis scope to the appended fraction instead of scanning
        * every cell's (vec_id, seq). */
      compactedSeq: Long = 0L) {
    def dim: Int = serving.headOption.map(_._2.length).getOrElse(0)
    def hasPq: Boolean = books.nonEmpty
  }

  /** All index storage goes through Hadoop's FileSystem resolved from
    * the path's scheme — the index data already does (Spark writes),
    * and the sidecar / vacated-cell / file-count maintenance must live
    * on the SAME filesystem or every lifecycle op silently misbehaves
    * on hdfs:// and s3a:// paths (java.nio would report the sidecar
    * absent and the vacated directory not-a-directory). */
  private def hadoopFs(spark: SparkSession, path: String): FileSystem =
    new HPath(path).getFileSystem(spark.sessionState.newHadoopConf())

  private def sidecarDir(path: String): HPath =
    new HPath(path, SidecarDir)

  /** Sidecar headers are VERSION-NAMED (`centers.v{N}`, N = the
    * Sidecar's monotone version counter) and committed with
    * rename-WITHOUT-overwrite — a compare-and-swap: every maintenance
    * op reads version v and commits v+1, so two concurrent writers
    * that both read v race for the same `centers.v{v+1}` name and
    * exactly one rename succeeds; the loser fails LOUDLY before any
    * data files land (every op writes its sidecar first) instead of
    * last-write-wins silently dropping the other writer's
    * bookkeeping. Readers resolve the highest committed version — a
    * name is only visible complete (rename is atomic on local/HDFS),
    * so there are no torn reads; the previous version is retained one
    * generation for in-flight readers on non-atomic-listing stores. */
  private val SidecarHeaderRe = """centers\.v(\d+)""".r

  /** Cells per shard file. A sidecar inside this bound is ONE header
    * file holding the cell lines inline (the pre-r14 format,
    * byte-compatible); past it the cell lines split into
    * `cells-{i}.{token}.v{N}` shard files written in parallel and the
    * header records `shards=S token=T`. The bound keeps every file a
    * few tens of MB however large k·d grows (k=100k, d=768 is ~1.6 GB
    * of base64 — one file would serialize a GB-scale string through
    * one thread per maintenance op and per cache miss; 25 shards
    * write/read in parallel). Shard names carry a writer-unique token
    * so two racing writers of the SAME version can never interleave
    * each other's shard contents — the header CAS then picks exactly
    * one writer's complete set. */
  private val SidecarShardCells = 4096

  /** Highest committed sidecar header under `path`, with its version. */
  private def latestSidecarFile(fs: FileSystem, path: String)
      : Option[(HPath, Long)] = {
    val dir = sidecarDir(path)
    val listed = try fs.listStatus(dir)
      catch { case _: java.io.FileNotFoundException => Array.empty[org.apache.hadoop.fs.FileStatus] }
    listed.toSeq.flatMap { st =>
      st.getPath.getName match {
        case SidecarHeaderRe(n) => Some(st.getPath -> n.toLong)
        case _ => None
      }
    }.sortBy(_._2).lastOption
  }

  private def encodeDoubles(a: Array[Double]): String = {
    val bb = java.nio.ByteBuffer.allocate(a.length * 8)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    a.foreach(bb.putDouble)
    java.util.Base64.getEncoder.encodeToString(bb.array())
  }

  private def decodeDoubles(s: String): Array[Double] = {
    val bb = java.nio.ByteBuffer.wrap(java.util.Base64.getDecoder.decode(s))
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    Array.fill(bb.remaining() / 8)(bb.getDouble)
  }

  private def writeFile(fs: FileSystem, p: HPath, text: String): Unit = {
    val out = fs.create(p, true)
    try out.write(text.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  private def readText(fs: FileSystem, p: HPath): String = {
    val in = fs.open(p)
    try {
      val bos = new java.io.ByteArrayOutputStream()
      org.apache.hadoop.io.IOUtils.copyBytes(in, bos, 65536, false)
      new String(bos.toByteArray, java.nio.charset.StandardCharsets.UTF_8)
    } finally in.close()
  }

  /** Persist the sidecar — a DRIVER artifact (k·d doubles plus
    * bookkeeping), written as plain text with base64 IEEE bits
    * (bit-exact round trip). Deliberately NOT a Spark write: no job,
    * no partition discovery (Spark ignores `_`-prefixed paths — which
    * is exactly why the index read never sees this directory). The
    * commit is a CAS on the version-named header (see
    * [[SidecarHeaderRe]]): shard files land first under a
    * writer-unique token, then the header renames WITHOUT overwrite —
    * a concurrent writer that committed the same (or a later) version
    * since this Sidecar was read is refused loudly, never merged or
    * silently overwritten. Past [[SidecarShardCells]] cells the cell
    * lines shard into parallel-written files (the k=100k, d=768
    * sidecar is ~1.6 GB of base64 — probed in SCALE_r14_sidecar);
    * inside the bound the format is the pre-r14 single file,
    * byte-compatible. */
  def writeSidecar(spark: SparkSession, path: String, sc: Sidecar): Unit = {
    val fs = hadoopFs(spark, path)
    val dir = sidecarDir(path)
    fs.mkdirs(dir)
    def refuse(committed: Long): Nothing =
      throw new java.util.ConcurrentModificationException(
        s"writeSidecar: index at '$path' already has sidecar version " +
          s"$committed ≥ ${sc.version} — a concurrent writer committed since " +
          "this operation read the sidecar; re-read and retry the operation " +
          "(the index lifecycle is one-writer-at-a-time per commit)")
    // fast-path refusal (the rename CAS below is the authority)
    latestSidecarFile(fs, path).foreach { case (_, v) =>
      if (v >= sc.version) refuse(v)
    }
    val refreshByCell = sc.refresh.map { case (c, a) => c.toLong -> a }.toMap
    import scala.collection.parallel.CollectionConverters._
    val sortedServing = sc.serving.sortBy(_._1)
    val sharded = sortedServing.length > SidecarShardCells
    // inside the shard bound the format is the pre-r14 single text
    // file, byte-compatible; past it the cell rows move to BINARY
    // shard files (raw little-endian IEEE bits — the text round-trip
    // is base64 + per-line string churn, measured 28 s to read back
    // a k=100k, d=768 sidecar vs seconds for the same doubles raw)
    val cellLines: Seq[String] =
      if (sharded) Seq.empty
      else sortedServing.map { case (cell, center) =>
        val refresh = refreshByCell.get(cell.toLong).map(encodeDoubles).getOrElse("-")
        s"cell=$cell n=${sc.counts.getOrElse(cell.toLong, 0L)} " +
          s"stale=${sc.staleCells.contains(cell.toLong)} " +
          s"serving=${encodeDoubles(center)} refresh=$refresh"
      }
    val bookLines = sc.books.zipWithIndex.flatMap { case (book, s) =>
      book.sortBy(_._1).map { case (code, cent) =>
        s"pq=$s code=$code cent=${encodeDoubles(cent)}"
      }
    }
    val token = java.util.UUID.randomUUID().toString.take(8)
    val shards: Seq[Seq[(Int, Array[Double])]] =
      if (!sharded) Seq.empty
      else sortedServing.grouped(SidecarShardCells).toSeq
    def shardPath(i: Int): HPath =
      new HPath(dir, s"cells-$i.$token.v${sc.version}")
    def shardBytes(group: Seq[(Int, Array[Double])]): Array[Byte] = {
      val size = group.iterator.map { case (c, serving) =>
        val rd = refreshByCell.get(c.toLong).map(_.length).getOrElse(0)
        4 + 8 + 1 + 4 + serving.length * 8 + 4 + rd * 8
      }.sum
      val bb = java.nio.ByteBuffer.allocate(size)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      group.foreach { case (c, serving) =>
        bb.putInt(c)
        bb.putLong(sc.counts.getOrElse(c.toLong, 0L))
        bb.put(if (sc.staleCells.contains(c.toLong)) 1.toByte else 0.toByte)
        bb.putInt(serving.length)
        serving.foreach(bb.putDouble)
        refreshByCell.get(c.toLong) match {
          case Some(r) => bb.putInt(r.length); r.foreach(bb.putDouble)
          case None => bb.putInt(-1)
        }
      }
      bb.array()
    }
    val sb = new StringBuilder
    sb.append("graft-ivf-centers v1\n")
    sb.append(s"pending=${sc.pendingAppends} max_seq=${sc.maxSeq} " +
      s"version=${sc.version} compacted_seq=${sc.compactedSeq}")
    if (shards.nonEmpty) sb.append(s" shards=${shards.length} token=$token")
    sb.append('\n')
    if (shards.isEmpty) cellLines.foreach(l => sb.append(l).append('\n'))
    bookLines.foreach(l => sb.append(l).append('\n'))
    val header = new HPath(dir, s"centers.v${sc.version}")
    try {
      // shards first (parallel, token-unique names — no cross-writer
      // interleave possible), then the header CAS makes them live
      shards.zipWithIndex.par.foreach { case (group, i) =>
        val out = fs.create(shardPath(i), true)
        try out.write(shardBytes(group))
        finally out.close()
      }
      val tmp = new HPath(dir, s".centers.$token.tmp")
      writeFile(fs, tmp, sb.toString)
      val fc = FileContext.getFileContext(header.toUri,
        spark.sessionState.newHadoopConf())
      try fc.rename(tmp, header) // NO overwrite: the CAS
      catch {
        case _: org.apache.hadoop.fs.FileAlreadyExistsException =>
          try fs.delete(tmp, false) catch { case _: java.io.IOException => () }
          refuse(sc.version)
      }
    } catch {
      case e: java.util.ConcurrentModificationException =>
        // orphaned shards of the losing writer — best-effort removal
        shards.indices.foreach { i =>
          try fs.delete(shardPath(i), false)
          catch { case _: java.io.IOException => () }
        }
        throw e
    }
    // retire all but the two NEWEST committed generations (the
    // immediately previous one stays for in-flight readers). Keyed on
    // the set of header versions actually present, not `version - 2`
    // arithmetic: a legacy layout's header is NAMED centers.v1 while
    // its version FIELD counts higher, so a subtraction rule would
    // delete the semantically-previous generation in the same commit
    // that upgrades it. Stray crashed-writer tmps age out too.
    val retired = try fs.listStatus(dir).toSeq
      catch { case _: java.io.FileNotFoundException => Seq.empty }
    val present = retired.flatMap(st => st.getPath.getName match {
      case SidecarHeaderRe(n) => Some(n.toLong)
      case _ => None
    })
    val kept = present.sorted.takeRight(2).toSet
    val maxCommitted = if (present.isEmpty) Long.MinValue else present.max
    retired.foreach { st =>
      val name = st.getPath.getName
      val old = name match {
        case SidecarHeaderRe(n) => !kept(n.toLong)
        case _ if name.startsWith("cells-") =>
          // a shard version PAST the max committed header is a
          // concurrent writer's commit IN FLIGHT (shards land before
          // the header CAS) — deleting it would let that writer's
          // rename succeed while its data is gone, breaking the CAS's
          // "loser fails loudly, winner stays intact" guarantee. Only
          // the crashed-writer age guard may sweep those; committed-
          // but-unkept versions retire as before. (A loser's orphans
          // AT a kept version self-heal two commits later through the
          // unkept rule.)
          name.split("\\.v").lastOption.flatMap(_.toLongOption)
            .exists(v =>
              if (v > maxCommitted)
                st.getModificationTime < System.currentTimeMillis() - 3600000L
              else !kept(v))
        case _ if name.startsWith(".centers.") && name.endsWith(".tmp") =>
          // a crashed writer's tmp; anything recent may be in-flight
          st.getModificationTime < System.currentTimeMillis() - 3600000L
        case _ => false
      }
      if (old) {
        try fs.delete(st.getPath, false)
        catch { case _: java.io.IOException => () }
      }
    }
    SidecarCache.invalidate(path)
  }

  /** Read the sidecar back (k driver rows — no Spark job); None when
    * the index has none (pre-sidecar layout — consumers fall back to
    * index scans). Resolves the highest committed version; a sharded
    * header's cell files are read and parsed in parallel. */
  def readSidecar(spark: SparkSession, path: String): Option[Sidecar] = {
    // resolve-then-read races version retirement (two quick commits
    // can retire the header — or a shard file — a reader just resolved
    // as max): a vanished file re-resolves the WHOLE read, bounded;
    // only a header-less directory is "no sidecar"
    def attempt(left: Int): Option[Sidecar] =
      try readLatestSidecar(spark, path)
      catch {
        case e: java.io.FileNotFoundException =>
          if (left > 0) attempt(left - 1)
          else throw new IllegalStateException(
            s"readSidecar at '$path': the latest header/shards keep " +
              "vanishing mid-read (racing writers?)", e)
      }
    attempt(3)
  }

  private def readLatestSidecar(spark: SparkSession, path: String)
      : Option[Sidecar] = {
    val fs = hadoopFs(spark, path)
    val latest = latestSidecarFile(fs, path)
    if (latest.isEmpty) return None
    val f = latest.get._1
    val text = readText(fs, f)
    val it = text.split('\n').toSeq.filter(_.nonEmpty)
    if (it.isEmpty || !it.head.startsWith("graft-ivf-centers v1"))
      throw new IllegalStateException(s"readSidecar: '$f' is not a centers sidecar")
    try {
      def kv(line: String): Map[String, String] =
        line.split(' ').map { t =>
          val i = t.indexOf('='); t.substring(0, i) -> t.substring(i + 1)
        }.toMap
      val meta = kv(it(1))
      val (bookLines, inlineCells) = it.drop(2).partition(_.startsWith("pq="))
      import scala.collection.parallel.CollectionConverters._
      // one record per cell: (cell, n, stale, serving, refresh)
      val cells: Seq[(Int, Long, Boolean, Array[Double], Option[Array[Double]])] =
        meta.get("shards") match {
          case None => inlineCells.par.map { line =>
            val m = kv(line)
            (m("cell").toInt, m("n").toLong, m("stale").toBoolean,
              decodeDoubles(m("serving")),
              Some(m("refresh")).filter(_ != "-").map(decodeDoubles))
          }.seq
          case Some(s) =>
            // binary shards (raw little-endian doubles, see writeSidecar)
            val token = meta("token")
            val version = meta("version")
            (0 until s.toInt).par.flatMap { i =>
              val p = new HPath(sidecarDir(path), s"cells-$i.$token.v$version")
              val st = fs.getFileStatus(p)
              val bytes = new Array[Byte](st.getLen.toInt)
              val in = fs.open(p)
              try in.readFully(0L, bytes) finally in.close()
              val bb = java.nio.ByteBuffer.wrap(bytes)
                .order(java.nio.ByteOrder.LITTLE_ENDIAN)
              val recs = scala.collection.mutable.ArrayBuffer
                .empty[(Int, Long, Boolean, Array[Double], Option[Array[Double]])]
              while (bb.hasRemaining) {
                val c = bb.getInt(); val n = bb.getLong()
                val stale = bb.get() == 1.toByte
                val sd = bb.getInt()
                val serving = Array.fill(sd)(bb.getDouble())
                val rd = bb.getInt()
                val refresh =
                  if (rd < 0) None else Some(Array.fill(rd)(bb.getDouble()))
                recs += ((c, n, stale, serving, refresh))
              }
              recs.toSeq
            }.seq
        }
      val books = bookLines.map(kv).toSeq.groupBy(_.apply("pq").toInt).toSeq
        .sortBy(_._1).map { case (_, rows) =>
          rows.map(m => (m("code").toInt, decodeDoubles(m("cent"))))
            .sortBy(_._1)
        }
      Some(Sidecar(
        serving = cells.map(r => (r._1, r._4)).sortBy(_._1),
        refresh = cells.collect { case (c, _, _, _, Some(r)) => (c, r) }
          .sortBy(_._1),
        counts = cells.map(r => r._1.toLong -> r._2).toMap,
        staleCells = cells.filter(_._3).map(_._1.toLong).toSet,
        pendingAppends = meta("pending").toBoolean,
        maxSeq = meta("max_seq").toLong,
        version = meta("version").toLong,
        books = books,
        // absent in pre-r13 sidecars: 0 is exact there (every
        // non-append row carried seq 0)
        compactedSeq = meta.get("compacted_seq").map(_.toLong).getOrElse(0L)))
    } catch {
      // a malformed line must surface as the loud diagnostic, not a
      // bare IndexOutOfBounds/NoSuchElement from the parse internals
      case e: RuntimeException =>
        throw new IllegalStateException(
          s"readSidecar: '$f' is corrupt (${e.getClass.getSimpleName}: " +
            s"${e.getMessage}) — rebuild the index", e)
    }
  }

  /** Process-wide sidecar cache keyed by index path, invalidated by a
    * filesystem fingerprint (the `_centers` file names + sizes +
    * mtimes — a k-file listing, no data read): a long-lived Console /
    * QueryServer session serving repeated batches plans each request
    * off the cached k·d doubles instead of re-reading the sidecar,
    * and any writer (upsert/append/compact — this process or another)
    * changes the fingerprint and forces a reload. */
  object SidecarCache {
    private val cache = new ConcurrentHashMap[String, (String, Sidecar)]()
    /** Per-path sidecar file loads (cache misses) — observable for
      * tests (per-path so parallel suites don't race a global count). */
    private val loadCounts = new ConcurrentHashMap[String, AtomicLong]()
    def loadCount(path: String): Long =
      Option(loadCounts.get(path)).map(_.get()).getOrElse(0L)

    /** Sweep threshold: a long-lived server session serving many
      * TRANSIENT index paths must not grow both maps without bound
      * (each cache entry holds k·d serving + refresh doubles plus PQ
      * books). Past this size, every miss first drops entries whose
      * sidecar file no longer exists — live indexes are never evicted
      * (their entries are real working state, bounded by the number
      * of indexes actually served). */
    private val SweepAt = 256

    private def fingerprint(spark: SparkSession, path: String): String = {
      val dir = sidecarDir(path)
      val local = dir.toUri.getScheme match {
        case null | "file" => Some(java.nio.file.Paths.get(dir.toUri.getPath))
        case _ => None
      }
      local match {
        case Some(d) =>
          // local fast-path: one directory listing resolves the
          // highest committed header (headers are version-NAMED, the
          // r14 CAS), and the fingerprint keeps its NAME + INODE:
          // every commit creates a new name and a new file, so a
          // cross-process write can never alias the fingerprint the
          // way same-length + coarse-mtime could. ONLY absence (no
          // dir / no header) maps to "" (= no sidecar): any other IO
          // error must propagate — aliasing a transient read failure
          // to "legacy layout" would silently bypass the
          // pendingAppends serve/upsert refusals.
          // list-then-stat races version retirement: two quick
          // successive commits retire the version a reader just
          // listed as max, and aliasing that stat failure to "" (= no
          // sidecar) would silently bypass the pendingAppends
          // refusals — so a vanished MAX header re-lists (bounded),
          // and only a header-LESS directory maps to "".
          def attempt(left: Int): String =
            try {
              import scala.jdk.CollectionConverters._
              val ls = java.nio.file.Files.list(d)
              val headers = try ls.iterator().asScala
                .flatMap { p =>
                  p.getFileName.toString match {
                    case SidecarHeaderRe(n) => Some(p -> n.toLong)
                    case _ => None
                  }
                }.toSeq
              finally ls.close()
              headers.sortBy(_._2).lastOption.map { case (p, _) =>
                try {
                  val attrs = java.nio.file.Files.readAttributes(p,
                    classOf[java.nio.file.attribute.BasicFileAttributes])
                  s"${p.getFileName}:${attrs.fileKey}:${attrs.size}:${attrs.lastModifiedTime}"
                } catch {
                  case e: java.nio.file.NoSuchFileException =>
                    if (left > 0) attempt(left - 1)
                    else throw new IllegalStateException(
                      s"sidecar fingerprint at '$path': the latest header " +
                        "keeps vanishing mid-read (racing writers?)", e)
                }
              }.getOrElse("")
            } catch {
              case _: java.nio.file.NoSuchFileException => "" // no dir
              case _: java.io.FileNotFoundException => ""
            }
          attempt(3)
        case None =>
          // remote filesystems: the same one-listing resolution off
          // the scheme's FileSystem; name + length + mtime (the
          // version-named header makes name the real discriminator).
          // Same rule: only not-found of EVERY header is "no sidecar";
          // a throttled s3a/hdfs listing propagates instead of serving
          // superseded rows, and a retired-mid-read max re-lists.
          def attemptRemote(left: Int): String =
            latestSidecarFile(hadoopFs(spark, path), path).map { case (f, _) =>
              try {
                val st = hadoopFs(spark, path).getFileStatus(f)
                s"${f.getName}:${st.getLen}:${st.getModificationTime}"
              } catch {
                case e: java.io.FileNotFoundException =>
                  if (left > 0) attemptRemote(left - 1)
                  else throw new IllegalStateException(
                    s"sidecar fingerprint at '$path': the latest header " +
                      "keeps vanishing mid-read (racing writers?)", e)
              }
            }.getOrElse("")
          attemptRemote(3)
      }
    }

    /** Misses since the last dead-path sweep: with >SweepAt LIVE
      * indexes the sweep can evict nothing, and re-statting every
      * cached path on EVERY miss would be an O(n) remote-RPC storm
      * per miss — so sweeps are also rate-limited by miss count. */
    private val missesSinceSweep = new AtomicLong(0L)

    private def sweepDead(spark: SparkSession): Unit =
      if ((cache.size > SweepAt || loadCounts.size > SweepAt) &&
          missesSinceSweep.incrementAndGet() >= SweepAt / 4) {
        missesSinceSweep.set(0L)
        import scala.jdk.CollectionConverters._
        (cache.keySet.asScala ++ loadCounts.keySet.asScala).toSeq
          .filter { p =>
            // opportunistic maintenance must never fail an unrelated
            // caller: a transient stat error on SOME OTHER cached path
            // (one throttled s3a index among hundreds) means "keep the
            // entry", not "propagate out of this caller's get()" —
            // only not-found (fingerprint "") evicts
            try fingerprint(spark, p).isEmpty catch { case _: Exception => false }
          }
          .foreach { p => cache.remove(p); loadCounts.remove(p) }
      }

    /** Cheap identity of the sidecar's current committed generation —
      * ONE file stat (name + inode/length + mtime of the highest
      * committed header), no data read. Every commit creates a new
      * version-named header file, so any writer (this process or
      * another) changes the value. "" = no sidecar. This is the
      * freshness check long-lived consumers poll: the cache below
      * keys on it, and [[graft.streaming.StreamingOps.serveOnline]]
      * re-verifies it per micro-batch to enforce its frozen-index
      * contract. */
    def currentFingerprint(spark: SparkSession, path: String): String =
      fingerprint(spark, path)

    def get(spark: SparkSession, path: String): Option[Sidecar] = {
      val fp = fingerprint(spark, path)
      if (fp.isEmpty) { cache.remove(path); loadCounts.remove(path); None }
      else Option(cache.get(path)).filter(_._1 == fp).map(_._2).orElse {
        sweepDead(spark)
        loadCounts.computeIfAbsent(path, _ => new AtomicLong(0L)).incrementAndGet()
        val sc = readSidecar(spark, path)
        sc.foreach(s => cache.put(path, (fp, s)))
        sc
      }
    }

    def invalidate(path: String): Unit = cache.remove(path)
  }

  /** The index's RAW parquet relation with listing + schema resolved
    * once per sidecar GENERATION. Re-opening the index re-lists every
    * cell directory and re-infers schema as a driver job per serve
    * statement; the sidecar header's fingerprint (a new name + inode
    * per commit — every lifecycle mutation, including a rebuild,
    * commits one) is the invalidation token, so any append / upsert /
    * compact / rebuild re-resolves the relation. Pre-sidecar layouts
    * have no token and are never cached. Metadata only — every query
    * still scans the index files. */
  def openRaw(spark: SparkSession, path: String): DataFrame = {
    val token = SidecarCache.currentFingerprint(spark, path)
    if (token.isEmpty) return spark.read.parquet(path)
    graft.core.RelationCache.getOrBuild(spark, s"ivfraw:$path", token)(
      spark.read.parquet(path))
  }

  /** Persist an assigned (vec_id, embedding, cell) frame as the
    * cell-partitioned layout. The explicit RANGE repartition on
    * (cell, vec_id) pays ONE shuffle so each task writes a contiguous
    * cell slice: ~shuffle-partitions files total, each cell's file
    * count proportional to its occupancy. (Hash-repartitioning on the
    * cell alone collapses k cells onto ≤k writer tasks — k huge
    * single-row-group files that cap READ parallelism at k: the
    * round-11 probe read the k=4 layout 2× slower than the flat
    * corpus. No repartition at all is worse still — every task writes
    * a sliver of every cell, tasks×cells tiny files.) Rows carry a
    * `seq` version column (0 for base builds; appends write higher
    * values) so `readLatest` can resolve superseded versions. */
  /** Data columns of a layout frame in canonical order — (vec_id,
    * embedding, seq[, pq]); `pq` (array<tinyint> codes) is present
    * only on PQ-built indexes and rides through every lifecycle op. */
  private def layoutCols(df: DataFrame): Seq[org.apache.spark.sql.Column] =
    Seq(col("vec_id"), col("embedding"), col("seq")) ++
      (if (df.columns.contains("pq")) Seq(col("pq")) else Nil)

  /** Parquet page-size bound for index layouts. Serving gathers are
    * POINT LOOKUPS by vec_id (the PQ re-rank reads ≤shortlist·q rows
    * out of millions), and parquet skips at PAGE granularity via the
    * column index — so the gather's read cost is
    * min(winners-in-file, pages)·page-bytes, and the PAGE is the unit
    * the layout must keep small: 64 rows ≈ 17 KB of floats per page
    * (vs ~5 MB at parquet's ~20k-row default). Within a cell file the
    * rows are vec_id-sorted, so each page covers 64 CONSECUTIVE cell
    * members and a per-cell pushed id predicate touches ~one page per
    * looked-up id (r13 diag: 200-id gather reads 5.7 MB of a 533 MB
    * corpus at this page size vs 526 MB un-skipped). Page-header
    * overhead is ~tens of bytes per 17 KB — noise; corpus-scan ops
    * read every page either way. */
  private val PageRowLimit = 64

  /** Rows per layout task — the §6 output-file-sizing knob: a task's
    * contiguous (cell, vec_id) range lands in ~one file per cell it
    * spans, so ~256k rows ≈ 70 MB of floats per file. Writing with
    * the session's full shuffle parallelism regardless of size left a
    * 2000-row bench index spread over 35 files whose per-file open
    * cost (footer, column index, reader init — ~50-100 ms each)
    * dominated every serve scan; at corpus scale rows/target exceeds
    * the session parallelism and the cap keeps today's behavior. */
  private val LayoutRowsPerTask = 1L << 18

  def write(assigned: DataFrame, path: String,
      rowsHint: Option[Long] = None): Unit = {
    val conf = assigned.sparkSession.sessionState.conf.numShufflePartitions
    val n = rowsHint match {
      case Some(r) => math.max(1L, math.min(conf.toLong,
        (r + LayoutRowsPerTask - 1) / LayoutRowsPerTask)).toInt
      case None => conf
    }
    val withSeq =
      if (assigned.columns.contains("seq")) assigned
      else assigned.withColumn("seq", lit(0L))
    withSeq.select(layoutCols(withSeq) :+
        col("cell").cast(LongType).as("cell"): _*)
      .repartitionByRange(n, col("cell"), col("vec_id"))
      // range partitioning alone does NOT order rows within the task;
      // the local sort is what makes every page's vec_id stats a tight
      // contiguous range (the gather-pushdown prerequisite)
      .sortWithinPartitions(col("cell"), col("vec_id"))
      .write.mode("overwrite")
      .option("parquet.page.row.count.limit", PageRowLimit.toString)
      .partitionBy("cell").parquet(path)
  }

  /** Build an index at `path` from a raw (vec_id, embedding) frame:
    * sample-bounded k-means fit (≤256·k training vectors whatever the
    * corpus size), ONE full assignment pass, cell-partitioned write,
    * and the `_centers` sidecar (serving centers + the exact per-cell
    * refresh means and occupancy, computed in one narrow scan of the
    * just-written index). Returns the serving centers — the frozen
    * artifact every other lifecycle op scores against. */
  def build(e: DataFrame, path: String, k: Int = VectorQueries.KMEANS_K,
      pq: Boolean = false): Seq[(Int, Array[Double])] = {
    val spark = e.sparkSession
    // ONE corpus count, shared by the coarse fit's and the PQ fit's
    // sample thresholds (each used to re-count the same rows)
    val n = e.count()
    val centers = VectorQueries.kmeansFit(e, k,
      VectorQueries.KMEANS_ITERS - 1, nHint = n)
    val assigned = VectorQueries.kmeansAssign(e, centers)
    val books =
      if (!pq) Seq.empty
      else {
        // residual PQ (the v33 shape): per-subspace codebooks trained
        // on the corpus residuals against the SERVING centers, codes
        // stored alongside each row so ADC serving scans ~8 bytes per
        // vector instead of the full float embedding
        val resid = VectorQueries.residuals(assigned, centers)
        VectorQueries.pqCodebooks(
          resid.select(col("vec_id"), col("embedding")),
          dim = centers.head._2.length, nHint = n)
      }
    // reuse the assigned (and coded) frame across its three readers:
    // the range partitioner's SAMPLING pass, the shuffle write, and
    // the sidecar's refresh-mean aggregate. Uncached, the
    // nearest-centroid encode ran twice (sample + write) and the
    // just-written index was re-read once more for the means — three
    // corpus passes where one encode suffices. The means are computed
    // from the same rows the write lands (floats pass through parquet
    // unchanged, and the Det-decimal mean is partition-order-exact),
    // so the sidecar is bit-identical to the re-read shape.
    val cached = Materialize.reuse(
      if (pq) withCodes(assigned, centers, books) else assigned)
    // the shuffle write and the sidecar's means aggregate both read
    // the cached frame and are independent until writeSidecar — run
    // the aggregate on a second driver thread so it overlaps the
    // write (guide §2.6 concurrent jobs; the block manager's
    // per-block locks make a racing first materialization safe: one
    // task computes a partition, the other waits for the block)
    val meansTask = new java.util.concurrent.FutureTask[
        (Seq[(Int, Array[Double])], Map[Long, Long])](() =>
      VectorQueries.refreshedCentersWithCounts(
        cached.select(col("embedding"), col("cell").cast(LongType).as("cell"))))
    val meansThread = new Thread(meansTask, "graft-build-means")
    meansThread.setDaemon(true)
    meansThread.start()
    write(cached, path, rowsHint = Some(n))
    val (means, counts) =
      try meansTask.get()
      catch { case e: java.util.concurrent.ExecutionException => throw e.getCause }
    writeSidecar(spark, path, Sidecar(centers, means, counts,
      staleCells = Set.empty, pendingAppends = false, maxSeq = 0L,
      version = 1L, books = books))
    Materialize.release(cached)
    centers
  }

  /** Attach the `pq` codes column to an assigned (vec_id, embedding,
    * cell, …) frame: residual against the row's own serving center,
    * then one nearest-centroid per subspace — all codegen'd
    * expressions in ONE projection (no join, no second pass). */
  def withCodes(assigned: DataFrame, serving: Seq[(Int, Array[Double])],
      books: Seq[Seq[(Int, Array[Double])]]): DataFrame = {
    val dim = serving.head._2.length
    val dSub = dim / books.size
    val residCol = serving.tail.foldLeft(
      when(col("cell") === serving.head._1.toLong,
        VectorQueries.residualAgainst(col("embedding"), serving.head._2))) {
      case (w, (j, c)) => w.when(col("cell") === j.toLong,
        VectorQueries.residualAgainst(col("embedding"), c))
    }
    val codes = books.indices.map(s =>
      graft.functions.VectorExprs.nearest_centroid(
        residCol, books(s), dSub, s * dSub).cast(ByteType))
    assigned.withColumn("pq", array(codes: _*))
  }

  /** Read the index back. The hive partition key comes back INT-typed
    * — normalize to the BIGINT cell contract every consumer pins.
    * Plain read: correct for built/upserted/compacted indexes; an
    * index with PENDING APPENDS (sidecar `pendingAppends`) may hold
    * superseded row versions and must go through [[readLatest]]. */
  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path).select(col("vec_id"), col("embedding"),
      col("cell").cast(LongType).as("cell"))

  /** Read with EVERY layout column (vec_id, embedding, seq[, pq],
    * cell) — the shape lifecycle rewrites preserve. */
  def readFull(spark: SparkSession, path: String): DataFrame = {
    val base = spark.read.parquet(path)
    val withSeq =
      if (base.columns.contains("seq")) base
      else base.withColumn("seq", lit(0L)) // pre-seq layout
    withSeq.select(layoutCols(withSeq) :+
      col("cell").cast(LongType).as("cell"): _*)
  }

  /** Ingest-batch shape check: a PQ index's arrivals must carry their
    * codes (the planner encodes them against the sidecar books); a
    * plain index's arrivals must not. */
  private def requireMatchingShape(arrivals: DataFrame, hasPq: Boolean,
      op: String): Unit = {
    if (hasPq && !arrivals.columns.contains("pq"))
      throw new IllegalArgumentException(
        s"$op: index stores PQ codes but the arrival batch has no `pq` " +
          "column — encode arrivals against the sidecar codebooks first")
    if (!hasPq && arrivals.columns.contains("pq"))
      throw new IllegalArgumentException(
        s"$op: arrival batch carries `pq` codes but the index stores none")
  }

  /** Read with append-aware version resolution: per vec_id, the row
    * with the highest `seq` wins (ties broken by cell desc — unused
    * under the unique-ids-per-batch contract), so a re-ingested
    * vector supersedes its older copy EVEN ACROSS CELLS (a changed
    * embedding that assigns elsewhere leaves the stale copy behind;
    * the global window resolves it). Costs one hash shuffle on
    * vec_id — the price of reading an uncompacted index; [[compact]]
    * removes superseded rows from the files so plain [[read]] (and
    * partition-pruned serving) is exact again. */
  def readLatest(spark: SparkSession, path: String): DataFrame = {
    val base = spark.read.parquet(path)
    val withSeq =
      if (base.columns.contains("seq")) base
      else base.withColumn("seq", lit(0L)) // pre-seq layout: no appends
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("seq").desc, col("cell").desc)
    withSeq.withColumn("__rk", row_number().over(w)).filter(col("__rk") === 1)
      .select(col("vec_id"), col("embedding"),
        col("cell").cast(LongType).as("cell"))
  }

  /** Target rows per file for maintenance REWRITES (upsert/compact).
    * The rewrite's partition count is sized by the rows actually being
    * written, not the session's shuffle-partition count: a full-width
    * repartition of a small cell set writes shuffle-partitions tiny
    * files — compacting a low-occupancy cell could then leave MORE
    * files than the trigger threshold, and [[appendAndMaintain]]'s
    * bounded-file-count loop would re-compact every batch forever. At
    * ~33 MB of floats per 128k rows the cap never binds on a real
    * rewrite (rows/target ≫ shuffle partitions), so cluster-scale
    * write parallelism is unchanged. */
  private val RewriteTargetRowsPerFile = 131072L

  /** Dynamic-partition-overwrite with a VACATED-cell fix: Spark only
    * rewrites partitions PRESENT in the written frame, so a touched
    * cell whose every row was deleted (all re-ingested elsewhere, no
    * arrivals landing) would keep its old files and resurrect the
    * deleted rows. After the write, any `touched` cell absent from
    * the frame has its directory removed outright. Callers pass `df`
    * over cut inputs, so the sizing count is cheap. */
  private def overwriteCells(df: DataFrame, path: String,
      touched: Seq[Long]): Unit = {
    // ONE job yields both the present-cell set and the sizing count
    // (df is a cheap plan over checkpointed inputs, but upsert's merge
    // is not itself checkpointed — don't evaluate it more than needed)
    val perCell = df.groupBy(col("cell")).count().collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    val present = perCell.map(_._1).toSet
    if (present.nonEmpty) {
      val conf = df.sparkSession.sessionState.conf.numShufflePartitions
      val rows = perCell.map(_._2).sum
      val n = math.min(conf.toLong,
        math.max(1L, (rows + RewriteTargetRowsPerFile - 1) / RewriteTargetRowsPerFile)).toInt
      df.repartitionByRange(n, col("cell"), col("vec_id"))
        .sortWithinPartitions(col("cell"), col("vec_id"))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .option("parquet.page.row.count.limit", PageRowLimit.toString)
        .partitionBy("cell").parquet(path)
    }
    // vacated-cell delete on the INDEX's OWN filesystem (scheme-
    // resolved): a java.nio check would silently no-op on hdfs://
    // or s3a:// and resurrect the deleted rows on the next read
    val fs = hadoopFs(df.sparkSession, path)
    touched.filterNot(present).foreach { c =>
      val dir = new HPath(path, s"cell=$c")
      try { if (fs.getFileStatus(dir).isDirectory) fs.delete(dir, true) }
      catch { case _: java.io.FileNotFoundException => () }
    }
  }

  /** Loud guard: ingest batches must carry unique vec_ids (the merge
    * anti-join and the seq version order are per-id). One O(batch)
    * aggregate — ingestion-time cost, never query-time. */
  private def requireUniqueIds(arrivals: DataFrame, op: String): Unit = {
    val dup = arrivals.groupBy(col("vec_id")).count()
      .filter(col("count") > 1).limit(1).collect()
    if (dup.nonEmpty)
      throw new IllegalArgumentException(
        s"$op: arrival batch has duplicate vec_id ${dup.head.get(0)} — " +
          "version resolution is per-id, ingest batches must be unique on vec_id")
  }

  /** Incremental upsert: land `assigned` arrivals (vec_id, embedding,
    * cell — already scored against the index's FROZEN centers, the
    * v28 ingest contract) in their cells. Touched cells are read back
    * partition-pruned, arrivals replace same-id rows (re-ingest is an
    * UPDATE, not a duplicate), and dynamic partition overwrite
    * rewrites only the touched cells' directories — an arrival batch
    * touching 3 of 64 cells rewrites ~5% of the files and reads the
    * same. The touched slice is materialized through an eager local
    * checkpoint BEFORE the write so the job never reads the path it
    * is overwriting.
    *
    * A re-ingested id whose CHANGED embedding assigns to a different
    * cell would leave its old copy in a now-untouched cell; the
    * stale-id sweep (one vec_id-column scan of the untouched cells —
    * the id column is a few % of index bytes, embeddings never load)
    * finds those cells and extends the touched set, so the old copy
    * is deleted in the same pass and the index never holds two rows
    * for one vec_id. Sidecar refresh means and occupancy are
    * recomputed for touched cells only (pruned post-write read). */
  def upsert(spark: SparkSession, path: String, assigned: DataFrame): Unit = {
    val indexHasPq = spark.read.parquet(path).columns.contains("pq")
    requireMatchingShape(assigned, indexHasPq, "upsert")
    // materialize the arrivals ONCE: the uniqueness guard, touched
    // collect, stale-id sweep, vacated-cell check and the write are
    // five separate actions — without this each re-runs the caller's
    // assignment (and PQ encode) over the arrival source
    val arrivals = Materialize.cut(assigned.select(
      (Seq(col("vec_id"), col("embedding")) ++
        (if (indexHasPq) Seq(col("pq")) else Nil)) :+
        col("cell").cast(LongType).as("cell"): _*))
    val side = readSidecar(spark, path)
    side.foreach(s => if (s.pendingAppends)
      throw new IllegalStateException(
        s"upsert: index at '$path' has un-compacted appends — " +
          "read-merge-overwrite over appended cells would resurrect " +
          "superseded row versions; run compact first"))
    requireUniqueIds(arrivals, "upsert")
    val touched0 = arrivals.select(col("cell")).distinct().collect()
      .map(_.getLong(0)).sorted.toSeq
    if (touched0.isEmpty) return
    val arrivalIds = arrivals.select(col("vec_id"))
    // stale-id sweep: arrival ids living OUTSIDE the arrival cells
    // (narrow scan — only vec_id bytes read; cell is the dir name)
    val staleCells = read(spark, path)
      .filter(!col("cell").isin(touched0: _*))
      .join(broadcast(arrivalIds), "vec_id")
      .select(col("cell")).distinct().collect().map(_.getLong(0)).toSeq
    val touched = (touched0 ++ staleCells).distinct.sorted
    val existing = Materialize.cut(readFull(spark, path)
      .filter(col("cell").isin(touched: _*)))
    // survivors KEEP their seq through the rewrite (same contract as
    // compact — maintenance ops never erase version history); arrivals
    // stamp the current high-water mark (== compactedSeq here, since
    // upsert refuses a pending-appends index), so `seq > compactedSeq`
    // stays the exact post-compact-append predicate
    val merged = existing
      .join(broadcast(arrivalIds), Seq("vec_id"), "left_anti")
      .unionByName(arrivals.withColumn("seq",
        lit(side.map(_.maxSeq).getOrElse(0L))))
    overwriteCells(merged.select(layoutCols(merged) :+ col("cell"): _*),
      path, touched)
    Materialize.release(existing)
    Materialize.release(arrivals)
    side.foreach { s =>
      val touchedSet = touched.toSet
      val (means, counts) = VectorQueries.refreshedCentersWithCounts(
        read(spark, path).filter(col("cell").isin(touched: _*)))
      writeSidecar(spark, path, s.copy(
        refresh = (s.refresh.filterNot(c => touchedSet(c._1.toLong)) ++ means)
          .sortBy(_._1),
        counts = (s.counts -- touchedSet) ++
          touched.map(c => c -> counts.getOrElse(c, 0L)),
        staleCells = s.staleCells -- touchedSet,
        version = s.version + 1L))
    }
  }

  /** Append-only ingest — the scattered-arrival path: arrivals land
    * as NEW files inside their cell directories at the next `seq`
    * version, writing O(batch) bytes no matter how many cells the
    * batch touches (the overwrite upsert rewrites every touched
    * cell's occupancy — ~40% of a full build for a 0.1% batch spread
    * over all cells, SCALE_r11). Existing files are never read or
    * rewritten. The cost moves to the READ side: until [[compact]],
    * superseded row versions remain in the files and exact reads go
    * through [[readLatest]]; touched cells' sidecar refresh means are
    * marked STALE (still served against — routing is a recall
    * heuristic — but drift checks recompute). Returns the batch's
    * seq. */
  def append(spark: SparkSession, path: String, assigned: DataFrame): Long = {
    val s = readSidecar(spark, path).getOrElse(throw new IllegalStateException(
      s"append: no _centers sidecar at '$path' — build the index first"))
    requireMatchingShape(assigned, s.hasPq, "append")
    // one materialization across the guard, touched collect and write
    val arrivals = Materialize.cut(assigned.select(
      (Seq(col("vec_id"), col("embedding")) ++
        (if (s.hasPq) Seq(col("pq")) else Nil)) :+
        col("cell").cast(LongType).as("cell"): _*))
    requireUniqueIds(arrivals, "append")
    val touched = arrivals.select(col("cell")).distinct().collect()
      .map(_.getLong(0)).sorted.toSeq
    if (touched.isEmpty) return s.maxSeq
    val seq = s.maxSeq + 1L
    // sidecar FIRST, data files second: a crash between the two then
    // leaves a compact-fixable state (pendingAppends=true with no or
    // partial new files — readLatest stays exact, the seq value is
    // burned, compact clears the flag). The reverse order would leave
    // appended, possibly SUPERSEDING rows in the files while the
    // sidecar still says pendingAppends=false — serve/upsert/plain
    // read silently operating on superseded versions, and the next
    // append reusing the same seq.
    writeSidecar(spark, path, s.copy(
      staleCells = s.staleCells ++ touched,
      pendingAppends = true, maxSeq = seq, version = s.version + 1L))
    // hash-repartition ON the cell: a batch is small, one file per
    // touched cell is the GOAL here (contrast write()'s range
    // repartition, sized for corpus builds)
    val withSeq = arrivals.withColumn("seq", lit(seq))
    withSeq.select(layoutCols(withSeq) :+ col("cell"): _*)
      .repartition(col("cell"))
      .write.mode("append")
      .option("parquet.page.row.count.limit", PageRowLimit.toString)
      .partitionBy("cell").parquet(path)
    Materialize.release(arrivals)
    seq
  }

  /** Per-cell parquet file counts from a directory listing (no data
    * read) — compact's rewrite trigger. Listed on the index's own
    * filesystem (scheme-resolved), so the trigger works on hdfs://
    * and s3a:// layouts too. */
  def cellFileCounts(spark: SparkSession, path: String): Map[Long, Int] = {
    val fs = hadoopFs(spark, path)
    val root = new HPath(path)
    val rootOk = try fs.getFileStatus(root).isDirectory
      catch { case _: java.io.FileNotFoundException => false }
    if (!rootOk) Map.empty
    else fs.listStatus(root)
      .filter(d => d.isDirectory && d.getPath.getName.startsWith("cell="))
      .map { d =>
        d.getPath.getName.stripPrefix("cell=").toLong ->
          fs.listStatus(d.getPath)
            .count(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
      }.toMap
  }

  /** Compaction — the maintenance op that restores plain-[[read]]
    * exactness (and partition-pruned serving) after appends. Rewrites
    * the cells that need it and ONLY those:
    *  - cells whose file count exceeds `maxFilesPerCell` (append
    *    produces one file per touched cell per batch);
    *  - cells holding a SUPERSEDED copy of any row (a re-ingest that
    *    moved cells leaves one behind), found with one narrow
    *    (vec_id, seq) scan — embeddings never load for the analysis;
    *  - stale-refresh cells get their sidecar means recomputed even
    *    when their files need no rewrite.
    * Survivors keep their seq values and `maxSeq` is NOT reset, so a
    * later append still supersedes every pre-compact row. Returns the
    * rewritten cells. */
  /** One-shot sidecar backfill for a LEGACY cell-partitioned layout
    * (built before the `_centers` sidecar existed): recomputes the
    * exact per-cell means and occupancy in one scan of the index and
    * persists them, so every later serve/repair/ingest routes off k·d
    * driver rows instead of silently falling back to a per-call
    * full-index aggregate. The layout's original frozen fit is gone —
    * the refresh means stand in as the serving centers (the exact
    * means of the rows each cell actually holds, which is what
    * routing needs). Conservative on versions: any `seq > 0` row in a
    * sidecar-less layout is treated as a possible un-compacted append. */
  def backfillSidecar(spark: SparkSession, path: String): Sidecar = {
    // a PQ-built layout cannot be backfilled: the codebooks lived only
    // in the lost sidecar and are NOT recoverable from the stored
    // codes. Writing books=empty instead would flip hasPq to false and
    // INVERT the ingest shape guard — correctly-encoded arrivals
    // refused, code-less arrivals accepted into a mixed-schema index.
    if (spark.read.parquet(path).columns.contains("pq"))
      throw new IllegalStateException(
        s"backfillSidecar: index at '$path' stores PQ codes but its " +
          "_centers sidecar (the codebooks) is gone — the codebooks " +
          "cannot be recovered from codes; rebuild with `index … pq`")
    val (means, counts) = VectorQueries.refreshedCentersWithCounts(
      read(spark, path))
    if (means.isEmpty) throw new IllegalStateException(
      s"backfillSidecar: index at '$path' is empty")
    val maxSeq = readFull(spark, path).agg(max(col("seq"))).collect()
      .headOption.flatMap(r => Option(r.get(0)).map(_.asInstanceOf[Long]))
      .getOrElse(0L)
    val sc = Sidecar(serving = means, refresh = means,
      counts = counts, staleCells = Set.empty,
      pendingAppends = maxSeq > 0L, maxSeq = maxSeq, version = 1L,
      books = Seq.empty, compactedSeq = 0L)
    writeSidecar(spark, path, sc)
    sc
  }

  /** Broadcast bound for compact's appended-id scoping: above this
    * many appended rows the duplicate analysis falls back to the full
    * (vec_id, seq) window — still narrow columns, one shuffle — rather
    * than broadcasting an unbounded id set. */
  private val CompactScopeMaxIds = 4000000L

  def compact(spark: SparkSession, path: String, maxFilesPerCell: Int = 4)
      : Seq[Long] = {
    val s = readSidecar(spark, path).getOrElse(backfillSidecar(spark, path))
    val over = cellFileCounts(spark, path).collect {
      case (cell, n) if n > maxFilesPerCell => cell
    }.toSeq
    // narrow duplicate analysis: which cells hold a beaten row version.
    // Scoped to the APPENDED ids — rows at `seq > compactedSeq` are the
    // only possible winners that strand a loser (build/upsert/compact
    // all preserve global id-uniqueness otherwise), and the seq filter
    // prunes to the appended FILES via row-group stats (pre-append
    // files hold constant seq ≤ compactedSeq). The analysis wall then
    // tracks the appended fraction, not the index size.
    val narrow = spark.read.parquet(path)
      .select(col("vec_id"), col("seq"), col("cell").cast(LongType).as("cell"))
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("seq").desc, col("cell").desc)
    val losers =
      if (!s.pendingAppends) narrow.filter(lit(false)) // duplicate-free
      else {
        val appended = narrow.filter(col("seq") > s.compactedSeq)
        val nAppended = appended.count() // appended-files-only scan
        val scoped =
          if (nAppended <= CompactScopeMaxIds)
            narrow.join(broadcast(appended.select(col("vec_id")).distinct()),
              "vec_id")
          else narrow
        scoped.withColumn("__rk", row_number().over(w))
          .filter(col("__rk") > 1)
          .select(col("vec_id"), col("seq"), col("cell"))
      }
    val loserCells =
      if (s.pendingAppends)
        losers.select(col("cell")).distinct().collect().map(_.getLong(0)).toSeq
      else Seq.empty // overwrite-maintained indexes are duplicate-free
    val targets = (over ++ loserCells).distinct.sorted
    if (targets.nonEmpty) {
      val tgt = readFull(spark, path)
        .filter(col("cell").isin(targets: _*))
      // drop beaten versions (anti-join on the full row version key;
      // the losers side recomputes pruned to target cells' rows);
      // a duplicate-free index skips the dedupe join outright
      val surv = Materialize.cut(if (s.pendingAppends)
          tgt.join(losers, Seq("vec_id", "seq", "cell"), "left_anti")
        else tgt)
      overwriteCells(surv, path, targets)
      Materialize.release(surv)
    }
    // refresh means for every rewritten or stale cell (pruned read)
    val needMeans = (targets ++ s.staleCells).distinct.sorted
    val (means, counts) =
      if (needMeans.isEmpty) (Seq.empty[(Int, Array[Double])], Map.empty[Long, Long])
      else VectorQueries.refreshedCentersWithCounts(
        read(spark, path).filter(col("cell").isin(needMeans: _*)))
    val needSet = needMeans.toSet
    writeSidecar(spark, path, s.copy(
      refresh = (s.refresh.filterNot(c => needSet(c._1.toLong)) ++ means).sortBy(_._1),
      counts = (s.counts -- needSet) ++
        needMeans.map(c => c -> counts.getOrElse(c, 0L)),
      staleCells = Set.empty, pendingAppends = false,
      // the index is duplicate-free again: everything at or below the
      // current high-water mark is compacted state, so the next
      // append's rows are exactly `seq > compactedSeq`
      compactedSeq = s.maxSeq,
      version = s.version + 1L))
    targets
  }

  /** Append with a bounded-file-count maintenance trigger — the
    * continuous-ingest loop's building block (the streaming
    * foreachBatch path): lands the batch O(batch) like [[append]],
    * then compacts IFF any cell's file count crossed
    * `maxFilesPerCell` (a directory listing, no data read), so a
    * long-running stream's readLatest cost and file population stay
    * bounded without a manual maintenance schedule. Returns the cells
    * the triggered compact rewrote (empty when it didn't fire). */
  def appendAndMaintain(spark: SparkSession, path: String,
      assigned: DataFrame, maxFilesPerCell: Int = 4): Seq[Long] = {
    append(spark, path, assigned)
    val over = cellFileCounts(spark, path)
      .exists { case (_, n) => n > maxFilesPerCell }
    if (over) compact(spark, path, maxFilesPerCell) else Seq.empty
  }

  /** Final per-query rank of a (q_id, n_id, sim) candidate frame —
    * top-k by (sim desc, n_id asc) WITHOUT a sort: the rank-window
    * shape plans a full local sort of every candidate row (measured
    * 42-45 GB of sort spill at a 100k-query batch over 2M vectors,
    * SCALE_r14_cap); [[graft.functions.TopKByAgg]] folds candidates
    * into bounded per-query heaps map-side instead, so the exchange
    * carries q·k winner rows and nothing larger than k is ever
    * sorted. Bit-identical output (same order contract, ranks off
    * posexplode of the rank-ordered winners). */
  private def rankTopK(sims: DataFrame, k: Int): DataFrame =
    sims.groupBy(col("q_id"))
      .agg(graft.functions.TopKExprs.top_k_by(
        col("n_id"), col("sim"), col("sim"), k, asc = false).as("topk"))
      .select(col("q_id"), posexplode(col("topk")).as(Seq("pos", "hit")))
      .select(col("q_id"), col("hit.id").as("n_id"),
        col("hit.payload").as("sim"),
        (col("pos") + 1).cast(LongType).as("rank"))

  /** Partition-pruned serving: top-`k` cosine neighbors within each
    * query's probed cell(s). `panel` is (q_id, q_emb, cell) — one row
    * per probed cell for multi-probe panels; the probed cells collect
    * is ≤ panel-size rows (driver-side routing), and the union of
    * probed cells becomes a static partition predicate on the index
    * scan, so serving READS only those cells' files. Each candidate
    * lives in exactly one cell (the index is duplicate-free), so the
    * per-query rank never sees a candidate twice. */
  def serve(idx: DataFrame, panel: DataFrame, k: Int,
      probedHint: Option[Seq[Long]] = None): DataFrame = {
    // a caller that routed the panel on the driver (planServe) already
    // knows the probed set — the distinct-collect job is skipped then
    val probed = probedHint.getOrElse(
      panel.select(col("cell")).distinct().collect()
        .map(_.get(0).asInstanceOf[Number].longValue()).sorted.toSeq)
    val pruned =
      if (probed.isEmpty) idx.filter(lit(false)) else
        idx.filter(col("cell").isin(probed: _*))
    val sims = pruned
      .select(col("vec_id").as("n_id"), col("embedding").as("n_emb"),
        col("cell"))
      .join(broadcast(panel), "cell")
      .filter(col("q_id") =!= col("n_id"))
      .select(col("q_id"), col("n_id"),
        VectorQueries.cosine(col("q_emb"), col("n_emb")).as("sim"))
    rankTopK(sims, k)
  }

  /** The lazy ADC shortlist of [[servePq]] — (q_id, n_id) winners per
    * query, scored over the CODES-ONLY columns of the pruned index.
    * Split out so the scan shape is independently pinnable: its plan
    * must read only (vec_id, pq) of the probed cells (~8 bytes of
    * codes per vector instead of the 256 B float embedding — the
    * 16–30× scan-byte cut that is PQ's whole point at 100 TB). */
  def pqShortlist(pruned: DataFrame, panel: DataFrame, shortlist: Int,
      serving: Seq[(Int, Array[Double])],
      books: Seq[Seq[(Int, Array[Double])]]): DataFrame = {
    // query residual against its probed cell's SERVING center — a
    // when-chain over k broadcast-literal centers, rounded to float
    // exactly like the stored codes' training residuals
    val qres = serving.tail.foldLeft(
      when(col("cell") === serving.head._1.toLong,
        VectorQueries.residualAgainst(col("q_emb"), serving.head._2))) {
      case (w, (j, c)) => w.when(col("cell") === j.toLong,
        VectorQueries.residualAgainst(col("q_emb"), c))
    }
    // candidate ADC FUSED off the query residual (AdcDirectExpr): the
    // panel broadcasts the 256 B float residual, never a materialized
    // m·k-double LUT (~5× the panel weight — ~130 MB per probe at the
    // 100k-query cap), and the per-candidate hot loop neither
    // allocates nor hashes. The classic LUT trick trades m·dSub
    // multiply-adds for m lookups, but at gather scale (~3·10⁹
    // candidates at the cap) fetching an executor-side LUT through a
    // task-local memo measured 2.8× SLOWER than just re-deriving the
    // ~56 extra FMAs — per-row map-lookup boxing churns more than the
    // arithmetic it saves — and values are BIT-IDENTICAL either way
    // (the same left folds in the same order), so the oracle replays
    // them unchanged.
    val qSide = panel.select(col("q_id"), col("cell"), qres.as("qres"))
    val adc = graft.functions.VectorExprs.adc_direct(
      col("qres"), col("pq"), books)
    val sc = pruned
      .select(col("vec_id").as("n_id"), col("pq"), col("cell"))
      .join(broadcast(qSide), "cell")
      .filter(col("q_id") =!= col("n_id"))
      .select(col("q_id"), col("n_id"), col("cell"), adc.as("adc"))
    // bounded per-query heap instead of a rank window: the shortlist
    // stage ranks EVERY probed candidate per query, and the window
    // shape's local sort was the pq path's dominant spill at large
    // batches (see rankTopK). The winner's CELL rides along as the
    // agg payload: the re-rank gather needs it to push each id
    // against ITS OWN cell's files (see servePq).
    sc.groupBy(col("q_id"))
      .agg(graft.functions.TopKExprs.top_k_by(
        col("n_id"), col("adc"), col("cell"), shortlist, asc = true).as("s"))
      .select(col("q_id"), explode(col("s")).as("hit"))
      .select(col("q_id"), col("hit.id").as("n_id"),
        col("hit.payload").as("cell"))
  }

  /** Driver-collect ceiling for the re-rank gather's DISTINCT winner
    * set ((cell, n_id) rows — the set the pushed predicates are built
    * from). This is the only number that gates pushing at all: past it
    * the winner set is not collected and the gather runs as the
    * broadcast-join shape over the probed cells — which at that
    * cardinality is also simply the right plan (≥1M distinct winners
    * rival the probed cells' page population, so point reads stop
    * skipping anything; see the per-cell full-scan flip below, which
    * reaches the same conclusion cell-by-cell long before this global
    * bound binds). 1M two-long rows ≈ 16 MB transient on the driver —
    * inside the budget the probed-cell collects already set. */
  val PqGatherPushMax: Long = 1000000L

  /** Per-PLAN (and per-wave) pushed-term ceiling. The pushed shape is
    * a union of per-cell scans, each carrying an OR-of-equality
    * predicate over that cell's winner ids — the ONLY filter shape
    * parquet's column-index machinery actually evaluates page-by-page
    * (the r13 diag measured it: a native `In` prunes NOTHING at page
    * level, and a cross-cell id set prunes nothing either way, because
    * a cell's members are sparse in the id space — the same ids
    * restricted to THEIR OWN cell touch ~one page each). The ceiling
    * bounds ONE PLAN's size: Catalyst re-walks every Eq term through
    * the optimizer, and a ~5000-term, ~50-branch gather measured ~11 s
    * of planning — so winner sets LARGER than this are not abandoned
    * (the r13 behavior, whose fallback re-read every probed cell's
    * embeddings on top of the code scan) but split into sequential
    * ≤this-many-id WAVES, each planned at the measured-cheap size and
    * materialized before the next ([[PqGatherMaxWaves]] bounds the
    * job count). The bound also keeps every branch's OR depth
    * stack-safe: Spark's filter translation recurses per OR node and
    * overflows around ~5k terms. */
  val PqGatherPushMaxIds: Int = 1024

  /** Wave-count ceiling for the chunked pushed gather: at most this
    * many sequential ≤[[PqGatherPushMaxIds]]-id gather jobs per serve
    * call (so the pushed path's driver job count is bounded by a
    * constant, not by the batch size). Winner ids past
    * PqGatherPushMaxIds·PqGatherMaxWaves flip their cells to the
    * full-cell scan leg — at that density per-id point reads have
    * stopped beating a sequential cell scan in any geometry the
    * per-cell flip below wouldn't already have caught. */
  val PqGatherMaxWaves: Int = 32

  /** Pushed id predicates are ONE `In` per (cell, wave-slice) — r16.
    * The r14/r15 shape sliced each cell's ids into ≤128-term
    * OR-of-equality branches because a 1024-term OR Filter blew
    * Janino's 64 KB method limit; the OR-chains were also the
    * dominant driver cost of a prepared serve (s66: hundreds of
    * milliseconds of analysis/optimization/codegen per call over
    * thousands of Or nodes). `In` collapses the catalyst tree to one
    * node per branch (the optimizer converts it to an O(1) InSet —
    * tiny generated method, no Janino ceiling), while the parquet
    * pushdown stays the same or-of-eq page filter as long as
    * `spark.sql.parquet.pushdown.inFilterThreshold` covers the per-
    * branch id count — past that threshold Spark pushes a [min,max]
    * RANGE instead, which would read every page of the cell the id
    * span covers. [[servePq]] raises the session threshold to the
    * wave budget for exactly that reason while its eager waves scan,
    * and restores it before returning. A single-wave gather stays
    * lazy, so it scans later under the caller's own threshold. */

  /** `spark.sql.parquet.pushdown.inFilterThreshold` raised to at
    * least `min` while `body` runs, then restored — or unset if it was
    * unset. Overlapping calls on one session share the raise, and the
    * last one to leave restores the value the first one found, so
    * concurrent serves neither cut each other's raise short nor leave
    * it behind in the session. */
  private object InFilterThreshold {
    private val Key = "spark.sql.parquet.pushdown.inFilterThreshold"
    // session -> (calls inside, value before the first one)
    private val held =
      new java.util.IdentityHashMap[SparkSession, (Int, Option[String])]()

    def atLeast[A](spark: SparkSession, min: Int)(body: => A): A = {
      held.synchronized {
        // getAll holds only explicitly set keys (getOption would
        // report the registered default as if it were set)
        val (n, before) = Option(held.get(spark))
          .getOrElse((0, spark.conf.getAll.get(Key)))
        if (spark.conf.get(Key, "10").toInt < min) spark.conf.set(Key, min.toString)
        held.put(spark, (n + 1, before))
      }
      try body
      finally held.synchronized {
        val (n, before) = held.get(spark)
        if (n > 1) held.put(spark, (n - 1, before))
        else {
          held.remove(spark)
          before match {
            case Some(v) => spark.conf.set(Key, v)
            case None => spark.conf.unset(Key)
          }
        }
      }
    }
  }

  /** Per-cell pushed-vs-full decision: pushing reads ~one
    * [[PageRowLimit]]-row page per winner id (ids sharing a page
    * dedupe for free), a full-cell branch reads the cell's every page
    * exactly once. n winner ids uniform over p pages touch
    * p·(1-(1-1/p)^n) distinct pages in expectation — pushing NEVER
    * reads more bytes than the full scan, but by n ≈ 2p the expected
    * coverage is ~86% and the remaining skip upside no longer repays
    * the predicate's plan cost and random reads, so that is the flip
    * point (the r14flip probe measured the earlier n ≥ p/2 flip
    * reading ~1.5× the pure-pushed bytes at a mid-size batch —
    * flipping at half-coverage doubles that cell's bytes). Cells
    * whose occupancy is unknown (no sidecar counts supplied) are
    * always pushed. */
  private def cellPrefersFullScan(winnerIds: Int, cellRowCount: Option[Long])
      : Boolean =
    cellRowCount.exists { rows =>
      val pages = (rows + PageRowLimit - 1) / PageRowLimit
      winnerIds.toLong >= 2L * pages
    }

  /** PQ-accelerated serving off a `build(pq = true)` layout — the
    * two-stage scan shape that matters at 100 TB: the SHORTLIST pass
    * ([[pqShortlist]]) reads only (vec_id, pq) of the probed cells —
    * ~8 bytes of codes per vector instead of the full float embedding
    * (a 64-float embedding is 256 B: a 16–30× scan-byte cut, PlanSpec
    * pins the code scan's ReadSchema carries no embedding) — scoring
    * each candidate by ADC against the query's RESIDUAL (the v33
    * math: codes were trained on residuals vs the serving centers, so
    * the query subtracts its probed cell's serving center first); the
    * RERANK pass gathers raw embeddings for the shortlist winners
    * ONLY. The shortlist runs exactly ONCE — materialized through an
    * eager local checkpoint (executor block store, never the driver)
    * — and its bounded DISTINCT winner set is collected to drive the
    * gather shape — except when the checkpoint job's free
    * winner-cardinality estimate (an `observe`d HLL riding the
    * materialization) already proves the batch SATURATED, where the
    * analysis shuffle is skipped and the gather goes straight to the
    * full probed-cell pass it would have chosen anyway. Otherwise the
    * shape is decided PER CELL:
    *  - a cell whose winner count is small against its page count
    *    gets a PUSHED branch — partition-pruned to the cell, with an
    *    OR-of-equality predicate over that cell's winner ids.
    *    Per-cell is the load-bearing part: a cell's members are
    *    sparse in the id space, so against a corpus-wide id set every
    *    page "contains" a winner and nothing skips, while the same
    *    ids pushed at their own cell touch ~one [[PageRowLimit]]-row
    *    page each (and parquet's column index never evaluates a
    *    native `In` at page level at all — both measured, r13 diag);
    *  - a cell whose winners rival its pages flips to a full-cell
    *    scan branch ([[cellPrefersFullScan]]) — at that density the
    *    point reads stop skipping and the sequential scan is simply
    *    the better plan (this is why "PQ reads more than exact" can
    *    no longer happen structurally: per cell the gather reads
    *    min(pushed pages, all pages), so its bytes are bounded by the
    *    one embedding pass exact serving makes, plus the ~3% code
    *    scan).
    * Pushed ids past one plan's [[PqGatherPushMaxIds]] budget are
    * split into sequential WAVES (each planned at the measured-cheap
    * size and materialized via eager checkpoint before the next, so
    * a large winner set costs bounded-size plans instead of the r13
    * whole-batch fallback that re-read every probed cell's
    * embeddings on top of the code scan); [[PqGatherMaxWaves]] bounds
    * the job count and [[PqGatherPushMax]] the driver collect.
    * `serving` and `books` come off the `_centers` sidecar — zero
    * index scans before the gather, like [[serve]] — and `cellRows`
    * (the sidecar's occupancy counts) drives the per-cell flip;
    * without it every cell is pushed. Broadcast weight: each panel
    * row ships its 256 B float residual — the m·k-double ADC LUT is
    * re-derived per candidate by the fused ADC (see [[pqShortlist]]),
    * so a cap-sized (100k-query) batch broadcasts ~30 MB per probe
    * instead of the ~130 MB the materialized-LUT panel weighed — and
    * the ServeMaxBatch cap guards the path loudly. */
  def servePq(idx: DataFrame, queries: DataFrame, panel: DataFrame,
      k: Int, shortlist: Int,
      serving: Seq[(Int, Array[Double])],
      books: Seq[Seq[(Int, Array[Double])]],
      pushMax: Long = PqGatherPushMax,
      cellRows: Map[Long, Long] = Map.empty,
      maxIdsPerWave: Int = PqGatherPushMaxIds,
      maxWaves: Int = PqGatherMaxWaves,
      knownBatchRows: Option[Long] = None,
      gatherPool: Int = 8,
      probedHint: Option[Seq[Long]] = None): DataFrame = {
    require(books.nonEmpty, "servePq: the index has no PQ codebooks")
    // see [[serve]]: a driver-routed caller supplies the probed set
    val probed = probedHint.getOrElse(
      panel.select(col("cell")).distinct().collect()
        .map(_.get(0).asInstanceOf[Number].longValue()).sorted.toSeq)
    val pruned =
      if (probed.isEmpty) idx.filter(lit(false)) else
        idx.filter(col("cell").isin(probed: _*))
    // the ADC shortlist is the pq path's most expensive stage — the
    // checkpoint runs it exactly once, and the winner analysis, the
    // gather's pair join and the fallback all reuse the materialized
    // rows (never a second code scan, whatever shape is chosen)
    val short0 = pqShortlist(pruned, panel, shortlist, serving, books)
    // the re-rank pairs each winner with its query ONCE: `queries` is
    // the unique (q_id, q_emb) batch, not the (possibly multi-probe)
    // per-cell panel — deduping the panel instead would plan a
    // HashAggregate over the batch (the PlanSpec zero-aggregates pin
    // caught exactly that). NO count here: the caller threads its
    // cap-check count in as `knownBatchRows` (the r13 shape paid a
    // second queries.count() per serve call just to re-derive it).
    val qv = queries.select(col("q_id"), col("q_emb"))
    // id-type agnostic: the user's id column may be int-typed, where
    // Row.getLong would throw
    def cellOf(r: Row): Long = r.get(0).asInstanceOf[Number].longValue()
    def idOf(r: Row): Long = r.get(1).asInstanceOf[Number].longValue()
    val idType = idx.schema("vec_id").dataType
    val spark = idx.sparkSession
    // the gather gate, sized to keep DRIVER ROUND-TRIPS minimal on the
    // latency path: a batch the caller KNOWS is small (q·shortlist ≤
    // pushMax) collects the whole shortlist in ONE job — pairs and the
    // distinct winner set both come off that array, no checkpoint, no
    // second aggregate job. An unknown or large batch materializes the
    // shortlist via eager checkpoint (executor block store) and
    // collects only the bounded DISTINCT winner set (limit+1, so an
    // over-cap set transfers at most cap+1 rows before falling back) —
    // unless the checkpoint job's free cardinality estimate already
    // proves saturation, in which case even that analysis is skipped.
    val winnersCap = math.min(math.max(pushMax, 0L), 8000000L).toInt
    val smallBatch = winnersCap > 0 &&
      knownBatchRows.exists(n => n * shortlist <= pushMax)
    val (short, pairsDf, winners, pushable) =
      if (smallBatch) {
        val pairs = short0.collect()
        val local = spark.createDataFrame(
          java.util.Arrays.asList(pairs: _*), short0.schema)
        val w = pairs.map(r => (r.get(2).asInstanceOf[Number].longValue(),
          idOf(r))).distinct.toSeq
        (local, local.select(col("q_id"), col("n_id")), w, true)
      } else {
        // the winner-CARDINALITY estimate rides the checkpoint job for
        // FREE (observe + HLL over the shortlist rows — verified: the
        // eager local checkpoint is a QueryExecution action, so the
        // observation's future completes with it). When it proves the
        // batch SATURATED — expected distinct winners past the push
        // cap, or rivaling the probed corpus's page population
        // corpus-wide ([[cellPrefersFullScan]]'s 2·pages flip
        // aggregated, with a 2× margin for cell-to-cell skew) — the
        // exact winner analysis is SKIPPED: its (cell, n_id) DISTINCT
        // re-shuffles the whole q·shortlist only to learn what the
        // estimate already proved, and the gather is the full
        // probed-cell embedding pass either way (the r14 shape paid
        // that analysis shuffle at the 100k-query uniform cap,
        // SCALE_r14_cap's 715-vs-561 MB gap; SCALE_r15 records the
        // trim). Estimate error (±2% rsd) cannot cost bytes in either
        // direction: near the boundary both shapes choose the full
        // scan per cell anyway, and a missed skip only means running
        // the same analysis r14 always ran.
        val obs = Observation()
        val ck = Materialize.cut(short0.observe(obs, approx_count_distinct(
            struct(col("cell"), col("n_id")), 0.02).as("w")))
        val est = try scala.concurrent.Await.result(obs.future,
            scala.concurrent.duration.Duration(30, "s")).getLong(0)
          catch { case _: java.util.concurrent.TimeoutException => -1L }
        val probedPages = probed.iterator.flatMap(cellRows.get)
          .map(r => (r + PageRowLimit - 1) / PageRowLimit).sum
        val saturated = winnersCap > 0 && est >= 0 &&
          (est > winnersCap.toLong ||
            (probedPages > 0 && est >= 4L * probedPages))
        if (saturated)
          (ck, ck.select(col("q_id"), col("n_id")), Seq.empty[(Long, Long)],
            false)
        else {
          val w: Array[Row] =
            if (winnersCap == 0) Array.empty
            else ck.select(col("cell"), col("n_id")).distinct()
              .limit(winnersCap + 1).collect()
          (ck, ck.select(col("q_id"), col("n_id")),
            w.map(r => (cellOf(r), idOf(r))).toSeq,
            winnersCap > 0 && w.length <= winnersCap)
        }
      }
    def scoreOf(gather: DataFrame): DataFrame =
      gather.join(broadcast(pairsDf), "n_id")
        .join(broadcast(qv), "q_id")
        .select(col("q_id"), col("n_id"),
          VectorQueries.cosine(col("q_emb"), col("n_emb")).as("sim"))
    val scored =
      if (pushable && winners.isEmpty) {
        // empty shortlist (empty panel / empty batch): an empty frame
        // with the scored schema — never re-evaluate anything
        short.select(col("q_id"), col("n_id"), lit(0d).as("sim"))
          .filter(lit(false))
      } else if (pushable) {
        val idsByCell = winners
          .groupBy(_._1).toSeq.sortBy(_._1)
          .map { case (c, ws) => c -> ws.map(_._2).toArray.sorted }
        val (full0, push0) = idsByCell.partition { case (c, ids) =>
          cellPrefersFullScan(ids.length, cellRows.get(c))
        }
        // bound the total pushed work: past MaxWaves·MaxIds ids, flip
        // the LARGEST pushed cells to full scans first (they are the
        // closest to the density where pushing stops paying anyway)
        val budget = maxIdsPerWave.toLong * maxWaves
        var pushedTotal = push0.map(_._2.length.toLong).sum
        val bySize = push0.sortBy(-_._2.length)
        val overflow = scala.collection.mutable.ListBuffer.empty[(Long, Array[Long])]
        val it = bySize.iterator
        while (pushedTotal > budget && it.hasNext) {
          val c = it.next(); overflow += c; pushedTotal -= c._2.length
        }
        val overflowCells = overflow.map(_._1).toSet
        val push = push0.filterNot(p => overflowCells(p._1))
        // one In per branch (see the pushed-predicate note above the
        // constants). The literals are cast to the COLUMN's type:
        // comparing an int id column against long literals would wrap
        // the column in a cast, which defeats parquet pushdown
        // entirely.
        def branch(c: Long, ids: Array[Long]): DataFrame =
          idx.filter(col("cell") === c)
            .filter(col("vec_id").isin(
              ids.map(i => lit(i).cast(idType)).toIndexedSeq: _*))
            .select(col("vec_id").as("n_id"), col("embedding").as("n_emb"))
        // wave packing: whole cells next-fit into ≤MaxIds-id waves; a
        // cell larger than one wave splits its (sorted) id list. The
        // ids-budget flip above bounds TOTAL pushed ids but next-fit
        // can still fragment into up to ~2× maxWaves waves (many
        // just-over-half-full slices) — so packing re-runs with the
        // largest remaining pushed cell flipped to a full scan until
        // the WAVE COUNT honors maxWaves too (the documented job
        // bound), never just the id total.
        def packed(cells: Seq[(Long, Array[Long])])
            : Seq[Seq[(Long, Array[Long])]] = {
          val slices = cells.flatMap { case (c, ids) =>
            ids.grouped(maxIdsPerWave).map(g => c -> g)
          }
          val waves = scala.collection.mutable.ListBuffer
            .empty[scala.collection.mutable.ListBuffer[(Long, Array[Long])]]
          var waveCount = 0
          slices.foreach { s =>
            if (waves.isEmpty || waveCount + s._2.length > maxIdsPerWave) {
              waves += scala.collection.mutable.ListBuffer(s); waveCount = s._2.length
            } else { waves.last += s; waveCount += s._2.length }
          }
          waves.toSeq.map(_.toSeq)
        }
        var pushFinal = push
        var waves = packed(pushFinal)
        while (waves.size > maxWaves && pushFinal.nonEmpty) {
          val biggest = pushFinal.maxBy(_._2.length)._1
          pushFinal = pushFinal.filterNot(_._1 == biggest)
          overflow += push.find(_._1 == biggest).get
          waves = packed(pushFinal)
        }
        val fullCellsFinal =
          (full0.map(_._1) ++ overflow.map(_._1)).distinct.sorted
        val pushLegs: Seq[DataFrame] =
          if (waves.isEmpty) Seq.empty
          else if (waves.size == 1)
            // single wave: stay LAZY so the pushed plan shape is
            // pinnable (and the final job fuses gather + join + rank)
            Seq(waves.head.map((branch _).tupled).reduce(_ unionByName _))
          else {
            // chunked: one bounded-size plan per wave — each wave is a
            // PURE gather (scan branches only, ≤maxIdsPerWave rows of
            // (n_id, n_emb) out), materialized via eager checkpoint;
            // the pair join, cosine and rank run ONCE over the union
            // of checkpointed legs, so their codegen compiles once
            // however many waves run. Waves bound PLAN size, not IO —
            // they submit CONCURRENTLY (bounded pool; Spark schedules
            // parallel jobs fine), so wall is ~max(wave), not Σ(wave).
            // The waves scan here, inside this call, so the raised
            // parquet In threshold (the same or-of-eq page filter the
            // OR-chain shape pushed) is scoped to them.
            import scala.concurrent.{Await, ExecutionContext, Future}
            val pool = java.util.concurrent.Executors.newFixedThreadPool(
              math.min(math.max(1, gatherPool), waves.size))
            implicit val ec: ExecutionContext =
              ExecutionContext.fromExecutorService(pool)
            try InFilterThreshold.atLeast(spark, maxIdsPerWave)(Await.result(
              Future.sequence(waves.map { w => Future {
                Materialize.cut(w.map((branch _).tupled).reduce(_ unionByName _))
              }}), scala.concurrent.duration.Duration.Inf))
            finally pool.shutdown()
          }
        val fullLeg: Option[DataFrame] =
          if (fullCellsFinal.isEmpty) None
          else Some(idx.filter(col("cell").isin(fullCellsFinal: _*))
            .select(col("vec_id").as("n_id"), col("embedding").as("n_emb")))
        scoreOf((pushLegs ++ fullLeg).reduce(_ unionByName _))
      } else {
        // winner set past the driver-collect cap: broadcast-join
        // gather over the probed cells. At ≥cap distinct winners the
        // per-cell flip would have chosen full scans nearly everywhere
        // anyway — this is the same plan without the driver transfer.
        scoreOf(pruned.select(col("vec_id").as("n_id"),
          col("embedding").as("n_emb")))
      }
    rankTopK(scored, k)
  }
}
