package graft.sql

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.core.Tables
import graft.sources.CsvSource

/** User-facing façade: a table registry plus `sql(...)` compiling the
  * dialect to DataFrames. Mirrors the reference's file registry
  * semantics (reference utils.go:507-570): a table is reachable by
  * registered name, file basename, or explicit path; `_fN` synthetic
  * keys index files in first-use order.
  */
final class GraftSession(val spark: SparkSession, defaultDir: Option[String] = None,
    val password: Option[String] = None) {
  // Serving's bounded top-k heaps (TypedImperativeAggregate) plan as
  // ObjectHashAggregate, which silently falls back to SORT-based
  // aggregation past this many groups per task — at the default 128
  // a serving batch re-pays the candidate sort the heap exists to
  // avoid. A query-batch group's state is ~24·k bytes, so the cap
  // batch (ServeMaxBatch=100k groups) fits task memory comfortably.
  // 200k = 2× the serve batch cap (Planner.ServeMaxBatch). ONLY the
  // stock default (128) is overridden: a user who set the threshold
  // themselves — lower to bound executor memory, or higher — made a
  // deliberate call this shared-session façade must not silently
  // revert; a small explicit value just gets the trade-off logged.
  // Sessions built by graft.core.Sessions already carry 200k, so this
  // write acts only on sessions built outside the engine: embedding
  // applications and the perfbench harness.
  locally {
    val key = "spark.sql.objectHashAggregate.sortBased.fallbackThreshold"
    val cur = spark.conf.get(key, "128").toLong
    if (cur == 128L) spark.conf.set(key, "200000")
    else if (cur < 200000L)
      GraftSession.log.warn(
        s"$key is explicitly set to $cur (< 200000): serving batches past " +
          "that many queries per task will fall back to sort-based " +
          "aggregation and re-pay the candidate sort the top-k heap avoids")
  }
  private val registry = mutable.LinkedHashMap.empty[String, DataFrame]
  // _f1.._fN index the files in first-use order PER STATEMENT
  // (reference rebuilds its registry per query, utils.go:507-570);
  // sql() resets them, and table() assigns them as tables resolve
  private var fileSeq = 0

  def register(name: String, df: DataFrame): this.type = {
    registry(name.toLowerCase) = df
    this
  }

  /** Independent copy of this session: same SparkSession/defaultDir/
    * password, snapshot of the registry (DataFrames are immutable, so
    * sharing them is safe). The per-statement mutable state (`_fN`
    * file keys, fileSeq) starts fresh — a forked session can run
    * concurrently with its parent and with sibling forks, which is
    * what lets the query server execute requests in parallel instead
    * of single-flight. */
  def fork(): GraftSession = fork(None)

  /** Fork with a per-request password (the web analog of the
    * reference's SK_PASS websocket prompt, server.go:66-70): the
    * override wins, otherwise the parent's password carries over. */
  def fork(passwordOverride: Option[String]): GraftSession = synchronized {
    val child = new GraftSession(spark, defaultDir, passwordOverride.orElse(password))
    registry.foreach { case (k, v) =>
      if (!k.matches("^_f\\d+$")) child.registry(k) = v
    }
    child
  }

  private def resetFileKeys(): Unit = {
    registry.keys.filter(_.matches("^_f\\d+$")).toSeq.foreach(registry.remove)
    fileSeq = 0
  }

  private def recordUse(df: DataFrame): DataFrame = {
    if (!registry.exists { case (k, v) => k.startsWith("_f") && (v eq df) }) {
      fileSeq += 1
      registry(s"_f$fileSeq") = df
    }
    df
  }

  def table(name: String): DataFrame = table(name, noHeader = false)

  def table(name: String, noHeader: Boolean): DataFrame = recordUse {
    val key = name.toLowerCase
    registry.get(key)
      .orElse(registry.get(basename(key)))
      .getOrElse {
        if (key.endsWith(".csv")) {
          val df = CsvSource.read(spark, resolvePath(name), header = !noHeader)
          register(basename(key), df); df
        } else if (key.endsWith(".parquet") || key.endsWith(".json") ||
            key.endsWith(".orc") || key.endsWith(".xml")) {
          val df = Tables.load(spark, resolvePath(name))
          register(basename(key), df); df
        } else {
          // data-directory files resolve FIRST: catalog.tableExists
          // also matches temp views, so a same-named view (or a stale
          // saved table) must not silently shadow `<dir>/<name>.*`.
          // The catalog is the fallback for names with no backing
          // file — notably Bucketing.writeBucketed's bucketed facts:
          // spark.table carries the bucket metadata, so a dialect
          // `bjoin` over two pre-bucketed tables plans the co-located
          // no-exchange sort-merge join (the 100 TB fact-fact path,
          // SCALE_r3: 3.1×). A plain path read would lose the
          // bucketing and shuffle both sides every query.
          // An absolute path names its own file, never a data-dir
          // table; a data-dir file is read only if it exists on its own
          // (maybe hdfs://) filesystem, so no name pays a failed read.
          val inDir = if (new java.io.File(name).isAbsolute) None else defaultDir
          inDir.filter(d => scala.util.Try {
              val p = new org.apache.hadoop.fs.Path(s"$d/$key.parquet")
              p.getFileSystem(spark.sessionState.newHadoopConf()).exists(p)
            }.getOrElse(false))
            .flatMap(d => scala.util.Try(Tables(spark, d, key)).toOption) match {
            case Some(df) => register(key, df); df
            case None if new java.io.File(resolvePath(name)).isDirectory =>
              // an extensionless DIRECTORY path is a written dataset —
              // e.g. `--save-shards` output or any partitioned parquet
              // dir: read with partition discovery, so `from <dir>`
              // immediately queries what a statement just wrote
              // (partition columns like shard= come back as columns)
              val df = Tables.load(spark, resolvePath(name))
              register(basename(key), df); df
            case None if spark.catalog.tableExists(key) =>
              val df = spark.table(key)
              register(key, df); df
            case None => throw new IllegalArgumentException(s"unknown table: $name")
          }
        }
      }
  }

  /** A relative file path in FROM resolves against the session's
    * default directory when it doesn't exist as given (the reference
    * resolves relative paths against its working directory,
    * utils.go:507-570; `--dir` is the headless analog). Absolute and
    * locally-existing paths are used verbatim. */
  private def resolvePath(p: String): String =
    if (new java.io.File(p).isAbsolute || new java.io.File(p).exists()) p
    else defaultDir.map(d => s"$d/$p")
      .filter(f => new java.io.File(f).exists())
      .getOrElse(p)

  private def basename(p: String): String = {
    val slash = p.split('/').last
    slash.replaceAll("(?i)\\.(csv|parquet|json|orc|xml)$", "")
  }

  /** Compile + plan one dialect statement (`select ...` or a pipeline
    * statement: `dedup near|exact id, text from t [threshold t]`,
    * `similar id, vec from t [top k]`). `_fN` keys index files in
    * first-use order within this statement. */
  def sql(query: String): DataFrame = {
    resetFileKeys()
    val planner = new Planner((n, nh) => table(n, nh), password)
    Parser.parseStmt(query) match {
      case q: Ast.Query => planner.plan(q)
      case d: Ast.DedupStmt => planner.planDedup(d)
      case s: Ast.SimilarStmt => planner.planSimilar(s)
      case s: Ast.ShardStmt => planner.planShard(s)
      case s: Ast.InterleaveStmt => planner.planInterleave(s)
      case s: Ast.SearchStmt => planner.planSearch(s)
      case s: Ast.SplitStmt => planner.planSplit(s)
      case s: Ast.ClusterStmt => planner.planCluster(s)
      case s: Ast.ProfileStmt => planner.planProfile(s)
      case s: Ast.ChunkStmt => planner.planChunk(s)
      case s: Ast.SampleStmt => planner.planSample(s)
      case s: Ast.PackStmt => planner.planPack(s)
      case s: Ast.QuantizeStmt => planner.planQuantize(s)
      case s: Ast.TrendStmt => planner.planTrend(s)
      case s: Ast.CardStmt => planner.planCard(s)
      case s: Ast.CalibrateStmt => planner.planCalibrate(s)
      case s: Ast.NegativesStmt => planner.planNegatives(s)
      case s: Ast.OutliersStmt => planner.planOutliers(s)
      case s: Ast.RepairStmt => planner.planRepair(s)
      case s: Ast.IndexStmt => planner.planIndex(s)
      case s: Ast.IngestStmt => planner.planIngest(s)
      case s: Ast.CompactStmt => planner.planCompact(s)
      case s: Ast.ServeStmt => planner.planServe(s)
      case s: Ast.DriftStmt => planner.planDrift(s)
      case s: Ast.EpochsStmt => planner.planEpochs(s)
      case s: Ast.RetentionStmt => planner.planRetention(s)
      case s: Ast.DiffStmt => planner.planDiff(s)
      case s: Ast.FertilityStmt => planner.planFertility(s)
      case s: Ast.PackingStmt => planner.planPacking(s)
      case s: Ast.MixStmt => planner.planMix(s)
    }
  }

  /** `;`-separated multi-statement execution (reference main.go:117-147). */
  def sqlAll(queries: String): Seq[DataFrame] =
    Parser.splitStatements(queries).map(sql)
}

object GraftSession {
  private val log = org.slf4j.LoggerFactory.getLogger(classOf[GraftSession])

  def apply(spark: SparkSession, dir: String): GraftSession =
    new GraftSession(spark, Some(dir))
}
