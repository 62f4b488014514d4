package graft

import org.apache.spark.sql.DataFrame

import graft.core.{Materialize, Sessions}
import graft.sql.{GraftSession, Parser, Planner}
import graft.sources.Sinks

/** CLI entry (reference main.go:149-168): run dialect queries against
  * CSV/parquet tables and print/save CSV results.
  *
  * Usage:
  *   runMain graft.Cli -c "select ..." [--dir DIR] [--save PATH | --save-dir PATH | --save-shards PATH | --save-parquet PATH [--partition-by cols] | --save-jsonl PATH] [--coalesce N] [--explain] [--password PW]
  *   echo "select ..." | sbt 'runMain graft.Cli [--dir DIR]'
  *     (plain sbt or direct java/spark-submit — sbt's -batch mode
  *     consumes stdin for its own command stream)
  *   runMain graft.Cli -v            # version (reference -v, main.go:34)
  *
  * --save writes one coalesced CSV per statement (reference-style
  * single file); --save-dir writes partitioned part files in parallel
  * (the at-scale path, no single-task coalesce).
  *
  * --password supplies the default for encrypt/decrypt when the 2nd
  * argument is omitted. When it is absent AND the run is interactive
  * (a real terminal), a query that needs a password prompts for one
  * with echo off — reference parity (utils.go:835-846 prompts via its
  * websocket/terminal); headless runs still fail fast with the
  * PlanError. A wrong password decrypts to null rather than erroring
  * (try_aes_decrypt).
  */
object Cli {

  /** Run `run(password)`; if planning fails ONLY for a missing
    * password and none was given, ask `prompt` once and retry. The
    * prompt returning None (no terminal) rethrows the original error. */
  private[graft] def runWithPrompt(
      given: Option[String],
      prompt: () => Option[String])(
      run: Option[String] => Seq[DataFrame]): Seq[DataFrame] =
    try run(given) catch {
      case e: Planner#PlanError if given.isEmpty && e.msg.contains("password required") =>
        prompt().map(p => run(Some(p))).getOrElse(throw e)
    }

  def main(args: Array[String]): Unit = {
    var query: Option[String] = None
    var dir: Option[String] = None
    var save: Option[String] = None
    var saveDir: Option[String] = None
    var saveShards: Option[String] = None
    var saveParquet: Option[String] = None
    var saveJsonl: Option[String] = None
    var partitionBy: Option[String] = None
    var coalesceN: Option[Int] = None
    var explainOnly: Boolean = false
    var password: Option[String] = None
    var i = 0
    def value(flag: String): String = {
      if (i + 1 >= args.length) sys.error(s"$flag requires a value")
      i += 2; args(i - 1)
    }
    while (i < args.length) {
      args(i) match {
        case "-v" | "--version" =>
          // reference -v (main.go:34); dialect surface tracks 0.74
          println("graft 0.3 (dialect compatible with csvtool 0.74)")
          return
        case "-c" => query = Some(value("-c"))
        case "--dir" => dir = Some(value("--dir"))
        case "--save" => save = Some(value("--save"))
        case "--save-dir" => saveDir = Some(value("--save-dir"))
        case "--save-shards" => saveShards = Some(value("--save-shards"))
        case "--save-parquet" => saveParquet = Some(value("--save-parquet"))
        case "--save-jsonl" => saveJsonl = Some(value("--save-jsonl"))
        case "--partition-by" => partitionBy = Some(value("--partition-by"))
        case "--coalesce" => coalesceN = Some(value("--coalesce").toInt)
        case "--explain" => explainOnly = true; i += 1
        case "--password" => password = Some(value("--password"))
        case other => sys.error(s"unknown argument: $other")
      }
    }
    val q = query.getOrElse {
      // piped stdin (reference caps at 10k bytes, main.go:164). A pipe
      // may deliver partial chunks — loop until EOF or the cap.
      val buf = new Array[Char](10000)
      var filled = 0
      var n = Console.in.read(buf, 0, buf.length)
      while (n > 0 && filled + n <= buf.length) {
        filled += n
        n = if (filled < buf.length) Console.in.read(buf, filled, buf.length - filled) else -1
      }
      if (filled <= 0) sys.error("no query given (-c or stdin)") else new String(buf, 0, filled)
    }

    val spark = Sessions.start()

    Materialize.statement { // planning through the last save or print
      val statements = Parser.splitStatements(q)
      val results = runWithPrompt(password,
        // readPassword returns null on EOF (Ctrl-D): degrade to None so
        // the original "password required" PlanError surfaces, not an NPE
        () => Option(System.console())
          .flatMap(c => Option(c.readPassword("password: ")))
          .map(new String(_))) { pw =>
        val session = new GraftSession(spark, dir, pw)
        statements.map(session.sql)
      }
      if (explainOnly) {
        // plan inspection without execution — the CLI twin of the web
        // console's POST /explain/: formatted physical plans show
        // PushedFilters/PartitionFilters/broadcasts before any job runs
        results.zipWithIndex.foreach { case (df, i) =>
          println(s"-- statement ${i + 1} --")
          println(df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode))
        }
      } else {
        if (Seq(save, saveDir, saveShards, saveParquet, saveJsonl).count(_.isDefined) > 1)
          sys.error("--save, --save-dir, --save-shards, --save-parquet and --save-jsonl are mutually exclusive")
        if (partitionBy.isDefined && saveParquet.isEmpty)
          sys.error("--partition-by requires --save-parquet")
        if (coalesceN.isDefined && saveParquet.isEmpty && saveDir.isEmpty &&
            saveJsonl.isEmpty)
          sys.error("--coalesce requires --save-parquet, --save-jsonl or --save-dir")
        if (coalesceN.exists(_ < 1)) sys.error("--coalesce must be at least 1")
        (save, saveDir) match {
          case _ if saveParquet.isDefined =>
            // parquet dataset per statement — the format a downstream
            // Spark/training loader actually reads; parallel write.
            // --partition-by lands hive-style <col>=v/ dirs so downstream
            // dialect filters on that column become PARTITION filters
            // (pruned listings, never a full scan — pinned in PlanSpec)
            val base = saveParquet.get
            Sinks.savePaths(base, results.size).map(_.stripSuffix(".csv"))
              .zip(results).foreach { case (p, df) =>
                // --coalesce N caps output files — the small-files
                // compaction primitive: `-c "select * from <dir>"
                // --save-parquet <dest> --coalesce 8` rewrites a
                // fragmented dataset into N files without a shuffle
                val dfn = coalesceN.fold(df)(df.coalesce)
                val w = dfn.write.mode("overwrite")
                partitionBy.fold(w)(c => w.partitionBy(c.split(",").toIndexedSeq: _*))
                  .parquet(p)
                System.err.println(s"saved $p/")
              }
          case _ if saveJsonl.isDefined =>
            // JSON-lines dataset per statement — the interchange format of
            // most open text-corpus releases; parallel partitioned write
            val base = saveJsonl.get
            Sinks.savePaths(base, results.size).map(_.stripSuffix(".csv"))
              .zip(results).foreach { case (p, df) =>
                coalesceN.fold(df)(df.coalesce).write.mode("overwrite").json(p)
                System.err.println(s"saved $p/")
              }
          case _ if saveShards.isDefined =>
            // physical training-shard layout: requires the `shard`
            // statement's (doc_id, shard, pos) output; lands sorted
            // shard=K/ parquet dirs (Sinks.saveShardedResult)
            val base = saveShards.get
            Sinks.savePaths(base, results.size).map(_.stripSuffix(".csv"))
              .zip(results).foreach { case (p, df) =>
                Sinks.saveShardedResult(df, p); System.err.println(s"saved $p/")
              }
          case (Some(base), _) =>
            // streaming form: rows reach the file as the query runs, like
            // the reference's realtime save (files.go:85-156)
            Sinks.savePaths(base, results.size).zip(results).foreach {
              case (p, df) => Sinks.saveCsvStreaming(df, p); System.err.println(s"saved $p")
            }
          case (None, Some(base)) =>
            // parallel mode: each partition writes its own part file
            Sinks.savePaths(base, results.size).map(_.stripSuffix(".csv"))
              .zip(results).foreach { case (p, df) =>
                Sinks.saveCsvDir(coalesceN.fold(df)(df.coalesce), p)
                System.err.println(s"saved $p/")
              }
          case _ =>
            results.foreach(Sinks.printCsv(_))
        }
      }
    }
    spark.stop()
  }
}
