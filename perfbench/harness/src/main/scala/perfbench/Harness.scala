package perfbench

import java.io.File
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.security.MessageDigest
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries.Registry
import graft.server.{JsonResult, QueryServer}
import graft.sources.{CsvSource, Sinks}
import graft.sql.{GraftSession, Parser}

/** One operation of a workload, as generated by run.py. `stmt` is the
  * dialect statement (gui_csv, export_csv) or the registry query name
  * (headline); export operations also carry their mode (`cli` or
  * `server`), the file they write and the statement that re-reads it. */
final case class Op(id: Int, stmt: String, files: Seq[String], mode: String,
    out: String, requery: String)

final class Spec(n: JsonNode) {
  val workload: String = n.get("workload").asText
  val cores: Int = n.get("cores").asInt
  val seconds: Double = n.get("seconds").asDouble
  val trace: Boolean = n.get("trace").asBoolean
  val setupOnly: Boolean = n.get("setup_only").asBoolean
  val clients: Int = n.get("clients").asInt
  val dataDir: String = n.get("data_dir").asText
  val workDir: String = n.get("work_dir").asText
  val seed: Long = n.get("seed").asLong
  val round: Int = n.get("round").asInt
  val warmup: Seq[Op] = ops("warmup")
  val ops: Seq[Op] = ops("ops")

  private def ops(key: String): Seq[Op] = n.get(key).elements.asScala.map { o =>
    def s(k: String) = Option(o.get(k)).map(_.asText).getOrElse("")
    Op(o.get("id").asInt, s("stmt"),
      Option(o.get("files")).map(_.elements.asScala.map(_.asText).toSeq).getOrElse(Nil),
      s("mode"), s("out"), s("requery"))
  }.toSeq
}

/** Runs one workload in this JVM and writes raw observations (per
  * operation timings, answers, spans, listener counts) as JSON; run.py
  * checks the answers and turns the observations into metrics. With
  * `setup_only` in the spec it sets up (session, server, warm-up pass),
  * reports how long that took and exits, so run.py can time a cold
  * set-up in a JVM of its own.
  *
  * Usage: Harness <spec.json> <out.json> */
object Harness {
  val mapper: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def main(args: Array[String]): Unit = {
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val spec = new Spec(mapper.readTree(new File(args(0))))
    val result = new Harness(spec, System.currentTimeMillis() - jvmStart).run()
    mapper.writeValue(new File(args(1)), result)
    // QueryServer.stop() leaves its HTTP executor's non-daemon threads
    // running, so returning from main would never end the JVM
    sys.exit(0)
  }

  /** Order-insensitive digest of a multiset of lines: the sum, modulo
    * 2^64, of the first 8 bytes of each line's MD5. run.py computes the
    * same digest over the expected lines. */
  def digest(lines: Iterator[String]): (Long, String) = {
    val md = MessageDigest.getInstance("MD5")
    var n = 0L
    var sum = 0L
    lines.foreach { l =>
      val d = md.digest(l.getBytes(UTF_8))
      sum += java.nio.ByteBuffer.wrap(d, 0, 8).getLong
      n += 1
    }
    (n, java.lang.Long.toUnsignedString(sum))
  }

  def rowLine(cells: Seq[String]): String = cells.mkString("\u001f")
}

final class Harness(spec: Spec, jvmToMainMs: Long) {
  import Harness._

  private var spark: SparkSession = _
  private var graft: GraftSession = _
  private var server: QueryServer = _
  private var port = 0
  private var tracer: Tracer = _
  private var listener: JobListener = _
  private val serverGroup = "graft-query-server"
  private val http = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
  private val firstRows = new java.util.concurrent.ConcurrentHashMap[Int, Seq[Seq[String]]]()

  /** Warm-up and timed operations. For `headline` they are the
    * registry's bench queries: the warm-up pass in registry order, then
    * passes in an order the seed shuffles anew for every pass. */
  private val (warmup, ops): (Seq[Op], Seq[Op]) =
    if (spec.workload != "headline") (spec.warmup, spec.ops)
    else {
      val names = Registry.benchQueries.map(_.name)
      def op(q: String) = Op(names.indexOf(q), q, Nil, "", "", "")
      val rng = new scala.util.Random(spec.seed)
      (names.map(op), (1 to 50).flatMap(_ => rng.shuffle(names).map(op)))
    }

  private def now(): Double = System.nanoTime() / 1e9

  private def startSession(): Unit = {
    spark = SparkSession.builder()
      .master(s"local[${spec.cores}]")
      .config("spark.sql.shuffle.partitions", spec.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${spec.workDir}/spark-local")
      .config("spark.sql.warehouse.dir", s"${spec.workDir}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft = GraftSession(spark, spec.dataDir)
    if (spec.workload != "headline") {
      server = new QueryServer(graft, 0)
      port = server.start()
    }
  }

  private def stopSession(): Unit = {
    if (server != null) server.stop()
    server = null
    spark.stop()
  }

  // ---------------------------------------------------------------- HTTP

  private def post(fields: (String, String)*): String = {
    val body = mapper.writeValueAsString(fields.toMap)
    val req = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/query/"))
      .POST(HttpRequest.BodyPublishers.ofString(body, UTF_8)).build()
    http.send(req, HttpResponse.BodyHandlers.ofString(UTF_8)).body()
  }

  /** Status and the first statement's rows of a /query/ reply. */
  private def parseReply(reply: String): (String, Seq[Seq[String]]) = {
    val n = mapper.readTree(reply)
    val status = n.get("Status").asText
    val entries = n.get("Entries").elements.asScala.toSeq
    val rows = entries.headOption.toSeq.flatMap(_.get("Vals").elements.asScala.map(
      _.elements.asScala.map(_.asText).toSeq).toSeq)
    (status, rows)
  }

  // ------------------------------------------------------------ answers

  private def answer(op: Op, rows: Seq[Seq[String]]): Map[String, Any] = {
    firstRows.putIfAbsent(op.id, rows)
    val (n, d) = digest(rows.iterator.map(rowLine))
    Map("rows" -> n, "digest" -> d)
  }

  /** Row count, digest and size of an exported CSV: one file (CLI save)
    * or a directory of part files (server save), header lines skipped. */
  private def exported(path: String): Map[String, Any] = {
    val f = new File(path)
    val parts =
      if (f.isDirectory) f.listFiles().filter(p => p.getName.startsWith("part-") &&
        p.getName.endsWith(".csv")).sortBy(_.getName).toSeq
      else Seq(f)
    val lines = parts.iterator.flatMap(p => Files.readAllLines(p.toPath, UTF_8).asScala.drop(1))
    val (n, d) = digest(lines)
    Map("export_rows" -> n, "export_digest" -> d, "export_bytes" -> parts.map(_.length).sum)
  }

  // ------------------------------------------------------------- traced

  /** A query statement done by direct calls into each layer, in the
    * order the query server does it: parse, CSV inference for each file
    * the statement names, planning, result formatting, Catalyst
    * planning, execution, JSON encoding. `mirrors` names the HTTP span
    * whose work this repeats (0 when it is the operation's own work). */
  private def direct(op: Int, parent: Int, mirrors: Int, stmt: String,
      files: Seq[String]): Seq[Seq[String]] =
    tracer.span(op, "direct", parent, Map("mirrors" -> mirrors)) { d =>
      tracer.span(op, "sql.parse", d)(_ => Parser.parseStmt(stmt))
      val session = graft.fork()
      files.foreach { f =>
        val df = tracer.span(op, "csv.read", d, Map("file" -> f))(_ =>
          CsvSource.read(spark, resolve(f)))
        session.register(new File(f).getName.replaceAll("(?i)\\.csv$", ""), df)
      }
      val df = tracer.span(op, "sql.build", d)(_ => session.sql(stmt))
      val cols = df.columns.toSeq
      val showLimit = math.max(1, 20000 / math.max(1, cols.size))
      val f = tracer.span(op, "sinks.format", d)(_ => Sinks.formatted(df).limit(showLimit + 1))
      tracer.span(op, "catalyst.plan", d)(_ => f.queryExecution.executedPlan)
      val collected = tracer.spanWith(op, "exec", d) { _ =>
        val rows = f.collect()
        val phases = Seq(df, f).flatMap(_.queryExecution.tracker.phases.toSeq)
        def ms(phase: String) = phases.filter(_._1 == phase).map(_._2.durationMs).sum
        (rows, Map("rows_out" -> rows.length, "analysis_ms" -> ms("analysis"),
          "optimization_ms" -> ms("optimization"), "planning_ms" -> ms("planning"),
          "format_bytes" -> rows.iterator.map(r => (0 until r.length).map(i =>
            if (r.isNullAt(i)) 0L else r.getString(i).length.toLong).sum).sum))
      }
      val vals = collected.take(showLimit).map(r =>
        cols.indices.map(i => if (r.isNullAt(i)) "" else r.getString(i))).toSeq
      tracer.spanWith(op, "server.json_encode", d) { _ =>
        val one = JsonResult.SingleResult(vals.size.toLong, showLimit, cols.size, cols,
          df.schema.fields.map(_.dataType.typeName).toSeq, vals,
          collected.length > showLimit, stmt)
        val json = JsonResult.bundle(Seq(one), "ok")
        (json, Map("reply_bytes" -> json.length))
      }
      vals
    }

  /** An export statement done by direct calls: parse, plan, save. */
  private def directExport(op: Int, parent: Int, mirrors: Int, stmt: String, out: String,
      save: (DataFrame, String) => String): Unit =
    tracer.span(op, "direct", parent, Map("mirrors" -> mirrors)) { d =>
      tracer.span(op, "sql.parse", d)(_ => Parser.parseStmt(stmt))
      val session = graft.fork()
      val df = tracer.span(op, "sql.build", d)(_ => session.sql(stmt))
      tracer.span(op, "sinks.export", d)(_ => save(df, out))
    }

  private def resolve(p: String): String =
    if (new File(p).exists()) p else s"${spec.dataDir}/$p"

  /** POST /query/ as a span; returns the reply and the span id. */
  private def httpSpan(op: Int, parent: Int, kind: String,
      fields: (String, String)*): (String, Int) = {
    var id = 0
    val r = tracer.spanWith(op, "server.http", parent) { sid =>
      id = sid
      val r = post(fields: _*)
      (r, Map("kind" -> kind, "reply_bytes" -> r.length))
    }
    (r, id)
  }

  // -------------------------------------------------------- operations

  private def guiOp(op: Op, traced: Boolean): Map[String, Any] = {
    val t0 = now()
    val reply =
      if (!traced) post("query" -> op.stmt)
      else tracer.span(op.id, "op", 0) { root =>
        val (r, h) = httpSpan(op.id, root, "query", "query" -> op.stmt)
        direct(op.id, root, h, op.stmt, op.files)
        r
      }
    val t1 = now()
    val (status, rows) = parseReply(reply)
    Map("lat" -> (t1 - t0), "status" -> status, "reply_bytes" -> reply.length) ++
      (if (status == "ok") answer(op, rows) else Map.empty)
  }

  /** Export a statement's full result, then re-read the file with a
    * dialect aggregate: through the CLI's real-time save
    * (saveCsvStreaming, one file) or the server's savePath (saveCsvDir,
    * a directory of part files). A traced server operation repeats each
    * request by direct calls, so the server's own share is measured. */
  private def exportOp(op: Op, traced: Boolean): Map[String, Any] = {
    val t0 = now()
    var status = "ok"
    var rows = Seq.empty[Seq[String]]
    var t1 = t0
    if (op.mode == "cli") {
      if (!traced) {
        Sinks.saveCsvStreaming(graft.fork().sql(op.stmt), op.out)
        t1 = now()
        rows = JsonResult.of(graft.fork().sql(op.requery), op.requery).vals
      } else tracer.span(op.id, "op", 0) { root =>
        directExport(op.id, root, 0, op.stmt, op.out, Sinks.saveCsvStreaming)
        t1 = now()
        rows = direct(op.id, root, 0, op.requery, Seq(op.out))
      }
    } else {
      val save = Seq("query" -> op.stmt, "savePath" -> op.out)
      val requery = Seq("query" -> op.requery)
      val (saved, reply) =
        if (!traced) {
          val s = post(save: _*)
          t1 = now()
          (s, post(requery: _*))
        } else tracer.span(op.id, "op", 0) { root =>
          val (s, h1) = httpSpan(op.id, root, "export", save: _*)
          directExport(op.id, root, h1, op.stmt, op.out, Sinks.saveCsvDir)
          t1 = now()
          val (r, h2) = httpSpan(op.id, root, "requery", requery: _*)
          direct(op.id, root, h2, op.requery, Seq(op.out))
          (s, r)
        }
      val s0 = parseReply(saved)._1
      val (s1, r) = parseReply(reply)
      status = if (s0 != "ok") s0 else s1
      rows = r
    }
    val t2 = now()
    Map("lat" -> (t2 - t0), "export_s" -> (t1 - t0), "requery_s" -> (t2 - t1),
      "status" -> status, "mode" -> op.mode) ++
      (if (status == "ok") answer(op, rows) ++ exported(op.out) else Map.empty)
  }

  private def headlineOp(op: Op): Map[String, Any] = {
    val t0 = now()
    Registry.queries(op.stmt)(spark, spec.dataDir)
      .write.format("noop").mode("overwrite").save()
    Map("lat" -> (now() - t0), "status" -> "ok", "query" -> op.stmt)
  }

  private def runOp(op: Op, traced: Boolean): Map[String, Any] =
    try spec.workload match {
      case "gui_csv" => guiOp(op, traced)
      case "export_csv" => exportOp(op, traced)
      case "headline" =>
        if (!traced) headlineOp(op)
        else tracer.span(op.id, "op", 0)(_ => headlineOp(op))
    } catch {
      case e: Throwable =>
        Map("status" -> s"error: ${e.getClass.getSimpleName}: ${e.getMessage}".take(500))
    }

  /** Headline answers, written once after the timed loop so run.py can
    * compare them with each query's DuckDB oracle. */
  private def saveHeadlineAnswers(): Seq[Map[String, Any]] =
    ops.map(_.stmt).distinct.map { q =>
      val dir = s"${spec.workDir}/answers/$q"
      try {
        Registry.queries(q)(spark, spec.dataDir).write.mode("overwrite").parquet(dir)
        Map("query" -> q, "dir" -> dir, "status" -> "ok",
          "oracle" -> Registry.oracleSql.get(q).orNull)
      } catch {
        case e: Throwable => Map("query" -> q, "status" -> s"error: ${e.getMessage}".take(500))
      }
    }

  // ---------------------------------------------------------------- run

  private def poolThreads(): Int = Thread.getAllStackTraces.keySet.asScala
    .count(t => t.isAlive && !t.isDaemon && t.getName.matches("pool-\\d+-thread-\\d+"))

  private def rssPeakMb(): Double = {
    val line = Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).getOrElse(sys.error("no VmHWM in /proc/self/status"))
    line.split("\\s+")(1).toDouble / 1024.0
  }

  def run(): Map[String, Any] = {
    Files.createDirectories(Paths.get(spec.workDir))
    val poolBefore = poolThreads()
    // set-up: session start, server start and the warm-up pass; session
    // state is compared with the fresh session, so what the warm-up pass
    // leaves behind counts too
    val setupStart = now()
    startSession()
    val confBefore = spark.conf.getAll
    val persistedBefore = spark.sparkContext.getPersistentRDDs.size
    val warmFailed = warmup.map(op => runOp(op, traced = false)).count(_("status") != "ok")
    val setupS = now() - setupStart
    if (spec.setupOnly) {
      stopSession()
      return Map("jvm_to_main_s" -> jvmToMainMs / 1e3, "setup_s" -> setupS,
        "warmup_failed" -> warmFailed)
    }
    if (spec.trace) {
      tracer = new Tracer(spark.sparkContext)
      listener = new JobListener(serverGroup)
      spark.sparkContext.addSparkListener(listener)
    }

    val results = new ConcurrentLinkedQueue[Map[String, Any]]()
    val next = new AtomicInteger(0)
    val start = now()
    val deadline = start + spec.seconds
    // The next operation's index, or -1 once the deadline has passed and
    // the last round of the workload's class pattern is complete: a run
    // always measures whole rounds, so its medians come from the same
    // mix of statement classes however many rounds fit.
    @annotation.tailrec def claim(): Int = {
      val i = next.get()
      if (now() >= deadline && i % spec.round == 0) -1
      else if (next.compareAndSet(i, i + 1)) i
      else claim()
    }
    val clients = (0 until spec.clients).map { c =>
      new Thread(() => {
        var i = claim()
        while (i >= 0) {
          val op = ops(i % ops.size)
          // a traced run alternates untraced and traced rounds of the
          // workload's class pattern, so both halves run the same mix at
          // the same point of warm-up and the run itself shows what
          // tracing costs
          val traced = spec.trace && (i / spec.round) % 2 == 1
          val t0 = now()
          val r = runOp(op, traced)
          results.add(r ++ Map("seq" -> i, "id" -> op.id, "client" -> c,
            "traced" -> traced, "t0" -> (t0 - start), "t1" -> (now() - start)))
          i = claim()
        }
      }, s"perfbench-client-$c")
    }
    clients.foreach(_.start())
    clients.foreach(_.join())
    val end = now()

    val confAfter = spark.conf.getAll
    val confChanged = (confBefore.keySet ++ confAfter.keySet)
      .filter(k => confBefore.get(k) != confAfter.get(k)).toSeq.sorted
    val persistedGrowth = spark.sparkContext.getPersistentRDDs.size - persistedBefore
    val inflightPeak = Option(server).map(_.maxObservedConcurrency).getOrElse(1)
    val answers = if (spec.workload == "headline") saveHeadlineAnswers() else Nil
    if (spec.trace) Thread.sleep(1000) // let the listener bus drain
    val traceOut: Map[String, Any] =
      if (!spec.trace) Map.empty
      else Map("spans" -> tracer.spans.asScala.toSeq.sortBy(_.id).map(s => Map(
          "id" -> s.id, "op" -> s.op, "name" -> s.name, "parent" -> s.parent,
          "start" -> s.start, "end" -> s.end, "attrs" -> s.attrs)),
        "jobs" -> listener.jobRecords, "counters" -> listener.counterRecords)
    stopSession()
    val threadsAfterStop = poolThreads() - poolBefore

    Map(
      "jvm_to_main_s" -> jvmToMainMs / 1e3,
      "setup_s" -> setupS,
      "warmup_failed" -> warmFailed,
      "loop_s" -> (end - start),
      "ops" -> results.asScala.toSeq.sortBy(r => r("t0").asInstanceOf[Double]),
      "first_rows" -> firstRows.asScala.toMap.map { case (k, v) => k.toString -> v },
      "headline_answers" -> answers,
      "rss_peak_mb" -> rssPeakMb(),
      "inflight_peak" -> inflightPeak,
      "threads_after_stop" -> threadsAfterStop,
      "conf_changed" -> confChanged,
      "persisted_rdds_growth" -> persistedGrowth,
      "trace" -> traceOut)
  }
}
