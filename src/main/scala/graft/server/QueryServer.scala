package graft.server

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.util.concurrent.{ExecutorService, Executors}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.SparkSession

import graft.core.{Materialize, Sessions}
import graft.sources.Sinks
import graft.sql.{GraftSession, Parser, Planner}
import graft.trace.JobListener

/** Minimal HTTP query API (reference server.go:91-157): POST /query/
  * with JSON {"query": "..."} runs `;`-separated dialect statements and
  * returns the ReturnData bundle; POST /stop/ cancels in-flight queries
  * (the reference's websocket SK_STOP, server.go:61-64, mapped to
  * Spark job-group cancellation — every scan loop in the reference
  * checks a stop flag; Spark's cancellation interrupts tasks the same
  * way). The embedded GUI is out of engine scope (SURVEY.md §2.1 S8).
  */
final class QueryServer(graft: GraftSession, port: Int,
    bindAll: Boolean = false) {
  private val spark: SparkSession = graft.spark
  private val jobGroup = "graft-query-server"
  @volatile private var server: HttpServer = _
  // request-handler pool; stop() shuts it down so its (non-daemon)
  // threads never outlive the server
  @volatile private var pool: ExecutorService = _

  /** Live progress for the server's job group (the reference streams
    * per-query progress over its websocket, server.go TimedNotifier;
    * this is the polling analog — GET /progress/): jobs in flight and
    * task counts for the current burst of queries. A shared
    * SparkContext may run foreign work, which carries no server tag. */
  private val jobs = new JobListener(Set(jobGroup))
  // queries currently executing + the high-water mark (observable so
  // tests can prove requests truly overlap rather than timing them)
  private val inflight = new AtomicInteger(0)
  private val peakInflight = new AtomicInteger(0)
  def maxObservedConcurrency: Int = peakInflight.get
  // last time any client touched the server (nanos) — the idle
  // auto-exit's activity signal (reference counts websocket clients,
  // main.go:84-96; a connected ws client OR console polling keeps the
  // server alive)
  private val lastRequestNanos = new AtomicLong(System.nanoTime())
  def nanosSinceLastRequest: Long =
    if (inflight.get > 0 || ws.clientCount > 0) 0L // running query / live client
    else System.nanoTime() - lastRequestNanos.get

  /** Push channel (reference /socket/, server.go:19-88): 1 Hz progress
    * frames (the TimedNotifier cadence, utils.go:803-834), client
    * `{"Type":"stop"}`, and the SK_PASS password round-trip. Listens on
    * a sidecar loopback port (JDK HttpServer can't Upgrade a
    * connection); GET /socket/ on the HTTP port advertises it. */
  private val ws = new WsChannel("/socket/", handleWsMessage, bindAll)
  @volatile private var wsPortV: Int = -1
  def wsPort: Int = wsPortV
  // a query thread waiting on a websocket-delivered password (SK_PASS)
  private val pendingPassword =
    new java.util.concurrent.atomic.AtomicReference[java.util.concurrent.CompletableFuture[String]]()
  private[server] def handleWsMessage(msg: String): Unit = {
    lastRequestNanos.set(System.nanoTime())
    extractField(msg, "Type") match {
      case Some("stop") => spark.sparkContext.cancelJobGroup(jobGroup)
      case Some("password") =>
        val f = pendingPassword.get()
        if (f != null) extractField(msg, "Password").foreach(f.complete)
      case _ => ()
    }
  }
  /** Ask connected ws clients for a password (reference SK_PASS,
    * server.go:66-70); None when no client is connected or none answers
    * in time — the HTTP caller then gets the polling-style
    * `need_password` status and retries with a password field. */
  private def wsRequestPassword(timeoutMs: Long = 30000L): Option[String] = {
    if (ws.clientCount == 0) return None
    val fut = new java.util.concurrent.CompletableFuture[String]()
    if (!pendingPassword.compareAndSet(null, fut)) return None // one prompt at a time
    try {
      ws.broadcast("""{"Type":"need_password"}""")
      Some(fut.get(timeoutMs, java.util.concurrent.TimeUnit.MILLISECONDS))
    } catch { case _: Exception => None }
    finally pendingPassword.compareAndSet(fut, null)
  }
  // the inflight transition 0→1 and the reset must be one atomic step:
  // without the lock, two simultaneous requests can both pass the
  // n==1 check window and one clears the counters after the other's
  // jobs started — /progress/ totals would shrink mid-burst
  private val progressLock = new Object
  private def beginQuery(): Unit = progressLock.synchronized {
    val n = inflight.incrementAndGet()
    peakInflight.accumulateAndGet(n, math.max)
    if (n == 1) jobs.reset(jobGroup) // progress window = current burst of queries
  }

  def start(): Int = {
    spark.sparkContext.addSparkListener(jobs)
    // loopback-only by default (reference parity: non-localhost needs
    // the explicit danger flag, main.go:31); bindAll opens 0.0.0.0
    server = HttpServer.create(
      if (bindAll) new InetSocketAddress(port)
      else new InetSocketAddress("127.0.0.1", port), 0)
    server.createContext("/", (ex: HttpExchange) => handleRoot(ex))
    server.createContext("/query/", (ex: HttpExchange) => handleQuery(ex))
    server.createContext("/explain/", (ex: HttpExchange) => handleExplain(ex))
    server.createContext("/stop/", (ex: HttpExchange) => handleStop(ex))
    server.createContext("/progress/", (ex: HttpExchange) => handleProgress(ex))
    server.createContext("/files/", (ex: HttpExchange) => handleFiles(ex))
    server.createContext("/info/", (ex: HttpExchange) => handleInfo(ex))
    server.createContext("/socket/", (ex: HttpExchange) =>
      respond(ex, 200, s"""{"Status":"ok","Port":$wsPortV}"""))
    pool = Executors.newFixedThreadPool(4)
    server.setExecutor(pool)
    // the push channel binds first so GET /socket/ can never observe
    // the unset sidecar port once HTTP requests are possible
    wsPortV = ws.start()
    server.start()
    startProgressPusher()
    server.getAddress.getPort
  }

  // 1 Hz progress push while clients are connected (reference
  // TimedNotifier, utils.go:803-834 — the console no longer updates
  // only as fast as it polls)
  @volatile private var pushing = true
  private def startProgressPusher(): Unit = {
    val t = new Thread(() => {
      while (pushing) {
        if (ws.clientCount > 0)
          ws.broadcast(s"""{"Type":"progress",${progressJson.drop(1)}""")
        Thread.sleep(1000L)
      }
    }, "graft-ws-progress")
    t.setDaemon(true); t.start()
  }

  def stop(): Unit = {
    pushing = false
    ws.stop()
    if (server != null) server.stop(0)
    if (pool != null) pool.shutdown()
    spark.sparkContext.removeSparkListener(jobs)
  }

  /** Embedded console page (reference launches its GUI at /,
    * server.go:91-106). "/" is the fallback context: exact root serves
    * the console, anything unmatched 404s. */
  private def handleRoot(ex: HttpExchange): Unit = {
    val path = ex.getRequestURI.getPath
    if (path == "/" || path == "/index.html") {
      lastRequestNanos.set(System.nanoTime())
      val bytes = Console.html.getBytes(StandardCharsets.UTF_8)
      ex.getResponseHeaders.set("Content-Type", "text/html; charset=utf-8")
      ex.sendResponseHeaders(200, bytes.length)
      ex.getResponseBody.write(bytes)
      ex.close()
    } else respond(ex, 404, s"""{"Status":"error: no such endpoint: ${JsonResult.esc(path)}"}""")
  }

  private def handleQuery(ex: HttpExchange): Unit = {
    val body = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
    val password = extractField(body, "password")
    val response =
      try {
        val query = extractField(body, "query")
          .getOrElse(throw new IllegalArgumentException("missing 'query' field"))
        // Save parity (reference FileIO/SavePath, main.go:124-131,
        // files.go:85-156): an optional savePath writes each
        // statement's FULL result to disk (the JSON reply stays
        // clipped). Default is the parallel part-file path
        // (saveCsvDir — the 100 TB shape); saveMode "single" is the
        // CLI-style one-file local convenience.
        val savePath = extractField(body, "savePath")
        val singleFile = extractField(body, "saveMode").contains("single")
        try runQuery(query, password, savePath, singleFile)
        catch {
          case e: Planner#PlanError
              if password.isEmpty && e.msg.contains("password required") =>
            // reference SK_PASS (server.go:66-70): prompt a connected
            // websocket client and retry with its answer; with no ws
            // client the polling analog returns a structured status the
            // console re-prompts on, then re-POSTs with a password field
            wsRequestPassword() match {
              case Some(pw) => runQuery(query, Some(pw), savePath, singleFile)
              case None => JsonResult.bundle(Nil, "need_password")
            }
        }
      } catch {
        case e: Throwable => JsonResult.bundle(Nil, s"error: ${e.getMessage}")
      } finally spark.sparkContext.clearJobGroup()
    respond(ex, 200, response)
  }

  /** Run one request's statements (plan + execute + optional save),
    * returning the JSON bundle. Throws on plan/execution errors —
    * handleQuery owns the error-to-status mapping. */
  private def runQuery(query: String, password: Option[String],
      savePath: Option[String], singleFile: Boolean): String = {
    // Concurrent execution: each request forks its own GraftSession,
    // so the per-statement registry state (`_fN` binding) is private
    // to the request and queries run genuinely in parallel on the
    // shared (thread-safe) SparkSession — the reference is
    // single-flight (one websocket, one global retData,
    // server.go:61-70,109), but single-flight on a 32-core box
    // wastes the whole point of the Spark rebuild. /stop/ still
    // works: setJobGroup is thread-local, every handler thread tags
    // its jobs with the same group, and cancelJobGroup interrupts
    // them all. One Materialize.statement spans plan, save and reply.
    beginQuery()
    val (results, saved) =
      try Materialize.statement {
        spark.sparkContext.setJobGroup(jobGroup, query, interruptOnCancel = true)
        val session = graft.fork(password)
        val planned = Parser.splitStatements(query).map(s => (s, session.sql(s)))
        val savedPaths = savePath match {
          case Some(base) =>
            Sinks.savePaths(base, planned.size).zip(planned).map {
              case (p, (_, df)) =>
                // reused across the two consumers: the CSV save and
                // the clipped JSON reply below would otherwise each
                // run the full query from scratch
                Materialize.reuse(df)
                if (singleFile) Sinks.saveCsv(df, p)
                else Sinks.saveCsvDir(df, p)
            }
          case None => Seq.empty[String]
        }
        (planned.map { case (stmt, df) => JsonResult.of(df, stmt) }, savedPaths)
      } finally inflight.decrementAndGet()
    JsonResult.bundle(results, "ok", saved)
  }

  /** Query-plan view (no reference analog — the GUI companion of the
    * scale story): POST /explain/ {"query":"..."} compiles each
    * `;`-separated statement and returns Catalyst's FORMATTED physical
    * plan WITHOUT executing anything — the console's "plan" button
    * renders it so pushed filters, broadcast sides, and exchanges are
    * inspectable before a query runs on real data. */
  private def handleExplain(ex: HttpExchange): Unit = {
    val body = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
    val response =
      try {
        val query = extractField(body, "query")
          .getOrElse(throw new IllegalArgumentException("missing 'query' field"))
        val session = graft.fork(extractField(body, "password"))
        // planning alone can materialize (BucketGuard's eager cut)
        val plans = Materialize.statement(Parser.splitStatements(query).map { stmt =>
          val plan = session.sql(stmt).queryExecution
            .explainString(org.apache.spark.sql.execution.FormattedMode)
          s"""{"Query":"${JsonResult.esc(stmt)}","Plan":"${JsonResult.esc(plan)}"}"""
        })
        s"""{"Status":"ok","Plans":[${plans.mkString(",")}]}"""
      } catch {
        case e: Throwable =>
          s"""{"Status":"error: ${JsonResult.esc(String.valueOf(e.getMessage))}"}"""
      }
    respond(ex, 200, response)
  }

  /** File browser (reference files.go:183-220): GET /files/?dir=…
    * lists subdirectories and queryable files (csv/parquet/json/orc/xml) of a
    * directory, plus the parent — the engine-side data the reference's
    * GUI tree renders. */
  private def handleFiles(ex: HttpExchange): Unit = {
    import java.io.File
    val q = Option(ex.getRequestURI.getRawQuery).getOrElse("")
    val dir = q.split('&').collectFirst {
      case kv if kv.startsWith("dir=") =>
        java.net.URLDecoder.decode(kv.drop(4), StandardCharsets.UTF_8)
    }.filter(_.nonEmpty).getOrElse(System.getProperty("user.home", "/"))
    val f = new File(dir)
    if (!f.isDirectory) { respond(ex, 200, s"""{"Status":"error: not a directory: ${JsonResult.esc(dir)}"}"""); return }
    val entries = Option(f.listFiles()).getOrElse(Array.empty[File]).sortBy(_.getName)
    def arr(xs: Seq[String]) = xs.map(s => "\"" + JsonResult.esc(s) + "\"").mkString("[", ",", "]")
    val dirs = entries.filter(e => e.isDirectory && !e.getName.startsWith(".")).map(_.getAbsolutePath)
    val files = entries.filter { e =>
      val n = e.getName.toLowerCase
      e.isFile && (n.endsWith(".csv") || n.endsWith(".parquet") || n.endsWith(".json") || n.endsWith(".orc") || n.endsWith(".xml"))
    }.map(_.getAbsolutePath)
    val parent = Option(f.getAbsoluteFile.getParent).getOrElse(f.getAbsolutePath)
    respond(ex, 200,
      s"""{"Status":"ok","Path":"${JsonResult.esc(f.getAbsolutePath)}","Parent":"${JsonResult.esc(parent)}","Dirs":${arr(dirs.toSeq)},"Files":${arr(files.toSeq)}}""")
  }

  /** GUI session state (reference infoHandler, server.go:180-230): the
    * console persists its query history and browser-dir state
    * server-side, so a page reload restores the session. In-memory for
    * the server's lifetime — exactly the reference's `var state` — and
    * opaque to the engine: the body is stored and echoed verbatim. */
  @volatile private var guiState: String = null
  private def handleInfo(ex: HttpExchange): Unit = {
    val q = Option(ex.getRequestURI.getRawQuery).getOrElse("")
    val mode = q.split('&').collectFirst {
      case kv if kv.startsWith("info=") => kv.drop(5)
    }.getOrElse("")
    mode match {
      case "setState" =>
        guiState = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
        respond(ex, 200, """{"Status":"ok"}""")
      case "getState" =>
        respond(ex, 200,
          Option(guiState).getOrElse("""{"haveInfo":false,"history":[]}"""))
      case other =>
        respond(ex, 200,
          s"""{"Status":"error: unknown info request: ${JsonResult.esc(other)}"}""")
    }
  }

  private def progressJson: String = {
    val t = jobs.totals(jobGroup)
    val total = t.submitted.get
    val done = math.min(t.tasks.get, total)
    val pct = if (total == 0) 0.0 else math.rint(1000.0 * done / total) / 10
    s"""{"ActiveJobs":${jobs.activeJobs(jobGroup)},"TasksDone":$done,"TasksTotal":$total,"Percent":$pct}"""
  }

  private def handleProgress(ex: HttpExchange): Unit =
    respond(ex, 200, progressJson)

  private def handleStop(ex: HttpExchange): Unit = {
    spark.sparkContext.cancelJobGroup(jobGroup)
    respond(ex, 200, """{"Status":"cancelled"}""")
  }

  private def respond(ex: HttpExchange, code: Int, body: String): Unit = {
    lastRequestNanos.set(System.nanoTime())
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(code, bytes.length)
    ex.getResponseBody.write(bytes)
    ex.close()
  }

  /** Minimal JSON string-field extraction (handles escapes) — avoids a
    * JSON dependency for one request shape. */
  private[server] def extractField(json: String, field: String): Option[String] = {
    val key = "\"" + field + "\""
    val ki = json.indexOf(key)
    if (ki < 0) return None
    var i = json.indexOf(':', ki + key.length)
    if (i < 0) return None
    i += 1
    while (i < json.length && json(i).isWhitespace) i += 1
    if (i >= json.length || json(i) != '"') return None
    i += 1
    val sb = new StringBuilder
    while (i < json.length && json(i) != '"') {
      if (json(i) == '\\' && i + 1 < json.length) {
        json(i + 1) match {
          case 'n' => sb += '\n'; case 't' => sb += '\t'; case 'r' => sb += '\r'
          case 'u' if i + 5 < json.length =>
            sb += Integer.parseInt(json.substring(i + 2, i + 6), 16).toChar
            i += 4
          case c => sb += c
        }
        i += 2
      } else { sb += json(i); i += 1 }
    }
    Some(sb.toString)
  }
}

/** Idle auto-exit (reference main.go:84-96: the server exits after
  * 120 s with zero connected clients unless `-s`). Clock and exit
  * action are injected so the decision logic is unit-testable without
  * a wall clock or a process kill. */
final class IdleMonitor(timeoutNanos: Long, idleNanos: () => Long,
    onIdle: () => Unit) {
  /** One poll: fire onIdle iff the idle time reached the timeout.
    * Returns whether it fired. */
  def check(): Boolean = {
    val fire = idleNanos() >= timeoutNanos
    if (fire) onIdle()
    fire
  }

  /** Daemon polling loop (1 s cadence — the timeout is minutes). */
  def start(): Thread = {
    val t = new Thread(() => {
      while (!check()) Thread.sleep(1000L)
    }, "graft-idle-monitor")
    t.setDaemon(true)
    t.start()
    t
  }
}

/** Standalone server entry:
  * runMain graft.server.ServerMain [port] [dir] [--allow-remote] [--open] [-s].
  * Binds 127.0.0.1 unless --allow-remote (reference `-l`, main.go:31).
  * `--open` launches the system browser at the console URL (reference
  * launchBrowser, server.go); without `-s`/`--stay` the process exits
  * after 120 s with no client activity (reference main.go:84-96). */
object ServerMain {
  private val flags = Set("--allow-remote", "--open", "-s", "--stay")

  /** Best-effort browser launch; headless boxes just get the URL. */
  private def openBrowser(url: String): Unit = {
    val cmd = sys.props.get("os.name") match {
      case Some(n) if n.toLowerCase.contains("mac") => Seq("open", url)
      case _ => Seq("xdg-open", url)
    }
    try { new ProcessBuilder(cmd: _*).start(); () }
    catch { case _: Exception => System.err.println(s"open $url in a browser") }
  }

  def main(args: Array[String]): Unit = {
    val bindAll = args.contains("--allow-remote")
    val stay = args.contains("-s") || args.contains("--stay")
    val pos = args.filterNot(flags)
    val port = pos.headOption.map(_.toInt).getOrElse(8060)
    val dir = pos.lift(1).getOrElse("/root/testdata/sf0.001")
    val spark = Sessions.start()
    val s = new QueryServer(GraftSession(spark, dir), port, bindAll)
    val actual = s.start()
    System.err.println(s"graft query server listening on :$actual " +
      s"(websocket push on :${s.wsPort}, advertised at /socket/)")
    if (args.contains("--open")) openBrowser(s"http://localhost:$actual/")
    if (!stay) {
      System.err.println("exiting after 120s with no client activity (pass -s to stay)")
      new IdleMonitor(120L * 1000000000L, () => s.nanosSinceLastRequest,
        () => { System.err.println("idle timeout — exiting"); s.stop(); sys.exit(0) }
      ).start()
    }
    Thread.currentThread.join()
  }
}
