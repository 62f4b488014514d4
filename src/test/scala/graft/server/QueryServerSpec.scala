package graft.server

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

import graft.SparkSpec
import graft.sql.GraftSession

class QueryServerSpec extends SparkSpec {

  test("POST /query/ runs multi-statement dialect SQL and returns JSON") {
    val server = new QueryServer(GraftSession(spark, sf0001), port = 0)
    val port = server.start()
    try {
      val client = HttpClient.newHttpClient()
      val req = HttpRequest.newBuilder(URI.create(s"http://localhost:$port/query/"))
        .POST(HttpRequest.BodyPublishers.ofString(
          """{"query":"select count(r_regionkey) as n from region; select top 2 n_name from nation order by n_name asc"}"""))
        .build()
      val resp = client.send(req, HttpResponse.BodyHandlers.ofString())
      assert(resp.statusCode() == 200)
      val body = resp.body()
      assert(body.contains(""""Status":"ok""""), body)
      assert(body.contains(""""Colnames":["n"]"""), body)
      assert(body.contains(""""Vals":[["5"]]"""), body)          // count → float → "5"
      assert(body.contains(""""Numcols":1"""), body)
      // two entries for two statements
      assert(body.split("\"Query\":").length == 3, body)
    } finally server.stop()
  }

  test("stop() leaves none of the server's request-handler threads alive") {
    def poolThreads() = {
      import scala.jdk.CollectionConverters._
      Thread.getAllStackTraces.keySet.asScala
        .filter(t => t.isAlive && t.getName.matches("pool-\\d+-thread-\\d+")).toSet
    }
    val before = poolThreads()
    val server = new QueryServer(GraftSession(spark, sf0001), port = 0)
    val port = server.start()
    val client = HttpClient.newHttpClient()
    // concurrent requests so the handler pool starts several threads
    val replies = (1 to 4).map { _ =>
      client.sendAsync(
        HttpRequest.newBuilder(URI.create(s"http://localhost:$port/query/"))
          .POST(HttpRequest.BodyPublishers.ofString(
            """{"query":"select count(r_regionkey) as n from region"}""")).build(),
        HttpResponse.BodyHandlers.ofString())
    }.map(_.join())
    assert(replies.forall(_.body().contains(""""Status":"ok"""")))
    val started = poolThreads() -- before
    assert(started.nonEmpty, "requests must run on the server's handler pool")
    server.stop()
    val deadline = System.nanoTime() + 10L * 1000000000L
    while (started.exists(_.isAlive) && System.nanoTime() < deadline) Thread.sleep(50)
    assert(!started.exists(_.isAlive),
      s"handler threads alive after stop(): ${started.filter(_.isAlive).map(_.getName)}")
  }

  test("repeated serve requests plan off the cached sidecar (no per-request reload)") {
    import org.apache.spark.sql.functions._
    import graft.operators.IvfIndex
    val server = new QueryServer(GraftSession(spark, sf0001), port = 0)
    val port = server.start()
    try {
      val client = HttpClient.newHttpClient()
      def post(q: String) = client.send(
        HttpRequest.newBuilder(URI.create(s"http://localhost:$port/query/"))
          .POST(HttpRequest.BodyPublishers.ofString(
            s"""{"query":"$q"}""")).build(),
        HttpResponse.BodyHandlers.ofString())
      val ip = s"$suiteDir/qs_serve_idx"
      val qb = s"$suiteDir/qs_serve_q"
      assert(post(s"index vec_id, embedding from embeddings into '$ip'")
        .body().contains("\"Status\":\"ok\""))
      graft.core.Tables(spark, sf0001, "embeddings")
        .filter(col("vec_id") < 3)
        .select((col("vec_id") + lit(1000000L)).as("vec_id"), col("embedding"))
        .coalesce(1).write.mode("overwrite").parquet(qb)
      val serveQ = s"serve vec_id, embedding from '$ip' query '$qb' top 3"
      val r1 = post(serveQ)
      assert(r1.statusCode() == 200 && r1.body().contains("\"Status\":\"ok\""), r1.body())
      val loadsAfterFirst = IvfIndex.SidecarCache.loadCount(ip)
      assert(loadsAfterFirst >= 1, "first serve must load the sidecar")
      val r2 = post(serveQ)
      assert(r2.statusCode() == 200 && r2.body().contains("\"Status\":\"ok\""), r2.body())
      assert(IvfIndex.SidecarCache.loadCount(ip) == loadsAfterFirst,
        "second serve must plan off the cached sidecar, not re-read _centers")
      assert(r1.body() == r2.body(), "cached routing must not change the answer")
    } finally server.stop()
  }

  test("pipeline statements (dedup/similar) run over HTTP like any query") {
    val server = new QueryServer(GraftSession(spark, sf0001), port = 0)
    val port = server.start()
    try {
      val client = HttpClient.newHttpClient()
      def post(q: String) = client.send(
        HttpRequest.newBuilder(URI.create(s"http://localhost:$port/query/"))
          .POST(HttpRequest.BodyPublishers.ofString(s"""{"query":"$q"}"""))
          .build(),
        HttpResponse.BodyHandlers.ofString()).body()
      val dedup = post("dedup exact doc_id, text from documents")
      assert(dedup.contains(""""Status":"ok""""), dedup)
      assert(dedup.contains("text_md5") && dedup.contains("keep_id"), dedup)
      val sim = post("similar vec_id, embedding from embeddings top 2")
      assert(sim.contains(""""Status":"ok""""), sim)
      assert(sim.contains("q_id") && sim.contains("rank"), sim)
      // the round-7 statement family responds on the same surface
      val prof = post("profile documents")
      assert(prof.contains(""""Status":"ok"""") && prof.contains("n_distinct"), prof)
      val chunk = post("chunk doc_id, text from documents size 32 overlap 8")
      assert(chunk.contains(""""Status":"ok"""") && chunk.contains("chunk_text"), chunk)
      val samp = post("sample doc_id from documents pct 25")
      assert(samp.contains(""""Status":"ok""""), samp)
      val search = post("search doc_id, text from documents for 'the' top 3")
      assert(search.contains(""""Status":"ok"""") && search.contains("bm25"), search)
      val bad = post("sample doc_id from documents pct 0")
      assert(bad.contains(""""Status":"error: sample pct"""), bad)
      // the round-8 statement family responds on the same surface
      val ws = post("sample doc_id from documents top 5 by n_chars")
      assert(ws.contains(""""Status":"ok"""") && ws.contains("wkey"), ws)
      val qz = post("quantize vec_id, embedding from embeddings")
      assert(qz.contains(""""Status":"ok"""") && qz.contains("code_lo"), qz)
      val tr = post("trend ts, event_type from events top 2")
      assert(tr.contains(""""Status":"ok"""") && tr.contains("rk"), tr)
      val card = post("card doc_id, text from documents")
      assert(card.contains(""""Status":"ok"""") && card.contains("mean_quality"), card)
      // the round-9 statement family responds on the same surface
      val mix = post("mix doc_id, text from documents budget 500 per source")
      assert(mix.contains(""""Status":"ok"""") && mix.contains("cum_tok"), mix)
      val best = post("dedup best doc_id, text from documents")
      assert(best.contains(""""Status":"ok"""") && best.contains("cluster_id"), best)
      val outl = post("outliers vec_id, embedding from embeddings top 3")
      assert(outl.contains(""""Status":"ok"""") && outl.contains("dist"), outl)
      val drift = post("drift embedding from embeddings against embeddings")
      assert(drift.contains(""""Status":"ok"""") && drift.contains("psi"), drift)
      val neg = post("negatives vec_id, embedding, label from embeddings top 2")
      assert(neg.contains(""""Status":"ok"""") && neg.contains("sim"), neg)
      val cal = post("calibrate doc_id, source, text from documents")
      assert(cal.contains(""""Status":"ok"""") && cal.contains("pctile"), cal)
      val ep = post("epochs source, text from documents budget 5000")
      assert(ep.contains(""""Status":"ok"""") && ep.contains("eff_tokens"), ep)
      val ret = post("retention user_id, ts from events")
      assert(ret.contains(""""Status":"ok"""") && ret.contains("cohort"), ret)
      val dif = post("diff text from documents against documents")
      assert(dif.contains(""""Status":"ok"""") && dif.contains("retained"), dif)
      val fer = post("fertility lang, text from documents")
      assert(fer.contains(""""Status":"ok"""") && fer.contains("fertility"), fer)
      val pkg = post("packing doc_id, text from documents sizes 256, 512")
      assert(pkg.contains(""""Status":"ok"""") && pkg.contains("fill_rate"), pkg)
      val rep = post("repair vec_id, embedding from embeddings")
      assert(rep.contains(""""Status":"ok"""") && rep.contains("cell_new"), rep)
      val sem = post("dedup semantic vec_id, embedding from embeddings")
      assert(sem.contains(""""Status":"ok"""") && sem.contains("keep"), sem)
      val idx = post(s"index vec_id, embedding from embeddings into '$suiteDir/qs_idx'")
      assert(idx.contains(""""Status":"ok"""") && idx.contains("n_vecs"), idx)
      val srv = post(s"serve vec_id, embedding from '$suiteDir/qs_idx' top 3")
      assert(srv.contains(""""Status":"ok"""") && srv.contains("sim"), srv)
      val sq = post(s"serve vec_id, embedding from '$suiteDir/qs_idx' " +
        s"query '$suiteDir/qs_idx' top 2")
      assert(sq.contains(""""Status":"ok"""") && sq.contains("rank"), sq)
      val rpu = post(s"repair vec_id, embedding from embeddings using '$suiteDir/qs_idx'")
      assert(rpu.contains(""""Status":"ok"""") && rpu.contains("cell_new"), rpu)
    } finally server.stop()
  }

  test("POST /explain/ returns the formatted physical plan without executing") {
    val server = new QueryServer(GraftSession(spark, sf0001), port = 0)
    val port = server.start()
    try {
      val client = HttpClient.newHttpClient()
      def post(body: String) = client.send(
        HttpRequest.newBuilder(URI.create(s"http://localhost:$port/explain/"))
          .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
        HttpResponse.BodyHandlers.ofString()).body()
      val body = post(
        """{"query":"select n_name from nation where n_nationkey > 5; select count(r_name) as n from region"}""")
      assert(body.contains(""""Status":"ok""""), body)
      // two plans for two statements, each a FORMATTED physical plan
      assert(body.split("\"Plan\":").length == 3, body)
      assert(body.contains("Physical Plan"), body)
      // the scale story is inspectable: the filter reaches the scan
      assert(body.contains("PushedFilters"), body)
      // errors surface as status, not a crash
      val bad = post("""{"query":"select nope from nowhere"}""")
      assert(bad.contains(""""Status":"error"""), bad)
      // pipeline statements explain too — the scale plan (band-keyed
      // joins, no cartesian) is inspectable before running anything
      val stmt = post("""{"query":"dedup near doc_id, text from documents"}""")
      assert(stmt.contains(""""Status":"ok"""") &&
        stmt.contains("Physical Plan"), stmt)
      assert(!stmt.contains("CartesianProduct"), stmt)
    } finally server.stop()
  }

  test("/explain/ and /query/ of a dedup statement leave no persisted RDD behind") {
    val server = new QueryServer(GraftSession(spark, sf0001), port = 0)
    val port = server.start()
    try {
      val client = HttpClient.newHttpClient()
      def post(path: String) = client.send(
        HttpRequest.newBuilder(URI.create(s"http://localhost:$port/$path/"))
          .POST(HttpRequest.BodyPublishers.ofString(
            """{"query":"dedup near doc_id, text from documents"}""")).build(),
        HttpResponse.BodyHandlers.ofString()).body()
      val sc = spark.sparkContext
      for (path <- Seq("explain", "query")) {
        val before = sc.getPersistentRDDs.keySet
        // planning alone runs BucketGuard's eager cut
        val body = post(path)
        assert(body.contains(""""Status":"ok""""), body)
        val left = sc.getPersistentRDDs.keySet -- before
        assert(left.isEmpty, s"/$path/ left ${left.size} persisted RDD(s)")
      }
    } finally server.stop()
  }

  // ── websocket push channel (reference /socket/, server.go:19-88) ──

  private def wsConnect(port: Int,
      onFrame: (java.net.http.WebSocket, String) => Unit): java.net.http.WebSocket = {
    val listener = new java.net.http.WebSocket.Listener {
      private val sb = new StringBuilder
      override def onText(w: java.net.http.WebSocket, data: CharSequence,
          last: Boolean): java.util.concurrent.CompletionStage[_] = {
        sb.append(data)
        if (last) { val m = sb.toString; sb.clear(); onFrame(w, m) }
        w.request(1); null
      }
    }
    HttpClient.newHttpClient().newWebSocketBuilder()
      .buildAsync(URI.create(s"ws://127.0.0.1:$port/socket/"), listener)
      .join()
  }

  test("websocket: GET /socket/ advertises the port; progress frames push at 1 Hz") {
    val server = new QueryServer(GraftSession(spark, sf0001), port = 0)
    val port = server.start()
    try {
      // port advertisement on the HTTP side
      val client = HttpClient.newHttpClient()
      val ad = client.send(
        HttpRequest.newBuilder(URI.create(s"http://localhost:$port/socket/")).GET().build(),
        HttpResponse.BodyHandlers.ofString()).body()
      assert(ad.contains(s""""Port":${server.wsPort}"""), ad)
      // push cadence: ≥2 progress frames arrive without any polling
      val frames = new java.util.concurrent.LinkedBlockingQueue[String]()
      val w = wsConnect(server.wsPort, (_, m) => frames.add(m))
      val first = frames.poll(5, java.util.concurrent.TimeUnit.SECONDS)
      val second = frames.poll(5, java.util.concurrent.TimeUnit.SECONDS)
      assert(first != null && second != null, "expected two pushed frames")
      Seq(first, second).foreach { f =>
        assert(f.contains(""""Type":"progress"""") && f.contains(""""TasksTotal""""), f)
      }
      // a connected ws client counts as activity for the idle monitor
      assert(server.nanosSinceLastRequest == 0L)
      w.sendClose(java.net.http.WebSocket.NORMAL_CLOSURE, "done").join()
    } finally server.stop()
  }

  test("websocket: SK_PASS round-trip — client-delivered password satisfies the query") {
    val server = new QueryServer(GraftSession(spark, sf0001), port = 0)
    val port = server.start()
    try {
      // client answers the need_password push with the password frame
      val sawPrompt = new java.util.concurrent.atomic.AtomicBoolean(false)
      val w = wsConnect(server.wsPort, (wsk, m) =>
        if (m.contains(""""Type":"need_password"""")) {
          sawPrompt.set(true)
          wsk.sendText("""{"Type":"password","Password":"hunter2"}""", true)
        })
      // passwordless POST of a query that needs one: served via the ws
      // prompt instead of the polling need_password status
      val body = HttpClient.newHttpClient().send(
        HttpRequest.newBuilder(URI.create(s"http://localhost:$port/query/"))
          .POST(HttpRequest.BodyPublishers.ofString(
            """{"query":"select decrypt(encrypt(r_name)) as back from region"}"""))
          .build(),
        HttpResponse.BodyHandlers.ofString()).body()
      assert(sawPrompt.get, "server never pushed need_password over the socket")
      assert(body.contains(""""Status":"ok""""), body)
      assert(body.contains("AFRICA"), body) // decrypt(encrypt(x)) = x
      // stop messages dispatch through the same channel without error
      w.sendText("""{"Type":"stop"}""", true).join()
      w.sendClose(java.net.http.WebSocket.NORMAL_CLOSURE, "done").join()
    } finally server.stop()
  }

  test("bad query returns error status, not a crash") {
    val server = new QueryServer(GraftSession(spark, sf0001), port = 0)
    val port = server.start()
    try {
      val client = HttpClient.newHttpClient()
      val req = HttpRequest.newBuilder(URI.create(s"http://localhost:$port/query/"))
        .POST(HttpRequest.BodyPublishers.ofString("""{"query":"select r.nosuch from region r"}"""))
        .build()
      val resp = client.send(req, HttpResponse.BodyHandlers.ofString())
      assert(resp.statusCode() == 200)
      assert(resp.body().contains(""""Status":"error"""), resp.body())
    } finally server.stop()
  }

  test("GET /progress/ reports task counts after a query") {
    val server = new QueryServer(GraftSession(spark, sf0001), port = 0)
    val port = server.start()
    try {
      val client = HttpClient.newHttpClient()
      val q = HttpRequest.newBuilder(URI.create(s"http://localhost:$port/query/"))
        .POST(HttpRequest.BodyPublishers.ofString(
          """{"query":"select count(o_orderkey) as n from orders"}""")).build()
      client.send(q, HttpResponse.BodyHandlers.ofString())
      val p = HttpRequest.newBuilder(URI.create(s"http://localhost:$port/progress/"))
        .GET().build()
      val first = client.send(p, HttpResponse.BodyHandlers.ofString())
      assert(first.statusCode() == 200)
      assert(first.body().contains(""""TasksTotal""""), first.body())
      // job-end events arrive on the async listener bus — poll until
      // the finished query's jobs drain rather than racing the bus
      val deadline = System.nanoTime() + 10L * 1000000000L
      var body = first.body()
      while (!body.contains(""""ActiveJobs":0""") && System.nanoTime() < deadline) {
        Thread.sleep(100)
        body = client.send(p, HttpResponse.BodyHandlers.ofString()).body()
      }
      assert(body.contains(""""ActiveJobs":0"""), body)
    } finally server.stop()
  }

  test("two in-flight queries genuinely overlap (per-request session, no single-flight)") {
    import org.apache.spark.sql.functions.{col, udf}
    // a query whose execution provably takes ≥800ms inside a task, so
    // two parallel POSTs must overlap unless the server single-flights
    val slow = udf { (x: Long) => Thread.sleep(800L); x }
    val proto = GraftSession(spark, sf0001)
      .register("slowtab", spark.range(1).repartition(1).select(slow(col("id")).as("v")))
    val server = new QueryServer(proto, port = 0)
    val port = server.start()
    try {
      val client = HttpClient.newHttpClient()
      def post() = HttpRequest.newBuilder(URI.create(s"http://localhost:$port/query/"))
        .POST(HttpRequest.BodyPublishers.ofString(
          """{"query":"select v from slowtab"}""")).build()
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration._
      import scala.concurrent.ExecutionContext.Implicits.global
      val fs = (1 to 2).map(_ => Future(client.send(post(), HttpResponse.BodyHandlers.ofString()).body()))
      val bodies = Await.result(Future.sequence(fs), 60.seconds)
      bodies.foreach(b => assert(b.contains(""""Status":"ok""""), b))
      assert(server.maxObservedConcurrency >= 2,
        s"queries never overlapped (peak=${server.maxObservedConcurrency})")
    } finally server.stop()
  }

  test("GET /files/ lists directories and queryable files") {
    val server = new QueryServer(GraftSession(spark, sf0001), port = 0)
    val port = server.start()
    try {
      val client = HttpClient.newHttpClient()
      val req = HttpRequest.newBuilder(
        URI.create(s"http://localhost:$port/files/?dir=$sf0001")).GET().build()
      val resp = client.send(req, HttpResponse.BodyHandlers.ofString())
      assert(resp.statusCode() == 200)
      val body = resp.body()
      assert(body.contains(""""Status":"ok""""), body)
      assert(body.contains("region.parquet"), body)
      assert(body.contains(""""Parent":""""), body)
      // non-directory → error status, not a crash
      val bad = client.send(HttpRequest.newBuilder(
        URI.create(s"http://localhost:$port/files/?dir=/no/such/dir")).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      assert(bad.body().contains("error"), bad.body())
    } finally server.stop()
  }

  test("concurrent queries stay correct (per-request registry isolation)") {
    val server = new QueryServer(GraftSession(spark, sf0001), port = 0)
    val port = server.start()
    try {
      val client = HttpClient.newHttpClient()
      def post(q: String) = HttpRequest.newBuilder(URI.create(s"http://localhost:$port/query/"))
        .POST(HttpRequest.BodyPublishers.ofString(s"""{"query":"$q"}""")).build()
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration._
      import scala.concurrent.ExecutionContext.Implicits.global
      val fs = (1 to 6).map { i =>
        val q = if (i % 2 == 0)
          "select count(r_regionkey) as n from region"
        else
          "select count(n_nationkey) as n from nation"
        Future(client.send(post(q), HttpResponse.BodyHandlers.ofString()).body())
      }
      val bodies = Await.result(Future.sequence(fs), 120.seconds)
      bodies.zipWithIndex.foreach { case (b, idx) =>
        assert(b.contains(""""Status":"ok""""), b)
        val want = if ((idx + 1) % 2 == 0) """"Vals":[["5"]]""" else """"Vals":[["25"]]"""
        assert(b.contains(want), s"request $idx: $b")
      }
    } finally server.stop()
  }

  test("browser row clip: wide result limits to 20000/ncols rows, Clipped set") {
    val server = new QueryServer(GraftSession(spark, sf0001), port = 0)
    val port = server.start()
    try {
      val client = HttpClient.newHttpClient()
      val resp = client.send(
        HttpRequest.newBuilder(URI.create(s"http://localhost:$port/query/"))
          .POST(HttpRequest.BodyPublishers.ofString(
            """{"query":"select * from lineitem"}""")).build(),
        HttpResponse.BodyHandlers.ofString())
      val body = resp.body()
      // lineitem sf0.001: ~6000 rows x 11 cols ⇒ showLimit 1818 < rows
      assert(body.contains(""""Clipped":true"""), body.take(300))
      assert(body.contains(""""ShowLimit":1818"""), body.take(300))
      assert(body.contains(""""Numrows":1818"""), body.take(300))
    } finally server.stop()
  }

  test("GET / serves the embedded console; unknown paths 404") {
    val server = new QueryServer(GraftSession(spark, sf0001), port = 0)
    val port = server.start()
    try {
      val client = HttpClient.newHttpClient()
      val root = client.send(
        HttpRequest.newBuilder(URI.create(s"http://localhost:$port/")).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      assert(root.statusCode() == 200)
      assert(root.headers().firstValue("Content-Type").orElse("").startsWith("text/html"))
      assert(root.body().contains("graft console"), root.body().take(200))
      assert(root.body().contains("/query/") && root.body().contains("/progress/"))
      assert(root.body().contains("sortBy"), "grid sort handler must be served")
      val missing = client.send(
        HttpRequest.newBuilder(URI.create(s"http://localhost:$port/nope")).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      assert(missing.statusCode() == 404, missing.body())
    } finally server.stop()
  }

  test("POST /query/ with savePath writes the CSV AND returns the clipped JSON") {
    val server = new QueryServer(GraftSession(spark, sf0001), port = 0)
    val port = server.start()
    try {
      val client = HttpClient.newHttpClient()
      val dir = freshDir("websave")
      // single-file mode, multi-statement → base.csv and base-2.csv
      val base = s"$dir/out.csv"
      val resp = client.send(
        HttpRequest.newBuilder(URI.create(s"http://localhost:$port/query/"))
          .POST(HttpRequest.BodyPublishers.ofString(
            s"""{"query":"select count(r_regionkey) as n from region; select n_name from nation","savePath":"$base","saveMode":"single"}"""))
          .build(),
        HttpResponse.BodyHandlers.ofString())
      val body = resp.body()
      assert(body.contains(""""Status":"ok""""), body)
      assert(body.contains(""""Vals":[["5"]]"""), body) // JSON reply still present
      assert(body.contains(s""""SavedPaths":["$dir/out.csv","$dir/out-2.csv"]"""), body.take(400))
      val f1 = new java.io.File(s"$dir/out.csv")
      val f2 = new java.io.File(s"$dir/out-2.csv")
      assert(f1.isFile && f2.isFile, "single-file mode must leave real .csv files")
      val lines1 = java.nio.file.Files.readAllLines(f1.toPath)
      assert(lines1.get(0) == "n" && lines1.get(1) == "5", lines1.toString)
      assert(java.nio.file.Files.readAllLines(f2.toPath).size == 26) // header + 25 nations

      // default mode: parallel part-file directory (the 100 TB path)
      val resp2 = client.send(
        HttpRequest.newBuilder(URI.create(s"http://localhost:$port/query/"))
          .POST(HttpRequest.BodyPublishers.ofString(
            s"""{"query":"select n_name from nation","savePath":"$dir/par.csv"}"""))
          .build(),
        HttpResponse.BodyHandlers.ofString())
      assert(resp2.body().contains(""""Status":"ok""""), resp2.body())
      val pdir = new java.io.File(s"$dir/par.csv")
      assert(pdir.isDirectory, "default save mode keeps parallel part files")
      assert(pdir.listFiles().exists(f => f.getName.startsWith("part-")), "part files expected")
    } finally server.stop()
  }

  test("a failed savePath save returns an error and leaves nothing cached") {
    val server = new QueryServer(GraftSession(spark, sf0001), port = 0)
    val port = server.start()
    try {
      // a regular file where the save needs a directory: unwritable
      // whoever runs the suite
      val blocker = freshDir("websave_fail").resolve("file")
      java.nio.file.Files.writeString(blocker, "x")
      val stmt = "select n_name from nation"
      val body = HttpClient.newHttpClient().send(
        HttpRequest.newBuilder(URI.create(s"http://localhost:$port/query/"))
          .POST(HttpRequest.BodyPublishers.ofString(
            s"""{"query":"$stmt","savePath":"$blocker/out.csv"}"""))
          .build(),
        HttpResponse.BodyHandlers.ofString()).body()
      assert(body.contains(""""Status":"error"""), body)
      // storageLevel looks the plan up in the shared cache manager
      assert(GraftSession(spark, sf0001).sql(stmt).storageLevel ==
        org.apache.spark.storage.StorageLevel.NONE,
        "the failed save's frame must not stay cached")
    } finally server.stop()
  }

  test("encrypt without password → need_password; with password → round-trip") {
    val server = new QueryServer(GraftSession(spark, sf0001), port = 0)
    val port = server.start()
    try {
      val client = HttpClient.newHttpClient()
      def post(body: String) = client.send(
        HttpRequest.newBuilder(URI.create(s"http://localhost:$port/query/"))
          .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
        HttpResponse.BodyHandlers.ofString()).body()
      val q = "select decrypt(encrypt(r_name)) as back from region"
      val without = post(s"""{"query":"$q"}""")
      assert(without.contains(""""Status":"need_password""""), without)
      val withPw = post(s"""{"query":"$q","password":"hunter2"}""")
      assert(withPw.contains(""""Status":"ok""""), withPw)
      assert(withPw.contains("AFRICA"), withPw) // decrypt(encrypt(x)) = x
      // a wrong 'password' is still a real run (nulls), never a prompt loop
      assert(!withPw.contains("need_password"))
    } finally server.stop()
  }

  test("progress totals never shrink while a burst is in flight (reset race)") {
    import org.apache.spark.sql.functions.{col, udf}
    val slow = udf { (x: Long) => Thread.sleep(300L); x }
    val proto = GraftSession(spark, sf0001)
      .register("slowburst", spark.range(8).repartition(4).select(slow(col("id")).as("v")))
    val server = new QueryServer(proto, port = 0)
    val port = server.start()
    try {
      val client = HttpClient.newHttpClient()
      def post() = HttpRequest.newBuilder(URI.create(s"http://localhost:$port/query/"))
        .POST(HttpRequest.BodyPublishers.ofString(
          """{"query":"select sum(v) as s from slowburst"}""")).build()
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration._
      import scala.concurrent.ExecutionContext.Implicits.global
      val done = new java.util.concurrent.atomic.AtomicInteger(0)
      val fs = (1 to 4).map(_ => Future {
        val b = client.send(post(), HttpResponse.BodyHandlers.ofString()).body()
        done.incrementAndGet(); b
      })
      // sample /progress/ while ALL four are still in flight: totals
      // must be monotone — a racy reset would clear them mid-burst
      var samples = List.empty[(Long, Long)]
      while (done.get() == 0) {
        val b = client.send(HttpRequest.newBuilder(
          URI.create(s"http://localhost:$port/progress/")).GET().build(),
          HttpResponse.BodyHandlers.ofString()).body()
        val total = """"TasksTotal":(\d+)""".r.findFirstMatchIn(b).map(_.group(1).toLong)
        val doneT = """"TasksDone":(\d+)""".r.findFirstMatchIn(b).map(_.group(1).toLong)
        for (t <- total; d <- doneT) samples = (d, t) :: samples
        Thread.sleep(15)
      }
      val bodies = Await.result(Future.sequence(fs), 120.seconds)
      bodies.foreach(b => assert(b.contains(""""Status":"ok""""), b))
      val ordered = samples.reverse
      ordered.sliding(2).foreach {
        case List((d1, t1), (d2, t2)) =>
          assert(t2 >= t1, s"TasksTotal shrank mid-burst: $ordered")
          assert(d2 >= d1, s"TasksDone shrank mid-burst: $ordered")
        case _ => ()
      }
    } finally server.stop()
  }

  test("IdleMonitor fires exactly at the timeout; requests reset the clock") {
    // injected clock: no sleeping, no real browser/process exit
    var idle = 0L
    var fired = 0
    val m = new IdleMonitor(120L, () => idle, () => fired += 1)
    idle = 0L; assert(!m.check() && fired == 0)
    idle = 119L; assert(!m.check() && fired == 0)
    idle = 120L; assert(m.check() && fired == 1)
    idle = 3L; assert(!m.check() && fired == 1) // activity resets — no refire
    // a live server: any request (here the console page) resets idle age
    val server = new QueryServer(GraftSession(spark, sf0001), port = 0)
    val port = server.start()
    try {
      Thread.sleep(50)
      val before = server.nanosSinceLastRequest
      HttpClient.newHttpClient().send(
        HttpRequest.newBuilder(URI.create(s"http://localhost:$port/")).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      assert(server.nanosSinceLastRequest < before,
        "a client request must reset the idle clock")
    } finally server.stop()
  }

  test("GET/POST /info/ — GUI session state roundtrip (reference infoHandler)") {
    val server = new QueryServer(GraftSession(spark, sf0001), port = 0)
    val port = server.start()
    try {
      val client = HttpClient.newHttpClient()
      def get() = client.send(
        HttpRequest.newBuilder(URI.create(s"http://localhost:$port/info/?info=getState"))
          .GET().build(), HttpResponse.BodyHandlers.ofString()).body()
      // fresh server: no state yet
      assert(get().contains(""""haveInfo":false"""), get())
      // a console posts its history; getState echoes it verbatim
      val state = """{"haveInfo":true,"history":[{"query":"select * from region"},{"query":"select top 2 n_name from nation"}]}"""
      val set = client.send(
        HttpRequest.newBuilder(URI.create(s"http://localhost:$port/info/?info=setState"))
          .POST(HttpRequest.BodyPublishers.ofString(state)).build(),
        HttpResponse.BodyHandlers.ofString())
      assert(set.body().contains(""""Status":"ok""""), set.body())
      assert(get() == state, get())
      // unknown mode is a structured error, not a crash
      val bad = client.send(
        HttpRequest.newBuilder(URI.create(s"http://localhost:$port/info/?info=nosuch"))
          .GET().build(), HttpResponse.BodyHandlers.ofString())
      assert(bad.body().contains("unknown info request"), bad.body())
    } finally server.stop()
  }

  test("console page wires websocket progress, password prompts, and history") {
    // the console is a static string — pin the wiring the browser
    // executes: socket discovery + connect, ws password answer,
    // history arrows backed by /info/ state restore
    val h = Console.html
    assert(h.contains("fetch('/socket/')"), "socket port discovery")
    assert(h.contains("new WebSocket("), "websocket connect")
    assert(h.contains("need_password"), "ws password prompt handling")
    assert(h.contains("Type:'password'"), "ws password answer frame")
    assert(h.contains("info=getState") && h.contains("info=setState"),
      "history persisted via /info/ session state")
    assert(h.contains("histGo"), "history arrows")
    assert(h.contains("toggleHelp"), "dialect help panel")
    assert(h.contains("fetch('/explain/'") && h.contains(">plan</button>"),
      "plan button wired to the explain endpoint")
    assert(h.contains("if(!ws)timer=setInterval(poll,400)"),
      "polling only as the no-socket fallback")
  }

  test("POST /stop/ responds (cancellation path wired)") {
    val server = new QueryServer(GraftSession(spark, sf0001), port = 0)
    val port = server.start()
    try {
      val client = HttpClient.newHttpClient()
      val req = HttpRequest.newBuilder(URI.create(s"http://localhost:$port/stop/"))
        .POST(HttpRequest.BodyPublishers.ofString("{}")).build()
      val resp = client.send(req, HttpResponse.BodyHandlers.ofString())
      assert(resp.body().contains("cancelled"))
    } finally server.stop()
  }
}
