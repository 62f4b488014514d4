package graft.streaming

import org.apache.spark.sql.streaming.Trigger
import graft.SparkSpec
import graft.core.Tables

/** Streaming ops driven synchronously: the batch of fixture parquet
  * feeds a streaming query via memory sink + processAllAvailable. */
class StreamingSpec extends SparkSpec {

  test("watermarked hourly window agg matches the batch plan") {
    val stream = StreamingOps.readEvents(spark, sf0001)
    // complete mode: a single AvailableNow batch never advances the
    // watermark past any window, so append would emit nothing here
    val q = StreamingOps.hourlyCounts(stream)
      .writeStream.outputMode("complete")
      .format("memory").queryName("hourly")
      .trigger(Trigger.AvailableNow())
      .start()
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("hourly")
    // every emitted row must match the batch computation exactly
    val batch = graft.queries.EventQueries.all
      .find(_.name == "e01_window_hourly").get.build(spark, sf0001)
      .withColumnRenamed("n", "n_b").withColumnRenamed("sum_value", "sv_b")
    val joined = streamed.join(batch, Seq("ws", "event_type"), "inner")
    assert(streamed.count() > 0)
    assert(joined.count() == streamed.count())
    val bad = joined.filter("CAST(n AS DOUBLE) != n_b").count()
    assert(bad == 0)
  }

  test("runToTable refuses a sink past the row cap, returns one within it") {
    // the gate scaffold's collect is safe only because every gate's
    // sink is aggregate-sized — the cap turns that convention into a
    // loud contract (VERDICT r8 design note)
    val stream = StreamingOps.readEvents(spark, sf0001)
      .select(org.apache.spark.sql.functions.col("event_id"))
    val e = intercept[IllegalArgumentException] {
      StreamingOps.runToTable(spark, stream, "append", "graft_cap_", maxRows = 1)
    }
    assert(e.getMessage.contains("cap"))
    val ok = StreamingOps.runToTable(spark, stream, "append", "graft_cap_")
    assert(ok.count() > 1 && ok.count() <= StreamingOps.RunToTableMaxRows)
  }

  test("runToTable keeps its checkpoint in the work dir and removes it") {
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    def temporary(): Set[String] =
      Option(tmp.list()).fold(Set.empty[String])(_.filter(_.startsWith("temporary-")).toSet)
    val work = new java.io.File(graft.core.Sessions.workDir(spark))
    def checkpoints(): Set[String] =
      Option(work.list()).fold(Set.empty[String])(_.filter(_.startsWith("checkpoint_")).toSet)
    import org.apache.spark.sql.functions.{col, udf}
    val stream = StreamingOps.readEvents(spark, sf0001).groupBy(col("event_type")).count()
    val before = temporary()
    val out = StreamingOps.runToTable(spark, stream, "complete", "graft_ckpt_")
    assert(out.count() > 0)
    // a failing query is the case where Spark keeps a temporary
    // checkpoint it made itself
    val boom = udf { (s: String) => if (s != null) throw new IllegalStateException("boom"); s }
    val failing = StreamingOps.readEvents(spark, sf0001).select(boom(col("event_type")).as("t"))
    intercept[org.apache.spark.sql.streaming.StreamingQueryException](
      StreamingOps.runToTable(spark, failing, "append", "graft_ckpt_"))
    assert(temporary() -- before == Set.empty)
    assert(checkpoints() == Set.empty)
  }

  test("watermarked sliding windows match the batch sliding plan") {
    val stream = StreamingOps.readEvents(spark, sf0001)
    val q = StreamingOps.slidingCounts(stream)
      .writeStream.outputMode("complete")
      .format("memory").queryName("sliding")
      .trigger(Trigger.AvailableNow())
      .start()
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("sliding")
    val batch = graft.queries.EventQueries.slidingCounts(
        Tables(spark, sf0001, "events"))
      .withColumnRenamed("n", "n_b").withColumnRenamed("sum_value", "sv_b")
    val joined = streamed.join(batch, Seq("ws", "event_type"), "inner")
    assert(streamed.count() > 0)
    assert(joined.count() == streamed.count())
    assert(joined.count() == batch.count(),
      "stream must emit every sliding window the batch plan produces")
    assert(joined.filter("CAST(n AS DOUBLE) != n_b").count() == 0)
    assert(joined.filter("CAST(sum_value AS DOUBLE) != sv_b").count() == 0)
  }

  test("chunking streams statelessly: per-micro-batch chunks equal the batch chunks") {
    // docChunks is pure per-row algebra (tokenize → explode → slice),
    // so it runs under Structured Streaming with NO state and NO
    // watermark — the online RAG-ingest path. Append mode emits every
    // chunk of every arriving doc exactly once.
    val q = graft.queries.TextQueries.docChunks(
        StreamingOps.readDocuments(spark, sf0001)
          .select(org.apache.spark.sql.functions.col("doc_id"),
            org.apache.spark.sql.functions.col("text")))
      .writeStream.outputMode("append")
      .format("memory").queryName("chunks_stream")
      .trigger(Trigger.AvailableNow())
      .start()
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("chunks_stream")
    val batch = graft.queries.TextQueries.docChunks(
      Tables(spark, sf0001, "documents")
        .select(org.apache.spark.sql.functions.col("doc_id"),
          org.apache.spark.sql.functions.col("text")))
    assert(streamed.count() > 0)
    assert(streamed.exceptAll(batch).count() == 0 &&
      batch.exceptAll(streamed).count() == 0,
      "streamed chunks must equal the batch chunks exactly")
  }

  test("code signals stream statelessly like chunking") {
    val q = graft.queries.TextQueries.codeSignals(
        StreamingOps.readDocuments(spark, sf0001)
          .select(org.apache.spark.sql.functions.col("doc_id"),
            org.apache.spark.sql.functions.col("text")))
      .writeStream.outputMode("append")
      .format("memory").queryName("signals_stream")
      .trigger(Trigger.AvailableNow())
      .start()
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("signals_stream")
    val batch = graft.queries.TextQueries.codeSignals(
      Tables(spark, sf0001, "documents")
        .select(org.apache.spark.sql.functions.col("doc_id"),
          org.apache.spark.sql.functions.col("text")))
    assert(streamed.count() > 0)
    assert(streamed.exceptAll(batch).count() == 0 &&
      batch.exceptAll(streamed).count() == 0)
  }

  test("continuous shard landing assigns every doc its batch shard") {
    val out = s"$suiteDir/stream_shards"
    val ckpt = s"$suiteDir/stream_shards_ckpt"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(out))
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ckpt))
    val q = StreamingOps.streamShards(
      StreamingOps.readDocuments(spark, sf0001)
        .select(org.apache.spark.sql.functions.col("doc_id")),
      "doc_id", 4, out, ckpt)
    q.processAllAvailable(); q.stop()
    val back = spark.read.parquet(out)
    val docs = Tables(spark, sf0001, "documents")
    assert(back.count() == docs.count())
    // every row landed in the shard the batch layout assigns
    import org.apache.spark.sql.functions._
    assert(back.filter(
      ((col("doc_id") % lit(1000000L)) * lit(2654435761L)) % lit(4L)
        =!= col("shard")).count() == 0)
    // exactly-once: a second AvailableNow pass over the same source
    // appends nothing (the checkpoint remembers the processed files)
    val q2 = StreamingOps.streamShards(
      StreamingOps.readDocuments(spark, sf0001)
        .select(org.apache.spark.sql.functions.col("doc_id")),
      "doc_id", 4, out, ckpt)
    q2.processAllAvailable(); q2.stop()
    assert(spark.read.parquet(out).count() == docs.count(),
      "replaying the same source must not duplicate rows")
  }

  test("streaming IVF assignment is bit-identical to the batch upsert (v21)") {
    import org.apache.spark.sql.functions._
    val cents = graft.queries.VectorQueries.collectUpsertCentroids(spark, sf0001)
    val sink = "graft_ivf_stream_spec"
    val q = StreamingOps.ivfAssign(
        StreamingOps.readEmbeddings(spark, sf0001)
          .filter(col("vec_id") % 7 === 3)
          .select(col("vec_id"), col("embedding")), cents)
      .writeStream.outputMode("append")
      .format("memory").queryName(sink)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.processAllAvailable(); q.stop()
    val streamed = spark.table(sink).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).sortBy(_._1)
    val batch = graft.queries.VectorQueries.ivfUpsert(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).sortBy(_._1)
    assert(streamed.nonEmpty)
    // cell AND cosine double, bit-for-bit — the literal-centroid fold
    // replays the windowed argmax exactly
    assert(streamed.toSeq == batch.toSeq)
  }

  test("streaming session windows match the batch session_window plan") {
    val stream = StreamingOps.readEvents(spark, sf0001)
    // complete mode for the same reason as the hourly test: one
    // AvailableNow batch never advances the watermark past a session
    val q = StreamingOps.sessionCounts(stream)
      .writeStream.outputMode("complete")
      .format("memory").queryName("sessions_stream")
      .trigger(Trigger.AvailableNow())
      .start()
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("sessions_stream")
    val batch = graft.queries.EventQueries.sessionWindows(
      Tables(spark, sf0001, "events"))
      .withColumnRenamed("n_events", "n_b")
      .withColumnRenamed("sum_value", "sv_b")
    val joined = streamed.join(batch, Seq("user_id", "s_start", "s_end"), "inner")
    assert(streamed.count() > 0)
    assert(joined.count() == streamed.count(),
      "every streamed session must exist in the batch result with identical bounds")
    assert(joined.count() == batch.count(),
      "every batch session must be emitted by the stream")
    assert(joined.filter("n_events != n_b OR sum_value != sv_b").count() == 0)
  }

  test("realtime CSV export writes streamed rows to disk") {
    val out = freshDir("stream")
    val q = StreamingOps.saveRealtimeCsv(
      StreamingOps.readEvents(spark, sf0001)
        .select("event_id", "ts", "event_type", "value"),
      s"$out/rows", s"$out/ckpt")
    q.processAllAvailable(); q.stop()
    val written = spark.read.option("header", "true").csv(s"$out/rows")
    assert(written.count() == Tables(spark, sf0001, "events").count())
  }

  test("streaming dedup keeps one row per key within the watermark") {
    import org.apache.spark.sql.functions._
    // events stream with a synthetic duplicate-heavy key (value bucket)
    val stream = StreamingOps.readEvents(spark, sf0001)
      .withColumn("k", (col("event_id") % 50).cast("long"))
    val q = StreamingOps.dedupFirstSeen(stream, "ts", "2 hours", Seq("k"))
      .writeStream.outputMode("append")
      .format("memory").queryName("dedup_stream")
      .trigger(Trigger.AvailableNow())
      .start()
    q.processAllAvailable(); q.stop()
    val got = spark.table("dedup_stream")
    assert(got.count() > 0)
    // never more than one row per key
    val dupKeys = got.groupBy("k").count().filter("count > 1").count()
    assert(dupKeys == 0, s"$dupKeys keys emitted more than once")
    assert(got.count() <= 50)
  }

  test("streaming near-dup dedup keeps one doc per minhash signature") {
    import org.apache.spark.sql.functions._
    import graft.functions.TextHashExprs._
    // docs as a stream: re-use the events file source for timestamps,
    // attach duplicate-heavy text (5 distinct payloads + exact copies)
    val stream = StreamingOps.readEvents(spark, sf0001)
      .withColumn("text", concat(lit("payload text number "),
        (col("event_id") % 5).cast("string"),
        lit(" with enough words to shingle properly here")))
    val q = StreamingOps.dedupNearDup(stream, "ts", "2 hours")
      .writeStream.outputMode("append")
      .format("memory").queryName("neardup_stream")
      .trigger(Trigger.AvailableNow())
      .start()
    q.processAllAvailable(); q.stop()
    val got = spark.table("neardup_stream")
    assert(got.count() > 0 && got.count() <= 5, s"got ${got.count()}")
    // survivors carry distinct signatures — matches the batch signature
    val sigs = got.withColumn("sig",
        shingle_minhash(token_hashes(col("text")), 3, 8))
      .select("sig").distinct().count()
    assert(sigs == got.count())
  }

  test("streaming as-of join matches the batch operator click-for-click") {
    implicit val sp: org.apache.spark.sql.SparkSession = spark
    import org.apache.spark.sql.functions._
    val ev = Tables(spark, sf0001, "events")
    val got = StreamingOps.asofLatest(ev).collect()
      .map(m => m.event_id -> ((m.p_ts_us, m.p_value))).toMap
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("ts"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("value"))
    val want = graft.operators.AsofJoin
      .backward(clicks, purchases, "user_id", "ts", Seq("ts", "value"), prefix = "p_")
      .select(col("event_id"), unix_micros(col("p_ts")).as("p_us"), col("p_value"))
      .collect()
      .map(r => r.getLong(0) -> ((
        if (r.isNullAt(1)) None else Some(r.getLong(1)),
        if (r.isNullAt(2)) None else Some(r.getDouble(2))))).toMap
    assert(got.size == want.size && got.nonEmpty)
    got.foreach { case (id, m) =>
      assert(want(id) == m, s"click $id: state $m vs batch ${want(id)}")
    }
  }

  test("streaming as-of join honors the invariant across out-of-order batches") {
    implicit val sp: org.apache.spark.sql.SparkSession = spark
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val ms = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Long, Long, String, Double)]
    val df = ms.toDF.toDF("event_id", "user_id", "us", "event_type", "value")
      .withColumn("ts", timestamp_micros(col("us")))
    val q = StreamingOps.asofLatest(df)
      .writeStream.outputMode("append")
      .format("memory").queryName("asof_ooo").start()
    ms.addData((1L, 1L, 100L, "purchase", 5.0))
    q.processAllAvailable()
    // a LATE click behind the stored purchase must not match forward;
    // a later click matches normally
    ms.addData((2L, 1L, 50L, "click", 0.0), (3L, 1L, 150L, "click", 0.0))
    q.processAllAvailable()
    // a LATE purchase older than the state must not regress it
    ms.addData((4L, 1L, 80L, "purchase", 7.0))
    q.processAllAvailable()
    ms.addData((5L, 1L, 160L, "click", 0.0))
    q.processAllAvailable(); q.stop()
    val got = spark.table("asof_ooo").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(3)) None else Some(r.getLong(3))))
      .toMap
    assert(got(2L) === None, "late click matched a future purchase")
    assert(got(3L) === Some(100L))
    assert(got(5L) === Some(100L), "late purchase regressed the state")
  }

  test("streaming funnel final stages reproduce the batch funnel rollup (e07)") {
    implicit val sp: org.apache.spark.sql.SparkSession = spark
    import org.apache.spark.sql.functions._
    val ev = Tables(spark, sf0001, "events")
    // last emitted stage per user — reduce by the monotonic emission
    // counter, NEVER by ts (a cross-batch demotion carries the late
    // event's OLDER ts; seq is the only safe ordering key)
    val finals = StreamingOps.funnelStages(ev).collect()
      .groupBy(_.user_id)
      .map { case (u, xs) => u -> xs.maxBy(_.seq).stage }
    val got = (
      finals.count(_._2 >= 1).toLong,
      finals.count(_._2 >= 2).toLong,
      finals.count(_._2 == 3).toLong)
    val want = graft.queries.Registry.queries("e07_funnel")(spark, sf0001)
      .collect().head
    assert(got == ((want.getLong(0), want.getLong(1), want.getLong(2))),
      s"streamed $got vs batch $want")
  }

  test("streaming funnel demotes on a late out-of-order event") {
    implicit val sp: org.apache.spark.sql.SparkSession = spark
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val ms = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Long, String)]
    val df = ms.toDF.toDF("user_id", "us", "event_type")
      .withColumn("ts", timestamp_micros(col("us")))
    val q = StreamingOps.funnelStages(df)
      .writeStream.outputMode("append")
      .format("memory").queryName("funnel_ooo").start()
    // full funnel in order → stage reaches 3
    ms.addData((1L, 100L, "view"), (1L, 200L, "click"), (1L, 300L, "purchase"))
    q.processAllAvailable()
    // a LATE purchase at ts=150 lowers first-purchase below the first
    // click → the conversion no longer holds → demote to stage 2
    ms.addData((1L, 150L, "purchase"))
    q.processAllAvailable(); q.stop()
    // memory sink appends per micro-batch, so collected order is
    // ARRIVAL order — the late event's older ts must not reorder it
    val rows = spark.table("funnel_ooo").collect()
      .map(r => (r.getInt(1), r.getLong(2))) // (stage, seq)
    val stages = rows.map(_._1).toSeq
    assert(stages.last == 2, s"expected demotion to 2, got $stages")
    assert(stages.contains(3), s"expected an interim stage-3 emission, got $stages")
    // the demotion (older ts!) carries the HIGHEST seq — reducing by
    // seq across batches reconstructs the converged stage
    assert(rows.maxBy(_._2)._1 == 2, s"seq ordering broken: $rows")
  }

  test("streaming CMS heavy-hitters grid is byte-identical to the batch sketch") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Long]
    val q = StreamingOps.cmsCounts(ms.toDF.withColumnRenamed("value", "k"), "k")
      .writeStream.outputMode("complete")
      .format("memory").queryName("cms_stream")
      .start()
    // two batches: the grid must merge across the boundary
    ms.addData(Seq.tabulate(200)(i => (i % 7).toLong): _*)
    q.processAllAvailable()
    ms.addData(Seq.tabulate(100)(i => (i % 3).toLong): _*)
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("cms_stream").head().getAs[Array[Byte]]("cms")
    val all = Seq.tabulate(200)(i => (i % 7).toLong) ++
      Seq.tabulate(100)(i => (i % 3).toLong)
    val batch = all.toDF("k").agg(graft.core.Cms.agg(col("k")).as("cms"))
      .head().getAs[Array[Byte]]("cms")
    assert(java.util.Arrays.equals(streamed, batch),
      "streamed CMS grid differs from the batch sketch")
    // and the probe path reads it: key 0 counted in both batches
    val cms = org.apache.spark.util.sketch.CountMinSketch.readFrom(streamed)
    val est0 = graft.core.CmsEstimate.probeLong(cms, 0L)
    assert(est0 >= 63L && est0 <= 70L, s"est0 = $est0") // exact 29+34=63
  }

  test("streaming quality calibration matches the batch operator row-for-row") {
    import org.apache.spark.sql.functions._
    val docs = Tables(spark, sf0001, "documents")
      .select(col("doc_id"), col("source"), col("text"))
    def asMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2),
        r.getDouble(3), r.getLong(4)))).toMap
    val batch = asMap(graft.queries.TextQueries.sourceQualityCalibration(docs))
    // the same frozen-CDF assignment the t43 gate streams — here the
    // batch plan over the same rows; the gate proves the streaming
    // execution, this pins builder-level stream ≡ batch equality
    val frozen = graft.queries.TextQueries.sourceCdfOf(
      graft.queries.TextQueries.qualityBuckets(docs))
    val assigned = asMap(graft.queries.TextQueries.calibrationAssign(
      docs, broadcast(frozen)))
    assert(batch == assigned)
    val streamed = asMap(StreamingOps.runToTable(spark,
      graft.queries.TextQueries.calibrationAssign(
        StreamingOps.readDocuments(spark, sf0001)
          .select(col("doc_id"), col("source"), col("text")),
        broadcast(frozen)),
      "append", "graft_t43spec_sink_"))
    assert(streamed == batch,
      s"stream diverged on ${streamed.keySet.diff(batch.keySet).take(3)}...")
  }

  test("streaming drift counters reproduce the batch PSI bit-for-bit (x14/x15)") {
    import org.apache.spark.sql.functions._
    val e = Tables(spark, sf0001, "embeddings")
      .select(col("vec_id"), col("embedding"))
    def asMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getLong(0) -> ((r.getDouble(1), r.getBoolean(2)))).toMap
    val batch = asMap(graft.queries.ApproxQueries.embeddingDrift(
      e.filter(col("vec_id") % 2 === 0).select(col("embedding")),
      e.filter(col("vec_id") % 2 === 1).select(col("embedding"))))
    val frozen = graft.queries.ApproxQueries.driftBinned(
      e.filter(col("vec_id") % 2 === 0).select(col("embedding")))
    val streamed = asMap(graft.queries.ApproxQueries.psiFromCounts(frozen,
      StreamingOps.runToTable(spark,
        graft.queries.ApproxQueries.driftBinned(
          StreamingOps.readEmbeddings(spark, sf0001)
            .filter(col("vec_id") % 2 === 1).select(col("embedding"))),
        "complete", "graft_x15spec_sink_")))
    assert(streamed == batch,
      "continuous drift counters must replay the batch audit exactly")
  }

  test("streaming semantic dedup ≡ batch rule, and stream-dropped ⊆ batch-dropped") {
    import org.apache.spark.sql.functions._
    import graft.queries.{DedupQueries, VectorQueries}
    val e = Tables(spark, sf0001, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val centers = VectorQueries.kmeansFit(e, 4, 2)
    val keeps = DedupQueries.semanticKeepSetFrom(
      VectorQueries.kmeansAssign(e, centers), 0.2)
    // the builder runs identically on a batch frame: the gate's
    // streamed result must equal it row-for-row on the same slice
    val slice = e.filter(col("vec_id") % 7 === 3)
    val batch = DedupQueries.semanticDedupStream(slice, centers, keeps, 0.2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    val streamed = graft.queries.Registry.queries("d21_semantic_stream")(
      spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    assert(streamed.nonEmpty && streamed == batch, "stream must equal batch")
    // contract vs d08: a batch-KEPT vector is never dominated by the
    // keep-set (keep-set pairs are mutually non-dominating), so the
    // frozen-keep-set check can only drop vectors d08 also drops
    val d08 = DedupQueries.semanticDedup(e, 0.2)
      .filter(col("vec_id") % 7 === 3).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    streamed.foreach { case (id, _, keep) =>
      if (keep == 0L)
        assert(d08(id) == 0L, s"stream dropped $id but batch d08 kept it")
      if (d08(id) == 1L)
        assert(keep == 1L, s"batch-kept $id must stay kept in the stream")
    }
    // and the streamed slice keeps at least one representative
    assert(streamed.exists(_._3 == 1L))
  }

  test("streaming index upsert lands the same files content as the batch upsert") {
    import org.apache.spark.sql.functions._
    import graft.operators.IvfIndex
    import graft.queries.VectorQueries
    val e = Tables(spark, sf0001, "embeddings")
      .select(col("vec_id"), col("embedding"))
    // batch reference: v47's shape on a fresh layout
    val bPath = s"$suiteDir/spec_sup_batch"
    val centers = IvfIndex.build(e, bPath)
    val arrivals = e.filter(col("vec_id") % 7 === 3)
      .select((col("vec_id") + lit(1000000L)).as("vec_id"), col("embedding"))
    IvfIndex.upsert(spark, bPath, VectorQueries.kmeansAssign(arrivals, centers))
    val batch = IvfIndex.read(spark, bPath).collect()
      .map(r => (r.getLong(0), r.getLong(2))).sorted.toSeq
    // the gate runs the stream (build + foreachBatch upsert) itself
    val streamed = graft.queries.Registry.queries("v48_stream_upsert")(
      spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(streamed.nonEmpty && streamed == batch,
      "continuous upsert must maintain the same index as the batch path")
    // and the arrivals actually landed (not just the base corpus)
    assert(streamed.exists(_._1 >= 1000000L))
    // the `_centers` sidecar is maintained THROUGH the stream: after
    // the micro-batches, its refresh means equal a fresh batch scan of
    // the index bit-for-bit (each foreachBatch upsert recomputes the
    // touched cells' means), so monitoring/serving never re-aggregate
    val sPath = graft.core.Sessions.workPath(spark, "ivf_sup", sf0001)
    val side = IvfIndex.readSidecar(spark, sPath).get
    assert(!side.pendingAppends && side.staleCells.isEmpty)
    val (means, _) = VectorQueries.refreshedCentersWithCounts(
      IvfIndex.read(spark, sPath))
    assert(side.refresh.map(_._1) == means.map(_._1))
    side.refresh.zip(means).foreach { case ((_, a), (_, b)) =>
      assert(a.sameElements(b),
        "streamed sidecar refresh means must equal a batch refresh bit-for-bit")
    }
  }

  test("streaming upsert into a PQ index: codes ride the stream, ≡ batch encode") {
    import org.apache.spark.sql.functions._
    import graft.operators.IvfIndex
    import graft.queries.VectorQueries
    val e = Tables(spark, sf0001, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val path = s"$suiteDir/spec_sup_pq"
    val centers = IvfIndex.build(e, path, pq = true)
    val side = IvfIndex.readSidecar(spark, path).get
    // assignment AND encoding are stateless projections, so the same
    // withCodes shape runs unchanged over the streaming frame
    val arrivals = graft.streaming.StreamingOps.readEmbeddings(spark, sf0001)
      .filter(col("vec_id") % 7 === 3)
      .select((col("vec_id") + lit(1000000L)).as("vec_id"), col("embedding"))
    val coded = IvfIndex.withCodes(
      VectorQueries.kmeansAssign(arrivals, centers), side.serving, side.books)
    val q = coded.writeStream
      .foreachBatch((batch: org.apache.spark.sql.DataFrame, _: Long) =>
        IvfIndex.upsert(spark, path, batch))
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.processAllAvailable(); q.stop()
    val stored = IvfIndex.readFull(spark, path)
      .filter(col("vec_id") >= 1000000L)
      .select(col("vec_id"), col("pq")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Byte](1).toSeq).toMap
    val direct = IvfIndex.withCodes(
      VectorQueries.kmeansAssign(
        e.filter(col("vec_id") % 7 === 3)
          .select((col("vec_id") + lit(1000000L)).as("vec_id"), col("embedding")),
        centers), side.serving, side.books)
      .select(col("vec_id"), col("pq")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Byte](1).toSeq).toMap
    assert(stored.nonEmpty && stored == direct,
      "streamed codes must equal the batch encode byte-for-byte")
  }

  test("streaming appendAndMaintain: the compact trigger fires mid-stream, counts stay bounded") {
    // the v51 continuous-ingest loop: each micro-batch lands O(batch)
    // files via append, and the bounded-file-count trigger compacts
    // when any cell crosses the threshold — so a long-running stream's
    // file population (and readLatest cost) stays bounded WITHOUT a
    // manual maintenance schedule. The pin: the trigger actually fires
    // MID-stream (not only at a final manual compact), every
    // post-batch file count stays ≤ the bound, and the merged read is
    // exact afterwards.
    import org.apache.spark.sql.functions._
    import graft.operators.IvfIndex
    import graft.queries.VectorQueries
    val e = Tables(spark, sf0001, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val path = s"$suiteDir/spec_sam_idx"
    val centers = IvfIndex.build(e, path)
    // stage 6 pre-assigned arrival batches as one file each, so
    // maxFilesPerTrigger=1 replays them as 6 distinct micro-batches
    val src = s"$suiteDir/spec_sam_src"
    val dir = java.nio.file.Paths.get(src)
    if (java.nio.file.Files.isDirectory(dir)) {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(dir).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.delete)
    }
    (0 until 6).foreach { i =>
      VectorQueries.kmeansAssign(
          e.filter(col("vec_id") % 5 === 1)
            .select((col("vec_id") + lit((i + 1) * 1000000L)).as("vec_id"),
              col("embedding")),
          centers)
        .coalesce(1).write.mode("append").parquet(src)
    }
    val bound = 2
    val fired = new java.util.concurrent.atomic.AtomicInteger(0)
    val maxCounts = new java.util.concurrent.ConcurrentLinkedQueue[Integer]()
    val q = spark.readStream.schema(spark.read.parquet(src).schema)
      .option("maxFilesPerTrigger", "1").parquet(src)
      .writeStream
      .foreachBatch((batch: org.apache.spark.sql.DataFrame, _: Long) => {
        val compacted = IvfIndex.appendAndMaintain(spark, path, batch,
          maxFilesPerCell = bound)
        if (compacted.nonEmpty) fired.incrementAndGet()
        maxCounts.add(IvfIndex.cellFileCounts(spark, path).values.max)
        ()
      })
      .trigger(Trigger.AvailableNow())
      .start()
    q.processAllAvailable(); q.stop()
    import scala.jdk.CollectionConverters._
    val seen = maxCounts.iterator().asScala.map(_.intValue).toSeq
    assert(seen.size == 6, s"expected 6 micro-batches, saw ${seen.size}")
    assert(fired.get >= 2,
      s"the trigger must fire mid-stream when a cell crosses the bound, " +
        s"fired=${fired.get}")
    assert(seen.forall(_ <= bound),
      s"post-maintenance file counts must stay bounded, saw $seen")
    // exactness through the whole stream: base ∪ every batch, once each
    val batchN = e.filter(col("vec_id") % 5 === 1).count()
    assert(IvfIndex.readLatest(spark, path).count() == e.count() + 6 * batchN)
    // and the sidecar is consistent with what landed
    val side = IvfIndex.readSidecar(spark, path).get
    assert(side.maxSeq == 6L, "each micro-batch lands at its own seq version")
  }

  test("stateful sessionization emits per-user session counts") {
    implicit val sp: org.apache.spark.sql.SparkSession = spark
    val batchEvents = Tables(spark, sf0001, "events")
    val sessions = StreamingOps.sessionize(batchEvents).collect()
    assert(sessions.nonEmpty)
    assert(sessions.forall(s => s.n_sessions >= 1 && s.n_events >= s.n_sessions))
    // cross-check one user against the window-based batch rule
    val e02 = graft.queries.EventQueries.all.find(_.name == "e02_sessions").get
      .build(spark, sf0001).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    sessions.foreach { s =>
      assert(e02(s.user_id) == s.n_sessions,
        s"user ${s.user_id}: state ${s.n_sessions} vs batch ${e02(s.user_id)}")
    }
  }
  test("serveOnline: streamed micro-batch serving ≡ the one-shot batch serve") {
    // per-query independence against a FROZEN index makes micro-batch
    // boundaries invisible: three file-split batches through
    // StreamingOps.serveOnline must produce byte-identical rows to one
    // batch servePq over the union
    import org.apache.spark.sql.functions._
    import graft.operators.IvfIndex
    val e = Tables(spark, sf0001, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val path = s"$suiteDir/spec_serveonline_idx"
    IvfIndex.build(e, path, pq = true)
    val side = IvfIndex.readSidecar(spark, path).get
    val q0 = e.filter(col("vec_id") % 7 === 2)
      .select((col("vec_id") + lit(1000000L)).as("q_id"),
        col("embedding").as("q_emb"))
    def wipe(p: String): Unit = {
      val d = java.nio.file.Paths.get(p)
      if (java.nio.file.Files.isDirectory(d)) {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(d).iterator().asScala.toSeq.reverse
          .foreach(java.nio.file.Files.delete)
      }
    }
    val qdir = s"$suiteDir/spec_serveonline_q"
    val out = s"$suiteDir/spec_serveonline_out"
    wipe(qdir); wipe(out)
    (0 until 3).foreach(i => q0.filter(pmod(col("q_id"), lit(3)) === i)
      .coalesce(1).write.mode("append").parquet(qdir))
    val stream = spark.readStream.schema(q0.schema)
      .option("maxFilesPerTrigger", "1").parquet(qdir)
    val sq = graft.streaming.StreamingOps.serveOnline(
      spark, stream, path, k = 5, shortlist = 20, out)
    sq.processAllAvailable(); sq.stop()
    val streamed = spark.read.parquet(out)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getLong(3))).sorted.toSeq
    val panel = q0.select(col("q_id"), col("q_emb"),
      graft.functions.VectorExprs.nearest_centroid(
        col("q_emb"), side.refresh, side.dim).as("cell"))
    val batch = IvfIndex.servePq(IvfIndex.readFull(spark, path), q0, panel,
        5, 20, side.serving, side.books, cellRows = side.counts)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getLong(3))).sorted.toSeq
    assert(streamed.nonEmpty && streamed == batch,
      "streamed serving must be bit-identical to the batch serve")
  }

  test("serveOnline refuses a pending-appends index loudly") {
    import org.apache.spark.sql.functions._
    import graft.operators.IvfIndex
    import graft.queries.VectorQueries
    val e = Tables(spark, sf0001, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val path = s"$suiteDir/spec_serveonline_pending"
    val centers = IvfIndex.build(e, path, pq = true)
    // leave un-compacted appended rows behind
    val side0 = IvfIndex.readSidecar(spark, path).get
    val arrivals = IvfIndex.withCodes(
      VectorQueries.kmeansAssign(
        e.limit(10).select((col("vec_id") + lit(2000000L)).as("vec_id"),
          col("embedding")), centers),
      side0.serving, side0.books)
    IvfIndex.append(spark, path, arrivals)
    val stream = spark.readStream
      .schema(e.select(col("vec_id").as("q_id"),
        col("embedding").as("q_emb")).schema)
      .parquet(s"$suiteDir/spec_serveonline_q")
    val err = intercept[IllegalArgumentException] {
      graft.streaming.StreamingOps.serveOnline(
        spark, stream, path, 5, 20, s"$suiteDir/spec_serveonline_out2")
    }
    assert(err.getMessage.contains("un-compacted appends"))
  }

  test("serveOnline fails loudly when the index mutates mid-stream") {
    // the round-14 weak item: the pendingAppends guard ran once at
    // stream start, but readFull does no version resolution — an
    // append committed between micro-batches used to serve superseded
    // duplicate rows silently. Now every micro-batch re-verifies the
    // sidecar fingerprint it started with and refuses loudly.
    import org.apache.spark.sql.functions._
    import graft.operators.IvfIndex
    import graft.queries.VectorQueries
    val e = Tables(spark, sf0001, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val path = s"$suiteDir/spec_serveonline_mut"
    val centers = IvfIndex.build(e, path, pq = true)
    val side = IvfIndex.readSidecar(spark, path).get
    val q0 = e.filter(col("vec_id") % 7 === 2)
      .select((col("vec_id") + lit(1000000L)).as("q_id"),
        col("embedding").as("q_emb"))
    def wipe(p: String): Unit = {
      val d = java.nio.file.Paths.get(p)
      if (java.nio.file.Files.isDirectory(d)) {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(d).iterator().asScala.toSeq.reverse
          .foreach(java.nio.file.Files.delete)
      }
    }
    val qdir = s"$suiteDir/spec_serveonline_mut_q"
    val out = s"$suiteDir/spec_serveonline_mut_out"
    wipe(qdir); wipe(out)
    // batch 1's file exists at start; a ProcessingTime trigger keeps
    // the stream alive for files landing AFTER the index mutation
    q0.limit(5).coalesce(1).write.mode("overwrite").parquet(qdir)
    val stream = spark.readStream.schema(q0.schema)
      .option("maxFilesPerTrigger", "1").parquet(qdir)
    val sq = graft.streaming.StreamingOps.serveOnline(
      spark, stream, path, k = 5, shortlist = 20, out,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(50L))
    sq.processAllAvailable() // micro-batch 1 served against the frozen index
    val served1 = spark.read.parquet(out).count()
    assert(served1 > 0, "batch 1 must serve before the mutation")
    // commit an append mid-stream: new sidecar generation, superseded
    // rows possible — the next micro-batch must refuse, not serve raw
    val arrivals = IvfIndex.withCodes(
      VectorQueries.kmeansAssign(
        e.limit(10).select((col("vec_id") + lit(2000000L)).as("vec_id"),
          col("embedding")), centers),
      side.serving, side.books)
    IvfIndex.append(spark, path, arrivals)
    q0.limit(3).coalesce(1).write.mode("append").parquet(qdir)
    val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      sq.processAllAvailable()
      sq.awaitTermination(30000L)
    }
    def chain(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(x => Option(x.getMessage).getOrElse("")).toSeq
    assert(chain(err).exists(_.contains("FROZEN")),
      s"expected the frozen-index refusal, got: ${chain(err).mkString(" | ")}")
    // and nothing beyond batch 1's output landed durably
    assert(spark.read.parquet(out).count() == served1,
      "the refused micro-batch must not land output")
    sq.stop()
  }

  test("serveOnline followIndex serves each batch against the latest compacted generation") {
    // the follow-the-maintenance mode: instead of failing on a
    // mid-stream commit, each micro-batch re-resolves the sidecar
    // (fingerprint-validated cache — one file stat when unchanged)
    // and serves against the latest COMMITTED, COMPACTED generation;
    // a generation with pending appends still refuses exactly like
    // the statement path. Pin: a batch landing AFTER an
    // append+compact serves bit-identically to the one-shot batch
    // serve against the new generation, and a later un-compacted
    // append fails the stream loudly.
    import org.apache.spark.sql.functions._
    import graft.operators.IvfIndex
    import graft.queries.VectorQueries
    val e = Tables(spark, sf0001, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val path = s"$suiteDir/spec_serveonline_follow"
    val centers = IvfIndex.build(e, path, pq = true)
    val side0 = IvfIndex.readSidecar(spark, path).get
    def wipe(p: String): Unit = {
      val d = java.nio.file.Paths.get(p)
      if (java.nio.file.Files.isDirectory(d)) {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(d).iterator().asScala.toSeq.reverse
          .foreach(java.nio.file.Files.delete)
      }
    }
    val qdir = s"$suiteDir/spec_serveonline_follow_q"
    val out = s"$suiteDir/spec_serveonline_follow_out"
    wipe(qdir); wipe(out)
    val q1 = e.filter(col("vec_id") % 7 === 2)
      .select((col("vec_id") + lit(1000000L)).as("q_id"),
        col("embedding").as("q_emb")).limit(5)
    q1.coalesce(1).write.mode("overwrite").parquet(qdir)
    val stream = spark.readStream.schema(q1.schema)
      .option("maxFilesPerTrigger", "1").parquet(qdir)
    val sq = graft.streaming.StreamingOps.serveOnline(
      spark, stream, path, k = 5, shortlist = 20, out,
      followIndex = true,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(50L),
      pendingGraceMs = 1500L)
    sq.processAllAvailable()
    assert(spark.read.parquet(out).count() > 0,
      "batch 1 must serve against the starting generation")
    // mutate mid-stream: append NEW vectors, then compact — a fresh
    // committed, compacted generation the stream must follow
    val arrivals = IvfIndex.withCodes(
      VectorQueries.kmeansAssign(
        e.limit(10).select((col("vec_id") + lit(2000000L)).as("vec_id"),
          col("embedding")), centers),
      side0.serving, side0.books)
    IvfIndex.append(spark, path, arrivals)
    IvfIndex.compact(spark, path)
    val side2 = IvfIndex.readSidecar(spark, path).get
    // query the appended ids themselves: their rank-1 hit exists only
    // in the NEW generation, so serving them proves the follow
    val q2 = e.limit(3)
      .select((col("vec_id") + lit(3000000L)).as("q_id"),
        col("embedding").as("q_emb"))
    q2.coalesce(1).write.mode("append").parquet(qdir)
    sq.processAllAvailable()
    assert(sq.isActive, "a follow-mode stream must survive the new generation")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(col("q_id"), col("n_id"), col("sim"), col("rank"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
          r.getLong(3))).sorted.toSeq
    val streamed2 = rows(spark.read.parquet(out)
      .filter(col("q_id") >= 3000000L))
    val b2 = q2.localCheckpoint(true)
    val panel2 = b2.select(col("q_id"), col("q_emb"),
      graft.functions.VectorExprs.nearest_centroid(
        col("q_emb"), side2.refresh, side2.dim).as("cell"))
    val expected2 = rows(IvfIndex.servePq(
      IvfIndex.readFull(spark, path), b2, panel2, 5, 20,
      side2.serving, side2.books, cellRows = side2.counts,
      knownBatchRows = Some(3L)))
    assert(streamed2.nonEmpty && streamed2 == expected2,
      "the post-compact batch must equal the one-shot serve against the new generation")
    // the new generation's appended rows must be reachable (the old
    // generation cannot rank an id ≥ 2000000)
    assert(spark.read.parquet(out).filter(col("n_id") >= 2000000L).count() > 0,
      "the follow must actually surface the appended vectors")
    // an un-compacted append still refuses loudly — uniform with the
    // statement path's pending-appends rule
    val arrivals2 = IvfIndex.withCodes(
      VectorQueries.kmeansAssign(
        e.limit(5).select((col("vec_id") + lit(4000000L)).as("vec_id"),
          col("embedding")), centers),
      side2.serving, side2.books)
    IvfIndex.append(spark, path, arrivals2)
    q2.limit(1).coalesce(1).write.mode("append").parquet(qdir)
    val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      sq.processAllAvailable()
      sq.awaitTermination(30000L)
    }
    def chain(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(x => Option(x.getMessage).getOrElse("")).toSeq
    assert(chain(err).exists(_.contains("un-compacted appends")),
      s"expected the pending-appends refusal, got: ${chain(err).mkString(" | ")}")
    sq.stop()
  }

  test("serveOnline followIndex survives a gather failure inside the commit window") {
    // compact rewrites the cell files, runs a whole means-refresh job,
    // and only THEN commits the sidecar header (IvfIndex.compact) — so
    // a follow-mode gather can fail on vanished files while the
    // fingerprint still reads the OLD generation. The retry must not
    // require the fingerprint to have moved at catch time: it backs
    // off, the commit lands, and the batch re-serves against the new
    // generation. Simulated deterministically: stash every cell=N
    // directory (gather fails, header unmoved), restore + commit a new
    // generation from a background thread mid-retry.
    import org.apache.spark.sql.functions._
    import graft.operators.IvfIndex
    val e = Tables(spark, sf0001, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val path = s"$suiteDir/spec_serveonline_window"
    IvfIndex.build(e, path, pq = true)
    val side = IvfIndex.readSidecar(spark, path).get
    def wipe(p: String): Unit = {
      val d = java.nio.file.Paths.get(p)
      if (java.nio.file.Files.isDirectory(d)) {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(d).iterator().asScala.toSeq.reverse
          .foreach(java.nio.file.Files.delete)
      }
    }
    val qdir = s"$suiteDir/spec_serveonline_window_q"
    val out = s"$suiteDir/spec_serveonline_window_out"
    val stash = java.nio.file.Paths.get(s"$suiteDir/spec_serveonline_window_stash")
    wipe(qdir); wipe(out); wipe(stash.toString)
    java.nio.file.Files.createDirectories(stash)
    val q1 = e.filter(col("vec_id") % 7 === 2)
      .select((col("vec_id") + lit(1000000L)).as("q_id"),
        col("embedding").as("q_emb")).limit(5)
    q1.coalesce(1).write.mode("overwrite").parquet(qdir)
    val stream = spark.readStream.schema(q1.schema)
      .option("maxFilesPerTrigger", "1").parquet(qdir)
    val sq = graft.streaming.StreamingOps.serveOnline(
      spark, stream, path, k = 5, shortlist = 20, out,
      followIndex = true,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(50L))
    sq.processAllAvailable()
    assert(spark.read.parquet(out).count() > 0, "batch 1 must serve")
    // open the window: data gone, header (fingerprint) unchanged
    val idxDir = java.nio.file.Paths.get(path)
    import scala.jdk.CollectionConverters._
    val cells = java.nio.file.Files.list(idxDir).iterator().asScala
      .filter(_.getFileName.toString.startsWith("cell=")).toSeq
    assert(cells.nonEmpty, "expected cell=N partition directories")
    cells.foreach(c =>
      java.nio.file.Files.move(c, stash.resolve(c.getFileName.toString)))
    val restorer = new Thread(() => {
      Thread.sleep(1500L)
      java.nio.file.Files.list(stash).iterator().asScala.toSeq.foreach(c =>
        java.nio.file.Files.move(c, idxDir.resolve(c.getFileName.toString)))
      // the commit that closes the window — a fresh generation
      IvfIndex.writeSidecar(spark, path, side.copy(version = side.version + 1L))
    })
    restorer.start()
    val q2 = e.limit(3)
      .select((col("vec_id") + lit(3000000L)).as("q_id"),
        col("embedding").as("q_emb"))
    q2.coalesce(1).write.mode("append").parquet(qdir)
    sq.processAllAvailable()
    restorer.join()
    assert(sq.isActive,
      "a follow-mode stream must ride out the commit window, not die in it")
    val side2 = IvfIndex.readSidecar(spark, path).get
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(col("q_id"), col("n_id"), col("sim"), col("rank"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
          r.getLong(3))).sorted.toSeq
    val streamed2 = rows(spark.read.parquet(out)
      .filter(col("q_id") >= 3000000L))
    val b2 = q2.localCheckpoint(true)
    val panel2 = b2.select(col("q_id"), col("q_emb"),
      graft.functions.VectorExprs.nearest_centroid(
        col("q_emb"), side2.refresh, side2.dim).as("cell"))
    val expected2 = rows(IvfIndex.servePq(
      IvfIndex.readFull(spark, path), b2, panel2, 5, 20,
      side2.serving, side2.books, cellRows = side2.counts,
      knownBatchRows = Some(3L)))
    assert(streamed2.nonEmpty && streamed2 == expected2,
      "the batch served across the window must equal the one-shot serve")
    sq.stop()
  }

  test("serveOnline followIndex rides out the append→compact maintenance window") {
    // EVERY real maintenance cycle passes through pendingAppends=true
    // (append commits it, compact clears it) — a micro-batch landing
    // inside that window must wait it out (bounded grace), not die:
    // refusing instantly would make follow mode unable to survive the
    // exact cycles it exists for. An index genuinely LEFT un-compacted
    // still fails (pinned by the follow test above).
    import org.apache.spark.sql.functions._
    import graft.operators.IvfIndex
    import graft.queries.VectorQueries
    val e = Tables(spark, sf0001, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val path = s"$suiteDir/spec_serveonline_grace"
    val centers = IvfIndex.build(e, path, pq = true)
    val side0 = IvfIndex.readSidecar(spark, path).get
    def wipe(p: String): Unit = {
      val d = java.nio.file.Paths.get(p)
      if (java.nio.file.Files.isDirectory(d)) {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(d).iterator().asScala.toSeq.reverse
          .foreach(java.nio.file.Files.delete)
      }
    }
    val qdir = s"$suiteDir/spec_serveonline_grace_q"
    val out = s"$suiteDir/spec_serveonline_grace_out"
    wipe(qdir); wipe(out)
    val q1 = e.filter(col("vec_id") % 7 === 2)
      .select((col("vec_id") + lit(1000000L)).as("q_id"),
        col("embedding").as("q_emb")).limit(5)
    q1.coalesce(1).write.mode("overwrite").parquet(qdir)
    val stream = spark.readStream.schema(q1.schema)
      .option("maxFilesPerTrigger", "1").parquet(qdir)
    val sq = graft.streaming.StreamingOps.serveOnline(
      spark, stream, path, k = 5, shortlist = 20, out,
      followIndex = true,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(50L),
      pendingGraceMs = 60000L) // compact on a busy test box can be slow
    sq.processAllAvailable()
    assert(spark.read.parquet(out).count() > 0, "batch 1 must serve")
    // open the maintenance window: append commits pendingAppends=true
    val arrivals = IvfIndex.withCodes(
      VectorQueries.kmeansAssign(
        e.limit(10).select((col("vec_id") + lit(2000000L)).as("vec_id"),
          col("embedding")), centers),
      side0.serving, side0.books)
    IvfIndex.append(spark, path, arrivals)
    // ...and close it from a background thread mid-grace
    val compactor = new Thread(() => {
      Thread.sleep(1000L)
      IvfIndex.compact(spark, path)
    })
    compactor.start()
    val q2 = e.limit(3)
      .select((col("vec_id") + lit(3000000L)).as("q_id"),
        col("embedding").as("q_emb"))
    q2.coalesce(1).write.mode("append").parquet(qdir)
    sq.processAllAvailable()
    compactor.join()
    assert(sq.isActive,
      "a follow-mode stream must wait out the append→compact window")
    assert(spark.read.parquet(out).filter(col("q_id") >= 3000000L).count() > 0,
      "the batch that hit the window must serve once compact lands")
    // and it served the COMPACTED generation, never the raw pending
    // state: the appended ids are reachable only post-compact
    val side2 = IvfIndex.readSidecar(spark, path).get
    assert(!side2.pendingAppends, "compact must have landed")
    sq.stop()
  }

  test("serveOnline followIndex rethrows a genuine error when the index never moved") {
    // the retry bound's other half: NonFatal failures with the
    // fingerprint NEVER changing are not a maintenance race — after
    // the bounded retries the ORIGINAL error must surface, not the
    // index-churn message (which would send the operator chasing
    // maintenance that never ran)
    import org.apache.spark.sql.functions._
    import graft.operators.IvfIndex
    val e = Tables(spark, sf0001, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val path = s"$suiteDir/spec_serveonline_genuine"
    IvfIndex.build(e, path, pq = true)
    def wipe(p: String): Unit = {
      val d = java.nio.file.Paths.get(p)
      if (java.nio.file.Files.isDirectory(d)) {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(d).iterator().asScala.toSeq.reverse
          .foreach(java.nio.file.Files.delete)
      }
    }
    val qdir = s"$suiteDir/spec_serveonline_genuine_q"
    val out = s"$suiteDir/spec_serveonline_genuine_out"
    wipe(qdir); wipe(out)
    // a permanently broken gather: every cell directory gone, header
    // intact, and nobody ever commits a new generation
    val idxDir = java.nio.file.Paths.get(path)
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.list(idxDir).iterator().asScala
      .filter(_.getFileName.toString.startsWith("cell=")).toSeq
      .foreach(c => wipe(c.toString))
    val q1 = e.limit(2)
      .select((col("vec_id") + lit(1000000L)).as("q_id"),
        col("embedding").as("q_emb"))
    q1.coalesce(1).write.mode("overwrite").parquet(qdir)
    val stream = spark.readStream.schema(q1.schema)
      .option("maxFilesPerTrigger", "1").parquet(qdir)
    val sq = graft.streaming.StreamingOps.serveOnline(
      spark, stream, path, k = 5, shortlist = 20, out,
      followIndex = true)
    val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      sq.processAllAvailable()
      sq.awaitTermination(60000L)
    }
    def chain(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(x => Option(x.getMessage).getOrElse("")).toSeq
    assert(!chain(err).exists(_.contains("churns faster")),
      s"a never-raced failure must not blame index churn: ${chain(err).mkString(" | ")}")
    sq.stop()
  }
}
