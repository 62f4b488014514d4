package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

import graft.core.Materialize

/** Structured Streaming forms of the event operators (the reference has
  * no streaming surface — SURVEY.md §2.11 — these are the Spark-native
  * extension for the stream table `events`):
  *  - watermarked tumbling-window aggregation (same plan as
  *    EventQueries e01 under incremental execution);
  *  - stateful per-user sessionization via mapGroupsWithState.
  *
  * The stream schema is derived from the batch read of the same file
  * (parquet footer), so a fixture-writer change in `ts` encoding
  * (ns-Long vs µs TIMESTAMP_NTZ) is absorbed by the one shared
  * normalization in graft.core.Tables rather than a hardcoded schema.
  */
object StreamingOps {

  /** Streaming read of one fixture table with its footer-derived
    * schema — the shared scaffold of the per-table readers below. A
    * directory table (`<table>.parquet/part-*`) streams from its own
    * path; the file source needs a directory, so a single-file table
    * streams from the fixture dir under a glob pinned to its file. */
  private def readTable(spark: SparkSession, dir: String, table: String): DataFrame = {
    val path = new org.apache.hadoop.fs.Path(s"$dir/$table.parquet")
    val raw = spark.read.parquet(path.toString).schema
    val stream = spark.readStream.schema(raw)
    if (path.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .getFileStatus(path).isDirectory) stream.parquet(path.toString)
    else stream.option("pathGlobFilter", s"$table.parquet").parquet(dir)
  }

  /** The events table as a stream; Tables.normalizeNanoTs yields a
    * proper TimestampType `ts` whatever the writer encoded. */
  def readEvents(spark: SparkSession, dir: String): DataFrame =
    graft.core.Tables.normalizeNanoTs(readTable(spark, dir, "events"))

  /** Start a streaming query on a checkpoint dir in the per-application
    * work dir, process all available input, then stop the query and
    * delete the checkpoint, also when the query fails. Without a
    * location Spark makes a temporary one under java.io.tmpdir, which
    * it keeps when the query fails. `name` prefixes the dir's name. */
  def runAvailable(spark: SparkSession, name: String)
      (start: String => org.apache.spark.sql.streaming.StreamingQuery): Unit = {
    val checkpoint = graft.core.Sessions.workPath(spark, s"checkpoint_$name",
      java.util.UUID.randomUUID().toString)
    val q = start(checkpoint)
    try q.processAllAvailable()
    finally {
      q.stop()
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(checkpoint))
    }
  }

  /** Run a streaming frame to completion (one AvailableNow pass) into
    * a uniquely-named memory sink and return its rows as a local
    * DataFrame — the shared scaffold of every driver-visible streaming
    * gate (e16-e20, v28, x12). Gate outputs are aggregate-sized, so
    * collecting them out lets the sink's temp view be dropped instead
    * of leaking one per gate build. */
  /** Hard cap on rows a streaming gate may collect through
    * [[runToTable]] — every gate's sink is aggregate-sized (sessions,
    * windows, k types, k cells); a future gate whose sink scales with
    * the stream must use a file sink instead of this scaffold, and
    * this cap makes that contract fail LOUDLY instead of OOMing. */
  val RunToTableMaxRows: Long = 100000L

  def runToTable(spark: SparkSession, df: DataFrame, mode: String,
      prefix: String, maxRows: Long = RunToTableMaxRows): DataFrame = {
    val sink = prefix + java.util.UUID.randomUUID().toString.take(8)
    runAvailable(spark, sink) { checkpoint =>
      df.writeStream.outputMode(mode)
        .format("memory").queryName(sink)
        .option("checkpointLocation", checkpoint)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
    }
    val out = spark.table(sink)
    val n = out.count()
    require(n <= maxRows,
      s"streaming gate sink $sink has $n rows (cap $maxRows): " +
        "gate outputs must be aggregate-sized; use a file sink for " +
        "row-scaled streams")
    val rows = out.collect()
    val schema = out.schema
    spark.catalog.dropTempView(sink)
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
  }

  /** Streaming read of the documents table in a fixture directory —
    * the online-ingest source for the stateless text ops (chunking,
    * per-row quality/signature scalars): new document files landing in
    * the directory flow straight through, no state, no watermark. */
  def readDocuments(spark: SparkSession, dir: String): DataFrame =
    readTable(spark, dir, "documents")

  /** Streaming read of the embeddings table in a fixture directory —
    * the online-ingest source for continuous vector indexing: new
    * embedding files landing in the directory flow straight through
    * the stateless assignment pass ([[ivfAssign]]). */
  def readEmbeddings(spark: SparkSession, dir: String): DataFrame =
    readTable(spark, dir, "embeddings")

  /** Continuous IVF ingest — v21's batch upsert as a STATELESS stream:
    * each arriving vector scores against the FROZEN index's centroids
    * (k·d doubles shipped as literals — the collected
    * VectorQueries.upsertCentroidTable rows, bit-preserved) and takes
    * its argmax cell with v21's exact tie-break (csim DESC, label
    * ASC), folded per row instead of windowed (window functions don't
    * exist on streams; the fold replays the same total order). No
    * state, no watermark — ingest cost is O(batch), the indexed
    * corpus is never touched, and stream ≡ batch is exact
    * (StreamingSpec + the v28 driver gate). */
  def ivfAssign(vecs: DataFrame, cents: Seq[(Int, Seq[Double])]): DataFrame = {
    require(cents.nonEmpty, "frozen index has no centroids")
    // argmax via array_min over (-csim, label) sort-key structs —
    // struct ordering IS the v21 tie-break (csim DESC, label ASC),
    // and the array form keeps the expression linear in k (a pairwise
    // CASE fold would re-embed the accumulated tree per step)
    val scored = cents.map { case (label, c) =>
      val csim = graft.queries.VectorQueries.cosine(typedLit(c), col("embedding"))
      // nanvl: the batch window's (csim DESC) ranks NaN FIRST (Spark
      // orders NaN largest), but -NaN is still NaN and array_min would
      // rank it LAST — mapping NaN to -inf on the negated key replays
      // the batch total order even for zero-norm degenerate vectors,
      // keeping the bit-for-bit stream ≡ batch claim unconditional
      struct(nanvl(-csim, lit(Double.NegativeInfinity)).as("neg"),
        lit(label).as("label"), csim.as("csim"))
    }
    vecs.select(col("vec_id"), array_min(array(scored: _*)).as("best"))
      .select(col("vec_id"), col("best.label").as("cell"),
        col("best.csim").as("csim"))
  }

  /** Continuous SERVING — the online twin of the `serve … [pq]`
    * statement: a stream of (q_id, q_emb) query batches is served per
    * micro-batch against a FROZEN index. Routing comes off the sidecar
    * read ONCE at start (k·d driver doubles — zero index scans before
    * each gather, exactly the batch path's economics), and each
    * micro-batch runs the same partition-pruned adaptive gather the
    * statement runs (IvfIndex.servePq with the occupancy-driven
    * pushed-vs-full flip, or IvfIndex.serve for a plain index),
    * writing (q_id, n_id, sim, rank) parquet per micro-batch.
    * Micro-batch ≡ batch is EXACT: a query's neighbors depend only on
    * its own embedding and the frozen index, so batch boundaries
    * cannot change any output row (StreamingSpec pins file-split
    * streaming ≡ the one-shot batch serve bit-for-bit; the v52 driver
    * gate replays the DuckDB oracle).
    *
    * The FROZEN-index contract is ENFORCED, not just documented: the
    * sidecar fingerprint captured at stream start (one file stat —
    * every commit creates a new version-named header) is re-verified
    * at each micro-batch's start AND again before the batch commits,
    * so an append/upsert/compact that lands mid-stream fails the
    * stream loudly instead of the pruned gather silently serving
    * superseded rows off `readFull` — round 14 made concurrent
    * writers a supported story (the sidecar CAS), so this is a real
    * interleaving, not a hypothetical. The post-serve check aborts
    * the batch BEFORE the checkpoint commits it, and the sink is
    * idempotent per batchId (each batch overwrites its own
    * `batch=N/` subdirectory), so a retried or replayed batch —
    * failure recovery, or a restart against the mutated index —
    * overwrites rather than duplicates. Pass `checkpointLocation`
    * for restartable exactly-once runs; without it Spark uses a
    * one-shot temp checkpoint (fine for AvailableNow gates). The
    * default AvailableNow trigger drains what's there and stops (the
    * gate shape); a live serving tier passes ProcessingTime.
    * Refusals mirror the statement path loudly: no sidecar,
    * un-compacted appends, over-cap micro-batches (the panel is the
    * gather's broadcast side), mid-stream index mutation.
    *
    * `followIndex = true` replaces fail-on-mutation with
    * FOLLOW-the-maintenance: each micro-batch serves against the
    * LATEST COMMITTED, COMPACTED generation (re-resolved off the
    * fingerprint-validated SidecarCache — one file stat per batch when
    * nothing changed), so a serving tier survives compact/upsert
    * cycles without restarts. The refusal story stays uniform with
    * the statement path: a generation with PENDING APPENDS still
    * refuses loudly (readFull would serve superseded rows; the batch
    * `serve` statement refuses the same state) — but because EVERY
    * real maintenance cycle passes through that state (append commits
    * pendingAppends=true, compact clears it), follow mode first rides
    * it out for up to `pendingGraceMs` as maintenance-in-progress,
    * refusing only when no compact lands inside the grace (an index
    * genuinely LEFT un-compacted). A commit that
    * races one batch's gather re-serves that batch against the new
    * generation (bounded retries; the per-batchId overwrite makes the
    * re-serve invisible), failing only if the index churns faster
    * than a micro-batch can serve. The retry does NOT require the
    * commit to be visible at failure time: compact rewrites cell
    * files a whole means-refresh job before the header CAS lands, so
    * an un-raced failure backs off briefly and retries — but if the
    * fingerprint never moves across the bounded attempts, the
    * ORIGINAL error rethrows (it was never a race). Each batch's rows are then exactly
    * the one-shot batch serve against whichever generation it
    * committed under — batch boundaries decide WHICH generation, the
    * rows themselves stay bit-deterministic. */
  def serveOnline(spark: SparkSession, queryStream: DataFrame,
      idxPath: String, k: Int, shortlist: Int, outPath: String,
      checkpointLocation: Option[String] = None,
      followIndex: Boolean = false,
      trigger: org.apache.spark.sql.streaming.Trigger =
        org.apache.spark.sql.streaming.Trigger.AvailableNow(),
      pendingGraceMs: Long = 10000L)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.operators.IvfIndex
    def resolve(): (String, IvfIndex.Sidecar) = {
      // fingerprint-bracketed: re-stat after the read so a commit
      // racing the resolve never pairs an old sidecar with a new
      // fingerprint (r14 made concurrent writers a supported story)
      var tries = 0
      // every REAL maintenance cycle passes through an un-compacted
      // append state (append commits pendingAppends=true, compact
      // clears it) — follow mode treats that as maintenance IN
      // PROGRESS and rides it out for up to pendingGraceMs before
      // refusing; an index LEFT with pending appends (no compact
      // landing) still fails loudly with the statement path's rule.
      // Frozen mode gets no grace: its contract is no mutation at all.
      val pendingDeadline = System.currentTimeMillis() +
        (if (followIndex) pendingGraceMs else 0L)
      while (true) {
        val before = IvfIndex.SidecarCache.currentFingerprint(spark, idxPath)
        val s = IvfIndex.SidecarCache.get(spark, idxPath).getOrElse(
          throw new IllegalStateException(
            s"serveOnline: no _centers sidecar at '$idxPath' — build the index first"))
        if (s.pendingAppends) {
          require(System.currentTimeMillis() < pendingDeadline,
            s"serveOnline: index at '$idxPath' has un-compacted appends — " +
              "a pruned gather could return superseded vectors; run compact first")
          Thread.sleep(250L)
        } else if (IvfIndex.SidecarCache.currentFingerprint(spark, idxPath)
            == before)
          return (before, s)
        else {
          tries += 1
          require(tries < 5,
            s"serveOnline: sidecar at '$idxPath' kept changing during resolve")
        }
      }
      sys.error("unreachable")
    }
    val frozen = resolve()
    def requireFrozen(when: String, cause: Throwable = null): Unit = {
      val fp = IvfIndex.SidecarCache.currentFingerprint(spark, idxPath)
      if (fp != frozen._1) {
        val ex = new java.util.ConcurrentModificationException(
          s"serveOnline: index at '$idxPath' changed $when (sidecar " +
            s"'${frozen._1}' -> '$fp') — the online serve contract is a FROZEN " +
            "index; compact if appends are pending and restart the stream " +
            "against the new generation (or serve with followIndex)")
        if (cause != null) ex.initCause(cause)
        throw ex
      }
    }
    val writer = queryStream.select(col("q_id"), col("q_emb")).writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // frozen mode: inter-batch mutations refuse before any work;
        // the post-serve check catches an intra-batch commit before
        // this batch's checkpoint commit makes the output durable
        if (!followIndex) requireFrozen(s"before micro-batch $batchId")
        // one materialization across the cap count, the routing panel
        // and the gather (the threaded count keeps servePq's gather
        // gate at zero extra driver jobs, like planServe); the batch's
        // statement releases it and the serve's cuts
        Materialize.statement {
          val b = Materialize.cut(batch)
          val n = b.count()
          if (n > 0) {
            require(n <= RunToTableMaxRows,
              s"serveOnline: micro-batch has $n rows (cap $RunToTableMaxRows): " +
                "serving batches must be query-sized")
            var attempts = 0
            var everRaced = false
            var committedUnder: String = null
            while (committedUnder == null) {
              val (fp, side) = if (followIndex) resolve() else frozen
              def raced(): Boolean =
                IvfIndex.SidecarCache.currentFingerprint(spark, idxPath) != fp
              def countRetry(cause: Throwable = null): Unit = {
                attempts += 1
                if (attempts >= 5) {
                  // retries exhausted with the fingerprint NEVER moving:
                  // the failures weren't a maintenance race — surface the
                  // genuine error rather than blaming index churn
                  if (cause != null && !everRaced) throw cause
                  val ex = new IllegalStateException(
                    s"serveOnline: index at '$idxPath' churns faster than " +
                      s"micro-batch $batchId can serve — pause maintenance or " +
                      "widen the trigger interval")
                  if (cause != null) ex.initCause(cause)
                  throw ex
                }
              }
              try {
                val panel = b.select(col("q_id"), col("q_emb"),
                  graft.functions.VectorExprs.nearest_centroid(
                    col("q_emb"), side.refresh, side.dim).as("cell"))
                val served =
                  if (side.hasPq)
                    IvfIndex.servePq(IvfIndex.readFull(spark, idxPath), b, panel,
                      k, shortlist, side.serving, side.books,
                      cellRows = side.counts, knownBatchRows = Some(n))
                  else IvfIndex.serve(IvfIndex.read(spark, idxPath), panel, k)
                // idempotent per batchId: a replay overwrites its own
                // subdirectory (readers see `batch` as a partition column
                // after the served columns — positional consumers unaffected)
                served.write.mode("overwrite").parquet(s"$outPath/batch=$batchId")
                // an index commit that raced THIS batch's gather: frozen
                // mode aborts before the checkpoint marks the batch done
                // (the replay overwrites the subdirectory, so the torn
                // output is never visible durably); follow mode re-serves
                // against the new generation and overwrites in place
                if (!raced()) committedUnder = fp
                else if (!followIndex) requireFrozen(s"during micro-batch $batchId")
                else { everRaced = true; countRetry() }
              } catch {
                // a maintenance rewrite can also surface as the gather
                // failing outright (compact deletes the files mid-scan —
                // Spark throws, never silently drops them) — and it can
                // fail BEFORE the new header lands: compact rewrites the
                // cell files, runs a whole means-refresh job, and only
                // then commits the sidecar (IvfIndex.compact), so the
                // fingerprint may lag the failure by seconds. Follow mode
                // therefore retries every NonFatal failure with a short
                // backoff when the commit hasn't landed yet; if the
                // retries exhaust and the fingerprint NEVER moved, the
                // original error rethrows (countRetry) — it wasn't a
                // race. Frozen mode stays loud: a raced failure surfaces
                // as the clear contract violation (with the gather error
                // as cause), anything else rethrows raw.
                case e if scala.util.control.NonFatal(e) &&
                    !e.isInstanceOf[java.util.ConcurrentModificationException] =>
                  if (raced()) everRaced = true
                  if (!followIndex) {
                    requireFrozen(s"during micro-batch $batchId", e)
                    throw e
                  }
                  countRetry(e)
                  if (!everRaced) Thread.sleep(500L * attempts)
              }
            }
          }
        }
      }
    checkpointLocation.foreach(c => writer.option("checkpointLocation", c))
    writer.trigger(trigger).start()
  }

  /** x11's streaming twin: exponentially-decayed per-type event
    * counts against a FROZEN reference time (micros since epoch) —
    * per-row 2^Δdays weights into an unwindowed complete-mode Det
    * decimal aggregation; state is one row per event type. The batch
    * query derives the reference from max(ts); a live ranker freezes
    * it per rollout, which is what the parameter models. */
  def decayedCounts(events: DataFrame, refMicros: Long): DataFrame =
    events
      .select(col("event_type"),
        pow(lit(2.0),
          (unix_micros(col("ts")) - lit(refMicros))
            .cast(DoubleType) / lit(86400e6)).as("wt"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("wt").cast(graft.core.Det.dec)).cast(DoubleType).as("decayed"))

  /** Watermarked streaming SESSION windows — e14's exact
    * session_window expression under incremental execution
    * (EventQueries.sessionWindows is the batch twin; StreamingSpec
    * pins stream ≡ batch). Spark merges open sessions in state and
    * the watermark bounds them: state is O(open sessions per user),
    * closed sessions finalize and evict once the watermark passes. */
  def sessionCounts(events: DataFrame): DataFrame =
    graft.queries.EventQueries.sessionWindows(
      events.withWatermark("ts", "2 hours"))

  /** Watermarked hourly windowed aggregation — incremental version of
    * EventQueries e01. Watermark bounds state: late events beyond 2h
    * are dropped, so state size is O(active windows), not O(stream). */
  def hourlyCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(graft.core.Det.cnt(col("event_id")).as("n"),
        graft.core.Det.dsum(col("value")).as("sum_value"))
      .select(col("window.start").as("ws"), col("event_type"),
        col("n"), col("sum_value"))

  /** e19's streaming twin: 2h/1h SLIDING windows under a watermark —
    * each event enters exactly two open windows; state is bounded by
    * windows-in-horizon × types, independent of event volume. Same
    * Det aggregation as the batch builder (EventQueries.slidingCounts),
    * so stream ≡ batch is exact, not approximate. */
  def slidingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "2 hours", "1 hour"), col("event_type"))
      .agg(graft.core.Det.cnt(col("event_id")).as("n"),
        graft.core.Det.dsum(col("value")).as("sum_value"))
      .select(col("window.start").as("ws"), col("event_type"),
        col("n"), col("sum_value"))

  /** Continuous corpus landing: arriving documents are hash-addressed
    * to their training shard (t32's multiplicative-hash formula — the
    * SAME shard a batch layout would assign) and appended as
    * `shard=K/` parquet partitions, exactly-once via the checkpoint.
    * The within-shard md5 ORDER is a batch-finalization property
    * (position needs ranking); the streaming path lands the rows in
    * the right shard dirs as they arrive, and a final batch
    * `shard`-statement pass (or Sinks.saveShards) seals positions
    * when the corpus freezes — the standard lambda split for a
    * continuously-ingested training set. */
  def streamShards(docs: DataFrame, idCol: String, nShards: Int,
      path: String, checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    import org.apache.spark.sql.functions._
    docs
      .withColumn("shard",
        ((col(idCol) % lit(1000000L)) * lit(2654435761L)) % lit(nShards.toLong))
      .writeStream
      .partitionBy("shard")
      .format("parquet")
      .option("path", path)
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .start()
  }

  /** Realtime CSV export (the reference's saver goroutine writes rows
    * as the query produces them, files.go:85-156): a streaming
    * pass-through to a CSV sink — rows land on disk per micro-batch,
    * partitioned writes, exactly-once via the checkpoint. */
  def saveRealtimeCsv(rows: DataFrame, path: String, checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    graft.sources.Sinks.formatted(rows)
      .writeStream
      .format("csv")
      .option("header", "true")
      .option("path", path)
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()

  /** Streaming exact dedup: keep the first occurrence per key within
    * the watermark horizon — the incremental form of d01 for a
    * continuously-arriving corpus. dropDuplicates + watermark bounds
    * state to the horizon (without the watermark, state would grow
    * with the stream); at 100 TB/day this is the only tractable shape
    * for online dedup, with the batch MinHash pipeline as the
    * periodic full-corpus pass. `keyCols` is typically a content hash
    * (md5(text)) plus any partition key. */
  def dedupFirstSeen(rows: DataFrame, tsCol: String, horizon: String,
      keyCols: Seq[String]): DataFrame =
    rows.withWatermark(tsCol, horizon)
      .dropDuplicatesWithinWatermark(keyCols)

  /** Streaming NEAR-dup dedup: the online form of the d02 minhash
    * pass. Each arriving doc's k-minhash signature is folded to one
    * 64-bit state key (xxhash64 of the signature array); docs whose
    * shingle sets collide on the whole signature — near-dups at
    * J ≈ high similarity, plus exact dups — keep only the first
    * arrival within the watermark horizon. State is one long per
    * surviving doc per horizon, so an online filter in front of the
    * periodic batch LSH pipeline (d03/d04/d07) costs O(horizon), not
    * O(corpus). Signature computation is the same native codegen'd
    * expression pair the batch gates run. */
  def dedupNearDup(rows: DataFrame, tsCol: String, horizon: String,
      textCol: String = "text", shingle: Int = 3, k: Int = 8): DataFrame = {
    import graft.functions.TextHashExprs._
    rows.withColumn("__sig",
        xxhash64(shingle_minhash(token_hashes(col(textCol)), shingle, k)))
      .withWatermark(tsCol, horizon)
      .dropDuplicatesWithinWatermark("__sig")
      .drop("__sig")
  }

  // ── stateful sessionization ─────────────────────────────────────────
  final case class Ev(user_id: Long, ts_us: Long)
  final case class SessionState(lastTs: Long, sessions: Long, events: Long)
  final case class UserSessions(user_id: Long, n_sessions: Long, n_events: Long)

  // ── streaming as-of join ────────────────────────────────────────────
  final case class AsofEv(event_id: Long, user_id: Long, ts_us: Long,
      is_right: Boolean, value: Double)
  final case class LastRight(ts_us: Long, value: Double)
  final case class AsofMatch(event_id: Long, user_id: Long, ts_us: Long,
      p_ts_us: Option[Long], p_value: Option[Double])

  /** Streaming as-of join (the online feature lookup): every arriving
    * `leftType` event is matched to the user's most recent `rightType`
    * event at-or-before it. The batch form (operators/AsofJoin) scans
    * a window over history; the streaming-native form keeps ONE row of
    * state per key — the latest right event — and matches left events
    * as they arrive. Within a micro-batch the group is processed in
    * (ts, right-first) order, so equal-timestamp rights are visible to
    * their lefts exactly like the batch operator's side ordering;
    * across batches the state carries the match forward. State is O(1)
    * per user, not O(history) — the only tractable shape online. */
  def asofLatest(events: DataFrame, leftType: String = "click",
      rightType: String = "purchase")
      (implicit spark: SparkSession): Dataset[AsofMatch] = {
    import spark.implicits._
    val evs = events.filter(col("event_type").isin(leftType, rightType))
      .select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("ts_us"),
        (col("event_type") === rightType).as("is_right"),
        coalesce(col("value"), lit(0.0)).as("value")).as[AsofEv]
    evs.groupByKey(_.user_id)
      .flatMapGroupsWithState[LastRight, AsofMatch](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[AsofEv], state: GroupState[LastRight]) =>
          // false sorts before true: rights precede lefts at equal ts
          val sorted = rows.toSeq.sortBy(e => (e.ts_us, !e.is_right))
          val out = Seq.newBuilder[AsofMatch]
          var st = state.getOption
          sorted.foreach { e =>
            if (e.is_right) {
              // a late-arriving right older than the stored state must
              // not regress it — state is the LATEST right seen
              if (st.forall(_.ts_us <= e.ts_us))
                st = Some(LastRight(e.ts_us, e.value))
            } else {
              // the as-of invariant: never match a right AFTER the
              // left. A left arriving late (behind a newer right from
              // a prior batch) gets no match rather than a wrong one —
              // O(1) state cannot resurrect the discarded older right.
              val m = st.filter(_.ts_us <= e.ts_us)
              out += AsofMatch(e.event_id, user, e.ts_us,
                m.map(_.ts_us), m.map(_.value))
            }
          }
          st.foreach(state.update)
          out.result().iterator
      }
  }

  // ── streaming funnel ────────────────────────────────────────────────

  final case class FunnelEv(user_id: Long, ts_us: Long, event_type: String)
  // Long.MaxValue = unseen; seq counts this user's emissions so far
  final case class FunnelState(v: Long, c: Long, p: Long, seq: Long)
  final case class FunnelStage(user_id: Long, stage: Int, seq: Long, ts_us: Long)

  /** Streaming funnel: each user's view→click→purchase progress as a
    * per-key STATE MACHINE — three first-occurrence timestamps (O(1)
    * state), a stage derived from their ordering (1 viewed, 2 clicked
    * after first view, 3 purchased after that click — e07's exact
    * predicate), and a FunnelStage row emitted whenever an event
    * CHANGES the user's stage. Minima only decrease, so a late event
    * can demote as well as promote (an earlier-timestamped purchase
    * arriving late can undo a conversion) — the emission stream
    * converges to the batch answer whatever the batch boundaries
    * (pinned in StreamingSpec: final stage per user ≡ e07's rollup).
    * A demotion's ts_us is the LATE event's (older than the promote
    * it undoes), so "latest stage" must reduce by `seq` — a per-user
    * monotonic emission counter carried in state — never by ts. */
  def funnelStages(events: DataFrame)(implicit spark: SparkSession): Dataset[FunnelStage] = {
    import spark.implicits._
    val evs = events
      .filter(col("event_type").isin("view", "click", "purchase"))
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
        col("event_type")).as[FunnelEv]
    def stageOf(s: FunnelState): Int =
      if (s.v == Long.MaxValue) 0
      else if (s.c > s.v && s.c != Long.MaxValue)
        if (s.p > s.c && s.p != Long.MaxValue) 3 else 2
      else 1
    evs.groupByKey(_.user_id)
      .flatMapGroupsWithState[FunnelState, FunnelStage](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[FunnelEv], state: GroupState[FunnelState]) =>
          var st = state.getOption
            .getOrElse(FunnelState(Long.MaxValue, Long.MaxValue, Long.MaxValue, 0L))
          var cur = stageOf(st)
          val out = Seq.newBuilder[FunnelStage]
          rows.toSeq.sortBy(_.ts_us).foreach { e =>
            st = e.event_type match {
              case "view"  => st.copy(v = math.min(st.v, e.ts_us))
              case "click" => st.copy(c = math.min(st.c, e.ts_us))
              case _       => st.copy(p = math.min(st.p, e.ts_us))
            }
            val ns = stageOf(st)
            if (ns != cur) {
              st = st.copy(seq = st.seq + 1)
              out += FunnelStage(user, ns, st.seq, e.ts_us)
              cur = ns
            }
          }
          state.update(st)
          out.result().iterator
      }
  }

  /** Streaming heavy-hitters: one global count-min grid as the ENTIRE
    * aggregation state — a bounded w·d integer grid no matter how many
    * distinct keys the stream carries (per-key streaming state would
    * grow with the key domain; a crawl's URL space is unbounded).
    * Complete/update mode emits the merged sketch every batch; probe
    * with [[graft.core.Cms.estimate]] / the `cms_estimate` SQL
    * function. CMS cell sums are commutative and associative, so the
    * streamed grid is byte-identical to the batch sketch over the same
    * rows regardless of batch boundaries (pinned in StreamingSpec). */
  def cmsCounts(rows: DataFrame, keyCol: String): DataFrame =
    rows.agg(graft.core.Cms.agg(col(keyCol)).as("cms"))

  /** Per-user session counting with explicit state: a >30 min silence
    * opens a new session (same rule as EventQueries e02, kept hot in
    * GroupState instead of a window shuffle — the streaming-native
    * shape; state per key is O(1)). */
  def sessionize(events: DataFrame)(implicit spark: SparkSession): Dataset[UserSessions] = {
    import spark.implicits._
    val evs = events.select(col("user_id"),
      unix_micros(col("ts")).as("ts_us")).as[Ev]
    evs.groupByKey(_.user_id)
      .mapGroupsWithState[SessionState, UserSessions](GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[Ev], state: GroupState[SessionState]) =>
          val sorted = rows.toSeq.sortBy(_.ts_us)
          val init = state.getOption.getOrElse(SessionState(Long.MinValue, 0L, 0L))
          val next = sorted.foldLeft(init) { (st, e) =>
            val newSession = st.lastTs == Long.MinValue ||
              e.ts_us - st.lastTs > 1800L * 1000000L
            SessionState(e.ts_us,
              st.sessions + (if (newSession) 1 else 0), st.events + 1)
          }
          state.update(next)
          UserSessions(user, next.sessions, next.events)
      }
  }
}
