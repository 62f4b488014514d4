package graft.tools

import graft.core.{Materialize, Sessions}

/** Registry-wide physical-plan lint: builds EVERY gated query's plan
  * at the given fixture and flags the scale anti-patterns —
  * CartesianProduct, `Exchange SinglePartition`, and sort-merge joins
  * with a rank-window-limited input (a top-k shortlist that should be
  * the broadcast side of its gather) — that would funnel or shuffle a
  * 100 TB input needlessly. Emits one JSON object per
  * run with per-query flags and the offender lists, so the evidence
  * file shows the absence of scale-killers across the whole registry,
  * not just the hand-pinned PlanSpec queries.
  *
  * A SinglePartition exchange is legitimate only over a frame bounded
  * by CONSTRUCTION (a distinct-value histogram, a catalog-sized
  * source list, a k-row aggregate) — those queries are listed in
  * `boundedSinglePartition` with the bounding argument, and the lint
  * fails (exit 1) on any flag outside that list.
  *
  * Usage: runMain graft.tools.PlanLint [sfDir] [out.json]
  */
object PlanLint {

  /** Queries whose single-partition window/exchange runs over a frame
    * bounded by construction, with the bound. */
  val boundedSinglePartition: Map[String, String] = Map(
    "t22_decile_bucketing" ->
      "window over the distinct n_chars VALUE DOMAIN (hundreds of rows), never the corpus",
    "t33_source_interleave" ->
      "window over the SOURCE CATALOG (n_sources rows, a catalog constant)",
    "s31_dialect_interleave" ->
      "same plan as t33 (verbatim lowering)",
    "t39_zipf_slope" ->
      "rank window over the LIMIT-1000 vocabulary head (TakeOrdered), never the corpus")

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val outJson = args.lift(1)
    val spark = Sessions.start("ERROR")

    // A SinglePartition exchange whose CHILD is an aggregate is the
    // universal global-agg shape: the exchange moves one PARTIAL row
    // per upstream partition (bounded at #partitions), never the data.
    // Only a single-partition exchange over a non-aggregate child —
    // a global sort/window funneling raw rows — is a scale-killer.
    def unboundedSinglePartition(plan: String): Boolean = {
      val lines = plan.linesIterator.toVector
      lines.zipWithIndex.exists { case (l, i) =>
        l.contains("Exchange SinglePartition") && {
          val child = lines.drop(i + 1).find(_.trim.nonEmpty)
          !child.exists(c => c.contains("HashAggregate") ||
            c.contains("ObjectHashAggregate") || c.contains("SortAggregate"))
        }
      }
    }

    // The driver-visible streaming gates (e16-e20, v28, x12) execute a
    // streaming job at build time and return a memory-sink read, so
    // the plan the registry exposes is a trivial LocalTableScan — and
    // linting "without running" would run the heaviest jobs in the
    // registry. Lint their UNDERLYING transformation on a batch frame
    // instead: same operators, so the cartesian / single-partition
    // properties carry over to the incremental plan.
    import org.apache.spark.sql.{DataFrame, SparkSession => SS}
    import org.apache.spark.sql.functions.col
    def t(s: SS, d: String, n: String): DataFrame = graft.core.Tables(s, d, n)
    val streamingTwins: Map[String, (SS, String) => DataFrame] = Map(
      "e16_session_stream" -> ((s, d) =>
        graft.queries.EventQueries.sessionWindows(t(s, d, "events"))),
      "e17_window_stream" -> ((s, d) =>
        graft.queries.Registry.queries("e01_window_hourly")(s, d)),
      "e18_dedup_stream" -> ((s, d) =>
        t(s, d, "events").select(col("user_id"), col("event_type")).distinct()),
      "e20_sliding_stream" -> ((s, d) =>
        graft.queries.Registry.queries("e19_sliding_window")(s, d)),
      "v28_ivf_stream" -> ((s, d) =>
        graft.streaming.StreamingOps.ivfAssign(
          t(s, d, "embeddings").filter(col("vec_id") % 7 === 3)
            .select(col("vec_id"), col("embedding")),
          graft.queries.VectorQueries.collectUpsertCentroids(s, d))),
      "x12_decayed_stream" -> ((s, d) =>
        graft.streaming.StreamingOps.decayedCounts(t(s, d, "events"), 0L)),
      "e25_trending_stream" -> ((s, d) =>
        graft.queries.Registry.queries("e21_trending")(s, d)),
      "x15_drift_stream" -> ((s, d) =>
        graft.queries.ApproxQueries.driftBinned(
          t(s, d, "embeddings").filter(col("vec_id") % 2 === 1)
            .select(col("embedding")))),
      "d21_semantic_stream" -> ((s, d) => {
        val e = t(s, d, "embeddings").select(col("vec_id"), col("embedding"))
        val centers = graft.queries.VectorQueries.kmeansFit(e, 4, 2)
        val keeps = graft.queries.DedupQueries.semanticKeepSetFrom(
          graft.queries.VectorQueries.kmeansAssign(e, centers), 0.2)
        graft.queries.DedupQueries.semanticDedupStream(
          e.filter(col("vec_id") % 7 === 3), centers, keeps, 0.2)
      }),
      "t43_calibration_stream" -> ((s, d) => {
        val docs = t(s, d, "documents")
          .select(col("doc_id"), col("source"), col("text"))
        graft.queries.TextQueries.calibrationAssign(docs,
          org.apache.spark.sql.functions.broadcast(
            graft.queries.TextQueries.sourceCdfOf(
              graft.queries.TextQueries.qualityBuckets(docs))))
      }))

    // An SMJ with a rank-window-limited (top-k per group) input is the
    // unhinted-gather anti-pattern (the r8 v31/v32 finding): the
    // shortlist side is ~k·groups rows but Catalyst's static estimate
    // is the child scan's, so the FULL other side gets shuffle-written.
    // Such a side should be broadcast — flag every occurrence.
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    import org.apache.spark.sql.execution.window.WindowGroupLimitExec
    def smjWithRankLimitedSide(plan: SparkPlan): Boolean = {
      def hasRankLimit(p: SparkPlan): Boolean =
        p.exists { case _: WindowGroupLimitExec => true; case _ => false }
      plan.exists {
        case j: SortMergeJoinExec =>
          hasRankLimit(j.left) || hasRankLimit(j.right)
        case _ => false
      }
    }

    var cartesian = List.empty[String]
    var singlePart = List.empty[String]
    var smjRankSide = List.empty[String]
    var errors = List.empty[String]
    var checked = 0
    graft.queries.Registry.all.foreach { q =>
      try Materialize.statement {
        val df = streamingTwins.get(q.name)
          .map(f => f(spark, sfDir)).getOrElse(q.build(spark, sfDir))
        val exec = df.queryExecution.executedPlan
        val p = exec.toString
        checked += 1
        if (p.contains("CartesianProduct")) cartesian ::= q.name
        if (unboundedSinglePartition(p) &&
            !boundedSinglePartition.contains(q.name)) singlePart ::= q.name
        if (smjWithRankLimitedSide(exec)) smjRankSide ::= q.name
      } catch {
        case e: Exception => errors ::= s"${q.name}: ${e.getMessage.take(120)}"
      }
    }
    val ok = cartesian.isEmpty && singlePart.isEmpty &&
      smjRankSide.isEmpty && errors.isEmpty
    def arr(xs: List[String]) = xs.sorted.map(s => "\"" + s + "\"").mkString("[", ", ", "]")
    val json =
      s"""{"checked": $checked, "ok": $ok,
         |"cartesian": ${arr(cartesian)},
         |"unbounded_single_partition": ${arr(singlePart)},
         |"bounded_single_partition_allowlist": ${arr(boundedSinglePartition.keys.toList)},
         |"smj_rank_limited_side": ${arr(smjRankSide)},
         |"errors": ${arr(errors)}}""".stripMargin.replace("\n", " ")
    println(json)
    outJson.foreach(p => java.nio.file.Files.writeString(
      java.nio.file.Paths.get(p), json + "\n"))
    spark.stop()
    if (!ok) sys.exit(1)
  }
}
