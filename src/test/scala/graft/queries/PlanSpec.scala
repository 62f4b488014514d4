package graft.queries

import graft.SparkSpec

/** Plan-shape assertions: the scale-critical physical-plan properties
  * audited via Explain, pinned as tests so a refactor can't silently
  * regress pushdown, broadcast sides, or top-k strategy. */
class PlanSpec extends SparkSpec {

  private def plan(name: String): String =
    Registry.queries(name)(spark, sf0001).queryExecution
      .explainString(org.apache.spark.sql.execution.FormattedMode)

  test("filters and projection push into the parquet scan (q03)") {
    val p = plan("q03_where_logic")
    assert(p.contains("PushedFilters: ["), p.take(800))
    assert(p.contains("LessThan(l_shipdate"), "shipdate filter should reach the scan")
    // pruned read: the scan must not materialize all 11 lineitem columns
    assert(!p.contains("l_comment") && !p.contains("l_tax"),
      "projection pruning failed - unneeded columns in scan")
  }

  test("dialect parquet FROM pushes filter and pruning into the scan (s17)") {
    val p = plan("s17_dialect_parquet")
    assert(p.contains("PushedFilters: ["), p.take(800))
    assert(p.contains("Not(EqualTo(lang,en))"),
      "lang != 'en' should reach the scan as a pushed filter")
    // pruned read: text (the wide column) must not be materialized
    assert(!p.contains("ReadSchema") || !p.substring(p.indexOf("ReadSchema"))
      .takeWhile(_ != '\n').contains("text"),
      "projection pruning failed - text column in dialect parquet scan")
  }

  test("join chain broadcasts the dimension sides (q16)") {
    val p = plan("q16_join_chain_agg")
    assert(p.contains("BroadcastHashJoin"), p.take(500))
    assert(!p.contains("CartesianProduct"))
  }

  test("top-k plans as TakeOrderedAndProject, not a global sort (q08)") {
    val p = plan("q08_order_topk")
    assert(p.contains("TakeOrderedAndProject"), p.take(500))
  }

  test("kNN broadcasts the small query side, never the candidates (v01)") {
    val p = plan("v01_knn_brute")
    assert(p.contains("BroadcastNestedLoopJoin"), p.take(500))
    // the broadcast exchange must wrap the q_id/q_emb projection
    val bcIdx = p.indexOf("BroadcastExchange")
    assert(bcIdx >= 0 && p.indexOf("q_emb", bcIdx) >= 0,
      "broadcast side should be the query projection")
  }

  test("sessionization reuses one shuffle for window + groupBy (e02)") {
    val p = plan("e02_sessions")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges <= 1, s"expected at most 1 hash exchange, got $exchanges:\n${p.take(800)}")
  }

  test("d04 jaccard verifies LSH candidates, never all-pairs on source") {
    val p = plan("d04_ngram_jaccard")
    // joins are keyed on doc ids / band keys — the skew-prone `source`
    // column must not appear anywhere (it isn't even read)
    assert(!p.toLowerCase.contains("source"), "d04 must not key on source")
    assert(!p.contains("CartesianProduct"))
  }

  test("d06 near-dup pairs within banded LSH buckets (join keyed on band key)") {
    val p = plan("d06_embed_neardup")
    assert(p.contains("bkey"), "join key must include the LSH band key")
    assert(!p.toLowerCase.contains("label"), "d06 must not key on label")
    assert(!p.contains("CartesianProduct"))
  }

  test("row numbering never plans a single-partition exchange (q23)") {
    val p = plan("q23_inc")
    assert(!p.contains("Exchange SinglePartition"), p.take(800))
  }

  test("dialect inc() never plans a single-partition exchange") {
    val df = graft.sql.GraftSession(spark, sf0001)
      .sql("select o_orderkey, inc() as rn from orders")
    val p = df.queryExecution
      .explainString(org.apache.spark.sql.execution.FormattedMode)
    assert(!p.contains("Exchange SinglePartition"), p.take(800))
  }

  test("pretrain build (p05) packs without a single-partition exchange or cartesian") {
    val p = plan("p05_pretrain_build")
    assert(!p.contains("Exchange SinglePartition"),
      s"packing cumsum must stay distributed:\n${p.take(800)}")
    assert(!p.contains("CartesianProduct"), p.take(800))
  }

  test("vocab top-k plans as TakeOrderedAndProject over partial aggs (t08)") {
    val p = plan("t08_vocab_topk")
    assert(p.contains("TakeOrderedAndProject"), p.take(500))
  }

  test("decontamination broadcasts the benchmark side (t09)") {
    val p = plan("t09_decontam")
    assert(p.contains("BroadcastHashJoin"), p.take(500))
    assert(!p.contains("CartesianProduct"))
  }

  test("salted aggregation keeps two-phase shape without extra shuffles (q29)") {
    val p = plan("q29_salted_agg")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges <= 2, s"salted agg should shuffle at most twice, got $exchanges")
  }

  test("column profile (x03) is one aggregation pass - no join, single scan") {
    val p = plan("x03_column_profile")
    assert(!p.contains("Join"), "profile must not self-join per column")
    // count tree nodes ("+- Scan parquet  (n)"), not the detail
    // section's "(n) Scan parquet" headers
    assert("[+:]- Scan parquet".r.findAllIn(p).size == 1,
      "profile must read the table exactly once")
  }

  test("repetition signals (t10) never go cartesian; aggs combine map-side") {
    val p = plan("t10_repetition")
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("partial_count") || p.contains("HashAggregate"),
      "two-level agg should partial-aggregate map-side")
  }

  test("multimodal extract (m01) and frame sampling (m02) stay narrow - zero shuffles") {
    Seq("m01_media_features", "m02_frame_sample").foreach { q =>
      val p = plan(q)
      assert(!p.contains("Exchange"),
        s"$q should be a narrow mapPartitions pipeline, found a shuffle:\n${p.take(600)}")
    }
  }

  test("semantic dedup (d08) pairs within cells via a keyed join, never cartesian") {
    val p = plan("d08_semantic_dedup")
    assert(!p.contains("CartesianProduct"),
      s"within-cell pairing must stay keyed on the cell:\n${p.take(800)}")
  }

  test("exact-substring dedup (d09) joins on the gram key and reuses one exchange") {
    val p = plan("d09_exact_substring")
    assert(!p.contains("CartesianProduct"),
      s"gram-count join must stay keyed on the gram:\n${p.take(800)}")
    // the exploded shingle frame feeds the gram-count agg AND the join
    // probe through one explicit repartition; if a refactor prunes the
    // two branches differently the exchange stops being reused and the
    // scan+explode+tokenize (the expensive pass) runs twice (the
    // SCALE_r3 plan-reuse pitfall). AQE performs the reuse at stage
    // materialization, so assert on the FINAL executed plan.
    val df = Registry.queries("d09_exact_substring")(spark, sf0001)
    df.collect()
    val f = df.queryExecution.executedPlan.toString
    assert(f.contains("ReusedExchange"),
      s"shingle exchange no longer shared between count and probe:\n${f.take(1200)}")
  }

  test("winnowing (d14) reuses the fingerprint exchange like d09") {
    val p = plan("d14_winnowing")
    assert(!p.contains("CartesianProduct"), p.take(800))
    // selection is per-row array algebra — the ONLY exchange should be
    // the explicit fp repartition, shared by the count and the join
    val df = Registry.queries("d14_winnowing")(spark, sf0001)
    df.collect()
    val f = df.queryExecution.executedPlan.toString
    assert(f.contains("ReusedExchange"),
      s"fingerprint exchange no longer shared between count and probe:\n${f.take(1200)}")
  }

  test("random projection (v17) is one narrow pass - no exchange, single scan") {
    val p = plan("v17_random_projection")
    val scans = """\(\d+\) Scan parquet""".r.findAllIn(p).size
    assert(scans == 1, s"expected 1 scan, got $scans:\n${p.take(600)}")
    assert(!p.contains("Exchange"),
      s"projection must not shuffle:\n${p.take(600)}")
    // the 16 element_at reads must share ONE RandomProjectExpr eval —
    // CollapseProject would inline a cheap alias 16 times
    val n = "randomproject".r.findAllIn(p.toLowerCase).size
    assert(n <= 2, s"projection expression duplicated $n times:\n${p.take(900)}")
  }

  test("d13 eval shares ONE tokenize exchange across truth and signature") {
    // four consumers (truth sizes, both posting join sides, minhash
    // sig) all read the explicit (doc_id, th) repartition; if any
    // consumer's pruning diverges, the tokenizer re-runs per consumer
    // (the BM25 4x lesson). AQE reuses at stage materialization —
    // assert on the executed plan.
    val df = Registry.queries("d13_lsh_eval")(spark, sf0001)
    df.collect()
    val f = df.queryExecution.executedPlan.toString
    assert(f.contains("ReusedExchange"),
      s"tokenize exchange no longer shared across d13 consumers:\n${f.take(1200)}")
  }

  test("range join (e05) broadcasts the tier dim - never a shuffled cartesian") {
    val p = plan("e05_range_join")
    // BNLJ over a broadcast 3-row dim IS the right non-equi plan: the
    // fact side streams through once with no shuffle before the agg
    assert(p.contains("BroadcastNestedLoopJoin"), p.take(800))
    assert(!p.contains("CartesianProduct"), p.take(800))
  }

  test("PII redaction (t16) and normalization (t17) stay narrow - zero exchanges") {
    Seq("t16_pii_redact", "t17_normalize").foreach { q =>
      val p = plan(q)
      assert(!p.contains("Exchange"), s"$q gained a shuffle:\n${p.take(800)}")
    }
  }

  test("PQ encode (v09) is one narrow pass - zero exchanges after fit") {
    // codebook fit is driver-side (tiny collected centers); the corpus
    // encode must fuse all M subspace assignments into one projection
    val p = plan("v09_pq_codes")
    assert(!p.contains("Exchange"),
      s"PQ encode gained a shuffle:\n${p.take(1000)}")
  }

  test("rank<=k paths keep WindowGroupLimit pushdown (e03, t15)") {
    // the remaining row_number() <= k filters rely on Spark planning a
    // per-partition top-k (WindowGroupLimit) BEFORE the window sort's
    // shuffle — without it every partition funnels its full rank group
    // into the sort. A refactor (e.g. ranking through a struct) can
    // silently lose the pushdown. (The ANN per-query ranks moved OFF
    // the window entirely in r14 — the heap pin below.)
    Seq("e03_user_topk", "t15_source_cap").foreach { q =>
      val p = plan(q)
      assert(p.contains("WindowGroupLimit"),
        s"$q lost the WindowGroupLimit pushdown:\n${p.take(800)}")
    }
  }

  test("ANN per-query top-k ranks through the bounded heap, never a window sort") {
    // the rank-window shape local-sorts every candidate row below
    // WindowGroupLimit (42-45 GB of spill at a cap-sized batch,
    // SCALE_r14_cap) — the ANN rank stages now fold candidates into
    // k-entry heaps map-side (TopKByAgg), so no plan may sort the
    // candidate frame
    Seq("v03_ann_bucketed", "v01_knn_brute", "v10_pq_adc_topk",
        "v18_mips_topk", "v26_hamming_topk", "v33_ivfpq_rerank").foreach { q =>
      val p = plan(q)
      assert(p.contains("top_k_by") && p.contains("ObjectHashAggregate"),
        s"$q must rank through the top_k_by heap:\n${p.take(800)}")
      assert(!p.contains("WindowGroupLimit") &&
        """\(\d+\) Window\b""".r.findFirstIn(p).isEmpty,
        s"$q still plans a rank window (and its local sort):\n${p.take(800)}")
    }
  }

  test("v18 broadcasts the query side; e13 normalizes on the aggregate") {
    val v = plan("v18_mips_topk")
    assert(v.contains("BroadcastNestedLoopJoin") || v.contains("BroadcastHashJoin"),
      s"v18 should broadcast the 5-row query side:\n${v.take(800)}")
    // e13 shuffles exactly three times — user_id (lag window),
    // (prev,next) agg, prev_type (normalizing window over the k²-row
    // aggregate) — and never into a single partition; a refactor that
    // normalized over the corpus-sized lag frame or lost the partial
    // agg would add exchanges or a SinglePartition funnel.
    val e = plan("e13_event_transitions")
    assert(!e.contains("Exchange SinglePartition"),
      s"e13 grew a single-partition funnel:\n${e.take(800)}")
    val nEx = "Exchange hashpartitioning".r.findAllIn(e).length
    assert(nEx <= 3, s"e13 has $nEx hash exchanges (want <= 3):\n${e.take(800)}")
  }

  test("incremental dedup (d11) broadcasts the batch - corpus never shuffles into a join") {
    val p = plan("d11_incremental_dedup")
    assert(p.contains("BroadcastHashJoin"), p.take(500))
    // both corpus-side probes (band index + md5) must stream the
    // corpus against a broadcast batch, never sort-merge it
    assert(!p.contains("SortMergeJoin"),
      "corpus side shuffled into a sort-merge join:\n" + p.take(1200))
    assert(!p.contains("CartesianProduct"))
  }

  test("running aggregates (e06) evaluate both frames after ONE exchange") {
    // formatted mode prints each node in the tree AND as a "(N) Op"
    // detail section — count the numbered detail headers
    val p = plan("e06_running_aggs")
    val exchanges = """\(\d+\) Exchange""".r.findAllIn(p).size
    assert(exchanges == 1, s"expected exactly 1 exchange, got $exchanges:\n${p.take(800)}")
  }

  test("funnel (e07) is two agg passes - no self-joins, no per-stage scans") {
    val p = plan("e07_funnel")
    assert(!p.contains("Join"), "funnel should not join:\n" + p.take(800))
    val scans = """\(\d+\) Scan parquet""".r.findAllIn(p).size
    assert(scans == 1, s"expected a single events scan, got $scans")
  }

  test("BM25 (t21) tokenizes once and plans top-k as TakeOrderedAndProject") {
    val p = plan("t21_bm25")
    assert(p.contains("TakeOrderedAndProject"), p.take(500))
    assert(!p.contains("CartesianProduct"))
    // corpus stats (with per-term dfs folded in) and the scored
    // postings must both read the ONE per-doc aggregation exchange —
    // a second tokenize scan means the reuse broke and the corpus is
    // walked per consumer again. AQE performs the reuse at stage
    // materialization (d09's pin), so assert on the executed plan.
    val df = Registry.queries("t21_bm25")(spark, sf0001)
    df.collect()
    val f = df.queryExecution.executedPlan.toString
    assert(f.contains("ReusedExchange"),
      s"per-doc agg exchange not reused:\n${f.take(1200)}")
  }

  test("importance weights (t20) broadcast the vocab table back - corpus never sort-merges") {
    val p = plan("t20_importance_weights")
    assert(p.contains("BroadcastHashJoin"), p.take(500))
    assert(!p.contains("SortMergeJoin"),
      "corpus tokens shuffled into a sort-merge join:\n" + p.take(1200))
  }

  test("SQ encode (v14) broadcasts the d-row stats table") {
    val p = plan("v14_sq_codes")
    assert(p.contains("BroadcastHashJoin"), p.take(500))
    assert(!p.contains("CartesianProduct"))
  }

  test("burst detect (e11) and grouped quantiles (x07) stay two-agg shapes - no corpus re-scan") {
    for (q <- Seq("e11_burst_detect", "x07_grouped_quantiles")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), q)
      val scans = """\(\d+\) Scan parquet""".r.findAllIn(p).size
      assert(scans <= 2, s"$q re-scans: $scans scans\n${p.take(600)}")
    }
  }

  test("SQ search (v16) broadcasts the query side, never the reconstructed corpus") {
    val p = plan("v16_sq_search")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      p.take(500))
    val bcIdx = p.indexOf("BroadcastExchange")
    assert(bcIdx >= 0 && p.indexOf("qe", bcIdx) >= 0,
      "broadcast side should be the query projection")
    assert(!p.contains("CartesianProduct"))
  }

  test("rollup (e09) is ONE Expand + aggregate pass - single scan, single exchange") {
    val p = plan("e09_rollup")
    assert(p.contains("Expand"), "rollup should plan an Expand:\n" + p.take(500))
    val scans = """\(\d+\) Scan parquet""".r.findAllIn(p).size
    val exchanges = """\(\d+\) Exchange""".r.findAllIn(p).size
    assert(scans == 1 && exchanges == 1,
      s"expected 1 scan + 1 exchange, got $scans/$exchanges")
  }

  test("pivot (e10) is one scan - no distinct-discovery pass") {
    // an IMPLICIT pivot list makes Spark run a distinct job eagerly at
    // DataFrame-construction time and the final plan looks identical —
    // so the pin must catch the job itself, not the plan shape
    // a discovery job runs SYNCHRONOUSLY inside the pivot() call on
    // THIS thread, so it inherits a job group set here — tagging makes
    // the check deterministic (a global job count could catch stray
    // untagged jobs from other suites sharing the session)
    import org.apache.spark.sql.functions._
    val base = graft.core.Tables(spark, sf0001, "events") // schema job outside the group
    val types = Seq("click", "error", "purchase", "signup", "view")
    spark.sparkContext.setJobGroup("e10-pivot-pin", "pivot build probe")
    try base.groupBy(col("user_id")).pivot("event_type", types)
      .agg(count(lit(1))) // e10's exact shape: explicit list, build only
    finally spark.sparkContext.clearJobGroup()
    // statusTracker is fed by the (async, FIFO) listener bus — a fixed
    // sleep could under-wait on a slow bus and false-pass. Instead run
    // a sentinel job in its own group: its events were queued AFTER any
    // pivot-discovery job's, so once the sentinel is visible, the
    // pivot-group probe below is conclusive.
    spark.sparkContext.setJobGroup("e10-pivot-sentinel", "bus drain sentinel")
    try spark.sparkContext.parallelize(1 to 1, 1).count()
    finally spark.sparkContext.clearJobGroup()
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    while (spark.sparkContext.statusTracker
        .getJobIdsForGroup("e10-pivot-sentinel").isEmpty
        && System.nanoTime() < deadline) Thread.sleep(25)
    assert(spark.sparkContext.statusTracker
      .getJobIdsForGroup("e10-pivot-sentinel").nonEmpty,
      "listener bus failed to drain the sentinel job within 10 s")
    val newJobs = spark.sparkContext.statusTracker
      .getJobIdsForGroup("e10-pivot-pin")
    assert(newJobs.isEmpty,
      s"pivot construction triggered job(s) ${newJobs.mkString(",")} - implicit value discovery?")
    // Spark's pivot itself is two aggs ((keys+pivot col), then
    // PivotFirst per key) ⇒ two exchanges is its canonical plan
    val p = plan("e10_pivot")
    val scans = """\(\d+\) Scan parquet""".r.findAllIn(p).size
    val exchanges = """\(\d+\) Exchange""".r.findAllIn(p).size
    assert(scans == 1 && exchanges <= 2,
      s"expected 1 scan + at most 2 exchanges, got $scans/$exchanges")
  }

  test("session windows (e14) shuffle once on user_id, never single-partition") {
    val p = plan("e14_session_window")
    assert(!p.contains("Exchange SinglePartition"), p.take(800))
    val exchanges = """\(\d+\) Exchange""".r.findAllIn(p).size
    assert(exchanges == 1, s"expected exactly 1 exchange, got $exchanges")
  }

  test("inter-event gaps (e15) stay within the window + k-row agg exchanges") {
    val p = plan("e15_interevent_gaps")
    assert(!p.contains("Exchange SinglePartition"), p.take(800))
    val exchanges = """\(\d+\) Exchange""".r.findAllIn(p).size
    assert(exchanges <= 2, s"expected <=2 exchanges, got $exchanges")
  }

  test("correlation matrix (x08) is one scan, one global-agg exchange, no join") {
    val p = plan("x08_correlation")
    assert(!p.contains("Join"), "x08 must not self-join per pair")
    val scans = """\(\d+\) Scan parquet""".r.findAllIn(p).size
    val exchanges = """\(\d+\) Exchange""".r.findAllIn(p).size
    assert(scans == 1 && exchanges <= 1,
      s"expected 1 scan + <=1 exchange, got $scans/$exchanges")
  }

  test("token shape (t31) is pure per-row algebra - zero exchanges") {
    val p = plan("t31_token_shape")
    assert(!p.contains("Exchange"),
      s"t31 must not shuffle:\n${p.take(600)}")
  }

  test("lexical diversity (t30) is the two-level vocab agg shape") {
    val p = plan("t30_lexical_diversity")
    assert(!p.contains("Exchange SinglePartition"), p.take(800))
    val exchanges = """\(\d+\) Exchange""".r.findAllIn(p).size
    assert(exchanges <= 2, s"expected <=2 exchanges, got $exchanges")
  }

  test("dialect dedup near (s23) lowers to d03's exact band-keyed plan") {
    val dialect = Registry.queries("s23_dialect_dedup_near")(spark, sf0001)
    val builder = Registry.queries("d03_minhash_lsh_pairs")(spark, sf0001)
    val p = dialect.queryExecution
      .explainString(org.apache.spark.sql.execution.FormattedMode)
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"dedup near must stay band-keyed:\n${p.take(800)}")
    // the statement lowers through the SAME builders, so the optimized
    // plans must be equivalent. Since r16 BucketGuard materializes its
    // bucket aggregate per call, so the two constructions read two
    // distinct (content-identical) checkpoint RDDs and `sameResult`
    // can no longer hold — the pin compares the normalized plan
    // structure instead (same nodes, same expressions, ids stripped)
    assert(planShape(dialect) == planShape(builder),
      "dialect dedup near plan diverged from the d03 builder plan")
  }

  /** Optimized-plan structure with per-instance identifiers (expr ids,
    * checkpoint RDD numbers) normalized away. */
  private def planShape(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.optimizedPlan.treeString
      .replaceAll("#\\d+", "#x")

  test("dialect similar (s26) lowers to v03's exact banded-LSH plan") {
    val dialect = Registry.queries("s26_dialect_similar")(spark, sf0001)
    val builder = Registry.queries("v03_ann_bucketed")(spark, sf0001)
    val p = dialect.queryExecution
      .explainString(org.apache.spark.sql.execution.FormattedMode)
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"similar must stay band-keyed:\n${p.take(800)}")
    // structure pin, not sameResult — see the dedup-near test above
    assert(planShape(dialect) == planShape(builder),
      "dialect similar plan diverged from the v03 builder plan")
  }

  test("ANN recall eval (v19) broadcasts query panels, never cartesian") {
    val p = plan("v19_ann_recall")
    assert(!p.contains("CartesianProduct"), p.take(800))
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      "query panel sides should broadcast")
  }

  test("dialect shard/interleave lower to the exact t32/t33 builder plans") {
    val shard = Registry.queries("s30_dialect_shard")(spark, sf0001)
    val t32 = Registry.queries("t32_shard_layout")(spark, sf0001)
    assert(shard.queryExecution.optimizedPlan
      .sameResult(t32.queryExecution.optimizedPlan),
      "dialect shard plan diverged from the t32 builder plan")
    val il = Registry.queries("s31_dialect_interleave")(spark, sf0001)
    val t33 = Registry.queries("t33_source_interleave")(spark, sf0001)
    assert(il.queryExecution.optimizedPlan
      .sameResult(t33.queryExecution.optimizedPlan),
      "dialect interleave plan diverged from the t33 builder plan")
  }

  test("dialect search (s32) lowers to t21's exact one-pass BM25 plan") {
    val dialect = Registry.queries("s32_dialect_search")(spark, sf0001)
    val builder = graft.queries.TextQueries.bm25(
      graft.core.Tables(spark, sf0001, "documents")
        .select(org.apache.spark.sql.functions.col("doc_id"),
          org.apache.spark.sql.functions.col("text")),
      Seq("spark", "window", "join"), 10)
    assert(dialect.queryExecution.optimizedPlan
      .sameResult(builder.queryExecution.optimizedPlan),
      "dialect search plan diverged from the t21 builder plan")
    // the one-pass property survives the statement surface: the
    // executed plan reuses the per-doc agg exchange
    dialect.collect()
    val executed = dialect.queryExecution.executedPlan.toString
    assert(executed.contains("ReusedExchange"),
      s"search must share the per-doc agg exchange:\n${executed.take(800)}")
  }

  test("dialect split (s33) lowers to the exact t06 builder plan; zero exchanges") {
    val dialect = Registry.queries("s33_dialect_split")(spark, sf0001)
    val builder = graft.queries.TextQueries.trainSplit(
      graft.core.Tables(spark, sf0001, "documents")
        .select(org.apache.spark.sql.functions.col("doc_id")), 90L, 5L)
    assert(dialect.queryExecution.optimizedPlan
      .sameResult(builder.queryExecution.optimizedPlan),
      "dialect split plan diverged from the t06 builder plan")
    val p = dialect.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"),
      s"split is per-row hash arithmetic — no exchange belongs in its plan:\n${p.take(800)}")
  }

  test("dialect cluster (s34) assignment is one narrow pass, no corpus shuffle") {
    val dialect = Registry.queries("s34_dialect_cluster")(spark, sf0001)
    val p = dialect.queryExecution.executedPlan.toString
    // centers are literal arrays inside the codegen'd assignment
    // expression; the corpus is scanned once with no exchange
    assert(!p.contains("Exchange"),
      s"cluster assignment must not shuffle the corpus:\n${p.take(800)}")
    assert(!p.contains("CartesianProduct"), p.take(800))
  }

  test("chunking (t34) is a pure per-row explode - zero exchanges") {
    val p = plan("t34_chunking")
    assert(!p.contains("Exchange"),
      s"chunking must not shuffle - chunk ids are per-doc arithmetic:\n${p.take(800)}")
  }

  test("dialect sample (s37) lowers to the exact t05 builder plan; zero exchanges") {
    val dialect = Registry.queries("s37_dialect_sample")(spark, sf0001)
    val builder = graft.queries.TextQueries.hashSample(
      graft.core.Tables(spark, sf0001, "documents")
        .select(org.apache.spark.sql.functions.col("doc_id")), 25L, 100L)
    assert(dialect.queryExecution.optimizedPlan
      .sameResult(builder.queryExecution.optimizedPlan),
      "dialect sample plan diverged from the t05 builder plan")
    assert(!dialect.queryExecution.executedPlan.toString.contains("Exchange"),
      "hash sampling is a pushed per-row filter - no exchange belongs here")
  }

  test("dialect pack (s38) lowers to the t11 builder; no single-partition exchange") {
    // sameResult is ill-posed here: globalCumsum materializes its
    // partition-offset side eagerly per build, so two builds of the
    // IDENTICAL query carry distinct offset relations. Pin exact row
    // equality against the builder plus the distributed-cumsum
    // property instead.
    val dialect = Registry.queries("s38_dialect_pack")(spark, sf0001)
    val builder = graft.queries.TextQueries.seqPack(
      graft.core.Tables(spark, sf0001, "documents")
        .select(org.apache.spark.sql.functions.col("doc_id"),
          org.apache.spark.sql.functions.col("text")), 256L)
    assert(dialect.exceptAll(builder).count() == 0 &&
      builder.exceptAll(dialect).count() == 0,
      "dialect pack rows diverged from the t11 builder")
    assert(!dialect.queryExecution.executedPlan.toString
      .contains("Exchange SinglePartition"),
      "the global cumsum must stay distributed on the statement surface")
  }

  test("dialect chunk (s36) lowers to the exact t34 builder plan") {
    val dialect = Registry.queries("s36_dialect_chunk")(spark, sf0001)
    val builder = graft.queries.TextQueries.docChunks(
      graft.core.Tables(spark, sf0001, "documents")
        .select(org.apache.spark.sql.functions.col("doc_id"),
          org.apache.spark.sql.functions.col("text")), 32, 8)
    assert(dialect.queryExecution.optimizedPlan
      .sameResult(builder.queryExecution.optimizedPlan),
      "dialect chunk plan diverged from the t34 builder plan")
    assert(!dialect.queryExecution.executedPlan.toString.contains("Exchange"))
  }

  test("sliding windows (e19) expand per row then hash-agg - one exchange, no sort-agg") {
    val p = plan("e19_sliding_window")
    val exchanges = """\(\d+\) Exchange""".r.findAllIn(p).size
    assert(exchanges == 1, s"expected exactly 1 exchange (hash by window+type), got $exchanges:\n${p.take(800)}")
    assert(p.contains("HashAggregate"), p.take(800))
  }

  test("kmeans inertia (v22) aggregates in one pass - no join back to centers") {
    val p = plan("v22_kmeans_inertia")
    assert(!p.contains("Join"),
      s"centers are broadcast literals inside the per-row CASE - no join belongs here:\n${p.take(800)}")
    val exchanges = """\(\d+\) Exchange""".r.findAllIn(p).size
    assert(exchanges <= 1, s"one k-row agg exchange at most, got $exchanges")
  }

  test("dialect profile (s35) lowers to the generic-profile builder") {
    // sameResult is too strict here: RewriteDistinctAggregates assigns
    // the Expand's gid constants in a compilation-dependent order, so
    // two plans of the IDENTICAL query differ in gid numbering. Pin
    // the shape (one Expand + aggregate, no join, no extra exchange)
    // and exact row equality against the builder instead.
    val dialect = Registry.queries("s35_dialect_profile")(spark, sf0001)
    val builder = graft.queries.ApproxQueries.columnProfile(
      graft.core.Tables(spark, sf0001, "events"))
    val p = dialect.queryExecution.executedPlan.toString
    assert(p.contains("Expand") && p.contains("HashAggregate"), p.take(800))
    assert(!p.contains("Join"), p.take(800))
    assert(dialect.exceptAll(builder).count() == 0 &&
      builder.exceptAll(dialect).count() == 0,
      "dialect profile rows diverged from the columnProfile builder")
  }

  test("dialect WHERE prunes partitions of a partitioned dataset dir") {
    // the 100 TB layout: big tables land partitioned (by date/type);
    // a dialect filter on the partition column must become a
    // PARTITION filter (directories never listed), not a row filter
    val tmp = s"$suiteDir/part_events"
    graft.core.Tables(spark, sf0001, "events")
      .write.mode("overwrite").partitionBy("event_type").parquet(tmp)
    val g = graft.sql.GraftSession(spark, sf0001)
    val df = g.sql(s"select event_id from $tmp where event_type = 'click'")
    val scan = df.queryExecution.executedPlan.collectLeaves().head.toString
    assert(scan.contains("PartitionFilters: [") &&
      scan.replaceAll("(?s).*PartitionFilters: \\[([^\\]]*)\\].*", "$1")
        .contains("event_type"),
      s"partition filter missing from the scan:\n${scan.take(900)}")
    // and it actually prunes: only the click partition's rows surface
    val clicks = graft.core.Tables(spark, sf0001, "events")
      .filter(org.apache.spark.sql.functions.col("event_type") === "click").count()
    assert(df.count() == clicks)
  }

  test("shard layout (t32) is one shard-key exchange, never single-partition") {
    val p = plan("t32_shard_layout")
    assert(!p.contains("Exchange SinglePartition"),
      s"a global-sort shard layout would funnel the corpus:\n${p.take(800)}")
    val exchanges = """\(\d+\) Exchange""".r.findAllIn(p).size
    assert(exchanges == 1, s"expected exactly 1 exchange (hash by shard), got $exchanges")
  }

  test("source interleave (t33) shuffles data once; source index sides broadcast") {
    val p = plan("t33_source_interleave")
    assert(!p.contains("CartesianProduct"), p.take(800))
    // the docs-side window is the only data-cardinality exchange; the
    // source-index and n_src sides join via broadcast (the tiny
    // SinglePartition window runs on the bounded distinct-source set,
    // never on documents)
    assert(p.contains("BroadcastHashJoin"), "source index must broadcast")
    val dataExchanges = """\(\d+\) Exchange hashpartitioning\(source""".r
      .findAllIn(p).size
    assert(dataExchanges <= 2,
      s"documents may shuffle on source at most twice (window + join key), got:\n${p.take(1200)}")
  }

  test("binary codes (v25) are a pure per-row fold - zero exchanges") {
    val p = plan("v25_binary_codes")
    assert(!p.contains("Exchange"),
      s"sign-bit packing must not shuffle:\n${p.take(800)}")
  }

  test("hamming top-k (v26) broadcasts the query panel, never cartesian") {
    val p = plan("v26_hamming_topk")
    assert(!p.contains("CartesianProduct"), p.take(800))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      "query-code panel should broadcast")
    assert(p.contains("top_k_by"),
      "per-query top-k should fold into the bounded heap map-side")
  }

  test("weighted sample (x10) is a LIMIT-bounded TakeOrdered, never a global sort") {
    val p = plan("x10_weighted_sample")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-n by key must plan as TakeOrderedAndProject:\n${p.take(800)}")
    assert(!p.contains("Exchange rangepartitioning"),
      s"a range-partitioned global sort does not belong here:\n${p.take(800)}")
  }

  test("stratified weighted sample (x13) caps each group via WindowGroupLimit") {
    val p = plan("x13_grouped_weighted_sample")
    assert(p.contains("WindowGroupLimit"),
      s"the per-group rank cap must prune pre-shuffle:\n${p.take(800)}")
    assert(!p.contains("Exchange rangepartitioning"),
      s"no global sort belongs here:\n${p.take(800)}")
  }

  test("dialect weighted sample (s39) lowers to the exact x10 builder plan") {
    val dialect = Registry.queries("s39_dialect_weighted_sample")(spark, sf0001)
    val builder = graft.queries.ApproxQueries.weightedSample(
      graft.core.Tables(spark, sf0001, "documents")
        .select(org.apache.spark.sql.functions.col("doc_id"),
          org.apache.spark.sql.functions.col("n_chars")), "n_chars", 50)
    assert(dialect.queryExecution.optimizedPlan
      .sameResult(builder.queryExecution.optimizedPlan),
      "dialect weighted sample plan diverged from the x10 builder plan")
    assert(dialect.queryExecution.executedPlan.toString
      .contains("TakeOrderedAndProject"),
      "weighted sample must stay a LIMIT-bounded TakeOrdered")
  }

  test("dialect quantize (s40) lowers to the exact v25 builder plan; zero exchanges") {
    val dialect = Registry.queries("s40_dialect_quantize")(spark, sf0001)
    val builder = graft.queries.VectorQueries.binaryCodes(
      graft.core.Tables(spark, sf0001, "embeddings")
        .select(org.apache.spark.sql.functions.col("vec_id"),
          org.apache.spark.sql.functions.col("embedding")))
    assert(dialect.queryExecution.optimizedPlan
      .sameResult(builder.queryExecution.optimizedPlan),
      "dialect quantize plan diverged from the v25 builder plan")
    assert(!dialect.queryExecution.executedPlan.toString.contains("Exchange"),
      "quantize is per-row - no exchange belongs in its plan")
  }

  test("shingle novelty (t37) reuses the exploded-gram exchange; no doc pairs") {
    val q = Registry.queries("t37_shingle_novelty")(spark, sf0001)
    q.collect()
    val executed = q.queryExecution.executedPlan.toString
    assert(executed.contains("ReusedExchange"),
      s"gram explode must feed count + join through one exchange:\n${executed.take(800)}")
    assert(!executed.contains("CartesianProduct"))
  }

  test("zipf slope (t39): the only corpus-shaped work is the vocab agg; " +
    "the single-partition window rides the LIMIT-1000 head") {
    val p = plan("t39_zipf_slope")
    assert(p.contains("TakeOrderedAndProject"),
      s"the top-1000 vocab head must be a bounded TakeOrdered:\n${p.take(800)}")
    assert(!p.contains("CartesianProduct"), p.take(800))
  }

  test("bounded funnel (e23) stays on the as-of union scan - no range join") {
    val p = plan("e23_bounded_funnel")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"the deadline predicates must post-filter the as-of scan, not become a range join:\n${p.take(800)}")
  }

  test("word dispersion (t40) is bounded by the top-30 TakeOrdered") {
    val p = plan("t40_word_dispersion")
    assert(p.contains("TakeOrderedAndProject"), p.take(800))
    assert(!p.contains("Exchange rangepartitioning"),
      s"no global sort belongs here:\n${p.take(800)}")
  }

  test("k-means++ inertia (v29) assignment is one narrow pass, no join") {
    val q = Registry.queries("v29_kmeanspp_inertia")(spark, sf0001)
    val p = q.queryExecution
      .explainString(org.apache.spark.sql.execution.FormattedMode)
    // centers are literals inside the codegen'd assignment+distance;
    // the lazy plan is scan -> project -> one k-row aggregate
    assert(!p.contains("Join"), s"no join belongs in the inertia pass:\n${p.take(800)}")
    assert(!p.contains("CartesianProduct"), p.take(800))
  }

  test("curriculum shards (p10) aggregate to a shard-count frame before ranking") {
    val p = plan("p10_curriculum_shards")
    // the phase window's single partition holds 16 aggregated rows,
    // bounded by the shard-count constant - the corpus never funnels
    assert(!p.contains("CartesianProduct"), p.take(800))
    val dataExchanges = """\(\d+\) Exchange hashpartitioning\(shard""".r
      .findAllIn(p).size
    assert(dataExchanges <= 1,
      s"one shard-keyed exchange feeds the rollup:\n${p.take(1200)}")
  }

  test("rolling anomaly (e22) windows over the hourly frame, never events") {
    val p = plan("e22_rolling_anomaly")
    // one hash exchange for the hourly agg, one for the type-keyed
    // window over (types x hours) rows - no single-partition funnel
    assert(!p.contains("Exchange SinglePartition"), p.take(800))
    val exchanges = """\(\d+\) Exchange""".r.findAllIn(p).size
    assert(exchanges <= 2, s"expected <=2 exchanges, got $exchanges")
  }

  test("hamming re-rank (v31) broadcasts the shortlist gather - corpus never sort-merges") {
    val p = plan("v31_hamming_rerank")
    // the ~shortlist*q-row rank-limited shortlist must be the
    // broadcast side of the float-vector gather; an SMJ here would
    // shuffle-write the full float corpus at scale
    assert(!p.contains("SortMergeJoin"),
      s"shortlist gather must not sort-merge the corpus:\n${p.take(1200)}")
    assert(p.contains("BroadcastHashJoin"), p.take(800))
  }

  test("matryoshka re-rank (v32) broadcasts the shortlist gather - corpus never sort-merges") {
    val p = plan("v32_matryoshka_rerank")
    assert(!p.contains("SortMergeJoin"),
      s"shortlist gather must not sort-merge the corpus:\n${p.take(1200)}")
    assert(p.contains("BroadcastHashJoin"), p.take(800))
  }

  test("filtered search (v36): label predicate reaches the parquet scan, gather broadcasts") {
    val p = plan("v36_filtered_rerank")
    // the metadata filter must restrict the codes scan BEFORE any
    // distance math - post-filtering a full top-k both overpays and
    // under-fills k on selective predicates
    assert(p.contains("EqualTo(label,1)"),
      s"label filter should reach the scan:\n${p.take(1200)}")
    assert(!p.contains("SortMergeJoin"),
      s"shortlist gather must not sort-merge the corpus:\n${p.take(1200)}")
    assert(p.contains("BroadcastHashJoin"), p.take(800))
  }

  test("outlier scoring (v39): one narrow pass + TakeOrdered, zero joins/exchanges") {
    val p = plan("v39_centroid_outliers")
    assert(p.contains("TakeOrderedAndProject"),
      s"global top-k must be a bounded TakeOrdered:\n${p.take(800)}")
    // centers ride as broadcast-literal codegen'd expressions; the
    // corpus itself must never shuffle or join for the scoring pass
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin") &&
      !p.contains("Exchange hashpartitioning"),
      s"the scoring pass must stay narrow:\n${p.take(1200)}")
  }

  test("ivf repair (v41): one narrow scan, zero joins/exchanges") {
    // both center sets are broadcast literals inside codegen'd
    // expressions; the dirty-cell restriction is a per-row filter —
    // the whole repair is scan → filter → project, nothing wider.
    // Pin the UNDERLYING re-score plan (the registry's v41 output is
    // an eager local checkpoint — its plan is a block scan), built
    // over a live assignment exactly as ivfRepair composes it.
    import org.apache.spark.sql.functions.col
    val e = graft.core.Tables(spark, sf0001, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val old = VectorQueries.kmeansFit(e, 4, 2)
    val moved = VectorQueries.ivfRepairAssigned(
      VectorQueries.kmeansAssign(e, old), old,
      old.map { case (c, a) => (c, a.map(_ + 0.5)) }, 0.0)
    val p = moved.queryExecution
      .explainString(org.apache.spark.sql.execution.FormattedMode)
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin") &&
      !p.contains("Exchange"),
      s"the repair pass must stay narrow:\n${p.take(1200)}")
    // and the registry's checkpointed move list still carries rows
    assert(plan("v41_ivf_repair").nonEmpty)
  }

  test("streaming encodes (v42/v43) plan no state and no shuffle") {
    // stateless per-row encodes: the micro-batch plan must carry no
    // stateful operator and no exchange — ingest cost is O(batch)
    Seq("v42_pq_stream", "v43_binary_stream").foreach { name =>
      val out = Registry.queries(name)(spark, sf0001)
      assert(out.count() > 0, s"$name emitted nothing")
    }
    // plan-shape: the BATCH twin of the same encode is narrow
    import org.apache.spark.sql.functions.col
    val e = graft.core.Tables(spark, sf0001, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val books = VectorQueries.pqCodebooks(e, 64)
    val p = VectorQueries.pqEncode(e, books, 8).queryExecution
      .explainString(org.apache.spark.sql.execution.FormattedMode)
    assert(!p.contains("Exchange") && !p.contains("Join"),
      s"the encode projection must stay narrow:\n${p.take(1200)}")
  }

  test("partitioned IVF serving (v45) prunes to probed cells at the scan") {
    // the union of probed cells is a STATIC predicate on the hive
    // partition column, so the serving scan must carry a non-empty
    // PartitionFilters on `cell` — reading only probed cells' files
    // is the point of persisting the index partitioned by cell
    val p = plan("v45_partitioned_serve")
    val scanBlock = p.split("\n").filter(_.contains("PartitionFilters"))
    assert(scanBlock.exists(l => l.contains("cell") && !l.contains("[]")),
      s"the index scan must prune on the cell partition column:\n" +
        p.split("\n").filter(l => l.contains("Scan") ||
          l.contains("PartitionFilters")).mkString("\n"))
  }

  test("indexed repair (v46) prunes to dirty cells at the scan") {
    // the dirty set is a STATIC predicate on the hive partition
    // column: the re-score must read ONLY dirty cells' files — the
    // whole point of repairing off the persisted layout instead of
    // re-assigning the corpus (the round-10 62 s repair-vs-9 s
    // rebuild finding)
    val p = plan("v46_indexed_repair")
    val scanBlock = p.split("\n").filter(_.contains("PartitionFilters"))
    assert(scanBlock.exists(l => l.contains("cell") && !l.contains("[]")),
      s"the repair scan must prune on the cell partition column:\n" +
        p.split("\n").filter(l => l.contains("Scan") ||
          l.contains("PartitionFilters")).mkString("\n"))
    // and like v41, the re-score itself stays narrow — no join, no
    // exchange; the only wide op in the plan is the pruned scan
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin") &&
      !p.contains("Exchange"),
      s"indexed repair must stay narrow:\n${p.take(1200)}")
  }

  test("serve-query (s60) plan: pruned scan + broadcast panel, ZERO aggregates") {
    // routing reads the _centers sidecar (k·d driver rows), so the
    // serve plan itself must contain NO aggregate — before the
    // sidecar, every serve call paid a full-index VecMeanAgg just to
    // route its batch (the round-11 `weak` finding). The gather reads
    // only probed cells' files (PartitionFilters on the hive column)
    // and the query panel rides as the broadcast side.
    val p = plan("s60_dialect_serve_query")
    val scanBlock = p.split("\n").filter(_.contains("PartitionFilters"))
    assert(scanBlock.exists(l => l.contains("cell") && !l.contains("[]")),
      s"the serving scan must prune on the cell partition column:\n" +
        p.split("\n").filter(l => l.contains("Scan") ||
          l.contains("PartitionFilters")).mkString("\n"))
    assert(p.contains("BroadcastHashJoin"),
      s"the query panel must broadcast onto the pruned gather:\n${p.take(1200)}")
    assertOnlyTopKAggregates(p,
      "serve must not re-aggregate the index — routing is sidecar-driven; " +
        "the only aggregate is the bounded per-query top-k heap")
  }

  /** The serving plans' aggregate contract: the ONLY aggregates are
    * the bounded top_k_by heaps (ObjectHashAggregate) — never a
    * corpus mean/sort aggregate (routing is sidecar-driven, and the
    * rank-window sort was replaced by the heap in r14). */
  private def assertOnlyTopKAggregates(p: String, msg: String): Unit = {
    assert(p.contains("ObjectHashAggregate") && p.contains("top_k_by"),
      s"$msg — expected the top_k_by heap aggregate:\n${p.take(1500)}")
    assert("(?<!Object)HashAggregate".r.findFirstIn(p).isEmpty &&
      !p.contains("SortAggregate"),
      s"$msg — found a non-top-k aggregate:\n${p.take(1500)}")
    // and the candidate frame is never globally sorted: the heap's
    // whole point is that nothing larger than k gets ordered
    assert(!p.contains("WindowGroupLimit") && """\(\d+\) Window\b""".r.findFirstIn(p).isEmpty,
      s"$msg — the rank window (and its local sort) must be gone:\n${p.take(1500)}")
  }

  test("pq serve (s64/v50): the gather's per-cell flip picks full scans at this geometry") {
    // the dialect serve passes the sidecar's occupancy counts into the
    // gather's per-cell pushed-vs-full decision. At sf0.001 the cells
    // are ~2 pages each and the winner set rivals that — so pushing
    // per-id predicates would read the same pages with plan overhead
    // on top, and the CORRECT adaptive outcome is the full-cell
    // broadcast gather (no per-id equality terms). The pushed shape
    // itself is pinned on a large-cell geometry in the next test.
    val p = plan("s64_dialect_serve_pq")
    val pushed = p.split("\n").filter(_.contains("PushedFilters")).mkString("\n")
    assert(!pushed.contains("EqualTo(vec_id") && !pushed.contains("In(vec_id"),
      s"tiny cells must flip to full-cell scans, not per-id pushes:\n$pushed")
    // still partition-pruned to the probed cells, panel broadcast
    val parts = p.split("\n").filter(_.contains("PartitionFilters"))
    assert(parts.exists(l => l.contains("cell") && !l.contains("[]")),
      s"the gather must stay pruned to probed cells:\n${parts.mkString("\n")}")
    // the gather reads (vec_id, embedding) only — codes never re-load
    val reads = p.split("\n").filter(_.contains("ReadSchema")).mkString("\n")
    assert(!reads.contains("pq:array"),
      s"the gather must not re-read the codes column:\n$reads")
    assert(p.contains("BroadcastHashJoin"))
    assertOnlyTopKAggregates(p,
      "pq serve must not re-aggregate — routing and books are sidecar-driven")
  }

  test("pq serve: large cells push winner ids per cell (the latency shape)") {
    // the round-12 `weak` finding: a broadcast join pushes NO vec_id
    // predicate into the parquet scan, so the re-rank used to re-read
    // every probed cell's embedding column — the same bytes exact
    // serving reads once. When a cell's winner count is small against
    // its page count, each winner id must reach the gather as a pushed
    // per-id predicate on its own cell's scan branch — per-cell
    // because a cell's members are sparse in the id space (a corpus-
    // wide id set overlaps every page's id range). Since r16 the
    // catalyst-side shape is one `In` per branch; at or below
    // parquet.pushdown.inFilterThreshold ParquetFilters expands it to
    // the same or-of-eq FilterApi predicate the old EqualTo chain
    // pushed, so the column index still skips at page level per id
    // (servePq raises the threshold to the wave budget while its eager
    // waves scan; a single lazy wave scans under the session's own
    // threshold). Occupancy is supplied
    // as large so the per-cell flip keeps every cell pushed — the
    // 100 TB geometry, where cells are millions of rows.
    import org.apache.spark.sql.functions._
    import graft.operators.IvfIndex
    val e = graft.core.Tables(spark, sf0001, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val path = s"$suiteDir/planspec_pqpush"
    IvfIndex.build(e, path, pq = true)
    val side = IvfIndex.readSidecar(spark, path).get
    val q = e.filter(col("vec_id") % 17 === 5)
      .select((col("vec_id") + lit(1000000L)).as("q_id"),
        col("embedding").as("q_emb"))
    val panel = q.select(col("q_id"), col("q_emb"),
      graft.functions.VectorExprs.nearest_centroid(
        col("q_emb"), side.refresh, side.dim).as("cell"))
    val bigCells = side.counts.keys.map(_ -> 10000000L).toMap
    val served = IvfIndex.servePq(IvfIndex.readFull(spark, path), q, panel,
      5, 20, side.serving, side.books, cellRows = bigCells)
    val p = served.queryExecution
      .explainString(org.apache.spark.sql.execution.FormattedMode)
    val pushed = p.split("\n").filter(_.contains("PushedFilters")).mkString("\n")
    // r16: the pushed shape is one In per (cell, wave-slice); Spark's
    // ParquetFilters expands an In at or below
    // parquet.pushdown.inFilterThreshold into the SAME or-of-eq
    // FilterApi predicate the old per-id EqualTo chain produced
    // (servePq raises the threshold to the wave budget while its eager
    // waves scan), so page-level skipping via the
    // column index is unchanged — the catalyst tree just stops paying
    // thousands of Or nodes per serve call
    assert(pushed.contains("In(vec_id"),
      s"the re-rank gather must push winner-id In filters:\n$pushed")
    // each gather branch is pinned to ONE cell (EqualTo on the
    // partition column), not the probed union
    val parts = p.split("\n").filter(_.contains("PartitionFilters"))
    assert(parts.exists(l => l.contains("(cell#") || l.contains("cell =") ||
        l.contains("EqualTo(cell")),
      s"gather branches must prune to single cells:\n${parts.mkString("\n")}")
    assert(p.contains("Union"),
      "the pushed gather is a union of per-cell scan branches")
    // the gather reads (vec_id, embedding) only — codes never re-load
    val reads = p.split("\n").filter(_.contains("ReadSchema")).mkString("\n")
    assert(!reads.contains("pq:array"),
      s"the gather must not re-read the codes column:\n$reads")
    assert(p.contains("BroadcastHashJoin"))
    assertOnlyTopKAggregates(p,
      "pq serve must not re-aggregate — routing and books are sidecar-driven")
  }

  test("pq shortlist stage scans codes only, never embeddings") {
    // the other half of the PQ scan-byte story (the shortlist pass
    // now evaluates eagerly inside servePq, so its scan shape is
    // pinned on the stage directly): ONLY (vec_id, pq) of the probed
    // cells load — ~8 B of codes per vector vs 256 B of floats
    import org.apache.spark.sql.functions._
    import graft.operators.IvfIndex
    val e = graft.core.Tables(spark, sf0001, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val path = s"$suiteDir/planspec_pqshort"
    IvfIndex.build(e, path, pq = true)
    val side = IvfIndex.readSidecar(spark, path).get
    val panel = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        graft.functions.VectorExprs.nearest_centroid(
          col("q_emb"), side.refresh, side.dim).as("cell"))
    val probed = panel.select(col("cell")).distinct().collect()
      .map(_.getLong(0)).sorted.toSeq
    val pruned = IvfIndex.readFull(spark, path)
      .filter(col("cell").isin(probed: _*))
    val p = IvfIndex.pqShortlist(pruned, panel, 20, side.serving, side.books)
      .queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
    val shortReads = p.split("\n").filter(l =>
      l.contains("ReadSchema") && l.contains("pq:array"))
    assert(shortReads.nonEmpty && shortReads.forall(!_.contains("embedding")),
      s"expected a codes-only scan (vec_id + pq, no embedding):\n" +
        p.split("\n").filter(_.contains("ReadSchema")).mkString("\n"))
    val scans = p.split("\n").filter(_.contains("PartitionFilters"))
    assert(scans.exists(l => l.contains("cell") && !l.contains("[]")),
      "the code scan must prune to probed cells")
    // the broadcast panel carries the 256 B float residual, never the
    // ~1 KB materialized m·k-double LUT (round-15: the fused ADC
    // re-derives each candidate's distance off the residual — panel
    // broadcast weight drops ~4-5× at serving-cap batches, and the
    // hot loop neither allocates nor hashes)
    assert(!p.contains("lut#"),
      s"no plan column may carry a materialized LUT:\n" +
        p.split("\n").filter(_.contains("lut")).mkString("\n"))
    assert(p.contains("qres#"),
      "the broadcast side must carry the float residual column")
    assert(p.contains("adc_direct"),
      "ADC must score through the fused residual expression")
  }

  test("video near-dup (m06) aggregates signature counts, never pairs") {
    val p = plan("m06_video_neardup")
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin") &&
      !p.contains("CartesianProduct"),
      s"m06 must never join videos pairwise:\n${p.take(1200)}")
    // two keyed aggs: signature counts then the 1-row rollup
    assert(p.contains("HashAggregate"), p.take(800))
  }
}
