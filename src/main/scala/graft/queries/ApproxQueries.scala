package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.Tables

/** Approximate/sketch operators — the 100 TB scale path next to the
  * exact forms (HLL instead of exact count-distinct's full shuffle of
  * keys; t-digest-style quantiles instead of a global sort).
  *
  * Sketch VALUES are engine-specific, so they can't hash-match a
  * foreign oracle. Instead each query SELF-GATES: it computes the
  * exact answer alongside the sketch and emits boolean within-bounds
  * columns (plus the exact values where they're deterministic); the
  * oracle asserts the exact values and literal `true` for the bounds,
  * so a sketch drifting out of tolerance flips the hash gate red. */
object ApproxQueries {

  /** Pairwise Pearson correlation over an ARBITRARY numeric column
    * panel. Every moment (n, Σx, Σx², Σxy) flows through Det decimal,
    * so the sums are exact on any partitioning and r is a fixed dag of
    * correctly-rounded IEEE ops — deterministic without a tolerance.
    *
    * Two shapes, chosen by panel width (x08's round-6 audit point:
    * the 4-column version hardcoded ONE aggregate; a k~100 panel would
    * make that a 5,000-column aggregate and break codegen):
    *  - small panels (moment count ≤ maxAggWidth): ONE map-side-
    *    combined aggregate emitting k + k(k-1)/2 scalars — the gated
    *    x08 plan, unchanged;
    *  - wide panels: column-BLOCK chunking. Cols split into blocks of
    *    m ≈ √maxAggWidth; one aggregate per block pair (i ≤ j) emits
    *    that block pair's ≤ m² cross-moments and scans only the ≤ 2m
    *    member columns (parquet column pruning keeps each pass narrow),
    *    plus ⌈2k/maxAggWidth⌉ base-moment passes. Aggregate width stays
    *    ≤ maxAggWidth everywhere; the pair explosion still happens on
    *    1-row aggregates, never on data. ~(k/m)²/2 passes total — the
    *    standard wide-correlation trade: narrow scans over one
    *    unbuildable mega-aggregate.
    * Equivalence of the two shapes is pinned in ApproxSpec. */
  def correlationMatrix(df: org.apache.spark.sql.DataFrame, cols: Seq[String],
      maxAggWidth: Int = 200): org.apache.spark.sql.DataFrame = {
    import graft.core.Det
    import org.apache.spark.sql.{Column, DataFrame}
    require(cols.size >= 2, "correlation panel needs at least 2 columns")
    require(cols.distinct.size == cols.size, "panel columns must be distinct")
    val k = cols.size

    def rStruct(a: String, b: String): Column = {
      val n = col("n").cast(DoubleType)
      val cov = n * col(s"sp_${a}_$b") - col(s"s_$a") * col(s"s_$b")
      val vx = n * col(s"ss_$a") - col(s"s_$a") * col(s"s_$a")
      val vy = n * col(s"ss_$b") - col(s"s_$b") * col(s"s_$b")
      struct(lit(a).as("c1"), lit(b).as("c2"),
        col("n").as("n"), (cov / (sqrt(vx) * sqrt(vy))).as("r"))
    }
    def explodePairs(oneRow: DataFrame, ps: Seq[(String, String)]): DataFrame =
      oneRow.select(explode(array(ps.map { case (a, b) => rStruct(a, b) }: _*))
        .as("p")).select(col("p.*"))

    val allPairs = cols.combinations(2).map { case Seq(a, b) => (a, b) }.toSeq
    if (1 + 2 * k + allPairs.size <= maxAggWidth) {
      // fused single-aggregate shape (the gated x08 plan)
      val sums = df.agg(
        count(lit(1)).as("n"),
        (cols.map(c => Det.dsum(col(c)).as(s"s_$c")) ++
          cols.map(c => Det.dsum(col(c) * col(c)).as(s"ss_$c")) ++
          allPairs.map { case (a, b) =>
            Det.dsum(col(a) * col(b)).as(s"sp_${a}_$b") }): _*)
      explodePairs(sums, allPairs)
    } else {
      // base moments in ≤ maxAggWidth-wide chunks, 1-row frames
      // crossJoin(broadcast)-combined (n travels in the first chunk)
      val base = cols.grouped(math.max(1, maxAggWidth / 2)).toSeq
        .zipWithIndex.map { case (g, gi) =>
          val moments = g.flatMap(c => Seq(
            Det.dsum(col(c)).as(s"s_$c"),
            Det.dsum(col(c) * col(c)).as(s"ss_$c")))
          if (gi == 0) df.agg(count(lit(1)).as("n"), moments: _*)
          else df.agg(moments.head, moments.tail: _*)
        }.reduce((a, b) => a.crossJoin(broadcast(b)))
      // block-pair cross moments: block size m ⇒ ≤ m² agg columns and
      // ≤ 2m scanned columns per pass
      val m = math.max(1, math.sqrt(maxAggWidth.toDouble).toInt)
      val pos = cols.zipWithIndex.toMap
      val blocks = cols.grouped(m).toSeq
      val parts = for {
        i <- blocks.indices
        j <- i until blocks.size
        ps = for { a <- blocks(i); b <- blocks(j) if pos(a) < pos(b) }
          yield (a, b)
        if ps.nonEmpty
      } yield {
        val sp = df.agg(
          Det.dsum(col(ps.head._1) * col(ps.head._2))
            .as(s"sp_${ps.head._1}_${ps.head._2}"),
          ps.tail.map { case (a, b) =>
            Det.dsum(col(a) * col(b)).as(s"sp_${a}_$b") }: _*)
        explodePairs(sp.crossJoin(broadcast(base)), ps)
      }
      parts.reduce(_.unionByName(_))
    }
  }

  val all: Seq[Q] = Seq(

    // HLL++ distinct counts, rsd = 2%; gate: |approx−exact| ≤ 3·rsd·exact
    Q("x01_approx_distinct",
      (s, dir) => {
        val a = Tables(s, dir, "lineitem").agg(
          approx_count_distinct(col("l_partkey"), rsd = 0.02).as("ap"),
          approx_count_distinct(col("l_suppkey"), rsd = 0.02).as("asu"),
          countDistinct(col("l_partkey")).as("exact_parts"),
          countDistinct(col("l_suppkey")).as("exact_supps"))
        a.select(
          col("exact_parts"), col("exact_supps"),
          (abs(col("ap") - col("exact_parts")).cast(DoubleType) <=
            lit(3 * 0.02) * col("exact_parts").cast(DoubleType)).as("parts_ok"),
          (abs(col("asu") - col("exact_supps")).cast(DoubleType) <=
            lit(3 * 0.02) * col("exact_supps").cast(DoubleType)).as("supps_ok"))
      },
      Some("""SELECT CAST(count(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
             |CAST(count(DISTINCT l_suppkey) AS BIGINT) AS exact_supps,
             |true AS parts_ok, true AS supps_ok FROM lineitem""".stripMargin)),

    // approx percentiles (accuracy 10000 ⇒ rank error ~1e-4); gate:
    // the sketch value must land between the exact quantiles at
    // p ± 10× the rank-error bound
    Q("x02_approx_quantiles",
      (s, dir) => {
        val a = Tables(s, dir, "lineitem").agg(
          percentile_approx(col("l_extendedprice"), lit(0.5), lit(10000)).as("a50"),
          percentile_approx(col("l_extendedprice"), lit(0.99), lit(10000)).as("a99"),
          expr("percentile(l_extendedprice, 0.499)").as("lo50"),
          expr("percentile(l_extendedprice, 0.501)").as("hi50"),
          expr("percentile(l_extendedprice, 0.989)").as("lo99"),
          expr("percentile(l_extendedprice, 0.991)").as("hi99"))
        a.select(
          (col("a50") >= col("lo50") && col("a50") <= col("hi50")).as("p50_ok"),
          (col("a99") >= col("lo99") && col("a99") <= col("hi99")).as("p99_ok"))
      },
      Some("SELECT true AS p50_ok, true AS p99_ok FROM (SELECT 1)"))
  ) ++ profile

  // Column profiling (the SUMMARIZE every ingest pipeline runs before
  // trusting a new drop of data): per-column row count, nulls,
  // exact distinct, min/max/mean — computed in ONE aggregation pass
  // over the table (a single agg row carrying every metric, exploded
  // to per-column rows afterward; the multi-distinct expand is the
  // only data amplification and is Catalyst's standard planning for
  // it). Means run through Det decimal so the gate hash-matches.
  private def profCols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")

  /** Generic per-column profile of ANY frame — x03's one-pass shape
    * lifted to arbitrary schemas for the `profile` dialect statement:
    * row count, nulls, exact distinct per column, min/max/mean (as
    * DOUBLE, numeric columns only — non-numerics profile counts and
    * get NULL stats). ONE aggregation pass; the multi-distinct Expand
    * is the only amplification and is bounded by the column count (a
    * catalog constant), never the data. */
  def columnProfile(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val numeric: Set[String] = df.schema.fields.collect {
      case f if f.dataType.isInstanceOf[NumericType] => f.name
    }.toSet
    val cols = df.columns.toSeq
    val aggs = count(lit(1)).as("__n") +: cols.flatMap { c =>
      val base = Seq(count(col(c)).as(s"__cnt_$c"),
        countDistinct(col(c)).as(s"__nd_$c"))
      if (numeric(c)) base ++ Seq(
        min(col(c)).cast(DoubleType).as(s"__min_$c"),
        max(col(c)).cast(DoubleType).as(s"__max_$c"),
        graft.core.Det.davg(col(c)).as(s"__mean_$c"))
      else base
    }
    val one = df.agg(aggs.head, aggs.tail: _*)
    def statOrNull(c: String, stat: String) =
      if (numeric(c)) col(s"__${stat}_$c") else lit(null).cast(DoubleType)
    one.select(explode(array(cols.map { c =>
      struct(lit(c).as("col_name"),
        col("__n").as("n"),
        (col("__n") - col(s"__cnt_$c")).as("n_null"),
        col(s"__nd_$c").as("n_distinct"),
        statOrNull(c, "min").as("min_v"),
        statOrNull(c, "max").as("max_v"),
        statOrNull(c, "mean").as("mean_v"))
    }: _*)).as("p")).select(col("p.*"))
  }

  /** DuckDB mirror of [[columnProfile]]: one UNION ALL branch per
    * column; `cols` carries (name, isNumeric). */
  def columnProfileOracle(table: String, cols: Seq[(String, Boolean)]): String =
    cols.map { case (c, num) =>
      val stats =
        if (num)
          s"""CAST(min($c) AS DOUBLE) AS min_v, CAST(max($c) AS DOUBLE) AS max_v,
             |${graft.core.Det.sql.davg(c)} AS mean_v""".stripMargin
        else
          """CAST(NULL AS DOUBLE) AS min_v, CAST(NULL AS DOUBLE) AS max_v,
            |CAST(NULL AS DOUBLE) AS mean_v""".stripMargin
      s"""SELECT '$c' AS col_name, CAST(count(*) AS BIGINT) AS n,
         |CAST(count(*) - count($c) AS BIGINT) AS n_null,
         |CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct,
         |$stats FROM $table""".stripMargin
    }.mkString("\nUNION ALL\n")

  private def profile: Seq[Q] = {
    import org.apache.spark.sql.functions._
    Seq(Q("x03_column_profile",
      (s, dir) => {
        val li = graft.core.Tables(s, dir, "lineitem")
        val aggs = count(lit(1)).as("__n") +: profCols.flatMap { c =>
          Seq(count(col(c)).as(s"__cnt_$c"),
            countDistinct(col(c)).as(s"__nd_$c"),
            min(col(c)).as(s"__min_$c"),
            max(col(c)).as(s"__max_$c"),
            graft.core.Det.davg(col(c)).as(s"__mean_$c"))
        }
        val one = li.agg(aggs.head, aggs.tail: _*)
        one.select(explode(array(profCols.map { c =>
          struct(lit(c).as("col_name"),
            col("__n").as("n"),
            (col("__n") - col(s"__cnt_$c")).as("n_null"),
            col(s"__nd_$c").as("n_distinct"),
            col(s"__min_$c").as("min_v"),
            col(s"__max_$c").as("max_v"),
            col(s"__mean_$c").as("mean_v"))
        }: _*)).as("p")).select(col("p.*"))
      },
      Some {
        val branches = profCols.map { c =>
          s"""SELECT '$c' AS col_name, CAST(count(*) AS BIGINT) AS n,
             |CAST(count(*) - count($c) AS BIGINT) AS n_null,
             |CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct,
             |min($c) AS min_v, max($c) AS max_v,
             |${graft.core.Det.sql.davg(c)} AS mean_v FROM lineitem""".stripMargin
        }
        branches.mkString("\nUNION ALL\n")
      })) ++ Seq(

    // Bloom-filter decontamination — the scale path when the benchmark
    // / blocklist side is too big for a broadcast-hash-join relation
    // (t09's shape): one serialized sketch per executor instead. Same
    // self-gate idea as x01/x02: the exact overlap is computed
    // alongside and the sketch's guarantees become boolean columns the
    // oracle asserts literally — superset_ok pins "no false negatives"
    // (a bloom law, deterministic), fp_ok pins the false-positive count
    // under a bound with astronomic margin (n_probes·fpp expected).
    Q("x04_bloom_decontam",
      (s, dir) => {
        import graft.functions.TextFunctions._
        val sh = Tables(s, dir, "documents").select(col("doc_id"),
          explode(array_distinct(
            shinglesFromHashes(tokenHashes(col("text")), 3))).as("sh"))
        val bench = sh.filter(col("doc_id") < 5).select(col("sh")).distinct()
        val bloom = bench.agg(graft.core.Bloom.bloomAgg(col("sh"), 4096L).as("bf"))
        val corpus = sh.filter(col("doc_id") >= 5)
        val maybe = corpus
          .withColumn("hit", graft.core.Bloom.mightContain(bloom, col("sh")))
          .groupBy("doc_id").agg(
            count(lit(1)).as("n_probes"),
            sum(when(col("hit"), 1L).otherwise(0L)).as("n_maybe"))
        val exacts = corpus.join(broadcast(bench), "sh")
          .groupBy("doc_id").agg(count(lit(1)).as("n_exact"))
        maybe.join(exacts, Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("n_exact"), lit(0L)).as("n_exact"),
            (col("n_maybe") >= coalesce(col("n_exact"), lit(0L))).as("superset_ok"),
            (col("n_maybe") <= coalesce(col("n_exact"), lit(0L)) +
              greatest(lit(10L), col("n_probes") / 5)).as("fp_ok"))
      },
      Some {
        val th = graft.queries.OracleSql.tokenHashes("text")
        s"""WITH t AS (SELECT doc_id, $th AS th FROM documents),
           |sh AS (SELECT doc_id, unnest(list_distinct(${graft.queries.OracleSql.shingles(3)})) AS s FROM t),
           |bench AS (SELECT DISTINCT s FROM sh WHERE doc_id < 5),
           |ex AS (SELECT doc_id, count(*) AS n_exact FROM sh JOIN bench USING (s)
           |       WHERE doc_id >= 5 GROUP BY doc_id)
           |SELECT d.doc_id, CAST(coalesce(ex.n_exact, 0) AS BIGINT) AS n_exact,
           |  true AS superset_ok, true AS fp_ok
           |FROM (SELECT DISTINCT doc_id FROM sh WHERE doc_id >= 5) d
           |LEFT JOIN ex USING (doc_id)""".stripMargin
      }),

    // Count-min-sketch heavy hitters — per-key frequency when the key
    // domain is too large to groupBy exactly (per-URL counts over a
    // crawl). Same self-gate idea: the exact top-10 is computed
    // alongside and the sketch's guarantees become boolean columns —
    // ge_ok pins "never an underestimate" (a CMS law, deterministic),
    // err_ok pins the overestimate under 3·eps·N (holds w.p. ≥ conf
    // per probe; astronomic margin at depth 7). The sketch arrives at
    // the probe as a scalar subquery — executed once, shipped to every
    // task — and N rides in on a broadcast single-row count.
    Q("x05_cms_heavy_hitters",
      (s, dir) => {
        val eps = 0.001
        val ev = Tables(s, dir, "events")
        val sketch = ev.agg(graft.core.Cms.agg(col("user_id"), eps).as("cms"))
        val total = ev.agg(count(lit(1)).as("n_total"))
        val est = graft.core.Cms.estimate(sketch, col("user_id"))
        ev.groupBy("user_id").agg(count(lit(1)).as("n_exact"))
          .orderBy(col("n_exact").desc, col("user_id").asc).limit(10)
          .crossJoin(broadcast(total))
          .select(col("user_id"), col("n_exact"),
            (est >= col("n_exact")).as("ge_ok"),
            (est <= col("n_exact") + greatest(lit(10L),
              (lit(3 * eps) * col("n_total")).cast(LongType))).as("err_ok"))
      },
      Some("""SELECT user_id, CAST(count(*) AS BIGINT) AS n_exact,
             |true AS ge_ok, true AS err_ok
             |FROM events GROUP BY user_id
             |ORDER BY n_exact DESC, user_id ASC LIMIT 10""".stripMargin)),

    // Fixed-width histogram — the distribution profile every ingest
    // run wants next to x03's moments. The bucket key is pure per-row
    // arithmetic (floor(value/25)), so the whole thing is one groupBy
    // with map-side combine: bucket count is bounded by the value
    // range, never the row count, and no sort or second pass happens
    // anywhere. Works unchanged at any scale factor because the key
    // derives from the value, not from observed min/max.
    Q("x06_histogram",
      (s, dir) => Tables(s, dir, "events")
        .groupBy(floor(col("value") / 25.0).cast(LongType).as("bucket"))
        .agg(count(lit(1)).as("n"),
          graft.core.Det.dsum(col("value")).as("sum_value"),
          min(col("value")).as("min_value"),
          max(col("value")).as("max_value")),
      Some(s"""SELECT CAST(floor(value / 25.0) AS BIGINT) AS bucket,
              |CAST(count(*) AS BIGINT) AS n,
              |${graft.core.Det.sql.dsum("value")} AS sum_value,
              |min(value) AS min_value, max(value) AS max_value
              |FROM events GROUP BY 1""".stripMargin)),

    // GROUPED approximate quantiles — x02's sketch path per key (the
    // per-language/per-source length distribution every mixing report
    // wants). One hash aggregation carries a t-digest-style sketch per
    // group — bounded state per key vs t22's exact path, the right
    // trade when the group count is large and the value domain
    // unbounded. Same self-gate: exact per-group stats hash-match;
    // the sketch's median lands between the exact 0.45/0.55 quantiles
    // or the literal-true booleans flip the gate red.
    Q("x07_grouped_quantiles",
      (s, dir) => {
        val a = Tables(s, dir, "documents").groupBy(col("lang")).agg(
          count(lit(1)).as("n"),
          min(col("n_chars")).as("min_nc"),
          max(col("n_chars")).as("max_nc"),
          percentile_approx(col("n_chars"), lit(0.5), lit(10000)).as("a50"),
          expr("percentile(n_chars, 0.45)").as("lo50"),
          expr("percentile(n_chars, 0.55)").as("hi50"))
        a.select(col("lang"), col("n"), col("min_nc"), col("max_nc"),
          (col("a50").cast(DoubleType) >= col("lo50") &&
            col("a50").cast(DoubleType) <= col("hi50")).as("p50_ok"))
      },
      Some("""SELECT lang, CAST(count(*) AS BIGINT) AS n,
             |min(n_chars) AS min_nc, max(n_chars) AS max_nc,
             |true AS p50_ok
             |FROM documents GROUP BY lang""".stripMargin)),

    // Pairwise Pearson correlation over lineitem's numeric columns —
    // [[correlationMatrix]] with a 4-column panel, which takes the
    // fused ONE-aggregate shape (k + k(k-1)/2 scalars, map-side
    // combined; the pair explosion happens on the 1-row aggregate,
    // never on data). Wide panels switch to the chunked block-pair
    // shape — equivalence pinned in ApproxSpec, probed at k=32 in
    // SCALE_r7.
    Q("x08_correlation",
      (s, dir) => correlationMatrix(Tables(s, dir, "lineitem"),
        Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")),
      Some {
        val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
        def ds(x: String) = s"CAST(SUM(CAST(($x) AS DECIMAL(38,6))) AS DOUBLE)"
        val aggs = (Seq("CAST(count(*) AS BIGINT) AS n") ++
          cols.map(c => s"${ds(c)} AS s_$c") ++
          cols.map(c => s"${ds(s"$c * $c")} AS ss_$c") ++
          cols.combinations(2).map { case Seq(a, b) =>
            s"${ds(s"$a * $b")} AS sp_${a}_$b" }.toSeq).mkString(", ")
        val branches = cols.combinations(2).map { case Seq(a, b) =>
          s"""SELECT '$a' AS c1, '$b' AS c2, n,
             |  (CAST(n AS DOUBLE) * sp_${a}_$b - s_$a * s_$b)
             |  / (sqrt(CAST(n AS DOUBLE) * ss_$a - s_$a * s_$a)
             |     * sqrt(CAST(n AS DOUBLE) * ss_$b - s_$b * s_$b)) AS r
             |FROM sums""".stripMargin
        }.mkString("\nUNION ALL\n")
        s"WITH sums AS (SELECT $aggs FROM lineitem)\n$branches"
      }),

    // Grouped approximate distinct — x01's HLL scale path PER KEY
    // (distinct users per event type; distinct URLs per domain at
    // crawl scale). The sketch state is w registers per group —
    // map-side partial merge collapses rows before the exchange, so
    // the shuffle is #groups-sized where an exact count-distinct
    // expands to (group, user) pairs. Gate: exact per-group distinct
    // hash-checked, the sketch pinned inside 3·rsd of it (x01's
    // bound, per group).
    Q("x09_grouped_approx_distinct",
      (s, dir) => Tables(s, dir, "events")
        .groupBy(col("event_type")).agg(
          countDistinct(col("user_id")).as("exact_users"),
          approx_count_distinct(col("user_id"), rsd = 0.02).as("ap"))
        .select(col("event_type"), col("exact_users"),
          (abs(col("ap") - col("exact_users")).cast(DoubleType) <=
            lit(3 * 0.02) * col("exact_users").cast(DoubleType)).as("users_ok")),
      Some("""SELECT event_type,
             |CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
             |true AS users_ok FROM events GROUP BY event_type""".stripMargin)),

    // Weighted sampling without replacement (Efraimidis–Spirakis
    // A-ES): each doc gets key = ln(u)/w with u a DETERMINISTIC
    // hash-uniform in (0,1] and w = n_chars; the global top-100 keys
    // ARE an exact weighted sample — reproducible on any cluster size
    // (never RNG, the t05/t06 discipline applied to weighted draws).
    // The key is per-row arithmetic; the only global step is a
    // LIMIT-bounded TakeOrderedAndProject, so 100 TB streams through
    // one narrow pass and ships 100 rows. The ln(u) libm call feeds a
    // DECIMAL(38,6) rounding that absorbs sub-1e-6 engine deltas
    // BEFORE the ordering (t24's rounded-ordering-key pattern);
    // doc_id breaks the remaining exact ties.
    Q("x10_weighted_sample",
      (s, dir) => weightedSample(
        Tables(s, dir, "documents").select(col("doc_id"), col("n_chars")),
        "n_chars", 100),
      Some(weightedSampleOracle("n_chars", 100))),

    // Stratified weighted sampling — x10's draw run independently
    // inside every source (per-source quotas × weight-proportional
    // selection, the balanced fine-tune mix builder). Group-keyed
    // rank window ⇒ WindowGroupLimit prunes each group pre-shuffle
    // (pinned); never a global sort, never RNG.
    Q("x13_grouped_weighted_sample",
      (s, dir) => groupedWeightedSample(
        Tables(s, dir, "documents")
          .select(col("source"), col("doc_id"), col("n_chars")),
        "source", "n_chars", 10),
      Some(groupedWeightedSampleOracle("source", "n_chars", 10))),

    // Exponentially-decayed event counts (half-life 1 day against the
    // stream head) — the freshness-weighted popularity score feeds and
    // trending rankers use, where yesterday's click counts half. Pure
    // per-row weight 2^(Δdays) against a broadcast 1-row max-ts; the
    // per-row pow() libm call feeds the Det decimal sum (t24's
    // pattern), so the per-type scores are hash-exact cross-engine.
    // One map-side-combined agg — at 100 TB this is a scan, a
    // k-type-row aggregate, nothing else.
    Q("x11_decayed_counts",
      (s, dir) => decayedCountsBatch(Tables(s, dir, "events")),
      Some(decayedOracle)),

    // x11's STREAMING twin as a driver-visible gate: the decay
    // reference is frozen batch-side (one max-ts lookup — a feed
    // ranker refreshes it per rollout, not per event), then the
    // stream's per-row 2^Δdays weights flow into the same Det decimal
    // sum as an UNWINDOWED complete-mode aggregation — state is k
    // type rows, however long the stream runs. Hash-gated against
    // x11's own oracle: continuous popularity scoring ≡ batch
    // bit-for-bit.
    Q("x12_decayed_stream",
      (s, dir) => {
        val refMicros = Tables(s, dir, "events")
          .agg(unix_micros(max(col("ts"))).as("m")).collect().head.getLong(0)
        graft.streaming.StreamingOps.runToTable(s,
          graft.streaming.StreamingOps.decayedCounts(
            graft.streaming.StreamingOps.readEvents(s, dir), refMicros),
          "complete", "graft_x12_sink_")
      },
      Some(decayedOracle)),

    // Embedding distribution drift (PSI) — the dataset-shift monitor
    // a training pipeline runs between corpus snapshots before
    // retraining on the new one: per-dimension population stability
    // index between a reference and a current snapshot (here the
    // deterministic vec_id-parity halves of the fixture — the builder
    // takes ANY two (embedding) frames). Per-row work is a fixed-edge
    // bucket CASE over the first 8 dims; each side then collapses to
    // ONE map-side-combined (dim, bucket) count aggregate (≤ 48 rows
    // per side regardless of corpus size) and all the PSI math —
    // Laplace-smoothed proportions, ln ratios, the 0.2 alert
    // threshold — runs on that tiny frame. The ln() libm terms flow
    // through the Det decimal sum (t24's pattern) so psi is
    // hash-exact cross-engine. At 100 TB: two narrow scans, two
    // 48-row aggregates, nothing else.
    Q("x14_embedding_drift",
      (s, dir) => {
        val e = Tables(s, dir, "embeddings")
          .select(col("vec_id"), col("embedding"))
        embeddingDrift(
          e.filter(col("vec_id") % 2 === 0).select(col("embedding")),
          e.filter(col("vec_id") % 2 === 1).select(col("embedding")))
      },
      Some(embeddingDriftOracle)),

    // x14's STREAMING twin (the v28/x12/t43 frozen-reference pattern,
    // now for drift monitoring): the reference histogram is computed
    // once batch-side and FROZEN; the current snapshot arrives as a
    // stream whose only corpus-scale work — per-row binning + the
    // (dim, bucket) count — runs as ONE complete-mode aggregation
    // with ≤ 48 rows of state however long the stream runs. The PSI
    // math then runs on the materialized counters through the SAME
    // psiFromCounts code path as x14, and the gate hash-matches
    // x14's own oracle: continuous drift monitoring ≡ the batch
    // audit bit-for-bit.
    Q("x15_drift_stream",
      (s, dir) => {
        val e = Tables(s, dir, "embeddings")
          .select(col("vec_id"), col("embedding"))
        val frozen = driftBinned(
          e.filter(col("vec_id") % 2 === 0).select(col("embedding")))
        val streamed = graft.streaming.StreamingOps.runToTable(s,
          driftBinned(graft.streaming.StreamingOps.readEmbeddings(s, dir)
            .filter(col("vec_id") % 2 === 1).select(col("embedding"))),
          "complete", "graft_x15_sink_")
        psiFromCounts(frozen, streamed)
      },
      Some(embeddingDriftOracle)))
  }

  /** x11's builder on an arbitrary events frame: per-type 2^Δdays decayed counts against the frame's
    * own max-ts (broadcast 1-row), pow absorbed by the Det decimal
    * sum. The streaming twin (StreamingOps.decayedCounts) is the same
    * aggregation against a FROZEN reference. */
  def decayedCountsBatch(ev: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val ref = ev.agg(max(col("ts")).as("t_ref"))
    ev.crossJoin(broadcast(ref))
      .select(col("event_type"),
        pow(lit(2.0),
          (unix_micros(col("ts")) - unix_micros(col("t_ref")))
            .cast(DoubleType) / lit(86400e6)).as("wt"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("wt").cast(graft.core.Det.dec)).cast(DoubleType).as("decayed"))
  }

  /** DuckDB mirror of the x11 decayed-count aggregation — shared by
    * the batch gate and its streaming twin (x12). */
  def decayedOracle: String =
    s"""WITH r AS (SELECT max(ts) AS t_ref FROM events)
       |SELECT event_type, CAST(count(*) AS BIGINT) AS n,
       |  ${graft.core.Det.sql.dsum(
            "pow(2.0, CAST(epoch_us(ts) - epoch_us(t_ref) AS DOUBLE) / 86400000000.0)")}
       |    AS decayed
       |FROM events, r GROUP BY event_type""".stripMargin

  /** x10's builder on an arbitrary (doc_id, weight) frame — shared
    * with the dialect `sample … top n by w` statement. Key = ln(u)/w
    * with u the deterministic doc_id hash-uniform, rounded through
    * DECIMAL(38,6) before ordering so both engines replay the same
    * total order; the global step is a LIMIT-bounded TakeOrdered. */
  def weightedSample(docs: org.apache.spark.sql.DataFrame, wCol: String,
      n: Int): org.apache.spark.sql.DataFrame = {
    // id reduced mod 1e6 BEFORE the multiply — the t05/t06 discipline:
    // ids can be 64-bit at scale and ANSI mode turns a Long overflow
    // into a crash
    val u = (((col("doc_id") % lit(1000000L)) * lit(2654435761L)) % lit(1000003L) + lit(1L))
      .cast(DoubleType) / lit(1000004.0)
    docs
      .select(col("doc_id"), col(wCol),
        (log(u) / greatest(col(wCol), lit(1L)).cast(DoubleType))
          .cast(graft.core.Det.dec).as("wkey"))
      .orderBy(col("wkey").desc, col("doc_id").asc)
      .limit(n)
      // DECIMAL(38,6) is the ORDERING device only; the output follows
      // the registry-wide decimal-inside/double-out discipline (t24)
      // so the gate hash canonicalizes identically in both engines.
      .withColumn("wkey", col("wkey").cast(DoubleType))
  }

  /** x13's builder — the per-GROUP form of [[weightedSample]]: an
    * independent Efraimidis–Spirakis draw of `n` rows inside every
    * `gCol` group (the stratified weighted sampler a balanced
    * fine-tune mix wants: per-source quotas, heavier docs
    * proportionally likelier). Same deterministic keys; the cap is a
    * group-keyed rank window, so WindowGroupLimit prunes each group
    * to n pre-shuffle — one exchange on the group key, never a
    * global sort. */
  def groupedWeightedSample(docs: org.apache.spark.sql.DataFrame,
      gCol: String, wCol: String, n: Int): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val u = (((col("doc_id") % lit(1000000L)) * lit(2654435761L)) % lit(1000003L) + lit(1L))
      .cast(DoubleType) / lit(1000004.0)
    val w = Window.partitionBy(col(gCol))
      .orderBy(col("wkey").desc, col("doc_id").asc)
    docs
      .select(col(gCol), col("doc_id"), col(wCol),
        (log(u) / greatest(col(wCol), lit(1L)).cast(DoubleType))
          .cast(graft.core.Det.dec).as("wkey"))
      .withColumn("rk", row_number().over(w).cast(LongType))
      .filter(col("rk") <= n)
      // Same decimal-inside/double-out discipline as [[weightedSample]].
      .withColumn("wkey", col("wkey").cast(DoubleType))
  }

  /** DuckDB mirror of [[groupedWeightedSample]] over `documents`.
    * Ranks on the DECIMAL(38,6) key, emits it as DOUBLE (the builders'
    * decimal-inside/double-out discipline). */
  def groupedWeightedSampleOracle(gCol: String, wCol: String, n: Int): String =
    s"""SELECT $gCol, doc_id, $wCol, CAST(wkey AS DOUBLE) AS wkey, rk FROM (
       |  SELECT $gCol, doc_id, $wCol,
       |    CAST(ln(CAST(((doc_id % 1000000) * 2654435761) % 1000003 + 1 AS DOUBLE) / 1000004.0)
       |      / CAST(greatest($wCol, 1) AS DOUBLE) AS DECIMAL(38,6)) AS wkey,
       |    CAST(row_number() OVER (PARTITION BY $gCol
       |      ORDER BY CAST(ln(CAST(((doc_id % 1000000) * 2654435761) % 1000003 + 1 AS DOUBLE) / 1000004.0)
       |        / CAST(greatest($wCol, 1) AS DOUBLE) AS DECIMAL(38,6)) DESC, doc_id ASC)
       |      AS BIGINT) AS rk
       |  FROM documents)
       |WHERE rk <= $n""".stripMargin

  /** DuckDB mirror of [[weightedSample]] over `documents`. Orders on
    * the DECIMAL(38,6) key, emits it as DOUBLE (the builders'
    * decimal-inside/double-out discipline). */
  def weightedSampleOracle(wCol: String, n: Int): String =
    s"""SELECT doc_id, $wCol, CAST(wkey AS DOUBLE) AS wkey FROM (
       |  SELECT doc_id, $wCol,
       |    CAST(ln(CAST(((doc_id % 1000000) * 2654435761) % 1000003 + 1 AS DOUBLE) / 1000004.0)
       |      / CAST(greatest($wCol, 1) AS DOUBLE) AS DECIMAL(38,6)) AS wkey
       |  FROM documents
       |  ORDER BY wkey DESC, doc_id ASC LIMIT $n)
       |ORDER BY wkey DESC, doc_id ASC""".stripMargin

  // ── x14: embedding drift (PSI) ─────────────────────────────────────
  /** Fixed bucket edges for the PSI histogram: 6 buckets cut at
    * ±0.5, ±0.25, 0 (all exactly representable doubles — the per-row
    * bucket CASE is pure comparison, no estimation, so both engines
    * bin identically with no quantile pass over the corpus). */
  // final-val literal constants (inlined at use sites) — `all` is a
  // val declared ABOVE this point and interpolates these into the
  // oracle at object init; plain vals would still read 0 there
  final val DriftDims = 8
  final val DriftBuckets = 6

  private def driftBucket(x: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val xd = x.cast(DoubleType)
    when(xd < -0.5, 0L).when(xd < -0.25, 1L).when(xd < 0.0, 2L)
      .when(xd < 0.25, 3L).when(xd < 0.5, 4L).otherwise(5L)
  }

  /** One snapshot side's (dim, bucket, n) histogram — a narrow scan
    * into one map-side-combined count, ≤ dims·buckets rows whatever
    * the corpus size. Works unchanged on a STREAMING frame (one
    * complete-mode aggregation — the x15 ingest path). */
  def driftBinned(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    df.select(posexplode(slice(col("embedding"), 1, DriftDims)).as(Seq("pos", "x")))
      .select(col("pos").cast(LongType).as("dim"), driftBucket(col("x")).as("bucket"))
      .groupBy(col("dim"), col("bucket")).agg(count(lit(1)).as("n"))

  /** x14's builder on ANY two (embedding) snapshot frames: per-dim
    * (first [[DriftDims]] dims) PSI with Laplace smoothing and the
    * classic 0.2 alert flag. Each side is one narrow scan into one
    * map-side-combined (dim, bucket) count — bounded at
    * dims·buckets rows — then every proportion/ln/threshold runs on
    * the joined tiny frame. The ln terms go through [[Det.dsum]] so
    * psi hash-matches the oracle exactly. */
  def embeddingDrift(ref: org.apache.spark.sql.DataFrame,
      cur: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    psiFromCounts(driftBinned(ref), driftBinned(cur))

  /** The PSI math on two materialized (dim, bucket, n) count frames —
    * shared VERBATIM by the batch gate (x14) and its streaming twin
    * (x15, whose counts arrive from a complete-mode stream agg):
    * everything below runs on ≤ dims·buckets rows. */
  def psiFromCounts(refCounts: org.apache.spark.sql.DataFrame,
      curCounts: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val s = refCounts.sparkSession
    val scaffold = s.range(DriftDims).select(col("id").as("dim"))
      .crossJoin(s.range(DriftBuckets).select(col("id").as("bucket")))
    val j = scaffold
      .join(refCounts.withColumnRenamed("n", "nr"), Seq("dim", "bucket"), "left")
      .join(curCounts.withColumnRenamed("n", "nc"), Seq("dim", "bucket"), "left")
      .select(col("dim"), col("bucket"),
        coalesce(col("nr"), lit(0L)).as("nr"),
        coalesce(col("nc"), lit(0L)).as("nc"))
    val wd = Window.partitionBy(col("dim"))
    val b = lit(DriftBuckets.toDouble)
    val t = j
      .withColumn("tr", sum(col("nr")).over(wd))
      .withColumn("tc", sum(col("nc")).over(wd))
    val pr = (col("nr") + lit(1.0)) / (col("tr") + b)
    val pc = (col("nc") + lit(1.0)) / (col("tc") + b)
    t.select(col("dim"), ((pc - pr) * log(pc / pr)).as("term"))
      .groupBy(col("dim"))
      .agg(graft.core.Det.dsum(col("term")).as("psi"))
      .select(col("dim"), col("psi"), (col("psi") > 0.2).as("shifted"))
  }

  /** DuckDB mirror of the x14 gate (parity-half snapshots of
    * `embeddings`): same buckets, same smoothing, same term dag, same
    * Det decimal sum. */
  def embeddingDriftOracle: String = {
    val d = DriftDims; val bk = DriftBuckets
    val cas = """CASE WHEN CAST(x AS DOUBLE) < -0.5 THEN 0
                | WHEN CAST(x AS DOUBLE) < -0.25 THEN 1
                | WHEN CAST(x AS DOUBLE) < 0.0 THEN 2
                | WHEN CAST(x AS DOUBLE) < 0.25 THEN 3
                | WHEN CAST(x AS DOUBLE) < 0.5 THEN 4 ELSE 5 END""".stripMargin
    s"""WITH rx AS (SELECT unnest(embedding[1:$d]) AS x, unnest(range($d)) AS dim
       |            FROM embeddings WHERE vec_id % 2 = 0),
       |cx AS (SELECT unnest(embedding[1:$d]) AS x, unnest(range($d)) AS dim
       |       FROM embeddings WHERE vec_id % 2 = 1),
       |rb AS (SELECT dim, $cas AS bucket, count(*) AS n FROM rx GROUP BY 1, 2),
       |cb AS (SELECT dim, $cas AS bucket, count(*) AS n FROM cx GROUP BY 1, 2),
       |sc AS (SELECT dd.range AS dim, bb.range AS bucket
       |       FROM range($d) dd CROSS JOIN range($bk) bb),
       |j AS (SELECT sc.dim, sc.bucket, coalesce(rb.n, 0) AS nr, coalesce(cb.n, 0) AS nc
       |      FROM sc LEFT JOIN rb ON sc.dim = rb.dim AND sc.bucket = rb.bucket
       |               LEFT JOIN cb ON sc.dim = cb.dim AND sc.bucket = cb.bucket),
       |t AS (SELECT dim, bucket, nr, nc,
       |        sum(nr) OVER (PARTITION BY dim) AS tr,
       |        sum(nc) OVER (PARTITION BY dim) AS tc FROM j),
       |terms AS (SELECT dim,
       |  ((nc + 1.0) / (tc + $bk.0) - (nr + 1.0) / (tr + $bk.0))
       |    * ln(((nc + 1.0) / (tc + $bk.0)) / ((nr + 1.0) / (tr + $bk.0))) AS term
       |  FROM t)
       |SELECT dim, psi, psi > 0.2 AS shifted FROM
       |  (SELECT dim, ${graft.core.Det.sql.dsum("term")} AS psi
       |   FROM terms GROUP BY dim)""".stripMargin
  }
}
