package graft.queries

import org.apache.spark.sql.functions._

import graft.core.{Det, Materialize, Tables}

/** The curation pipeline as ONE composed DataFrame program — the
  * point of having every stage be a lazy query builder: quality
  * filter → canonical-dedup keep → benchmark decontamination → hash
  * split, over the same corpus, in a single plan Catalyst optimizes
  * end-to-end (shared scans, pushed filters — not four materialized
  * passes). The oracle composes the same stages' DuckDB SQL as CTEs,
  * so the gate checks the COMPOSITION, not just each stage alone.
  *
  * Corpus = doc_id ≥ 5 (0-4 are the stand-in benchmark set t09
  * guards against). A doc survives iff its quality score clears 0.5,
  * it is its dedup cluster's canonical keeper, and it shares no
  * 3-gram shingle with the benchmark; survivors get the reproducible
  * train/val/test hash split.
  */
object PipelineQueries {

  // one lookup over every base registry (names are globally unique,
  // asserted by RegistrySpec)
  private def q(name: String): Q =
    (DedupQueries.all ++ TextQueries.all ++ EventQueries.all ++
      VectorQueries.all).find(_.name == name)
      .getOrElse(sys.error(s"pipeline stage $name missing"))

  val all: Seq[Q] = Seq(
    Q("p01_curation_pipeline",
      (s, dir) => {
        val quality = q("t02_quality").build(s, dir)
        val dedup = q("d07_dedup_clusters").build(s, dir)
        val contaminated = q("t09_decontam").build(s, dir)
          .filter(col("n_overlap") > 0).select(col("doc_id"))
        val split = q("t06_train_split").build(s, dir)
        Tables(s, dir, "documents").select(col("doc_id"), col("lang"))
          .filter(col("doc_id") >= 5)
          .join(quality.filter(col("quality") > 0.5), "doc_id")
          .join(dedup.filter(col("keep") === 1).select(col("doc_id")), "doc_id")
          .join(contaminated, Seq("doc_id"), "left_anti")
          .join(split, "doc_id")
          .select(col("doc_id"), col("lang"), col("split"), col("quality"))
      },
      Some {
        def cte(name: String): String = q(name).oracle.get
        s"""WITH dedup AS (${cte("d07_dedup_clusters")}),
           |qual AS (${cte("t02_quality")}),
           |cont AS (${cte("t09_decontam")}),
           |spl AS (${cte("t06_train_split")})
           |SELECT d.doc_id, d.lang, spl.split, qual.quality
           |FROM documents d
           |JOIN qual ON d.doc_id = qual.doc_id
           |JOIN dedup ON d.doc_id = dedup.doc_id
           |JOIN spl ON d.doc_id = spl.doc_id
           |WHERE d.doc_id >= 5 AND qual.quality > 0.5 AND dedup.keep = 1
           |  AND d.doc_id NOT IN (SELECT doc_id FROM cont WHERE n_overlap > 0)""".stripMargin
      }),

    // The embedding-side pipeline: semantic dedup (d08 keep set) →
    // embedding decontamination (v08) → PQ compression of the
    // survivors (v09's fit+encode, codebooks trained ON the curated
    // set — the real pipeline order). One composed program; the oracle
    // chains the same stage SQL as CTEs and re-runs the unrolled PQ
    // loops over the curated CTE, so the composition is hash-gated.
    Q("p02_embedding_curation",
      (s, dir) => {
        val keep = q("d08_semantic_dedup").build(s, dir)
          .filter(col("keep") === 1).select(col("vec_id"))
        val cont = q("v08_embed_decontam").build(s, dir)
          .filter(col("contaminated") === 1).select(col("vec_id"))
        // reused: the PQ fit re-reads it ~2·M times (tiny driver loops)
        val curated = Materialize.reuse(Tables(s, dir, "embeddings")
          .select(col("vec_id"), col("embedding"))
          .filter(col("vec_id") >= 50)
          .join(keep, "vec_id")
          .join(cont, Seq("vec_id"), "left_anti"))
        val codes = VectorQueries.pqCodes(curated, dim = 64)
        // fits done — release so one JVM running many queries doesn't
        // accumulate a resident curated copy per run
        Materialize.release(curated)
        codes
      },
      Some {
        def cte(name: String): String = q(name).oracle.get
        VectorQueries.pqCodesSql(dim = 64, table = "curated",
          leadingCtes =
            s"""keep AS (${cte("d08_semantic_dedup")}),
               |cont AS (${cte("v08_embed_decontam")}),
               |curated AS (SELECT e.vec_id, e.embedding FROM embeddings e
               |  JOIN keep k ON e.vec_id = k.vec_id AND k.keep = 1
               |  WHERE e.vec_id >= 50 AND e.vec_id NOT IN
               |    (SELECT vec_id FROM cont WHERE contaminated = 1))""".stripMargin)
      }),

    // The full pretraining-data build, source to training sequences:
    // page vetoes (t27's lorem-ipsum/brace rules — the line-survival
    // half of C4 is vacuous on this corpus's newline-free synthetic
    // text, so the quality heuristic stands in as the page scorer) →
    // quality threshold (t02) → exact-dedup canonical keeper (d01's
    // min-doc_id-per-md5; p01 uses the near-dup clusters, this is the
    // cheaper first-pass rung) → benchmark decontamination (t09) →
    // GPT-style sequence packing of the SURVIVORS (t11's two-phase
    // distributed cumsum — never a single-partition window). The
    // per-row signals compute in ONE scan (see the builder note);
    // only the survivor set reaches the packing exchange. The oracle
    // chains the same stage SQL as CTEs and re-runs the cumsum over
    // the survivor CTE, so the gate hashes the COMPOSITION — exactly
    // what a "switch the corpus build to this engine" user runs
    // end-to-end.
    Q("p05_pretrain_build",
      (s, dir) =>
        graft.core.RowNumbers
          .globalCumsum(pretrainSurvivors(s, dir), Seq(col("doc_id")), "n_tok", "cum")
          .select(col("doc_id"), col("n_tok"),
            (col("cum") - col("n_tok")).as("tok_start"),
            expr("(cum - n_tok) div 512").as("first_bin"),
            expr("(cum - 1) div 512").as("last_bin")),
      Some(
        s"""$pretrainSurvWith,
           |c AS (SELECT doc_id, n_tok, CAST(sum(n_tok) OVER
           |  (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           |  AS BIGINT) AS cum FROM surv)
           |SELECT doc_id, n_tok, cum - n_tok AS tok_start,
           |  (cum - n_tok) // 512 AS first_bin,
           |  (cum - 1) // 512 AS last_bin FROM c""".stripMargin)),

    // Curated corpus → training-shard layout, ONE composed plan: the
    // p05 survivor set (page vetoes + quality + canonical dedup +
    // decontam) flows straight into t32's deterministic (shard, pos)
    // addressing — the last step of a corpus build before the
    // saveShards write. The survivor stage's joins are the only
    // corpus-shaped shuffles; the addressing adds ONE hash exchange.
    Q("p08_curated_shards",
      (s, dir) => TextQueries.shardLayoutAll(pretrainSurvivors(s, dir), 8),
      Some(
        s"""$pretrainSurvWith
           |SELECT doc_id, n_tok,
           |  ((doc_id % 1000000) * 2654435761) % 8 AS shard,
           |  CAST(ROW_NUMBER() OVER (
           |    PARTITION BY ((doc_id % 1000000) * 2654435761) % 8
           |    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) - 1
           |    AS BIGINT) AS pos
           |FROM surv""".stripMargin)),

    // Curated corpus → RAG chunks: p05's survivor set flowing into
    // t34's overlapping chunking — the ingest-side twin of p08's
    // training-shard composition (same curated keep-set, chunk
    // windows instead of shard addresses). The survivor stage is the
    // semi-join filter; the text gather is ONE doc_id join back to
    // documents (the curated set is much smaller than the corpus, so
    // the gather join is the cheap side); chunking itself adds zero
    // exchanges on top.
    Q("p09_curated_chunks",
      (s, dir) => TextQueries.docChunks(
        Tables(s, dir, "documents")
          .join(pretrainSurvivors(s, dir).select(col("doc_id")), "doc_id")
          .select(col("doc_id"), col("text"))),
      Some(
        s"""$pretrainSurvWith,
           |${TextQueries.docChunksOracleFor(64, 16,
                src = "(SELECT d.doc_id, d.text FROM documents d " +
                  "JOIN surv ON d.doc_id = surv.doc_id)",
                lead = "")}""".stripMargin)),

    // Curriculum-ordered shards — the last layout decision before
    // training: t32's shard addressing composed with t02's quality
    // score into a per-shard curriculum rank (phase 1 = the
    // cleanest-on-average shard first, the quality-curriculum
    // schedule). The corpus pass is the per-row shard hash + the
    // fused quality profile; the rollup is ONE 16-row aggregation
    // with Det-decimal mean quality, and the phase rank runs over
    // those 16 rows (bounded by the shard count, a config constant).
    Q("p10_curriculum_shards",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val quality = q("t02_quality").build(s, dir)
        val shard = ((col("doc_id") % lit(1000000L)) * lit(2654435761L)) % lit(16L)
        val perShard = quality.withColumn("shard", shard)
          .groupBy(col("shard"))
          .agg(count(lit(1)).as("n_docs"), Det.davg(col("quality")).as("mean_q"))
        perShard.withColumn("phase",
          row_number().over(Window.orderBy(col("mean_q").desc, col("shard").asc))
            .cast(org.apache.spark.sql.types.LongType))
      },
      Some {
        def cte(name: String): String = q(name).oracle.get
        s"""WITH qual AS (${cte("t02_quality")}),
           |ps AS (SELECT ((doc_id % 1000000) * 2654435761) % 16 AS shard,
           |  CAST(count(*) AS BIGINT) AS n_docs,
           |  ${Det.sql.davg("quality")} AS mean_q
           |  FROM qual GROUP BY 1)
           |SELECT shard, n_docs, mean_q,
           |  CAST(row_number() OVER (ORDER BY mean_q DESC, shard ASC) AS BIGINT) AS phase
           |FROM ps""".stripMargin
      }),

    // Dataset card — the one-row datasheet a corpus release ships
    // with (docs, tokens, source/language spread, exact-dup count,
    // mean quality): three bounded aggregates (a doc-level rollup, the
    // md5 dup histogram's rollup, the Det-decimal quality mean)
    // cross-joined as 1-row frames. Every number is exact and
    // hash-gated; at 100 TB the cost is two corpus scans (stats +
    // dup hash) with map-side partials.
    Q("p11_dataset_card",
      (s, dir) => {
        val docs = Tables(s, dir, "documents")
        val base = docs.agg(
          count(lit(1)).as("n_docs"),
          sum(size(graft.functions.TextFunctions.tokens(col("text")))
            .cast(org.apache.spark.sql.types.LongType)).as("n_tokens"),
          countDistinct(col("source")).as("n_sources"),
          countDistinct(col("lang")).as("n_langs"))
        val dups = docs.select(md5(col("text")).as("h"))
          .groupBy(col("h")).agg(count(lit(1)).as("n"))
          .agg(sum(when(col("n") >= 2, col("n")).otherwise(0L)).as("dup_docs"))
        val meanQ = q("t02_quality").build(s, dir)
          .agg(Det.davg(col("quality")).as("mean_quality"))
        base.crossJoin(broadcast(dups)).crossJoin(broadcast(meanQ))
      },
      Some {
        def cte(name: String): String = q(name).oracle.get
        s"""WITH qual AS (${cte("t02_quality")}),
           |base AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
           |  CAST(coalesce(sum(len(${OracleSql.toks("text")})), 0) AS BIGINT) AS n_tokens,
           |  CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
           |  CAST(count(DISTINCT lang) AS BIGINT) AS n_langs FROM documents),
           |d AS (SELECT CAST(coalesce(sum(CASE WHEN n >= 2 THEN n ELSE 0 END), 0) AS BIGINT)
           |        AS dup_docs
           |      FROM (SELECT md5(text) AS h, count(*) AS n FROM documents GROUP BY 1)),
           |mq AS (SELECT ${Det.sql.davg("quality")} AS mean_quality FROM qual)
           |SELECT * FROM base, d, mq""".stripMargin
      }),

    // Token-budget mixture sampling — the epoch-mix builder: each
    // source contributes docs in a DETERMINISTIC hash order until its
    // token budget is exhausted (a doc is admitted iff the budget is
    // not yet spent when it starts, so every source overshoots by at
    // most one doc — the standard mixing contract). Never RNG: the
    // same docs are selected on any cluster size, and a larger budget
    // admits a superset. The per-source running sum is
    // RowNumbers.groupedCumsum — the two-phase range-partition shape,
    // so a 100 TB source never funnels through one reducer the way a
    // plain window would. All-integer output: ulp-proof gate.
    Q("p12_token_budget_mix",
      (s, dir) => tokenBudgetMix(
        Tables(s, dir, "documents")
          .select(col("doc_id"), col("source"), col("text")),
        // fixture sources carry ~1.3k tokens each at sf0.01 — 800
        // makes the budget BIND, so the gate exercises both branches
        budget = 800L),
      Some(tokenBudgetMixOracle(800L))),

    // The round-9 curation chain as ONE declarative program: per-source
    // quality calibration (t42, keep the top 70% of each source) ∩
    // best-twin near-dup canonicals (d19) → token-budget mixture
    // sampling (p12) over the survivors. Composition discipline per
    // the p05 lesson: the calibration keep is a per-row bucket
    // expression + a broadcast join against the tiny CDF — fused into
    // the survivor scan, never a doc_id self-join — so only d19's
    // genuinely shuffling canonical set arrives as a join. The oracle
    // chains the same stage SQL as CTEs and runs the mix over the
    // survivor CTE, so the whole composition is hash-gated.
    Q("p13_calibrated_mix",
      (s, dir) => calibratedMix(
        Tables(s, dir, "documents")
          .select(col("doc_id"), col("source"), col("text")),
        budget = 500L),
      Some {
        def cte(name: String): String = q(name).oracle.get
        s"""WITH cal AS (${TextQueries.calibrationOracle}),
           |canon AS (${cte("d19_canonical_pick")}),
           |surv AS (SELECT d.doc_id, d.source, d.text FROM documents d
           |  JOIN cal ON d.doc_id = cal.doc_id AND cal.keep = 1
           |  JOIN canon ON d.doc_id = canon.doc_id AND canon.keep = 1)
           |${tokenBudgetMixOracle(500L, from = "surv")}""".stripMargin
      },
      bench = true),

    // Epoch plan — the data-recipe table a pretraining run starts
    // from (the LLaMA-style "how many passes over each source"
    // decision): per-source token counts → temperature-weighted
    // target shares (weight ∝ sqrt(tokens), the α=0.5 compromise
    // between natural and uniform that keeps small high-quality
    // sources from drowning) → epochs = budget·share/tokens, capped
    // at 4 passes (the repeat ceiling diminishing-returns studies
    // justify) → effective token contribution. One corpus-wide
    // token-count agg (map-side combined, k source rows), then pure
    // k-row math against a broadcast 1-row Det-decimal total; sqrt
    // and the divisions are correctly-rounded IEEE ops on exact
    // integer inputs, so the doubles hash-match with no tolerance.
    Q("p14_epoch_plan",
      (s, dir) => epochPlan(
        Tables(s, dir, "documents").select(col("source"), col("text")),
        budget = 1000000L),
      Some(epochPlanOracle(1000000L)))
  )

  /** p14's builder on an arbitrary (source, text) frame. `epochs` is
    * capped at [[MaxEpochs]]; `eff_tokens = epochs · tokens` is the
    * source's actual contribution to the run. */
  def epochPlan(docs: org.apache.spark.sql.DataFrame,
      budget: Long): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.types.{DoubleType, LongType}
    val per = docs
      .select(col("source"),
        // null text = 0 tokens (the tokenBudgetMix contract) — an
        // all-null source must aggregate to n_tokens 0, not NULL
        // (least() SKIPS nulls on both engines, so a NULL would
        // silently report MaxEpochs)
        coalesce(size(graft.functions.TextFunctions.tokens(col("text")))
          .cast(LongType), lit(0L)).as("n_tok"))
      .groupBy(col("source")).agg(sum(col("n_tok")).as("n_tokens"))
      .withColumn("wraw", sqrt(col("n_tokens").cast(DoubleType)))
    val tot = per.agg(
      sum(col("wraw").cast(Det.dec)).cast(DoubleType).as("wtot"))
    per.crossJoin(broadcast(tot))
      .select(col("source"), col("n_tokens"),
        (col("wraw") / col("wtot")).as("weight"),
        // greatest(n_tokens, 1): an all-empty source would otherwise
        // divide 0/0 = NaN, and least(NaN, MaxEpochs) = NaN sorts
        // LARGEST on both engines — silently reporting MaxEpochs for
        // an empty source. With the guard it reports 0 epochs.
        least(lit(budget.toDouble) * (col("wraw") / col("wtot")) /
          greatest(col("n_tokens"), lit(1L)).cast(DoubleType),
          lit(MaxEpochs)).as("epochs"))
      .withColumn("eff_tokens",
        col("epochs") * col("n_tokens").cast(org.apache.spark.sql.types.DoubleType))
  }

  final val MaxEpochs = 4.0

  /** DuckDB mirror of the p14 gate over `documents`. */
  def epochPlanOracle(budget: Long): String =
    s"""WITH per AS (SELECT source,
       |    CAST(sum(COALESCE(CAST(len(${OracleSql.toks("text")}) AS BIGINT), 0))
       |      AS BIGINT) AS n_tokens
       |  FROM documents GROUP BY source),
       |w AS (SELECT source, n_tokens,
       |        sqrt(CAST(n_tokens AS DOUBLE)) AS wraw FROM per),
       |t AS (SELECT CAST(SUM(CAST(wraw AS DECIMAL(38,6))) AS DOUBLE) AS wtot
       |      FROM w)
       |SELECT source, n_tokens, weight, epochs,
       |  epochs * CAST(n_tokens AS DOUBLE) AS eff_tokens
       |FROM (SELECT source, n_tokens, wraw / wtot AS weight,
       |        least(${budget.toDouble} * (wraw / wtot)
       |          / CAST(greatest(n_tokens, 1) AS DOUBLE), $MaxEpochs) AS epochs
       |      FROM w, t)""".stripMargin

  /** p13's builder on an arbitrary (doc_id, source, text) frame:
    * calibration keep fused into the survivor
    * scan as a per-row bucket + broadcast-CDF join (never a doc_id
    * self-join), d19's canonical set as the one genuinely shuffling
    * join, then the budget mix over the survivors. */
  def calibratedMix(docs: org.apache.spark.sql.DataFrame, budget: Long,
      pairsOpt: Option[org.apache.spark.sql.DataFrame] = None)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.types.LongType
    // ONE profile scan carries every per-row signal the composition
    // needs — quality (the CDF leg AND the canonical ranking AND the
    // survivor bucket) and the token count (the mix leg) — persisted
    // across its three consumers so the text column is decoded once,
    // not three times (round 10's shape re-scanned it per leg; the
    // round-7 composition probe already showed per-row signals never
    // justify re-scans). Narrow artifact: (doc_id, source, quality,
    // n_tok) — no text retained in cache. The only other text pass
    // left is the minhash signature scan (a different projection).
    val prof = Materialize.reuse(docs
      .select(col("doc_id"), col("source"), col("text"),
        graft.functions.TextProfileExprs.text_profile(col("text")).as("p"))
      .select(col("doc_id"), col("source"),
        TextQueries.qualityCol(col("text"), col("p")).as("quality"),
        col("p").getField("n_tok").as("n_tok")))
    val cdf = broadcast(TextQueries.sourceCdfOf(
      prof.select(col("doc_id"), col("source"),
        floor(col("quality").cast(graft.core.Det.dec) * lit(100))
          .cast(LongType).as("bucket"))))
    val pairs = pairsOpt.getOrElse(
      DedupQueries.candidateStarsOf(DedupQueries.sigOf(
        docs.select(col("doc_id"), col("text")))))
    val canon = DedupQueries.canonicalPickFromQuality(
        prof.select(col("doc_id"), col("quality")), pairs)
      .filter(col("keep") === 1).select(col("doc_id"))
    val surv = prof
      .select(col("doc_id"), col("source"), col("n_tok"),
        floor(col("quality").cast(graft.core.Det.dec) * lit(100))
          .cast(LongType).as("bucket"))
      .join(cdf, Seq("source", "bucket"))
      .filter(col("cum") * 10 >= col("n_src") * 3)
      .join(canon, "doc_id")
      .select(col("doc_id"), col("source"),
        coalesce(col("n_tok").cast(LongType), lit(0L)).as("n_tok"))
    // tokenBudgetMixSized's grouped cumsum runs its offset pass
    // EAGERLY, so by the time it returns the keyed RDD cache holds
    // the survivors and prof can be released synchronously — the
    // returned frame reads the keyed cache, never prof
    val mixed = tokenBudgetMixSized(surv, budget)
    Materialize.release(prof)
    mixed
  }

  /** p12's builder on an arbitrary (doc_id, source, text) frame.
    * Order key = the x10 multiplicative id
    * hash (exact integer arithmetic, mod-1e6 first so 64-bit ids
    * can't overflow ANSI), ties to doc_id. */
  def tokenBudgetMix(docs: org.apache.spark.sql.DataFrame,
      budget: Long): org.apache.spark.sql.DataFrame =
    // null text → tokens null → size null: coalesce to 0 so the
    // cumsum's getLong never NPEs on user CSVs with empty cells
    // (packEfficiency's null contract; the oracle coalesces too)
    tokenBudgetMixSized(docs.select(col("source"), col("doc_id"),
      coalesce(size(graft.functions.TextFunctions.tokens(col("text")))
        .cast(org.apache.spark.sql.types.LongType), lit(0L)).as("n_tok")),
      budget)

  /** [[tokenBudgetMix]] over a frame whose token counts are ALREADY
    * computed (source, doc_id, n_tok) — p13's path: its one profile
    * scan carries n_tok, so the mix leg must not re-tokenize. */
  def tokenBudgetMixSized(sized: org.apache.spark.sql.DataFrame,
      budget: Long): org.apache.spark.sql.DataFrame = {
    val okey = ((col("doc_id") % lit(1000000L)) * lit(2654435761L)) % lit(1000003L)
    val keyed = sized.select(col("source"), col("doc_id"), col("n_tok"),
      okey.as("okey"))
    graft.core.RowNumbers.groupedCumsum(keyed, Seq("source"),
      Seq(col("okey").asc, col("doc_id").asc), "n_tok", "cum_tok")
      .select(col("source"), col("doc_id"), col("n_tok"), col("cum_tok"),
        when(col("cum_tok") - col("n_tok") < lit(budget), lit(1L))
          .otherwise(lit(0L)).as("keep"))
  }

  /** DuckDB mirror of [[tokenBudgetMix]] over `from` (default the
    * documents table; p13 points it at its survivor CTE). */
  def tokenBudgetMixOracle(budget: Long, from: String = "documents"): String =
    s"""SELECT source, doc_id, n_tok, cum_tok,
       |  CAST(CASE WHEN cum_tok - n_tok < $budget THEN 1 ELSE 0 END AS BIGINT) AS keep
       |FROM (SELECT source, doc_id, n_tok,
       |  CAST(sum(n_tok) OVER (PARTITION BY source
       |    ORDER BY okey ASC, doc_id ASC ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tok
       |  FROM (SELECT source, doc_id,
       |    COALESCE(CAST(len(${OracleSql.toks("text")}) AS BIGINT), 0) AS n_tok,
       |    ((doc_id % 1000000) * 2654435761) % 1000003 AS okey
       |  FROM $from))""".stripMargin

  /** p05's survivor set (doc_id, n_tok) — the per-ROW signals (t27's
    * lorem/brace vetoes + t02's quality) fuse into ONE
    * scan/projection — predicates, not doc_id joins. The round-7
    * composition probe caught the join-per-signal shape costing 2×
    * the sum of its stages at 100× (each join re-scanned the text
    * column, and the c4 builder dragged its per-line explode+groupBy
    * along for two flags): at 100 TB, per-row signals NEVER justify
    * a join. Only the genuinely shuffling stages remain joins: d01's
    * md5 groupBy (keepers) and t09's shingle pipeline
    * (decontamination). Shared by p05 (→ sequence packing) and p08
    * (→ shard layout). */
  def pretrainSurvivors(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    val keepers = q("d01_dedup_exact").build(s, dir)
      .select(col("keep_id").as("doc_id"))
    val contaminated = q("t09_decontam").build(s, dir)
      .filter(col("n_overlap") > 0).select(col("doc_id"))
    Tables(s, dir, "documents")
      .select(col("doc_id"), col("text"),
        graft.functions.TextProfileExprs.text_profile(col("text")).as("p"))
      .filter(col("doc_id") >= 5 &&
        !contains(lower(col("text")), lit("lorem ipsum")) &&
        !contains(col("text"), lit("{")) &&
        TextQueries.qualityCol(col("text"), col("p")) > 0.5)
      .select(col("doc_id"), col("p.n_tok").as("n_tok"))
      .join(keepers, "doc_id")
      .join(contaminated, Seq("doc_id"), "left_anti")
  }

  /** p11's core on an arbitrary (doc_id, text) frame — the `card`
    * statement's builder: docs, whitespace tokens, exact-duplicate
    * docs (md5), Det-mean quality. Three bounded aggregates
    * cross-joined as 1-row frames; two corpus scans with map-side
    * partials. */
  def datasetCard(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val base = docs.agg(
      count(lit(1)).as("n_docs"),
      sum(size(graft.functions.TextFunctions.tokens(col("text")))
        .cast(org.apache.spark.sql.types.LongType)).as("n_tokens"))
    val dups = docs.select(md5(col("text")).as("h"))
      .groupBy(col("h")).agg(count(lit(1)).as("n"))
      .agg(sum(when(col("n") >= 2, col("n")).otherwise(0L)).as("dup_docs"))
    val meanQ = docs
      .select(col("text"),
        graft.functions.TextProfileExprs.text_profile(col("text")).as("p"))
      .select(TextQueries.qualityCol(col("text"), col("p")).as("quality"))
      .agg(Det.davg(col("quality")).as("mean_quality"))
    base.crossJoin(broadcast(dups)).crossJoin(broadcast(meanQ))
  }

  /** The WITH-chain computing p05's survivor CTE `surv` (doc_id,
    * n_tok) — shared by the p05 and p08 oracles. */
  private lazy val pretrainSurvWith: String = {
    def cte(name: String): String = q(name).oracle.get
    s"""WITH c4 AS (${cte("t27_c4_filters")}),
       |qual AS (${cte("t02_quality")}),
       |keep AS (${cte("d01_dedup_exact")}),
       |cont AS (${cte("t09_decontam")}),
       |n AS (SELECT doc_id,
       |  CAST(len(${OracleSql.toks("text")}) AS BIGINT) AS n_tok FROM documents),
       |surv AS (SELECT n.doc_id, n.n_tok FROM n
       |  JOIN c4 ON n.doc_id = c4.doc_id
       |    AND NOT c4.has_lorem AND NOT c4.has_brace
       |  JOIN qual ON n.doc_id = qual.doc_id AND qual.quality > 0.5
       |  JOIN keep k ON n.doc_id = k.keep_id
       |  WHERE n.doc_id >= 5 AND n.doc_id NOT IN
       |    (SELECT doc_id FROM cont WHERE n_overlap > 0))""".stripMargin
  }


  /** Per-source corpus health report — the dashboard every ingest runs
    * before trusting a new crawl: per source, document count, how many
    * docs share their exact text with ANY doc corpus-wide, recorded
    * language spread, and mean quality score (t02's formula). One
    * composed plan: the md5 dup-count aggregation (d01's shape) joins
    * back by hash, quality rides the fused text-profile pass, and the
    * rollup is one source-keyed aggregation. */
  val report: Seq[Q] = Seq(
    Q("p03_source_report",
      (s, dir) => {
        import org.apache.spark.sql.types._
        val docs = Tables(s, dir, "documents")
        val quality = q("t02_quality").build(s, dir)
        val byHash = docs
          .groupBy(md5(col("text").cast(BinaryType)).as("h"))
          .agg(count(lit(1)).as("nc"))
        docs.select(col("doc_id"), col("source"), col("lang"),
            md5(col("text").cast(BinaryType)).as("h"))
          .join(byHash, "h")
          .join(quality, "doc_id")
          .groupBy("source")
          .agg(count(lit(1)).cast(LongType).as("n_docs"),
            sum(when(col("nc") >= 2, 1L).otherwise(0L)).as("n_dup_docs"),
            countDistinct(col("lang")).as("n_langs"),
            graft.core.Det.davg(col("quality")).as("avg_quality"))
      },
      Some {
        val t02 = q("t02_quality").oracle.get
        s"""WITH q AS ($t02),
           |d AS (SELECT doc_id, source, lang, md5(text) AS h FROM documents),
           |c AS (SELECT h, count(*) AS nc FROM d GROUP BY h)
           |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
           |  CAST(sum(CASE WHEN nc >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_docs,
           |  CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
           |  ${graft.core.Det.sql.davg("quality")} AS avg_quality
           |FROM d JOIN c USING (h) JOIN q USING (doc_id)
           |GROUP BY source""".stripMargin
      }),

    // The event-side per-user report: session count (e02's rule),
    // funnel stage (e07's ordering predicate), and retention cohort
    // (e12's first-activity day) composed into ONE plan — the
    // user-360 table a product pipeline materializes. The sessions
    // window and the two firsts/cohort aggs share the user_id
    // exchange; the gate checks the composition like p01 does for
    // text.
    Q("p04_user_report",
      (s, dir) => {
        import org.apache.spark.sql.types._
        val sessions = q("e02_sessions").build(s, dir)
        val firsts = EventQueries.userFirsts(Tables(s, dir, "events"))
        sessions.join(firsts, "user_id")
          .select(col("user_id"), col("n_sessions"), col("n_events"),
            EventQueries.funnelStage.as("funnel_stage"), col("cohort"))
      },
      Some {
        val e02 = q("e02_sessions").oracle.get
        s"""WITH sess AS ($e02),
           |f AS (${EventQueries.userFirstsSql})
           |SELECT user_id, sess.n_sessions, sess.n_events,
           |  ${EventQueries.funnelStageSql} AS funnel_stage,
           |  cohort
           |FROM sess JOIN f USING (user_id)""".stripMargin
      }),

    // Data-mixing weights (the sampling plan a multi-source pretrain
    // run feeds its loader): per-source token counts, temperature-
    // smoothed mixture weights w_s = √n_s / Σ√n (α = 0.5 — sqrt is
    // correctly rounded, a pow() would ulp-drift cross-engine; same
    // rationale as t12), and the epoch factor a 1M-token budget
    // implies per source (> 1 ⇒ that source repeats). The corpus
    // touches ONE narrow fused-profile pass collapsed map-side to a
    // source-count-sized table; Σ√n flows through Det decimal so the
    // denominator is one exact number on any partitioning, then
    // broadcast back as a 1-row crossJoin.
    Q("p06_mixture_weights",
      (s, dir) => {
        val toks = Tables(s, dir, "documents")
          .select(col("source"),
            graft.functions.TextProfileExprs.text_profile(col("text"))
              .getField("n_tok").as("n_tok"))
          .groupBy("source")
          .agg(sum(col("n_tok")).as("n_tokens"))
        val z = toks.agg(
          graft.core.Det.dsum(sqrt(col("n_tokens").cast("double"))).as("z"))
        toks.crossJoin(broadcast(z))
          .withColumn("weight",
            sqrt(col("n_tokens").cast("double")) / col("z"))
          .select(col("source"), col("n_tokens"), col("weight"),
            (lit(1000000.0) * col("weight") /
              col("n_tokens").cast("double")).as("epochs"))
      },
      Some(s"""WITH n AS (SELECT source,
              |    CAST(sum(len(${graft.queries.OracleSql.toks("text")})) AS BIGINT)
              |      AS n_tokens
              |  FROM documents GROUP BY source),
              |zt AS (SELECT ${graft.core.Det.sql.dsum("sqrt(CAST(n_tokens AS DOUBLE))")}
              |         AS z FROM n),
              |w AS (SELECT source, n_tokens,
              |        sqrt(CAST(n_tokens AS DOUBLE)) / z AS weight FROM n, zt)
              |SELECT source, n_tokens, weight,
              |  1000000.0 * weight / CAST(n_tokens AS DOUBLE) AS epochs
              |FROM w""".stripMargin)),

    // The round-6 signals composed into ONE per-doc quality scorecard
    // (the filter table a curation run materializes before sampling):
    // deflate ratio (t23), lexical diversity (t30), token shape (t31),
    // and an integer-exact keep rule — not repetitive (ratio ≥ 0.35),
    // TTR ≥ 0.3 (10·types ≥ 3·tokens), digit-token share ≤ ½
    // (2·digits ≤ raw tokens). Scale: the per-row branch is
    // zero-exchange; the diversity branch is the two-level vocab agg;
    // they join once on doc_id. The ratio oracle joins the
    // independent golden fixture — the whole composition stays a
    // full hash gate.
    Q("p07_quality_scorecard",
      (s, dir) => {
        val docs = Tables(s, dir, "documents")
        val raw = filter(split(col("text"), graft.functions.TextFunctions.Ws),
          t => length(t) > lit(0))
        val rowSig = docs.select(col("doc_id"), col("source"),
          graft.functions.CompressRatioExprs.compress_ratio(col("text"))
            .as("ratio"),
          size(raw).cast("long").as("n_raw"),
          size(filter(raw, t => t.rlike("^[0-9]+$")))
            .cast("long").as("n_digit"))
        val div = TextQueries.lexicalDiversity(docs)
        rowSig.join(div, Seq("doc_id"))
          .select(col("doc_id"), col("source"), col("ratio"),
            col("n_tokens"), col("n_types"),
            (col("ratio") >= 0.35 &&
              col("n_types") * 10L >= col("n_tokens") * 3L &&
              col("n_digit") * 2L <= col("n_raw")).as("keep"))
      },
      Some(s"""WITH tk AS (SELECT doc_id, unnest(${graft.queries.OracleSql.toks("text")}) AS w
              |           FROM documents),
              |f AS (SELECT doc_id, w, count(*) AS c FROM tk GROUP BY doc_id, w),
              |div AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
              |          CAST(count(*) AS BIGINT) AS n_types
              |        FROM f GROUP BY doc_id),
              |shape AS (SELECT doc_id,
              |  CAST(len(list_filter(string_split_regex(text, '${graft.queries.OracleSql.Ws}'),
              |    t -> length(t) > 0)) AS BIGINT) AS n_raw,
              |  CAST(len(list_filter(string_split_regex(text, '${graft.queries.OracleSql.Ws}'),
              |    t -> length(t) > 0 AND regexp_matches(t, '^[0-9]+$$')))
              |    AS BIGINT) AS n_digit
              |  FROM documents)
              |SELECT d.doc_id, d.source, g.ratio, div.n_tokens, div.n_types,
              |  (g.ratio >= 0.35 AND div.n_types * 10 >= div.n_tokens * 3
              |   AND shape.n_digit * 2 <= shape.n_raw) AS keep
              |FROM documents d
              |JOIN '${graft.queries.OracleSql.golden("t23_golden.parquet")}' g
              |  ON md5(d.text) = g.h
              |JOIN div ON d.doc_id = div.doc_id
              |JOIN shape ON d.doc_id = shape.doc_id""".stripMargin)))
}
