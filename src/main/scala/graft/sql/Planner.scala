package graft.sql

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import Ast._
import graft.functions.GraftFunctions

/** AST → DataFrame planner. Declarative by design: every dialect
  * construct compiles to built-in `org.apache.spark.sql` column algebra
  * and DataFrame operators, so Catalyst gets the whole logical plan —
  * predicate pushdown, column pruning, join strategy selection and AQE
  * all apply without custom rules (SURVEY.md §4: the reference's
  * "optimizations" are all subsumed by Catalyst built-ins; only the
  * §2.10 typing pass is ours, implemented here pre-plan).
  */
final class Planner(resolve: (String, Boolean) => DataFrame,
    defaultPassword: Option[String] = None) {
  final case class PlanError(msg: String) extends RuntimeException(msg)

  /** Hard cap on a `serve … query` batch: the panel is the broadcast
    * side of the partition-pruned gather, so it must stay query-sized
    * (the RunToTableMaxRows discipline applied to serving). */
  val ServeMaxBatch: Long = 100000L

  // ── dialect static types (reference utils.go:353-360) ───────────────
  sealed trait DType
  case object TNull extends DType; case object TInt extends DType
  case object TFloat extends DType; case object TDate extends DType
  case object TDur extends DType; case object TStr extends DType

  private def dtypeOf(t: DataType): DType = t match {
    case _: IntegerType | _: LongType | _: ShortType | _: ByteType => TInt
    case _: DoubleType | _: FloatType | _: DecimalType => TFloat
    case _: TimestampType | _: TimestampNTZType | _: DateType => TDate
    case _: DayTimeIntervalType => TDur
    case _ => TStr
  }

  /** Column catalog for resolution: (qualifier, name, column, dtype) in
    * file-registration order — powers `cN` positional refs and
    * `select *` expansion (reference parser.go:444-496). */
  final case class Cat(entries: Seq[(Option[String], String, Column, DType)]) {
    /** Resolve or None (the caller decides whether an unresolved bare
      * word falls back to a text literal, like the reference's parser
      * does for word tokens, parser.go:444). */
    def tryLookup(ref: ColRef): Option[(Column, DType)] = {
      val cN = """^c(\d+)$""".r
      ref match {
        case ColRef(None, cN(i)) if i.toInt >= 1 && i.toInt <= entries.size =>
          val e = entries(i.toInt - 1); Some((e._3, e._4))
        case ColRef(Some(q), cN(i)) if {
          val mine = entries.filter(_._1.exists(_.equalsIgnoreCase(q)))
          i.toInt >= 1 && i.toInt <= mine.size &&
            !mine.exists(_._2.equalsIgnoreCase(s"c$i")) // real column named cN wins
        } =>
          // alias-qualified positional: cN = Nth column of that file
          val mine = entries.filter(_._1.exists(_.equalsIgnoreCase(q)))
          val e = mine(i.toInt - 1); Some((e._3, e._4))
        case ColRef(q, n) =>
          val hits = entries.filter { case (eq, en, _, _) =>
            en.equalsIgnoreCase(n) && q.forall(qq => eq.exists(_.equalsIgnoreCase(qq)))
          }
          // unqualified ambiguity resolves to the first-registered
          // file's column, like the reference's linear search
          // (reference utils.go:368-375)
          hits.headOption.map(h => (h._3, h._4))
      }
    }

    def lookup(ref: ColRef): (Column, DType) =
      tryLookup(ref).getOrElse(throw PlanError(
        s"column not found: ${ref.qualifier.map(_ + ".").getOrElse("")}${ref.name}"))
  }

  /** `c` option: bare integer literals resolve as 1-based positional
    * column refs (reference parser.go:479-486). Set per-query. */
  private var intColumns: Boolean = false

  /** Hoisted session(ts, gap, part) calls → hidden-column name for the
    * current query (same hidden-slot mechanism as inc()/having). */
  private var sessionCols: Map[FnCall, String] = Map.empty

  // ── planning ────────────────────────────────────────────────────────
  /** Case-insensitive column pick, aliased to the builder's expected
    * name ONLY when the source name differs — a redundant `x AS x`
    * would survive as an extra Project and break the plan-identity
    * pins vs the gated builders (PlanSpec sameResult). */
  private def named(base: DataFrame, want: String, target: String): Column =
    base.columns
      .find(_.equalsIgnoreCase(want))
      .map(actual => if (actual == target) base.col(actual)
                     else base.col(actual).as(target))
      .getOrElse(throw PlanError(s"column not found: $want"))

  /** `similar id, vec from t [top k]` — whole-corpus ANN top-k,
    * lowered VERBATIM to the v03 builder (banded LSH candidates with
    * the BucketGuard cap → cosine on candidates only → per-query
    * top-k). Emits (q_id, n_id, sim, rank). */
  def planSimilar(st: SimilarStmt): DataFrame = {
    val base = resolve(st.from.table, st.from.noHeader)
    val e = base.select(named(base, st.idCol, "vec_id"),
      named(base, st.vecCol, "embedding"))
    if (!e.schema("embedding").dataType.isInstanceOf[ArrayType])
      throw PlanError(s"similar: ${st.vecCol} must be an array (vector) column")
    graft.queries.VectorQueries.annTopk(e, st.k.toInt)
  }

  /** `dedup near|exact id, text from t` — lowers VERBATIM to the gated
    * dedup builders (DedupQueries): `near` is the d02→d03 pipeline
    * (fused native MinHash signature → banded LSH self-join with the
    * BucketGuard hot-bucket cap → candidate pairs doc_a < doc_b);
    * `exact` is d01's single hash-partitioned groupBy on md5(text).
    * Because the statement shares the builders, its physical plan is
    * identical to d03's by construction (pinned in PlanSpec): band-key
    * shuffles only, never a cartesian. */
  def planDedup(d: DedupStmt): DataFrame = {
    val base = resolve(d.from.table, d.from.noHeader)
    val docs = base.select(named(base, d.idCol, "doc_id"),
      named(base, d.textCol, "text"))
    (d.mode, d.threshold) match {
      case ("near", None) =>
        graft.queries.DedupQueries.candidatePairsOf(
          graft.queries.DedupQueries.sigOf(docs))
      case ("near", Some(t)) =>
        // d04's verification stage: exact Jaccard on the LSH
        // candidates only, thresholded — (doc_a, doc_b, jac)
        graft.queries.DedupQueries.jaccardOf(docs).filter(col("jac") >= lit(t))
      case ("best", _) =>
        // d19: CC clusters over the LSH pairs, keep the highest-
        // quality doc per cluster (ties to lowest doc_id)
        graft.queries.DedupQueries.canonicalPickOf(docs)
      case ("semantic", t) =>
        // d08 (SemDeDup): k-means cell partition, within-cell cosine
        // domination — the second column is an EMBEDDING here, not
        // text (vec_id, cell, keep)
        val e = base.select(named(base, d.idCol, "vec_id"),
          named(base, d.textCol, "embedding"))
        if (!e.schema("embedding").dataType.isInstanceOf[ArrayType])
          throw PlanError(
            s"dedup semantic: ${d.textCol} must be an array (vector) column")
        graft.queries.DedupQueries.semanticDedup(e, t.getOrElse(0.2))
      case _ => graft.queries.DedupQueries.exactDedup(docs)
    }
  }

  /** `mix id[,] text from t [budget n] [per src]` — lowers VERBATIM to
    * the p12 builder (PipelineQueries.tokenBudgetMix): deterministic
    * per-source token-budget admission via the two-phase grouped
    * cumsum, never a per-source window funnel. Requires an integral
    * id (the hash order key is integer arithmetic) and a text column;
    * the three columns must be distinct (Spark's case-insensitive
    * resolution rule — a collision would project ambiguous
    * duplicates). */
  def planMix(st: MixStmt): DataFrame = {
    if (st.srcCol.equalsIgnoreCase(st.idCol) ||
        st.srcCol.equalsIgnoreCase(st.textCol) ||
        st.idCol.equalsIgnoreCase(st.textCol))
      throw PlanError("mix: id, text and per columns must be distinct")
    val base = resolve(st.from.table, st.from.noHeader)
    val docs = base.select(named(base, st.idCol, "doc_id"),
      named(base, st.srcCol, "source"), named(base, st.textCol, "text"))
    docs.schema("doc_id").dataType match {
      case _: LongType | _: IntegerType | _: ShortType | _: ByteType => ()
      case other => throw PlanError(
        s"mix: ${st.idCol} must be an integer id column, found $other")
    }
    if (!docs.schema("text").dataType.isInstanceOf[StringType])
      throw PlanError(s"mix: ${st.textCol} must be a text column")
    graft.queries.PipelineQueries.tokenBudgetMix(docs, st.budget)
  }

  /** `shard id from t [into n]` — lowers VERBATIM to the t32 builder
    * (TextQueries.shardLayout): deterministic (shard, pos) addressing,
    * one hash exchange, no global sort. Requires an integral id (the
    * multiplicative hash is integer arithmetic). */
  def planShard(st: ShardStmt): DataFrame = {
    val base = resolve(st.from.table, st.from.noHeader)
    val docs = base.select(named(base, st.idCol, "doc_id"))
    docs.schema("doc_id").dataType match {
      case _: LongType | _: IntegerType | _: ShortType | _: ByteType => ()
      case other => throw PlanError(
        s"shard: ${st.idCol} must be an integer id column, found $other")
    }
    graft.queries.TextQueries.shardLayout(docs, st.n.toInt)
  }

  /** `interleave id, src from t` — lowers VERBATIM to the t33 builder
    * (TextQueries.sourceInterleave): strict round-robin global mixing
    * order without a global sort. */
  def planInterleave(st: InterleaveStmt): DataFrame = {
    val base = resolve(st.from.table, st.from.noHeader)
    graft.queries.TextQueries.sourceInterleave(
      base.select(named(base, st.idCol, "doc_id"),
        named(base, st.srcCol, "source")))
  }

  /** `search id, text from t for 'terms' [top k]` — lowers VERBATIM to
    * the t21 BM25 builder (one tokenize pass, per-doc agg shared by
    * corpus stats and postings via ReusedExchange, global top-k). The
    * terms were lowercased and whitespace-split by the parser; they
    * must be plain tokens (the tokenizer's alphabet) because each term
    * becomes a per-term tf/df column in the one-pass agg. */
  def planSearch(st: SearchStmt): DataFrame = {
    st.terms.foreach { t =>
      if (!t.matches("[a-z0-9]+"))
        throw PlanError(s"search term '$t' is not a plain token (letters/digits only)")
    }
    val base = resolve(st.from.table, st.from.noHeader)
    graft.queries.TextQueries.bm25(
      base.select(named(base, st.idCol, "doc_id"),
        named(base, st.textCol, "text")),
      st.terms, st.k.toInt)
  }

  /** `split id from t [into p1 p2 p3]` — lowers VERBATIM to the t06
    * builder (TextQueries.trainSplit): deterministic hash-bucket
    * train/val/test assignment; the parser already enforced three
    * positive percentages summing to 100. Requires an integral id
    * (the bucket hash is integer arithmetic). */
  def planSplit(st: SplitStmt): DataFrame = {
    val base = resolve(st.from.table, st.from.noHeader)
    val docs = base.select(named(base, st.idCol, "doc_id"))
    docs.schema("doc_id").dataType match {
      case _: LongType | _: IntegerType | _: ShortType | _: ByteType => ()
      case other => throw PlanError(
        s"split: ${st.idCol} must be an integer id column, found $other")
    }
    graft.queries.TextQueries.trainSplit(docs, st.pcts(0), st.pcts(1))
  }

  /** `cluster id, vec from t [into k]` — lowers VERBATIM to the v06
    * k-means machinery (VectorQueries.kmeansCells): deterministic
    * Lloyd fit (centers driver-collected and re-broadcast as literals
    * — the corpus is never shuffled by center) plus one narrow
    * codegen'd assignment pass. NOTE: fit is EAGER (it runs the Lloyd
    * iterations when the statement is planned), like any k-means. */
  def planCluster(st: ClusterStmt): DataFrame = {
    val base = resolve(st.from.table, st.from.noHeader)
    val e = base.select(named(base, st.idCol, "vec_id"),
      named(base, st.vecCol, "embedding"))
    if (!e.schema("embedding").dataType.isInstanceOf[ArrayType])
      throw PlanError(s"cluster: ${st.vecCol} must be an array (vector) column")
    graft.queries.VectorQueries.kmeansCells(e, st.k.toInt)
  }

  /** `sample id from t [pct n]` — lowers VERBATIM to the t05 builder
    * (TextQueries.hashSample over 100 buckets): deterministic
    * hash-bucket sampling, a per-row integer filter pushed into the
    * scan. Requires an integral id. */
  def planSample(st: SampleStmt): DataFrame = {
    val base = resolve(st.from.table, st.from.noHeader)
    def requireIntegralId(df: DataFrame): Unit =
      df.schema("doc_id").dataType match {
        case _: LongType | _: IntegerType | _: ShortType | _: ByteType => ()
        case other => throw PlanError(
          s"sample: ${st.idCol} must be an integer id column, found $other")
      }
    def requireNumericWeight(df: DataFrame, w: String): Unit =
      df.schema(w).dataType match {
        case _: NumericType => ()
        case other => throw PlanError(
          s"sample: weight ${w} must be a numeric column, found $other")
      }
    // the weighted builders take an Int limit: a parsed n beyond
    // Int.MaxValue would wrap negative at .toInt and surface as a
    // confusing runtime failure — reject it at plan time instead
    st.topN.filter(_ > Int.MaxValue).foreach { n =>
      throw PlanError(s"sample: top $n exceeds the maximum ${Int.MaxValue}")
    }
    (st.topN, st.weightCol, st.perCol) match {
      case (Some(n), Some(w), None) =>
        // weighted draw — lowers VERBATIM to the x10 builder
        // (ApproxQueries.weightedSample): deterministic E-S keys +
        // a LIMIT-bounded TakeOrdered, never RNG, never a full sort
        val docs = base.select(named(base, st.idCol, "doc_id"),
          named(base, w, w))
        requireIntegralId(docs)
        requireNumericWeight(docs, w)
        graft.queries.ApproxQueries.weightedSample(docs, w, n.toInt)
      case (Some(n), Some(w), Some(g)) =>
        // stratified weighted draw — the x13 builder: an independent
        // per-group E-S draw, WindowGroupLimit-capped per group. The
        // group column must be distinct from the id/weight columns
        // (case-insensitively, Spark's resolution rule) or the
        // projection below would carry ambiguous duplicates.
        if (g.equalsIgnoreCase(st.idCol) || g.equalsIgnoreCase(w))
          throw PlanError(
            s"sample: per-group column $g must differ from the id and weight columns")
        val docs = base.select(named(base, g, g),
          named(base, st.idCol, "doc_id"), named(base, w, w))
        requireIntegralId(docs)
        requireNumericWeight(docs, w)
        graft.queries.ApproxQueries.groupedWeightedSample(docs, g, w, n.toInt)
      case (None, None, Some(_)) =>
        // unreachable from the grammar, but SampleStmt is public AST:
        // never silently drop a requested stratification
        throw PlanError("sample: per requires the weighted form top <n> by <w>")
      case _ =>
        val docs = base.select(named(base, st.idCol, "doc_id"))
        requireIntegralId(docs)
        graft.queries.TextQueries.hashSample(docs, st.pct, 100L)
    }
  }

  /** `trend ts, key from t [top k]` — lowers to the e21 builder
    * (EventQueries.trending) with a synthesized non-null row id and
    * zero value column (Catalyst prunes the unused sum): top-k key
    * values per 2h/1h sliding window. The ranking window runs over
    * the already-aggregated (windows × keys) frame, never the rows. */
  def planTrend(st: TrendStmt): DataFrame = {
    val base = resolve(st.from.table, st.from.noHeader)
    val e = base.select(named(base, st.tsCol, "ts"),
      named(base, st.keyCol, "event_type"))
    if (!e.schema("ts").dataType.isInstanceOf[TimestampType])
      throw PlanError(s"trend: ${st.tsCol} must be a timestamp column")
    graft.queries.EventQueries.trending(
      e.withColumn("event_id", lit(1L)).withColumn("value", lit(0.0)),
      st.k.toInt)
  }

  /** `card id, text from t` — lowers VERBATIM to the p11 core
    * (PipelineQueries.datasetCard): the one-row release datasheet
    * (n_docs, n_tokens, dup_docs, mean_quality) from three bounded
    * aggregates. */
  def planCard(st: CardStmt): DataFrame = {
    val base = resolve(st.from.table, st.from.noHeader)
    val docs = base.select(named(base, st.idCol, "doc_id"),
      named(base, st.textCol, "text"))
    if (!docs.schema("text").dataType.isInstanceOf[StringType])
      throw PlanError(s"card: ${st.textCol} must be a text column")
    graft.queries.PipelineQueries.datasetCard(docs)
  }

  /** `calibrate id, src, text from t` — lowers VERBATIM to the t42
    * builder (TextQueries.sourceQualityCalibration): per-source
    * quality percentile + keep-top-70% flag via the tiny
    * histogram-CDF broadcast, never a corpus-sized window. */
  def planCalibrate(st: CalibrateStmt): DataFrame = {
    val base = resolve(st.from.table, st.from.noHeader)
    val docs = base.select(named(base, st.idCol, "doc_id"),
      named(base, st.srcCol, "source"),
      named(base, st.textCol, "text"))
    if (!docs.schema("text").dataType.isInstanceOf[StringType])
      throw PlanError(s"calibrate: ${st.textCol} must be a text column")
    graft.queries.TextQueries.sourceQualityCalibration(docs)
  }

  /** `negatives id, vec, label from t [top k]` — lowers VERBATIM to
    * the v37 builder (VectorQueries.hardNegatives): per-query
    * different-label top-k via the two-stage Hamming shortlist
    * (4·k deep) → broadcast gather → exact-cosine re-rank. */
  def planNegatives(st: NegativesStmt): DataFrame = {
    val base = resolve(st.from.table, st.from.noHeader)
    val e = base.select(named(base, st.idCol, "vec_id"),
      named(base, st.vecCol, "embedding"),
      named(base, st.labelCol, "label"))
    if (!e.schema("embedding").dataType.isInstanceOf[ArrayType])
      throw PlanError(s"negatives: ${st.vecCol} must be an array (vector) column")
    if (e.schema("label").dataType.isInstanceOf[ArrayType])
      throw PlanError(s"negatives: ${st.labelCol} must be a scalar label column")
    graft.queries.VectorQueries.hardNegatives(e, 4 * st.k.toInt, st.k.toInt)
  }

  /** `outliers id, vec from t [top k]` — lowers VERBATIM to the v39
    * builder (VectorQueries.centroidOutliersOf): nearest-centroid
    * squared distance against broadcast-literal centers, the k
    * farthest rows via a LIMIT-bounded TakeOrdered. */
  def planOutliers(st: OutliersStmt): DataFrame = {
    val base = resolve(st.from.table, st.from.noHeader)
    val e = base.select(named(base, st.idCol, "vec_id"),
      named(base, st.vecCol, "embedding"))
    if (!e.schema("embedding").dataType.isInstanceOf[ArrayType])
      throw PlanError(s"outliers: ${st.vecCol} must be an array (vector) column")
    graft.queries.VectorQueries.centroidOutliersOf(e, topN = st.k.toInt)
  }

  /** `repair id, vec from t [threshold x]` — lowers VERBATIM to the
    * v41 builder (VectorQueries.ivfRepair): dirty-cell selection on
    * k·d driver doubles, then ONE narrow codegen'd scan re-scoring
    * only those cells' vectors against broadcast-literal new centers
    * — no join, no exchange (PlanSpec-pinned). */
  def planRepair(st: RepairStmt): DataFrame = {
    val base = resolve(st.from.table, st.from.noHeader)
    val e = base.select(named(base, st.idCol, "vec_id"),
      named(base, st.vecCol, "embedding"))
    if (!e.schema("embedding").dataType.isInstanceOf[ArrayType])
      throw PlanError(s"repair: ${st.vecCol} must be an array (vector) column")
    st.indexPath match {
      case None => graft.queries.VectorQueries.ivfRepair(e, thresh = st.thresh)
      case Some(path) =>
        // membership off the persisted layout: serving centers come
        // from the index's OWN `_centers` sidecar (k·d driver rows —
        // the fit the build froze; no corpus re-fit, and no
        // table-vs-index consistency hazard since the statement's
        // table never participates); refreshed centers come from the
        // sidecar too when its means are current (every overwrite op
        // maintains them), falling back to one scan OF THE INDEX when
        // appends left them stale (never a corpus re-assign); the
        // dirty set prunes the re-score to dirty cells' FILES
        import graft.queries.VectorQueries._
        import graft.operators.IvfIndex
        val spark = e.sparkSession
        IvfIndex.SidecarCache.get(spark, path) match {
          case Some(side) =>
            if (side.pendingAppends)
              throw PlanError(s"repair: index at '$path' has un-compacted " +
                "appends — superseded row versions would be re-scored; " +
                "run compact first")
            val refreshed =
              if (side.staleCells.isEmpty && !side.pendingAppends) side.refresh
              else refreshedCenters(IvfIndex.read(spark, path))
            ivfRepairIndexed(spark, path, side.serving, refreshed, st.thresh)
          case None =>
            // pre-sidecar layout: re-derive the serving fit from the
            // statement's table (the round-11 behavior)
            val old = kmeansFit(e, KMEANS_K, KMEANS_ITERS - 1)
            val refreshed = refreshedCenters(IvfIndex.read(spark, path))
            ivfRepairIndexed(spark, path, old, refreshed, st.thresh)
        }
    }
  }

  /** `index id, vec from t into '<path>'` — lowers to the shared
    * IvfIndex lifecycle (IvfIndex.build): sample-bounded fit, ONE
    * assignment pass, cell-partitioned hive write, and the `_centers`
    * sidecar (serving centers + refresh means + occupancy) that later
    * `serve`/`repair` statements route off without touching index
    * files (EAGER, like `cluster`'s fit). Emits the per-cell build
    * report (cell, n_vecs) — a k-row aggregate over the partition
    * column only. */
  def planIndex(st: IndexStmt): DataFrame = {
    val base = resolve(st.from.table, st.from.noHeader)
    val e = base.select(named(base, st.idCol, "vec_id"),
      named(base, st.vecCol, "embedding"))
    if (!e.schema("embedding").dataType.isInstanceOf[ArrayType])
      throw PlanError(s"index: ${st.vecCol} must be an array (vector) column")
    graft.operators.IvfIndex.build(e, st.path, pq = st.pq)
    // the per-cell build report comes off the sidecar the build just
    // wrote (k driver rows) — the index is never re-scanned for it
    val counts = graft.operators.IvfIndex.readSidecar(e.sparkSession, st.path)
      .map(_.counts).getOrElse(Map.empty)
    val spark = e.sparkSession
    import spark.implicits._
    counts.toSeq.filter(_._2 > 0).sortBy(_._1)
      .toDF("cell", "n_vecs")
  }

  /** `ingest id, vec from t into '<path>' [append]` — incremental
    * ingest against the persisted index: arrivals assign against the
    * FROZEN serving centers off the `_centers` sidecar (k·d driver
    * doubles — never a fit, never an index scan for routing), then
    * land via IvfIndex.upsert (default — touched cells rewrite,
    * cross-cell re-ingest swept) or IvfIndex.append (O(batch) files
    * at the next seq version). EAGER like `index`. Emits the
    * post-ingest (vec_id, cell) readback, version-resolved under
    * append. */
  def planIngest(st: IngestStmt): DataFrame = {
    val base = resolve(st.from.table, st.from.noHeader)
    val e = base.select(named(base, st.idCol, "vec_id"),
      named(base, st.vecCol, "embedding"))
    if (!e.schema("embedding").dataType.isInstanceOf[ArrayType])
      throw PlanError(s"ingest: ${st.vecCol} must be an array (vector) column")
    val spark = e.sparkSession
    import graft.operators.IvfIndex
    val side = IvfIndex.SidecarCache.get(spark, st.path).getOrElse(
      throw PlanError(s"ingest: no _centers sidecar at '${st.path}' — " +
        "build the index with `index … into` first"))
    if (side.serving.isEmpty)
      throw PlanError(s"ingest: index at '${st.path}' has no serving centers")
    val assigned0 = graft.queries.VectorQueries.kmeansAssign(e, side.serving)
    // a PQ index's arrivals carry their codes (encoded against the
    // sidecar's frozen books — same one-projection shape as build)
    val assigned =
      if (side.hasPq) IvfIndex.withCodes(assigned0, side.serving, side.books)
      else assigned0
    if (st.append) IvfIndex.append(spark, st.path, assigned)
    else IvfIndex.upsert(spark, st.path, assigned)
    if (st.append) IvfIndex.readLatest(spark, st.path)
      .select(col("vec_id"), col("cell"))
    else IvfIndex.read(spark, st.path).select(col("vec_id"), col("cell"))
  }

  /** `compact '<path>' [files n]` — lowers to IvfIndex.compact:
    * rewrites over-full or superseded-version cells, refreshes their
    * sidecar means, clears pending-appends. Emits the post-compact
    * per-cell occupancy off the UPDATED sidecar (k driver rows). */
  def planCompact(st: CompactStmt): DataFrame = {
    val spark = org.apache.spark.sql.SparkSession.active
    import graft.operators.IvfIndex
    // a LEGACY layout (cell-partitioned, no sidecar) is accepted:
    // compact backfills the `_centers` sidecar in one index scan, so
    // serve/repair/ingest route off driver rows afterwards — the
    // one-shot fix the serve fallback warning names
    val raw = try graft.operators.IvfIndex.openRaw(spark, st.path) catch {
      case e: Exception =>
        throw PlanError(s"compact: cannot read index at '${st.path}': ${e.getMessage}")
    }
    if (!raw.columns.contains("cell"))
      throw PlanError(s"compact: '${st.path}' is not a cell-partitioned " +
        "index (no `cell` column)")
    IvfIndex.compact(spark, st.path, st.files.toInt)
    val counts = IvfIndex.readSidecar(spark, st.path)
      .map(_.counts).getOrElse(Map.empty)
    import spark.implicits._
    counts.toSeq.filter(_._2 > 0).sortBy(_._1).toDF("cell", "n_vecs")
  }

  /** `serve id, vec from '<path>' [query t] [top k] [probe n]` —
    * partition-pruned serving off the persisted index
    * (IvfIndex.serve): query batches route off the `_centers` sidecar
    * (k·d driver rows, cached per path — zero index scans before the
    * gather), the probed-cell union becomes a static partition
    * predicate, only those cells' files are read. */
  def planServe(st: ServeStmt): DataFrame = {
    val spark = org.apache.spark.sql.SparkSession.active
    val raw = try graft.operators.IvfIndex.openRaw(spark, st.path) catch {
      case e: Exception =>
        throw PlanError(s"serve: cannot read index at '${st.path}': ${e.getMessage}")
    }
    if (!raw.columns.contains("cell"))
      throw PlanError(s"serve: '${st.path}' is not a cell-partitioned index (no `cell` column)")
    val idx = raw.select(named(raw, st.idCol, "vec_id"),
      named(raw, st.vecCol, "embedding"),
      col("cell").cast(LongType).as("cell"))
    if (!idx.schema("embedding").dataType.isInstanceOf[ArrayType])
      throw PlanError(s"serve: ${st.vecCol} must be an array (vector) column")
    // EITHER panel reads index files — refuse while appended files may
    // hold superseded row versions (a gather could return a stale
    // vector); `compact` clears the flag
    val side = graft.operators.IvfIndex.SidecarCache.get(spark, st.path)
    side.foreach(s => if (s.pendingAppends)
      throw PlanError(s"serve: index at '${st.path}' has un-compacted " +
        "appends — a pruned gather could return superseded vectors; " +
        "run compact first"))
    // the UNIQUE external query batch (q_id, q_emb), routed ONCE on
    // the driver: the serving means come off the `_centers` sidecar
    // (k·d driver doubles from a k-row file, cached per path — zero
    // index scans; pre-sidecar layouts fall back to the full-index
    // mean aggregate, LOUDLY, with the one-shot fix named), and the
    // batch-size cap check, the probed-cell set, the routing panel
    // AND the re-rank query side all come off ONE bounded collect of
    // the routing projection (r16 — the r15 shape collected only the
    // cells and re-READ the batch table twice more per call: once for
    // the panel broadcast build, once for the re-rank pairing; a
    // serving batch is ≤ServeMaxBatch by contract, so its rows are
    // driver-budget data the collect already bounded). The panel
    // rides as the BROADCAST side of the pruned gather — a
    // corpus-sized "batch" would be a different op (a self-join), so
    // an over-cap batch fails loudly before any broadcast (and the
    // `limit` bounds the failed collect's transfer to cap+1 rows).
    val routed: Option[(DataFrame, DataFrame, Long, Seq[Long])] =
      st.query.map { qt =>
        val qbase = resolve(qt, false)
        val q = qbase.select(named(qbase, st.idCol, "q_id"),
          named(qbase, st.vecCol, "q_emb"))
        if (!q.schema("q_emb").dataType.isInstanceOf[ArrayType])
          throw PlanError(s"serve: ${st.vecCol} must be an array (vector) column in the query table")
        val means = side.map(_.refresh).getOrElse {
          Planner.warn(s"serve: index at '${st.path}' has no _centers " +
            "sidecar — routing this batch costs a FULL-INDEX mean " +
            s"aggregate per call; run `compact '${st.path}'` once to " +
            "backfill the sidecar and restore zero-scan routing")
          graft.queries.VectorQueries.refreshedCenters(idx)
        }
        if (means.isEmpty) throw PlanError(s"serve: index at '${st.path}' is empty")
        val d = means.head._2.length
        val cellsDf =
          if (st.probe <= 1L)
            q.select(col("q_id"), col("q_emb"),
              array(graft.functions.VectorExprs.nearest_centroid(
                col("q_emb"), means, d)).as("cells"))
          else
            q.select(col("q_id"), col("q_emb"),
              graft.functions.VectorExprs.nearest_cells(
                col("q_emb"), means, d, st.probe.toInt).as("cells"))
        val rows = cellsDf.limit((ServeMaxBatch + 1L).toInt).collect()
        if (rows.length > ServeMaxBatch)
          throw PlanError(s"serve: query batch has more than $ServeMaxBatch " +
            s"rows (cap $ServeMaxBatch): serving batches must be " +
            "query-sized; for corpus-scale scoring use `similar` or the " +
            "ANN pipeline operators")
        val probed = rows.iterator
          .flatMap(_.getSeq[Any](2))
          .map(_.asInstanceOf[Number].longValue())
          .toArray.distinct.sorted.toSeq
        import org.apache.spark.sql.Row
        import org.apache.spark.sql.types.{LongType, StructField, StructType}
        val qLocal = spark.createDataFrame(
          java.util.Arrays.asList(
            rows.map(r => Row(r.get(0), r.get(1))): _*),
          StructType(q.schema.fields))
        // multi-probe: each query fans out to one panel row per
        // probed cell; the gather stays pruned to the probed union
        // and the per-query rank merges candidates across cells
        val panelLocal = spark.createDataFrame(
          java.util.Arrays.asList(
            rows.flatMap(r => r.getSeq[Any](2).map(c =>
              Row(r.get(0), r.get(1),
                java.lang.Long.valueOf(
                  c.asInstanceOf[Number].longValue())))): _*),
          StructType(q.schema.fields :+
            StructField("cell", LongType, nullable = false)))
        (qLocal, panelLocal, rows.length.toLong, probed)
      }
    val panel = routed match {
      case None =>
        // the v45 demo panel: indexed vectors, cells already on disk —
        // a pushed-down `vec_id < 5` scan (the layout range-partitions
        // on (cell, vec_id), so row-group stats skip almost everything)
        idx.filter(col("vec_id") < 5)
          .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
            col("cell"))
      case Some((_, panelLocal, _, _)) => panelLocal
    }
    if (!st.pq) graft.operators.IvfIndex.serve(idx, panel, st.k.toInt,
      probedHint = routed.map(_._4))
    else {
      // PQ-accelerated: ADC shortlist over the stored codes (the scan
      // never reads the embedding column), exact re-rank of the
      // winners — serving centers and codebooks off the sidecar
      val s = side.getOrElse(throw PlanError(
        s"serve: pq needs the index's _centers sidecar — " +
          s"rebuild with `index … into '${st.path}' pq`"))
      if (!s.hasPq || !raw.columns.contains("pq"))
        throw PlanError(s"serve: index at '${st.path}' stores no PQ codes — " +
          s"rebuild with `index … into '${st.path}' pq`")
      val idxFull = raw.select(named(raw, st.idCol, "vec_id"),
        named(raw, st.vecCol, "embedding"), col("pq"),
        col("cell").cast(LongType).as("cell"))
      // the UNIQUE query batch for the re-rank pairing (the panel may
      // carry one row per probed cell under multi-probe)
      val (queries, _, nQueries, probed) = routed.get
      // the sidecar's occupancy counts drive the gather's per-cell
      // pushed-vs-full flip (serve refused pendingAppends above, so
      // the counts are current for every servable index); the
      // cap-check count AND the probed-cell set are threaded through
      // so the gather gate costs zero extra driver jobs on the
      // latency path
      graft.operators.IvfIndex.servePq(idxFull, queries, panel, st.k.toInt,
        st.shortlist.toInt, s.serving, s.books, cellRows = s.counts,
        knownBatchRows = Some(nQueries), probedHint = Some(probed))
    }
  }

  /** `drift vec from ref against cur` — lowers VERBATIM to the x14
    * builder (ApproxQueries.embeddingDrift): per-dim PSI between the
    * two snapshots' fixed-edge histograms; each side costs one narrow
    * scan into a ≤48-row count, the math runs on the joined tiny
    * frame. */
  def planDrift(st: DriftStmt): DataFrame = {
    def side(from: FromClause, role: String): DataFrame = {
      val base = resolve(from.table, from.noHeader)
      val e = base.select(named(base, st.vecCol, "embedding"))
      if (!e.schema("embedding").dataType.isInstanceOf[ArrayType])
        throw PlanError(
          s"drift: ${st.vecCol} must be an array (vector) column in the $role table")
      e
    }
    graft.queries.ApproxQueries.embeddingDrift(
      side(st.ref, "reference"), side(st.cur, "current"))
  }

  /** `epochs src, text from t [budget n]` — lowers VERBATIM to the
    * p14 builder (PipelineQueries.epochPlan): one corpus token-count
    * agg to k source rows, temperature-α=0.5 shares, capped epochs,
    * effective tokens. */
  def planEpochs(st: EpochsStmt): DataFrame = {
    val base = resolve(st.from.table, st.from.noHeader)
    val docs = base.select(named(base, st.srcCol, "source"),
      named(base, st.textCol, "text"))
    if (!docs.schema("text").dataType.isInstanceOf[StringType])
      throw PlanError(s"epochs: ${st.textCol} must be a text column")
    graft.queries.PipelineQueries.epochPlan(docs, st.budget)
  }

  /** `retention user, ts from t` — lowers VERBATIM to the e24 builder
    * (EventQueries.retentionCohortsOf): first-active-week cohorts ×
    * active weeks; every exchange is over a frame that only shrinks. */
  def planRetention(st: RetentionStmt): DataFrame = {
    val base = resolve(st.from.table, st.from.noHeader)
    val ev = base.select(named(base, st.userCol, "user_id"),
      named(base, st.tsCol, "ts"))
    if (!ev.schema("ts").dataType.isInstanceOf[TimestampType])
      throw PlanError(s"retention: ${st.tsCol} must be a timestamp column")
    graft.queries.EventQueries.retentionCohortsOf(ev)
  }

  /** `diff text from old against new` — lowers VERBATIM to the d20
    * builder (DedupQueries.snapshotDiff): two map-side-combined
    * fingerprint-keyed aggs + a full outer on the AGG outputs;
    * n_chars is computed as length(text) per side. */
  def planDiff(st: DiffStmt): DataFrame = {
    def side(from: FromClause, role: String): DataFrame = {
      val base = resolve(from.table, from.noHeader)
      val t = base.select(named(base, st.textCol, "text"))
      if (!t.schema("text").dataType.isInstanceOf[StringType])
        throw PlanError(
          s"diff: ${st.textCol} must be a text column in the $role table")
      // octet_length (UTF-8 bytes): Spark length() counts UTF-16
      // units while DuckDB length() counts codepoints — they diverge
      // on supplementary characters; byte length is engine-portable
      t.select(col("text"),
        coalesce(octet_length(col("text")).cast(LongType), lit(0L)).as("n_chars"))
    }
    graft.queries.DedupQueries.snapshotDiff(
      side(st.old, "old"), side(st.cur, "new"))
  }

  /** `fertility lang, text from t` — lowers VERBATIM to the t44
    * builder (TextQueries.tokenFertility): one fused text_profile
    * pass, one lang-keyed agg, ratios on the k-language frame. */
  def planFertility(st: FertilityStmt): DataFrame = {
    val base = resolve(st.from.table, st.from.noHeader)
    val docs = base.select(named(base, st.langCol, "lang"),
      named(base, st.textCol, "text"))
    if (!docs.schema("text").dataType.isInstanceOf[StringType])
      throw PlanError(s"fertility: ${st.textCol} must be a text column")
    graft.queries.TextQueries.tokenFertility(docs)
  }

  /** `packing id, text from t [sizes …]` — lowers VERBATIM to the t45
    * builder (TextQueries.packEfficiency): every candidate context
    * length priced from ONE distributed cumsum (RowNumbers, never a
    * single-partition window). */
  def planPacking(st: PackingStmt): DataFrame = {
    val base = resolve(st.from.table, st.from.noHeader)
    val docs = base.select(named(base, st.idCol, "doc_id"),
      named(base, st.textCol, "text"))
    if (!docs.schema("text").dataType.isInstanceOf[StringType])
      throw PlanError(s"packing: ${st.textCol} must be a text column")
    graft.queries.TextQueries.packEfficiency(docs, st.sizes)
  }

  /** `quantize id, vec from t` — lowers VERBATIM to the v25 builder
    * (VectorQueries.binaryCodes): two packed sign-bit BIGINT halves
    * per vector, a pure per-row fold with zero exchanges. */
  def planQuantize(st: QuantizeStmt): DataFrame = {
    val base = resolve(st.from.table, st.from.noHeader)
    val e = base.select(named(base, st.idCol, "vec_id"),
      named(base, st.vecCol, "embedding"))
    if (!e.schema("embedding").dataType.isInstanceOf[ArrayType])
      throw PlanError(s"quantize: ${st.vecCol} must be an array (vector) column")
    graft.queries.VectorQueries.binaryCodes(e)
  }

  /** `pack id, text from t [size l]` — lowers VERBATIM to the t11
    * builder (TextQueries.seqPack): distributed global cumsum via
    * RowNumbers.globalCumsum, never a single-partition window. */
  def planPack(st: PackStmt): DataFrame = {
    val base = resolve(st.from.table, st.from.noHeader)
    graft.queries.TextQueries.seqPack(
      base.select(named(base, st.idCol, "doc_id"),
        named(base, st.textCol, "text")), st.l)
  }

  /** `chunk id, text from t [size n] [overlap m]` — lowers VERBATIM to
    * the t34 builder (TextQueries.docChunks): overlapping token-window
    * chunking as a pure per-row explode, zero exchanges. */
  def planChunk(st: ChunkStmt): DataFrame = {
    val base = resolve(st.from.table, st.from.noHeader)
    graft.queries.TextQueries.docChunks(
      base.select(named(base, st.idCol, "doc_id"),
        named(base, st.textCol, "text")),
      st.size.toInt, st.overlap.toInt)
  }

  /** `profile t` — lowers VERBATIM to the generic x03-shape builder
    * (ApproxQueries.columnProfile): one aggregation pass over the
    * whole table, per-column stats rows out. */
  def planProfile(st: ProfileStmt): DataFrame =
    graft.queries.ApproxQueries.columnProfile(
      resolve(st.from.table, st.from.noHeader))

  def plan(q: Query): DataFrame = {
    checkValidity(q)
    intColumns = q.from.intColumns
    val (df, cat0) = buildFrom(q.from)
    val afterWhere0 = q.where match {
      case Some(p) => df.filter(predToColumn(p, cat0, agg = false))
      case None => df
    }
    // inc() numbers the retained rows in scan order (reference
    // selector.go:204-207 increments per evaluated row, post-where).
    // RowNumbers.scanOrder (zipWithIndex two-phase shape) keeps every
    // partition numbering itself in parallel; a window over a global
    // ORDER BY would funnel the whole dataset through one task. The
    // zip boundary drops attribute qualifiers, so the frame is first
    // renamed positionally (__inN) and the catalog rewritten to match —
    // duplicate names across joined files stay unambiguous.
    val needsInc =
      (q.items.map(_.expr) ++ q.distinct.map(_.expr).toSeq ++
        q.orderBy.toSeq ++ q.groupBy).exists(exprContainsInc) ||
      q.having.exists(predContainsInc)
    // Scan-order CONTRACT (multi-file inputs): rows number in
    // (lexicographic file name, byte offset within file) order — the
    // same order DuckDB's read_csv glob scans, and the natural
    // "concatenate the files" reading. Implemented by range-sorting on
    // (input_file_name, monotonically_increasing_id) before the zip:
    // on a single file this is byte order (unchanged semantics); on
    // non-file inputs (joins, registered frames) input_file_name is
    // empty so the key degrades to mid = (partition, offset) — the
    // documented partition-order divergence (DIALECT.md).
    val (afterWhere, cat) =
      if (needsInc) {
        val tagged = afterWhere0
          .withColumn("__scanfile", input_file_name())
          .withColumn("__scanoff", monotonically_increasing_id())
        val named = tagged.select(cat0.entries.zipWithIndex.map {
          case ((_, _, c, _), i) => c.as(s"__in$i")
        } ++ Seq(col("__scanfile"), col("__scanoff")): _*)
        val ordered = named
          .repartitionByRange(col("__scanfile"), col("__scanoff"))
          .sortWithinPartitions(col("__scanfile"), col("__scanoff"))
        val zipped = graft.core.RowNumbers.scanOrder(ordered, IncCol)
          .drop("__scanfile", "__scanoff")
        val entries = cat0.entries.zipWithIndex.map {
          case ((qual, n, _, t), i) => (qual, n, col(s"__in$i"), t)
        }
        (zipped, Cat(entries))
      } else (afterWhere0, cat0)
    // session(ts, gap, part) hoist: each distinct call becomes ONE
    // hidden window column on the post-where frame (see hoistSessions);
    // compileFn then resolves the call as a plain column reference, so
    // it composes with aggregates (max(session(...))), group-by, and
    // order-by exactly like any column.
    sessionCols = Map.empty
    val sessionCalls = collectSessionCalls(q)
    val preAgg =
      if (sessionCalls.isEmpty) afterWhere
      else hoistSessions(afterWhere, cat, sessionCalls)

    val hasAgg = q.items.exists(containsAgg) || q.groupBy.nonEmpty ||
      q.having.exists(predContainsAgg)

    val selectItems = expandItems(q, cat)

    val preDistinct =
      if (hasAgg) planAggregate(q, selectItems, preAgg, cat)
      else planProjection(q, selectItems, preAgg, cat)

    val afterDistinct = q.distinct match {
      case Some(_) if !hasAgg =>
        // keep the FIRST row per distinct value in natural scan order
        // (reference probes a btree as it scans, evaluator.go:105-111);
        // min_by over scanOrderKey = (file name, mid), distributed —
        // not dropDuplicates' arbitrary row
        val outCols = preDistinct.columns.filter(c => c != "__distinct" && c != "__mid")
        val packed = preDistinct
          .withColumn("__mid", scanOrderKey)
          .groupBy(col("__distinct"))
          .agg(min_by(struct(outCols.map(col).toSeq: _*), col("__mid")).as("__row"))
        packed.select(outCols.map(c => col(s"__row.$c").as(c)).toSeq: _*)
      case _ => preDistinct
    }
    val afterOrder = q.orderBy match {
      case Some(_) =>
        val c = col("__order")
        afterDistinct.orderBy(if (q.orderAsc) c.asc else c.desc).drop("__order")
      case None => afterDistinct
    }
    q.limit.fold(afterOrder)(n => afterOrder.limit(n.toInt))
  }

  /** FROM + join chain. Small-side hint `sjoin` → broadcast (the
    * reference's in-memory index join, parser.go:840-864); `bjoin` and
    * unhinted joins let Catalyst/AQE pick (its 100MB size switch is
    * spark.sql.autoBroadcastJoinThreshold's analog). */
  /** Path → registry-style base name (no dirs/extension) — dots in an
    * attribute qualifier would break Spark's column resolution. */
  private def baseName(t: String): String =
    t.split('/').last.replaceAll("(?i)\\.(csv|parquet|json|orc|xml)$", "")

  private def buildFrom(f: FromClause): (DataFrame, Cat) = {
    val baseAlias = f.alias.getOrElse(baseName(f.table))
    val base = resolve(f.table, f.noHeader)
    var df = base.alias(baseAlias)
    var entries = catEntries(base, baseAlias)
    for (j <- f.joins) {
      val rbase = resolve(j.table, j.noHeader)
      val right = rbase.alias(j.alias)
      val rightEntries = catEntries(rbase, j.alias)
      val cat = Cat(entries ++ rightEntries)
      // side analysis (reference treeProcess.go:780-794): each side of
      // the = must reference exactly one file; one side must be the
      // newly-joined file. Without this a same-side condition silently
      // degenerates into a cross join.
      def sideOf(e: Expr): Set[String] = refsIn(e).flatMap { r =>
        cat.tryLookup(r).flatMap { case (_, _) =>
          r.qualifier.map(_.toLowerCase).orElse {
            (entries ++ rightEntries).find(_._2.equalsIgnoreCase(r.name))
              .flatMap(_._1).map(_.toLowerCase)
          }
        }
      }.toSet
      val ls = sideOf(j.leftKey)
      val rs = sideOf(j.rightKey)
      if (ls.size != 1 || rs.size != 1)
        throw PlanError("each side of a join condition must reference exactly one file")
      val newSide = j.alias.toLowerCase
      if (!(ls.contains(newSide) ^ rs.contains(newSide)))
        throw PlanError(s"join condition must relate '${j.alias}' to a previous file")
      val cond = exprToColumn(j.leftKey, cat, agg = false) ===
        exprToColumn(j.rightKey, cat, agg = false)
      val rdf = j.sizeHint match {
        case Some("sjoin") => broadcast(right) // in-memory index join analog
        case Some("bjoin") => right.hint("shuffle_merge") // disk-index analog: sort-merge
        case _ => right // Catalyst/AQE size-based choice (the 100MB switch analog)
      }
      df = df.join(rdf, cond, j.joinType match {
        case InnerJoin => "inner"
        case LeftJoin => "left"
      })
      entries = entries ++ rightEntries
    }
    (df, Cat(entries))
  }

  private def catEntries(df: DataFrame, alias: String): Seq[(Option[String], String, Column, DType)] =
    df.schema.fields.toSeq.map { fld =>
      (Some(alias), fld.name, col(s"$alias.${fld.name}"), dtypeOf(fld.dataType))
    }

  /** Expand star / empty select to all columns; prepend a non-hidden
    * distinct expression (reference parser.go:243-252). */
  private def expandItems(q: Query, cat: Cat): Seq[SelectItem] = {
    // `select distinct expr from t` with no further selections outputs
    // just the distinct expression — select-all expansion applies only
    // when there's no distinct clause either
    val base =
      if (q.star || (q.items.isEmpty && q.distinct.isEmpty))
        cat.entries.map { case (_, n, _, _) => SelectItem(ColRef(None, n), None) } ++
          q.items
      else q.items
    q.distinct match {
      case Some(DistinctClause(e, hidden)) if !hidden =>
        SelectItem(e, None) +: base
      case _ => base
    }
  }

  /** Output column naming (reference treeProcess.go:588-608): bare
    * column keeps source name, other expressions get colN, aliases win. */
  private def outName(item: SelectItem, idx: Int): String =
    item.alias.getOrElse(item.expr match {
      case ColRef(_, n) => n
      case _ => s"col${idx + 1}"
    })

  private def planProjection(q: Query, items: Seq[SelectItem],
      df: DataFrame, cat: Cat): DataFrame = {
    val cols = items.zipWithIndex.map { case (it, i) =>
      exprToColumn(it.expr, cat, agg = false).as(outName(it, i))
    }
    val extra =
      q.distinct.map(d => exprToColumn(d.expr, cat, agg = false).as("__distinct")).toSeq ++
      q.orderBy.map(o => exprToColumn(o, cat, agg = false).as("__order")).toSeq
    df.select(cols ++ extra: _*)
  }

  private def planAggregate(q: Query, items: Seq[SelectItem],
      df: DataFrame, cat: Cat): DataFrame = {
    // distinct inside an aggregate is incompatible with group by
    // (reference parser.go:1042-1044)
    def hasDistinctAgg(e: Expr): Boolean = e match {
      case AggCall(_, _, true) => true
      case AggCall(_, a, _) => hasDistinctAgg(a)
      case Arith(_, l, r) => hasDistinctAgg(l) || hasDistinctAgg(r)
      case Neg(x) => hasDistinctAgg(x)
      case FnCall(_, as) => as.exists(hasDistinctAgg)
      case _ => false
    }
    if (q.groupBy.nonEmpty && items.exists(i => hasDistinctAgg(i.expr)))
      throw PlanError("Cannot use distinct in aggregate function when using 'group by'")

    val gcols = q.groupBy.zipWithIndex.map { case (g, i) =>
      exprToColumn(g, cat, agg = false).as(s"__g$i")
    }
    // Bare (aggregate-free) selections that are not grouping
    // expressions take the LAST scanned row's value per group — the
    // reference overwrites the group's stage-0 slot on every matching
    // row (selector.go:45-51, treeProcess.go:612-642). Distributed
    // analog: max_by over a scan-order id. Grouping expressions pass
    // through as themselves, and so do pure-literal expressions (a
    // constant is the same on every row; wrapping it would turn the
    // empty-relation single group's value into NULL).
    def isGroupExpr(e: Expr): Boolean = q.groupBy.contains(e)
    def usesInput(e: Expr): Boolean = e match {
      case r: ColRef => cat.tryLookup(r).isDefined // unresolved bare word = literal
      case l: Lit => resolvesAsColumn(l, cat)
      case Arith(_, a, b) => usesInput(a) || usesInput(b)
      case Neg(x) => usesInput(x)
      case FnCall("inc", _) => true // row counter varies per row
      case FnCall(_, args) => args.exists(usesInput)
      case AggCall(_, _, _) => false
      case CaseSearched(bs, els) =>
        bs.exists { case (p, x) => predUsesInput(p) || usesInput(x) } ||
          els.exists(usesInput)
      case CaseSimple(s0, bs, els) =>
        usesInput(s0) ||
          bs.exists { case (v, x) => usesInput(v) || usesInput(x) } ||
          els.exists(usesInput)
      case _ => false
    }
    def predUsesInput(p: Pred): Boolean = p match {
      case Cmp(_, l, r) => usesInput(l) || usesInput(r)
      case LikeP(e0, _, _) => usesInput(e0)
      case InP(e0, list, _) => usesInput(e0) || list.exists(usesInput)
      case BetweenP(e0, a, b, _) => usesInput(e0) || usesInput(a) || usesInput(b)
      case AndP(l, r) => predUsesInput(l) || predUsesInput(r)
      case OrP(l, r) => predUsesInput(l) || predUsesInput(r)
      case XorP(l, r) => predUsesInput(l) || predUsesInput(r)
      case NotP(x) => predUsesInput(x)
    }
    def lastWrite(e: Expr): Boolean =
      !exprContainsAgg(e) && !isGroupExpr(e) && usesInput(e)
    val needsLastWrite = (items.map(_.expr) ++ q.orderBy.toSeq).exists(lastWrite)
    val dfA = if (needsLastWrite) df.withColumn("__lw_mid", scanOrderKey)
      else df
    def aggItem(e: Expr): Column = {
      val c = exprToColumn(e, cat, agg = true)
      if (lastWrite(e)) max_by(c, col("__lw_mid")) else c
    }
    val itemCols = items.zipWithIndex.map { case (it, i) =>
      aggItem(it.expr).as(outName(it, i))
    }
    // aggregates inside having become hidden slots, filtered post-agg
    // (the reference hoists them the same way, treeProcess.go:660-726)
    val havingCol = q.having.map(p => predToColumn(p, cat, agg = true).as("__having"))
    val orderCol = q.orderBy.map(o => aggItem(o).as("__order"))
    val aggCols = itemCols ++ havingCol.toSeq ++ orderCol.toSeq
    val grouped =
      if (gcols.isEmpty) dfA.agg(aggCols.head, aggCols.tail: _*)
      else dfA.groupBy(gcols: _*).agg(aggCols.head, aggCols.tail: _*)
    val filtered = if (havingCol.isDefined) grouped.filter(col("__having")).drop("__having")
      else grouped
    // grouping keys are internal (__gN) — output is the select list
    val keep = items.zipWithIndex.map { case (it, i) => col(outName(it, i)) } ++
      (if (orderCol.isDefined) Seq(col("__order")) else Nil)
    filtered.select(keep: _*)
  }

  /** Internal column carrying the pre-attached scan-order row index. */
  private val IncCol = "__graft_inc"

  /** Ordering key for the scan-order CONTRACT shared by all three
    * order-sensitive semantics (inc(), distinct keep-first, last-write):
    * (lexicographic file name, mid). On a multi-file table Spark's
    * FilePartition packing orders splits by SIZE, not name, so bare
    * monotonically_increasing_id diverges from the documented
    * (file name, byte offset) order (DIALECT.md; reference
    * utils.go:122-143 scans files in byte order). Struct comparison is
    * lexicographic, so this is a drop-in min_by/max_by ordering
    * argument — no extra sort or shuffle. Non-file inputs (joins,
    * registered frames) yield "" for input_file_name and degrade to
    * mid = (partition, offset) order — the documented divergence. */
  private def scanOrderKey: Column =
    struct(input_file_name().as("f"), monotonically_increasing_id().as("m"))

  private def exprContainsInc(e: Expr): Boolean = e match {
    case FnCall("inc", _) => true
    case FnCall(_, args) => args.exists(exprContainsInc)
    case Arith(_, l, r) => exprContainsInc(l) || exprContainsInc(r)
    case Neg(x) => exprContainsInc(x)
    case AggCall(_, a, _) => exprContainsInc(a)
    case CaseSearched(bs, els) =>
      bs.exists { case (p, x) => predContainsInc(p) || exprContainsInc(x) } ||
        els.exists(exprContainsInc)
    case CaseSimple(s, bs, els) =>
      exprContainsInc(s) ||
        bs.exists { case (v, x) => exprContainsInc(v) || exprContainsInc(x) } ||
        els.exists(exprContainsInc)
    case _ => false
  }

  // ── session() hoist ─────────────────────────────────────────────────

  private def collectSessionExpr(e: Expr): Seq[FnCall] = e match {
    case f @ FnCall("session", args) =>
      // A session() inside another session()'s arguments would hit an
      // empty sessionCols entry during the outer call's arg compile and
      // surface as a misleading "not allowed here" — reject it up front.
      if (args.flatMap(collectSessionExpr).nonEmpty)
        throw PlanError("session() cannot be nested inside session() arguments")
      Seq(f)
    case FnCall(_, args) => args.flatMap(collectSessionExpr)
    case Arith(_, l, r) => collectSessionExpr(l) ++ collectSessionExpr(r)
    case Neg(x) => collectSessionExpr(x)
    case AggCall(_, a, _) => collectSessionExpr(a)
    case CaseSearched(bs, els) =>
      bs.flatMap { case (p, x) => collectSessionPred(p) ++ collectSessionExpr(x) } ++
        els.toSeq.flatMap(collectSessionExpr)
    case CaseSimple(s, bs, els) =>
      collectSessionExpr(s) ++
        bs.flatMap { case (v, x) => collectSessionExpr(v) ++ collectSessionExpr(x) } ++
        els.toSeq.flatMap(collectSessionExpr)
    case _ => Nil
  }

  private def collectSessionPred(p: Pred): Seq[FnCall] = p match {
    case Cmp(_, l, r) => collectSessionExpr(l) ++ collectSessionExpr(r)
    case LikeP(e, _, _) => collectSessionExpr(e)
    case InP(e, list, _) => collectSessionExpr(e) ++ list.flatMap(collectSessionExpr)
    case BetweenP(e, a, b, _) =>
      collectSessionExpr(e) ++ collectSessionExpr(a) ++ collectSessionExpr(b)
    case AndP(l, r) => collectSessionPred(l) ++ collectSessionPred(r)
    case OrP(l, r) => collectSessionPred(l) ++ collectSessionPred(r)
    case XorP(l, r) => collectSessionPred(l) ++ collectSessionPred(r)
    case NotP(x) => collectSessionPred(x)
  }

  private def collectSessionCalls(q: Query): Seq[FnCall] = {
    if (q.where.exists(p => collectSessionPred(p).nonEmpty))
      throw PlanError("session() not allowed in where clause")
    (q.items.flatMap(it => collectSessionExpr(it.expr)) ++
      q.distinct.toSeq.flatMap(d => collectSessionExpr(d.expr)) ++
      q.groupBy.flatMap(collectSessionExpr) ++
      q.orderBy.toSeq.flatMap(collectSessionExpr) ++
      q.having.toSeq.flatMap(collectSessionPred)).distinct
  }

  /** session(ts, gap, part): sessionization as a dialect scalar — rows
    * of one partition key, ordered by ts, get a session number that
    * increments whenever the silence since the previous row exceeds
    * `gap` (a duration literal); numbering starts at 1 (EventQueries
    * e02's rule, exposed to the SQL surface per SURVEY §2.11).
    *
    * Scale: both window passes (the lag gap-flag and the running sum)
    * share ONE WindowSpec — partitionBy(part).orderBy(ts) — so the
    * plan has a single hash-exchange on the partition key and two
    * consecutive Window operators with no second shuffle; nothing is
    * global, nothing funnels to one task (pinned in PlanSpec).
    * Determinism: rows tied on ts may permute within a session, which
    * cannot change any per-key aggregate of the session number (count
    * of flags is order-free); per-ROW numbers are deterministic
    * whenever (part, ts) is a unique key. */
  private def hoistSessions(df: DataFrame, cat: Cat,
      calls: Seq[FnCall]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    var frame = df
    calls.zipWithIndex.foreach { case (call, i) =>
      if (call.args.size != 3)
        throw PlanError("session(ts, gap, partition) takes three arguments")
      val (tsC0, tsT) = typed(call.args.head, cat, agg = false)
      if (tsT != TDate)
        throw PlanError("session: first argument must be a date/timestamp column")
      val tsC = tsC0.cast(TimestampType)
      val gapUs: Long = call.args(1) match {
        case Lit(raw, _) => Durations.parse(raw)
          .map(d => d.toNanos / 1000L)
          .getOrElse(throw PlanError(s"session: not a duration: $raw"))
        case _ => throw PlanError("session: gap must be a duration literal")
      }
      val partC = typed(call.args(2), cat, agg = false)._1
      val name = s"__graft_session$i"
      val w = Window.partitionBy(partC).orderBy(tsC)
      val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val flag = s"${name}_new"
      frame = frame
        .withColumn(flag,
          when(unix_micros(tsC) - lag(unix_micros(tsC), 1).over(w) > lit(gapUs),
            1L).otherwise(0L))
        .withColumn(name, sum(col(flag)).over(run) + lit(1L))
        .drop(flag)
      sessionCols += (call -> name)
    }
    frame
  }

  private def predContainsInc(p: Pred): Boolean = p match {
    case Cmp(_, l, r) => exprContainsInc(l) || exprContainsInc(r)
    case LikeP(e, _, _) => exprContainsInc(e)
    case InP(e, list, _) => exprContainsInc(e) || list.exists(exprContainsInc)
    case BetweenP(e, a, b, _) =>
      exprContainsInc(e) || exprContainsInc(a) || exprContainsInc(b)
    case AndP(l, r) => predContainsInc(l) || predContainsInc(r)
    case OrP(l, r) => predContainsInc(l) || predContainsInc(r)
    case XorP(l, r) => predContainsInc(l) || predContainsInc(r)
    case NotP(x) => predContainsInc(x)
  }

  // ── validity rules (reference aggCheck, parser.go:119-138) ──────────
  private def checkValidity(q: Query): Unit = {
    q.where.foreach { p =>
      if (predContainsAgg(p)) throw PlanError("aggregates not allowed in where clause")
      if (predContainsInc(p)) throw PlanError("inc() not allowed in where clause")
    }
    q.items.foreach(it => checkAggCompo(it.expr))
    q.having.foreach { p =>
      if (!predAllAggOrLit(p))
        throw PlanError("having predicates may reference only aggregates and literals")
    }
  }

  private def containsAgg(it: SelectItem): Boolean = exprContainsAgg(it.expr)

  private def exprContainsAgg(e: Expr): Boolean = e match {
    case _: AggCall => true
    case Arith(_, l, r) => exprContainsAgg(l) || exprContainsAgg(r)
    case Neg(x) => exprContainsAgg(x)
    case FnCall(_, args) => args.exists(exprContainsAgg)
    case CaseSearched(bs, els) =>
      bs.exists { case (p, x) => predContainsAgg(p) || exprContainsAgg(x) } ||
        els.exists(exprContainsAgg)
    case CaseSimple(s, bs, els) =>
      exprContainsAgg(s) ||
        bs.exists { case (v, x) => exprContainsAgg(v) || exprContainsAgg(x) } ||
        els.exists(exprContainsAgg)
    case _ => false
  }

  private def refsIn(e: Expr): Seq[ColRef] = e match {
    case r: ColRef => Seq(r)
    case Arith(_, l, r) => refsIn(l) ++ refsIn(r)
    case Neg(x) => refsIn(x)
    case FnCall(_, args) => args.flatMap(refsIn)
    case AggCall(_, a, _) => refsIn(a)
    case _ => Nil
  }

  private def predContainsAgg(p: Pred): Boolean = p match {
    case Cmp(_, l, r) => exprContainsAgg(l) || exprContainsAgg(r)
    case LikeP(e, _, _) => exprContainsAgg(e)
    case InP(e, list, _) => exprContainsAgg(e) || list.exists(exprContainsAgg)
    case BetweenP(e, a, b, _) =>
      exprContainsAgg(e) || exprContainsAgg(a) || exprContainsAgg(b)
    case AndP(l, r) => predContainsAgg(l) || predContainsAgg(r)
    case OrP(l, r) => predContainsAgg(l) || predContainsAgg(r)
    case XorP(l, r) => predContainsAgg(l) || predContainsAgg(r)
    case NotP(x) => predContainsAgg(x)
  }

  /** Aggregates combine only with aggregates/literals
    * (reference treeProcess.go:741-746): `max(a)+b` is an error. */
  private def checkAggCompo(e: Expr): Unit = {
    def pure(x: Expr): Boolean = x match { // literal-only subtree
      case _: Lit | _: NullLit => true
      case Neg(y) => pure(y)
      case Arith(_, l, r) => pure(l) && pure(r)
      case _ => false
    }
    def check(x: Expr): Unit = x match {
      case AggCall(_, arg, _) =>
        if (exprContainsAgg(arg)) throw PlanError("nested aggregates not allowed")
      case Arith(_, l, r) =>
        if (exprContainsAgg(l) != exprContainsAgg(r) &&
            !(pure(l) || pure(r)))
          throw PlanError("aggregates can only combine with aggregates or literals")
        check(l); check(r)
      case Neg(y) => check(y)
      case FnCall(_, args) => args.foreach(check)
      case _ => ()
    }
    check(e)
  }

  private def predAllAggOrLit(p: Pred): Boolean = {
    def ok(e: Expr): Boolean = e match {
      case _: Lit | _: NullLit => true
      case _: AggCall => true
      case Neg(x) => ok(x)
      case Arith(_, l, r) => ok(l) && ok(r)
      case _ => false
    }
    p match {
      case Cmp(_, l, r) => ok(l) && ok(r)
      case AndP(l, r) => predAllAggOrLit(l) && predAllAggOrLit(r)
      case OrP(l, r) => predAllAggOrLit(l) && predAllAggOrLit(r)
      case XorP(l, r) => predAllAggOrLit(l) && predAllAggOrLit(r)
      case NotP(x) => predAllAggOrLit(x)
      case _ => false
    }
  }

  // ── expression compilation with §2.10-style typing ──────────────────
  def exprToColumn(e: Expr, cat: Cat, agg: Boolean): Column = typed(e, cat, agg)._1

  /** Compile + infer dialect type together, so arithmetic can apply the
    * date/duration special cases and int-division truncation. */
  private def typed(e: Expr, cat: Cat, agg: Boolean): (Column, DType) = e match {
    case NullLit() => (lit(null), TNull)
    case Lit(raw, false) =>
      if (intColumns && !raw.contains('.') &&
          raw.toLong >= 1 && raw.toLong <= cat.entries.size)
        cat.lookup(ColRef(None, s"c$raw")) // `c` option positional ref
      else if (raw.contains('.')) (lit(raw.toDouble), TFloat)
      else (lit(raw.toLong), TInt)
    case Lit(raw, true) =>
      // quoted tokens are word tokens in the reference scanner
      // (scanner.go:452-461): a quoted name that matches a column
      // resolves as that column ('Issue Date'); else a text literal
      cat.tryLookup(ColRef(None, raw)).getOrElse((lit(raw), TStr))
    case r: ColRef =>
      // an unresolved bare word is a text literal, not an error
      // (reference parser.go:444: word → column if found, else value);
      // qualified refs and out-of-range cN positionals must resolve
      // (reference errors "Column number out of bounds", parser.go:487-496)
      cat.tryLookup(r).getOrElse {
        if (r.qualifier.isDefined)
          throw PlanError(s"column not found: ${r.qualifier.get}.${r.name}")
        else if (r.name.matches("^c\\d+$"))
          throw PlanError(s"column number out of bounds: ${r.name}")
        else (lit(r.name), TStr)
      }

    case Neg(x) =>
      val (c, t) = typed(x, cat, agg)
      t match {
        case TInt | TFloat | TDur | TNull => (-c, t)
        case _ => throw PlanError("unary minus requires a numeric or duration operand")
      }

    case Arith(op, l, r) =>
      val (lc0, lt0) = typed(l, cat, agg)
      val (rc0, rt0) = typed(r, cat, agg)
      // literal-dimension retyping (reference typeChart treeProcess.go:15-28):
      // a string literal next to a date/duration column becomes that type
      val (lc, lt) = retypeLit(l, lc0, lt0, rt0, cat)
      val (rc, rt) = retypeLit(r, rc0, rt0, lt0, cat)
      compileArith(op, lc, lt, rc, rt)

    case FnCall(name, args) => compileFn(name, args, cat, agg)

    case AggCall(name, arg, distinct) =>
      if (!agg) throw PlanError(s"aggregate $name not allowed here")
      compileAgg(name, arg, distinct, cat)

    case CaseSearched(branches, els) =>
      val start = branches.foldLeft(Option.empty[Column]) { case (acc, (p, v)) =>
        val cond = predToColumn(p, cat, agg)
        val value = typed(v, cat, agg)._1
        Some(acc.fold(when(cond, value))(_.when(cond, value)))
      }.getOrElse(throw PlanError("case requires at least one when"))
      (els.fold(start)(x => start.otherwise(typed(x, cat, agg)._1)), exprCaseType(branches, els, cat, agg))

    case CaseSimple(subj, branches, els) =>
      val (sc, st) = typed(subj, cat, agg)
      val start = branches.foldLeft(Option.empty[Column]) { case (acc, (v, res)) =>
        val (vc0, vt0) = typed(v, cat, agg)
        val (vc, _) = retypeLit(v, vc0, vt0, st, cat)
        val value = typed(res, cat, agg)._1
        Some(acc.fold(when(sc === vc, value))(_.when(sc === vc, value)))
      }.getOrElse(throw PlanError("case requires at least one when"))
      (els.fold(start)(x => start.otherwise(typed(x, cat, agg)._1)),
        exprCaseType(branches.map { case (_, r2) => (Cmp(Eq, subj, subj), r2) }, els, cat, agg))
  }

  private def exprCaseType(branches: Seq[(Pred, Expr)], els: Option[Expr],
      cat: Cat, agg: Boolean): DType =
    (branches.map(_._2) ++ els.toSeq).headOption
      .map(x => typed(x, cat, agg)._2).getOrElse(TNull)

  /** Retype a *literal* operand to its peer's type: string literals
    * become dates/durations next to date/duration columns; numeric
    * literals stay numeric (reference enforceType treeProcess.go:383-539).
    * A quoted token that already resolved as a COLUMN ('Issue Date') —
    * or a bare integer that the `c` option resolved positionally — must
    * NOT be retyped: the reference resolves words to columns first and
    * only type-coerces true values (parser.go:444, treeProcess.go:417). */
  private def retypeLit(ast: Expr, c: Column, t: DType, peer: DType, cat: Cat): (Column, DType) =
    ast match {
      case l: Lit if resolvesAsColumn(l, cat) => (c, t)
      case Lit(raw, true) => peer match {
        case TDate =>
          // a literal that parses as a duration stays a duration even
          // next to a date (date ± duration); else a permissive date
          // parse (the reference uses dateparse.ParseAny on literals,
          // treeProcess.go:417)
          Durations.parse(raw) match {
            case Some(d) => (lit(d), TDur)
            case None =>
              (graft.functions.ParseAnyTimestamp.parse_any_ts(lit(raw)), TDate)
          }
        case TDur => Durations.parse(raw) match {
          case Some(d) => (lit(d), TDur)
          case None => throw PlanError(s"cannot parse duration literal '$raw'")
        }
        case TInt | TFloat if scala.util.Try(raw.toDouble).isSuccess =>
          if (raw.contains('.')) (lit(raw.toDouble), TFloat) else (lit(raw.toLong), TInt)
        case _ => (c, t)
      }
      case Lit(raw, false) if peer == TDur =>
        // bare number next to a duration: treat as seconds
        (lit(java.time.Duration.ofNanos(math.round(raw.toDouble * 1e9))), TDur)
      case Lit(raw, false) if peer == TStr =>
        // number literal in a string-typed cluster compares as text
        // (in-lists are typed interdependently, reference parser.go:1055-1079)
        (lit(raw), TStr)
      case _ => (c, t)
    }

  /** Mirrors typed()'s column-resolution rules for Lit tokens: quoted
    * words that match a column, and bare in-range integers under the
    * `c` option, are columns — never candidates for literal retyping. */
  private def resolvesAsColumn(l: Lit, cat: Cat): Boolean =
    if (l.quoted) cat.tryLookup(ColRef(None, l.raw)).isDefined
    else intColumns && !l.raw.contains('.') &&
      scala.util.Try(l.raw.toLong).toOption.exists(v => v >= 1 && v <= cat.entries.size)

  private def compileArith(op: ArithOp, lc: Column, lt: DType,
      rc: Column, rt: DType): (Column, DType) = {
    def err(m: String) = throw PlanError(m)
    (op, lt, rt) match {
      // date/duration algebra (reference keepSubtreeTypes treeProcess.go:43-66)
      case (Sub, TDate, TDate) => (lc - rc, TDur)
      case (Add, TDate, TDur) => (lc + rc, TDate)
      case (Sub, TDate, TDur) => (lc - rc, TDate)
      case (Add, TDur, TDate) => (rc + lc, TDate)
      case (Add, TDur, TDur) => (lc + rc, TDur)
      case (Sub, TDur, TDur) => (lc - rc, TDur)
      case (Mul, TDur, TInt | TFloat) => (lc * rc, TDur)
      case (Mul, TInt | TFloat, TDur) => (rc * lc, TDur)
      case (Div, TDur, TInt | TFloat) => (lc / rc, TDur)
      case (_, TDate, TDate) => err("invalid date arithmetic")
      case (_, TDate, _) | (_, _, TDate) => err("invalid date arithmetic")
      case (_, TDur, _) | (_, _, TDur) => err("invalid duration arithmetic")

      // text + text = concat (reference value.go:330-335)
      case (Add, TStr, TStr) => (concat(lc, rc), TStr)
      case (_, TStr, _) | (_, _, TStr) => err("cannot do arithmetic on text")

      case (Mod, _, _) =>
        if (lt == TFloat || rt == TFloat) err("% is integer-only") // utils.go:240-242
        else (lc % rc, TInt)
      case (Pow, _, _) =>
        // int ^ int stays integral (reference value.go:476-487)
        if (lt == TInt && rt == TInt)
          (pow(lc.cast(DoubleType), rc.cast(DoubleType)).cast(LongType), TInt)
        else (pow(lc.cast(DoubleType), rc.cast(DoubleType)), TFloat)
      case (Div, TInt, TInt) =>
        // integer division truncates (reference value.go:425-443);
        // div-by-zero → null handled by Spark's try-less semantics below
        (when(rc === 0, lit(null)).otherwise(lc.cast(LongType)
          .divide(rc.cast(LongType)).cast(LongType)), TInt)
      case (Div, _, _) =>
        (when(rc === 0.0, lit(null)).otherwise(lc / rc), TFloat)
      case (Add, _, _) => (lc + rc, widen(lt, rt))
      case (Sub, _, _) => (lc - rc, widen(lt, rt))
      case (Mul, _, _) => (lc * rc, widen(lt, rt))
    }
  }

  private def widen(a: DType, b: DType): DType =
    if (a == TFloat || b == TFloat) TFloat else TInt

  private def compileFn(name: String, args: Seq[Expr], cat: Cat,
      agg: Boolean): (Column, DType) = {
    def one: Column = {
      if (args.size != 1) throw PlanError(s"$name takes one argument")
      typed(args.head, cat, agg)._1
    }
    name match {
      case "year" => (year(one).cast(LongType), TInt)
      case "month" => (month(one).cast(LongType), TInt)
      case "week" => (GraftFunctions.week(one), TInt)
      case "day" | "dayofweek" => (GraftFunctions.day0(one), TInt)
      case "dayofyear" => (dayofyear(one).cast(LongType), TInt)
      case "dayofmonth" => (dayofmonth(one).cast(LongType), TInt)
      case "hour" => (hour(one).cast(LongType), TInt)
      case "monthname" => (GraftFunctions.monthname(one), TStr)
      case "dayname" => (GraftFunctions.dayname(one), TStr)
      case "abs" =>
        val (c, t) = typed(args.head, cat, agg)
        t match {
          case TInt | TFloat | TDur | TNull => (abs(c), t)
          case _ => throw PlanError("abs requires numeric or duration")
        }
      case "coalesce" =>
        val cs = args.map(a => typed(a, cat, agg))
        (coalesce(cs.map(_._1): _*), cs.map(_._2).find(_ != TNull).getOrElse(TNull))
      case "encrypt" =>
        (GraftFunctions.encrypt(typed(args.head, cat, agg)._1, passwordArg(args, cat)), TStr)
      case "decrypt" =>
        (GraftFunctions.decrypt(typed(args.head, cat, agg)._1, passwordArg(args, cat)), TStr)
      case "inc" =>
        // inc([step]) — scan-ordered numbering; plan() pre-attached the
        // distributed row index (RowNumbers.scanOrder two-phase shape),
        // so this is a plain column reference: parallel, no
        // single-partition window anywhere in the plan.
        val step = args.headOption.collect { case Lit(raw, _) => raw.toDouble }.getOrElse(1.0)
        (col(IncCol) * lit(step), TFloat)
      case "token_count" =>
        // pipeline text surface in the dialect (SURVEY §2.11 function
        // map, same spirit as session()): whitespace token count via
        // the native codegen'd tokenizer
        (graft.functions.TextFunctions.tokenCount(one), TInt)
      case "compress_ratio" =>
        // deflate ratio (t23's signal) — one codegen'd static call/row
        (graft.functions.CompressRatioExprs.compress_ratio(one), TFloat)
      case "minhash_sig" =>
        // d02's K-permutation MinHash signature as ONE ':'-joined
        // string — the dedup pipeline's per-row primitive on the SQL
        // surface (same fused native expression pass as the d02/d03
        // builders; see DedupQueries.minhashSigStr)
        (graft.queries.DedupQueries.minhashSigStr(one), TStr)
      case "simhash" =>
        // d05's 24-bit SimHash fingerprint as a dialect scalar — the
        // near-dup signature on the SQL surface (same native
        // tokenize→hash→simhash pass as the d05 gate)
        (graft.functions.TextFunctions.simhash(
          graft.functions.TextFunctions.tokenHashes(one), bits = 24), TInt)
      case "fingerprint" =>
        // t04's order-sensitive rolling-hash document fingerprint
        (graft.functions.TextFunctions.docFingerprint(one), TInt)
      case "lang_id" =>
        // t03's stopword-argmax language ID on the one-pass native
        // text_profile expression ('und' when no stopword hits)
        (graft.functions.TextFunctions.langIdNative(one), TStr)
      case "pii_redact" =>
        // t16's email→<EMAIL> / IPv4→<IP> redaction pass
        (graft.functions.TextFunctions.piiRedact(one), TStr)
      case "session" =>
        // hoisted by plan() into a hidden window column — here it is a
        // plain column reference (see hoistSessions)
        sessionCols.get(FnCall(name, args)) match {
          case Some(cn) => (col(cn), TInt)
          case None => throw PlanError("session() not allowed here")
        }
      case "format" =>
        // declared but unimplemented in the reference (scanner.go:62):
        // pass-through, documented divergence-free
        (typed(args.head, cat, agg)._1, typed(args.head, cat, agg)._2)
      case other => throw PlanError(s"unknown function $other")
    }
  }

  /** Password: 2nd argument literal, else the session default (the
    * reference prompts interactively when omitted, utils.go:835-846 —
    * the CLI's --password flag is the non-interactive analog). */
  private def passwordArg(args: Seq[Expr], cat: Cat): String =
    args.lift(1) match {
      case Some(Lit(raw, _)) => raw
      case None => defaultPassword.getOrElse(
        throw PlanError("password required (2nd argument or --password)"))
      case _ => throw PlanError("password must be a literal")
    }

  private def compileAgg(name: String, arg: Expr, distinct: Boolean,
      cat: Cat): (Column, DType) = {
    val (c0, t) = typed(arg, cat, agg = false)
    // per-aggregate distinct (reference selector.go:259-263): the btree
    // dedup gates EVERY aggregate there, so avg/stdev must average the
    // unique values too — Bridge.distinctAgg sets isDistinct on the
    // aggregate expression (min/max are distinct-invariant).
    val c = if (distinct) {
      import org.apache.spark.sql.graftbridge.Bridge.distinctAgg
      name match {
        case "count" => return (countDistinct(c0).cast(DoubleType), TFloat)
        case "sum" => return (sum_distinct(c0), t)
        case "avg" => return (distinctAgg(avg(c0)), if (t == TDur) TDur else TFloat)
        case "stdev" => return (distinctAgg(stddev_samp(c0)), TFloat)
        case "stdevp" => return (distinctAgg(stddev_pop(c0)), TFloat)
        case _ => c0 // min/max distinct ≡ plain
      }
    } else c0
    name match {
      // count: non-null count, returns float (reference treeProcess.go:80-86)
      case "count" => (count(c).cast(DoubleType), TFloat)
      case "sum" => (sum(c), if (t == TInt) TInt else t)
      case "avg" => (avg(c), if (t == TDur) TDur else TFloat)
      case "min" => (min(c), t)
      case "max" => (max(c), t)
      case "stdev" => (stddev_samp(c), TFloat)
      case "stdevp" => (stddev_pop(c), TFloat)
      case other => throw PlanError(s"unknown aggregate $other")
    }
  }

  // ── predicate compilation ───────────────────────────────────────────
  def predToColumn(p: Pred, cat: Cat, agg: Boolean): Column = p match {
    case Cmp(op, l, r) =>
      // `= null` matches missing values (reference value.go:282-287);
      // ordering against null is side-sensitive: a null CELL is less
      // than everything (null.Less always true, value.go:134-139), a
      // non-null value never compares below a null literal
      (l, r) match {
        case (_, NullLit()) => nullCmpRight(op, typed(l, cat, agg)._1)
        case (NullLit(), _) => nullCmpLeft(op, typed(r, cat, agg)._1)
        case _ =>
          val (lc0, lt0) = typed(l, cat, agg)
          val (rc0, rt0) = typed(r, cat, agg)
          val (lc, _) = retypeLit(l, lc0, lt0, rt0, cat)
          val (rc, _) = retypeLit(r, rc0, rt0, lt0, cat)
          op match {
            case Eq => lc === rc
            case Ne => lc =!= rc
            case Lt => lc < rc
            case Le => lc <= rc
            case Gt => lc > rc
            case Ge => lc >= rc
          }
      }
    case LikeP(e, pat, neg) =>
      val c = GraftFunctions.likeCI(typed(e, cat, agg)._1, pat)
      if (neg) notTV(c) else c
    case InP(e, list, neg) =>
      val (ec, et) = typed(e, cat, agg)
      val vals = list.map { x =>
        val (c0, t0) = typed(x, cat, agg)
        retypeLit(x, c0, t0, et, cat)._1
      }
      val c = ec.isin(vals: _*)
      if (neg) notTV(c) else c
    case BetweenP(e, a, b, neg) =>
      val (ec, et) = typed(e, cat, agg)
      val av = retypeLit(a, typed(a, cat, agg)._1, typed(a, cat, agg)._2, et, cat)._1
      val bv = retypeLit(b, typed(b, cat, agg)._1, typed(b, cat, agg)._2, et, cat)._1
      val c = GraftFunctions.betweenSym(ec, av, bv)
      if (neg) notTV(c) else c
    case AndP(l, r) => predToColumn(l, cat, agg) && predToColumn(r, cat, agg)
    case OrP(l, r) => predToColumn(l, cat, agg) || predToColumn(r, cat, agg)
    case XorP(l, r) =>
      // dialect predicates are TWO-valued (a null comparison is plain
      // false, reference value.go) — coalesce before xor/negation so
      // rows with null operands behave like the reference
      coalesce(predToColumn(l, cat, agg), lit(false)) =!=
        coalesce(predToColumn(r, cat, agg), lit(false))
    case NotP(x) => notTV(predToColumn(x, cat, agg))
  }

  /** Two-valued NOT: !(null) must be true, not null (the reference's
    * interpreter returns plain booleans; Spark's 3VL would silently
    * drop rows with null operands under negation). */
  private def notTV(c: Column): Column = !coalesce(c, lit(false))

  /** expr OP null — exact reference dispatch (value.go): typed
    * Less/LessEq return false on type mismatch, Greater/GreatEq true;
    * null.Greater(null) compares empty payloads (false),
    * null.GreatEq/LessEq are always false, null.Less(null) false. */
  private def nullCmpRight(op: CmpOp, c: Column): Column = op match {
    case Eq => c.isNull
    case Ne => c.isNotNull
    case Lt | Le => lit(false) // x.Less(null)=false; null.Less(null)=false
    case Gt | Ge => c.isNotNull // x.Greater(null)=true; null.Greater/GreatEq(null)=false
  }

  /** null OP expr — null.Less(non-null)=true, everything else false. */
  private def nullCmpLeft(op: CmpOp, c: Column): Column = op match {
    case Eq => c.isNull
    case Ne => c.isNotNull
    case Lt => c.isNotNull // null.Less: true unless the cell is null too
    case Le | Gt | Ge => lit(false) // null.LessEq/Greater/GreatEq ≈ false
  }
}

object Planner {
  private val log = org.slf4j.LoggerFactory.getLogger(classOf[Planner])

  /** Most recent planner warning, observable for tests (the planner
    * warns instead of failing when a statement works but takes a
    * degraded path — e.g. serving a pre-sidecar index layout). */
  val lastWarning = new java.util.concurrent.atomic.AtomicReference[String]("")

  private[sql] def warn(msg: String): Unit = {
    lastWarning.set(msg)
    log.warn(msg)
  }
}
