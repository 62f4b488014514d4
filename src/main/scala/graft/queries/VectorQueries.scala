package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.{Det, Materialize, Tables}
import graft.core.Sessions.workPath
import graft.queries.{OracleSql => O}

/** Similarity search over the `embeddings` table (64-dim float
  * vectors): brute-force cosine top-k as the exactness baseline, and a
  * random-hyperplane LSH bucketing as the scale path (bucket first,
  * then brute-force only within buckets — turns the n² cross join
  * into per-bucket joins keyed by banded sign-bit signatures,
  * OR-amplified across BANDS bands for recall).
  *
  * All vector math is `zip_with`/`aggregate` column algebra with
  * explicit double casts and a fixed left-fold order, so the DuckDB
  * oracle (same fold via list_reduce) produces bit-identical doubles.
  */
object VectorQueries {

  /** Sequential left-fold sum of a double array column. */
  private def fold(c: Column): Column =
    aggregate(c, lit(0.0), (acc, x) => acc + x)

  /** Cosine similarity — native codegen'd expression running the same
    * order-fixed folds with per-element double casts (embedding
    * elements are float32); [[cosineHof]] is the column-algebra form
    * the oracle mirrors, pinned bit-equal in VectorExprsSpec. */
  def cosine(a: Column, b: Column): Column =
    graft.functions.VectorExprs.cosine_native(a, b)

  /** Interpreted HOF form of [[cosine]]. */
  def cosineHof(a: Column, b: Column): Column = {
    val dot = fold(zip_with(a, b, (x, y) => x.cast(DoubleType) * y.cast(DoubleType)))
    val na = fold(transform(a, x => x.cast(DoubleType) * x.cast(DoubleType)))
    val nb = fold(transform(b, x => x.cast(DoubleType) * x.cast(DoubleType)))
    dot / (sqrt(na) * sqrt(nb))
  }

  /** DuckDB mirror of [[cosine]]. NB: DuckDB's lambda index parameter
    * is 1-based (Spark's is 0-based) and its list indexing is 1-based,
    * so `b[zi]` pairs element i with element i. */
  def cosineSql(a: String, b: String): String = {
    def d(e: String) = s"CAST($e AS DOUBLE)"
    val dot = O.dfold(s"list_transform($a, (zx, zi) -> ${d("zx")} * ${d(s"$b[zi]")})")
    val na = O.dfold(s"list_transform($a, nx -> ${d("nx")} * ${d("nx")})")
    val nb = O.dfold(s"list_transform($b, ny -> ${d("ny")} * ${d("ny")})")
    s"($dot / (sqrt($na) * sqrt($nb)))"
  }

  // ── random-hyperplane LSH ────────────────────────────────────────────
  /** Deterministic pseudo-random plane component for (plane j, dim i):
    * integer arithmetic both engines can replicate exactly. */
  private def planeVal(j: Int, i: Column): Column =
    (((lit(j * 64L) + i.cast(LongType)) * lit(2654435761L)) % lit(1000003L))
      .cast(DoubleType) / lit(1000003.0) - lit(0.5)

  private def planeValSql(j: Int, i: String): String =
    s"(CAST((($j * 64 + $i) * 2654435761) % 1000003 AS DOUBLE) / 1000003.0 - 0.5)"

  /** Signature sizing. Collision prob. in one band for angle-similarity
    * s is (1−θ/π)^PLANES; OR over BANDS bands amplifies recall while
    * each band key still has 2^PLANES values — bucket population
    * shrinks exponentially in PLANES, so scaling to a bigger corpus
    * means raising PLANES (finer buckets) and/or BANDS (recall), not
    * rewriting the query: every site below takes them as parameters.
    * 4×8 = a 32-bit signature. */
  val PLANES = 8
  val BANDS = 4

  /** v17's JL output width (must precede `all`: the oracle SQL string
    * interpolates it eagerly). 1/√RP_OUT scaling keeps expected
    * pairwise distances; raise it for tighter distortion. */
  val RP_OUT = 16

  /** Sign-bit bucket of a vector under `planes` fixed hyperplanes
    * starting at global plane index `offset` (bands = disjoint plane
    * ranges of one signature family) — native expression;
    * [[lshBucketHof]] pinned equal in VectorExprsSpec. */
  def lshBucket(v: Column, planes: Int = PLANES, offset: Int = 0): Column =
    graft.functions.VectorExprs.lsh_bucket(v, planes, offset)

  /** Interpreted HOF form of [[lshBucket]]. */
  def lshBucketHof(v: Column, planes: Int = PLANES, offset: Int = 0): Column =
    (0 until planes).map { j =>
      val dot = fold(transform(v, (x, i) => x.cast(DoubleType) * planeVal(offset + j, i)))
      when(dot > 0.0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)

  def lshBucketSql(v: String, planes: Int = PLANES, offset: Int = 0): String =
    (0 until planes).map { j =>
      // DuckDB lambda index pi is 1-based; plane dims are 0-based.
      val dot = O.dfold(
        s"list_transform($v, (px, pi) -> CAST(px AS DOUBLE) * ${planeValSql(offset + j, "(pi - 1)")})")
      s"(CASE WHEN $dot > 0.0 THEN CAST(${1L << j} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
    }.mkString("(", " + ", ")")

  /** OR-amplified candidate pairs over a (vec_id, embedding) frame:
    * BANDS band keys of PLANES sign bits each; a pair is a candidate
    * if ANY band collides. Shuffles keyed by (band, bkey); pairs are
    * deduped as bare ids BEFORE any similarity math. The self-join
    * routes through [[graft.core.BucketGuard]]: a pile of near-zero
    * vectors sharing one sign pattern degrades to salted chunks + a
    * connectivity star instead of going quadratic in the hot bucket. */
  def bandedCandidates(e: DataFrame, planes: Int = PLANES, bands: Int = BANDS,
      maxBucket: Int = graft.core.BucketGuard.DefaultMaxBucket): DataFrame = {
    val keyed = e.select(col("vec_id"),
      explode(array((0 until bands).map(b =>
        struct(lit(b).as("band"),
          lshBucket(col("embedding"), planes, b * planes).as("bkey"))): _*)).as("bb"))
      .select(col("vec_id"), col("bb.band").as("band"), col("bb.bkey").as("bkey"))
    graft.core.BucketGuard.boundedPairs(keyed, "vec_id", "q_id", "n_id",
      maxBucket = maxBucket, directed = true)
  }

  /** v03's whole-corpus ANN top-k over any (vec_id, embedding) frame:
    * banded LSH candidates (BucketGuard-bounded, never n²) → cosine
    * verification on the candidates only → per-query top-k via
    * row_number (WindowGroupLimit prunes rank > k before the final
    * sort). Shared by the v03 gate and the dialect `similar`
    * statement. */
  /** Per-query top-k by (metric asc|desc, n_id asc) through the
    * bounded heap aggregate ([[graft.functions.TopKByAgg]]) — replaces
    * the rank-window shape, whose physical plan LOCAL-SORTS every
    * candidate row below WindowGroupLimit (measured 42-45 GB of sort
    * spill for a cap-sized serving batch, SCALE_r14_cap). Map-side
    * partial aggregation folds candidates into k-entry heaps before
    * the exchange, so the shuffle carries q·k winners and nothing
    * larger than k is ever ordered. Output columns and order contract
    * are bit-identical to `row_number over (metric, n_id asc) <= k`:
    * (q_id, n_id, <metric>, rank) — the metric keeps its original
    * type (the heap compares a double view; integral metrics like
    * hamming are exact well past any distance range). */
  def topKByMetric(cands: DataFrame, metric: String, k: Int,
      asc: Boolean): DataFrame =
    cands.groupBy(col("q_id"))
      .agg(graft.functions.TopKExprs.top_k_by(col("n_id"),
        col(metric).cast(DoubleType), col(metric), k, asc).as("__topk"))
      .select(col("q_id"), posexplode(col("__topk")).as(Seq("__pos", "__hit")))
      .select(col("q_id"), col("__hit.id").as("n_id"),
        col("__hit.payload").as(metric),
        (col("__pos") + 1).cast(LongType).as("rank"))

  def annTopk(e: DataFrame, k: Int): DataFrame = {
    val sims = bandedCandidates(e)
      .join(e.select(col("vec_id").as("q_id"), col("embedding").as("q_emb")), "q_id")
      .join(e.select(col("vec_id").as("n_id"), col("embedding").as("n_emb")), "n_id")
      .select(col("q_id"), col("n_id"), cosine(col("q_emb"), col("n_emb")).as("sim"))
    topKByMetric(sims, "sim", k, asc = false)
  }

  /** DuckDB mirror of [[annTopk]] over the embeddings table — shared
    * by v03 and the s26 dialect gate. */
  def annTopkOracle(k: Int): String = {
    val bandsSel = (0 until BANDS).map(b =>
      s"SELECT vec_id, $b AS band, ${lshBucketSql("embedding", PLANES, b * PLANES)} AS bkey FROM e")
      .mkString("\nUNION ALL\n")
    s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
       |bands AS ($bandsSel),
       |cand AS (SELECT DISTINCT l.vec_id AS q_id, r.vec_id AS n_id
       |         FROM bands l JOIN bands r
       |         ON l.band = r.band AND l.bkey = r.bkey AND l.vec_id != r.vec_id),
       |sims AS (SELECT q_id, n_id, ${cosineSql("a.embedding", "b.embedding")} AS sim
       |         FROM cand JOIN e a ON q_id = a.vec_id JOIN e b ON n_id = b.vec_id)
       |SELECT q_id, n_id, sim, rank FROM
       |(SELECT q_id, n_id, sim, CAST(row_number() OVER
       |   (PARTITION BY q_id ORDER BY sim DESC, n_id ASC) AS BIGINT) AS rank
       | FROM sims) WHERE rank <= $k""".stripMargin
  }

  // ── IVF coarse quantizer ─────────────────────────────────────────────
  /** Per-label per-dimension centroid components `(label, pos, c)` —
    * the IVF cell table in scalar-row form. Decimal sums (Det) keep
    * the per-dimension means bit-identical to the oracle under
    * partial aggregation. At 100 TB this is one (label, dim)-keyed
    * hash aggregation producing k·d rows regardless of corpus size. */
  def centroidRows(s: SparkSession, dir: String): DataFrame =
    centroidRowsOf(Tables(s, dir, "embeddings"))

  /** [[centroidRows]] on an arbitrary (label, embedding) frame. */
  def centroidRowsOf(e: DataFrame): DataFrame =
    e.select(col("label"), posexplode(col("embedding")).as(Seq("pos", "x")))
      // BIGINT pos: the oracle's unnest(range(...)) is BIGINT-typed
      .select(col("label"), col("pos").cast(LongType).as("pos"), col("x"))
      .groupBy(col("label"), col("pos"))
      .agg(Det.davg(col("x")).as("c"))

  /** [[centroidRows]] reassembled into one ordered array per label —
    * the presentation/broadcast form v05 probes against. */
  def centroids(s: SparkSession, dir: String): DataFrame =
    centroidsOf(Tables(s, dir, "embeddings"))

  /** [[centroids]] on an arbitrary (label, embedding) frame. */
  def centroidsOf(e: DataFrame): DataFrame =
    centroidRowsOf(e)
      .groupBy(col("label"))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("c")))),
        ce => ce.getField("c")).as("centroid"))

  /** DuckDB mirror of [[centroidRows]]. The float element is cast to
    * DOUBLE before the decimal: Spark's float→decimal cast goes
    * through the exact double value, DuckDB's direct float→decimal
    * rounds the short float representation — casting via DOUBLE makes
    * both engines round the same number. */
  def centroidRowsSql: String =
    s"""SELECT label, pos, ${Det.sql.davg("CAST(x AS DOUBLE)")} AS c FROM (
       |    SELECT label, unnest(embedding) AS x,
       |           unnest(range(len(embedding))) AS pos
       |    FROM embeddings)
       |  GROUP BY label, pos""".stripMargin

  /** DuckDB mirror of [[centroids]] (aligned unnests zip in DuckDB;
    * list(... ORDER BY pos) rebuilds the ordered vector). */
  def centroidsSql: String =
    s"""SELECT label, list(c ORDER BY pos) AS centroid FROM (
       |$centroidRowsSql)
       |GROUP BY label""".stripMargin

  // ── unsupervised IVF: Lloyd's k-means ────────────────────────────────
  // v04/v05's cells are label means — supervised stand-ins. k-means
  // works on unlabeled corpora: deterministic hash-sampled seeds, a
  // fixed number of Lloyd iterations, each one (cell, dim)-keyed
  // aggregation. Cluster centers are k·d doubles — tiny — so each
  // iteration collects them and embeds them as literal arrays in the
  // next assignment pass (exactly how a 1000-executor k-means ships
  // centers: broadcast, never a shuffle of the corpus by center).
  val KMEANS_K = 4
  val KMEANS_ITERS = 3
  // v41: squared-L2 center movement past which a cell is re-assigned
  // (declared above `all` — gate oracles interpolate it at object
  // init). 0.0014 splits the fixture's movements at EVERY SF under
  // the 2^30 seed hash (sf0.001 1 dirty/3 clean, sf0.01 1/3,
  // sf0.1 2/2), so the gates pin the SELECTION logic, not just
  // re-assign, and the move list is nonempty at all three fixtures.
  final val IVF_REPAIR_THRESH = 0.0014

  // ── sample-bounded codebook training ─────────────────────────────
  // Lloyd over the FULL corpus is correct but costs iters full passes
  // per fit — v33's index build was ~36 corpus passes before serving
  // a query. The scale-safe standard (FAISS max_points_per_centroid)
  // trains on a bounded sample and encodes the full corpus in ONE
  // pass. The sample is the deterministic multiplicative-hash family
  // every other sampler here uses (never RNG), sized to ~256·k
  // vectors: the threshold is pure integer arithmetic on the corpus
  // count, so DuckDB replays the exact same sample and the hash gates
  // stay exact. Below the target size the sample IS the corpus, so
  // small-frame fits (and every spec fixture) are unchanged.
  final val FIT_SAMPLE_PER_K = 256L
  // 2^22-3 and 2^30-35, both prime: (MOD-1)·MUL < 2^52, so the
  // mod-prime-first product can't ANSI-overflow, and the ~2^30 hash
  // space keeps the sample near `target` (not quantized to ~n/1e6)
  // out to corpora of ~10^12 rows — the round-10 1e6 modulus started
  // eroding the flat-fit-cost claim past ~5e8 rows and floored the
  // threshold to an EMPTY sample past MOD·target rows.
  private final val FIT_HASH_MUL = 4194301L
  private final val FIT_HASH_MOD = 1073741789L

  /** Hash threshold for an expected `target`-row sample out of `n`:
    * keep rows with (vec_id·MUL) % MOD < th. Floor division — Scala
    * Long `/` and DuckDB `//` agree on non-negative operands. Clamped
    * to ≥ 1: past n = MOD·target the exact ratio floors to zero and
    * the "sample" would be empty — a degenerate fit at precisely the
    * corpus sizes sampling exists for. */
  def fitThreshold(n: Long, target: Long): Long =
    if (n <= target) FIT_HASH_MOD
    else math.max(1L, FIT_HASH_MOD * target / n)

  /** Deterministic training sample of ~`target` rows (all rows when
    * the frame is already that small). The hash is the SEED hash, so
    * the k smallest-hash vectors — the Lloyd seeds — are inside the
    * sample by construction. `nHint` lets multi-fit builders (PQ's M
    * sub-fits, IVF-PQ's coarse+residual fits) count the corpus once. */
  def fitSample(e: DataFrame, target: Long, nHint: Long = -1L): DataFrame = {
    val n = if (nHint >= 0L) nHint else e.count()
    val th = fitThreshold(n, target)
    if (th >= FIT_HASH_MOD) e
    else e.filter(seedHash(col("vec_id")) < lit(th))
  }

  /** The seed-family multiplicative hash, overflow-proof: reducing
    * mod the PRIME first is value-identical ((x·a) mod p ≡
    * ((x mod p)·a) mod p) but keeps the product under 2^52, so
    * 64-bit vec_ids can't ANSI-overflow (caught by the 1000× probe —
    * ids past ~3.5e9 overflowed the round-10 unreduced form). */
  private def seedHash(id: Column): Column =
    ((id.cast(LongType) % lit(FIT_HASH_MOD)) * lit(FIT_HASH_MUL)) % lit(FIT_HASH_MOD)

  /** DuckDB spelling of [[seedHash]] — interpolated into every fit
    * oracle so a constant change can never de-sync the engines. */
  def seedHashSql(id: String): String =
    s"(($id % $FIT_HASH_MOD) * $FIT_HASH_MUL) % $FIT_HASH_MOD"

  /** DuckDB spelling of [[fitThreshold]] over `SELECT ... FROM src`
    * (same CASE + clamp; `//` floors like Scala Long division). */
  def fitThresholdSql(target: Long, src: String): String =
    s"""SELECT CASE WHEN count(*) <= $target THEN CAST($FIT_HASH_MOD AS BIGINT)
       |  ELSE GREATEST(1, (CAST($FIT_HASH_MOD AS BIGINT) * $target) // count(*)) END AS th
       |FROM $src""".stripMargin

  /** Squared-L2 distance of a float-vector column to a literal center,
    * as the same order-fixed fold both engines run bit-identically. */
  private def sqDist(emb: Column, center: Array[Double]): Column =
    fold(zip_with(emb, array(center.map(lit(_)): _*),
      (x, y) => (x.cast(DoubleType) - y) * (x.cast(DoubleType) - y)))

  /** Nearest-center assignment: (vec_id, embedding, cell). Ties break
    * to the smallest cell id (mirrors ORDER BY dist ASC, cell ASC).
    * Native codegen'd loop (NearestCentroidExpr) — the HOF fold form
    * ([[assignCellExpr]]) is interpreted per element and was measured
    * ~20× slower at probe scale; VectorExprsSpec pins them equal. */
  def kmeansAssign(e: DataFrame, centers: Seq[(Int, Array[Double])]): DataFrame = {
    require(centers.nonEmpty)
    e.select(col("vec_id"), col("embedding"),
      graft.functions.VectorExprs.nearest_centroid(
        col("embedding"), centers, centers.head._2.length).as("cell"))
  }

  /** Per-(cell, pos) centroid components of an assigned frame —
    * the same Det-decimal shape as [[centroidRows]]. */
  private def cellRows(assigned: DataFrame): DataFrame =
    assigned
      .select(col("cell"), posexplode(col("embedding")).as(Seq("pos", "x")))
      .select(col("cell"), col("pos").cast(LongType).as("pos"), col("x"))
      .groupBy(col("cell"), col("pos"))
      .agg(Det.davg(col("x")).as("c"))

  /** Deterministic seed sample: the k vectors with the smallest
    * multiplicative hash of vec_id (same integer family as the LSH
    * planes — both engines replicate it exactly); cell j = j-th seed
    * in (hash, vec_id) order. */
  private def kmeansSeeds(e: DataFrame, k: Int): Seq[(Int, Array[Double])] =
    e.withColumn("__h", seedHash(col("vec_id")))
      .orderBy(col("__h").asc, col("vec_id").asc)
      .limit(k)
      .select(col("embedding"))
      .collect()
      .zipWithIndex
      .map { case (r, j) => (j, r.getSeq[Float](0).map(_.toDouble).toArray) }
      .toSeq

  /** Cluster centers after `iters` Lloyd iterations, as (cell, center)
    * pairs; a cell that loses all members drops out (both engines
    * reproduce the same drop deterministically). TRAINS on the
    * bounded [[fitSample]] (~256·k vectors), not the full corpus —
    * each Lloyd pass scans the sample, so index-build cost stops
    * growing with corpus size; only the one ENCODE pass the caller
    * runs afterwards touches every row. `nHint` forwards a known
    * corpus count so multi-fit builders don't re-count per subspace. */
  def kmeansFit(e: DataFrame, k: Int = KMEANS_K, iters: Int = KMEANS_ITERS,
      nHint: Long = -1L): Seq[(Int, Array[Double])] = {
    val fs = fitSample(e, FIT_SAMPLE_PER_K * k, nHint)
    // the sample is structurally bounded (~256·k rows), so the whole
    // fit runs DRIVER-LOCALLY off one collect: seeds + every Lloyd
    // round in microseconds instead of ~2 driver jobs per round (each
    // a full planning/scheduling round-trip — the fit batteries were
    // the serve/index builds' dominant driver latency). Arithmetic is
    // a bit-exact replica of the distributed shape (see localLloyd),
    // so centers — and every oracle replay built from them — are
    // unchanged. Pathological samples (hash skew past 4× the target,
    // nulls, ragged dims) fall back to the distributed loop.
    localFitSample(e, fs, FIT_SAMPLE_PER_K * k) match {
      case Some(rows) if rows.nonEmpty =>
        localLloyd(rows, k, iters)
      case _ =>
        // when a real subsample was cut, reuse it for the fit's
        // duration: the corpus is scanned ONCE to materialize the
        // ≤256·k-row sample, and every Lloyd pass (and the seed sort)
        // then reads only the bounded cached rows
        if (fs ne e) Materialize.reuse(fs)
        val fit = kmeansFitFrom(fs, kmeansSeeds(fs, k), iters)
        Materialize.release(fs)
        fit
    }
  }

  /** Collect the bounded fit sample for the driver-local fit. Returns
    * None (→ distributed fallback) when the local path is disabled
    * (`spark.graft.fit.localEnabled=false`), the sample overruns 4×
    * its expected size + 1024 (hash pathology — the limit then also
    * caps the transfer), any id/embedding is null, or dimensions are
    * ragged. Under the cap, `limit` does not bind, so the collected
    * set is exactly the sample's rows. */
  private def localFitSample(e: DataFrame, fs: DataFrame, target: Long)
      : Option[Array[(Long, Array[Float])]] = {
    val enabled = e.sparkSession.conf
      .getOption("spark.graft.fit.localEnabled").forall(_.toBoolean)
    if (!enabled) return None
    val hard = (4L * target + 1024L).toInt
    val rows = fs.select(col("vec_id").cast(LongType), col("embedding"))
      .limit(hard + 1).collect()
    if (rows.length > hard) return None
    val out = new Array[(Long, Array[Float])](rows.length)
    var i = 0
    while (i < rows.length) {
      val r = rows(i)
      if (r.isNullAt(0) || r.isNullAt(1)) return None
      val seq = r.getSeq[Any](1)
      if (seq.exists(_ == null)) return None
      out(i) = (r.getLong(0), seq.map(_.asInstanceOf[Float]).toArray)
      i += 1
    }
    if (out.nonEmpty && out.exists(_._2.length != out(0)._2.length)) return None
    Some(out)
  }

  /** [[seedHash]] on a driver-side long — identical integer family. */
  private def localSeedHash(id: Long): Long =
    ((id % FIT_HASH_MOD) * FIT_HASH_MUL) % FIT_HASH_MOD

  /** Driver-local replica of the sample-bounded Lloyd fit. Bit-exact
    * against the distributed shape by construction:
    *  - seeds: the k smallest (seedHash, vec_id) sample rows — the
    *    same total order [[kmeansSeeds]] sorts by;
    *  - assignment: the same fold [[graft.functions.CentroidOps]]
    *    runs — (float→double − center)² accumulated in element order,
    *    strict `<` over centers in ascending-cell order;
    *  - means: davg's exact chain — each float element cast to
    *    decimal(38,6) (valueOf(double), HALF_UP to scale 6), summed
    *    exactly, `.doubleValue` / count — per (cell, position);
    *  - empty cells drop; surviving cells sort ascending.
    * Every step is the same IEEE/decimal arithmetic the executors run,
    * so the returned centers are bit-identical and the DuckDB oracle
    * replays them unchanged. */
  private def localLloyd(rows: Array[(Long, Array[Float])], k: Int,
      iters: Int): Seq[(Int, Array[Double])] = {
    val d = rows(0)._2.length
    val seeds = rows.sortBy(r => (localSeedHash(r._1), r._1)).take(k)
    var centers: Seq[(Int, Array[Double])] =
      seeds.zipWithIndex.map { case ((_, v), j) => (j, v.map(_.toDouble)) }.toSeq
    for (_ <- 1 to iters)
      centers = localLloydRound(rows, centers, d, 0)
    centers
  }

  /** One local Lloyd round over (possibly offset) element windows —
    * shared by the coarse fit (offset 0, full d) and the per-subspace
    * PQ fits (window [offset, offset+d)). */
  private def localLloydRound(rows: Array[(Long, Array[Float])],
      centers: Seq[(Int, Array[Double])], d: Int, offset: Int)
      : Seq[(Int, Array[Double])] = {
    val byCell = scala.collection.mutable.TreeMap
      .empty[Long, (Array[java.math.BigDecimal], Array[Long])]
    rows.foreach { case (_, v) =>
      val cell = localNearest(v, offset, d, centers)
      val (sums, counts) = byCell.getOrElseUpdate(cell,
        (Array.fill(d)(java.math.BigDecimal.ZERO), new Array[Long](d)))
      var i = 0
      while (i < d) {
        sums(i) = sums(i).add(
          java.math.BigDecimal.valueOf(v(offset + i).toDouble)
            .setScale(6, java.math.RoundingMode.HALF_UP))
        counts(i) += 1
        i += 1
      }
    }
    byCell.iterator.map { case (cell, (sums, counts)) =>
      (cell.toInt,
        Array.tabulate(d)(i => sums(i).doubleValue / counts(i).toDouble))
    }.toSeq
  }

  /** [[graft.functions.CentroidOps.nearest]]'s exact fold on driver
    * arrays: same element order, same strict `<`, same first-wins tie
    * (centers scanned in the given — ascending-cell — order). */
  private def localNearest(v: Array[Float], offset: Int, d: Int,
      centers: Seq[(Int, Array[Double])]): Long = {
    var best = Double.PositiveInfinity
    var bestCell = centers.head._1.toLong
    val it = centers.iterator
    while (it.hasNext) {
      val (cid, c) = it.next()
      var s = 0.0
      var i = 0
      while (i < d) {
        val x = v(offset + i).toDouble - c(i)
        s += x * x
        i += 1
      }
      if (s < best) { best = s; bestCell = cid.toLong }
    }
    bestCell
  }

  /** The Lloyd loop from an EXPLICIT initial center set — shared by
    * [[kmeansFit]] (hash-order seeds) and the k-means++ path (v29). */
  def kmeansFitFrom(e: DataFrame, init: Seq[(Int, Array[Double])],
      iters: Int): Seq[(Int, Array[Double])] = {
    var centers = init
    for (_ <- 1 to iters)
      centers = cellRows(kmeansAssign(e, centers)).collect()
        .groupBy(_.getLong(0)).toSeq.sortBy(_._1)
        .map { case (cell, rs) =>
          (cell.toInt, rs.sortBy(_.getLong(1)).map(_.getDouble(2)).toArray) }
    centers
  }

  /** Deterministic k-means++ (farthest-point / maxmin) seeds: center 0
    * is the minimum-vec_id vector; each next center is the vector
    * maximizing its distance to the NEAREST chosen center (ties →
    * smaller vec_id). The classic spread-out init — never RNG (the
    * usual D² sampling is randomized; maxmin is its deterministic
    * variant), so any cluster reproduces the same seeds. Each step is
    * one corpus scan + a 1-row TakeOrdered; k·d doubles on the
    * driver. */
  def kmeansppSeeds(e: DataFrame, k: Int): Seq[(Int, Array[Double])] = {
    def embOf(df: DataFrame): Array[Double] =
      df.select(col("embedding")).collect().head
        .getSeq[Float](0).map(_.toDouble).toArray
    var centers = Seq(0 -> embOf(e.orderBy(col("vec_id").asc).limit(1)))
    while (centers.size < k) {
      val dmin = centers.map { case (_, c) => sqDist(col("embedding"), c) }
        .reduce(least(_, _))
      centers = centers :+ (centers.size -> embOf(
        e.select(col("vec_id"), col("embedding"), dmin.as("d"))
          .orderBy(col("d").desc, col("vec_id").asc).limit(1)))
    }
    centers
  }

  /** Final-iteration centroid components (cell, pos, c) as a lazy
    * frame — the v06 gate shape (scalar rows, comparator-sortable). */
  def kmeansCentroidRowsOf(e: DataFrame, k: Int = KMEANS_K, iters: Int = KMEANS_ITERS): DataFrame =
    cellRows(kmeansAssign(e, kmeansFit(e, k, iters - 1)))

  def kmeansCentroidRows(s: SparkSession, dir: String): DataFrame =
    kmeansCentroidRowsOf(
      Tables(s, dir, "embeddings").select(col("vec_id"), col("embedding")))

  /** DuckDB mirror of [[kmeansCentroidRows]]: the Lloyd loop unrolled
    * as chained CTEs — seeds by the same hash order, each iteration an
    * assignment (row_number over dist ASC, cell ASC) plus the Det
    * decimal per-dimension mean. */
  /** The Lloyd loop unrolled as a WITH-clause body (no leading `WITH`,
    * no final SELECT): seeds by the deterministic hash order, then per
    * iteration an assignment (`assign$i`: vec_id, embedding, cell) and
    * the Det-decimal per-dimension centroid rows (`rows$i`). Shared by
    * the v06 oracle (reads `rows$iters`) and the semantic-dedup d08
    * oracle (reads `assign$iters`). */
  def kmeansCtesSql(k: Int = KMEANS_K, iters: Int = KMEANS_ITERS,
      prefix: String = "",
      src: String = "SELECT vec_id, embedding FROM embeddings",
      cent0Override: Option[String] = None): String = {
    // `prefix` namespaces every CTE so several unrolled loops can share
    // one WITH clause (the PQ oracle runs one loop per subspace);
    // `src` picks the (vec_id, embedding) input — e.g. a list slice;
    // `cent0Override` replaces the hash-order seed CTEs with a custom
    // chain ending in `${p}cent0 (cell, cent)` (the k-means++ path).
    val p = prefix
    def d(e: String) = s"CAST($e AS DOUBLE)"
    // DuckDB lambda index ki is 1-based, matching element ki of cent
    def distSql(cent: String) = O.dfold(
      s"list_transform(embedding, (kx, ki) -> (${d("kx")} - $cent[ki]) * (${d("kx")} - $cent[ki]))")
    val sb = new StringBuilder
    sb ++= s"${p}e AS ($src),\n"
    // bounded training sample (mirrors fitSample/fitThreshold): the
    // FIT iterations (1..iters-1) and the seeds read ${p}fe; only the
    // FINAL assignment — the one encode pass over the full corpus —
    // reads ${p}e. `//` floors like Scala Long division (operands are
    // non-negative).
    val target = FIT_SAMPLE_PER_K * k
    sb ++= s"""${p}fn AS (${fitThresholdSql(target, s"${p}e")}),
              |${p}fe AS (SELECT vec_id, embedding FROM ${p}e, ${p}fn
              |  WHERE ${seedHashSql("vec_id")} < th),
              |""".stripMargin
    sb ++= cent0Override.getOrElse(
      s"""${p}seeds AS (SELECT cell, embedding FROM
         |  (SELECT embedding, CAST(row_number() OVER
         |     (ORDER BY ${seedHashSql("vec_id")} ASC, vec_id ASC) - 1 AS BIGINT) AS cell
         |   FROM ${p}fe) WHERE cell < $k),
         |${p}cent0 AS (SELECT cell, list_transform(embedding, sx -> ${d("sx")}) AS cent FROM ${p}seeds)""".stripMargin)
    for (i <- 1 to iters) {
      val in = if (i < iters) s"${p}fe" else s"${p}e"
      sb ++= s""",
                |${p}assign$i AS (SELECT vec_id, embedding, cell FROM
                |  (SELECT $in.vec_id, $in.embedding, c.cell,
                |     row_number() OVER (PARTITION BY $in.vec_id
                |       ORDER BY ${distSql("c.cent")} ASC, c.cell ASC) AS rk
                |   FROM $in CROSS JOIN ${p}cent${i - 1} c) WHERE rk = 1),
                |${p}rows$i AS (SELECT cell, pos, ${Det.sql.davg("CAST(x AS DOUBLE)")} AS c FROM
                |  (SELECT cell, unnest(embedding) AS x, unnest(range(len(embedding))) AS pos
                |   FROM ${p}assign$i) GROUP BY cell, pos)""".stripMargin
      if (i < iters) sb ++= s""",
                |${p}cent$i AS (SELECT cell, list(c ORDER BY pos) AS cent FROM ${p}rows$i GROUP BY cell)""".stripMargin
    }
    sb.toString
  }

  def kmeansCentroidRowsSql(k: Int = KMEANS_K, iters: Int = KMEANS_ITERS): String =
    s"WITH ${kmeansCtesSql(k, iters)}\nSELECT cell, pos, c FROM rows$iters"

  /** Final cluster assignment (vec_id, cell) after the full Lloyd fit
    * — the `cluster` dialect statement's builder (d08's assignment
    * stage without the dedup pruning): fit collects k·d doubles on the
    * driver and re-broadcasts them as literals; the corpus itself sees
    * only one narrow codegen'd assignment pass, never a shuffle. */
  def kmeansCells(e: DataFrame, k: Int = KMEANS_K): DataFrame =
    kmeansAssign(e, kmeansFit(e, k, KMEANS_ITERS - 1))
      .select(col("vec_id"), col("cell"))

  /** DuckDB mirror of [[kmeansCells]] — the unrolled Lloyd loop's
    * final assignment CTE. */
  def kmeansCellsOracle(k: Int = KMEANS_K): String =
    s"WITH ${kmeansCtesSql(k, KMEANS_ITERS)}\nSELECT vec_id, cell FROM assign$KMEANS_ITERS"

  /** v23's builder: per-cell quota sampling at the minimum cell size.
    * Rank within each cell by the deterministic multiplicative-hash
    * order (the t05/seed family — both engines replicate it exactly),
    * broadcast the 1-row min-cell-count, keep rank ≤ quota. */
  def balancedSample(e: DataFrame, k: Int = KMEANS_K): DataFrame = {
    val cells = kmeansCells(e, k)
    val quota = cells.groupBy(col("cell")).agg(count(lit(1)).as("c"))
      .agg(min(col("c")).as("quota"))
    val w = Window.partitionBy(col("cell")).orderBy(
      ((col("vec_id") % lit(1000000L)) * lit(2654435761L) % lit(1000003L)).asc,
      col("vec_id").asc)
    cells.withColumn("rk", row_number().over(w).cast(LongType))
      .crossJoin(broadcast(quota))
      .filter(col("rk") <= col("quota"))
      .select(col("vec_id"), col("cell"), col("rk"))
  }

  /** DuckDB mirror of [[balancedSample]]. */
  def balancedSampleSql(k: Int = KMEANS_K): String =
    s"""WITH ${kmeansCtesSql(k, KMEANS_ITERS)},
       |cells AS (SELECT vec_id, cell FROM assign$KMEANS_ITERS),
       |q AS (SELECT min(c) AS quota FROM
       |      (SELECT cell, count(*) AS c FROM cells GROUP BY cell)),
       |rk AS (SELECT vec_id, cell, CAST(row_number() OVER
       |         (PARTITION BY cell
       |          ORDER BY (vec_id % 1000000) * 2654435761 % 1000003 ASC,
       |            vec_id ASC) AS BIGINT) AS rk
       |       FROM cells)
       |SELECT vec_id, cell, rk FROM rk, q WHERE rk <= quota""".stripMargin

  /** v22's builder: per-cell size + within-cluster SSE (inertia) of
    * the final Lloyd assignment, measured against the centers the
    * assignment used. The distance to the ASSIGNED center is a
    * cell-keyed CASE over the k broadcast-literal folds — evaluated
    * per row with no join; the only aggregation is one k-row agg. */
  def kmeansInertia(e: DataFrame, k: Int = KMEANS_K): DataFrame =
    kmeansInertiaOf(e, kmeansFit(e, k, KMEANS_ITERS - 1))

  /** Inertia rows (cell, n_vecs, sse) against an EXPLICIT center set —
    * shared by v22 (hash-seeded fit) and v29 (k-means++ fit). */
  def kmeansInertiaOf(e: DataFrame, centers: Seq[(Int, Array[Double])]): DataFrame = {
    val dim = centers.head._2.length
    // the distance to the ASSIGNED center is the native codegen'd
    // lookup (VectorExprs.centroid_dist) — the cell-keyed CASE over
    // interpreted HOF folds it replaces dragged the whole projection
    // off codegen
    kmeansAssign(e, centers)
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("n_vecs"),
        Det.dsum(graft.functions.VectorExprs.centroid_dist(
          col("embedding"), col("cell"), centers, dim)).as("inertia"))
  }

  /** DuckDB mirror of [[kmeansInertia]]: the final assignment CTE
    * joined back to the centers it was computed against
    * (cent$(iters-1)), same fold, same Det decimal sum. */
  def kmeansInertiaSql(k: Int = KMEANS_K): String = {
    val last = KMEANS_ITERS
    def d(e: String) = s"CAST($e AS DOUBLE)"
    val dist = O.dfold(
      s"list_transform(a.embedding, (kx, ki) -> (${d("kx")} - c.cent[ki]) * (${d("kx")} - c.cent[ki]))")
    s"""WITH ${kmeansCtesSql(k, last)}
       |SELECT a.cell, CAST(count(*) AS BIGINT) AS n_vecs,
       |  ${Det.sql.dsum(s"($dist)")} AS inertia
       |FROM assign$last a JOIN cent${last - 1} c ON a.cell = c.cell
       |GROUP BY a.cell""".stripMargin
  }

  /** Collected (cell, center) pairs of a (cell, pos, c) centroid-rows
    * frame — the [[kmeansFitFrom]] collect shape, shared by v41. */
  /** Refreshed center set of an assigned (…, embedding, cell) frame —
    * the full-corpus mean update a periodic refresh produces, in ONE
    * scan of the frame (the persisted-index repair path reads it off
    * the index instead of re-assigning the corpus). Uses the native
    * [[graft.functions.VecMeanAgg]] — bit-identical to the
    * posexplode + Det.davg shape the oracles mirror (VectorAggSpec
    * pins it) but one row per VECTOR through the aggregation instead
    * of one per (vector, dim): the refresh scan of a 2M×64-float
    * index stopped generating 128M exploded rows. */
  def refreshedCenters(assigned: DataFrame): Seq[(Int, Array[Double])] =
    assigned.groupBy(col("cell"))
      .agg(graft.functions.VecMeanExprs.vec_mean(col("embedding")).as("c"))
      .filter(col("c").isNotNull) // an all-null-vector cell has no mean
      .collect()
      .map(r => (r.getLong(0).toInt, r.getSeq[Double](1).toArray))
      .sortBy(_._1).toSeq

  /** [[refreshedCenters]] plus per-cell occupancy in the SAME scan —
    * what the `_centers` sidecar persists at build/upsert/compact
    * time so serving and repair never pay this aggregate again. */
  def refreshedCentersWithCounts(assigned: DataFrame)
      : (Seq[(Int, Array[Double])], Map[Long, Long]) = {
    val rows = assigned.groupBy(col("cell"))
      .agg(graft.functions.VecMeanExprs.vec_mean(col("embedding")).as("c"),
        count(lit(1)).as("n"))
      .collect()
    (rows.filter(!_.isNullAt(1))
      .map(r => (r.getLong(0).toInt, r.getSeq[Double](1).toArray))
      .sortBy(_._1).toSeq,
      rows.map(r => r.getLong(0) -> r.getLong(2)).toMap)
  }

  /** Same-order squared L2 between two driver-side centers — the
    * left fold both engines replay (IEEE ops in pos order). */
  private def sqDistArr(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
    s
  }

  /** v41's builder — "repair, don't rebuild": the maintenance pass an
    * upserted index needs once drift monitoring (x14) fires. `oldC`
    * is the SERVING center set, `newC` the refreshed one; cells whose
    * center moved past `thresh` (squared L2, k·d driver doubles —
    * never a corpus op) are the DIRTY set, and only vectors currently
    * IN a dirty cell are re-scored — one narrow codegen'd scan
    * against both broadcast-literal center sets, emitting
    * (vec_id, cell_old, cell_new) for the rows that actually move.
    * On a drift-free index the dirty set is empty and the scan prunes
    * to nothing (R10OpsSpec pins idempotence + moved ⊆ corpus). */
  def ivfRepairFrom(e: DataFrame, oldC: Seq[(Int, Array[Double])],
      newC: Seq[(Int, Array[Double])], thresh: Double): DataFrame =
    if (oldC.isEmpty)
      // no serving centers — nothing is assigned, nothing can move
      e.select(col("vec_id"), lit(0L).as("cell_old"), lit(0L).as("cell_new"))
        .filter(lit(false))
    else ivfRepairAssigned(kmeansAssign(e, oldC), oldC, newC, thresh)

  /** The DIRTY set of a refresh: serving cells whose refreshed center
    * moved past `thresh` (squared L2 on k·d driver doubles) — plus
    * cells that VANISHED from the refresh entirely (lost every
    * member): their vectors point at a center that no longer exists
    * and must be re-scored wherever it lands. */
  def dirtyCells(oldC: Seq[(Int, Array[Double])],
      newC: Seq[(Int, Array[Double])], thresh: Double): Seq[Long] = {
    val newByCell = newC.toMap
    oldC.collect {
      case (cell, oc) if !newByCell.contains(cell) ||
        sqDistArr(oc, newByCell(cell)) > thresh => cell.toLong
    }
  }

  /** v41's core over a frame ALREADY carrying its serving-cell
    * assignment (vec_id, embedding, cell) — the shape both a reused
    * in-memory assignment ([[ivfRepair]]) and a persisted index read
    * ([[ivfRepairIndexed]]) provide, so repair never recomputes the
    * nearest-center pass the index already paid for. Empty or fully
    * vanished center sets degrade to an empty move list, never a
    * driver exception. */
  def ivfRepairAssigned(assigned: DataFrame, oldC: Seq[(Int, Array[Double])],
      newC: Seq[(Int, Array[Double])], thresh: Double): DataFrame = {
    val dirty = if (newC.isEmpty) Seq.empty[Long]
      else dirtyCells(oldC, newC, thresh)
    val inDirty =
      if (dirty.isEmpty) assigned.filter(lit(false))
      else assigned.filter(col("cell").isin(dirty: _*))
    val out =
      if (newC.isEmpty) inDirty.select(col("vec_id"),
        col("cell").cast(LongType).as("cell_old"),
        col("cell").cast(LongType).as("cell_new"))
      else inDirty.select(col("vec_id"),
        col("cell").cast(LongType).as("cell_old"),
        graft.functions.VectorExprs.nearest_centroid(
          col("embedding"), newC, newC.head._2.length).as("cell_new"))
    out.filter(col("cell_new") =!= col("cell_old"))
  }

  /** v41 over the standard lifecycle: serving centers = the sample-
    * bounded fit (cent$(iters-1)); refreshed centers = the full-corpus
    * mean update of the final assignment (rows$iters) — exactly the
    * drift a periodic refresh produces. The assignment is computed
    * ONCE and persisted across its two consumers (the refresh means
    * and the dirty-cell re-score) — round 10 paid a second full-corpus
    * nearest-center pass here; the move list is cut (eager local
    * checkpoint) so the assignment can be released right away, and
    * the enclosing Materialize.statement releases the move list. */
  def ivfRepair(e: DataFrame, k: Int = KMEANS_K,
      thresh: Double = IVF_REPAIR_THRESH): DataFrame = {
    val old = kmeansFit(e, k, KMEANS_ITERS - 1)
    val assigned = Materialize.reuse(kmeansAssign(e, old))
    val moves = Materialize.cut(
      ivfRepairAssigned(assigned, old, refreshedCenters(assigned), thresh))
    Materialize.release(assigned)
    moves
  }

  /** v41 over a PERSISTED cell-partitioned index (the v45 layout):
    * membership comes from the index itself — no assignment pass at
    * all — and the dirty set becomes a STATIC partition predicate, so
    * repair READS only dirty cells' files (`PartitionFilters` in the
    * plan, like v45's serve). At 100 TB this is the difference
    * between a repair that costs O(dirty fraction) of the index and
    * one that rescans the corpus: a 2-dirty-of-64-cell refresh
    * touches ~3% of the files. The hive partition key comes back as
    * INT — cast to the move list's BIGINT contract. */
  def ivfRepairIndexed(spark: SparkSession, indexPath: String,
      oldC: Seq[(Int, Array[Double])], newC: Seq[(Int, Array[Double])],
      thresh: Double): DataFrame = {
    val idx = spark.read.parquet(indexPath)
    val dirty = if (newC.isEmpty) Seq.empty[Long]
      else dirtyCells(oldC, newC, thresh)
    if (dirty.isEmpty || newC.isEmpty)
      idx.filter(lit(false)).select(col("vec_id"),
        col("cell").cast(LongType).as("cell_old"),
        col("cell").cast(LongType).as("cell_new"))
    else
      idx.filter(col("cell").isin(dirty: _*))
        .select(col("vec_id"), col("cell").cast(LongType).as("cell_old"),
          graft.functions.VectorExprs.nearest_centroid(
            col("embedding"), newC, newC.head._2.length).as("cell_new"))
        .filter(col("cell_new") =!= col("cell_old"))
  }

  /** DuckDB mirror of [[ivfRepair]]: centN from rows$iters, dirty
    * cells by the same fixed-order fold, re-assignment ranked over
    * centN only for rows whose assign$iters cell is dirty. */
  def ivfRepairSql(k: Int = KMEANS_K,
      thresh: Double = IVF_REPAIR_THRESH): String = {
    val last = KMEANS_ITERS
    val moveDist = O.dfold(
      "list_transform(o.cent, (mx, mi) -> (mx - n.cent[mi]) * (mx - n.cent[mi]))")
    def d(x: String) = s"CAST($x AS DOUBLE)"
    val assignDist = O.dfold(
      s"list_transform(a.embedding, (kx, ki) -> (${d("kx")} - n.cent[ki]) * (${d("kx")} - n.cent[ki]))")
    s"""WITH ${kmeansCtesSql(k, last)},
       |centN AS (SELECT cell, list(c ORDER BY pos) AS cent
       |          FROM rows$last GROUP BY cell),
       |dirty AS (SELECT o.cell FROM cent${last - 1} o
       |          LEFT JOIN centN n ON o.cell = n.cell
       |          WHERE n.cell IS NULL OR ($moveDist) > $thresh),
       |re AS (SELECT vec_id, cell_old, cell AS cell_new FROM (
       |  SELECT a.vec_id, a.cell AS cell_old, n.cell,
       |    row_number() OVER (PARTITION BY a.vec_id
       |      ORDER BY ($assignDist) ASC, n.cell ASC) AS rk
       |  FROM assign$last a JOIN dirty dt ON a.cell = dt.cell
       |  CROSS JOIN centN n) WHERE rk = 1)
       |SELECT vec_id, cell_old, cell_new FROM re
       |WHERE cell_new != cell_old""".stripMargin
  }

  /** v39's builder — embedding OOD/outlier scoring on an arbitrary
    * (vec_id, embedding) frame, shared with the `outliers` dialect
    * statement: squared distance to the NEAREST
    * k-means centroid (the v06 fit), farthest `topN` vectors. The
    * fit collects k·d doubles once; the corpus then sees ONE
    * codegen'd narrow pass (nearest_centroid + centroid_dist, both
    * broadcast-literal lookups) and the only global step is a
    * LIMIT-bounded TakeOrderedAndProject — at 100 TB nothing
    * shuffles, nothing materializes beyond `topN` rows. `dist` is a
    * fixed-order double fold (no libm), bit-identical cross-engine —
    * the same equality the Lloyd assignment's rk=1 already rests on. */
  def centroidOutliersOf(e: DataFrame, k: Int = KMEANS_K,
      topN: Int = 20): DataFrame = {
    val centers = kmeansFit(e, k, KMEANS_ITERS - 1)
    val dim = centers.head._2.length
    kmeansAssign(e, centers)
      .select(col("vec_id"), col("cell"),
        graft.functions.VectorExprs.centroid_dist(
          col("embedding"), col("cell"), centers, dim).as("dist"))
      .orderBy(col("dist").desc, col("vec_id").asc)
      .limit(topN)
  }

  /** DuckDB mirror of [[centroidOutliersOf]] — the unrolled Lloyd
    * loop's final assignment joined back to its centers (the v22
    * shape), ordered by the same fold, LIMIT topN. */
  def centroidOutliersSql(k: Int = KMEANS_K, topN: Int = 20): String = {
    val last = KMEANS_ITERS
    def d(e: String) = s"CAST($e AS DOUBLE)"
    val dist = O.dfold(
      s"list_transform(a.embedding, (kx, ki) -> (${d("kx")} - c.cent[ki]) * (${d("kx")} - c.cent[ki]))")
    s"""WITH ${kmeansCtesSql(k, last)}
       |SELECT a.vec_id, a.cell, ($dist) AS dist
       |FROM assign$last a JOIN cent${last - 1} c ON a.cell = c.cell
       |ORDER BY dist DESC, a.vec_id ASC LIMIT $topN""".stripMargin
  }

  /** v40's builder: multiprobe recall at every probe level from ONE
    * shared candidate frame (see the registry comment). */
  def nprobeSweep(s: SparkSession, dir: String,
      probes: Seq[Int] = Seq(1, 2, 3), k: Int = 5): DataFrame =
    nprobeSweepOf(Tables(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding"), col("label")), probes, k)

  /** [[nprobeSweep]] on an arbitrary (vec_id, embedding, label)
    * frame. The exact-truth leg is the
    * bruteKnn construction inlined on the same frame. */
  def nprobeSweepOf(el: DataFrame,
      probes: Seq[Int] = Seq(1, 2, 3), k: Int = 5): DataFrame = {
    val e = el.select(col("vec_id"), col("embedding"))
    val scored = e.crossJoin(broadcast(centroidsOf(el)))
      .select(col("vec_id"), col("embedding"), col("label"),
        cosine(col("centroid"), col("embedding")).as("csim"))
    val wa = Window.partitionBy(col("vec_id"))
      .orderBy(col("csim").desc, col("label").asc)
    val ranked = scored.withColumn("rk", row_number().over(wa))
    val assigned = ranked.filter(col("rk") === 1)
      .select(col("vec_id").as("n_id"), col("embedding").as("n_emb"),
        col("label").as("cell"))
    val maxP = probes.max
    val qs = ranked.filter(col("vec_id") < 5 && col("rk") <= maxP)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        col("label").as("cell"), col("rk").as("qrk"))
    // a neighbor lives in exactly one cell and qs carries one row per
    // (query, probed cell), so (q_id, n_id) stays unique at every level
    val sims = assigned.join(broadcast(qs), "cell")
      .filter(col("q_id") =!= col("n_id"))
      .select(col("q_id"), col("n_id"), col("qrk"),
        cosine(col("q_emb"), col("n_emb")).as("sim"))
    val tq = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val tsims = e.select(col("vec_id").as("n_id"), col("embedding").as("n_emb"))
      .join(broadcast(tq), col("q_id") =!= col("n_id"))
      .select(col("q_id"), col("n_id"),
        cosine(col("q_emb"), col("n_emb")).as("sim"))
    val wt = Window.partitionBy(col("q_id"))
      .orderBy(col("sim").desc, col("n_id").asc)
    val truth = tsims.withColumn("rank", row_number().over(wt))
      .filter(col("rank") <= k).select(col("q_id"), col("n_id"))
    val tk = truth.groupBy(col("q_id")).agg(count(lit(1)).as("k"))
    probes.map { np =>
      val wr = Window.partitionBy(col("q_id"))
        .orderBy(col("sim").desc, col("n_id").asc)
      val got = sims.filter(col("qrk") <= np)
        .withColumn("rank", row_number().over(wr))
        .filter(col("rank") <= k).select(col("q_id"), col("n_id"))
      val hits = truth.join(got, Seq("q_id", "n_id"))
        .groupBy(col("q_id")).agg(count(lit(1)).as("hits"))
      tk.join(hits, Seq("q_id"), "left")
        .select(lit(np.toLong).as("nprobe"), col("q_id"),
          coalesce(col("hits"), lit(0L)).as("hits"), col("k"))
    }.reduce(_ unionAll _)
  }

  /** DuckDB mirror of [[nprobeSweep]]. */
  def nprobeSweepSql(probes: Seq[Int] = Seq(1, 2, 3), k: Int = 5): String = {
    val maxP = probes.max
    val blocks = probes.map { np =>
      s"""got$np AS (SELECT q_id, n_id FROM
         |  (SELECT q_id, n_id, row_number() OVER
         |     (PARTITION BY q_id ORDER BY sim DESC, n_id ASC) AS rank
         |   FROM sims WHERE qrk <= $np) WHERE rank <= $k),
         |h$np AS (SELECT truth.q_id, count(*) AS hits
         |      FROM truth JOIN got$np ON truth.q_id = got$np.q_id
         |                           AND truth.n_id = got$np.n_id
         |      GROUP BY truth.q_id)""".stripMargin
    }.mkString(",\n")
    val selects = probes.map { np =>
      s"""SELECT CAST($np AS BIGINT) AS nprobe, tk.q_id,
         |  CAST(coalesce(h$np.hits, 0) AS BIGINT) AS hits, tk.k
         |FROM tk LEFT JOIN h$np ON tk.q_id = h$np.q_id""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH cents AS ($centroidsSql),
       |scored AS (SELECT e.vec_id, e.embedding, c.label,
       |  ${cosineSql("c.centroid", "e.embedding")} AS csim
       |  FROM embeddings e CROSS JOIN cents c),
       |ranked AS (SELECT *, row_number() OVER (PARTITION BY vec_id
       |    ORDER BY csim DESC, label ASC) AS rk FROM scored),
       |assigned AS (SELECT vec_id, embedding, label AS cell FROM ranked WHERE rk = 1),
       |qs AS (SELECT vec_id AS q_id, embedding AS q_emb, label AS cell, rk AS qrk
       |       FROM ranked WHERE rk <= $maxP AND vec_id < 5),
       |sims AS (SELECT q.q_id, n.vec_id AS n_id, q.qrk,
       |  ${cosineSql("q.q_emb", "n.embedding")} AS sim
       |  FROM assigned n JOIN qs q ON n.cell = q.cell AND q.q_id != n.vec_id),
       |truth AS (SELECT q_id, n_id FROM (${bruteKnnSql(k)})),
       |tk AS (SELECT q_id, CAST(count(*) AS BIGINT) AS k FROM truth GROUP BY q_id),
       |$blocks
       |$selects""".stripMargin
  }

  /** DuckDB mirror of [[kmeansppSeeds]]: a CTE chain ending in
    * `${p}cent0 (cell, cent)` — center 0 is the min-vec_id vector,
    * each next the farthest-from-nearest-chosen (vec_id tiebreak),
    * plugged into [[kmeansCtesSql]] via `cent0Override`. */
  def kppCent0Sql(k: Int, p: String = ""): String = {
    def d(e: String) = s"CAST($e AS DOUBLE)"
    def distTo(cent: String) = O.dfold(
      s"list_transform(embedding, (kx, ki) -> (${d("kx")} - $cent[ki]) * (${d("kx")} - $cent[ki]))")
    val sb = new StringBuilder
    // seeds scan the bounded fit sample (${p}fe), like the Lloyd fit
    sb ++= s"""${p}kpp0 AS (SELECT list_transform(embedding, sx -> ${d("sx")}) AS cent
              |  FROM ${p}fe WHERE vec_id = (SELECT min(vec_id) FROM ${p}fe))""".stripMargin
    for (j <- 1 until k) {
      val dists = (0 until j).map(i => s"(${distTo(s"${p}kpp$i.cent")})")
      val dmin = if (dists.size == 1) dists.head
        else dists.mkString("least(", ", ", ")")
      val joins = (0 until j).map(i => s"CROSS JOIN ${p}kpp$i").mkString(" ")
      sb ++= s""",
                |${p}kpp$j AS (SELECT list_transform(embedding, sx -> ${d("sx")}) AS cent FROM (
                |  SELECT embedding FROM ${p}fe $joins
                |  ORDER BY $dmin DESC, vec_id ASC LIMIT 1))""".stripMargin
    }
    val union = (0 until k)
      .map(j => s"SELECT CAST($j AS BIGINT) AS cell, cent FROM ${p}kpp$j")
      .mkString("\nUNION ALL\n")
    sb ++= s""",
              |${p}cent0 AS ($union)""".stripMargin
    sb.toString
  }

  /** v29's oracle: [[kmeansInertiaSql]] with the k-means++ cent0. */
  def kppInertiaSql(k: Int = KMEANS_K): String = {
    val last = KMEANS_ITERS
    def d(e: String) = s"CAST($e AS DOUBLE)"
    val dist = O.dfold(
      s"list_transform(a.embedding, (kx, ki) -> (${d("kx")} - c.cent[ki]) * (${d("kx")} - c.cent[ki]))")
    s"""WITH ${kmeansCtesSql(k, last, cent0Override = Some(kppCent0Sql(k)))}
       |SELECT a.cell, CAST(count(*) AS BIGINT) AS n_vecs,
       |  ${Det.sql.dsum(s"($dist)")} AS inertia
       |FROM assign$last a JOIN cent${last - 1} c ON a.cell = c.cell
       |GROUP BY a.cell""".stripMargin
  }

  // ── product quantization ─────────────────────────────────────────────
  // The ANN memory path at 100 TB: dim split into M subspaces, an
  // independent k-cell codebook per subspace, each vector stored as M
  // small codes (64 floats → 4 bytes at M=4, k≤256). Codebook training
  // reuses the deterministic Lloyd machinery above per subspace (tiny
  // driver-collected centers, broadcast as literals); ENCODING — the
  // part that touches the whole corpus — fuses all M assignments into
  // one projection, so it is a single narrow scan.

  /** HOF reference form of the squared distance (VectorExprsSpec pins
    * the native loop against it). */
  def sqDistHof(emb: Column, center: Array[Double]): Column = sqDist(emb, center)

  /** HOF reference form of nearest-cell assignment (interpreted; kept
    * as the independent implementation VectorExprsSpec pins the native
    * NearestCentroidExpr against — same tie order, same left folds). */
  def assignCellExpr(emb: Column, centers: Seq[(Int, Array[Double])]): Column = {
    require(centers.nonEmpty)
    val dists = centers.map { case (j, c) => (j, sqDist(emb, c)) }
    val m =
      if (dists.size == 1) dists.head._2 else least(dists.map(_._2): _*)
    dists.tail
      .foldLeft(when(dists.head._2 === m, lit(dists.head._1.toLong))) {
        case (w, (j, dcol)) => w.when(dcol === m, lit(j.toLong))
      }.otherwise(lit(dists.head._1.toLong))
  }

  // 8 subspaces x 16 cells = 8 half-byte codes per vector (64 floats
  // -> 4 bytes). k only affects the seed cut in the SQL mirror and M
  // only the loop count, so codebook resolution costs the oracle
  // nothing; these synthetic embeddings have weak neighbor structure
  // (NN dist ~0.64x the median), so finer subspaces carry the recall.
  val PQ_M = 8
  val PQ_K = 16

  /** PQ codes (vec_id, sub, code): per-subspace Lloyd fit on the
    * sliced vectors, then ONE fused encode pass over the corpus. */
  /** Frozen per-subspace PQ codebooks — the sample-bounded Lloyd fits
    * v09 trains, collected once (m·k·dSub doubles). The artifact a
    * streaming encoder ships as literals (v42).
    *
    * All M sub-fits run BATCHED: one seed collect (the k smallest-hash
    * sample rows are the same ROWS for every subspace — the seed hash
    * reads only vec_id — so each subspace's seeds are slices of one
    * collected set) and ONE job per Lloyd round computing every
    * subspace's (cell, pos) means in a single explode + Det-decimal
    * agg. Numerically identical to M independent fits (the decimal
    * means are exact, hence order-insensitive; the offset
    * nearest_centroid is VectorExprsSpec-pinned equal to the sliced
    * form) but 1 action per round instead of M — the sequential
    * battery was ~3·M driver round-trips and dominated v33's wall. */
  def pqCodebooks(e: DataFrame, dim: Int, m: Int = PQ_M, k: Int = PQ_K,
      iters: Int = KMEANS_ITERS,
      nHint: Long = -1L): Seq[Seq[(Int, Array[Double])]] = {
    val dSub = dim / m
    // shared by the M sub-fits' sample thresholds; nHint lets a caller
    // that already counted the corpus (IvfIndex.build) skip the job
    val n = if (nHint >= 0L) nHint else e.count()
    val fs = fitSample(e, FIT_SAMPLE_PER_K * k, n)
    // bounded sample → all M sub-fits run driver-locally off ONE
    // collect (see kmeansFit): the per-round batched agg job — and its
    // planning round-trip — disappears; slices, folds and decimal
    // means replicate the batched shape bit-for-bit
    localFitSample(e, fs, FIT_SAMPLE_PER_K * k) match {
      case Some(rows) if rows.nonEmpty && rows(0)._2.length == dim =>
        val seeds = rows.sortBy(r => (localSeedHash(r._1), r._1)).take(k)
        var books: Seq[Seq[(Int, Array[Double])]] = (0 until m).map { s =>
          seeds.zipWithIndex.map { case ((_, v), j) =>
            (j, v.slice(s * dSub, (s + 1) * dSub).map(_.toDouble)) }.toSeq
        }
        for (_ <- 1 until iters)
          books = (0 until m).map(s =>
            localLloydRound(rows, books(s), dSub, s * dSub))
        return books
      case _ => ()
    }
    if (fs ne e) Materialize.reuse(fs)
    val seedRows = fs.withColumn("__h", seedHash(col("vec_id")))
      .orderBy(col("__h").asc, col("vec_id").asc).limit(k)
      .select(col("embedding")).collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toArray)
    var books: Seq[Seq[(Int, Array[Double])]] = (0 until m).map { s =>
      seedRows.zipWithIndex.map { case (v, j) =>
        (j, v.slice(s * dSub, (s + 1) * dSub)) }.toSeq
    }
    for (_ <- 1 until iters) {
      val cellCols = (0 until m).map(s =>
        graft.functions.VectorExprs.nearest_centroid(
          col("embedding"), books(s), dSub, s * dSub).as(s"__c$s"))
      val rows = fs
        .select(col("embedding") +: cellCols: _*)
        .select(posexplode(col("embedding")).as(Seq("pos", "x")),
          array((0 until m).map(s => col(s"__c$s")): _*).as("cells"))
        .select(floor(col("pos") / lit(dSub)).cast(IntegerType).as("s"),
          element_at(col("cells"),
            (floor(col("pos") / lit(dSub)) + 1).cast(IntegerType)).as("cell"),
          col("pos").cast(LongType).as("pos"), col("x"))
        .groupBy(col("s"), col("cell"), col("pos"))
        .agg(Det.davg(col("x")).as("c"))
        .collect()
      books = (0 until m).map { s =>
        rows.filter(_.getInt(0) == s)
          .groupBy(_.getLong(1)).toSeq.sortBy(_._1)
          .map { case (cell, rs) =>
            (cell.toInt, rs.sortBy(_.getLong(2))
              .map(_.getDouble(3)).toArray) }
      }
    }
    Materialize.release(fs)
    books
  }

  /** The one-pass PQ ENCODE against FROZEN codebooks: a stateless
    * per-row projection (native codegen'd loops with subspace
    * OFFSETS — no per-row slice arrays), so it runs identically over
    * a batch frame and a streaming frame (append mode, no state). */
  def pqEncode(vecs: DataFrame, codebooks: Seq[Seq[(Int, Array[Double])]],
      dSub: Int): DataFrame = {
    val m = codebooks.size
    val codeCols = (0 until m).map(s =>
      graft.functions.VectorExprs.nearest_centroid(
        col("embedding"), codebooks(s), dSub, s * dSub).as(s"__code$s"))
    vecs.select(col("vec_id") +: codeCols: _*)
      .select(col("vec_id"),
        posexplode(array((0 until m).map(s => col(s"__code$s")): _*))
          .as(Seq("sub", "code")))
      .select(col("vec_id"), col("sub").cast(LongType).as("sub"), col("code"))
  }

  def pqCodes(e: DataFrame, dim: Int, m: Int = PQ_M, k: Int = PQ_K,
      iters: Int = KMEANS_ITERS): DataFrame =
    pqEncode(e, pqCodebooks(e, dim, m, k, iters), dim / m)

  def pqCodesSql(dim: Int, m: Int = PQ_M, k: Int = PQ_K,
      iters: Int = KMEANS_ITERS, table: String = "embeddings",
      leadingCtes: String = "", encodeWhere: String = ""): String = {
    val dSub = dim / m
    val ctes = (0 until m).map { s =>
      kmeansCtesSql(k, iters, prefix = s"s${s}_",
        src = s"SELECT vec_id, embedding[${s * dSub + 1}:${(s + 1) * dSub}] AS embedding FROM $table")
    }
    // encodeWhere restricts the ENCODE output only (v42's streamed
    // slice) — the codebook fits above always train on the full table
    val unions = (0 until m).map { s =>
      s"SELECT vec_id, CAST($s AS BIGINT) AS sub, cell AS code FROM s${s}_assign$iters $encodeWhere"
    }
    val lead = if (leadingCtes.isEmpty) "" else leadingCtes + ",\n"
    s"WITH $lead${ctes.mkString(",\n")}\n${unions.mkString("\nUNION ALL\n")}"
  }

  /** v20's builder: per-subspace PQ quantization distortion — the
    * codebook-quality eval next to v19's recall eval (an index
    * rollout watches both: recall against truth, and SSE drift as
    * the corpus distribution moves). Training reuses the
    * deterministic per-subspace Lloyd fit (tiny driver-collected
    * centers → broadcast literals); the error pass is ONE narrow
    * corpus scan (assign + same-order squared-distance fold), and
    * per-row errors flow through Det decimal so the per-subspace SSE
    * is exact on any partitioning. Output: (sub, n, sse). */
  def pqDistortion(s: SparkSession, dir: String, dim: Int = 64,
      m: Int = PQ_M, k: Int = PQ_K, iters: Int = KMEANS_ITERS): DataFrame =
    pqDistortionOf(
      Tables(s, dir, "embeddings").select(col("vec_id"), col("embedding")),
      dim, m, k, iters)

  /** [[pqDistortion]] on an arbitrary (vec_id, embedding) frame —
    * shared with the rotated variant v24. */
  def pqDistortionOf(e: DataFrame, dim: Int = 64,
      m: Int = PQ_M, k: Int = PQ_K, iters: Int = KMEANS_ITERS): DataFrame = {
    val dSub = dim / m
    val books = pqCodebooks(e, dim, m, k, iters) // batched sub-fits
    val rows = (0 until m).map { sub =>
      val centers = books(sub)
      val code = graft.functions.VectorExprs.nearest_centroid(
        col("embedding"), centers, dSub, sub * dSub)
      // assignment AND its quantization error in two native codegen'd
      // calls over the same subspace window (offset arithmetic, no
      // per-row slices) — the CASE-of-HOF-folds first cut was
      // interpreted per element
      val err = graft.functions.VectorExprs.centroid_dist(
        col("embedding"), code, centers, dSub, sub * dSub)
      struct(lit(sub.toLong).as("sub"), err.as("err"))
    }
    e.select(explode(array(rows: _*)).as("p"))
      .select(col("p.sub"), col("p.err"))
      .groupBy(col("sub"))
      .agg(count(lit(1)).as("n"), Det.dsum(col("err")).as("sse"))
  }

  /** DuckDB mirror of [[pqDistortion]]; `table`/`leadingCtes` let the
    * rotated variant (v24) feed a transformed-embedding CTE. */
  def pqDistortionSql(dim: Int = 64, m: Int = PQ_M, k: Int = PQ_K,
      iters: Int = KMEANS_ITERS, table: String = "embeddings",
      leadingCtes: String = ""): String = {
    val dSub = dim / m
    def d(e: String) = s"CAST($e AS DOUBLE)"
    def distSql(cent: String) = O.dfold(
      s"list_transform(embedding, (kx, ki) -> (${d("kx")} - $cent[ki]) * (${d("kx")} - $cent[ki]))")
    val ctes = (0 until m).map { s =>
      kmeansCtesSql(k, iters, prefix = s"s${s}_",
        src = s"SELECT vec_id, embedding[${s * dSub + 1}:${(s + 1) * dSub}] AS embedding FROM $table")
    }
    val lead = if (leadingCtes.isEmpty) "" else leadingCtes + ",\n"
    val unions = (0 until m).map { s =>
      s"""SELECT CAST($s AS BIGINT) AS sub, ${distSql("c.cent")} AS err
         |FROM s${s}_assign$iters a JOIN s${s}_cent${iters - 1} c ON a.cell = c.cell""".stripMargin
    }
    s"""WITH $lead${ctes.mkString(",\n")},
       |errs AS (${unions.mkString("\nUNION ALL\n")})
       |SELECT sub, CAST(count(*) AS BIGINT) AS n, ${Det.sql.dsum("err")} AS sse
       |FROM errs GROUP BY sub""".stripMargin
  }

  // ── deterministic random rotation (the PQ-paper balancing trick) ──
  // R = P·D: a fixed coprime-stride permutation composed with a
  // deterministic ±1 diagonal (the v17 sign family). Orthogonal by
  // construction, replayed exactly by both engines — the cheap stand-
  // in for OPQ's learned rotation: it decorrelates which ORIGINAL
  // dims land in each PQ subspace, balancing subspace variance.
  val ROT_STRIDE = 37 // coprime with dim 64 ⇒ j → (j·37) mod 64 is a permutation

  /** y[j] = sign(π(j)) · x[π(j)], π(j) = (j·g) mod dim (0-based). */
  def rotateExpr(emb: Column, dim: Int = 64, g: Int = ROT_STRIDE): Column =
    transform(sequence(lit(0), lit(dim - 1)), j => {
      val p = pmod(j * lit(g), lit(dim))
      val x = element_at(emb, (p + lit(1)).cast(org.apache.spark.sql.types.IntegerType))
      when(pmod(p.cast(org.apache.spark.sql.types.LongType) * lit(2654435761L),
        lit(1000003L)) % lit(2L) === 0L, x).otherwise(-x)
    })

  /** DuckDB mirror of [[rotateExpr]]. */
  def rotateSql(emb: String = "embedding", dim: Int = 64,
      g: Int = ROT_STRIDE): String =
    s"""list_transform(range(0, $dim), j ->
       |  CASE WHEN ((((j * $g) % $dim) * 2654435761) % 1000003) % 2 = 0
       |    THEN $emb[((j * $g) % $dim) + 1]
       |    ELSE -$emb[((j * $g) % $dim) + 1] END)""".stripMargin

  /** v01's builder: brute-force cosine top-k for the sampled query
    * panel (vec_id < 5). The tiny QUERY side is broadcast — the
    * candidate side is the 100 TB one; left alone Spark picked
    * BuildRight(candidates). Shared by v01 and v19's truth side. */
  def bruteKnn(s: SparkSession, dir: String, k: Int): DataFrame = {
    val e = Tables(s, dir, "embeddings")
    val q = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val c = e.select(col("vec_id").as("n_id"), col("embedding").as("n_emb"))
    val sims = c.join(broadcast(q), col("q_id") =!= col("n_id"))
      .select(col("q_id"), col("n_id"),
        cosine(col("q_emb"), col("n_emb")).as("sim"))
    topKByMetric(sims, "sim", k, asc = false)
  }

  /** All-pairs brute-force KNN — every vector is a query: the batch
    * ground-truth shape recall evals rank against (v53/v54 use the
    * 5-query slice). The corpus side repartitions to the session's
    * shuffle parallelism before the pairwise cosine: the O(n²·d)
    * compute is the whole cost, and over a single-file scan it would
    * otherwise run on ONE task however many cores the session has
    * (guide §2.5 — unsplittable input, repartition right after the
    * read). That also makes this the bench's core-scaling witness:
    * scan-bound queries on the single-row-group fixtures cannot show
    * core scaling at any setting (r15 scaling block), while this
    * query's compute tracks the granted cores. Partition-independent
    * by construction — top_k_by with deterministic (sim, n_id) order. */
  def bruteKnnAll(s: SparkSession, dir: String, k: Int): DataFrame = {
    val e = Tables(s, dir, "embeddings")
    val q = e.select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val c = e.select(col("vec_id").as("n_id"), col("embedding").as("n_emb"))
      .repartition(s.sessionState.conf.numShufflePartitions)
    val sims = c.join(broadcast(q), col("q_id") =!= col("n_id"))
      .select(col("q_id"), col("n_id"),
        cosine(col("q_emb"), col("n_emb")).as("sim"))
    topKByMetric(sims, "sim", k, asc = false)
  }

  /** DuckDB mirror of [[bruteKnnAll]]. */
  def bruteKnnAllSql(k: Int): String =
    s"""WITH q AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings),
       |c AS (SELECT vec_id AS n_id, embedding AS n_emb FROM embeddings),
       |sims AS (SELECT q_id, n_id, ${cosineSql("q_emb", "n_emb")} AS sim
       |         FROM q JOIN c ON q_id != n_id)
       |SELECT q_id, n_id, sim, rank FROM
       |(SELECT q_id, n_id, sim, CAST(row_number() OVER
       |   (PARTITION BY q_id ORDER BY sim DESC, n_id ASC) AS BIGINT) AS rank
       | FROM sims) WHERE rank <= $k""".stripMargin

  /** DuckDB mirror of [[bruteKnn]]. */
  def bruteKnnSql(k: Int): String =
    s"""WITH q AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings WHERE vec_id < 5),
       |c AS (SELECT vec_id AS n_id, embedding AS n_emb FROM embeddings),
       |sims AS (SELECT q_id, n_id, ${cosineSql("q_emb", "n_emb")} AS sim
       |         FROM q JOIN c ON q_id != n_id)
       |SELECT q_id, n_id, sim, rank FROM
       |(SELECT q_id, n_id, sim, CAST(row_number() OVER
       |   (PARTITION BY q_id ORDER BY sim DESC, n_id ASC) AS BIGINT) AS rank
       | FROM sims) WHERE rank <= $k""".stripMargin

  /** v05's builder: IVF search — every vector assigned to its nearest
    * centroid (tiny broadcast cell table), queries probe ONLY their
    * cell. Deterministic assignment tie-break (csim DESC, label ASC).
    * Shared by v05 and v19's index-under-test side. */
  def ivfSearch(s: SparkSession, dir: String): DataFrame = {
    val e = Tables(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
    val scored = e.crossJoin(broadcast(centroids(s, dir)))
      .select(col("vec_id"), col("embedding"), col("label"),
        cosine(col("centroid"), col("embedding")).as("csim"))
    val wa = Window.partitionBy(col("vec_id"))
      .orderBy(col("csim").desc, col("label").asc)
    val assigned = scored.withColumn("rk", row_number().over(wa))
      .filter(col("rk") === 1)
      .select(col("vec_id"), col("embedding"), col("label").as("cell"))
    val qs = assigned.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"), col("cell"))
    val sims = assigned
      .select(col("vec_id").as("n_id"), col("embedding").as("n_emb"), col("cell"))
      .join(broadcast(qs), "cell")
      .filter(col("q_id") =!= col("n_id"))
      .select(col("q_id"), col("n_id"), cosine(col("q_emb"), col("n_emb")).as("sim"))
    topKByMetric(sims, "sim", 5, asc = false)
  }

  /** v21's builder: assign a new hash-split batch (vec_id % 7 == 3)
    * to the nearest centroid of the index built from the REST of the
    * corpus — the incremental-ingest path. Emits (vec_id, cell, csim)
    * with the v05 tie-break (csim DESC, cell ASC). */
  def ivfUpsert(s: SparkSession, dir: String): DataFrame = {
    val e = Tables(s, dir, "embeddings")
    val batch = e.filter(col("vec_id") % 7 === 3)
      .select(col("vec_id"), col("embedding"))
    val scored = batch.crossJoin(broadcast(upsertCentroidTable(s, dir)))
      .select(col("vec_id"), col("label"),
        cosine(col("centroid"), col("embedding")).as("csim"))
    val wa = Window.partitionBy(col("vec_id"))
      .orderBy(col("csim").desc, col("label").asc)
    scored.withColumn("rk", row_number().over(wa))
      .filter(col("rk") === 1)
      .select(col("vec_id"), col("label").as("cell"), col("csim"))
  }

  /** The FROZEN index side of [[ivfUpsert]]: per-label mean centroids
    * over the existing corpus (vec_id % 7 != 3) — (label, centroid)
    * rows, k of them. Shared by the batch upsert and the streaming
    * ingest twin (StreamingOps.ivfAssign collects these k·d doubles
    * and re-broadcasts them as literals, preserving every bit). */
  def upsertCentroidTable(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "embeddings")
      .filter(col("vec_id") % 7 =!= 3)
      .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "x")))
      .select(col("label"), col("pos").cast(LongType).as("pos"), col("x"))
      .groupBy(col("label"), col("pos"))
      .agg(Det.davg(col("x")).as("c"))
      .groupBy(col("label"))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("c")))),
        x => x.getField("c")).as("centroid"))

  /** [[upsertCentroidTable]] collected to driver values: (label,
    * centroid) pairs, k·d doubles — the "frozen index" a streaming
    * ingest job ships to executors as literals. */
  def collectUpsertCentroids(s: SparkSession, dir: String): Seq[(Int, Seq[Double])] =
    upsertCentroidTable(s, dir).collect().toSeq
      .map(r => (r.getAs[Int]("label"), r.getSeq[Double](1)))
      .sortBy(_._1)

  /** DuckDB mirror of [[ivfUpsert]] (same via-DOUBLE decimal cast
    * discipline as centroidRowsSql). */
  def ivfUpsertSql: String =
    s"""WITH cr AS (SELECT label, pos, ${Det.sql.davg("CAST(x AS DOUBLE)")} AS c FROM (
       |    SELECT label, unnest(embedding) AS x,
       |           unnest(range(len(embedding))) AS pos
       |    FROM embeddings WHERE vec_id % 7 != 3)
       |  GROUP BY label, pos),
       |cents AS (SELECT label, list(c ORDER BY pos) AS centroid FROM cr GROUP BY label),
       |scored AS (SELECT b.vec_id, c.label,
       |  ${cosineSql("c.centroid", "b.embedding")} AS csim
       |  FROM (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 7 = 3) b
       |  CROSS JOIN cents c)
       |SELECT vec_id, label AS cell, csim FROM (SELECT *,
       |  row_number() OVER (PARTITION BY vec_id
       |    ORDER BY csim DESC, label ASC) AS rk FROM scored)
       |WHERE rk = 1""".stripMargin

  /** DuckDB mirror of [[ivfSearch]]. */
  def ivfSearchSql: String =
    s"""WITH cents AS ($centroidsSql),
       |scored AS (SELECT e.vec_id, e.embedding, c.label,
       |  ${cosineSql("c.centroid", "e.embedding")} AS csim
       |  FROM embeddings e CROSS JOIN cents c),
       |assigned AS (SELECT vec_id, embedding, label AS cell FROM
       |  (SELECT *, row_number() OVER (PARTITION BY vec_id
       |     ORDER BY csim DESC, label ASC) AS rk FROM scored)
       |  WHERE rk = 1),
       |sims AS (SELECT q.vec_id AS q_id, n.vec_id AS n_id,
       |  ${cosineSql("q.embedding", "n.embedding")} AS sim
       |  FROM assigned n JOIN assigned q ON n.cell = q.cell AND q.vec_id != n.vec_id
       |  WHERE q.vec_id < 5)
       |SELECT q_id, n_id, sim, rank FROM (SELECT q_id, n_id, sim,
       |  CAST(row_number() OVER (PARTITION BY q_id
       |    ORDER BY sim DESC, n_id ASC) AS BIGINT) AS rank FROM sims)
       |WHERE rank <= 5""".stripMargin

  val all: Seq[Q] = Seq(

    Q("v01_knn_brute",
      (s, dir) => bruteKnn(s, dir, 10),
      Some(bruteKnnSql(10)),
      bench = true),

    Q("v02_lsh_buckets",
      (s, dir) => Tables(s, dir, "embeddings")
        .select(col("vec_id"), lshBucket(col("embedding")).as("bucket")),
      Some(s"""SELECT vec_id, ${lshBucketSql("embedding")} AS bucket
              |FROM embeddings""".stripMargin)),

    // Scale path: banded OR-amplified LSH — BANDS keys of PLANES
    // sign bits each; a pair is a candidate if ANY band collides.
    // Shuffles are keyed by (band, bkey) and candidate pairs are
    // deduped as bare id pairs BEFORE the cosine (so a pair
    // colliding in several bands is verified once, and the dedup
    // shuffle carries ids, not embeddings). Never an n² cross join.
    // The builder [[annTopk]] is shared with the dialect `similar`
    // statement (s26 — plan identity pinned in PlanSpec).
    Q("v03_ann_bucketed",
      (s, dir) => annTopk(
        Tables(s, dir, "embeddings").select(col("vec_id"), col("embedding")), 5),
      Some(annTopkOracle(5))),

    // IVF coarse quantizer: the data-derived cell table (vs v02/v03's
    // data-independent hyperplanes). At 100 TB the centroid pass is a
    // (label, dim)-keyed aggregation — k·d rows out, no matter the
    // corpus size. Gated as (label, pos, c) scalar rows — the driver's
    // comparator can't sort array columns; v05 regroups internally.
    Q("v04_ivf_centroids",
      (s, dir) => centroidRows(s, dir),
      Some(centroidRowsSql)),

    // True unsupervised IVF: Lloyd's k-means on the unlabeled corpus —
    // deterministic hash seeds, 3 fixed iterations, centers shipped as
    // broadcast literals each pass (never a corpus shuffle by center).
    Q("v06_kmeans_centroids",
      (s, dir) => kmeansCentroidRows(s, dir),
      Some(kmeansCentroidRowsSql())),

    // IVF search: every vector assigned to its nearest centroid (tiny
    // broadcast cell table), then queries probe ONLY their cell.
    // Deterministic assignment tie-break (csim DESC, label ASC).
    Q("v05_ivf_search",
      (s, dir) => ivfSearch(s, dir),
      Some(ivfSearchSql)),

    // ANN quality eval: recall@5 of the IVF index (v05) against the
    // exact brute-force truth (v01's builder at k=5) — the evaluation
    // harness an index rollout needs (d13 is the same idea for LSH
    // dedup). Integer output (hits, k) per query keeps the gate
    // ulp-proof; recall = hits/k downstream. Scale: truth is only
    // computed for the SAMPLED query set (here vec_id < 5; at 100 TB
    // a hash-sampled panel), so the brute side stays a
    // broadcast-queries scan, never n².
    Q("v19_ann_recall",
      (s, dir) => {
        val truth = bruteKnn(s, dir, 5).select(col("q_id"), col("n_id"))
        val ivf = ivfSearch(s, dir).select(col("q_id"), col("n_id"))
        val hits = truth.join(ivf, Seq("q_id", "n_id"))
          .groupBy(col("q_id")).agg(count(lit(1)).as("hits"))
        truth.groupBy(col("q_id")).agg(count(lit(1)).as("k"))
          .join(hits, Seq("q_id"), "left")
          .select(col("q_id"), coalesce(col("hits"), lit(0L)).as("hits"),
            col("k"))
      },
      Some(s"""WITH truth AS (SELECT q_id, n_id FROM (${bruteKnnSql(5)})),
              |ivf AS (SELECT q_id, n_id FROM ($ivfSearchSql)),
              |h AS (SELECT truth.q_id, count(*) AS hits
              |      FROM truth JOIN ivf ON truth.q_id = ivf.q_id
              |                         AND truth.n_id = ivf.n_id
              |      GROUP BY truth.q_id)
              |SELECT t.q_id, CAST(coalesce(h.hits, 0) AS BIGINT) AS hits,
              |  CAST(count(*) AS BIGINT) AS k
              |FROM truth t LEFT JOIN h ON t.q_id = h.q_id
              |GROUP BY t.q_id, h.hits""".stripMargin)),

    // PQ codebook distortion eval — see [[pqDistortion]].
    Q("v20_pq_distortion",
      (s, dir) => pqDistortion(s, dir),
      Some(pqDistortionSql())),

    // Incremental index maintenance: the UPSERT path of the quality
    // loop (build v05 → recall v19 → distortion v20). A batch of new
    // vectors (hash-split vec_id % 7 == 3 — deterministic, replayable)
    // arrives against the FROZEN index built from the rest of the
    // corpus: centroids aggregate over the indexed side only, then
    // batch vectors score against the broadcast centroid table and
    // take their argmax cell. At 100 TB the indexed corpus is never
    // reshuffled — one (label, pos)-keyed agg builds k·d doubles, the
    // batch-side pass is scan × broadcast — so daily ingest costs
    // O(batch), not O(corpus).
    Q("v21_ivf_upsert",
      (s, dir) => ivfUpsert(s, dir),
      Some(ivfUpsertSql)),

    // Clustering-quality eval — the k-means twin of v19 (ANN recall)
    // and v20 (PQ distortion), closing the cluster lifecycle: per-cell
    // member count + within-cluster SSE (inertia) against the centers
    // the assignment actually used. Per-row distance to the assigned
    // broadcast-literal center (a cell-keyed CASE over k codegen'd
    // folds — no join, no extra pass), then ONE k-row aggregate; the
    // per-row doubles land in the Det decimal sum, so the gate is
    // partition-count independent and hash-exact cross-engine.
    Q("v22_kmeans_inertia",
      (s, dir) => kmeansInertia(
        Tables(s, dir, "embeddings").select(col("vec_id"), col("embedding"))),
      Some(kmeansInertiaSql())),

    // Rotation-balanced PQ distortion (the OPQ-motivation variant of
    // v20): a fixed orthogonal rotation — coprime-stride permutation
    // × deterministic ±1 diagonal, the PQ paper's random-rotation
    // balancing trick — is applied per row (narrow, zero exchanges)
    // BEFORE the per-subspace Lloyd fit, decorrelating which original
    // dims share a PQ subspace. Same gate shape as v20 ((sub, n,
    // sse)); comparing the two SSE columns is the codebook-balance
    // eval an index rollout runs when choosing a transform.
    Q("v24_pq_rotated",
      (s, dir) => pqDistortionOf(
        Tables(s, dir, "embeddings").select(col("vec_id"),
          rotateExpr(col("embedding")).as("embedding"))),
      Some(pqDistortionSql(table = "rot",
        leadingCtes = s"rot AS (SELECT vec_id, ${rotateSql()} AS embedding FROM embeddings)"))),

    // Cluster-balanced panel sampling: the same number of vectors
    // from EVERY k-means cell (the smallest cell's size), selected by
    // the deterministic hash order — the semantic-diversity sampler a
    // curated eval panel or a balanced fine-tune set wants (uniform
    // sampling over-draws the dominant mode; per-cell quotas flatten
    // it). One cell exchange for the per-cell ranking window, the
    // quota rides in on a broadcast 1-row min; never RNG, so the
    // panel is bit-reproducible on any cluster.
    Q("v23_balanced_sample",
      (s, dir) => balancedSample(
        Tables(s, dir, "embeddings").select(col("vec_id"), col("embedding"))),
      Some(balancedSampleSql())),

    // Multi-probe IVF: queries probe their top-2 nearest cells instead
    // of one. A query near a cell boundary has near-neighbors on the
    // far side of the boundary; probing the runner-up cell recovers
    // them (IvfRecallSpec asserts recall ≥ single-probe vs the v01
    // exact baseline). Cost scales linearly in probes — still a tiny
    // broadcast of (query, cell) rows against the cell-partitioned
    // corpus, never a widening of the corpus side.
    Q("v07_ivf_multiprobe",
      (s, dir) => {
        val e = Tables(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
        val scored = e.crossJoin(broadcast(centroids(s, dir)))
          .select(col("vec_id"), col("embedding"), col("label"),
            cosine(col("centroid"), col("embedding")).as("csim"))
        val wa = Window.partitionBy(col("vec_id"))
          .orderBy(col("csim").desc, col("label").asc)
        val ranked = scored.withColumn("rk", row_number().over(wa))
        val assigned = ranked.filter(col("rk") === 1)
          .select(col("vec_id"), col("embedding"), col("label").as("cell"))
        // each query appears once per probed cell; a neighbor lives in
        // exactly one cell, so (q,n) pairs are already unique
        val qs = ranked.filter(col("vec_id") < 5 && col("rk") <= 2)
          .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
            col("label").as("cell"))
        val sims = assigned
          .select(col("vec_id").as("n_id"), col("embedding").as("n_emb"), col("cell"))
          .join(broadcast(qs), "cell")
          .filter(col("q_id") =!= col("n_id"))
          .select(col("q_id"), col("n_id"), cosine(col("q_emb"), col("n_emb")).as("sim"))
        val wr = Window.partitionBy(col("q_id"))
          .orderBy(col("sim").desc, col("n_id").asc)
        sims.withColumn("rank", row_number().over(wr).cast(LongType))
          .filter(col("rank") <= 5)
      },
      Some(s"""WITH cents AS ($centroidsSql),
              |scored AS (SELECT e.vec_id, e.embedding, c.label,
              |  ${cosineSql("c.centroid", "e.embedding")} AS csim
              |  FROM embeddings e CROSS JOIN cents c),
              |ranked AS (SELECT *, row_number() OVER (PARTITION BY vec_id
              |    ORDER BY csim DESC, label ASC) AS rk FROM scored),
              |assigned AS (SELECT vec_id, embedding, label AS cell FROM ranked WHERE rk = 1),
              |qs AS (SELECT vec_id AS q_id, embedding AS q_emb, label AS cell
              |       FROM ranked WHERE rk <= 2 AND vec_id < 5),
              |sims AS (SELECT q.q_id, n.vec_id AS n_id,
              |  ${cosineSql("q.q_emb", "n.embedding")} AS sim
              |  FROM assigned n JOIN qs q ON n.cell = q.cell AND q.q_id != n.vec_id)
              |SELECT q_id, n_id, sim, rank FROM (SELECT q_id, n_id, sim,
              |  CAST(row_number() OVER (PARTITION BY q_id
              |    ORDER BY sim DESC, n_id ASC) AS BIGINT) AS rank FROM sims)
              |WHERE rank <= 5""".stripMargin)),

    // Embedding-space decontamination — the vector analog of t09's
    // shingle decontam: flag every training vector whose MAX cosine
    // against the (tiny, BROADCAST) benchmark set crosses the
    // threshold. The benchmark side broadcasts exactly like t09's
    // shingle table and v01's query side, so at 100 TB the train side
    // streams through one narrow pass plus a keyed max-aggregation;
    // max of bit-identical doubles is order-insensitive, so the flag
    // is deterministic (no Det needed).
    Q("v08_embed_decontam",
      (s, dir) => {
        val e = Tables(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
        val bench = e.filter(col("vec_id") < 50)
          .select(col("vec_id").as("b_id"), col("embedding").as("b_emb"))
        e.filter(col("vec_id") >= 50)
          .join(broadcast(bench))
          .select(col("vec_id"), cosine(col("embedding"), col("b_emb")).as("sim"))
          .groupBy(col("vec_id"))
          .agg(max(col("sim")).as("msim"))
          .select(col("vec_id"), col("msim"),
            when(col("msim") > 0.3, lit(1L)).otherwise(lit(0L)).as("contaminated"))
      },
      Some(s"""WITH bench AS (SELECT vec_id AS b_id, embedding AS b_emb
              |              FROM embeddings WHERE vec_id < 50),
              |m AS (SELECT e.vec_id, max(${cosineSql("e.embedding", "b.b_emb")}) AS msim
              |      FROM embeddings e CROSS JOIN bench b
              |      WHERE e.vec_id >= 50 GROUP BY e.vec_id)
              |SELECT vec_id, msim,
              |  CAST(CASE WHEN msim > 0.3 THEN 1 ELSE 0 END AS BIGINT) AS contaminated
              |FROM m""".stripMargin)),

    // Product quantization codes — every vector's M per-subspace cell
    // assignments. The oracle unrolls M independent Lloyd loops over
    // the list slices (kmeansCtesSql prefix/src parameters), so fit AND
    // encode are both hash-gated end to end.
    Q("v09_pq_codes",
      (s, dir) => pqCodes(
        Tables(s, dir, "embeddings").select(col("vec_id"), col("embedding")),
        dim = 64),
      Some(pqCodesSql(dim = 64))),

    // PQ asymmetric-distance (ADC) top-k search: the database side is
    // ONLY codes (M small ints per vector — the compressed form that
    // fits 100 TB of vectors in RAM); each query's distance to a
    // database vector is the sum of its per-subspace distances to the
    // centers the codes name. The query side (tiny) is broadcast; the
    // per-code center distances are literal when-chains, so the scan
    // side never touches raw database vectors. Codes and centers both
    // come from the same deterministic fit v09 gates; the oracle
    // recomputes ADC from the unrolled loops' cent/assign CTEs.
    Q("v10_pq_adc_topk",
      (s, dir) => {
        topKByMetric(pqAdcScores(s, dir), "adc", 10, asc = true)
      },
      Some(s"""WITH ${pqAdcScoresSql()}
              |SELECT q_id, n_id, adc, rank FROM
              |(SELECT q_id, n_id, adc, CAST(row_number() OVER
              |   (PARTITION BY q_id ORDER BY adc ASC, n_id ASC) AS BIGINT) AS rank
              | FROM sc) WHERE rank <= 10""".stripMargin)),

    // PQ search, production two-stage form: ADC shortlists SHORTK
    // candidates from codes alone, then ONLY the shortlist's raw
    // vectors are gathered (a keyed join — |q|·SHORTK rows, independent
    // of corpus size) and re-ranked by exact L2. Quantization error
    // decides the shortlist, never the final order — recall jumps from
    // ~0.3 (pure ADC on this weakly-clustered data) to ~0.8 (PqSpec).
    Q("v11_pq_rerank",
      (s, dir) => {
        val e = Tables(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
        val short = topKByMetric(pqAdcScores(s, dir), "adc", 50, asc = true)
          .select(col("q_id"), col("n_id"))
        val l2 = fold(zip_with(col("q_emb"), col("n_emb"), (x, y) =>
          (x.cast(DoubleType) - y.cast(DoubleType)) *
            (x.cast(DoubleType) - y.cast(DoubleType))))
        val rer = short
          .join(e.select(col("vec_id").as("n_id"), col("embedding").as("n_emb")), "n_id")
          .join(broadcast(e.filter(col("vec_id") < 5)
            .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))), "q_id")
          .select(col("q_id"), col("n_id"), l2.as("l2"))
        topKByMetric(rer, "l2", 10, asc = true)
      },
      Some {
        val exact = O.dfold(
          """list_transform(q.q_emb, (kx, ki) ->
            | (CAST(kx AS DOUBLE) - CAST(n.n_emb[ki] AS DOUBLE))
            | * (CAST(kx AS DOUBLE) - CAST(n.n_emb[ki] AS DOUBLE)))""".stripMargin)
        s"""WITH ${pqAdcScoresSql()},
           |short AS (SELECT q_id, n_id FROM
           |  (SELECT q_id, n_id, row_number() OVER
           |     (PARTITION BY q_id ORDER BY adc ASC, n_id ASC) AS srk FROM sc)
           |  WHERE srk <= 50),
           |rer AS (SELECT short.q_id, short.n_id, $exact AS l2 FROM short
           |  JOIN (SELECT vec_id AS n_id, embedding AS n_emb FROM embeddings) n USING (n_id)
           |  JOIN (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings WHERE vec_id < 5) q USING (q_id))
           |SELECT q_id, n_id, l2, rank FROM
           |(SELECT q_id, n_id, l2, CAST(row_number() OVER
           |   (PARTITION BY q_id ORDER BY l2 ASC, n_id ASC) AS BIGINT) AS rank
           | FROM rer) WHERE rank <= 10""".stripMargin
      }),

    // IVF-PQ: the canonical billion-scale ANN index layout — coarse
    // cell (the inverted list id) + M PQ codes over the RESIDUAL
    // (vector − cell centroid). Residual energy ≪ vector energy, so
    // the same code budget quantizes finer. Entirely composed from the
    // gated Lloyd + PQ machinery; the oracle chains coarse loop →
    // residual CTE → M residual-PQ loops, so routing, residuals, and
    // codes are all hash-gated together.
    Q("v12_ivfpq_codes",
      (s, dir) => ivfPqCodes(Tables(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding")), dim = 64),
      Some(ivfPqCodesSql(dim = 64))),

    // IVF-PQ search: queries probe their top-2 coarse cells (v07's
    // multi-probe recall trick), the query RESIDUAL against each
    // probed cell's centroid is formed once per probe, and ADC runs
    // against only the codes stored in those cells — the scan side
    // touches codes, never raw vectors, and only ~nprobe/K of them.
    // This is the full billion-scale search path (route → residual →
    // ADC) with every stage hash-gated.
    Q("v13_ivfpq_search",
      (s, dir) => {
        topKByMetric(ivfPqAdcScores(Tables(s, dir, "embeddings")
          .select(col("vec_id"), col("embedding"))), "adc", 10, asc = true)
      },
      Some(s"""WITH ${ivfPqSearchCtes()}
              |SELECT q_id, n_id, adc, rank FROM
              |(SELECT q_id, n_id, adc, CAST(row_number() OVER
              |   (PARTITION BY q_id ORDER BY adc ASC, n_id ASC) AS BIGINT) AS rank
              | FROM sc) WHERE rank <= 10""".stripMargin)),

    // IVF-PQ two-stage search — the rerank pattern (v11/v31/v32)
    // composed over the FULL billion-scale index (v13): route →
    // residual-ADC shortlist (top-20 from codes in the probed cells
    // only) → gather raw vectors for the ~20·q shortlist rows
    // (broadcast — the r9 discipline from day one) → exact-cosine
    // re-rank to the final top-5. This is the complete production
    // serving path: the corpus is resident as cell+codes (≈17 bytes a
    // vector), raw floats are touched only by the bounded gather.
    // R9OpsSpec pins recall dominance over raw v13 cut to 5.
    Q("v33_ivfpq_rerank",
      (s, dir) => ivfPqRerank(
        Tables(s, dir, "embeddings").select(col("vec_id"), col("embedding")),
        shortlist = 20, k = 5),
      Some(s"""WITH ${ivfPqSearchCtes()},
              |short AS (SELECT q_id, n_id FROM
              |  (SELECT q_id, n_id, row_number() OVER
              |     (PARTITION BY q_id ORDER BY adc ASC, n_id ASC) AS srk FROM sc)
              |  WHERE srk <= 20),
              |qv AS (SELECT vec_id AS q_id, embedding AS q_emb
              |       FROM embeddings WHERE vec_id < 5),
              |rr AS (SELECT s.q_id, s.n_id,
              |  ${cosineSql("qv.q_emb", "n.embedding")} AS sim
              |  FROM short s JOIN embeddings n ON s.n_id = n.vec_id
              |  JOIN qv ON s.q_id = qv.q_id)
              |SELECT q_id, n_id, sim, rank FROM
              |(SELECT q_id, n_id, sim, CAST(row_number() OVER
              |   (PARTITION BY q_id ORDER BY sim DESC, n_id ASC) AS BIGINT) AS rank
              | FROM rr) WHERE rank <= 5""".stripMargin),
      bench = true),

    // Int8 scalar quantization (SQ) — the simplest 4× vector
    // compression: per-DIMENSION min/max over the corpus define 256
    // uniform levels, each float becomes one byte. Complements PQ:
    // SQ is a narrow two-pass (d-row stats table broadcast back, one
    // encode pass), no training loop. The gate hashes the codes (as a
    // per-vector sum — 64 bounded ints fold into one exact BIGINT)
    // plus the reconstruction MSE against mid-rise dequantization; a
    // one-level shift in any code of any vector moves sum_code and
    // the gate goes red. Constant dims (hi = lo) encode as 0 on both
    // engines. All arithmetic is the same IEEE double chain.
    Q("v14_sq_codes",
      (s, dir) => sqCodes(Tables(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding"))),
      Some(s"""WITH $sqEncSql
              |SELECT vec_id, CAST(sum(code) AS BIGINT) AS sum_code,
              |  CAST(SUM(CAST(
              |    (x - (lo + (CAST(code AS DOUBLE) + 0.5) * ((hi - lo) / 256.0))) *
              |    (x - (lo + (CAST(code AS DOUBLE) + 0.5) * ((hi - lo) / 256.0)))
              |  AS DECIMAL(38,6))) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS mse
              |FROM enc GROUP BY vec_id""".stripMargin)),

    // SQ asymmetric search — v14's codes put to work, completing the
    // SQ family the way v10 completes PQ: the database side is ONLY
    // the dequantized byte codes (4× smaller residency), queries stay
    // raw, distance is exact-query-vs-reconstructed L2. Scale: the
    // corpus reconstructs narrowly (bounded 64-element per-vec
    // collect), the 5-query side broadcasts, and the per-pair fold is
    // the same order-faithful left fold the oracle's dfold mirrors —
    // bit-identical doubles, so even the RANKING hash-matches.
    Q("v16_sq_search",
      (s, dir) => {
        val enc = sqEnc(Tables(s, dir, "embeddings")
          .select(col("vec_id"), col("embedding")))
        val recon = enc.filter(col("vec_id") >= 5)
          .groupBy(col("vec_id"))
          .agg(array_sort(collect_list(struct(col("pos"), col("deq")))).as("ps"))
          .select(col("vec_id").as("n_id"),
            transform(col("ps"), p => p.getField("deq")).as("de"))
        val q = Tables(s, dir, "embeddings").filter(col("vec_id") < 5)
          .select(col("vec_id").as("q_id"), col("embedding").as("qe"))
        val adc = aggregate(
          zip_with(col("qe"), col("de"),
            (a, b) => (a.cast(DoubleType) - b) * (a.cast(DoubleType) - b)),
          lit(0.0), (acc, v) => acc + v)
        topKByMetric(recon.join(broadcast(q))
          .select(col("q_id"), col("n_id"), adc.as("adc")), "adc", 10, asc = true)
      },
      Some {
        val sq = O.dfold(
          """list_transform(qe, (vx, vi) ->
            | (CAST(vx AS DOUBLE) - de[vi]) * (CAST(vx AS DOUBLE) - de[vi]))""".stripMargin)
        s"""WITH $sqEncSql,
           |recon AS (SELECT vec_id AS n_id,
           |  list(lo + (CAST(code AS DOUBLE) + 0.5) * ((hi - lo) / 256.0)
           |       ORDER BY pos) AS de
           |  FROM enc WHERE vec_id >= 5 GROUP BY vec_id),
           |q AS (SELECT vec_id AS q_id, embedding AS qe FROM embeddings
           |      WHERE vec_id < 5),
           |sc AS (SELECT q_id, n_id, $sq AS adc FROM recon CROSS JOIN q)
           |SELECT q_id, n_id, adc, rank FROM
           |(SELECT q_id, n_id, adc, CAST(row_number() OVER
           |   (PARTITION BY q_id ORDER BY adc ASC, n_id ASC) AS BIGINT) AS rank
           | FROM sc) WHERE rank <= 10""".stripMargin
      }),

    // Embedding preprocessing: mean-center against the corpus
    // centroid, then L2-normalize — the standard prep before any
    // cosine ANN (centering removes the hubness-inducing common
    // component; unit norm turns cosine into dot). Scale: per-dim
    // means are one d-row agg broadcast back; centering/norming is
    // narrow; the only corpus exchange is the per-vec agg. Gate:
    // the norm BEFORE scaling, the decimal-summed normalized
    // coordinates, and a unit-norm residual bound — all through the
    // same IEEE chain (sqrt is correctly rounded, so l2 is
    // bit-identical from the identical decimal sum).
    Q("v15_embed_normalize",
      (s, dir) => embedNormalize(Tables(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding"))),
      Some(s"""WITH dims AS (SELECT vec_id,
              |    CAST(unnest(embedding) AS DOUBLE) AS x,
              |    unnest(range(len(embedding))) AS pos FROM embeddings),
              |means AS (SELECT pos, ${graft.core.Det.sql.davg("x")} AS mu
              |          FROM dims GROUP BY pos),
              |cent AS (SELECT vec_id, x - mu AS c FROM dims JOIN means USING (pos))
              |SELECT vec_id,
              |  sqrt(CAST(SUM(CAST(c * c AS DECIMAL(38,6))) AS DOUBLE)) AS l2,
              |  CAST(SUM(CAST(c AS DECIMAL(38,6))) AS DOUBLE)
              |    / sqrt(CAST(SUM(CAST(c * c AS DECIMAL(38,6))) AS DOUBLE)) AS sum_unit,
              |  sqrt(CAST(SUM(CAST(c * c AS DECIMAL(38,6))) AS DOUBLE)) > 0.0 AS norm_ok
              |FROM cent GROUP BY vec_id""".stripMargin)),

    // Johnson–Lindenstrauss dimensionality reduction (Achlioptas 2003's
    // ±1 "database-friendly" form): project 64-d float embeddings to
    // RP_OUT dims through a deterministic sign matrix drawn from the
    // same integer plane family the LSH buckets use, scaled by
    // 1/√RP_OUT. ONE narrow codegen'd pass per row (native expression —
    // all 16 outputs in a single loop over the 64 inputs), no shuffle,
    // no state: the standard pre-step that makes downstream ANN /
    // clustering 4× cheaper per distance at a bounded distortion. Each
    // output is a fixed-order left fold + one division, so the oracle's
    // list_reduce mirror is bit-identical (RandomProjectSpec pins the
    // HOF equivalence and the JL distortion bound).
    Q("v17_random_projection",
      (s, dir) => randomProjection(Tables(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding"))),
      Some {
        def d(e: String) = s"CAST($e AS DOUBLE)"
        val cols = (0 until RP_OUT).map { j =>
          val term =
            s"""CASE WHEN ((($j * 64 + (pi - 1)) * 2654435761) % 1000003) % 2 = 0
               | THEN ${d("px")} ELSE -${d("px")} END""".stripMargin
          val f = O.dfold(s"list_transform(embedding, (px, pi) -> $term)")
          s"$f / sqrt(CAST($RP_OUT AS DOUBLE)) AS p$j"
        }.mkString(",\n")
        s"SELECT vec_id,\n$cols\nFROM embeddings"
      }),

    // Maximum-inner-product top-k (the retrieval scoring for UNnormal-
    // ized embeddings — recommender/two-tower scores where magnitude
    // carries information, the case v01's cosine divides away). Same
    // broadcast-query brute-force shape as v01: candidates stream
    // once, queries broadcast, WindowGroupLimit prunes to k per query
    // before the final sort. The dot product is the order-fixed
    // left-fold both engines replay element-by-element, so even the
    // ranking hash-matches.
    Q("v18_mips_topk",
      (s, dir) => mipsTopk(Tables(s, dir, "embeddings")),
      Some {
        def d(e: String) = s"CAST($e AS DOUBLE)"
        val ip = O.dfold(
          s"list_transform(q_emb, (zx, zi) -> ${d("zx")} * ${d("n_emb[zi]")})")
        s"""WITH q AS (SELECT vec_id AS q_id, embedding AS q_emb
           |           FROM embeddings WHERE vec_id < 5),
           |c AS (SELECT vec_id AS n_id, embedding AS n_emb FROM embeddings),
           |scores AS (SELECT q_id, n_id, $ip AS ip
           |           FROM q JOIN c ON q_id != n_id)
           |SELECT q_id, n_id, ip, rank FROM
           |(SELECT q_id, n_id, ip, CAST(row_number() OVER
           |   (PARTITION BY q_id ORDER BY ip DESC, n_id ASC) AS BIGINT) AS rank
           | FROM scores) WHERE rank <= 10""".stripMargin
      }),

    // Binary (sign-bit) quantization — the 1-bit-per-dim rung below
    // SQ's 8 bits (v14) and PQ's ~4 (v09): code bit i = sign of dim i,
    // packed as two 32-dim halves folded MSB-first into BIGINTs (a
    // 64-dim vector becomes 8 bytes — 32× smaller than the float32
    // row). Pure per-row fold, zero exchanges; the halves keep every
    // value < 2^32 so neither engine touches the BIGINT sign bit.
    Q("v25_binary_codes",
      (s, dir) => binaryCodes(
        Tables(s, dir, "embeddings").select(col("vec_id"), col("embedding"))),
      Some(binaryCodesOracle)),

    // Hamming-distance top-k over the v25 codes — the CODES-ONLY
    // search pass of binary quantization: the corpus side scans 16
    // bytes per vector (two BIGINTs), distance is two XOR+popcount
    // instructions, and the query panel broadcasts exactly like v01.
    // Integer distances make the gate ulp-proof; ties (Hamming is
    // coarse: 0..64) break on n_id, the same total order both
    // engines replay. WindowGroupLimit prunes to k per query
    // pre-shuffle, as in v01/v18.
    Q("v26_hamming_topk",
      (s, dir) => hammingTopk(
        Tables(s, dir, "embeddings").select(col("vec_id"), col("embedding")), 10),
      Some(s"""WITH codes AS (SELECT vec_id, ${binaryCodeSql(0, 32)} AS lo,
              |  ${binaryCodeSql(32, 32)} AS hi FROM embeddings),
              |q AS (SELECT vec_id AS q_id, lo AS q_lo, hi AS q_hi
              |      FROM codes WHERE vec_id < 5),
              |sims AS (SELECT q_id, vec_id AS n_id,
              |  CAST(bit_count(xor(lo, q_lo)) + bit_count(xor(hi, q_hi)) AS BIGINT) AS hamming
              |  FROM codes JOIN q ON q_id != vec_id)
              |SELECT q_id, n_id, hamming, rank FROM
              |(SELECT q_id, n_id, hamming, CAST(row_number() OVER
              |   (PARTITION BY q_id ORDER BY hamming ASC, n_id ASC) AS BIGINT) AS rank
              | FROM sims) WHERE rank <= 10""".stripMargin)),

    // Matryoshka truncation eval — recall@5 of PREFIX-dim cosine
    // search (first 16 of 64 dims, the matryoshka-embedding deploy
    // trick: truncate, don't retrain) against the full-dim exact
    // truth. v19's gate shape (integer hits/k per panel query); the
    // truncated side reads a 4× narrower vector but runs the same
    // broadcast-panel scan, so the eval costs one corpus pass.
    Q("v27_matryoshka_recall",
      (s, dir) => {
        val e = Tables(s, dir, "embeddings")
        val truth = bruteKnn(s, dir, 5).select(col("q_id"), col("n_id"))
        val qt = e.filter(col("vec_id") < 5)
          .select(col("vec_id").as("q_id"), slice(col("embedding"), 1, 16).as("q_emb"))
        val ct = e.select(col("vec_id").as("n_id"), slice(col("embedding"), 1, 16).as("n_emb"))
        val sims = ct.join(broadcast(qt), col("q_id") =!= col("n_id"))
          .select(col("q_id"), col("n_id"),
            cosine(col("q_emb"), col("n_emb")).as("sim"))
        val w = Window.partitionBy(col("q_id"))
          .orderBy(col("sim").desc, col("n_id").asc)
        val trunc = sims.withColumn("rank", row_number().over(w))
          .filter(col("rank") <= 5).select(col("q_id"), col("n_id"))
        val hits = truth.join(trunc, Seq("q_id", "n_id"))
          .groupBy(col("q_id")).agg(count(lit(1)).as("hits"))
        truth.groupBy(col("q_id")).agg(count(lit(1)).as("k"))
          .join(hits, Seq("q_id"), "left")
          .select(col("q_id"), coalesce(col("hits"), lit(0L)).as("hits"),
            col("k"))
      },
      Some(s"""WITH truth AS (SELECT q_id, n_id FROM (${bruteKnnSql(5)})),
              |qt AS (SELECT vec_id AS q_id, embedding[1:16] AS q_emb
              |       FROM embeddings WHERE vec_id < 5),
              |ct AS (SELECT vec_id AS n_id, embedding[1:16] AS n_emb FROM embeddings),
              |sims AS (SELECT q_id, n_id, ${cosineSql("q_emb", "n_emb")} AS sim
              |         FROM ct JOIN qt ON q_id != n_id),
              |trunc AS (SELECT q_id, n_id FROM
              |  (SELECT q_id, n_id, row_number() OVER
              |     (PARTITION BY q_id ORDER BY sim DESC, n_id ASC) AS rank
              |   FROM sims) WHERE rank <= 5),
              |h AS (SELECT truth.q_id, count(*) AS hits
              |      FROM truth JOIN trunc ON truth.q_id = trunc.q_id
              |                           AND truth.n_id = trunc.n_id
              |      GROUP BY truth.q_id)
              |SELECT t.q_id, CAST(coalesce(h.hits, 0) AS BIGINT) AS hits,
              |  CAST(count(*) AS BIGINT) AS k
              |FROM truth t LEFT JOIN h ON t.q_id = h.q_id
              |GROUP BY t.q_id, h.hits""".stripMargin)),

    // Two-stage matryoshka search — v31's deployment shape applied to
    // truncation (v27's eval twin): a prefix-16-dim cosine shortlist
    // (top-20 — the scan side reads a 4× narrower vector) gathers the
    // full 64-dim vectors only for the shortlist and re-ranks with
    // exact cosine to the final top-5. The same recall-dominance
    // guarantee as v31 holds vs the raw truncated top-5.
    Q("v32_matryoshka_rerank",
      (s, dir) => {
        val e = Tables(s, dir, "embeddings")
          .select(col("vec_id"), col("embedding"))
        val qt = e.filter(col("vec_id") < 5)
          .select(col("vec_id").as("q_id"), slice(col("embedding"), 1, 16).as("q_emb"))
        val ct = e.select(col("vec_id").as("n_id"), slice(col("embedding"), 1, 16).as("n_emb"))
        val tsims = ct.join(broadcast(qt), col("q_id") =!= col("n_id"))
          .select(col("q_id"), col("n_id"),
            cosine(col("q_emb"), col("n_emb")).as("sim"))
        val short = topKByMetric(tsims, "sim", 20, asc = false)
          .select(col("q_id"), col("n_id"))
        val qv = e.filter(col("vec_id") < 5)
          .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
        // broadcast(short): same rationale as hammingRerank — the
        // window-derived shortlist's static size estimate is the full
        // scan's, so the gather would otherwise SMJ-shuffle the corpus.
        val scored = e.select(col("vec_id").as("n_id"), col("embedding").as("n_emb"))
          .join(broadcast(short), "n_id")
          .join(broadcast(qv), "q_id")
          .select(col("q_id"), col("n_id"),
            cosine(col("q_emb"), col("n_emb")).as("sim"))
        topKByMetric(scored, "sim", 5, asc = false)
      },
      Some(s"""WITH qt AS (SELECT vec_id AS q_id, embedding[1:16] AS q_emb
              |       FROM embeddings WHERE vec_id < 5),
              |ct AS (SELECT vec_id AS n_id, embedding[1:16] AS n_emb FROM embeddings),
              |tsims AS (SELECT q_id, n_id, ${cosineSql("q_emb", "n_emb")} AS sim
              |          FROM ct JOIN qt ON q_id != n_id),
              |short AS (SELECT q_id, n_id FROM
              |  (SELECT q_id, n_id, row_number() OVER
              |     (PARTITION BY q_id ORDER BY sim DESC, n_id ASC) AS rank
              |   FROM tsims) WHERE rank <= 20),
              |qv AS (SELECT vec_id AS q_id, embedding AS q_emb
              |       FROM embeddings WHERE vec_id < 5),
              |scored AS (SELECT s.q_id, s.n_id,
              |  ${cosineSql("qv.q_emb", "n.embedding")} AS sim
              |  FROM short s JOIN embeddings n ON s.n_id = n.vec_id
              |  JOIN qv ON s.q_id = qv.q_id)
              |SELECT q_id, n_id, sim, rank FROM
              |(SELECT q_id, n_id, sim, CAST(row_number() OVER
              |   (PARTITION BY q_id ORDER BY sim DESC, n_id ASC) AS BIGINT) AS rank
              | FROM scored) WHERE rank <= 5""".stripMargin)),

    // Two-stage binary search — the deployment shape for 1-bit codes
    // (v11's exact re-rank applied to the Hamming index): a wide
    // Hamming shortlist (top-20, codes-only 16-byte scan) gathers the
    // float vectors ONLY for the ~20·q shortlist rows and re-scores
    // them with exact cosine to the final top-5. At 100 TB the full
    // float corpus is touched only by the shortlist gather join —
    // the scan side stays 32× smaller. R8OpsSpec asserts the recall
    // dominance over the raw Hamming top-5 (guaranteed: the re-rank
    // keeps every truth member the shortlist caught).
    Q("v31_hamming_rerank",
      (s, dir) => hammingRerank(
        Tables(s, dir, "embeddings").select(col("vec_id"), col("embedding")),
        shortlist = 20, k = 5),
      Some(hammingRerankSql(shortlist = 20, k = 5)),
    ),

    // Re-rank depth sweep — the d17 tuning-curve pattern applied to
    // the two-stage search: recall@5 of the Hamming re-rank at
    // shortlist depths 5/10/20 in ONE gated answer, so "how deep must
    // the shortlist be" is measured, not guessed (deeper ⇒ recall
    // non-decreasing, pinned in R9OpsSpec; the marginal gain per
    // depth is the serving-cost knob). The codes scan and Hamming
    // distances are shared across depths — each depth adds only its
    // own rank windows over the 16-byte-code frame.
    Q("v34_rerank_depth_sweep",
      (s, dir) => {
        val e = Tables(s, dir, "embeddings")
          .select(col("vec_id"), col("embedding"))
        val truth = bruteKnn(s, dir, 5).select(col("q_id"), col("n_id"))
        val tk = truth.groupBy(col("q_id")).agg(count(lit(1)).as("k"))
        Seq(5, 10, 20).map { d =>
          val rr = hammingRerank(e, d, 5).select(col("q_id"), col("n_id"))
          val hits = truth.join(rr, Seq("q_id", "n_id"))
            .groupBy(col("q_id")).agg(count(lit(1)).as("hits"))
          tk.join(hits, Seq("q_id"), "left")
            .select(lit(d.toLong).as("depth"), col("q_id"),
              coalesce(col("hits"), lit(0L)).as("hits"), col("k"))
        }.reduce(_ unionAll _)
      },
      Some {
        val depths = Seq(5, 10, 20)
        val blocks = depths.map { d =>
          s"""short$d AS (SELECT q_id, n_id FROM
             |  (SELECT q_id, n_id, row_number() OVER
             |     (PARTITION BY q_id ORDER BY hamming ASC, n_id ASC) AS rank
             |   FROM hsims) WHERE rank <= $d),
             |sc$d AS (SELECT s.q_id, s.n_id,
             |  ${cosineSql("qv.q_emb", "n.embedding")} AS sim
             |  FROM short$d s JOIN embeddings n ON s.n_id = n.vec_id
             |  JOIN qv ON s.q_id = qv.q_id),
             |rr$d AS (SELECT q_id, n_id FROM
             |  (SELECT q_id, n_id, row_number() OVER
             |     (PARTITION BY q_id ORDER BY sim DESC, n_id ASC) AS rank
             |   FROM sc$d) WHERE rank <= 5),
             |h$d AS (SELECT truth.q_id, count(*) AS hits
             |        FROM truth JOIN rr$d ON truth.q_id = rr$d.q_id
             |                           AND truth.n_id = rr$d.n_id
             |        GROUP BY truth.q_id)""".stripMargin
        }.mkString(",\n")
        val selects = depths.map { d =>
          s"""SELECT CAST($d AS BIGINT) AS depth, tk.q_id,
             |  CAST(coalesce(h$d.hits, 0) AS BIGINT) AS hits, tk.k
             |FROM tk LEFT JOIN h$d ON tk.q_id = h$d.q_id""".stripMargin
        }.mkString("\nUNION ALL\n")
        s"""WITH truth AS (SELECT q_id, n_id FROM (${bruteKnnSql(5)})),
           |tk AS (SELECT q_id, CAST(count(*) AS BIGINT) AS k
           |       FROM truth GROUP BY q_id),
           |codes AS (SELECT vec_id, ${binaryCodeSql(0, 32)} AS lo,
           |  ${binaryCodeSql(32, 32)} AS hi FROM embeddings),
           |hq AS (SELECT vec_id AS q_id, lo AS q_lo, hi AS q_hi
           |       FROM codes WHERE vec_id < 5),
           |hsims AS (SELECT q_id, vec_id AS n_id,
           |  CAST(bit_count(xor(lo, q_lo)) + bit_count(xor(hi, q_hi)) AS BIGINT) AS hamming
           |  FROM codes JOIN hq ON q_id != vec_id),
           |qv AS (SELECT vec_id AS q_id, embedding AS q_emb
           |       FROM embeddings WHERE vec_id < 5),
           |$blocks
           |$selects""".stripMargin
      }),

    // Filtered vector search — the metadata-predicate serving shape
    // every production vector store needs (RAG over one tenant,
    // similar docs within a language): v31's two-stage Hamming
    // re-rank run with the corpus PRE-FILTERED on label = 1. The
    // predicate restricts the 16-byte codes scan BEFORE any distance
    // math (pushed to the parquet reader — PlanSpec pins
    // PushedFilters on the codes-side scan), so filtered search costs
    // O(selectivity · corpus), never post-filtering a full top-k
    // (which silently under-fills k when the filter is selective —
    // the classic filtered-ANN bug this shape avoids by construction).
    Q("v36_filtered_rerank",
      (s, dir) => filteredHammingRerank(
        Tables(s, dir, "embeddings")
          .select(col("vec_id"), col("embedding"), col("label")),
        shortlist = 20, k = 5),
      Some(filteredHammingRerankSql(shortlist = 20, k = 5))),

    // Hard-negative mining — the contrastive-training staple: for each
    // query, the most-similar vectors of a DIFFERENT label (the
    // near-misses an embedding model must learn to push apart). v36's
    // static predicate becomes PER-QUERY (label ≠ q_label, a pair
    // predicate riding the same broadcast codes join — still never a
    // cartesian), then the usual two-stage shape: Hamming shortlist
    // over 16-byte codes → broadcast float gather → exact-cosine
    // re-rank, so the hardest negatives surface by TRUE similarity,
    // not quantized similarity.
    Q("v37_hard_negatives",
      (s, dir) => hardNegatives(
        Tables(s, dir, "embeddings")
          .select(col("vec_id"), col("embedding"), col("label")),
        shortlist = 20, k = 5),
      Some(hardNegativesSql(shortlist = 20, k = 5))),

    // Filtered-search recall eval — closes v36's quality loop exactly
    // as v30 does for the unfiltered index: recall@5 of the
    // pre-filtered Hamming re-rank against the exact cosine truth
    // computed OVER THE FILTERED CORPUS (the correct referent —
    // post-filter evals against unfiltered truth understate filtered
    // recall by construction). Integer hits/k gate shape.
    Q("v38_filtered_recall",
      (s, dir) => {
        val e = Tables(s, dir, "embeddings")
          .select(col("vec_id"), col("embedding"), col("label"))
        val q = e.filter(col("vec_id") < 5)
          .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
        val c = e.filter(col("label") === 1)
          .select(col("vec_id").as("n_id"), col("embedding").as("n_emb"))
        val sims = c.join(broadcast(q), col("q_id") =!= col("n_id"))
          .select(col("q_id"), col("n_id"),
            cosine(col("q_emb"), col("n_emb")).as("sim"))
        val w = Window.partitionBy(col("q_id"))
          .orderBy(col("sim").desc, col("n_id").asc)
        val truth = sims.withColumn("rank", row_number().over(w))
          .filter(col("rank") <= 5).select(col("q_id"), col("n_id"))
        val got = filteredHammingRerank(e, 20, 5)
          .select(col("q_id"), col("n_id"))
        val hits = truth.join(got, Seq("q_id", "n_id"))
          .groupBy(col("q_id")).agg(count(lit(1)).as("hits"))
        truth.groupBy(col("q_id")).agg(count(lit(1)).as("k"))
          .join(hits, Seq("q_id"), "left")
          .select(col("q_id"), coalesce(col("hits"), lit(0L)).as("hits"),
            col("k"))
      },
      Some(s"""WITH fq AS (SELECT vec_id AS q_id, embedding AS q_emb
              |           FROM embeddings WHERE vec_id < 5),
              |fc AS (SELECT vec_id AS n_id, embedding AS n_emb
              |       FROM embeddings WHERE label = 1),
              |fsims AS (SELECT q_id, n_id, ${cosineSql("q_emb", "n_emb")} AS sim
              |          FROM fq JOIN fc ON q_id != n_id),
              |truth AS (SELECT q_id, n_id FROM
              |  (SELECT q_id, n_id, row_number() OVER
              |     (PARTITION BY q_id ORDER BY sim DESC, n_id ASC) AS rank
              |   FROM fsims) WHERE rank <= 5),
              |got AS (SELECT q_id, n_id FROM
              |  (${filteredHammingRerankSql(20, 5)})),
              |h AS (SELECT truth.q_id, count(*) AS hits
              |      FROM truth JOIN got ON truth.q_id = got.q_id
              |                         AND truth.n_id = got.n_id
              |      GROUP BY truth.q_id)
              |SELECT t.q_id, CAST(coalesce(h.hits, 0) AS BIGINT) AS hits,
              |  CAST(count(*) AS BIGINT) AS k
              |FROM truth t LEFT JOIN h ON t.q_id = h.q_id
              |GROUP BY t.q_id, h.hits""".stripMargin)),

    // Binary-quantization recall eval — recall@5 of the Hamming
    // search (v26) against the exact cosine truth, closing the
    // 1-bit index's quality loop exactly as v19 does for IVF and
    // v27 for truncation: build codes (v25) → search (v26) →
    // measure (v30). Same integer hits/k gate shape.
    Q("v30_hamming_recall",
      (s, dir) => {
        val e = Tables(s, dir, "embeddings")
          .select(col("vec_id"), col("embedding"))
        val truth = bruteKnn(s, dir, 5).select(col("q_id"), col("n_id"))
        val ham = hammingTopk(e, 5).select(col("q_id"), col("n_id"))
        val hits = truth.join(ham, Seq("q_id", "n_id"))
          .groupBy(col("q_id")).agg(count(lit(1)).as("hits"))
        truth.groupBy(col("q_id")).agg(count(lit(1)).as("k"))
          .join(hits, Seq("q_id"), "left")
          .select(col("q_id"), coalesce(col("hits"), lit(0L)).as("hits"),
            col("k"))
      },
      Some(s"""WITH truth AS (SELECT q_id, n_id FROM (${bruteKnnSql(5)})),
              |codes AS (SELECT vec_id, ${binaryCodeSql(0, 32)} AS lo,
              |  ${binaryCodeSql(32, 32)} AS hi FROM embeddings),
              |q AS (SELECT vec_id AS q_id, lo AS q_lo, hi AS q_hi
              |      FROM codes WHERE vec_id < 5),
              |sims AS (SELECT q_id, vec_id AS n_id,
              |  CAST(bit_count(xor(lo, q_lo)) + bit_count(xor(hi, q_hi)) AS BIGINT) AS hamming
              |  FROM codes JOIN q ON q_id != vec_id),
              |ham AS (SELECT q_id, n_id FROM
              |  (SELECT q_id, n_id, row_number() OVER
              |     (PARTITION BY q_id ORDER BY hamming ASC, n_id ASC) AS rank
              |   FROM sims) WHERE rank <= 5),
              |h AS (SELECT truth.q_id, count(*) AS hits
              |      FROM truth JOIN ham ON truth.q_id = ham.q_id
              |                         AND truth.n_id = ham.n_id
              |      GROUP BY truth.q_id)
              |SELECT t.q_id, CAST(coalesce(h.hits, 0) AS BIGINT) AS hits,
              |  CAST(count(*) AS BIGINT) AS k
              |FROM truth t LEFT JOIN h ON t.q_id = h.q_id
              |GROUP BY t.q_id, h.hits""".stripMargin)),

    // K-means++ init quality eval — v22's inertia gate re-run from the
    // DETERMINISTIC k-means++ (farthest-point) seeds instead of the
    // hash-order seeds, closing the init-choice question the
    // clustering lifecycle (v06 fit → v22 inertia) leaves open:
    // compare the two gates' sse columns to pick an init. Seeding is
    // k extra corpus scans (each a 1-row TakeOrdered — linear, never
    // pairwise); Lloyd + inertia reuse the v06/v22 machinery; the
    // oracle unrolls the maxmin chain as k CTEs feeding the same
    // Lloyd loop via cent0Override.
    Q("v29_kmeanspp_inertia",
      (s, dir) => {
        val e = Tables(s, dir, "embeddings")
          .select(col("vec_id"), col("embedding"))
        // seeds AND Lloyd train on the bounded sample; only the
        // inertia pass below scans the full corpus. Cached: the kpp
        // maxmin chain alone is k scans of the sample.
        val fs = fitSample(e, FIT_SAMPLE_PER_K * KMEANS_K)
        if (fs ne e) Materialize.reuse(fs)
        val fit = kmeansFitFrom(fs, kmeansppSeeds(fs, KMEANS_K), KMEANS_ITERS - 1)
        Materialize.release(fs)
        kmeansInertiaOf(e, fit)
      },
      Some(kppInertiaSql())),

    // v21's STREAMING twin as a driver-visible gate (the e16 pattern
    // applied to vector ingest): the frozen index's centroids are
    // collected once (k·d doubles), the embeddings table arrives as a
    // stream, and each batch vector takes its argmax cell in a
    // STATELESS per-row pass (StreamingOps.ivfAssign) — append mode,
    // no state, no watermark. The emitted table is hash-gated against
    // v21's own DuckDB oracle, proving continuous ingest ≡ batch
    // upsert bit-for-bit (cosine doubles included).
    Q("v28_ivf_stream",
      (s, dir) => graft.streaming.StreamingOps.runToTable(s,
        graft.streaming.StreamingOps.ivfAssign(
          graft.streaming.StreamingOps.readEmbeddings(s, dir)
            .filter(col("vec_id") % 7 === 3)
            .select(col("vec_id"), col("embedding")),
          collectUpsertCentroids(s, dir)),
        "append", "graft_v28_sink_"),
      Some(ivfUpsertSql)),

    // IVF nprobe sweep — the index's OTHER tuning knob, closing the
    // loop d17 closes for LSH bandings and v34 for re-rank depths:
    // recall@5 of the multiprobe search (v07's shape) at nprobe
    // 1/2/3 in ONE gated answer. The corpus-side work is shared by
    // construction: cell assignment and the probe-cell cosine sims
    // are computed ONCE at max nprobe with each query row carrying
    // its probe rank (qrk); every probe level then costs only a rank
    // window over the (qrk ≤ nprobe)-filtered candidate frame —
    // candidates, never the corpus. Recall monotone in nprobe is
    // pinned in R9OpsSpec.
    Q("v40_nprobe_sweep",
      (s, dir) => nprobeSweep(s, dir),
      Some(nprobeSweepSql())),

    // Embedding outlier detection — the OOD curation gate that
    // catches corrupt / out-of-domain / mis-encoded vectors before
    // they poison a training mix or an ANN index: squared distance
    // to the NEAREST k-means centroid (the v06 fit), top-20 farthest.
    // Complements v23 (which balances cluster MEMBERSHIP) by scoring
    // what fits NO cluster. Centers are k·d broadcast literals, the
    // corpus pass is codegen'd, the global step is a 20-row
    // TakeOrdered — the 100 TB cost is one narrow scan.
    Q("v39_centroid_outliers",
      (s, dir) => centroidOutliersOf(
        Tables(s, dir, "embeddings")
          .select(col("vec_id"), col("embedding"))),
      Some(centroidOutliersSql())),

    // Training-sample pin — the integer arithmetic every sample-
    // bounded codebook fit rests on (fitThreshold + the hash
    // predicate), gated at a target SMALL enough (128) that the
    // sample is a strict subset even at the driver's 500-row SF.
    // The production fits (256·k) sample only past that size — this
    // gate proves both engines select the SAME rows and compute the
    // SAME threshold wherever the cut lands.
    Q("v44_fit_sample",
      (s, dir) => {
        val e = Tables(s, dir, "embeddings").select(col("vec_id"))
        val th = fitThreshold(e.count(), 128L)
        val h = seedHash(col("vec_id"))
        e.filter(h < lit(th))
          .select(col("vec_id"), h.as("h"), lit(th).as("th"))
      },
      Some(s"""WITH fn AS (${fitThresholdSql(128L, "embeddings")})
              |SELECT vec_id, ${seedHashSql("vec_id")} AS h, th
              |FROM embeddings, fn
              |WHERE ${seedHashSql("vec_id")} < th""".stripMargin)),

    // IVF maintenance — the "repair, don't rebuild" pass that closes
    // the index lifecycle: v21/v28 ingest new vectors, x14/x15 watch
    // drift, and this re-assigns ONLY the vectors of cells whose
    // refreshed center moved past IVF_REPAIR_THRESH. Center movement
    // is k·d driver doubles; the corpus sees one narrow scan pruned
    // to the dirty cells; output is the (vec_id, cell_old, cell_new)
    // move list an upserted 100 TB index applies in place.
    Q("v41_ivf_repair",
      (s, dir) => ivfRepair(
        Tables(s, dir, "embeddings").select(col("vec_id"), col("embedding"))),
      Some(ivfRepairSql())),

    // Streaming PQ encode — v09's ENCODE stage as continuous ingest
    // (the v28 frozen-reference pattern applied to quantization):
    // codebooks are FROZEN from the batch fit (m·k·dSub doubles
    // shipped as literals) and each arriving vector takes its m codes
    // in one stateless codegen'd projection — append mode, no state,
    // no watermark, O(batch) per micro-batch. With v28 (IVF assign)
    // and this, every ANN index artifact is buildable continuously.
    // Hash-gated against v09's own oracle restricted to the streamed
    // slice: continuous encode ≡ batch encode bit-for-bit.
    Q("v42_pq_stream",
      (s, dir) => {
        val batch = Tables(s, dir, "embeddings")
          .select(col("vec_id"), col("embedding"))
        val books = pqCodebooks(batch, 64)
        graft.streaming.StreamingOps.runToTable(s,
          pqEncode(graft.streaming.StreamingOps.readEmbeddings(s, dir)
            .filter(col("vec_id") % 7 === 3)
            .select(col("vec_id"), col("embedding")),
            books, 64 / PQ_M),
          "append", "graft_v42_sink_")
      },
      Some(pqCodesSql(64, encodeWhere = "WHERE vec_id % 7 = 3"))),

    // Streaming binary encode — v25's sign-bit packing over the same
    // streamed slice. No training artifact at all (the encode is a
    // pure fold), so the stream twin is the projection itself.
    Q("v43_binary_stream",
      (s, dir) => graft.streaming.StreamingOps.runToTable(s,
        binaryCodes(graft.streaming.StreamingOps.readEmbeddings(s, dir)
          .filter(col("vec_id") % 7 === 3)
          .select(col("vec_id"), col("embedding"))),
        "append", "graft_v43_sink_"),
      Some(binaryCodesOracle + "\nWHERE vec_id % 7 = 3")),

    // IVF index persisted as a CELL-PARTITIONED parquet layout +
    // partition-pruned serving — the storage half of the 100 TB ANN
    // story the in-memory gates can't show: the one encode pass lands
    // each vector under its cell's directory (hive partitioning, the
    // s19 pay-the-shuffle-once pattern applied to the vector index),
    // and a query batch's union of probed cells becomes a STATIC
    // partition predicate, so the serving scan READS only those
    // cells' files — `PartitionFilters` in the plan, PlanSpec-pinned
    // — instead of filtering a full-corpus scan. The probed-cell
    // collect is ≤ panel-size rows; per-query routing stays exact via
    // the broadcast panel's own cell key. Values are parquet
    // round-trip exact (float arrays), so the gate hash-matches the
    // same search computed from the base table.
    Q("v45_partitioned_serve",
      (s, dir) => {
        val e = Tables(s, dir, "embeddings")
          .select(col("vec_id"), col("embedding"))
        val path = workPath(s, "ivf_part", dir)
        graft.operators.IvfIndex.build(e, path)
        val idx = graft.operators.IvfIndex.read(s, path)
        val qs = idx.filter(col("vec_id") < 5)
          .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
            col("cell"))
        graft.operators.IvfIndex.serve(idx, qs, 5)
      },
      Some(partitionedServeSql(5))),

    // Repair OFF THE PERSISTED INDEX — v41's semantics with the
    // assignment read from the v45 cell-partitioned layout instead of
    // recomputed: membership is already on disk, so the dirty set
    // becomes a STATIC partition predicate and the re-score pass
    // READS only dirty cells' files (PartitionFilters, PlanSpec-
    // pinned). Same oracle as v41 — the index IS the final
    // assignment, parquet float round-trip exact, so the move list
    // hash-matches the in-memory lifecycle bit-for-bit.
    Q("v46_indexed_repair",
      (s, dir) => {
        val e = Tables(s, dir, "embeddings")
          .select(col("vec_id"), col("embedding"))
        val path = workPath(s, "ivf_rep", dir)
        val old = graft.operators.IvfIndex.build(e, path)
        val refreshed = refreshedCenters(
          graft.operators.IvfIndex.read(s, path))
        ivfRepairIndexed(s, path, old, refreshed, IVF_REPAIR_THRESH)
      },
      Some(ivfRepairSql()),
      bench = true),

    // Incremental upsert ONTO the persisted layout — v21/v28's ingest
    // producing index FILES instead of rows: arrivals score against
    // the frozen centers (one narrow pass over the batch), land in
    // their cells via dynamic partition overwrite, and only touched
    // cells' directories rewrite (untouched files byte-identical —
    // R11OpsSpec pins it). Gated on the read-back index ≡ the
    // assignment of base ∪ arrivals against the same frozen centers.
    Q("v47_index_upsert",
      (s, dir) => {
        val e = Tables(s, dir, "embeddings")
          .select(col("vec_id"), col("embedding"))
        val path = workPath(s, "ivf_up", dir)
        val centers = graft.operators.IvfIndex.build(e, path)
        val arrivals = e.filter(col("vec_id") % 7 === 3)
          .select((col("vec_id") + lit(1000000L)).as("vec_id"),
            col("embedding"))
        graft.operators.IvfIndex.upsert(s, path,
          kmeansAssign(arrivals, centers))
        graft.operators.IvfIndex.read(s, path)
          .select(col("vec_id"), col("cell"))
      },
      Some(indexUpsertOracle)),

    // STREAMING index upsert — v28's continuous assignment landing in
    // index FILES instead of rows, closing the last gap in the
    // continuous-index story: arrivals take their cell against the
    // FROZEN centers in one stateless projection, and each micro-batch
    // lands via foreachBatch → IvfIndex.upsert (partition-pruned read
    // of touched cells, dynamic partition overwrite of only those).
    // With v28 (assign), v42/v43 (encodes), d21 (semantic dedup) and
    // this, every index artifact is not just computable continuously —
    // it is MAINTAINED on storage continuously. Same oracle as v47:
    // the read-back index must equal the batch upsert bit-for-bit
    // (StreamingSpec pins stream ≡ batch at the file-content level).
    Q("v48_stream_upsert",
      (s, dir) => {
        val e = Tables(s, dir, "embeddings")
          .select(col("vec_id"), col("embedding"))
        val path = workPath(s, "ivf_sup", dir)
        val centers = graft.operators.IvfIndex.build(e, path)
        val assigned = kmeansAssign(
          graft.streaming.StreamingOps.readEmbeddings(s, dir)
            .filter(col("vec_id") % 7 === 3)
            .select((col("vec_id") + lit(1000000L)).as("vec_id"),
              col("embedding")),
          centers)
        graft.streaming.StreamingOps.runAvailable(s, "v48") { checkpoint =>
          assigned.writeStream
            .foreachBatch((batch: DataFrame, _: Long) =>
              graft.operators.IvfIndex.upsert(s, path, batch))
            .option("checkpointLocation", checkpoint)
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .start()
        }
        graft.operators.IvfIndex.read(s, path)
          .select(col("vec_id"), col("cell"))
      },
      Some(indexUpsertOracle)),

    // APPEND-ONLY ingest + latest-wins read — the scattered-arrival
    // path the overwrite upsert can't take at scale (a 0.1% batch
    // spread over every cell rewrites ~40% of a full build's bytes,
    // SCALE_r11; append writes O(batch) bytes, R12OpsSpec pins it).
    // Two appends land at rising `seq` versions: fresh ids, then
    // RE-INGESTS of existing ids with CHANGED embeddings (negated —
    // sign flips are IEEE-exact on both engines), which assign to
    // different cells and leave their old copies behind. readLatest's
    // global per-id version resolution supersedes those copies EVEN
    // ACROSS CELLS — the duplicate hazard the r11 advice flagged —
    // and compact() then rewrites exactly the affected cells so plain
    // pruned reads are exact again (read-after-compact ≡ readLatest,
    // R12OpsSpec). Gated on the merged semantics: base MINUS
    // re-ingested ids UNION both arrival batches assigned against the
    // same frozen centers.
    Q("v49_index_append",
      (s, dir) => {
        val e = Tables(s, dir, "embeddings")
          .select(col("vec_id"), col("embedding"))
        val path = workPath(s, "ivf_app", dir)
        val centers = graft.operators.IvfIndex.build(e, path)
        val fresh = e.filter(col("vec_id") % 7 === 3)
          .select((col("vec_id") + lit(1000000L)).as("vec_id"),
            col("embedding"))
        val rein = e.filter(col("vec_id") % 13 === 4)
          .select(col("vec_id"),
            transform(col("embedding"), x => -x).as("embedding"))
        graft.operators.IvfIndex.append(s, path, kmeansAssign(fresh, centers))
        graft.operators.IvfIndex.append(s, path, kmeansAssign(rein, centers))
        graft.operators.IvfIndex.readLatest(s, path)
          .select(col("vec_id"), col("cell"))
      },
      Some(indexAppendOracle)),

    // STREAMING append ingest — v48's continuous maintenance on the
    // O(batch) append path: each micro-batch of re-ingested vectors
    // (negated embeddings, so they ASSIGN TO DIFFERENT CELLS and the
    // stale copies stay behind in the files) lands as new files at a
    // rising seq version via foreachBatch → IvfIndex.append; a final
    // compact resolves every superseded copy across cells, and the
    // gate hash-checks the PLAIN read afterwards. Version resolution
    // is per-id, so the result is invariant to how the stream splits
    // into micro-batches (each id arrives once, and any seq ≥ 1 beats
    // the base's seq 0) — the property that makes continuous append
    // ingestion deterministic at all.
    Q("v51_stream_append",
      (s, dir) => {
        val e = Tables(s, dir, "embeddings")
          .select(col("vec_id"), col("embedding"))
        val path = workPath(s, "ivf_sap", dir)
        val centers = graft.operators.IvfIndex.build(e, path)
        val assigned = kmeansAssign(
          graft.streaming.StreamingOps.readEmbeddings(s, dir)
            .filter(col("vec_id") % 13 === 4)
            .select(col("vec_id"),
              transform(col("embedding"), x => -x).as("embedding")),
          centers)
        // appendAndMaintain = the continuous-ingest loop: O(batch)
        // append + a bounded-file-count compact trigger, so a
        // long-running stream's file population and readLatest cost
        // stay bounded without a manual maintenance schedule
        // (StreamingSpec pins the trigger actually firing mid-stream)
        graft.streaming.StreamingOps.runAvailable(s, "v51") { checkpoint =>
          assigned.writeStream
            .foreachBatch((batch: DataFrame, _: Long) =>
              { graft.operators.IvfIndex.appendAndMaintain(s, path, batch); () })
            .option("checkpointLocation", checkpoint)
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .start()
        }
        graft.operators.IvfIndex.compact(s, path, maxFilesPerCell = 1)
        graft.operators.IvfIndex.read(s, path)
          .select(col("vec_id"), col("cell"))
      },
      Some(streamAppendOracle)),

    // PQ-ACCELERATED serving off the persisted index — v33's
    // residual-ADC two-stage search run from STORAGE: `build(pq)`
    // stores each vector's m=8 residual-PQ codes (~8 bytes) next to
    // its embedding and persists the codebooks in the `_centers`
    // sidecar; serving routes off the sidecar refresh means, scans
    // ONLY (vec_id, pq) of the probed cells for the ADC shortlist
    // (the embedding column never loads — PlanSpec pins the code
    // scan's ReadSchema; a 64-float embedding is 256 B vs ~8 B of
    // codes, the scan-byte cut that matters at 100 TB), then gathers
    // raw floats for just the ≤shortlist·q winners and re-ranks with
    // exact cosine. Deterministic end-to-end (decimal fits, IEEE
    // fold order), so the oracle replays routing, residuals, ADC,
    // shortlist and re-rank bit-for-bit.
    Q("v50_pq_indexed_serve",
      (s, dir) => {
        val e = Tables(s, dir, "embeddings")
          .select(col("vec_id"), col("embedding"))
        val path = workPath(s, "ivf_pqs", dir)
        graft.operators.IvfIndex.build(e, path, pq = true)
        val side = graft.operators.IvfIndex.readSidecar(s, path).get
        val q = e.filter(col("vec_id") % 11 === 3)
          .select((col("vec_id") + lit(1000000L)).as("q_id"),
            col("embedding").as("q_emb"))
        val panel = q.select(col("q_id"), col("q_emb"),
          graft.functions.VectorExprs.nearest_centroid(
            col("q_emb"), side.refresh, side.dim).as("cell"))
        graft.operators.IvfIndex.servePq(
          graft.operators.IvfIndex.readFull(s, path), q, panel,
          k = 5, shortlist = 20, side.serving, side.books)
      },
      Some(pqServeOracle(5, 20))),

    // CONTINUOUS PQ serving — v50 as a STREAM of query batches
    // (StreamingOps.serveOnline): the same frozen index, the same
    // sidecar routing and adaptive gather, driven per micro-batch
    // over a three-file query directory (maxFilesPerTrigger=1 ⇒ three
    // batches) with results appended as parquet. Per-query
    // independence against a frozen index makes micro-batch ≡ batch
    // exact, so the SAME v50 oracle replays the streamed output
    // bit-for-bit — the serving tier's online form is driver-gated,
    // not just spec-pinned.
    Q("v52_streaming_pq_serve",
      (s, dir) => {
        val e = Tables(s, dir, "embeddings")
          .select(col("vec_id"), col("embedding"))
        val path = workPath(s, "ivf_pqss", dir)
        graft.operators.IvfIndex.build(e, path, pq = true)
        val qdir = workPath(s, "ivf_pqss_q", dir)
        val out = workPath(s, "ivf_pqss_out", dir)
        def wipe(p: String): Unit = {
          val d = java.nio.file.Paths.get(p)
          if (java.nio.file.Files.isDirectory(d)) {
            import scala.jdk.CollectionConverters._
            java.nio.file.Files.walk(d).iterator().asScala.toSeq.reverse
              .foreach(java.nio.file.Files.delete)
          }
        }
        wipe(out)
        val q0 = e.filter(col("vec_id") % 11 === 3)
          .select((col("vec_id") + lit(1000000L)).as("q_id"),
            col("embedding").as("q_emb"))
        (0 until 3).foreach(i => q0.filter(pmod(col("q_id"), lit(3)) === i)
          .coalesce(1).write.mode(if (i == 0) "overwrite" else "append")
          .parquet(qdir))
        val stream = s.readStream.schema(q0.schema)
          .option("maxFilesPerTrigger", "1").parquet(qdir)
        graft.streaming.StreamingOps.runAvailable(s, "v52") { checkpoint =>
          graft.streaming.StreamingOps.serveOnline(
            s, stream, path, k = 5, shortlist = 20, out, Some(checkpoint))
        }
        s.read.parquet(out)
          .select(col("q_id"), col("n_id"), col("sim"), col("rank"))
      },
      Some(pqServeOracle(5, 20))),

    // Ranking-POSITION evals, the dashboard row next to v19's set
    // recall: not just whether truth made the ANN cut, but WHERE in
    // the ranked list it landed. Integer outputs keep both gates
    // ulp-proof (the ratio math — MRR = avg(1/rank over rank>0),
    // recall@c = hitsc/c — happens downstream of the gate).
    //
    // v53: the MRR core — per query, the 1-based rank at which the
    // brute-force TOP-1 neighbor appears in the IVF ranked list
    // (0 = absent entirely). Scale: both sides are the sampled-panel
    // builders (broadcast queries against the corpus scan, never n²),
    // and this join is q rows against q·k rows.
    Q("v53_mrr_rank",
      (s, dir) => {
        val truth1 = bruteKnn(s, dir, 1).select(col("q_id"), col("n_id"))
        val ann = ivfSearch(s, dir)
          .select(col("q_id"), col("n_id"), col("rank"))
        truth1.join(ann, Seq("q_id", "n_id"), "left")
          .select(col("q_id"),
            coalesce(col("rank"), lit(0L)).as("first_hit_rank"))
      },
      Some(s"""WITH truth AS (SELECT q_id, n_id FROM (${bruteKnnSql(1)})),
              |ann AS (SELECT q_id, n_id, rank FROM ($ivfSearchSql))
              |SELECT t.q_id,
              |  CAST(coalesce(a.rank, 0) AS BIGINT) AS first_hit_rank
              |FROM truth t
              |LEFT JOIN ann a ON t.q_id = a.q_id AND t.n_id = a.n_id""".stripMargin)),

    // v54: the recall CURVE — per query, |truth@c ∩ ann@c| at cutoffs
    // 1/3/5, i.e. v19's single recall@5 point widened to the curve an
    // index rollout actually tunes against (how fast does recall
    // saturate as the serving k grows). Same bounded join shape as
    // v19; the per-cutoff overlaps are conditional counts over the
    // one q·k-row join, never three passes.
    Q("v54_recall_curve",
      (s, dir) => {
        val truth = bruteKnn(s, dir, 5)
          .select(col("q_id"), col("n_id"), col("rank").as("t_rank"))
        val ann = ivfSearch(s, dir)
          .select(col("q_id"), col("n_id"), col("rank").as("a_rank"))
        val h = truth.join(ann, Seq("q_id", "n_id"))
          .groupBy(col("q_id")).agg(
            sum(when(col("t_rank") <= 1 && col("a_rank") <= 1, 1L)
              .otherwise(0L)).as("hits1"),
            sum(when(col("t_rank") <= 3 && col("a_rank") <= 3, 1L)
              .otherwise(0L)).as("hits3"),
            sum(when(col("t_rank") <= 5 && col("a_rank") <= 5, 1L)
              .otherwise(0L)).as("hits5"))
        truth.select(col("q_id")).distinct()
          .join(h, Seq("q_id"), "left")
          .select(col("q_id"),
            coalesce(col("hits1"), lit(0L)).as("hits1"),
            coalesce(col("hits3"), lit(0L)).as("hits3"),
            coalesce(col("hits5"), lit(0L)).as("hits5"))
      },
      Some(s"""WITH truth AS (SELECT q_id, n_id, rank AS t_rank
              |              FROM (${bruteKnnSql(5)})),
              |ann AS (SELECT q_id, n_id, rank AS a_rank FROM ($ivfSearchSql)),
              |h AS (SELECT truth.q_id,
              |    sum(CASE WHEN t_rank <= 1 AND a_rank <= 1 THEN 1 ELSE 0 END) AS hits1,
              |    sum(CASE WHEN t_rank <= 3 AND a_rank <= 3 THEN 1 ELSE 0 END) AS hits3,
              |    sum(CASE WHEN t_rank <= 5 AND a_rank <= 5 THEN 1 ELSE 0 END) AS hits5
              |  FROM truth JOIN ann ON truth.q_id = ann.q_id
              |                     AND truth.n_id = ann.n_id
              |  GROUP BY truth.q_id)
              |SELECT q.q_id, CAST(coalesce(hits1, 0) AS BIGINT) AS hits1,
              |  CAST(coalesce(hits3, 0) AS BIGINT) AS hits3,
              |  CAST(coalesce(hits5, 0) AS BIGINT) AS hits5
              |FROM (SELECT DISTINCT q_id FROM truth) q
              |LEFT JOIN h ON q.q_id = h.q_id""".stripMargin)),

    // Core-scaling witness (r15 VERDICT ask #2): every other bench
    // query reads a single-row-group fixture, so its scan — and any
    // per-row work fused above it — is ONE task and the driver's
    // 8-vs-32-core probe reads ≈1 everywhere (r15 scaling block; a
    // conf-gated repartition of those scans was probed and is a net
    // LOSS at sf0.1 — the exchange costs more than the freed cores
    // return, OPTIMIZATION_r16.md). This query's cost is O(n²·d)
    // pairwise compute that the explicit corpus repartition spreads
    // across the granted cores, so core scaling is observable on it.
    Q("v55_knn_brute_all",
      (s, dir) => bruteKnnAll(s, dir, 10),
      Some(bruteKnnAllSql(10)),
      bench = true)
  )

  /** The v50 oracle: external batch routed to its nearest refresh
    * mean, query residual against the probed cell's SERVING center,
    * ADC over the per-subspace codes (same decimal fits and IEEE fold
    * order as the stored index), shortlist by (adc, n_id), exact
    * cosine re-rank of the shortlist. */
  def pqServeOracle(k: Int, shortlist: Int, probe: Int = 1): String = {
    val dim = 64; val m = PQ_M; val dSub = dim / m
    val last = KMEANS_ITERS
    def d(x: String) = s"CAST($x AS DOUBLE)"
    val routeDist = O.dfold(
      s"list_transform(u.q_emb, (kx, ki) -> (${d("kx")} - c.cent[ki]) * (${d("kx")} - c.cent[ki]))")
    val resid =
      s"""resid AS (SELECT a.vec_id, a.cell,
         |  list_transform(a.embedding, (rx, ri) ->
         |    CAST(CAST(rx AS DOUBLE) - c.cent[ri] AS FLOAT)) AS embedding
         |  FROM assign$last a JOIN cent${last - 1} c ON a.cell = c.cell)""".stripMargin
    val pqCtes = (0 until m).map { s =>
      kmeansCtesSql(PQ_K, last, prefix = s"s${s}_",
        src = s"SELECT vec_id, embedding[${s * dSub + 1}:${(s + 1) * dSub}] AS embedding FROM resid")
    }
    val dists = (0 until m).map { s =>
      O.dfold(s"""list_transform(q.q_res[${s * dSub + 1}:${(s + 1) * dSub}],
         | (kx, ki) -> (${d("kx")} - t$s.cent[ki]) * (${d("kx")} - t$s.cent[ki]))""".stripMargin)
    }.mkString(" + ")
    val codeJoins = (0 until m).map(s =>
      s"JOIN s${s}_assign$last a$s ON r.vec_id = a$s.vec_id " +
        s"JOIN s${s}_cent${last - 1} t$s ON t$s.cell = a$s.cell").mkString("\n")
    s"""WITH ${kmeansCtesSql(KMEANS_K, last)},
       |centN AS (SELECT cell, list(c ORDER BY pos) AS cent
       |          FROM rows$last GROUP BY cell),
       |$resid,
       |${pqCtes.mkString(",\n")},
       |up AS (SELECT vec_id + 1000000 AS q_id, embedding AS q_emb
       |       FROM embeddings WHERE vec_id % 11 = 3),
       |qp AS (SELECT q_id, q_emb, cell FROM (
       |  SELECT u.q_id, u.q_emb, c.cell,
       |    row_number() OVER (PARTITION BY u.q_id
       |      ORDER BY ($routeDist) ASC, c.cell ASC) AS rk
       |  FROM up u CROSS JOIN centN c) WHERE rk <= $probe),
       |qr AS (SELECT p.q_id, p.cell,
       |  list_transform(p.q_emb, (rx, ri) ->
       |    CAST(CAST(rx AS DOUBLE) - c.cent[ri] AS FLOAT)) AS q_res
       |  FROM qp p JOIN cent${last - 1} c ON p.cell = c.cell),
       |sc AS (SELECT q.q_id, r.vec_id AS n_id, ($dists) AS adc
       |       FROM resid r JOIN qr q ON r.cell = q.cell
       |                          AND r.vec_id != q.q_id
       |$codeJoins),
       |short AS (SELECT q_id, n_id FROM (
       |  SELECT q_id, n_id, row_number() OVER (PARTITION BY q_id
       |    ORDER BY adc ASC, n_id ASC) AS srk FROM sc) WHERE srk <= $shortlist)
       |SELECT q_id, n_id, sim, rank FROM (
       |  SELECT s.q_id, s.n_id,
       |    ${cosineSql("u.q_emb", "e.embedding")} AS sim,
       |    row_number() OVER (PARTITION BY s.q_id
       |      ORDER BY ${cosineSql("u.q_emb", "e.embedding")} DESC,
       |               s.n_id ASC) AS rank
       |  FROM short s JOIN up u ON s.q_id = u.q_id
       |               JOIN embeddings e ON e.vec_id = s.n_id)
       |WHERE rank <= $k""".stripMargin
  }

  /** Shared CTE chain for the append-lifecycle oracles (v49, s63):
    * `merged` = base assignment minus the re-ingested ids, union BOTH
    * arrival batches (fresh shifted ids; re-ingests with negated
    * embeddings) assigned against the same frozen centers — what the
    * appended index must resolve to under latest-wins. */
  private def indexAppendMergedCtes: String = {
    val last = KMEANS_ITERS
    def d(x: String) = s"CAST($x AS DOUBLE)"
    val dist = O.dfold(
      s"list_transform(u.embedding, (kx, ki) -> (${d("kx")} - c.cent[ki]) * (${d("kx")} - c.cent[ki]))")
    s"""${kmeansCtesSql(KMEANS_K, last)},
       |up AS (SELECT vec_id + 1000000 AS vec_id, embedding
       |       FROM embeddings WHERE vec_id % 7 = 3
       |       UNION ALL
       |       SELECT vec_id, list_transform(embedding, x -> -x) AS embedding
       |       FROM embeddings WHERE vec_id % 13 = 4),
       |upa AS (SELECT vec_id, cell FROM (
       |  SELECT u.vec_id, c.cell,
       |    row_number() OVER (PARTITION BY u.vec_id
       |      ORDER BY ($dist) ASC, c.cell ASC) AS rk
       |  FROM up u CROSS JOIN cent${last - 1} c) WHERE rk = 1),
       |merged AS (
       |  SELECT vec_id, cell FROM assign$last WHERE vec_id % 13 != 4
       |  UNION ALL SELECT vec_id, cell FROM upa)""".stripMargin
  }

  /** The v49 oracle: the version-resolved readback of the appended
    * index. */
  def indexAppendOracle: String =
    s"""WITH $indexAppendMergedCtes
       |SELECT vec_id, cell FROM merged""".stripMargin

  /** The v51 oracle: the v49 merged semantics restricted to the
    * RE-INGEST leg only (the streamed slice) — base assignment minus
    * the re-ingested ids, union those ids re-assigned with their
    * negated embeddings against the same frozen centers. */
  def streamAppendOracle: String = {
    val last = KMEANS_ITERS
    def d(x: String) = s"CAST($x AS DOUBLE)"
    val dist = O.dfold(
      s"list_transform(u.embedding, (kx, ki) -> (${d("kx")} - c.cent[ki]) * (${d("kx")} - c.cent[ki]))")
    s"""WITH ${kmeansCtesSql(KMEANS_K, last)},
       |up AS (SELECT vec_id, list_transform(embedding, x -> -x) AS embedding
       |       FROM embeddings WHERE vec_id % 13 = 4),
       |upa AS (SELECT vec_id, cell FROM (
       |  SELECT u.vec_id, c.cell,
       |    row_number() OVER (PARTITION BY u.vec_id
       |      ORDER BY ($dist) ASC, c.cell ASC) AS rk
       |  FROM up u CROSS JOIN cent${last - 1} c) WHERE rk = 1)
       |SELECT vec_id, cell FROM assign$last WHERE vec_id % 13 != 4
       |UNION ALL SELECT vec_id, cell FROM upa""".stripMargin
  }

  /** The s63 oracle: the post-compact per-cell occupancy — a k-row
    * GROUP BY over the same merged semantics (correct counts require
    * the global cross-cell dedupe compact performs). */
  def indexAppendCountsOracle: String =
    s"""WITH $indexAppendMergedCtes
       |SELECT cell, CAST(count(*) AS BIGINT) AS n_vecs
       |FROM merged GROUP BY cell""".stripMargin

  /** The v47/v48 oracle: the base corpus's final Lloyd assignment
    * UNION the shifted streamed slice assigned against the same
    * frozen centers — what the upserted index must read back as. */
  def indexUpsertOracle: String = {
    val last = KMEANS_ITERS
    def d(x: String) = s"CAST($x AS DOUBLE)"
    val dist = O.dfold(
      s"list_transform(u.embedding, (kx, ki) -> (${d("kx")} - c.cent[ki]) * (${d("kx")} - c.cent[ki]))")
    s"""WITH ${kmeansCtesSql(KMEANS_K, last)},
       |up AS (SELECT vec_id + 1000000 AS vec_id, embedding
       |       FROM embeddings WHERE vec_id % 7 = 3),
       |upa AS (SELECT vec_id, cell FROM (
       |  SELECT u.vec_id, c.cell,
       |    row_number() OVER (PARTITION BY u.vec_id
       |      ORDER BY ($dist) ASC, c.cell ASC) AS rk
       |  FROM up u CROSS JOIN cent${last - 1} c) WHERE rk = 1)
       |SELECT vec_id, cell FROM assign$last
       |UNION ALL SELECT vec_id, cell FROM upa""".stripMargin
  }

  /** The s60/s61 oracle: an EXTERNAL query batch (the embeddings
    * slice vec_id % 11 = 3 with ids shifted by 1e6 — exactly the
    * parquet batch the gate writes) routed to its `probe` nearest
    * exact cell MEANs of the index (centN ≡ the VecMeanAgg refresh
    * means the `_centers` sidecar persists, Det-decimal per
    * dimension), then exact cosine within the probed cells, one rank
    * per query across all of them. */
  def serveQueryOracle(k: Int, probe: Int = 1): String = {
    val last = KMEANS_ITERS
    def d(x: String) = s"CAST($x AS DOUBLE)"
    val routeDist = O.dfold(
      s"list_transform(u.q_emb, (kx, ki) -> (${d("kx")} - c.cent[ki]) * (${d("kx")} - c.cent[ki]))")
    s"""WITH ${kmeansCtesSql(KMEANS_K, last)},
       |centN AS (SELECT cell, list(c ORDER BY pos) AS cent
       |          FROM rows$last GROUP BY cell),
       |up AS (SELECT vec_id + 1000000 AS q_id, embedding AS q_emb
       |       FROM embeddings WHERE vec_id % 11 = 3),
       |qp AS (SELECT q_id, q_emb, cell FROM (
       |  SELECT u.q_id, u.q_emb, c.cell,
       |    row_number() OVER (PARTITION BY u.q_id
       |      ORDER BY ($routeDist) ASC, c.cell ASC) AS rk
       |  FROM up u CROSS JOIN centN c) WHERE rk <= $probe)
       |SELECT q_id, n_id, sim, rank FROM (
       |  SELECT q.q_id, a.vec_id AS n_id,
       |    ${cosineSql("q.q_emb", "a.embedding")} AS sim,
       |    row_number() OVER (PARTITION BY q.q_id
       |      ORDER BY ${cosineSql("q.q_emb", "a.embedding")} DESC,
       |               a.vec_id ASC) AS rank
       |  FROM assign$last a JOIN qp q ON a.cell = q.cell
       |                          AND a.vec_id != q.q_id)
       |WHERE rank <= $k""".stripMargin
  }

  /** The v45 serving oracle at top-`k` — shared with the dialect
    * `serve` statement's gate (the statement lowers to the same
    * IvfIndex.serve over the same layout). */
  def partitionedServeSql(k: Int): String = {
    val last = KMEANS_ITERS
    s"""WITH ${kmeansCtesSql(KMEANS_K, last)},
       |q AS (SELECT vec_id AS q_id, embedding AS q_emb, cell
       |      FROM assign$last WHERE vec_id < 5)
       |SELECT q_id, n_id, sim, rank FROM (
       |  SELECT q.q_id, a.vec_id AS n_id,
       |    ${cosineSql("q.q_emb", "a.embedding")} AS sim,
       |    row_number() OVER (PARTITION BY q.q_id
       |      ORDER BY ${cosineSql("q.q_emb", "a.embedding")} DESC,
       |               a.vec_id ASC) AS rank
       |  FROM assign$last a JOIN q ON a.cell = q.cell
       |                          AND a.vec_id != q.q_id)
       |WHERE rank <= $k""".stripMargin
  }

  /** v26's builder on an arbitrary (vec_id, embedding) frame: Hamming top-k over the packed sign-bit codes
    * for the vec_id < 5 query panel. The corpus side scans 16 bytes
    * per vector; distance is two XOR+popcount ops; WindowGroupLimit
    * prunes to k per query pre-shuffle. */
  def hammingTopk(e: DataFrame, k: Int): DataFrame = {
    val codes = e.select(col("vec_id"),
      binaryCode(col("embedding"), 0, 32).as("lo"),
      binaryCode(col("embedding"), 32, 32).as("hi"))
    val q = codes.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("lo").as("q_lo"), col("hi").as("q_hi"))
    val sims = codes
      .select(col("vec_id").as("n_id"), col("lo"), col("hi"))
      .join(broadcast(q), col("q_id") =!= col("n_id"))
      .select(col("q_id"), col("n_id"),
        (bit_count(col("lo").bitwiseXOR(col("q_lo"))) +
          bit_count(col("hi").bitwiseXOR(col("q_hi")))).cast(LongType).as("hamming"))
    topKByMetric(sims, "hamming", k, asc = true)
  }

  /** v31's builder: Hamming shortlist → exact-cosine re-rank. The
    * shortlist join gathers float vectors only for shortlist rows. */
  def hammingRerank(e: DataFrame, shortlist: Int, k: Int): DataFrame = {
    val short = hammingTopk(e, shortlist).select(col("q_id"), col("n_id"))
    val qv = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    // The shortlist (≤ shortlist·q rows) is broadcast explicitly:
    // Catalyst's static size estimate for a window-derived frame is
    // the child SCAN's, so without the hint this plans as a
    // sort-merge join that shuffle-writes the full float corpus —
    // exactly the cost the two-stage shape exists to avoid.
    val scored = e.select(col("vec_id").as("n_id"), col("embedding").as("n_emb"))
      .join(broadcast(short), "n_id")
      .join(broadcast(qv), "q_id")
      .select(col("q_id"), col("n_id"),
        cosine(col("q_emb"), col("n_emb")).as("sim"))
    topKByMetric(scored, "sim", k, asc = false)
  }

  /** v36's builder: [[hammingRerank]] with the corpus side restricted
    * to label = 1 BEFORE the codes join — the filter lands on the
    * 16-byte codes scan (parquet-pushed), so a selective predicate
    * shrinks every downstream stage instead of starving the final
    * top-k. Queries stay the unfiltered vec_id < 5 panel; the float
    * gather inherits the restriction through the shortlist ids. */
  def filteredHammingRerank(e: DataFrame, shortlist: Int, k: Int): DataFrame = {
    val codes = e.select(col("vec_id"), col("label"),
      binaryCode(col("embedding"), 0, 32).as("lo"),
      binaryCode(col("embedding"), 32, 32).as("hi"))
    val q = codes.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("lo").as("q_lo"), col("hi").as("q_hi"))
    val sims = codes.filter(col("label") === 1)
      .select(col("vec_id").as("n_id"), col("lo"), col("hi"))
      .join(broadcast(q), col("q_id") =!= col("n_id"))
      .select(col("q_id"), col("n_id"),
        (bit_count(col("lo").bitwiseXOR(col("q_lo"))) +
          bit_count(col("hi").bitwiseXOR(col("q_hi")))).cast(LongType).as("hamming"))
    val short = topKByMetric(sims, "hamming", shortlist, asc = true)
      .select(col("q_id"), col("n_id"))
    val qv = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    // Same explicit broadcasts as [[hammingRerank]] — the shortlist is
    // heap-derived, so Catalyst's static estimate would SMJ it.
    val scored = e.select(col("vec_id").as("n_id"), col("embedding").as("n_emb"))
      .join(broadcast(short), "n_id")
      .join(broadcast(qv), "q_id")
      .select(col("q_id"), col("n_id"),
        cosine(col("q_emb"), col("n_emb")).as("sim"))
    topKByMetric(scored, "sim", k, asc = false)
  }

  /** v37's builder: the two-stage shape with a PER-QUERY label
    * predicate (neighbor label ≠ query label) — hard-negative mining.
    * The predicate rides the broadcast codes join as a pair condition
    * (each corpus row still meets only the 5-row query panel, never a
    * cartesian); the float gather stays shortlist-bounded. */
  def hardNegatives(e: DataFrame, shortlist: Int, k: Int): DataFrame = {
    val codes = e.select(col("vec_id"), col("label"),
      binaryCode(col("embedding"), 0, 32).as("lo"),
      binaryCode(col("embedding"), 32, 32).as("hi"))
    val q = codes.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("label").as("q_label"),
        col("lo").as("q_lo"), col("hi").as("q_hi"))
    val sims = codes
      .select(col("vec_id").as("n_id"), col("label"), col("lo"), col("hi"))
      .join(broadcast(q),
        col("q_id") =!= col("n_id") && col("label") =!= col("q_label"))
      .select(col("q_id"), col("n_id"),
        (bit_count(col("lo").bitwiseXOR(col("q_lo"))) +
          bit_count(col("hi").bitwiseXOR(col("q_hi")))).cast(LongType).as("hamming"))
    val short = topKByMetric(sims, "hamming", shortlist, asc = true)
      .select(col("q_id"), col("n_id"))
    val qv = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val scored = e.select(col("vec_id").as("n_id"), col("embedding").as("n_emb"))
      .join(broadcast(short), "n_id")
      .join(broadcast(qv), "q_id")
      .select(col("q_id"), col("n_id"),
        cosine(col("q_emb"), col("n_emb")).as("sim"))
    topKByMetric(scored, "sim", k, asc = false)
  }

  /** DuckDB mirror of [[hardNegatives]]. */
  def hardNegativesSql(shortlist: Int, k: Int): String =
    s"""WITH codes AS (SELECT vec_id, label, ${binaryCodeSql(0, 32)} AS lo,
       |  ${binaryCodeSql(32, 32)} AS hi FROM embeddings),
       |hq AS (SELECT vec_id AS q_id, label AS q_label,
       |              lo AS q_lo, hi AS q_hi
       |       FROM codes WHERE vec_id < 5),
       |hsims AS (SELECT q_id, vec_id AS n_id,
       |  CAST(bit_count(xor(lo, q_lo)) + bit_count(xor(hi, q_hi)) AS BIGINT) AS hamming
       |  FROM codes JOIN hq ON q_id != vec_id AND label != q_label),
       |short AS (SELECT q_id, n_id FROM
       |  (SELECT q_id, n_id, row_number() OVER
       |     (PARTITION BY q_id ORDER BY hamming ASC, n_id ASC) AS rank
       |   FROM hsims) WHERE rank <= $shortlist),
       |qv AS (SELECT vec_id AS q_id, embedding AS q_emb
       |       FROM embeddings WHERE vec_id < 5),
       |scored AS (SELECT s.q_id, s.n_id,
       |  ${cosineSql("qv.q_emb", "n.embedding")} AS sim
       |  FROM short s JOIN embeddings n ON s.n_id = n.vec_id
       |  JOIN qv ON s.q_id = qv.q_id)
       |SELECT q_id, n_id, sim, rank FROM
       |(SELECT q_id, n_id, sim, CAST(row_number() OVER
       |   (PARTITION BY q_id ORDER BY sim DESC, n_id ASC) AS BIGINT) AS rank
       | FROM scored) WHERE rank <= $k""".stripMargin

  /** DuckDB mirror of [[filteredHammingRerank]]. */
  def filteredHammingRerankSql(shortlist: Int, k: Int): String =
    s"""WITH codes AS (SELECT vec_id, label, ${binaryCodeSql(0, 32)} AS lo,
       |  ${binaryCodeSql(32, 32)} AS hi FROM embeddings),
       |hq AS (SELECT vec_id AS q_id, lo AS q_lo, hi AS q_hi
       |       FROM codes WHERE vec_id < 5),
       |hsims AS (SELECT q_id, vec_id AS n_id,
       |  CAST(bit_count(xor(lo, q_lo)) + bit_count(xor(hi, q_hi)) AS BIGINT) AS hamming
       |  FROM codes JOIN hq ON q_id != vec_id
       |  WHERE label = 1),
       |short AS (SELECT q_id, n_id FROM
       |  (SELECT q_id, n_id, row_number() OVER
       |     (PARTITION BY q_id ORDER BY hamming ASC, n_id ASC) AS rank
       |   FROM hsims) WHERE rank <= $shortlist),
       |qv AS (SELECT vec_id AS q_id, embedding AS q_emb
       |       FROM embeddings WHERE vec_id < 5),
       |scored AS (SELECT s.q_id, s.n_id,
       |  ${cosineSql("qv.q_emb", "n.embedding")} AS sim
       |  FROM short s JOIN embeddings n ON s.n_id = n.vec_id
       |  JOIN qv ON s.q_id = qv.q_id)
       |SELECT q_id, n_id, sim, rank FROM
       |(SELECT q_id, n_id, sim, CAST(row_number() OVER
       |   (PARTITION BY q_id ORDER BY sim DESC, n_id ASC) AS BIGINT) AS rank
       | FROM scored) WHERE rank <= $k""".stripMargin

  /** DuckDB mirror of [[hammingRerank]]. */
  def hammingRerankSql(shortlist: Int, k: Int): String =
    s"""WITH codes AS (SELECT vec_id, ${binaryCodeSql(0, 32)} AS lo,
       |  ${binaryCodeSql(32, 32)} AS hi FROM embeddings),
       |hq AS (SELECT vec_id AS q_id, lo AS q_lo, hi AS q_hi
       |       FROM codes WHERE vec_id < 5),
       |hsims AS (SELECT q_id, vec_id AS n_id,
       |  CAST(bit_count(xor(lo, q_lo)) + bit_count(xor(hi, q_hi)) AS BIGINT) AS hamming
       |  FROM codes JOIN hq ON q_id != vec_id),
       |short AS (SELECT q_id, n_id FROM
       |  (SELECT q_id, n_id, row_number() OVER
       |     (PARTITION BY q_id ORDER BY hamming ASC, n_id ASC) AS rank
       |   FROM hsims) WHERE rank <= $shortlist),
       |qv AS (SELECT vec_id AS q_id, embedding AS q_emb
       |       FROM embeddings WHERE vec_id < 5),
       |scored AS (SELECT s.q_id, s.n_id,
       |  ${cosineSql("qv.q_emb", "n.embedding")} AS sim
       |  FROM short s JOIN embeddings n ON s.n_id = n.vec_id
       |  JOIN qv ON s.q_id = qv.q_id)
       |SELECT q_id, n_id, sim, rank FROM
       |(SELECT q_id, n_id, sim, CAST(row_number() OVER
       |   (PARTITION BY q_id ORDER BY sim DESC, n_id ASC) AS BIGINT) AS rank
       | FROM scored) WHERE rank <= $k""".stripMargin

  /** v25's builder on an arbitrary (vec_id, embedding) frame — shared
    * with the dialect `quantize` statement: the two packed sign-bit
    * halves of the first 64 dims. Pure per-row fold, zero exchanges;
    * dims past a short vector's end contribute 0-bits (the `get`
    * null-dispatch below — same contract as the DuckDB mirror's
    * out-of-bounds NULL → CASE → 0, so arbitrary user tables behave
    * identically in both engines instead of ANSI-erroring in one). */
  def binaryCodes(e: DataFrame): DataFrame =
    e.select(col("vec_id"),
      binaryCode(col("embedding"), 0, 32).as("code_lo"),
      binaryCode(col("embedding"), 32, 32).as("code_hi"))

  /** DuckDB mirror of [[binaryCodes]] over `embeddings` (a def, not a
    * val — `all` above interpolates it at object init). */
  def binaryCodesOracle: String =
    s"""SELECT vec_id, ${binaryCodeSql(0, 32)} AS code_lo,
       |${binaryCodeSql(32, 32)} AS code_hi
       |FROM embeddings""".stripMargin

  /** Sign-bit code of dims [from, from+n): MSB-first fold acc*2+bit,
    * bit = (dim > 0). Mirrored verbatim by [[binaryCodeSql]]. `get`
    * (0-based, NULL out of bounds) rather than ANSI element_at so a
    * <64-dim vector yields 0-bits exactly like the oracle's
    * out-of-bounds NULL, instead of a runtime error only on Spark. */
  def binaryCode(emb: Column, from: Int, n: Int): Column =
    aggregate(
      transform(sequence(lit(from), lit(from + n - 1)),
        i => when(get(emb,
          i.cast(org.apache.spark.sql.types.IntegerType)) > 0f,
          lit(1L)).otherwise(lit(0L))),
      lit(0L), (acc, b) => acc * lit(2L) + b)

  /** DuckDB mirror of [[binaryCode]] (1-based list indexing). */
  def binaryCodeSql(from: Int, n: Int, emb: String = "embedding"): String =
    s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
       |  list_transform(range($from, ${from + n}), bi ->
       |    CASE WHEN $emb[bi + 1] > 0 THEN CAST(1 AS BIGINT)
       |         ELSE CAST(0 AS BIGINT) END)),
       |  (ba, bb) -> ba * 2 + bb)""".stripMargin

  /** v18's builder on an arbitrary (vec_id, embedding) frame; queries
    * stay the 5 ids vec_id < 5, so on a scaled corpus the query count
    * holds fixed while the candidate side grows. */
  def mipsTopk(e: DataFrame): DataFrame = {
    val q = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val c = e.select(col("vec_id").as("n_id"), col("embedding").as("n_emb"))
    // the native ascending-fold dot (bit-equal to the HOF
    // fold(zip_with) it replaces, VectorExprsSpec) keeps the
    // per-(query × candidate) scan inside codegen
    val scores = c.join(broadcast(q), col("q_id") =!= col("n_id"))
      .select(col("q_id"), col("n_id"),
        graft.functions.VectorExprs.dot_native(
          col("q_emb"), col("n_emb")).as("ip"))
    topKByMetric(scores, "ip", 10, asc = false)
  }

  /** v17's builder on an arbitrary (vec_id, embedding) frame.
    * Two-step select: the RP_OUT element_at reads reference ONE
    * evaluation of the projection loop (CollapseProject keeps
    * multiply-referenced non-cheap aliases un-inlined). */
  def randomProjection(e: DataFrame): DataFrame =
    e.select(col("vec_id"), graft.functions.VectorExprs
        .random_project(col("embedding"), RP_OUT).as("p"))
      .select(col("vec_id") +: (0 until RP_OUT).map(j =>
        element_at(col("p"), j + 1).as(s"p$j")): _*)

  /** Interpreted HOF mirror of VectorExprs.random_project — spec pin
    * only (RandomProjectSpec asserts bit-equality with the native
    * expression, mirroring the cosine/lshBucket pins). */
  def randomProjectHof(v: Column, outDims: Int = RP_OUT): Column =
    array((0 until outDims).map { j =>
      val signed = transform(v, (x, i) =>
        when(((lit(j * 64L) + i.cast(LongType)) * lit(2654435761L)
          % lit(1000003L)) % lit(2L) === 0L,
          x.cast(DoubleType)).otherwise(-x.cast(DoubleType)))
      fold(signed) / lit(math.sqrt(outDims.toDouble))
    }: _*)

  /** SQ encode internals shared by v14 (codes gate) and v16 (search):
    * per-dim min/max joined back, mid-rise code + dequantized value
    * per (vec, dim). ONE definition of the quantization contract. */
  def sqEnc(e: DataFrame): DataFrame = {
    val dims = e
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("pos", "xf")))
      .select(col("vec_id"), col("pos"), col("xf").cast(DoubleType).as("x"))
    val stats = dims.groupBy(col("pos")).agg(
      min(col("x")).as("lo"), max(col("x")).as("hi"))
    val span = col("hi") - col("lo")
    val code = when(span === lit(0.0), lit(0L)).otherwise(
      least(lit(255L),
        floor((col("x") - col("lo")) / span * lit(256.0)).cast(LongType)))
    dims.join(broadcast(stats), "pos")
      .withColumn("code", code)
      .withColumn("deq", col("lo") + (col("code").cast(DoubleType) + lit(0.5)) *
        (span / lit(256.0)))
  }

  /** DuckDB mirror of [[sqEnc]]: CTE chain ending in
    * `enc(vec_id, pos, x, lo, hi, code)` — shared by v14/v16 oracles. */
  def sqEncSql: String =
    """dims AS (SELECT vec_id,
      |    CAST(unnest(embedding) AS DOUBLE) AS x,
      |    unnest(range(len(embedding))) AS pos FROM embeddings),
      |stats AS (SELECT pos, min(x) AS lo, max(x) AS hi
      |          FROM dims GROUP BY pos),
      |enc AS (SELECT vec_id, pos, x, lo, hi,
      |  CASE WHEN hi - lo = 0.0 THEN 0
      |       ELSE least(255, CAST(floor((x - lo) / (hi - lo) * 256.0)
      |                        AS BIGINT)) END AS code
      |  FROM dims JOIN stats USING (pos))""".stripMargin

  /** v14's builder on an arbitrary (vec_id, embedding) frame. */
  def sqCodes(e: DataFrame): DataFrame = {
    val err = (col("x") - col("deq")) * (col("x") - col("deq"))
    sqEnc(e)
      .groupBy(col("vec_id"))
      .agg(sum(col("code")).as("sum_code"),
        (sum(err.cast(graft.core.Det.dec)).cast(DoubleType) /
          count(lit(1)).cast(DoubleType)).as("mse"))
  }

  /** v15's builder on an arbitrary (vec_id, embedding) frame. */
  def embedNormalize(e: DataFrame): DataFrame = {
    val dims = e
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("pos", "xf")))
      .select(col("vec_id"), col("pos"), col("xf").cast(DoubleType).as("x"))
    val means = dims.groupBy(col("pos"))
      .agg(graft.core.Det.davg(col("x")).as("mu"))
    val c = col("x") - col("mu")
    val centered = dims.join(broadcast(means), "pos")
      .select(col("vec_id"), col("pos"), c.as("c"))
    val l2 = sqrt(sum((col("c") * col("c")).cast(graft.core.Det.dec))
      .cast(DoubleType))
    centered.groupBy(col("vec_id"))
      .agg(l2.as("l2"),
        sum(col("c").cast(graft.core.Det.dec)).cast(DoubleType).as("sum_c"))
      .select(col("vec_id"), col("l2"), (col("sum_c") / col("l2")).as("sum_unit"),
        (col("l2") > lit(0.0)).as("norm_ok"))
  }

  /** Residual of an arbitrary vector column against a literal center
    * (float-rounded like [[residExpr]]). */
  private def residExprOn(emb: Column, c: Array[Double]): Column =
    zip_with(emb, array(c.map(lit(_)): _*),
      (x, y) => (x.cast(DoubleType) - y).cast(FloatType))

  /** Residual of an embedding column against a driver-side center,
    * rounded back to float — the shared residual shape of IVF-PQ
    * codes and ADC queries (both engines round the same IEEE double
    * difference to the same float). Public for the persisted-index
    * lifecycle (IvfIndex.withCodes / servePq). */
  def residualAgainst(emb: Column, c: Array[Double]): Column =
    residExprOn(emb, c)

  /** Residual vectors for IVF-PQ: each vector minus its coarse-cell
    * centroid, rounded back to float (both engines round the same
    * IEEE double difference to the same float). Centers arrive as
    * driver-side literals, so this is one narrow pass. */
  def residuals(assigned: DataFrame, centers: Seq[(Int, Array[Double])]): DataFrame = {
    val res = centers.tail.foldLeft(
      when(col("cell") === centers.head._1.toLong,
        residExpr(centers.head._2))) {
      case (w, (j, c)) => w.when(col("cell") === j.toLong, residExpr(c))
    }
    assigned.select(col("vec_id"), col("cell"), res.as("embedding"))
  }

  private def residExpr(c: Array[Double]): Column =
    zip_with(col("embedding"), array(c.map(lit(_)): _*),
      (x, y) => (x.cast(DoubleType) - y).cast(FloatType))

  /** IVF-PQ codes — the canonical billion-scale ANN layout: a coarse
    * quantizer routes each vector to a cell (the inverted list), PQ
    * codebooks are trained on the RESIDUALS (vector − cell centroid;
    * residual energy ≪ vector energy, so the same code budget buys
    * more precision), and each vector stores (cell, M codes). One
    * coarse fit + assignment, one narrow residual pass, then the
    * fused PQ encode — all reusing the gated Lloyd/PQ machinery. */
  def ivfPqCodes(e: DataFrame, dim: Int, coarseK: Int = KMEANS_K,
      m: Int = PQ_M, k: Int = PQ_K, iters: Int = KMEANS_ITERS): DataFrame = {
    val coarse = kmeansFit(e, coarseK, iters - 1)
    val resid = Materialize.reuse(residuals(kmeansAssign(e, coarse), coarse))
    val codes = pqCodes(resid.select(col("vec_id"), col("embedding")), dim, m, k, iters)
    // (pqCodes' count() of the 1:1 residual frame hits the cache)
    // the PQ fits inside pqCodes were the multi-read consumer; drop the
    // cache so repeated runs in one JVM don't pile up resident copies
    Materialize.release(resid)
    codes
      .join(resid.select(col("vec_id"), col("cell")), "vec_id")
      .select(col("vec_id"), col("cell"), col("sub"), col("code"))
  }

  def ivfPqCodesSql(dim: Int, coarseK: Int = KMEANS_K, m: Int = PQ_M,
      k: Int = PQ_K, iters: Int = KMEANS_ITERS): String = {
    val dSub = dim / m
    val resid =
      s"""resid AS (SELECT a.vec_id, a.cell,
         |  list_transform(a.embedding, (rx, ri) ->
         |    CAST(CAST(rx AS DOUBLE) - c.cent[ri] AS FLOAT)) AS embedding
         |  FROM assign$iters a JOIN cent${iters - 1} c ON a.cell = c.cell)""".stripMargin
    val pqCtes = (0 until m).map { s =>
      kmeansCtesSql(k, iters, prefix = s"s${s}_",
        src = s"SELECT vec_id, embedding[${s * dSub + 1}:${(s + 1) * dSub}] AS embedding FROM resid")
    }
    val unions = (0 until m).map { s =>
      s"SELECT vec_id, CAST($s AS BIGINT) AS sub, cell AS code FROM s${s}_assign$iters"
    }
    s"""WITH ${kmeansCtesSql(coarseK, iters)},
       |$resid,
       |${pqCtes.mkString(",\n")},
       |codes AS (${unions.mkString("\nUNION ALL\n")})
       |SELECT codes.vec_id, r.cell, codes.sub, codes.code
       |FROM codes JOIN resid r ON codes.vec_id = r.vec_id""".stripMargin
  }

  /** ADC scores (q_id, n_id, adc) of every query × database-code pair —
    * the shared core of v10/v11. Codebooks from the same deterministic
    * per-subspace fit v09 encodes with. */
  def pqAdcScores(s: SparkSession, dir: String): DataFrame = {
    val dim = 64; val m = PQ_M; val dSub = dim / m
    val k = PQ_K; val iters = KMEANS_ITERS
    val e = Tables(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
    val codebooks = pqCodebooks(e, dim, m, k, iters) // batched sub-fits
    val codeCols = (0 until m).map(ss =>
      graft.functions.VectorExprs.nearest_centroid(
        col("embedding"), codebooks(ss), dSub, ss * dSub).as(s"c$ss"))
    val db = e.filter(col("vec_id") >= 5)
      .select(col("vec_id").as("n_id") +: codeCols: _*)
    val q = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    // ADC = Σ_s dist(q window s, centroid named by code_s): native
    // codegen'd lookups, summed left-to-right like the oracle
    val adc = (0 until m).map { ss =>
      graft.functions.VectorExprs.centroid_dist(
        col("q_emb"), col(s"c$ss"), codebooks(ss), dSub, ss * dSub)
    }.reduce(_ + _)
    db.join(broadcast(q)).select(col("q_id"), col("n_id"), adc.as("adc"))
  }

  /** WITH-clause body ending in `sc` (q_id, n_id, adc) — the DuckDB
    * mirror of [[pqAdcScores]]. */
  def pqAdcScoresSql(): String = {
    val dim = 64; val m = PQ_M; val dSub = dim / m
    val iters = KMEANS_ITERS
    val ctes = (0 until m).map { ss =>
      kmeansCtesSql(PQ_K, iters, prefix = s"s${ss}_",
        src = s"SELECT vec_id, embedding[${ss * dSub + 1}:${(ss + 1) * dSub}] AS embedding FROM embeddings")
    }
    val dbJoins = (1 until m).map(ss =>
      s"JOIN s${ss}_assign$iters a$ss USING (vec_id)").mkString(" ")
    val centJoins = (0 until m).map(ss =>
      s"JOIN s${ss}_cent${iters - 1} t$ss ON t$ss.cell = db.c$ss").mkString("\n")
    val dists = (0 until m).map { ss =>
      O.dfold(s"""list_transform(q.q_emb[${ss * dSub + 1}:${(ss + 1) * dSub}],
         | (kx, ki) -> (CAST(kx AS DOUBLE) - t$ss.cent[ki]) * (CAST(kx AS DOUBLE) - t$ss.cent[ki]))""".stripMargin)
    }.mkString(" + ")
    s"""${ctes.mkString(",\n")},
       |db AS (SELECT vec_id AS n_id, ${(0 until m).map(ss => s"a$ss.cell AS c$ss").mkString(", ")}
       |       FROM s0_assign$iters a0 $dbJoins WHERE vec_id >= 5),
       |q AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings WHERE vec_id < 5),
       |sc AS (SELECT q.q_id, db.n_id, $dists AS adc
       |       FROM db CROSS JOIN q
       |$centJoins)""".stripMargin
  }

  /** Full IVF-PQ search scores (q_id, n_id, adc) — the shared core of
    * v13 and its two-stage twin v33: queries probe their top-2 coarse
    * cells (multi-probe), the query RESIDUAL against each probed
    * centroid is formed once per probe, and ADC runs against only the
    * codes stored in those cells — the scan side touches codes, never
    * raw vectors, and only ~nprobe/K of them. */
  def ivfPqAdcScores(e: DataFrame): DataFrame = {
    val dim = 64; val m = PQ_M; val dSub = dim / m
    val iters = KMEANS_ITERS
    val n = e.count() // one count shared by every sample threshold
    val coarse = kmeansFit(e, KMEANS_K, iters - 1, n)
    val resid = Materialize.reuse(residuals(kmeansAssign(e, coarse), coarse))
    val codebooks = pqCodebooks( // batched sub-fits over the residuals
      resid.select(col("vec_id"), col("embedding")), dim, m, PQ_K, iters)
    // the eager fit loops above were the multi-read consumer; drop
    // the cache now so a long-lived session doesn't accumulate one
    // resident copy per run (the plan below recomputes the narrow
    // residual pass once at execution)
    Materialize.release(resid)
    val codeCols = (0 until m).map(ss =>
      graft.functions.VectorExprs.nearest_centroid(
        col("embedding"), codebooks(ss), dSub, ss * dSub).as(s"c$ss"))
    val db = resid.filter(col("vec_id") >= 5)
      .select(col("vec_id").as("n_id") +: col("cell").as("n_cell") +: codeCols: _*)
    // query side: top-2 coarse cells by (dist, cell), then the
    // residual against each probed centroid — tiny, broadcast
    val cellStructs = coarse.map { case (j, c) =>
      struct(sqDistHof(col("embedding"), c).as("d"), lit(j.toLong).as("cl"))
    }
    val probes = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        explode(slice(array_sort(array(cellStructs: _*)), 1, 2))
          .as("p"))
      .select(col("q_id"), col("q_emb"), col("p.cl").as("pcell"))
    val qres = coarse.tail.foldLeft(
      when(col("pcell") === coarse.head._1.toLong,
        residExprOn(col("q_emb"), coarse.head._2))) {
      case (w, (j, c)) => w.when(col("pcell") === j.toLong,
        residExprOn(col("q_emb"), c))
    }
    val qSide = probes.select(col("q_id"), col("pcell"), qres.as("q_res"))
    val adc = (0 until m).map { ss =>
      graft.functions.VectorExprs.centroid_dist(
        col("q_res"), col(s"c$ss"), codebooks(ss), dSub, ss * dSub)
    }.reduce(_ + _)
    db.join(broadcast(qSide), col("n_cell") === col("pcell"))
      .select(col("q_id"), col("n_id"), adc.as("adc"))
  }

  /** v33's builder: residual-ADC shortlist over [[ivfPqAdcScores]] →
    * broadcast gather of raw floats for the ~shortlist·q rows →
    * exact-cosine re-rank to top-k. */
  def ivfPqRerank(e: DataFrame, shortlist: Int, k: Int): DataFrame = {
    val short = topKByMetric(ivfPqAdcScores(e), "adc", shortlist, asc = true)
      .select(col("q_id"), col("n_id"))
    val qv = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val scored = e.select(col("vec_id").as("n_id"), col("embedding").as("n_emb"))
      .join(broadcast(short), "n_id")
      .join(broadcast(qv), "q_id")
      .select(col("q_id"), col("n_id"),
        cosine(col("q_emb"), col("n_emb")).as("sim"))
    topKByMetric(scored, "sim", k, asc = false)
  }

  /** WITH-clause body ending in `sc` (q_id, n_id, adc) — the DuckDB
    * mirror of [[ivfPqAdcScores]]: v12's CTE chain up to `codes`, then
    * the search legs (probes → query residuals → per-cell ADC). No
    * leading WITH — callers interpolate into their own. */
  def ivfPqSearchCtes(): String = {
    val dim = 64; val m = PQ_M; val dSub = dim / m
    val iters = KMEANS_ITERS
    val base = ivfPqCodesSql(dim)
    val upToCodes = base.substring(0, base.indexOf("\nSELECT codes.vec_id"))
      .stripPrefix("WITH ")
    def cdist(cent: String) = O.dfold(
      s"list_transform(embedding, (kx, ki) -> (CAST(kx AS DOUBLE) - $cent[ki]) * (CAST(kx AS DOUBLE) - $cent[ki]))")
    val dists = (0 until m).map { ss =>
      O.dfold(s"""list_transform(q.q_res[${ss * dSub + 1}:${(ss + 1) * dSub}],
         | (kx, ki) -> (CAST(kx AS DOUBLE) - t$ss.cent[ki]) * (CAST(kx AS DOUBLE) - t$ss.cent[ki]))""".stripMargin)
    }.mkString(" + ")
    val centJoins = (0 until m).map(ss =>
      s"JOIN s${ss}_cent${iters - 1} t$ss ON t$ss.cell = dbw.c$ss").mkString("\n")
    s"""$upToCodes,
       |dbw AS (SELECT r.vec_id AS n_id, r.cell AS n_cell,
       |        ${(0 until m).map(ss => s"a$ss.cell AS c$ss").mkString(", ")}
       |        FROM resid r ${(0 until m).map(ss =>
                  s"JOIN s${ss}_assign$iters a$ss ON r.vec_id = a$ss.vec_id").mkString(" ")}
       |        WHERE r.vec_id >= 5),
       |probes AS (SELECT q_id, q_emb, pcell FROM
       |  (SELECT e.vec_id AS q_id, e.embedding AS q_emb, c.cell AS pcell,
       |     row_number() OVER (PARTITION BY e.vec_id
       |       ORDER BY ${cdist("c.cent")} ASC, c.cell ASC) AS rk
       |   FROM (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 5) e
       |   CROSS JOIN cent${iters - 1} c) WHERE rk <= 2),
       |q AS (SELECT p.q_id, p.pcell,
       |  list_transform(p.q_emb, (rx, ri) ->
       |    CAST(CAST(rx AS DOUBLE) - c.cent[ri] AS FLOAT)) AS q_res
       |  FROM probes p JOIN cent${iters - 1} c ON p.pcell = c.cell),
       |sc AS (SELECT q.q_id, dbw.n_id, $dists AS adc
       |       FROM dbw JOIN q ON dbw.n_cell = q.pcell
       |$centJoins)""".stripMargin
  }
}
