package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.{Det, Materialize, Tables}
import graft.functions.TextFunctions._
import graft.queries.{OracleSql => O}

/** Deduplication family over `documents` (SURVEY north-star ops):
  * exact (hash groupBy), MinHash+LSH banding, SimHash, n-gram Jaccard.
  *
  * Scale design: every variant is built from shuffle-on-key primitives
  * that distribute cleanly —
  *  - exact: one hash-partitioned groupBy on md5(text);
  *  - minhash/simhash/fingerprints: narrow per-row column algebra;
  *  - LSH banding: explode k/r band keys per doc, self-join on the
  *    band key (shuffle keyed by band hash — candidate pairs only,
  *    never the full n² cross product);
  *  - n-gram Jaccard: verification-stage exact measure, applied to the
  *    LSH candidate pairs (the full MinHash→LSH→verify pipeline);
  *  - embedding near-dup: pairs within random-hyperplane LSH buckets.
  */
object DedupQueries {
  private val K = 8          // minhash permutations
  private val BANDS = 4      // LSH bands (r = K/BANDS = 2 rows per band)
  private val SHINGLE = 3    // word-shingle width

  /** doc_id + minhash signature columns mh0..mh{K-1}.
    *
    * Two native codegen'd expressions (graft.functions.TextHashExprs):
    * text → token hashes in one pass, then a fused shingle+minhash
    * that feeds every n-window's rolling hash straight into the k
    * running minima — no shingle array, no interpreted HOF lambdas
    * anywhere on the hot path. (Round 1 staged HOF projections; the
    * fused native form is another ~3× on d02 and is the 100 TB shape.) */
  private def sigDF(s: SparkSession, dir: String): DataFrame =
    sigOf(Tables(s, dir, "documents"))

  /** DuckDB mirror of [[sigDF]] as a subquery string. */
  private def sigSql: String = {
    val th = O.tokenHashes("text")
    val shingles = O.shingles(SHINGLE)
    val mhs = (0 until K)
      .map(i => s"${O.minhash1("sh", hashA(i), hashB(i))} AS mh$i").mkString(",\n")
    s"""SELECT doc_id, $mhs FROM
       |(SELECT doc_id, $shingles AS sh FROM
       | (SELECT doc_id, $th AS th FROM documents))""".stripMargin
  }

  /** Scalar band key for band j: fold of the band's minhash rows. */
  private def bandKey(j: Int): Column =
    (col(s"mh${2 * j}") * lit(31L) + col(s"mh${2 * j + 1}")) % lit(P)
  private def bandKeySql(j: Int): String =
    s"(mh${2 * j} * 31 + mh${2 * j + 1}) % $P"

  /** LSH candidate pairs (doc_a < doc_b): explode band keys, self-join
    * keyed on (band, bkey) — the bounded candidate set both d03 (the
    * pairs themselves) and d04 (exact-Jaccard verification) consume.
    * This is the whole point of MinHash-LSH at scale: downstream
    * exact measures touch only these pairs, never n². The self-join
    * routes through [[graft.core.BucketGuard]]: a degenerate bucket
    * (boilerplate crawl sharing a band key) degrades to salted chunks
    * + a connectivity star instead of going quadratic. */
  private def candidatePairs(s: SparkSession, dir: String): DataFrame =
    candidatePairsOf(sigDF(s, dir))

  /** [[candidatePairs]] over an explicit signature frame (doc_id +
    * mh0..mh{K-1}) with a configurable hot-bucket threshold. */
  def candidatePairsOf(sig: DataFrame,
      maxBucket: Int = graft.core.BucketGuard.DefaultMaxBucket): DataFrame =
    graft.core.BucketGuard.boundedPairs(bandedOf(sig), "doc_id",
      "doc_a", "doc_b", maxBucket = maxBucket, directed = false)

  /** The (doc_id, band, bkey) LSH banding both the pair and the star
    * candidate builders bucket on. */
  private def bandedOf(sig: DataFrame): DataFrame =
    sig.select(
      col("doc_id"),
      explode(array((0 until BANDS).map(j =>
        struct(lit(j).as("band"), bandKey(j).as("bkey"))): _*)).as("b"))
      .select(col("doc_id"), col("b.band").as("band"), col("b.bkey").as("bkey"))

  /** Star-contracted candidate EDGES — component-equal to
    * [[candidatePairsOf]] (BucketGuard.boundedStars) at O(bucket)
    * instead of O(bucket²) edges: the input a connected-components
    * consumer wants. d19's clusters (and p13's) are identical by
    * construction; only pairwise VERIFIERS (d03's Jaccard) need the
    * actual pairs. */
  def candidateStarsOf(sig: DataFrame,
      maxBucket: Int = graft.core.BucketGuard.DefaultMaxBucket): DataFrame =
    graft.core.BucketGuard.boundedStars(bandedOf(sig), "doc_id",
      "doc_a", "doc_b", maxBucket = maxBucket)

  /** d18's builder: PageRank over the UNDIRECTED duplicate graph (the
    * d03 candidate pairs) — the authority score inside near-dup
    * families (d16's degree ranks hubs; PageRank also credits docs
    * linked to by hubs, the canonical-version signal template farms
    * obscure from raw degree). `iters` unrolled rounds of keyed
    * join + Det-decimal aggregation over the BOUNDED pair set — cost
    * is O(iters · |candidate edges|), never touching non-duplicate
    * docs; damping 0.15/0.85, r0 = 1. */
  def dupPagerank(s: SparkSession, dir: String, iters: Int = 3): DataFrame =
    dupPagerankOf(candidatePairs(s, dir), iters)

  /** [[dupPagerank]] over an explicit candidate-pair frame.
    * `cutEvery` is the Bpe.scala lineage discipline:
    * past the gated iters=3 the per-round plan nesting would bloat
    * analysis long before the data hurts, so every `cutEvery`-th rank
    * frame is truncated to a materialized leaf (Materialize.cut) and the
    * previous leaf released; the last leaf, which the returned plan
    * reads, is released by the enclosing Materialize.statement. The default leaves the 3-round gated
    * plan fully lazy (unchanged plan shape) and cuts from round 4 on;
    * DedupSpec pins cut ≡ uncut results. */
  def dupPagerankOf(pairsIn: DataFrame, iters: Int = 3,
      cutEvery: Int = 4): DataFrame = {
    val pairs = pairsIn.select(col("doc_a"), col("doc_b"))
    val edges = pairs.unionAll(
      pairs.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))
    val deg = edges.groupBy(col("doc_a")).agg(count(lit(1)).as("deg"))
    var r = deg.select(col("doc_a").as("id"), lit(1.0).as("r"))
    var lastCut: Option[DataFrame] = None
    for (i <- 1 to iters) {
      val contrib = edges
        .join(r, edges("doc_a") === r("id"))
        .join(deg, "doc_a")
        .select(col("doc_b").as("id"),
          (col("r") / col("deg").cast(DoubleType)).as("c"))
      r = contrib.groupBy(col("id"))
        .agg((lit(0.15) + lit(0.85) *
          sum(col("c").cast(graft.core.Det.dec)).cast(DoubleType)).as("r"))
      if (i % cutEvery == 0 && i < iters) {
        val cut = Materialize.cut(r)
        lastCut.foreach(Materialize.release)
        lastCut = Some(cut)
        r = cut
      }
    }
    deg.select(col("doc_a").as("doc_id"), col("deg"))
      .join(r.withColumnRenamed("id", "doc_id"), "doc_id")
      .select(col("doc_id"), col("deg"), col("r").as("pagerank"))
  }

  /** DuckDB mirror of [[dupPagerank]] — the same `iters` rounds as
    * chained CTEs over the shared candidate-pair SQL. */
  def dupPagerankOracle(iters: Int = 3): String = {
    val sb = new StringBuilder
    sb ++= s"""WITH pr AS ($lshPairsOracle),
              |e AS (SELECT doc_a, doc_b FROM pr
              |      UNION ALL SELECT doc_b AS doc_a, doc_a AS doc_b FROM pr),
              |deg AS (SELECT doc_a AS id, count(*) AS deg FROM e GROUP BY doc_a),
              |r0 AS (SELECT id, 1.0 AS r FROM deg)""".stripMargin
    for (i <- 1 to iters) {
      val prev = s"r${i - 1}"
      sb ++= s""",
                |r$i AS (SELECT e.doc_b AS id,
                |  0.15 + 0.85 * ${graft.core.Det.sql.dsum(
                     s"$prev.r / CAST(deg.deg AS DOUBLE)")} AS r
                |  FROM e JOIN $prev ON e.doc_a = $prev.id
                |         JOIN deg ON e.doc_a = deg.id
                |  GROUP BY e.doc_b)""".stripMargin
    }
    sb ++= s"""
              |SELECT deg.id AS doc_id, CAST(deg.deg AS BIGINT) AS deg,
              |  r$iters.r AS pagerank
              |FROM deg JOIN r$iters ON deg.id = r$iters.id""".stripMargin
    sb.toString
  }

  /** d17's builder over a signature frame (doc_id + mh0..mh{K-1}):
    * for every banding of the K-perm signature, hot buckets
    * and candidate-pair work from bucket SIZES, never pairs. */
  def bandSweepOf(sig: DataFrame): DataFrame = {
    val keyed = Seq(1, 2, 4, 8).map { b =>
      val r = K / b
      sig.select(
        lit(b.toLong).as("bands"),
        explode(array((0 until b).map { j =>
          val key = (j * r until (j + 1) * r).map(i => col(s"mh$i"))
            .reduceLeft((acc, m) => (acc * lit(31L) + m) % lit(P))
          struct(lit(j.toLong).as("band"), key.as("bkey"))
        }: _*)).as("bb"))
        .select(col("bands"), col("bb.band").as("band"),
          col("bb.bkey").as("bkey"))
    }.reduce(_ unionAll _)
    keyed.groupBy(col("bands"), col("band"), col("bkey"))
      .agg(count(lit(1)).as("n"))
      .groupBy(col("bands"))
      .agg(sum(when(col("n") >= 2, 1L).otherwise(0L)).as("n_hot_buckets"),
        shiftright(sum(col("n") * (col("n") - lit(1L))), 1).as("cand_pairs"))
  }

  /** Signature frame for an arbitrary documents frame — the fixture
    * path for hot-bucket tests. */
  def sigOf(docs: DataFrame): DataFrame = {
    import graft.functions.TextHashExprs._
    sigOfHashed(docs.select(col("doc_id"), token_hashes(col("text")).as("th")))
  }

  /** [[sigOf]]'s minhash stage over an already-tokenized
    * (doc_id, th) frame — lets a caller share ONE tokenize pass
    * between the signature and other th consumers (d13). */
  def sigOfHashed(hashed: DataFrame): DataFrame = {
    import graft.functions.TextHashExprs._
    hashed.select(col("doc_id"), shingle_minhash(col("th"), SHINGLE, K).as("sig"))
      .select(
        col("doc_id") +: (0 until K).map(i =>
          element_at(col("sig"), i + 1).as(s"mh$i")): _*)
  }

  /** d01's exact-dedup shape over any (doc_id, text) frame — one
    * hash-partitioned groupBy on md5(text). Shared by the gated d01
    * and the dialect `dedup exact` statement lowering. */
  def exactDedup(docs: DataFrame): DataFrame =
    docs.groupBy(md5(col("text").cast(BinaryType)).as("text_md5"))
      .agg(min(col("doc_id")).as("keep_id"), Det.cnt(col("doc_id")).as("n_copies"))

  /** The d02 signature as ONE ':'-joined string scalar — the dialect's
    * minhash_sig(text). Same single native tokenize→shingle→minhash
    * pass as [[sigOf]]; Long→decimal-string rendering is identical in
    * Spark and DuckDB, so the concatenation stays hash-gateable. */
  def minhashSigStr(text: Column): Column = {
    import graft.functions.TextHashExprs._
    concat_ws(":", transform(shingle_minhash(token_hashes(text), SHINGLE, K),
      v => v.cast(StringType)))
  }

  /** DuckDB mirror of a whole-table [[minhashSigStr]] projection:
    * doc_id + the ':'-joined signature (the s22 oracle). */
  def sigConcatSql: String = {
    val joined = (0 until K).map(i => s"CAST(mh$i AS VARCHAR)")
      .mkString(" || ':' || ")
    s"SELECT doc_id, $joined AS sig FROM ($sigSql)"
  }

  /** DuckDB mirror of [[candidatePairs]] as WITH-clauses (expects a
    * `sig` CTE named by [[sigSql]]). */
  private def candidatePairsSql: String = {
    val bandsSel = (0 until BANDS)
      .map(j => s"SELECT doc_id, $j AS band, ${bandKeySql(j)} AS bkey FROM sig")
      .mkString("\nUNION ALL\n")
    s"""bands AS ($bandsSel),
       |cand AS (SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
       |         FROM bands l JOIN bands r
       |         ON l.band = r.band AND l.bkey = r.bkey AND l.doc_id < r.doc_id)""".stripMargin
  }

  /** d01's oracle over the `documents` table — shared with the dialect
    * `dedup exact` gate (s24). */
  val exactDedupOracle: String =
    """SELECT md5(text) AS text_md5, min(doc_id) AS keep_id,
      |CAST(count(doc_id) AS DOUBLE) AS n_copies
      |FROM documents GROUP BY md5(text)""".stripMargin

  /** d03's full oracle — shared with the dialect `dedup near` gate
    * (s23), which must produce the identical candidate set. */
  val lshPairsOracle: String =
    s"""WITH sig AS ($sigSql),
       |$candidatePairsSql
       |SELECT doc_a, doc_b FROM cand""".stripMargin

  /** d04's verification stage over any (doc_id, text) frame: exact
    * n-gram Jaccard computed ONLY on the LSH candidate pairs (joins
    * keyed on doc_id — hash joins on a bounded set, never all-pairs).
    * Shared by the gated d04 and the dialect `dedup near ... threshold`
    * lowering. */
  def jaccardOf(docs: DataFrame): DataFrame = {
    val d = docs
      .select(col("doc_id"), array_distinct(tokenHashes(col("text"))).as("th"))
    val inter = size(array_intersect(col("la"), col("rb")))
    val union = size(col("la")) + size(col("rb")) - inter
    candidatePairsOf(sigOf(docs))
      .join(d.select(col("doc_id").as("doc_a"), col("th").as("la")), "doc_a")
      .join(d.select(col("doc_id").as("doc_b"), col("th").as("rb")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        (inter.cast(DoubleType) / union.cast(DoubleType)).as("jac"))
  }

  /** d04's oracle — shared with the thresholded dialect gate (s25):
    * the threshold comparison runs on bit-identical doubles (one IEEE
    * division on both engines), so the kept pair set matches exactly. */
  val jaccardOracle: String =
    s"""WITH sig AS ($sigSql),
       |$candidatePairsSql,
       |d AS (SELECT doc_id, list_distinct(${O.tokenHashes("text")}) AS th FROM documents)
       |SELECT doc_a, doc_b,
       |CAST(len(list_filter(l.th, iv -> list_contains(r.th, iv))) AS DOUBLE)
       |  / CAST(len(l.th) + len(r.th)
       |         - len(list_filter(l.th, uv -> list_contains(r.th, uv))) AS DOUBLE) AS jac
       |FROM cand JOIN d l ON doc_a = l.doc_id JOIN d r ON doc_b = r.doc_id""".stripMargin

  val all: Seq[Q] = Seq(

    Q("d01_dedup_exact",
      (s, dir) => exactDedup(Tables(s, dir, "documents")),
      Some(exactDedupOracle)),

    Q("d02_minhash_sig",
      (s, dir) => sigDF(s, dir),
      Some(sigSql),
      bench = true),

    Q("d03_minhash_lsh_pairs",
      (s, dir) => candidatePairs(s, dir),
      Some(lshPairsOracle),
      bench = true),

    // Verification stage of the MinHash-LSH pipeline: exact n-gram
    // Jaccard computed ONLY on the LSH candidate pairs (joins keyed on
    // doc_id — hash joins on a bounded set), never all-pairs within a
    // key. A skewed `source` (one dominant crawl) cannot blow this up.
    Q("d04_ngram_jaccard",
      (s, dir) => jaccardOf(Tables(s, dir, "documents")),
      Some(jaccardOracle)),

    Q("d05_simhash",
      (s, dir) => Tables(s, dir, "documents")
        .select(col("doc_id"), tokenHashes(col("text")).as("th"))
        .select(col("doc_id"), simhash(col("th"), bits = 24).as("sh")),
      Some(s"""SELECT doc_id, ${O.simhashBits(24)} AS sh
              |FROM (SELECT doc_id, ${O.tokenHashes("text")} AS th FROM documents)""".stripMargin)),

    // Embedding near-dup via the vector-LSH scale path: the banded
    // OR-amplified candidate generator (shared with v03 — ~97% recall
    // at near-dup similarity vs ~59% for a single 8-bit band), with
    // pairs deduped as bare ids before the cosine — not all-pairs
    // within `label`, which is quadratic in the dominant label's
    // population.
    Q("d06_embed_neardup",
      (s, dir) => {
        val e = Tables(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
        VectorQueries.bandedCandidates(e)
          .filter(col("q_id") < col("n_id")) // unordered pair once
          .join(e.select(col("vec_id").as("q_id"), col("embedding").as("ea")), "q_id")
          .join(e.select(col("vec_id").as("n_id"), col("embedding").as("eb")), "n_id")
          .select(col("q_id").as("vec_a"), col("n_id").as("vec_b"),
            VectorQueries.cosine(col("ea"), col("eb")).as("sim"))
          .filter(col("sim") > 0.2)
      },
      Some {
        import VectorQueries.{cosineSql, lshBucketSql}
        val vb = VectorQueries.BANDS
        val vp = VectorQueries.PLANES
        val bandsSel = (0 until vb).map(b =>
          s"SELECT vec_id, $b AS band, ${lshBucketSql("embedding", vp, b * vp)} AS bkey FROM e")
          .mkString("\nUNION ALL\n")
        s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
           |bands AS ($bandsSel),
           |cand AS (SELECT DISTINCT l.vec_id AS vec_a, r.vec_id AS vec_b
           |         FROM bands l JOIN bands r
           |         ON l.band = r.band AND l.bkey = r.bkey AND l.vec_id < r.vec_id)
           |SELECT vec_a, vec_b, ${cosineSql("a.embedding", "b.embedding")} AS sim
           |FROM cand JOIN e a ON vec_a = a.vec_id JOIN e b ON vec_b = b.vec_id
           |WHERE ${cosineSql("a.embedding", "b.embedding")} > 0.2""".stripMargin
      }),

    // SemDeDup-shape semantic dedup (Abbas et al. 2023): partition the
    // corpus by k-means cell (assignment against BROADCAST-LITERAL
    // centers — a narrow map, never a shuffle by center), then prune
    // within each cell only: a vector is dropped when a LOWER-id
    // cell-mate sits above the cosine threshold, keeping one canonical
    // representative per semantic duplicate set. The pairing join is
    // KEYED on the cell (PlanSpec pins no cartesian); at 100 TB the
    // per-cell work is bounded by choosing k ∝ corpus/target-cell-size
    // — the paper's own scaling argument — and the k-means fit itself
    // is v06's (centers collected as k·d doubles, re-broadcast as
    // literals each round).
    Q("d08_semantic_dedup",
      (s, dir) => semanticDedup(
        Tables(s, dir, "embeddings").select(col("vec_id"), col("embedding"))),
      Some(semanticDedupSql())),

    // Streaming semantic dedup — d08 as continuous ingest, making all
    // FOUR dedup modes (exact d01, near d03, best d19, semantic d08)
    // runnable on arrivals: centers and the batch keep-set are frozen,
    // each arriving vector is kept unless a lower-id KEPT cell-mate
    // sits above the cosine bar (stateless per-row exists against the
    // broadcast per-cell keep arrays — append mode, no state, no
    // watermark). Hash-gated on the streamed slice against the same
    // unrolled-Lloyd oracle with a correlated EXISTS over the keep
    // set; StreamingSpec pins stream ≡ batch and stream-dropped ⊆
    // batch-dropped.
    Q("d21_semantic_stream",
      (s, dir) => {
        import VectorQueries.{KMEANS_K, KMEANS_ITERS}
        val e = Tables(s, dir, "embeddings")
          .select(col("vec_id"), col("embedding"))
        val centers = VectorQueries.kmeansFit(e, KMEANS_K, KMEANS_ITERS - 1)
        val keeps = semanticKeepSetFrom(
          VectorQueries.kmeansAssign(e, centers), 0.2)
        graft.streaming.StreamingOps.runToTable(s,
          semanticDedupStream(
            graft.streaming.StreamingOps.readEmbeddings(s, dir)
              .filter(col("vec_id") % 7 === 3)
              .select(col("vec_id"), col("embedding")),
            centers, keeps, 0.2),
          "append", "graft_d21_sink_")
      },
      Some {
        import VectorQueries.{cosineSql, kmeansCtesSql, KMEANS_ITERS}
        val last = KMEANS_ITERS
        s"""WITH ${kmeansCtesSql()},
           |av AS (SELECT vec_id, embedding, cell FROM assign$last),
           |dom AS (SELECT DISTINCT x.vec_id FROM av x JOIN av y
           |        ON x.cell = y.cell AND y.vec_id < x.vec_id
           |        WHERE ${cosineSql("x.embedding", "y.embedding")} > 0.2),
           |keeps AS (SELECT v.vec_id, v.embedding, v.cell FROM av v
           |          LEFT JOIN dom d ON v.vec_id = d.vec_id
           |          WHERE d.vec_id IS NULL),
           |sl AS (SELECT vec_id, embedding, cell FROM av WHERE vec_id % 7 = 3),
           |hits AS (SELECT DISTINCT s.vec_id FROM sl s JOIN keeps k
           |         ON k.cell = s.cell AND k.vec_id < s.vec_id
           |         WHERE ${cosineSql("k.embedding", "s.embedding")} > 0.2)
           |SELECT s.vec_id, s.cell,
           |  CAST(CASE WHEN h.vec_id IS NULL THEN 1 ELSE 0 END AS BIGINT) AS keep
           |FROM sl s LEFT JOIN hits h ON s.vec_id = h.vec_id""".stripMargin
      }),

    // Last stage of the dedup pipeline: the LSH candidate pairs form a
    // graph whose connected components are duplicate CLUSTERS (pairwise
    // output alone over-counts: a triplicate doc is 3 pairs but one
    // cluster). ConnectedComponents runs min-label propagation over the
    // pairs only — singleton docs never enter the loop — then each
    // cluster keeps one canonical doc (longest text, ties to the lowest
    // doc_id). Output: every doc with its cluster id and a keep flag,
    // i.e. a complete, deterministic dedup plan for the corpus.
    Q("d07_dedup_clusters",
      (s, dir) => {
        val docs = Tables(s, dir, "documents").select(col("doc_id"), col("n_chars"))
        val cc = graft.core.ConnectedComponents.run(
          candidatePairs(s, dir), "doc_a", "doc_b")
        val labeled = docs
          .join(cc.select(col("id").as("doc_id"), col("lbl")), Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("lbl"), col("doc_id")).as("cluster_id"), col("n_chars"))
        val maxLen = labeled.groupBy("cluster_id").agg(max("n_chars").as("maxlen"))
        val keepers = labeled.join(maxLen, "cluster_id")
          .filter(col("n_chars") === col("maxlen"))
          .groupBy("cluster_id").agg(min("doc_id").as("keep_id"))
        labeled.join(keepers, "cluster_id")
          .select(col("doc_id"), col("cluster_id"),
            when(col("doc_id") === col("keep_id"), lit(1L)).otherwise(lit(0L)).as("keep"))
      },
      Some(s"""WITH RECURSIVE sig AS ($sigSql),
              |$candidatePairsSql,
              |edges AS (SELECT doc_a AS u, doc_b AS v FROM cand
              |          UNION SELECT doc_b, doc_a FROM cand),
              |walk(u, lbl) AS (
              |  SELECT u, u AS lbl FROM (SELECT DISTINCT u FROM edges) t
              |  UNION
              |  SELECT e.u, w.lbl FROM edges e JOIN walk w ON e.v = w.u),
              |cc AS (SELECT u AS doc_id, min(lbl) AS lbl FROM walk GROUP BY u),
              |labeled AS (SELECT d.doc_id, COALESCE(c.lbl, d.doc_id) AS cluster_id, d.n_chars
              |            FROM documents d LEFT JOIN cc c ON d.doc_id = c.doc_id),
              |ml AS (SELECT cluster_id, max(n_chars) AS maxlen FROM labeled GROUP BY cluster_id),
              |keepers AS (SELECT l.cluster_id, min(l.doc_id) AS keep_id
              |            FROM labeled l JOIN ml
              |            ON l.cluster_id = ml.cluster_id AND l.n_chars = ml.maxlen
              |            GROUP BY l.cluster_id)
              |SELECT l.doc_id, l.cluster_id,
              |       CAST(CASE WHEN l.doc_id = k.keep_id THEN 1 ELSE 0 END AS BIGINT) AS keep
              |FROM labeled l JOIN keepers k ON l.cluster_id = k.cluster_id""".stripMargin)),

    // Exact-substring duplication (the n-gram form of Lee et al.'s
    // "Deduplicating Training Data Makes Language Models Better"
    // suffix-array dedup): a 16-token window that appears verbatim in
    // two or more docs marks both as substring-duplicated; each doc
    // reports the fraction of its windows that are shared. Shape is
    // two keyed aggregations plus one join ON THE GRAM KEY — candidate
    // work is proportional to corpus n-grams, never doc pairs, and
    // both the gram count and the per-doc rollup partial-aggregate
    // map-side. The explode feeds both consumers through one explicit
    // repartition with identical column sets so Catalyst plans a
    // single reused exchange (differently-pruned consumers would each
    // recompute the scan — see SCALE_r3 plan-reuse finding).
    Q("d09_exact_substring",
      (s, dir) => {
        val sh = Tables(s, dir, "documents")
          .select(col("doc_id"), explode(array_distinct(
            shinglesFromHashes(tokenHashes(col("text")), 16))).as("g"))
          .repartition(col("g"))
        val cnt = sh.groupBy(col("g")).agg(count(col("doc_id")).as("nd"))
        sh.join(cnt, "g")
          .groupBy(col("doc_id"))
          .agg(count(col("g")).as("n_grams"),
            sum(when(col("nd") >= 2, 1L).otherwise(0L)).as("n_shared"))
          .select(col("doc_id"), col("n_grams"), col("n_shared"),
            (col("n_shared").cast(DoubleType) /
              col("n_grams").cast(DoubleType)).as("dup_frac"),
            (col("n_shared").cast(DoubleType) /
              col("n_grams").cast(DoubleType) > lit(0.2)).as("flag"))
      },
      Some(s"""WITH th AS (SELECT doc_id, ${O.tokenHashes("text")} AS th FROM documents),
              |sh AS (SELECT doc_id, unnest(list_distinct(${O.shingles(16)})) AS g FROM th),
              |cnt AS (SELECT g, count(*) AS nd FROM sh GROUP BY g),
              |j AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
              |      CAST(sum(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared
              |      FROM sh JOIN cnt USING (g) GROUP BY doc_id)
              |SELECT doc_id, n_grams, n_shared,
              |  CAST(n_shared AS DOUBLE) / CAST(n_grams AS DOUBLE) AS dup_frac,
              |  (CAST(n_shared AS DOUBLE) / CAST(n_grams AS DOUBLE)) > 0.2 AS flag
              |FROM j""".stripMargin)),

    // Span REMOVAL — the step after d09's flagging (Lee et al. cut the
    // duplicated substrings, not the docs): every token covered by a
    // cross-doc-shared 16-token window is dropped and the doc's text
    // reassembled from the survivors in order. All keyed work — gram
    // count, coverage explode, ordered per-doc reassembly — no doc
    // pairs anywhere; the reassembly is collect_list + array_sort per
    // doc, bounded by doc length, never corpus-wide ordering.
    Q("d10_dedup_spans",
      (s, dir) => {
        val docs = Tables(s, dir, "documents")
        val win = docs.select(col("doc_id"),
          posexplode(shinglesFromHashes(tokenHashes(col("text")), 16))
            .as(Seq("wpos", "g")))
        val shared = win.select(col("doc_id"), col("g")).distinct()
          .groupBy(col("g")).agg(count(lit(1)).as("nd"))
          .filter(col("nd") >= 2).select(col("g"))
        val covered = win.join(shared, "g")
          .select(col("doc_id"),
            explode(sequence(col("wpos"), col("wpos") + 15)).as("pos"))
          .distinct()
        val toks = docs.select(col("doc_id"),
          posexplode(graft.functions.TextFunctions.tokens(col("text")))
            .as(Seq("pos", "tok")))
        val clean = toks.join(covered, Seq("doc_id", "pos"), "left_anti")
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_kept"),
            concat_ws(" ", transform(
              array_sort(collect_list(struct(col("pos"), col("tok")))),
              x => x.getField("tok"))).as("clean_text"))
        docs.select(col("doc_id"))
          .join(clean, Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("n_kept"), lit(0L)).as("n_kept"),
            coalesce(col("clean_text"), lit("")).as("clean_text"))
      },
      Some(s"""WITH th AS (SELECT doc_id, ${O.tokenHashes("text")} AS th FROM documents),
              |shl AS (SELECT doc_id, ${O.shingles(16)} AS sh FROM th),
              |win AS (SELECT doc_id, sh[i] AS g, i FROM shl,
              |        UNNEST(generate_series(1, len(sh))) AS u(i)),
              |shared AS (SELECT g FROM (SELECT DISTINCT doc_id, g FROM win)
              |           GROUP BY g HAVING count(*) >= 2),
              |cov AS (SELECT DISTINCT doc_id, u2.p FROM win JOIN shared USING (g),
              |        UNNEST(generate_series(win.i, win.i + 15)) AS u2(p)),
              |tkl AS (SELECT doc_id, ${O.toks("text")} AS tk FROM documents),
              |toksr AS (SELECT doc_id, tk[p] AS tok, p FROM tkl,
              |          UNNEST(generate_series(1, len(tk))) AS u(p)),
              |clean AS (SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_kept,
              |          string_agg(t.tok, ' ' ORDER BY t.p) AS clean_text
              |          FROM toksr t LEFT JOIN cov c
              |          ON t.doc_id = c.doc_id AND t.p = c.p
              |          WHERE c.p IS NULL GROUP BY t.doc_id)
              |SELECT d.doc_id, coalesce(clean.n_kept, 0) AS n_kept,
              |  coalesce(clean.clean_text, '') AS clean_text
              |FROM documents d LEFT JOIN clean ON d.doc_id = clean.doc_id""".stripMargin)),

    // Incremental dedup — the continuous-crawl shape: a small NEW
    // batch (a fixed 10% doc_id slice here, so the proportions hold
    // at every scale factor) checked against the standing
    // corpus without ever reshuffling the corpus. Both probes key on
    // the corpus side's natural layout and BROADCAST the batch: the
    // exact check joins corpus md5s to broadcast batch md5s, the
    // near-dup check joins the corpus's (band, bkey) LSH index — at
    // 100 TB a persisted table maintained batch-over-batch — to the
    // batch's band keys. One corpus scan per probe, zero corpus
    // shuffles (pinned in PlanSpec: two broadcast joins, no SMJ on a
    // corpus side). Output per new doc: candidate count, exact-dup
    // flag, novelty flag.
    Q("d11_incremental_dedup",
      (s, dir) => {
        val isNewDoc = col("doc_id") % 10 === 9
        val docs = Tables(s, dir, "documents")
        val sig = sigDF(s, dir)
        val bands = sig.select(
          col("doc_id"),
          explode(array((0 until BANDS).map(j =>
            struct(lit(j).as("band"), bandKey(j).as("bkey"))): _*)).as("b"))
          .select(col("doc_id"), col("b.band").as("band"), col("b.bkey").as("bkey"))
        val newBands = bands.filter(isNewDoc)
          .withColumnRenamed("doc_id", "new_id")
        val cands = bands.filter(!isNewDoc)
          .join(broadcast(newBands), Seq("band", "bkey"))
          .groupBy("new_id").agg(countDistinct(col("doc_id")).as("n_cands"))
        val newMd5 = docs.filter(isNewDoc)
          .select(col("doc_id").as("new_id"), md5(col("text").cast(BinaryType)).as("h"))
        val exact = docs.filter(!isNewDoc)
          .select(md5(col("text").cast(BinaryType)).as("h"))
          .join(broadcast(newMd5), Seq("h"))
          .select(col("new_id")).distinct()
        // the assembly joins are batch-sized on both sides — broadcast
        // them too so the whole plan is exchange-free on the big side
        docs.filter(isNewDoc).select(col("doc_id").as("new_id"))
          .join(broadcast(cands), Seq("new_id"), "left")
          .join(broadcast(exact.withColumn("__ex", lit(1L))), Seq("new_id"), "left")
          .select(col("new_id"),
            coalesce(col("n_cands"), lit(0L)).as("n_cands"),
            col("__ex").isNotNull.as("is_exact_dup"),
            (coalesce(col("n_cands"), lit(0L)) === 0L).as("is_novel"))
      },
      Some {
        val bandsSel = (0 until BANDS)
          .map(j => s"SELECT doc_id, $j AS band, ${bandKeySql(j)} AS bkey FROM sig")
          .mkString("\nUNION ALL\n")
        s"""WITH sig AS ($sigSql),
           |bands AS ($bandsSel),
           |cand AS (SELECT n.doc_id AS new_id, CAST(count(DISTINCT c.doc_id) AS BIGINT) AS n_cands
           |         FROM bands n JOIN bands c ON n.band = c.band AND n.bkey = c.bkey
           |         WHERE n.doc_id % 10 = 9 AND c.doc_id % 10 <> 9
           |         GROUP BY n.doc_id),
           |ex AS (SELECT DISTINCT n.doc_id AS new_id FROM documents n JOIN documents c
           |       ON md5(n.text) = md5(c.text)
           |       WHERE n.doc_id % 10 = 9 AND c.doc_id % 10 <> 9)
           |SELECT d.doc_id AS new_id,
           |  CAST(coalesce(cand.n_cands, 0) AS BIGINT) AS n_cands,
           |  (ex.new_id IS NOT NULL) AS is_exact_dup,
           |  coalesce(cand.n_cands, 0) = 0 AS is_novel
           |FROM documents d
           |LEFT JOIN cand ON d.doc_id = cand.new_id
           |LEFT JOIN ex ON d.doc_id = ex.new_id
           |WHERE d.doc_id % 10 = 9""".stripMargin
      }),

    // Source-overlap audit — which crawl sources near-duplicate each
    // other (the question behind source-level dedup priorities and
    // crawl budget allocation). Aggregates the SAME bounded LSH
    // candidate pairs d03/d04 use up to (source_a, source_b) — work is
    // proportional to candidate pairs, never doc pairs; the doc→source
    // attachment joins are keyed on doc id and broadcast-able (the
    // doc_id→source map is a projection, tiny relative to text).
    // Unordered source pairs are canonicalized (least/greatest) so one
    // row per source pair comes out.
    Q("d12_source_overlap",
      (s, dir) => {
        val src = Tables(s, dir, "documents").select(col("doc_id"), col("source"))
        candidatePairs(s, dir)
          .join(src.select(col("doc_id").as("doc_a"), col("source").as("sa")), "doc_a")
          .join(src.select(col("doc_id").as("doc_b"), col("source").as("sb")), "doc_b")
          .select(least(col("sa"), col("sb")).as("source_a"),
            greatest(col("sa"), col("sb")).as("source_b"))
          .groupBy("source_a", "source_b")
          .agg(count(lit(1)).as("n_pairs"))
      },
      Some(s"""WITH sig AS ($sigSql),
              |$candidatePairsSql
              |SELECT LEAST(a.source, b.source) AS source_a,
              |  GREATEST(a.source, b.source) AS source_b,
              |  CAST(count(*) AS BIGINT) AS n_pairs
              |FROM cand JOIN documents a ON cand.doc_a = a.doc_id
              |          JOIN documents b ON cand.doc_b = b.doc_id
              |GROUP BY 1, 2""".stripMargin)),

    // LSH parameter evaluation — the tuning loop every dedup pipeline
    // runs before committing to (K, BANDS): precision/recall of the
    // banded candidate generator against exact shingle-Jaccard ground
    // truth at τ = 1/2 (integer-exact: 2·inter ≥ union, so no
    // cross-engine float compare). Ground truth is NEVER all-pairs:
    // a pair with jac > 0 shares ≥1 shingle, so true pairs come from
    // a gram-keyed join (d09's shape) — bounded by shingle
    // co-occurrence, not n². At 100 TB this runs on a hash-sample of
    // the corpus (lshEval's sampleMod); counts and ppm ratios are
    // exact integers either way.
    Q("d13_lsh_eval",
      (s, dir) => lshEval(Tables(s, dir, "documents")),
      Some(s"""WITH sig AS ($sigSql),
              |$candidatePairsSql,
              |sh AS (SELECT doc_id, list_distinct(${O.shingles(SHINGLE)}) AS sh
              |       FROM (SELECT doc_id, ${O.tokenHashes("text")} AS th FROM documents)),
              |post AS (SELECT doc_id, unnest(sh) AS g FROM sh),
              |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
              |            CAST(count(*) AS BIGINT) AS ic
              |          FROM post a JOIN post b
              |          ON a.g = b.g AND a.doc_id < b.doc_id GROUP BY 1, 2),
              |truth AS (SELECT doc_a, doc_b FROM inter
              |          JOIN sh sa ON doc_a = sa.doc_id
              |          JOIN sh sb ON doc_b = sb.doc_id
              |          WHERE 2 * ic >= len(sa.sh) + len(sb.sh) - ic),
              |conf AS (SELECT coalesce(t.doc_a, c.doc_a) AS doc_a,
              |           t.doc_a IS NOT NULL AS is_t, c.doc_a IS NOT NULL AS is_c
              |         FROM truth t FULL JOIN cand c
              |         ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b)
              |SELECT CAST(count(*) FILTER (WHERE is_t) AS BIGINT) AS n_true,
              |  CAST(count(*) FILTER (WHERE is_c) AS BIGINT) AS n_cand,
              |  CAST(count(*) FILTER (WHERE is_t AND is_c) AS BIGINT) AS tp,
              |  CASE WHEN count(*) FILTER (WHERE is_c) = 0 THEN NULL
              |    ELSE count(*) FILTER (WHERE is_t AND is_c) * 1000000
              |         // count(*) FILTER (WHERE is_c) END AS precision_ppm,
              |  CASE WHEN count(*) FILTER (WHERE is_t) = 0 THEN NULL
              |    ELSE count(*) FILTER (WHERE is_t AND is_c) * 1000000
              |         // count(*) FILTER (WHERE is_t) END AS recall_ppm
              |FROM conf""".stripMargin)),

    // Winnowing fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD 2003 —
    // the MOSS algorithm): slide a w-window over the doc's k-gram
    // hashes and keep each window's MINIMUM, guaranteeing any shared
    // token run of length ≥ w+k-1 still collides while storing only
    // ~2/(w+1) of the grams — the classic fingerprint-budget knob
    // between d01's exact hash and d09's every-gram index. Selection is
    // pure per-row array algebra (no window operator, no shuffle);
    // the cross-doc count then runs d09's gram-keyed shape on the
    // REDUCED set: one explicit fp-keyed exchange shared by the count
    // and the join (ReusedExchange), work ∝ selected fingerprints,
    // never doc pairs. Output mirrors d09 over the winnowed space.
    Q("d14_winnowing",
      (s, dir) => winnowing(Tables(s, dir, "documents")),
      Some(s"""WITH th AS (SELECT doc_id, ${O.tokenHashes("text")} AS th FROM documents),
              |shl AS (SELECT doc_id, ${O.shingles(5)} AS sh FROM th),
              |fpl AS (SELECT doc_id, list_distinct(list_transform(
              |          range(0, CAST(greatest(len(sh) - 3, least(len(sh), 1)) AS BIGINT)),
              |          wi -> list_min(list_slice(sh, wi + 1, wi + 4)))) AS fps
              |        FROM shl),
              |post AS (SELECT doc_id, unnest(fps) AS fp FROM fpl),
              |cnt AS (SELECT fp, count(*) AS nd FROM post GROUP BY fp),
              |j AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_fp,
              |      CAST(sum(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared_fp
              |      FROM post JOIN cnt USING (fp) GROUP BY doc_id)
              |SELECT doc_id, n_fp, n_shared_fp,
              |  CAST(n_shared_fp AS DOUBLE) / CAST(n_fp AS DOUBLE) AS dup_frac,
              |  (CAST(n_shared_fp AS DOUBLE) / CAST(n_fp AS DOUBLE)) > 0.2 AS flag
              |FROM j""".stripMargin)),

    // Containment near-dup (the asymmetric case minhash-Jaccard is
    // blind to: a short doc pasted inside a long one has LOW Jaccard
    // but containment ≈ 1). C(A,B) = |A∩B| / min(|A|,|B|) over the
    // distinct 3-shingle sets. inter comes straight from the
    // gram-keyed pair count — Σ_g nd(g)² work, the d09 shape, never
    // all-pairs — with grams in > 256 docs vetoed up front
    // (boilerplate grams contribute candidates quadratically and
    // containment evidence barely; the veto is mirrored exactly in
    // the oracle, so the gate covers the capped semantics the 100 TB
    // run would use). Output bounded to C ≥ 1/2 pairs via the exact
    // integer test 2·inter ≥ min; the is_dup flag at C ≥ 9/10
    // likewise — no float threshold anywhere.
    Q("d15_containment",
      (s, dir) => containment(Tables(s, dir, "documents")),
      Some(s"""WITH th AS (SELECT doc_id, ${O.tokenHashes("text")} AS th FROM documents),
              |sh AS (SELECT doc_id, unnest(list_distinct(${O.shingles(SHINGLE)})) AS g
              |       FROM th),
              |cnt AS (SELECT g, count(*) AS nd FROM sh GROUP BY g),
              |sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS sz
              |          FROM sh GROUP BY doc_id),
              |rare AS (SELECT sh.doc_id, sh.g FROM sh JOIN cnt USING (g)
              |         WHERE nd <= 256),
              |pairs AS (SELECT l.doc_id AS doc_a, r.doc_id AS doc_b,
              |            CAST(count(*) AS BIGINT) AS inter
              |          FROM rare l JOIN rare r
              |            ON l.g = r.g AND l.doc_id < r.doc_id
              |          GROUP BY 1, 2)
              |SELECT doc_a, doc_b, inter,
              |  least(sa.sz, sb.sz) AS min_sz,
              |  CAST(inter AS DOUBLE) / CAST(least(sa.sz, sb.sz) AS DOUBLE)
              |    AS containment,
              |  (10 * inter >= 9 * least(sa.sz, sb.sz)) AS is_dup
              |FROM pairs
              |JOIN sizes sa ON doc_a = sa.doc_id
              |JOIN sizes sb ON doc_b = sb.doc_id
              |WHERE 2 * inter >= least(sa.sz, sb.sz)""".stripMargin)),

    // Duplicate-graph degree: how many LSH candidate partners each doc
    // has. A doc with dozens of near-dup partners is template spam (a
    // boilerplate page stamped across a crawl) — degree is the cheap
    // hub signal d07's clusters don't expose directly. One unionAll
    // over the (already bounded) candidate pairs + a doc-keyed count +
    // global top-20 (TakeOrderedAndProject) — nothing here ever
    // touches the corpus again.
    Q("d16_dup_degree",
      (s, dir) => {
        val pairs = candidatePairs(s, dir)
        pairs.select(col("doc_a").as("doc_id"))
          .unionAll(pairs.select(col("doc_b").as("doc_id")))
          .groupBy(col("doc_id")).agg(count(lit(1)).as("degree"))
          .orderBy(col("degree").desc, col("doc_id").asc)
          .limit(20)
      },
      Some(s"""WITH pr AS ($lshPairsOracle),
              |deg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS degree FROM
              |  (SELECT doc_a AS doc_id FROM pr
              |   UNION ALL SELECT doc_b AS doc_id FROM pr)
              |  GROUP BY doc_id)
              |SELECT doc_id, degree FROM deg
              |ORDER BY degree DESC, doc_id ASC LIMIT 20""".stripMargin)),

    // LSH band-parameter sweep — the tuning table behind the (BANDS,
    // rows) choice d13 evaluates at one point: for every banding of
    // the K=8 signature (1×8, 2×4, 4×2, 8×1), the number of hot
    // buckets and the candidate-pair WORK Σ n·(n−1)/2 over bucket
    // sizes (band-level slots, with cross-band multiplicity — the
    // join cost driver; the OR-deduped pair set needs
    // materialization, which is d03's job at the chosen setting).
    // Never materializes a pair: two keyed aggregations over bucket
    // SIZES, so the sweep costs one signature pass however skewed the
    // buckets — more bands ⇒ shorter keys ⇒ more candidates (recall),
    // fewer ⇒ stricter (precision), and this emits that curve.
    Q("d17_lsh_band_sweep",
      (s, dir) => bandSweepOf(sigDF(s, dir)),
      Some {
        val bandSelects = Seq(1, 2, 4, 8).flatMap { b =>
          val r = K / b
          (0 until b).map { j =>
            val key = (j * r until (j + 1) * r).map(i => s"mh$i")
              .reduceLeft((acc, m) => s"(($acc) * 31 + $m) % $P")
            s"SELECT CAST($b AS BIGINT) AS bands, $j AS band, $key AS bkey FROM sig"
          }
        }.mkString("\nUNION ALL\n")
        s"""WITH sig AS ($sigSql),
           |keyed AS ($bandSelects),
           |bk AS (SELECT bands, band, bkey, count(*) AS n FROM keyed
           |       GROUP BY bands, band, bkey)
           |SELECT bands,
           |  CAST(sum(CASE WHEN n >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_hot_buckets,
           |  CAST(sum(n * (n - 1)) // 2 AS BIGINT) AS cand_pairs
           |FROM bk GROUP BY bands""".stripMargin
      }),

    // PageRank over the duplicate graph — see [[dupPagerank]].
    Q("d18_dup_pagerank",
      (s, dir) => dupPagerank(s, dir),
      Some(dupPagerankOracle())),

    // Quality-canonical dedup plan — d07 keeps each cluster's LONGEST
    // doc; the training-mix question is "which twin do we train on",
    // and length is a crude proxy when the twins differ in boilerplate
    // or truncation. This variant keeps the HIGHEST-QUALITY doc (t02's
    // gated score; bit-identical doubles in both engines, so even the
    // argmax hash-matches), ties to the lowest doc_id. Same CC labels,
    // one per-row quality pass, one cluster-keyed rank window
    // (clusters are near-cliques — group size is the dup family's,
    // never the corpus; WindowGroupLimit prunes to the keeper count
    // pre-shuffle).
    Q("d19_canonical_pick",
      (s, dir) => canonicalPickOf(
        Tables(s, dir, "documents").select(col("doc_id"), col("text"))),
      Some {
        val t02 = TextQueries.all.find(_.name == "t02_quality").get.oracle.get
        s"""WITH RECURSIVE sig AS ($sigSql),
           |$candidatePairsSql,
           |edges AS (SELECT doc_a AS u, doc_b AS v FROM cand
           |          UNION SELECT doc_b, doc_a FROM cand),
           |walk(u, lbl) AS (
           |  SELECT u, u AS lbl FROM (SELECT DISTINCT u FROM edges) t
           |  UNION
           |  SELECT e.u, w.lbl FROM edges e JOIN walk w ON e.v = w.u),
           |cc AS (SELECT u AS doc_id, min(lbl) AS lbl FROM walk GROUP BY u),
           |qual AS ($t02),
           |labeled AS (SELECT q.doc_id, COALESCE(c.lbl, q.doc_id) AS cluster_id,
           |                   q.quality
           |            FROM qual q LEFT JOIN cc c ON q.doc_id = c.doc_id)
           |SELECT doc_id, cluster_id, quality,
           |  CAST(CASE WHEN rk = 1 THEN 1 ELSE 0 END AS BIGINT) AS keep
           |FROM (SELECT doc_id, cluster_id, quality, row_number() OVER
           |        (PARTITION BY cluster_id ORDER BY quality DESC, doc_id ASC) AS rk
           |      FROM labeled)""".stripMargin
      }),

    // Snapshot diff — the dataset-versioning audit every corpus
    // release needs: what changed between snapshot A and snapshot B,
    // keyed by CONTENT (the t04 fingerprint), not by doc_id, so a
    // re-crawled page that kept its text counts as retained and an
    // id-stable page whose text changed counts as added+removed.
    // Fixture snapshots are the deterministic doc_id%3 thirds
    // (overlap by construction); the builder takes ANY two frames.
    // Per side: one codegen'd fingerprint pass + one fp-keyed
    // map-side-combined agg; the full outer join runs on the agg
    // outputs ALREADY hash-partitioned by fp (exchange reuse), then
    // a 3-row status rollup. All-integer output — nothing to round.
    Q("d20_snapshot_diff",
      (s, dir) => {
        val docs = Tables(s, dir, "documents")
          .select(col("doc_id"), col("text"), col("n_chars"))
        snapshotDiff(docs.filter(col("doc_id") % 3 =!= 0),
          docs.filter(col("doc_id") % 3 =!= 1))
      },
      Some(snapshotDiffOracle))
  )

  /** d20's builder on two arbitrary (text, n_chars) snapshot frames.
    * Counts for `retained` come from the CURRENT side (the release
    * being audited); `removed` necessarily reports the old side's. */
  def snapshotDiff(old: DataFrame, cur: DataFrame): DataFrame = {
    def sig(df: DataFrame, n: String, ch: String) =
      df.select(graft.functions.TextFunctions.docFingerprint(col("text")).as("fp"),
          col("n_chars"))
        .groupBy(col("fp"))
        .agg(count(lit(1)).as(n), sum(col("n_chars")).as(ch))
    sig(old, "n_old", "ch_old")
      .join(sig(cur, "n_new", "ch_new"), Seq("fp"), "full")
      .select(
        when(col("n_old").isNull, "added")
          .when(col("n_new").isNull, "removed")
          .otherwise("retained").as("status"),
        coalesce(col("n_new"), col("n_old")).as("nd"),
        coalesce(col("ch_new"), col("ch_old")).as("cd"))
      .groupBy(col("status"))
      .agg(count(lit(1)).as("n_fps"), sum(col("nd")).as("n_docs"),
        sum(col("cd")).as("n_chars"))
  }

  /** DuckDB mirror of the d20 gate (doc_id%3 third snapshots of
    * `documents`). */
  def snapshotDiffOracle: String = {
    val fp = O.foldHash(O.tokenHashes("text"))
    s"""WITH olds AS (SELECT text, n_chars FROM documents WHERE doc_id % 3 != 0),
       |curs AS (SELECT text, n_chars FROM documents WHERE doc_id % 3 != 1),
       |o AS (SELECT $fp AS fp, count(*) AS n_old, sum(n_chars) AS ch_old
       |      FROM olds GROUP BY 1),
       |c AS (SELECT $fp AS fp, count(*) AS n_new, sum(n_chars) AS ch_new
       |      FROM curs GROUP BY 1),
       |j AS (SELECT CASE WHEN o.fp IS NULL THEN 'added'
       |               WHEN c.fp IS NULL THEN 'removed'
       |               ELSE 'retained' END AS status,
       |        coalesce(c.n_new, o.n_old) AS nd,
       |        coalesce(c.ch_new, o.ch_old) AS cd
       |      FROM o FULL JOIN c ON o.fp = c.fp)
       |SELECT status, CAST(count(*) AS BIGINT) AS n_fps,
       |  CAST(sum(nd) AS BIGINT) AS n_docs,
       |  CAST(sum(cd) AS BIGINT) AS n_chars
       |FROM j GROUP BY status""".stripMargin
  }

  /** d19's builder on an arbitrary (doc_id, text) frame — shared with
    * the dialect `dedup best` statement: CC labels over the LSH
    * candidate pairs, per-doc t02 quality, one cluster-keyed rank
    * window keeping the highest-quality doc (ties to lowest doc_id). */
  /** SemDeDup-shape semantic dedup (Abbas et al. 2023) on an
    * arbitrary (vec_id, embedding) frame — the d08 gate's builder and
    * the `dedup semantic` statement's: partition the corpus by
    * k-means cell (assignment against BROADCAST-LITERAL centers from
    * the sample-bounded fit — a narrow map, never a shuffle by
    * center), then prune within each cell only: a vector is dropped
    * when a LOWER-id cell-mate sits above the cosine `thresh`,
    * keeping one canonical representative per semantic duplicate
    * set. The pairing join is KEYED on the cell (never cartesian);
    * at 100 TB per-cell work is bounded by choosing k ∝
    * corpus/target-cell-size — the paper's own scaling argument.
    * Emits (vec_id, cell, keep). */
  def semanticDedup(e: DataFrame, thresh: Double = 0.2): DataFrame = {
    import VectorQueries.{KMEANS_K, KMEANS_ITERS}
    val centers = VectorQueries.kmeansFit(e, KMEANS_K, KMEANS_ITERS - 1)
    val assigned = VectorQueries.kmeansAssign(e, centers)
    assigned.join(dominatedOf(assigned, thresh).withColumn("__dom", lit(1L)),
        Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"),
        when(col("__dom").isNull, lit(1L)).otherwise(lit(0L)).as("keep"))
  }

  /** The dominated ids of an assigned (vec_id, embedding, cell) frame
    * — a vector with a LOWER-id cell-mate above the cosine bar.
    * Shared by [[semanticDedup]] and the keep-set the streaming twin
    * freezes. */
  private def dominatedOf(assigned: DataFrame, thresh: Double): DataFrame = {
    val a = assigned.select(col("cell"), col("vec_id").as("a_id"),
      col("embedding").as("a_emb"))
    val b = assigned.select(col("cell").as("cell_b"), col("vec_id").as("b_id"),
      col("embedding").as("b_emb"))
    a.join(b, col("cell") === col("cell_b") && col("b_id") < col("a_id"))
      .filter(VectorQueries.cosine(col("a_emb"), col("b_emb")) > thresh)
      .select(col("a_id").as("vec_id")).distinct()
  }

  /** The KEEP SET of [[semanticDedup]] WITH its vectors — the frozen
    * artifact the streaming twin checks arrivals against: one
    * canonical representative per semantic duplicate set, (vec_id,
    * embedding, cell). */
  def semanticKeepSetFrom(assigned: DataFrame, thresh: Double): DataFrame =
    assigned.join(dominatedOf(assigned, thresh), Seq("vec_id"), "left_anti")

  /** d08 as CONTINUOUS ingest (the v28/v42 frozen-artifact pattern
    * applied to semantic dedup): centers AND the batch keep-set are
    * FROZEN; each arriving vector takes its cell in one stateless
    * codegen'd projection and is kept unless a LOWER-id kept
    * cell-mate sits above the cosine bar. The keep-set rides as a
    * per-cell array on the static side of a stream-static left join
    * (k rows, one per cell), so the arrival-side check is a per-row
    * `exists` fold — no state, no watermark, O(batch · cell
    * occupancy) per micro-batch; per-cell occupancy is bounded by
    * choosing k ∝ corpus/target-cell-size, SemDeDup's own scaling
    * argument. Works identically on a batch frame (StreamingSpec pins
    * stream ≡ batch on the same slice). Monotonicity ties it to the
    * batch contract: a kept batch vector can never be dominated by
    * the keep-set (R10OpsSpec's keep-monotonicity), so stream-dropped
    * arrivals ⊆ batch-dropped arrivals. Emits (vec_id, cell, keep). */
  def semanticDedupStream(arrivals: DataFrame,
      centers: Seq[(Int, Array[Double])], keeps: DataFrame,
      thresh: Double): DataFrame = {
    val mates = keeps.groupBy(col("cell"))
      .agg(collect_list(struct(col("vec_id").as("kid"),
        col("embedding").as("kemb"))).as("mates"))
    VectorQueries.kmeansAssign(arrivals, centers)
      .join(mates, Seq("cell"), "left")
      .select(col("vec_id"), col("cell"),
        when(exists(col("mates"), m =>
          m.getField("kid") < col("vec_id") &&
            VectorQueries.cosine(m.getField("kemb"), col("embedding")) >
              lit(thresh)), lit(0L))
          .otherwise(lit(1L)).as("keep"))
  }

  /** [[semanticDedup]]'s DuckDB mirror (the unrolled sample-bounded
    * Lloyd loop + the within-cell domination join). */
  def semanticDedupSql(thresh: Double = 0.2): String = {
    import VectorQueries.{cosineSql, kmeansCtesSql, KMEANS_ITERS}
    s"""WITH ${kmeansCtesSql()},
       |av AS (SELECT vec_id, embedding, cell FROM assign$KMEANS_ITERS),
       |dom AS (SELECT DISTINCT x.vec_id FROM av x JOIN av y
       |        ON x.cell = y.cell AND y.vec_id < x.vec_id
       |        WHERE ${cosineSql("x.embedding", "y.embedding")} > $thresh)
       |SELECT v.vec_id, v.cell,
       |  CAST(CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END AS BIGINT) AS keep
       |FROM av v LEFT JOIN dom d ON v.vec_id = d.vec_id""".stripMargin
  }

  /** d19's canonical pick — the COMPONENTS consumer, so the candidate
    * graph is the star-contracted edge set (component-equal to the
    * pair set at O(bucket) edges; DedupSpec pins the equality). */
  def canonicalPickOf(docs: DataFrame): DataFrame =
    canonicalPickFromPairs(docs, candidateStarsOf(sigOf(docs)))

  /** [[canonicalPickOf]] with the candidate pairs injected — the
    * d18-probe pattern: a caller can feed SALTED-signature pairs (edge
    * growth linear in copies by construction) so the pick's own
    * scaling is measured without the duplication-fixture's quadratic
    * pair artifact. */
  def canonicalPickFromPairs(docs: DataFrame, pairs: DataFrame): DataFrame =
    canonicalPickFromQuality(
      docs
        .select(col("doc_id"), col("text"),
          graft.functions.TextProfileExprs.text_profile(col("text")).as("p"))
        .select(col("doc_id"),
          TextQueries.qualityCol(col("text"), col("p")).as("quality")),
      pairs)

  /** [[canonicalPickFromPairs]] with the per-doc quality PRECOMPUTED —
    * p13's path: its one profile scan already carries the quality
    * column, so the canonical ranking must not re-scan the text. */
  def canonicalPickFromQuality(q: DataFrame, pairs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cc = graft.core.ConnectedComponents.run(pairs, "doc_a", "doc_b")
    val labeled = q
      .join(cc.select(col("id").as("doc_id"), col("lbl")), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("lbl"), col("doc_id")).as("cluster_id"), col("quality"))
    val w = Window.partitionBy(col("cluster_id"))
      .orderBy(col("quality").desc, col("doc_id").asc)
    labeled.withColumn("rk", row_number().over(w))
      .select(col("doc_id"), col("cluster_id"), col("quality"),
        when(col("rk") === 1, lit(1L)).otherwise(lit(0L)).as("keep"))
  }

  /** d15's builder on an arbitrary documents frame. */
  def containment(docs: DataFrame): DataFrame = {
    val sh = docs
      .select(col("doc_id"), explode(array_distinct(
        shinglesFromHashes(tokenHashes(col("text")), SHINGLE))).as("g"))
      .repartition(col("g"))
    val cnt = sh.groupBy(col("g")).agg(count(lit(1)).as("nd"))
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
    val rare = sh.join(cnt.filter(col("nd") <= 256), "g")
    val inter = rare.select(col("g"), col("doc_id").as("doc_a"))
      .join(rare.select(col("g"), col("doc_id").as("doc_b")), "g")
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.select(col("doc_id").as("doc_a"), col("sz").as("sa")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("sz").as("sb")), "doc_b")
      .filter(lit(2L) * col("inter") >= least(col("sa"), col("sb")))
      .select(col("doc_a"), col("doc_b"), col("inter"),
        least(col("sa"), col("sb")).as("min_sz"),
        (col("inter").cast(DoubleType) /
          least(col("sa"), col("sb")).cast(DoubleType)).as("containment"),
        (lit(10L) * col("inter") >=
          lit(9L) * least(col("sa"), col("sb"))).as("is_dup"))
  }

  /** d14's builder on an arbitrary documents frame. Window 4
    * over 5-gram hashes ⇒ guarantee length 8 tokens, expected
    * fingerprint density 2/(w+1) = 0.4 of the grams. */
  def winnowing(docs: DataFrame): DataFrame = {
    val W = 4 // window width over K-gram hashes
    val KG = 5 // k-gram width (guarantee length = W + KG - 1 = 8)
    val sh = shinglesFromHashes(tokenHashes(col("text")), KG)
    val m = greatest(size(sh) - lit(W - 1), least(size(sh), lit(1)))
    val fps = when(size(sh) === 0, array().cast("array<bigint>"))
      .otherwise(array_distinct(transform(sequence(lit(0), m - lit(1)),
        i => array_min(slice(sh, i + lit(1), lit(W))))))
    val post = docs
      .select(col("doc_id"), explode(fps).as("fp"))
      .repartition(col("fp"))
    val cnt = post.groupBy(col("fp")).agg(count(col("doc_id")).as("nd"))
    post.join(cnt, "fp")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_fp"),
        sum(when(col("nd") >= 2, 1L).otherwise(0L)).as("n_shared_fp"))
      .select(col("doc_id"), col("n_fp"), col("n_shared_fp"),
        (col("n_shared_fp").cast(DoubleType) /
          col("n_fp").cast(DoubleType)).as("dup_frac"),
        (col("n_shared_fp").cast(DoubleType) /
          col("n_fp").cast(DoubleType) > lit(0.2)).as("flag"))
  }

  /** d13's builder: confusion counts + exact ppm precision/recall of
    * [[candidatePairsOf]] vs exact shingle-Jaccard ≥ 1/2 on (a
    * hash-sample of) `docs`. One output row. `sampleMod` > 1 keeps
    * doc_ids with xxhash64 ≡ 0 (mod sampleMod) — the deterministic
    * sampling that makes the eval affordable at corpus scale. */
  def lshEval(docs: DataFrame, sampleMod: Long = 1L): DataFrame = {
    val base =
      if (sampleMod <= 1L) docs
      else docs.filter(pmod(xxhash64(col("doc_id")), lit(sampleMod)) === 0L)
    // ONE tokenize pass: every consumer (truth sizes, both posting
    // self-join sides, the minhash signature) reads the same explicit
    // (doc_id, th) exchange via ReusedExchange — differently-pruned
    // subplans would silently re-run the tokenizer 4× otherwise (the
    // repo's recorded BM25 lesson; all consumers need exactly
    // doc_id+th, so the canonicalized exchanges match)
    val hashed = base
      .select(col("doc_id"),
        graft.functions.TextHashExprs.token_hashes(col("text")).as("th"))
      .repartition(col("doc_id"))
    val sh = hashed.select(col("doc_id"),
      array_distinct(shinglesFromHashes(col("th"), SHINGLE)).as("sh"))
    val sizes = sh.select(col("doc_id"), size(col("sh")).as("n"))
    val posting = sh.select(col("doc_id"), explode(col("sh")).as("g"))
    val inter = posting.select(col("doc_id").as("doc_a"), col("g"))
      .join(posting.select(col("doc_id").as("doc_b"), col("g")), Seq("g"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("ic"))
    val truth = inter
      .join(sizes.select(col("doc_id").as("doc_a"), col("n").as("na")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("n").as("nb")), "doc_b")
      .filter(lit(2) * col("ic") >= col("na") + col("nb") - col("ic"))
      .select(col("doc_a"), col("doc_b"), lit(1).as("is_t"))
    val cand = candidatePairsOf(sigOfHashed(hashed))
      .select(col("doc_a"), col("doc_b"), lit(1).as("is_c"))
    truth.join(cand, Seq("doc_a", "doc_b"), "full_outer")
      .agg(
        count(col("is_t")).as("n_true"),
        count(col("is_c")).as("n_cand"),
        count(when(col("is_t").isNotNull && col("is_c").isNotNull, 1)).as("tp"))
      .select(col("n_true"), col("n_cand"), col("tp"),
        expr("CASE WHEN n_cand = 0 THEN NULL ELSE tp * 1000000 div n_cand END")
          .as("precision_ppm"),
        expr("CASE WHEN n_true = 0 THEN NULL ELSE tp * 1000000 div n_true END")
          .as("recall_ppm"))
  }
}
