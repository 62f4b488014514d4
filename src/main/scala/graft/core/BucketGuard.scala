package graft.core

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Hot-bucket guard for LSH candidate generation.
  *
  * A banded LSH self-join is quadratic *within* one bucket population:
  * on benign data buckets are small, but a degenerate corpus (a
  * boilerplate-heavy crawl sharing one minhash band key, a pile of
  * near-zero vectors hashing to the same sign pattern) makes a single
  * (band, bkey) bucket of n members emit n² candidate pairs — at
  * 100 TB that one skewed key stalls the whole join stage.
  *
  * The guard bounds the output without silently dropping anything:
  *  - buckets with ≤ maxBucket members keep exact all-pairs semantics
  *    (bit-identical to the unguarded join — the oracle-gated path);
  *  - larger buckets are salted into ⌈n/maxBucket⌉ hash-chunks and
  *    pair only within a chunk (output linear in n: ≤ n·maxBucket
  *    pairs), PLUS a connectivity star linking every member to the
  *    bucket's min-id representative, so a dedup clustering that
  *    walks candidate components still sees the whole bucket as one
  *    component and an ANN probe still gets ~maxBucket candidates.
  *
  * Degraded buckets are observable via [[oversized]] (count, rep per
  * hot bucket) — callers log them; nothing is capped silently.
  */
object BucketGuard {

  /** Default threshold: all-pairs within a 4k bucket is 8M pairs —
    * large but shuffle-able; beyond that the guard kicks in. Gate-scale
    * test data never comes close, so the oracle-gated queries keep
    * exact LSH semantics. */
  val DefaultMaxBucket = 4096

  /** Bounded candidate pairs from a bucketed frame `bands` with
    * columns (`id`, band, bkey).
    *
    * `directed = false` emits each unordered pair once as
    * (`a` < `b`); `directed = true` emits both orientations
    * (`a` != `b`) — the shape ANN probing wants. Output is
    * `.distinct()`-deduped bare id pairs either way, so multi-band
    * collisions verify once downstream.
    */
  def boundedPairs(bands: DataFrame, id: String, outA: String, outB: String,
      maxBucket: Int = DefaultMaxBucket, directed: Boolean = false): DataFrame = {
    // `bands` is usually a COMPUTED frame (an explode over minhash/LSH
    // expressions, often over a unioned input) and the expensive unit
    // here is a full pass over it, not shuffle bytes. ONE capped
    // aggregation ([[graft.functions.BoundedBucketAgg]]) yields, per
    // bucket, the exact count, the exact min-id representative, and a
    // complete member array whenever the bucket is benign:
    //  - benign buckets (n ≤ maxBucket): all-pairs are emitted
    //    DIRECTLY from the aggregated array (explode × explode) —
    //    bit-identical pair set to the unguarded self-join, with no
    //    join and no second pass over the band set;
    //  - hot buckets: detected exactly in the same pass; only their
    //    rows (selected by a broadcast of the near-empty marker set)
    //    are salted into ⌈n/maxBucket⌉ hash-chunks and joined
    //    within-chunk, with the representative replicated into every
    //    chunk so the chunked join also emits the connectivity star.
    // The aggregated bucket set is CUT eagerly (r16): the
    // r15 shape relied on ReuseExchange to share the banding exchange
    // between the benign leg, the marker filter and the hot join, but
    // leg-specific pushed filters specialize the subtrees and the
    // exchanges stop being identical — the physical plan re-scanned
    // the corpus and re-derived the minhash banding up to THREE times
    // (d03's r16 before-plan, nodes 1/16/30). Materializing the
    // aggregate (≤ one row per bucket, members capped per bucket)
    // makes every leg read the same blocks; and when the marker set
    // is EMPTY — the benign-corpus common case, checked with one tiny
    // job against the materialized blocks — the hot branch (its
    // second banding pass, salt join and union) is not planned at
    // all, which is result-identical by construction (union with a
    // provably empty side). The returned plan reads the cut, so the
    // enclosing Materialize.statement releases it.
    val agg = aggregated(bands, id, maxBucket)
    val pairCmp: (Column, Column) => Column =
      if (directed) (a, b) => a =!= b else (a, b) => a < b
    val benign = agg.filter(col("__b.n") <= maxBucket)
      .select(explode(col("__b.members")).as("__a"), col("__b.members").as("__ms"))
      .select(col("__a"), explode(col("__ms")).as("__c"))
      .filter(pairCmp(col("__a"), col("__c")))
      .select(col("__a").as(outA), col("__c").as(outB))
    val markers = agg.filter(col("__b.n") > maxBucket)
      .select(col("band"), col("bkey"),
        col("__b.n").as("__n"), col("__b.rep").as("__rep"))
    if (markers.isEmpty) return benign.distinct()
    val ex = bands.repartition(col("band"), col("bkey"))
    val chunks = ceil(col("__n").cast(LongType) / lit(maxBucket.toLong)).cast(LongType)
    val hotRows = ex.join(markers, Seq("band", "bkey")) // inner: benign rows drop
      .withColumn("__salt", pmod(xxhash64(col(id)), chunks))
      .select(col(id), col("band"), col("bkey"), col("__salt"))
    val repRows = markers.select(
      col("__rep").as(id), col("band"), col("bkey"),
      explode(sequence(lit(0L), chunks - 1)).as("__salt"))
    val members = hotRows.union(repRows)
    val l = members.as("l"); val r = members.as("r")
    val hotPairs = l.join(r,
        col("l.band") === col("r.band") && col("l.bkey") === col("r.bkey") &&
          col("l.__salt") === col("r.__salt") && pairCmp(col(s"l.$id"), col(s"r.$id")))
      .select(col(s"l.$id").as(outA), col(s"r.$id").as(outB))
    benign.union(hotPairs).distinct()
  }

  /** Connectivity-preserving STAR contraction of the same buckets
    * [[boundedPairs]] pairs up: per bucket, one (rep = min id, member)
    * edge per other member — O(n) edges where the pair form is
    * O(n·maxBucket). COMPONENT-EQUAL to boundedPairs by construction
    * (a benign bucket's all-pairs clique and a hot bucket's
    * chunk-pairs-plus-star both connect exactly the bucket's member
    * set, and the star alone already does that), so a connected-
    * components consumer (d19's canonical pick, p13) gets identical
    * clusters from a far smaller edge list — each label-propagation
    * round shuffles the edges, so the contraction is paid back every
    * round. Not a candidate-pair replacement: similarity VERIFIERS
    * (d03's Jaccard check) still need the actual pairs. */
  def boundedStars(bands: DataFrame, id: String, outA: String, outB: String,
      maxBucket: Int = DefaultMaxBucket): DataFrame = {
    // same materialize-once + skip-empty-hot-leg shape as
    // [[boundedPairs]] (see the note there)
    val agg = aggregated(bands, id, maxBucket)
    val benign = agg.filter(col("__b.n") <= maxBucket)
      .select(col("__b.rep").as("__rep"), explode(col("__b.members")).as("__m"))
      .filter(col("__m") =!= col("__rep"))
      .select(col("__rep").as(outA), col("__m").as(outB))
    // hot buckets: the capped agg's member array is partial, so the
    // star joins the marker back onto a second banding pass
    val markers = agg.filter(col("__b.n") > maxBucket)
      .select(col("band"), col("bkey"), col("__b.rep").as("__rep"))
    if (markers.isEmpty) return benign.distinct()
    val ex = bands.repartition(col("band"), col("bkey"))
    val hotStars = ex.join(markers, Seq("band", "bkey"))
      .filter(col(id) =!= col("__rep"))
      .select(col("__rep").as(outA), col(id).as(outB))
    benign.union(hotStars).distinct()
  }

  /** Per (band, bkey): the capped member aggregate `__b`, cut. */
  private def aggregated(bands: DataFrame, id: String, maxBucket: Int): DataFrame =
    Materialize.cut(bands.repartition(col("band"), col("bkey"))
      .groupBy(col("band"), col("bkey"))
      .agg(graft.functions.BucketAggExprs.bounded_bucket(col(id), maxBucket).as("__b")))

  /** Buckets the guard degraded: (band, bkey, n, rep) for every bucket
    * over `maxBucket`. Operational visibility — log/count this next to
    * any guarded run; an empty frame means exact semantics everywhere. */
  def oversized(bands: DataFrame, id: String, maxBucket: Int = DefaultMaxBucket): DataFrame =
    bands.groupBy(col("band"), col("bkey"))
      .agg(count(lit(1)).as("n"), min(col(id)).as("rep"))
      .filter(col("n") > maxBucket)
}
