package graft.operators

import java.util.regex.{Matcher, Pattern}

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Distributed BPE (byte-pair-encoding) tokenizer training.
  *
  * The classic trick that makes BPE tractable at corpus scale: merges
  * are learned over the frequency-weighted VOCABULARY (word → count),
  * never the raw corpus. The corpus is touched exactly once — one
  * word-count aggregation whose map-side partials soak the Zipf skew —
  * and every merge round after that runs over |vocab| rows (Zipf-
  * bounded: ~millions at 100 TB, constant across rounds).
  *
  * Per round: one weighted pair-count aggregation + a LIMIT-1 collect
  * of the winning pair (the merge table is inherently sequential and
  * tiny — this is the one driver-side loop every distributed BPE
  * trainer has), then a narrow regexp merge over the vocab. The vocab
  * is cut per round and the previous round released, so lineage and
  * storage stay O(1) across thousands of merges.
  *
  * Words are represented as space-joined symbol strings ("l o w");
  * a merge of pair "l o" rewrites left-to-right non-overlapping
  * occurrences to "lo" — java.util.regex scans left-to-right without
  * rescanning replaced text, which IS the greedy BPE merge order.
  */
object Bpe {

  /** Frequency-weighted vocabulary of `textCol`, each word symbolized
    * to space-joined characters: columns (sym, wc). */
  def charVocab(docs: DataFrame, textCol: String): DataFrame =
    docs.select(explode(
        graft.functions.TextFunctions.tokens(col(textCol))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("wc"))
      .select(trim(regexp_replace(col("w"), "(.)", "$1 ")).as("sym"), col("wc"))

  /** Adjacent symbol pairs of a spaced-symbol string column. */
  private def adjacentPairs(sym: Column): Column = {
    val s = split(sym, " ")
    val n = greatest(size(s) - 1, lit(0))
    zip_with(slice(s, lit(1), n), slice(s, lit(2), n),
      (a, b) => concat(a, lit(" "), b))
  }

  /** Weighted adjacent-pair counts over a (sym, wc) vocabulary:
    * columns (pair, freq). One explode + one hash aggregation. */
  def pairCounts(vocab: DataFrame): DataFrame =
    vocab.select(col("wc"), explode(adjacentPairs(col("sym"))).as("pair"))
      .groupBy("pair").agg(sum(col("wc")).cast(LongType).as("freq"))

  /** One learned merge: rank, the two symbols, and the weighted count
    * of the pair when it was merged. */
  final case class Merge(rank: Int, left: String, right: String, freq: Long)

  /** Exact in-memory trainer over a collected (spaced-word, count)
    * vocabulary — the fast path [[train]] takes when the vocab is
    * Zipf/Heaps-bounded small enough to collect (the normal case:
    * even a 100 TB corpus has a word vocabulary in the millions, a
    * few hundred MB — this is how production tokenizer trainers run,
    * one corpus aggregation then zero per-merge cluster jobs).
    *
    * Incremental algorithm, not per-merge rescan: a pair→word-indices
    * inverted index plus a TreeSet ordered by (freq DESC, pair ASC)
    * keep each merge O(words containing the pair), so 50k merges over
    * a millions-entry vocab stay tractable. Semantics are identical to
    * the distributed rounds — same greedy non-overlapping
    * left-to-right rewrite, same (freq DESC, pair ASC) tie-break —
    * pinned merge-for-merge in BpeSpec. */
  def trainInMemory(vocab: Seq[(String, Long)], numMerges: Int,
      minFreq: Long = 2L): Seq[Merge] = {
    import scala.collection.mutable
    val words: Array[Array[String]] =
      vocab.map(_._1.split(" ").filter(_.nonEmpty)).toArray
    val wc: Array[Long] = vocab.map(_._2).toArray

    // non-overlapping left-to-right pair occurrences of one word
    def pairsOf(syms: Array[String]): Iterator[(String, String)] =
      (0 until syms.length - 1).iterator.map(j => (syms(j), syms(j + 1)))

    val counts = mutable.HashMap.empty[(String, String), Long]
    val index = mutable.HashMap.empty[(String, String), mutable.Set[Int]]
    words.indices.foreach { i =>
      pairsOf(words(i)).foreach { p =>
        counts(p) = counts.getOrElse(p, 0L) + wc(i)
        index.getOrElseUpdate(p, mutable.Set.empty) += i
      }
    }
    // (freq DESC, pair ASC) — the exact distributed orderBy
    implicit val ord: Ordering[((String, String), Long)] =
      Ordering.by { case ((a, b), f) => (-f, a + " " + b) }
    val queue = mutable.TreeSet.empty[((String, String), Long)]
    counts.foreach(queue += _)
    def bump(p: (String, String), delta: Long, i: Int): Unit = {
      val old = counts.getOrElse(p, 0L)
      if (old != 0L) queue.remove((p, old))
      val nw = old + delta
      if (nw != 0L) { counts(p) = nw; queue.add((p, nw)) }
      else counts.remove(p)
      if (delta > 0) index.getOrElseUpdate(p, mutable.Set.empty) += i
    }

    val merges = Seq.newBuilder[Merge]
    var i = 0
    var done = false
    while (i < numMerges && !done) {
      queue.headOption match {
        case Some((p @ (a, b), f)) if f >= minFreq =>
          merges += Merge(i, a, b, f)
          val touched = index.getOrElse(p, mutable.Set.empty).toArray
          touched.foreach { wi =>
            val before = words(wi)
            // greedy non-overlapping left-to-right rewrite (the regexp
            // semantics of the distributed round)
            val out = mutable.ArrayBuffer.empty[String]
            var j = 0
            while (j < before.length) {
              if (j + 1 < before.length && before(j) == a && before(j + 1) == b) {
                out += a + b; j += 2
              } else { out += before(j); j += 1 }
            }
            val after = out.toArray
            if (!java.util.Arrays.equals(
                before.asInstanceOf[Array[AnyRef]],
                after.asInstanceOf[Array[AnyRef]])) {
              pairsOf(before).foreach(q => bump(q, -wc(wi), wi))
              words(wi) = after
              pairsOf(after).foreach(q => bump(q, wc(wi), wi))
            }
          }
          // stale index entries (words that no longer contain a pair)
          // are tolerated: the rewrite no-ops on them; the merged pair
          // itself is gone from counts so it can't be re-picked
          index.remove(p)
          i += 1
        case _ => done = true
      }
    }
    merges.result()
  }

  /** Learn `numMerges` BPE merges over the corpus. Stops early when no
    * pair occurs at least `minFreq` times.
    *
    * Vocabulary-size dispatch: the corpus is aggregated once to the
    * frequency-weighted word vocabulary; when that vocab has at most
    * `localVocabThreshold` entries (the Heaps'-law-bounded normal
    * case at ANY corpus scale) it is collected and trained in memory
    * ([[trainInMemory]]) — one cluster job total instead of one per
    * merge round. Above the threshold, distributed batched rounds.
    *
    * Batched driver rounds: each Spark round-trip fetches the top
    * `maxBatch + 1` ranked pairs and accepts the maximal PREFIX of the
    * ranking that is pairwise symbol-disjoint, trimmed to frequencies
    * strictly above the first excluded pair. That acceptance rule makes
    * the batch provably identical to `maxBatch = 1` sequential
    * training (pinned merge-for-merge in BpeSpec):
    *  - prefix + disjoint ⇒ every accepted pair's count is invariant
    *    under the earlier accepted merges (a merge only destroys/creates
    *    pairs sharing one of its symbols), so at sequential step k the
    *    count of p_k is still f_k, and every original pair ranked below
    *    keeps freq ≤ f_k (conflicting counts only decrease);
    *  - the strict-frequency trim ⇒ pairs CREATED by the batch (x·ab)
    *    can't outrank an accepted pair: a new pair's count is bounded
    *    by the destroyed pair (x,a) it came from, which conflicts with
    *    the batch and is therefore ranked past the prefix, freq ≤
    *    f_stop < f_k — ties included.
    * A 50k-merge vocabulary train thus needs ~50k/batch driver
    * round-trips instead of 50k (the probe shape in SCALE_r7). */
  def train(docs: DataFrame, textCol: String, numMerges: Int,
      minFreq: Long = 2L, maxBatch: Int = 16,
      localVocabThreshold: Long = 2000000L): Seq[Merge] =
    trainWithStats(docs, textCol, numMerges, minFreq, maxBatch,
      localVocabThreshold)._1

  /** [[train]] plus the number of Spark jobs the merge loop took (the
    * batching/local-path win a scale probe can assert on; the initial
    * vocab aggregation counts as round 1). */
  def trainWithStats(docs: DataFrame, textCol: String, numMerges: Int,
      minFreq: Long = 2L, maxBatch: Int = 16,
      localVocabThreshold: Long = 2000000L): (Seq[Merge], Int) = {
    require(maxBatch >= 1, s"maxBatch must be >= 1, got $maxBatch")
    // a cut per round, not a reuse: a persisted frame cuts execution
    // but the logical plan still nests every prior round, and per-round
    // plan analysis / plan-string generation grows without bound — a
    // real tokenizer trains thousands of merges.
    var v = graft.core.Materialize.cut(charVocab(docs, textCol))
    if (v.count() <= localVocabThreshold) {
      // Heaps'-bounded vocab ⇒ collect once and train in memory:
      // the whole merge loop costs ONE cluster aggregation, however
      // many merges are requested
      val collected = v.collect()
        .map(r => (r.getString(0), r.getLong(1))).toSeq
      graft.core.Materialize.release(v)
      return (trainInMemory(collected, numMerges, minFreq), 1)
    }
    val merges = Seq.newBuilder[Merge]
    var rounds = 0
    var done = false
    var i = 0
    while (i < numMerges && !done) {
      val want = math.min(maxBatch, numMerges - i)
      val top = pairCounts(v)
        .orderBy(col("freq").desc, col("pair").asc).limit(want + 1).collect()
        .map(r => (r.getString(0), r.getLong(1)))
      rounds += 1
      val eligible = top.takeWhile(_._2 >= minFreq)
      if (eligible.isEmpty) done = true
      else {
        // maximal pairwise-disjoint prefix of the ranking
        val used = scala.collection.mutable.Set.empty[String]
        var idx = 0
        var conflict = false
        while (idx < eligible.length && idx < want && !conflict) {
          val Array(a, b) = eligible(idx)._1.split(" ", 2)
          if (used(a) || used(b)) conflict = true
          else { used += a; used += b; idx += 1 }
        }
        // f_stop = count of the first pair NOT in the accepted prefix
        // (conflicting, rank-cut, or sub-minFreq trailing); new pairs
        // created by the batch are bounded by it. None ⇒ the ranking is
        // exhausted and no pair can be created (see Scaladoc).
        val fStop: Option[Long] =
          if (idx < top.length) Some(top(idx)._2) else None
        var keep = fStop match {
          case Some(fs) => eligible.take(idx).lastIndexWhere(_._2 > fs) + 1
          case None => idx
        }
        if (keep == 0) keep = 1 // p_1 is always the sequential choice
        val accepted = eligible.take(keep)
        accepted.foreach { case (pair, freq) =>
          val Array(a, b) = pair.split(" ", 2)
          merges += Merge(i, a, b, freq)
          i += 1
        }
        // ONE narrow rewrite pass for the whole batch: the replaces
        // chain on disjoint symbol sets, so order within the chain
        // can't change the result.
        val rewritten = accepted.foldLeft(col("sym")) { case (c, (pair, _)) =>
          val Array(a, b) = pair.split(" ", 2)
          val pat = "(?<=^| )" + Pattern.quote(a) + " " + Pattern.quote(b) +
            "(?=$| )"
          regexp_replace(c, lit(pat), lit(Matcher.quoteReplacement(a + b)))
        }
        // Eager cut materializes the round, so at most two vocab
        // copies are ever resident; the superseded round's blocks are
        // released (the vocab row count never changes).
        val next = graft.core.Materialize.cut(v.withColumn("sym", rewritten))
        graft.core.Materialize.release(v)
        v = next
      }
    }
    graft.core.Materialize.release(v)
    (merges.result(), rounds)
  }

  /** Distributed corpus encoding with a learned merge list: text →
    * array of subword symbols, one codegen'd static call per row
    * (functions.BpeEncodeExpr). Rank-priority merging — repeatedly
    * merge the lowest-rank adjacent pair — which is the standard
    * encoder equivalence of applying merges in learned order
    * (BpeSpec pins it token-for-token against [[encodeWord]]). */
  def encode(text: Column, merges: Seq[Merge]): Column =
    graft.functions.BpeExprs.bpe_encode(text,
      merges.map(m => (m.left, m.right)))

  /** Segment one word (plain string) with a learned merge list — the
    * driver-side encoder twin of [[train]], for spec-level checks. */
  def encodeWord(word: String, merges: Seq[Merge]): Seq[String] = {
    var syms = word.toLowerCase(java.util.Locale.ROOT).map(_.toString).toVector
    for (m <- merges) {
      val out = Vector.newBuilder[String]
      var j = 0
      while (j < syms.length) {
        if (j + 1 < syms.length && syms(j) == m.left && syms(j + 1) == m.right) {
          out += m.left + m.right; j += 2
        } else { out += syms(j); j += 1 }
      }
      syms = out.result()
    }
    syms
  }
}
