package graft.core

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.types._

/** Distributed global row numbering — the scale path for the dialect's
  * `inc()` (reference selector.go:204-207) and any "number the whole
  * result" need.
  *
  * A window over a global ORDER BY funnels every row through one
  * partition; this uses RDD `zipWithIndex` instead: one small job
  * counts rows per partition, then every partition numbers itself in
  * parallel from its broadcast offset — no single-task bottleneck at
  * any scale, no `Exchange SinglePartition` in any plan.
  *
  * Why RDD-level rather than a DataFrame self-join on
  * `spark_partition_id()`: the two internal jobs must see IDENTICAL
  * partitioning. Two separate DataFrame actions re-plan independently —
  * under AQE the same shuffle can coalesce differently per action and
  * the collected offsets would describe partitions that no longer
  * exist (observed: q23 off-by-k at sf0.01 with AQE on). zipWithIndex
  * runs both jobs on the SAME RDD instance: partitioning is fixed once
  * and shuffle outputs are reused, so the count pass and the numbering
  * pass agree by construction. The cost is one serialization boundary
  * (a pipeline breaker, like any shuffle) — the numbering operator is
  * inherently two-phase anyway.
  */
object RowNumbers {

  // Each entry point reuses the RDD its eager offset phase and its
  // assignment pass share; the enclosing Materialize.statement releases
  // it. Correctness never depends on that cache: a re-materialization
  // recomputes through the same RDD instance (fixed partitioner, reused
  // shuffle files), so the broadcast offsets stay valid. The range-
  // partitioned ones also reuse their (narrow) INPUT until the offset
  // phase ends: `repartitionByRange` runs its child twice (sampler, then
  // map stage), which would pay an expensive upstream (p13's survivor
  // joins, t11's tokenize) double.

  /** Attach `name` = step · (1-based row index in natural scan order —
    * (partition, offset) order, matching the reference's single-
    * threaded scan counter). */
  def scanOrder(df: DataFrame, name: String = "rn", step: Double = 1.0): DataFrame = {
    val spark = df.sparkSession
    val schema = StructType(df.schema.fields :+
      StructField(name, DoubleType, nullable = false))
    // reused across zipWithIndex's two passes (the eager count job in
    // its constructor and the later numbering pass): without it the
    // child's post-shuffle work (sorts, projections) executes twice
    val rdd = Materialize.reuse(df.rdd).zipWithIndex().map { case (r, i) =>
      Row.fromSeq(r.toSeq :+ (i + 1) * step)
    }
    spark.createDataFrame(rdd, schema)
  }

  /** Ordered numbering: range-partition on `order` + sort within
    * partitions (ranges are ordered across partitions, so scan order
    * of the sorted frame IS the global order), then zip. */
  def global(df: DataFrame, order: Seq[Column], name: String = "rn",
      step: Double = 1.0, numPartitions: Option[Int] = None): DataFrame = {
    val parts = numPartitions.getOrElse(
      df.sparkSession.sessionState.conf.numShufflePartitions)
    val src = Materialize.reuse(df)
    val out = scanOrder(src.repartitionByRange(parts, order: _*)
      .sortWithinPartitions(order: _*), name, step)
    Materialize.release(src) // scanOrder's zipWithIndex count job already ran
    out
  }

  /** Attach `name` = inclusive running sum of LongType column `value`
    * in natural scan order. Same two-phase shape as [[scanOrder]]: one
    * tiny job collects a per-partition total (one long per partition),
    * then every partition sums itself in parallel from its broadcast
    * offset. Both jobs run on the SAME RDD instance so partitioning is
    * fixed once and shuffle outputs are reused (the AQE re-plan hazard
    * documented above) — never an `Exchange SinglePartition`, which is
    * what a `sum() OVER (ORDER BY …)` window would plan. */
  def scanCumsum(df: DataFrame, value: String, name: String = "cum"): DataFrame = {
    val spark = df.sparkSession
    val idx = df.schema.fieldIndex(value)
    val schema = StructType(df.schema.fields :+
      StructField(name, LongType, nullable = false))
    val rdd = Materialize.reuse(df.rdd)
    val partTotals = rdd.mapPartitionsWithIndex { (i, it) =>
      var s = 0L; it.foreach(r => s += r.getLong(idx)); Iterator((i, s))
    }.collect().sortBy(_._1).map(_._2)
    val offsets = spark.sparkContext.broadcast(partTotals.scanLeft(0L)(_ + _))
    val out = rdd.mapPartitionsWithIndex { (i, it) =>
      var s = offsets.value(i)
      it.map { r => s += r.getLong(idx); Row.fromSeq(r.toSeq :+ s) }
    }
    spark.createDataFrame(out, schema)
  }

  /** Ordered running sum: range-partition + sort (as [[global]]), then
    * [[scanCumsum]]. The building block for sequence packing: global
    * token offsets at any scale without a single-task window. */
  def globalCumsum(df: DataFrame, order: Seq[Column], value: String,
      name: String = "cum", numPartitions: Option[Int] = None): DataFrame = {
    val parts = numPartitions.getOrElse(
      df.sparkSession.sessionState.conf.numShufflePartitions)
    val src = Materialize.reuse(df)
    val out = scanCumsum(src.repartitionByRange(parts, order: _*)
      .sortWithinPartitions(order: _*), value, name)
    Materialize.release(src) // scanCumsum's offset collect already ran
    out
  }

  /** Per-KEY 1-based row numbering (`row_number() OVER (PARTITION BY
    * key ORDER BY order)`) without hashing all rows of a key into one
    * reducer: range-partition on (key, order) — a hot key SPREADS over
    * consecutive partitions instead of landing on one task — then the
    * same two-phase shape: per-partition per-key run counts (keys are
    * contiguous after the range sort, so this is one streaming pass),
    * driver-side prefix offsets per key across partitions, broadcast,
    * parallel assignment. Driver state is O(distinct keys): built for
    * the low/moderate-cardinality keys that NEED it (aspect buckets,
    * language strata, domains) — exactly where a window's
    * one-reducer-per-key shape collapses at 100 TB. For
    * high-cardinality keys use the plain window (keys already spread). */
  def grouped(df: DataFrame, key: Seq[String], order: Seq[Column],
      name: String = "rn", numPartitions: Option[Int] = None): DataFrame = {
    val spark = df.sparkSession
    val parts = numPartitions.getOrElse(
      spark.sessionState.conf.numShufflePartitions)
    val sortCols = key.map(org.apache.spark.sql.functions.col) ++ order
    val src = Materialize.reuse(df)
    val keyed = src.repartitionByRange(parts, sortCols: _*)
      .sortWithinPartitions(sortCols: _*)
    val kIdx = key.map(keyed.schema.fieldIndex)
    // reused across the two passes (see groupedCumsum for why)
    val rdd = Materialize.reuse(keyed.rdd)
    val runs: Array[(Int, Seq[(Seq[Any], Long)])] =
      rdd.mapPartitionsWithIndex { (i, it) =>
        val buf = scala.collection.mutable.ArrayBuffer.empty[(Seq[Any], Long)]
        var cur: Seq[Any] = null
        var c = 0L
        it.foreach { r =>
          val k = kIdx.map(r.get)
          if (k == cur) c += 1
          else { if (cur != null) buf += ((cur, c)); cur = k; c = 1L }
        }
        if (cur != null) buf += ((cur, c))
        Iterator((i, buf.toSeq))
      }.collect()
    Materialize.release(src) // the collect ran the shuffle map off the cache
    // per (partition, key) start offset = rows of that key in EARLIER partitions
    val seen = scala.collection.mutable.Map.empty[Seq[Any], Long]
    val offsets = runs.sortBy(_._1).flatMap { case (i, ks) =>
      ks.map { case (k, c) =>
        val start = seen.getOrElse(k, 0L)
        seen(k) = start + c
        ((i, k), start)
      }
    }.toMap
    val bc = spark.sparkContext.broadcast(offsets)
    val schema = StructType(keyed.schema.fields :+
      StructField(name, LongType, nullable = false))
    val out = rdd.mapPartitionsWithIndex { (i, it) =>
      var cur: Seq[Any] = null
      var n = 0L
      it.map { r =>
        val k = kIdx.map(r.get)
        if (k != cur) { cur = k; n = bc.value.getOrElse((i, k), 0L) }
        n += 1
        Row.fromSeq(r.toSeq :+ n)
      }
    }
    spark.createDataFrame(out, schema)
  }

  /** Per-KEY inclusive running sum of LongType column `value`
    * (`sum(value) OVER (PARTITION BY key ORDER BY order ROWS UNBOUNDED
    * PRECEDING)`) with [[grouped]]'s two-phase shape: range-partition
    * on (key, order) so a hot key spreads over consecutive partitions,
    * per-partition per-key run SUMS (one streaming pass), driver-side
    * prefix offsets per key, broadcast, parallel assignment. Built for
    * the same low/moderate-cardinality keys as [[grouped]] — budget
    * cutoffs per source/language/domain — where a window would funnel
    * each key through one reducer. */
  def groupedCumsum(df: DataFrame, key: Seq[String], order: Seq[Column],
      value: String, name: String = "cum",
      numPartitions: Option[Int] = None): DataFrame = {
    val spark = df.sparkSession
    val parts = numPartitions.getOrElse(
      spark.sessionState.conf.numShufflePartitions)
    val sortCols = key.map(org.apache.spark.sql.functions.col) ++ order
    val src = Materialize.reuse(df)
    val keyed = src.repartitionByRange(parts, sortCols: _*)
      .sortWithinPartitions(sortCols: _*)
    val kIdx = key.map(keyed.schema.fieldIndex)
    val vIdx = keyed.schema.fieldIndex(value)
    // reused across the two passes: the offset collect and the
    // assignment must see IDENTICAL rows-per-partition. Without the
    // cache, an executor loss between the jobs recomputes the
    // un-persisted shuffle, and a nondeterministic upstream could land
    // rows in different partitions than the offsets describe.
    val rdd = Materialize.reuse(keyed.rdd)
    val runs: Array[(Int, Seq[(Seq[Any], Long)])] =
      rdd.mapPartitionsWithIndex { (i, it) =>
        val buf = scala.collection.mutable.ArrayBuffer.empty[(Seq[Any], Long)]
        var cur: Seq[Any] = null
        var s = 0L
        it.foreach { r =>
          val k = kIdx.map(r.get)
          if (k == cur) s += r.getLong(vIdx)
          else { if (cur != null) buf += ((cur, s)); cur = k; s = r.getLong(vIdx) }
        }
        if (cur != null) buf += ((cur, s))
        Iterator((i, buf.toSeq))
      }.collect()
    Materialize.release(src) // the collect ran the shuffle map off the cache
    val seen = scala.collection.mutable.Map.empty[Seq[Any], Long]
    val offsets = runs.sortBy(_._1).flatMap { case (i, ks) =>
      ks.map { case (k, s) =>
        val start = seen.getOrElse(k, 0L)
        seen(k) = start + s
        ((i, k), start)
      }
    }.toMap
    val bc = spark.sparkContext.broadcast(offsets)
    val schema = StructType(keyed.schema.fields :+
      StructField(name, LongType, nullable = false))
    val out = rdd.mapPartitionsWithIndex { (i, it) =>
      var cur: Seq[Any] = null
      var s = 0L
      it.map { r =>
        val k = kIdx.map(r.get)
        if (k != cur) { cur = k; s = bc.value.getOrElse((i, k), 0L) }
        s += r.getLong(vIdx)
        Row.fromSeq(r.toSeq :+ s)
      }
    }
    spark.createDataFrame(out, schema)
  }
}
