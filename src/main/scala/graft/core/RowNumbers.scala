package graft.core

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

/** Distributed ordered row numbering and running sums — the scale path
  * for the dialect's `inc()` (reference selector.go:204-207) and any
  * "number or running-sum the whole result" need, overall or per key.
  *
  * A window over a global ORDER BY funnels every row through one
  * partition, and one PARTITION BY a hot key funnels that key through
  * one reducer. Here the input is range-partitioned and sorted on
  * `key ++ order` (a hot key SPREADS over consecutive partitions), then
  * numbered in two phases: one small job collects each partition's
  * per-key run totals, the driver prefix-sums them into per-(partition,
  * key) start offsets, and every partition numbers itself in parallel
  * from the broadcast offsets — no single-task bottleneck at any scale,
  * no `Exchange SinglePartition` in any plan. Keys are contiguous after
  * the sort, so the totals are one streaming pass and driver state is
  * O(runs), where an empty key makes one run per partition.
  *
  * Why RDD-level rather than a DataFrame self-join on
  * `spark_partition_id()`: the two internal jobs must see IDENTICAL
  * partitioning. Two separate DataFrame actions re-plan independently —
  * under AQE the same shuffle can coalesce differently per action and
  * the collected offsets would describe partitions that no longer
  * exist (observed: q23 off-by-k at sf0.01 with AQE on). Both jobs run
  * on the SAME RDD instance: partitioning is fixed once and shuffle
  * outputs are reused, so the offset pass and the numbering pass agree
  * by construction. The cost is one serialization boundary (a pipeline
  * breaker, like any shuffle) — the operator is inherently two-phase.
  */
object RowNumbers {

  /** Attach `name` = 1-based row number in `order`, restarting per
    * distinct `key` (`row_number() OVER (PARTITION BY key ORDER BY
    * order)`; no key numbers the whole frame). LongType. */
  def number(df: DataFrame, order: Seq[Column], key: Seq[String] = Nil,
      name: String = "rn"): DataFrame =
    twoPhase(df, order, key, None, name)

  /** Attach `name` = inclusive running sum of LongType column `value`
    * in `order`, restarting per distinct `key` (`sum(value) OVER
    * (PARTITION BY key ORDER BY order ROWS UNBOUNDED PRECEDING)`).
    * LongType. */
  def cumsum(df: DataFrame, order: Seq[Column], value: String,
      key: Seq[String] = Nil, name: String = "cum"): DataFrame =
    twoPhase(df, order, key, Some(value), name)

  /** A row adds 1, or its `value`, to its key's running total.
    *
    * The INPUT is reused until the offset job has run:
    * `repartitionByRange` runs its child twice (sampler, then map
    * stage), which would pay an expensive upstream (p13's survivor
    * joins, t11's tokenize) double. The sorted RDD is reused across the
    * offset job and the assignment pass, so an executor loss between
    * them does not recompute a nondeterministic upstream into other
    * partitions than the offsets describe; the enclosing
    * Materialize.statement releases it. A sorted input of at most one
    * partition numbers itself from 0 without any offset job. */
  private def twoPhase(df: DataFrame, order: Seq[Column], key: Seq[String],
      value: Option[String], name: String): DataFrame = {
    val spark = df.sparkSession
    val sortCols = key.map(col) ++ order
    val src = Materialize.reuse(df)
    val sorted = src.repartitionByRange(sortCols: _*).sortWithinPartitions(sortCols: _*)
    val kIdx = key.map(sorted.schema.fieldIndex)
    val add: Row => Long = value.map(sorted.schema.fieldIndex) match {
      case Some(v) => _.getLong(v)
      case None => _ => 1L
    }
    val rows = sorted.rdd
    val many = rows.getNumPartitions > 1
    val rdd = if (many) Materialize.reuse(rows) else rows
    val offsets: Map[(Int, Seq[Any]), Long] =
      if (!many) Map.empty
      else {
        val runs = rdd.mapPartitionsWithIndex { (i, it) =>
          val buf = scala.collection.mutable.ArrayBuffer.empty[(Seq[Any], Long)]
          var cur: Seq[Any] = null
          var s = 0L
          it.foreach { r =>
            val k = kIdx.map(r.get)
            if (k != cur) { if (cur != null) buf += ((cur, s)); cur = k; s = 0L }
            s += add(r)
          }
          if (cur != null) buf += ((cur, s))
          Iterator((i, buf.toSeq))
        }.collect()
        // per (partition, key) start = that key's total in EARLIER partitions
        val seen = scala.collection.mutable.Map.empty[Seq[Any], Long]
        runs.sortBy(_._1).flatMap { case (i, ks) =>
          ks.map { case (k, s) =>
            val start = seen.getOrElse(k, 0L)
            seen(k) = start + s
            ((i, k), start)
          }
        }.toMap
      }
    // adaptive execution ran the map stage when `sorted.rdd` was built
    Materialize.release(src)
    val bc = spark.sparkContext.broadcast(offsets)
    val schema = StructType(sorted.schema.fields :+
      StructField(name, LongType, nullable = false))
    val out = rdd.mapPartitionsWithIndex { (i, it) =>
      var cur: Seq[Any] = null
      var s = 0L
      it.map { r =>
        val k = kIdx.map(r.get)
        if (k != cur) { cur = k; s = bc.value.getOrElse((i, k), 0L) }
        s += add(r)
        Row.fromSeq(r.toSeq :+ s)
      }
    }
    spark.createDataFrame(out, schema)
  }
}
