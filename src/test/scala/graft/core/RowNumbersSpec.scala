package graft.core

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import graft.SparkSpec

/** [[RowNumbers.number]] and [[RowNumbers.cumsum]], keyless and keyed,
  * against the window each stands in for, and the Spark jobs each shape
  * runs while it is built and while it is read. */
class RowNumbersSpec extends SparkSpec {

  /** (build, read) jobs of the function each shape replaced (`global`,
    * `globalCumsum`, `grouped`, `groupedCumsum`; all four ran the same),
    * on the same input under the same conf, measured at the last commit
    * that had them. They range-partitioned to exactly
    * `spark.sql.shuffle.partitions`, so they ran their offset job under
    * every conf here. */
  private val replacedJobs = (4, 1)

  /** 150 rows; `k` is a key of 50 rows each, `w` a positive value. */
  private lazy val customer = Tables(spark, sf0001, "customer").select(
    col("c_custkey"), (col("c_custkey") % 3).cast("long").as("k"),
    col("c_nationkey").cast("long").as("v"),
    (col("c_nationkey") + 1).cast("long").as("w"))

  private def byKey(keyed: Boolean) =
    (if (keyed) Window.partitionBy(col("k")).orderBy(col("c_custkey"))
     else Window.orderBy(col("c_custkey"))).rowsBetween(Window.unboundedPreceding, 0)

  /** A shape: name, keyed, whether it sums `w` (else numbers). */
  private final case class Shape(name: String, keyed: Boolean, sums: Boolean) {
    def apply(df: DataFrame, order: Seq[Column]): DataFrame = {
      val key = if (keyed) Seq("k") else Nil
      if (sums) RowNumbers.cumsum(df, order, "w", key, "out")
      else RowNumbers.number(df, order, key, "out")
    }
    def window: Column = (if (sums) sum(col("w")) else row_number()).over(byKey(keyed))
  }

  private val number = Shape("number", keyed = false, sums = false)
  private val cumsum = Shape("cumsum", keyed = false, sums = true)
  private val keyedNumber = Shape("keyed number", keyed = true, sums = false)
  private val keyedCumsum = Shape("keyed cumsum", keyed = true, sums = true)
  private val shapes = Seq(number, cumsum, keyedNumber, keyedCumsum)

  private def withConf[T](kv: (String, String)*)(body: => T): T = {
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally kv.foreach { case (k, _) => spark.conf.unset(k) }
  }

  private val noCoalesce = "spark.sql.adaptive.coalescePartitions.enabled" -> "false"

  /** One shape's build and read as a statement, in `order`: the output
    * rows (c_custkey, k, w, out, partition), the output's partition
    * count and the sites of the build's jobs. Both job counts must stay
    * within [[replacedJobs]]. */
  private def run(shape: Shape, order: Seq[Column] = Seq(col("c_custkey"))
      ): (Seq[Row], Int, Seq[String]) =
    Materialize.statement {
      val in = customer // its parquet schema read is not the shape's
      var out: DataFrame = null
      val built = jobRowsOf { out = shape(in, order) }
      var rows: Seq[Row] = Nil
      val read = jobsOf {
        rows = out.select(col("c_custkey"), col("k"), col("w"), col("out"),
          spark_partition_id()).collect().toSeq
      }
      assert(out.schema("out").dataType == LongType)
      assert(built.size <= replacedJobs._1 && read <= replacedJobs._2,
        s"${shape.name}: ${built.map(_.site)} build jobs, $read read jobs; at most $replacedJobs")
      (rows, out.rdd.getNumPartitions, built.map(_.site))
    }

  /** The shape's answer equals its window's. */
  private def matchesWindow(shape: Shape, rows: Seq[Row]): Unit = {
    val want = customer.select(col("c_custkey"), shape.window.cast(LongType)).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rows.map(r => r.getLong(0) -> r.getLong(3)).toMap == want, shape.name)
  }

  /** Several partitions, every one of them numbered: for a keyed
    * shape, some key's rows lie in more than one partition. */
  private def acrossPartitions(shape: Shape): Unit = withConf(noCoalesce) {
    val (rows, parts, _) = run(shape)
    matchesWindow(shape, rows)
    assert(parts == 4)
    if (shape.keyed)
      assert(rows.groupBy(_.getLong(1)).values.exists(_.map(_.getInt(4)).distinct.size > 1),
        "no key spans partitions")
  }

  test("global row numbers match the single-partition window result") {
    acrossPartitions(number)
  }

  test("globalCumsum matches the single-partition window running sum") {
    acrossPartitions(cumsum)
  }

  test("grouped row numbers match the per-key window result") {
    acrossPartitions(keyedNumber)
  }

  test("groupedCumsum matches the per-key window running sum") {
    acrossPartitions(keyedCumsum)
  }

  test("number and cumsum are exact across empty and uneven partitions") {
    // ordered by a value of 25 distinct levels: the range bounds are
    // those levels, so partitions are uneven and the one past the top
    // bound is empty. Ties number in any order, so the check is the
    // window's invariant: per key, sorted by `out`, the values run
    // 1..n (number) or step by `w` (cumsum) and `v` never falls.
    withConf(noCoalesce, "spark.sql.shuffle.partitions" -> "200") {
      shapes.foreach { shape =>
        val (rows, parts, _) = run(shape, Seq(col("v")))
        val sizes = rows.groupBy(_.getInt(4)).view.mapValues(_.size).toMap
        assert(sizes.size < parts, s"${shape.name}: no empty partition in $sizes")
        assert(sizes.values.toSet.size > 1, s"${shape.name}: even partitions $sizes")
        val vOf = customer.select(col("c_custkey"), col("v")).collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap
        rows.groupBy(r => if (shape.keyed) r.getLong(1) else 0L).values.foreach { g =>
          val sorted = g.sortBy(_.getLong(3))
          val steps = sorted.map(r => if (shape.sums) r.getLong(2) else 1L)
          assert(sorted.map(_.getLong(3)) == steps.scanLeft(0L)(_ + _).tail, shape.name)
          val vs = sorted.map(r => vOf(r.getLong(0)))
          assert(vs == vs.sorted, s"${shape.name}: out of order")
        }
      }
    }
  }

  test("a sorted input of one partition runs no offset job") {
    // the default session coalesces 150 rows into one partition
    shapes.foreach { shape =>
      val (rows, parts, sites) = run(shape)
      matchesWindow(shape, rows)
      assert(parts == 1)
      assert(!sites.exists(_.startsWith("collect at RowNumbers")), sites)
    }
    assert(RowNumbers.number(customer.filter(lit(false)), Seq(col("c_custkey")))
      .count() == 0)
  }
}
