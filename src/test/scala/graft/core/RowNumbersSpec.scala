package graft.core

import org.apache.spark.sql.functions._
import graft.SparkSpec

class RowNumbersSpec extends SparkSpec {

  test("global row numbers match the single-partition window result") {
    val df = Tables(spark, sf0001, "customer")
    val got = RowNumbers.global(df, Seq(col("c_custkey")), "rn", step = 1.0,
      numPartitions = Some(7))
      .select(col("c_custkey"), col("rn")).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1)
    val want = df.select(col("c_custkey")).collect().map(_.getLong(0)).sorted
      .zipWithIndex.map { case (k, i) => (k, (i + 1).toDouble) }
    assert(got.sameElements(want))
  }

  test("step scales the numbering") {
    val df = Tables(spark, sf0001, "region")
    val got = RowNumbers.global(df, Seq(col("r_regionkey")), "rn", step = 0.5)
      .select(col("rn")).collect().map(_.getDouble(0)).sorted
    assert(got.sameElements(Array(0.5, 1.0, 1.5, 2.0, 2.5)))
  }

  test("globalCumsum matches the single-partition window running sum") {
    val df = Tables(spark, sf0001, "customer")
      .select(col("c_custkey"), col("c_nationkey").cast("long").as("v"))
    val got = RowNumbers.globalCumsum(df, Seq(col("c_custkey")), "v", "cum",
      numPartitions = Some(7))
      .select(col("c_custkey"), col("cum")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    val rows = df.collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    var s = 0L
    val want = rows.map { case (k, v) => s += v; (k, s) }
    assert(got.sameElements(want))
  }

  test("scanCumsum is exact across empty and uneven partitions") {
    val df = spark.range(0, 100, 1, 13).toDF("v")
      .filter(col("v") % 3 =!= 0) // punch holes so partitions are uneven
    val got = RowNumbers.scanCumsum(df, "v", "cum")
      .agg(max(col("cum"))).collect()(0).getLong(0)
    val want = (0L until 100L).filter(_ % 3 != 0).sum
    assert(got == want)
  }

  test("grouped row numbers match the per-key window result") {
    val df = Tables(spark, sf0001, "customer")
      .select(col("c_custkey"), col("c_nationkey").cast("long").as("c_nationkey"))
    val got = RowNumbers.grouped(df, Seq("c_nationkey"),
      Seq(col("c_custkey")), "rn", numPartitions = Some(7))
      .select(col("c_nationkey"), col("c_custkey"), col("rn")).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("c_nationkey")).orderBy(col("c_custkey"))
    val want = df.withColumn("rn",
      row_number().over(w).cast("long")).collect()
      .map(r => (r.getLong(1), r.getLong(0)) -> r.getLong(2)).toMap
    assert(got.size == want.size)
    got.foreach { case (k, n) => assert(want(k) == n, s"$k: $n vs ${want(k)}") }
  }

  test("groupedCumsum matches the per-key window running sum") {
    val df = Tables(spark, sf0001, "customer")
      .select(col("c_custkey"), col("c_nationkey").cast("long").as("c_nationkey"),
        (col("c_custkey") % 7).as("v"))
    val got = RowNumbers.groupedCumsum(df, Seq("c_nationkey"),
      Seq(col("c_custkey")), "v", "cum", numPartitions = Some(7))
      .select(col("c_nationkey"), col("c_custkey"), col("cum")).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("c_nationkey")).orderBy(col("c_custkey"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val want = df.withColumn("cum", sum(col("v")).over(w)).collect()
      .map(r => (r.getLong(1), r.getLong(0)) -> r.getLong(3)).toMap
    assert(got.size == want.size)
    got.foreach { case (k, n) => assert(want(k) == n, s"$k: $n vs ${want(k)}") }
  }
}
