package graft.core

import org.apache.spark.sql.functions._
import graft.SparkSpec

class BucketingSpec extends SparkSpec {

  test("bucketed fact-fact join plans sort-merge with no exchange on either side") {
    val wh = freshDir("buckets").toString
    Bucketing.writeBucketed(Tables(spark, sf0001, "lineitem")
      .select("l_orderkey", "l_quantity", "l_extendedprice"),
      "li_b", "l_orderkey", 4, wh)
    Bucketing.writeBucketed(Tables(spark, sf0001, "orders")
      .select("o_orderkey", "o_orderpriority", "o_totalprice"),
      "o_b", "o_orderkey", 4, wh)

    // force the join strategy a big fact-fact join would get — at
    // sf0.001 everything fits the broadcast threshold, which would
    // bypass (and un-pin) the bucketed path entirely
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = Bucketing.table(spark, "li_b")
        .join(Bucketing.table(spark, "o_b"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"))
      val plan = joined.queryExecution
        .explainString(org.apache.spark.sql.execution.FormattedMode)
      assert(plan.contains("SortMergeJoin"), plan.take(1200))
      // the join itself must be exchange-free: the only allowed
      // exchange is the aggregation's, keyed by o_orderpriority
      // (FormattedMode puts the partitioning on 'Arguments:' lines)
      val exchanges = "Arguments: hashpartitioning\\(([^)]*)".r
        .findAllMatchIn(plan).map(_.group(1)).toSeq
      assert(exchanges.nonEmpty, "expected the aggregation exchange in the plan")
      assert(exchanges.forall(_.contains("o_orderpriority")),
        s"join must not shuffle bucketed sides:\n${plan.take(1500)}")

      // and the result matches the unbucketed join
      val plainN = Tables(spark, sf0001, "lineitem")
        .join(Tables(spark, sf0001, "orders"),
          col("l_orderkey") === col("o_orderkey")).count()
      val bucketedN = Bucketing.table(spark, "li_b")
        .join(Bucketing.table(spark, "o_b"),
          col("l_orderkey") === col("o_orderkey")).count()
      assert(bucketedN == plainN)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
  }

  test("dialect bjoin over pre-bucketed catalog tables is exchange-free on the join") {
    val wh = freshDir("buckets_dlg").toString
    Bucketing.writeBucketed(Tables(spark, sf0001, "lineitem")
      .select("l_orderkey", "l_suppkey"), "li_dlg", "l_orderkey", 4, wh)
    Bucketing.writeBucketed(Tables(spark, sf0001, "orders")
      .select("o_orderkey", "o_orderpriority"), "o_dlg", "o_orderkey", 4, wh)
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      // the dialect resolves catalog tables (GraftSession.table
      // fallback), so the bucket metadata reaches the planner and
      // bjoin's sort-merge runs co-located
      val df = graft.sql.GraftSession(spark, sf0001).sql(
        """select o_orderpriority, count(l_suppkey) as n from li_dlg l
          |bjoin o_dlg o on l.l_orderkey = o.o_orderkey
          |group by o_orderpriority""".stripMargin)
      val plan = df.queryExecution
        .explainString(org.apache.spark.sql.execution.FormattedMode)
      assert(plan.contains("SortMergeJoin"), plan.take(1200))
      val exchanges = "Arguments: hashpartitioning\\(([^)]*)".r
        .findAllMatchIn(plan).map(_.group(1)).toSeq
      assert(exchanges.forall(k => !k.contains("l_orderkey") && !k.contains("o_orderkey")),
        s"dialect bjoin must not shuffle bucketed sides:\n${plan.take(1500)}")
      assert(df.count() > 0)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
  }
}
