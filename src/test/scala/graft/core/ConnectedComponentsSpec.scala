package graft.core

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Min-label propagation connected components: cluster labeling over
  * edge lists (chains force multi-round propagation, cliques converge
  * in one), vertices absent from edges stay absent, and the labeling
  * is deterministic run-to-run. */
class ConnectedComponentsSpec extends SparkSpec {
  import spark.implicits._

  private def cc(edges: Seq[(Long, Long)]): Map[Long, Long] =
    ConnectedComponents.run(edges.toDF("src", "dst"), "src", "dst")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("chain, clique, and singleton components get min-id labels") {
    // chain 1-2-3-4 (diameter 3, needs multiple rounds), clique 10-11-12,
    // isolated pair 20-21
    val got = cc(Seq((1L, 2L), (2L, 3L), (3L, 4L),
      (10L, 11L), (11L, 12L), (10L, 12L), (20L, 21L)))
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L))
  }

  test("edge direction is irrelevant: high→low edges still propagate the min") {
    val got = cc(Seq((5L, 1L), (5L, 9L), (9L, 3L)))
    assert(got == Map(1L -> 1L, 3L -> 1L, 5L -> 1L, 9L -> 1L))
  }

  test("vertices not in any edge are absent (callers coalesce singletons)") {
    val got = cc(Seq((1L, 2L)))
    assert(got.keySet == Set(1L, 2L))
  }

  test("200-vertex chain converges within the cap (pointer jumping, O(log d)) and is stable") {
    // diameter 200 ≫ maxIters 20: neighbor propagation alone could not
    // label this inside the cap; path halving must be doing its job
    val path = (0L until 200L).map(i => (i, i + 1))
    val a = cc(path); val b = cc(path)
    assert(a == b)
    assert(a.values.toSet == Set(0L))
    assert(a.size == 201)
  }

  test("superseded per-round checkpoints are released, not pinned for the job") {
    // a 200-chain runs ~8 pointer-jumping rounds of the distributed
    // loop, each cut pinning a label-set copy. Inside the statement
    // only the FINAL round may stay resident (the returned frame reads
    // it); once the statement ends nothing does. Guards the LogicalRDD
    // release path against silently not matching.
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    Materialize.statement {
      val (labels, rounds) = ConnectedComponents.runCounted(
        (0L until 200L).map(i => (i, i + 1)).toDF("src", "dst"), "src", "dst")
      assert(labels.count() == 201 && rounds > 2)
      val resident = sc.getPersistentRDDs.keySet -- before
      assert(resident.size <= 1, s"expected ≤1 resident checkpoint, found ${resident.size}")
    }
    val leaked = sc.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"expected no resident checkpoint, found ${leaked.size}")
  }

  test("driver-local fast path ≡ distributed loop, label for label (r15)") {
    // mixed shape: chains (multi-round propagation), cliques, stars,
    // cross-links — deterministic pseudo-random edges
    val edges = (0 until 400).map { i =>
      val a = (i * 2654435761L) % 97
      val b = (i * 40503L + 7) % 97
      (a, b)
    }.filter { case (a, b) => a != b }
    val df = edges.toDF("src", "dst")
    val fast = ConnectedComponents.run(df, "src", "dst")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val (loopDf, _) = ConnectedComponents.runCounted(df, "src", "dst")
    val loop = loopDf.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fast == loop)
  }

  test("spark.graft.cc.localMaxEdges=0 disables the fast path (loop still labels)") {
    spark.conf.set("spark.graft.cc.localMaxEdges", "0")
    try {
      val got = cc(Seq((1L, 2L), (2L, 3L), (7L, 9L)))
      assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L, 9L -> 7L))
    } finally spark.conf.unset("spark.graft.cc.localMaxEdges")
  }

  test("int-typed ids keep their type through the fast path") {
    val df = Seq((1, 2), (2, 3)).toDF("src", "dst")
    val out = ConnectedComponents.run(df, "src", "dst")
    assert(out.schema("id").dataType == org.apache.spark.sql.types.IntegerType)
    assert(out.schema("lbl").dataType == org.apache.spark.sql.types.IntegerType)
    val got = out.collect().map(r => r.getInt(0) -> r.getInt(1)).toMap
    assert(got == Map(1 -> 1, 2 -> 1, 3 -> 1))
  }

  test("mixed-width ids (src Int, dst Long beyond Int range) widen like the loop") {
    // ADVICE r15: the fast path must not truncate through the narrow
    // column's type — both schema and labels follow the COMMON type
    val df = Seq((1, 5000000001L), (2, 5000000001L), (3, 7L))
      .toDF("src", "dst")
    val out = ConnectedComponents.run(df, "src", "dst")
    val (loopDf, _) = ConnectedComponents.runCounted(df, "src", "dst")
    assert(out.schema("id").dataType == loopDf.schema("id").dataType)
    assert(out.schema("lbl").dataType == loopDf.schema("lbl").dataType)
    val fast = out.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val loop = loopDf.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fast == loop)
    assert(fast(5000000001L) == 1L)
  }

  test("cap boundary: n at the cap takes the fast path, n past it the loop") {
    // 3 undirected pairs symmetrize to 6 rows; cap 3 keeps the fast
    // path (n == 2·cap), cap 2 overflows to the loop — labels equal
    val edges = Seq((1L, 2L), (3L, 4L), (5L, 6L))
    def run(cap: Long) = {
      spark.conf.set("spark.graft.cc.localMaxEdges", cap.toString)
      try ConnectedComponents.run(edges.toDF("src", "dst"), "src", "dst")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      finally spark.conf.unset("spark.graft.cc.localMaxEdges")
    }
    val want = Map(1L -> 1L, 2L -> 1L, 3L -> 3L, 4L -> 3L, 5L -> 5L, 6L -> 5L)
    assert(run(3L) == want)
    assert(run(2L) == want)
  }

  test("Long.MinValue id (the map's sentinel) labels correctly") {
    val got = cc(Seq((Long.MinValue, 5L), (5L, 9L), (11L, 12L)))
    assert(got == Map(Long.MinValue -> Long.MinValue, 5L -> Long.MinValue,
      9L -> Long.MinValue, 11L -> 11L, 12L -> 11L))
  }

  test("null ids route to the distributed loop without a wasted collect") {
    val df = Seq((Some(1L), Some(2L)), (None, Some(3L)), (Some(4L), Some(5L)))
      .toDF("src", "dst")
    val out = ConnectedComponents.run(df, "src", "dst").collect()
    val got = out.filter(r => !r.isNullAt(0))
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 3L, 4L -> 4L, 5L -> 4L))
  }

  test("d07 shape: keep flag marks exactly one doc per cluster") {
    val df = graft.queries.Registry.queries("d07_dedup_clusters")(spark, sf0001)
    val perCluster = df.groupBy("cluster_id")
      .agg(sum("keep").as("keepers"), count(lit(1)).as("n"))
    assert(perCluster.filter(col("keepers") =!= 1L).count() == 0,
      "every cluster must keep exactly one canonical doc")
    // every doc appears exactly once
    val docs = graft.core.Tables(spark, sf0001, "documents").count()
    assert(df.count() == docs)
    assert(df.select("doc_id").distinct().count() == docs)
  }
}
