package graft.tools

import graft.SparkSpec

/** Profile charges each job and each write to its own timed pass. */
class ProfileSpec extends SparkSpec {

  test("a stale write event of another pass cannot open the armed pass's latch") {
    val writes = new Profile.WriteListener
    spark.listenerManager.register(writes)
    try {
      writes.arm("profile:1")
      // the warm pass's write, as if still queued when the timed pass arms
      Profile.write(spark.range(10).toDF(), "warm")
      assert(!writes.await(3), "another pass's write opened the latch")
      assert(writes.tracker.isEmpty)
      Profile.write(spark.range(10).toDF(), "profile:1")
      assert(writes.await(60), "the armed pass's own write must open the latch")
      assert(writes.tracker.isDefined)
    } finally spark.listenerManager.unregister(writes)
  }

  test("no job is charged to two passes") {
    val rs = Profile.profile(spark, sf0001, Seq("q08_order_topk", "q09_agg_group", "q08_order_topk"))
    assert(rs.forall(_.err.isEmpty), rs.map(_.json))
    assert(rs.forall(r => r.jobs.nonEmpty && r.jobs.forall(_.end >= 0)), rs.map(_.json))
    val ids = rs.flatMap(_.jobs.map(_.id))
    assert(ids.distinct.size == ids.size, rs.map(_.json))
  }
}
