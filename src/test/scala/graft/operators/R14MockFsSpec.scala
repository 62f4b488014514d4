package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.core.Tables

/** A local filesystem bound to a NON-`file` scheme, so every
  * "remote filesystem" branch of the index lifecycle (the
  * SidecarCache's getFileStatus fingerprint, FileContext rename on a
  * foreign scheme, cellFileCounts' scheme-resolved listing, the
  * vacated-cell delete) runs under test — the regression ADVICE r12
  * warned about (java.nio silently misreading hdfs://-style paths)
  * previously had no tripwire because every spec drove file:// only. */
class MockFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getScheme: String = "mockfs"
  override def getUri: java.net.URI = java.net.URI.create("mockfs:///")
}

/** The AbstractFileSystem binding FileContext needs for the scheme. */
class MockAbstractFs(uri: java.net.URI,
    conf: org.apache.hadoop.conf.Configuration)
  extends org.apache.hadoop.fs.DelegateToFileSystem(
    uri, new MockFs, conf, "mockfs", false)

class R14MockFsSpec extends SparkSpec {

  private lazy val emb = Tables(spark, sf0001, "embeddings")
    .select(col("vec_id"), col("embedding"))

  private def conf(): Unit = {
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("fs.mockfs.impl", classOf[MockFs].getName)
    hc.set("fs.AbstractFileSystem.mockfs.impl", classOf[MockAbstractFs].getName)
    // RawLocalFileSystem instances are cached per scheme — fine here
  }

  test("the full index lifecycle runs on a non-file scheme (mockfs://)") {
    conf()
    val local = s"$suiteDir/r14_mockfs_ref"
    val remote = s"mockfs://$suiteDir/r14_mockfs_idx"
    // same deterministic build on both filesystems
    val centersL = IvfIndex.build(emb, local)
    val centersR = IvfIndex.build(emb, remote)
    assert(centersL.map(_._1) == centersR.map(_._1) &&
      centersL.zip(centersR).forall { case ((_, a), (_, b)) => a.sameElements(b) },
      "the deterministic fit must not depend on the filesystem scheme")
    // sidecar read + cache fingerprint take the REMOTE branch
    val side = IvfIndex.SidecarCache.get(spark, remote).get
    assert(side.serving.nonEmpty && !side.pendingAppends)
    // serve equality across schemes
    val q = emb.filter(col("vec_id") % 17 === 5)
      .select((col("vec_id") + lit(1000000L)).as("q_id"),
        col("embedding").as("q_emb"))
    def panel(side: IvfIndex.Sidecar) = q.select(col("q_id"), col("q_emb"),
      graft.functions.VectorExprs.nearest_centroid(
        col("q_emb"), side.refresh, side.dim).as("cell"))
    def serveAt(p: String, s: IvfIndex.Sidecar) =
      IvfIndex.serve(IvfIndex.read(spark, p), panel(s), 5).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).sorted.toSeq
    val sL = IvfIndex.readSidecar(spark, local).get
    assert(serveAt(remote, side) == serveAt(local, sL))
    // append -> cellFileCounts (remote listing) -> compact (remote
    // rewrite trigger + FileContext CAS rename on the foreign scheme)
    val batch = emb.limit(40)
      .select((col("vec_id") + lit(2000000L)).as("vec_id"), col("embedding"))
    val seq = IvfIndex.append(spark, remote,
      graft.queries.VectorQueries.kmeansAssign(batch, side.serving))
    assert(seq == 1L)
    val counts = IvfIndex.cellFileCounts(spark, remote)
    assert(counts.nonEmpty && counts.values.sum > 0,
      "cellFileCounts must list through the scheme-resolved filesystem")
    // the cache must see the append through the remote fingerprint
    val pending = IvfIndex.SidecarCache.get(spark, remote).get
    assert(pending.pendingAppends, "the remote fingerprint must catch the new version")
    IvfIndex.compact(spark, remote)
    val healed = IvfIndex.SidecarCache.get(spark, remote).get
    assert(!healed.pendingAppends && healed.maxSeq == 1L)
    assert(IvfIndex.read(spark, remote).count() == emb.count() + 40)
    // vacated-cell delete on the remote scheme: move EVERY row of one
    // cell to another by direct assignment — upsert must delete the
    // emptied cell's directory through the scheme-resolved filesystem
    val cells = healed.counts.filter(_._2 > 0).keys.toSeq.sorted
    val (from, to) = (cells.head, cells.last)
    val movers = IvfIndex.read(spark, remote)
      .filter(col("cell") === from)
      .select(col("vec_id"), col("embedding"), lit(to).as("cell"))
    IvfIndex.upsert(spark, remote, movers)
    val fs = new org.apache.hadoop.fs.Path(remote)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val gone = !fs.exists(new org.apache.hadoop.fs.Path(remote, s"cell=$from"))
    assert(gone, "the vacated cell's directory must be deleted on mockfs://")
    assert(IvfIndex.read(spark, remote).filter(col("cell") === from).count() == 0)
    assert(IvfIndex.read(spark, remote).count() == emb.count() + 40)
    // CAS refusal fires on the remote scheme too
    val stale = healed.copy(version = healed.version)
    val err = intercept[java.util.ConcurrentModificationException] {
      IvfIndex.writeSidecar(spark, remote, stale)
    }
    assert(err.getMessage.contains("concurrent writer"))
  }

  test("a sharded (binary) sidecar round-trips through the non-file scheme") {
    conf()
    val p = s"mockfs://$suiteDir/r14_mockfs_shards"
    val fs = new org.apache.hadoop.fs.Path(p)
      .getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(new org.apache.hadoop.fs.Path(p), true)
    IvfIndex.SidecarCache.invalidate(p)
    val rnd = new java.util.Random(41L)
    val k = 5000 // > SidecarShardCells -> binary shard files
    def vec() = Array.fill(6)(rnd.nextDouble())
    val sc = IvfIndex.Sidecar(
      serving = (0 until k).map(c => c -> vec()),
      refresh = (0 until k).map(c => c -> vec()),
      counts = (0 until k).map(c => c.toLong -> c.toLong).toMap,
      staleCells = Set(3L), pendingAppends = false, maxSeq = 2L,
      version = 1L, books = Seq.empty, compactedSeq = 2L)
    IvfIndex.writeSidecar(spark, p, sc)
    val back = IvfIndex.readSidecar(spark, p).get
    assert(back.serving.length == k && back.counts == sc.counts &&
      back.staleCells == sc.staleCells)
    assert(back.serving.zip(sc.serving).forall {
      case ((_, a), (_, b)) => a.sameElements(b) },
      "binary shard doubles must round-trip bit-exact over mockfs://")
    assert(back.refresh.zip(sc.refresh).forall {
      case ((_, a), (_, b)) => a.sameElements(b) })
  }
}
