package graft.queries

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.core.Tables
import graft.operators.IvfIndex

/** Property pins for the round-11 changes — the widened fit-sample
  * hash space, the vanished-cell / empty-center repair contracts, the
  * persisted-index repair and upsert lifecycle (invariants the oracle
  * hash-gates can't express: file-level isolation, builder equality
  * across the in-memory and on-disk paths). */
class R11OpsSpec extends SparkSpec {

  private lazy val emb = Tables(spark, sf0001, "embeddings")
    .select(col("vec_id"), col("embedding"))

  test("fitSample stays near target on strided ids (the 1e6-modulus regression)") {
    // round 10's 1e6-wide hash space collapsed any id population
    // sharing a residue mod its prime onto ONE hash value (sample =
    // all-or-nothing) and quantized samples past ~5e8 rows; the 2^30
    // space must keep strided corpora sampled near target
    def sampled(stride: Long): Long = {
      val ids = spark.range(4096).select((col("id") * stride).as("vec_id"))
      VectorQueries.fitSample(ids, 128).count()
    }
    for (stride <- Seq(1L, 1000000L, 1000003L)) {
      val n = sampled(stride)
      assert(n >= 64 && n <= 256, s"stride $stride: got $n rows, want ~128")
    }
  }

  test("fitThreshold clamps to ≥1 past MOD·target rows (the empty-sample cliff)") {
    // past n = MOD·target the exact ratio floors to 0 — an EMPTY
    // training sample at precisely the corpus sizes sampling exists
    // for; the clamp keeps the fit defined all the way out
    assert(VectorQueries.fitThreshold(Long.MaxValue / 4, 1024L) == 1L)
    assert(VectorQueries.fitThreshold(100L, 1024L) > 1L)
    // monotone non-increasing in n (more corpus → never a wider net)
    val ths = Seq(1L, 1000L, 1000000L, 1000000000L, Long.MaxValue / 2)
      .map(VectorQueries.fitThreshold(_, 1024L))
    assert(ths == ths.sorted.reverse, s"threshold must fall with n: $ths")
  }

  test("vanished cells are dirty: vectors of a dropped center are re-scored") {
    val centers = VectorQueries.kmeansFit(emb, 4, 2)
    val dropped = centers.head._1
    val survivors = centers.filterNot(_._1 == dropped)
    // threshold = ∞: no surviving cell can be dirty by movement, so
    // every emitted row must come from the VANISHED cell
    val moved = VectorQueries
      .ivfRepairFrom(emb, centers, survivors, Double.MaxValue).collect()
    assert(moved.nonEmpty, "the dropped cell's vectors must re-score")
    assert(moved.forall(_.getLong(1) == dropped.toLong),
      "only the vanished cell may be dirty at an infinite threshold")
    assert(moved.forall(r => survivors.exists(_._1.toLong == r.getLong(2))),
      "re-scored vectors must land on surviving centers")
  }

  test("empty center sets degrade to an empty move list, never a throw") {
    val centers = VectorQueries.kmeansFit(emb, 4, 2)
    assert(VectorQueries.ivfRepairFrom(emb, Seq.empty, Seq.empty, 0.0)
      .count() == 0L)
    assert(VectorQueries.ivfRepairFrom(emb, centers, Seq.empty, 0.0)
      .count() == 0L)
  }

  test("indexed repair (v46) ≡ in-memory repair (v41) row for row") {
    def rows(name: String) = Registry.queries(name)(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    val mem = rows("v41_ivf_repair")
    val idx = rows("v46_indexed_repair")
    assert(mem.nonEmpty && mem == idx,
      s"paths must agree: v41=${mem.take(5)} v46=${idx.take(5)}")
  }

  test("upsert rewrites ONLY touched cells' files (untouched byte-identical)") {
    val path = s"$suiteDir/r11_upsert_spec"
    val centers = IvfIndex.build(emb, path)
    def cellFiles(): Map[String, Array[Byte]] = {
      import scala.jdk.CollectionConverters._
      val root = java.nio.file.Paths.get(path)
      java.nio.file.Files.walk(root).iterator().asScala
        .filter(p => p.toString.endsWith(".parquet") &&
          p.toString.contains("cell="))
        .map(p => root.relativize(p).toString ->
          java.nio.file.Files.readAllBytes(p))
        .toMap
    }
    val before = cellFiles()
    // one arrival, fresh id — exactly one cell is touched
    val arrival = emb.filter(col("vec_id") === 0)
      .select(lit(123456L).as("vec_id"), col("embedding"))
    val assigned = VectorQueries.kmeansAssign(arrival, centers)
    val touched = assigned.select(col("cell")).collect().map(_.getLong(0)).toSet
    assert(touched.size == 1)
    IvfIndex.upsert(spark, path, assigned)
    val after = cellFiles()
    val untouchedBefore = before.filter(!_._1.startsWith(s"cell=${touched.head}"))
    val untouchedAfter = after.filter(!_._1.startsWith(s"cell=${touched.head}"))
    assert(untouchedBefore.keySet == untouchedAfter.keySet,
      "untouched cells must keep their exact file set")
    untouchedBefore.foreach { case (f, bytes) =>
      assert(java.util.Arrays.equals(bytes, untouchedAfter(f)),
        s"untouched file $f must be byte-identical across the upsert")
    }
    // content contract: base ∪ arrival, nothing lost, nothing doubled
    val got = IvfIndex.read(spark, path)
    assert(got.count() == emb.count() + 1)
    assert(got.filter(col("vec_id") === 123456L).head.getLong(2) == touched.head)
  }

  test("upsert with an EXISTING id replaces the row (update, not duplicate)") {
    val path = s"$suiteDir/r11_upsert_replace"
    val centers = IvfIndex.build(emb, path)
    val n = emb.count()
    val rein = VectorQueries.kmeansAssign(
      emb.filter(col("vec_id") === 0), centers)
    IvfIndex.upsert(spark, path, rein)
    val got = IvfIndex.read(spark, path)
    assert(got.count() == n, "re-ingesting an indexed id must not duplicate it")
    assert(got.filter(col("vec_id") === 0).count() == 1L)
  }

  test("serve off the layout equals the base-table search (the v45 contract)") {
    val path = s"$suiteDir/r11_serve_spec"
    IvfIndex.build(emb, path)
    val idx = IvfIndex.read(spark, path)
    val panel = idx.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"), col("cell"))
    val served = IvfIndex.serve(idx, panel, 5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).sorted.toSeq
    val gate = Registry.queries("v45_partitioned_serve")(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).sorted.toSeq
    assert(served.nonEmpty && served == gate)
  }
}
