package graft.queries

import org.apache.spark.sql.classic
import org.apache.spark.sql.graftbridge.CachedPlans

import graft.SparkSpec
import graft.core.{Materialize, RelationCache}

/** No query leaves persisted blocks behind its statement. Each query
  * that materializes something runs the way the runners run it,
  * `Materialize.statement { build; noop write }`; afterwards the
  * context holds no persisted RDD it did not hold before, and the
  * CacheManager holds nothing but the one deliberate session state:
  * the entries of the CSV files' typed in-memory tier
  * ([[RelationCache.columnar]]), matched entry by entry. The set is
  * every registry query that left a persisted RDD or a cached plan
  * behind its noop write before statement-scoped release existed, and
  * every caller of [[graft.core.RowNumbers]]. */
class NoLeftoverSpec extends SparkSpec {

  private val codes = Set(
    "s15", "s23", "s25", "s26", "s44", "s55", "s62", "s63", "t11",
    "q23", "p05",
    "d03", "d04", "d06", "d07", "d12", "d13", "d16", "d18", "d19",
    "v03", "v41", "v47", "v48", "v49", "v50", "v51", "v52",
    "m03", "p01", "p13")

  private lazy val named = Registry.all.filter(q => codes(q.name.takeWhile(_ != '_')))

  override def beforeAll(): Unit = {
    super.beforeAll()
    spark.catalog.clearCache() // the baseline: what earlier suites cached
  }

  test("the 31 materializing queries are all in the registry") {
    assert(named.map(_.name.takeWhile(_ != '_')).toSet == codes)
  }

  test("statement { build; noop write } leaves no persisted RDD and no cached plan") {
    val sc = spark.sparkContext
    val cacheManager = spark.asInstanceOf[classic.SparkSession].sharedState.cacheManager
    val left = named.flatMap { q =>
      val before = sc.getPersistentRDDs.keySet.toSet
      Materialize.statement {
        q.build(spark, sf0001).write.format("noop").mode("overwrite").save()
      }
      val tier = RelationCache.columnarEntries(spark).flatMap(df =>
        cacheManager.lookupCachedData(df.asInstanceOf[classic.Dataset[_]]))
      val tierRdds = tier.map(_.cachedRepresentation.cacheBuilder)
        .filter(_.isCachedColumnBuffersLoaded).map(_.cachedColumnBuffers.id)
      val ids = sc.getPersistentRDDs.keySet.toSet -- before -- tierRdds
      val cached = CachedPlans(spark) > tier.size
      if (cached) spark.catalog.clearCache() // keep the next query's check its own
      if (ids.isEmpty && !cached) None
      else Some(s"${q.name}: ${ids.size} persisted RDD(s)${if (cached) ", cached plan(s)" else ""}")
    }
    assert(left.isEmpty, left.mkString("\n"))
  }
}
