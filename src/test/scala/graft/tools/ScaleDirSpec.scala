package graft.tools

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{ArrayType, FloatType, TimestampType}

import graft.{SparkEntry, SparkSpec}
import graft.core.Tables
import graft.queries.Registry

/** ScaleDir's output contract: N key-shifted copies that replicate
  * joins inside a copy, split into many files, readable through
  * Tables with the source schema. */
class ScaleDirSpec extends SparkSpec {

  private lazy val root: Path = freshDir("scaledir")
  private lazy val two: String = {
    val d = root.resolve("x2").toString
    ScaleDir.write(spark, sf0001, 2, d); d
  }
  private lazy val one: String = {
    val d = root.resolve("x1").toString
    ScaleDir.write(spark, sf0001, 1, d); d
  }

  /** The key columns every copy shifts, stated here rather than read
    * back from ScaleDir so a column dropped there reddens this spec. */
  private val keys: Map[String, Seq[String]] = Map(
    "customer" -> Seq("c_custkey"), "supplier" -> Seq("s_suppkey"),
    "part" -> Seq("p_partkey"), "orders" -> Seq("o_orderkey", "o_custkey"),
    "lineitem" -> Seq("l_orderkey", "l_partkey", "l_suppkey"),
    "events" -> Seq("event_id", "user_id"), "documents" -> Seq("doc_id"),
    "embeddings" -> Seq("vec_id"))

  private def src(name: String): DataFrame = Tables(spark, sf0001, name)
  private def parquetFiles(dir: String, name: String): Int =
    Files.list(Paths.get(s"$dir/$name.parquet")).iterator().asScala
      .count(_.getFileName.toString.endsWith(".parquet"))

  test("copies=2: shifted tables double their rows across several files") {
    Tables.all.foreach { name =>
      val n = src(name).count()
      val scaled = Tables(spark, two, name).count()
      if (keys.contains(name)) {
        assert(scaled == 2 * n, s"$name: $scaled rows, want ${2 * n}")
        assert(parquetFiles(two, name) > 1, s"$name is one file")
      } else assert(scaled == n, s"$name must be written once")
    }
  }

  test("copies=2: every key column's distinct count doubles") {
    keys.foreach { case (name, ks) =>
      ks.foreach { k =>
        val n = src(name).select(k).distinct().count()
        val scaled = Tables(spark, two, name).select(k).distinct().count()
        assert(scaled == 2 * n, s"$name.$k: $scaled distinct, want ${2 * n}")
      }
    }
  }

  test("copies=2: lineitem join orders replicates inside each copy only") {
    def joined(dir: String): Long =
      Tables(spark, dir, "lineitem")
        .join(Tables(spark, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .count()
    val n = joined(sf0001)
    assert(n > 0)
    assert(joined(two) == 2 * n)
  }

  test("copies=1: shifted tables are split across several files") {
    keys.keys.foreach { name =>
      assert(parquetFiles(one, name) > 1, s"$name is one file")
    }
  }

  test("copies=1: the source schema, names and types, raw and through Tables") {
    Tables.all.foreach { name =>
      val scaled = Tables(spark, one, name).schema
      assert(scaled == src(name).schema, s"$name: $scaled")
      // the raw read is what the DuckDB oracle sees
      val raw = spark.read.parquet(s"$one/$name.parquet").schema
      assert(raw == spark.read.parquet(s"$sf0001/$name.parquet").schema, s"$name: $raw")
    }
    assert(Tables(spark, one, "events").schema("ts").dataType == TimestampType)
    assert(Tables(spark, one, "embeddings").schema("embedding").dataType
      .asInstanceOf[ArrayType].elementType == FloatType)
  }

  test("copies=1: the flagship query returns the source's rows") {
    def sorted(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted
    val want = sorted(SparkEntry.entry(spark))
    assert(want.nonEmpty)
    assert(sorted(Registry.queries("q16_join_chain_agg")(spark, one)) == want)
  }

  test("copies=1: a streaming gate reads a directory table's rows") {
    def sorted(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted
    val gate = Registry.queries("e16_session_stream")
    val want = sorted(gate(spark, sf0001))
    assert(want.nonEmpty)
    assert(sorted(gate(spark, one)) == want)
  }
}
