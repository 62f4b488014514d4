package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.{Det, Tables}
import graft.functions.GraftFunctions
import graft.functions.GraftFunctions._

/** Core operator coverage for SURVEY.md §2 (projection, filters, joins,
  * aggregation, sorts, scalar functions, dialect semantics), one gated
  * query per operator. Every aggregate over doubles goes through
  * graft.core.Det so the DuckDB hash comparison is bit-exact.
  */
object CoreQueries {
  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables(s, dir, name)

  val all: Seq[Q] = Seq(

    // ── §2.2 projection ────────────────────────────────────────────────
    Q("q01_project_arith",
      (s, dir) => t(s, dir, "lineitem").select(
        col("l_orderkey"),
        col("l_linenumber").cast(LongType).as("l_linenumber"),
        (col("l_extendedprice") * (lit(1) - col("l_discount"))).as("net")),
      Some("""SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
             |l_extendedprice * (1 - l_discount) AS net FROM lineitem""".stripMargin)),

    Q("q02_select_star",
      (s, dir) => t(s, dir, "region").select(col("*")),
      Some("SELECT * FROM region")),

    // ── §2.3 filters / predicates ─────────────────────────────────────
    Q("q03_where_logic",
      (s, dir) => t(s, dir, "lineitem")
        .filter(((col("l_quantity") > 45) =!= (col("l_discount") < 0.01)) &&
          !(col("l_returnflag") === "A") &&
          col("l_shipdate") < to_timestamp(lit("1998-01-01")))
        .select(col("l_orderkey"), col("l_linenumber").cast(LongType).as("l_linenumber")),
      Some("""SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber
             |FROM lineitem
             |WHERE ((l_quantity > 45) != (l_discount < 0.01))
             |  AND NOT (l_returnflag = 'A')
             |  AND l_shipdate < TIMESTAMP '1998-01-01'""".stripMargin)),

    Q("q04_like",
      (s, dir) => t(s, dir, "part")
        .filter(likeCI(col("p_type"), "%eco%"))
        .select(col("p_partkey"), col("p_type")),
      Some("SELECT p_partkey, p_type FROM part WHERE p_type ILIKE '%eco%'")),

    Q("q05_in_list",
      (s, dir) => t(s, dir, "orders")
        .filter(col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
        .select(col("o_orderkey"), col("o_orderpriority")),
      Some("""SELECT o_orderkey, o_orderpriority FROM orders
             |WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')""".stripMargin)),

    Q("q06_between_sym",
      (s, dir) => t(s, dir, "lineitem")
        .filter(betweenSym(col("l_quantity"), lit(40), lit(20)))
        .select(col("l_orderkey"), col("l_linenumber").cast(LongType).as("l_linenumber"),
          col("l_quantity")),
      Some("""SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber, l_quantity
             |FROM lineitem
             |WHERE l_quantity >= least(40, 20) AND l_quantity < greatest(40, 20)""".stripMargin)),

    // ── §2.2 P4 distinct ──────────────────────────────────────────────
    Q("q07_distinct",
      (s, dir) => t(s, dir, "lineitem").select(col("l_returnflag")).distinct(),
      Some("SELECT DISTINCT l_returnflag FROM lineitem")),

    // ── §2.7 order / top-k ────────────────────────────────────────────
    Q("q08_order_topk",
      (s, dir) => t(s, dir, "orders")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .select(col("o_orderkey"), col("o_totalprice"))
        .limit(10),
      Some("""SELECT o_orderkey, o_totalprice FROM orders
             |ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10""".stripMargin),
      bench = true),

    // ── §2.5 aggregation ──────────────────────────────────────────────
    Q("q09_agg_group",
      (s, dir) => t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          Det.dsum(col("l_quantity")).as("sum_qty"),
          Det.dsum(col("l_extendedprice")).as("sum_base"),
          Det.dsum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("sum_disc"),
          Det.davg(col("l_quantity")).as("avg_qty"),
          Det.cnt(col("l_orderkey")).as("count_order")),
      Some(s"""SELECT l_returnflag, l_linestatus,
              |${Det.sql.dsum("l_quantity")} AS sum_qty,
              |${Det.sql.dsum("l_extendedprice")} AS sum_base,
              |${Det.sql.dsum("l_extendedprice * (1 - l_discount)")} AS sum_disc,
              |${Det.sql.davg("l_quantity")} AS avg_qty,
              |${Det.sql.cnt("l_orderkey")} AS count_order
              |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin),
      bench = true),

    Q("q10_agg_implicit",
      (s, dir) => t(s, dir, "lineitem").agg(
        Det.dsum(col("l_extendedprice")).as("sum_price"),
        min(col("l_quantity")).as("min_qty"),
        max(col("l_quantity")).as("max_qty"),
        Det.cnt(lit(1)).as("n")),
      Some(s"""SELECT ${Det.sql.dsum("l_extendedprice")} AS sum_price,
              |min(l_quantity) AS min_qty, max(l_quantity) AS max_qty,
              |${Det.sql.cnt("1")} AS n FROM lineitem""".stripMargin)),

    Q("q11_having",
      (s, dir) => t(s, dir, "lineitem")
        .groupBy(col("l_suppkey"))
        .agg(Det.dsum(col("l_quantity")).as("sum_qty"))
        .filter(col("sum_qty") > 600.0),
      Some(s"""SELECT * FROM (
              |SELECT l_suppkey, ${Det.sql.dsum("l_quantity")} AS sum_qty
              |FROM lineitem GROUP BY l_suppkey) WHERE sum_qty > 600.0""".stripMargin),
      bench = true),

    Q("q12_count_distinct",
      (s, dir) => t(s, dir, "lineitem").agg(
        countDistinct(col("l_partkey")).cast(DoubleType).as("n_parts"),
        countDistinct(col("l_suppkey")).cast(DoubleType).as("n_supps")),
      Some("""SELECT CAST(COUNT(DISTINCT l_partkey) AS DOUBLE) AS n_parts,
             |CAST(COUNT(DISTINCT l_suppkey) AS DOUBLE) AS n_supps FROM lineitem""".stripMargin),
      bench = true),

    Q("q13_stdev",
      (s, dir) => t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          Det.stdevSamp(col("l_quantity")).as("stdev_qty"),
          Det.stdevPop(col("l_quantity")).as("stdevp_qty")),
      Some(s"""SELECT l_returnflag,
              |${Det.sql.stdevSamp("l_quantity")} AS stdev_qty,
              |${Det.sql.stdevPop("l_quantity")} AS stdevp_qty
              |FROM lineitem GROUP BY l_returnflag""".stripMargin)),

    // ── §2.4 joins ────────────────────────────────────────────────────
    Q("q14_join_inner",
      (s, dir) => {
        val li = t(s, dir, "lineitem")
        val o = t(s, dir, "orders").filter(col("o_totalprice") > 150000.0)
        li.join(o, li("l_orderkey") === o("o_orderkey"), "inner")
          .select(col("o_orderkey"), col("o_orderdate"),
            col("l_linenumber").cast(LongType).as("l_linenumber"), col("l_quantity"))
      },
      Some("""SELECT o_orderkey, o_orderdate, CAST(l_linenumber AS BIGINT) AS l_linenumber,
             |l_quantity FROM lineitem JOIN orders ON l_orderkey = o_orderkey
             |WHERE o_totalprice > 150000.0""".stripMargin)),

    Q("q15_join_left",
      (s, dir) => {
        val c = t(s, dir, "customer")
        val o = t(s, dir, "orders")
        c.join(o, c("c_custkey") === o("o_custkey"), "left")
          .select(col("c_custkey"), col("c_name"), col("o_orderkey"))
      },
      Some("""SELECT c_custkey, c_name, o_orderkey
             |FROM customer LEFT JOIN orders ON c_custkey = o_custkey""".stripMargin)),

    Q("q16_join_chain_agg",
      (s, dir) => {
        // TPC-H Q5-shaped chain: dims are broadcast (small sides), the
        // fact-fact lineitem⋈orders shuffle keys on orderkey.
        val li = t(s, dir, "lineitem")
        val o = t(s, dir, "orders")
        val c = t(s, dir, "customer")
        val n = t(s, dir, "nation")
        val r = t(s, dir, "region")
        li.join(o, li("l_orderkey") === o("o_orderkey"))
          .join(broadcast(c), o("o_custkey") === c("c_custkey"))
          .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
          .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
          .groupBy(col("r_name"), col("n_name"))
          .agg(Det.dsum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"))
      },
      Some(s"""SELECT r_name, n_name,
              |${Det.sql.dsum("l_extendedprice * (1 - l_discount)")} AS revenue
              |FROM lineitem
              |JOIN orders ON l_orderkey = o_orderkey
              |JOIN customer ON o_custkey = c_custkey
              |JOIN nation ON c_nationkey = n_nationkey
              |JOIN region ON n_regionkey = r_regionkey
              |GROUP BY r_name, n_name""".stripMargin),
      bench = true),

    // ── §2.9 X9 case expressions ──────────────────────────────────────
    Q("q17_case_searched",
      (s, dir) => t(s, dir, "lineitem").select(
        col("l_orderkey"), col("l_linenumber").cast(LongType).as("l_linenumber"),
        when(col("l_quantity") < 10, "low")
          .when(col("l_quantity") < 30, "mid")
          .otherwise("high").as("bucket")),
      Some("""SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
             |CASE WHEN l_quantity < 10 THEN 'low' WHEN l_quantity < 30 THEN 'mid'
             |ELSE 'high' END AS bucket FROM lineitem""".stripMargin)),

    Q("q18_case_simple",
      (s, dir) => t(s, dir, "lineitem").select(
        col("l_orderkey"), col("l_linenumber").cast(LongType).as("l_linenumber"),
        // simple case with no else → null (reference selector.go:385-388)
        when(col("l_returnflag") === "A", "accept")
          .when(col("l_returnflag") === "R", "return").as("flag")),
      Some("""SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
             |CASE l_returnflag WHEN 'A' THEN 'accept' WHEN 'R' THEN 'return' END AS flag
             |FROM lineitem""".stripMargin)),

    // ── §2.9 X1/X2 date parts ─────────────────────────────────────────
    Q("q19_datefuncs",
      (s, dir) => t(s, dir, "orders").select(
        col("o_orderkey"),
        year(col("o_orderdate")).cast(LongType).as("y"),
        month(col("o_orderdate")).cast(LongType).as("m"),
        week(col("o_orderdate")).as("wk"),
        day0(col("o_orderdate")).as("dow"),
        dayofyear(col("o_orderdate")).cast(LongType).as("doy"),
        dayofmonth(col("o_orderdate")).cast(LongType).as("dom"),
        hour(col("o_orderdate")).cast(LongType).as("hr"),
        GraftFunctions.monthname(col("o_orderdate")).as("mname"),
        GraftFunctions.dayname(col("o_orderdate")).as("dname")),
      Some("""SELECT o_orderkey,
             |CAST(year(o_orderdate) AS BIGINT) AS y,
             |CAST(month(o_orderdate) AS BIGINT) AS m,
             |CAST(floor(dayofyear(o_orderdate) / 7.0) AS BIGINT) AS wk,
             |CAST(dayofweek(o_orderdate) AS BIGINT) AS dow,
             |CAST(dayofyear(o_orderdate) AS BIGINT) AS doy,
             |CAST(dayofmonth(o_orderdate) AS BIGINT) AS dom,
             |CAST(hour(o_orderdate) AS BIGINT) AS hr,
             |monthname(o_orderdate) AS mname,
             |dayname(o_orderdate) AS dname
             |FROM orders""".stripMargin)),

    // ── §2.9 X3/X4 abs + coalesce over join nulls ─────────────────────
    Q("q20_coalesce_abs",
      (s, dir) => {
        val c = t(s, dir, "customer")
        val o = t(s, dir, "orders").filter(col("o_totalprice") > 400000.0)
        c.join(o, c("c_custkey") === o("o_custkey"), "left")
          .select(col("c_custkey"),
            coalesce(col("o_totalprice"), lit(0.0)).as("tp"),
            abs(col("c_acctbal") - lit(5000.0)).as("dev"))
      },
      Some("""SELECT c_custkey, coalesce(o_totalprice, 0.0) AS tp,
             |abs(c_acctbal - 5000.0) AS dev
             |FROM customer LEFT JOIN
             |(SELECT * FROM orders WHERE o_totalprice > 400000.0) o
             |ON c_custkey = o_custkey""".stripMargin)),

    // ── §1.2 text + text concatenation ────────────────────────────────
    Q("q21_concat",
      (s, dir) => t(s, dir, "customer").select(
        col("c_custkey"),
        concat(col("c_name"), lit("-"), col("c_mktsegment")).as("tag")),
      Some("SELECT c_custkey, c_name || '-' || c_mktsegment AS tag FROM customer")),

    // ── §1.2 null semantics: `where x = null` matches missing ─────────
    Q("q22_null_eq",
      (s, dir) => {
        val c = t(s, dir, "customer")
        val o = t(s, dir, "orders").filter(col("o_totalprice") > 300000.0)
        c.join(o, c("c_custkey") === o("o_custkey"), "left")
          .filter(eqNull(col("o_orderkey")))
          .select(col("c_custkey"), col("c_name"))
      },
      Some("""SELECT c_custkey, c_name FROM customer LEFT JOIN
             |(SELECT * FROM orders WHERE o_totalprice > 300000.0) o
             |ON c_custkey = o_custkey
             |WHERE o_orderkey IS NULL""".stripMargin)),

    // ── §2.9 X6 inc() ─────────────────────────────────────────────────
    // Two-phase distributed numbering (RowNumbers.number): range
    // partition + per-partition offsets — no single-partition window.
    Q("q23_inc",
      (s, dir) => graft.core.RowNumbers.number(
        t(s, dir, "customer").select(col("c_custkey")), Seq(col("c_custkey")))
        .select(col("c_custkey"), col("rn").cast(DoubleType).as("rn")),
      Some("""SELECT c_custkey, CAST(row_number() OVER (ORDER BY c_custkey) AS DOUBLE) AS rn
             |FROM customer""".stripMargin)),

    // ── §1.2 date arithmetic ──────────────────────────────────────────
    Q("q24_date_arith",
      (s, dir) => t(s, dir, "orders").select(
        col("o_orderkey"),
        (col("o_orderdate") + expr("INTERVAL 7 DAYS")).as("due"),
        datediff(col("o_orderdate"), to_timestamp(lit("1992-01-01")))
          .cast(LongType).as("age_days")),
      Some("""SELECT o_orderkey, o_orderdate + INTERVAL 7 DAY AS due,
             |CAST(date_diff('day', TIMESTAMP '1992-01-01', o_orderdate) AS BIGINT) AS age_days
             |FROM orders""".stripMargin)),

    // ── §2.9 X8 arithmetic: % ^ integer-div unary-minus ───────────────
    Q("q25_arith_ops",
      (s, dir) => t(s, dir, "part").select(
        col("p_partkey"),
        (col("p_partkey") % 10).as("m"),
        pow(col("p_partkey") % 10, 2.0).as("sq"),
        expr("p_partkey div 7").as("idiv"),
        (-col("p_retailprice")).as("neg")),
      Some("""SELECT p_partkey, p_partkey % 10 AS m,
             |pow(p_partkey % 10, 2.0) AS sq,
             |p_partkey // 7 AS idiv,
             |-p_retailprice AS neg FROM part""".stripMargin)),

    // ── §2.9 X5 encrypt/decrypt round-trip ────────────────────────────
    Q("q26_encrypt_roundtrip",
      (s, dir) => {
        val d = t(s, dir, "documents")
        d.select(col("doc_id"),
          decrypt(encrypt(col("text"), "graft-pass"), "graft-pass").as("text"))
      },
      Some("SELECT doc_id, text FROM documents")),

    // ── §2.5 A5 distinct inside aggregates ────────────────────────────
    Q("q27_sum_distinct",
      (s, dir) => t(s, dir, "lineitem").agg(
        sum_distinct(col("l_quantity").cast(Det.dec)).cast(DoubleType).as("sd_qty")),
      Some("""SELECT CAST(SUM(DISTINCT CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE)
             |AS sd_qty FROM lineitem""".stripMargin)),

    // ── skew path: salted two-phase aggregation ≡ plain groupBy ───────
    Q("q29_salted_agg",
      (s, dir) => {
        val li = t(s, dir, "lineitem")
        graft.core.Salting.saltedSum(
          li.withColumn("__qd", col("l_quantity").cast(Det.dec)),
          Seq(col("l_returnflag")), salt = col("l_orderkey"),
          valueCol = col("__qd"), buckets = 16, resultName = "sum_qty")
          .withColumn("sum_qty", col("sum_qty").cast(DoubleType))
      },
      Some(s"""SELECT l_returnflag, ${Det.sql.dsum("l_quantity")} AS sum_qty
              |FROM lineitem GROUP BY l_returnflag""".stripMargin)),

    // ── §2.5 A6 bare columns alongside aggregates (first/any fidelity) ─
    Q("q28_group_ordered",
      (s, dir) => t(s, dir, "orders")
        .groupBy(col("o_orderpriority"))
        .agg(Det.cnt(col("o_orderkey")).as("n"),
          Det.dsum(col("o_totalprice")).as("tp"))
        .orderBy(col("tp").desc, col("o_orderpriority").asc),
      Some(s"""SELECT o_orderpriority, ${Det.sql.cnt("o_orderkey")} AS n,
              |${Det.sql.dsum("o_totalprice")} AS tp
              |FROM orders GROUP BY o_orderpriority
              |ORDER BY tp DESC, o_orderpriority ASC""".stripMargin))
  )
}
