package graft.queries

import graft.core.Sessions.workPath
import graft.sql.GraftSession

/** End-to-end dialect coverage: each entry is actual dialect TEXT
  * compiled by GraftSession (lexer → parser → planner → DataFrame) and
  * hash-checked against a DuckDB oracle — the front-end itself is
  * correctness-gated, not just the operators underneath.
  *
  * Note on determinism: dialect aggregates run Spark's native partial
  * aggregation, so these queries aggregate only exact types (counts,
  * integer sums, min/max) — double-sum determinism is covered by the
  * Det-based q* queries.
  */
object DialectQueries {
  private def sql(q: String): (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame =
    (s, dir) => GraftSession(s, dir).sql(q)

  /** Run an independent side-effect (a fixture write) on a second
    * driver thread so its jobs overlap the statement running on the
    * main thread (optimization guide §2.6: Spark schedules concurrent
    * jobs FIFO, so the side job back-fills idle executors during the
    * main job's stragglers). [[await]] rethrows any failure. */
  private def concurrently(body: => Unit): java.util.concurrent.Future[_] = {
    val task = new java.util.concurrent.FutureTask[Unit](() => body)
    val t = new Thread(task, "graft-fixture-write")
    t.setDaemon(true)
    t.start()
    task
  }

  private def await(f: java.util.concurrent.Future[_]): Unit =
    try f.get()
    catch { case e: java.util.concurrent.ExecutionException => throw e.getCause }

  /** Duration-typed CSV fixture (durations are a dialect-inferred CSV
    * type — the parquet sf tables can't carry them). Written
    * deterministically to a stable path so the DuckDB oracle can
    * read_csv the same file; single small file ⇒ one split ⇒ scan
    * order = file order in both engines (which also makes inc()
    * oracle-checkable). Group sums/averages divide evenly so interval
    * avg is µs-exact on both sides. */
  val durationsCsvPath = "/tmp/graft_fixtures/durations.csv"
  private val durationsCsvContent =
    """task,dept,dur
      |t1,a,90m
      |t2,a,2 hours
      |t3,a,45s
      |t4,a,NA
      |t5,b,30 minutes
      |t6,b,1h
      |t7,b,10m
      |t8,c,1d
      |t9,c,2w
      |t10,c,1y
      |""".stripMargin
  val clicksJsonPath = "/tmp/graft_fixtures/clicks.json"
  private val clicksJsonContent =
    """{"id": 1, "kind": "click", "score": 1.5}
      |{"id": 2, "kind": "click", "score": 2.0}
      |{"id": 3, "kind": "view", "score": 0.5}
      |{"id": 4, "kind": "view", "score": 4.25}
      |{"id": 5, "kind": "click", "score": 3.25}
      |{"id": 6, "kind": "scroll", "score": 1.0}
      |""".stripMargin
  private def clicksJson(): String =
    writeFixture(clicksJsonPath, clicksJsonContent)

  private def writeFixture(pathStr: String, content: String): String = synchronized {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val p = Paths.get(pathStr)
    val current = Files.exists(p) &&
      (try Files.readString(p) == content catch { case _: Exception => false })
    if (!current) {
      Files.createDirectories(p.getParent)
      val tmp = Files.createTempFile(p.getParent, p.getFileName.toString, ".tmp")
      Files.writeString(tmp, content)
      try Files.move(tmp, p, StandardCopyOption.ATOMIC_MOVE,
        StandardCopyOption.REPLACE_EXISTING)
      catch { case _: Exception =>
        Files.move(tmp, p, StandardCopyOption.REPLACE_EXISTING)
      }
    }
    pathStr
  }

  private def durationsCsv(): String = synchronized {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val p = Paths.get(durationsCsvPath)
    // skip when already current; otherwise write a temp file and move
    // atomically — a concurrent reader (the DuckDB oracle, a parallel
    // suite) must never observe a truncated fixture
    val current = Files.exists(p) &&
      (try Files.readString(p) == durationsCsvContent catch { case _: Exception => false })
    if (!current) {
      Files.createDirectories(p.getParent)
      val tmp = Files.createTempFile(p.getParent, "durations", ".csv.tmp")
      Files.writeString(tmp, durationsCsvContent)
      try Files.move(tmp, p, StandardCopyOption.ATOMIC_MOVE,
        StandardCopyOption.REPLACE_EXISTING)
      catch { case _: Exception =>
        Files.move(tmp, p, StandardCopyOption.REPLACE_EXISTING)
      }
    }
    durationsCsvPath
  }

  /** DuckDB mirror: Go "N unit" duration cells → BIGINT microseconds
    * (Spark writes DayTimeIntervalType to parquet as int64 µs). */
  private def durOracleCte: String =
    s"""d AS (SELECT dept, task,
       |  CAST(regexp_extract(trim(dur), '^(-?\\d+(?:\\.\\d+)?)\\s*([a-zA-Z]+)$$', 1) AS DOUBLE)
       |  * (CASE lower(regexp_extract(trim(dur), '^(-?\\d+(?:\\.\\d+)?)\\s*([a-zA-Z]+)$$', 2))
       |     WHEN 's' THEN 1 WHEN 'second' THEN 1 WHEN 'seconds' THEN 1
       |     WHEN 'm' THEN 60 WHEN 'minute' THEN 60 WHEN 'minutes' THEN 60
       |     WHEN 'h' THEN 3600 WHEN 'hour' THEN 3600 WHEN 'hours' THEN 3600
       |     WHEN 'd' THEN 86400 WHEN 'day' THEN 86400 WHEN 'days' THEN 86400
       |     WHEN 'w' THEN 604800 WHEN 'week' THEN 604800 WHEN 'weeks' THEN 604800
       |     WHEN 'y' THEN 31449600 WHEN 'year' THEN 31449600 WHEN 'years' THEN 31449600
       |     END) * 1000000 AS us
       |  FROM read_csv('$durationsCsvPath', header=true)
       |  WHERE dur IS NOT NULL AND trim(dur) NOT IN ('', 'NA', 'null'))""".stripMargin

  val all: Seq[Q] = Seq(

    Q("s01_dialect_project",
      sql("select o_orderkey, tag = o_orderpriority + '-' + o_orderstatus, o_custkey * 2 + 1 as odd from orders"),
      Some("""SELECT o_orderkey, o_orderpriority || '-' || o_orderstatus AS tag,
             |o_custkey * 2 + 1 AS odd FROM orders""".stripMargin)),

    Q("s02_dialect_where",
      sql("""select o_orderkey from orders
            |where (o_orderpriority like '%high%' or o_orderpriority in ('5-LOW'))
            |  and not o_custkey between 900 and 100""".stripMargin),
      Some("""SELECT o_orderkey FROM orders
             |WHERE (o_orderpriority ILIKE '%high%' OR o_orderpriority IN ('5-LOW'))
             |AND NOT (o_custkey >= least(900, 100) AND o_custkey < greatest(900, 100))""".stripMargin)),

    Q("s03_dialect_group",
      sql("""select l_returnflag, l_linestatus, count(l_orderkey) as n,
            |min(l_quantity) as mn, max(l_quantity) as mx
            |from lineitem group by l_returnflag, l_linestatus""".stripMargin),
      Some("""SELECT l_returnflag, l_linestatus, CAST(count(l_orderkey) AS DOUBLE) AS n,
             |min(l_quantity) AS mn, max(l_quantity) AS mx
             |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin),
      bench = true),

    Q("s04_dialect_join",
      sql("""select n_name, count(c_custkey) as n from customer cu
            |inner join nation n on cu.c_nationkey = n.n_nationkey
            |group by n_name""".stripMargin),
      Some("""SELECT n_name, CAST(count(c_custkey) AS DOUBLE) AS n
             |FROM customer JOIN nation ON c_nationkey = n_nationkey
             |GROUP BY n_name""".stripMargin)),

    Q("s05_dialect_topk",
      sql("select top 10 o_orderkey, o_totalprice from orders order by o_orderkey"),
      Some("""SELECT o_orderkey, o_totalprice FROM orders
             |ORDER BY o_orderkey DESC LIMIT 10""".stripMargin)),

    Q("s06_dialect_case_date",
      sql("""select o_orderkey, year(o_orderdate) as y, week(o_orderdate) as wk,
            |day(o_orderdate) as dow, monthname(o_orderdate) as mn,
            |case when o_totalprice > 200000 then 'big' else 'small' end as sz
            |from orders""".stripMargin),
      Some("""SELECT o_orderkey, CAST(year(o_orderdate) AS BIGINT) AS y,
             |CAST(floor(dayofyear(o_orderdate) / 7.0) AS BIGINT) AS wk,
             |CAST(dayofweek(o_orderdate) AS BIGINT) AS dow,
             |monthname(o_orderdate) AS mn,
             |CASE WHEN o_totalprice > 200000 THEN 'big' ELSE 'small' END AS sz
             |FROM orders""".stripMargin)),

    Q("s07_dialect_having",
      sql("""select s_nationkey, count(s_suppkey) as n from supplier
            |group by s_nationkey having count(s_suppkey) > 2""".stripMargin),
      Some("""SELECT * FROM (SELECT s_nationkey, CAST(count(s_suppkey) AS DOUBLE) AS n
             |FROM supplier GROUP BY s_nationkey) WHERE n > 2""".stripMargin)),

    Q("s08_dialect_intsum",
      sql("select l_returnflag, sum(l_orderkey) as sk from lineitem group by l_returnflag"),
      Some("""SELECT l_returnflag, CAST(sum(l_orderkey) AS BIGINT) AS sk
             |FROM lineitem GROUP BY l_returnflag""".stripMargin)),

    Q("s09_dialect_distinct",
      sql("select distinct o_orderstatus from orders"),
      Some("SELECT DISTINCT o_orderstatus FROM orders")),

    Q("s10_dialect_null_eq",
      sql("""select c_custkey, c_name from customer cu
            |left join nation n on cu.c_nationkey = n.n_nationkey
            |where n.n_name = null""".stripMargin),
      Some("""SELECT c_custkey, c_name FROM customer LEFT JOIN nation
             |ON c_nationkey = n_nationkey WHERE n_name IS NULL""".stripMargin)),

    Q("s11_dialect_count_distinct",
      sql("select count(distinct l_suppkey) as ns from lineitem"),
      Some("SELECT CAST(count(DISTINCT l_suppkey) AS DOUBLE) AS ns FROM lineitem")),

    Q("s13_dialect_not_twovalued",
      sql("""select c_custkey, o_orderpriority from customer cu
            |left join orders o on cu.c_custkey = o.o_custkey
            |where not o.o_orderpriority like '1%'""".stripMargin),
      // dialect NOT is two-valued: rows where the left join produced a
      // null priority survive the negation (DuckDB's SQL NOT is 3VL,
      // so the oracle coalesces explicitly)
      Some("""SELECT c_custkey, o_orderpriority
             |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
             |WHERE NOT coalesce(o_orderpriority ILIKE '1%', false)""".stripMargin)),

    Q("s14_dialect_duration_agg",
      (s, dir) => {
        val path = durationsCsv()
        GraftSession(s, dir).sql(
          s"select dept, sum(dur) as total_dur, avg(dur) as avg_dur, count(dur) as n from $path group by dept")
      },
      Some(s"""WITH $durOracleCte
              |SELECT dept, CAST(sum(us) AS BIGINT) AS total_dur,
              |CAST(avg(us) AS BIGINT) AS avg_dur,
              |CAST(count(us) AS DOUBLE) AS n
              |FROM d GROUP BY dept""".stripMargin)),

    Q("s15_dialect_inc",
      (s, dir) => {
        val path = durationsCsv()
        GraftSession(s, dir).sql(s"select task, inc() as rn from $path")
      },
      // single-file CSV: scan order = file order in both engines
      Some(s"""SELECT task, CAST(row_number() OVER () AS DOUBLE) AS rn
              |FROM read_csv('$durationsCsvPath', header=true)""".stripMargin)),

    // Bare non-grouping column in a grouped query: last scanned row's
    // value per group (reference stage-0 slot overwrite) — gateable on
    // the single-file fixture where scan order = file order
    Q("s16_dialect_lastwrite",
      (s, dir) => {
        val path = durationsCsv()
        GraftSession(s, dir).sql(
          s"select dept, task, count(task) as n from $path group by dept")
      },
      Some(s"""SELECT dept, arg_max(task, rid) AS task,
              |CAST(count(task) AS DOUBLE) AS n
              |FROM (SELECT *, row_number() OVER () AS rid
              |      FROM read_csv('$durationsCsvPath', header=true))
              |GROUP BY dept""".stripMargin)),

    // Dialect FROM over a .parquet path: at 100 TB parquet is the
    // right format, so the dialect front-end must read it first-class
    // (same lexer path tokens + `_fN`/basename registration as CSV;
    // filters/projections push into the columnar scan — pinned in
    // PlanSpec).
    Q("s17_dialect_parquet",
      (s, dir) => GraftSession(s, dir).sql(
        s"select doc_id, lang, n_chars from $dir/documents.parquet where lang != 'en'"),
      Some("SELECT doc_id, lang, n_chars FROM documents WHERE lang != 'en'")),

    // JSON (JSONL) files first-class in dialect FROM, same registry as
    // CSV/parquet. Scores step in exact binary fractions so the double
    // group sums are order-independent and hash-safe.
    Q("s18_dialect_json",
      (s, dir) => {
        val path = clicksJson()
        GraftSession(s, dir).sql(
          s"select kind, sum(score) as total, count(id) as n from $path group by kind")
      },
      Some(s"""SELECT kind, sum(score) AS total, CAST(count(id) AS DOUBLE) AS n
              |FROM read_json_auto('$clicksJsonPath') GROUP BY kind""".stripMargin)),

    // Dialect over PRE-BUCKETED catalog tables: writeBucketed pays the
    // fact-fact shuffle once at write time; after that a dialect
    // `bjoin` between the two tables plans a co-located sort-merge
    // join with no exchange on either side (BucketingSpec pins the
    // plan; SCALE_r3 measured 3.1× at 100×). The oracle joins the
    // original parquet — bucketing must not change content.
    Q("s19_dialect_bucketed_join",
      (s, dir) => {
        val tag = java.lang.Integer.toHexString(dir.hashCode)
        val wh = workPath(s, "bucketed", dir)
        val li = s"li_bk_$tag"; val ord = s"o_bk_$tag"
        graft.core.Bucketing.writeBucketed(
          graft.core.Tables(s, dir, "lineitem").select("l_orderkey", "l_suppkey"),
          li, "l_orderkey", 8, wh)
        graft.core.Bucketing.writeBucketed(
          graft.core.Tables(s, dir, "orders").select("o_orderkey", "o_orderpriority"),
          ord, "o_orderkey", 8, wh)
        GraftSession(s, dir).sql(
          s"""select o_orderpriority, count(l_suppkey) as n from $li l
             |bjoin $ord o on l.l_orderkey = o.o_orderkey
             |group by o_orderpriority""".stripMargin)
      },
      Some("""SELECT o_orderpriority, CAST(count(l_suppkey) AS DOUBLE) AS n
             |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
             |GROUP BY o_orderpriority""".stripMargin)),

    Q("s12_dialect_date_arith",
      sql("""select o_orderkey, o_orderdate + '2 weeks' as due,
            |o_custkey % 7 as bucket, 2 ^ 10 as k
            |from orders where o_orderdate < '1997-01-01'""".stripMargin),
      Some("""SELECT o_orderkey, o_orderdate + INTERVAL 14 DAY AS due,
             |o_custkey % 7 AS bucket, CAST(1024 AS BIGINT) AS k
             |FROM orders WHERE o_orderdate < TIMESTAMP '1997-01-01'""".stripMargin)),

    // session() as a dialect scalar (SURVEY §2.11 function-map
    // addition): sessionization reachable from the SQL surface — the
    // same >30-min-silence rule as e02, compiled to one hidden window
    // column (Planner.hoistSessions: single hash-exchange on the
    // partition key, two stacked Window ops, no global sort). max()
    // of the per-row session number per user ≡ e02's session count.
    Q("s20_dialect_session",
      sql("""select user_id, max(session(ts, '30 minutes', user_id)) as n_sessions,
            |count(event_id) as n_events from events group by user_id""".stripMargin),
      Some("""SELECT user_id, CAST(sum(new_session) + 1 AS BIGINT) AS n_sessions,
             |CAST(count(event_id) AS DOUBLE) AS n_events FROM
             |(SELECT user_id, event_id,
             |  CASE WHEN epoch_us(CAST(ts AS TIMESTAMP))
             |       - lag(epoch_us(CAST(ts AS TIMESTAMP)), 1)
             |         OVER (PARTITION BY user_id ORDER BY ts)
             |       > 1800 * 1000000 THEN 1 ELSE 0 END AS new_session
             | FROM events)
             |GROUP BY user_id""".stripMargin)),

    // Pipeline text functions on the dialect surface (token_count via
    // the native tokenizer, compress_ratio via the deflate
    // expression): the oracle mirrors token_count with the pinned
    // DuckDB tokenizer and compress_ratio with the independently
    // generated golden fixture keyed by md5(text) — full hash gate on
    // the dialect path end-to-end.
    Q("s21_dialect_textfns",
      sql("""select doc_id, token_count(text) as n_tok,
            |compress_ratio(text) as ratio from documents""".stripMargin),
      Some(s"""SELECT d.doc_id,
              |  CAST(len(${graft.queries.OracleSql.toks("d.text")}) AS BIGINT)
              |    AS n_tok,
              |  g.ratio
              |FROM documents d
              |JOIN '${graft.queries.OracleSql.golden("t23_golden.parquet")}' g
              |  ON md5(d.text) = g.h""".stripMargin)),

    // MinHash dedup on the dialect surface (the round-6 verdict's
    // top-next): the flagship dedup capability reachable from SQL.
    // s22 gates the per-row signature scalar (one fused native
    // tokenize→shingle→minhash pass, ':'-joined so it fits the
    // dialect's scalar type lattice); s23/s24 gate the `dedup`
    // statement, which lowers VERBATIM to the d03/d01 builders and is
    // checked against their exact oracles — the dialect path must
    // reproduce the gated builders bit-for-bit (plan identity is
    // additionally pinned in PlanSpec: band-keyed self-join, no
    // cartesian, BucketGuard cap intact).
    Q("s22_dialect_minhash_sig",
      sql("select doc_id, minhash_sig(text) as sig from documents"),
      Some(DedupQueries.sigConcatSql)),

    Q("s23_dialect_dedup_near",
      sql("dedup near doc_id, text from documents"),
      Some(DedupQueries.lshPairsOracle)),

    Q("s24_dialect_dedup_exact",
      sql("dedup exact doc_id, text from documents"),
      Some(DedupQueries.exactDedupOracle)),

    // `threshold t` continues the statement into d04's verification
    // stage (exact n-gram Jaccard on the LSH candidates only) and
    // keeps jac ≥ t — the full MinHash→LSH→verify pipeline as ONE
    // dialect statement. The comparison runs on bit-identical doubles
    // (a single IEEE division on each engine), so the kept set
    // hash-matches d04's oracle filtered the same way.
    Q("s25_dialect_dedup_threshold",
      sql("dedup near doc_id, text from documents threshold 0.5"),
      Some(s"""SELECT * FROM (${DedupQueries.jaccardOracle})
              |WHERE jac >= 0.5""".stripMargin)),

    // Whole-corpus ANN on the dialect surface: `similar` lowers
    // VERBATIM to v03's builder (banded LSH candidates under the
    // BucketGuard cap, cosine verification on candidates only,
    // per-query top-k) and is gated against v03's exact oracle —
    // plan identity pinned in PlanSpec alongside s23 ≡ d03.
    Q("s26_dialect_similar",
      sql("similar vec_id, embedding from embeddings top 5"),
      Some(VectorQueries.annTopkOracle(5))),

    // Content signatures on the dialect surface: d05's 24-bit SimHash
    // and t04's rolling-hash fingerprint as scalars — both computed
    // from one native tokenize→hash pass per row (the oracle computes
    // both from the same th subquery, mirroring the shared scan).
    Q("s27_dialect_content_sig",
      sql("""select doc_id, simhash(text) as sh, fingerprint(text) as fp
            |from documents""".stripMargin),
      Some(s"""SELECT doc_id, ${graft.queries.OracleSql.simhashBits(24)} AS sh,
              |  ${graft.queries.OracleSql.foldHash("th")} AS fp
              |FROM (SELECT doc_id, ${graft.queries.OracleSql.tokenHashes("text")} AS th
              |      FROM documents)""".stripMargin)),

    // t03's stopword-argmax language ID as a dialect scalar (native
    // one-pass text_profile underneath; 'und' when no stopword hits,
    // lexicographically-greatest tie-break — the oracle mirrors the
    // argmax as a descending >= CASE chain, same as the t03 gate).
    Q("s28_dialect_langid",
      sql("select doc_id, lang_id(text) as lang_pred from documents"),
      Some {
        val rs = Seq("de", "en", "es", "fr", "zh")
          .map(l => s"${graft.queries.OracleSql.stopwordRatio("tk", l)} AS s_$l")
          .mkString(",\n")
        s"""SELECT doc_id, CASE WHEN
           |  greatest(s_de, s_en, s_es, s_fr, s_zh) > 0.0 THEN
           |  CASE
           |    WHEN s_zh >= s_fr AND s_zh >= s_es AND s_zh >= s_en AND s_zh >= s_de THEN 'zh'
           |    WHEN s_fr >= s_es AND s_fr >= s_en AND s_fr >= s_de THEN 'fr'
           |    WHEN s_es >= s_en AND s_es >= s_de THEN 'es'
           |    WHEN s_en >= s_de THEN 'en'
           |    ELSE 'de' END
           |  ELSE 'und' END AS lang_pred
           |FROM (SELECT doc_id,
           |  $rs
           |FROM (SELECT doc_id, ${graft.queries.OracleSql.toks("text")} AS tk
           |      FROM documents))""".stripMargin
      }),

    // t16's PII redaction pass as a dialect scalar — emails then IPv4s
    // replaced on the raw text (the regex pair is the shared
    // TextFunctions.EmailRe/IpRe, pinned cross-engine by the t16 gate).
    Q("s29_dialect_pii",
      sql("select doc_id, pii_redact(text) as redacted from documents"),
      Some("""SELECT doc_id, regexp_replace(regexp_replace(text,
             |  '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             |  '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g') AS redacted
             |FROM documents""".stripMargin)),

    // Corpus-layout statements on the dialect surface: `shard` and
    // `interleave` lower VERBATIM to the t32/t33 builders (plan
    // identity pinned in PlanSpec) and are gated against the
    // builders' exact oracles — the full shuffle-once-train-many
    // layout reachable from SQL.
    Q("s30_dialect_shard",
      sql("shard doc_id from documents into 16"),
      Some(TextQueries.shardLayoutOracle)),

    Q("s31_dialect_interleave",
      sql("interleave doc_id, source from documents"),
      Some(TextQueries.sourceInterleaveOracle)),

    // BM25 retrieval on the dialect surface: `search` lowers VERBATIM
    // to the t21 builder (one tokenize pass → per-doc agg shared by
    // corpus stats and postings via ReusedExchange, global top-k) and
    // is gated against the parameterized t21 oracle — same terms,
    // non-default k, so the statement's term plumbing and top-k are
    // both exercised. Plan identity pinned in PlanSpec.
    Q("s32_dialect_search",
      sql("search doc_id, text from documents for 'spark window join' top 10"),
      Some(TextQueries.bm25Oracle(Seq("spark", "window", "join"), 10))),

    // Reproducible train/val/test assignment on the dialect surface:
    // `split` lowers VERBATIM to the t06 builder (deterministic hash
    // buckets — never RNG) with non-default percentages, gated against
    // the parameterized t06 oracle.
    Q("s33_dialect_split",
      sql("split doc_id from documents into 90 5 5"),
      Some(TextQueries.trainSplitOracle(90L, 5L))),

    // Deterministic Lloyd k-means on the dialect surface: `cluster`
    // lowers VERBATIM to the v06 machinery (fit collects k·d doubles,
    // re-broadcasts them as literals; the corpus sees one narrow
    // codegen'd assignment pass) and is gated against the unrolled
    // Lloyd loop's final assignment CTE in DuckDB.
    Q("s34_dialect_cluster",
      sql("cluster vec_id, embedding from embeddings into 4"),
      Some(VectorQueries.kmeansCellsOracle(4))),

    // Generic table profiling on the dialect surface: `profile t` is
    // the SUMMARIZE every ingest pipeline runs on a new data drop —
    // per-column nulls/distinct/min/max/mean in ONE aggregation pass,
    // for ANY schema (numeric stats as DOUBLE, NULL for the ts/string
    // columns). Gated on events, the most type-diverse fixture
    // (bigint, timestamp, string, double).
    Q("s35_dialect_profile",
      sql("profile events"),
      Some(ApproxQueries.columnProfileOracle("events", Seq(
        "event_id" -> true, "ts" -> false, "user_id" -> true,
        "event_type" -> false, "value" -> true, "props" -> false)))),

    // Overlapping chunking on the dialect surface: `chunk` lowers
    // VERBATIM to the t34 builder; the gate runs NON-default 32/8
    // windows so the statement's size/overlap plumbing is exercised
    // against the parameterized oracle. Plan identity pinned in
    // PlanSpec (and the zero-exchange property with it).
    Q("s36_dialect_chunk",
      sql("chunk doc_id, text from documents size 32 overlap 8"),
      Some(TextQueries.docChunksOracleFor(32, 8))),

    // Reproducible hash sampling on the dialect surface: `sample`
    // lowers VERBATIM to the t05 builder over 100 buckets (the gate
    // runs a non-default pct); the filter is per-row integer
    // arithmetic pushed at the scan — zero exchanges, pinned.
    Q("s37_dialect_sample",
      sql("sample doc_id from documents pct 25"),
      Some(TextQueries.hashSampleOracle("doc_id", 25L, 100L))),

    // Sequence packing on the dialect surface: `pack` lowers VERBATIM
    // to the t11 builder (distributed global cumsum — the no-single-
    // partition-window property rides along, pinned); non-default
    // sequence length exercises the size plumbing.
    Q("s38_dialect_pack",
      sql("pack doc_id, text from documents size 256"),
      Some(TextQueries.seqPackOracle(256L))),

    // Weighted sampling on the dialect surface: `sample … top n by w`
    // lowers VERBATIM to the x10 builder (Efraimidis–Spirakis-keyed
    // deterministic draw, LIMIT-bounded TakeOrdered — pinned in
    // PlanSpec); a non-default n exercises the top plumbing.
    Q("s39_dialect_weighted_sample",
      sql("sample doc_id from documents top 50 by n_chars"),
      Some(ApproxQueries.weightedSampleOracle("n_chars", 50))),

    // Binary quantization on the dialect surface: `quantize` lowers
    // VERBATIM to the v25 builder (two packed sign-bit BIGINT halves,
    // zero exchanges — pinned in PlanSpec).
    Q("s40_dialect_quantize",
      sql("quantize vec_id, embedding from embeddings"),
      Some(VectorQueries.binaryCodesOracle)),

    // Sliding-window trending on the dialect surface: `trend` lowers
    // to the e21 builder over (ts, key) with a synthesized row id —
    // the oracle is e21's own (counts match because event_id is
    // never null in the fixture, and the unused sum column is pruned).
    Q("s41_dialect_trend",
      sql("trend ts, event_type from events top 3"),
      Some(EventQueries.trendingOracle(3))),

    // Stratified weighted sampling on the dialect surface: the `per`
    // suffix routes `sample … top n by w` into the x13 builder
    // (independent per-group draws, WindowGroupLimit-pinned).
    Q("s43_dialect_stratified_sample",
      sql("sample doc_id from documents top 5 by n_chars per source"),
      Some(ApproxQueries.groupedWeightedSampleOracle("source", "n_chars", 5))),

    // Dataset card on the dialect surface: `card` lowers VERBATIM to
    // the p11 core (text-only columns, so it works on any table with
    // an id and a text column).
    Q("s42_dialect_card",
      sql("card doc_id, text from documents"),
      Some {
        val t02 = TextQueries.all.find(_.name == "t02_quality").get.oracle.get
        s"""WITH qual AS ($t02),
           |base AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
           |  CAST(coalesce(sum(len(${OracleSql.toks("text")})), 0) AS BIGINT) AS n_tokens
           |  FROM documents),
           |d AS (SELECT CAST(coalesce(sum(CASE WHEN n >= 2 THEN n ELSE 0 END), 0) AS BIGINT)
           |        AS dup_docs
           |      FROM (SELECT md5(text) AS h, count(*) AS n FROM documents GROUP BY 1)),
           |mq AS (SELECT ${graft.core.Det.sql.davg("quality")} AS mean_quality FROM qual)
           |SELECT * FROM base, d, mq""".stripMargin
      }),

    // Quality-canonical dedup on the dialect surface: `dedup best`
    // lowers VERBATIM to the d19 builder (CC clusters over the LSH
    // pairs, keep the highest-quality doc per cluster) — d19's own
    // oracle gates the lowering.
    Q("s44_dialect_dedup_best",
      sql("dedup best doc_id, text from documents"),
      DedupQueries.all.find(_.name == "d19_canonical_pick").get.oracle),

    // Token-budget mixing on the dialect surface: `mix … budget n per
    // src` lowers VERBATIM to the p12 builder; a non-default budget
    // exercises the budget plumbing.
    Q("s45_dialect_mix",
      sql("mix doc_id, text from documents budget 500 per source"),
      Some(PipelineQueries.tokenBudgetMixOracle(500L))),

    // Per-source quality calibration on the dialect surface:
    // `calibrate` lowers VERBATIM to the t42 builder, so the
    // histogram-CDF-broadcast plan shape arrives with the statement.
    Q("s46_dialect_calibrate",
      sql("calibrate doc_id, source, text from documents"),
      Some(TextQueries.calibrationOracle)),

    // Hard-negative mining on the dialect surface: `negatives` lowers
    // VERBATIM to the v37 builder (shortlist = 4·k), gated by the same
    // oracle.
    Q("s47_dialect_negatives",
      sql("negatives vec_id, embedding, label from embeddings top 5"),
      Some(VectorQueries.hardNegativesSql(shortlist = 20, k = 5))),

    // Embedding OOD scoring on the dialect surface: `outliers` lowers
    // VERBATIM to the v39 builder (nearest-centroid distance, top-k
    // farthest), gated by the same oracle.
    Q("s48_dialect_outliers",
      sql("outliers vec_id, embedding from embeddings top 20"),
      Some(VectorQueries.centroidOutliersSql(topN = 20))),

    // Embedding drift on the dialect surface — the first two-table
    // non-join statement: `drift vec from a against b` lowers
    // VERBATIM to the x14 builder. The fixture dir carries one
    // embeddings table, so the gate runs the SELF-drift and pins the
    // absolute invariant psi ≡ 0 / shifted ≡ false through the whole
    // statement path (the sketch-family self-gate pattern);
    // PlannerSpec pins statement ≡ builder on distinct snapshots.
    Q("s49_dialect_drift",
      sql("drift embedding from embeddings against embeddings"),
      Some(s"""SELECT CAST(dd.range AS BIGINT) AS dim,
              |  CAST(0.0 AS DOUBLE) AS psi, false AS shifted
              |FROM range(${ApproxQueries.DriftDims}) dd""".stripMargin)),

    // Epoch planning on the dialect surface: `epochs` lowers VERBATIM
    // to the p14 builder, gated by the same oracle.
    Q("s50_dialect_epochs",
      sql("epochs source, text from documents budget 1000000"),
      Some(PipelineQueries.epochPlanOracle(1000000L))),

    // Cohort retention on the dialect surface: `retention user, ts
    // from t` lowers VERBATIM to the e24 builder, gated by its oracle.
    Q("s51_dialect_retention",
      sql("retention user_id, ts from events"),
      Some(EventQueries.retentionCohortsOracle)),

    // Corpus snapshot diff on the dialect surface — the s49 two-table
    // self-gate pattern: `diff text from documents against documents`
    // pins the absolute invariant (every fingerprint 'retained',
    // volumes = the corpus's own) through the whole statement path;
    // PlannerSpec pins statement ≡ builder on DISTINCT snapshots.
    // n_chars = octet_length(text) (byte length — engine-portable
    // where codepoint counts are not).
    Q("s52_dialect_diff",
      sql("diff text from documents against documents"),
      Some {
        val fp = OracleSql.foldHash(OracleSql.tokenHashes("text"))
        s"""WITH s AS (SELECT $fp AS fp, count(*) AS n,
           |  sum(coalesce(strlen(text), 0)) AS ch FROM documents GROUP BY 1)
           |SELECT 'retained' AS status, CAST(count(*) AS BIGINT) AS n_fps,
           |  CAST(sum(n) AS BIGINT) AS n_docs,
           |  CAST(sum(ch) AS BIGINT) AS n_chars
           |FROM s""".stripMargin
      }),

    // Tokenizer fertility on the dialect surface: `fertility lang,
    // text from t` lowers VERBATIM to the t44 builder.
    Q("s53_dialect_fertility",
      sql("fertility lang, text from documents"),
      Some(TextQueries.tokenFertilityOracle)),

    // Pack-efficiency curve on the dialect surface: `packing id, text
    // from t sizes …` lowers VERBATIM to the t45 builder; the sizes
    // list parses into the same one-cumsum multi-size plan.
    Q("s54_dialect_packing",
      sql("packing doc_id, text from documents sizes 256, 512, 1024"),
      Some(TextQueries.packEfficiencyOracle(Seq(256L, 512L, 1024L)))),

    // IVF index repair on the dialect surface — lowers VERBATIM to
    // the v41 builder (PlannerSpec pins statement ≡ builder), gated
    // against the same unrolled-Lloyd oracle: dirty-cell selection +
    // one narrow re-score pass, the "repair, don't rebuild" op an
    // upserted 100 TB index needs, now reachable from the console.
    Q("s55_dialect_repair",
      sql("repair vec_id, embedding from embeddings"),
      Some(VectorQueries.ivfRepairSql())),

    // SemDeDup on the dialect surface — the fourth dedup mode:
    // `dedup semantic` lowers VERBATIM to the d08 builder (k-means
    // cell partition, within-cell cosine domination, keep-lowest-id),
    // gated against the same unrolled-Lloyd oracle. threshold is the
    // cosine bar (default 0.2).
    Q("s56_dialect_semantic",
      sql("dedup semantic vec_id, embedding from embeddings"),
      Some(DedupQueries.semanticDedupSql())),

    // The persisted-index lifecycle on the dialect surface — build,
    // serve, repair all run from the console against the same
    // cell-partitioned layout the v45-v47 gates pin. Paths live in
    // the application's work dir (Sessions.workPath), tagged by
    // fixture dir, so neither two fixtures nor two processes collide.
    //
    // `index … into '<path>'`: cell-partitioned write + per-cell
    // build report, gated against the unrolled-Lloyd assignment's
    // GROUP BY cell.
    Q("s57_dialect_index",
      (s, dir) => GraftSession(s, dir).sql(
        s"index vec_id, embedding from embeddings into '${workPath(s, "s57", dir)}'"),
      Some {
        val last = graft.queries.VectorQueries.KMEANS_ITERS
        s"""WITH ${VectorQueries.kmeansCtesSql()}
           |SELECT cell, CAST(count(*) AS BIGINT) AS n_vecs
           |FROM assign$last GROUP BY cell""".stripMargin
      }),

    // `serve … from '<path>' top k`: partition-pruned search off the
    // layout the preceding `index` statement wrote — the full
    // build→persist→serve lifecycle through the console, hash-gated
    // against the same base-table search oracle as v45.
    Q("s58_dialect_serve",
      (s, dir) => {
        val g = GraftSession(s, dir)
        val p = workPath(s, "s58", dir)
        g.sql(s"index vec_id, embedding from embeddings into '$p'")
        g.sql(s"serve vec_id, embedding from '$p' top 5")
      },
      Some(VectorQueries.partitionedServeSql(5))),

    // `repair … using '<path>'`: v46's partition-pruned repair from
    // the console — membership read off the index, dirty cells as a
    // static partition predicate, same move-list oracle as v41/v46.
    Q("s59_dialect_repair_using",
      (s, dir) => {
        val g = GraftSession(s, dir)
        val p = workPath(s, "s59", dir)
        g.sql(s"index vec_id, embedding from embeddings into '$p'")
        g.sql(s"repair vec_id, embedding from embeddings using '$p'")
      },
      Some(VectorQueries.ivfRepairSql())),

    // `serve … query '<batch>'`: an EXTERNAL query batch served off
    // the persisted index — each query routes to its nearest exact
    // cell MEAN of the index (the repair refresh's decimal means, so
    // the oracle can replay the routing bit-for-bit from rows$last),
    // probed cells become the partition predicate, exact cosine
    // within them. The batch is a parquet file the builder derives
    // from the fixture (ids shifted out of the index's id space), and
    // the oracle derives the SAME rows from the embeddings table.
    Q("s60_dialect_serve_query",
      (s, dir) => {
        import org.apache.spark.sql.functions._
        val g = GraftSession(s, dir)
        val ip = workPath(s, "s60_idx", dir)
        val qp = workPath(s, "s60_q", dir)
        // the query-batch fixture is independent of the index build:
        // write it on a second driver thread so its jobs back-fill the
        // build's idle capacity instead of serializing after it
        // (optimization guide §2.6); the serve statement joins both.
        val fixture = concurrently {
          graft.core.Tables(s, dir, "embeddings")
            .filter(col("vec_id") % 11 === 3)
            .select((col("vec_id") + lit(1000000L)).as("vec_id"),
              col("embedding"))
            .coalesce(1).write.mode("overwrite").parquet(qp)
        }
        g.sql(s"index vec_id, embedding from embeddings into '$ip'")
        await(fixture)
        g.sql(s"serve vec_id, embedding from '$ip' query '$qp' top 10")
      },
      Some(VectorQueries.serveQueryOracle(10)),
      bench = true),

    // `serve … probe 2`: multi-probe routing off the `_centers`
    // sidecar — each query fans out to its TWO nearest refresh means
    // (one panel row per probed cell), the gather prunes to the
    // probed union, one rank per query across both cells. Recall@k
    // dominates single-probe at the same index (AnnRecallSpec pins
    // it); the oracle replays the same top-2 routing from rows$last.
    Q("s61_dialect_serve_probe",
      (s, dir) => {
        import org.apache.spark.sql.functions._
        val g = GraftSession(s, dir)
        val ip = workPath(s, "s61_idx", dir)
        val qp = workPath(s, "s61_q", dir)
        val fixture = concurrently {
          graft.core.Tables(s, dir, "embeddings")
            .filter(col("vec_id") % 11 === 3)
            .select((col("vec_id") + lit(1000000L)).as("vec_id"),
              col("embedding"))
            .coalesce(1).write.mode("overwrite").parquet(qp)
        }
        g.sql(s"index vec_id, embedding from embeddings into '$ip'")
        await(fixture)
        g.sql(s"serve vec_id, embedding from '$ip' query '$qp' top 5 probe 2")
      },
      Some(VectorQueries.serveQueryOracle(5, probe = 2))),

    // `ingest … into '<path>'`: incremental ingest on the dialect —
    // arrivals assign against the sidecar's FROZEN serving centers
    // (no fit, no index scan) and land via the overwrite upsert.
    // Gated on the full readback against the v47 merge oracle: base ∪
    // shifted arrivals, one row per id.
    Q("s62_dialect_ingest",
      (s, dir) => {
        import org.apache.spark.sql.functions._
        val g = GraftSession(s, dir)
        val ip = workPath(s, "s62_idx", dir)
        val ap = workPath(s, "s62_arr", dir)
        g.sql(s"index vec_id, embedding from embeddings into '$ip'")
        graft.core.Tables(s, dir, "embeddings")
          .filter(col("vec_id") % 7 === 3)
          .select((col("vec_id") + lit(1000000L)).as("vec_id"),
            col("embedding"))
          .coalesce(1).write.mode("overwrite").parquet(ap)
        g.sql(s"ingest vec_id, embedding from '$ap' into '$ip'")
      },
      Some(VectorQueries.indexUpsertOracle)),

    // `ingest … append` + `compact`: the scattered-arrival lifecycle
    // end-to-end on the console — two O(batch) appends (fresh ids,
    // then re-ingests with NEGATED embeddings that move cells), then
    // compaction resolves the superseded copies in the files. Gated
    // on compact's k-row report: the post-compact per-cell occupancy
    // must equal a GROUP BY over the v49 merged semantics — counts
    // only come out right if the cross-cell dedupe actually happened.
    Q("s63_dialect_compact",
      (s, dir) => {
        import org.apache.spark.sql.functions._
        val g = GraftSession(s, dir)
        val ip = workPath(s, "s63_idx", dir)
        val a1 = workPath(s, "s63_fresh", dir)
        val a2 = workPath(s, "s63_rein", dir)
        g.sql(s"index vec_id, embedding from embeddings into '$ip'")
        val e = graft.core.Tables(s, dir, "embeddings")
          .select(col("vec_id"), col("embedding"))
        e.filter(col("vec_id") % 7 === 3)
          .select((col("vec_id") + lit(1000000L)).as("vec_id"),
            col("embedding"))
          .coalesce(1).write.mode("overwrite").parquet(a1)
        e.filter(col("vec_id") % 13 === 4)
          .select(col("vec_id"),
            transform(col("embedding"), x => -x).as("embedding"))
          .coalesce(1).write.mode("overwrite").parquet(a2)
        g.sql(s"ingest vec_id, embedding from '$a1' into '$ip' append")
        g.sql(s"ingest vec_id, embedding from '$a2' into '$ip' append")
        g.sql(s"compact '$ip' files 1")
      },
      Some(VectorQueries.indexAppendCountsOracle)),

    // `index … pq` + `serve … pq shortlist s`: PQ-accelerated serving
    // on the console — the v50 two-stage search (ADC shortlist over
    // the stored ~8-byte codes, embedding column untouched until the
    // exact re-rank of the winners) through the same statements that
    // built the index. Same oracle as v50.
    Q("s64_dialect_serve_pq",
      (s, dir) => {
        import org.apache.spark.sql.functions._
        val g = GraftSession(s, dir)
        val ip = workPath(s, "s64_idx", dir)
        val qp = workPath(s, "s64_q", dir)
        val fixture = concurrently {
          graft.core.Tables(s, dir, "embeddings")
            .filter(col("vec_id") % 11 === 3)
            .select((col("vec_id") + lit(1000000L)).as("vec_id"),
              col("embedding"))
            .coalesce(1).write.mode("overwrite").parquet(qp)
        }
        g.sql(s"index vec_id, embedding from embeddings into '$ip' pq")
        await(fixture)
        g.sql(s"serve vec_id, embedding from '$ip' query '$qp' top 5 pq shortlist 20")
      },
      Some(VectorQueries.pqServeOracle(5, 20)),
      bench = true),

    // `serve … pq probe 2`: multi-probe COMPOSES with PQ serving —
    // each query fans out to its two nearest refresh means, takes a
    // per-(query, cell) residual LUT (codes are residuals against
    // each cell's own serving center, the v33 multiprobe semantics),
    // and one ADC shortlist + exact re-rank merges candidates across
    // both cells. The oracle replays the rk≤2 routing and both
    // residual legs bit-for-bit.
    Q("s65_dialect_serve_pq_probe",
      (s, dir) => {
        import org.apache.spark.sql.functions._
        val g = GraftSession(s, dir)
        val ip = workPath(s, "s65_idx", dir)
        val qp = workPath(s, "s65_q", dir)
        val fixture = concurrently {
          graft.core.Tables(s, dir, "embeddings")
            .filter(col("vec_id") % 11 === 3)
            .select((col("vec_id") + lit(1000000L)).as("vec_id"),
              col("embedding"))
            .coalesce(1).write.mode("overwrite").parquet(qp)
        }
        g.sql(s"index vec_id, embedding from embeddings into '$ip' pq")
        await(fixture)
        g.sql(s"serve vec_id, embedding from '$ip' query '$qp' " +
          "top 5 probe 2 pq shortlist 20")
      },
      Some(VectorQueries.pqServeOracle(5, 20, probe = 2))),

    // Prepared-index serving — the LATENCY path the pushed gather
    // optimizes, benched without the build: the index and query batch
    // are materialized ONCE per fixture and application (build-if-
    // absent in the work dir, which the application's stop deletes,
    // so no older writer's layout is ever served) and each bench pass
    // times ONLY the serve statement — sidecar-cached routing, ADC
    // shortlist, bounded re-rank gather.
    // s60/s64 are dominated by their per-pass `index` build; this is
    // the number a serving loop actually sees, tracked round-over-
    // round in BENCH (VERDICT r13 ask #7). The deterministic build
    // makes the prebuilt layout equivalent to a fresh one, so the s64
    // oracle replays it unchanged at top 10.
    Q("s66_dialect_serve_pq_prepared",
      (s, dir) => {
        import org.apache.spark.sql.functions._
        val g = GraftSession(s, dir)
        val ip = workPath(s, "s66_idx", dir)
        val qp = workPath(s, "s66_q", dir)
        // both fixtures must exist — a run crashed between the index
        // build and the batch write must not wedge every later run on
        // the half-present pair
        if (!java.nio.file.Files.isDirectory(
            java.nio.file.Paths.get(ip, graft.operators.IvfIndex.SidecarDir)) ||
          !java.nio.file.Files.exists(
            java.nio.file.Paths.get(qp, "_SUCCESS"))) {
          g.sql(s"index vec_id, embedding from embeddings into '$ip' pq")
          graft.core.Tables(s, dir, "embeddings")
            .filter(col("vec_id") % 11 === 3)
            .select((col("vec_id") + lit(1000000L)).as("vec_id"),
              col("embedding"))
            .coalesce(1).write.mode("overwrite").parquet(qp)
        }
        g.sql(s"serve vec_id, embedding from '$ip' query '$qp' top 10 pq shortlist 20")
      },
      Some(VectorQueries.pqServeOracle(10, 20)),
      bench = true)
  )
}
