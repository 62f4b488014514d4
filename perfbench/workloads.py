"""Seeded operations for each workload, with their expected answers.

The seed picks the literals (filter bounds, top-N, group keys) and the
order of the operations. The template mix is fixed per workload so that
runs with different seeds measure the same kind of work. Each statement
has a DuckDB twin that follows the dialect's rules (case-insensitive
`like`, half-open `between` with ordered bounds, `count` as a double,
`top N ... order by` descending), which gives the expected answer.
"""
import datetime
import hashlib
import random

PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]

# ------------------------------------------------------------ formatting


def fmt(v):
    """A value as the engine prints it (graft.sources.Sinks.formatted):
    doubles as %.10g without trailing zeros, timestamps to the second,
    null as the empty string."""
    if v is None:
        return ""
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        return "%.10g" % v
    if isinstance(v, datetime.datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S")
    return str(v)


def csv_field(s):
    if any(c in s for c in ',"\n\r'):
        return '"' + s.replace('"', '""') + '"'
    return s


def digest(lines):
    """Row count and order-insensitive digest; the harness computes the
    same over the rows it observes (perfbench.Harness.digest)."""
    total = 0
    n = 0
    for line in lines:
        total += int.from_bytes(hashlib.md5(line.encode("utf-8")).digest()[:8], "big")
        n += 1
    return n, str(total % (1 << 64))


def row_line(cells):
    return "\x1f".join(cells)


# ------------------------------------------------------------- gui_csv


def _date(rng, lo, hi):
    d0 = datetime.date.fromisoformat(lo)
    span = (datetime.date.fromisoformat(hi) - d0).days
    return (d0 + datetime.timedelta(days=rng.randrange(span))).isoformat()


def _gui_small(rng, n_cust):
    """Statements over the small tables: planning- and inference-bound."""
    n = rng.randrange(25)
    x = rng.randrange(0, 9000)
    a, b, c = rng.sample(range(25), 3)
    lo = rng.randrange(-900, 5000)
    return [
        ("project", ["customer.csv"],
         f"select c_custkey, tag = c_mktsegment + '-' + c_name from customer.csv "
         f"where c_nationkey = {n}",
         f"SELECT c_custkey, c_mktsegment || '-' || c_name AS tag FROM customer "
         f"WHERE c_nationkey = {n}"),
        ("join_group", ["customer.csv", "nation.csv"],
         f"select n_name, count(c_custkey) as n from customer.csv cu "
         f"inner join nation.csv n on cu.c_nationkey = n.n_nationkey "
         f"where c_acctbal > {x} group by n_name",
         f"SELECT n_name, CAST(count(c_custkey) AS DOUBLE) AS n FROM customer "
         f"JOIN nation ON c_nationkey = n_nationkey WHERE c_acctbal > {x} GROUP BY n_name"),
        ("where_in", ["supplier.csv"],
         f"select s_suppkey, s_name, s_acctbal from supplier.csv "
         f"where s_nationkey in ({a}, {b}, {c}) and s_acctbal between {lo + 4000} and {lo}",
         f"SELECT s_suppkey, s_name, s_acctbal FROM supplier "
         f"WHERE s_nationkey IN ({a}, {b}, {c}) AND s_acctbal >= {lo} "
         f"AND s_acctbal < {lo + 4000}"),
        # dialect `distinct` keeps the first row per value in file order,
        # and customer.csv is written in c_custkey order
        ("distinct", ["customer.csv"],
         f"select distinct c_mktsegment, c_nationkey from customer.csv where c_acctbal < {x}",
         f"SELECT c_mktsegment, arg_min(c_nationkey, c_custkey) AS c_nationkey "
         f"FROM customer WHERE c_acctbal < {x} GROUP BY c_mktsegment"),
    ]


def _gui_large(rng, n_cust):
    """Statements over orders and lineitem: scan-bound."""
    a = rng.randrange(max(1, n_cust - 100))
    like = rng.choice(["high", "urgent", "medium", "low", "not"])
    pin = rng.choice(PRIORITIES)
    d = _date(rng, "1996-01-01", "2000-12-31")
    topn = rng.randrange(10, 101)
    status = rng.choice("FOP")
    q = rng.randrange(1, 50)
    price = rng.randrange(1000, 450000)
    return [
        ("where_like", ["orders.csv"],
         f"select o_orderkey, o_totalprice from orders.csv "
         f"where (o_orderpriority like '%{like}%' or o_orderpriority in ('{pin}')) "
         f"and o_custkey between {a} and {a + 100}",
         f"SELECT o_orderkey, o_totalprice FROM orders "
         f"WHERE (o_orderpriority ILIKE '%{like}%' OR o_orderpriority IN ('{pin}')) "
         f"AND o_custkey >= {a} AND o_custkey < {a + 100}"),
        ("group", ["lineitem.csv"],
         f"select l_returnflag, l_linestatus, count(l_orderkey) as n, "
         f"min(l_quantity) as mn, max(l_quantity) as mx from lineitem.csv "
         f"where l_shipdate < '{d}' group by l_returnflag, l_linestatus",
         f"SELECT l_returnflag, l_linestatus, CAST(count(l_orderkey) AS DOUBLE) AS n, "
         f"min(l_quantity) AS mn, max(l_quantity) AS mx FROM lineitem "
         f"WHERE l_shipdate < TIMESTAMP '{d}' GROUP BY l_returnflag, l_linestatus"),
        ("top_n", ["orders.csv"],
         f"select top {topn} o_orderkey, o_totalprice from orders.csv "
         f"where o_orderstatus = '{status}' order by o_orderkey",
         f"SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderstatus = '{status}' "
         f"ORDER BY o_orderkey DESC LIMIT {topn}"),
        ("date_funcs", ["orders.csv"],
         f"select o_orderkey, year(o_orderdate) as y, week(o_orderdate) as wk, "
         f"day(o_orderdate) as dow, monthname(o_orderdate) as mn from orders.csv "
         f"where o_custkey between {a} and {a + 50}",
         f"SELECT o_orderkey, CAST(year(o_orderdate) AS BIGINT) AS y, "
         f"CAST(floor(dayofyear(o_orderdate) / 7.0) AS BIGINT) AS wk, "
         f"CAST(dayofweek(o_orderdate) AS BIGINT) AS dow, monthname(o_orderdate) AS mn "
         f"FROM orders WHERE o_custkey >= {a} AND o_custkey < {a + 50}"),
        ("count_distinct", ["lineitem.csv"],
         f"select count(distinct l_suppkey) as ns from lineitem.csv where l_quantity > {q}",
         f"SELECT CAST(count(DISTINCT l_suppkey) AS DOUBLE) AS ns FROM lineitem "
         f"WHERE l_quantity > {q}"),
        ("join_group_large", ["orders.csv", "customer.csv"],
         f"select c_mktsegment, count(o_orderkey) as n from orders.csv o "
         f"inner join customer.csv c on o.o_custkey = c.c_custkey "
         f"where o_totalprice > {price} group by c_mktsegment",
         f"SELECT c_mktsegment, CAST(count(o_orderkey) AS DOUBLE) AS n FROM orders "
         f"JOIN customer ON o_custkey = c_custkey WHERE o_totalprice > {price} "
         f"GROUP BY c_mktsegment"),
    ]


def gui_csv(seed, n_cust):
    """Two thirds small-table statements, one third large-table ones, so
    the median is set by planning and inference and the tail by scans.
    The statements come in rounds of six (small, small, large, small,
    small, large) in which every small-table template runs once, so
    however many whole rounds a run completes, it ran the same mix. The
    seed picks the literals, the order of the small templates within
    each round and the order of the large ones."""
    rng = random.Random(seed)
    large = _gui_large(rng, n_cust)
    rng.shuffle(large)
    stmts = []
    for r in range(len(large) // 2):
        small = _gui_small(rng, n_cust)
        rng.shuffle(small)
        stmts += small[0:2] + [large[2 * r]] + small[2:4] + [large[2 * r + 1]]
    ops = [{"id": i, "template": t, "files": files, "stmt": stmt, "oracle": oracle}
           for i, (t, files, stmt, oracle) in enumerate(stmts)]
    # warm-up: the cheapest small and large statements, unseeded
    warm_rng = random.Random(0)
    small, large = _gui_small(warm_rng, n_cust), _gui_large(warm_rng, n_cust)
    warm = [{"id": 1000 + i, "template": t, "files": f, "stmt": s, "oracle": o}
            for i, (t, f, s, o) in enumerate([small[2], large[2]])]
    return warm, ops


# ---------------------------------------------------------- export_csv


def _export_stmts(rng):
    d0 = _date(rng, "1995-06-01", "2000-06-01")
    d1 = (datetime.date.fromisoformat(d0) + datetime.timedelta(days=120)).isoformat()
    # orders' window is wider, so that an orders export costs about what
    # a lineitem one does: with two clusters of latencies the median
    # would fall in the gap between them and swing with its edges
    o0 = _date(rng, "1995-06-01", "1999-01-01")
    o1 = (datetime.date.fromisoformat(o0) + datetime.timedelta(days=900)).isoformat()
    return [
        ("lineitem_window",
         f"select l_orderkey, l_partkey, l_quantity, l_extendedprice, l_shipdate "
         f"from lineitem where l_shipdate between '{d0}' and '{d1}'",
         f"SELECT l_orderkey, l_partkey, l_quantity, l_extendedprice, l_shipdate "
         f"FROM lineitem WHERE l_shipdate >= TIMESTAMP '{d0}' AND l_shipdate < TIMESTAMP '{d1}'",
         "select count(l_orderkey) as n, sum(l_quantity) as q, min(l_shipdate) as d0, "
         "max(l_shipdate) as d1 from {out}",
         "SELECT CAST(count(l_orderkey) AS DOUBLE) AS n, CAST(sum(l_quantity) AS BIGINT) AS q, "
         "min(l_shipdate) AS d0, max(l_shipdate) AS d1 FROM ({export})"),
        ("orders_window",
         f"select o_orderkey, o_custkey, o_totalprice, o_orderdate "
         f"from orders where o_orderdate between '{o0}' and '{o1}'",
         f"SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate "
         f"FROM orders WHERE o_orderdate >= TIMESTAMP '{o0}' AND o_orderdate < TIMESTAMP '{o1}'",
         "select count(o_orderkey) as n, max(o_totalprice) as mx, "
         "min(o_orderdate) as d0 from {out}",
         "SELECT CAST(count(o_orderkey) AS DOUBLE) AS n, max(o_totalprice) AS mx, "
         "min(o_orderdate) AS d0 FROM ({export})"),
    ]


def export_csv(seed, outs):
    """Operations alternate the CLI save (saveCsvStreaming, one file) and
    the server save (savePath, a directory of part files); each re-reads
    the file it just overwrote."""
    rng = random.Random(seed)
    variants = [_export_stmts(rng) for _ in range(4)]
    rng.shuffle(variants)
    # every four operations cover both tables through both paths
    stmts = []
    for k in range(0, len(variants), 2):
        a, b = variants[k], variants[k + 1]
        stmts += [a[0], a[1], b[1], b[0]]
    ops = []
    for i, (t, stmt, oracle, requery, requery_oracle) in enumerate(stmts):
        mode = "cli" if i % 2 == 0 else "server"
        out = outs[mode]
        ops.append({"id": i, "template": f"{t}/{mode}", "mode": mode, "out": out,
                    "stmt": stmt, "oracle": oracle,
                    "requery": requery.replace("{out}", out),
                    "requery_oracle": requery_oracle.replace("{export}", oracle)})
    # warm-up: both tables, both paths, unseeded
    warm_rng = random.Random(0)
    warm = []
    for i, (t, stmt, oracle, requery, rq_oracle) in enumerate(_export_stmts(warm_rng)):
        mode = "cli" if i % 2 == 0 else "server"
        warm.append({"id": 1000 + i, "template": f"{t}/{mode}", "mode": mode,
                     "out": outs[mode], "stmt": stmt, "oracle": oracle,
                     "requery": requery.replace("{out}", outs[mode]),
                     "requery_oracle": rq_oracle.replace("{export}", oracle)})
    return warm, ops
