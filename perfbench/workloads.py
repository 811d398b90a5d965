"""Seeded statement streams for the four workloads.

Everything here is a pure function of the seed: the same seed gives the
same statements, parameters, ingest batches and order. Parameters are drawn
from ranges that keep each shape's work about the same from seed to seed,
and every stream is cut into blocks in which each shape appears equally
often, so a run's medians do not depend on which shapes the seed favoured.
"""
import random

import numpy as np
import pyarrow as pa

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
COLORS = ["red", "blue", "green", "dark", "pale"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]

REV = ("CAST(l_extendedprice AS DECIMAL(12,2)) * "
       "(CAST(1.00 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2)))")


def _day(rng, start, span_days):
    d = np.datetime64(start) + np.timedelta64(rng.randrange(span_days), "D")
    return str(d)


# The SQL-defined headline shapes (oracle texts of agg_h01, join_inner_h03,
# tpch_h05, tpch_h09, tpch_h18, tpch_h21, subq_scalar, cte_h15, win_rownum,
# win_running_sum, topk and events_hourly), with their filter constants
# turned into parameters. `{name}` marks a parameter.
OLAP_SHAPES = {
    "h01": (
        "SELECT l_returnflag, l_linestatus, "
        "CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(12,2))),2) AS DOUBLE) AS sum_qty, "
        "CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,2))),2) AS DOUBLE) AS sum_base_price, "
        f"CAST(ROUND(SUM({REV}),2) AS DOUBLE) AS sum_disc_price, "
        "ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE)/COUNT(*),2) AS avg_qty, "
        "COUNT(*) AS count_order FROM lineitem "
        "WHERE l_shipdate <= CAST({d} AS TIMESTAMP) "
        "GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus",
        lambda r: {"d": _day(r, "1998-07-01", 120)}),
    "h03": (
        f"SELECT o_orderkey, CAST(ROUND(SUM({REV}),2) AS DOUBLE) AS revenue, "
        "CAST(o_orderdate AS DATE) AS odate FROM customer JOIN orders ON c_custkey=o_custkey "
        "JOIN lineitem ON l_orderkey=o_orderkey WHERE c_mktsegment={seg} "
        "AND o_orderdate < CAST({d1} AS TIMESTAMP) AND l_shipdate > CAST({d2} AS TIMESTAMP) "
        "GROUP BY o_orderkey, o_orderdate ORDER BY revenue DESC, o_orderkey LIMIT 10",
        lambda r: {"seg": r.choice(SEGMENTS), "d1": _day(r, "1997-11-01", 90),
                   "d2": _day(r, "1996-11-01", 90)}),
    "h05": (
        f"SELECT n_name, CAST(ROUND(SUM({REV}),2) AS DOUBLE) AS revenue "
        "FROM customer JOIN orders ON c_custkey=o_custkey JOIN lineitem ON l_orderkey=o_orderkey "
        "JOIN supplier ON l_suppkey=s_suppkey AND c_nationkey=s_nationkey "
        "JOIN nation ON s_nationkey=n_nationkey JOIN region ON n_regionkey=r_regionkey "
        "WHERE r_name={r} AND o_orderdate >= CAST({y0} AS TIMESTAMP) "
        "AND o_orderdate < CAST({y1} AS TIMESTAMP) GROUP BY n_name ORDER BY revenue DESC, n_name",
        lambda r: (lambda y: {"r": r.choice(REGIONS), "y0": f"{y}-01-01",
                              "y1": f"{y + 1}-01-01"})(r.randrange(1995, 2001))),
    "h09": (
        "SELECT n_name, CAST(EXTRACT(YEAR FROM o_orderdate) AS INTEGER) AS o_year, "
        f"CAST(ROUND(SUM({REV}),2) AS DOUBLE) AS profit "
        "FROM part JOIN lineitem ON p_partkey=l_partkey JOIN supplier ON l_suppkey=s_suppkey "
        "JOIN orders ON o_orderkey=l_orderkey JOIN nation ON s_nationkey=n_nationkey "
        "WHERE p_name LIKE {pat} GROUP BY 1,2 ORDER BY 1,2 DESC",
        lambda r: {"pat": f"%{r.choice(COLORS)}%"}),
    "h18": (
        "SELECT c_custkey, o_orderkey, CAST(o_orderdate AS DATE) AS odate, "
        "ROUND(o_totalprice,2) AS price, ROUND(SUM(l_quantity),2) AS total_qty "
        "FROM customer JOIN orders ON c_custkey=o_custkey JOIN lineitem ON o_orderkey=l_orderkey "
        "WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem GROUP BY l_orderkey "
        "HAVING SUM(l_quantity) > {q}) "
        "GROUP BY c_custkey, o_orderkey, o_orderdate, o_totalprice "
        "ORDER BY price DESC, o_orderkey LIMIT 20",
        lambda r: {"q": r.randrange(120, 160)}),
    "h21": (
        "SELECT s_name, COUNT(*) AS numwait FROM supplier JOIN lineitem l1 ON s_suppkey=l1.l_suppkey "
        "JOIN orders ON o_orderkey=l1.l_orderkey WHERE o_orderstatus={st} "
        "AND EXISTS (SELECT 1 FROM lineitem l2 WHERE l2.l_orderkey=l1.l_orderkey "
        "AND l2.l_suppkey<>l1.l_suppkey) "
        "AND NOT EXISTS (SELECT 1 FROM lineitem l3 WHERE l3.l_orderkey=l1.l_orderkey "
        "AND l3.l_suppkey<>l1.l_suppkey AND l3.l_shipdate > l1.l_shipdate) "
        "GROUP BY s_name ORDER BY numwait DESC, s_name LIMIT 20",
        lambda r: {"st": r.choice(["F", "O", "P"])}),
    "subq_scalar": (
        "SELECT ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE)/7.0,2) AS avg_yearly "
        "FROM lineitem JOIN part ON p_partkey=l_partkey WHERE p_brand={brand} "
        "AND l_quantity < (SELECT 0.2*AVG(l_quantity) FROM lineitem l2 WHERE l2.l_partkey=p_partkey)",
        lambda r: {"brand": f"Brand#{r.randrange(1, 26)}"}),
    "cte_h15": (
        "WITH revenue AS (SELECT l_suppkey AS supplier_no, "
        f"CAST(ROUND(SUM({REV}),2) AS DOUBLE) AS total_revenue FROM lineitem "
        "WHERE l_shipdate >= CAST({q0} AS TIMESTAMP) AND l_shipdate < CAST({q1} AS TIMESTAMP) "
        "GROUP BY l_suppkey) SELECT s_suppkey, s_name, total_revenue FROM supplier "
        "JOIN revenue ON s_suppkey=supplier_no "
        "WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue) ORDER BY s_suppkey",
        lambda r: (lambda y, q: {"q0": f"{y}-{3 * q + 1:02d}-01",
                                 "q1": f"{y + (q == 3)}-{(3 * q + 3) % 12 + 1:02d}-01"})(
            r.randrange(1995, 2001), r.randrange(4))),
    "win_rownum": (
        "SELECT o_custkey, o_orderkey, CAST(ROW_NUMBER() OVER (PARTITION BY o_custkey "
        "ORDER BY o_orderdate, o_orderkey) AS INTEGER) AS rn FROM orders "
        "WHERE o_orderdate >= CAST({d} AS TIMESTAMP) ORDER BY o_custkey, rn LIMIT 100",
        lambda r: {"d": _day(r, "1995-01-01", 180)}),
    "win_running_sum": (
        "SELECT o_custkey, o_orderkey, ROUND(SUM(o_totalprice) OVER (PARTITION BY o_custkey "
        "ORDER BY o_orderdate, o_orderkey ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),2) "
        "AS run_total FROM orders WHERE o_totalprice > {p} ORDER BY o_custkey, o_orderkey LIMIT 200",
        lambda r: {"p": r.randrange(1000, 20000)}),
    "topk": (
        "SELECT s_name, ROUND(s_acctbal,2) AS bal FROM supplier WHERE s_acctbal > {b} "
        "ORDER BY bal DESC, s_name LIMIT 10",
        lambda r: {"b": r.randrange(-900, 900)}),
    "events_hourly": (
        "SELECT DATE_TRUNC('HOUR', ts) AS h, event_type, COUNT(*) AS c, "
        "CAST(ROUND(SUM(CAST(value AS DECIMAL(12,2))),2) AS DOUBLE) AS v FROM events "
        "WHERE event_type <> {t} GROUP BY 1,2 ORDER BY 1,2",
        lambda r: {"t": r.choice(EVENT_TYPES)}),
}
OLAP_VARIANTS = 3  # parameter sets per shape and seed
OLAP_BLOCK = len(OLAP_SHAPES) * 3  # statements per block and client

PIPELINE_OPS = ["dedup_jaccard", "dedup_minhash_lsh", "pipeline_clean_corpus",
                "dedup_simhash", "embed_knn", "events_sessions"]


def literal(v):
    if isinstance(v, str):
        return "'" + v.replace("'", "''") + "'"
    return str(v)


def render(template, params):
    """The statement text with literals in place of the parameters."""
    return template.format(**{k: literal(v) for k, v in params.items()})


def placeholders(template, params):
    """The template with Spark named parameters (`:name`)."""
    return template.format(**{k: f":{k}" for k in params})


def olap_stream(seed, client, blocks):
    """One olap_mix client's statements: a warm-up, then blocks of the same
    mix whatever the seed. The warm-up sends every shape's `/sql` text once.
    Each block then sends every shape's `/sql` text again -- now a plan-cache
    hit, as the text is the same in every block (one parameter set per shape
    and seed) -- and every shape twice as a prepared statement with seeded
    parameters, which plans on every call.

    One third repeated texts and two thirds prepared statements: the cache
    hits form two tight latency groups (about 50 ms, and about 150 ms for
    the four heaviest shapes), and the prepared calls one broad group from
    about 300 ms up. With more cache hits than prepared calls the median
    falls on the edge of the 150 ms group, where it jumped from run to run;
    with this mix the median and the 75th percentile fall inside the broad
    group."""
    rng = random.Random(f"olap/{seed}")
    variants = {s: [gen(rng) for _ in range(OLAP_VARIANTS)]
                for s, (_, gen) in OLAP_SHAPES.items()}
    crng = random.Random(f"olap/{seed}/{client}")

    def sql(shape):
        return {"shape": shape, "kind": "sql",
                "text": render(OLAP_SHAPES[shape][0], variants[shape][0])}

    def prepared(shape):
        template, params = OLAP_SHAPES[shape][0], crng.choice(variants[shape])
        return {"shape": shape, "kind": "prepared", "text": render(template, params),
                "template": placeholders(template, params), "params": params}

    warm = [sql(s) for s in OLAP_SHAPES]
    crng.shuffle(warm)
    out = []
    for _ in range(blocks):
        block = [sql(s) for s in OLAP_SHAPES] + [prepared(s) for s in OLAP_SHAPES for _ in range(2)]
        crng.shuffle(block)
        out.extend(block)
    return warm, out


# bulk_export: result-size tiers (approximate rows) and column sets of
# similar width, so every block of six exports moves about the same bytes.
BULK_TIERS = [("orders", 100_000), ("lineitem", 200_000), ("lineitem", 300_000),
              ("lineitem", 400_000), ("lineitem", 500_000), ("lineitem", 600_000)]
BULK_COLUMNS = {
    "orders": [["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate",
                "o_orderpriority"]],
    "lineitem": [
        ["l_orderkey", "l_partkey", "l_suppkey", "l_quantity", "l_extendedprice", "l_shipdate"],
        ["l_orderkey", "l_linenumber", "l_discount", "l_tax", "l_returnflag", "l_shipdate"],
        ["l_orderkey", "l_partkey", "l_extendedprice", "l_discount", "l_linestatus", "l_shipdate"],
    ],
}
ORDER_KEYS = 150_000
TABLE_ROWS = {"orders": 150_000, "lineitem": 600_000}


def bulk_stream(seed, blocks):
    """Distinct export texts: each block is the six size tiers in seeded
    order, each a seeded key range and column set."""
    rng = random.Random(f"bulk/{seed}")
    out = []
    for b in range(blocks):
        tiers = list(BULK_TIERS)
        rng.shuffle(tiers)
        for j, (table, rows) in enumerate(tiers):
            cols = BULK_COLUMNS[table][(b + j) % len(BULK_COLUMNS[table])]
            key = cols[0]
            width = int(ORDER_KEYS * rows / TABLE_ROWS[table])
            lo = rng.randrange(0, ORDER_KEYS - width + 1) if width < ORDER_KEYS else -rng.randrange(1, 10_000)
            hi = lo + width - 1 if width < ORDER_KEYS else ORDER_KEYS + rng.randrange(0, 10_000)
            text = f"SELECT {', '.join(cols)} FROM {table} WHERE {key} BETWEEN {lo} AND {hi}"
            out.append({"shape": f"{table}_{rows // 1000}k", "kind": "sql", "text": text})
    return out


# rw_mixed: a table of RW_WINDOW live batches of RW_BATCH rows. The writer
# appends batch k and then deletes batch k - RW_WINDOW.
RW_TABLE = "bench_rw"
RW_BATCH = 2000
RW_WINDOW = 8
RW_READS = {
    "rw_agg": f"SELECT batch_id, COUNT(*) AS n, "
              f"CAST(ROUND(SUM(CAST(v AS DECIMAL(12,2))),2) AS DOUBLE) AS s "
              f"FROM {RW_TABLE} GROUP BY batch_id",
    "rw_join": f"SELECT r.batch_id, n.n_name, COUNT(*) AS n, "
               f"CAST(ROUND(SUM(CAST(r.v AS DECIMAL(12,2))),2) AS DOUBLE) AS s "
               f"FROM {RW_TABLE} r JOIN customer c ON r.custkey = c.c_custkey "
               f"JOIN nation n ON c.c_nationkey = n.n_nationkey GROUP BY r.batch_id, n.n_name",
}


def rw_batch(seed, k):
    """Batch k of the rw_mixed table, as an Arrow table."""
    rng = np.random.default_rng([seed, k])
    return pa.table({
        "batch_id": pa.array(np.full(RW_BATCH, k, dtype=np.int64)),
        "row_id": pa.array(np.arange(RW_BATCH, dtype=np.int64) + k * RW_BATCH),
        "custkey": pa.array(rng.integers(0, 15000, RW_BATCH).astype(np.int64)),
        "v": pa.array(np.round(rng.uniform(0, 1000, RW_BATCH), 2)),
        "tag": pa.array([f"t{j}" for j in rng.integers(0, 50, RW_BATCH)]),
    })


def rw_delete(k):
    return f"DELETE FROM {RW_TABLE} WHERE batch_id = {k}"


# Three aggregates to one join. The join is the slower shape, and the writes
# are slower still; an even mix would put the median of all statements near
# the gap between the aggregate's and the join's latencies.
RW_READ_BLOCK = ["rw_agg", "rw_agg", "rw_agg", "rw_join"]


def rw_reader_stream(seed, reader, n):
    """Reader `reader`'s seeded sequence of read shapes, in blocks of
    RW_READ_BLOCK."""
    rng = random.Random(f"rw/{seed}/{reader}")
    out = []
    while len(out) < n:
        block = list(RW_READ_BLOCK)
        rng.shuffle(block)
        out.extend(block)
    return out[:n]
