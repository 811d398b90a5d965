"""Result checks and the statistics the benchmark reports.

A result is compared with DuckDB's answer to the same statement on the same
Parquet files through an order-insensitive checksum: the row count, and per
column (matched by name) the sum of its values for numbers and times, or the
sum of a hash of the text form for everything else. Numeric sums compare
with a relative tolerance, since two engines may add doubles in a different
order; hashed columns compare exactly.
"""
import math

import duckdb

NUMERIC = ("TINYINT", "SMALLINT", "INTEGER", "BIGINT", "HUGEINT", "UTINYINT", "USMALLINT",
           "UINTEGER", "UBIGINT", "FLOAT", "DOUBLE", "DECIMAL")
TEMPORAL = ("DATE", "TIMESTAMP")


def _column_expr(name, dtype):
    q = '"' + name.replace('"', '""') + '"'
    if dtype.startswith(NUMERIC):
        return f"SUM(CAST({q} AS DOUBLE))", "num"
    if dtype.startswith(TEMPORAL):
        return f"SUM(CAST(epoch_us(CAST({q} AS TIMESTAMP)) AS DOUBLE))", "num"
    if dtype == "BOOLEAN":
        return f"SUM(CAST({q} AS INTEGER))", "num"
    return f"SUM(CAST(hash(CAST({q} AS VARCHAR)) AS HUGEINT))", "hash"


def checksum(con, relation):
    """Checksum of a DuckDB relation: (rows, {column: (kind, value)})."""
    cols = list(zip(relation.columns, [str(t) for t in relation.types]))
    con.register("_ck", relation.arrow())
    try:
        exprs = [_column_expr(n, t) for n, t in cols]
        sql = "SELECT COUNT(*)" + "".join(f", {e}" for e, _ in exprs) + " FROM _ck"
        row = con.execute(sql).fetchone()
    finally:
        con.unregister("_ck")
    return row[0], {n.lower(): (k, row[i + 1]) for i, ((n, _), (_, k)) in enumerate(zip(cols, exprs))}


def checksum_arrow(con, table):
    return checksum(con, con.from_arrow(table))


def same(a, b):
    """Whether two checksums describe the same result."""
    if a[0] != b[0] or set(a[1]) != set(b[1]):
        return False
    for name, (kind, va) in a[1].items():
        kb, vb = b[1][name]
        if kind != kb:
            return False
        if va is None or vb is None:
            if va != vb:
                return False
        elif kind == "num":
            if not math.isclose(float(va), float(vb), rel_tol=1e-9, abs_tol=1e-6):
                return False
        elif va != vb:
            return False
    return True


def tail_percentile(n):
    """The highest of the usual tail percentiles that has at least ten
    samples beyond it; 50 when there are fewer than twenty samples."""
    best = 50.0
    for p in (50.0, 75.0, 90.0, 95.0, 99.0, 99.9):
        if round(n * (100.0 - p) / 100.0, 6) >= 10:
            best = p
    return best


def percentile(values, p):
    """Linear-interpolated percentile of `values` (p in 0..100)."""
    xs = sorted(values)
    if not xs:
        return float("nan")
    k = (len(xs) - 1) * p / 100.0
    lo = math.floor(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def median(values):
    return percentile(values, 50.0)


def self_times(spans):
    """Self time (ns) of each span: its duration minus the part of it that
    its children cover. Children may overlap each other; the covered part
    is the union of their intervals, clipped to the parent."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        lo, hi = s["start_ns"], s["end_ns"]
        ivs = sorted((max(c["start_ns"], lo), min(c["end_ns"], hi))
                     for c in children.get(s["id"], []))
        covered, cur_lo, cur_hi = 0, None, None
        for a, b in ivs:
            if b <= a:
                continue
            if cur_hi is None or a > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = a, b
            else:
                cur_hi = max(cur_hi, b)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["id"]] = (hi - lo) - covered
    return out


def connect(data_dir, tables, threads=2):
    con = duckdb.connect()
    con.execute(f"SET threads TO {threads}")
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    return con
