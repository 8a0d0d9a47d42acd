"""Output checks. Every reference is computed without the code under test:
DuckDB over the generated parquet (through the engine's oracle SQL
builders for the carry view).

Both sides are compared as multisets in DuckDB (EXCEPT ALL each way), with
doubles rounded to 1e-6 so the comparison is exact for cent-valued money.
"""

from __future__ import annotations


def connect():
    import tempfile

    import duckdb

    from .common import host_cpus

    return duckdb.connect(config={"threads": host_cpus(),
                                  "temp_directory": tempfile.gettempdir()})


def _proj(rel: str, columns, float_cols) -> str:
    cols = ", ".join(
        f"round(CAST({c} AS DOUBLE), 6) AS {c}" if c in float_cols else c
        for c in columns
    )
    return f"SELECT {cols} FROM {rel}"


def diff_rows(con, expected: str, actual: str, columns, float_cols=()) -> int:
    """Rows present in one side's multiset and not the other's. ``expected``
    and ``actual`` are relations (view names or parenthesised queries)."""
    e = _proj(expected, columns, float_cols)
    a = _proj(actual, columns, float_cols)
    q = f"SELECT (SELECT count(*) FROM ({e} EXCEPT ALL {a})) + (SELECT count(*) FROM ({a} EXCEPT ALL {e}))"
    return int(con.execute(q).fetchone()[0])


def register_frame(con, name: str, frame) -> str:
    """Register a pandas frame (or a Spark DataFrame, pulled via Arrow)."""
    if hasattr(frame, "toPandas"):
        frame = frame.toPandas()
    con.register(name, frame)
    return name


def check_frames(expected, actual, float_cols=()) -> int:
    """Multiset difference of two frames over the expected frame's columns;
    a column set mismatch counts every expected row as wrong."""
    con = connect()
    try:
        register_frame(con, "exp", expected)
        register_frame(con, "act", actual)
        e_cols = [d[0] for d in con.execute("SELECT * FROM exp LIMIT 0").description]
        a_cols = [d[0] for d in con.execute("SELECT * FROM act LIMIT 0").description]
        if sorted(e_cols) != sorted(a_cols):
            return max(1, int(con.execute("SELECT count(*) FROM exp").fetchone()[0]))
        return diff_rows(con, "exp", "act", e_cols, float_cols)
    finally:
        con.close()


# -- per-workload references ------------------------------------------------------


def snapshot_expected_sql(src_dir: str, min_qty: float) -> dict:
    """sink table -> DuckDB query over the source parquet, mirroring the
    snapshot pipeline's transform + route."""
    p = lambda t: f"read_parquet('{src_dir}/{t}.parquet')"  # noqa: E731
    return {
        "replica.customer": (
            f"SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment FROM {p('customer')}",
            ["c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"],
        ),
        "replica.orders": (
            "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, "
            "UPPER(o_orderpriority) AS priority "
            f"FROM {p('orders')} WHERE o_orderstatus <> 'P'",
            ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate", "priority"],
        ),
        "replica.lineitem": (
            "SELECT l_orderkey, l_linenumber, l_partkey, l_quantity, "
            "l_extendedprice * (1 - l_discount) AS net_price, "
            "l_extendedprice * (1 - l_discount) * (1 + l_tax) AS charge, "
            "l_returnflag, l_shipdate "
            f"FROM {p('lineitem')} WHERE l_quantity > {min_qty}",
            ["l_orderkey", "l_linenumber", "l_partkey", "l_quantity", "net_price",
             "charge", "l_returnflag", "l_shipdate"],
        ),
    }


def check_snapshot_sink(con, src_dir: str, sink_root: str, min_qty: float) -> int:
    """Wrong or missing rows over all sink tables."""
    import os

    bad = 0
    for table, (sql, cols) in snapshot_expected_sql(src_dir, min_qty).items():
        out = os.path.join(sink_root, table)
        if not os.path.isdir(out):
            bad += int(con.execute(f"SELECT count(*) FROM ({sql})").fetchone()[0]) or 1
            continue
        floats = {c for c in cols if c in (
            "c_acctbal", "o_totalprice", "l_quantity", "net_price", "charge")}
        bad += diff_rows(con, f"({sql})", f"read_parquet('{out}/*.parquet')", cols, floats)
    return bad
