"""Tests of the benchmark's own helpers (no Spark needed):

    python3 -m pytest cdcbench -q -p no:cacheprovider
"""

from __future__ import annotations

import os

import pandas as pd
import pytest

from cdcbench import checks, common, gen


# -- statistics ----------------------------------------------------------------------


def test_median_even_and_odd():
    assert common.median([3, 1, 2]) == 2
    assert common.median([4, 1, 2, 3]) == 2.5


# -- generator determinism ------------------------------------------------------------


def test_tpch_like_is_deterministic_per_seed():
    a = gen.tpch_like(5, 50, 200, 2)
    b = gen.tpch_like(5, 50, 200, 2)
    c = gen.tpch_like(6, 50, 200, 2)
    for t in a:
        assert a[t].equals(b[t])
    assert not a["orders"].equals(c["orders"])
    assert a["lineitem"].num_rows == 400


# -- output checkers reject a wrong row ------------------------------------------------


def _frame():
    return pd.DataFrame({"k": [1, 2, 3], "v": ["a", "b", "c"], "x": [1.25, 2.5, 3.75]})


def test_check_frames_accepts_equal_multisets_in_any_order():
    exp = _frame()
    assert checks.check_frames(exp, exp.iloc[::-1].reset_index(drop=True), float_cols={"x"}) == 0


@pytest.mark.parametrize("mutate", ["value", "extra", "missing", "duplicate", "column"])
def test_check_frames_rejects_an_injected_wrong_row(mutate):
    exp = _frame()
    act = exp.copy()
    if mutate == "value":
        act.loc[1, "x"] = 2.51
    elif mutate == "extra":
        act = pd.concat([act, pd.DataFrame({"k": [4], "v": ["d"], "x": [0.0]})])
    elif mutate == "missing":
        act = act.iloc[:2]
    elif mutate == "duplicate":
        act = pd.concat([act, act.iloc[:1]])
    else:
        act = act.rename(columns={"v": "w"})
    assert checks.check_frames(exp, act, float_cols={"x"}) > 0


def test_snapshot_checker_rejects_a_wrong_row(tmp_path):
    src = str(tmp_path / "src")
    gen.write_tables(gen.tpch_like(1, 30, 100, 2), src)
    sink = tmp_path / "sink"
    con = checks.connect()
    try:
        for table, (sql, _cols) in checks.snapshot_expected_sql(src, 10.0).items():
            os.makedirs(sink / table)
            con.execute(f"COPY ({sql}) TO '{sink / table / 'part-0.parquet'}' (FORMAT PARQUET)")
        assert checks.check_snapshot_sink(con, src, str(sink), 10.0) == 0
        bad = sink / "replica.orders" / "part-0.parquet"
        con.execute(f"COPY (SELECT * REPLACE (o_totalprice + 0.01 AS o_totalprice) "
                    f"FROM read_parquet('{bad}') LIMIT 1) TO '{sink / 'replica.orders' / 'part-1.parquet'}' "
                    "(FORMAT PARQUET)")
        assert checks.check_snapshot_sink(con, src, str(sink), 10.0) == 1
    finally:
        con.close()
