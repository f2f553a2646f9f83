"""Negative tests for the contract gate itself:
the dtype-kind check and the HUGEINT sweep currently prove the FIXED
state; these fixtures prove the gate still REDS the broken state, so a
future loosening of either gate fails loudly.  The writer-debris sweep
the gate runs after its key pass must count exactly the crash-debris
class and nothing else."""
from __future__ import annotations

import datetime as dt
import json
import os
import sys

import numpy as np
import pandas as pd

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "tools"))

import check_contract as CC  # noqa: E402


def test_compare_reds_uncast_hugeint_float_vs_int():
    """The exact ops_compaction_plan signature: DuckDB sum(BIGINT) ->
    HUGEINT -> float64 while Spark emits int64.  Values are EQUAL, so
    only the dtype-kind gate can catch it — it must."""
    spark_df = pd.DataFrame({"pk": ["a", "b"],
                             "total": np.array([3, 7], dtype="int64")})
    duck_df = pd.DataFrame({"pk": ["a", "b"],
                            "total": np.array([3.0, 7.0],
                                              dtype="float64")})
    problems = CC.compare("fixture", spark_df, duck_df)
    assert any("dtype kind differs in 'total'" in p for p in problems), \
        problems


def test_compare_accepts_date_object_vs_datetime64():
    """Spark DATE -> object cells of datetime.date, DuckDB DATE ->
    datetime64[us]; the DRIVER hashes these equal (query_sql_tpch_q3
    was hash-green in r11 with identical CAST(... AS DATE) text), so
    the local gate must not red the representation gap."""
    spark_df = pd.DataFrame(
        {"d": pd.Series([dt.date(1995, 1, 2), dt.date(1996, 3, 4)],
                        dtype="object"),
         "n": np.array([1, 2], dtype="int64")})
    duck_df = pd.DataFrame(
        {"d": pd.to_datetime(["1995-01-02", "1996-03-04"]
                             ).astype("datetime64[us]"),
         "n": np.array([1, 2], dtype="int64")})
    assert CC.compare("fixture", spark_df, duck_df) == []


def test_compare_still_reds_string_dates_vs_datetime64():
    """The date coercion must stay narrow: a side that returns date
    STRINGS is a real representation divergence and keeps failing."""
    spark_df = pd.DataFrame({"d": ["1995-01-02", "1996-03-04"]})
    duck_df = pd.DataFrame(
        {"d": pd.to_datetime(["1995-01-02", "1996-03-04"]
                             ).astype("datetime64[us]")})
    problems = CC.compare("fixture", spark_df, duck_df)
    assert any("dtype kind differs in 'd'" in p for p in problems), \
        problems


def test_compare_reds_equal_looking_datetimes_with_different_values():
    """Coercing both sides to datetime64[us] must not mask a genuine
    value difference (date vs the NEXT day's date)."""
    spark_df = pd.DataFrame(
        {"d": pd.Series([dt.date(1995, 1, 2)], dtype="object")})
    duck_df = pd.DataFrame(
        {"d": pd.to_datetime(["1995-01-03"]).astype("datetime64[us]")})
    problems = CC.compare("fixture", spark_df, duck_df)
    assert any("values differ in 'd'" in p for p in problems), problems


def test_hugeint_sweep_reds_uncast_sum_fixture():
    """The test_no_hugeint_oracle_columns sweep proves today's oracles
    are cast; this fixture proves the DETECTION still works — an
    uncast sum(BIGINT) must bind to HUGEINT in DuckDB."""
    import duckdb

    con = duckdb.connect()
    con.execute("CREATE VIEW t AS SELECT CAST(1 AS BIGINT) AS x")
    rel = con.sql("SELECT sum(x) AS s FROM t")
    assert any("HUGEINT" in str(ty).upper() for ty in rel.types), (
        "DuckDB no longer widens sum(BIGINT) to HUGEINT — the "
        "HUGEINT sweep's premise changed; re-validate the oracle "
        "cast policy")


def test_normalize_array_cells_raise_value_error_class():
    """r15 review pin: numpy-array cells (an ArrayType column — the
    r5 embedding_pca class) raise ValueError from sort_values, not
    TypeError; the rows-only canonicalization guard must catch BOTH
    or one bad key aborts the whole multi-key run."""
    import pytest as _pytest
    df = pd.DataFrame({"a": [np.array([1.0, 2.0]),
                             np.array([0.5, 1.5])]})
    with _pytest.raises((TypeError, ValueError)):
        CC.normalize(df)
    # and the documented catch covers exactly that class
    import inspect as _inspect
    src = _inspect.getsource(CC.main)
    assert "(TypeError, ValueError)" in src


def _mk(p):
    os.makedirs(p, exist_ok=True)


def test_sweep_clean_scratch_is_zero(tmp_path):
    d = str(tmp_path)
    _mk(f"{d}/tbl/pk=A")
    open(f"{d}/tbl/pk=A/part-0.parquet", "w").close()
    # versioned table whose every batch is referenced
    _mk(f"{d}/vt/_log")
    _mk(f"{d}/vt/batch-00000001")
    json.dump({"version": 1, "mode": "append",
               "dirs": ["batch-00000001"]},
              open(f"{d}/vt/_log/00000001.json", "w"))
    assert CC.sweep_writer_debris(d) == (0, [])


def test_sweep_flags_temporary_and_unreferenced_batches(tmp_path):
    d = str(tmp_path)
    _mk(f"{d}/tbl/_temporary/0")          # committer staging debris
    _mk(f"{d}/pt/.graft-staging-0123abcd/k=a")   # a crashed write
    _mk(f"{d}/vt/_log")
    _mk(f"{d}/vt/batch-00000001")          # referenced
    _mk(f"{d}/vt/batch-00000002")          # crash debris: no commit
    json.dump({"version": 1, "mode": "append",
               "dirs": ["batch-00000001"]},
              open(f"{d}/vt/_log/00000001.json", "w"))
    n, dirs = CC.sweep_writer_debris(d)
    assert n == 3
    assert set(dirs) == {"tbl/_temporary", "pt/.graft-staging-0123abcd",
                         "vt/batch-00000002"}


def test_sweep_skips_intentional_orphan_plants(tmp_path):
    """ops_orphan_files plants two orphans BY DESIGN — counting them
    would make every healthy contract run read nonzero."""
    d = str(tmp_path)
    _mk(f"{d}/ops_orphan_files/_log")
    _mk(f"{d}/ops_orphan_files/batch-00000099")
    _mk(f"{d}/ops_orphan_files/stray-export")
    assert CC.sweep_writer_debris(d) == (0, [])


def test_sweep_missing_scratch_is_zero(tmp_path):
    assert CC.sweep_writer_debris(str(tmp_path / "nope")) == (0, [])
