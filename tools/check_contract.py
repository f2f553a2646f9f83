"""The repository's correctness gate: run every
``__spark_entry__.queries()`` entry at the given SF and compare against
``oracle_sql()`` via DuckDB — row count, schema (column names sorted),
and order-insensitive values.  Tier-1 runs it over every key at sf0.01
(``tests/test_entry_contract.py::test_full_contract_matches_duckdb``).

Usage: python tools/check_contract.py [sf_dir] [key ...]

Prints one ``ok``/``FAIL`` line per key, then ``ALL OK`` (exit 0) or
``<n> FAILURES`` (exit 1).
"""

from __future__ import annotations

import datetime as _dt
import os
import sys
import time

import duckdb
import numpy as np
import pandas as pd

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
FAILURES = os.path.join(REPO, ".scratch", "failures")

sys.path.insert(0, REPO)

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def duck_con(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    """Mirror the DRIVER's canonicalization: numeric widening, then a
    raw ``sort_values`` over every column.  Crucially, object columns
    are NOT str-cast first — the driver sorts the raw cells, so an
    unhashable cell (numpy array from an ArrayType column) raises
    TypeError here exactly as it does driver-side (r5's embedding_pca
    ERR was masked by a str-cast at this spot)."""
    df = df.reindex(sorted(df.columns), axis=1).copy()
    for c in df.columns:
        k = df[c].dtype.kind
        if k in "iu":
            df[c] = df[c].astype("int64")
        elif k == "f":
            df[c] = df[c].astype("float64")
        elif k == "M":
            df[c] = df[c].astype("datetime64[us]")
        elif k == "O":
            # Spark DATE comes back as object cells (datetime.date)
            # while DuckDB DATE lands as datetime64[us]; the DRIVER
            # hashes these EQUAL (query_sql_tpch_q3 — identical
            # `CAST(o_orderdate AS DATE)` text — was hash-green in
            # r11), so the local gate must not red the representation
            # gap.  Coerce only when EVERY non-null cell is a
            # date/datetime (a sampled check would let a mixed
            # date/string column coerce and mask exactly the
            # divergence the gate reds on — r12 review); string dates
            # stay object and still trip the dtype-kind check below.
            # A cell outside datetime64 range (date(9999,12,31)
            # sentinel) keeps the column object rather than crashing
            # the whole run: kind-mismatch is loud, a traceback that
            # skips every remaining key is not.
            sample = df[c].dropna()
            if len(sample) and all(
                    isinstance(v, (_dt.date, _dt.datetime))
                    for v in sample):
                try:
                    df[c] = pd.to_datetime(df[c]).astype("datetime64[us]")
                except (ValueError, OverflowError):
                    pass
    df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)
    return df


def compare(key: str, spark_df: pd.DataFrame, duck_df: pd.DataFrame) -> list[str]:
    problems = []
    if len(spark_df) != len(duck_df):
        problems.append(f"rowcount spark={len(spark_df)} duck={len(duck_df)}")
    s_cols, d_cols = sorted(spark_df.columns), sorted(duck_df.columns)
    if s_cols != d_cols:
        problems.append(f"columns spark={s_cols} duck={d_cols}")
        return problems
    try:
        s, d = normalize(spark_df), normalize(duck_df)
    except Exception as exc:
        # any canonicalization crash (unhashable cells -> TypeError,
        # datetime parse -> ValueError/OutOfBoundsDatetime, ...) must
        # FAIL this one key, never abort the multi-minute run (r12
        # review)
        problems.append(
            f"driver canon would crash: {type(exc).__name__}: {exc}")
        return problems
    # dtype-kind parity (r10 VERDICT #2): the driver's value hash is
    # dtype-sensitive (int 3 != float 3.0) while pandas `==` is not —
    # ops_compaction_plan burned THREE driver rounds on an uncast
    # DuckDB HUGEINT window sum (-> float64) that this gate waved
    # through.  After normalize() the kinds are already widened
    # (i/u -> int64, f -> float64), so any surviving kind mismatch is
    # exactly the class the driver hash reds on.
    for c in s.columns:
        sk, dk = s[c].dtype.kind, d[c].dtype.kind
        if sk != dk:
            problems.append(
                f"dtype kind differs in '{c}': spark={spark_df[c].dtype}"
                f" duck={duck_df[c].dtype} — driver hash is "
                f"dtype-sensitive (uncast HUGEINT/DOUBLE in the oracle?)")
    if len(s) == len(d):
        for c in s.columns:
            if s[c].dtype.kind == "f":
                bad = ~(np.isclose(s[c], d[c], rtol=0, atol=1e-9)
                        | (s[c].isna() & d[c].isna()))
            else:
                bad = ~((s[c] == d[c]) | (s[c].isna() & d[c].isna()))
            if bad.any():
                i = bad.idxmax()
                problems.append(
                    f"values differ in '{c}' ({int(bad.sum())} rows), e.g. "
                    f"row {i}: spark={s[c][i]!r} duck={d[c][i]!r}")
    return problems


def sweep_writer_debris(scratch: str) -> tuple[int, list[str]]:
    """Writer-debris canary: after the full-key pass, sweep the run's
    own scratch outputs for crash debris — committer staging dirs
    (``_temporary``) and ``write_partitioned`` staging dirs
    (``.graft-staging-*``) anywhere, plus unreferenced batch dirs inside
    versioned tables (the commit-log contract comes from
    ``operators/versioned.py`` itself: a hand-rolled copy would
    silently flag every healthy batch if the log schema changed; the
    ``ops_orphan_files`` table is skipped because it plants two
    orphans by design).  Local directory listings only, no Spark job."""
    from dynamic_partitioner_spark.operators.partitioned_write import (
        STAGING_PREFIX)
    from dynamic_partitioner_spark.operators.versioned import (
        is_batch_shaped, unreferenced_dirs)
    debris: list[str] = []
    errors: list[str] = []
    if not os.path.isdir(scratch):
        return 0, debris
    for root, dirs, _files in os.walk(scratch):
        for d in list(dirs):
            if d == "_temporary" or d.startswith(STAGING_PREFIX):
                debris.append(os.path.relpath(os.path.join(root, d),
                                              scratch))
                dirs.remove(d)
    for table in sorted(os.listdir(scratch)):
        tdir = os.path.join(scratch, table)
        if table == "ops_orphan_files" \
                or not os.path.isdir(os.path.join(tdir, "_log")):
            continue
        try:
            debris.extend(f"{table}/{name}"
                          for name in unreferenced_dirs(tdir)
                          if is_batch_shaped(name))
        except Exception as exc:
            # the sweep's premise is post-crash state of unknown
            # shape: an unreadable/corrupt commit file must not
            # discard the results of the multi-minute query pass —
            # surface it as a visible marker instead of raising
            errors.append(f"{table}/_log!{type(exc).__name__}")
    # markers ride along in the dirs list for diagnosis but do NOT
    # count as debris — a transient sweep error must not flip the
    # canary to "crash debris implicated"
    return len(debris), (debris + errors)[:20]


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as E
    from dynamic_partitioner_spark import get_spark
    from dynamic_partitioner_spark.session import _sweep_stale_dirs

    # failure dumps below live in per-pid dirs so concurrent runs can't
    # clobber each other's evidence; dead runs' dumps would otherwise
    # accumulate unboundedly (ADVICE r8) — sweep them like every other
    # run-* dir (a dump survives until the NEXT contract run, which is
    # the window it gets inspected in)
    _sweep_stale_dirs(FAILURES)

    qs, oracles = E.queries(), E.oracle_sql()
    unknown = sorted(k for k in only if k not in qs)
    if unknown:
        # a typo'd key previously ran ZERO queries and printed
        # 'ALL OK' with exit 0 — a gate run certifying nothing while
        # reading green (r15 review; scale_sweep's sf runs already
        # guard this class)
        print(f"unknown key(s): {unknown} — not in queries()")
        return 2

    spark = get_spark("check-contract")
    con = duck_con(sf_dir)

    n_fail = 0
    for key, fn in qs.items():
        if only and key not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as exc:
            print(f"FAIL {key}: spark raised {type(exc).__name__}: {exc}")
            n_fail += 1
            continue
        if key not in oracles:
            # the driver canonicalizes rows-only outputs too (r5's
            # embedding_pca ERR was a rows-only key) — so must we
            try:
                normalize(sdf)
            except (TypeError, ValueError) as exc:
                # ValueError too: numpy-array cells (an ArrayType
                # column — the r5 embedding_pca class this guard
                # exists for) raise ValueError from sort_values, not
                # TypeError, and aborted the whole run (r15 review)
                print(f"FAIL {key}: driver canon would crash: {exc}")
                n_fail += 1
                continue
            print(f"ok   {key}: rows-only, {len(sdf)} rows "
                  f"({time.time() - t0:.1f}s)")
            continue
        try:
            ddf = con.sql(oracles[key]).df()
        except Exception as exc:
            print(f"FAIL {key}: duckdb raised {type(exc).__name__}: {exc}")
            n_fail += 1
            continue
        problems = compare(key, sdf, ddf)
        if problems:
            n_fail += 1
            print(f"FAIL {key} ({time.time() - t0:.1f}s)")
            for p in problems:
                print(f"     {p}")
            # dump both frames — transient failures (contention flakes)
            # are undiagnosable without the exact frame that mismatched.
            # Per-pid dir: a contention flake implies a CONCURRENT run,
            # which may fail on the same key and clobber this evidence
            dump = f"{FAILURES}/run-{os.getpid()}"
            os.makedirs(dump, exist_ok=True)
            try:
                sdf.to_parquet(f"{dump}/{key}.spark.parquet")
                ddf.to_parquet(f"{dump}/{key}.duck.parquet")
                print(f"     frames dumped to {dump}/{key}.*.parquet")
            except Exception as exc:  # arrays etc. — best effort
                print(f"     (dump failed: {exc})")
        else:
            print(f"ok   {key}: {len(sdf)} rows match ({time.time() - t0:.1f}s)")
    seen, dirs = sweep_writer_debris(E.SCRATCH)
    print(f"# orphan_dirs_seen={seen}" + (f" {dirs}" if dirs else ""))
    print(f"\n{'ALL OK' if n_fail == 0 else f'{n_fail} FAILURES'}")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
