"""Structural guards on the driver contract (__spark_entry__)."""
from __future__ import annotations

import importlib.util
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _entry():
    spec = importlib.util.spec_from_file_location(
        "entry_mod", os.path.join(REPO, "__spark_entry__.py"))
    m = importlib.util.module_from_spec(spec)
    sys.modules["entry_mod"] = m
    spec.loader.exec_module(m)
    return m


def test_every_oracle_has_a_query():
    m = _entry()
    q, o = m.queries(), m.oracle_sql()
    assert set(o) <= set(q), sorted(set(o) - set(q))
    # r9 flipped the last rows-only key (text_bpe_learn) to hash-pass
    # via learn_bpe_certified: exact first-merge columns recomputed by
    # the SQL twin + hard combinatorial invariants on the iterative
    # tail — every key now has an oracle
    rows_only = set(q) - set(o)
    assert rows_only == set(), sorted(rows_only)
    assert len(q) >= 124


def test_full_contract_matches_duckdb():
    """Every ``queries()`` key at sf0.01 returns the same row count,
    schema and values as its DuckDB ``oracle_sql()`` twin.  Runs the
    ``tools/check_contract.py`` CLI (its default corpus is sf0.01) in
    its own process, so runtime confs left behind by other tests
    cannot leak into the check.  The run also leaves no writer debris
    (committer or ``write_partitioned`` staging directories) behind."""
    import subprocess

    r = subprocess.run(
        [sys.executable, os.path.join(REPO, "tools", "check_contract.py")],
        capture_output=True, text=True)
    lines = r.stdout.splitlines()
    not_ok = [ln for ln in lines if ln.strip() and not ln.startswith("ok ")]
    assert r.returncode == 0 and lines and lines[-1] == "ALL OK", (
        f"check_contract.py exited {r.returncode}:\n" + "\n".join(not_ok)
        + "\n--- stderr tail ---\n" + r.stderr[-2000:])
    assert "# orphan_dirs_seen=0" in lines, "\n".join(not_ok)


def test_oracle_sql_is_syntactically_valid_duckdb():
    """Every oracle parses in DuckDB against empty views — catches
    typos before the driver does.  (EXPLAIN, not execution.)"""
    import duckdb

    m = _entry()
    con = duckdb.connect()
    for t in ("region", "nation", "customer", "supplier", "part",
              "orders", "lineitem", "events", "documents", "embeddings"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('/root/testdata/sf0.001/{t}.parquet')")
    for key, sql in m.oracle_sql().items():
        try:
            con.execute("EXPLAIN " + sql)
        except Exception as e:          # pragma: no cover
            raise AssertionError(f"oracle {key} failed to parse: {e}")


def test_every_query_output_schema_is_atomic(spark):
    """The driver canonicalizes every key's output (rows-only keys
    included) with a pandas sort over raw cells — an ArrayType /
    MapType / StructType top-level column arrives as an unhashable
    numpy array and crashes it (r5's embedding_pca ERR).  Guard: every
    ``queries()`` entry must build a DataFrame whose top-level columns
    are all atomic.  Schema-only — the plan is built, not executed —
    so even the eager-write keys only pay their write cost at sf0.001.
    """
    from pyspark.sql import types as T

    m = _entry()
    sf_dir = "/root/testdata/sf0.001"
    bad = {}
    for key, fn in m.queries().items():
        df = fn(spark, sf_dir)
        nonatomic = [f"{f.name}:{f.dataType.simpleString()}"
                     for f in df.schema.fields
                     if isinstance(f.dataType,
                                   (T.ArrayType, T.MapType, T.StructType))]
        if nonatomic:
            bad[key] = nonatomic
    assert not bad, bad


def test_entry_smoke(spark):
    """The driver's t1 gate: entry(spark) runs and returns rows with a
    stable schema."""
    m = _entry()
    out = m.entry(spark)
    assert out.count() > 0
    assert len(out.schema.fields) > 0


def test_tool_key_lists_are_unique_and_resolve():
    """The audit/sweep key lists must be duplicate-free (an ADVICE-r4
    regression class) and every entry must be a real driver key."""
    import re

    m = _entry()
    valid = set(m.queries())
    for path in (os.path.join(REPO, "tools/audit_plans.py"),
                 os.path.join(REPO, "tools/scale_sweep.py")):
        src = open(path).read()
        block = re.search(r"(?:AUDIT_KEYS|SWEEP_KEYS) = \[(.*?)\]",
                          src, re.S).group(1)
        keys = re.findall(r'"([^"]+)"', block)
        dupes = {k for k in keys if keys.count(k) > 1}
        assert not dupes, (path, dupes)
        unknown = set(keys) - valid
        assert not unknown, (path, unknown)


def test_cdc_change_seq_unique_per_key(spark):
    """The CDC keys' latest-wins semantics require (l_orderkey, seq)
    to be duplicate-free — a tie makes the winner nondeterministic in
    BOTH engines.  Slot packing can silently collide when a larger
    corpus outgrows a slot (ADVICE r8: partkey outgrew its old 1e6
    slot at sf>=5), so assert uniqueness loudly on the shipped test
    corpora; a future corpus that collides fails here, not as a
    driver hash flake."""
    import __spark_entry__ as m
    from pyspark.sql import functions as F
    for sf_dir in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        seq = m.cdc_change_seq()
        dupes = (li.select("l_orderkey", seq)
                 .groupBy("l_orderkey", "seq").count()
                 .where(F.col("count") > 1).count())
        assert dupes == 0, f"{sf_dir}: {dupes} duplicate (key, seq) pairs"


def test_rake_oracle_stopword_alternation_in_sync():
    """The text_rake oracle hardcodes the stopword alternation; an
    edit to functions.text._STOPWORDS would silently desynchronize the
    two engines until the driver hash flipped red with no hint why
    (ADVICE r8).  Pin the literal to the exact pattern rake_keywords
    generates (longest-first order + re.escape)."""
    import re

    import __spark_entry__ as m
    from dynamic_partitioner_spark.functions.text import _STOPWORDS

    ordered = sorted(_STOPWORDS, key=lambda w: (-len(w), w))
    want = r"\b(" + "|".join(re.escape(w) for w in ordered) + r")\b"
    assert want in m.oracle_sql()["text_rake"], (
        "text_rake oracle stopword alternation desynchronized from "
        f"functions.text._STOPWORDS — regenerate as {want!r}")


def test_no_hugeint_oracle_columns():
    """No oracle may return HUGEINT/UHUGEINT columns (r10 VERDICT #2):
    DuckDB's ``sum(BIGINT)`` widens to HUGEINT, which ``.df()``
    converts to float64 while Spark emits int64 — the driver's
    dtype-sensitive hash then reads red with rows+schema green (the
    exact three-round ops_compaction_plan signature).  Binding is
    enough to learn the result types; nothing executes."""
    import duckdb

    m = _entry()
    con = duckdb.connect()
    for t in ("region", "nation", "customer", "supplier", "part",
              "orders", "lineitem", "events", "documents", "embeddings"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('/root/testdata/sf0.001/{t}.parquet')")
    offenders = []
    for key, sql in m.oracle_sql().items():
        rel = con.sql(sql)
        hug = [(c, str(ty)) for c, ty in zip(rel.columns, rel.types)
               if "HUGEINT" in str(ty).upper()]
        if hug:
            offenders.append((key, hug))
    assert offenders == [], (
        f"uncast HUGEINT oracle columns (wrap the sum/product in "
        f"CAST(... AS BIGINT)): {offenders}")


def test_certify_booleans_raises_on_null_and_false(spark):
    """The ops_* loud-certification helper: a FALSE invariant raises,
    and so does a NULL one — the missing-partition-key case (audits
    are built with source counts as the LEFT side, so a pk that
    vanished from the physical write shows up as nulls, which must be
    as loud as an explicit violation)."""
    import pytest

    m = _entry()

    ok = spark.createDataFrame([("A", True), ("B", True)],
                               "pk string, inv boolean")
    m._certify_booleans("k", ok, ["inv"])  # no raise

    bad = spark.createDataFrame([("A", True), ("B", False)],
                                "pk string, inv boolean")
    with pytest.raises(RuntimeError, match="B: inv=False"):
        m._certify_booleans("k", bad, ["inv"])

    null = spark.createDataFrame([("A", True), ("C", None)],
                                 "pk string, inv boolean")
    obs = spark.createDataFrame([("A", "f1", 3)],
                                "pk string, f string, n long")
    with pytest.raises(RuntimeError) as ei:
        m._certify_booleans("k", null, ["inv"], obs)
    assert "C: inv=None" in str(ei.value)
    assert "('A', 'f1', 3)" in str(ei.value)  # diagnostic decomposition
