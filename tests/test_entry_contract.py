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


def test_every_oracle_has_a_query_and_priorities_resolve():
    import re

    m = _entry()
    q, o = m.queries(), m.oracle_sql()
    assert set(o) <= set(q), sorted(set(o) - set(q))
    # resolve the rotation list by pattern (the same resolution
    # check_freshness uses) so this test never needs a rename edit
    pri_names = sorted((n for n in dir(m)
                        if re.fullmatch(r"_PRIORITY_R\d+", n)),
                       key=lambda n: int(n.rsplit("R", 1)[1]))
    assert pri_names, "no _PRIORITY_R<n> rotation list defined"
    pri = getattr(m, pri_names[-1])
    assert set(pri) <= set(q), sorted(set(pri) - set(q))
    assert len(set(pri)) == len(pri), \
        "duplicate keys in priority rotation"
    # r9 flipped the last rows-only key (text_bpe_learn) to hash-pass
    # via learn_bpe_certified: exact first-merge columns recomputed by
    # the SQL twin + hard combinatorial invariants on the iterative
    # tail — every key now has an oracle
    rows_only = set(q) - set(o)
    assert rows_only == set(), sorted(rows_only)
    # priority rotation covers every NEW key first (never hash-checked)
    assert len(q) >= 124


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


def test_freshness_budget_holds():
    """Every key with stale driver evidence (never green, text newer
    than its last green row, or older than the 5-round budget) must
    sit inside the upcoming fold — stale-and-unscheduled keys were
    r8's only real findings (tools/check_freshness.py)."""
    import subprocess
    import sys as _sys
    r = subprocess.run(
        [_sys.executable, os.path.join(REPO, "tools/check_freshness.py")],
        capture_output=True, text=True)
    assert r.returncode == 0, r.stdout + r.stderr


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


def test_freshness_slack_and_never_green_semantics():
    """Pin the r11 gate redesign (r10 VERDICT #3 + #7) on synthetic
    evidence: one round of age-overage during the boundary window
    (fold round == current - 1) WARNS; two+ rounds, text-newer, and
    never-green keys FAIL regardless of slack — a never-green key
    auto-joins every fold until green."""
    sys.path.insert(0, os.path.join(REPO, "tools"))
    import check_freshness as CF

    fps = {k: "f" for k in
           ("age1", "age2", "textnew", "nevergreen", "infold")}
    manifest = {
        "age1": {"fp": "f", "text_round": 1},
        "age2": {"fp": "f", "text_round": 1},
        "textnew": {"fp": "OLD", "text_round": 1},   # fp mismatch
        "nevergreen": {"fp": "f", "text_round": 1},
        "infold": {"fp": "f", "text_round": 1},
    }
    # current=12, budget 5: age1 green r6 (over by 1), age2 green r5
    # (over by 2), textnew green r11 but text changed now, infold
    # never green but scheduled
    green = {"age1": 6, "age2": 5, "textnew": 11}
    fold = {"infold"}

    # boundary window: fold r11, current 12
    changed, stale, problems, warnings = CF.evaluate(
        12, green, fps, manifest, fold, fold_round=11)
    assert changed == ["textnew"]
    assert stale == {"age1", "age2", "textnew", "nevergreen", "infold"}
    assert [w.split(":")[0] for w in warnings] == ["age1"]
    assert sorted(p.split(":")[0] for p in problems) == \
        ["age2", "nevergreen", "textnew"]

    # fold for the current round shipped: no slack, age1 fails too
    _, _, problems2, warnings2 = CF.evaluate(
        12, green, fps, manifest, fold, fold_round=12)
    assert warnings2 == []
    assert sorted(p.split(":")[0] for p in problems2) == \
        ["age1", "age2", "nevergreen", "textnew"]


def test_freshness_flags_red_regression_after_old_green():
    """r15 review pin: a key green in an old round but RED in a newer
    one (a regression) is stale with no slack — previously the
    latest-any-round map was discarded and the regressed key passed
    the gate as fresh for up to two more rounds."""
    sys.path.insert(0, os.path.join(REPO, "tools"))
    import check_freshness as CF

    fps = {"regressed": "f", "fine": "f"}
    manifest = {"regressed": {"fp": "f", "text_round": 1},
                "fine": {"fp": "f", "text_round": 1}}
    green = {"regressed": 12, "fine": 14}
    seen = {"regressed": 14, "fine": 14}   # red row in r14
    _, stale, problems, warnings = CF.evaluate(
        15, green, fps, manifest, fold=set(), fold_round=15, seen=seen)
    assert "regressed" in stale and "fine" not in stale
    assert [p.split(":")[0] for p in problems] == ["regressed"]
    assert "is red" in problems[0] and warnings == []
