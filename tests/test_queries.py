"""Query-layer keys with behavior not covered by the SQL oracle."""

from __future__ import annotations

import os

import __spark_entry__ as E

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

SF = "/root/testdata/sf0.001"


def test_approx_distinct_error_bound(spark):
    """HLL estimate within 5% of exact per group (rsd=0.02 requested) —
    the numeric pin behind the driver key's approx_in_bound boolean."""
    from pyspark.sql import functions as F

    events = spark.read.parquet(f"{SF}/events.parquet")
    rows = (events.groupBy("event_type")
            .agg(F.approx_count_distinct("user_id", 0.02).alias("approx"),
                 F.countDistinct("user_id").alias("exact"))).collect()
    assert rows
    for r in rows:
        assert r.exact > 0
        assert abs(r.approx - r.exact) / r.exact < 0.05
    # and the driver key's booleans are all TRUE with exact counts
    drv = E.q_approx_distinct(spark, SF).collect()
    assert {r.event_type: r.exact_users for r in drv} == \
        {r.event_type: r.exact for r in rows}
    assert all(r.approx_in_bound for r in drv)


def test_pivot_matches_unpivoted_sums(spark):
    from pyspark.sql import functions as F
    piv = {r.l_returnflag: (r.qty_f, r.qty_o)
           for r in E.q_pivot(spark, SF).collect()}
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    flat = {(r.l_returnflag, r.l_linestatus): r.s
            for r in li.groupBy("l_returnflag", "l_linestatus")
            .agg(F.round(F.sum("l_quantity"), 2).alias("s")).collect()}
    for rf, (f_qty, o_qty) in piv.items():
        assert f_qty == flat.get((rf, "F"))
        assert o_qty == flat.get((rf, "O"))


def test_approx_percentiles_rank_error_bound(spark):
    """percentile_approx's guarantee is RANK-space: the returned value's
    true rank must lie within ~accuracy⁻¹ of the requested quantile
    (value-space gaps can be large in sparse tails, so that is the
    wrong thing to pin)."""
    import sys
    sys.path.insert(0, REPO)

    import __spark_entry__ as E

    from pyspark.sql import functions as F

    sf = "/root/testdata/sf0.001"
    events = spark.read.parquet(f"{sf}/events.parquet")
    approx = {r.event_type: r.ap for r in
              events.groupBy("event_type").agg(
                  F.percentile_approx("value", F.array(
                      F.lit(0.5), F.lit(0.95), F.lit(0.99)),
                      10_000).alias("ap")).collect()}
    by_type = {}
    for r in events.select("event_type", "value").collect():
        by_type.setdefault(r.event_type, []).append(r.value)
    assert approx.keys() == by_type.keys()
    for et, vals in by_type.items():
        vals.sort()
        n = len(vals)
        for q, a in zip((0.5, 0.95, 0.99), approx[et]):
            rank = sum(1 for v in vals if v <= a) / n
            assert abs(rank - q) <= 0.02 + 1.0 / n, (et, q, a, rank)
    # the driver key: exact nearest-rank values + all-TRUE booleans
    drv = E.q_approx_percentiles(spark, sf).collect()
    assert {r.event_type for r in drv} == by_type.keys()
    for r in drv:
        vals = sorted(by_type[r.event_type])
        n = len(vals)
        assert r.p50_exact == vals[(n + 1) // 2 - 1]
        assert r.p95_exact == vals[(19 * n + 19) // 20 - 1]
        assert r.p99_exact == vals[(99 * n + 99) // 100 - 1]
        assert r.approx_in_bound


def test_read_fixed_width_offsets_types_and_padding(spark, tmp_out):
    from dynamic_partitioner_spark.sources.read import read_fixed_width

    lines = ["1    alpha     42   ",
             "230  beta      7    "]
    df = spark.createDataFrame([(l,) for l in lines], "value string")
    df.coalesce(1).write.text(tmp_out)
    got = {(r.id, r.name, r.n) for r in read_fixed_width(
        spark, tmp_out,
        [("id", 1, 5, "long"), ("name", 6, 10, "string"),
         ("n", 16, 5, "long")]).collect()}
    assert got == {(1, "alpha", 42), (230, "beta", 7)}


def test_hll_mergeable_sketches_union_equals_direct(spark):
    """Merging stored per-day HLL sketches gives the SAME estimate as
    sketching the whole stream directly (mergeable-summary property),
    and estimates stay within HLL error of exact."""
    import importlib.util
    import sys

    spec = importlib.util.spec_from_file_location(
        "entry_mod_hll", os.path.join(REPO, "__spark_entry__.py"))
    m = importlib.util.module_from_spec(spec)
    sys.modules["entry_mod_hll"] = m
    spec.loader.exec_module(m)

    from pyspark.sql import functions as F

    rows = m.q_hll_mergeable(spark, "/root/testdata/sf0.01").collect()
    daily = [r for r in rows if r.day_idx >= 0]
    total = [r for r in rows if r.day_idx == -1]
    assert len(total) == 1 and daily
    # every estimate passed its 5% bound (HLL default rel err ~1.6%)
    assert all(r.est_in_bound for r in rows)

    # mergeable-summary property, re-derived numerically: union of
    # per-day sketches == sketching the whole stream directly
    events = spark.read.parquet("/root/testdata/sf0.01/events.parquet")
    from dynamic_partitioner_spark.functions.eventtime import event_time_us
    ev = events.select(event_time_us(events).alias("_us"), "user_id")
    day = ev.withColumn("day_idx", F.expr("_us div 86400000000"))
    merged = (day.groupBy("day_idx")
              .agg(F.expr("hll_sketch_agg(user_id)").alias("sk"))
              .agg(F.expr("hll_sketch_estimate(hll_union_agg(sk))")
                   .cast("long").alias("e")).collect()[0].e)
    direct = events.agg(
        F.expr("hll_sketch_estimate(hll_sketch_agg(user_id))")
        .cast("long").alias("e")).collect()[0].e
    assert merged == direct               # union of parts == whole
    t = total[0]
    assert abs(merged - t.exact_users) <= 0.05 * t.exact_users


def test_seq_ngrams_backslash_parity(spark, tmp_out):
    """Cross-engine parity for events_seq_ngrams with backslash- and
    '>'-bearing states (ADVICE r6): the oracle SQL's escape replace()
    must survive Python string processing as a raw literal — a non-raw
    string collapses replace(x, '\\', '\\\\') into a no-op and the two
    engines diverge on any state containing a backslash."""
    import datetime as dt

    import duckdb
    from pyspark.sql import functions as F  # noqa: F401

    base = dt.datetime(2024, 1, 1)
    rows = []
    eid = 0
    # two users, each walking a sequence whose states contain the gram
    # delimiter and backslashes: 'a\b', 'c>d', '\\', plain 'e'
    for uid in (1, 2):
        for step, state in enumerate(
                ["a\\b", "c>d", "\\\\", "e", "a\\b", "c>d", "\\\\"]):
            rows.append((eid, base + dt.timedelta(minutes=step),
                         uid, state, 1.0, "{}"))
            eid += 1
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string")
    df.coalesce(1).write.parquet(f"{tmp_out}/events.parquet")

    got = {(r.gram, r.n_seq)
           for r in E.q_seq_ngrams(spark, tmp_out).collect()}

    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM "
                f"read_parquet('{tmp_out}/events.parquet/*.parquet')")
    sql = E.oracle_sql()["events_seq_ngrams"]
    want = {(g, n) for g, n, _ in con.execute(sql).fetchall()}
    assert got == want
    # the escaping is actually load-bearing: distinct sequences whose
    # naive '>'-joins would collide stay distinct
    grams = {g for g, _ in got}
    assert any("\\\\" in g for g in grams)      # escaped backslash
    assert any("\\>" in g for g in grams)       # escaped delimiter
