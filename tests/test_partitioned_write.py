"""End-to-end sink tests — mirrors the reference's golden-layout e2e
suite (``DynamicPartitionedFilesetSinkTest``, SURVEY.md §5) on the F1
purchase fixture, plus key-normalization and mode semantics.
"""

from __future__ import annotations

import dataclasses
import os

import pytest
from pyspark.sql import functions as F

from dynamic_partitioner_spark import (
    PartitionExistsError,
    SinkSpec,
    list_existing_partitions,
    read_partitioned,
    read_payload,
    write_partitioned,
)
from dynamic_partitioner_spark.operators.partitioned_write import (
    STAGING_PREFIX)


def _partition_dirs(path: str, prefix: str) -> list[str]:
    return sorted(d for d in os.listdir(path) if d.startswith(prefix))


def test_golden_three_partitions(spark, purchase_df, tmp_out):
    # reference golden: 6 records, 3 distinct purchase_date → 3 partitions
    write_partitioned(purchase_df,
                      SinkSpec(name="p", field_names=["purchase_date"]), tmp_out)
    dirs = _partition_dirs(tmp_out, "purchase_date=")
    assert dirs == ["purchase_date=2009-01-01", "purchase_date=2009-01-02",
                    "purchase_date=2009-01-03"]
    back = read_partitioned(spark, tmp_out)
    counts = {r["purchase_date"]: r["n"] for r in
              back.groupBy("purchase_date").agg(F.count("*").alias("n")).collect()}
    assert counts == {"2009-01-01": 3, "2009-01-02": 1, "2009-01-03": 2}
    # full contents round-trip
    got = sorted((r.id, r.first_name, r.purchase_date) for r in back.collect())
    want = sorted((r.id, r.first_name, r.purchase_date)
                  for r in purchase_df.collect())
    assert got == want


def test_partition_values_trimmed(spark, tmp_out):
    df = spark.createDataFrame([(1, "  us-east "), (2, "us-west")],
                               "id long, region string")
    write_partitioned(df, SinkSpec(name="t", field_names=["region"]), tmp_out)
    assert _partition_dirs(tmp_out, "region=") == ["region=us-east", "region=us-west"]


def test_double_key_stringified(spark, sales_df, tmp_out):
    # reference docs partition on a DOUBLE: 1024.0 → directory "1024.0"
    write_partitioned(sales_df, SinkSpec(name="s", field_names=["price"]), tmp_out)
    assert _partition_dirs(tmp_out, "price=") == ["price=1024.0", "price=3.5"]
    back = read_partitioned(spark, tmp_out)
    assert dict(back.dtypes)["price"] == "string"


def test_slash_in_key_rejected(spark, tmp_out):
    df = spark.createDataFrame([(1, "a/b")], "id long, k string")
    with pytest.raises(Exception, match="must not contain"):
        write_partitioned(df, SinkSpec(name="t", field_names=["k"]), tmp_out)


def test_null_key_rejected(spark, tmp_out):
    df = spark.createDataFrame([(1, None)], "id long, k string")
    with pytest.raises(Exception, match="must not be null"):
        write_partitioned(df, SinkSpec(name="t", field_names=["k"]), tmp_out)


def test_create_mode_fails_on_existing_partition(spark, purchase_df, tmp_out):
    spec = SinkSpec(name="p", field_names=["purchase_date"])
    write_partitioned(purchase_df, spec, tmp_out)
    with pytest.raises(PartitionExistsError):
        write_partitioned(purchase_df, spec, tmp_out)


def test_create_mode_allows_disjoint_partitions(spark, purchase_df, tmp_out):
    spec = SinkSpec(name="p", field_names=["purchase_date"])
    write_partitioned(purchase_df.where(F.col("purchase_date") == "2009-01-01"),
                      spec, tmp_out)
    # disjoint key set → CREATE succeeds even though the dataset exists
    write_partitioned(purchase_df.where(F.col("purchase_date") == "2009-01-02"),
                      spec, tmp_out)
    assert len(_partition_dirs(tmp_out, "purchase_date=")) == 2


def test_append_mode_accumulates(spark, purchase_df, tmp_out):
    spec_a = SinkSpec(name="p", field_names=["purchase_date"],
                      append_to_partition="CREATE_OR_APPEND")
    write_partitioned(purchase_df, spec_a, tmp_out)
    write_partitioned(purchase_df, spec_a, tmp_out)
    assert read_partitioned(spark, tmp_out).count() == 12


def test_list_existing_partitions_multilevel(spark, sales_df, tmp_out):
    spec = SinkSpec(name="s", field_names=["price", "buyer"])
    write_partitioned(sales_df, spec, tmp_out)
    keys = list_existing_partitions(spark, tmp_out, ["price", "buyer"])
    assert keys == {("1024.0", "alice"), ("3.5", "bob"), ("1024.0", "carol")}


def test_stage_tag_column(spark, purchase_df, tmp_out):
    write_partitioned(purchase_df,
                      SinkSpec(name="p", field_names=["purchase_date"],
                               stage_name="sink-1"), tmp_out)
    back = read_partitioned(spark, tmp_out)
    assert back.select("_stage").distinct().collect()[0][0] == "sink-1"


def test_payload_projection_excludes_partition_cols(spark, purchase_df, tmp_out):
    spec = SinkSpec(name="p", field_names=["purchase_date"])
    write_partitioned(purchase_df, spec, tmp_out)
    payload = read_payload(spark, tmp_out, spec)
    assert sorted(payload.columns) == ["first_name", "id"]
    # physical data files do NOT contain the partition column (Spark
    # encodes it in the directory name — §1.4 table-schema semantics)
    table = read_partitioned(spark, tmp_out)
    assert "purchase_date" in table.columns


def test_orc_roundtrip_with_knobs(spark, purchase_df, tmp_out):
    spec = SinkSpec(name="p", field_names=["purchase_date"], fmt="orc",
                    compression_codec="zlib", compression_chunk_size=262144,
                    stripe_size=67108864, index_stride=10000, create_index=True)
    write_partitioned(purchase_df, spec, tmp_out)
    back = read_partitioned(spark, tmp_out, "orc")
    assert back.count() == 6
    assert len(_partition_dirs(tmp_out, "purchase_date=")) == 3


def test_multi_key_directory_nesting(spark, sales_df, tmp_out):
    write_partitioned(sales_df,
                      SinkSpec(name="s", field_names=["price", "buyer"]), tmp_out)
    assert os.path.isdir(f"{tmp_out}/price=1024.0/buyer=alice")
    assert os.path.isdir(f"{tmp_out}/price=3.5/buyer=bob")


# --------------------------------------------------- catalog + compaction

def test_register_table_and_prune(spark, purchase_df, tmp_out):
    """Catalog registration: SQL over the external table works and a
    partition-key filter becomes a pruned scan (reference Explore-table
    parity)."""
    from dynamic_partitioner_spark.operators.partitioned_write import (
        register_table)
    spec = SinkSpec(name="purchases_cat", field_names=["purchase_date"])
    write_partitioned(purchase_df, spec, tmp_out)
    register_table(spark, spec, tmp_out)

    got = spark.sql("SELECT id, first_name, purchase_date FROM "
                    "`purchases_cat` WHERE purchase_date = '2009-01-01'")
    assert {r.id for r in got.collect()} == {2, 3, 6}

    import io, contextlib
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        got.explain("formatted")
    assert "PartitionFilters" in buf.getvalue()
    # re-register is idempotent
    register_table(spark, spec, tmp_out)
    assert spark.sql("SELECT count(*) c FROM `purchases_cat`").first().c == 6


def _count_files(root, suffix=".parquet"):
    import os
    return sum(1 for d, _, fs in os.walk(root) for f in fs
               if f.endswith(suffix))


def test_compact_partitions_reduces_files(spark, tmp_out):
    from dynamic_partitioner_spark.operators.partitioned_write import (
        compact_partitions)
    df = spark.range(0, 4000).select(
        F.col("id"),
        (F.col("id") % 2).cast("string").alias("k"))
    spec = SinkSpec(name="cmp", field_names=["k"], max_records_per_file=100,
                    cluster_by_key=False)
    write_partitioned(df, spec, tmp_out)
    before = _count_files(tmp_out)
    assert before >= 20                      # tiny cap forced many files

    n_cols = compact_partitions(spark, tmp_out, "parquet",
                                target_rows_per_file=1_000_000)
    after = _count_files(tmp_out)
    assert n_cols == 1
    assert after <= 4                        # ~one file per partition
    back = read_partitioned(spark, tmp_out)
    assert back.count() == 4000
    assert back.select(F.sum("id")).first()[0] == sum(range(4000))


def test_compact_partitions_rejects_flat_dir(spark, tmp_out):
    import pytest
    from dynamic_partitioner_spark.operators.partitioned_write import (
        compact_partitions)
    spark.range(10).write.parquet(tmp_out)   # no Hive layout
    with pytest.raises(ValueError, match="no Hive partition columns"):
        compact_partitions(spark, tmp_out)


def test_overwrite_dynamic_replaces_only_touched_partition(spark, purchase_df,
                                                           tmp_out):
    spec = SinkSpec(name="p", field_names=["purchase_date"])
    write_partitioned(purchase_df, spec, tmp_out)

    # overwrite 2009-01-01 (3 rows) with a single replacement row
    repl = spark.createDataFrame([(99, "Zed", "2009-01-01")],
                                 "id long, first_name string, purchase_date string")
    write_partitioned(repl, SinkSpec(name="p", field_names=["purchase_date"],
                                     overwrite_partitions=True), tmp_out)
    back = read_partitioned(spark, tmp_out)
    assert back.count() == 4                       # 6 - 3 + 1
    jan1 = back.where(F.col("purchase_date") == "2009-01-01").collect()
    assert [(r.id, r.first_name) for r in jan1] == [(99, "Zed")]
    # untouched partitions intact
    assert back.where(F.col("purchase_date") == "2009-01-03").count() == 2
    # (the avro fallback's dynamic overwrite is covered in test_avro.py)


def test_bucketed_join_no_shuffle(spark):
    """Two tables bucketed on the join key: with broadcast disabled
    (both sides 'big'), the join runs as SortMergeJoin with NO exchange
    on either input — the shuffle was paid once at bucketing time."""
    import contextlib
    import io
    import re

    from dynamic_partitioner_spark.operators.partitioned_write import (
        write_bucketed)

    left = spark.range(0, 10000).selectExpr("id AS k", "id * 2 AS a")
    right = spark.range(0, 10000).selectExpr("id AS k", "id * 3 AS b")
    write_bucketed(left, "t_bkt_l", ["k"], n_buckets=4)
    write_bucketed(right, "t_bkt_r", ["k"], n_buckets=4)

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = spark.sql("SELECT sum(a + b) s FROM t_bkt_l JOIN t_bkt_r USING (k)")
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            j.explain("formatted")
        plan = buf.getvalue()
        assert "SortMergeJoin" in plan
        # only the final single-row aggregate exchanges; the join inputs
        # read bucket files directly
        assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1
        assert j.first().s == sum(2 * i + 3 * i for i in range(10000))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)

    # re-run write_bucketed in the same warehouse: stale dir handled
    write_bucketed(left, "t_bkt_l", ["k"], n_buckets=4)
    assert spark.table("t_bkt_l").count() == 10000


def test_compact_partitions_fails_fast_on_crash_leftovers(spark, tmp_out):
    """A leftover ._compact_old/._compact_tmp dir from a crashed run must
    abort BEFORE any rename — FileSystem.rename returns false (no throw)
    when the destination exists, which would otherwise silently no-op the
    swap and then delete the trash path."""
    import os

    import pytest

    from dynamic_partitioner_spark.operators.partitioned_write import (
        compact_partitions, write_partitioned)

    df = spark.range(100).selectExpr("id", "CAST(id % 3 AS STRING) AS k")
    write_partitioned(df, SinkSpec(name="t", field_names=["k"]), tmp_out)
    os.makedirs(tmp_out.rstrip("/") + "._compact_old", exist_ok=True)
    with pytest.raises(RuntimeError, match="crashed mid-swap"):
        compact_partitions(spark, tmp_out, "parquet")
    # dataset untouched
    assert spark.read.parquet(tmp_out).count() == 100


def test_skewed_write_splits_hot_key_across_tasks(spark, tmp_out):
    """95%-hot key distribution: the REBALANCE(keys) hint must (a) split
    the hot partition across MULTIPLE tasks (no single-task bottleneck —
    pinned via distinct part-file split ids) while (b) small keys stay
    at ~1 file each (no per-task file spray).  The AQE advisory size is
    lowered so skew-splitting triggers at test scale; at real scale the
    64 MB default does the same to multi-GB hot keys."""
    import glob
    import os

    from dynamic_partitioner_spark.operators.partitioned_write import (
        write_partitioned)

    advisory = spark.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes")
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64KB")
    try:
        df = spark.range(100_000).selectExpr(
            "id",
            "CASE WHEN id % 100 < 95 THEN 'hot' "
            "ELSE concat('c', CAST(id % 5 AS STRING)) END AS k")
        spec = SinkSpec(name="skew", field_names=["k"],
                        max_records_per_file=10_000)
        write_partitioned(df, spec, tmp_out)
    finally:
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes",
                       advisory)

    hot = glob.glob(os.path.join(tmp_out, "k=hot", "*.parquet"))
    # part-SPLIT-uuid[-cN].parquet → SPLIT identifies the writing task
    hot_tasks = {os.path.basename(f).split("-")[1] for f in hot}
    assert len(hot_tasks) >= 2, f"hot key written by a single task: {hot}"
    for f in hot:
        assert spark.read.parquet(f).count() <= 10_000   # file cap holds
    for small in ("c0", "c1", "c2", "c3", "c4"):
        files = glob.glob(os.path.join(tmp_out, f"k={small}", "*.parquet"))
        # a small key may share a (split) shuffle bucket with the hot
        # key, so allow a few files — the pin is no one-file-per-task
        # spray (32 tasks × 5 keys without the rebalance)
        assert 1 <= len(files) <= 8, (small, files)
    assert spark.read.parquet(tmp_out).count() == 100_000


def test_schema_evolution_append_new_column(spark, tmp_out):
    """Appending batches that gained a column reads back whole with
    merge_schema=True: old rows carry NULL for the new column, and the
    default (no merge) path still works for the unevolved view."""
    v1 = spark.createDataFrame([(1, "a"), (2, "b")], "id long, k string")
    write_partitioned(v1, SinkSpec(name="t", field_names=["k"]), tmp_out)
    v2 = spark.createDataFrame([(3, "c", 9.5)],
                               "id long, k string, score double")
    write_partitioned(
        v2, SinkSpec(name="t", field_names=["k"],
                     append_to_partition="CREATE_OR_APPEND"), tmp_out)

    merged = read_partitioned(spark, tmp_out, merge_schema=True)
    assert "score" in merged.columns
    got = {r.id: r.score for r in merged.collect()}
    assert got == {1: None, 2: None, 3: 9.5}


def test_cross_format_parity(spark, purchase_df, tmp_out):
    """The same frame written via parquet, ORC, and the Avro fallback
    reads back with identical contents and identical partition layout —
    format choice must never change WHAT is stored."""
    from pyspark.sql import types as T

    from dynamic_partitioner_spark.formats import read_avro_partitioned

    import shutil

    want = {tuple(r) for r in purchase_df.collect()}
    dirs_want = None
    for fmt in ("parquet", "orc", "avro"):
        out = f"{tmp_out}_{fmt}"
        shutil.rmtree(out, ignore_errors=True)
        write_partitioned(purchase_df,
                          SinkSpec(name="p", field_names=["purchase_date"],
                                   fmt=fmt), out)
        dirs = _partition_dirs(out, "purchase_date=")
        dirs_want = dirs_want or dirs
        assert dirs == dirs_want, fmt
        if fmt == "avro":
            payload = T.StructType([
                T.StructField("id", T.LongType(), True),
                T.StructField("first_name", T.StringType(), True)])
            back = read_avro_partitioned(spark, out, ["purchase_date"],
                                         payload)
            got = {(r.id, r.first_name, r.purchase_date)
                   for r in back.collect()}
        else:
            back = read_partitioned(spark, out, fmt)
            got = {(r.id, r.first_name, r.purchase_date)
                   for r in back.collect()}
        assert got == want, fmt


def test_merge_upsert_touches_only_affected_partitions(spark, purchase_df,
                                                       tmp_out):
    """Update one 2009-01-01 row + insert a brand-new key: the
    2009-01-03 partition's files are byte-untouched, the updated key is
    replaced (not duplicated), the new key appears."""
    import glob

    from dynamic_partitioner_spark.operators.partitioned_write import (
        merge_upsert)

    spec = SinkSpec(name="p", field_names=["purchase_date"])
    write_partitioned(purchase_df, spec, tmp_out)
    before = {f: os.path.getmtime(f) for f in
              glob.glob(f"{tmp_out}/purchase_date=2009-01-03/*.parquet")}

    updates = spark.createDataFrame(
        [(2, "Robert", "2009-01-01"),      # existing key, new name
         (99, "Newbie", "2009-01-02")],    # brand-new key
        purchase_df.schema)
    merge_upsert(spark, tmp_out, updates, spec, ["id"])

    back = read_partitioned(spark, tmp_out)
    assert back.count() == 7                       # 6 originals + 1 new
    by_id = {r.id: (r.first_name, r.purchase_date) for r in back.collect()}
    assert by_id[2] == ("Robert", "2009-01-01")    # replaced in place
    assert by_id[99] == ("Newbie", "2009-01-02")
    after = {f: os.path.getmtime(f) for f in
             glob.glob(f"{tmp_out}/purchase_date=2009-01-03/*.parquet")}
    assert after == before                         # untouched bytes


def test_write_sorted_disjoint_ranges_and_local_order(spark, tmp_out):
    """Range-partitioned sorted export: every output file is internally
    sorted and file ranges don't overlap — a sequential reader over the
    files in range order sees a total order."""
    from pyspark.sql import functions as F

    from dynamic_partitioner_spark.operators.partitioned_write import (
        write_sorted)

    df = spark.range(0, 10_000).select(
        (F.col("id") * 2654435761 % 100_000).alias("v"))
    write_sorted(df, tmp_out, "v", n_files=8)

    back = spark.read.parquet(tmp_out).select(
        "v", F.input_file_name().alias("f"))
    stats = (back.groupBy("f")
             .agg(F.min("v").alias("lo"), F.max("v").alias("hi"),
                  F.count(F.lit(1)).alias("n"))
             .collect())
    assert sum(r.n for r in stats) == 10_000
    spans = sorted((r.lo, r.hi) for r in stats)
    for (lo1, hi1), (lo2, hi2) in zip(spans, spans[1:]):
        assert hi1 <= lo2          # disjoint (boundary values may touch)

    # within-file sortedness: no row may precede a smaller neighbor
    import pandas as pd
    pdf = back.toPandas()
    for _, grp in pdf.groupby("f"):
        vals = grp["v"].tolist()
        assert vals == sorted(vals)


def test_merge_upsert_deletes_and_prunes_emptied_partition(spark, tmp_out):
    """Delete keys are removed without replacement; a partition whose
    every row is deleted disappears from disk entirely (dynamic
    overwrite alone can't express an emptied partition)."""
    import os

    from pyspark.sql import functions as F

    from dynamic_partitioner_spark import (SinkSpec, read_partitioned,
                                           write_partitioned)
    from dynamic_partitioner_spark.operators.partitioned_write import (
        merge_upsert)

    df = spark.createDataFrame(
        [(1, "a", 1.0), (2, "a", 2.0), (3, "b", 3.0)],
        "k long, p string, v double")
    spec = SinkSpec(name="m", field_names=["p"])
    write_partitioned(df, spec, tmp_out)

    ups = spark.createDataFrame([(1, "a", 10.0)], "k long, p string, v double")
    dels = spark.createDataFrame([(3, "b")], "k long, p string")
    merge_upsert(spark, tmp_out, ups, spec, ["k"], deletes=dels)

    got = {(r.k, r.p, r.v) for r in read_partitioned(spark, tmp_out).collect()}
    assert got == {(1, "a", 10.0), (2, "a", 2.0)}
    assert not os.path.exists(f"{tmp_out}/p=b")


def test_merge_cdc_stale_change_is_noop_and_delete_tombstones(spark, tmp_out):
    """Seq-aware merge: a lower-seq change arriving AFTER the stored row
    (or after a delete) loses the competition — including the classic
    resurrection case, which tombstone retention prevents."""
    from dynamic_partitioner_spark import SinkSpec
    from dynamic_partitioner_spark.operators.partitioned_write import (
        merge_cdc, read_cdc_table)

    spec = SinkSpec(name="cdc", field_names=["p"])
    sch = "k long, seq long, op string, p string, v double"

    b1 = spark.createDataFrame(
        [(1, 5, "U", "a", 1.0), (2, 9, "D", "a", 0.0)], sch)
    merge_cdc(spark, tmp_out, b1, spec, ["k"], "seq")
    # batch 2 arrives out of order: stale update for deleted key 2 and
    # stale update for key 1
    b2 = spark.createDataFrame(
        [(2, 3, "U", "a", 99.0), (1, 2, "U", "a", 42.0)], sch)
    merge_cdc(spark, tmp_out, b2, spec, ["k"], "seq")

    got = {(r.k, r.seq, r.v) for r in read_cdc_table(spark, tmp_out).collect()}
    assert got == {(1, 5, 1.0)}          # key 2 stays deleted, v stays 1.0

    # a genuinely newer change still wins
    b3 = spark.createDataFrame([(1, 7, "U", "a", 8.0)], sch)
    merge_cdc(spark, tmp_out, b3, spec, ["k"], "seq")
    got = {(r.k, r.seq, r.v) for r in read_cdc_table(spark, tmp_out).collect()}
    assert got == {(1, 7, 8.0)}


def test_compact_tombstones_respects_horizon(spark, tmp_out):
    """Tombstones below the sequence horizon are physically dropped
    (their partition rewritten, emptied partitions removed); tombstones
    at/above the horizon survive."""
    import os

    from pyspark.sql import functions as F

    from dynamic_partitioner_spark import SinkSpec, read_partitioned
    from dynamic_partitioner_spark.operators.partitioned_write import (
        compact_tombstones, merge_cdc)

    spec = SinkSpec(name="cdcc", field_names=["p"])
    sch = "k long, seq long, op string, p string, v double"
    batch = spark.createDataFrame(
        [(1, 4, "U", "a", 1.0), (2, 5, "D", "a", 0.0),
         (3, 6, "D", "b", 0.0), (4, 9, "D", "c", 0.0)], sch)
    merge_cdc(spark, tmp_out, batch, spec, ["k"], "seq")

    compact_tombstones(spark, tmp_out, spec, below_seq=7, seq_col="seq")
    raw = read_partitioned(spark, tmp_out)
    got = {(r.k, r.op) for r in raw.collect()}
    # seq-5 and seq-6 tombstones expired; live row and seq-9 tombstone stay
    assert got == {(1, "U"), (4, "D")}
    # partition b held only the expired tombstone -> directory removed
    assert not os.path.exists(f"{tmp_out}/p=b")

    # idempotent: nothing expirable left below the horizon
    compact_tombstones(spark, tmp_out, spec, below_seq=7, seq_col="seq")
    assert {(r.k, r.op) for r in read_partitioned(spark, tmp_out)
            .collect()} == {(1, "U"), (4, "D")}


def test_merge_upsert_partition_col_in_business_key(spark, tmp_out):
    """A delete whose key includes the partition column must not break
    the deletes projection (duplicate column selection)."""
    from dynamic_partitioner_spark import (SinkSpec, read_partitioned,
                                           write_partitioned)
    from dynamic_partitioner_spark.operators.partitioned_write import (
        merge_upsert)

    df = spark.createDataFrame(
        [(1, "a", 1.0), (2, "b", 2.0)], "k long, p string, v double")
    spec = SinkSpec(name="mk", field_names=["p"])
    write_partitioned(df, spec, tmp_out)
    dels = spark.createDataFrame([("a", 1)], "p string, k long")
    ups = spark.createDataFrame([], "k long, p string, v double")
    merge_upsert(spark, tmp_out, ups, spec, ["p", "k"], deletes=dels)
    got = {(r.k, r.p, r.v) for r in read_partitioned(spark, tmp_out).collect()}
    assert got == {(2, "b", 2.0)}


def test_zorder_value_interleaves_bits(spark):
    from dynamic_partitioner_spark.functions.zorder import zorder_value

    # bits=2, two cols quantized over [0,4): q == the raw value; the
    # Morton code of (x, y) places x's bit i at 2i, y's at 2i+1
    df = spark.createDataFrame(
        [(x, y) for x in range(4) for y in range(4)],
        "x long, y long")
    got = {(r.x, r.y): r.z for r in df.withColumn(
        "z", zorder_value([("x", 0.0, 4.0), ("y", 0.0, 4.0)],
                          bits=2)).collect()}
    def morton(x, y):
        return sum((((x >> i) & 1) << (2 * i))
                   + (((y >> i) & 1) << (2 * i + 1)) for i in range(2))
    assert got == {(x, y): morton(x, y)
                   for x in range(4) for y in range(4)}
    # out-of-range clamps rather than corrupting bits
    edge = spark.createDataFrame([(-5, 99)], "x long, y long").withColumn(
        "z", zorder_value([("x", 0.0, 4.0), ("y", 0.0, 4.0)], bits=2))
    assert edge.collect()[0].z == morton(0, 3)


def test_zorder_validates_specs(spark):
    import pytest
    from dynamic_partitioner_spark.functions.zorder import zorder_value
    with pytest.raises(ValueError):
        zorder_value([], bits=8)
    with pytest.raises(ValueError):
        zorder_value([("x", 0.0, 1.0)], bits=64)
    with pytest.raises(ValueError):
        zorder_value([("x", 1.0, 1.0)], bits=4)


def test_zorder_sql_matches_column_form(spark):
    import duckdb
    from dynamic_partitioner_spark.functions.zorder import (
        zorder_sql, zorder_value)

    specs = [("x", 0.0, 1000.0), ("y", 0.0, 37.0)]
    rows = [(i * 13 % 1000, (i * 7) % 37) for i in range(200)]
    df = spark.createDataFrame(rows, "x long, y long")
    got = sorted((r.x, r.y, r.z) for r in
                 df.withColumn("z", zorder_value(specs, 8)).collect())
    import pandas as pd
    pdf = pd.DataFrame(rows, columns=["x", "y"])
    want = sorted(map(tuple, duckdb.sql(
        f"SELECT x, y, {zorder_sql(specs, 8)} AS z FROM pdf")
        .fetchall()))
    assert got == want


def test_write_zordered_clusters_both_columns(spark, tmp_out):
    """Each z-ordered file must cover a small rectangle of BOTH key
    ranges; a single-column sorted export leaves the second column's
    per-file range at ~100%."""
    from dynamic_partitioner_spark.operators.partitioned_write import (
        write_sorted, write_zordered)

    # the full 64x64 grid: within any fixed `a`, `b` covers the whole
    # range — so a single-column sort cannot cluster `b` at all
    df = spark.createDataFrame(
        [(i % 64, i // 64) for i in range(1 << 12)],
        "a long, b long")
    zp = f"{tmp_out}/z"
    sp = f"{tmp_out}/s"
    write_zordered(df, zp, [("a", 0.0, 64.0), ("b", 0.0, 64.0)],
                   bits=6, n_files=16)
    write_sorted(df, sp, "a", n_files=16)

    def per_file_spans(path, col):
        import pyspark.sql.functions as F
        byf = (spark.read.parquet(path)
               .groupBy(F.input_file_name().alias("f"))
               .agg((F.max(col) - F.min(col)).alias("span")))
        return [r.span for r in byf.collect()]

    # z-order: 16 files over a 64x64 grid -> each file spans ~1/4 of
    # each dimension; allow slack for range-boundary sampling
    assert max(per_file_spans(zp, "a")) <= 40
    assert max(per_file_spans(zp, "b")) <= 40
    # plain sort: second column is unclustered (full span in most files)
    assert max(per_file_spans(sp, "b")) >= 60


def test_escape_path_name_matches_native_writer(spark, tmp_out):
    """Partition values with Hive-literal specials (space, '+', ',',
    '(', '!') must compose the exact directory names Spark's own
    writer produces — a percent-encoded spelling would make hand-built
    paths (prune deletes, existence checks) miss them."""
    import os

    from dynamic_partitioner_spark.functions.paths import (
        escape_path_name, hive_partition_path, unescape_path_name)

    values = ["new york", "a+b,(c)!", "x:y=z", "100%", "t\tv"]
    df = spark.createDataFrame([(i, v) for i, v in enumerate(values)],
                               "k long, p string")
    df.write.partitionBy("p").parquet(tmp_out, mode="overwrite")
    on_disk = {d for d in os.listdir(tmp_out) if d.startswith("p=")}
    composed = {f"p={escape_path_name(v)}" for v in values}
    assert composed == on_disk
    for v in values:
        assert unescape_path_name(escape_path_name(v)) == v
        assert hive_partition_path(["p"], (v,)) == f"p={escape_path_name(v)}"


def test_escape_path_name_matches_jvm_rule(spark):
    """Bit-for-bit parity with ExternalCatalogUtils.escapePathName over
    the full ASCII range plus multibyte text."""
    from dynamic_partitioner_spark.functions.paths import escape_path_name

    ecu = spark._jvm.org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
    for s in [chr(c) for c in range(1, 128)] + ["déjà 中文", "%41", "a b/c"]:
        assert escape_path_name(s) == ecu.escapePathName(s), repr(s)


def test_merge_upsert_prunes_partition_with_hive_literal_chars(spark, tmp_out):
    """Emptying a partition whose value contains writer-literal specials
    (space, comma, parens) must still remove its directory — this is the
    spelling-mismatch case the urllib-quote path silently skipped."""
    import os

    from dynamic_partitioner_spark import SinkSpec, read_partitioned, write_partitioned
    from dynamic_partitioner_spark.operators.partitioned_write import merge_upsert

    df = spark.createDataFrame(
        [(1, "new york", 1.0), (2, "sao paulo (br)", 2.0)],
        "k long, p string, v double")
    spec = SinkSpec(name="m", field_names=["p"])
    write_partitioned(df, spec, tmp_out)
    assert os.path.exists(f"{tmp_out}/p=new york")

    dels = spark.createDataFrame([(1, "new york")], "k long, p string")
    ups = spark.createDataFrame([], "k long, p string, v double")
    merge_upsert(spark, tmp_out, ups, spec, ["k"], deletes=dels)

    assert not os.path.exists(f"{tmp_out}/p=new york")
    got = {(r.k, r.p, r.v) for r in read_partitioned(spark, tmp_out).collect()}
    assert got == {(2, "sao paulo (br)", 2.0)}


def test_compact_preserves_schema_evolved_columns(spark, tmp_path):
    """Compacting a dataset whose later appends added a column must
    keep that column (mergeSchema read) — not silently rewrite it
    away."""
    from dynamic_partitioner_spark.operators.partitioned_write import (
        compact_partitions)
    from dynamic_partitioner_spark.sources.read import read_partitioned

    out = str(tmp_path / "evolved")
    spark.createDataFrame([(1, "a")], "id long, k string") \
        .write.partitionBy("k").parquet(out)
    spark.createDataFrame([(2, "b", 9.5)],
                          "id long, k string, extra double") \
        .write.mode("append").partitionBy("k").parquet(out)
    compact_partitions(spark, out)
    back = read_partitioned(spark, out, merge_schema=True)
    rows = {r.id: r for r in back.collect()}
    assert "extra" in back.columns
    assert rows[2].extra == 9.5 and rows[1].extra is None


def test_cdc_null_op_rows_are_live_and_survive_compaction(spark, tmp_path):
    """A source that only stamps deletes leaves op NULL on upserts —
    those rows must be visible in the live view and must survive the
    tombstone retention pass (three-valued-logic regression)."""
    from dynamic_partitioner_spark.operators.partitioned_write import (
        compact_tombstones, merge_cdc, read_cdc_table)
    from dynamic_partitioner_spark.spec import SinkSpec

    out = str(tmp_path / "cdc")
    spec = SinkSpec(name="t", field_names=["p"])
    changes = spark.createDataFrame(
        [(1, "x", 10, None, "a"), (2, "x", 11, "D", "b"),
         (3, "x", 1, None, "c")],
        "k long, p string, seq long, op string, v string")
    merge_cdc(spark, out, changes, spec, ["k"], "seq")
    live = {r.k for r in read_cdc_table(spark, out).collect()}
    assert live == {1, 3}                  # NULL-op rows are live
    compact_tombstones(spark, out, spec, below_seq=100, seq_col="seq")
    live2 = {r.k for r in read_cdc_table(spark, out).collect()}
    assert live2 == {1, 3}                 # retention kept them
    assert {r.k for r in read_cdc_table(spark, out).collect()
            if r.k == 2} == set()          # expired tombstone gone


def test_overwrite_mode_conf_is_restored(spark, tmp_path):
    """The overwrite neither needs nor touches the session's
    ``partitionOverwriteMode``: under ``static`` it still replaces only
    the partition it writes, and the conf still reads ``static``."""
    conf = "spark.sql.sources.partitionOverwriteMode"
    prev = spark.conf.get(conf)
    spark.conf.set(conf, "static")
    try:
        out = str(tmp_path / "w")
        spec = SinkSpec(name="t", field_names=["k"],
                        overwrite_partitions=True)
        write_partitioned(spark.createDataFrame(
            [(1, "a"), (2, "b"), (3, "c")], "id long, k string"), spec, out)
        write_partitioned(spark.createDataFrame(
            [(9, "b")], "id long, k string"), spec, out)
        assert {(r.id, r.k) for r in read_partitioned(spark, out).collect()} \
            == {(1, "a"), (9, "b"), (3, "c")}
        assert spark.conf.get(conf) == "static"
    finally:
        spark.conf.set(conf, prev)


def test_zorder_clamps_hostile_values_cross_engine(spark):
    """Far-out-of-range and NaN inputs clamp to edge buckets in BOTH
    engines instead of overflowing the bigint cast (ANSI/DuckDB would
    raise) — the totality the module documents."""
    import duckdb

    from dynamic_partitioner_spark.functions.zorder import (
        zorder_sql, zorder_value)

    df = spark.createDataFrame(
        [(1e19,), (-1e19,), (float("nan"),), (0.5,)], "x double")
    got = [r.z for r in df.select(
        zorder_value([("x", 0.0, 1.0)], bits=4).alias("z")).collect()]
    duck = [r[0] for r in duckdb.sql(
        "SELECT " + zorder_sql([("x", 0.0, 1.0)], bits=4) + " AS z "
        "FROM (SELECT unnest([1e19, -1e19, CAST('nan' AS DOUBLE), 0.5])"
        " AS x)").fetchall()]
    assert got == duck == [15, 0, 15, 8]


def test_audit_partition_files_predicts_ceil(spark, tmp_path):
    """File-sizing audit: with a strict hash repartition and a row cap,
    files-per-partition is exactly ceil(rows/cap)."""
    from dynamic_partitioner_spark.operators.partitioned_write import (
        audit_partition_files, write_partitioned)
    from dynamic_partitioner_spark.spec import SinkSpec
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(i, "a" if i < 25 else "b") for i in range(35)], "id long, k string"
    ).repartition(F.col("k"))
    out = str(tmp_path / "sized")
    write_partitioned(df, SinkSpec(name="t", field_names=["k"],
                                   max_records_per_file=10,
                                   cluster_by_key=False), out)
    got = {r.k: (r.n_rows, r.n_files)
           for r in audit_partition_files(spark, out, ["k"]).collect()}
    assert got == {"a": (25, 3), "b": (10, 1)}


def test_plan_compaction_rolling_bins_and_validation(spark):
    import pytest

    from dynamic_partitioner_spark.operators.partitioned_write import (
        plan_compaction)
    files = spark.createDataFrame(
        [("a", "f1", 900), ("a", "f2", 500), ("a", "f3", 500),
         ("a", "f4", 100),
         ("b", "g1", 50)],
        "pk string, fname string, sz long")
    got = {(r.pk, r.file_seq): (r.sz, r.bin, r.bin_size, r.bin_files)
           for r in plan_compaction(files, ["pk"], "sz", target=1000,
                                    tiebreak_cols=["fname"]).collect()}
    # desc order: 900, 500, 500, 100 -> cum-before 0, 900, 1400, 1900
    # -> bins 0, 0, 1, 1
    assert got[("a", 1)] == (900, 0, 1400, 2)
    assert got[("a", 2)] == (500, 0, 1400, 2)
    assert got[("a", 3)] == (500, 1, 600, 2)
    assert got[("a", 4)] == (100, 1, 600, 2)
    # a lone small file is its own bin; partitions never mix
    assert got[("b", 1)] == (50, 0, 50, 1)
    with pytest.raises(ValueError, match="target"):
        plan_compaction(files, ["pk"], "sz", target=0)


def test_write_partitioned_derived_validation_and_pruning(spark, tmp_path):
    import io
    from contextlib import redirect_stdout

    import pytest

    from dynamic_partitioner_spark.operators.partitioned_write import (
        write_partitioned_derived)
    from dynamic_partitioner_spark.sources.read import read_partitioned
    from dynamic_partitioner_spark.spec import SinkSpec, SpecError

    df = spark.createDataFrame(
        [(1, "2024-03-05", 10.0), (2, "2025-07-01", 20.0),
         (3, "2024-11-11", 30.0)],
        "k long, d string, v double").withColumn("d", F.to_date("d"))
    spec = SinkSpec(name="hidden", field_names=["yr"])
    out = str(tmp_path / "hidden")
    write_partitioned_derived(df, spec, out, {"yr": F.year("d")})
    back = read_partitioned(spark, out)
    # payload intact: original columns survive, derived col is extra
    assert {"k", "d", "v"} <= set(back.columns)
    got = back.where(F.col("yr").cast("long") == 2024)
    assert sorted(r.k for r in got.collect()) == [1, 3]
    # the derived-key filter must prune at the SCAN, not post-filter
    buf = io.StringIO()
    with redirect_stdout(buf):
        got.explain("formatted")
    assert "PartitionFilters: [" in buf.getvalue()
    assert "yr" in buf.getvalue().split("PartitionFilters", 1)[1][:200]
    # derive keys must match spec field order
    with pytest.raises(SpecError, match="must match"):
        write_partitioned_derived(df, SinkSpec(name="x",
                                               field_names=["a", "b"]),
                                  str(tmp_path / "x"),
                                  {"b": F.year("d"), "a": F.col("k")})
    # clashing with a payload column is refused
    with pytest.raises(SpecError, match="already exist"):
        write_partitioned_derived(df, SinkSpec(name="y",
                                               field_names=["v"]),
                                  str(tmp_path / "y"),
                                  {"v": F.year("d")})


def test_sorted_write_files_are_contiguous_runs(spark, tmp_out):
    """sort_within: every output file is a contiguous run of the
    per-partition sort — per-file (min, max, n_rows) equal the
    positional prediction over the sorted multiset (the contract
    ops_clustering_depth's oracle relies on)."""
    from dynamic_partitioner_spark.operators.partitioned_write import (
        write_partitioned)

    rows = [("a", (i * 7919) % 100) for i in range(25)]
    rows += [("b", (i * 104729) % 50) for i in range(10)]
    df = (spark.createDataFrame(rows, "k string, v long")
          .repartition(F.col("k")))
    write_partitioned(
        df, SinkSpec(name="s", field_names=["k"], cluster_by_key=False,
                     max_records_per_file=8, sort_within=["v"]),
        tmp_out)
    got = {(r.k, r.vmin, r.vmax, r.n)
           for r in (spark.read.parquet(tmp_out)
                     .groupBy("k", F.col("_metadata.file_path"))
                     .agg(F.min("v").alias("vmin"),
                          F.max("v").alias("vmax"),
                          F.count(F.lit(1)).alias("n"))
                     .collect())}
    expect = set()
    for k, n_rows in (("a", 25), ("b", 10)):
        vs = sorted(v for kk, v in rows if kk == k)
        for lo in range(0, n_rows, 8):
            chunk = vs[lo:lo + 8]
            expect.add((k, chunk[0], chunk[-1], len(chunk)))
    assert got == expect


def test_sort_within_validation():
    from pyspark.sql import types as T

    from dynamic_partitioner_spark.spec import SpecError

    schema = T.StructType.fromDDL("k string, v long")
    with pytest.raises(SpecError, match="Sort field 'x'"):
        SinkSpec(name="s", field_names=["k"],
                 sort_within=["x"]).validate(schema)
    with pytest.raises(SpecError, match="partition field"):
        SinkSpec(name="s", field_names=["k"],
                 sort_within=["k"]).validate(schema)


def test_clustering_depth_known_intervals(spark):
    """Disjoint ranges score depth 1; a file spanning the whole range
    overlaps everything; touching endpoints count as overlap."""
    from dynamic_partitioner_spark.operators.partitioned_write import (
        clustering_depth)

    stats = spark.createDataFrame(
        [("p", 0, 9, 10), ("p", 10, 19, 10), ("p", 0, 19, 5),
         ("q", 0, 5, 6), ("q", 5, 9, 5)],
        "pk string, vmin long, vmax long, n_rows long")
    out = {(r.pk, r.vmin, r.vmax): (r.file_seq, r.depth)
           for r in clustering_depth(stats, ["pk"], "vmin", "vmax",
                                     order_extra=["n_rows"]).collect()}
    assert out[("p", 0, 19)] == (2, 3)   # spans both → sees all 3
    assert out[("p", 0, 9)][1] == 2      # itself + the spanner
    assert out[("p", 10, 19)][1] == 2
    # shared endpoint 5 counts as overlap
    assert out[("q", 0, 5)][1] == 2 and out[("q", 5, 9)][1] == 2


# --------------------------------------------------------------- Z-order

def test_zorder_key_known_values_and_sql_twin(spark):
    """Interleave pinned by hand (x=10,y=6,bits=4 -> 108) and the SQL
    twin must agree term for term, including the mask making negative
    and overflowing inputs total."""
    import duckdb

    from dynamic_partitioner_spark.functions.zorder import (
        zorder_key, zorder_key_sql)

    rows = [(10, 6), (0, 0), (15, 15), (255, 1), (-3, 2)]
    df = spark.createDataFrame(rows, "x long, y long")
    got = [r[0] for r in
           df.select(zorder_key(["x", "y"], bits=4)).collect()]
    assert got[0] == 108  # x bits at even positions, y at odd
    assert got[1] == 0 and got[2] == 255
    sql = zorder_key_sql(["x", "y"], bits=4)
    vals = ",".join(f"({x},{y})" for x, y in rows)
    duck = [r[0] for r in duckdb.sql(
        f"SELECT {sql} FROM (VALUES {vals}) t(x, y)").fetchall()]
    assert got == duck

    import pytest
    with pytest.raises(ValueError):
        zorder_key(["a", "b", "c"], bits=22)  # 66 bits > BIGINT


def test_zorder_layout_prunes_both_dimensions(spark):
    """The point of Morton order: on a uniform 2-d grid, files sorted
    by the interleaved key have TIGHT envelopes on BOTH dimensions,
    so a point query on x touches strictly fewer files than under a
    y-only sort (where every file spans all of x)."""
    from dynamic_partitioner_spark.functions.zorder import zorder_key
    from pyspark.sql import functions as F

    # uniform 16x16 grid, 4 rows per cell -> 1024 rows, 8 files of 128
    rows = [(x, y) for x in range(16) for y in range(16)
            for _ in range(4)]
    df = spark.createDataFrame(rows, "xb long, yb long")

    def envelopes(sort_col):
        # positional files of 128 rows via the exact rank
        from pyspark.sql import Window
        w = Window.orderBy(sort_col, "xb", "yb")
        d = df.withColumn("z", zorder_key(["xb", "yb"], bits=4)) \
              .withColumn("rn", F.row_number().over(w) - 1)
        return (d.groupBy((F.col("rn") / 128).cast("int").alias("f"))
                .agg(F.min("xb").alias("xmin"), F.max("xb").alias("xmax"))
                .collect())

    z_env = envelopes("z")
    y_env = envelopes("yb")

    def files_touched(env, x):
        return sum(1 for r in env if r.xmin <= x <= r.xmax)

    z_touch = sum(files_touched(z_env, x) for x in range(16))
    y_touch = sum(files_touched(y_env, x) for x in range(16))
    # y-sort: every file spans all x -> touches 8 files per query;
    # z-sort: each of the 8 files is an 8x4 Morton block, so an
    # x-point query touches exactly the 4 files of its x-half —
    # half of y-sort's cost at this file count (the gap widens with
    # more files: 64 files -> 4x4 blocks -> 8 of 64 touched, 8x)
    assert y_touch == 16 * 8
    assert z_touch == y_touch / 2, (z_touch, y_touch)


def test_merge_upsert_preserves_schema_evolved_columns(spark, tmp_out):
    """r13 review (data loss): a partition holding a schema-evolved
    column must keep it through a merge whose update batch PREDATES
    the evolution — the old projection through the batch's columns
    erased evolved columns from every rewritten partition."""
    from dynamic_partitioner_spark.operators.partitioned_write import (
        merge_upsert)

    spec = SinkSpec(name="ev", field_names=["p"])
    write_partitioned(spark.createDataFrame(
        [(1, "a", "x")], "id long, v string, p string"), spec, tmp_out)
    # evolved append: new column w lands in the SAME partition
    write_partitioned(spark.createDataFrame(
        [(2, "b", "B!", "x")], "id long, v string, w string, p string"),
        SinkSpec(name="ev", field_names=["p"],
                 append_to_partition="CREATE_OR_APPEND"), tmp_out)
    # old-schema update touches partition x (updates id=1 only)
    merge_upsert(spark, tmp_out,
                 spark.createDataFrame([(1, "a2", "x")],
                                       "id long, v string, p string"),
                 spec, ["id"])
    back = {r.id: (r.v, r.w)
            for r in read_partitioned(spark, tmp_out,
                                      merge_schema=True).collect()}
    assert back[1] == ("a2", None)       # updated row (no w yet)
    assert back[2] == ("b", "B!")        # evolved column SURVIVES


def test_merge_cdc_preserves_schema_evolved_columns(spark, tmp_out):
    """Same data-loss class for the CDC merge path."""
    from dynamic_partitioner_spark.operators.partitioned_write import (
        merge_cdc, read_cdc_table)

    spec = SinkSpec(name="cdcev", field_names=["p"],
                    overwrite_partitions=True)
    # batch 1 establishes (id, v, seq, op, p); an evolved append adds w
    merge_cdc(spark, tmp_out, spark.createDataFrame(
        [(1, "a", 1, "U", "x")],
        "id long, v string, seq long, op string, p string"),
        spec, ["id"], "seq")
    write_partitioned(spark.createDataFrame(
        [(2, "b", 1, "U", "W!", "x")],
        "id long, v string, seq long, op string, w string, p string"),
        SinkSpec(name="cdcev", field_names=["p"],
                 append_to_partition="CREATE_OR_APPEND"), tmp_out)
    # old-schema batch 2 updates id=1 — w on id=2's row must survive
    merge_cdc(spark, tmp_out, spark.createDataFrame(
        [(1, "a2", 2, "U", "x")],
        "id long, v string, seq long, op string, p string"),
        spec, ["id"], "seq")
    live = {r.id: (r.v, r.w)
            for r in read_cdc_table(spark, tmp_out).collect()}
    assert live[1] == ("a2", None)
    assert live[2] == ("b", "W!")


def test_register_table_qualified_name(spark, tmp_out):
    """r13 review: a db-qualified table name must be quoted per part —
    backticking the whole name created a literal `db.tbl` identifier
    in the current database and recoverPartitions then failed."""
    from dynamic_partitioner_spark.operators.partitioned_write import (
        register_table)

    spec = SinkSpec(name="q", field_names=["p"])
    write_partitioned(spark.createDataFrame(
        [(1, "x")], "id long, p string"), spec, tmp_out)
    spark.sql("CREATE DATABASE IF NOT EXISTS regdb")
    try:
        name = register_table(spark, spec, tmp_out,
                              table_name="regdb.events_q")
        assert name == "regdb.events_q"
        assert spark.table("regdb.events_q").count() == 1
        # and it landed in regdb, not as a dotted name in default
        assert "events_q" in [t.name for t in
                              spark.catalog.listTables("regdb")]
    finally:
        spark.sql("DROP TABLE IF EXISTS regdb.events_q")
        spark.sql("DROP DATABASE IF EXISTS regdb")


def test_write_zordered_rejects_z_name_clash(spark, tmp_out):
    """r13 review: a payload column named _z would be silently
    replaced and dropped from the export — refuse loudly instead."""
    import pytest

    from dynamic_partitioner_spark.operators.partitioned_write import (
        write_zordered)
    from dynamic_partitioner_spark.spec import SpecError

    df = spark.createDataFrame([(1, 2, 3)], "a long, b long, _z long")
    with pytest.raises(SpecError, match="_z"):
        write_zordered(df, os.path.join(tmp_out, "z"),
                       [("a", 0, 10), ("b", 0, 10)])


def test_audit_partition_files_orc_and_no_type_inference(spark, tmp_out):
    """r13 review: the audit reads through read_partitioned — it works
    on ORC datasets and keeps partition values STRING, so directories
    p=01 and p=1 stay separate audit rows instead of merging under an
    inferred int key that matches neither directory."""
    from dynamic_partitioner_spark.operators.partitioned_write import (
        audit_partition_files)

    spec = SinkSpec(name="aud", field_names=["p"], fmt="orc")
    write_partitioned(spark.createDataFrame(
        [(1, "01"), (2, "1"), (3, "1")], "id long, p string"),
        spec, tmp_out)
    rows = {r.p: (r.n_rows, r.n_files)
            for r in audit_partition_files(spark, tmp_out, ["p"],
                                           fmt="orc").collect()}
    assert set(rows) == {"01", "1"}
    assert rows["01"][0] == 1 and rows["1"][0] == 2


def test_empty_partition_value_spells_default_partition(spark, tmp_path):
    """r14 review: Spark's native writer spells a null-or-EMPTY
    partition value __HIVE_DEFAULT_PARTITION__, while
    hive_partition_path composed a bare 'f=' — so merge_upsert's
    emptied-partition existence check missed the directory the writer
    actually created and skipped its delete.  The path authority now
    matches the writer, and the listing walk maps the spelling back to
    '' so key-tuple set comparisons stay consistent."""
    from dynamic_partitioner_spark.functions.paths import (
        DEFAULT_PARTITION_NAME, hive_partition_path,
        partition_value_from_dir)

    # composed path matches what the native writer creates
    assert hive_partition_path(["f"], ("",)) == \
        f"f={DEFAULT_PARTITION_NAME}"
    assert partition_value_from_dir(DEFAULT_PARTITION_NAME) == ""
    assert partition_value_from_dir("a%20b") == "a b"

    # ground truth: the native writer's directory for an empty value
    out = str(tmp_path / "t")
    (spark.createDataFrame([("", 1)], "f string, x int")
     .write.partitionBy("f").parquet(out))
    import os
    dirs = [d for d in os.listdir(out) if d.startswith("f=")]
    assert dirs == [f"f={DEFAULT_PARTITION_NAME}"]


def test_r15_merge_preserves_empty_string_partition(spark, tmp_path):
    """r15 review: the merge member filter compared composed ''
    tuples against read-back partition columns that Spark surfaces
    as NULL for __HIVE_DEFAULT_PARTITION__ — isin never matched and
    concat_ws SKIPPED the null — so a merge touching the
    empty-string partition silently DELETED every pre-existing row
    there.  Also pins _collect_key_tuples mapping read-back NULL to
    '' (not the literal 'None')."""
    from dynamic_partitioner_spark.operators.partitioned_write import (
        merge_upsert, write_partitioned)
    from dynamic_partitioner_spark.sources.read import read_partitioned

    out = str(tmp_path / "t")
    spec = SinkSpec(name="t", field_names=["f"])
    base = spark.createDataFrame(
        [("", 1, "keep"), ("", 2, "old"), ("a", 3, "other")],
        "f string, k long, v string")
    write_partitioned(base, spec, out)
    upd = spark.createDataFrame([("", 2, "new")],
                                "f string, k long, v string")
    merge_upsert(spark, out, upd, spec, key_cols=["k"])
    got = {(r.k, r.v) for r in
           read_partitioned(spark, out, "parquet").collect()}
    # row k=1 SURVIVES the empty-partition rewrite; k=2 replaced
    assert got == {(1, "keep"), (2, "new"), (3, "other")}


def test_r15_moved_key_old_copy_always_survives(spark, tmp_path):
    """r15 review: the key-only anti-join deleted a moved key's old
    copy exactly when unrelated batch rows co-touched its source
    partition — same logical merge, two different table states.  The
    anti-join now matches on (key, partition tuple), so the
    documented leaves-the-old-copy caveat holds deterministically."""
    from dynamic_partitioner_spark.operators.partitioned_write import (
        merge_upsert, write_partitioned)
    from dynamic_partitioner_spark.sources.read import read_partitioned

    out = str(tmp_path / "t")
    spec = SinkSpec(name="t", field_names=["f"])
    base = spark.createDataFrame(
        [("p1", 10, "orig"), ("p1", 11, "bystander")],
        "f string, k long, v string")
    write_partitioned(base, spec, out)
    # k=10 moves p1 -> p2, AND another row co-touches p1
    upd = spark.createDataFrame(
        [("p2", 10, "moved"), ("p1", 11, "updated")],
        "f string, k long, v string")
    merge_upsert(spark, out, upd, spec, key_cols=["k"])
    got = {(r.f, r.k, r.v) for r in
           read_partitioned(spark, out, "parquet").collect()}
    # the old copy in p1 survives even though p1 was co-affected
    assert got == {("p1", 10, "orig"), ("p2", 10, "moved"),
                   ("p1", 11, "updated")}


def test_r15_nul_key_stage_clash_and_probe_parity(spark, tmp_path):
    """r15 review pins: NUL in a partition value refuses loudly (the
    NUL-joined merge tuple encoding would alias distinct tuples);
    stage tagging refuses to overwrite a caller's own _stage column;
    existing_touched_partitions (O(probes)) agrees with the full
    listing walk, __HIVE_DEFAULT_PARTITION__ included; register_table
    passes the SAME quoted identifier to recoverPartitions it used
    for DROP/CREATE (a dotted name exercises the multipart parse;
    the session catalog itself rejects names needing quoting, so
    consistency is the testable contract)."""
    import pytest as _pytest

    from dynamic_partitioner_spark.operators.partitioned_write import (
        existing_touched_partitions, list_existing_partitions,
        register_table, write_partitioned)
    from dynamic_partitioner_spark.spec import SpecError

    out = str(tmp_path / "t")
    spec = SinkSpec(name="t", field_names=["f"])
    with _pytest.raises(Exception, match="NUL"):
        write_partitioned(
            spark.createDataFrame([("a\x00b", 1)], "f string, x int"),
            spec, str(tmp_path / "nul"))

    staged = dataclasses.replace(spec, stage_name="ingest")
    with _pytest.raises(SpecError, match="_stage"):
        write_partitioned(
            spark.createDataFrame([("a", 1, "mine")],
                                  "f string, x int, _stage string"),
            staged, str(tmp_path / "st"))

    write_partitioned(
        spark.createDataFrame([("", 1), ("a", 2)], "f string, x int"),
        spec, out)
    walk = list_existing_partitions(spark, out, ["f"])
    assert walk == {("",), ("a",)}
    probed = existing_touched_partitions(
        spark, out, ["f"], [("",), ("a",), ("missing",)])
    assert set(probed) == walk

    register_table(spark, spec, out, table_name="default.r15_probe_tbl")
    try:
        assert spark.sql("SELECT count(*) FROM default.r15_probe_tbl") \
            .collect()[0][0] == 2
        # the empty-string partition is recovered too
        assert spark.sql(
            "SELECT count(*) FROM default.r15_probe_tbl "
            "WHERE f IS NULL OR f = ''").collect()[0][0] == 1
    finally:
        spark.sql("DROP TABLE IF EXISTS default.r15_probe_tbl")


def test_bloom_semi_join_refuses_type_mismatch_and_key_clash(spark):
    """r15 review pins: differing key types hash different string
    renderings ('28.0' vs '28') — silent false negatives the
    operator's contract forbids, so it refuses loudly; a fact column
    named '_bk' would be overwritten and dropped (the write_zordered
    '_z' clash class)."""
    import pytest as _pytest

    from dynamic_partitioner_spark.operators.bloom import bloom_semi_join
    fact_d = spark.createDataFrame([(28.0,)], "k double")
    dim_i = spark.createDataFrame([(28,)], "dk int")
    with _pytest.raises(ValueError, match="types differ"):
        bloom_semi_join(fact_d, dim_i, "k", "dk")
    fact_clash = spark.createDataFrame([(1, "x")], "k long, _bk string")
    dim_l = spark.createDataFrame([(1,)], "dk long")
    with _pytest.raises(ValueError, match="_bk"):
        bloom_semi_join(fact_clash, dim_l, "k", "dk")


def test_zorder_rejects_nan_bounds(spark):
    """r15 review pin: a NaN bound passes any comparison-based check
    (NaN <= lo is false) and would silently quantize every row into
    one bucket — clustering and pruning become no-ops with no error."""
    import pytest as _pytest

    from dynamic_partitioner_spark.functions.zorder import zorder_value
    with _pytest.raises(ValueError, match="hi > lo"):
        zorder_value([("x", float("nan"), 1.0)], bits=4)
    with _pytest.raises(ValueError, match="hi > lo"):
        zorder_value([("x", 0.0, float("nan"))], bits=4)


def test_zorder_key_sql_works_on_int32_columns(spark):
    """r15 review pin: zorder_key_sql now CASTs each input to BIGINT
    like the Spark twin's .cast('long') — on a DuckDB INTEGER column
    the shift/sum otherwise ran in 32-bit and overflowed at bit
    position >= 31 ('Out of Range') while the Spark side worked."""
    import duckdb
    import pandas as pd

    from dynamic_partitioner_spark.functions.zorder import (
        zorder_key, zorder_key_sql)
    # 4 cols x 8 bits -> top bit position 31: the 32-bit overflow zone
    cols = ["a", "b", "c", "d"]
    rows = [((i * 3) % 256, (i * 5) % 256, (i * 7) % 256,
             (i * 11) % 256) for i in range(64)]
    pdf = pd.DataFrame(rows, columns=cols)
    want = duckdb.sql(
        "SELECT " + ", ".join(cols)
        + f", {zorder_key_sql(cols, 8)} AS z "
        "FROM (SELECT CAST(a AS INTEGER) a, CAST(b AS INTEGER) b, "
        "CAST(c AS INTEGER) c, CAST(d AS INTEGER) d FROM pdf)"
    ).fetchall()
    df = spark.createDataFrame(rows, "a int, b int, c int, d int")
    got = [tuple(r) for r in
           df.withColumn("z", zorder_key(cols, 8)).collect()]
    assert sorted(got) == sorted(tuple(r) for r in want)


def test_normalize_resolves_dotted_column_names_exactly(spark):
    """r15 review pin: normalize_partition_keys resolves columns via
    df[c] (exact top-level names), never F.col(c) — a payload or key
    column literally named 'price.usd' (legal in Spark, common from
    ingested JSON/CSV headers) parsed as struct access and aborted a
    valid write."""
    import pytest as _pytest

    from dynamic_partitioner_spark.operators.partition_keys import (
        normalize_partition_keys)
    df = spark.createDataFrame([(" a ", 1.5, 7)],
                               "k string, `price.usd` double, v long")
    out = normalize_partition_keys(df, ["k"])
    assert out.columns == ["k", "price.usd", "v"]
    row = out.collect()[0]
    assert row.k == "a" and row["price.usd"] == 1.5
    # a dotted PARTITION KEY refuses loudly instead: the key columns
    # flow downstream as bare string names (groupBy, sort, member
    # filters) where a dot parses as struct access — aborting three
    # operators later (or silently reading a same-spelled struct
    # field) is the failure mode this rejects up front
    df2 = spark.createDataFrame([(3, " x ")], "v long, `region.code` string")
    with _pytest.raises(ValueError, match="plain names"):
        normalize_partition_keys(df2, ["region.code"])


# ------------------------- CREATE and overwrite as a commit-time claim

FORMATS = ["parquet", "orc", "avro"]
MODES = ["create", "overwrite"]
#: (format, write mode); the CREATE cases keep the bare format as id
FMT_MODES = [pytest.param(fmt, mode,
                          id=fmt if mode == "create" else f"{fmt}-{mode}")
             for mode in MODES for fmt in FORMATS]


def _create_spec(fmt: str, fields=("k",), mode: str = "create") -> SinkSpec:
    return SinkSpec(name="c", field_names=list(fields), fmt=fmt,
                    overwrite_partitions=mode == "overwrite")


def _batch(spark, keys, rows_per_key: int = 3):
    return spark.createDataFrame(
        [(k, i) for k in keys for i in range(rows_per_key)],
        "k string, v long")


def _staging_dirs(out: str) -> list[str]:
    return [d for d in os.listdir(out) if d.startswith(STAGING_PREFIX)]


def _tree_bytes(root: str) -> dict[str, bytes]:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = fh.read()
    return out


def _keys_on_disk(spark, out: str, fields=("k",)) -> set:
    return list_existing_partitions(spark, out, list(fields))


def _fail_nth_claim(patch, cls, n: int) -> None:
    """Make ``cls.claim`` raise on its ``n``-th call."""
    claim, calls = cls.claim, []

    def failing(self, rel):
        calls.append(rel)
        if len(calls) == n:
            raise RuntimeError("claim boom")
        return claim(self, rel)

    patch.setattr(cls, "claim", failing)


def test_staging_name_is_hidden_and_not_a_partition():
    from dynamic_partitioner_spark.sources.read import (_hidden,
                                                        is_local_scheme)
    assert STAGING_PREFIX.startswith(".") and "=" not in STAGING_PREFIX
    assert _hidden(STAGING_PREFIX + "0123abcd")
    assert is_local_scheme("file")
    assert not any(map(is_local_scheme, ("hdfs", "s3a", "gs", None)))


@pytest.mark.parametrize("fmt", FORMATS)
def test_create_concurrent_writers_exactly_one_wins(spark, tmp_path, fmt):
    """Two CREATE writers of the same batch race for one target: the
    claim lets exactly one through, the other raises, and the tree
    holds one batch's rows and no staging directory."""
    import threading
    from concurrent.futures import ThreadPoolExecutor

    out = str(tmp_path / fmt)
    batch = _batch(spark, ["a", "b", "c", "d"])
    spec = _create_spec(fmt)
    start = threading.Barrier(2, timeout=120)

    def write():
        start.wait()
        try:
            write_partitioned(batch, spec, out)
            return "ok"
        except PartitionExistsError:
            return "clash"

    with ThreadPoolExecutor(2) as pool:
        outcomes = sorted(pool.map(lambda _: write(), range(2)))
    assert outcomes == ["clash", "ok"]
    assert _keys_on_disk(spark, out) == {("a",), ("b",), ("c",), ("d",)}
    assert read_partitioned(spark, out, fmt).count() == 12
    assert _staging_dirs(out) == []


@pytest.mark.parametrize("fmt", FORMATS)
def test_create_partial_clash_rolls_back_every_claim(spark, tmp_path, fmt):
    """Keys {a, b, c} against a target holding only b: a is claimed
    first and moved back out on b's clash; c is never claimed; b keeps
    its bytes."""
    out = str(tmp_path / fmt)
    spec = _create_spec(fmt)
    write_partitioned(_batch(spark, ["b"], 1), spec, out)
    before = _tree_bytes(os.path.join(out, "k=b"))
    with pytest.raises(PartitionExistsError, match=r"\('b',\)"):
        write_partitioned(_batch(spark, ["a", "b", "c"]), spec, out)
    assert _keys_on_disk(spark, out) == {("b",)}
    assert not os.path.exists(os.path.join(out, "k=a"))
    assert not os.path.exists(os.path.join(out, "k=c"))
    assert _tree_bytes(os.path.join(out, "k=b")) == before
    assert _staging_dirs(out) == []


@pytest.mark.parametrize("fmt,mode", FMT_MODES)
def test_create_failed_write_leaves_nothing_visible(spark, tmp_path, fmt,
                                                    mode):
    """A task that raises mid-job fails the write: no partition of the
    batch appears (even those whose tasks finished), an overwrite
    replaces none, and the staging directory is gone."""
    out = str(tmp_path / fmt)
    spec = _create_spec(fmt, mode=mode)
    write_partitioned(_batch(spark, ["z", "1"], 1), spec, out)
    before = _tree_bytes(out)
    bad = spark.range(40, numPartitions=4).select(
        (F.col("id") % 8).cast("string").alias("k"),
        F.when(F.col("id") == 37, F.raise_error(F.lit("boom")))
        .otherwise(F.col("id")).alias("v"))
    with pytest.raises(Exception, match="boom"):
        write_partitioned(bad, spec, out)
    assert _keys_on_disk(spark, out) == {("z",), ("1",)}
    assert _tree_bytes(out) == before
    assert _staging_dirs(out) == []


@pytest.mark.parametrize("fmt,mode", FMT_MODES)
def test_create_two_level_keys_under_existing_parent(spark, tmp_path, fmt,
                                                     mode):
    """A new leaf lands inside an existing parent directory.  On a
    CREATE clash a parent directory the claim created goes away with
    its leaf; an overwrite replaces the existing leaf in its parent."""
    out = str(tmp_path / fmt)
    spec = _create_spec(fmt, ("a", "b"), mode)
    two = lambda keys, v=1: spark.createDataFrame(  # noqa: E731
        [(a, b, v) for a, b in keys], "a string, b string, v long")
    write_partitioned(two([("1", "1")]), spec, out)
    write_partitioned(two([("1", "2"), ("2", "1")]), spec, out)
    assert _keys_on_disk(spark, out, ("a", "b")) == {
        ("1", "1"), ("1", "2"), ("2", "1")}
    if mode == "create":
        with pytest.raises(PartitionExistsError, match=r"\('1', '1'\)"):
            write_partitioned(two([("0", "5"), ("1", "1")]), spec, out)
        assert not os.path.exists(os.path.join(out, "a=0"))
    else:
        write_partitioned(two([("0", "5"), ("1", "1")], 2), spec, out)
        assert _keys_on_disk(spark, out, ("a", "b")) == {
            ("0", "5"), ("1", "1"), ("1", "2"), ("2", "1")}
    assert sorted(os.listdir(os.path.join(out, "a=1"))) == ["b=1", "b=2"]
    back = read_partitioned(spark, out, fmt)
    assert sorted((r.a, r.b, r.v) for r in back.collect()) == sorted(
        [("1", "2", 1), ("2", "1", 1)] + (
            [("1", "1", 1)] if mode == "create"
            else [("0", "5", 2), ("1", "1", 2)]))
    assert _staging_dirs(out) == []


@pytest.mark.parametrize("fmt,mode", FMT_MODES)
def test_create_default_partition_value_is_claimed(spark, tmp_path, fmt,
                                                   mode):
    out = str(tmp_path / fmt)
    spec = _create_spec(fmt, mode=mode)
    write_partitioned(_batch(spark, ["", "x"]), spec, out)
    assert os.path.isdir(os.path.join(out, "k=__HIVE_DEFAULT_PARTITION__"))
    if mode == "create":
        with pytest.raises(PartitionExistsError, match=r"\('',\)"):
            write_partitioned(_batch(spark, [""], 1), spec, out)
    else:
        write_partitioned(_batch(spark, [""], 1), spec, out)
    assert _keys_on_disk(spark, out) == {("",), ("x",)}
    assert read_partitioned(spark, out, fmt).count() == \
        (6 if mode == "create" else 4)
    assert _staging_dirs(out) == []


@pytest.mark.parametrize("fmt", FORMATS)
def test_create_existing_empty_leaf_is_a_clash(spark, tmp_path, fmt):
    """``rename(2)`` would replace an empty target directory; the claim
    refuses it, as the old existence probe did."""
    out = str(tmp_path / fmt)
    os.makedirs(os.path.join(out, "k=a"))
    with pytest.raises(PartitionExistsError, match=r"\('a',\)"):
        write_partitioned(_batch(spark, ["a", "b"]), _create_spec(fmt), out)
    assert os.listdir(os.path.join(out, "k=a")) == []
    assert not os.path.exists(os.path.join(out, "k=b"))
    assert _staging_dirs(out) == []


@pytest.mark.parametrize("fmt", FORMATS)
def test_create_empty_batch_tree(spark, tmp_path, fmt):
    """An empty batch leaves what the unstaged write left: Spark's
    ``_SUCCESS`` marker (Parquet, ORC) or an empty directory (Avro)."""
    out = str(tmp_path / fmt)
    write_partitioned(_batch(spark, []), _create_spec(fmt), out)
    want = [] if fmt == "avro" else ["._SUCCESS.crc", "_SUCCESS"]
    assert sorted(os.listdir(out)) == want


def test_create_claims_through_filecontext_off_local_disk(
        spark, tmp_path, monkeypatch):
    """The claim used for non-``file`` schemes (``FileContext.rename``
    with ``Options.Rename.NONE``), driven on the local disk, in both
    write modes.  CREATE: an existing leaf, empty or not, is a clash,
    nothing nests inside it, and the rollback restores the tree.
    Overwrite: a claim failing mid-publish moves the retired leaves
    back, and a clean overwrite replaces them."""
    from dynamic_partitioner_spark.operators import partitioned_write as PW
    monkeypatch.setattr(PW, "is_local_scheme", lambda scheme: False)
    for mode in MODES:
        out = str(tmp_path / mode)
        spec = _create_spec("parquet", mode=mode)
        write_partitioned(_batch(spark, ["b"], 1), spec, out)
        os.makedirs(os.path.join(out, "k=d"))
        before = _tree_bytes(out)
        if mode == "create":
            for keys, clash in ((["a", "b", "c"], "b"), (["c", "d"], "d")):
                with pytest.raises(PartitionExistsError, match=f"'{clash}'"):
                    write_partitioned(_batch(spark, keys), spec, out)
                assert _tree_bytes(out) == before
            keys, rows = ["a", "c"], 7
        else:
            # b and d are retired before the fourth claim (d's) fails
            with monkeypatch.context() as m:
                _fail_nth_claim(m, PW._HadoopClaims, 4)
                with pytest.raises(RuntimeError, match="claim boom"):
                    write_partitioned(_batch(spark, ["a", "b", "c", "d"]),
                                      spec, out)
            assert _tree_bytes(out) == before
            keys, rows = ["a", "b", "c", "d"], 12
        assert sorted(d for d in os.listdir(out) if "=" in d) == \
            ["k=b", "k=d"]
        assert os.listdir(os.path.join(out, "k=d")) == []
        assert _staging_dirs(out) == []
        write_partitioned(_batch(spark, keys), spec, out)
        assert _keys_on_disk(spark, out) == {("a",), ("b",), ("c",), ("d",)}
        assert read_partitioned(spark, out).count() == rows
        assert _staging_dirs(out) == []


def test_create_into_existing_target_runs_only_the_write_jobs(spark,
                                                              tmp_path):
    """CREATE or overwrite into a target that already has partitions
    launches the same Spark jobs as an append of the same batch, in
    every format: the commit collects no keys."""
    from test_read_resolve import _jobs_during

    batch = spark.range(100).selectExpr("cast(id % 10 as string) as k",
                                        "id as v")
    for fmt in FORMATS:
        append = dataclasses.replace(_create_spec(fmt),
                                     append_to_partition="CREATE_OR_APPEND")
        for mode in MODES:
            # the overwrite's target shares keys 5-9 with the batch
            first = 100 if mode == "create" else 5
            old = spark.range(20).selectExpr(
                f"cast({first} + id as string) as k", "id as v")
            spec = _create_spec(fmt, mode=mode)
            targets = {}
            for name, s in (("write", spec), ("append", append)):
                targets[name] = str(tmp_path / f"{fmt}-{mode}-{name}")
                write_partitioned(old, s, targets[name])
            write_jobs = _jobs_during(
                spark,
                lambda: write_partitioned(batch, spec, targets["write"]))
            append_jobs = _jobs_during(
                spark,
                lambda: write_partitioned(batch, append, targets["append"]))
            assert len(write_jobs) == len(append_jobs) >= 1, (fmt, mode)
            assert len(_keys_on_disk(spark, targets["write"])) == \
                (30 if mode == "create" else 25)


@pytest.mark.parametrize("fmt,mode", FMT_MODES)
def test_create_escaped_column_name_is_claimed(spark, tmp_path, fmt, mode):
    """Spark escapes the partition column NAME as well as the value
    (``a:b`` -> ``a%3Ab=``); the claim must list the staged tree with
    that spelling, or it would find no partition and drop the batch."""
    out = str(tmp_path / fmt)
    spec = _create_spec(fmt, ("a:b",), mode)
    batch = spark.createDataFrame([("x", 1), ("y:z", 2)],
                                  "`a:b` string, v long")
    write_partitioned(batch, spec, out)
    assert sorted(d for d in os.listdir(out) if "=" in d) == \
        ["a%3Ab=x", "a%3Ab=y%3Az"]
    assert list_existing_partitions(spark, out, ["a:b"]) == {("x",), ("y:z",)}
    assert sorted(read_partitioned(spark, out, fmt).select("a:b", "v")
                  .collect()) == [("x", 1), ("y:z", 2)]
    assert _staging_dirs(out) == []
    if mode == "create":
        with pytest.raises(PartitionExistsError, match=r"\('x',\)"):
            write_partitioned(batch, spec, out)
    else:
        write_partitioned(batch, spec, out)
        assert sorted(read_partitioned(spark, out, fmt).select("a:b", "v")
                      .collect()) == [("x", 1), ("y:z", 2)]
    assert len(_tree_bytes(os.path.join(out, "a%3Ab=x"))) >= 1
    assert _staging_dirs(out) == []


@pytest.mark.parametrize("fmt", FORMATS)
def test_overwrite_failing_claim_restores_every_retired_partition(
        spark, tmp_path, monkeypatch, fmt):
    """An overwrite whose claim fails on its second partition undoes
    the publish: the first claim moves back out, both retired
    partitions move back in byte for byte, and the staging directory
    goes, its ``.retired`` subtree with it."""
    from dynamic_partitioner_spark.operators import partitioned_write as PW
    out = str(tmp_path / fmt)
    spec = _create_spec(fmt, mode="overwrite")
    write_partitioned(_batch(spark, ["a", "b", "c"], 1), spec, out)
    before = _tree_bytes(out)
    _fail_nth_claim(monkeypatch, PW._LocalClaims, 2)
    with pytest.raises(RuntimeError, match="claim boom"):
        write_partitioned(_batch(spark, ["a", "b", "new"]), spec, out)
    assert _tree_bytes(out) == before
    assert _keys_on_disk(spark, out) == {("a",), ("b",), ("c",)}
    assert _staging_dirs(out) == []


@pytest.mark.parametrize("local", [True, False])
def test_create_unclaimed_staged_files_keep_the_batch(
        spark, tmp_path, monkeypatch, local):
    """Should the staged listing miss part of the batch, the write
    fails, publishes nothing and keeps the batch in the staging
    directory instead of deleting it."""
    from dynamic_partitioner_spark.operators import partitioned_write as PW
    monkeypatch.setattr(PW, "is_local_scheme", lambda scheme: local)
    monkeypatch.setattr(PW, "list_existing_partitions",
                        lambda spark, path, fields: {("a",)})
    out = str(tmp_path / "t")
    with pytest.raises(RuntimeError, match="kept in .*" + STAGING_PREFIX):
        write_partitioned(_batch(spark, ["a", "b"]), _create_spec("parquet"),
                          out)
    assert [d for d in os.listdir(out) if "=" in d or d == "_SUCCESS"] == []
    (staging,) = _staging_dirs(out)
    assert sorted(d for d in os.listdir(os.path.join(out, staging))
                  if "=" in d) == ["k=a", "k=b"]


@pytest.mark.parametrize("local", [True, False])
def test_create_claim_recreates_a_parent_removed_under_it(
        spark, tmp_path, monkeypatch, local):
    """Another writer's rollback may remove a parent directory between
    this writer's mkdir and its rename; the claim makes the parent
    again and retries, instead of failing the write."""
    from dynamic_partitioner_spark.operators import partitioned_write as PW
    monkeypatch.setattr(PW, "is_local_scheme", lambda scheme: local)
    cls = PW._LocalClaims if local else PW._HadoopClaims
    make = cls._make_parents
    raced = []

    def racing(self, rel):
        make(self, rel)
        if not raced:
            raced.append(rel)
            os.rmdir(os.path.join(out, rel.split("/")[0]))
            self.made.clear()

    monkeypatch.setattr(cls, "_make_parents", racing)
    out = str(tmp_path / "t")
    spec = _create_spec("parquet", ("a", "b"))
    write_partitioned(spark.createDataFrame(
        [("1", "1", 1), ("2", "1", 2)], "a string, b string, v long"),
        spec, out)
    assert raced == ["a=1/b=1"]
    assert _keys_on_disk(spark, out, ("a", "b")) == {("1", "1"), ("2", "1")}
    assert _staging_dirs(out) == []
