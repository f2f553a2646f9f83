"""Pure-Python Avro codec + partitioned Avro sink fallback (S2,
reference AvroDynamicPartitionedDatasetSink.java:53-134).

Hypothesis round-trips the binary codec over the six reference
primitives + bytes + nullables (SURVEY.md §1.3); the e2e test pins the
golden 3-partition layout from the reference's own sink test
(DynamicPartitionedFilesetSinkTest.java:133-162).
"""

from __future__ import annotations

import glob
import os

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import types as T

from dynamic_partitioner_spark.formats import (decode_container,
                                               encode_container,
                                               read_avro_partitioned)
from dynamic_partitioner_spark.operators.partitioned_write import (
    STAGING_PREFIX, write_partitioned)
from dynamic_partitioner_spark.spec import SinkSpec

SCHEMA = T.StructType([
    T.StructField("s", T.StringType(), True),
    T.StructField("l", T.LongType(), False),
    T.StructField("i", T.IntegerType(), True),
    T.StructField("d", T.DoubleType(), False),
    T.StructField("b", T.BooleanType(), False),
    T.StructField("y", T.BinaryType(), True),
])

row_st = st.tuples(
    st.one_of(st.none(), st.text(max_size=50)),
    st.integers(min_value=-(2**63), max_value=2**63 - 1),
    st.one_of(st.none(), st.integers(min_value=-(2**31), max_value=2**31 - 1)),
    st.floats(allow_nan=False),
    st.booleans(),
    st.one_of(st.none(), st.binary(max_size=30)),
)


@settings(max_examples=50, deadline=None)
@given(st.lists(row_st, max_size=50))
def test_codec_roundtrip(rows):
    blob = encode_container(iter(rows), SCHEMA, b"\x07" * 16, "deflate")
    schema, back = decode_container(blob)
    assert back == rows
    assert [(f.name, f.dataType, f.nullable) for f in schema.fields] == \
           [(f.name, f.dataType, f.nullable) for f in SCHEMA.fields]


def test_codec_null_codec_and_block_split():
    rows = [("x" * 100, i, i, float(i), True, b"z") for i in range(10)]
    blob = encode_container(iter(rows), SCHEMA, b"\x01" * 16, "null",
                            block_rows=3)  # forces 4 blocks
    _, back = decode_container(blob)
    assert back == rows


def test_codec_rejects_nested_types():
    bad = T.StructType([T.StructField("a", T.ArrayType(T.LongType()), True)])
    with pytest.raises(ValueError, match="unsupported type"):
        encode_container(iter([]), bad, b"\x00" * 16)


def test_avro_sink_golden_layout(spark, purchase_df, tmp_out):
    """Reference golden test: 6 purchases, 3 distinct dates → exactly 3
    partition dirs, full contents round-trip."""
    spec = SinkSpec(name="p", field_names=["purchase_date"], fmt="avro")
    write_partitioned(purchase_df, spec, tmp_out)

    dirs = sorted(os.path.basename(p) for p in
                  glob.glob(os.path.join(tmp_out, "purchase_date=*")))
    assert dirs == ["purchase_date=2009-01-01", "purchase_date=2009-01-02",
                    "purchase_date=2009-01-03"]

    payload = T.StructType([T.StructField("id", T.LongType(), True),
                            T.StructField("first_name", T.StringType(), True)])
    back = read_avro_partitioned(spark, tmp_out, ["purchase_date"], payload)
    got = {(r.id, r.first_name, r.purchase_date) for r in back.collect()}
    want = {tuple(r) for r in purchase_df.collect()}
    assert got == want


def test_avro_sink_rejects_unsupported_codec(spark, purchase_df, tmp_out):
    spec = SinkSpec(name="p", field_names=["purchase_date"], fmt="avro",
                    compression_codec="snappy")
    with pytest.raises(ValueError, match="null/deflate"):
        write_partitioned(purchase_df, spec, tmp_out)


def test_avro_fallback_dynamic_overwrite(spark, purchase_df, tmp_out):
    """Dynamic overwrite through the fallback: rewrite ONE date with a
    replacement row — that partition holds only the new row, every other
    partition survives byte-untouched."""
    from pyspark.sql import Row

    spec = SinkSpec(name="p", field_names=["purchase_date"], fmt="avro")
    write_partitioned(purchase_df, spec, tmp_out)

    repl = spark.createDataFrame(
        [Row(id=999, first_name="replacement", purchase_date="2009-01-02")],
        purchase_df.schema)
    write_partitioned(
        repl, SinkSpec(name="p", field_names=["purchase_date"], fmt="avro",
                       overwrite_partitions=True), tmp_out)

    payload = T.StructType([T.StructField("id", T.LongType(), True),
                            T.StructField("first_name", T.StringType(), True)])
    back = read_avro_partitioned(spark, tmp_out, ["purchase_date"], payload)
    got = {(r.id, r.first_name, r.purchase_date) for r in back.collect()}
    want = {tuple(r) for r in purchase_df.collect()
            if r.purchase_date != "2009-01-02"}
    want.add((999, "replacement", "2009-01-02"))
    assert got == want
    # the staging directory and its retired partition are gone
    assert [d for d in os.listdir(tmp_out)
            if d.startswith(STAGING_PREFIX)] == []


def test_datasource_probe_mechanism(spark):
    """The registry probe must say True for built-in providers — if the
    probe call itself were broken (e.g. the wrong lookupDataSource
    overload), parquet would come back False and the avro fast path
    would be unreachable on every deployment."""
    from dynamic_partitioner_spark.operators.partitioned_write import (
        datasource_available, spark_avro_available)

    assert datasource_available(spark, "parquet")
    assert datasource_available(spark, "orc")
    assert not datasource_available(spark, "no-such-datasource")
    # this container has no spark-avro jar; on a deployment that does,
    # write_partitioned switches to df.write.format("avro") automatically
    assert spark_avro_available(spark) is False


def test_read_partitioned_falls_back_without_jar(spark, tmp_path):
    """Datasets the write-side pure-Python fallback produced are
    readable through the generic read_partitioned entry point (the
    same one merge/compact/register use) — self-describing schema from
    the container header, partition fields from the tree."""
    from dynamic_partitioner_spark.operators.partitioned_write import (
        write_partitioned)
    from dynamic_partitioner_spark.sources.read import read_partitioned
    from dynamic_partitioner_spark.spec import SinkSpec

    out = str(tmp_path / "av")
    df = spark.createDataFrame(
        [(1, 2.5, "x"), (2, 3.5, "y"), (3, 4.5, "x")],
        "id long, val double, k string")
    write_partitioned(df, SinkSpec(name="t", field_names=["k"],
                                   fmt="avro"), out)
    back = read_partitioned(spark, out, "avro")
    assert {(r.id, r.val, r.k) for r in back.collect()} == \
        {(1, 2.5, "x"), (2, 3.5, "y"), (3, 4.5, "x")}


def test_fallback_preserves_nan_and_appends_coexist(spark, tmp_path):
    """NaN is a legitimate double value: the fallback writes it as NaN
    (matching spark-avro), not as null; and two separate append jobs
    land distinct files whose rows coexist."""
    import math

    from dynamic_partitioner_spark.formats.avro_py import (
        read_avro_partitioned, write_avro_partitioned)
    from pyspark.sql import types as T

    out = str(tmp_path / "nanav")
    df = spark.createDataFrame(
        [(1, float("nan"), "a"), (2, 2.5, "a"), (3, None, "a")],
        "id long, val double, k string")
    write_avro_partitioned(df, ["k"], out)
    write_avro_partitioned(
        spark.createDataFrame([(4, 4.5, "a")],
                              "id long, val double, k string"),
        ["k"], out)
    schema = T.StructType([T.StructField("id", T.LongType()),
                           T.StructField("val", T.DoubleType())])
    back = {r.id: r.val for r in
            read_avro_partitioned(spark, out, ["k"], schema).collect()}
    assert len(back) == 4
    assert math.isnan(back[1])               # NaN survived as NaN
    assert back[3] is None and back[2] == 2.5 and back[4] == 4.5


def test_avro_dispatch_prefers_spark_avro_when_available(
        spark, tmp_path, monkeypatch):
    """The preferred ``format("avro")`` branch is dead code in this
    container (no spark-avro jar) — pin its dispatch without executing
    the write: with availability monkeypatched TRUE, write_partitioned
    must route to the connector with the right mode, options, partition
    columns and path; with FALSE, to the pure-Python fallback."""
    from dynamic_partitioner_spark.operators import partitioned_write as PW

    df = spark.createDataFrame([(1, 2.5, "x"), (2, 3.5, "y")],
                               "id long, val double, k string")
    spec = SinkSpec(name="avrodisp", field_names=["k"], fmt="avro",
                    compression_codec="snappy",
                    append_to_partition="Yes",       # skip CREATE listing
                    max_records_per_file=777)
    out = str(tmp_path / "avrodisp")

    calls = {"options": {}}

    class Recorder:
        def mode(self, m):
            calls["mode"] = m
            return self

        def option(self, k, v):
            calls["options"][k] = v
            return self

        def partitionBy(self, *cols):
            calls["partitionBy"] = cols
            return self

        def format(self, f):
            calls["format"] = f
            return self

        def save(self, path):
            calls["path"] = path

    monkeypatch.setattr(PW, "spark_avro_available", lambda _s: True)
    # patch the RUNTIME class (pyspark.sql.classic.dataframe.DataFrame
    # under Spark 4 — the base pyspark.sql.DataFrame property is
    # shadowed by the subclass)
    monkeypatch.setattr(type(df), "write",
                        property(lambda self: Recorder()))
    got = PW.write_partitioned(df, spec, out)
    assert got == out
    assert calls["format"] == "avro"
    assert calls["mode"] == "append"
    assert calls["partitionBy"] == ("k",)
    assert calls["path"] == out
    assert calls["options"]["maxRecordsPerFile"] == "777"
    assert calls["options"]["compression"] == "snappy"

    # availability FALSE → the fallback codec path, with the same
    # layout arguments (codec name normalized)
    fb = {}

    def fake_fallback(ndf, fields, path, codec):
        fb.update(fields=fields, path=path, codec=codec)
        return path

    monkeypatch.setattr(PW, "spark_avro_available", lambda _s: False)
    import dynamic_partitioner_spark.formats as FMT
    monkeypatch.setattr(FMT, "write_avro_partitioned", fake_fallback)
    got2 = PW.write_partitioned(df, spec, out)
    assert got2 == out
    assert fb == {"fields": ["k"], "path": out, "codec": "snappy"}


def test_nullable_long_beyond_2_53_survives_nulls(spark, tmp_path):
    """r13 review (data corruption): Arrow hands int64-with-nulls to
    pandas as float64, which rounds values beyond 2^53 — the writer
    now coalesces + masks integer columns like it always did floats,
    so the exact long AND the null both round-trip."""
    from dynamic_partitioner_spark.formats import (
        read_avro_partitioned, write_avro_partitioned)

    big = 9_007_199_254_740_993            # 2^53 + 1: float64 rounds it
    df = spark.createDataFrame([(big, "x"), (None, "x")],
                               "id long, p string")
    out = str(tmp_path / "t")
    write_avro_partitioned(df, ["p"], out, codec="null")
    back = read_avro_partitioned(
        spark, out, ["p"],
        T.StructType([T.StructField("id", T.LongType())]))
    got = sorted((r.id for r in back.collect()),
                 key=lambda v: (v is None, v))
    assert got == [big, None]


def test_all_partition_column_payload_keeps_rows(spark, tmp_path):
    """r13 review (silent row loss): with EVERY column a partition
    key, itertuples over the zero-column payload frame yielded nothing
    and the container was written empty while stats claimed the real
    count — one empty record per row is emitted now."""
    from dynamic_partitioner_spark.formats import (
        read_avro_partitioned, write_avro_partitioned)

    df = spark.createDataFrame([("a",), ("a",), ("b",)], "p string")
    out = str(tmp_path / "t")
    write_avro_partitioned(df, ["p"], out, codec="null")
    back = read_avro_partitioned(spark, out, ["p"], T.StructType([]))
    assert sorted(r.p for r in back.collect()) == ["a", "a", "b"]


def test_partition_value_from_innermost_dir(spark, tmp_path):
    """r13 review: a BASE path containing '/{field}=' (a date-stamped
    run dir) matched first and stamped every row with the base path's
    value — the innermost occurrence is the real partition dir."""
    from dynamic_partitioner_spark.formats import (
        read_avro_partitioned, write_avro_partitioned)

    out = str(tmp_path / "date=2026-08-16" / "out")
    os.makedirs(os.path.dirname(out))
    df = spark.createDataFrame([(1, "2001-01-01"), (2, "2002-02-02")],
                               "id long, date string")
    write_avro_partitioned(df, ["date"], out, codec="null")
    back = {r.id: r.date for r in read_avro_partitioned(
        spark, out, ["date"],
        T.StructType([T.StructField("id", T.LongType())])).collect()}
    assert back == {1: "2001-01-01", 2: "2002-02-02"}


def test_encode_container_rejects_unknown_codec():
    """r13 review: the container metadata claims the codec — writing
    it over uncompressed blocks would make every conformant reader
    mis-decode; refuse up front."""
    from dynamic_partitioner_spark.formats import encode_container

    schema = T.StructType([T.StructField("k", T.LongType())])
    with pytest.raises(ValueError, match="snappy"):
        encode_container(iter([(1,)]), schema, b"0" * 16, codec="snappy")


def test_failed_write_cleans_its_own_partials(spark, tmp_path,
                                              monkeypatch):
    """r13 review: succeeded tasks' files from a FAILED job are
    token-unique — the failure path removes them, so a whole-call
    retry cannot duplicate their rows."""
    from dynamic_partitioner_spark.formats import avro_py as A

    df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, p string")
    out = str(tmp_path / "t")
    real_encode = A.encode_container
    def sometimes_boom(rows, schema, sync, codec="deflate", **kw):
        rows = list(rows)
        if any(r[0] == 2 for r in rows):
            raise RuntimeError("task boom")
        return real_encode(iter(rows), schema, sync, codec, **kw)
    monkeypatch.setattr(A, "encode_container", sometimes_boom)
    with pytest.raises(Exception):
        A.write_avro_partitioned(df, ["p"], out, codec="null")
    monkeypatch.undo()
    # partition a's task may have succeeded before b failed — its
    # partial file must be gone either way
    assert glob.glob(f"{out}/**/*.avro", recursive=True) == []
    # the retry writes cleanly, no duplicates
    A.write_avro_partitioned(df, ["p"], out, codec="null")
    from dynamic_partitioner_spark.sources.read import read_partitioned
    assert read_partitioned(spark, out, "avro").count() == 2


def test_avro_rejects_invalid_field_names(spark, tmp_path):
    """r15 review pin: a column like 'order date' writes fine and
    round-trips through this module, but every conformant Avro reader
    rejects the container's schema — fail at write time instead."""
    from dynamic_partitioner_spark.formats.avro_py import (
        avro_schema_json, write_avro_partitioned)
    bad = T.StructType([T.StructField("order date", T.LongType(), True)])
    with pytest.raises(ValueError, match="valid Avro name"):
        avro_schema_json(bad)
    df = spark.createDataFrame([(1, "a")], "`order date` long, p string")
    with pytest.raises(ValueError, match="valid Avro name"):
        write_avro_partitioned(df, ["p"], str(tmp_path / "t"))


def test_read_names_missing_partition_dir(spark, tmp_path):
    """r15 review pin: reading a tree by a field the path does not
    contain previously died as an opaque executor IndexError — it
    now names the file and the missing field."""
    from dynamic_partitioner_spark.formats.avro_py import (
        read_avro_partitioned, write_avro_partitioned)
    df = spark.createDataFrame([(1, "a")], "id long, p string")
    out = str(tmp_path / "t")
    write_avro_partitioned(df, ["p"], out)
    payload = T.StructType([T.StructField("id", T.LongType(), True)])
    with pytest.raises(Exception, match="not partitioned by"):
        read_avro_partitioned(spark, out, ["q"], payload).collect()


def test_null_mask_label_clash_refuses(spark, tmp_path):
    """r15 review pin: a payload column literally named '__null_x'
    collides with the writer's internal mask label and crashed pandas
    mid-write — refuse up front."""
    from dynamic_partitioner_spark.formats.avro_py import (
        write_avro_partitioned)
    df = spark.createDataFrame([(1.0, "y", "a")],
                               "x double, __null_x string, p string")
    with pytest.raises(ValueError, match="null-mask"):
        write_avro_partitioned(df, ["p"], str(tmp_path / "t"))
