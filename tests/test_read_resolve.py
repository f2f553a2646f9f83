"""``read_partitioned`` resolves a local tree on the driver: no Spark
job lists it or infers its schema, and the result matches Spark's own
partition discovery (partition type inference off) column for column
and row for row."""

from __future__ import annotations

import os
import uuid
from concurrent.futures import ThreadPoolExecutor

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException

from dynamic_partitioner_spark import SinkSpec, write_partitioned
from dynamic_partitioner_spark.formats.avro_py import (container_schema,
                                                       decode_container,
                                                       encode_container)
from dynamic_partitioner_spark.sources.read import (_INFER,
                                                    _LIST_THRESHOLD,
                                                    _avro_schema,
                                                    _filesystem, _hidden,
                                                    _pins,
                                                    read_partitioned)


def _jobs_during(spark, fn):
    """Spark job ids launched while ``fn()`` runs, by job group."""
    sc = spark.sparkContext
    group = f"resolve-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "read_partitioned resolve")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return list(sc.statusTracker().getJobIdsForGroup(group))


def _spark_discovery(spark, path, fmt="parquet"):
    """Spark's own read of ``path``: listing and inference as Spark
    does them, partition columns left STRING."""
    old = spark.conf.get(_INFER, None)
    spark.conf.set(_INFER, "false")
    try:
        return spark.read.format(fmt).load(path)
    finally:
        if old is None:
            spark.conf.unset(_INFER)
        else:
            spark.conf.set(_INFER, old)


def _assert_parity(spark, path, fmt="parquet"):
    got = read_partitioned(spark, path, fmt)
    want = _spark_discovery(spark, path, fmt)
    assert got.schema == want.schema
    assert sorted(map(tuple, got.collect()), key=repr) == \
        sorted(map(tuple, want.collect()), key=repr)
    return got


def _forty_partitions(spark):
    return spark.range(400).selectExpr(
        "id", "cast(id % 40 as string) as k", "id * 1.5 as v")


@pytest.mark.parametrize("fmt", ["parquet", "orc"])
def test_local_tree_resolves_without_spark_jobs(spark, tmp_path, fmt):
    """40 partition directories are above Spark's parallel-listing
    threshold of 32, yet resolving launches no job: the tree is listed
    on the driver and (Parquet) one footer is read there."""
    out = str(tmp_path / fmt)
    _forty_partitions(spark).write.partitionBy("k").format(fmt).save(out)
    frames = []
    jobs = _jobs_during(
        spark, lambda: frames.append(read_partitioned(spark, out, fmt)))
    assert jobs == []
    assert frames[0].count() == 400
    assert frames[0].schema.simpleString() == \
        "struct<id:bigint,v:decimal(23,1),k:string>"


def test_parity_engine_written_tree(spark, tmp_path):
    out = str(tmp_path / "engine")
    write_partitioned(_forty_partitions(spark),
                      SinkSpec(name="t", field_names=["k"]), out)
    _assert_parity(spark, out)


def test_parity_duckdb_tree_numeric_partition_values(spark, tmp_path):
    """A tree the engine did not write: DuckDB's own file names and
    logical types, partition values that look like numbers and dates
    (they stay STRING, with leading zeros).  DuckDB also stores the
    partition columns in the files, last and in partition order, where
    a given schema puts them too, so no Spark job runs."""
    out = str(tmp_path / "duck")
    with duckdb.connect() as con:
        con.execute(
            f"COPY (SELECT i AS id, "
            f"DATE '2020-01-01' + CAST(i AS INTEGER) AS day, "
            f"CAST(i AS DECIMAL(12, 2)) / 3 AS amount, "
            f"lpad(CAST(i % 12 AS VARCHAR), 3, '0') AS code, i % 5 AS n "
            f"FROM range(300) t(i)) TO '{out}' "
            f"(FORMAT parquet, PARTITION_BY (code, n))")
    assert _jobs_during(spark, lambda: read_partitioned(spark, out)) == []
    got = _assert_parity(spark, out)
    assert [f.name for f in got.schema.fields][-2:] == ["code", "n"]
    assert {r.code for r in got.select("code").collect()} >= {"000", "011"}


def test_parity_two_level_partitions(spark, tmp_path):
    out = str(tmp_path / "two")
    (spark.range(200)
     .selectExpr("id", "cast(id % 4 as string) as a",
                 "cast(id % 7 as string) as b", "'x' || id as s")
     .write.partitionBy("a", "b").parquet(out))
    got = _assert_parity(spark, out)
    assert got.columns == ["id", "s", "a", "b"]


def test_parity_default_partition_name(spark, tmp_path):
    """A NULL key is written as ``__HIVE_DEFAULT_PARTITION__`` and
    reads back as NULL."""
    out = str(tmp_path / "dflt")
    (spark.createDataFrame([(1, "a"), (2, None), (3, None)],
                           "id long, k string")
     .write.partitionBy("k").parquet(out))
    assert os.path.isdir(os.path.join(out, "k=__HIVE_DEFAULT_PARTITION__"))
    got = _assert_parity(spark, out)
    assert got.where("k IS NULL").count() == 2


def test_parity_ignores_hidden_siblings(spark, tmp_path):
    """``_SUCCESS``, ``.crc`` and other ``_``/``.``-prefixed names are
    not data, at the root and in partition directories, even where
    they sort before every data file."""
    out = str(tmp_path / "hidden")
    _forty_partitions(spark).write.partitionBy("k").parquet(out)
    assert os.path.exists(os.path.join(out, "_SUCCESS"))
    for rel in ("_aaa", ".aaa", "k=0/_aaa", "k=0/.aaa.crc",
                "k=0/part.parquet._COPYING_", "_tmp/junk"):
        os.makedirs(os.path.dirname(os.path.join(out, rel)), exist_ok=True)
        with open(os.path.join(out, rel), "wb") as fh:
            fh.write(b"not parquet")
    _assert_parity(spark, out)


def test_parity_footer_holding_a_partition_column(spark, tmp_path):
    """A file that stores the partition column itself: Spark keeps the
    column where the file has it, typed from the path, so the read
    falls back to Spark's inference."""
    out = tmp_path / "inner"
    for k in ("a", "b"):
        os.makedirs(out / f"k={k}")
        pq.write_table(pa.table({"id": [1, 2], "k": [k, k], "v": [0.5, 1.5]}),
                       out / f"k={k}" / "part-0.parquet")
    got = _assert_parity(spark, str(out))
    assert got.columns == ["id", "k", "v"]


def test_schema_comes_from_the_file_spark_would_pick(spark, tmp_path):
    """Without ``merge_schema`` Spark takes the schema of the first
    data file in full-path order.  ``k=1.5/...`` sorts before
    ``k=1/...`` although ``k=1`` sorts before ``k=1.5``; the walk
    must pick the same file."""
    out = tmp_path / "evolved"
    os.makedirs(out / "k=1")
    os.makedirs(out / "k=1.5")
    os.makedirs(out / "k=2")
    pq.write_table(pa.table({"id": [1]}), out / "k=1" / "a.parquet")
    pq.write_table(pa.table({"id": [2], "extra": ["e"]}),
                   out / "k=1.5" / "a.parquet")
    pq.write_table(pa.table({"id": [3], "other": [3.0]}),
                   out / "k=2" / "a.parquet")
    got = _assert_parity(spark, str(out))
    assert got.columns == ["id", "extra", "k"]


@pytest.mark.parametrize("kind", ["missing", "empty", "only_hidden"])
def test_unreadable_tree_raises_spark_error(spark, tmp_path, kind):
    """With no data file to walk to, Spark resolves and raises its own
    error: the same type and condition as a plain Spark read."""
    path = tmp_path / kind
    if kind != "missing":
        os.makedirs(path / "k=1")
    if kind == "only_hidden":
        (path / "_SUCCESS").write_bytes(b"")
    with pytest.raises(AnalysisException) as want:
        _spark_discovery(spark, str(path))
    with pytest.raises(AnalysisException) as got:
        read_partitioned(spark, str(path))
    assert got.value.getCondition() == want.value.getCondition()


def test_session_confs_restored_exactly(spark, tmp_path):
    """Every conf pinned during a read is restored exactly, also when
    the read raises: one that was unset is unset again."""
    out = str(tmp_path / "t")
    _forty_partitions(spark).write.partitionBy("k").parquet(out)
    old_infer = spark.conf.get(_INFER, None)
    spark.conf.unset(_INFER)
    try:
        before = spark.conf.getAll
        read_partitioned(spark, out)
        assert spark.conf.getAll == before
        with pytest.raises(AnalysisException):
            read_partitioned(spark, str(tmp_path / "missing"))
        assert spark.conf.getAll == before
        assert spark.conf.get(_INFER, None) is None
        assert spark.conf.get(_LIST_THRESHOLD, None) is None
    finally:
        if old_infer is not None:
            spark.conf.set(_INFER, old_infer)


def test_concurrent_reads_leave_no_pin_behind(spark, tmp_path):
    """Pins are session-wide; reads racing on several threads must
    still leave every conf as it was."""
    out = str(tmp_path / "t")
    _forty_partitions(spark).write.partitionBy("k").parquet(out)
    assert spark.conf.get(_LIST_THRESHOLD, None) is None

    def reads():
        for _ in range(4):
            read_partitioned(spark, out)

    with ThreadPoolExecutor(8) as pool:
        for f in [pool.submit(reads) for _ in range(8)]:
            f.result(timeout=120)
    assert spark.conf.get(_LIST_THRESHOLD, None) is None


def test_only_local_trees_list_on_the_driver():
    assert _pins("file") == {_INFER: "false",
                             _LIST_THRESHOLD: str(2**31 - 1)}
    for scheme in ("hdfs", "s3a", "gs", "abfss", None):
        assert _pins(scheme) == {_INFER: "false"}


def test_hidden_names_match_spark(spark):
    keep = spark._jvm.org.apache.spark.util.HadoopFSUtils
    for name in ("_SUCCESS", "_metadata", "_common_metadata", "_tmp",
                 "_k=1", ".crc", ".part-0.parquet.crc", "k=1", "part-0",
                 "part-0.parquet._COPYING_", "_metadata.bak", "a_b",
                 "__HIVE_DEFAULT_PARTITION__"):
        assert _hidden(name) == keep.shouldFilterOutPathName(name), name


def test_avro_resolve_runs_no_job(spark, tmp_path):
    """The jar-less Avro read takes its keys and header from the same
    walk, with no Spark job."""
    out = tmp_path / "av"
    df = spark.createDataFrame([(1, 2.5, "x"), (2, 3.5, "y")],
                               "id long, val double, k string")
    write_partitioned(df, SinkSpec(name="t", field_names=["k"],
                                   fmt="avro"), str(out))
    frames = []
    jobs = _jobs_during(spark, lambda: frames.append(
        read_partitioned(spark, str(out), "avro")))
    assert jobs == []
    assert frames[0].columns == ["id", "val", "k"]
    assert {(r.id, r.k) for r in frames[0].collect()} == {(1, "x"), (2, "y")}


def test_avro_header_larger_than_first_read(spark, tmp_path):
    """A header longer than the first prefix read is re-read whole."""
    from pyspark.sql import types as T
    schema = T.StructType([T.StructField(f"column_{i:04d}_" + "x" * 40,
                                         T.LongType())
                           for i in range(1500)])
    blob = encode_container([tuple(range(1500))], schema, b"\1" * 16,
                            "null")
    with pytest.raises(EOFError):
        container_schema(blob[:1 << 16])
    assert container_schema(blob) == decode_container(blob)[0]
    path = tmp_path / "wide.avro"
    path.write_bytes(blob)
    fs, root, _ = _filesystem(spark, str(path))
    assert _avro_schema(spark, fs, fs.getFileStatus(root)) == schema
