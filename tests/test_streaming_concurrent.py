"""Contention hardening (r7 VERDICT item 2): streaming keys must stay
correct when the machine is busy — two availableNow drains running
CONCURRENTLY in the same session, each against its own scratch dirs,
must both complete and produce exactly the single-threaded result."""

from __future__ import annotations

import os
import shutil
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import functions as F

from dynamic_partitioner_spark.operators.partitioned_write import (
    read_cdc_table, read_partitioned)
from dynamic_partitioner_spark.spec import SinkSpec
from dynamic_partitioner_spark.streaming.write import (
    run_stream_to_completion, run_streaming_upsert, stream_from_files,
    stream_write_partitioned)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

SF_DIR = "/root/testdata/sf0.001"
SCRATCH = os.path.join(REPO, ".scratch/tests/concurrent")


def _dirs(*names: str) -> list[str]:
    out = []
    for n in names:
        p = f"{SCRATCH}/{n}"
        shutil.rmtree(p, ignore_errors=True)
        out.append(p)
    return out


def _changes(spark):
    # the seq expression is SHARED with q_streaming_upsert — this test
    # must validate the exact CDC ordering the driver key ships
    from __spark_entry__ import cdc_change_seq

    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    return li.select(
        "l_orderkey", cdc_change_seq(),
        F.when(F.col("l_partkey") % 11 == 0, "D").otherwise("U")
        .alias("op"),
        "l_quantity",
        (F.col("l_orderkey") % 5).alias("bucket"))


def _run_upsert(spark, tag: str) -> int:
    src, dest, ckpt = _dirs(f"up_src_{tag}", f"up_dest_{tag}",
                            f"up_ckpt_{tag}")
    _changes(spark).repartition(2).write.parquet(src)
    spec = SinkSpec(name=f"cdc_{tag}", field_names=["bucket"])
    run_streaming_upsert(spark, src, dest, ckpt, spec,
                         ["l_orderkey"], "seq")
    return read_cdc_table(spark, dest).count()


def _run_partitioned(spark, tag: str) -> int:
    import os

    src, dest, ckpt = _dirs(f"pw_src_{tag}", f"pw_dest_{tag}",
                            f"pw_ckpt_{tag}")
    os.makedirs(src)
    os.symlink(f"{SF_DIR}/lineitem.parquet", f"{src}/lineitem.parquet")
    sdf = stream_from_files(spark, src)
    # CREATE mode is rejected by the streaming sink (r14 review) —
    # micro-batches append by construction
    spec = SinkSpec(name=f"pw_{tag}", field_names=["l_returnflag"],
                    append_to_partition="CREATE_OR_APPEND")
    q = stream_write_partitioned(sdf, spec, dest, ckpt)
    run_stream_to_completion(q)
    return read_partitioned(spark, dest).count()


def test_two_streams_concurrently_match_solo(spark):
    # solo baselines first
    expect_upsert = _run_upsert(spark, "solo")
    expect_pw = _run_partitioned(spark, "solo")
    assert expect_upsert > 0 and expect_pw > 0
    with ThreadPoolExecutor(max_workers=2) as ex:
        f1 = ex.submit(_run_upsert, spark, "par")
        f2 = ex.submit(_run_partitioned, spark, "par")
        assert f1.result(timeout=600) == expect_upsert
        assert f2.result(timeout=600) == expect_pw


def test_two_upserts_concurrently(spark):
    """The same operator racing itself — distinct checkpoint/dest dirs
    must make the runs fully independent."""
    with ThreadPoolExecutor(max_workers=2) as ex:
        fa = ex.submit(_run_upsert, spark, "a")
        fb = ex.submit(_run_upsert, spark, "b")
        ra, rb = fa.result(timeout=600), fb.result(timeout=600)
    assert ra == rb > 0
