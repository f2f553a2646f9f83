"""Tests of the benchmark itself, on the fast ``--scale smoke`` preset.

    python -m pytest perfbench/tests -q

Each Spark-backed test runs the benchmark as a subprocess (one JVM per
run, as the benchmark is used) with a work directory under pytest's
temporary directory.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, ROOT)
sys.path.insert(0, BENCH)

import fixtures  # noqa: E402
import run  # noqa: E402
from tracing import LAYERS, Span, self_times  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)

#: the workload-named end-to-end metrics and their units
NAMED_UNITS = {
    "setup_s": "s",
    "ingest_rows_per_s": "1/s", "ingest_batch_p50_s": "s",
    "ingest_batch_tail_s": "s",
    "scan_p50_s": "s", "scan_tail_s": "s", "scans_per_s": "1/s",
    "upsert_p50_s": "s", "upsert_tail_s": "s", "upserted_rows_per_s": "1/s",
    "curate_p50_s": "s", "curate_tail_s": "s",
    "ingest_batch_cpu_p50_s": "s", "scan_cpu_p50_s": "s",
    "upsert_cpu_p50_s": "s", "curate_cpu_p50_s": "s",
    "stored_bytes_per_row": "B", "files_per_partition": "count",
    "peak_rss_mb": "MB", "failed_op_ratio": "ratio",
}


def bench(tmp_path, *args: str) -> tuple[list[str], dict]:
    """Run the benchmark; return its report lines and final JSON."""
    p = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--scale", "smoke",
         "--seconds", "1", "--seed", "3",
         "--workdir", str(tmp_path / "work"), *args],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert p.returncode == 0, p.stderr[-4000:]
    lines = p.stdout.strip().splitlines()
    assert not (tmp_path / "work").exists(), "work directory left behind"
    return lines[:-1], json.loads(lines[-1])


def printed(lines: list[str]) -> dict[str, tuple[float, str]]:
    out = {}
    for line in lines:
        parts = line.split()
        if len(parts) >= 4 and parts[3].startswith("n="):
            out[parts[0]] = (float(parts[1]), parts[2])
    return out


def test_all_workloads_print_every_named_metric(tmp_path):
    lines, result = bench(tmp_path, "--workload", "all")
    got = printed(lines)
    for name, unit in NAMED_UNITS.items():
        assert name in got, f"{name} not printed"
        assert got[name][1] == unit, (name, got[name])
    assert got["failed_op_ratio"][0] == 0.0
    assert result["correct"] and result["failed"] == 0
    assert result["attempted"] >= 8
    assert lines[0].startswith("host ")
    host = json.loads(lines[0][5:])
    for key in ("cores", "cpu_steal_pct", "master", "loadavg_start",
                "loadavg_end", "spark", "java", "python"):
        assert key in host


def test_wrong_expected_answer_counts_as_failure(tmp_path):
    lines, result = bench(tmp_path, "--workload", "scan",
                          "--oracle-offset", "1")
    assert result["correct"] is False
    assert result["failed"] == result["attempted"] > 0
    assert printed(lines)["failed_op_ratio"][0] == 1.0
    # a single-workload result carries exactly the gated metrics
    assert {k: v["unit"] for k, v in result["metrics"].items()} == {
        m["name"]: m["unit"] for m in SPEC["end_to_end"]}


def test_traced_run_reports_every_layer(tmp_path):
    lines, result = bench(tmp_path, "--workload", "all", "--trace", "1")
    assert result["correct"]
    got = printed(lines)
    layer_units = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
    assert layer_units == run.LAYER_UNITS
    for wl in ("ingest", "scan", "upsert", "curate"):
        for name, unit in layer_units.items():
            assert got[f"{wl}:{name}"][1] == unit
            assert result["metrics"][f"{wl}:{name}"]["unit"] == unit
        for layer in LAYERS:
            assert f"{wl}:{layer}.self_s" in got
        assert f"{wl}:trace.overhead_s" in got
    # each workload exercises the layers it is named for
    assert got["scan:read.resolve_s"][0] > 0
    assert got["scan:read.execute_s"][0] > 0
    assert got["ingest:avro_py.write_s"][0] > 0
    assert got["ingest:partitioned_write.orc.write_s"][0] > 0
    assert got["ingest:partitioned_write.existence_check_s"][0] > 0
    assert got["ingest:partition_keys.noop_pass_s"][0] > 0
    assert got["upsert:partitioned_write.merge_s"][0] > 0
    assert got["upsert:partitioned_write.touched_partitions"][0] > 0
    assert got["curate:dedup.apply_dedup_s"][0] > 0
    assert 0 < got["curate:dedup.pair_yield"][0] <= 1
    assert got["curate:partitioned_write.existence_check_s"][0] == 0


def test_tail_is_highest_percentile_with_ten_beyond():
    samples = [float(i) for i in range(1, 41)]      # 1..40
    value, pct = run.tail(samples)
    assert value == 30.0 and pct == 75.0
    assert sum(1 for s in samples if s > value) == 10
    assert run.tail([3.0, 1.0, 2.0]) == (3.0, 100.0)


def test_self_time_subtracts_direct_children():
    spans = [Span("bench.x", 1, 1, None, 0.0, 10.0),
             Span("partitioned_write.merge_upsert", 1, 2, 1, 1.0, 9.0),
             Span("read.read_partitioned", 1, 3, 2, 2.0, 4.0),
             Span("partitioned_write.write_partitioned", 1, 4, 2, 5.0, 8.0)]
    st = self_times(spans)
    assert st == {1: 2.0, 2: 3.0, 3: 2.0, 4: 3.0}


@pytest.mark.parametrize("rows, block_rows", [(0, 10), (1, 10), (25, 10)])
def test_avro_row_count_reads_block_headers(tmp_path, rows, block_rows):
    """The ingest oracle's Avro counter agrees with the engine's codec
    on empty, single-block and multi-block containers."""
    from pyspark.sql import types as T

    from dynamic_partitioner_spark.formats.avro_py import encode_container
    schema = T.StructType([T.StructField("a", T.LongType()),
                           T.StructField("b", T.StringType())])
    path = tmp_path / "t.avro"
    path.write_bytes(encode_container(((i, "x" * i) for i in range(rows)),
                                      schema, b"s" * 16,
                                      block_rows=block_rows))
    assert fixtures.avro_rows(str(path)) == rows


def test_fails_without_the_engine(tmp_path):
    """With only the benchmark present it exits nonzero and prints no
    result line."""
    alone = tmp_path / "alone"
    alone.mkdir()
    subprocess.run(["cp", "-r", BENCH, os.path.join(ROOT, "BENCHMARK.json"),
                    str(alone)], check=True)
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "scan",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=alone, capture_output=True, text=True, timeout=120)
    assert p.returncode != 0
    assert '"correct"' not in p.stdout
    assert not (alone / ".perfbench_work").exists()


@pytest.mark.parametrize("argv", [["--workload", "nope"], []])
def test_bad_arguments_exit_nonzero(argv):
    with pytest.raises(SystemExit) as e:
        run.parse_args(argv)
    assert e.value.code != 0
