"""Guards on the bench harness itself — the writer-debris canary
(r9 VERDICT #7) must count exactly the crash-debris class and nothing
else, or a nonzero reading in BENCH_r{N}.json points the driver-red
investigation the wrong way."""
from __future__ import annotations

import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

sys.path.insert(0, REPO)

from bench import sweep_writer_debris  # noqa: E402


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
    assert sweep_writer_debris(d) == (0, [])


def test_sweep_flags_temporary_and_unreferenced_batches(tmp_path):
    d = str(tmp_path)
    _mk(f"{d}/tbl/_temporary/0")          # committer staging debris
    _mk(f"{d}/vt/_log")
    _mk(f"{d}/vt/batch-00000001")          # referenced
    _mk(f"{d}/vt/batch-00000002")          # crash debris: no commit
    json.dump({"version": 1, "mode": "append",
               "dirs": ["batch-00000001"]},
              open(f"{d}/vt/_log/00000001.json", "w"))
    n, dirs = sweep_writer_debris(d)
    assert n == 2
    assert set(dirs) == {"tbl/_temporary", "vt/batch-00000002"}


def test_sweep_skips_intentional_orphan_plants(tmp_path):
    """ops_orphan_files plants two orphans BY DESIGN — counting them
    would make every healthy bench run read nonzero."""
    d = str(tmp_path)
    _mk(f"{d}/ops_orphan_files/_log")
    _mk(f"{d}/ops_orphan_files/batch-00000099")
    _mk(f"{d}/ops_orphan_files/stray-export")
    assert sweep_writer_debris(d) == (0, [])


def test_sweep_missing_scratch_is_zero(tmp_path):
    assert sweep_writer_debris(str(tmp_path / "nope")) == (0, [])


def test_bench_full_baseline_carries_self_labels():
    """The committed BENCH_FULL.json is the round-over-round baseline;
    an overwrite that lacks the noise self-labels silenced the >1.3x
    remeasure guard for a whole round (r11 VERDICT #1 — the r10
    driver's unlabeled 368s artifact sat at HEAD while dedup_apply
    cold-read 2.18x vs the clean band).  Red any unlabeled baseline."""
    with open(os.path.join(REPO, "BENCH_FULL.json")) as f:
        doc = json.load(f)
    missing = [k for k in ("canary_ratio", "remeasured", "load",
                           "load_end", "canary_keys")
               if k not in doc]
    assert missing == [], (
        f"BENCH_FULL.json baseline lacks noise self-labels {missing} — "
        "an unlabeled artifact (e.g. a driver worktree overwrite from "
        "a pre-r10 bench.py) must not become the comparison baseline")


def test_certify_booleans_raises_on_null_and_false(spark):
    """The ops_* loud-certification helper: a FALSE invariant raises,
    and so does a NULL one — the missing-partition-key case (r10
    review: audits are built with source counts as the LEFT side, so
    a pk that vanished from the physical write shows up as nulls,
    which must be as loud as an explicit violation)."""
    import importlib.util
    import pytest

    spec = importlib.util.spec_from_file_location(
        "entry_mod_cb", os.path.join(REPO, "__spark_entry__.py"))
    m = importlib.util.module_from_spec(spec)
    sys.modules["entry_mod_cb"] = m
    spec.loader.exec_module(m)

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


def test_bounded_stdout_payload_fits_driver_tail_window():
    """r12 VERDICT #3: the driver's 2000-byte tail capture truncated
    the stdout JSON line when the remeasured dict grew to 26 entries
    (BENCH_r12 recorded parsed:null).  The payload must (a) compress
    remeasured to count + held->=1.3x names + error names, and (b)
    shrink the top-N queries until the line fits the budget — even
    with a pathological key population."""
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "bench_mod_bp", os.path.join(REPO, "bench.py"))
    B = importlib.util.module_from_spec(spec)
    sys.modules["bench_mod_bp"] = B
    spec.loader.exec_module(B)

    timings = {f"some_quite_long_key_name_{i:03d}": i * 0.017
               for i in range(300)}
    remeasured = {f"some_quite_long_key_name_{i:03d}":
                  {"first": 1.0, "median3": 1.5 if i % 2 else 0.9,
                   "prev": 1.0}
                  for i in range(40)}
    remeasured["erring_key"] = {"first": 1.0, "prev": 0.5,
                                "samples": [1.0], "error": "Boom"}
    payload = B.bounded_stdout_payload(
        timings, sum(timings.values()), 0.1, 1.01, 299,
        (1.0, 2.0, 3.0), 0.98, list(timings)[:10], remeasured,
        0, [], True)
    line = json.dumps(payload)
    assert len(line) <= 1800
    assert json.loads(line)["remeasured_n"] == 41
    # only the held->=1.3 names ride along, sorted and CAPPED — the
    # full count stays authoritative in remeasured_hot_n (r16 VERDICT
    # #2: a long hot list must never squeeze the queries window)
    assert all("_00" in k or "_01" in k or "_02" in k or "_03" in k
               for k in payload["remeasured_hot"])
    assert payload["remeasured_hot_n"] == 20
    assert len(payload["remeasured_hot"]) <= 8
    assert payload["remeasured_err"] == ["erring_key"]
    # even this pathologically long-named population keeps a usable
    # queries window (the realistic-width top-30 pin is the
    # mass-remeasure test below)
    assert len(payload["queries"]) >= 20
    # a small population keeps the full top-30
    small = B.bounded_stdout_payload(
        {"k": 1.0}, 1.0, 0.1, None, 0, (0.0, 0.0, 0.0), None, [],
        {}, 0, [], None)
    assert small["queries"] == {"k": 1.0}


def test_bounded_stdout_payload_truncates_pathological_hot_list():
    """Even a mass-regression run (every key held >=1.3x) must yield a
    parseable line: the name lists truncate once the queries dict has
    shrunk to nothing."""
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "bench_mod_bp2", os.path.join(REPO, "bench.py"))
    B = importlib.util.module_from_spec(spec)
    sys.modules["bench_mod_bp2"] = B
    spec.loader.exec_module(B)

    timings = {f"another_rather_long_key_name_{i:03d}": 1.0
               for i in range(200)}
    remeasured = {k: {"first": 2.0, "median3": 1.9, "prev": 1.0}
                  for k in timings}
    payload = B.bounded_stdout_payload(
        timings, 200.0, 0.1, 1.9, 200, (0.0, 0.0, 0.0), 1.0,
        list(timings)[:10], remeasured, 0, [], True)
    line = json.dumps(payload)
    assert len(line) <= 1800
    assert json.loads(line)["remeasured_n"] == 200  # count survives


def test_bounded_stdout_payload_keeps_top30_under_mass_remeasure():
    """r16 VERDICT #2 pin: the driver run whose remeasure pass fired
    on 83 keys collapsed the stdout queries window to 6 (then the r17
    rerun to 0), leaving the round's PERF table almost no comparable
    keys.  A simulated 83-key remeasure with realistic key-name widths
    must still emit the full top-30 queries dict."""
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "bench_mod_bp3", os.path.join(REPO, "bench.py"))
    B = importlib.util.module_from_spec(spec)
    sys.modules["bench_mod_bp3"] = B
    spec.loader.exec_module(B)

    # the real 258-key surface averages 16.6 chars/key (r17 measured);
    # bench.py rounds timings to 3dp before they reach the payload
    timings = {f"key_width_match_{i:03d}": round(1.0 + i * 0.017, 3)
               for i in range(258)}
    remeasured = {k: {"first": 2.0, "median3": 1.9, "prev": 1.0}
                  for k in list(timings)[:83]}
    payload = B.bounded_stdout_payload(
        timings, 500.0, 0.1, 1.27, 258, (0.3, 1.6, 1.8), 1.16,
        list(timings)[:10], remeasured, 0, [], True)
    line = json.dumps(payload)
    assert len(line) <= 1800
    assert len(json.loads(line)["queries"]) == 30
    assert json.loads(line)["remeasured_hot_n"] == 83


def test_hot_start_load_redirects_baseline_write():
    """r15 VERDICT #4 (third recurrence of a hot driver run
    overwriting the committed quiet baseline): at/above the quiet
    policy the full-detail write goes to a gitignored *_hot*.json
    side file; below it the committed baseline file is used.  r16
    ADVICE additions: a drain tail (5-min load >= 1.0 with a quiet
    1-min average) is hot too, and the side file carries the core
    count so two runs at different widths cannot clobber each other
    (r16 VERDICT #3)."""
    import bench

    assert bench.baseline_out_name("BENCH_FULL.json", (0.49, 0.9, 0.9),
                                   32) == "BENCH_FULL.json"
    assert bench.baseline_out_name("BENCH_FULL.json", (0.5, 0.2, 0.1),
                                   32) == "BENCH_FULL_hot_c32.json"
    assert bench.baseline_out_name("BENCH_FULL.json", (3.35, 3.0, 2.0),
                                   8) == "BENCH_FULL_hot_c8.json"
    # the r17 drain case: 1-min quiet, 5-min still draining pytest
    assert bench.baseline_out_name("BENCH_FULL.json", (0.29, 1.59, 1.79),
                                   32) == "BENCH_FULL_hot_c32.json"
    # no cpus known -> legacy name, still a side file
    assert bench.baseline_out_name("BENCH_FULL.json", (0.5, 0.2, 0.1),
                                   None) == "BENCH_FULL_hot.json"
    assert bench.baseline_out_name("BENCH_FULL_sf0.01.json",
                                   (2.0, 2.0, 2.0), 32) \
        == "BENCH_FULL_sf0.01_hot_c32.json"
    # the stdout payload must be able to NAME the side file so the
    # round artifact records where the detail went
    p = bench.bounded_stdout_payload(
        {"k": 1.0}, 1.0, 0.1, None, 0, [3.4, 1.0, 0.5], None, [], {},
        0, [], True, detail="BENCH_FULL_hot.json")
    assert p["detail"] == "BENCH_FULL_hot.json"
