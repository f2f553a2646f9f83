"""Per-key scale-sweep runs must MERGE into the existing SCALING.md
main table — a 2-key spot run that rewrote the table with only the
measured keys silently dropped ~200 adjudicated rows (r12).  Pure
string-level tests over tools/scale_sweep.py's merge unit."""

from __future__ import annotations

import importlib.util
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _sweep():
    spec = importlib.util.spec_from_file_location(
        "sweep_mod", os.path.join(REPO, "tools/scale_sweep.py"))
    m = importlib.util.module_from_spec(spec)
    sys.modules["sweep_mod"] = m
    spec.loader.exec_module(m)
    return m


_MD = """# Scale sweep — measured runtime vs scale factor

prose here

| key | sf0.001 | sf0.01 | sf0.1 | rows@0.1 | slope |
|---|---|---|---|---|---|
| old_key_a | 1.00s | 1.10s | 2.20s | 10 | +0.30 |
| old_key_b | 0.50s | 0.60s | 0.70s | 20 | +0.07 |

tail prose

## sf1 spot-run — the data-bound tail at 10x

| key | sf0.1 | sf1 | rows@1 | slope 0.1→1 |
|---|---|---|---|---|
| spot_key | 2.00s | 9.00s | 99 | +0.65 |
"""


def test_merge_keeps_unmeasured_rows_and_prefers_fresh():
    S = _sweep()
    fresh = {"old_key_a": ("| old_key_a | 1.50s | 1.60s | 3.00s | 10 "
                           "| +0.27 |", 0.27)}
    out = S.merge_table_rows(_MD, fresh)
    # the re-measured key keeps its FRESH row; the unmeasured one is
    # carried over verbatim with its parsed slope
    assert "3.00s" in out["old_key_a"][0]
    assert out["old_key_b"] == (
        "| old_key_b | 0.50s | 0.60s | 0.70s | 20 | +0.07 |", 0.07)
    # spot-run sections (after the first ## header) are never scanned:
    # their rows have a different shape and belong to _replace_section
    assert "spot_key" not in out
    # header/separator lines don't match the row pattern
    assert "key" not in out and "---" not in out


def test_merge_tolerates_empty_or_headerless_md():
    S = _sweep()
    assert S.merge_table_rows("", {}) == {}
    assert S.merge_table_rows("no table at all", {}) == {}


def test_merge_tolerates_trailing_whitespace_and_reports_drops(capsys):
    """r12 ADVICE #3: a hand-edited row with trailing spaces must still
    be carried over (rstripped), and a |-shaped row that genuinely
    fails to parse must be REPORTED, not silently dropped — silent row
    loss is the class this merge exists to prevent."""
    S = _sweep()
    md = (_MD.replace(
        "| old_key_b | 0.50s | 0.60s | 0.70s | 20 | +0.07 |",
        "| old_key_b | 0.50s | 0.60s | 0.70s | 20 | +0.07 |   ")
        + "").split("\n## ")[0] + "| broken_key | no slope here |\n"
    out = S.merge_table_rows(md, {})
    assert out["old_key_b"] == (
        "| old_key_b | 0.50s | 0.60s | 0.70s | 20 | +0.07 |", 0.07)
    assert "broken_key" not in out
    assert "broken_key" in capsys.readouterr().err


def test_merge_section_rows_scopes_to_named_section():
    """The sf10-section twin: rows from OTHER sections and the main
    table are never pulled in; fresh keys win; unmeasured sf10 rows
    carry over."""
    S = _sweep()
    table = {"spot_key": ("| spot_key | 3.00s | 12.00s | 99 | 990 "
                          "| +0.60 |", 0.60)}
    out = S.merge_section_rows(_MD, "## sf1 spot-run", table)
    # fresh row kept, main-table keys NOT pulled in
    assert out["spot_key"][1] == 0.60
    assert "old_key_a" not in out and "old_key_b" not in out
    # a second section key carries over when not freshly measured
    md2 = _MD + ("\n## sf10 spot-run — pair keys\n\n"
                 "| key | sf1 | sf10 | rows@1 | rows@10 | slope 1→10 |\n"
                 "|---|---|---|---|---|---|\n"
                 "| carried | 1.00s | 8.00s | 5 | 50 | +0.90 |\n")
    out2 = S.merge_section_rows(md2, "## sf10 spot-run", {})
    assert out2 == {"carried":
                    ("| carried | 1.00s | 8.00s | 5 | 50 | +0.90 |",
                     0.90)}
    # absent section is a no-op
    assert S.merge_section_rows(_MD, "## sf10 spot-run", {}) == {}


def test_merge_section_rows_reports_unparseable_rows(capsys):
    """The section twin gets merge_table_rows' stderr report too (r13
    review): a malformed hand-edited row is reported, never silently
    wiped."""
    S = _sweep()
    md = ("\n## sf10 spot-run — pair keys\n\n"
          "| key | sf1 | sf10 | rows@1 | rows@10 | slope 1→10 |\n"
          "|---|---|---|---|---|---|\n"
          "| good | 1.00s | 8.00s | 5 | 50 | +0.90 |\n"
          "| broken | n/a |\n")
    out = S.merge_section_rows(md, "## sf10 spot-run", {})
    assert list(out) == ["good"]
    assert "broken" in capsys.readouterr().err


def test_sf1_writer_merges_like_sf10(tmp_path, monkeypatch):
    """r14: a one-key --sf1 run wiped every other sf1 row — the merge
    the sf10 writer gained in r12 had never reached the sf1 path.
    This pins the sf1 source calling merge_section_rows (structural:
    the writer's table must pass through the same merge the sf10 one
    does)."""
    import inspect

    import tools.scale_sweep as S

    src = inspect.getsource(S.sf1_run) if hasattr(S, "sf1_run") else \
        open(S.__file__).read()
    # the sf1 section writer must merge before replacing
    seg = src[src.index("## sf1 spot-run — the data-bound"):]
    assert "merge_section_rows" in seg[:4000]
