from __future__ import annotations

import os
import shutil

from dynamic_partitioner_spark import SinkSpec, read_partitioned
from dynamic_partitioner_spark.streaming.write import (
    run_stream_to_completion,
    stream_from_files,
    stream_write_partitioned,
)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_streaming_partitioned_write_golden_layout(spark, purchase_df, tmp_out):
    src = f"{tmp_out}/src"
    out = f"{tmp_out}/out"
    ckpt = f"{tmp_out}/ckpt"
    shutil.rmtree(tmp_out, ignore_errors=True)
    purchase_df.write.parquet(src)

    sdf = stream_from_files(spark, src)
    spec = SinkSpec(name="p", field_names=["purchase_date"],
                    append_to_partition="CREATE_OR_APPEND")
    run_stream_to_completion(stream_write_partitioned(sdf, spec, out, ckpt))

    dirs = sorted(d for d in os.listdir(out) if d.startswith("purchase_date="))
    assert dirs == ["purchase_date=2009-01-01", "purchase_date=2009-01-02",
                    "purchase_date=2009-01-03"]
    back = read_partitioned(spark, out)
    assert back.count() == 6
    assert dict(back.dtypes)["purchase_date"] == "string"


def test_streaming_incremental_second_batch(spark, purchase_df, tmp_out):
    """New files landing in the source are picked up by a later run with
    the same checkpoint — and ONLY the new rows are appended."""
    src = f"{tmp_out}/src"
    out = f"{tmp_out}/out"
    ckpt = f"{tmp_out}/ckpt"
    shutil.rmtree(tmp_out, ignore_errors=True)
    purchase_df.limit(3).write.parquet(src)

    spec = SinkSpec(name="p", field_names=["purchase_date"],
                    append_to_partition="CREATE_OR_APPEND")
    sdf = stream_from_files(spark, src)
    run_stream_to_completion(stream_write_partitioned(sdf, spec, out, ckpt))
    n_first = read_partitioned(spark, out).count()
    assert n_first == 3

    purchase_df.write.mode("append").parquet(src)   # 6 more rows land
    sdf2 = stream_from_files(spark, src)
    run_stream_to_completion(stream_write_partitioned(sdf2, spec, out, ckpt))
    assert read_partitioned(spark, out).count() == 9


# ---------------------------------------------------------------- stateful

def _event_rows(spark):
    """Events with known session structure for user 1: gaps of 10 min /
    exactly 30 min / 29:59 around a 30-minute session gap."""
    base = 1_700_000_000_000_000_000          # ns epoch
    MIN = 60 * 1_000_000_000
    rows = [
        (1, base + 0 * MIN, 1.0),
        (1, base + 10 * MIN, 2.0),      # +10:00     -> same session
        (1, base + 40 * MIN, 4.0),      # +30:00     -> same (gap == 30 merges)
        (1, base + 70 * MIN + 1000, 8.0),  # +30:00.000001 -> NEW session
        (2, base + 0 * MIN, 16.0),
    ]
    return spark.createDataFrame(rows, "user_id long, ts long, value double")


def test_sessionize_gap_boundaries(spark):
    from dynamic_partitioner_spark.streaming.stateful import sessionize

    out = sessionize(_event_rows(spark), "user_id", "ts", "value",
                     "30 minutes")
    got = {(r.user_id, r.n_events, r.total_value) for r in out.collect()}
    # user 1: [1.0, 2.0, 4.0] (30:00 gap merges) then [8.0]; user 2: [16.0]
    assert got == {(1, 3, 7.0), (1, 1, 8.0), (2, 1, 16.0)}


def test_streaming_tumbling_agg_matches_batch(spark, tmp_out):
    import os
    from pyspark.sql import functions as F
    from dynamic_partitioner_spark.streaming.stateful import (
        _event_ts, streaming_tumbling_agg)

    df = _event_rows(spark).withColumn("event_type", F.lit("click"))
    src = f"{tmp_out}/src"
    df.write.parquet(src)
    spark.catalog.dropTempView("t_tumble_sink")
    got = streaming_tumbling_agg(spark, src, "t_tumble_sink", "1 hour")

    batch = (df.select(_event_ts(df, "ts").alias("e"), "value")
             .groupBy(F.date_format(F.date_trunc("hour", "e"),
                                    "yyyy-MM-dd HH:mm:ss").alias("window_start"))
             .agg(F.count(F.lit(1)).alias("n"),
                  F.round(F.sum("value"), 2).alias("tv")))
    want = {(r.window_start, r.n, r.tv) for r in batch.collect()}
    have = {(r.window_start, r.n_events, r.total_value) for r in got.collect()}
    # streaming result additionally splits by event_type; roll it up
    rolled = {}
    for r in got.collect():
        k = r.window_start
        n, tv = rolled.get(k, (0, 0.0))
        rolled[k] = (n + r.n_events, round(tv + r.total_value, 2))
    assert {(k, *v) for k, v in rolled.items()} == want


def test_stateful_user_stats_across_batches(spark, tmp_out):
    from dynamic_partitioner_spark.streaming.stateful import (
        run_stateful_user_stats)

    df = _event_rows(spark)
    src = f"{tmp_out}/src"
    df.repartition(3).write.parquet(src)       # several files => several batches
    spark.catalog.dropTempView("t_state_sink")
    final = run_stateful_user_stats(spark, src, "t_state_sink")
    got = {(r.user_id, r.n_events, r.total_value) for r in final.collect()}
    assert got == {(1, 4, 15.0), (2, 1, 16.0)}


def test_streaming_dedup_across_batches(spark, tmp_out):
    """A duplicate arriving in a LATER micro-batch is dropped by the
    state-store dedup (batch-local dedup would keep it)."""
    from dynamic_partitioner_spark.streaming.stateful import (
        run_streaming_dedup)
    df = spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], "id long, v string")
    src = f"{tmp_out}/src"
    df.coalesce(1).write.parquet(src)                       # batch 1
    df.coalesce(1).write.mode("append").parquet(src)        # batch 2 = dups
    spark.catalog.dropTempView("t_sdedup")
    out = run_streaming_dedup(spark, src, "t_sdedup", ["id"])
    assert sorted((r.id, r.v) for r in out.collect()) == \
        [(1, "a"), (2, "b"), (3, "c")]


def test_append_mode_watermark_drops_late_rows(spark, tmp_out):
    """Production wiring (withWatermark + append): an event arriving
    after its window was closed and emitted never reaches it, and the
    window is never re-emitted.  Spark ≥3.4 filters late records with
    the PREVIOUS batch's watermark (eviction uses the current one —
    SPARK-40925 two-watermark design), so the window must close a full
    batch before the late row arrives: file order is (hours 0-2),
    (hour 3 → closes+emits hour 0), (late hour-0 row → dropped)."""
    import os
    import time

    from dynamic_partitioner_spark.streaming.stateful import (
        streaming_windowed_agg_append)

    H = 3_600_000_000_000                      # 1h in nanos (testdata unit)
    M = 60_000_000_000
    schema = "ts long, user_id long, value double"
    src = os.path.join(tmp_out, "src")
    f1 = [(0 * H + 10 * M, 1, 1.0),            # hour-0 window, on time
          (1 * H + 10 * M, 1, 1.0),
          (2 * H + 10 * M, 1, 1.0)]            # watermark → 01:40 after b0
    f2 = [(3 * H + 10 * M, 1, 1.0)]            # b1 evicts+emits hour 0
    f3 = [(0 * H + 20 * M, 1, 5.0)]            # b2: LATE (filter wm 01:40)
    spark.createDataFrame(f1, schema).coalesce(1).write.parquet(src)
    for chunk in (f2, f3):
        time.sleep(1.1)                        # distinct mtimes → file order
        spark.createDataFrame(chunk, schema).coalesce(1).write.mode(
            "append").parquet(src)

    out = streaming_windowed_agg_append(spark, src, "wm_sink",
                                        window="1 hour",
                                        watermark="30 minutes")
    rows = [(r.window_start, r.n_events, r.total_value)
            for r in out.collect()]
    # the late 5.0-value row reached NO window, and hour 0 was emitted
    # exactly once, without it
    assert rows.count(("1970-01-01 00:00:00", 1, 1.0)) == 1
    assert all(not (w == "1970-01-01 00:00:00" and tv != 1.0)
               for w, _, tv in rows)
    assert ("1970-01-01 01:00:00", 1, 1.0) in rows


def test_streaming_sessionize_equals_batch(spark, tmp_out):
    """session_window through a real watermarked stream (complete mode,
    availableNow drain) equals the batch sessionize over the same data —
    the operator is genuinely stream/batch dual."""
    import os

    from pyspark.sql import functions as F

    from dynamic_partitioner_spark.streaming.stateful import (
        _event_ts, sessionize)
    from dynamic_partitioner_spark.streaming.write import (
        run_stream_to_completion, shuffle_partitions, stream_from_files)

    src = os.path.join(tmp_out, "src")
    ev = (spark.read.parquet("/root/testdata/sf0.001/events.parquet")
          .select("ts", "user_id", "value"))
    ev.coalesce(2).write.parquet(src)

    batch = {(r.user_id, r.session_start): (r.n_events, r.total_value)
             for r in sessionize(ev, "user_id", "ts", "value",
                                 "30 minutes").collect()}

    with shuffle_partitions(spark, 8):
        sdf = stream_from_files(spark, src)
        agg = (sdf.select(F.col("user_id"), _event_ts(sdf, "ts").alias("_ets"),
                          F.col("value"))
               .withWatermark("_ets", "0 seconds")
               .groupBy(F.session_window(F.col("_ets"), "30 minutes")
                        .alias("sw"), F.col("user_id"))
               .agg(F.count(F.lit(1)).alias("n_events"),
                    F.round(F.sum("value"), 2).alias("total_value"),
                    F.date_format(F.min("_ets"), "yyyy-MM-dd HH:mm:ss")
                    .alias("session_start")))
        q = (agg.writeStream.format("memory").queryName("sess_stream_sink")
             .outputMode("complete").trigger(availableNow=True).start())
        run_stream_to_completion(q)
    streamed = {(r.user_id, r.session_start): (r.n_events, r.total_value)
                for r in spark.table("sess_stream_sink").collect()}
    assert streamed == batch and batch


def test_streaming_join_across_batches(spark, tmp_out):
    """A view in one micro-batch joins a click arriving in a LATER
    micro-batch out of the join state store; result equals the batch
    join (watermark wider than the data span, nothing dropped)."""
    from dynamic_partitioner_spark.streaming.stateful import (
        run_streaming_join)

    base = 1_700_000_000_000_000_000          # ns epoch
    MIN = 60 * 1_000_000_000
    views = [(10, base + 0 * MIN, 1, "view", 0.0, "{}"),
             (11, base + 5 * MIN, 2, "view", 0.0, "{}")]
    clicks = [(20, base + 30 * MIN, 1, "click", 0.0, "{}"),       # joins 10
              (21, base + 200 * MIN, 1, "click", 0.0, "{}"),      # > 2h: no
              (22, base + 6 * MIN, 2, "click", 0.0, "{}")]        # joins 11
    schema = ("event_id long, ts long, user_id long, event_type string, "
              "value double, props string")
    src = f"{tmp_out}/src"
    spark.createDataFrame(views, schema).coalesce(1).write.parquet(src)
    spark.createDataFrame(clicks, schema).coalesce(1) \
        .write.mode("append").parquet(src)
    spark.catalog.dropTempView("t_sjoin")
    out = run_streaming_join(spark, src, "t_sjoin", join_window="2 hours")
    got = {(r.user_id, r.view_id, r.click_id) for r in out.collect()}
    assert got == {(1, 10, 20), (2, 11, 22)}


def test_running_topk_transform_with_state(spark, tmp_out):
    """Spark 4 typed-state API (transformWithStateInPandas): per-user
    running top-3 across micro-batches equals the batch window top-3.
    Skipped where google.protobuf is unavailable (the TWS state server
    speaks protobuf)."""
    import pytest
    pytest.importorskip("google.protobuf")

    import os

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from dynamic_partitioner_spark.streaming.stateful import (
        run_running_topk)

    ev = (spark.read.parquet("/root/testdata/sf0.001/events.parquet")
          .select("event_id", "user_id", "value"))
    src = os.path.join(tmp_out, "src")
    ev.repartition(3).write.parquet(src)
    spark.catalog.dropTempView("tws_topk_sink")
    out = run_running_topk(spark, src, "tws_topk_sink")

    w = Window.partitionBy("user_id").orderBy(F.col("value").desc(),
                                              F.col("event_id").desc())
    batch = (ev.withColumn("rnk", F.row_number().over(w))
             .where("rnk <= 3").groupBy("user_id")
             .pivot("rnk", [1, 2, 3]).agg(F.first("value")))
    got = {(r.user_id, r.v1, r.v2, r.v3) for r in out.collect()}
    want = {(r.user_id, r["1"], r["2"], r["3"]) for r in batch.collect()}
    assert got == want and got


def test_streaming_sessionize_merges_across_batches(spark, tmp_path):
    """A session split across two source files (two micro-batches)
    merges into ONE session row via per-key session state — the
    property batch sessionization cannot demonstrate."""
    import datetime as dt

    from dynamic_partitioner_spark.streaming.stateful import (
        streaming_sessionize)

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    m = dt.timedelta(minutes=1)
    src = str(tmp_path / "src")
    spark.createDataFrame(
        [(1, t0, 1.0), (2, t0, 5.0)],
        "user_id long, ts timestamp_ntz, value double"
    ).coalesce(1).write.parquet(src)
    spark.createDataFrame(
        [(1, t0 + 10 * m, 2.0),        # inside user 1's 30-min gap
         (2, t0 + 300 * m, 7.0)],      # far outside user 2's gap
        "user_id long, ts timestamp_ntz, value double"
    ).coalesce(1).write.mode("append").parquet(src)
    spark.catalog.dropTempView("sess_merge_sink")
    out = {(r.user_id, r.session_start): (r.n_events, r.total_value)
           for r in streaming_sessionize(spark, src, "sess_merge_sink")
           .collect()}
    u1 = [(k, v) for k, v in out.items() if k[0] == 1]
    assert len(u1) == 1 and u1[0][1] == (2, 3.0)   # merged session
    assert len([k for k in out if k[0] == 2]) == 2  # stayed split


def test_streaming_expectations_accumulates_and_rejects_unique(
        spark, tmp_path):
    from dynamic_partitioner_spark.streaming.write import (
        run_streaming_expectations)
    src = str(tmp_path / "src")
    a = spark.createDataFrame([(1, 5.0), (None, 2.0)], "k long, v double")
    b = spark.createDataFrame([(2, -1.0), (None, 3.0)], "k long, v double")
    a.coalesce(1).write.parquet(src)
    b.coalesce(1).write.mode("append").parquet(src)
    out = {(r.rule, r.col_name): r.n_violations
           for r in run_streaming_expectations(
               spark, src,
               [("not_null", "k"), ("range", "v", 0.0, 10.0)],
               str(tmp_path / "ck")).collect()}
    # counts accumulate across the two micro-batches
    assert out == {("not_null", "k"): 2, ("range", "v"): 1}

    import pytest
    with pytest.raises(ValueError, match="non-additive"):
        run_streaming_expectations(spark, src, [("unique", "k")],
                                   str(tmp_path / "ck2"))


def test_streaming_expectations_refuses_used_checkpoint(spark, tmp_path):
    """A reused checkpoint would skip committed batches and silently
    under-count — the monitor must fail fast instead."""
    from dynamic_partitioner_spark.streaming.write import (
        run_streaming_expectations)
    src = str(tmp_path / "src")
    spark.createDataFrame([(1,)], "k long").write.parquet(src)
    ck = str(tmp_path / "ck")
    run_streaming_expectations(spark, src, [("not_null", "k")], ck)
    import pytest
    with pytest.raises(ValueError, match="committed batches"):
        run_streaming_expectations(spark, src, [("not_null", "k")], ck)


def test_streaming_expectations_rejects_remote_checkpoint(spark, tmp_path):
    """ADVICE r5: the fresh-checkpoint guard probes with driver-local
    os I/O — a remote checkpoint URI would silently bypass it, so it
    must be rejected loudly (file:// stays accepted)."""
    from dynamic_partitioner_spark.streaming.write import (
        run_streaming_expectations)
    src = str(tmp_path / "src")
    spark.createDataFrame([(1,)], "k long").write.parquet(src)
    import pytest
    with pytest.raises(ValueError, match="local checkpoints only"):
        run_streaming_expectations(
            spark, src, [("not_null", "k")], "s3a://bucket/ck")
    # file:// scheme resolves to a local dir — guard still works
    ck = str(tmp_path / "ck_file")
    got = {r.rule: r.n_violations for r in run_streaming_expectations(
        spark, src, [("not_null", "k")], "file://" + ck).collect()}
    assert got == {"not_null": 0}
    with pytest.raises(ValueError, match="committed batches"):
        run_streaming_expectations(
            spark, src, [("not_null", "k")], "file://" + ck)


def test_streaming_late_audit_drops_replay_and_holds_tail(spark):
    """The driver key's certificate, asserted directly: per-window
    rows are unique (a closed window never re-emits even though
    hour-0 was replayed late), and the last staged hour never emits
    (its window end is always past the final watermark)."""
    import importlib.util
    import sys

    spec = importlib.util.spec_from_file_location(
        "entry_mod_late", os.path.join(REPO, "__spark_entry__.py"))
    m = importlib.util.module_from_spec(spec)
    sys.modules["entry_mod_late"] = m
    spec.loader.exec_module(m)

    rows = m.q_streaming_late_audit(spark, "/root/testdata/sf0.001") \
            .collect()
    assert rows
    keys = [(r.window_start, r.user_id) for r in rows]
    assert len(keys) == len(set(keys))          # no re-emitted window
    hours = sorted({r.window_start for r in rows})
    # the staged span is 9 hours; the tail window can never close
    assert len(hours) <= 8


def test_streaming_expectations_rejects_single_slash_and_authority_uris(
        spark, tmp_path):
    """code-review r6: Hadoop's canonical local form file:/path must
    hit the guard's probe (not silently bypass it), and an authority
    (file://host/path) is rejected like a remote scheme."""
    import pytest

    from dynamic_partitioner_spark.streaming.write import (
        run_streaming_expectations)
    src = str(tmp_path / "src")
    spark.createDataFrame([(1,)], "k long").write.parquet(src)
    ck = str(tmp_path / "ck_single")
    got = {r.rule: r.n_violations for r in run_streaming_expectations(
        spark, src, [("not_null", "k")], "file:" + ck).collect()}
    assert got == {"not_null": 0}
    # the guard sees the committed batches through the file:/ form
    with pytest.raises(ValueError, match="committed batches"):
        run_streaming_expectations(
            spark, src, [("not_null", "k")], "file:" + ck)
    with pytest.raises(ValueError, match="authority"):
        run_streaming_expectations(
            spark, src, [("not_null", "k")], "file://host/ck")


def _stage_ordered_files(src, frames):
    """Delegates to the package's determinism primitive — the tests
    must exercise the SAME staging the entry keys use (one
    implementation; r12 review folded three drifting copies)."""
    from dynamic_partitioner_spark.streaming.write import (
        stage_ordered_files)

    stage_ordered_files(frames, src)


def test_ttl_eviction_semantics_pinned(spark, tmp_out):
    """Pins the determinism contract the streaming_ttl_eviction oracle
    replays (empirically established, r12):

    * the eviction watermark for batch i is
      ``max(event ms over batches 0..i-1) - delay`` (the SPARK-40925
      'state eviction' watermark — NOT the end-of-batch-i one: key A
      below gets data in batch 1, so under the wrong reading its
      batch-3 eviction would report wm=175min instead of 115),
    * a timeout fires only for keys with NO data in the batch,
    * eviction removes state — a reappearing key restarts at zero
      (generation split),
    * with no-data micro-batches disabled there is NO end-of-stream
      flush: state alive after the last data batch is never emitted.
    """
    from pyspark.sql import functions as F

    from dynamic_partitioner_spark.streaming.stateful import (
        run_ttl_eviction_audit)

    M = 60_000_000_000                         # 1 min in nanos
    B0 = 1_000                                 # base minute: an event at
    schema = "user_id string, ts long, value double"
    # exactly epoch 0 is dropped by the INITIAL watermark (0 ms) in
    # batch 0 — keep the grid clear of that edge (real data is never
    # at epoch 0; pinned here by construction, not under test)

    def mk(rows):
        return spark.createDataFrame(
            [(k, (B0 + m) * M, v) for k, m, v in rows], schema)

    frames = [
        mk([("A", 0, 1.0), ("A", 10, 1.0), ("B", 2, 1.0),
            ("C", 9, 1.0)]),                   # batch 0, max 10min
        mk([("A", 60, 1.0)]),                  # batch 1, wm 10-5=5min
        mk([("D", 120, 1.0)]),                 # batch 2, wm 60-5=55min
        mk([("B", 180, 1.0)]),                 # batch 3, wm 120-5=115min
    ]
    src = os.path.join(tmp_out, "ttl_src")
    _stage_ordered_files(src, frames)
    out = run_ttl_eviction_audit(spark, src, "ttl_pin_sink", ["user_id"],
                                 ttl="40 minutes",
                                 watermark_delay="5 minutes",
                                 state_partitions=4)
    got = {r.user_id: (r.gen_events, r.gen_cents,
                       r.evict_wm_us / 60_000_000 - B0)
           for r in out.collect()}
    # B,C idle through batch 2: timeouts 42/49 < wm 55 → evicted there;
    # A (timeout 60+40=100) survives batch 2 (100 > 55), gets NO data
    # in batch 3 and 100 < 115 → evicted with the batch-3 ENTERING wm
    assert got == {"A": (3, 300, 115.0),
                   "B": (1, 100, 55.0),
                   "C": (1, 100, 55.0)}
    # D (timeout 160 > 115) and B's second generation (batch-3 data)
    # are never flushed: no end-of-stream eviction without a later
    # data batch
    assert (spark.table("ttl_pin_sink")
            .where(F.col("user_id") == "D").count()) == 0


def test_ttl_eviction_timeout_equal_watermark_does_not_fire(spark, tmp_out):
    """STRICT comparison pinned: a timeout exactly EQUAL to the
    eviction watermark does not fire (Spark fires when the watermark
    advances strictly beyond the set timestamp); the key is evicted
    one batch later, stamped with that later watermark.  The oracle's
    ``<`` replays exactly this."""
    M = 60_000_000_000
    B0 = 1_000                       # clear of the epoch-0 edge (above)
    schema = "user_id string, ts long, value double"

    def mk(rows):
        return spark.createDataFrame(
            [(k, (B0 + m) * M, v) for k, m, v in rows], schema)

    # E last@0 with ttl 55min → timeout = minute 55; batch-1 data max
    # 60min → wm entering batch 2 = 55min exactly (tie → no fire);
    # batch 3 wm = 115min > 55 → fires there
    frames = [mk([("E", 0, 1.0), ("A", 10, 1.0)]),
              mk([("A", 60, 1.0)]),
              mk([("A", 120, 1.0)]),
              mk([("A", 180, 1.0)])]
    src = os.path.join(tmp_out, "ttl_tie_src")
    _stage_ordered_files(src, frames)
    from dynamic_partitioner_spark.streaming.stateful import (
        run_ttl_eviction_audit)
    out = run_ttl_eviction_audit(spark, src, "ttl_tie_sink", ["user_id"],
                                 ttl="55 minutes",
                                 watermark_delay="5 minutes",
                                 state_partitions=4)
    evs = [(r.user_id, r.gen_events, r.evict_wm_us / 60_000_000 - B0)
           for r in out.collect() if r.user_id == "E"]
    assert evs == [("E", 1, 115.0)]


def test_stage_ordered_files_layout_and_mtimes(spark, tmp_out):
    """The staging primitive's contract, asserted directly: one
    NN.parquet file per frame, strictly ascending mtimes 60s apart,
    and the batch source reads the rows back intact."""
    from dynamic_partitioner_spark.streaming.write import (
        stage_ordered_files)

    frames = [spark.createDataFrame([(i,)], "k long") for i in range(3)]
    src = stage_ordered_files(frames, os.path.join(tmp_out, "src"))
    names = sorted(os.listdir(src))
    assert names == ["00.parquet", "01.parquet", "02.parquet"]
    mtimes = [os.path.getmtime(os.path.join(src, n)) for n in names]
    assert mtimes == sorted(mtimes)
    assert all(b - a == 60 for a, b in zip(mtimes, mtimes[1:]))
    assert sorted(r.k for r in spark.read.parquet(src).collect()) == [0, 1, 2]


def test_interval_to_us_units():
    from dynamic_partitioner_spark.streaming.stateful import (
        _interval_to_us)

    assert _interval_to_us("4 days") == 4 * 86_400_000_000
    assert _interval_to_us("12 hours") == 12 * 3_600_000_000
    assert _interval_to_us("1 minute") == 60_000_000
    assert _interval_to_us("30 seconds") == 30_000_000


def test_ttl_eviction_provider_invariant_rocksdb(spark, tmp_out):
    """RocksDB state-store posture (r12 VERDICT next-tranche (b)): the
    SAME staged fixture as test_ttl_eviction_semantics_pinned, drained
    under ``RocksDBStateStoreProvider``, yields identical evictions —
    the provider changes the storage posture only (spill-to-disk +
    changelog checkpoints, what an unbounded production keyspace
    needs to keep executor heap flat), never the semantics.  Also
    pins that the session conf is restored after the drain."""
    from dynamic_partitioner_spark.streaming.stateful import (
        run_ttl_eviction_audit)

    M = 60_000_000_000
    B0 = 1_000
    schema = "user_id string, ts long, value double"

    def mk(rows):
        return spark.createDataFrame(
            [(k, (B0 + m) * M, v) for k, m, v in rows], schema)

    frames = [
        mk([("A", 0, 1.0), ("A", 10, 1.0), ("B", 2, 1.0),
            ("C", 9, 1.0)]),
        mk([("A", 60, 1.0)]),
        mk([("D", 120, 1.0)]),
        mk([("B", 180, 1.0)]),
    ]
    src = os.path.join(tmp_out, "ttl_rdb_src")
    _stage_ordered_files(src, frames)
    conf_key = "spark.sql.streaming.stateStore.providerClass"
    before = spark.conf.get(conf_key, None)
    out = run_ttl_eviction_audit(spark, src, "ttl_rdb_sink",
                                 ["user_id"], ttl="40 minutes",
                                 watermark_delay="5 minutes",
                                 state_partitions=4,
                                 state_provider="rocksdb")
    got = {r.user_id: (r.gen_events, r.gen_cents,
                       r.evict_wm_us / 60_000_000 - B0)
           for r in out.collect()}
    # identical to the default-provider pin in
    # test_ttl_eviction_semantics_pinned
    assert got == {"A": (3, 300, 115.0),
                   "B": (1, 100, 55.0),
                   "C": (1, 100, 55.0)}
    assert spark.conf.get(conf_key, None) == before


def test_rocksdb_provider_reports_bounded_state(spark, tmp_out):
    """The state-SIZE assertion of the RocksDB posture: after a
    stateful drain under RocksDB, the query's progress reports
    exactly the live keyspace in the store (numRowsTotal == distinct
    keys — O(1) state per key, nothing leaks) and the rocksdb*
    custom metrics prove which provider actually served the run."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    from dynamic_partitioner_spark.streaming.stateful import (
        stateful_user_stats)
    from dynamic_partitioner_spark.streaming.write import (
        run_stream_to_completion, shuffle_partitions,
        state_store_provider, stream_from_files)

    frames = [spark.createDataFrame(
        [(u, float(u)) for u in range(1, 6)], "user_id long, value double")
        for _ in range(2)]
    src = os.path.join(tmp_out, "rdb_metrics_src")
    _stage_ordered_files(src, frames)
    with shuffle_partitions(spark, 4), \
            state_store_provider(spark, "rocksdb"):
        sdf = stream_from_files(spark, src, max_files_per_trigger=1)
        q = (stateful_user_stats(sdf).writeStream.format("memory")
             .queryName("rdb_metrics_sink").outputMode("update")
             .trigger(availableNow=True).start())
        run_stream_to_completion(q, 300)
        so = q.lastProgress["stateOperators"][0]
    assert so["numRowsTotal"] == 5          # 5 keys, O(1) state each
    assert any(k.startswith("rocksdb") for k in so["customMetrics"])


def test_state_store_provider_context_manager(spark):
    """Unit pins: unknown short name raises before touching conf;
    None is a no-op; a set value is restored (or unset) on exit."""
    import pytest

    from dynamic_partitioner_spark.streaming.write import (
        STATE_STORE_PROVIDERS, state_store_provider)

    key = "spark.sql.streaming.stateStore.providerClass"
    with pytest.raises(ValueError, match="unknown state-store"):
        with state_store_provider(spark, "bogus"):
            pass
    with state_store_provider(spark, None):
        pass  # no-op
    with state_store_provider(spark, "rocksdb"):
        assert spark.conf.get(key) == STATE_STORE_PROVIDERS["rocksdb"]
    # a custom FQCN passes through verbatim
    with state_store_provider(spark, "com.example.MyProvider"):
        assert spark.conf.get(key) == "com.example.MyProvider"


def test_stage_ordered_files_tolerates_glob_metachar_paths(spark,
                                                           tmp_out):
    """r13 review: a glob metacharacter in the caller's path (e.g.
    'run[1]') made the part-file pattern match nothing and the [0]
    index crash — glob.escape pins the literal path."""
    from dynamic_partitioner_spark.streaming.write import (
        stage_ordered_files)

    import pyarrow.parquet as pq

    src = os.path.join(tmp_out, "run[1]", "staged")
    os.makedirs(os.path.dirname(src))
    out = stage_ordered_files(
        [spark.createDataFrame([(i,)], "k long") for i in range(2)],
        src)
    names = sorted(os.listdir(out))
    assert names == ["00.parquet", "01.parquet"]
    # read back file-by-file: SPARK's own reader globs paths too, so a
    # metachar dir can't serve a stream source — staging still must
    # not crash, and the staged bytes must be the frames in order
    got = [pq.read_table(os.path.join(out, n)).column("k")[0].as_py()
           for n in names]
    assert got == [0, 1]


def test_streaming_r14_hardening(spark, tmp_path):
    """r14 streaming review pins: (1) stream_write_partitioned rejects
    spec semantics it cannot honor (CREATE mode, overwrite_partitions,
    sort_within) instead of silently dropping them; (2) NULL
    event-time rows are excluded from the TTL audit (a batch whose key
    had only NULL-ts rows crashed the worker on int(NaN)); (3)
    run_streaming_expectations rejects an empty rule list before the
    stream starts; (4) the stateful-stats snapshot schema derives the
    key TYPE from the input, so string-keyed streams work."""
    import pytest
    from pyspark.sql import functions as F

    from dynamic_partitioner_spark.spec import SinkSpec
    from dynamic_partitioner_spark.streaming.stateful import (
        run_stateful_user_stats, ttl_evicted_state)
    from dynamic_partitioner_spark.streaming.write import (
        run_streaming_expectations, stage_ordered_files,
        stream_from_files, stream_write_partitioned)

    # (1) unsupported spec fields rejected loudly
    src = str(tmp_path / "src")
    spark.range(3).selectExpr("CAST(id AS STRING) AS k", "id AS v") \
        .write.parquet(src)
    sdf = stream_from_files(spark, src)
    for spec in (SinkSpec(name="s1", field_names=["k"]),
                 SinkSpec(name="s2", field_names=["k"],
                          append_to_partition="CREATE_OR_APPEND",
                          overwrite_partitions=True),
                 SinkSpec(name="s3", field_names=["k"],
                          append_to_partition="CREATE_OR_APPEND",
                          sort_within=["v"])):
        with pytest.raises(ValueError, match="cannot honor"):
            stream_write_partitioned(sdf, spec, str(tmp_path / "d"),
                                     str(tmp_path / "c"))

    # (3) empty rules fail before stream start
    with pytest.raises(ValueError, match="at least one rule"):
        run_streaming_expectations(spark, src, [],
                                   str(tmp_path / "ck"))

    # (2) NULL event-time rows excluded from the TTL audit: one staged
    # file whose only row for key 9 has NULL ts previously died on
    # int(NaN); the other key's generation still drains
    # batch 0: key 1 (Jan) + key 9 (NULL ts, excluded); batch 1
    # advances the watermark past key 1's TTL via an UNRELATED key;
    # batch 2 is the far-future sentinel whose entering watermark
    # fires key 1's (and then 500's) eviction
    ev = spark.createDataFrame(
        [(1, "2024-01-01 00:00:00", 1.0), (9, None, 2.0),
         (500, "2024-03-01 00:00:00", 0.0),
         (600, "2024-06-01 00:00:00", 0.0)],
        "user_id long, ts string, value double").select(
        "user_id", F.col("ts").cast("timestamp").alias("ts"), "value")
    src2 = str(tmp_path / "ttl_src")
    stage_ordered_files(
        [ev.where("user_id in (1, 9)"),
         ev.where("user_id = 500"),
         ev.where("user_id = 600")], src2)
    from dynamic_partitioner_spark.streaming.stateful import (
        run_ttl_eviction_audit)
    spark.catalog.dropTempView("ttl_r14_sink") \
        if "ttl_r14_sink" in [t.name for t in
                              spark.catalog.listTables()] else None
    out = run_ttl_eviction_audit(spark, src2, "ttl_r14_sink",
                                 ["user_id"], ttl="1 day",
                                 watermark_delay="1 hour",
                                 state_partitions=2)
    got = {r.user_id for r in out.collect()}
    assert 1 in got and 9 not in got       # NULL-ts key never tracked

    # (4) string-keyed stateful stats snapshot
    src3 = str(tmp_path / "ss_src")
    (spark.createDataFrame([("a", 1.0), ("a", 2.0), ("b", 3.0)],
                           "country string, value double")
     .write.parquet(src3))
    snap = run_stateful_user_stats(spark, src3, "ss_r14_sink",
                                   key_col="country",
                                   state_partitions=2)
    got = {r.country: (r.n_events, r.total_value)
           for r in snap.collect()}
    assert got == {"a": (2, 3.0), "b": (1, 3.0)}


def test_streaming_stage_clash_refuses_like_batch(spark, tmp_out):
    """r15 review pin: the batch path raises SpecError when the input
    already carries a '_stage' column and stage_name is set; the
    streaming twin silently overwrote it — same SinkSpec, divergent
    semantics.  Both now refuse identically."""
    import pytest

    from dynamic_partitioner_spark.spec import SpecError
    src = f"{tmp_out}/src"
    shutil.rmtree(tmp_out, ignore_errors=True)
    spark.createDataFrame([(1, "mine", "a")],
                          "id long, _stage string, k string") \
        .write.parquet(src)
    sdf = stream_from_files(spark, src)
    spec = SinkSpec(name="p", field_names=["k"], stage_name="ingest",
                    append_to_partition="CREATE_OR_APPEND")
    with pytest.raises(SpecError, match="_stage"):
        stream_write_partitioned(sdf, spec, f"{tmp_out}/out",
                                 f"{tmp_out}/ckpt")


def test_warehouse_claim_clears_once_then_preserves(tmp_path):
    """r15 review pin: the first _claim_warehouse in a process clears
    a pre-existing dir (a SIGKILLed run's leftover adopted via pid
    reuse — the stale sweep skips our own pid); later claims preserve
    it (it then holds THIS run's live tables)."""
    from dynamic_partitioner_spark.session import _claim_warehouse
    wh = str(tmp_path / "run-999999")
    os.makedirs(wh)
    open(os.path.join(wh, "stale-table"), "w").close()
    _claim_warehouse(wh)
    assert not os.path.exists(wh)          # leftover cleared
    os.makedirs(wh)
    open(os.path.join(wh, "live-table"), "w").close()
    _claim_warehouse(wh)                   # second claim: no-op
    assert os.path.exists(os.path.join(wh, "live-table"))


def test_stage_ordered_union_matches_files_layout(spark, tmp_path):
    """stage_ordered_union (one write job) produces the same file
    names, list order (forced mtimes) and per-file ROW SETS as
    stage_ordered_files — including an overlapping replayed slice
    (r16 staging optimization)."""
    import os

    from dynamic_partitioner_spark.streaming.write import (
        stage_ordered_files, stage_ordered_union)

    df = spark.createDataFrame(
        [(i, i % 3) for i in range(12)], "id long, g long")
    frames = [df.where(df.g == 0).select("id"),
              df.where(df.g == 1).select("id"),
              # replayed overlap: slice 0 rides again in file 2
              df.where((df.g == 2) | (df.g == 0)).select("id")]
    a = stage_ordered_files(frames, str(tmp_path / "a"))
    b = stage_ordered_union(frames, str(tmp_path / "b"))
    names_a = sorted(os.listdir(a))
    names_b = sorted(os.listdir(b))
    assert names_a == names_b == ["00.parquet", "01.parquet",
                                  "02.parquet"]
    for n in names_a:
        fa, fb = os.path.join(a, n), os.path.join(b, n)
        assert os.path.getmtime(fa) == os.path.getmtime(fb)
        ra = {r.id for r in spark.read.parquet(fa).collect()}
        rb = {r.id for r in spark.read.parquet(fb).collect()}
        assert ra == rb


def test_stage_ordered_union_rejects_schema_drift_and_empty(spark,
                                                            tmp_path):
    import pytest as _pytest

    from dynamic_partitioner_spark.streaming.write import (
        stage_ordered_union)

    df = spark.createDataFrame([(1,)], "id long")
    with _pytest.raises(ValueError, match="at least one frame"):
        stage_ordered_union([], str(tmp_path / "x"))
    with _pytest.raises(ValueError, match="columns"):
        stage_ordered_union(
            [df, df.select(df.id.alias("other"))], str(tmp_path / "y"))
    # an empty frame stages no file — loud error, not a silent gap
    with _pytest.raises(ValueError, match="staged 0 files"):
        stage_ordered_union([df, df.where("id > 99")],
                            str(tmp_path / "z"))


def test_stage_ordered_union_bumps_index_column_collision(spark,
                                                          tmp_path):
    from dynamic_partitioner_spark.streaming.write import (
        stage_ordered_union)

    df = spark.createDataFrame([(1, 9), (2, 9)], "id long, _fi long")
    out = stage_ordered_union([df.where("id = 1"), df.where("id = 2")],
                              str(tmp_path / "c"))
    got = spark.read.parquet(out + "/00.parquet")
    # the caller's own _fi column survives untouched
    assert set(got.columns) == {"id", "_fi"}
    assert [(r.id, r._fi) for r in got.collect()] == [(1, 9)]


def test_stage_ordered_union_cleans_src_on_failure(spark, tmp_path):
    """r16 review: a failed staged-file-count validation must not
    leave a partial NN.parquet sequence behind — src is removed so a
    retry neither dies on makedirs nor reads missing files."""
    import os

    import pytest

    from dynamic_partitioner_spark.streaming.write import (
        stage_ordered_union)

    src = str(tmp_path / "src")
    good = spark.createDataFrame([(1,)], "v long")
    empty = good.where("v < 0")
    with pytest.raises(ValueError, match="staged 0 files"):
        stage_ordered_union([good, empty], src)
    assert not os.path.exists(src)
    # a corrected retry succeeds against the same path
    out = stage_ordered_union([good, good], src)
    assert sorted(os.listdir(out)) == ["00.parquet", "01.parquet"]
