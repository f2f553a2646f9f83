"""The reliable_checkpoint gate (r16 VERDICT #8): operator lineage
cuts default to ``localCheckpoint`` (local-mode posture: no checkpoint
I/O, ContextCleaner-reclaimed, NOT fault-tolerant) and switch to
reliable ``DataFrame.checkpoint`` when the session opts in — the
cluster posture where a lost executor's blocks are recomputable from
the checkpoint dir."""
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

sys.path.insert(0, REPO)

from dynamic_partitioner_spark.functions.checkpoint import (  # noqa: E402
    RELIABLE_CHECKPOINT_CONF, checkpoint_df)


def _checkpoint_files(d):
    return [os.path.join(r, f) for r, _dirs, fs in os.walk(d) for f in fs]


def test_checkpoint_df_default_is_local(spark, tmp_path):
    df = spark.range(10)
    out = checkpoint_df(df)
    assert out.count() == 10
    # a local checkpoint never touches the (unset) checkpoint dir —
    # and reliable mode would have raised without setCheckpointDir
    assert out._jdf.queryExecution().optimizedPlan() \
        .toString().startswith("LogicalRDD")


def test_checkpoint_df_reliable_flag_uses_checkpoint_dir(spark, tmp_path):
    ckdir = str(tmp_path / "ck")
    spark.sparkContext.setCheckpointDir(ckdir)
    spark.conf.set(RELIABLE_CHECKPOINT_CONF, "true")
    try:
        out = checkpoint_df(spark.range(10))
        assert out.count() == 10
        assert _checkpoint_files(ckdir), \
            "reliable mode wrote nothing to the checkpoint dir"
    finally:
        spark.conf.unset(RELIABLE_CHECKPOINT_CONF)


def test_operator_honors_reliable_checkpoint_flag(spark, tmp_path):
    """End-to-end: a graph operator's lineage cut routes through the
    gate — same results under either posture, checkpoint-dir files
    only under the flag."""
    from dynamic_partitioner_spark.operators.graph import triangle_stats

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4)], "s long, d long")
    base = triangle_stats(edges, "s", "d").collect()

    ckdir = str(tmp_path / "ck_op")
    spark.sparkContext.setCheckpointDir(ckdir)
    spark.conf.set(RELIABLE_CHECKPOINT_CONF, "true")
    try:
        flagged = triangle_stats(edges, "s", "d").collect()
        assert sorted(map(tuple, flagged)) == sorted(map(tuple, base))
        assert _checkpoint_files(ckdir)
    finally:
        spark.conf.unset(RELIABLE_CHECKPOINT_CONF)
