"""Lineage-cut checkpointing with a reliability gate.

Several operators cut lineage on an intermediate they reuse many times
(graph edge sets, iterative ranks/labels, sampled pair frames):
``localCheckpoint`` stores the blocks on executors, which is the right
local-mode/bench default — no checkpoint-dir I/O, reclaimed by the
ContextCleaner — but those blocks are NOT recomputable after executor
loss.  On a real cluster a lost executor fails the query instead of
recomputing (the blocks' lineage is gone), which at 100 TB on
preemptible/spot capacity is a real availability trade.

The gate: set ``spark.dynamic_partitioner.reliableCheckpoint=true``
(plus ``sparkContext.setCheckpointDir(...)``, which reliable
checkpointing requires) and every operator lineage cut routes through
``DataFrame.checkpoint`` instead — blocks persist to the checkpoint
dir and survive executor loss.  The flag is read per call, so a
session can flip it between queries.  Results are identical either
way; only the fault-tolerance/IO trade moves.  Reliable checkpoint
files accumulate in the checkpoint dir unless the session is launched
with ``spark.cleaner.referenceTracking.cleanCheckpoints=true``, which
lets the ContextCleaner delete them once their frames are unreachable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

#: session conf consulted per call (default: local checkpoints)
RELIABLE_CHECKPOINT_CONF = "spark.dynamic_partitioner.reliableCheckpoint"


def checkpoint_df(df: DataFrame, eager: bool = True) -> DataFrame:
    """Cut ``df``'s lineage: ``localCheckpoint`` by default, a
    RELIABLE ``checkpoint`` when the session sets
    :data:`RELIABLE_CHECKPOINT_CONF` to ``true``.

    With ``eager=True`` (every current caller) the upstream executes
    NOW — the caller is about to fan the result into several
    consumers, so the cut is what stops the upstream re-running per
    branch.  Reliable mode requires ``setCheckpointDir`` — Spark
    raises its own descriptive error if unset.
    """
    reliable = df.sparkSession.conf.get(RELIABLE_CHECKPOINT_CONF,
                                        "false")
    if str(reliable).lower() == "true":
        return df.checkpoint(eager=eager)
    return df.localCheckpoint(eager=eager)
