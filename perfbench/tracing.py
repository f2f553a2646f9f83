"""Span tracing for the traced benchmark run.

The engine has no tracing of its own, so the benchmark installs
runtime wrappers around the layer functions it names (see
``LAYER_FUNCTIONS``); no program file changes.  Each call made while
tracing is on becomes a span with a name, a start, an end, its parent
span and the trace id of the benchmark operation it belongs to.  The
wrappers patch the module attributes the engine itself looks up, so
nested calls (``merge_upsert`` calling ``read_partitioned`` and
``write_partitioned``) become child spans.

Spark work is attributed from outside the program: every span tags
the jobs it launches with its own job group, and the job and task
counts are read back through the status tracker once the operation
has finished.  Spans stay in memory until the run ends.
"""

from __future__ import annotations

import functools
import importlib
import itertools
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

_GROUP = "spark.jobGroup.id"

#: (module, attribute, span name) for every wrapped layer function.  A
#: function imported by name into another engine module is listed once
#: per module so calls through either binding are traced.
LAYER_FUNCTIONS = [
    ("dynamic_partitioner_spark.session", "get_spark", "session.get_spark"),
    ("dynamic_partitioner_spark.operators.partition_keys",
     "normalize_partition_keys", "partition_keys.normalize_partition_keys"),
    ("dynamic_partitioner_spark.operators.partitioned_write",
     "normalize_partition_keys", "partition_keys.normalize_partition_keys"),
    ("dynamic_partitioner_spark.operators.partitioned_write",
     "write_partitioned", "partitioned_write.write_partitioned"),
    ("dynamic_partitioner_spark.operators.partitioned_write",
     "existing_touched_partitions",
     "partitioned_write.existing_touched_partitions"),
    # the distinct-key collect of the CREATE existence check and of the
    # merge paths has no public name; it is wrapped so its time is not
    # folded into its caller's self time
    ("dynamic_partitioner_spark.operators.partitioned_write",
     "_collect_key_tuples", "partitioned_write.collect_key_tuples"),
    ("dynamic_partitioner_spark.operators.partitioned_write",
     "merge_upsert", "partitioned_write.merge_upsert"),
    ("dynamic_partitioner_spark.operators.partitioned_write",
     "read_partitioned", "read.read_partitioned"),
    ("dynamic_partitioner_spark.sources.read", "read_partitioned",
     "read.read_partitioned"),
    ("dynamic_partitioner_spark.formats", "write_avro_partitioned",
     "avro_py.write_avro_partitioned"),
    ("dynamic_partitioner_spark.formats.avro_py", "write_avro_partitioned",
     "avro_py.write_avro_partitioned"),
    ("dynamic_partitioner_spark.operators.dedup", "near_dup_minhash",
     "dedup.near_dup_minhash"),
    ("dynamic_partitioner_spark.operators.dedup", "lsh_candidate_pairs",
     "dedup.lsh_candidate_pairs"),
    ("dynamic_partitioner_spark.operators.dedup", "apply_dedup",
     "dedup.apply_dedup"),
]

#: spans whose returned DataFrame the workload counts after the
#: operation (candidate and verified pairs give ``dedup.pair_yield``)
_KEEP_RESULT = {"dedup.near_dup_minhash", "dedup.lsh_candidate_pairs"}

#: the engine layers whose self time the traced run reports
LAYERS = ["session", "spec", "partition_keys", "partitioned_write",
          "avro_py", "read", "dedup"]


@dataclass
class Span:
    name: str
    trace_id: int
    span_id: int
    parent: int | None
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)
    jobs: int = 0
    tasks: int = 0

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]

    @property
    def duration(self) -> float:
        return self.end - self.start


def data_files(root: str) -> dict[str, tuple[int, int]]:
    """``path -> (size, mtime_ns)`` of the data files under ``root``
    (hidden and ``_``-prefixed bookkeeping files excluded)."""
    out = {}
    for dirpath, dirnames, filenames in os.walk(root):
        dirnames[:] = [d for d in dirnames if not d.startswith((".", "_"))]
        for f in filenames:
            if f.startswith((".", "_")):
                continue
            p = os.path.join(dirpath, f)
            st = os.stat(p)
            out[p] = (st.st_size, st.st_mtime_ns)
    return out


class Tracer:
    """Collects spans for one run.  ``enabled`` is switched per
    operation so the same run can time traced and untraced operations
    side by side; wrappers are a pass-through while it is off."""

    def __init__(self) -> None:
        self.enabled = False
        self.spans: list[Span] = []
        self.sc = None
        self._stack: list[Span] = []
        self._ids = itertools.count(1)
        self._trace_id = 0
        self._saved: list[tuple[object, str, object]] = []

    # ------------------------------------------------------- recording
    @contextmanager
    def operation(self, name: str, enabled: bool):
        """Root span of one benchmark operation with a fresh trace id."""
        self.enabled = enabled
        self._trace_id = next(self._ids)
        try:
            with self.span(f"bench.{name}") as s:
                yield s
        finally:
            self.enabled = False

    @contextmanager
    def follow_up(self, trace_id: int):
        """Trace work done for an operation after its timed part (the
        traced run's extra probes) under the operation's trace id."""
        self.enabled = True
        self._trace_id = trace_id
        try:
            yield
        finally:
            self.enabled = False

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(name, self._trace_id, next(self._ids),
                 parent.span_id if parent else None, time.perf_counter(),
                 attrs=dict(attrs))
        self._set_group(f"perfbench-{s.span_id}")
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self._set_group(f"perfbench-{parent.span_id}" if parent else None)
            self.spans.append(s)

    def _set_group(self, group: str | None) -> None:
        if self.sc is not None:
            self.sc.setLocalProperty(_GROUP, group)

    # -------------------------------------------------------- wrappers
    def install(self) -> None:
        """Wrap every layer function in ``LAYER_FUNCTIONS`` and
        ``SinkSpec.validate``."""
        for mod_name, attr, span_name in LAYER_FUNCTIONS:
            mod = importlib.import_module(mod_name)
            self._patch(mod, attr, self._wrap(getattr(mod, attr), span_name))
        from dynamic_partitioner_spark.spec import SinkSpec
        self._patch(SinkSpec, "validate",
                    self._wrap(SinkSpec.validate, "spec.validate"))

    def uninstall(self) -> None:
        while self._saved:
            owner, attr, orig = self._saved.pop()
            setattr(owner, attr, orig)

    def _patch(self, owner, attr: str, new) -> None:
        self._saved.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, new)

    def _wrap(self, fn, span_name: str):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not tracer.enabled:
                return fn(*args, **kwargs)
            target = _write_target(span_name, args, kwargs)
            before = data_files(target) if target else None
            with tracer.span(span_name) as s:
                result = fn(*args, **kwargs)
            if span_name == "partitioned_write.write_partitioned":
                s.attrs["fmt"] = args[1].fmt
            if before is not None:
                after = data_files(target)
                new = [p for p, v in after.items() if before.get(p) != v]
                s.attrs["files_written"] = len(new)
                s.attrs["bytes_written"] = sum(after[p][0] for p in new)
            if isinstance(result, list):
                s.attrs["items"] = len(result)
            if span_name in _KEEP_RESULT:
                s.attrs["result"] = result
            return result

        return traced

    # ------------------------------------------------------ accounting
    def count_jobs(self, spans: list[Span], settle_s: float = 2.0) -> None:
        """Fill ``jobs`` and ``tasks`` of ``spans`` from the status
        tracker.  The tracker is fed by Spark's asynchronous listener
        bus, so the counts are re-read until two reads agree."""
        tracker = self.sc.statusTracker()

        def read():
            out = []
            for s in spans:
                jobs = tracker.getJobIdsForGroup(f"perfbench-{s.span_id}")
                tasks = 0
                for j in jobs:
                    info = tracker.getJobInfo(j)
                    for sid in (info.stageIds if info else []):
                        st = tracker.getStageInfo(sid)
                        tasks += st.numCompletedTasks if st else 0
                out.append((len(jobs), tasks))
            return out

        deadline = time.perf_counter() + settle_s
        prev = read()
        while time.perf_counter() < deadline:
            time.sleep(0.05)
            cur = read()
            if cur == prev:
                break
            prev = cur
        for s, (jobs, tasks) in zip(spans, prev):
            s.jobs, s.tasks = jobs, tasks


def _write_target(span_name: str, args, kwargs) -> str | None:
    """Output directory of a wrapped write call, for the written-file
    diff (``write_partitioned(df, spec, path)``)."""
    if span_name != "partitioned_write.write_partitioned":
        return None
    spec = args[1] if len(args) > 1 else kwargs["spec"]
    path = args[2] if len(args) > 2 else kwargs.get("path")
    return path or spec.base_path or spec.name


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> duration minus the time its direct children cover
    (children run nested and sequentially on the calling thread)."""
    child = {}
    for s in spans:
        if s.parent is not None:
            child[s.parent] = child.get(s.parent, 0.0) + s.duration
    return {s.span_id: s.duration - child.get(s.span_id, 0.0)
            for s in spans}


def ancestors(span: Span, by_id: dict[int, Span]):
    p = span.parent
    while p is not None and p in by_id:
        yield by_id[p]
        p = by_id[p].parent
