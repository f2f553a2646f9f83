#!/usr/bin/env python3
"""The repository benchmark: ingest / scan / upsert / curate over the
dynamic-partitioned sink.

    python3 perfbench/run.py --workload scan --seed 1 --seconds 12 --trace 0

Each workload is a closed loop with one client: one Python process
driving the engine on ``local[N]`` (N = usable cores), one operation at
a time.  Inputs are generated from ``--seed`` into a work directory
inside the checkout, which is removed on exit.  Every operation's
output is checked against an independent answer (DuckDB over the
staged inputs); a wrong answer counts as a failed operation.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` is the
separate traced run that prints per-layer metrics (see ``tracing.py``).
``--workload all`` runs the four workloads in one session and prints
the workload-named metrics (``scan_p50_s``, ``ingest_rows_per_s``, ...).
The last line of standard output is always one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback
from contextlib import nullcontext

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: input staging repeats per run; ``setup_s`` uses the median
SETUP_REPS = 3


#: end-to-end metrics every single-workload run reports in its result
#: (the ``end_to_end`` list of BENCHMARK.json).  Wall-time latency and
#: throughput are printed by their workload names (``NAMED``) but not
#: gated: on a shared host they move with the neighbours' load.
E2E_UNITS = {
    "setup_s": "s", "op_cpu_p50_s": "s", "items_per_cpu_s": "1/s",
    "stored_bytes_per_row": "B", "files_per_partition": "count",
}

#: workload-named end-to-end metrics: (name, source field, unit)
NAMED = {
    "ingest": [("ingest_rows_per_s", "items_per_s", "1/s"),
               ("ingest_batch_p50_s", "op_p50_s", "s"),
               ("ingest_batch_tail_s", "op_tail_s", "s"),
               ("ingest_batch_cpu_p50_s", "op_cpu_p50_s", "s")],
    "scan": [("scan_p50_s", "op_p50_s", "s"),
             ("scan_tail_s", "op_tail_s", "s"),
             ("scans_per_s", "items_per_s", "1/s"),
             ("scan_cpu_p50_s", "op_cpu_p50_s", "s")],
    "upsert": [("upsert_p50_s", "op_p50_s", "s"),
               ("upsert_tail_s", "op_tail_s", "s"),
               ("upserted_rows_per_s", "items_per_s", "1/s"),
               ("upsert_cpu_p50_s", "op_cpu_p50_s", "s")],
    "curate": [("curate_p50_s", "op_p50_s", "s"),
               ("curate_tail_s", "op_tail_s", "s"),
               ("curate_cpu_p50_s", "op_cpu_p50_s", "s")],
}

#: per-layer metrics of the traced run, with units
LAYER_UNITS = {
    "session.start_s": "s",
    "spec.validate_s": "s",
    "partition_keys.noop_pass_s": "s",
    "partitioned_write.parquet.write_s": "s",
    "partitioned_write.orc.write_s": "s",
    "avro_py.write_s": "s",
    "partitioned_write.jobs": "count",
    "partitioned_write.tasks": "count",
    "partitioned_write.files_written": "count",
    "partitioned_write.bytes_written": "B",
    "partitioned_write.existence_check_s": "s",
    "partitioned_write.merge_s": "s",
    "partitioned_write.touched_partitions": "count",
    "partitioned_write.rewrite_amplification": "B/row",
    "read.resolve_s": "s",
    "read.resolve_jobs": "count",
    "read.resolve_tasks": "count",
    "read.execute_s": "s",
    "dedup.near_dup_minhash_s": "s",
    "dedup.apply_dedup_s": "s",
    "dedup.jobs": "count",
    "dedup.pair_yield": "ratio",
    "session.self_s": "s",
    "spec.self_s": "s",
    "partition_keys.self_s": "s",
    "partitioned_write.self_s": "s",
    "avro_py.self_s": "s",
    "read.self_s": "s",
    "dedup.self_s": "s",
    "bench.self_s": "s",
    "trace.overhead_s": "s",
    "trace.spans_per_op": "count",
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=["ingest", "scan", "upsert", "curate", "all"])
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=12.0,
                   help="measured time per workload")
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--scale", choices=["full", "smoke"], default="full")
    p.add_argument("--workdir", default=None,
                   help="where the run's own scratch directory is made "
                        "(default: .perfbench_work/ in the checkout)")
    p.add_argument("--oracle-offset", type=int, default=0,
                   help=argparse.SUPPRESS)  # test hook: falsify answers
    return p.parse_args(argv)


def configure_env(workdir: str, cpus: int) -> None:
    """Keep every file Spark, the JVM and Python write under
    ``workdir``, and let Spark's Python workers import the engine."""
    tmp = os.path.join(workdir, "tmp")
    local = os.path.join(workdir, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    # -XX:-UsePerfData: each JVM (the spark-submit launcher's too) would
    # otherwise write /tmp/hsperfdata_*
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData' "
        "--conf spark.ui.enabled=false "
        "--conf spark.ui.showConsoleProgress=false pyspark-shell")
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    import tempfile
    tempfile.tempdir = None


# ------------------------------------------------------------ metrics

def tail(samples: list[float]) -> tuple[float, float]:
    """The highest percentile with at least ten samples beyond it, and
    that percentile.  Below eleven samples no value qualifies and the
    maximum is reported as p100."""
    s = sorted(samples)
    n = len(s)
    if n == 0:
        return 0.0, 0.0
    if n < 11:
        return s[-1], 100.0
    return s[n - 11], 100.0 * (n - 10) / n


def vm_hwm_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def cpu_times() -> list[int]:
    """The aggregate ``cpu`` line of /proc/stat (empty off Linux)."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:]]
    except OSError:
        return []


TICKS = os.sysconf("SC_CLK_TCK")


def _proc_stat(pid: str) -> tuple[int, int]:
    """(parent pid, CPU ticks of the process and of its reaped
    children) from ``/proc/<pid>/stat``."""
    with open(f"/proc/{pid}/stat") as f:
        s = f.read()
    fields = s[s.rindex(")") + 2:].split()
    return int(fields[1]), sum(int(x) for x in fields[11:15])


def tree_cpu_s(jvm_pid: int | None) -> float:
    """CPU seconds used so far by this process, the JVM and every
    process under the JVM (Spark's Python workers).  Unlike wall time
    it leaves out the time the hypervisor gives to other guests, so it
    does not grow when the shared host is busy."""
    procs = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                procs[int(name)] = _proc_stat(name)
            except (OSError, ValueError, IndexError):   # it just exited
                pass
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in procs.items():
        children.setdefault(ppid, []).append(pid)
    tree, todo = {os.getpid()}, [jvm_pid] if jvm_pid else []
    while todo:
        pid = todo.pop()
        tree.add(pid)
        todo += children.get(pid, [])
    return sum(procs[p][1] for p in tree if p in procs) / TICKS


def jvm_process():
    from pyspark import SparkContext
    return getattr(SparkContext._gateway, "proc", None)


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM to exit (it exits when
    its standard input closes)."""
    from pyspark import SparkContext
    gateway, proc = SparkContext._gateway, jvm_process()
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def host_label(spark, cpus: int, load_start, cpu_start) -> dict:
    # steal (the 8th field) is time the hypervisor ran someone else
    # while this machine's CPUs wanted to run: a run with a high share
    # was slowed by its neighbours, not by the code
    cpu_end = cpu_times()
    delta = [b - a for a, b in zip(cpu_start, cpu_end)]
    steal = (100.0 * delta[7] / sum(delta)
             if len(delta) > 7 and sum(delta) else 0.0)
    return {
        "cpu_steal_pct": round(steal, 1),
        "cores": os.cpu_count(), "usable_cores": cpus,
        "master": spark.sparkContext.master,
        "loadavg_start": [round(x, 2) for x in load_start],
        "loadavg_end": [round(x, 2) for x in os.getloadavg()],
        "spark": spark.version,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        "python": platform.python_version(),
    }


# ---------------------------------------------------------- the loop

def run_workload(cls, ctx, seconds: float, jvm_pid: int | None) -> dict:
    wl = cls(ctx)

    def measured(fn) -> tuple[float, float]:
        """(wall seconds, CPU seconds) of ``fn()``."""
        c, t = tree_cpu_s(jvm_pid), time.perf_counter()
        fn()
        return time.perf_counter() - t, tree_cpu_s(jvm_pid) - c

    stage = []
    inputs = os.path.join(ctx.workdir, "inputs", wl.name)
    for rep in range(SETUP_REPS):
        shutil.rmtree(inputs, ignore_errors=True)
        stage.append(measured(lambda: wl.stage_inputs(inputs)))
    engine = measured(wl.stage_engine)
    stage_wall = statistics.median(w for w, _ in stage)
    stage_cpu = statistics.median(c for _, c in stage)

    tracer = ctx.tracer
    recs = []

    def one(i: int, sampled: bool, traced: bool) -> bool:
        op = wl.prepare(i)
        if op is None:
            return False
        rec = {"i": i, "sampled": sampled, "traced": traced,
               "items": op.items, "error": None, "extras": {}}
        with (tracer.operation(wl.name, traced) if tracer
              else nullcontext()) as root:
            c0 = tree_cpu_s(jvm_pid)
            t0 = time.perf_counter()
            try:
                op.run()
            except Exception:
                rec["error"] = traceback.format_exc(limit=4)
            rec["latency"] = time.perf_counter() - t0
            rec["cpu"] = tree_cpu_s(jvm_pid) - c0
        if rec["error"] is None:
            try:
                rec["error"] = op.check()
            except Exception:
                rec["error"] = traceback.format_exc(limit=4)
        if root is not None:
            rec["trace_id"] = root.trace_id
            if op.probe is not None and rec["error"] is None:
                with tracer.follow_up(root.trace_id):
                    rec["extras"] = op.probe(root.trace_id)
            tracer.count_jobs([s for s in tracer.spans
                               if s.trace_id == root.trace_id])
        if rec["error"]:
            print(f"[{wl.name}] op {i} failed: {rec['error']}",
                  file=sys.stderr)
        recs.append(rec)
        return True

    # untimed warm-up: the JVM keeps compiling the engine's code paths
    # over the first operations of a loop (scan latency falls ~3x over
    # its first dozen queries), so measuring starts in the steady state
    i = 0
    while i < wl.warmup_ops:
        if not one(i, sampled=False, traced=False):
            break
        i += 1
    # a traced run traces two of every three measured operations,
    # starting with the first; the untraced ones give the tracing
    # overhead.  Period 3 is coprime to the scan rotation's period 4,
    # so both sides see every query kind.
    deadline = time.perf_counter() + seconds
    first = i
    while time.perf_counter() < deadline:
        traced = tracer is not None and (i - first) % 3 != 2
        if not one(i, sampled=True, traced=traced):
            break
        i += 1

    finals = []
    try:
        finals = wl.final_checks()
    except Exception:
        finals = [("final checks", traceback.format_exc(limit=4))]
    for what, err in finals:
        if err:
            print(f"[{wl.name}] {what} failed: {err}", file=sys.stderr)

    sampled = [r for r in recs if r["sampled"]]
    ok = [r for r in sampled if r["error"] is None]
    lat = [r["latency"] for r in ok]
    cpu = [r["cpu"] for r in ok]
    print(f"[{wl.name}] latencies " + " ".join(
        f"{r['latency']:.3f}" for r in recs), file=sys.stderr)
    print(f"[{wl.name}] cpu " + " ".join(
        f"{r['cpu']:.3f}" for r in recs), file=sys.stderr)
    busy = sum(r["latency"] for r in sampled)
    tail_v, tail_p = tail(lat)
    store = wl.storage()
    print(f"[{wl.name}] staging: inputs median {stage_wall:.3f} s "
          f"({stage_cpu:.2f} CPU s) of {SETUP_REPS}, engine {engine[0]:.3f} s "
          f"({engine[1]:.2f} CPU s)", file=sys.stderr)
    failed = (sum(1 for r in recs if r["error"])
              + sum(1 for _, err in finals if err))
    return {
        "name": wl.name, "recs": recs, "n": len(lat),
        "attempted": len(recs) + len(finals), "failed": failed,
        "staging_wall_s": stage_wall + engine[0],
        "staging_cpu_s": stage_cpu + engine[1],
        "op_p50_s": statistics.median(lat) if lat else 0.0,
        "op_tail_s": tail_v, "tail_pct": tail_p,
        "items_per_s": (sum(r["items"] for r in ok) / busy) if busy else 0.0,
        "op_cpu_p50_s": statistics.median(cpu) if cpu else 0.0,
        "items_per_cpu_s": (sum(r["items"] for r in ok) / sum(cpu)
                            if sum(cpu) else 0.0),
        "storage": store, "stored_rows": wl.stored_rows,
    }


def layer_metrics(tracer, res: dict, session_s: float) -> dict:
    """Per-layer metrics: the median over traced operations of each
    operation's total, plus session start and tracing overhead."""
    from tracing import LAYERS, ancestors, self_times

    by_trace: dict[int, list] = {}
    for s in tracer.spans:
        by_trace.setdefault(s.trace_id, []).append(s)
    per_op = []
    for r in res["recs"]:
        if not r["traced"] or r["error"]:
            continue
        spans = by_trace.get(r["trace_id"], [])
        by_id = {s.span_id: s for s in spans}
        selfs = self_times(spans)

        def total(pred, attr=None):
            return sum((s.attrs.get(attr, 0) if attr else s.duration)
                       for s in spans if pred(s))

        def named(*names):
            return lambda s: s.name in names

        def parent_is(s, name):
            return s.parent in by_id and by_id[s.parent].name == name

        def under_merge(s):
            return any(a.name == "partitioned_write.merge_upsert"
                       for a in ancestors(s, by_id))

        write = "partitioned_write.write_partitioned"
        layer_of = {layer: [s for s in spans if s.layer == layer]
                    for layer in [*LAYERS, "bench"]}
        m = {
            "spec.validate_s": total(named("spec.validate")),
            "partition_keys.noop_pass_s": total(named("probe.noop_pass")),
            "partitioned_write.parquet.write_s": total(
                lambda s: s.name == write and s.attrs.get("fmt") == "parquet"),
            "partitioned_write.orc.write_s": total(
                lambda s: s.name == write and s.attrs.get("fmt") == "orc"),
            "avro_py.write_s": total(
                named("avro_py.write_avro_partitioned")),
            "partitioned_write.jobs": sum(
                s.jobs for s in layer_of["partitioned_write"]),
            "partitioned_write.tasks": sum(
                s.tasks for s in layer_of["partitioned_write"]),
            "partitioned_write.files_written": total(
                named(write), "files_written"),
            "partitioned_write.bytes_written": total(
                named(write), "bytes_written"),
            "partitioned_write.existence_check_s": total(
                lambda s: s.name in (
                    "partitioned_write.existing_touched_partitions",
                    "partitioned_write.collect_key_tuples")
                and parent_is(s, write)),
            "partitioned_write.merge_s": total(
                named("partitioned_write.merge_upsert")),
            "partitioned_write.touched_partitions": total(
                lambda s: s.name
                == "partitioned_write.existing_touched_partitions"
                and parent_is(s, "partitioned_write.merge_upsert"), "items"),
            "partitioned_write.rewrite_amplification": (
                total(lambda s: s.name == write and under_merge(s),
                      "bytes_written") / r["items"]
                if any(s.name == "partitioned_write.merge_upsert"
                       for s in spans) else 0.0),
            "read.resolve_s": total(named("read.read_partitioned")),
            "read.resolve_jobs": sum(
                s.jobs for s in spans if s.name == "read.read_partitioned"),
            "read.resolve_tasks": sum(
                s.tasks for s in spans if s.name == "read.read_partitioned"),
            "read.execute_s": total(named("read.execute")),
            "dedup.near_dup_minhash_s": total(named("dedup.near_dup_minhash")),
            "dedup.apply_dedup_s": total(named("dedup.apply_dedup")),
            "dedup.jobs": sum(s.jobs for s in layer_of["dedup"]),
            "dedup.pair_yield": r["extras"].get("pair_yield", 0.0),
            "trace.spans_per_op": len(spans),
        }
        for layer, members in layer_of.items():
            m[f"{layer}.self_s"] = sum(selfs[s.span_id] for s in members)
        per_op.append(m)
    out = {k: 0.0 for k in LAYER_UNITS}
    for k in per_op[0] if per_op else []:
        out[k] = statistics.median(m[k] for m in per_op)
    out["session.start_s"] = out["session.self_s"] = session_s
    traced = [r["latency"] for r in res["recs"]
              if r["sampled"] and r["traced"] and not r["error"]]
    plain = [r["latency"] for r in res["recs"]
             if r["sampled"] and not r["traced"] and not r["error"]]
    if traced and plain:
        out["trace.overhead_s"] = (statistics.median(traced)
                                   - statistics.median(plain))
    out["_n"] = len(per_op)
    return out


# ------------------------------------------------------------ report

def fmt_line(name: str, value: float, unit: str, note: str) -> str:
    return f"{name:<42} {value:>16.6f} {unit:<6} {note}"


def e2e_metrics(res: dict, session_cpu_s: float) -> dict[str, tuple[float, str]]:
    """Each end-to-end metric with the note naming its sample count."""
    st, rows, n = res["storage"], res["stored_rows"], res["n"]
    return {
        "setup_s": (session_cpu_s + res["staging_cpu_s"],
                    f"n={SETUP_REPS} stagings, CPU"),
        "op_cpu_p50_s": (res["op_cpu_p50_s"], f"n={n} ops"),
        "items_per_cpu_s": (res["items_per_cpu_s"], f"n={n} ops"),
        "stored_bytes_per_row": (st["bytes"] / rows if rows else 0.0,
                                 f"n={rows} rows"),
        "files_per_partition": (st["files"] / st["partitions"]
                                if st["partitions"] else 0.0,
                                f"n={st['partitions']} partitions"),
    }


def named_metrics(res: dict) -> list[tuple[str, float, str, str]]:
    n = res["n"]
    rows = []
    for name, src, unit in NAMED[res["name"]]:
        note = f"n={n}"
        if src == "op_tail_s":
            note += f" p{res['tail_pct']:.0f}"
        rows.append((name, res[src], unit, note))
    return rows


def main(argv=None) -> int:
    args = parse_args(argv)
    cpus = len(os.sched_getaffinity(0))
    base = os.path.abspath(args.workdir or os.path.join(ROOT,
                                                        ".perfbench_work"))
    made_base = not os.path.exists(base)
    workdir = os.path.join(base, f"run-{os.getpid()}")
    shutil.rmtree(workdir, ignore_errors=True)    # a reused pid's leftover
    os.makedirs(workdir)
    # a terminated run still stops Spark and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    cwd = os.getcwd()
    try:
        configure_env(workdir, cpus)
        os.chdir(workdir)
        sys.path.insert(0, ROOT)
        return _run(args, workdir, cpus)
    finally:
        os.chdir(cwd)
        shutil.rmtree(workdir, ignore_errors=True)
        if made_base:
            try:
                os.rmdir(base)
            except OSError:     # another run is using it
                pass


def _run(args, workdir: str, cpus: int) -> int:
    try:
        import dynamic_partitioner_spark.session as session
        import fixtures
        import workloads as wls
        from tracing import Tracer
    except ImportError as e:
        print(f"perfbench: cannot import the engine: {e}", file=sys.stderr)
        return 2

    load_start, cpu_start = os.getloadavg(), cpu_times()
    tracer = Tracer() if args.trace else None
    if tracer:
        tracer.install()
    c0, t0 = tree_cpu_s(None), time.perf_counter()
    with tracer.follow_up(0) if tracer else nullcontext():
        spark = session.get_spark("perfbench")
    session_s = time.perf_counter() - t0
    jvm = jvm_process()
    session_cpu_s = tree_cpu_s(jvm.pid if jvm else None) - c0
    try:
        if tracer:
            tracer.sc = spark.sparkContext
        ctx = wls.Ctx(spark, workdir, args.seed, fixtures.SCALES[args.scale],
                      tracer, args.oracle_offset)
        names = (list(wls.WORKLOADS) if args.workload == "all"
                 else [args.workload])
        results = [run_workload(wls.WORKLOADS[n], ctx, args.seconds,
                                jvm.pid if jvm else None)
                   for n in names]
        host = host_label(spark, cpus, load_start, cpu_start)
        rss_mb = vm_hwm_mb(os.getpid()) + (vm_hwm_mb(jvm.pid) if jvm else 0)
    finally:
        if tracer:
            tracer.uninstall()
        stop_spark(spark)

    print("host " + json.dumps(host, sort_keys=True))
    attempted = sum(r["attempted"] for r in results)
    failed = sum(r["failed"] for r in results)
    metrics: dict[str, dict] = {}

    def emit(name, value, unit, note=""):
        print(fmt_line(name, value, unit, note))
        metrics[name] = {"value": value, "unit": unit}

    if args.trace:
        for res in results:
            lm = layer_metrics(tracer, res, session_s)
            n = lm.pop("_n")
            prefix = f"{res['name']}:" if args.workload == "all" else ""
            for name, unit in LAYER_UNITS.items():
                emit(prefix + name, lm[name], unit, f"n={n} traced ops")
        for s in tracer.spans:
            print("span " + json.dumps(
                {"name": s.name, "trace_id": s.trace_id, "span_id": s.span_id,
                 "parent": s.parent, "start": s.start, "end": s.end,
                 "jobs": s.jobs, "tasks": s.tasks,
                 "attrs": {k: v for k, v in s.attrs.items()
                           if isinstance(v, (int, float, str))}}),
                file=sys.stderr)
    elif args.workload == "all":
        for res in results:
            for row in named_metrics(res):
                emit(*row)
        bytes_ = rows = files = parts = 0
        for res in results:
            if res["name"] != "scan":
                bytes_ += res["storage"]["bytes"]
                files += res["storage"]["files"]
                parts += res["storage"]["partitions"]
                rows += res["stored_rows"]
        print(fmt_line("setup_wall_s", session_s + sum(
            r["staging_wall_s"] for r in results), "s",
            f"n={len(results)} workloads"))
        emit("setup_s", session_cpu_s + sum(r["staging_cpu_s"]
                                            for r in results), "s",
             f"n={len(results)} workloads, CPU")
        emit("stored_bytes_per_row", bytes_ / rows if rows else 0.0, "B",
             f"n={rows} rows")
        emit("files_per_partition", files / parts if parts else 0.0,
             "count", f"n={parts} partitions")
        emit("peak_rss_mb", rss_mb, "MB", "n=1")
        emit("failed_op_ratio", failed / attempted if attempted else 0.0,
             "ratio", f"n={attempted} ops")
    else:
        res = results[0]
        for row in named_metrics(res):
            print(fmt_line(*row))
        print(fmt_line("failed_op_ratio", failed / attempted, "ratio",
                       f"n={attempted} ops"))
        print(fmt_line("peak_rss_mb", rss_mb, "MB", "n=1"))
        print(fmt_line("setup_wall_s", session_s + res["staging_wall_s"], "s",
                       f"n={SETUP_REPS} stagings"))
        for name, (value, note) in e2e_metrics(res, session_cpu_s).items():
            emit(name, value, E2E_UNITS[name], note)
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
