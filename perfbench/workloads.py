"""The four benchmark workloads.

Each workload stages its inputs (DuckDB, repeatable for the set-up
median), stages its engine-side tables once, then yields operations
for a closed loop with one client.  An operation is prepared untimed,
run timed, and checked untimed against a DuckDB (or pyarrow) answer.

The engine is driven only through its public functions, looked up on
their modules at call time so the traced run's wrappers see them.
"""

from __future__ import annotations

import glob
import math
import os
import random
from contextlib import nullcontext
from dataclasses import dataclass
from typing import Callable

import duckdb
import pyarrow.orc as orc
from pyspark.sql import functions as F
from pyspark.sql import types as T

import dynamic_partitioner_spark.operators.dedup as dd
import dynamic_partitioner_spark.operators.partition_keys as pk
import dynamic_partitioner_spark.operators.partitioned_write as pw
import dynamic_partitioner_spark.sources.read as rd
from dynamic_partitioner_spark.functions.text import normalize_ws, redact
from dynamic_partitioner_spark.spec import SinkSpec

import fixtures
from tracing import Tracer, data_files


@dataclass
class Ctx:
    spark: object
    workdir: str
    seed: int
    scale: dict
    tracer: Tracer | None = None
    #: added to every expected count; nonzero only to prove that a
    #: wrong answer is counted as a failure
    oracle_offset: int = 0


@dataclass
class Op:
    run: Callable[[], None]
    items: int
    check: Callable[[], str | None]      # None when the output is right
    #: traced run only: extra untimed measurements, given the trace id
    probe: Callable[[int], dict] | None = None


def _span(ctx: Ctx, name: str):
    """A benchmark-side span (a no-op when the run is untraced)."""
    return ctx.tracer.span(name) if ctx.tracer else nullcontext()


def _storage(roots: list[str]) -> dict:
    files = {}
    for r in roots:
        files.update(data_files(r))
    parts = {os.path.dirname(p) for p in files}
    return {"bytes": sum(v[0] for v in files.values()),
            "files": len(files), "partitions": len(parts)}


def _partition_dirs(path: str) -> int:
    try:
        return sum(1 for d in os.listdir(path) if "=" in d)
    except FileNotFoundError:
        return 0


class Workload:
    name = ""
    #: user rows currently stored (for stored_bytes_per_row)
    stored_rows = 0
    #: untimed operations before measuring starts
    warmup_ops = 2

    def __init__(self, ctx: Ctx) -> None:
        self.ctx = ctx
        self.spark = ctx.spark
        self.rng = random.Random(f"{self.name}:{ctx.seed}")
        self.tables = os.path.join(ctx.workdir, "tables", self.name)

    def stage_inputs(self, out_dir: str) -> None:
        raise NotImplementedError

    def stage_engine(self) -> None:
        """Engine-side set-up, run once after the last input staging."""

    def prepare(self, i: int) -> Op | None:
        """Operation ``i`` (None when the inputs are exhausted)."""
        raise NotImplementedError

    def final_checks(self) -> list[tuple[str, str | None]]:
        return []

    def storage(self) -> dict:
        raise NotImplementedError


def _mismatch(what: str, got, want) -> str | None:
    return None if got == want else f"{what}: got {got}, expected {want}"


def _close(a, b) -> bool:
    """Float sums agree to 1e-9 (Spark and DuckDB add in other orders);
    an empty selection sums to NULL on both sides."""
    if a is None or b is None:
        return a is b
    return math.isclose(a, b, rel_tol=1e-9)


# ------------------------------------------------------------ ingest

#: TPC-H ship days trimmed from each end (orders ramp up for ~121 days)
EDGE_DAYS = 125


class Ingest(Workload):
    """Daily-load pattern: consecutive ship-day landing batches of
    lineitem appended in CREATE mode to growing Parquet, ORC and Avro
    tables partitioned by ship day."""

    name = "ingest"
    formats = ("parquet", "orc", "avro")
    warmup_ops = 4

    def stage_inputs(self, out_dir: str) -> None:
        self.src = fixtures.tpch_tables(out_dir, self.ctx.scale["sf"])
        with duckdb.connect() as con:
            self.day_rows = dict(con.execute(
                f"SELECT ship_day, count(*) FROM '{self.src['lineitem']}' "
                "GROUP BY 1 ORDER BY 1").fetchall())
        # the first and last ~4 months of TPC-H ship dates are thin
        # (orders ramp up and wind down); batches come from between, in
        # an order the seed draws, so every seed loads similar batches
        days = sorted(self.day_rows)[EDGE_DAYS:-EDGE_DAYS]
        width = self.ctx.scale["ingest_days"]
        self.windows = [days[k:k + width]
                        for k in range(0, len(days) - width + 1, width)]
        self.rng.shuffle(self.windows)

    def stage_engine(self) -> None:
        self.base = self.spark.read.parquet(self.src["lineitem"])
        self.specs = {fmt: SinkSpec(name=f"lineitem_{fmt}",
                                    field_names=["ship_day"], fmt=fmt,
                                    base_path=os.path.join(self.tables, fmt))
                      for fmt in self.formats}
        for spec in self.specs.values():
            spec.validate(self.base.schema)
        self.done_days: list[str] = []

    def prepare(self, i: int) -> Op | None:
        if i >= len(self.windows):
            return None
        days = self.windows[i]
        batch = self.base.where(F.col("ship_day").isin(days))
        rows = sum(self.day_rows[d] for d in days)

        def run():
            for spec in self.specs.values():
                pw.write_partitioned(batch, spec)

        def check():
            self.done_days += days
            self.stored_rows += rows * len(self.formats)
            want = len(self.done_days) + self.ctx.oracle_offset
            for fmt, spec in self.specs.items():
                bad = _mismatch(f"{fmt} partitions",
                                _partition_dirs(spec.base_path), want)
                if bad:
                    return bad
            return None

        def probe(trace_id):
            with _span(self.ctx, "probe.noop_pass"):
                (pk.normalize_partition_keys(batch, ["ship_day"])
                 .write.format("noop").mode("overwrite").save())
            return {}

        return Op(run, rows, check, probe)

    def final_checks(self):
        want = sum(self.day_rows[d] for d in self.done_days)
        want += self.ctx.oracle_offset
        out = []
        pq = fixtures.hive_glob(self.specs["parquet"].base_path, 1, "parquet")
        with duckdb.connect() as con:
            got = con.execute(f"SELECT count(*) FROM '{pq}'").fetchone()[0]
        out.append(("parquet rows", _mismatch("parquet rows", got, want)))
        got = sum(orc.ORCFile(p).nrows for p in glob.glob(fixtures.hive_glob(
            self.specs["orc"].base_path, 1, "orc")))
        out.append(("orc rows", _mismatch("orc rows", got, want)))
        got = sum(fixtures.avro_rows(p) for p in glob.glob(fixtures.hive_glob(
            self.specs["avro"].base_path, 1, "avro")))
        out.append(("avro rows", _mismatch("avro rows", got, want)))
        return out

    def storage(self) -> dict:
        return _storage([s.base_path for s in self.specs.values()])


# -------------------------------------------------------------- scan

class Scan(Workload):
    """Partition-pruned queries over lineitem written by ship day:
    mostly point-day lookups, some 30-day ranges, a few whole-table
    aggregates."""

    name = "scan"
    warmup_ops = 12
    #: query kinds in a fixed rotation (15 point, 4 range, 1 full), so
    #: every run measures the same mix; the seed picks the days
    schedule = (["point"] * 3 + ["range"]) * 4 + ["point"] * 3 + ["full"]

    def stage_inputs(self, out_dir: str) -> None:
        src = fixtures.tpch_tables(out_dir, self.ctx.scale["sf"])
        # a fixed window in the dense middle of the ship dates, so every
        # seed scans a table of the same size; the seed picks the days.
        # DuckDB writes the Hive tree (one file per ship day), so the
        # workload measures reads only and its set-up no engine write.
        days = fixtures.distinct_values(src["lineitem"], "ship_day")
        n = self.ctx.scale["scan_days"]
        start = (len(days) - n) // 2
        self.days = days[start:start + n]
        self.src = os.path.join(out_dir, "scan_source.parquet")
        self.path = os.path.join(out_dir, "lineitem")
        with duckdb.connect() as con:
            con.execute(
                f"COPY (SELECT * FROM '{src['lineitem']}' WHERE ship_day "
                f"BETWEEN '{self.days[0]}' AND '{self.days[-1]}') "
                f"TO '{self.src}' (FORMAT parquet)")
            con.execute(f"COPY (SELECT * FROM '{self.src}') TO '{self.path}' "
                        "(FORMAT parquet, PARTITION_BY (ship_day))")
            self.stored_rows = con.execute(
                f"SELECT count(*) FROM '{self.src}'").fetchone()[0]

    def stage_engine(self) -> None:
        self.oracle = duckdb.connect()
        self.oracle.execute(f"CREATE TABLE t AS SELECT * FROM '{self.src}'")

    def _query(self, kind: str):
        if kind == "point":
            d = self.rng.choice(self.days)
            return kind, f"ship_day = '{d}'", F.col("ship_day") == d, []
        if kind == "range":
            k = self.rng.randrange(len(self.days) - 30)
            lo, hi = self.days[k], self.days[k + 29]
            return (kind, f"ship_day BETWEEN '{lo}' AND '{hi}'",
                    F.col("ship_day").between(lo, hi), ["l_returnflag"])
        return kind, "TRUE", F.lit(True), ["l_returnflag", "l_linestatus"]

    def prepare(self, i: int) -> Op:
        kind, where_sql, where, keys = self._query(
            self.schedule[i % len(self.schedule)])
        result = []

        def run():
            df = rd.read_partitioned(self.spark, self.path)
            with _span(self.ctx, "read.execute"):
                result[:] = (df.where(where).groupBy(*keys)
                             .agg(F.count(F.lit(1)).alias("n"),
                                  F.sum("l_quantity").alias("qty"),
                                  F.sum(F.col("l_extendedprice")
                                        * (1 - F.col("l_discount")))
                                  .alias("revenue"))
                             .collect())

        def check():
            sel = ", ".join(keys + [""])
            want = self.oracle.execute(
                f"SELECT {sel} count(*), sum(l_quantity), "
                f"sum(l_extendedprice * (1 - l_discount)) FROM t "
                f"WHERE {where_sql} GROUP BY ALL").fetchall()
            got = sorted(tuple(r) for r in result)
            want = sorted(want)
            if len(got) != len(want):
                return f"{kind} query: {len(got)} groups, want {len(want)}"
            for g, w in zip(got, want):
                n = w[len(keys)] + self.ctx.oracle_offset
                if (g[:len(keys)] != w[:len(keys)] or g[len(keys)] != n
                        or not all(_close(a, b)
                                   for a, b in zip(g[-2:], w[-2:]))):
                    return f"{kind} query {where_sql}: got {g}, want {w}"
            return None

        return Op(run, 1, check)

    def storage(self) -> dict:
        return _storage([self.path])


# ------------------------------------------------------------ upsert

ORDERS_SCHEMA = T.StructType([
    T.StructField("o_orderkey", T.LongType()),
    T.StructField("o_custkey", T.LongType()),
    T.StructField("o_orderstatus", T.StringType()),
    T.StructField("o_totalprice", T.DoubleType()),
    T.StructField("o_orderdate", T.StringType()),
    T.StructField("o_orderpriority", T.StringType()),
    T.StructField("o_month", T.StringType()),
])


class Upsert(Workload):
    """``merge_upsert`` batches mixing updates, inserts and deletes
    over orders partitioned by order month, keys drawn with recency
    skew; a DuckDB model applies the same changes."""

    name = "upsert"
    hot_months = 6
    hot_share = 0.8

    def stage_inputs(self, out_dir: str) -> None:
        src = fixtures.tpch_tables(out_dir, self.ctx.scale["sf"])
        months = fixtures.distinct_values(src["orders"], "o_month")
        self.months = months[-self.ctx.scale["upsert_months"]:]
        self.src = os.path.join(out_dir, "upsert_source.parquet")
        with duckdb.connect() as con:
            con.execute(
                f"COPY (SELECT * FROM '{src['orders']}' WHERE o_month >= "
                f"'{self.months[0]}' ORDER BY o_orderkey) "
                f"TO '{self.src}' (FORMAT parquet)")

    def stage_engine(self) -> None:
        self.path = os.path.join(self.tables, "orders")
        self.spec = SinkSpec(name="orders", field_names=["o_month"],
                             base_path=self.path)
        pw.write_partitioned(
            self.spark.read.schema(ORDERS_SCHEMA).parquet(self.src),
            self.spec)
        self.model = duckdb.connect()
        self.model.execute(
            f"CREATE TABLE model AS SELECT * FROM '{self.src}'")
        self.keys = dict(self.model.execute(
            "SELECT o_orderkey, o_month FROM model").fetchall())
        self.next_key = max(self.keys) + 1

    def _month(self) -> str:
        hot = self.months[-self.hot_months:]
        if self.rng.random() < self.hot_share:
            return self.rng.choice(hot)
        return self.rng.choice(self.months)

    def _batch(self):
        n = self.ctx.scale["upsert_rows"]
        n_ins, n_del = n // 4, n // 8
        by_month: dict[str, list[int]] = {}
        for k, m in self.keys.items():
            by_month.setdefault(m, []).append(k)
        chosen: set[int] = set()
        while len(chosen) < n - n_ins:
            pool = by_month.get(self._month())
            if pool:
                chosen.add(self.rng.choice(pool))
        chosen_l = sorted(chosen)
        self.rng.shuffle(chosen_l)
        deletes = [(k, self.keys[k]) for k in chosen_l[:n_del]]
        updates = []
        for k in chosen_l[n_del:]:
            updates.append(self._row(k, self.keys[k]))
        for _ in range(n_ins):
            updates.append(self._row(self.next_key, self._month()))
            self.next_key += 1
        return updates, deletes

    def _row(self, key: int, month: str):
        r = self.rng
        return (key, r.randrange(1, 1500), r.choice("OFP"),
                round(r.uniform(900.0, 450000.0), 2),
                f"{month}-{r.randint(1, 28):02d}",
                r.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                          "5-LOW"]), month)

    def prepare(self, i: int) -> Op:
        updates, deletes = self._batch()
        upd_df = self.spark.createDataFrame(updates, ORDERS_SCHEMA)
        del_df = self.spark.createDataFrame(
            deletes, "o_orderkey long, o_month string")

        def run():
            pw.merge_upsert(self.spark, self.path, upd_df, self.spec,
                            ["o_orderkey"], deletes=del_df)

        def check():
            m = self.model
            m.executemany("DELETE FROM model WHERE o_orderkey = ?",
                          [(k,) for k, _ in deletes]
                          + [(r[0],) for r in updates])
            m.executemany("INSERT INTO model VALUES (?, ?, ?, ?, ?, ?, ?)",
                          updates)
            for k, _ in deletes:
                del self.keys[k]
            for r in updates:
                self.keys[r[0]] = r[6]
            want = m.execute(fixtures.orders_checksum_sql("model")).fetchone()
            want = (want[0] + self.ctx.oracle_offset, *want[1:])
            files = fixtures.hive_glob(self.path, 1, "parquet")
            with duckdb.connect() as con:
                got = con.execute(fixtures.orders_checksum_sql(
                    f"read_parquet('{files}', hive_partitioning = true)"
                )).fetchone()
            self.stored_rows = got[0]
            return _mismatch("orders checksum", tuple(got), tuple(want))

        return Op(run, len(updates) + len(deletes), check)

    def storage(self) -> dict:
        return _storage([self.path])


# ------------------------------------------------------------ curate

class Curate(Workload):
    """Documents through redact + normalize, MinHash near-duplicate
    detection, dedup, and a partitioned write by (lang, source)."""

    name = "curate"

    def stage_inputs(self, out_dir: str) -> None:
        self.corpus = fixtures.documents(out_dir, self.ctx.scale["docs"],
                                         self.ctx.seed)

    def stage_engine(self) -> None:
        self.base = self.spark.read.parquet(self.corpus.path).drop(
            "origin_id")
        self.spec = SinkSpec(name="curated", field_names=["lang", "source"])
        self.spec.validate(self.base.schema)
        self.last_out = None

    def prepare(self, i: int) -> Op:
        out = os.path.join(self.tables, f"run-{i}")

        def run():
            docs = self.base.withColumn(
                "text", normalize_ws(redact(F.col("text"))))
            pairs = dd.near_dup_minhash(docs, "doc_id", "text")
            kept = dd.apply_dedup(docs, pairs, "doc_id")
            pw.write_partitioned(kept, self.spec, out)

        def check():
            self.spark.catalog.clearCache()
            self.last_out = out
            files = fixtures.hive_glob(out, 2, "parquet")
            with duckdb.connect() as con:
                got, parts = con.execute(
                    f"SELECT count(*), count(DISTINCT (lang, source)) FROM "
                    f"read_parquet('{files}', hive_partitioning = true)"
                ).fetchone()
            self.stored_rows = got
            want = self.corpus.n_origins + self.ctx.oracle_offset
            return (_mismatch("kept documents", got, want)
                    or _mismatch("partitions", parts,
                                 self.corpus.n_partitions))

        def probe(trace_id):
            # candidate pairs vs verified pairs of this operation
            mine = [s for s in self.ctx.tracer.spans
                    if s.trace_id == trace_id]
            res = {s.name: s.attrs.pop("result", None) for s in mine}
            cand = res.get("dedup.lsh_candidate_pairs")
            ver = res.get("dedup.near_dup_minhash")
            out = {}
            if cand is not None and ver is not None:
                n_cand, n_ver = cand.count(), ver.count()
                out["pair_yield"] = n_ver / n_cand if n_cand else 0.0
            self.spark.catalog.clearCache()
            return out

        return Op(run, self.corpus.n_docs, check, probe)

    def storage(self) -> dict:
        return _storage([self.last_out] if self.last_out else [])


WORKLOADS = {w.name: w for w in (Ingest, Scan, Upsert, Curate)}
