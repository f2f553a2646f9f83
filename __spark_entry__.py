"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` exposes every implemented operator from SURVEY.md §2 (the
reference's dynamic-partitioned sink surface S1–S7 + read-back) and the
north-star extensions (dedup / similarity / text analysis / multimodal /
streaming).  ``oracle_sql()`` carries a DuckDB twin for every key but
one: the sketch/approximate ops (MinHash LSH, sign-LSH ANN, IVF, PQ
rerank, SemDeDup, HLL / approx-percentile, sequence packing, PageRank)
are hash-checked through INVARIANT-CERTIFICATION rows — deterministic
grids plus oracle-asserted booleans / exact twin columns
(``_ann_invariant_rows`` / ``_pair_certification`` / the sketch_cms
pattern) — while their data-dependent recall / error bounds stay
pinned in pytest.  The one remaining rows-only key is
``text_bpe_learn`` (an iterative merge SEQUENCE with no SQL twin;
asserted in tests/test_entry_contract.py).

Conventions shared by both sides so value-hashes match:
  * every computed column is aliased identically in Spark and SQL
  * timestamps are formatted to 'yyyy-MM-dd HH:mm:ss' strings
  * float aggregates/similarities are rounded (2–4 dp)
  * partition-key columns come back as STRING (reference semantics,
    PartitionedFileSetSinkConfig.java:146)
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dynamic_partitioner_spark import (
    SinkSpec,
    apply_engine_confs,
    read_partitioned,
    read_payload,
    write_partitioned,
)
from dynamic_partitioner_spark.functions import text as TX
from dynamic_partitioner_spark.functions.checkpoint import (
    checkpoint_df)
from dynamic_partitioner_spark.functions.vectors import (
    L2_NORM_SQL,
    ROUND4_SQL,
    cosine,
    cosine_batched,
    l2_norm,
    round4,
)
from dynamic_partitioner_spark.operators import dedup as DD
from dynamic_partitioner_spark.operators.quantize import (
    ROUND8_SQL as _ROUND8_SQL,
)
from dynamic_partitioner_spark.operators.repetition import (
    repetition_signals_sql as _repetition_sql)
from dynamic_partitioner_spark.operators.multimodal import (
    feature_rows,
    to_binary_table,
)
from dynamic_partitioner_spark.operators.similarity import (
    topk_ann_lsh,
    topk_bruteforce,
)
from dynamic_partitioner_spark.streaming.write import (
    run_stream_to_completion,
    stream_from_files,
    stream_write_partitioned,
)

#: per-PROCESS scratch root: two harness processes running concurrently
#: (driver check + pytest, or two contract sweeps) must never share a
#: sink/checkpoint/source dir — a shared fixed path let one process
#: rmtree a directory the other's streaming query was mid-write in
#: (r7 VERDICT "contention-fragile" item).  The dir is removed at
#: process exit; a crashed run's leftovers are cleaned lazily by the
#: next run's sweep of stale run-* dirs.
SCRATCH = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                       ".scratch", f"run-{os.getpid()}")


def _clean_stale_runs() -> None:
    import atexit

    from dynamic_partitioner_spark.session import _sweep_stale_dirs

    atexit.register(shutil.rmtree, SCRATCH, ignore_errors=True)
    _sweep_stale_dirs(os.path.dirname(SCRATCH))


_clean_stale_runs()


def _out(key: str) -> str:
    path = f"{SCRATCH}/{key}"
    shutil.rmtree(path, ignore_errors=True)
    return path


def _certify_booleans(key: str, audit_df: DataFrame,
                      bool_cols: list[str],
                      observed_df: DataFrame | None = None,
                      max_diag_rows: int = 200) -> None:
    """Loud physical-write certification (r9 VERDICT #2/#3).

    The ops_* keys certify their physical write with per-partition-key
    boolean invariants that hold under ANY <=cap file decomposition.
    Hashing those booleans made a driver-side violation collapse into
    an undiagnosable hash mismatch (ops_compaction_plan was hash-red
    in r8 AND r9 with no way to tell WHICH invariant flipped, or
    whether the oracle dialect was at fault).  This helper collects
    the tiny per-key audit relation (a handful of rows — one per
    partition key) and RAISES with the violated invariants plus the
    observed per-file decomposition, so the driver records a
    self-describing ``err`` string instead of ``hash_match: false``.
    ``observed_df`` is bounded by files-per-key (rows/cap) and is
    collected only on failure."""
    rows = audit_df.collect()
    bad = [r for r in rows
           if not all(bool(r[c]) for c in bool_cols)]
    if not bad:
        return
    lines = [f"{key}: physical-write audit violated — "
             + "; ".join(
                 str(r["pk"]) + ": "
                 + ",".join(f"{c}={r[c]}" for c in bool_cols
                            if not r[c])
                 for r in bad)]
    if observed_df is not None:
        obs = observed_df.limit(max_diag_rows).collect()
        lines.append("observed per-file decomposition:")
        lines.extend("  " + str(tuple(r)) for r in obs)
    raise RuntimeError("\n".join(lines))


def _table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# Event-time access is schema-adaptive (LONG nanos vs TIMESTAMP parquet
# encodings) — single authority in functions/eventtime.py.
from dynamic_partitioner_spark.functions.eventtime import (  # noqa: E402
    event_time_ts, event_time_us)


_TS_FMT = "yyyy-MM-dd HH:mm:ss"
_TS_FMT_DUCK = "%Y-%m-%d %H:%M:%S"

#: lineitem projection used by the write/read-back keys — timestamps
#: stringified, everything else passed through.
_LI_COLS = ["l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
            "l_quantity", "l_extendedprice", "l_discount", "l_tax",
            "l_returnflag", "l_linestatus"]
_LI_SELECT_SQL = (", ".join(_LI_COLS)
                  + f", strftime(l_shipdate, '{_TS_FMT_DUCK}') AS l_shipdate")


def _li_stringified(df: DataFrame) -> DataFrame:
    return df.select(*_LI_COLS,
                     F.date_format("l_shipdate", _TS_FMT).alias("l_shipdate"))


# =====================================================================
# Reference surface S1–S7: dynamic-partitioned write + read-back
# =====================================================================

def q_pw_single(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1: parquet sink, one partition field (string)."""
    apply_engine_confs(spark)
    df = _table(spark, sf_dir, "lineitem")
    out = _out("pw_single")
    write_partitioned(df, SinkSpec(name="li", field_names=["l_returnflag"]), out)
    return _li_stringified(read_partitioned(spark, out))


def q_pw_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1: parquet sink, multi-field ordered key."""
    apply_engine_confs(spark)
    df = _table(spark, sf_dir, "lineitem")
    out = _out("pw_multi")
    write_partitioned(
        df, SinkSpec(name="li", field_names=["l_returnflag", "l_linestatus"]), out)
    return _li_stringified(read_partitioned(spark, out))


def q_pw_orc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3: ORC sink with codec + chunk/stripe/stride/index knobs."""
    apply_engine_confs(spark)
    df = _table(spark, sf_dir, "orders")
    out = _out("pw_orc")
    spec = SinkSpec(name="ord", field_names=["o_orderpriority"], fmt="orc",
                    compression_codec="snappy", compression_chunk_size=262144,
                    stripe_size=67108864, index_stride=10000, create_index=True)
    write_partitioned(df, spec, out)
    back = read_partitioned(spark, out, "orc")
    return back.select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
                       F.date_format("o_orderdate", _TS_FMT).alias("o_orderdate"),
                       "o_orderpriority")


def q_pw_avro(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2: Avro sink.  With the spark-avro connector absent (this
    environment), ``write_partitioned`` transparently falls back to the
    pure-Python Avro object-container codec (formats/avro_py.py) — same
    Hive layout, per-key writer fan-out, deflate blocks — and read-back
    decodes executor-side via binaryFile + mapInPandas."""
    apply_engine_confs(spark)
    from pyspark.sql import types as T
    from dynamic_partitioner_spark.formats import read_avro_partitioned
    from dynamic_partitioner_spark.operators.partitioned_write import (
        spark_avro_available)

    df = _table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority",
        "o_orderstatus")
    out = _out("pw_avro")
    spec = SinkSpec(name="ord_avro", field_names=["o_orderstatus"], fmt="avro")
    write_partitioned(df, spec, out)
    if spark_avro_available(spark):
        back = read_partitioned(spark, out, "avro")
    else:
        payload = T.StructType(
            [f for f in df.schema.fields if f.name != "o_orderstatus"])
        back = read_avro_partitioned(spark, out, ["o_orderstatus"], payload)
    return back.select("o_orderkey", "o_custkey", "o_totalprice",
                       "o_orderpriority", "o_orderstatus")


def q_key_trim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4: String.valueOf(v).trim() key semantics — a padded string key
    and a DOUBLE key partition via their trimmed string forms."""
    apply_engine_confs(spark)
    df = (_table(spark, sf_dir, "lineitem")
          .select("l_orderkey", "l_linenumber", "l_quantity",
                  F.concat(F.lit("  "), F.col("l_returnflag"), F.lit(" "))
                  .alias("rf_pad")))
    out = _out("key_trim")
    write_partitioned(
        df, SinkSpec(name="kt", field_names=["rf_pad", "l_quantity"]), out)
    return read_partitioned(spark, out).select(
        "l_orderkey", "l_linenumber", "rf_pad", "l_quantity")


def q_append_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5: CREATE_OR_APPEND — two writes land in the same partitions."""
    apply_engine_confs(spark)
    df = _table(spark, sf_dir, "lineitem")
    out = _out("append_mode")
    first = df.where(F.col("l_linenumber") <= 3)
    rest = df.where(F.col("l_linenumber") > 3)
    write_partitioned(
        first, SinkSpec(name="li", field_names=["l_returnflag"]), out)
    write_partitioned(
        rest, SinkSpec(name="li", field_names=["l_returnflag"],
                       append_to_partition="CREATE_OR_APPEND"), out)
    return _li_stringified(read_partitioned(spark, out))


def q_overwrite_dynamic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5 extension: dynamic partition overwrite.  Full write, then an
    overwrite carrying ONLY the 'R' partition — other partitions must
    survive untouched, so the read-back equals the full table (a static
    overwrite would have dropped them)."""
    apply_engine_confs(spark)
    df = _li_stringified(_table(spark, sf_dir, "lineitem"))
    out = _out("overwrite_dynamic")
    write_partitioned(
        df, SinkSpec(name="li", field_names=["l_returnflag"]), out)
    subset = df.where(F.col("l_returnflag") == "R")
    write_partitioned(
        subset, SinkSpec(name="li", field_names=["l_returnflag"],
                         overwrite_partitions=True), out)
    return read_partitioned(spark, out).select(*_LI_COLS, "l_shipdate")


def q_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE without a table format: updated keys replace in place, and
    only the partitions present in the updates are rewritten (dynamic
    overwrite under the hood).  Every 100th order doubles its total."""
    from dynamic_partitioner_spark.operators.partitioned_write import (
        merge_upsert)
    apply_engine_confs(spark)
    df = _table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority",
        "o_orderstatus")
    out = _out("merge_upsert")
    spec = SinkSpec(name="ord_merge", field_names=["o_orderstatus"])
    write_partitioned(df, spec, out)
    updates = (df.where(F.col("o_orderkey") % 100 == 0)
               .withColumn("o_totalprice", F.col("o_totalprice") * 2))
    merge_upsert(spark, out, updates, spec, ["o_orderkey"])
    return read_partitioned(spark, out).select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority",
        "o_orderstatus")


def q_text_top_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level top-50 word trigrams: explode shingles → count →
    rank.  The canonical shuffle-then-topk shape (partial agg map-side,
    one exchange on the ngram)."""
    docs = _table(spark, sf_dir, "documents")
    grams = docs.select(
        F.explode(DD.shingles_batched(F.col("text"), 3)).alias("ngram"))
    counts = grams.groupBy("ngram").agg(F.count(F.lit(1)).alias("n"))
    # orderBy+limit plans TakeOrderedAndProject (distributed per-
    # partition top-k, no single-partition window over the full
    # vocabulary); the rank window then runs over ≤50 rows
    top = counts.orderBy(F.col("n").desc(), F.col("ngram")).limit(50)
    w = Window.orderBy(F.col("n").desc(), F.col("ngram"))
    return (top.withColumn("rnk", F.row_number().over(w))
            .select("ngram", "n", "rnk"))


def q_payload_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§1.4 table-schema semantics: payload view excludes partition cols."""
    apply_engine_confs(spark)
    df = _table(spark, sf_dir, "lineitem")
    out = _out("payload_projection")
    spec = SinkSpec(name="li", field_names=["l_returnflag", "l_linestatus"])
    write_partitioned(df, spec, out)
    payload = read_payload(spark, out, spec)
    keep = [c for c in _LI_COLS if c not in spec.field_names]
    return payload.select(*keep,
                          F.date_format("l_shipdate", _TS_FMT).alias("l_shipdate"))


def q_stage_tag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S7: opt-in constant stage-tag column (reference _CDAPStageName)."""
    apply_engine_confs(spark)
    df = _table(spark, sf_dir, "orders")
    out = _out("stage_tag")
    write_partitioned(
        df, SinkSpec(name="ord", field_names=["o_orderstatus"],
                     stage_name="ingest"), out)
    back = read_partitioned(spark, out)
    return back.select("o_orderkey", "o_custkey", "o_totalprice",
                       "o_orderpriority", "o_orderstatus", "_stage")


def q_nonnull_validation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.3 validation predicates as a data-quality report: NULL and '/'
    violations per partition-key candidate column."""
    docs = _table(spark, sf_dir, "documents")
    ev = _table(spark, sf_dir, "events")

    def _report(df: DataFrame, col: str) -> DataFrame:
        s = F.trim(F.col(col).cast("string"))
        return df.agg(
            F.sum(F.when(F.col(col).isNull(), 1).otherwise(0)).alias("n_null"),
            F.sum(F.when(s.contains("/"), 1).otherwise(0)).alias("n_slash"),
            F.count(F.lit(1)).alias("n_rows"),
        ).select(F.lit(col).alias("field"), "n_null", "n_slash", "n_rows")

    return (_report(docs, "lang")
            .unionByName(_report(docs, "source"))
            .unionByName(_report(ev, "props")))


# =====================================================================
# Query layer (Spark SQL replaces the reference's Hive/Explore role)
# =====================================================================

def q_pruned_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-pruned scan + aggregation over written data: the filter
    on the partition column prunes directories before any IO."""
    apply_engine_confs(spark)
    df = _table(spark, sf_dir, "lineitem")
    out = _out("pruned_agg")
    write_partitioned(df, SinkSpec(name="li", field_names=["l_returnflag"]), out)
    back = read_partitioned(spark, out)
    return (back.where(F.col("l_returnflag") == "A")
            .groupBy("l_linestatus")
            .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
                 F.round(F.sum(F.col("l_extendedprice")
                               * (1 - F.col("l_discount"))), 2).alias("revenue"),
                 F.count(F.lit(1)).alias("n_rows")))


def q_join_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star join with an explicit broadcast of the small dimension."""
    cust = _table(spark, sf_dir, "customer")
    orders = _table(spark, sf_dir, "orders")
    li = _table(spark, sf_dir, "lineitem")
    rev = (li.join(orders, li.l_orderkey == orders.o_orderkey)
           .join(F.broadcast(cust.where(F.col("c_mktsegment") == "BUILDING")),
                 orders.o_custkey == cust.c_custkey)
           .groupBy("o_orderkey")
           .agg(F.round(F.sum(F.col("l_extendedprice")
                              * (1 - F.col("l_discount"))), 2).alias("revenue"),
                F.count(F.lit(1)).alias("n_items")))
    return (rev.orderBy(F.col("revenue").desc(), F.col("o_orderkey"))
            .limit(10))


def q_window_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window ranking: top-3 events per user by value."""
    ev = _table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("value").desc(),
                                              F.col("event_id"))
    return (ev.withColumn("rnk", F.row_number().over(w))
            .where(F.col("rnk") <= 3)
            .select("user_id", "event_id", "event_type",
                    F.round("value", 4).alias("value"), "rnk"))


def q_source_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV source round-trip: write nation as CSV with header, read it
    back with an explicit schema (never inference at scale — one extra
    full pass).  Embedded commas/quotes survive quoting; newlines need
    multiLine on read.  Known CSV limitation (probed): empty string and
    NULL collapse to NULL on read-back regardless of emptyValue — use
    parquet when that distinction matters."""
    apply_engine_confs(spark)
    df = _table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey")
    out = _out("source_csv")
    df.write.option("header", "true").csv(out)
    back = (spark.read.option("header", "true")
            .schema("n_nationkey long, n_name string, n_regionkey long")
            .csv(out))
    return back


def q_source_jsonl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines source round-trip with explicit schema (region table)."""
    apply_engine_confs(spark)
    df = _table(spark, sf_dir, "region").select("r_regionkey", "r_name")
    out = _out("source_jsonl")
    df.write.json(out)
    back = (spark.read.schema("r_regionkey long, r_name string").json(out))
    return back


def q_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-located join: lineitem and orders bucketed on the join key →
    SortMergeJoin with no exchange on either side (shuffle happens once
    at bucketing time, amortized over every later join)."""
    from dynamic_partitioner_spark.operators.partitioned_write import (
        write_bucketed)
    apply_engine_confs(spark)
    write_bucketed(_table(spark, sf_dir, "lineitem")
                   .select("l_orderkey", "l_extendedprice", "l_discount"),
                   "li_bkt", ["l_orderkey"], n_buckets=8)
    write_bucketed(_table(spark, sf_dir, "orders")
                   .select("o_orderkey", "o_orderpriority"),
                   "ord_bkt", ["o_orderkey"], n_buckets=8)
    return spark.sql("""
        SELECT o_orderpriority,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
               count(*) AS n_items
        FROM li_bkt JOIN ord_bkt ON l_orderkey = o_orderkey
        GROUP BY o_orderpriority
    """)


def q_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON metadata extraction from the events props column —
    JVM-side get_json_object, no Python."""
    events = _table(spark, sf_dir, "events")
    return events.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("long").alias("k"),
        (F.get_json_object("props", "$.k").cast("long") % 10).alias("k_mod"))


def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join, Spark-first: for each error event, the user's most
    recent click at-or-before it.  NOT a range join — one shuffle on
    user_id and a running window max, the shape that scales (a join+agg
    formulation re-shuffles and explodes on skewed users)."""
    events = _table(spark, sf_dir, "events")
    evs = (events.where(F.col("event_type").isin("click", "error"))
           .select("event_id", "user_id", "event_type",
                   event_time_us(events).alias("ts_us")))
    w = (Window.partitionBy("user_id").orderBy("ts_us", "event_id")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    last_click = F.max(
        F.when(F.col("event_type") == "click", F.col("ts_us"))).over(w)
    return (evs.withColumn("last_click_us", last_click)
            .where(F.col("event_type") == "error")
            .select("event_id", "user_id", "ts_us", "last_click_us"))


def q_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAREST as-of join (either direction, ties toward the earlier
    neighbor): for each error event, the user's closest click in time.
    Same one-shuffle union-window shape as the backward as-of — a
    running max over preceding clicks plus a running min over following
    clicks, then a codegen CASE picks the closer; never a range join."""
    events = _table(spark, sf_dir, "events")
    evs = (events.where(F.col("event_type").isin("click", "error"))
           .select("event_id", "user_id", "event_type",
                   event_time_us(events).alias("ts_us")))
    click_ts = F.when(F.col("event_type") == "click", F.col("ts_us"))
    wb = (Window.partitionBy("user_id").orderBy("ts_us", "event_id")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    wf = (Window.partitionBy("user_id").orderBy("ts_us", "event_id")
          .rowsBetween(Window.currentRow, Window.unboundedFollowing))
    back = F.max(click_ts).over(wb)
    fwd = F.min(click_ts).over(wf)
    t = F.col("ts_us")
    nearest = (F.when(back.isNull(), fwd)
               .when(fwd.isNull(), back)
               .when(t - back <= fwd - t, back)
               .otherwise(fwd))
    return (evs.withColumn("nearest_click_us", nearest)
            .where(F.col("event_type") == "error")
            .select("event_id", "user_id", "ts_us", "nearest_click_us",
                    F.abs(F.col("nearest_click_us") - t).alias("delta_us")))


_HOUR_US = 3_600_000_000


def q_windowed_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct users per tumbling hour per event type — the
    expand-based distinct aggregate over a time bucket (one shuffle;
    at stream scale swap in approx_count_distinct, the
    query_approx_distinct key)."""
    events = _table(spark, sf_dir, "events")
    hr = F.expr(f"_us div {_HOUR_US}")
    ev = events.select(event_time_us(events).alias("_us"), "event_type",
                       "user_id").withColumn("hour_idx", hr)
    return (ev.groupBy("hour_idx", "event_type")
            .agg(F.countDistinct("user_id").alias("n_users"),
                 F.count(F.lit(1)).alias("n_events")))


def q_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval join without a nested-loop plan: events falling inside
    derived 'busy windows' (busiest hours, offset +30min so windows
    straddle bin boundaries), via bin-explode + equi-join."""
    from dynamic_partitioner_spark.operators.relational import (
        range_join_binned)
    events = _table(spark, sf_dir, "events")
    ev = events.select(event_time_us(events).alias("us"), "value")
    hrs = (ev.groupBy(F.expr(f"us div {_HOUR_US}").alias("h"))
           .agg(F.count(F.lit(1)).alias("n")))
    avg = hrs.agg(F.avg("n").alias("a"))
    busy = (hrs.crossJoin(F.broadcast(avg))
            .where(F.col("n") > 1.1 * F.col("a")).select("h"))
    win = busy.select(
        (F.col("h") * _HOUR_US + 1_800_000_000).alias("ws"),
        (F.col("h") * _HOUR_US + 5_400_000_000).alias("we"))
    rj = range_join_binned(ev, win, "us", "ws", "we", _HOUR_US)
    return (rj.groupBy(F.col("ws").alias("win_start_us"))
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.round(F.sum("value"), 2).alias("total_value")))


def q_query_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-type dispersion: nearest-rank median, MAD and the
    3-MAD outlier count over event values — exact centi-unit integer
    arithmetic end to end (selected medians, integer deviations,
    integer outlier cut), so both engines agree bit-for-bit."""
    from dynamic_partitioner_spark.operators.relational import robust_stats
    events = _table(spark, sf_dir, "events")
    return robust_stats(events, "event_type", "value", outlier_k=3)


def q_target_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out target encoding of order priority by total price:
    (group sum − own value)/(n − 1) on exact centi-unit integers, one
    double division per row — the leakage-safe categorical feature
    encoder, engine-exact by construction."""
    from dynamic_partitioner_spark.operators.relational import (
        target_encode_loo)
    orders = _table(spark, sf_dir, "orders")
    return target_encode_loo(orders, "o_orderpriority", "o_totalprice",
                             "o_orderkey")


def q_events_interval_union(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    """Per-user activity coverage via interval merge (gaps-and-
    islands): every event opens a 10-minute activity interval
    [t, t + 10min); overlapping/touching intervals merge with a
    running-max window scan (never an O(n²) overlap self-join),
    yielding merged-session count, total covered micros with overlap
    collapsed (half-open lengths — see interval_union's semantics
    note), and the longest continuous stretch.  All-integer
    epoch-micro bounds keep both engines bit-exact."""
    from dynamic_partitioner_spark.functions.eventtime import (
        event_time_us)
    from dynamic_partitioner_spark.operators.relational import (
        interval_union)
    events = _table(spark, sf_dir, "events")
    iv = events.select(
        "user_id", event_time_us(events).alias("s"),
        (event_time_us(events) + F.lit(600_000_000)).alias("e"))
    return interval_union(iv, "user_id", "s", "e")


def q_events_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user recency-weighted value feature: half-life EWMA (alpha
    = 1/2) over the last 20 events — engine-exact because the decay is
    a left fold of exact IEEE halvings in frame order, no libm pow and
    no approximation; the oracle runs the identical fold via
    list_reduce."""
    from dynamic_partitioner_spark.operators.relational import ewma_features
    events = _table(spark, sf_dir, "events")
    ev = events.select("user_id", "event_id", "value",
                       event_time_us(events).alias("ts_us"))
    return ewma_features(ev, "user_id", ["ts_us", "event_id"], "value",
                         window_rows=20)


def q_rollup_grains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style continuous aggregate: minute/hour/day grains in
    one scan; written partitioned by grain, a day query partition-prunes
    to 1/3 of the rollup."""
    from dynamic_partitioner_spark.operators.relational import (
        rollup_time_grains)
    events = _table(spark, sf_dir, "events")
    return rollup_time_grains(events, event_time_us(events), "value")


def q_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP aggregate over lineitem (subtotals + grand total)."""
    li = _table(spark, sf_dir, "lineitem")
    return (li.rollup("l_returnflag", "l_linestatus")
            .agg(F.count(F.lit(1)).alias("n_rows"),
                 F.round(F.sum("l_quantity"), 2).alias("sum_qty"))
            .select(F.coalesce(F.col("l_returnflag"), F.lit("ALL"))
                    .alias("l_returnflag"),
                    F.coalesce(F.col("l_linestatus"), F.lit("ALL"))
                    .alias("l_linestatus"),
                    "n_rows", "sum_qty"))


def q_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact percentiles per event type (linear interpolation, matching
    DuckDB quantile_cont)."""
    events = _table(spark, sf_dir, "events")
    return (events.groupBy("event_type")
            .agg(F.round(F.expr("percentile(value, 0.5)"), 4).alias("p50"),
                 F.round(F.expr("percentile(value, 0.9)"), 4).alias("p90"),
                 F.round(F.expr("percentile(value, 0.99)"), 4).alias("p99")))


def q_dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic near-dup pairs (k-means blocking,
    multi-probe boundary recall), flipped rows-only → hash-checked via
    pair-certification rows (``_pair_certification``) over a per-label
    corpus-count grid.  Unlike the sign-LSH twin, the op scores pairs
    with a normalize-then-matmul BLAS kernel whose summation order an
    independent per-pair recompute cannot reproduce bit-for-bit, so
    ``sim_verified`` uses ``tol=2e-4`` (two round4 grid steps): immune
    to kernel ulp, still flipped by any cluster-join mixup, whose
    cosine error is ≫ 1e-4.  Recall vs the exact pair set and the
    no-false-positives property stay pinned in tests/test_dedup.py."""
    emb = _table(spark, sf_dir, "embeddings")
    pairs = DD.semantic_dedup(emb, "vec_id", "embedding", threshold=0.3)
    va = emb.select(F.col("vec_id").alias("id_a"),
                    F.col("embedding").alias("_va"))
    vb = emb.select(F.col("vec_id").alias("id_b"),
                    F.col("embedding").alias("_vb"))
    chk = (pairs.join(va, "id_a").join(vb, "id_b")
           .withColumn("_re", round4(cosine_batched(F.col("_va"),
                                                    F.col("_vb")))))
    grid = emb.groupBy("label").agg(F.count(F.lit(1)).alias("n_vectors"))
    return (_pair_certification(chk, grid, "cos_sim", 0.3, tol=2e-4)
            .orderBy("label"))


def q_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT/melt — wide per-nation aggregates to long (metric, value)
    rows via the built-in ``unpivot`` (plans as a single Expand, the
    inverse of the pivot key's shape)."""
    cust = _table(spark, sf_dir, "customer")
    r2 = lambda c: F.floor(c * 100 + F.lit(0.5)) / 100  # noqa: E731
    wide = (cust.groupBy(F.col("c_nationkey").cast("long").alias("nation"))
            .agg(r2(F.sum("c_acctbal")).alias("total_bal"),
                 r2(F.avg("c_acctbal")).alias("avg_bal"),
                 F.count(F.lit(1)).cast("double").alias("n_customers")))
    return wide.unpivot("nation", ["total_bal", "avg_bal", "n_customers"],
                        "metric", "value")


def q_similarity_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ-style ANN: product-quantized codes (8 bytes/vector, 32×
    compression) score an ADC shortlist, then only the shortlist reads
    float vectors for the exact rerank.  Hash-checked via per-query
    STRUCTURAL invariant rows (rank density/uniqueness, no-self,
    sorted scores) — the numpy dot-product rerank's accumulation
    order differs from the Column cosine, so a float equality
    recompute would be ulp-flaky and is deliberately omitted
    (``check_exact=False``); quantized candidate selection stays
    data-dependent and recall ≥ 0.9 stays pinned in
    tests/test_quantize.py."""
    from dynamic_partitioner_spark.operators.quantize import (
        pq_topk_rerank, train_pq_codebooks)
    emb = _table(spark, sf_dir, "embeddings")
    books = train_pq_codebooks(emb, m=8, ksub=256, iters=8)
    queries = emb.where(F.col("vec_id") < 10)
    res = pq_topk_rerank(emb, queries, books, k=5, shortlist=4)
    return _ann_invariant_rows(queries, res, k=5, sim_col="score",
                               check_exact=False)


def q_quantile_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile discretization (feature binning): exact quartile cut
    points per event type, broadcast back, each event assigned its
    bucket — the standard numeric-feature preprocessing step.  Cut
    points are the same interpolated percentiles both engines compute
    (the query_percentiles parity), so bucket edges agree exactly."""
    events = _table(spark, sf_dir, "events")
    cuts = (events.groupBy("event_type")
            .agg(F.expr("percentile(value, 0.25)").alias("_q1"),
                 F.expr("percentile(value, 0.5)").alias("_q2"),
                 F.expr("percentile(value, 0.75)").alias("_q3")))
    ev = events.join(F.broadcast(cuts), "event_type")
    v = F.col("value")
    bucket = (F.when(v <= F.col("_q1"), 0)
              .when(v <= F.col("_q2"), 1)
              .when(v <= F.col("_q3"), 2)
              .otherwise(3))
    return (ev.select("event_type", bucket.alias("bucket"))
            .groupBy("event_type", "bucket")
            .agg(F.count(F.lit(1)).alias("n_events")))


# =====================================================================
# Dedup family (north-star extensions)
# =====================================================================

def _augmented_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents ∪ mutated copies of doc_id<50 (last two tokens dropped,
    id offset +1000000) — guarantees near-dup pairs exist at every SF.

    The fixed offset assumes corpus doc_id < 1e6 — true for every
    driver SF (sf1 tops out ~5e5) and for the sf1 inflated corpus; it
    is a TEST-FIXTURE device, not operator semantics (the dedup
    operators take arbitrary ids).  A corpus past 1e6 docs would
    collide mutant ids with real ones and flip the certification keys
    red loudly (duplicate ids fan out the verify joins), not silently."""
    docs = _table(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    toks = DD.tokens(F.col("text"))
    mut_text = F.array_join(
        F.slice(toks, 1, F.greatest(F.size(toks) - 2, F.lit(1))), " ")
    mut = docs.where(F.col("doc_id") < 50).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        mut_text.alias("text"), F.col("lang"))
    return docs.unionByName(mut)


_AUG_SQL = """
SELECT doc_id, text, lang FROM documents
UNION ALL
SELECT doc_id + 1000000 AS doc_id,
       array_to_string(list_slice(
           string_split_regex(trim(lower(text)), '[ \t\n\r]+'),
           1,
           greatest(len(string_split_regex(trim(lower(text)), '[ \t\n\r]+')) - 2, 1)
       ), ' ') AS text,
       lang
FROM documents WHERE doc_id < 50
"""


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _table(spark, sf_dir, "documents")
    return DD.exact_dedup(docs, ["text"], "doc_id").select(
        "text", "doc_id", "dup_count")


def q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup pairs, flipped rows-only → hash-checked via
    pair-certification rows (``_pair_certification``): the pair SET is
    LSH-band-data-dependent, but canonical form, the threshold cut,
    and reported-jaccard-equals-recompute are deterministic booleans.
    The recompute re-joins the raw corpus and shingles via the Column
    HOF form (``DD.shingles`` — a different code path from the
    pipeline's Arrow-batched verify, pinned element-identical in
    tests/test_dedup.py); jaccard is a ratio of exact small ints, so
    bit-equality (``tol=0``) is safe.  The grid is the 50 planted
    mutants with their exact twin Jaccard — a REAL data column the
    oracle recomputes from raw text (the dedup_ngram_jaccard parity) —
    plus ``twin_consistent``: IF the (orig, mutant) pair was emitted,
    its reported jaccard equals that exact value (vacuously TRUE when
    LSH missed the twin — presence would be recall, which stays pinned
    in pytest)."""
    from pyspark.storagelevel import StorageLevel

    corpus = _augmented_corpus(spark, sf_dir)
    # pairs feeds two consumers (the glob aggregate + twin_rep) and
    # sh feeds four (both verify sides + both grid sides): truncate /
    # persist each so the LSH pipeline and the interpreted-HOF shingle
    # scan run once, then eagerly checkpoint the tiny output and
    # release (the lm_score cache-release pattern)
    pairs = checkpoint_df(
        DD.near_dup_minhash(corpus, "doc_id", "text", threshold=0.5))
    sh = (corpus.select("doc_id", DD.shingles(F.col("text"), 3).alias("sh"))
          .persist(StorageLevel.MEMORY_AND_DISK))
    sa = sh.select(F.col("doc_id").alias("id_a"), F.col("sh").alias("_sa"))
    sb = sh.select(F.col("doc_id").alias("id_b"), F.col("sh").alias("_sb"))
    chk = (pairs.join(sa, "id_a").join(sb, "id_b")
           .withColumn("_re", round4(DD.jaccard(F.col("_sa"),
                                                F.col("_sb")))))
    orig = sh.where(F.col("doc_id") < 50).select(
        (F.col("doc_id") + 1000000).alias("mut_id"),
        F.col("sh").alias("_so"))
    mut = sh.where(F.col("doc_id") >= 1000000).select(
        F.col("doc_id").alias("mut_id"), F.col("sh").alias("_sm"))
    grid = orig.join(mut, "mut_id").select(
        "mut_id",
        round4(DD.jaccard(F.col("_so"), F.col("_sm")))
        .alias("twin_jaccard"))
    twin_rep = (pairs.where((F.col("id_a") < 50)
                            & (F.col("id_b") == F.col("id_a") + 1000000))
                .select(F.col("id_b").alias("mut_id"),
                        F.col("jaccard").alias("_rep")))
    grid = (grid.join(twin_rep, "mut_id", "left")
            .withColumn("twin_consistent",
                        F.coalesce(F.col("_rep") == F.col("twin_jaccard"),
                                   F.lit(True)))
            .select("mut_id", "twin_jaccard", "twin_consistent"))
    out = checkpoint_df(                 # 50 rows — frees sh below
        _pair_certification(chk, grid, "jaccard", 0.5, tol=0.0)
        .orderBy("mut_id"))
    sh.unpersist()
    return out


def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard pairs within lang blocks (SQL-checkable)."""
    corpus = _augmented_corpus(spark, sf_dir)
    return DD.ngram_jaccard_pairs(corpus, "doc_id", "text", "lang",
                                  threshold=0.5, n=3)


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash per document (SQL-checkable bit-for-bit; the
    Arrow-batched form is integer-exact so it hash-matches the DuckDB
    nibble-vote twin just like the Column spec form)."""
    docs = _table(spark, sf_dir, "documents")
    return docs.select("doc_id",
                       TX.simhash_batched(F.col("text")).alias("simhash"))


def q_dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = _augmented_corpus(spark, sf_dir)
    return DD.simhash_pairs(corpus, "doc_id", "text", "lang", max_hamming=2)


def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-time dedup: docs with doc_id < 250 are 'history' (their
    fingerprints persisted); the full corpus arrives as the new batch —
    only genuinely new, intra-batch-unique docs survive."""
    docs = _table(spark, sf_dir, "documents")
    history = (docs.where(F.col("doc_id") < 250)
               .select(TX.doc_fingerprint(F.col("text"))
                       .alias("fingerprint")))
    out = DD.incremental_dedup(docs, history,
                               TX.doc_fingerprint(F.col("text")), "doc_id")
    return out.select("doc_id", "lang", "source")


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairs → duplicate clusters (connected components, min-id
    representative).  Spark runs distributed label propagation; the
    oracle computes the same components with a DuckDB recursive-CTE
    transitive closure — two independent formulations."""
    corpus = _augmented_corpus(spark, sf_dir)
    pairs = DD.ngram_jaccard_pairs(corpus, "doc_id", "text", "lang",
                                   threshold=0.5, n=3)
    return DD.dedup_clusters(pairs)


def q_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _table(spark, sf_dir, "embeddings")
    return DD.embedding_near_dup(emb, "vec_id", "embedding", "label",
                                 threshold=0.3)


def q_dedup_embedding_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-free embedding near-dup (sign-LSH blocks + cosine verify),
    flipped rows-only → hash-checked via pair-certification rows
    (``_pair_certification``) over a per-label corpus-count grid.  The
    cosine recompute re-joins the raw vectors independently but reuses
    the op's own Arrow kernel (``cosine_batched`` — per-row einsum, so
    batch composition cannot change a row's sum order): bit-equality
    (``tol=0``) catches any bucket-join mixup without ulp flake.
    ``n_planes=None`` sizes the bucket count from the corpus (buckets ≈
    n/target) so the per-bucket quadratic stays bounded as SF grows;
    n_tables=8 amplifies recall for the low (0.3-cosine ≈ 72°)
    threshold.  Degenerate buckets are dropped by the default
    max_bucket_size guard.  Recall vs the exact pair set stays pinned
    in tests/test_dedup.py."""
    emb = _table(spark, sf_dir, "embeddings")
    pairs = DD.embedding_near_dup_lsh(emb, "vec_id", "embedding",
                                      threshold=0.3, n_planes=None,
                                      n_tables=8)
    va = emb.select(F.col("vec_id").alias("id_a"),
                    F.col("embedding").alias("_va"))
    vb = emb.select(F.col("vec_id").alias("id_b"),
                    F.col("embedding").alias("_vb"))
    chk = (pairs.join(va, "id_a").join(vb, "id_b")
           .withColumn("_re", round4(cosine_batched(F.col("_va"),
                                                    F.col("_vb")))))
    grid = emb.groupBy("label").agg(F.count(F.lit(1)).alias("n_vectors"))
    return (_pair_certification(chk, grid, "cos_sim", 0.3, tol=0.0)
            .orderBy("label"))


def q_corpus_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed training-data pipeline, end to end in one lazy plan:
    normalize+redact → quality gate → exact dedup on the cleaned text →
    stable split assignment → per-split stats.  One scan, one dedup
    shuffle, one agg shuffle."""
    from dynamic_partitioner_spark.operators.sampling import split_assign
    docs = _table(spark, sf_dir, "documents")
    clean = docs.select(
        "doc_id", TX.normalize_ws(TX.redact(F.col("text"))).alias("ct"))
    kept = clean.where((TX.token_count(F.col("ct")) >= 5)
                       & (TX.punct_ratio(F.col("ct")) < 0.2))
    deduped = (kept.groupBy("ct")
               .agg(F.min("doc_id").alias("doc_id")))
    split = split_assign(deduped, "doc_id")
    return (split.groupBy("split")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum(TX.token_count(F.col("ct")).cast("long"))
                 .alias("total_tokens")))


def q_corpus_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed training-data pipeline stage: language + length +
    quality gates, then per-language survivor stats — the canonical
    pre-training corpus filter, one scan + one agg shuffle."""
    docs = _table(spark, sf_dir, "documents")
    t = F.col("text")
    kept = docs.where((TX.token_count(t) >= 5)
                      & (TX.punct_ratio(t) < 0.2)
                      & (F.col("n_chars") >= 20))
    return (kept.groupBy("lang")
            .agg(F.count(F.lit(1)).alias("n_kept"),
                 F.round(F.avg(TX.quality_score(t)), 4).alias("avg_quality"),
                 F.round(F.avg(TX.token_count(t)), 4).alias("avg_tokens")))


# =====================================================================
# Deterministic sampling
# =====================================================================

def q_sample_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 10% hash sample on doc_id — pure filter, no
    shuffle, stable across runs/engines (md5-based unit draw)."""
    from dynamic_partitioner_spark.operators.sampling import hash_sample
    docs = _table(spark, sf_dir, "documents")
    return hash_sample(docs, "doc_id", 0.1).select("doc_id", "lang", "source")


def q_sample_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-key-stable train/val/test assignment (0.8/0.1/0.1) — a doc
    never migrates between splits as the corpus grows."""
    from dynamic_partitioner_spark.operators.sampling import split_assign
    docs = _table(spark, sf_dir, "documents")
    return split_assign(docs, "doc_id").select("doc_id", "split")


def q_sample_cap_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source balancing: at most 20 docs per lang, chosen by key hash
    (WindowGroupLimit prunes map-side before the group shuffle)."""
    from dynamic_partitioner_spark.operators.sampling import cap_per_group
    docs = _table(spark, sf_dir, "documents")
    return (cap_per_group(docs, "lang", "doc_id", 20)
            .select("doc_id", "lang"))


#: mixture spec shared by the Spark key and its oracle
_MIX_WEIGHTS = {"src0": 0.4, "src1": 0.3, "src2": 0.2, "src3": 0.1}
_MIX_TOTAL = 60


def q_sample_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted corpus mixture: ~60 rows at the requested source
    proportions regardless of corpus size (rates derive from live
    per-source counts; membership is a pure hash function)."""
    from dynamic_partitioner_spark.operators.sampling import mix_by_weights
    docs = _table(spark, sf_dir, "documents")
    return (mix_by_weights(docs, "source", "doc_id", _MIX_WEIGHTS, _MIX_TOTAL)
            .select("doc_id", "source", "lang"))


# =====================================================================
# Similarity search
# =====================================================================

def q_similarity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 10)
    return topk_bruteforce(emb, queries, k=5)


def _ann_invariant_rows(queries: DataFrame, res: DataFrame, k: int,
                        sim_col: str = "cos_sim",
                        check_exact: bool = True,
                        emb: DataFrame | None = None) -> DataFrame:
    """One certification row per query over an ANN result
    (query_id, rank, neighbor_id, <sim_col>) — the sketch_cms
    invariant pattern for approximate ops whose RESULT SET is
    data-dependent (so the rows themselves can never be oracle
    columns): the deterministic query grid plus oracle-asserted
    booleans.  ``ranks_ok`` = ranks distinct and dense from 1,
    neighbors unique, at most k; ``no_self`` = a query never returns
    itself;
    ``sims_sorted`` = scores non-increasing with rank;
    ``sims_exact`` (optional) = every reported similarity equals the
    round4-cosine recomputed through an independent join of the raw
    vectors — a bucket-join mixup (scoring against the wrong vector)
    flips it.  Queries with zero candidates still emit a row
    (vacuously TRUE) via the left join from the grid, so the row set
    is oracle-reproducible.  Recall itself stays pinned in pytest —
    it is a property of the corpus, not a deterministic invariant.

    ``queries`` (the same DataFrame handed to the ANN op, with
    ``vec_id``/``embedding``) defines BOTH the certification grid and
    the broadcast query-vector side — one source of truth, so a call
    site changing its query filter cannot leave the grid checking a
    stale set; ``emb`` (full corpus) is only needed for the neighbor
    side of the exact recompute."""
    # deterministic lag order even under the broken-op case of
    # duplicate ranks (which _rd flips red regardless)
    w = Window.partitionBy("query_id").orderBy("rank", "neighbor_id")
    r = res.withColumn("_prev", F.lag(sim_col).over(w))
    if check_exact and emb is None:
        raise ValueError("check_exact=True needs the full corpus (emb=) "
                         "for the neighbor side of the recompute")
    if check_exact:
        qv = queries.select(F.col("vec_id").alias("query_id"),
                            F.col("embedding").alias("_qv"))
        nv = emb.select(F.col("vec_id").alias("neighbor_id"),
                        F.col("embedding").alias("_nv"))
        r = (r.join(F.broadcast(qv), "query_id").join(nv, "neighbor_id")
             .withColumn("_exact", round4(cosine(F.col("_qv"),
                                                 F.col("_nv")))))
    per = r.groupBy("query_id").agg(
        F.count(F.lit(1)).alias("_n"),
        F.min("rank").alias("_rmin"), F.max("rank").alias("_rmax"),
        F.countDistinct("neighbor_id").alias("_nd"),
        F.countDistinct("rank").alias("_rd"),
        F.sum(F.when(F.col("neighbor_id") == F.col("query_id"), 1)
              .otherwise(0)).alias("_self"),
        F.sum(F.when(F.col("_prev") < F.col(sim_col), 1)
              .otherwise(0)).alias("_unsorted"),
        *([F.sum(F.when(~F.col("_exact").eqNullSafe(F.col(sim_col)), 1)
                 .otherwise(0)).alias("_inexact")]
          if check_exact else []))
    grid = queries.select(F.col("vec_id").alias("query_id"))
    j = grid.join(per, "query_id", "left")
    cols = [
        "query_id", F.lit(k).cast("long").alias("k"),
        F.coalesce((F.col("_rmin") == 1) & (F.col("_rmax") == F.col("_n"))
                   & (F.col("_nd") == F.col("_n"))
                   & (F.col("_rd") == F.col("_n"))
                   & (F.col("_n") <= k), F.lit(True)).alias("ranks_ok"),
        F.coalesce(F.col("_self") == 0, F.lit(True)).alias("no_self"),
        F.coalesce(F.col("_unsorted") == 0, F.lit(True))
        .alias("sims_sorted")]
    if check_exact:
        cols.append(F.coalesce(F.col("_inexact") == 0, F.lit(True))
                    .alias("sims_exact"))
    return j.select(*cols).orderBy("query_id")


def _pair_certification(chk: DataFrame, grid: DataFrame, sim_col: str,
                        threshold: float, tol: float = 0.0) -> DataFrame:
    """One row of oracle-asserted booleans over a near-dup PAIR set,
    crossed onto a deterministic GRID — the ``_ann_invariant_rows``
    pattern for pair-shaped approximate ops (MinHash / sign-LSH /
    SemDeDup blocking), whose pair SET is blocking-data-dependent
    (rows-only territory) while these properties are not:

    * ``pairs_canonical`` — every pair has ``id_a < id_b`` and no
      (id_a, id_b) tuple repeats;
    * ``sim_verified`` — the reported similarity equals a recompute
      joined INDEPENDENTLY from the raw corpus (``chk`` must carry it
      as ``_re``): a blocking/bucket-join mixup that scores the wrong
      row pair flips it.  ``tol=0`` demands bit-equality (safe when
      the recompute is exact rational arithmetic or reuses the op's
      own kernel); a positive ``tol`` absorbs kernel summation-order
      ulp (BLAS matmul vs per-pair einsum) while still flipping on
      any mixup, whose error is ≫ 1e-4;
    * ``above_threshold`` — no emitted pair scores below the cut.

    An empty pair set certifies vacuously TRUE (the grid is emitted
    regardless, so the row set is oracle-reproducible).  Recall vs the
    exact baseline stays pinned in pytest — it is a property of the
    corpus, not a deterministic invariant."""
    agree = (F.abs(F.col("_re") - F.col(sim_col)) <= tol) if tol > 0 \
        else F.col("_re").eqNullSafe(F.col(sim_col))
    glob = chk.agg(
        F.coalesce(
            (F.sum(F.when(F.col("id_a") < F.col("id_b"), 0)
                   .otherwise(1)) == 0)
            & (F.countDistinct("id_a", "id_b") == F.count(F.lit(1))),
            F.lit(True)).alias("pairs_canonical"),
        F.coalesce(F.sum(F.when(agree, 0).otherwise(1)) == 0,
                   F.lit(True)).alias("sim_verified"),
        F.coalesce(F.sum(F.when(F.col(sim_col) >= threshold, 0)
                         .otherwise(1)) == 0,
                   F.lit(True)).alias("above_threshold"))
    # 1-row scalar broadcast onto the bounded grid — the allowlisted
    # BNLJ shape (tools/audit_plans.py), same as graph_pagerank
    return grid.crossJoin(F.broadcast(glob))


def q_similarity_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-LSH bucketed ANN (multi-probe).  Hash-checked via per-query
    invariant rows (``_ann_invariant_rows``): the candidate SET is
    LSH-data-dependent (rows-only territory), but rank density,
    uniqueness, no-self, sorted scores, and the independent-join
    cosine recompute are deterministic booleans the oracle asserts.
    Recall vs brute force stays pinned in tests."""
    emb = _table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 10)
    res = topk_ann_lsh(emb, queries, k=5)
    return _ann_invariant_rows(queries, res, k=5, emb=emb)


def q_similarity_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN (deterministic k-means lists, nprobe probing).
    Hash-checked via the same per-query invariant rows as
    ``similarity_ann_lsh``; recall vs brute force stays pinned in
    tests."""
    from dynamic_partitioner_spark.operators.similarity import topk_ann_ivf
    emb = _table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 10)
    res = topk_ann_ivf(emb, queries, k=5)
    return _ann_invariant_rows(queries, res, k=5, emb=emb)


def q_similarity_ivf_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF through the engine's own partitioned sink: corpus written
    partitioned by list_id, query scans only the nprobe probed lists
    (PartitionFilters pinned in tests).  Hash-checked via the
    sketch_cms invariant pattern (r7): the partition-pruned path must
    return EXACTLY the in-memory IVF result at equal centroids/nprobe
    (`topk_ivf_pruned` docstring's own contract), so the driver row is
    (query_id, rank, same_as_memory) with the equality surfaced as a
    boolean the oracle asserts TRUE — any divergence (lost list file,
    pruning bug, tie-break drift) flips it red.  The float neighbor
    sims themselves stay pinned in tests/test_similarity.py."""
    from dynamic_partitioner_spark.operators.similarity import (
        build_ivf_index, topk_ann_ivf, topk_ivf_pruned)
    apply_engine_confs(spark)
    emb = _table(spark, sf_dir, "embeddings")
    out = _out("ivf_index")
    cents = build_ivf_index(emb, out)
    queries = emb.where(F.col("vec_id") < 10)
    pruned = topk_ivf_pruned(spark, out, cents, queries, k=5)
    mem = topk_ann_ivf(emb, queries, k=5, centroids=cents)
    p, m = pruned.alias("p"), mem.alias("m")
    return (p.join(m, ["query_id", "rank"], "full_outer")
            .select(F.col("query_id"), F.col("rank").cast("long"),
                    (F.col("p.neighbor_id").eqNullSafe(F.col("m.neighbor_id"))
                     & F.col("p.cos_sim").eqNullSafe(F.col("m.cos_sim")))
                    .alias("same_as_memory"))
            .orderBy("query_id", "rank"))


def q_similarity_ivf2_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-level-quantizer ANN end-to-end
    (operators/similarity.py:topk_ann_ivf2 — the coarse x
    residual-cell codebook that flattens assignment from O(n·n_lists)
    to O(n·(n_coarse + n_fine)) past the flat trainer's ~1M-vector
    clamp; SCALING.md's quantizer micro-bench carries the measured
    speedup).  Hash-checked two ways on one query grid: (a) the
    partial-probe result through the standard per-query invariant
    rows (rank density/uniqueness, no self, sorted scores, and the
    independent-join cosine recompute); (b) ``full_probe_exact`` —
    with every coarse cell probed and nprobe >= the total list count
    the staged search degenerates to exhaustive, so its top-k must
    EQUAL brute force row for row (same rank, neighbor, round4
    cosine): any assignment drift, lost list, or staged-search bug
    flips the boolean.  Recall at partial probe stays pinned in
    tests/test_similarity.py."""
    from dynamic_partitioner_spark.operators.similarity import (
        topk_ann_ivf2, topk_bruteforce, train_centroids_two_level)
    emb = _table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 8)
    codebook = train_centroids_two_level(emb, n_coarse=8, n_fine=4,
                                         sample_size=2048)
    coarse, fines, offsets = codebook
    total_lists = int(offsets[-1]) + len(fines[-1])
    partial = topk_ann_ivf2(emb, queries, k=5, codebook=codebook,
                            nprobe=4, probe_coarse=2)
    inv = _ann_invariant_rows(queries, partial, k=5, emb=emb)
    full = topk_ann_ivf2(emb, queries, k=5, codebook=codebook,
                         nprobe=total_lists, probe_coarse=len(coarse))
    bf = topk_bruteforce(emb, queries, k=5)
    f, b = full.alias("f"), bf.alias("b")
    same = (f.join(b, ["query_id", "rank"], "full_outer")
            .groupBy("query_id")
            .agg(F.coalesce(
                F.sum(F.when(
                    F.col("f.neighbor_id").eqNullSafe(F.col("b.neighbor_id"))
                    & F.col("f.cos_sim").eqNullSafe(F.col("b.cos_sim")),
                    0).otherwise(1)) == 0,
                F.lit(True)).alias("full_probe_exact")))
    return (inv.join(same, "query_id", "left")
            .select("query_id", "k", "ranks_ok", "no_self",
                    "sims_sorted", "sims_exact",
                    # coalesce to FALSE: a query with NO comparison row
                    # means it vanished from BOTH the full-probe leg and
                    # brute force (e.g. dropped by the assignment UDF) —
                    # exactly the loss class this boolean certifies, so
                    # "missing" must read as NOT-proven-exact (r10
                    # ADVICE; TRUE here would mask total assignment loss)
                    F.coalesce("full_probe_exact", F.lit(False))
                    .alias("full_probe_exact"))
            .orderBy("query_id"))


# =====================================================================
# Text analysis
# =====================================================================

def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _table(spark, sf_dir, "documents")
    t = F.col("text")
    return (docs.groupBy("lang")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.round(F.avg("n_chars"), 4).alias("avg_chars"),
                 F.round(F.avg(TX.token_count(t)), 4).alias("avg_tokens"),
                 F.round(F.avg(TX.bpe_token_count(t)), 4).alias("avg_bpe_tokens"),
                 F.round(F.avg(TX.punct_ratio(t)), 4).alias("avg_punct_ratio")))


def q_text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _table(spark, sf_dir, "documents")
    return docs.select("doc_id", TX.lang_id(F.col("text")).alias("lang_guess"))


def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _table(spark, sf_dir, "documents")
    t = F.col("text")
    return docs.select("doc_id",
                       TX.token_count(t).cast("long").alias("token_count"),
                       TX.bpe_token_count(t).cast("long").alias("bpe_token_count"),
                       TX.quality_score(t).alias("quality"))


def q_text_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4/Gopher-style corpus-filter signals per document — all JVM
    Column expressions, one scan, no shuffle."""
    docs = _table(spark, sf_dir, "documents")
    t = F.col("text")
    return docs.select(
        "doc_id",
        round4(TX.mean_word_length(t)).alias("mean_word_len"),
        round4(TX.symbol_word_ratio(t)).alias("symbol_word_ratio"),
        round4(TX.uppercase_ratio(t)).alias("upper_ratio"),
        round4(TX.digit_ratio(t)).alias("digit_ratio"),
        round4(TX.word_repetition_ratio(t)).alias("word_rep_ratio"))


def q_text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher repeated-n-gram signals (arXiv 2112.11446 §A1.1): top-2/3-
    gram character coverage + duplicated-5-gram occurrence fraction.
    One explode pass over all three gram sizes, two aggregate shuffles,
    all JVM Column expressions."""
    from dynamic_partitioner_spark.operators.repetition import (
        repetition_signals)
    docs = _table(spark, sf_dir, "documents")
    return repetition_signals(docs, "doc_id", "text")


def q_text_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cleaning + PII-ish redaction over a corpus with deterministically
    injected URLs/emails (every 5th doc — the raw testdata has none, so
    the injection makes the oracle non-trivial): count, redact,
    whitespace-normalize."""
    docs = _table(spark, sf_dir, "documents")
    inject = F.concat(
        F.col("text"), F.lit(" see https://ex"),
        F.col("doc_id").cast("string"), F.lit(".org contact user"),
        F.col("doc_id").cast("string"), F.lit("@mail.com"))
    aug = F.when(F.col("doc_id") % 5 == 0, inject).otherwise(F.col("text"))
    return docs.select(
        "doc_id",
        TX.url_count(aug).cast("long").alias("n_urls"),
        TX.email_count(aug).cast("long").alias("n_emails"),
        TX.normalize_ws(TX.redact(aug)).alias("clean_text"))


def q_text_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget sequence packing (256-token bins, 8 shards).  The
    bin ASSIGNMENT is iterative (next-fit with reset — no SQL twin),
    but its invariants are SQL-expressible from the packed output
    (sketch_cms pattern, r7): every doc appears exactly once with its
    exact token count (coverage — the oracle is simply the documents
    table re-tokenized), and the doc's bin respects the budget unless
    it is a single-oversized-doc bin (`bin_ok`, oracle-asserted TRUE).
    A lost/duplicated doc breaks the row hash; an over-packed bin flips
    bin_ok.  Shard/seq layout stays pinned in tests/test_packing.py."""
    from dynamic_partitioner_spark.operators.packing import pack_sequences
    docs = _table(spark, sf_dir, "documents")
    with_tok = docs.select(
        "doc_id", TX.token_count(F.col("text")).alias("n_tok"))
    packed = pack_sequences(with_tok, "doc_id", "n_tok", budget=256,
                            n_shards=8)
    bins = (packed.groupBy("shard", "seq_idx")
            .agg(F.sum("n_tokens").alias("_bin_tok"),
                 F.count(F.lit(1)).alias("_bin_docs")))
    return (packed.join(bins, ["shard", "seq_idx"])
            .select("doc_id", F.col("n_tokens").alias("n_tok"),
                    ((F.col("_bin_tok") <= 256) | (F.col("_bin_docs") == 1))
                    .alias("bin_ok")))


def q_text_hashed_vector(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-hashing vectorizer, sparse form (SQL-checkable: the slot
    hash is the portable md5/60-bit construction).  The dense form
    feeds the embedding/ANN operators — pinned in tests."""
    from dynamic_partitioner_spark.operators.vectorize import hashed_counts
    docs = _table(spark, sf_dir, "documents")
    return hashed_counts(docs, "doc_id", "text", dim=64)


def q_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _table(spark, sf_dir, "documents")
    return docs.select("doc_id",
                       TX.doc_fingerprint(F.col("text")).alias("fingerprint"))


# =====================================================================
# Multimodal / embeddings plumbing
# =====================================================================

def q_embedding_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """array<float> column survives a partitioned write + read-back."""
    apply_engine_confs(spark)
    emb = _table(spark, sf_dir, "embeddings")
    out = _out("embedding_roundtrip")
    write_partitioned(emb, SinkSpec(name="emb", field_names=["label"]), out)
    back = read_partitioned(spark, out)
    return back.select("vec_id", "label",
                       F.size("embedding").cast("long").alias("dim"),
                       round4(l2_norm(F.col("embedding"))).alias("l2_norm"))


def q_mm_binary_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-payload table plumbing: sizes JVM-side (octet_length)."""
    docs = _table(spark, sf_dir, "documents")
    bt = to_binary_table(docs)
    return bt.select("doc_id",
                     F.octet_length("payload").cast("long").alias("n_bytes"),
                     F.col("meta.mime").alias("mime"),
                     F.col("meta.orig_bytes").cast("long").alias("orig_bytes"))


def q_mm_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling stand-in over binary payloads: fixed 16-byte
    windows every 1024 bytes, JVM-side substring — the explode shape a
    video frame sampler produces."""
    from dynamic_partitioner_spark.operators.multimodal import frame_sample
    docs = _table(spark, sf_dir, "documents")
    frames = frame_sample(to_binary_table(docs), every_n=1024, frame_bytes=16)
    return frames.select("doc_id",
                         F.col("frame_idx").cast("long").alias("frame_idx"),
                         F.hex(F.col("frame")).alias("frame_hex"))


def q_catalog_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Catalog registration parity (reference Explore tables): write
    partitioned, register as an external table, query it through Spark
    SQL with a partition-pruned filter."""
    from dynamic_partitioner_spark.operators.partitioned_write import (
        register_table)
    apply_engine_confs(spark)
    df = _table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority")
    out = _out("catalog_table")
    spec = SinkSpec(name="orders_by_priority", field_names=["o_orderpriority"])
    write_partitioned(df, spec, out)
    register_table(spark, spec, out)
    return spark.sql("""
        SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority
        FROM `orders_by_priority`
        WHERE o_orderpriority = '1-URGENT'
    """)


def q_partition_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction: write with a tiny per-file row cap (the
    many-files failure mode), compact to right-sized files, read back —
    contents identical, file count bounded (pinned in tests)."""
    from dynamic_partitioner_spark.functions.partitioning import (
        spread_if_narrow)
    from dynamic_partitioner_spark.operators.partitioned_write import (
        compact_partitions)
    apply_engine_confs(spark)
    # the single-file sf inputs scan as ONE partition, so the tiny-cap
    # write ran its ~300 small files on one task (r17: that write job
    # was 8.3s of this key's 12s wall).  Round-robin spread — the
    # 3-value partition key cannot hash-spread — writes the same rows
    # in parallel; MORE small files pre-compaction (each task opens
    # each key's writer), which is the many-files failure mode this
    # key exists to exercise, and compact_partitions rewrites the
    # whole tree regardless.  No-op on already-wide inputs.
    df = spread_if_narrow(_table(spark, sf_dir, "lineitem"))
    out = _out("partition_compact")
    spec = SinkSpec(name="li_small", field_names=["l_returnflag"],
                    max_records_per_file=2000, cluster_by_key=False)
    write_partitioned(df, spec, out)
    compact_partitions(spark, out, "parquet")
    return _li_stringified(read_partitioned(spark, out))


def q_mm_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched mapInPandas feature extraction, exploded to one row
    per (doc, feature) — scalar columns the driver canonicalizer can
    hash, and SQL-checkable: the DuckDB twin rebuilds the byte histogram
    + moments from ascii() over the (pure-ASCII, verified) text."""
    docs = _table(spark, sf_dir, "documents")
    return feature_rows(to_binary_table(docs))


def _synthetic_payloads(docs: DataFrame, make_payload) -> DataFrame:
    """(doc_id[, extra cols…]) → (doc_id, payload BINARY) in one
    Arrow-batched ``mapInPandas`` pass — the ONE fixture-generation
    seam shared by the mm_* codec keys (code-review r8: four verbatim
    generator closures otherwise).  ``make_payload`` receives one
    positional value per input column, doc_id first as a Python int;
    the payload bytes never leave the executor unaggregated."""
    import pandas as _pd

    cols = list(docs.columns)

    def gen(batches):
        for pdf in batches:
            args = [pdf[c] for c in cols]
            args[0] = [int(d) for d in args[0]]
            yield _pd.DataFrame({
                "doc_id": pdf[cols[0]],
                "payload": [make_payload(*vals)
                            for vals in zip(*args)],
            })

    return docs.mapInPandas(gen, "doc_id long, payload binary")


def q_mm_decode_png(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL media decode through the registry seam
    (operators/multimodal.py:register_codec): deterministic RGBA PNGs —
    stdlib-zlib encoder, scanline filters rotating through all five
    PNG filter types — are decoded back by the registered ``image/png``
    codec (formats/png_py.py), and the decoded planes reduce to exact
    integer sums.  The oracle recomputes the identical statistics
    straight from the SQL-expressible pixel rule
    ``(doc_id·7919 + i·37 + (i%11)·13) % 256`` over a byte-index
    series, with NO PNG machinery — so a decoder defect in any filter
    path (or a corrupted encode) breaks the value hash.  Scale shape:
    generation and decode are both Arrow-batched ``mapInPandas``; the
    payload never shuffles (stats reduce row-locally inside the
    codec)."""
    from dynamic_partitioner_spark.formats.png_py import (
        register_png_codec, synthetic_png)
    from dynamic_partitioner_spark.operators.multimodal import (
        decode_media)

    register_png_codec()
    docs = _table(spark, sf_dir, "documents").select("doc_id")
    dec = decode_media(_synthetic_payloads(docs, synthetic_png),
                       "image/png")

    def mean6(s: str):
        # floor(x·1e6+0.5)/1e6 over a double built from exact integer
        # operands — the same IEEE op sequence as the DuckDB twin.
        # Column-side literals (not SQL text): Spark parses `1000000.0`
        # in SQL as a DECIMAL literal and the whole chain goes decimal
        return F.floor(F.col(s) / F.col("n_px") * 1000000
                       + F.lit(0.5)) / 1000000

    return dec.select(
        "doc_id", "width", "height", "n_px",
        mean6("sum_r").alias("mean_r"), mean6("sum_g").alias("mean_g"),
        mean6("sum_b").alias("mean_b"), mean6("sum_a").alias("mean_a"))


def q_mm_dhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual image fingerprinting through the codec registry: a
    64-bit gradient hash (dHash family) over the decoded 8×8 luma
    crop (formats/png_py.py:png_dhash_codec) — the image analog of
    text_fingerprint, and the blocking key an image near-dup pass
    would bucket on.  Exercises the PNG decoder along a per-pixel
    access path (mm_decode_png only reduces plane SUMS, which could
    hide position-scrambling defects); the oracle rebuilds both hash
    halves from the SQL-expressible synthetic pixel rule with no PNG
    machinery, so any filter/interlace/positioning defect flips the
    value hash.  Payloads never shuffle — the hash reduces row-locally
    inside the Arrow batch."""
    from dynamic_partitioner_spark.formats.png_py import (
        register_png_dhash_codec, synthetic_png)
    from dynamic_partitioner_spark.operators.multimodal import (
        decode_media)

    register_png_dhash_codec()
    docs = _table(spark, sf_dir, "documents").select("doc_id")
    dec = decode_media(_synthetic_payloads(docs, synthetic_png),
                       "image/png;dhash")
    return dec.select("doc_id", "width", "height",
                      "dhash_hi", "dhash_lo")


def q_mm_wav_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio-container decode through the codec registry: RIFF/WAV
    PCM16 payloads (formats/wav_py.py — chunk walk with word
    alignment, an unknown odd-sized LIST chunk deliberately in the
    way) decoded back to exact-integer waveform screens (|sample|
    mass, peak, per-channel zero crossings — the cheap silence/noise
    gates of an audio ingest).  The oracle recomputes every column
    straight from the SQL-expressible sample rule with NO WAV
    machinery — a chunk-walk, alignment, or unpacking defect breaks
    the value hash.  The audio sibling of mm_decode_png; payloads
    never shuffle."""
    from dynamic_partitioner_spark.formats.wav_py import (
        register_wav_codec, synthetic_wav)
    from dynamic_partitioner_spark.operators.multimodal import (
        decode_media)

    register_wav_codec()
    docs = _table(spark, sf_dir, "documents").select("doc_id")
    dec = decode_media(_synthetic_payloads(docs, synthetic_wav),
                       "audio/wav")
    return dec.select("doc_id", "rate", "channels", "n_frames",
                      "sum_abs", "peak", "zero_crossings")


def q_mm_png_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sidecar-free metadata extraction through the codec registry:
    each document's ``lang``/``source`` ride INSIDE its PNG as tEXt
    chunks (the embedded-metadata pattern real image corpora use —
    EXIF/XMP equivalents), and the ``image/png;text`` codec surfaces
    dimensions plus the chunks as ONE canonical JSON string without
    inflating any pixels.  Field extraction happens JVM-side
    (``get_json_object``), so only the tiny JSON crosses from the
    Arrow batch — never the payload.  The oracle rebuilds the exact
    JSON bytes and the dims rule straight from ``documents``; a
    chunk-order, escaping, or parse defect anywhere in the
    encode->decode->extract chain breaks the value hash."""
    from dynamic_partitioner_spark.formats.png_py import (
        register_png_meta_codec, synthetic_png)
    from dynamic_partitioner_spark.operators.multimodal import (
        decode_media)

    register_png_meta_codec()
    docs = _table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source")
    dec = decode_media(
        _synthetic_payloads(
            docs,
            lambda d, la, so: synthetic_png(d, {"lang": la,
                                                "source": so})),
        "image/png;text")
    return dec.select(
        "doc_id", "width", "height",
        F.col("n_text").cast("long").alias("n_text"), "meta_json",
        F.get_json_object("meta_json", "$.lang").alias("lang"),
        F.get_json_object("meta_json", "$.source").alias("source"))


# =====================================================================
# Streaming
# =====================================================================

def q_streaming_write(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured-Streaming flavor of the sink: file source → availableNow
    → partitionBy — identical layout/contents to the batch sink."""
    apply_engine_confs(spark)
    out = _out("streaming_write")
    ckpt = _out("streaming_write_ckpt")
    # the file-stream source needs a DIRECTORY of landing files; stage the
    # input file into one (symlink — no data copy)
    src = _out("streaming_write_src")
    os.makedirs(src)
    os.symlink(f"{sf_dir}/lineitem.parquet", f"{src}/lineitem.parquet")
    sdf = stream_from_files(spark, src)
    spec = SinkSpec(name="li_stream", field_names=["l_returnflag"],
                    append_to_partition="CREATE_OR_APPEND")
    query = stream_write_partitioned(sdf, spec, out, ckpt)
    run_stream_to_completion(query)
    return _li_stringified(read_partitioned(spark, out))


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization via the built-in session_window agg
    (30-minute gap over the events stream, per user)."""
    from dynamic_partitioner_spark.streaming.stateful import sessionize
    events = _table(spark, sf_dir, "events")
    return sessionize(events, "user_id", "ts", "value", "30 minutes")


def q_streaming_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """session_window through REAL micro-batches: sessions split across
    the two source files merge in per-key session state (the claim the
    batch key can't prove); the complete-mode drain equals batch
    sessionization — same oracle as event_sessionize."""
    from dynamic_partitioner_spark.streaming.stateful import (
        streaming_sessionize)
    apply_engine_confs(spark)
    src = _out("stream_sess_src")
    (_table(spark, sf_dir, "events").repartition(2)
     .write.mode("overwrite").parquet(src))
    spark.catalog.dropTempView("stream_sess_sink")
    return streaming_sessionize(spark, src, "stream_sess_sink")


def q_streaming_windowed_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour window aggregate, run through an actual
    Structured-Streaming query (file source → complete-mode memory sink,
    availableNow drain) — result equals the batch GROUP BY."""
    from dynamic_partitioner_spark.streaming.stateful import (
        streaming_tumbling_agg)
    apply_engine_confs(spark)
    src = _out("stream_agg_src")
    os.makedirs(src)
    os.symlink(f"{sf_dir}/events.parquet", f"{src}/events.parquet")
    spark.catalog.dropTempView("stream_agg_sink")
    return streaming_tumbling_agg(spark, src, "stream_agg_sink", "1 hour")


def q_streaming_late_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark drop semantics, oracle-certified: nine hours of events
    stream through the PRODUCTION append-mode windowed agg (1 h
    windows, 30 min watermark, one file per micro-batch in forced
    mtime order), with the hour-0 rows REPLAYED in the last file —
    late by ≥6 h, far beyond the watermark, so Spark must drop every
    copy.  The oracle aggregates the on-time rows only and keeps
    windows whose end ≤ final watermark (max event time − delay):
    if the engine accepted a late row (double-counted hour 0,
    re-emitted a closed window) or emitted an unclosed tail window,
    the row set cannot match.  Late/on-time separation is ≥5.5 h vs a
    30 min delay, so the SPARK-40925 two-watermark subtlety (filter
    uses the previous batch's watermark) never lands near a boundary
    — the pinned pytest covers the boundary cases."""
    from dynamic_partitioner_spark.streaming.stateful import (
        streaming_windowed_agg_append)
    from dynamic_partitioner_spark.streaming.write import (
        stage_ordered_union)
    apply_engine_confs(spark)
    events = _table(spark, sf_dir, "events")
    ev = events.select(
        "ts", "user_id",
        # pre-quantized cents as double: round(sum, 2) downstream is
        # then exact-integer arithmetic in both engines
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("double")
        .alias("value"),
        event_time_us(events).alias("_us"))
    m = int(ev.agg(F.min("_us")).collect()[0][0])
    # TRUNCATING remainder (sign follows dividend), matching the
    # oracle's DuckDB `%` — Python's own `%` floors, which would shift
    # h0 by an hour for a pre-1970 minimum (code-review r6)
    h0 = m - (m % 3_600_000_000 if m >= 0 else -((-m) % 3_600_000_000))
    ev = ev.withColumn("_h", F.expr(f"(_us - {h0}) div 3600000000"))
    base = ev.where(F.col("_h").between(0, 8))
    chunks = [
        base.where(F.col("_h") < 3),
        base.where(F.col("_h").between(3, 5)),
        # last file: hours 6-8 PLUS the hour-0 replay (all late)
        base.where((F.col("_h") >= 6) | (F.col("_h") < 1)),
    ]
    # all three staged files land in ONE write job (r16: was one
    # coalesce(1) job per file); per-batch row order is irrelevant to
    # the windowed agg, so the single-job primitive applies
    src = stage_ordered_union(
        [ch.select("ts", "user_id", "value") for ch in chunks],
        _out("stream_late_src"))
    spark.catalog.dropTempView("stream_late_sink")
    return streaming_windowed_agg_append(
        spark, src, "stream_late_sink",
        window="1 hour", watermark="30 minutes")


def q_streaming_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """applyInPandasWithState per-user running stats across real
    micro-batches (one file per trigger); final snapshot equals the
    batch per-user count/sum.  Runs under the RocksDB state-store
    provider — the unbounded-keyspace production posture (state spills
    to local disk, working set in memory; the default HDFS-backed
    provider holds EVERY key on-heap).  Results are
    provider-invariant (pinned in tests/test_streaming.py); this key
    certifies the stateful operator under the provider a 100 TB
    deployment would actually run."""
    from dynamic_partitioner_spark.streaming.stateful import (
        run_stateful_user_stats)
    apply_engine_confs(spark)
    src = _out("stream_state_src")
    # stage the events into multiple files so the stream genuinely
    # crosses micro-batch boundaries (state must survive between them)
    (_table(spark, sf_dir, "events").repartition(3)
     .write.mode("overwrite").parquet(src))
    spark.catalog.dropTempView("stream_state_sink")
    return run_stateful_user_stats(spark, src, "stream_state_sink",
                                   state_provider="rocksdb")


def q_streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup across micro-batches: the source holds TWO
    copies of every event (written as separate files → separate
    triggers); state-store dedup on event_id must drop the second copy
    even though it arrives in a later batch."""
    from dynamic_partitioner_spark.streaming.stateful import (
        run_streaming_dedup)
    apply_engine_confs(spark)
    src = _out("stream_dedup_src")
    ev = _table(spark, sf_dir, "events").select("event_id", "user_id", "value")
    ev.repartition(2).write.parquet(src)
    ev.repartition(2).write.mode("append").parquet(src)   # duplicate copy
    spark.catalog.dropTempView("stream_dedup_sink")
    out = run_streaming_dedup(spark, src, "stream_dedup_sink", ["event_id"])
    return out.select("event_id", "user_id", F.round("value", 2).alias("value"))


def q_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivoted aggregate (returnflag × linestatus quantity matrix) with
    explicit pivot values — no extra pass to discover columns, and the
    plan is a single hash aggregate, same as the CASE-expression form
    the oracle uses."""
    li = _table(spark, sf_dir, "lineitem")
    return (li.groupBy("l_returnflag")
            .pivot("l_linestatus", ["F", "O"])
            .agg(F.round(F.sum("l_quantity"), 2))
            .withColumnRenamed("F", "qty_f")
            .withColumnRenamed("O", "qty_o"))


def q_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL approximate distinct users per event type, hash-checked
    against the exact count: the estimate itself has no DuckDB twin
    (Spark HLL++ vs DuckDB HLL estimate differently by construction),
    so the sketch surfaces as ``approx_in_bound`` — Spark asserts
    |approx − exact| ≤ 5%·exact row-side and the oracle asserts the
    literal TRUE, making the driver hash FAIL if the sketch ever
    drifts out of bound.  The exact column hash-checks as-is.  At
    100 TB the sketch is the point: approx_count_distinct is a
    fixed-size mergeable state per group vs. the exact count's
    per-key dedup shuffle.  Numeric error pinned in
    tests/test_queries.py."""
    events = _table(spark, sf_dir, "events")
    return (events.groupBy("event_type")
            .agg(F.approx_count_distinct("user_id", 0.02).alias("_approx"),
                 F.countDistinct("user_id").alias("exact_users"))
            .select("event_type", "exact_users",
                    (F.abs(F.col("_approx") - F.col("exact_users"))
                     <= 0.05 * F.col("exact_users")).alias("approx_in_bound")))


def q_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE-style column profile (rows/nulls/exact distincts/min/max)
    in one scan.  String/long columns only — double min/max stringify
    differently across engines."""
    from dynamic_partitioner_spark.operators.relational import (
        profile_columns)
    li = _table(spark, sf_dir, "lineitem")
    return profile_columns(li, ["l_returnflag", "l_orderkey",
                                "l_linenumber"])


def q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel view → click → purchase: users reaching each step
    strictly after their first completion of the previous one."""
    from dynamic_partitioner_spark.operators.relational import funnel
    events = _table(spark, sf_dir, "events")
    return funnel(events, "user_id", "ts", "event_type",
                  ["view", "click", "purchase"])


def q_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-salted fact-to-dim join: events (hot user keys) against the
    per-user dim, spread over 8 salted partitions per key — result
    identical to the plain join (the oracle runs the plain join)."""
    from dynamic_partitioner_spark.operators.relational import salted_join
    events = _table(spark, sf_dir, "events")
    fact = events.select("event_id", "user_id",
                         F.round("value", 2).alias("value"))
    dim = (events.groupBy("user_id")
           .agg(F.count(F.lit(1)).alias("n_user_events")))
    return salted_join(fact, dim, "user_id", "event_id", n_salts=8)


def q_salted_join_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-AWARE salted join: a deterministic hot key (10% of users
    collapse onto key 0) is detected by the counting pass and salted;
    cold keys take the plain join path, so the right side replicates
    only for the hot slice.  Result equals the plain join (the
    oracle)."""
    from dynamic_partitioner_spark.operators.relational import (
        salted_join_auto)
    events = _table(spark, sf_dir, "events")
    skew = (F.when(F.col("user_id") % 10 == 0, F.lit(0))
            .otherwise(F.col("user_id"))).cast("long")
    fact = events.select("event_id", skew.alias("skew_key"),
                         F.round("value", 2).alias("value"))
    dim = fact.groupBy("skew_key").agg(
        F.count(F.lit(1)).alias("n_key_events"))
    return salted_join_auto(fact, dim, "skew_key", "event_id",
                            n_salts=8, hot_factor=5.0)


def q_text_scrub_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style duplicate-span scrubbing: cross-document duplicate
    32-token chunks keep only their first (doc, pos) occurrence and
    every document is reassembled from its surviving chunks — the
    mutated near-dup copies in the augmented corpus lose their shared
    spans while originals pass through intact."""
    from dynamic_partitioner_spark.operators.packing import (
        scrub_dup_chunks)
    corpus = _augmented_corpus(spark, sf_dir)
    return scrub_dup_chunks(corpus, "doc_id", "text", chunk_tokens=32)


def q_sample_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-size-k deterministic sample (k smallest md5 unit draws) —
    TakeOrderedAndProject merges per-partition top-k candidate sets, so
    a fixed 200-row sample costs no global sort at any corpus size."""
    from dynamic_partitioner_spark.operators.sampling import (
        topk_hash_sample)
    cust = _table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal")
    return topk_hash_sample(cust, "c_custkey", k=200, salt="s5")


def q_sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-size weighted sample without replacement (Efraimidis-
    Spirakis exponential race on md5 draws): 300 orders with odds
    proportional to o_totalprice — TakeOrderedAndProject, no global
    sort; race keys 1e-9-quantized so a 1-ulp ln() difference can't
    flip the boundary row."""
    from dynamic_partitioner_spark.operators.sampling import weighted_sample
    orders = _table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice")
    return weighted_sample(orders, "o_orderkey", "o_totalprice",
                           k=300, salt="ws6")


def q_sample_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic epoch-1 global shuffle of the customer table:
    per-row epoch-salted draw → balanced shard → in-shard read
    position.  A different epoch permutes differently (pinned in
    pytest); identical reruns are bit-identical."""
    from dynamic_partitioner_spark.operators.sampling import epoch_shuffle
    cust = _table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return epoch_shuffle(cust, "c_custkey", n_shards=8, epoch=1)


def q_mm_tar_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WebDataset-style export round-trip: documents pack into 8
    deterministic tar shards, then the member catalog (name, size,
    byte OFFSET inside the archive, payload md5) is parsed back out of
    the actual tar bytes.  The oracle computes the exact same catalog
    from the ustar spec arithmetic (512-byte headers, data rounded up
    to 512) — a packing bug cannot hash-match."""
    from dynamic_partitioner_spark.operators.multimodal import (
        tar_members, tar_shards)
    docs = _table(spark, sf_dir, "documents").select(
        "doc_id", F.encode(F.col("text"), "utf-8").alias("payload"))
    return tar_members(tar_shards(docs, "doc_id", "payload", n_shards=8))


def q_embedding_pca(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PCA of the embedding corpus to 8 components: exact
    micro-quantized second moments reduced map-side (d²/2+d numbers
    per partition, DECIMAL-exact at any scale), d×d eigh on the
    driver, one map-only Arrow matmul projection.

    Hash-checked via the sketch_cms invariant pattern (r8; was
    rows-only — eigendecomposition has no SQL twin, so the float
    values can never be oracle columns): one row per component
    carrying the exact grid (component, n_vectors — the oracle
    recomputes both) plus five oracle-asserted-TRUE invariants that
    tie the whole path together — basis orthonormality and descending
    non-negative eigenvalues (driver-side numpy over the fitted
    basis), and, from ONE distributed agg over the actual projected
    corpus, centering (|mean proj| small) and spectrum faithfulness
    (population variance of projections ≈ the component's eigenvalue).
    A wrong covariance, a non-orthogonal basis, a centering bug, or a
    projection that disagrees with the fitted spectrum each flip a
    boolean.  Exact projection VALUES stay pinned in
    tests/test_quantize.py."""
    from dynamic_partitioner_spark.operators.decompose import (
        fit_pca, pca_project)
    import numpy as np
    emb = _table(spark, sf_dir, "embeddings")
    mean, W, vals = fit_pca(emb, "embedding", dim=64, k=8)
    # basis invariants: cheap d×k numpy on the driver
    G = W.T @ W
    ortho_ok = bool(np.max(np.abs(G - np.eye(8))) < 1e-6)
    desc_ok = bool(np.all(np.diff(vals) <= 1e-12))
    nonneg_ok = bool(np.min(vals) >= 0.0)
    # projection invariants: one agg over the projected corpus —
    # reusing the basis already fitted above (no second moments pass)
    proj = pca_project(emb, "vec_id", "embedding", dim=64, k=8,
                       basis=(mean, W, vals))
    stats = (proj.select(F.posexplode("components")
                         .alias("component", "v"))
             .groupBy("component")
             .agg(F.count(F.lit(1)).alias("n_vectors"),
                  F.avg("v").alias("_m"),
                  F.avg(F.col("v") * F.col("v")).alias("_m2")))
    ev = F.element_at(F.lit([float(x) for x in vals]),
                      F.col("component") + 1)
    var = F.col("_m2") - F.col("_m") * F.col("_m")
    return (stats.select(
        F.col("component").cast("long").alias("component"),
        F.col("n_vectors").cast("long").alias("n_vectors"),
        F.lit(ortho_ok).alias("basis_ortho_ok"),
        F.lit(desc_ok).alias("eig_desc_ok"),
        F.lit(nonneg_ok).alias("eig_nonneg_ok"),
        (F.abs(F.col("_m")) < 1e-4).alias("centered_ok"),
        (F.abs(var - ev) <= F.greatest(ev, F.lit(1e-9)) * 1e-3)
        .alias("spectrum_ok"))
        .orderBy("component"))


def q_decimal_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact money math: totals as DECIMAL(12,2) (not float) per order
    priority — decimal sums are exact and order-free, so the engines
    agree to the cent regardless of aggregation order (the double path
    would drift in the last bits and need quantization tricks)."""
    orders = _table(spark, sf_dir, "orders")
    dec = F.col("o_totalprice").cast("decimal(12,2)")
    # surface as DOUBLE only at the end: decimal(18,2) → double is
    # exact below 2^53/100, so the cent-exact totals survive the cast
    # identically in both engines (pandas/duckdb render decimals
    # differently, doubles identically)
    return (orders.groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n_orders"),
                 F.sum(dec).cast("decimal(18,2)").cast("double")
                 .alias("total_price"),
                 F.min(dec).cast("double").alias("min_price"),
                 F.max(dec).cast("double").alias("max_price")))


def q_privacy_pseudonymize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed pseudonymization with referential integrity: the same
    salted-hash token replaces c_custkey in BOTH customer and orders,
    so the tokenized tables still join — per-segment order counts and
    distinct-token counts equal the cleartext join's.  (Salt is a
    pipeline secret in real use; deterministic here for the oracle.)"""
    tok = lambda c: F.md5(  # noqa: E731
        F.concat(F.lit("pepper-r5:"), c.cast("string")))
    cust = _table(spark, sf_dir, "customer").select(
        tok(F.col("c_custkey")).alias("cust_token"), "c_mktsegment")
    orders = _table(spark, sf_dir, "orders").select(
        tok(F.col("o_custkey")).alias("cust_token"))
    return (orders.join(cust, "cust_token")
            .groupBy("c_mktsegment")
            .agg(F.count(F.lit(1)).alias("n_orders"),
                 F.countDistinct("cust_token").alias("n_customers")))


_DAY_US_HLL = 86_400_000_000


def q_hll_mergeable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted MERGEABLE distinct sketches (the incremental-distinct
    pattern): one HLL sketch per day of user ids, then the month/total
    estimate from `hll_union_agg` over the stored sketches — no rescan
    of history.  The estimates themselves have no DuckDB twin, so each
    surfaces as ``est_in_bound`` (Spark asserts |est − exact| ≤
    5%·exact; the oracle asserts the literal TRUE — the driver hash
    FAILS if any estimate drifts out of bound) next to the exact
    per-day count, which hash-checks as-is.  merged == direct is
    pinned in pytest."""
    events = _table(spark, sf_dir, "events")
    ev = events.select(event_time_us(events).alias("_us"), "user_id")
    # plain `div`: Spark's `div` and DuckDB's integer `//` BOTH
    # truncate toward zero (verified: -7 // 2 = -3 in DuckDB 1.0), so
    # truncating division is the parity-exact bucket for either sign
    # of the microsecond clock — a pmod floor here would diverge from
    # the oracle on pre-1970 events
    day = ev.withColumn(
        "day_idx", F.expr(f"_us div {_DAY_US_HLL}").cast("long"))
    per_day = (day.groupBy("day_idx")
               .agg(F.expr("hll_sketch_agg(user_id)").alias("sk"),
                    F.countDistinct("user_id").alias("exact_users")))
    in_bound = (F.abs(F.col("est_users") - F.col("exact_users"))
                <= 0.05 * F.col("exact_users"))
    daily = (per_day.select(
        "day_idx",
        F.expr("hll_sketch_estimate(sk)").cast("long").alias("est_users"),
        "exact_users")
        .select("day_idx", "exact_users", in_bound.alias("est_in_bound")))
    exact_total = day.agg(F.countDistinct("user_id")).collect()[0][0]
    total = (per_day.agg(
        F.lit(-1).cast("long").alias("day_idx"),
        F.expr("hll_sketch_estimate(hll_union_agg(sk))").cast("long")
        .alias("est_users"))
        .withColumn("exact_users", F.lit(int(exact_total)).cast("long"))
        .select("day_idx", "exact_users", in_bound.alias("est_in_bound")))
    return daily.unionByName(total)


_MIN_US = 60_000_000


def q_events_delay_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark-sizing audit: with deterministic ±5-minute arrival
    jitter (portable md5 draw — the raw feed is perfectly ordered),
    measure how far each event's time lags the per-user high watermark
    at its arrival, and histogram the disorder in minutes.  The p99
    bucket of this table IS the watermark you'd configure."""
    from dynamic_partitioner_spark.operators import sampling as SMP
    events = _table(spark, sf_dir, "events")
    ev = events.select("user_id", "event_id",
                       event_time_us(events).alias("us"))
    jitter = (F.floor(SMP.hash_unit(F.col("event_id"), "delay")
                      * F.lit(600_000_000.0)).cast("long")
              - F.lit(300_000_000))
    ev = ev.withColumn("arr", F.col("us") + jitter)
    w = (Window.partitionBy("user_id").orderBy("arr", "event_id")
         .rowsBetween(Window.unboundedPreceding, -1))
    disorder = F.greatest(
        F.lit(0), F.coalesce(F.max("us").over(w), F.col("us"))
        - F.col("us"))
    return (ev.withColumn("_d", disorder)
            .groupBy(F.floor(F.col("_d") / _MIN_US).cast("long")
                     .alias("disorder_minutes"))
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.max("_d").alias("max_disorder_us")))


def q_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hopping-window aggregate (1-hour windows every 15 minutes — each
    event lands in 4 windows) via the built-in window() generator; the
    same expression runs unchanged over a watermarked stream."""
    events = _table(spark, sf_dir, "events")
    return (events
            .select(event_time_ts(events).alias("ets"), "event_type", "value")
            .groupBy(F.window("ets", "1 hour", "15 minutes").alias("w"),
                     "event_type")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.round(F.sum("value"), 2).alias("total_value"))
            .select(F.date_format("w.start", _TS_FMT).alias("win_start"),
                    "event_type", "n_events", "total_value"))


def q_distinct_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct aggregates: users and distinct value-buckets per event
    type (two distinct aggs in one pass — Spark expands then merges)."""
    events = _table(spark, sf_dir, "events")
    return (events.groupBy("event_type")
            .agg(F.countDistinct("user_id").alias("n_users"),
                 F.countDistinct(F.floor(F.col("value"))).alias("n_buckets"),
                 F.count(F.lit(1)).alias("n_events")))


def q_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC apply-changes: latest-wins upsert + delete materialization.
    The change log is synthesized deterministically from lineitem (key =
    l_orderkey, sequence = l_linenumber, every 11th part marks a
    delete); the winner per key is the max-sequence change, dropped if
    it is a delete."""
    from dynamic_partitioner_spark.operators.relational import cdc_latest
    li = _table(spark, sf_dir, "lineitem")
    # the SHARED tiebroken sequence (cdc_change_seq) — the r9 review
    # found the un-tiebroken (linenumber, partkey, suppkey) slot seq
    # DUPLICATE at sf0.001 (orderkey 1294 carries two rows with the
    # same three keys and different payloads), which made the
    # latest-wins winner nondeterministic in both engines
    changes = li.select(
        "l_orderkey", "l_linenumber", cdc_change_seq(),
        F.when(F.col("l_partkey") % 11 == 0, "D").otherwise("U").alias("op"),
        "l_quantity", "l_extendedprice")
    return cdc_latest(changes, ["l_orderkey"], "seq").drop("seq")


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: corpus docs sharing any 4-token
    shingle with the benchmark slice (every 50th doc).  Benchmark
    shingles broadcast; corpus never shuffles its shingles."""
    docs = _table(spark, sf_dir, "documents")
    bench = docs.where(F.col("doc_id") % 50 == 0)
    corpus = docs.where(F.col("doc_id") % 50 != 0)
    return DD.decontaminate(corpus, bench, "doc_id", "text", n=4)


def q_text_chunk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping fixed-token-window chunking (32-token chunks, 8-token
    overlap) — pure codegen explode, no shuffle."""
    from dynamic_partitioner_spark.operators.packing import chunk_documents
    docs = _table(spark, sf_dir, "documents")
    return chunk_documents(docs, "doc_id", "text",
                           chunk_tokens=32, overlap=8)


def q_streaming_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream join (view → same-user clicks within 2
    hours) through real micro-batches; equals the batch join because the
    test watermark exceeds the data's time span.  Two source files =
    the minimal drain that still proves cross-batch state (a view in
    batch 1 joins clicks arriving in batch 2), same treatment as the
    streaming-upsert key; state_partitions sized to the test volume —
    production sizes it to keyspace × executor count."""
    from dynamic_partitioner_spark.streaming.stateful import (
        run_streaming_join)
    apply_engine_confs(spark)
    src = _out("stream_join_src")
    (_table(spark, sf_dir, "events").repartition(2)
     .write.mode("overwrite").parquet(src))
    spark.catalog.dropTempView("stream_join_sink")
    return run_streaming_join(spark, src, "stream_join_sink",
                              join_window="2 hours", state_partitions=4)


def q_semi_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Existence predicates as semi/anti joins: customers with vs.
    without an URGENT order.  Both plan as one broadcast/shuffled hash
    join probing only the key column — no row duplication, no dedup
    pass (the relational way to write EXISTS / NOT EXISTS)."""
    cust = _table(spark, sf_dir, "customer")
    urgent = (_table(spark, sf_dir, "orders")
              .where(F.col("o_orderpriority") == "1-URGENT")
              .select(F.col("o_custkey").alias("c_custkey")))
    semi = (cust.join(urgent, "c_custkey", "left_semi")
            .select(F.lit("has_urgent").alias("kind"),
                    "c_custkey", "c_name"))
    anti = (cust.join(urgent, "c_custkey", "left_anti")
            .select(F.lit("no_urgent").alias("kind"),
                    "c_custkey", "c_name"))
    return semi.unionByName(anti)


def q_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE aggregate: quantity totals at every grouping granularity
    (flag × status, each alone, grand total) in ONE pass — Spark
    expands grouping sets map-side, so the scan is paid once."""
    li = _table(spark, sf_dir, "lineitem")
    # the grouped cols have no data NULLs, so coalesce('ALL')
    # unambiguously marks the rolled-up rows — same expression both
    # engines
    return (li.cube("l_returnflag", "l_linestatus")
            .agg(F.count(F.lit(1)).alias("n_items"),
                 F.round(F.sum("l_quantity"), 2).alias("sum_qty"))
            .select(F.coalesce("l_returnflag", F.lit("ALL"))
                    .alias("l_returnflag"),
                    F.coalesce("l_linestatus", F.lit("ALL"))
                    .alias("l_linestatus"),
                    "n_items", "sum_qty"))


def q_sorted_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Globally-ordered parquet export (range partition + local sort,
    one shuffle, no single-task sort); read-back must be value-equal to
    the source.  File-level ordering/disjointness is pinned in pytest."""
    from dynamic_partitioner_spark.operators.partitioned_write import (
        write_sorted)
    li = _li_stringified(_table(spark, sf_dir, "lineitem"))
    path = _out("sorted_export")
    write_sorted(li, path, "l_extendedprice", n_files=16)
    return spark.read.parquet(path)


def cdc_change_seq():
    """The lineitem change-log sequence column — shared by
    ``q_streaming_upsert`` and the streaming-concurrency test so the
    two can never validate different CDC orderings.

    seq MUST be unique per key (cdc_latest's documented contract — a
    tie makes the winner nondeterministic in BOTH engines, and the
    synthetic lineitem DOES carry duplicate (orderkey, linenumber,
    partkey, suppkey) rows with different payloads: one at sf0.001
    flipped this key under load, r8).  Tiebreak on price cents; slot
    widths (r9, was 10**11): linenumber*10**13 gives partkey a 1e8
    slot (clean to sf~500; the old 1e6 slot bled at sf>=5) and
    suppkey keeps 1e5 (clean to sf~10); max seq ~8e18 < 2**63.
    tests/test_entry_contract.py asserts (l_orderkey, seq)
    duplicate-free on the shipped corpora so a larger corpus fails
    loudly instead of nondeterministically."""
    return ((F.col("l_linenumber") * F.lit(10**13)
             + F.col("l_partkey") * F.lit(10**5)
             + F.col("l_suppkey")) * F.lit(10**5)
            + F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5))
            .cast("long") % F.lit(10**5)).alias("seq")


#: DuckDB twin of cdc_change_seq() — the ONE SQL-side authority,
#: interpolated into all three CDC oracles (cdc_apply, query_scd2,
#: streaming_upsert) so a slot-width change cannot silently
#: desynchronize them (r9 review: the r9 widening had to be
#: hand-edited in six places)
_CDC_SEQ_SQL = ("(l_linenumber * 10000000000000 + l_partkey * 100000"
                " + l_suppkey) * 100000"
                " + CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)"
                " % 100000")


def q_streaming_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC ingest: a change-log stream foreachBatch-merged
    into the partitioned sink with seq-aware latest-wins (merge_cdc) —
    the final table is identical however the changes split across
    micro-batches, because a stale change loses to the stored row's
    higher sequence.  Partition = key-derived bucket, so a key never
    crosses partitions (merge_cdc's documented caveat).

    Two triggers (the minimal cross-batch split): each micro-batch
    merge rewrites every touched partition, so the key's cost scales
    with batch count × table size; the richer multi-batch properties
    (stale-change no-op, delete tombstones, replay convergence across
    THREE merges) are pinned in tests/test_partitioned_write.py."""
    from dynamic_partitioner_spark.streaming.write import (
        run_streaming_upsert)
    apply_engine_confs(spark)
    li = _table(spark, sf_dir, "lineitem")
    changes = li.select(
        "l_orderkey", cdc_change_seq(),
        F.when(F.col("l_partkey") % 11 == 0, "D").otherwise("U").alias("op"),
        "l_quantity", "l_extendedprice",
        (F.col("l_orderkey") % 5).alias("bucket"))
    src = _out("stream_upsert_src")
    changes.repartition(2).write.parquet(src)
    dest = _out("stream_upsert_dest")
    ckpt = _out("stream_upsert_ckpt")
    spec = SinkSpec(name="cdc_upsert", field_names=["bucket"])
    run_streaming_upsert(spark, src, dest, ckpt, spec,
                         ["l_orderkey"], "seq")
    from dynamic_partitioner_spark.operators.partitioned_write import (
        read_cdc_table)
    return read_cdc_table(spark, dest).select(
        "l_orderkey", "seq", "l_quantity", "l_extendedprice", "bucket")


def q_text_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fitted vocabulary (document frequency ≥ 2, ids by df-desc rank):
    one corpus agg; the rank window runs on the vocab-sized relation."""
    from dynamic_partitioner_spark.operators.vectorize import build_vocab
    docs = _table(spark, sf_dir, "documents")
    return build_vocab(docs, "text", min_df=2)


def q_text_token_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-id encoding against the fitted vocabulary (broadcast
    lookup, OOV → -1), exploded to (doc_id, pos, token_id) rows so the
    harness hashes scalars — the array form is pinned in pytest."""
    from dynamic_partitioner_spark.operators.vectorize import (
        build_vocab, encode_tokens)
    docs = _table(spark, sf_dir, "documents")
    vocab = build_vocab(docs, "text", min_df=2)
    enc = encode_tokens(docs, "doc_id", "text", vocab)
    return enc.select(
        "doc_id", F.posexplode("token_ids").alias("pos", "token_id")
    ).select("doc_id", F.col("pos").cast("long"), "token_id")


def q_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stratum deterministic sampling: each language keeps its own
    fraction via a CASE-inlined rate + the portable md5 unit draw —
    a pure pushdown-friendly filter, no shuffle, no RNG state."""
    from dynamic_partitioner_spark.operators import sampling as SMP
    docs = _table(spark, sf_dir, "documents")
    fr = {"en": 0.3, "de": 0.8, "fr": 0.8}
    return (SMP.stratified_sample(docs, "lang", "doc_id", fr,
                                  default_fraction=0.5)
            .select("doc_id", "lang", "source"))


def q_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide chunk-level exact dedup (32-token non-overlapping
    windows, min-(doc,pos) representative) — boilerplate spans shared
    ACROSS documents collapse to one copy."""
    from dynamic_partitioner_spark.operators.packing import dedup_chunks
    docs = _table(spark, sf_dir, "documents")
    return dedup_chunks(docs, "doc_id", "text", chunk_tokens=32)


def q_event_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-event gap statistics: per-user ``lag`` window over event
    time, then one hash-agg per event type.  One shuffle on user_id for
    the window (the same partitioning any per-user op needs), one for
    the final agg."""
    from pyspark.sql import Window as W
    events = _table(spark, sf_dir, "events")
    ts_us = event_time_us(events)
    w = W.partitionBy("user_id").orderBy(ts_us.asc(), F.col("event_id"))
    gap_us = (ts_us - F.lag(ts_us).over(w)).cast("long")
    gapped = events.select("event_type", gap_us.alias("gap_us")).where(
        F.col("gap_us").isNotNull())
    # integer-sum moments: the BIGINT sum is order-independent and
    # exact, so the derived double matches DuckDB bit-for-bit
    agg = (gapped.groupBy("event_type")
           .agg(F.count(F.lit(1)).alias("n_gaps"),
                F.sum("gap_us").alias("_sum_us"),
                F.max("gap_us").alias("_max_us")))
    return agg.select(
        "event_type", "n_gaps",
        round4(F.col("_sum_us") / (F.col("n_gaps") * F.lit(1_000_000.0)))
        .alias("avg_gap_s"),
        round4(F.col("_max_us") / F.lit(1_000_000.0)).alias("max_gap_s"))


def q_approx_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch percentiles per event type, hash-checked against exact
    nearest-rank percentiles: the sketch values themselves have no
    DuckDB twin (Spark's GK summary vs any oracle's t-digest disagree
    within their error bounds), so each surfaces as a rank-space
    boolean — Spark counts the approx value's true rank and asserts
    it lies within 2% + 1/n of the requested quantile (the actual GK
    guarantee); the oracle asserts the literal TRUE.  The exact
    columns are nearest-rank (value at ``ceil(q·n)`` ascending) —
    pure integer rank arithmetic + a selected raw data value, so both
    engines agree bit-for-bit.  Numeric gap pinned in
    tests/test_queries.py.  At 100 TB the sketch is the point:
    fixed-size mergeable state per group vs. the exact percentile's
    full sort."""
    events = _table(spark, sf_dir, "events")
    # NULL guard: Spark ranks NULLS FIRST ascending, DuckDB NULLS LAST
    # — one NULL value would shift every nearest-rank pick
    ev = events.select("event_type", "value").where(
        F.col("value").isNotNull())
    w = Window.partitionBy("event_type").orderBy("value")
    ranked = ev.select(
        "event_type", "value", F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy("event_type")).alias("n"))
    # nearest-rank ceil(q·n) in pure integer math: (num·n + den − 1) div
    # den — positive operands, so Spark's truncating `div` and DuckDB's
    # flooring `//` agree
    exact = (ranked.groupBy("event_type").agg(
        F.max(F.when(F.col("rn") == F.expr("(n + 1) div 2"),
                     F.col("value"))).alias("p50_exact"),
        F.max(F.when(F.col("rn") == F.expr("(19*n + 19) div 20"),
                     F.col("value"))).alias("p95_exact"),
        F.max(F.when(F.col("rn") == F.expr("(99*n + 99) div 100"),
                     F.col("value"))).alias("p99_exact")))
    approx = (ev.groupBy("event_type").agg(
        F.percentile_approx("value", F.array(
            F.lit(0.5), F.lit(0.95), F.lit(0.99)), 10_000).alias("ap")))
    # rank of each approx value = count(value <= a) / n, per type
    a = approx.select("event_type",
                      F.col("ap")[0].alias("a50"),
                      F.col("ap")[1].alias("a95"),
                      F.col("ap")[2].alias("a99"))
    ranks = (ev.join(F.broadcast(a), "event_type")
             .groupBy("event_type").agg(
                 F.count(F.lit(1)).alias("n"),
                 F.sum(F.when(F.col("value") <= F.col("a50"), 1)
                       .otherwise(0)).alias("r50"),
                 F.sum(F.when(F.col("value") <= F.col("a95"), 1)
                       .otherwise(0)).alias("r95"),
                 F.sum(F.when(F.col("value") <= F.col("a99"), 1)
                       .otherwise(0)).alias("r99")))
    tol = 0.02 + 1.0 / F.col("n")
    in_bound = ((F.abs(F.col("r50") / F.col("n") - 0.5) <= tol)
                & (F.abs(F.col("r95") / F.col("n") - 0.95) <= tol)
                & (F.abs(F.col("r99") / F.col("n") - 0.99) <= tol))
    flags = ranks.select("event_type", in_bound.alias("approx_in_bound"))
    return exact.join(F.broadcast(flags), "event_type")


def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot reconciliation: full-outer key join + null-safe change
    classification.  Old = orders minus every 97th key; new = orders
    with every 50th key's total doubled, minus every 89th key — so the
    diff exercises added, removed, and changed rows."""
    from dynamic_partitioner_spark.operators.relational import (
        snapshot_diff)
    orders = _table(spark, sf_dir, "orders")
    old = orders.where(F.col("o_orderkey") % 97 != 0)
    new = (orders.where(F.col("o_orderkey") % 89 != 0)
           .withColumn("o_totalprice",
                       F.when(F.col("o_orderkey") % 50 == 0,
                              F.col("o_totalprice") * 2)
                       .otherwise(F.col("o_totalprice"))))
    return snapshot_diff(old, new, ["o_orderkey"], ["o_totalprice"])


def q_source_fixed_width(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width text round-trip: nation rendered as padded 35-byte
    records (format_string), read back with byte-offset colspecs — the
    legacy-feed format Spark has no built-in reader for."""
    from dynamic_partitioner_spark.sources.read import read_fixed_width
    apply_engine_confs(spark)
    df = _table(spark, sf_dir, "nation")
    out = _out("source_fixed_width")
    (df.select(F.format_string("%-5d%-25s%-5d",
                               "n_nationkey", "n_name", "n_regionkey")
       .alias("value"))
     .write.text(out))
    return read_fixed_width(spark, out, [
        ("n_nationkey", 1, 5, "long"),
        ("n_name", 6, 25, "string"),
        ("n_regionkey", 31, 5, "long")])


def q_source_xml(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML source round-trip (built-in since Spark 4, no external jar):
    nation written row-per-element, read back with an explicit schema —
    schema inference over XML costs a full extra pass at scale, same
    rule as CSV/JSON."""
    apply_engine_confs(spark)
    df = _table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey")
    out = _out("source_xml")
    (df.write.format("xml")
     .option("rootTag", "nations").option("rowTag", "nation").save(out))
    return (spark.read.format("xml").option("rowTag", "nation")
            .schema("n_nationkey long, n_name string, n_regionkey long")
            .load(out))


def q_source_binaryfile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw-asset ingestion via the binaryFile source — the multimodal
    on-ramp (images/audio land as opaque bytes + path metadata, feeding
    ``operators/multimodal``).  The fixture renders each document as
    its own file (partitioned text write; one-dir-per-doc is fixture
    shape only — real corpora batch many assets per directory), then
    the read side is what's under test: a distributed whole-file scan
    producing (path, length, content) with no driver involvement.
    Content hashes JVM-side (md5 over bytes).  The fixture writer is a
    flat one-file-per-asset ``foreachPartition`` (executors write in
    parallel, no per-directory commit machinery — the shape an upstream
    asset store produces; a partitionBy-per-doc layout costs one commit
    per document and does not scale)."""
    apply_engine_confs(spark)
    docs = _table(spark, sf_dir, "documents")
    out = _out("source_binaryfile")
    os.makedirs(out, exist_ok=True)

    def _dump(rows):
        for r in rows:
            with open(f"{out}/{r.doc_id}.txt", "wb") as f:
                f.write(r.text.encode("utf-8"))

    docs.select("doc_id", "text").foreachPartition(_dump)
    back = (spark.read.format("binaryFile")
            .option("pathGlobFilter", "*.txt").load(out))
    return back.select(
        F.regexp_extract("path", r"(\d+)\.txt$", 1).cast("long")
        .alias("doc_id"),
        F.md5("content").alias("content_md5"),
        F.col("length").alias("n_bytes"))


def q_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct set operators: customers ordering at BOTH urgency
    extremes (INTERSECT) and urgent-only customers (EXCEPT) — hash-
    aggregate plans, not joins the optimizer must reverse-engineer."""
    orders = _table(spark, sf_dir, "orders")
    urgent = (orders.where(F.col("o_orderpriority") == "1-URGENT")
              .select("o_custkey"))
    low = (orders.where(F.col("o_orderpriority") == "5-LOW")
           .select("o_custkey"))
    both = urgent.intersect(low).select(
        F.lit("both_extremes").alias("set_op"), "o_custkey")
    only = urgent.subtract(low).select(
        F.lit("urgent_only").alias("set_op"), "o_custkey")
    return both.unionByName(only)


def q_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram of lineitem price (11 bins + overflow
    sentinels) with a per-bin quantity rollup — one hash aggregate,
    shuffle cardinality = bin count."""
    from dynamic_partitioner_spark.operators.relational import (
        histogram_fixed)
    li = _table(spark, sf_dir, "lineitem")
    return histogram_fixed(li, "l_extendedprice", 0.0, 110_000.0, 11,
                           agg_col="l_quantity")


def q_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-flow transition matrix: per-user ordered sequences →
    (from, to) counts and row-normalized probabilities."""
    from dynamic_partitioner_spark.operators.relational import (
        transition_matrix)
    events = _table(spark, sf_dir, "events")
    ev = events.select("user_id", "event_id", "event_type",
                       event_time_us(events).alias("ts_us"))
    return transition_matrix(ev, "user_id", ["ts_us", "event_id"],
                             "event_type")


def q_dedup_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance-1 record linkage over customer names via
    deletion-neighborhood blocking (complete recall, no O(n²) pass);
    the oracle runs the brute-force quadratic join."""
    from dynamic_partitioner_spark.operators.linkage import fuzzy_pairs
    cust = _table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return (fuzzy_pairs(cust, "c_custkey", "c_name", max_dist=1)
            .select("id_a", "id_b", F.col("dist").cast("long").alias("dist")))


def q_dedup_fuzzy2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance-≤2 linkage via the SymSpell 2-deletion neighborhood
    (complete recall at lev ≤ 2 by the deletion-variant guarantee; key
    volume is the honest 1+L+C(L,2) per string).  Input fixed to the
    first 500 customers so the deliberately denser d2 pair set stays
    bench-bounded at every SF; the oracle runs the brute-force
    quadratic."""
    from dynamic_partitioner_spark.operators.linkage import fuzzy_pairs
    cust = (_table(spark, sf_dir, "customer")
            .where(F.col("c_custkey") < 500)
            .select("c_custkey", "c_name"))
    return (fuzzy_pairs(cust, "c_custkey", "c_name", max_dist=2)
            .select("id_a", "id_b", F.col("dist").cast("long").alias("dist")))


def q_dedup_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end dedup APPLICATION: exact n-gram Jaccard pairs →
    connected-component clusters → drop every non-min-id member —
    returning the cleaned corpus itself (id + lang + kept text length),
    the step users actually run after any pair screen.  The oracle
    recomputes the same survivors with a recursive-CTE closure."""
    corpus = _augmented_corpus(spark, sf_dir)
    pairs = DD.ngram_jaccard_pairs(corpus, "doc_id", "text", "lang",
                                   threshold=0.5, n=3)
    kept = DD.apply_dedup(corpus, pairs, "doc_id")
    return kept.select("doc_id", "lang",
                       F.length("text").cast("long").alias("text_len"))


def q_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Support-threshold frequent tokens WITHOUT shuffling the token
    stream: per-partition Misra-Gries summaries (bounded counters,
    mapInPandas) produce a guaranteed-complete candidate superset; only
    broadcast-joined candidates are exactly recounted.  Final counts
    are exact, so the plain GROUP BY / HAVING oracle matches."""
    from dynamic_partitioner_spark.operators.frequency import heavy_hitters
    docs = _table(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(F.split(F.trim(F.lower(F.col("text"))),
                          "[ \\t\\n\\r]+")).alias("term"))
    toks = toks.where(F.length("term") > 0)
    return heavy_hitters(toks, "term", support=0.002)


def q_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized-aggregate maintenance: the stored per-priority
    partial state (sum/count over the 90% 'history' slice) merges with
    the partial aggregate of the 10% 'delta' slice — two map-side
    partial aggs + one tiny merge, never a full recompute.  The oracle
    IS the full recompute, so equality proves the merge algebra."""
    orders = _table(spark, sf_dir, "orders")
    # integer-cent quantization: BIGINT partial sums merge exactly and
    # order-free, so the merged state equals the full recompute
    # bit-for-bit in both engines (the events_rolling_1h trick)
    cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint")

    def partial(df):
        return df.groupBy("o_orderpriority").agg(
            F.sum(cents).alias("_c"),
            F.count(F.lit(1)).alias("_n"))

    base = partial(orders.where(F.col("o_orderkey") % 10 != 0))
    delta = partial(orders.where(F.col("o_orderkey") % 10 == 0))
    return (base.unionByName(delta)
            .groupBy("o_orderpriority")
            .agg(F.sum("_n").alias("n_orders"),
                 (F.sum("_c").cast("double") / F.lit(100.0))
                 .alias("total_price"),
                 (F.sum("_c").cast("double") / F.lit(100.0)
                  / F.sum("_n").cast("double")).alias("avg_price")))


def q_source_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolving parquet source: an early batch without
    o_totalprice and a later batch with it land in one dataset;
    ``mergeSchema`` read-back unions the file schemas, nulling the
    missing column for old files (the additive-column contract a
    long-lived 100 TB dataset needs — scans stay pruned because merge
    happens on footers, not data)."""
    apply_engine_confs(spark)
    orders = _table(spark, sf_dir, "orders")
    out = _out("schema_evolution")
    (orders.where(F.col("o_orderkey") % 2 == 1)
     .select("o_orderkey", "o_custkey")
     .write.parquet(f"{out}/batch=1"))
    (orders.where(F.col("o_orderkey") % 2 == 0)
     .select("o_orderkey", "o_custkey", "o_totalprice")
     .write.parquet(f"{out}/batch=2"))
    back = spark.read.option("mergeSchema", "true").parquet(out)
    return back.select("o_orderkey", "o_custkey", "o_totalprice")


def q_text_strip_html(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Web-corpus boilerplate removal: every document deterministically
    wrapped in synthetic HTML (title/style/comment/script/entities —
    raw testdata has no markup), then stripped by the codegen
    regexp+replace chain; tag counts audited on the raw markup.  The
    oracle wraps and strips with the identical pattern strings."""
    docs = _table(spark, sf_dir, "documents")
    d = F.col("doc_id").cast("string")
    html = F.concat(
        F.lit("<html><head><title>Doc "), d,
        F.lit("</title><style>body {color: #333}</style></head>"
              "<body><!-- id "), d,
        F.lit(" --><h1>Doc "), d, F.lit("</h1><p>"), F.col("text"),
        F.lit('</p><script type="text/javascript">var id = '), d,
        F.lit(';</script><div class="footer">Tom &amp; Jerry &lt;3 '
              "&quot;quoted&quot;&nbsp;&#39;x&#39;</div></body></html>"))
    return docs.select("doc_id",
                       TX.html_tag_count(html).alias("n_tags"),
                       TX.strip_html(html).alias("clean_text"))


def q_text_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing pass: deterministically injected phones / SSNs /
    IPs / card numbers (every 3rd doc — raw testdata has none) are
    counted on the raw text then replaced by ``<TAG>`` markers, all in
    one codegen regexp chain with an RE2-identical DuckDB twin."""
    docs = _table(spark, sf_dir, "documents")
    d = F.col("doc_id").cast("string")
    inject = F.concat(
        F.col("text"),
        F.lit(" call (555) 123-4"), F.lpad(d, 3, "0"),
        F.lit(" ssn 123-45-6789 from 10.0."),
        (F.col("doc_id") % 256).cast("string"), F.lit(".7"),
        F.lit(" card 4111 1111 1111 1111"))
    aug = F.when(F.col("doc_id") % 3 == 0, inject).otherwise(F.col("text"))
    return docs.select("doc_id", *TX.pii_counts(aug),
                       TX.redact_pii(aug).alias("clean_text"))


def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS — a set combination ((rf, ls), (ls), ())
    no ROLLUP/CUBE chain expresses — still one expand + one hash
    aggregate; grouping_id disambiguates NULL-as-ALL from real NULLs."""
    _table(spark, sf_dir, "lineitem").createOrReplaceTempView("li_gs")
    return spark.sql("""
        SELECT coalesce(l_returnflag, 'ALL') AS l_returnflag,
               coalesce(l_linestatus, 'ALL') AS l_linestatus,
               grouping_id(l_returnflag, l_linestatus) AS gid,
               count(*) AS n_rows,
               round(sum(l_quantity), 2) AS sum_qty
        FROM li_gs
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
                                (l_linestatus), ())
    """)


_HOUR_RANGE_US = 3_600_000_000


def q_events_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-based rolling aggregate: per event, the user's trailing-1h
    event count and value sum via a RANGE window frame (value-based
    bounds — a rows frame cannot express 'last hour').  Values are
    quantized to integer cents before summing so the frame sum is exact
    BIGINT arithmetic, order-free, and bit-identical in the oracle."""
    events = _table(spark, sf_dir, "events")
    ev = events.select(
        "event_id", "user_id", event_time_us(events).alias("ts_us"),
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
        .alias("cents"))
    w = (Window.partitionBy("user_id").orderBy("ts_us")
         .rangeBetween(-_HOUR_RANGE_US, Window.currentRow))
    return (ev.select(
        "event_id", "user_id", "ts_us",
        F.count(F.lit(1)).over(w).alias("n_1h"),
        F.sum("cents").over(w).alias("_c"))
        .select("event_id", "user_id", "ts_us", "n_1h",
                (F.col("_c") / 100.0).alias("sum_value_1h")))


_DAY_US = 86_400_000_000


def q_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention triangle: users bucketed by first-activity day,
    distinct active users per (cohort, day offset)."""
    from dynamic_partitioner_spark.operators.relational import (
        cohort_retention)
    events = _table(spark, sf_dir, "events")
    ev = events.select("user_id", event_time_us(events).alias("ts_us"))
    return cohort_retention(ev, "user_id",
                            F.expr(f"ts_us div {_DAY_US}"))


def q_text_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perplexity-style quality scoring: fit an add-one-smoothed bigram
    LM on the corpus itself, score each doc's average bigram log-prob.
    Integer micro-nat quantization keeps the per-doc sum exact and
    order-free, so the DuckDB twin hashes identically."""
    from dynamic_partitioner_spark.operators.lm import bigram_lm_score
    docs = _table(spark, sf_dir, "documents")
    return bigram_lm_score(docs, "doc_id", "text")


def q_events_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward fill: every event row carries the user's most recent
    purchase value (NULL until the first purchase) — one shared window
    shuffle on user_id."""
    from dynamic_partitioner_spark.operators.relational import forward_fill
    events = _table(spark, sf_dir, "events")
    ev = events.select(
        "event_id", "user_id", "event_type",
        event_time_us(events).alias("ts_us"),
        F.when(F.col("event_type") == "purchase", F.col("value"))
        .alias("last_purchase_value"))
    filled = forward_fill(ev, "user_id", ["ts_us", "event_id"],
                          ["last_purchase_value"])
    return filled.select(
        "event_id", "user_id", "event_type",
        round4(F.col("last_purchase_value")).alias("last_purchase_value"))


def q_k_anonymize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-anonymity suppression (k=8) over customer quasi-identifiers
    (nation, market segment): under-populated tuples redact to '*'."""
    from dynamic_partitioner_spark.operators.privacy import k_anonymize
    cust = _table(spark, sf_dir, "customer").select(
        "c_custkey",
        F.col("c_nationkey").cast("string").alias("nation"),
        F.col("c_mktsegment").alias("segment"))
    return k_anonymize(cust, ["nation", "segment"], k=8)


def q_mm_binary_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary payloads + metadata struct survive the engine's own
    dynamic-partitioned sink (partitioned by lang): write, rediscover,
    hash the bytes JVM-side."""
    apply_engine_confs(spark)
    docs = _table(spark, sf_dir, "documents")
    bt = to_binary_table(docs).join(docs.select("doc_id", "lang"),
                                    "doc_id")
    out = _out("mm_binary_roundtrip")
    write_partitioned(bt, SinkSpec(name="media", field_names=["lang"]), out)
    back = read_partitioned(spark, out)
    return back.select(
        "doc_id", F.md5("payload").alias("payload_md5"),
        F.col("meta.orig_bytes").cast("long").alias("orig_bytes"), "lang")


#: z-order quantization bounds for lineitem (cover sf0.1; larger SFs
#: clamp into the edge buckets — widen for bigger runs)
_ZSPECS = [("l_partkey", 0.0, 20000.0), ("l_suppkey", 0.0, 1000.0)]


def q_sorted_export_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-column clustered export: Morton-interleave (partkey,
    suppkey), range-partition + sort on the z-value, 8 files — every
    file covers a small rectangle of BOTH key ranges, so parquet
    min/max stats prune scans filtered on either column (pinned in
    tests/test_partitioned_write.py).  Returned z-values are
    hash-checked against the identical DuckDB bit arithmetic."""
    from dynamic_partitioner_spark.functions.zorder import zorder_value
    from dynamic_partitioner_spark.operators.partitioned_write import (
        write_zordered)
    apply_engine_confs(spark)
    li = _table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_partkey", "l_suppkey")
    out = _out("sorted_export_zorder")
    write_zordered(li, out, _ZSPECS, bits=8, n_files=8)
    back = spark.read.parquet(out)
    return back.withColumn("z", zorder_value(_ZSPECS, 8))


def q_text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document TF-IDF term weights (tf ≥ 2): one corpus explode,
    then vocabulary-bounded aggregates + broadcast df join."""
    from dynamic_partitioner_spark.operators.vectorize import tfidf_terms
    docs = _table(spark, sf_dir, "documents")
    return tfidf_terms(docs, "doc_id", "text", min_tf=2)


def q_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector symmetric int8 quantization summary (scale, exact
    integer q-sums, max reconstruction error) — the 4× storage
    reduction step before int8 ANN/GEMM.  Every arithmetic step is
    deterministic IEEE, so the oracle matches bit-for-bit."""
    from dynamic_partitioner_spark.operators.quantize import (
        quantize_embeddings)
    emb = _table(spark, sf_dir, "embeddings")
    return quantize_embeddings(emb, "vec_id", "embedding")


def q_embedding_grammian(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8-quantized grammian XᵀX (upper triangle, exact BIGINT) via
    Arrow map-side partial matrices + one tiny aggregation shuffle —
    the PCA/whitening building block whose shuffled volume is
    independent of corpus size.  Integer accumulation keeps the
    distributed sum order-independent (a float grammian would not be
    reproducible across partitionings)."""
    from dynamic_partitioner_spark.operators.quantize import int8_grammian
    emb = _table(spark, sf_dir, "embeddings")
    return int8_grammian(emb, "embedding", 64)


def q_text_bpe_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide adjacent word-pair frequencies, top 100 — the first
    merge step of BPE vocabulary training (duplicates kept, unlike the
    distinct-shingle ngram key).  Partial-agg explode → one exchange →
    rank."""
    docs = _table(spark, sf_dir, "documents")
    grams = docs.select(F.explode(DD.ngrams_all_batched(F.col("text"), 2))
                        .alias("pair"))
    counts = grams.groupBy("pair").agg(F.count(F.lit(1)).alias("n"))
    # TakeOrderedAndProject top-k, then rank the ≤100 survivors (see
    # q_text_top_ngrams)
    top = counts.orderBy(F.col("n").desc(), F.col("pair")).limit(100)
    w = Window.orderBy(F.col("n").desc(), F.col("pair"))
    return (top.withColumn("rnk", F.row_number().over(w))
            .select("pair", "n", "rnk"))


def q_similarity_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-k over int8-quantized vectors (integer dot products +
    per-vector rescale) — the int8-GEMM ANN scoring path with a
    value-exact oracle: BIGINT dots are order-independent, and the
    float rescale multiplies identical doubles in a fixed order."""
    from dynamic_partitioner_spark.operators.quantize import int8_topk
    emb = _table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 10)
    return int8_topk(emb, queries, k=5)


def q_similarity_bq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-quantization top-k (operators/quantize.py:bq_topk): 1-bit
    sign signatures (two packed LONGs per vector, 32x smaller than
    float32) ranked by exact Hamming distance — the cheapest retrieval
    tier, fully value-checkable because nothing past the sign
    comparison is float.  Completes the quantization ladder
    (float → int8 → PQ → 1-bit); rank agreement with the float cosine
    baseline stays pinned in tests/test_quantize.py."""
    from dynamic_partitioner_spark.operators.quantize import bq_topk
    emb = _table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 10)
    return bq_topk(emb, queries, k=5)


def q_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shingle-containment pairs (|A∩B| / min|A|,|B|) — catches
    sub-document duplication (quotes, boilerplate, truncated
    re-crawls) that jaccard dilutes; the augmented corpus's mutants
    are near-subsets of their originals, so real pairs exist at every
    SF."""
    corpus = _augmented_corpus(spark, sf_dir)
    return DD.containment_pairs(corpus, "doc_id", "text", "lang",
                                threshold=0.9, n=3)


def q_privacy_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity suppression (l=3) over customer quasi-identifiers
    with the account-balance band as the sensitive attribute:
    QI groups homogeneous in the sensitive value redact to '*' even
    when k-anonymous."""
    from dynamic_partitioner_spark.operators.privacy import l_diversify
    cust = _table(spark, sf_dir, "customer").select(
        "c_custkey",
        F.col("c_nationkey").cast("string").alias("nation"),
        F.col("c_mktsegment").alias("segment"),
        F.floor(F.col("c_acctbal") / 1000).cast("long").alias("bal_band"))
    return l_diversify(cust, ["nation", "segment"], "bal_band", l=3)


def q_dedup_survivorship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Golden-record merge per duplicate cluster: newest non-null value
    per attribute (MDM survivorship).  Clusters and per-attribute nulls
    are synthesized deterministically from customer so stale records
    must donate fields the newer ones left blank."""
    from dynamic_partitioner_spark.operators.linkage import survivorship
    cust = _table(spark, sf_dir, "customer")
    recs = cust.select(
        (F.col("c_custkey") % 500).alias("cluster_id"),
        F.col("c_custkey").alias("seq"),
        F.when(F.col("c_custkey") % 3 != 0, F.col("c_name")).alias("name"),
        F.when(F.col("c_custkey") % 5 != 0,
               F.round("c_acctbal", 2)).alias("acctbal"),
        F.when(F.col("c_custkey") % 7 != 0,
               F.col("c_mktsegment")).alias("segment"))
    return survivorship(recs, "cluster_id", "seq",
                        ["name", "acctbal", "segment"])


def q_events_densify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user hourly grid between first and last event with
    zero-filled empty buckets — calendar densification for window
    math / charting over sparse activity."""
    from dynamic_partitioner_spark.operators.relational import (
        densify_time_buckets)
    ev = _table(spark, sf_dir, "events")
    return densify_time_buckets(ev, "user_id", event_time_us(ev))


def q_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD type-2 dimension history: the synthetic per-order change
    feed becomes validity intervals (valid_from/valid_to/is_current)
    via one lead window per key."""
    from dynamic_partitioner_spark.operators.relational import scd2_build
    li = _table(spark, sf_dir, "lineitem")
    # tiebroken shared seq — duplicate (key, seq) rows would make the
    # lead-window interval order nondeterministic (see q_cdc_apply)
    changes = li.select("l_orderkey", cdc_change_seq(),
                        F.round("l_quantity", 2).alias("quantity"))
    return scd2_build(changes, ["l_orderkey"], "seq", ["quantity"])


def q_mm_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-64-sample byte thumbnail per payload (nearest-neighbor
    resampling in the byte domain — the resize plumbing with a
    deterministic stand-in where the codec libs would plug in; see
    multimodal.resize_media)."""
    from dynamic_partitioner_spark.operators.multimodal import (
        resize_media, to_binary_table)
    docs = _table(spark, sf_dir, "documents")
    return resize_media(to_binary_table(docs))


def q_privacy_t_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness measurement over orders: per order-priority class,
    the total-variation distance between its status distribution and
    the global one — exact integer numerator Σ|c·n_g − g·n_c| with one
    double division (then round4), identical in both engines."""
    from dynamic_partitioner_spark.operators.privacy import t_closeness
    orders = _table(spark, sf_dir, "orders")
    return t_closeness(orders, ["o_orderpriority"], "o_orderstatus")


def q_privacy_dp_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Laplace-noised per-nation customer counts (ε=1, seeded noise —
    reproducible release shape; see the operator's honesty note about
    rotating the salt for real DP)."""
    from dynamic_partitioner_spark.operators.privacy import dp_noisy_counts
    cust = _table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").cast("string").alias("nation"))
    return dp_noisy_counts(cust, ["nation"], epsilon=1.0)


def q_text_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprints (MOSS, SIGMOD 2003): per-window minimum
    of md5-hashed word 4-grams — any ≥7-token match between documents
    shares a fingerprint; the selected set is ~1/4 of the gram count."""
    docs = _table(spark, sf_dir, "documents")
    return DD.winnow_fingerprints(docs, "doc_id", "text", k=4, w=4)


_MAGIC_BY_MOD = [  # doc_id % 6 → injected magic prefix (hex) + truth
    ("89504E470D0A1A0A", "image/png"),
    ("255044462D", "application/pdf"),
    ("FFD8FFE0", "image/jpeg"),
    ("1F8B08", "application/gzip"),
    ("504B0304", "application/zip"),
    ("", "text/plain"),
]


def q_mm_mime_sniff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Magic-byte MIME detection: payloads get a deterministic magic
    prefix by doc_id%6 (PNG/PDF/JPEG/GZIP/ZIP/none); the sniffer must
    classify every one.  The oracle is the INDEPENDENT ground truth
    (the injection rule), so any sniffing mistake hash-mismatches."""
    from dynamic_partitioner_spark.operators.multimodal import sniff_mime
    docs = _table(spark, sf_dir, "documents")
    prefix = None
    for i, (hx, _) in enumerate(_MAGIC_BY_MOD):
        p = F.unhex(F.lit(hx)) if hx else F.unhex(F.lit(""))
        cond = F.col("doc_id") % 6 == i
        prefix = F.when(cond, p) if prefix is None else prefix.when(cond, p)
    binary_df = docs.select(
        "doc_id",
        F.concat(prefix, F.encode(F.col("text"), "utf-8")).alias("payload"))
    return sniff_mime(binary_df)


def q_dedup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document duplicated 8-token spans (Lee et al. 2022 exact
    substring dedup at token granularity): top-50 repeated spans by
    occurrence count over the documents corpus — one narrow span
    explode + one hash aggregate; the oracle rebuilds every span with
    the identical whitespace tokenization."""
    from dynamic_partitioner_spark.operators.dedup import duplicated_spans
    docs = _table(spark, sf_dir, "documents")
    return duplicated_spans(docs, "doc_id", "text", k=8, min_docs=2,
                            top=50)


def q_text_span_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document span-novelty (FineWeb-style contamination rate):
    fraction of each document's 8-token spans appearing in no other
    document — two hash aggregates over the span relation, no
    pairwise comparison; oracle rebuilds the identical spans."""
    from dynamic_partitioner_spark.operators.dedup import span_novelty
    docs = _table(spark, sf_dir, "documents")
    return span_novelty(docs, "doc_id", "text", k=8)


def q_dedup_url(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL dedup via canonicalization: deterministically messy URLs
    (mixed-case scheme/host, default ports, tracking params, fragments)
    collapse to one canonical form per logical resource; groups count
    the aliases.  The canonicalizer is a codegen regexp_replace chain
    with an RE2-identical DuckDB twin."""
    docs = _table(spark, sf_dir, "documents")
    d = F.col("doc_id")
    s = lambda c: c.cast("string")  # noqa: E731
    raw = F.concat(
        F.when(d % 2 == 0, F.lit("https://")).otherwise(F.lit("HTTPS://")),
        F.lit("Ex"), s(d % 50), F.lit(".ORG"),
        F.when(d % 3 == 0, F.lit(":443")).otherwise(F.lit("")),
        F.lit("/path"), s(d % 4), F.lit("/"),
        F.when(d % 2 == 0, F.concat(F.lit("?utm_source=x&item="),
                                    s(d % 5)))
        .otherwise(F.concat(F.lit("?item="), s(d % 5))),
        F.when(d % 7 == 0, F.lit("#frag")).otherwise(F.lit("")))
    urls = docs.select("doc_id", TX.canonicalize_url(raw).alias("url"))
    return (urls.groupBy("url")
            .agg(F.count(F.lit(1)).alias("n_aliases"),
                 F.min("doc_id").alias("first_doc")))


def q_text_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document character entropy (nats) — gibberish/binary-noise
    screen; per-char terms quantized to integer micro-nats so the doc
    sum is exact and aggregation-order-free."""
    from dynamic_partitioner_spark.operators.repetition import char_entropy
    docs = _table(spark, sf_dir, "documents")
    return char_entropy(docs, "doc_id", "text")


def q_sample_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature (α=½) source resampling — √n-proportional takes with
    an exact-integer normalization (⌊√n⌋ weights) so both engines make
    identical membership decisions; flattens the source-size head the
    way multilingual pre-training mixtures do."""
    from dynamic_partitioner_spark.operators.sampling import (
        temperature_mixture)
    docs = _table(spark, sf_dir, "documents")
    out = temperature_mixture(docs, "source", "doc_id", total_rows=300)
    return out.select("doc_id", "lang", "source")


def q_events_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user z-score outliers (|z| > 2 vs the user's own mean/std) —
    the per-entity anomaly screen over an event stream.  Group-stats
    aggregate broadcast-joined back to the events (two scans, one tiny
    shuffle); the filter runs codegen'd on the joined row."""
    ev = _table(spark, sf_dir, "events")
    stats = (ev.groupBy("user_id")
             .agg(F.avg("value").alias("_m"),
                  F.stddev_samp("value").alias("_sd")))
    joined = ev.join(F.broadcast(stats), "user_id")
    z = (F.col("value") - F.col("_m")) / F.col("_sd")
    return (joined.where((F.col("_sd") > 0) & (F.abs(z) > 2))
            .select("user_id", "event_id",
                    F.round("value", 2).alias("value"),
                    round4(z).alias("z")))


# =====================================================================
# Round-5b: sequence mining / downsampling / skew diagnostics / splits
# =====================================================================

def q_seq_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-25 per-user event-type trigrams (sequential-pattern mining —
    the n-gram step past the bigram transition matrix)."""
    from dynamic_partitioner_spark.operators.relational import seq_ngrams
    events = _table(spark, sf_dir, "events")
    ev = events.select("user_id", "event_id", "event_type",
                       event_time_us(events).alias("ts_us"))
    return seq_ngrams(ev, "user_id", ["ts_us", "event_id"],
                      "event_type", n=3, top=25)


#: Truncating-division hour bucket.  Spark's `div` and DuckDB's
#: integer `//` BOTH truncate toward zero (verified: -7 // 2 = -3 in
#: DuckDB 1.0 — `//` floors only for FLOAT operands), so the plain
#: truncating quotient is the parity-exact bucket for any sign; the
#: previous pmod-floor form was the one that diverged pre-1970
#: (code-review r6).
_HOUR_FDIV = "(ts_us div 3600000000)"


def q_events_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user-hour OHLC downsample bars over the metric stream —
    one shuffle serves both window passes and the final aggregate."""
    from dynamic_partitioner_spark.operators.relational import ohlc_bars
    events = _table(spark, sf_dir, "events")
    ev = events.select("user_id", "event_id", "value",
                       event_time_us(events).alias("ts_us"))
    return ohlc_bars(ev.withColumn("hour_idx", F.expr(_HOUR_FDIV)),
                     "user_id", F.col("hour_idx"), "value",
                     ["ts_us", "event_id"])


def q_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew diagnostics on events.user_id: top-20 heaviest
    keys with ppm share and skew ratio — the measurement that decides
    between a plain join, AQE skew handling, and salting."""
    from dynamic_partitioner_spark.operators.relational import (
        key_skew_profile)
    events = _table(spark, sf_dir, "events")
    return key_skew_profile(events, "user_id", top=20)


def q_bloom_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-pruned semi join: high-balance customers' keys build a
    distributed Bloom filter applied map-side to the orders scan BEFORE
    any exchange; survivors are exactly verified, so the result equals
    the plain semi join (decimal-exact money sums)."""
    from dynamic_partitioner_spark.operators.bloom import bloom_semi_join
    cust = (_table(spark, sf_dir, "customer")
            .where(F.col("c_acctbal") > 9000).select("c_custkey"))
    # project BEFORE the probe: column pruning cannot push through
    # mapInPandas, so the fact must arrive pre-pruned
    orders = _table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderpriority", "o_totalprice")
    hits = bloom_semi_join(orders, cust, "o_custkey", "c_custkey")
    return (hits.groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n_orders"),
                 F.sum(F.col("o_totalprice").cast("decimal(12,2)"))
                 .cast("double").alias("total_price")))


def q_lag_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user lag/rolling ML feature pass over the metric stream —
    one exchange+sort serves every lag, the delta, and the trailing
    3-row mean."""
    from dynamic_partitioner_spark.operators.relational import lag_features
    events = _table(spark, sf_dir, "events")
    ev = events.select("user_id", "event_id", "value",
                       event_time_us(events).alias("ts_us"))
    return (lag_features(ev, "user_id", ["ts_us", "event_id"], "value",
                         n_lags=2, roll=3)
            .select("user_id", "event_id", "value",
                    "lag_1", "lag_2", "delta", "roll_mean"))


#: SQL-interface keys — ONE dialect-neutral ANSI string each, executed
#: verbatim by spark.sql AND by the DuckDB oracle (micro-unit integer
#: sums keep every aggregate order-free and engine-exact).
_TPCH_Q1_SQL = """
    SELECT l_returnflag, l_linestatus,
           CAST(sum(CAST(floor(l_quantity * 100 + 0.5) AS BIGINT))
                AS BIGINT) AS sum_qty_c,
           CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))
                AS BIGINT) AS sum_base_c,
           CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount)
                               * 10000 + 0.5) AS BIGINT))
                AS BIGINT) AS sum_disc_u,
           CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount)
                               * (1 + l_tax) * 10000 + 0.5) AS BIGINT))
                AS BIGINT) AS sum_charge_u,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
"""

_TPCH_Q5_SQL = """
    SELECT n_name,
           CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount)
                               * 10000 + 0.5) AS BIGINT))
                AS BIGINT) AS revenue_u
    FROM customer, orders, lineitem, supplier, nation, region
    WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
      AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
      AND r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY n_name
"""


_TPCH_Q3_SQL = """
    SELECT l_orderkey, CAST(o_orderdate AS DATE) AS order_date,
           CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount)
                               * 10000 + 0.5) AS BIGINT))
                AS BIGINT) AS revenue_u
    FROM customer, orders, lineitem
    WHERE c_mktsegment = 'BUILDING'
      AND c_custkey = o_custkey AND l_orderkey = o_orderkey
      AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
      AND l_shipdate > TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY l_orderkey, o_orderdate
    ORDER BY revenue_u DESC, l_orderkey
    LIMIT 10
"""


_TPCH_Q6_SQL = """
    SELECT CAST(sum(CAST(floor(l_extendedprice * l_discount
                               * 10000 + 0.5) AS BIGINT))
                AS BIGINT) AS revenue_u,
           count(*) AS n_rows
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
"""

# Q4 adapted: the testdata schema carries no l_commitdate/l_receiptdate,
# so "late" is re-defined as shipped >30 days after the order date —
# same shape (priority counts over an EXISTS semi-join), dialect-neutral
_TPCH_Q4_SQL = """
    SELECT o_orderpriority, count(*) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-07-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1996-10-01 00:00:00'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey
                    AND l_shipdate > o_orderdate + INTERVAL '30' DAY)
    GROUP BY o_orderpriority
"""

_TPCH_Q7_SQL = """
    SELECT supp_nation, cust_nation, l_year,
           CAST(sum(vol_u) AS BIGINT) AS revenue_u
    FROM (SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
                 year(l_shipdate) AS l_year,
                 CAST(floor(l_extendedprice * (1 - l_discount)
                            * 10000 + 0.5) AS BIGINT) AS vol_u
          FROM supplier, lineitem, orders, customer,
               nation n1, nation n2
          WHERE s_suppkey = l_suppkey AND o_orderkey = l_orderkey
            AND c_custkey = o_custkey AND s_nationkey = n1.n_nationkey
            AND c_nationkey = n2.n_nationkey
            AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
              OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
            AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
            AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00') shipping
    GROUP BY supp_nation, cust_nation, l_year
"""

_TPCH_Q10_SQL = """
    SELECT c_custkey, c_name,
           CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount)
                               * 10000 + 0.5) AS BIGINT))
                AS BIGINT) AS revenue_u,
           c_acctbal, n_name
    FROM customer, orders, lineitem, nation
    WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
      AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
      AND l_returnflag = 'R' AND c_nationkey = n_nationkey
    GROUP BY c_custkey, c_name, c_acctbal, n_name
    ORDER BY revenue_u DESC, c_custkey
    LIMIT 20
"""

_TPCH_Q13_SQL = """
    SELECT c_count, count(*) AS custdist
    FROM (SELECT c_custkey, count(o_orderkey) AS c_count
          FROM customer LEFT OUTER JOIN orders ON c_custkey = o_custkey
          GROUP BY c_custkey) c_orders
    GROUP BY c_count
"""

# Q14 adapted: p_type is a single word in the testdata, so the PROMO%
# prefix match is an equality; the two exact integer-unit sums replace
# the spec's float ratio (derivable, and hash-stable cross-engine)
_TPCH_Q14_SQL = """
    SELECT CAST(sum(CASE WHEN p_type = 'PROMO' THEN disc_u
                         ELSE 0 END) AS BIGINT) AS promo_revenue_u,
           CAST(sum(disc_u) AS BIGINT) AS total_revenue_u
    FROM (SELECT p_type,
                 CAST(floor(l_extendedprice * (1 - l_discount)
                            * 10000 + 0.5) AS BIGINT) AS disc_u
          FROM lineitem, part
          WHERE l_partkey = p_partkey
            AND l_shipdate >= TIMESTAMP '1996-09-01 00:00:00'
            AND l_shipdate < TIMESTAMP '1996-10-01 00:00:00') x
"""

_TPCH_Q15_SQL = """
    WITH revenue AS (
        SELECT l_suppkey AS supplier_no,
               CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount)
                                   * 10000 + 0.5) AS BIGINT))
                    AS BIGINT) AS total_revenue_u
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
        GROUP BY l_suppkey)
    SELECT s_suppkey, s_name, total_revenue_u
    FROM supplier, revenue
    WHERE s_suppkey = supplier_no
      AND total_revenue_u = (SELECT max(total_revenue_u) FROM revenue)
"""

# Q17 adapted: the 0.2·avg(quantity) cut is rewritten in pure integer
# arithmetic (qty < 0.2·sum/n  ⇔  5·qty_c·n < sum_c over centi-units)
# so the boundary can never flip on a 1-ulp division difference
_TPCH_Q17_SQL = """
    SELECT CAST(sum(price_u) AS BIGINT) AS small_qty_revenue_u,
           count(*) AS n_lines
    FROM (SELECT l.l_partkey,
                 CAST(floor(l.l_extendedprice * 100 + 0.5)
                      AS BIGINT) AS price_u,
                 CAST(floor(l.l_quantity * 100 + 0.5)
                      AS BIGINT) AS qty_c
          FROM lineitem l, part p
          WHERE p.p_partkey = l.l_partkey
            AND p.p_brand = 'Brand#1') x
    JOIN (SELECT l_partkey,
                 CAST(sum(CAST(floor(l_quantity * 100 + 0.5)
                               AS BIGINT)) AS BIGINT) AS sum_qty_c,
                 count(*) AS n
          FROM lineitem GROUP BY l_partkey) a
      ON x.l_partkey = a.l_partkey
    WHERE 5 * qty_c * n < sum_qty_c
"""

_TPCH_Q18_SQL = """
    SELECT c_name, c_custkey, o_orderkey,
           CAST(o_orderdate AS DATE) AS order_date, o_totalprice,
           CAST(sum(CAST(floor(l_quantity * 100 + 0.5) AS BIGINT))
                AS BIGINT) AS sum_qty_c
    FROM customer, orders, lineitem
    WHERE o_orderkey IN (
            SELECT l_orderkey FROM lineitem
            GROUP BY l_orderkey
            HAVING sum(CAST(floor(l_quantity * 100 + 0.5) AS BIGINT))
                   > 15000)
      AND c_custkey = o_custkey AND o_orderkey = l_orderkey
    GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
"""

# Q2 adapted: the testdata has no partsupp, so "minimum supply cost"
# becomes "minimum account balance among suppliers who actually
# shipped the part" (lineitem as the part↔supplier link) — the shape
# (correlated MIN scalar subquery re-joined to the outer 5-table join)
# is the spec's; DISTINCT collapses the lineitem multiplicity.  No
# arithmetic touches s_acctbal, so raw doubles hash identically.
_TPCH_Q2_SQL = """
    SELECT DISTINCT s_acctbal, s_name, n_name, p_partkey, p_name
    FROM part, supplier, lineitem, nation, region
    WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey
      AND p_size <= 5 AND p_type = 'STANDARD'
      AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
      AND r_name = 'EUROPE'
      AND s_acctbal = (
          SELECT min(s2.s_acctbal)
          FROM supplier s2, lineitem l2, nation n2, region r2
          WHERE l2.l_partkey = p_partkey AND s2.s_suppkey = l2.l_suppkey
            AND s2.s_nationkey = n2.n_nationkey
            AND n2.n_regionkey = r2.r_regionkey AND r2.r_name = 'EUROPE')
    ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
    LIMIT 100
"""

# Q8 adapted: the spec's float market-share ratio is returned as its
# two exact integer-unit sums (nation volume / total volume per year)
_TPCH_Q8_SQL = """
    SELECT o_year,
           CAST(sum(CASE WHEN nation = 'NATION_3' THEN vol_u
                         ELSE 0 END) AS BIGINT) AS nation_volume_u,
           CAST(sum(vol_u) AS BIGINT) AS total_volume_u
    FROM (SELECT year(o_orderdate) AS o_year,
                 CAST(floor(l_extendedprice * (1 - l_discount)
                            * 10000 + 0.5) AS BIGINT) AS vol_u,
                 n2.n_name AS nation
          FROM part, supplier, lineitem, orders, customer,
               nation n1, nation n2, region
          WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey
            AND l_orderkey = o_orderkey AND o_custkey = c_custkey
            AND c_nationkey = n1.n_nationkey
            AND n1.n_regionkey = r_regionkey AND r_name = 'AMERICA'
            AND s_nationkey = n2.n_nationkey
            AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
            AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
            AND p_type = 'ECONOMY') all_nations
    GROUP BY o_year
"""

# Q9 adapted: no partsupp → supply cost proxied as p_retailprice·qty
# at 10% margin rate; both terms are floor-quantized to integer units
# BEFORE the subtraction so the profit sum is exact in both engines
_TPCH_Q9_SQL = """
    SELECT nation, o_year, CAST(sum(amount_u) AS BIGINT) AS sum_profit_u
    FROM (SELECT n_name AS nation, year(o_orderdate) AS o_year,
                 CAST(floor(l_extendedprice * (1 - l_discount)
                            * 10000 + 0.5) AS BIGINT)
                 - CAST(floor(p_retailprice * l_quantity
                              * 1000 + 0.5) AS BIGINT) AS amount_u
          FROM part, supplier, lineitem, orders, nation
          WHERE s_suppkey = l_suppkey AND p_partkey = l_partkey
            AND o_orderkey = l_orderkey AND s_nationkey = n_nationkey
            AND p_name LIKE '%red%') profit
    GROUP BY nation, o_year
"""

# Q11 adapted: no partsupp → "stock value" is the revenue shipped per
# part by one nation's suppliers; the fraction cut is the exact
# integer cross-multiplication value_u·1000 > Σvalue_u (never a float
# division at the boundary)
_TPCH_Q11_SQL = """
    WITH vals AS (
        SELECT l_partkey,
               CAST(sum(CAST(floor(l_extendedprice * 10000 + 0.5)
                             AS BIGINT)) AS BIGINT) AS value_u
        FROM lineitem, supplier, nation
        WHERE l_suppkey = s_suppkey AND s_nationkey = n_nationkey
          AND n_name = 'NATION_7'
        GROUP BY l_partkey)
    SELECT l_partkey AS ps_partkey, value_u
    FROM vals
    WHERE value_u * 1000 >
          (SELECT CAST(sum(value_u) AS BIGINT) FROM vals)
    ORDER BY value_u DESC, ps_partkey
"""

# Q12 adapted: no l_shipmode/commitdate/receiptdate → "mode" becomes a
# derived ship-speed class (≤7 days after order = FAST), "late" logic
# folds into the class; priority CASE-sums are the spec's
_TPCH_Q12_SQL = """
    SELECT ship_speed,
           CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT)
               AS high_line_count,
           CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 0 ELSE 1 END) AS BIGINT)
               AS low_line_count
    FROM (SELECT o_orderpriority,
                 CASE WHEN l_shipdate <= o_orderdate + INTERVAL '7' DAY
                      THEN 'FAST' ELSE 'SLOW' END AS ship_speed
          FROM orders, lineitem
          WHERE o_orderkey = l_orderkey
            AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
            AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00') x
    GROUP BY ship_speed
"""

# Q16 adapted: "suppliers who can supply" = suppliers who shipped the
# part (lineitem link); the spec's NOT IN complained-supplier exclusion
# becomes NOT IN (negative account balance) — same anti-join shape
_TPCH_Q16_SQL = """
    SELECT p_brand, p_type, p_size,
           count(DISTINCT l_suppkey) AS supplier_cnt
    FROM part, lineitem
    WHERE p_partkey = l_partkey
      AND p_brand <> 'Brand#1' AND p_type <> 'PROMO'
      AND p_size IN (1, 4, 7, 10, 13, 16, 19, 23)
      AND l_suppkey NOT IN
          (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY p_brand, p_type, p_size
    ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
    LIMIT 50
"""

# Q19 adapted: no p_container/l_shipmode → the three OR'd predicate
# groups pair brand+size ranges with quantity bands; the join key
# inside each disjunct is the spec's optimizer test (Catalyst must
# extract the common p_partkey = l_partkey to plan a hash join)
_TPCH_Q19_SQL = """
    SELECT CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount)
                               * 10000 + 0.5) AS BIGINT))
                AS BIGINT) AS revenue_u,
           count(*) AS n_lines
    FROM lineitem, part
    WHERE (p_partkey = l_partkey AND p_brand = 'Brand#12'
           AND p_size BETWEEN 1 AND 5
           AND l_quantity >= 1 AND l_quantity <= 11)
       OR (p_partkey = l_partkey AND p_brand = 'Brand#23'
           AND p_size BETWEEN 1 AND 10
           AND l_quantity >= 10 AND l_quantity <= 20)
       OR (p_partkey = l_partkey AND p_brand = 'Brand#25'
           AND p_size BETWEEN 1 AND 15
           AND l_quantity >= 20 AND l_quantity <= 30)
"""

# Q20 adapted: no partsupp availqty → a supplier has "excess share"
# when their shipped centi-quantity of a red part exceeds 25% of that
# part's total in the window (exact integer 4·qty > Σqty); DISTINCT
# over the supplier join keeps the spec's IN-semi-join effect
_TPCH_Q20_SQL = """
    WITH shipped AS (
        SELECT l_suppkey, l_partkey,
               CAST(sum(CAST(floor(l_quantity * 100 + 0.5) AS BIGINT))
                    AS BIGINT) AS qty_c
        FROM lineitem, part
        WHERE l_partkey = p_partkey AND p_name LIKE 'red%'
          AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
        GROUP BY l_suppkey, l_partkey),
    tot AS (SELECT l_partkey, CAST(sum(qty_c) AS BIGINT) AS tot_c
            FROM shipped GROUP BY l_partkey)
    SELECT DISTINCT s_suppkey, s_name, n_name
    FROM supplier, nation, shipped, tot
    WHERE s_nationkey = n_nationkey AND s_suppkey = shipped.l_suppkey
      AND shipped.l_partkey = tot.l_partkey
      AND 4 * qty_c > tot_c
    ORDER BY s_suppkey
"""

# Q21 adapted: no receipt/commit dates → "kept the order waiting" is
# shipped >60 days after the order date AND strictly last among the
# order's suppliers; the EXISTS / NOT EXISTS double self-join on
# lineitem is the spec's
_TPCH_Q21_SQL = """
    SELECT s_name, count(*) AS numwait
    FROM supplier, lineitem l1, orders, nation
    WHERE s_suppkey = l1.l_suppkey AND o_orderkey = l1.l_orderkey
      AND o_orderstatus = 'F'
      AND l1.l_shipdate > o_orderdate + INTERVAL '60' DAY
      AND s_nationkey = n_nationkey AND n_name = 'NATION_3'
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_shipdate > l1.l_shipdate)
    GROUP BY s_name
    ORDER BY numwait DESC, s_name
    LIMIT 100
"""

# Q22 adapted: no c_phone → cntrycode is the nation key; "no orders in
# 7 years" becomes no orders since 1999; the above-average balance cut
# is the exact integer cross-multiplication bal_c·n > Σbal_c over
# cents (spec compares against a float AVG — a boundary flip waiting
# to happen across engines)
_TPCH_Q22_SQL = """
    WITH pos AS (SELECT c_custkey, c_nationkey,
                        CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT)
                            AS bal_c
                 FROM customer
                 WHERE c_acctbal > 0.0
                   AND c_nationkey IN (3, 7, 11, 15, 19, 23, 24)),
    avgref AS (SELECT CAST(sum(bal_c) AS BIGINT) AS sum_c,
                      count(*) AS n
               FROM pos)
    SELECT cntrycode, count(*) AS numcust,
           CAST(sum(bal_c) AS BIGINT) AS totacctbal_c
    FROM (SELECT CAST(c_nationkey AS BIGINT) AS cntrycode, bal_c
          FROM pos, avgref
          WHERE bal_c * n > sum_c
            AND NOT EXISTS (SELECT 1 FROM orders
                            WHERE o_custkey = c_custkey
                              AND o_orderdate >=
                                  TIMESTAMP '1999-01-01 00:00:00')) x
    GROUP BY cntrycode
    ORDER BY cntrycode
"""


def _run_sql(spark: SparkSession, sf_dir: str, sql: str,
             tables: list[str]) -> DataFrame:
    """Register the named tables as temp views and run raw SQL — the
    engine's SQL interface (same text the DuckDB oracle executes)."""
    for t in tables:
        _table(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(sql)


def q_sql_tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 pricing summary through the RAW SQL interface —
    dialect-neutral text, identical in the oracle; Catalyst still
    plans partial aggregation + a 6-group exchange."""
    return _run_sql(spark, sf_dir, _TPCH_Q1_SQL, ["lineitem"])


def q_sql_tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 local-supplier volume (6-table join) through raw SQL —
    Catalyst broadcast-plans the dimension tables and reorders the
    joins; the oracle runs the same text."""
    return _run_sql(spark, sf_dir, _TPCH_Q5_SQL,
                    ["customer", "orders", "lineitem", "supplier",
                     "nation", "region"])


def q_events_cumulative_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User-growth curve: per day, new users (first-seen) and the
    cumulative total — cumulative DISTINCT reduced to a cumulative SUM
    via the first-seen-day trick (two tiny hash aggs + one window over
    the day grid, never a growing distinct state)."""
    events = _table(spark, sf_dir, "events")
    day = F.date_format(event_time_ts(events), "yyyy-MM-dd").alias("day")
    first = (events.select(F.col("user_id"), day)
             .where(F.col("user_id").isNotNull())
             .groupBy("user_id").agg(F.min("day").alias("day")))
    daily = first.groupBy("day").agg(
        F.count(F.lit(1)).alias("n_new_users"))
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return daily.select("day", "n_new_users",
                        F.sum("n_new_users").over(w).alias("cum_users"))


def q_sample_balance_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class-balanced downsample of the labeled embedding corpus: every
    label keeps exactly min-class-count rows by deterministic hash
    draw; returns the per-label audit."""
    from dynamic_partitioner_spark.operators.sampling import (
        balance_classes)
    emb = _table(spark, sf_dir, "embeddings")
    kept = balance_classes(emb, "label", "vec_id")
    return (kept.groupBy(F.col("label").cast("long").alias("label"))
            .agg(F.count(F.lit(1)).alias("n_kept"),
                 F.min("vec_id").alias("min_vec_id"),
                 F.max("vec_id").alias("max_vec_id")))


def q_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the customer→supplier purchase graph (orders ⋈
    lineitem), top-20 nodes by (out_degree, node).  Hash-checked via
    the sketch_cms invariant pattern (r8; the iterative float ranks
    themselves have no SQL twin): exact BIGINT graph-structure columns
    the oracle recomputes plus oracle-asserted teleport-floor and
    mass-conservation booleans — see the inline comments below.
    Known-graph rank values, mass conservation and determinism stay
    pinned in tests/test_graph.py."""
    from dynamic_partitioner_spark.operators.graph import pagerank
    # graph bounded to the first 3000 customers (the dedup_fuzzy2
    # precedent): the iterative key stays bench-bounded at every SF
    # while the operator itself is unbounded
    orders = (_table(spark, sf_dir, "orders")
              .where(F.col("o_custkey") < 3000)
              .select("o_orderkey", "o_custkey"))
    li = _table(spark, sf_dir, "lineitem").select("l_orderkey",
                                                  "l_suppkey")
    edges = (orders.join(li, orders["o_orderkey"] == li["l_orderkey"])
             .select(F.concat(F.lit("c"), F.col("o_custkey"))
                     .alias("src"),
                     F.concat(F.lit("s"), F.col("l_suppkey"))
                     .alias("dst")))
    ranks = pagerank(edges, "src", "dst", n_iter=4)
    # hash-checked via the sketch_cms invariant pattern (r7): the graph
    # STRUCTURE columns are exact BIGINTs the oracle recomputes
    # (out-degree over the distinct edge set, dangling flag/count,
    # node count), and the float ranks surface as two deterministic
    # invariants the oracle asserts TRUE — rank ≥ teleport base
    # (base + damping·nonneg can never round below base) and total
    # mass ≈ 1 (the redistribution loop's conservation property).
    # Exact rank VALUES stay pinned in tests/test_graph.py.  Top-20
    # row selection is by (out_degree, node) — exact, so the row set
    # is oracle-reproducible, unlike a float-rank cut.
    dist = edges.where(F.col("src").isNotNull()
                       & F.col("dst").isNotNull()).distinct()
    deg = dist.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("out_degree"))
    # node count + total mass as ONE broadcast 1-row aggregate (no
    # eager count() at build time — plan audits build lazily)
    totals = ranks.agg(F.count(F.lit(1)).alias("_n"),
                       F.sum("rank").alias("_mass"))
    pre = (ranks.join(deg, "node", "left")
           .select("node",
                   F.coalesce("out_degree", F.lit(0)).alias("out_degree"),
                   "rank"))
    # dangling count aggregated BEFORE the scalar cross-joins — dang's
    # subtree referencing the crossed frame would replicate the totals
    # BNLJ node (pre is referenced twice; keep its plan scalar-free)
    dang = pre.agg(F.sum(F.when(F.col("out_degree") == 0, 1)
                         .otherwise(0)).alias("_nd"))
    joined = pre.crossJoin(F.broadcast(totals))
    w = Window.orderBy(F.desc("out_degree"), F.asc("node"))
    return (joined.crossJoin(F.broadcast(dang))
            .select("node", "out_degree",
                    (F.col("out_degree") == 0).alias("is_dangling"),
                    F.col("_n").cast("long").alias("n_nodes"),
                    F.col("_nd").cast("long").alias("n_dangling"),
                    F.lit(4).cast("long").alias("n_iter"),
                    (F.col("rank") >= F.lit(0.15) / F.col("_n"))
                    .alias("rank_ge_teleport"),
                    (F.abs(F.col("_mass") - 1.0) < 1e-6).alias("mass_ok"))
            .withColumn("rnk", F.row_number().over(w))
            .where(F.col("rnk") <= 20))


def q_geo_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grid-bucketed proximity join (the 2-D binned range join):
    deterministic synthetic micro-degree coordinates derived from the
    keys, 3x3 cell-neighborhood equi-join, exact integer distance
    verify — the oracle runs the true quadratic join."""
    from dynamic_partitioner_spark.operators.geo import grid_distance_join
    cust = _table(spark, sf_dir, "customer").select(
        "c_custkey",
        (F.col("c_custkey") * 7919 % 1800000 - 900000).alias("lat_u"),
        (F.col("c_custkey") * 104729 % 3600000 - 1800000).alias("lon_u"))
    supp = _table(spark, sf_dir, "supplier").select(
        "s_suppkey",
        (F.col("s_suppkey") * 7919 % 1800000 - 900000).alias("lat_u"),
        (F.col("s_suppkey") * 104729 % 3600000 - 1800000).alias("lon_u"))
    return grid_distance_join(cust, supp, "c_custkey", "s_suppkey",
                              radius_u=50000)


def q_events_seq_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral anomaly scoring: every user's mean transition
    log-likelihood under the corpus's own add-one transition model —
    integer micro-nat sums make the score order-free and
    engine-exact."""
    from dynamic_partitioner_spark.operators.lm import sequence_lm_score
    events = _table(spark, sf_dir, "events")
    ev = events.select("user_id", "event_id", "event_type",
                       event_time_us(events).alias("ts_us"))
    return sequence_lm_score(ev, "user_id", ["ts_us", "event_id"],
                             "event_type")


def q_events_bursts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal burst detection per event type: hourly buckets whose
    count exceeds 2x the trailing-24-bucket mean — the window runs on
    the aggregated grid, never the event stream."""
    from dynamic_partitioner_spark.operators.relational import (
        burst_detection)
    events = _table(spark, sf_dir, "events")
    ev = events.select("event_type",
                       event_time_us(events).alias("ts_us"))
    return burst_detection(ev, "event_type", F.expr(_HOUR_FDIV),
                           min_count=2, factor=2.0, trailing=24,
                           fill_gaps=True)


def q_text_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 top-20 over the corpus for the fixed query-term bag —
    the standard lexical retrieval scorer; per-term partials quantize
    to integer micro-units before the per-doc sum so the score is
    order-free and engine-exact."""
    from dynamic_partitioner_spark.operators.vectorize import bm25_topk
    docs = _table(spark, sf_dir, "documents")
    return bm25_topk(docs, "doc_id", "text", _HYBRID_TERMS, top=20)


def q_text_bm25_retrieve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch BM25 retrieval — top-5 docs for EVERY query in a query
    set (the RAG / eval-harness shape; ``text_bm25`` scores one term
    bag).  Queries derive deterministically from the corpus: the first
    3 tokens of each doc with ``doc_id < 8``.  Corpus tokenizes ONCE
    into a posting relation; queries meet it on a term equi-join
    (inverted-index shape — corpus cost independent of query count,
    never query × doc).  Integer micro-unit partials keep the score
    order-free and engine-exact; ties break on doc_id per query."""
    from dynamic_partitioner_spark.operators.dedup import tokens
    from dynamic_partitioner_spark.operators.vectorize import (
        bm25_retrieve)
    docs = _table(spark, sf_dir, "documents")
    toks = F.filter(tokens(F.col("text")), lambda t: F.length(t) > 0)
    queries = (docs.where(F.col("doc_id") < 8)
               .select(F.col("doc_id").alias("query_id"),
                       F.array_join(F.slice(toks, 1, 3), " ")
                       .alias("qtext")))
    return bm25_retrieve(docs, "doc_id", "text", queries,
                         "query_id", "qtext", top=5)


def q_text_rake(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyphrase extraction (Rose et al. 2010) over the corpus:
    stopword- AND punctuation-delimited phrase candidates,
    degree/frequency word scores, top-20 phrases — the model-free
    topic tagger.  The single division quantizes as deg·1e6 DIV freq
    so phrase scores are exact integer sums; the oracle replays the
    identical phrase split (punctuation class, then longest-first
    \\b alternation — RE2 and Java regex agree) and arithmetic."""
    from dynamic_partitioner_spark.operators.vectorize import (
        rake_keywords)
    docs = _table(spark, sf_dir, "documents")
    # max_words=4: the synthetic corpus is delimiter-sparse word soup —
    # without Rose et al.'s candidate-length cap the "phrases" are
    # whole documents
    return rake_keywords(docs, "text", top=20, max_words=4)


def q_sample_bootstrap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson-bootstrap uncertainty over the event metric: 10
    deterministic resampled means with effective sizes — each row
    draws its own Poisson(1) weight, so no global with-replacement
    pass exists at any scale."""
    from dynamic_partitioner_spark.operators.sampling import (
        poisson_bootstrap)
    events = _table(spark, sf_dir, "events")
    return poisson_bootstrap(events.select("event_id", "value"),
                             "event_id", "value", n_replicates=10)


#: instrumentation contract shared by the Spark key and its oracle
_ALLOWED_TRANSITIONS = [
    ("signup", "view"), ("view", "click"), ("click", "purchase"),
    ("view", "view"), ("click", "view"), ("purchase", "view"),
    ("error", "view"), ("view", "error"),
]


def q_events_conformance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Process-conformance audit: per-user transitions NOT in the
    declared allowed set, with counts — one window shuffle + a
    broadcast anti-join on the tiny transition grid."""
    from dynamic_partitioner_spark.operators.relational import (
        sequence_conformance)
    events = _table(spark, sf_dir, "events")
    ev = events.select("user_id", "event_id", "event_type",
                       event_time_us(events).alias("ts_us"))
    return sequence_conformance(ev, "user_id", ["ts_us", "event_id"],
                                "event_type", _ALLOWED_TRANSITIONS)


def q_mm_dedup_binary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary duplicate-group pre-screen: size + edge-md5 structural
    fingerprint over payload bytes; groups >1 surface for the decode-
    dependent perceptual verify (stubbed codec plug-point)."""
    from dynamic_partitioner_spark.operators.multimodal import (
        binary_dup_groups)
    docs = _table(spark, sf_dir, "documents")
    # head-edge screen: the synthetic corpus has shared prefixes but
    # no byte-exact duplicates, so the strict fingerprint would return
    # an (evidence-free) empty relation
    return binary_dup_groups(to_binary_table(docs), strict=False)


def q_embedding_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid outlier screen (mislabeled-sample triage):
    exact micro-unit integer centroids (order-free, engine-exact), one
    broadcast join, codegen cosine, per-label bottom-5 cut."""
    from dynamic_partitioner_spark.operators.decompose import (
        label_centroid_outliers)
    emb = _table(spark, sf_dir, "embeddings")
    return label_centroid_outliers(emb, "vec_id", "embedding", "label",
                                   bottom_k=5)


#: hybrid-retrieval query: terms + the embedding of vec 0 as query vec
_HYBRID_TERMS = ["merge", "window", "spark"]


def q_similarity_hybrid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid lexical+vector retrieval fused with reciprocal-rank
    fusion (RRF, Cormack & Clarke 2009) — the first-stage RAG/search
    shape; both legs exact here, each swappable for its ANN twin at
    scale (RRF only ever sees ranks)."""
    from dynamic_partitioner_spark.operators.similarity import (
        hybrid_rrf_topk)
    docs = _table(spark, sf_dir, "documents")
    emb = _table(spark, sf_dir, "embeddings")
    qv = emb.where(F.col("vec_id") == 0)
    return hybrid_rrf_topk(docs, "doc_id", "text", emb, "vec_id",
                           "embedding", qv, _HYBRID_TERMS, k=20)


def q_sql_tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shipping-priority top-10 through raw SQL — the
    LIMIT selection is deterministic (revenue ties break on the order
    key), so TakeOrderedAndProject picks the same rows the oracle
    does."""
    return _run_sql(spark, sf_dir, _TPCH_Q3_SQL,
                    ["customer", "orders", "lineitem"])


def q_sql_tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 forecast-revenue filter-aggregate through raw SQL —
    every predicate reaches the parquet scan as a pushed filter."""
    return _run_sql(spark, sf_dir, _TPCH_Q6_SQL, ["lineitem"])


def q_sql_tpch_q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 order-priority checking (adapted: 'late' = shipped >30
    days after the order date; the testdata has no commit/receipt
    dates).  The EXISTS plans as a broadcast/shuffled left-semi join —
    never a per-row subquery."""
    return _run_sql(spark, sf_dir, _TPCH_Q4_SQL, ["orders", "lineitem"])


def q_sql_tpch_q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 volume shipping between two nations: 6-table join with
    the nation dimension aliased twice; Catalyst broadcast-plans both
    nation sides and pushes the ship-date window to the scan."""
    return _run_sql(spark, sf_dir, _TPCH_Q7_SQL,
                    ["supplier", "lineitem", "orders", "customer",
                     "nation"])


def q_sql_tpch_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 returned-item reporting: top-20 customers by revenue
    lost to returns in a quarter.  Revenue ties break on c_custkey so
    TakeOrderedAndProject picks the same 20 rows the oracle does."""
    return _run_sql(spark, sf_dir, _TPCH_Q10_SQL,
                    ["customer", "orders", "lineitem", "nation"])


def q_sql_tpch_q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 customer order-count distribution: LEFT OUTER join so
    zero-order customers land in the c_count=0 bucket, then a
    histogram over the per-customer counts (two hash aggregates)."""
    return _run_sql(spark, sf_dir, _TPCH_Q13_SQL,
                    ["customer", "orders"])


def q_sql_tpch_q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 promotion-revenue share for one ship month (adapted:
    exact integer-unit sums instead of the spec's float ratio —
    derivable and hash-stable)."""
    return _run_sql(spark, sf_dir, _TPCH_Q14_SQL, ["lineitem", "part"])


def q_sql_tpch_q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 top supplier: quarter revenue per supplier (exact
    integer units), then the max-revenue supplier(s) via a scalar
    subquery — equality on exact BIGINTs, so the winner set is
    identical in both engines."""
    return _run_sql(spark, sf_dir, _TPCH_Q15_SQL,
                    ["lineitem", "supplier"])


def q_sql_tpch_q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 small-quantity-order revenue for one brand, with the
    0.2·avg cut rewritten as an all-integer comparison (5·qty·n <
    Σqty in centi-units) — a 1-ulp division difference can never flip
    a row across the boundary."""
    return _run_sql(spark, sf_dir, _TPCH_Q17_SQL, ["lineitem", "part"])


def q_sql_tpch_q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 large-volume customers: orders whose total quantity
    exceeds the threshold via a grouped HAVING semi-join, then the
    customer/order detail re-aggregated on top."""
    return _run_sql(spark, sf_dir, _TPCH_Q18_SQL,
                    ["customer", "orders", "lineitem"])


def q_sql_tpch_q2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 minimum-cost supplier (adapted: lineitem as the
    part↔supplier link, min account balance as the cost — no partsupp
    in the testdata): correlated MIN scalar subquery re-joined to a
    5-table outer join, the optimizer's classic decorrelation test."""
    return _run_sql(spark, sf_dir, _TPCH_Q2_SQL,
                    ["part", "supplier", "lineitem", "nation", "region"])


def q_sql_tpch_q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 national market share: 8-table join with two nation
    roles; the share ratio surfaces as its two exact integer-unit sums
    (numerator / denominator per year) so both engines hash alike."""
    return _run_sql(spark, sf_dir, _TPCH_Q8_SQL,
                    ["part", "supplier", "lineitem", "orders",
                     "customer", "nation", "region"])


def q_sql_tpch_q9(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 product-type profit (supply cost proxied from
    p_retailprice — no partsupp): LIKE-filtered 5-table join, profit
    summed in pre-quantized integer units per nation × year."""
    return _run_sql(spark, sf_dir, _TPCH_Q9_SQL,
                    ["part", "supplier", "lineitem", "orders", "nation"])


def q_sql_tpch_q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 important stock: grouped value per part for one
    nation's suppliers, cut against a scalar-subquery fraction of the
    global total via exact integer cross-multiplication."""
    return _run_sql(spark, sf_dir, _TPCH_Q11_SQL,
                    ["lineitem", "supplier", "nation"])


def q_sql_tpch_q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shipping-class priority counts (ship-speed class
    derived from ship-vs-order-date lag — no l_shipmode): one
    orders×lineitem join, CASE-sum pivot on priority."""
    return _run_sql(spark, sf_dir, _TPCH_Q12_SQL, ["orders", "lineitem"])


def q_sql_tpch_q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 supplier counts per part descriptor: NOT IN anti-join
    against the excluded-supplier set, then COUNT(DISTINCT) over the
    brand/type/size grid."""
    return _run_sql(spark, sf_dir, _TPCH_Q16_SQL,
                    ["part", "lineitem", "supplier"])


def q_sql_tpch_q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 disjunctive-predicate revenue: three OR'd
    brand/size/quantity groups each carrying the join key — Catalyst
    must factor out p_partkey = l_partkey to avoid a cartesian."""
    return _run_sql(spark, sf_dir, _TPCH_Q19_SQL, ["lineitem", "part"])


def q_sql_tpch_q20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 excess-share suppliers (shipped share >25% of the
    part's windowed total, exact integer 4·qty > Σqty — no partsupp
    availqty): two-level grouped CTE + distinct semi-join effect."""
    return _run_sql(spark, sf_dir, _TPCH_Q20_SQL,
                    ["lineitem", "part", "supplier", "nation"])


def q_sql_tpch_q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 waiting-order suppliers: EXISTS + NOT EXISTS double
    self-join on lineitem (late = shipped >60 days after order,
    strictly last among the order's suppliers)."""
    return _run_sql(spark, sf_dir, _TPCH_Q21_SQL,
                    ["supplier", "lineitem", "orders", "nation"])


def q_sql_tpch_q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 global sales opportunity: above-average positive
    balances (exact integer cross-mult against the 1-row avg frame)
    anti-joined against recent orders, grouped by country code."""
    return _run_sql(spark, sf_dir, _TPCH_Q22_SQL, ["customer", "orders"])


# Recursive CTE (Spark 4 WITH RECURSIVE) — an org-style hierarchy walk:
# parent(k) = floor(k/2) makes supplier 1 the root of a binary tree
# over all suppliers; the walk accumulates depth and root, then
# aggregates per level.  floor(k/2.0) not k/2: `/` is FLOAT division
# on integers in BOTH engines, which silently restricts the walk to
# exact-halving (power-of-2) chains.  Each recursion level is one
# distributed self-join — depth is log2(max key), so the iteration
# count is ~40 even at 100 TB key spaces.
_RECURSIVE_SQL = """
    WITH RECURSIVE chain(s_suppkey, root, depth) AS (
        SELECT s_suppkey, s_suppkey, 0
        FROM supplier WHERE s_suppkey = 1
        UNION ALL
        SELECT s.s_suppkey, c.root, c.depth + 1
        FROM supplier s JOIN chain c
          ON s.s_suppkey > 1
         AND CAST(floor(s.s_suppkey / 2.0) AS BIGINT) = c.s_suppkey
    )
    SELECT depth, count(*) AS n_members,
           CAST(sum(s_suppkey) AS BIGINT) AS key_sum,
           CAST(min(s_suppkey) AS BIGINT) AS first_key,
           CAST(max(s_suppkey) AS BIGINT) AS last_key
    FROM chain GROUP BY depth ORDER BY depth
"""


def q_sql_recursive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE through the raw SQL interface (hierarchy /
    transitive-closure queries — WITH RECURSIVE is new in Spark 4):
    a binary-tree org walk over supplier keys, per-depth rollup; the
    oracle runs the identical text."""
    return _run_sql(spark, sf_dir, _RECURSIVE_SQL, ["supplier"])


def q_events_props_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured extraction: pull a typed field out of the JSON
    ``props`` column (``get_json_object`` — JVM-side, codegen'd; the
    whole point is that schema-on-read JSON needs no Python and no
    pre-parse pass) and aggregate it per event type in exact integers.
    At 100 TB the alternative — a from_json struct materialization —
    pays for every field; path extraction reads only the one asked
    for."""
    events = _table(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("long")
    return (events.select("event_type", k.alias("k"))
            .groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.count("k").alias("n_with_k"),
                 F.sum("k").alias("sum_k"),
                 F.min("k").alias("min_k"),
                 F.max("k").alias("max_k"),
                 F.sum(F.when(F.col("k") % 2 == 0, 1).otherwise(0))
                 .alias("n_even_k")))


def q_text_template_skeleton(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Template-family detection over the corpus: group documents by
    their format skeleton (letter runs→`a`, digit runs→`9`, collapsed
    whitespace — functions/text.py:format_skeleton) and report the 20
    largest families.  Boilerplate that exact- and MinHash-dedup both
    miss (same template, different entities) collapses here; the
    groupBy key is an 80-char string regardless of document size."""
    docs = _table(spark, sf_dir, "documents")
    # NULL-text guard: a NULL skeleton group at the rank-20 boundary
    # would sort NULLS FIRST in Spark, NULLS LAST in the oracle
    sk = (docs.where(F.col("text").isNotNull())
          .select(TX.format_skeleton(F.col("text")).alias("skeleton"),
                  "doc_id", "lang")
          .groupBy("skeleton")
          .agg(F.count(F.lit(1)).alias("n_docs"),
               F.countDistinct("lang").alias("n_langs"),
               F.min("doc_id").alias("exemplar_doc")))
    w = Window.orderBy(F.col("n_docs").desc(), F.col("skeleton"))
    return (sk.withColumn("rnk", F.row_number().over(w))
            .where(F.col("rnk") <= 20))


def q_corpus_budget_alloc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-mix recipe: apportion a 1M-token budget across
    (lang, source) groups proportional to corpus mass via exact
    largest-remainder integer arithmetic
    (operators/sampling.py:allocate_budget) — Σ alloc == budget
    exactly, no float shares."""
    from dynamic_partitioner_spark.operators.sampling import (
        allocate_budget)
    docs = _table(spark, sf_dir, "documents")
    return (allocate_budget(docs, ["lang", "source"], "n_chars",
                            budget=1_000_000)
            .orderBy("lang", "source"))


def q_events_rfm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM engagement segmentation: per-user recency / frequency /
    monetary quintiles (operators/relational.py:rfm_scores) over exact
    integer metrics; top-200 users by (r+f+m, user) so the driver
    payload stays bounded."""
    from dynamic_partitioner_spark.operators.relational import rfm_scores
    events = _table(spark, sf_dir, "events")
    ev = events.select(
        "user_id", event_time_us(events).alias("ts_us"),
        F.coalesce(F.floor(F.col("value") * 1_000_000 + F.lit(0.5))
                   .cast("long"), F.lit(0)).alias("value_u"))
    scored = rfm_scores(ev, "user_id", "ts_us", "value_u")
    w = Window.orderBy(
        (F.col("r_score") + F.col("f_score") + F.col("m_score")).desc(),
        F.col("user_id"))
    return (scored.withColumn("rnk", F.row_number().over(w))
            .where(F.col("rnk") <= 200))


def q_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle census of the co-purchase graph (parts linked when
    they share ≥2 orders — the support filter that drops noise edges
    AND keeps the graph sparse as the corpus grows): degree-ordered
    oriented join — the skew-safe exact algorithm
    (operators/graph.py:triangle_stats) — plus the global clustering
    coefficient; single-row output."""
    from dynamic_partitioner_spark.operators.graph import triangle_stats
    li = _table(spark, sf_dir, "lineitem").select("l_orderkey",
                                                  "l_partkey")
    l2 = li.select(F.col("l_orderkey"),
                   F.col("l_partkey").alias("p2"))
    pairs = (li.join(l2, "l_orderkey")
             .where(F.col("l_partkey") < F.col("p2"))
             .groupBy(F.col("l_partkey").alias("p1"), "p2")
             .agg(F.count(F.lit(1)).alias("_support"))
             .where(F.col("_support") >= 2)
             .select("p1", "p2"))
    return triangle_stats(pairs, "p1", "p2")


def q_graph_neighbor_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier similarity by shared customer base: shared-neighbor
    Jaccard over the customer–supplier bipartite graph
    (operators/graph.py:neighbor_jaccard — inverted-index self-join on
    the customer, degrees joined back, hub customers over 50 distinct
    suppliers dropped by the broadcast anti-join guard, which the
    oracle mirrors exactly).  Top-50 by (jaccard, id_a, id_b)."""
    from dynamic_partitioner_spark.operators.graph import neighbor_jaccard
    orders = _table(spark, sf_dir, "orders").select("o_orderkey",
                                                    "o_custkey")
    li = _table(spark, sf_dir, "lineitem").select("l_orderkey",
                                                  "l_suppkey")
    edges = orders.join(li, orders.o_orderkey == li.l_orderkey).select(
        F.col("l_suppkey").alias("supp"), F.col("o_custkey").alias("cust"))
    return neighbor_jaccard(edges, "supp", "cust", min_shared=2, top=50,
                            max_degree=50)


#: target corpus mixture for the importance-weight key (per-mille,
#: sums to 1000); 'ja' is deliberately absent from the corpus to
#: exercise the unfillable-mass NULL-weight path
_IMPORTANCE_TARGETS = {"en": 400, "de": 150, "es": 150, "fr": 150,
                       "zh": 100, "ja": 50}


def q_sample_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Importance-reweighting factors that reshape the corpus lang
    mix into a target recipe (operators/sampling.py:
    importance_weights) — exact integer per-mille targets, one
    division per stratum; the 'ja' target has no corpus mass and
    surfaces as NULL weight rather than silent renormalization."""
    from dynamic_partitioner_spark.operators.sampling import (
        importance_weights)
    docs = _table(spark, sf_dir, "documents")
    return importance_weights(docs, "lang", _IMPORTANCE_TARGETS)


def q_text_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID quality audit: confusion matrix of the declared
    ``lang`` column vs the n-gram heuristic prediction
    (functions/text.py:lang_id), with each cell's share of its
    declared-language row total — the drift detector a multilingual
    corpus runs per ingest batch."""
    docs = _table(spark, sf_dir, "documents")
    cell = (docs.select("lang",
                        TX.lang_id(F.col("text")).alias("predicted"))
            .groupBy("lang", "predicted")
            .agg(F.count(F.lit(1)).alias("n_docs")))
    w = Window.partitionBy("lang")
    return cell.select(
        "lang", "predicted", "n_docs",
        round4(F.col("n_docs") / F.sum("n_docs").over(w))
        .alias("share_of_lang"))


def q_privacy_dp_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Noisy per-type value sums (Laplace release shape, contributions
    clipped to [0, 50] so the sum's sensitivity is bounded —
    operators/privacy.py:dp_noisy_sums); seeded noise keeps the
    release reproducible and oracle-checkable."""
    from dynamic_partitioner_spark.operators.privacy import dp_noisy_sums
    events = _table(spark, sf_dir, "events")
    return dp_noisy_sums(events, ["event_type"], "value",
                         clip=50.0, epsilon=1.0)


# rank-function suite through the raw SQL interface: rank /
# dense_rank / percent_rank / cume_dist / ntile over one window, with
# the two float functions floor-quantized (both engines compute them
# as exact small-integer ratios, so round4 of identical doubles is
# bit-identical); the key tie-break makes every ordering total
#: window FRAME semantics in one pass: ROWS (physical offsets), an
#: integer-keyed RANGE (value-based bounds), a forward-looking ROWS
#: tail, and a symmetric RANGE band — identical text in both engines;
#: event_id is unique, so every frame is totally ordered and the ROWS
#: frames are deterministic.  Values in exact integer cents.
_WINDOW_FRAMES_SQL = """
    WITH e AS (SELECT event_type, event_id,
                      CAST(floor(value * 100 + 0.5) AS BIGINT) AS v
               FROM events
               WHERE event_id < 4000)
    SELECT event_type, event_id,
           CAST(sum(v) OVER (PARTITION BY event_type ORDER BY event_id
                        ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
               AS BIGINT) AS roll3,
           CAST(sum(v) OVER (PARTITION BY event_type ORDER BY event_id
                        RANGE BETWEEN 1000 PRECEDING AND CURRENT ROW)
               AS BIGINT) AS range_sum,
           CAST(sum(v) OVER (PARTITION BY event_type ORDER BY event_id
                        ROWS BETWEEN CURRENT ROW
                                 AND UNBOUNDED FOLLOWING)
               AS BIGINT) AS tail_sum,
           max(v) OVER (PARTITION BY event_type ORDER BY event_id
                        RANGE BETWEEN 500 PRECEDING AND 500 FOLLOWING)
               AS range_max
    FROM e
"""


def q_sql_window_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window FRAME clause parity through the raw SQL interface:
    ROWS/RANGE, backward/forward/symmetric bounds — one sort, four
    frames, identical SQL text in the oracle."""
    return _run_sql(spark, sf_dir, _WINDOW_FRAMES_SQL, ["events"])


_RANK_SUITE_SQL = """
    SELECT o_orderpriority, o_orderkey,
           rank() OVER w AS rnk,
           dense_rank() OVER w AS drnk,
           floor(percent_rank() OVER w * 10000 + 0.5) / 10000 AS prnk,
           floor(cume_dist() OVER w * 10000 + 0.5) / 10000 AS cdist,
           ntile(10) OVER w AS decile
    FROM orders
    WHERE o_orderkey % 37 = 0
    WINDOW w AS (PARTITION BY o_orderpriority
                 ORDER BY o_totalprice, o_orderkey)
"""


def q_sql_rank_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The five SQL rank functions in one window through the raw SQL
    interface — identical text in the oracle; Catalyst plans a single
    sort + window pass for all five."""
    return _run_sql(spark, sf_dir, _RANK_SUITE_SQL, ["orders"])


def q_events_audience_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience-overlap matrix: for every event-type pair, the exact
    user-set intersection and Jaccard — the cross-sell / cohort-
    overlap primitive.  Distinct (user, type) relation self-joined on
    user with t1 < t2 (each user contributes C(k,2) bounded pairs —
    k ≤ #types, tiny), then one hash aggregate; per-type totals
    broadcast back.  Jaccard = |∩| / (|A|+|B|−|∩|) — one division of
    exact BIGINTs, round4."""
    events = _table(spark, sf_dir, "events")
    ut = events.select("user_id", "event_type").distinct()
    a = ut.select("user_id", F.col("event_type").alias("t1"))
    b = ut.select("user_id", F.col("event_type").alias("t2"))
    both = (a.join(b, "user_id")
            .where(F.col("t1") < F.col("t2"))
            .groupBy("t1", "t2")
            .agg(F.count(F.lit(1)).alias("n_both")))
    totals = ut.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_users"))
    ta = totals.select(F.col("event_type").alias("t1"),
                       F.col("n_users").alias("n_a"))
    tb = totals.select(F.col("event_type").alias("t2"),
                       F.col("n_users").alias("n_b"))
    return (both.join(F.broadcast(ta), "t1")
            .join(F.broadcast(tb), "t2")
            .select("t1", "t2", "n_a", "n_b", "n_both",
                    round4(F.col("n_both")
                           / (F.col("n_a") + F.col("n_b")
                              - F.col("n_both"))).alias("jaccard")))


def q_query_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ROC-AUC of `value` as a purchase-vs-rest classifier score
    (operators/relational.py:auc_exact — Mann-Whitney midrank
    identity, all-integer until the one final division).  AUC ≈ 0.5
    on this synthetic data; the point is the exact rank machinery."""
    from dynamic_partitioner_spark.operators.relational import auc_exact
    events = _table(spark, sf_dir, "events")
    return auc_exact(events.select(
        "value", (F.col("event_type") == "purchase").alias("is_pos")),
        "value", "is_pos")


def q_events_seasonal_naive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive forecast baseline (daily buckets, weekly
    season) with exact per-type MAE/bias
    (operators/relational.py:seasonal_naive_eval) — the floor every
    anomaly detector is judged against."""
    from dynamic_partitioner_spark.operators.relational import (
        seasonal_naive_eval)
    events = _table(spark, sf_dir, "events")
    ev = events.select("event_type",
                       event_time_us(events).alias("ts_us"), "value")
    return seasonal_naive_eval(ev, "event_type", "ts_us", "value",
                               season_buckets=7,
                               bucket_us=86_400_000_000)


def q_text_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease per document (functions/text.py:
    flesch_score — three IEEE ops over exact regexp run counts), plus
    per-lang mean over quantized scores — the classic cheap
    readability gate in corpus quality stacks."""
    docs = _table(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id", "lang",
        round4(TX.flesch_score(F.col("text"))).alias("flesch"))
    per_lang = (scored.where(F.col("flesch").isNotNull())
                .groupBy("lang")
                .agg(F.count(F.lit(1)).alias("n_docs"),
                     F.sum(F.floor(F.col("flesch") * 10000
                                   + F.lit(0.5)).cast("long"))
                     .alias("_s"))
                .select("lang", "n_docs",
                        round4(F.col("_s") / (F.col("n_docs")
                                              * F.lit(10000.0)))
                        .alias("mean_flesch")))
    return per_lang


def q_events_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM-style level-shift changepoint per event type
    (operators/relational.py:cusum_changepoint): the position
    maximizing the exact centered prefix deviation |n·P − i·T| — the
    monitoring primitive behind 'when did this metric shift'."""
    from dynamic_partitioner_spark.operators.relational import (
        cusum_changepoint)
    events = _table(spark, sf_dir, "events")
    ev = events.select("event_type", "event_id",
                       event_time_us(events).alias("ts_us"), "value")
    return cusum_changepoint(ev, "event_type", ["ts_us", "event_id"],
                             "value")


def q_privacy_randomized_response(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """Warner randomized response over the 'high-value event' bit
    (value > 30), debiased per event type
    (operators/privacy.py:randomized_response) — per-row seeded coin,
    estimate lands near the true prevalence (pinned in pytest)."""
    from dynamic_partitioner_spark.operators.privacy import (
        randomized_response)
    events = _table(spark, sf_dir, "events")
    ev = events.select("event_type",
                       (F.col("value") > 30).alias("hi"),
                       F.col("event_id").cast("string")
                       .alias("_rr_key"))
    return randomized_response(ev, ["event_type"], "hi")


def q_events_did(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences estimator — the causal-readout
    companion to events_ab_test: value means per (treatment-hash
    group × pre/post median-DAY period), DiD = (T_post − T_pre) −
    (C_post − C_pre).  Every mean is an exact micro-unit sum — summed
    in DECIMAL(38,0) ↔ DuckDB HUGEINT, since a cell's BIGINT sum
    would cross 9.2e18 at ~9e10 rows (the repo's standard wide-sum
    guard) — over an exact count, the period cutoff is the
    interpolated median event DAY (the query_percentiles parity; day
    granularity keeps the exact percentile's distinct-value state
    bounded by the corpus's calendar span, where a microsecond median
    would hoard every near-unique timestamp on one reducer at scale —
    code-review r8) broadcast as one scalar row, and the estimate is
    a fixed IEEE subtraction sequence over identical doubles —
    bit-identical cross-engine after round4.  On a hash
    split of homogeneous synthetic traffic DiD SHOULD be ≈ 0 (the
    placebo reading); empty cells guard to NULL rather than an ANSI
    divide-by-zero.  Single wide output row; one corpus agg + one
    scalar broadcast."""
    from dynamic_partitioner_spark.operators.sampling import hash_unit
    events = _table(spark, sf_dir, "events")
    ev = (events.where(F.col("value").isNotNull())
          .select("user_id", event_time_us(events).alias("ts_us"),
                  F.floor(F.col("value") * 1_000_000 + F.lit(0.5))
                  .cast("long").alias("vm"))
          .select("user_id", "vm",
                  F.expr("ts_us div 86400000000").alias("day")))
    cut = ev.agg(F.expr("percentile(day, 0.5)").alias("_cut"))
    g = ev.crossJoin(F.broadcast(cut)).select(
        F.when(hash_unit(F.col("user_id"), "did") < 0.5, "T")
        .otherwise("C").alias("grp"),
        F.when(F.col("day") > F.col("_cut"), "post")
        .otherwise("pre").alias("period"),
        "vm")

    def _n(gv, pv):
        return F.sum(F.when((F.col("grp") == gv)
                            & (F.col("period") == pv), 1).otherwise(0))

    def _s(gv, pv):
        return F.sum(F.when((F.col("grp") == gv)
                            & (F.col("period") == pv),
                            F.col("vm")).otherwise(F.lit(0))
                     .cast("decimal(38,0)"))

    wide = g.agg(
        _n("T", "pre").alias("n_t_pre"), _s("T", "pre").alias("_s_tp"),
        _n("T", "post").alias("n_t_post"), _s("T", "post").alias("_s_tq"),
        _n("C", "pre").alias("n_c_pre"), _s("C", "pre").alias("_s_cp"),
        _n("C", "post").alias("n_c_post"), _s("C", "post").alias("_s_cq"))

    def _m(s, n):
        return F.when(F.col(n) > 0,
                      F.col(s).cast("double")
                      / (F.col(n) * F.lit(1_000_000.0)))

    mtp, mtq = _m("_s_tp", "n_t_pre"), _m("_s_tq", "n_t_post")
    mcp, mcq = _m("_s_cp", "n_c_pre"), _m("_s_cq", "n_c_post")
    return wide.select(
        "n_t_pre", "n_t_post", "n_c_pre", "n_c_post",
        round4(mtp).alias("mean_t_pre"), round4(mtq).alias("mean_t_post"),
        round4(mcp).alias("mean_c_pre"), round4(mcq).alias("mean_c_post"),
        round4((mtq - mtp) - (mcq - mcp)).alias("did"))


#: the ONE high-value-conversion definition shared by the A/B z-test
#: and the power calculator (Spark + SQL sides) — value > 95 is chosen
#: so conversion is non-degenerate at EVERY test SF; retune it HERE so
#: the two experimentation keys can never silently diverge
_CONVERTED_PU_SQL = """
    SELECT user_id,
           max(CASE WHEN event_type = 'purchase'
                     AND value > 95
                    THEN 1 ELSE 0 END) AS converted
    FROM events GROUP BY user_id
"""


def _converted_per_user(events: DataFrame) -> DataFrame:
    """(user_id, converted 0/1) — the Spark twin of
    ``_CONVERTED_PU_SQL``."""
    return (events.groupBy("user_id")
            .agg(F.max(F.when((F.col("event_type") == "purchase")
                              & (F.col("value") > 95), 1)
                       .otherwise(0)).alias("converted")))


def q_events_cuped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance reduction (Deng et al. 2013, *Improving the
    Sensitivity of Online Controlled Experiments by Utilizing
    Pre-Experiment Data*) — the experimentation suite's variance
    lever: per-user pre-period value mass as the covariate x,
    post-period mass as the metric y (median-DAY split, the
    events_did machinery), θ = cov(x,y)/var(x) from EXACT integer
    moments, and the achieved variance-reduction ratio
    ``var(y − θx)/var(y) = 1 − ρ²``.

    Exactness: x/y are DECI-unit BIGINTs — coarse enough that every
    moment sum (Σx, Σy, Σxy, Σx², Σy²) stays below 2^53 through sf10,
    so the BIGINT→DOUBLE conversions are exact and θ/ρ² are one fixed
    IEEE sequence over identical doubles (a finer unit would push Σxy
    past 2^53 where DuckDB's HUGEINT→DOUBLE rounding is not
    guaranteed correctly-rounded — the quantization coarseness IS the
    overflow-free-exactness trade, chosen deliberately).  Users with
    activity in only one period participate with 0 in the other (the
    standard CUPED population).  Degenerate var(x) = 0 or
    var(y) = 0 yields NULL θ / ratio.  Output: one row of exact
    moments + round4 statistics."""
    events = _table(spark, sf_dir, "events")
    ev = (events.where(F.col("value").isNotNull())
          .select("user_id", event_time_us(events).alias("ts_us"),
                  F.floor(F.col("value") * 10 + F.lit(0.5))
                  .cast("long").alias("vd"))
          .select("user_id", "vd",
                  F.expr("ts_us div 86400000000").alias("day")))
    cut = ev.agg(F.expr("percentile(day, 0.5)").alias("_cut"))
    pu = (ev.crossJoin(F.broadcast(cut))
          .groupBy("user_id")
          .agg(F.sum(F.when(F.col("day") <= F.col("_cut"),
                            F.col("vd")).otherwise(F.lit(0)))
               .alias("x"),
               F.sum(F.when(F.col("day") > F.col("_cut"),
                            F.col("vd")).otherwise(F.lit(0)))
               .alias("y")))
    m = pu.agg(F.count(F.lit(1)).alias("n_users"),
               F.sum("x").alias("sx"), F.sum("y").alias("sy"),
               F.sum(F.col("x") * F.col("y")).alias("sxy"),
               F.sum(F.col("x") * F.col("x")).alias("sxx"),
               F.sum(F.col("y") * F.col("y")).alias("syy"))
    n = F.col("n_users").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxy = F.col("sxy").cast("double")
    sxx, syy = F.col("sxx").cast("double"), F.col("syy").cast("double")
    cov_n = n * sxy - sx * sy          # n²·cov — shared scale cancels
    varx_n = n * sxx - sx * sx
    vary_n = n * syy - sy * sy
    theta = F.when(varx_n > 0, cov_n / varx_n)
    ratio = F.when((varx_n > 0) & (vary_n > 0),
                   1 - (cov_n * cov_n) / (varx_n * vary_n))
    return m.select("n_users", "sx", "sy", "sxy", "sxx", "syy",
                    round4(theta).alias("theta"),
                    round4(ratio).alias("var_ratio"))


def q_events_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B sample-size (power) calculator over the OBSERVED baseline —
    the planning companion to events_ab_test: from the corpus's exact
    per-user conversion counts (the same value > 95 definition), the
    required users per arm to detect an absolute +2pp lift at
    α = 0.05 two-sided / 80% power:
    ``n = ceil((z_α/2 + z_β)² · (p1(1−p1) + p2(1−p2)) / (p2−p1)²)``.
    The z quantiles are shared double LITERALS (no erf/quantile
    machinery to diverge), p1 is an exact-count ratio, and the whole
    formula is one fixed IEEE sequence — bit-identical cross-engine.
    Output: one row (n_users, n_converted, p1/p2 round4, n_per_arm,
    feasible = corpus already holds 2n users).  Degenerate baselines
    (p1 = 0 or p2 ≥ 1) yield NULL n rather than a misleading plan."""
    events = _table(spark, sf_dir, "events")
    g = _converted_per_user(events).agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("converted").alias("n_converted"))
    z = F.lit(1.959963984540054) + F.lit(0.8416212335729143)
    p1 = F.col("n_converted").cast("double") / F.col("n_users")
    p2 = p1 + F.lit(0.02)
    n = F.when((F.col("n_converted") > 0) & (p2 < 1),
               F.ceil(z * z * (p1 * (1 - p1) + p2 * (1 - p2))
                      / ((p2 - p1) * (p2 - p1))).cast("long"))
    return g.select(
        "n_users", "n_converted",
        round4(p1).alias("p1"), round4(p2).alias("p2"),
        n.alias("n_per_arm"),
        F.coalesce(F.lit(2) * n <= F.col("n_users"), F.lit(False))
        .alias("feasible"))


def q_query_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Gini coefficient of account balance per market segment —
    the inequality/concentration readout (how skewed is the value
    mass), via the rank-weighted closed form
    ``G = (2·Σ i·x_(i) − (n+1)·Σx) / (n·Σx)`` over whole-DOLLAR
    quantized balances.  The coarse unit is deliberate (the
    events_cuped rule): the rank-product sum grows QUADRATICALLY in
    group size, and past 2^53 the two engines' wide-int→DOUBLE casts
    are not guaranteed identically rounded — dollars keep Σi·x exact
    through ~sf30, and since no fixed unit survives the quadratic
    forever, the binned (Lorenz-histogram) approximation is the
    documented path beyond that, not a silent cast residue.  Rank
    ties on equal values are irrelevant to the sum (equal x under
    either rank) but are broken on c_custkey anyway so the per-row
    relation is deterministic; products still accumulate in
    DECIMAL(38,0) ↔ HUGEINT so the INTEGER sum itself can never
    overflow.  Negative balances are filtered (Gini is defined over
    non-negative mass), mirrored by the oracle.  One shuffle: the
    per-segment rank window (no output sort — the driver compares
    order-insensitively)."""
    cust = _table(spark, sf_dir, "customer")
    base = (cust.where(F.col("c_acctbal") >= 0)
            .select("c_mktsegment", "c_custkey",
                    F.floor(F.col("c_acctbal") + F.lit(0.5))
                    .cast("long").alias("xm")))
    w = Window.partitionBy("c_mktsegment").orderBy("xm", "c_custkey")
    ranked = base.withColumn("i", F.row_number().over(w))
    g = (ranked.groupBy("c_mktsegment")
         .agg(F.count(F.lit(1)).alias("n_customers"),
              F.sum("xm").alias("total_dollars"),
              F.sum(F.expr("CAST(i AS DECIMAL(38,0)) * xm"))
              .alias("_iwx")))
    num = (F.lit(2) * F.col("_iwx").cast("double")
           - (F.col("n_customers") + 1).cast("double")
           * F.col("total_dollars"))
    gini = F.when(F.col("total_dollars") > 0,
                  round4(num / (F.col("n_customers").cast("double")
                                * F.col("total_dollars"))))
    return g.select("c_mktsegment", "n_customers", "total_dollars",
                    gini.alias("gini"))


def q_events_drift_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift screen (the ML-feature monitoring readout):
    chi-square contingency statistic of value-quartile bin × pre/post
    median-day period.  Bin cuts are interpolated percentiles (the
    query_percentiles parity) and the cutoff is the median DAY (the
    events_did lesson — bounded percentile state), both broadcast as
    ONE scalar row.  The full 4×2 grid is materialized literally and
    left-joined so zero cells exist (a groupBy alone would drop them
    and corrupt the marginals); expected counts use
    double(row_tot)·col_tot/grand — overflow-free where a BIGINT
    product would cross 9.2e18 at ~1e10 rows.  Each cell's (o−e)²/e
    term quantizes to micro-units BEFORE the global sum (floats sum
    in nondeterministic order under parallel aggregation; BIGINTs
    don't — the lm_score trick), so chi2 is bit-stable and
    oracle-hash-checkable.  On a time-homogeneous synthetic corpus
    chi2 SHOULD be small (df = 3·1 = 3).  Windows run over the
    bounded 8-row grid — warning accepted by design."""
    events = _table(spark, sf_dir, "events")
    ev = (events.where(F.col("value").isNotNull())
          .select(event_time_us(events).alias("ts_us"), "value")
          .select("value", F.expr("ts_us div 86400000000").alias("day")))
    cuts = ev.agg(F.expr("percentile(value, 0.25)").alias("_q1"),
                  F.expr("percentile(value, 0.5)").alias("_q2"),
                  F.expr("percentile(value, 0.75)").alias("_q3"),
                  F.expr("percentile(day, 0.5)").alias("_cut"))
    v = F.col("value")
    obs = (ev.crossJoin(F.broadcast(cuts))
           .select(F.when(v <= F.col("_q1"), 0)
                   .when(v <= F.col("_q2"), 1)
                   .when(v <= F.col("_q3"), 2)
                   .otherwise(3).alias("bin"),
                   F.when(F.col("day") > F.col("_cut"), "post")
                   .otherwise("pre").alias("period"))
           .groupBy("bin", "period")
           .agg(F.count(F.lit(1)).alias("n")))
    grid = spark.createDataFrame(
        [(b, p) for b in range(4) for p in ("pre", "post")],
        "bin int, period string")
    full = (grid.join(obs, ["bin", "period"], "left")
            .select("bin", "period",
                    F.coalesce("n", F.lit(0)).cast("long").alias("n")))
    wb = Window.partitionBy("bin")
    wp = Window.partitionBy("period")
    wa = Window.partitionBy()
    e = (F.sum("n").over(wb).cast("double") * F.sum("n").over(wp)
         / F.sum("n").over(wa))
    term = F.when(e > 0, (F.col("n") - e) * (F.col("n") - e) / e) \
        .otherwise(F.lit(0.0))
    cell = full.select("bin", "period", "n",
                       round4(e).alias("expected"),
                       F.floor(term * 1_000_000).cast("long")
                       .alias("_tm"))
    chi2 = round4(F.sum("_tm").over(wa) / F.lit(1_000_000.0))
    return (cell.select("bin", "period", "n", "expected",
                        chi2.alias("chi2"),
                        F.lit(3).cast("long").alias("dof"))
            .orderBy("bin", "period"))


def q_events_ab_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test on high-value-conversion (value > 95 —
    chosen so conversion is non-degenerate at EVERY test SF; a lower
    cut saturates to 100% and the z-path never runs) rate between
    hash-split variants — the experimentation readout: per-variant
    exact user/converter counts, the pooled z statistic, and the
    |z| > 1.96 verdict.  Variant assignment is the md5 unit draw on
    user_id (the same machinery as train/test hygiene); every input
    to the statistic is an exact BIGINT count, and z is a handful of
    IEEE ops (divisions, one correctly-rounded sqrt) on identical
    doubles — bit-identical cross-engine after round4.  se = 0
    (conversion universal or absent) yields NULL z / not-significant
    rather than an ANSI divide-by-zero.  On a hash split of
    homogeneous synthetic traffic the verdict SHOULD be
    not-significant — the A/A-test reading; significance here would
    flag a broken splitter."""
    from dynamic_partitioner_spark.operators.sampling import hash_unit
    events = _table(spark, sf_dir, "events")
    per_user = _converted_per_user(events)
    variant = F.when(hash_unit(F.col("user_id"), "ab") < 0.5, "A") \
        .otherwise("B")
    g = (per_user.select(variant.alias("variant"), "converted")
         .groupBy("variant")
         .agg(F.count(F.lit(1)).alias("n_users"),
              F.sum("converted").alias("n_converted")))
    w = Window.rowsBetween(Window.unboundedPreceding,
                           Window.unboundedFollowing)
    tot_n = F.sum("n_users").over(w)
    tot_c = F.sum("n_converted").over(w)
    other_n = tot_n - F.col("n_users")
    other_c = tot_c - F.col("n_converted")
    p_pool = tot_c / tot_n
    # other_n = 0 (every user hashed to one variant — possible only on
    # a degenerate corpus) must yield NULL se, not an ANSI
    # DIVIDE_BY_ZERO: DuckDB's /0 is NULL, Spark 4's default ANSI mode
    # raises, so the guard is what keeps both engines on the NULL path.
    se = F.when(other_n > 0,
                F.sqrt(p_pool * (1 - p_pool)
                       * (1 / F.col("n_users") + 1 / other_n)))
    z = F.when(se > 0,
               (F.col("n_converted") / F.col("n_users")
                - other_c / other_n) / se)
    return g.select(
        "variant", "n_users", "n_converted",
        round4(F.col("n_converted") / F.col("n_users")).alias("rate"),
        round4(z).alias("z_score"),
        F.coalesce(F.abs(z) > 1.96, F.lit(False))
        .alias("significant_95"))


#: SQL table-function surface: LATERAL VIEW posexplode in Spark; the
#: oracle expands the same relation with DuckDB's lateral unnest over
#: an index range (0-based positions match posexplode)
_LATERAL_SQL_SPARK = """
    SELECT n_name, pos, word
    FROM nation
    LATERAL VIEW posexplode(split(n_name, '_')) t AS pos, word
    WHERE n_nationkey < 10
"""


def q_sql_lateral(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table-valued-function SQL surface: LATERAL VIEW posexplode
    over a split column — the row-expanding join every nested-data
    query needs; the oracle runs DuckDB's lateral unnest form of the
    same relation."""
    return _run_sql(spark, sf_dir, _LATERAL_SQL_SPARK, ["nation"])


def q_events_funnel_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion-window funnel (operators/relational.py:
    funnel_windowed): view → click → purchase where each step must
    land within 24 h of the previous step's first completion — the
    time-constrained variant the plain funnel key cannot express."""
    from dynamic_partitioner_spark.operators.relational import (
        funnel_windowed)
    events = _table(spark, sf_dir, "events")
    ev = events.select("user_id", "event_type",
                       event_time_us(events).alias("ts_us"))
    return funnel_windowed(ev, "user_id", "ts_us", "event_type",
                           ["view", "click", "purchase"],
                           max_gap=86_400_000_000)


def q_privacy_k_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anonymity-set histogram: distribution of quasi-identifier
    equivalence-class sizes (the release-audit table behind any k
    choice — how many rows live in classes smaller than the k you are
    about to pick).  One hash aggregate to class sizes, one to the
    histogram; cumulative rows at-or-below each size via a window
    suffix over the tiny histogram frame."""
    cust = _table(spark, sf_dir, "customer")
    classes = (cust.select(
        F.col("c_nationkey").alias("nation"),
        F.col("c_mktsegment").alias("segment"),
        F.floor(F.col("c_acctbal") / 1000).cast("long").alias("bal_band"))
        .groupBy("nation", "segment", "bal_band")
        .agg(F.count(F.lit(1)).alias("class_size")))
    hist = (classes.groupBy("class_size")
            .agg(F.count(F.lit(1)).alias("n_classes")))
    w = (Window.orderBy("class_size")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    w_all = Window.rowsBetween(Window.unboundedPreceding,
                               Window.unboundedFollowing)
    rows_here = F.col("class_size") * F.col("n_classes")
    return hist.select(
        "class_size", "n_classes",
        rows_here.alias("n_rows"),
        F.sum(rows_here).over(w).alias("cum_rows_at_or_below"),
        round4(F.sum(rows_here).over(w)
               / F.sum(rows_here).over(w_all)).alias("cum_share"))


def q_corpus_dup_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-call duplication report across three exactness levels —
    byte-exact text, whitespace/case-normalized fingerprint, and
    format-skeleton template families: per level, how many groups
    collide and how much of the corpus sits in collisions.  The
    triage table read before choosing which dedup pass to spend
    compute on.  SINGLE corpus scan: each doc emits its three
    (level, key) pairs in one projection, one hash aggregate per
    (level, key), one per level; the corpus total rides a 1-row
    broadcast (no driver-side count job — building the DataFrame
    must stay lazy for plan audits).  An empty/all-NULL corpus
    yields zero rows, matching the oracle."""
    docs = (_table(spark, sf_dir, "documents")
            .where(F.col("text").isNotNull()))
    lv = docs.select(F.explode(F.array(
        F.struct(F.lit("exact").alias("dup_class"),
                 F.md5(F.col("text")).alias("k")),
        F.struct(F.lit("fingerprint").alias("dup_class"),
                 TX.doc_fingerprint(F.col("text")).alias("k")),
        F.struct(F.lit("template").alias("dup_class"),
                 TX.format_skeleton(F.col("text")).alias("k")),
    )).alias("s")).select("s.dup_class", "s.k")
    g = (lv.groupBy("dup_class", "k")
         .agg(F.count(F.lit(1)).alias("n")))
    agg = (g.groupBy("dup_class")
           .agg(F.sum(F.when(F.col("n") >= 2, 1).otherwise(0))
                .alias("n_groups"),
                F.sum(F.when(F.col("n") >= 2, F.col("n")).otherwise(0))
                .alias("n_docs")))
    tot = docs.agg(F.count(F.lit(1)).alias("n_total"))
    return (agg.join(F.broadcast(tot))
            .select("dup_class", "n_groups", "n_docs",
                    round4(F.col("n_docs")
                           / F.col("n_total").cast("double"))
                    .alias("pct_of_corpus")))


def q_events_cohort_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort LTV curve (operators/relational.py:cohort_value): per
    (first-activity-day cohort, day offset) the active users, exact
    micro-unit value, cumulative cohort value, and value per active
    user — the revenue companion to the retention triangle."""
    from dynamic_partitioner_spark.operators.relational import cohort_value
    events = _table(spark, sf_dir, "events")
    ev = events.select(
        "user_id", event_time_us(events).alias("ts_us"),
        F.coalesce(F.floor(F.col("value") * 1_000_000 + F.lit(0.5))
                   .cast("long"), F.lit(0)).alias("v_u"))
    return cohort_value(ev, "user_id",
                        F.expr(f"ts_us div {86_400_000_000}"),
                        F.col("v_u"))


def q_sample_neyman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dispersion-proportional stratified sampling
    (operators/sampling.py:neyman_allocation — Neyman 1934 allocation
    with the IQR as the engine-exact dispersion measure, Hamilton
    integer apportionment, md5 per-stratum draw): 500 event rows
    apportioned across event types by N_h·IQR_h, with an exact id-sum
    membership checksum the oracle recomputes."""
    from dynamic_partitioner_spark.operators.sampling import (
        neyman_allocation)
    events = _table(spark, sf_dir, "events")
    return neyman_allocation(events, "event_type", "event_id", "value",
                             budget=500)


def q_sample_kfold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic k-fold assignment for cross-validation
    (operators/sampling.py:kfold_assign — md5 mod k, per-key stable
    under corpus growth), summarized per fold: doc count, distinct
    langs, char mass."""
    from dynamic_partitioner_spark.operators.sampling import kfold_assign
    docs = _table(spark, sf_dir, "documents")
    return (kfold_assign(docs, "doc_id", k=5)
            .groupBy("fold")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.countDistinct("lang").alias("n_langs"),
                 F.sum("n_chars").alias("total_chars")))


def q_source_csv_corrupt_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERMISSIVE-mode ingest audit: a deterministically poisoned CSV
    feed (every 7th record carries a non-numeric key, every 13th an
    unclosed quote) read back with an explicit schema +
    columnNameOfCorruptRecord, then classified — the quarantine
    split every production CSV ingest needs before the clean rows
    proceed.  Observed semantics the oracle predicts from the
    construction (FULL-column parse — the relation is cached, which
    both satisfies Spark's corrupt-column query restriction and pins
    the semantics; under column pruning the univocity parser skips
    unreferenced columns and classifies DIFFERENTLY): a type failure
    (non-numeric key) quarantines the row but keeps its parseable
    sibling fields; an unclosed quote also quarantines (the quote
    swallows to EOL, leaving too few fields) while its leading
    well-formed fields survive.  At 100 TB the point is PERMISSIVE vs
    FAILFAST: quarantine columns keep the job alive and auditable
    instead of dying on row one."""
    apply_engine_confs(spark)
    # collect unsorted and sort driver-side: an orderBy before a
    # 25-row collect paid a global-sort exchange job for nothing
    # (r16 guide §1.2 — don't compute what the driver can)
    rows = sorted(_table(spark, sf_dir, "nation").collect(),
                  key=lambda r: r.n_nationkey)  # 25 rows — bounded dim
    lines = []
    for rep in range(40):                 # 1000 records
        for r in rows:
            i = rep * len(rows) + r.n_nationkey
            if i % 7 == 0:
                lines.append(f"xx,{r.n_name},{r.n_regionkey}")
            elif i % 13 == 0:
                lines.append(f'{i},"{r.n_name},{r.n_regionkey}')
            else:
                lines.append(f"{i},{r.n_name},{r.n_regionkey}")
    out = _out("csv_corrupt_src")
    # the fixture is a ~55 KB LOCAL text file: write it with driver
    # I/O instead of a createDataFrame + coalesce(1) Spark write job
    # (r16; byte-identical content — same lines, same order, one
    # file — so the PERMISSIVE parse the key certifies is unchanged)
    os.makedirs(out, exist_ok=True)
    with open(os.path.join(out, "part-00000.txt"), "w") as fh:
        fh.write("\n".join(lines) + "\n")
    schema = ("rec_id LONG, name STRING, region LONG, "
              "_corrupt STRING")
    df = (spark.read.schema(schema)
          .option("mode", "PERMISSIVE")
          .option("columnNameOfCorruptRecord", "_corrupt")
          .csv(out))
    # cache the PARSED relation (Spark's own documented requirement):
    # a downstream count() would otherwise prune the plan to the
    # corrupt column alone, which raises
    # UNSUPPORTED_FEATURE.QUERY_ONLY_CORRUPT_RECORD_COLUMN
    df = df.cache()
    status = (F.when(F.col("_corrupt").isNotNull(), "quarantined")
              .otherwise("clean"))
    # reference rec_id in the projection: CSV column pruning otherwise
    # skips parsing it, and a type failure in an unread column never
    # populates the corrupt-record column (documented Spark behavior)
    out_df = (df.select(status.alias("status"), "rec_id", "region")
              .groupBy("status")
              .agg(F.count(F.lit(1)).alias("n_rows"),
                   F.sum(F.when(F.col("rec_id").isNotNull(), 1)
                         .otherwise(0)).alias("n_with_id"),
                   F.sum(F.when(F.col("region").isNotNull(), 1)
                         .otherwise(0)).alias("n_with_region"))
              .orderBy("status"))
    # materialize the 2-row report, then release the cached parse —
    # without this every invocation leaks one cached relation for the
    # session lifetime (scale sweeps build this key at every SF)
    out_df = checkpoint_df(out_df)
    df.unpersist()
    return out_df


def q_events_survival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier time-to-conversion curve
    (operators/relational.py:km_survival): hours from a user's first
    activity to their first high-value purchase (value > 45), observed
    over a 7-day window — users without one inside the window are
    CENSORED at the window edge (or their last activity, whichever is
    earlier), the case naive time-to-event averages get wrong; the
    product-limit estimate folds sequentially so both engines multiply
    the identical chain.  Durations bucket via integer `div` (Spark's
    float-divide-then-cast truncates while DuckDB's CAST rounds
    half-even — a silent off-by-one bucket split)."""
    from dynamic_partitioner_spark.operators.relational import km_survival
    events = _table(spark, sf_dir, "events")
    ev = events.select("user_id", "event_type", "value",
                       event_time_us(events).alias("us"))
    f = ev.groupBy("user_id").agg(F.min("us").alias("first_us"),
                                  F.max("us").alias("last_us"))
    p = (ev.where((F.col("event_type") == "purchase")
                  & (F.col("value") > 45))
         .groupBy("user_id").agg(F.min("us").alias("p_us")))
    _HOUR = 3_600_000_000
    _WINDOW = 7 * 86_400_000_000
    j = f.join(p, "user_id", "left").withColumn(
        "we", F.col("first_us") + F.lit(_WINDOW))
    converted = F.col("p_us").isNotNull() & (F.col("p_us") <= F.col("we"))
    dur_end = F.when(converted, F.col("p_us")).otherwise(
        F.least(F.col("last_us"), F.col("we")))
    subj = (j.select((dur_end - F.col("first_us")).alias("_d_us"),
                     F.when(converted, 1).otherwise(0)
                     .alias("converted"))
            .select(F.expr(f"_d_us div {_HOUR}").alias("duration_h"),
                    "converted"))
    return km_survival(subj, "duration_h", "converted")


def q_embedding_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup threshold calibration: pairwise-cosine histogram +
    at-or-above sweep over a fixed-size (~1000-row) hash sample of the
    embedding corpus (operators/similarity.py:cosine_threshold_sweep) — the
    table you read before picking the semantic-dedup cutoff."""
    from dynamic_partitioner_spark.operators.similarity import (
        cosine_threshold_sweep)
    emb = _table(spark, sf_dir, "embeddings")
    return cosine_threshold_sweep(emb, "vec_id", "embedding",
                                  target_rows=1000)


def q_quality_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-contract check over orders: null / range /
    uniqueness / referential rules in one pass (conditional-sum scan +
    one hash agg + one broadcast anti-join), violation counts only."""
    from dynamic_partitioner_spark.operators.expectations import (
        check_expectations)
    orders = _table(spark, sf_dir, "orders")
    cust = _table(spark, sf_dir, "customer")
    return check_expectations(orders, [
        ("not_null", "o_custkey"),
        ("range", "o_totalprice", 0.0, 450_000.0),
        ("unique", "o_orderkey"),
        ("fk", "o_custkey", cust, "c_custkey"),
    ])


def q_streaming_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming data-contract monitor: orders drain through real
    micro-batches (one file per trigger) with null/range/fk rules
    checked per batch; cumulative counts equal the batch check."""
    from dynamic_partitioner_spark.streaming.write import (
        run_streaming_expectations)
    apply_engine_confs(spark)
    src = _out("stream_expect_src")
    (_table(spark, sf_dir, "orders").repartition(3)
     .write.mode("overwrite").parquet(src))
    cust = _table(spark, sf_dir, "customer")
    ckpt = _out("stream_expect_ckpt")
    return run_streaming_expectations(spark, src, [
        ("not_null", "o_custkey"),
        ("range", "o_totalprice", 0.0, 450_000.0),
        ("fk", "o_custkey", cust, "c_custkey"),
    ], ckpt)


#: the TTL audit's durations and chunking, shared between the Spark key
#: and its DuckDB oracle (the oracle interpolates the SAME parsed
#: values via _interval_to_us, so retuning one string retunes both
#: sides — r12 review closed the hand-matched-constants gap).  The
#: eviction-watermark cutoff below is derived from these and must be
#: re-derived if they change.
_TTL_EVICTION_TTL = "4 days"
_TTL_EVICTION_DELAY = "12 hours"
_TTL_EVICTION_CHUNK_DAYS = 10
#: eviction-watermark cutoff (min event time + 31 days = 3 chunks x
#: 10 days + 1 day slack, strictly under the sentinel's 49.5-day
#: sweep): excludes any engine-dependent post-sentinel eviction.
#: Shared STRUCTURALLY by the Spark key and the DuckDB oracle (each
#: replayed eviction's watermark is tested against the same constant)
#: so a fixture that grows past the cutoff drops the same rows on
#: both sides instead of failing the hash compare (r12 ADVICE #2).
_TTL_EVICTION_CUTOFF_US = ((3 * _TTL_EVICTION_CHUNK_DAYS + 1)
                           * 86_400_000_000)


def q_streaming_ttl_eviction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming state-store TTL/eviction audit, oracle-certified
    (the README roadmap's 'state-store TTL/eviction audit' tranche).

    The 30-day events table streams as three 10-day chunk files (one
    per micro-batch, forced mtime order) plus a far-future sentinel
    file (min+50 days, reserved key user_id=-1) whose batch flushes
    end-of-data timeouts through a REAL data batch.  Per
    (user_id, event_type) key, ``applyInPandasWithState`` keeps
    (count, value-cents, last-seen) state under a 4-day EVENT-TIME TTL
    with a 12 h watermark delay; a key idle past the TTL is evicted
    and emits one audit row per evicted generation.

    Deterministic by construction (no-data micro-batches disabled, see
    run_ttl_eviction_audit): the eviction watermark of batch i is
    ``max(event ms over batches 0..i-1) - delay``, and a timeout fires
    iff the key gets no rows in the batch and its ms-truncated
    ``last_seen + TTL`` is STRICTLY below that watermark — pinned
    empirically in tests/test_streaming.py.  The DuckDB oracle replays
    the whole run from the raw events grid: per-key per-chunk
    (presence, count, cents, max ts) pivots + the three global
    watermarks, cascaded through the generation splits (evict at W1 →
    a chunk-2 reappearance restarts the count).  The audited result
    keeps evictions with watermark ≤ min+31 days, which excludes any
    engine-dependent post-sentinel sweep, so the row set is identical
    whether or not a trailing batch ever runs.

    100 TB posture: this IS the bounded-state certification for the
    streaming surface — one shuffle on the key, O(1) state per key,
    and the TTL provably reclaims idle keys' state, which is what
    keeps an unbounded production stream's store flat.
    """
    from dynamic_partitioner_spark.streaming.stateful import (
        run_ttl_eviction_audit)
    from dynamic_partitioner_spark.streaming.write import (
        stage_ordered_files)
    apply_engine_confs(spark)
    events = _table(spark, sf_dir, "events")
    ev = events.select("user_id", "event_type", "value",
                       event_time_ts(events).alias("ts"),
                       event_time_us(events).alias("_us"))
    mn_n = ev.agg(F.min("_us"), F.count(F.lit(1))).collect()[0]
    m, n_ev = int(mn_n[0]), int(mn_n[1])
    day_us = 86_400_000_000
    chunk_us = _TTL_EVICTION_CHUNK_DAYS * day_us
    ev = ev.withColumn(
        "_chunk", F.least(F.expr(f"(_us - {m}) div {chunk_us}"),
                          F.lit(2)))
    chunks = [ev.where(F.col("_chunk") == i)
              .select("user_id", "event_type", "ts", "value")
              for i in range(3)]
    # sentinel: far-future single event under a reserved key — its
    # batch carries eviction watermark max(all events) - delay,
    # flushing every timeout the data batches left pending,
    # deterministically
    sentinel = spark.range(1).select(
        F.lit(-1).cast("long").alias("user_id"),
        F.lit("sentinel").alias("event_type"),
        F.expr(f"timestamp_micros({m + 50 * day_us})").alias("ts"),
        F.lit(0.0).alias("value"))
    # staged per-file (one coalesce(1) job each): the r16 single-job
    # stage_ordered_union regressed THIS key — quiet-paired A/B at 32
    # cores (r17, alternating in one session) measured union 14.4-28.9s
    # vs files 13.1-16.2s (files faster in 4 of 5 pairs) despite 2
    # fewer jobs, because the union's 3 chunk branches re-scan events
    # through one shuffle while the drain cost dwarfs the saved job
    # overhead.  streaming_late_audit keeps the union primitive (the
    # same A/B measured union faster there: 4.6-5.0s vs 5.0-6.0s).
    src = stage_ordered_files(chunks + [sentinel], _out("stream_ttl_src"))
    spark.catalog.dropTempView("stream_ttl_sink")
    # state partitioning sizes to the staged volume — the same lever
    # a cluster job sets via shuffle partitions.  At the driver/bench
    # SFs (<=1M events, 7.5k keys at sf0.1) 16 is the measured knee
    # (r12: 4p=16.2s / 8p=10.7s / 16p=8.5s / 32p=7.6s-but-noisy);
    # the sf1/sf10 sweep corpora (6M/60M events, 75k/750k keys) shard
    # at the local core count and get a wider drain timeout — at 16
    # partitions the sf1 drain blew the 300s rail, at 32 it takes
    # ~52s (r13 measurement; the per-batch cost is Python-state-
    # worker-bound, one update call per touched key)
    small = n_ev <= 1_000_000
    # state_provider="rocksdb": the unbounded-keyspace production
    # posture (spill-to-disk store + changelog checkpoints instead of
    # every key's state on-heap).  Provider-invariance of the results
    # and the bounded-state metrics are pinned in
    # tests/test_streaming.py; measured cost at sf0.1 is within the
    # default provider's band (7.4-12.8s vs 9.8-10.7s, r13)
    evicts = run_ttl_eviction_audit(
        spark, src, "stream_ttl_sink", ["user_id", "event_type"],
        ttl=_TTL_EVICTION_TTL, watermark_delay=_TTL_EVICTION_DELAY,
        timeout_sec=300 if small else 3600,
        state_partitions=16 if small else 32,
        state_provider="rocksdb")
    return (evicts
            .where((F.col("evict_wm_us") <= m + _TTL_EVICTION_CUTOFF_US)
                   & (F.col("user_id") >= 0))
            .groupBy("user_id", "event_type")
            .agg(F.count(F.lit(1)).alias("n_evictions"),
                 F.sum("gen_events").alias("evicted_events"),
                 F.sum("gen_cents").alias("evicted_cents"),
                 F.max("evict_wm_us").alias("last_evict_wm_us")))


def q_ops_snapshot_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg-shaped snapshot-manifest listing (r12 roadmap tranche;
    Apache Iceberg spec §Manifests — lower/upper bounds + null counts
    per data file; no counterpart in the reference): four commits
    (append, append, overwrite, append) over disjoint lineitem key
    slices, then the manifest relation derived for TWO snapshots —
    version 2 (pre-overwrite: commits 1+2 visible) and version 4
    (post-overwrite: commits 3+4 visible) — so both the time-travel
    membership and the per-file pruning bounds are hash-certified.

    Each commit is written as ONE file (coalesce(1)): the within-
    commit file split is a scheduler property (the r8 compaction-plan
    flake class), so one-file-per-commit is what makes min/max/count
    bounds the oracle-predictable commit aggregates; the multi-file
    decomposition path is pinned in tests/test_versioned.py.  The
    physical fields the oracle cannot predict (file size, name, dir
    naming) certify LOUDLY via _certify_booleans and stay out of the
    hashed relation."""
    from dynamic_partitioner_spark.operators.versioned import (
        snapshot_manifest, versioned_write_slices)
    apply_engine_confs(spark)
    li = _table(spark, sf_dir, "lineitem")
    slim = li.select(
        "l_orderkey",
        F.floor(F.col("l_quantity") * 100 + F.lit(0.5)).cast("long")
        .alias("qty_c"))
    out = _out("ops_snapshot_manifest")
    # all four commits staged in ONE pass over lineitem (r16: was four
    # sequential write jobs, each re-scanning the source); the slice
    # column is the staging partition key and never lands in the data,
    # and each commit is one file exactly as the coalesce(1) path was
    versioned_write_slices(
        slim.withColumn("_slice", F.col("l_orderkey") % 4), "_slice",
        [(0, "append"), (1, "append"), (2, "overwrite"), (3, "append")],
        out)
    parts = []
    for v in (2, 4):
        m = snapshot_manifest(spark, out, v,
                              stat_cols=("l_orderkey", "qty_c"))
        parts.append(m.withColumn("snapshot_version", F.lit(v)))
    man = parts[0].unionByName(parts[1])
    audit = man.select(
        F.col("batch_dir").alias("pk"),
        (F.col("size_bytes") > 0).alias("size_ok"),
        F.col("file_name").endswith(".parquet").alias("name_ok"),
        (F.col("batch_dir") ==
         F.format_string("batch-%08d", F.col("commit_version")))
        .alias("dir_ok"))
    _certify_booleans("ops_snapshot_manifest", audit,
                      ["size_ok", "name_ok", "dir_ok"])
    return man.select(
        "snapshot_version", "commit_version", "n_rows",
        "min_l_orderkey", "max_l_orderkey", "nulls_l_orderkey",
        "min_qty_c", "max_qty_c", "nulls_qty_c")


def q_ops_pruned_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manifest-pruned READ (r13 roadmap tranche; closes the Iceberg
    prune-before-read loop the snapshot manifest exists for —
    Apache Iceberg spec §Scan Planning): four RANGE-clustered commits
    (append, append, overwrite, append) over contiguous l_orderkey
    slices of width W = max//4 + 1, one file each, then
    ``read_pruned`` at version 4 (commits 3+4 visible) with
    ``l_orderkey <= 2W + W//2`` — a predicate whose bounds
    intersection keeps ONLY commit 3's file, so the planned scan
    reads 1 of the snapshot's 2 files and the residual filter
    restores row-exactness.

    The hashed relation is the pruned read's rows themselves (exact
    multiset vs the oracle's slice-arithmetic replay); the PLAN-level
    facts the oracle cannot see — 2 files in the snapshot, 1 survivor,
    and the executed scan's ``inputFiles()`` being exactly that
    survivor — certify LOUDLY via ``_certify_booleans``.

    100 TB posture: the planner collects only the FILES-sized manifest
    (what every Iceberg/Delta planner does); the data scan opens only
    surviving files, so a selective predicate on a range-clustered
    table touches a vanishing fraction of a petabyte of footers."""
    from dynamic_partitioner_spark.operators.versioned import (
        plan_pruned_files, read_pruned, versioned_write_slices)
    apply_engine_confs(spark)
    li = _table(spark, sf_dir, "lineitem")
    slim = li.select(
        "l_orderkey",
        F.floor(F.col("l_quantity") * 100 + F.lit(0.5)).cast("long")
        .alias("qty_c"))
    wd = int(slim.agg(F.max("l_orderkey")).collect()[0][0]) // 4 + 1
    out = _out("ops_pruned_read")
    # one staging pass for all four range-clustered commits (r16: was
    # four write jobs x four source scans); one file per commit as
    # before, so the per-file bounds the pruner sees are unchanged
    versioned_write_slices(
        slim.withColumn("_slice", F.expr(f"l_orderkey div {wd}")),
        "_slice",
        [(0, "append"), (1, "append"), (2, "overwrite"), (3, "append")],
        out)
    ranges = {"l_orderkey": (None, 2 * wd + wd // 2)}
    kept, total = plan_pruned_files(spark, out, ranges, version=4)
    # pass the plan through: the manifest derivation must run ONCE
    # per snapshot (it is immutable), not once for the certification
    # counts and again for the read (r13 review)
    res = read_pruned(spark, out, ranges, version=4,
                      plan=(kept, total))
    scanned = {os.path.basename(p) for p in res.inputFiles()}
    audit = spark.createDataFrame(
        [("prune", total == 2, len(kept) == 1,
          scanned == {os.path.basename(p) for p in kept})],
        "pk string, snapshot_files_ok boolean, pruned_to_one boolean, "
        "scan_matches_plan boolean")
    _certify_booleans("ops_pruned_read", audit,
                      ["snapshot_files_ok", "pruned_to_one",
                       "scan_matches_plan"])
    return res


def q_ops_pruned_read_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MULTI-DIMENSION manifest pruning over Z-order envelopes (r14
    roadmap tranche; closes the clustering → manifest → scan loop):
    orders bucketed on TWO dimensions (``xb`` = customer bucket,
    ``yb`` = price band, 16 buckets each), Morton-interleaved
    (functions/zorder.py:zorder_key, bits=4), and committed as four
    z-SLAB commits (zval div 64 — each file covers one 8×8
    hyper-rectangle of the (xb, yb) grid, the OPTIMIZE ZORDER file
    shape), plus a 1-d x-SORTED twin table (xb div 4 slices — each
    file spans ALL of y).  ``read_pruned`` with the conjunctive
    two-column range ``xb ≤ 7 AND yb ≤ 7`` intersects the predicate
    with the manifest's per-file per-DIMENSION envelopes
    (plan_pruned_files already conjoins bounded columns; Apache
    Iceberg spec §Scan Planning inclusive projection).

    The hashed relation is the pruned read's rows themselves (exact
    multiset vs the oracle's arithmetic replay — zorder_key_sql emits
    the identical interleave, so zval hash-checks bit-for-bit).  The
    PLAN-level facts the oracle cannot see certify LOUDLY via
    ``_certify_booleans``: the xy-predicate keeps exactly 1 of the
    z-table's 4 files, the executed scan reads exactly that file,
    the SAME predicate keeps 2 of the x-sorted twin's 4 files
    (z-clustering strictly beats the 1-d sort on a 2-d predicate —
    the y bound prunes NOTHING on x-sorted files, whose y envelopes
    span the domain), and a y-ONLY predicate still halves the
    z-table's scan (a 1-d x-sort prunes nothing at all on y).

    100 TB posture: identical to ops_pruned_read — the planner
    collects only the FILES-sized manifest; the win here is the
    LAYOUT: on a z-clustered petabyte table a point-ish query
    bounded in k dimensions scans ~(selectivity)^k of the files,
    where any 1-d sort scans ~(selectivity)^1."""
    from dynamic_partitioner_spark.functions.zorder import zorder_key
    from dynamic_partitioner_spark.operators.versioned import (
        plan_pruned_files, read_pruned, versioned_write_slices)
    apply_engine_confs(spark)
    orders = _table(spark, sf_dir, "orders")
    dims = orders.select(
        "o_orderkey",
        (F.col("o_custkey") % 16).cast("long").alias("xb"),
        F.least(F.floor(F.col("o_totalprice") / 30000),
                F.lit(15)).cast("long").alias("yb"))
    z = dims.withColumn("zval", zorder_key(["xb", "yb"], bits=4))
    # 4 commits read the same small projection — persist so the
    # upstream scan runs once, released before the read-back
    z = z.persist()
    out_z = _out("ops_pruned_read_zorder")
    out_x = _out("ops_pruned_read_zorder_x1d")
    appends4 = [(k, "append") for k in range(4)]
    # each table's four commits staged in ONE pass over z (r16: was
    # eight sequential write jobs); one file per commit as before, so
    # the per-file (xb, yb) envelopes are unchanged.
    # z-slab commits: zval div 64 = one Morton quadrant each, so the
    # file's (xb, yb) envelopes are an 8×8 rectangle
    versioned_write_slices(
        z.withColumn("_slice", F.expr("zval div 64")), "_slice",
        appends4, out_z)
    # x-slice commits for the 1-d sorted twin: xb ∈ [4k, 4k+4)
    versioned_write_slices(
        z.withColumn("_slice", F.expr("xb div 4")), "_slice",
        appends4, out_x)
    ranges_xy = {"xb": (None, 7), "yb": (None, 7)}
    plan_z = plan_pruned_files(spark, out_z, ranges_xy)
    kept_x, total_x = plan_pruned_files(spark, out_x, ranges_xy)
    kept_y_only, _ = plan_pruned_files(spark, out_z,
                                       {"yb": (None, 7)})
    res = read_pruned(spark, out_z, ranges_xy, plan=plan_z)
    kept_z, total_z = plan_z
    scanned = {os.path.basename(p) for p in res.inputFiles()}
    z.unpersist()
    audit = spark.createDataFrame(
        [("zorder", total_z == 4 and total_x == 4,
          len(kept_z) == 1,
          scanned == {os.path.basename(p) for p in kept_z},
          len(kept_z) < len(kept_x),
          len(kept_y_only) == 2)],
        "pk string, snapshot_files_ok boolean, xy_pruned_to_one "
        "boolean, scan_matches_plan boolean, z_beats_1d_sort boolean, "
        "y_only_halves_scan boolean")
    _certify_booleans("ops_pruned_read_zorder", audit,
                      ["snapshot_files_ok", "xy_pruned_to_one",
                       "scan_matches_plan", "z_beats_1d_sort",
                       "y_only_halves_scan"])
    return res


def q_ops_compact_execute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction EXECUTION (r15 roadmap tranche; the Delta
    ``OPTIMIZE`` shape — Delta Lake docs §Optimize, Iceberg
    ``rewrite_data_files``; closes the plan → rewrite loop that
    ``ops_compaction_plan`` left at the plan): six single-file append
    commits over ``o_orderkey % 6`` slices of orders, then
    ``versioned.compact_snapshot`` executes the first-fit-decreasing
    bins (target = total rows DIV 3 + 1) as ONE overwrite commit —
    same rows, strictly fewer files, and the PRE-compaction snapshot
    still reads unchanged (time travel across a layout change is what
    the versioned log exists for).

    HASHED: the EXECUTED plan relation (slice_id, file_seq, n_rows,
    bin, bin_size, bin_files) — pure data on both sides: each staged
    commit is exactly one file (coalesce(1)) whose row count IS its
    slice count, so the oracle replays the same FFD arithmetic from
    ``count(*) GROUP BY o_orderkey % 6`` (the ops_compaction_plan
    oracle shape; tie-break parity: ascending batch_dir == ascending
    slice_id by construction).

    LOUD (physical facts the oracle cannot see, via
    ``_certify_booleans``): post-compaction file count == the plan's
    bin count, each ``bin-%05d.parquet`` carries exactly its bin's
    ``bin_size`` rows, total rows conserved, the global o_orderkey
    envelope is preserved, and ``read_version`` of the pre-compaction
    snapshot returns the staged total (the rewrite touched no old
    batch dir).

    100 TB posture: the planner collects only the FILES-sized
    manifest; each bin rewrite is an independent ~target-sized job
    reading only its own files (submitted concurrently — Delta's
    OPTIMIZE execution model), so rewrite I/O scales with the data
    compacted, never with table history."""
    from dynamic_partitioner_spark.operators.versioned import (
        compact_snapshot, read_version, snapshot_manifest,
        versioned_write_slices)
    apply_engine_confs(spark)
    orders = _table(spark, sf_dir, "orders")
    slim = orders.select(
        "o_orderkey",
        (F.col("o_orderkey") % 6).cast("long").alias("slice_id"))
    # six staged commits + the certification aggregate all read the
    # same two-column projection — persist so orders scans once
    # (r15 review: 8 source scans otherwise), released after the agg
    slim = slim.persist()
    out = _out("ops_compact_execute")
    # six staged commits in ONE pass over slim (r16: was six write
    # jobs); slice_id is duplicated because the staging partition key
    # is stripped from data files and the committed rows carry it
    versioned_write_slices(
        slim.withColumn("_slice", F.col("slice_id")), "_slice",
        [(k, "append") for k in range(6)], out)
    total, lo, hi = slim.agg(
        F.count(F.lit(1)), F.min("o_orderkey"),
        F.max("o_orderkey")).collect()[0]
    slim.unpersist()
    new_v, plan = compact_snapshot(spark, out, total // 3 + 1)
    pre_cnt = read_version(spark, out, 6).count()
    post = snapshot_manifest(spark, out, new_v,
                             stat_cols=("o_orderkey",)).collect()
    bins_plan = {r["bin"]: r["bin_size"] for r in plan.collect()}
    post_by_bin = {int(r["file_name"][4:9]): r["n_rows"] for r in post
                   if r["file_name"].startswith("bin-")}
    audit = spark.createDataFrame(
        [("compact",
          len(post) == len(bins_plan),
          post_by_bin == bins_plan,
          sum(r["n_rows"] for r in post) == total,
          min(r["min_o_orderkey"] for r in post) == lo
          and max(r["max_o_orderkey"] for r in post) == hi,
          pre_cnt == total)],
        "pk string, files_eq_bins boolean, rows_eq_bin_size boolean, "
        "total_ok boolean, bounds_ok boolean, pre_snapshot_ok boolean")
    _certify_booleans("ops_compact_execute", audit,
                      ["files_eq_bins", "rows_eq_bin_size", "total_ok",
                       "bounds_ok", "pre_snapshot_ok"])
    return plan.select(
        # derive the slice from the batch number, not a width-exact
        # substring: _BATCH_SEG is \d{8,} on purpose (r15 ADVICE)
        (F.regexp_extract("batch_dir", r"batch-(\d+)", 1)
         .cast("long") - 1).alias("slice_id"),
        "file_seq", "n_rows", "bin", "bin_size", "bin_files")


def q_source_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-versioned table: three commits (append, append,
    overwrite), then per-priority counts read AS OF each version —
    time travel over plain parquet + a JSON commit log.  The oracle
    recomputes each snapshot's membership from the same key split."""
    from dynamic_partitioner_spark.operators.versioned import (
        read_version, versioned_write_slices)
    orders = _table(spark, sf_dir, "orders")
    out = _out("source_time_travel")
    # three commits staged in ONE pass over orders (r16: was three
    # sequential write jobs each re-scanning the source)
    versioned_write_slices(
        orders.withColumn("_slice", F.col("o_orderkey") % 3), "_slice",
        [(0, "append"), (1, "append"), (2, "overwrite")], out)
    parts = []
    for v in (1, 2, 3):
        parts.append(
            read_version(spark, out, v)
            .groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n_orders"))
            .select(F.lit(v).alias("version"), "o_orderpriority",
                    "n_orders"))
    return parts[0].unionByName(parts[1]).unionByName(parts[2])


def q_events_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First/last-touch purchase attribution over click/view touches in
    a 24 h lookback — both models from ONE per-user range-frame pass
    (no self-join, no range join)."""
    from dynamic_partitioner_spark.operators.relational import attribution
    events = _table(spark, sf_dir, "events")
    ev = events.select("user_id", "event_id", "event_type",
                       event_time_us(events).alias("ts_us"))
    return attribution(ev, "user_id", "ts_us", "event_id", "event_type",
                       ["click", "view"], "purchase")


def q_text_bpe_learn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer training: the first 20 learned BPE merges.  The
    corpus-scale part is one word-frequency aggregate; the merge loop
    runs on the bounded vocab table (Sennrich 2016).  HASH-CHECKED via
    the certification shape (operators/bpe.py:learn_bpe_certified):
    the FIRST merge is a pure function of the word-frequency relation,
    so the oracle recomputes (left, right, merged, count) exactly from
    the same adjacent-pair argmax in SQL; the iterative tail is pinned
    by hard combinatorial invariants (non-increasing winner counts,
    merged == left||right, merged never a base symbol, bounded mass
    conservation, no (left, right) pair wins twice — pairs_distinct,
    NOT vocab-grows-by-one, which is a non-theorem: two merges can
    spell the same string) that the oracle emits as literal TRUE.  The
    full merge sequence stays pinned in tests/test_bpe.py."""
    from dynamic_partitioner_spark.operators.bpe import learn_bpe_certified
    docs = _table(spark, sf_dir, "documents")
    return learn_bpe_certified(docs, "text", n_merges=20)


def q_text_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE ENCODE — the apply half of tokenizer training
    (operators/bpe.py:encode_bpe): learn 10 merges, then encode every
    document with the frozen merge table (one map-only Arrow pass,
    merge table rides as a closure, per-batch word memoization).
    This is the op a training pipeline actually runs over the full
    100 TB corpus once the vocab is frozen.

    HASH-CHECKED three ways per doc: exact ``n_words`` / ``n_syms``
    (chars+EOW before any merge — pure functions of the text the
    oracle recomputes), and exact ``n_tokens_m1`` — the token count
    after applying ONLY the first merge, whose SQL twin exists
    because merge 1 is the adjacent-pair argmax over the capped
    word-frequency relation (the text_bpe_learn oracle's own CTE) and
    single-character pair application equals left-to-right
    non-overlapping ``replace()`` counting (greedy BPE semantics,
    doubled pairs included: replace('aaa','aa','') removes one —
    floor(run/2) — exactly the trainer's scan).  The full-10-merge
    count has no SQL twin (the iterative word table is not
    SQL-expressible); it is certified by ``tokens_bounded``
    (n_words <= n_tokens <= n_syms) and ``roundtrip_ok`` — stripping
    EOW and re-joining the emitted tokens must reproduce the
    normalized text EXACTLY (lossless encode), which any split/merge/
    ordering bug flips.  The merge-table fixture and encode semantics
    stay pinned in tests/test_bpe.py."""
    from dynamic_partitioner_spark.operators.bpe import (
        EOW, encode_bpe, learn_bpe_merges)
    docs = _table(spark, sf_dir, "documents")
    # corpus guard (r10 review — the learn key's build-time guard
    # protects only learn_bpe_certified): text that can SPELL the EOW
    # sentinel would let a merged token end in a text-spelled '</w>'
    # (rebuilt would strip real characters -> roundtrip_ok red on a
    # correct engine), and chr(1) is the oracle's EOW stand-in in the
    # merge-1 replace pattern.  Fail loudly, not as a hash flake.
    # lower() first: tokens and the roundtrip check are built from
    # lowercased text, so '</W>' would slip a case-sensitive guard
    # and still poison the rebuilt expression (r10 review)
    poisoned = (docs.where(F.lower(F.col("text")).contains(EOW)
                           | F.col("text").contains("\x01"))
                .select("doc_id").limit(1).collect())
    if poisoned:
        raise ValueError(
            f"text_bpe_encode: doc {poisoned[0][0]} contains the EOW "
            f"sentinel {EOW!r} (or \\x01, the oracle's stand-in) — "
            "the roundtrip certification cannot distinguish spelled "
            "from structural EOW; change the sentinel for this corpus")
    merges = [(r["left"], r["right"])
              for r in learn_bpe_merges(docs, "text", n_merges=10)
              .orderBy("rank").collect()]
    full = encode_bpe(docs, "doc_id", "text", merges)
    m1 = (encode_bpe(docs, "doc_id", "text", merges[:1])
          .select("doc_id", F.col("n_tokens").alias("n_tokens_m1")))
    words = F.expr(
        "filter(split(trim(lower(text)), '[ \\t\\n\\r]+'), "
        "x -> length(x) > 0)")
    base = docs.select(
        "doc_id",
        F.size(words).cast("long").alias("n_words"),
        # n_syms over the SAME bound words column — the whitespace
        # class is defined once (r10 review: a second verbatim copy
        # of the split expr could silently diverge on a future edit)
        F.aggregate(words, F.lit(0).cast("long"),
                    lambda a, x: a + F.length(x) + 1).alias("n_syms"),
        F.array_join(words, " ").alias("_norm"))
    rebuilt = F.expr(
        f"array_join(transform(tokens, t -> CASE "
        f"WHEN t = '{EOW}' THEN ' ' "
        f"WHEN t LIKE '%{EOW}' THEN concat(substring(t, 1, "
        f"length(t) - {len(EOW)}), ' ') ELSE t END), '')")
    return (base
            .join(full.select("doc_id", "tokens", "n_tokens"), "doc_id")
            .join(m1, "doc_id")
            .select(
                "doc_id", "n_words", "n_syms", "n_tokens_m1",
                ((F.col("n_tokens") >= F.col("n_words"))
                 & (F.col("n_tokens") <= F.col("n_syms")))
                .alias("tokens_bounded"),
                (F.when(F.col("n_words") == 0, F.size("tokens") == 0)
                 .otherwise(rebuilt == F.concat(F.col("_norm"),
                                                F.lit(" "))))
                .alias("roundtrip_ok"))
            .orderBy("doc_id"))


def q_sketch_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch over the token stream: mergeable per-partition
    sketches (cell-sum shuffle is depth×width, independent of corpus
    size) + exact top-20 recount.  HASH-CHECKED via the r6 sketch
    pattern: the exact columns (rank, item, n_true) plus a Spark-side
    boolean asserting the sketch's DETERMINISTIC invariant — CMS
    never underestimates (``n_est ≥ n_true``, a hard guarantee, not
    the probabilistic e·N/width bound whose per-item failure odds
    ~e^−depth would let a correct sketch flip the hash red on a new
    corpus) — that the oracle emits as literal TRUE; the
    probabilistic error bound stays pinned per-corpus in
    tests/test_frequency.py."""
    from dynamic_partitioner_spark.operators.frequency import cms_estimates
    docs = _table(spark, sf_dir, "documents")
    toks = (docs.select(F.explode(DD.tokens(F.col("text"))).alias("term"))
            .where(F.length("term") > 0))
    est = cms_estimates(toks, "term", top=20, width=1024, depth=4)
    return est.select("rank", "item", "n_true",
                      (F.col("n_est") >= F.col("n_true"))
                      .alias("est_in_bound"))


def q_ops_file_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-sizing policy made auditable: write orders partitioned by
    o_orderpriority with a 1000-row file cap, then audit files-per-
    partition from the data itself.  HASHED values never depend on the
    physical file decomposition (the r8 ops_compaction_plan driver
    flake generalizes: even after a strict hash repartition, a task
    retry or AQE rewrite can split one key across two sequential
    writers, so exact file counts are a scheduler property) — the
    hashed relation is the PURE-SOURCE per-key row counts (read-back
    equality is certified loudly first).  The invariants that hold
    under ANY <=cap decomposition — read-back rows == source rows per
    key (total_ok), observed file count >= ceil(rows/1000)
    (files_floor_ok), every observed file <= 1000 rows (cap_ok) — are
    checked LOUDLY via _certify_booleans (r9 VERDICT #3): a violation,
    including a partition key missing entirely from the physical
    write (null booleans via the source-left join), raises with the
    observed per-file decomposition instead of surfacing as a bare
    hash mismatch."""
    from dynamic_partitioner_spark.operators.partitioned_write import (
        audit_partition_files)
    apply_engine_confs(spark)
    # explicit-count repartition: keyed-only repartition(F.col(pk))
    # is AQE-coalescible, and with ~5 tiny key partitions AQE merged
    # the whole tiny-cap file write into ONE task (r17 measured the
    # write job at 70-80% of this family's wall from that alone).
    # The explicit count is AQE-exempt; every key still lands WHOLE
    # in one task (hash on the key only), so the per-key layout
    # contract is untouched — the keys just write in parallel.
    df = (_table(spark, sf_dir, "orders")
          .repartition(spark.sparkContext.defaultParallelism,
                       F.col("o_orderpriority")))
    out = _out("ops_file_audit")
    spec = SinkSpec(name="ord_sized", field_names=["o_orderpriority"],
                    max_records_per_file=1000, cluster_by_key=False)
    write_partitioned(df, spec, out)
    audit = (audit_partition_files(spark, out, ["o_orderpriority"])
             .withColumnRenamed("o_orderpriority", "pk"))
    per_file = (spark.read.parquet(out)
                .select(F.col("o_orderpriority").cast("string")
                        .alias("pk"),
                        F.col("_metadata.file_path").alias("_f"))
                .groupBy("pk", "_f").agg(F.count(F.lit(1)).alias("_n")))
    cap = (per_file.groupBy("pk")
           .agg((F.max("_n") <= 1000).alias("cap_ok")))
    # source counts as the LEFT side: a pk whose rows vanished from
    # the physical write must surface as a loud raise (total_ok /
    # null booleans), not as a bare row-count mismatch (r10 review)
    src = (_table(spark, sf_dir, "orders")
           .groupBy(F.trim(F.col("o_orderpriority").cast("string"))
                    .alias("pk"))
           .agg(F.count(F.lit(1)).alias("_src")))
    checks = (src.join(audit, "pk", "left").join(cap, "pk", "left")
              .select("pk", "_src",
                      (F.col("n_rows") == F.col("_src")).alias("total_ok"),
                      (F.col("n_files") >= F.ceil(F.col("n_rows") / 1000))
                      .alias("files_floor_ok"), "cap_ok"))
    _certify_booleans("ops_file_audit", checks,
                      ["total_ok", "files_floor_ok", "cap_ok"], per_file)
    # hashed relation is PURE SOURCE (r10 review): total_ok above
    # already certified read-back == source per key, so returning the
    # source counts keeps the hash physical-independent like the
    # other ops keys AND avoids re-running the file scan at driver
    # hash time (src alone — the certify joins don't ride along)
    return src.select("pk", F.col("_src").alias("n_rows"))


def q_ops_metadata_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-FILE row-count distribution via Spark's hidden ``_metadata``
    column (the storage-ops introspection surface): write customer
    partitioned by market segment with a 100-row file cap, read back
    ``_metadata.file_path`` stats, and present each partition's file
    sizing.  HASHED rows are the IDEALIZED single-writer decomposition
    (ceil(n/100) files of 100 plus one remainder — what the oracle
    predicts from the data alone); the PHYSICAL decomposition is a
    scheduler property (the r8 compaction-plan flake class) and is
    certified LOUDLY via _certify_booleans (r9 VERDICT #3 — a
    violation raises with the observed per-file decomposition rather
    than collapsing into a hash mismatch): invariants that hold under
    ANY <=cap split — every observed file <= 100 rows (audit_cap_ok),
    observed rows == table rows (audit_total_ok), observed file count
    >= ceil(n/100) (audit_files_ok)."""
    apply_engine_confs(spark)
    # explicit-count repartition — AQE-exempt, keys whole per task;
    # see ops_file_audit (r17: keyed-only form coalesced to 1 task)
    df = (_table(spark, sf_dir, "customer")
          .repartition(spark.sparkContext.defaultParallelism,
                       F.col("c_mktsegment")))
    out = _out("ops_meta_files")
    spec = SinkSpec(name="cust_sized", field_names=["c_mktsegment"],
                    max_records_per_file=100, cluster_by_key=False)
    write_partitioned(df, spec, out)
    counts = (_table(spark, sf_dir, "customer")
              .groupBy(F.trim(F.col("c_mktsegment").cast("string"))
                       .alias("pk"))
              .agg(F.count(F.lit(1)).alias("_n")))
    per_file = (spark.read.parquet(out)
                .select(F.col("c_mktsegment").cast("string").alias("pk"),
                        F.col("_metadata.file_path").alias("_file"))
                .groupBy("pk", "_file")
                .agg(F.count(F.lit(1)).alias("_fr")))
    # counts LEFT side so a pk missing from the physical write still
    # produces an audit row (null booleans -> _certify_booleans
    # raises) — see q_ops_compaction_plan's note (r10 review)
    audit = (counts.join(
                 per_file.groupBy("pk")
                 .agg(F.max("_fr").alias("_mx"),
                      F.sum("_fr").alias("_tot"),
                      F.count(F.lit(1)).alias("_nf")),
                 "pk", "left")
             .select("pk",
                     (F.col("_mx") <= 100).alias("audit_cap_ok"),
                     (F.col("_tot") == F.col("_n")).alias("audit_total_ok"),
                     (F.col("_nf") >= F.ceil(F.col("_n") / 100))
                     .alias("audit_files_ok")))
    _certify_booleans("ops_metadata_files", audit,
                      ["audit_cap_ok", "audit_total_ok",
                       "audit_files_ok"], per_file)
    ideal = (counts
             .select("pk", "_n",
                     F.explode(F.expr(
                         "sequence(1, cast(ceil(_n / 100.0) as int))"))
                     .alias("file_rank"))
             .select("pk", F.col("file_rank").cast("int").alias("file_rank"),
                     F.when((F.col("file_rank") < F.ceil(F.col("_n") / 100))
                            | (F.col("_n") % 100 == 0), F.lit(100))
                     .otherwise(F.col("_n") % 100)
                     .cast("long").alias("n_rows")))
    return ideal.select("pk", "file_rank", "n_rows")


def q_partitioned_write_transforms(spark: SparkSession,
                                   sf_dir: str) -> DataFrame:
    """Hidden partitioning through the sink: lineitem written under
    DERIVED keys — ``ship_year = year(l_shipdate)`` (time transform)
    and ``pk_bucket = l_partkey % 8`` (bucket transform) — while the
    payload keeps every original column (no redundant physical year/
    bucket columns, the Iceberg partition-transform pattern).  Read
    back filtered to two years THROUGH the partition dirs (partition
    pruning on the derived key; the payload date column proves it
    survived intact because the oracle recomputes the same years from
    the RAW dates).  Aggregates per (year, bucket) in exact DECIMAL
    money math."""
    from dynamic_partitioner_spark.operators.partitioned_write import (
        write_partitioned_derived)
    apply_engine_confs(spark)
    li = _table(spark, sf_dir, "lineitem")
    out = _out("pw_transforms")
    spec = SinkSpec(name="li_hidden", field_names=["ship_year",
                                                   "pk_bucket"])
    write_partitioned_derived(
        li, spec, out,
        {"ship_year": F.year("l_shipdate"),
         "pk_bucket": F.col("l_partkey") % 8})
    back = (read_partitioned(spark, out)
            .where(F.col("ship_year").cast("long").isin(1997, 1998)))
    dec = F.col("l_extendedprice").cast("decimal(12,2)")
    return (back.groupBy(F.col("ship_year").cast("long")
                         .alias("ship_year"),
                         F.col("pk_bucket").cast("long")
                         .alias("pk_bucket"))
            .agg(F.count(F.lit(1)).alias("n_rows"),
                 # payload-intact proof: the same years recomputed
                 # from the RAW payload date must cover every row
                 F.sum(F.when(F.year("l_shipdate")
                              == F.col("ship_year").cast("int"), 1)
                       .otherwise(0)).alias("n_year_match"),
                 F.sum(dec).cast("decimal(18,2)").cast("double")
                 .alias("total_price")))


def q_ops_retention_vacuum(spark: SparkSession,
                           sf_dir: str) -> DataFrame:
    """Retention vacuum over the versioned table (the lakehouse
    VACUUM shape): four commits — two appends, an overwrite, another
    append — then vacuum with the retention floor at the overwrite.
    The two pre-overwrite appends are invisible to every retained
    version, so they delete; the audit report (computed before
    deletion) is fully predictable from the commit plan, and the
    oracle rebuilds it with per-priority scalar counts.  Post-vacuum
    read correctness and the vacuumed-version refusal are pinned in
    tests/test_versioned.py."""
    from dynamic_partitioner_spark.operators.versioned import (
        vacuum_versions, versioned_write_slices)
    apply_engine_confs(spark)
    orders = _table(spark, sf_dir, "orders")
    out = _out("ops_retention_vacuum")
    # four priority commits staged in ONE pass over orders (r16: was
    # four write jobs x four source scans); the slice key is the
    # priority's leading digit, so the committed rows are unchanged
    versioned_write_slices(
        orders.withColumn(
            "_slice", F.substring("o_orderpriority", 1, 1)), "_slice",
        [(1, "append"), (2, "append"), (3, "overwrite"),
         (5, "append")], out)
    return vacuum_versions(spark, out, keep_from=3)


def q_embedding_prefix_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix-dimension (Matryoshka-style) fidelity report: cosine
    drift when embeddings are truncated to their first 8/16/32/64
    components, over the bounded 32-vector pair grid — exact BIGINT
    micro-unit deltas, so the aggregate is order-free and engine-
    exact (operators/decompose.py:prefix_dim_eval).  The full-length
    row (64 of 64 dims) doubles as a self-check: delta exactly 0."""
    from dynamic_partitioner_spark.operators.decompose import (
        prefix_dim_eval)
    emb = _table(spark, sf_dir, "embeddings")
    return prefix_dim_eval(emb, "vec_id", "embedding")


def q_ops_orphan_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orphan-directory audit over the versioned table
    (operators/versioned.py:find_orphans — the Delta VACUUM
    untracked-file scan / Iceberg remove_orphan_files primitive):
    two committed appends, then a simulated writer crash (a
    ``batch-00000099`` dir written with NO log entry — exactly the
    failure versioned_write's retry note describes) and foreign
    debris (``stray-export``).  The audit must flag exactly the two
    unreferenced dirs with their row counts and whether the name is
    engine-shaped (recoverable by re-commit) or delete-only.  Cost is
    one driver listing + a footer count per orphan — metadata-scale.
    The orphan-dir NAME set is checked loudly Spark-side (r9 VERDICT
    #3): if the scan surfaces anything besides the two planted dirs —
    e.g. real crash debris from THIS run's own committed writes — the
    query raises with the observed listing instead of handing the
    driver a row-count mismatch."""
    from dynamic_partitioner_spark.operators.versioned import (
        find_orphans, versioned_write_slices)
    apply_engine_confs(spark)
    orders = _table(spark, sf_dir, "orders")
    out = _out("ops_orphan_files")
    pri = F.col("o_orderpriority")
    # both healthy commits staged in ONE pass (r16: was two write jobs)
    versioned_write_slices(
        orders.withColumn(
            "_slice", F.substring("o_orderpriority", 1, 1)), "_slice",
        [(1, "append"), (2, "append")], out)
    # crashed write: the batch lands, the commit never does
    (orders.where(pri == "3-MEDIUM").write.mode("overwrite")
     .parquet(f"{out}/batch-00000099"))
    # foreign debris: a non-engine directory holding parquet
    (orders.where(pri == "5-LOW").limit(7).write.mode("overwrite")
     .parquet(f"{out}/stray-export"))
    got = find_orphans(spark, out).orderBy("orphan_dir")
    names = [r["orphan_dir"] for r in got.select("orphan_dir").collect()]
    if names != ["batch-00000099", "stray-export"]:
        raise RuntimeError(
            "ops_orphan_files: orphan scan surfaced an unexpected dir "
            f"set {names} (expected the two planted dirs) — real "
            "writer debris is present in the scratch table")
    return got


def q_query_basket_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket pair mining (association-rule prep): distinct
    part brands per order (fact x dim join — the dim side broadcasts),
    pair generation INSIDE the per-order sorted brand array via nested
    ``transform``/``slice`` (the text_cooccur shape — never a
    positional self-join, so cost is rows x pairs-per-basket, not
    rows²), support = number of orders containing the pair, top-20 by
    (support, brand pair).  The oracle replays it with an explicit
    equi-self-join — two independent pair constructions."""
    li = _table(spark, sf_dir, "lineitem")
    part = _table(spark, sf_dir, "part")
    ob = (li.join(part, li.l_partkey == part.p_partkey)
          .select("l_orderkey", "p_brand").distinct())
    baskets = ob.groupBy("l_orderkey").agg(
        F.array_sort(F.collect_set("p_brand")).alias("bs"))
    pairs = (baskets.select(F.explode(F.expr(
        "flatten(transform(bs, (x, i) -> "
        "transform(slice(bs, i + 2, size(bs)), "
        "y -> struct(x AS a, y AS b))))")).alias("p"))
        .select(F.col("p.a").alias("brand_a"),
                F.col("p.b").alias("brand_b")))
    counts = pairs.groupBy("brand_a", "brand_b").agg(
        F.count(F.lit(1)).alias("n_orders"))
    w = Window.orderBy(F.desc("n_orders"), "brand_a", "brand_b")
    return (counts.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= 20)
            .select("rank", "brand_a", "brand_b", "n_orders"))


def q_ops_incremental_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental change feed over the versioned table (the Delta
    CDF / Iceberg incremental-scan shape): four append commits by
    order priority, then read ONLY what commits 3 and 4 added — cost
    proportional to change volume, never table size
    (operators/versioned.py:read_changes).  The oracle rebuilds the
    feed from the commit plan: each surviving priority maps to its
    known commit version."""
    from dynamic_partitioner_spark.operators.versioned import (
        read_changes, versioned_write_slices)
    apply_engine_confs(spark)
    orders = _table(spark, sf_dir, "orders")
    out = _out("ops_incremental_scan")
    # four priority appends staged in ONE pass over orders (r16: was
    # four write jobs x four source scans)
    versioned_write_slices(
        orders.withColumn(
            "_slice", F.substring("o_orderpriority", 1, 1)), "_slice",
        [(1, "append"), (2, "append"), (3, "append"), (5, "append")],
        out)
    ch = read_changes(spark, out, since_version=2)
    return (ch.select("o_orderkey", "o_orderpriority",
                      F.col("_commit_version").alias("commit_version"))
            .orderBy("o_orderkey"))


def q_ops_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction planning end-to-end: write orders
    partitioned by priority with a deliberately tiny 300-row file cap,
    audit the physical layout via the ``_metadata`` virtual column (no
    data pages read), and run the rolling first-fit-decreasing planner
    into 1000-row bins.

    HASHED values are PURE DATA — the planner runs on the IDEALIZED
    deterministic decomposition derived from source counts (ceil(n/300)
    files of 300 plus one remainder — what any single writer produces),
    which the oracle replays exactly, bin arithmetic (running-total DIV
    target) and all.  Physical file decomposition is a scheduler
    property no plan can pin (the r8 driver flake: a task retry / AQE
    rewrite can split one key across two sequential writers), so the
    real write is certified LOUDLY instead of hashed (r9 VERDICT #2 —
    this key was hash-red in r8 AND r9 with no way to name the cause):
    per-key invariants that hold under ANY <=cap decomposition — every
    observed file <= 300 rows (cap), observed rows == table rows
    (total), observed file count >= ceil(n/300) (floor) — are checked
    Spark-side via _certify_booleans.  On violation the write is
    retried ONCE from a clean directory (the suspected mechanism is
    crash/retry debris in the scratch dir — the ops_orphan_files
    class), and a persistent violation RAISES with the observed
    per-file (pk, file, n_rows) decomposition, so the driver records a
    self-describing err.  A future driver hash-red on this key now
    unambiguously indicts the oracle dialect."""
    from dynamic_partitioner_spark.operators.partitioned_write import (
        plan_compaction)
    apply_engine_confs(spark)
    src = _table(spark, sf_dir, "orders")
    # trim(cast(...)) is the writer's own key normalization
    # (partition_keys.normalized_key_column) — the read-back pk comes
    # from directory names, which are TRIMMED; a raw pk here would
    # null the left-join booleans on any CHAR-padded source value
    # (classic TPC-H dbgen) and raise a false-positive certification
    # failure on a correct engine (r10 ADVICE)
    counts = (src
              .groupBy(F.trim(F.col("o_orderpriority").cast("string"))
                       .alias("pk"))
              .agg(F.count(F.lit(1)).alias("_n")))
    spec = SinkSpec(name="ord_compact_plan",
                    field_names=["o_orderpriority"],
                    max_records_per_file=300, cluster_by_key=False)
    for attempt in (1, 2):
        out = _out("ops_compaction_plan")  # rmtree + fresh dir each try
        write_partitioned(
            # explicit count — AQE-exempt, keys whole per task; see
            # ops_file_audit (r17: keyed-only form coalesced to 1 task)
            src.repartition(spark.sparkContext.defaultParallelism,
                            F.col("o_orderpriority")),
            spec, out)
        observed = (spark.read.parquet(out)
                    .select(F.col("o_orderpriority").cast("string")
                            .alias("pk"),
                            F.col("_metadata.file_path").alias("_file"))
                    .groupBy("pk", "_file")
                    .agg(F.count(F.lit(1)).alias("n_rows")))
        # counts is the LEFT side: a pk whose rows vanished entirely
        # from the physical write would produce NO observed row, and
        # an observed-side join would silently drop the audit row
        # (r10 review — the hashed relation is pure source data now,
        # so the missing key would otherwise read GREEN); left-join
        # nulls make every boolean falsy and _certify_booleans raises
        audit = (counts.join(
                     observed.groupBy("pk")
                     .agg(F.max("n_rows").alias("_mx"),
                          F.sum("n_rows").alias("_tot"),
                          F.count(F.lit(1)).alias("_nf")),
                     "pk", "left")
                 .select("pk",
                         (F.col("_mx") <= 300).alias("audit_cap_ok"),
                         (F.col("_tot") == F.col("_n"))
                         .alias("audit_total_ok"),
                         (F.col("_nf") >= F.ceil(F.col("_n") / 300))
                         .alias("audit_files_ok")))
        try:
            _certify_booleans("ops_compaction_plan", audit,
                              ["audit_cap_ok", "audit_total_ok",
                               "audit_files_ok"], observed)
            break
        except RuntimeError:
            if attempt == 2:
                raise
    per_file = (counts
                .select("pk", "_n",
                        F.explode(F.expr(
                            "sequence(1, cast(ceil(_n / 300.0) as int))"))
                        .alias("_file"))
                .select("pk", "_file",
                        F.when((F.col("_file") < F.ceil(F.col("_n") / 300))
                               | (F.col("_n") % 300 == 0), F.lit(300))
                        .otherwise(F.col("_n") % 300)
                        .cast("long").alias("n_rows")))
    plan = plan_compaction(per_file, ["pk"], "n_rows", target=1000,
                           tiebreak_cols=["_file"])
    return plan.select(
        "pk", "file_seq", "n_rows", "bin", "bin_size", "bin_files")


def _certify_sorted_write(key: str, truth: DataFrame, observed: DataFrame,
                          cap: int, min_col: str, max_col: str) -> None:
    """Loud physical certification of a sorted, row-capped sink write
    — shared by the layout-audit keys (r10 review: the boolean block
    was copy-pasted between ops_clustering_depth and
    ops_zorder_layout, so a future invariant fix had to land in both
    or the keys silently diverged).  ``truth`` carries per-key
    (pk, _n, _vlo, _vhi) from the SOURCE and is the join's LEFT side,
    so a partition key that vanished from the physical write yields
    null booleans and raises; ``observed`` carries per-file
    (pk, n_rows, min_col, max_col) from the read-back.  Invariants
    hold under ANY <=cap-file decomposition: cap, total, file-count
    floor, and the per-key sort-column envelope."""
    audit = (truth.join(
                 observed.groupBy("pk")
                 .agg(F.max("n_rows").alias("_mx"),
                      F.sum("n_rows").alias("_tot"),
                      F.count(F.lit(1)).alias("_nf"),
                      F.min(min_col).alias("_omin"),
                      F.max(max_col).alias("_omax")),
                 "pk", "left")
             .select("pk",
                     (F.col("_mx") <= cap).alias("audit_cap_ok"),
                     (F.col("_tot") == F.col("_n")).alias("audit_total_ok"),
                     (F.col("_nf") >= F.ceil(F.col("_n") / cap))
                     .alias("audit_files_ok"),
                     ((F.col("_omin") == F.col("_vlo"))
                      & (F.col("_omax") == F.col("_vhi")))
                     .alias("audit_range_ok")))
    _certify_booleans(key, audit,
                      ["audit_cap_ok", "audit_total_ok",
                       "audit_files_ok", "audit_range_ok"], observed)


def _idealized_file_stats(df: DataFrame, order_col: str,
                          stat_cols: list, truth: DataFrame,
                          cap: int) -> DataFrame:
    """Idealized positional per-file stats from the bounded value
    GRID — the shared decomposition arithmetic behind the layout
    keys (r10 review): a value cell occupies sorted positions
    [cum_before, cum_before + cnt), so it touches files
    cum_before div cap .. (cum_before + cnt - 1) div cap.  Per-file
    stats are deterministic however ties are ordered ONLY when the
    stats of tied rows are interchangeable — so the cumulative window
    orders by (order_col, *all stat cols): callers whose extra stat
    columns are functionally determined by order_col (both current
    keys: price band is the sort key itself; zval <-> (xb, yb) is a
    bijection) see identical results, and a future caller violating
    that gets a DETERMINISTIC tie order instead of a run-to-run
    hash flake (r10 review).  ``stat_cols`` is
    [(col, min_alias, max_alias), ...]; returns
    (pk, _fidx, n_rows, *aliases).  Never a per-row global sort —
    the grid is value-bounded, so the certification harness itself
    scales."""
    cols = [c for c, _, _ in stat_cols]
    grid = (df.groupBy(F.col("pk").cast("string").alias("pk"), *cols)
            .agg(F.count(F.lit(1)).alias("_cnt")))
    order = [order_col] + [c for c in cols if c != order_col]
    wg = Window.partitionBy("pk").orderBy(*order)
    grid = (grid.withColumn(
                "_cb", F.coalesce(F.sum("_cnt").over(
                    wg.rowsBetween(Window.unboundedPreceding, -1)),
                    F.lit(0)))
            .withColumn("_f0", F.expr(f"_cb div {cap}"))
            .withColumn("_f1", F.expr(f"(_cb + _cnt - 1) div {cap}")))
    aggs = []
    for c, mn, mx in stat_cols:
        aggs += [F.min(c).alias(mn), F.max(c).alias(mx)]
    return (grid.select("pk", *cols,
                        F.explode(F.expr("sequence(_f0, _f1)"))
                        .alias("_fidx"))
            .groupBy("pk", "_fidx").agg(*aggs)
            .join(truth.select("pk", "_n"), "pk")
            .withColumn(
                "n_rows",
                (F.least(F.lit(cap) * (F.col("_fidx") + 1), F.col("_n"))
                 - F.lit(cap) * F.col("_fidx")).cast("long")))


def q_ops_clustering_depth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Layout-quality audit end-to-end: orders written through the
    engine's sink sorted by a coarse price band (300-row files, strict
    per-key repartition + within-partition sort, so each file is a
    contiguous run of the sorted multiset), per-file (n_rows, vmin,
    vmax) collected from the read-back, then the interval-overlap
    depth (operators/partitioned_write.py:clustering_depth).  The
    depth operator runs on the IDEALIZED positional decomposition —
    file k of a partition holds sorted positions [300k, 300k+300),
    whose (n_rows, vmin, vmax) are deterministic however ties are
    ordered — which the oracle replays exactly; deliberate price-band
    ties straddling file boundaries make depth > 1 for real, so the
    metric isn't a constant-1 tautology.  HASHED values are PURE DATA
    — physical decomposition is a scheduler property (the r8
    ops_compaction_plan driver flake: a task retry / AQE rewrite can
    split one key across two sequential writers, and each writer's
    files are contiguous runs of ITS subset, not of the global
    multiset).  The real sorted write is certified LOUDLY via
    _certify_booleans (r9 VERDICT #3 — a violated invariant must
    raise a self-describing err, never a bare hash mismatch): per-key
    invariants that hold under ANY <=cap-file decomposition — every
    file <= 300 rows (audit_cap_ok), observed rows == table rows
    (audit_total_ok), file count >= ceil(n/300) (audit_files_ok), and
    the per-key [min(vmin), max(vmax)] envelope equals the table's
    value range (audit_range_ok).  The positional stats come from the
    bounded
    value GRID (distinct price bands, a few hundred rows per key) via
    a cumulative window + file-interval explode — never a per-row
    global sort, so the certification harness itself scales
    (tests/test_partitioned_write.py pins the sink's sorted-write
    contract per-commit)."""
    from dynamic_partitioner_spark.operators.partitioned_write import (
        clustering_depth)
    apply_engine_confs(spark)
    orders = _table(spark, sf_dir, "orders")
    # trim(cast(...)) mirrors the writer's key normalization
    # (normalized_key_column) so truth pk == read-back pk even on
    # CHAR-padded sources (r10 ADVICE; oracle trims identically)
    df = (orders.select(
            F.trim(F.col("o_orderpriority").cast("string")).alias("pk"),
            F.floor(F.col("o_totalprice") / 1000).cast("long").alias("v"))
          # explicit count — AQE-exempt, keys whole per task; see
          # ops_file_audit (r17: keyed-only form coalesced to 1 task)
          .repartition(spark.sparkContext.defaultParallelism,
                       F.col("pk")))
    out = _out("ops_clustering_depth")
    spec = SinkSpec(name="ord_cluster_depth", field_names=["pk"],
                    max_records_per_file=300, cluster_by_key=False,
                    sort_within=["v"])
    write_partitioned(df, spec, out)
    observed = (spark.read.parquet(out)
                .select(F.col("pk").cast("string").alias("pk"), "v",
                        F.col("_metadata.file_path").alias("_f"))
                .groupBy("pk", "_f")
                .agg(F.count(F.lit(1)).alias("n_rows"),
                     F.min("v").alias("vmin"), F.max("v").alias("vmax")))
    truth = (df.groupBy(F.col("pk").cast("string").alias("pk"))
             .agg(F.count(F.lit(1)).alias("_n"),
                  F.min("v").alias("_vlo"), F.max("v").alias("_vhi")))
    _certify_sorted_write("ops_clustering_depth", truth, observed,
                          cap=300, min_col="vmin", max_col="vmax")
    stats = _idealized_file_stats(
        df, "v", [("v", "vmin", "vmax")], truth, cap=300) \
        .select("pk", "n_rows", "vmin", "vmax")
    depth = clustering_depth(stats, ["pk"], "vmin", "vmax",
                             order_extra=["n_rows"])
    return depth.select(
        "pk", "n_rows", "vmin", "vmax", "file_seq", "depth")


def q_ops_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-dimensional (Z-order / Morton) clustering end-to-end —
    the lakehouse OPTIMIZE ZORDER primitive
    (functions/zorder.py:zorder_key): orders bucketed on
    TWO dimensions (customer bucket, price band), sort-written by the
    interleaved key through the engine's sink (300-row files), then
    the per-file PER-DIMENSION min/max envelopes — the file-skipping
    stats a 100 TB point/range query on EITHER dimension prunes by
    (1-d sort keeps only its own column's envelopes tight; the
    interleave bounds both at once, which tests/test_partitioned_write
    pins as strictly better x-pruning than a y-only sort).

    HASHED values are PURE DATA (the r10 ops design): the envelope
    relation is computed from the IDEALIZED positional decomposition
    — file k of a partition holds zval-sorted positions
    [300k, 300k+300), whose per-dimension envelopes are deterministic
    because zval <-> (xb, yb) is a bijection on the masked buckets —
    via the bounded (pk, zval) grid (<= 256 cells/pk), and the oracle
    replays it exactly, bit-interleave arithmetic included
    (zorder_key_sql — the same term-for-term expression, so the
    engines cannot drift).  The physical sorted write is certified
    LOUDLY via _certify_booleans (cap/total/files floor/z-range, the
    clustering_depth pattern; source side is the join's LEFT so a
    vanished partition key raises too)."""
    from dynamic_partitioner_spark.functions.zorder import zorder_key
    apply_engine_confs(spark)
    orders = _table(spark, sf_dir, "orders")
    # trim(cast(...)) mirrors the writer's key normalization
    # (normalized_key_column) so truth pk == read-back pk even on
    # CHAR-padded sources (r10 ADVICE; oracle trims identically)
    dims = orders.select(
        F.trim(F.col("o_orderpriority").cast("string")).alias("pk"),
        (F.col("o_custkey") % 16).cast("long").alias("xb"),
        F.least(F.floor(F.col("o_totalprice") / 30000),
                F.lit(15)).cast("long").alias("yb"))
    df = dims.withColumn("zval", zorder_key(["xb", "yb"], bits=4)) \
             .repartition(spark.sparkContext.defaultParallelism,
                          F.col("pk"))  # AQE-exempt; keys whole per task
    out = _out("ops_zorder_layout")
    spec = SinkSpec(name="ord_zorder", field_names=["pk"],
                    max_records_per_file=300, cluster_by_key=False,
                    sort_within=["zval"])
    write_partitioned(df, spec, out)
    observed = (spark.read.parquet(out)
                .select(F.col("pk").cast("string").alias("pk"), "zval",
                        F.col("_metadata.file_path").alias("_f"))
                .groupBy("pk", "_f")
                .agg(F.count(F.lit(1)).alias("n_rows"),
                     F.min("zval").alias("zmin"),
                     F.max("zval").alias("zmax")))
    truth = (df.groupBy(F.col("pk").cast("string").alias("pk"))
             .agg(F.count(F.lit(1)).alias("_n"),
                  F.min("zval").alias("_vlo"),
                  F.max("zval").alias("_vhi")))
    _certify_sorted_write("ops_zorder_layout", truth, observed,
                          cap=300, min_col="zmin", max_col="zmax")
    # zval <-> (xb, yb) bijection lets the grid carry both dimensions
    per = _idealized_file_stats(
        df, "zval",
        [("zval", "zmin", "zmax"), ("xb", "xmin", "xmax"),
         ("yb", "ymin", "ymax")], truth, cap=300)
    return (per.select(
                "pk", (F.col("_fidx") + 1).cast("long").alias("file_seq"),
                "n_rows",
                "zmin", "zmax", "xmin", "xmax", "ymin", "ymax")
            .orderBy("pk", "file_seq"))


def q_text_cooccur(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-100 windowed token co-occurrence pairs (window=2) — the
    word2vec/PMI prep primitive; pair generation stays inside the token
    array (no positional self-join), so the only shuffle is the final
    pair-count aggregate."""
    from dynamic_partitioner_spark.operators.vectorize import (
        cooccurrence_pairs)
    docs = _table(spark, sf_dir, "documents")
    return cooccurrence_pairs(docs, "text", window=2, top=100)


def q_text_phrases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 two-word phrases by the word2vec phrase score
    (operators/vectorize.py:phrase_collocations — discounted
    count-normalized collocation strength, exact-integer operands, no
    libm logs).  Complements text_cooccur (raw windowed pair counts)
    with the normalized score that separates real collocations from
    frequent-word coincidence."""
    from dynamic_partitioner_spark.operators.vectorize import (
        phrase_collocations)
    docs = _table(spark, sf_dir, "documents")
    return phrase_collocations(docs, "doc_id", "text",
                               delta=5, min_count=5, top=50)


def q_sample_group_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe split: every event of a user lands in one split
    (hash draw on user_id, not event_id) — per-split group/row counts
    prove the assignment; zero shuffle for the assignment itself."""
    from dynamic_partitioner_spark.operators.sampling import group_split
    events = _table(spark, sf_dir, "events")
    assigned = group_split(events, "user_id")
    return (assigned.groupBy("split")
            .agg(F.countDistinct("user_id").alias("n_users"),
                 F.count(F.lit(1)).alias("n_events")))


# =====================================================================
# Driver contract
# =====================================================================

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: dynamic-partitioned write + read-back at sf0.001."""
    return q_pw_single(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "partitioned_write_single": q_pw_single,
        "partitioned_write_multi": q_pw_multi,
        "partitioned_write_orc": q_pw_orc,
        "partitioned_write_avro": q_pw_avro,
        "partition_key_trim": q_key_trim,
        "append_mode": q_append_mode,
        "overwrite_dynamic": q_overwrite_dynamic,
        "payload_projection": q_payload_projection,
        "stage_tag": q_stage_tag,
        "nonnull_validation": q_nonnull_validation,
        "query_pruned_agg": q_pruned_agg,
        "query_join_broadcast": q_join_broadcast,
        "query_window_topk": q_window_topk,
        "query_rollup": q_rollup,
        "query_percentiles": q_percentiles,
        "events_json_extract": q_json_extract,
        "events_asof_join": q_asof_join,
        "events_range_join": q_range_join,
        "query_rollup_grains": q_rollup_grains,
        "query_bucketed_join": q_bucketed_join,
        "source_csv_roundtrip": q_source_csv,
        "source_jsonl_roundtrip": q_source_jsonl,
        "sample_hash": q_sample_hash,
        "sample_split": q_sample_split,
        "sample_cap_group": q_sample_cap_group,
        "sample_mixture": q_sample_mixture,
        "dedup_exact": q_dedup_exact,
        "dedup_minhash": q_dedup_minhash,
        "dedup_ngram_jaccard": q_dedup_ngram_jaccard,
        "dedup_simhash": q_dedup_simhash,
        "dedup_simhash_pairs": q_dedup_simhash_pairs,
        "dedup_incremental": q_dedup_incremental,
        "dedup_clusters": q_dedup_clusters,
        "dedup_embedding": q_dedup_embedding,
        "dedup_embedding_lsh": q_dedup_embedding_lsh,
        "corpus_quality_filter": q_corpus_quality_filter,
        "corpus_pipeline": q_corpus_pipeline,
        "similarity_topk": q_similarity_topk,
        "similarity_ann_lsh": q_similarity_ann,
        "similarity_ann_ivf": q_similarity_ivf,
        "similarity_ivf_pruned": q_similarity_ivf_pruned,
        "similarity_ivf2_topk": q_similarity_ivf2_topk,
        "text_stats": q_text_stats,
        "text_lang_id": q_text_lang_id,
        "text_top_ngrams": q_text_top_ngrams,
        "text_quality": q_text_quality,
        "text_fingerprint": q_text_fingerprint,
        "text_signals": q_text_signals,
        "text_repetition": q_text_repetition,
        "text_clean": q_text_clean,
        "text_pack": q_text_pack,
        "text_hashed_vector": q_text_hashed_vector,
        "embedding_roundtrip": q_embedding_roundtrip,
        "mm_binary_stats": q_mm_binary_stats,
        "mm_features": q_mm_features,
        "mm_decode_png": q_mm_decode_png,
        "mm_png_meta": q_mm_png_meta,
        "mm_dhash": q_mm_dhash,
        "mm_wav_stats": q_mm_wav_stats,
        "mm_frame_sample": q_mm_frame_sample,
        "catalog_table": q_catalog_table,
        "partition_compact": q_partition_compact,
        "merge_upsert": q_merge_upsert,
        "streaming_partitioned_write": q_streaming_write,
        "event_sessionize": q_sessionize,
        "streaming_windowed_agg": q_streaming_windowed_agg,
        "streaming_late_audit": q_streaming_late_audit,
        "streaming_ttl_eviction": q_streaming_ttl_eviction,
        "streaming_stateful_counts": q_streaming_stateful,
        "streaming_dedup": q_streaming_dedup,
        "query_sliding_window": q_sliding_window,
        "query_salted_join": q_salted_join,
        "query_profile": q_profile,
        "events_funnel": q_funnel,
        "query_distinct_agg": q_distinct_agg,
        "query_pivot": q_pivot,
        "query_approx_distinct": q_approx_distinct,
        "query_event_gaps": q_event_gaps,
        "cdc_apply": q_cdc_apply,
        "dedup_decontaminate": q_decontaminate,
        "text_chunk": q_text_chunk,
        "streaming_join": q_streaming_join,
        "query_semi_anti": q_semi_anti,
        "query_cube": q_cube,
        "sorted_export": q_sorted_export,
        "streaming_upsert": q_streaming_upsert,
        "text_vocab": q_text_vocab,
        "text_token_ids": q_text_token_ids,
        "sample_stratified": q_sample_stratified,
        "text_chunk_dedup": q_chunk_dedup,
        "query_approx_percentiles": q_approx_percentiles,
        "query_snapshot_diff": q_snapshot_diff,
        "source_fixed_width_roundtrip": q_source_fixed_width,
        "source_xml_roundtrip": q_source_xml,
        "source_binaryfile": q_source_binaryfile,
        "query_set_ops": q_set_ops,
        "query_histogram": q_histogram,
        "events_transitions": q_transitions,
        "dedup_fuzzy": q_dedup_fuzzy,
        "text_tfidf": q_text_tfidf,
        "sorted_export_zorder": q_sorted_export_zorder,
        "events_retention": q_retention,
        "text_lm_score": q_text_lm_score,
        "events_ffill": q_events_ffill,
        "privacy_k_anon": q_k_anonymize,
        "mm_binary_roundtrip": q_mm_binary_roundtrip,
        "query_grouping_sets": q_grouping_sets,
        "events_rolling_1h": q_events_rolling,
        "embedding_quantize": q_embedding_quantize,
        "embedding_grammian": q_embedding_grammian,
        "text_bpe_pairs": q_text_bpe_pairs,
        "events_anomaly": q_events_anomaly,
        "similarity_int8_topk": q_similarity_int8,
        "similarity_bq_topk": q_similarity_bq,
        "dedup_containment": q_dedup_containment,
        "privacy_l_diversity": q_privacy_l_diversity,
        "sample_temperature": q_sample_temperature,
        "text_entropy": q_text_entropy,
        "text_winnow": q_text_winnow,
        "privacy_dp_count": q_privacy_dp_count,
        "privacy_t_closeness": q_privacy_t_closeness,
        "mm_resize": q_mm_resize,
        "query_scd2": q_scd2,
        "events_densify": q_events_densify,
        "dedup_survivorship": q_dedup_survivorship,
        "events_asof_nearest": q_asof_nearest,
        "query_windowed_distinct": q_windowed_distinct,
        "dedup_url": q_dedup_url,
        "dedup_spans": q_dedup_spans,
        "text_span_novelty": q_text_span_novelty,
        "mm_mime_sniff": q_mm_mime_sniff,
        "query_quantile_bins": q_quantile_bins,
        "similarity_pq_rerank": q_similarity_pq,
        "query_unpivot": q_unpivot,
        "dedup_semantic": q_dedup_semantic,
        "dedup_fuzzy2": q_dedup_fuzzy2,
        "dedup_apply": q_dedup_apply,
        "query_heavy_hitters": q_heavy_hitters,
        "query_incremental_agg": q_incremental_agg,
        "source_schema_evolution": q_source_schema_evolution,
        "text_pii_redact": q_text_pii_redact,
        "text_strip_html": q_text_strip_html,
        "query_salted_join_auto": q_salted_join_auto,
        "text_scrub_chunks": q_text_scrub_chunks,
        "sample_topk": q_sample_topk,
        "sample_weighted": q_sample_weighted,
        "events_delay_audit": q_events_delay_audit,
        "streaming_sessionize": q_streaming_sessionize,
        "sample_epoch_shuffle": q_sample_epoch_shuffle,
        "query_decimal_agg": q_decimal_agg,
        "query_target_encoding": q_target_encoding,
        "query_mad": q_query_mad,
        "privacy_pseudonymize": q_privacy_pseudonymize,
        "query_hll_mergeable": q_hll_mergeable,
        "embedding_pca": q_embedding_pca,
        "mm_tar_shards": q_mm_tar_shards,
        "events_seq_ngrams": q_seq_ngrams,
        "events_ohlc": q_events_ohlc,
        "events_ewma": q_events_ewma,
        "events_interval_union": q_events_interval_union,
        "query_skew_profile": q_skew_profile,
        "sample_group_split": q_sample_group_split,
        "text_cooccur": q_text_cooccur,
        "ops_file_audit": q_ops_file_audit,
        "ops_metadata_files": q_ops_metadata_files,
        "ops_compaction_plan": q_ops_compaction_plan,
        "ops_compact_execute": q_ops_compact_execute,
        "ops_clustering_depth": q_ops_clustering_depth,
        "ops_retention_vacuum": q_ops_retention_vacuum,
        "ops_incremental_scan": q_ops_incremental_scan,
        "ops_orphan_files": q_ops_orphan_files,
        "ops_zorder_layout": q_ops_zorder_layout,
        "query_basket_pairs": q_query_basket_pairs,
        "embedding_prefix_eval": q_embedding_prefix_eval,
        "partitioned_write_transforms": q_partitioned_write_transforms,
        "text_bpe_learn": q_text_bpe_learn,
        "text_bpe_encode": q_text_bpe_encode,
        "sketch_cms": q_sketch_cms,
        "query_bloom_join": q_bloom_join,
        "query_lag_features": q_lag_features,
        "events_attribution": q_events_attribution,
        "source_time_travel": q_source_time_travel,
        "ops_snapshot_manifest": q_ops_snapshot_manifest,
        "ops_pruned_read": q_ops_pruned_read,
        "ops_pruned_read_zorder": q_ops_pruned_read_zorder,
        "query_sql_tpch_q1": q_sql_tpch_q1,
        "query_sql_tpch_q3": q_sql_tpch_q3,
        "query_sql_tpch_q5": q_sql_tpch_q5,
        "query_sql_tpch_q6": q_sql_tpch_q6,
        "query_sql_tpch_q4": q_sql_tpch_q4,
        "query_sql_tpch_q7": q_sql_tpch_q7,
        "query_sql_tpch_q10": q_sql_tpch_q10,
        "query_sql_tpch_q13": q_sql_tpch_q13,
        "query_sql_tpch_q14": q_sql_tpch_q14,
        "query_sql_tpch_q15": q_sql_tpch_q15,
        "query_sql_tpch_q17": q_sql_tpch_q17,
        "query_sql_tpch_q18": q_sql_tpch_q18,
        "query_sql_tpch_q2": q_sql_tpch_q2,
        "query_sql_tpch_q8": q_sql_tpch_q8,
        "query_sql_tpch_q9": q_sql_tpch_q9,
        "query_sql_tpch_q11": q_sql_tpch_q11,
        "query_sql_tpch_q12": q_sql_tpch_q12,
        "query_sql_tpch_q16": q_sql_tpch_q16,
        "query_sql_tpch_q19": q_sql_tpch_q19,
        "query_sql_tpch_q20": q_sql_tpch_q20,
        "query_sql_tpch_q21": q_sql_tpch_q21,
        "query_sql_tpch_q22": q_sql_tpch_q22,
        "query_sql_recursive": q_sql_recursive,
        "events_props_extract": q_events_props_extract,
        "text_template_skeleton": q_text_template_skeleton,
        "corpus_budget_alloc": q_corpus_budget_alloc,
        "events_rfm": q_events_rfm,
        "graph_triangles": q_graph_triangles,
        "graph_neighbor_jaccard": q_graph_neighbor_jaccard,
        "text_phrases": q_text_phrases,
        "sample_importance": q_sample_importance,
        "text_langid_confusion": q_text_langid_confusion,
        "privacy_dp_sum": q_privacy_dp_sum,
        "embedding_threshold_sweep": q_embedding_threshold_sweep,
        "query_auc": q_query_auc,
        "events_seasonal_naive": q_events_seasonal_naive,
        "query_sql_rank_suite": q_sql_rank_suite,
        "query_sql_window_frames": q_sql_window_frames,
        "events_audience_overlap": q_events_audience_overlap,
        "text_readability": q_text_readability,
        "events_changepoint": q_events_changepoint,
        "privacy_randomized_response": q_privacy_randomized_response,
        "events_survival": q_events_survival,
        "source_csv_corrupt_audit": q_source_csv_corrupt_audit,
        "events_ab_test": q_events_ab_test,
        "events_did": q_events_did,
        "events_drift_chi2": q_events_drift_chi2,
        "query_gini": q_query_gini,
        "events_power": q_events_power,
        "events_cuped": q_events_cuped,
        "query_sql_lateral": q_sql_lateral,
        "events_funnel_windowed": q_events_funnel_windowed,
        "privacy_k_histogram": q_privacy_k_histogram,
        "corpus_dup_report": q_corpus_dup_report,
        "events_cohort_value": q_events_cohort_value,
        "sample_kfold": q_sample_kfold,
        "sample_neyman": q_sample_neyman,
        "quality_expectations": q_quality_expectations,
        "similarity_hybrid_rrf": q_similarity_hybrid,
        "events_cumulative_users": q_events_cumulative_users,
        "sample_balance_labels": q_sample_balance_labels,
        "embedding_outliers": q_embedding_outliers,
        "events_conformance": q_events_conformance,
        "mm_dedup_binary": q_mm_dedup_binary,
        "text_bm25": q_text_bm25,
        "text_bm25_retrieve": q_text_bm25_retrieve,
        "text_rake": q_text_rake,
        "sample_bootstrap": q_sample_bootstrap,
        "events_seq_lm": q_events_seq_lm,
        "events_bursts": q_events_bursts,
        "query_geo_join": q_geo_join,
        "graph_pagerank": q_graph_pagerank,
        "streaming_expectations": q_streaming_expectations,
    }


_SESSIONIZE_SQL = """
    WITH e AS (
        SELECT user_id, ts, value,
               -- session_window merges an event landing exactly at
               -- the previous window's end (gap <= merges), so a
               -- new session needs a STRICTLY greater gap
               CASE WHEN lag(ts) OVER w IS NULL
                         OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                    THEN 1 ELSE 0 END AS new_s
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ), s AS (
        SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                                   ROWS UNBOUNDED PRECEDING) AS sess
        FROM e
    )
    SELECT user_id,
           strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           count(*) AS n_events,
           round(sum(value), 2) AS total_value
    FROM s GROUP BY user_id, sess
"""


def _dp_oracle() -> str:
    from dynamic_partitioner_spark.operators.privacy import (
        dp_noisy_counts_sql)
    return dp_noisy_counts_sql(
        ["nation"], 1.0,
        from_table="(SELECT CAST(c_nationkey AS VARCHAR) AS nation "
                   "FROM customer)")


def _zorder_oracle() -> str:
    from dynamic_partitioner_spark.functions.zorder import zorder_sql
    return ("SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey, "
            f"{zorder_sql(_ZSPECS, 8)} AS z FROM lineitem")


def _zorder_oracle_sql() -> str:
    """DuckDB twin of q_ops_zorder_layout's idealized envelope
    relation — the interleave expression is generated by the same
    zorder_key_sql the Spark column uses."""
    from dynamic_partitioner_spark.functions.zorder import (
        zorder_key_sql)
    zsql = zorder_key_sql(["xb", "yb"], bits=4)
    return f"""
        WITH v AS (
            SELECT trim(CAST(o_orderpriority AS VARCHAR)) AS pk,
                   CAST(o_custkey % 16 AS BIGINT) AS xb,
                   CAST(least(floor(o_totalprice / 30000), 15)
                        AS BIGINT) AS yb
            FROM orders),
        z AS (SELECT pk, xb, yb, CAST({zsql} AS BIGINT) AS zval
              FROM v),
        g AS (SELECT pk, zval, xb, yb, count(*) AS cnt
              FROM z GROUP BY ALL),
        c AS (SELECT pk, zval, xb, yb, cnt,
                     CAST(coalesce(sum(cnt) OVER (
                         PARTITION BY pk ORDER BY zval
                         ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND 1 PRECEDING), 0) AS BIGINT) AS cb
              FROM g),
        f AS (SELECT pk, zval, xb, yb,
                     unnest(generate_series(cb // 300,
                                            (cb + cnt - 1) // 300))
                         AS fidx
              FROM c),
        per AS (SELECT pk, fidx,
                       min(zval) AS zmin, max(zval) AS zmax,
                       min(xb) AS xmin, max(xb) AS xmax,
                       min(yb) AS ymin, max(yb) AS ymax
                FROM f GROUP BY pk, fidx),
        n AS (SELECT pk, count(*) AS n FROM v GROUP BY pk)
        SELECT per.pk, CAST(fidx + 1 AS BIGINT) AS file_seq,
               CAST(least(300 * (fidx + 1), n) - 300 * fidx
                    AS BIGINT) AS n_rows,
               zmin, zmax, xmin, xmax, ymin, ymax
        FROM per JOIN n ON per.pk = n.pk
    """


def _zorder_pruned_oracle_sql() -> str:
    """DuckDB twin of q_ops_pruned_read_zorder: the pruned read is
    row-exact (conservative file pruning + residual filter), so the
    oracle replays the bucket arithmetic and the two-column predicate;
    zval comes from the same term-for-term zorder_key_sql the Spark
    column uses."""
    from dynamic_partitioner_spark.functions.zorder import (
        zorder_key_sql)
    zsql = zorder_key_sql(["xb", "yb"], bits=4)
    return f"""
        WITH v AS (SELECT o_orderkey,
                          CAST(o_custkey % 16 AS BIGINT) AS xb,
                          CAST(least(floor(o_totalprice / 30000), 15)
                               AS BIGINT) AS yb
                   FROM orders)
        SELECT o_orderkey, xb, yb, CAST({zsql} AS BIGINT) AS zval
        FROM v WHERE xb <= 7 AND yb <= 7
    """


def oracle_sql() -> dict[str, str]:
    from dynamic_partitioner_spark.operators import graph as _GRAPH_MOD
    from dynamic_partitioner_spark.operators import privacy as _PRIVACY_MOD
    from dynamic_partitioner_spark.operators import similarity as _SIM_MOD
    from dynamic_partitioner_spark.operators import relational as REL
    from dynamic_partitioner_spark.operators import sampling as SMP
    from dynamic_partitioner_spark.operators.vectorize import (
        hashed_counts_sql)

    from dynamic_partitioner_spark.streaming.stateful import (
        _interval_to_us)

    # the TTL-eviction oracle interpolates the SAME parsed durations
    # the Spark key passes to run_ttl_eviction_audit (r12 review)
    _ttl_ms = _interval_to_us(_TTL_EVICTION_TTL) // 1000
    _ttl_delay_ms = _interval_to_us(_TTL_EVICTION_DELAY) // 1000
    _ttl_chunk_us = _TTL_EVICTION_CHUNK_DAYS * 86_400_000_000
    _ttl_cutoff_us = _TTL_EVICTION_CUTOFF_US

    tok = TX.TOKEN_COUNT_SQL.format(c="text")
    bpe = TX.BPE_TOKEN_COUNT_SQL.format(c="text")
    punct = TX.PUNCT_RATIO_SQL.format(c="text")

    li_full = f"SELECT {_LI_SELECT_SQL} FROM lineitem"

    # n-gram shingles in DuckDB, matching dedup.shingles(c, n): start
    # positions 1..len-n+1, distinct, empty for texts shorter than n
    def _shingles_n(col: str, n: int) -> str:
        toks = f"string_split_regex(trim(lower({col})), '[ \t\n\r]+')"
        return (f"list_distinct(list_transform("
                f"range(1, greatest(len({toks}) - {n - 2}, 1)), "
                f"i -> array_to_string(list_slice({toks}, i, i + {n - 1}), "
                f"' ')))")

    # 3-gram shingles + jaccard in DuckDB for the exact near-dup oracle
    def _shingles(col: str) -> str:
        toks = f"string_split_regex(trim(lower({col})), '[ \t\n\r]+')"
        return (f"list_distinct(list_transform("
                f"range(1, greatest(len({toks}) - 1, 1)), "
                f"i -> array_to_string(list_slice({toks}, i, i + 2), ' ')))")

    # floor-round, not round(): Spark HALF_UP vs DuckDB double-round
    # differ on exact midpoints, and jaccard (ratio of small ints) hits
    # 5th-decimal midpoints for real — same formula both engines
    jacc = ("floor((CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / "
            "len(list_distinct(list_concat(a.sh, b.sh)))) * 10000 + 0.5) "
            "/ 10000")
    cont = ("floor((CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / "
            "least(len(a.sh), len(b.sh))) * 10000 + 0.5) / 10000")

    # integer BT.601 luma of synthetic-PNG pixel p (p = row·width+col)
    # straight from the SQL-expressible pixel rule — no PNG machinery
    # (formats/png_py.py:synthetic_pixel; the mm_dhash twin)
    def _png_luma(p: str) -> str:
        def pix(i: str) -> str:
            return (f"((doc_id * 7919 + ({i}) * 37 "
                    f"+ (({i}) % 11) * 13) % 256)")
        base = f"(4 * ({p}))"
        return (f"(299 * {pix(base)} + 587 * {pix(base + ' + 1')} "
                f"+ 114 * {pix(base + ' + 2')})")

    from dynamic_partitioner_spark.operators.quantize import sign_half_sql
    _QZ_HI = sign_half_sql("embedding", 32)
    _QZ_LO = sign_half_sql("embedding", 0)

    return {
        "partitioned_write_single": li_full,
        "partitioned_write_multi": li_full,
        "partitioned_write_orc": (
            "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, "
            f"strftime(o_orderdate, '{_TS_FMT_DUCK}') AS o_orderdate, "
            "o_orderpriority FROM orders"),
        "partitioned_write_avro": (
            "SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority, "
            "trim(CAST(o_orderstatus AS VARCHAR)) AS o_orderstatus "
            "FROM orders"),
        "partition_key_trim": (
            "SELECT l_orderkey, l_linenumber, "
            "trim(concat('  ', l_returnflag, ' ')) AS rf_pad, "
            "CAST(l_quantity AS VARCHAR) AS l_quantity FROM lineitem"),
        "append_mode": li_full,
        "overwrite_dynamic": li_full,
        "payload_projection": (
            "SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber, "
            "l_quantity, l_extendedprice, l_discount, l_tax, "
            f"strftime(l_shipdate, '{_TS_FMT_DUCK}') AS l_shipdate FROM lineitem"),
        "stage_tag": (
            "SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority, "
            "trim(CAST(o_orderstatus AS VARCHAR)) AS o_orderstatus, "
            "'ingest' AS _stage FROM orders"),
        "nonnull_validation": """
            SELECT 'lang' AS field,
                   CAST(sum(CASE WHEN lang IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
                   CAST(sum(CASE WHEN contains(trim(CAST(lang AS VARCHAR)), '/')
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_slash,
                   count(*) AS n_rows
            FROM documents
            UNION ALL
            SELECT 'source',
                   CAST(sum(CASE WHEN source IS NULL THEN 1 ELSE 0 END) AS BIGINT),
                   CAST(sum(CASE WHEN contains(trim(CAST(source AS VARCHAR)), '/')
                       THEN 1 ELSE 0 END) AS BIGINT), count(*)
            FROM documents
            UNION ALL
            SELECT 'props',
                   CAST(sum(CASE WHEN props IS NULL THEN 1 ELSE 0 END) AS BIGINT),
                   CAST(sum(CASE WHEN contains(trim(CAST(props AS VARCHAR)), '/')
                       THEN 1 ELSE 0 END) AS BIGINT), count(*)
            FROM events
        """,
        "query_pruned_agg": """
            SELECT l_linestatus,
                   round(sum(l_quantity), 2) AS sum_qty,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
                   count(*) AS n_rows
            FROM lineitem
            WHERE trim(CAST(l_returnflag AS VARCHAR)) = 'A'
            GROUP BY l_linestatus
        """,
        "query_join_broadcast": """
            SELECT o_orderkey,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
                   count(*) AS n_items
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            WHERE c_mktsegment = 'BUILDING'
            GROUP BY o_orderkey
            ORDER BY revenue DESC, o_orderkey
            LIMIT 10
        """,
        "query_window_topk": """
            SELECT user_id, event_id, event_type, round(value, 4) AS value, rnk
            FROM (SELECT user_id, event_id, event_type, value,
                         row_number() OVER (PARTITION BY user_id
                             ORDER BY value DESC, event_id) AS rnk
                  FROM events)
            WHERE rnk <= 3
        """,
        "sample_hash": (
            "SELECT doc_id, lang, source FROM documents WHERE "
            + SMP.hash_unit_sql("doc_id") + " < 0.1"),
        "sample_split": (
            "SELECT doc_id, " + SMP.split_assign_sql("doc_id")
            + " AS split FROM documents"),
        "sample_cap_group": SMP.cap_per_group_sql(
            "doc_id, lang", "lang", "doc_id", 20),
        "sample_mixture": SMP.mix_by_weights_sql(
            "doc_id, source, lang", "source", "doc_id",
            _MIX_WEIGHTS, _MIX_TOTAL),
        "sample_temperature": SMP.temperature_mixture_sql(
            "doc_id, lang, source", "source", "doc_id", 300),
        "privacy_dp_count": _dp_oracle(),
        # exact integer TVD numerator over the full (class x domain)
        # grid; absent cells contribute g_i*n_c; the class join is
        # NULL-SAFE (IS NOT DISTINCT FROM) like the operator's
        "privacy_t_closeness": f"""
            WITH b AS (SELECT o_orderpriority AS q, o_orderstatus AS s
                       FROM orders WHERE o_orderstatus IS NOT NULL),
            n AS (SELECT count(*) AS ng FROM b),
            cls AS (SELECT q, s, count(*) AS c FROM b GROUP BY q, s),
            ct AS (SELECT q, CAST(sum(c) AS BIGINT) AS nc
                   FROM cls GROUP BY q),
            g AS (SELECT s, count(*) AS gc FROM b GROUP BY s),
            grid AS (SELECT ct.q, ct.nc, g.s, g.gc,
                            coalesce(cls.c, 0) AS c
                     FROM ct CROSS JOIN g
                     LEFT JOIN cls ON cls.q IS NOT DISTINCT FROM ct.q
                                  AND cls.s = g.s),
            num AS (SELECT q, nc,
                           CAST(sum(abs(c * (SELECT ng FROM n)
                                        - gc * nc)) AS BIGINT) AS nm
                    FROM grid GROUP BY q, nc)
            SELECT q AS o_orderpriority, nc AS n_class,
                   {ROUND4_SQL.format(
                       x='CAST(nm AS DOUBLE) / (2.0 * CAST(nc AS DOUBLE)'
                         ' * CAST((SELECT ng FROM n) AS DOUBLE))')}
                       AS tvd
            FROM num
        """,
        "query_unpivot": """
            WITH wide AS (
                SELECT CAST(c_nationkey AS BIGINT) AS nation,
                       floor(sum(c_acctbal) * 100 + 0.5) / 100
                           AS total_bal,
                       floor(avg(c_acctbal) * 100 + 0.5) / 100
                           AS avg_bal,
                       CAST(count(*) AS DOUBLE) AS n_customers
                FROM customer GROUP BY 1)
            SELECT nation, metric, value
            FROM wide
            UNPIVOT (value FOR metric
                     IN (total_bal, avg_bal, n_customers))
        """,
        "query_quantile_bins": """
            WITH cuts AS (
                SELECT event_type,
                       quantile_cont(value, 0.25) AS q1,
                       quantile_cont(value, 0.5) AS q2,
                       quantile_cont(value, 0.75) AS q3
                FROM events GROUP BY event_type)
            SELECT e.event_type,
                   CASE WHEN value <= q1 THEN 0
                        WHEN value <= q2 THEN 1
                        WHEN value <= q3 THEN 2
                        ELSE 3 END AS bucket,
                   count(*) AS n_events
            FROM events e JOIN cuts USING (event_type)
            GROUP BY 1, 2
        """,
        "mm_mime_sniff": """
            SELECT doc_id,
                   CASE doc_id % 6
                       WHEN 0 THEN 'image/png'
                       WHEN 1 THEN 'application/pdf'
                       WHEN 2 THEN 'image/jpeg'
                       WHEN 3 THEN 'application/gzip'
                       WHEN 4 THEN 'application/zip'
                       ELSE 'text/plain' END AS mime,
                   strlen(text) + (CASE doc_id % 6
                       WHEN 0 THEN 8 WHEN 1 THEN 5 WHEN 2 THEN 4
                       WHEN 3 THEN 3 WHEN 4 THEN 4 ELSE 0 END)
                       AS n_bytes
            FROM documents
        """,
        "text_span_novelty": """
            WITH t AS (SELECT doc_id,
                              string_split_regex(trim(lower(text)),
                                                 '[ \t\n\r]+') AS toks
                       FROM documents),
            f AS (SELECT doc_id, toks, len(toks) AS n FROM t
                  WHERE len(toks) >= 8),
            s0 AS (SELECT doc_id, toks,
                          unnest(generate_series(1, n - 7)) AS i
                   FROM f),
            s AS (SELECT doc_id,
                         array_to_string(toks[i:i+7], ' ') AS span
                  FROM s0),
            g AS (SELECT span, count(DISTINCT doc_id) AS docs
                  FROM s GROUP BY span)
            SELECT doc_id, count(*) AS n_spans,
                   CAST(sum(CASE WHEN docs >= 2 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_shared,
                   floor((1 - CAST(sum(CASE WHEN docs >= 2 THEN 1
                                       ELSE 0 END) AS DOUBLE)
                          / count(*)) * 10000 + 0.5) / 10000 AS novelty
            FROM s JOIN g USING (span)
            GROUP BY doc_id
        """,
        "dedup_spans": """
            WITH t AS (SELECT doc_id,
                              string_split_regex(trim(lower(text)),
                                                 '[ \t\n\r]+') AS toks
                       FROM documents),
            f AS (SELECT doc_id, toks, len(toks) AS n FROM t
                  WHERE len(toks) >= 8),
            s0 AS (SELECT doc_id, toks,
                          unnest(generate_series(1, n - 7)) AS i
                   FROM f),
            s AS (SELECT doc_id,
                         array_to_string(toks[i:i+7], ' ') AS span
                  FROM s0),
            c AS (SELECT span, count(DISTINCT doc_id) AS n_docs,
                         count(*) AS n_occurrences,
                         min(doc_id) AS first_doc
                  FROM s GROUP BY span
                  HAVING count(DISTINCT doc_id) >= 2)
            SELECT span, n_docs, n_occurrences, first_doc,
                   row_number() OVER (ORDER BY n_occurrences DESC, span)
                       AS rnk
            FROM c QUALIFY rnk <= 50
        """,
        "dedup_url": f"""
            WITH raw AS (
                SELECT doc_id,
                       concat(
                           CASE WHEN doc_id % 2 = 0 THEN 'https://'
                                ELSE 'HTTPS://' END,
                           'Ex', CAST(doc_id % 50 AS VARCHAR), '.ORG',
                           CASE WHEN doc_id % 3 = 0 THEN ':443'
                                ELSE '' END,
                           '/path', CAST(doc_id % 4 AS VARCHAR), '/',
                           CASE WHEN doc_id % 2 = 0
                                THEN concat('?utm_source=x&item=',
                                            CAST(doc_id % 5 AS VARCHAR))
                                ELSE concat('?item=',
                                            CAST(doc_id % 5 AS VARCHAR))
                           END,
                           CASE WHEN doc_id % 7 = 0 THEN '#frag'
                                ELSE '' END) AS u
                FROM documents)
            SELECT {TX.CANON_URL_SQL.format(c='u')} AS url,
                   count(*) AS n_aliases,
                   min(doc_id) AS first_doc
            FROM raw GROUP BY 1
        """,
        "query_windowed_distinct": """
            SELECT epoch_us(ts) // 3600000000 AS hour_idx,
                   event_type,
                   count(DISTINCT user_id) AS n_users,
                   count(*) AS n_events
            FROM events GROUP BY 1, 2
        """,
        "events_asof_nearest": """
            WITH evs AS (
                SELECT event_id, user_id, event_type, epoch_us(ts) AS t
                FROM events WHERE event_type IN ('click', 'error')
            ), run AS (
                SELECT *,
                       max(CASE WHEN event_type = 'click' THEN t END)
                           OVER (PARTITION BY user_id ORDER BY t, event_id
                                 ROWS UNBOUNDED PRECEDING) AS back,
                       min(CASE WHEN event_type = 'click' THEN t END)
                           OVER (PARTITION BY user_id ORDER BY t, event_id
                                 ROWS BETWEEN CURRENT ROW
                                 AND UNBOUNDED FOLLOWING) AS fwd
                FROM evs
            )
            SELECT event_id, user_id, t AS ts_us,
                   CASE WHEN back IS NULL THEN fwd
                        WHEN fwd IS NULL THEN back
                        WHEN t - back <= fwd - t THEN back
                        ELSE fwd END AS nearest_click_us,
                   abs((CASE WHEN back IS NULL THEN fwd
                             WHEN fwd IS NULL THEN back
                             WHEN t - back <= fwd - t THEN back
                             ELSE fwd END) - t) AS delta_us
            FROM run WHERE event_type = 'error'
        """,
        "dedup_survivorship": """
            WITH recs AS (
                SELECT c_custkey % 500 AS cluster_id,
                       c_custkey AS seq,
                       CASE WHEN c_custkey % 3 != 0
                            THEN trim(CAST(c_name AS VARCHAR)) END AS name,
                       CASE WHEN c_custkey % 5 != 0
                            THEN round(c_acctbal, 2) END AS acctbal,
                       CASE WHEN c_custkey % 7 != 0
                            THEN trim(CAST(c_mktsegment AS VARCHAR))
                       END AS segment
                FROM customer)
            SELECT cluster_id,
                   count(*) AS n_members,
                   max(seq) AS latest_seq,
                   arg_max(name, seq) FILTER (WHERE name IS NOT NULL)
                       AS name,
                   arg_max(acctbal, seq) FILTER (WHERE acctbal IS NOT NULL)
                       AS acctbal,
                   arg_max(segment, seq) FILTER (WHERE segment IS NOT NULL)
                       AS segment
            FROM recs GROUP BY cluster_id
        """,
        "events_densify": """
            WITH e AS (SELECT user_id,
                              epoch_us(ts) // 3600000000 AS b
                       FROM events),
            c AS (SELECT user_id, b, count(*) AS n FROM e
                  GROUP BY user_id, b),
            s AS (SELECT user_id, min(b) AS lo, max(b) AS hi FROM c
                  GROUP BY user_id),
            g AS (SELECT user_id, unnest(range(lo, hi + 1)) AS b FROM s)
            SELECT g.user_id, g.b AS bucket_idx,
                   coalesce(n, 0) AS n_events
            FROM g LEFT JOIN c
              ON g.user_id IS NOT DISTINCT FROM c.user_id
             AND g.b = c.b
        """,
        "query_scd2": f"""
            WITH ch AS (SELECT l_orderkey,
                               {_CDC_SEQ_SQL} AS seq,
                               round(l_quantity, 2) AS quantity
                        FROM lineitem)
            SELECT l_orderkey,
                   seq AS valid_from,
                   lead(seq) OVER w AS valid_to,
                   (lead(seq) OVER w IS NULL) AS is_current,
                   quantity
            FROM ch
            WINDOW w AS (PARTITION BY l_orderkey ORDER BY seq)
        """,
        "mm_resize": """
            WITH ex AS (SELECT doc_id, strlen(text) AS n_bytes, text,
                               unnest(range(0, 64)) AS k
                        FROM documents),
            s AS (SELECT doc_id, n_bytes, k,
                         hex(substring(text,
                             CAST(1 + floor(k * n_bytes / 64.0) AS INT),
                             1)) AS h
                  FROM ex)
            SELECT doc_id, n_bytes,
                   md5(string_agg(h, '' ORDER BY k)) AS resized_md5
            FROM s GROUP BY doc_id, n_bytes
        """,
        "text_winnow": r"""
            WITH t AS (SELECT doc_id,
                              string_split_regex(trim(lower(text)),
                                                 '[ \t\n\r]+') AS toks
                       FROM documents),
            g AS (SELECT doc_id, i AS pos,
                         array_to_string(list_slice(toks, i, i + 3), ' ')
                             AS gram
                  FROM (SELECT doc_id, toks,
                               unnest(range(1, greatest(len(toks) - 2, 1)))
                                   AS i
                        FROM t)),
            h AS (SELECT doc_id, pos,
                         CAST(concat('0x', substr(md5(gram), 1, 15))
                              AS BIGINT) AS hv
                  FROM g),
            wmin AS (SELECT doc_id,
                            min(hv) OVER (PARTITION BY doc_id ORDER BY pos
                                ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING)
                                AS minh,
                            count(*) OVER (PARTITION BY doc_id ORDER BY pos
                                ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING)
                                AS wn
                     FROM h)
            SELECT DISTINCT doc_id, minh AS fp FROM wmin WHERE wn = 4
        """,
        "text_entropy": f"""
            WITH ex AS (SELECT doc_id, len(text) AS n,
                               unnest(string_split(text, '')) AS ch
                        FROM documents),
            c AS (SELECT doc_id, n, ch, count(*) AS c FROM ex
                  WHERE len(ch) > 0 GROUP BY ALL),
            t AS (SELECT doc_id,
                         CAST(floor((CAST(c AS DOUBLE) / CAST(n AS DOUBLE))
                              * ln(CAST(c AS DOUBLE) / CAST(n AS DOUBLE))
                              * 1000000.0) AS BIGINT) AS tm
                  FROM c),
            s AS (SELECT doc_id, sum(tm) AS s FROM t GROUP BY doc_id)
            SELECT d.doc_id,
                   coalesce({ROUND4_SQL.format(
                       x='-(CAST(s AS DOUBLE)) / 1000000.0')}, 0.0)
                       AS char_entropy_nats
            FROM documents d LEFT JOIN s USING (doc_id)
        """,
        "dedup_exact": (
            "SELECT text, min(doc_id) AS doc_id, count(*) AS dup_count "
            "FROM documents GROUP BY text"),
        "dedup_ngram_jaccard": f"""
            WITH corpus AS ({_AUG_SQL}),
            sh AS (SELECT doc_id, lang, {_shingles('text')} AS sh FROM corpus)
            SELECT a.doc_id AS id_a, b.doc_id AS id_b, {jacc} AS jaccard
            FROM sh a JOIN sh b ON a.lang = b.lang AND a.doc_id < b.doc_id
            WHERE {jacc} >= 0.5
        """,
        # pair-certification oracle (_pair_certification pattern): the
        # LSH pair SET is data-dependent, but the planted mutants'
        # exact twin Jaccard is recomputed here from raw text (the
        # dedup_ngram_jaccard parity) and the certification booleans
        # are deterministic TRUEs; the zero-union CASE mirrors the
        # Spark jaccard()'s when(union == 0, 0.0) for sub-3-token docs
        "dedup_minhash": f"""
            WITH corpus AS ({_AUG_SQL}),
            sh AS (SELECT doc_id, {_shingles('text')} AS sh FROM corpus)
            SELECT b.doc_id AS mut_id,
                   CASE WHEN len(list_distinct(list_concat(a.sh, b.sh))) = 0
                        THEN 0.0 ELSE {jacc} END AS twin_jaccard,
                   TRUE AS twin_consistent, TRUE AS pairs_canonical,
                   TRUE AS sim_verified, TRUE AS above_threshold
            FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 1000000
            WHERE a.doc_id < 50
        """,
        "dedup_incremental": (
            "WITH fp AS (SELECT doc_id, lang, source, "
            + TX.DOC_FINGERPRINT_SQL.format(c="text") + " AS f "
            "FROM documents), "
            "hist AS (SELECT DISTINCT f FROM fp WHERE doc_id < 250) "
            "SELECT doc_id, lang, source FROM fp "
            "WHERE f NOT IN (SELECT f FROM hist) "
            "QUALIFY doc_id = min(doc_id) OVER (PARTITION BY f)"),
        "dedup_clusters": f"""
            WITH RECURSIVE corpus AS ({_AUG_SQL}),
            sh AS (SELECT doc_id, lang, {_shingles('text')} AS sh FROM corpus),
            pairs AS (
                SELECT a.doc_id AS id_a, b.doc_id AS id_b
                FROM sh a JOIN sh b ON a.lang = b.lang AND a.doc_id < b.doc_id
                WHERE {jacc} >= 0.5
            ),
            edges AS (
                SELECT id_a AS u, id_b AS v FROM pairs
                UNION SELECT id_b, id_a FROM pairs
            ),
            reach(u, v) AS (
                SELECT DISTINCT u, u FROM edges
                UNION
                SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
            )
            SELECT u AS doc_id, min(v) AS cluster_id FROM reach GROUP BY u
        """,
        "dedup_simhash": (
            "SELECT doc_id, " + TX.simhash_sql("text")
            + " AS simhash FROM documents"),
        "dedup_simhash_pairs": f"""
            WITH corpus AS ({_AUG_SQL}),
            sh AS (SELECT doc_id, lang,
                          {TX.simhash_sql('text')} AS sh FROM corpus)
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   CAST(bit_count(xor(a.sh, b.sh)) AS INTEGER) AS hamming
            FROM sh a JOIN sh b ON a.lang = b.lang AND a.doc_id < b.doc_id
            WHERE bit_count(xor(a.sh, b.sh)) <= 2
        """,
        "dedup_embedding": """
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   floor(list_cosine_similarity(a.embedding::DOUBLE[],
                         b.embedding::DOUBLE[]) * 10000 + 0.5) / 10000 AS cos_sim
            FROM embeddings a JOIN embeddings b
              ON a.label = b.label AND a.vec_id < b.vec_id
            WHERE floor(list_cosine_similarity(a.embedding::DOUBLE[],
                        b.embedding::DOUBLE[]) * 10000 + 0.5) / 10000 >= 0.3
        """,
        # pair-certification oracles for the two label-free embedding
        # blocking ops: the per-label corpus counts anchor the grid,
        # the booleans are oracle-asserted TRUEs (_pair_certification)
        "dedup_embedding_lsh": """
            SELECT label, count(*) AS n_vectors, TRUE AS pairs_canonical,
                   TRUE AS sim_verified, TRUE AS above_threshold
            FROM embeddings GROUP BY label
        """,
        "dedup_semantic": """
            SELECT label, count(*) AS n_vectors, TRUE AS pairs_canonical,
                   TRUE AS sim_verified, TRUE AS above_threshold
            FROM embeddings GROUP BY label
        """,
        "similarity_topk": """
            SELECT query_id, neighbor_id, cos_sim, rank FROM (
                SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                       floor(list_cosine_similarity(q.embedding::DOUBLE[],
                             c.embedding::DOUBLE[]) * 10000 + 0.5) / 10000
                           AS cos_sim,
                       row_number() OVER (PARTITION BY q.vec_id
                           ORDER BY floor(list_cosine_similarity(
                               q.embedding::DOUBLE[], c.embedding::DOUBLE[])
                               * 10000 + 0.5) / 10000 DESC, c.vec_id) AS rank
                FROM embeddings q JOIN embeddings c ON q.vec_id != c.vec_id
                WHERE q.vec_id < 10)
            WHERE rank <= 5
        """,
        # per-query invariant oracles for the ANN family (sketch_cms
        # pattern): the candidate SETS are data-dependent, the
        # certification booleans are not — see _ann_invariant_rows
        "similarity_ann_lsh": """
            SELECT vec_id AS query_id, CAST(5 AS BIGINT) AS k,
                   TRUE AS ranks_ok, TRUE AS no_self,
                   TRUE AS sims_sorted, TRUE AS sims_exact
            FROM embeddings WHERE vec_id < 10
        """,
        # the two-level-quantizer key adds full_probe_exact: probing
        # every list degenerates the staged search to exhaustive, so
        # the result must equal brute force row for row
        "similarity_ivf2_topk": """
            SELECT vec_id AS query_id, CAST(5 AS BIGINT) AS k,
                   TRUE AS ranks_ok, TRUE AS no_self,
                   TRUE AS sims_sorted, TRUE AS sims_exact,
                   TRUE AS full_probe_exact
            FROM embeddings WHERE vec_id < 8
        """,
        "similarity_ann_ivf": """
            SELECT vec_id AS query_id, CAST(5 AS BIGINT) AS k,
                   TRUE AS ranks_ok, TRUE AS no_self,
                   TRUE AS sims_sorted, TRUE AS sims_exact
            FROM embeddings WHERE vec_id < 10
        """,
        "similarity_pq_rerank": """
            SELECT vec_id AS query_id, CAST(5 AS BIGINT) AS k,
                   TRUE AS ranks_ok, TRUE AS no_self,
                   TRUE AS sims_sorted
            FROM embeddings WHERE vec_id < 10
        """,
        # invariant oracle (sketch_cms pattern): the pruned-scan path
        # must equal the in-memory IVF result row-for-row — the Spark
        # side computes BOTH and surfaces equality; the oracle pins the
        # exact (query, rank) grid and asserts the equality held
        "similarity_ivf_pruned": """
            SELECT q.vec_id AS query_id,
                   CAST(r.rank AS BIGINT) AS rank,
                   TRUE AS same_as_memory
            FROM (SELECT vec_id FROM embeddings WHERE vec_id < 10) q
            CROSS JOIN (SELECT unnest(generate_series(1, 5)) AS rank) r
        """,
        # coverage + budget-invariant oracle: every document exactly
        # once with its exact token count; bin_ok TRUE everywhere
        # (over-budget bins may only be single oversized docs)
        "text_pack": f"""
            SELECT doc_id, {tok} AS n_tok, TRUE AS bin_ok
            FROM documents
        """,
        # exact graph structure + rank invariants: out-degrees/dangling
        # from the distinct purchase edge set; the float ranks enter
        # only through the two oracle-asserted TRUE booleans
        "graph_pagerank": """
            WITH e AS (
                SELECT DISTINCT 'c' || o_custkey AS src,
                                's' || l_suppkey AS dst
                FROM orders JOIN lineitem ON o_orderkey = l_orderkey
                WHERE o_custkey < 3000),
            nodes AS (SELECT src AS node FROM e
                      UNION SELECT dst FROM e),
            deg AS (SELECT src AS node, count(*) AS out_degree
                    FROM e GROUP BY src),
            j AS (SELECT n.node,
                         coalesce(d.out_degree, 0) AS out_degree
                  FROM nodes n LEFT JOIN deg d USING (node)),
            s AS (SELECT count(*) AS n_nodes,
                         sum(CASE WHEN out_degree = 0 THEN 1 ELSE 0 END)
                             AS n_dangling
                  FROM j),
            r AS (SELECT j.node, j.out_degree,
                         (j.out_degree = 0) AS is_dangling,
                         s.n_nodes, s.n_dangling,
                         row_number() OVER (ORDER BY j.out_degree DESC,
                                            j.node) AS rnk
                  FROM j, s)
            SELECT node, CAST(out_degree AS BIGINT) AS out_degree,
                   is_dangling, CAST(n_nodes AS BIGINT) AS n_nodes,
                   CAST(n_dangling AS BIGINT) AS n_dangling,
                   CAST(4 AS BIGINT) AS n_iter,
                   TRUE AS rank_ge_teleport, TRUE AS mass_ok,
                   CAST(rnk AS BIGINT) AS rnk
            FROM r WHERE rnk <= 20
        """,
        "text_stats": f"""
            SELECT lang, count(*) AS n_docs,
                   round(avg(n_chars), 4) AS avg_chars,
                   round(avg({tok}), 4) AS avg_tokens,
                   round(avg({bpe}), 4) AS avg_bpe_tokens,
                   round(avg({punct}), 4) AS avg_punct_ratio
            FROM documents GROUP BY lang
        """,
        "text_lang_id": ("SELECT doc_id, " + TX.lang_id_sql("text")
                         + " AS lang_guess FROM documents"),
        "text_quality": (f"SELECT doc_id, {tok} AS token_count, "
                         f"{bpe} AS bpe_token_count, "
                         + TX.QUALITY_SCORE_SQL.format(c="text")
                         + " AS quality FROM documents"),
        "text_fingerprint": ("SELECT doc_id, "
                             + TX.DOC_FINGERPRINT_SQL.format(c="text")
                             + " AS fingerprint FROM documents"),
        "text_hashed_vector": hashed_counts_sql("doc_id", "text", 64),
        "text_clean": (
            "WITH aug AS (SELECT doc_id, CASE WHEN doc_id % 5 = 0 THEN "
            "concat(text, ' see https://ex', CAST(doc_id AS VARCHAR), "
            "'.org contact user', CAST(doc_id AS VARCHAR), '@mail.com') "
            "ELSE text END AS t FROM documents) "
            "SELECT doc_id, "
            + TX.URL_COUNT_SQL.format(c="t") + " AS n_urls, "
            + TX.EMAIL_COUNT_SQL.format(c="t") + " AS n_emails, "
            + TX.NORMALIZE_WS_SQL.format(c=TX.REDACT_SQL.format(c="t"))
            + " AS clean_text FROM aug"),
        "text_signals": (
            "SELECT doc_id, "
            + ", ".join(
                f"floor(({sql.format(c='text')}) * 10000 + 0.5) / 10000"
                f" AS {alias}"
                for sql, alias in [
                    (TX.MEAN_WORD_LENGTH_SQL, "mean_word_len"),
                    (TX.SYMBOL_WORD_RATIO_SQL, "symbol_word_ratio"),
                    (TX.UPPERCASE_RATIO_SQL, "upper_ratio"),
                    (TX.DIGIT_RATIO_SQL, "digit_ratio"),
                    (TX.WORD_REPETITION_RATIO_SQL, "word_rep_ratio"),
                ])
            + " FROM documents"),
        "text_repetition": _repetition_sql(
            "documents", "doc_id", "text"),
        "embedding_roundtrip": (
            "SELECT vec_id, trim(CAST(label AS VARCHAR)) AS label, "
            "len(embedding) AS dim, floor(("
            + L2_NORM_SQL.format(a="embedding")
            + ") * 10000 + 0.5) / 10000 AS l2_norm "
            "FROM embeddings"),
        "mm_binary_stats": (
            "SELECT doc_id, octet_length(CAST(text AS BLOB)) AS n_bytes, "
            "'text/plain' AS mime, "
            "octet_length(CAST(text AS BLOB)) AS orig_bytes FROM documents"),
        "streaming_partitioned_write": li_full,
        "query_rollup": """
            SELECT coalesce(trim(CAST(l_returnflag AS VARCHAR)), 'ALL')
                       AS l_returnflag,
                   coalesce(trim(CAST(l_linestatus AS VARCHAR)), 'ALL')
                       AS l_linestatus,
                   count(*) AS n_rows,
                   round(sum(l_quantity), 2) AS sum_qty
            FROM lineitem
            GROUP BY ROLLUP (trim(CAST(l_returnflag AS VARCHAR)),
                             trim(CAST(l_linestatus AS VARCHAR)))
        """,
        "source_csv_roundtrip": (
            "SELECT n_nationkey, trim(CAST(n_name AS VARCHAR)) AS n_name, "
            "n_regionkey FROM nation"),
        "source_jsonl_roundtrip": (
            "SELECT r_regionkey, trim(CAST(r_name AS VARCHAR)) AS r_name "
            "FROM region"),
        "source_fixed_width_roundtrip": (
            "SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey, "
            "trim(CAST(n_name AS VARCHAR)) AS n_name, "
            "CAST(n_regionkey AS BIGINT) AS n_regionkey FROM nation"),
        "query_bucketed_join": """
            SELECT trim(CAST(o_orderpriority AS VARCHAR)) AS o_orderpriority,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
                   count(*) AS n_items
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            GROUP BY 1
        """,
        "query_percentiles": """
            SELECT event_type,
                   round(quantile_cont(value, 0.5), 4) AS p50,
                   round(quantile_cont(value, 0.9), 4) AS p90,
                   round(quantile_cont(value, 0.99), 4) AS p99
            FROM events GROUP BY event_type
        """,
        "events_json_extract": """
            SELECT event_id,
                   CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
                   CAST(json_extract_string(props, '$.k') AS BIGINT) % 10
                       AS k_mod
            FROM events
        """,
        "events_asof_join": """
            WITH evs AS (
                SELECT event_id, user_id, event_type, ts
                FROM events WHERE event_type IN ('click', 'error')
            ), run AS (
                SELECT *,
                       max(CASE WHEN event_type = 'click' THEN ts END)
                           OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS last_click
                FROM evs
            )
            SELECT event_id, user_id,
                   epoch_us(ts) AS ts_us,
                   epoch_us(last_click) AS last_click_us
            FROM run WHERE event_type = 'error'
        """,
        "events_range_join": """
            WITH ev AS (SELECT epoch_us(ts) AS us, value FROM events),
            hrs AS (SELECT us // 3600000000 AS h, count(*) AS n
                    FROM ev GROUP BY 1),
            busy AS (SELECT h FROM hrs
                     WHERE n > 1.1 * (SELECT avg(n) FROM hrs)),
            win AS (SELECT h * 3600000000 + 1800000000 AS ws,
                           h * 3600000000 + 5400000000 AS we FROM busy)
            SELECT ws AS win_start_us, count(*) AS n_events,
                   round(sum(value), 2) AS total_value
            FROM ev JOIN win ON us >= ws AND us < we
            GROUP BY ws
        """,
        "query_rollup_grains": """
            SELECT 'minute' AS grain,
                   (epoch_us(ts) // 60000000) * 60000000 AS bucket_start_us,
                   count(*) AS n_events, round(sum(value), 2) AS total_value
            FROM events GROUP BY 2
            UNION ALL
            SELECT 'hour', (epoch_us(ts) // 3600000000) * 3600000000,
                   count(*), round(sum(value), 2)
            FROM events GROUP BY 2
            UNION ALL
            SELECT 'day', (epoch_us(ts) // 86400000000) * 86400000000,
                   count(*), round(sum(value), 2)
            FROM events GROUP BY 2
        """,
        "mm_decode_png": """
            WITH d AS (
                SELECT doc_id,
                       8 + doc_id % 9 AS width,
                       8 + doc_id % 7 AS height
                FROM documents),
            i AS (
                SELECT doc_id, width, height,
                       unnest(generate_series(
                           0, width * height * 4 - 1)) AS i
                FROM d),
            v AS (
                SELECT doc_id, width, height, i,
                       (doc_id * 7919 + i * 37 + (i % 11) * 13) % 256
                           AS v
                FROM i),
            s AS (
                SELECT doc_id, any_value(width) AS width,
                       any_value(height) AS height,
                       CAST(any_value(width) * any_value(height)
                            AS BIGINT) AS n_px,
                       sum(CASE WHEN i % 4 = 0 THEN v ELSE 0 END) AS sr,
                       sum(CASE WHEN i % 4 = 1 THEN v ELSE 0 END) AS sg,
                       sum(CASE WHEN i % 4 = 2 THEN v ELSE 0 END) AS sb,
                       sum(CASE WHEN i % 4 = 3 THEN v ELSE 0 END) AS sa
                FROM v GROUP BY doc_id)
            SELECT doc_id, width, height, n_px,
                   floor(sr / n_px * 1000000.0 + 0.5) / 1000000.0
                       AS mean_r,
                   floor(sg / n_px * 1000000.0 + 0.5) / 1000000.0
                       AS mean_g,
                   floor(sb / n_px * 1000000.0 + 0.5) / 1000000.0
                       AS mean_b,
                   floor(sa / n_px * 1000000.0 + 0.5) / 1000000.0
                       AS mean_a
            FROM s
        """,
        # per-pixel twin of the decode path: both dhash halves rebuilt
        # from the pixel rule over the 8x8 luma crop (wrapping right
        # neighbor), no PNG machinery — a positioning defect anywhere
        # in the decoder flips a comparison bit and the value hash
        "mm_dhash": f"""
            WITH d AS (
                SELECT doc_id, 8 + doc_id % 9 AS width,
                       8 + doc_id % 7 AS height
                FROM documents),
            g AS (SELECT doc_id, width, height,
                         unnest(range(0, 64)) AS k FROM d),
            b AS (SELECT doc_id, width, height, k,
                         CASE WHEN {_png_luma('(k // 8) * width + (k % 8)')}
                                > {_png_luma(
                                    '(k // 8) * width + ((k % 8 + 1) % 8)')}
                              THEN CAST(1 AS BIGINT) ELSE 0 END AS bit
                  FROM g)
            SELECT doc_id, any_value(width) AS width,
                   any_value(height) AS height,
                   CAST(sum(CASE WHEN k >= 32 THEN bit << (k - 32)
                                 ELSE 0 END) AS BIGINT) AS dhash_hi,
                   CAST(sum(CASE WHEN k < 32 THEN bit << k
                                 ELSE 0 END) AS BIGINT) AS dhash_lo
            FROM b GROUP BY doc_id
        """,
        # audio twin of the mm_dhash/mm_decode_png oracles: every
        # decoded statistic recomputed from the synthetic sample rule
        # over an index series — no WAV machinery; the i+channels
        # neighbor is re-derived from the rule, so no self-join
        "mm_wav_stats": """
            WITH d AS (
                SELECT doc_id,
                       256 + doc_id % 128 AS n_frames,
                       1 + doc_id % 2 AS channels,
                       8000 + (doc_id % 3) * 4000 AS rate
                FROM documents),
            i AS (
                SELECT doc_id, n_frames, channels, rate,
                       unnest(generate_series(
                           0, n_frames * channels - 1)) AS i
                FROM d),
            s AS (
                SELECT doc_id, n_frames, channels, rate, i,
                       (doc_id * 2654435761 + i * 48271) % 65536
                           - 32768 AS smp,
                       (doc_id * 2654435761 + (i + channels) * 48271)
                           % 65536 - 32768 AS smp_next
                FROM i)
            SELECT doc_id, any_value(rate) AS rate,
                   any_value(channels) AS channels,
                   CAST(any_value(n_frames) AS BIGINT) AS n_frames,
                   CAST(sum(abs(smp)) AS BIGINT) AS sum_abs,
                   CAST(max(abs(smp)) AS INTEGER) AS peak,
                   CAST(sum(CASE WHEN i + channels
                                      < n_frames * channels
                                  AND (smp < 0) <> (smp_next < 0)
                                 THEN 1 ELSE 0 END) AS BIGINT)
                       AS zero_crossings
            FROM s GROUP BY doc_id
        """,
        "mm_png_meta": """
            SELECT doc_id,
                   8 + doc_id % 9 AS width,
                   8 + doc_id % 7 AS height,
                   CAST(2 AS BIGINT) AS n_text,
                   '{"lang":"' || lang || '","source":"' || source
                       || '"}' AS meta_json,
                   lang, source
            FROM documents
        """,
        "mm_features": """
            -- byte-level feature twin: text is pure ASCII at every SF
            -- (checked octet_length(encode(text)) == length(text)), so
            -- byte i == ascii(char i).  Moments come from exact integer
            -- sums, mirroring the extractor's op order bit-for-bit;
            -- rounding is floor(x*1e6+0.5)/1e6 on both sides.
            WITH d AS (
                SELECT doc_id, text,
                       CAST(length(text) AS BIGINT) AS n_bytes
                FROM documents
            ), bytes AS (
                SELECT doc_id,
                       ascii(substring(text, CAST(u.i AS BIGINT), 1)) AS b
                FROM d, LATERAL unnest(range(1, n_bytes + 1)) AS u(i)
            ), moments AS (
                SELECT doc_id,
                       CAST(sum(b) AS DOUBLE) AS s,
                       CAST(sum(b * b) AS DOUBLE) AS ss,
                       CAST(count(*) AS DOUBLE) AS n
                FROM bytes GROUP BY doc_id
            ), hist AS (
                SELECT doc_id, b // 32 AS bin, CAST(count(*) AS DOUBLE) AS cnt
                FROM bytes GROUP BY doc_id, bin
            ), feats AS (
                SELECT d.doc_id, d.n_bytes, CAST(g.i AS BIGINT) AS feat_idx,
                       coalesce(h.cnt, 0.0) / m.n AS raw
                FROM d
                CROSS JOIN unnest(range(0, 8)) AS g(i)
                JOIN moments m ON m.doc_id = d.doc_id
                LEFT JOIN hist h ON h.doc_id = d.doc_id AND h.bin = g.i
                UNION ALL
                SELECT d.doc_id, d.n_bytes, 8, m.s / m.n / 255.0
                FROM d JOIN moments m ON m.doc_id = d.doc_id
                UNION ALL
                SELECT d.doc_id, d.n_bytes, 9,
                       sqrt(greatest((m.ss - m.s * m.s / m.n) / m.n, 0.0)) / 255.0
                FROM d JOIN moments m ON m.doc_id = d.doc_id
            )
            SELECT doc_id, n_bytes, feat_idx,
                   floor(raw * 1000000 + 0.5) / 1000000 AS feat_value
            FROM feats
        """,
        "mm_frame_sample": """
            WITH d AS (
                SELECT doc_id, text,
                       greatest(CAST(floor(octet_length(encode(text)) / 1024)
                                     AS BIGINT), 1) AS nf
                FROM documents
            )
            -- text is pure ASCII in the testdata (checked octet_length ==
            -- length at every SF), so VARCHAR slicing equals byte slicing
            SELECT doc_id, u.i - 1 AS frame_idx,
                   hex(encode(substring(text, CAST((u.i - 1) * 1024 + 1
                                                   AS BIGINT), 16)))
                       AS frame_hex
            FROM d, LATERAL unnest(range(1, nf + 1)) AS u(i)
        """,
        "catalog_table": (
            "SELECT o_orderkey, o_custkey, o_totalprice, "
            "trim(CAST(o_orderpriority AS VARCHAR)) AS o_orderpriority "
            "FROM orders WHERE trim(CAST(o_orderpriority AS VARCHAR)) "
            "= '1-URGENT'"),
        "partition_compact": li_full,
        "merge_upsert": """
            SELECT o_orderkey, o_custkey,
                   CASE WHEN o_orderkey % 100 = 0 THEN o_totalprice * 2
                        ELSE o_totalprice END AS o_totalprice,
                   o_orderpriority,
                   trim(CAST(o_orderstatus AS VARCHAR)) AS o_orderstatus
            FROM orders
        """,
        "text_top_ngrams": f"""
            WITH g AS (
                SELECT unnest({_shingles('text')}) AS ngram FROM documents
            ), c AS (
                SELECT ngram, count(*) AS n FROM g GROUP BY ngram
            )
            SELECT ngram, n,
                   row_number() OVER (ORDER BY n DESC, ngram) AS rnk
            FROM c QUALIFY rnk <= 50
        """,
        "corpus_pipeline": (
            "WITH clean AS (SELECT doc_id, "
            + TX.NORMALIZE_WS_SQL.format(c=TX.REDACT_SQL.format(c="text"))
            + " AS ct FROM documents), "
            "kept AS (SELECT * FROM clean WHERE ("
            + TX.TOKEN_COUNT_SQL.format(c="ct") + ") >= 5 AND ("
            + TX.PUNCT_RATIO_SQL.format(c="ct") + ") < 0.2), "
            "dedup AS (SELECT ct, min(doc_id) AS doc_id FROM kept "
            "GROUP BY ct), "
            "split AS (SELECT ct, doc_id, " + SMP.split_assign_sql("doc_id")
            + " AS split FROM dedup) "
            "SELECT split, count(*) AS n_docs, "
            "CAST(sum(" + TX.TOKEN_COUNT_SQL.format(c="ct")
            + ") AS BIGINT) AS total_tokens FROM split GROUP BY split"),
        "corpus_quality_filter": f"""
            WITH kept AS (
                SELECT * FROM documents
                WHERE ({TX.TOKEN_COUNT_SQL.format(c='text')}) >= 5
                  AND ({TX.PUNCT_RATIO_SQL.format(c='text')}) < 0.2
                  AND n_chars >= 20
            )
            SELECT lang, count(*) AS n_kept,
                   round(avg({TX.QUALITY_SCORE_SQL.format(c='text')}), 4)
                       AS avg_quality,
                   round(avg({TX.TOKEN_COUNT_SQL.format(c='text')}), 4)
                       AS avg_tokens
            FROM kept GROUP BY lang
        """,
        "event_sessionize": _SESSIONIZE_SQL,
        # the streaming drain equals batch sessionization verbatim, so
        # the two keys share one oracle
        "streaming_sessionize": _SESSIONIZE_SQL,
        "streaming_windowed_agg": """
            SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S')
                       AS window_start,
                   event_type, count(*) AS n_events,
                   round(sum(value), 2) AS total_value
            FROM events GROUP BY 1, 2
        """,
        "streaming_stateful_counts": (
            "SELECT user_id, count(*) AS n_events, "
            "round(sum(value), 2) AS total_value "
            "FROM events GROUP BY user_id"),
        # on-time rows only (the staged hour-0 replay must be DROPPED
        # by the watermark), windows kept only when end <= final
        # watermark (max event time - 30 min delay)
        "streaming_late_audit": """
            WITH ev AS (SELECT ts, user_id,
                               CAST(floor(value * 100 + 0.5) AS BIGINT)
                                   AS v,
                               epoch_us(ts) AS us
                        FROM events),
            m AS (SELECT min(us) - min(us) % 3600000000 AS h0 FROM ev),
            b AS (SELECT ts, user_id, v, us,
                         (us - h0) // 3600000000 AS h
                  FROM ev, m
                  WHERE (us - h0) // 3600000000 BETWEEN 0 AND 8),
            wm AS (SELECT max(us) - 1800000000 AS w FROM b),
            agg AS (SELECT date_trunc('hour', ts) AS ws, h, user_id,
                           count(*) AS n_events, sum(v) AS vc
                    FROM b GROUP BY 1, 2, 3)
            SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start,
                   user_id, n_events, CAST(vc AS DOUBLE) AS total_value
            FROM agg, m, wm
            WHERE h0 + (h + 1) * 3600000000 <= w
        """,
        "streaming_dedup": (
            "SELECT event_id, user_id, round(value, 2) AS value "
            "FROM events"),
        # batch replay of the staged TTL-eviction stream (see
        # q_streaming_ttl_eviction): per-key per-chunk pivots + the
        # three global eviction watermarks (ms-truncated exactly like
        # Spark's event-time clock: wm entering batch i =
        # max(us // 1000 over chunks < i) - delay), cascaded through
        # the generation splits; a timeout fires iff the key is absent
        # from the batch's chunk and its (last_seen//1000 + ttl) is
        # STRICTLY below the watermark (strictness pinned in
        # tests/test_streaming.py).  Durations/chunking interpolate
        # from the SAME constants the Spark key uses, and every
        # replayed eviction's watermark is tested against the SAME
        # min+31d cutoff the Spark key applies (r12 ADVICE #2: both
        # sides drop post-cutoff evictions together, so a fixture
        # spanning past the cutoff cannot desynchronize them).
        "streaming_ttl_eviction": f"""
            WITH p AS (SELECT min(epoch_us(ts)) AS m FROM events),
            e AS (SELECT user_id, event_type, epoch_us(ts) AS us,
                         CAST(floor(value * 100 + 0.5) AS BIGINT)
                             AS cents,
                         least((epoch_us(ts) - (SELECT m FROM p))
                               // {_ttl_chunk_us}, 2) AS chunk
                  FROM events),
            g AS (SELECT user_id, event_type, chunk, count(*) AS n,
                         CAST(sum(cents) AS BIGINT) AS c, max(us) AS s
                  FROM e GROUP BY 1, 2, 3),
            w AS (SELECT (max(CASE WHEN chunk <= 0 THEN s END) // 1000)
                             - {_ttl_delay_ms} AS w1,
                         (max(CASE WHEN chunk <= 1 THEN s END) // 1000)
                             - {_ttl_delay_ms} AS w2,
                         (max(s) // 1000) - {_ttl_delay_ms} AS w3,
                         ((SELECT m FROM p) + {_ttl_cutoff_us}) // 1000
                             AS wcut
                  FROM g),
            k AS (SELECT user_id, event_type,
                         max(CASE WHEN chunk = 0 THEN n END) AS n0,
                         max(CASE WHEN chunk = 0 THEN c END) AS c0,
                         max(CASE WHEN chunk = 0 THEN s END) AS s0,
                         max(CASE WHEN chunk = 1 THEN n END) AS n1,
                         max(CASE WHEN chunk = 1 THEN c END) AS c1,
                         max(CASE WHEN chunk = 1 THEN s END) AS s1,
                         max(CASE WHEN chunk = 2 THEN n END) AS n2,
                         max(CASE WHEN chunk = 2 THEN c END) AS c2,
                         max(CASE WHEN chunk = 2 THEN s END) AS s2
                  FROM g GROUP BY 1, 2),
            b1 AS (SELECT k.*, w.w1, w.w2, w.w3, w.wcut,
                          (s0 IS NOT NULL AND s1 IS NULL
                           AND s0 // 1000 + {_ttl_ms} < w1
                           AND w1 <= wcut) AS e1
                   FROM k, w),
            b2 AS (SELECT *,
                          CASE WHEN s1 IS NOT NULL
                                   THEN coalesce(n0, 0) + n1
                               WHEN s0 IS NOT NULL AND NOT e1 THEN n0
                          END AS g1n,
                          CASE WHEN s1 IS NOT NULL
                                   THEN coalesce(c0, 0) + c1
                               WHEN s0 IS NOT NULL AND NOT e1 THEN c0
                          END AS g1c,
                          CASE WHEN s1 IS NOT NULL THEN s1
                               WHEN s0 IS NOT NULL AND NOT e1 THEN s0
                          END AS l1
                   FROM b1),
            b3 AS (SELECT *,
                          (l1 IS NOT NULL AND s2 IS NULL
                           AND l1 // 1000 + {_ttl_ms} < w2
                           AND w2 <= wcut) AS e2
                   FROM b2),
            b4 AS (SELECT *,
                          CASE WHEN s2 IS NOT NULL
                                   THEN coalesce(g1n, 0) + n2
                               WHEN l1 IS NOT NULL AND NOT e2 THEN g1n
                          END AS g2n,
                          CASE WHEN s2 IS NOT NULL
                                   THEN coalesce(g1c, 0) + c2
                               WHEN l1 IS NOT NULL AND NOT e2 THEN g1c
                          END AS g2c,
                          CASE WHEN s2 IS NOT NULL THEN s2
                               WHEN l1 IS NOT NULL AND NOT e2 THEN l1
                          END AS l2
                   FROM b3),
            fin AS (SELECT *,
                           (l2 IS NOT NULL
                            AND l2 // 1000 + {_ttl_ms} < w3
                            AND w3 <= wcut) AS e3
                    FROM b4)
            SELECT user_id, event_type,
                   CAST(CASE WHEN e1 THEN 1 ELSE 0 END
                        + CASE WHEN e2 THEN 1 ELSE 0 END
                        + CASE WHEN e3 THEN 1 ELSE 0 END AS BIGINT)
                       AS n_evictions,
                   CAST(CASE WHEN e1 THEN n0 ELSE 0 END
                        + CASE WHEN e2 THEN g1n ELSE 0 END
                        + CASE WHEN e3 THEN g2n ELSE 0 END AS BIGINT)
                       AS evicted_events,
                   CAST(CASE WHEN e1 THEN c0 ELSE 0 END
                        + CASE WHEN e2 THEN g1c ELSE 0 END
                        + CASE WHEN e3 THEN g2c ELSE 0 END AS BIGINT)
                       AS evicted_cents,
                   CAST((CASE WHEN e3 THEN w3 WHEN e2 THEN w2
                              ELSE w1 END) * 1000 AS BIGINT)
                       AS last_evict_wm_us
            FROM fin WHERE e1 OR e2 OR e3
        """,
        "query_profile": """
            SELECT 'l_returnflag' AS column, count(*) AS n_rows,
                   CAST(sum(CASE WHEN l_returnflag IS NULL THEN 1 ELSE 0
                       END) AS BIGINT) AS n_nulls,
                   count(DISTINCT l_returnflag) AS n_distinct,
                   trim(CAST(min(l_returnflag) AS VARCHAR)) AS min_value,
                   trim(CAST(max(l_returnflag) AS VARCHAR)) AS max_value
            FROM lineitem
            UNION ALL
            SELECT 'l_orderkey', count(*),
                   CAST(sum(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0
                       END) AS BIGINT),
                   count(DISTINCT l_orderkey),
                   CAST(min(l_orderkey) AS VARCHAR),
                   CAST(max(l_orderkey) AS VARCHAR)
            FROM lineitem
            UNION ALL
            SELECT 'l_linenumber', count(*),
                   CAST(sum(CASE WHEN l_linenumber IS NULL THEN 1 ELSE 0
                       END) AS BIGINT),
                   count(DISTINCT l_linenumber),
                   CAST(min(l_linenumber) AS VARCHAR),
                   CAST(max(l_linenumber) AS VARCHAR)
            FROM lineitem
        """,
        "events_funnel": """
            WITH s1 AS (SELECT user_id, min(ts) AS ft FROM events
                        WHERE event_type = 'view' GROUP BY user_id),
            s2 AS (SELECT e.user_id, min(e.ts) AS ft FROM events e
                   JOIN s1 ON e.user_id = s1.user_id
                   WHERE e.event_type = 'click' AND e.ts > s1.ft
                   GROUP BY e.user_id),
            s3 AS (SELECT e.user_id, min(e.ts) AS ft FROM events e
                   JOIN s2 ON e.user_id = s2.user_id
                   WHERE e.event_type = 'purchase' AND e.ts > s2.ft
                   GROUP BY e.user_id)
            SELECT 1 AS step_idx, 'view' AS step, count(*) AS n_users
            FROM s1
            UNION ALL SELECT 2, 'click', count(*) FROM s2
            UNION ALL SELECT 3, 'purchase', count(*) FROM s3
        """,
        "query_salted_join": """
            WITH dim AS (SELECT user_id, count(*) AS n_user_events
                         FROM events GROUP BY user_id)
            SELECT event_id, e.user_id, round(value, 2) AS value,
                   n_user_events
            FROM events e JOIN dim USING (user_id)
        """,
        "query_sliding_window": """
            -- hopping windows: event at t belongs to the 4 windows
            -- starting at floor(t/15min)*15min - k*15min, k=0..3
            WITH e AS (SELECT epoch_us(ts) AS us, event_type, value
                       FROM events),
            x AS (SELECT make_timestamp((us // 900000000 - u.k) * 900000000)
                             AS ws,
                         event_type, value
                  FROM e, LATERAL unnest(range(0, 4)) AS u(k))
            SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS win_start,
                   event_type, count(*) AS n_events,
                   round(sum(value), 2) AS total_value
            FROM x GROUP BY 1, 2
        """,
        "query_distinct_agg": """
            SELECT event_type,
                   count(DISTINCT user_id) AS n_users,
                   count(DISTINCT CAST(floor(value) AS BIGINT)) AS n_buckets,
                   count(*) AS n_events
            FROM events GROUP BY event_type
        """,
        "query_pivot": """
            SELECT trim(CAST(l_returnflag AS VARCHAR)) AS l_returnflag,
                   round(sum(CASE WHEN l_linestatus = 'F'
                             THEN l_quantity END), 2) AS qty_f,
                   round(sum(CASE WHEN l_linestatus = 'O'
                             THEN l_quantity END), 2) AS qty_o
            FROM lineitem GROUP BY 1
        """,
        "cdc_apply": f"""
            WITH ch AS (
                SELECT l_orderkey, l_linenumber,
                       {_CDC_SEQ_SQL} AS seq,
                       CASE WHEN l_partkey % 11 = 0 THEN 'D' ELSE 'U' END
                           AS op,
                       l_quantity, l_extendedprice
                FROM lineitem),
            r AS (SELECT *, row_number() OVER (
                      PARTITION BY l_orderkey
                      ORDER BY seq DESC) AS rn
                  FROM ch)
            SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
            FROM r WHERE rn = 1 AND op <> 'D'
        """,
        "dedup_decontaminate": f"""
            WITH bench AS (
                SELECT DISTINCT unnest({_shingles_n('text', 4)}) AS g
                FROM documents WHERE doc_id % 50 = 0),
            cg AS (
                SELECT doc_id, unnest({_shingles_n('text', 4)}) AS g
                FROM documents WHERE doc_id % 50 <> 0)
            SELECT doc_id, count(*) AS n_hits
            FROM cg JOIN bench USING (g) GROUP BY doc_id
        """,
        "text_chunk": """
            WITH t AS (
                SELECT doc_id,
                       list_filter(string_split_regex(
                           trim(lower(coalesce(text, ''))), '[ \t\n\r]+'),
                           x -> length(x) > 0) AS toks
                FROM documents),
            s AS (SELECT doc_id, toks,
                         unnest(range(0, greatest(len(toks) - 8, 1), 24))
                             AS start
                  FROM t)
            SELECT doc_id, CAST(start / 24 AS BIGINT) AS chunk_idx,
                   array_to_string(list_slice(toks, start + 1, start + 32),
                                   ' ') AS chunk_text,
                   least(32, len(toks) - start) AS n_tokens
            FROM s WHERE least(32, len(toks) - start) > 0
        """,
        "streaming_join": f"""
            SELECT v.user_id, v.event_id AS view_id, c.event_id AS click_id,
                   strftime(v.ts, '{_TS_FMT_DUCK}') AS view_ts,
                   strftime(c.ts, '{_TS_FMT_DUCK}') AS click_ts
            FROM events v JOIN events c
              ON v.user_id = c.user_id
             AND v.event_type = 'view' AND c.event_type = 'click'
             AND c.ts >= v.ts AND c.ts <= v.ts + INTERVAL 2 HOUR
        """,
        "query_semi_anti": """
            SELECT 'has_urgent' AS kind, c_custkey, c_name
            FROM customer c
            WHERE EXISTS (SELECT 1 FROM orders o
                          WHERE o.o_custkey = c.c_custkey
                            AND o.o_orderpriority = '1-URGENT')
            UNION ALL
            SELECT 'no_urgent', c_custkey, c_name
            FROM customer c
            WHERE NOT EXISTS (SELECT 1 FROM orders o
                              WHERE o.o_custkey = c.c_custkey
                                AND o.o_orderpriority = '1-URGENT')
        """,
        "query_cube": """
            SELECT coalesce(l_returnflag, 'ALL') AS l_returnflag,
                   coalesce(l_linestatus, 'ALL') AS l_linestatus,
                   count(*) AS n_items,
                   round(sum(l_quantity), 2) AS sum_qty
            FROM lineitem
            GROUP BY CUBE (l_returnflag, l_linestatus)
        """,
        "sorted_export": li_full,
        "streaming_upsert": f"""
            WITH ch AS (
                SELECT l_orderkey,
                       {_CDC_SEQ_SQL} AS seq,
                       CASE WHEN l_partkey % 11 = 0 THEN 'D' ELSE 'U' END
                           AS op,
                       l_quantity, l_extendedprice,
                       CAST(l_orderkey % 5 AS VARCHAR) AS bucket
                FROM lineitem),
            r AS (SELECT *, row_number() OVER (
                      PARTITION BY l_orderkey
                      ORDER BY seq DESC) AS rn
                  FROM ch)
            SELECT l_orderkey, seq, l_quantity, l_extendedprice, bucket
            FROM r WHERE rn = 1 AND op <> 'D'
        """,
        "text_vocab": """
            WITH t AS (
                SELECT doc_id,
                       unnest(list_distinct(string_split_regex(
                           trim(lower(text)), '[ \t\n\r]+'))) AS token
                FROM documents),
            d AS (SELECT token, count(*) AS df FROM t
                  WHERE length(token) > 0
                  GROUP BY token HAVING count(*) >= 2)
            SELECT token, df,
                   row_number() OVER (ORDER BY df DESC, token) - 1
                       AS token_id
            FROM d
        """,
        "text_token_ids": """
            WITH t AS (
                SELECT doc_id,
                       unnest(list_distinct(string_split_regex(
                           trim(lower(text)), '[ \t\n\r]+'))) AS token
                FROM documents),
            d AS (SELECT token, count(*) AS df FROM t
                  WHERE length(token) > 0
                  GROUP BY token HAVING count(*) >= 2),
            v AS (SELECT token,
                         row_number() OVER (ORDER BY df DESC, token) - 1
                             AS token_id
                  FROM d),
            tk AS (SELECT doc_id,
                          string_split_regex(trim(lower(text)),
                                             '[ \t\n\r]+') AS toks
                   FROM documents),
            e0 AS (SELECT doc_id, toks,
                          unnest(generate_series(1, len(toks))) AS i
                   FROM tk),
            e AS (SELECT doc_id, i, toks[i] AS token
                  FROM e0 WHERE length(toks[i]) > 0)
            SELECT e.doc_id,
                   row_number() OVER (PARTITION BY e.doc_id ORDER BY e.i)
                       - 1 AS pos,
                   coalesce(v.token_id, -1) AS token_id
            FROM e LEFT JOIN v USING (token)
        """,
        "sample_stratified": SMP.stratified_sample_sql(
            "doc_id, lang, source", "lang", "doc_id",
            {"en": 0.3, "de": 0.8, "fr": 0.8}, default_fraction=0.5),
        "text_chunk_dedup": """
            WITH t AS (
                SELECT doc_id,
                       list_filter(string_split_regex(
                           trim(lower(coalesce(text, ''))), '[ \t\n\r]+'),
                           x -> length(x) > 0) AS toks
                FROM documents),
            s AS (SELECT doc_id, toks,
                         unnest(range(0, greatest(len(toks), 1), 32))
                             AS start
                  FROM t),
            ch AS (SELECT doc_id, CAST(start / 32 AS BIGINT) AS chunk_idx,
                          array_to_string(
                              list_slice(toks, start + 1, start + 32),
                              ' ') AS chunk_text
                   FROM s WHERE least(32, len(toks) - start) > 0)
            SELECT doc_id, chunk_idx, chunk_text FROM ch
            QUALIFY row_number() OVER (PARTITION BY chunk_text
                                       ORDER BY doc_id, chunk_idx) = 1
        """,
        "query_event_gaps": f"""
            WITH g AS (
                SELECT event_type,
                       epoch_us(ts) - lag(epoch_us(ts)) OVER (
                           PARTITION BY user_id
                           ORDER BY epoch_us(ts), event_id) AS gap_us
                FROM events),
            a AS (SELECT event_type, count(*) AS n_gaps,
                         sum(gap_us) AS s, max(gap_us) AS m
                  FROM g WHERE gap_us IS NOT NULL GROUP BY event_type)
            SELECT event_type, n_gaps,
                   {ROUND4_SQL.format(x='CAST(s AS DOUBLE) / (n_gaps * 1000000.0)')}
                       AS avg_gap_s,
                   {ROUND4_SQL.format(x='CAST(m AS DOUBLE) / 1000000.0')}
                       AS max_gap_s
            FROM a
        """,
        "query_snapshot_diff": """
            WITH old AS (
                SELECT o_orderkey, o_totalprice FROM orders
                WHERE o_orderkey % 97 <> 0),
            new AS (
                SELECT o_orderkey,
                       CASE WHEN o_orderkey % 50 = 0
                            THEN o_totalprice * 2
                            ELSE o_totalprice END AS o_totalprice
                FROM orders WHERE o_orderkey % 89 <> 0)
            SELECT coalesce(o.o_orderkey, n.o_orderkey) AS o_orderkey,
                   CASE WHEN o.o_orderkey IS NULL THEN 'added'
                        WHEN n.o_orderkey IS NULL THEN 'removed'
                        WHEN o.o_totalprice IS DISTINCT FROM n.o_totalprice
                            THEN 'changed' END AS change,
                   o.o_totalprice AS o_totalprice_old,
                   n.o_totalprice AS o_totalprice_new
            FROM old o FULL OUTER JOIN new n
              ON o.o_orderkey = n.o_orderkey
            WHERE CASE WHEN o.o_orderkey IS NULL THEN 'added'
                       WHEN n.o_orderkey IS NULL THEN 'removed'
                       WHEN o.o_totalprice IS DISTINCT FROM n.o_totalprice
                           THEN 'changed' END IS NOT NULL
        """,
        "source_xml_roundtrip": (
            "SELECT n_nationkey, n_name, n_regionkey FROM nation"),
        # fixture writes raw UTF-8 bytes, one file per doc
        "source_binaryfile": """
            SELECT doc_id, md5(text) AS content_md5,
                   strlen(text) AS n_bytes
            FROM documents
        """,
        "query_set_ops": """
            WITH urgent AS (SELECT o_custkey FROM orders
                            WHERE o_orderpriority = '1-URGENT'),
            low AS (SELECT o_custkey FROM orders
                    WHERE o_orderpriority = '5-LOW')
            SELECT 'both_extremes' AS set_op, o_custkey
            FROM (SELECT o_custkey FROM urgent
                  INTERSECT SELECT o_custkey FROM low)
            UNION ALL
            SELECT 'urgent_only' AS set_op, o_custkey
            FROM (SELECT o_custkey FROM urgent
                  EXCEPT SELECT o_custkey FROM low)
        """,
        # identical IEEE double expression both engines (DuckDB has no
        # width_bucket): floor((v - lo) * n / (hi - lo)) + 1, clamped
        "query_histogram": """
            WITH b AS (
                SELECT CASE WHEN l_extendedprice < 0.0 THEN 0
                            WHEN l_extendedprice >= 110000.0 THEN 12
                            ELSE least(CAST(floor(
                                (CAST(l_extendedprice AS DOUBLE)
                                 - 0.0) * 11 / 110000.0)
                                AS BIGINT) + 1, 11) END AS bucket,
                       l_quantity
                FROM lineitem)
            SELECT bucket, 0.0 + (bucket - 1) * 10000.0 AS bucket_lo,
                   count(*) AS n_rows,
                   floor(sum(l_quantity) * 100 + 0.5) / 100
                       AS sum_l_quantity
            FROM b GROUP BY bucket
        """,
        "events_transitions": f"""
            WITH seq AS (
                SELECT event_type AS from_state,
                       lead(event_type) OVER (
                           PARTITION BY user_id
                           ORDER BY epoch_us(ts), event_id) AS to_state
                FROM events),
            c AS (SELECT from_state, to_state,
                         count(*) AS n_transitions
                  FROM seq WHERE to_state IS NOT NULL
                    AND from_state IS NOT NULL
                  GROUP BY from_state, to_state)
            SELECT from_state, to_state, n_transitions,
                   {ROUND4_SQL.format(
                       x='CAST(n_transitions AS DOUBLE) / '
                         'sum(n_transitions) OVER (PARTITION BY from_state)')}
                       AS p
            FROM c
        """,
        # the oracle runs the O(n²) brute-force join the operator exists
        # to avoid — fine at sf0.01 (1500² pairs), the whole point at 100 TB
        "dedup_fuzzy": """
            SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
                   levenshtein(a.c_name, b.c_name) AS dist
            FROM customer a, customer b
            WHERE a.c_custkey < b.c_custkey
              AND levenshtein(a.c_name, b.c_name) <= 1
        """,
        "dedup_fuzzy2": """
            SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
                   levenshtein(a.c_name, b.c_name) AS dist
            FROM customer a, customer b
            WHERE a.c_custkey < b.c_custkey
              AND a.c_custkey < 500 AND b.c_custkey < 500
              AND levenshtein(a.c_name, b.c_name) <= 2
        """,
        "dedup_apply": f"""
            WITH RECURSIVE corpus AS ({_AUG_SQL}),
            sh AS (SELECT doc_id, lang, {_shingles('text')} AS sh FROM corpus),
            pairs AS (
                SELECT a.doc_id AS id_a, b.doc_id AS id_b
                FROM sh a JOIN sh b ON a.lang = b.lang AND a.doc_id < b.doc_id
                WHERE {jacc} >= 0.5
            ),
            edges AS (
                SELECT id_a AS u, id_b AS v FROM pairs
                UNION SELECT id_b, id_a FROM pairs
            ),
            reach(u, v) AS (
                SELECT DISTINCT u, u FROM edges
                UNION
                SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
            ),
            labels AS (
                SELECT u AS doc_id, min(v) AS cluster_id FROM reach GROUP BY u
            )
            SELECT c.doc_id, c.lang,
                   CAST(length(c.text) AS BIGINT) AS text_len
            FROM corpus c
            WHERE c.doc_id NOT IN (
                SELECT doc_id FROM labels WHERE doc_id != cluster_id)
        """,
        "query_heavy_hitters": """
            WITH tok AS (
                SELECT unnest(string_split_regex(trim(lower(text)),
                                                 '[ \t\n\r]+')) AS term
                FROM documents),
            t AS (SELECT term FROM tok WHERE length(term) > 0),
            n AS (SELECT count(*) AS total FROM t)
            SELECT term, count(*) AS n FROM t, n GROUP BY term, total
            HAVING count(*) >= 0.002 * total
        """,
        "query_incremental_agg": """
            SELECT o_orderpriority,
                   count(*) AS n_orders,
                   CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                        AS DOUBLE) / 100.0 AS total_price,
                   CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                        AS DOUBLE) / 100.0 / CAST(count(*) AS DOUBLE)
                       AS avg_price
            FROM orders GROUP BY o_orderpriority
        """,
        "source_schema_evolution": """
            SELECT o_orderkey, o_custkey,
                   CASE WHEN o_orderkey % 2 = 0 THEN o_totalprice
                   END AS o_totalprice
            FROM orders
        """,
        "query_salted_join_auto": """
            WITH f AS (SELECT event_id,
                              CASE WHEN user_id % 10 = 0 THEN 0
                                   ELSE user_id END AS skew_key,
                              round(value, 2) AS value
                       FROM events),
            d AS (SELECT skew_key, count(*) AS n_key_events
                  FROM f GROUP BY skew_key)
            SELECT f.skew_key, f.event_id, f.value, d.n_key_events
            FROM f JOIN d USING (skew_key)
        """,
        "text_scrub_chunks": f"""
            WITH corpus AS ({_AUG_SQL}),
            t AS (SELECT doc_id,
                         list_filter(string_split_regex(
                             trim(lower(coalesce(text, ''))), '[ \t\n\r]+'),
                             x -> length(x) > 0) AS toks
                  FROM corpus),
            s AS (SELECT doc_id, toks,
                         unnest(range(0, greatest(len(toks), 1), 32))
                             AS start
                  FROM t),
            ch AS (SELECT doc_id, CAST(start / 32 AS BIGINT) AS chunk_idx,
                          array_to_string(
                              list_slice(toks, start + 1, start + 32),
                              ' ') AS chunk_text
                   FROM s WHERE least(32, len(toks) - start) > 0),
            kept AS (
                SELECT doc_id, chunk_idx, chunk_text FROM ch
                QUALIFY row_number() OVER (PARTITION BY chunk_text
                                           ORDER BY doc_id, chunk_idx) = 1)
            SELECT doc_id, count(*) AS n_kept_chunks,
                   string_agg(chunk_text, ' ' ORDER BY chunk_idx)
                       AS clean_text
            FROM kept GROUP BY doc_id
        """,
        "sample_topk": f"""
            SELECT c_custkey, c_name, c_acctbal FROM customer
            ORDER BY {{u}}, c_custkey LIMIT 200
        """.format(u=SMP.hash_unit_sql("c_custkey", "s5")),
        "sample_weighted": SMP.weighted_sample_sql(
            "o_orderkey, o_totalprice", "orders", "o_orderkey",
            "o_totalprice", 300, "ws6"),
        "mm_tar_shards": f"""
            WITH d AS (
                SELECT doc_id, text,
                       CAST(floor({SMP.hash_unit_sql('doc_id')} * 8)
                            AS BIGINT) AS shard
                FROM documents),
            m AS (
                SELECT shard, doc_id,
                       CAST(doc_id AS VARCHAR) || '.txt' AS name,
                       CAST(octet_length(encode(text)) AS BIGINT) AS size,
                       md5(text) AS payload_md5
                FROM d),
            o AS (
                SELECT shard, name, size, payload_md5,
                       512 + CAST(coalesce(sum(
                           512 + 512 * CAST(ceil(size / 512.0) AS BIGINT))
                           OVER (PARTITION BY shard ORDER BY doc_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND 1 PRECEDING), 0) AS BIGINT) AS data_offset
                FROM m)
            SELECT shard, name, size, data_offset, payload_md5 FROM o
        """,
        # nearest-rank medians on centi-units; deviations and the
        # outlier cut are integer comparisons — no interpolation, no
        # consistency-constant float multiply
        # window-based like the operator (no group joins — an
        # equi-join would drop a NULL group, windows keep it)
        "query_mad": """
            WITH b AS (SELECT event_type AS g,
                              CAST(floor(value * 100 + 0.5) AS BIGINT)
                                  AS xc
                       FROM events WHERE value IS NOT NULL),
            r AS (SELECT g, xc,
                         row_number() OVER (PARTITION BY g
                                            ORDER BY xc) AS rn,
                         count(*) OVER (PARTITION BY g) AS n
                  FROM b),
            m AS (SELECT g, xc,
                         max(CASE WHEN rn = (n + 1) // 2 THEN xc END)
                             OVER (PARTITION BY g) AS med_c
                  FROM r),
            d AS (SELECT g, med_c, abs(xc - med_c) AS dev FROM m),
            dr AS (SELECT g, med_c, dev,
                          row_number() OVER (PARTITION BY g
                                             ORDER BY dev) AS rn,
                          count(*) OVER (PARTITION BY g) AS n
                   FROM d),
            dm AS (SELECT g, med_c, dev,
                          max(CASE WHEN rn = (n + 1) // 2 THEN dev END)
                              OVER (PARTITION BY g) AS mad_c
                   FROM dr)
            SELECT g AS event_type, count(*) AS n_rows,
                   CAST(max(med_c) AS DOUBLE) / 100 AS median,
                   CAST(max(mad_c) AS DOUBLE) / 100 AS mad,
                   CAST(sum(CASE WHEN dev > 3 * mad_c THEN 1
                            ELSE 0 END) AS BIGINT) AS n_outliers
            FROM dm GROUP BY g
        """,
        # exact centi-unit integers: the group sum is order-free, the
        # encoder is one integer subtraction + one double division
        "query_target_encoding": f"""
            WITH b AS (SELECT o_orderkey, o_orderpriority,
                              CAST(floor(o_totalprice * 100 + 0.5)
                                   AS BIGINT) AS xc
                       FROM orders),
            s AS (SELECT o_orderpriority,
                         CAST(sum(xc) AS BIGINT) AS sm,
                         count(xc) AS n
                  FROM b GROUP BY o_orderpriority)
            SELECT o_orderkey, o_orderpriority,
                   CASE WHEN n > 1 THEN {ROUND4_SQL.format(
                       x='(CAST(sm - xc AS DOUBLE) / 100.0)'
                         ' / CAST(n - 1 AS DOUBLE)')}
                   END AS target_loo
            FROM b JOIN s USING (o_orderpriority)
        """,
        "query_decimal_agg": """
            SELECT o_orderpriority, count(*) AS n_orders,
                   CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(12,2)))
                             AS DECIMAL(18,2)) AS DOUBLE) AS total_price,
                   CAST(min(CAST(o_totalprice AS DECIMAL(12,2)))
                        AS DOUBLE) AS min_price,
                   CAST(max(CAST(o_totalprice AS DECIMAL(12,2)))
                        AS DOUBLE) AS max_price
            FROM orders GROUP BY o_orderpriority
        """,
        "privacy_pseudonymize": """
            WITH c AS (SELECT md5(concat('pepper-r5:',
                                         CAST(c_custkey AS VARCHAR)))
                           AS cust_token, c_mktsegment
                       FROM customer),
            o AS (SELECT md5(concat('pepper-r5:',
                                    CAST(o_custkey AS VARCHAR)))
                      AS cust_token
                  FROM orders)
            SELECT c_mktsegment, count(*) AS n_orders,
                   count(DISTINCT cust_token) AS n_customers
            FROM o JOIN c USING (cust_token)
            GROUP BY c_mktsegment
        """,
        "sample_epoch_shuffle": f"""
            WITH d AS (
                SELECT c_custkey, c_name,
                       {SMP.hash_unit_sql("c_custkey", "epoch1")} AS u
                FROM customer),
            s AS (SELECT c_custkey, c_name, u,
                         CAST(least(floor(u * 8), 7) AS BIGINT) AS shard
                  FROM d)
            SELECT c_custkey, c_name, shard,
                   CAST(row_number() OVER (PARTITION BY shard
                                           ORDER BY u, c_custkey)
                        AS BIGINT) AS pos
            FROM s
        """,
        "events_delay_audit": f"""
            WITH e AS (
                SELECT user_id, event_id, epoch_us(ts) AS us,
                       epoch_us(ts)
                       + CAST(floor({SMP.hash_unit_sql("event_id", "delay")}
                                    * 600000000.0) AS BIGINT)
                       - 300000000 AS arr
                FROM events),
            d AS (
                SELECT greatest(0, coalesce(
                           max(us) OVER (PARTITION BY user_id
                                         ORDER BY arr, event_id
                                         ROWS BETWEEN UNBOUNDED PRECEDING
                                         AND 1 PRECEDING), us) - us) AS dis
                FROM e)
            SELECT CAST(floor(dis / 60000000) AS BIGINT)
                       AS disorder_minutes,
                   count(*) AS n_events,
                   max(dis) AS max_disorder_us
            FROM d GROUP BY 1
        """,
        "text_strip_html": f"""
            WITH h AS (
                SELECT doc_id,
                       '<html><head><title>Doc '
                       || CAST(doc_id AS VARCHAR)
                       || '</title><style>body {{color: #333}}</style>'
                       || '</head><body><!-- id '
                       || CAST(doc_id AS VARCHAR)
                       || ' --><h1>Doc ' || CAST(doc_id AS VARCHAR)
                       || '</h1><p>' || text
                       || '</p><script type="text/javascript">var id = '
                       || CAST(doc_id AS VARCHAR)
                       || ';</script><div class="footer">Tom &amp; '
                       || 'Jerry &lt;3 &quot;quoted&quot;&nbsp;'
                       || '&#39;x&#39;</div></body></html>' AS html
                FROM documents)
            SELECT doc_id,
                   {TX.HTML_TAG_COUNT_SQL.format(c='html')} AS n_tags,
                   {TX.strip_html_sql('html')} AS clean_text
            FROM h
        """,
        "text_pii_redact": f"""
            WITH aug AS (
                SELECT doc_id,
                       CASE WHEN doc_id % 3 = 0 THEN
                           text || ' call (555) 123-4'
                                || lpad(CAST(doc_id AS VARCHAR), 3, '0')
                                || ' ssn 123-45-6789 from 10.0.'
                                || CAST(doc_id % 256 AS VARCHAR) || '.7'
                                || ' card 4111 1111 1111 1111'
                       ELSE text END AS t
                FROM documents)
            SELECT doc_id, {', '.join(TX.pii_counts_sql('t'))},
                   {TX.redact_pii_sql('t')} AS clean_text
            FROM aug
        """,
        "text_tfidf": rf"""
            WITH tok AS (
                SELECT doc_id,
                       unnest(string_split_regex(trim(lower(text)),
                                                 '[ \t\n\r]+')) AS term
                FROM documents),
            pairs AS (SELECT doc_id, term, count(*) AS tf
                      FROM tok WHERE length(term) > 0
                      GROUP BY doc_id, term),
            dfreq AS (SELECT term, count(*) AS df FROM pairs GROUP BY term),
            n AS (SELECT count(*) AS n_docs FROM documents)
            SELECT p.doc_id, p.term, p.tf, d.df,
                   {ROUND4_SQL.format(
                       x='p.tf * ln(1.0 + CAST(n_docs AS DOUBLE) / d.df)')}
                       AS tfidf
            FROM pairs p JOIN dfreq d USING (term), n
            WHERE p.tf >= 2
        """,
        "sorted_export_zorder": _zorder_oracle(),
        "events_retention": f"""
            WITH act AS (SELECT DISTINCT user_id AS u,
                                epoch_us(ts) // {_DAY_US} AS d
                         FROM events
                         WHERE user_id IS NOT NULL),
            coh AS (SELECT u, min(d) AS cohort FROM act GROUP BY u)
            SELECT cohort AS cohort_day, d - cohort AS day_offset,
                   count(*) AS n_users
            FROM act JOIN coh USING (u)
            GROUP BY cohort, d - cohort
        """,
        "text_lm_score": f"""
            WITH t AS (SELECT doc_id,
                              string_split_regex(trim(lower(text)),
                                                 '[ \t\n\r]+') AS toks
                       FROM documents),
            bg AS (SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2
                   FROM (SELECT doc_id, toks,
                                unnest(range(1, greatest(len(toks), 1)))
                                    AS i
                         FROM t)),
            bgc AS (SELECT w1, w2, count(*) AS c_bg FROM bg GROUP BY w1, w2),
            ctx AS (SELECT w1, CAST(sum(c_bg) AS BIGINT) AS c_ctx
                    FROM bgc GROUP BY w1),
            v AS (SELECT count(DISTINCT tok) AS v
                  FROM (SELECT unnest(toks) AS tok FROM t)
                  WHERE length(tok) > 0),
            model AS (SELECT w1, w2,
                             CAST(floor(ln((c_bg + 1.0) / (c_ctx + v))
                                        * 1000000.0) AS BIGINT) AS lp
                      FROM bgc JOIN ctx USING (w1), v)
            SELECT doc_id, count(*) AS n_bigrams,
                   {ROUND4_SQL.format(
                       x='CAST(sum(lp) AS DOUBLE) / '
                         '(count(*) * 1000000.0)')} AS lm_score
            FROM bg JOIN model USING (w1, w2)
            GROUP BY doc_id
        """,
        # same bigram construction as text_lm_score; the phrase score
        # is the fixed IEEE sequence double(c12-5)*N/c1/c2 — exact
        # BIGINT operands, no logs (phrase_collocations docstring)
        "text_phrases": f"""
            WITH t AS (SELECT string_split_regex(trim(lower(text)),
                                                 '[ \t\n\r]+') AS toks
                       FROM documents),
            bg AS (SELECT toks[i] AS w1, toks[i + 1] AS w2
                   FROM (SELECT toks,
                                unnest(range(1, greatest(len(toks), 1)))
                                    AS i
                         FROM t)
                   WHERE length(toks[i]) > 0
                     AND length(toks[i + 1]) > 0),
            bgc AS (SELECT w1, w2, count(*) AS c12 FROM bg
                    GROUP BY w1, w2 HAVING count(*) >= 5),
            uni AS (SELECT tok, count(*) AS c
                    FROM (SELECT unnest(toks) AS tok FROM t)
                    WHERE length(tok) > 0 GROUP BY tok),
            tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM uni),
            scored AS (SELECT w1, w2, c12, u1.c AS c1, u2.c AS c2,
                              {ROUND4_SQL.format(
                                  x='CAST(c12 - 5 AS DOUBLE) * n '
                                    '/ u1.c / u2.c')} AS score
                       FROM bgc
                       JOIN uni u1 ON u1.tok = w1
                       JOIN uni u2 ON u2.tok = w2, tot)
            SELECT w1, w2, c12, c1, c2, score,
                   row_number() OVER (ORDER BY score DESC, w1, w2)
                       AS rnk
            FROM scored QUALIFY rnk <= 50
        """,
        "events_ffill": f"""
            SELECT event_id, user_id, event_type,
                   {ROUND4_SQL.format(
                       x="last_value(CASE WHEN event_type = 'purchase' "
                         "THEN value END IGNORE NULLS) OVER ("
                         "PARTITION BY user_id "
                         "ORDER BY epoch_us(ts), event_id "
                         "ROWS BETWEEN UNBOUNDED PRECEDING AND "
                         "CURRENT ROW)")} AS last_purchase_value
            FROM events
        """,
        "privacy_k_anon": """
            WITH base AS (SELECT c_custkey,
                                 CAST(c_nationkey AS VARCHAR) AS nation,
                                 c_mktsegment AS segment
                          FROM customer),
            g AS (SELECT *, count(*) OVER (PARTITION BY nation, segment)
                         AS group_size
                  FROM base)
            SELECT c_custkey,
                   CASE WHEN group_size < 8 THEN '*' ELSE nation END
                       AS nation,
                   CASE WHEN group_size < 8 THEN '*' ELSE segment END
                       AS segment,
                   group_size
            FROM g
        """,
        "mm_binary_roundtrip": """
            SELECT doc_id, md5(text) AS payload_md5,
                   strlen(text) AS orig_bytes, lang
            FROM documents
        """,
        "query_grouping_sets": """
            SELECT coalesce(l_returnflag, 'ALL') AS l_returnflag,
                   coalesce(l_linestatus, 'ALL') AS l_linestatus,
                   grouping(l_returnflag, l_linestatus) AS gid,
                   count(*) AS n_rows,
                   round(sum(l_quantity), 2) AS sum_qty
            FROM lineitem
            GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
                                    (l_linestatus), ())
        """,
        "events_rolling_1h": f"""
            WITH ev AS (
                SELECT event_id, user_id, epoch_us(ts) AS ts_us,
                       CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
                FROM events)
            SELECT event_id, user_id, ts_us,
                   count(*) OVER w AS n_1h,
                   (CAST(sum(cents) OVER w AS BIGINT) / 100.0)
                       AS sum_value_1h
            FROM ev
            WINDOW w AS (PARTITION BY user_id ORDER BY ts_us
                         RANGE BETWEEN {_HOUR_RANGE_US} PRECEDING
                         AND CURRENT ROW)
        """,
        "embedding_quantize": f"""
            WITH base AS (
                SELECT vec_id, embedding,
                       list_max(list_transform(embedding,
                                               x -> abs(x))) AS maxabs
                FROM embeddings),
            s AS (SELECT vec_id, embedding,
                         CASE WHEN maxabs = 0 THEN NULL
                              ELSE CAST(maxabs AS DOUBLE)
                                   / CAST(127 AS DOUBLE) END AS scale
                  FROM base),
            ex AS (SELECT vec_id, scale,
                          CAST(embedding[i] AS DOUBLE) AS x
                   FROM s,
                        LATERAL unnest(range(1, len(embedding) + 1))
                            AS u(i)),
            q AS (SELECT vec_id, scale, x,
                         CASE WHEN scale IS NULL THEN 0
                              ELSE CAST(floor(x / scale + 0.5) AS BIGINT)
                         END AS qv
                  FROM ex)
            SELECT vec_id,
                   {_ROUND8_SQL.format(
                       x='coalesce(any_value(scale), 0.0)')} AS scale,
                   CAST(sum(qv) AS BIGINT) AS qsum,
                   CAST(sum(qv * qv) AS BIGINT) AS qnorm2,
                   {_ROUND8_SQL.format(
                       x='max(abs(x - qv * coalesce(scale, 0.0)))')}
                       AS max_abs_err
            FROM q GROUP BY vec_id
        """,
        # invariant oracle (sketch_cms pattern, r8): exact component
        # grid + corpus count; the eigensolver/centering/projection
        # enter only through the five oracle-asserted TRUE booleans
        "embedding_pca": """
            SELECT CAST(c AS BIGINT) AS component,
                   (SELECT count(*) FROM embeddings) AS n_vectors,
                   TRUE AS basis_ortho_ok, TRUE AS eig_desc_ok,
                   TRUE AS eig_nonneg_ok, TRUE AS centered_ok,
                   TRUE AS spectrum_ok
            FROM (SELECT unnest(range(8)) AS c)
        """,
        "embedding_grammian": """
            WITH base AS (
                SELECT vec_id, embedding,
                       list_max(list_transform(embedding,
                                               x -> abs(x))) AS maxabs
                FROM embeddings),
            s AS (SELECT vec_id, embedding,
                         CASE WHEN maxabs = 0 THEN NULL
                              ELSE CAST(maxabs AS DOUBLE)
                                   / CAST(127 AS DOUBLE) END AS scale
                  FROM base),
            el AS (SELECT vec_id, CAST(i - 1 AS INTEGER) AS i,
                          CASE WHEN scale IS NULL THEN 0
                               ELSE CAST(floor(
                                   CAST(embedding[i] AS DOUBLE) / scale
                                   + 0.5) AS BIGINT)
                          END AS qv
                   FROM s,
                        LATERAL unnest(range(1, len(embedding) + 1))
                            AS u(i))
            SELECT a.i AS i, b.i AS j,
                   CAST(sum(a.qv * b.qv) AS BIGINT) AS g
            FROM el a JOIN el b
              ON a.vec_id = b.vec_id AND a.i <= b.i
            GROUP BY a.i, b.i
        """,
        "text_bpe_pairs": r"""
            WITH t AS (SELECT string_split_regex(trim(lower(text)),
                                                 '[ \t\n\r]+') AS toks
                       FROM documents),
            g AS (SELECT array_to_string(list_slice(toks, i, i + 1), ' ')
                             AS pair
                  FROM (SELECT toks,
                               unnest(range(1, greatest(len(toks), 1)))
                                   AS i
                        FROM t)),
            c AS (SELECT pair, count(*) AS n FROM g GROUP BY pair),
            r AS (SELECT pair, n,
                         CAST(row_number() OVER (ORDER BY n DESC, pair)
                              AS INTEGER) AS rnk
                  FROM c)
            SELECT pair, n, rnk FROM r WHERE rnk <= 100
        """,
        # BPE learning twin: rank 1 recomputed exactly from the
        # word-frequency relation (weighted adjacent-pair argmax,
        # ties on the lexicographically least (l, r) — binary
        # collation matches Python tuple order on this corpus); the
        # iterative tail's hard invariants emitted as literal TRUE
        # (operators/bpe.py:learn_bpe_certified documents each proof)
        "text_bpe_learn": r"""
            WITH tok AS (
                SELECT unnest(string_split_regex(trim(lower(text)),
                                                 '[ \t\n\r]+')) AS w
                FROM documents),
            wc AS (SELECT w, count(*) AS n FROM tok WHERE len(w) > 0
                   GROUP BY w ORDER BY n DESC, w LIMIT 50000),
            p AS (SELECT substr(w, i, 1) AS l,
                         CASE WHEN i < len(w) THEN substr(w, i + 1, 1)
                              ELSE '</w>' END AS r,
                         n
                  FROM wc, LATERAL unnest(generate_series(
                           1, CAST(len(w) AS BIGINT))) AS u(i)),
            agg AS (SELECT l, r, CAST(sum(n) AS BIGINT) AS c
                    FROM p GROUP BY l, r),
            win AS (SELECT l, r, c FROM agg ORDER BY c DESC, l, r
                    LIMIT 1)
            SELECT g.rank,
                   CASE WHEN g.rank = 1 THEN w.l END AS left1,
                   CASE WHEN g.rank = 1 THEN w.r END AS right1,
                   CASE WHEN g.rank = 1 THEN w.l || w.r END AS merged1,
                   CASE WHEN g.rank = 1 THEN w.c END AS count1,
                   TRUE AS count_nonincreasing,
                   TRUE AS merged_is_concat,
                   TRUE AS merged_outside_base,
                   TRUE AS mass_drop_in_bounds,
                   TRUE AS pairs_distinct
            FROM generate_series(1, 20) AS g(rank) CROSS JOIN win w
        """,
        # BPE encode: merge 1 is the same argmax CTE as the learn
        # oracle; applying one single-character pair equals
        # left-to-right non-overlapping replace() counting (greedy
        # BPE semantics, doubled pairs included), with EOW mapped to
        # a one-char sentinel so it participates in the pattern.
        # Full-10-merge invariants are Spark-side booleans.
        "text_bpe_encode": r"""
            WITH tok AS (
                SELECT unnest(string_split_regex(trim(lower(text)),
                                                 '[ \t\n\r]+')) AS w
                FROM documents),
            wc AS (SELECT w, count(*) AS n FROM tok WHERE len(w) > 0
                   GROUP BY w ORDER BY n DESC, w LIMIT 50000),
            p AS (SELECT substr(w, i, 1) AS l,
                         CASE WHEN i < len(w) THEN substr(w, i + 1, 1)
                              ELSE '</w>' END AS r,
                         n
                  FROM wc, LATERAL unnest(generate_series(
                           1, CAST(len(w) AS BIGINT))) AS u(i)),
            agg AS (SELECT l, r, CAST(sum(n) AS BIGINT) AS c
                    FROM p GROUP BY l, r),
            win AS (SELECT CASE WHEN l = '</w>' THEN chr(1) ELSE l END
                               || CASE WHEN r = '</w>' THEN chr(1)
                                       ELSE r END AS pat
                    FROM agg ORDER BY c DESC, l, r LIMIT 1),
            dw AS (
                SELECT doc_id,
                       unnest(list_filter(string_split_regex(
                           trim(lower(text)), '[ \t\n\r]+'),
                           x -> len(x) > 0)) AS w
                FROM documents),
            enc AS (
                SELECT doc_id, len(w) + 1 AS syms,
                       (len(w || chr(1))
                        - len(replace(w || chr(1), pat, ''))) // 2
                           AS hits
                FROM dw CROSS JOIN win),
            per AS (
                SELECT doc_id, count(*) AS n_words,
                       CAST(sum(syms) AS BIGINT) AS n_syms,
                       CAST(sum(syms - hits) AS BIGINT) AS n_tokens_m1
                FROM enc GROUP BY doc_id)
            SELECT d.doc_id,
                   coalesce(p.n_words, 0) AS n_words,
                   coalesce(p.n_syms, 0) AS n_syms,
                   coalesce(p.n_tokens_m1, 0) AS n_tokens_m1,
                   TRUE AS tokens_bounded, TRUE AS roundtrip_ok
            FROM documents d LEFT JOIN per p ON d.doc_id = p.doc_id
        """,
        "events_anomaly": f"""
            WITH s AS (SELECT user_id, avg(value) AS m,
                              stddev_samp(value) AS sd
                       FROM events GROUP BY user_id)
            SELECT e.user_id, e.event_id,
                   round(e.value, 2) AS value,
                   {ROUND4_SQL.format(x='(e.value - m) / sd')} AS z
            FROM events e JOIN s USING (user_id)
            WHERE sd > 0 AND abs((e.value - m) / sd) > 2
        """,
        # 1-bit tier twin: identical 32-term CASE packing (1-based
        # list indexing), identical bit_count(xor) distance — all
        # integers, so the oracle matches on values
        "similarity_bq_topk": f"""
            WITH p AS (
                SELECT vec_id,
                       {_QZ_HI} AS hi, {_QZ_LO} AS lo
                FROM embeddings WHERE len(embedding) = 64),
            scored AS (
                SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                       CAST(bit_count(xor(q.hi, c.hi))
                            + bit_count(xor(q.lo, c.lo)) AS INTEGER)
                           AS hamming
                FROM p q JOIN p c ON q.vec_id != c.vec_id
                WHERE q.vec_id < 10)
            SELECT query_id, neighbor_id, hamming,
                   row_number() OVER (PARTITION BY query_id
                       ORDER BY hamming, neighbor_id) AS rank
            FROM scored QUALIFY rank <= 5
        """,
        "similarity_int8_topk": f"""
            WITH base AS (
                SELECT vec_id, embedding,
                       list_max(list_transform(embedding,
                                               x -> abs(x))) AS maxabs
                FROM embeddings),
            s AS (SELECT vec_id, embedding,
                         CASE WHEN maxabs = 0 THEN NULL
                              ELSE CAST(maxabs AS DOUBLE)
                                   / CAST(127 AS DOUBLE) END AS scale
                  FROM base),
            el AS (SELECT vec_id, coalesce(scale, 0.0) AS scl, i,
                          CASE WHEN scale IS NULL THEN 0
                               ELSE CAST(floor(
                                   CAST(embedding[i] AS DOUBLE) / scale
                                   + 0.5) AS BIGINT)
                          END AS qv
                   FROM s,
                        LATERAL unnest(range(1, len(embedding) + 1))
                            AS u(i)),
            d AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                         CAST(sum(q.qv * c.qv) AS BIGINT) AS score_int,
                         any_value(c.scl) AS cs, any_value(q.scl) AS qs
                  FROM el q JOIN el c
                    ON q.i = c.i AND c.vec_id != q.vec_id
                  WHERE q.vec_id < 10
                  GROUP BY q.vec_id, c.vec_id),
            r AS (SELECT query_id, neighbor_id, score_int,
                         CAST(score_int AS DOUBLE) * cs * qs AS raw,
                         row_number() OVER (
                             PARTITION BY query_id
                             ORDER BY CAST(score_int AS DOUBLE) * cs * qs
                                      DESC, neighbor_id) AS rank
                  FROM d)
            SELECT query_id, neighbor_id, score_int,
                   {_ROUND8_SQL.format(x='raw')} AS score, rank
            FROM r WHERE rank <= 5
        """,
        "dedup_containment": f"""
            WITH corpus AS ({_AUG_SQL}),
            sh AS (SELECT doc_id, lang, {_shingles('text')} AS sh
                   FROM corpus)
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   len(a.sh) AS sz_a, len(b.sh) AS sz_b, {cont} AS containment
            FROM sh a JOIN sh b ON a.lang = b.lang AND a.doc_id < b.doc_id
            WHERE {cont} >= 0.9
        """,
        "privacy_l_diversity": """
            WITH cust AS (
                SELECT c_custkey,
                       CAST(c_nationkey AS VARCHAR) AS nation,
                       trim(CAST(c_mktsegment AS VARCHAR)) AS segment,
                       CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_band
                FROM customer),
            s AS (SELECT nation, segment,
                         count(DISTINCT bal_band) AS sens_diversity
                  FROM cust GROUP BY nation, segment)
            SELECT c_custkey,
                   CASE WHEN sens_diversity < 3 THEN '*' ELSE c.nation
                       END AS nation,
                   CASE WHEN sens_diversity < 3 THEN '*' ELSE c.segment
                       END AS segment,
                   bal_band,
                   CAST(sens_diversity AS BIGINT) AS sens_diversity
            FROM cust c JOIN s USING (nation, segment)
        """,
        # raw string: the SQL must literally read replace(x, '\', '\\')
        # — in a non-raw literal Python would collapse the escapes to a
        # replace(x, '', ...) no-op and the backslash armor would exist
        # only on the Spark side (cross-engine parity pinned in
        # tests/test_queries.py with a backslash-bearing state)
        "events_seq_ngrams": r"""
            WITH s AS (
                SELECT event_type,
                       lead(event_type, 1) OVER w AS t1,
                       lead(event_type, 2) OVER w AS t2
                FROM events
                WINDOW w AS (PARTITION BY user_id
                             ORDER BY epoch_us(ts), event_id)
            ), g AS (
                SELECT concat_ws('>',
                           replace(replace(event_type, '\', '\\'),
                                   '>', '\>'),
                           replace(replace(t1, '\', '\\'), '>', '\>'),
                           replace(replace(t2, '\', '\\'), '>', '\>'))
                       AS gram
                FROM s WHERE t2 IS NOT NULL AND t1 IS NOT NULL
                  AND event_type IS NOT NULL
            ), c AS (SELECT gram, count(*) AS n_seq FROM g GROUP BY gram)
            SELECT gram, n_seq,
                   row_number() OVER (ORDER BY n_seq DESC, gram) AS rnk
            FROM c QUALIFY rnk <= 25
        """,
        # identical left fold both engines: Spark F.aggregate with zero
        # 0.0 == DuckDB list_reduce over the 0.0-prepended frame list;
        # every step is acc*0.5 + x*0.5 (exact IEEE halvings, defined
        # fold order) so the doubles are bit-identical pre-round4
        "events_ewma": f"""
            WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us,
                              CAST(value AS DOUBLE) AS v
                       FROM events WHERE value IS NOT NULL),
            w AS (SELECT user_id, event_id, ts_us,
                         list(v) OVER (PARTITION BY user_id
                                       ORDER BY ts_us, event_id
                                       ROWS BETWEEN 19 PRECEDING
                                       AND CURRENT ROW) AS arr
                  FROM e)
            SELECT user_id, ts_us, event_id,
                   {ROUND4_SQL.format(
                       x="list_reduce(list_prepend(0.0, arr), "
                         "(acc, x) -> acc * 0.5 + x * 0.5)")} AS ewma
            FROM w
        """,
        "events_ohlc": """
            WITH e AS (
                SELECT user_id, epoch_us(ts) // 3600000000 AS bucket, value,
                       row_number() OVER (
                           PARTITION BY user_id, epoch_us(ts) // 3600000000
                           ORDER BY epoch_us(ts), event_id) AS ra,
                       row_number() OVER (
                           PARTITION BY user_id, epoch_us(ts) // 3600000000
                           ORDER BY epoch_us(ts) DESC, event_id DESC) AS rd
                FROM events)
            SELECT user_id, bucket,
                   max(CASE WHEN ra = 1 THEN value END) AS open,
                   max(value) AS high, min(value) AS low,
                   max(CASE WHEN rd = 1 THEN value END) AS close,
                   count(*) AS n_events
            FROM e GROUP BY user_id, bucket
        """,
        "query_skew_profile": f"""
            WITH c AS (SELECT user_id AS key, count(*) AS n_rows
                       FROM events GROUP BY user_id),
            t AS (SELECT sum(n_rows) AS total, count(*) AS nkeys FROM c),
            r AS (SELECT key, n_rows,
                         row_number() OVER (ORDER BY n_rows DESC,
                                            key ASC NULLS LAST) AS rnk
                  FROM c)
            SELECT key, n_rows, rnk,
                   CAST(floor(n_rows * 1000000.0 / total) AS BIGINT)
                       AS share_ppm,
                   {ROUND4_SQL.format(
                       x='CAST(n_rows AS DOUBLE) * nkeys / total')}
                       AS skew_ratio
            FROM r, t WHERE rnk <= 20
        """,
        "streaming_expectations": """
            SELECT 1 AS rule_id, 'not_null' AS rule,
                   'o_custkey' AS col_name,
                   CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_violations
            FROM orders
            UNION ALL
            SELECT 2, 'range', 'o_totalprice',
                   CAST(sum(CASE WHEN o_totalprice < 0
                                   OR o_totalprice > 450000
                                 THEN 1 ELSE 0 END) AS BIGINT)
            FROM orders
            UNION ALL
            SELECT 3, 'fk', 'o_custkey', CAST(count(*) AS BIGINT)
            FROM orders o
            WHERE o_custkey IS NOT NULL
              AND NOT EXISTS (SELECT 1 FROM customer c
                              WHERE c.c_custkey = o.o_custkey)
        """,
        "query_geo_join": """
            WITH c AS (SELECT c_custkey,
                              c_custkey * 7919 % 1800000 - 900000 AS la,
                              c_custkey * 104729 % 3600000 - 1800000 AS lo
                       FROM customer),
            s AS (SELECT s_suppkey,
                         s_suppkey * 7919 % 1800000 - 900000 AS la,
                         s_suppkey * 104729 % 3600000 - 1800000 AS lo
                  FROM supplier)
            SELECT c_custkey, s_suppkey,
                   (c.la - s.la) * (c.la - s.la)
                   + (c.lo - s.lo) * (c.lo - s.lo) AS dist2
            FROM c, s
            WHERE (c.la - s.la) * (c.la - s.la)
                  + (c.lo - s.lo) * (c.lo - s.lo)
                  <= 2500000000
        """,
        "events_seq_lm": f"""
            WITH bg AS (
                SELECT user_id AS k, event_type AS w1,
                       lead(event_type) OVER (
                           PARTITION BY user_id
                           ORDER BY epoch_us(ts), event_id) AS w2
                FROM events),
            b2 AS (SELECT k, w1, w2 FROM bg
                   WHERE w2 IS NOT NULL AND w1 IS NOT NULL),
            bgc AS (SELECT w1, w2, count(*) AS c_bg FROM b2
                    GROUP BY w1, w2),
            ctx AS (SELECT w1, CAST(sum(c_bg) AS BIGINT) AS c_ctx
                    FROM bgc GROUP BY w1),
            v AS (SELECT count(DISTINCT event_type) AS v FROM events
                  WHERE event_type IS NOT NULL),
            model AS (SELECT w1, w2,
                             CAST(floor(ln((CAST(c_bg AS DOUBLE) + 1.0)
                                  / CAST(c_ctx + v AS DOUBLE))
                                  * 1000000.0) AS BIGINT) AS lp
                      FROM bgc JOIN ctx USING (w1), v),
            sc AS (SELECT k, count(*) AS n_steps,
                          CAST(sum(lp) AS BIGINT) AS s
                   FROM b2 JOIN model USING (w1, w2) GROUP BY k)
            SELECT k AS user_id, n_steps,
                   {ROUND4_SQL.format(
                       x='s / (CAST(n_steps AS DOUBLE) * 1000000.0)')}
                       AS seq_score
            FROM sc
        """,
        "events_bursts": f"""
            WITH c0 AS (SELECT event_type,
                               epoch_us(ts) // 3600000000 AS bucket,
                               count(*) AS n_events
                        FROM events GROUP BY event_type, bucket),
            span AS (SELECT event_type, min(bucket) AS lo,
                            max(bucket) AS hi
                     FROM c0 GROUP BY event_type),
            grid AS (SELECT event_type,
                            unnest(range(lo, hi + 1)) AS bucket
                     FROM span),
            c AS (SELECT grid.event_type, grid.bucket,
                         coalesce(c0.n_events, 0) AS n_events
                  FROM grid LEFT JOIN c0
                    ON grid.event_type
                       IS NOT DISTINCT FROM c0.event_type
                   AND grid.bucket = c0.bucket),
            m AS (SELECT event_type, bucket, n_events,
                         CAST(sum(n_events) OVER w AS BIGINT) AS tsum,
                         count(n_events) OVER w AS tc
                  FROM c
                  WINDOW w AS (PARTITION BY event_type ORDER BY bucket
                               ROWS BETWEEN 24 PRECEDING
                               AND 1 PRECEDING))
            SELECT event_type, bucket, n_events,
                   {ROUND4_SQL.format(x='CAST(tsum AS DOUBLE) / tc')}
                       AS trailing_mean
            FROM m
            WHERE tc > 0 AND n_events >= 2
              AND n_events > 2.0 * (CAST(tsum AS DOUBLE) / tc)
        """,
        # every arithmetic site that mixes an integer column with a
        # decimal literal is CAST to DOUBLE: DuckDB evaluates e.g.
        # tf * (1.2 + 1.0) in exact DECIMAL arithmetic while Spark
        # folds it in doubles — a 1-ulp divergence that can flip the
        # micro-unit floor at a x.5 boundary
        "text_bm25": r"""
            WITH base AS (
                SELECT doc_id AS d,
                       list_filter(string_split_regex(trim(lower(text)),
                                                      '[ \t\n\r]+'),
                                   x -> len(x) > 0) AS t
                FROM documents),
            stats AS (SELECT count(*) AS n_docs,
                             CAST(sum(len(t)) AS BIGINT) AS total_len
                      FROM base),
            tf AS (SELECT d, dl, term, count(*) AS tf
                   FROM (SELECT d, len(t) AS dl, unnest(t) AS term
                         FROM base)
                   WHERE term IN ({terms})
                   GROUP BY d, dl, term),
            dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
            sc AS (SELECT tf.d,
                          CAST(floor(
                              ln(1.0 + (CAST(n_docs - df AS DOUBLE) + 0.5)
                                       / (CAST(df AS DOUBLE) + 0.5))
                              * (CAST(tf AS DOUBLE) * (1.2 + 1.0))
                              / (tf + 1.2 * (1.0 - 0.75
                                  + 0.75 * dl
                                    / (CAST(total_len AS DOUBLE)
                                       / n_docs)))
                              * 1000000 + 0.5) AS BIGINT) AS su
                   FROM tf
                   JOIN dfreq USING (term), stats),
            agg AS (SELECT d, CAST(sum(su) AS BIGINT) AS s
                    FROM sc GROUP BY d)
            SELECT row_number() OVER (ORDER BY s DESC, d) AS rank,
                   d AS doc_id, CAST(s AS DOUBLE) / 1000000 AS bm25
            FROM agg QUALIFY rank <= 20
        """.replace("{terms}", ", ".join(f"'{t}'" for t in _HYBRID_TERMS)),
        "text_rake": r"""
            WITH ph AS (
                SELECT trim(regexp_replace(p, ' +', ' ', 'g')) AS phrase,
                       row_number() OVER () AS pid
                FROM (SELECT unnest(string_split(
                          regexp_replace(
                              regexp_replace(
                                  regexp_replace(trim(lower(text)),
                                      '[ \t\n\r]+', ' ', 'g'),
                                  '[^a-z0-9 ]', '|', 'g'),
                              '\b(with|and|for|the|in|is|of|on|to|a)\b',
                              '|', 'g'), '|')) AS p
                      FROM documents)
                WHERE length(trim(regexp_replace(p, ' +', ' ', 'g'))) > 0
                  AND len(string_split(
                          trim(regexp_replace(p, ' +', ' ', 'g')),
                          ' ')) <= 4),
            pw AS (SELECT pid, phrase,
                          len(string_split(phrase, ' ')) AS plen,
                          unnest(string_split(phrase, ' ')) AS word
                   FROM ph),
            stats AS (SELECT word, CAST(sum(plen) AS BIGINT) AS deg,
                             count(*) AS freq
                      FROM pw GROUP BY word),
            sc AS (SELECT pid, phrase, (deg * 1000000) // freq AS ws
                   FROM pw JOIN stats USING (word)),
            inst AS (SELECT pid, phrase,
                            CAST(sum(ws) AS BIGINT) AS score_u
                     FROM sc GROUP BY pid, phrase),
            agg AS (SELECT phrase, count(*) AS n_occurrences,
                           max(score_u) AS score_u
                    FROM inst GROUP BY phrase)
            SELECT row_number() OVER (ORDER BY score_u DESC, phrase)
                       AS rank,
                   phrase, n_occurrences,
                   CAST(score_u AS DOUBLE) / 1000000 AS rake_score
            FROM agg QUALIFY rank <= 20
        """,
        "text_bm25_retrieve": r"""
            WITH base AS (
                SELECT doc_id AS d,
                       list_filter(string_split_regex(trim(lower(text)),
                                                      '[ \t\n\r]+'),
                                   x -> len(x) > 0) AS t
                FROM documents),
            qt AS (SELECT query_id, term, count(*) AS qtf
                   FROM (SELECT d AS query_id, unnest(t[1:3]) AS term
                         FROM base WHERE d < 8)
                   GROUP BY query_id, term),
            stats AS (SELECT count(*) AS n_docs,
                             CAST(sum(len(t)) AS BIGINT) AS total_len
                      FROM base),
            tf AS (SELECT d, dl, term, count(*) AS tf
                   FROM (SELECT d, len(t) AS dl, unnest(t) AS term
                         FROM base)
                   WHERE term IN (SELECT DISTINCT term FROM qt)
                   GROUP BY d, dl, term),
            dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
            sc AS (SELECT qt.query_id, tf.d,
                          CAST(floor(
                              ln(1.0 + (CAST(n_docs - df AS DOUBLE) + 0.5)
                                       / (CAST(df AS DOUBLE) + 0.5))
                              * (CAST(tf AS DOUBLE) * (1.2 + 1.0))
                              / (tf + 1.2 * (1.0 - 0.75
                                  + 0.75 * dl
                                    / (CAST(total_len AS DOUBLE)
                                       / n_docs)))
                              * 1000000 + 0.5) AS BIGINT) * qtf AS su
                   FROM tf
                   JOIN qt USING (term)
                   JOIN dfreq ON dfreq.term = tf.term, stats),
            agg AS (SELECT query_id, d, CAST(sum(su) AS BIGINT) AS s
                    FROM sc GROUP BY query_id, d)
            SELECT query_id,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY s DESC, d) AS rank,
                   d AS doc_id, CAST(s AS DOUBLE) / 1000000 AS bm25
            FROM agg QUALIFY rank <= 5
        """,
        "sample_bootstrap": SMP.poisson_bootstrap_sql(
            "event_id", "value", n_replicates=10),
        "events_conformance": ("""
            WITH seq AS (
                SELECT event_type AS f,
                       lead(event_type) OVER (
                           PARTITION BY user_id
                           ORDER BY epoch_us(ts), event_id) AS t
                FROM events),
            c AS (SELECT f AS from_state, t AS to_state,
                         count(*) AS n_violations
                  FROM seq WHERE t IS NOT NULL AND f IS NOT NULL
                  GROUP BY f, t)
            SELECT from_state, to_state, n_violations FROM c
            WHERE (from_state, to_state) NOT IN ("""
            + ", ".join(f"('{a}', '{b}')"
                        for a, b in _ALLOWED_TRANSITIONS) + ")"),
        "mm_dedup_binary": """
            WITH b AS (SELECT doc_id, encode(text) AS payload
                       FROM documents),
            fp AS (SELECT doc_id, octet_length(payload) AS n_bytes,
                          md5(substring(hex(payload), 1, 128)) AS head_md5
                   FROM b)
            SELECT head_md5, CAST(NULL AS VARCHAR) AS tail_md5,
                   min(n_bytes) AS min_bytes, max(n_bytes) AS max_bytes,
                   count(*) AS n_members, min(doc_id) AS rep_id
            FROM fp GROUP BY head_md5
            HAVING count(*) > 1
        """,
        "embedding_outliers": """
            WITH base AS (SELECT vec_id, label, embedding
                          FROM embeddings
                          WHERE label IS NOT NULL
                            AND embedding IS NOT NULL),
            ex AS (SELECT label, i - 1 AS dim, embedding[i] AS x
                   FROM (SELECT label, embedding,
                                unnest(range(1, len(embedding) + 1)) AS i
                         FROM base)),
            sums AS (SELECT label, dim,
                            CAST(sum(CAST(floor(CAST(x AS DOUBLE)
                                 * 1000000 + 0.5) AS BIGINT)) AS BIGINT)
                                AS s,
                            count(*) AS n
                     FROM ex GROUP BY label, dim),
            cents AS (SELECT label,
                             list(CAST(s AS DOUBLE) / 1000000 / n
                                  ORDER BY dim) AS cent
                      FROM sums GROUP BY label),
            sc AS (SELECT b.vec_id, b.label,
                          floor(list_cosine_similarity(
                              b.embedding::DOUBLE[], c.cent)
                              * 10000 + 0.5) / 10000 AS cos_centroid
                   FROM base b JOIN cents c USING (label))
            SELECT vec_id, label, cos_centroid,
                   row_number() OVER (PARTITION BY label
                       ORDER BY cos_centroid, vec_id) AS rnk
            FROM sc QUALIFY rnk <= 5
        """,
        "events_cumulative_users": """
            WITH f AS (SELECT user_id, min(strftime(ts, '%Y-%m-%d'))
                           AS day
                       FROM events WHERE user_id IS NOT NULL
                       GROUP BY user_id),
            d AS (SELECT day, count(*) AS n_new_users FROM f GROUP BY day)
            SELECT day, n_new_users,
                   CAST(sum(n_new_users) OVER (ORDER BY day
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                        AS BIGINT) AS cum_users
            FROM d
        """,
        "sample_balance_labels": f"""
            WITH c AS (SELECT label, count(*) AS n FROM embeddings
                       WHERE label IS NOT NULL AND vec_id IS NOT NULL
                       GROUP BY label),
            t AS (SELECT min(n) AS target FROM c),
            r AS (SELECT vec_id, label,
                         row_number() OVER (PARTITION BY label
                             ORDER BY {SMP.hash_unit_sql('vec_id', 'bal')},
                                      vec_id) AS rn
                  FROM embeddings
                  WHERE label IS NOT NULL AND vec_id IS NOT NULL)
            SELECT CAST(label AS BIGINT) AS label, count(*) AS n_kept,
                   min(vec_id) AS min_vec_id, max(vec_id) AS max_vec_id
            FROM r, t WHERE rn <= target GROUP BY label
        """,
        "similarity_hybrid_rrf": r"""
            WITH tf AS (
                SELECT doc_id AS d, count(*) AS tf
                FROM (SELECT doc_id,
                             unnest(string_split_regex(trim(lower(text)),
                                                       '[ \t\n\r]+')) AS t
                      FROM documents)
                WHERE t IN ('merge', 'window', 'spark')
                GROUP BY doc_id),
            lex AS (
                SELECT d, row_number() OVER (ORDER BY tf DESC, d)
                           AS rank_text
                FROM tf QUALIFY rank_text <= 100),
            qv AS (SELECT embedding AS q FROM embeddings WHERE vec_id = 0),
            sc AS (SELECT vec_id AS v,
                          floor(list_cosine_similarity(
                              embedding::DOUBLE[], q::DOUBLE[])
                              * 10000 + 0.5) / 10000 AS cos
                   FROM embeddings, qv),
            vec AS (
                SELECT v, row_number() OVER (ORDER BY cos DESC, v)
                           AS rank_vec
                FROM sc QUALIFY rank_vec <= 100),
            f AS (
                SELECT coalesce(d, v) AS doc_id, rank_text, rank_vec,
                       coalesce(1.0 / (60 + rank_text), 0.0)
                       + coalesce(1.0 / (60 + rank_vec), 0.0) AS rrf_raw
                FROM lex FULL OUTER JOIN vec ON d = v)
            SELECT row_number() OVER (ORDER BY rrf_raw DESC, doc_id)
                       AS rank,
                   doc_id,
                   floor(rrf_raw * 10000 + 0.5) / 10000 AS rrf,
                   rank_text, rank_vec
            FROM f QUALIFY rank <= 20
        """,
        "query_sql_tpch_q1": _TPCH_Q1_SQL,
        "query_sql_tpch_q3": _TPCH_Q3_SQL,
        "query_sql_tpch_q5": _TPCH_Q5_SQL,
        "query_sql_tpch_q6": _TPCH_Q6_SQL,
        "query_sql_tpch_q4": _TPCH_Q4_SQL,
        "query_sql_tpch_q7": _TPCH_Q7_SQL,
        "query_sql_tpch_q10": _TPCH_Q10_SQL,
        "query_sql_tpch_q13": _TPCH_Q13_SQL,
        "query_sql_tpch_q14": _TPCH_Q14_SQL,
        "query_sql_tpch_q15": _TPCH_Q15_SQL,
        "query_sql_tpch_q17": _TPCH_Q17_SQL,
        "query_sql_tpch_q18": _TPCH_Q18_SQL,
        "query_sql_tpch_q2": _TPCH_Q2_SQL,
        "query_sql_tpch_q8": _TPCH_Q8_SQL,
        "query_sql_tpch_q9": _TPCH_Q9_SQL,
        "query_sql_tpch_q11": _TPCH_Q11_SQL,
        "query_sql_tpch_q12": _TPCH_Q12_SQL,
        "query_sql_tpch_q16": _TPCH_Q16_SQL,
        "query_sql_tpch_q19": _TPCH_Q19_SQL,
        "query_sql_tpch_q20": _TPCH_Q20_SQL,
        "query_sql_tpch_q21": _TPCH_Q21_SQL,
        "query_sql_tpch_q22": _TPCH_Q22_SQL,
        "query_sql_recursive": _RECURSIVE_SQL,
        # json_extract_string = the bundled-json twin of Spark's
        # get_json_object path extraction
        "events_props_extract": """
            WITH e AS (SELECT event_type,
                              CAST(json_extract_string(props, '$.k')
                                   AS BIGINT) AS k
                       FROM events)
            SELECT event_type, count(*) AS n_events,
                   count(k) AS n_with_k,
                   CAST(sum(k) AS BIGINT) AS sum_k,
                   min(k) AS min_k, max(k) AS max_k,
                   CAST(sum(CASE WHEN k % 2 = 0 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_even_k
            FROM e GROUP BY event_type
        """,
        "text_template_skeleton": f"""
            WITH s AS (
                SELECT {TX.format_skeleton_sql('text')} AS skeleton,
                       doc_id, lang
                FROM documents WHERE text IS NOT NULL),
            g AS (SELECT skeleton, count(*) AS n_docs,
                         count(DISTINCT lang) AS n_langs,
                         min(doc_id) AS exemplar_doc
                  FROM s GROUP BY skeleton)
            SELECT skeleton, n_docs, n_langs, exemplar_doc,
                   row_number() OVER (ORDER BY n_docs DESC, skeleton)
                       AS rnk
            FROM g QUALIFY rnk <= 20
        """,
        "corpus_budget_alloc": SMP.allocate_budget_sql(
            ["lang", "source"], "n_chars", 1_000_000, "documents"),
        "graph_triangles": _GRAPH_MOD.triangle_stats_sql(
            "p1", "p2",
            "(SELECT l1.l_partkey AS p1, l2.l_partkey AS p2 "
            "FROM lineitem l1 JOIN lineitem l2 "
            "ON l1.l_orderkey = l2.l_orderkey "
            "AND l1.l_partkey < l2.l_partkey "
            "GROUP BY 1, 2 HAVING count(*) >= 2) pairs"),
        # same inverted-index formulation, same deterministic hub guard
        # (customers serving > 50 distinct suppliers dropped both sides)
        "graph_neighbor_jaccard": """
            WITH e AS (
                SELECT DISTINCT l_suppkey AS s, o_custkey AS d
                FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
            keep AS (SELECT d FROM e GROUP BY d HAVING count(*) <= 50),
            e2 AS (SELECT e.s, e.d FROM e JOIN keep USING (d)),
            deg AS (SELECT s, count(*) AS deg FROM e2 GROUP BY s),
            pairs AS (
                SELECT a.s AS id_a, b.s AS id_b, count(*) AS shared
                FROM e2 a JOIN e2 b ON a.d = b.d AND a.s < b.s
                GROUP BY a.s, b.s HAVING count(*) >= 2),
            scored AS (
                SELECT id_a, id_b, shared,
                       floor(CAST(shared AS DOUBLE)
                             / (da.deg + db.deg - shared) * 10000 + 0.5)
                           / 10000 AS jaccard
                FROM pairs
                JOIN deg da ON da.s = id_a
                JOIN deg db ON db.s = id_b)
            SELECT id_a, id_b, shared, jaccard,
                   row_number() OVER (ORDER BY jaccard DESC, id_a, id_b)
                       AS rnk
            FROM scored QUALIFY rnk <= 50
        """,
        "sample_importance": SMP.importance_weights_sql(
            "lang", _IMPORTANCE_TARGETS, "documents"),
        "text_langid_confusion": f"""
            WITH cell AS (
                SELECT lang, {TX.lang_id_sql('text')} AS predicted,
                       count(*) AS n_docs
                FROM documents GROUP BY 1, 2)
            SELECT lang, predicted, n_docs,
                   {ROUND4_SQL.format(
                       x="n_docs / sum(n_docs) OVER (PARTITION BY lang)")}
                   AS share_of_lang
            FROM cell
        """,
        "privacy_dp_sum": _PRIVACY_MOD.dp_noisy_sums_sql(
            ["event_type"], "value", 50.0, 1.0, from_table="events"),
        "embedding_threshold_sweep": _SIM_MOD.cosine_threshold_sweep_sql(
            "vec_id", "embedding", 1000, "embeddings"),
        "query_auc": REL.auc_exact_sql(
            "value", "event_type = 'purchase'", "events"),
        "events_seasonal_naive": REL.seasonal_naive_eval_sql(
            "event_type", "epoch_us(ts)", "value", "events",
            season_buckets=7, bucket_us=86_400_000_000),
        "query_sql_rank_suite": _RANK_SUITE_SQL,
        "query_sql_window_frames": _WINDOW_FRAMES_SQL,
        "text_readability": f"""
            WITH scored AS (
                SELECT doc_id, lang,
                       {ROUND4_SQL.format(
                           x=TX.flesch_score_sql('text'))} AS flesch
                FROM documents)
            SELECT lang, count(*) AS n_docs,
                   {ROUND4_SQL.format(
                       x="sum(CAST(floor(flesch * 10000 + 0.5) AS "
                         "BIGINT)) / (count(*) * 10000.0)")}
                   AS mean_flesch
            FROM scored WHERE flesch IS NOT NULL
            GROUP BY lang
        """,
        # same micro-unit mean and scalar-median machinery as the Spark
        # side (lm_score division pattern + quantile_cont parity); DiD
        # is the identical IEEE subtraction sequence before round4
        "events_did": f"""
            WITH ev AS (
                SELECT user_id,
                       epoch_us(ts) // 86400000000 AS day,
                       CAST(floor(value * 1000000 + 0.5) AS BIGINT) AS vm
                FROM events WHERE value IS NOT NULL),
            c AS (SELECT quantile_cont(day, 0.5) AS cut FROM ev),
            g AS (SELECT CASE WHEN {SMP.hash_unit_sql("user_id", "did")}
                                   < 0.5
                              THEN 'T' ELSE 'C' END AS grp,
                         CASE WHEN day > cut THEN 'post'
                              ELSE 'pre' END AS period,
                         vm
                  FROM ev, c),
            w AS (SELECT
                sum(CASE WHEN grp = 'T' AND period = 'pre'
                         THEN 1 ELSE 0 END) AS n_t_pre,
                sum(CASE WHEN grp = 'T' AND period = 'pre'
                         THEN vm ELSE 0 END) AS s_tp,
                sum(CASE WHEN grp = 'T' AND period = 'post'
                         THEN 1 ELSE 0 END) AS n_t_post,
                sum(CASE WHEN grp = 'T' AND period = 'post'
                         THEN vm ELSE 0 END) AS s_tq,
                sum(CASE WHEN grp = 'C' AND period = 'pre'
                         THEN 1 ELSE 0 END) AS n_c_pre,
                sum(CASE WHEN grp = 'C' AND period = 'pre'
                         THEN vm ELSE 0 END) AS s_cp,
                sum(CASE WHEN grp = 'C' AND period = 'post'
                         THEN 1 ELSE 0 END) AS n_c_post,
                sum(CASE WHEN grp = 'C' AND period = 'post'
                         THEN vm ELSE 0 END) AS s_cq
                FROM g),
            m AS (SELECT *,
                CASE WHEN n_t_pre > 0 THEN
                    CAST(s_tp AS DOUBLE) / (n_t_pre * 1000000.0) END AS mtp,
                CASE WHEN n_t_post > 0 THEN
                    CAST(s_tq AS DOUBLE) / (n_t_post * 1000000.0) END AS mtq,
                CASE WHEN n_c_pre > 0 THEN
                    CAST(s_cp AS DOUBLE) / (n_c_pre * 1000000.0) END AS mcp,
                CASE WHEN n_c_post > 0 THEN
                    CAST(s_cq AS DOUBLE) / (n_c_post * 1000000.0) END AS mcq
                FROM w)
            SELECT CAST(n_t_pre AS BIGINT) AS n_t_pre,
                   CAST(n_t_post AS BIGINT) AS n_t_post,
                   CAST(n_c_pre AS BIGINT) AS n_c_pre,
                   CAST(n_c_post AS BIGINT) AS n_c_post,
                   {ROUND4_SQL.format(x="mtp")} AS mean_t_pre,
                   {ROUND4_SQL.format(x="mtq")} AS mean_t_post,
                   {ROUND4_SQL.format(x="mcp")} AS mean_c_pre,
                   {ROUND4_SQL.format(x="mcq")} AS mean_c_post,
                   {ROUND4_SQL.format(x="(mtq - mtp) - (mcq - mcp)")} AS did
            FROM m
        """,
        # identical deci-unit moments (all < 2^53 -> exact BIGINT ->
        # exact DOUBLE) and the same fixed IEEE theta/ratio sequence
        "events_cuped": f"""
            WITH ev AS (
                SELECT user_id,
                       epoch_us(ts) // 86400000000 AS day,
                       CAST(floor(value * 10 + 0.5) AS BIGINT) AS vd
                FROM events WHERE value IS NOT NULL),
            c AS (SELECT quantile_cont(day, 0.5) AS cut FROM ev),
            pu AS (SELECT user_id,
                          CAST(sum(CASE WHEN day <= cut THEN vd
                                        ELSE 0 END) AS BIGINT) AS x,
                          CAST(sum(CASE WHEN day > cut THEN vd
                                        ELSE 0 END) AS BIGINT) AS y
                   FROM ev, c GROUP BY user_id),
            m AS (SELECT count(*) AS n_users,
                         CAST(sum(x) AS BIGINT) AS sx,
                         CAST(sum(y) AS BIGINT) AS sy,
                         CAST(sum(x * y) AS BIGINT) AS sxy,
                         CAST(sum(x * x) AS BIGINT) AS sxx,
                         CAST(sum(y * y) AS BIGINT) AS syy
                  FROM pu),
            d AS (SELECT *,
                         CAST(n_users AS DOUBLE) * sxy
                             - CAST(sx AS DOUBLE) * sy AS cov_n,
                         CAST(n_users AS DOUBLE) * sxx
                             - CAST(sx AS DOUBLE) * sx AS varx_n,
                         CAST(n_users AS DOUBLE) * syy
                             - CAST(sy AS DOUBLE) * sy AS vary_n
                  FROM m)
            SELECT n_users, sx, sy, sxy, sxx, syy,
                   CASE WHEN varx_n > 0 THEN
                       {ROUND4_SQL.format(x="cov_n / varx_n")}
                   END AS theta,
                   CASE WHEN varx_n > 0 AND vary_n > 0 THEN
                       {ROUND4_SQL.format(
                           x="1 - (cov_n * cov_n) / (varx_n * vary_n)")}
                   END AS var_ratio
            FROM d
        """,
        # shared z-quantile literals, exact-count baseline, one fixed
        # IEEE formula sequence (q_events_power docstring)
        "events_power": f"""
            WITH pu AS ({_CONVERTED_PU_SQL}),
            g AS (SELECT count(*) AS n_users,
                         CAST(sum(converted) AS BIGINT) AS n_converted
                  FROM pu),
            m AS (SELECT n_users, n_converted,
                         CAST(n_converted AS DOUBLE) / n_users AS p1,
                         CAST(n_converted AS DOUBLE) / n_users + 0.02
                             AS p2,
                         1.959963984540054 + 0.8416212335729143 AS z
                  FROM g),
            c AS (SELECT *,
                         CASE WHEN n_converted > 0 AND p2 < 1 THEN
                             CAST(ceil(z * z
                                       * (p1 * (1 - p1) + p2 * (1 - p2))
                                       / ((p2 - p1) * (p2 - p1)))
                                  AS BIGINT)
                         END AS n_per_arm
                  FROM m)
            SELECT n_users, n_converted,
                   {ROUND4_SQL.format(x="p1")} AS p1,
                   {ROUND4_SQL.format(x="p2")} AS p2,
                   n_per_arm,
                   coalesce(2 * n_per_arm <= n_users, FALSE) AS feasible
            FROM c
        """,
        # identical rank-weighted closed form; HUGEINT product sums
        "query_gini": f"""
            WITH base AS (
                SELECT c_mktsegment, c_custkey,
                       CAST(floor(c_acctbal + 0.5) AS BIGINT) AS xm
                FROM customer WHERE c_acctbal >= 0),
            r AS (SELECT c_mktsegment, xm,
                         row_number() OVER (PARTITION BY c_mktsegment
                             ORDER BY xm, c_custkey) AS i
                  FROM base),
            g AS (SELECT c_mktsegment,
                         count(*) AS n_customers,
                         CAST(sum(xm) AS BIGINT) AS total_dollars,
                         sum(CAST(i AS HUGEINT) * xm) AS iwx
                  FROM r GROUP BY c_mktsegment)
            SELECT c_mktsegment, n_customers, total_dollars,
                   CASE WHEN total_dollars > 0 THEN
                       {ROUND4_SQL.format(
                           x="(2 * CAST(iwx AS DOUBLE)"
                             " - CAST(n_customers + 1 AS DOUBLE)"
                             " * total_dollars)"
                             " / (CAST(n_customers AS DOUBLE)"
                             " * total_dollars)")}
                   END AS gini
            FROM g
        """,
        # same grid/marginal construction; term micro-quantized before
        # the order-free integer sum (q_events_drift_chi2 docstring)
        "events_drift_chi2": f"""
            WITH ev AS (
                SELECT value,
                       epoch_us(ts) // 86400000000 AS day
                FROM events WHERE value IS NOT NULL),
            c AS (SELECT quantile_cont(value, 0.25) AS q1,
                         quantile_cont(value, 0.5) AS q2,
                         quantile_cont(value, 0.75) AS q3,
                         quantile_cont(day, 0.5) AS cut
                  FROM ev),
            o AS (SELECT CASE WHEN value <= q1 THEN 0
                              WHEN value <= q2 THEN 1
                              WHEN value <= q3 THEN 2
                              ELSE 3 END AS bin,
                         CASE WHEN day > cut THEN 'post'
                              ELSE 'pre' END AS period,
                         count(*) AS n
                  FROM ev, c GROUP BY 1, 2),
            grid AS (SELECT b.bin, p.period
                     FROM (SELECT unnest(range(0, 4)) AS bin) b
                     CROSS JOIN (VALUES ('pre'), ('post')) p(period)),
            filled AS (SELECT grid.bin, grid.period,
                              CAST(coalesce(o.n, 0) AS BIGINT) AS n
                       FROM grid LEFT JOIN o USING (bin, period)),
            m AS (SELECT bin, period, n,
                         CAST(sum(n) OVER (PARTITION BY bin) AS DOUBLE)
                             * sum(n) OVER (PARTITION BY period)
                             / sum(n) OVER () AS e
                  FROM filled),
            t AS (SELECT bin, period, n,
                         {ROUND4_SQL.format(x="e")} AS expected,
                         CAST(floor(CASE WHEN e > 0
                                         THEN (n - e) * (n - e) / e
                                         ELSE 0.0 END * 1000000)
                              AS BIGINT) AS tm
                  FROM m)
            SELECT bin, period, n, expected,
                   {ROUND4_SQL.format(
                       x="CAST(sum(tm) OVER () AS DOUBLE) / 1000000.0")}
                       AS chi2,
                   CAST(3 AS BIGINT) AS dof
            FROM t
        """,
        "events_ab_test": f"""
            WITH pu AS ({_CONVERTED_PU_SQL}),
            g AS (SELECT CASE WHEN
                       {{u_ab}} < 0.5
                       THEN 'A' ELSE 'B' END AS variant,
                       count(*) AS n_users,
                       CAST(sum(converted) AS BIGINT) AS n_converted
                  FROM pu GROUP BY 1),
            t AS (SELECT *, sum(n_users) OVER () AS tot_n,
                         sum(n_converted) OVER () AS tot_c
                  FROM g),
            st AS (SELECT *,
                          sqrt((tot_c / CAST(tot_n AS DOUBLE))
                               * (1 - tot_c / CAST(tot_n AS DOUBLE))
                               * (1.0 / n_users
                                  + 1.0 / (tot_n - n_users))) AS se
                   FROM t)
            SELECT variant, n_users, n_converted,
                   {ROUND4_SQL.format(
                       x="n_converted / CAST(n_users AS DOUBLE)")}
                   AS rate,
                   CASE WHEN se > 0 THEN {ROUND4_SQL.format(
                       x="(n_converted / CAST(n_users AS DOUBLE) "
                         "- (tot_c - n_converted) "
                         "/ CAST(tot_n - n_users AS DOUBLE)) / se")}
                   END AS z_score,
                   coalesce(CASE WHEN se > 0 THEN
                       abs((n_converted / CAST(n_users AS DOUBLE)
                            - (tot_c - n_converted)
                            / CAST(tot_n - n_users AS DOUBLE)) / se)
                       > 1.96 END, FALSE) AS significant_95
            FROM st
        """.replace("{u_ab}", SMP.hash_unit_sql("user_id", "ab")),
        "events_interval_union": REL.interval_union_sql(
            "user_id", "epoch_us(ts)", "epoch_us(ts) + 600000000",
            "events"),
        "events_cohort_value": REL.cohort_value_sql(
            "user_id", "epoch_us(ts) // 86400000000",
            "coalesce(CAST(floor(value * 1000000 + 0.5) AS BIGINT), 0)",
            "events"),
        "sample_kfold": f"""
            SELECT {SMP.kfold_assign_sql("doc_id", 5)} AS fold,
                   count(*) AS n_docs,
                   count(DISTINCT lang) AS n_langs,
                   CAST(sum(n_chars) AS BIGINT) AS total_chars
            FROM documents GROUP BY 1
        """,
        "sample_neyman": SMP.neyman_allocation_sql(
            "event_type", "event_id", "value", 500, "events"),
        "events_funnel_windowed": REL.funnel_windowed_sql(
            "user_id", "epoch_us(e.ts)", "event_type",
            ["view", "click", "purchase"], 86_400_000_000, "events"),
        "privacy_k_histogram": f"""
            WITH cls AS (
                SELECT c_nationkey AS nation, c_mktsegment AS segment,
                       CAST(floor(c_acctbal / 1000) AS BIGINT)
                           AS bal_band,
                       count(*) AS class_size
                FROM customer GROUP BY 1, 2, 3),
            h AS (SELECT class_size, count(*) AS n_classes
                  FROM cls GROUP BY class_size)
            SELECT class_size, n_classes,
                   class_size * n_classes AS n_rows,
                   CAST(sum(class_size * n_classes) OVER (
                       ORDER BY class_size
                       ROWS BETWEEN UNBOUNDED PRECEDING
                       AND CURRENT ROW) AS BIGINT)
                       AS cum_rows_at_or_below,
                   {ROUND4_SQL.format(
                       x="sum(class_size * n_classes) OVER ("
                         "ORDER BY class_size ROWS BETWEEN UNBOUNDED "
                         "PRECEDING AND CURRENT ROW) "
                         "/ CAST(sum(class_size * n_classes) OVER () "
                         "AS DOUBLE)")} AS cum_share
            FROM h
        """,
        "corpus_dup_report": f"""
            WITH d AS (SELECT text FROM documents
                       WHERE text IS NOT NULL),
            tot AS (SELECT count(*) AS n_total FROM d),
            lv AS (
                SELECT 'exact' AS dup_class, md5(text) AS k FROM d
                UNION ALL
                SELECT 'fingerprint',
                       {TX.DOC_FINGERPRINT_SQL.format(c="text")} FROM d
                UNION ALL
                SELECT 'template',
                       {TX.format_skeleton_sql("text")} FROM d),
            g AS (SELECT dup_class, k, count(*) AS n
                  FROM lv GROUP BY 1, 2),
            agg AS (SELECT dup_class,
                           CAST(count(*) FILTER (n >= 2) AS BIGINT)
                               AS n_groups,
                           CAST(coalesce(sum(n) FILTER (n >= 2), 0)
                               AS BIGINT) AS n_docs
                    FROM g GROUP BY dup_class)
            SELECT dup_class, n_groups, n_docs,
                   {ROUND4_SQL.format(
                       x="n_docs / CAST(n_total AS DOUBLE)")}
                   AS pct_of_corpus
            FROM agg, tot
        """,
        "query_sql_lateral": """
            WITH p AS (SELECT n_name,
                              string_split(n_name, '_') AS parts
                       FROM nation WHERE n_nationkey < 10)
            SELECT n_name, CAST(i - 1 AS INTEGER) AS pos,
                   parts[i] AS word
            FROM p, unnest(range(1, len(parts) + 1)) AS t(i)
        """,
        # arithmetic oracle from the poisoning construction (the
        # parse SEMANTICS are Spark's; the counts are fully determined
        # by which i are 7- and 13-divisible)
        "source_csv_corrupt_audit": """
            WITH i AS (SELECT unnest(range(0, 1000)) AS i),
            c AS (SELECT CAST(sum(CASE WHEN i % 7 = 0
                                       THEN 1 ELSE 0 END) AS BIGINT)
                             AS q,
                         CAST(sum(CASE WHEN i % 7 <> 0 AND i % 13 = 0
                                       THEN 1 ELSE 0 END) AS BIGINT)
                             AS uq
                  FROM i)
            SELECT 'clean' AS status, 1000 - q - uq AS n_rows,
                   1000 - q - uq AS n_with_id,
                   1000 - q - uq AS n_with_region
            FROM c
            UNION ALL
            SELECT 'quarantined', q + uq, uq, q FROM c
        """,
        # r6 sketch pattern: exact top-20 token counts + the bound
        # boolean as literal TRUE (tokens mirror DD.tokens: trim,
        # lower, whitespace split, empty filtered)
        "sketch_cms": r"""
            WITH toks AS (
                SELECT unnest(string_split_regex(trim(lower(text)),
                                                 '[ \t\n\r]+')) AS term
                FROM documents),
            t2 AS (SELECT term FROM toks WHERE length(term) > 0),
            c AS (SELECT term, count(*) AS n_true FROM t2 GROUP BY term)
            SELECT row_number() OVER (ORDER BY n_true DESC, term)
                       AS rank,
                   term AS item, n_true, TRUE AS est_in_bound
            FROM c QUALIFY rank <= 20
        """,
        "events_survival": REL.km_survival_sql(
            "duration_h", "converted",
            """(WITH ev AS (SELECT user_id, event_type, value,
                                   epoch_us(ts) AS us FROM events),
                f AS (SELECT user_id, min(us) AS first_us,
                             max(us) AS last_us
                      FROM ev GROUP BY user_id),
                p AS (SELECT user_id, min(us) AS p_us FROM ev
                      WHERE event_type = 'purchase' AND value > 45
                      GROUP BY user_id),
                j AS (SELECT f.user_id, first_us, last_us, p_us,
                             first_us + 604800000000 AS we
                      FROM f LEFT JOIN p USING (user_id))
                SELECT (CASE WHEN p_us IS NOT NULL AND p_us <= we
                             THEN p_us
                             ELSE least(last_us, we) END
                        - first_us) // 3600000000 AS duration_h,
                       CASE WHEN p_us IS NOT NULL AND p_us <= we
                            THEN 1 ELSE 0 END AS converted
                FROM j) subj"""),
        "events_changepoint": REL.cusum_changepoint_sql(
            "event_type", [("epoch_us(ts)", "ts_us"),
                           ("event_id", "event_id")], "value",
            "events"),
        "privacy_randomized_response": _PRIVACY_MOD.randomized_response_sql(
            ["event_type"], "value > 30",
            "CAST(event_id AS VARCHAR)", from_table="events"),
        "events_audience_overlap": f"""
            WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
            both_t AS (SELECT a.event_type AS t1, b.event_type AS t2,
                              count(*) AS n_both
                       FROM ut a JOIN ut b
                         ON a.user_id = b.user_id
                        AND a.event_type < b.event_type
                       GROUP BY 1, 2),
            tot AS (SELECT event_type, count(*) AS n_users
                    FROM ut GROUP BY 1)
            SELECT t1, t2, ta.n_users AS n_a, tb.n_users AS n_b, n_both,
                   {ROUND4_SQL.format(
                       x="n_both / (ta.n_users + tb.n_users - n_both)")}
                   AS jaccard
            FROM both_t
            JOIN tot ta ON ta.event_type = t1
            JOIN tot tb ON tb.event_type = t2
        """,
        "events_rfm": f"""
            WITH ev AS (
                SELECT user_id, epoch_us(ts) AS ts_us,
                       coalesce(CAST(floor(value * 1000000 + 0.5)
                                     AS BIGINT), 0) AS value_u
                FROM events),
            scored AS ({REL.rfm_scores_sql(
                "user_id", "ts_us", "value_u", "ev")})
            SELECT *, row_number() OVER
                       (ORDER BY (r_score + f_score + m_score) DESC,
                        user_id) AS rnk
            FROM scored QUALIFY rnk <= 200
        """,
        "quality_expectations": """
            SELECT 1 AS rule_id, 'not_null' AS rule,
                   'o_custkey' AS col_name,
                   CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_violations
            FROM orders
            UNION ALL
            SELECT 2, 'range', 'o_totalprice',
                   CAST(sum(CASE WHEN o_totalprice < 0
                                   OR o_totalprice > 450000
                                 THEN 1 ELSE 0 END) AS BIGINT)
            FROM orders
            UNION ALL
            SELECT 3, 'unique', 'o_orderkey',
                   CAST(coalesce(sum(n - 1), 0) AS BIGINT)
            FROM (SELECT o_orderkey, count(*) AS n FROM orders
                  WHERE o_orderkey IS NOT NULL
                  GROUP BY o_orderkey HAVING count(*) > 1)
            UNION ALL
            SELECT 4, 'fk', 'o_custkey', CAST(count(*) AS BIGINT)
            FROM orders o
            WHERE o_custkey IS NOT NULL
              AND NOT EXISTS (SELECT 1 FROM customer c
                              WHERE c.c_custkey = o.o_custkey)
        """,
        "ops_snapshot_manifest": """
            WITH snaps(snapshot_version, commit_version, mod_class) AS (
                VALUES (2, 1, 0), (2, 2, 1), (4, 3, 2), (4, 4, 3))
            SELECT s.snapshot_version, s.commit_version,
                   count(*) AS n_rows,
                   min(l.l_orderkey) AS min_l_orderkey,
                   max(l.l_orderkey) AS max_l_orderkey,
                   count(*) - count(l.l_orderkey) AS nulls_l_orderkey,
                   min(CAST(floor(l.l_quantity * 100 + 0.5) AS BIGINT))
                       AS min_qty_c,
                   max(CAST(floor(l.l_quantity * 100 + 0.5) AS BIGINT))
                       AS max_qty_c,
                   count(*) - count(l.l_quantity) AS nulls_qty_c
            FROM snaps s
            JOIN lineitem l ON l.l_orderkey % 4 = s.mod_class
            GROUP BY s.snapshot_version, s.commit_version
        """,
        # slice-arithmetic replay of the manifest-pruned read: at
        # version 4 the visible set is slices 2 and 3 (the overwrite
        # hid 0 and 1); the predicate's upper bound 2W + W//2 lies
        # inside slice 2, so pruning drops slice 3's file and the
        # residual filter keeps slice-2 rows under the bound — which
        # is exactly rows with l_orderkey // W = 2 AND
        # l_orderkey <= 2W + W//2 (the file-level pruning itself is
        # plan-level and certifies loudly in the Spark key)
        "ops_pruned_read": """
            WITH w AS (SELECT max(l_orderkey) // 4 + 1 AS wd
                       FROM lineitem)
            SELECT l.l_orderkey,
                   CAST(floor(l.l_quantity * 100 + 0.5) AS BIGINT)
                       AS qty_c
            FROM lineitem l, w
            WHERE l.l_orderkey // w.wd = 2
              AND l.l_orderkey <= 2 * w.wd + w.wd // 2
        """,
        "source_time_travel": """
            WITH v1 AS (SELECT * FROM orders WHERE o_orderkey % 3 = 0),
            v2 AS (SELECT * FROM orders WHERE o_orderkey % 3 <= 1),
            v3 AS (SELECT * FROM orders WHERE o_orderkey % 3 = 2)
            SELECT 1 AS version, o_orderpriority, count(*) AS n_orders
            FROM v1 GROUP BY o_orderpriority
            UNION ALL
            SELECT 2, o_orderpriority, count(*) FROM v2
            GROUP BY o_orderpriority
            UNION ALL
            SELECT 3, o_orderpriority, count(*) FROM v3
            GROUP BY o_orderpriority
        """,
        "events_attribution": """
            WITH ev AS (
                SELECT user_id AS u, epoch_us(ts) AS t, event_id AS id,
                       event_type AS k
                FROM events
                WHERE event_type IN ('click', 'view', 'purchase')),
            m AS (
                SELECT u, t, id, k,
                       min(CASE WHEN k IN ('click', 'view')
                                THEN {'t': t, 'id': id, 'k': k} END)
                           OVER w AS f,
                       max(CASE WHEN k IN ('click', 'view')
                                THEN {'t': t, 'id': id, 'k': k} END)
                           OVER w AS l
                FROM ev
                WINDOW w AS (PARTITION BY u ORDER BY t
                             RANGE BETWEEN 86400000000 PRECEDING
                             AND CURRENT ROW)),
            conv AS (SELECT * FROM m WHERE k = 'purchase')
            SELECT 'first_touch' AS model,
                   coalesce(f.k, 'none') AS channel,
                   count(*) AS n_conversions
            FROM conv GROUP BY coalesce(f.k, 'none')
            UNION ALL
            SELECT 'last_touch' AS model,
                   coalesce(l.k, 'none') AS channel,
                   count(*) AS n_conversions
            FROM conv GROUP BY coalesce(l.k, 'none')
        """,
        "query_bloom_join": """
            SELECT o_orderpriority, count(*) AS n_orders,
                   CAST(sum(CAST(o_totalprice AS DECIMAL(12,2)))
                        AS DOUBLE) AS total_price
            FROM orders
            WHERE o_custkey IN (SELECT c_custkey FROM customer
                                WHERE c_acctbal > 9000)
            GROUP BY o_orderpriority
        """,
        "query_lag_features": f"""
            SELECT user_id, event_id, value,
                   lag(value, 1) OVER w AS lag_1,
                   lag(value, 2) OVER w AS lag_2,
                   value - lag(value, 1) OVER w AS delta,
                   {ROUND4_SQL.format(
                       x='avg(value) OVER (PARTITION BY user_id '
                         'ORDER BY epoch_us(ts), event_id '
                         'ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)')}
                       AS roll_mean
            FROM events
            WINDOW w AS (PARTITION BY user_id
                         ORDER BY epoch_us(ts), event_id)
        """,
        # one sequential writer per key + 100-row cap → files are
        # exactly 100 rows plus one remainder, so the whole per-file
        # relation is predictable from the data
        "partitioned_write_transforms": """
            SELECT CAST(year(l_shipdate) AS BIGINT) AS ship_year,
                   l_partkey % 8 AS pk_bucket,
                   count(*) AS n_rows,
                   count(*) AS n_year_match,
                   CAST(CAST(sum(CAST(l_extendedprice
                                      AS DECIMAL(12,2)))
                             AS DECIMAL(18,2)) AS DOUBLE)
                       AS total_price
            FROM lineitem
            WHERE year(l_shipdate) IN (1997, 1998)
            GROUP BY 1, 2
        """,
        "ops_retention_vacuum": """
            WITH plan(version, mode, action, pri) AS (VALUES
                (1, 'append',    'deleted', '1-URGENT'),
                (2, 'append',    'deleted', '2-HIGH'),
                (3, 'overwrite', 'kept',    '3-MEDIUM'),
                (4, 'append',    'kept',    '5-LOW'))
            SELECT CAST(version AS BIGINT) AS version, mode, action,
                   (SELECT count(*) FROM orders
                    WHERE o_orderpriority = pri) AS n_rows
            FROM plan
        """,
        "embedding_prefix_eval": """
            WITH e AS (SELECT vec_id AS i, embedding::DOUBLE[] AS v
                       FROM embeddings WHERE vec_id < 32),
            p AS (SELECT a.v AS va, b.v AS vb
                  FROM e a JOIN e b ON a.i < b.i),
            d AS (SELECT unnest([8, 16, 32, 64]) AS prefix_dim),
            x AS (SELECT d.prefix_dim,
                         abs(CAST(floor(list_cosine_similarity(va, vb)
                                        * 10000 + 0.5) AS BIGINT)
                           - CAST(floor(list_cosine_similarity(
                                            va[1:prefix_dim],
                                            vb[1:prefix_dim])
                                        * 10000 + 0.5) AS BIGINT))
                             AS du
                  FROM p, d)
            SELECT CAST(prefix_dim AS BIGINT) AS prefix_dim,
                   count(du) AS n_pairs,
                   CAST(sum(du) AS DOUBLE) / count(du) / 10000
                       AS mean_abs_delta,
                   CAST(max(du) AS DOUBLE) / 10000 AS max_abs_delta
            FROM x GROUP BY 1 ORDER BY 1
        """,
        "ops_incremental_scan": """
            SELECT o_orderkey, o_orderpriority,
                   CASE o_orderpriority WHEN '3-MEDIUM' THEN 3
                        ELSE 4 END AS commit_version
            FROM orders
            WHERE o_orderpriority IN ('3-MEDIUM', '5-LOW')
        """,
        # the planted-orphan construction: the crashed batch holds the
        # full 3-MEDIUM slice, the foreign dir a literal 7 rows
        "ops_orphan_files": """
            SELECT 'batch-00000099' AS orphan_dir,
                   (SELECT count(*) FROM orders
                    WHERE o_orderpriority = '3-MEDIUM') AS n_rows,
                   TRUE AS version_shaped
            UNION ALL
            SELECT 'stray-export', 7, FALSE
        """,
        "query_basket_pairs": """
            WITH ob AS (SELECT DISTINCT l_orderkey, p_brand
                        FROM lineitem JOIN part
                          ON l_partkey = p_partkey),
            p AS (SELECT x.p_brand AS brand_a, y.p_brand AS brand_b
                  FROM ob x JOIN ob y
                    ON x.l_orderkey = y.l_orderkey
                   AND x.p_brand < y.p_brand),
            c AS (SELECT brand_a, brand_b, count(*) AS n_orders
                  FROM p GROUP BY brand_a, brand_b)
            SELECT row_number() OVER (ORDER BY n_orders DESC,
                                      brand_a, brand_b) AS rank,
                   brand_a, brand_b, n_orders
            FROM c QUALIFY rank <= 20
        """,
        # positional stats replay (idealized decomposition): file k of
        # a partition is sorted positions [300k, 300k+300) of the
        # price-band multiset, so (n_rows, vmin, vmax) are
        # deterministic however ties are ordered; the overlap join
        # replays the operator's depth definition exactly.  The
        # physical write is certified LOUDLY Spark-side
        # (_certify_booleans — r9 VERDICT #3), so the hashed relation
        # is pure data on both sides
        "ops_clustering_depth": """
            WITH v AS (SELECT trim(CAST(o_orderpriority AS VARCHAR))
                                  AS pk,
                              CAST(floor(o_totalprice / 1000) AS BIGINT)
                                  AS v
                       FROM orders),
            r AS (SELECT pk, v,
                         row_number() OVER (PARTITION BY pk ORDER BY v)
                             - 1 AS rn
                  FROM v),
            f AS (SELECT pk, rn // 300 AS fidx, count(*) AS n_rows,
                         min(v) AS vmin, max(v) AS vmax
                  FROM r GROUP BY pk, rn // 300),
            s AS (SELECT pk, n_rows, vmin, vmax,
                         row_number() OVER (PARTITION BY pk
                             ORDER BY vmin, vmax, n_rows) AS file_seq
                  FROM f)
            SELECT a.pk, a.n_rows, a.vmin, a.vmax, a.file_seq,
                   count(*) AS depth
            FROM s a JOIN f b ON a.pk = b.pk
             AND a.vmin <= b.vmax AND b.vmin <= a.vmax
            GROUP BY ALL
        """,
        # idealized-decomposition FFD replay; the physical write is
        # certified LOUDLY Spark-side with a bounded rewrite-retry
        # (_certify_booleans — r9 VERDICT #2), so the hashed relation
        # is pure data on both sides and a hash-red here can only be
        # an oracle-dialect divergence
        "ops_compaction_plan": """
            WITH p AS (SELECT trim(CAST(o_orderpriority AS VARCHAR))
                                  AS pk,
                              count(*) AS n
                       FROM orders GROUP BY 1),
            k AS (SELECT pk, n,
                         CAST(ceil(n / 300.0) AS BIGINT) AS n_files
                  FROM p),
            f AS (SELECT pk,
                         CASE WHEN i < n_files OR n % 300 = 0
                              THEN 300 ELSE n % 300 END AS n_rows, i
                  FROM k, LATERAL unnest(generate_series(1, n_files))
                          AS u(i)),
            s AS (SELECT pk, n_rows,
                         row_number() OVER (PARTITION BY pk
                                            ORDER BY n_rows DESC, i)
                             AS file_seq
                  FROM f),
            c AS (SELECT pk, file_seq, n_rows,
                         -- CAST: DuckDB sum(BIGINT) yields HUGEINT,
                         -- which .df() converts to float64 while Spark
                         -- emits int64 — the dtype-sensitive driver
                         -- hash then reads red with rows+schema green
                         -- (the r8-r10 three-round signature).  BIGINT
                         -- keeps both engines at int64; values fit
                         -- trivially (sums of row counts).
                         CAST(coalesce(sum(n_rows) OVER (
                             PARTITION BY pk ORDER BY file_seq
                             ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND 1 PRECEDING), 0) AS BIGINT)
                             // 1000 AS bin
                  FROM s)
            SELECT pk, file_seq, n_rows, bin,
                   CAST(sum(n_rows) OVER (PARTITION BY pk, bin)
                        AS BIGINT) AS bin_size,
                   count(*) OVER (PARTITION BY pk, bin) AS bin_files
            FROM c
        """,
        # compaction EXECUTION: each staged commit is exactly one
        # file (coalesce(1)) whose row count IS its o_orderkey % 6
        # slice count, so the executed plan replays as pure FFD
        # arithmetic over GROUP BY counts (the ops_compaction_plan
        # oracle shape; tie-break parity: ascending batch_dir ==
        # ascending slice_id by construction).  The physical rewrite
        # — file count == bins, per-file rows == bin_size, row
        # conservation, preserved bounds, pre-compaction snapshot
        # intact — certifies LOUDLY Spark-side (_certify_booleans).
        "ops_compact_execute": """
            WITH p AS (SELECT CAST(o_orderkey % 6 AS BIGINT)
                                  AS slice_id,
                              count(*) AS n_rows
                       FROM orders GROUP BY 1),
            t AS (SELECT CAST(sum(n_rows) AS BIGINT) // 3 + 1
                             AS target
                  FROM p),
            s AS (SELECT slice_id, n_rows,
                         row_number() OVER (ORDER BY n_rows DESC,
                                            slice_id) AS file_seq
                  FROM p),
            c AS (SELECT slice_id, file_seq, n_rows,
                         CAST(coalesce(sum(n_rows) OVER (
                             ORDER BY file_seq
                             ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND 1 PRECEDING), 0) AS BIGINT)
                             // (SELECT target FROM t) AS bin
                  FROM s)
            SELECT slice_id, file_seq,
                   CAST(n_rows AS BIGINT) AS n_rows, bin,
                   CAST(sum(n_rows) OVER (PARTITION BY bin)
                        AS BIGINT) AS bin_size,
                   count(*) OVER (PARTITION BY bin) AS bin_files
            FROM c
        """,
        # Z-order layout: the bit-interleave expression comes from the
        # SAME helper the Spark key uses (zorder_key_sql) — the
        # engines cannot drift; the rest replays the bounded-grid
        # positional arithmetic (the clustering_depth oracle shape).
        # The physical sorted write is certified LOUDLY Spark-side.
        "ops_zorder_layout": _zorder_oracle_sql(),
        # Z-order manifest-pruned read: the residual filter makes the
        # pruned read ROW-exact, so the oracle is the predicate replay
        # over the same bucket arithmetic (zval from the shared
        # zorder_key_sql, so the hashed z-values cannot drift); the
        # file-level facts — 1 of 4 z-files survives the xy
        # predicate, strictly fewer than the 1-d sorted twin's 2 of
        # 4 — are plan-level and certify loudly in the Spark key.
        "ops_pruned_read_zorder": _zorder_pruned_oracle_sql(),
        "ops_metadata_files": """
            WITH p AS (SELECT trim(CAST(c_mktsegment AS VARCHAR)) AS pk,
                              count(*) AS n
                       FROM customer GROUP BY 1),
            full_files AS (
                SELECT pk, unnest(generate_series(
                           1, CAST(n // 100 AS INT))) AS file_rank,
                       CAST(100 AS BIGINT) AS n_rows
                FROM p WHERE n >= 100),
            remainder AS (
                SELECT pk, CAST(n // 100 AS INT) + 1 AS file_rank,
                       CAST(n % 100 AS BIGINT) AS n_rows
                FROM p WHERE n % 100 <> 0)
            SELECT pk, file_rank, n_rows FROM full_files
            UNION ALL
            SELECT pk, file_rank, n_rows FROM remainder
        """,
        # exact per-key counts; the decomposition-independent
        # invariants are checked LOUDLY Spark-side (physical file
        # counts are a scheduler property — the r8 flake class)
        "ops_file_audit": """
            SELECT trim(CAST(o_orderpriority AS VARCHAR)) AS pk,
                   count(*) AS n_rows
            FROM orders GROUP BY o_orderpriority
        """,
        "text_cooccur": r"""
            WITH t AS (
                SELECT doc_id,
                       list_filter(string_split_regex(trim(lower(text)),
                                                      '[ \t\n\r]+'),
                                   x -> len(x) > 0) AS toks
                FROM documents),
            p AS (SELECT toks, unnest(range(1, len(toks))) AS i
                  FROM t WHERE len(toks) >= 2),
            pg AS (SELECT toks, i,
                          unnest(range(1, least(2, len(toks) - i) + 1)) AS g
                   FROM p),
            pr AS (SELECT least(toks[i], toks[i + g]) AS w1,
                          greatest(toks[i], toks[i + g]) AS w2
                   FROM pg),
            c AS (SELECT w1, w2, count(*) AS n_cooc FROM pr GROUP BY w1, w2)
            SELECT w1, w2, n_cooc,
                   row_number() OVER (ORDER BY n_cooc DESC, w1, w2) AS rnk
            FROM c QUALIFY rnk <= 100
        """,
        "sample_group_split": (
            "WITH a AS (SELECT user_id, "
            + SMP.split_assign_sql("user_id", salt="gsplit")
            + " AS split FROM events) "
            "SELECT split, count(DISTINCT user_id) AS n_users, "
            "count(*) AS n_events FROM a GROUP BY split"),
        # The three sketch keys hash-check their EXACT columns; the
        # sketch itself surfaces as a Spark-side accuracy boolean that
        # the oracle asserts as literal TRUE — the driver hash fails
        # if the estimate ever drifts out of bound.  Numeric error
        # bounds stay pinned in tests/test_queries.py.
        "query_approx_distinct": """
            SELECT event_type,
                   count(DISTINCT user_id) AS exact_users,
                   TRUE AS approx_in_bound
            FROM events GROUP BY event_type
        """,
        "query_approx_percentiles": """
            WITH ranked AS (
                SELECT event_type, value,
                       row_number() OVER (PARTITION BY event_type
                                          ORDER BY value) AS rn,
                       count(*) OVER (PARTITION BY event_type) AS n
                FROM events WHERE value IS NOT NULL)
            SELECT event_type,
                   max(CASE WHEN rn = (n + 1) // 2
                       THEN value END) AS p50_exact,
                   max(CASE WHEN rn = (19*n + 19) // 20
                       THEN value END) AS p95_exact,
                   max(CASE WHEN rn = (99*n + 99) // 100
                       THEN value END) AS p99_exact,
                   TRUE AS approx_in_bound
            FROM ranked GROUP BY event_type
        """,
        "query_hll_mergeable": """
            WITH d AS (SELECT epoch_us(ts) // 86400000000 AS day_idx,
                              user_id
                       FROM events)
            SELECT day_idx,
                   count(DISTINCT user_id) AS exact_users,
                   TRUE AS est_in_bound
            FROM d GROUP BY day_idx
            UNION ALL
            SELECT CAST(-1 AS BIGINT),
                   count(DISTINCT user_id),
                   TRUE
            FROM events
        """,
    }
