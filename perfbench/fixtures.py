"""Seeded inputs and DuckDB oracles for the benchmark workloads.

Every input is generated inside the run's work directory: TPC-H
``lineitem`` and ``orders`` come from DuckDB's built-in ``dbgen`` (the
same tables for every seed; the seed drives batch order, query picks
and upsert draws), and the curate corpus is drawn from the seed with a
known set of planted near-duplicates.  DuckDB over the staged parquet
is the source of every expected answer.
"""

from __future__ import annotations

import os
import random
from dataclasses import dataclass

import duckdb

#: the scale presets: ``full`` is what BENCHMARK.json runs,
#: ``smoke`` is the fast preset the benchmark's own tests use.
SCALES = {
    "full": {"sf": 0.01, "ingest_days": 10, "scan_days": 64,
             "upsert_months": 24, "upsert_rows": 64, "docs": 800},
    "smoke": {"sf": 0.001, "ingest_days": 10, "scan_days": 40,
              "upsert_months": 12, "upsert_rows": 20, "docs": 200},
}

LINEITEM_SQL = """
SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber,
       l_quantity::DOUBLE AS l_quantity,
       l_extendedprice::DOUBLE AS l_extendedprice,
       l_discount::DOUBLE AS l_discount, l_tax::DOUBLE AS l_tax,
       l_returnflag, l_linestatus, l_shipmode,
       strftime(l_commitdate, '%Y-%m-%d') AS l_commitdate,
       strftime(l_shipdate, '%Y-%m-%d') AS ship_day
FROM lineitem
"""

ORDERS_SQL = """
SELECT o_orderkey::BIGINT AS o_orderkey, o_custkey::BIGINT AS o_custkey,
       o_orderstatus,
       o_totalprice::DOUBLE AS o_totalprice,
       strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
       o_orderpriority,
       strftime(o_orderdate, '%Y-%m') AS o_month
FROM orders
"""


def tpch_tables(out_dir: str, sf: float) -> dict[str, str]:
    """Generate lineitem and orders at scale ``sf`` into parquet under
    ``out_dir``.  Decimals become DOUBLE and dates ISO strings, the
    types all three sink formats (including the pure-Python Avro
    fallback) accept."""
    os.makedirs(out_dir, exist_ok=True)
    paths = {"lineitem": os.path.join(out_dir, "lineitem.parquet"),
             "orders": os.path.join(out_dir, "orders.parquet")}
    con = duckdb.connect()
    try:
        con.execute(f"CALL dbgen(sf={sf})")
        con.execute(f"COPY ({LINEITEM_SQL}) TO '{paths['lineitem']}' "
                    "(FORMAT parquet)")
        con.execute(f"COPY ({ORDERS_SQL}) TO '{paths['orders']}' "
                    "(FORMAT parquet)")
    finally:
        con.close()
    return paths


def distinct_values(parquet: str, col: str) -> list[str]:
    with duckdb.connect() as con:
        return [r[0] for r in con.execute(
            f"SELECT DISTINCT {col} FROM '{parquet}' ORDER BY 1").fetchall()]


# ------------------------------------------------------------ documents

_VOCAB_SEED = 7
_CORPUS_SEED = 11
_LANGS = ["en", "de", "fr", "es", "zh"]
_SOURCES = ["web", "news", "forum", "code"]


@dataclass(frozen=True)
class Corpus:
    path: str
    n_docs: int
    n_origins: int
    n_partitions: int


def _vocabulary(n: int = 600) -> list[str]:
    rng = random.Random(_VOCAB_SEED)
    letters = "abcdefghijklmnopqrstuvwxyz"
    words: set[str] = set()
    while len(words) < n:
        words.add("".join(rng.choice(letters)
                          for _ in range(rng.randint(3, 9))))
    return sorted(words)


def documents(out_dir: str, n_docs: int, seed: int,
              dup_every: int = 12, words: int = 75) -> Corpus:
    """Write ``n_docs`` documents to parquet: random ``words``-word
    texts, and every ``dup_every``-th document a planted near-duplicate
    of an earlier one.  The texts are the same for every seed (so the
    stored bytes are too); the seed permutes the document ids, which
    decides which member of each duplicate cluster is kept.

    A near-duplicate keeps its origin's words, renders each URL or
    email slot with fresh text (redaction makes them equal again),
    uses other whitespace runs (normalization collapses them), and
    appends one word, so its 3-shingle Jaccard to the origin stays
    above 0.97 after ``normalize_ws(redact(text))``.  Distinct origins
    share no run of three words in practice.  ``origin_id`` records
    the planted truth: the curate oracle expects one kept document per
    origin."""
    rng = random.Random(_CORPUS_SEED)
    ids = list(range(n_docs))
    random.Random(seed).shuffle(ids)
    vocab = _vocabulary()
    slots = {"{URL}": lambda: f"https://example.org/p/{rng.randrange(10**6)}",
             "{EMAIL}": lambda: f"user{rng.randrange(10**4)}@mail.example.com"}
    rows = []
    origins: list[tuple[int, list[str]]] = []
    for doc_id in range(n_docs):
        if doc_id % dup_every == dup_every - 1:
            origin_id, toks = rng.choice(origins)
            toks = [*toks, rng.choice(vocab)]
        else:
            origin_id = doc_id
            toks = [rng.choice(vocab) for _ in range(words)]
            toks[rng.randrange(words)] = rng.choice(list(slots))
            origins.append((origin_id, toks))
        text = [slots[w]() if w in slots else w for w in toks]
        sep = rng.choice([" ", "  ", " \t ", "\n"])
        rows.append((ids[doc_id], ids[origin_id], sep.join(text),
                     _LANGS[origin_id % len(_LANGS)],
                     _SOURCES[(origin_id // len(_LANGS)) % len(_SOURCES)]))
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, "documents.parquet")
    with duckdb.connect() as con:
        con.execute("CREATE TABLE docs (doc_id BIGINT, origin_id BIGINT, "
                    "text VARCHAR, lang VARCHAR, source VARCHAR)")
        con.executemany("INSERT INTO docs VALUES (?, ?, ?, ?, ?)", rows)
        con.execute(f"COPY (SELECT * FROM docs ORDER BY doc_id) "
                    f"TO '{path}' (FORMAT parquet)")
        n_origins, n_parts = con.execute(
            "SELECT count(DISTINCT origin_id), "
            "count(DISTINCT (lang, source)) FROM docs").fetchone()
    return Corpus(path, n_docs, n_origins, n_parts)


# -------------------------------------------------------------- oracles

def hive_glob(table_dir: str, depth: int, ext: str) -> str:
    """Glob over the data files of a Hive tree ``depth`` levels deep."""
    return os.path.join(table_dir, *(["*=*"] * depth), f"*.{ext}")


def _avro_long(buf: bytes, pos: int) -> tuple[int, int]:
    """One zigzag varint at ``pos``: (value, next position)."""
    shift = acc = 0
    while True:
        b = buf[pos]
        pos += 1
        acc |= (b & 0x7F) << shift
        shift += 7
        if not b & 0x80:
            return (acc >> 1) ^ -(acc & 1), pos


def avro_rows(path: str) -> int:
    """Record count of one Avro object container file, summed from its
    block headers (the Avro 1.x container spec).  Independent of the
    engine's codec, so it can check what the engine wrote."""
    with open(path, "rb") as f:
        buf = f.read()
    if buf[:4] != b"Obj\x01":
        raise ValueError(f"{path}: not an Avro container")
    pos = 4
    while True:                      # file metadata: a map of bytes
        n, pos = _avro_long(buf, pos)
        if n == 0:
            break
        if n < 0:                    # negative count: a byte size follows
            n = -n
            _, pos = _avro_long(buf, pos)
        for _ in range(2 * n):       # key string, value bytes
            size, pos = _avro_long(buf, pos)
            pos += size
    pos += 16                        # sync marker
    rows = 0
    while pos < len(buf):
        count, pos = _avro_long(buf, pos)
        size, pos = _avro_long(buf, pos)
        rows += count
        pos += size + 16
    return rows


def orders_checksum_sql(relation: str) -> str:
    """Order-independent checksum of an orders relation: row count,
    key sum, and a sum of per-row hashes over the mutable columns."""
    return (f"SELECT count(*), coalesce(sum(o_orderkey), 0), "
            f"coalesce(sum(hash(o_orderkey, o_orderstatus, o_totalprice, "
            f"o_month)), 0) FROM {relation}")
