"""Inflate the driver's sf0.1 tables 10x into ``.scratch/sf1`` for the
data-bound scaling spot-run (r7 VERDICT item 8: slopes measured at
0.01->0.1 are still overhead-dominated; the "linear at scale" claim
should be checked where data actually dominates).

NOT driver testdata and never used for correctness oracles — purely a
perf-measurement corpus.  Construction keeps each replica an exact
clone of the original *workload*, not of the original *bytes*:

- every key column is offset by ``replica * (max_key + 1)`` so
  uniqueness and FK join fan-outs are preserved (orders->customer,
  lineitem->part/supplier keep exactly one match);
- ``c_name``/``s_name`` are regenerated from the NEW key so the
  edit-distance linkage workload sees 10x more distinct names, not
  10 copies of each name (which would explode pair outputs ~100x and
  measure output growth, not algorithm scaling);
- document text gets a per-replica word-suffix renaming (replica 3:
  ``spark`` -> ``spark~3``) — a vocabulary permutation leaves every
  within-replica shingle/Jaccard/containment relation bit-identical
  while making shingle spaces DISJOINT across replicas, so near-dup
  pair counts grow 10x (linear), not 100x;
- embeddings are rotated by ``replica`` positions (norm-preserving;
  intra-replica geometry identical);
- ``region``/``nation`` are the fixed dimension enums — copied as-is,
  nationkey references stay valid.

Usage: python tools/make_sf1.py [out_dir]   (default .scratch/sf1)
"""

from __future__ import annotations

import os
import sys

import duckdb

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
REPLICAS = 10


def assert_single_space_tokens(con) -> None:
    """The word-suffix renaming splits on ONE space while the engine
    tokenizes on [ \\t\\n\\r]+, so the disjoint-vocabulary invariant
    (cross-replica shingle spaces share NO token) silently depends on
    the corpus containing no tabs/newlines/doubled/leading/trailing
    spaces.  True of today's fixture, but unguarded — a regenerated
    fixture with a single '\\n' would leak an UNSUFFIXED token across
    every replica and corrupt the linear-scaling measurement these
    corpora exist to certify (r15 review).  Abort loudly instead."""
    n = con.execute(
        r"""SELECT count(*) FROM documents
            WHERE regexp_matches(text, '[\t\n\r]')
               OR text LIKE '%  %'
               OR text LIKE ' %' OR text LIKE '% '""").fetchone()[0]
    if n:
        raise SystemExit(
            f"{n} document(s) violate the single-space token "
            "invariant (tab/newline/doubled/leading/trailing space); "
            "the per-replica word-suffix renaming would leak "
            "unsuffixed tokens across replicas — fix the fixture or "
            "switch the renaming to a whitespace-class tokenizer")


def main() -> None:
    out = (sys.argv[1] if len(sys.argv) > 1
           else os.path.join(REPO, ".scratch", "sf1"))
    src = "/root/testdata/sf0.1"
    os.makedirs(out, exist_ok=True)
    con = duckdb.connect()
    for t in ("region", "nation", "customer", "supplier", "part",
              "orders", "lineitem", "events", "documents", "embeddings"):
        con.execute(
            f"CREATE VIEW {t} AS FROM '{src}/{t}.parquet'")
    con.execute(f"CREATE VIEW r AS SELECT unnest(range({REPLICAS})) AS r")
    assert_single_space_tokens(con)

    # key spans at sf0.1 (offset unit = max+1, queried not hardcoded)
    spans = {k: con.execute(q).fetchone()[0] + 1 for k, q in {
        "cust": "SELECT max(c_custkey) FROM customer",
        "supp": "SELECT max(s_suppkey) FROM supplier",
        "part": "SELECT max(p_partkey) FROM part",
        "ord": "SELECT max(o_orderkey) FROM orders",
        "ev": "SELECT max(event_id) FROM events",
        "user": "SELECT max(user_id) FROM events",
        "doc": "SELECT max(doc_id) FROM documents",
        "vec": "SELECT max(vec_id) FROM embeddings",
    }.items()}

    sql = {
        "region": "FROM region",
        "nation": "FROM nation",
        "customer": f"""
            SELECT c_custkey + r * {spans['cust']} AS c_custkey,
                   'Customer#' || lpad(CAST(c_custkey + r * {spans['cust']}
                        AS VARCHAR), 9, '0') AS c_name,
                   c_nationkey, c_acctbal, c_mktsegment
            FROM customer, r""",
        "supplier": f"""
            SELECT s_suppkey + r * {spans['supp']} AS s_suppkey,
                   'Supplier#' || lpad(CAST(s_suppkey + r * {spans['supp']}
                        AS VARCHAR), 9, '0') AS s_name,
                   s_nationkey, s_acctbal
            FROM supplier, r""",
        "part": f"""
            SELECT p_partkey + r * {spans['part']} AS p_partkey,
                   p_name, p_brand, p_type, p_size, p_retailprice
            FROM part, r""",
        "orders": f"""
            SELECT o_orderkey + r * {spans['ord']} AS o_orderkey,
                   o_custkey + r * {spans['cust']} AS o_custkey,
                   o_orderstatus, o_totalprice, o_orderdate,
                   o_orderpriority
            FROM orders, r""",
        "lineitem": f"""
            SELECT l_orderkey + r * {spans['ord']} AS l_orderkey,
                   l_partkey + r * {spans['part']} AS l_partkey,
                   l_suppkey + r * {spans['supp']} AS l_suppkey,
                   l_linenumber, l_quantity, l_extendedprice,
                   l_discount, l_tax, l_returnflag, l_linestatus,
                   l_shipdate
            FROM lineitem, r""",
        "events": f"""
            SELECT event_id + r * {spans['ev']} AS event_id, ts,
                   user_id + r * {spans['user']} AS user_id,
                   event_type, value, props
            FROM events, r""",
        # word-suffix vocabulary renaming per replica (r=0 untouched)
        "documents": f"""
            SELECT doc_id + r * {spans['doc']} AS doc_id,
                   CASE WHEN r = 0 THEN text ELSE
                        array_to_string(list_transform(
                            string_split(text, ' '),
                            w -> w || '~' || CAST(r AS VARCHAR)), ' ')
                   END AS text,
                   lang, source,
                   CASE WHEN r = 0 THEN n_chars ELSE
                        length(array_to_string(list_transform(
                            string_split(text, ' '),
                            w -> w || '~' || CAST(r AS VARCHAR)), ' '))
                   END AS n_chars
            FROM documents, r""",
        # rotate the vector by r positions: norm-preserving clone
        "embeddings": f"""
            SELECT vec_id + r * {spans['vec']} AS vec_id,
                   list_concat(embedding[len(embedding) - r + 1:],
                               embedding[:len(embedding) - r])
                       AS embedding,
                   label
            FROM embeddings, r""",
    }
    for t, q in sql.items():
        con.execute(
            f"COPY ({q}) TO '{out}/{t}.parquet' (FORMAT PARQUET)")
        n = con.execute(f"SELECT count(*) FROM '{out}/{t}.parquet'") \
            .fetchone()[0]
        print(f"{t}: {n} rows")
    print(f"sf1 written to {out}")


if __name__ == "__main__":
    main()
