"""Inflate the sf1 corpus another 10x into ``.scratch/sf10`` — the
100x-of-driver-SF corpus for the scaling proofs (r8 VERDICT stretch
#9 / r9 VERDICT #5: the blocking math says linear; measure it where
the blocked join dominates).

Tables built: the dedup pair (documents, embeddings) plus the three
the pair-generating graph/linkage keys read (customer, orders,
lineitem — ~1.5 GB total, dominated by 60M lineitem rows).  Same
workload-preserving construction discipline as ``make_sf1.py``:

- relational keys offset by ``replica * span`` so the 10 replicas are
  DISJOINT graphs — the bipartite customer-supplier graph, the
  co-purchase part graph and the SymSpell name space each grow as 10
  independent copies, so pair/triangle counts grow exactly 10x
  (linear) while per-node degree distributions are bit-identical to
  sf1's;
- customer names get a per-replica two-letter suffix (``~aa``,
  ``~bb``, ...): within-replica edit distances are unchanged (same
  suffix both sides), cross-replica pairs differ in >= 2 characters,
  so the lev<=1 pair set is exactly 10 disjoint copies of sf1's;

- ``doc_id``/``vec_id`` offset by ``replica * span`` (sf10 doc ids top
  out at 499,999 — a 2x margin under the 1e6 mutant-fixture offset
  documented in ``_augmented_corpus``; a same-discipline make_sf100
  would CROSS it and must re-base the mutant offset first);
- document words get a SECOND-level suffix (``^k``, distinct from
  level 1's ``~r``) — a vocabulary permutation keeps every
  within-replica shingle/Jaccard relation bit-identical while making
  shingle spaces disjoint across replicas, so near-dup pair counts
  grow 10x (linear), not 100x;
- embeddings get a composed norm-preserving transform per replica k:
  ROTATE by 7k mod 64, then a Walsh-Hadamard SIGN pattern (flip dim i
  iff popcount(i & k) is odd).  Intra-replica dot products are
  EXACTLY unchanged (rotation permutes, the sign pattern cancels);
  across replicas the sign halves disagree on exactly 32 of 64 dims
  and the rotation shifts mass across that partition — measured
  same-base cross-replica cos>=0.3 leak-through is ~0.6% (sign alone
  3.9%), a bounded LINEAR pair bump, and no two (r, k) transform
  compositions coincide (equal rotations mod 64 imply different sign
  patterns), so no exact duplicates are planted.

NOT driver testdata, never used for correctness oracles.

Usage: python tools/make_sf10.py [out_dir]   (default .scratch/sf10)
"""

from __future__ import annotations

import os
import sys

import duckdb

REPLICAS = 10
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SRC = os.path.join(REPO, ".scratch", "sf1")


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
           else os.path.join(REPO, ".scratch", "sf10"))
    if not os.path.exists(f"{SRC}/documents.parquet"):
        sys.exit("build the sf1 corpus first: python tools/make_sf1.py")
    os.makedirs(out, exist_ok=True)
    con = duckdb.connect()
    for t in ("documents", "embeddings", "customer", "orders",
              "lineitem", "events"):
        con.execute(f"CREATE VIEW {t} AS FROM '{SRC}/{t}.parquet'")
    con.execute(
        f"CREATE VIEW k AS SELECT unnest(range({REPLICAS})) AS k")
    assert_single_space_tokens(con)
    spans = {
        "doc": con.execute(
            "SELECT max(doc_id) + 1 FROM documents").fetchone()[0],
        "vec": con.execute(
            "SELECT max(vec_id) + 1 FROM embeddings").fetchone()[0],
        "cust": con.execute(
            "SELECT max(c_custkey) + 1 FROM customer").fetchone()[0],
        "ord": con.execute(
            "SELECT max(o_orderkey) + 1 FROM orders").fetchone()[0],
        "supp": con.execute(
            "SELECT max(l_suppkey) + 1 FROM lineitem").fetchone()[0],
        "part": con.execute(
            "SELECT max(l_partkey) + 1 FROM lineitem").fetchone()[0],
        "evt": con.execute(
            "SELECT max(event_id) + 1 FROM events").fetchone()[0],
        "user": con.execute(
            "SELECT max(user_id) + 1 FROM events").fetchone()[0],
    }

    sql = {
        "documents": f"""
            SELECT doc_id + k * {spans['doc']} AS doc_id,
                   CASE WHEN k = 0 THEN text ELSE
                        array_to_string(list_transform(
                            string_split(text, ' '),
                            w -> w || '^' || CAST(k AS VARCHAR)), ' ')
                   END AS text,
                   lang, source,
                   CASE WHEN k = 0 THEN n_chars ELSE
                        length(array_to_string(list_transform(
                            string_split(text, ' '),
                            w -> w || '^' || CAST(k AS VARCHAR)), ' '))
                   END AS n_chars
            FROM documents, k""",
        "embeddings": f"""
            SELECT vec_id + k * {spans['vec']} AS vec_id,
                   CAST(list_transform(
                        list_concat(
                            embedding[len(embedding) - ((7 * k) % 64) + 1:],
                            embedding[:len(embedding) - ((7 * k) % 64)]),
                        (x, i) -> CASE WHEN
                            bit_count(CAST(i - 1 AS BIGINT) & k) % 2 = 1
                            THEN -x ELSE x END) AS FLOAT[]) AS embedding,
                   label
            FROM embeddings, k""",
        "customer": f"""
            SELECT c_custkey + k * {spans['cust']} AS c_custkey,
                   c_name || '~' || chr(97 + CAST(k AS INT))
                          || chr(97 + CAST(k AS INT)) AS c_name,
                   c_nationkey, c_acctbal, c_mktsegment
            FROM customer, k""",
        "orders": f"""
            SELECT o_orderkey + k * {spans['ord']} AS o_orderkey,
                   o_custkey + k * {spans['cust']} AS o_custkey,
                   o_orderstatus, o_totalprice, o_orderdate,
                   o_orderpriority
            FROM orders, k""",
        # 10 disjoint copies of the event stream: event/user key
        # offsets keep per-user sequences bit-identical to sf1's, so
        # per-user windows/sessions grow in COUNT (10x), never in
        # depth — the same linear-by-construction discipline as the
        # relational replicas
        "events": f"""
            SELECT event_id + k * {spans['evt']} AS event_id,
                   ts,
                   user_id + k * {spans['user']} AS user_id,
                   event_type, value, props
            FROM events, k""",
        "lineitem": f"""
            SELECT l_orderkey + k * {spans['ord']} AS l_orderkey,
                   l_partkey + k * {spans['part']} AS l_partkey,
                   l_suppkey + k * {spans['supp']} AS l_suppkey,
                   l_linenumber, l_quantity, l_extendedprice,
                   l_discount, l_tax, l_returnflag, l_linestatus,
                   l_shipdate
            FROM lineitem, k""",
    }
    for t, q in sql.items():
        con.execute(
            f"COPY ({q}) TO '{out}/{t}.parquet' (FORMAT PARQUET)")
        n = con.execute(f"SELECT count(*) FROM '{out}/{t}.parquet'") \
            .fetchone()[0]
        print(f"{t}: {n} rows")
    print(f"sf10 dedup corpus written to {out}")


if __name__ == "__main__":
    main()
