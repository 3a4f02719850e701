"""Output checks that do not use the program under test.

Every check takes plain Python values (rows as tuples, dicts, lists) and
raises ``CheckFailed`` with the first difference it finds. Reference
results come from DuckDB over the generated Parquet inputs, from
``hashlib`` and from a Python union-find, so a fault in the engine cannot
hide in the reference. ``test_checks.py`` feeds each check a corrupted
output to show that it can fail.
"""

from __future__ import annotations

import datetime as dt
import decimal
import hashlib
import os
from collections import Counter

import duckdb

TABLES = (
    "region nation customer supplier part orders lineitem events documents "
    "embeddings"
).split()


class CheckFailed(AssertionError):
    pass


def _fail(msg: str) -> None:
    raise CheckFailed(msg)


def duck_connect(inputs_dir: str) -> duckdb.DuckDBPyConnection:
    """DuckDB with one view per generated table, as the oracles expect."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        path = os.path.join(inputs_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def _cell(v):
    if v is None:
        return "<null>"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, (float, decimal.Decimal)):
        f = float(v)
        return "0" if f == 0 else f"{f:.6g}"
    if isinstance(v, (dt.date, dt.datetime)):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_cell(x) for x in v) + "]"
    return str(v)


def canon(cols: list[str], rows: list[tuple]) -> tuple[list[str], Counter]:
    """Columns sorted by name; rows as a multiset of canonical strings
    (floats to six significant digits, dates in ISO form)."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return (
        [cols[i] for i in order],
        Counter(tuple(_cell(r[i]) for i in order) for r in rows),
    )


def same_rows(name: str, got_cols, got_rows, want_cols, want_rows) -> None:
    gc, gr = canon(list(got_cols), got_rows)
    wc, wr = canon(list(want_cols), want_rows)
    if gc != wc:
        _fail(f"{name}: columns {gc} != oracle {wc}")
    if gr != wr:
        missing = list((wr - gr).elements())[:3]
        extra = list((gr - wr).elements())[:3]
        _fail(
            f"{name}: {sum(gr.values())} rows vs oracle {sum(wr.values())}; "
            f"missing {missing} extra {extra}"
        )


def oracle_rows(con, sql: str) -> tuple[list[str], list[tuple]]:
    cur = con.execute(sql)
    return [d[0] for d in cur.description], cur.fetchall()


def salted_hashes(rows: list[tuple], names: dict, salt: str) -> None:
    """``rows`` are (key, hex digest); ``names`` maps key → hashed value.
    Each digest must equal ``sha256(salt + value)``."""
    if len(rows) != len(names):
        _fail(f"hash: {len(rows)} rows for {len(names)} inputs")
    for key, digest in rows:
        want = hashlib.sha256((salt + names[key]).encode()).hexdigest()
        if digest != want:
            _fail(f"hash: key {key} digest {digest} != {want}")


def union_find(pairs) -> dict:
    """node → smallest node of its connected component."""
    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in list(parent)}


def components(pairs, label_rows: list[tuple]) -> None:
    """``label_rows`` (node, component) must label every node of ``pairs``
    once, with the smallest node of its union-find component."""
    want = union_find(pairs)
    seen = Counter(n for n, _ in label_rows)
    dup = [n for n, c in seen.items() if c > 1]
    if dup:
        _fail(f"components: node {dup[0]} labelled {seen[dup[0]]} times")
    labels = dict(label_rows)
    if set(labels) != set(want):
        diff = sorted(set(labels) ^ set(want))[:5]
        _fail(f"components: node sets differ, e.g. {diff}")
    bad = [n for n in want if labels[n] != want[n]]
    if bad:
        n = bad[0]
        _fail(f"components: node {n} labelled {labels[n]}, union-find {want[n]}")


def funnel_total(funnel: list[tuple], n_corpus: int) -> None:
    """Funnel stage counts ``(stage, n_docs)`` sum to the corpus size."""
    got = sum(n for _, n in funnel)
    if got != n_corpus:
        _fail(f"funnel: stages sum to {got}, corpus has {n_corpus}")


def pagerank_mass(ranks: list[int], n_edges: int, iterations: int, scale: int) -> None:
    """Fixed-point PageRank starts with at most ``scale`` total mass and
    only floor divisions lose mass: the start loses less than one unit per
    node, and each iteration less than one per directed edge (the
    contribution floor) plus two per node (the base-rank and damping
    floors); it never gains."""
    total = sum(ranks)
    n = len(ranks)
    low = scale - (iterations + 1) * (n_edges + 2 * n)
    if not low <= total <= scale:
        _fail(f"pagerank: mass {total} outside [{low}, {scale}]")


def upsert_rows(n_base: int, n_new_keys: int, n_after: int) -> None:
    if n_after != n_base + n_new_keys:
        _fail(f"upsert: {n_after} rows, want base {n_base} + new keys {n_new_keys}")


def partition_months(months_by_dir: dict[str, set[str]]) -> None:
    """Each ``ds=<yyyyMM>`` directory holds only rows of its own month."""
    for ds, months in months_by_dir.items():
        if months != {ds}:
            _fail(f"upsert: ds={ds} holds months {sorted(months)}")


def codes_once(codes: list[tuple], want_ids: set, n_subs: int) -> None:
    """Stored PQ codes ``(vec_id, sub)``: every wanted vector once in
    every sub-space, nothing else."""
    seen = Counter(codes)
    dup = [k for k, c in seen.items() if c > 1]
    if dup:
        _fail(f"pq codes: {dup[0]} stored {seen[dup[0]]} times")
    per_vec = Counter(v for v, _ in seen)
    if set(per_vec) != want_ids:
        diff = sorted(set(per_vec) ^ want_ids)[:5]
        _fail(f"pq codes: vector sets differ, e.g. {diff}")
    short = [v for v, c in per_vec.items() if c != n_subs]
    if short:
        _fail(f"pq codes: vector {short[0]} in {per_vec[short[0]]} of {n_subs} sub-spaces")


def same_set(name: str, got, want) -> None:
    got, want = set(got), set(want)
    if got != want:
        _fail(
            f"{name}: {len(got)} vs {len(want)}; missing {sorted(want - got)[:3]} "
            f"extra {sorted(got - want)[:3]}"
        )


def exactly_once(name: str, rows, want) -> None:
    """``rows`` (a list or a ``Counter``) holds every row of ``want``
    exactly once and nothing else."""
    seen = Counter(rows)
    dup = [r for r, c in seen.items() if c > 1]
    if dup:
        _fail(f"{name}: {dup[0]} stored {seen[dup[0]]} times")
    same_set(name, seen, want)


def same_stores(what: str, before: dict, after: dict, stores) -> None:
    """Each named store holds the same rows, each as many times, after
    ``what`` as before it. Stores are ``Counter``s of rows."""
    for k in stores:
        if after[k] != before[k]:
            extra = list((after[k] - before[k]).elements())[:3]
            missing = list((before[k] - after[k]).elements())[:3]
            _fail(f"{what} changed the {k} store: extra {extra} missing {missing}")


CROSS_BATCH_PAIRS_SQL = """
WITH docs AS (
  SELECT doc_id, batch,
         list_filter(regexp_split_to_array(lower(text), '\\s+'), t -> t <> '') AS tok
  FROM {docs}
), pos AS (
  SELECT doc_id, batch, tok, unnest(generate_series(1, len(tok) - 2)) AS i
  FROM docs
), sh AS (
  SELECT DISTINCT doc_id, batch,
         tok[i] || ' ' || tok[i + 1] || ' ' || tok[i + 2] AS s
  FROM pos
), sz AS (SELECT doc_id, batch, COUNT(*) AS n FROM sh GROUP BY doc_id, batch),
inter AS (
  SELECT a.doc_id AS new_id, b.doc_id AS ex_id, COUNT(*) AS k
  FROM sh a JOIN sh b ON a.s = b.s AND b.batch < a.batch AND a.batch >= 0
  GROUP BY a.doc_id, b.doc_id
)
SELECT i.new_id, i.ex_id
FROM inter i JOIN sz a ON a.doc_id = i.new_id JOIN sz b ON b.doc_id = i.ex_id
WHERE i.k::DOUBLE / (a.n + b.n - i.k) >= {threshold}
"""


def cross_batch_pairs(con, docs_sql: str, threshold: float) -> set[tuple[int, int]]:
    """Exact (new_id, ex_id) pairs with 3-shingle Jaccard ≥ ``threshold``
    between each arriving document (``batch`` ≥ 0) and every document of
    the corpus (``batch`` = -1) or of an earlier batch. ``docs_sql``
    yields (doc_id, text, batch)."""
    sql = CROSS_BATCH_PAIRS_SQL.format(docs=f"({docs_sql})", threshold=threshold)
    return {(a, b) for a, b in con.execute(sql).fetchall()}
