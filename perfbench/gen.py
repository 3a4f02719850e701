"""Seeded input generator for the benchmark workloads.

Writes the engine's fixture tables (the schemas in FIXTURES.md) as one
Parquet file each under ``<out>/<table>.parquet``. The same seed always
gives the same bytes. Nothing here imports the engine or ``tools/``: the
benchmark keeps its own generator so that the inputs do not move when the
program does.

The shapes follow the fixture tables the registry keys and their DuckDB
oracles were written against: a TPC-H-like star schema, an ``events``
stream, a ``documents`` corpus over the fixtures' 31 words plus 169 more
with planted exact and near duplicates, and 64-dimensional unit ``embeddings``
drawn around ten cluster centres.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# The fixture documents' 31 words plus 169 more: with only the fixture
# words, nearly every document shares a 3-shingle with the held-out
# source and the curation funnel keeps almost nothing. "the" and "a" are
# drawn one time in ten each, so most documents pass the English gate.
VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split() + [f"term{i}" for i in range(169)]
_STOP = ("the", "a")
_WORD_P = [0.1 if w in _STOP else 0.8 / (len(VOCAB) - len(_STOP)) for w in VOCAB]
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
PTYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
ADJ = ("hot", "large", "small", "blue", "red", "green", "cold", "shiny")
NOUN = ("bolt", "ring", "gear", "nut", "pipe", "valve", "plate", "screw")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("de", "en", "es", "fr", "zh")
N_SOURCES = 20
EMBED_DIM = 64

_EPOCH = np.datetime64("1970-01-01T00:00:00", "us")


def _ts(values_us: np.ndarray) -> pa.Array:
    return pa.array(values_us.astype("datetime64[us]"), type=pa.timestamp("us"))


def _day_us(day: str) -> int:
    return int((np.datetime64(day, "us") - _EPOCH).astype(np.int64))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out: str, name: str, table: pa.Table) -> None:
    pq.write_table(table, os.path.join(out, f"{name}.parquet"))


def star_schema(rng: np.random.Generator, out: str, k: int) -> None:
    """TPC-H-like tables at ``k`` thousandths of the reference scale
    (k=100 is the fixture's sf0.1 row counts)."""
    n_cust, n_supp, n_part, n_ord = 150 * k, 10 * k, 200 * k, 1500 * k
    _write(
        out,
        "region",
        pa.table(
            {
                "r_regionkey": pa.array(range(5), pa.int32()),
                "r_name": list(REGIONS),
            }
        ),
    )
    _write(
        out,
        "nation",
        pa.table(
            {
                "n_nationkey": pa.array(range(25), pa.int32()),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
            }
        ),
    )
    _write(
        out,
        "customer",
        pa.table(
            {
                "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
                "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
                "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
                "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
            }
        ),
    )
    _write(
        out,
        "supplier",
        pa.table(
            {
                "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
                "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
                "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
            }
        ),
    )
    price = np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2)
    _write(
        out,
        "part",
        pa.table(
            {
                "p_partkey": pa.array(np.arange(n_part), pa.int64()),
                "p_name": [
                    f"{ADJ[a]} {NOUN[b]}"
                    for a, b in zip(
                        rng.integers(0, len(ADJ), n_part),
                        rng.integers(0, len(NOUN), n_part),
                    )
                ],
                "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
                "p_type": np.array(PTYPES)[rng.integers(0, len(PTYPES), n_part)],
                "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
                "p_retailprice": price,
            }
        ),
    )
    # Two years of orders: the lake's month partitions stay few (~28)
    # and every TPC-H date window of the registry keys is covered.
    day0, day1 = _day_us("1995-01-01"), _day_us("1996-12-31")
    day = 86_400_000_000
    o_date = day0 + rng.integers(0, (day1 - day0) // day + 1, n_ord) * day
    lines = rng.integers(1, 8, n_ord)
    n_li = int(lines.sum())
    l_order = np.repeat(np.arange(n_ord), lines)
    l_num = np.concatenate([np.arange(1, c + 1) for c in lines])
    l_part = rng.integers(0, n_part, n_li)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    ext = np.round(qty * price[l_part], 2)
    disc = rng.integers(0, 11, n_li) / 100.0
    tax = rng.integers(0, 9, n_li) / 100.0
    ship = np.repeat(o_date, lines) + rng.integers(1, 122, n_li) * day
    totals = np.bincount(l_order, weights=ext * (1 - disc) * (1 + tax), minlength=n_ord)
    _write(
        out,
        "orders",
        pa.table(
            {
                "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
                "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
                "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
                "o_totalprice": np.round(totals, 2),
                "o_orderdate": _ts(o_date),
                "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
            }
        ),
    )
    _write(
        out,
        "lineitem",
        pa.table(
            {
                "l_orderkey": pa.array(l_order, pa.int64()),
                "l_partkey": pa.array(l_part, pa.int64()),
                "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
                "l_linenumber": pa.array(l_num, pa.int32()),
                "l_quantity": qty,
                "l_extendedprice": ext,
                "l_discount": disc,
                "l_tax": tax,
                "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
                "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
                "l_shipdate": _ts(ship),
            }
        ),
    )
    n_ev = 1000 * k
    ev_ts = _day_us("2024-01-01") + np.sort(
        rng.integers(0, 30 * 86_400_000_000, n_ev)
    )
    _write(
        out,
        "events",
        pa.table(
            {
                "event_id": pa.array(np.arange(n_ev), pa.int64()),
                "ts": _ts(ev_ts),
                "user_id": pa.array(rng.integers(0, 15 * k, n_ev), pa.int64()),
                "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
                "value": _money(rng, 0.0, 200.0, n_ev),
                "props": [f'{{"k": {v}}}' for v in rng.integers(0, 100, n_ev)],
            }
        ),
    )


def documents(rng: np.random.Generator, n: int) -> pa.Table:
    """``n`` documents: random word sequences over ``VOCAB`` of 10-100
    words. One in twenty is a near duplicate (an earlier original plus
    the token ``dup``) and one in 500 an exact copy of one, so the dedup
    stages always have work. Copies are only ever made of originals, so
    every duplicate cluster is a star of diameter two, whatever the seed,
    and the planted pairs have 3-shingle Jaccard of at least 8/9."""
    texts: list[str] = []
    originals: list[int] = []
    for i in range(n):
        r = rng.random()
        if originals and r < 0.05:
            texts.append(texts[originals[int(rng.integers(0, len(originals)))]] + " dup")
        elif originals and r < 0.052:
            texts.append(texts[originals[int(rng.integers(0, len(originals)))]])
        else:
            words = rng.choice(len(VOCAB), int(rng.integers(10, 101)), p=_WORD_P)
            texts.append(" ".join(VOCAB[w] for w in words))
            originals.append(i)
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": texts,
            "lang": np.array(LANGS)[rng.integers(0, len(LANGS), n)],
            "source": [f"src{s}" for s in rng.integers(0, N_SOURCES, n)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    """``n`` unit vectors of dimension 64 around ten cluster centres."""
    centres = rng.normal(0.0, 1.0, (10, EMBED_DIM))
    label = rng.integers(0, 10, n)
    v = centres[label] + rng.normal(0.0, 0.8, (n, EMBED_DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.array(list(v), pa.list_(pa.float32())),
            "label": pa.array(label, pa.int32()),
        }
    )


def generate(out: str, seed: int, k: int, n_docs: int, n_vecs: int) -> str:
    """Write every fixture table for ``seed`` into ``out`` (idempotent:
    an existing complete directory is reused). Returns ``out``."""
    marker = os.path.join(out, "_COMPLETE")
    if os.path.exists(marker):
        return out
    tmp = out + ".partial"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    rng = np.random.default_rng(seed)
    star_schema(rng, tmp, k)
    _write(tmp, "documents", documents(rng, n_docs))
    _write(tmp, "embeddings", embeddings(rng, n_vecs))
    with open(os.path.join(tmp, "_COMPLETE"), "w") as f:
        f.write("complete\n")
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out
