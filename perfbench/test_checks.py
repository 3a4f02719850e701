"""The benchmark's own checks must be able to fail.

Each check gets a correct output, which it must accept, and the same
output with one deliberate fault (a dropped row, a changed hash, a merged
component, ...), which it must reject. No Spark is needed:

    python3 -m pytest perfbench/test_checks.py -q
"""

from __future__ import annotations

import hashlib
import os
import sys
from collections import Counter

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import checks  # noqa: E402
from checks import CheckFailed  # noqa: E402


def test_same_rows_rejects_a_dropped_row():
    cols = ["k", "v"]
    rows = [(1, 0.5), (2, 1.25), (3, None)]
    checks.same_rows("t", cols, rows, ["v", "k"], [(0.5, 1), (1.25, 2), (None, 3)])
    with pytest.raises(CheckFailed, match="rows vs oracle"):
        checks.same_rows("t", cols, rows[:-1], cols, rows)


def test_same_rows_rejects_a_changed_value_and_a_renamed_column():
    rows = [(1, 0.5), (2, 1.25)]
    with pytest.raises(CheckFailed):
        checks.same_rows("t", ["k", "v"], [(1, 0.5), (2, 1.26)], ["k", "v"], rows)
    with pytest.raises(CheckFailed, match="columns"):
        checks.same_rows("t", ["k", "w"], rows, ["k", "v"], rows)


def test_salted_hashes_rejects_a_changed_hash():
    names = {1: "alice@example.org", 2: "bob@example.org"}
    good = [(k, hashlib.sha256(("salt" + v).encode()).hexdigest()) for k, v in names.items()]
    checks.salted_hashes(good, names, "salt")
    bad = [good[0], (2, good[1][1][:-1] + ("0" if good[1][1][-1] != "0" else "1"))]
    with pytest.raises(CheckFailed, match="digest"):
        checks.salted_hashes(bad, names, "salt")
    with pytest.raises(CheckFailed):
        checks.salted_hashes(good[:1], names, "salt")


def test_components_rejects_a_merged_component_and_a_twice_labelled_node():
    pairs = [(1, 2), (2, 3), (7, 8)]
    labels = [(1, 1), (2, 1), (3, 1), (7, 7), (8, 7)]
    checks.components(pairs, labels)
    merged = labels[:3] + [(7, 1), (8, 1)]
    with pytest.raises(CheckFailed, match="labelled 1, union-find 7"):
        checks.components(pairs, merged)
    with pytest.raises(CheckFailed, match="node sets"):
        checks.components(pairs, [r for r in labels if r[0] != 3])
    with pytest.raises(CheckFailed, match="labelled 2 times"):
        checks.components(pairs, labels + [(8, 7)])


def test_funnel_total_rejects_a_lost_document():
    funnel = [("kept", 90), ("quality", 7), ("near_dup", 3)]
    checks.funnel_total(funnel, 100)
    with pytest.raises(CheckFailed):
        checks.funnel_total(funnel[:-1], 100)


def test_pagerank_mass_rejects_created_and_lost_mass():
    scale = 10**12
    ranks = [scale // 4 - 1] * 4
    checks.pagerank_mass(ranks, n_edges=8, iterations=3, scale=scale)
    with pytest.raises(CheckFailed):
        checks.pagerank_mass(ranks[:-1] + [scale // 4 + 10], 8, 3, scale)
    with pytest.raises(CheckFailed):
        checks.pagerank_mass(ranks[:-1] + [scale // 4 - 1000], 8, 3, scale)


def test_upsert_checks_reject_a_dropped_row_and_a_stray_month():
    checks.upsert_rows(1000, 50, 1050)
    with pytest.raises(CheckFailed):
        checks.upsert_rows(1000, 50, 1049)
    checks.partition_months({"199501": {"199501"}, "199502": {"199502"}})
    with pytest.raises(CheckFailed, match="ds=199502"):
        checks.partition_months({"199501": {"199501"}, "199502": {"199502", "199503"}})


def test_codes_once_rejects_duplicates_and_gaps():
    codes = [(v, s) for v in (1, 2, 3) for s in range(8)]
    checks.codes_once(codes, {1, 2, 3}, 8)
    with pytest.raises(CheckFailed, match="stored 2 times"):
        checks.codes_once(codes + [(2, 5)], {1, 2, 3}, 8)
    with pytest.raises(CheckFailed, match="sub-spaces"):
        checks.codes_once(codes[1:], {1, 2, 3}, 8)
    with pytest.raises(CheckFailed, match="vector sets"):
        checks.codes_once(codes, {1, 2, 3, 4}, 8)


def test_cross_batch_pairs_is_exact_and_a_dropped_pair_fails():
    words = "a b c d e f g h i j k l m n o p q r s t".split()
    base = " ".join(words)
    con = duckdb.connect()
    con.execute("CREATE TABLE d (doc_id BIGINT, text VARCHAR, batch INTEGER)")
    con.executemany(
        "INSERT INTO d VALUES (?, ?, ?)",
        [
            (1, base, -1),
            (2, base + " dup", 0),  # J = 18/19 with doc 1: a pair
            (3, " ".join(reversed(words)), 0),  # no shared 3-shingle
            (4, base + " dup", 0),  # same batch as 2: only the corpus pair
            (5, base + " v w x y z", 1),  # J = 18/23 < 0.8 with 1: no pair
            (6, base + " w x y z", 1),  # J = 18/22 > 0.8 with 1, 17/24 with 2
        ],
    )
    got = checks.cross_batch_pairs(con, "SELECT * FROM d", 0.8)
    checks.same_set("pairs", got, {(2, 1), (4, 1), (6, 1)})
    with pytest.raises(CheckFailed, match="missing"):
        checks.same_set("pairs", {(2, 1)}, got)


def test_exactly_once_rejects_a_duplicated_row():
    want = {(2, 1), (4, 1)}
    checks.exactly_once("pairs", [(2, 1), (4, 1)], want)
    with pytest.raises(CheckFailed, match="stored 2 times"):
        checks.exactly_once("pairs", [(2, 1), (4, 1), (4, 1)], want)
    with pytest.raises(CheckFailed, match="missing"):
        checks.exactly_once("pairs", [(2, 1)], want)


def test_same_stores_rejects_a_replayed_append_and_a_lost_row():
    before = {"docs": Counter([1, 2, 3]), "pairs": Counter([(3, 1)])}
    checks.same_stores("replay", before, {k: v.copy() for k, v in before.items()}, before)
    # An at-least-once replay that appends its batch again: the set of
    # rows is unchanged, the multiset is not.
    replayed = {**before, "docs": Counter([1, 2, 3, 3])}
    with pytest.raises(CheckFailed, match=r"changed the docs store: extra \[3\]"):
        checks.same_stores("replay", before, replayed, ("pairs", "docs"))
    compacted = {**before, "pairs": Counter()}
    with pytest.raises(CheckFailed, match=r"missing \[\(3, 1\)\]"):
        checks.same_stores("compact_state", before, compacted, ("pairs", "docs"))
