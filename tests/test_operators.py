"""Unit tests for non-oracled operator guarantees (SURVEY §5.2 item 2):
approx operators are tested against exact ground truth (bounds/recall),
never against engine-specific values.
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from odl_etl_spark.io.sources import load_table
from odl_etl_spark.operators.asof import asof_join
from odl_etl_spark.operators.dedup import jaccard_pairs, minhash_lsh_pairs, simhash_pairs
from odl_etl_spark.operators.similarity import IvfIndex, topk_cosine


def test_asof_picks_latest_at_or_before(spark):
    left = spark.createDataFrame(
        [(1, "k1", 100.0), (2, "k1", 50.0), (3, "k2", 10.0)],
        "id long, k string, ts double",
    )
    right = spark.createDataFrame(
        [("k1", 40.0, "a"), ("k1", 100.0, "b"), ("k1", 120.0, "c"), ("k2", 99.0, "z")],
        "k string, rts double, v string",
    )
    out = {
        r["id"]: r["v"]
        for r in asof_join(
            left, right, on=["k"], left_ts="ts", right_ts="rts", payload=["v"]
        ).collect()
    }
    assert out == {1: "b", 2: "a", 3: None}  # ts>=rts inclusive; no future rows


def test_asof_tiebreak_highest_wins(spark):
    left = spark.createDataFrame([(1, "k", 10.0)], "id long, k string, ts double")
    right = spark.createDataFrame(
        [("k", 10.0, 7, "lo"), ("k", 10.0, 9, "hi")],
        "k string, rts double, pri long, v string",
    )
    out = asof_join(
        left, right, on=["k"], left_ts="ts", right_ts="rts",
        payload=["v"], tiebreak="pri",
    ).collect()
    assert out[0]["v"] == "hi"


def test_minhash_lsh_matches_exact_jaccard(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    exact = {
        (r["id_a"], r["id_b"])
        for r in jaccard_pairs(docs, "doc_id", "text", threshold=0.8).collect()
    }
    lsh = {
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_pairs(docs, "doc_id", "text", threshold=0.8).collect()
    }
    assert lsh == exact  # verification makes precision exact; recall ~1 at j>=0.8
    assert len(exact) > 0  # fixtures plant near-duplicates


def test_simhash_finds_planted_near_dups(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    exact = {
        (r["id_a"], r["id_b"])
        for r in jaccard_pairs(docs, "doc_id", "text", threshold=0.9).collect()
    }
    sim = {
        (r["id_a"], r["id_b"])
        for r in simhash_pairs(docs, "doc_id", "text", max_hamming=6).collect()
    }
    # SimHash is a coarser sketch: demand decent recall of the crispest dups.
    if exact:
        recall = len(exact & sim) / len(exact)
        assert recall >= 0.5, f"simhash recall {recall} over {len(exact)} pairs"


def test_simhash_blocking_width_is_the_scale_property(spark, sf_dir):
    """Exact-recall equality CANNOT catch a revert from combination
    blocking to 16-bit chunks — both block schemes are exact for
    hamming <= 3; what differs is the candidate volume (n²/2^16 vs the
    joint three-block distribution; the 100× probe measured 46.2M vs
    near-linear candidates at 500k docs — SCALING.md round-13). Pin
    the STRUCTURE: hamming<=3 plans must explode C(6,3)=20 combination
    keys per doc, the >3 fallback keeps the 4 legacy chunks."""
    from pyspark.sql import functions as F

    from odl_etl_spark.operators.dedup import simhash_block_keys

    # Primary pin (rendering-independent, ADVICE r13 #4): the posexplode
    # arity IS the property — 20 combination keys/doc for hamming<=3,
    # the 4 legacy chunks above it.
    assert len(simhash_block_keys(F.col("s"), 3)) == 20
    assert len(simhash_block_keys(F.col("s"), 6)) == 4
    # Secondary pin: the pairs plan really routes through the helper on
    # both self-join sides. Each combination key inlines 3 block
    # extractions (shiftrightunsigned) -> 60/side vs the legacy 4/side;
    # count the FUNCTION NAME, not literal constant renderings, which a
    # Spark version may format differently.
    docs = load_table(spark, sf_dir, "documents")
    plan3 = simhash_pairs(docs, "doc_id", "text", max_hamming=3)._jdf.queryExecution().analyzed().toString()
    plan6 = simhash_pairs(docs, "doc_id", "text", max_hamming=6)._jdf.queryExecution().analyzed().toString()
    assert plan3.count("shiftrightunsigned") >= 40, "combination blocking missing"
    assert 8 <= plan6.count("shiftrightunsigned") < 20, "legacy 4-chunk path changed"


def test_ivf_recall_vs_brute_force(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    probe = [float(x) for x in emb.where(F.col("vec_id") == 0).head()["embedding"]]
    rest = emb.where(F.col("vec_id") != 0)
    brute = [r["vec_id"] for r in topk_cosine(rest, probe, k=10).collect()]
    index = IvfIndex.build(emb, n_cells=8)
    ann = [
        r["vec_id"]
        for r in index.search(index.assign(rest), probe, k=10, nprobe=4).collect()
    ]
    recall = len(set(brute) & set(ann)) / 10
    assert recall >= 0.5, f"IVF recall@10 {recall}"


def test_approx_count_distinct_bound(spark, sf_dir):
    l = load_table(spark, sf_dir, "lineitem")
    exact = l.select(F.countDistinct("l_partkey")).head()[0]
    approx = l.select(F.approx_count_distinct("l_partkey", 0.05)).head()[0]
    assert abs(approx - exact) / exact < 0.15  # 3x the configured rsd


def test_jaccard_max_df_keeps_high_sim_pairs(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    base = {
        (r["id_a"], r["id_b"])
        for r in jaccard_pairs(docs, "doc_id", "text", threshold=0.95).collect()
    }
    n_docs = docs.count()
    filtered = jaccard_pairs(
        docs, "doc_id", "text", threshold=0.95, max_df=max(n_docs // 2, 10)
    )
    kept = {(r["id_a"], r["id_b"]) for r in filtered.collect()}
    # Stop-shingle filtering only drops ubiquitous shingles; near-identical
    # pairs keep (almost) all their matches. Jaccard values shift slightly,
    # so compare pair sets at a high threshold.
    if base:
        assert len(kept & base) / len(base) >= 0.8


def test_ntile_exact_matches_window_ntile(spark):
    # Distributed NTILE (range shuffle + partition offsets) must be
    # bitwise-identical to the single-task Window.orderBy NTILE, including
    # the remainder-spread rule, for n % k != 0 and n < k.
    from pyspark.sql import Window

    from odl_etl_spark.operators.ranking import ntile_exact

    for n_rows, k in [(23, 10), (7, 10), (40, 4), (1, 3)]:
        df = spark.range(n_rows).select(
            F.col("id"), (F.col("id") * 37 % 11).alias("key")
        )
        got = {
            r["id"]: r["tile"]
            for r in ntile_exact(df, ["key", "id"], k, num_partitions=5).collect()
        }
        want = {
            r["id"]: r["t"]
            for r in df.select(
                "id", F.ntile(k).over(Window.orderBy("key", "id")).alias("t")
            ).collect()
        }
        assert got == want, (n_rows, k)


def test_global_row_number_is_total_and_exact(spark):
    from odl_etl_spark.operators.ranking import global_row_number

    df = spark.range(100).select(F.col("id"), (99 - F.col("id")).alias("key"))
    rows = global_row_number(df, ["key"], num_partitions=7).collect()
    by_rn = sorted(rows, key=lambda r: r["rn"])
    assert [r["rn"] for r in by_rn] == list(range(1, 101))
    assert [r["key"] for r in by_rn] == list(range(100))


def test_connected_components_transitive_chain(spark):
    from odl_etl_spark.operators.components import connected_components

    # 0-1-2-3-4 chain (diameter 4, needs >1 round), {10,11} pair, and a
    # triangle {20,21,22} with a redundant edge.
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22), (20, 22)],
        "src long, dst long",
    )
    got = {
        r["node"]: r["component"]
        for r in connected_components(edges, "src", "dst").collect()
    }
    assert got == {0: 0, 1: 0, 2: 0, 3: 0, 4: 0, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20}


def test_connected_components_prepartition_branch_same_labels(spark):
    """The r18 adaptive pre-partition (pay the upfront edge exchange
    only when the label table will not broadcast) is plan-only: forcing
    the loop's non-broadcast branch via autoBroadcastJoinThreshold=-1
    yields the labeling of the default conf's driver path."""
    from odl_etl_spark.operators.components import (
        _fits_broadcast,
        connected_components,
    )

    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22), (20, 22)],
        "src long, dst long",
    )
    want = {
        r["node"]: r["component"]
        for r in connected_components(edges, "src", "dst").collect()
    }
    thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    tiny = spark.range(3).select(F.col("id").alias("_label")).localCheckpoint()
    assert _fits_broadcast(tiny)  # default threshold: tiny frame broadcasts
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        assert not _fits_broadcast(tiny)  # disabled: nothing broadcasts
        got = {
            r["node"]: r["component"]
            for r in connected_components(edges, "src", "dst").collect()
        }
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr)
    assert got == want


def test_small_graph_components_plan_as_local_relation(spark):
    """The driver path hands its labels back as an Arrow-backed
    LocalRelation, which the planner sizes exactly, not as a LogicalRDD
    (a createDataFrame(list) relation sized at Long.MaxValue that a
    Python worker unpickles on every read)."""
    from odl_etl_spark.operators.components import (
        connected_components,
        connected_components_incremental,
    )

    edges = spark.createDataFrame([(0, 1), (1, 2), (5, 6)], "src long, dst long")
    labels = connected_components(edges)
    folded = connected_components_incremental(
        labels, spark.createDataFrame([(2, 5), (8, 9)], "src long, dst long")
    )
    for out in (labels, folded):
        plan = out._jdf.queryExecution().optimizedPlan().toString()
        assert "LocalRelation" in plan and "LogicalRDD" not in plan, plan
    assert {(r.node, r.component) for r in folded.collect()} == {
        (0, 0), (1, 0), (2, 0), (5, 0), (6, 0), (8, 8), (9, 8)
    }


def test_knn_join_matches_brute_force(spark, sf_dir):
    import pyspark.sql.functions as F

    from odl_etl_spark.io.sources import load_table
    from odl_etl_spark.operators.similarity import knn_join, topk_cosine

    e = load_table(spark, sf_dir, "embeddings")
    probes = e.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("probe_id"), F.col("embedding").alias("_p")
    )
    corpus = e.where(F.col("vec_id") >= 3)
    got = knn_join(corpus, probes, k=4)
    for pid, pvec in [(r["probe_id"], list(r["_p"])) for r in probes.collect()]:
        want = [
            (r["vec_id"], r["cos_sim"])
            for r in topk_cosine(corpus, [float(x) for x in pvec], k=4).collect()
        ]
        have = [
            (r["vec_id"], r["cos_sim"])
            for r in got.where(F.col("probe_id") == pid).orderBy("rnk").collect()
        ]
        assert have == want, pid


def test_connected_components_empty_edges(spark):
    from odl_etl_spark.operators.components import connected_components

    edges = spark.createDataFrame([], "src long, dst long")
    assert connected_components(edges, "src", "dst").count() == 0


def test_winnow_shares_fingerprint_on_common_run(spark):
    import pyspark.sql.functions as F

    from odl_etl_spark.operators.dedup import winnow_fingerprints

    # k=3, w=4: guarantee threshold is w+k-1 = 6 shared tokens.
    common = "alpha beta gamma delta epsilon zeta"
    df = spark.createDataFrame(
        [
            (1, f"intro words {common} tail one"),
            (2, f"other prefix {common} different end"),
            (3, "no overlap with anything here at all"),
        ],
        "doc_id long, text string",
    )
    fps = winnow_fingerprints(df, "doc_id", "text", k=3, w=4)
    a = {r["_fp"] for r in fps.where(F.col("_id") == 1).collect()}
    b = {r["_fp"] for r in fps.where(F.col("_id") == 2).collect()}
    c = {r["_fp"] for r in fps.where(F.col("_id") == 3).collect()}
    assert a & b, "docs sharing a 6-token run must share a fingerprint"
    assert not (a & c) and not (b & c)


def test_winnow_short_doc_gets_fingerprint(spark):
    from odl_etl_spark.operators.dedup import winnow_fingerprints

    df = spark.createDataFrame([(1, "just three tokens")], "doc_id long, text string")
    # 3 tokens -> one 3-gram -> fewer kgrams than w: position-0 window.
    assert winnow_fingerprints(df, "doc_id", "text", k=3, w=4).count() == 1


def test_global_cumsum_matches_single_partition_window(spark):
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    from odl_etl_spark.operators.ranking import global_cumsum

    df = spark.range(0, 1000).select(
        F.col("id"), (F.col("id") % 7 + 1).alias("v")
    )
    got = {
        r["id"]: r["cum_before"]
        for r in global_cumsum(df, ["id"], "v", num_partitions=8).collect()
    }
    w = Window.orderBy("id").rowsBetween(Window.unboundedPreceding, -1)
    want = {
        r["id"]: r["c"]
        for r in df.select(
            "id", F.coalesce(F.sum("v").over(w), F.lit(0)).alias("c")
        ).collect()
    }
    assert got == want


def test_global_cumsum_multi_column_matches_two_calls(spark):
    """N prefix sums under one total order share one range shuffle
    (orders_backlog's shape): the multi-column call must be value-
    identical to two independent single-column calls."""
    import pyspark.sql.functions as F

    from odl_etl_spark.operators.ranking import global_cumsum

    df = spark.range(0, 500).select(
        F.col("id"),
        (F.col("id") % 7 + 1).alias("a"),
        (F.col("id") % 11 + 3).alias("b"),
    )
    multi = {
        r["id"]: (r["ca"], r["cb"])
        for r in global_cumsum(
            df, ["id"], ["a", "b"], cum_col=["ca", "cb"], num_partitions=8
        ).collect()
    }
    single_a = {
        r["id"]: r["ca"]
        for r in global_cumsum(df, ["id"], "a", cum_col="ca", num_partitions=8).collect()
    }
    single_b = {
        r["id"]: r["cb"]
        for r in global_cumsum(df, ["id"], "b", cum_col="cb", num_partitions=8).collect()
    }
    assert multi == {k: (single_a[k], single_b[k]) for k in single_a}


def test_scd2_pit_tied_timestamps_pick_last_change(spark, tmp_path):
    """ADVICE r5: two state changes at the same instant — the PIT lookup
    must deterministically return the LAST change (highest event_id),
    matching the oracle's interval semantics where the tied-earlier
    change gets an empty [t,t) interval and drops."""
    import os

    import pandas as pd

    from odl_etl_spark.queries import registry

    src = tmp_path / "scd2_mini"
    os.makedirs(src, exist_ok=True)
    df = pd.DataFrame(
        {
            "event_id": [1, 2, 3, 4],
            "ts": pd.to_datetime(
                [
                    "2024-01-01 00:00:00",
                    "2024-01-02 00:00:00",
                    "2024-01-02 00:00:00",  # tied with event_id 2
                    "2024-01-02 02:00:00",
                ]
            ).astype("datetime64[us]"),
            "user_id": [1, 1, 1, 1],
            "event_type": ["view", "cart", "refund", "purchase"],
            "value": [0.0, 0.0, 0.0, 1.0],
            "props": ["{}"] * 4,
        }
    )
    df.to_parquet(src / "events.parquet")
    rows = registry()["scd2_point_in_time"].build(spark, str(src)).collect()
    # probe = purchase ts - 1h = 01:00, inside the tied-change window
    assert len(rows) == 1
    r = rows[0]
    assert r["event_id"] == 4
    assert r["state"] == "refund"  # event_id 3 beats event_id 2 at the tie


def test_minhash_lsh_probe_matches_cross_set_pairs(spark, sf_dir):
    """Incremental probe (batch vs corpus) must find exactly the
    cross-set subset of the full pair relation — same hash family, so
    splitting the corpus into (new, existing) loses nothing."""
    from pyspark.sql import functions as F

    from odl_etl_spark.operators.dedup import minhash_lsh_probe

    docs = load_table(spark, sf_dir, "documents")
    new = docs.where(F.col("source") == "src1")
    existing = docs.where(F.col("source") != "src1")
    probe = {
        (r["new_id"], r["ex_id"])
        for r in minhash_lsh_probe(
            new, existing, "doc_id", "text", threshold=0.8
        ).collect()
    }
    src = {
        r["doc_id"]: r["source"]
        for r in docs.select("doc_id", "source").collect()
    }
    full = minhash_lsh_pairs(docs, "doc_id", "text", threshold=0.8).collect()
    expected = set()
    for r in full:
        a, b = r["id_a"], r["id_b"]
        # pairs are unordered in the full relation; orient batch-first
        if src[a] == "src1" and src[b] != "src1":
            expected.add((a, b))
        elif src[b] == "src1" and src[a] != "src1":
            expected.add((b, a))
    assert probe == expected
    assert len(probe) > 0  # fixtures plant cross-source near-dups


def test_minhash_lsh_probe_prebuilt_index_identical(spark, sf_dir):
    """The stored-index path (minhash_band_index + new_index/
    existing_index params) must return the exact result of the
    band-from-raw-text path — it is the same relation, committed
    instead of recomputed. This is what lets an ingest loop grow the
    index monotonically (dedup_stream_ingest) without re-shingling."""
    from pyspark.sql import functions as F

    from odl_etl_spark.operators.dedup import (
        minhash_band_index,
        minhash_lsh_probe,
    )

    docs = load_table(spark, sf_dir, "documents")
    new = docs.where(F.col("source") == "src1")
    existing = docs.where(F.col("source") != "src1")
    rows = lambda df: sorted(tuple(r) for r in df.collect())  # noqa: E731
    direct = rows(minhash_lsh_probe(new, existing, "doc_id", "text", threshold=0.8))
    indexed = rows(
        minhash_lsh_probe(
            new,
            existing,
            "doc_id",
            "text",
            threshold=0.8,
            new_index=minhash_band_index(new, "doc_id", "text"),
            existing_index=minhash_band_index(existing, "doc_id", "text"),
        )
    )
    assert direct == indexed
    assert len(direct) > 0


def test_minhash_lsh_probe_rejects_param_mismatched_index(spark, sf_dir, tmp_path):
    """ADVICE r7: an index built with different (n, num_hashes,
    band_size) must fail loudly at probe time, not silently drop
    candidates. The stamp is StructField metadata on ``_bh`` and must
    survive a parquet round-trip (the stored-index path)."""
    import pytest
    from pyspark.sql import functions as F

    from odl_etl_spark.operators.dedup import (
        minhash_band_index,
        minhash_lsh_probe,
    )

    docs = load_table(spark, sf_dir, "documents")
    new = docs.where(F.col("source") == "src1")
    existing = docs.where(F.col("source") != "src1")
    idx_path = str(tmp_path / "idx")
    minhash_band_index(existing, "doc_id", "text", n=5).write.parquet(idx_path)
    stored = spark.read.parquet(idx_path)
    with pytest.raises(ValueError, match="existing_index was built with"):
        minhash_lsh_probe(
            new, existing, "doc_id", "text", n=3, existing_index=stored
        )
    # Matching params pass through the same round-tripped index.
    ok = minhash_lsh_probe(
        new, existing, "doc_id", "text", n=5, existing_index=stored
    )
    assert ok.columns == ["new_id", "ex_id", "jaccard"]


def test_span_rewrite_crafted_corpus(spark, tmp_path):
    """dedup_span_rewrite on a hand-built corpus: the globally-first
    occurrence of a duplicated 8-token span survives, later cross-doc
    AND intra-doc occurrences lose exactly the covered tokens, short
    and unique docs pass through byte-identical."""
    import os

    import pandas as pd

    from odl_etl_spark.queries import registry

    span = "a b c d e f g h"
    texts = {
        1: span,                              # first occurrence — kept whole
        2: "z1 z2 " + span + " z3",           # loses the 8 span tokens
        3: "u1 u2 u3",                        # shorter than a span — untouched
        4: "m1 m2 m3 m4 m5 m6 m7 m8 m1 m2 m3 m4 m5 m6 m7 m8",  # intra-doc repeat
    }
    src = tmp_path / "span_mini"
    os.makedirs(src, exist_ok=True)
    pd.DataFrame(
        {
            "doc_id": list(texts),
            "text": list(texts.values()),
            "lang": ["en"] * 4,
            "source": ["t"] * 4,
            "n_chars": [len(t) for t in texts.values()],
        }
    ).to_parquet(src / "documents.parquet")
    rows = {
        r["doc_id"]: r
        for r in registry()["dedup_span_rewrite"].build(spark, str(src)).collect()
    }
    assert rows[1]["text_dedup"] == span and rows[1]["n_removed"] == 0
    assert rows[2]["text_dedup"] == "z1 z2 z3" and rows[2]["n_removed"] == 8
    assert rows[3]["text_dedup"] == "u1 u2 u3" and rows[3]["n_removed"] == 0
    assert rows[4]["text_dedup"] == "m1 m2 m3 m4 m5 m6 m7 m8"
    assert rows[4]["n_removed"] == 8


def test_pq_adc_degenerates_to_exact_when_codes_cover_corpus(spark, tmp_path):
    """sim_ann_pq with <= 16 vectors: vec_id%16 seeding gives every
    vector its own singleton centroid, so the ADC distance IS the exact
    squared L2 to each vector (up to the shared BIGINT quantization) —
    the 25% ADC shortlist must therefore be exactly the true top
    ceil(0.25*n) neighbours, and the exact re-rank returns them in
    brute-force L2 order."""
    import os

    import numpy as np
    import pandas as pd

    from odl_etl_spark.queries import registry

    rng = np.random.RandomState(7)
    vecs = rng.rand(13, 64).astype(np.float32)
    src = tmp_path / "pq_mini"
    os.makedirs(src, exist_ok=True)
    pd.DataFrame(
        {
            "vec_id": np.arange(13, dtype=np.int64),
            "embedding": [v.tolist() for v in vecs],
            "label": np.zeros(13, dtype=np.int32),
        }
    ).to_parquet(src / "embeddings.parquet")
    got = [
        r["vec_id"]
        for r in registry()["sim_ann_pq"].build(spark, str(src)).collect()
    ]
    d2 = ((vecs[1:].astype(np.float64) - vecs[0].astype(np.float64)) ** 2).sum(axis=1)
    want = [int(i) + 1 for i in np.argsort(d2, kind="stable")][:3]  # ceil(0.25*12)
    assert got == want


def test_ann_index_prebuilt_identical_hyperplane(spark, sf_dir, tmp_path):
    """VERDICT r7 #4: probing a PREBUILT hyperplane signature index —
    including a parquet round-trip of the index, the artifact a
    deployment actually stores — must return exactly the
    derive-in-query `sim_ann_hyperplane` result."""
    from pyspark.sql import functions as F

    from odl_etl_spark.operators.ann_index import (
        hyperplane_index,
        hyperplane_probe,
    )
    from odl_etl_spark.queries import registry
    from odl_etl_spark.queries.similarity import hyperplane_params

    e = load_table(spark, sf_dir, "embeddings")
    hps, probe, probe_bucket = hyperplane_params(spark, sf_dir, 5)
    idx_path = str(tmp_path / "hp_index")
    hyperplane_index(e.where(F.col("vec_id") != 0), hps).write.parquet(idx_path)
    stored = spark.read.parquet(idx_path)
    got = [
        tuple(r)
        for r in hyperplane_probe(
            stored, e, probe, probe_bucket, planes=hps, radius=2, k=10
        ).collect()
    ]
    want = [
        tuple(r)
        for r in registry()["sim_ann_hyperplane"].build(spark, sf_dir).collect()
    ]
    assert got == want
    # Param-mismatch on the round-tripped stamp fails loudly.
    import pytest

    with pytest.raises(ValueError, match="n_planes=5"):
        hyperplane_probe(stored, e, probe, probe_bucket, planes=hps[:4])


def test_ann_index_prebuilt_identical_pq(spark, sf_dir, tmp_path):
    """VERDICT r7 #4: probing PREBUILT PQ artifacts (codebook + codes,
    parquet round-tripped) must return exactly the derive-in-query
    `sim_ann_pq` result — codebook training and encoding never run at
    query time."""
    from pyspark.sql import functions as F

    from odl_etl_spark.io.sources import cached_count, spread
    from odl_etl_spark.operators.ann_index import pq_index, pq_probe, pq_r_pool
    from odl_etl_spark.queries import registry
    from odl_etl_spark.queries.similarity import _probe_vec

    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    cent, codes = pq_index(spread(e))
    cent.write.parquet(str(tmp_path / "pq_codebook"))
    codes.write.parquet(str(tmp_path / "pq_codes"))
    cent_s = spark.read.parquet(str(tmp_path / "pq_codebook"))
    codes_s = spark.read.parquet(str(tmp_path / "pq_codes"))
    probe = _probe_vec(spark, sf_dir, 0)
    n_corpus = cached_count(spark, sf_dir, "embeddings") - 1
    got = [
        tuple(r)
        for r in pq_probe(
            codes_s, cent_s, e, probe, pq_r_pool(n_corpus), k=10
        ).collect()
    ]
    want = [
        tuple(r) for r in registry()["sim_ann_pq"].build(spark, sf_dir).collect()
    ]
    assert got == want


def test_ann_index_prebuilt_identical_ivf(spark, sf_dir, tmp_path):
    """VERDICT r7 #4 (IVF): searching a PREBUILT, parquet-round-tripped
    cell-assigned relation must return exactly the derive-in-query
    `sim_ann_ivf` result — assignment never recomputes at query time."""
    from pyspark.sql import functions as F

    from odl_etl_spark.operators.similarity import IvfIndex
    from odl_etl_spark.queries import registry
    from odl_etl_spark.queries.similarity import _probe_vec

    e = load_table(spark, sf_dir, "embeddings")
    probe = _probe_vec(spark, sf_dir, 0)
    index = IvfIndex.build(e, n_cells=8)
    d = str(tmp_path / "ivf")
    index.assign(e.where(F.col("vec_id") != 0)).write.partitionBy(
        "cell_id"
    ).parquet(d)
    stored = spark.read.parquet(d)
    got = [tuple(r) for r in index.search(stored, probe, k=10, nprobe=2).collect()]
    want = [
        tuple(r) for r in registry()["sim_ann_ivf"].build(spark, sf_dir).collect()
    ]
    assert got == want


def test_ivf_residual_explode_roundtrip(spark, sf_dir):
    """The engine's residual must equal the SAME double subtraction
    computed host-side: x - centroid[cell] bit-for-bit (that identity —
    not the non-IEEE (x-c)+c == x — is what oracle parity rests on;
    any drift here would silently skew the whole IVFADC codebook).
    The sub / init_code columns must follow pq_explode's contract."""
    from pyspark.sql import functions as F

    from odl_etl_spark.operators.ann_index import (
        PQ_CODES,
        PQ_SUB_DIM,
        ivf_residual_explode,
    )
    from odl_etl_spark.operators.similarity import IvfIndex

    e = load_table(spark, sf_dir, "embeddings")
    index = IvfIndex.build(e, n_cells=8)
    assigned = index.assign(e.where(F.col("vec_id") != 0))
    ex = ivf_residual_explode(assigned, index.centroids)
    cents = {cid: cv for cid, cv in index.centroids}
    rows = ex.collect()
    assert rows, "empty residual view"
    orig = {
        (r["vec_id"], i + 1): float(x)
        for r in assigned.select("vec_id", "embedding").collect()
        for i, x in enumerate(r["embedding"])
    }
    for r in rows[:500]:
        # Same-op identity: Python and the codegen'd expression perform
        # the identical IEEE double subtraction, so == is exact here.
        assert r["x"] == orig[(r["vec_id"], r["i"])] - cents[r["cell_id"]][r["i"] - 1]
        assert r["sub"] == (r["i"] - 1) // PQ_SUB_DIM
        assert r["init_code"] == r["vec_id"] % PQ_CODES


def test_ivfpq_prebuilt_identical(spark, sf_dir, tmp_path):
    """Probing PREBUILT, parquet-round-tripped IVFADC artifacts (the
    cell-partitioned codes relation — the stored layout whose partition
    pruning the probe's cell filter exercises — plus the codebook) must
    return exactly the derive-in-query `sim_ann_ivfpq` result."""
    from pyspark.sql import functions as F

    from odl_etl_spark.operators.ann_index import (
        ivf_residual_explode,
        ivfpq_probe,
        pq_codebook,
        pq_encode,
        pq_r_pool,
    )
    from odl_etl_spark.operators.similarity import IvfIndex
    from odl_etl_spark.queries import registry
    from odl_etl_spark.queries.similarity import _probe_vec

    e = load_table(spark, sf_dir, "embeddings")
    probe = _probe_vec(spark, sf_dir, 0)
    index = IvfIndex.build(e, n_cells=8)
    assigned = index.assign(e.where(F.col("vec_id") != 0))
    ex = ivf_residual_explode(assigned, index.centroids)
    cent = pq_codebook(ex)
    cent_dir = str(tmp_path / "ivfpq_cent")
    codes_dir = str(tmp_path / "ivfpq_codes")
    cent.write.parquet(cent_dir)
    pq_encode(ex, cent, extra_keys=("cell_id",)).write.partitionBy(
        "cell_id"
    ).parquet(codes_dir)
    stored_cent = spark.read.parquet(cent_dir)
    stored_codes = spark.read.parquet(codes_dir)
    cells = index.nearest_cells(probe, nprobe=2)
    n_probed = assigned.where(F.col("cell_id").isin(cells)).count()
    ev = e.select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    got = [
        tuple(r)
        for r in ivfpq_probe(
            stored_codes, stored_cent, ev, probe, index.centroids, cells,
            pq_r_pool(n_probed), k=10,
        ).collect()
    ]
    want = [
        tuple(r)
        for r in registry()["sim_ann_ivfpq"].build(spark, sf_dir).collect()
    ]
    assert got == want


def test_ivfpq_lut_refuses_duplicate_cells(spark, sf_dir):
    """A repeated probed cell would duplicate LUT rows and silently
    double-count ADC sums through the join — must refuse loudly."""
    import pytest
    from pyspark.sql import functions as F

    from odl_etl_spark.operators.ann_index import (
        ivf_residual_explode,
        ivfpq_lut,
        pq_codebook,
    )
    from odl_etl_spark.operators.similarity import IvfIndex
    from odl_etl_spark.queries.similarity import _probe_vec

    e = load_table(spark, sf_dir, "embeddings")
    index = IvfIndex.build(e, n_cells=8)
    cent = pq_codebook(
        ivf_residual_explode(
            index.assign(e.where(F.col("vec_id") != 0)), index.centroids
        )
    )
    probe = _probe_vec(spark, sf_dir, 0)
    with pytest.raises(ValueError, match="unique"):
        ivfpq_lut(cent, probe, index.centroids, [1, 1])
    # A probed cell outside the centroid set must refuse with the
    # module's loud-ValueError convention, not a bare KeyError
    # (ADVICE r15 #1).
    with pytest.raises(ValueError, match="not in the centroid set"):
        ivfpq_lut(cent, probe, index.centroids, [1, 99])
    # A probe/centroid dimension mismatch must refuse instead of letting
    # zip() silently truncate the residual (ADVICE r15 #1).
    with pytest.raises(ValueError, match="probe dim"):
        ivfpq_lut(cent, probe[:-1], index.centroids, [1])


def test_ivf_residual_explode_broadcast_fallback(spark, sf_dir, monkeypatch):
    """Above IVF_LITERAL_CELLS_MAX cells the residual view must switch
    from the nested centroid literal to a broadcast element-relation
    join (ADVICE r15 #4: literal size grows linearly with cell count and
    would bloat codegen at production cell counts) — with IDENTICAL
    output, since both paths perform the same IEEE double subtraction."""
    from pyspark.sql import functions as F

    from odl_etl_spark.operators import ann_index
    from odl_etl_spark.operators.similarity import IvfIndex

    e = load_table(spark, sf_dir, "embeddings")
    index = IvfIndex.build(e, n_cells=8)
    assigned = e.where(F.col("vec_id") != 0).limit(50)
    assigned = index.assign(assigned)
    lit_rows = sorted(
        tuple(r)
        for r in ann_index.ivf_residual_explode(
            assigned, index.centroids
        ).collect()
    )
    monkeypatch.setattr(ann_index, "IVF_LITERAL_CELLS_MAX", 4)
    fb = ann_index.ivf_residual_explode(assigned, index.centroids)
    # The fallback plan must actually carry the broadcast join.
    assert "BroadcastHashJoin" in fb._jdf.queryExecution().executedPlan().toString()
    assert sorted(tuple(r) for r in fb.collect()) == lit_rows


def test_ivfpq_index_append_equals_reencode_and_enforces_contracts(spark, sf_dir):
    """Append symmetry for the FOURTH index family (the IVFADC
    composition): appending a batch against the stored centroids +
    residual codebook must equal re-encoding the enlarged corpus
    against the same artifacts; an unstamped codebook, a drifted
    corpus, and mismatched centroids must all refuse."""
    import pytest
    from pyspark.sql import functions as F

    from odl_etl_spark.operators.ann_index import (
        ivf_residual_explode,
        ivfpq_index,
        ivfpq_index_append,
        pq_encode,
    )
    from odl_etl_spark.operators.materialize import materialize
    from odl_etl_spark.operators.similarity import IvfIndex

    e = load_table(spark, sf_dir, "embeddings")
    index = IvfIndex.build(e, n_cells=8)
    standing = e.where((F.col("vec_id") != 0) & (F.col("vec_id") % 5 != 4))
    arriving = e.where((F.col("vec_id") != 0) & (F.col("vec_id") % 5 == 4))
    stored_assigned = materialize(index.assign(standing))
    cent, codes = ivfpq_index(stored_assigned, index.centroids, train_stamp=True)

    new_assigned, new_codes = ivfpq_index_append(
        index, stored_assigned, cent, codes, arriving
    )
    got = sorted(
        tuple(r) for r in codes.unionByName(new_codes).collect()
    )
    want = sorted(
        tuple(r)
        for r in pq_encode(
            ivf_residual_explode(
                index.assign(e.where(F.col("vec_id") != 0)), index.centroids
            ),
            cent,
            extra_keys=("cell_id",),
        ).collect()
    )
    assert got == want

    # Unstamped codebook refuses (no pq_train_n -> staleness unenforceable).
    cent_unstamped, codes_u = ivfpq_index(stored_assigned, index.centroids)
    with pytest.raises(ValueError, match="training stamp"):
        ivfpq_index_append(index, stored_assigned, cent_unstamped, codes_u, arriving)

    # Drift past the bound refuses: train on the SMALL split, append the big one.
    small_assigned = materialize(index.assign(arriving))
    cent_small, codes_small = ivfpq_index(
        small_assigned, index.centroids, train_stamp=True
    )
    with pytest.raises(ValueError, match="staleness"):
        ivfpq_index_append(index, small_assigned, cent_small, codes_small, standing)

    # Mismatched centroids refuse via the coarse half's checksum stamp.
    other = IvfIndex.build(e.where(F.col("vec_id") >= 3), n_cells=8)
    with pytest.raises(ValueError, match="DIFFERENT centroid"):
        ivfpq_index_append(other, stored_assigned, cent, codes, arriving)


def test_hyperplane_probe_rejects_different_plane_values(spark, sf_dir, tmp_path):
    """Same plane COUNT but different plane VALUES must fail loudly at
    probe time (checksum stamp) — silently mismatched planes would
    bucket everything differently and return wrong neighbours."""
    import pytest
    from pyspark.sql import functions as F

    from odl_etl_spark.operators.ann_index import (
        hyperplane_index,
        hyperplane_probe,
    )
    from odl_etl_spark.queries.similarity import hyperplane_params

    e = load_table(spark, sf_dir, "embeddings")
    hps, probe, pb = hyperplane_params(spark, sf_dir, 5)
    d = str(tmp_path / "idx")
    hyperplane_index(e.where(F.col("vec_id") != 0), hps).write.parquet(d)
    stored = spark.read.parquet(d)
    other = [[v + 0.25 for v in hp] for hp in hps]  # same count, other values
    with pytest.raises(ValueError, match="DIFFERENT plane values"):
        hyperplane_probe(stored, e, probe, pb, planes=other)
    # The true planes still pass.
    assert hyperplane_probe(stored, e, probe, pb, planes=hps, k=3).count() == 3


def test_hyperplane_index_append_equals_rebuild(spark, sf_dir, tmp_path):
    """VERDICT r8 #4: append-encoding a daily batch against the stamped
    plane set, unioned with the stored rows, must equal a full rebuild
    bit-for-bit (planes are fixed parameters) — including through the
    bucket-partitioned parquet layout a deployment appends into. An
    unstamped or param-mismatched store refuses the append."""
    import pytest
    from pyspark.sql import functions as F

    from odl_etl_spark.operators.ann_index import (
        hyperplane_index,
        hyperplane_index_append,
    )
    from odl_etl_spark.queries.similarity import hyperplane_params

    e = load_table(spark, sf_dir, "embeddings")
    hps, _, _ = hyperplane_params(spark, sf_dir, 5)
    standing = e.where((F.col("vec_id") != 0) & (F.col("vec_id") % 5 != 4))
    arriving = e.where((F.col("vec_id") != 0) & (F.col("vec_id") % 5 == 4))
    d = str(tmp_path / "hp_store")
    hyperplane_index(standing, hps).write.partitionBy("bucket").parquet(d)
    stored = spark.read.parquet(d)
    # Append through the stored layout (mode=append, same partitioning).
    hyperplane_index_append(stored, arriving, hps).write.mode(
        "append"
    ).partitionBy("bucket").parquet(d)
    got = {
        (r["_id"], r["bucket"]) for r in spark.read.parquet(d).collect()
    }
    want = {
        (r["_id"], r["bucket"])
        for r in hyperplane_index(
            e.where(F.col("vec_id") != 0), hps
        ).collect()
    }
    assert got == want
    # Param-mismatch and unstamped stores refuse.
    with pytest.raises(ValueError, match="n_planes=5"):
        hyperplane_index_append(stored, arriving, hps[:4])
    other = [[v + 0.25 for v in hp] for hp in hps]
    with pytest.raises(ValueError, match="DIFFERENT plane values"):
        hyperplane_index_append(stored, arriving, other)
    unstamped = stored.select(
        F.col("_id").cast("long").alias("_id"), "bucket"
    )
    with pytest.raises(ValueError, match="unstamped"):
        hyperplane_index_append(unstamped, arriving, hps)


def test_ivf_index_append_equals_rebuild(spark, sf_dir, tmp_path):
    """VERDICT r8 #4 (IVF, completing the three-family symmetry):
    appending newly arrived vectors to a stored cell assignment must
    equal the full rebuild (centroids are fixed parameters), including
    through the cell_id-partitioned parquet layout — where the partition
    column loses its metadata and the vector-column stamp is the one
    that must carry the centroid checksum. Mismatched or unstamped
    stores refuse."""
    import pytest
    from pyspark.sql import functions as F

    from odl_etl_spark.operators.similarity import IvfIndex

    e = load_table(spark, sf_dir, "embeddings")
    body = e.where(F.col("vec_id") != 0)
    index = IvfIndex.build(e, n_cells=8)
    standing = body.where(F.col("vec_id") % 5 != 4)
    arriving = body.where(F.col("vec_id") % 5 == 4)
    d = str(tmp_path / "ivf_store")
    index.assign(standing).write.partitionBy("cell_id").parquet(d)
    stored = spark.read.parquet(d)
    index.append(stored, arriving).write.mode("append").partitionBy(
        "cell_id"
    ).parquet(d)
    got = {
        (r["vec_id"], r["cell_id"]) for r in spark.read.parquet(d).collect()
    }
    want = {(r["vec_id"], r["cell_id"]) for r in index.assign(body).collect()}
    assert got == want
    # Different centroids (same count) refuse; unstamped refuses.
    other = IvfIndex([(cid, [v + 0.25 for v in cv]) for cid, cv in index.centroids])
    with pytest.raises(ValueError, match="DIFFERENT centroid"):
        other.append(stored, arriving)
    shorter = IvfIndex(index.centroids[:4])
    with pytest.raises(ValueError, match="8 cells"):
        shorter.append(stored, arriving)
    unstamped = stored.select(
        F.col("vec_id").cast("long").alias("vec_id"),
        F.col("embedding").cast("array<float>").alias("embedding"),
        "cell_id",
    )
    with pytest.raises(ValueError, match="unstamped"):
        index.append(unstamped, arriving)
    # ADVICE r9 #2: a count-only stamp (ivf_cells but no ivf_checksum)
    # refuses too — the count alone can't distinguish same-k centroid
    # sets with different values, which is exactly the silent
    # mis-bucketing the stamp exists to prevent.
    count_only = stored.select(
        "vec_id",
        F.col("embedding").alias(
            "embedding", metadata={"ivf_cells": len(index.centroids)}
        ),
        "cell_id",
    )
    with pytest.raises(ValueError, match="no\\s+ivf_checksum"):
        index.append(count_only, arriving)


def test_pq_index_append_equals_reencode_and_enforces_staleness(
    spark, sf_dir, tmp_path
):
    """VERDICT r8 #4 (PQ): appending encodes ONLY the new vectors
    against the STORED codebook, and must equal re-encoding the enlarged
    corpus against that same codebook (pq_encode is deterministic given
    a codebook). Appending past the stamped training size's drift
    threshold refuses — the codebook no longer describes the corpus —
    as does appending to a codebook without the training stamp."""
    import pytest
    from pyspark.sql import functions as F

    from odl_etl_spark.operators.ann_index import (
        pq_index,
        pq_index_append,
    )

    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    standing = e.where((F.col("vec_id") == 0) | (F.col("vec_id") % 5 != 4))
    arriving = e.where((F.col("vec_id") != 0) & (F.col("vec_id") % 5 == 4))
    cent, codes = pq_index(standing, train_stamp=True)
    # Parquet round-trip: the staleness contract must survive the store.
    cent.write.parquet(str(tmp_path / "cb"))
    codes.write.parquet(str(tmp_path / "codes"))
    cent_s = spark.read.parquet(str(tmp_path / "cb"))
    codes_s = spark.read.parquet(str(tmp_path / "codes"))
    appended = pq_index_append(cent_s, codes_s, arriving)
    got = {
        (r["vec_id"], r["sub"], r["code"])
        for r in codes_s.unionByName(appended).collect()
    }
    # Re-encode the enlarged corpus against the SAME (stored) codebook.
    from odl_etl_spark.operators.ann_index import pq_encode, pq_explode

    want = {
        (r["vec_id"], r["sub"], r["code"])
        for r in pq_encode(pq_explode(e), cent_s).collect()
    }
    assert got == want
    # Staleness: an append that would blow past the drift threshold
    # refuses with the retrain instruction.
    replicas = e.where(F.col("vec_id") != 0).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"), "v"
    )
    big_batch = arriving.unionByName(replicas)
    with pytest.raises(ValueError, match="staleness"):
        pq_index_append(cent_s, codes_s, big_batch)
    # No training stamp -> refuse (staleness unenforceable).
    cent_plain, codes_plain = pq_index(standing)
    with pytest.raises(ValueError, match="pq_train_n"):
        pq_index_append(cent_plain, codes_plain, arriving)
    # ADVICE r11 #4: caller-supplied counts are trusted but never
    # accepted negative — a corrupt sidecar value must fail loudly.
    with pytest.raises(ValueError, match="n_existing"):
        pq_index_append(cent_s, codes_s, arriving, n_existing=-1, n_new=3)
    with pytest.raises(ValueError, match="n_new"):
        pq_index_append(cent_s, codes_s, arriving, n_existing=3, n_new=-1)


def test_hyperplane_stamp_survives_bucket_partitioned_layout(spark, sf_dir, tmp_path):
    """ADVICE r8 #1: the RECOMMENDED storage layout is
    partitionBy('bucket'), but a partition column's schema is rebuilt
    from directory names on read and its field metadata is dropped — so
    the param stamp must also live on the `_id` data column, and the
    probe's fail-loud validation must still fire on that layout."""
    import pytest
    from pyspark.sql import functions as F

    from odl_etl_spark.operators.ann_index import (
        hyperplane_index,
        hyperplane_probe,
    )
    from odl_etl_spark.queries import registry
    from odl_etl_spark.queries.similarity import hyperplane_params

    e = load_table(spark, sf_dir, "embeddings")
    hps, probe, pb = hyperplane_params(spark, sf_dir, 5)
    d = str(tmp_path / "hp_bucketed")
    hyperplane_index(e.where(F.col("vec_id") != 0), hps).write.partitionBy(
        "bucket"
    ).parquet(d)
    stored = spark.read.parquet(d)
    # The partition column really does lose its metadata (the failure
    # mode this test guards), but `_id` keeps the stamp.
    meta = {f.name: dict(f.metadata or {}) for f in stored.schema.fields}
    assert "planes_sum" not in meta.get("bucket", {})
    assert "planes_sum" in meta["_id"] and "n_planes" in meta["_id"]
    # Fail-loud validation fires on the partitioned layout...
    with pytest.raises(ValueError, match="n_planes=5"):
        hyperplane_probe(stored, e, probe, pb, planes=hps[:4])
    other = [[v + 0.25 for v in hp] for hp in hps]
    with pytest.raises(ValueError, match="DIFFERENT plane values"):
        hyperplane_probe(stored, e, probe, pb, planes=other)
    # ...and a correct probe is identical to the derive-in-query key.
    got = [
        tuple(r)
        for r in hyperplane_probe(
            stored, e, probe, pb, planes=hps, radius=2, k=10
        ).collect()
    ]
    want = [
        tuple(r)
        for r in registry()["sim_ann_hyperplane"].build(spark, sf_dir).collect()
    ]
    assert got == want


def _cc_set(df):
    return {(r["node"], r["component"]) for r in df.collect()}


def test_incremental_components_bridge_and_fresh_nodes(spark):
    """connected_components_incremental: a new edge whose endpoint is a
    first-seen node can transitively merge two standing components, and
    isolated-but-new nodes get their own labels."""
    from odl_etl_spark.operators.components import (
        connected_components,
        connected_components_incremental,
    )

    old = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "src bigint, dst bigint"
    )
    labels = connected_components(old)
    assert _cc_set(labels) == {(1, 1), (2, 1), (3, 1), (10, 10), (11, 10)}
    # New node 20 bridges component 1 and component 10; node 30 arrives
    # attached only to 31 (both fresh).
    new = spark.createDataFrame(
        [(3, 20), (20, 10), (30, 31)], "src bigint, dst bigint"
    )
    got = _cc_set(connected_components_incremental(labels, new))
    want = _cc_set(
        connected_components(old.unionByName(new))
    )
    assert got == want
    assert (20, 1) in got and (30, 30) in got and (31, 30) in got


def test_incremental_components_same_component_edge_is_noop(spark):
    from odl_etl_spark.operators.components import (
        connected_components,
        connected_components_incremental,
    )

    old = spark.createDataFrame([(1, 2), (2, 3)], "src bigint, dst bigint")
    labels = connected_components(old)
    new = spark.createDataFrame([(1, 3)], "src bigint, dst bigint")
    assert _cc_set(connected_components_incremental(labels, new)) == _cc_set(
        labels
    )
