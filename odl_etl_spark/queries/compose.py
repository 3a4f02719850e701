"""Composition specs: multi-operator pipelines checked as single keys.

Round-7 additions (VERDICT r6 Next-round #4/#5): the engine's flagship
multi-stage claims — "ANN candidate generation composes with MaxSim
re-ranking", "streaming ingest composes with incremental dedup", and
"the curation funnel is the operators composed end-to-end" — promoted
from docstring prose / pytest-only coverage to driver-checkable,
DuckDB-oracled registry keys.

Derivation: the reference's pipelines are fixed linear compositions
(mitodl/odl-etl mitx_etl.py main(): extract → transform → upload →
notify); these keys are the engine-tier analogue — each stage is an
already-oracled operator, and the composition itself is what the
differential check proves.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from odl_etl_spark.functions.numeric import (
    EVENTS_VALUE_BOUND,
    ORDERS_TOTALPRICE_BOUND,
    roundn,
)
from odl_etl_spark.functions.vectors import vec_lit
from odl_etl_spark.io.sinks import session_sink_dir
from odl_etl_spark.io.sources import load_table, money_acc
from odl_etl_spark.operators import dedup as D
from odl_etl_spark.queries.base import spec
from odl_etl_spark.queries.similarity import (
    _DOT,
    _probe_vec,
    hyperplane_candidates,
)
from odl_etl_spark.queries.text import _CLUSTER_ORACLE_SQL, _TOKS_SQL


def _maxsim_score_sql(n_tok: int = 8, dim: int = 8) -> str:
    """MaxSim score expression over (e.embedding, p.p) — identical
    accumulation order to queries/similarity._maxsim_oracle (left-fold
    dims ascending, GREATEST over doc tokens, '+'-chain query tokens)."""

    def dot(i: int, j: int) -> str:
        return "(" + " + ".join(
            f"CAST(e.embedding[{j * dim + t + 1}] AS DOUBLE)"
            f" * CAST(p.p[{i * dim + t + 1}] AS DOUBLE)"
            for t in range(dim)
        ) + ")"

    per_tok = [
        "GREATEST(" + ", ".join(dot(i, j) for j in range(n_tok)) + ")"
        for i in range(n_tok)
    ]
    return " + ".join(per_tok)


@spec(
    "sim_rerank_pipeline",
    f"""
    WITH hp AS (
      SELECT ROW_NUMBER() OVER (ORDER BY vec_id ASC) - 1 AS h,
             embedding AS hvec
      FROM embeddings WHERE vec_id BETWEEN 1 AND 5
    ), sig AS (
      SELECT e.vec_id, e.embedding,
             SUM(CASE WHEN ({_DOT.format(a='e.embedding', b='hp.hvec')}) >= 0
                      THEN CAST(POW(2, hp.h) AS BIGINT) ELSE 0 END) AS bucket
      FROM embeddings e CROSS JOIN hp
      GROUP BY e.vec_id, e.embedding
    ), psig AS (SELECT bucket FROM sig WHERE vec_id = 0),
    p AS (SELECT embedding AS p FROM embeddings WHERE vec_id = 0),
    cand AS (
      SELECT s.vec_id, s.embedding FROM sig s, psig
      WHERE bit_count(xor(s.bucket, psig.bucket)) <= 3 AND s.vec_id <> 0
    )
    SELECT e.vec_id,
           ROUND(({_maxsim_score_sql()}) * 1000000) / 1000000 AS maxsim
    FROM cand e, p
    ORDER BY maxsim DESC, vec_id ASC LIMIT 10
    """,
    doc=(
        "Two-tier retrieval pipeline: hyperplane-LSH candidate "
        "generation (5 sign-bit planes, Hamming<=3 multi-probe — the "
        "candidate stage of `sim_ann_hyperplane` with a WIDER budget, "
        "shared via hyperplane_candidates()) feeding a ColBERT-style "
        "MaxSim re-rank (the exact scorer of `sim_maxsim`) over ONLY "
        "the candidates. This is the 'coarse-quantize then "
        "late-interaction re-rank' composition both component "
        "docstrings promise at 100 TB: the LSH tier prunes the corpus "
        "scan to nprobe buckets, and the expensive 64-dot MaxSim "
        "expression runs on the surviving candidates — still one "
        "codegen'd projection + TakeOrdered, zero corpus shuffles, no "
        "intermediate materialization. The oracle composes the two "
        "component oracles verbatim, so the differential check proves "
        "the STAGES COMPOSE, not just that each works alone. The LSH "
        "tier indexes COSINE on the pooled vector while the re-ranker "
        "scores late-interaction MaxSim (the standard two-tower -> "
        "late-interaction retrieval gap), so the candidate budget must "
        "be wider than `sim_ann_hyperplane`'s own H<=2: the round-8 "
        "sweep (tools/rerank_sweep.py, table in SCALING.md) measured "
        "recall@10 vs exact MaxSim of 0.6/0.6/0.5 tri-scale at H<=2 "
        "(cand frac ~0.5) vs 0.9/0.8/0.9 at H<=3 (~0.83), while "
        "6-plane/H<=3 (0.9/0.7/0.6) and 4-plane/H<=2 (0.7 flat) were "
        "measured and rejected — on the near-orthogonal uniform "
        "fixture, LSH's worst case; clustered production data prunes "
        "far more at the same radius. Floor-pinned at 0.7 "
        "(tests/test_properties.py)."
    ),
)
def sim_rerank_pipeline(spark, sf_dir, n_tok: int = 8, dim: int = 8):
    cand, _ = hyperplane_candidates(spark, sf_dir, n_planes=5, radius=3)
    probe = _probe_vec(spark, sf_dir, 0)
    emb = F.col("embedding")
    parr = vec_lit(probe)
    toks = F.sequence(F.lit(0), F.lit(n_tok - 1))
    dims = F.sequence(F.lit(0), F.lit(dim - 1))
    score = F.aggregate(
        toks,
        F.lit(0.0),
        lambda acc, i: acc
        + F.array_max(
            F.transform(
                toks,
                lambda j: F.aggregate(
                    dims,
                    F.lit(0.0),
                    lambda a2, t: a2
                    + F.element_at(emb, (j * dim + t + 1).cast("int")).cast("double")
                    * F.element_at(parr, (i * dim + t + 1).cast("int")),
                ),
            )
        ),
    )
    return (
        cand.select("vec_id", roundn(score, 6).alias("maxsim"))
        .orderBy(F.col("maxsim").desc(), F.col("vec_id").asc())
        .limit(10)
    )


_N_MICRO_BATCHES = 3

_STREAM_INGEST_ORACLE = f"""
    WITH b AS (
      SELECT doc_id, text,
             CASE WHEN source = 'src1' THEN doc_id % {_N_MICRO_BATCHES} + 1
                  ELSE 0 END AS batch
      FROM documents
    ), toks AS (
      SELECT doc_id, batch, {_TOKS_SQL} AS ts FROM b
    ), idx AS (
      SELECT doc_id, batch, ts,
             UNNEST(range(1, GREATEST(len(ts) - 1, 1))) AS i FROM toks
    ), sh AS (
      SELECT DISTINCT doc_id, batch,
             ts[i] || ' ' || ts[i + 1] || ' ' || ts[i + 2] AS s
      FROM idx WHERE i + 2 <= len(ts)
    ), cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id)
    SELECT a.batch AS batch, a.doc_id AS new_id, b.doc_id AS ex_id,
           ROUND(COUNT(*) * 1.0 / (MIN(ca.n) + MIN(cb.n) - COUNT(*)) * 10000)
             / 10000 AS jaccard
    FROM sh a JOIN sh b ON a.s = b.s AND a.batch > b.batch
    JOIN cnt ca ON ca.doc_id = a.doc_id
    JOIN cnt cb ON cb.doc_id = b.doc_id
    GROUP BY a.batch, a.doc_id, b.doc_id
    HAVING COUNT(*) * 1.0 / (MIN(ca.n) + MIN(cb.n) - COUNT(*)) >= 0.8
"""


@spec(
    "dedup_stream_ingest",
    _STREAM_INGEST_ORACLE,
    doc=(
        "Streaming-ingest + incremental-dedup composed end-to-end: the "
        "day's arrivals (source='src1') are replayed as "
        f"{_N_MICRO_BATCHES} ordered micro-batches (doc_id % "
        f"{_N_MICRO_BATCHES} — deterministic, so the oracle can "
        "replicate the arrival order), and each micro-batch is "
        "MinHash-LSH probed (operators/dedup.minhash_lsh_probe, the "
        "same banded index family as `dedup_incremental`) against "
        "everything indexed BEFORE it: the standing corpus plus all "
        "earlier micro-batches. This is the foreachBatch posture of "
        "streaming/cdc.py applied to the dedup tier — the band index "
        "(minhash_band_index, materialized per commit) grows "
        "monotonically as batches land: the corpus is banded once, "
        "each batch is banded once on arrival, no raw text is ever "
        "re-shingled for a later probe, per-batch cost scales "
        "with the batch (never the corpus), and the emitted pair set "
        "is exactly {(new, previously-indexed)} with batch provenance. "
        "Intra-batch duplicates are BY CONTRACT the in-batch "
        "`dedup_near` job's concern (simultaneous arrivals have no "
        "ingest order), so the key checks precisely the cross-batch "
        "probe path. Oracled against exact cross-batch 3-gram Jaccard "
        "with the ingest-order predicate (a.batch > b.batch); recall "
        "argument identical to dedup_near (miss < 1e-6 at j>=0.8, "
        "precision exact by verification)."
    ),
)
def dedup_stream_ingest(spark, sf_dir):
    from odl_etl_spark.operators.materialize import materialize

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text", "source")
    indexed = d.where(F.col("source") != "src1")
    # The standing corpus is banded ONCE and committed; each micro-batch
    # is banded once on arrival and its index rows appended — raw text
    # is never re-shingled for a later batch's probe. materialize() is
    # the local stand-in for the index table a deployment persists.
    index = materialize(D.minhash_band_index(indexed, "doc_id", "text", n=3))
    out = None
    for bi in range(1, _N_MICRO_BATCHES + 1):
        batch = d.where(
            (F.col("source") == "src1") & (F.col("doc_id") % _N_MICRO_BATCHES == bi - 1)
        )
        b_index = materialize(D.minhash_band_index(batch, "doc_id", "text", n=3))
        pairs = D.minhash_lsh_probe(
            batch,
            indexed,
            "doc_id",
            "text",
            n=3,
            threshold=0.8,
            new_index=b_index,
            existing_index=index,
        ).select(
            F.lit(bi).cast("bigint").alias("batch"),
            "new_id",
            "ex_id",
            roundn(F.col("jaccard"), 4).alias("jaccard"),
        )
        out = pairs if out is None else out.unionByName(pairs)
        indexed = indexed.unionByName(batch)
        index = index.unionByName(b_index)
    return out


_CURATION_STOPS = "'the', 'a', 'of', 'and', 'is', 'in', 'to'"


def _funnel_lang_hits(lang: str) -> str:
    from odl_etl_spark.functions.text import LANG_PROFILES

    words = ", ".join(f"'{w}'" for w in LANG_PROFILES[lang])
    return f"len(list_filter(toks, x -> x IN ({words})))"


_FUNNEL_ORACLE = f"""
    WITH RECURSIVE d AS (
      SELECT doc_id, text FROM documents WHERE source <> 'src0'
    ), t AS (
      SELECT doc_id, text, {_TOKS_SQL} AS toks FROM d
    ), g AS (
      SELECT doc_id, text,
        COALESCE(
          len(toks) >= 20
          AND list_aggregate(list_transform(toks,
                x -> CAST(length(x) AS DOUBLE)), 'sum')
              / GREATEST(len(toks), 1) <= 12
          AND len(list_filter(toks, x -> x IN ({_CURATION_STOPS}))) * 1.0
              / GREATEST(len(toks), 1) >= 0.003, FALSE) AS q,
        COALESCE((
          SELECT CASE
            WHEN GREATEST(s_de, s_en, s_es, s_fr, s_zh) = 0 THEN 'und'
            WHEN s_de = GREATEST(s_de, s_en, s_es, s_fr, s_zh) THEN 'de'
            WHEN s_en = GREATEST(s_de, s_en, s_es, s_fr, s_zh) THEN 'en'
            WHEN s_es = GREATEST(s_de, s_en, s_es, s_fr, s_zh) THEN 'es'
            WHEN s_fr = GREATEST(s_de, s_en, s_es, s_fr, s_zh) THEN 'fr'
            ELSE 'zh' END
          FROM (SELECT {_funnel_lang_hits('de')} AS s_de,
                       {_funnel_lang_hits('en')} AS s_en,
                       {_funnel_lang_hits('es')} AS s_es,
                       {_funnel_lang_hits('fr')} AS s_fr,
                       {_funnel_lang_hits('zh')} AS s_zh) z
        ) = 'en', FALSE) AS l
      FROM t
    ), surv AS (
      SELECT doc_id, text FROM g WHERE q AND l
    ), ek AS (
      SELECT doc_id, text FROM (
        SELECT doc_id, text,
               ROW_NUMBER() OVER (PARTITION BY lower(trim(text))
                                  ORDER BY doc_id) AS rn
        FROM surv) z WHERE rn = 1
    ), etoks AS (
      SELECT doc_id, {_TOKS_SQL} AS ts FROM ek
    ), eidx AS (
      SELECT doc_id, ts, UNNEST(range(1, GREATEST(len(ts) - 1, 1))) AS i
      FROM etoks
    ), esh AS (
      SELECT DISTINCT doc_id, ts[i] || ' ' || ts[i + 1] || ' ' || ts[i + 2] AS s
      FROM eidx WHERE i + 2 <= len(ts)
    ), ecnt AS (SELECT doc_id, COUNT(*) AS n FROM esh GROUP BY doc_id),
    pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM esh a JOIN esh b ON a.s = b.s AND a.doc_id < b.doc_id
      JOIN ecnt ca ON ca.doc_id = a.doc_id
      JOIN ecnt cb ON cb.doc_id = b.doc_id
      GROUP BY a.doc_id, b.doc_id
      HAVING COUNT(*) * 1.0 / (MIN(ca.n) + MIN(cb.n) - COUNT(*)) >= 0.8
    ), sym AS (
      SELECT id_a AS u, id_b AS v FROM pairs
      UNION ALL SELECT id_b, id_a FROM pairs
    ), reach (n, m) AS (
      SELECT doc_id, doc_id FROM ek
      UNION
      SELECT e.v, r.m FROM reach r JOIN sym e ON e.u = r.n
    ), comp AS (
      SELECT n AS doc_id, MIN(m) AS component FROM reach GROUP BY n
    ), nk AS (
      SELECT ek.doc_id FROM ek JOIN comp ON comp.doc_id = ek.doc_id
      WHERE comp.component = ek.doc_id
    ), btoks AS (
      SELECT {_TOKS_SQL} AS ts FROM documents WHERE source = 'src0'
    ), bidx AS (
      SELECT ts, UNNEST(range(1, GREATEST(len(ts) - 1, 1))) AS i FROM btoks
    ), bsh AS (
      SELECT DISTINCT ts[i] || ' ' || ts[i + 1] || ' ' || ts[i + 2] AS s
      FROM bidx WHERE i + 2 <= len(ts)
    ), contam AS (
      SELECT DISTINCT e.doc_id FROM esh e
      WHERE e.doc_id IN (SELECT doc_id FROM nk)
        AND e.s IN (SELECT s FROM bsh)
    )
    SELECT CASE
        WHEN NOT q THEN 'quality'
        WHEN NOT l THEN 'language'
        WHEN doc_id NOT IN (SELECT doc_id FROM ek) THEN 'exact_dup'
        WHEN doc_id NOT IN (SELECT doc_id FROM nk) THEN 'near_dup'
        WHEN doc_id IN (SELECT doc_id FROM contam) THEN 'contaminated'
        ELSE 'kept' END AS stage,
      COUNT(*) AS n_docs
    FROM g GROUP BY stage
"""


@spec(
    "corpus_curation_funnel",
    _FUNNEL_ORACLE,
    doc=(
        "The full curation DAG (pipelines/curation.curate_corpus) as a "
        "driver-checkable key: quality gate -> language gate -> exact "
        "dedup (min doc_id per normalized text) -> MinHash-LSH "
        "near-dedup with connected-components keep-one -> 3-shingle "
        "decontamination against the held-out source, emitting the "
        "single-pass attrition table (stage, n_docs) where stage is "
        "the FIRST gate each document failed. The oracle recomputes "
        "every stage in SQL — gates from the text_quality/text_langid "
        "oracle expressions, exact-Jaccard pairs standing in for LSH "
        "(dedup_near's recall argument), components via recursive CTE "
        "(dedup_cluster's oracle pattern) — so the one differential "
        "check covers the composed lineage end-to-end, closing VERDICT "
        "r6 #5 (the funnel was pytest-only). The lake write stage is "
        "exercised by the pipeline test, not here (out_path=None); at "
        "100 TB the funnel's posture is unchanged from the component "
        "keys: per-row gates are codegen'd filters, dedup shuffles "
        "only survivors' hashes, accounting is ONE aggregation over a "
        "reject_reason column instead of per-stage count() passes."
    ),
)
def corpus_curation_funnel(spark, sf_dir):
    from odl_etl_spark.pipelines.curation import curate_corpus

    _, funnel = curate_corpus(spark, sf_dir, out_path=None)
    return funnel


@spec(
    "dedup_cluster_incremental",
    _CLUSTER_ORACLE_SQL,
    doc=(
        "Online cluster maintenance checked against the batch closure: "
        "the near-dup edge set (exact 3-gram Jaccard >= 0.5, the "
        "dedup_cluster edges) is replayed as 3 ordered batches "
        "((id_a + id_b) % 3 — deterministic, arbitrary: the result must "
        "be split-invariant), the first batch is closed with "
        "connected_components, and each later batch is folded into the "
        "standing labeling via connected_components_incremental "
        "(operators/components.connected_components_incremental — the "
        "contraction step "
        "streaming/ingest_clusters.fold_pairs_into_clusters delegates "
        "to; the closure runs over the CONTRACTED batch-sized graph "
        "only, never the full graph, and on the driver when the batch's "
        "edges fit under the broadcast threshold). Oracle = the SAME full-"
        "closure recursive CTE as dedup_cluster: incremental ≡ rebuild "
        "IS the claim, so the hash equality against the batch oracle is "
        "the incremental-correctness proof (the dedup_stream_ingest "
        "precedent). Output identical in shape to dedup_cluster: "
        "cluster_id = min reachable doc_id, keep = 1 on the "
        "representative, singletons keep themselves."
    ),
)
def dedup_cluster_incremental(spark, sf_dir):
    from odl_etl_spark.operators.components import (
        connected_components,
        connected_components_incremental,
    )
    from odl_etl_spark.operators.materialize import materialize
    from odl_etl_spark.queries.text import _JACCARD_MAX_DF

    d = load_table(spark, sf_dir, "documents")
    # Mine the pair relation ONCE; the batches are slices of it. The
    # materialize is load-bearing: without it each fold would re-run
    # the shingle/postings pipeline for its slice.
    edges = materialize(
        D.jaccard_pairs(
            d, "doc_id", "text", n=3, threshold=0.5, max_df=_JACCARD_MAX_DF
        ).select("id_a", "id_b")
    )
    n_batches = 3
    batch_of = F.pmod(F.col("id_a") + F.col("id_b"), F.lit(n_batches))
    labels = connected_components(edges.where(batch_of == 0), "id_a", "id_b")
    for bi in range(1, n_batches):
        # Each fold scans the standing labels twice (endpoint resolve,
        # component remap); materialize keeps the lineage flat across
        # folds instead of nesting every earlier fold's plan.
        labels = materialize(
            connected_components_incremental(
                labels, edges.where(batch_of == bi), "id_a", "id_b"
            )
        )
    return (
        d.select("doc_id")
        .join(labels, d["doc_id"] == labels["node"], "left")
        .select(
            "doc_id",
            F.coalesce("component", "doc_id").alias("cluster_id"),
            (F.coalesce("component", "doc_id") == F.col("doc_id"))
            .cast("int")
            .alias("keep"),
        )
    )


def era_split(o, cut):
    """Partition ``o`` into (era1, era2) on ``o_orderdate < cut``.

    NULL orderdates belong to era 2, matching the oracle CASE's ELSE
    branch (ADVICE r13 #1). The two predicates are an exact partition:
    every row lands in exactly one era regardless of NULLs — pinned by
    tests/test_compose.py::test_era_split_partitions_nulls_to_era2.
    """
    era1 = o.where(F.col("o_orderdate") < cut)
    era2 = o.where(F.col("o_orderdate").isNull() | (F.col("o_orderdate") >= cut))
    return era1, era2




@spec(
    "scan_schema_evolution",
    """
    WITH evolved AS (
      SELECT CASE WHEN o_orderdate < TIMESTAMP '1996-01-01' THEN 1 ELSE 2 END
               AS era,
             o_totalprice,
             CASE WHEN o_orderdate < TIMESTAMP '1996-01-01' THEN NULL
                  ELSE o_orderpriority END AS o_orderpriority
      FROM orders
    )
    SELECT era, COUNT(*) AS n,
           COUNT(o_orderpriority) AS n_with_priority,
           SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) / 1e2 AS total
    FROM evolved GROUP BY era
    """,
    doc=(
        "Schema-evolution scan, driver-oracled (round-12 addition; "
        "VERDICT r11 #6 named this the one remaining unit-only "
        "capability): the Glue-crawler reinference shape "
        "(manage_crawler_targets.py:8-9 — the crawler re-infers as new "
        "prefixes land, so NEWER partitions carry ADDED columns) as a "
        "Spark-native mergeSchema scan over a partition-discovered "
        "layout. The key writes two eras of the orders table — era 1 "
        "without o_orderpriority, era 2 with it — reads them back "
        "through io/sources.read_evolving (footer-merge only: one "
        "metadata pass, no data rewrite), and aggregates per era; "
        "COUNT(o_orderpriority) proves old rows surface NULL for the "
        "late column while new rows carry it. Money total rides "
        "sum_cents (the round-12 convention). At 100 TB: schema "
        "evolution stays a read option — zero rewrite of standing "
        "partitions when a column lands, exactly the property that "
        "makes crawler-style ingestion viable on a lake."
    ),
)
def scan_schema_evolution(spark, sf_dir):
    import os
    import shutil

    from odl_etl_spark.functions.numeric import sum_cents
    from odl_etl_spark.io.sources import read_evolving

    # Session-unique sink dir (io/sinks.session_sink_dir rationale —
    # a fixed path raced concurrent sessions, observed round 13).
    out = session_sink_dir(spark, "orders_evolving")
    shutil.rmtree(out, ignore_errors=True)
    o = load_table(spark, sf_dir, "orders")
    cut = F.lit("1996-01-01").cast("timestamp")
    era1, era2 = era_split(o, cut)
    (
        era1.select("o_orderkey", "o_totalprice")
        .write.mode("overwrite")
        .parquet(os.path.join(out, "era=1"))
    )
    (
        era2.select("o_orderkey", "o_totalprice", "o_orderpriority")
        .write.mode("overwrite")
        .parquet(os.path.join(out, "era=2"))
    )
    return (
        read_evolving(spark, out)
        .groupBy("era")
        .agg(
            F.count("*").alias("n"),
            F.count("o_orderpriority").alias("n_with_priority"),
            sum_cents(
                F.col("o_totalprice"),
                acc=money_acc(
                    spark, sf_dir, "orders", ORDERS_TOTALPRICE_BOUND, 10**2,
                    what="scan_schema_evolution total",
                ),
            ).alias("total"),
        )
    )




@spec(
    "scan_schema_widening",
    """
    WITH evolved AS (
      SELECT CASE WHEN o_orderdate < TIMESTAMP '1996-01-01' THEN 1 ELSE 2 END
               AS era,
             CAST(o_custkey AS BIGINT) AS cust,
             o_totalprice
      FROM orders
    )
    SELECT era, COUNT(*) AS n,
           CAST(SUM(cust) AS BIGINT) AS sum_cust,
           SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) / 1e2 AS total
    FROM evolved GROUP BY era
    """,
    doc=(
        "Type-widening schema evolution, driver-oracled (round-13 "
        "addition; VERDICT r12 #6a named it the other half of crawler "
        "reinference — manage_crawler_targets.py:8-9 re-infers per "
        "prefix, so a key that outgrew int32 simply starts arriving as "
        "int64 while scan_schema_evolution covers the added-column "
        "half). The key writes two eras of orders — era 1 with "
        "o_custkey as INT (guarded: refuses loudly if the fixture's "
        "custkeys no longer fit int32 rather than wrapping them), era "
        "2 as BIGINT — and reads them back through io/sources."
        "read_widened: one footer-only schema per era, folded through "
        "the lossless numeric widening lattice (mergeSchema hard-fails "
        "on this layout), then ONE partition-discovered vectorized "
        "scan with the widened schema pushed down, INT32 pages read "
        "straight into the BIGINT column. SUM(cust) per era proves "
        "both eras land in the widened lane (DuckDB's HUGEINT sum is "
        "cast down; Spark sums BIGINT natively). Money total rides the "
        "floor-cents convention. At 100 TB: type evolution stays a "
        "read-time option — zero rewrite of standing partitions when "
        "a column widens, the property that keeps crawler-style "
        "ingestion viable on a lake."
    ),
)
def scan_schema_widening(spark, sf_dir):
    import os
    import shutil

    from odl_etl_spark.functions.numeric import sum_cents
    from odl_etl_spark.io.sources import read_widened

    # Session-unique sink dir — same collision rationale as
    # scan_schema_evolution above.
    out = session_sink_dir(spark, "orders_widening")
    shutil.rmtree(out, ignore_errors=True)
    o = load_table(spark, sf_dir, "orders")
    cut = F.lit("1996-01-01").cast("timestamp")
    # Era 1 stored cust as int32. The narrowing cast is part of the
    # emulated HISTORY, not of the pipeline — so it must be provably
    # lossless for the fixture at hand: refuse loudly if any custkey
    # exceeds int32 instead of silently wrapping (same posture as
    # assert_scaled_sum_headroom).
    from odl_etl_spark.io.sources import cached_max

    mx = cached_max(spark, sf_dir, "orders", "o_custkey")
    if mx is not None and mx > 2**31 - 1:
        raise OverflowError(
            f"scan_schema_widening: max o_custkey {mx} exceeds int32 — "
            "the era-1 narrow-type emulation would wrap; regenerate the "
            "era layout with a wider historical type"
        )
    era1, era2 = era_split(o, cut)
    (
        era1.select(F.col("o_custkey").cast("int").alias("cust"), "o_totalprice")
        .write.mode("overwrite")
        .parquet(os.path.join(out, "era=1"))
    )
    (
        era2.select(F.col("o_custkey").cast("bigint").alias("cust"), "o_totalprice")
        .write.mode("overwrite")
        .parquet(os.path.join(out, "era=2"))
    )
    return (
        read_widened(spark, out)
        .groupBy("era")
        .agg(
            F.count("*").alias("n"),
            F.sum("cust").cast("bigint").alias("sum_cust"),
            sum_cents(
                F.col("o_totalprice"),
                acc=money_acc(
                    spark, sf_dir, "orders", ORDERS_TOTALPRICE_BOUND, 10**2,
                    what="scan_schema_widening total",
                ),
            ).alias("total"),
        )
    )


@spec(
    "stream_late_drop",
    """
    WITH arrivals AS (
      SELECT event_type, CAST(ts AS TIMESTAMP) AS ts, value,
             NTILE(4) OVER (ORDER BY
               CAST(ts AS TIMESTAMP)
                 + CASE WHEN event_id % 10 = 0 THEN INTERVAL 10 DAY
                        ELSE INTERVAL 0 DAY END,
               event_id) AS batch
      FROM events
    ), wm AS (
      SELECT batch,
             MAX(mx) OVER (ORDER BY batch
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 2 PRECEDING)
               - INTERVAL 1 HOUR AS wm_ts
      FROM (SELECT batch, MAX(ts) AS mx FROM arrivals GROUP BY batch) b
    ), admitted AS (
      SELECT a.event_type, a.ts, a.value
      FROM arrivals a JOIN wm w ON a.batch = w.batch
      WHERE w.wm_ts IS NULL
         OR date_trunc('hour', a.ts) + INTERVAL 1 HOUR > w.wm_ts
    )
    SELECT epoch_us(date_trunc('hour', ts)) AS window_us, event_type,
           COUNT(*) AS n,
           SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) / 1e2 AS sum_value
    FROM admitted GROUP BY 1, 2
    """,
    doc=(
        "Watermark late-data drop, driver-oracled (round-13 addition; "
        "VERDICT r12 #6b — previously unit-only in streaming/windows). "
        "The stream_running_totals posture: events replay as 4 "
        "deterministic ARRIVAL slices (exact NTILE over arrival time, "
        "where every 10th event arrives 10 DAYS late — far past the "
        "1-hour horizon once its contemporaries' batch has landed, so "
        "the fixture's 30-day span yields real drops at every scale), and the key computes the admitted-row "
        "tumbling aggregate under Spark's documented drop rule: the "
        "watermark filtering batch b derives from event time seen "
        "through batch b-2 minus the 1-hour delay — the micro-batch "
        "engine takes TWO batches to apply new stats (one to publish "
        "the advanced watermark at batch end, one to plan with it; "
        "measured by controlled experiment, 5-batch probe, and pinned "
        "by the tie test) — and a row is dropped iff its window END "
        "is not past that watermark (state for such windows is "
        "already finalized). The true readStream run — "
        "withWatermark('ts','1 hour') over the same 4-batch replay — "
        "is pinned to reproduce exactly this admitted set in "
        "tests/test_streaming.py, closing the loop the same way "
        "stream_running_totals does: DuckDB oracles the batch form, "
        "the tie test carries the guarantee onto the streaming path. "
        "Money rides floor-cents. At 100 TB: the drop predicate is a "
        "per-row comparison against a broadcast 4-row watermark table "
        "(in the real engine: a scalar per micro-batch), and state "
        "stays bounded by the watermark horizon — the entire point of "
        "the mechanism."
    ),
)
def stream_late_drop(spark, sf_dir):
    from pyspark.sql import Window

    from odl_etl_spark.functions.numeric import sum_cents
    from odl_etl_spark.operators.ranking import ntile_exact

    e = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "ts", "value"
    )
    arr = F.col("ts") + F.when(
        F.col("event_id") % 10 == 0, F.expr("INTERVAL 10 DAY")
    ).otherwise(F.expr("INTERVAL 0 DAY"))
    batched = ntile_exact(
        e.withColumn("_arr", arr), ["_arr", "event_id"], 4, tile_col="batch"
    )
    per_batch = batched.groupBy("batch").agg(F.max("ts").alias("_mx"))
    # 4-row frame — the single-partition window is on the per-batch
    # aggregate (one row per micro-batch), never on the fact rows. The
    # -2 bound is Spark's measured publication lag: batch k's event
    # times advance the filter from batch k+2.
    w = Window.orderBy("batch").rowsBetween(Window.unboundedPreceding, -2)
    wm = per_batch.select(
        "batch",
        (F.max("_mx").over(w) - F.expr("INTERVAL 1 HOUR")).alias("_wm"),
    )
    admitted = batched.join(F.broadcast(wm), "batch").where(
        F.col("_wm").isNull()
        | (F.window("ts", "1 hour").getField("end") > F.col("_wm"))
    )
    return (
        admitted.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n"),
            sum_cents(
                F.col("value"),
                acc=money_acc(
                    spark, sf_dir, "events", EVENTS_VALUE_BOUND, 10**2,
                    what="stream_late_drop sum_value",
                ),
            ).alias("sum_value"),
        )
        .select(
            F.unix_micros("w.start").alias("window_us"),
            "event_type",
            "n",
            "sum_value",
        )
    )


@spec(
    "scan_dpp_join",
    """
    SELECT n_name, COUNT(*) AS n,
           SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) / 1e2 AS total
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
    GROUP BY n_name
    """,
    doc=(
        "Dynamic partition pruning, driver-oracled (round-14 addition): "
        "the star-schema scan-reduction mechanism that was the one "
        "Catalyst scale feature not yet demonstrated as a key. The "
        "builder lays the fact out AS a lake would — orders partitioned "
        "by customer nation (25 partitions) — then answers a region "
        "query where the partition predicate is NOT in the query text: "
        "it exists only through the nation-dim join (region filter -> 5 "
        "of 25 nations). Catalyst inserts a dynamicpruning#N subquery "
        "on the fact scan's PartitionFilters, so the fact read touches "
        "only the 5 matching partition directories — pinned by "
        "tests/test_plans.py::test_dpp_join_prunes_fact_partitions. "
        "Money rides floor-cents with the shared accumulator-widening "
        "policy. At 100 TB this is THE star-join mechanism: a 100 TB "
        "fact partitioned by date/tenant reads only the dim-selected "
        "slice, turning a full scan into a few-percent scan with zero "
        "query-text changes; broadcast of the 5-row dim is provably "
        "bounded (nation is a 25-row table)."
    ),
)
def scan_dpp_join(spark, sf_dir):
    import os
    import shutil

    from odl_etl_spark.functions.numeric import sum_cents

    # Keyed by sf_dir as well as session: one session may build this key
    # at several scales (selfcheck sweeps, scale probes), and the layout
    # marker below must never let one scale's fact serve another's query.
    import re as _re

    out = session_sink_dir(
        spark, "orders_by_nation_" + _re.sub(r"[^A-Za-z0-9.]+", "_", sf_dir)
    )
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    # Lay the fact out partitioned by nation (idempotent per session:
    # the layout depends only on sf_dir, so reuse it when present).
    marker = os.path.join(out, "_LAYOUT_COMPLETE")
    if os.path.exists(marker):
        # Refresh liveness on reuse (ADVICE r14 #1): the sink GC prunes
        # sibling dirs by newest-of(dir, marker) mtime, and this layout
        # is the one scratch dir that is never rewritten — without the
        # touch, a session alive past the GC horizon could have its
        # still-in-use layout rmtree'd mid-read by a sibling's GC.
        os.utime(marker, None)
    else:
        shutil.rmtree(out, ignore_errors=True)
        (
            o.join(c, o["o_custkey"] == c["c_custkey"])
            .select(
                c["c_nationkey"].alias("nationkey"),
                o["o_orderkey"],
                o["o_totalprice"],
            )
            .write.mode("overwrite")
            .partitionBy("nationkey")
            .parquet(out)
        )
        open(marker, "w").close()
    fact = spark.read.parquet(out)
    dim = (
        n.join(r, n["n_regionkey"] == r["r_regionkey"])
        .where(F.col("r_name") == "ASIA")
        .select(
            # Partition-dir values read back as INT; cast the DIM side so
            # the fact's partition attribute stays bare (a cast on the
            # fact side would block the pruning rule).
            n["n_nationkey"].cast(fact.schema["nationkey"].dataType).alias("nk"),
            n["n_name"],
        )
    )
    return (
        fact.join(F.broadcast(dim), fact["nationkey"] == dim["nk"])
        .groupBy("n_name")
        .agg(
            F.count("*").alias("n"),
            sum_cents(
                F.col("o_totalprice"),
                acc=money_acc(
                    spark, sf_dir, "orders", ORDERS_TOTALPRICE_BOUND, 10**2,
                    what="scan_dpp_join total",
                ),
            ).alias("total"),
        )
    )


@spec(
    "table_profile",
    """
    WITH s AS (
      SELECT COUNT(*) AS n,
             COUNT(o_orderstatus) AS c1, COUNT(DISTINCT o_orderstatus) AS d1,
             MIN(o_orderstatus) AS mn1, MAX(o_orderstatus) AS mx1,
             COUNT(o_orderpriority) AS c2, COUNT(DISTINCT o_orderpriority) AS d2,
             MIN(o_orderpriority) AS mn2, MAX(o_orderpriority) AS mx2,
             COUNT(o_custkey) AS c3, COUNT(DISTINCT o_custkey) AS d3,
             CAST(MIN(o_custkey) AS VARCHAR) AS mn3,
             CAST(MAX(o_custkey) AS VARCHAR) AS mx3,
             COUNT(o_totalprice) AS c4, COUNT(DISTINCT o_totalprice) AS d4,
             CAST(CAST(FLOOR(MIN(o_totalprice) * 100 + 0.5) AS BIGINT) AS VARCHAR) AS mn4,
             CAST(CAST(FLOOR(MAX(o_totalprice) * 100 + 0.5) AS BIGINT) AS VARCHAR) AS mx4,
             COUNT(o_orderdate) AS c5, COUNT(DISTINCT o_orderdate) AS d5,
             CAST(CAST(MIN(o_orderdate) AS DATE) AS VARCHAR) AS mn5,
             CAST(CAST(MAX(o_orderdate) AS DATE) AS VARCHAR) AS mx5
      FROM orders
    )
    SELECT 'o_orderstatus' AS column_name, n, n - c1 AS n_null, d1 AS ndv,
           mn1 AS min_val, mx1 AS max_val FROM s
    UNION ALL
    SELECT 'o_orderpriority', n, n - c2, d2, mn2, mx2 FROM s
    UNION ALL
    SELECT 'o_custkey', n, n - c3, d3, mn3, mx3 FROM s
    UNION ALL
    SELECT 'o_totalprice_cents', n, n - c4, d4, mn4, mx4 FROM s
    UNION ALL
    SELECT 'o_orderdate', n, n - c5, d5, mn5, mx5 FROM s
    """,
    doc=(
        "One-pass table profile, driver-oracled (round-14 addition): the "
        "crawler-stats capability (the reference's Glue crawler computes "
        "per-column stats as it reinfers — manage_crawler_targets.py:8-9) "
        "as ONE wide aggregate over orders: per column count/nulls/exact "
        "NDV/min/max, then a 5-row stack() to long form. Strings compare "
        "binary on both engines; money min/max is emitted as floor-cents "
        "strings (deterministic cross-engine text, monotonic so "
        "MIN/MAX commute with the quantizer); dates as DATE strings. "
        "Multiple exact COUNT(DISTINCT)s plan as ONE Expand(x5) + "
        "two-phase aggregate — one scan, one shuffle of pre-aggregated "
        "partials, no per-column passes. At 100 TB exact multi-NDV is "
        "the one expensive term (Expand multiplies shuffle rows by the "
        "profiled-column count); production profiling swaps "
        "approx_count_distinct (HLL, map-side-combined) for the exact "
        "NDVs with zero shape change — documented here as the scale "
        "path, kept exact in the key so the DuckDB oracle is "
        "bit-comparable."
    ),
)
def table_profile(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    date_col = F.col("o_orderdate").cast("date")
    cents4 = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint")
    # Two sibling aggregates, crossJoined as 1-row x 1-row:
    #  * counts+NDVs — all-bigint buffers, so the multi-distinct
    #    Expand(x6) plans as HashAggregate;
    #  * min/max — string buffers force SortAggregate, but with NO
    #    grouping keys it needs no Sort.
    # One combined aggregate put min(string)/max(string) INTO the
    # Expand query, and min/max(string) buffers are not fixed-width, so
    # the whole 6x-expanded fact fell to SortAggregate — a full sort of
    # 6N wide rows, measured 116.8 s at sf10p (15M orders) vs ~30 s
    # split (SCALING.md round-14). The split costs one extra
    # column-pruned scan; the sort it removes grows n log n.
    counts = o.agg(
        F.count("*").alias("n"),
        F.count("o_orderstatus").alias("c1"),
        F.countDistinct("o_orderstatus").alias("d1"),
        F.count("o_orderpriority").alias("c2"),
        F.countDistinct("o_orderpriority").alias("d2"),
        F.count("o_custkey").alias("c3"),
        F.countDistinct("o_custkey").alias("d3"),
        F.count("o_totalprice").alias("c4"),
        F.countDistinct("o_totalprice").alias("d4"),
        F.count("o_orderdate").alias("c5"),
        F.countDistinct("o_orderdate").alias("d5"),
    )
    ranges = o.agg(
        F.min("o_orderstatus").alias("mn1"),
        F.max("o_orderstatus").alias("mx1"),
        F.min("o_orderpriority").alias("mn2"),
        F.max("o_orderpriority").alias("mx2"),
        F.min("o_custkey").cast("string").alias("mn3"),
        F.max("o_custkey").cast("string").alias("mx3"),
        F.min(cents4).cast("string").alias("mn4"),
        F.max(cents4).cast("string").alias("mx4"),
        F.min(date_col).cast("string").alias("mn5"),
        F.max(date_col).cast("string").alias("mx5"),
    )
    agg = counts.crossJoin(ranges)
    return agg.select(
        F.expr(
            """stack(5,
                 'o_orderstatus',      n, n - c1, d1, mn1, mx1,
                 'o_orderpriority',    n, n - c2, d2, mn2, mx2,
                 'o_custkey',          n, n - c3, d3, mn3, mx3,
                 'o_totalprice_cents', n, n - c4, d4, mn4, mx4,
                 'o_orderdate',        n, n - c5, d5, mn5, mx5)
               AS (column_name, n, n_null, ndv, min_val, max_val)"""
        )
    )


@spec(
    "table_profile_incremental",
    """
    WITH base AS (
      SELECT COUNT(*) AS n,
             COUNT(o_custkey) AS c1, COUNT(DISTINCT o_custkey) AS d1,
             CAST(MIN(o_custkey) AS VARCHAR) AS mn1,
             CAST(MAX(o_custkey) AS VARCHAR) AS mx1,
             COUNT(o_totalprice) AS c2, COUNT(DISTINCT o_totalprice) AS d2,
             CAST(CAST(FLOOR(MIN(o_totalprice) * 100 + 0.5) AS BIGINT) AS VARCHAR) AS mn2,
             CAST(CAST(FLOOR(MAX(o_totalprice) * 100 + 0.5) AS BIGINT) AS VARCHAR) AS mx2,
             COUNT(o_orderdate) AS c3, COUNT(DISTINCT o_orderdate) AS d3,
             CAST(CAST(MIN(o_orderdate) AS DATE) AS VARCHAR) AS mn3,
             CAST(CAST(MAX(o_orderdate) AS DATE) AS VARCHAR) AS mx3
      FROM orders
    )
    SELECT * FROM (
      SELECT 'o_custkey' AS column_name, n, n - c1 AS n_null,
             d1 AS ndv_exact, TRUE AS ndv_merged_within_10pct,
             mn1 AS min_val, mx1 AS max_val FROM base
      UNION ALL
      SELECT 'o_totalprice_cents', n, n - c2, d2, TRUE, mn2, mx2 FROM base
      UNION ALL
      SELECT 'o_orderdate', n, n - c3, d3, TRUE, mn3, mx3 FROM base
    )
    """,
    doc=(
        "Incremental table profile (round-15 addition; VERDICT r14 "
        "next-round #5): the Glue crawler's incremental RE-crawl posture "
        "(the reference's crawler re-runs over a growing dated table — "
        "manage_crawler_targets.py:8-9) as mergeable per-partition "
        "stats. Each ingestion partition (year(o_orderdate) here; "
        "ds-partition dirs in production) is crawled ONCE into a stats "
        "artifact row: count, non-null count, an HLL sketch per column "
        "(hll_sketch_agg — the agg_sketch_partial precedent), and "
        "fixed-width min/max. When a NEW partition arrives, only ITS "
        "rows are scanned (the delta branch's scan carries a pushed "
        "filter; on a dated layout that is partition pruning), and the "
        "table-level profile is re-derived from artifact rows alone: "
        "SUM the counts, hll_union_agg the sketches, MIN/MAX the "
        "bounds — partitions-sized work, zero re-scan of standing "
        "data. Profiled columns are deliberately fixed-width (bigint "
        "custkey, floor-cents bigint, date) so the per-partition "
        "grouped aggregate keeps hash-based buffers (the sketch rides "
        "ObjectHashAggregate); string min/max would re-demote to the "
        "sorted lane table_profile split away (round-14). The standing/"
        "delta branches partition rows exactly — NULL orderdates ride "
        "the delta era via era_split (ADVICE r13 #1). Oracle posture "
        "as agg_sketch_partial: exact NDV is computed once as the "
        "comparable anchor plus a boolean asserting the sketch-merged "
        "estimate lands within 10%; the exact lane exists FOR the "
        "differential — at 100 TB the merged-HLL lane is the product "
        "path and the exact Expand pass is the thing this key retires."
    ),
)
def table_profile_incremental(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    cut = F.lit("1998-01-01").cast("timestamp")
    cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint")
    dcol = F.col("o_orderdate").cast("date")

    def crawl(part):
        # One stats-artifact row per ingestion partition: all-fixed-width
        # buffers except the HLL sketches, which plan hash-based as
        # ObjectHashAggregate — no grouped SortAggregate (sort_audit).
        return part.groupBy(F.year("o_orderdate").alias("_part")).agg(
            F.count("*").alias("n"),
            F.count("o_custkey").alias("c1"),
            F.hll_sketch_agg("o_custkey").alias("sk1"),
            F.min("o_custkey").alias("mn1"),
            F.max("o_custkey").alias("mx1"),
            F.count("o_totalprice").alias("c2"),
            F.hll_sketch_agg(cents).alias("sk2"),
            F.min(cents).alias("mn2"),
            F.max(cents).alias("mx2"),
            F.count("o_orderdate").alias("c3"),
            F.hll_sketch_agg(dcol.cast("string")).alias("sk3"),
            F.min(dcol).alias("mn3"),
            F.max(dcol).alias("mx3"),
        )

    standing_rows, delta_rows = era_split(o, cut)
    artifact = crawl(standing_rows)  # the standing stats store (one-time)
    delta = crawl(delta_rows)  # incremental crawl: pruned scan only
    stats = artifact.unionByName(delta)
    merged = stats.agg(
        F.sum("n").alias("n"),
        (F.sum("n") - F.sum("c1")).alias("null1"),
        F.hll_sketch_estimate(F.hll_union_agg("sk1")).alias("a1"),
        F.min("mn1").cast("string").alias("mn1"),
        F.max("mx1").cast("string").alias("mx1"),
        (F.sum("n") - F.sum("c2")).alias("null2"),
        F.hll_sketch_estimate(F.hll_union_agg("sk2")).alias("a2"),
        F.min("mn2").cast("string").alias("mn2"),
        F.max("mx2").cast("string").alias("mx2"),
        (F.sum("n") - F.sum("c3")).alias("null3"),
        F.hll_sketch_estimate(F.hll_union_agg("sk3")).alias("a3"),
        F.min("mn3").cast("string").alias("mn3"),
        F.max("mx3").cast("string").alias("mx3"),
    )
    exact = o.agg(
        F.countDistinct("o_custkey").alias("d1"),
        F.countDistinct("o_totalprice").alias("d2"),
        F.countDistinct("o_orderdate").alias("d3"),
    )
    agg = merged.crossJoin(exact)
    within = [
        (F.abs(F.col(f"a{i}") - F.col(f"d{i}")) <= 0.10 * F.col(f"d{i}"))
        .alias(f"w{i}")
        for i in (1, 2, 3)
    ]
    return agg.select("*", *within).select(
        F.expr(
            """stack(3,
                 'o_custkey',          n, null1, d1, w1, mn1, mx1,
                 'o_totalprice_cents', n, null2, d2, w2, mn2, mx2,
                 'o_orderdate',        n, null3, d3, w3, mn3, mx3)
               AS (column_name, n, n_null, ndv_exact,
                   ndv_merged_within_10pct, min_val, max_val)"""
        )
    )


SPECS = [
    sim_rerank_pipeline,
    dedup_stream_ingest,
    corpus_curation_funnel,
    dedup_cluster_incremental,
    scan_schema_evolution,
    # Round-13 additions (registry tail, outside the driver window;
    # first driver rows take r14/r15 fill slots per _check_order).
    scan_schema_widening,
    stream_late_drop,
    # Round-14 additions (first driver rows slotted r15 per _check_order).
    scan_dpp_join,
    table_profile,
    # Round-15 addition (first driver row slotted r16 per _check_order).
    table_profile_incremental,
]
