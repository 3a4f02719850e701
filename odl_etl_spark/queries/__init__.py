"""Registry of declared operators (SURVEY.md §2B): name → QuerySpec.

Every spec is one driver-checkable query: the Spark builder and its DuckDB
oracle live side by side so column aliases can never drift apart.
"""

from __future__ import annotations

from odl_etl_spark.queries.base import QuerySpec


def registry() -> dict[str, QuerySpec]:
    # Imports are lazy so a syntax error in one module surfaces at call
    # time with a clean traceback, and pyspark isn't imported on package
    # import for tooling that only wants the names.
    from odl_etl_spark.queries import (
        aggs,
        compose,
        events,
        extras,
        graph,
        joins,
        ml,
        multimodal,
        quality,
        scalars,
        scans,
        setops,
        similarity,
        streaming,
        text,
        tpch,
        windows,
    )

    modules = [
        scans,
        scalars,
        joins,
        aggs,
        windows,
        setops,
        streaming,
        events,
        text,
        similarity,
        graph,
        multimodal,
        ml,
        quality,
        extras,
        # Appended last: round-5+ additive keys live in the registry
        # tail, outside (and after) the 50-key driver check window.
        tpch,
        compose,
    ]
    out: dict[str, QuerySpec] = {}
    for mod in modules:
        for s in mod.SPECS:
            if s.name in out:
                raise ValueError(f"duplicate query key: {s.name}")
            out[s.name] = s
    return {k: out[k] for k in _check_order(out)}


def _check_order(out: dict[str, QuerySpec]) -> list[str]:
    """Key order = driver check order. The driver's gate verifies exactly
    the first 50 registry keys per round, so ordering is the verification
    budget.

    Window (priority order):

      1. The three keys whose plans change when connected components
         closes batch-sized graphs on the driver (`dedup_cluster`,
         `dedup_cluster_incremental`, `corpus_curation_funnel`), then
         `dedup_stream_ingest`, the near-dup ingest key that shares
         their pair miners.
      2. `table_profile_incremental` + `sim_ann_ivfpq` — the round-15
         additive keys.
      3. The r12-stale block in registry order (44 keys; its 45th,
         `dedup_stream_ingest`, moved up to 1).

    To hold the window at 50, three keys left it: the two fill keys
    (`sink_partitioned`, `sink_orc_roundtrip`) and `graph_triangles`,
    whose round-15 plan change has had driver rows since round 16.

    Pre-verification pattern: run the exact 50-key list through the
    plain-session type-aware replica
    (`.claude/skills/verify/verify_keys.py`) before the driver run."""
    first = [
        # --- plan changed: connected components' driver-side closure,
        # then the near-dup ingest key ---
        "dedup_cluster",
        "dedup_cluster_incremental",
        "corpus_curation_funnel",
        "dedup_stream_ingest",
        # --- round-15 additive keys ---
        "table_profile_incremental",
        "sim_ann_ivfpq",
        # --- r12-stale block, registry order ---
        "sink_csv_roundtrip",
        "sink_jsonl_roundtrip",
        "udaf_regression",
        "explode_posexplode",
        "scalar_variant",
        "agg_approx_quantile",
        "agg_distinct",
        "agg_approx_distinct",
        "agg_rollup",
        "agg_cube",
        "agg_gsets",
        "agg_having",
        "agg_decimal_exact",
        "win_rank",
        "win_analytic",
        "win_frame",
        "win_ntile",
        "win_cume",
        "win_range_frame",
        "sort_limit",
        "topk_per_group",
        "set_union",
        "set_intersect",
        "set_except",
        "stream_tumbling",
        "stream_sliding",
        "stream_session",
        "stream_dedup",
        "stream_interval_join",
        "scd2_build",
        "timeseries_resample",
        "events_anomaly",
        "events_path_topk",
        "timeseries_ewma",
        "text_tokenize_tf",
        "text_ngrams",
        "text_lang_stats",
        "text_token_count",
        "text_pack_sequences",
        "sim_maxsim",
        "ann_index_ivf_ingest_probe",
        "emb_covariance",
        "text_ngram_containment",
        "sim_rerank_pipeline",
    ]
    assert len(first) == 50, len(first)
    assert all(k in out for k in first), sorted(set(first) - set(out))
    return first + [k for k in out if k not in set(first)]
