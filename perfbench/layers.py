"""Per-layer metrics of a traced run.

The traced pass is reduced to one value per metric. Spark's work comes
from the event log, attributed to calls by ``spans.span_jobs``. A metric
of a layer the workload does not call reads 0.
"""

from __future__ import annotations

import statistics

from spans import covered_ms, read_event_log, span_jobs, stage_totals

MB = 1e6

# name → unit, in the order BENCHMARK.json lists them.
PER_LAYER = {
    "session.get_spark_s": "s",
    "session.warmup_s": "s",
    "queries.build_s": "s",
    "queries.action_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.driver_idle_s": "s",
    "spark.executor_run_s": "s",
    "spark.executor_gc_s": "s",
    "spark.shuffle_read_mb": "MB",
    "spark.shuffle_write_mb": "MB",
    "spark.spill_mb": "MB",
    "io.sources.input_mb": "MB",
    "io.sources.input_rows": "count",
    "io.sinks.write_s": "s",
    "io.sinks.output_files": "count",
    "io.sinks.output_mb": "MB",
    "operators.upsert.upsert_s": "s",
    "operators.upsert.rewritten_mb": "MB",
    "operators.upsert.rewrite_ratio": "count",
    "pipelines.curation.curate_s": "s",
    "pipelines.curation.jobs": "count",
    "operators.dedup.lsh_pairs_s": "s",
    "operators.dedup.pairs": "count",
    "operators.components.jobs": "count",
    "operators.components.incremental_s": "s",
    "operators.pagerank.pagerank_s": "s",
    "operators.pagerank.jobs": "count",
    "operators.materialize.cached_mb": "MB",
    "streaming.ingest_dedup.bootstrap_s": "s",
    "streaming.ingest_dedup.batch_s": "s",
    "streaming.ingest_dedup.jobs_per_batch": "count",
    "streaming.ingest_dedup.compact_s": "s",
    "streaming.ingest_dedup.state_mb": "MB",
    "streaming.ingest_ann.bootstrap_s": "s",
    "streaming.ingest_ann.batch_s": "s",
    "streaming.ingest_ann.state_mb": "MB",
    "operators.ann_index.probe_s": "s",
    "operators.ann_index.probe_jobs": "count",
    "trace.pass_s": "s",
}


def _idle_ms(span, jobs) -> float:
    """The part of a call's span in which none of its jobs runs: driver
    planning, Python and py4j."""
    busy = covered_ms(
        [(max(j.start_ms, span.start_ms), min(j.end_ms, span.end_ms)) for j in jobs]
    )
    return span.end_ms - span.start_ms - busy


def _pass_metrics(spans, jobs, stages, wl) -> dict[str, float]:
    m = dict.fromkeys(PER_LAYER, 0.0)
    by_span = [(s, span_jobs(s, jobs)) for s in spans]
    all_jobs = {j.job_id: j for _, js in by_span for j in js}
    tot = stage_totals(list(all_jobs.values()), stages)
    m["spark.jobs"] = len(all_jobs)
    m["spark.stages"] = len(
        {sid for j in all_jobs.values() for sid in j.stage_ids if sid in stages}
    )
    m["spark.tasks"] = tot.tasks
    m["spark.driver_idle_s"] = sum(_idle_ms(s, js) for s, js in by_span) / 1000.0
    m["spark.executor_run_s"] = tot.run_ms / 1000.0
    m["spark.executor_gc_s"] = tot.gc_ms / 1000.0
    m["spark.shuffle_read_mb"] = tot.shuffle_read / MB
    m["spark.shuffle_write_mb"] = tot.shuffle_write / MB
    m["spark.spill_mb"] = tot.spill / MB
    m["io.sources.input_mb"] = tot.input_bytes / MB
    m["io.sources.input_rows"] = tot.input_rows
    m["io.sinks.output_mb"] = tot.output_bytes / MB
    m["io.sinks.output_files"] = wl.stored_files
    probes: list[tuple[float, int]] = []
    for s, js in by_span:
        key = f"{s.layer}.{s.call}"
        if s.layer == "queries":
            build = s.counts.get("build_s", 0.0)
            m["queries.build_s"] += build
            m["queries.action_s"] += s.seconds - build
        if s.layer == "io.sinks":
            m["io.sinks.write_s"] += s.seconds
        if key == "operators.upsert.upsert_partitioned":
            out = stage_totals(js, stages).output_bytes
            m["operators.upsert.upsert_s"] += s.seconds
            m["operators.upsert.rewritten_mb"] += out / MB
            m["operators.upsert.rewrite_ratio"] += out / max(wl.update_bytes, 1)
        elif key == "pipelines.curation.curate_corpus":
            m["pipelines.curation.curate_s"] += s.seconds
            m["pipelines.curation.jobs"] += len(js)
        elif key == "operators.dedup.minhash_lsh_pairs":
            m["operators.dedup.lsh_pairs_s"] += s.seconds
            m["operators.dedup.pairs"] += s.counts.get("pairs", 0.0)
        elif key == "operators.components.connected_components_incremental":
            m["operators.components.incremental_s"] += s.seconds
            m["operators.components.jobs"] += len(js)
        elif key == "operators.pagerank.pagerank_fixed":
            m["operators.pagerank.pagerank_s"] += s.seconds
            m["operators.pagerank.jobs"] += len(js)
        elif s.call in ("ingest_dedup_stream", "ingest_pq_stream"):
            n = max(s.counts.get("batches", 0.0), 1.0)
            m[f"{s.layer}.bootstrap_s"] += s.counts.get("bootstrap_s", 0.0)
            m[f"{s.layer}.batch_s"] += s.counts.get("batch_s_sum", 0.0) / n
            if s.layer == "streaming.ingest_dedup":
                in_batches = [j for j in js if j.query_id is not None]
                m["streaming.ingest_dedup.jobs_per_batch"] += len(in_batches) / n
        elif key == "streaming.ingest_dedup.compact_state":
            m["streaming.ingest_dedup.compact_s"] += s.seconds
        elif key == "operators.ann_index.probe_pq_state":
            probes.append((s.seconds, len(js)))
    if probes:
        m["operators.ann_index.probe_s"] = statistics.median(p[0] for p in probes)
        m["operators.ann_index.probe_jobs"] = statistics.median(p[1] for p in probes)
    m["streaming.ingest_dedup.state_mb"] = wl.state_bytes.get("dedup", 0) / MB
    m["streaming.ingest_ann.state_mb"] = wl.state_bytes.get("ann", 0) / MB
    return m


def per_layer(wl, tracer, setup, log_dir, pass_s) -> tuple[dict, list[str]]:
    """name → (value, unit) for every per-layer metric, and one line per
    traced call with its seconds and Spark jobs."""
    jobs, stages = read_event_log(log_dir)
    out = _pass_metrics(tracer.spans, jobs, stages, wl)
    out["session.get_spark_s"] = setup["session.get_spark_s"]
    out["session.warmup_s"] = setup["session.warmup_s"]
    out["operators.materialize.cached_mb"] = tracer.storage_peak_mb
    out["trace.pass_s"] = pass_s
    table = [
        f"{s.group:50s} {s.seconds:8.3f} s {len(span_jobs(s, jobs)):6d} jobs"
        for s in tracer.spans
    ]
    return {k: (v, PER_LAYER[k]) for k, v in out.items()}, table
