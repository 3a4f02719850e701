"""Settings-document plumbing: run pipelines from a YAML/JSON file.

The reference drives each ETL from a settings document — YAML for
``email_mapping`` (``email_mapping/email_mapping.py:23-29``: db_url,
user_table, hash_salt, s3 target) and JSON for ``mitx``
(``mitx/mitx_etl.py:21-25``: Paths/S3Bucket/Slack/Healthchecks
sections). The engine equivalent is a typed dataclass per pipeline,
loadable from either format, so a reference user can keep their
settings-file workflow: load → validate → run.

Secrets posture: the loader carries whatever the document says (a JDBC
URL may embed credentials exactly as the reference's ``db_url`` does)
but nothing here defaults to, or knows about, any concrete endpoint.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import SparkSession


def load_settings(path: str) -> dict[str, Any]:
    """Parse a settings document; format chosen by extension
    (.yml/.yaml → YAML, anything else → JSON). Raises FileNotFoundError
    like the reference's hard exit on a missing file."""
    with open(path) as fh:
        if os.path.splitext(path)[1].lower() in (".yml", ".yaml"):
            import yaml

            doc = yaml.safe_load(fh)
        else:
            doc = json.load(fh)
    if not isinstance(doc, dict):
        raise ValueError(f"settings document must be a mapping: {path}")
    return doc


def _require(doc: dict[str, Any], key: str, path: str) -> Any:
    if key not in doc:
        raise KeyError(f"settings file {path} is missing required key {key!r}")
    return doc[key]


@dataclass(frozen=True)
class UserMapConfig:
    """The ``email_mapping`` settings surface (email_mapping.py:33-68):
    a JDBC source, a salt, and a Parquet destination."""

    db_url: str
    query: str
    out_path: str
    key_col: str = "username"
    email_col: str = "email"
    hash_salt: str = ""
    ds: str | None = None

    @classmethod
    def from_file(cls, path: str) -> "UserMapConfig":
        doc = load_settings(path)
        return cls(
            db_url=_require(doc, "db_url", path),
            query=_require(doc, "query", path),
            out_path=_require(doc, "out_path", path),
            key_col=doc.get("key_col", "username"),
            email_col=doc.get("email_col", "email"),
            hash_salt=doc.get("hash_salt", ""),
            ds=doc.get("ds"),
        )


@dataclass(frozen=True)
class ArtifactSyncConfig:
    """The ``mitx`` settings surface (mitx_etl.py:39-46,195-203):
    landing/destination paths plus optional Slack + healthcheck hooks."""

    landing_dir: str
    out_path: str
    ds: str
    glob: str = "*.tar.gz"
    slack: dict[str, str] = field(default_factory=dict)  # webhook_url/bot_*
    healthcheck_url: str = ""

    @classmethod
    def from_file(cls, path: str) -> "ArtifactSyncConfig":
        doc = load_settings(path)
        return cls(
            landing_dir=_require(doc, "landing_dir", path),
            out_path=_require(doc, "out_path", path),
            ds=_require(doc, "ds", path),
            glob=doc.get("glob", "*.tar.gz"),
            slack=doc.get("Slack", {}) or {},
            healthcheck_url=(doc.get("Healthchecks", {}) or {}).get("url", ""),
        )


def run_artifact_sync_from_config(
    spark: SparkSession, cfg: ArtifactSyncConfig, transport=None
) -> int:
    """settings → artifact sync with the configured notification hooks.
    ``transport`` injects the HTTP layer (tests pass a recorder; None
    uses the stdlib default inside each notifier)."""
    from odl_etl_spark.pipelines.artifact_sync import run_artifact_sync
    from odl_etl_spark.pipelines.notifications import (
        HealthcheckNotifier,
        SlackNotifier,
        fanout,
    )

    slack_hook = None
    if cfg.slack.get("webhook_url"):
        kw = {"webhook_url": cfg.slack["webhook_url"]}
        if "bot_username" in cfg.slack:
            kw["bot_username"] = cfg.slack["bot_username"]
        if "bot_emoji" in cfg.slack:
            kw["bot_emoji"] = cfg.slack["bot_emoji"]
        if transport is not None:
            kw["transport"] = transport
        slack_hook = SlackNotifier(**kw)
    hooks = [h for h in (slack_hook,) if h is not None]
    if cfg.healthcheck_url:
        kw = {"url": cfg.healthcheck_url}
        if transport is not None:
            kw["transport"] = transport
        hooks.append(HealthcheckNotifier(**kw))
    return run_artifact_sync(
        spark,
        cfg.landing_dir,
        cfg.out_path,
        cfg.ds,
        glob=cfg.glob,
        on_success=fanout(*hooks) if hooks else None,
        # The reference notifies Slack on failure but pings the
        # healthcheck only after a successful run (mitx_etl.py:195-203).
        on_failure=slack_hook,
    )


@dataclass(frozen=True)
class CurationConfig:
    """Settings surface for the corpus-curation pipeline
    (pipelines/curation.py) — same settings-document workflow as the
    reference's per-pipeline YAML/JSON."""

    sf_dir: str
    out_path: str
    held_out_source: str = "src0"
    min_words: int = 20
    near_threshold: float = 0.8
    decontam_shingle_n: int = 3

    @classmethod
    def from_file(cls, path: str) -> "CurationConfig":
        doc = load_settings(path)
        return cls(
            sf_dir=_require(doc, "sf_dir", path),
            out_path=_require(doc, "out_path", path),
            held_out_source=doc.get("held_out_source", "src0"),
            min_words=int(doc.get("min_words", 20)),
            near_threshold=float(doc.get("near_threshold", 0.8)),
            decontam_shingle_n=int(doc.get("decontam_shingle_n", 3)),
        )


def run_curation_from_config(
    spark: SparkSession, cfg: CurationConfig
) -> dict[str, int]:
    """Run the curation funnel from a settings document; returns the
    attrition counts (stage → n_docs) for logging/alerting — the
    side-effect surface the reference reports to Slack (A10)."""
    from odl_etl_spark.pipelines.curation import curate_corpus

    _, funnel = curate_corpus(
        spark,
        cfg.sf_dir,
        cfg.out_path,
        held_out_source=cfg.held_out_source,
        min_words=cfg.min_words,
        near_threshold=cfg.near_threshold,
        decontam_shingle_n=cfg.decontam_shingle_n,
    )
    return {r["stage"]: r["n_docs"] for r in funnel.collect()}
