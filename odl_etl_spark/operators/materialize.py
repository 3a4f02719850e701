"""One configurable lineage-cut primitive for iterative operators.

Iterative DataFrame algorithms (pagerank, connected components, the
two-level global rank, LSH candidate mining) must materialize
intermediate tables: without a lineage cut, a table read by two plan
branches re-executes its upstream pipeline per branch — and for
``repartitionByRange`` inputs the two executions may even sample
different range boundaries (the r4 ranking bug). Every such site used
to hand-roll ``localCheckpoint(eager=True)`` with a "swap for reliable
checkpoint at cluster scale" comment; this helper makes that swap an
actual runtime switch instead of a code edit (VERDICT.md r4,
Next-round #2).

Modes (per-call argument, else session conf ``MODE_CONF``, else local):

- ``local`` — ``localCheckpoint(eager=True)``. Fastest: blocks live on
  executor local disk/memory, lineage truncated. NOT fault-tolerant —
  an executor loss makes its blocks unrecoverable and fails the job.
  The right default on a stable cluster or local[] testing.
- ``checkpoint`` — reliable ``checkpoint(eager=True)`` to the configured
  checkpoint dir (``SparkContext.setCheckpointDir``, a DFS path at
  cluster scale). Survives executor loss mid-iteration: blocks are
  re-read from the DFS, nothing is recomputed. Requires the dir to be
  set; raises a clear error otherwise rather than silently degrading.
- ``persist`` — ``persist(DISK_ONLY)`` forced eager with a ``count()``.
  Middle ground: lineage is kept, so a lost block is *recomputed* from
  upstream (correct but potentially expensive, and for range-sampled
  inputs the recompute reuses the already-written shuffle output, so
  boundary consistency holds unless the shuffle data itself is lost).
  Use when no DFS checkpoint dir exists but executor loss must not
  fail the job outright. NOT for iterative loops: because lineage is
  kept, each iteration's plan nests every prior iteration's — analysis
  cost grows superlinearly (round-8 measurement: `dedup_cluster`
  >200s under persist vs 3.6s under local; PROFILE_ITERATIVE.json).
  Iterative callers need a true lineage CUT (local/checkpoint).
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession

MODE_CONF = "spark.odl_etl.materialize.mode"
_MODES = ("local", "checkpoint", "persist")
_BYTE_UNITS = {u: 1 << (10 * i) for i, u in enumerate(("", "k", "m", "g", "t", "p"))}


def broadcast_threshold(spark: SparkSession) -> int:
    """``spark.sql.autoBroadcastJoinThreshold`` in bytes, read from the
    public session conf (<= 0: auto-broadcast disabled). The conf is a
    byte string such as ``10485760``, ``10485760b``, ``10MB`` or ``-1``."""
    raw = spark.conf.get("spark.sql.autoBroadcastJoinThreshold").strip().lower()
    m = re.fullmatch(r"(-?\d+)([kmgtp]?)b?", raw)
    if m is None:
        raise ValueError(f"unparseable spark.sql.autoBroadcastJoinThreshold: {raw!r}")
    return int(m.group(1)) * _BYTE_UNITS[m.group(2)]


def fits_broadcast(df: DataFrame, rows: int | None = None) -> bool:
    """Whether ``df`` (a MATERIALIZED frame — blocks already computed,
    so the count below is a cheap cached-block scan) will end up
    broadcast in downstream joins.

    Deliberately NOT read from ``optimizedPlan().stats()``: a
    (local)checkpoint inherits the ORIGINAL plan's estimated stats, and
    join-heavy lineage (e.g. a pair-mining pipeline) estimates
    astronomically large — the static planner never broadcasts such a
    frame even when it is 100 rows; it is AQE's runtime re-optimization
    that broadcasts it. So measure what AQE will see: actual row count
    × the schema's per-row width (defaultSize + row overhead, an
    over-estimate of the compressed shuffle bytes AQE compares, i.e.
    errs toward the conservative branch). Pass ``rows`` when the caller
    already counted the frame (saves the count job)."""
    thr = broadcast_threshold(df.sparkSession)
    if thr <= 0:  # auto-broadcast disabled: nothing ever broadcasts
        return False
    widths = {
        "boolean": 1, "byte": 1, "short": 2, "integer": 4, "float": 4,
        "date": 4, "long": 8, "double": 8, "timestamp": 8,
        "timestamp_ntz": 8, "string": 20, "binary": 20,
    }
    row_width = (
        sum(widths.get(f.dataType.typeName(), 16) for f in df.schema.fields)
        + 8
    )
    if rows is None:
        rows = df.count()
    return rows * row_width <= thr


def materialize_prepartitioned(
    df: DataFrame, cols: list[str], mode: str | None = None
) -> DataFrame:
    """``materialize(df.repartition(N, *cols))`` with the partitioning
    actually RECORDED on the cut, so downstream joins/aggregates on
    ``cols`` elide their exchange.

    Under AQE (the default config), ``Dataset.(local)checkpoint`` wraps
    an AdaptiveSparkPlanExec whose reported outputPartitioning is
    UnknownPartitioning — a checkpoint taken with AQE ON silently LOSES
    the pre-partitioning and every downstream join re-exchanges the
    stored table (measured: plans/r18/cc_prepart_aqe_probe.txt; the r17
    demo only showed the elision because it disabled AQE). Toggling AQE
    off for just this one action records hashpartitioning(cols, N) on
    the cut; EnsureRequirements (which runs statically, AQE or not)
    then elides the exchange in every consumer. N comes from
    spark.sql.shuffle.partitions — the scale-adaptive conf, not a local
    constant. The toggle is session-visible for the duration of this
    one eager action (builds are single-threaded per session here;
    concurrent-build sessions should serialize calls)."""
    parts = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200"))
    return materialize_aqe_off(df.repartition(parts, *cols), mode)


def materialize_aqe_off(df: DataFrame, mode: str | None = None) -> DataFrame:
    """``materialize`` with AQE disabled for this ONE eager action, so
    the cut records the plan's real outputPartitioning instead of the
    AdaptiveSparkPlanExec wrapper's UnknownPartitioning (see
    ``materialize_prepartitioned``). Use when ``df``'s own plan already
    establishes the partitioning downstream consumers need (e.g. a
    sort-merge join output keyed like the loop join)."""
    spark = df.sparkSession
    prev = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        return materialize(df, mode)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev)


def materialize(df: DataFrame, mode: str | None = None) -> DataFrame:
    """Materialize ``df`` eagerly and cut (or pin) its lineage.

    ``mode`` overrides the session conf ``spark.odl_etl.materialize.mode``
    (default ``local``). Returns a DataFrame whose plan reads the
    materialized blocks; in every mode the data is fully computed before
    this returns, so two downstream branches observe one physical result.
    """
    spark = df.sparkSession
    if mode is None:
        mode = spark.conf.get(MODE_CONF, "local")
    if mode == "local":
        return df.localCheckpoint(eager=True)
    if mode == "checkpoint":
        sc = spark.sparkContext
        if sc._jsc.sc().getCheckpointDir().isEmpty():
            raise ValueError(
                "materialize(mode='checkpoint') needs a reliable checkpoint "
                "dir: call spark.sparkContext.setCheckpointDir('<dfs path>') "
                "first (or use mode='local'/'persist')"
            )
        return df.checkpoint(eager=True)
    if mode == "persist":
        from pyspark import StorageLevel

        out = df.persist(StorageLevel.DISK_ONLY)
        out.count()  # force materialization NOW, like the eager checkpoints
        return out
    raise ValueError(f"materialize: unknown mode {mode!r}; expected one of {_MODES}")
