"""Fixed-point integer PageRank: deterministic distributed iteration.

Floating-point PageRank is NOT reproducible across engines (or even
across runs): per-node contribution sums are accumulated in shuffle
order, and double addition is not associative. This implementation does
every iteration in scaled integer arithmetic — ranks are BIGINT
micro-units (SCALE = 1e12), per-edge contributions are integer floor
divisions, and the damping factor 0.85 is applied as ``17 * s // 20`` —
so the result is bit-identical regardless of aggregation order, engine,
partitioning, or cluster size. The tiny mass lost to floor division
(< outdeg ulps per node per round) is a deterministic quantization, not
an error source.

Scale posture: edges and ranks shuffle on the node key every iteration;
the rank table is node-sized (≪ edge-sized). Lineage is truncated the
same way as ``operators/components.py``: the symmetrized edge list, the
degree table, and the edge⋈degree join are each ``materialize``d once
before the loop, and the rank table is materialized every iteration —
otherwise the final action re-executes the distinct-symmetrize pipeline
once per join in an iterations-deep nested plan (the r3 regression:
O(iterations) redundant scans and unbounded plan depth, VERDICT.md r3
What's-wrong #2). The cut mode is a runtime switch
(``operators/materialize.py``): default executor-local; set
``spark.odl_etl.materialize.mode=checkpoint`` with a DFS checkpoint dir
if the job must survive executor loss mid-iteration.

Generalizes the reference's entity-graph flavor (user→artifact maps,
email_mapping.py) to link analysis over any edge list.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from odl_etl_spark.operators.materialize import (
    fits_broadcast,
    materialize,
    materialize_aqe_off,
)

SCALE = 10**12
DAMP_NUM, DAMP_DEN = 17, 20  # 0.85 as an exact ratio


def pagerank_fixed(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 3,
) -> DataFrame:
    """PageRank over a symmetrized edge list, fixed-point integers.

    ``edges`` must be directed (src, dst); it is symmetrized and
    de-duplicated here, so every node has out-degree >= 1 and the
    dangling-mass term vanishes. Returns (node, rank) with rank in
    micro-units of SCALE; ranks are exact integers, so ordering and
    equality are well-defined.
    """
    # Overflow posture: total rank mass is conserved at ~SCALE micro-
    # units (floor division only loses mass), so any node's contribution
    # sum is ≤ SCALE ≈ 1e12 — a static invariant independent of graph
    # size. The guard documents and enforces the headroom (≈7e6× here);
    # raising SCALE toward 1e18 would trip it.
    from odl_etl_spark.functions.numeric import assert_scaled_sum_headroom

    assert_scaled_sum_headroom(
        1, 1.0, SCALE, what="pagerank per-node contribution sum (mass bound)"
    )
    # Checkpoint the symmetrized edge list first so the (possibly
    # expensive) upstream distinct pipeline runs exactly once; deg and
    # ed then derive from the materialized blocks, not the lineage.
    # Symmetrization is a single-pass explode of both directions (r18):
    # the r17 self-union ran the upstream pipeline once per branch —
    # two scans/distincts of the source inside the one materialize job.
    # The list is PARTITIONED BY src before the dedup: hashpartitioning
    # on src satisfies the (src, dst) clustering the dedup needs (subset
    # rule), so dropDuplicates adds no second exchange. The cut below is
    # taken with AQE on, so it does NOT record this partitioning
    # (plans/r18/cc_prepart_aqe_probe.txt: an AQE-on (local)checkpoint
    # reports UnknownPartitioning): the degree aggregate re-exchanges e,
    # and so does the edge⋈degree join when deg does not broadcast. Only
    # the ``ed`` cut below records its src partitioning, and only when
    # the rank table will not broadcast. Partition count comes from
    # spark.sql.shuffle.partitions (scale-adaptive conf).
    e = materialize(
        edges.select(
            F.explode(
                F.array(
                    F.struct(F.col(src).alias("src"), F.col(dst).alias("dst")),
                    F.struct(F.col(dst).alias("src"), F.col(src).alias("dst")),
                )
            ).alias("_e")
        )
        .select("_e.src", "_e.dst")
        .repartition(F.col("src"))
        .dropDuplicates(["src", "dst"])
    )
    deg = materialize(
        e.groupBy("src").agg(F.count("*").alias("outdeg"))
    )  # node-sized; read 3×: nodes, n, ed — co-partitioned with e on src
    # Symmetric graph: the src set IS the node set.
    nodes = deg.select(F.col("src").alias("node"))
    n = nodes.count()  # O(1) driver scalar, folded into the base-rank literal
    base = (SCALE - SCALE * DAMP_NUM // DAMP_DEN) // n
    # edge ⋈ out-degree, materialized once, read every round. When the
    # rank table (deg-sized) will NOT broadcast, every round's ed ⋈ r
    # join is a sort-merge join — materialize ed with its src
    # partitioning RECORDED on the cut (the e⋈deg SMJ already keys it
    # on src; under AQE a checkpoint reports UnknownPartitioning and
    # every round would re-exchange the edge set — see
    # materialize_aqe_off and plans/r18/cc_prepart_aqe_probe.txt), so
    # the loop's edge side is never re-exchanged. Locally (rank
    # broadcasts) the plain cut is cheaper: every round is a broadcast
    # join with no edge exchange at all.
    if fits_broadcast(deg, rows=n):  # n already counted above: no extra job
        ed = materialize(e.join(deg, "src"))
    else:
        ed = materialize_aqe_off(e.join(deg, "src"))
    r = nodes.withColumn("rank", F.lit(SCALE // n))
    for _ in range(iterations):
        s = (
            ed.join(r, ed["src"] == r["node"])
            .select(
                F.col("dst"),
                F.floor(F.col("rank") / F.col("outdeg")).alias("c"),
            )
            .groupBy("dst")
            .agg(F.sum("c").alias("s"))
        )
        # The symmetric graph makes the contribution aggregate node-
        # complete — every node u has an edge (v, u), so every node
        # appears as a dst and the old `nodes LEFT JOIN s` re-keying
        # (one extra node-sized shuffle join per round, coalesce(s, 0)
        # provably dead) is unnecessary (PLANS.md round-6 candidate).
        r = s.select(
            F.col("dst").alias("node"),
            (F.lit(base) + F.floor(F.col("s") * DAMP_NUM / DAMP_DEN))
            .cast("bigint")
            .alias("rank"),
        )
        # Rank is node-sized: checkpointing it every round keeps the
        # final plan depth O(1) instead of O(iterations).
        r = materialize(r)
    return r
