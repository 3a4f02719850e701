"""Connected components: the cluster-assignment step that completes a
near-dedup pipeline (pairs → clusters → one kept representative).

Derivation: the reference dedups nothing (its lake keeps every row);
the training-data generalization — group near-duplicate documents and
keep one per group — needs the transitive closure of the pair relation,
which no single join can express. Every node is labeled with the
minimum node id of its component, by one of two paths that return the
identical relation:

* **Batch-sized graphs** — the edge table fits under Spark's own
  ``spark.sql.autoBroadcastJoinThreshold``, the size under which the
  planner already collects a relation to the driver to broadcast it.
  The edges are fetched in ONE job and closed on the driver by one
  union-find whose root is the minimum id. The labels go back to Spark
  as an Arrow-backed ``LocalRelation``: the planner sizes it exactly
  (so downstream joins broadcast it), and no Python worker unpickles it
  on every read, as it would for a ``createDataFrame(list)`` relation.
  Near-dup pair graphs and the incremental fold's contracted graph are
  this size by construction.
* **Larger graphs** run iterative min-label propagation on DataFrames:
  each round is one equi-join + one groupBy-min (both plain hash
  exchanges), a lineage cut and a convergence probe, and the round
  count is the graph diameter, not the node count. For adversarially
  deep graphs the same two primitives compose into the
  large-star/small-star variant (Kiveris et al., "Connected Components
  in MapReduce and Beyond") without changing the storage or shuffle
  story.

Setting the threshold to -1 forces the loop. The driver path takes
integral and (binary-collated) string node ids, whose Python ordering
is Spark's; any other node type runs the loop.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_type

from odl_etl_spark.operators.materialize import (
    broadcast_threshold,
    materialize,
    materialize_prepartitioned,
)
from odl_etl_spark.operators.materialize import (
    fits_broadcast as _fits_broadcast,
)


def _node_bytes(dt: T.DataType) -> int | None:
    """Bytes per node value on the driver path, or None for a type that
    path does not take. A string is sized at Spark's own per-value
    estimate (``StringType.defaultSize``, 20 bytes); ``_fetch_small``
    then checks the real Arrow bytes too."""
    if isinstance(dt, T.IntegralType):
        return to_arrow_type(dt).bit_width // 8
    if dt == T.StringType():
        return 20
    return None


def _fetch_small(df: DataFrame, dt: T.DataType) -> pa.Table | None:
    """``df`` (columns of node type ``dt``) as an Arrow table if it fits
    under the broadcast threshold, else None. One job either way: the
    ``coalesce(1)`` lets one task scan the partitions and stop at the
    cap, where a bare limit scans one partition, then four more, ... in
    a job each."""
    width = _node_bytes(dt)
    thr = broadcast_threshold(df.sparkSession)
    if width is None or thr <= 0:
        return None
    cap = thr // (width * len(df.columns))
    tbl = df.coalesce(1).limit(cap + 1).toArrow()
    return tbl if tbl.num_rows <= cap and tbl.nbytes <= thr else None


def _union_find(pairs) -> dict:
    """Close the (u, v) pairs: every node → the minimum id of its
    component (the larger root always hangs under the smaller one)."""
    parent: dict = {}

    def find(x):
        root = parent.setdefault(x, x)
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for u, v in pairs:
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    return {n: find(n) for n in parent}


def _relation(
    spark: SparkSession, dt: T.DataType, nullable: bool, **cols: list
) -> DataFrame:
    """An Arrow-backed LocalRelation with one ``dt`` column per keyword."""
    at = to_arrow_type(dt)
    schema = T.StructType([T.StructField(c, dt, nullable) for c in cols])
    tbl = pa.table({c: pa.array(v, at) for c, v in cols.items()})
    return spark.createDataFrame(tbl, schema=schema)


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 50,
) -> DataFrame:
    """(node, component) for every node in ``edges``; component = the
    minimum node id reachable in the undirected graph.

    The symmetrized edge table is materialized once. If it fits under
    the broadcast threshold, one job fetches it and the driver closes it
    (module docstring). Otherwise each loop round ``materialize``s the
    label table: it is read twice (convergence test + next round's
    join) and the plan would otherwise double every round — the
    standard lineage-truncation posture for iterative DataFrame
    algorithms (cut mode is a runtime switch, see
    ``operators/materialize.py``). ``max_iter`` bounds the loop's
    rounds; the driver path has none.

    Null endpoints: a null node never equi-joins in the loop, so it
    merges nothing and keeps its seed label, the minimum of its direct
    neighbors; the driver path gives it the same label.
    """
    # Symmetrize in ONE pass — explode each edge into both directions —
    # into the ONE edge-sized materialize, so the (possibly expensive)
    # upstream pair-mining pipeline runs exactly once.
    sym = materialize(
        edges.select(
            F.explode(
                F.array(
                    F.struct(F.col(src).alias("_u"), F.col(dst).alias("_v")),
                    F.struct(F.col(dst).alias("_u"), F.col(src).alias("_v")),
                )
            ).alias("_e")
        )
        .select("_e._u", "_e._v")
    )
    node = sym.schema["_u"]
    tbl = _fetch_small(sym, node.dataType)
    if tbl is not None:
        us, vs = tbl.column("_u").to_pylist(), tbl.column("_v").to_pylist()
        root = _union_find(
            (u, u if v is None else v) for u, v in zip(us, vs) if u is not None
        )
        nodes, comps = list(root), list(root.values())
        if None in us:
            nodes.append(None)
            comps.append(
                min((v for u, v in zip(us, vs) if u is None and v is not None),
                    default=None)
            )
        return _relation(
            sym.sparkSession, node.dataType, node.nullable,
            node=nodes, component=comps,
        )
    # Seed labels with min(self, direct neighbors): the identity init's
    # first propagation round folded into initialization as ONE groupBy
    # (the identity-labels round-1 join is a no-op — joining labels that
    # equal the node id reduces to min over the neighbor ids themselves),
    # so the seed costs one node-sized partial-agg exchange but starts
    # one hop ahead. Every connected_components call saves one loop
    # round = one join+groupBy (two exchanges) + one materialize + one
    # convergence probe. The fixpoint is unchanged: labels still
    # converge to the minimum reachable node id (each seed label is the
    # min over a subset of the reachable set that includes self).
    labels = materialize(
        sym.groupBy("_u")
        .agg(F.min("_v").alias("_mn"))
        .select("_u", F.least(F.col("_u"), F.col("_mn")).alias("_label"))
    )
    if not _fits_broadcast(labels):
        # The label table will NOT broadcast, so every round's
        # sym ⋈ labels join is a sort-merge join that would re-exchange
        # the edge set — pay ONE upfront edge-sized exchange instead,
        # with the partitioning actually recorded on the cut (under AQE
        # a plain pre-partitioned checkpoint loses it — see
        # materialize_prepartitioned and plans/r18/cc_prepart_aqe_probe
        # .txt); every round's join then reads the stored
        # hashpartitioning(_u) with no per-round edge exchange. When
        # labels DOES fit, every round is a broadcast-hash join with NO
        # edge exchange at all and the upfront repartition would be pure
        # added cost — this conditional is the planner's own broadcast
        # criterion read off the materialized label stats, not a tuned
        # local constant.
        sym = materialize_prepartitioned(sym, ["_u"])
    for _ in range(max_iter):
        neigh = (
            sym.join(labels, "_u")
            .groupBy(F.col("_v").alias("_u"))
            .agg(F.min("_label").alias("_nl"))
        )
        stepped = labels.join(neigh, "_u", "left").select(
            "_u",
            "_label",
            F.least("_label", F.coalesce("_nl", "_label")).alias("_new"),
        )
        stepped = materialize(stepped)
        if stepped.where(F.col("_new") < F.col("_label")).limit(1).count() == 0:
            break
        labels = stepped.select("_u", F.col("_new").alias("_label"))
    else:
        raise RuntimeError(f"connected_components: no fixpoint in {max_iter} rounds")
    return stepped.select(F.col("_u").alias("node"), F.col("_new").alias("component"))


def _remap(labels: DataFrame, merge_map: DataFrame) -> DataFrame:
    """``labels`` with every merged representative ``_old`` replaced by
    ``_merged``: a broadcast hash join that streams labels, whose build
    side is the batch-sized merge map."""
    return labels.join(
        F.broadcast(merge_map), labels["component"] == F.col("_old"), "left"
    ).select("node", F.coalesce("_merged", "component").alias("component"))


def connected_components_incremental(
    labels: DataFrame,
    new_edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 50,
) -> DataFrame:
    """Maintain a ``connected_components`` labeling under newly arrived
    edges WITHOUT re-running the closure over the full graph — the
    cluster-maintenance step the ingest-dedup loop's emitted pairs feed
    (``streaming/ingest_dedup`` commits (new_id, ex_id) pairs per batch;
    this folds them into the standing duplicate clusters).

    Contraction argument: every existing component is collapsed to its
    representative (which, by the ``connected_components`` contract, IS
    the minimum node id of that component), each new edge is projected
    onto representatives (or raw ids for first-seen nodes), and the
    closure runs over that CONTRACTED graph only — its size scales with
    the BATCH (touched components + new nodes), not the corpus. The
    merged group's minimum over representatives equals the minimum over
    all member nodes (each representative is already its component's
    minimum), so the result is bit-identical to a full rebuild over
    (old ∪ new) edges — pinned by an any-split property test.

    Scale shape: when the new edges fit under the broadcast threshold
    (and all four id columns share one driver-path type, see the module
    docstring), one job fetches them, one broadcast scan of ``labels``
    against the batch's endpoints resolves their representatives, and
    the driver contracts and closes the graph. Otherwise the edges,
    the resolved endpoints and the contracted graph are materialized
    and closed by ``connected_components``. Either way the standing
    ``labels`` table is then remapped through a broadcast hash join
    against the batch-sized merge map — labels is never shuffled and
    never the build side — and the first-seen nodes are appended. No
    full-graph pass.

    Returns the complete updated (node, component) relation.
    """
    e = new_edges.select(F.col(src).alias("_a"), F.col(dst).alias("_b"))
    fields = [*labels.select("node", "component").schema, *e.schema]
    types = {f.dataType for f in fields}
    tbl = _fetch_small(e, types.pop()) if len(types) == 1 else None
    if tbl is None:
        return _fold_distributed(labels, e, max_iter)

    spark = labels.sparkSession
    dt = e.schema["_a"].dataType
    nullable = any(f.nullable for f in fields)
    a, b = tbl.column("_a").to_pylist(), tbl.column("_b").to_pylist()
    ends = set(a) | set(b)
    probe = _relation(spark, dt, nullable, _n=[n for n in ends if n is not None])
    hit = (
        labels.join(F.broadcast(probe), labels["node"] == probe["_n"])
        .select("node", "component")
        .toArrow()
    )
    rep = dict(zip(*(hit.column(c).to_pylist() for c in ("node", "component"))))
    # First-seen endpoints stand for themselves. A null endpoint matches
    # no label and joins no edge, so it comes out as (null, null), as in
    # the distributed fold. Sorted (nulls first), so a write of the
    # result stores them in one order whatever the set's iteration order.
    fresh = sorted((n for n in ends if n not in rep), key=lambda n: (n is not None, n))
    rep.update((n, n) for n in fresh)
    root = _union_find(
        (rep[u], rep[v])
        for u, v in zip(a, b)
        if rep[u] is not None and rep[v] is not None
    )
    moved = {r: m for r, m in root.items() if r != m}
    merge_map = _relation(
        spark, dt, nullable, _old=list(moved), _merged=list(moved.values())
    )
    # One slice: the first-seen rows add at most one file per output
    # partition to a write of the result, not one per default-
    # parallelism slice of the local relation.
    first_seen = _relation(
        spark, dt, nullable,
        node=fresh, component=[root.get(rep[n], rep[n]) for n in fresh],
    ).coalesce(1)
    return _remap(labels, merge_map).unionByName(first_seen)


def _fold_distributed(labels: DataFrame, e: DataFrame, max_iter: int) -> DataFrame:
    """The contraction of ``connected_components_incremental`` with
    every step a DataFrame: for edge batches above the broadcast
    threshold (or id columns the driver path does not take)."""
    e = materialize(e)
    ends = (
        e.select(F.col("_a").alias("_n"))
        .unionByName(e.select(F.col("_b").alias("_n")))
        .distinct()
    )
    # Resolve each touched endpoint to its standing representative;
    # first-seen nodes resolve to themselves. Shaped so the corpus-sized
    # labels table is the STREAMED side of a broadcast inner join (an
    # ends-preserving outer join would force ends onto the streamed side
    # and labels into an exchange — BroadcastHashJoin only preserves the
    # streamed side): matched endpoints come from the inner join, the
    # first-seen remainder from a batch-vs-batch anti join against the
    # (materialized, batch-bounded) matched set.
    matched = materialize(
        labels.join(F.broadcast(ends), labels["node"] == ends["_n"], "inner")
        .select("_n", F.col("component").alias("_r"))
    )
    resolver = materialize(
        matched.withColumn("_fresh", F.lit(False)).unionByName(
            ends.join(F.broadcast(matched.select("_n")), "_n", "left_anti")
            .select("_n", F.col("_n").alias("_r"))
            .withColumn("_fresh", F.lit(True))
        )
    )
    ra = resolver.select(F.col("_n").alias("_a"), F.col("_r").alias("_ra"))
    rb = resolver.select(F.col("_n").alias("_b"), F.col("_r").alias("_rb"))
    contracted = (
        e.join(F.broadcast(ra), "_a")
        .join(F.broadcast(rb), "_b")
        .where(F.col("_ra") != F.col("_rb"))
        .select(F.col("_ra").alias("src"), F.col("_rb").alias("dst"))
        .distinct()
    )
    # Closure over the contracted graph: (old representative or new
    # node id) -> merged representative.
    merge_map = connected_components(contracted, max_iter=max_iter).select(
        F.col("node").alias("_old"), F.col("component").alias("_merged")
    )
    fresh = (
        resolver.where(F.col("_fresh"))
        .join(F.broadcast(merge_map), resolver["_r"] == F.col("_old"), "left")
        .select(
            F.col("_n").alias("node"),
            F.coalesce("_merged", "_r").alias("component"),
        )
    )
    return _remap(labels, merge_map).unionByName(fresh)
