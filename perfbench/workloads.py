"""The three benchmark workloads.

Each workload prepares its inputs once per run, then runs one pass: a
fixed sequence of public calls into ``odl_etl_spark``, each driven to a
complete, collected result that ``check`` reads afterwards. Every call
goes through ``tracer.call(layer, call)``, which is a no-op when tracing
is off.

All paths a pass writes live under its own directory, inside the run
directory that the runner removes at exit.
"""

from __future__ import annotations

import glob
import os
import time
from collections import Counter

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

import checks
import gen

SALT = "odl-etl-salt"  # functions.hashing.DEFAULT_SALT, restated on purpose


def dir_bytes(path: str) -> tuple[int, int]:
    """(data files, bytes) under ``path``; Spark's ``.crc`` and marker
    files are not counted."""
    files = size = 0
    for root, _, names in os.walk(path):
        for n in names:
            if n.startswith(".") or n.startswith("_"):
                continue
            files += 1
            size += os.path.getsize(os.path.join(root, n))
    return files, size


class Workload:
    """One workload: its inputs, one pass of calls, and the checks of
    the pass's outputs."""

    name = ""

    def __init__(self, spark, inputs_root: str, work: str, seed: int):
        self.spark = spark
        self.inputs_root = inputs_root
        self.inputs = ""
        self.work = work
        self.seed = seed
        self.out: dict = {}
        self.stored_bytes = 0
        self.stored_files = 0
        self.update_bytes = 0
        self.state_bytes: dict[str, int] = {}
        self.untimed_s = 0.0

    # Generated inputs: (k, documents, embeddings) for gen.generate.
    sizes = (1, 100, 100)

    def prepare(self) -> None:
        """Generate (or reuse) the seed's tables; subclasses derive their
        own inputs from them after this."""
        k, n_docs, n_vecs = self.sizes
        self.inputs = gen.generate(
            os.path.join(
                self.inputs_root, f"{self.name}-k{k}-d{n_docs}-v{n_vecs}-s{self.seed}"
            ),
            self.seed,
            k,
            n_docs,
            n_vecs,
        )

    def run_pass(self, tr, pass_dir: str) -> int:
        """Run the pass; returns the number of operations attempted."""
        raise NotImplementedError

    def check(self) -> list[tuple[str, str | None]]:
        """(check, failure message or None) for every checked output of
        the pass; a check is named ``<operation>[:<aspect>]``."""
        raise NotImplementedError

    # -- shared call shapes ---------------------------------------------
    def registry_key(self, tr, key: str) -> None:
        from odl_etl_spark.queries import registry

        spec = registry()[key]
        with tr.call("queries", key) as sp:
            t0 = time.perf_counter()
            df = spec.build(self.spark, self.inputs)
            tr.count(sp, "build_s", time.perf_counter() - t0)
            self.out[key] = (df.columns, [tuple(r) for r in df.collect()])

    def check_keys(self, keys) -> list[tuple[str, str | None]]:
        from odl_etl_spark.queries import registry

        reg = registry()
        res = []
        con = checks.duck_connect(self.inputs)
        try:
            for key in keys:
                try:
                    want_cols, want_rows = checks.oracle_rows(con, reg[key].oracle)
                    got_cols, got_rows = self.out[key]
                    checks.same_rows(key, got_cols, got_rows, want_cols, want_rows)
                    res.append((key, None))
                except checks.CheckFailed as exc:
                    res.append((key, str(exc)))
        finally:
            con.close()
        return res


def _run_check(name: str, fn, *args) -> tuple[str, str | None]:
    try:
        fn(*args)
        return name, None
    except checks.CheckFailed as exc:
        return name, str(exc)


class LakeEtl(Workload):
    """Extract → transform → load on a TPC-H-like lake: eight registry
    keys, then a month-partitioned write of ``lineitem``, a
    partition-scoped upsert and a compaction."""

    name = "lake_etl"
    KEYS = (
        "project_hash_email",
        "agg_groupby",
        "join_inner_equi",
        "sql_tpch_q1",
        "sql_tpch_q3",
        "sql_tpch_q5",
        "sql_tpch_q18",
        "events_sessionize",
    )
    sizes = (20, 10, 10)
    UPSERT_MONTHS = 3

    def prepare(self) -> None:
        super().prepare()
        # The upsert batch is an input: the seed picks three months, a
        # tenth of their lines get a new quantity and 500 lines arrive
        # under new order keys.
        rng = np.random.default_rng(self.seed + 1)
        li = pq.read_table(os.path.join(self.inputs, "lineitem.parquet")).to_pandas()
        li["ds"] = li["l_shipdate"].dt.strftime("%Y%m")
        months = sorted(li["ds"].unique())
        pick = sorted(rng.choice(months[1:-1], self.UPSERT_MONTHS, replace=False))
        touched = li[li["ds"].isin(pick)]
        changed = touched.sample(frac=0.1, random_state=int(rng.integers(1 << 31)))
        changed = changed.assign(l_quantity=changed["l_quantity"] + 100.0)
        fresh = touched.sample(n=500, random_state=int(rng.integers(1 << 31)))
        fresh = fresh.assign(l_orderkey=fresh["l_orderkey"] + 10**9)
        self.updates_path = os.path.join(self.work, "updates.parquet")
        pq.write_table(
            pa.Table.from_pandas(pd.concat([changed, fresh]), preserve_index=False),
            self.updates_path,
        )
        self.update_bytes = os.path.getsize(self.updates_path)
        self.n_base = len(li)
        self.n_new = len(fresh)
        self.n_changed = len(changed)

    def run_pass(self, tr, pass_dir: str) -> int:
        from pyspark.sql import functions as F

        from odl_etl_spark.io.sinks import compact, partitioned_write, with_ds
        from odl_etl_spark.io.sources import load_table
        from odl_etl_spark.operators.upsert import upsert_partitioned

        for key in self.KEYS:
            self.registry_key(tr, key)
        lake = os.path.join(pass_dir, "lake")
        compacted = os.path.join(pass_dir, "lake_compacted")
        with tr.call("io.sinks", "partitioned_write"):
            li = load_table(self.spark, self.inputs, "lineitem")
            partitioned_write(with_ds(li, "l_shipdate", "yyyyMM"), lake, ("ds",))
        with tr.call("operators.upsert", "upsert_partitioned"):
            updates = self.spark.read.parquet(self.updates_path).withColumn(
                "ds", F.col("ds").cast("string")
            )
            n = upsert_partitioned(
                self.spark, lake, updates, ["l_orderkey", "l_linenumber"], "ds"
            )
        with tr.call("io.sinks", "compact"):
            compact(self.spark, lake, compacted)
        (f1, b1), (f2, b2) = dir_bytes(lake), dir_bytes(compacted)
        self.stored_files, self.stored_bytes = f1 + f2, b1 + b2
        self.out.update(upserted=n, lake=lake, compacted=compacted)
        return len(self.KEYS) + 3

    def check(self) -> list[tuple[str, str | None]]:
        res = self.check_keys(self.KEYS)
        con = checks.duck_connect(self.inputs)
        try:
            names = dict(con.execute("SELECT c_custkey, c_name FROM customer").fetchall())
            cols, rows = self.out["project_hash_email"]
            ix = [cols.index("c_custkey"), cols.index("hashed_id")]
            res.append(
                _run_check(
                    "project_hash_email:sha256",
                    checks.salted_hashes,
                    [(r[ix[0]], r[ix[1]]) for r in rows],
                    names,
                    SALT,
                )
            )
            lake = self.out["lake"]
            files = os.path.join(lake, "**", "*.parquet")
            n_after, n_updated = con.execute(
                f"""SELECT COUNT(*), COUNT(*) FILTER (WHERE l_quantity > 100)
                FROM read_parquet('{files}', hive_partitioning = true)"""
            ).fetchone()
            months = {}
            for ds, m in con.execute(
                f"""SELECT DISTINCT CAST(ds AS VARCHAR), strftime(l_shipdate, '%Y%m')
                FROM read_parquet('{files}', hive_partitioning = true,
                                  hive_types_autocast = false)"""
            ).fetchall():
                months.setdefault(ds, set()).add(m)

            def upsert():
                checks.upsert_rows(self.n_base, self.n_new, n_after)
                if self.out["upserted"] != self.UPSERT_MONTHS:
                    raise checks.CheckFailed(
                        f"upsert: rewrote {self.out['upserted']} partitions, "
                        f"want {self.UPSERT_MONTHS}"
                    )
                if n_updated != self.n_changed:
                    raise checks.CheckFailed(
                        f"upsert: {n_updated} updated lines, want {self.n_changed}"
                    )
                checks.partition_months(months)

            res.append(_run_check("upsert_partitioned", upsert))
            comp = os.path.join(self.out["compacted"], "*.parquet")
            n_comp = con.execute(f"SELECT COUNT(*) FROM read_parquet('{comp}')").fetchone()[0]
            res.append(
                _run_check(
                    "compact",
                    checks.same_set,
                    "compact rows",
                    {n_comp},
                    {n_after},
                )
            )
            res.append(("partitioned_write", None if months else "no partitions"))
        finally:
            con.close()
        return res


class Curation(Workload):
    """The LLM curation DAG on a 1,000-document corpus: the curation
    funnel with its partitioned write, MinHash-LSH pairs, the incremental
    fold of half of those pairs into labels that hold the other half, and
    fixed-point PageRank over the supplier-part graph."""

    name = "curation"
    sizes = (2, 1000, 10)
    PAGERANK_ITERS = 3

    def run_pass(self, tr, pass_dir: str) -> int:
        from pyspark.sql import functions as F

        from odl_etl_spark.io.sources import load_table
        from odl_etl_spark.operators.components import connected_components_incremental
        from odl_etl_spark.operators.dedup import minhash_lsh_pairs
        from odl_etl_spark.operators.pagerank import pagerank_fixed
        from odl_etl_spark.pipelines.curation import curate_corpus

        corpus = os.path.join(pass_dir, "curated")
        with tr.call("pipelines.curation", "curate_corpus"):
            _, funnel = curate_corpus(self.spark, self.inputs, corpus)
            funnel_rows = [tuple(r) for r in funnel.collect()]
        docs = load_table(self.spark, self.inputs, "documents")
        with tr.call("operators.dedup", "minhash_lsh_pairs") as sp:
            pairs = minhash_lsh_pairs(docs, "doc_id", "text", threshold=0.8).select(
                "id_a", "id_b"
            )
            pair_rows = sorted(tuple(r) for r in pairs.collect())
            tr.count(sp, "pairs", len(pair_rows))
        # Half of the pairs stand as already-clustered labels (closed by
        # the Python union-find); the other half is folded into them.
        first, second = pair_rows[::2], pair_rows[1::2]
        standing = self.spark.createDataFrame(
            sorted(checks.union_find(first).items()), "node long, component long"
        )
        with tr.call("operators.components", "connected_components_incremental"):
            new_edges = self.spark.createDataFrame(second, "id_a long, id_b long")
            folded = connected_components_incremental(standing, new_edges, "id_a", "id_b")
            labels = [tuple(r) for r in folded.select("node", "component").collect()]
        with tr.call("operators.pagerank", "pagerank_fixed"):
            li = load_table(self.spark, self.inputs, "lineitem")
            graph = li.select(
                F.concat(F.lit("s"), F.col("l_suppkey")).alias("src"),
                F.concat(F.lit("p"), F.col("l_partkey")).alias("dst"),
            ).distinct()
            ranks = pagerank_fixed(graph, iterations=self.PAGERANK_ITERS)
            rank_rows = [tuple(r) for r in ranks.collect()]
        self.stored_files, self.stored_bytes = dir_bytes(corpus)
        self.out.update(funnel=funnel_rows, pairs=pair_rows, labels=labels, ranks=rank_rows)
        return 4

    def check(self) -> list[tuple[str, str | None]]:
        from odl_etl_spark.operators.pagerank import SCALE
        from odl_etl_spark.queries import registry

        reg = registry()
        res = []
        con = checks.duck_connect(self.inputs)
        try:
            n_corpus = con.execute(
                "SELECT COUNT(*) FROM documents WHERE source <> 'src0'"
            ).fetchone()[0]
            funnel = self.out["funnel"]

            def curate():
                checks.funnel_total(funnel, n_corpus)
                want_cols, want_rows = checks.oracle_rows(
                    con, reg["corpus_curation_funnel"].oracle
                )
                checks.same_rows(
                    "curate_corpus funnel", ["stage", "n_docs"], funnel, want_cols, want_rows
                )

            res.append(_run_check("curate_corpus", curate))
            want_pairs = checks.cross_batch_pairs(
                con, "SELECT doc_id, text, doc_id AS batch FROM documents", 0.8
            )
            res.append(
                _run_check(
                    "minhash_lsh_pairs",
                    checks.exactly_once,
                    "pairs",
                    [(max(a, b), min(a, b)) for a, b in self.out["pairs"]],
                    want_pairs,
                )
            )
            res.append(
                _run_check(
                    "connected_components_incremental",
                    checks.components,
                    self.out["pairs"],
                    self.out["labels"],
                )
            )
            ranks = self.out["ranks"]
            n_edges = con.execute(
                """SELECT COUNT(*) FROM (
                     SELECT DISTINCT 's' || l_suppkey AS a, 'p' || l_partkey AS b
                     FROM lineitem)"""
            ).fetchone()[0]

            def pagerank():
                checks.pagerank_mass(
                    [r for _, r in ranks], 2 * n_edges, self.PAGERANK_ITERS, SCALE
                )
                top = sorted(ranks, key=lambda r: (-r[1], r[0]))[:20]
                want_cols, want_rows = checks.oracle_rows(con, reg["graph_pagerank"].oracle)
                checks.same_rows("graph_pagerank", ["node", "rank"], top, want_cols, want_rows)

            res.append(_run_check("pagerank_fixed", pagerank))
        finally:
            con.close()
        return res


class StreamIngest(Workload):
    """Streaming ingest with durable state: near-dedup of arriving
    documents with the online cluster fold, PQ vector ingest, a top-k
    probe of the stored index and compaction of the dedup state."""

    name = "stream_ingest"
    sizes = (1, 600, 600)
    DOC_FILES = 2
    VEC_FILES = 2
    PROBES = 1
    ARRIVING = 0.3

    def prepare(self) -> None:
        super().prepare()
        rng = np.random.default_rng(self.seed + 2)
        docs = pq.read_table(os.path.join(self.inputs, "documents.parquet"))
        vecs = pq.read_table(os.path.join(self.inputs, "embeddings.parquet"))
        n_d, n_v = docs.num_rows, vecs.num_rows
        # Arrivals come from the later half of the ids. Every planted near
        # duplicate there arrives, dealt evenly over the files: a batch
        # without pairs would take the fold's cheap no-edges path, and the
        # pass time would then depend on the seed's luck.
        d_batch = np.full(n_d, -1)
        late = np.arange(n_d // 2, n_d)
        is_dup = np.array([t.endswith(" dup") for t in docs["text"].to_pylist()])
        dups = rng.permutation(late[is_dup[late]])
        rest = rng.choice(
            late[~is_dup[late]], int(n_d * self.ARRIVING) - len(dups), replace=False
        )
        d_batch[dups] = np.arange(len(dups)) % self.DOC_FILES
        d_batch[rest] = rng.permutation(np.arange(len(rest)) % self.DOC_FILES)
        v_batch = np.full(n_v, -1)
        arr = rng.choice(np.arange(1, n_v), int(n_v * self.ARRIVING), replace=False)
        v_batch[arr] = rng.permutation(np.arange(len(arr)) % self.VEC_FILES)
        docs = docs.select(["doc_id", "text", "source"])
        vecs = pa.table(
            {
                "vec_id": vecs["vec_id"],
                "v": pa.array(
                    [np.asarray(x, np.float64) for x in vecs["embedding"].to_pylist()],
                    pa.list_(pa.float64()),
                ),
            }
        )
        self.docs_arrivals = os.path.join(self.work, "doc_arrivals")
        self.vec_arrivals = os.path.join(self.work, "vec_arrivals")
        for path, table, batch, n in (
            (self.docs_arrivals, docs, d_batch, self.DOC_FILES),
            (self.vec_arrivals, vecs, v_batch, self.VEC_FILES),
        ):
            os.makedirs(path)
            for b in range(n):
                f = os.path.join(path, f"batch_{b}.parquet")
                pq.write_table(table.filter(pa.array(batch == b)), f)
                os.utime(f, (1_700_000_000 + b, 1_700_000_000 + b))
        self.doc_batch = {int(i): int(b) for i, b in zip(docs["doc_id"].to_pylist(), d_batch)}
        self.corpus_docs = os.path.join(self.work, "corpus_docs.parquet")
        pq.write_table(docs.filter(pa.array(d_batch == -1)), self.corpus_docs)
        self.corpus_vecs = os.path.join(self.work, "corpus_vecs.parquet")
        pq.write_table(vecs.filter(pa.array(v_batch == -1)), self.corpus_vecs)
        self.all_vecs = os.path.join(self.work, "all_vecs.parquet")
        pq.write_table(vecs, self.all_vecs)
        self.vec_np = {
            int(i): np.asarray(v)
            for i, v in zip(vecs["vec_id"].to_pylist(), vecs["v"].to_pylist())
        }
        probe_ids = rng.choice(np.arange(1, n_v), self.PROBES, replace=False)
        self.probes = [
            [float(x) for x in self.vec_np[int(i)] + rng.normal(0.0, 0.05, 64)]
            for i in probe_ids
        ]

    def _stream(self, tr, layer: str, call: str, start, path: str, schema: str) -> None:
        """Start a stream over the arrival files with ``start`` and drain
        it; the span records the stream's batches."""
        arrivals = (
            self.spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(path)
        )
        with tr.call(layer, call) as sp:
            t0 = time.perf_counter()
            q = start(arrivals)
            tr.count(sp, "bootstrap_s", time.perf_counter() - t0)
            tr.stream(sp, q)
            q.awaitTermination()
            if q.exception() is not None:
                raise RuntimeError(str(q.exception()))
            batches = [
                p["durationMs"]["triggerExecution"] / 1000.0
                for p in q.recentProgress
                if p.get("numInputRows", 0) > 0
            ]
            tr.count(sp, "batches", len(batches))
            tr.count(sp, "batch_s_sum", sum(batches))

    def run_pass(self, tr, pass_dir: str) -> int:
        from odl_etl_spark.streaming.ingest_ann import ingest_pq_stream, probe_pq_state
        from odl_etl_spark.streaming.ingest_dedup import compact_state, ingest_dedup_stream

        state = os.path.join(pass_dir, "state")
        corpus = self.spark.read.parquet(self.corpus_docs)
        corpus_v = self.spark.read.parquet(self.corpus_vecs)
        e_v = self.spark.read.parquet(self.all_vecs)
        self._stream(
            tr,
            "streaming.ingest_dedup",
            "ingest_dedup_stream",
            lambda a: ingest_dedup_stream(
                a,
                corpus,
                state,
                os.path.join(pass_dir, "ckpt_dedup"),
                fold_clusters=True,
            ),
            self.docs_arrivals,
            "doc_id long, text string, source string",
        )
        self._stream(
            tr,
            "streaming.ingest_ann",
            "ingest_pq_stream",
            lambda a: ingest_pq_stream(
                a, corpus_v, state, os.path.join(pass_dir, "ckpt_pq")
            ),
            self.vec_arrivals,
            "vec_id long, v array<double>",
        )
        probes = []
        for vec in self.probes:
            with tr.call("operators.ann_index", "probe_pq_state"):
                top = probe_pq_state(self.spark, state, e_v, vec, k=10)
                probes.append([tuple(r) for r in top.collect()])
        # The snapshot compaction is checked against; not timed.
        t0 = time.perf_counter()
        self.out.update(state=state, probes=probes, stores=self._state_rows(state))
        self.untimed_s += time.perf_counter() - t0
        with tr.call("streaming.ingest_dedup", "compact_state"):
            compact_state(self.spark, state, upto_batch_id=self.DOC_FILES - 2)
        self.stored_files, self.stored_bytes = dir_bytes(state)
        ann = dir_bytes(os.path.join(state, "pq"))[1]
        self.state_bytes = {"dedup": self.stored_bytes - ann, "ann": ann}
        return 3 + self.PROBES

    @staticmethod
    def _state_rows(state: str) -> dict[str, Counter]:
        """Every row of each committed store, as a multiset, read with
        DuckDB straight from the Parquet files (partition columns such as
        ``_batch_id`` live in directory names and are not read)."""
        con = checks.duck_connect("")

        def rows(sub: str, cols: str) -> list[tuple]:
            files = os.path.join(state, sub, "**", "*.parquet")
            if not glob.glob(files, recursive=True):
                return []
            return con.execute(
                f"SELECT {cols} FROM read_parquet('{files}', hive_partitioning = false)"
            ).fetchall()

        try:
            return {
                "pairs": Counter(rows("pairs", "new_id, ex_id")),
                "clusters": Counter(rows("clusters", "node, component")),
                "docs": Counter(r[0] for r in rows("docs", "doc_id")),
                "index": Counter(rows("index", "*")),
                "codes": Counter(rows(os.path.join("pq", "codes"), "vec_id, sub")),
            }
        finally:
            con.close()

    def check(self) -> list[tuple[str, str | None]]:
        from odl_etl_spark.operators.ann_index import PQ_SUBS
        from odl_etl_spark.streaming.ingest_dedup import probe_and_commit_batch

        res = []
        out = self.out
        con = checks.duck_connect(self.inputs)
        try:
            con.execute("CREATE TABLE batch_of (doc_id BIGINT, batch INTEGER)")
            con.executemany("INSERT INTO batch_of VALUES (?, ?)", list(self.doc_batch.items()))
            want = checks.cross_batch_pairs(
                con,
                "SELECT doc_id, text, batch FROM documents JOIN batch_of USING (doc_id)",
                0.8,
            )
        finally:
            con.close()
        stores = out["stores"]
        res += [
            _run_check(
                "ingest_dedup_stream:pairs",
                checks.exactly_once,
                "pairs",
                stores["pairs"],
                want,
            ),
            _run_check(
                "ingest_dedup_stream:clusters",
                checks.components,
                sorted(stores["pairs"]),
                list(stores["clusters"].elements()),
            ),
            _run_check(
                "ingest_dedup_stream:docs",
                checks.exactly_once,
                "docs",
                stores["docs"],
                set(self.doc_batch),
            ),
            _run_check(
                "ingest_pq_stream",
                checks.codes_once,
                list(stores["codes"].elements()),
                set(self.vec_np) - {0},  # vec_id 0 is the probe row pq_encode skips
                PQ_SUBS,
            ),
        ]

        def probes():
            for vec, rows in zip(self.probes, out["probes"]):
                if len(rows) != 10:
                    raise checks.CheckFailed(f"probe: {len(rows)} rows, want 10")
                p = np.asarray(vec)
                for vid, d in rows:
                    exact = float(np.linalg.norm(self.vec_np[vid] - p))
                    if abs(exact - d) > 2e-6:
                        raise checks.CheckFailed(f"probe: vec {vid} distance {d} != {exact:.6f}")
                if rows != sorted(rows, key=lambda r: (r[1], r[0])):
                    raise checks.CheckFailed("probe: results not in (distance, id) order")

        res.append(_run_check("probe_pq_state", probes))
        compacted = self._state_rows(out["state"])
        res.append(
            _run_check(
                "compact_state",
                checks.same_stores,
                "compact_state",
                stores,
                compacted,
                ("pairs", "clusters", "docs", "index"),
            )
        )
        # Replay of the last committed micro-batch must leave every store
        # it writes as it was, row for row.
        last = self.DOC_FILES - 1
        batch = self.spark.read.parquet(os.path.join(self.docs_arrivals, f"batch_{last}.parquet"))
        probe_and_commit_batch(batch, last, out["state"])
        res.append(
            _run_check(
                "ingest_dedup_stream:replay",
                checks.same_stores,
                f"replay of batch {last}",
                compacted,
                self._state_rows(out["state"]),
                ("pairs", "docs", "index"),
            )
        )
        return res


class LakeCuration(Workload):
    """``lake_etl``'s pass, then ``curation``'s, in one process, each on
    its own generated inputs: the scan-, shuffle- and write-heavy lake
    load next to the job-heavy curation DAG, long enough together that
    one pass repeats from run to run."""

    name = "lake_curation"

    def __init__(self, spark, inputs_root: str, work: str, seed: int):
        super().__init__(spark, inputs_root, work, seed)
        self.parts = [
            cls(spark, inputs_root, os.path.join(work, cls.name), seed)
            for cls in (LakeEtl, Curation)
        ]

    def prepare(self) -> None:
        for part in self.parts:
            os.makedirs(part.work)
            part.prepare()
        self.update_bytes = sum(part.update_bytes for part in self.parts)

    def run_pass(self, tr, pass_dir: str) -> int:
        n = sum(part.run_pass(tr, os.path.join(pass_dir, part.name)) for part in self.parts)
        self.untimed_s = sum(part.untimed_s for part in self.parts)
        self.stored_files = sum(part.stored_files for part in self.parts)
        self.stored_bytes = sum(part.stored_bytes for part in self.parts)
        return n

    def check(self) -> list[tuple[str, str | None]]:
        return [r for part in self.parts for r in part.check()]


WORKLOADS = {w.name: w for w in (LakeCuration, StreamIngest)}
