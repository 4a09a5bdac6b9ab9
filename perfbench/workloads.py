"""The benchmark workloads.

Each workload generates its inputs from the seed (``generate``), runs
one pass through the engine's public functions (``run``, timed by the
caller, at least ``min_runs`` times) and checks the outputs of its last
pass against an independent reference (``check``). Every call into an
engine layer sits inside a tracer span named ``<module>.<call>``; a
disabled tracer makes the spans free.
"""

from __future__ import annotations

import fnmatch
import hashlib
import os
import shutil
import tempfile
import time
from contextlib import contextmanager

import numpy as np
import pyarrow.parquet as pq

import datagen

K = 10  # clusters: the fixture label count


def noop(df) -> None:
    """Materialize a DataFrame through the noop sink (full execution,
    nothing collected)."""
    df.write.format("noop").mode("overwrite").save()


class Env:
    """What a workload sees: the session, the tracer, a scratch directory."""

    def __init__(self, spark, tracer, work_dir: str):
        self.spark = spark
        self.tracer = tracer
        self.work_dir = work_dir

    def span(self, name: str, **attrs):
        return self.tracer.span(name, **attrs)


def _md5_smallest(ids: np.ndarray, k: int) -> np.ndarray:
    """Row positions of the ``k`` ids first in ``md5(str(id))`` order —
    the engine's deterministic sample, computed without Spark."""
    keys = sorted(
        (hashlib.md5(str(int(v)).encode()).hexdigest(), int(v), i)
        for i, v in enumerate(ids)
    )
    return np.array([i for _h, _v, i in keys[:k]])


def _sq_dists(X: np.ndarray, C: np.ndarray) -> np.ndarray:
    """(n, k) squared L2, accumulated one dimension at a time."""
    d = np.zeros((X.shape[0], C.shape[0]))
    for j in range(X.shape[1]):
        diff = X[:, j : j + 1] - C[None, :, j]
        d += diff * diff
    return d


def _load_embeddings(data_dir: str) -> tuple[np.ndarray, np.ndarray]:
    t = pq.read_table(os.path.join(data_dir, "embeddings.parquet"))
    ids = t.column("vec_id").to_numpy()
    flat = t.column("embedding").combine_chunks().flatten().to_numpy()
    return ids, flat.astype(np.float64).reshape(len(ids), -1)


def _close(a, b, what: str, problems: list[str], rtol=1e-9, atol=1e-9) -> None:
    a, b = np.asarray(a, dtype=np.float64), np.asarray(b, dtype=np.float64)
    if a.shape != b.shape or not np.allclose(a, b, rtol=rtol, atol=atol):
        problems.append(f"{what}: engine and reference differ")


# --- the declared-query slice -------------------------------------------

#: Stateless declared queries run in cluster_scale's pass, each with the
#: fixture tables it scans. The run budget leaves room for one: a
#: relational query among the most job-heavy of the registry (16 jobs at
#: about 1.5 s a pass), all of them JVM jobs, so it shows the per-job
#: floor and driver time. It has a DuckDB oracle twin, keeps no
#: per-process state (``run`` fails a query that starts to) and does the
#: same work on every seed (no data-dependent loop).
MIX_QUERIES = {
    "tpch_q20_excess_volume": ("part", "lineitem", "supplier", "nation", "region"),
}


def _contract_dirs() -> set[str]:
    """The per-process landing directories declared queries keep in the
    temp directory (``mrkm_<kind>_contract_<pid>``)."""
    return set(fnmatch.filter(os.listdir(tempfile.gettempdir()), "mrkm_*_contract_*"))


class DeclaredQueries:
    """The ``MIX_QUERIES`` through the noop sink, over generated fixture
    tables. Every table is generated (the DuckDB oracle views all of
    them); ``input_rows`` counts the tables the queries scan."""

    def __init__(self, scale: float):
        self.scale = scale

    def generate(self, root: str, seed: int) -> None:
        rows = {t: max(10, int(n * self.scale * 10)) for t, n in datagen.SF01_ROWS.items()}
        self.data_dir = os.path.join(root, "mix")
        datagen.fixture_tables(self.data_dir, seed, rows)
        scanned = set().union(*MIX_QUERIES.values())
        self.input_rows = sum(
            pq.read_metadata(os.path.join(self.data_dir, f"{t}.parquet")).num_rows
            for t in scanned
        )

    def _registry(self):
        from mapreducekmean_spark.contract import registry

        reg = registry()
        return [reg[q] for q in MIX_QUERIES]

    def run(self, env: Env) -> dict[str, float]:
        from mapreducekmean_spark.functions.mat import clear_persistent_rdds
        from mapreducekmean_spark.operators import kmeans as km

        # the init memo lives for the process: empty it so every pass
        # pays the same init jobs (queries inside one pass still share)
        km._INIT_MEMO.clear()
        walls = {}
        for q in self._registry():
            before = _contract_dirs()
            t0 = time.perf_counter()
            with env.span(f"contract.{q.name}"):
                noop(q.fn(env.spark, self.data_dir))
            walls[f"contract.{q.name}.wall_s"] = time.perf_counter() - t0
            if _contract_dirs() - before:
                # its second pass would time a replay, not the query
                raise RuntimeError(f"{q.name} keeps per-process state in the temp dir")
            # leftover localCheckpoint blocks of one query must not tax
            # the next one's shuffles
            clear_persistent_rdds(env.spark)
        return walls

    def check(self, env: Env) -> list[str]:
        from mapreducekmean_spark.functions.mat import clear_persistent_rdds

        from oracle_util import compare_query  # tests/, on sys.path from run.py

        problems = []
        for q in self._registry():
            try:
                found = compare_query(env.spark, self.data_dir, q)
            except Exception as exc:  # noqa: BLE001 - a crash is a failed op
                found = [f"{type(exc).__name__}: {exc}"]
            if found:
                problems.append(f"{q.name}: " + "; ".join(found))
            clear_persistent_rdds(env.spark)
        return problems


# --- cluster_scale ------------------------------------------------------


class ClusterScale:
    """Lloyd's K-Means, PQ training and the one-step assign/aggregate
    path over a Gaussian-blob embedding table, then the declared-query
    slice of the registry (``DeclaredQueries``)."""

    name = "cluster_scale"
    min_runs = 3

    def __init__(
        self, rows: int = 20_000, files: int = 8, iters: int = 3, mix_scale: float = 0.02
    ):
        self.rows, self.files, self.iters = rows, files, iters
        self.mix = DeclaredQueries(mix_scale)
        self.queries = tuple(MIX_QUERIES)
        self.ops_per_run = 3 + len(MIX_QUERIES)
        self.n_checks = 6 + len(MIX_QUERIES)
        self.last = None

    def generate(self, root: str, seed: int) -> None:
        self.data_dir = os.path.join(root, "blobs")
        datagen.blobs(self.data_dir, seed, self.rows, self.files)
        self.mix.generate(root, seed)
        self.input_rows = self.rows + self.mix.input_rows

    def run(self, env: Env) -> dict[str, float]:
        from mapreducekmean_spark.operators import kmeans as km
        from mapreducekmean_spark.operators import pq

        pts = km.embeddings(env.spark, self.data_dir)
        with env.span("kmeans.lloyd") as s:
            res = km.lloyd(pts, K, max_iter=self.iters, tol=0.0)
            if s is not None:
                s.attrs["iterations"] = res.iterations
        with env.span("pq.train"):
            codebooks = pq.train_pq_codebooks(pts, datagen.DIM)
        with env.span("kmeans.assign"):
            # k-row results: collecting them costs what the noop sink does
            assigned = km.assign(pts, res.centroids)
            sizes = dict(km.cluster_sizes(assigned).collect())
            wss = {r.cluster_id: r.wssse for r in km.wssse_per_cluster(assigned).collect()}
        self.last = res, codebooks, sizes, wss
        return self.mix.run(env)

    def finish(self, env: Env) -> None:
        pass

    def check(self, env: Env) -> list[str]:
        from mapreducekmean_spark.operators import kmeans as km
        from mapreducekmean_spark.operators import pq

        res, codebooks, sizes, wss = self.last
        ids, X = _load_embeddings(self.data_dir)
        problems: list[str] = []
        # Lloyd from the same md5 init, tol=0 → exactly `iters` passes
        C = X[_md5_smallest(ids, K)].copy()
        for _ in range(self.iters):
            a = np.argmin(_sq_dists(X, C), axis=1)
            for j in range(K):
                if (a == j).any():
                    C[j] = X[a == j].mean(axis=0)
        if res.iterations != self.iters:
            problems.append(f"lloyd ran {res.iterations} of {self.iters} iterations")
        _close(res.centroids, C, "lloyd centroids", problems)
        d = _sq_dists(X, np.asarray(res.centroids))
        ref_a = np.argmin(d, axis=1)
        assigned = km.assign(km.embeddings(env.spark, self.data_dir), res.centroids)
        got = dict(assigned.select("vec_id", "cluster_id").collect())
        if [got.get(int(i)) for i in ids] != ref_a.tolist():
            problems.append("assignments differ from the numpy reference")
        if [sizes.get(j, 0) for j in range(K)] != np.bincount(ref_a, minlength=K).tolist():
            problems.append("cluster_sizes differ from the numpy reference")
        ref_w = np.bincount(ref_a, weights=d.min(axis=1), minlength=K)
        _close([wss.get(j, 0.0) for j in range(K)], ref_w, "wssse", problems, atol=2e-6)
        # PQ: md5-smallest PQ_K vectors sliced into PQ_M subspaces, then
        # PQ_ITERS simultaneous per-subspace Lloyd passes
        m, kq, ds = pq.PQ_M, pq.PQ_K, datagen.DIM // pq.PQ_M
        cb = X[_md5_smallest(ids, kq)].reshape(kq, m, ds).transpose(1, 0, 2).copy()
        for _ in range(pq.PQ_ITERS):
            for s in range(m):
                xs = X[:, s * ds : (s + 1) * ds]
                codes = np.argmin(_sq_dists(xs, cb[s]), axis=1)
                for c in range(kq):
                    if (codes == c).any():
                        cb[s, c] = xs[codes == c].mean(axis=0)
        _close(codebooks, cb, "pq codebooks", problems)
        return problems + self.mix.check(env)


# --- delta_maintain -----------------------------------------------------


def _files_state(path: str) -> dict[str, tuple[int, int]]:
    out = {}
    for root, _dirs, names in os.walk(path):
        for f in names:
            p = os.path.join(root, f)
            st = os.stat(p)
            out[p] = (st.st_size, st.st_mtime_ns)
    return out


def _tree_digest(path: str) -> str:
    h = hashlib.sha256()
    for root, dirs, names in os.walk(path):
        dirs.sort()
        for f in sorted(names):
            p = os.path.join(root, f)
            h.update(os.path.relpath(p, path).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


class DeltaMaintain:
    """Land, apply a delta batch to, replay and read three maintained
    stores: the per-customer order aggregate (cdc), the dedup index
    (incremental) and the IVF vector index (similarity)."""

    name = "delta_maintain"
    PHASES = ("land", "apply", "replay", "read")
    #: per-pass figures printed beside the end-to-end metrics, with units
    RUN_EXTRAS = tuple((f"{ph}_s", "s") for ph in PHASES) + (
        ("stored_bytes_per_input_byte", "ratio"),
    )
    n_checks = 3
    min_runs = 1

    #: land: 3 calls; apply: 4; replay: 3; read: 2
    ops_per_run = 3 + 4 + 3 + 2

    def __init__(self, orders: int = 20_000, docs: int = 1_000, vecs: int = 4_000):
        self.n_orders, self.n_docs, self.n_vecs = orders, docs, vecs
        self.runs = 0
        self.last = None

    def generate(self, root: str, seed: int) -> None:
        self.data_dir = os.path.join(root, "delta")
        os.makedirs(self.data_dir, exist_ok=True)
        rng = np.random.default_rng(seed)
        no = self.n_orders
        datagen.write_table(self.data_dir, "orders", datagen.orders_table(rng, no, max(1, no // 10)))
        datagen.write_table(self.data_dir, "documents", datagen.documents_table(rng, self.n_docs))
        datagen.write_table(
            self.data_dir,
            "embeddings",
            datagen.embeddings_table(rng, self.n_vecs, spread=0.01, noise=0.125),
        )
        self.input_rows = self.n_orders + self.n_docs + self.n_vecs
        self.input_bytes = sum(
            os.path.getsize(os.path.join(self.data_dir, f"{t}.parquet"))
            for t in ("orders", "documents", "embeddings")
        )

    def _inputs(self, env: Env, data_dir: str):
        from pyspark.sql import functions as F

        from mapreducekmean_spark.operators import kmeans as km
        from mapreducekmean_spark.operators import text as tx
        from mapreducekmean_spark.sources import load_table

        orders = load_table(env.spark, data_dir, "orders").select(
            "o_orderkey",
            "o_custkey",
            F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
        )
        pts = km.embeddings(env.spark, data_dir).select("vec_id", "emb")
        tables = (
            ("orders", "o_orderkey", orders),
            ("documents", "doc_id", tx.documents(env.spark, data_dir)),
            ("embeddings", "vec_id", pts),
        )
        parts = []
        for table, key, df in tables:
            n = pq.read_metadata(os.path.join(data_dir, f"{table}.parquet")).num_rows
            # the first half of the keys (generated as 0..n-1) lands,
            # the rest is the delta batch
            parts.append([df.filter(F.col(key) < n // 2), df.filter(F.col(key) >= n // 2)])
        orders_parts = [b.drop("o_orderkey") for b in parts[0]]
        return orders_parts, parts[1], parts[2], pts

    def run(self, env: Env) -> dict[str, float]:
        """One maintenance cycle into a fresh directory that it owns."""
        from mapreducekmean_spark.functions.mat import clear_persistent_rdds
        from mapreducekmean_spark.operators import cdc, incremental as inc
        from mapreducekmean_spark.operators import kmeans as km
        from mapreducekmean_spark.operators import similarity as sim

        self.runs += 1
        data_dir = self.data_dir
        root = os.path.join(env.work_dir, "delta_runs", f"run{self.runs}")
        agg, dedup, ivf = (os.path.join(root, s) for s in ("agg", "dedup", "ivf"))
        name = f"pb_dedup_{self.runs}"
        orders, docs, vecs, pts = self._inputs(env, data_dir)
        out = {"files_written": 0, "bytes_written": 0}
        state: dict[str, tuple[int, int]] = {}

        @contextmanager
        def phase(ph):
            with env.span(f"phase.{ph}"):
                t0 = time.perf_counter()
                yield
                out[f"{ph}_s"] = time.perf_counter() - t0
            # files new or rewritten since the previous phase ended
            now = _files_state(root)
            new = [p for p, v in now.items() if state.get(p) != v]
            out["files_written"] += len(new)
            out["bytes_written"] += sum(now[p][0] for p in new)
            state.clear()
            state.update(now)

        with phase("land"):
            with env.span("cdc.land"):
                cdc.land_agg_snapshot(orders[0], agg, key="o_custkey", sums=["cents"])
            with env.span("incremental.land"):
                inc.land_dedup_index(env.spark, docs[0], name, dedup)
            with env.span("similarity.land"):
                cents = km.collect_centroids(km.deterministic_init(pts, K))
                sim.land_ivf_index_points(env.spark, vecs[0], ivf, cents=cents)
        with phase("apply"):
            with env.span("cdc.apply"):
                cdc.apply_agg_delta(env.spark, orders[1], agg, batch_id=1)
            with env.span("incremental.apply"):
                noop(inc.dedup_delta(env.spark, docs[1], name))
                inc.append_to_index(env.spark, docs[1], name)
            with env.span("similarity.apply"):
                sim.append_ivf_index(env.spark, vecs[1], ivf)
        digest = _tree_digest(root)
        with phase("replay"):
            with env.span("cdc.replay"):
                cdc.apply_agg_delta(env.spark, orders[1], agg, batch_id=1)
            with env.span("incremental.replay"):
                if not inc.batch_already_indexed(env.spark, docs[1], name):
                    inc.append_to_index(env.spark, docs[1], name)
            with env.span("similarity.replay"):
                sim.append_ivf_index(env.spark, vecs[1], ivf)
        replay_same = _tree_digest(root) == digest
        with phase("read"):
            with env.span("cdc.read"):
                noop(cdc.read_agg_snapshot(env.spark, agg))
            with env.span("similarity.read"):
                # n_queries x k rows: collecting costs what the noop sink does
                ann = sorted(map(tuple, sim.ann_ivf_indexed(env.spark, data_dir, ivf).collect()))
        out["run_s"] = sum(out[f"{ph}_s"] for ph in self.PHASES)
        out["stored_bytes_per_input_byte"] = datagen.dir_bytes(root) / self.input_bytes
        clear_persistent_rdds(env.spark)
        self._drop_last(env)
        self.last = (root, name, data_dir, replay_same, ann)
        return out

    def _drop(self, env: Env, root: str, name: str) -> None:
        from mapreducekmean_spark.operators.incremental import _INDEX_TABLES

        for suffix, _schema, _key in _INDEX_TABLES:
            env.spark.sql(f"DROP TABLE IF EXISTS {name}_{suffix}")
        shutil.rmtree(root, ignore_errors=True)

    def _drop_last(self, env: Env) -> None:
        if self.last:
            root, name = self.last[:2]
            self._drop(env, root, name)
            self.last = None

    def check(self, env: Env) -> list[str]:
        import duckdb

        from mapreducekmean_spark.operators import similarity as sim

        root, _name, data_dir, replay_same, ann = self.last
        problems = []
        if not replay_same:
            problems.append("replaying the last batch changed the stores")
        con = duckdb.connect()
        try:
            got = con.sql(
                f"SELECT o_custkey, n, cents, last_bid FROM read_parquet("
                f"'{root}/agg/**/*.parquet', hive_partitioning = true)"
            ).fetchall()
            want = con.sql(
                f"""
                SELECT o_custkey, count(*) AS n,
                       sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents,
                       max(CASE WHEN o_orderkey < {self.n_orders // 2} THEN 0 ELSE 1 END)
                           AS last_bid
                FROM '{data_dir}/orders.parquet' GROUP BY o_custkey
                """
            ).fetchall()
        finally:
            con.close()
        if sorted(map(tuple, got)) != sorted((a, b, int(c), d) for a, b, c, d in want):
            problems.append("maintained aggregate differs from the one-shot GROUP BY")
        ref = sorted(map(tuple, sim.ivf_topk(env.spark, data_dir).collect()))
        if ann != ref:
            problems.append("indexed ANN differs from in-session ivf_topk")
        return problems

    def finish(self, env: Env) -> None:
        self._drop_last(env)


WORKLOADS = {
    "cluster_scale": ClusterScale,
    "delta_maintain": DeltaMaintain,
}
