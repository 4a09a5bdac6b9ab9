"""Self-check harness mirroring the driver's t2 gate: run a contract query
on Spark and its oracle SQL on DuckDB over the same parquet, compare
row-count + column names + order-insensitive values (columns sorted by
name, exact equality — the queries themselves are responsible for
rounding multi-row float aggregates)."""

from __future__ import annotations

import datetime
import math

import duckdb

from mapreducekmean_spark.sources import TABLES


def duckdb_conn(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    return con


def _norm(v):
    if isinstance(v, bool):
        return v
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return v
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    return v


def rows_to_multiset(cols: list[str], rows: list[tuple]) -> list[tuple]:
    """Sort columns by name (driver behavior), normalize cells, sort rows."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_norm(r[i]) for i in order) for r in rows]
    return sorted(out, key=repr)


def compare_query(spark, sf_dir: str, query) -> list[str]:
    """Returns a list of mismatch descriptions (empty = pass)."""
    sdf = query.fn(spark, sf_dir)
    s_cols = sdf.columns
    s_rows = [tuple(r) for r in sdf.collect()]

    problems: list[str] = []
    if query.oracle is None:
        # rows-only: the driver only records the count, but a silently
        # empty result should still fail the self-check.
        if len(s_rows) == 0:
            problems.append("rows-only query returned 0 rows")
        return problems

    con = duckdb_conn(sf_dir)
    try:
        rel = con.sql(query.oracle)
        d_cols = rel.columns
        d_types = [str(t).upper() for t in rel.types]
        d_rows = rel.fetchall()
    finally:
        con.close()

    # The driver canonicalizes DuckDB results through pandas, where HUGEINT
    # (e.g. sum(BIGINT)) and DECIMAL become float64/object and hash-mismatch
    # Spark's int64 even when every value is identical (round-2 red row
    # events_json_stats). fetchall() hides this — Python ints compare equal —
    # so flag driver-unsafe oracle column types explicitly.
    for c, t in zip(d_cols, d_types):
        if t in ("HUGEINT", "UHUGEINT") or t.startswith("DECIMAL"):
            problems.append(
                f"oracle column {c!r} has driver-unsafe DuckDB type {t}; "
                f"CAST it (e.g. AS BIGINT / AS DOUBLE) in the oracle SQL"
            )

    if sorted(s_cols) != sorted(d_cols):
        problems.append(f"columns: spark={sorted(s_cols)} duckdb={sorted(d_cols)}")
        return problems
    if len(s_rows) != len(d_rows):
        problems.append(f"row count: spark={len(s_rows)} duckdb={len(d_rows)}")

    sm = rows_to_multiset(s_cols, s_rows)
    dm = rows_to_multiset(d_cols, d_rows)
    if sm != dm:
        diff_s = [r for r in sm if r not in set(dm)][:5]
        diff_d = [r for r in dm if r not in set(sm)][:5]
        problems.append(
            f"values differ; spark-only sample={diff_s} duckdb-only sample={diff_d}"
        )
    return problems


def md5_init(points, k: int):
    """The (vec_id, emb) table as an (n, d) float64 matrix, plus a copy of
    its ``k`` rows first in ``md5(str(vec_id))`` order — the engine's
    deterministic init (``stable_order_key``), computed without Spark."""
    import hashlib

    import numpy as np

    rows = sorted(
        (hashlib.md5(str(r.vec_id).encode()).hexdigest(), r.vec_id, list(r.emb))
        for r in points.select("vec_id", "emb").collect()
    )
    X = np.array([emb for _h, _id, emb in rows], dtype=np.float64)
    return X, X[:k].copy()


def sq_dists(X, C):
    """(n, k) squared L2 between the rows of X and C, accumulated one
    dimension at a time like the engine's kernels."""
    import numpy as np

    d = np.zeros((X.shape[0], C.shape[0]))
    for j in range(X.shape[1]):
        diff = X[:, j : j + 1] - C[None, :, j]
        d += diff * diff
    return d
