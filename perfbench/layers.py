"""Per-layer metrics of one traced measurement.

Every value is the median over the kept traced passes (spans named
``run``, the warm-up pass excluded) of that pass's figure, so counts
repeat exactly when the engine issues the same jobs. A metric whose
layer a workload does not call reads 0.
"""

from __future__ import annotations

import statistics

from spans import Rollup, Span, descendants, rollup

#: spans whose summed wall per pass is the metric ``<span>_s``
_LAYER_SPANS = (
    "kmeans.lloyd",
    "kmeans.assign",
    "pq.train",
    "cdc.land",
    "cdc.apply",
    "cdc.replay",
    "cdc.read",
    "incremental.land",
    "incremental.apply",
    "incremental.replay",
    "similarity.land",
    "similarity.apply",
    "similarity.replay",
    "similarity.read",
)

#: metric -> key of the per-pass dict a workload's ``run`` returns
_RUN_VALUES = (
    ("delta.land_s", "land_s", "s"),
    ("delta.apply_s", "apply_s", "s"),
    ("delta.replay_s", "replay_s", "s"),
    ("delta.read_s", "read_s", "s"),
    ("delta.stored_bytes_per_input_byte", "stored_bytes_per_input_byte", "ratio"),
    ("bucketing.files_written", "files_written", "count"),
    ("bucketing.bytes_written", "bytes_written", "bytes"),
)


def _median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def per_layer_metrics(
    wl,
    spans: list[Span],
    log,
    runs: list[dict],
    plain_runs: list[dict],
    start_s: float,
    warm_s: float,
    cores: int,
) -> dict[str, tuple[float, str]]:
    # the kept passes are the last len(runs): run.py drops the warm-up
    run_ids = [s.sid for s in spans if s.name == "run"][-len(runs):] if runs else []
    below = {r: descendants(spans, r) for r in run_ids}

    def named(rid: int, name: str) -> list[int]:
        return [i for i in below[rid] if spans[i].name == name]

    def walls(name: str) -> float:
        return _median(sum(spans[i].wall for i in named(r, name)) for r in run_ids)

    def roll(name: str | None) -> list[Rollup]:
        if name is None:
            return [rollup(log, spans, [r]) for r in run_ids]
        return [rollup(log, spans, named(r, name)) for r in run_ids]

    whole = roll(None)

    def med(f, rolls=whole) -> float:
        return _median(f(x) for x in rolls)

    m: dict[str, tuple[float, str]] = {
        "session.start_s": (start_s, "s"),
        "session.warmup_s": (warm_s, "s"),
        "run.max_s": (max((x["run_s"] for x in runs), default=0.0), "s"),
        "trace_overhead": (
            _median(x["run_s"] for x in runs) / _median(x["run_s"] for x in plain_runs)
            if runs and plain_runs
            else 0.0,
            "ratio",
        ),
        "spark.jobs": (med(lambda r: r.jobs), "count"),
        "spark.stages": (med(lambda r: r.stages), "count"),
        "spark.tasks": (med(lambda r: r.counters["tasks"]), "count"),
        "spark.tasks_per_job": (
            med(lambda r: r.counters["tasks"] / r.jobs if r.jobs else 0.0),
            "ratio",
        ),
        "driver.self_s": (med(lambda r: r.driver_self_s), "s"),
        "python.stages": (med(lambda r: r.python_stages), "count"),
        "executor.run_s": (med(lambda r: r.counters["run_ms"] / 1e3), "s"),
        "executor.cpu_s": (med(lambda r: r.counters["cpu_ns"] / 1e9), "s"),
        "executor.gc_s": (med(lambda r: r.counters["gc_ms"] / 1e3), "s"),
        "executor.deserialize_s": (med(lambda r: r.counters["deser_ms"] / 1e3), "s"),
        "executor.utilization": (
            med(lambda r: r.counters["run_ms"] / 1e3 / (r.wall_s * cores) if r.wall_s else 0.0),
            "ratio",
        ),
        "shuffle.read_bytes": (med(lambda r: r.counters["shuffle_read_bytes"]), "bytes"),
        "shuffle.write_bytes": (med(lambda r: r.counters["shuffle_write_bytes"]), "bytes"),
        "shuffle.fetch_wait_s": (med(lambda r: r.counters["fetch_wait_ms"] / 1e3), "s"),
        "spill.disk_bytes": (med(lambda r: r.counters["spill_disk_bytes"]), "bytes"),
        "sources.scan_s": (med(lambda r: r.counters["scan_ms"] / 1e3), "s"),
        "sources.input_bytes": (med(lambda r: r.counters["input_bytes"]), "bytes"),
    }
    for name in _LAYER_SPANS:
        m[f"{name}_s"] = (walls(name), "s")

    lloyd = roll("kmeans.lloyd")
    iters = _median(
        sum(spans[i].attrs.get("iterations", 0) for i in named(r, "kmeans.lloyd"))
        for r in run_ids
    )
    m["kmeans.iterations"] = (iters, "count")
    m["kmeans.iter_s"] = (m["kmeans.lloyd_s"][0] / iters if iters else 0.0, "s")
    m["kmeans.jobs"] = (med(lambda r: r.jobs, lloyd), "count")
    m["kmeans.cached_bytes"] = (med(lambda r: r.cached_bytes, lloyd), "bytes")
    m["pq.jobs"] = (med(lambda r: r.jobs, roll("pq.train")), "count")

    for metric, key, unit in _RUN_VALUES:
        m[metric] = (_median(x[key] for x in runs if key in x), unit)

    for q in getattr(wl, "queries", ()):
        name = f"contract.{q}"
        m[f"{name}.wall_s"] = (walls(name), "s")
        m[f"{name}.jobs"] = (med(lambda r: r.jobs, roll(name)), "count")
    return m
