"""Self-test of the benchmark: every workload at a tiny size.

    python3 perfbench/selftest.py

Runs each workload once untraced and twice traced, in one process, and
checks that every run is correct, that the result line has exactly its
four keys and every declared metric with its declared unit, that the
traced spans nest (run.py fails a run whose spans do not), and that
Spark job, stage and task counts repeat exactly between the two traced
runs. Exits non-zero if any check fails.
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import run  # noqa: E402

COUNTS = ("spark.jobs", "spark.stages", "spark.tasks", "kmeans.jobs", "pq.jobs")


def _run(argv: list[str]) -> tuple[int, dict]:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        code = run.main(argv)
    lines = buf.getvalue().strip().splitlines()
    return code, json.loads(lines[-1]) if lines else {}


def main() -> int:
    from workloads import WORKLOADS

    declared = run.declared_metrics()
    problems: list[str] = []
    for name in WORKLOADS:
        base = ["--workload", name, "--seed", "7", "--seconds", "1", "--small"]
        results = [_run(base + ["--trace", t]) for t in ("0", "1", "1")]
        for (code, res), kind in zip(results, ("end_to_end", "per_layer", "per_layer")):
            if code != 0 or not res.get("correct"):
                problems.append(f"{name}: exit {code}, result {res}")
                continue
            if set(res) != {"correct", "attempted", "failed", "metrics"}:
                problems.append(f"{name} {kind}: result keys {sorted(res)}")
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            want = dict(declared[kind])
            if got != want:
                problems.append(f"{name} {kind}: metrics {sorted(set(got) ^ set(want))} differ")
        traced = [res.get("metrics", {}) for _code, res in results[1:]]
        counts = list(COUNTS) + [
            n for n, _u in declared["per_layer"] if n.startswith("contract.") and n.endswith(".jobs")
        ]
        for n in counts:
            a, b = (m.get(n, {}).get("value") for m in traced)
            if a != b:
                problems.append(f"{name}: {n} differs between traced runs: {a} vs {b}")
        print(f"{name}: {'ok' if not problems else 'FAILED'}", file=sys.stderr)
    for p in problems:
        print(p, file=sys.stderr)
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
