"""Benchmark entry point: one workload, one seed, one process.

    python3 perfbench/run.py --workload cluster_scale --seed 1 --seconds 5 --trace 0

Run from the repository root. The seed generates the workload's inputs
under ``.perfbench_work/``; the engine only sees those directories.
The run then

1. sets up the session several times (session start + its first job)
   and reports the median as ``setup_s``; the first setup also
   launches the JVM, the later ones restart the SparkContext;
2. repeats the workload's pass for ``--seconds`` (at least the
   workload's ``min_runs`` passes) and reports medians;
3. checks the outputs of the last pass against independent references,
   outside the timed window.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` times
untraced passes, then restarts the session with Spark's event log on,
times traced passes the same way, records spans around every layer call
and prints the per-layer metrics (see ``layers.py``) plus
``trace_overhead``. On both sides the first pass after the session
start is a warm-up and is dropped.
The last line of standard output is one JSON object; the lines before
it repeat every metric in words. The exit code is 0 only when every
output was correct.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import statistics
import sys
import tempfile
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

#: setups per run; all but the first restart the SparkContext on the
#: running JVM, so the median is a restart
N_SETUPS = 7


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=5)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--small", action="store_true", help="tiny inputs (self-test)")
    return p.parse_args(argv)


def host_mem_mb() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    return 4096


def prepare_env(work: str) -> dict[str, str]:
    """Pin cores and memory and keep every file the engine, Spark and
    the JVM write inside ``work``. Must run before pyspark starts."""
    cores = len(os.sched_getaffinity(0))
    mem_mb = min(2048, host_mem_mb() // 4)
    tmp = os.path.join(work, "tmp")
    for d in ("tmp", "local", "events", "warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ.update(
        {
            "SPARK_GRAFT_CPUS": str(cores),
            "SPARK_GRAFT_DRIVER_MEM": f"{mem_mb}m",
            "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
            "TMPDIR": tmp,
            "PYTHONHASHSEED": "0",
        }
    )
    tempfile.tempdir = None  # re-read TMPDIR
    return {
        "spark.ui.showConsoleProgress": "false",
        # the default initial heap is 1/64 of host RAM, and how far the
        # heap then grows depends on GC timing: a fixed initial heap makes
        # the JVM's footprint repeat from run to run
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{mem_mb // 2}m"
        ),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }


def event_log_conf(work: str) -> dict[str, str]:
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.join(work, "events"),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
        "spark.eventLog.logBlockUpdates.enabled": "true",
    }


def start_session(conf: dict[str, str]):
    """The engine's own session factory, with ``conf`` passed through
    its ``SPARK_GRAFT_EXTRA_CONF`` hook (printed to stderr by it)."""
    os.environ["SPARK_GRAFT_EXTRA_CONF"] = ";".join(f"{k}={v}" for k, v in conf.items())
    from mapreducekmean_spark import get_spark

    return get_spark("perfbench")


class MemorySampler:
    """Peak memory of this process, the JVM (its child) and the Python
    workers, sampled every ``period`` s. Each process counts its
    proportional set size, so pages the forked Python workers share
    count once."""

    def __init__(self, period: float = 0.1):
        self.period, self.peak = period, 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    @staticmethod
    def _tree() -> dict[int, int]:
        """pid -> parent pid of this process and all its descendants."""
        parent = {}
        for pid in filter(str.isdigit, os.listdir("/proc")):
            try:
                with open(f"/proc/{pid}/stat") as fh:
                    parent[int(pid)] = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
        mine, grew = {os.getpid()}, True
        while grew:
            new = {p for p, pp in parent.items() if pp in mine} - mine
            mine |= new
            grew = bool(new)
        return {p: parent.get(p, 0) for p in mine}

    @staticmethod
    def _pss(pid: int) -> int:
        try:
            with open(f"/proc/{pid}/smaps_rollup") as fh:
                for line in fh:
                    if line.startswith("Pss:"):
                        return int(line.split()[1]) * 1024
        except OSError:
            pass
        return 0

    @staticmethod
    def _is_python(pid: int) -> bool:
        try:
            return os.path.basename(os.readlink(f"/proc/{pid}/exe")).startswith("python")
        except OSError:
            return False

    def _loop(self):
        me = os.getpid()
        while not self._stop.is_set():
            # a process the JVM forks to run a command shares the JVM's
            # pages until it execs; read at another moment than the JVM it
            # would count them twice, so only Python descendants count
            pids = [
                p
                for p, pp in self._tree().items()
                if p == me or pp == me or self._is_python(p)
            ]
            self.peak = max(self.peak, sum(map(self._pss, pids)))
            self._stop.wait(self.period)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        return False


class Runner:
    def __init__(self, args, wl, work):
        self.args, self.wl, self.work = args, wl, work
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []

    def setup(self, conf, tracer_factory):
        """Session start + its first job; returns (spark, env, start_s, warm_s)."""
        from workloads import Env

        t0 = time.perf_counter()
        spark = start_session(conf)
        start_s = time.perf_counter() - t0
        env = Env(spark, tracer_factory(spark), self.work)
        t1 = time.perf_counter()
        with env.span("session.warmup"):
            spark.range(1).count()
        return spark, env, start_s, time.perf_counter() - t1

    def _guard(self, fn, ops):
        self.attempted += ops
        try:
            return fn()
        except Exception as exc:  # noqa: BLE001 - counted, then reported
            traceback.print_exc(file=sys.stderr)
            self.failed += ops
            self.problems.append(f"{type(exc).__name__}: {exc}"[:500])
            return None

    def measure(self, env, seconds: float, min_runs: int | None = None) -> list[dict]:
        """Timed passes until ``seconds`` have elapsed, at least
        ``min_runs`` (default: the workload's)."""
        runs: list[dict] = []
        min_runs = self.wl.min_runs if min_runs is None else min_runs
        t_end = time.perf_counter() + seconds
        while len(runs) < min_runs or time.perf_counter() < t_end:
            with env.span("run"):
                t0 = time.perf_counter()
                out = self._guard(lambda: self.wl.run(env), self.wl.ops_per_run)
                wall = time.perf_counter() - t0
            if out is None:
                break
            out = dict(out)
            out.setdefault("run_s", wall)
            runs.append(out)
        return runs

    def fail(self, problem: str) -> None:
        self.attempted += 1
        self.failed += 1
        self.problems.append(problem)

    def check(self, env) -> None:
        """``wl.n_checks`` ops; each problem the check reports is one of
        them failed, and a check that cannot run fails them all."""
        if self.wl.last is None:
            self.fail("no pass completed, nothing to check")
            return
        problems = self._guard(lambda: self.wl.check(env), self.wl.n_checks)
        if problems:
            self.failed += min(len(problems), self.wl.n_checks)
            self.problems += problems


def echo_env(spark) -> dict:
    sc = spark.sparkContext
    import numpy
    import pyspark

    return {
        "spark.master": sc.master,
        "defaultParallelism": sc.defaultParallelism,
        "cores": len(os.sched_getaffinity(0)),
        "driver_memory": sc.getConf().get("spark.driver.memory", "?"),
        "spark": spark.version,
        "pyspark": pyspark.__version__,
        "python": platform.python_version(),
        "numpy": numpy.__version__,
        "java": sc._jvm.System.getProperty("java.version"),
        "loadavg": " ".join(f"{x:.2f}" for x in os.getloadavg()),
    }


def declared_metrics() -> dict[str, list[tuple[str, str]]]:
    """(name, unit) of every end-to-end and per-layer metric, as
    BENCHMARK.json declares them."""
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        spec = json.load(fh)
    return {
        key: [(m["name"], m["unit"]) for m in spec[key]]
        for key in ("end_to_end", "per_layer")
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    try:
        import mapreducekmean_spark  # noqa: F401
        import pyspark  # noqa: F401

        sys.path.insert(0, os.path.join(ROOT, "tests"))
        import oracle_util  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the engine is not importable here: {exc}", file=sys.stderr)
        return 2
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    # a terminated run still removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        return _main(args, work)
    finally:
        stop_jvm()
        shutil.rmtree(work, ignore_errors=True)


def stop_jvm(timeout: float = 60.0) -> None:
    """End the JVM this process launched and wait until it and every
    other child (the Python workers) have exited. The JVM exits when its
    stdin closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is not None:
        if SparkContext._active_spark_context is not None:
            SparkContext._active_spark_context.stop()
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout)
        SparkContext._gateway = SparkContext._jvm = None
    deadline = time.monotonic() + timeout
    while len(MemorySampler._tree()) > 1 and time.monotonic() < deadline:
        time.sleep(0.1)


def _untraced(_spark):
    from spans import Tracer

    return Tracer(enabled=False)


def _end_to_end(r: Runner, conf: dict, lines: list[str]):
    """Setups, untraced passes, check. Returns (metrics, env echo)."""
    wl, args = r.wl, r.args
    setups, parts, spark = [], [], None
    for _ in range(N_SETUPS):
        if spark is not None:
            spark.stop()
        spark, env, start_s, warm_s = r.setup(conf, _untraced)
        setups.append(start_s + warm_s)
        parts.append(f"{start_s:.2f}+{warm_s:.2f}")
    info = echo_env(spark)
    t0 = time.perf_counter()
    with MemorySampler() as rss:
        runs = r.measure(env, args.seconds)
    t1 = time.perf_counter()
    r.check(env)
    wl.finish(env)
    spark.stop()
    lines.append(
        f"setups (start+warm s): {' '.join(parts)}; measured {t1 - t0:.2f} s; "
        f"check {time.perf_counter() - t1:.2f} s"
    )
    metrics = {"setup_s": statistics.median(setups), "peak_rss_mb": rss.peak / 2**20}
    lines += [
        f"setup samples: {len(setups)}; the first includes the JVM launch: {setups[0]:.4f} s",
        f"input rows: {wl.input_rows}",
    ]
    if runs:  # else the failure is reported and the metrics read 0
        run_s = [x["run_s"] for x in runs]
        metrics["run_s"] = statistics.median(run_s)
        metrics["rows_per_s"] = wl.input_rows / metrics["run_s"]
        lines.append(
            f"run samples: {len(run_s)}, the first one cold; run_s max (the highest "
            f"percentile the sample supports) {max(run_s):.4f} s"
        )
        for key, unit in getattr(wl, "RUN_EXTRAS", ()):
            lines.append(f"{key} {statistics.median(x[key] for x in runs):.6g} {unit}")
    return metrics, info


def _per_layer(r: Runner, conf: dict, work: str, lines: list[str]):
    """Untraced passes for the overhead baseline, then a traced session."""
    from layers import per_layer_metrics
    from spans import Tracer, check_nesting, event_files, parse_event_log

    wl, args = r.wl, r.args
    spark, env, launch_s, launch_warm_s = r.setup(conf, _untraced)
    info = echo_env(spark)

    def warm_passes(env):
        # both sides start on a fresh SparkContext (the untraced one on a
        # fresh JVM too): drop each side's cold first pass
        return r.measure(env, args.seconds, min_runs=wl.min_runs + 1)[1:]

    plain = warm_passes(env)
    spark.stop()
    tracers: list[Tracer] = []

    def traced(spark):
        tracers.append(Tracer(spark.sparkContext))
        return tracers[-1]

    spark, env, start_s, warm_s = r.setup({**conf, **event_log_conf(work)}, traced)
    runs = warm_passes(env)
    r.check(env)
    wl.finish(env)
    app_id = spark.sparkContext.applicationId
    spark.stop()
    spans = tracers[-1].spans
    for p in check_nesting(spans):
        r.fail(f"trace: {p}")
    log = parse_event_log(event_files(os.path.join(work, "events"), app_id))
    out = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out, exist_ok=True)
    tracers[-1].write(os.path.join(out, f"{wl.name}-seed{args.seed}-spans.jsonl"))
    metrics = per_layer_metrics(wl, spans, log, runs, plain, start_s, warm_s, info["cores"])
    # the untraced side's setup launched the JVM
    metrics["session.jvm_launch_s"] = (launch_s + launch_warm_s, "s")
    lines.append(f"traced runs: {len(runs)}; untraced runs: {len(plain)}")
    return {k: v for k, (v, _unit) in metrics.items()}, info


def _main(args, work) -> int:
    from workloads import WORKLOADS

    conf = prepare_env(work)
    wl = WORKLOADS[args.workload](**(wl_small(args.workload) if args.small else {}))
    t0 = time.perf_counter()
    wl.generate(os.path.join(work, "data"), args.seed)
    lines = [f"datagen_s {time.perf_counter() - t0:.4f} s (benchmark overhead, not in setup_s)"]
    r = Runner(args, wl, work)
    if args.trace:
        metrics, info = _per_layer(r, conf, work, lines)
    else:
        metrics, info = _end_to_end(r, conf, lines)
    metrics["failed_ops"] = r.failed / max(1, r.attempted)
    declared = declared_metrics()["per_layer" if args.trace else "end_to_end"]
    selected = {name: (metrics.get(name, 0.0), unit) for name, unit in declared}
    lines += [f"env {k} {v}" for k, v in info.items()]
    lines += [
        f"{k} {v:.6g} {unit}"
        for k, (v, unit) in selected.items()
        if k != "failed_ops"
    ]
    lines.append(f"failed_ops {metrics['failed_ops']:.6g} share ({r.failed} of {r.attempted})")
    lines += [f"FAILED: {p}" for p in r.problems]
    print("\n".join(lines))
    print(
        json.dumps(
            {
                "correct": r.failed == 0,
                "attempted": max(1, r.attempted),
                "failed": r.failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in selected.items()},
            }
        )
    )
    sys.stdout.flush()
    return 0 if r.failed == 0 else 1


def wl_small(name: str) -> dict:
    """Tiny inputs for the self-test."""
    return {
        "cluster_scale": {"rows": 2_000, "files": 4, "iters": 2, "mix_scale": 0.002},
        "delta_maintain": {"orders": 2_000, "docs": 200, "vecs": 400},
    }[name]


if __name__ == "__main__":
    sys.exit(main())
