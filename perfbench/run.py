"""Benchmark entry point: one workload, one seed, one line of JSON.

    python3 perfbench/run.py --workload graph_iterative --seed 1 --seconds 20 --trace 0

Runs from the root of a source checkout.  Set-up (inputs, oracles,
Spark session, warm-up) is timed separately from the measured window;
the window repeats whole passes of the workload for ``--seconds`` and
reports medians over passes.  ``--trace 0`` prints the end-to-end
metrics, ``--trace 1`` the per-layer ones (see perfbench/README.md); the
metric names and units are read from BENCHMARK.json at the root.  The
last line of standard output is the result object.
"""

from __future__ import annotations

import argparse
import hashlib
import importlib
import json
import math
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CPUS = 4
SETUP_CYCLES = 3

# workload name -> (module, class); only the chosen one is imported
WORKLOADS = {
    "analytics_sf0.1": ("perfbench.analytics", "Analytics"),
    "graph_iterative": ("perfbench.graph_iterative", "GraphIterative"),
    "graphdb_roundtrip": ("perfbench.graphdb", "GraphDBRoundtrip"),
}

# the live session, so an error exit can still stop the JVM
_SESSION: list = []


def _env(work: str) -> None:
    """Keep every file Spark and Python write inside the checkout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(CPUS)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [
            "--driver-memory 2g",
            # heap growth under the default collector follows GC pause
            # times, so peak RSS would track host load; the serial
            # collector grows the heap by live data only
            f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:+UseSerialGC'",
            "--conf spark.ui.showConsoleProgress=false",
            # keep every job and stage of a long call in the status store
            "--conf spark.ui.retainedJobs=20000",
            "--conf spark.ui.retainedStages=40000",
            f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
            "pyspark-shell",
        ]
    )


def _metric_units(kind: str) -> dict[str, str]:
    """Name -> unit of the ``end_to_end`` or ``per_layer`` metrics."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[kind]}


def _source_digest() -> str:
    h = hashlib.sha1()
    for dirpath, dirnames, files in sorted(os.walk(os.path.join(ROOT, "entwiner_spark"))):
        dirnames.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(dirpath, f), "rb") as fh:
                    h.update(f.encode() + b"\0" + fh.read())
    return h.hexdigest()[:12]


def _git_commit() -> str | None:
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10
        )
    except (OSError, subprocess.SubprocessError):
        return None
    return out.stdout.strip() if out.returncode == 0 else None


class Checks:
    """Operation outcomes: ``attempted``/``failed`` of the result."""

    def __init__(self):
        self.attempted = 0
        self.failures: list[str] = []

    def record(self, op: str, problem: str | None) -> None:
        """One checked operation; ``problem`` is None when it was right."""
        self.attempted += 1
        if problem is not None:
            self.failures.append(f"{op}: {problem}")


def _geomean(xs) -> float:
    xs = list(xs)
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def _stop() -> None:
    """Stop the session and wait for the JVM (and its workers) to exit."""
    if not _SESSION:
        return
    spark = _SESSION.pop()
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    proc = gateway.proc
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")

    t_launch = time.perf_counter()
    load_start = os.getloadavg()
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    _env(work)
    sys.path.insert(0, ROOT)

    # fails here, before any Spark start, when the library is absent
    import networkx
    import pyspark

    from entwiner_spark.session import get_spark

    from perfbench.probe import SparkProbe, Tracer, peak_rss_mb

    module, cls = WORKLOADS[args.workload]
    wl = getattr(importlib.import_module(module), cls)(args.seed, work)

    # ---- set-up.  Inputs and oracles are made once.  Session start plus
    # input loading is repeated SETUP_CYCLES times (the first cycle also
    # launches the JVM) and its median counts; one warm-up follows.
    t0 = time.perf_counter()
    wl.generate()
    t_inputs = time.perf_counter() - t0
    spark = None
    cycles, starts = [], []
    for _ in range(SETUP_CYCLES):
        t0 = time.perf_counter()
        if spark is not None:
            spark.stop()
        spark = get_spark(f"perfbench-{args.workload}", master=f"local[{CPUS}]", shuffle_partitions=CPUS)
        _SESSION[:] = [spark]
        spark.sparkContext.setLogLevel("ERROR")
        starts.append(time.perf_counter() - t0)
        wl.load(spark)
        cycles.append(time.perf_counter() - t0)
    t0 = time.perf_counter()
    wl.warm_up(spark)
    t_warm = time.perf_counter() - t0
    t0 = time.perf_counter()
    wl.ready()
    t_ready = time.perf_counter() - t0
    setup_s = t_inputs + statistics.median(cycles) + t_warm + t_ready

    # ---- measured window
    probe = SparkProbe(spark)
    tr = Tracer(probe)
    checks = Checks()
    # a traced run alternates untraced and traced passes: times come from
    # the untraced ones, per-call Spark deltas from the traced ones, whose
    # spans also carry the cost of reading those deltas
    untraced: list[int] = []
    traced: list[int] = []
    pass_wall: dict[int, float] = {}
    pass_cost: dict[int, dict] = {}

    def one_pass(with_deltas: bool) -> None:
        tr.pass_id += 1
        tr.traced = with_deltas
        mark = probe.mark()
        wl.run_pass(spark, tr, checks)
        pass_cost[tr.pass_id] = probe.since(mark)
        pass_wall[tr.pass_id] = sum(
            s.dur for s in tr.of_pass(tr.pass_id) if s.attrs.get("op")
        )

    if args.trace:
        # a discarded pass takes each plan's first compile, which would
        # otherwise fall on the first untraced pass alone
        one_pass(False)
    t_window = time.perf_counter()
    deadline = t_window + args.seconds
    while True:
        t0 = time.perf_counter()
        is_traced = bool(args.trace) and len(untraced) > len(traced)
        one_pass(is_traced)
        (traced if is_traced else untraced).append(tr.pass_id)
        done = not args.trace or traced
        if done and time.perf_counter() + (time.perf_counter() - t0) > deadline:
            break
    measured_s = time.perf_counter() - t_window

    walls = [pass_wall[p] for p in untraced]
    op_names = sorted({s.name for p in untraced for s in tr.of_pass(p) if s.attrs.get("op")})
    op_median = {
        n: statistics.median(sum(s.dur for s in tr.of_pass(p, n)) for p in untraced)
        for n in op_names
    }
    if args.trace:
        values = {
            f"spark.{c}": statistics.median(pass_cost[p][c] for p in untraced)
            for c in pass_cost[untraced[0]]
        }
        values.update({
            "session.start_s": statistics.median(starts),
            "spark.ms_per_job": statistics.median(
                1000 * pass_wall[p] / max(1, pass_cost[p]["jobs"]) for p in untraced
            ),
            "trace.overhead_s": statistics.median(pass_wall[p] for p in traced)
            - statistics.median(walls),
        })
        values.update(wl.layer_metrics(tr, untraced, traced, spark))
        # a metric of a layer this workload does not exercise reads 0
        metrics = {k: (values.get(k, 0.0), u) for k, u in _metric_units("per_layer").items()}
        tr.dump(os.path.join(ROOT, ".perfbench_work", "traces", f"{args.workload}-{args.seed}.jsonl"))
    else:
        values = {
            "setup_s": setup_s,
            "wall_s": statistics.median(walls),
            "geomean_op_s": _geomean(op_median.values()),
            "jobs": statistics.median(pass_cost[p]["jobs"] for p in untraced),
            "shuffle_bytes": statistics.median(
                pass_cost[p]["shuffle_write_bytes"] for p in untraced
            ),
            "peak_rss_mb": peak_rss_mb(spark),
        }
        metrics = {k: (values[k], u) for k, u in _metric_units("end_to_end").items()}

    summary = {
        "workload": args.workload,
        "seed": args.seed,
        "passes": len(untraced),
        "measured_s": round(measured_s, 3),
        "pass_walls_s": [round(w, 3) for w in walls],
        "traced_pass_walls_s": [round(pass_wall[p], 3) for p in traced],
        "error_rate": len(checks.failures) / max(1, checks.attempted),
        "failures": checks.failures[:20],
        "op_median_s": {k: round(v, 4) for k, v in op_median.items()},
        "setup": {
            "inputs_s": round(t_inputs, 3),
            "cycles_s": [round(c, 3) for c in cycles],
            "session_start_s": [round(s, 3) for s in starts],
            "warm_up_s": round(t_warm, 3),
            "oracle_wait_s": round(t_ready, 3),
        },
        **wl.summary(tr, untraced),
        "host": {
            "nproc": len(os.sched_getaffinity(0)),
            "loadavg_start": [round(x, 2) for x in load_start],
            "loadavg_end": [round(x, 2) for x in os.getloadavg()],
            "spark_graft_cpus": os.environ["SPARK_GRAFT_CPUS"],
            "spark": pyspark.__version__,
            "python": platform.python_version(),
            "networkx": networkx.__version__,
            "git_commit": _git_commit(),
            "source_digest": _source_digest(),
        },
        "elapsed_s": round(time.perf_counter() - t_launch, 3),
    }
    print("summary " + json.dumps(summary, default=float), flush=True)

    _stop()
    shutil.rmtree(work, ignore_errors=True)

    print(
        json.dumps(
            {
                "correct": not checks.failures,
                "attempted": checks.attempted,
                "failed": len(checks.failures),
                "metrics": {
                    k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()
                },
            }
        ),
        flush=True,
    )
    return 0


if __name__ == "__main__":
    try:
        code = main()
    finally:
        _stop()
    sys.exit(code)
