"""Closed-loop, single-client benchmark of the etl_his_spark package.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run it from the root of a checkout. Workloads (see README.md here):
``his_publish`` and ``dedup_suite``. Each run

1. generates or reuses its fixed inputs under ``.bench_build/perfbench``;
2. sets up (``setup_s``): imports the package modules, starts the
   session with ``get_spark`` (pinned cores and heap size) and
   prepares the workload once;
3. runs the cold pass (``first_op_s`` is its first operation), then
   seed-ordered warm passes for ``--seconds`` seconds; a pass started
   inside the window completes;
4. checks every operation's output outside the timed window;
5. prints diagnostics, then one JSON line: with ``--trace 0`` the
   end-to-end metrics of BENCHMARK.json, with ``--trace 1`` its
   per-layer metrics. The traced run alternates traced and untraced
   warm passes (at least one of each), so it reports its own overhead.

The run holds an exclusive lock for its whole duration, so two runs in
one checkout never overlap, and it removes its scratch directory and
waits for the JVM it started to exit.
"""

from __future__ import annotations

import argparse
import fcntl
import gc
import importlib
import importlib.util
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from contextlib import nullcontext

T_PROCESS = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
sys.path.insert(0, ROOT)
sys.path.insert(0, HERE)

import numpy as np  # noqa: E402

import inputs  # noqa: E402
import workloads  # noqa: E402
from tracing import Tracer, aggregate  # noqa: E402

WORKLOADS = {"his_publish": workloads.HisPublish, "dedup_suite": workloads.DedupSuite}
CPUS = 4
# Input scale per workload; --scale overrides it (the self-check uses
# sf0.001 everywhere).
SCALE = {"his_publish": "sf0.001", "dedup_suite": "sf0.1"}
HEAP = "2g"
# Shares measured at sf0.1 (4 cores, 4g heap), which the traced run
# compares itself against: (low, high) of the measured spread.
REFERENCE = {
    "dedup_suite": {"build_share": (0.69, 0.70), "idle_core_frac": (0.56, 0.57)},
    "his_publish": {
        "id_mint_share": (0.26, 0.27),
        "bridge_ids_share": (0.24, 0.25),
        "publish_share": (0.46, 0.47),
    },
}


def pin_environment(run_dir: str) -> tuple[int, dict[str, str]]:
    """Keep every file the run writes inside ``run_dir``; fix cores and
    heap size. Returns the core count and the Spark conf to pass."""
    cpus = min(CPUS, len(os.sched_getaffinity(0)))
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ.update(
        TMPDIR=tmp, SPARK_LOCAL_DIRS=local, SPARK_GRAFT_DRIVER_MEM=HEAP
    )
    tempfile.tempdir = tmp
    conf = {
        "spark.local.dir": local,
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.hadoop.hadoop.tmp.dir": tmp,
        "spark.ui.showConsoleProgress": "false",
    }
    return cpus, conf


def stop_spark(spark) -> None:
    """Stop the session and the JVM gateway, and wait for the JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def quiesce(spark) -> None:
    """Let the previous operation's asynchronous cleanup (unreferenced
    pins, shuffle files, broadcasts) run between passes rather than
    during the next timed operation."""
    gc.collect()
    spark.sparkContext._jvm.System.gc()
    time.sleep(0.5)


def _cpu_times() -> list[int]:
    with open("/proc/stat", encoding="ascii") as fh:
        return [int(x) for x in fh.readline().split()[1:9]]


def steal_pct(before: list[int], after: list[int]) -> float:
    delta = [b - a for a, b in zip(before, after)]
    return 100.0 * delta[7] / max(1, sum(delta))


# -- one run --------------------------------------------------------------------

def run(args) -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        spec = json.load(fh)
    rng = np.random.default_rng(args.seed)
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    cpus, conf = pin_environment(run_dir)
    scale = args.scale or SCALE[args.workload]
    data_dir = inputs.ensure_inputs(WORK, scale)

    import bench  # the repository's ambient CPU and I/O probes

    stat0 = _cpu_times()
    env = {
        "cpus": cpus, "nproc": len(os.sched_getaffinity(0)), "heap": HEAP,
        "scale": scale, "python": sys.version.split()[0],
        "loadavg": os.getloadavg(),
        "cpu_probe_s": bench.ambient_probe(), "io_probe_s": bench.ambient_io_probe(),
    }

    # -- set-up
    t0 = time.perf_counter()
    for mod in ("etl_his_spark.session",) + WORKLOADS[args.workload].MODULES:
        importlib.import_module(mod)
    from etl_his_spark.session import get_spark

    t_session = time.perf_counter()
    spark = get_spark("perfbench", cpus=cpus, extra_conf=conf)
    try:
        d = {"session_s": time.perf_counter() - t_session}
        spark.sparkContext.setLogLevel("ERROR")
        env["spark"] = spark.version
        wl = WORKLOADS[args.workload](spark, data_dir, run_dir, rng)
        t = time.perf_counter()
        wl.prepare()
        d["prepare_s"] = time.perf_counter() - t
        d["setup_s"] = time.perf_counter() - t0
        d.update(_measure(args, spark, wl, cpus))
    finally:
        stop_spark(spark)
    env["steal_pct"] = steal_pct(stat0, _cpu_times())

    warm, warm_traced = d.pop("warm"), d.pop("warm_traced")
    layer_ops, tracer = d.pop("layer_ops"), d.pop("tracer")
    failures = d.pop("failures")
    failed = sum(f is not None for f in failures)
    diag = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace, "env": env,
        "before_setup_s": t0 - T_PROCESS, **d,
        "failures": [f for f in failures if f][:10],
        "op_p90_s": statistics.quantiles(warm, n=10)[-1] if len(warm) >= 100 else None,
    }
    correct = failed == 0
    if args.trace:
        layer = aggregate(layer_ops, cpus) if layer_ops else {}
        layer["session.start_s"] = d["session_s"]
        diag["trace_overhead_s"] = statistics.median(warm_traced) - statistics.median(warm)
        diag["store_added_jobs"] = tracer.store_added_jobs
        diag["first_traced_pass_counts"] = _pass_counts(layer_ops, d["first_traced_pass"])
        diag["reproduction"] = _reproduction(args.workload, layer)
        correct = correct and tracer.store_added_jobs == 0
        values, wanted = layer, spec["per_layer"]
    else:
        values = {
            "setup_s": d["setup_s"],
            "first_op_s": d["cold_pass_s"][0],
            "op_p50_s": statistics.median(warm),
            "ops_per_s": len(warm) / d["warm_wall_s"],
        }
        wanted = spec["end_to_end"]
    _record(diag)
    metrics = {
        m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
        for m in wanted
    }
    return {
        "correct": correct, "attempted": len(failures), "failed": failed,
        "metrics": metrics,
    }


def _measure(args, spark, wl, cpus: int) -> dict:
    """The cold pass, the warm passes and the checks."""
    tracer = Tracer(spark, cpus) if args.trace else None
    outputs, errors, layer_ops, latencies = [], [], [], []

    def execute(op, traced: bool) -> float:
        mark = tracer.mark_built if traced else (lambda: None)
        scope = tracer.installed() if traced else nullcontext()
        timed = tracer.op() if traced else nullcontext()
        t = time.perf_counter()
        try:
            with scope, timed:
                result = wl.run(op, mark)
            error = None
        except Exception:  # noqa: BLE001 - count the op as failed, keep running
            result, error = None, traceback.format_exc()
            print(error, file=sys.stderr)
        latency = time.perf_counter() - t
        latencies.append((op, traced, latency))
        outputs.append((op, result))
        errors.append(error)
        if traced and error is None:
            layer = tracer.read_op()
            if args.workload == "his_publish":
                layer["sources.files_written"], layer["sources.bytes_written_mb"] = (
                    wl.written(result)
                )
            layer_ops.append(layer)
        return latency

    first_pass = wl.first_pass()
    timeline = {"setup_end": time.perf_counter() - T_PROCESS}
    cold = [execute(op, False) for op in first_pass]
    timeline["cold_end"] = time.perf_counter() - T_PROCESS
    warm, warm_traced = [], []
    passes = first_traced_pass = 0
    t_warm = time.perf_counter()
    while (
        time.perf_counter() - t_warm < args.seconds
        or (args.trace and passes < 2)
    ):
        quiesce(spark)
        traced = bool(args.trace) and passes % 2 == 0
        ops = wl.warm_pass()
        for op in ops:
            (warm_traced if traced else warm).append(execute(op, traced))
        if passes == 0:
            first_traced_pass = len(ops)
        passes += 1
    warm_wall = time.perf_counter() - t_warm
    timeline["warm_end"] = time.perf_counter() - T_PROCESS

    # checks, outside the timed window: one verdict per operation
    t_check = time.perf_counter()
    verdicts = iter(wl.check([(op, res) for op, res in outputs if res is not None]))
    failures = [err.strip().splitlines()[-1] if err else next(verdicts) for err in errors]
    return {
        "cold_pass_s": cold, "warm_passes": passes, "warm_wall_s": warm_wall,
        "check_s": time.perf_counter() - t_check, "timeline": timeline,
        "latencies": latencies, "first_traced_pass": first_traced_pass,
        "warm": warm, "warm_traced": warm_traced, "layer_ops": layer_ops,
        "tracer": tracer, "failures": failures,
    }


EXACT_COUNTS = (
    "exec.shuffle_write_mb", "exec.shuffle_read_mb", "exec.input_records",
    "sources.files_written",
)


def _pass_counts(layer_ops: list[dict], pass_len: int) -> dict[str, float]:
    """Exact counts summed over the first traced pass: the same seed
    must reproduce them exactly."""
    first = layer_ops[:pass_len]
    return {k: sum(m.get(k, 0) for m in first) for k in EXACT_COUNTS}


def _reproduction(workload: str, layer: dict) -> dict:
    ref = REFERENCE.get(workload)
    if not ref or not layer:
        return {}
    op = layer["op_s"]
    values = {
        "build_share": layer["build_total_s"] / op,
        "idle_core_frac": layer["exec.idle_core_frac"],
        "id_mint_share": layer.get("plans.id_mint.dense_ids_s", 0.0) / op,
        "bridge_ids_share": layer.get("plans.bridge.dense_ids_s", 0.0) / op,
        "publish_share": layer.get("publish_total_s", 0.0) / op,
    }
    out = {}
    for name, (lo, hi) in ref.items():
        ok = lo <= values[name] <= hi
        out[name] = {"value": values[name], "reference": [lo, hi], "reproduced": ok}
        if not ok:
            print(
                f"perfbench: {workload} {name} = {values[name]:.3f} does not reproduce "
                f"the reference {lo}-{hi}", file=sys.stderr,
            )
    return out


def _record(diag: dict) -> None:
    """Print the diagnostics line and keep a copy beside the run."""
    runs = os.path.join(WORK, "runs")
    os.makedirs(runs, exist_ok=True)
    name = f"{time.strftime('%Y%m%dT%H%M%S')}-{diag['workload']}-s{diag['seed']}-t{diag['trace']}.json"
    with open(os.path.join(runs, name), "w", encoding="utf-8") as fh:
        json.dump(diag, fh, indent=1, default=str)
    print(json.dumps({"perfbench_diagnostics": diag}, default=str))


def main(argv: list[str]) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", choices=sorted(WORKLOADS), required=True)
    p.add_argument("--seed", type=int, default=0)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", choices=sorted(inputs.SCALES))
    args = p.parse_args(argv)
    if importlib.util.find_spec("etl_his_spark") is None:
        print("perfbench: the etl_his_spark package is not in this checkout",
              file=sys.stderr)
        return 2
    os.makedirs(WORK, exist_ok=True)
    with open(os.path.join(WORK, "lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        for name in os.listdir(WORK):
            if name.startswith("run-"):
                shutil.rmtree(os.path.join(WORK, name), ignore_errors=True)
        try:
            result = run(args)
        finally:
            shutil.rmtree(os.path.join(WORK, f"run-{os.getpid()}"), ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
