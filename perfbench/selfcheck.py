"""Self-check of the benchmark at the sf0.001 scale.

    python3 perfbench/selfcheck.py

For every workload it runs the benchmark once untraced and twice traced
with one seed, and fails (exit 1) unless

- each run exits 0 and its last line has exactly the keys ``correct``,
  ``attempted``, ``failed`` and ``metrics``, with every output correct;
- the untraced run emits every end-to-end metric of BENCHMARK.json and
  the traced runs every per-layer metric, each with its unit, as a
  finite number (end-to-end values also above zero);
- the status-store reads of the traced runs started no Spark job;
- the exact counts (shuffle MB, input records, files written) of the
  first traced pass repeat exactly between the two traced runs.

It takes several minutes: every run starts its own JVM.
"""

from __future__ import annotations

import json
import math
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SEED = 7


def run(workload: str, trace: int) -> tuple[dict, dict]:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(SEED), "--seconds", "1", "--trace", str(trace),
         "--scale", "sf0.001"],
        cwd=ROOT, capture_output=True, text=True, timeout=900,
    )
    if proc.returncode != 0:
        raise RuntimeError(f"{workload} trace={trace} exited {proc.returncode}:\n"
                           f"{proc.stderr[-3000:]}")
    lines = proc.stdout.strip().splitlines()
    return json.loads(lines[-1]), json.loads(lines[-2])["perfbench_diagnostics"]


def problems_in(result: dict, wanted: list[dict], positive: bool) -> list[str]:
    out = []
    if sorted(result) != ["attempted", "correct", "failed", "metrics"]:
        out.append(f"result keys {sorted(result)}")
    if not (result.get("correct") is True and result.get("failed") == 0
            and result.get("attempted", 0) >= 1):
        out.append(f"outputs not correct: {result.get('correct')} "
                   f"{result.get('attempted')} {result.get('failed')}")
    metrics = result.get("metrics", {})
    if sorted(metrics) != sorted(m["name"] for m in wanted):
        out.append(f"metric names {sorted(metrics)}")
    for m in wanted:
        got = metrics.get(m["name"], {})
        value = got.get("value")
        if got.get("unit") != m["unit"]:
            out.append(f"{m['name']}: unit {got.get('unit')} != {m['unit']}")
        if not isinstance(value, (int, float)) or not math.isfinite(value):
            out.append(f"{m['name']}: value {value!r}")
        elif positive and value <= 0:
            out.append(f"{m['name']}: value {value} is not above zero")
    return out


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        spec = json.load(fh)
    failures = []
    for w in (w["name"] for w in spec["workloads"]):
        result, _ = run(w, 0)
        failures += [f"{w} trace=0: {p}" for p in problems_in(result, spec["end_to_end"], True)]
        counts = []
        for _ in range(2):
            result, diag = run(w, 1)
            failures += [f"{w} trace=1: {p}" for p in problems_in(result, spec["per_layer"], False)]
            if diag["store_added_jobs"] != 0:
                failures.append(f"{w}: status-store reads started {diag['store_added_jobs']} jobs")
            counts.append(diag["first_traced_pass_counts"])
        if counts[0] != counts[1]:
            failures.append(f"{w}: exact counts differ between traced runs: {counts}")
        print(f"{w}: checked; first traced pass counts {counts[0]}", flush=True)
    for f in failures:
        print("FAIL", f)
    print("selfcheck:", "FAILED" if failures else "ok")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
