"""Per-layer measurements for the traced run (``--trace 1``).

Two sources, both read outside the package:

- Timing wrappers. ``Tracer.installed()`` swaps each traced package
  function for a wrapper that records a span (layer, label, start,
  end), in every ``etl_his_spark`` module that imported it, and swaps
  the originals back on exit. It also wraps ``DataFrame.localCheckpoint``
  to learn the RDD id of every pin.
- Spark's status store. After each operation, ``Tracer.read_op`` waits
  for the listener bus to drain and reads the jobs the operation
  started, and their stages, from the store. Jobs are attributed by id
  window (ids handed out between the operation's start and end): the
  benchmark is a single client, and the window also catches jobs that
  ``publish_atomic`` submits from its pool threads, which a job group
  would miss. Reading the store starts no Spark job; ``read_op``
  counts any job id handed out during the read in ``store_added_jobs``
  so the run can assert that.

Spans report self time: a layer's time is the union of its spans'
intervals (so nested or concurrent spans of one layer are not added
up), minus the union of the child layers' spans inside it.
"""

from __future__ import annotations

import functools
import statistics
import sys
import time
from contextlib import contextmanager

# layer -> (module, function names); "*" means every public function
# defined in the module.
TRACED = {
    "operators.dense_ids": ("etl_his_spark.operators.surrogate", ["dense_ids"]),
    "operators.dedup_approx": ("etl_his_spark.operators.dedup_approx", ["*"]),
    "sources.publish": ("etl_his_spark.sources.writers", ["publish_atomic"]),
    "sources.write_table": ("etl_his_spark.sources.writers", ["write_table"]),
    "sources.swap": ("etl_his_spark.sources.writers", ["_swap_pointer"]),
    # call sites of dense_ids inside the HIS pipeline, for the split
    "plans.id_mint": ("etl_his_spark.plans.his_pipeline", ["_with_row_ids"]),
    "plans.bridge": ("etl_his_spark.plans.his_pipeline", ["build_bridge"]),
}

MB = 1024 * 1024


def _union(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def _clip(intervals, lo: float, hi: float) -> list[tuple[float, float]]:
    return [(max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi]


def _ints(scala_seq) -> list[int]:
    text = scala_seq.mkString(",")
    return [int(x) for x in text.split(",")] if text else []


class Tracer:
    """Records spans and reads the status store for one operation at a
    time. Create one per Spark session."""

    def __init__(self, spark, cpus: int):
        # the session's concrete DataFrame class, which defines the methods
        self._frame_cls = type(spark.range(0))
        sc = spark.sparkContext._jsc.sc()
        self._gateway = spark.sparkContext._gateway
        self._jvm = spark.sparkContext._jvm
        self._store = sc.statusStore()
        self._bus = sc.listenerBus()
        self._dag = sc.dagScheduler()
        self.cpus = cpus
        self.spans: list[tuple[str, str, float, float]] = []
        self.pins: set[int] = set()
        self.store_added_jobs = 0
        self._t0 = self._t1 = self._built = 0.0
        self._j0 = self._j1 = self._jb = 0

    def next_job(self) -> int:
        return int(self._dag.nextJobId())

    # -- wrappers ---------------------------------------------------------

    def _wrapper(self, fn, layer: str):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if layer == "sources.publish":
                tracer.mark_built()
            label = ""
            if layer == "sources.write_table":
                label = str(args[1] if len(args) > 1 else kwargs["path"]).rstrip("/")
                label = label.rsplit("/", 1)[-1]
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                tracer.spans.append((layer, label, t0, time.perf_counter()))

        return traced

    @contextmanager
    def installed(self):
        """Swap the traced functions for wrappers; restore on exit."""
        import importlib

        frame_cls = self._frame_cls
        patched = []
        for layer, (modname, names) in TRACED.items():
            mod = importlib.import_module(modname)
            if names == ["*"]:
                names = [
                    n for n, v in vars(mod).items()
                    if not n.startswith("_") and callable(v)
                    and getattr(v, "__module__", None) == modname
                ]
            for name in names:
                original = getattr(mod, name)
                wrapper = self._wrapper(original, layer)
                for m in list(sys.modules.values()):
                    if not getattr(m, "__name__", "").startswith("etl_his_spark"):
                        continue
                    for attr, value in list(vars(m).items()):
                        if value is original:
                            setattr(m, attr, wrapper)
                            patched.append((m, attr, original))

        original_lc = frame_cls.localCheckpoint
        tracer = self

        @functools.wraps(original_lc)
        def local_checkpoint(df, *args, **kwargs):
            out = original_lc(df, *args, **kwargs)
            tracer.pins.add(int(out._jdf.queryExecution().analyzed().rdd().id()))
            return out

        frame_cls.localCheckpoint = local_checkpoint
        try:
            yield
        finally:
            frame_cls.localCheckpoint = original_lc
            for m, attr, original in reversed(patched):
                setattr(m, attr, original)

    # -- one operation ----------------------------------------------------

    @contextmanager
    def op(self):
        self.spans = []
        self.pins = set()
        self._built = 0.0
        self._j0 = self.next_job()
        self._t0 = time.perf_counter()
        try:
            yield
        finally:
            self._t1 = time.perf_counter()
            self._j1 = self.next_job()

    def mark_built(self) -> None:
        """The plan is built; what follows is the action. Only the first
        mark of an operation counts."""
        if not self._built:
            self._built = time.perf_counter()
            self._jb = self.next_job()

    def _spans(self, layer: str, label: str | None = None):
        return [
            (a, b) for lay, lab, a, b in self.spans
            if lay == layer and (label is None or lab == label)
        ]

    def read_op(self) -> dict[str, float]:
        """Per-layer numbers of the operation that just ended."""
        t0, t1 = self._t0, self._t1
        built = self._built or t1
        jb = self._jb if self._built else self._j1
        ops_layers = self._spans("operators.dense_ids") + self._spans(
            "operators.dedup_approx"
        )
        publish = self._spans("sources.publish")
        writes = self._spans("sources.write_table")
        swaps = self._spans("sources.swap")
        m: dict[str, float] = {
            "op_s": t1 - t0,
            "build_total_s": built - t0,
            "plans.build_s": (built - t0) - _union(_clip(ops_layers, t0, built)),
            "plans.build_jobs": jb - self._j0,
            "operators.dense_ids_s": _union(self._spans("operators.dense_ids")),
            "operators.dedup_approx_s": _union(self._spans("operators.dedup_approx")),
            "sources.publish_s": _union(publish) - _union(
                [iv for p0, p1 in publish for iv in _clip(writes + swaps, p0, p1)]
            ),
            "sources.swap_s": _union(swaps),
            "publish_total_s": _union(publish),
            "exec.action_s": t1 - built,
        }
        for table in sorted({lab for lay, lab, _, _ in self.spans if lay == "sources.write_table"}):
            m[f"sources.write_table_s.{table}"] = _union(
                self._spans("sources.write_table", table)
            )
        for site in ("plans.id_mint", "plans.bridge"):
            m[f"{site}.dense_ids_s"] = _union(
                [iv for s0, s1 in self._spans(site)
                 for iv in _clip(self._spans("operators.dense_ids"), s0, s1)]
            )
        m.update(self._read_store())
        return m

    def _read_store(self) -> dict[str, float]:
        self._bus.waitUntilEmpty()
        before = self.next_job()
        stages = {}
        for jid in range(self._j0, self._j1):
            for sid in _ints(self._store.job(jid).stageIds()):
                if sid not in stages:
                    s = self._store.lastStageAttempt(sid)
                    if s.status().toString() == "COMPLETE":
                        stages[sid] = s
        m = {
            "exec.jobs": self._j1 - self._j0,
            "exec.stages": len(stages),
            "exec.tasks": 0, "exec.executor_run_s": 0.0, "exec.executor_cpu_s": 0.0,
            "exec.shuffle_write_mb": 0.0, "exec.shuffle_read_mb": 0.0,
            "exec.spill_mb": 0.0, "exec.gc_s": 0.0, "exec.peak_execution_mb": 0.0,
            "exec.input_records": 0, "exec.input_mb": 0.0, "exec.pin_stage_s": 0.0,
            "exec.straggler_ratio": 1.0,
        }
        first_stage_of_pin: dict[int, int] = {}
        longest, longest_run = None, -1
        for sid in sorted(stages):
            s = stages[sid]
            run_ms = s.executorRunTime()
            m["exec.tasks"] += s.numTasks()
            m["exec.executor_run_s"] += run_ms / 1e3
            m["exec.executor_cpu_s"] += s.executorCpuTime() / 1e9
            m["exec.shuffle_write_mb"] += s.shuffleWriteBytes() / MB
            m["exec.shuffle_read_mb"] += s.shuffleReadBytes() / MB
            m["exec.spill_mb"] += s.diskBytesSpilled() / MB
            m["exec.gc_s"] += s.jvmGcTime() / 1e3
            m["exec.peak_execution_mb"] = max(
                m["exec.peak_execution_mb"], s.peakExecutionMemory() / MB
            )
            m["exec.input_records"] += s.inputRecords()
            m["exec.input_mb"] += s.inputBytes() / MB
            for rdd in set(_ints(s.rddIds())) & self.pins:
                first_stage_of_pin.setdefault(rdd, sid)
            if run_ms > longest_run:
                longest, longest_run = s, run_ms
        for sid in set(first_stage_of_pin.values()):
            s = stages[sid]
            m["exec.pin_stage_s"] += (
                s.completionTime().get().getTime() - s.submissionTime().get().getTime()
            ) / 1e3
        if longest is not None and longest.numTasks() > 1:
            q = self._gateway.new_array(self._jvm.double, 2)
            q[0], q[1] = 0.5, 1.0
            summary = self._store.taskSummary(longest.stageId(), longest.attemptId(), q)
            if summary.isDefined():
                run = summary.get().executorRunTime()
                median, peak = run.apply(0), run.apply(1)
                m["exec.straggler_ratio"] = peak / median if median > 0 else 1.0
        self.store_added_jobs += self.next_job() - before
        return m


def aggregate(per_op: list[dict[str, float]], cpus: int) -> dict[str, float]:
    """Means per traced warm operation; ``exec.idle_core_frac`` over the
    summed wall and executor time, ``exec.straggler_ratio`` as median."""
    keys = sorted({k for m in per_op for k in m})
    n = len(per_op)
    out = {k: sum(m.get(k, 0.0) for m in per_op) / n for k in keys}
    wall = sum(m["op_s"] for m in per_op)
    run = sum(m["exec.executor_run_s"] for m in per_op)
    out["exec.idle_core_frac"] = max(0.0, 1.0 - run / (cpus * wall))
    out["exec.straggler_ratio"] = statistics.median(
        m["exec.straggler_ratio"] for m in per_op
    )
    return out
