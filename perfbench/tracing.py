"""Per-layer tracing for the benchmark's traced run (``--trace 1``).

Spans are recorded from this file only: :class:`Tracer` replaces a fixed
list of public functions and methods of the package with wrappers that
time the call and tag the Spark jobs it submits with a job group
``pb<run>|<layer>``. PySpark's pinned-thread mode makes the job group
thread-local, so the ``run-parallel`` pool threads of ``validate_data``
tag their own jobs. Spark's uncompressed event log (enabled by the
benchmark's launch conf) then gives per-group task metrics, parsed with
the standard library alone.

A layer is named after the package module whose functions it wraps.
Jobs a run submits outside every wrapped call land in ``other``: the
benchmark wraps each whole run in an ``other`` span.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import importlib
import json
import os
import statistics
import sys
import threading
import time

# (layer, module, attribute): the public calls that get a span
TARGETS = [
    ("config", "data_linter_spark.config", "load_and_validate_config"),
    ("runner", "data_linter_spark.runner", "match_files_in_land_to_config"),
    ("runner", "data_linter_spark.runner", "validate_data"),
    ("runner", "data_linter_spark.runner", "collect_all_status"),
    ("sources", "data_linter_spark.sources.readers", "parse_data_to_spark"),
    ("validator", "data_linter_spark.validator",
     "SparkValidator.read_data_and_validate"),
    ("validator", "data_linter_spark.validator",
     "SparkValidator.write_violations"),
    ("compiler", "data_linter_spark.compiler", "ConstraintPlan.__init__"),
    ("compiler", "data_linter_spark.compiler", "ConstraintPlan.fill_from_row"),
    ("checks.unique", "data_linter_spark.checks.unique", "unique_test_result"),
    ("checks.stats_screen", "data_linter_spark.checks.stats_screen",
     "parquet_stats_screen"),
    ("manifest", "data_linter_spark.manifest", "validate_partitioned"),
    ("manifest", "data_linter_spark.manifest", "PartitionManifest.record"),
    ("manifest", "data_linter_spark.manifest", "PartitionManifest.records"),
    ("functions.packing", "data_linter_spark.functions.packing",
     "pack_windows"),
    ("functions.packing", "data_linter_spark.functions.packing",
     "write_packed_dataset"),
    ("functions.packing", "data_linter_spark.functions.packing",
     "verify_packed_dataset"),
    ("cli", "data_linter_spark.cli", "main"),
    ("session", "data_linter_spark.session", "get_spark"),
]
# calls that only read parquet footers with pyarrow are not job-group
# tagged: they run on a fresh 16-thread pool per run, and tagging from a
# new thread opens a py4j connection for it, which alone added ~0.3 s to a
# 2 s run; a job they did submit would count under the calling layer
UNTAGGED = {"parquet_stats_screen"}

# layers whose calls submit Spark work get the full measure set
SPARK_LAYERS = [
    "config", "runner", "sources", "validator", "compiler", "checks.unique",
    "checks.stats_screen", "manifest", "functions.packing", "cli",
]
SPARK_MEASURES = [
    "self_s", "calls", "jobs", "tasks", "failed_tasks", "executor_run_s",
    "executor_cpu_s", "python_worker_s", "shuffle_write_mb", "fetch_wait_s",
    "spill_mb",
]
# get_spark only returns the running session; "other" is the run's own
# code outside every wrapped call
SMALL_LAYERS = {
    "session": ["self_s", "calls"],
    "other": ["self_s", "jobs", "tasks", "executor_run_s"],
}
EXTRA_METRICS = [
    ("validator.file_s.p50", "s"),
    ("validator.file_s.p90", "s"),
    ("runner.queue_wait_s", "s"),
    ("checks.stats_screen.proven_frac", "ratio"),
    ("manifest.skipped_frac", "ratio"),
    ("driver.cpu_s", "cpu-s"),
    ("jvm.jit_cpu_s", "cpu-s"),
    ("trace.cpu_s", "cpu-s"),
    ("trace.untraced_cpu_s", "cpu-s"),
    ("trace.overhead_frac", "ratio"),
    ("trace.unstable_runs", "count"),
]

UNITS = {
    "self_s": "s", "calls": "count", "jobs": "count", "tasks": "count",
    "failed_tasks": "count", "executor_run_s": "s", "executor_cpu_s": "s",
    "python_worker_s": "s", "shuffle_write_mb": "MB", "fetch_wait_s": "s",
    "spill_mb": "MB",
}


def per_layer_metric_units() -> dict:
    """Every per-layer metric name -> unit, in a fixed order."""
    out = {}
    for layer in SPARK_LAYERS:
        for m in SPARK_MEASURES:
            out[f"{layer}.{m}"] = UNITS[m]
    for layer, measures in SMALL_LAYERS.items():
        for m in measures:
            out[f"{layer}.{m}"] = UNITS[m]
    out.update(dict(EXTRA_METRICS))
    return out


class Tracer:
    """Installs the span wrappers and records spans in memory.

    ``run_id`` is None while tracing is paused: the wrappers then call
    straight through, so traced and untraced runs share one process."""

    def __init__(self, spark_context):
        self.sc = spark_context
        self.run_id = None
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._main = threading.get_ident()
        self._main_stack: list[dict] = []
        self._restore: list[tuple] = []

    # -- spans ------------------------------------------------------------
    def _stack(self) -> list:
        if threading.get_ident() == self._main:
            return self._main_stack
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    @contextlib.contextmanager
    def span(self, layer: str, name: str):
        stack = self._stack()
        # a pool thread's first span hangs under the submitting main-thread
        # span (the only thread pools in the traced calls are spawned there)
        parent = stack[-1] if stack else (
            self._main_stack[-1] if self._main_stack else None
        )
        prev = stack[-1]["gid"] if stack else None
        gid = prev if name in UNTAGGED else f"pb{self.run_id}|{layer}"
        rec = {
            "layer": layer, "name": name, "run": self.run_id, "gid": gid,
            "parent": parent, "thread": threading.get_ident(),
            "start": time.perf_counter(), "end": None,
        }
        with self._lock:
            self.spans.append(rec)
        if gid != prev:
            self.sc.setLocalProperty("spark.jobGroup.id", gid)
        stack.append(rec)
        try:
            yield rec
        finally:
            stack.pop()
            rec["end"] = time.perf_counter()
            if gid != prev:
                self.sc.setLocalProperty("spark.jobGroup.id", prev)

    # -- wrappers ---------------------------------------------------------
    def _wrap(self, layer: str, name: str, fn):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if tracer.run_id is None:
                return fn(*args, **kwargs)
            with tracer.span(layer, name):
                return fn(*args, **kwargs)

        return wrapper

    def install(self) -> None:
        """Wrap every target. A module-level function is also replaced in
        every package module that imported it by name, so internal calls
        (``run_validation`` -> ``validate_data``) go through the wrapper."""
        for layer, modname, attr in TARGETS:
            mod = importlib.import_module(modname)
            owner_name, _, fn_name = attr.rpartition(".")
            owner = getattr(mod, owner_name) if owner_name else mod
            orig = getattr(owner, fn_name)
            wrapped = self._wrap(layer, attr, orig)
            if owner_name:
                self._patch(owner, fn_name, orig, wrapped)
                continue
            for m in list(sys.modules.values()):
                if (
                    getattr(m, "__name__", "").startswith("data_linter_spark")
                    and getattr(m, fn_name, None) is orig
                ):
                    self._patch(m, fn_name, orig, wrapped)

    def _patch(self, owner, name, orig, wrapped) -> None:
        setattr(owner, name, wrapped)
        self._restore.append((owner, name, orig))

    def uninstall(self) -> None:
        for owner, name, orig in reversed(self._restore):
            setattr(owner, name, orig)
        self._restore.clear()

    # -- per-run span aggregates --------------------------------------------
    def run_spans(self, run_id) -> list[dict]:
        return [s for s in self.spans if s["run"] == run_id]


def _union_len(intervals: list[tuple]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def span_layer_stats(spans: list[dict]) -> dict:
    """layer -> {"self_s", "calls"} for one run's spans. Self time is a
    span's duration minus the union of its children's intervals, clipped
    to the span."""
    children: dict[int, list] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(id(s["parent"]), []).append(s)
    out: dict[str, dict] = {}
    for s in spans:
        if s["end"] is None:
            continue
        kids = [
            (max(k["start"], s["start"]), min(k["end"], s["end"]))
            for k in children.get(id(s), [])
            if k["end"] is not None and k["end"] > s["start"]
        ]
        own = (s["end"] - s["start"]) - _union_len(
            [iv for iv in kids if iv[1] > iv[0]]
        )
        st = out.setdefault(s["layer"], {"self_s": 0.0, "calls": 0})
        st["self_s"] += max(own, 0.0)
        st["calls"] += 1
    return out


def validator_file_seconds(spans: list[dict]) -> list[float]:
    return [
        s["end"] - s["start"]
        for s in spans
        if s["name"] == "SparkValidator.read_data_and_validate"
        and s["end"] is not None
    ]


def queue_wait_seconds(spans: list[dict]) -> float:
    """Mean wait of a file between ``validate_data`` starting and its
    validator starting, over the run's files."""
    waits = []
    for s in spans:
        if s["name"] != "SparkValidator.read_data_and_validate":
            continue
        p = s["parent"]
        while p is not None and p["name"] != "validate_data":
            p = p["parent"]
        if p is not None:
            waits.append(s["start"] - p["start"])
    return statistics.fmean(waits) if waits else 0.0


# -- Spark event log ----------------------------------------------------------
_WANTED = (
    '"Event":"SparkListenerJobStart"',
    '"Event":"SparkListenerStageSubmitted"',
    '"Event":"SparkListenerTaskEnd"',
)


def _empty_counters() -> dict:
    return {
        "jobs": 0, "tasks": 0, "failed_tasks": 0, "executor_run_s": 0.0,
        "executor_cpu_s": 0.0, "python_worker_s": 0.0,
        "shuffle_write_mb": 0.0, "fetch_wait_s": 0.0, "spill_mb": 0.0,
    }


def parse_event_log(log_dir: str) -> dict:
    """job group id -> task-metric counters, from every event-log file
    under ``log_dir``. Tasks map to a group through the Properties of
    their stage's submission; ``spill_mb`` is Spark's "Memory Bytes
    Spilled" (the in-memory size of what was spilled)."""
    files = sorted(
        f for f in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
        if os.path.isfile(f)
    )
    stage_group: dict[tuple, str] = {}
    out: dict[str, dict] = {}
    for path in files:
        with open(path) as fh:
            for line in fh:
                if not line.startswith(_WANTED, 1):
                    continue
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    gid = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if gid:
                        out.setdefault(gid, _empty_counters())["jobs"] += 1
                elif kind == "SparkListenerStageSubmitted":
                    info = ev["Stage Info"]
                    gid = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if gid:
                        stage_group[
                            (info["Stage ID"], info["Stage Attempt ID"])
                        ] = gid
                else:
                    gid = stage_group.get(
                        (ev["Stage ID"], ev["Stage Attempt ID"])
                    )
                    if gid is None:
                        continue
                    c = out.setdefault(gid, _empty_counters())
                    c["tasks"] += 1
                    if ev["Task End Reason"]["Reason"] != "Success":
                        c["failed_tasks"] += 1
                    tm = ev.get("Task Metrics") or {}
                    c["executor_run_s"] += tm.get("Executor Run Time", 0) / 1e3
                    c["executor_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
                    c["spill_mb"] += tm.get("Memory Bytes Spilled", 0) / 1e6
                    c["shuffle_write_mb"] += (
                        tm.get("Shuffle Write Metrics", {}).get(
                            "Shuffle Bytes Written", 0
                        ) / 1e6
                    )
                    c["fetch_wait_s"] += (
                        tm.get("Shuffle Read Metrics", {}).get(
                            "Fetch Wait Time", 0
                        ) / 1e3
                    )
                    for acc in ev["Task Info"].get("Accumulables", []):
                        if acc.get("Name") == "time to run Python workers":
                            c["python_worker_s"] += float(acc["Update"]) / 1e3
    return out


def run_layer_metrics(tracer: Tracer, run_id, groups: dict) -> dict:
    """Flat ``<layer>.<measure>`` dict for one traced run (span stats plus
    the event-log counters of the run's job groups)."""
    spans = tracer.run_spans(run_id)
    stats = span_layer_stats(spans)
    out = {}
    layers = {layer: SPARK_MEASURES for layer in SPARK_LAYERS}
    layers.update(SMALL_LAYERS)
    for layer, measures in layers.items():
        counters = groups.get(f"pb{run_id}|{layer}", _empty_counters())
        st = stats.get(layer, {"self_s": 0.0, "calls": 0})
        for m in measures:
            out[f"{layer}.{m}"] = st[m] if m in st else counters[m]
    return out
