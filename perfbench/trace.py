"""Per-layer tracing from outside the engine.

Three sources, none of which edits engine code:

- wrappers installed in this process around ``ParquetStore.write`` (one span
  per stage), around the operator entry points (to learn which layer built a
  DataFrame) and around PySpark's action entry points (one span per job
  started outside ``store.write``);
- the Spark job group: every span sets ``spark.jobGroup.id`` to
  ``<run>|<layer>|<name>`` in the calling thread, so jobs of the async
  diagnostic stages, which run in pool threads, carry the right tag;
- Spark's JSON event log, whose task metrics are folded per job group.

A layer is a module of the engine (``operators.<layer>``, ``sources.store``,
``plans.pipeline``). Work that Spark fuses into one job is charged to the
layer whose output the job materializes.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import json
import statistics
import sys
import threading
import time
from collections import defaultdict
from dataclasses import dataclass
from pathlib import Path

from perfbench.workloads import dir_stats

GROUP = "spark.jobGroup.id"

# pipeline stage -> layer that owns its work
STAGE_LAYER = {
    "t_sigs": "signatures",
    "t_salted": "skew",
    "t_skew_report": "skew",
    "t_hamming": "hamming",
    "t_containment": "containment",
    "t_containment_skipped": "containment",
    "t_verified": "verify",
    "t_rescued": "pairs",
    "t_clusters": "cc",
    "t_winners": "winners",
    "t_dup_dirs": "rollup",
    "t_report": "report",
    "t_dir_report": "report",
    "t_invalid": "validity",
}
OPERATOR_LAYERS = (
    "signatures", "skew", "hamming", "containment", "verify", "pairs", "cc",
    "winners", "rollup", "report", "validity",
)
# operator module -> layer, for jobs an operator starts itself (eager
# localCheckpoint / count calls); banding is the view inside t_salted
_MODULE_LAYER = {m: m for m in OPERATOR_LAYERS} | {"banding": "skew", "exact": "pairs"}
# jobs started by these pipeline-local functions belong to a layer
_FUNC_LAYER = {"_audit_prior_sigs": "signatures"}

# operator entry points whose returned DataFrame is tagged with a layer, so
# an action on it (textdedup's localCheckpoints, the final sink) is charged
# to the layer that built it
ENTRY_POINTS = {
    "dedup_spark.operators.signatures": {"compute_signatures": "signatures"},
    "dedup_spark.operators.textdedup": {
        "text_signatures": "signatures",
        "text_band_table": "skew",
        "text_verify": "verify",
    },
    "dedup_spark.operators.skew": {"salted_bands": "skew"},
    "dedup_spark.operators.hamming": {"hamming_family_pairs": "hamming"},
    "dedup_spark.operators.containment": {"containment_stage": "containment"},
    "dedup_spark.operators.verify": {
        "verify_pairs": "verify",
        "rescue_verify_pairs": "pairs",
    },
    "dedup_spark.operators.pairs": {"orphan_rescue_pairs": "pairs"},
    "dedup_spark.operators.cc": {"connected_components": "cc"},
    "dedup_spark.operators.winners": {"select_winners": "winners"},
}
_DF_ACTIONS = (
    "collect", "count", "toPandas", "localCheckpoint", "checkpoint", "first",
    "head", "take", "toLocalIterator",
)
_WRITER_ACTIONS = ("parquet", "save")


@dataclass
class Span:
    run: str
    layer: str
    name: str
    start: float
    end: float
    parent: str  # the run span


def _union_seconds(intervals: list[tuple[float, float]]) -> float:
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


class Tracer:
    """Installs the wrappers, records spans and store counters per run."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.jvm = spark._jvm
        self.run: str | None = None
        self.run_spans: dict[str, tuple[float, float]] = {}
        self.run_epochs: dict[str, tuple[float, float]] = {}  # event-log clock
        self.spans: list[Span] = []
        self.store: dict[str, dict] = defaultdict(
            lambda: defaultdict(float)
        )  # run -> commit_s / bytes / files
        self.rows: dict[str, dict] = defaultdict(lambda: defaultdict(int))
        self.gc_s: dict[str, float] = {}
        self.outputs: dict[str, object] = {}  # layer -> its last checkpointed df
        self._df_layer: dict[int, tuple[str, str, object]] = {}
        self._lock = threading.Lock()
        self._local = threading.local()

    # --- installation (for the life of the process) ---------------------
    @staticmethod
    def _patch(owner, attr: str, make) -> None:
        orig = getattr(owner, attr)
        setattr(owner, attr, functools.wraps(orig)(make(orig)))

    def install(self) -> "Tracer":
        from pyspark.sql.classic.dataframe import DataFrame
        from pyspark.sql.readwriter import DataFrameWriter

        from dedup_spark.sources.store import ParquetStore

        self._patch(ParquetStore, "write", self._wrap_store_write)
        for name in _DF_ACTIONS:
            self._patch(DataFrame, name, lambda o, n=name: self._wrap_action(o, n, None))
        for name in _WRITER_ACTIONS:
            self._patch(
                DataFrameWriter, name,
                lambda o, n=name: self._wrap_action(o, n, lambda w: w._df),
            )
        for modname, funcs in ENTRY_POINTS.items():
            mod = importlib.import_module(modname)
            for fn, layer in funcs.items():
                self._patch(mod, fn, lambda o, f=fn, lay=layer: self._wrap_entry(o, f, lay))
        return self

    # --- run lifecycle ------------------------------------------------
    def _gc_ms(self) -> int:
        beans = self.jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return sum(b.getCollectionTime() for b in beans)

    def begin(self, run: str) -> None:
        self.run = run
        self.outputs = {}
        self._df_layer = {}
        self._gc0 = self._gc_ms()
        self._epoch0 = time.time()
        self._t0 = time.perf_counter()

    def end(self) -> None:
        t1 = time.perf_counter()
        self.gc_s[self.run] = (self._gc_ms() - self._gc0) / 1000
        self.run_spans[self.run] = (self._t0, t1)
        self.run_epochs[self.run] = (self._epoch0, time.time())
        self._df_layer = {}
        self.run = None

    @contextlib.contextmanager
    def tag(self, layer: str, name: str):
        """Charge actions the benchmark itself starts to ``layer``."""
        self._local.forced = (layer, name)
        try:
            yield
        finally:
            self._local.forced = None

    # --- wrappers -----------------------------------------------------
    def _set_group(self, layer: str, name: str) -> str | None:
        prev = self.sc.getLocalProperty(GROUP)
        self.sc.setLocalProperty(GROUP, f"{self.run}|{layer}|{name}")
        return prev

    def _record(self, layer: str, name: str, t0: float, t1: float) -> None:
        with self._lock:
            self.spans.append(Span(self.run, layer, name, t0, t1, f"run:{self.run}"))

    def _wrap_store_write(self, orig):
        tracer = self

        def write(store, name, df, *args, **kwargs):
            if tracer.run is None:
                return orig(store, name, df, *args, **kwargs)
            tl = tracer._local
            layer = STAGE_LAYER.get(name, "pipeline")
            outer = getattr(tl, "stage", None)
            tl.stage, tl.action_s = (layer, name), 0.0
            prev = tracer._set_group(layer, name)
            t0 = time.perf_counter()
            try:
                res = orig(store, name, df, *args, **kwargs)
            finally:
                t1 = time.perf_counter()
                tracer.sc.setLocalProperty(GROUP, prev)
                action_s, tl.stage = tl.action_s, outer
            tracer._record(layer, name, t0, t1)
            size, files = dir_stats(store._table_dir(name))
            with tracer._lock:
                st = tracer.store[tracer.run]
                st["commit_s"] += (t1 - t0) - action_s
                st["bytes"] += size
                st["files"] += files
                tracer.rows[tracer.run][layer] += res.rows
            return res

        return write

    def _layer_of(self, df) -> tuple[str, str]:
        forced = getattr(self._local, "forced", None)
        if forced:
            return forced
        hit = self._df_layer.get(id(df)) if df is not None else None
        if hit is not None:
            return hit[0], hit[1]
        f = sys._getframe(2)
        while f is not None:
            mod = f.f_globals.get("__name__", "")
            if mod.startswith("dedup_spark."):
                short, func = mod.rsplit(".", 1)[-1], f.f_code.co_name
                layer = _FUNC_LAYER.get(func) or _MODULE_LAYER.get(short, "pipeline")
                return layer, f"{short}.{func}"
            f = f.f_back
        return "untagged", "bench"

    def _wrap_action(self, orig, action: str, df_of):
        tracer = self

        def wrapped(obj, *args, **kwargs):
            tl = tracer._local
            if tracer.run is None or getattr(tl, "depth", 0):
                return orig(obj, *args, **kwargs)
            df = df_of(obj) if df_of else obj
            stage = getattr(tl, "stage", None)
            if stage is None:
                layer, name = tracer._layer_of(df)
                prev = tracer._set_group(layer, name)
            tl.depth = 1
            t0 = time.perf_counter()
            try:
                res = orig(obj, *args, **kwargs)
            finally:
                t1 = time.perf_counter()
                tl.depth = 0
                if stage is not None:
                    tl.action_s += t1 - t0
                else:
                    tracer.sc.setLocalProperty(GROUP, prev)
            if stage is None:
                tracer._record(layer, f"{name}:{action}", t0, t1)
                if action in ("localCheckpoint", "checkpoint") and id(df) in tracer._df_layer:
                    tracer.outputs[layer] = res
            return res

        return wrapped

    def _wrap_entry(self, orig, fn: str, layer: str):
        tracer = self

        def wrapped(*args, **kwargs):
            res = orig(*args, **kwargs)
            if tracer.run is not None:
                first = res[0] if isinstance(res, tuple) else res
                # keep a reference: an id() must not be reused while tagged
                tracer._df_layer[id(first)] = (layer, fn, first)
            return res

        return wrapped

    # --- folding ------------------------------------------------------
    def layer_walls(self, run: str) -> tuple[dict[str, float], float, float]:
        """Per-layer wall (union of its spans), pipeline self time and the
        span-union coverage of the run."""
        spans = [s for s in self.spans if s.run == run]
        t0, t1 = self.run_spans[run]
        by_layer: dict[str, list] = defaultdict(list)
        for s in spans:
            by_layer[s.layer].append((s.start, s.end))
        walls = {k: _union_seconds(v) for k, v in by_layer.items()}
        covered = _union_seconds([(s.start, s.end) for s in spans])
        escaped = [s for s in spans if s.start < t0 - 1e-3 or s.end > t1 + 1e-3]
        if escaped:
            raise RuntimeError(f"spans outside their run: {escaped[:3]}")
        return walls, (t1 - t0) - covered, covered / (t1 - t0)


def read_event_log(evdir: Path) -> dict[str, dict[str, list]]:
    """Task records per job group: group -> {"stages": {stage: [task...]}}.

    A task record is (run_s, gc_s, peak_exec_bytes, shuffle_write_bytes,
    disk_spill_bytes, launch_epoch_s)."""
    files = [p for p in evdir.iterdir() if p.is_file()]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {evdir}, found {files}")
    stage_group: dict[int, str] = {}
    tasks: dict[str, dict[int, list]] = defaultdict(lambda: defaultdict(list))
    with open(files[0]) as f:
        for line in f:
            if '"SparkListenerJobStart"' in line[:40]:
                e = json.loads(line)
                group = (e.get("Properties") or {}).get(GROUP) or "untagged"
                for sid in e["Stage IDs"]:
                    stage_group.setdefault(sid, group)
            elif '"SparkListenerTaskEnd"' in line[:40]:
                e = json.loads(line)
                m = e.get("Task Metrics") or {}
                if not m:
                    continue
                peak = max(
                    m.get("Peak Execution Memory", 0),
                    m.get("Peak On Heap Execution Memory", 0)
                    + m.get("Peak Off Heap Execution Memory", 0),
                )
                rec = (
                    m["Executor Run Time"] / 1000,
                    m["JVM GC Time"] / 1000,
                    peak,
                    m["Shuffle Write Metrics"]["Shuffle Bytes Written"],
                    m["Disk Bytes Spilled"],
                    e["Task Info"]["Launch Time"] / 1000,
                )
                sid = e["Stage ID"]
                tasks[stage_group.get(sid, "untagged")][sid].append(rec)
    return tasks


def _skew(stage_tasks: dict[int, list]) -> float:
    """Slowest / median task time per Spark stage, weighted by stage task
    time (stages with fewer than two tasks have no skew to report)."""
    num = den = 0.0
    for recs in stage_tasks.values():
        times = [r[0] for r in recs]
        if len(times) < 2:
            continue
        med = statistics.median(times)
        if med <= 0:
            continue
        w = sum(times)
        num += w * max(times) / med
        den += w
    return num / den if den else 0.0


MIB = float(1 << 20)


def fold_run(tracer: Tracer, tasks: dict, run: str, cores: int) -> tuple[dict, dict]:
    """Per-layer metrics of one traced run, plus diagnostics."""
    walls, self_s, coverage = tracer.layer_walls(run)
    t0, t1 = tracer.run_epochs[run]
    by_layer: dict[str, dict[int, list]] = defaultdict(lambda: defaultdict(list))
    peak_exec = 0
    for group, stages in tasks.items():
        parts = group.split("|")
        if parts[0] == run and len(parts) == 3:
            layer = parts[1]
        elif group == "untagged":  # a job without a group: charge it by time
            layer = "untagged"
            stages = {
                sid: [r for r in recs if t0 <= r[5] <= t1] for sid, recs in stages.items()
            }
        else:
            continue
        for sid, recs in stages.items():
            by_layer[layer][sid].extend(recs)
            peak_exec = max([peak_exec] + [r[2] for r in recs])
    untagged_task_s = sum(r[0] for v in by_layer["untagged"].values() for r in v)
    out: dict[str, float] = {}
    for layer in OPERATOR_LAYERS:
        recs = [r for v in by_layer[layer].values() for r in v]
        wall = walls.get(layer, 0.0)
        task_s = sum(r[0] for r in recs)
        out[f"{layer}.wall_s"] = wall
        out[f"{layer}.rows_out"] = tracer.rows[run].get(layer, 0)
        out[f"{layer}.task_s"] = task_s
        out[f"{layer}.idle_slot_s"] = cores * wall - task_s
        out[f"{layer}.shuffle_write_mb"] = sum(r[3] for r in recs) / MIB
        out[f"{layer}.spill_mb"] = sum(r[4] for r in recs) / MIB
        out[f"{layer}.task_skew"] = _skew(by_layer[layer])
    st = tracer.store[run]
    out["store.commit_s"] = st["commit_s"]
    out["store.mb_written"] = st["bytes"] / MIB
    out["store.files"] = st["files"]
    out["pipeline.self_s"] = self_s
    out["jvm.gc_s"] = tracer.gc_s[run]
    out["jvm.peak_exec_mb"] = peak_exec / MIB
    diag = {
        "span_coverage": round(coverage, 4),
        "untagged_task_s": round(untagged_task_s, 3),
    }
    return out, diag
