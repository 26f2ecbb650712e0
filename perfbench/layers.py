"""Per-layer tracing: spans, job groups and event-log aggregation.

A traced operation runs the same public entry as an untraced one, with
each layer's public functions wrapped in a span:

* the span sets the Spark job group to the layer name, so every job the
  call launches is tagged with it (jobs from threads that do not inherit
  the group — a streaming query's own group, a background cache-warm
  thread — are attributed to the innermost span open at submission);
* a DataFrame the call returns is persisted and counted inside the span,
  so the layer's lazy work runs, and is billed, there. That forcing is
  the tracing overhead the benchmark reports;
* the event log (task metrics per job) is read back after the session
  stops and aggregated per layer.

Layer walls are exclusive: a nested span's time is billed to the inner
layer only.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import statistics
import sys
import time
from contextlib import contextmanager

LAYERS = (
    "pipeline", "normalize", "candidates", "minhash", "simhash", "suffix",
    "verify", "cluster", "survivor", "checkpoint", "streaming.front",
    "streaming.tail",
)
BASE_METRICS = (
    ("wall_s", "s"), ("driver_s", "s"), ("jobs", "count"), ("task_s", "s"),
    ("shuffle_mb", "MB"), ("spill_mb", "MB"), ("skew", "ratio"),
    ("rows_out", "rows"),
)
EXTRA_METRICS = (
    ("candidates.per_doc", "pairs/doc"), ("candidates.hot_buckets", "count"),
    ("verify.yield", "ratio"), ("streaming.front.state_rows", "rows"),
    ("streaming.front.state_mb", "MB"), ("streaming.front.commit_ms", "ms"),
    ("streaming.tail.state_write_mb", "MB"),
)
TRACE_METRICS = (
    ("trace.untraced_wall_s", "s"), ("trace.traced_wall_s", "s"),
    ("trace.overhead_s", "s"), ("trace.unspanned_s", "s"),
    ("trace.gaps", "count"),
)
UNITS = {
    **{f"{layer}.{name}": unit
       for layer in LAYERS for name, unit in BASE_METRICS},
    **dict(EXTRA_METRICS), **dict(TRACE_METRICS),
}

# (layer, module, function, force) — the public functions each layer is
# entered through. force=False for calls whose output production code
# deliberately keeps lazy (bands feed a reused exchange) or that are
# eager already (stage writes).
WRAPPED = (
    ("normalize", "dedup.pipeline", "prepare_clean", True),
    ("pipeline", "dedup.pipeline", "run_dedup", False),
    ("candidates", "dedup.candidates", "exact_groups", True),
    ("candidates", "dedup.candidates", "lsh_candidates", True),
    ("candidates", "dedup.candidates", "exact_edges", True),
    ("minhash", "dedup.minhash", "signatures", True),
    ("minhash", "dedup.minhash", "explode_bands", False),
    ("minhash", "dedup.minhash", "with_shingles", True),
    ("simhash", "dedup.simhash", "simhash_channel", True),
    ("suffix", "dedup.suffix", "substring_edges", True),
    ("verify", "dedup.verify", "url_features", True),
    ("verify", "dedup.verify", "pair_reasons", True),
    ("verify", "dedup.verify", "verified_edges", False),
    ("cluster", "dedup.cluster", "connected_components", True),
    ("cluster", "dedup.cluster", "assignments_with_singletons", True),
    ("survivor", "dedup.survivor", "select_survivors", False),
    ("survivor", "dedup.survivor", "apply_authorized_override", True),
    ("streaming.tail", "dedup.streaming", "run_streaming_dedup", False),
)
# private helpers with no public entry: their work lands in whichever
# span calls them; reported so in-program tracing can close the gap
GAPS = (
    "pipeline._estimate_filter (billed to verify via pair_reasons)",
    "pipeline._jaccard_incl_exact (billed to verify via pair_reasons)",
    "pipeline._orient_uid_pairs (billed to pipeline)",
    "streaming.streaming_verify_tail internals outside verify/cluster/"
    "survivor calls (billed to streaming.tail)",
)


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.stack: list[str] = []
        self.spans: list[dict] = []   # layer, t0, t1, depth (epoch s)
        self.rows: dict[str, int] = {}
        self.extra: dict[str, float] = {}
        self.cached: list = []
        self._patched: list = []

    @contextmanager
    def span(self, layer: str):
        parent = self.stack[-1] if self.stack else None
        self.stack.append(layer)
        self.sc.setJobGroup(layer, layer)
        rec = {"layer": layer, "depth": len(self.stack), "t0": time.time()}
        try:
            yield rec
        finally:
            rec["t1"] = time.time()
            self.spans.append(rec)
            self.stack.pop()
            self.sc.setLocalProperty("spark.jobGroup.id", parent)
            self.sc.setLocalProperty("spark.job.description", parent)

    def _force(self, layer: str, fn_name: str, out):
        from pyspark import StorageLevel
        from pyspark.sql import DataFrame

        items = out if isinstance(out, tuple) else (out,)
        forced = []
        for i, df in enumerate(items):
            if isinstance(df, DataFrame) and not df.isStreaming:
                df = df.persist(StorageLevel.MEMORY_AND_DISK)
                self.cached.append(df)
                n = df.count()
                self.rows[layer] = self.rows.get(layer, 0) + n
                if layer == "candidates" and len(items) == 2:
                    key = ("candidates.lsh_pairs", "candidates.hot_buckets")[i]
                    self.extra[key] = self.extra.get(key, 0) + n
                if fn_name == "pair_reasons":
                    self.extra["verify.gated"] = (
                        self.extra.get("verify.gated", 0) + n)
            forced.append(df)
        return tuple(forced) if isinstance(out, tuple) else forced[0]

    def _wrap(self, layer: str, fn, force: bool):
        @functools.wraps(fn)
        def traced(*a, **kw):
            with self.span(layer):
                out = fn(*a, **kw)
                if force:
                    out = self._force(layer, fn.__name__, out)
            return out
        return traced

    def install(self) -> None:
        """Patch every loaded dedup module attribute that IS one of the
        wrapped functions (covers `from x import f` bindings too)."""
        import importlib

        for layer, mod, name, force in WRAPPED:
            orig = getattr(importlib.import_module(mod), name)
            wrapped = self._wrap(layer, orig, force)
            for m in list(sys.modules.values()):
                if getattr(m, "__name__", "").startswith("dedup") and \
                        getattr(m, name, None) is orig:
                    setattr(m, name, wrapped)
                    self._patched.append((m, name, orig))
        from dedup.checkpoint import CheckpointStore

        orig_ws = CheckpointStore.write_stage
        CheckpointStore.write_stage = self._wrap("checkpoint", orig_ws, False)
        self._patched.append((CheckpointStore, "write_stage", orig_ws))

    def uninstall(self) -> None:
        for obj, name, orig in reversed(self._patched):
            setattr(obj, name, orig)
        self._patched.clear()
        for df in self.cached:
            try:
                df.unpersist()
            except Exception:  # session already stopped
                pass
        self.cached.clear()


def _merge(iv: list) -> list:
    out: list = []
    for a, b in sorted(iv):
        if out and a <= out[-1][1]:
            out[-1][1] = max(out[-1][1], b)
        else:
            out.append([a, b])
    return out


def _length(iv: list) -> float:
    return sum(b - a for a, b in _merge(iv))


def _intersect(x: list, y: list) -> list:
    x, y, out = _merge(x), _merge(y), []
    i = j = 0
    while i < len(x) and j < len(y):
        a, b = max(x[i][0], y[j][0]), min(x[i][1], y[j][1])
        if a < b:
            out.append([a, b])
        if x[i][1] < y[j][1]:
            i += 1
        else:
            j += 1
    return out


def _subtract(x: list, y: list) -> list:
    out = []
    for a, b in _merge(x):
        cur = a
        for c, d in _merge(y):
            if d <= cur or c >= b:
                continue
            if c > cur:
                out.append([cur, c])
            cur = max(cur, d)
        if cur < b:
            out.append([cur, b])
    return out


def read_event_log(log_dir: str) -> tuple[dict, dict]:
    """jobs: id -> {group, t0, t1, stages}; tasks: stage -> [metrics]."""
    jobs: dict = {}
    tasks: dict = {}
    for path in sorted(glob.glob(f"{log_dir}/**/*", recursive=True)):
        if not os.path.isfile(path) or os.path.basename(path).startswith("."):
            continue
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    jobs[ev["Job ID"]] = {
                        "group": props.get("spark.jobGroup.id"),
                        "t0": ev["Submission Time"] / 1000.0,
                        "t1": None,
                        "stages": ev.get("Stage IDs", []),
                    }
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]]["t1"] = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    tasks.setdefault(ev["Stage ID"], []).append((
                        m.get("Executor Run Time", 0) / 1000.0,
                        sw.get("Shuffle Bytes Written", 0),
                        m.get("Memory Bytes Spilled", 0)
                        + m.get("Disk Bytes Spilled", 0),
                    ))
    return jobs, tasks


def layer_metrics(tracer: Tracer, log_dir: str) -> dict:
    """Per-layer metrics from the tracer's spans and the event log."""
    jobs, tasks = read_event_log(log_dir)
    spans = sorted(tracer.spans, key=lambda s: s["t0"])

    def innermost(t: float) -> str | None:
        best = None
        for s in spans:
            if s["t0"] <= t <= s["t1"] and (
                    best is None or s["depth"] > best["depth"]):
                best = s
        return best["layer"] if best else None

    by_layer: dict = {}
    stage_owner: dict = {}
    for jid in sorted(jobs):
        j = jobs[jid]
        layer = j["group"] if j["group"] in LAYERS else innermost(j["t0"])
        if layer is None:
            continue
        by_layer.setdefault(layer, []).append(j)
        for st in j["stages"]:
            stage_owner.setdefault(st, layer)

    out: dict = {}
    for layer in LAYERS:
        own = [[s["t0"], s["t1"]] for s in spans if s["layer"] == layer]
        child = [[s["t0"], s["t1"]] for s in spans
                 if s["layer"] != layer and any(
                     o[0] <= s["t0"] and s["t1"] <= o[1] for o in own)]
        excl = _subtract(own, child)
        ljobs = by_layer.get(layer, [])
        job_iv = [[j["t0"], j["t1"] or j["t0"]] for j in ljobs]
        st_tasks = [tasks.get(st, []) for st, lo in stage_owner.items()
                    if lo == layer]
        run = [t[0] for ts in st_tasks for t in ts]
        skews = [max(r) / statistics.median(r) for r in
                 ([t[0] for t in ts] for ts in st_tasks)
                 if len(r) >= 2 and statistics.median(r) > 0]
        vals = {
            "wall_s": _length(excl),
            "driver_s": _length(excl) - _length(_intersect(excl, job_iv)),
            "jobs": len(ljobs),
            "task_s": sum(run),
            "shuffle_mb": sum(t[1] for ts in st_tasks for t in ts) / 2**20,
            "spill_mb": sum(t[2] for ts in st_tasks for t in ts) / 2**20,
            "skew": max(skews, default=1.0),
            "rows_out": tracer.rows.get(layer, 0),
        }
        for name, _unit in BASE_METRICS:
            out[f"{layer}.{name}"] = float(vals[name])
    return out
