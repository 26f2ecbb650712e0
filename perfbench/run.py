#!/usr/bin/env python3
"""Benchmark of the dedup CLI (``dedup.cli.main``), end to end.

Run from the root of a checkout:

    python3 perfbench/run.py --workload batch-small --seed 1 --seconds 10 --trace 0

One process runs one workload on ``local[<cores>]``. A single client runs a
closed loop of operations until ``--seconds`` have passed; every operation
is one ``dedup.cli.main(argv)`` call on parquet inputs generated from
``--seed``, and every operation's outputs are checked against the planted
truth (checks.py). Set-up (``setup_s``) is the Spark session start plus the
untimed operations a workload needs before its timed ones.

``--trace 1`` runs one untimed operation, then the same operation traced
layer by layer (layers.py), and reports per-layer metrics plus the tracing
overhead instead of the end-to-end ones. ``--smoke`` shrinks every input to
toy size; the code path is unchanged.

The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. A report with every
end-to-end metric, its unit and sample count, the input hash and the
assignment fingerprint is printed to standard error before it.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

# Why these workloads: a batch op on a small corpus is nearly all fixed
# cost (driver planning, job scheduling, CLI report actions), so planning
# changes show there; a streaming drain reads and writes stream state and
# runs the incremental verify tail, which batch never does. Each timed run
# must fit the whole benchmark's time budget, which rules out warming a
# JVM over several multi-ten-second batch ops: the timed batch op is the
# first one after session start, as in a spark-submit run. The stream
# set-up drains a larger first drop, which leaves the JIT warm enough that
# the timed drain reads the same within ~2 % across seeds.
WORKLOADS = {
    "batch-small": {"kind": "batch", "docs": 1000, "smoke_docs": 150},
    "stream-drains": {"kind": "stream", "seed_docs": 400, "drop_docs": 100,
                      "drops": 2, "late_share": 0.1, "smoke_docs": 60},
}
# end-to-end metrics in the final JSON line: (name, unit). pages_kept is
# 1 - pages_lost (a metric must never read 0); failed_ops is the result's
# "failed" count; peak_rss_mb is reported on standard error only, since
# the driver JVM's resident peak moves by 15-25 % between identical runs.
E2E = (
    ("setup_s", "s"), ("op_p50_s", "s"), ("op_max_s", "s"),
    ("docs_per_s", "1/s"), ("pair_recall", "ratio"),
    ("pair_precision", "ratio"), ("pages_kept", "ratio"),
)
MIN_RECALL = 0.99
# a run must end well inside 180 s: no new operation starts after this
HARD_STOP_S = 120.0


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="toy-size inputs, same code path")
    return ap.parse_args(argv)


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def setup_env(root: str, work: str) -> tuple[str, dict]:
    """Environment for the driver JVM and the python workers. Must run
    before pyspark starts its gateway."""
    cores = len(os.sched_getaffinity(0))
    tmp = f"{work}/tmp"
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    # the program's default driver heap is 32g; the host has 15 GB and
    # shares it, and a 1k-doc op needs well under 3g
    os.environ["DEDUP_DRIVER_MEM"] = "3g"
    os.environ["DEDUP_LOCAL_DIR"] = f"{work}/spark-local"
    os.environ["TMPDIR"] = tmp
    os.environ["PYTHONWARNINGS"] = "ignore"
    # every JVM (the spark-submit launcher too) keeps its temp files and
    # native-library extractions in the work dir, and writes no perf data
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    conf = {"spark.sql.warehouse.dir": f"{work}/warehouse"}
    return f"local[{cores}]", conf


def start_session(master: str, conf: dict, extra: dict | None = None):
    from dedup.session import get_spark

    return get_spark("perfbench", master=master,
                     extra_conf={**conf, **(extra or {})})


def stop_active_session() -> None:
    from pyspark.sql import SparkSession

    s = SparkSession.getActiveSession()
    if s is not None:
        s.stop()


def become_subreaper() -> None:
    """Adopt every orphaned descendant (python worker daemons the driver
    JVM forks), so reap_children can wait for them too. Linux only; a
    no-op elsewhere."""
    try:
        ctypes.CDLL(None, use_errno=True).prctl(36, 1, 0, 0, 0)  # PR_SET_CHILD_SUBREAPER
    except (OSError, AttributeError):
        pass


def stop_gateway() -> None:
    """Stop the driver JVM the pyspark gateway launched and wait for it
    to exit. Left alone it outlives the run: it exits only once it sees
    its stdin pipe close, after python itself has gone."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    except Exception:
        pass
    SparkContext._gateway = SparkContext._jvm = None
    if proc is None:
        return
    try:
        proc.stdin.close()
    except (OSError, AttributeError):
        pass
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def child_pids() -> list[int]:
    me = str(os.getpid())
    pids = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the field after "(comm)" is the state, the next is the ppid
        if stat[stat.rfind(")") + 2:].split()[1] == me:
            pids.append(int(entry))
    return pids


def reap_children(grace_s: float = 10.0) -> None:
    """Terminate every process still below this one and wait for each to
    end: SIGTERM, then SIGKILL after ``grace_s``."""
    deadline = time.monotonic() + grace_s
    sig = signal.SIGTERM
    while True:
        pids = child_pids()
        if not pids:
            return
        if time.monotonic() > deadline:
            sig = signal.SIGKILL
        for pid in pids:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        time.sleep(0.1)
        for pid in pids:
            try:
                os.waitpid(pid, os.WNOHANG)
            except ChildProcessError:
                pass


def jvm_pid() -> int | None:
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    return getattr(proc, "pid", None)


def vm_hwm_mb(pid: int | None) -> float | None:
    if pid is None:
        return None
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        return None
    return None


def reset_hwm(pid: int | None) -> None:
    if pid is None:
        return
    try:
        with open(f"/proc/{pid}/clear_refs", "w") as f:
            f.write("5")
    except OSError:
        pass


class FingerprintRegistry:
    """Assignment fingerprints per (input hash, op key), kept in the
    checkout across runs: a later run on the same inputs must reproduce
    every fingerprint an earlier run recorded."""

    def __init__(self, path: str):
        self.path = path
        self.data = {}
        if os.path.exists(path):
            with open(path) as f:
                self.data = json.load(f)

    def check(self, key: str, fp: tuple) -> str | None:
        prev = self.data.get(key)
        if prev is not None and tuple(prev) != tuple(fp):
            return f"fingerprint {fp} != recorded {tuple(prev)} for {key}"
        self.data[key] = list(fp)
        return None

    def save(self) -> None:
        tmp = self.path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(self.data, f)
        os.replace(tmp, self.path)


class Workload:
    """One workload: seeded inputs, the op's CLI argv, and its checks."""

    def run_op(self, out: str) -> None:
        from dedup.cli import main

        rc = main(self.argv(out))
        if rc != 0:
            raise RuntimeError(f"cli exit {rc}")

    def snapshot(self, out: str) -> str | None:
        """State to restore so the traced op repeats the untraced one."""
        return None

    def restore(self, snap: str | None, out: str) -> None:
        shutil.rmtree(out, ignore_errors=True)

    def output_rows(self, out: str) -> tuple[int, int]:
        """(assignment rows, edge rows) of the op's output tables."""
        return (len(pd.read_parquet(f"{out}/assignments", columns=["url"])),
                len(pd.read_parquet(f"{out}/edges", columns=["url_a"])))


class BatchWorkload(Workload):
    kind = "batch"
    entry_layer = "pipeline"  # the layer whose call returns the result

    def __init__(self, spec, work, seed, smoke, master, registry):
        from inputs import batch_inputs

        n = spec["smoke_docs"] if smoke else spec["docs"]
        self.inp = batch_inputs(work, n, seed)
        self.work, self.master, self.registry = work, master, registry
        self.docs = self.inp["n_docs"]
        self.n_op = 0

    def argv(self, out: str) -> list[str]:
        return ["--input", self.inp["pages"], "--sources", self.inp["sources"],
                "--output", out, "--master", self.master,
                "--run-id", "perfbench"]

    def prepare(self) -> str:
        out = f"{self.work}/out-{self.n_op}"
        shutil.rmtree(f"{self.work}/out-{self.n_op - 2}", ignore_errors=True)
        self.n_op += 1
        return out

    def check(self, out: str) -> dict:
        from checks import assignment_check, fingerprint, pair_scores

        assign = pd.read_parquet(f"{out}/assignments",
                                 columns=["url", "cluster_id"])
        problems = assignment_check(assign, self.inp["clean_urls"])
        recall, precision, n_pairs = pair_scores(assign, self.inp["truth"])
        if not recall >= MIN_RECALL:
            problems.append(f"pair_recall {recall:.4f} < {MIN_RECALL}")
        fp = fingerprint(assign)
        err = self.registry.check(self.inp["input_sha"], fp)
        if err:
            problems.append(err)
        lost = len(self.inp["clean_urls"] - set(assign["url"]))
        return {"problems": problems, "pair_recall": recall,
                "pair_precision": precision, "recall_pairs": n_pairs,
                "pages_lost": lost / len(self.inp["clean_urls"]),
                "docs": self.docs, "fingerprint": fp}

    def setup_ops(self, trace: bool) -> int:
        """Untimed ops before measuring. A timed run measures the first
        op after session start; the traced pass warms up first so the
        untraced and traced ops compare like for like."""
        return 1 if trace else 0


class StreamWorkload(Workload):
    kind = "stream"
    entry_layer = "streaming.tail"

    def __init__(self, spec, work, seed, smoke, master, registry):
        from inputs import stream_inputs

        n = spec["smoke_docs"] if smoke else spec["drop_docs"]
        first = spec["smoke_docs"] if smoke else spec["seed_docs"]
        self.inp = stream_inputs(work, first, n, spec["drops"],
                                 spec["late_share"], seed)
        self.work, self.master, self.registry = work, master, registry
        self.land = f"{work}/landing"
        self.out = f"{work}/stream-out"
        os.makedirs(self.land, exist_ok=True)
        self.next_drop = 0
        self.landed: list[str] = []
        self.docs = n

    def drops_left(self) -> int:
        return len(self.inp["drops"]) - self.next_drop

    def argv(self, out: str) -> list[str]:
        return ["--streaming", "--input", self.land,
                "--sources", self.inp["sources"], "--output", out,
                "--master", self.master, "--run-id", "perfbench"]

    def prepare(self) -> str:
        d = self.inp["drops"][self.next_drop]
        shutil.copy(d["path"], f"{self.land}/{os.path.basename(d['path'])}")
        self.landed.extend(d["urls"])
        self.next_drop += 1
        return self.out

    def check(self, out: str) -> dict:
        from checks import (STREAM_RECALL_KINDS, assignment_check,
                            fingerprint, pair_scores)

        assign = pd.read_parquet(f"{out}/assignments",
                                 columns=["url", "cluster_id"])
        stored = pd.read_parquet(f"{out}/stream/pages", columns=["url"])["url"]
        problems = assignment_check(assign, stored)
        clean = [u for u in self.landed if u not in self.inp["quarantine"]]
        texts = self.inp["texts"]
        assigned = set(assign["url"])
        kept_texts = {texts[u] for u in assigned if u in texts}
        lost = [u for u in clean
                if u not in assigned and texts[u] not in kept_texts]
        unexplained = [u for u in lost if u not in self.inp["late_urls"]]
        if unexplained:
            problems.append(
                f"{len(unexplained)} on-time pages lost (not late, no twin)")
        truth = self.inp["truth"]
        recall, precision, n_pairs = pair_scores(
            assign, truth[truth["url"].isin(set(clean))], STREAM_RECALL_KINDS)
        if n_pairs and not recall >= MIN_RECALL:
            problems.append(f"pair_recall {recall:.4f} < {MIN_RECALL}")
        fp = fingerprint(assign)
        err = self.registry.check(
            f"{self.inp['input_sha']}/drain-{self.next_drop - 1}", fp)
        if err:
            problems.append(err)
        return {"problems": problems, "pair_recall": recall,
                "pair_precision": precision, "recall_pairs": n_pairs,
                "pages_lost": len(lost) / len(clean),
                "landed_clean": len(clean), "docs": self.docs,
                "fingerprint": fp}

    def setup_ops(self, trace: bool) -> int:
        # drop 0 seeds the stream state; its drain is the cold op
        return 1

    def snapshot(self, out: str) -> str:
        snap = f"{self.work}/snapshot"
        shutil.rmtree(snap, ignore_errors=True)
        shutil.copytree(out, snap)
        return snap

    def restore(self, snap: str, out: str) -> None:
        shutil.rmtree(out)
        shutil.copytree(snap, out)


# ---------------------------------------------------------------- runner


def timed_op(wl, stats: dict) -> tuple[float, dict | None]:
    """Run one operation and check it. Returns (wall, check) — check is
    None when the op raised; failures are counted in stats."""
    out = wl.prepare()
    t0 = time.perf_counter()
    try:
        wl.run_op(out)
    except Exception:
        traceback.print_exc(file=sys.stderr)
        stop_active_session()
        stats["failed"] += 1
        return time.perf_counter() - t0, None
    wall = time.perf_counter() - t0
    chk = wl.check(out)
    if chk["problems"]:
        log(f"check failed: {chk['problems']}")
        stats["failed"] += 1
    return wall, chk


def traced_pass(wl, master: str, conf: dict, work: str) -> dict:
    """One untraced op, then the same op traced. Returns per-layer
    metrics."""
    import layers as tr

    out = wl.prepare()
    snap = wl.snapshot(out)
    t0 = time.perf_counter()
    wl.run_op(out)
    untraced = time.perf_counter() - t0
    chk_plain = wl.check(out)
    wl.restore(snap, out)

    log_dir = f"{work}/eventlog"
    os.makedirs(log_dir, exist_ok=True)
    spark = start_session(master, conf, {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": log_dir,
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    })
    tracer = tr.Tracer(spark)
    front: dict = {}
    t0 = time.time()
    try:
        if wl.kind == "stream":
            front = stream_front(tracer, spark, wl, out)
        tracer.install()
        wl.run_op(out)
    finally:
        tracer.uninstall()
        stop_active_session()
    traced = time.time() - t0
    state_mb = dir_mb_since(f"{out}/stream/tail_state", t0) \
        if wl.kind == "stream" else 0.0
    chk = wl.check(out)
    if chk["fingerprint"] != chk_plain["fingerprint"]:
        chk["problems"].append("traced op fingerprint differs from untraced")
    assigned, edges = wl.output_rows(out)
    tracer.rows[wl.entry_layer] = assigned
    m = tr.layer_metrics(tracer, log_dir)
    m["candidates.per_doc"] = tracer.extra.get(
        "candidates.lsh_pairs", 0) / wl.docs
    m["candidates.hot_buckets"] = tracer.extra.get("candidates.hot_buckets", 0)
    gated = tracer.extra.get("verify.gated", 0)
    m["verify.yield"] = edges / gated if gated else 0.0
    m["streaming.front.state_rows"] = front.get("state_rows", 0)
    m["streaming.front.state_mb"] = front.get("state_mb", 0.0)
    m["streaming.front.commit_ms"] = front.get("commit_ms", 0.0)
    m["streaming.tail.state_write_mb"] = state_mb
    spanned = sum(m[f"{layer}.wall_s"] for layer in tr.LAYERS)
    m["trace.untraced_wall_s"] = untraced
    m["trace.traced_wall_s"] = traced
    m["trace.overhead_s"] = traced - untraced
    m["trace.unspanned_s"] = traced - spanned
    m["trace.gaps"] = len(tr.GAPS)
    log(f"trace: layer walls {spanned:.2f}s + unspanned "
        f"{traced - spanned:.2f}s = traced {traced:.2f}s; untraced "
        f"{untraced:.2f}s; overhead {traced - untraced:.2f}s")
    for g in tr.GAPS:
        log(f"trace gap: {g}")
    return {"metrics": m, "checks": [chk_plain, chk]}


def stream_front(tracer, spark, wl, out: str) -> dict:
    """Drain the landing directory through the two stream queries as the
    streaming.front span, so the traced CLI call's tail finds no new
    files. Returns state metrics from the queries' recentProgress."""
    from dedup.config import DedupConfig
    from dedup.streaming import start_streaming_stores

    def stored_rows() -> int:  # rows in the two stores the queries append
        return sum(len(pd.read_parquet(f"{out}/stream/{name}",
                                       columns=[col]))
                   for name, col in (("pages", "url"), ("pairs", "url_a"))
                   if os.path.isdir(f"{out}/stream/{name}"))

    before = stored_rows()
    with tracer.span("streaming.front"):
        queries = start_streaming_stores(
            spark, wl.land, f"{out}/stream", DedupConfig())
        for q in queries:
            q.awaitTermination()
    tracer.rows["streaming.front"] = stored_rows() - before
    rows = mb = commit = 0.0
    for q in queries:
        progress = q.recentProgress or []
        for p in progress:
            for op in p.get("stateOperators", []):
                commit += op.get("commitTimeMs", 0)
        if progress:
            for op in progress[-1].get("stateOperators", []):
                rows += op.get("numRowsTotal", 0)
                mb += op.get("memoryUsedBytes", 0) / 2**20
    return {"state_rows": rows, "state_mb": mb, "commit_ms": commit}


def dir_mb_since(path: str, since: float) -> float:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for fn in files:
            st = os.stat(os.path.join(dirpath, fn))
            if st.st_mtime >= since:
                total += st.st_size
    return total / 2**20


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "dedup", "cli.py")):
        print("perfbench: run from the root of a dedup checkout "
              "(dedup/cli.py not found)", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    become_subreaper()
    # a terminated run still stops its JVM and workers (the finally below)
    signal.signal(signal.SIGTERM, lambda _sig, _frame: sys.exit(143))
    base = os.path.join(root, ".perfbench_work")
    work = os.path.join(base, f"{args.workload}-s{args.seed}-p{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    master, conf = setup_env(root, work)
    registry = FingerprintRegistry(os.path.join(base, "fingerprints.json"))
    spec = WORKLOADS[args.workload]
    try:
        return run(args, spec, work, master, conf, registry)
    finally:
        registry.save()
        if "pyspark" in sys.modules:
            try:
                stop_active_session()
            except Exception as e:  # e.g. the gateway link was cut by SIGTERM
                log(f"session stop failed: {e!r}")
            stop_gateway()
        reap_children()
        shutil.rmtree(work, ignore_errors=True)


def run(args, spec, work, master, conf, registry) -> int:
    t_begin = time.perf_counter()
    cls = BatchWorkload if spec["kind"] == "batch" else StreamWorkload
    wl = cls(spec, work, args.seed, args.smoke, master, registry)
    inputs_s = time.perf_counter() - t_begin
    log(f"inputs {wl.inp['input_sha']} in {inputs_s:.2f}s")

    stats = {"failed": 0}
    # set-up: session start plus the cold operations, untimed
    t0 = time.perf_counter()
    start_session(master, conf)
    pid = jvm_pid()
    warm = []
    for _ in range(wl.setup_ops(bool(args.trace))):
        wall, _chk = timed_op(wl, stats)
        warm.append(wall)
    setup_s = time.perf_counter() - t0
    log(f"setup {setup_s:.2f}s (warm-up op walls {[round(w, 2) for w in warm]})")

    if args.trace:
        res = traced_pass(wl, master, conf, work)
        failed = stats["failed"] + sum(bool(c["problems"]) for c in res["checks"])
        for c in res["checks"]:
            if c["problems"]:
                log(f"check failed: {c['problems']}")
        import layers as tr

        metrics = {k: {"value": v, "unit": tr.UNITS[k]}
                   for k, v in res["metrics"].items()}
        print(json.dumps({"correct": failed == 0, "attempted": 2 + len(warm),
                          "failed": failed, "metrics": metrics}))
        return 0

    reset_hwm(pid)
    ops = []
    t_loop = time.perf_counter()
    while True:
        ops.append(timed_op(wl, stats))
        elapsed = time.perf_counter() - t_loop
        if elapsed >= args.seconds or time.perf_counter() - t_begin > HARD_STOP_S:
            break
        if wl.kind == "stream" and wl.drops_left() == 0:
            break
    peak = vm_hwm_mb(pid)

    def med(key):
        vals = [c[key] for c in checks if c[key] == c[key]]  # drop NaN
        return statistics.median(vals) if vals else None

    walls = [w for w, _c in ops]
    checks = [c for _w, c in ops if c is not None]
    ok_walls = [w for w, c in ops if c is not None] or walls
    values = {
        "setup_s": setup_s,
        "op_p50_s": statistics.median(walls),
        "op_max_s": max(walls),
        "docs_per_s": statistics.median(wl.docs / w for w in ok_walls),
        "pair_recall": med("pair_recall"),
        "pair_precision": med("pair_precision"),
        # last op: stream loss accumulates over drains
        "pages_kept": 1.0 - checks[-1]["pages_lost"] if checks else None,
    }
    attempted = len(walls) + len(warm)
    last = checks[-1] if checks else {}
    # the nine end-to-end metrics: (value, unit, samples)
    table = {
        "setup_s": (setup_s, "s", 1),
        "op_p50_s": (values["op_p50_s"], "s", len(walls)),
        "op_max_s": (values["op_max_s"], "s", len(walls)),
        "docs_per_s": (values["docs_per_s"], "1/s", len(ok_walls)),
        "peak_rss_mb": (peak, "MB", 1),
        "failed_ops": (stats["failed"] / attempted, "share", attempted),
        "pair_recall": (values["pair_recall"], "ratio",
                        last.get("recall_pairs", 0)),
        "pair_precision": (values["pair_precision"], "ratio", len(checks)),
        "pages_lost": (last.get("pages_lost"), "share",
                       last.get("landed_clean", len(wl.inp.get(
                           "clean_urls", ())))),
    }
    log(f"{args.workload} seed={args.seed} input_sha={wl.inp['input_sha']} "
        f"fingerprint={last.get('fingerprint')} op_walls_s="
        f"{[round(w, 3) for w in walls]} warmup_ops={len(warm)}")
    for name, (value, unit, n) in table.items():
        shown = "n/a" if value is None else f"{value:.6g}"
        log(f"  {name:15s} {shown:>12s} {unit:6s} n={n}")
    metrics = {name: {"value": values[name], "unit": unit}
               for name, unit in E2E}
    print(json.dumps({"correct": stats["failed"] == 0, "attempted": attempted,
                      "failed": stats["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
