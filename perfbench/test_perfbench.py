"""Tests of the benchmark itself. Run from the repository root:

    python3 -m pytest perfbench/test_perfbench.py -q

The end-to-end cases run ``run.py --smoke`` (toy-size inputs through the
same code path) in a subprocess, one Spark driver each.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

from checks import assignment_check, fingerprint, pair_scores  # noqa: E402
from run import stop_gateway  # noqa: E402


def _run(args, cwd=ROOT):
    return subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


def _result(proc) -> dict:
    assert proc.returncode == 0, proc.stderr[-4000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def test_fingerprint_matches_spark_sql():
    from pyspark.sql import SparkSession, functions as F

    rows = [(f"https://site{i}.example/p/{i * 7919}", f"c{i % 5}" * (i % 40))
            for i in range(200)]
    spark = (SparkSession.builder.master("local[1]")
             .config("spark.ui.enabled", "false").getOrCreate())
    try:
        df = spark.createDataFrame(rows, "url string, cluster_id string")
        got = df.agg(F.count(F.lit(1)).alias("n"),
                     F.bit_xor(F.xxhash64("url", "cluster_id")).alias("h")
                     ).collect()[0]
    finally:
        spark.stop()
        stop_gateway()
    pdf = pd.DataFrame(rows, columns=["url", "cluster_id"])
    assert fingerprint(pdf) == (got["n"], got["h"])


def test_pair_scores_and_assignment_check():
    truth = pd.DataFrame({
        "url": ["a", "b", "c", "d", "e"],
        "true_cluster_id": [1, 1, 2, 3, 3],
        "dup_kind": ["unique", "near", "unique", "unique", "exact"],
    })
    assign = pd.DataFrame({"url": ["a", "b", "c", "d", "e"],
                           "cluster_id": ["a", "a", "a", "d", "e"]})
    recall, precision, n = pair_scores(assign, truth)
    assert n == 2 and recall == 0.5
    # co-clustered pairs: (a,b) true, (a,c) and (b,c) false
    assert precision == pytest.approx(1 / 3)
    assert assignment_check(assign, truth["url"]) == []
    dup = pd.concat([assign, assign.iloc[:1]])
    assert assignment_check(dup, list("abcdef")) == [
        "1 urls assigned more than once", "1 expected urls unassigned"]


def test_refuses_directory_without_program(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = _run(["--workload", "batch-small", "--seed", "1", "--seconds", "1",
                 "--trace", "0"], cwd=tmp_path)
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""


@pytest.mark.parametrize("workload", ["batch-small", "stream-drains"])
def test_smoke_run_reports_every_end_to_end_metric(workload):
    from run import E2E, become_subreaper, child_pids

    # as a subreaper this process adopts anything the run leaves behind
    become_subreaper()
    before = set(child_pids())
    res = _result(_run(["--workload", workload, "--seed", "5", "--seconds",
                        "1", "--trace", "0", "--smoke"]))
    assert set(child_pids()) <= before, "the run left processes behind"
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    assert set(res["metrics"]) == {name for name, _ in E2E}
    for name, unit in E2E:
        assert res["metrics"][name]["unit"] == unit
        assert res["metrics"][name]["value"] > 0, name


def test_smoke_traced_run_reports_layers():
    import layers

    res = _result(_run(["--workload", "batch-small", "--seed", "5",
                        "--seconds", "1", "--trace", "1", "--smoke"]))
    assert res["correct"]
    m = {k: v["value"] for k, v in res["metrics"].items()}
    for layer in layers.LAYERS:
        for name, _unit in layers.BASE_METRICS:
            assert f"{layer}.{name}" in m
    for name, _unit in layers.EXTRA_METRICS + layers.TRACE_METRICS:
        assert name in m
    for layer in ("pipeline", "normalize", "minhash", "verify", "cluster",
                  "checkpoint"):
        assert m[f"{layer}.jobs"] > 0, layer
    spanned = sum(m[f"{layer}.wall_s"] for layer in layers.LAYERS)
    assert spanned + m["trace.unspanned_s"] == pytest.approx(
        m["trace.traced_wall_s"])
