"""Output checks against the planted truth.

Everything here reads the program's parquet outputs with pandas after an
operation has finished, so no check runs inside a timed span.

* ``assignment_check`` — every expected url is assigned exactly once.
* ``pair_scores`` — planted-pair recall (dup member vs its base page, the
  definition of tests/test_pipeline_e2e.py) and co-cluster pair
  precision against the truth table.
* ``fingerprint`` — ``count`` plus ``bit_xor(xxhash64(url, cluster_id))``,
  bit-identical to the Spark SQL expression of the same name, so a
  fingerprint taken here can be compared with one taken in Spark.
"""

from __future__ import annotations

import struct

import pandas as pd

RECALL_KINDS = ("exact", "near", "simhash_near", "substring")
# the streaming path has the exact and MinHash/LSH channels only
STREAM_RECALL_KINDS = ("exact", "near")

_M = (1 << 64) - 1
_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M


def _round(acc: int, lane: int) -> int:
    return (_rotl((acc + lane * _P2) & _M, 31) * _P1) & _M


def _merge(h: int, v: int) -> int:
    return ((h ^ _round(0, v)) * _P1 + _P4) & _M


def xxh64(data: bytes, seed: int) -> int:
    """XXH64 of ``data`` (unsigned 64-bit), as Spark's XXH64 computes it."""
    n = len(data)
    seed &= _M
    i = 0
    if n >= 32:
        v1 = (seed + _P1 + _P2) & _M
        v2 = (seed + _P2) & _M
        v3 = seed
        v4 = (seed - _P1) & _M
        while i <= n - 32:
            a, b, c, d = struct.unpack_from("<4Q", data, i)
            v1, v2, v3, v4 = (_round(v1, a), _round(v2, b),
                              _round(v3, c), _round(v4, d))
            i += 32
        h = (_rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12)
             + _rotl(v4, 18)) & _M
        for v in (v1, v2, v3, v4):
            h = _merge(h, v)
    else:
        h = (seed + _P5) & _M
    h = (h + n) & _M
    while i <= n - 8:
        (k,) = struct.unpack_from("<Q", data, i)
        h = (_rotl(h ^ _round(0, k), 27) * _P1 + _P4) & _M
        i += 8
    if i <= n - 4:
        (k,) = struct.unpack_from("<I", data, i)
        h = (_rotl(h ^ (k * _P1 & _M), 23) * _P2 + _P3) & _M
        i += 4
    while i < n:
        h = (_rotl(h ^ (data[i] * _P5 & _M), 11) * _P1) & _M
        i += 1
    h ^= h >> 33
    h = (h * _P2) & _M
    h ^= h >> 29
    h = (h * _P3) & _M
    return h ^ (h >> 32)


def _signed(x: int) -> int:
    return x - (1 << 64) if x >= 1 << 63 else x


def fingerprint(assign: pd.DataFrame) -> tuple[int, int]:
    """(count, bit_xor(xxhash64(url, cluster_id))) with Spark semantics:
    seed 42, each string column chained as the next column's seed."""
    acc = 0
    for url, cid in zip(assign["url"], assign["cluster_id"]):
        acc ^= xxh64(cid.encode(), xxh64(url.encode(), 42))
    return len(assign), _signed(acc)


def assignment_check(assign: pd.DataFrame, expected_urls) -> list[str]:
    """Problems with the assignment table: duplicates, unknown or missing
    urls. Empty list = every expected url assigned exactly once."""
    problems = []
    dup = int(assign["url"].duplicated().sum())
    if dup:
        problems.append(f"{dup} urls assigned more than once")
    got, want = set(assign["url"]), set(expected_urls)
    if got - want:
        problems.append(f"{len(got - want)} assigned urls not expected")
    if want - got:
        problems.append(f"{len(want - got)} expected urls unassigned")
    return problems


def pair_scores(assign: pd.DataFrame, truth: pd.DataFrame,
                kinds=RECALL_KINDS) -> tuple[float, float, int]:
    """(recall, precision, recall_pairs) of ``assign`` against ``truth``.

    recall: planted (dup member, base page) pairs of ``kinds`` whose
    two urls are both assigned — the share that landed in one cluster.
    precision: of all url pairs the program put in one cluster, the share
    whose urls carry the same true cluster id."""
    cluster = dict(zip(assign["url"], assign["cluster_id"]))
    base = truth[truth["dup_kind"] == "unique"].set_index("true_cluster_id")["url"]
    dups = truth[truth["dup_kind"].isin(kinds)]
    hit = total = 0
    for url, cid in zip(dups["url"], dups["true_cluster_id"]):
        b = base.get(cid)
        if url in cluster and b in cluster:
            total += 1
            hit += cluster[url] == cluster[b]
    lab = assign.merge(truth[["url", "true_cluster_id"]], on="url")
    per_cluster = lab.groupby("cluster_id").size()
    per_true = lab.groupby(["cluster_id", "true_cluster_id"]).size()
    pred_pairs = int((per_cluster * (per_cluster - 1) // 2).sum())
    true_pairs = int((per_true * (per_true - 1) // 2).sum())
    recall = hit / total if total else float("nan")
    precision = true_pairs / pred_pairs if pred_pairs else float("nan")
    return recall, precision, total
