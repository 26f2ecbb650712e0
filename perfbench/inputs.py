"""Seeded benchmark inputs, written as parquet.

Inputs are a pure function of (workload size, seed): pages come from
``dedup.corpus.generate_corpus``; the stream workload re-times them into
drops. The truth table is written next to, never inside, the directories
the program reads. ``content_hash`` covers every generated frame, so a
change to the corpus generator shows up as changed inputs.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from dedup.corpus import generate_corpus

_STR_LIST = pa.list_(pa.string())
PAGES_ARROW = pa.schema([
    ("url", pa.string()),
    ("warc_ts", pa.timestamp("us", tz="UTC")),
    ("html", pa.binary()),
    ("text", pa.string()),
    ("lang", pa.string()),
    ("canonical_links", _STR_LIST),
    ("meta_tags", _STR_LIST),
    ("tracking_ids", _STR_LIST),
    ("headings", _STR_LIST),
    ("extent", pa.string()),
])
SOURCES_ARROW = pa.schema([
    ("url", pa.string()),
    ("source", pa.string()),
    ("source_local_id", pa.string()),
])

# stream-drains time line: drop k's on-time pages fall inside
# [T0 + k days, T0 + k days + 1 h); a late page of drop k carries a time
# LATE_BEHIND before drop k-1's earliest page — behind the previous
# drain's watermark (its max event time minus the 1 hour default) by
# more than the watermark itself
T0 = pd.Timestamp("2024-03-01", tz="UTC")
LATE_BEHIND = pd.Timedelta(hours=3)


def write_parquet(pdf: pd.DataFrame, schema: pa.Schema, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    table = pa.Table.from_pandas(pdf[schema.names], schema=schema,
                                 preserve_index=False)
    pq.write_table(table, path)


def content_hash(*frames: pd.DataFrame) -> str:
    h = hashlib.sha256()
    for f in frames:
        h.update(f.to_json(orient="records", date_unit="us").encode())
    return h.hexdigest()[:16]


def batch_inputs(work: str, n_docs: int, seed: int) -> dict:
    """One parquet page table plus its source side table."""
    pages, truth, sources = generate_corpus(n_docs, seed)
    write_parquet(pages, PAGES_ARROW, f"{work}/input/pages/part-0.parquet")
    write_parquet(sources, SOURCES_ARROW,
                  f"{work}/input/sources/part-0.parquet")
    clean = truth[truth["dup_kind"] != "quarantine"]
    return {
        "pages": f"{work}/input/pages",
        "sources": f"{work}/input/sources",
        "truth": truth,
        "clean_urls": set(clean["url"]),
        "n_docs": len(pages),
        "input_sha": content_hash(pages, truth, sources),
    }


def stream_inputs(work: str, seed_docs: int, drop_docs: int, n_drops: int,
                  late_share: float, seed: int) -> dict:
    """Drop 0 of ``seed_docs`` pages, then ``n_drops`` drops of
    ``drop_docs``: random slices of one corpus, one parquet file each.

    Drop 0 is all on time. In every later drop a ``late_share`` of the
    pages are out-of-order re-fetches stamped behind the watermark."""
    pages, truth, sources = generate_corpus(seed_docs + drop_docs * n_drops, seed)
    rng = np.random.default_rng(seed + 1)
    order = rng.permutation(len(pages))
    bounds = [0] + [seed_docs + k * drop_docs for k in range(n_drops + 1)]
    drops, late_urls = [], set()
    for k in range(n_drops + 1):
        d = pages.iloc[order[bounds[k]:bounds[k + 1]]].copy()
        on_time = T0 + pd.Timedelta(days=k) + pd.to_timedelta(
            rng.integers(0, 3600, len(d)), unit="s")
        late = np.zeros(len(d), dtype=bool)
        if k > 0:
            late[rng.permutation(len(d))[:round(late_share * len(d))]] = True
            late_urls |= set(d["url"][late])
        late_ts = T0 + pd.Timedelta(days=k - 1) - LATE_BEHIND
        d["warc_ts"] = np.where(late, late_ts, on_time)
        d["warc_ts"] = pd.to_datetime(d["warc_ts"], utc=True)
        path = f"{work}/staged/drop-{k:03d}.parquet"
        write_parquet(d, PAGES_ARROW, path)
        drops.append({"path": path, "urls": list(d["url"])})
    write_parquet(sources, SOURCES_ARROW,
                  f"{work}/input/sources/part-0.parquet")
    return {
        "drops": drops,
        "sources": f"{work}/input/sources",
        "truth": truth,
        "texts": dict(zip(pages["url"], pages["text"])),
        "quarantine": set(truth["url"][truth["dup_kind"] == "quarantine"]),
        "late_urls": late_urls,
        "input_sha": content_hash(pages, truth, sources)
        + f"-{seed_docs}+{drop_docs}x{n_drops}-late{late_share}",
    }
