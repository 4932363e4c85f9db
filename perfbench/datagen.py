"""Seeded synthetic inputs for the benchmark workloads.

The tables mimic the shape of the engine's parquet test data: an ``events``
stream table (``user_id`` plays ``stream_id``), ``documents`` with planted
near-duplicates, and unit-norm ``embeddings``.  ``amp_icmp_file`` renders one
file of raw amp-icmp probe results for the live-ingest generator.  Every
function is a pure function of its arguments: the same seed gives the same
bytes.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: first instant of the synthetic month (the events span T0 .. T0 + 30 days)
T0 = int(dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc).timestamp())
DAYS = 30
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
VOCAB = (
    "a the spark table column vector stream value data small join filter big "
    "group hash customer sort order slow line part fast row agg key query "
    "scan batch window merge"
).split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
EMBED_DIM = 64

#: rows per scale factor, matching the engine's test data (sf0.1 = 100k events
#: over 1500 streams, 5000 documents, 2000 embeddings)
SCALES = {
    "sf0.001": dict(events=1_000, streams=15, documents=100, embeddings=100),
    "sf0.01": dict(events=10_000, streams=150, documents=500, embeddings=500),
    "sf0.1": dict(events=100_000, streams=1_500, documents=5_000, embeddings=2_000),
}


def events_table(seed: int, n: int, streams: int) -> pa.Table:
    """``n`` events over ``streams`` streams spread across 30 days, ts-sorted."""
    rng = np.random.default_rng([seed, 1])
    ts_us = np.sort(rng.integers(0, DAYS * 86_400 * 1_000_000, n)) + T0 * 1_000_000
    return pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": pa.array(ts_us, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, streams, n, dtype=np.int64)),
            "event_type": pa.array(
                [EVENT_TYPES[i] for i in rng.integers(0, len(EVENT_TYPES), n)]
            ),
            "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
        }
    )


def documents_table(seed: int, n: int) -> pa.Table:
    """Bag-of-words documents; ~5% repeat their predecessor plus ' dup'."""
    rng = np.random.default_rng([seed, 2])
    texts: list[str] = []
    for i in range(n):
        if i and rng.random() < 0.05:
            texts.append(texts[-1] + " dup")
            continue
        words = rng.integers(0, len(VOCAB), int(rng.integers(10, 101)))
        texts.append(" ".join(VOCAB[w] for w in words))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array([LANGS[i] for i in rng.choice(len(LANGS), n, p=LANG_P)]),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def embeddings_table(seed: int, n: int) -> pa.Table:
    rng = np.random.default_rng([seed, 3])
    m = rng.standard_normal((n, EMBED_DIM)).astype(np.float32)
    m /= np.linalg.norm(m, axis=1, keepdims=True)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.array(list(m), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n, dtype=np.int32)),
        }
    )


def write_tables(out_dir: str, seed: int, scale: str, tables=("events",)) -> dict:
    """Write the named tables as ``<out_dir>/<name>.parquet``; returns sizes."""
    size = SCALES[scale]
    os.makedirs(out_dir, exist_ok=True)
    makers = {
        "events": lambda: events_table(seed, size["events"], size["streams"]),
        "documents": lambda: documents_table(seed, size["documents"]),
        "embeddings": lambda: embeddings_table(seed, size["embeddings"]),
    }
    for name in tables:
        pq.write_table(makers[name](), os.path.join(out_dir, f"{name}.parquet"))
    return size


def amp_icmp_file(
    seed: int, index: int, targets: list[str], ts: int, results: int = 3
) -> list[dict]:
    """Raw amp-icmp results for one file: ``results`` probes per target at
    one shared timestamp, about 2% of them lost (``rtt`` None, ``loss`` 1)."""
    rng = np.random.default_rng([seed, 4, index])
    rows = []
    for t in targets:
        for _ in range(results):
            lost = rng.random() < 0.02
            rows.append(
                dict(
                    source="amp-bench",
                    timestamp=ts,
                    rtt=None if lost else int(rng.integers(1_000, 80_000)),
                    loss=1 if lost else 0,
                    random=False,
                    target=t,
                    address=f"10.{_octet(t)}.0.1",
                    packet_size=84,
                )
            )
    return rows


def _octet(target: str) -> int:
    return sum(map(ord, target)) % 250


def write_json_lines(path: str, rows: list[dict]) -> None:
    with open(path, "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")
