"""Seeded input generators.

Every input the engine receives is made here from the run's seed: the
``events``/``documents``/``embeddings`` tables (shaped like the sf0.1
fixture tables the catalog is written against), the ad-hoc query texts
(in ``workloads``), and the scrape-like ingest doc batches.  The same
seed gives byte-identical inputs; the engine never sees anything else.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: events span: 2024-01-01T00:00Z .. 2024-01-31T00:00Z (the window the
#: events→metrics mapping in sources/tables.py queries)
EVENTS_T0_MS = 1_704_067_200_000
EVENTS_SPAN_MS = 30 * 86_400_000

N_EVENTS = 100_000
N_USERS = 1_500
EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]

N_DOCS = 1_000
N_SOURCES = 20
LANGS = ["en", "es", "zh", "de", "fr"]
LANG_P = [0.41, 0.15, 0.15, 0.14, 0.15]
VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
DUP_EVERY = 20

N_VECS = 500
DIM = 64
N_LABELS = 10


def _rng(seed: int, stream: str) -> np.random.Generator:
    """Independent generator per input stream, so adding a table never
    shifts another table's draws."""
    tag = int.from_bytes(stream.encode()[:8].ljust(8, b"\0"), "little")
    return np.random.default_rng([int(seed), tag])


def events_table(seed: int) -> pa.Table:
    """100k events over 30 days: uniform users and event types,
    exponential values (mean 50, cents), ``event_id`` in time order."""
    r = _rng(seed, "events")
    ts_ms = np.sort(r.integers(0, EVENTS_SPAN_MS, N_EVENTS)) + EVENTS_T0_MS
    ts_us = ts_ms * 1000 + r.integers(0, 1000, N_EVENTS)
    etype = np.array(EVENT_TYPES, dtype=object)[r.integers(0, 5, N_EVENTS)]
    props = [json.dumps({"k": int(k)}) for k in r.integers(0, 100, N_EVENTS)]
    return pa.table({
        "event_id": pa.array(np.arange(N_EVENTS, dtype=np.int64)),
        "ts": pa.array(ts_us, type=pa.timestamp("us")),
        "user_id": pa.array(r.integers(0, N_USERS, N_EVENTS).astype(np.int64)),
        "event_type": pa.array(etype.tolist(), type=pa.string()),
        "value": pa.array(np.round(r.exponential(50.0, N_EVENTS), 2)),
        "props": pa.array(props, type=pa.string()),
    })


def documents_table(seed: int) -> pa.Table:
    """1k word-salad docs of 10-100 words over a 30-word vocabulary;
    every ``DUP_EVERY``-th doc is an earlier doc plus a ``dup`` token,
    so the near-duplicate paths have work to do."""
    r = _rng(seed, "documents")
    texts: list[str] = []
    for i in range(N_DOCS):
        if i >= DUP_EVERY and i % DUP_EVERY == DUP_EVERY - 1:
            texts.append(texts[int(r.integers(0, i))] + " dup")
            continue
        n = int(r.integers(10, 101))
        texts.append(" ".join(VOCAB[j] for j in r.integers(0, len(VOCAB), n)))
    langs = np.array(LANGS, dtype=object)[r.choice(len(LANGS), N_DOCS, p=LANG_P)]
    return pa.table({
        "doc_id": pa.array(np.arange(N_DOCS, dtype=np.int64)),
        "text": pa.array(texts, type=pa.string()),
        "lang": pa.array(langs.tolist(), type=pa.string()),
        "source": pa.array([f"src{i % N_SOURCES}" for i in range(N_DOCS)]),
        "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
    })


def embeddings_table(seed: int) -> pa.Table:
    """500 unit-norm float32 vectors in 10 labelled clusters."""
    r = _rng(seed, "embeddings")
    centers = r.normal(0.0, 1.0, (N_LABELS, DIM))
    labels = r.integers(0, N_LABELS, N_VECS)
    v = centers[labels] * 0.35 + r.normal(0.0, 1.0, (N_VECS, DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(N_VECS, dtype=np.int64)),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32)),
    })


TABLES = {
    "events": events_table,
    "documents": documents_table,
    "embeddings": embeddings_table,
}


def write_tables(seed: int, out_dir: str, names=tuple(TABLES)) -> str:
    """Write the named tables as ``<out_dir>/<name>.parquet``."""
    os.makedirs(out_dir, exist_ok=True)
    for name in names:
        pq.write_table(TABLES[name](seed), os.path.join(out_dir, f"{name}.parquet"))
    return out_dir


# ---------------------------------------------------------------------------
# ingest: scrape-like JSON doc batches
# ---------------------------------------------------------------------------

#: scrape grid of the ingest workload (one sample per series per 10 s)
SCRAPE_MS = 10_000
#: scrape rounds per landed batch
SCRAPES = 40
BATCH_MS = SCRAPES * SCRAPE_MS
N_HOSTS = 25
#: share of a batch re-sent (duplicates) and, from FIRST_LATE_BATCH on,
#: sent late
DUP_FRAC = 0.03
LATE_FRAC = 0.02
#: ingest stream start: 2025-01-01T00:00Z
INGEST_T0_MS = 1_735_689_600_000
#: samples older than the newest committed batch by more than this are
#: late: 3h, far past the stream's 1h out-of-order cutoff, so lateness
#: never depends on which batch the watermark last advanced in
LATE_BY_MS = 3 * 3_600_000
#: late samples only appear once the watermark is two batches old
FIRST_LATE_BATCH = 3


def ingest_series() -> list[dict[str, str]]:
    """Fixed label sets: 4 metrics × ``N_HOSTS`` hosts over 2 regions."""
    out = []
    for m in ("cpu", "mem", "disk", "net"):
        for h in range(N_HOSTS):
            out.append({"name": m, "host": f"h{h:02d}", "region": f"r{h % 2}"})
    return out


def _label_str(labels: dict[str, str]) -> str:
    return " ".join(f"{k} {v}" for k, v in labels.items())


def batch_start(k: int) -> int:
    """First scrape timestamp of batch ``k``."""
    return INGEST_T0_MS + k * BATCH_MS


def ingest_batch(seed: int, k: int) -> tuple[list[dict], int]:
    """Batch ``k`` of the stream: ``SCRAPES`` scrape rounds of every
    series (scrape time advances batch by batch), plus ~``DUP_FRAC``
    re-sent samples of this batch's own or the previous batch's scrapes
    (same series and timestamp → deduplicated) and, from batch
    ``FIRST_LATE_BATCH`` on, ~``LATE_FRAC`` samples ``LATE_BY_MS``
    behind (dropped by the out-of-order cutoff).  Returns the docs in
    shuffled order and the number of samples a correct store keeps."""
    r = _rng(seed * 1_000_003 + k, "ingest")
    series = ingest_series()
    t_base = batch_start(k)
    docs = []
    for s in range(SCRAPES):
        ts = t_base + s * SCRAPE_MS
        for lab in series:
            docs.append({
                "labels": _label_str(lab),
                "timestamp": ts,
                "value": float(np.round(r.normal(50.0, 15.0), 3)),
            })
    kept = len(docs)
    n_dup = int(round(len(docs) * DUP_FRAC))
    for i in r.integers(0, len(docs), n_dup):
        d = dict(docs[int(i)])
        if k > 0 and r.random() < 0.5:
            d["timestamp"] -= BATCH_MS  # re-send of batch k-1
        docs.append(d)
    if k >= FIRST_LATE_BATCH:
        n_late = int(round(kept * LATE_FRAC))
        for j in range(n_late):
            lab = series[int(r.integers(0, len(series)))]
            docs.append({
                "labels": _label_str(lab),
                "timestamp": t_base - LATE_BY_MS - j * SCRAPE_MS,
                "value": float(np.round(r.normal(50.0, 15.0), 3)),
            })
    order = r.permutation(len(docs))
    return [docs[int(i)] for i in order], kept


def write_batch(path: str, docs: list[dict]) -> None:
    """Land one batch atomically: write a hidden temp file, then rename
    it into the watched directory (the file source ignores dot-files)."""
    d, base = os.path.split(path)
    tmp = os.path.join(d, "." + base + ".tmp")
    with open(tmp, "w") as f:
        for doc in docs:
            f.write(json.dumps(doc))
            f.write("\n")
    os.replace(tmp, path)
