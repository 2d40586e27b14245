"""Seeded inputs drawn from the model fitted to the testdata trees.

The benchmark never reads a data tree from outside its checkout: every
run writes the tables its entries read (documents, embeddings, events)
from ``numpy.random.default_rng(seed)`` and the parameters in
``model.json``, which ``fit.py`` fits from a testdata tree (see its
docstring for the model, and ``python3 perfbench/fit.py compare`` for
generated-against-real figures). Column types match TESTDATA.md (int64
keys, ``timestamp[us]`` without zone, ``list<float>`` embeddings).

``scale`` = 1.0 gives the row counts recorded in the model (those of
the sf0.01 tree: 500 documents, 500 embeddings, 10k events).
"""

from __future__ import annotations

import json
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

MODEL = json.loads((Path(__file__).resolve().parent / "model.json").read_text())


def _probs(counts: list[int]) -> np.ndarray:
    p = np.asarray(counts, dtype=np.float64)
    return p / p.sum()


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    m = MODEL["documents"]
    vocab, p_vocab = np.array(m["vocab"]), _probs(m["vocab_counts"])
    lengths, p_len = np.array(m["lengths"]), _probs(m["length_counts"])
    docs = [
        [str(w) for w in rng.choice(vocab, size=int(rng.choice(lengths, p=p_len)), p=p_vocab)]
        for _ in range(n)
    ]
    # near-duplicates replace documents at random positions and copy a
    # random original from anywhere in the table
    near = rng.random(n) < m["near_dup_frac"]
    originals = np.flatnonzero(~near)
    for i in np.flatnonzero(near):
        docs[i] = docs[originals[rng.integers(len(originals))]] + [m["dup_marker"]]
    text = [" ".join(t) for t in docs]
    doc_id = np.arange(n, dtype=np.int64)
    lang = rng.choice(np.array(m["langs"]), size=n, p=_probs(m["lang_counts"]))
    return pa.table(
        {
            "doc_id": pa.array(doc_id),
            "text": pa.array(text),
            "lang": pa.array(lang),
            "source": pa.array([f"src{i % m['n_sources']}" for i in doc_id]),
            "n_chars": pa.array(np.array([len(t) for t in text], dtype=np.int64)),
        }
    )


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    m = MODEL["embeddings"]
    means, stds = np.array(m["means"]), np.array(m["stds"])
    li = rng.choice(len(m["labels"]), size=n, p=_probs(m["label_counts"]))
    v = means[li] + stds[li] * rng.standard_normal((n, means.shape[1]))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.array(list(v), pa.list_(pa.float32())),
            "label": pa.array(np.array(m["labels"])[li].astype(np.int32)),
        }
    )


def _events(rng: np.random.Generator, n: int) -> pa.Table:
    m = MODEL["events"]
    n_users = max(1, round(n / m["events_per_user"]))
    ts = np.sort(rng.integers(m["span_start_us"], m["span_end_us"], n, dtype=np.int64))
    k = rng.integers(0, m["props_k_max"] + 1, n).astype(str)
    event_type = rng.choice(np.array(m["types"]), size=n, p=_probs(m["type_counts"]))
    return pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n_users, n, dtype=np.int64)),
            "event_type": pa.array(event_type),
            "value": pa.array(np.floor(rng.exponential(m["value_mean"], n) * 100 + 0.5) / 100),
            "props": pa.array(np.char.add(np.char.add('{"k": ', k), "}")),
        }
    )


def generate(out: Path, seed: int, scale: float = 1.0, rows: dict[str, int] | None = None) -> Path:
    """Write the three tables to ``out/<name>.parquet``; return ``out``.
    Row counts are the model's times ``scale``, or ``rows`` if given."""
    out.mkdir(parents=True, exist_ok=True)
    rows = rows or {t: round(n * scale) for t, n in MODEL["rows"].items()}
    rng = np.random.default_rng(seed)
    tables = {
        "documents": _documents(rng, rows["documents"]),
        "embeddings": _embeddings(rng, rows["embeddings"]),
        "events": _events(rng, rows["events"]),
    }
    for name, table in tables.items():
        pq.write_table(table, out / f"{name}.parquet")
    return out
