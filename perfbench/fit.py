"""Fit the input model of ``datagen`` from a testdata tree, and compare
generated tables with real ones.

    python3 perfbench/fit.py fit FIT_TREE ROWS_TREE
        Fit the distributions from FIT_TREE (the largest tree gives the
        best estimates) and take the row counts at scale 1 from
        ROWS_TREE; write ``perfbench/model.json``.

    python3 perfbench/fit.py compare TREE [SEED ...]
        Generate tables with TREE's row counts from each SEED (default
        1-5) and print TREE's profile next to the generated ones.

A testdata tree is a directory holding ``documents.parquet``,
``embeddings.parquet`` and ``events.parquet`` in the schemas of
TESTDATA.md. What the fit finds in such a tree:

- documents: token unigram counts, an empirical length histogram and
  the language mix of the original documents; ``source`` is
  ``src{doc_id % n}``; a small share of documents are near-duplicates,
  which are another document's tokens followed by one marker token
  (two near-duplicates of one document are the trees' only repeated
  texts).
- embeddings: one Gaussian per label (per-dimension mean and standard
  deviation), L2-normalised. The label means are shrunk towards zero:
  in the testdata trees they are within sampling noise of it.
- events: uniform arrival times over the span, sorted, ``event_id`` the
  arrival rank; users uniform with a fixed number of events per user;
  value exponential, rounded to cents; ``props`` is ``{"k": <0..k_max>}``.
"""

from __future__ import annotations

import itertools
import json
import re
import statistics
import sys
import tempfile
from collections import Counter, defaultdict
from pathlib import Path

import numpy as np
import pyarrow.parquet as pq

HERE = Path(__file__).resolve().parent
MODEL = HERE / "model.json"
DAY_US = 86_400 * 1_000_000


def _rows(tree: Path) -> dict[str, int]:
    return {
        t: pq.read_metadata(tree / f"{t}.parquet").num_rows
        for t in ("documents", "embeddings", "events")
    }


def dup_marker(tokens: list[list[str]]) -> str | None:
    """The trailing token of near-duplicate documents: those whose tokens
    are another document's tokens plus one."""
    index = {tuple(t): i for i, t in enumerate(tokens)}
    trailing = Counter(t[-1] for i, t in enumerate(tokens) if index.get(tuple(t[:-1]), i) != i)
    return trailing.most_common(1)[0][0] if trailing else None


def fit_documents(tree: Path) -> dict:
    t = pq.read_table(tree / "documents.parquet").to_pydict()
    tokens = [s.split() for s in t["text"]]
    n = len(tokens)
    marker = dup_marker(tokens)
    near = {i for i, ws in enumerate(tokens) if ws and ws[-1] == marker}
    originals = [i for i in range(n) if i not in near]
    # the model has no exact copies: the trees' repeated texts are two
    # near-duplicates of one document
    assert len({t["text"][i] for i in originals}) == len(originals), "exact copies"
    unigrams = Counter(w for i in originals for w in tokens[i])
    lengths = Counter(len(tokens[i]) for i in originals)
    langs = Counter(t["lang"])
    n_sources = len(set(t["source"]))
    assert all(s == f"src{d % n_sources}" for d, s in zip(t["doc_id"], t["source"]))
    return {
        "vocab": sorted(unigrams),
        "vocab_counts": [unigrams[w] for w in sorted(unigrams)],
        "lengths": sorted(lengths),
        "length_counts": [lengths[k] for k in sorted(lengths)],
        "langs": sorted(langs),
        "lang_counts": [langs[k] for k in sorted(langs)],
        "n_sources": n_sources,
        "dup_marker": marker,
        "near_dup_frac": len(near) / n,
    }


def fit_embeddings(tree: Path) -> dict:
    t = pq.read_table(tree / "embeddings.parquet")
    e = np.array(t.column("embedding").to_pylist(), dtype=np.float64)
    lab = t.column("label").to_numpy()
    labels = sorted(int(x) for x in np.unique(lab))
    means, stds = [], []
    for x in labels:
        v = e[lab == x]
        mean, std = v.mean(0), v.std(0)
        # a sample mean's squared norm carries sum(var)/n of sampling
        # noise; shrink by the positive-part James-Stein factor so the
        # generated labels are no more separated than the real ones
        noise = float((std**2).sum()) / len(v)
        mean = mean * max(0.0, 1.0 - noise / float(mean @ mean))
        means.append([float(f"{m:.6g}") for m in mean])
        stds.append([float(f"{m:.6g}") for m in std])
    return {
        "labels": labels,
        "label_counts": [int((lab == x).sum()) for x in labels],
        "means": means,
        "stds": stds,
    }


def fit_events(tree: Path) -> dict:
    t = pq.read_table(tree / "events.parquet")
    ts = t.column("ts").cast("int64").to_numpy()
    value = t.column("value").to_numpy()
    types = Counter(t.column("event_type").to_pylist())
    ks = [int(re.fullmatch(r'\{"k": (\d+)\}', p).group(1)) for p in t.column("props").to_pylist()]
    return {
        "events_per_user": len(ts) / len(np.unique(t.column("user_id").to_numpy())),
        "types": sorted(types),
        "type_counts": [types[k] for k in sorted(types)],
        "value_mean": float(value.mean()),
        "props_k_max": max(ks),
        # whole days around the observed arrivals
        "span_start_us": int(ts.min() // DAY_US * DAY_US),
        "span_end_us": int(-(-ts.max() // DAY_US) * DAY_US),
    }


def profile(tree: Path) -> dict[str, float]:
    """Figures that decide how much work the entries do on a tree."""
    d = pq.read_table(tree / "documents.parquet").to_pydict()
    tokens = [s.split() for s in d["text"]]
    shingles = [set(zip(w, w[1:], w[2:])) for w in tokens]
    postings = defaultdict(list)
    for i, s in enumerate(shingles):
        for g in s:
            postings[g].append(i)
    shared = Counter(p for ids in postings.values() for p in itertools.combinations(ids, 2))
    pairs = [
        (a, b)
        for (a, b), c in shared.items()
        if c / (len(shingles[a]) + len(shingles[b]) - c) >= 0.5
    ]
    parent = list(range(len(tokens)))

    def root(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        parent[root(a)] = root(b)
    sizes = Counter(Counter(root(i) for i in range(len(tokens))).values())
    e = pq.read_table(tree / "embeddings.parquet")
    vec = np.array(e.column("embedding").to_pylist(), dtype=np.float64)
    lab = e.column("label").to_numpy()
    cents = {x: vec[lab == x].mean(0) for x in np.unique(lab)}
    own = [float(v @ cents[x] / np.linalg.norm(cents[x])) for v, x in zip(vec, lab)]
    ev = pq.read_table(tree / "events.parquet")
    users = ev.column("user_id").to_numpy()
    purchases = ev.filter(
        np.array([x == "purchase" for x in ev.column("event_type").to_pylist()])
    ).num_rows
    return {
        "documents.rows": len(tokens),
        "documents.exact_dup_docs": len(tokens) - len(set(d["text"])),
        "documents.neardup_pairs_j50": len(pairs),
        "documents.clusters_2": sizes.get(2, 0),
        "documents.clusters_3plus": sum(v for k, v in sizes.items() if k >= 3),
        "documents.mean_tokens": statistics.fmean(len(w) for w in tokens),
        "documents.tokens_20_90_frac": statistics.fmean(20 <= len(w) <= 90 for w in tokens),
        "documents.en_frac": statistics.fmean(x == "en" for x in d["lang"]),
        "embeddings.rows": len(vec),
        "embeddings.cos_to_own_centroid": statistics.fmean(own),
        "embeddings.centroid_norm_mean": statistics.fmean(
            float(np.linalg.norm(c)) for c in cents.values()
        ),
        "events.rows": ev.num_rows,
        "events.users": len(np.unique(users)),
        "events.purchase_frac": purchases / ev.num_rows,
        "events.value_mean": float(ev.column("value").to_numpy().mean()),
    }


def compare(tree: Path, seeds: list[int]) -> None:
    sys.path.insert(0, str(HERE.parent))
    from perfbench import datagen

    real = profile(tree)
    gen = []
    with tempfile.TemporaryDirectory(dir=HERE.parent) as tmp:
        for s in seeds:
            out = datagen.generate(Path(tmp) / str(s), s, rows=_rows(tree))
            gen.append(profile(out))
    print(f"{'figure':36} {'real':>10} {'generated (median, min-max)':>34}")
    for k, v in real.items():
        g = [p[k] for p in gen]
        print(f"{k:36} {v:10.4g} {statistics.median(g):12.4g} ({min(g):.4g}-{max(g):.4g})")


def main(argv: list[str]) -> int:
    if len(argv) == 3 and argv[0] == "fit":
        fit_tree, rows_tree = Path(argv[1]), Path(argv[2])
        model = {
            "fitted_from": {"distributions": fit_tree.name, "rows": rows_tree.name},
            "rows": _rows(rows_tree),
            "documents": fit_documents(fit_tree),
            "embeddings": fit_embeddings(fit_tree),
            "events": fit_events(fit_tree),
        }
        MODEL.write_text(json.dumps(model, indent=1) + "\n")
        print(f"wrote {MODEL}")
        return 0
    if len(argv) >= 2 and argv[0] == "compare":
        compare(Path(argv[1]), [int(s) for s in argv[2:]] or [1, 2, 3, 4, 5])
        return 0
    print(__doc__, file=sys.stderr)
    return 2


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
