"""Deduplication operators for the training-data pipeline.

Exact hash dedup, n-gram Jaccard similarity pairs, MinHash+LSH near-dup,
SimHash fingerprints, and embedding-cosine near-dup. All of the hashing
is plain integer arithmetic over codepoints so every stage has an exact
ANSI-SQL twin (DuckDB oracle) and stays inside whole-stage codegen — no
Python in the hot path.

Scale posture (100 TB):
- exact dedup is one hash-partitioned window — a single shuffle on the
  digest, no driver state;
- Jaccard pairs join on shared shingles: frequent shingles are the skew
  bomb, so ``max_shingle_freq`` drops stop-shingles before the self-join
  (standard posting-list pruning);
- MinHash signatures are computed per-row with higher-order array
  functions (zero shuffle), and only the band→bucket join shuffles, on
  short band keys;
- SimHash is per-row arithmetic; grouping by fingerprint is one shuffle.

Public provenance: MinHash resemblance sketching (Broder, "On the
resemblance and containment of documents", SEQUENCES 1997), banding
analysis as in Mining of Massive Datasets ch. 3 (Leskovec/Rajaraman/
Ullman), SimHash (Charikar, "Similarity estimation techniques from
rounding algorithms", STOC 2002) and its web-dedup application
(Manku/Jain/Sarma, WWW 2007), random-hyperplane LSH for cosine
(Charikar 2002; Indyk/Motwani 1998).
"""

from __future__ import annotations

import threading

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.generate import explode_nonempty
from ..scope import own, pin
from ..sources.layout import plan_rows
from ..functions.text import whitespace_token_count, whitespace_tokens, word_ngrams

# Same constants as functions.text.doc_fingerprint — shared so oracle SQL
# strings can inline them.
# The polynomial hash convention lives in functions/hashing.py (ONE
# definition shared with text.py and every SQL oracle); re-exported here
# because the whole plans/ layer and the k-gram keys import it from
# dedup. Backwards-compatible aliases, not copies.
from ..functions.hashing import (  # noqa: F401,E402 — re-export
    HASH_BASE,
    HASH_BASE2,
    HASH_MOD,
    HASH_MOD2,
    token_hash,
    token_hash2,
)


# ---------------------------------------------------------------------------
# Exact dedup

def _content_digest(content_cols: list[str]) -> Column:
    """Boundary- and NULL-proof multi-column content digest: each column
    hashes independently (fixed-width hex, so values containing the
    separator can't shift boundaries) and NULL gets a marker outside the
    hex alphabet (concat_ws SKIPS nulls, which made ('x', NULL) and
    (NULL, 'x') collide) before the outer md5 combines them."""
    parts = [
        F.when(F.col(c).isNull(), F.lit("\u2205")).otherwise(
            F.md5(F.col(c).cast("string"))
        )
        for c in content_cols
    ]
    return F.md5(F.concat_ws("|", *parts))


def exact_dedup(
    df: DataFrame,
    content_cols: list[str],
    order_col: str,
    keep: str = "first",
    tiebreak_col: str | None = None,
) -> DataFrame:
    """Exact dedup: keep one row per identical content.

    ``md5`` digest of the content columns (boundary/NULL-proof — see
    ``_content_digest``) → one hash-partitioned ``row_number`` window.
    The digest (not the raw content) is the shuffle key, so wide
    documents don't inflate shuffle size beyond the key+row itself.

    The keeper is deterministic only when ``order_col`` (plus
    ``tiebreak_col`` when given — always ascending, typically the row
    id) is unique within each duplicate group; with ties and no
    tiebreak, partition-internal input order decides.
    """
    digest = _content_digest(content_cols)
    order = [F.col(order_col).asc() if keep == "first" else F.col(order_col).desc()]
    if tiebreak_col is not None:
        order.append(F.col(tiebreak_col).asc())
    w = Window.partitionBy(digest).orderBy(*order)
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def duplicate_groups(df: DataFrame, id_col: str, content_cols: list[str]) -> DataFrame:
    """Exact-dup audit: one row per content digest with its cardinality
    and member ids. The training-pipeline twin of the reference's
    integrity audits (`debug_book_codes.py:45-59`)."""
    digest = _content_digest(content_cols)
    return (
        df.select(digest.alias("digest"), F.col(id_col).alias("id"))
        .groupBy("digest")
        .agg(
            F.count("*").alias("n_dups"),
            F.sort_array(F.collect_list("id")).alias("ids"),
            F.min("id").alias("keeper_id"),
        )
    )


# ---------------------------------------------------------------------------
# N-gram Jaccard similarity pairs

def shingle_sets(
    df: DataFrame, id_col: str, text_col: str, n: int = 3
) -> DataFrame:
    """(id, shingles) with distinct word n-gram shingles per document.
    Empty/whitespace-only documents yield an EMPTY set (they're the
    exact tier's business, not a similarity signal — and the posting
    generator in ngram_jaccard_pairs skips them, so the Jaccard tiers
    must agree; an artifact [''] shingle used to make every pair of
    empty docs a jaccard-1.0 "near-duplicate" here but not there).

    Tokens materialize as a column first: slicing the raw split
    expression inside the n-gram lambda re-tokenizes the document once
    per n-gram on the interpreted HOF path (the winnow_fingerprints
    lesson — measured ~4× slower at sf0.1 for trigram shingling).
    """
    return df.withColumn(
        "_toks", whitespace_tokens(F.col(text_col))
    ).select(
        F.col(id_col).alias("id"),
        F.when(
            F.concat_ws("", F.col("_toks")) == "",
            F.array().cast("array<string>"),
        )
        .otherwise(F.array_distinct(word_ngrams(F.col("_toks"), n)))
        .alias("shingles"),
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.8,
    max_shingle_freq: int | float | None = None,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """All document pairs with n-gram Jaccard similarity ≥ threshold.

    Posting-list self-join: explode distinct shingles, equi-join on the
    shingle, count shared shingles per pair, then
    ``J = inter / (|A| + |B| - inter)``. ``max_shingle_freq`` prunes
    shingles appearing in more than that many docs before the join —
    at 100 TB a handful of stop-shingles would otherwise produce a
    quadratic blowup (the join is per-shingle |docs|²). An int is an
    absolute document-frequency cap; a float in (0, 1) is a FRACTION of
    the corpus size (resolved with one count job), which is the form
    that stays meaningful as the corpus grows — an absolute cap that
    prunes nothing at SF 0.01 silently prunes everything at 100×.

    ``max_shingle_df`` is an ADDITIONAL absolute cap combined as
    least(fraction·N, max_shingle_df). The r06 scale measurements
    showed why both are needed: with a fractional cap alone, per-shingle
    join work is Σ df² and df ∝ n for every shingle below the fraction
    whenever the vocabulary does not grow with the corpus — measured
    superlinear (t ∝ n^~1.8) on the self-similar x1→x100 family. The
    absolute cap bounds per-shingle work at df²; shingles above it are
    exactly the uninformative ones (a pair that is genuinely ≥0.5
    Jaccard still meets on its many LOW-df shingles). The LSH tier
    remains the candidate generator of record at corpus scale; this cap
    makes the exact posting join itself shuffle-bounded.
    """
    frac_cap = None
    if isinstance(max_shingle_freq, float):
        if not 0.0 < max_shingle_freq < 1.0:
            raise ValueError("fractional max_shingle_freq must be in (0, 1)")
        # Resolved IN-PLAN below (1-row broadcast aggregate), never via an
        # eager df.count(): at 100 TB the driver-side count is a second
        # full corpus scan run as a separate job before the real one.
        frac_cap = max_shingle_freq
        max_shingle_freq = None
    # Posting generation is an Arrow-batched pandas stage, not the HOF
    # shingle pipeline: transform(sequence, slice+array_join) is
    # interpreted per shingle and measured ~6× slower than plain Python
    # string ops at 10⁶ shingles. Semantics identical to
    # shingle_sets+explode: whitespace tokens, distinct n-grams joined
    # with ' ', docs shorter than n yield their single joined shingle.
    # The set size rides inline with each posting so the pair aggregate
    # needs no join back to a sizes table.
    import pandas as pd
    from pyspark.sql.types import (
        IntegerType,
        StringType,
        StructField,
        StructType,
    )

    id_type = df.schema[id_col].dataType

    def gen_postings(batches):
        for pdf in batches:
            ids, nshs, shingles = [], [], []
            for i, t in zip(pdf[id_col], pdf[text_col]):
                toks = (t or "").split()
                if not toks:
                    continue
                if len(toks) < n:
                    grams = {" ".join(toks)}
                else:
                    grams = {" ".join(toks[j : j + n]) for j in range(len(toks) - n + 1)}
                k = len(grams)
                ids.extend([i] * k)
                nshs.extend([k] * k)
                shingles.extend(grams)
            yield pd.DataFrame({"id": ids, "nsh": nshs, "shingle": shingles})

    posting = df.select(id_col, text_col).mapInPandas(
        gen_postings,
        StructType(
            [
                StructField("id", id_type, False),
                StructField("nsh", IntegerType(), False),
                StructField("shingle", StringType(), False),
            ]
        ),
    )
    if max_shingle_freq is not None or frac_cap is not None or max_shingle_df is not None:
        # Document-frequency prune as a windowed count, NOT a groupBy +
        # join back: the window keeps the pruned postings in ONE subtree
        # partitioned by shingle, so the join below re-uses the window's
        # hash partitioning instead of adding its own shuffle. (The two
        # self-join children do NOT collapse into one ReusedExchange —
        # MapInPandas nodes don't canonicalize equal after self-join
        # deduplication — so the posting stage runs once per side; it is
        # map-only, so this doubles token-split CPU, not shuffle volume.)
        from pyspark.sql import Window

        caps = []
        if frac_cap is not None:
            # ceil(frac × N) with N derived inside the plan: a 1-row
            # aggregate over df crossJoined (broadcast) onto the
            # postings BELOW the window — the same pattern
            # corpus_mixture_plan uses (operators/sampling.py) and the
            # DuckDB oracle's scalar subquery. F.ceil(lit(frac) * count)
            # performs the identical double multiply + ceil as
            # math.ceil(frac * n). Attaching the cap under the window
            # keeps the window's shingle exchange as the one the
            # self-join reuses (above it, BNLJ output partitioning would
            # force a fresh exchange per join side).
            cap = df.select(
                F.ceil(F.lit(frac_cap) * F.count("*")).alias("_cap")
            )
            posting = posting.crossJoin(F.broadcast(cap))
            caps.append(F.col("_cap"))
        if max_shingle_freq is not None:
            caps.append(F.lit(max_shingle_freq))
        if max_shingle_df is not None:
            caps.append(F.lit(max_shingle_df))
        cap_pred = F.col("_df") <= (
            caps[0] if len(caps) == 1 else F.least(*caps)
        )
        posting = (
            posting.withColumn(
                "_df", F.count("*").over(Window.partitionBy("shingle"))
            )
            .filter(cap_pred)
            .select("id", "nsh", "shingle")
        )
    # Pin the self-join to sort-merge: a posting table never broadcasts
    # at scale (it is the corpus itself), and with BOTH children shuffled
    # on the shingle the subtrees are identical, so the exchange is
    # computed once and reused — the pandas posting stage runs a single
    # time instead of once per join side.
    a, b = posting.alias("a").hint("merge"), posting.alias("b").hint("merge")
    inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.nsh").alias("nsh_a"),
            F.col("b.nsh").alias("nsh_b"),
        )
        .agg(F.count("*").alias("inter"))
    )
    return (
        inter.withColumn(
            "jaccard",
            F.round(
                F.col("inter")
                / (F.col("nsh_a") + F.col("nsh_b") - F.col("inter")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


# ---------------------------------------------------------------------------
# MinHash + LSH

def _minhash_params(num_hashes: int) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs for the universal-hash family
    ``(a*x + b) mod p`` — seeded by a fixed LCG so Spark and any oracle
    re-derive identical parameters."""
    params: list[tuple[int, int]] = []
    state = 42
    for _ in range(num_hashes):
        state = (state * 1_103_515_245 + 12_345) % HASH_MOD
        a = 1 + state % (HASH_MOD - 1)
        state = (state * 1_103_515_245 + 12_345) % HASH_MOD
        b = state % HASH_MOD
        params.append((a, b))
    return params


def _banded_sig_structs(rows_per_band: int, bands: int) -> Column:
    """(band, md5-bucket) structs over a ``sig`` column — the shared
    banding expression of the LSH pair tier and the incremental lookup
    face (one home so the two faces can never band differently)."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(bands - 1)),
        lambda bi: F.struct(
            bi.alias("band"),
            F.md5(
                F.concat_ws(
                    ",",
                    F.transform(
                        F.slice(F.col("sig"), bi * rows_per_band + 1, rows_per_band),
                        lambda v: v.cast("string"),
                    ),
                )
            ).alias("bucket"),
        ),
    )


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 32,
) -> DataFrame:
    """(id, sig) MinHash signatures, computed entirely per-row.

    shingle → polynomial hash → for each of ``num_hashes`` universal
    hashes take the min over the doc's shingles. Higher-order array
    functions only: no explode, no shuffle, no UDF.

    Single-pass formulation: one ``aggregate`` over the hashed shingles
    carries an array of ``num_hashes`` running minima, so each shingle
    is hashed exactly once (the naive per-hash-function form inlines the
    whole per-char hashing subtree ``num_hashes`` times — higher-order
    functions are outside codegen CSE, making that 32× real work).
    """
    sets = shingle_sets(df, id_col, text_col, n)
    sig = _sig_over_hashes(F.transform(F.col("shingles"), token_hash), num_hashes)
    return sets.select("id", sig.alias("sig"))


def _sig_over_hashes(th: Column, num_hashes: int) -> Column:
    """MinHash signature expression over an already-hashed shingle
    array: one ``aggregate`` carrying ``num_hashes`` running minima
    (duplicate hash values cannot change a minimum, so distinct and
    non-distinct inputs yield identical signatures)."""
    params = _minhash_params(num_hashes)
    A = F.lit([a for a, _ in params]).cast("array<long>")
    B = F.lit([b for _, b in params]).cast("array<long>")
    idx = F.sequence(F.lit(0), F.lit(num_hashes - 1))
    return F.aggregate(
        th,
        F.array_repeat(F.lit(HASH_MOD).cast("long"), num_hashes),
        lambda acc, h: F.zip_with(
            acc,
            idx,
            lambda cur, i: F.least(
                cur, (F.element_at(A, i + 1) * h + F.element_at(B, i + 1)) % HASH_MOD
            ),
        ),
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
) -> DataFrame:
    """Near-duplicate pairs via MinHash banding + exact Jaccard verify.

    Candidate generation: split each signature into ``bands`` bands of
    ``num_hashes/bands`` rows; docs sharing any full band collide. The
    only corpus-sized shuffle is the (band_idx, band_digest) equi-join —
    the classic LSH plan that scales linearly in corpus size for bounded
    bucket width. Candidates are then verified with exact Jaccard over
    the 31-bit-HASHED shingle sets (the MinHash estimate never reaches
    the output — no false positives up to token-hash collisions,
    ~|A|·|B|/2³¹ per pair; the oracle replays the identical hash, so
    both engines agree exactly).

    Verify-stage shape (r10 rework — formerly the engine's steepest
    measured exponent, 0.81 / 70 s at x100): the old form joined the
    full corpus's raw STRING shingle arrays onto the candidate list
    twice — two corpus-sized shuffles of the heaviest payload in the
    plan. The verify now ships the 31-bit HASHED shingle arrays
    (~3× lighter than the trigram strings) through the same two
    equi-joins; the two corpus-side subtrees are identical, so AQE
    reuses one exchange when both sides shuffle. Measured at x1..x100:
    x100 wall 70→51.6 s (hashed-join rework, zero spill,
    bench_runs/r10_scaling_minhash_rework.json; 53.2 s on the r11
    re-probe). The r10 eager-cache attempt (persist + count) was
    MEASURED WRONG-TRADE and retired in r11 — see the comment on
    ``hashed`` below (r11_minhash_materialize.json).
    An explode-into-probe-rows + min_by/max_by
    regroup variant was MEASURED WORSE (133 s / 26 GB spill at x100 —
    the object-aggregate sort fallback over array payloads, the same
    hazard class as the r7 incremental-dedup argmin): array payloads
    must reach pairs through joins, never through an aggregate.
    """
    if num_hashes % bands != 0:
        raise ValueError(
            f"bands ({bands}) must divide num_hashes ({num_hashes}) "
            f"evenly — a remainder would silently drop trailing "
            "signature rows and skew the (b, r) recall curve"
        )
    rows_per_band = num_hashes // bands
    hashed = shingle_sets(df, id_col, text_col, n).select(
        "id",
        F.array_distinct(F.transform("shingles", token_hash)).alias("th"),
    )
    # The hashed shingle arrays feed FOUR plan subtrees (both sides of
    # the banding self-join via sigs, both sides of the verify join),
    # so the per-char polynomial hashing runs 4x — and every attempt to
    # compute it once LOSES, measured clean-serial with join-mix and
    # separated spill/storage metrics at x100
    # (bench_runs/r11_minhash_materialize.json):
    #   recompute:            53.2 s, zero spill,   238 MB shuffle, BHJ×3
    #   persist + count:      69.5 s, 14.2 GB spill, 3.4 GB shuffle, SMJ
    #   repartition(id) + candidate semi-prune:
    #                         194 s, 18.9 GB spill, 8.3 GB shuffle, SMJ
    # Mechanism: ANY materialization replaces the subtree's optimistic
    # lineage estimate with its real size, and the planner then demotes
    # the three broadcasts to SortMergeJoins that shuffle AND SORT the
    # corpus-sized `th` array column — the exact array-payload-through-
    # heavy-exchange hazard this module documents elsewhere. The r10
    # eager cache shipped on a 40.3 s wall win while its own JSON
    # recorded the 14 GB footprint (VERDICT r10 #1) — retired here.
    # Honest-scale caveat, recorded: the winning recomputation plan's
    # zero-shuffle verify rides static-UNDERESTIMATE broadcasts of
    # corpus-sized frames; on a real cluster with real stats those
    # joins go SMJ and the scale cost center is the array verify — the
    # banding join (narrow (id, band, bucket) rows) is safe at any
    # scale.
    sigs = hashed.select("id", _sig_over_hashes(F.col("th"), num_hashes).alias("sig"))
    banded = sigs.select(
        "id", F.explode(_banded_sig_structs(rows_per_band, bands)).alias("bb")
    ).select("id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))

    a, b = banded.alias("a"), banded.alias("b")
    candidates = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )

    both = candidates.join(
        hashed.withColumnsRenamed({"id": "id_a", "th": "th_a"}), "id_a"
    ).join(hashed.withColumnsRenamed({"id": "id_b", "th": "th_b"}), "id_b")
    return (
        both.withColumn("_inter", F.size(F.array_intersect("th_a", "th_b")))
        .withColumn(
            "jaccard",
            F.round(
                F.col("_inter")
                / (F.size("th_a") + F.size("th_b") - F.col("_inter")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


# ---------------------------------------------------------------------------
# SimHash

def simhash(df: DataFrame, id_col: str, text_col: str, bits: int = 16) -> DataFrame:
    """(id, simhash) fingerprints over whitespace tokens.

    For each bit position i: sum over tokens of ±1 depending on bit i of
    the token hash; bit set iff the sum is positive. Packed MSB-first
    into one integer. Pure per-row array arithmetic (portable to the SQL
    oracle); near-dup search = grouping or Hamming-band joins on the
    fingerprint.

    Single-pass formulation (same reason as minhash_signatures): one
    ``aggregate`` carries the per-bit ±1 counters, hashing each token
    exactly once instead of once per bit. Bit tests ride a literal
    power-of-two MASK array and ``h & mask`` (integer ops the whole
    way) rather than the float pow/floor-division ``bit_at`` form —
    identical values (hashes are < 2^31 non-negative), cheaper per
    token×bit in the interpreted HOF.
    """
    masks = F.array(
        *[F.lit(1 << i).cast("long") for i in range(bits - 1, -1, -1)]  # MSB first
    )
    counts = F.aggregate(
        F.transform(whitespace_tokens(F.col(text_col)), token_hash),
        F.array_repeat(F.lit(0).cast("long"), bits),
        lambda acc, h: F.zip_with(
            acc,
            masks,
            lambda c, m: c + F.when(h.bitwiseAND(m) != 0, F.lit(2)).otherwise(F.lit(0)) - 1,
        ),
    )
    packed = F.aggregate(
        counts,
        F.lit(0).cast("long"),
        lambda acc, v: acc * 2 + F.when(v > 0, F.lit(1)).otherwise(F.lit(0)),
    )
    return df.select(F.col(id_col).alias("id"), packed.alias("simhash"))


def hamming_distance(a: Column, b: Column, bits: int = 16) -> Column:
    """Popcount of XOR. ``bit_count`` is a JVM built-in (codegen) — the
    former bit-expansion HOF was interpreted per bit; ``bits`` is kept
    for signature stability but unused."""
    return F.bit_count(a.bitwiseXOR(b)).cast("long")


def _kgram_roll(th: Column, k: int, base: int, mod: int):
    """One polynomial roll over k token hashes starting at 0-based index
    ``i`` of the materialized token-hash array ``th``. For small k the
    stepwise-mod recurrence equals the single expression
    Σ th[i+j]·base^(k-1-j) mod M evaluated in one go — the unreduced sum
    stays under 2^63 while base^(k-1)·k·(M-1) does — pure arithmetic, no
    per-k-gram slice allocation + nested aggregate; larger k falls back
    to the mod-each-step aggregate."""

    def roll(i: Column) -> Column:
        if base ** (k - 1) * k * (mod - 1) < 2**62:
            acc = F.lit(0).cast("long")
            for j in range(k):
                acc = acc + F.element_at(th, i + j + 1) * (base ** (k - 1 - j))
            return acc % mod
        return F.aggregate(
            F.slice(th, i + 1, k),
            F.lit(0).cast("long"),
            lambda acc, x: (acc * base + x) % mod,
        )

    return roll


def _kgram_hash(th: Column, th2: Column, k: int):
    """62-bit combined k-gram key factory, packed as ``g1·MOD2 + g2``
    (g1 < 2^31, so the pack is exact int64).

    Two structural requirements, both learned from live hypothesis
    counterexamples ('aa ba' vs 'ab aa'):

    1. The gram roll must use a DIFFERENT base than the char-level
       token hash it rolls over. With matching bases the k-gram key
       algebraically equals one polynomial of the concatenated text —
       token boundaries vanish, so boundary-shifted grams collide for
       EVERY base choice. Crossing the bases (roll token_hash/31 with
       131; roll token_hash2/131 with 31) breaks the identity.
    2. One 31-bit chain is not enough: n²/2³¹ birthday collisions at
       corpus scale would flag false duplicate regions. Colliding both
       chains means agreeing modulo two distinct primes under two
       different base structures ≈ n²/2⁶².

    Shared by winnow_fingerprints and duplicate_spans; mirrored in
    their SQL oracles."""
    r1 = _kgram_roll(th, k, HASH_BASE2, HASH_MOD)
    r2 = _kgram_roll(th2, k, HASH_BASE, HASH_MOD2)

    def key(i: Column) -> Column:
        return r1(i) * HASH_MOD2 + r2(i)

    return key


def winnow_fingerprints(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    w: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken,
    SIGMOD 2003 — the MOSS algorithm): hash every token k-gram, then in
    each window of ``w`` consecutive k-gram hashes select the minimum,
    breaking ties by RIGHTMOST position. Guarantees: any shared run of
    ≥ w+k-1 tokens between two documents yields at least one shared
    (fingerprint, aligned) selection, while storing ~2/(w+1) of the
    hashes — the positional near-dup tier between exact dedup and
    MinHash.

    Plan shape: k-gram hashing is one higher-order ``transform`` per
    row (map-only, no Python); selection is ONE window (min of a
    ``(hash, -idx)`` struct over ``w`` following rows — lexicographic
    struct ordering IS the rightmost-tie-break) over one shuffle on the
    document id, then a distinct that reuses the same partitioning.
    Documents shorter than ``k`` tokens contribute nothing; documents
    with fewer than ``w`` k-grams contribute their single overall
    minimum (the one shrunken window), so short docs stay
    fingerprintable.

    Output: (``id``, ``fp_pos`` — the k-gram index of the selected
    hash, ``fingerprint``).
    """
    from pyspark.sql import Window

    # Token hashes materialize as a COLUMN first: every downstream
    # reference to an un-materialized transform(tokens, token_hash)
    # EXPRESSION re-evaluates the whole per-char hashing pass (the
    # interpreted HOF path has no common-subexpression reuse across
    # references inside another HOF's lambda) — measured 15× slower at
    # sf0.1 when the k-gram lambda sliced the raw expression directly.
    hashed = df.withColumn(
        "_toks", whitespace_tokens(F.col(text_col))
    ).withColumn(
        "_th", F.transform(F.col("_toks"), token_hash)
    ).withColumn(
        "_th2", F.transform(F.col("_toks"), token_hash2)
    )
    th = F.col("_th")
    n_tokens = F.size(th)

    kgrams = F.transform(
        F.sequence(F.lit(0), n_tokens - k), _kgram_hash(th, F.col("_th2"), k)
    )
    # n_kg deliberately comes from a count window over the exploded rows,
    # NOT from size(kgrams) next to the posexplode: CollapseProject pulls
    # a sibling size(kgrams) above the Generate, re-evaluating the whole
    # k-gram HOF once per OUTPUT row (~n_kg× the hashing work — measured
    # 9× slower at sf0.01). The window reuses the same id-partitioned
    # exchange the selection window below needs anyway.
    # pre-filter on the regexp_count TWIN, not size(_th): the pushed-down
    # filter would otherwise inline the whole token-hash transform below
    # the scan just to take its size (plan-audit finding, round 9)
    rows = (
        hashed.filter(whitespace_token_count(F.col(text_col)) >= k)
        .select(F.col(id_col).alias("id"), F.posexplode(kgrams).alias("idx", "kh"))
        .withColumn("n_kg", F.count("*").over(Window.partitionBy("id")))
    )
    sel_w = (
        Window.partitionBy("id").orderBy("idx").rowsBetween(0, w - 1)
    )
    sel = F.min(F.struct(F.col("kh"), (-F.col("idx")).alias("ni"))).over(sel_w)
    return (
        rows.withColumn("_sel", sel)
        # complete windows only (s ≤ n-w); a doc with n < w keeps its
        # one shrunken window at s=0
        .filter(F.col("idx") <= F.greatest(F.col("n_kg") - w, F.lit(0)))
        .select(
            "id",
            (-F.col("_sel.ni")).cast("integer").alias("fp_pos"),
            F.col("_sel.kh").alias("fingerprint"),
        )
        .distinct()
    )


def simhash_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    bits: int = 16,
    bands: int = 4,
    max_distance: int = 2,
) -> DataFrame:
    """Banded Hamming-ball search over SimHash fingerprints — the cheap
    dedup tier a training pipeline runs before MinHash/embeddings
    (reference analog: the multi-metric fuzzy near-match,
    `hebrew_alignment_optimized.py:577-581`).

    The ``bits``-bit fingerprint splits into ``bands`` equal bands; a
    candidate pair must agree EXACTLY on at least one band, then is
    verified with the true Hamming distance. With
    ``max_distance < bands`` this is exhaustive, not approximate — a
    pair within distance d has its d differing bits in at most d < bands
    bands, so some band matches (pigeonhole). Plan shape: per-row band
    extraction (map-only shifts/masks), one shuffle on (band, value),
    per-bucket self-join, scalar distinct — never all-pairs. The recall
    dial at 100 TB is (bits, bands): 64-bit fingerprints with 4 bands
    give 16-bit bands (selective buckets) and exactness to d ≤ 3.
    """
    fps = simhash(df, id_col, text_col, bits)
    return _banded_hamming_pairs(fps, bits, bands, max_distance)


def _banded_hamming_pairs(
    fps: DataFrame, bits: int, bands: int, max_distance: int
) -> DataFrame:
    """Banded Hamming join over an (id, simhash) frame — the shared body
    of simhash_near_dup_pairs (full corpus), simhash_component_edges and
    simhash_quotient_pairs (distinct fingerprints only). The divisibility
    guard lives HERE so every caller inherits it: if bands did not divide
    bits, the top `bits % bands` fingerprint bits would sit outside every
    band and qualifying pairs would be silently missed despite the
    documented pigeonhole exactness."""
    if bits % bands != 0:
        raise ValueError(f"bands ({bands}) must divide bits ({bits}) evenly")
    band_bits = bits // bands
    mask = (1 << band_bits) - 1
    band_vals = F.array(
        *[
            F.shiftright(F.col("simhash"), k * band_bits).bitwiseAND(F.lit(mask))
            for k in range(bands)
        ]
    )
    p = fps.select("id", "simhash", F.posexplode(band_vals).alias("band", "bval"))
    a, b = p.alias("a"), p.alias("b")

    def band_val(side: str, k: int) -> Column:
        return F.shiftright(F.col(f"{side}.simhash"), k * band_bits).bitwiseAND(
            F.lit(mask)
        )

    # Emit each pair from its LOWEST agreeing band only: a pure bitwise
    # filter on the joined row replaces the former `.distinct()`, which
    # shuffled the full (quadratic-ish) result set a second time just to
    # drop cross-band duplicates.
    earlier_band_agrees = F.lit(False)
    for j in range(bands - 1):
        earlier_band_agrees = earlier_band_agrees | (
            (F.col("a.band") > j) & (band_val("a", j) == band_val("b", j))
        )
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bval") == F.col("b.bval"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .filter(~earlier_band_agrees)
        .withColumn(
            "hamming", hamming_distance(F.col("a.simhash"), F.col("b.simhash"), bits)
        )
        .filter(F.col("hamming") <= max_distance)
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"), "hamming")
    )


def simhash_component_edges(
    df: DataFrame,
    id_col: str,
    text_col: str,
    bits: int = 30,
    bands: int = 2,
    max_distance: int = 1,
) -> DataFrame:
    """Edge list whose CONNECTED COMPONENTS equal those of the full
    pairwise Hamming ≤ d graph, at O(n + distinct-fp pairs) edges
    instead of the full pair list.

    Canonicalize by exact fingerprint first: per distinct fingerprint,
    a STAR to the group's min id (those edges have Hamming 0 ≤ d by
    definition); then the banded Hamming join runs over DISTINCT
    fingerprints only. Any pair (x, y) with d(x, y) ≤ d is connected:
    same fingerprint ⇒ via the star hub; different fingerprints ⇒ their
    reps join in the banded pass and the stars complete the path. So
    component structure is EXACT while the quadratic equal-fingerprint
    cliques — the r06 scale-run killer, where statistically identical
    documents collapse onto one fingerprint and a single (band, value)
    bucket's pair aggregate exhausted executor memory at 150k docs —
    cost n star edges instead of |clique|² pairs. This is the
    clustering-tier generator; pair-semantics consumers
    (simhash_hamming_pairs' exact pair list) keep simhash_near_dup_pairs.
    """
    fps = simhash(df, id_col, text_col, bits)
    groups = fps.groupBy("simhash").agg(F.min("id").alias("rep"))
    star = (
        fps.join(groups, "simhash")
        .where(F.col("id") != F.col("rep"))
        .select(F.col("rep").alias("id_a"), F.col("id").alias("id_b"))
    )
    reps = groups.select(F.col("rep").alias("id"), "simhash")
    rep_pairs = _banded_hamming_pairs(reps, bits, bands, max_distance).select(
        "id_a", "id_b"
    )
    return star.unionByName(rep_pairs)


def simhash_quotient_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    bits: int = 16,
    bands: int = 4,
    max_distance: int = 2,
) -> DataFrame:
    """The QUOTIENT of the pairwise Hamming ≤ d graph by fingerprint
    equality — the scale-tier REPRESENTATIVE output for the exploded
    pair list (VERDICT r10 #5): `(fp_a, m_a, fp_b, m_b, hamming,
    implied_pairs)` where each row summarizes every document pair its
    fingerprint pair implies. Cross rows (fp_a < fp_b, d ≤ d_max over
    DISTINCT fingerprints) imply m_a·m_b pairs; self rows (one per
    clique of size ≥ 2, hamming 0) imply m·(m−1)/2. Total information
    equals the exploded form — sum(implied_pairs) IS its row count —
    at O(distinct-fp pairs) output instead of Θ(Σ clique²): on the
    homogeneous corpora where equal-fingerprint cliques make the
    exploded answer itself quadratic (simhash_hamming_pairs, 520.7 s /
    34× at sf10, adjudicated r10), the quotient stays linear-ish.
    Same banded plan as simhash_near_dup_pairs, but over distinct
    fingerprints only; pigeonhole exactness needs max_distance < bands.
    """
    fps = simhash(df, id_col, text_col, bits)
    groups = fps.groupBy("simhash").agg(F.count(F.lit(1)).alias("m"))
    reps = groups.select(F.col("simhash").alias("id"), "simhash")
    cross = (
        _banded_hamming_pairs(reps, bits, bands, max_distance)
        .join(groups.withColumnsRenamed({"simhash": "id_a", "m": "m_a"}), "id_a")
        .join(groups.withColumnsRenamed({"simhash": "id_b", "m": "m_b"}), "id_b")
        .select(
            F.col("id_a").alias("fp_a"),
            "m_a",
            F.col("id_b").alias("fp_b"),
            "m_b",
            F.col("hamming").cast("long").alias("hamming"),
            (F.col("m_a") * F.col("m_b")).alias("implied_pairs"),
        )
    )
    self_rows = groups.filter(F.col("m") >= 2).select(
        F.col("simhash").alias("fp_a"),
        F.col("m").alias("m_a"),
        F.col("simhash").alias("fp_b"),
        F.col("m").alias("m_b"),
        F.lit(0).cast("long").alias("hamming"),
        # integer div, not float `/`: the house integer-purity rule
        F.expr("CAST((m * (m - 1)) DIV 2 AS BIGINT)").alias("implied_pairs"),
    )
    return cross.unionByName(self_rows)


# ---------------------------------------------------------------------------
# Embedding-cosine near-dup

def embedding_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.95,
    bucket_bits: int = 0,
    num_tables: int = 1,
) -> DataFrame:
    """Pairs of rows whose embedding cosine ≥ threshold.

    ``bucket_bits = 0``: exact all-pairs (self-join on the smaller side
    broadcast when possible) — correctness baseline, O(n²) by nature.
    ``bucket_bits > 0``: random-hyperplane LSH prefilter — only pairs
    agreeing on ALL sign bits of at least one of ``num_tables``
    independent hyperplane sets are scored, then verified with exact
    cosine. This is the scale path: per-row bucket computation is a
    map-only projection, the self-join shuffles on (table, bucket) —
    never all-pairs — and recall is tuned by (bits, tables): per-table
    collision for a pair at angle θ is ``(1-θ/π)^bits``, union over
    tables. One table of many bits ≈ high precision / low recall;
    more tables buy recall linearly in cost, the standard LSH dial.
    """
    from ..functions.similarity import cosine_similarity

    v = df.select(F.col(id_col).alias("id"), F.col(vec_col).cast("array<double>").alias("vec"))
    if bucket_bits == 0:
        a, b = v.alias("a"), v.alias("b")
        return (
            a.join(b, F.col("a.id") < F.col("b.id"))
            .withColumn(
                "cosine", F.round(cosine_similarity(F.col("a.vec"), F.col("b.vec")), 6)
            )
            .filter(F.col("cosine") >= threshold)
            .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"), "cosine")
        )

    # LSH path. Bucket bits and candidate cosines are numpy inside
    # mapInPandas — the interpreted-HOF formulation costs ~10× at 10⁶
    # candidates — but every float reduction accumulates DIM-BY-DIM in
    # plan order, reproducing the sequential fp summation of the SQL
    # twin bit-for-bit (same technique as the blocked GEMM kernel), so
    # the oracle still hash-matches.
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        IntegerType,
        LongType,
        StructField,
        StructType,
    )
    from .ann import PLANE_SEED_STRIDE, _pseudo_random_plane

    id_type = v.schema["id"].dataType
    weights = np.array([1 << (bucket_bits - 1 - b) for b in range(bucket_bits)])

    def buckets(batches: "pd.DataFrame") -> "pd.DataFrame":
        # Hyperplanes are derived lazily from the first batch's vector
        # width INSIDE the task (the LCG recurrence is deterministic, so
        # every worker builds the identical matrix): no eager driver-side
        # first() job to probe the dimension, and an empty input yields
        # zero batches — and zero rows — instead of an IndexError.
        planes = None
        for pdf in batches:
            if len(pdf) == 0:
                continue
            mat = np.stack(pdf["vec"].to_numpy())
            if planes is None:
                planes = np.stack(
                    [
                        _pseudo_random_plane(mat.shape[1], t * PLANE_SEED_STRIDE + b)
                        for t in range(num_tables)
                        for b in range(bucket_bits)
                    ]
                )  # (num_tables*bits, dim)
            # dim-sequential accumulation == SQL list_dot_product order
            proj = np.zeros((len(pdf), planes.shape[0]))
            for d in range(mat.shape[1]):
                proj += np.outer(mat[:, d], planes[:, d])
            bits = (proj >= 0).astype("int64").reshape(len(pdf), num_tables, bucket_bits)
            bk = (bits * weights[None, None, :]).sum(axis=2)  # (n, tables)
            out = pdf.loc[pdf.index.repeat(num_tables)].reset_index(drop=True)
            out["tbl"] = np.tile(np.arange(num_tables), len(pdf)).astype("int32")
            out["bucket"] = bk.reshape(-1)
            yield out

    banded = v.mapInPandas(
        buckets,
        StructType(
            [
                StructField("id", id_type, False),
                StructField("vec", ArrayType(DoubleType()), False),
                StructField("tbl", IntegerType(), False),
                StructField("bucket", LongType(), False),
            ]
        ),
    )
    # Verify INSIDE the bucket group: one shuffle of the banded rows to
    # (table, bucket), then an applyInPandas kernel scores each bucket's
    # intra-bucket pairs with a numpy GEMM and emits only survivors —
    # candidate pairs never materialize as Spark rows (a candidate join
    # would ship two 64-dim arrays per pair through an exchange; at 10⁶
    # candidates that is the whole query's cost).
    def kernel(pdf: "pd.DataFrame") -> "pd.DataFrame":
        n = len(pdf)
        empty = pd.DataFrame({"id_a": [], "id_b": [], "cosine": []})
        if n < 2:
            return empty
        M = np.stack(pdf["vec"].to_numpy())
        dots = np.zeros((n, n))
        sq = np.zeros(n)
        for d in range(M.shape[1]):  # sequential over dims == SQL order
            dots += np.outer(M[:, d], M[:, d])
            sq += M[:, d] * M[:, d]
        norm = np.sqrt(sq)
        ratio = dots / np.outer(norm, norm)
        cos = np.sign(ratio) * np.floor(np.abs(ratio) * 1e6 + 0.5) / 1e6
        ids = pdf["id"].to_numpy()
        mask = (cos >= threshold) & (ids[:, None] < ids[None, :])
        ii, jj = np.nonzero(mask)
        if len(ii) == 0:
            return empty
        return pd.DataFrame({"id_a": ids[ii], "id_b": ids[jj], "cosine": cos[ii, jj]})

    out = banded.groupBy("tbl", "bucket").applyInPandas(
        kernel,
        StructType(
            [
                StructField("id_a", id_type, False),
                StructField("id_b", id_type, False),
                StructField("cosine", DoubleType(), False),
            ]
        ),
    )
    # a pair colliding in several tables appears once per table; the
    # scored row is identical in each, so a distinct on the (scalar)
    # output collapses them without comparing vectors
    return out.distinct() if num_tables > 1 else out


def embedding_near_dup_pairs_blocked(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.95,
    num_blocks: int = 8,
) -> DataFrame:
    """Exact all-pairs cosine near-dup via blocked matrix products.

    Same results as ``embedding_near_dup_pairs(bucket_bits=0)`` but the
    O(n²·dim) arithmetic runs inside numpy (Arrow-batched
    ``applyInPandas``) instead of per-pair Catalyst expressions — ~50×
    faster at 10³–10⁴ vectors. Rows are split into ``num_blocks`` blocks;
    every unordered block pair (i ≤ j) becomes one group holding both
    blocks' members, so each row is shuffled ``num_blocks`` times and
    peak group memory is two blocks — the standard blocked GEMM tiling,
    which scales by raising ``num_blocks`` as n grows.

    The kernel accumulates dot products and norms dimension-by-dimension
    (vectorized across pairs), reproducing the sequential fp summation
    order of the SQL/DuckDB twin bit-for-bit.
    """
    import pandas as pd
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    out_schema = StructType(
        [
            StructField("id_a", LongType(), False),
            StructField("id_b", LongType(), False),
            StructField("cosine", DoubleType(), False),
        ]
    )

    v = df.select(
        F.col(id_col).cast("long").alias("id"),
        F.col(vec_col).cast("array<double>").alias("vec"),
        F.pmod(F.hash(F.col(id_col)), F.lit(num_blocks)).alias("_blk"),
    )
    # Every row joins each group (i, j) = (min(_blk, other), max(...)).
    pairs = v.select(
        "id",
        "vec",
        "_blk",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(num_blocks - 1)),
                lambda j: F.struct(
                    F.least(F.col("_blk"), j).alias("gi"),
                    F.greatest(F.col("_blk"), j).alias("gj"),
                ),
            )
        ).alias("g"),
    ).select("id", "vec", "_blk", F.col("g.gi").alias("gi"), F.col("g.gj").alias("gj"))
    # A row in block b maps j=0..B-1 to the B distinct groups
    # {(min(b,j), max(b,j))} — no two j collide — so each row lands in
    # each of its groups exactly once and no dedup shuffle is needed.

    def kernel(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        gi, gj = key
        if gi == gj:
            A = B = pdf
        else:
            A = pdf[pdf["_blk"] == gi]
            B = pdf[pdf["_blk"] == gj]
        if len(A) == 0 or len(B) == 0:
            return pd.DataFrame({"id_a": [], "id_b": [], "cosine": []}).astype(
                {"id_a": "int64", "id_b": "int64", "cosine": "float64"}
            )
        MA = np.stack(A["vec"].to_numpy())
        MB = np.stack(B["vec"].to_numpy())
        dim = MA.shape[1]
        dots = np.zeros((len(A), len(B)))
        sqa = np.zeros(len(A))
        sqb = np.zeros(len(B))
        for d in range(dim):  # sequential over dims == SQL aggregate order
            dots += np.outer(MA[:, d], MB[:, d])
            sqa += MA[:, d] * MA[:, d]
            sqb += MB[:, d] * MB[:, d]
        ratio = dots / np.outer(np.sqrt(sqa), np.sqrt(sqb))
        # half-AWAY-from-zero to match Spark round()/DuckDB round();
        # np.round is half-to-even and diverges on exact 5e-7 boundaries
        cos = np.sign(ratio) * np.floor(np.abs(ratio) * 1e6 + 0.5) / 1e6
        ida = A["id"].to_numpy()
        idb = B["id"].to_numpy()
        if gi == gj:
            # same block on both sides: upper triangle only
            mask = (cos >= threshold) & (ida[:, None] < idb[None, :])
        else:
            # disjoint blocks: every unordered pair appears exactly once
            # in this group; normalize orientation below
            mask = cos >= threshold
        ii, jj = np.nonzero(mask)
        lo = np.minimum(ida[ii], idb[jj])
        hi = np.maximum(ida[ii], idb[jj])
        return pd.DataFrame({"id_a": lo, "id_b": hi, "cosine": cos[ii, jj]})

    return pairs.groupBy("gi", "gj").applyInPandas(kernel, out_schema)


def _large_star(e: DataFrame) -> DataFrame:
    """Large-star round: every node connects its LARGER neighbors to the
    minimum of its closed neighborhood. One window shuffle + one dedup."""
    b = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    w = Window.partitionBy("u")
    return (
        b.withColumn("m", F.least(F.col("u"), F.min("v").over(w)))
        .where(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .distinct()
    )


def _small_star(e: DataFrame) -> DataFrame:
    """Small-star round: orient edges large→small, then connect each
    node's smaller neighbors (and itself) to the neighborhood minimum."""
    d = e.select(F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v"))
    w = Window.partitionBy("u")
    dd = d.withColumn("m", F.min("v").over(w))  # all v < u, so min(N∪{u}) = min(v)
    return (
        dd.select(F.col("v").alias("u"), F.col("m").alias("v"))
        .union(dd.select("u", F.col("m").alias("v")))
        .where(F.col("u") != F.col("v"))
        .distinct()
    )


#: Per-thread convergence observability for ``connected_components`` —
#: ``cc_last_rounds()`` returns the round count of THIS thread's most
#: recent converged call (None before any call on this thread).
_cc_observability = threading.local()


def cc_last_rounds() -> int | None:
    return getattr(_cc_observability, "last_rounds", None)


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iterations: int = 30,
    dedupe_edges: bool = True,
    reliable_checkpoint: bool = False,
) -> DataFrame:
    """Connected components of an undirected edge list → (node, component),
    where component is the smallest node id reachable from node (one row
    per edge-touching node, roots included with component = themselves).
    Nodes with no edges don't appear; callers union isolated ids back in.

    Near-dup candidate generators (MinHash/SimHash/embedding LSH) emit
    PAIRS; turning pairs into duplicate CLUSTERS with one canonical
    keeper per cluster is a connected-components problem. Reference
    counterpart: the alignment tool's per-chapter grouping is a toy
    instance (hebrew_alignment_tool.py:417-464 groups by explicit key);
    at corpus scale the grouping key must be *derived* from the pair
    graph, which is exactly this operator.

    Algorithm: alternating large-star / small-star (Kiveris, Lattanzi,
    Mirrokni, Rastogi, Vassilvitskii — "Connected Components in MapReduce
    and Beyond", SoCC 2014). Scale posture (100 TB): each round is two
    windowed min-computations + two dedups, all hash-partitioned on node
    id — no driver state beyond a (count, checksum) convergence probe per
    round — and the edge set contracts to rooted stars in O(log n) rounds
    even on chain graphs, where naive min-label propagation needs
    O(diameter) rounds. Lineage is truncated each round with
    localCheckpoint, and — the ML PeriodicCheckpointer discipline — the
    PREVIOUS round's checkpoint blocks are unpersisted as soon as the
    new round has materialized: the r06 ×30 scale run proved that
    accumulated round checkpoints otherwise fill the protected storage
    region until execution memory starves (SparkOutOfMemoryError
    UNABLE_TO_ACQUIRE_MEMORY), a leak invisible at sf0.1. The final
    round's blocks back the returned frame; the current ``QueryScope``
    owns them (``scope.own``), so they go when the caller's scope
    closes. A cluster
    deployment with preemptible executors should call
    ``sparkContext.setCheckpointDir`` and pass ``reliable_checkpoint=
    True`` for reliable ``checkpoint()`` (replay from the checkpoint
    store instead of recompute; old round FILES are garbage-collected
    by the ContextCleaner when
    ``spark.cleaner.referenceTracking.cleanCheckpoints`` is on, and are
    disk-resident either way, so they cannot starve execution memory).
    """
    e = (
        edges.select(F.col(src).cast("long").alias("u"), F.col(dst).cast("long").alias("v"))
        .where(F.col("u").isNotNull() & F.col("v").isNotNull())
        .where(F.col("u") != F.col("v"))
    )
    if dedupe_edges:
        # The star rounds are duplicate-insensitive (windowed min + final
        # distinct), so callers whose generator already emits unique
        # pairs (banded LSH join) can skip this full-edge-set shuffle;
        # heavily duplicated inputs should keep it to shrink round 1.
        e = e.distinct()
    if reliable_checkpoint and edges.sparkSession.sparkContext.getCheckpointDir() is None:
        raise ValueError(
            "reliable_checkpoint=True requires sparkContext.setCheckpointDir(...)"
        )
    sc = edges.sparkSession.sparkContext

    def _checkpoint_rdd(df: DataFrame):
        """The JVM RDD a just-localCheckpointed Dataset persisted: its
        analyzed plan is the LogicalRDD wrapping exactly that RDD. A
        positive handle per round (not a getPersistentRDDs diff) so a
        concurrent job's persisted RDDs can never be misclassified as
        ours and unpersisted out from under their owner. Best-effort:
        cleanup must never fail the algorithm."""
        try:
            return df._jdf.queryExecution().analyzed().rdd()
        except Exception:  # noqa: BLE001 — observability only
            return None

    # Round 0: materialize the INPUT edge set once before the star
    # rounds. _large_star references its input twice (e ∪ flip) and
    # _small_star twice more, so an expensive caller pipeline behind
    # ``e`` (fingerprint fold + banded self-join in the dedup tiers)
    # re-executes up to 4× inside round 1's materialization —
    # ReuseExchange only collapses the references that survive planning
    # as identical exchange subtrees (measured sf0.1 A/B: 6.2 s → 5.2 s
    # for the simhash edge pipeline; at corpus scale the saved work is
    # the corpus-wide fold itself). The round-0 blocks join the same
    # rotation that frees each previous round, so peak storage is
    # unchanged: one edge set live at a time (plus the one being built).
    # Lazy here too (r13): round 1's signature job materializes this
    # block set on its way through the star pipeline — persist-locking
    # guarantees each input partition is computed once even though
    # large/small-star reference it 4× (the 90b4d72 re-execution fix),
    # and the round-0 count() job disappears.
    e = e.checkpoint(eager=True) if reliable_checkpoint else e.localCheckpoint(eager=False)
    prev_round_rdd = None if reliable_checkpoint else _checkpoint_rdd(e)
    prev_sig = None
    for rounds in range(1, max_iterations + 1):
        e = _small_star(_large_star(e))
        # LAZY local checkpoint (r13): the convergence signature below is
        # the round's first (and only) driver action, so letting IT
        # materialize the checkpoint folds the old eager count() job into
        # the signature job — one job per round instead of two, with the
        # same blocks persisted (localCheckpoint marks the RDD persisted;
        # the first job computes each partition once under the storage
        # lock). The reliable-checkpoint cluster path stays eager:
        # checkpoint() files must exist before lineage is dropped.
        e = e.checkpoint(eager=True) if reliable_checkpoint else e.localCheckpoint(eager=False)
        # 64-bit-hash checksum + count: a fixpoint keeps both identical.
        sig = tuple(
            e.agg(
                F.count(F.lit(1)),
                F.sum(F.pmod(F.xxhash64("u", "v"), F.lit(1_000_000_007))),
            ).first()
        )
        if not reliable_checkpoint:
            # This round is now materialized (the signature action ran) —
            # the previous round's blocks are unreachable by any plan and
            # must be dropped, or ~log n rounds of edge sets pile up in
            # the storage region (local-checkpoint blocks are not safely
            # evictable: their lineage is truncated). Order matters with
            # the lazy checkpoint: this round READS the previous round's
            # blocks while materializing, so the unpersist must follow
            # the signature action, never precede it.
            if prev_round_rdd is not None:
                try:
                    prev_round_rdd.unpersist(False)
                except Exception:  # noqa: BLE001 — leak is better than crash
                    pass
            prev_round_rdd = _checkpoint_rdd(e)
        if sig == prev_sig:
            # observability hook for the O(log n) convergence claim —
            # read by tools/scale_bench.py after each run. Thread-local
            # (not a function attribute) so concurrent callers on the
            # same SparkContext can't race each other's round counts.
            _cc_observability.last_rounds = rounds
            break
        prev_sig = sig
    else:
        raise RuntimeError(f"connected_components: no fixpoint in {max_iterations} rounds")
    if prev_round_rdd is not None:
        # the returned frame reads the final round's blocks: they live
        # as long as the caller's scope
        own(prev_round_rdd)
    # At the fixpoint every edge points child→root (root = component min);
    # roots appear only as v, so they'd be missing from a u-only rollup —
    # union each component's root back in (component = itself) so every
    # edge-touching node gets a row. min() guards the (never-observed)
    # case of a child carrying two edges mid-collision.
    members = e.groupBy(F.col("u").alias("node")).agg(F.min("v").alias("component"))
    roots = (
        members.select("component").distinct()
        .select(F.col("component").alias("node"), "component")
    )
    return members.unionByName(roots)


def ngram_contamination(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
) -> DataFrame:
    """Benchmark-contamination audit: per corpus document, the fraction
    of its distinct word n-grams that appear anywhere in a benchmark
    document → (id, n_ngrams, n_contaminated, contamination_ratio).

    Scale posture (100 TB): evaluation benchmarks are tiny next to a
    training corpus, so the benchmark's distinct n-gram set is
    BROADCAST — the corpus side is one map-side explode plus a single
    aggregation shuffle on doc id, never a corpus×corpus join. If a
    benchmark suite ever outgrows the broadcast budget, drop the hint
    and the same plan degrades to a shuffled hash join on the n-gram.
    """
    cand = shingle_sets(corpus, id_col, text_col, n)
    bset = explode_nonempty(
        shingle_sets(benchmark, id_col, text_col, n), [], "shingles", "g"
    ).distinct()
    exp = explode_nonempty(cand, ["id"], "shingles", "g")
    hits = exp.join(F.broadcast(bset.withColumn("_hit", F.lit(1))), "g", "left")
    return (
        hits.groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_ngrams"),
            F.sum(F.coalesce("_hit", F.lit(0))).cast("long").alias("n_contaminated"),
        )
        .withColumn(
            "contamination_ratio",
            F.round(F.col("n_contaminated") / F.col("n_ngrams"), 6),
        )
    )


_PACK_ID_BITS = 44


def _pack_id_guarded(id_col: F.Column) -> F.Column:
    """0 ≤ id < 2^44 or fail LOUDLY: an out-of-range id would silently
    bleed into the rank bits of the packed-BIGINT argmin and corrupt the
    winner (wrong or negative match), not error. The guard is one codegen
    comparison per candidate row — noise next to the join it follows."""
    ok = (id_col >= 0) & (id_col < F.lit(1 << _PACK_ID_BITS))
    return F.when(ok, id_col).otherwise(
        F.raise_error(
            F.concat(
                F.lit(f"packed-argmin id outside [0, 2^{_PACK_ID_BITS}): "),
                id_col.cast("string"),
            )
        )
    )


def simhash_lookup_pairs(
    batch: DataFrame,
    index: DataFrame,
    id_col: str,
    text_col: str,
    bits: int = 16,
    bands: int = 2,
    max_distance: int = 1,
) -> DataFrame:
    """Asymmetric banded SimHash lookup: every BATCH document's best
    match in the INDEX (exact for d ≤ max_distance < bands, pigeonhole
    as in simhash_near_dup_pairs) → (id, match_id, hamming, is_unique),
    one row per batch doc; unmatched docs keep NULL match columns.

    This is dedup as it runs in production: signatures of the standing
    corpus are precomputed once; each incoming batch joins against them
    instead of re-self-joining the world. Plan shape: both sides band
    map-only, the join shuffles on (band, value) with the batch side
    tiny, the argmin is one window over the batch id, and the final
    left join restores unmatched rows — no step touches index×index.
    """
    if bits % bands != 0:
        raise ValueError(f"bands ({bands}) must divide bits ({bits}) evenly")
    band_bits = bits // bands
    mask = (1 << band_bits) - 1

    def banded(df: DataFrame, side: str) -> DataFrame:
        fps = simhash(df, id_col, text_col, bits).withColumnRenamed(
            "simhash", f"{side}_sh"
        ).withColumnRenamed("id", f"{side}_id")
        vals = F.array(
            *[
                F.shiftright(F.col(f"{side}_sh"), k * band_bits).bitwiseAND(F.lit(mask))
                for k in range(bands)
            ]
        )
        return fps.select(
            f"{side}_id", f"{side}_sh", F.posexplode(vals).alias("band", "bval")
        )

    b = banded(batch, "b")
    x = banded(index, "x")
    cand = (
        b.join(x, ["band", "bval"])
        .withColumn("hamming", hamming_distance(F.col("b_sh"), F.col("x_sh"), bits))
        .filter(F.col("hamming") <= max_distance)
    )
    # argmin as a PRIMITIVE aggregate: (hamming, x_id) packs into one
    # BIGINT (ids must fit 44 bits — 17.6T docs), so min() is a plain
    # HashAggregate with map-side combine — on a dense-match corpus the
    # candidate stream collapses to one row per batch doc per task
    # BEFORE any exchange. Both a row_number window and min(struct(...))
    # (object aggregate, sort-based fallback) had to SORT every
    # candidate instead: measured 13 GB spill at x100, → zero packed.
    packed = F.col("hamming").cast("long") * F.lit(1 << 44) + _pack_id_guarded(
        F.col("x_id")
    )
    best = (
        cand.groupBy("b_id")
        .agg(F.min(packed).alias("p"))
        .select(
            F.col("b_id").alias("id"),
            F.col("p").bitwiseAND(F.lit((1 << 44) - 1)).alias("match_id"),
            F.shiftright(F.col("p"), 44).alias("hamming"),  # stays long
        )
    )
    ids = batch.select(F.col(id_col).alias("id"))
    return ids.join(best, "id", "left").select(
        "id",
        "match_id",
        "hamming",
        F.col("match_id").isNull().alias("is_unique"),
    )


#: index rows (``plan_rows``) from which ``minhash_lookup_pairs``
#: verifies on the semi-joined neighborhood instead of the whole index;
#: set from one sf0.1 A/B (+7 jobs below it), crossover not yet measured
SEMIJOIN_MIN_INDEX_ROWS = 100_000


def minhash_lookup_pairs(
    batch: DataFrame,
    index: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 16,
    threshold: float = 0.5,
) -> DataFrame:
    """Asymmetric MinHash-LSH lookup — the incremental face of the
    Jaccard candidate tier of record: every BATCH document's best
    near-duplicate in the standing INDEX →
    (id, match_id, jaccard, is_unique), one row per batch doc.

    Same banding as ``minhash_lsh_pairs`` (docs sharing any full band
    collide; candidates verified with exact shingle Jaccard so the
    MinHash estimate never reaches the output), but the join is
    batch×index ONLY — the index is never self-joined, and on a real
    deployment its signatures are precomputed once and appended per
    day. Plan shape: both sides band map-only, the (band, bucket)
    equi-join shuffles with the batch side tiny, best-match is one
    window over the batch id, and a final left join restores unmatched
    batch docs. At 100 TB the index side's banding output is the thing
    you persist — this function re-derives it only because the sandbox
    has no standing store.

    The index's row statistic gates the shingle-after-semi-join
    verification path: ``plan_rows(index)``, the rows of the files the
    index reads (parquet footers, zero jobs — the whole table even when
    the index is a filtered slice of it). At ``SEMIJOIN_MIN_INDEX_ROWS``
    or more, the second tokenize+ngram pass over the standing corpus
    dominates and is cut to the collided neighborhood (guide §3.3 —
    join first on the un-exploded key); below it the semi-join's extra
    candidate pin and broadcast stages (+7 jobs measured at sf0.1) cost
    more than the small second pass they save, so the plain two-pass
    form runs, as it does for an index with no file leaf. Both paths
    produce identical values — the semi-join only restricts shingles
    to ids already present in the candidate set."""
    if num_hashes % bands != 0:
        raise ValueError(
            f"bands ({bands}) must divide num_hashes ({num_hashes}) "
            f"evenly — a remainder would silently drop trailing "
            "signature rows and skew the (b, r) recall curve"
        )
    rows_per_band = num_hashes // bands

    def banded(df: DataFrame, side: str) -> DataFrame:
        sigs = minhash_signatures(df, id_col, text_col, n, num_hashes)
        return sigs.select(
            F.col("id").alias(f"{side}_id"),
            F.explode(_banded_sig_structs(rows_per_band, bands)).alias("bb"),
        ).select(f"{side}_id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))

    cand = (
        banded(batch, "b")
        .join(banded(index, "x"), ["band", "bucket"])
        .select("b_id", "x_id")
        .distinct()
    )
    index_rows = plan_rows(index)
    if index_rows is not None and index_rows >= SEMIJOIN_MIN_INDEX_ROWS:
        # EAGER pin: cand gets three consumers on this path (the verify
        # join + one semi-join per shingle side) — lazy, AQE's
        # concurrent stage materialization would re-run the banding
        # join per consumer.
        cand = pin(cand)
        sh_b = shingle_sets(
            batch.join(
                cand.select(F.col("b_id").alias(id_col)), id_col, "leftsemi"
            ),
            id_col, text_col, n,
        ).withColumnsRenamed({"id": "b_id", "shingles": "sh_b"})
        sh_x = shingle_sets(
            index.join(
                cand.select(F.col("x_id").alias(id_col)), id_col, "leftsemi"
            ),
            id_col, text_col, n,
        ).withColumnsRenamed({"id": "x_id", "shingles": "sh_x"})
    else:
        sh_b = shingle_sets(batch, id_col, text_col, n).withColumnsRenamed(
            {"id": "b_id", "shingles": "sh_b"}
        )
        sh_x = shingle_sets(index, id_col, text_col, n).withColumnsRenamed(
            {"id": "x_id", "shingles": "sh_x"}
        )
    verified = (
        cand.join(sh_b, "b_id")
        .join(sh_x, "x_id")
        .withColumn(
            "jaccard",
            F.round(
                F.size(F.array_intersect("sh_b", "sh_x"))
                / F.size(F.array_union("sh_b", "sh_x")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    # argmax as a PRIMITIVE aggregate (same packing rationale as the
    # simhash lookup): jaccard is already 6-dp, so (1e6 − jaccard·1e6)
    # and the id pack into one BIGINT whose min() is highest-jaccard-
    # then-smallest-id — plain HashAggregate, map-side combined.
    jscaled = F.round(F.col("jaccard") * 1e6, 0).cast("long")
    # The rank (1e6 − jaccard·1e6) must fit the 63−44=19 bits above the
    # id or the pack silently overflows long and corrupts the argmin;
    # that bounds threshold ≥ 1 − (2^19−1)/1e6 ≈ 0.4757.
    if 1_000_000 - int(round(threshold * 1e6)) <= (1 << 19) - 1:
        packed = (F.lit(1_000_000) - jscaled) * F.lit(1 << 44) + _pack_id_guarded(
            F.col("x_id")
        )
        best = (
            verified.groupBy("b_id")
            .agg(F.min(packed).alias("p"))
            .select(
                F.col("b_id").alias("id"),
                F.col("p").bitwiseAND(F.lit((1 << 44) - 1)).alias("match_id"),
                (
                    (F.lit(1_000_000) - F.shiftright(F.col("p"), 44)) / F.lit(1e6)
                ).alias("jaccard"),
            )
        )
    else:
        # Low-threshold fallback: min(struct(...)) — an object aggregate
        # (sort-based, spills on dense candidate streams) but correct for
        # any rank range. Production thresholds live well above 0.48.
        best = (
            verified.groupBy("b_id")
            .agg(
                F.min(
                    F.struct(
                        (F.lit(1_000_000) - jscaled).alias("r"),
                        F.col("x_id").alias("match_id"),
                    )
                ).alias("s")
            )
            .select(
                F.col("b_id").alias("id"),
                F.col("s.match_id").alias("match_id"),
                ((F.lit(1_000_000) - F.col("s.r")) / F.lit(1e6)).alias("jaccard"),
            )
        )
    ids = batch.select(F.col(id_col).alias("id"))
    return ids.join(best, "id", "left").select(
        "id",
        "match_id",
        "jaccard",
        F.col("match_id").isNull().alias("is_unique"),
    )


def duplicate_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 10,
    min_count: int = 2,
) -> DataFrame:
    """Exact duplicate-SPAN detection (Lee et al., "Deduplicating
    Training Data Makes Language Models Better", ACL 2022): find every
    token n-gram that occurs ≥ ``min_count`` times corpus-wide (their
    suffix-array criterion, expressed as a hash-group — same-document
    repeats count, as in the paper), then merge each document's
    overlapping duplicated n-gram occurrences into MAXIMAL removable
    spans. Unlike whole-document dedup tiers, this flags the duplicated
    REGIONS inside otherwise-unique documents — the boilerplate/quote
    contamination whole-doc hashes can't see.

    Output: one row per maximal span — ``(id, span_start, span_end,
    span_tokens)`` with token-index start (inclusive, 0-based) and end
    (exclusive).

    Plan shape / 100 TB posture: n-gram hashing is per-row HOF
    arithmetic over a materialized token-hash column (map-only); the
    frequency pass is one map-side-combined groupBy on the 64-bit gram
    hash; the hit join shuffles on the same hash (corpus-sized — NOT
    broadcast; AQE splits the stop-gram skew); the interval merge is
    the classic running-max island trick — two same-spec windows over
    ONE shuffle on the doc id, then an aggregation that reuses that
    partitioning. No Python, no collect, no quadratic step anywhere.
    """
    hashed = df.withColumn(
        "_toks", whitespace_tokens(F.col(text_col))
    ).withColumn(
        "_th", F.transform(F.col("_toks"), token_hash)
    ).withColumn(
        "_th2", F.transform(F.col("_toks"), token_hash2)
    )
    th = F.col("_th")
    n_tokens = F.size(th)
    kgrams = F.transform(
        F.sequence(F.lit(0), n_tokens - n), _kgram_hash(th, F.col("_th2"), n)
    )
    grams = hashed.filter(whitespace_token_count(F.col(text_col)) >= n).select(
        F.col(id_col).alias("id"), F.posexplode(kgrams).alias("pos", "kh")
    )
    dup = grams.groupBy("kh").agg(F.count("*").alias("_c")).filter(
        F.col("_c") >= min_count
    )
    hits = grams.join(dup.select("kh"), "kh").select(
        "id", "pos", (F.col("pos") + n).alias("e")
    )
    w_ord = Window.partitionBy("id").orderBy("pos")
    prev_max = F.max("e").over(w_ord.rowsBetween(Window.unboundedPreceding, -1))
    island = F.sum(
        F.when(prev_max.isNull() | (F.col("pos") > prev_max), 1).otherwise(0)
    ).over(w_ord.rowsBetween(Window.unboundedPreceding, 0))
    return (
        hits.withColumn("_island", island)
        .groupBy("id", "_island")
        .agg(
            F.min("pos").alias("span_start"),
            F.max("e").alias("span_end"),
            (F.max("e") - F.min("pos")).alias("span_tokens"),
        )
        .drop("_island")
    )


def semantic_dedup(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    codebook: "list[tuple[int, list[float]]] | object",  # flat list or ann.TwoLevelCodebook
    tau: float = 0.95,
) -> DataFrame:
    """SemDeDup-style semantic deduplication over an embedding column:
    cluster-block with a k-means codebook, then prune near-duplicates
    WITHIN each cluster by pairwise cosine (Abbas et al., "SemDeDup:
    Data-efficient learning at web-scale through semantic
    deduplication", 2023). A document is a duplicate when some
    smaller-id member of its cluster has cosine ≥ ``tau`` with it —
    the same deterministic keep-first rule as ``exact_dedup``, so the
    kept set is stable across partitionings and engines.

    Returns one row per input vector: ``(id, cell, is_dup)``.

    Plan shape / 100 TB posture: assignment is the shared map-only
    broadcast-GEMM stage (``ann.cell_assign`` — the corpus is never
    shuffled to find its cluster); the only shuffle is the self-join on
    ``cell``; the within-cluster comparison is quadratic in CLUSTER
    size by design — that is SemDeDup's cost model, and the knob is k
    (the paper runs k ≈ √n, e.g. 50 000 clusters on LAION-scale
    corpora, keeping each cluster's pairwise block small). Cluster-size
    skew therefore bounds the worst reducer; training the codebook on a
    corpus sample with more iterations evens the cells out. The final
    flag re-attaches via a distinct on the (already tau-filtered, so
    small) duplicate-id set and one left join on ``id``.

    Reference parity: the reference has no embedding dedup at all —
    this is part of the training-data surface the build adds on top
    (SURVEY.md §2 "LLM-data-pipeline operators").
    """
    from ..functions.similarity import cosine_similarity
    from .ann import cell_assign

    # a TwoLevelCodebook (derived-k scale tier, VERDICT r11 #2) carries
    # its own two-stage Θ(n·√k·d) assignment; a flat codebook list keeps
    # the classic broadcast GEMM — downstream semantics are identical
    # (block on `cell`, prune within)
    if hasattr(codebook, "assign"):
        assigned = codebook.assign(corpus, id_col, vec_col)
    else:
        assigned = cell_assign(corpus, id_col, vec_col, codebook)
    left = assigned.select(
        F.col("cell"), F.col("id").alias("keep_id"), F.col("vec").alias("kvec")
    )
    right = assigned.select(
        F.col("cell"), F.col("id").alias("dup_id"), F.col("vec").alias("dvec")
    )
    dup_flags = (
        left.join(right, "cell")
        .filter(F.col("keep_id") < F.col("dup_id"))
        .withColumn(
            "cosine", F.round(cosine_similarity(F.col("kvec"), F.col("dvec")), 6)
        )
        .filter(F.col("cosine") >= tau)
        .select(F.col("dup_id").alias("id"))
        .distinct()
        .withColumn("is_dup", F.lit(True))
    )
    return assigned.join(dup_flags, "id", "left").select(
        "id",
        "cell",
        F.coalesce(F.col("is_dup"), F.lit(False)).alias("is_dup"),
    )


# ---------------------------------------------------------------------------
# C4-style line-level exact dedup (Raffel et al., JMLR 2020 §2.2)

#: span_idx must fit under the packed-BIGINT's low bits: 2^20 spans per
#: document ≈ 10M tokens at span=10 — far above any real document, and
#: the pack guard fails LOUDLY (raise_error) rather than corrupt the
#: keep-first winner if a pathological input ever exceeds it.
_SPAN_IDX_BITS = 20


def line_spans(
    df: DataFrame, id_col: str, text_col: str, span: int = 5
) -> DataFrame:
    """(id, span_idx, span_hash, n_span_tokens): each document's token
    stream cut into consecutive non-overlapping ``span``-token segments
    (the last may be shorter) — the fixed-width surrogate for C4's
    "three-sentence span" unit on corpora without sentence punctuation.
    Span text is hashed with the shared polynomial (oracle-replayable);
    one indexed ``transform`` over ``sequence`` builds all spans per
    row, then one explode — no UDF, no shuffle.

    Documents with zero tokens yield zero spans (NOT a [0,-1]
    descending ``sequence`` artifact — guarded explicitly)."""
    toks = df.select(
        F.col(id_col).alias("id"), whitespace_tokens(F.col(text_col)).alias("_toks")
    )
    n_spans = F.ceil(F.size("_toks") / F.lit(span)).cast("int")
    spans = F.when(F.size("_toks") == 0, F.array().cast(
        "array<struct<span_idx:int,span_hash:long,n_span_tokens:int>>"
    )).otherwise(
        F.transform(
            F.sequence(F.lit(0), n_spans - 1),
            lambda i: F.struct(
                i.cast("int").alias("span_idx"),
                token_hash(
                    F.array_join(F.slice("_toks", i * span + 1, span), " ")
                ).alias("span_hash"),
                F.least(F.size("_toks") - i * span, F.lit(span))
                .cast("int")
                .alias("n_span_tokens"),
            ),
        )
    )
    # explode_nonempty, not plain explode: the span array is an EXPENSIVE
    # derived HOF (per-char polynomial hash of every span) — the inner
    # form's inferred pre-filter would rebuild it per row below spread()'s
    # repartition (the benchmark_contamination wart; measured at x1..x100
    # in bench_runs/r10_scaling_c4.json before keeping this form)
    return explode_nonempty(toks, ["id"], spans, "s").select(
        "id", "s.span_idx", "s.span_hash", "s.n_span_tokens"
    )


def line_dedup_stats(
    df: DataFrame, id_col: str, text_col: str, span: int = 5
) -> DataFrame:
    """C4-style line-level exact dedup, corpus-wide keep-first: a span
    occurrence survives iff it is the FIRST occurrence of its hash in
    global (doc_id, span_idx) order; later occurrences are the
    "discard all but one of any repeated span" set. Output per doc:
    (doc_id, n_spans, n_dup_spans, n_tokens, n_tokens_kept).

    Plan shape / 100 TB posture: the keep-first winner per hash is a
    packed-BIGINT primitive ``min`` (map-side-combined HashAggregate —
    the r7 argmin lesson; a window over span_hash would sort-spill),
    followed by ONE hash-colocated equi-join back onto the occurrence
    stream and a per-doc HashAggregate. Two shuffles total, both on
    bounded-width keys; span text never shuffles (only 31-bit hashes),
    and doc order never matters past the pack."""
    s = line_spans(df, id_col, text_col, span)
    # tighter than _pack_id_guarded: after the 2^20 span shift the id must
    # fit in 63-20 bits or the pack overflows BIGINT and corrupts min()
    id_ok = (F.col("id") >= 0) & (F.col("id") < F.lit(1 << (63 - _SPAN_IDX_BITS)))
    safe_id = F.when(id_ok, F.col("id")).otherwise(
        F.raise_error(
            F.concat(
                F.lit(f"line-dedup pack id outside [0, 2^{63 - _SPAN_IDX_BITS}): "),
                F.col("id").cast("string"),
            )
        )
    )
    # span_idx gets the low _SPAN_IDX_BITS of the pack; a pathological
    # document beyond 2^20 spans (~5M+ tokens at span=5) would overflow
    # into the id bits and SILENTLY corrupt both the keep-first min and
    # the _kept equality — fail loudly instead (ADVICE r10)
    safe_span_idx = F.when(
        F.col("span_idx") < F.lit(1 << _SPAN_IDX_BITS), F.col("span_idx")
    ).otherwise(
        F.raise_error(
            F.concat(
                F.lit(f"line-dedup span_idx outside [0, 2^{_SPAN_IDX_BITS}): "),
                F.col("span_idx").cast("string"),
            )
        )
    )
    packed = safe_id * F.lit(1 << _SPAN_IDX_BITS) + safe_span_idx
    occ = s.withColumn("_packed", packed)
    keepers = occ.groupBy("span_hash").agg(F.min("_packed").alias("_keeper"))
    return (
        occ.join(keepers, "span_hash")
        .withColumn("_kept", F.col("_packed") == F.col("_keeper"))
        .groupBy(F.col("id").alias("doc_id"))
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.sum(F.when(~F.col("_kept"), 1).otherwise(0)).alias("n_dup_spans"),
            F.sum("n_span_tokens").alias("n_tokens"),
            F.sum(F.when(F.col("_kept"), F.col("n_span_tokens")).otherwise(0)).alias(
                "n_tokens_kept"
            ),
        )
    )
