"""Property-based tests (hypothesis) for the engine's algebraic
invariants — a layer the reference's script-and-log test strategy
(SURVEY.md §5) never had. Each property is checked against many
generated inputs through the REAL Spark operators, not Python mirrors.

Spark-session round trips are ~100 ms each, so examples are capped low;
the value is the generator's edge cases (empty strings, single tokens,
equal weights, duplicate keys), not volume.
"""

from __future__ import annotations

import math

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from hebrew_tutor_data_pipeline_spark.functions.text import whitespace_tokens
from hebrew_tutor_data_pipeline_spark.operators.alignment import allocate_proportional
from hebrew_tutor_data_pipeline_spark.operators.dedup import (
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash,
)

SLOW = settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)

texts = st.text(
    alphabet=st.sampled_from("ab עשה "),  # tiny alphabet → frequent collisions
    min_size=0,
    max_size=40,
)


class TestAllocationProperties:
    @SLOW
    @given(
        weights=st.lists(st.integers(min_value=1, max_value=50), min_size=1, max_size=12),
        total=st.floats(min_value=1.0, max_value=10_000.0, allow_nan=False),
    )
    def test_allocation_covers_total_and_is_monotone(self, spark, weights, total):
        """Σ durations == total (±rounding); starts strictly ordered and
        each row's end == next row's start up to 2-dp rounding error."""
        rows = [("g", i, w, float(total)) for i, w in enumerate(weights)]
        df = spark.createDataFrame(rows, ["grp", "pos", "w", "total"])
        out = (
            allocate_proportional(df, ["grp"], "pos", "w", "total")
            .orderBy("pos")
            .collect()
        )
        # rounding each of n starts/ends to 2 dp bounds drift by n cents
        tol = 0.01 * (len(weights) + 1)
        assert abs(out[-1]["end"] - total) <= tol
        assert out[0]["start"] == 0.0
        for a, b in zip(out, out[1:]):
            assert a["start"] <= b["start"]
            assert abs(a["end"] - b["start"]) <= tol

    @SLOW
    @given(
        weights=st.lists(st.integers(min_value=1, max_value=9), min_size=2, max_size=6)
    )
    def test_allocation_proportionality(self, spark, weights):
        """Durations are proportional to weights: dur_i / dur_j ≈ w_i / w_j."""
        total = 1000.0
        rows = [("g", i, w, total) for i, w in enumerate(weights)]
        df = spark.createDataFrame(rows, ["grp", "pos", "w", "total"])
        out = allocate_proportional(df, ["grp"], "pos", "w", "total").orderBy("pos").collect()
        s = sum(weights)
        for r, w in zip(out, weights):
            assert math.isclose(r["end"] - r["start"], w / s * total, abs_tol=0.03)


class TestDedupProperties:
    @SLOW
    @given(doc=texts)
    def test_minhash_signature_entries_are_true_minima(self, spark, doc):
        """Every signature entry is ≤ MOD and the signature is identical
        when the same document appears under two ids (permutation
        invariance of the per-row computation)."""
        df = spark.createDataFrame([(1, doc), (2, doc)], ["id", "text"])
        rows = minhash_signatures(df, "id", "text", n=2, num_hashes=8).collect()
        sigs = {r["id"]: list(r["sig"]) for r in rows}
        assert sigs[1] == sigs[2]
        assert all(len(s) == 8 for s in sigs.values())

    @SLOW
    @given(a=texts, b=texts)
    def test_jaccard_pairs_bounds_and_identity(self, spark, a, b):
        """0 ≤ jaccard ≤ 1 for any pair; identical non-empty docs score
        exactly 1.0 (n=1 token shingles)."""
        df = spark.createDataFrame([(1, a), (2, b), (3, a)], ["id", "text"])
        pairs = {
            (r["id_a"], r["id_b"]): r["jaccard"]
            for r in ngram_jaccard_pairs(df, "id", "text", n=1, threshold=0.0).collect()
        }
        for v in pairs.values():
            assert 0.0 <= v <= 1.0
        if a.split():  # doc 1 and 3 identical and non-empty
            assert pairs.get((1, 3)) == 1.0

    @SLOW
    @given(doc=texts)
    def test_simhash_stable_and_bounded(self, spark, doc):
        """Fingerprint fits in `bits` bits and is deterministic."""
        df = spark.createDataFrame([(1, doc)], ["id", "text"])
        h1 = simhash(df, "id", "text", bits=16).first()["simhash"]
        h2 = simhash(df, "id", "text", bits=16).first()["simhash"]
        assert h1 == h2
        assert 0 <= h1 < 2**16


class TestTokenizerProperties:
    @SLOW
    @given(doc=texts)
    def test_whitespace_tokens_match_python_split(self, spark, doc):
        """The engine's tokenizer agrees with str.split() — the oracle
        SQL's string_split_regex twin relies on this equivalence."""
        df = spark.createDataFrame([(doc,)], ["text"])
        got = df.select(whitespace_tokens(F.col("text")).alias("t")).first()["t"]
        assert got == doc.split()


class TestBandedSearchProperties:
    @SLOW
    @given(
        docs=st.lists(texts, min_size=2, max_size=10),
        max_d=st.integers(min_value=0, max_value=3),
    )
    def test_simhash_banding_is_exhaustive(self, spark, docs, max_d):
        """With max_distance < bands the banded plan must equal brute
        force exactly — the pigeonhole claim, property-checked."""
        from hebrew_tutor_data_pipeline_spark.operators.dedup import (
            simhash_near_dup_pairs,
        )

        rows = [(i, t) for i, t in enumerate(docs)]
        df = spark.createDataFrame(rows, ["id", "text"])
        banded = {
            (r["id_a"], r["id_b"], r["hamming"])
            for r in simhash_near_dup_pairs(
                df, "id", "text", bits=16, bands=4, max_distance=max_d
            ).collect()
        }
        fps = {r["id"]: r["simhash"] for r in simhash(df, "id", "text", bits=16).collect()}
        brute = {
            (a, b, bin(fps[a] ^ fps[b]).count("1"))
            for a in fps
            for b in fps
            if a < b and bin(fps[a] ^ fps[b]).count("1") <= max_d
        }
        assert banded == brute


class TestTranscribeProperties:
    @SLOW
    @given(
        n_words=st.integers(min_value=0, max_value=40),
        duration_s=st.integers(min_value=1, max_value=120),
        drop_every=st.sampled_from([0, 2, 7]),
    )
    def test_transcribe_timing_invariants(self, spark, n_words, duration_s, drop_every):
        """Chunk bounds always lie inside the audio; chunk indices are
        non-decreasing in word order; dropped indices are exactly the
        drop_every-th ones."""
        from hebrew_tutor_data_pipeline_spark.operators import transcribe

        text = " ".join(f"w{i}" for i in range(n_words))
        df = spark.createDataFrame(
            [("b", 1, text, duration_s * 1000)],
            "book string, chapter int, text string, duration_ms long",
        )
        out = sorted(
            transcribe.transcribe_words(
                df, ["book", "chapter"], drop_every=drop_every
            ).collect(),
            key=lambda r: r.word_idx,
        )
        if n_words == 0:
            assert out == []
            return
        expected_idx = [
            i
            for i in range(n_words)
            if not (drop_every and i % drop_every == drop_every - 1)
        ]
        assert [r.word_idx for r in out] == expected_idx
        prev_chunk = -1
        for r in out:
            assert 0 <= r.start_ms <= r.end_ms <= duration_s * 1000
            assert r.chunk_idx >= prev_chunk
            prev_chunk = r.chunk_idx
            assert 0.5 <= r.confidence <= 0.99


class TestSkewProperties:
    @SLOW
    @given(
        rows=st.lists(
            st.tuples(
                st.sampled_from(["k1", "k2", "hot"]),  # skewed key space
                st.integers(min_value=-100, max_value=100),
            ),
            min_size=1,
            max_size=30,
        ),
        n_salts=st.integers(min_value=1, max_value=9),
    )
    def test_salted_aggregate_invisible_vs_direct(self, spark, rows, n_salts):
        """For ANY data and salt count, two-phase salted aggregation must
        equal the direct groupBy — sums, extremes, averages, and set
        membership alike."""
        from hebrew_tutor_data_pipeline_spark.operators.skew import salted_aggregate

        df = spark.createDataFrame(rows, ["k", "v"])
        direct = {
            r["k"]: (r["s"], r["mn"], r["mx"], r["avg"], tuple(sorted(r["vs"])))
            for r in df.groupBy("k")
            .agg(
                F.sum("v").alias("s"),
                F.min("v").alias("mn"),
                F.max("v").alias("mx"),
                F.avg("v").alias("avg"),
                F.collect_set("v").alias("vs"),
            )
            .collect()
        }
        salted = {
            r["k"]: (r["s"], r["mn"], r["mx"], r["avg"], tuple(sorted(r["vs"])))
            for r in salted_aggregate(
                df,
                ["k"],
                {
                    "s": ("v", "sum"),
                    "mn": ("v", "min"),
                    "mx": ("v", "max"),
                    "avg": ("v", "avg"),
                    "vs": ("v", "collect_set"),
                },
                n_salts=n_salts,
            ).collect()
        }
        assert set(direct) == set(salted)
        for k in direct:
            ds, dmn, dmx, davg, dvs = direct[k]
            ss, smn, smx, savg, svs = salted[k]
            assert (ds, dmn, dmx, dvs) == (ss, smn, smx, svs)
            assert math.isclose(davg, savg, rel_tol=1e-12, abs_tol=1e-12)


class TestIntervalJoinProperties:
    @SLOW
    @given(
        points=st.lists(
            st.floats(min_value=0.0, max_value=50.0, allow_nan=False), min_size=1, max_size=15
        ),
        intervals=st.lists(
            st.tuples(
                st.floats(min_value=0.0, max_value=50.0, allow_nan=False),
                st.floats(min_value=0.0, max_value=10.0, allow_nan=False),
            ),
            min_size=1,
            max_size=10,
        ),
        bin_width=st.sampled_from([0.7, 1.0, 3.0, 25.0]),
    )
    def test_binned_equals_naive(self, spark, points, intervals, bin_width):
        """For ANY points, intervals, and bin width, the binned rewrite
        must return exactly the pairs of the naive range predicate —
        each exactly once (a point owns one bin)."""
        from hebrew_tutor_data_pipeline_spark.operators.intervals import (
            point_in_interval_join,
        )

        p = spark.createDataFrame(
            [(i, float(x)) for i, x in enumerate(points)], ["pid", "x"]
        )
        iv = spark.createDataFrame(
            [(j, float(s), float(s + w)) for j, (s, w) in enumerate(intervals)],
            ["iid", "s", "e"],
        )
        got = sorted(
            (r["pid"], r["iid"])
            for r in point_in_interval_join(p, iv, "x", "s", "e", bin_width=bin_width)
            .select("pid", "iid")
            .collect()
        )
        want = sorted(
            (i, j)
            for i, x in enumerate(points)
            for j, (s, w) in enumerate(intervals)
            if s <= x <= s + w
        )
        assert got == want


def _py_kgram_keys(tokens: list[str], k: int) -> list[int]:
    """Pure-Python reference of the engine's 62-bit combined k-gram key:
    two independent polynomial chains packed as g1*MOD2 + g2 (mirrors
    operators.dedup._kgram_hash)."""
    M1, B1 = 2_147_483_647, 31
    M2, B2 = 2_147_483_629, 131

    def th(tok: str, base: int, mod: int) -> int:
        h = 0
        for c in tok:
            h = (h * base + ord(c)) % mod
        return h

    h1 = [th(t, B1, M1) for t in tokens]
    h2 = [th(t, B2, M2) for t in tokens]
    kg = []
    for i in range(len(tokens) - k + 1):
        g1 = g2 = 0
        for j in range(k):
            # bases CROSSED vs the token hashes (see _kgram_hash)
            g1 = (g1 * B2 + h1[i + j]) % M1
            g2 = (g2 * B1 + h2[i + j]) % M2
        kg.append(g1 * M2 + g2)
    return kg


def _py_winnow(tokens: list[str], k: int, w: int) -> set[tuple[int, int]]:
    """Pure-Python reference winnowing (Schleimer et al. 2003) with the
    engine's combined k-gram keys and rightmost tie-break."""
    kg = _py_kgram_keys(tokens, k)
    if not kg:
        return set()
    out = set()
    for s in range(max(len(kg) - w, 0) + 1):
        window = kg[s : s + w]
        m = min(window)
        # rightmost occurrence of the minimum
        pos = s + max(j for j, v in enumerate(window) if v == m)
        out.add((pos, kg[pos]))
    return out


class TestWinnowingProperties:
    @given(
        docs=st.lists(
            st.lists(
                st.sampled_from(["aa", "ab", "ba", "עשה", "x"]),
                min_size=0,
                max_size=20,
            ),
            min_size=1,
            max_size=4,
        )
    )
    @SLOW
    def test_matches_python_reference(self, spark, docs):
        """The Spark winnowing operator equals the straightforward
        Python implementation on arbitrary token lists — positions,
        hashes, and short-doc edge cases included."""
        from hebrew_tutor_data_pipeline_spark.operators.dedup import (
            winnow_fingerprints,
        )

        rows = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
        df = spark.createDataFrame(rows, ["doc_id", "text"])
        got: dict = {}
        for r in winnow_fingerprints(df, "doc_id", "text", k=3, w=4).collect():
            got.setdefault(r["id"], set()).add((r["fp_pos"], r["fingerprint"]))
        for i, toks in enumerate(docs):
            # whitespace_tokens semantics: split on runs, empty -> []
            toks_eff = " ".join(toks).split()
            expected = _py_winnow(toks_eff, 3, 4)
            assert got.get(i, set()) == expected, (i, toks_eff)


class TestAsofProperties:
    @given(
        left=st.lists(
            st.tuples(st.integers(0, 2), st.integers(0, 50)), min_size=1, max_size=15
        ),
        right=st.lists(
            st.tuples(st.integers(0, 2), st.integers(0, 50)), min_size=0, max_size=15
        ),
        tol=st.one_of(st.none(), st.integers(1, 20)),
    )
    @SLOW
    def test_matches_pandas_merge_asof(self, spark, left, right, tol):
        """asof_join(backward) == pandas.merge_asof per key, including
        the tolerance gate. Right timestamps are deduplicated per key
        (at equal ts the carried payload is ordering-dependent in BOTH
        implementations, so ties are excluded from the property)."""
        import pandas as pd

        from hebrew_tutor_data_pipeline_spark.operators.asof import asof_join

        right_dedup: dict = {}
        for kk, tt in right:
            right_dedup[(kk, tt)] = True
        right = sorted(right_dedup)

        ldf = spark.createDataFrame(
            [(k, float(t), i) for i, (k, t) in enumerate(left)], ["k", "t", "lid"]
        )
        if right:
            rdf = spark.createDataFrame(
                [(k, float(t), float(t) * 10) for k, t in right], ["k", "t", "payload"]
            )
        else:
            rdf = spark.createDataFrame([], "k bigint, t double, payload double")
        got = {
            r["lid"]: r["payload_right"]
            for r in asof_join(
                ldf, rdf, ["k"], "t", "t", tolerance=float(tol) if tol else None
            ).collect()
        }

        lp = pd.DataFrame(
            [(k, float(t), i) for i, (k, t) in enumerate(left)],
            columns=["k", "t", "lid"],
        ).sort_values(["t", "lid"])
        rp = (
            pd.DataFrame(
                [(k, float(t), float(t) * 10) for k, t in right],
                columns=["k", "t", "payload"],
            )
            # an empty literal frame defaults to object dtypes, which
            # merge_asof rejects — pin the schema like the Spark side
            .astype({"k": "int64", "t": "float64", "payload": "float64"})
            .sort_values(["t", "k"])
        )
        merged = pd.merge_asof(
            lp,
            rp,
            on="t",
            by="k",
            direction="backward",
            tolerance=float(tol) if tol else None,
        )
        want = {
            int(r.lid): (None if pd.isna(r.payload) else float(r.payload))
            for r in merged.itertuples()
        }
        assert got == want


def _py_duplicate_spans(
    docs: list[list[str]], n: int, min_count: int = 2
) -> set[tuple[int, int, int]]:
    """Pure-Python reference for duplicate_spans (Lee et al., ACL 2022):
    count token n-grams corpus-wide by VALUE — the exact ground truth
    the engine's 62-bit combined keys must reproduce (a lone base-31
    roll demonstrably collides: 'aa ba' vs 'ab aa' was a live
    falsifying example) — then merge duplicated occurrences into
    maximal spans."""
    from collections import Counter

    grams: Counter = Counter()
    per_doc: list[list[int]] = []
    for toks in docs:
        positions = []
        for i in range(len(toks) - n + 1):
            g = tuple(toks[i : i + n])
            grams[g] += 1
            positions.append(i)
        per_doc.append(positions)
    out = set()
    for doc_id, toks in enumerate(docs):
        hits = [
            i
            for i in per_doc[doc_id]
            if grams[tuple(toks[i : i + n])] >= min_count
        ]
        start = end = None
        for i in hits:
            if start is None:
                start, end = i, i + n
            elif i > end:
                out.add((doc_id, start, end))
                start, end = i, i + n
            else:
                end = i + n
        if start is not None:
            out.add((doc_id, start, end))
    return out


class TestDuplicateSpanProperties:
    @given(
        docs=st.lists(
            st.lists(
                st.sampled_from(["aa", "ab", "ba", "x"]),
                min_size=0,
                max_size=16,
            ),
            min_size=1,
            max_size=4,
        ),
        n=st.integers(min_value=2, max_value=4),
    )
    @SLOW
    def test_matches_python_reference(self, spark, docs, n):
        """Spark duplicate_spans equals the straightforward Python scan
        on arbitrary token lists — span starts, ends, and doc routing.
        The tiny alphabet forces frequent cross-doc and same-doc n-gram
        repeats, exercising the merge path hard."""
        from hebrew_tutor_data_pipeline_spark.operators.dedup import duplicate_spans

        rows = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
        df = spark.createDataFrame(rows, ["doc_id", "text"])
        got = {
            (r["id"], r["span_start"], r["span_end"])
            for r in duplicate_spans(df, "doc_id", "text", n=n).collect()
        }
        assert got == _py_duplicate_spans(docs, n)


def _py_bpe_merges(docs: list[list[str]], rounds: int) -> list[tuple[int, str, str, int]]:
    """Pure-Python reference of the BPE merge loop: top adjacent pair by
    (count DESC, left, right), greedy-leftmost non-overlapping fuse."""
    from collections import Counter

    docs = [list(d) for d in docs]
    out = []
    for rnd in range(1, rounds + 1):
        counts: Counter = Counter()
        for d in docs:
            for a, b in zip(d, d[1:]):
                counts[(a, b)] += 1
        if not counts:
            break
        (l, r), c = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        out.append((rnd, l, r, c))
        fused = l + "+" + r
        new_docs = []
        for d in docs:
            nd, i = [], 0
            while i < len(d):
                if i + 1 < len(d) and d[i] == l and d[i + 1] == r:
                    nd.append(fused)
                    i += 2
                else:
                    nd.append(d[i])
                    i += 1
            new_docs.append(nd)
        docs = new_docs
    return out


class TestBpeProperties:
    @given(
        docs=st.lists(
            st.lists(st.sampled_from(["a", "b", "ab", "a+b"]), min_size=0, max_size=12),
            min_size=1,
            max_size=4,
        ),
        rounds=st.integers(min_value=1, max_value=3),
    )
    @SLOW
    def test_matches_python_reference(self, spark, docs, rounds):
        """The Spark merge loop equals the straightforward Python BPE on
        arbitrary token lists — pair choice, tiebreaks, and the greedy
        fuse. The alphabet includes 'ab' and a literal 'a+b' token so
        fused-token aliasing (a fresh a+b vs a pre-existing one) is
        exercised."""
        from hebrew_tutor_data_pipeline_spark.operators.bpe import bpe_merges

        rows = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
        df = spark.createDataFrame(rows, ["doc_id", "text"])
        got = [tuple(r) for r in bpe_merges(df, "doc_id", "text", rounds=rounds).collect()]
        assert got == _py_bpe_merges(docs, rounds)


# ---------------------------------------------------------------------------
# Randomized VALUE references for the text-quality / language-ID /
# fingerprint surface. Cross-engine parity is blind to SHARED semantic
# bugs (both engines replay the same formula), so these mirrors compute
# the intended quantity independently in Python — ASCII regex semantics
# (re.ASCII: Java's \s/\b/\w are ASCII-only by default) and Spark's
# HALF_UP rounding on the double's shortest decimal repr.

import re as _pyre
import unicodedata as _ud
from decimal import ROUND_HALF_UP, Decimal


def _r6(x: float) -> float:
    """Spark F.round(double, 6): HALF_UP over BigDecimal.decimal(d),
    i.e. the double's shortest decimal representation — Python's repr()
    is the same algorithm."""
    return float(Decimal(repr(x)).quantize(Decimal("0.000001"), rounding=ROUND_HALF_UP))


_TOK_RE = _pyre.compile(r"\S+", _pyre.ASCII)
_WS_RE = _pyre.compile(r"\s", _pyre.ASCII)


def _ref_tokens(t: str) -> list[str]:
    return _TOK_RE.findall(t)


# vocabulary mixing language markers, Hebrew, CJK, digits and punctuation
# so every branch of the scorers sees traffic
_QUALITY_WORDS = (
    "the", "and", "der", "und", "le", "est", "el", "que", "is",
    "The,", "xthe", "thex", "עברית", "中文字", "a1b", "...", "!?",
    "12,3", "a", "Z",
)
_WS_CHOICES = (" ", "  ", "\t", "\n", " \t ")

quality_docs = st.lists(
    st.builds(
        lambda words, seps, lead, tail: lead
        + "".join(w + s for w, s in zip(words, seps + [" "]))
        + tail,
        st.lists(st.sampled_from(_QUALITY_WORDS), min_size=0, max_size=12),
        st.lists(st.sampled_from(_WS_CHOICES), min_size=12, max_size=12),
        st.sampled_from(("", " ", "\t")),
        st.sampled_from(("", "the", "。", "\n")),
    ),
    min_size=1,
    max_size=12,
)


class TestTextQualityValueReferences:
    @SLOW
    @given(docs=quality_docs)
    def test_ratio_scorers_match_python(self, spark, docs):
        """punct_ratio / stopword_ratio / mean_token_len equal an
        independent Python mirror (Unicode categories for \\p{L}\\p{N},
        ASCII whitespace, exact-token stopword hits, HALF_UP 6 dp)."""
        from hebrew_tutor_data_pipeline_spark.functions import text as T

        df = spark.createDataFrame([(i, d) for i, d in enumerate(docs)], ["i", "t"])
        got = {
            r["i"]: (r["p"], r["s"], r["m"])
            for r in df.select(
                "i",
                T.punct_ratio(F.col("t")).alias("p"),
                T.stopword_ratio(F.col("t")).alias("s"),
                T.mean_token_len(F.col("t")).alias("m"),
            ).collect()
        }
        for i, d in enumerate(docs):
            non_space = [c for c in d if not _WS_RE.match(c)]
            punct = [c for c in non_space if _ud.category(c)[0] not in ("L", "N")]
            toks = _ref_tokens(d)
            low_toks = _ref_tokens(d.lower())
            hits = sum(1 for t in low_toks if t in T.EN_STOPWORDS)
            want = (
                _r6(len(punct) / len(non_space)) if non_space else 0.0,
                _r6(hits / len(toks)) if toks else 0.0,
                _r6(len(non_space) / len(toks)) if toks else 0.0,
            )
            assert got[i] == want, (i, docs[i], got[i], want)

    @SLOW
    @given(docs=quality_docs)
    def test_predict_lang_matches_python(self, spark, docs):
        """Marker-count argmax with the fixed tie-break order equals the
        Python mirror (ASCII \\b like Java's default, CJK by codepoint)."""
        from hebrew_tutor_data_pipeline_spark.functions import text as T

        df = spark.createDataFrame([(i, d) for i, d in enumerate(docs)], ["i", "t"])
        got = {
            r["i"]: r["l"]
            for r in df.select("i", T.predict_lang(F.col("t")).alias("l")).collect()
        }

        def score(d: str, lang: str) -> int:
            if lang == "zh":
                return sum(1 for c in d if 0x4E00 <= ord(c) <= 0x9FFF)
            pat = r"\b(?:" + "|".join(T.LANG_MARKERS[lang]) + r")\b"
            return len(_pyre.findall(pat, d.lower(), _pyre.ASCII))

        for i, d in enumerate(docs):
            order = ("en", "de", "fr", "es", "zh")
            scores = {lg: score(d, lg) for lg in order}
            best = max(scores.values())
            want = "und" if best == 0 else next(lg for lg in order if scores[lg] == best)
            assert got[i] == want, (i, d, scores, got[i])

    @SLOW
    @given(docs=quality_docs, n=st.integers(min_value=1, max_value=4))
    def test_ngram_repetition_fractions_match_python(self, spark, docs, n):
        """word_ngrams + top/duplicate n-gram fractions equal a Counter
        mirror, including the shorter-than-n single-shingle branch."""
        from hebrew_tutor_data_pipeline_spark.functions import text as T

        df = spark.createDataFrame([(i, d) for i, d in enumerate(docs)], ["i", "t"])
        df = df.withColumn("g", T.word_ngrams(T.whitespace_tokens(F.col("t")), n))
        got = {
            r["i"]: (r["g"], r["top"], r["dup"])
            for r in df.select(
                "i",
                "g",
                T.top_ngram_fraction(F.col("g")).alias("top"),
                T.duplicate_ngram_fraction(F.col("g")).alias("dup"),
            ).collect()
        }
        from collections import Counter

        for i, d in enumerate(docs):
            toks = _ref_tokens(d)
            if n == 1:
                grams = toks
            elif len(toks) < n:
                grams = [" ".join(toks)]
            else:
                grams = [" ".join(toks[j : j + n]) for j in range(len(toks) - n + 1)]
            c = Counter(grams)
            top = _r6(max(c.values()) / len(grams)) if grams else 0.0
            dup = (
                _r6(sum(v for v in c.values() if v > 1) / len(grams))
                if grams
                else 0.0
            )
            assert got[i] == (grams, top, dup), (i, d, got[i], (grams, top, dup))

    @SLOW
    @given(docs=quality_docs)
    def test_fingerprint_and_classifier_sum_match_python(self, spark, docs):
        """doc_fingerprint's token-lifted polynomial and the hashed-
        feature weight fold equal exact Python integer/float mirrors
        (same fold order ⇒ bit-identical doubles)."""
        from hebrew_tutor_data_pipeline_spark.functions import text as T
        from hebrew_tutor_data_pipeline_spark.functions.hashing import (
            HASH_BASE,
            HASH_MOD,
        )

        w = T.classifier_weights(64)
        df = spark.createDataFrame([(i, d) for i, d in enumerate(docs)], ["i", "t"])
        got = {
            r["i"]: (r["fp"], r["ws"])
            for r in df.select(
                "i",
                T.doc_fingerprint(F.col("t")).alias("fp"),
                T.hashed_weight_sum(F.col("t"), w).alias("ws"),
            ).collect()
        }

        def th(tok: str) -> int:
            h = 0
            for ch in tok:
                h = (h * HASH_BASE + ord(ch)) % HASH_MOD
            return h

        for i, d in enumerate(docs):
            toks = _ref_tokens(d)
            fp = 0
            ws = 0.0
            for t in toks:
                fp = (fp * HASH_BASE + th(t)) % HASH_MOD
                ws = ws + w[th(t) % len(w)]
            assert got[i] == (fp, ws), (i, d, got[i], (fp, ws))

    @SLOW
    @given(docs=quality_docs)
    def test_pii_count_and_redact_match_python(self, spark, docs):
        """PII counting/redaction equals sequential Python re mirrors in
        declared pattern order (URL consumes embedded emails first)."""
        from hebrew_tutor_data_pipeline_spark.functions import text as T

        # splice PII into the generated noise so matches cross token shapes
        docs = [
            d + " bob@ex.com https://x.io/a@b.cc +1-555-1234 " + d for d in docs
        ]
        df = spark.createDataFrame([(i, d) for i, d in enumerate(docs)], ["i", "t"])
        got = {
            r["i"]: (r["u"], r["e"], r["p"], r["red"])
            for r in df.select(
                "i",
                T.pii_count(F.col("t"), "url").alias("u"),
                T.pii_count(F.col("t"), "email").alias("e"),
                T.pii_count(F.col("t"), "phone").alias("p"),
                T.redact_pii(F.col("t")).alias("red"),
            ).collect()
        }
        pats = [(k, _pyre.compile(p, _pyre.ASCII)) for k, p in T.PII_PATTERNS]
        for i, d in enumerate(docs):
            counts = tuple(len(rx.findall(d)) for _, rx in pats)
            red = d
            for k, rx in pats:
                red = rx.sub(f"<{k.upper()}>", red)
            assert got[i] == (*counts, red), (i, d, got[i])


class TestEmbeddingTierValueReferences:
    """Independent Python mirrors for the embedding tier. Vector
    components are small INTEGERS (cast to double), so every dot
    product and squared norm is exact in IEEE double regardless of
    summation order — numpy GEMM, the Spark fold, and the Python loop
    produce bit-identical raw cosines, and the 6 dp half-away rounding
    cannot sit on a float-noise boundary."""

    vecs = st.lists(
        st.lists(st.integers(min_value=-3, max_value=3), min_size=4, max_size=4).filter(
            lambda v: any(v)
        ),
        min_size=1,
        max_size=10,
    )
    cents = st.lists(
        st.lists(st.integers(min_value=-3, max_value=3), min_size=4, max_size=4).filter(
            lambda v: any(v)
        ),
        min_size=1,
        max_size=4,
    )

    @staticmethod
    def _cos(a, b) -> float:
        num = 0.0
        for x, y in zip(a, b):
            num += float(x) * float(y)
        na = math.sqrt(sum(float(x) * float(x) for x in a))
        nb = math.sqrt(sum(float(y) * float(y) for y in b))
        return num / (na * nb)

    @SLOW
    @given(vecs=vecs, bits=st.integers(min_value=1, max_value=6), table=st.integers(min_value=0, max_value=2))
    def test_srp_bucket_matches_python(self, spark, vecs, bits, table):
        """signed_projection_bucket == recomputing the LCG hyperplanes
        and packing sign(dot) bits MSB-first in Python."""
        from hebrew_tutor_data_pipeline_spark.operators.ann import (
            PLANE_SEED_STRIDE,
            _pseudo_random_plane,
            signed_projection_bucket,
        )

        rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
        df = spark.createDataFrame(rows, ["i", "v"])
        got = {
            r["i"]: r["b"]
            for r in df.select(
                "i",
                signed_projection_bucket(F.col("v"), bits, dim=4, table=table).alias("b"),
            ).collect()
        }
        for i, v in enumerate(vecs):
            acc = 0
            for b in range(bits):
                plane = _pseudo_random_plane(4, table * PLANE_SEED_STRIDE + b)
                d = 0.0
                for x, p in zip(v, plane):
                    d += float(x) * p
                acc = acc * 2 + (1 if d >= 0 else 0)
            assert got[i] == acc, (i, v, got[i], acc)

    @SLOW
    @given(vecs=vecs, cents=cents)
    def test_cell_assign_matches_python(self, spark, vecs, cents):
        """Nearest-centroid assignment == the Python mirror: 6 dp
        half-away rounded cosine, ties to the smallest cell id."""
        from hebrew_tutor_data_pipeline_spark.operators.ann import cell_assign

        codebook = [(cid, [float(x) for x in c]) for cid, c in enumerate(cents)]
        rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
        df = spark.createDataFrame(rows, ["vec_id", "embedding"])
        got = {
            r["id"]: r["cell"]
            for r in cell_assign(df, "vec_id", "embedding", codebook).collect()
        }
        for i, v in enumerate(vecs):
            best_cell, best_s = None, None
            for cid, c in codebook:
                raw = self._cos(v, c)
                s = math.copysign(math.floor(abs(raw) * 1e6 + 0.5) / 1e6, raw)
                if best_s is None or s > best_s:
                    best_cell, best_s = cid, s
            assert got[i] == best_cell, (i, v, got[i], best_cell)

    @SLOW
    @given(
        vecs=vecs,
        cents=cents,
        tau=st.sampled_from((0.5, 0.9, 0.99, 1.0)),
    )
    def test_semantic_dedup_matches_python(self, spark, vecs, cents, tau):
        """semantic_dedup's (cell, is_dup) == the quadratic Python
        mirror: a row is a duplicate iff some smaller-id member of its
        cell has round-half-away-6dp cosine ≥ tau."""
        from hebrew_tutor_data_pipeline_spark.operators.ann import cell_assign  # noqa: F401
        from hebrew_tutor_data_pipeline_spark.operators.dedup import semantic_dedup

        codebook = [(cid, [float(x) for x in c]) for cid, c in enumerate(cents)]
        rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
        df = spark.createDataFrame(rows, ["vec_id", "embedding"])
        got = {
            r["id"]: (r["cell"], r["is_dup"])
            for r in semantic_dedup(df, "vec_id", "embedding", codebook, tau=tau).collect()
        }

        def assign(v):
            best_cell, best_s = None, None
            for cid, c in codebook:
                raw = self._cos(v, c)
                s = math.copysign(math.floor(abs(raw) * 1e6 + 0.5) / 1e6, raw)
                if best_s is None or s > best_s:
                    best_cell, best_s = cid, s
            return best_cell

        cells = {i: assign(v) for i, v in enumerate(vecs)}
        for i, v in enumerate(vecs):
            dup = any(
                cells[j] == cells[i]
                and float(
                    Decimal(repr(self._cos(vecs[j], v))).quantize(
                        Decimal("0.000001"), rounding=ROUND_HALF_UP
                    )
                )
                >= tau
                for j in range(i)
            )
            assert got[i] == (cells[i], dup), (i, v, got[i], (cells[i], dup))


def _r_half_up(x: float, nd: int) -> float:
    q = Decimal(1).scaleb(-nd)
    return float(Decimal(repr(x)).quantize(q, rounding=ROUND_HALF_UP))


def _ref_bm25_topk(texts: list[str]) -> list[tuple[int, int, float]]:
    """Pure-Python BM25 mirror of plans.catalog_ml._bm25_topk: k1=1.2,
    b=0.75, +1-smoothed idf at 8 dp, e8 integer contributions, top 20
    by (bm25 DESC, doc_id ASC)."""
    from hebrew_tutor_data_pipeline_spark.plans.catalog_ml import _BM25_TERMS

    toks = {i: _ref_tokens(t) for i, t in enumerate(texts)}
    dl = {i: len(ts) for i, ts in toks.items()}
    n_docs = len(texts)
    avgdl = sum(dl.values()) / n_docs
    tf = {
        (i, w): sum(1 for t in ts if t == w)
        for i, ts in toks.items()
        for w in _BM25_TERMS
    }
    tf = {k: v for k, v in tf.items() if v > 0}
    df_ = {w: sum(1 for (i, w2) in tf if w2 == w) for w in _BM25_TERMS}
    scores: dict[int, list[int]] = {}
    for (i, w), f_ in tf.items():
        idf = _r_half_up(
            math.log((n_docs - df_[w] + 0.5) / (df_[w] + 0.5) + 1.0), 8
        )
        denom = f_ + 1.2 * (0.25 + (0.75 * dl[i]) / avgdl)
        contrib = math.floor(idf * (f_ * 2.2) / denom * 100000000 + 0.5)
        scores.setdefault(i, []).append(contrib)
    return sorted(
        (
            (i, len(cs), _r_half_up(sum(cs) / 100000000.0, 6))
            for i, cs in scores.items()
        ),
        key=lambda r: (-r[2], r[0]),
    )[:20]


class TestBm25ValueReference:
    """The shared BM25 scorer vs a from-scratch Python mirror over a
    synthetic documents table — the cross-engine gate replays the SAME
    formula in DuckDB, so only an independent recomputation can catch a
    shared misreading of Robertson/Sparck-Jones (k1=1.2, b=0.75,
    +1-smoothed idf, e8 integer contributions)."""

    docs_texts = st.lists(
        st.lists(
            st.sampled_from(
                ("spark", "join", "window", "the", "data", "shuffle", "spark,")
            ),
            min_size=0,
            max_size=12,
        ).map(" ".join),
        min_size=1,
        max_size=12,
    )

    @SLOW
    @given(texts=docs_texts)
    def test_topk_matches_python(self, spark, texts, tmp_path_factory):
        import pyarrow as pa
        import pyarrow.parquet as pq

        from hebrew_tutor_data_pipeline_spark.plans.catalog_ml import (
            _BM25_TERMS,
            _bm25_topk,
        )

        sf_dir = tmp_path_factory.mktemp("bm25sf")
        pq.write_table(
            pa.table(
                {
                    "doc_id": pa.array(range(len(texts)), pa.int64()),
                    "text": pa.array(texts, pa.string()),
                    "lang": pa.array(["en"] * len(texts)),
                    "source": pa.array(["t"] * len(texts)),
                    "n_chars": pa.array([len(t) for t in texts], pa.int64()),
                }
            ),
            sf_dir / "documents.parquet",
        )
        got = [
            (r["doc_id"], r["n_terms"], r["bm25"])
            for r in _bm25_topk(spark, str(sf_dir)).collect()
        ]

        want = _ref_bm25_topk(texts)
        assert got == want, (texts, got, want)


class TestPqValueReference:
    """pq_topk vs a scalar Python mirror of Jégou et al.'s PQ/ADC:
    subspace codebooks from the ncent smallest-id vectors, first-argmin
    codes, per-query exact subspace distance tables, distance = m table
    lookups summed j-ascending. Integer components keep every float op
    exact, so rank order and 6 dp distances must match bit-for-bit."""

    corpus = st.lists(
        st.lists(st.integers(min_value=-4, max_value=4), min_size=4, max_size=4),
        min_size=4,
        max_size=10,
    )
    queries = st.lists(
        st.lists(st.integers(min_value=-4, max_value=4), min_size=4, max_size=4),
        min_size=1,
        max_size=3,
    )

    @SLOW
    @given(corpus=corpus, queries=queries, k=st.integers(min_value=1, max_value=5))
    def test_topk_matches_python(self, spark, corpus, queries, k):
        from hebrew_tutor_data_pipeline_spark.operators.ann import pq_topk

        m, ncent, sub = 2, 4, 2
        cdf = spark.createDataFrame(
            [(i, [float(x) for x in v]) for i, v in enumerate(corpus)],
            ["vec_id", "embedding"],
        )
        qdf = spark.createDataFrame(
            [(1000 + i, [float(x) for x in v]) for i, v in enumerate(queries)],
            ["vec_id", "embedding"],
        )
        got = [
            (r["query_id"], r["neighbor_id"], r["adc_dist"], r["rank"])
            for r in pq_topk(
                cdf, qdf, "vec_id", "embedding", k=k, m=m, ncent=ncent
            ).orderBy("query_id", "rank").collect()
        ]

        cent = [[float(x) for x in v] for v in corpus[:ncent]]

        def sub_d2(x, c, j):
            ab = aa = bb = 0.0
            for d in range(sub):
                ab += x[j * sub + d] * c[j * sub + d]
                aa += x[j * sub + d] * x[j * sub + d]
                bb += c[j * sub + d] * c[j * sub + d]
            return (aa - 2.0 * ab) + bb

        codes = {
            i: [
                min(range(len(cent)), key=lambda ci: (sub_d2(v, cent[ci], j), ci))
                for j in range(m)
            ]
            for i, v in enumerate([[float(x) for x in vv] for vv in corpus])
        }
        want = []
        for qi, qv in enumerate([[float(x) for x in vv] for vv in queries]):
            tab = [sub_d2(qv, cent[ci], j) for j in range(m) for ci in range(len(cent))]
            scored = []
            for i in codes:
                d = 0.0
                for j in range(m):
                    d = d + tab[j * ncent + codes[i][j]]
                scored.append((i, _r6(d)))
            scored.sort(key=lambda t: (t[1], t[0]))
            want.extend(
                (1000 + qi, i, d, r + 1) for r, (i, d) in enumerate(scored[:k])
            )
        assert got == want, (corpus, queries, got, want)


class TestSamplingValueReferences:
    """Python mirrors for the training-prep sampling tier: the packing
    plan's deterministic layout and DSIR's two-distribution importance
    weights (strict unigram+bigram features per Xie et al. 2023 — this
    mirror is what caught the phantom joined-shingle gram the shared
    word_ngrams branch minted for sub-bigram docs)."""

    @SLOW
    @given(
        rows=st.lists(
            st.tuples(
                st.integers(min_value=0, max_value=50),
                st.integers(min_value=0, max_value=10),
                st.sampled_from(("a", "b")),
            ),
            min_size=1,
            max_size=12,
            unique_by=lambda r: r[0],
        ),
        budget=st.integers(min_value=1, max_value=15),
    )
    def test_pack_plan_matches_python(self, spark, rows, budget):
        from hebrew_tutor_data_pipeline_spark.functions.hashing import (
            HASH_BASE,
            HASH_MOD,
        )
        from hebrew_tutor_data_pipeline_spark.operators.sampling import pack_plan

        df = spark.createDataFrame(rows, ["id", "n_tokens", "grp"])
        got = {
            r["id"]: (r["start_offset"], r["pack_id"], r["straddles_boundary"])
            for r in pack_plan(df, "id", "n_tokens", ["grp"], budget).collect()
        }

        def th(tok: str) -> int:
            h = 0
            for ch in tok:
                h = (h * HASH_BASE + ord(ch)) % HASH_MOD
            return h

        want = {}
        for grp in {r[2] for r in rows}:
            members = sorted(
                (r for r in rows if r[2] == grp),
                key=lambda r: (th(f"pack|{r[0]}"), r[0]),
            )
            start = 0
            for rid, n, _ in members:
                pack = math.floor(start / budget)
                strad = pack != math.floor((start + n - 1) / budget)
                want[rid] = (start, pack, strad)
                start += n
        assert got == want, (rows, budget, got, want)

    @SLOW
    @given(
        docs=st.lists(
            st.tuples(
                st.lists(
                    st.sampled_from(("a", "b", "ab", "עב")), min_size=0, max_size=6
                ).map(" ".join),
                st.booleans(),
            ),
            min_size=1,
            max_size=10,
        ),
        buckets=st.sampled_from((4, 16)),
    )
    def test_dsir_weights_match_python(self, spark, docs, buckets):
        from hebrew_tutor_data_pipeline_spark.functions.hashing import (
            HASH_BASE,
            HASH_MOD,
        )
        from hebrew_tutor_data_pipeline_spark.operators.sampling import dsir_weights

        rows = [(i, t, is_t) for i, (t, is_t) in enumerate(docs)]
        df = spark.createDataFrame(rows, "id long, text string, is_t boolean")
        got = {
            r["id"]: (r["gram_ct"], r["avg_logratio"])
            for r in dsir_weights(df, "id", "text", F.col("is_t"), buckets=buckets).collect()
        }

        def th(tok: str) -> int:
            h = 0
            for ch in tok:
                h = (h * HASH_BASE + ord(ch)) % HASH_MOD
            return h

        feats = {}
        for i, (t, _) in enumerate(docs):
            toks = _ref_tokens(t)
            grams = toks + [
                f"{a} {b}" for a, b in zip(toks, toks[1:])
            ]  # STRICT bigrams: a 1-token doc has exactly 1 gram
            feats[i] = [th(g) % buckets for g in grams]
        q_ct = {b: 0 for b in range(buckets)}
        p_ct = {b: 0 for b in range(buckets)}
        for i, bs in feats.items():
            for b in bs:
                q_ct[b] += 1
                if docs[i][1]:
                    p_ct[b] += 1
        q_tot, p_tot = sum(q_ct.values()), sum(p_ct.values())
        lr = {
            b: math.floor(
                (
                    math.log((p_ct[b] + 1.0) / (p_tot + buckets))
                    - math.log((q_ct[b] + 1.0) / (q_tot + buckets))
                )
                * 100000000
                + 0.5
            )
            for b in range(buckets)
            if q_ct[b] > 0  # buckets with no gram instances never join back
        }
        for i, bs in feats.items():
            if not bs:
                assert got[i] == (0, None), (i, docs[i], got[i])
                continue
            s = sum(lr[b] for b in bs)
            n = len(bs)
            # exact ties-away-from-zero 6-dp mean in integer 1e-6 units
            # (the r13 signed-mean rule; see sampling.dsir_weights)
            mag = (2 * abs(s) + 100 * n) // (200 * n)
            want = (mag if s >= 0 else -mag) / 1000000.0
            assert got[i] == (len(bs), want), (i, docs[i], got[i], (len(bs), want))


class TestTokenizerEncodeAndLayoutReferences:
    """Mirrors for the BPE ENCODE pass, Morton keys, and the similarity
    ratio family — pure token/bit/DP recomputations in Python."""

    @SLOW
    @given(
        docs=st.lists(
            st.lists(st.sampled_from(("a", "b", "ab", "a+b")), min_size=0, max_size=10),
            min_size=1,
            max_size=6,
        ),
        merges=st.lists(
            st.tuples(
                st.sampled_from(("a", "b", "ab", "a+b")),
                st.sampled_from(("a", "b", "ab", "a+b")),
            ),
            min_size=1,
            max_size=3,
        ),
    )
    def test_apply_merges_matches_python(self, spark, docs, merges):
        """merge_pair_fold applied per merge == the classic greedy
        leftmost non-overlapping BPE fuse (a freshly fused token does
        not re-fuse unless it literally equals `left`)."""
        from hebrew_tutor_data_pipeline_spark.operators.bpe import apply_merges

        rows = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
        df = spark.createDataFrame(rows, ["doc_id", "text"])
        got = {
            r["id"]: (r["tokens"], r["n_tokens_raw"], r["n_tokens_bpe"], r["n_fused"])
            for r in apply_merges(df, "doc_id", "text", merges).collect()
        }
        for i, toks in enumerate(docs):
            cur = list(toks)
            for left, right in merges:
                out: list[str] = []
                for x in cur:
                    if x == right and out and out[-1] == left:
                        out[-1] = left + "+" + right
                    else:
                        out.append(x)
                cur = out
            want = (cur, len(toks), len(cur), len(toks) - len(cur))
            assert got[i] == want, (i, toks, merges, got[i], want)

    @SLOW
    @given(
        pairs=st.lists(
            st.tuples(
                st.integers(min_value=0, max_value=1023),
                st.integers(min_value=0, max_value=1023),
            ),
            min_size=1,
            max_size=16,
        ),
        bits=st.integers(min_value=1, max_value=10),
    )
    def test_zorder_key_matches_python(self, spark, pairs, bits):
        """Morton interleave: bit i of a at 2i, bit i of b at 2i+1,
        higher bits dropped."""
        from hebrew_tutor_data_pipeline_spark.operators.layout import zorder_key

        df = spark.createDataFrame(
            [(i, a, b) for i, (a, b) in enumerate(pairs)], ["i", "a", "b"]
        )
        got = {
            r["i"]: r["z"]
            for r in df.select(
                "i", zorder_key(F.col("a"), F.col("b"), bits).alias("z")
            ).collect()
        }
        for i, (a, b) in enumerate(pairs):
            z = 0
            for k in range(bits):
                z |= ((a >> k) & 1) << (2 * k)
                z |= ((b >> k) & 1) << (2 * k + 1)
            assert got[i] == z, (i, a, b, bits, got[i], z)

    @SLOW
    @given(
        pairs=st.lists(
            st.tuples(
                st.text(alphabet="ab ע", max_size=8),
                st.text(alphabet="ab ע", max_size=8),
            ),
            min_size=1,
            max_size=12,
        )
    )
    def test_similarity_ratios_match_python(self, spark, pairs):
        """levenshtein_ratio / token_sort_ratio / token_set_jaccard vs
        a DP edit distance and set algebra in Python."""
        from hebrew_tutor_data_pipeline_spark.functions.similarity import (
            levenshtein_ratio,
            token_set_jaccard,
            token_sort_ratio,
        )

        df = spark.createDataFrame(
            [(i, a, b) for i, (a, b) in enumerate(pairs)], ["i", "a", "b"]
        )
        got = {
            r["i"]: (r["lr"], r["tsr"], r["tsj"])
            for r in df.select(
                "i",
                levenshtein_ratio(F.col("a"), F.col("b")).alias("lr"),
                token_sort_ratio(F.col("a"), F.col("b")).alias("tsr"),
                token_set_jaccard(F.col("a"), F.col("b")).alias("tsj"),
            ).collect()
        }

        def lev(a: str, b: str) -> int:
            prev = list(range(len(b) + 1))
            for i, ca in enumerate(a, 1):
                cur = [i]
                for j, cb in enumerate(b, 1):
                    cur.append(
                        min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb))
                    )
                prev = cur
            return prev[len(b)]

        def ratio(a: str, b: str) -> float:
            m = max(len(a), len(b))
            return 1.0 if m == 0 else 1.0 - lev(a, b) / m

        for i, (a, b) in enumerate(pairs):
            # F.split(col, " ") keeps empty fields — mirror str.split(" ")
            sa, sb = a.split(" "), b.split(" ")
            want = (
                ratio(a, b),
                ratio(" ".join(sorted(sa)), " ".join(sorted(sb))),
                len(set(sa) & set(sb)) / len(set(sa) | set(sb)),
            )
            assert got[i] == want, (i, (a, b), got[i], want)


class TestHybridRrfValueReference:
    """End-to-end mirror of hybrid_rrf_fusion: the BM25 arm (shared
    _ref_bm25_topk), the dense cosine arm anchored at the lexical
    winner, and the integer-ppb reciprocal-rank fuse."""

    @SLOW
    @given(
        texts=st.lists(
            st.lists(
                st.sampled_from(("spark", "join", "window", "noise", "data")),
                min_size=0,
                max_size=8,
            ).map(" ".join),
            min_size=2,
            max_size=8,
        ),
        vec_data=st.data(),
    )
    def test_fused_ranks_match_python(self, spark, texts, vec_data, tmp_path_factory):
        import pyarrow as pa
        import pyarrow.parquet as pq

        from hebrew_tutor_data_pipeline_spark.plans.catalog_ml import (
            hybrid_rrf_fusion,
        )

        vecs = [
            vec_data.draw(
                st.lists(
                    st.integers(min_value=-3, max_value=3), min_size=4, max_size=4
                ).filter(lambda v: any(v))
            )
            for _ in texts
        ]
        sf_dir = tmp_path_factory.mktemp("rrfsf")
        pq.write_table(
            pa.table(
                {
                    "doc_id": pa.array(range(len(texts)), pa.int64()),
                    "text": pa.array(texts, pa.string()),
                    "lang": pa.array(["en"] * len(texts)),
                    "source": pa.array(["t"] * len(texts)),
                    "n_chars": pa.array([len(t) for t in texts], pa.int64()),
                }
            ),
            sf_dir / "documents.parquet",
        )
        pq.write_table(
            pa.table(
                {
                    "vec_id": pa.array(range(len(texts)), pa.int64()),
                    "embedding": pa.array(
                        [[float(x) for x in v] for v in vecs],
                        pa.list_(pa.float32()),
                    ),
                    "label": pa.array([0] * len(texts), pa.int32()),
                }
            ),
            sf_dir / "embeddings.parquet",
        )
        got = [
            (r["doc_id"], r["lex_rank"], r["dense_rank"], r["rrf_ppb"], r["fused_rank"])
            for r in hybrid_rrf_fusion(spark, str(sf_dir))
            .orderBy("fused_rank")
            .collect()
        ]

        lex_top = _ref_bm25_topk(texts)
        lex_rank = {doc: r + 1 for r, (doc, _, _) in enumerate(lex_top)}
        if not lex_rank:
            assert got == []
            return
        anchor = vecs[min(lex_rank, key=lex_rank.get)]

        def cos(a, b):
            num = 0.0
            for x, y in zip(a, b):
                num += float(x) * float(y)
            na = math.sqrt(sum(float(x) * float(x) for x in a))
            nb = math.sqrt(sum(float(y) * float(y) for y in b))
            return num / (na * nb)

        dense_sorted = sorted(
            ((i, _r6(cos(v, anchor))) for i, v in enumerate(vecs)),
            key=lambda t: (-t[1], t[0]),
        )[:20]
        dense_rank = {i: r + 1 for r, (i, _) in enumerate(dense_sorted)}
        fused = []
        for doc in set(lex_rank) | set(dense_rank):
            ppb = (1000000000 // (60 + lex_rank[doc]) if doc in lex_rank else 0) + (
                1000000000 // (60 + dense_rank[doc]) if doc in dense_rank else 0
            )
            fused.append((doc, lex_rank.get(doc), dense_rank.get(doc), ppb))
        fused.sort(key=lambda t: (-t[3], t[0]))
        want = [(d, l, dr, p, r + 1) for r, (d, l, dr, p) in enumerate(fused)]
        assert got == want, (texts, vecs, got, want)


class TestMixtureAndSplitValueReferences:
    """Python mirrors for the deterministic split / sampling / mixture
    tier. alpha=2 keeps the temperature normalizer an exact integer sum
    (pow(n,2) of bigints), so every downstream float op is a scalar
    division with deterministic IEEE rounding — the mirror must match
    bit-for-bit, with no summation-order caveat."""

    @staticmethod
    def _th(tok: str) -> int:
        from hebrew_tutor_data_pipeline_spark.functions.hashing import (
            HASH_BASE,
            HASH_MOD,
        )

        h = 0
        for ch in tok:
            h = (h * HASH_BASE + ord(ch)) % HASH_MOD
        return h

    @SLOW
    @given(
        ids=st.lists(
            st.integers(min_value=0, max_value=10_000),
            min_size=1,
            max_size=14,
            unique=True,
        )
    )
    def test_split_and_sample_flags_match_python(self, spark, ids):
        from hebrew_tutor_data_pipeline_spark.operators.sampling import (
            N_BUCKETS,
            split_and_sample,
        )

        rows = [(i, "g" + str(i % 3)) for i in ids]
        df = spark.createDataFrame(rows, ["id", "src"])
        rates = {"g0": 0.25, "g1": 1.0}
        got = {
            r["id"]: (r["split"], r["sampled"])
            for r in split_and_sample(df, "id", "src", rates, 0.5).collect()
        }
        for i, src in rows:
            b = self._th(f"split|{i}") % N_BUCKETS
            split = "train" if b < 800 else ("valid" if b < 900 else "test")
            thr = round(rates.get(src, 0.5) * N_BUCKETS)
            sampled = (self._th(f"sample|{i}") % N_BUCKETS) < thr
            assert got[i] == (split, sampled), (i, src, got[i], (split, sampled))

    @SLOW
    @given(
        rows=st.lists(
            st.tuples(
                st.integers(min_value=0, max_value=100_000),
                st.sampled_from(("a", "b", "c", None)),
            ),
            min_size=1,
            max_size=16,
            unique_by=lambda r: r[0],
        ),
        target=st.sampled_from((0.25, 0.5, 1.0)),
        upsample=st.booleans(),
    )
    def test_mixture_plan_matches_python(self, spark, rows, target, upsample):
        from hebrew_tutor_data_pipeline_spark.operators.sampling import mixture_plan

        RES = 1_000_000
        df = spark.createDataFrame(rows, "id long, src string")
        got = {
            r["group"]: (r["n_docs"], r["weight"], r["rate_ppm"], r["n_accepted"])
            for r in mixture_plan(
                df, "id", "src", alpha=2.0, target_frac=target,
                allow_upsample=upsample,
            ).collect()
        }
        counts: dict = {}
        for _, s in rows:
            counts[s] = counts.get(s, 0) + 1
        z = sum(n * n for n in counts.values())  # exact int
        N = len(rows)
        want = {}
        for s, n in counts.items():
            w = (n * n) / z
            raw = (w * (target * N)) / n
            if not upsample:
                raw = min(1.0, raw)
            rate = int(_r_half_up(raw * RES, 0))
            acc = 0
            for i, s2 in rows:
                if s2 != s:
                    continue
                h = self._th(f"mix|{i}") % RES
                if upsample:
                    acc += rate // RES + (1 if h < rate % RES else 0)
                else:
                    acc += 1 if h < rate else 0
            want[s] = (n, _r6(w), rate, acc)
        assert got == want, (rows, target, upsample, got, want)


class TestDedupTierValueReferences:
    """Mirrors for the exact-dedup / contamination / clustering tier:
    keeper choice, group audit, trigram-leak ratios, and connected
    components vs a Python union-find over random edge lists."""

    @SLOW
    @given(
        rows=st.lists(
            st.tuples(
                st.integers(min_value=0, max_value=999),
                st.sampled_from(("a", "b", "a b", "", "עב")),
                st.sampled_from(("x", "y")),
            ),
            min_size=1,
            max_size=14,
            unique_by=lambda r: r[0],
        )
    )
    def test_exact_dedup_and_groups_match_python(self, spark, rows):
        from hebrew_tutor_data_pipeline_spark.operators.dedup import (
            duplicate_groups,
            exact_dedup,
        )

        df = spark.createDataFrame(rows, ["id", "t", "s"])
        kept = sorted(
            r["id"]
            for r in exact_dedup(df, ["t", "s"], "id", tiebreak_col="id").collect()
        )
        groups = {}
        for i, t, s_ in rows:
            groups.setdefault((t, s_), []).append(i)
        assert kept == sorted(min(g) for g in groups.values())
        got = {
            tuple(r["ids"]): (r["n_dups"], r["keeper_id"])
            for r in duplicate_groups(df, "id", ["t", "s"]).collect()
        }
        want = {
            tuple(sorted(g)): (len(g), min(g)) for g in groups.values()
        }
        assert got == want, (rows, got, want)

    @SLOW
    @given(
        corpus=st.lists(
            st.lists(st.sampled_from(("a", "b", "c")), min_size=0, max_size=8).map(
                " ".join
            ),
            min_size=1,
            max_size=12,
        )
    )
    def test_ngram_contamination_matches_python(self, spark, corpus):
        from hebrew_tutor_data_pipeline_spark.operators.dedup import (
            ngram_contamination,
        )

        rows = [(i, t) for i, t in enumerate(corpus)]
        cand = [(i, t) for i, t in rows if i % 3 != 0]
        bench = [(i, t) for i, t in rows if i % 3 == 0]
        cdf = spark.createDataFrame(cand, "id long, t string")
        bdf = spark.createDataFrame(bench, "id long, t string")
        got = {
            r["id"]: (r["n_ngrams"], r["n_contaminated"], r["contamination_ratio"])
            for r in ngram_contamination(cdf, bdf, "id", "t", n=3).collect()
        }

        def shingles(t: str) -> set:
            toks = _ref_tokens(t)
            if not toks:
                return set()
            if len(toks) < 3:
                return {" ".join(toks)}
            return {" ".join(toks[j : j + 3]) for j in range(len(toks) - 2)}

        bset = set().union(*(shingles(t) for _, t in bench)) if bench else set()
        for i, t in cand:
            sh = shingles(t)
            if not sh:
                assert i not in got
                continue
            hits = len(sh & bset)
            assert got[i] == (len(sh), hits, _r6(hits / len(sh))), (i, t, got[i])

    @SLOW
    @given(
        edges=st.lists(
            st.tuples(
                st.integers(min_value=0, max_value=30),
                st.integers(min_value=0, max_value=30),
            ),
            min_size=0,
            max_size=40,
        )
    )
    def test_connected_components_match_union_find(self, spark, edges):
        from hebrew_tutor_data_pipeline_spark.operators.dedup import (
            connected_components,
        )

        df = spark.createDataFrame(
            edges or [(None, None)], "id_a int, id_b int"
        )
        got = {
            r["node"]: r["component"]
            for r in connected_components(df, "id_a", "id_b").collect()
        }
        parent: dict = {}

        def find(x):
            while parent.setdefault(x, x) != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for u, v in edges:
            if u == v:
                continue
            parent[find(u)] = find(v)
        nodes = {n for u, v in edges if u != v for n in (u, v)}
        want = {}
        roots: dict = {}
        for n in sorted(nodes):
            r = find(n)
            roots.setdefault(r, n)  # smallest member = component label
            want[n] = roots[r]
        assert got == want, (edges, got, want)


class TestPdfLiteralRoundTrip:
    """Builder↔parser consistency for PDF literal strings: any latin-1
    payload, escaped two different legal ways (minimal backslash
    escaping vs named+octal escapes for every escapable byte), must
    extract to the same NFC page text. This is the randomized
    generalization of the fixed `\\8`/`\\101` regression cases."""

    payload = st.text(
        alphabet=st.sampled_from(
            "ab(9)\\ \t\n8ü7×01é" + "\x05"
        ),
        min_size=0,
        max_size=24,
    )

    @settings(max_examples=200, deadline=None)
    @given(s=payload)
    def test_two_escapings_extract_identically(self, s, tmp_path_factory):
        import sys as _sys
        import unicodedata as _ud2
        from pathlib import Path as _P

        _sys.path.insert(0, str(_P(__file__).resolve().parents[1] / "tools"))
        import make_pdf_fixtures as mk

        from hebrew_tutor_data_pipeline_spark.operators.multimodal import (
            _pdf_extract_pages,
        )

        def esc_min(t: str) -> str:
            return t.replace("\\", r"\\").replace("(", r"\(").replace(")", r"\)")

        _NAMED = {"\n": r"\n", "\t": r"\t", "\\": r"\\", "(": r"\(", ")": r"\)"}

        def esc_full(t: str) -> str:
            # named escapes where defined, 3-digit octal for everything
            # non-printable-ascii — both legal per ISO 32000-1 §7.3.4.2
            out = []
            for ch in t:
                if ch in _NAMED:
                    out.append(_NAMED[ch])
                elif ord(ch) < 0x20 or ord(ch) > 0x7E:
                    out.append("\\%03o" % ord(ch))
                else:
                    out.append(ch)
            return "".join(out)

        pdf = mk.build_pdf(
            [
                mk.content([f"({esc_min(s)}) Tj"]),
                mk.content([f"({esc_full(s)}) Tj"]),
            ],
            flate=False,
        )
        d = tmp_path_factory.mktemp("pdfrt")
        (d / "x.pdf").write_bytes(pdf)
        pages = _pdf_extract_pages((d / "x.pdf").read_bytes())
        assert len(pages) == 2
        want = _ud2.normalize("NFC", s.strip())
        assert pages[0][1] == want, (repr(s), repr(pages[0][1]))
        assert pages[1][1] == want, (repr(s), repr(pages[1][1]))


class TestKeyedIntervalJoinProperty:
    @SLOW
    @given(
        points=st.lists(
            st.tuples(
                st.sampled_from(("t0", "t1", "t2")),
                st.floats(min_value=0.0, max_value=30.0, allow_nan=False),
            ),
            min_size=1,
            max_size=12,
        ),
        intervals=st.lists(
            st.tuples(
                st.sampled_from(("t0", "t1", "t2")),
                st.floats(min_value=0.0, max_value=30.0, allow_nan=False),
                st.floats(min_value=0.0, max_value=8.0, allow_nan=False),
            ),
            min_size=1,
            max_size=10,
        ),
        bin_width=st.sampled_from([0.9, 2.0, 16.0]),
    )
    def test_keyed_binned_equals_naive(self, spark, points, intervals, bin_width):
        """The keys= variant (per-track containment, the verse_at_time
        serving shape) must equal the naive per-key range predicate —
        matches never cross keys, each pair exactly once."""
        from hebrew_tutor_data_pipeline_spark.operators.intervals import (
            point_in_interval_join,
        )

        p = spark.createDataFrame(
            [(i, k, float(x)) for i, (k, x) in enumerate(points)],
            ["pid", "trk", "x"],
        )
        iv = spark.createDataFrame(
            [(j, k, float(s), float(s + w)) for j, (k, s, w) in enumerate(intervals)],
            ["iid", "trk", "s", "e"],
        )
        got = sorted(
            (r["pid"], r["iid"])
            for r in point_in_interval_join(
                p, iv, "x", "s", "e", bin_width=bin_width, keys=("trk",)
            )
            .select("pid", "iid")
            .collect()
        )
        want = sorted(
            (i, j)
            for i, (pk, x) in enumerate(points)
            for j, (ik, s, w) in enumerate(intervals)
            if pk == ik and s <= x <= s + w
        )
        assert got == want, (points, intervals, bin_width, got, want)


class TestLocalFirstScanProperty:
    @SLOW
    @given(
        layout=st.lists(
            st.tuples(
                st.sampled_from(("d1", "d2/nested", "")),  # subdir inside each tree
                st.sampled_from(("a.mp3", "b.mp3", "c.mp3")),
                st.sampled_from(("local", "remote", "both")),
                st.integers(min_value=1, max_value=50),  # local size
                st.integers(min_value=51, max_value=99),  # remote size
            ),
            min_size=1,
            max_size=6,
            unique_by=lambda r: (r[0], r[1]),
        )
    )
    def test_resolution_matches_pathlib_mirror(self, spark, layout, tmp_path_factory):
        """local_first_scan over random two-tree layouts (same relative
        key at different depths, either-tree-only files) equals a
        pathlib mirror resolving by relative path with local priority."""
        from hebrew_tutor_data_pipeline_spark.sources.readers import local_first_scan

        root = tmp_path_factory.mktemp("lfs")
        loc, rem = root / "books", root / "rem" / "books"
        loc.mkdir(parents=True), rem.mkdir(parents=True)
        for sub, name, where, ls, rs in layout:
            if where in ("local", "both"):
                d = loc / sub if sub else loc
                d.mkdir(parents=True, exist_ok=True)
                (d / name).write_bytes(b"L" * ls)
            if where in ("remote", "both"):
                d = rem / sub if sub else rem
                d.mkdir(parents=True, exist_ok=True)
                (d / name).write_bytes(b"R" * rs)
        got = sorted(
            (r["filename"], r["source"], r["length"])
            for r in local_first_scan(spark, str(loc), str(rem)).collect()
        )
        # one resolved row per RELATIVE key (same basename at two depths
        # = two real files), local copy wins when both trees have it
        want = sorted(
            (name, "local", ls) if where in ("local", "both") else (name, "remote", rs)
            for sub, name, where, ls, rs in layout
        )
        assert got == want, (layout, got, want)


class TestUrlCanonicalizationProperties:
    """functions.urls.canonicalize_url vs an INDEPENDENT pure-Python
    canonicalizer built on urllib.parse — same rule list, different
    machinery (the regexp chain never appears here), so a rule encoded
    wrongly in the Spark expressions cannot hide behind its oracle twin
    (which replays the same regexes)."""

    @staticmethod
    def _py_canonicalize(url: str) -> str:
        from urllib.parse import urlsplit

        parts = urlsplit(url)  # also drops the fragment for us
        scheme = parts.scheme.lower()
        host = parts.netloc.lower()
        if host.startswith("www."):
            host = host[4:]
        if scheme == "http" and host.endswith(":80"):
            host = host[: -len(":80")]
        elif scheme == "https" and host.endswith(":443"):
            host = host[: -len(":443")]
        path = parts.path
        while "//" in path:
            path = path.replace("//", "/")
        if path.endswith("/"):
            path = path[:-1]
        keep = [
            p
            for p in parts.query.split("&")
            if p
            and not p.split("=")[0].startswith("utm_")
            and p.split("=")[0] not in ("gclid", "fbclid", "msclkid", "ref")
        ]
        q = "&".join(sorted(keep))
        return f"{scheme}://{host}{path}" + (f"?{q}" if q else "")

    @SLOW
    @given(
        scheme=st.sampled_from(["http", "https", "HTTP", "HTTPS", "Https"]),
        host=st.sampled_from(
            ["example.com", "EXAMPLE.com", "www.example.com", "WWW.Sub.Example.COM", "a.b"]
        ),
        port=st.sampled_from(["", ":80", ":443", ":8080"]),
        path=st.sampled_from(
            ["", "/", "/a", "/a/b", "//a//b", "/a/b/", "/a//b//", "/x.y/z"]
        ),
        params=st.lists(
            st.sampled_from(
                ["a=1", "b=2", "page=3", "utm_source=x", "utm_medium=y",
                 "gclid=z", "fbclid=w", "ref=home", "lang=he"]
            ),
            min_size=0,
            max_size=5,
        ),
        fragment=st.sampled_from(["", "#top", "#sec-2"]),
    )
    def test_matches_python_reference(
        self, spark, scheme, host, port, path, params, fragment
    ):
        from hebrew_tutor_data_pipeline_spark.functions.urls import canonicalize_url

        url = f"{scheme}://{host}{port}{path}"
        if params:
            url += "?" + "&".join(params)
        url += fragment
        got = (
            spark.createDataFrame([(url,)], "url string")
            .select(canonicalize_url(F.col("url")).alias("c"))
            .collect()[0]["c"]
        )
        assert got == self._py_canonicalize(url)


class TestLineDedupProperties:
    """operators.dedup.line_dedup_stats vs a pure-Python keep-first
    reference keyed on span TEXT (never the engine's hash — the
    k-gram-collision lesson: a shared hash bug is invisible to any
    replayed-hash comparison)."""

    @staticmethod
    def _py_stats(docs: list[str], span: int) -> dict[int, tuple[int, int, int, int]]:
        seen: set[str] = set()
        out: dict[int, tuple[int, int, int, int]] = {}
        for doc_id, text in enumerate(docs):
            toks = text.split()
            if not toks:
                continue
            n_spans = n_dup = n_tok = n_kept = 0
            for i in range(0, len(toks), span):
                seg = " ".join(toks[i : i + span])
                n_spans += 1
                n_tok += len(toks[i : i + span])
                if seg in seen:
                    n_dup += 1
                else:
                    seen.add(seg)
                    n_kept += len(toks[i : i + span])
            out[doc_id] = (n_spans, n_dup, n_tok, n_kept)
        return out

    @SLOW
    @given(
        docs=st.lists(texts, min_size=1, max_size=8),
        span=st.sampled_from([1, 2, 5]),
    )
    def test_matches_python_reference(self, spark, docs, span):
        from hebrew_tutor_data_pipeline_spark.operators.dedup import line_dedup_stats

        # force cross-doc duplicate spans: repeat the list once
        docs = docs + docs
        df = spark.createDataFrame(
            [(i, d) for i, d in enumerate(docs)], "doc_id long, text string"
        )
        rows = line_dedup_stats(df, "doc_id", "text", span=span).collect()
        got = {
            r["doc_id"]: (r["n_spans"], r["n_dup_spans"], r["n_tokens"], r["n_tokens_kept"])
            for r in rows
        }
        assert got == self._py_stats(docs, span)

    def test_span_idx_overflow_fails_loudly(self, spark, monkeypatch):
        """The pack gives span_idx the low _SPAN_IDX_BITS; a document
        with more spans than that would overflow into the id bits and
        SILENTLY corrupt the keep-first min (ADVICE r10). The guard
        must raise, not mis-dedupe. Bits shrunk via monkeypatch so the
        pathological document stays test-sized (at the real 2^20 it
        needs a 5M-token doc)."""
        import hebrew_tutor_data_pipeline_spark.operators.dedup as dd

        monkeypatch.setattr(dd, "_SPAN_IDX_BITS", 4)
        # 17 spans at span=1 -> max span_idx 16 >= 2^4
        df = spark.createDataFrame(
            [(0, " ".join(f"t{i}" for i in range(17)))], "doc_id long, text string"
        )
        with pytest.raises(Exception, match="span_idx outside"):
            dd.line_dedup_stats(df, "doc_id", "text", span=1).collect()
        # one bit wider and the same doc packs fine
        monkeypatch.setattr(dd, "_SPAN_IDX_BITS", 5)
        assert dd.line_dedup_stats(df, "doc_id", "text", span=1).count() == 1


class TestBloomSharedBuild:
    def test_memo_shares_and_survives_unpersist(self, spark):
        """The Bloom pair's shared build (VERDICT r10 #7): the memo
        returns the SAME pinned frames for both entries within one
        application+sf_dir, and an external unpersist degrades to
        recompute — results stay identical, because lineage is intact."""
        from hebrew_tutor_data_pipeline_spark.plans import catalog_ml as cm
        from hebrew_tutor_data_pipeline_spark.scope import clear_memo, memo

        sf = "/root/testdata/sf0.001"
        clear_memo()
        p1 = cm._bloom_parts(spark, sf)
        # the certificate entry's lookup is a memo hit, not a rebuild
        p2 = memo(spark, ("bloom_parts", sf), lambda: pytest.fail("rebuilt"))
        assert p1 is p2  # one build per (app, sf_dir)
        before = sorted(
            tuple(r)
            for r in cm.CATALOG["bloom_url_membership"].spark(spark, sf).collect()
        )
        p1["idx"].unpersist()
        p1["bits"].unpersist()
        after = sorted(
            tuple(r)
            for r in cm.CATALOG["bloom_url_membership"].spark(spark, sf).collect()
        )
        assert before == after and len(before) > 0
        clear_memo()

    def test_memo_evicts_oldest_not_newest(self, spark, monkeypatch):
        """Bounded-memo eviction must be FIFO (ADVICE r11): the old
        dict.popitem() removed the MOST recently inserted entry, so the
        oldest pinned frames were never evictable. The Bloom build goes
        through the one memo, so it evicts the oldest key, not the newest."""
        from hebrew_tutor_data_pipeline_spark.plans import catalog_ml as cm
        from tests.conftest import assert_consumer_memo_evicts_oldest

        sf = "/root/testdata/sf0.001"
        assert_consumer_memo_evicts_oldest(
            spark, monkeypatch, lambda: cm._bloom_parts(spark, sf), ("bloom_parts", sf)
        )


class TestBloomMembershipProperties:
    """operators.membership vs a pure-Python Bloom built from the same
    published construction (polynomial hashes recomputed from raw
    codepoints here — not by calling the engine's helpers, so a shared
    implementation bug surfaces). Pins the two load-bearing guarantees:
    NO false negative ever, and position replay equality."""

    @staticmethod
    def _py_positions(key: str, m: int, k: int) -> list[int]:
        MOD1, B1, MOD2, B2 = 2**31 - 1, 31, 2147483629, 131
        h1 = h2 = 0
        for c in key:
            h1 = (h1 * B1 + ord(c)) % MOD1
            h2 = (h2 * B2 + ord(c)) % MOD2
        h1 = (h1 * h1 + 3) % MOD1
        h2 = ((h2 * h2 + 7) % MOD2) | 1
        return [(h1 + i * h2) % m for i in range(k)]

    @SLOW
    @given(
        index_keys=st.lists(
            st.text(alphabet="abc/0123", min_size=1, max_size=12),
            min_size=1, max_size=20, unique=True,
        ),
        probe_keys=st.lists(
            st.text(alphabet="abc/0123", min_size=1, max_size=12),
            min_size=1, max_size=10, unique=True,
        ),
    )
    def test_no_false_negatives_and_position_replay(self, spark, index_keys, probe_keys):
        from hebrew_tutor_data_pipeline_spark.operators import membership

        # constants must match the Python reference above — if the
        # engine's hash family changes, this test must fail loudly
        from hebrew_tutor_data_pipeline_spark.functions.hashing import (
            HASH_BASE, HASH_BASE2, HASH_MOD, HASH_MOD2,
        )
        assert (HASH_BASE, HASH_MOD, HASH_BASE2, HASH_MOD2) == (31, 2**31 - 1, 131, 2147483629)

        m = membership.bloom_m_for(len(index_keys))
        idx = spark.createDataFrame([(x,) for x in index_keys], "key string")
        probes = spark.createDataFrame([(x,) for x in probe_keys], "key string")
        got = {
            r["key"]: r["maybe_seen"]
            for r in membership.bloom_membership(probes, idx, "key", m).collect()
        }
        bits = {p for x in index_keys for p in self._py_positions(x, m, membership.NUM_HASHES)}
        for key in probe_keys:
            expect = all(
                p in bits for p in self._py_positions(key, m, membership.NUM_HASHES)
            )
            assert got[key] == expect          # exact position replay
            if key in index_keys:
                assert got[key] is True        # NEVER a false negative


class TestCountMinProperties:
    """operators.freqsketch vs a pure-Python Count-Min built from the
    published construction with the same hash family recomputed from
    codepoints. Pins the one-sided guarantee (estimate >= true, always,
    for every key — not just the probe panel) and exact cell replay."""

    @staticmethod
    def _py_cells(key: str, w: int, d: int) -> list[tuple[int, int]]:
        MOD1, B1, MOD2, B2 = 2**31 - 1, 31, 2147483629, 131
        h1 = h2 = 0
        for c in key:
            h1 = (h1 * B1 + ord(c)) % MOD1
            h2 = (h2 * B2 + ord(c)) % MOD2
        h1 = (h1 * h1 + 3) % MOD1
        h2 = ((h2 * h2 + 7) % MOD2) | 1
        return [(j, (h1 + j * h2) % MOD1 % w) for j in range(d)]

    @SLOW
    @given(
        keys=st.lists(
            st.text(alphabet="abxy", min_size=1, max_size=6),
            min_size=1, max_size=15,
        ),
        w=st.sampled_from([8, 64]),  # tiny widths force real collisions
    )
    def test_one_sided_and_replay(self, spark, keys, w):
        from collections import Counter

        from hebrew_tutor_data_pipeline_spark.operators import freqsketch

        exact = Counter(keys)
        d = freqsketch.DEPTH
        ex = spark.createDataFrame(list(exact.items()), "key string, n long")
        sk = freqsketch.cm_sketch(ex, "key", "n", w=w, d=d)
        probe_keys = sorted(set(keys) | {"neverseen"})
        probes = spark.createDataFrame([(x,) for x in probe_keys], "key string")
        got = {
            r["key"]: r["cm_estimate"]
            for r in freqsketch.cm_estimate(probes, sk, "key", w=w, d=d).collect()
        }
        # python reference sketch
        counters: dict[tuple[int, int], int] = {}
        for key, n in exact.items():
            for cell in self._py_cells(key, w, d):
                counters[cell] = counters.get(cell, 0) + n
        for key in probe_keys:
            ref = min(counters.get(cell, 0) for cell in self._py_cells(key, w, d))
            assert got[key] == ref                   # exact cell replay
            assert got[key] >= exact.get(key, 0)     # one-sided, ALWAYS


class TestTwoLevelTrainingProperties:
    """Independent VALUE reference for the full two-level codebook
    recurrence. Oracle parity is blind to SHARED semantic bugs (the
    k-gram-hash lesson): the engine and its DuckDB twin replay the same
    recipe, so a drift in BOTH stays hash-green. This reference
    re-implements the documented recipe (coarse init = isqrt(k)
    smallest-id vectors → raw-cosine Lloyd, empty cells carry forward →
    ROUNDED-6dp blocking → fine_k = ceil(n_cell/target) smallest-id
    init → per-cell raw-cosine Lloyd) from the docstrings alone, in
    plain numpy over collected rows.

    Bit-exactness preconditions (why exact equality is legitimate):
    inputs are INTEGER-valued vectors on a SINGLE partition in id
    order, so every dot/sum both sides computes is the same IEEE
    operation sequence (integer dots are exact; per-cell row blocks
    stack in id order; one partition ⇒ one partial per cell)."""

    @staticmethod
    def _ref_two_level(rows, k, iters, target):
        import math as m

        import numpy as np

        ids = [i for i, _ in rows]
        X = np.stack([np.asarray(v, dtype="float64") for _, v in rows])

        def lloyd(mat, cent, n_iter):
            for _ in range(n_iter):
                cn = np.sqrt((cent * cent).sum(axis=1))
                sim = (mat @ cent.T) / (
                    np.sqrt((mat * mat).sum(axis=1))[:, None] * cn[None, :]
                )
                cells = np.argmax(sim, axis=1)
                new = cent.copy()
                for c in np.unique(cells):
                    blk = mat[cells == c]
                    new[int(c), :] = blk.sum(axis=0) / len(blk)
                cent = new
            return cent

        def r6(x):
            return np.sign(x) * np.floor(np.abs(x) * 1e6 + 0.5) / 1e6

        k_c = max(1, m.isqrt(k))
        coarse = lloyd(X, X[:k_c].copy(), iters)
        cn = np.sqrt((coarse * coarse).sum(axis=1))
        block = np.argmax(
            r6((X @ coarse.T) / (np.sqrt((X * X).sum(axis=1))[:, None] * cn[None, :])),
            axis=1,
        )
        fine = {}
        for c in sorted(set(int(b) for b in block)):
            members = [i for i in range(len(ids)) if block[i] == c]
            mat = X[members]
            fk = max(1, -(-len(members) // target))
            cent = lloyd(mat, mat[:fk].copy(), iters)
            fine[c] = [
                (c * 1_000_000 + j, [float(x) for x in cent[j]])
                for j in range(fk)
            ]
        return fine

    @SLOW
    @given(
        data=st.lists(
            st.lists(st.integers(min_value=1, max_value=4), min_size=4, max_size=4),
            min_size=4,
            max_size=24,
        ),
        k=st.integers(min_value=1, max_value=16),
        target=st.integers(min_value=1, max_value=8),
    )
    def test_two_level_training_matches_pure_reference(
        self, spark, data, k, target
    ):
        from hebrew_tutor_data_pipeline_spark.operators.ann import (
            two_level_codebook,
        )

        rows = [(3 * i + 1, [float(x) for x in v]) for i, v in enumerate(data)]
        df = spark.createDataFrame(rows, ["id", "vec"]).coalesce(1)
        model = two_level_codebook(df, "id", "vec", k=k, iters=2, target_cell=target)
        ref = self._ref_two_level(rows, k, iters=2, target=target)
        got = {c: pairs for c, pairs in model.fine.items()}
        assert set(got) == set(ref)
        for c in ref:
            assert [g for g, _ in got[c]] == [g for g, _ in ref[c]], c
            for (_, gv), (_, rv) in zip(got[c], ref[c]):
                assert gv == rv, (c, gv, rv)
