"""Unit tests for the operator layer — each operator checked against a
brute-force or hand-computed expectation on tiny data (SURVEY.md §5)."""

from __future__ import annotations

import datetime as dt
import math

import pytest
from pyspark.sql import functions as F

from hebrew_tutor_data_pipeline_spark.operators.alignment import (
    allocate_proportional,
    fuzzy_cursor_align,
    spread_uniform,
)
from hebrew_tutor_data_pipeline_spark.operators.ann import brute_force_topk, ivf_topk
from hebrew_tutor_data_pipeline_spark.operators.asof import asof_join
from hebrew_tutor_data_pipeline_spark.operators.dedup import (
    embedding_near_dup_pairs,
    embedding_near_dup_pairs_blocked,
    exact_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash,
)
from hebrew_tutor_data_pipeline_spark.operators.intervals import (
    interval_overlap_join,
    point_in_interval_join,
)
from hebrew_tutor_data_pipeline_spark.operators.sessionize import session_stats, sessionize
from hebrew_tutor_data_pipeline_spark.operators.upsert import last_wins_upsert


def ts(s: str) -> dt.datetime:
    return dt.datetime.fromisoformat(s)


class TestAsofJoin:
    def make(self, spark):
        left = spark.createDataFrame(
            [(1, 10.0, "l1"), (1, 20.0, "l2"), (2, 5.0, "l3")], ["k", "t", "lv"]
        )
        right = spark.createDataFrame(
            [(1, 9.0, "r1"), (1, 15.0, "r2"), (2, 6.0, "r3")], ["k", "t", "rv"]
        )
        return left, right

    def test_backward(self, spark):
        left, right = self.make(spark)
        got = {
            r["lv"]: r["rv_right"]
            for r in asof_join(left, right, ["k"], "t", "t").collect()
        }
        assert got == {"l1": "r1", "l2": "r2", "l3": None}

    def test_forward(self, spark):
        left, right = self.make(spark)
        got = {
            r["lv"]: r["rv_right"]
            for r in asof_join(left, right, ["k"], "t", "t", direction="forward").collect()
        }
        assert got == {"l1": "r2", "l2": None, "l3": "r3"}

    def test_tolerance(self, spark):
        left, right = self.make(spark)
        got = {
            r["lv"]: r["rv_right"]
            for r in asof_join(left, right, ["k"], "t", "t", tolerance=1.5).collect()
        }
        # l2's nearest prior (r2@15) is 5s away -> nulled
        assert got == {"l1": "r1", "l2": None, "l3": None}

    def test_equal_ts_matches_backward(self, spark):
        left = spark.createDataFrame([(1, 10.0, "l")], ["k", "t", "lv"])
        right = spark.createDataFrame([(1, 10.0, "r")], ["k", "t", "rv"])
        got = asof_join(left, right, ["k"], "t", "t").first()
        assert got["rv_right"] == "r"


class TestIntervalJoins:
    def test_point_in_interval_matches_naive(self, spark):
        points = spark.createDataFrame([(float(i),) for i in range(0, 50, 3)], ["t"])
        intervals = spark.createDataFrame(
            [(i, float(i * 4), float(i * 4 + 6)) for i in range(12)], ["iv", "s", "e"]
        )
        fast = point_in_interval_join(points, intervals, "t", "s", "e", bin_width=5.0)
        naive = points.crossJoin(intervals).filter(
            (F.col("t") >= F.col("s")) & (F.col("t") <= F.col("e"))
        )
        assert sorted((r["t"], r["iv"]) for r in fast.collect()) == sorted(
            (r["t"], r["iv"]) for r in naive.collect()
        )

    def test_point_join_keys_isolate_groups(self, spark):
        """With keys=, a point may only match intervals of its OWN group
        (per-track containment): identical time ranges in another group
        must not leak in, and left-how keeps unmatched points with NULLs."""
        points = spark.createDataFrame(
            [("a", 5.0), ("b", 5.0), ("b", 99.0)], ["grp", "t"]
        )
        intervals = spark.createDataFrame(
            [("a", 1, 0.0, 10.0), ("b", 2, 0.0, 10.0), ("a", 3, 90.0, 100.0)],
            ["grp", "iv", "s", "e"],
        )
        got = {
            (r["grp"], r["t"], r["iv"])
            for r in point_in_interval_join(
                points, intervals, "t", "s", "e", bin_width=5.0,
                how="left", keys=("grp",),
            ).collect()
        }
        assert got == {("a", 5.0, 1), ("b", 5.0, 2), ("b", 99.0, None)}

    def test_overlap_join_matches_naive_and_dedups(self, spark):
        left = spark.createDataFrame(
            [(i, float(i * 3), float(i * 3 + 10)) for i in range(10)], ["li", "ls", "le"]
        )
        right = spark.createDataFrame(
            [(j, float(j * 7), float(j * 7 + 4)) for j in range(6)], ["rj", "rs", "re"]
        )
        fast = interval_overlap_join(left, right, "ls", "le", "rs", "re", bin_width=6.0)
        naive = left.crossJoin(right).filter(
            (F.col("ls") <= F.col("re")) & (F.col("rs") <= F.col("le"))
        )
        got = sorted((r["li"], r["rj"]) for r in fast.collect())
        want = sorted((r["li"], r["rj"]) for r in naive.collect())
        assert got == want  # exactly once per overlapping pair


class TestDedup:
    def test_exact_dedup_keeps_first(self, spark):
        df = spark.createDataFrame(
            [(1, "same"), (2, "same"), (3, "other")], ["id", "text"]
        )
        kept = sorted(r["id"] for r in exact_dedup(df, ["text"], "id").collect())
        assert kept == [1, 3]
        kept_last = sorted(
            r["id"] for r in exact_dedup(df, ["text"], "id", keep="last").collect()
        )
        assert kept_last == [2, 3]

    def test_exact_dedup_multicol_null_positions_distinct(self, spark):
        """('x', NULL), (NULL, 'x') and ('x', '') are three DIFFERENT
        contents — concat_ws skips NULLs, so a naive concatenated digest
        collapses them and silently deletes non-duplicate rows."""
        df = spark.createDataFrame(
            [(1, "x", None), (2, None, "x"), (3, "x", ""), (4, "x", None)],
            "id long, a string, b string",
        )
        kept = sorted(r["id"] for r in exact_dedup(df, ["a", "b"], "id").collect())
        assert kept == [1, 2, 3]  # only the true duplicate (4) dropped

    def test_exact_dedup_tiebreak_col(self, spark):
        """Equal order_col values: the tiebreak column decides the
        keeper deterministically."""
        df = spark.createDataFrame(
            [(9, 0, "same"), (5, 0, "same")], ["id", "ts", "text"]
        )
        kept = [
            r["id"]
            for r in exact_dedup(df, ["text"], "ts", tiebreak_col="id").collect()
        ]
        assert kept == [5]

    def test_minhash_bands_must_divide_num_hashes(self, spark):
        from hebrew_tutor_data_pipeline_spark.operators.dedup import (
            minhash_lookup_pairs,
            minhash_lsh_pairs,
        )

        df = spark.createDataFrame([(1, "a b c")], ["id", "text"])
        with pytest.raises(ValueError, match="must divide"):
            minhash_lsh_pairs(df, "id", "text", num_hashes=32, bands=5)
        with pytest.raises(ValueError, match="must divide"):
            minhash_lookup_pairs(df, df, "id", "text", num_hashes=32, bands=5)

    def test_simhash_bands_must_divide_bits_all_callers(self, spark):
        """The bits % bands guard lives in _banded_hamming_pairs so ALL
        three banded callers inherit it (ADVICE r11): with bits not a
        multiple of bands, the top bits sit outside every band and
        qualifying pairs are silently missed despite the documented
        pigeonhole exactness. Previously only simhash_near_dup_pairs
        checked; the quotient and component forms accepted the bad
        geometry silently."""
        from hebrew_tutor_data_pipeline_spark.operators.dedup import (
            simhash_component_edges,
            simhash_near_dup_pairs,
            simhash_quotient_pairs,
        )

        df = spark.createDataFrame([(1, "a b c")], ["id", "text"])
        for fn in (
            simhash_near_dup_pairs,
            simhash_quotient_pairs,
            simhash_component_edges,
        ):
            with pytest.raises(ValueError, match="must divide"):
                fn(df, "id", "text", bits=30, bands=4).collect()

    def test_shingle_sets_empty_docs_yield_empty_sets(self, spark):
        """Empty/whitespace docs must not carry an artifact [''] shingle
        (which made every pair of empty docs a jaccard-1.0 'near-dup' in
        the LSH verify arm while the posting arm skipped them)."""
        from hebrew_tutor_data_pipeline_spark.operators.dedup import shingle_sets

        df = spark.createDataFrame(
            [(1, ""), (2, "   "), (3, "a b c d")], ["id", "text"]
        )
        got = {r["id"]: r["shingles"] for r in shingle_sets(df, "id", "text", 3).collect()}
        assert got[1] == [] and got[2] == []
        assert got[3] == ["a b c", "b c d"]

    def test_contamination_plan_has_no_duplicated_shingle_filter(self, spark):
        """InferFiltersFromGenerate + predicate pushdown used to inline
        the ENTIRE trigram-construction expression into a Filter below
        the repartition — evaluating it twice per row, one copy on the
        pre-spread single-split layout (measured 6× on the full query at
        sf0.1). The explode_outer+isNotNull form must keep every Filter
        in the optimized plan free of the heavy array expression, and
        results must equal the inner-explode semantics exactly."""
        from hebrew_tutor_data_pipeline_spark.operators.dedup import (
            ngram_contamination,
        )

        corpus = spark.createDataFrame(
            [(1, "a b c d"), (2, ""), (3, "a b c"), (4, "x y")], ["id", "text"]
        )
        bench = spark.createDataFrame([(9, "a b c z")], ["id", "text"])
        out = ngram_contamination(corpus, bench, "id", "text", n=3)
        plan = out._jdf.queryExecution().optimizedPlan().toString()
        for line in plan.splitlines():
            if line.strip().startswith(("Filter", "+- Filter")) or "- Filter" in line:
                assert "array_distinct" not in line and "transform(" not in line, line
        got = {r["id"]: (r["n_ngrams"], r["n_contaminated"]) for r in out.collect()}
        # doc 2 (empty) contributes no row — identical to inner explode
        assert got == {1: (2, 1), 3: (1, 1), 4: (1, 0)}

    def test_jaccard_pairs_match_python(self, spark):
        docs = [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy cat"),
            (3, "completely different content here entirely now"),
        ]
        df = spark.createDataFrame(docs, ["id", "text"])
        got = {
            (r["id_a"], r["id_b"]): r["jaccard"]
            for r in ngram_jaccard_pairs(df, "id", "text", n=3, threshold=0.0).collect()
        }

        def sh(t, n=3):
            toks = t.split()
            return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}

        for (a, ta), (b, tb) in [(docs[0], docs[1]), (docs[0], docs[2]), (docs[1], docs[2])]:
            A, B = sh(ta), sh(tb)
            expected = len(A & B) / len(A | B)
            if expected > 0:
                assert math.isclose(got[(a, b)], round(expected, 6))
            else:
                assert (a, b) not in got  # no shared shingle -> never joined

    def test_jaccard_fractional_cap_runs_no_eager_job(self, spark):
        # The fractional max_shingle_freq path must derive the document
        # total INSIDE the plan (1-row broadcast aggregate), never via an
        # eager df.count() — at 100 TB that is a second full corpus scan
        # run as a separate job before the real one.
        df = spark.createDataFrame(
            [(i, f"tok{i} alpha beta gamma shared common words") for i in range(8)],
            ["id", "text"],
        )
        tracker = spark.sparkContext.statusTracker()
        before = len(tracker.getJobIdsForGroup(None))
        plan = ngram_jaccard_pairs(
            df, "id", "text", n=2, threshold=0.0, max_shingle_freq=0.5
        )
        assert len(tracker.getJobIdsForGroup(None)) == before, (
            "plan construction launched a Spark job (eager count)"
        )
        # and the cap semantics match the eager formula: ceil(0.5*8)=4,
        # so bigrams shared by >4 docs are pruned before the self-join
        got = {(r["id_a"], r["id_b"]) for r in plan.collect()}
        import itertools

        # 'shared common'/'common words' etc. appear in all 8 docs (>4) —
        # pruned; only the doc-unique bigrams remain, which never join.
        assert got == set(), got
        # an absolute cap of 8 keeps them: every pair shares the tail
        loose = ngram_jaccard_pairs(
            df, "id", "text", n=2, threshold=0.0, max_shingle_freq=8
        )
        got_loose = {(r["id_a"], r["id_b"]) for r in loose.collect()}
        assert got_loose == {
            (a, b) for a, b in itertools.combinations(range(8), 2)
        }

    def test_jaccard_combined_abs_cap_binds(self, spark):
        # least(frac·N, abs): the absolute arm bounds per-shingle join
        # work Σ df² at scale (r06 measured the fractional-only form
        # superlinear on a fixed-vocab corpus). Semantics: 40 spam docs
        # identical to one super-common trigram pair ONLY through it —
        # capped, that shingle's df (42) exceeds the abs cap (10) and
        # the spam clique vanishes; a genuinely-similar pair still meets
        # on its many low-df shingles (denominator set sizes unpruned).
        spam = [(100 + i, "x y z") for i in range(40)]
        near = [
            (1, "x y z a b c d e f g h one"),
            (2, "x y z a b c d e f g h two"),
        ]
        df = spark.createDataFrame(near + spam, ["id", "text"])
        uncapped = {
            (r["id_a"], r["id_b"])
            for r in ngram_jaccard_pairs(
                df, "id", "text", n=3, threshold=0.5, max_shingle_freq=0.99
            ).collect()
        }
        assert (100, 101) in uncapped and len(uncapped) > 700  # spam clique
        capped = {
            (r["id_a"], r["id_b"]): r["jaccard"]
            for r in ngram_jaccard_pairs(
                df, "id", "text", n=3, threshold=0.5,
                max_shingle_freq=0.99, max_shingle_df=10,
            ).collect()
        }
        assert set(capped) == {(1, 2)}
        # 10 trigrams each, 9 shared; 'x y z' (df=42) is pruned, so the
        # kept intersection is 8: J = 8 / (10 + 10 - 8)
        assert math.isclose(capped[(1, 2)], round(8 / (10 + 10 - 8), 6))

    def test_minhash_lsh_finds_near_dups(self, spark):
        base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
        docs = [
            (1, base),
            (2, base + " extra"),          # near-dup of 1
            (3, "one two three four five six seven eight nine ten"),
        ]
        df = spark.createDataFrame(docs, ["id", "text"])
        pairs = {
            (r["id_a"], r["id_b"])
            for r in minhash_lsh_pairs(df, "id", "text", threshold=0.4).collect()
        }
        assert (1, 2) in pairs
        assert (1, 3) not in pairs and (2, 3) not in pairs

    def test_simhash_similar_docs_close(self, spark):
        df = spark.createDataFrame(
            [
                (1, "the quick brown fox jumps over the lazy dog"),
                (2, "the quick brown fox jumps over the lazy cat"),
                (3, "zzz yyy xxx www vvv uuu ttt sss"),
            ],
            ["id", "text"],
        )
        fps = {r["id"]: r["simhash"] for r in simhash(df, "id", "text").collect()}

        def ham(a, b):
            return bin(a ^ b).count("1")

        assert ham(fps[1], fps[2]) < ham(fps[1], fps[3])
        for v in fps.values():
            assert 0 <= v < 2**16

    def test_embedding_near_dup_pairs(self, spark):
        df = spark.createDataFrame(
            [
                (1, [1.0, 0.0, 0.0]),
                (2, [0.999, 0.04, 0.0]),  # ~cos 0.999
                (3, [0.0, 1.0, 0.0]),
            ],
            ["id", "vec"],
        )
        pairs = {
            (r["id_a"], r["id_b"])
            for r in embedding_near_dup_pairs(df, "id", "vec", threshold=0.95).collect()
        }
        assert pairs == {(1, 2)}

    def test_blocked_matches_expression_variant(self, spark):
        """The numpy blocked kernel must reproduce the pure-SQL all-pairs
        results exactly (ids AND 6-dp cosines)."""
        rows = [
            (i, [math.sin(i * (d + 1) * 0.31) for d in range(16)]) for i in range(30)
        ]
        df = spark.createDataFrame(rows, ["id", "vec"])
        expr = {
            (r["id_a"], r["id_b"]): r["cosine"]
            for r in embedding_near_dup_pairs(df, "id", "vec", threshold=0.3).collect()
        }
        blocked = {
            (r["id_a"], r["id_b"]): r["cosine"]
            for r in embedding_near_dup_pairs_blocked(
                df, "id", "vec", threshold=0.3, num_blocks=4
            ).collect()
        }
        assert expr == blocked
        assert len(expr) > 0

    def test_lsh_tier_subset_of_exact_with_recall(self, spark):
        """The multi-table SRP-LSH prefilter must return a strict subset
        of the exact tier (identical cosines on surviving pairs) with a
        measured recall floor — the claim the 100 TB path rests on."""
        df = (
            spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
            .filter(F.col("vec_id") < 200)
            .select(F.col("vec_id").alias("id"), F.col("embedding").alias("vec"))
        )
        exact = {
            (r["id_a"], r["id_b"]): r["cosine"]
            for r in embedding_near_dup_pairs(df, "id", "vec", threshold=0.35).collect()
        }
        lsh = {
            (r["id_a"], r["id_b"]): r["cosine"]
            for r in embedding_near_dup_pairs(
                df, "id", "vec", threshold=0.35, bucket_bits=6, num_tables=8
            ).collect()
        }
        assert set(lsh) <= set(exact)
        assert all(exact[p] == c for p, c in lsh.items())
        assert len(exact) > 0
        # weakly-similar pairs (cos ≈ 0.35-0.5): modest but real recall
        assert len(lsh) / len(exact) >= 0.2

    def test_lsh_tier_finds_planted_duplicates(self, spark):
        """At true near-dup thresholds (cosine ≥ 0.95 — the dedup use
        case) SRP-LSH collision probability per bit approaches 1, so the
        prefilter must recover essentially every planted duplicate."""
        rows = []
        planted = set()
        for i in range(25):
            base = [math.sin((i + 1) * (d + 3) * 0.29) for d in range(64)]
            rows.append((2 * i, base))
            # tiny deterministic perturbation → cosine ≈ 0.9999
            rows.append((2 * i + 1, [x + 0.003 * math.sin(d + i) for d, x in enumerate(base)]))
            planted.add((2 * i, 2 * i + 1))
        df = spark.createDataFrame(rows, ["id", "vec"])
        got = {
            (r["id_a"], r["id_b"])
            for r in embedding_near_dup_pairs(
                df, "id", "vec", threshold=0.95, bucket_bits=6, num_tables=8
            ).collect()
        }
        assert planted <= got


class TestAnn:
    def make_corpus(self, spark, n=40, dim=8):
        rows = []
        for i in range(n):
            # i+1 so no vector is all-zero (sin(0) == 0)
            vec = [math.sin((i + 1) * (d + 1) * 0.7) for d in range(dim)]
            rows.append((i, vec))
        return spark.createDataFrame(rows, ["id", "vec"])

    def test_brute_force_topk_matches_python(self, spark):
        corpus = self.make_corpus(spark)
        queries = corpus.filter(F.col("id") < 2)
        got = brute_force_topk(corpus, queries, "id", "vec", k=5).collect()
        data = {r["id"]: r["vec"] for r in corpus.collect()}

        def cos(a, b):
            d = sum(x * y for x, y in zip(a, b))
            na, nb = math.sqrt(sum(x * x for x in a)), math.sqrt(sum(x * x for x in b))
            return round(d / (na * nb), 6)

        for qid in (0, 1):
            expect = sorted(
                ((cos(data[qid], v), -i) for i, v in data.items() if i != qid),
                reverse=True,
            )[:5]
            expect_ids = [-negid for _, negid in expect]
            got_ids = [
                r["neighbor_id"] for r in sorted(
                    (r for r in got if r["query_id"] == qid), key=lambda r: r["rank"]
                )
            ]
            assert got_ids == expect_ids

    def test_ivf_topk_recall_vs_exact(self, spark):
        corpus = self.make_corpus(spark, n=60)
        queries = corpus.filter(F.col("id") < 3)
        exact = brute_force_topk(corpus, queries, "id", "vec", k=5)
        approx = ivf_topk(corpus, queries, "id", "vec", k=5, num_cells=8, nprobe=4)
        e = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
        a = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
        recall = len(e & a) / len(e)
        assert recall >= 0.5  # nprobe=4 of 8 cells


class TestAlignment:
    def test_allocate_proportional_invariants(self, spark):
        df = spark.createDataFrame(
            [("g", i, [2, 3, 5][i - 1], 100.0) for i in (1, 2, 3)],
            ["grp", "verse", "wc", "total"],
        )
        out = (
            allocate_proportional(df, ["grp"], "verse", "wc", "total")
            .orderBy("verse")
            .collect()
        )
        # proportional shares of 100 by weights 2:3:5
        assert [r["start"] for r in out] == [0.0, 20.0, 50.0]
        assert [r["end"] for r in out] == [20.0, 50.0, 100.0]
        # contiguity
        for prev, cur in zip(out, out[1:]):
            assert prev["end"] == cur["start"]

    def test_allocate_min_unit(self, spark):
        df = spark.createDataFrame(
            [("g", 1, 1, 10.0), ("g", 2, 99, 10.0)], ["grp", "verse", "wc", "total"]
        )
        out = (
            allocate_proportional(df, ["grp"], "verse", "wc", "total", min_unit=1.0)
            .orderBy("verse")
            .collect()
        )
        assert out[0]["end"] - out[0]["start"] >= 1.0

    def test_spread_uniform(self, spark):
        df = spark.createDataFrame(
            [(["a", "b", "c", "d"], 10.0, 18.0)], ["words", "s", "e"]
        )
        out = spread_uniform(df, "words", "s", "e").orderBy("word_pos").collect()
        assert [r["word"] for r in out] == ["a", "b", "c", "d"]
        assert [r["word_start"] for r in out] == [10.0, 12.0, 14.0, 16.0]
        assert [r["word_end"] for r in out] == [12.0, 14.0, 16.0, 18.0]

    def test_fuzzy_cursor_align_basic(self, spark):
        ref = spark.createDataFrame(
            [("c1", i, w) for i, w in enumerate(["shalom", "olam", "tov"])],
            ["grp", "idx", "word"],
        )
        trans = spark.createDataFrame(
            [
                ("c1", 0, "shalom", 0.0, 1.0),
                ("c1", 1, "oolam", 1.0, 2.0),
                ("c1", 2, "xyz", 2.0, 3.0),
            ],
            ["grp", "idx", "word", "s", "e"],
        )
        out = {
            r["ref_word"]: r
            for r in fuzzy_cursor_align(
                ref, trans, "grp", "idx", "word", "idx", "word", "s", "e"
            ).collect()
        }
        assert out["shalom"]["matched"] == 1 and out["shalom"]["start"] == 0.0
        assert out["olam"]["matched"] == 1 and out["olam"]["matched_word"] == "oolam"
        assert out["tov"]["matched"] == 0 and out["tov"]["start"] is None

    def test_cursor_monotonic(self, spark):
        """Matched transcript indices must be strictly increasing (the
        cursor never goes back — `fixed_hebrew_aligner.py:531`)."""
        ref = spark.createDataFrame(
            [("c", i, w) for i, w in enumerate(["aa", "bb", "aa", "cc"])],
            ["g", "i", "w"],
        )
        trans = spark.createDataFrame(
            [("c", i, w, float(i), float(i + 1)) for i, w in enumerate(["aa", "aa", "cc"])],
            ["g", "i", "w", "s", "e"],
        )
        rows = (
            fuzzy_cursor_align(ref, trans, "g", "i", "w", "i", "w", "s", "e")
            .filter(F.col("matched") == 1)
            .orderBy("ref_idx")
            .collect()
        )
        idxs = [r["matched_idx"] for r in rows]
        assert idxs == sorted(idxs) and len(set(idxs)) == len(idxs)


class TestSessionize:
    def test_sessionize_gap(self, spark):
        df = spark.createDataFrame(
            [
                (1, ts("2024-01-01T00:00:00")),
                (1, ts("2024-01-01T00:10:00")),
                (1, ts("2024-01-01T01:00:00")),  # >30min gap -> new session
                (2, ts("2024-01-01T00:00:00")),
            ],
            ["user", "t"],
        )
        out = sessionize(df, ["user"], "t", gap_seconds=1800).collect()
        sess = {(r["user"], r["t"].minute, r["t"].hour): r["session_id"] for r in out}
        assert sess[(1, 0, 0)] == 1 and sess[(1, 10, 0)] == 1 and sess[(1, 0, 1)] == 2
        assert sess[(2, 0, 0)] == 1

    def test_session_stats(self, spark):
        df = spark.createDataFrame(
            [(1, ts("2024-01-01T00:00:00")), (1, ts("2024-01-01T00:10:00"))],
            ["user", "t"],
        )
        row = session_stats(df, ["user"], "t", 1800).first()
        assert row["n_events"] == 2 and row["duration_ms"] == 600_000


class TestUpsert:
    def test_last_wins(self, spark):
        state = spark.createDataFrame([("a", 1.0, "old"), ("b", 1.0, "keep")], ["k", "ts", "v"])
        updates = spark.createDataFrame([("a", 2.0, "new"), ("c", 1.0, "ins")], ["k", "ts", "v"])
        got = {r["k"]: r["v"] for r in last_wins_upsert(state, updates, ["k"], "ts").collect()}
        assert got == {"a": "new", "b": "keep", "c": "ins"}

    def test_tie_prefers_update(self, spark):
        state = spark.createDataFrame([("a", 1.0, "old")], ["k", "ts", "v"])
        updates = spark.createDataFrame([("a", 1.0, "new")], ["k", "ts", "v"])
        got = last_wins_upsert(state, updates, ["k"], "ts").first()
        assert got["v"] == "new"


class TestKmeansCodebook:
    def make_corpus(self, spark, n=80, dim=8):
        rows = [
            (i, [math.sin((i + 1) * (d + 1) * 0.7) for d in range(dim)])
            for i in range(n)
        ]
        return spark.createDataFrame(rows, ["id", "vec"])

    def test_deterministic_and_shaped(self, spark):
        from hebrew_tutor_data_pipeline_spark.operators.ann import kmeans_codebook

        corpus = self.make_corpus(spark)
        cb1 = kmeans_codebook(corpus, "id", "vec", k=6, iters=2)
        cb2 = kmeans_codebook(corpus, "id", "vec", k=6, iters=2)
        assert cb1 == cb2  # no RNG anywhere
        assert len(cb1) == 6 and all(len(v) == 8 for _, v in cb1)

    def test_training_improves_or_matches_recall(self, spark):
        from hebrew_tutor_data_pipeline_spark.operators.ann import (
            kmeans_codebook,
            ivf_topk,
        )

        corpus = self.make_corpus(spark)
        queries = corpus.filter(F.col("id") < 3)
        exact = {
            (r["query_id"], r["neighbor_id"])
            for r in brute_force_topk(corpus, queries, "id", "vec", k=5).collect()
        }
        cb = kmeans_codebook(corpus, "id", "vec", k=8, iters=3)
        trained = {
            (r["query_id"], r["neighbor_id"])
            for r in ivf_topk(
                corpus, queries, "id", "vec", k=5, nprobe=4, codebook=cb
            ).collect()
        }
        recall = len(exact & trained) / len(exact)
        assert recall >= 0.5, recall


class TestTwoLevelCodebook:
    """ann.two_level_codebook — the Θ(n·√k·d) successor to the derived-k
    flat codebook (VERDICT r11 #2). DuckDB replays the full training
    recurrence in the semantic_dedup_flags / cluster_balanced_sample
    oracles; these tests pin the model-side contracts that replay can't
    see: id algebra, assignment-vs-model consistency (a numpy replay
    FROM the returned artifact), population-tracking fine splits, and
    run-to-run determinism."""

    def make_corpus(self, spark, n=120, dim=8):
        rows = [
            (i, [math.sin((i + 1) * (d + 1) * 0.7) for d in range(dim)])
            for i in range(n)
        ]
        return spark.createDataFrame(rows, ["id", "vec"])

    def test_deterministic_and_id_algebra(self, spark):
        from hebrew_tutor_data_pipeline_spark.operators.ann import (
            _FINE_STRIDE,
            two_level_codebook,
        )

        corpus = self.make_corpus(spark)
        m1 = two_level_codebook(corpus, "id", "vec", k=16, iters=2, target_cell=10)
        m2 = two_level_codebook(corpus, "id", "vec", k=16, iters=2, target_cell=10)
        assert m1.flat() == m2.flat()  # no RNG anywhere
        assert m1.coarse == m2.coarse
        for ccell, pairs in m1.fine.items():
            for i, (gid, vec) in enumerate(pairs):
                assert gid == ccell * _FINE_STRIDE + i
                assert len(vec) == 8

    def test_assign_matches_numpy_replay_of_model(self, spark):
        """assign() must route every vector exactly as the returned
        artifact dictates: rounded-6dp cosine argmax over coarse (ties →
        smallest cell), then rounded argmax over THAT cell's fine
        centroids (ties → smallest global id) — replayed here in plain
        numpy from model.coarse/model.fine, independent of any Spark
        code path."""
        import numpy as np

        from hebrew_tutor_data_pipeline_spark.operators.ann import (
            two_level_codebook,
        )

        corpus = self.make_corpus(spark).repartition(5)
        model = two_level_codebook(corpus, "id", "vec", k=16, iters=2, target_cell=10)
        got = {
            r["id"]: r["cell"]
            for r in model.assign(corpus, "id", "vec").collect()
        }

        def r6(x):
            return np.sign(x) * np.floor(np.abs(x) * 1e6 + 0.5) / 1e6

        cmat = np.stack([np.asarray(v) for _, v in model.coarse])
        cn = np.sqrt((cmat * cmat).sum(axis=1))
        rows = {r["id"]: np.asarray(r["vec"]) for r in corpus.collect()}
        for vid, v in rows.items():
            vn = np.sqrt((v * v).sum())
            coarse = int(np.argmax(r6((cmat @ v) / (cn * vn))))
            gids = [g for g, _ in model.fine[coarse]]
            fmat = np.stack([np.asarray(x) for _, x in model.fine[coarse]])
            fn = np.sqrt((fmat * fmat).sum(axis=1))
            expect = gids[int(np.argmax(r6((fmat @ v) / (fn * vn))))]
            assert got[vid] == expect, vid

    def test_fine_split_tracks_cell_population(self, spark):
        """Each coarse cell's fine codebook holds exactly
        ceil(n_cell / target_cell) centroids, where n_cell counts the
        ROUNDED coarse blocking — the knob that keeps within-cell
        pairwise work (SemDeDup's cost model) bounded per cell."""
        from hebrew_tutor_data_pipeline_spark.operators.ann import (
            cell_assign,
            two_level_codebook,
        )

        corpus = self.make_corpus(spark)
        target = 10
        model = two_level_codebook(
            corpus, "id", "vec", k=16, iters=2, target_cell=target
        )
        counts: dict[int, int] = {}
        for r in cell_assign(corpus, "id", "vec", model.coarse).collect():
            counts[r["cell"]] = counts.get(r["cell"], 0) + 1
        assert set(model.fine) == {c for c, n in counts.items() if n > 0}
        for ccell, pairs in model.fine.items():
            assert len(pairs) == -(-counts[ccell] // target), ccell

    def test_semantic_dedup_accepts_two_level_model(self, spark):
        """Planted near-identical twins land in one (two-level) cell and
        the larger-id twin is flagged — the downstream contract is
        unchanged when the blocking model is hierarchical."""
        from hebrew_tutor_data_pipeline_spark.operators.ann import (
            two_level_codebook,
        )
        from hebrew_tutor_data_pipeline_spark.operators.dedup import semantic_dedup

        rows = []
        for i in range(20):
            base = [math.sin((i + 1) * (d + 3) * 0.29) for d in range(16)]
            rows.append((2 * i, base))
            rows.append(
                (2 * i + 1, [x + 0.003 * math.sin(d + i) for d, x in enumerate(base)])
            )
        df = spark.createDataFrame(rows, ["id", "vec"])
        model = two_level_codebook(df, "id", "vec", k=16, iters=2, target_cell=10)
        out = {
            r["id"]: (r["cell"], r["is_dup"])
            for r in semantic_dedup(df, "id", "vec", codebook=model, tau=0.99).collect()
        }
        assert len(out) == 40
        for i in range(20):
            keep_cell, keep_dup = out[2 * i]
            dup_cell, dup_dup = out[2 * i + 1]
            assert keep_cell == dup_cell
            assert not keep_dup
            assert dup_dup

    def test_assign_unseen_vector_near_empty_coarse_cell(self, spark):
        """ADVICE r12 (medium): a Lloyd cell empty at training time has
        a coarse centroid but no fine codebook, and an UNSEEN vector
        whose rounded argmax lands there used to KeyError the executor.
        assign() now routes only among coarse cells present in the fine
        model — the nearest ROUTABLE cell — so arbitrary corpora are
        safe. Constructed directly: coarse cell 7 has no fine entry and
        a query vector sits exactly on its centroid."""
        from hebrew_tutor_data_pipeline_spark.operators.ann import (
            _FINE_STRIDE,
            TwoLevelCodebook,
        )

        model = TwoLevelCodebook(
            coarse=[(0, [1.0, 0.0, 0.0]), (7, [0.0, 1.0, 0.0])],
            fine={0: [(0, [1.0, 0.0, 0.0]), (1, [0.9, 0.1, 0.0])]},
        )
        df = spark.createDataFrame(
            [(100, [0.0, 1.0, 0.0]), (101, [1.0, 0.05, 0.0])], ["id", "vec"]
        )
        got = {r["id"]: r["cell"] for r in model.assign(df, "id", "vec").collect()}
        # both vectors route into coarse cell 0's fine block — the only
        # routable cell. id 100 = [0,1,0] (ON the empty cell's centroid)
        # no longer crashes and picks fine gid 1 (cos 0.110 to [.9,.1,0]
        # beats 0.0 to [1,0,0]); id 101 = [1,.05,0] picks gid 0
        # (cos 0.9988 beats 0.9982).
        assert got[100] == 0 * _FINE_STRIDE + 1
        assert got[101] == 0 * _FINE_STRIDE + 0

    def test_assign_all_cells_empty_raises(self, spark):
        from hebrew_tutor_data_pipeline_spark.operators.ann import (
            TwoLevelCodebook,
        )

        model = TwoLevelCodebook(coarse=[(0, [1.0, 0.0])], fine={})
        df = spark.createDataFrame([(1, [1.0, 0.0])], ["id", "vec"])
        with pytest.raises(ValueError, match="no fine cells"):
            model.assign(df, "id", "vec")


class TestDuplicateSpans:
    def test_planted_shared_span_found_and_merged(self, spark):
        """Two docs share a 12-token run; with n=10 that run yields 3
        overlapping duplicated 10-grams per doc, which must merge into
        ONE maximal span [start, start+12) in each. A third unrelated
        doc contributes nothing."""
        from hebrew_tutor_data_pipeline_spark.operators.dedup import duplicate_spans

        shared = " ".join(f"dup{i}" for i in range(12))
        rows = [
            (1, "alpha beta " + shared + " gamma delta"),
            (2, shared + " epsilon zeta eta theta iota kappa"),
            (3, " ".join(f"uniq{i}" for i in range(30))),
        ]
        df = spark.createDataFrame(rows, ["doc_id", "text"])
        out = {
            r["id"]: (r["span_start"], r["span_end"], r["span_tokens"])
            for r in duplicate_spans(df, "doc_id", "text", n=10).collect()
        }
        assert out == {1: (2, 14, 12), 2: (0, 12, 12)}

    def test_same_doc_repeat_counts(self, spark):
        """A 10-gram repeated twice WITHIN one document satisfies the
        corpus-wide ≥2 criterion (the paper's suffix-array behavior)."""
        from hebrew_tutor_data_pipeline_spark.operators.dedup import duplicate_spans

        block = " ".join(f"w{i}" for i in range(10))
        df = spark.createDataFrame(
            [(7, block + " filler1 filler2 " + block)], ["doc_id", "text"]
        )
        spans = sorted(
            (r["span_start"], r["span_end"])
            for r in duplicate_spans(df, "doc_id", "text", n=10).collect()
        )
        assert spans == [(0, 10), (12, 22)]

    def test_spans_disjoint_and_min_length(self, spark):
        from hebrew_tutor_data_pipeline_spark.operators.dedup import duplicate_spans
        from hebrew_tutor_data_pipeline_spark.sources.readers import load_table

        d = load_table(spark, "/root/testdata/sf0.001", "documents")
        rows = duplicate_spans(d, "doc_id", "text", n=10).collect()
        by_doc: dict[int, list] = {}
        for r in rows:
            assert r["span_tokens"] == r["span_end"] - r["span_start"] >= 10
            by_doc.setdefault(r["id"], []).append((r["span_start"], r["span_end"]))
        for spans in by_doc.values():
            spans.sort()
            for (s1, e1), (s2, _) in zip(spans, spans[1:]):
                assert s2 > e1  # maximal ⇒ strictly separated


class TestSemanticDedup:
    def test_planted_dups_flagged_keep_first(self, spark):
        """SemDeDup on a corpus with planted near-identical pairs: the
        larger-id twin of every pair is flagged, the smaller-id twin is
        kept, and well-separated vectors stay unflagged at a high tau."""
        import math

        from hebrew_tutor_data_pipeline_spark.operators.ann import kmeans_codebook
        from hebrew_tutor_data_pipeline_spark.operators.dedup import semantic_dedup

        rows = []
        for i in range(20):
            base = [math.sin((i + 1) * (d + 3) * 0.29) for d in range(16)]
            rows.append((2 * i, base))
            rows.append(
                (2 * i + 1, [x + 0.003 * math.sin(d + i) for d, x in enumerate(base)])
            )
        df = spark.createDataFrame(rows, ["id", "vec"])
        cb = kmeans_codebook(df, "id", "vec", k=4, iters=2)
        out = {
            r["id"]: (r["cell"], r["is_dup"])
            for r in semantic_dedup(df, "id", "vec", codebook=cb, tau=0.99).collect()
        }
        assert len(out) == 40  # one flag row per input vector
        for i in range(20):
            keep_cell, keep_dup = out[2 * i]
            dup_cell, dup_dup = out[2 * i + 1]
            # cosine ≈ 0.9999 twins land in the same cluster; keep-first
            assert keep_cell == dup_cell
            assert not keep_dup
            assert dup_dup

    def test_deterministic_across_runs(self, spark):
        import math

        from hebrew_tutor_data_pipeline_spark.operators.ann import kmeans_codebook
        from hebrew_tutor_data_pipeline_spark.operators.dedup import semantic_dedup

        rows = [
            (i, [math.sin((i + 1) * (d + 1) * 0.7) for d in range(8)])
            for i in range(60)
        ]
        df = spark.createDataFrame(rows, ["id", "vec"]).repartition(7)
        cb = kmeans_codebook(df, "id", "vec", k=6, iters=2)
        a = sorted(map(tuple, semantic_dedup(df, "id", "vec", cb, tau=0.9).collect()))
        b = sorted(map(tuple, semantic_dedup(df, "id", "vec", cb, tau=0.9).collect()))
        assert a == b


class TestSkewOperators:
    """salted_join / salted_aggregate must be result-invisible: identical
    output to the plain join / groupBy they replace (§2.11 scale posture)."""

    def _events(self, spark):
        from hebrew_tutor_data_pipeline_spark.sources.readers import load_table

        return load_table(spark, "/root/testdata/sf0.001", "events").select(
            "event_id", "user_id", "event_type", "value"
        )

    def test_salted_join_matches_plain_join(self, spark):
        from pyspark.sql import functions as F

        from hebrew_tutor_data_pipeline_spark.operators.skew import salted_join

        e = self._events(spark)
        dim = e.select("event_type").distinct().withColumn(
            "type_len", F.length("event_type")
        )
        plain = e.join(dim, "event_type").orderBy("event_id").collect()
        salted = (
            salted_join(e, dim, on="event_type", n_salts=7)
            .orderBy("event_id")
            .collect()
        )
        assert [sorted(r.asDict().items()) for r in salted] == [
            sorted(r.asDict().items()) for r in plain
        ]

    def test_salted_left_join_keeps_unmatched(self, spark):
        from pyspark.sql import functions as F

        from hebrew_tutor_data_pipeline_spark.operators.skew import salted_join

        e = self._events(spark)
        dim = (
            e.select("event_type")
            .distinct()
            .filter(F.col("event_type") != "click")  # force unmatched rows
            .withColumn("type_len", F.length("event_type"))
        )
        out = salted_join(e, dim, on="event_type", n_salts=5, how="left")
        clicks = out.filter(F.col("event_type") == "click")
        assert clicks.count() == e.filter(F.col("event_type") == "click").count()
        assert clicks.filter(F.col("type_len").isNotNull()).count() == 0

    def test_salted_aggregate_matches_direct(self, spark):
        from pyspark.sql import functions as F

        from hebrew_tutor_data_pipeline_spark.operators.skew import salted_aggregate

        e = self._events(spark)
        direct = (
            e.groupBy("event_type")
            .agg(
                F.count("event_id").alias("n"),
                F.min("value").alias("vmin"),
                F.max("value").alias("vmax"),
                F.avg("user_id").alias("u_avg"),
                F.sort_array(F.collect_set("user_id")).alias("users"),
            )
            .orderBy("event_type")
            .collect()
        )
        salted = (
            salted_aggregate(
                e,
                keys=["event_type"],
                aggs={
                    "n": ("event_id", "count"),
                    "vmin": ("value", "min"),
                    "vmax": ("value", "max"),
                    "u_avg": ("user_id", "avg"),
                    "users": ("user_id", "collect_set"),
                },
                n_salts=6,
            )
            .withColumn("users", F.sort_array("users"))
            .orderBy("event_type")
            .collect()
        )
        for d, s in zip(direct, salted):
            assert d.event_type == s.event_type
            assert d.n == s.n and d.vmin == s.vmin and d.vmax == s.vmax
            assert abs(d.u_avg - s.u_avg) < 1e-9
            assert d.users == s.users

    def test_unsupported_kind_rejected(self, spark):
        import pytest

        from hebrew_tutor_data_pipeline_spark.operators.skew import (
            salted_aggregate,
            salted_join,
        )

        e = self._events(spark)
        with pytest.raises(ValueError):
            salted_aggregate(e, ["event_type"], {"x": ("value", "median")})
        with pytest.raises(ValueError):
            salted_join(e, e.limit(1), on="event_type", how="full")

    def test_salted_join_null_keys_match_plain_join(self, spark):
        """NULL join keys must behave exactly as the unsalted join:
        dropped under inner, kept-with-NULL-payload under left. Pins the
        docstring's NULL contract (salting only splits equality groups,
        it can never create a NULL match)."""
        from pyspark.sql import functions as F

        from hebrew_tutor_data_pipeline_spark.operators.skew import salted_join

        e = self._events(spark).withColumn(
            "event_type",
            F.when(F.col("event_id") % 5 == 0, F.lit(None)).otherwise(
                F.col("event_type")
            ),
        )
        dim = e.select("event_type").distinct().withColumn(
            "type_len", F.length("event_type")
        )
        for how in ("inner", "left"):
            plain = sorted(
                tuple(sorted(r.asDict().items()))
                for r in e.join(dim, "event_type", how).collect()
            )
            salted = sorted(
                tuple(sorted(r.asDict().items()))
                for r in salted_join(e, dim, on="event_type", n_salts=7, how=how).collect()
            )
            assert salted == plain, how
        n_null = e.filter(F.col("event_type").isNull()).count()
        assert n_null > 0  # the scenario is actually exercised
        inner = salted_join(e, dim, on="event_type", n_salts=7, how="inner")
        assert inner.filter(F.col("event_type").isNull()).count() == 0
        left = salted_join(e, dim, on="event_type", n_salts=7, how="left")
        null_rows = left.filter(F.col("event_type").isNull())
        assert null_rows.count() == n_null
        assert null_rows.filter(F.col("type_len").isNotNull()).count() == 0

    def test_salted_aggregate_null_group_kept(self, spark):
        """A NULL group key is a real group in groupBy semantics; the
        two-phase salted aggregate must preserve it bit-for-bit."""
        from pyspark.sql import functions as F

        from hebrew_tutor_data_pipeline_spark.operators.skew import salted_aggregate

        e = self._events(spark).withColumn(
            "event_type",
            F.when(F.col("event_id") % 3 == 0, F.lit(None)).otherwise(
                F.col("event_type")
            ),
        )
        direct = {
            r.event_type: (r.n, r.vsum)
            for r in e.groupBy("event_type")
            .agg(F.count("event_id").alias("n"), F.sum("value").alias("vsum"))
            .collect()
        }
        salted = {
            r.event_type: (r.n, r.vsum)
            for r in salted_aggregate(
                e,
                keys=["event_type"],
                aggs={"n": ("event_id", "count"), "vsum": ("value", "sum")},
                n_salts=5,
            ).collect()
        }
        assert None in direct and None in salted
        assert salted.keys() == direct.keys()
        for k, (n, _) in direct.items():
            assert salted[k][0] == n
            assert abs(salted[k][1] - direct[k][1]) < 1e-6


class TestWinnowing:
    """Winnowing fingerprints (Schleimer et al. 2003): the guarantee and
    density properties, plus the short-doc edge cases."""

    def _fps(self, spark, rows, k=3, w=4):
        from hebrew_tutor_data_pipeline_spark.operators.dedup import (
            winnow_fingerprints,
        )

        df = spark.createDataFrame(rows, ["doc_id", "text"])
        out = winnow_fingerprints(df, "doc_id", "text", k=k, w=w).collect()
        by_doc: dict = {}
        for r in out:
            by_doc.setdefault(r["id"], set()).add((r["fp_pos"], r["fingerprint"]))
        return by_doc

    def test_guarantee_shared_run_shares_fingerprint(self, spark):
        """Any shared run of >= w+k-1 tokens must produce at least one
        shared fingerprint VALUE between the two documents."""
        shared = "alpha beta gamma delta epsilon zeta"  # 6 = w+k-1 tokens
        fps = self._fps(
            spark,
            [(1, f"one two {shared} three"), (2, f"{shared} nine ten eleven")],
        )
        h1 = {h for _, h in fps[1]}
        h2 = {h for _, h in fps[2]}
        assert h1 & h2, "guarantee violated: no shared fingerprint"

    def test_density_and_determinism(self, spark):
        text = " ".join(f"tok{i % 17}" for i in range(60))
        a = self._fps(spark, [(1, text)])
        b = self._fps(spark, [(1, text)])
        assert a == b  # deterministic
        n_kgrams = 60 - 3 + 1
        # winnowing stores ~2/(w+1) of hashes; allow generous bounds
        assert n_kgrams // 6 <= len(a[1]) <= n_kgrams

    def test_short_docs(self, spark):
        fps = self._fps(
            spark,
            [
                (1, "a b"),            # < k tokens -> no fingerprints
                (2, "a b c"),          # exactly one k-gram -> one fp at pos 0
                (3, "a b c d"),        # 2 k-grams < w -> single shrunken window
            ],
        )
        assert 1 not in fps
        assert len(fps[2]) == 1 and next(iter(fps[2]))[0] == 0
        assert len(fps[3]) == 1

    def test_rightmost_tiebreak(self, spark):
        """Identical k-gram hashes in one window: the RIGHTMOST position
        is selected (the standard winnowing tie rule)."""
        # one repeated token -> every k-gram hash identical -> tie everywhere
        fps = self._fps(spark, [(1, "x x x x x x x x x")])  # 9 tokens, 7 kgrams
        sel_positions = {p for p, _ in fps[1]}
        # window starting at s (s in 0..3 for w=4) selects s+w-1, the
        # rightmost of the tie -> positions 3..6
        assert sel_positions == {3, 4, 5, 6}


class TestConnectedComponents:
    """Alternating large-star/small-star CC (Kiveris et al. 2014) vs a
    driver-side union-find ground truth."""

    @staticmethod
    def _uf(edges, nodes):
        parent = {n: n for n in nodes}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        return {n: find(n) for n in nodes}

    def _cc(self, spark, edges):
        from hebrew_tutor_data_pipeline_spark.operators.dedup import (
            connected_components,
        )

        if edges:
            df = spark.createDataFrame(edges, ["src", "dst"])
        else:
            df = spark.createDataFrame([], "src long, dst long")
        labels = {
            r["node"]: r["component"] for r in connected_components(df).collect()
        }
        # roots/isolated nodes are absent from the edge output: label = self
        full = dict(labels)
        for a, b in edges:
            full.setdefault(a, a)
            full.setdefault(b, b)
        return full

    def test_random_graphs_match_union_find(self, spark):
        import random

        rng = random.Random(11)
        for n, m in [(12, 6), (80, 50), (300, 200)]:
            edges = [
                (rng.randrange(n), rng.randrange(n)) for _ in range(m)
            ]
            edges = [e for e in edges if e[0] != e[1]]
            nodes = sorted({x for e in edges for x in e})
            assert self._cc(spark, edges) == self._uf(edges, nodes)

    def test_chain_collapses_in_log_rounds(self, spark):
        """A 200-node chain is the diameter worst case for naive label
        propagation; the star algorithm must still converge (max 30
        rounds = the operator's cap, far below diameter 199)."""
        chain = [(i, i + 1) for i in range(199)]
        got = self._cc(spark, chain)
        assert set(got.values()) == {0} and len(got) == 200

    def test_duplicate_selfloop_and_orientation_invariance(self, spark):
        base = [(5, 3), (3, 9), (20, 21)]
        noisy = base + [(3, 5), (9, 3), (7, 7), (5, 3)]
        assert self._cc(spark, noisy) == {
            3: 3, 5: 3, 9: 3, 20: 20, 21: 20, 7: 7,
        }

    def test_round0_checkpoint_joins_the_rotation(self, spark):
        """The input edge set is materialized as round 0 (so an
        expensive caller pipeline never re-executes inside round 1's
        multi-reference star plan) and its blocks are ROTATED OUT like
        every other round's: after the call, at most ONE new persisted
        RDD remains (the final round's checkpoint — which the async
        ContextCleaner may have already swept), never one per round.
        Set-of-ids, not a count delta: the cleaner also sweeps STALE
        checkpoints from earlier tests mid-call, which would make a
        count comparison flaky in either direction."""
        from hebrew_tutor_data_pipeline_spark.operators.dedup import (
            connected_components,
        )

        jsc = spark.sparkContext._jsc

        def persisted_ids() -> set[int]:
            return {int(k) for k in jsc.getPersistentRDDs().keySet().toArray()}

        before = persisted_ids()
        # 60-edge chain: ~6 star rounds, so a round-0 block that failed
        # to join the rotation would leave >= 6 new persisted RDDs.
        edges = [(i, i + 1) for i in range(60)] + [(100, 101), (101, 103)]
        df = spark.createDataFrame(edges, ["src", "dst"])
        got = {
            r["node"]: r["component"]
            for r in connected_components(df).collect()
        }
        assert got[59] == 0 and got[103] == 100
        new = persisted_ids() - before
        assert len(new) <= 1, (
            f"expected at most the final round's checkpoint to remain, "
            f"got {len(new)} new persisted RDDs ({sorted(new)})"
        )

    def test_empty_edges(self, spark):
        assert self._cc(spark, []) == {}


class TestDeterministicSampling:
    """Hash-bucket split/sampling: engine-independent (matches a pure
    Python replay of the polynomial hash), partition-invariant, and
    ratio-honoring."""

    @staticmethod
    def _py_bucket(salt: str, doc_id: int) -> int:
        h = 0
        for ch in f"{salt}|{doc_id}":
            h = (h * 31 + ord(ch)) % (2**31 - 1)
        return h % 1000

    def test_matches_python_replay_and_partitioning(self, spark):
        from hebrew_tutor_data_pipeline_spark.operators.sampling import (
            split_and_sample,
        )

        ids = list(range(400))
        rates = {"a": 0.5, "b": 1.0}
        for nparts in (1, 7):
            df = spark.createDataFrame(
                [(i, "a" if i % 3 == 0 else ("b" if i % 3 == 1 else "zz")) for i in ids],
                ["doc_id", "lang"],
            ).repartition(nparts)
            out = {
                r["doc_id"]: (r["split"], r["sampled"])
                for r in split_and_sample(df, "doc_id", "lang", rates, 0.1).collect()
            }
            for i in ids:
                sb = self._py_bucket("split", i)
                want_split = "train" if sb < 800 else ("valid" if sb < 900 else "test")
                rate = {0: 500, 1: 1000}.get(i % 3, 100)
                want_sampled = self._py_bucket("sample", i) < rate
                assert out[i] == (want_split, want_sampled), i

    def test_split_ratios_approximate(self, spark):
        from pyspark.sql import functions as F

        from hebrew_tutor_data_pipeline_spark.operators.sampling import assign_split

        df = spark.range(5000).select(F.col("id").alias("doc_id"))
        counts = dict(
            df.select(assign_split(F.col("doc_id")).alias("s"))
            .groupBy("s")
            .count()
            .collect()
        )
        assert abs(counts["train"] / 5000 - 0.8) < 0.03
        assert abs(counts["valid"] / 5000 - 0.1) < 0.02
        assert abs(counts["test"] / 5000 - 0.1) < 0.02

    def test_bad_ratios_rejected(self, spark):
        import pytest
        from pyspark.sql import functions as F

        from hebrew_tutor_data_pipeline_spark.operators.sampling import assign_split

        with pytest.raises(ValueError):
            assign_split(F.lit(1), ratios=(("train", 0.5), ("test", 0.4)))


class TestNgramContamination:
    def test_hand_computed_ratios(self, spark):
        from hebrew_tutor_data_pipeline_spark.operators.dedup import (
            ngram_contamination,
        )

        bench = spark.createDataFrame(
            [(100, "a b c d e")], ["doc_id", "text"]
        )  # trigrams: {a b c, b c d, c d e}
        corpus = spark.createDataFrame(
            [
                (1, "a b c d e"),      # fully contained -> ratio 1.0
                (2, "x a b c y z"),    # 4 trigrams, 1 shared (a b c) -> 0.25
                (3, "p q r s"),        # no overlap -> 0.0
            ],
            ["doc_id", "text"],
        )
        out = {
            r["id"]: (r["n_ngrams"], r["n_contaminated"], r["contamination_ratio"])
            for r in ngram_contamination(corpus, bench, "doc_id", "text").collect()
        }
        assert out == {1: (3, 3, 1.0), 2: (4, 1, 0.25), 3: (2, 0, 0.0)}


class TestPackPlan:
    def test_offsets_packs_and_straddles(self, spark):
        from pyspark.sql import functions as F

        from hebrew_tutor_data_pipeline_spark.operators.sampling import pack_plan

        rows = [(i, "g", 100) for i in range(8)]  # 8 docs x 100 tokens
        df = spark.createDataFrame(rows, ["doc_id", "grp", "n_tokens"])
        out = pack_plan(df, "doc_id", "n_tokens", ["grp"], budget=256).collect()
        # offsets are a permutation-ordered exact prefix sum: 0,100,...,700
        assert sorted(r["start_offset"] for r in out) == [100 * i for i in range(8)]
        by_off = {r["start_offset"]: r for r in out}
        # doc starting at 200 occupies [200,300): straddles the 256 line
        assert by_off[200]["straddles_boundary"] is True
        assert by_off[200]["pack_id"] == 0
        assert by_off[300]["pack_id"] == 1
        assert by_off[0]["straddles_boundary"] is False

    def test_deterministic_across_partitionings(self, spark):
        from hebrew_tutor_data_pipeline_spark.operators.sampling import pack_plan

        rows = [(i, "g", (i * 37) % 90 + 10) for i in range(200)]
        a = spark.createDataFrame(rows, ["doc_id", "grp", "n_tokens"])
        b = a.repartition(13)
        ra = sorted(map(tuple, pack_plan(a, "doc_id", "n_tokens", ["grp"], 512).collect()))
        rb = sorted(map(tuple, pack_plan(b, "doc_id", "n_tokens", ["grp"], 512).collect()))
        assert ra == rb


class TestProductQuantization:
    """PQ ADC top-k (Jégou et al. 2011): lossless when corpus vectors
    sit on the codebook, deterministic across partitionings."""

    def test_lossless_on_codebook_vectors(self, spark):
        import itertools
        import random

        from hebrew_tutor_data_pipeline_spark.operators.ann import pq_topk

        rng = random.Random(3)
        dim, m, ncent = 8, 4, 16
        # 16 base vectors with distinct subvectors in every subspace
        base = [
            [float(rng.randrange(1, 100)) for _ in range(dim)] for _ in range(ncent)
        ]
        # corpus = the 16 codebook rows (ids 0..15, smallest ids = the
        # codebook) plus 40 repeats under larger ids
        rows = [(i, base[i]) for i in range(ncent)] + [
            (100 + i, base[i % ncent]) for i in range(40)
        ]
        df = spark.createDataFrame(rows, ["vec_id", "embedding"])
        queries = df.filter(F.col("vec_id").isin(3, 7, 104))
        got = pq_topk(df, queries, "vec_id", "embedding", k=5, m=m, ncent=ncent)

        def d2(a, b):
            return sum((x - y) ** 2 for x, y in zip(a, b))

        vecs = dict(rows)
        for qid in (3, 7, 104):
            exact = sorted(
                ((d2(vecs[qid], v), i) for i, v in rows if i != qid),
            )[:5]
            mine = [
                (r["adc_dist"], r["neighbor_id"])
                for r in sorted(
                    got.filter(F.col("query_id") == qid).collect(),
                    key=lambda r: r["rank"],
                )
            ]
            assert [i for _, i in exact] == [i for _, i in mine], qid
            for (de, _), (dm, _) in zip(exact, mine):
                assert abs(de - dm) < 1e-6

    def test_partition_invariance(self, spark):
        import random

        from hebrew_tutor_data_pipeline_spark.operators.ann import pq_topk

        rng = random.Random(9)
        rows = [
            (i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(120)
        ]
        a = spark.createDataFrame(rows, ["vec_id", "embedding"])
        qs = a.filter(F.col("vec_id") < 3)
        ra = sorted(map(tuple, pq_topk(a, qs, "vec_id", "embedding", k=10, m=4, ncent=16).collect()))
        b = a.repartition(11)
        rb = sorted(map(tuple, pq_topk(b, b.filter(F.col("vec_id") < 3), "vec_id", "embedding", k=10, m=4, ncent=16).collect()))
        assert ra == rb


class TestSimhashQuotient:
    def test_conservation_law_vs_exploded_pairs(self, spark):
        """sum(implied_pairs) over the quotient == the exploded pair
        list's row count, and every cross row's hamming matches the
        exploded form's — the representative output carries the full
        pair-mass information at O(distinct-fp pairs) rows
        (VERDICT r10 #5)."""
        from hebrew_tutor_data_pipeline_spark.operators.dedup import (
            simhash_near_dup_pairs,
            simhash_quotient_pairs,
        )

        # planted cliques: rows 0-2 identical, 3-4 identical, 5 unique
        docs = [
            (0, "alpha beta gamma delta epsilon"),
            (1, "alpha beta gamma delta epsilon"),
            (2, "alpha beta gamma delta epsilon"),
            (3, "one two three four five six"),
            (4, "one two three four five six"),
            (5, "totally different words entirely here"),
        ]
        df = spark.createDataFrame(docs, ["doc_id", "text"])
        exploded = simhash_near_dup_pairs(
            df, "doc_id", "text", bits=16, bands=4, max_distance=2
        )
        quotient = simhash_quotient_pairs(
            df, "doc_id", "text", bits=16, bands=4, max_distance=2
        )
        qrows = quotient.collect()
        assert sum(r["implied_pairs"] for r in qrows) == exploded.count()
        # the two planted cliques appear as self rows with m=3 and m=2
        selfs = sorted(
            (r["m_a"], r["implied_pairs"]) for r in qrows if r["fp_a"] == r["fp_b"]
        )
        assert selfs[-2:] == [(2, 1), (3, 3)] or (2, 1) in selfs and (3, 3) in selfs
        # every cross row is a genuine distinct-fp pair within distance
        for r in qrows:
            if r["fp_a"] != r["fp_b"]:
                assert 1 <= r["hamming"] <= 2
                assert r["implied_pairs"] == r["m_a"] * r["m_b"]


class TestSimhashLookup:
    def test_batch_finds_planted_dup_and_unique(self, spark):
        from hebrew_tutor_data_pipeline_spark.operators.dedup import (
            simhash_lookup_pairs,
        )

        index = spark.createDataFrame(
            [
                (1, "alpha beta gamma delta epsilon"),
                (2, "one two three four five six"),
                (3, "totally different words entirely here"),
            ],
            ["doc_id", "text"],
        )
        batch = spark.createDataFrame(
            [
                (100, "alpha beta gamma delta epsilon"),  # exact dup of 1
                (101, "qq ww ee rr tt yy uu ii"),          # nothing similar
            ],
            ["doc_id", "text"],
        )
        out = {
            r["id"]: (r["match_id"], r["hamming"], r["is_unique"])
            for r in simhash_lookup_pairs(
                batch, index, "doc_id", "text", bits=16, bands=2, max_distance=1
            ).collect()
        }
        assert out[100] == (1, 0, False)
        assert out[101][0] is None and out[101][2] is True
        assert set(out) == {100, 101}

    def test_best_match_prefers_lower_hamming_then_id(self, spark):
        from hebrew_tutor_data_pipeline_spark.operators.dedup import (
            simhash_lookup_pairs,
        )

        # two identical index docs -> tie on hamming, smaller id wins
        index = spark.createDataFrame(
            [(5, "x y z w v"), (9, "x y z w v")], ["doc_id", "text"]
        )
        batch = spark.createDataFrame([(200, "x y z w v")], ["doc_id", "text"])
        r = simhash_lookup_pairs(
            batch, index, "doc_id", "text", bits=16, bands=2, max_distance=1
        ).first()
        assert (r["match_id"], r["hamming"]) == (5, 0)


class TestMinhashLookup:
    def test_batch_finds_planted_dup_and_unique(self, spark):
        from hebrew_tutor_data_pipeline_spark.operators.dedup import (
            minhash_lookup_pairs,
        )

        index = spark.createDataFrame(
            [
                (1, "the quick brown fox jumps over the lazy dog today"),
                (2, "one two three four five six seven eight nine ten"),
                (3, "totally different words entirely here again now ok"),
            ],
            ["doc_id", "text"],
        )
        batch = spark.createDataFrame(
            [
                # near-dup of 1 (one word changed)
                (100, "the quick brown fox jumps over the lazy cat today"),
                (101, "qq ww ee rr tt yy uu ii oo pp"),  # nothing similar
            ],
            ["doc_id", "text"],
        )
        out = {
            r["id"]: (r["match_id"], r["is_unique"])
            for r in minhash_lookup_pairs(
                batch, index, "doc_id", "text", n=3, num_hashes=32, bands=16,
                threshold=0.5,
            ).collect()
        }
        assert out[100] == (1, False)
        assert out[101] == (None, True)
        assert set(out) == {100, 101}

    def test_tie_breaks_on_smaller_index_id(self, spark):
        from hebrew_tutor_data_pipeline_spark.operators.dedup import (
            minhash_lookup_pairs,
        )

        index = spark.createDataFrame(
            [(9, "a b c d e f g h"), (5, "a b c d e f g h")], ["doc_id", "text"]
        )
        batch = spark.createDataFrame([(200, "a b c d e f g h")], ["doc_id", "text"])
        r = minhash_lookup_pairs(batch, index, "doc_id", "text").first()
        assert (r["match_id"], r["jaccard"], r["is_unique"]) == (5, 1.0, False)

    def test_low_threshold_uses_struct_fallback_correctly(self, spark):
        """threshold < ~0.4757 would overflow the 19 rank bits of the
        packed-BIGINT argmin (rank·2^44 > 2^63); the struct-argmin
        fallback must kick in and still return the best match with the
        smallest-id tiebreak — not a silently corrupted winner."""
        from hebrew_tutor_data_pipeline_spark.operators.dedup import (
            minhash_lookup_pairs,
        )

        index = spark.createDataFrame(
            [
                (9, "a b c d e f g h i j"),
                (5, "a b c d e f g h i j"),  # tie with 9 — smaller id wins
                (2, "a b c d zz yy xx ww vv uu"),  # weaker overlap
            ],
            ["doc_id", "text"],
        )
        batch = spark.createDataFrame([(200, "a b c d e f g h i j")], ["doc_id", "text"])
        r = minhash_lookup_pairs(
            batch, index, "doc_id", "text", threshold=0.2
        ).first()
        assert (r["match_id"], r["jaccard"], r["is_unique"]) == (5, 1.0, False)

    def test_semijoin_verify_path_is_value_identical(self, spark, tmp_path, monkeypatch):
        """An index whose files hold SEMIJOIN_MIN_INDEX_ROWS rows or more
        flips the verification shingles onto the pinned
        shingle-after-semi-join path (r14, guide §3.3) — the output must
        be row-identical to the plain two-pass form, including unmatched
        batch docs (is_unique=True restores), on the same inputs."""
        from hebrew_tutor_data_pipeline_spark.operators import dedup
        from hebrew_tutor_data_pipeline_spark.scope import QueryScope

        spark.createDataFrame(
            [
                (1, "the quick brown fox jumps over the lazy dog"),
                (2, "pack my box with five dozen liquor jugs"),
                (3, "the quick brown fox jumps over the lazy cat"),
            ],
            ["doc_id", "text"],
        ).write.parquet(str(tmp_path / "index"))
        index = spark.read.parquet(str(tmp_path / "index"))
        batch = spark.createDataFrame(
            [
                (100, "the quick brown fox jumps over the lazy dog"),
                (101, "completely unrelated text with no overlap at all"),
            ],
            ["doc_id", "text"],
        )
        pinned: list = []
        real_pin = dedup.pin

        def recording_pin(df, *args, **kwargs):
            pinned.append(df)
            return real_pin(df, *args, **kwargs)

        monkeypatch.setattr(dedup, "pin", recording_pin)

        def lookup() -> list:
            with QueryScope(spark):
                rows = dedup.minhash_lookup_pairs(batch, index, "doc_id", "text").collect()
            return sorted(map(tuple, rows))

        plain = lookup()
        assert pinned == []
        monkeypatch.setattr(dedup, "SEMIJOIN_MIN_INDEX_ROWS", 3)
        semi = lookup()
        assert len(pinned) == 1
        assert plain == semi


class TestMixturePlan:
    def test_invariants_and_temperature_upweighting(self, spark):
        """Weights sum to 1; acceptance never exceeds the source size;
        alpha<1 gives SMALLER sources HIGHER acceptance rates (the whole
        point of temperature smoothing); alpha=1 with target_frac=1 is
        the identity plan (rate=resolution, everything accepted)."""
        from hebrew_tutor_data_pipeline_spark.operators.sampling import mixture_plan

        rows = [(i, "big" if i < 900 else ("mid" if i < 990 else "small"))
                for i in range(1000)]
        df = spark.createDataFrame(rows, ["id", "src"])

        plan = {r["group"]: r for r in
                mixture_plan(df, "id", "src", alpha=0.5, target_frac=0.5).collect()}
        assert abs(sum(r["weight"] for r in plan.values()) - 1.0) < 1e-4
        for r in plan.values():
            assert 0 <= r["n_accepted"] <= r["n_docs"]
            assert 0 <= r["rate_ppm"] <= 1_000_000
        # smaller sources get rates at least as high (small/mid saturate
        # at the 1.0 cap here), and the dominant source is truly cut
        assert plan["small"]["rate_ppm"] >= plan["mid"]["rate_ppm"] > plan["big"]["rate_ppm"]
        assert plan["big"]["rate_ppm"] < 1_000_000

        ident = {r["group"]: r for r in
                 mixture_plan(df, "id", "src", alpha=1.0, target_frac=1.0).collect()}
        for r in ident.values():
            assert r["rate_ppm"] == 1_000_000 and r["n_accepted"] == r["n_docs"]

    def test_deterministic_under_repartition(self, spark):
        from hebrew_tutor_data_pipeline_spark.operators.sampling import mixture_plan

        rows = [(i, f"s{i % 7}") for i in range(500)]
        a = spark.createDataFrame(rows, ["id", "src"])
        b = a.repartition(13)
        ra = sorted(map(tuple, mixture_plan(a, "id", "src").collect()))
        rb = sorted(map(tuple, mixture_plan(b, "id", "src").collect()))
        assert ra == rb


class TestNewOpEdgeCases:
    def test_duplicate_spans_short_and_empty(self, spark):
        from hebrew_tutor_data_pipeline_spark.operators.dedup import duplicate_spans

        short = spark.createDataFrame(
            [(1, "a b c"), (2, "a b c")], ["doc_id", "text"]
        )
        # both docs shorter than n -> no n-grams -> no spans, no error
        assert duplicate_spans(short, "doc_id", "text", n=10).count() == 0
        empty = spark.createDataFrame([], "doc_id long, text string")
        assert duplicate_spans(empty, "doc_id", "text", n=5).count() == 0

    def test_mixture_plan_empty_and_single_source(self, spark):
        from hebrew_tutor_data_pipeline_spark.operators.sampling import mixture_plan

        empty = spark.createDataFrame([], "id long, src string")
        assert mixture_plan(empty, "id", "src").count() == 0
        # enough ids that the polynomial hash's low-avalanche clusters
        # (consecutive short ids land in runs) straddle the threshold
        one = spark.createDataFrame([(i, "only") for i in range(400)], ["id", "src"])
        row = mixture_plan(one, "id", "src", alpha=0.5, target_frac=0.5).first()
        # single source: weight 1, rate = target_frac exactly
        assert row["weight"] == 1.0 and row["rate_ppm"] == 500_000
        assert 0 < row["n_accepted"] < 400

    def test_upsample_rates_and_copy_counts(self, spark):
        """allow_upsample lifts the 1.0 cap: the small source's rate
        exceeds 1e6 ppm and every doc contributes floor(rate) or
        floor(rate)+1 copies (integer part exact, fraction a hash draw).
        Uniform sources at target 1.0 sit exactly ON the old floor
        boundary — rate_ppm must be exactly 1e6, every doc 1 copy."""
        from hebrew_tutor_data_pipeline_spark.operators.sampling import mixture_plan

        rows = [(i, "big" if i < 900 else "small") for i in range(1000)]
        df = spark.createDataFrame(rows, ["id", "src"])
        plan = {r["group"]: r for r in
                mixture_plan(df, "id", "src", alpha=0.3, target_frac=1.0,
                             allow_upsample=True).collect()}
        assert plan["small"]["rate_ppm"] > 1_000_000 > plan["big"]["rate_ppm"]
        for g in plan.values():
            # each doc contributes floor(rate) or floor(rate)+1 copies
            lo = (g["rate_ppm"] // 1_000_000) * g["n_docs"]
            hi = (g["rate_ppm"] // 1_000_000 + 1) * g["n_docs"]
            assert lo <= g["n_accepted"] <= hi

        uni = [(i, f"s{i % 4}") for i in range(400)]
        u = {r["group"]: r for r in
             mixture_plan(spark.createDataFrame(uni, ["id", "src"]), "id", "src",
                          alpha=0.5, target_frac=1.0, allow_upsample=True).collect()}
        for g in u.values():
            assert g["rate_ppm"] == 1_000_000
            assert g["n_accepted"] == g["n_docs"]


class TestDsirWeights:
    def test_target_like_docs_score_higher(self, spark):
        """Docs sharing the target slice's vocabulary must outrank docs
        made of raw-only vocabulary — the defining DSIR property."""
        from pyspark.sql import functions as F
        from hebrew_tutor_data_pipeline_spark.operators.sampling import dsir_weights

        target = [(i, "alpha beta gamma delta epsilon zeta", True) for i in range(20)]
        like_t = [(100 + i, "alpha beta gamma delta", False) for i in range(5)]
        unlike = [(200 + i, "rock stone sand gravel pebble dust", False) for i in range(5)]
        df = spark.createDataFrame(target + like_t + unlike, ["id", "text", "is_t"])
        w = {
            r["id"]: r["avg_logratio"]
            for r in dsir_weights(df, "id", "text", F.col("is_t")).collect()
        }
        assert min(w[100 + i] for i in range(5)) > max(w[200 + i] for i in range(5))

    def test_deterministic_under_repartition(self, spark):
        from pyspark.sql import functions as F
        from hebrew_tutor_data_pipeline_spark.operators.sampling import dsir_weights

        rows = [(i, f"tok{i % 17} tok{i % 5} tok{i % 3}", i % 4 == 0) for i in range(300)]
        a = spark.createDataFrame(rows, ["id", "text", "is_t"])
        b = a.repartition(13)
        ra = sorted(map(tuple, dsir_weights(a, "id", "text", F.col("is_t")).collect()))
        rb = sorted(map(tuple, dsir_weights(b, "id", "text", F.col("is_t")).collect()))
        assert ra == rb
        assert len(ra) == 300


class TestSnapshotDiff:
    def test_all_four_statuses(self, spark):
        from hebrew_tutor_data_pipeline_spark.operators.diff import snapshot_diff

        old = spark.createDataFrame(
            [(1, 11), (2, 22), (3, 33)], ["id", "fp"]
        )
        new = spark.createDataFrame(
            [(2, 22), (3, 99), (4, 44)], ["id", "fp"]
        )
        got = {r["id"]: r["status"] for r in snapshot_diff(old, new, "id", "fp").collect()}
        assert got == {1: "removed", 2: "unchanged", 3: "changed", 4: "added"}

    def test_disjoint_and_empty(self, spark):
        from hebrew_tutor_data_pipeline_spark.operators.diff import snapshot_diff

        old = spark.createDataFrame([(1, 10)], ["id", "fp"])
        empty = spark.createDataFrame([], "id long, fp long")
        assert [tuple(r) for r in snapshot_diff(old, empty, "id", "fp").collect()] == [
            (1, "removed", 10, None)
        ]
        assert [tuple(r) for r in snapshot_diff(empty, old, "id", "fp").collect()] == [
            (1, "added", None, 10)
        ]
        assert snapshot_diff(empty, empty, "id", "fp").count() == 0

    def test_null_fingerprints_use_membership_not_nullness(self, spark):
        """A doc present in BOTH snapshots with a NULL digest must read
        'unchanged' (membership comes from per-side markers), and a NULL
        vs non-NULL digest pair is 'changed'."""
        from hebrew_tutor_data_pipeline_spark.operators.diff import snapshot_diff

        old = spark.createDataFrame([(1, None), (2, None)], "id long, fp long")
        new = spark.createDataFrame([(1, None), (2, 22)], "id long, fp long")
        got = {r["id"]: r["status"] for r in snapshot_diff(old, new, "id", "fp").collect()}
        assert got == {1: "unchanged", 2: "changed"}


class TestEmbeddingOutliers:
    def _corpus(self, spark):
        # two tight clusters on orthogonal axes + one far stray per cluster
        rows = []
        for i in range(30):
            rows.append((i, [10.0 + (i % 3) * 0.01, 0.1, 0.0]))
        for i in range(30, 60):
            rows.append((i, [0.1, 10.0 + (i % 3) * 0.01, 0.0]))
        rows.append((98, [7.0, 0.2, 7.0]))   # stray near cluster 1's axis plane
        rows.append((99, [0.2, 7.0, 7.0]))   # stray near cluster 2's
        return spark.createDataFrame(rows, ["id", "vec"])

    def test_strays_flagged_and_cutoff_exact(self, spark):
        import math
        from hebrew_tutor_data_pipeline_spark.operators.ann import (
            embedding_outliers,
            kmeans_codebook,
        )

        df = self._corpus(spark)
        cb = kmeans_codebook(df, "id", "vec", k=2, iters=2)
        out = embedding_outliers(df, "id", "vec", cb, denom=20).collect()
        flagged = {r["id"] for r in out if r["is_outlier"]}
        assert {98, 99} <= flagged
        # integer cutoff: each cell flags exactly ceil(n/20)
        by_cell: dict[int, list] = {}
        for r in out:
            by_cell.setdefault(r["cell"], []).append(r)
        for cell, rows in by_cell.items():
            n_flag = sum(1 for r in rows if r["is_outlier"])
            assert n_flag == math.ceil(len(rows) / 20)
            # flagged rows are exactly the lowest-cosine ranks
            ranks = sorted(r["cell_rank"] for r in rows if r["is_outlier"])
            assert ranks == list(range(1, n_flag + 1))

    def test_deterministic_under_repartition(self, spark):
        from hebrew_tutor_data_pipeline_spark.operators.ann import (
            embedding_outliers,
            kmeans_codebook,
        )

        df = self._corpus(spark)
        cb = kmeans_codebook(df, "id", "vec", k=2, iters=2)
        ra = sorted(map(tuple, embedding_outliers(df, "id", "vec", cb).collect()))
        rb = sorted(
            map(tuple, embedding_outliers(df.repartition(7), "id", "vec", cb).collect())
        )
        assert ra == rb


class TestCurationInvariants:
    def test_dsir_weights_duplication_invariant(self, spark):
        """Weights are content-addressed: in a corpus where every doc
        appears twice under different ids, each clone must score EXACTLY
        like its original (same text + same flag -> same weight, no id
        or partition dependence), and the defining target-vs-raw
        separation must survive the duplication."""
        from pyspark.sql import functions as F
        from hebrew_tutor_data_pipeline_spark.operators.sampling import dsir_weights

        rows = [(i, f"w{i % 11} w{i % 7} w{i % 5} w{i % 3}", i % 3 == 0) for i in range(120)]
        base = spark.createDataFrame(rows, ["id", "text", "is_t"])
        doubled = base.union(
            base.select((F.col("id") + 1000).alias("id"), "text", "is_t")
        )
        wa = {r["id"]: r["avg_logratio"]
              for r in dsir_weights(base, "id", "text", F.col("is_t")).collect()}
        wb = {r["id"]: r["avg_logratio"]
              for r in dsir_weights(doubled, "id", "text", F.col("is_t")).collect()}
        assert set(wb) == set(wa) | {k + 1000 for k in wa}
        for k in wa:
            assert wb[k] == wb[k + 1000]

    def test_snapshot_diff_swap_symmetry(self, spark):
        from hebrew_tutor_data_pipeline_spark.operators.diff import snapshot_diff

        old = spark.createDataFrame([(1, 11), (2, 22), (3, 33)], ["id", "fp"])
        new = spark.createDataFrame([(2, 22), (3, 99), (4, 44)], ["id", "fp"])
        fwd = {r["id"]: r for r in snapshot_diff(old, new, "id", "fp").collect()}
        rev = {r["id"]: r for r in snapshot_diff(new, old, "id", "fp").collect()}
        swap = {"added": "removed", "removed": "added",
                "changed": "changed", "unchanged": "unchanged"}
        assert set(fwd) == set(rev)
        for i in fwd:
            assert rev[i]["status"] == swap[fwd[i]["status"]]
            assert rev[i]["fp_old"] == fwd[i]["fp_new"]
            assert rev[i]["fp_new"] == fwd[i]["fp_old"]


class TestBpeMerges:
    def test_greedy_leftmost_and_rounds(self, spark):
        from hebrew_tutor_data_pipeline_spark.operators.bpe import bpe_merges

        df = spark.createDataFrame(
            [(1, "a b a b c"), (2, "b c a b"), (3, "a a a")], ["id", "text"]
        )
        got = [tuple(r) for r in bpe_merges(df, "id", "text", rounds=2).collect()]
        # round 1: (a,b) x3 beats (b,c) x2 and (a,a) x2... (a,a) count:
        # doc3 'a a a' has two adjacent (a,a) pairs -> (a,b)=3 wins
        assert got[0] == (1, "a", "b", 3)
        # after fusing a+b: docs are [a+b, a+b, c], [b, c, a+b], [a, a, a]
        # pairs: (a+b,a+b)=1, (a+b,c)=1, (b,c)=1, (c,a+b)=1, (a,a)=2
        assert got[1] == (2, "a", "a", 2)

    def test_overlapping_self_pair_is_nonoverlapping_greedy(self, spark):
        from hebrew_tutor_data_pipeline_spark.operators.bpe import (
            bpe_merges,
            merge_pair_fold,
        )
        from pyspark.sql import functions as F

        df = spark.createDataFrame([(1, ["a", "a", "a", "a", "a"])], ["id", "t"])
        out = df.select(merge_pair_fold(F.col("t"), "a", "a").alias("t")).first()["t"]
        # greedy leftmost non-overlapping: 5 a's -> a+a, a+a, a
        assert out == ["a+a", "a+a", "a"]

    def test_short_and_empty_docs(self, spark):
        from hebrew_tutor_data_pipeline_spark.operators.bpe import bpe_merges

        df = spark.createDataFrame([(1, "solo"), (2, "")], ["id", "text"])
        assert bpe_merges(df, "id", "text", rounds=2).count() == 0

    def test_deterministic_under_repartition(self, spark):
        from hebrew_tutor_data_pipeline_spark.operators.bpe import bpe_merges

        rows = [(i, f"t{i % 5} t{(i + 1) % 5} t{(i + 2) % 7} t{i % 3}") for i in range(200)]
        a = spark.createDataFrame(rows, ["id", "text"])
        ra = [tuple(r) for r in bpe_merges(a, "id", "text", rounds=3).collect()]
        rb = [tuple(r) for r in bpe_merges(a.repartition(13), "id", "text", rounds=3).collect()]
        assert ra == rb and len(ra) == 3

    def test_apply_merges_encodes_with_learned_table(self, spark):
        """Encoding with the learned table must reproduce the training
        loop's final tokenization (train folds in the same order), with
        consistent raw/encoded/fused counts."""
        from hebrew_tutor_data_pipeline_spark.operators.bpe import (
            apply_merges,
            bpe_merges,
        )

        df = spark.createDataFrame(
            [(1, "a b a b c"), (2, "b c a b"), (3, "a a a"), (4, "")],
            ["id", "text"],
        )
        table = bpe_merges(df, "id", "text", rounds=2).collect()
        pairs = [(r["left"], r["right"]) for r in sorted(table, key=lambda r: r["round"])]
        assert pairs == [("a", "b"), ("a", "a")]
        got = {r["id"]: r for r in apply_merges(df, "id", "text", pairs).collect()}
        assert got[1]["tokens"] == ["a+b", "a+b", "c"]
        assert got[2]["tokens"] == ["b", "c", "a+b"]
        assert got[3]["tokens"] == ["a+a", "a"]
        for r in got.values():
            assert r["n_fused"] == r["n_tokens_raw"] - r["n_tokens_bpe"]


class TestMixturePythonReplay:
    @staticmethod
    def _py_mixture(rows, alpha, target_frac, allow_upsample):
        """Exact Python replay of mixture_plan: polynomial salted hash,
        temperature weights, half-away ppm rounding, acceptance/copies.
        Inputs must keep rates away from integer ppm boundaries (use
        non-uniform group sizes) — then 1-ulp float-association noise
        cannot flip any rounded value."""
        import math
        from collections import Counter

        M, B = 2_147_483_647, 31

        def th(s: str) -> int:
            h = 0
            for c in s:
                h = (h * B + ord(c)) % M
            return h

        counts = Counter(g for _, g in rows)
        z = sum(c ** alpha for c in counts.values())
        n = sum(counts.values())
        out = {}
        for g, c in counts.items():
            w = c ** alpha / z
            raw = w * (target_frac * n) / c
            if not allow_upsample:
                raw = min(1.0, raw)
            rate_ppm = math.floor(raw * 1_000_000 + 0.5)  # half-away
            weight = math.floor(w * 1_000_000 + 0.5) / 1_000_000
            acc = 0
            for i, gg in rows:
                if gg != g:
                    continue
                ah = th(f"mix|{i}") % 1_000_000
                if allow_upsample:
                    acc += rate_ppm // 1_000_000 + (1 if ah < rate_ppm % 1_000_000 else 0)
                else:
                    acc += 1 if ah < rate_ppm else 0
            out[g] = (c, weight, rate_ppm, acc)
        return out

    def test_both_modes_match_python_exactly(self, spark):
        from hebrew_tutor_data_pipeline_spark.operators.sampling import mixture_plan

        rows = [(i, "big" if i < 700 else ("mid" if i < 930 else "small"))
                for i in range(1000)]
        df = spark.createDataFrame(rows, ["id", "src"])
        for up in (False, True):
            got = {
                r["group"]: (r["n_docs"], r["weight"], r["rate_ppm"], r["n_accepted"])
                for r in mixture_plan(
                    df, "id", "src", alpha=0.3, target_frac=0.7, allow_upsample=up
                ).collect()
            }
            want = self._py_mixture(rows, 0.3, 0.7, up)
            assert got == want, (up, got, want)


class TestZorderLayout:
    def test_morton_interleave_matches_python(self, spark):
        """Engine zorder_key == a bit-twiddling Python reference on a
        grid sample, and the SQL twin evaluates to the same values in
        DuckDB (the property the oracle depends on)."""
        import duckdb

        from hebrew_tutor_data_pipeline_spark.operators.layout import (
            zorder_key,
            zorder_key_sql,
        )

        def py_morton(a, b, bits=10):
            z = 0
            for i in range(bits):
                z |= ((a >> i) & 1) << (2 * i)
                z |= ((b >> i) & 1) << (2 * i + 1)
            return z

        pairs = [(a, b) for a in (0, 1, 5, 513, 1023) for b in (0, 2, 7, 800, 1023)]
        df = spark.createDataFrame(pairs, ["a", "b"])
        got = {
            (r["a"], r["b"]): r["z"]
            for r in df.select(
                "a", "b", zorder_key(F.col("a"), F.col("b"), 10).alias("z")
            ).collect()
        }
        for a, b in pairs:
            assert got[(a, b)] == py_morton(a, b), (a, b)
        sql_got = duckdb.sql(
            "SELECT a, b, " + zorder_key_sql("a", "b", 10) + " AS z FROM "
            "(SELECT unnest($1) AS a, unnest($2) AS b)",
            params=[[p[0] for p in pairs], [p[1] for p in pairs]],
        ).fetchall()
        for a, b, z in sql_got:
            assert z == py_morton(a, b), (a, b)

    def test_zorder_prunes_both_predicates_linear_only_one(self, spark):
        """On a uniform 1024x1024 grid sample, the linear date layout
        hits EVERY file for the key1 equality while z-order hits a
        small subset on both predicates — the whole point of the
        curve."""
        import random

        from hebrew_tutor_data_pipeline_spark.operators.layout import (
            bucket_minmax_stats,
            skipping_report,
            zorder_key,
        )

        rng = random.Random(7)
        rows = [(rng.randrange(1024), rng.randrange(1024)) for _ in range(4000)]
        df = spark.createDataFrame(rows, ["k1", "k2"])
        z = bucket_minmax_stats(
            df, F.col("k1"), F.col("k2"),
            F.shiftright(zorder_key(F.col("k1"), F.col("k2"), 10), 15), "zorder",
        )
        lin = bucket_minmax_stats(
            df, F.col("k1"), F.col("k2"), F.shiftright(F.col("k2"), 5), "linear",
        )
        rep = {
            (r["layout"], r["predicate"]): (r["files_hit"], r["files_total"])
            for r in skipping_report(
                z.unionByName(lin), k1_eq=500, k2_lo=100, k2_hi=130
            ).collect()
        }
        # linear: the date range prunes hard, the custkey eq scans the world
        assert rep[("linear", "key1_eq")][0] == rep[("linear", "key1_eq")][1] == 32
        assert rep[("linear", "key2_range")][0] <= 2
        # z-order: BOTH predicates prune (hyper-rectangular buckets)
        assert rep[("zorder", "key1_eq")][0] < 32
        assert rep[("zorder", "key2_range")][0] < 32


class TestIVFPQ:
    """Composed IVFADC (coarse IVF + PQ over residuals): a pure-Python
    replay of every stage — assignment, residual, encoding, probe, ADC —
    must reproduce the distributed result, and the result must be
    invariant to the input partitioning."""

    def _replay(self, rows, qids, num_cells=8, nprobe=2, m=4, ncent=16, k=5):
        def r6(x):
            return math.copysign(math.floor(abs(x) * 1e6 + 0.5) / 1e6, x)

        def cos(a, b):
            d = sum(x * y for x, y in zip(a, b))
            na = math.sqrt(sum(x * x for x in a))
            nb = math.sqrt(sum(x * x for x in b))
            return r6(d / (na * nb))

        ids = sorted(i for i, _ in rows)
        vecs = dict(rows)
        cells = ids[:num_cells]
        cent = {c: vecs[c] for c in cells}

        def best_cells(v, n):
            scored = sorted(((-cos(v, cent[c]), c) for c in cells))
            return [c for _, c in scored[:n]]

        def residual(v, c):
            return [x - y for x, y in zip(v, cent[c])]

        cb = [residual(vecs[i], best_cells(vecs[i], 1)[0])
              for i in ids[num_cells:num_cells + ncent]]
        dim = len(cb[0])
        sub = dim // m

        def d2(a, b, j):
            sa = a[j * sub:(j + 1) * sub]
            sb = b[j * sub:(j + 1) * sub]
            return (sum(x * x for x in sa) - 2 * sum(x * y for x, y in zip(sa, sb))) \
                + sum(x * x for x in sb)

        assigned = {i: best_cells(vecs[i], 1)[0] for i in ids}
        codes = {
            i: [min(range(ncent), key=lambda c: (d2(residual(vecs[i], assigned[i]), cb[c], j), c))
                for j in range(m)]
            for i in ids
        }
        out = {}
        for q in qids:
            cand = []
            for c in best_cells(vecs[q], nprobe):
                qres = residual(vecs[q], c)
                for i in ids:
                    if i != q and assigned[i] == c:
                        dist = round(sum(d2(qres, cb[codes[i][j]], j) for j in range(m)), 6)
                        cand.append((dist, i))
            out[q] = sorted(cand)[:k]
        return out

    def test_matches_python_replay(self, spark):
        from hebrew_tutor_data_pipeline_spark.operators.ann import ivfpq_topk

        rows = [
            (i, [math.sin((i + 1) * (d + 1) * 0.7) for d in range(8)])
            for i in range(60)
        ]
        df = spark.createDataFrame(rows, ["vec_id", "embedding"])
        queries = df.filter(F.col("vec_id") < 3)
        got = ivfpq_topk(
            df, queries, "vec_id", "embedding",
            k=5, num_cells=8, nprobe=2, m=4, ncent=16,
        ).collect()
        expect = self._replay(rows, [0, 1, 2])
        for q in (0, 1, 2):
            mine = [
                (r["adc_dist"], r["neighbor_id"])
                for r in sorted(
                    (r for r in got if r["query_id"] == q), key=lambda r: r["rank"]
                )
            ]
            assert [i for _, i in expect[q]] == [i for _, i in mine], q
            for (de, _), (dm, _) in zip(expect[q], mine):
                assert abs(de - dm) < 1e-6

    def test_undersized_corpus_raises_clearly(self, spark):
        """A corpus smaller than num_cells + ncent must fail with a clear
        ValueError, not an opaque np.stack error or a silently degenerate
        PQ codebook trained on a short slice."""
        import pytest as _pytest

        from hebrew_tutor_data_pipeline_spark.operators.ann import ivfpq_topk

        rows = [(i, [float(i + d) for d in range(8)]) for i in range(10)]
        df = spark.createDataFrame(rows, ["vec_id", "embedding"])
        qs = df.filter(F.col("vec_id") < 1)
        with _pytest.raises(ValueError, match="num_cells \\+ ncent"):
            ivfpq_topk(
                df, qs, "vec_id", "embedding",
                k=5, num_cells=8, nprobe=2, m=4, ncent=16,
            )

    def test_partition_invariance(self, spark):
        import random

        from hebrew_tutor_data_pipeline_spark.operators.ann import ivfpq_topk

        rng = random.Random(17)
        rows = [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(120)]
        a = spark.createDataFrame(rows, ["vec_id", "embedding"])
        qs = a.filter(F.col("vec_id") < 3)
        kw = dict(k=10, num_cells=8, nprobe=2, m=4, ncent=16)
        ra = sorted(map(tuple, ivfpq_topk(a, qs, "vec_id", "embedding", **kw).collect()))
        b = a.repartition(13)
        qb = b.filter(F.col("vec_id") < 3)
        rb = sorted(map(tuple, ivfpq_topk(b, qb, "vec_id", "embedding", **kw).collect()))
        assert ra == rb


class TestIVFPQReconstruction:
    def test_codebook_vectors_lossless_and_nonneg(self, spark):
        from hebrew_tutor_data_pipeline_spark.operators.ann import (
            ivfpq_reconstruction,
        )

        rows = [
            (i, [math.sin((i + 1) * (d + 1) * 0.7) for d in range(8)])
            for i in range(60)
        ]
        df = spark.createDataFrame(rows, ["vec_id", "embedding"])
        out = {
            r["id"]: r["err_micro"]
            for r in ivfpq_reconstruction(
                df, "vec_id", "embedding", num_cells=8, m=4, ncent=16
            ).collect()
        }
        assert len(out) == 60
        assert all(v >= 0 for v in out.values())
        # ids 8..23 supplied the PQ codebook: their own residual IS a
        # centroid, so every subspace minimum — and the error — is zero
        for i in range(8, 24):
            assert out[i] == 0, i
        # and the tiers must lose SOMETHING somewhere, or the test is vacuous
        assert any(v > 0 for v in out.values())

    def test_partition_invariance(self, spark):
        from hebrew_tutor_data_pipeline_spark.operators.ann import (
            ivfpq_reconstruction,
        )

        rows = [
            (i, [math.sin((i + 3) * (d + 2) * 1.3) for d in range(8)])
            for i in range(80)
        ]
        a = spark.createDataFrame(rows, ["vec_id", "embedding"])
        ra = sorted(map(tuple, ivfpq_reconstruction(a, "vec_id", "embedding").collect()))
        rb = sorted(
            map(
                tuple,
                ivfpq_reconstruction(
                    a.repartition(7), "vec_id", "embedding"
                ).collect(),
            )
        )
        assert ra == rb


class TestAnnGuards:
    def test_ivf_nprobe_clamped_to_num_cells(self, spark):
        """nprobe > num_cells is just an exhaustive probe — it must
        return full results, not crash in executor tasks (argsort only
        has num_cells columns)."""
        from hebrew_tutor_data_pipeline_spark.operators.ann import ivf_topk

        rows = [(i, [float(i + d) for d in range(4)]) for i in range(20)]
        df = spark.createDataFrame(rows, ["vec_id", "embedding"])
        qs = df.filter(F.col("vec_id") < 1)
        got = ivf_topk(
            df, qs, "vec_id", "embedding", k=5, num_cells=4, nprobe=8
        ).collect()
        assert len(got) == 5

    def test_srp_bucket_rejects_wrong_dim(self, spark):
        """A vector length != dim used to NULL-poison every projection
        and silently hash ALL rows to bucket 0 (one all-pairs bucket);
        it must fail loudly instead."""
        from pyspark.sql.utils import PythonException

        from hebrew_tutor_data_pipeline_spark.operators.ann import (
            signed_projection_bucket,
        )

        df = spark.createDataFrame(
            [(1, [0.1] * 32)], ["id", "vec"]
        )
        bad = df.select(signed_projection_bucket(F.col("vec"), bits=4, dim=64))
        with pytest.raises(Exception, match="vector length"):
            bad.collect()
        ok = df.select(
            signed_projection_bucket(F.col("vec"), bits=4, dim=32).alias("b")
        ).first()
        assert ok["b"] is not None


class TestConnectedComponentRoots:
    def test_roots_present_with_self_component(self, spark):
        from hebrew_tutor_data_pipeline_spark.operators.dedup import (
            connected_components,
        )

        df = spark.createDataFrame([(1, 2), (2, 3), (10, 12)], ["src", "dst"])
        got = {
            r["node"]: r["component"]
            for r in connected_components(df).collect()
        }
        # every edge-touching node appears, roots map to themselves
        assert got == {1: 1, 2: 1, 3: 1, 10: 10, 12: 10}


class TestReviewBatch2Guards:
    def test_allocate_proportional_contiguous_off_grid(self, spark):
        """Durations off the 2-dp grid (1.006 each): end must derive from
        the INCLUSIVE running sum, or end_2=round(start_2+dur) lands on
        2.02 while start_3=round(cumsum) lands on 2.01 — overlap."""
        from hebrew_tutor_data_pipeline_spark.operators.alignment import (
            allocate_proportional,
        )

        df = spark.createDataFrame(
            [("g", i, 1.0, 3.018) for i in range(1, 4)],
            ["grp", "i", "w", "total"],
        )
        rows = sorted(
            allocate_proportional(df, ["grp"], "i", "w", "total").collect(),
            key=lambda r: r["i"],
        )
        for prev, cur in zip(rows, rows[1:]):
            assert prev["end"] == cur["start"], (prev, cur)

    def test_validate_total_duration_rejects_column_collision(self, spark):
        from hebrew_tutor_data_pipeline_spark.operators import alignment

        df = spark.createDataFrame(
            [("a", 1, 900.0, 1000.0)], "grp string, i int, end double, total_duration double"
        )
        with pytest.raises(ValueError, match="overwrite"):
            alignment.validate_total_duration(
                df, ["grp"], "end", "total_duration"
            )

    def test_mixture_plan_null_group_is_consistent(self, spark):
        """A NULL source must be a real group: its plan row's n_accepted
        reconciles with its rate instead of reporting 0."""
        from hebrew_tutor_data_pipeline_spark.operators.sampling import mixture_plan

        df = spark.createDataFrame(
            [(i, None if i < 40 else "en") for i in range(100)],
            "id long, lang string",
        )
        rows = {r["group"]: r for r in mixture_plan(
            df, "id", "lang", alpha=1.0, target_frac=1.0
        ).collect()}
        null_row = rows[None]
        assert null_row["n_docs"] == 40
        assert null_row["rate_ppm"] == 1_000_000
        assert null_row["n_accepted"] == 40  # rate 1.0 accepts all

    def test_dsir_weights_keeps_zero_gram_docs(self, spark):
        from hebrew_tutor_data_pipeline_spark.operators.sampling import dsir_weights

        df = spark.createDataFrame(
            [(1, "some normal text here", True), (2, None, False), (3, "", False)],
            "id long, text string, is_t boolean",
        )
        got = {r["id"]: r for r in dsir_weights(df, "id", "text", F.col("is_t")).collect()}
        assert set(got) == {1, 2, 3}  # one row per input doc
        # NULL text emits no gram rows — the explode path used to drop
        # the doc entirely; now it stays with gram_ct 0 / NULL weight
        assert got[2]["gram_ct"] == 0 and got[2]["avg_logratio"] is None
        # empty-STRING text likewise: strict bigrams mean no '' gram is
        # minted for it (the word_ngrams shorter-than-n branch would)
        assert got[3]["gram_ct"] == 0 and got[3]["avg_logratio"] is None
        # 4 tokens → 4 unigrams + 3 bigrams, no phantom joined shingle
        assert got[1]["gram_ct"] == 7


def test_expected_grid_zero_count_key_emits_no_rows(spark):
    """sequence(1, 0) DESCENDS ([1, 0]) — a zero-count key used to emit
    two phantom grid rows, corrupting the J9 missing-audio audit."""
    from hebrew_tutor_data_pipeline_spark.sources.readers import expected_grid

    df = spark.createDataFrame([("a", 3), ("b", 0)], ["k", "n"])
    got = sorted((r["k"], r["chapter"]) for r in expected_grid(df, "k", "n").collect())
    assert got == [("a", 1), ("a", 2), ("a", 3)]


class TestReviewBatch3Guards:
    def test_asof_null_payload_fields_stay_with_their_row(self, spark):
        """The as-of match is a ROW: a NULL field in the matched right
        row must come through as NULL, not be backfilled from an older
        right row (per-column last(ignorenulls) stitched rows together)."""
        from hebrew_tutor_data_pipeline_spark.operators.asof import asof_join

        right = spark.createDataFrame(
            [(1, 1.0, 5, 9), (1, 2.0, None, 7)],
            "k long, ts double, a int, b int",
        )
        left = spark.createDataFrame([(1, 3.0)], "k long, ts double")
        r = asof_join(left, right, ["k"], "ts", "ts").first()
        assert r["ts_right"] == 2.0
        assert r["b_right"] == 7
        assert r["a_right"] is None  # NOT 5 from the ts=1.0 row

    def test_energy_bars_all_silent_file(self, spark):
        """max rms == 0: bar_len must be 0, not a DIVIDE_BY_ZERO abort
        under the session's default ANSI mode."""
        from hebrew_tutor_data_pipeline_spark.operators.audio import energy_bars

        df = spark.createDataFrame(
            [("f", 0, 0.0), ("f", 1, 0.0)], "path string, seg_idx int, rms_energy double"
        )
        got = {r["seg_idx"]: r["bar_len"] for r in energy_bars(df).collect()}
        assert got == {0: 0, 1: 0}

    def test_suggest_intro_trim_keeps_short_files(self, spark):
        """A file with no segments at index >= skip_segments must still
        get a row (should_trim false), not vanish from the output."""
        from hebrew_tutor_data_pipeline_spark.operators.audio import (
            suggest_intro_trim,
        )

        df = spark.createDataFrame(
            [("long", i, float(i * 2), 0.5 if i < 2 else 0.01) for i in range(5)]
            + [("short", 0, 0.0, 0.5), ("short", 1, 2.0, 0.5)],
            "path string, seg_idx int, start_time double, rms_energy double",
        )
        got = {r["path"]: r for r in suggest_intro_trim(df).collect()}
        assert set(got) == {"long", "short"}
        assert got["short"]["should_trim"] is False
        assert got["short"]["first_loud_start"] is None

    def test_with_salt_handles_negative_hash(self, spark):
        """pmod (no abs) maps negative 32-bit hashes into [0, n) — abs
        throws ARITHMETIC_OVERFLOW on INT_MIN under ANSI mode."""
        from hebrew_tutor_data_pipeline_spark.operators.skew import with_salt

        df = spark.createDataFrame([(i,) for i in range(500)], ["v"])
        salts = [r["_salt"] for r in with_salt(df, 16).collect()]
        assert all(0 <= s < 16 for s in salts)
        assert len(set(salts)) > 1  # actually spreads


class TestExplodeNonempty:
    """functions/generate.explode_nonempty: row-identical to inner
    explode for constructed (non-null-element) arrays, including empty
    and NULL arrays contributing no rows."""

    def test_matches_inner_explode_semantics(self, spark):
        from hebrew_tutor_data_pipeline_spark.functions.generate import (
            explode_nonempty,
        )

        df = spark.createDataFrame(
            [(1, ["a", "b"]), (2, []), (3, None), (4, ["c"])],
            "id long, arr array<string>",
        )
        inner = [
            tuple(r)
            for r in df.select("id", F.explode("arr").alias("x")).orderBy("id", "x").collect()
        ]
        outer = [
            tuple(r)
            for r in explode_nonempty(df, ["id"], "arr", "x").orderBy("id", "x").collect()
        ]
        assert inner == outer == [(1, "a"), (1, "b"), (4, "c")]

    def test_no_inferred_filter_below_generate(self, spark):
        from hebrew_tutor_data_pipeline_spark.functions.generate import (
            explode_nonempty,
        )

        df = spark.createDataFrame([(1, "a b c")], "id long, t string")
        heavy = F.array_distinct(F.split(F.col("t"), " "))
        plan = (
            explode_nonempty(df, ["id"], heavy, "x")
            ._jdf.queryExecution().optimizedPlan().toString()
        )
        for line in plan.splitlines():
            ls = line.strip().lstrip("+-: ")
            if ls.startswith("Filter"):
                assert "array_distinct" not in ls, ls


def _memo_hit(spark, key):
    """The memo's value for ``key``, failing the test if it is absent."""
    from hebrew_tutor_data_pipeline_spark.scope import memo

    return memo(spark, key, lambda: pytest.fail(f"memo miss for {key}"))


class TestDedupClusterMemo:
    """The shared SimHash-clustering memo behind dedup_clusters /
    dedup_cluster_stats (catalog_ml._dedup_cluster_labels): one
    connected-components run serves both entries."""

    SF_SMOKE = "/root/testdata/sf0.001"

    def test_stats_consistent_with_clusters_and_memo_shared(self, spark):
        from hebrew_tutor_data_pipeline_spark.plans import catalog_ml as ml
        from hebrew_tutor_data_pipeline_spark.scope import clear_memo, memo

        clear_memo()
        key = ("dedup_cluster_labels", self.SF_SMOKE)
        clusters = ml.dedup_clusters(spark, self.SF_SMOKE).collect()
        lab = _memo_hit(spark, key)
        stats = {
            r["cluster_size"]: (r["n_clusters"], r["n_docs"], r["n_dup_docs"])
            for r in ml.dedup_cluster_stats(spark, self.SF_SMOKE).collect()
        }
        # the second entry rode the memo — the same labeling, no rebuild
        assert _memo_hit(spark, key) is lab
        # independent recomputation of the size distribution from the
        # parent entry's own output
        from collections import Counter

        sizes = Counter(r["component_size"] for r in clusters)
        expect = {}
        for size, total_docs in sizes.items():
            n_clusters = total_docs // size
            expect[size] = (
                n_clusters,
                size * n_clusters,
                (size - 1) * n_clusters,
            )
        assert stats == expect
        clear_memo()
        assert memo(spark, key, lambda: "rebuilt") == "rebuilt"
        clear_memo()

    def test_memo_fifo_eviction_unpersists_oldest(self, spark, monkeypatch):
        from hebrew_tutor_data_pipeline_spark.plans import catalog_ml as ml
        from tests.conftest import assert_consumer_memo_evicts_oldest

        assert_consumer_memo_evicts_oldest(
            spark,
            monkeypatch,
            lambda: ml._dedup_cluster_labels(spark, self.SF_SMOKE),
            ("dedup_cluster_labels", self.SF_SMOKE),
        )


class TestBpeMergeMemo:
    """The shared BPE merge-table memo behind bpe_merge_rounds /
    bpe_encode_corpus / bpe_vocab_coverage (catalog_ml._bpe_merge_table):
    the three entries train the identical 3-round table, so one training
    (three corpus-wide pair counts) serves all of them."""

    SF_SMOKE = "/root/testdata/sf0.001"

    def test_memo_matches_fresh_training_and_is_shared(self, spark):
        from hebrew_tutor_data_pipeline_spark.operators import bpe
        from hebrew_tutor_data_pipeline_spark.plans import catalog_ml as ml
        from hebrew_tutor_data_pipeline_spark.plans.catalog import T
        from hebrew_tutor_data_pipeline_spark.scope import clear_memo, memo
        from hebrew_tutor_data_pipeline_spark.sources.readers import spread

        clear_memo()
        key = ("bpe_merges", self.SF_SMOKE)
        memo_rows = sorted(
            map(tuple, ml.bpe_merge_rounds(spark, self.SF_SMOKE).collect())
        )
        table = _memo_hit(spark, key)
        # the encode entry rides the same memo — no retrain
        ml.bpe_encode_corpus(spark, self.SF_SMOKE)
        assert _memo_hit(spark, key) is table
        # value check against an INDEPENDENT (memo-free) training
        d = spread(T(spark, self.SF_SMOKE, "documents"))
        fresh = sorted(
            map(tuple, bpe.bpe_merges(d, "doc_id", "text", rounds=3).collect())
        )
        assert memo_rows == fresh
        clear_memo()
        assert memo(spark, key, lambda: "rebuilt") == "rebuilt"
        clear_memo()

    def test_memo_fifo_eviction(self, spark, monkeypatch):
        from hebrew_tutor_data_pipeline_spark.plans import catalog_ml as ml
        from tests.conftest import assert_consumer_memo_evicts_oldest

        assert_consumer_memo_evicts_oldest(
            spark,
            monkeypatch,
            lambda: ml._bpe_merge_table(spark, self.SF_SMOKE),
            ("bpe_merges", self.SF_SMOKE),
        )
