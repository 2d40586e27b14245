"""Similarity expression library (SURVEY.md §2.8 F12, §2.3 J5/J6 scoring).

The reference scores fuzzy matches with rapidfuzz ratios
(`fixed_hebrew_aligner.py:513-515`, `hebrew_alignment_optimized.py:577-581`)
and difflib.SequenceMatcher (`scripts/hebrew_alignment_toolv2.py:331`).
Here every score that a built-in can express stays JVM-side
(`levenshtein`, array ops); only partial_ratio-style scores that need
quadratic alignment fall back to a pandas UDF.

Also hosts the vector-similarity expressions for the ANN operators:
cosine / dot product via higher-order array functions — whole-stage
codegen, no Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def levenshtein_ratio(a: Column, b: Column) -> Column:
    """F12: ``fuzz.ratio``-style normalized similarity in pure SQL:
    1 - lev(a,b) / max(len(a), len(b)); 1.0 when both empty; NULL when
    either side is NULL. (Spark's greatest SKIPS nulls, so without the
    explicit guard greatest(NULL, 0) == 0 fired the both-empty branch
    and scored a NULL-vs-'' comparison as a perfect match — DuckDB's
    greatest propagates NULL, so the twin already returned NULL.)"""
    denom = F.greatest(F.length(a), F.length(b))
    return F.when(a.isNull() | b.isNull(), F.lit(None).cast("double")).otherwise(
        F.when(denom == 0, F.lit(1.0)).otherwise(1.0 - F.levenshtein(a, b) / denom)
    )


def token_sort_key(col: Column, sep: str = " ") -> Column:
    """token_sort_ratio's canonical form: sorted tokens re-joined."""
    return F.array_join(F.array_sort(F.split(col, sep)), sep)


def token_sort_ratio(a: Column, b: Column) -> Column:
    """F12: token_sort_ratio ≈ levenshtein ratio over sorted tokens."""
    return levenshtein_ratio(token_sort_key(a), token_sort_key(b))


def token_set_jaccard(a: Column, b: Column, sep: str = " ") -> Column:
    """Token-set similarity (Jaccard) — the set-based cousin of
    token_set_ratio, exact and fully JVM-side."""
    ta, tb = F.array_distinct(F.split(a, sep)), F.array_distinct(F.split(b, sep))
    inter = F.size(F.array_intersect(ta, tb))
    un = F.size(F.array_union(ta, tb))
    return F.when(un == 0, F.lit(1.0)).otherwise(inter / un)


# --- vector similarity (ANN operators) ----------------------------------

def dot(a: Column, b: Column) -> Column:
    """Dot product of two array<float|double> columns via zip_with +
    aggregate — codegen'd, no UDF."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def cosine_similarity(a: Column, b: Column) -> Column:
    """Cosine similarity; NULL-safe on zero vectors (try_divide keeps
    ANSI mode happy)."""
    return F.try_divide(dot(a, b), l2_norm(a) * l2_norm(b))
