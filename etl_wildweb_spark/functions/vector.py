"""Vector math over ``array<float>`` embedding columns — JVM-side only.

Dot products / norms use ``zip_with`` + ``aggregate`` higher-order
functions: they run inside whole-stage codegen, so no Python boundary is
crossed.  All arithmetic is done in double (cast up from float32) with
sequential left-to-right accumulation — the same order DuckDB's list
functions use — keeping results cross-engine deterministic.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _d(c: Column | str) -> Column:
    col = F.col(c) if isinstance(c, str) else c
    return col.cast("array<double>")


def dot(a: Column | str, b: Column | str) -> Column:
    return F.aggregate(
        F.zip_with(_d(a), _d(b), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column | str) -> Column:
    col = _d(a)
    return F.sqrt(F.aggregate(col, F.lit(0.0), lambda acc, x: acc + x * x))


def clamp_cos(c: Column) -> Column:
    """Clamp a cosine to [-1, 1] — DuckDB's list_cosine_similarity does
    exactly this (verified empirically: 500/500 bit-match to
    dot/(sqrt(Σa²)·sqrt(Σb²)) in range, exact ±1.0 beyond it), and
    without it an exact-duplicate pair computes 1 + 2·ulp and diverges
    from the oracle (caught by the degen corpus's planted query-vector
    duplicate).  Apply ONLY to non-NULL in-domain values:
    Spark's least/greatest SKIP nulls, so clamping a NULL would
    manufacture 1.0."""
    return F.greatest(F.lit(-1.0), F.least(F.lit(1.0), c))


def cosine(a: Column | str, b: Column | str) -> Column:
    """Cosine similarity, NULL when either vector has zero norm: the
    ratio is 0/0 there, and both engines' raw kernels turn that NaN
    into ranking poison — Spark sorts NaN greatest (a zero vector
    would TOP every descending top-k), DuckDB's clamp comparisons
    select the -1.0 branch (verified empirically).  NULL is the
    honest value for an undefined similarity and falls out of
    rankings, thresholds, and max_by naturally.  Oracles on corpora
    that contain zero vectors must mirror this with an explicit
    CASE WHEN norm = 0 THEN NULL around list_cosine_similarity;
    the shipped corpora contain none (pinned by pytest instead).

    NaN and Inf components get the same NULL treatment: a NaN
    component makes den = NaN, an Inf component makes den = Inf with
    ratio = Inf/Inf = NaN — and either way least(1.0, NaN) = 1.0
    (Spark orders NaN greatest), so a corrupt vector would silently
    TOP every descending cosine ranking.  Guarding on the RATIO being
    non-NaN covers both corruption classes with one predicate (the
    Inf case found by code review — probed:
    [inf,0]·[1,0] returned 1.0 under the isnan(den)-only guard)."""
    den = norm(a) * norm(b)
    r = dot(a, b) / den
    return F.when((den != F.lit(0.0)) & ~F.isnan(r), clamp_cos(r))

