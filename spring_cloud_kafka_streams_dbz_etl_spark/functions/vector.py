"""Vector (embedding) column expressions — built-in higher-order functions.

Embeddings are ``array<float>`` columns. All math is done in double via a
sequential left-fold (``F.aggregate``), which is deterministic for a given
row; cross-engine cosine scores are rounded to 6 decimals before any
threshold/rank decision so both engines make identical decisions.

These are JVM-side expressions (no Python), so brute-force scoring runs
inside whole-stage codegen; for very wide vectors a Pandas-UDF BLAS path
would win — that variant lives in operators/similarity.py as an option.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def to_double(vec: Column) -> Column:
    """DuckDB twin: ``list_transform(v, x -> CAST(x AS DOUBLE))``."""
    return F.transform(vec, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Sequential-fold dot product in double.

    DuckDB twin: ``list_inner_product(a, b)`` (same up to last-ulp; all
    comparisons happen on values rounded to 6 decimals).
    """
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def safe_div(num: Column, den: Column) -> Column:
    """Division that yields NULL (not a job abort) on a zero denominator.

    Spark 4 runs ANSI mode by default, where ``x / 0`` THROWS
    ``DIVIDE_BY_ZERO`` and kills the whole job — one zero-norm embedding
    or one empty document in a 100 TB corpus would abort the run. DuckDB
    (the oracle) returns NULL for ``x / 0.0`` instead, and NULL then
    fails every ``>=``/rank predicate, silently dropping the degenerate
    row. ``try_divide`` reproduces exactly that: NULL on zero denominator,
    bit-identical IEEE division otherwise, still whole-stage-codegen.
    Use it for every DATA-DEPENDENT denominator (norms, token counts,
    stddevs); keep plain ``/`` for structurally nonzero ones (literals,
    ``COUNT(*)`` of a grouped row set). Pinned in
    tests/test_dirty_data.py; see SCALE.md anti-pattern #4.
    """
    return F.try_divide(num, den)


def has_nan(vec: Column) -> Column:
    """True when any component of the vector is NaN (corrupt embedding).

    Candidate-GENERATION operators (LSH bucketing, blocked cosine pairs)
    must exclude such vectors: a NaN cosine compares largest in both
    engines, so one corrupt embedding would near-dup-match its entire
    cell, and integer sign-bit quantization aborts outright under ANSI.
    Brute-force SCORING paths (q_cosine_topk / q_knn_graph /
    q_triangle_count) don't filter — their NaN propagation matches the
    oracle exactly (measured in tests/test_dirty_data.py).

    DuckDB twin: ``len(list_filter(v, x -> isnan(CAST(x AS DOUBLE)))) > 0``.
    """
    return F.exists(vec, F.isnan)


def cosine(a: Column, b: Column, decimals: int = 6) -> Column:
    """Rounded cosine similarity (decision-stable across engines).

    NULL on a zero-norm input — the DuckDB oracle's x/0.0 behavior —
    rather than the ANSI DIVIDE_BY_ZERO job abort (see :func:`safe_div`).
    """
    return F.round(safe_div(dot(a, b), l2_norm(a) * l2_norm(b)), decimals)


def cosine_from_dot(dp: Column, na: Column, nb: Column, decimals: int = 6) -> Column:
    """:func:`cosine_pre` when the DOT PRODUCT itself is precomputed
    (operators/similarity.py::pair_dots_arrow emits the pairwise fold
    plus both norms). ``dp``/``na``/``nb`` must be the exact folds the
    expression form would compute — the kernel's ascending-d accumulate
    is bit-identical to ``aggregate(zip_with(...))`` and its norms are
    the same fold over each vector — so try_divide/round see bit-identical
    operands and every threshold/rank decision is unchanged (r18; the
    r17 norm hoist left ONE interpreted fold per pair, this removes it)."""
    return F.round(safe_div(dp, na * nb), decimals)


def cosine_pre(a: Column, b: Column, na: Column, nb: Column, decimals: int = 6) -> Column:
    """:func:`cosine` with caller-PRECOMPUTED norms.

    The higher-order-function folds (zip_with + aggregate) run
    interpreted, outside whole-stage codegen — three 64-element folds per
    PAIR made the blocked self-join families (kNN graph / triangles)
    fold-bound (r17 job profile: 60.9 s summed task time on
    q_triangle_count at sf0.1). Computing ``l2_norm(v)`` once per VECTOR
    on the cached side relation and carrying it through the join leaves
    one fold per pair. ``na``/``nb`` must be ``l2_norm`` of ``a``/``b`` —
    the same fold over the same array yields the same double, so
    round/try_divide see bit-identical operands and every
    threshold/rank decision is unchanged."""
    return F.round(safe_div(dot(a, b), na * nb), decimals)
