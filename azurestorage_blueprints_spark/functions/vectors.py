"""Vector expressions over ``array<float>`` embeddings, as Spark SQL text.

Each helper takes column names or SQL sub-expressions (strings) and
returns SQL text for ``selectExpr`` or ``F.expr``. A fold built as a
Column tree costs one py4j round-trip per node (a cosine over two
columns sent about 380); as text the whole expression crosses in one
command and analyzes to the same plan.

- Double literals carry a ``D`` suffix: a bare ``0.0`` is
  DECIMAL(1,1), and a decimal seed changes the fold's type.
- Folds are explicit left folds (``aggregate``) with a double
  accumulator, so the accumulation order stays sequential and the IEEE
  result is identical to the oracle's ``list_reduce`` /
  ``list_cosine_similarity`` (verified bit-identical against DuckDB).
- Arguments are evaluated outside the lambda bodies, except in
  :func:`int8`, whose per-vector scale reads its argument again.
"""

from __future__ import annotations


def dot(a: str, b: str) -> str:
    """Sequential-fold dot product in double precision."""
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
        "0.0D, (acc, x) -> acc + x)"
    )


def norm(a: str) -> str:
    """Euclidean norm: sqrt of the sequential sum of squares."""
    return (
        f"sqrt(aggregate(transform({a}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), "
        "0.0D, (acc, x) -> acc + x))"
    )


def l2sq(a: str, b: str) -> str:
    """Sequential-fold squared Euclidean distance."""
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> (CAST(x AS DOUBLE) - CAST(y AS DOUBLE))"
        " * (CAST(x AS DOUBLE) - CAST(y AS DOUBLE))), 0.0D, (acc, x) -> acc + x)"
    )


def clamp_sim(sim: str) -> str:
    """Clamp a cosine similarity to [-1, 1] — DuckDB's
    ``list_cosine_similarity`` semantics. Required for cross-engine
    hash parity on IDENTICAL vector pairs: the raw fold computes
    ``S / (sqrt(S) * sqrt(S))`` which rounds to 1 + 1-2 ulp, while
    DuckDB's single-sqrt form ``S / sqrt(S*S)`` is exactly 1.0
    (``sqrt(fl(x^2)) == x`` for normal doubles). Interior values are
    untouched — verified bit-identical across 98.6k sf1 pairs (the r7
    sf1 sweep caught the overflow class: 21,735 identical-copy pairs,
    zero interior diffs)."""
    return f"least(1.0D, greatest(-1.0D, {sim}))"


def cosine(a: str, b: str) -> str:
    """Clamped sequential-fold cosine — see :func:`clamp_sim` for why
    the clamp is part of the definition."""
    return cosine_normed(a, b, norm(a), norm(b))


def cosine_normed(a: str, b: str, na: str, nb: str) -> str:
    """:func:`cosine` over precomputed norms ``na`` and ``nb`` of ``a``
    and ``b``: the same expression and IEEE value, with one fold per
    pair instead of three when the norms are hoisted out of a join."""
    return clamp_sim(f"{dot(a, b)} / ({na} * {nb})")


def int8(a: str) -> str:
    """Scalar int8 quantization as DOUBLE elements: each component
    scaled by the vector's max-abs and rounded half-up to [-127, 127].
    Half-up is ``floor(x + 0.5)`` because Spark and DuckDB ``round()``
    disagree on negative halves; integer values are exact in a double,
    so dot products over the result are exact below 2^53."""
    return (
        f"transform({a}, x -> CAST(floor(CAST(x AS DOUBLE) * 127.0D / greatest("
        f"array_max(transform({a}, y -> abs(CAST(y AS DOUBLE)))), 1e-12D) + 0.5D) AS DOUBLE))"
    )
