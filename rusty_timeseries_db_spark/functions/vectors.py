"""Vector math over ``array<float/double>`` columns, expressed with
Spark higher-order functions (``zip_with`` + ``aggregate``) so dot
products and norms execute JVM-side inside codegen — no Python round
trips in the hot path.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def dot(a: Column | str, b: Column | str) -> Column:
    """Σ aᵢ·bᵢ in double precision, in array order (deterministic —
    matches a sequential oracle bit-for-bit)."""
    return F.aggregate(
        F.zip_with(_c(a), _c(b), lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column | str) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(_c(a), lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def cosine(a: Column | str, b: Column | str) -> Column:
    """Cosine similarity; NULL-safe on zero vectors (returns NULL)."""
    d = dot(a, b)
    na, nb = norm(a), norm(b)
    return F.when((na > 0) & (nb > 0), d / (na * nb))


def quantize_symmetric(vec: Column | str, bits: int = 8) -> Column:
    """Per-vector symmetric scalar quantization: returns a
    struct ``(scale double, q array<smallint>)`` with
    ``scale = max(|x|) / (2^(bits-1) - 1)`` and
    ``q_i = round(x_i / scale)`` — the int8 storage recipe a 100 TB
    embedding store runs to cut vector bytes 4x while keeping
    dot-product geometry (dequantized value = ``q_i * scale``). An
    all-zero vector quantizes to scale 0 with all-zero codes (the
    division is guarded). Pure higher-order expressions — JVM-side,
    engine-agnostic arithmetic (round = half-away-from-zero on both
    Spark and DuckDB), so quantized CODES are oracle-checkable, not
    just their statistics. ``smallint`` (not tinyint) so bits up to
    16 work with one schema; out-of-range bits raise."""
    if not 2 <= bits <= 16:
        # bits=1 makes qmax 0 (division by zero -> NULL scales, all-zero
        # codes, silent empty search results); bits>16 overflows the
        # smallint codes
        raise ValueError(f"quantize bits must be in [2, 16], got {bits}")
    v = _c(vec)
    qmax = float(2 ** (bits - 1) - 1)
    scale = (
        F.aggregate(
            v, F.lit(0.0), lambda acc, x: F.greatest(acc, F.abs(x.cast("double")))
        )
        / F.lit(qmax)
    )
    # BIND the scale once per row before the per-element transform: a
    # column expression captured inside a HOF lambda re-evaluates PER
    # ELEMENT (the word_grams capture trap — here the captured
    # aggregate would re-fold the whole vector for every code, O(d²)
    # per row). A single-element transform evaluates the aggregate
    # once into a lambda variable; the inner per-element body then
    # reads that bound variable, which is a cheap reference.
    return F.element_at(
        F.transform(
            F.array(F.struct(scale.alias("scale"))),
            lambda s: F.struct(
                s["scale"].alias("scale"),
                F.transform(
                    v,
                    lambda x: F.when(
                        s["scale"] > 0,
                        F.round(x.cast("double") / s["scale"]),
                    )
                    .otherwise(F.lit(0.0))
                    .cast("smallint"),
                ).alias("q"),
            ),
        ),
        1,
    )


def dequantize(q: Column | str, scale: Column | str) -> Column:
    """Inverse of :func:`quantize_symmetric`: ``array<double>`` of
    ``q_i * scale``."""
    s = _c(scale)
    return F.transform(_c(q), lambda x: x.cast("double") * s)
