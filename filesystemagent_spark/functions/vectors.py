"""Vector math over `array<float>` embedding columns — JVM expressions.

Brute-force building blocks for similarity search (BASELINE.json
north-star). `F.aggregate`/`F.zip_with` are higher-order functions:
they stay in the JVM with no Python crossing per row, but Spark
interprets them, because whole-stage codegen does not compile lambda
functions. The LSH near-dup verify, which runs one dot per candidate
pair, uses the Arrow kernel `pqkernels.pair_dot` instead; it returns
the same doubles as `dot`. For the 100 TB path these compose with LSH
bucketing (operators/similarity.py) so the cross join never
materializes.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _as_double(vec: Column) -> Column:
    return F.transform(vec, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(_as_double(a), _as_double(b), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(vec: Column) -> Column:
    return F.sqrt(F.aggregate(_as_double(vec), F.lit(0.0), lambda acc, x: acc + x * x))


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity; 0.0 for zero vectors rather than NaN.

    Recomputes both norms inline (twice each: guard + value), so in a
    pairwise join this does ~5x the necessary arithmetic — join paths
    should pre-materialize per-row norms and use `cosine_from` instead.
    """
    denom = l2_norm(a) * l2_norm(b)
    return F.when(denom == 0, F.lit(0.0)).otherwise(dot(a, b) / denom)


def cosine_from(a: Column, b: Column, norm_a: Column, norm_b: Column) -> Column:
    """Cosine from pre-materialized L2 norms: per pair only the dot
    product is evaluated (one fused zip_with/aggregate pass); the norm
    columns were computed once per ROW before the join instead of once
    per PAIR inside it. Float-identical to `cosine` — same fold order,
    same divide — so oracle hashes are unaffected."""
    denom = norm_a * norm_b
    return F.when(denom == 0, F.lit(0.0)).otherwise(dot(a, b) / denom)
