"""Vector math over `array<float>` embedding columns — built on the SQL
higher-order functions (`zip_with`, `aggregate`) so the arithmetic
runs JVM-side per row with no Python round-trip.  This is the
similarity-search primitive set for the LLM-data-pipeline operators.

Each helper takes column NAMES and returns one `F.expr` parse: the
python-side lambda machinery would cost ~30 ms of py4j traffic per
call, and the similarity family constructs a dozen of these per
DataFrame build.

Accumulate in double regardless of the storage type (float32
embeddings) — at 64–4096 dims float accumulation error is visible in
top-k ordering.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _dot_sql(a: str, b: str) -> str:
    return (
        f"aggregate(zip_with({a}, {b}, "
        "(x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
        "0D, (acc, v) -> acc + v)"
    )


def _l2_sql(a: str) -> str:
    return (
        f"sqrt(aggregate({a}, 0D, "
        "(acc, v) -> acc + CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))"
    )


def dot(a: str, b: str) -> Column:
    return F.expr(_dot_sql(a, b))


def l2_norm(a: str) -> Column:
    return F.expr(_l2_sql(a))


def cosine_similarity(a: str, b: str) -> Column:
    """cos(a,b) with a zero-norm guard (ANSI-safe)."""
    na, nb = _l2_sql(a), _l2_sql(b)
    return F.expr(
        f"CASE WHEN {na} > 0 AND {nb} > 0 "
        f"THEN {_dot_sql(a, b)} / ({na} * {nb}) ELSE 0D END"
    )
