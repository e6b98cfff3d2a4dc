"""VR model — the confidence-floored weighted mean over dimension
scores (reference app/scoring_engine/vr_model.py:50-96) plus the CV
penalty (scripts/run_scoring_engine.py:37-44,328-329).

The reference computes this per company in a Python loop; here it is
one `groupBy('company_id')` aggregation — scoring N companies is the
same job as scoring one, and the aggregate is partial-aggregatable
(map-side combine) so it scales to any number of evidence rows.

Input schema (dimension_scores):
    company_id, dimension, score double [0,100],
    weight double [0,1] (nullable -> default per-dim weight),
    confidence double [0,1] (nullable -> 0)
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.core import clamp_sql, conf_floor_sql
from .config import CONFIDENCE_FLOOR, DEFAULT_DIM_WEIGHTS
from .config import dimension_case_sql


def vr_weighted_mean_sql(score: str, w: str, conf_eff: str) -> str:
    """Aggregate fragment Σ(score·w·conf_eff)/Σ(w·conf_eff), 0 when
    the weight total is 0, clamped [0,100]."""
    return clamp_sql(
        f"CASE WHEN sum({w} * {conf_eff}) != 0 "
        f"THEN sum({score} * {w} * {conf_eff}) / sum({w} * {conf_eff}) "
        "ELSE 0.0D END",
        0.0,
        100.0,
    )


def cv_sql(x: str) -> str:
    """Aggregate fragment: coefficient of variation stddev_pop/|mean|,
    0 when the mean is 0."""
    return f"CASE WHEN abs(avg({x})) > 0 THEN stddev_pop({x}) / abs(avg({x})) ELSE 0.0D END"


def cv_penalty_sql(cv: str) -> str:
    """clamp(1−0.25·cv, 0, 1) (scripts/run_scoring_engine.py:37-44)."""
    return clamp_sql(f"1.0D - 0.25D * {cv}", 0.0, 1.0)


def vr_scores(dimension_scores: DataFrame, *, with_cv_penalty: bool = True) -> DataFrame:
    """Per-company VR: Σ(score·w·conf_eff)/Σ(w·conf_eff), conf_eff =
    max(conf, 0.20), clamped [0,100]; optional CV penalty
    clamp(1−0.25·cv, 0, 1) where cv = stddev_pop/|mean| of the raw
    dimension scores.

    Returns: company_id, vr_raw, cv, cv_penalty, vr_score.
    """
    # SQL fragments composed python-side: one parse per output column
    # instead of a py4j round trip per operator.
    ds = dimension_scores.selectExpr(
        "company_id",
        "dimension",
        "coalesce(score, 0.0D) AS score",
        "coalesce(weight, "
        f"{dimension_case_sql('dimension', DEFAULT_DIM_WEIGHTS)}) AS w",
        f"{conf_floor_sql('confidence', CONFIDENCE_FLOOR)} AS conf_eff",
    )
    agg = ds.groupBy("company_id").agg(
        F.expr(vr_weighted_mean_sql("score", "w", "conf_eff")).alias("vr_raw"),
        F.expr(cv_sql("score")).alias("cv"),
    )
    if not with_cv_penalty:
        return agg.withColumn("vr_score", F.col("vr_raw"))
    return agg.withColumns({"cv_penalty": F.expr(cv_penalty_sql("cv"))}).withColumn(
        "vr_score", F.expr(clamp_sql("vr_raw * cv_penalty", 0.0, 100.0))
    )
