"""Evidence → dimension featurization (reference
app/scoring_engine/evidence_mapper.py + rubric_scorer.py, SURVEY.md
§2.3 J5/J6, §2.4 A7/A8, §2.9 M17/M18).

Reference semantics reproduced:
- keyword-taxonomy match (evidence_mapper.py:283-299): each evidence
  text is checked for *substring* containment (`kw in text` — NOT
  word-boundary; F3 vs F2 distinction in SURVEY §2.8) against each
  dimension's keyword list; matches emit (evidence, dimension,
  matched_keywords).
- source payloads (evidence_mapper.py:360-373): per source bucket,
  evidence counts + keyword frequencies.
- weighted dimension features (evidence_mapper.py:159-213): per
  dimension Σ(raw·conf·rel·w)/Σ(w·conf·rel), confidence
  Σ(conf·rel·w)/Σw, with defaults score 50 / conf 0.5 when nothing
  matched.
- rubric scorer (rubric_scorer.py:169-231): ordered level descent
  L5→L1 — first level whose (min keyword hits, min metric) are both
  met wins; score interpolates inside the level band
  lo + (hi−lo)·min(1, hits/needed); confidence
  min(0.95, 0.50 + 0.08·hits + 0.30·metric); L1 default score 10,
  confidence 0.40.
- quant-metric proxy (rubric_scorer.py:245-256):
  clamp(0.45·ws/30 + 0.35·ev/40 + 0.20·rel, 0, 1).

Spark shape: the taxonomy is a literal array of (dimension, keyword)
structs filtered by `contains` — no join, no shuffle on the evidence
side; everything downstream is groupBy aggregates and CASE ladders
(ordered descent must be a CASE ladder, not a join, to preserve
first-match-wins).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.core import clamp_sql, flit

# Rubric level bands (reference rubric_scorer.py:83-133 shape): level,
# min keyword hits, min metric, score band [lo, hi].
RUBRIC_LEVELS: tuple[tuple[int, int, float, float, float], ...] = (
    (5, 8, 0.80, 85.0, 100.0),
    (4, 6, 0.60, 70.0, 85.0),
    (3, 4, 0.40, 55.0, 70.0),
    (2, 2, 0.20, 30.0, 55.0),
    (1, 0, 0.00, 10.0, 30.0),
)

# (dimension, keyword) taxonomy pairs.
KeywordPairs = Sequence[tuple[str, str]]


def keyword_matches(evidence: DataFrame, keywords: KeywordPairs) -> DataFrame:
    """J5: evidence × taxonomy containment match.

    evidence: evidence_id, company_id, source, text, confidence, reliability
    keywords: a sequence of (dimension, keyword) pairs.  The taxonomy
    becomes a literal array<struct> column and the match is a
    `filter()` higher-order function + `explode`: no join, no shuffle,
    inside whole-stage codegen — at 100 TB the taxonomy (~70 entries)
    should always ship as a literal, never as a join side.  The
    literal, the filter and the explode are ONE F.expr parse.

    Returns one row per (evidence, dimension, keyword) hit; substring
    semantics — deliberately not word-boundary (F3 vs F2).
    """

    def q(s: str) -> str:
        return "'" + s.replace("'", "''") + "'"

    kw_items = ", ".join(
        f"named_struct('dimension', {q(d)}, 'keyword', {q(k)})"
        for d, k in keywords
    )
    hit = F.expr(
        f"explode(filter(array({kw_items}), x -> contains(text, x.keyword)))"
    ).alias("_m")
    return (
        evidence.select("*", hit)
        .select("*", "_m.dimension", "_m.keyword")
        .drop("_m")
    )


def hit_raw_score(evidence_id: str, keyword: str) -> str:
    """Deterministic varying per-hit raw score in [40, 100]:
    40 + (evidence_id·7 + len(keyword)·13) mod 61, as an SQL fragment.
    Pure integer arithmetic → bit-identical between Spark and any
    ANSI-SQL oracle; varies across hit rows so A7's weighted mean
    actually weights (reference evidence_mapper.py:159-213)."""
    return (
        f"CAST(40 + ({evidence_id} * 7 + length({keyword}) * 13) % 61 AS DOUBLE)"
    )


def dimension_hits(evidence: DataFrame, keywords: KeywordPairs) -> DataFrame:
    """Per (company, dimension): keyword hit stats from J5 matches."""
    m = keyword_matches(evidence, keywords)
    return m.groupBy("company_id", "dimension").agg(
        F.count(F.lit(1)).alias("n_hits"),
        F.countDistinct("keyword").alias("n_distinct_keywords"),
        F.countDistinct("evidence_id").alias("n_evidence"),
    )


def weighted_dimension_features(
    evidence: DataFrame, keywords: KeywordPairs, fixed_point: tuple[int, int]
) -> DataFrame:
    """A7: per (company, dimension) weighted score & confidence.

    The per-hit raw score is `hit_raw_score` — it varies across hit
    rows (reference evidence_mapper.py:159-213 weights *varying* raw
    scores with Σ(raw·conf·rel)/Σ(conf·rel); a constant would make the
    weighted mean degenerate).  Confidence is Σ(conf·rel)/count; empty
    dimensions get the 50/0.5 defaults.

    `fixed_point=(conf_scale, rel_scale)` scales confidence and
    reliability (fixed-point decimals, e.g. (10, 100) for 1dp
    confidence × 2dp reliability) to integers.  Double-sum aggregates
    are NOT reproducible across partitionings (summation order changes
    the low bits; at a rounding boundary that flips the rounded value
    — observed live on this query's `confidence` at sf0.01 / 32
    partitions), so the sums run on LONGS (exact, order-independent)
    and divide ONCE at the end — the single IEEE division is
    bit-identical in every engine and every partitioning.
    """
    m = keyword_matches(evidence, keywords)
    conf_scale, rel_scale = fixed_point
    c_i = f"CAST(round(confidence * {conf_scale}) AS BIGINT)"
    r_i = f"CAST(round(reliability * {rel_scale}) AS BIGINT)"
    raw_i = f"CAST({hit_raw_score('evidence_id', 'keyword')} AS BIGINT)"
    den_i = f"sum({c_i} * {r_i})"
    num_i = f"sum({raw_i} * {c_i} * {r_i})"
    scale = flit(float(conf_scale * rel_scale))
    return m.groupBy("company_id", "dimension").agg(
        F.expr(
            f"CASE WHEN {den_i} != 0 "
            f"THEN CAST({num_i} AS DOUBLE) / CAST({den_i} AS DOUBLE) ELSE 50.0D END"
        ).alias("weighted_score"),
        F.expr(
            f"CASE WHEN count(1) > 0 "
            f"THEN CAST({den_i} AS DOUBLE) / ({scale} * count(1)) ELSE 0.5D END"
        ).alias("confidence"),
        F.expr("count(1)").alias("evidence_count"),
    )


def quant_metric(weighted_signals: str, evidence_count: str, reliability: str) -> Column:
    """M18: metric = clamp(0.45·ws/30 + 0.35·ev/40 + 0.20·rel, 0, 1)
    (rubric_scorer.py:245-256)."""
    return F.expr(
        clamp_sql(
            f"0.45D * {weighted_signals} / 30.0D"
            f" + 0.35D * {evidence_count} / 40.0D"
            f" + 0.2D * {reliability}",
            0.0,
            1.0,
        )
    )


def rubric_score(hits: str, metric: str) -> str:
    """M17 ordered level descent as a CASE ladder (first satisfied
    level wins, L5→L1) with in-band interpolation; L1 default score 10
    (rubric_scorer.py:221-224).  SQL fragment."""
    arms = " ".join(
        f"WHEN {hits} >= {min_hits} AND {metric} >= {flit(min_metric)} "
        f"THEN {flit(lo)} + {flit(hi - lo)} * least(1.0D, "
        f"CAST({hits} AS DOUBLE) / {flit(float(max(min_hits, 1)))})"
        for _level, min_hits, min_metric, lo, hi in RUBRIC_LEVELS[:-1]
    )
    return f"CASE {arms} ELSE 10.0D END"


def rubric_confidence(hits: str, metric: str) -> str:
    """min(0.95, 0.50 + 0.08·hits + 0.30·metric) (rubric_scorer.py:212-218),
    as an SQL fragment."""
    return f"least(0.95D, 0.5D + 0.08D * CAST({hits} AS DOUBLE) + 0.3D * {metric})"
