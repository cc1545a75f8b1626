"""The weighted score fold and severity classification.

Reference formula (src/helpers/score.rs:14-40):

    score = 100 * (1 - prod_i (1 - s_i/100 / 2^i))

over the positive sub-scores sorted DESCENDING (i is the 0-based rank);
empty => 0. The reference then rounds half-away-from-zero to i16 before
thresholding (src/modules/filesystem_scan.rs:934-935), and the rounded value
is what's emitted as the row's score.

Golden vector (src/helpers/score.rs:42-107, authoritative over the docs):
[75]->75, [70,70,70]->83.9125, [80,60,40]->87.4, asc==desc, [70,0,50]->77.5,
[100,100,100]->100, []->0, [70,70,50,40,40]->84.195859375.

The Spark rendering is a pure per-row array fold with higher-order functions
(filter + sort_array + aggregate) — no UDF, no shuffle.
"""

from __future__ import annotations

from collections.abc import Iterable

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..config import ScanConfig


def weighted_score(sub_scores: Iterable[int]) -> float:
    """Pure-Python reference implementation (used by tests and the oracle
    scanner)."""
    positive = sorted((s for s in sub_scores if s > 0), reverse=True)
    if not positive:
        return 0.0
    product = 1.0
    for i, s in enumerate(positive):
        product *= 1.0 - (s / 100.0) / (2.0**i)
    return 100.0 * (1.0 - product)


def round_half_away(x: float) -> int:
    """Rust's f64::round (half away from zero) — NOT Python's banker's
    rounding. Scores are non-negative."""
    import math

    return int(math.floor(x + 0.5))


def weighted_score_col(sub_scores: Column) -> Column:
    """Catalyst rendering of the fold over an ``array<int>`` column.
    Returns the raw double score (un-rounded).

    One `aggregate` over the positive sub-scores sorted descending,
    carrying (product, 2^i) in the same operation order as
    `weighted_score`, so the two agree bit for bit."""
    ordered = F.sort_array(F.filter(sub_scores, lambda s: s > 0), asc=False)
    return F.aggregate(
        ordered,
        F.struct(F.lit(1.0).alias("p"), F.lit(1.0).alias("w")),
        lambda acc, s: F.struct(
            (acc["p"] * (F.lit(1.0) - s / F.lit(100.0) / acc["w"])).alias("p"),
            (acc["w"] * F.lit(2.0)).alias("w"),
        ),
        lambda acc: F.lit(100.0) * (F.lit(1.0) - acc["p"]),
    )


def rounded_score_col(raw_score: Column) -> Column:
    """Half-away-from-zero rounding to int, matching Rust's
    ``f64::round() as i16`` (Spark ``round`` is HALF_UP, which is
    half-away-from-zero for the non-negative scores we produce)."""
    return F.round(raw_score, 0).cast("int")


def severity_col(score: Column, cfg: ScanConfig) -> Column:
    """ALERT/WARNING/NOTICE classification; below-notice => NULL (the row is
    matched-but-not-routed, src/modules/filesystem_scan.rs:932-952)."""
    return (
        F.when(score >= cfg.alert_threshold, F.lit("ALERT"))
        .when(score >= cfg.warning_threshold, F.lit("WARNING"))
        .when(score >= cfg.notice_threshold, F.lit("NOTICE"))
        .otherwise(F.lit(None).cast("string"))
    )
