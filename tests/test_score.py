"""Weighted-score golden vector, verbatim from the reference's unit tests
(src/helpers/score.rs:42-107 — authoritative over docs/score_calculation.md,
whose worked examples disagree with the code)."""

from __future__ import annotations

import pytest

from loki_rs_spark.functions.score import (
    round_half_away,
    weighted_score,
    weighted_score_col,
)

GOLDEN = [
    ([75], 75.0),
    ([70, 70, 70], 83.9125),
    ([80, 60, 40], 87.4),
    ([40, 60, 80], 87.4),  # ascending input sorts to the same result
    ([70, 0, 50], 77.5),  # zeros ignored
    ([100, 100, 100], 100.0),
    ([], 0.0),
    ([70, 70, 50, 40, 40], 84.195859375),
]


@pytest.mark.parametrize("scores,expected", GOLDEN)
def test_python_reference(scores, expected):
    assert weighted_score(scores) == pytest.approx(expected, abs=1e-9)


def test_negative_scores_filtered():
    assert weighted_score([-10, 75]) == pytest.approx(75.0)
    assert weighted_score([-10, 0]) == 0.0


def test_round_half_away():
    assert round_half_away(87.5) == 88
    assert round_half_away(86.5) == 87  # banker's would give 86
    assert round_half_away(83.9125) == 84
    assert round_half_away(0.0) == 0


def test_spark_fold_matches_golden(spark):
    """The Catalyst fold equals the Python reference exactly (same
    operation order), on the golden vector and every single-score list."""
    from pyspark.sql import functions as F

    lists = [scores for scores, _ in GOLDEN] + [[s] for s in range(1, 101)]
    df = spark.createDataFrame(list(enumerate(lists)), "id int, subs array<int>")
    out = {
        r["id"]: r["w"]
        for r in df.select(
            "id", weighted_score_col(F.col("subs")).alias("w")
        ).collect()
    }
    for i, scores in enumerate(lists):
        assert out[i] == weighted_score(scores), scores
    for i, (scores, expected) in enumerate(GOLDEN):
        assert out[i] == pytest.approx(expected, abs=1e-9), scores
