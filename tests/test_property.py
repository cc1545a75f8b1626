"""Property-based checks (hypothesis): the Catalyst score fold equals the
pure-Python reference implementation on arbitrary sub-score vectors. Plus
severity_col against its thresholds."""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from loki_rs_spark.config import ScanConfig
from loki_rs_spark.functions.score import (
    round_half_away,
    weighted_score,
    weighted_score_col,
)

subscores = st.lists(
    st.integers(min_value=-50, max_value=100), min_size=0, max_size=12
)


@given(st.lists(subscores, min_size=1, max_size=40))
@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_spark_fold_property(spark, score_lists):
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(i, xs) for i, xs in enumerate(score_lists)], "id int, subs array<int>"
    )
    got = {
        r["id"]: r["w"]
        for r in df.select(
            "id", weighted_score_col(F.col("subs")).alias("w")
        ).collect()
    }
    for i, xs in enumerate(score_lists):
        assert got[i] == weighted_score(xs), xs


@given(subscores)
@settings(max_examples=200, deadline=None)
def test_score_bounds_and_monotonicity(xs):
    s = weighted_score(xs)
    assert 0.0 <= s <= 100.0
    # adding a positive sub-score never lowers the score
    assert weighted_score(xs + [50]) >= s - 1e-9
    # permutation-invariant
    assert weighted_score(list(reversed(xs))) == pytest.approx(s, abs=1e-12)


def test_severity_thresholds(spark):
    """severity_col evaluated in Spark: the default 80/60/40 labels, and
    `level IS NOT NULL` <=> `score >= notice_threshold` (the routed filter
    relies on it)."""
    from pyspark.sql import functions as F

    from loki_rs_spark.functions.score import severity_col

    scores = spark.range(-1, 102).select(F.col("id").cast("int").alias("score"))

    def levels(cfg):
        return {
            r["score"]: r["level"]
            for r in scores.select(
                "score", severity_col(F.col("score"), cfg).alias("level")
            ).collect()
        }

    for cfg in (ScanConfig(), ScanConfig(0, 0, 0)):
        got = levels(cfg)
        assert sorted(got) == list(range(-1, 102))
        for score, level in got.items():
            assert (level is not None) == (score >= cfg.notice_threshold), (
                cfg, score,
            )
    for score, level in levels(ScanConfig()).items():
        expected = (
            "ALERT" if score >= 80
            else "WARNING" if score >= 60
            else "NOTICE" if score >= 40
            else None
        )
        assert level == expected, score


def test_round_half_away_matches_rust_examples():
    # spot values where Python round() (banker's) would diverge
    for value, expected in [(0.5, 1), (1.5, 2), (2.5, 3), (86.5, 87), (87.5, 88)]:
        assert round_half_away(value) == expected
        assert round_half_away(value - 0.0001) == int(value - 0.5) + 0
