"""End-to-end routed-row equality: the Spark pipeline (both the Arrow-UDF
matcher path and the pure-Catalyst path) against the row-at-a-time
pure-Python reference scanner, over the derived transcript table.

This mirrors the reference's own layered test strategy (SURVEY.md §5):
plant trigger rows, scan, compare per-rule matches and routed rows.
"""

from __future__ import annotations

import pytest

from loki_rs_spark.config import ScanConfig
from loki_rs_spark.plans.pipeline import scan_transcripts
from loki_rs_spark.plans.reference_scanner import scan_turn
from loki_rs_spark.sources.transcripts import load_transcripts

from .conftest import SF_SMALL

REP = 4
CFG = ScanConfig()


@pytest.fixture(scope="module")
def transcripts(spark):
    return load_transcripts(spark, SF_SMALL, rep=REP).cache()


@pytest.fixture(scope="module")
def expected_rows(spark, transcripts, sigs):
    rows = {}
    for r in transcripts.collect():
        routed = scan_turn(
            r["conv_id"], r["turn_idx"], r["text"], r["tool"], sigs, CFG,
            role=r["role"],
        )
        if routed is not None:
            rows[(routed.conv_id, routed.turn_idx)] = routed
    return rows


def _collect_routed(result):
    return {(r["conv_id"], r["turn_idx"]): r for r in result.routed.collect()}


@pytest.mark.parametrize("impl", ["arrow", "catalyst"])
def test_routed_row_equality(spark, transcripts, sigs, expected_rows, impl):
    result = scan_transcripts(spark, transcripts, sigs, CFG, matcher=impl)
    actual = _collect_routed(result)

    assert set(actual) == set(expected_rows)
    assert len(actual) > 0

    for key, exp in expected_rows.items():
        act = actual[key]
        assert act["level"] == exp.level, key
        assert act["score"] == exp.score, key
        assert act["md5"] == exp.md5 and act["sha256"] == exp.sha256, key
        assert act["sha1"] == exp.sha1, key
        assert act["n_reasons"] == exp.n_reasons, key
        act_reasons = act["reasons"]
        assert len(act_reasons) == len(exp.reasons), key
        for ar, er in zip(act_reasons, exp.reasons):
            assert ar["message"] == er.message, key
            assert ar["score"] == er.score, key
            assert ar["description"] == er.description, key
            assert ar["author"] == er.author, key
            assert ar["reference"] == er.reference, key
            if impl != "catalyst":  # catalyst path doesn't capture offsets
                assert ar["matched_strings"] == er.matched_strings, key


def test_score_only_path_equals_full(spark, transcripts, sigs):
    """The lean score-only pipeline (scan_transcripts_scores) must agree
    with the full pipeline row-for-row on (n_reasons, score, level)."""
    from loki_rs_spark.plans.pipeline import scan_transcripts_scores

    full = {
        (r["conv_id"], r["turn_idx"]): (r["n_reasons"], r["score"], r["level"])
        for r in scan_transcripts(spark, transcripts, sigs, CFG)
        .evaluated.collect()
    }
    lean = {
        (r["conv_id"], r["turn_idx"]): (r["n_reasons"], r["score"], r["level"])
        for r in scan_transcripts_scores(spark, transcripts, sigs, CFG)
        .evaluated.collect()
    }
    assert full == lean


def test_match_classes_present(expected_rows):
    """The planted corpus must exercise every match class."""
    messages = [
        r.message for row in expected_rows.values() for r in row.reasons
    ]
    assert any(m.startswith("File Name IOC") for m in messages)
    assert any(m.startswith("HASH match") for m in messages)
    assert any(m.startswith("YARA match") for m in messages)
    assert any(m.startswith("C2 IOC match") for m in messages)
    levels = {r.level for r in expected_rows.values()}
    assert levels == {"ALERT", "WARNING", "NOTICE"}


def test_fp_hash_suppression(spark, transcripts, sigs):
    """Rows whose text is the FP payload are dropped even though the EICAR
    YARA rule would otherwise fire on other rows — and the FP rows still
    count as scanned."""
    from pyspark.sql import functions as F

    result = scan_transcripts(spark, transcripts, sigs, CFG)
    fp_rows = transcripts.filter(F.col("text") == "FP-KNOWN-GOOD-PAYLOAD")
    n_fp = fp_rows.count()
    assert n_fp > 0
    routed_keys = {
        (r["conv_id"], r["turn_idx"]) for r in result.routed.collect()
    }
    fp_keys = {(r["conv_id"], r["turn_idx"]) for r in fp_rows.collect()}
    assert not (routed_keys & fp_keys)
    assert result.scanned.count() > 0


def test_exclusion_filter(spark, transcripts, sigs):
    """debug-tool rows are excluded from scanning entirely (F3)."""
    from pyspark.sql import functions as F

    result = scan_transcripts(spark, transcripts, sigs, CFG)
    assert (
        result.scanned.filter(F.col("tool").rlike("debug-tool")).count() == 0
    )
    n_excluded = transcripts.filter(F.col("tool").rlike("debug-tool")).count()
    assert n_excluded > 0
    assert result.scanned.count() == transcripts.count() - n_excluded


def test_below_threshold_dropped(spark, transcripts, sigs, expected_rows):
    """lowrisk rows (score 20 < notice 40) match but are not routed."""
    from pyspark.sql import functions as F

    result = scan_transcripts(spark, transcripts, sigs, CFG)
    low = result.evaluated.filter(
        F.col("tool") == "/tmp/lowrisk.bin"
    ).collect()
    matched_low = [r for r in low if r["n_reasons"] > 0]
    assert matched_low, "lowrisk IOC should match"
    for r in matched_low:
        if r["n_reasons"] == 1:  # only the lowrisk reason
            assert r["level"] is None
            assert (r["conv_id"], r["turn_idx"]) not in expected_rows


def test_scan_routed_plan_invariants(spark, tmp_path):
    """Pins the plan shape PLANS.md claims for the production scan: the
    stored-table scan keeps filters pushed to parquet, exactly ONE
    python boundary, every dimension side broadcast, and ZERO
    hash-partitioning data shuffles between scan and routed."""
    from loki_rs_spark.plans.pipeline import scan_transcripts
    from loki_rs_spark.queries import bundled_signatures
    from loki_rs_spark.sources.transcripts import materialized_transcripts

    t = materialized_transcripts(
        spark, SF_SMALL, rep=4, base_dir=str(tmp_path)
    )
    routed = scan_transcripts(spark, t, bundled_signatures()).routed
    plan = routed._jdf.queryExecution().executedPlan().toString()
    assert "Exchange hashpartitioning" not in plan
    assert plan.count("ArrowEvalPython") == 1
    assert "PushedFilters: [IsNotNull(tool)]" in plan
    # round-7: over a stored-table input the tiny hash-IOC dims render as
    # literal InSet/CASE lookups (ioc_join.HASH_DIM_MAX_LITERALS), so
    # only the FP anti-join's broadcast remains (3 avoided broadcast
    # builds at ~0.25-0.4s of per-pass latency each; the FP drop stays a
    # join because a literal filter would push md5(text) into the scan
    # and hash every row twice)
    assert plan.count("BroadcastExchange") == 1
    assert "LeftAnti" in plan  # FP anti-join upstream of the UDF


def test_score_only_plan_invariants(spark, tmp_path):
    """The score-only pipeline keeps the same plan shape over a stored
    table, on both branches: exactly ONE python boundary (the
    asNondeterministic fence keeps the candidate-first routed filter
    from duplicating the matcher), one broadcast (the FP anti-join), and
    no hash-partitioning shuffle."""
    from loki_rs_spark.plans.pipeline import scan_transcripts_scores
    from loki_rs_spark.queries import bundled_signatures
    from loki_rs_spark.sources.transcripts import materialized_transcripts

    t = materialized_transcripts(
        spark, SF_SMALL, rep=4, base_dir=str(tmp_path)
    )
    result = scan_transcripts_scores(spark, t, bundled_signatures())
    for name in ("routed", "evaluated"):
        frame = getattr(result, name)
        plan = frame._jdf.queryExecution().executedPlan().toString()
        assert plan.count("ArrowEvalPython") == 1, name
        assert plan.count("BroadcastExchange") == 1, name
        assert "Exchange hashpartitioning" not in plan, name


def test_literal_dims_equal_join_dims(spark, sigs, tmp_path):
    """The literal hash-dim rendering (stored-table input) must produce
    routed rows identical to the broadcast-join rendering (generator
    input) — same corpus, same rep."""
    from loki_rs_spark.sources.transcripts import materialized_transcripts

    gen = load_transcripts(spark, SF_SMALL, rep=4)
    mat = materialized_transcripts(spark, SF_SMALL, rep=4, base_dir=str(tmp_path))
    cols = ["conv_id", "turn_idx", "md5", "sha1", "sha256", "score",
            "level", "n_reasons"]
    r_join = scan_transcripts(spark, gen, sigs, CFG).routed.select(*cols)
    r_lit = scan_transcripts(spark, mat, sigs, CFG).routed.select(*cols)
    assert sorted(map(tuple, r_join.collect())) == sorted(
        map(tuple, r_lit.collect())
    )
    # and the score-only pipeline agrees with itself across the two paths
    from loki_rs_spark.plans.pipeline import scan_transcripts_scores

    s_cols = ["conv_id", "turn_idx", "n_reasons", "score", "level"]
    s_join = scan_transcripts_scores(spark, gen, sigs, CFG).routed.select(*s_cols)
    s_lit = scan_transcripts_scores(spark, mat, sigs, CFG).routed.select(*s_cols)
    assert sorted(map(tuple, s_join.collect())) == sorted(
        map(tuple, s_lit.collect())
    )


@pytest.mark.parametrize("impl", ["pandas", "mapinarrow"])
def test_unknown_matcher_rejected(spark, transcripts, sigs, impl):
    """Only the arrow and catalyst matchers exist."""
    with pytest.raises(ValueError, match="unknown matcher"):
        scan_transcripts(spark, transcripts, sigs, CFG, matcher=impl)


def test_hash_ioc_hits_without_hash_iocs(spark, monkeypatch):
    """A signature set with no hash IOCs yields an empty result with the
    five output columns instead of an analysis error."""
    from loki_rs_spark import queries
    from loki_rs_spark.signatures.model import SignatureSet

    full = queries.q_hash_ioc_hits(spark, SF_SMALL)
    monkeypatch.setattr(queries, "bundled_signatures", lambda: SignatureSet())
    empty = queries.q_hash_ioc_hits(spark, SF_SMALL)
    assert empty.columns == [
        "conv_id", "turn_idx", "hash_type", "hash_value", "ioc_score"
    ]
    assert [f.dataType for f in empty.schema] == [
        f.dataType for f in full.schema
    ]
    assert empty.collect() == []
