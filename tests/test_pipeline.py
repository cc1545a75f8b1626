"""End-to-end routed-row equality: the Spark pipeline (both the Arrow-UDF
matcher path and the pure-Catalyst path) against the row-at-a-time
pure-Python reference scanner, over the derived transcript table.

This mirrors the reference's own layered test strategy (SURVEY.md §5):
plant trigger rows, scan, compare per-rule matches and routed rows.
"""

from __future__ import annotations

import pytest

from loki_rs_spark.config import ScanConfig
from loki_rs_spark.plans.pipeline import scan_transcripts, scan_transcripts_scores
from loki_rs_spark.plans.reference_scanner import scan_turn
from loki_rs_spark.sources.transcripts import load_transcripts

from .conftest import SF_SMALL

REP = 4
CFG = ScanConfig()


@pytest.fixture(scope="module")
def transcripts(spark):
    return load_transcripts(spark, SF_SMALL, rep=REP).cache()


@pytest.fixture(scope="module")
def stored_transcripts(spark, tmp_path_factory):
    from loki_rs_spark.sources.transcripts import materialized_transcripts

    return materialized_transcripts(
        spark, SF_SMALL, rep=REP, base_dir=str(tmp_path_factory.mktemp("t"))
    )


def _reference_rows(transcripts, sigs, cfg):
    rows = {}
    for r in transcripts.collect():
        routed = scan_turn(
            r["conv_id"], r["turn_idx"], r["text"], r["tool"], sigs, cfg,
            role=r["role"],
        )
        if routed is not None:
            rows[(routed.conv_id, routed.turn_idx)] = routed
    return rows


@pytest.fixture(scope="module")
def expected_rows(spark, transcripts, sigs):
    return _reference_rows(transcripts, sigs, CFG)


def _collect_routed(result):
    return {(r["conv_id"], r["turn_idx"]): r for r in result.routed.collect()}


@pytest.mark.parametrize(
    "impl, cfg",
    [
        ("arrow", CFG),
        ("catalyst", CFG),
        # every reason shown, so each one's description, author, reference
        # and matched_strings is compared, not only the first two
        ("arrow", ScanConfig(max_reasons=100)),
        ("catalyst", ScanConfig(max_reasons=100)),
    ],
    ids=["arrow", "catalyst", "arrow-all-reasons", "catalyst-all-reasons"],
)
def test_routed_row_equality(
    spark, transcripts, sigs, expected_rows, impl, cfg
):
    expected = (
        expected_rows if cfg == CFG else _reference_rows(transcripts, sigs, cfg)
    )
    result = scan_transcripts(spark, transcripts, sigs, cfg, matcher=impl)
    actual = _collect_routed(result)

    assert set(actual) == set(expected)
    assert len(actual) > 0

    for key, exp in expected.items():
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


@pytest.mark.parametrize("shape", ["arrow", "catalyst", "scores"])
def test_zero_thresholds_route_matched_rows_only(
    spark, transcripts, sigs, expected_rows, shape
):
    """With every threshold at 0 every row's level is ALERT, so only the
    `n_reasons > 0` conjunct of the routed filter keeps unmatched rows
    out of `routed`."""
    cfg = ScanConfig(alert_threshold=0, warning_threshold=0, notice_threshold=0)
    expected = {}
    for r in transcripts.collect():
        row = scan_turn(
            r["conv_id"], r["turn_idx"], r["text"], r["tool"], sigs, cfg,
            role=r["role"],
        )
        if row is not None:
            expected[(row.conv_id, row.turn_idx)] = (
                row.level, row.score, row.n_reasons
            )
    if shape == "scores":
        result = scan_transcripts_scores(spark, transcripts, sigs, cfg)
    else:
        result = scan_transcripts(spark, transcripts, sigs, cfg, matcher=shape)
    actual = {
        (r["conv_id"], r["turn_idx"]): (r["level"], r["score"], r["n_reasons"])
        for r in result.routed.collect()
    }
    # the below-notice rows of the default config route here
    assert len(expected) > len(expected_rows)
    assert actual == expected


@pytest.mark.parametrize("source", ["generator", "stored"])
@pytest.mark.parametrize("source_kind", ["file", "process"])
def test_score_only_path_equals_full(
    spark, transcripts, stored_transcripts, sigs, source_kind, source
):
    """The lean score-only pipeline (scan_transcripts_scores) must agree
    with the full pipeline row-for-row on (n_reasons, score, level), for
    both hash-reason semantics and over both the generator frame (hash
    dims as broadcast joins) and a stored table (literal hash dims)."""
    frame = transcripts if source == "generator" else stored_transcripts

    def scores(result):
        return {
            (r["conv_id"], r["turn_idx"]): (r["n_reasons"], r["score"], r["level"])
            for r in result.evaluated.collect()
        }

    full = scores(
        scan_transcripts(spark, frame, sigs, CFG, source_kind=source_kind)
    )
    lean = scores(
        scan_transcripts_scores(spark, frame, sigs, CFG, source_kind=source_kind)
    )
    assert full == lean


def test_reason_struct_is_reason_type(spark):
    # executors build reasons without a JVM to parse REASON_TYPE, so the
    # matcher declares it again in pyarrow terms
    from pyspark.sql.pandas.types import to_arrow_type
    from pyspark.sql.types import DataType

    from loki_rs_spark.operators.arrow_matcher import REASON_STRUCT
    from loki_rs_spark.operators.ioc_join import REASON_TYPE

    assert REASON_STRUCT == to_arrow_type(DataType.fromDDL(REASON_TYPE))


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


def _executed_plan(frame) -> str:
    return frame._jdf.queryExecution().executedPlan().toString()


def test_scan_routed_plan_invariants(spark, stored_transcripts, sigs):
    """Pins the plan shape PLANS.md claims for the production scan over a
    stored table: exactly ONE python boundary, every dimension side
    broadcast, ZERO hash-partitioning data shuffles between scan and
    routed, no NULL-`tool` drop (see test_null_tool_turns_are_scanned),
    and a routed plan of the same order of size as `evaluated`'s."""
    result = scan_transcripts(spark, stored_transcripts, sigs)
    plan = _executed_plan(result.routed)
    assert len(plan) <= 4 * len(_executed_plan(result.evaluated))
    assert "Exchange hashpartitioning" not in plan
    assert plan.count("ArrowEvalPython") == 1
    assert "IsNotNull(tool)" not in plan
    # over a stored-table input the tiny hash-IOC dims render as literal
    # InSet/CASE lookups (ioc_join.HASH_DIM_MAX_LITERALS), so only the FP
    # anti-join's broadcast remains (each broadcast of a LocalRelation dim
    # costs ~0.1s per pass; the FP drop stays a join because a literal
    # filter would push md5(text) into the scan and hash every row twice)
    assert plan.count("BroadcastExchange") == 1
    assert "LeftAnti" in plan  # FP anti-join upstream of the UDF
    assert "ExistingRDD" not in plan  # dims are LocalRelations


def test_score_only_plan_invariants(spark, stored_transcripts, sigs):
    """The score-only pipeline keeps the same plan shape over a stored
    table, on both branches: exactly ONE python boundary (the
    asNondeterministic fence keeps the routed filter, which reads the
    matcher's output, from duplicating the matcher), one broadcast (the
    FP anti-join), no hash-partitioning shuffle, and a routed plan of the
    same order of size as `evaluated`'s."""
    result = scan_transcripts_scores(spark, stored_transcripts, sigs)
    assert len(_executed_plan(result.routed)) <= 4 * len(
        _executed_plan(result.evaluated)
    )
    for name in ("routed", "evaluated"):
        plan = _executed_plan(getattr(result, name))
        assert plan.count("ArrowEvalPython") == 1, name
        assert plan.count("BroadcastExchange") == 1, name
        assert "Exchange hashpartitioning" not in plan, name
        assert "ExistingRDD" not in plan, name


def test_catalyst_plan_invariants(spark, stored_transcripts, sigs):
    """The catalyst matcher over a stored table, on both branches: no
    python boundary at all, one broadcast (the FP anti-join), no
    hash-partitioning shuffle, and a routed plan of the same order of
    size as `evaluated`'s."""
    result = scan_transcripts(spark, stored_transcripts, sigs, matcher="catalyst")
    assert len(_executed_plan(result.routed)) <= 4 * len(
        _executed_plan(result.evaluated)
    )
    for name in ("routed", "evaluated"):
        plan = _executed_plan(getattr(result, name))
        assert plan.count("ArrowEvalPython") == 0, name
        assert plan.count("BroadcastExchange") == 1, name
        assert "Exchange hashpartitioning" not in plan, name
        assert "ExistingRDD" not in plan, name


def test_generator_plan_dims_are_local_relations(spark, transcripts, sigs):
    """Over the generator frame the hash-IOC dims take the broadcast-join
    path (FP anti-join plus one left join per hash type); every dim is a
    LocalRelation, so the one Python stage is the matcher UDF."""
    plan = _executed_plan(scan_transcripts(spark, transcripts, sigs).routed)
    assert plan.count("BroadcastExchange") == 4
    assert plan.count("ArrowEvalPython") == 1
    assert "ExistingRDD" not in plan


def test_literal_dims_equal_join_dims(spark, sigs, stored_transcripts):
    """The literal hash-dim rendering (stored-table input) must produce
    routed rows identical to the broadcast-join rendering (generator
    input) — same corpus, same rep."""
    gen = load_transcripts(spark, SF_SMALL, rep=REP)
    mat = stored_transcripts
    cols = ["conv_id", "turn_idx", "md5", "sha1", "sha256", "score",
            "level", "n_reasons"]
    r_join = scan_transcripts(spark, gen, sigs, CFG).routed.select(*cols)
    r_lit = scan_transcripts(spark, mat, sigs, CFG).routed.select(*cols)
    assert sorted(map(tuple, r_join.collect())) == sorted(
        map(tuple, r_lit.collect())
    )
    # and the score-only pipeline agrees with itself across the two paths
    s_cols = ["conv_id", "turn_idx", "n_reasons", "score", "level"]
    s_join = scan_transcripts_scores(spark, gen, sigs, CFG).routed.select(*s_cols)
    s_lit = scan_transcripts_scores(spark, mat, sigs, CFG).routed.select(*s_cols)
    assert sorted(map(tuple, s_join.collect())) == sorted(
        map(tuple, s_lit.collect())
    )


@pytest.mark.parametrize("impl", ["pandas", "mapinarrow", "scores"])
def test_unknown_matcher_rejected(spark, transcripts, sigs, impl):
    """Only the arrow and catalyst matchers exist; the score-only shape
    is reachable through scan_transcripts_scores alone."""
    with pytest.raises(ValueError, match="unknown matcher"):
        scan_transcripts(spark, transcripts, sigs, CFG, matcher=impl)


@pytest.mark.parametrize("shape", ["arrow", "catalyst", "scores"])
def test_null_tool_turns_are_scanned(spark, sigs, shape):
    """A turn with a NULL `tool` matches no exclusion: it is counted as
    scanned and matched on its text like any other turn (filename IOCs
    cannot fire; external variables read '')."""
    from pyspark.sql import functions as F

    rows = [
        ("EICAR-TEST-PAYLOAD-ALPHA", None),
        ("beacon to evil-c2.example.com now", None),
        ("", None),
        ("a perfectly clean turn", None),
        (None, None),
        ("EICAR-TEST-PAYLOAD-ALPHA", "tool-1"),
        ("EICAR-TEST-PAYLOAD-ALPHA", "debug-tool-7"),  # excluded
    ]
    df = spark.createDataFrame(
        [(f"n{i}", i, "user", text, tool) for i, (text, tool) in enumerate(rows)],
        "conv_id string, turn_idx int, role string, text string, tool string",
    ).withColumn("ts", F.lit("2026-01-01").cast("timestamp"))
    if shape == "scores":
        result = scan_transcripts_scores(spark, df, sigs, CFG)
    else:
        result = scan_transcripts(spark, df, sigs, CFG, matcher=shape)
    expected = {}
    for i, (text, tool) in enumerate(rows):
        routed = scan_turn(f"n{i}", i, text, tool, sigs, CFG)
        if routed is not None:
            expected[i] = routed
    actual = {r["turn_idx"]: r for r in result.routed.collect()}

    assert {0, 1} <= set(expected)
    assert expected[0].level == expected[1].level == "ALERT"
    assert set(actual) == set(expected)
    for i, exp in expected.items():
        act = actual[i]
        assert (act["level"], act["score"], act["n_reasons"]) == (
            exp.level, exp.score, exp.n_reasons
        ), i
        if shape != "scores":
            assert [r["message"] for r in act["reasons"]] == [
                r.message for r in exp.reasons
            ], i
    assert result.scanned.count() == len(rows) - 1


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


# ---- one compiled scan plan per key ---------------------------------------


def _fresh_plans(monkeypatch):
    """An empty plan cache for this test, and a list that records every
    payload broadcast."""
    from collections import OrderedDict

    from pyspark import SparkContext

    from loki_rs_spark.plans import pipeline

    monkeypatch.setattr(pipeline, "_PLANS", OrderedDict())
    broadcasts = []
    orig = SparkContext.broadcast

    def counted(self, value):
        broadcasts.append(len(value))
        return orig(self, value)

    monkeypatch.setattr(SparkContext, "broadcast", counted)
    return broadcasts


@pytest.mark.parametrize(
    "build", [scan_transcripts, scan_transcripts_scores],
    ids=["arrow", "scores"],
)
def test_warm_build_round_trips(spark, sigs, stored_transcripts, monkeypatch,
                                build):
    """Once its plan is compiled, a scan build makes a few dozen py4j round
    trips instead of thousands (object releases not counted)."""
    import py4j.clientserver as cs

    _fresh_plans(monkeypatch)
    build(spark, stored_transcripts, sigs).routed  # compiles the plan
    calls = []
    orig = cs.ClientServerConnection.send_command

    def counted(self, command):
        if not command.startswith("m\nd\n"):
            calls.append(command)
        return orig(self, command)

    monkeypatch.setattr(cs.ClientServerConnection, "send_command", counted)
    build(spark, stored_transcripts, sigs).routed
    monkeypatch.undo()
    assert 0 < len(calls) <= 400


def test_one_payload_broadcast_per_plan(spark, sigs, stored_transcripts,
                                        monkeypatch):
    broadcasts = _fresh_plans(monkeypatch)
    first = _collect_routed(scan_transcripts(spark, stored_transcripts, sigs))
    second = _collect_routed(scan_transcripts(spark, stored_transcripts, sigs))
    assert len(broadcasts) == 1
    assert first == second


def test_matcher_queries_share_one_payload_broadcast(
    spark, sigs, stored_transcripts, monkeypatch
):
    """The queries that read the Arrow matcher UDF directly take it from
    the compiled scan plan, and a score-only scan is a projection of the
    reason scan: building each twice compiles one plan and makes one
    broadcast, over the generator frame and over a stored table."""
    from loki_rs_spark import queries
    from loki_rs_spark.plans import pipeline
    from loki_rs_spark.sources.transcripts import DEFAULT_REP

    broadcasts = _fresh_plans(monkeypatch)
    generated = load_transcripts(spark, SF_SMALL, rep=DEFAULT_REP)
    for _ in range(2):
        queries.q_filename_ioc_hits(spark, SF_SMALL)
        queries.q_yara_count_offset_hits(spark, SF_SMALL)
        queries.q_yara_xor_base64_hits(spark, SF_SMALL)
        queries.q_severity_counts(spark, SF_SMALL)
        scan_transcripts_scores(spark, generated, queries.bundled_signatures())
    assert len(broadcasts) == 1
    assert len(pipeline._PLANS) == 1

    pipeline._PLANS.clear()
    scan_transcripts(spark, stored_transcripts, sigs)
    scan_transcripts_scores(spark, stored_transcripts, sigs)
    assert len(pipeline._PLANS) == 1
    assert len(broadcasts) == 2


def test_each_key_gets_its_own_plan(spark, sigs, stored_transcripts,
                                    monkeypatch):
    """Builds that differ in ScanConfig, source_kind or signature set each
    compile their own plan, interleaved in one session, and route what the
    reference scanner routes for that key."""
    import dataclasses

    broadcasts = _fresh_plans(monkeypatch)
    rows = stored_transcripts.collect()
    no_c2 = dataclasses.replace(sigs, c2_iocs=())
    keys = [
        (sigs, CFG, "file"),
        (sigs, ScanConfig(max_reasons=100), "file"),
        (sigs, CFG, "process"),
        (no_c2, CFG, "file"),
    ]
    seen = []
    for key in keys + keys[:1]:
        key_sigs, cfg, kind = key
        routed = scan_transcripts(
            spark, stored_transcripts, key_sigs, cfg, source_kind=kind
        ).routed
        actual = {
            (r["conv_id"], r["turn_idx"]): (
                r["level"], r["score"], [x["message"] for x in r["reasons"]]
            )
            for r in routed.collect()
        }
        expected = {}
        for r in rows:
            ref = scan_turn(
                r["conv_id"], r["turn_idx"], r["text"], r["tool"], key_sigs,
                cfg, role=r["role"], source_kind=kind,
            )
            if ref is not None:
                expected[(ref.conv_id, ref.turn_idx)] = (
                    ref.level, ref.score, [x.message for x in ref.reasons]
                )
        assert actual == expected, key[1:]
        seen.append(actual)
    assert len(broadcasts) == len(keys)  # the repeated key reused its plan
    assert seen[-1] == seen[0]
    assert len({repr(sorted(s.items())) for s in seen}) == len(keys)


def test_plan_cache_compiles_each_key_once_across_threads(monkeypatch):
    """Concurrent builds of the same keys compile each plan once (the
    cache's check-then-insert holds its lock), and the cache stays
    within its bound."""
    import sys
    import threading
    import time
    from collections import Counter, OrderedDict
    from types import SimpleNamespace

    from loki_rs_spark.plans import pipeline

    monkeypatch.setattr(pipeline, "_PLANS", OrderedDict())
    compiled = Counter()

    def fake_compile(spark, sigs, cfg, matcher, source_kind, literal_dims):
        compiled[(sigs.fingerprint, matcher)] += 1
        time.sleep(0.001)  # a real compile waits on the JVM
        return object()

    monkeypatch.setattr(pipeline, "_compile_plan", fake_compile)
    spark = SimpleNamespace(_jsparkSession=object())
    keys = [
        (SimpleNamespace(fingerprint=f"fp{i}"), m)
        for i in range(4) for m in ("arrow", "scores")
    ]

    start = threading.Barrier(8)

    def worker():
        start.wait(timeout=60)
        for _ in range(200):
            for sigs, matcher in keys:
                pipeline._scan_plan(spark, sigs, CFG, matcher, "file", True)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=worker) for _ in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert len(compiled) == len(keys)
    assert set(compiled.values()) == {1}
    assert len(pipeline._PLANS) == len(keys) <= pipeline._PLAN_CACHE_SIZE
