"""J4 C2 scale path: a planted 5,000-entry C2 corpus through the arrow
matcher's dict-probe implementation (operators/arrow_matcher.
_c2_match_lists + matcher.CompiledEngine.c2_lookup), checked against an
independent per-row walk that mirrors the reference's check_c2_match
loop (src/main.rs:614-651: first IOC in list order wins, IPv4 remotes
match exactly, domains match by RAW ends_with-or-equality)."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from loki_rs_spark.config import ScanConfig
from loki_rs_spark.operators.ioc_join import (
    C2_GATE_MAX_LITERALS,
    HOST_PATTERN,
    IPV4_PATTERN,
)
from loki_rs_spark.plans.pipeline import scan_transcripts
from loki_rs_spark.signatures.model import C2IOC, SignatureSet

HOST_RX = re.compile(HOST_PATTERN)
IPV4_RX = re.compile(IPV4_PATTERN)


def big_corpus(n: int = 5000) -> tuple[C2IOC, ...]:
    iocs = [
        # planted interesting entries FIRST so order matters
        C2IOC("bad.net", 80, "suffix target"),
        C2IOC("deep.bad.net", 90, "longer suffix, later in file"),
        C2IOC("203.0.113.99", 85, "exact ip"),
        C2IOC("13.99", 70, "ip-suffix-shaped domain entry"),
    ]
    iocs += [
        C2IOC(f"srv{i}.scale{i % 97}.test", 75, f"bulk-{i}")
        for i in range(n - len(iocs))
    ]
    return tuple(iocs)


def reference_walk(text: str, iocs) -> list[tuple[str, int]]:
    """Per-row mirror of src/main.rs check_c2_match: for each extracted
    host (occurrence order), the FIRST ioc in list order that matches."""
    out = []
    for host in HOST_RX.findall(text.lower()):
        for ioc in iocs:
            if IPV4_RX.match(host):
                if ioc.server == host:
                    out.append((host, ioc.score))
                    break
            elif host.endswith(ioc.server) or host == ioc.server:
                out.append((host, ioc.score))
                break
    return out


ROWS = [
    ("c0", 0, "beacon to sub.bad.net now"),  # suffix via label boundary
    ("c0", 1, "contact xbad.net please"),  # RAW endswith: matches 'bad.net'
    ("c0", 2, "host deep.bad.net here"),  # 'bad.net' wins (earlier in file)
    ("c0", 3, "ip 203.0.113.99 and ip 203.0.113.98"),  # exact IP only
    ("c0", 4, "ip 203.0.113.99 twice: 203.0.113.99"),  # per-occurrence dup
    ("c0", 5, "srv123.scale26.test called home"),  # bulk entry
    ("c0", 6, "weird 999.0.113.99 token"),  # not an IP (octet>255): domain
    #   rules apply -> raw-endswith '13.99' fires
    ("c0", 7, "nothing suspicious at all"),
    ("c0", 8, "srv4996.scale?.test"),  # '?' breaks host token; no match
]


@pytest.fixture(scope="module")
def planted(spark):
    df = spark.createDataFrame(
        [
            (conv, idx, "assistant", text, "tool-x", "2026-01-01 00:00:00")
            for conv, idx, text in ROWS
        ],
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def _routed_c2(spark, planted, iocs):
    sigs = SignatureSet(c2_iocs=iocs)
    cfg = ScanConfig(notice_threshold=1)  # keep every scored row visible
    res = scan_transcripts(spark, planted, sigs, cfg)
    rows = res.routed.select("turn_idx", "all_reasons").collect()
    return {
        r["turn_idx"]: [
            (m["message"].split("HOST: ")[1], m["score"])
            for m in r["all_reasons"]
        ]
        for r in rows
    }


def test_planted_5k_corpus_matches_reference_walk(spark, planted):
    iocs = big_corpus()
    assert len(iocs) == 5000 and len(iocs) > C2_GATE_MAX_LITERALS
    got = _routed_c2(spark, planted, iocs)
    for _conv, idx, text in ROWS:
        assert got.get(idx, []) == reference_walk(text, iocs), (idx, text)


def test_small_corpus_arrow_equals_case_chain(spark, planted):
    """<=64 IOCs: the arrow dict-probe path and the JVM per-host CASE
    chain (c2_reason_array, the catalyst matcher path) must route
    identically."""
    iocs = big_corpus()[:10]
    sigs = SignatureSet(c2_iocs=iocs)
    cfg = ScanConfig(notice_threshold=1)
    arrow = scan_transcripts(spark, planted, sigs, cfg, matcher="arrow")
    catalyst = scan_transcripts(spark, planted, sigs, cfg, matcher="catalyst")
    a = sorted(map(str, arrow.routed.drop("all_reasons").collect()))
    c = sorted(map(str, catalyst.routed.drop("all_reasons").collect()))
    assert a == c and a  # non-empty


def test_c2_lookup_first_match_and_ip_semantics():
    from loki_rs_spark.operators.matcher import CompiledEngine

    eng = CompiledEngine(SignatureSet(c2_iocs=big_corpus()))
    # raw endswith: 'xbad.net' matches 'bad.net'
    assert eng.c2_lookup("xbad.net") == (0, 80, "suffix target")
    # first-in-file wins over the longer, later suffix
    assert eng.c2_lookup("deep.bad.net") == (0, 80, "suffix target")
    # IPv4: exact only — no suffix matching into '13.99'
    assert eng.c2_lookup("203.0.113.99") == (2, 85, "exact ip")
    assert eng.c2_lookup("203.0.113.98") is None
    # non-IP token gets domain rules, so '13.99' CAN fire
    assert eng.c2_lookup("999.0.113.99") == (3, 70, "ip-suffix-shaped domain entry")
    assert eng.c2_lookup("srv77.scale77.test") == (4 + 77, 75, "bulk-77")

    # the kernel over the planted rows plus one host-stuffed row (past the
    # per-row cap): the score kernel is the reasons' score projection
    import pyarrow as pa

    from loki_rs_spark.config import MAX_MATCHES
    from loki_rs_spark.operators.arrow_matcher import (
        match_record_batch,
        match_scores_record_batch,
    )

    stuffed = " ".join(f"srv{i}.scale{i % 97}.test" for i in range(150))
    texts = [text for _conv, _idx, text in ROWS] + [stuffed, None, ""]
    batch = pa.RecordBatch.from_arrays(
        [
            pa.array(texts),
            pa.array(["tool-x"] * len(texts)),
            pa.array([0] * len(texts), type=pa.int64()),
        ],
        names=["text", "tool", "ext_bits"],
    )
    c2 = match_record_batch(eng, batch)[2].to_pylist()
    assert len(c2[-3]) == MAX_MATCHES and c2[-2:] == [[], []]
    assert match_scores_record_batch(eng, batch)[2].to_pylist() == [
        [r["score"] for r in row] for row in c2
    ]
