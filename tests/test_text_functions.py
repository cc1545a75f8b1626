"""Scalar text/format helpers (P7-P10, S6/S7) — truth tables mirroring the
reference implementations."""

from __future__ import annotations

import pytest

from loki_rs_spark.functions.text import (
    ansi_strip,
    format_runtime,
    parse_size,
    syslog_pri,
    truncate_cmdline,
)


def test_ansi_strip():
    assert ansi_strip("\x1b[31mALERT\x1b[0m plain") == "ALERT plain"
    assert ansi_strip("no codes") == "no codes"


def test_format_runtime():
    assert format_runtime(0) == "0d:0h:0m:0s"
    assert format_runtime(86400 + 3600 + 60 + 1) == "1d:1h:1m:1s"
    assert format_runtime(359999) == "4d:3h:59m:59s"


def test_truncate_cmdline():
    assert truncate_cmdline("x" * 100) == "x" * 100
    out = truncate_cmdline("x" * 101)
    assert len(out) == 100 and out.endswith("...")


def test_parse_size():
    # mirrors src/helpers/helpers.rs:195-251 expectations (1024-based)
    assert parse_size("10MB") == 10 * 1024 * 1024
    assert parse_size("1GB") == 1024**3
    assert parse_size("512KB") == 512 * 1024
    assert parse_size("64000000") == 64_000_000
    assert parse_size("1.5KB") == 1536
    with pytest.raises(ValueError):
        parse_size("abc")


def test_syslog_pri():
    # default facility 1 (user-level, unified_logger.rs:521-522):
    # PRI = 1*8 + severity
    assert syslog_pri("ALERT") == 9
    assert syslog_pri("WARNING") == 12
    assert syslog_pri("NOTICE") == 13
    assert syslog_pri("INFO") == 14
    assert syslog_pri("unknown") == 14
    # explicit facility 3 (daemon)
    assert syslog_pri("ALERT", facility=3) == 25


def test_column_variants(spark):
    from pyspark.sql import functions as F

    from loki_rs_spark.functions.text import (
        ansi_strip_col,
        format_runtime_col,
        syslog_pri_col,
        truncate_cmdline_col,
    )

    df = spark.createDataFrame(
        [("\x1b[31mred\x1b[0m", 90061, "y" * 150, "ALERT")],
        "a string, secs long, cmd string, level string",
    )
    row = df.select(
        ansi_strip_col(F.col("a")).alias("stripped"),
        format_runtime_col(F.col("secs")).alias("runtime"),
        truncate_cmdline_col(F.col("cmd")).alias("cmd"),
        syslog_pri_col(F.col("level")).alias("pri"),
    ).collect()[0]
    assert row["stripped"] == "red"
    assert row["runtime"] == format_runtime(90061)
    assert row["cmd"] == truncate_cmdline("y" * 150)
    assert row["pri"] == 9


def test_plaintext_match_line(spark, sigs):
    from loki_rs_spark.config import ScanConfig
    from loki_rs_spark.functions.text import (
        plaintext_match_line,
        plaintext_match_line_col,
    )
    from loki_rs_spark.plans.pipeline import scan_transcripts
    from loki_rs_spark.sources.transcripts import load_transcripts
    from pyspark.sql import functions as F

    from .conftest import SF_SMALL

    routed = scan_transcripts(
        spark, load_transcripts(spark, SF_SMALL, rep=2), sigs, ScanConfig()
    ).routed
    rows = routed.withColumn(
        "line",
        plaintext_match_line_col(
            F.col("tool"), F.col("score"), F.col("reasons")
        ),
    ).collect()
    assert rows
    for r in rows[:20]:
        assert r["line"] == plaintext_match_line(r)
        assert r["line"].startswith("Match: ")


def test_pii_redact_patterns(spark):
    """The three PII patterns and their fixed redaction order (emails ->
    IPs -> phones): chained replacements must not re-match each other's
    placeholders, and counts must agree with the redaction."""
    from pyspark.sql import functions as F

    from loki_rs_spark.queries import PII_EMAIL, PII_IP, PII_PHONE

    rows = [
        ("mail a.b-c_d@sub.example.org now", 1, 0, 0,
         "mail [EMAIL] now"),
        ("callback 203.0.113.66 port 443", 0, 1, 0,
         "callback [IP] port 443"),
        ("dial +1 415-555-0199 today", 0, 0, 1, "dial [PHONE] today"),
        ("x ops@example.com 10.0.0.1 +44 20 7946 0958 y", 1, 1, 1,
         "x [EMAIL] [IP] [PHONE] y"),
        ("clean text with no pii at all", 0, 0, 0,
         "clean text with no pii at all"),
        # an IP must NOT count as a phone (dots break the digit run)
        ("just 203.0.113.66 here", 0, 1, 0, "just [IP] here"),
    ]
    df = spark.createDataFrame(
        [(t,) for t, *_ in rows], "text string"
    )
    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("text"), PII_EMAIL, "[EMAIL]"),
            PII_IP,
            "[IP]",
        ),
        PII_PHONE,
        "[PHONE]",
    )
    got = df.select(
        F.regexp_count("text", F.lit(PII_EMAIL)).alias("e"),
        F.regexp_count("text", F.lit(PII_IP)).alias("i"),
        F.regexp_count("text", F.lit(PII_PHONE)).alias("p"),
        redacted.alias("r"),
    ).collect()
    for (text, e, i, p, r), row in zip(rows, got):
        assert (row["e"], row["i"], row["p"]) == (e, i, p), text
        assert row["r"] == r, text
    # DuckDB agrees on the identical inputs (the oracle's engine)
    import duckdb

    con = duckdb.connect()
    for text, e, i, p, r in rows:
        de, di, dp, dr = con.execute(
            "SELECT len(regexp_extract_all(?, ?)),"
            " len(regexp_extract_all(?, ?)),"
            " len(regexp_extract_all(?, ?)),"
            " regexp_replace(regexp_replace(regexp_replace("
            "?, ?, '[EMAIL]', 'g'), ?, '[IP]', 'g'), ?, '[PHONE]', 'g')",
            [text, PII_EMAIL, text, PII_IP, text, PII_PHONE,
             text, PII_EMAIL, PII_IP, PII_PHONE],
        ).fetchone()
        assert (de, di, dp, dr) == (e, i, p, r), text


def test_top_multiplicity_matches_brute_force(spark):
    """The round-7 sorted-run fold in q_repetition_stats must report the
    same max element multiplicity as the definitional per-distinct count
    (the round-6 rendering), including ties, all-same, all-distinct,
    empty-string tokens, and NULL arrays; the empty-array (0 vs NULL)
    and NULL-element divergences are pinned as unreachable-but-known."""
    from collections import Counter

    from pyspark.sql import functions as F

    from loki_rs_spark.queries import _top_multiplicity

    cases = [
        ["a"],
        ["a", "a", "a"],
        ["a", "b", "c"],
        ["b", "a", "b", "c", "a", "b"],
        ["x", "y", "x", "y"],  # tie
        ["", "a", "", ""],  # empty-string tokens
        ["z", "Z", "z"],  # case-sensitive
        None,  # NULL array
    ]
    df = spark.createDataFrame(
        [(i, c) for i, c in enumerate(cases)], "i int, w array<string>"
    )
    got = {
        r["i"]: r["m"]
        for r in df.select("i", _top_multiplicity(F.col("w")).alias("m"))
        .collect()
    }
    for i, c in enumerate(cases):
        expect = None if c is None else max(Counter(c).values())
        assert got[i] == expect, (i, c)
    # first divergence from array_max-over-transform: empty array -> 0
    empty = spark.createDataFrame([(0,)], "i int").select(
        _top_multiplicity(F.array().cast("array<string>")).alias("m")
    ).collect()
    assert empty[0]["m"] == 0
    # ...and q_repetition_stats can never feed it one: split(text, " ")
    # yields at least one element for any non-NULL text
    probe = spark.range(1).select(
        F.size(F.split(F.lit(""), " ")).alias("n")
    ).collect()
    assert probe[0]["n"] == 1
    # NULL elements: each starts a run of 1 (NULL == NULL is NULL), so
    # [None, None] reads 1 where the per-distinct filter count read 0;
    # split() never yields a NULL element either
    nulls = spark.createDataFrame(
        [(0, [None, None]), (1, ["a", None])], "i int, w array<string>"
    )
    got = {
        r["i"]: r["m"]
        for r in nulls.select(
            "i", _top_multiplicity(F.col("w")).alias("m")
        ).collect()
    }
    assert got == {0: 1, 1: 1}
    old = F.array_max(
        F.transform(
            F.array_distinct("w"),
            lambda d: F.size(F.filter("w", lambda y: y == d)),
        )
    )
    got_old = {
        r["i"]: r["m"] for r in nulls.select("i", old.alias("m")).collect()
    }
    assert got_old == {0: 0, 1: 1}
