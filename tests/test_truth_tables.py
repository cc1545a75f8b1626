"""Match-semantics truth tables ported from the reference's unit tests
(src/main.rs:1578-2466), executed against BOTH the pure-Python reference
scanner and the real Spark pipeline on micro-fixture turns."""

from __future__ import annotations

import hashlib

import pytest

from loki_rs_spark.config import ScanConfig
from loki_rs_spark.plans.pipeline import scan_transcripts
from loki_rs_spark.plans.reference_scanner import scan_turn
from loki_rs_spark.signatures.model import (
    C2IOC,
    FilenameIOC,
    HashIOC,
    SignatureSet,
    YaraRule,
    YaraString,
)

CFG = ScanConfig(exclude_patterns=())


def _sigs(**kwargs) -> SignatureSet:
    return SignatureSet(**{k: tuple(v) for k, v in kwargs.items()})


def _turn_df(spark, rows):
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [
            (f"c{i}", i, "user", text, tool)
            for i, (text, tool) in enumerate(rows)
        ],
        "conv_id string, turn_idx int, role string, text string, tool string",
    )
    return df.withColumn("ts", F.lit("2026-01-01").cast("timestamp"))


def _routed_levels(spark, rows, sigs):
    result = scan_transcripts(spark, _turn_df(spark, rows), sigs, CFG)
    return {
        r["turn_idx"]: (r["level"], r["score"], [x["message"] for x in r["reasons"]])
        for r in result.routed.collect()
    }


# ---- C2 matching truth table (src/main.rs:612-651 tests) ----------------

C2_SIGS = _sigs(
    c2_iocs=[
        C2IOC("evildomain.com", 80, ""),
        C2IOC("10.20.30.40", 85, ""),
    ]
)


@pytest.mark.parametrize(
    "text,hit",
    [
        ("connect evildomain.com now", True),  # exact domain
        ("connect dga1.evildomain.com now", True),  # subdomain suffix
        ("connect EVILDOMAIN.COM now", True),  # case-insensitive (lowered)
        ("connect notevildomain.org now", False),
        ("connect 10.20.30.40 now", True),  # IP exact
        ("connect 110.20.30.40 now", False),  # IP no suffix matching
        ("connect 10.20.30.41 now", False),
    ],
)
def test_c2_truth_table(spark, text, hit):
    ref = scan_turn("c0", 0, text, "tool-x", C2_SIGS, CFG)
    assert (ref is not None) == hit
    routed = _routed_levels(spark, [(text, "tool-x")], C2_SIGS)
    assert (0 in routed) == hit
    if hit:
        assert routed[0][2][0].startswith("C2 IOC match")


# Out-of-range octets are NOT IPs (reference is_ip_address requires 0-255,
# src/main.rs:612-651): "999.12.34.56" falls through to domain SUFFIX
# matching, so a C2 entry "12.34.56" hits it while a true IP entry never
# suffix-matches.
OCTET_SIGS = _sigs(c2_iocs=[C2IOC("12.34.56", 80, "")])


@pytest.mark.parametrize(
    "text,hit",
    [
        ("connect 999.12.34.56 now", True),  # not an IP -> suffix match
        ("connect 9.12.34.56 now", False),  # valid IP -> exact only
    ],
)
def test_c2_out_of_range_octet(spark, text, hit):
    ref = scan_turn("c0", 0, text, "tool-x", OCTET_SIGS, CFG)
    assert (ref is not None) == hit
    routed = _routed_levels(spark, [(text, "tool-x")], OCTET_SIGS)
    assert (0 in routed) == hit


# Leading-zero octets are not IPs either (Rust Ipv4Addr::from_str rejects
# them): "01.2.3.4" falls through to domain suffix matching in ALL engines.
LEADZERO_SIGS = _sigs(c2_iocs=[C2IOC("2.3.4", 80, "")])


@pytest.mark.parametrize(
    "text,hit",
    [
        ("connect 01.2.3.4 now", True),  # not an IP -> suffix match
        ("connect 1.2.3.4 now", False),  # valid IP -> exact only
    ],
)
def test_c2_leading_zero_octet(spark, text, hit):
    ref = scan_turn("c0", 0, text, "tool-x", LEADZERO_SIGS, CFG)
    assert (ref is not None) == hit
    routed = _routed_levels(spark, [(text, "tool-x")], LEADZERO_SIGS)
    assert (0 in routed) == hit


# ---- filename IOC + fp_regex truth table (src/main.rs tests) -------------

FN_SIGS = _sigs(
    filename_iocs=[
        FilenameIOC(r"mimikatz", 90, "d", None),
        FilenameIOC(r"helper.*\.exe", 65, "d", r"_config\.exe"),
    ]
)


@pytest.mark.parametrize(
    "tool,expected_patterns",
    [
        ("c:/x/mimikatz.exe", ["mimikatz"]),
        ("c:/x/MIMIKATZ.exe", []),  # case-sensitive in the reference
        ("/opt/helper_tool.exe", [r"helper.*\.exe"]),
        ("/opt/helper_config.exe", []),  # fp regex suppresses
        ("/opt/other.exe", []),
    ],
)
def test_filename_fp_truth_table(spark, tool, expected_patterns):
    ref = scan_turn("c0", 0, "benign text", tool, FN_SIGS, CFG)
    got_ref = (
        [r.message.split("PATTERN: ")[1] for r in ref.reasons] if ref else []
    )
    assert got_ref == expected_patterns
    routed = _routed_levels(spark, [("benign text", tool)], FN_SIGS)
    got = (
        [m.split("PATTERN: ")[1] for m in routed[0][2]] if 0 in routed else []
    )
    assert got == expected_patterns


# ---- FP-hash exclusion beats everything (filesystem_scan.rs:854-859) ----


def test_fp_hash_beats_filename_and_yara(spark):
    payload = "TRIGGER-CONTENT-XYZ"
    md5 = hashlib.md5(payload.encode()).hexdigest()
    sigs = _sigs(
        fp_hashes=[HashIOC(md5, "md5", 0, "known good")],
        filename_iocs=[FilenameIOC("mimikatz", 90, "d", None)],
        yara_rules=[
            YaraRule(
                "R", 80, "", "", "",
                (YaraString("$a", "TRIGGER-CONTENT", False, False),),
                "any",
            )
        ],
    )
    # without FP the row would ALERT on filename+yara; with FP it vanishes
    ref = scan_turn("c0", 0, payload, "c:/mimikatz.exe", sigs, CFG)
    assert ref is None
    routed = _routed_levels(spark, [(payload, "c:/mimikatz.exe")], sigs)
    assert routed == {}


# ---- hash IOC: one reason per hash type, all three can fire -------------


def test_hash_ioc_per_type(spark):
    payload = "HASH-ME"
    raw = payload.encode()
    sigs = _sigs(
        hash_iocs=[
            HashIOC(hashlib.md5(raw).hexdigest(), "md5", 70, "m"),
            HashIOC(hashlib.sha1(raw).hexdigest(), "sha1", 70, "s1"),
            HashIOC(hashlib.sha256(raw).hexdigest(), "sha256", 70, "s2"),
        ]
    )
    ref = scan_turn("c0", 0, payload, "tool-x", sigs, CFG)
    assert ref is not None and ref.n_reasons == 3
    # score of [70,70,70] -> 83.9125 -> 84 -> ALERT
    assert ref.score == 84 and ref.level == "ALERT"
    routed = _routed_levels(spark, [(payload, "tool-x")], sigs)
    assert routed[0][0] == "ALERT" and routed[0][1] == 84


# ---- discovery order: filename -> hashes -> yara -> c2 -------------------


def test_reason_discovery_order(spark):
    payload = "ORDERED netcat beacon evil.example.net end"
    raw = payload.encode()
    sigs = _sigs(
        hash_iocs=[HashIOC(hashlib.md5(raw).hexdigest(), "md5", 40, "m")],
        filename_iocs=[FilenameIOC("ordertool", 40, "d", None)],
        c2_iocs=[C2IOC("evil.example.net", 40, "")],
        yara_rules=[
            YaraRule(
                "NC", 40, "", "", "",
                (YaraString("$a", "netcat", False, False),),
                "any",
            )
        ],
    )
    cfg = ScanConfig(exclude_patterns=(), max_reasons=10)
    ref = scan_turn("c0", 0, payload, "/bin/ordertool", sigs, cfg)
    kinds = [r.message.split(" ")[0] for r in ref.reasons]
    assert kinds == ["File", "HASH", "YARA", "C2"]
    result = scan_transcripts(
        spark, _turn_df(spark, [(payload, "/bin/ordertool")]), sigs, cfg
    )
    rows = result.routed.collect()
    assert len(rows) == 1
    got = [m["message"].split(" ")[0] for m in rows[0]["reasons"]]
    assert got == ["File", "HASH", "YARA", "C2"]


# ---- YARA string modifiers: fullword / wide / hex ------------------------


def _yara_sigs(strings, condition="any of them", score=80):
    return _sigs(
        yara_rules=[YaraRule("R", score, "", "", "", tuple(strings), condition)]
    )


FULLWORD_SIGS = _yara_sigs([YaraString("$a", "acrobat", fullword=True)])
FULLWORD_NOCASE_SIGS = _yara_sigs(
    [YaraString("$a", "acrobat", nocase=True, fullword=True)]
)


@pytest.mark.parametrize(
    "text,hit",
    [
        ("run acrobat now", True),
        ("acrobat", True),  # string boundaries count as word boundaries
        ("acrobatreader here", False),
        ("an xacrobat here", False),
        ("see acrobat9 here", False),
        ("see (acrobat) here", True),  # punctuation is a boundary
        ("see ACROBAT here", False),  # fullword alone stays case-sensitive
    ],
)
def test_fullword_truth_table(spark, text, hit):
    ref = scan_turn("c0", 0, text, "tool-x", FULLWORD_SIGS, CFG)
    assert (ref is not None) == hit
    routed = _routed_levels(spark, [(text, "tool-x")], FULLWORD_SIGS)
    assert (0 in routed) == hit


def test_fullword_nocase(spark):
    text = "see ACROBAT here"
    assert scan_turn("c0", 0, text, "t", FULLWORD_NOCASE_SIGS, CFG) is not None
    routed = _routed_levels(spark, [(text, "t")], FULLWORD_NOCASE_SIGS)
    assert 0 in routed


FULLWORD_REGEX_SIGS = _yara_sigs(
    [YaraString("$r", r"probe[0-9]+", is_regex=True, fullword=True)]
)


@pytest.mark.parametrize(
    "text,hit",
    [
        ("run probe1 now", True),
        ("run xprobe1 now", False),  # fullword applies to regex strings too
        ("run probe1x now", False),
        ("probe22", True),
    ],
)
def test_fullword_on_regex_strings(spark, text, hit):
    ref = scan_turn("c0", 0, text, "tool-x", FULLWORD_REGEX_SIGS, CFG)
    assert (ref is not None) == hit
    routed = _routed_levels(spark, [(text, "tool-x")], FULLWORD_REGEX_SIGS)
    assert (0 in routed) == hit


NONASCII_SIGS = _yara_sigs([YaraString("$u", "病毒", fullword=True)])


def test_non_ascii_literal_with_modifier(spark):
    """Non-ASCII literals forced onto the regex path must stay RE2-valid
    (raw chars, not \\uHHHH escapes)."""
    for text, hit in [("found 病毒 here", True), ("nothing", False)]:
        ref = scan_turn("c0", 0, text, "tool-x", NONASCII_SIGS, CFG)
        assert (ref is not None) == hit
        routed = _routed_levels(spark, [(text, "tool-x")], NONASCII_SIGS)
        assert (0 in routed) == hit


WIDE_SIGS = _yara_sigs([YaraString("$w", "cmd", wide=True, ascii_form=False)])
WIDE_ASCII_SIGS = _yara_sigs([YaraString("$w", "cmd", wide=True, ascii_form=True)])


@pytest.mark.parametrize(
    "text,wide_hit,both_hit",
    [
        ("run c\x00m\x00d\x00 now", True, True),  # UTF-16LE interleave
        ("run cmd now", False, True),  # plain form: only `wide ascii`
        ("run cxmxd now", False, False),
    ],
)
def test_wide_truth_table(spark, text, wide_hit, both_hit):
    assert (scan_turn("c0", 0, text, "t", WIDE_SIGS, CFG) is not None) == wide_hit
    assert (
        scan_turn("c0", 0, text, "t", WIDE_ASCII_SIGS, CFG) is not None
    ) == both_hit
    routed_w = _routed_levels(spark, [(text, "t")], WIDE_SIGS)
    routed_b = _routed_levels(spark, [(text, "t")], WIDE_ASCII_SIGS)
    assert (0 in routed_w) == wide_hit
    assert (0 in routed_b) == both_hit


HEX_SIGS = _yara_sigs([YaraString("$h", "41 42 ?? 44", is_hex=True)])
HEX_JUMP_SIGS = _yara_sigs([YaraString("$h", "41 [1-2] 44", is_hex=True)])


@pytest.mark.parametrize(
    "sigs,text,hit",
    [
        (HEX_SIGS, "xx ABCD yy", True),
        (HEX_SIGS, "xx AB\nD yy", True),  # ?? spans newline ((?s))
        (HEX_SIGS, "xx ABD yy", False),
        (HEX_JUMP_SIGS, "xx AxD yy", True),
        (HEX_JUMP_SIGS, "xx AxyD yy", True),
        (HEX_JUMP_SIGS, "xx AD yy", False),
        (HEX_JUMP_SIGS, "xx AxyzD yy", False),
    ],
)
def test_hex_string_truth_table(spark, sigs, text, hit):
    ref = scan_turn("c0", 0, text, "tool-x", sigs, CFG)
    assert (ref is not None) == hit
    routed = _routed_levels(spark, [(text, "tool-x")], sigs)
    assert (0 in routed) == hit


# ---- external variables (filename/filepath/extension/filetype/owner) -----


def _turn_df_roles(spark, rows):
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [
            (f"c{i}", i, role, text, tool)
            for i, (text, tool, role) in enumerate(rows)
        ],
        "conv_id string, turn_idx int, role string, text string, tool string",
    )
    return df.withColumn("ts", F.lit("2026-01-01").cast("timestamp"))


EXTVAR_SIGS = _sigs(
    yara_rules=[
        YaraRule(
            "ExeNetcat", 80, "", "", "",
            (YaraString("$nc", "netcat"),),
            '$nc and extension == "exe"',
        ),
        YaraRule(
            "ToolRoleMimi", 80, "", "", "",
            (),
            'filename contains "mimikatz" and owner == "tool"',
        ),
        YaraRule(
            "PathMatch", 80, "", "", "",
            (),
            "filepath matches /^c:/ and filetype iequals \"executable\"",
        ),
    ]
)


@pytest.mark.parametrize(
    "text,tool,role,expected_rules",
    [
        ("ran netcat", "/tmp/nc.exe", "user", ["ExeNetcat"]),
        ("ran netcat", "/tmp/nc.bin", "user", []),  # extension != exe
        ("clean", "/tmp/nc.exe", "user", []),  # no $nc
        ("clean", "c:/x/mimikatz.exe", "tool", ["ToolRoleMimi", "PathMatch"]),
        ("clean", "c:/x/mimikatz.exe", "user", ["PathMatch"]),  # owner
        ("clean", "c:/x/other.bin", "tool", []),  # BINARY != executable
        ("clean", "c:/x/mimikatz.exe", None, ["PathMatch"]),  # NULL owner
        ("ran netcat", None, None, []),  # NULL filename/extension
    ],
)
def test_extvar_truth_table(spark, text, tool, role, expected_rules):
    ref = scan_turn("c0", 0, text, tool, EXTVAR_SIGS, CFG, role=role)
    got_ref = (
        [r.message.split("rule ")[1] for r in ref.reasons] if ref else []
    )
    assert got_ref == expected_rules
    for matcher in ("arrow", "catalyst"):
        result = scan_transcripts(
            spark,
            _turn_df_roles(spark, [(text, tool, role)]),
            EXTVAR_SIGS,
            CFG,
            matcher=matcher,
        )
        rows = result.routed.collect()
        got = (
            [m["message"].split("rule ")[1] for m in rows[0]["reasons"]]
            if rows
            else []
        )
        assert got == expected_rules, f"matcher={matcher}"


def test_oracle_ext_preds_match_ext_bits_on_null_tool_role(spark, sigs):
    """The DuckDB oracle's external-variable SQL reads a NULL tool/role as
    '' like the Spark ext bits do: every bundled atom (e.g. `owner !=
    "user"`, which fires on a NULL role) has the same truth in both."""
    import duckdb

    from loki_rs_spark.operators.ext_bits import ext_bits_col
    from loki_rs_spark.oracle import _SqlCondBackend
    from loki_rs_spark.signatures.conditions import collect_ext_atoms

    atoms = collect_ext_atoms(sigs)
    assert any(a.var == "owner" and a.op == "ne" for a in atoms)
    rows = [
        (0, None, None),
        (1, None, "user"),
        (2, "c:/x/mimikatz.exe", None),
        (3, "c:/x/mimikatz.exe", "tool"),
    ]
    backend = _SqlCondBackend(sigs.yara_rules[0])
    preds = ", ".join(
        f"coalesce({backend.ext_pred(a)}, false)" for a in atoms
    )
    con = duckdb.connect()
    con.execute("CREATE TABLE t (i INTEGER, tool VARCHAR, role VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?, ?)", rows)
    oracle = {
        r[0]: list(r[1:])
        for r in con.execute(f"SELECT i, {preds} FROM t").fetchall()
    }
    df = spark.createDataFrame(rows, "i int, tool string, role string")
    bits = {
        r["i"]: [bool(r["b"] >> k & 1) for k in range(len(atoms))]
        for r in df.select("i", ext_bits_col(sigs).alias("b")).collect()
    }
    assert bits == oracle


NEGATED_SIGS = _sigs(
    yara_rules=[
        YaraRule(
            "NotNetcat", 80, "", "", "",
            (YaraString("$nc", "netcat"),),
            'not $nc and filename contains "probe"',
        )
    ]
)


def test_negated_condition_disables_text_gate(spark):
    """A `not $str` condition fires on string ABSENCE (non-monotone in
    the masks): both matchers must still answer like the reference."""
    rows = [
        ("clean text", "probe-tool", "user"),  # fires: no netcat, name hits
        ("ran netcat", "probe-tool", "user"),  # suppressed by not $nc
        ("clean text", "other", "user"),  # name miss
    ]
    for matcher in ("arrow", "catalyst"):
        result = scan_transcripts(
            spark, _turn_df_roles(spark, rows), NEGATED_SIGS, CFG,
            matcher=matcher,
        )
        got = sorted(r["turn_idx"] for r in result.routed.collect())
        assert got == [0], f"matcher={matcher}"
    ref_hits = [
        i
        for i, (text, tool, role) in enumerate(rows)
        if scan_turn("c0", i, text, tool, NEGATED_SIGS, CFG, role=role)
    ]
    assert ref_hits == [0]


# ---- strict rejection of unsupported constructs ---------------------------


def test_unsupported_yara_constructs_raise():
    from loki_rs_spark.signatures.conditions import YaraUnsupportedError
    from loki_rs_spark.signatures.parsers import parse_yara_rules

    def rule(strings: str, condition: str) -> str:
        return (
            "rule R {\n  strings:\n    " + strings
            + "\n  condition:\n    " + condition + "\n}"
        )

    with pytest.raises(YaraUnsupportedError):  # unknown modifier
        parse_yara_rules(rule('$a = "x" bogusmod', "any of them"))
    with pytest.raises(YaraUnsupportedError):  # xor + nocase combo
        parse_yara_rules(rule('$a = "x" xor nocase', "any of them"))
    with pytest.raises(YaraUnsupportedError):  # wide on regex
        parse_yara_rules(rule("$a = /ab+/ wide", "any of them"))
    with pytest.raises(YaraUnsupportedError):  # wide fullword combo
        parse_yara_rules(rule('$a = "x" wide fullword', "any of them"))
    with pytest.raises(YaraUnsupportedError):  # hex byte >= 0x80
        parse_yara_rules(rule("$a = { 4D 5A 90 }", "any of them"))
    with pytest.raises(YaraUnsupportedError):  # unsupported condition fn
        parse_yara_rules(rule('$a = "x"', "entrypoint > 100"))
    with pytest.raises(YaraUnsupportedError):  # of-set selecting nothing
        parse_yara_rules(rule('$a = "x"', "any of ($zzz*)"))
    with pytest.raises(YaraUnsupportedError):  # wildcard ref outside of-set
        parse_yara_rules(rule('$a = "x"', "$a* and $a"))
    with pytest.raises(YaraUnsupportedError):  # strings referenced, none defined
        parse_yara_rules("rule R {\n  condition:\n    any of them\n}")
    # '0 of them' is SUPPORTED as of round 6 (yara-x none-of semantics,
    # desugared to not-any-of); the exceeds-set-size rejection remains
    assert len(parse_yara_rules(rule('$a = "x"', "0 of them"))) == 1
    with pytest.raises(YaraUnsupportedError):  # quantifier exceeds set size
        parse_yara_rules(rule('$a = "x"', "5 of them"))


def test_escape_decoding_single_pass():
    """'\\\\n' (escaped backslash + n) must decode to backslash+n, never a
    newline; \\xHH decodes to the byte."""
    from loki_rs_spark.signatures.conditions import ExtPred, parse_condition
    from loki_rs_spark.signatures.parsers import parse_yara_rules

    node = parse_condition('filename == "C:\\\\network"')
    assert isinstance(node, ExtPred) and node.value == "C:\\network"
    rules = parse_yara_rules(
        'rule R {\n  strings:\n    $a = "C:\\\\nope\\x41"\n'
        "  condition:\n    any of them\n}"
    )
    assert rules[0].strings[0].pattern == "C:\\nopeA"


# ---- of-set selectors: N of ($a, $b*) -------------------------------------

OFSET_SIGS = _sigs(
    yara_rules=[
        YaraRule(
            "Pair", 80, "", "", "",
            (
                YaraString("$net1", "alpha-marker"),
                YaraString("$net2", "beta-marker"),
                YaraString("$other", "gamma-marker"),
            ),
            "2 of ($net*)",
        ),
        YaraRule(
            "Mixed", 80, "", "", "",
            (
                YaraString("$a", "delta-marker"),
                YaraString("$b", "epsilon-marker"),
            ),
            'all of ($a, $b) and not filename contains "skipme"',
        ),
    ]
)


@pytest.mark.parametrize(
    "text,tool,expected_rules",
    [
        ("alpha-marker beta-marker", "t", ["Pair"]),
        ("alpha-marker gamma-marker", "t", []),  # only 1 of ($net*)
        ("alpha-marker beta-marker gamma-marker", "t", ["Pair"]),
        ("delta-marker epsilon-marker", "t", ["Mixed"]),
        ("delta-marker epsilon-marker", "skipme-tool", []),
        ("delta-marker", "t", []),
    ],
)
def test_of_set_truth_table(spark, text, tool, expected_rules):
    ref = scan_turn("c0", 0, text, tool, OFSET_SIGS, CFG)
    got_ref = (
        [r.message.split("rule ")[1] for r in ref.reasons] if ref else []
    )
    assert got_ref == expected_rules
    for matcher in ("arrow", "catalyst"):
        result = scan_transcripts(
            spark,
            _turn_df_roles(spark, [(text, tool, "user")]),
            OFSET_SIGS,
            CFG,
            matcher=matcher,
        )
        rows = result.routed.collect()
        got = (
            [m["message"].split("rule ")[1] for m in rows[0]["reasons"]]
            if rows
            else []
        )
        assert got == expected_rules, f"matcher={matcher}"


# ---- below-threshold drop + max_reasons slice ----------------------------


def test_threshold_and_slice(spark):
    sigs = _sigs(filename_iocs=[FilenameIOC("weak", 30, "d", None)])
    assert scan_turn("c0", 0, "x", "weaktool", sigs, CFG) is None
    assert _routed_levels(spark, [("x", "weaktool")], sigs) == {}

    many = _sigs(
        filename_iocs=[
            FilenameIOC(f"multi{i}", 50, "d", None) for i in range(5)
        ]
    )
    tool = "multi0 multi1 multi2 multi3 multi4"
    ref = scan_turn("c0", 0, "x", tool, many, CFG)
    assert ref.n_reasons == 5 and len(ref.reasons) == CFG.max_reasons
    routed = _routed_levels(spark, [("x", tool)], many)
    assert len(routed[0][2]) == CFG.max_reasons


# ---- count/at/in/@ operators (yara-x src/main.rs:780-872 subset) ---------


COUNT_SIGS = _yara_sigs([YaraString("$a", "mk-tok")], "#a >= 2")
COUNT_EQ_SIGS = _yara_sigs([YaraString("$a", "mk-tok")], "#a == 1")
COUNT_NC_SIGS = _yara_sigs(
    [YaraString("$a", "MK-Tok", nocase=True)], "#a >= 2"
)


@pytest.mark.parametrize(
    "text,ge2,eq1",
    [
        ("nothing here", False, False),
        ("one mk-tok end", False, True),
        ("mk-tok and mk-tok", True, False),
        ("mk-tok mk-tok mk-tok", True, False),
    ],
)
def test_count_truth_table(spark, text, ge2, eq1):
    for sigs, hit in ((COUNT_SIGS, ge2), (COUNT_EQ_SIGS, eq1)):
        ref = scan_turn("c0", 0, text, "tool-x", sigs, CFG)
        assert (ref is not None) == hit
        routed = _routed_levels(spark, [(text, "tool-x")], sigs)
        assert (0 in routed) == hit


def test_count_nocase(spark):
    text = "MK-TOK then mk-tok"
    assert scan_turn("c0", 0, text, "t", COUNT_NC_SIGS, CFG) is not None
    assert 0 in _routed_levels(spark, [(text, "t")], COUNT_NC_SIGS)
    assert scan_turn("c0", 0, "MK-TOK once", "t", COUNT_NC_SIGS, CFG) is None


AT_SIGS = _yara_sigs([YaraString("$a", "hdr")], "$a at 3")
IN_SIGS = _yara_sigs([YaraString("$a", "tok")], "$a in (2..5)")


@pytest.mark.parametrize(
    "text,at_hit",
    [
        ("hdr at zero", False),  # offset 0, not 3
        ("xy hdr", True),  # exactly 3 chars before -> offset 3
        ("xyzhdr tail", True),  # offset 3
        ("xyz hdr", False),  # offset 4
        ("no match", False),
    ],
)
def test_at_truth_table(spark, text, at_hit):
    ref = scan_turn("c0", 0, text, "t", AT_SIGS, CFG)
    assert (ref is not None) == at_hit
    assert (0 in _routed_levels(spark, [(text, "t")], AT_SIGS)) == at_hit


def _nocase(needle, **modifiers):
    return YaraString("$k", needle, nocase=True, **modifiers)


# (string, condition, text, fires, the kernel's and the reference's
# matched_strings for `$k`; None where the condition reads no string set)
NOCASE_FOLD_CASES = [
    # U+0130 lowers to 'i' + U+0307 under str.lower() and Spark's lower,
    # but is outside RE2's case fold of 'i': no fold may match it
    (_nocase("bit"), "$k at 0", "B\u0130T here", False, None),
    (_nocase("bit"), "$k at 0", "BiT here", True, None),
    (_nocase("bit"), "$k at 0", "a bit here", False, None),
    # ... and an offset after it is an offset in the text
    (_nocase("abab"), "$k", "\u0130x abab", True, ["$k: 'abab' @ 3"]),
    (_nocase("evil"), "@k[1] == 3", "\u0130x evil", True, None),
    (_nocase("evil"), "$k in (0..3)", "\u0130x evil", True, None),
    # a nocase literal reports only what its `fold_case` read matches
    (_nocase("evil"), "$k", "evil EV\u0130L", True, ["$k: 'evil' @ 0"]),
    # RE2 folds U+017F (long s) into 's', `fold_case` does not: the
    # nocase literal reads fold as `fold_case` folds, so none matches it
    (_nocase("best"), "$k", "be\u017ft", False, None),
    (_nocase("test"), "$k", "te\u017ft", False, None),
    (_nocase("best", fullword=True), "$k", "be\u017ft", False, None),
    # non-ASCII folds: every backend folds U+00C9 and the Kelvin sign,
    # for plain, fullword and regex strings alike (catalyst renders a
    # nocase regex with Java's Unicode case folding)
    (_nocase("caf\u00e9"), "$k", "CAF\u00c9", True, ["$k: 'CAF\u00c9' @ 0"]),
    (_nocase("key"), "$k", "\u212aey", True, ["$k: '\u212aey' @ 0"]),
    (
        _nocase("caf\u00e9", fullword=True), "$k", "CAF\u00c9", True,
        ["$k: 'CAF\u00c9' @ 0"],
    ),
    (
        _nocase("caf\u00e9", is_regex=True), "$k", "CAF\u00c9", True,
        ["$k: 'CAF\u00c9' @ 0"],
    ),
    (
        _nocase("key", is_regex=True), "$k", "\u212aey", True,
        ["$k: '\u212aey' @ 0"],
    ),
]


def test_nocase_at_folds_as_its_string(spark):
    """Nocase string reads fold case as the reference scanner folds them,
    and keep offsets in the row text: the kernel, the reference scanner
    and, where the operator has a Catalyst rendering, the catalyst scan
    agree on every case of NOCASE_FOLD_CASES."""
    import pyarrow as pa

    from loki_rs_spark.operators.arrow_matcher import match_record_batch
    from loki_rs_spark.operators.matcher import CompiledEngine

    for string, condition, text, fires, matched in NOCASE_FOLD_CASES:
        case = (string, condition, text)
        sigs = _yara_sigs([string], condition)
        batch = pa.RecordBatch.from_arrays(
            [pa.array([text]), pa.array(["t"]), pa.array([0], type=pa.int64())],
            names=["text", "tool", "ext_bits"],
        )
        _fname, yara, _c2 = match_record_batch(CompiledEngine(sigs), batch)
        [kernel] = yara.to_pylist()
        ref = scan_turn("c0", 0, text, "t", sigs, CFG)
        assert bool(kernel) == fires, case
        assert (ref is not None) == fires, case
        if matched is not None:
            assert kernel[0]["matched_strings"] == matched, case
            assert ref.reasons[0].matched_strings == matched, case
        if "@" not in condition:  # @k[i] has no Catalyst rendering
            routed = scan_transcripts(
                spark, _turn_df(spark, [(text, "t")]), sigs, CFG,
                matcher="catalyst",
            ).routed
            assert (routed.count() == 1) == fires, case


@pytest.mark.parametrize(
    "text,in_hit",
    [
        ("tok at zero", False),  # offset 0 < lo
        ("xtok", False),  # offset 1 < lo
        ("xxtok", True),  # offset 2 == lo
        ("xxxxxtok", True),  # offset 5 == hi
        ("xxxxxxtok", False),  # offset 6 > hi
        # overlap-ish probe: first occurrence before the window, second
        # inside it — 'in' must still fire (window scan, not first-only)
        ("tok xtok", True),  # occurrences at 0 and 4... 4 > hi? no: lo=2 hi=5
    ],
)
def test_in_truth_table(spark, text, in_hit):
    ref = scan_turn("c0", 0, text, "t", IN_SIGS, CFG)
    assert (ref is not None) == in_hit
    assert (0 in _routed_levels(spark, [(text, "t")], IN_SIGS)) == in_hit


OFFSET_SIGS = _yara_sigs([YaraString("$a", "zz-mark")], "@a[2] < 20")


@pytest.mark.parametrize(
    "text,hit",
    [
        ("zz-mark only once", False),  # no second occurrence
        ("zz-mark zz-mark", True),  # second at 8 < 20
        ("zz-mark" + " " * 20 + "zz-mark", False),  # second at 27
    ],
)
def test_offset_cmp_truth_table(spark, text, hit):
    ref = scan_turn("c0", 0, text, "t", OFFSET_SIGS, CFG)
    assert (ref is not None) == hit
    # the arrow matcher supports @[i]; catalyst must reject loudly
    result = scan_transcripts(
        spark, _turn_df(spark, [(text, "t")]), OFFSET_SIGS, CFG,
        matcher="arrow",
    )
    assert (len(result.routed.collect()) == 1) == hit


def test_offset_cmp_catalyst_rejects(spark):
    from loki_rs_spark.signatures.conditions import YaraUnsupportedError

    with pytest.raises(YaraUnsupportedError):
        scan_transcripts(
            spark, _turn_df(spark, [("x", "t")]), OFFSET_SIGS, CFG,
            matcher="catalyst",
        ).routed.collect()


def test_count_operator_rejections():
    from loki_rs_spark.signatures.conditions import YaraUnsupportedError
    from loki_rs_spark.signatures.parsers import parse_yara_rules

    def rule(strings: str, condition: str) -> str:
        return (
            "rule R {\n  strings:\n    " + strings
            + "\n  condition:\n    " + condition + "\n}"
        )

    with pytest.raises(YaraUnsupportedError):  # '#' on a regex string
        parse_yara_rules(rule("$a = /ab+/", "#a > 1"))
    with pytest.raises(YaraUnsupportedError):  # '#' on a hex string
        parse_yara_rules(rule("$a = { 41 42 }", "#a > 1"))
    with pytest.raises(YaraUnsupportedError):  # '#' on fullword
        parse_yara_rules(rule('$a = "x" fullword', "#a > 1"))
    # xor/base64 strings: every backend would read the plain literal,
    # which the string's own forms may not contain
    for string in ('$a = "SECRET" xor(0x01-0x20)',
                   '$a = "exfil-the-data" base64',
                   '$a = "exfil-the-data" base64wide'):
        for condition in ("$a or #a >= 1", "$a at 0", "$a in (0..8)",
                          "@a[1] == 0",
                          "for any i in (1..#a) : ( @a[i] > 3 )"):
            with pytest.raises(YaraUnsupportedError):
                parse_yara_rules(rule(string, condition))
        assert len(parse_yara_rules(rule(string, "$a"))) == 1
    # self-overlapping literals (plain and under nocase fold) are
    # SUPPORTED as of round 6: every backend counts ALL occurrences
    # including overlapping ones (yara-x Aho-Corasick semantics)
    assert len(parse_yara_rules(rule('$a = "aa"', "#a > 1"))) == 1
    assert len(parse_yara_rules(rule('$a = "aA" nocase', "#a > 1"))) == 1
    with pytest.raises(YaraUnsupportedError):  # bare count in bool context
        parse_yara_rules(rule('$a = "x"', "#a"))
    with pytest.raises(YaraUnsupportedError):  # undefined string
        parse_yara_rules(rule('$a = "x"', "#zzz > 1"))
    with pytest.raises(YaraUnsupportedError):  # inverted in-range
        parse_yara_rules(rule('$a = "xy"', "$a in (9..2)"))
    # in-range windows beyond the old RE2 bound (1000) are SUPPORTED as
    # of round 6 (codepoint-slice kernels, no regex repetition anchor)
    assert len(parse_yara_rules(rule('$a = "xy"', "$a in (0..5000)"))) == 1
    with pytest.raises(YaraUnsupportedError):  # @ index is 1-based
        parse_yara_rules(rule('$a = "xy"', "@a[0] < 5"))
    # border-free literal with '#', 'at', 'in', '@' all parse fine
    rules = parse_yara_rules(
        rule('$a = "xy"', "#a >= 1 and $a at 0 and $a in (0..8) and @a[1] == 0")
    )
    assert len(rules) == 1


def test_count_gate_monotonicity(spark):
    """'#a < N' fires on a row WITHOUT the string (count 0), in the
    reference and through both matchers."""
    unsafe = _yara_sigs([YaraString("$a", "mk-tok")], "#a < 2")
    ref = scan_turn("c0", 0, "clean text", "t", unsafe, CFG)
    assert ref is not None
    for matcher in ("arrow", "catalyst"):
        routed = _routed_reasons(
            spark, [("clean text", "t")], unsafe, matcher=matcher
        )
        assert 0 in routed, matcher


# ---- process-source hash semantics (process_check.rs:367-397) ------------


def test_process_hash_first_of_three(spark):
    """A text whose md5 AND sha256 are both IOC-listed: the file path
    emits two hash reasons, the process path exactly one (md5 first) with
    the process message."""
    text = "double-hash-probe"
    md5 = hashlib.md5(text.encode()).hexdigest()
    sha256 = hashlib.sha256(text.encode()).hexdigest()
    sigs = _sigs(
        hash_iocs=[
            HashIOC(md5, "md5", 70, "d1"),
            HashIOC(sha256, "sha256", 70, "d2"),
        ]
    )
    ref_file = scan_turn("c0", 0, text, "t", sigs, CFG)
    ref_proc = scan_turn("c0", 0, text, "t", sigs, CFG, source_kind="process")
    assert ref_file.n_reasons == 2
    assert ref_proc.n_reasons == 1
    assert ref_proc.reasons[0].message == (
        f"Process Executable Hash Match HASH: {md5}"
    )

    rows = _turn_df(spark, [(text, "t")])
    file_routed = scan_transcripts(spark, rows, sigs, CFG).routed.collect()
    proc_routed = scan_transcripts(
        spark, rows, sigs, CFG, source_kind="process"
    ).routed.collect()
    assert file_routed[0]["n_reasons"] == 2
    assert proc_routed[0]["n_reasons"] == 1
    assert proc_routed[0]["reasons"][0]["message"] == (
        f"Process Executable Hash Match HASH: {md5}"
    )


# ---- hex-string alternations (yara-x '( AA | BB )') ----------------------


HEXALT_SIGS = _yara_sigs(
    [YaraString("$h", "41 (42 | 43 44) 45", is_hex=True)], "any of them"
)
HEXALT_NESTED_SIGS = _yara_sigs(
    [YaraString("$h", "41 (42 (50|51) | 45) 46", is_hex=True)],
    "any of them",
)


@pytest.mark.parametrize(
    "text,hit",
    [
        ("xABEx", True),  # first alternative
        ("xACDEx", True),  # second alternative (two bytes)
        ("xADEx", False),
        ("xABx", False),
    ],
)
def test_hex_alternation_truth_table(spark, text, hit):
    ref = scan_turn("c0", 0, text, "t", HEXALT_SIGS, CFG)
    assert (ref is not None) == hit
    assert (0 in _routed_levels(spark, [(text, "t")], HEXALT_SIGS)) == hit


@pytest.mark.parametrize(
    "text,hit",
    [
        ("zABPFz", True),  # nested: 41 42 50 46
        ("zABQFz", True),  # nested: 41 42 51 46
        ("zAEFz", True),  # outer second alternative
        ("zABFz", False),
    ],
)
def test_hex_alternation_nested(spark, text, hit):
    ref = scan_turn("c0", 0, text, "t", HEXALT_NESTED_SIGS, CFG)
    assert (ref is not None) == hit
    assert (
        0 in _routed_levels(spark, [(text, "t")], HEXALT_NESTED_SIGS)
    ) == hit


def test_hex_alternation_rejections():
    from loki_rs_spark.signatures.conditions import YaraUnsupportedError
    from loki_rs_spark.signatures.parsers import parse_yara_rules

    def rule(strings: str) -> str:
        return (
            "rule R {\n  strings:\n    " + strings
            + "\n  condition:\n    any of them\n}"
        )

    with pytest.raises(YaraUnsupportedError):  # jump inside alternation
        parse_yara_rules(rule("$h = { 41 (42 [2] | 43) }"))
    with pytest.raises(YaraUnsupportedError):  # unbalanced
        parse_yara_rules(rule("$h = { 41 (42 }"))
    with pytest.raises(YaraUnsupportedError):  # empty alternative
        parse_yara_rules(rule("$h = { 41 ( | 42) }"))


# ---- uintN(offset) reads (yara-x MZ/PE-header idiom) ---------------------


UINT_SIGS = _sigs(
    yara_rules=[
        YaraRule("MZ", 80, "", "", "", (), "uint16(0) == 0x5a4d"),
    ]
)
UINT_NE_SIGS = _sigs(
    yara_rules=[
        YaraRule("NotMZ", 80, "", "", "", (), "uint16(0) != 0x5a4d"),
    ]
)
UINT_MIX_SIGS = _sigs(
    yara_rules=[
        YaraRule(
            "MZ_And_Str", 80, "", "", "",
            (YaraString("$a", "payload"),),
            "uint16(0) == 0x5a4d and $a",
        ),
    ]
)


@pytest.mark.parametrize(
    "text,eq_hit,ne_hit",
    [
        ("MZ rest of header", True, False),  # 0x4d 0x5a little-endian
        ("ZM wrong order", False, True),
        ("M", False, False),  # too short: undefined -> False for BOTH
        ("", False, False),
        ("xMZ not at zero", False, True),
    ],
)
def test_uint16_truth_table(spark, text, eq_hit, ne_hit):
    for sigs, hit in ((UINT_SIGS, eq_hit), (UINT_NE_SIGS, ne_hit)):
        ref = scan_turn("c0", 0, text, "t", sigs, CFG)
        assert (ref is not None) == hit, (text, sigs)
        routed = _routed_levels(spark, [(text, "t")], sigs)
        assert (0 in routed) == hit, (text, sigs)


def test_uint_with_string_and_gate(spark):
    """A uint+string conjunction fires through the pipeline, and so does
    a rule with ONLY a uint term (no string literal covers it)."""
    assert scan_turn("c0", 0, "MZ payload here", "t", UINT_MIX_SIGS, CFG)
    assert scan_turn("c0", 0, "MZ nothing", "t", UINT_MIX_SIGS, CFG) is None
    routed = _routed_levels(spark, [("MZ payload here", "t")], UINT_MIX_SIGS)
    assert 0 in routed
    # uint-only rule through the full pipeline
    routed2 = _routed_levels(spark, [("MZ alone", "t")], UINT_SIGS)
    assert 0 in routed2


def test_uint8_uint32(spark):
    sigs8 = _sigs(
        yara_rules=[YaraRule("U8", 80, "", "", "", (), "uint8(2) == 0x41")]
    )
    assert scan_turn("c0", 0, "xyA", "t", sigs8, CFG) is not None
    assert scan_turn("c0", 0, "xyB", "t", sigs8, CFG) is None
    sigs32 = _sigs(
        yara_rules=[
            # 'ABCD' little-endian = 0x44434241
            YaraRule("U32", 80, "", "", "", (), "uint32(0) == 0x44434241")
        ]
    )
    assert scan_turn("c0", 0, "ABCD tail", "t", sigs32, CFG) is not None
    assert scan_turn("c0", 0, "ABCX tail", "t", sigs32, CFG) is None
    assert 0 in _routed_levels(spark, [("ABCD tail", "t")], sigs32)


def test_uint_rejections():
    from loki_rs_spark.signatures.conditions import YaraUnsupportedError
    from loki_rs_spark.signatures.parsers import parse_yara_rules

    def rule(condition: str) -> str:
        return "rule R {\n  condition:\n    " + condition + "\n}"

    with pytest.raises(YaraUnsupportedError):  # uint64 unsupported
        parse_yara_rules(rule("uint64(0) == 1"))
    with pytest.raises(YaraUnsupportedError):  # ordering comparisons
        parse_yara_rules(rule("uint16(0) > 5"))
    with pytest.raises(YaraUnsupportedError):  # value out of range
        parse_yara_rules(rule("uint8(0) == 300"))
    with pytest.raises(YaraUnsupportedError):  # byte >= 0x80
        parse_yara_rules(rule("uint16(0) == 0x80ff"))
    with pytest.raises(YaraUnsupportedError):  # NUL byte
        parse_yara_rules(rule("uint16(0) == 0x0041"))
    # the MZ idiom parses as a stringless rule
    assert len(parse_yara_rules(rule("uint16(0) == 0x5a4d"))) == 1


# ---- filesize conditions (yara filesize global -> text char length) ------


def _size_rule(condition: str, strings=()):
    return _sigs(
        yara_rules=[
            YaraRule("SizeR", 70, "", "", "", tuple(strings), condition)
        ]
    )


@pytest.mark.parametrize(
    "condition,length,hit",
    [
        ("filesize > 10", 11, True),
        ("filesize > 10", 10, False),
        ("filesize >= 10", 10, True),
        ("filesize < 10", 9, True),
        ("filesize < 10", 10, False),
        ("filesize <= 10", 10, True),
        ("filesize == 10", 10, True),
        ("filesize == 10", 11, False),
        ("filesize != 10", 11, True),
        ("filesize != 10", 10, False),
        ("filesize >= 1KB", 1024, True),
        ("filesize >= 1KB", 1023, False),
        ("filesize < 1MB", 1024, True),
    ],
)
def test_filesize_truth_table_reference_row(spark, condition, length, hit):
    sigs = _size_rule(condition)
    ref = scan_turn("c0", 0, "x" * length, "tool-x", sigs, CFG)
    assert (ref is not None) == hit


def test_filesize_lt_pipeline_matches_reference(spark):
    """The < direction fires on SHORT rows; the full pipeline must agree
    row-by-row with the reference scanner."""
    sigs = _size_rule("filesize < 10 and $s", [YaraString("$s", "hit")])
    rows = [
        ("hit ok", "tool-a"),  # 6 chars, marker -> fires
        ("hit but this text is far too long", "tool-b"),  # no
        ("short", "tool-c"),  # no marker -> no
    ]
    got = _routed_levels(spark, rows, sigs)
    assert 0 in got and 1 not in got and 2 not in got
    ref = scan_turn("c0", 0, rows[0][0], rows[0][1], sigs, CFG)
    assert ref is not None


def test_filesize_and_string_pipeline_gate_safe(spark):
    """A combined string+size condition must prune by BOTH conjuncts
    through the pipeline."""
    sigs = _size_rule("$s and filesize > 20", [YaraString("$s", "marker")])
    rows = [
        ("marker plus enough padding here", "t0"),  # both -> fires
        ("marker short", "t1"),  # size fails
        ("no hit but long enough padding here", "t2"),  # string fails
    ]
    got = _routed_levels(spark, rows, sigs)
    assert 0 in got and 1 not in got and 2 not in got


@pytest.mark.parametrize(
    "condition",
    [
        "$t and not $bad",
        "$t and 0 of ($bad1, $bad2)",
        "not $bad",
        "0 of ($bad1, $bad2)",
        "$t or not $bad",
    ],
)
def test_negated_conjunct_matches_reference(spark, condition):
    """Round-6 ADVICE shapes: a negated string term alone, AND-ed with a
    positive string, or OR-ed with one. Both matchers must route exactly
    the rows the reference scanner routes."""
    sigs = _yara_sigs(
        [
            YaraString("$t", "trig-tok"),
            YaraString("$bad", "bad-tok"),
            YaraString("$bad1", "bad1-tok"),
            YaraString("$bad2", "bad2-tok"),
        ],
        condition,
    )
    rows = [
        ("trig-tok alone", "t"),
        ("trig-tok with bad-tok", "t"),
        ("trig-tok with bad1-tok", "t"),
        ("bad-tok bad2-tok only", "t"),
        ("perfectly clean text", "t"),
    ]
    expect = [
        i
        for i, (text, tool) in enumerate(rows)
        if scan_turn("c0", i, text, tool, sigs, CFG)
    ]
    assert expect  # every shape fires on some row
    for matcher in ("arrow", "catalyst"):
        result = scan_transcripts(
            spark, _turn_df(spark, rows), sigs, CFG, matcher=matcher
        )
        got = sorted(r["turn_idx"] for r in result.routed.collect())
        assert got == expect, matcher


@pytest.mark.parametrize(
    "condition,length,hit",
    [
        # negated size comparisons, OR-ed with a string the rows lack
        ("not (filesize < 10)", 100, True),
        ("not (filesize < 10)", 9, False),
        ("not (filesize <= 10)", 11, True),
        ("not (filesize <= 10)", 10, False),
        ("not (filesize != 10)", 10, True),
        ("not (filesize != 10)", 9, False),
        ("not (filesize == 0)", 7, True),
    ],
)
def test_filesize_negated_gate_truth_table(spark, condition, length, hit):
    """ADVICE r5 (high): `$a or not (filesize < 5)` once lost long rows
    without $a (a silent false negative). Routed rows must match the
    reference on both branches."""
    sigs = _sigs(
        yara_rules=[
            YaraRule(
                "NegSize", 70, "", "", "",
                (YaraString("$a", "zz-marker-zz"),),
                f"$a or {condition}",
            )
        ]
    )
    text = "x" * length  # never contains the marker
    ref = scan_turn("c0", 0, text, "tool-x", sigs, CFG)
    assert (ref is not None) == hit
    routed = _routed_levels(spark, [(text, "tool-x")], sigs)
    assert (0 in routed) == hit
    # the $a branch must still fire on a row that fails the size branch
    routed2 = _routed_levels(spark, [("zz-marker-zz", "tool-x")], sigs)
    ref2 = scan_turn("c0", 0, "zz-marker-zz", "tool-x", sigs, CFG)
    assert (0 in routed2) == (ref2 is not None)


def test_filesize_parse_rejections():
    from loki_rs_spark.signatures.conditions import YaraUnsupportedError
    from loki_rs_spark.signatures.parsers import parse_yara_rules

    def rule(condition: str) -> str:
        return "rule R {\n  condition:\n    " + condition + "\n}"

    with pytest.raises(YaraUnsupportedError):  # missing comparison
        parse_yara_rules(rule("filesize"))
    with pytest.raises(YaraUnsupportedError):  # non-integer operand
        parse_yara_rules(rule('filesize > "big"'))
    # KB/MB suffixes are 1024-based
    from loki_rs_spark.signatures.conditions import parse_condition

    assert parse_condition("filesize > 2KB").value == 2048
    assert parse_condition("filesize > 1MB").value == 1 << 20
    assert parse_condition("filesize > 0x10").value == 16


# ---- 'for' offset quantifiers (canonical yara-x idiom, desugared) --------


@pytest.mark.parametrize(
    "condition,text,hit",
    [
        # for all: every occurrence of 'mk' starts before offset 6
        ("for all i in (1..#s) : ( @s[i] < 6 )", "mk....mk..", False),
        ("for all i in (1..#s) : ( @s[i] < 6 )", "mk...mk...", True),
        # vacuous truth on ZERO occurrences (yara-x: range (1..0) empty)
        ("for all i in (1..#s) : ( @s[i] < 6 )", "nothing here", True),
        ("for all i in (1..#s) : ( @s[i] > 3 )", "....mk....", True),
        ("for all i in (1..#s) : ( @s[i] > 3 )", "mk..mk....", False),
        ("for all i in (1..#s) : ( @s[i] == 4 )", "....mk....", True),
        ("for all i in (1..#s) : ( @s[i] == 4 )", "mk..mk....", False),
        ("for all i in (1..#s) : ( @s[i] != 0 )", "..mk......", True),
        ("for all i in (1..#s) : ( @s[i] != 0 )", "mk........", False),
        # for any: some occurrence in/after the window
        ("for any i in (1..#s) : ( @s[i] > 4 )", "mk...mk...", True),
        ("for any i in (1..#s) : ( @s[i] > 4 )", "mk........", False),
        ("for any i in (1..#s) : ( @s[i] > 4 )", "no markers", False),
        ("for any i in (1..#s) : ( @s[i] <= 1 )", ".mk.......", True),
        ("for any i in (1..#s) : ( @s[i] <= 1 )", "..mk......", False),
        ("for any i in (1..#s) : ( @s[i] == 2 )", "..mk......", True),
        ("for any i in (1..#s) : ( @s[i] != 2 )", "..mk......", False),
        ("for any i in (1..#s) : ( @s[i] != 2 )", "..mk..mk..", True),
    ],
)
def test_for_quantifier_truth_table(spark, condition, text, hit):
    sigs = _yara_sigs([YaraString("$s", "mk")], condition)
    ref = scan_turn("c0", 0, text, "tool-x", sigs, CFG)
    assert (ref is not None) == hit


def test_for_all_pipeline_matches_reference(spark):
    """for-all through the full arrow pipeline (non-monotone: vacuous
    truth fires on rows without any occurrence)."""
    sigs = _yara_sigs(
        [YaraString("$s", "mk")], "for all i in (1..#s) : ( @s[i] < 6 )"
    )
    rows = [
        ("mk...mk...", "t0"),  # occurrences at 0 and 5, both < 6 -> fires
        ("mk....mk..", "t1"),  # occurrence at 6 -> no
        ("no markers", "t2"),  # vacuous -> fires
    ]
    got = _routed_levels(spark, rows, sigs)
    assert 0 in got and 2 in got and 1 not in got


def test_for_parse_rejections():
    from loki_rs_spark.signatures.conditions import (
        YaraUnsupportedError,
        parse_condition,
    )

    for cond in (
        "for all i in (0..#s) : ( @s[i] < 6 )",  # non-(1..#s) range
        "for all i in (1..5) : ( @s[i] < 6 )",  # int upper bound
        "for 2 i in (1..#s) : ( @s[i] < 6 )",  # numeric quantifier
        "for all i in (1..#s) : ( @t[i] < 6 )",  # different string
        "for all i in (1..#s) : ( @s[j] < 6 )",  # wrong loop var
        "for all i in (1..#s) : ( @s[i] < @s[i] )",  # non-int rhs
    ):
        with pytest.raises(YaraUnsupportedError):
            parse_condition(cond)
    # offset windows beyond the old RE2 bounded-repetition cap (1000) are
    # SUPPORTED as of round 6: the pyarrow kernels slice by codepoint
    # instead of rendering an '^.{lo,hi}' anchor
    from loki_rs_spark.signatures.parsers import parse_yara_rules

    rule = (
        'rule R {\n  strings:\n    $s = "mk"\n  condition:\n'
        "    for all i in (1..#s) : ( @s[i] < 2048 )\n}"
    )
    assert len(parse_yara_rules(rule)) == 1


# ---- round-6 YARA unlocks: 0-of, overlapping counts, private strings, ----
# ---- lookbehind/backref transpiles, unbounded offset windows -------------


def _routed_reasons(spark, rows, sigs, matcher="arrow"):
    """Full reasons (message + matched_strings) per turn_idx."""
    result = scan_transcripts(
        spark, _turn_df(spark, rows), sigs, CFG, matcher=matcher
    )
    return {
        r["turn_idx"]: r["reasons"] for r in result.routed.collect()
    }


@pytest.mark.parametrize(
    "condition,text,hit",
    [
        # yara-x '0 of them' = NONE of the strings present
        ("0 of them", "perfectly clean text", True),
        ("0 of them", "contains evil-tok here", False),
        ("0 of them", "contains second-tok here", False),
        # 0 of a selected subset: only that subset must be absent
        ("0 of ($a*)", "contains second-tok here", True),
        ("0 of ($a*)", "contains evil-tok here", False),
    ],
)
def test_zero_of_none_of_truth_table(spark, condition, text, hit):
    """yara-x '0 of ...' is NONE-of (legacy yara: always-true + warning;
    the reference compiles yara-x, src/main.rs:780-872). Desugared to
    not-any-of, so it fires on string ABSENCE."""
    sigs = _sigs(
        yara_rules=[
            YaraRule(
                "R", 60, "", "", "",
                (YaraString("$a1", "evil-tok"), YaraString("$b1", "second-tok")),
                condition,
            )
        ]
    )
    ref = scan_turn("c0", 0, text, "tool-x", sigs, CFG)
    assert (ref is not None) == hit
    routed = _routed_levels(spark, [(text, "tool-x")], sigs)
    assert (0 in routed) == hit


def test_zero_of_parses_from_rule_text():
    from loki_rs_spark.signatures.parsers import parse_yara_rules

    rules = parse_yara_rules(
        'rule CleanMarker {\n  strings:\n    $s1 = "dirty"\n'
        "  condition:\n    0 of them\n}"
    )
    assert rules[0].condition == "0 of them"


@pytest.mark.parametrize(
    "condition,text,hit",
    [
        # 'aaaa' contains 'aa' at 0,1,2 -> overlapping count 3
        ("#a == 3", "aaaa", True),
        ("#a == 3", "aaa", False),  # 2 overlapping occurrences
        ("#a == 2", "aaa", True),
        ("#a == 1", "xx aa yy", True),
        # bordered multi-char needle: 'abab' in 'ababab' at 0 and 2
        ("#b == 2", "ababab", True),
        ("#b == 2", "abab", False),
        # overlapping occurrence ENUMERATION: @a[2] is the 2nd start pos
        ("@a[2] == 1", "aaaa", True),
        ("@a[3] == 2", "aaaa", True),
        ("@a[2] == 2", "aaaa", False),
    ],
)
def test_overlapping_count_truth_table(spark, condition, text, hit):
    """yara-x's Aho-Corasick reports EVERY occurrence including
    overlapping ones; all backends must agree (stepped-walk kernels /
    lookahead regexp_count — non-overlapping str.count would diverge)."""
    sigs = _sigs(
        yara_rules=[
            YaraRule(
                "R", 60, "", "", "",
                (YaraString("$a", "aa"), YaraString("$b", "abab")),
                condition,
            )
        ]
    )
    ref = scan_turn("c0", 0, text, "tool-x", sigs, CFG)
    assert (ref is not None) == hit
    routed = _routed_levels(spark, [(text, "tool-x")], sigs)
    assert (0 in routed) == hit


def test_overlapping_count_nocase_and_catalyst(spark):
    """Border detection folds case under nocase; the Catalyst backend's
    lookahead regexp_count agrees with the kernel walk."""
    sigs = _sigs(
        yara_rules=[
            YaraRule(
                "R", 60, "", "", "",
                (YaraString("$a", "aA", nocase=True),),
                "#a >= 3",
            )
        ]
    )
    text = "zzAaAa"  # folded 'aaaa': 3 overlapping 'aa'
    assert scan_turn("c0", 0, text, "t", sigs, CFG) is not None
    for matcher in ("arrow", "catalyst"):
        routed = _routed_reasons(spark, [(text, "t")], sigs, matcher=matcher)
        assert 0 in routed, matcher
    assert scan_turn("c0", 0, "zzAaz", "t", sigs, CFG) is None


def test_overlapping_matched_strings_enumeration(spark):
    """matched_strings lists every overlapping occurrence with its
    offset, identically in the arrow path and the reference scanner."""
    sigs = _yara_sigs([YaraString("$a", "aa")])
    text = "xaaa"
    ref = scan_turn("c0", 0, text, "tool-x", sigs, CFG)
    exp = ref.reasons[0].matched_strings
    assert exp == ["$a: 'aa' @ 1", "$a: 'aa' @ 2"]
    routed = _routed_reasons(spark, [(text, "tool-x")], sigs)
    assert routed[0][0]["matched_strings"] == exp


def test_private_string_feeds_condition_but_not_output(spark):
    """`private` string modifier: the string matches and satisfies the
    condition, but its occurrences never appear in matched_strings
    (yara-x hides private strings from output)."""
    sigs = _sigs(
        yara_rules=[
            YaraRule(
                "R", 60, "", "", "",
                (
                    YaraString("$p", "priv-marker", private=True),
                    YaraString("$v", "vis-marker"),
                ),
                "any of them",
            )
        ]
    )
    # private-only hit: rule fires, matched_strings EMPTY (the repo
    # convention for an empty list is NULL/None, both paths agree)
    text = "has priv-marker only"
    ref = scan_turn("c0", 0, text, "t", sigs, CFG)
    assert ref is not None and ref.reasons[0].matched_strings is None
    routed = _routed_reasons(spark, [(text, "t")], sigs)
    assert routed[0][0]["matched_strings"] is None
    # both hit: only the visible string is reported
    text2 = "priv-marker and vis-marker"
    ref2 = scan_turn("c0", 0, text2, "t", sigs, CFG)
    assert ref2.reasons[0].matched_strings == ["$v: 'vis-marker' @ 16"]
    routed2 = _routed_reasons(spark, [(text2, "t")], sigs)
    assert routed2[0][0]["matched_strings"] == ["$v: 'vis-marker' @ 16"]
    # miss: private string's absence behaves like any other string
    assert scan_turn("c0", 0, "neither marker", "t", sigs, CFG) is None


def test_private_string_modifier_parses():
    from loki_rs_spark.signatures.parsers import parse_yara_rules

    rules = parse_yara_rules(
        'rule R {\n  strings:\n    $s1 = "internal-only" private\n'
        "  condition:\n    any of them\n}"
    )
    assert rules[0].strings[0].private is True


@pytest.mark.parametrize(
    "text,hit,expected_ms",
    [
        (
            "user=a&password=hunter77&x",
            True,
            ["$r: 'hunter77' @ 16"],  # prefix excluded, offset shifted
        ),
        ("user=a&password=ab&x", False, None),  # too short
        ("user=a&passcode=hunter77&x", False, None),  # no lookbehind ctx
    ],
)
def test_lookbehind_prefix_transpile(spark, text, hit, expected_ms):
    """A fixed-literal lookbehind prefix /(?<=password=)[^&]{8,}/ is
    transpiled to the concatenation + report shift: same match SET as
    yara's lookbehind, and matched_strings report the post-prefix data
    at the post-prefix offset — exactly what yara-x would output."""
    from loki_rs_spark.signatures.parsers import parse_yara_rules

    rules = parse_yara_rules(
        "rule LB {\n  strings:\n    $r = /(?<=password=)[^&]{8,}/\n"
        "  condition:\n    any of them\n}"
    )
    s = rules[0].strings[0]
    assert s.report_shift == len("password=") and "(?<=" not in s.pattern
    sigs = _sigs(yara_rules=rules)
    ref = scan_turn("c0", 0, text, "t", sigs, CFG)
    assert (ref is not None) == hit
    routed = _routed_reasons(spark, [(text, "t")], sigs)
    assert (0 in routed) == hit
    if hit:
        assert ref.reasons[0].matched_strings == expected_ms
        assert routed[0][0]["matched_strings"] == expected_ms


@pytest.mark.parametrize(
    "text,hit",
    [
        ('say "abcdef" ok', True),  # double-quote pair
        ("say 'abcdef' ok", True),  # single-quote pair
        ("say \"abcdef' ok", False),  # mismatched quotes
        ('say "abc" ok', False),  # body too short (needs 4..16)
    ],
)
def test_backreference_class_expansion(spark, text, hit):
    """(['\"]).{4,16}\\1 — RE2 has no backreferences; the single-char-
    class idiom expands into the exact finite alternation, identical
    matches in every backend."""
    from loki_rs_spark.signatures.parsers import parse_yara_rules

    rules = parse_yara_rules(
        "rule BR {\n  strings:\n    $r = /(['\"]).{4,16}\\1/\n"
        "  condition:\n    any of them\n}"
    )
    assert "\\1" not in rules[0].strings[0].pattern
    sigs = _sigs(yara_rules=rules)
    ref = scan_turn("c0", 0, text, "t", sigs, CFG)
    assert (ref is not None) == hit
    routed = _routed_levels(spark, [(text, "t")], sigs)
    assert (0 in routed) == hit


@pytest.mark.parametrize(
    "lo,hi,pos,hit",
    [
        (1500, 2000, 1500, True),
        (1500, 2000, 2000, True),  # window END is inclusive (start pos)
        (1500, 2000, 1499, False),
        (1500, 2000, 2001, False),
    ],
)
def test_wide_offset_window(spark, lo, hi, pos, hit):
    """Offset windows beyond the old RE2 bounded-repetition cap: the
    codepoint-slice kernels support any bound."""
    sigs = _yara_sigs(
        [YaraString("$s", "mk-needle")], f"$s in ({lo}..{hi})"
    )
    text = "x" * pos + "mk-needle" + "y" * 10
    ref = scan_turn("c0", 0, text, "t", sigs, CFG)
    assert (ref is not None) == hit
    routed = _routed_levels(spark, [(text, "t")], sigs)
    assert (0 in routed) == hit


@pytest.mark.parametrize(
    "condition,text,hit",
    [
        # 'none of them' keyword = NONE-of (yara 4.3+/yara-x spelling)
        ("none of them", "perfectly clean", True),
        ("none of them", "has evil-tok", False),
        ("none of ($a*)", "has second-tok only", True),
        # 50% of 2 strings -> threshold 1; 100% -> both required
        ("50% of them", "has evil-tok", True),
        ("50% of them", "clean", False),
        ("100% of them", "evil-tok and second-tok", True),
        ("100% of them", "has evil-tok only", False),
        # ceil semantics: 51% of 2 -> ceil(1.02) = 2
        ("51% of them", "has evil-tok only", False),
        ("51% of them", "evil-tok and second-tok", True),
    ],
)
def test_percent_and_none_quantifiers(spark, condition, text, hit):
    """Percentage quantifiers resolve to ceil(P*n/100)-of at load time
    (yara: matching_count*100 >= P*set_size); 'none of' is the keyword
    spelling of 0-of."""
    sigs = _sigs(
        yara_rules=[
            YaraRule(
                "R", 60, "", "", "",
                (YaraString("$a1", "evil-tok"), YaraString("$b1", "second-tok")),
                condition,
            )
        ]
    )
    ref = scan_turn("c0", 0, text, "tool-x", sigs, CFG)
    assert (ref is not None) == hit
    routed = _routed_levels(spark, [(text, "tool-x")], sigs)
    assert (0 in routed) == hit


def test_percent_quantifier_parse_and_resolution():
    from loki_rs_spark.signatures.conditions import (
        OfThem,
        YaraUnsupportedError,
        parse_condition,
        resolve_percent_of,
    )

    node = parse_condition("60% of them")
    assert isinstance(node, OfThem) and node.n == "60%"
    # 60% of 3 -> ceil(1.8) = 2; of 5 -> 3
    assert resolve_percent_of(node, ["$a", "$b", "$c"]).n == "2"
    assert resolve_percent_of(node, list("abcde")).n == "3"
    # the resolved threshold is always a legal 1..n quantifier
    assert resolve_percent_of(parse_condition("1% of them"), ["$a"]).n == "1"
    assert (
        resolve_percent_of(parse_condition("100% of them"), ["$a", "$b"]).n
        == "2"
    )
    for bad in ("0% of them", "101% of them", "50% them", "50%"):
        with pytest.raises(YaraUnsupportedError):
            parse_condition(bad)
    # rule-level load resolves through YaraRule.condition_ast
    from loki_rs_spark.signatures.parsers import parse_yara_rules

    rules = parse_yara_rules(
        'rule P {\n  strings:\n    $a = "x1"\n    $b = "x2"\n    $c = "x3"\n'
        "  condition:\n    67% of them\n}"
    )
    assert rules[0].condition_ast.n == "3"  # ceil(2.01)
    # a selector matching ZERO strings must reject loudly (yara-x rejects
    # quantifiers over empty sets; ceil(P*0/100)=0 would be an always-true
    # 0-of node bypassing validation — round-6 ADVICE)
    with pytest.raises(YaraUnsupportedError):
        resolve_percent_of(
            parse_condition("50% of ($zzz*)"), ["$a", "$b"]
        )
    with pytest.raises(YaraUnsupportedError):  # none-of needs 'of'
        parse_yara_rules(
            'rule N {\n  strings:\n    $a = "x"\n  condition:\n    none\n}'
        )


def test_backref_expansion_escape_pair_scan():
    """A pattern containing an ESCAPED backslash followed by a literal
    '1' (no real backref) must not be silently expanded into a different
    alternation (round-6 ADVICE)."""
    from loki_rs_spark.signatures.compile import _expand_backreference

    # genuine backref: expands
    out = _expand_backreference("(['\"]).{4,16}\\1")
    assert out is not None and "'.{4,16}'" in out
    # literal backslash + digit 1: NOT a backref -> no expansion
    assert _expand_backreference("(['\"])x\\\\1") is None
    # mixed: escaped-backslash-1 plus a genuine \1 later — only the
    # genuine one is spliced
    out = _expand_backreference("(['\"])x\\\\1y\\1")
    assert out is not None
    assert "\\\\1" in out  # the literal pair survives verbatim
    assert out.count("'") >= 2  # genuine ref replaced by the class char


# ---- the matcher kernel's atom gate ---------------------------------------

GATE_RULES = r"""
rule G_Nocase {
    strings:
        $a = "EvilToken" nocase
    condition:
        $a
}
rule G_Hex {
    strings:
        $h = { 4D 5A ?? 50 }
    condition:
        $h
}
rule G_Wide {
    strings:
        $w = "wideword" wide
        $b = "bothforms" wide ascii
    condition:
        any of them
}
rule G_Xor {
    strings:
        $x = "SECRET" xor(0x01-0x20)
    condition:
        $x
}
rule G_B64 {
    strings:
        $b = "exfil-the-data" base64
    condition:
        $b
}
rule G_Fullword {
    strings:
        $f = "fwtoken" fullword
    condition:
        $f
}
rule G_Private {
    strings:
        $p = "privmark" private
        $v = "vismark"
    condition:
        all of them
}
rule G_Not {
    strings:
        $n = "neverthere"
    condition:
        not $n
}
rule G_Zero_Of {
    strings:
        $z1 = "zzone"
        $z2 = "zztwo"
    condition:
        0 of them
}
rule G_Size {
    condition:
        filesize > 20
}
rule G_Ext {
    condition:
        extension == "exe"
}
rule G_Uint {
    condition:
        uint16(0) == 0x4241
}
rule G_At_Nocase {
    strings:
        $c = "Banner" nocase
    condition:
        $c at 0
}
rule G_At_Fold {
    strings:
        $k = "bit" nocase
    condition:
        $k at 0
}
rule G_In_Offset_For {
    strings:
        $t = "tok"
        $m = "mark"
    condition:
        $t in (2..8) or @m[2] > 3 or for any i in (1..#m) : ( @m[i] > 30 )
}
"""

# a regex that matches the empty string makes every non-NULL text a
# candidate, so it is tested on its own
EMPTY_MATCH_RULE = r"""
rule G_Empty_Regex {
    strings:
        $e = /q*/
    condition:
        $e and filesize < 12
}
"""

GATE_TEXTS = [
    None,
    "",
    "a clean turn that holds no atom at all",
    "AB clean",
    "short",
    "an eVILtoKEN here",
    "MZxP header",
    "w\x00i\x00d\x00e\x00w\x00o\x00r\x00d\x00",
    "both bothforms",
    "plain SECRET here",
    "".join(chr(ord(c) ^ 0x05) for c in "SECRET"),
    "exfil-the-data twice exfil-the-data",
    "b64 ZXhmaWwtdGhlLWRhdGE= here",
    "a fwtoken b",
    "afwtokenb",
    "privmark and vismark",
    "vismark alone",
    "qqq",
    "zzone only",
    "bannER at the start",
    "xxtokxx",
    "mark mark",
    "a mark placed far beyond thirty chars: mark",
    # utf8_lower folds U+0130 to 'i', RE2's case folding does not
    "B\u0130T here",
]


def _gate_batch(engine, texts, copies=1):
    import pyarrow as pa

    texts = texts * copies
    ext_bit = 1 << engine.atom_index[next(iter(engine.atom_index))]
    bits = [ext_bit if i % 2 else 0 for i in range(len(texts))]
    return pa.RecordBatch.from_arrays(
        [
            pa.array(texts, type=pa.string()),
            pa.array(["tool.exe"] * len(texts), type=pa.string()),
            pa.array(bits, type=pa.int64()),
        ],
        names=["text", "tool", "ext_bits"],
    )


def _row_occurrences(text, s):
    """One string's occurrences computed row by row over the raw column,
    with no encoding, no gate and no kernel code: the reference
    scanner's (offset, data) list of each row, empty on NULL rows."""
    from loki_rs_spark.plans.reference_scanner import _string_occurrences

    return [[] if t is None else _string_occurrences(s, t) for t in text.to_pylist()]


def _assert_gate_exact(engine, batch):
    """The gated pass equals an ungated one (every unique a candidate):
    per string its row mask and occurrences, and per rule its fired mask.
    Each string's row mask is "at least one occurrence", and its
    occurrences, gathered to rows, are the reference scanner's
    (`_row_occurrences`)."""
    import numpy as np

    from loki_rs_spark.operators.arrow_matcher import _batch_masks, _yara_masks
    from loki_rs_spark.operators.matcher import ExtBits

    text_c, _fname, yara = _batch_masks(engine, batch)
    text = batch.column("text")
    ext = ExtBits(batch.column("ext_bits").to_numpy(), engine.atom_index)
    every = np.arange(len(text_c.kernel_input))
    ungated = _yara_masks(engine, text_c, ext, every)
    for (fired, reads, rule), (whole, whole_reads, _) in zip(yara, ungated):
        for s, (mask, occ), (ref, ref_occ) in zip(
            rule.strings, reads, whole_reads
        ):
            rows = _row_occurrences(text, s)
            assert mask.tolist() == ref.tolist(), (rule.name, s)
            assert mask.tolist() == [bool(r) for r in rows], (rule.name, s)
            assert occ == ref_occ, (rule.name, s)
            assert [occ.get(u, []) for u in text_c.codes] == rows, (rule.name, s)
        assert fired.tolist() == whole.tolist(), rule.name
    return {rule.name: fired for fired, _r, rule in yara}


@pytest.mark.parametrize("copies", [1, 40], ids=["plain", "dict-encoded"])
def test_atom_gate_is_exact(copies):
    import pyarrow as pa

    from loki_rs_spark.operators.arrow_matcher import (
        match_record_batch,
        match_scores_record_batch,
    )
    from loki_rs_spark.operators.matcher import CompiledEngine
    from loki_rs_spark.signatures.parsers import parse_yara_rules

    engine = CompiledEngine(_sigs(yara_rules=parse_yara_rules(GATE_RULES)))
    assert len(engine.atom_programs) == 1
    fired = _assert_gate_exact(engine, _gate_batch(engine, GATE_TEXTS, copies))

    row = {t: i for i, t in enumerate(GATE_TEXTS)}
    clean = row["a clean turn that holds no atom at all"]
    # conditions without (or against) strings fire on atom-free rows
    assert fired["G_Not"][clean] and fired["G_Zero_Of"][clean]
    assert fired["G_Size"][clean] and not fired["G_Size"][row["short"]]
    # the ext bit is set on odd rows
    assert fired["G_Ext"][row["AB clean"]] and not fired["G_Ext"][clean]
    assert fired["G_Uint"][row["AB clean"]]
    # xor/base64 strings match their own forms, not the plain literal
    assert not fired["G_Xor"][row["plain SECRET here"]]
    assert fired["G_B64"][row["b64 ZXhmaWwtdGhlLWRhdGE= here"]]
    assert not fired["G_B64"][row["exfil-the-data twice exfil-the-data"]]
    for name in ("G_Nocase", "G_Hex", "G_Wide", "G_Xor", "G_Fullword",
                 "G_Private", "G_At_Nocase", "G_In_Offset_For"):
        assert fired[name].any(), name
    assert not fired["G_Fullword"][row["afwtokenb"]]
    assert not fired["G_At_Fold"][row["B\u0130T here"]]
    # the score kernel is the `score` projection of the reason kernel
    batch = _gate_batch(engine, GATE_TEXTS, copies)
    scores = match_scores_record_batch(engine, batch)
    for reasons, sc in zip(match_record_batch(engine, batch), scores):
        assert sc.type == pa.list_(pa.int32())
        assert sc.to_pylist() == [
            [x["score"] for x in r] for r in reasons.to_pylist()
        ]

    # a batch of one value: blank texts are one unique, NULL texts none
    for value in ("", None):
        fired = _assert_gate_exact(
            engine, _gate_batch(engine, [value] * 70, copies)
        )
        assert fired["G_Not"].all() and fired["G_Zero_Of"].all()
        assert not fired["G_Nocase"].any() and not fired["G_Size"].any()


def test_atom_gate_covers_every_case_fold():
    """A nocase literal's atom `(?i:...)` matches each codepoint that
    `fold_case` folds into it. RE2's `(?i:x)` matches x's whole case
    orbit, so a text whose fold holds a literal's fold always passes the
    gate: the gated nocase reads are exact."""
    import sys

    import pyarrow as pa
    import pyarrow.compute as pc

    from loki_rs_spark.signatures.compile import scoped_re2_regex
    from loki_rs_spark.signatures.conditions import fold_case

    folded = [
        chr(c)
        for c in range(sys.maxunicode + 1)
        if not 0xD800 <= c <= 0xDFFF and fold_case(chr(c)) != chr(c)
    ]
    assert len(folded) > 1400
    missed = [
        c
        for c in folded
        if not pc.match_substring_regex(
            pa.array([c]),
            scoped_re2_regex(YaraString("$k", fold_case(c), nocase=True)),
        )[0].as_py()
    ]
    assert missed == []


# the codepoints each letter of a nocase needle may be written with
LITERAL_DIFF_SPELLINGS = {
    "a": "aA",
    "b": "bB",
    "s": "sS\u017f",
    "k": "kK\u212a",
    "\u00e9": "\u00e9\u00c9",
}
LITERAL_DIFF_NEEDLES = ["abab", "aa", "sk", "\u00e9"]
LITERAL_DIFF_CONDITIONS = [
    "$s",
    "#s == 2",
    "$s at 2",
    "$s in (1..4)",
    "@s[2] == 2",
    "for any i in (1..#s) : ( @s[i] > 5 )",
]
# the other literal kinds, each read as `$s` (the count/at/in/offset
# operators take plain literals only), nocase where the modifier allows
LITERAL_DIFF_KINDS = [
    YaraString("$s", needle, nocase=nocase, fullword=True)
    for needle in ("abab", "sk", "\u00e9")
    for nocase in (False, True)
] + [
    YaraString("$s", "ab", nocase=nocase, wide=True, ascii_form=ascii_form)
    for ascii_form in (False, True)
    for nocase in (False, True)
] + [
    YaraString("$s", "aa", xor_min=0x00, xor_max=0x01),
    YaraString("$s", "abab", base64_mod=True),
    YaraString("$s", "abab", base64wide=True),
]


def _literal_diff_texts(n):
    """`n` seeded texts over a small alphabet holding U+0130, U+017F,
    the Kelvin sign, U+00C9, NUL and '`' (the 0x01 xor of 'a'); about
    half carry 1-3 spellings of a plain needle, and about half 1-3 forms
    of another literal kind (half of the nocase ones re-spelled), at
    random offsets, adjacent ones overlapping the bordered needles."""
    import random

    from loki_rs_spark.signatures.compile import literal_needles

    rng = random.Random(14)
    alphabet = "aabbABsSkK \u0130\u017f\u212a\u00c9\u00e9\x00`"

    def spell(form):
        return "".join(rng.choice(LITERAL_DIFF_SPELLINGS.get(c, c)) for c in form)

    texts = [None, ""]
    while len(texts) < n:
        text = "".join(rng.choice(alphabet) for _ in range(rng.randint(0, 12)))
        kind = rng.choice(LITERAL_DIFF_KINDS)
        for forms, nocase in (
            (LITERAL_DIFF_NEEDLES, True), (literal_needles(kind), kind.nocase)
        ):
            if rng.random() < 0.5:
                continue
            form = rng.choice(forms)
            for _ in range(rng.randint(1, 3)):
                spelled = spell(form) if nocase and rng.random() < 0.5 else form
                at = rng.randint(0, len(text))
                text = text[:at] + spelled + text[at:]
        texts.append(text)
    return texts


def test_literal_reads_agree_with_the_reference():
    """Every literal read (`$s`, `#s`, `at`, `in`, `@s[i]`, the `for`
    quantifier), nocase and plain, and `$s` of every other literal kind
    (fullword, wide, ascii+wide, xor, base64), over seeded texts: the
    Arrow kernel and the reference scanner fire the same rules with the
    same matched_strings on every row."""
    import itertools

    import pyarrow as pa

    from loki_rs_spark.operators.arrow_matcher import match_record_batch
    from loki_rs_spark.operators.matcher import CompiledEngine

    strings = [
        (YaraString("$s", needle, nocase=nocase), condition)
        for needle, nocase, condition in itertools.product(
            LITERAL_DIFF_NEEDLES, (False, True), LITERAL_DIFF_CONDITIONS
        )
    ] + [(s, "$s") for s in LITERAL_DIFF_KINDS]
    rules = [
        YaraRule(f"R{k}", 80, "", "", "", (s,), condition)
        for k, (s, condition) in enumerate(strings)
    ]
    sigs = _sigs(yara_rules=rules)
    cfg = ScanConfig(exclude_patterns=(), max_reasons=len(rules))
    texts = _literal_diff_texts(3000)
    batch = pa.RecordBatch.from_arrays(
        [
            pa.array(texts, type=pa.string()),
            pa.array(["t"] * len(texts)),
            pa.array([0] * len(texts), type=pa.int64()),
        ],
        names=["text", "tool", "ext_bits"],
    )
    _fname, yara, _c2 = match_record_batch(CompiledEngine(sigs), batch)
    fired_rules = set()
    for i, (text, reasons) in enumerate(zip(texts, yara.to_pylist())):
        kernel = [(r["message"], r["matched_strings"]) for r in reasons]
        ref = scan_turn("c0", i, text, "t", sigs, cfg)
        expected = [] if ref is None else [
            (r.message, r.matched_strings) for r in ref.reasons
        ]
        assert kernel == expected, text
        fired_rules.update(message for message, _ in kernel)
    # every read of every string fires somewhere
    assert len(fired_rules) == len(rules)


def _kernel_and_reference(string, text):
    """`$s`'s matched_strings on `text` from the Arrow kernel and from
    the reference scanner (None where the rule does not fire)."""
    import pyarrow as pa

    from loki_rs_spark.operators.arrow_matcher import match_record_batch
    from loki_rs_spark.operators.matcher import CompiledEngine

    sigs = _yara_sigs([string], "$s")
    batch = pa.RecordBatch.from_arrays(
        [pa.array([text]), pa.array(["t"]), pa.array([0], type=pa.int64())],
        names=["text", "tool", "ext_bits"],
    )
    [kernel] = match_record_batch(CompiledEngine(sigs), batch)[1].to_pylist()
    ref = scan_turn("c0", 0, text, "t", sigs, CFG)
    return (
        kernel[0]["matched_strings"] if kernel else None,
        ref.reasons[0].matched_strings if ref else None,
    )


def test_nocase_fullword_folds_as_the_reference():
    """A nocase fullword literal folds as `fold_case` folds: it does not
    fire on "be\u017ft" (RE2's `(?i)` folds U+017F into 's'), and U+017F
    or the Kelvin sign next to it is a border, as in the reference."""
    best = YaraString("$s", "best", nocase=True, fullword=True)
    assert _kernel_and_reference(best, "be\u017ft") == (None, None)
    for text, matched in [
        ("\u017fbest", ["$s: 'best' @ 1"]),
        ("BEST\u212a", ["$s: 'BEST' @ 0"]),
    ]:
        assert _kernel_and_reference(best, text) == (matched, matched), text


# Open Unicode case-fold divergences between the YARA renderings (each a
# FOUND: line of CHANGES.md, ROADMAP item 3). Each test asserts that its
# rendering agrees with `scan_turn`; strict, so the fix flips them.
BEST_NOCASE_FULLWORD = YaraString("$s", "best", nocase=True, fullword=True)


@pytest.mark.xfail(
    strict=True,
    reason="CHANGES.md FOUND: _CatalystCondBackend tests a nocase fullword "
    "literal's borders on the fold_case'd text, where the Kelvin sign "
    "reads as 'k'",
)
def test_catalyst_nocase_fullword_border_agrees_with_the_reference(spark):
    text = "BEST\u212a"
    sigs = _yara_sigs([BEST_NOCASE_FULLWORD], "$s")
    assert scan_turn("c0", 0, text, "t", sigs, CFG) is not None
    routed = scan_transcripts(
        spark, _turn_df(spark, [(text, "t")]), sigs, CFG, matcher="catalyst",
    ).routed
    assert routed.count() == 1


@pytest.mark.xfail(
    strict=True,
    reason="CHANGES.md FOUND: arrow_matcher masks a nocase regex with RE2, "
    "which does not fold U+0130 into 'i'",
)
def test_kernel_nocase_regex_folds_dotted_capital_i_as_the_reference():
    bit = YaraString("$s", "bit", is_regex=True, nocase=True)
    kernel, ref = _kernel_and_reference(bit, "B\u0130T")
    assert ref == ["$s: 'B\u0130T' @ 0"]
    assert kernel == ref


@pytest.mark.xfail(
    strict=True,
    reason="CHANGES.md FOUND: oracle._yara_string_sql's RE2 (?i) folds "
    "U+017F and the Kelvin sign into a nocase fullword's consuming "
    "[^0-9A-Za-z] borders",
)
@pytest.mark.parametrize("text", ["\u017fbest", "BEST\u212a"])
def test_oracle_nocase_fullword_sql_agrees_with_the_reference(text):
    import duckdb

    from loki_rs_spark.oracle import _yara_string_sql

    sigs = _yara_sigs([BEST_NOCASE_FULLWORD], "$s")
    assert scan_turn("c0", 0, text, "t", sigs, CFG) is not None
    [(hit,)] = duckdb.connect().execute(
        f"SELECT {_yara_string_sql(BEST_NOCASE_FULLWORD)} "
        "FROM (SELECT ?::VARCHAR AS text)",
        [text],
    ).fetchall()
    assert hit


def test_xor_string_reports_overlapping_occurrences():
    """An xor string reports every occurrence of its forms, overlapping
    ones too: "aa" xor(0x00-0x01) on "aaa" matches at 0 and at 1."""
    xor = YaraString("$s", "aa", xor_min=0x00, xor_max=0x01)
    matched = ["$s: 'aa' @ 0", "$s: 'aa' @ 1"]
    assert _kernel_and_reference(xor, "aaa") == (matched, matched)


def test_atom_gate_with_an_empty_matching_regex():
    from loki_rs_spark.operators.matcher import CompiledEngine
    from loki_rs_spark.signatures.parsers import parse_yara_rules

    rules = parse_yara_rules(GATE_RULES + EMPTY_MATCH_RULE)
    engine = CompiledEngine(_sigs(yara_rules=rules))
    fired = _assert_gate_exact(engine, _gate_batch(engine, GATE_TEXTS, 1))
    row = {t: i for i, t in enumerate(GATE_TEXTS)}
    assert fired["G_Empty_Regex"][row[""]]
    assert fired["G_Empty_Regex"][row["short"]]
    assert not fired["G_Empty_Regex"][row[None]]


def test_atom_gate_chunks_past_the_size_cap():
    """A signature set whose alternation passes ATOM_PROGRAM_MAX_CHARS is
    split into several programs, and the gate stays exact."""
    from loki_rs_spark.operators.matcher import (
        ATOM_PROGRAM_MAX_CHARS,
        CompiledEngine,
    )
    from loki_rs_spark.signatures.parsers import parse_yara_rules

    wide_xor = "".join(
        f"""
rule G_Xor_{i} {{
    strings:
        $x = "xormarker-{i}" xor
    condition:
        $x
}}"""
        for i in range(12)
    )
    sigs = _sigs(yara_rules=parse_yara_rules(GATE_RULES + wide_xor))
    engine = CompiledEngine(sigs)
    assert len(engine.atom_programs) > 1
    assert sum(map(len, engine.atom_programs)) > ATOM_PROGRAM_MAX_CHARS
    key = 0x07
    hidden = "".join(chr(ord(c) ^ key) for c in "xormarker-11")
    fired = _assert_gate_exact(
        engine, _gate_batch(engine, GATE_TEXTS + [f"a {hidden} b"], 1)
    )
    assert fired["G_Xor_11"][-1] and not fired["G_Xor_10"][-1]
