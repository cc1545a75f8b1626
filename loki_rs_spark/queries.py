"""The Spark query registry — one callable per operator/query surfaced via
__spark_entry__.py. Each callable takes (spark, sf_dir) and returns a
DataFrame whose column names and types match its DuckDB oracle in
oracle.py exactly (the driver hash-compares values after sorting columns
by name).
"""

from __future__ import annotations

from functools import lru_cache

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .config import DEFAULT_CONFIG
from .operators.hashes import with_hashes
from .operators.ioc_join import plain_relation_input
from .plans.pipeline import ScanResult, _scan_plan, scan_transcripts
from .plans.skew import per_conv_rollup_salted
from .session import local_frame
from .signatures import load_signature_set
from .signatures.model import SignatureSet
from .sources.transcripts import DEFAULT_REP, load_transcripts

SIG_DIR_DEFAULT = "signatures"
DEDUP_REP = 2  # near-dup queries use a 2x replication (pairs stay small)


@lru_cache(maxsize=1)
def bundled_signatures() -> SignatureSet:
    from pathlib import Path

    here = Path(__file__).resolve().parent.parent / SIG_DIR_DEFAULT
    return load_signature_set(here)


def _scan(spark: SparkSession, sf_dir: str,
          matcher: str = "arrow") -> ScanResult:
    transcripts = load_transcripts(spark, sf_dir, rep=DEFAULT_REP)
    return scan_transcripts(
        spark, transcripts, bundled_signatures(), matcher=matcher
    )


# ------------------------------------------------------------ loki core


def q_transcripts(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = load_transcripts(spark, sf_dir, rep=DEFAULT_REP)
    return df.select(
        "conv_id",
        "turn_idx",
        "role",
        "text",
        "tool",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_str"),
        "uid",
    )


def _scan_matches(spark: SparkSession, sf_dir: str, matcher: str) -> DataFrame:
    routed = _scan(spark, sf_dir, matcher=matcher).routed
    r1 = F.get(F.col("all_reasons"), 0)
    r2 = F.get(F.col("all_reasons"), 1)
    return routed.select(
        "conv_id",
        "turn_idx",
        "tool",
        "md5",
        "sha256",
        "score",
        "level",
        "n_reasons",
        r1["message"].alias("reason1_msg"),
        r1["score"].alias("reason1_score"),
        r2["message"].alias("reason2_msg"),
        r2["score"].alias("reason2_score"),
    )


def q_scan_matches(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _scan_matches(spark, sf_dir, "arrow")


def q_scan_matches_catalyst(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same scan through the pure-Catalyst matcher path (static
    per-rule predicates, no Python at all) — shares scan_matches' oracle,
    so the two matcher implementations are cross-checked through the
    correctness gate."""
    return _scan_matches(spark, sf_dir, "catalyst")


def q_severity_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    routed = _scan(spark, sf_dir).routed
    return routed.groupBy("level").agg(F.count("*").alias("n"))


def q_scan_counters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.route import scan_counters

    result = _scan(spark, sf_dir)
    return scan_counters(result.scanned, result.evaluated)


def q_rule_match_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    routed = _scan(spark, sf_dir).routed
    return (
        routed.select(F.explode("all_reasons").alias("r"))
        .select(F.col("r.message").alias("message"))
        .groupBy("message")
        .agg(F.count("*").alias("n"))
    )


def q_hash_ioc_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 in isolation: the three hash projections probed against the IOC
    dimension, melted to long form.

    Rendered as ONE pass (round 7): the hash columns are stacked to
    (hash_type, hash) rows with a 3-element explode and probed against a
    single union'd broadcast dim keyed on (type, value). The previous
    union-of-three-joins plan re-ran the whole generator subtree and
    paid a separate broadcast build per hash type (3 scans + 3
    exchanges + 3 broadcast builds -> 1/1/1). Row multiset proven
    identical (exceptAll 0/0 both ways at sf0.1, 3962 rows); same oracle
    SQL. Warm A/B at sf0.1: 1.8s -> 0.8s. The dim is a LocalRelation
    (session.local_frame), so its broadcast runs no Python job and costs
    ~0.1s per action (warm, 4 cores)."""
    sigs = bundled_signatures()
    df = with_hashes(load_transcripts(spark, sf_dir, rep=DEFAULT_REP))
    dim_rows: list[tuple[str, str, int]] = []
    types: list[str] = []
    for hash_type in ("md5", "sha1", "sha256"):
        iocs = sigs.hashes_of_type(hash_type)
        if not iocs:
            continue
        types.append(hash_type)
        dim_rows += [(hash_type, h.hash_value, h.score) for h in iocs]
    if not types:
        # no hash IOCs: F.array() of zero structs would type as
        # array<void>, so answer the (empty) result directly
        return local_frame(
            spark,
            [],
            "conv_id string, turn_idx int, hash_type string, "
            "hash_value string, ioc_score int",
        )
    dim = local_frame(
        spark, dim_rows, "ht string, hash_value string, ioc_score int"
    )
    stacked = df.select(
        "conv_id",
        "turn_idx",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(t).alias("hash_type"), F.col(t).alias("h")
                    )
                    for t in types
                ]
            )
        ).alias("e"),
    ).select("conv_id", "turn_idx", "e.hash_type", F.col("e.h").alias("h"))
    return stacked.join(
        F.broadcast(dim),
        (stacked.hash_type == dim.ht) & (stacked.h == dim.hash_value),
    ).select("conv_id", "turn_idx", "hash_type", "hash_value", "ioc_score")


def _matched_transcripts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The transcripts with the Arrow matcher UDF's output as `_m`. The
    column comes from the compiled arrow scan plan of this input (the one
    `_scan` builds too), so repeated query builds share its one payload
    broadcast."""
    df = load_transcripts(spark, sf_dir, rep=DEFAULT_REP)
    plan = _scan_plan(
        spark, bundled_signatures(), DEFAULT_CONFIG, "arrow", "file",
        plain_relation_input(df),
    )
    return df.withColumn(plan.matcher_name, plan.matcher_col())


def q_filename_ioc_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3 through the Arrow matcher UDF (the production path)."""
    from .operators.ioc_join import FNAME_MSG

    return (
        _matched_transcripts(spark, sf_dir)
        .select("conv_id", "turn_idx", "tool", F.explode("_m.fname").alias("m"))
        .select(
            "conv_id",
            "turn_idx",
            "tool",
            F.expr(f"substr(m.message, {len(FNAME_MSG) + 1}) AS pattern"),
            F.col("m.score").alias("score"),
        )
    )


EXTVAR_RULE_PREFIXES = ("ExtVar_", "Fullword_")
COUNT_OFFSET_RULE_PREFIXES = ("Count_", "At_", "In_", "Uint_")
XOR_B64_RULE_PREFIXES = ("Xor_", "B64_")
FILESIZE_RULE_PREFIXES = ("Size_",)
FOR_RULE_PREFIXES = ("For_",)
R6_RULE_PREFIXES = ("R6_",)


def _yara_rule_subset_hits(
    spark: SparkSession, sf_dir: str, prefixes: tuple[str, ...]
) -> DataFrame:
    """The Arrow matcher over raw transcripts, keeping only the rules
    whose names carry the given prefixes — isolates one condition-language
    feature family for oracle checking."""
    from .operators.ioc_join import YARA_MSG

    rule_names = [
        r.name
        for r in bundled_signatures().yara_rules
        if r.name.startswith(prefixes)
    ]
    return (
        _matched_transcripts(spark, sf_dir)
        .select("conv_id", "turn_idx", "tool", F.explode("_m.yara").alias("m"))
        .select(
            "conv_id",
            "turn_idx",
            "tool",
            F.expr(f"substr(m.message, {len(YARA_MSG) + 1}) AS rule"),
            F.col("m.score").alias("score"),
        )
        .filter(F.col("rule").isin(rule_names))
    )


def q_yara_extvar_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P5 external variables + fullword in isolation: only the rules whose
    conditions exercise the reference's 5 scan globals
    (src/main.rs:857-871) or the fullword modifier. Oracle-checked against
    an independent SQL rendering of the same conditions."""
    return _yara_rule_subset_hits(spark, sf_dir, EXTVAR_RULE_PREFIXES)


def q_yara_count_offset_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P5 count/offset operators in isolation ('#m >= 3', '$b at 0',
    '$t in (2..8) and #t == 1' — the yara-x operators of
    src/main.rs:780-872 on the validated plain-literal subset, see
    signatures/conditions.py). Oracle-checked against an independent
    DuckDB rendering (replace-count arithmetic + substr/position)."""
    return _yara_rule_subset_hits(spark, sf_dir, COUNT_OFFSET_RULE_PREFIXES)


def q_yara_xor_base64_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P5 xor/base64 string modifiers in isolation (yara-x expands a
    literal into keyed/encoded variants; signatures/compile.py renders
    one regex alternation — xor_variants/base64_variants). Planted
    triggers include the in-range xor'd form, the plain form (key 0x00),
    an out-of-range decoy, and a realistic base64 stream whose
    alignment-1 variant fires while the raw literal must not."""
    return _yara_rule_subset_hits(spark, sf_dir, XOR_B64_RULE_PREFIXES)


def q_yara_filesize_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P5 filesize conditions in isolation: yara's filesize global mapped
    to the turn text's character length (signatures/conditions.py
    SizeCmp; the reference compiles full yara-x where filesize is the
    scanned file's byte size, src/main.rs:780-872). Bundled rules cover
    the >, >= (with KB suffix) and == directions, standalone and AND-ed
    with string matches; the <-family and negated forms are covered by
    test-local sets (see filesize.yar)."""
    return _yara_rule_subset_hits(spark, sf_dir, FILESIZE_RULE_PREFIXES)


def q_yara_for_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P5 'for' offset quantifiers in isolation: the canonical yara-x
    idiom `for any|all i in (1..#s) : (@s[i] CMP N)` desugared at parse
    time into at/in/exists-from primitives (conditions.py
    _desugar_for_offset) — bundled rules cover the `for any`
    direction; `for all` (vacuously true on zero occurrences) is
    exercised by test-local sets in tests/test_truth_tables.py."""
    return _yara_rule_subset_hits(spark, sf_dir, FOR_RULE_PREFIXES)


def q_yara_r6_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P5 round-6 condition-language unlocks in isolation (round6.yar):
    overlapping-occurrence counts on bordered literals, '0 of' none-of
    (desugared to not-any-of), private string modifiers, the
    lookbehind-prefix and single-char-class-backref regex transpiles,
    and offset windows beyond the old RE2 bounded-repetition cap. Each
    rule has planted must-fire / must-NOT-fire probes in TEXT_RULES;
    the oracle renders the same conditions independently in DuckDB SQL
    (overlap counts via a list_filter start-position probe)."""
    return _yara_rule_subset_hits(spark, sf_dir, R6_RULE_PREFIXES)


def q_c2_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4 through the Arrow matcher UDF (the production path)."""
    return (
        _matched_transcripts(spark, sf_dir)
        .select("conv_id", "turn_idx", F.explode("_m.c2").alias("r"))
        .select(
            "conv_id",
            "turn_idx",
            F.col("r.message").alias("message"),
            F.col("r.score").alias("score"),
        )
    )


def q_archive_child_matches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3 nested-payload explode, end to end: fenced attachments inside
    `text` become child turns with parent->entry display lineage
    (operators/attachments.py) and route through the SAME scan pipeline —
    the reference's archive-member scan shape
    (src/modules/filesystem_scan.rs:744-785)."""
    from .operators.attachments import explode_attachments

    df = load_transcripts(spark, sf_dir, rep=DEFAULT_REP)
    children = explode_attachments(df).drop("parent_md5")
    routed = scan_transcripts(spark, children, bundled_signatures()).routed
    r1 = F.get(F.col("all_reasons"), 0)
    return routed.select(
        "conv_id",
        "turn_idx",
        "tool",
        "md5",
        "score",
        "level",
        "n_reasons",
        r1["message"].alias("reason1_msg"),
    )


def q_per_conv_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage SALTED rollup (explicit skew handling) — proven equal to
    the direct rollup by the oracle."""
    evaluated = _scan(spark, sf_dir).evaluated
    return per_conv_rollup_salted(evaluated)


def q_conv_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-conversation cumulative view under stable (conv_id, turn_idx)
    ordering (SURVEY.md §2.9): running routed-match count and running max
    score per turn."""
    from pyspark.sql import Window

    evaluated = _scan(spark, sf_dir).evaluated
    w = (
        Window.partitionBy("conv_id")
        .orderBy("turn_idx")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return evaluated.select(
        "conv_id",
        "turn_idx",
        F.sum(
            F.when(F.col("level").isNotNull(), 1).otherwise(0)
        )
        .over(w)
        .alias("cum_matches"),
        F.max("score").over(w).alias("cum_max_score"),
    )


def q_union_severity_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U1 module union (src/main.rs:1410-1508): the events table re-shaped
    into the turn schema, scanned by the SAME pipeline, unioned with the
    transcript matches — per-source severity counts. The event side runs
    with source_kind='process': first-of-three hash-IOC semantics
    (src/modules/process_check.rs:367-397), proven by a planted event turn
    whose md5 AND sha256 are both IOC-listed."""
    from .sources.event_turns import load_event_turns

    sigs = bundled_signatures()
    t_routed = _scan(spark, sf_dir).routed
    e_routed = scan_transcripts(
        spark, load_event_turns(spark, sf_dir), sigs, source_kind="process"
    ).routed
    t_counts = (
        t_routed.groupBy("level")
        .agg(F.count("*").alias("n"))
        .select(F.lit("transcripts").alias("source"), "level", "n")
    )
    e_counts = (
        e_routed.groupBy("level")
        .agg(F.count("*").alias("n"))
        .select(F.lit("events").alias("source"), "level", "n")
    )
    return t_counts.unionByName(e_counts)


def q_exit_code(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.route import exit_code, scan_counters

    result = _scan(spark, sf_dir)
    return exit_code(scan_counters(result.scanned, result.evaluated))


# ------------------------------------------- training-data pipeline ops


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = load_transcripts(spark, sf_dir, rep=DEDUP_REP)
    return (
        df.withColumn("content_md5", F.md5(F.col("text").cast("binary")))
        .groupBy("content_md5")
        .agg(F.count("*").alias("n_copies"), F.min("uid").alias("keeper_uid"))
        .filter(F.col("n_copies") > 1)
    )


# BPE-ish pre-tokenizer (GPT-2-style: contraction suffixes, space-prefixed
# letter/digit/punct runs, whitespace runs), with the trailing-space
# lookahead dropped so the pattern stays in the Java-regex ∩ RE2 dialect
# the Spark and DuckDB renderings share (RE2 has no lookahead; both
# engines match alternations leftmost-first in this mode).
BPE_TOKEN_PATTERN = r"'(?:s|t|re|ve|m|ll|d)| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+"


def q_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace token count + char count + BPE-ish regex token count
    (the unit a token-budgeted training pipeline actually meters)."""
    df = load_transcripts(spark, sf_dir, rep=DEFAULT_REP)
    return df.select(
        "uid",
        F.size(F.split("text", " ")).alias("n_tokens"),
        F.length("text").alias("n_chars"),
        F.regexp_count("text", F.lit(BPE_TOKEN_PATTERN))
        .cast("int")
        .alias("n_bpe_tokens"),
    )


# Top-100 English stopwords (classic frequency list). The SIGNAL is a
# real stopword table now; language-ID downstream remains a deliberate
# heuristic (ratio threshold), not a trained model — documented as such.
_STOPWORDS = (
    "the", "of", "and", "a", "to", "in", "is", "you", "that", "it",
    "he", "was", "for", "on", "are", "as", "with", "his", "they", "i",
    "at", "be", "this", "have", "from", "or", "one", "had", "by", "word",
    "but", "not", "what", "all", "were", "we", "when", "your", "can",
    "said", "there", "use", "an", "each", "which", "she", "do", "how",
    "their", "if", "will", "up", "other", "about", "out", "many", "then",
    "them", "these", "so", "some", "her", "would", "make", "like", "him",
    "into", "time", "has", "look", "two", "more", "write", "go", "see",
    "number", "no", "way", "could", "people", "my", "than", "first",
    "water", "been", "call", "who", "oil", "its", "now", "find", "long",
    "down", "day", "did", "get", "come", "made", "may", "part",
)


def _stop_hits() -> F.Column:
    """Count of whitespace tokens whose lowercase form is a stopword —
    ONE tokenize pass + an InSet membership probe per token (Catalyst
    folds a 100-item isin into a hash-set InSet), instead of one
    replace() scan of the text per stopword."""
    tokens = F.split(F.lower(F.col("text")), " ")
    return F.size(F.filter(tokens, lambda t: t.isin(*_STOPWORDS))).cast(
        "int"
    )


def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality score in integer basis points (length component 0..7000 +
    stopword component 0..3000) — integer arithmetic with explicit floors
    so Spark and the oracle agree bit-exactly."""
    df = load_transcripts(spark, sf_dir, rep=DEFAULT_REP)
    t = df.select(
        "uid",
        F.size(F.split("text", " ")).alias("n_tokens"),
        _stop_hits().alias("stop_hits"),
    )
    stop_ratio_bp = F.floor(
        F.col("stop_hits") * 10000 / F.col("n_tokens")
    ).cast("int")
    quality_bp = (
        F.least(F.col("n_tokens"), F.lit(100)) * 70
        + F.floor(F.least(stop_ratio_bp, F.lit(10000)) * 3 / 10).cast("int")
    ).cast("int")
    return t.select(
        "uid", "n_tokens", "stop_hits", quality_bp.alias("quality_bp")
    )


def q_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = load_transcripts(spark, sf_dir, rep=DEFAULT_REP)
    t = df.select(
        "uid",
        F.size(F.split("text", " ")).alias("n_tokens"),
        _stop_hits().alias("stop_hits"),
    )
    return t.select(
        "uid",
        F.when(
            F.col("stop_hits") * 1.0 / F.col("n_tokens") > 0.02, F.lit("en")
        )
        .otherwise(F.lit("other"))
        .alias("lang_pred"),
    )


# PII patterns, kept inside the Java∩RE2 dialect both engines share
# (same constraint as the YARA regex layer). Redaction order matters and
# is fixed: emails first (their local parts contain digits/dots an IP
# pattern could bite), then IPs, then phones (the phone class has no '.'
# so IP remnants can never re-match).
PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IP = r"(?:[0-9]{1,3}\.){3}[0-9]{1,3}"
PII_PHONE = r"\+?[0-9][0-9()\- ]{7,}[0-9]"


def q_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing — the redaction pass a training-data pipeline runs
    before anything ships to a tokenizer: detect emails / IPv4s / phone
    numbers, count them per row, and emit the md5 of the REDACTED text
    (hashing the full transform means an engine disagreeing on any
    replacement breaks the oracle row). Pure Catalyst: regexp_count +
    three chained regexp_replace calls, row-local, shuffle-free — at
    100 TB this is a free rider on any existing scan."""
    df = load_transcripts(spark, sf_dir, rep=DEFAULT_REP)
    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("text"), PII_EMAIL, "[EMAIL]"),
            PII_IP,
            "[IP]",
        ),
        PII_PHONE,
        "[PHONE]",
    )
    t = df.select(
        "uid",
        F.regexp_count(F.col("text"), F.lit(PII_EMAIL)).alias("n_emails"),
        F.regexp_count(F.col("text"), F.lit(PII_IP)).alias("n_ips"),
        F.regexp_count(F.col("text"), F.lit(PII_PHONE)).alias("n_phones"),
        F.md5(redacted.cast("binary")).alias("redacted_md5"),
    )
    return t.filter(
        (F.col("n_emails") + F.col("n_ips") + F.col("n_phones")) > 0
    )


def _top_multiplicity(arr: F.Column) -> F.Column:
    """Max element multiplicity of a string array as ONE fold over the
    sorted array (equal elements are adjacent after array_sort, so the
    longest run IS the max count): O(n log n) per row instead of the
    O(distinct x n) nested filter-per-distinct-element scan the round-6
    rendering used, and ~n interpreted lambda steps instead of
    ~distinct x n (round 7; value identical by definition — multiplicity
    does not depend on how it is counted). NULL array -> NULL, matching
    array_max-over-transform on a NULL input. Two divergences from the
    old rendering, both unreachable from q_repetition_stats, whose input
    is split(text, " ") (always >= 1 element, never a NULL element, on
    non-NULL text), and both pinned by test:
    * an EMPTY array yields 0 where array_max([]) was NULL;
    * NULL ELEMENTS each start a run of 1 (NULL == NULL is NULL, never
      extending a run), so an all-NULL-element array yields 1 where the
      old per-distinct filter count yielded 0."""
    return F.aggregate(
        F.array_sort(arr),
        F.struct(
            F.lit(None).cast("string").alias("prev"),
            F.lit(0).alias("run"),
            F.lit(0).alias("best"),
        ),
        lambda acc, x: F.struct(
            x.alias("prev"),
            F.when(x == acc["prev"], acc["run"] + 1)
            .otherwise(F.lit(1))
            .alias("run"),
            F.greatest(
                acc["best"],
                F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1)),
            ).alias("best"),
        ),
        lambda acc: acc["best"],
    )


def q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/C4-style repetition quality signals — the filters a
    training pipeline uses to drop boilerplate/spam: duplicated-3-gram
    fraction and top-word concentration, in basis points. Entirely
    row-local array expressions (transform/filter/array_distinct inside
    whole-stage codegen): no UDF, no shuffle — at 100 TB it rides the
    same scan as every other per-row signal. The per-row top-word pass
    is O(distinct x words) on ~100-word rows, i.e. bounded constant
    work, and stays columnar."""
    df = load_transcripts(spark, sf_dir, rep=DEFAULT_REP)
    t = df.select("uid", F.split("text", " ").alias("w"))
    n_words = F.size("w")
    grams = F.when(
        F.size("w") >= 3,
        F.transform(
            F.sequence(F.lit(1), F.size("w") - 2),
            lambda i: F.concat_ws(" ", F.slice("w", i, F.lit(3))),
        ),
    ).otherwise(F.array().cast("array<string>"))
    # stage the gram array through an alias: codegen does not CSE across
    # higher-order-function subtrees, so referencing `grams` from three
    # expressions below would rebuild the transform three times per row
    # (round 7 — same staging pattern as the simhash token-md5 frame;
    # CollapseProject keeps a multi-referenced non-cheap alias staged)
    t = t.select("uid", "w", grams.alias("grams"))
    n_grams = F.size("grams")
    n_dup_grams = n_grams - F.size(F.array_distinct("grams"))
    dup_3gram_bp = F.when(
        n_grams > 0, F.floor(n_dup_grams * 10000 / n_grams).cast("int")
    ).otherwise(F.lit(0))
    top_count = _top_multiplicity(F.col("w"))
    top_word_bp = F.floor(top_count * 10000 / n_words).cast("int")
    return t.select(
        "uid",
        n_words.alias("n_words"),
        F.size(F.array_distinct("w")).alias("n_distinct_words"),
        dup_3gram_bp.alias("dup_3gram_bp"),
        top_word_bp.alias("top_word_bp"),
    )


def q_content_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = load_transcripts(spark, sf_dir, rep=DEFAULT_REP)
    canon = F.concat_ws(
        " ", F.array_sort(F.array_distinct(F.split("text", " ")))
    )
    return df.select(
        "uid", F.md5(canon.cast("binary")).alias("fingerprint")
    )


# Hot-shingle document-frequency cap: a 3-gram shared by k documents
# yields k^2 join rows, and on web-scale text one boilerplate shingle can
# own millions of docs — AQE can split the skewed partition but cannot cap
# the quadratic row count. Shingles with df > cap carry ~zero Jaccard
# information (they are stop-shingles), so they are dropped from the JOIN
# KEYS before the self-join. NOTE the union sizes still count every
# shingle, so the reported Jaccard is exact whenever all of a pair's
# shared shingles survive the cap (true for the whole corpus at the
# current sf: max df << cap — the oracle row proves it).
NGRAM_DF_CAP = 10_000


def ngram_jaccard_pairs_from(
    shingled: DataFrame, threshold: float = 0.5, df_cap: int = NGRAM_DF_CAP
) -> DataFrame:
    """Core of the shingle self-join, over a (uid, shingles array) frame.

    Plan shape (round-7 optimization, guide §2.3/§2.4 — result-identical
    to the previous join-based rendering, proven by the unchanged oracle):

    * the df cap is a COUNT WINDOW over the exploded frame instead of a
      groupBy + join-back: the window's hashpartitioning(s) exchange is
      exactly the partitioning the self-join needs, so one shuffle of the
      exploded rows serves cap-filter AND self-join (was: three
      evaluations of the exploded subtree — groupBy, join probe, join
      build — plus an extra join);
    * each side carries its doc's shingle-set size `n` (one long per
      row) through the self-join, and (na, nb) ride the pair groupBy as
      grouping keys — constants per (ua, ub), so the grouping is
      unchanged — eliminating both size-lookup joins and their two extra
      evaluations of the shingle subtree (guide §8: move a lightweight
      proxy with the rows instead of re-attaching it with joins);
    * shuffle_hash hints on the self-join keep AQE on the shared-
      exchange plan instead of broadcasting one side (which would
      re-evaluate the subtree and is impossible at 100 TB anyway).
    """
    from pyspark.sql import Window

    ex = shingled.select(
        "uid",
        F.size("shingles").cast("long").alias("n"),
        F.explode("shingles").alias("s"),
    )
    w = Window.partitionBy("s")
    exf = (
        ex.withColumn("df", F.count("*").over(w))
        .filter(F.col("df") <= df_cap)
        .drop("df")
    )
    a = exf.alias("a").hint("shuffle_hash")
    b = exf.alias("b").hint("shuffle_hash")
    pairs = (
        a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col("a.uid") < F.col("b.uid")))
        .groupBy(
            F.col("a.uid").alias("ua"),
            F.col("b.uid").alias("ub"),
            F.col("a.n").alias("na"),
            F.col("b.n").alias("nb"),
        )
        .agg(F.count("*").alias("inter"))
    )
    jac = F.col("inter") * 1.0 / (F.col("na") + F.col("nb") - F.col("inter"))
    return pairs.filter(jac >= threshold).select(
        F.col("ua").alias("uid_a"),
        F.col("ub").alias("uid_b"),
        F.round(jac, 4).alias("jaccard"),
    )


def q_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-3-gram Jaccard near-dup pairs via a shingle self-join —
    the classic shuffle-heavy near-dup operator, with a hot-shingle
    document-frequency cap guarding the quadratic blowup."""
    return ngram_jaccard_pairs_from(_shingled(spark, sf_dir))


def _shingled(spark: SparkSession, sf_dir: str, min_tokens: int = 0):
    """(uid, shingles): distinct token-3-grams per doc. `min_tokens=3`
    additionally drops docs that cannot produce a shingle — equivalent to
    filtering F.size("shingles") > 0 afterwards (>= 3 tokens <=> >= 1
    shingle; split() never yields an empty array), but the predicate is
    on the CHEAP pre-shingle token count, so predicate pushdown does not
    substitute the shingle-building transform into the filter."""
    df = load_transcripts(spark, sf_dir, rep=DEDUP_REP)
    toks = df.select("uid", F.split("text", " ").alias("t"))
    if min_tokens:
        toks = toks.filter(F.size("t") >= min_tokens)
    return toks.select(
        "uid",
        F.array_distinct(
            F.when(
                F.size("t") >= 3,
                F.transform(
                    F.sequence(F.lit(1), F.size("t") - 2),
                    lambda i: F.concat_ws(" ", F.slice("t", i, F.lit(3))),
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("shingles"),
    )


MINHASH_PERMS = 12
MINHASH_BAND = 3  # 4 bands of 3


def q_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + LSH banding near-dup candidates with exact-Jaccard
    verification — the classic scale path for near-dedup: signatures are
    O(k) per doc, the band join only shuffles (band_idx, band_hash) keys,
    and the expensive exact verify runs on candidates only."""
    # The non-empty-shingles filter is expressed on the RAW token count
    # (>= 3 tokens <=> >= 1 shingle, see _shingled) BEFORE the shingle
    # transform exists: a filter on F.size("shingles") gets pushed below
    # the projection by SUBSTITUTING the whole shingle-building transform
    # into the predicate, evaluating the expensive tree twice per row
    # (measured 5.0s -> 3.3s at sf0.1 from this alone).
    shingled = _shingled(spark, sf_dir, min_tokens=3)
    def _perm(i: int):
        suffix = F.lit(f";{i}")
        # single-arg lambda: F.transform treats 2-arg callables as
        # (element, index), which would silently change the hash input
        return lambda s: F.md5(F.concat(s, suffix).cast("binary"))

    mh_cols = [
        F.array_min(F.transform(F.col("shingles"), _perm(i))).alias(f"mh{i}")
        for i in range(MINHASH_PERMS)
    ]
    # Scale-critical shape: the band frame carries (uid, band_idx,
    # band_hash) ONLY — never the shingle arrays. At 100 TB the band join
    # falls back from broadcast to a shuffled join, and shipping every
    # document's full shingle set 4x (once per band) plus 2x per candidate
    # would dominate the stage; narrow keys keep the shuffle bytes
    # O(docs x bands x 16B). The exact-Jaccard verify joins BACK to the
    # shingled docs by uid on candidates only (two narrow hash joins).
    sig = shingled.select("uid", "shingles", *mh_cols)
    bands = sig.select(
        "uid",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_idx"),
                        F.md5(
                            F.concat(
                                *[
                                    F.col(f"mh{b * MINHASH_BAND + j}")
                                    for j in range(MINHASH_BAND)
                                ]
                            ).cast("binary")
                        ).alias("band_hash"),
                    )
                    for b in range(MINHASH_PERMS // MINHASH_BAND)
                ]
            )
        ).alias("band"),
    ).select("uid", "band.band_idx", "band.band_hash")
    # Shuffled self-join on the band key (guide §2.4 "share one
    # exchange"): both sides are the SAME subtree, and band_hash is an
    # md5 — uniformly distributed, so no hot-bucket hazard — which lets
    # AQE reuse the shuffle stage: the whole 12-perm minhash computation
    # runs ONCE for both sides instead of twice under the planner's
    # broadcast pick (measured 3.3s -> 2.1s at sf0.1; contrast
    # q_simhash_pairs, where skewed band values make broadcast win).
    a = bands.alias("a").hint("shuffle_hash")
    b = bands.alias("b").hint("shuffle_hash")
    pairs = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.uid") < F.col("b.uid")),
        )
        .select(
            F.col("a.uid").alias("uid_a"),
            F.col("b.uid").alias("uid_b"),
        )
        .dropDuplicates(["uid_a", "uid_b"])
    )
    docs = shingled.select("uid", "shingles")
    pairs = (
        pairs.join(
            docs.select(
                F.col("uid").alias("uid_a"), F.col("shingles").alias("sh_a")
            ),
            "uid_a",
        )
        .join(
            docs.select(
                F.col("uid").alias("uid_b"), F.col("shingles").alias("sh_b")
            ),
            "uid_b",
        )
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    jac = inter * 1.0 / union
    return pairs.filter(jac >= 0.7).select(
        "uid_a", "uid_b", F.round(jac, 4).alias("jaccard")
    )


def neardup_groups_from(pairs: DataFrame, max_iters: int = 20) -> DataFrame:
    """Connected components over near-dup edges -> (uid, canonical_uid,
    group_size): the group-resolution step a production dedup pipeline
    runs AFTER pairwise candidates, so "keep one doc per cluster" is a
    filter on uid == canonical_uid.

    Iterative min-label propagation: each round every vertex takes the
    min of its own label and its neighbors' labels; converges in
    O(component diameter) rounds (near-dup clusters are shallow —
    template families link through shared shingles; the general-graph
    O(log n) alternative is `neardup_groups_bigstar_from` below).
    Each round is two narrow shuffles (edge join + min-agg) on uid keys;
    `localCheckpoint` cuts the exponentially-growing lineage, and the
    only driver-side action per round is a LIMIT-1 convergence probe.
    Singletons (docs in no near-dup pair) are intentionally absent.

    Raises RuntimeError if `max_iters` rounds exhaust before convergence
    (a component with diameter > max_iters): partial labels would split
    components silently, and at scale a pathological chain is exactly
    when the loud failure matters. Callers with deep components should
    use `neardup_groups_bigstar_from` (O(log n) rounds)."""
    edges = pairs.select(F.col("uid_a").alias("u"), F.col("uid_b").alias("v"))
    # pre-partition the (static) edge set by the join key BEFORE
    # checkpointing: localCheckpoint preserves output partitioning, so
    # every round's message join reuses it instead of re-exchanging the
    # edge side per round (round 7; verified row-identical)
    edges = (
        edges.union(
            edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        .repartition("u")
        .localCheckpoint(eager=True)
    )
    # lazy checkpoint (round 7, guide §1.2 — one job per round, not two):
    # the convergence-probe aggregate reads EVERY partition of the frame,
    # so it fully materializes the checkpoint in the same job the probe
    # already pays for; lineage is still cut. (`edges` above stays eager:
    # it is consumed twice per round, and lazy materialization under two
    # concurrent consumers can compute the expensive pair subtree twice.)
    labels = (
        edges.select(F.col("u").alias("uid"))
        .distinct()
        .withColumn("label", F.col("uid"))
        .localCheckpoint(eager=False)
    )

    # Convergence probe (round-7 optimization, guide §1.2 — fewer jobs
    # per round): labels are MONOTONE NON-INCREASING per uid (each round
    # takes a min over the old label and neighbor labels) and the uid set
    # is fixed, so "no label changed" <=> "sum of labels unchanged".
    # One single-row aggregate over the just-checkpointed frame replaces
    # the old join + filter + limit probe (a whole extra shuffle join per
    # round). Decimal(38) keeps the sum exact at any uid scale; the
    # collect is a bounded single row (like the count it replaces).
    def _label_sum(frame: DataFrame):
        return frame.agg(
            F.sum(F.col("label").cast("decimal(38,0)")).alias("s")
        ).collect()[0][0]

    prev_sum = _label_sum(labels)
    converged = False
    for _ in range(max_iters):
        msgs = edges.join(
            labels.withColumnRenamed("uid", "u"), "u"
        ).select(F.col("v").alias("uid"), "label")
        new = (
            labels.union(msgs)
            .groupBy("uid")
            .agg(F.min("label").alias("label"))
            .localCheckpoint(eager=False)
        )
        new_sum = _label_sum(new)
        labels = new
        if new_sum == prev_sum:
            converged = True
            break
        prev_sum = new_sum
    if not converged:
        raise RuntimeError(
            f"neardup_groups_from: label propagation did not converge in "
            f"{max_iters} rounds (a component has diameter > {max_iters}); "
            "returning partial labels would split components — use "
            "neardup_groups_bigstar_from (O(log n) rounds) for deep graphs"
        )
    from pyspark.sql import Window

    w = Window.partitionBy("label")
    return labels.select(
        "uid",
        F.col("label").alias("canonical_uid"),
        F.count("*").over(w).cast("int").alias("group_size"),
    )


# Per-session cache of the resolved duplicate-groups frame: the CC job
# is the most expensive dedup stage, and downstream policies (keep-best
# here, but any per-cluster selection) should reuse ONE materialization
# rather than re-running the iterative job per consumer. Keyed by
# (applicationId, sf_dir) — same app + same input = same groups.
_GROUPS_CACHE: dict[tuple[str, str], DataFrame] = {}


def neardup_groups_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`q_neardup_groups` persisted + materialized once per (session,
    input) — the production composition point for group-consuming
    policies. The frame is tiny relative to the corpus (one row per
    near-duplicate uid: uid, canonical_uid, group_size), so MEMORY_AND_
    DISK persistence is safe at any SF."""
    key = (spark.sparkContext.applicationId, sf_dir)
    df = _GROUPS_CACHE.get(key)
    if df is None:
        df = q_neardup_groups(spark, sf_dir).persist()
        df.count()  # materialize so every consumer pays join-only cost
        _GROUPS_CACHE[key] = df
    return df


def q_dedup_keep_best(
    spark: SparkSession, sf_dir: str, groups: DataFrame | None = None
) -> DataFrame:
    """Near-dup-aware dedup KEEP policy — the step after group
    resolution in a production pipeline: per duplicate cluster, keep the
    highest-quality member (quality_bp desc, uid asc tiebreak) and
    report what was dropped. Composition of neardup_groups x the
    text-quality metric: one uid-keyed join plus a row_number window
    partitioned by canonical_uid — both narrow, no new scale hazards.
    Pass a precomputed `groups` frame (uid, canonical_uid, group_size)
    to compose with an existing resolution; otherwise the per-session
    cached CC output is reused (r5 verdict: recomputing the iterative CC
    job per consumer is the wrong production composition)."""
    from pyspark.sql import Window

    if groups is None:
        groups = neardup_groups_cached(spark, sf_dir)
    df = load_transcripts(spark, sf_dir, rep=DEDUP_REP)
    t = df.select(
        "uid",
        F.size(F.split("text", " ")).alias("n_tokens"),
        _stop_hits().alias("stop_hits"),
    )
    stop_ratio_bp = F.floor(
        F.col("stop_hits") * 10000 / F.col("n_tokens")
    ).cast("int")
    quality_bp = (
        F.least(F.col("n_tokens"), F.lit(100)) * 70
        + F.floor(F.least(stop_ratio_bp, F.lit(10000)) * 3 / 10).cast("int")
    ).cast("int")
    q = t.select("uid", quality_bp.alias("quality_bp"))
    w = Window.partitionBy("canonical_uid").orderBy(
        F.col("quality_bp").desc(), F.col("uid").asc()
    )
    return (
        groups.join(q, "uid")
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(
            "canonical_uid",
            F.col("uid").alias("kept_uid"),
            "group_size",
            F.col("quality_bp").alias("kept_quality_bp"),
            (F.col("group_size") - 1).cast("int").alias("n_dropped"),
        )
    )


def q_sample_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~10% hash sample (the reproducible-split primitive a
    training pipeline uses for held-out slices): keep rows whose
    md5(uid)-derived first byte < 26 (26/256 ≈ 10.2%). Purely row-local —
    a scan-side filter with no shuffle; the sampling column is engine-
    portable (md5 hex), so the DuckDB oracle reproduces the exact rows,
    unlike engine-specific hash()/TABLESAMPLE."""
    df = load_transcripts(spark, sf_dir, rep=DEFAULT_REP)
    bucket = F.conv(
        F.substring(F.md5(F.col("uid").cast("string").cast("binary")), 1, 2),
        16,
        10,
    ).cast("int")
    return df.filter(bucket < 26).select(
        "uid", "conv_id", "turn_idx", "tool", bucket.alias("sample_bucket")
    )


def q_neardup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup pairs resolved to duplicate clusters."""
    return neardup_groups_from(q_minhash_lsh_pairs(spark, sf_dir))


def neardup_groups_bigstar_from(
    pairs: DataFrame, max_iters: int = 30
) -> DataFrame:
    """Connected components via alternating large-star/small-star (Kiveris
    et al., "Connected Components in MapReduce and Beyond", SoCC'14) —
    the O(log n)-round path for graphs whose component diameter exceeds
    what min-label propagation should be asked to walk. Same output
    contract as `neardup_groups_from`: (uid, canonical_uid=component min,
    group_size), singletons absent.

    Per round: large-star attaches every strictly-larger neighbor of u to
    min(Γ(u) ∪ {u}); small-star re-attaches the smaller neighbors. Both
    are a groupBy-min plus a join back on the grouping key — two narrow
    shuffles each, no per-node neighbor arrays (a collect_list rendering
    would concentrate a hub component's whole edge list in one task).
    Lineage is cut per round with localCheckpoint; convergence is an
    exact exceptAll probe (edge sets are stars near the end, so the probe
    input stays proportional to the vertex count, not the raw pair
    count). A 2^30-diameter chain converges in ~30 rounds, hence the
    default; exhaustion still raises rather than returning split labels.
    """
    edges = (
        pairs.select(F.col("uid_a").alias("u"), F.col("uid_b").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    converged = False
    for _ in range(max_iters):
        # large-star: group the symmetrized edge list by u, attach each
        # neighbor v > u to min(Γ(u) ∪ {u})
        sym = edges.union(
            edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        mins = (
            sym.groupBy("u")
            .agg(F.min("v").alias("mn"))
            .select("u", F.least("u", "mn").alias("mn"))
        )
        # round-7: the two intermediate .distinct() calls that used to sit
        # here cost a shuffle each and are redundant — min-aggregation is
        # duplicate-insensitive, duplicate rows through the join only
        # produce duplicate ss rows, and the round-final distinct dedups
        # them; intermediate growth is bounded by <= 2x the edge count
        # (each sym row emits at most one ls row). Verified row-identical.
        ls = (
            sym.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("mn").alias("v"))
            .filter(F.col("u") != F.col("v"))
        )
        # small-star: orient edges big->small, attach the big node and
        # all its smaller neighbors to the minimum of that neighborhood
        d = ls.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        mins2 = d.groupBy("u").agg(F.min("v").alias("mn"))
        joined = d.join(mins2, "u")
        ss = (
            joined.select(F.col("v").alias("u"), F.col("mn").alias("v"))
            .union(joined.select("u", F.col("mn").alias("v")))
            .filter(F.col("u") != F.col("v"))
            # stays EAGER (unlike the label-prop loop's lazy per-round
            # checkpoint): an interleaved A/B showed the exceptAll probe
            # runs no faster — and slightly slower — off a lazily-marked
            # frame, because eager materialization hands AQE accurate
            # size stats for the probe's union-aggregate plan.
            .distinct()
            .localCheckpoint(eager=True)
        )
        changed = ss.exceptAll(edges).limit(1).count()
        edges = ss
        if changed == 0:
            converged = True
            break
    if not converged:
        raise RuntimeError(
            "neardup_groups_bigstar_from: large-star/small-star did not "
            f"converge in {max_iters} rounds — returning partial labels "
            "would split components"
        )
    # converged edge set is a forest of rooted stars (child -> component
    # min); add the roots' self-labels and count per component
    labels = edges.select(
        F.col("u").alias("uid"), F.col("v").alias("canonical_uid")
    )
    roots = labels.select(F.col("canonical_uid").alias("uid")).distinct()
    labels = labels.union(
        roots.select("uid", F.col("uid").alias("canonical_uid"))
    )
    from pyspark.sql import Window

    w = Window.partitionBy("canonical_uid")
    return labels.select(
        "uid",
        "canonical_uid",
        F.count("*").over(w).cast("int").alias("group_size"),
    )


def q_neardup_groups_ls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup clusters resolved with the large-star/
    small-star path — must agree exactly with `neardup_groups` (same
    oracle SQL)."""
    return neardup_groups_bigstar_from(q_minhash_lsh_pairs(spark, sf_dir))


SIMHASH_BITS = 16


def _simhash_band_value(token_md5s: F.Column, band: int, bits: int) -> F.Column:
    """One `bits`-wide simhash band over an array of per-token md5 hex
    strings: token hash for band b = md5 nibbles [4b, 4b+4) (conv is
    bit-identical to the nibble fold for md5's lowercase hex output);
    per bit, the +/-1 majority vote over tokens; the band value folds the
    sign bits MSB-first.

    Shape matters here (guide §1.2, per-task work): the bit counters
    accumulate in ONE F.aggregate pass with an array<int> accumulator —
    the previous rendering ran `bits` separate F.aggregate folds per
    band, each re-evaluating the token-hash transform (codegen does not
    CSE across higher-order-function subtrees), i.e. up to bands*bits
    md5 evaluations per token instead of one."""
    hs = F.transform(
        token_md5s,
        lambda h: F.conv(F.substring(h, 4 * band + 1, 4), 16, 10).cast(
            "int"
        ),
    )
    counts = F.aggregate(
        hs,
        F.array_repeat(F.lit(0), bits),
        lambda acc, h: F.array(
            *[
                acc[i]
                + (
                    F.shiftright(h, bits - 1 - i).bitwiseAND(F.lit(1)) * 2
                    - 1
                )
                for i in range(bits)
            ]
        ),
    )
    return F.aggregate(
        counts,
        F.lit(0),
        lambda acc, c: acc * 2 + F.when(c > 0, F.lit(1)).otherwise(F.lit(0)),
    )


def _token_md5s_frame(
    spark: SparkSession, sf_dir: str, rep: int | None = None
) -> DataFrame:
    """(uid, _th: array of md5 hex per distinct whitespace token) — the
    shared stage both simhash queries start from. Staged through an alias
    so each md5 evaluates once however many bands consume it. DEDUP_REP
    is read at CALL time (a def-time default would freeze it and break
    jobs/scaleup_probe.py's rep monkeypatch)."""
    df = load_transcripts(spark, sf_dir, rep=DEDUP_REP if rep is None else rep)
    toks = F.array_distinct(F.split("text", " "))
    return df.select(
        "uid",
        F.transform(toks, lambda t: F.md5(t.cast("binary"))).alias("_th"),
    )


def q_simhash_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup grouping: 16-bit simhash from md5-derived per-token
    hashes (the shared hash both engines implement identically), exact
    groups with >1 member. Bit b of a token's hash comes from the first 4
    hex nibbles of md5(token)."""
    th = _token_md5s_frame(spark, sf_dir)
    sh = th.select(
        "uid",
        _simhash_band_value(F.col("_th"), 0, SIMHASH_BITS)
        .cast("int")
        .alias("simhash"),
    )
    return (
        sh.groupBy("simhash")
        .agg(F.count("*").alias("n_docs"), F.min("uid").alias("min_uid"))
        .filter(F.col("n_docs") > 1)
    )


SIMHASH64_BANDS = 4
SIMHASH64_BAND_BITS = 16
SIMHASH64_HAMMING_MAX = 3


def q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit banded SimHash near-dup PAIRS — the scale path next to the
    exact-equality `simhash_groups` baseline: the 64-bit simhash is split
    into 4x16-bit bands; Hamming distance <= 3 guarantees at least one
    band is equal (pigeonhole), so candidates come from 4 band-equality
    joins (shuffle on (band_idx, band_value) only — never all pairs) and
    the exact Hamming check runs on candidates only. Token hash for band b
    comes from md5 nibbles [4b, 4b+4) — the hash both engines implement
    identically."""
    th = _token_md5s_frame(spark, sf_dir)
    band_cols = [
        _simhash_band_value(F.col("_th"), band, SIMHASH64_BAND_BITS)
        .cast("long")
        .alias(f"b{band}")
        for band in range(SIMHASH64_BANDS)
    ]
    sh = th.select("uid", *band_cols)
    bands = sh.select(
        "uid",
        *[f"b{i}" for i in range(SIMHASH64_BANDS)],
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band_idx"),
                        F.col(f"b{i}").alias("band_val"),
                    )
                    for i in range(SIMHASH64_BANDS)
                ]
            )
        ).alias("band"),
    ).select(
        "uid",
        *[f"b{i}" for i in range(SIMHASH64_BANDS)],
        "band.band_idx",
        "band.band_val",
    )
    # NOTE on join strategy (measured, guide §3.1): forcing a shuffled
    # self-join here to share one exchange between the two sides was
    # 4x SLOWER than the planner's broadcast pick (7.4s vs 1.9s at
    # sf0.1) — band values are skewed (common short-text bands), so the
    # (band_idx, band_val) hash partitioning concentrates hot buckets,
    # while the broadcast join keeps the probe side's full parallelism.
    # After the one-md5-per-token restructure the duplicated build
    # subtree is cheap, so broadcast wins on both counts.
    a = bands.alias("a")
    b = bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.uid") < F.col("b.uid")),
        )
        .select(
            F.col("a.uid").alias("uid_a"),
            F.col("b.uid").alias("uid_b"),
            *[F.col(f"a.b{i}").alias(f"ab{i}") for i in range(SIMHASH64_BANDS)],
            *[F.col(f"b.b{i}").alias(f"bb{i}") for i in range(SIMHASH64_BANDS)],
        )
        .dropDuplicates(["uid_a", "uid_b"])
    )
    hamming = sum(
        (
            F.bit_count(
                F.col(f"ab{i}").bitwiseXOR(F.col(f"bb{i}"))
            )
            for i in range(SIMHASH64_BANDS)
        ),
        F.lit(0),
    )
    return (
        cand.withColumn("hamming", hamming.cast("int"))
        .filter(F.col("hamming") <= SIMHASH64_HAMMING_MAX)
        .select("uid_a", "uid_b", "hamming")
    )


ANN_PLANES = 8
ANN_DIM = 64


def _ann_planes() -> list[list[float]]:
    import random

    rng = random.Random(42)
    return [
        [rng.gauss(0, 1) for _ in range(ANN_DIM)] for _ in range(ANN_PLANES)
    ]


def q_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed ANN (the scale path next to the brute-force baseline):
    8 random-hyperplane sign bits bucket the vectors; top-10 by exact
    cosine WITHIN the probe vector's bucket. Deterministic planes
    (seed 42) are shared with the oracle."""
    planes = _ann_planes()
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    d = F.transform(F.col("embedding"), lambda x: x.cast("double"))

    def dot_with(plane: list[float]):
        plane_col = F.array(*[F.lit(p) for p in plane])
        return F.aggregate(
            F.zip_with(d, plane_col, lambda x, p: x * p),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    bucket = F.lit(0)
    for plane in planes:
        bucket = bucket * 2 + F.when(dot_with(plane) > 0, 1).otherwise(0)
    # probe = all-ones vector; its bucket is a compile-time constant
    q_bucket = 0
    for plane in planes:
        q_bucket = q_bucket * 2 + (1 if sum(plane) > 0 else 0)

    dot = F.aggregate(d, F.lit(0.0), lambda acc, x: acc + x)
    nrm = F.aggregate(d, F.lit(0.0), lambda acc, x: acc + x * x)
    cand = emb.select(
        "vec_id",
        bucket.cast("int").alias("bucket"),
        (dot / (F.sqrt(nrm) * 8.0)).alias("cos_raw"),
    ).filter(F.col("bucket") == q_bucket)
    return (
        cand.orderBy(F.desc("cos_raw"), F.asc("vec_id"))
        .limit(10)
        .select("vec_id", F.round("cos_raw", 4).alias("cos_sim"))
    )


ANN_KNN_K = 3


def _bucketed_embeddings_df(emb: DataFrame):
    """(vec_id, d, nrm, bucket) with the deterministic hyperplane bucket."""
    planes = _ann_planes()
    d = F.transform(F.col("embedding"), lambda x: x.cast("double"))

    def dot_with(plane: list[float]):
        plane_col = F.array(*[F.lit(p) for p in plane])
        return F.aggregate(
            F.zip_with(d, plane_col, lambda x, p: x * p),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    bucket = F.lit(0)
    for plane in planes:
        bucket = bucket * 2 + F.when(dot_with(plane) > 0, 1).otherwise(0)
    nrm = F.sqrt(F.aggregate(d, F.lit(0.0), lambda acc, x: acc + x * x))
    return emb.select(
        "vec_id",
        d.alias("d"),
        nrm.alias("nrm"),
        bucket.cast("int").alias("bucket"),
    )


def _bucketed_embeddings(spark: SparkSession, sf_dir: str):
    return _bucketed_embeddings_df(
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    )


def _pair_cos() -> F.Column:
    dot = F.aggregate(
        F.zip_with(F.col("a.d"), F.col("b.d"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return dot / (F.col("a.nrm") * F.col("b.nrm"))


def ann_knn_join_from(emb: DataFrame, k: int = 3) -> DataFrame:
    """k-NN JOIN core over an (vec_id, embedding) frame: every vector finds
    its top-k neighbors within its LSH bucket plus all single-bit-flip
    neighbor buckets (multiprobe). The join shuffles on the bucket id only
    (9 probe rows per vector, never all pairs); exact cosine + row_number
    ranking run on candidates only. Recall < 1 by LSH construction and
    depends on how clustered the data is (near-uniform random vectors are
    the worst case); the within-probed-buckets ranking is EXACT."""
    from pyspark.sql import Window

    base = _bucketed_embeddings_df(emb)
    probes = base.select(
        "vec_id",
        "d",
        "nrm",
        F.explode(
            F.array(
                F.col("bucket"),
                *[
                    F.col("bucket").bitwiseXOR(F.lit(1 << i))
                    for i in range(ANN_PLANES)
                ],
            )
        ).alias("probe_bucket"),
    )
    a = probes.alias("a")
    b = base.alias("b")
    cand = a.join(
        b,
        (F.col("a.probe_bucket") == F.col("b.bucket"))
        & (F.col("a.vec_id") != F.col("b.vec_id")),
    ).select(
        F.col("a.vec_id").alias("vec_id"),
        F.col("b.vec_id").alias("neighbor_id"),
        _pair_cos().alias("cos_raw"),
    )
    w = Window.partitionBy("vec_id").orderBy(
        F.desc("cos_raw"), F.asc("neighbor_id")
    )
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "vec_id",
            "neighbor_id",
            F.col("rank").cast("int").alias("rank"),
            F.round("cos_raw", 4).alias("cos_sim"),
        )
    )


def q_ann_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ann_knn_join_from(
        spark.read.parquet(f"{sf_dir}/embeddings.parquet"), k=ANN_KNN_K
    )


IVF_K = 8
IVF_NPROBE = 2


def _ivf_centroids(emb: DataFrame) -> list[list[float]]:
    """Deterministic coarse-quantizer seeds: the embeddings of the K
    lowest vec_ids, as doubles. Production IVF would run k-means|| here;
    the seeds keep the oracle expressible while the OPERATOR (assign ->
    inverted lists -> probe -> exact rank) is the real scale shape.
    Collecting K=8 rows driver-side is the standard IVF pattern — the
    quantizer is a tiny dim table broadcast as literals."""
    rows = emb.orderBy("vec_id").limit(IVF_K).collect()
    return [[float(x) for x in r.embedding] for r in rows]


def q_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-bucketed ANN (the inverted-file scale path next to the LSH
    variant, both against the `ann_cosine_topk` exact baseline): every
    vector is assigned to its nearest of K=8 centroids by L2 (the
    inverted lists — at scale this is the partition/cluster key the
    table is laid out on), the all-ones probe vector probes its
    nprobe=2 nearest lists, and exact cosine ranks the candidates.
    The assignment is a narrow shuffle-free projection (argmin over K
    literal centroid arrays via array_position/array_min, so each
    distance expression is evaluated once); the probe filter prunes
    ~(1 - nprobe/K) of the data before the exact distance runs."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cents = _ivf_centroids(emb)
    d = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    nrm2 = F.aggregate(d, F.lit(0.0), lambda acc, x: acc + x * x)
    base = emb.select("vec_id", d.alias("d"), nrm2.alias("nrm2"))

    def dist2(c: list[float]) -> F.Column:
        c_col = F.array(*[F.lit(v) for v in c])
        dot = F.aggregate(
            F.zip_with(F.col("d"), c_col, lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        c2 = 0.0
        for v in c:  # left-fold, matching SQL list_aggregate 'sum'
            c2 += v * v
        return F.col("nrm2") - 2.0 * dot + F.lit(c2)

    # Stage the distance array through an alias that the next projection
    # references TWICE (array_position + array_min): CollapseProject keeps
    # multiply-referenced non-cheap aliases, so the projection evaluates
    # the K aggregates once per surviving row instead of once per consumer
    # (the round-3 `_c2g` expression-duplication lesson). The probe filter
    # itself still gets substituted below the projections by
    # PushDownPredicates (plan-shape pinned in tests/test_neardup_groups);
    # at rest the assignment is a precomputed partition column and that
    # filter becomes partition pruning.
    dists = F.array(*[dist2(c) for c in cents])
    staged = base.select("vec_id", "d", "nrm2", dists.alias("dists"))
    assigned = staged.select(
        "vec_id",
        "d",
        "nrm2",
        # first minimal index == tie to the smallest centroid id
        (F.array_position(F.col("dists"), F.array_min("dists")) - 1)
        .cast("int")
        .alias("list_id"),
    )
    # probe ranking for the all-ones query q: |q|^2 is constant, so
    # rank lists by |c|^2 - 2*q.c = |c|^2 - 2*sum(c), ties by centroid id
    def _fsum(vals: list[float]) -> float:
        acc = 0.0
        for v in vals:
            acc += v
        return acc

    ranked = sorted(
        (_fsum([v * v for v in c]) - 2.0 * _fsum(c), i)
        for i, c in enumerate(cents)
    )
    probe_ids = [i for _, i in ranked[:IVF_NPROBE]]
    dot_q = F.aggregate(F.col("d"), F.lit(0.0), lambda acc, x: acc + x)
    return (
        assigned.filter(F.col("list_id").isin(probe_ids))
        .select(
            "vec_id",
            "list_id",
            (dot_q / (F.sqrt(F.col("nrm2")) * 8.0)).alias("cos_raw"),
        )
        .orderBy(F.desc("cos_raw"), F.asc("vec_id"))
        .limit(10)
        .select("vec_id", "list_id", F.round("cos_raw", 4).alias("cos_sim"))
    )


def q_embedding_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs via the BUCKETED join (the scale path the
    brute-force `embedding_cosine_pairs` is the exact baseline for):
    candidates are pairs whose hyperplane buckets differ by <= 1 bit, so
    the join shuffles on bucket ids only; exact cosine verifies candidates.
    Recall < 1 by LSH construction — that is the documented trade."""
    base = _bucketed_embeddings(spark, sf_dir)
    probes = base.select(
        "vec_id",
        "d",
        "nrm",
        F.explode(
            F.array(
                F.col("bucket"),
                *[
                    F.col("bucket").bitwiseXOR(F.lit(1 << i))
                    for i in range(ANN_PLANES)
                ],
            )
        ).alias("probe_bucket"),
    )
    a = probes.alias("a")
    b = base.alias("b")
    cos = _pair_cos()
    return (
        a.join(
            b,
            (F.col("a.probe_bucket") == F.col("b.bucket"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            cos.alias("cos_raw"),
        )
        .filter(F.col("cos_raw") >= 0.45)
        .select("vec_a", "vec_b", F.round("cos_raw", 4).alias("cos_sim"))
    )


def q_embedding_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs: brute-force all-pairs cosine with a
    broadcast self-join (the exact baseline; the LSH variant is the scale
    path). Threshold 0.45 chosen to yield non-trivial pairs on the
    synthetic embeddings.

    The zip_with+aggregate fold rendering below was A/B'd in round 7
    against (a) a statically unrolled 64-term arithmetic tree and (b) a
    single fused aggregate over constant indices with element_at — both
    bit-identical in output and both SLOWER (58.6s / 26.3s vs 20.3s at
    sf0.1): the giant flat expressions defeat JIT-friendly codegen,
    while the HOF fold is at least a compact interpreted loop, and
    predicate pushdown already places the cosine filter below the
    projection so the fold runs once per candidate pair, not twice.
    Kept as-is deliberately."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    d = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    nrm = F.sqrt(F.aggregate(d, F.lit(0.0), lambda acc, x: acc + x * x))
    base = emb.select("vec_id", d.alias("d"), nrm.alias("nrm"))
    a = base.alias("a")
    b = base.alias("b")
    dot = F.aggregate(
        F.zip_with(F.col("a.d"), F.col("b.d"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    cos = dot / (F.col("a.nrm") * F.col("b.nrm"))
    return (
        a.join(F.broadcast(b), F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            cos.alias("cos_raw"),
        )
        .filter(F.col("cos_raw") >= 0.45)
        .select("vec_a", "vec_b", F.round("cos_raw", 4).alias("cos_sim"))
    )


def q_tool_type_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P2 analog (file-type detection): classify the tool field into coarse
    types and count per type — the magic-byte classification of the
    reference re-expressed as a dictionary CASE."""
    df = load_transcripts(spark, sf_dir, rep=DEFAULT_REP)
    tool_type = (
        F.when(F.col("tool").endswith(".exe"), F.lit("EXECUTABLE"))
        .when(F.col("tool").endswith(".bin"), F.lit("BINARY"))
        .when(F.col("tool").startswith("debug-"), F.lit("DEBUG"))
        .when(F.col("tool").startswith("tool-"), F.lit("GENERIC"))
        .otherwise(F.lit("OTHER"))
    )
    return df.groupBy(tool_type.alias("tool_type")).agg(
        F.count("*").alias("n")
    )


def q_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal featurization through the REAL mapInPandas plumbing
    (binary column in, fixed-dim vector out) emitting the exact-integer
    u32 feature basis so the DuckDB oracle can verify it bit-exactly. The
    normalized-float variant of the same operator is covered by pytest
    (tests/test_streaming_multimodal.py). The fixed-dim vector is
    flattened to scalar columns f0..f7 for the oracle compare (the check
    harness sorts on every column, which an array column defeats)."""
    from .operators.multimodal import FEATURE_DIM, extract_features, synthetic_media

    media = synthetic_media(spark, sf_dir, limit=64)
    feats = extract_features(media, raw_u32=True)
    return feats.select(
        "media_id",
        "kind",
        "n_bytes",
        *[F.col("feature")[i].alias(f"f{i}") for i in range(FEATURE_DIM)],
    )


def q_media_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling over media blobs (video frame-sample / image tile
    analog): 1 blob row -> up to 4 frame rows via the real mapInPandas
    explode, each frame a 32-byte slice taken every 64 bytes. The frame
    bytes stay JVM-side after the slice; the verifiable digest is computed
    with the built-in sha2 so the Python boundary emits bounded-size rows
    and the hash runs in codegen."""
    from .operators.multimodal import sample_frames, synthetic_media

    media = synthetic_media(spark, sf_dir, limit=64)
    frames = sample_frames(media, frame_size=32, stride=64, max_frames=4)
    return frames.select(
        "media_id",
        "kind",
        "frame_idx",
        "frame_off",
        "frame_len",
        F.sha2(F.col("frame"), 256).alias("frame_sha"),
    )


def q_media_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Block-average resize (image downsample analog): 16x16 byte grid ->
    8x8 via 2x2 integer pooling in vectorized numpy inside mapInPandas.
    Integer-exact, so the oracle rebuilds the resized blob from ord/chr
    arithmetic and the sha256 digests must agree byte-for-byte."""
    from .operators.multimodal import resize_media, synthetic_media

    media = synthetic_media(spark, sf_dir, limit=64)
    resized = resize_media(media, src_w=16, src_h=16, factor=2)
    return resized.select(
        "media_id",
        "kind",
        "out_w",
        "out_h",
        F.sha2(F.col("resized"), 256).alias("resized_sha"),
    )


def q_media_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL container decode end to end (round-4 verdict #6): documents
    become genuine BMP (even doc_id, 16x16 24bpp, text bytes cycled into
    the pixel array) and PCM WAV (odd doc_id, 8-bit mono, first <=256
    text bytes as samples) blobs in one mapInPandas, then a second
    mapInPandas struct-parses the containers back and emits integer-
    exact payload stats. The oracle recomputes the stats directly from
    the text (the blob construction is deterministic), so a decode bug —
    wrong data offset, padding bytes leaking into stats, sample
    misalignment — breaks the hash match."""
    from .operators.multimodal import decode_features, synthetic_media_files

    return decode_features(synthetic_media_files(spark, sf_dir, limit=64))


def q_events_parsed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The grok/JSON parse stage over the events stream table."""
    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    return events.select(
        "event_id",
        "user_id",
        "event_type",
        F.get_json_object("props", "$.k").cast("int").alias("k"),
        F.round("value", 2).alias("value_r"),
    )


def q_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-hour rollup per event type (the per-sink aggregate shape)."""
    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    return (
        events.groupBy(
            F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss")
            .alias("hour"),
            "event_type",
        )
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
    )


def q_events_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization: per-user sessions split on >30-minute gaps
    (window functions; the one genuinely order-sensitive operator)."""
    from pyspark.sql import Window

    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    flagged = events.withColumn(
        "new_session",
        F.when(gap.isNull() | (gap > 1800), F.lit(1)).otherwise(F.lit(0)),
    )
    w2 = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    sessions = flagged.withColumn(
        "session_idx", F.sum("new_session").over(w2)
    )
    return sessions.groupBy("user_id", "session_idx").agg(
        F.count("*").alias("n_events"),
        (
            F.unix_timestamp(F.max("ts")) - F.unix_timestamp(F.min("ts"))
        ).alias("duration_sec"),
    )


def q_ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k against the all-ones probe vector (the
    exact baseline an LSH/IVF variant must agree with on the head)."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    d = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    dot = F.aggregate(d, F.lit(0.0), lambda acc, x: acc + x)
    nrm = F.aggregate(d, F.lit(0.0), lambda acc, x: acc + x * x)
    cos = F.col("dot") / (F.sqrt(F.col("nrm")) * 8.0)
    return (
        emb.select("vec_id", dot.alias("dot"), nrm.alias("nrm"))
        .select("vec_id", cos.alias("cos_raw"))
        .orderBy(F.desc("cos_raw"), F.asc("vec_id"))
        .limit(10)
        .select("vec_id", F.round("cos_raw", 4).alias("cos_sim"))
    )


def _utc(fn):
    """Timestamp-bearing queries assume a UTC session (the oracle's DuckDB
    timestamps are naive UTC); pin it regardless of the caller's session."""

    def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        return fn(spark, sf_dir)

    wrapped.__name__ = fn.__name__
    return wrapped


QUERIES = {
    "transcripts": q_transcripts,
    "scan_matches": q_scan_matches,
    "scan_matches_catalyst": q_scan_matches_catalyst,
    "severity_counts": q_severity_counts,
    "scan_counters": q_scan_counters,
    "rule_match_counts": q_rule_match_counts,
    "hash_ioc_hits": q_hash_ioc_hits,
    "filename_ioc_hits": q_filename_ioc_hits,
    "yara_extvar_hits": q_yara_extvar_hits,
    "yara_count_offset_hits": q_yara_count_offset_hits,
    "yara_xor_base64_hits": q_yara_xor_base64_hits,
    "yara_filesize_hits": q_yara_filesize_hits,
    "yara_for_hits": q_yara_for_hits,
    "yara_r6_hits": q_yara_r6_hits,
    "c2_hits": q_c2_hits,
    "archive_child_matches": q_archive_child_matches,
    "per_conv_rollup": q_per_conv_rollup,
    "union_severity_counts": q_union_severity_counts,
    "conv_running": q_conv_running,
    "exit_code": q_exit_code,
    "dedup_exact": q_dedup_exact,
    "token_stats": q_token_stats,
    "text_quality": q_text_quality,
    "langid": q_langid,
    "content_fingerprint": q_content_fingerprint,
    "pii_redact": q_pii_redact,
    "repetition_stats": q_repetition_stats,
    "ngram_jaccard_pairs": q_ngram_jaccard_pairs,
    "minhash_lsh_pairs": q_minhash_lsh_pairs,
    "neardup_groups": q_neardup_groups,
    "dedup_keep_best": q_dedup_keep_best,
    "sample_hash_10pct": q_sample_hash,
    "neardup_groups_ls": q_neardup_groups_ls,
    "simhash_groups": q_simhash_groups,
    "simhash_pairs": q_simhash_pairs,
    "ann_cosine_topk": q_ann_cosine_topk,
    "ann_lsh_topk": q_ann_lsh_topk,
    "ann_ivf_topk": q_ann_ivf_topk,
    "ann_knn_join": q_ann_knn_join,
    "embedding_cosine_pairs": q_embedding_cosine_pairs,
    "embedding_lsh_pairs": q_embedding_lsh_pairs,
    "tool_type_counts": q_tool_type_counts,
    "media_features": q_media_features,
    "media_frames": q_media_frames,
    "media_resize": q_media_resize,
    "media_decode": q_media_decode,
    "events_parsed": q_events_parsed,
    "events_hourly": q_events_hourly,
    "events_sessions": q_events_sessions,
}
QUERIES = {name: _utc(fn) for name, fn in QUERIES.items()}


def oracle_queries() -> dict[str, str]:
    from . import oracle as o
    from .config import DEFAULT_CONFIG as cfg

    sigs = bundled_signatures()
    rep = DEFAULT_REP
    return {
        "transcripts": o.transcripts_sql(rep),
        "scan_matches": o.scan_matches_sql(sigs, cfg, rep),
        "scan_matches_catalyst": o.scan_matches_sql(sigs, cfg, rep),
        "severity_counts": o.severity_counts_sql(sigs, cfg, rep),
        "scan_counters": o.scan_counters_sql(sigs, cfg, rep),
        "rule_match_counts": o.rule_match_counts_sql(sigs, cfg, rep),
        "hash_ioc_hits": o.hash_ioc_hits_sql(sigs, rep),
        "filename_ioc_hits": o.filename_ioc_hits_sql(sigs, rep),
        "yara_extvar_hits": o.yara_extvar_hits_sql(sigs, rep),
        "yara_count_offset_hits": o.yara_count_offset_hits_sql(sigs, rep),
        "yara_xor_base64_hits": o.yara_xor_base64_hits_sql(sigs, rep),
        "yara_filesize_hits": o.yara_filesize_hits_sql(sigs, rep),
        "yara_for_hits": o.yara_for_hits_sql(sigs, rep),
        "yara_r6_hits": o.yara_r6_hits_sql(sigs, rep),
        "c2_hits": o.c2_hits_sql(sigs, rep),
        "archive_child_matches": o.archive_child_matches_sql(sigs, cfg, rep),
        "per_conv_rollup": o.per_conv_rollup_sql(sigs, cfg, rep),
        "union_severity_counts": o.union_severity_counts_sql(sigs, cfg, rep),
        "conv_running": o.conv_running_sql(sigs, cfg, rep),
        "exit_code": o.exit_code_sql(sigs, cfg, rep),
        "dedup_exact": o.dedup_exact_sql(DEDUP_REP),
        "token_stats": o.token_stats_sql(rep),
        "text_quality": o.text_quality_sql(rep),
        "langid": o.langid_sql(rep),
        "content_fingerprint": o.content_fingerprint_sql(rep),
        "pii_redact": o.pii_redact_sql(rep),
        "repetition_stats": o.repetition_stats_sql(rep),
        "ngram_jaccard_pairs": o.ngram_jaccard_pairs_sql(DEDUP_REP),
        "minhash_lsh_pairs": o.minhash_lsh_pairs_sql(DEDUP_REP),
        "neardup_groups": o.neardup_groups_sql(DEDUP_REP),
        "dedup_keep_best": o.dedup_keep_best_sql(DEDUP_REP),
        "sample_hash_10pct": o.sample_hash_sql(rep),
        # large-star/small-star must agree exactly with label propagation
        "neardup_groups_ls": o.neardup_groups_sql(DEDUP_REP),
        "simhash_groups": o.simhash_groups_sql(DEDUP_REP),
        "simhash_pairs": o.simhash_pairs_sql(DEDUP_REP),
        "ann_cosine_topk": o.ann_cosine_topk_sql(10),
        "ann_lsh_topk": o.ann_lsh_topk_sql(10),
        "ann_ivf_topk": o.ann_ivf_topk_sql(10),
        "ann_knn_join": o.ann_knn_join_sql(ANN_KNN_K),
        "embedding_cosine_pairs": o.embedding_cosine_pairs_sql(0.45),
        "embedding_lsh_pairs": o.embedding_lsh_pairs_sql(0.45),
        "tool_type_counts": o.tool_type_counts_sql(rep),
        "media_features": o.media_features_sql(64),
        "media_decode": o.media_decode_sql(64),
        "media_frames": o.media_frames_sql(64),
        "media_resize": o.media_resize_sql(64),
        "events_parsed": o.events_parsed_sql(),
        "events_hourly": o.events_hourly_sql(),
        "events_sessions": o.events_sessions_sql(),
    }
