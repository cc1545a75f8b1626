"""The scan pipeline — the reference's per-row dataflow
(src/modules/filesystem_scan.rs:559-979, SURVEY.md §3.2) re-expressed as one
declarative Spark plan:

    filters (F3/F7)
      -> hash projection (P1, JVM built-ins)
      -> FP broadcast ANTI join (J2, placed upstream of the UDF on purpose)
      -> Arrow matcher UDF (J3 filename IOCs + P5 YARA subset)
      -> hash-IOC broadcast joins (J1)
      -> C2 host extraction + suffix match (J4, higher-order functions)
      -> reason assembly in discovery order (A3: filename -> md5 -> sha1
         -> sha256 -> YARA -> C2), capped at 100 (O4)
      -> weighted score fold (A1, array fold, no shuffle) -> round (i16
         parity) -> severity classify (A2) -> below-notice drop
      -> shown-reason slice (A3, default 2)

Everything except the matcher UDF is whole-stage-codegen'd Catalyst; the
entire pipeline is embarrassingly row-parallel — NO shuffle from scan to
routed rows, so it scales linearly with executors (the north rule's
scaling-efficiency criterion). At 100 TB the only data movement is the
parquet/Iceberg scan itself plus the broadcast of the (small) IOC tables.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import DEFAULT_CONFIG, ScanConfig
from ..functions.score import rounded_score_col, severity_col, weighted_score_col
from ..operators.filters import apply_exclusions, apply_size_filter
from ..operators.hashes import with_hashes
from ..operators.ioc_join import (
    REASON_TYPE,
    anti_join_fp_hashes,
    c2_reason_array,
    c2_text_gate,
    filename_reason_array,
    hash_reason_array,
    plain_relation_input,
    reason_struct,
)
from ..signatures.model import SignatureSet


@dataclass
class ScanResult:
    """The pipeline's stages, each a (lazy) DataFrame:

    * ``scanned``  — rows surviving the cheap filters (= the reference's
      "scanned" counter basis; FP-hash rows still count as scanned);
    * ``evaluated`` — every scanned, non-FP row with its full reason array
      and score (including matched-below-threshold rows, level NULL);
    * ``routed``  — rows with level ALERT/WARNING/NOTICE and shown reasons
      sliced to max_reasons: the JSONL-sink-equivalent fact rows.
    """

    scanned: DataFrame
    evaluated: DataFrame
    routed: DataFrame


def _nz(arr: Column) -> Column:
    return F.coalesce(arr, F.array().cast(f"array<{REASON_TYPE}>"))


def _fname_reasons_from(col: Column) -> Column:
    return F.transform(
        col,
        lambda m: reason_struct(
            F.concat(F.lit("File Name IOC matched PATTERN: "), m["pattern"]),
            m["score"],
            m["description"],
        ),
    )


def _yara_reasons_from(col: Column) -> Column:
    return F.transform(
        col,
        lambda m: reason_struct(
            F.concat(F.lit("YARA match with rule "), m["rule"]),
            m["score"],
            F.nullif(m["description"], F.lit("")),
            F.nullif(m["author"], F.lit("")),
            F.nullif(m["reference"], F.lit("")),
            F.when(F.size(m["matched_strings"]) > 0, m["matched_strings"]),
        ),
    )


def scan_transcripts(
    spark: SparkSession,
    transcripts: DataFrame,
    sigs: SignatureSet,
    cfg: ScanConfig = DEFAULT_CONFIG,
    matcher: str = "arrow",
    source_kind: str = "file",
) -> ScanResult:
    """`matcher` picks the P5/J3/J4 implementation: 'arrow' (one scalar
    arrow_udf over pyarrow compute kernels — the production path) or
    'catalyst' (static per-rule predicates, zero Python, no matched-string
    capture). Both are routed-row-equal (tests).

    `source_kind` ('file' | 'process') selects the hash-IOC reason
    semantics: the reference's process scan emits only the first matching
    hash type, with a process-specific message (see hash_reason_array)."""
    if matcher not in ("arrow", "catalyst"):
        raise ValueError(f"unknown matcher impl: {matcher}")
    # literal hash-dim rendering only over stored-table inputs (the
    # production shape — see ioc_join.HASH_DIM_MAX_LITERALS): each
    # avoided broadcast exchange saves ~0.25-0.4s of per-action latency;
    # over the live generator frame the joins stay, doubling as pushdown
    # fences for the generator's CASE trees.
    literal_dims = plain_relation_input(transcripts)
    df = apply_exclusions(transcripts, cfg.exclude_patterns)
    df = apply_size_filter(df, cfg.max_text_chars)
    scanned = df

    df = with_hashes(df)
    df = anti_join_fp_hashes(spark, df, sigs, literal_dims=literal_dims)

    if matcher == "arrow":
        from ..operators.arrow_matcher import make_arrow_matcher_udf
        from ..operators.ext_bits import ext_bits_col

        # Raw text/tool cross the bridge ONCE: the Arrow matcher
        # dict-encodes each batch so every kernel (YARA strings, filename
        # IOCs, AND the J4 c2 candidate gate — struct field `c2`) runs
        # over unique values only, and its masks are exact. External-
        # variable truth crosses as the packed `ext_bits` bigint computed
        # in whole-stage codegen.
        audf = make_arrow_matcher_udf(spark, sigs)
        df = df.withColumn(
            "_m", audf(F.col("text"), F.col("tool"), ext_bits_col(sigs))
        )
        fname_reasons = _fname_reasons_from(F.col("_m.fname"))
        yara_reasons = _yara_reasons_from(F.col("_m.yara"))
    else:
        fname_reasons = filename_reason_array(
            F.col("tool"), list(sigs.filename_iocs)
        )
        # Catalyst fallback for the YARA subset: per-rule static predicates
        # rendered from the condition AST (external variables included).
        # matched_strings are not captured on this path (no offsets without
        # the UDF); everything else is identical.
        yara_items = []
        for rule in sigs.yara_rules:
            fired = catalyst_rule_condition(rule)
            yara_items.append(
                F.when(
                    fired,
                    reason_struct(
                        F.lit(f"YARA match with rule {rule.name}"),
                        F.lit(rule.score),
                        F.lit(rule.description or None),
                        F.lit(rule.author or None),
                        F.lit(rule.reference or None),
                    ),
                )
            )
        yara_reasons = (
            F.filter(F.array(*yara_items), lambda x: x.isNotNull())
            if yara_items
            else F.array().cast(f"array<{REASON_TYPE}>")
        )

    df, hash_reasons, hash_hit = hash_reason_array(
        spark, df, sigs, source_kind=source_kind, literal_dims=literal_dims
    )
    # J4 C2 enrichment. Arrow path: the matcher UDF already resolved the
    # matches (struct field `c2`, host/score/description per host
    # occurrence, first-IOC-wins — _c2_match_lists is the scale path,
    # sub-linear in IOC count), so the JVM just renders reason structs
    # and `_c2g` is the EXACT any-match bit. The catalyst path keeps the
    # JVM contains-chain gate + per-host CASE chain (c2_reason_array,
    # fine at bundled-corpus size, linear in IOC count).
    if matcher == "arrow":
        df = df.withColumn("_c2g", F.size(F.col("_m.c2")) > 0)
        c2_reasons = F.transform(
            F.col("_m.c2"),
            lambda m: reason_struct(
                F.concat(
                    F.lit("C2 IOC match in turn text HOST: "), m["host"]
                ),
                m["score"],
                m["description"],
            ),
        )
    else:
        df = df.withColumn(
            "_c2g", c2_text_gate(F.col("text"), list(sigs.c2_iocs))
        )
        c2_reasons = c2_reason_array(
            F.col("text"), list(sigs.c2_iocs), gate=F.col("_c2g")
        )

    # Sparse fast path: the overwhelming majority of turns match nothing,
    # so gate the (allocation-heavy) reason assembly behind a cheap
    # any-candidate predicate — codegen'd CASE WHEN evaluates the taken
    # branch only, so clean rows cost a few comparisons instead of
    # struct/array construction.
    assembled = F.slice(
        F.concat(
            _nz(fname_reasons), _nz(hash_reasons), _nz(yara_reasons), _nz(c2_reasons)
        ),
        1,
        cfg.max_matches,
    )
    # any-candidate predicate: matcher output non-empty, any hash-IOC join
    # hit, or a C2 server literal present in the text (c2_text_gate — a
    # necessary condition for any C2 reason). Conservative — false
    # positives just take the slow branch.
    if matcher == "arrow":
        candidate = (
            (F.size(F.col("_m.fname")) > 0)
            | (F.size(F.col("_m.yara")) > 0)
            | (hash_hit | F.col("_c2g"))
        )
    else:
        candidate = F.lit(True)  # catalyst path: no cheap precursors
    all_reasons = F.when(candidate, assembled).otherwise(
        F.array().cast(f"array<{REASON_TYPE}>")
    )

    def project(frame: DataFrame) -> DataFrame:
        # Staged projections so the heavy reason tree evaluates ONCE per
        # row: stage 1 aliases `all_reasons` (used 2x downstream — size +
        # score fold — so CollapseProject keeps the alias materialized
        # instead of re-inlining four copies of the tree); stage 2 derives
        # n_reasons/score from the attribute; stage 3 derives level from
        # the score attribute.
        staged = frame.select(
            "conv_id",
            "turn_idx",
            "role",
            "tool",
            "ts",
            F.length("text").alias("text_len"),
            "md5",
            "sha1",
            "sha256",
            all_reasons.alias("all_reasons"),
        )
        sub_scores = F.transform(F.col("all_reasons"), lambda r: r["score"])
        staged = staged.select(
            "*",
            F.size("all_reasons").alias("n_reasons"),
            rounded_score_col(weighted_score_col(sub_scores)).alias("score"),
        )
        return staged.select(
            "*", severity_col(F.col("score"), cfg).alias("level")
        )

    evaluated = project(df)

    # Candidate-first routing: Catalyst's PushDownPredicates rewrites
    # filter(project(x)) into project(filter(x)) by SUBSTITUTING the
    # n_reasons/level expressions into the predicate (a non-deterministic
    # barrier column does NOT stop it — only predicates referencing a
    # non-deterministic alias are pinned), so filtering `evaluated` would
    # re-evaluate the heavy reason/score trees up to 3x per row. Instead
    # the routed branch filters FIRST on the cheap materialized candidate
    # precursors (matcher output sizes, hash-join hit, C2 gate bit) —
    # the same superset predicate that gates reason assembly — so the
    # expensive trees, substituted or not, only ever evaluate over the
    # sparse candidate rows (measured -2.4s/M rows at local[8]). On the
    # catalyst path the candidate is the literal True, which the optimizer
    # prunes.
    routed = project(df.filter(candidate)).filter(
        (F.col("n_reasons") > 0) & F.col("level").isNotNull()
    ).withColumn(
        "reasons", F.slice(F.col("all_reasons"), 1, cfg.max_reasons)
    )

    return ScanResult(scanned=scanned, evaluated=evaluated, routed=routed)


def scan_transcripts_scores(
    spark: SparkSession,
    transcripts: DataFrame,
    sigs: SignatureSet,
    cfg: ScanConfig = DEFAULT_CONFIG,
    source_kind: str = "file",
) -> ScanResult:
    """Score-only rendering of the scan pipeline for aggregate consumers
    (severity counts, per-conversation rollups, counters): identical
    filters, gates, joins, score fold and severity semantics, but the
    matcher UDF emits ONLY per-source score arrays — no reason structs, no
    matched-string offset extraction, so the per-hit Python work and the
    wide reason projection disappear. Score equality with the full path is
    guaranteed by construction (reason scores never depend on matched
    strings) and enforced by the shared oracle rows + a pytest.

    `evaluated`/`routed` carry (conv_id, turn_idx, role, tool, ts,
    n_reasons, score, level) only."""
    from ..operators.arrow_matcher import make_arrow_score_matcher_udf
    from ..operators.ext_bits import ext_bits_col

    literal_dims = plain_relation_input(transcripts)
    df = apply_exclusions(transcripts, cfg.exclude_patterns)
    df = apply_size_filter(df, cfg.max_text_chars)
    scanned = df

    df = with_hashes(df)
    df = anti_join_fp_hashes(spark, df, sigs, literal_dims=literal_dims)

    sudf = make_arrow_score_matcher_udf(spark, sigs)
    df = df.withColumn(
        "_s", sudf(F.col("text"), F.col("tool"), ext_bits_col(sigs))
    )

    df, hash_reasons, hash_hit = hash_reason_array(
        spark, df, sigs, source_kind=source_kind, literal_dims=literal_dims
    )
    hash_scores = F.transform(_nz(hash_reasons), lambda r: r["score"])

    assembled = F.slice(
        F.concat(
            F.col("_s.fname"), hash_scores, F.col("_s.yara"), F.col("_s.c2")
        ),
        1,
        cfg.max_matches,
    )
    candidate = (
        hash_hit
        | (F.size(F.col("_s.c2")) > 0)
        | (F.size(F.col("_s.fname")) > 0)
        | (F.size(F.col("_s.yara")) > 0)
    )
    sub_scores = F.when(candidate, assembled).otherwise(
        F.array().cast("array<int>")
    )

    # staged projections: the sub_scores tree evaluates once (see
    # scan_transcripts.project for the CollapseProject rationale)
    staged = df.select(
        "conv_id",
        "turn_idx",
        "role",
        "tool",
        "ts",
        sub_scores.alias("_scores"),
    )
    staged = staged.select(
        "*",
        F.size("_scores").alias("n_reasons"),
        rounded_score_col(weighted_score_col(F.col("_scores"))).alias(
            "score"
        ),
    )
    def finish(frame: DataFrame) -> DataFrame:
        return frame.select(
            "conv_id",
            "turn_idx",
            "role",
            "tool",
            "ts",
            "n_reasons",
            "score",
            severity_col(F.col("score"), cfg).alias("level"),
        )

    evaluated = finish(staged)
    # candidate-first routing (see scan_transcripts): heavy score trees
    # evaluate only over candidate rows on the routed branch
    routed_staged = df.filter(candidate).select(
        "conv_id",
        "turn_idx",
        "role",
        "tool",
        "ts",
        sub_scores.alias("_scores"),
    )
    routed_staged = routed_staged.select(
        "*",
        F.size("_scores").alias("n_reasons"),
        rounded_score_col(weighted_score_col(F.col("_scores"))).alias(
            "score"
        ),
    )
    routed = finish(routed_staged).filter(
        (F.col("n_reasons") > 0) & F.col("level").isNotNull()
    )
    return ScanResult(scanned=scanned, evaluated=evaluated, routed=routed)


class _CatalystCondBackend:
    """YARA condition AST -> Catalyst Column predicates (the pure-JVM
    matcher rendering; whole-stage codegen'd). One instance per rule.

    Count/at/in operators render as JVM expressions on the (validated)
    plain-literal subset: regexp_count for #, substring equality for at,
    locate for in. @[i] (i-th occurrence offset) has no Catalyst
    primitive and raises — rules using it route through the arrow matcher
    only."""

    def __init__(self, rule) -> None:
        from ..signatures.compile import boolean_regex

        self.ident_cols = [
            (s.identifier, F.col("text").rlike(boolean_regex(s, "lookaround")))
            for s in rule.strings
        ]
        self.str_cols = dict(self.ident_cols)
        self.strings_by_ident = {s.identifier: s for s in rule.strings}

    def _folded(self, ident: str) -> tuple[Column, str]:
        """(text column, needle) with case folded for nocase strings."""
        s = self.strings_by_ident[ident]
        if s.nocase:
            return F.lower(F.col("text")), s.pattern.lower()
        return F.col("text"), s.pattern

    def count_cmp(self, node) -> Column:
        from ..signatures.compile import regex_literal
        from ..signatures.conditions import _has_proper_border

        s = self.strings_by_ident[node.identifier]
        body = regex_literal(s.pattern)
        needle_f = s.pattern.lower() if s.nocase else s.pattern
        if _has_proper_border(needle_f):
            # bordered literal: yara counts OVERLAPPING occurrences, and
            # regexp_count is non-overlapping — wrap in a zero-width
            # lookahead so each start position counts once (Java regex,
            # so lookahead is in-dialect here; RE2 backends use the
            # stepped-walk kernels instead)
            body = f"(?={body})"
        pat = ("(?i)" if s.nocase else "") + body
        counts = F.regexp_count(F.col("text"), F.lit(pat))
        ops = {
            "eq": counts == node.value,
            "ne": counts != node.value,
            "gt": counts > node.value,
            "ge": counts >= node.value,
            "lt": counts < node.value,
            "le": counts <= node.value,
        }
        return ops[node.op]

    def at_expr(self, node) -> Column:
        col, needle = self._folded(node.identifier)
        return F.substring(col, node.offset + 1, len(needle)) == needle

    def in_expr(self, node) -> Column:
        col, needle = self._folded(node.identifier)
        pos = F.locate(needle, col, node.lo + 1)
        return (pos > 0) & (pos <= node.hi + 1)

    def offset_cmp(self, node) -> Column:
        from ..signatures.conditions import YaraUnsupportedError

        raise YaraUnsupportedError(
            f"@{node.identifier[1:]}[{node.index}] has no Catalyst "
            "rendering; use the arrow matcher for this rule set"
        )

    def uint_cmp(self, node) -> Column:
        eq = (
            F.substring(F.col("text"), node.offset + 1, node.size)
            == node.needle
        )
        if node.op == "eq":
            return eq
        return (F.length(F.col("text")) >= node.offset + node.size) & ~eq

    def exists_from(self, node) -> Column:
        col, needle = self._folded(node.identifier)
        return F.locate(needle, col, node.lo + 1) > 0

    def bool_lit(self, node) -> Column:
        return F.lit(node.value)

    def size_cmp(self, node) -> Column:
        length = F.length(F.col("text"))
        return {
            "eq": length == node.value,
            "ne": length != node.value,
            "gt": length > node.value,
            "ge": length >= node.value,
            "lt": length < node.value,
            "le": length <= node.value,
        }[node.op]

    def str_ref(self, ident: str) -> Column:
        return self.str_cols[ident]

    def of_them(self, node) -> Column:
        from ..signatures.conditions import selector_matches

        conds = [
            c
            for ident, c in self.ident_cols
            if selector_matches(node.selector, ident)
        ]
        if node.n == "any":
            fired = F.lit(False)
            for c in conds:
                fired = fired | c
            return fired
        if node.n == "all":
            fired = F.lit(True)
            for c in conds:
                fired = fired & c
            return fired
        count = sum((c.cast("int") for c in conds), F.lit(0))
        return count >= int(node.n)

    def ext_pred(self, p) -> Column:
        from ..operators.ext_bits import catalyst_ext_pred

        return catalyst_ext_pred(p)

    def and_(self, items):
        out = items[0]
        for x in items[1:]:
            out = out & x
        return out

    def or_(self, items):
        out = items[0]
        for x in items[1:]:
            out = out | x
        return out

    def not_(self, x):
        return ~x


def catalyst_rule_condition(rule) -> Column:
    """The fired-predicate for one YARA rule as a Catalyst Column."""
    from ..signatures.conditions import render_condition

    return render_condition(rule.condition_ast, _CatalystCondBackend(rule))
