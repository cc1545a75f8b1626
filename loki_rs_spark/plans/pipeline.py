"""The scan pipeline — the reference's per-row dataflow
(src/modules/filesystem_scan.rs:559-979, SURVEY.md §3.2) re-expressed as one
declarative Spark plan, built by `scan_transcripts`:

    filters (F3/F7)
      -> hash projection (P1, JVM built-ins)
      -> FP broadcast ANTI join (J2, placed upstream of the UDF on purpose)
      -> hash-IOC lookups (J1, broadcast joins or literal CASE lookups)
      -> Arrow matcher UDF (J3 filename IOCs + P5 YARA subset + J4 C2 host
         extraction and suffix match, all inside the one UDF)
      -> reason assembly in discovery order (A3: filename -> md5 -> sha1
         -> sha256 -> YARA -> C2), capped at MAX_MATCHES (O4)
      -> weighted score fold (A1, array fold, no shuffle) -> round (i16
         parity) -> severity classify (A2) -> below-notice drop
      -> shown-reason slice (A3, default 2)

Like the reference's rule set, compiled once and reused for every file,
every Column and dim of the plan is compiled once per session, signature
set and build options (`_scan_plan`); a later build only applies the
DataFrame steps to its input. `scan_transcripts_scores` projects the
same frames, so it shares that plan, its matcher UDF and its broadcast.

Everything except the matcher UDF is whole-stage-codegen'd Catalyst; the
entire pipeline is embarrassingly row-parallel — NO shuffle from scan to
routed rows, so it scales linearly with executors (the north rule's
scaling-efficiency criterion). At 100 TB the only data movement is the
parquet/Iceberg scan itself plus the broadcast of the (small) IOC tables.
"""

from __future__ import annotations

import threading
from collections import OrderedDict
from collections.abc import Callable
from dataclasses import dataclass, replace

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import DEFAULT_CONFIG, MAX_MATCHES, ScanConfig
from ..functions.score import rounded_score_col, severity_col, weighted_score_col
from ..operators.arrow_matcher import make_arrow_matcher_udf
from ..operators.ext_bits import ext_bits_col
from ..operators.filters import exclusion_predicate, size_predicate
from ..operators.hashes import hash_columns
from ..operators.ioc_join import (
    HASH_TYPES,
    REASON_TYPE,
    YARA_MSG,
    DimJoin,
    c2_reason_array,
    c2_text_gate,
    filename_reason_array,
    fp_antijoins,
    hash_reason_array,
    join_dims,
    plain_relation_input,
    reason_struct,
)
from ..signatures.conditions import cmp_int, fold_case
from ..signatures.model import SignatureSet


@dataclass
class ScanResult:
    """The pipeline's stages, each a (lazy) DataFrame:

    * ``scanned``  — rows surviving the cheap filters (= the reference's
      "scanned" counter basis; FP-hash rows still count as scanned);
    * ``evaluated`` — every scanned, non-FP row with its score (including
      matched-below-threshold rows, level NULL): (conv_id, turn_idx, role,
      tool, ts, n_reasons, score, level), plus text_len, md5, sha1, sha256
      and ``all_reasons`` (not in `scan_transcripts_scores`);
    * ``routed``  — the same columns for rows with level ALERT/WARNING/
      NOTICE (the JSONL-sink-equivalent fact rows), plus the shown
      ``reasons`` sliced to max_reasons (not in `scan_transcripts_scores`).
    """

    scanned: DataFrame
    evaluated: DataFrame
    routed: DataFrame


_ROW_COLUMNS = ("conv_id", "turn_idx", "role", "tool", "ts")
_SCORE_COLUMNS = (*_ROW_COLUMNS, "n_reasons", "score", "level")


def _nz(arr: Column) -> Column:
    return F.coalesce(arr, F.array().cast(f"array<{REASON_TYPE}>"))


def _catalyst_yara_reasons(sigs: SignatureSet) -> Column:
    """Catalyst fallback for the YARA subset: per-rule static predicates
    rendered from the condition AST (external variables included).
    matched_strings are not captured on this path (no offsets without the
    UDF); everything else is identical."""
    yara_items = [
        F.when(
            catalyst_rule_condition(rule),
            reason_struct(
                F.lit(YARA_MSG + rule.name),
                F.lit(rule.score),
                F.lit(rule.description or None),
                F.lit(rule.author or None),
                F.lit(rule.reference or None),
            ),
        )
        for rule in sigs.yara_rules
    ]
    if not yara_items:
        return F.array().cast(f"array<{REASON_TYPE}>")
    return F.filter(F.array(*yara_items), lambda x: x.isNotNull())


def _matcher_items(
    spark: SparkSession,
    sigs: SignatureSet,
    matcher: str,
    hash_reasons: Column,
    hash_hit: Column,
) -> tuple[str, Callable[[], Column], list[Column], Column]:
    """The one matcher dispatch: returns (the matcher column's name, a
    maker of that column, the four per-source reason arrays in discovery
    order filename -> hash -> YARA -> C2, any-candidate predicate).
    'arrow' crosses the bridge ONCE (REASON_TYPE arrays from
    match_signatures_arrow, the shape catalyst builds); every kernel, J4
    C2 included, runs over each batch's unique text/tool values, and
    external-variable truth crosses as the packed `ext_bits` bigint.
    'catalyst' is zero Python: rlike filename predicates, per-rule YARA
    predicates and the JVM C2 gate + CASE chain, with no cheap
    precursors, so its candidate is the literal True."""
    if matcher == "catalyst":
        gate = c2_text_gate(F.col("text"), list(sigs.c2_iocs))
        items = [
            filename_reason_array(F.col("tool"), list(sigs.filename_iocs)),
            hash_reasons,
            _catalyst_yara_reasons(sigs),
            c2_reason_array(
                F.col("text"), list(sigs.c2_iocs), gate=F.col("_c2g")
            ),
        ]
        return "_c2g", lambda: gate, [_nz(c) for c in items], F.lit(True)

    audf = make_arrow_matcher_udf(spark, sigs)
    args = (F.col("text"), F.col("tool"), ext_bits_col(sigs))
    fname, yara, c2 = F.col("_m.fname"), F.col("_m.yara"), F.col("_m.c2")
    candidate = (
        (F.size(fname) > 0)
        | (F.size(yara) > 0)
        | hash_hit
        | (F.size(c2) > 0)
    )
    # _nz on the UDF's (never NULL) arrays too: it keeps `all_reasons`,
    # `reasons` and `n_reasons` non-nullable, as the catalyst build's are
    items = [_nz(c) for c in (fname, hash_reasons, yara, c2)]
    # a fresh UDF call per build: a cached one would put one PythonUDF
    # (and its result id) into every plan built from this key
    return "_m", lambda: audf(*args), items, candidate


@dataclass(frozen=True)
class _ScanPlan:
    """Every Column and dim of one scan build, compiled once per key by
    `_scan_plan`: the filter predicate (exclusions and size cap) and the
    hash columns, the dim joins (FP anti-joins, then the hash-IOC left
    joins the literal rendering does not replace), the matcher column
    (the Arrow UDF with its payload broadcast and `ext_bits`, or the
    catalyst C2 gate), the three projections, the routed predicate and
    the shown-reasons slice. Every Column names its inputs by column
    name, so a plan binds to no DataFrame."""

    session: object  # pins the JVM session whose id() is in the key
    scan_filter: Column
    hashes: dict[str, Column]
    joins: tuple[DimJoin, ...]
    matcher_name: str
    matcher_col: Callable[[], Column]
    staged: tuple[Column, ...]
    scored: tuple[Column, ...]
    evaluated: tuple[Column, ...]
    routed: Column
    shown: Column


def _compile_plan(
    spark: SparkSession,
    sigs: SignatureSet,
    cfg: ScanConfig,
    matcher: str,
    source_kind: str,
    literal_dims: bool,
) -> _ScanPlan:
    hash_joins, hash_reasons, hash_hit = hash_reason_array(
        spark, sigs, source_kind=source_kind, literal_dims=literal_dims
    )
    name, matcher_col, items, candidate = _matcher_items(
        spark, sigs, matcher, hash_reasons, hash_hit
    )

    # Sparse fast path: the overwhelming majority of turns match nothing,
    # so gate the (allocation-heavy) assembly behind the cheap candidate
    # predicate — codegen'd CASE WHEN evaluates the taken branch only, so
    # clean rows cost a few comparisons instead of struct/array
    # construction. False-positive candidates just take the slow branch.
    all_reasons = F.when(
        candidate, F.slice(F.concat(*items), 1, MAX_MATCHES)
    ).otherwise(F.array().cast(f"array<{REASON_TYPE}>"))
    staged = (
        *map(F.col, _ROW_COLUMNS),
        F.length("text").alias("text_len"),
        *map(F.col, HASH_TYPES),
        all_reasons.alias("all_reasons"),
    )

    # Staged projections so the reason tree evaluates once per row: its
    # alias is read twice (size, score), so CollapseProject keeps it.
    sub_scores = F.transform(F.col("all_reasons"), lambda r: r["score"])
    keep = exclusion_predicate(cfg.exclude_patterns)
    size = size_predicate(cfg.max_text_chars)
    return _ScanPlan(
        session=spark._jsparkSession,
        scan_filter=size if keep is None else keep & size,
        hashes=hash_columns(),
        joins=tuple(fp_antijoins(spark, sigs) + hash_joins),
        matcher_name=name,
        matcher_col=matcher_col,
        staged=staged,
        scored=(
            F.col("*"),
            F.size("all_reasons").alias("n_reasons"),
            rounded_score_col(weighted_score_col(sub_scores)).alias("score"),
        ),
        evaluated=(
            F.col("*"), severity_col(F.col("score"), cfg).alias("level")
        ),
        # `score >= notice_threshold` is `level IS NOT NULL` (ScanConfig
        # validates alert >= warning >= notice), and substitutes one score
        # tree into the pushed-down filter instead of severity_col's three.
        routed=(F.col("n_reasons") > 0)
        & (F.col("score") >= cfg.notice_threshold),
        shown=F.slice(F.col("all_reasons"), 1, cfg.max_reasons),
    )


# Compiled plans kept per session: a handful of (matcher, source_kind,
# ScanConfig, literal_dims) combinations per signature set in practice.
_PLAN_CACHE_SIZE = 16
_PLANS: OrderedDict[tuple, _ScanPlan] = OrderedDict()
_PLANS_LOCK = threading.Lock()


def _scan_plan(
    spark: SparkSession,
    sigs: SignatureSet,
    cfg: ScanConfig,
    matcher: str,
    source_kind: str,
    literal_dims: bool,
) -> _ScanPlan:
    """The compiled plan for this key, built on first use and kept in a
    small LRU. The key is the JVM session (and so the SparkContext) by
    identity, the signature set by content fingerprint, and the build
    options; never the input data. Building one costs ~2,500 py4j round
    trips; reusing one leaves a build only its DataFrame steps."""
    key = (
        id(spark._jsparkSession), sigs.fingerprint, cfg, matcher,
        source_kind, literal_dims,
    )
    with _PLANS_LOCK:
        plan = _PLANS.get(key)
        if plan is None:
            plan = _compile_plan(
                spark, sigs, cfg, matcher, source_kind, literal_dims
            )
            _PLANS[key] = plan
            if len(_PLANS) > _PLAN_CACHE_SIZE:
                _PLANS.popitem(last=False)
        else:
            _PLANS.move_to_end(key)
    return plan


def scan_transcripts(
    spark: SparkSession,
    transcripts: DataFrame,
    sigs: SignatureSet,
    cfg: ScanConfig = DEFAULT_CONFIG,
    matcher: str = "arrow",
    source_kind: str = "file",
) -> ScanResult:
    """The one scan builder: the filters and hashes, then every
    signature-derived step from the compiled `_ScanPlan` of this key
    (`_scan_plan`) — dim joins, matcher column, the score, severity and
    routed projections and the reasons slice. A warm build only applies
    these DataFrame steps.

    `matcher` picks the P5/J3/J4 implementation: 'arrow' (one scalar
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
    # avoided broadcast exchange of a LocalRelation dim saves ~0.1s of
    # per-action latency; over the live generator frame the joins stay,
    # doubling as pushdown fences for the generator's CASE trees.
    literal_dims = plain_relation_input(transcripts)
    plan = _scan_plan(spark, sigs, cfg, matcher, source_kind, literal_dims)
    scanned = transcripts.filter(plan.scan_filter)
    df = join_dims(scanned.withColumns(plan.hashes), plan.joins)
    df = df.withColumn(plan.matcher_name, plan.matcher_col())
    evaluated = df.select(*plan.staged).select(*plan.scored).select(
        *plan.evaluated
    )
    routed = evaluated.filter(plan.routed).withColumn("reasons", plan.shown)
    return ScanResult(scanned=scanned, evaluated=evaluated, routed=routed)


def scan_transcripts_scores(
    spark: SparkSession,
    transcripts: DataFrame,
    sigs: SignatureSet,
    cfg: ScanConfig = DEFAULT_CONFIG,
    source_kind: str = "file",
) -> ScanResult:
    """The arrow scan for aggregate consumers (severity counts,
    per-conversation rollups, counters), with `evaluated` and `routed`
    projected to `_SCORE_COLUMNS`: it shares the compiled plan, matcher
    UDF and payload broadcast of `scan_transcripts`' build."""
    full = scan_transcripts(
        spark, transcripts, sigs, cfg, source_kind=source_kind
    )
    return ScanResult(
        scanned=full.scanned,
        evaluated=full.evaluated.select(*_SCORE_COLUMNS),
        routed=full.routed.select(*_SCORE_COLUMNS),
    )


class _CatalystCondBackend:
    """YARA condition AST -> Catalyst Column predicates (the pure-JVM
    matcher rendering; whole-stage codegen'd). One instance per rule.

    A nocase literal kind reads the text folded as `fold_case` folds it,
    the Arrow kernel's and the reference's fold: its mask is the
    case-sensitive regex of the string with its pattern folded (so its
    `literal_needles` forms are folded, fullword borders around them),
    and its count/at/in operators run case-sensitively over the same
    folded text. Other strings render
    their regex, a nocase one with Java's Unicode case folding (`(?u)`:
    Java's `(?i)` alone folds ASCII only). Count/at/in render on the
    (validated) plain-literal subset: regexp_count for #, substring
    equality for at, locate for in. @[i] (i-th occurrence offset) has no
    Catalyst primitive and raises — rules using it route through the
    arrow matcher only."""

    def __init__(self, rule) -> None:
        from ..signatures.compile import boolean_regex

        self.strings_by_ident = {s.identifier: s for s in rule.strings}
        self.ident_cols = []
        for s in rule.strings:
            if s.nocase and not s.is_regex:
                col, needle = self._folded(s, s.pattern)
                folded = replace(s, pattern=needle, nocase=False)
                cond = col.rlike(boolean_regex(folded, "lookaround"))
            else:
                flags = "(?u)" if s.nocase else ""
                regex = flags + boolean_regex(s, "lookaround")
                cond = F.col("text").rlike(regex)
            self.ident_cols.append((s.identifier, cond))
        self.str_cols = dict(self.ident_cols)

    def _folded(self, s, needle: str) -> tuple[Column, str]:
        """(text column, needle) with case folded for nocase strings as
        `fold_case` folds them: Spark's `lower` expands U+0130 to two
        codepoints, so the text is lowered between its U+0130s."""
        if not s.nocase:
            return F.col("text"), needle
        parts = F.split(F.col("text"), "\u0130", -1)
        text = F.array_join(F.transform(parts, F.lower), "\u0130")
        return text, fold_case(needle)

    def _literal(self, ident: str) -> tuple[Column, str]:
        s = self.strings_by_ident[ident]
        return self._folded(s, s.pattern)

    def count_cmp(self, node) -> Column:
        from ..signatures.compile import regex_literal
        from ..signatures.conditions import _has_proper_border

        col, needle = self._literal(node.identifier)
        body = regex_literal(needle)
        if _has_proper_border(needle):
            # bordered literal: yara counts OVERLAPPING occurrences, and
            # regexp_count is non-overlapping — wrap in a zero-width
            # lookahead so each start position counts once (Java regex,
            # so lookahead is in-dialect here; RE2 backends use the
            # stepped-walk kernels instead)
            body = f"(?={body})"
        counts = F.regexp_count(col, F.lit(body))
        return cmp_int(node.op, counts, node.value)

    def at_expr(self, node) -> Column:
        col, needle = self._literal(node.identifier)
        return F.substring(col, node.offset + 1, len(needle)) == needle

    def in_expr(self, node) -> Column:
        col, needle = self._literal(node.identifier)
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
        col, needle = self._literal(node.identifier)
        return F.locate(needle, col, node.lo + 1) > 0

    def bool_lit(self, node) -> Column:
        return F.lit(node.value)

    def size_cmp(self, node) -> Column:
        return cmp_int(node.op, F.length(F.col("text")), node.value)

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
