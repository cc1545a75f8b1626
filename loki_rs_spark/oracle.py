"""DuckDB oracle-SQL generators.

For every Spark query registered in __spark_entry__.py, this module renders
an INDEPENDENT DuckDB implementation of the same semantics, generated from
the same parsed SignatureSet + transcript spec (single source of truth for
the *inputs*, separate rendering of the *computation*: list comprehensions
and CASE chains instead of Catalyst expressions and the Arrow matcher).

One asymmetry: DuckDB has no sha1() function, so sha1-hash-IOC predicates
are rendered as text-equality against the known planted payloads (the only
preimages of those digests in the deterministic dataset) — a semantically
equal predicate, not a shared code path.
"""

from __future__ import annotations

import hashlib

from .config import DEFAULT_CONFIG, MAX_MATCHES, ScanConfig
from .operators.ioc_join import HOST_PATTERN, IPV4_PATTERN
from .signatures.model import SignatureSet
from .sources.transcripts import (
    DEFAULT_REP,
    TEXT_RULES,
    transcripts_duckdb_cte,
)


def _q(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


def known_payload_hashes() -> dict[str, dict[str, str]]:
    out: dict[str, dict[str, str]] = {}
    for _mod, _res, action, payload in TEXT_RULES:
        if action == "replace":
            raw = payload.encode("utf-8")
            out[payload] = {
                "md5": hashlib.md5(raw).hexdigest(),
                "sha1": hashlib.sha1(raw).hexdigest(),
                "sha256": hashlib.sha256(raw).hexdigest(),
            }
    return out


def _sha1_predicate(hash_value: str) -> str | None:
    for payload, hashes in known_payload_hashes().items():
        if hashes["sha1"] == hash_value:
            return f"text = {_q(payload)}"
    return None


def _hash_predicate(hash_type: str, hash_value: str) -> str | None:
    if hash_type == "md5":
        return f"md5(text) = {_q(hash_value)}"
    if hash_type == "sha256":
        return f"sha256(text) = {_q(hash_value)}"
    return _sha1_predicate(hash_value)


def _fname_condition(ioc) -> str:
    cond = f"regexp_matches(tool, {_q(ioc.pattern)})"
    if ioc.fp_pattern:
        cond += f" AND NOT regexp_matches(tool, {_q(ioc.fp_pattern)})"
    return cond


def _yara_string_sql(s) -> str:
    """One YARA string as a DuckDB boolean. A plain literal (its one form
    is its pattern) uses contains(); anything modifier-bearing
    (fullword/wide/xor/base64/hex/regex) uses the RE2 rendering from
    signatures/compile.py (DuckDB's regex engine is RE2, same dialect as
    the pyarrow kernels)."""
    from .signatures.compile import boolean_regex, literal_needles

    plain = not (s.is_regex or s.is_hex or s.fullword)
    if plain and literal_needles(s) == [s.pattern] and "\x00" not in s.pattern:
        if s.nocase:
            return f"contains(lower(text), {_q(s.pattern.lower())})"
        return f"contains(text, {_q(s.pattern)})"
    return f"regexp_matches(text, {_q(boolean_regex(s, 're2'))})"


def _ext_var_sql(var: str) -> str:
    """Turn-table SQL for the reference's 5 scan globals (mapping in
    signatures/conditions.py)."""
    from .signatures.conditions import (
        EXTENSION_REGEX,
        TOOL_TYPE_DEFAULT,
        TOOL_TYPE_RULES,
    )

    # NULL tool/role read as '' (ext_bits.catalyst_ext_var, scan_turn)
    tool = "coalesce(tool, '')"
    if var in ("filename", "filepath"):
        return tool
    if var == "owner":
        return "coalesce(role, '')"
    if var == "extension":
        return f"regexp_extract({tool}, {_q(EXTENSION_REGEX)}, 1)"
    if var == "filetype":
        whens = []
        for op, arg, label in TOOL_TYPE_RULES:
            fn = "ends_with" if op == "endswith" else "starts_with"
            whens.append(f"WHEN {fn}({tool}, {_q(arg)}) THEN {_q(label)}")
        return "CASE " + " ".join(whens) + f" ELSE {_q(TOOL_TYPE_DEFAULT)} END"
    raise ValueError(f"unknown external var {var}")  # pragma: no cover


class _SqlCondBackend:
    """YARA condition AST -> DuckDB boolean SQL (the oracle rendering)."""

    def __init__(self, rule) -> None:
        self.ident_conds = [
            (s.identifier, _yara_string_sql(s)) for s in rule.strings
        ]
        self.str_conds = dict(self.ident_conds)
        self.strings_by_ident = {s.identifier: s for s in rule.strings}

    def str_ref(self, ident: str) -> str:
        return f"({self.str_conds[ident]})"

    def of_them(self, node) -> str:
        from .signatures.conditions import selector_matches

        conds = [
            c
            for ident, c in self.ident_conds
            if selector_matches(node.selector, ident)
        ]
        if node.n == "any":
            return "(" + " OR ".join(conds) + ")"
        if node.n == "all":
            return "(" + " AND ".join(conds) + ")"
        total = " + ".join(f"CAST({c} AS INTEGER)" for c in conds)
        return f"(({total}) >= {int(node.n)})"

    def ext_pred(self, p) -> str:
        col, v = _ext_var_sql(p.var), p.value
        if p.op == "eq":
            return f"({col} = {_q(v)})"
        if p.op == "ne":
            return f"({col} <> {_q(v)})"
        if p.op == "iequals":
            return f"(lower({col}) = {_q(v.lower())})"
        if p.op == "contains":
            return f"contains({col}, {_q(v)})"
        if p.op == "icontains":
            return f"contains(lower({col}), {_q(v.lower())})"
        if p.op == "startswith":
            return f"starts_with({col}, {_q(v)})"
        if p.op == "istartswith":
            return f"starts_with(lower({col}), {_q(v.lower())})"
        if p.op == "endswith":
            return f"ends_with({col}, {_q(v)})"
        if p.op == "iendswith":
            return f"ends_with(lower({col}), {_q(v.lower())})"
        if p.op == "matches":
            return f"regexp_matches({col}, {_q(v)})"
        raise ValueError(f"unknown ext op {p.op}")  # pragma: no cover

    def _folded(self, ident: str) -> tuple[str, str]:
        """(text SQL expression, needle) with case folded for nocase."""
        s = self.strings_by_ident[ident]
        if s.nocase:
            return "lower(text)", s.pattern.lower()
        return "text", s.pattern

    def count_cmp(self, node) -> str:
        from .signatures.conditions import _has_proper_border

        col, needle = self._folded(node.identifier)
        if _has_proper_border(needle):
            # bordered literal: count ALL (overlapping) start positions —
            # probe every character offset with a list lambda (DuckDB has
            # no lookahead in its RE2 regexes); the replace-trick below is
            # non-overlapping and would undercount
            n = len(needle)
            count = (
                f"len(list_filter(range(1, greatest(length({col})"
                f" - {n} + 2, 1)), i -> substr({col}, i::INT, {n})"
                f" = {_q(needle)}))"
            )
        else:
            # byte-length arithmetic is self-consistent here: numerator
            # and divisor are BOTH byte counts, so the quotient is the
            # occurrence count even for non-ASCII needles.
            count = (
                f"((strlen({col}) - strlen(replace({col}, {_q(needle)},"
                f" ''))) // {len(needle.encode('utf-8'))})"
            )
        return f"({count} {_SQL_CMP[node.op]} {node.value})"

    def at_expr(self, node) -> str:
        col, needle = self._folded(node.identifier)
        return (
            f"(substr({col}, {node.offset + 1}, {len(needle)})"
            f" = {_q(needle)})"
        )

    def in_expr(self, node) -> str:
        col, needle = self._folded(node.identifier)
        pos = f"position({_q(needle)} IN substr({col}, {node.lo + 1}))"
        return f"({pos} > 0 AND {pos} <= {node.hi - node.lo + 1})"

    def offset_cmp(self, node):
        from .signatures.conditions import YaraUnsupportedError

        raise YaraUnsupportedError(
            f"@{node.identifier[1:]}[{node.index}] has no SQL rendering"
        )

    def exists_from(self, node) -> str:
        col, needle = self._folded(node.identifier)
        return (
            f"(position({_q(needle)} IN substr({col}, {node.lo + 1})) > 0)"
        )

    def bool_lit(self, node) -> str:
        return "TRUE" if node.value else "FALSE"

    def size_cmp(self, node) -> str:
        # length() = CHARACTER count, the engine-wide length convention
        return f"(length(text) {_SQL_CMP[node.op]} {node.value})"

    def uint_cmp(self, node) -> str:
        eq = (
            f"(substr(text, {node.offset + 1}, {node.size})"
            f" = {_q(node.needle)})"
        )
        if node.op == "eq":
            return eq
        # length() = CHARACTER count, matching the matchers' character-
        # offset convention (utf8_length / F.length / Python len); strlen
        # would count bytes and diverge on non-ASCII text.
        return (
            f"(length(text) >= {node.offset + node.size} AND NOT {eq})"
        )

    def and_(self, items):
        return "(" + " AND ".join(items) + ")"

    def or_(self, items):
        return "(" + " OR ".join(items) + ")"

    def not_(self, x):
        return f"(NOT {x})"


_SQL_CMP = {
    "eq": "=",
    "ne": "<>",
    "gt": ">",
    "ge": ">=",
    "lt": "<",
    "le": "<=",
}


def _yara_condition(rule) -> str:
    from .signatures.conditions import render_condition

    return render_condition(rule.condition_ast, _SqlCondBackend(rule))


def _fname_reason_cases(sigs: SignatureSet) -> list[str]:
    cases: list[str] = []
    for ioc in sigs.filename_iocs:
        msg = f"File Name IOC matched PATTERN: {ioc.pattern}"
        cases.append(
            f"CASE WHEN {_fname_condition(ioc)} THEN "
            f"struct_pack(msg := {_q(msg)}, score := {ioc.score}) END"
        )
    return cases


def _hash_reason_cases(
    sigs: SignatureSet, source_kind: str = "file"
) -> list[str]:
    msg_prefix = (
        "Process Executable Hash Match HASH: "
        if source_kind == "process"
        else "HASH match with IOC HASH: "
    )
    cases: list[str] = []
    for hash_type in ("md5", "sha1", "sha256"):
        for ioc in sigs.hashes_of_type(hash_type):
            pred = _hash_predicate(hash_type, ioc.hash_value)
            if pred is None:
                continue  # unmatchable in the deterministic dataset
            msg = f"{msg_prefix}{ioc.hash_value}"
            cases.append(
                f"CASE WHEN {pred} THEN "
                f"struct_pack(msg := {_q(msg)}, score := {ioc.score}) END"
            )
    return cases


def _yara_reason_cases(sigs: SignatureSet) -> list[str]:
    cases: list[str] = []
    for rule in sigs.yara_rules:
        msg = f"YARA match with rule {rule.name}"
        cases.append(
            f"CASE WHEN {_yara_condition(rule)} THEN "
            f"struct_pack(msg := {_q(msg)}, score := {rule.score}) END"
        )
    return cases


def _c2_reason_list(sigs: SignatureSet) -> str:
    if not sigs.c2_iocs:
        return "[]"
    is_ip = f"regexp_matches(h, {_q(IPV4_PATTERN)})"
    whens = []
    for ioc in sigs.c2_iocs:
        cond = (
            f"(({is_ip}) AND h = {_q(ioc.server)}) OR "
            f"((NOT ({is_ip})) AND (ends_with(h, {_q(ioc.server)}) "
            f"OR h = {_q(ioc.server)}))"
        )
        whens.append(
            f"WHEN {cond} THEN struct_pack("
            f"msg := 'C2 IOC match in turn text HOST: ' || h, "
            f"score := {ioc.score})"
        )
    inner = "CASE " + " ".join(whens) + " ELSE NULL END"
    hosts = f"regexp_extract_all(lower(text), {_q(HOST_PATTERN)}, 0)"
    return (
        f"list_filter(list_transform({hosts}, h -> {inner}), "
        "x -> x IS NOT NULL)"
    )


def _scan_filters(sigs: SignatureSet, cfg: ScanConfig) -> tuple[str, str]:
    """(cheap_filters, fp_filter) WHERE fragments."""
    cheap = [f"(text IS NULL OR length(text) <= {cfg.max_text_chars})"]
    if cfg.exclude_patterns:
        combined = "|".join(f"(?:{p})" for p in cfg.exclude_patterns)
        cheap.append(
            f"(tool IS NULL OR NOT regexp_matches(tool, {_q(combined)}))"
        )
    fp_conds = []
    for hash_type in ("md5", "sha1", "sha256"):
        for fp in sigs.hashes_of_type(hash_type, fp=True):
            pred = _hash_predicate(hash_type, fp.hash_value)
            if pred is not None:
                fp_conds.append(f"NOT ({pred})")
    return " AND ".join(cheap), (" AND ".join(fp_conds) or "TRUE")


def scan_ctes(
    sigs: SignatureSet,
    cfg: ScanConfig = DEFAULT_CONFIG,
    rep: int = DEFAULT_REP,
    source_cte: str | None = None,
    source_table: str = "transcripts",
    prefix: str = "",
    source_kind: str = "file",
) -> str:
    """The shared WITH-chain: source -> scanned -> evaluated (reasons,
    score, level). ``evaluated`` keeps below-threshold rows (level NULL);
    ``routed`` applies the final filter. `prefix` namespaces the chain so
    two sources can be scanned in one statement (U1 union).
    `source_kind='process'` slices the hash-reason list to first-of-three
    with the process message (process_check.rs:367-397)."""
    fname_cases = ",\n      ".join(_fname_reason_cases(sigs)) or "NULL"
    hash_cases = ",\n      ".join(
        _hash_reason_cases(sigs, source_kind)
    ) or "NULL"
    yara_cases = ",\n      ".join(_yara_reason_cases(sigs)) or "NULL"
    hash_list = f"list_filter([\n      {hash_cases}\n        ], x -> x IS NOT NULL)"
    if source_kind == "process":
        hash_list = f"list_slice({hash_list}, 1, 1)"
    cheap, fp = _scan_filters(sigs, cfg)
    c2 = _c2_reason_list(sigs)
    cte = source_cte or transcripts_duckdb_cte("", rep=rep)
    p = prefix
    return f"""{cte},
{p}scanned AS (
  SELECT * FROM {source_table} WHERE {cheap}
),
{p}with_reasons AS (
  SELECT *,
    list_slice(
      list_concat(list_concat(list_concat(
        list_filter([
      {fname_cases}
        ], x -> x IS NOT NULL),
        {hash_list}),
        list_filter([
      {yara_cases}
        ], x -> x IS NOT NULL)),
        {c2}),
      1, {MAX_MATCHES}) AS reasons
  FROM {p}scanned
  WHERE {fp}
),
{p}evaluated AS (
  SELECT *, CAST(len(reasons) AS INTEGER) AS n_reasons,
    CAST(round(CASE WHEN len(pos_scores) = 0 THEN 0.0
      ELSE 100.0 * (1.0 - list_aggregate(
        list_transform(list_sort(pos_scores, 'DESC'),
          (s, i) -> 1.0 - s / 100.0 / pow(2.0, CAST(i AS DOUBLE) - 1.0)),
        'product')) END, 0) AS INTEGER) AS score
  FROM (SELECT *, list_filter(list_transform(reasons, r -> r.score),
                              s -> s > 0) AS pos_scores
        FROM {p}with_reasons)
),
{p}leveled AS (
  SELECT *, CASE WHEN score >= {cfg.alert_threshold} THEN 'ALERT'
                 WHEN score >= {cfg.warning_threshold} THEN 'WARNING'
                 WHEN score >= {cfg.notice_threshold} THEN 'NOTICE'
            END AS level
  FROM {p}evaluated
),
{p}routed AS (
  SELECT * FROM {p}leveled WHERE n_reasons > 0 AND level IS NOT NULL
)""".strip()


# ---------------------------------------------------------------- queries


def transcripts_sql(rep: int = DEFAULT_REP) -> str:
    cte = transcripts_duckdb_cte("", rep=rep)
    return (
        f"WITH {cte} SELECT conv_id, turn_idx, role, text, tool, "
        "strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_str, uid FROM transcripts"
    )


def scan_matches_sql(sigs: SignatureSet, cfg: ScanConfig, rep: int) -> str:
    return f"""WITH {scan_ctes(sigs, cfg, rep)}
SELECT conv_id, turn_idx, tool,
  md5(text) AS md5, sha256(text) AS sha256,
  score, level, n_reasons,
  reasons[1].msg AS reason1_msg, reasons[1].score AS reason1_score,
  reasons[2].msg AS reason2_msg, reasons[2].score AS reason2_score
FROM routed"""


def severity_counts_sql(sigs: SignatureSet, cfg: ScanConfig, rep: int) -> str:
    return (
        f"WITH {scan_ctes(sigs, cfg, rep)}\n"
        "SELECT level, CAST(count(*) AS BIGINT) AS n FROM routed GROUP BY level"
    )


def scan_counters_sql(sigs: SignatureSet, cfg: ScanConfig, rep: int) -> str:
    return f"""WITH {scan_ctes(sigs, cfg, rep)}
SELECT s.scanned, s.errors, r.matched, r.alerts, r.warnings, r.notices FROM
  (SELECT CAST(count(*) AS BIGINT) AS scanned,
          CAST(count(CASE WHEN text IS NULL THEN 1 END) AS BIGINT) AS errors
   FROM scanned) s,
  (SELECT CAST(count(*) AS BIGINT) AS matched,
          CAST(count(CASE WHEN level = 'ALERT' THEN 1 END) AS BIGINT) AS alerts,
          CAST(count(CASE WHEN level = 'WARNING' THEN 1 END) AS BIGINT) AS warnings,
          CAST(count(CASE WHEN level = 'NOTICE' THEN 1 END) AS BIGINT) AS notices
   FROM routed) r"""


def rule_match_counts_sql(sigs: SignatureSet, cfg: ScanConfig, rep: int) -> str:
    return f"""WITH {scan_ctes(sigs, cfg, rep)}
SELECT message, CAST(count(*) AS BIGINT) AS n FROM
  (SELECT unnest(reasons).msg AS message FROM routed)
GROUP BY message"""


def hash_ioc_hits_sql(sigs: SignatureSet, rep: int) -> str:
    cte = transcripts_duckdb_cte("", rep=rep)
    selects = []
    for hash_type in ("md5", "sha1", "sha256"):
        for ioc in sigs.hashes_of_type(hash_type):
            pred = _hash_predicate(hash_type, ioc.hash_value)
            if pred is None:
                continue
            selects.append(
                f"SELECT conv_id, turn_idx, {_q(hash_type)} AS hash_type, "
                f"{_q(ioc.hash_value)} AS hash_value, {ioc.score} AS ioc_score "
                f"FROM transcripts WHERE {pred}"
            )
    union = "\nUNION ALL\n".join(selects)
    return f"WITH {cte}\n{union}"


def filename_ioc_hits_sql(sigs: SignatureSet, rep: int) -> str:
    cte = transcripts_duckdb_cte("", rep=rep)
    selects = [
        f"SELECT conv_id, turn_idx, tool, {_q(ioc.pattern)} AS pattern, "
        f"{ioc.score} AS score FROM transcripts WHERE {_fname_condition(ioc)}"
        for ioc in sigs.filename_iocs
    ]
    union = "\nUNION ALL\n".join(selects)
    return f"WITH {cte}\n{union}"


def _yara_subset_hits_sql(
    sigs: SignatureSet, rep: int, prefixes: tuple[str, ...]
) -> str:
    cte = transcripts_duckdb_cte("", rep=rep)
    selects = [
        f"SELECT conv_id, turn_idx, tool, {_q(rule.name)} AS rule, "
        f"{rule.score} AS score FROM transcripts "
        f"WHERE {_yara_condition(rule)}"
        for rule in sigs.yara_rules
        if rule.name.startswith(prefixes)
    ]
    union = "\nUNION ALL\n".join(selects)
    return f"WITH {cte}\n{union}"


def yara_extvar_hits_sql(sigs: SignatureSet, rep: int) -> str:
    from .queries import EXTVAR_RULE_PREFIXES

    return _yara_subset_hits_sql(sigs, rep, EXTVAR_RULE_PREFIXES)


def yara_count_offset_hits_sql(sigs: SignatureSet, rep: int) -> str:
    from .queries import COUNT_OFFSET_RULE_PREFIXES

    return _yara_subset_hits_sql(sigs, rep, COUNT_OFFSET_RULE_PREFIXES)


def yara_xor_base64_hits_sql(sigs: SignatureSet, rep: int) -> str:
    from .queries import XOR_B64_RULE_PREFIXES

    return _yara_subset_hits_sql(sigs, rep, XOR_B64_RULE_PREFIXES)


def yara_filesize_hits_sql(sigs: SignatureSet, rep: int) -> str:
    from .queries import FILESIZE_RULE_PREFIXES

    return _yara_subset_hits_sql(sigs, rep, FILESIZE_RULE_PREFIXES)


def yara_for_hits_sql(sigs: SignatureSet, rep: int) -> str:
    from .queries import FOR_RULE_PREFIXES

    return _yara_subset_hits_sql(sigs, rep, FOR_RULE_PREFIXES)


def yara_r6_hits_sql(sigs: SignatureSet, rep: int) -> str:
    from .queries import R6_RULE_PREFIXES

    return _yara_subset_hits_sql(sigs, rep, R6_RULE_PREFIXES)


def c2_hits_sql(sigs: SignatureSet, rep: int) -> str:
    cte = transcripts_duckdb_cte("", rep=rep)
    c2 = _c2_reason_list(sigs)
    return f"""WITH {cte},
hits AS (SELECT conv_id, turn_idx, unnest({c2}) AS r FROM transcripts)
SELECT conv_id, turn_idx, r.msg AS message, r.score AS score FROM hits"""


def archive_child_matches_sql(
    sigs: SignatureSet, cfg: ScanConfig, rep: int
) -> str:
    from .operators.attachments import ATTACH_PATTERN

    pat = _q(ATTACH_PATTERN)
    base = transcripts_duckdb_cte("", rep=rep)
    children_cte = f"""{base},
att AS (
  SELECT conv_id, turn_idx, role, ts, uid, tool AS parent_tool,
    unnest(regexp_extract_all(text, {pat}, 1)) AS name,
    unnest(regexp_extract_all(text, {pat}, 2)) AS payload
  FROM transcripts),
children AS (
  SELECT conv_id, turn_idx, role, ts, uid,
    payload AS text, parent_tool || '->' || name AS tool
  FROM att)"""
    chain = scan_ctes(
        sigs,
        cfg,
        rep,
        source_cte=children_cte,
        source_table="children",
        prefix="ch_",
    )
    return f"""WITH {chain}
SELECT conv_id, turn_idx, tool, md5(text) AS md5, score, level, n_reasons,
  reasons[1].msg AS reason1_msg
FROM ch_routed"""


def per_conv_rollup_sql(sigs: SignatureSet, cfg: ScanConfig, rep: int) -> str:
    return f"""WITH {scan_ctes(sigs, cfg, rep)}
SELECT conv_id,
  CAST(count(*) AS BIGINT) AS n_turns,
  CAST(count(CASE WHEN level IS NOT NULL THEN 1 END) AS BIGINT) AS n_routed,
  CAST(count(CASE WHEN level = 'ALERT' THEN 1 END) AS BIGINT) AS n_alerts,
  max(score) AS max_score
FROM leveled GROUP BY conv_id"""


def conv_running_sql(sigs: SignatureSet, cfg: ScanConfig, rep: int) -> str:
    return f"""WITH {scan_ctes(sigs, cfg, rep)}
SELECT conv_id, turn_idx,
  CAST(sum(CASE WHEN level IS NOT NULL THEN 1 ELSE 0 END) OVER w AS BIGINT)
    AS cum_matches,
  max(score) OVER w AS cum_max_score
FROM leveled
WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx
             ROWS UNBOUNDED PRECEDING)"""


def exit_code_sql(sigs: SignatureSet, cfg: ScanConfig, rep: int) -> str:
    return f"""WITH {scan_ctes(sigs, cfg, rep)}
SELECT CAST(CASE WHEN count(CASE WHEN level IN ('ALERT','WARNING') THEN 1 END) > 0
  THEN 2 ELSE 0 END AS INTEGER) AS exit_code FROM routed"""


# ------------------------------------------------- training-data pipeline


def dedup_exact_sql(rep: int) -> str:
    cte = transcripts_duckdb_cte("", rep=rep)
    return f"""WITH {cte}
SELECT md5(text) AS content_md5, CAST(count(*) AS BIGINT) AS n_copies,
  min(uid) AS keeper_uid
FROM transcripts GROUP BY md5(text) HAVING count(*) > 1"""


def token_stats_sql(rep: int) -> str:
    from .queries import BPE_TOKEN_PATTERN

    cte = transcripts_duckdb_cte("", rep=rep)
    pat = BPE_TOKEN_PATTERN.replace("'", "''")
    return f"""WITH {cte}
SELECT uid, CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens,
  CAST(length(text) AS INTEGER) AS n_chars,
  CAST(len(regexp_extract_all(text, '{pat}')) AS INTEGER) AS n_bpe_tokens
FROM transcripts"""


def _stop_hits_sql() -> str:
    """Independent DuckDB rendering of queries._stop_hits: tokenize once,
    count membership in the same top-100 stopword table."""
    from .queries import _STOPWORDS

    in_list = ", ".join(_q(w) for w in _STOPWORDS)
    return (
        "CAST(len(list_filter(string_split(lower(text), ' '), "
        f"t -> t IN ({in_list}))) AS INTEGER)"
    )


def text_quality_sql(rep: int) -> str:
    cte = transcripts_duckdb_cte("", rep=rep)
    stop = _stop_hits_sql()
    return f"""WITH {cte},
t AS (SELECT uid, CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens,
         {stop} AS stop_hits FROM transcripts),
r AS (SELECT *, CAST(floor(stop_hits * 10000 / n_tokens) AS INTEGER)
         AS stop_ratio_bp FROM t)
SELECT uid, n_tokens, stop_hits,
  CAST(least(n_tokens, 100) * 70
       + CAST(floor(least(stop_ratio_bp, 10000) * 3 / 10) AS INTEGER)
    AS INTEGER) AS quality_bp
FROM r"""


def langid_sql(rep: int) -> str:
    cte = transcripts_duckdb_cte("", rep=rep)
    stop = _stop_hits_sql()
    return f"""WITH {cte},
t AS (SELECT uid, CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens,
         {stop} AS stop_hits FROM transcripts)
SELECT uid, CASE WHEN stop_hits * 1.0 / n_tokens > 0.02 THEN 'en'
  ELSE 'other' END AS lang_pred FROM t"""


def content_fingerprint_sql(rep: int) -> str:
    cte = transcripts_duckdb_cte("", rep=rep)
    return f"""WITH {cte}
SELECT uid, md5(array_to_string(list_sort(list_distinct(
  string_split(text, ' '))), ' ')) AS fingerprint
FROM transcripts"""


def pii_redact_sql(rep: int) -> str:
    from .queries import PII_EMAIL, PII_IP, PII_PHONE

    cte = transcripts_duckdb_cte("", rep=rep)
    redacted = (
        f"regexp_replace(regexp_replace(regexp_replace(text, "
        f"{_q(PII_EMAIL)}, '[EMAIL]', 'g'), "
        f"{_q(PII_IP)}, '[IP]', 'g'), "
        f"{_q(PII_PHONE)}, '[PHONE]', 'g')"
    )
    return f"""WITH {cte},
pii AS (
  SELECT uid,
    CAST(len(regexp_extract_all(text, {_q(PII_EMAIL)})) AS INT) AS n_emails,
    CAST(len(regexp_extract_all(text, {_q(PII_IP)})) AS INT) AS n_ips,
    CAST(len(regexp_extract_all(text, {_q(PII_PHONE)})) AS INT) AS n_phones,
    md5({redacted}) AS redacted_md5
  FROM transcripts)
SELECT * FROM pii WHERE n_emails + n_ips + n_phones > 0"""


def repetition_stats_sql(rep: int) -> str:
    cte = transcripts_duckdb_cte("", rep=rep)
    return f"""WITH {cte},
tok AS (SELECT uid, string_split(text, ' ') AS w FROM transcripts),
grams AS (
  SELECT uid, w,
    CASE WHEN len(w) >= 3 THEN list_transform(
      range(1, len(w) - 1),
      i -> array_to_string(list_slice(w, i, i + 2), ' '))
    ELSE [] END AS g
  FROM tok)
SELECT uid,
  CAST(len(w) AS INT) AS n_words,
  CAST(len(list_distinct(w)) AS INT) AS n_distinct_words,
  CAST(CASE WHEN len(g) > 0 THEN floor(
    (len(g) - len(list_distinct(g))) * 10000 / len(g)) ELSE 0 END AS INT)
    AS dup_3gram_bp,
  CAST(floor(list_max(list_transform(list_distinct(w),
    u -> len(list_filter(w, x -> x = u)))) * 10000 / len(w)) AS INT)
    AS top_word_bp
FROM grams"""


def ngram_jaccard_pairs_sql(rep: int, threshold: float = 0.5) -> str:
    from .queries import NGRAM_DF_CAP

    cte = transcripts_duckdb_cte("", rep=rep)
    return f"""WITH {cte},
toks AS (SELECT uid, string_split(text, ' ') AS t FROM transcripts),
shingled AS (
  SELECT uid, list_distinct(CASE WHEN len(t) >= 3 THEN
    list_transform(range(1, len(t) - 1),
                   i -> array_to_string(list_slice(t, i, i + 2), ' '))
    ELSE [] END) AS shingles
  FROM toks),
ex_all AS (SELECT uid, unnest(shingles) AS s FROM shingled),
keep AS (SELECT s FROM ex_all GROUP BY s
         HAVING count(*) <= {NGRAM_DF_CAP}),
ex AS (SELECT uid, ex_all.s AS s FROM ex_all JOIN keep ON ex_all.s = keep.s),
pairs AS (SELECT a.uid AS ua, b.uid AS ub, CAST(count(*) AS BIGINT) AS inter
          FROM ex a JOIN ex b ON a.s = b.s AND a.uid < b.uid
          GROUP BY a.uid, b.uid),
sizes AS (SELECT uid, CAST(len(shingles) AS BIGINT) AS n FROM shingled)
SELECT ua AS uid_a, ub AS uid_b,
  round(inter * 1.0 / (sa.n + sb.n - inter), 4) AS jaccard
FROM pairs JOIN sizes sa ON sa.uid = ua JOIN sizes sb ON sb.uid = ub
WHERE inter * 1.0 / (sa.n + sb.n - inter) >= {threshold}"""


def union_severity_counts_sql(
    sigs: SignatureSet, cfg: ScanConfig, rep: int
) -> str:
    """U1 module union: transcripts scan ∪ event-turns scan, per-source
    severity counts."""
    from .sources.event_turns import event_turns_duckdb_cte

    t_chain = scan_ctes(sigs, cfg, rep, prefix="t_")
    e_chain = scan_ctes(
        sigs,
        cfg,
        rep,
        source_cte=event_turns_duckdb_cte(),
        source_table="event_turns",
        prefix="e_",
        source_kind="process",
    )
    return f"""WITH {t_chain},
{e_chain}
SELECT 'transcripts' AS source, level, CAST(count(*) AS BIGINT) AS n
FROM t_routed GROUP BY level
UNION ALL
SELECT 'events' AS source, level, CAST(count(*) AS BIGINT) AS n
FROM e_routed GROUP BY level"""


MINHASH_PERMS = 12
MINHASH_BAND = 3


def minhash_lsh_pairs_sql(rep: int, threshold: float = 0.7) -> str:
    cte = transcripts_duckdb_cte("", rep=rep)
    mh_exprs = ", ".join(
        f"list_aggregate(list_transform(shingles, s -> md5(s || ';{i}')),"
        f" 'min') AS mh{i}"
        for i in range(MINHASH_PERMS)
    )
    band_selects = "\nUNION ALL\n".join(
        f"SELECT uid, shingles, {b} AS band_idx, "
        f"md5({' || '.join(f'mh{b * MINHASH_BAND + j}' for j in range(MINHASH_BAND))})"
        f" AS band_hash FROM sig"
        for b in range(MINHASH_PERMS // MINHASH_BAND)
    )
    return f"""WITH {cte},
toks AS (SELECT uid, string_split(text, ' ') AS t FROM transcripts),
shingled AS (
  SELECT uid, list_distinct(CASE WHEN len(t) >= 3 THEN
    list_transform(range(1, len(t) - 1),
                   i -> array_to_string(list_slice(t, i, i + 2), ' '))
    ELSE [] END) AS shingles
  FROM toks),
nonempty AS (SELECT * FROM shingled WHERE len(shingles) > 0),
sig AS (SELECT uid, shingles, {mh_exprs} FROM nonempty),
bands AS ({band_selects}),
pairs AS (
  SELECT DISTINCT a.uid AS uid_a, b.uid AS uid_b,
         a.shingles AS sh_a, b.shingles AS sh_b
  FROM bands a JOIN bands b
    ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
   AND a.uid < b.uid),
verified AS (
  SELECT uid_a, uid_b,
    len(list_filter(sh_a, x -> list_contains(sh_b, x))) * 1.0
      / (len(sh_a) + len(sh_b)
         - len(list_filter(sh_a, x -> list_contains(sh_b, x)))) AS jac
  FROM pairs)
SELECT uid_a, uid_b, round(jac, 4) AS jaccard
FROM verified WHERE jac >= {threshold}"""


def neardup_groups_sql(rep: int, threshold: float = 0.7) -> str:
    """Connected components over the minhash near-dup pairs via a
    recursive transitive-closure CTE (min reachable uid = canonical);
    independent rendering of the Spark label-propagation loop."""
    pairs = minhash_lsh_pairs_sql(rep, threshold)
    return f"""WITH RECURSIVE
p AS (SELECT uid_a, uid_b FROM ({pairs}) q),
edges AS (SELECT uid_a AS u, uid_b AS v FROM p
          UNION ALL SELECT uid_b, uid_a FROM p),
reach(uid, lab) AS (
  SELECT u, u FROM (SELECT DISTINCT u FROM edges) s
  UNION
  SELECT e.u, r.lab FROM edges e JOIN reach r ON r.uid = e.v),
labels AS (SELECT uid, min(lab) AS canonical_uid FROM reach GROUP BY uid),
sizes AS (SELECT canonical_uid, count(*) AS n FROM labels
          GROUP BY canonical_uid)
SELECT l.uid, l.canonical_uid, CAST(s.n AS INTEGER) AS group_size
FROM labels l JOIN sizes s USING (canonical_uid)"""


def dedup_keep_best_sql(rep: int, threshold: float = 0.7) -> str:
    """Keep-best-per-cluster: the neardup_groups closure joined to the
    quality metric, row_number window per canonical_uid (quality desc,
    uid asc) — independent rendering of the same composition."""
    groups = neardup_groups_sql(rep, threshold)
    stop = _stop_hits_sql()
    cte = transcripts_duckdb_cte("", rep=rep)
    return f"""WITH {cte},
g AS ({groups}),
tq AS (SELECT uid,
         CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens,
         {stop} AS stop_hits FROM transcripts),
q AS (SELECT uid,
  CAST(least(n_tokens, 100) * 70
    + CAST(floor(least(CAST(floor(stop_hits * 10000 / n_tokens) AS INTEGER),
                       10000) * 3 / 10) AS INTEGER) AS INTEGER)
    AS quality_bp FROM tq),
ranked AS (
  SELECT g.canonical_uid, g.uid, g.group_size, q.quality_bp,
    row_number() OVER (PARTITION BY g.canonical_uid
                       ORDER BY q.quality_bp DESC, g.uid ASC) AS rk
  FROM g JOIN q USING (uid))
SELECT canonical_uid, uid AS kept_uid, group_size,
  quality_bp AS kept_quality_bp,
  CAST(group_size - 1 AS INTEGER) AS n_dropped
FROM ranked WHERE rk = 1"""


def sample_hash_sql(rep: int) -> str:
    """Deterministic md5-bucket sample: first digest byte < 26."""
    cte = transcripts_duckdb_cte("", rep=rep)
    b = (
        "((strpos('0123456789abcdef',"
        " substr(md5(CAST(uid AS VARCHAR)), 1, 1)) - 1) * 16"
        " + (strpos('0123456789abcdef',"
        " substr(md5(CAST(uid AS VARCHAR)), 2, 1)) - 1))"
    )
    return f"""WITH {cte}
SELECT uid, conv_id, turn_idx, tool, CAST({b} AS INTEGER) AS sample_bucket
FROM transcripts WHERE {b} < 26"""


SIMHASH_BITS = 16


def simhash_groups_sql(rep: int) -> str:
    cte = transcripts_duckdb_cte("", rep=rep)
    # token 16-bit hash from 4 md5 hex nibbles
    nibbles = " + ".join(
        f"(strpos('0123456789abcdef', substr(md5(t), {i + 1}, 1)) - 1)"
        f" * {16 ** (3 - i)}"
        for i in range(4)
    )
    bit_terms = []
    for b in range(SIMHASH_BITS):
        k = SIMHASH_BITS - 1 - b
        contrib = (
            f"list_aggregate(list_transform(hs, h -> ((h >> {k}) & 1) * 2 - 1),"
            f" 'sum')"
        )
        bit_terms.append(
            f"(CASE WHEN {contrib} > 0 THEN 1 ELSE 0 END) * {2 ** k}"
        )
    simhash = " + ".join(bit_terms)
    return f"""WITH {cte},
hashed AS (
  SELECT uid, list_transform(list_distinct(string_split(text, ' ')),
                             t -> {nibbles}) AS hs
  FROM transcripts),
sh AS (SELECT uid, CAST({simhash} AS INTEGER) AS simhash FROM hashed)
SELECT simhash, CAST(count(*) AS BIGINT) AS n_docs, min(uid) AS min_uid
FROM sh GROUP BY simhash HAVING count(*) > 1"""


def simhash_pairs_sql(rep: int) -> str:
    from .queries import (
        SIMHASH64_BAND_BITS,
        SIMHASH64_BANDS,
        SIMHASH64_HAMMING_MAX,
    )

    cte = transcripts_duckdb_cte("", rep=rep)

    def band_hash_expr(band: int) -> str:
        nibbles = " + ".join(
            f"(strpos('0123456789abcdef', substr(md5(t), {4 * band + i + 1}, 1)) - 1)"
            f" * {16 ** (3 - i)}"
            for i in range(4)
        )
        return nibbles

    band_cols = []
    for band in range(SIMHASH64_BANDS):
        bit_terms = []
        for b in range(SIMHASH64_BAND_BITS):
            k = SIMHASH64_BAND_BITS - 1 - b
            contrib = (
                f"list_aggregate(list_transform(hs{band},"
                f" h -> ((h >> {k}) & 1) * 2 - 1), 'sum')"
            )
            bit_terms.append(
                f"(CASE WHEN {contrib} > 0 THEN 1 ELSE 0 END) * {2 ** k}"
            )
        band_cols.append(
            "CAST(" + " + ".join(bit_terms) + f" AS BIGINT) AS b{band}"
        )

    hashed_cols = ", ".join(
        f"list_transform(list_distinct(string_split(text, ' ')),"
        f" t -> {band_hash_expr(band)}) AS hs{band}"
        for band in range(SIMHASH64_BANDS)
    )
    band_selects = "\nUNION ALL\n".join(
        f"SELECT uid, {', '.join(f'b{j}' for j in range(SIMHASH64_BANDS))}, "
        f"{i} AS band_idx, b{i} AS band_val FROM sh"
        for i in range(SIMHASH64_BANDS)
    )
    hamming = " + ".join(
        f"bit_count(xor(a.b{i}, b.b{i}))" for i in range(SIMHASH64_BANDS)
    )
    return f"""WITH {cte},
hashed AS (SELECT uid, {hashed_cols} FROM transcripts),
sh AS (SELECT uid, {', '.join(band_cols)} FROM hashed),
bands AS ({band_selects}),
cand AS (
  SELECT DISTINCT a.uid AS uid_a, b.uid AS uid_b,
         CAST({hamming} AS INTEGER) AS hamming
  FROM bands a JOIN bands b
    ON a.band_idx = b.band_idx AND a.band_val = b.band_val
   AND a.uid < b.uid)
SELECT uid_a, uid_b, hamming FROM cand
WHERE hamming <= {SIMHASH64_HAMMING_MAX}"""


def _ann_bucket_expr() -> tuple[str, int]:
    """(bucket SQL over column `d`, n_planes)."""
    from .queries import _ann_planes

    planes = _ann_planes()
    plane_lits = [
        "[" + ", ".join(repr(p) for p in plane) + "]" for plane in planes
    ]
    bucket_terms = []
    for i, lit in enumerate(plane_lits):
        shift = len(planes) - 1 - i
        bucket_terms.append(
            f"(CASE WHEN list_dot_product(d, {lit}) > 0 THEN 1 ELSE 0 END)"
            f" * {2 ** shift}"
        )
    return " + ".join(bucket_terms), len(planes)


def _ann_base_ctes() -> str:
    bucket, n_planes = _ann_bucket_expr()
    probe_list = ", ".join(
        ["bucket"] + [f"xor(bucket, {1 << i})" for i in range(n_planes)]
    )
    return f"""e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS d
  FROM embeddings),
base AS (
  SELECT vec_id, d,
    sqrt(list_aggregate(list_transform(d, x -> x * x), 'sum')) AS nrm,
    CAST({bucket} AS INTEGER) AS bucket
  FROM e),
probes AS (
  SELECT vec_id, d, nrm, unnest([{probe_list}]) AS probe_bucket FROM base)"""


def ann_knn_join_sql(k: int = 3) -> str:
    return f"""WITH {_ann_base_ctes()},
cand AS (
  SELECT a.vec_id AS vec_id, b.vec_id AS neighbor_id,
    list_dot_product(a.d, b.d) / (a.nrm * b.nrm) AS cos_raw
  FROM probes a JOIN base b
    ON a.probe_bucket = b.bucket AND a.vec_id <> b.vec_id),
ranked AS (
  SELECT *, CAST(row_number() OVER
    (PARTITION BY vec_id ORDER BY cos_raw DESC, neighbor_id) AS INTEGER)
    AS rank
  FROM cand)
SELECT vec_id, neighbor_id, rank, round(cos_raw, 4) AS cos_sim
FROM ranked WHERE rank <= {k}"""


def embedding_lsh_pairs_sql(threshold: float = 0.45) -> str:
    return f"""WITH {_ann_base_ctes()}
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
  round(list_dot_product(a.d, b.d) / (a.nrm * b.nrm), 4) AS cos_sim
FROM probes a JOIN base b
  ON a.probe_bucket = b.bucket AND a.vec_id < b.vec_id
WHERE list_dot_product(a.d, b.d) / (a.nrm * b.nrm) >= {threshold}"""


def ann_lsh_topk_sql(k: int = 10) -> str:
    from .queries import _ann_planes

    bucket, _ = _ann_bucket_expr()
    q_bucket = 0
    for plane in _ann_planes():
        q_bucket = q_bucket * 2 + (1 if sum(plane) > 0 else 0)
    return f"""WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS d
  FROM embeddings),
b AS (
  SELECT vec_id, CAST({bucket} AS INTEGER) AS bucket,
    list_aggregate(d, 'sum')
      / (sqrt(list_aggregate(list_transform(d, x -> x * x), 'sum')) * 8.0)
      AS cos_raw
  FROM e)
SELECT vec_id, round(cos_raw, 4) AS cos_sim
FROM b WHERE bucket = {q_bucket}
ORDER BY cos_raw DESC, vec_id LIMIT {k}"""


def embedding_cosine_pairs_sql(threshold: float = 0.45) -> str:
    return f"""WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS d
  FROM embeddings),
n AS (
  SELECT vec_id, d,
    sqrt(list_aggregate(list_transform(d, x -> x * x), 'sum')) AS nrm
  FROM e)
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
  round(list_dot_product(a.d, b.d) / (a.nrm * b.nrm), 4) AS cos_sim
FROM n a JOIN n b ON a.vec_id < b.vec_id
WHERE list_dot_product(a.d, b.d) / (a.nrm * b.nrm) >= {threshold}"""


def tool_type_counts_sql(rep: int) -> str:
    cte = transcripts_duckdb_cte("", rep=rep)
    return f"""WITH {cte}
SELECT CASE WHEN ends_with(tool, '.exe') THEN 'EXECUTABLE'
            WHEN ends_with(tool, '.bin') THEN 'BINARY'
            WHEN starts_with(tool, 'debug-') THEN 'DEBUG'
            WHEN starts_with(tool, 'tool-') THEN 'GENERIC'
            ELSE 'OTHER' END AS tool_type,
  CAST(count(*) AS BIGINT) AS n
FROM transcripts GROUP BY 1"""


def media_features_sql(limit: int = 64) -> str:
    """Independent SQL rendering of the fake featurizer: 8 little-endian
    uint32 words of sha256(utf-8 text bytes), from hex nibbles. Emitted as
    scalar columns f0..f7 (not an array) so the check harness can sort and
    hash every column."""

    def nib(p: int) -> str:
        return f"(strpos('0123456789abcdef', substr(h, {p}, 1)) - 1)"

    words = []
    for i in range(8):
        byte_terms = []
        for j in range(4):
            k = 4 * i + j  # byte index in the digest
            byte_expr = f"({nib(2 * k + 1)} * 16 + {nib(2 * k + 2)})"
            byte_terms.append(f"CAST({byte_expr} AS BIGINT) * {256 ** j}")
        words.append("(" + " + ".join(byte_terms) + f") AS f{i}")
    feature = ", ".join(words)
    return f"""WITH m AS (
  SELECT doc_id AS media_id,
    CASE WHEN doc_id % 2 = 0 THEN 'image' ELSE 'audio' END AS kind,
    CAST(strlen(text) AS INTEGER) AS n_bytes,
    sha256(text) AS h
  FROM documents WHERE doc_id < {limit})
SELECT media_id, kind, n_bytes, {feature} FROM m"""


def media_frames_sql(
    limit: int = 64,
    frame_size: int = 32,
    stride: int = 64,
    max_frames: int = 4,
) -> str:
    """Independent SQL rendering of the frame sampler: lateral
    generate_series over frame indices, substr slicing, sha256 digest.
    This oracle is only byte-faithful for ASCII text (character-based
    substr vs Spark's byte slicing), so the assumption is ENFORCED in the
    SQL: any document where character length != byte length (strlen) raises via error()
    instead of silently diverging from the Spark side."""
    return f"""WITH m AS (
  SELECT doc_id AS media_id,
    CASE WHEN doc_id % 2 = 0 THEN 'image' ELSE 'audio' END AS kind,
    CASE WHEN length(text) = strlen(text) THEN text
         ELSE error('media_frames oracle requires ASCII documents: doc_id '
                    || doc_id) END AS text
  FROM documents WHERE doc_id < {limit})
SELECT media_id, kind,
  CAST(frame_idx AS INTEGER) AS frame_idx,
  CAST(frame_idx * {stride} AS INTEGER) AS frame_off,
  CAST(least({frame_size}, strlen(text) - frame_idx * {stride}) AS INTEGER)
    AS frame_len,
  sha256(substr(text, CAST(frame_idx * {stride} + 1 AS INTEGER),
                {frame_size})) AS frame_sha
FROM m, generate_series(0, {max_frames - 1}) AS gs(frame_idx)
WHERE frame_idx * {stride} < strlen(text)"""


def media_resize_sql(
    limit: int = 64, src_w: int = 16, src_h: int = 16, factor: int = 2
) -> str:
    """Independent SQL rendering of the block-average resize: the padded
    text is indexed per output pixel with ord(substr(...)), the factor^2
    block is floor-div averaged, and the resized blob is rebuilt with an
    ordered string_agg(chr(v)) before hashing. Pooled values stay in the
    ASCII range (inputs are printable ASCII + 0x20 pad), so chr() rebuilds
    the exact bytes Spark's numpy path emits. The ASCII assumption is
    ENFORCED below (error() on character length != strlen byte length) so a non-ASCII
    fixture fails loudly instead of producing a mismatched digest."""
    npix = src_w * src_h
    out_w, out_h = src_w // factor, src_h // factor
    terms = " + ".join(
        f"ord(substr(g, (r * {factor} + {dr}) * {src_w} + "
        f"c * {factor} + {dc} + 1, 1))"
        for dr in range(factor)
        for dc in range(factor)
    )
    return f"""WITH m AS (
  SELECT doc_id AS media_id,
    CASE WHEN doc_id % 2 = 0 THEN 'image' ELSE 'audio' END AS kind,
    rpad(substr(CASE WHEN length(text) = strlen(text) THEN text
                     ELSE error('media_resize oracle requires ASCII '
                                || 'documents: doc_id ' || doc_id) END,
                1, {npix}), {npix}, ' ') AS g
  FROM documents WHERE doc_id < {limit}),
px AS (
  SELECT media_id, kind, r, c, ({terms}) // {factor * factor} AS v
  FROM m, generate_series(0, {out_h - 1}) AS gr(r),
       generate_series(0, {out_w - 1}) AS gc(c))
SELECT media_id, kind, {out_w} AS out_w, {out_h} AS out_h,
  sha256(string_agg(chr(v), '' ORDER BY r, c)) AS resized_sha
FROM px GROUP BY media_id, kind"""


def media_decode_sql(limit: int = 64) -> str:
    """Independent rendering of the real-container decode stats: the blob
    construction is deterministic from documents.text (BMP pixel array =
    text bytes cycled to 768; WAV samples = first <=256 text bytes), so
    the oracle computes the payload stats DIRECTLY from the text and
    never builds a container — a Spark-side parse bug (wrong data
    offset, padding leak, sample misalignment) cannot cancel out.
    Container-constant fields (16x16x24, 8000 Hz mono 8-bit) are
    literals here; the header PARSING itself is pinned by
    tests/test_media_decode.py against hand-built containers. ASCII is
    enforced (ord == byte value only then)."""
    guard = (
        "CASE WHEN length(text) = strlen(text) THEN text "
        "ELSE error('media_decode oracle requires ASCII documents: '"
        " || doc_id) END"
    )
    return f"""WITH m AS (
  SELECT doc_id AS media_id, {guard} AS text
  FROM documents WHERE doc_id < {limit}),
bmp_px AS (
  SELECT media_id,
    ord(substr(text, CAST((g.i - 1) % length(text) + 1 AS INTEGER), 1)) AS v
  FROM m, generate_series(1, 768) AS g(i)
  WHERE media_id % 2 = 0),
bmp AS (
  SELECT media_id, 'bmp' AS format, 16 AS dim_a, 16 AS dim_b, 24 AS bits,
    768 AS n_units, CAST(sum(v) AS BIGINT) AS unit_sum,
    CAST(min(v) AS INTEGER) AS unit_min, CAST(max(v) AS INTEGER) AS unit_max
  FROM bmp_px GROUP BY media_id),
wav_px AS (
  SELECT media_id, ord(substr(text, CAST(g.i AS INTEGER), 1)) AS v
  FROM m, generate_series(1, 256) AS g(i)
  WHERE media_id % 2 = 1 AND g.i <= length(text)),
wav AS (
  SELECT media_id, 'wav' AS format, 8000 AS dim_a, 1 AS dim_b, 8 AS bits,
    CAST(count(*) AS INTEGER) AS n_units, CAST(sum(v) AS BIGINT) AS unit_sum,
    CAST(min(v) AS INTEGER) AS unit_min, CAST(max(v) AS INTEGER) AS unit_max
  FROM wav_px GROUP BY media_id)
SELECT * FROM bmp UNION ALL SELECT * FROM wav"""


def events_parsed_sql() -> str:
    return """SELECT event_id, user_id, event_type,
  CAST(json_extract_string(props, '$.k') AS INTEGER) AS k,
  round(value, 2) AS value_r
FROM events"""


def events_hourly_sql() -> str:
    return """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S')
    AS hour,
  event_type, CAST(count(*) AS BIGINT) AS n,
  round(sum(value), 2) AS sum_value
FROM events GROUP BY 1, 2"""


def events_sessions_sql(gap_sec: int = 1800) -> str:
    return f"""WITH flagged AS (
  SELECT *, CASE WHEN lag(ts) OVER w IS NULL
      OR date_diff('second', lag(ts) OVER w, ts) > {gap_sec}
    THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
sessions AS (
  SELECT *, CAST(sum(new_session) OVER
    (PARTITION BY user_id ORDER BY ts, event_id
     ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_idx
  FROM flagged)
SELECT user_id, session_idx, CAST(count(*) AS BIGINT) AS n_events,
  CAST(date_diff('second', min(ts), max(ts)) AS BIGINT) AS duration_sec
FROM sessions GROUP BY user_id, session_idx"""


def ann_ivf_topk_sql(k: int = 10) -> str:
    """IVF ANN oracle: K seed centroids (lowest vec_ids), L2 argmin
    assignment (ties -> smaller centroid id), nprobe nearest lists for
    the all-ones probe, exact cosine top-k on candidates. Expression
    shapes mirror the Spark side exactly (dist2 = nrm2 - 2*dot + c2 with
    left-fold sums) so the unrounded argmin/ordering compare equal."""
    from .queries import IVF_K, IVF_NPROBE

    return f"""WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS d
  FROM embeddings),
n AS (
  SELECT vec_id, d,
    list_aggregate(list_transform(d, x -> x * x), 'sum') AS nrm2
  FROM e),
cent AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, d AS c,
    list_aggregate(list_transform(d, x -> x * x), 'sum') AS c2
  FROM e ORDER BY vec_id LIMIT {IVF_K}),
assign AS (
  SELECT n.vec_id, n.d, n.nrm2, c.cid,
    n.nrm2 - 2 * list_dot_product(n.d, c.c) + c.c2 AS dist2
  FROM n CROSS JOIN cent c),
best AS (
  SELECT vec_id, d, nrm2, cid,
    row_number() OVER (PARTITION BY vec_id ORDER BY dist2, cid) AS rn
  FROM assign),
lists AS (SELECT vec_id, d, nrm2, cid AS list_id FROM best WHERE rn = 1),
qprobe AS (
  SELECT cid FROM (
    SELECT cid, row_number() OVER
      (ORDER BY c2 - 2 * list_aggregate(c, 'sum'), cid) AS rn
    FROM cent) r
  WHERE rn <= {IVF_NPROBE})
SELECT vec_id, CAST(list_id AS INTEGER) AS list_id,
  round(list_aggregate(d, 'sum') / (sqrt(nrm2) * 8.0), 4) AS cos_sim
FROM lists WHERE list_id IN (SELECT cid FROM qprobe)
ORDER BY list_aggregate(d, 'sum') / (sqrt(nrm2) * 8.0) DESC, vec_id
LIMIT {k}"""


def ann_cosine_topk_sql(k: int = 10) -> str:
    return f"""WITH e AS (
  SELECT vec_id,
    list_aggregate(list_transform(embedding, x -> CAST(x AS DOUBLE)), 'sum')
      AS dot,
    list_aggregate(list_transform(embedding,
      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum') AS nrm
  FROM embeddings)
SELECT vec_id, round(dot / (sqrt(nrm) * 8.0), 4) AS cos_sim
FROM e ORDER BY dot / (sqrt(nrm) * 8.0) DESC, vec_id LIMIT {k}"""
