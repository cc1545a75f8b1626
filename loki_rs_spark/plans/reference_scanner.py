"""A tiny row-at-a-time pure-Python scanner mirroring the reference's
per-row pipeline EXACTLY (src/modules/filesystem_scan.rs:791-979). This is
the test oracle for routed-row equality (SURVEY.md §5c): it shares NOTHING
with the Spark plan except the parsed SignatureSet, so agreement between the
two is meaningful.
"""

from __future__ import annotations

import hashlib
import re
from dataclasses import dataclass, field

from ..config import DEFAULT_CONFIG, MAX_MATCHES, ScanConfig
from ..functions.score import round_half_away, weighted_score
from ..operators.ioc_join import HOST_PATTERN
from ..operators.matcher import format_matched_data
from ..signatures.conditions import (
    TOOL_TYPE_DEFAULT,
    TOOL_TYPE_RULES,
    ExtPred,
    fold_case,
    render_condition,
)
from ..signatures.model import SignatureSet, YaraString


@dataclass
class Reason:
    message: str
    score: int
    description: str | None = None
    author: str | None = None
    reference: str | None = None
    matched_strings: list[str] | None = None


@dataclass
class RoutedRow:
    conv_id: str
    turn_idx: int
    level: str
    score: int
    md5: str
    sha1: str
    sha256: str
    n_reasons: int
    reasons: list[Reason] = field(default_factory=list)


def _is_ipv4(addr: str) -> bool:
    parts = addr.split(".")
    if len(parts) != 4:
        return False
    try:
        # leading-zero octets are NOT IPs (Rust Ipv4Addr::from_str rejects
        # them; IPV4_PATTERN and the DuckDB oracle agree)
        return all(
            0 <= int(p) <= 255 and (p == "0" or not p.startswith("0"))
            for p in parts
        )
    except ValueError:
        return False


_HOST_RE = re.compile(HOST_PATTERN)

_ALNUM = set("0123456789ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz")


def _literal_occurrences(
    text: str, needle: str, nocase: bool, fullword: bool
) -> list[tuple[int, str]]:
    """All occurrences of a literal INCLUDING overlapping ones (+1-step
    find walk — yara-x's Aho-Corasick reports every position), left to
    right — deliberately regex-free (str.find walk + direct neighbor
    inspection for fullword), so agreement with the Spark matcher's
    rendering is a meaningful cross-check."""
    hay = fold_case(text) if nocase else text
    pin = fold_case(needle) if nocase else needle
    out: list[tuple[int, str]] = []
    pos = 0
    while True:
        i = hay.find(pin, pos)
        if i < 0:
            return out
        if fullword:
            before_ok = i == 0 or text[i - 1] not in _ALNUM
            after = i + len(needle)
            after_ok = after >= len(text) or text[after] not in _ALNUM
            if not (before_ok and after_ok):
                pos = i + 1
                continue
        out.append((i, text[i : i + len(needle)]))
        pos = i + 1


_HEX_TOK = re.compile(
    r"([0-9A-Fa-f]{2})|(\?\?)|\[(\d+)(?:-(\d+))?\]|([(|)])|\s+"
)


def _hex_regex_own(body: str) -> str:
    """Independent hex-string -> regex conversion for the oracle side
    (stack-based alternation handling, deliberately different in style
    from compile.hex_to_regex's recursive parser)."""
    stack: list[list[list[str]]] = [[[]]]  # groups -> alternatives -> parts
    pos = 0
    while pos < len(body):
        m = _HEX_TOK.match(body, pos)
        if m is None:
            raise ValueError(f"bad hex string {body!r}")
        pos = m.end()
        byte, wild, lo, hi, punct = m.groups()
        if punct == "(":
            stack.append([[]])
        elif punct == "|":
            stack[-1].append([])
        elif punct == ")":
            group = stack.pop()
            rendered = "(?:" + "|".join("".join(a) for a in group) + ")"
            stack[-1][-1].append(rendered)
        elif byte is not None:
            stack[-1][-1].append(re.escape(chr(int(byte, 16))))
        elif wild is not None:
            stack[-1][-1].append(".")
        elif lo is not None:
            stack[-1][-1].append(f".{{{lo},{hi}}}" if hi else f".{{{lo}}}")
    if len(stack) != 1 or len(stack[0]) != 1:
        raise ValueError(f"unbalanced hex alternation {body!r}")
    return "".join(stack[0][0])


def _string_occurrences(s: YaraString, text: str) -> list[tuple[int, str]]:
    """(offset, matched_data) list for one YARA string, modifier-aware.
    Deliberately an OWN rendering (per-variant literal walks, not the
    compile.py regex alternation) so the two implementations cross-check
    each other."""
    if s.is_hex:
        rx = re.compile(_hex_regex_own(s.pattern), re.DOTALL)
        return [(m.start(), m.group(0)) for m in rx.finditer(text)]
    if s.xor_min is not None:
        hits: list[tuple[int, str]] = []
        for key in range(s.xor_min, s.xor_max + 1):
            xored = [ord(c) ^ key for c in s.pattern]
            if any(b >= 0x80 for b in xored):
                continue  # unmatchable in the text column model
            variant = "".join(chr(b) for b in xored)
            hits.extend(_literal_occurrences(text, variant, False, False))
        hits.sort(key=lambda h: h[0])
        return hits
    if s.base64_mod or s.base64wide:
        import base64 as _b64

        data = s.pattern.encode("ascii")
        hits = []
        for k, lead in ((0, 0), (1, 2), (2, 3)):
            enc = (
                _b64.b64encode(b"\x00" * k + data).decode().rstrip("=")
            )[lead:]
            if not enc:
                continue
            if s.base64_mod:
                hits.extend(_literal_occurrences(text, enc, False, False))
            if s.base64wide:
                wide = "".join(c + "\x00" for c in enc)
                hits.extend(_literal_occurrences(text, wide, False, False))
        hits.sort(key=lambda h: h[0])
        return hits
    if s.is_regex:
        body = s.pattern
        if s.fullword:  # word-boundary wrap, own rendering (lookarounds)
            body = f"(?<![0-9A-Za-z])(?:{body})(?![0-9A-Za-z])"
        rx = re.compile(body, re.IGNORECASE if s.nocase else 0)
        # lookbehind transpile: pattern carries the literal prefix, so
        # the reported match shifts forward past it (yara reports the
        # lookbehind match without the prefix)
        k = s.report_shift
        return [
            (m.start() + k, m.group(0)[k:]) for m in rx.finditer(text)
        ]
    hits: list[tuple[int, str]] = []
    if s.ascii_form:
        hits.extend(
            _literal_occurrences(text, s.pattern, s.nocase, s.fullword)
        )
    if s.wide:
        wide = "".join(c + "\x00" for c in s.pattern)
        hits.extend(_literal_occurrences(text, wide, s.nocase, s.fullword))
    hits.sort(key=lambda h: h[0])
    return hits


def _ext_vars(tool: str, role: str) -> dict[str, str]:
    """Per-row values of the reference's 5 scan globals (turn mapping in
    signatures/conditions.py), computed independently of the Spark plan."""
    dot = tool.rfind(".")
    ext = tool[dot + 1 :] if dot >= 0 else ""
    if not ext or any(c in "./\\" for c in ext):
        ext = ""
    filetype = TOOL_TYPE_DEFAULT
    for op, arg, label in TOOL_TYPE_RULES:
        hit = tool.endswith(arg) if op == "endswith" else tool.startswith(arg)
        if hit:
            filetype = label
            break
    return {
        "filename": tool,
        "filepath": tool,
        "extension": ext,
        "filetype": filetype,
        "owner": role,
    }


class _RowBackend:
    """Condition AST -> plain Python booleans for one row. Count/at/in/
    offset operators evaluate with plain str ops on the row text (the
    plain-literal subset validate_condition_ops guarantees), independent
    of every other backend's kernels."""

    def __init__(
        self,
        ident_fired: list[tuple[str, bool]],
        ext: dict,
        text: str = "",
        strings_by_ident: dict | None = None,
    ) -> None:
        self.ident_fired = ident_fired
        self.fired = dict(ident_fired)
        self.ext = ext
        self.text = text
        self.strings_by_ident = strings_by_ident or {}

    def _folded(self, ident: str) -> tuple[str, str]:
        s = self.strings_by_ident[ident]
        if s.nocase:
            return fold_case(self.text), fold_case(s.pattern)
        return self.text, s.pattern

    def count_cmp(self, node) -> bool:
        from ..signatures.conditions import cmp_int, overlap_count

        text, needle = self._folded(node.identifier)
        return cmp_int(node.op, overlap_count(text, needle), node.value)

    def at_expr(self, node) -> bool:
        text, needle = self._folded(node.identifier)
        return text.startswith(needle, node.offset)

    def in_expr(self, node) -> bool:
        text, needle = self._folded(node.identifier)
        pos = text.find(needle, node.lo)
        return 0 <= pos <= node.hi

    def offset_cmp(self, node) -> bool:
        from ..signatures.conditions import cmp_int

        text, needle = self._folded(node.identifier)
        pos, found, start = -1, 0, 0
        while found < node.index:
            pos = text.find(needle, start)
            if pos < 0:
                return False
            start = pos + 1  # +1: enumerate OVERLAPPING occurrences
            found += 1
        return cmp_int(node.op, pos, node.value)

    def uint_cmp(self, node) -> bool:
        window = self.text[node.offset : node.offset + node.size]
        if len(window) < node.size:
            return False  # out-of-bounds read: yara undefined -> False
        return (window == node.needle) == (node.op == "eq")

    def exists_from(self, node) -> bool:
        hay, needle = self._folded(node.identifier)
        return hay.find(needle, node.lo) != -1

    def bool_lit(self, node) -> bool:
        return node.value

    def size_cmp(self, node) -> bool:
        from ..signatures.conditions import cmp_int

        return cmp_int(node.op, len(self.text), node.value)

    def str_ref(self, ident: str) -> bool:
        return self.fired[ident]

    def of_them(self, node) -> bool:
        from ..signatures.conditions import selector_matches

        selected = [
            hit
            for ident, hit in self.ident_fired
            if selector_matches(node.selector, ident)
        ]
        needed = (
            1
            if node.n == "any"
            else len(selected)
            if node.n == "all"
            else int(node.n)
        )
        return sum(selected) >= needed

    def ext_pred(self, p: ExtPred) -> bool:
        col, v = self.ext[p.var], p.value
        if p.op == "eq":
            return col == v
        if p.op == "ne":
            return col != v
        if p.op == "iequals":
            return col.lower() == v.lower()
        if p.op == "contains":
            return v in col
        if p.op == "icontains":
            return v.lower() in col.lower()
        if p.op == "startswith":
            return col.startswith(v)
        if p.op == "istartswith":
            return col.lower().startswith(v.lower())
        if p.op == "endswith":
            return col.endswith(v)
        if p.op == "iendswith":
            return col.lower().endswith(v.lower())
        if p.op == "matches":
            return re.search(p.value, col) is not None
        raise ValueError(f"unknown ext op {p.op}")  # pragma: no cover

    def and_(self, items):
        return all(items)

    def or_(self, items):
        return any(items)

    def not_(self, x):
        return not x


def scan_turn(
    conv_id: str,
    turn_idx: int,
    text: str,
    tool: str | None,
    sigs: SignatureSet,
    cfg: ScanConfig = DEFAULT_CONFIG,
    role: str | None = "user",
    source_kind: str = "file",
) -> RoutedRow | None:
    """Returns the routed row, or None if the turn is excluded / FP /
    unmatched / below the notice threshold. `source_kind='process'`
    applies the reference's process-scan hash semantics: first matching
    hash type only, message "Process Executable Hash Match HASH: {h}"
    (src/modules/process_check.rs:367-397). A None `tool` matches no
    exclusion and no filename IOC, and external variables read it as ''."""
    for pattern in cfg.exclude_patterns:
        if tool is not None and re.search(pattern, tool):
            return None
    if text is None:
        return None  # corrupt record: counted as error, matches nothing
    if len(text) > cfg.max_text_chars:
        return None

    reasons: list[Reason] = []

    def push(reason: Reason) -> None:
        if len(reasons) < MAX_MATCHES:
            reasons.append(reason)

    # 1. filename IOCs (path_display and filename are both `tool` here)
    for ioc in sigs.filename_iocs:
        if tool is not None and re.search(ioc.pattern, tool):
            if ioc.fp_pattern and re.search(ioc.fp_pattern, tool):
                continue
            push(
                Reason(
                    f"File Name IOC matched PATTERN: {ioc.pattern}",
                    ioc.score,
                    ioc.description,
                )
            )

    # 2. hashes + FP short-circuit + hash IOCs
    raw = text.encode("utf-8")
    digests = {
        "md5": hashlib.md5(raw).hexdigest(),
        "sha1": hashlib.sha1(raw).hexdigest(),
        "sha256": hashlib.sha256(raw).hexdigest(),
    }
    fp_values = {h.hash_value for h in sigs.fp_hashes}
    if any(d in fp_values for d in digests.values()):
        return None
    hash_msg = (
        "Process Executable Hash Match HASH: "
        if source_kind == "process"
        else "HASH match with IOC HASH: "
    )
    hash_pushed = False
    for hash_type in ("md5", "sha1", "sha256"):
        if hash_pushed and source_kind == "process":
            break  # process scan: first-of-three only
        for ioc in sigs.hashes_of_type(hash_type):
            if ioc.hash_value == digests[hash_type]:
                push(
                    Reason(
                        f"{hash_msg}{ioc.hash_value}",
                        ioc.score,
                        ioc.description,
                    )
                )
                hash_pushed = True
                break  # at most one match per hash type

    # 3. YARA subset, rules in definition order; condition AST evaluated
    # per row with external variables (filename/.../owner)
    ext = _ext_vars(tool or "", role or "")
    for rule in sigs.yara_rules:
        per_string: list[tuple[str, list[tuple[int, str]]]] = []
        ident_fired: list[tuple[str, bool]] = []
        for s in rule.strings:
            occurrences = _string_occurrences(s, text)
            ident_fired.append((s.identifier, bool(occurrences)))
            if not s.private:  # private strings feed the condition but
                per_string.append((s.identifier, occurrences))  # not output
        backend = _RowBackend(
            ident_fired,
            ext,
            text=text,
            strings_by_ident={s.identifier: s for s in rule.strings},
        )
        if render_condition(rule.condition_ast, backend):
            matched_strings = [
                f"{ident}: {format_matched_data(data)} @ {start}"
                for ident, occurrences in per_string
                for start, data in occurrences
            ]
            push(
                Reason(
                    f"YARA match with rule {rule.name}",
                    rule.score,
                    rule.description or None,
                    rule.author or None,
                    rule.reference or None,
                    matched_strings or None,
                )
            )

    # 4. C2 IOCs over extracted hosts, first matching IOC per host
    for host in _HOST_RE.findall(text.lower()):
        for ioc in sigs.c2_iocs:
            if _is_ipv4(host):
                hit = host == ioc.server
            else:
                hit = host.endswith(ioc.server) or host == ioc.server
            if hit:
                push(
                    Reason(
                        f"C2 IOC match in turn text HOST: {host}",
                        ioc.score,
                        ioc.description,
                    )
                )
                break

    if not reasons:
        return None

    total = round_half_away(weighted_score([r.score for r in reasons]))
    if total >= cfg.alert_threshold:
        level = "ALERT"
    elif total >= cfg.warning_threshold:
        level = "WARNING"
    elif total >= cfg.notice_threshold:
        level = "NOTICE"
    else:
        return None

    return RoutedRow(
        conv_id=conv_id,
        turn_idx=turn_idx,
        level=level,
        score=total,
        md5=digests["md5"],
        sha1=digests["sha1"],
        sha256=digests["sha256"],
        n_reasons=len(reasons),
        reasons=reasons[: cfg.max_reasons],
    )
