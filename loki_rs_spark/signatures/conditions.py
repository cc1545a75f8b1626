"""YARA condition expressions with external variables.

The reference compiles full yara-x and defines 5 external globals —
``filename, filepath, extension, filetype, owner`` — available in rule
conditions (src/main.rs:857-871 defines them at compile time,
src/modules/filesystem_scan.rs:1017-1032 sets them per row). This module
parses the declarative condition subset into a tiny AST and provides ONE
generic renderer that four independent evaluation backends plug into:

* numpy/pyarrow masks  (operators/matcher.py, operators/arrow_matcher.py)
* Catalyst Columns      (plans/pipeline.py, 'catalyst' matcher)
* DuckDB SQL strings    (oracle.py)
* per-row Python        (plans/reference_scanner.py)

Turn-table analogs of the reference's per-file globals (the transcript
data model has no filesystem):

    filename  -> tool            (the turn's tool plays the filename role,
                                  exactly as in the J3 filename-IOC join)
    filepath  -> tool            (reference passes the display path; for
                                  turns path and name are the same field)
    extension -> extension of tool, WITHOUT the dot (reference passes
                 Path::extension(), e.g. "exe" — filesystem_scan.rs:688-696)
    filetype  -> coarse tool classification (EXECUTABLE/BINARY/DEBUG/
                 GENERIC/OTHER), the analog of the reference's uppercased
                 magic-format name (filesystem_scan.rs:737)
    owner     -> role            (the reference sets owner="" at scan time;
                 the turn's role is the natural ownership analog)

Grammar (a strict subset of yara-x conditions; anything outside it raises
YaraUnsupportedError at parse time rather than silently misfiring):

    expr     := and_expr ('or' and_expr)*
    and_expr := not_expr ('and' not_expr)*
    not_expr := 'not' not_expr | primary
    primary  := '(' expr ')' | of_term | ext_pred | count_cmp
              | offset_cmp | uint_cmp | STR_ID at_in?
    of_term  := ('any' | 'all' | INT) 'of' 'them'
    ext_pred := VAR OP ( STRING | REGEX )
    count_cmp  := COUNT_ID CMP INT              -- '#a > 2'
    offset_cmp := OFFSET_ID ('[' INT ']')? CMP INT  -- '@a[1] < 100'
    at_in    := 'at' INT | 'in' '(' INT '..' INT ')'
    uint_cmp := ('uint8'|'uint16'|'uint32') '(' INT ')' ('=='|'!=') INT
    size_cmp := 'filesize' CMP INT ('KB'|'MB')?
    for_off  := 'for' ('all'|'any') VAR 'in' '(' 1 '..' COUNT_ID ')'
                ':' '(' OFFSET_ID '[' VAR ']' CMP INT ')'
                -- the canonical yara offset-quantifier idiom; desugars
                -- at parse time to at/in/exists-from primitives (see
                -- _desugar_for_offset); 'for all' over zero occurrences
                -- is vacuously TRUE, as in yara-x
    VAR      := filename | filepath | extension | filetype | owner
    OP       := '==' | '!=' | contains | icontains | startswith |
                istartswith | endswith | iendswith | iequals | matches
    CMP      := '==' | '!=' | '>' | '>=' | '<' | '<='
    INT      := decimal or 0xHEX

Bare ``any`` / ``all`` / INT (no 'of them') are accepted as sugar for the
corresponding of-term, for compatibility with pre-parsed rule sets.

Count/offset operator subset (the yara-x operators real signature-base
rules use, src/main.rs:780-872 compiles them all):

* ``$a at N`` / ``$a in (lo..hi)`` — a match of $a STARTS exactly at N /
  at some offset in [lo, hi]. Offsets are character offsets (byte offsets
  for the ASCII corpus), matching the matched_strings '@ {offset}'
  convention.
* ``#a CMP N`` — occurrence count comparison.
* ``@a[i] CMP N`` — offset of the i-th occurrence (i is 1-based, per
  yara); false when fewer than i occurrences. ``@a`` is ``@a[1]``.

These operators are restricted to PLAIN ASCII LITERAL strings (nocase
allowed; no fullword/wide/hex/regex/xor/base64), and for ``#``/``@`` the literal must
additionally be border-free (no proper prefix that is also a suffix), so
non-overlapping counting — the only kind every backend (pyarrow kernels,
Catalyst, DuckDB, Python str) can express — provably equals yara-x's
occurrence semantics. Anything outside the subset raises
YaraUnsupportedError at load time: loud rejection, never a silent count
mismatch. ``@a[i]`` is evaluated by the mask and row backends only; the
Catalyst matcher and the DuckDB oracle renderer reject rules that use it
(no i-th-occurrence primitive in either engine).
"""

from __future__ import annotations

import operator
import re
from dataclasses import dataclass
from functools import lru_cache

EXT_VARS = ("filename", "filepath", "extension", "filetype", "owner")

# extension: substring after the last '.' of the final path segment
# (Path::extension analog); empty string when there is none.
EXTENSION_REGEX = r"\.([^./\\]+)$"

# filetype classification, first match wins, ELSE 'OTHER' — the single
# source of truth shared by every backend and by the tool_type_counts
# query (P2 analog of the reference's magic-format name).
TOOL_TYPE_RULES: tuple[tuple[str, str, str], ...] = (
    ("endswith", ".exe", "EXECUTABLE"),
    ("endswith", ".bin", "BINARY"),
    ("startswith", "debug-", "DEBUG"),
    ("startswith", "tool-", "GENERIC"),
)
TOOL_TYPE_DEFAULT = "OTHER"


class YaraUnsupportedError(ValueError):
    """Raised on any condition/string construct outside the supported
    subset — loud rejection instead of a silent wrong answer."""


# ------------------------------------------------------------------- AST


@dataclass(frozen=True)
class OfThem:
    n: str  # 'any' | 'all' | decimal int as str
    # None = 'them' (every string); else string-set selector entries, each
    # a '$id' or '$prefix*' wildcard ("N of ($a, $b*)" yara syntax)
    selector: tuple[str, ...] | None = None


def selector_matches(selector: tuple[str, ...] | None, ident: str) -> bool:
    """Does a string identifier belong to an of-term's set?"""
    if selector is None:
        return True
    for pat in selector:
        if pat.endswith("*"):
            if ident.startswith(pat[:-1]):
                return True
        elif ident == pat:
            return True
    return False


@dataclass(frozen=True)
class StrRef:
    identifier: str  # includes the leading '$'


@dataclass(frozen=True)
class ExtPred:
    var: str  # one of EXT_VARS
    op: str  # eq|ne|contains|icontains|startswith|istartswith|
    #          endswith|iendswith|iequals|matches
    value: str  # literal text; for 'matches', a regex ALREADY carrying
    #             any inline (?i)/(?s) flags at position 0


@dataclass(frozen=True)
class CountCmp:
    """'#a CMP N' — occurrence-count comparison for string $a."""

    identifier: str  # normalized to the '$' form ('#a' refers to '$a')
    op: str  # eq|ne|gt|ge|lt|le
    value: int


@dataclass(frozen=True)
class AtExpr:
    """'$a at N' — a match of $a starts exactly at character offset N."""

    identifier: str
    offset: int


@dataclass(frozen=True)
class InExpr:
    """'$a in (lo..hi)' — a match of $a starts at some offset in
    [lo, hi] inclusive."""

    identifier: str
    lo: int
    hi: int


@dataclass(frozen=True)
class ExistsFrom:
    """Internal desugaring atom: some occurrence of the string starts at
    character offset >= lo. Produced by the 'for' quantifier desugar —
    never parsed directly."""

    identifier: str
    lo: int


@dataclass(frozen=True)
class BoolLit:
    """Constant boolean (degenerate desugar edges, e.g. 'any @ < 0')."""

    value: bool


@dataclass(frozen=True)
class OffsetCmp:
    """'@a[i] CMP N' — the offset of the i-th occurrence (1-based i)
    compared to N; false when there are fewer than i occurrences."""

    identifier: str
    index: int  # 1-based
    op: str  # eq|ne|gt|ge|lt|le
    value: int


@dataclass(frozen=True)
class UintCmp:
    """'uint8/uint16/uint32(OFFSET) ==|!= VALUE' — yara-x's little-endian
    integer reads at a fixed offset (the MZ/PE-header idiom). Desugared at
    parse time to a fixed-offset characters comparison: `needle` is the
    value's little-endian bytes as characters (each byte validated
    0x01-0x7f — the text column's char==byte range; 0x00 would not
    round-trip through SQL literals). Out-of-bounds reads are yara's
    `undefined` -> the comparison is False (for != this means the text
    must still be long enough)."""

    size: int  # 1 | 2 | 4
    offset: int
    op: str  # eq | ne
    needle: str  # chr(b) for b in value.to_bytes(size, 'little')


@dataclass(frozen=True)
class SizeCmp:
    """'filesize CMP N' — yara's scanned-data size in bytes, mapped to
    the turn text's CHARACTER length (== byte length on the engine's
    char==byte text model; every backend and the matched-offset
    convention use character units). KB/MB suffixes are 1024-based, as
    in yara. This is the turn-table analog of the reference's file-size
    gate (filesystem_scan.rs max_file_size / F7), which signature-base
    rules lean on heavily (`filesize < 800KB and all of them`)."""

    op: str  # eq|ne|gt|ge|lt|le
    value: int


INT_CMPS = {
    "==": "eq",
    "!=": "ne",
    ">": "gt",
    ">=": "ge",
    "<": "lt",
    "<=": "le",
}


_CMP_FUNCS = {
    "eq": operator.eq,
    "ne": operator.ne,
    "gt": operator.gt,
    "ge": operator.ge,
    "lt": operator.lt,
    "le": operator.le,
}


def cmp_int(op: str, left, right):
    """Shared integer-comparison semantics for count/offset/filesize
    operators, on ints, numpy arrays and Spark Columns alike."""
    return _CMP_FUNCS[op](left, right)


@dataclass(frozen=True)
class Not:
    operand: object


@dataclass(frozen=True)
class AndExpr:
    items: tuple


@dataclass(frozen=True)
class OrExpr:
    items: tuple


_OPS = {
    "==": "eq",
    "!=": "ne",
    "contains": "contains",
    "icontains": "icontains",
    "startswith": "startswith",
    "istartswith": "istartswith",
    "endswith": "endswith",
    "iendswith": "iendswith",
    "iequals": "iequals",
    "matches": "matches",
}

_TOKEN_RE = re.compile(
    r"""\s*(?:
        (?P<str_id>\$[A-Za-z0-9_]*\*?)
      | (?P<count_id>\#[A-Za-z0-9_]+)
      | (?P<offset_id>@[A-Za-z0-9_]+)
      | (?P<string>"(?:[^"\\]|\\.)*")
      | (?P<regex>/(?:[^/\\]|\\.)+/[is]*)
      | (?P<cmp>==|!=|>=|<=|>|<)
      | (?P<lpar>\()
      | (?P<rpar>\))
      | (?P<lbracket>\[)
      | (?P<rbracket>\])
      | (?P<dotdot>\.\.)
      | (?P<colon>:)
      | (?P<comma>,)
      | (?P<percent>%)
      | (?P<int>0[xX][0-9A-Fa-f]+|\d+)
      | (?P<word>[A-Za-z_][A-Za-z0-9_]*)
    )""",
    re.VERBOSE,
)


def _to_int(text: str) -> int:
    return int(text, 16) if text[:2].lower() == "0x" else int(text)


def _unquote(s: str) -> str:
    """Decode a quoted YARA string literal with a single left-to-right
    walk. (Chained str.replace is WRONG here: '\\\\n' — escaped backslash
    then n — would first collapse to '\\n' and then a later replace would
    turn it into a newline.) Supports \\" \\\\ \\n \\t \\r and \\xHH;
    any other escaped char decodes to itself."""
    body = s[1:-1]
    out: list[str] = []
    i = 0
    simple = {"n": "\n", "t": "\t", "r": "\r"}
    while i < len(body):
        c = body[i]
        if c == "\\" and i + 1 < len(body):
            nxt = body[i + 1]
            if nxt == "x" and i + 3 < len(body):
                try:
                    out.append(chr(int(body[i + 2 : i + 4], 16)))
                    i += 4
                    continue
                except ValueError:
                    pass
            out.append(simple.get(nxt, nxt))
            i += 2
        else:
            out.append(c)
            i += 1
    return "".join(out)


def _tokenize(text: str) -> list[tuple[str, str]]:
    tokens: list[tuple[str, str]] = []
    pos = 0
    while pos < len(text):
        m = _TOKEN_RE.match(text, pos)
        if m is None or m.end() == pos:
            rest = text[pos:].strip()
            if not rest:
                break
            raise YaraUnsupportedError(
                f"unsupported condition syntax at: {rest[:40]!r}"
            )
        pos = m.end()
        kind = m.lastgroup
        if kind is not None:
            tokens.append((kind, m.group(kind)))
    return tokens


def _desugar_for_offset(quant: str, ident: str, op: str, n: int):
    """'for QUANT i in (1..#s) : (@s[i] OP n)' as a boolean combination
    of existing offset primitives. Every form reduces to existence tests
    ("some occurrence at offset <= k" = InExpr, ">= k" = ExistsFrom,
    "== n" = AtExpr), so all five backends support it with ONE new atom.
    'for all' over zero occurrences is vacuously TRUE (yara-x range
    (1..0) is empty) — the Not(exists...) forms give exactly that."""

    def exists_le(k: int):
        return InExpr(ident, 0, k) if k >= 0 else BoolLit(False)

    def exists_ge(k: int):
        return ExistsFrom(ident, k) if k > 0 else StrRef(ident)

    at = AtExpr(ident, n)
    if quant == "any":
        return {
            "lt": exists_le(n - 1),
            "le": exists_le(n),
            "gt": exists_ge(n + 1),
            "ge": exists_ge(n),
            "eq": at,
            "ne": OrExpr((exists_le(n - 1), exists_ge(n + 1))),
        }[op]
    return {
        "lt": Not(exists_ge(n)),
        "le": Not(exists_ge(n + 1)),
        "gt": Not(exists_le(n)),
        "ge": Not(exists_le(n - 1)),
        "eq": Not(OrExpr((exists_le(n - 1), exists_ge(n + 1)))),
        "ne": Not(at),
    }[op]


class _Parser:
    def __init__(self, tokens: list[tuple[str, str]]):
        self.tokens = tokens
        self.i = 0

    def peek(self) -> tuple[str, str] | None:
        return self.tokens[self.i] if self.i < len(self.tokens) else None

    def next(self) -> tuple[str, str]:
        tok = self.peek()
        if tok is None:
            raise YaraUnsupportedError("unexpected end of condition")
        self.i += 1
        return tok

    def parse(self):
        node = self.or_expr()
        if self.peek() is not None:
            raise YaraUnsupportedError(
                f"trailing tokens in condition: {self.tokens[self.i:]}"
            )
        return node

    def or_expr(self):
        items = [self.and_expr()]
        while self.peek() == ("word", "or"):
            self.next()
            items.append(self.and_expr())
        return items[0] if len(items) == 1 else OrExpr(tuple(items))

    def and_expr(self):
        items = [self.not_expr()]
        while self.peek() == ("word", "and"):
            self.next()
            items.append(self.not_expr())
        return items[0] if len(items) == 1 else AndExpr(tuple(items))

    def not_expr(self):
        if self.peek() == ("word", "not"):
            self.next()
            return Not(self.not_expr())
        return self.primary()

    def primary(self):
        kind, val = self.next()
        if kind == "lpar":
            node = self.or_expr()
            if self.next()[0] != "rpar":
                raise YaraUnsupportedError("unbalanced parenthesis")
            return node
        if kind == "str_id":
            if val.endswith("*"):
                raise YaraUnsupportedError(
                    f"wildcard string reference {val!r} only valid inside "
                    "an of-term set"
                )
            if self.peek() == ("word", "at"):
                self.next()
                k2, v2 = self.next()
                if k2 != "int":
                    raise YaraUnsupportedError(
                        f"'at' expects an integer offset, got {v2!r}"
                    )
                return AtExpr(val, _to_int(v2))
            if self.peek() == ("word", "in"):
                self.next()
                if self.next()[0] != "lpar":
                    raise YaraUnsupportedError("'in' expects '(lo..hi)'")
                k2, v2 = self.next()
                if k2 != "int":
                    raise YaraUnsupportedError(
                        f"'in' range expects an integer, got {v2!r}"
                    )
                if self.next()[0] != "dotdot":
                    raise YaraUnsupportedError("'in' range expects '..'")
                k3, v3 = self.next()
                if k3 != "int":
                    raise YaraUnsupportedError(
                        f"'in' range expects an integer, got {v3!r}"
                    )
                if self.next()[0] != "rpar":
                    raise YaraUnsupportedError("unbalanced 'in' range")
                lo, hi = _to_int(v2), _to_int(v3)
                if hi < lo:
                    raise YaraUnsupportedError(
                        f"inverted 'in' range ({lo}..{hi})"
                    )
                return InExpr(val, lo, hi)
            return StrRef(val)
        if kind == "count_id":
            op_kind, op_val = self.next()
            if op_kind != "cmp":
                raise YaraUnsupportedError(
                    f"'{val}' expects a comparison operator, got {op_val!r}"
                    " (bare counts in boolean context are not supported)"
                )
            v_kind, v_val = self.next()
            if v_kind != "int":
                raise YaraUnsupportedError(
                    f"count comparison expects an integer, got {v_val!r}"
                )
            return CountCmp("$" + val[1:], INT_CMPS[op_val], _to_int(v_val))
        if kind == "offset_id":
            index = 1
            if self.peek() == ("lbracket", "["):
                self.next()
                k2, v2 = self.next()
                if k2 != "int" or _to_int(v2) < 1:
                    raise YaraUnsupportedError(
                        f"'@' index must be a positive integer, got {v2!r}"
                        " (yara @ arrays are 1-based)"
                    )
                index = _to_int(v2)
                if self.next()[0] != "rbracket":
                    raise YaraUnsupportedError("unbalanced '@' index")
            op_kind, op_val = self.next()
            if op_kind != "cmp":
                raise YaraUnsupportedError(
                    f"'{val}' expects a comparison operator, got {op_val!r}"
                )
            v_kind, v_val = self.next()
            if v_kind != "int":
                raise YaraUnsupportedError(
                    f"offset comparison expects an integer, got {v_val!r}"
                )
            return OffsetCmp(
                "$" + val[1:], index, INT_CMPS[op_val], _to_int(v_val)
            )
        if kind == "int" or (
            kind == "word" and val in ("any", "all", "none")
        ):
            if kind == "int":
                val = str(_to_int(val))  # normalize 0x forms for int(node.n)
            # yara-x '0 of them' / 'none of them' mean NONE-of (legacy
            # yara read '0 of' as 'at least 0' = always true and warns;
            # the reference compiles yara-x, src/main.rs:780-872):
            # desugar to NOT(any of ...), which every backend renders
            # with its ordinary `not`.
            none_of = (kind == "int" and int(val) == 0) or val == "none"
            if none_of:
                val = "any"
            elif kind == "int" and self.peek() == ("percent", "%"):
                # 'P% of (...)': percentage quantifier. Kept symbolic
                # ('P%') here — the parser cannot see the rule's string
                # table; resolve_percent_of rewrites it into the integer
                # threshold at rule-load time.
                self.next()
                if not 1 <= int(val) <= 100:
                    raise YaraUnsupportedError(
                        f"percentage quantifier {val}% outside 1..100"
                    )
                if self.peek() != ("word", "of"):
                    raise YaraUnsupportedError(
                        f"'{val}%' must be followed by 'of'"
                    )
                val = f"{val}%"
            # of-term: 'N of them' / 'N of ($a, $b*)' / bare 'N' sugar
            if self.peek() == ("word", "of"):
                self.next()
                k2, v2 = self.next()
                if (k2, v2) == ("word", "them"):
                    return Not(OfThem(val)) if none_of else OfThem(val)
                if k2 == "lpar":
                    sel: list[str] = []
                    while True:
                        k3, v3 = self.next()
                        if k3 != "str_id":
                            raise YaraUnsupportedError(
                                f"of-set expects string refs, got {v3!r}"
                            )
                        # '$*' wildcards every string == 'them'
                        sel.append(v3)
                        k4, v4 = self.next()
                        if k4 == "rpar":
                            break
                        if k4 != "comma":
                            raise YaraUnsupportedError(
                                f"of-set expects ',' or ')', got {v4!r}"
                            )
                    node = OfThem(val, tuple(sel))
                    return Not(node) if none_of else node
                raise YaraUnsupportedError(
                    f"'of' expects 'them' or a ($set), got {v2!r}"
                )
            if none_of:
                raise YaraUnsupportedError(
                    "bare 0/none is not a condition"
                )
            return OfThem(val)
        if kind == "word" and val in ("uint8", "uint16", "uint32"):
            size = {"uint8": 1, "uint16": 2, "uint32": 4}[val]
            if self.next()[0] != "lpar":
                raise YaraUnsupportedError(f"{val} expects '(offset)'")
            k2, v2 = self.next()
            if k2 != "int":
                raise YaraUnsupportedError(
                    f"{val} offset must be an integer, got {v2!r}"
                )
            offset = _to_int(v2)
            if self.next()[0] != "rpar":
                raise YaraUnsupportedError(f"unbalanced {val}(...)")
            op_kind, op_val = self.next()
            if op_kind != "cmp" or op_val not in ("==", "!="):
                raise YaraUnsupportedError(
                    f"{val} supports only ==/!= comparisons, got {op_val!r}"
                )
            v_kind, v_val = self.next()
            if v_kind != "int":
                raise YaraUnsupportedError(
                    f"{val} comparison expects an integer, got {v_val!r}"
                )
            value = _to_int(v_val)
            if value >= 1 << (8 * size):
                raise YaraUnsupportedError(
                    f"{val} compared against {v_val} (out of range)"
                )
            hay = value.to_bytes(size, "little")
            if any(b == 0 or b >= 0x80 for b in hay):
                raise YaraUnsupportedError(
                    f"{val} value {v_val}: little-endian bytes outside "
                    "0x01-0x7f cannot match a text column"
                )
            return UintCmp(
                size, offset, INT_CMPS[op_val], "".join(chr(b) for b in hay)
            )
        if kind == "word" and val == "for":
            qk, quant = self.next()
            if (qk, quant) not in (("word", "all"), ("word", "any")):
                raise YaraUnsupportedError(
                    f"'for' supports only all/any quantifiers, got {quant!r}"
                )
            vk, var = self.next()
            if vk != "word":
                raise YaraUnsupportedError(
                    f"'for' expects a loop variable, got {var!r}"
                )
            if self.next() != ("word", "in"):
                raise YaraUnsupportedError("'for' expects 'in (1..#s)'")
            if self.next()[0] != "lpar":
                raise YaraUnsupportedError("'for' expects 'in (1..#s)'")
            k1, v1 = self.next()
            if k1 != "int" or _to_int(v1) != 1:
                raise YaraUnsupportedError(
                    "'for' ranges other than (1..#s) are not supported"
                )
            if self.next()[0] != "dotdot":
                raise YaraUnsupportedError("'for' expects 'in (1..#s)'")
            ck, cv = self.next()
            if ck != "count_id":
                raise YaraUnsupportedError(
                    "'for' ranges other than (1..#s) are not supported"
                )
            ident = "$" + cv[1:]
            if self.next()[0] != "rpar":
                raise YaraUnsupportedError("unbalanced 'for' range")
            if self.next()[0] != "colon":
                raise YaraUnsupportedError("'for' expects ': ( ... )'")
            if self.next()[0] != "lpar":
                raise YaraUnsupportedError("'for' expects ': ( ... )'")
            ok_, ov = self.next()
            if ok_ != "offset_id" or "$" + ov[1:] != ident:
                raise YaraUnsupportedError(
                    "'for' bodies other than '@s[i] CMP INT' over the "
                    "range's own string are not supported"
                )
            if self.next()[0] != "lbracket":
                raise YaraUnsupportedError("'for' body expects '@s[i]'")
            ik, iv = self.next()
            if (ik, iv) != ("word", var):
                raise YaraUnsupportedError(
                    f"'@' index must be the loop variable {var!r}"
                )
            if self.next()[0] != "rbracket":
                raise YaraUnsupportedError("unbalanced '@' index")
            cmp_k, cmp_v = self.next()
            if cmp_k != "cmp":
                raise YaraUnsupportedError(
                    "'for' body expects a comparison operator"
                )
            nk, nv = self.next()
            if nk != "int":
                raise YaraUnsupportedError(
                    "'for' body compares against an integer"
                )
            n = _to_int(nv)
            if self.next()[0] != "rpar":
                raise YaraUnsupportedError("unbalanced 'for' body")
            return _desugar_for_offset(quant, ident, INT_CMPS[cmp_v], n)
        if kind == "word" and val == "filesize":
            op_kind, op_val = self.next()
            if op_kind != "cmp":
                raise YaraUnsupportedError(
                    f"filesize expects a comparison operator, got {op_val!r}"
                )
            v_kind, v_val = self.next()
            if v_kind != "int":
                raise YaraUnsupportedError(
                    f"filesize comparison expects an integer, got {v_val!r}"
                )
            value = _to_int(v_val)
            if self.peek() in (("word", "KB"), ("word", "MB")):
                _, unit = self.next()
                value *= 1024 if unit == "KB" else 1024 * 1024
            return SizeCmp(INT_CMPS[op_val], value)
        if kind == "word" and val in EXT_VARS:
            op_kind, op_val = self.next()
            op = _OPS.get(op_val)
            if op is None:
                raise YaraUnsupportedError(
                    f"unsupported operator {op_val!r} on external var {val}"
                )
            v_kind, v_val = self.next()
            if op == "matches":
                if v_kind != "regex":
                    raise YaraUnsupportedError(
                        f"'matches' needs a /regex/, got {v_val!r}"
                    )
                body, _, flags = v_val.rpartition("/")
                body = body[1:].replace("\\/", "/")
                prefix = "".join(f"(?{f})" for f in flags)
                from .compile import validate_shared_regex

                validate_shared_regex(prefix + body, f" ({val} matches)")
                return ExtPred(val, "matches", prefix + body)
            if v_kind != "string":
                raise YaraUnsupportedError(
                    f"external-var comparison needs a string, got {v_val!r}"
                )
            return ExtPred(val, op, _unquote(v_val))
        raise YaraUnsupportedError(f"unsupported condition token: {val!r}")


@lru_cache(maxsize=512)
def parse_condition(text: str):
    """Parse a condition string into the AST. Raises YaraUnsupportedError
    on anything outside the supported subset."""
    return _Parser(_tokenize(text)).parse()


def resolve_percent_of(node, idents):
    """Rewrite 'P% of (...)' quantifiers into the equivalent integer
    threshold, resolved at LOAD time where the rule's string table is
    known (the condition parser is not). yara semantics: satisfied when
    matching_count * 100 >= P * set_size, i.e. threshold =
    ceil(P * n / 100). P in 1..100 and n >= 1 give 1 <= threshold <= n,
    so the rewritten node is always a legal N-of — every backend sees a
    plain integer quantifier and needs zero percent-awareness."""
    from dataclasses import replace as _replace

    if isinstance(node, OfThem) and node.n.endswith("%"):
        p = int(node.n[:-1])
        n_sel = sum(
            1 for i in idents if selector_matches(node.selector, i)
        )
        if n_sel == 0:
            # yara-x rejects quantifiers over empty string sets; emitting
            # ceil(P*0/100)=0 here would produce an always-true 0-of node
            # that bypasses both the none-of desugar and the
            # exceeds-set-size validation (round-6 ADVICE)
            raise YaraUnsupportedError(
                f"'{node.n} of' selects no strings "
                f"(selector {node.selector!r})"
            )
        return _replace(node, n=str(-(-p * n_sel // 100)))
    if isinstance(node, Not):
        return Not(resolve_percent_of(node.operand, idents))
    if isinstance(node, (AndExpr, OrExpr)):
        return type(node)(
            tuple(resolve_percent_of(x, idents) for x in node.items)
        )
    return node


def collect_of_terms(node) -> list[OfThem]:
    if isinstance(node, OfThem):
        return [node]
    if isinstance(node, Not):
        return collect_of_terms(node.operand)
    if isinstance(node, (AndExpr, OrExpr)):
        return [t for x in node.items for t in collect_of_terms(x)]
    return []


def condition_uses_strings(node) -> bool:
    """Does the condition reference DEFINED strings (so the rule must
    declare some)? UintCmp reads the text directly and needs none."""
    if isinstance(
        node, (OfThem, StrRef, CountCmp, AtExpr, InExpr, OffsetCmp, ExistsFrom)
    ):
        return True
    if isinstance(node, Not):
        return condition_uses_strings(node.operand)
    if isinstance(node, (AndExpr, OrExpr)):
        return any(condition_uses_strings(x) for x in node.items)
    return False


def collect_string_op_nodes(node) -> list:
    """Every CountCmp/AtExpr/InExpr/OffsetCmp/ExistsFrom node in a
    condition."""
    if isinstance(node, (CountCmp, AtExpr, InExpr, OffsetCmp, ExistsFrom)):
        return [node]
    if isinstance(node, Not):
        return collect_string_op_nodes(node.operand)
    if isinstance(node, (AndExpr, OrExpr)):
        return [t for x in node.items for t in collect_string_op_nodes(x)]
    return []


def _has_proper_border(needle: str) -> bool:
    """True if some proper prefix of `needle` is also a suffix — exactly
    the condition under which occurrences can overlap, making
    non-overlapping counts diverge from yara-x's all-occurrence counts.
    Bordered needles route to the overlap-aware kernels; border-free ones
    keep the cheaper non-overlapping fast paths (identical results)."""
    return any(
        needle[:k] == needle[-k:] for k in range(1, len(needle))
    )


def overlap_count(text: str, needle: str) -> int:
    """ALL occurrences of `needle` in `text`, including overlapping ones
    (str.find walk stepping +1) — yara-x's Aho-Corasick reports every
    position, so 'xxx'.count of 'xx' must be 2, not str.count's 1."""
    count, start = 0, 0
    while True:
        pos = text.find(needle, start)
        if pos < 0:
            return count
        count += 1
        start = pos + 1


def fold_case(text: str) -> str:
    """`text` lower-cased codepoint by codepoint, for nocase find walks.
    U+0130 is the one codepoint whose lower() is two codepoints, so it
    stays as it is (RE2's case fold of 'i' excludes it too): the fold
    keeps the length, and an offset in it is an offset in `text`."""
    return "\u0130".join(part.lower() for part in text.split("\u0130"))


def validate_condition_ops(rule_name: str, strings, ast) -> None:
    """Load-time validation of count/at/in/offset operators against the
    rule's string definitions (see module docstring for the subset):
    plain ascii literals only. Every backend reads the literal itself, so
    a string whose forms may not contain it (xor, base64) is rejected
    too: yara-x would count the string's own matches. Raises
    YaraUnsupportedError — loud rejection instead of a silent count or
    offset mismatch vs the reference's yara-x."""
    by_ident = {s.identifier: s for s in strings}
    for node in collect_string_op_nodes(ast):
        s = by_ident.get(node.identifier)
        kind = type(node).__name__
        if s is None:
            raise YaraUnsupportedError(
                f"rule {rule_name}: {kind} references undefined string "
                f"{node.identifier}"
            )
        if (
            s.is_regex or s.is_hex or s.wide or s.fullword
            or s.xor_min is not None or s.base64_mod or s.base64wide
        ):
            raise YaraUnsupportedError(
                f"rule {rule_name}: {kind} on {node.identifier} requires a "
                "plain ascii literal string "
                "(no regex/hex/wide/fullword/xor/base64)"
            )
        # Self-overlapping literals (proper border, e.g. 'xor eax, eax')
        # are SUPPORTED for #/@ as of round 6: every backend counts and
        # enumerates ALL occurrences including overlapping ones, matching
        # yara-x's Aho-Corasick all-positions semantics (the Arrow kernel
        # reads them from its +1-step find walk,
        # arrow_matcher._Candidates.read; bordered needles route to
        # overlap-aware renderings in _CatalystCondBackend.count_cmp and
        # oracle count_cmp).
        if isinstance(node, (CountCmp, OffsetCmp)) and node.value < 0:
            raise YaraUnsupportedError(
                f"rule {rule_name}: {kind} compares against a negative value"
            )
        # ExistsFrom/InExpr offset windows carry no bounded-repetition
        # cap: the Arrow kernel compares the occurrence offsets with the
        # window, so any window bound is supported.


def collect_ext_atoms(sigs) -> list[ExtPred]:
    """Every distinct external-variable predicate across the rule set, in
    deterministic first-seen order. Ext atoms are pure functions of
    (tool, role), so the pipeline evaluates them JVM-side (whole-stage
    codegen) and ships ONE packed int64 bitmask across the Python bridge
    instead of the tool/role strings — the bit index here is the shared
    contract between the Catalyst packer and the matcher's mask backend."""
    seen: dict[ExtPred, None] = {}

    def walk(node) -> None:
        if isinstance(node, ExtPred):
            seen.setdefault(node)
        elif isinstance(node, Not):
            walk(node.operand)
        elif isinstance(node, (AndExpr, OrExpr)):
            for x in node.items:
                walk(x)

    for rule in sigs.yara_rules:
        walk(rule.condition_ast)
    atoms = list(seen)
    if len(atoms) > 63:
        raise YaraUnsupportedError(
            f"{len(atoms)} distinct external-variable predicates exceed the "
            "63-bit ext-bits packing; split the rule set"
        )
    return atoms


def render_condition(node, backend):
    """Generic renderer: `backend` supplies str_ref/of_them/ext_pred atom
    builders and and_/or_/not_ combiners in whatever value domain it wants
    (numpy masks, Catalyst Columns, SQL strings, Python bools)."""
    if isinstance(node, OrExpr):
        return backend.or_([render_condition(x, backend) for x in node.items])
    if isinstance(node, AndExpr):
        return backend.and_([render_condition(x, backend) for x in node.items])
    if isinstance(node, Not):
        return backend.not_(render_condition(node.operand, backend))
    if isinstance(node, OfThem):
        return backend.of_them(node)
    if isinstance(node, StrRef):
        return backend.str_ref(node.identifier)
    if isinstance(node, ExtPred):
        return backend.ext_pred(node)
    if isinstance(node, CountCmp):
        return backend.count_cmp(node)
    if isinstance(node, AtExpr):
        return backend.at_expr(node)
    if isinstance(node, InExpr):
        return backend.in_expr(node)
    if isinstance(node, OffsetCmp):
        return backend.offset_cmp(node)
    if isinstance(node, UintCmp):
        return backend.uint_cmp(node)
    if isinstance(node, SizeCmp):
        return backend.size_cmp(node)
    if isinstance(node, ExistsFrom):
        return backend.exists_from(node)
    if isinstance(node, BoolLit):
        return backend.bool_lit(node)
    raise YaraUnsupportedError(f"unknown AST node: {node!r}")
