"""YARA string compilation: modifiers -> engine-specific regex forms.

The reference compiles full yara-x string modifiers
(src/modules/filesystem_scan.rs:1002-1136 scans with the compiled rules;
modifier semantics are yara-x's). Supported subset here, rejected LOUDLY
otherwise (YaraUnsupportedError):

* ``nocase``    — case-insensitive ((?i) prefix / IGNORECASE);
* ``fullword``  — match not adjacent to [0-9A-Za-z]. Two renderings with
  identical boolean semantics: lookaround ``(?<![0-9A-Za-z])..(?![0-9A-Za-z])``
  for engines that support it (Python re, Java regex), and the CONSUMING
  ``(?:^|[^0-9A-Za-z])(?:..)(?:$|[^0-9A-Za-z])`` for RE2 (pyarrow, DuckDB),
  which has no lookaround. For "does it match anywhere" the two are
  equivalent: any lookaround match extends to a consuming match by taking
  the adjacent boundary characters, and vice versa;
* ``wide``      — UTF-16LE interleave: each character followed by NUL
  (yara-x emulation of 16-bit strings). ``wide ascii`` matches either
  form. Literal strings only;
* hex strings   — ``{ 4D 5A ?? 90 [2-8] 00 }``: fixed bytes, ``??``
  wildcards and ``[n]``/``[n-m]`` jumps, compiled to a (?s) regex. The
  turn data model scans a TEXT column, so bytes are restricted to ASCII
  (0x00-0x7F) where char==byte; 0x80+ would need a binary column and is
  rejected.

All regex output sticks to the syntax intersection of Java regex, RE2 and
Python ``re`` (hex escapes, simple classes, no backrefs), so the four
evaluation backends agree by construction.
"""

from __future__ import annotations

import re

from .conditions import YaraUnsupportedError
from .model import YaraString

_WORD_CLASS = "[0-9A-Za-z]"


def xor_variants(pattern: str, lo: int, hi: int) -> list[str]:
    """All single-byte-XOR transforms of an ASCII literal with keys in
    [lo, hi] (yara-x `xor` modifier, src/main.rs:780-872 compiles it via
    yara-x). Variants containing a byte >= 0x80 cannot occur inside the
    engine's TEXT column (same convention as hex bytes >= 0x80,
    hex_to_regex above) and are dropped; if EVERY key produces one, the
    string is unmatchable here and the caller raises."""
    out = []
    for key in range(lo, hi + 1):
        xored = [ord(c) ^ key for c in pattern]
        if all(b < 0x80 for b in xored):
            out.append("".join(chr(b) for b in xored))
    return out


_STD_B64 = (
    "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789+/"
)


def base64_variants(pattern: str, alphabet: str | None = None) -> list[str]:
    """The three base64 alignments of an ASCII literal (yara `base64`
    modifier, as compiled by yara-x — the reference pulls yara-x 1.12,
    Cargo.toml:35): encode with k = 0..2 leading pad bytes, strip '='
    padding, and drop the {0: 0, 1: 2, 2: 3}[k] leading chars that
    encode preceding-stream bits. Trailing chars are kept even when
    partially padding-determined — yara's documented behavior (its
    writingrules example for "This program cannot" keeps the trailing
    'A'), reproduced verbatim so match parity holds.

    A custom 64-char `alphabet` (yara base64("...")) is a positional
    re-mapping of the standard one, so variants are computed on the
    standard alphabet and translated — identical trim behavior."""
    import base64 as _b64

    data = pattern.encode("ascii")
    lead_trim = {0: 0, 1: 2, 2: 3}
    table = str.maketrans(_STD_B64, alphabet) if alphabet else None
    out = []
    for k in range(3):
        enc = _b64.b64encode(b"\x00" * k + data).decode("ascii").rstrip("=")
        variant = enc[lead_trim[k]:]
        if table:
            variant = variant.translate(table)
        if variant:
            out.append(variant)
    return out


def regex_literal(s: str) -> str:
    """Render a literal as a regex that parses identically in Java regex,
    RE2 and Python re: ASCII alphanumerics raw, other ASCII (including NUL
    from wide interleaving) as \\xHH (the 2-digit form all three engines
    accept), and non-ASCII as the RAW character — there is NO shared
    escape syntax above U+00FF (RE2 wants \\x{HHHH}, Python re wants
    \\uHHHH), but a raw non-ASCII char is a plain literal in all three."""
    out = []
    for c in s:
        if ord(c) >= 128 or c.isalnum():
            out.append(c)
        else:
            out.append(f"\\x{ord(c):02x}")
    return "".join(out)


def wide_interleave(s: str) -> str:
    """UTF-16LE emulation for ASCII text: every char followed by NUL."""
    return "".join(c + "\x00" for c in s)


_HEX_TOKEN = re.compile(
    r"([0-9A-Fa-f]{2})|(\?\?)|\[(\d+)(?:-(\d+))?\]|[(|)]|\s+"
)


def hex_to_regex(body: str, context: str = "") -> str:
    """Compile a hex-string body (inside the braces) to a regex core.

    Supports fixed bytes, ?? wildcards, [n]/[n-m] jumps, and (nestable)
    alternations ``( AA | BB CC )`` per yara-x. Jumps inside alternations
    are rejected loudly (yara-x forbids them there too)."""
    tokens: list[tuple] = []
    pos = 0
    while pos < len(body):
        m = _HEX_TOKEN.match(body, pos)
        if m is None:
            raise YaraUnsupportedError(
                f"unsupported hex-string token at {body[pos:pos + 12]!r}"
                f"{context}"
            )
        pos = m.end()
        groups = m.groups()
        if any(g is not None for g in groups):
            tokens.append(groups)
        elif m.group(0).strip():  # ( | ) punctuation
            tokens.append((None, None, None, None, m.group(0).strip()))

    idx = [0]

    def parse_seq(depth: int) -> str:
        out: list[str] = []
        while idx[0] < len(tokens):
            byte, wild, jump_lo, jump_hi, *rest = (
                tokens[idx[0]] + (None,) * (5 - len(tokens[idx[0]]))
            )
            punct = rest[0] if rest else None
            if punct in (")", "|"):
                break  # caller consumes
            idx[0] += 1
            if punct == "(":
                alts = [parse_seq(depth + 1)]
                while (
                    idx[0] < len(tokens)
                    and len(tokens[idx[0]]) == 5
                    and tokens[idx[0]][4] == "|"
                ):
                    idx[0] += 1
                    alts.append(parse_seq(depth + 1))
                if not (
                    idx[0] < len(tokens)
                    and len(tokens[idx[0]]) == 5
                    and tokens[idx[0]][4] == ")"
                ):
                    raise YaraUnsupportedError(
                        f"unbalanced hex alternation{context}"
                    )
                idx[0] += 1
                out.append("(?:" + "|".join(alts) + ")")
            elif byte is not None:
                value = int(byte, 16)
                if value >= 0x80:
                    raise YaraUnsupportedError(
                        f"hex byte {byte} >= 0x80 cannot match a text column"
                        f"{context}"
                    )
                out.append(f"\\x{value:02x}")
            elif wild is not None:
                out.append(".")
            elif jump_lo is not None:
                if depth > 0:
                    raise YaraUnsupportedError(
                        f"hex jump inside an alternation{context}"
                    )
                if jump_hi is not None:
                    if int(jump_hi) < int(jump_lo):
                        raise YaraUnsupportedError(
                            f"inverted hex jump [{jump_lo}-{jump_hi}]{context}"
                        )
                    out.append(f".{{{int(jump_lo)},{int(jump_hi)}}}")
                else:
                    out.append(f".{{{int(jump_lo)}}}")
        if not out:
            raise YaraUnsupportedError(f"empty hex string/alternative{context}")
        return "".join(out)

    result = parse_seq(0)
    if idx[0] != len(tokens):
        raise YaraUnsupportedError(
            f"unbalanced hex alternation{context}"
        )
    return result


# '(?' group heads allowed in the shared Java/RE2/Python dialect:
# non-capturing groups and the common inline flags. Everything else —
# lookarounds (?= (?! (?<, atomic (?>, conditionals (?(, Python-only
# named groups (?P< (Java spells them (?<name>) — is rejected at load
# time: the four evaluation engines split across Python re (capture
# offsets), RE2 (pyarrow kernels + DuckDB oracle) and Java (Catalyst
# rlike), and a construct missing from ANY of them would otherwise
# surface as a runtime kernel error or, worse, a silent semantic skew.
_ALLOWED_GROUP_HEAD = re.compile(r"\(\?(?::|[imsU]+[):])")


def validate_shared_regex(pattern: str, ctx: str = "") -> None:
    """Loud load-time rejection of regex constructs outside the
    Java ∩ RE2 ∩ Python dialect every backend can run."""
    i, in_class = 0, False
    while i < len(pattern):
        c = pattern[i]
        if c == "\\" and i + 1 < len(pattern):
            nxt = pattern[i + 1]
            if not in_class:
                if nxt.isdigit():
                    raise YaraUnsupportedError(
                        f"backreference/octal escape \\{nxt} is outside "
                        f"the shared regex dialect{ctx}"
                    )
                if nxt in "pPzZGK":
                    raise YaraUnsupportedError(
                        f"\\{nxt} is outside the shared Java/RE2/Python "
                        f"regex dialect{ctx}"
                    )
            i += 2
            continue
        if in_class:
            if c == "]":
                in_class = False
            i += 1
            continue
        if c == "[":
            in_class = True
            i += 1
            # a leading ']' (POSIX '[]a]' / '[^]a]' idiom) is literal in
            # some engines — skip it so the tracker doesn't close the
            # class early and validate the tail in the wrong mode (the
            # final re.compile still rejects Python-invalid forms)
            if pattern[i : i + 1] == "^":
                i += 1
            if pattern[i : i + 1] == "]":
                i += 1
            continue
        if c == "(" and pattern[i + 1 : i + 2] == "?":
            if not _ALLOWED_GROUP_HEAD.match(pattern, i):
                raise YaraUnsupportedError(
                    f"regex group {pattern[i:i + 4]!r}... (lookaround/"
                    f"atomic/conditional/named) is outside the shared "
                    f"Java/RE2/Python dialect{ctx}"
                )
        if c in "*+?" and pattern[i + 1 : i + 2] == "+":
            raise YaraUnsupportedError(
                f"possessive quantifier {c}+ is Java-only{ctx}"
            )
        if c == "{":
            q = re.match(r"\{\d+(?:,\d*)?\}", pattern[i:])
            if q is None:
                # a bare '{' that doesn't form {m}/{m,}/{m,n} is literal
                # in Python and RE2 but an 'Illegal repetition' ERROR in
                # Java (Catalyst rlike) — outside the shared dialect
                raise YaraUnsupportedError(
                    "bare '{' without a valid {m,n} quantifier is an "
                    f"illegal repetition in Java — escape it as \\{{{ctx}"
                )
            # bounded-quantifier possessive form {m,n}+ / {m}+ — the
            # star/plus/question check above misses it, and Python 3.11+
            # re.compile ACCEPTS possessive forms, so without this it
            # would surface later as an RE2 kernel error in the pyarrow
            # backend instead of a loud load-time rejection
            if pattern[i + q.end() : i + q.end() + 1] == "+":
                raise YaraUnsupportedError(
                    f"possessive quantifier "
                    f"{pattern[i:i + q.end()]}+ is Java-only{ctx}"
                )
        i += 1
    try:
        re.compile(pattern)
    except re.error as e:
        raise YaraUnsupportedError(f"regex does not compile: {e}{ctx}")


# A lookbehind-prefix "unit": one regex atom that matches EXACTLY one
# character — a plain non-meta char, or an escaped punctuation char.
# (Escaped letters/digits are excluded: \d/\w match one char but \b/\A are
# zero-width and \x41/\1 are multi-char or backrefs — simpler to allow
# only the unambiguous single-char forms.)
_LB_UNIT = r"(?:[^\\()|\[\]{}*+?^$.]|\\[^A-Za-z0-9])"
_LB_UNIT_RE = re.compile(_LB_UNIT)
_LOOKBEHIND_PREFIX_RE = re.compile(r"^\(\?<=(" + _LB_UNIT + r"+)\)")
_CAPTURE_GROUP_RE = re.compile(r"(?<!\\)\((?!\?)")
_CLASS_GROUP_RE = re.compile(r"\((\[(?:[^\]\\^-]|\\[^A-Za-z0-9])+\])\)")


def _genuine_backref_positions(pattern: str) -> list[int]:
    """Start offsets of genuine \\1 backreferences, scanning by escape
    pairs (the way validate_shared_regex walks): a '1' that follows an
    ESCAPED backslash (pattern text '\\\\1', i.e. literal backslash then
    digit) is NOT a backref and must not be rewritten (round-6 ADVICE)."""
    out: list[int] = []
    i = 0
    while i < len(pattern):
        if pattern[i] == "\\":
            if i + 1 < len(pattern) and pattern[i + 1] == "1":
                out.append(i)
            i += 2
        else:
            i += 1
    return out


def _expand_backreference(pattern: str) -> str | None:
    """If `pattern` is a backreference idiom RE2 cannot express but that
    is mechanically transpilable — exactly ONE capturing group, the group
    a simple character class of single literal chars, referenced only as
    \\1 (e.g. (['\"]).{4,16}\\1) — expand it into the equivalent finite
    alternation ('.{4,16}'|\".{4,16}\"): same matches, same offsets, same
    matched data. Returns None when the idiom doesn't apply. Backrefs are
    located by an escape-pair scan (see _genuine_backref_positions), so a
    literal backslash-then-'1' sequence never triggers the rewrite."""
    refs = _genuine_backref_positions(pattern)
    if not refs:
        return None
    if re.search(r"\\[2-9]", pattern):
        return None  # higher backrefs: a second group must exist
    groups = list(_CAPTURE_GROUP_RE.finditer(pattern))
    if len(groups) != 1:
        return None
    g = _CLASS_GROUP_RE.match(pattern, groups[0].start())
    if g is None:
        return None
    body = g.group(1)[1:-1]  # inside the [ ]
    chars = []
    i = 0
    while i < len(body):
        if body[i] == "\\":
            chars.append(body[i + 1])
            i += 2
        else:
            chars.append(body[i])
            i += 1
    if not 0 < len(chars) <= 16 or len(set(chars)) != len(chars):
        return None
    if any(r < g.end() for r in refs):
        return None  # backref before/inside the group: invalid anyway
    alts = []
    tail_refs = [r - g.end() for r in refs]
    tail = pattern[g.end():]
    for ch in chars:
        lit = re.escape(ch)
        # splice the literal at the genuine backref offsets only
        parts = []
        prev = 0
        for r in tail_refs:
            parts.append(tail[prev:r])
            parts.append(lit)
            prev = r + 2
        parts.append(tail[prev:])
        alts.append(pattern[: g.start()] + lit + "".join(parts))
    return "(?:" + "|".join(alts) + ")"


def transpile_shared_regex(pattern: str, ctx: str = "") -> tuple[str, int]:
    """Mechanical rewrites bringing two common yara regex idioms into the
    shared Java∩RE2∩Python dialect, then validate:

    * a FIXED LITERAL lookbehind prefix `(?<=LIT)rest` rewrites to the
      concatenation `LITrest` plus a report shift of len(LIT) chars — the
      match SET is identical (text contains `rest` preceded by LIT iff it
      contains LITrest), and the matched_strings formatter adds the shift
      back so reported value/offset equal yara's lookbehind match;
    * a single-char-class backreference `(['"]).{4,16}\\1` expands into
      the exact finite alternation (see _expand_backreference).

    Returns (rewritten_pattern, report_shift_chars)."""
    shift = 0
    m = _LOOKBEHIND_PREFIX_RE.match(pattern)
    if m:
        prefix = m.group(1)
        shift = len(_LB_UNIT_RE.findall(prefix))
        pattern = prefix + pattern[m.end() :]
    expanded = _expand_backreference(pattern)
    if expanded is not None:
        pattern = expanded
    validate_shared_regex(pattern, ctx)
    return pattern, shift


def validate_string(s: YaraString) -> None:
    """Reject modifier combinations outside the supported subset."""
    ctx = f" (string {s.identifier})"
    has_xor = s.xor_min is not None
    has_b64 = s.base64_mod or s.base64wide
    if s.is_hex:
        if s.nocase or s.wide or s.fullword or has_xor or has_b64:
            raise YaraUnsupportedError(f"hex strings take no modifiers{ctx}")
        hex_to_regex(s.pattern, ctx)
        return
    if has_xor:
        # yara forbids xor with nocase/base64*; regex can't carry it; the
        # wide/fullword combinations are legal yara but outside this
        # engine's validated subset — reject loudly rather than guess.
        if s.nocase or has_b64 or s.is_regex or s.wide or s.fullword:
            raise YaraUnsupportedError(
                f"'xor' only supported on plain ascii literals{ctx}"
            )
        if not (0 <= s.xor_min <= s.xor_max <= 0xFF):
            raise YaraUnsupportedError(
                f"xor range 0x{s.xor_min:02x}-0x{s.xor_max:02x} invalid{ctx}"
            )
        if not s.pattern.isascii():
            raise YaraUnsupportedError(
                f"'xor' on a non-ascii literal{ctx}"
            )
        if not xor_variants(s.pattern, s.xor_min, s.xor_max):
            raise YaraUnsupportedError(
                f"every xor key in 0x{s.xor_min:02x}-0x{s.xor_max:02x} "
                f"produces bytes >= 0x80, unmatchable in a text column{ctx}"
            )
        return
    if has_b64:
        # yara forbids base64* with nocase/fullword/xor; 'wide' is
        # expressed via base64wide, not the wide flag
        if s.nocase or s.fullword or s.is_regex or s.wide:
            raise YaraUnsupportedError(
                f"'base64'/'base64wide' only supported on plain ascii "
                f"literals{ctx}"
            )
        if not s.pattern.isascii():
            raise YaraUnsupportedError(f"'base64' on a non-ascii literal{ctx}")
        if len(s.pattern) < 3:
            raise YaraUnsupportedError(
                f"'base64' literals must be >= 3 bytes (yara rule){ctx}"
            )
        if s.base64_alphabet is not None:
            a = s.base64_alphabet
            if len(a) != 64 or len(set(a)) != 64:
                raise YaraUnsupportedError(
                    f"base64 alphabet must be 64 distinct chars{ctx}"
                )
            if any(not (0x01 <= ord(c) <= 0x7F) for c in a):
                raise YaraUnsupportedError(
                    f"base64 alphabet chars outside 0x01-0x7f cannot "
                    f"match a text column{ctx}"
                )
        return
    if s.wide and s.is_regex:
        raise YaraUnsupportedError(f"'wide' on regex strings{ctx}")
    if s.wide and s.fullword:
        raise YaraUnsupportedError(f"'wide fullword' combination{ctx}")
    if s.is_regex:
        validate_shared_regex(s.pattern, ctx)


def literal_needles(s: YaraString) -> list[str]:
    """The literal forms of a string that is not regex or hex, as they
    occur in the text: ascii and/or wide, one per xor key, or the base64
    alignments (each as base64 and/or base64wide). The one source of a
    literal's forms: `_core_forms` renders them as regexes, and the
    Arrow kernel's occurrence walk (matcher.occurrence_walk) finds them."""
    if s.xor_min is not None:
        return xor_variants(s.pattern, s.xor_min, s.xor_max)
    if s.base64_mod or s.base64wide:  # custom alphabet handled inside
        forms = []
        for v in base64_variants(s.pattern, s.base64_alphabet):
            if s.base64_mod:
                forms.append(v)
            if s.base64wide:
                forms.append(wide_interleave(v))
        return forms
    forms = []
    if s.ascii_form:
        forms.append(s.pattern)
    if s.wide:
        forms.append(wide_interleave(s.pattern))
    return forms


def _core_forms(s: YaraString) -> list[str]:
    """Regex core(s) before fullword wrapping / flags: one entry per
    encoding form (ascii and/or wide, xor key, base64 alignment)."""
    if s.is_hex:
        return [hex_to_regex(s.pattern, f" (string {s.identifier})")]
    if s.is_regex:
        return [f"(?:{s.pattern})"]
    return [regex_literal(v) for v in literal_needles(s)]


def _flags_and_core(s: YaraString, engine: str | None) -> tuple[str, str]:
    """(flag chars, regex core) of `s` under `engine`; with no engine,
    the core is the string's forms alone, without fullword borders."""
    validate_string(s)
    cores = _core_forms(s)
    core = cores[0] if len(cores) == 1 else "(?:" + "|".join(cores) + ")"
    if s.fullword and engine == "re2":
        core = f"(?:^|[^0-9A-Za-z])(?:{core})(?:$|[^0-9A-Za-z])"
    elif s.fullword and engine == "lookaround":
        core = f"(?<!{_WORD_CLASS})(?:{core})(?!{_WORD_CLASS})"
    return ("i" if s.nocase else "") + ("s" if s.is_hex else ""), core


def boolean_regex(s: YaraString, engine: str) -> str:
    """The full match-anywhere regex for one string under `engine`:
    'lookaround' (Python re / Java regex) or 're2' (pyarrow / DuckDB)."""
    flag_chars, core = _flags_and_core(s, engine)
    # one combined global-flags group (Python re requires global flags at
    # position 0, and only one group there)
    return (f"(?{flag_chars})" if flag_chars else "") + core


def scoped_re2_regex(s: YaraString) -> str:
    """The RE2 mask of one string in the Arrow kernel, flags scoped to one
    group so it can stand as one alternative of a larger alternation:
    `boolean_regex(s, "re2")`, but for a literal kind only its forms. The
    kernel's occurrence walk tests fullword borders on the row text, and
    under `(?i)` RE2 folds U+017F and the Kelvin sign into the border's
    word class, so a bordered mask would miss a hit next to them."""
    literal = not (s.is_regex or s.is_hex)
    flag_chars, core = _flags_and_core(s, None if literal else "re2")
    return f"(?{flag_chars}:{core})"


def capture_regex(s: YaraString) -> re.Pattern:
    """Compiled Python regex for matched-string offset extraction (the
    lookaround form, so the captured data excludes boundary chars just as
    yara-x reports it)."""
    return re.compile(boolean_regex(s, "lookaround"))
