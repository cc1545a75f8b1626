"""The compiled signature engine behind the Arrow matcher (P5 + J3/J4).

The reference compiles all YARA rules into ONE shared automaton at startup
and reuses it across threads (src/main.rs:780-851, fresh cheap Scanner per
row, src/modules/filesystem_scan.rs:1010-1011). The Spark analog:

* the SignatureSet is pickled once on the driver and broadcast;
* each executor PROCESS compiles it exactly once into a `CompiledEngine`
  (module-level cache keyed by the payload's sha256, `_engine_for`) and
  reuses it for every Arrow batch — the "compile-once shared automaton"
  pattern at executor granularity;
* the batch kernels live in arrow_matcher.py; this module holds the
  engine and the mask-algebra pieces they evaluate conditions with
  (`ExtBits`, `TextOps`, `_MaskBackend`) plus the matched-string
  formatting.

Match semantics mirrored from src/modules/filesystem_scan.rs:1002-1136:
* rule score from meta.score, default 75, valid iff 0 < s <= 100;
* matched strings formatted "{identifier}: {value} @ {offset}" with
  printable text quoted/escaped and non-printable hex-encoded
  (format_yara_matched_data, ibid.:986-1000). Offsets here are character
  offsets; for the ASCII corpus these equal the reference's byte offsets;
* rules report in definition order; per-row YARA match cap 100.
"""

from __future__ import annotations

import hashlib
import re
from dataclasses import dataclass
from functools import reduce

import numpy as np

from ..signatures.compile import capture_regex, literal_probe
from ..signatures.conditions import (
    ExtPred,
    cmp_int,
    collect_ext_atoms,
    fold_case,
    render_condition,
)
from ..signatures.model import SignatureSet, YaraRule

# compiled forms of ioc_join's host/IPv4 patterns (identical subset in
# Java regex / RE2 / Python re — see ioc_join.HOST_PATTERN)
from .ioc_join import HOST_PATTERN, IPV4_PATTERN

_HOST_RX = re.compile(HOST_PATTERN)
_IPV4_RX = re.compile(IPV4_PATTERN)

MAX_YARA_MATCHES = 100

_PRINTABLE_EXTRA = {"\t", "\n", "\r"}


def format_matched_data(value: str) -> str:
    """Mirror of format_yara_matched_data (filesystem_scan.rs:986-1000):
    printable text (control chars only \\t \\n \\r allowed) is quoted with
    Rust escape_debug-style escaping, else hex of the UTF-8 bytes."""
    if all(c.isprintable() or c in _PRINTABLE_EXTRA for c in value):
        escaped = (
            value.replace("\\", "\\\\")
            .replace("'", "\\'")
            .replace('"', '\\"')
            .replace("\n", "\\n")
            .replace("\t", "\\t")
            .replace("\r", "\\r")
        )
        return f"'{escaped}'"
    return value.encode("utf-8").hex()


def string_occurrence_lines(s, rx: re.Pattern, row_text: str) -> list[str]:
    """Formatted matched_strings entries ("$id: 'data' @ offset") for one
    FIRED string on one row (arrow_matcher.match_record_batch).

    Three yara-x output semantics live here:
    * `private` strings are suppressed from output (they still feed the
      condition — the caller only reaches this after the rule fired);
    * the lookbehind transpile's report_shift is added back: offset
      + shift, matched data minus the literal prefix (each prefix unit
      matches exactly one char, so shift chars = the prefix match);
    * plain literals enumerate ALL overlapping occurrences with a +1-step
      find walk (re.finditer is non-overlapping), nocase ones over the
      length-keeping `fold_case` of the text, so offsets and slices
      follow the row text and case folds as the RE2 mask does (Python
      `re`'s IGNORECASE folds U+0130 into 'i'; RE2 does not).

    Documented output-only divergence (round-6 ADVICE, low): REGEX
    strings — including lookbehind/backref transpiles — enumerate
    occurrences with non-overlapping finditer, so a rewritten pattern
    that can self-overlap (e.g. '(?<=ab)ab' on 'ababab') reports fewer
    matched_strings entries than yara-x would. Rule FIRING is unaffected
    (the boolean kernels test containment, not counts), and a stepped
    re-enumeration for arbitrary regexes would have to answer
    leftmost-longest-vs-all-starts questions yara-x itself answers
    differently per engine — so the divergence is pinned here instead."""
    if s.private:
        return []
    out: list[str] = []
    probe = literal_probe(s)
    if probe is not None:
        needle, nocase = probe
        pin = fold_case(needle) if nocase else needle
        hay = fold_case(row_text) if nocase else row_text
        start = 0
        while True:
            pos = hay.find(pin, start)
            if pos < 0:
                return out
            data = row_text[pos : pos + len(pin)]
            out.append(f"{s.identifier}: {format_matched_data(data)} @ {pos}")
            start = pos + 1
    shift = s.report_shift
    for m in rx.finditer(row_text):
        out.append(
            f"{s.identifier}: {format_matched_data(m.group(0)[shift:])}"
            f" @ {m.start() + shift}"
        )
    return out


@dataclass
class _CompiledYaraRule:
    rule: YaraRule
    patterns: list[tuple[str, re.Pattern]]  # (identifier, capture regex)
    ast: object  # parsed condition (signatures/conditions.py)
    strings_by_ident: dict  # identifier -> YaraString


class ExtBits:
    """External-variable atom truth for a batch, decoded from the packed
    int64 bitmask the pipeline computes JVM-side (see
    conditions.collect_ext_atoms): atom i's per-row truth is bit i. The
    expensive string work (extension extraction, filetype classification,
    contains/regex on tool/role) thus runs in whole-stage codegen, and the
    Python bridge carries 8 bytes per row instead of the strings."""

    def __init__(
        self, bits: np.ndarray, atom_index: dict[ExtPred, int]
    ) -> None:
        self.bits = bits
        self.atom_index = atom_index

    def pred(self, p: ExtPred) -> np.ndarray:
        idx = self.atom_index[p]
        return (self.bits >> idx) & 1 == 1


class TextOps:
    """Vectorized count/in/offset primitives for the yara count/offset
    operators (plain-ascii-literal subset, guaranteed by
    conditions.validate_condition_ops), evaluated over a batch's UNIQUE
    texts (`text_c.kernel_input`, see arrow_matcher._CompactCol) and
    scattered back to rows by `text_c.expand`.

    The string operators run on the atom candidates `cand` only: a unique
    outside them holds no occurrence of any string
    (CompiledEngine.atom_programs), so its counts are 0 and its in/from
    reads False, exactly what the kernels would return. A nocase read
    folds case as the string's own mask does (RE2's `ignore_case`). Only
    the string-free reads (uint, filesize) read every unique.

    Offsets are CHARACTER offsets — the matched_strings '@ {offset}'
    convention — computed with codepoint-exact kernels
    (utf8_slice_codeunits slices by codepoint; RE2 '.' consumes one
    codepoint)."""

    def __init__(self, text_c, cand: np.ndarray) -> None:
        import pyarrow as pa

        self.text_c = text_c
        self.cand = cand
        self.every = text_c.kernel_input
        self.sub = self.every.take(pa.array(cand, type=pa.int64()))

    def _gated(self, values: np.ndarray, fill) -> np.ndarray:
        return self.text_c.expand(values, fill, at=self.cand)

    def counts(self, needle: str, nocase: bool) -> np.ndarray:
        import pyarrow.compute as pc

        from ..signatures.conditions import _has_proper_border, overlap_count

        out = pc.count_substring(self.sub, needle, ignore_case=nocase)
        counts = (
            pc.fill_null(out, 0)
            .to_numpy(zero_copy_only=False)
            .astype("int64")
        )
        needle_f = fold_case(needle) if nocase else needle
        if _has_proper_border(needle_f):
            # yara-x counts ALL occurrences including overlapping ones;
            # pc.count_substring is non-overlapping. Recount only the
            # sparse hit values (the vectorized kernel is the prefilter)
            # with the +1-step walk — same sparse pattern as nth_offsets.
            for i in np.nonzero(counts > 0)[0]:
                t = self.sub[int(i)].as_py()
                tf = fold_case(t) if nocase else t
                counts[i] = overlap_count(tf, needle_f)
        return self._gated(counts, 0)

    def uint_at_mask(self, needle: str, offset: int) -> np.ndarray:
        """A uintN read: `needle` at character `offset` of every unique
        text (no string involved, so no gate)."""
        import pyarrow.compute as pc

        sliced = pc.utf8_slice_codeunits(
            self.every, offset, offset + len(needle)
        )
        return self.text_c.expand(
            pc.fill_null(pc.equal(sliced, needle), False)
            .to_numpy(zero_copy_only=False)
            .astype(bool),
            False,
        )

    def _contains(self, sliced, needle: str, nocase: bool) -> np.ndarray:
        import pyarrow.compute as pc

        return self._gated(
            pc.fill_null(
                pc.match_substring(sliced, needle, ignore_case=nocase),
                False,
            )
            .to_numpy(zero_copy_only=False)
            .astype(bool),
            False,
        )

    def in_mask(
        self, needle: str, nocase: bool, lo: int, hi: int
    ) -> np.ndarray:
        """Some occurrence STARTS at a character offset in [lo, hi]:
        equivalent to `needle` occurring in the codepoint slice
        [lo, hi+len(needle)) — a match inside the slice starts at slice
        position q <= hi-lo exactly when the original start is <= hi.
        Slice + substring kernels instead of an RE2 '^.{lo,hi}' anchor,
        so there is NO bounded-repetition cap on the window. `$s at N` is
        the window [N, N]."""
        import pyarrow.compute as pc

        sliced = pc.utf8_slice_codeunits(self.sub, lo, hi + len(needle))
        return self._contains(sliced, needle, nocase)

    def from_mask(self, needle: str, nocase: bool, lo: int) -> np.ndarray:
        """Some occurrence starts at character offset >= lo (the 'for'
        quantifier's ExistsFrom atom): `needle` occurs in the open-ended
        codepoint slice [lo, end) — slice + substring kernels, no RE2
        bounded-repetition cap."""
        import pyarrow.compute as pc

        sliced = pc.utf8_slice_codeunits(self.sub, lo)
        return self._contains(sliced, needle, nocase)

    def lengths(self) -> np.ndarray:
        """Character lengths (codepoints; NULL -> 0) — the filesize
        analog's length convention, shared with F.length / DuckDB
        length() / Python len()."""
        import pyarrow.compute as pc

        return self.text_c.expand(
            pc.fill_null(pc.utf8_length(self.every), 0)
            .to_numpy(zero_copy_only=False)
            .astype("int64"),
            0,
        )

    def nth_offsets(
        self, needle: str, nocase: bool, index: int, rows: np.ndarray
    ) -> dict[int, int]:
        """Character offset of the 1-based `index`-th occurrence for each
        row in `rows` (rows with fewer occurrences are omitted). Python
        str.find walk, once per unique text — only runs on the sparse
        mask-true rows."""
        needle_f = fold_case(needle) if nocase else needle
        row_u = self.text_c.codes
        per_unique: dict[int, int] = {}
        out: dict[int, int] = {}
        for i in rows:
            u = int(row_u[int(i)])
            if u not in per_unique:
                t = self.every[u].as_py()
                tf = fold_case(t) if nocase else t
                pos, found, start = -1, 0, 0
                while found < index:
                    pos = tf.find(needle_f, start)
                    if pos < 0:
                        break
                    start = pos + 1  # +1: OVERLAPPING occurrences
                    found += 1
                per_unique[u] = pos if found == index and pos >= 0 else -1
            if per_unique[u] >= 0:
                out[int(i)] = per_unique[u]
        return out


class _MaskBackend:
    """Condition evaluation over numpy boolean masks — fully vectorized:
    every AST node maps to one array op over the whole batch (the @[i]
    offset walk alone is per-row, on mask-true rows only)."""

    def __init__(
        self,
        ident_masks: list[tuple[str, np.ndarray]],
        n_rows: int,
        ext,
        text_ops: TextOps,
        strings_by_ident: dict,
    ) -> None:
        self.ident_masks = ident_masks
        self.masks = dict(ident_masks)
        self.n_rows = n_rows
        self.ext = ext
        self.text_ops = text_ops
        self.strings_by_ident = strings_by_ident

    def count_cmp(self, node) -> np.ndarray:
        s = self.strings_by_ident[node.identifier]
        counts = self.text_ops.counts(s.pattern, s.nocase)
        return cmp_int(node.op, counts, node.value)

    def at_expr(self, node) -> np.ndarray:
        s = self.strings_by_ident[node.identifier]
        return self.text_ops.in_mask(
            s.pattern, s.nocase, node.offset, node.offset
        )

    def in_expr(self, node) -> np.ndarray:
        s = self.strings_by_ident[node.identifier]
        return self.text_ops.in_mask(s.pattern, s.nocase, node.lo, node.hi)

    def offset_cmp(self, node) -> np.ndarray:
        s = self.strings_by_ident[node.identifier]
        base = self.masks[node.identifier]
        offsets = self.text_ops.nth_offsets(
            s.pattern, s.nocase, node.index, np.nonzero(base)[0]
        )
        out = np.zeros(self.n_rows, dtype=bool)
        for i, pos in offsets.items():
            out[i] = cmp_int(node.op, pos, node.value)
        return out

    def exists_from(self, node) -> np.ndarray:
        s = self.strings_by_ident[node.identifier]
        return self.text_ops.from_mask(s.pattern, s.nocase, node.lo)

    def bool_lit(self, node) -> np.ndarray:
        return np.full(self.n_rows, node.value, dtype=bool)

    def size_cmp(self, node) -> np.ndarray:
        return cmp_int(node.op, self.text_ops.lengths(), node.value)

    def uint_cmp(self, node) -> np.ndarray:
        eq = self.text_ops.uint_at_mask(node.needle, node.offset)
        if node.op == "eq":
            return eq
        # '!=' is false on out-of-bounds reads (yara undefined semantics)
        long_enough = self.text_ops.lengths() >= node.offset + node.size
        return long_enough & ~eq

    def str_ref(self, ident: str) -> np.ndarray:
        return self.masks[ident]

    def of_them(self, node) -> np.ndarray:
        from ..signatures.conditions import selector_matches

        selected = [
            m
            for ident, m in self.ident_masks
            if selector_matches(node.selector, ident)
        ]
        needed = (
            1
            if node.n == "any"
            else len(selected)
            if node.n == "all"
            else int(node.n)
        )
        counts = np.zeros(self.n_rows, dtype="int32")
        for m in selected:
            counts += m
        return counts >= needed

    def ext_pred(self, p: ExtPred) -> np.ndarray:
        return self.ext.pred(p)

    def and_(self, items):
        return reduce(np.logical_and, items)

    def or_(self, items):
        return reduce(np.logical_or, items)

    def not_(self, x):
        return ~x


# Size cap of one atom program, in pattern characters. RE2 runs an
# alternation as one DFA; past some tens of thousands of characters of
# xor-variant literals the DFA outgrows RE2's default memory budget and
# falls back to the NFA, dozens of times slower (40 xor strings over the
# 20k unique texts of a bulk_scan batch, one thread of a 4-core x86 host:
# 7.0 s as three ~64k-character programs, 0.26 s as ten of at most 16k).
ATOM_PROGRAM_MAX_CHARS = 16_384


def atom_programs(rules) -> list[str]:
    """The OR of every YARA string's RE2 boolean regex, flags scoped per
    alternative, split into programs of at most ATOM_PROGRAM_MAX_CHARS
    (one alternative longer than that is a program of its own). A text
    matches some program iff it holds an occurrence of some string, so
    every string mask is False on a text that matches none, and so is
    every TextOps string read: count/at/in/offset operators read only
    plain literals (conditions.validate_condition_ops), whose regex is
    the literal itself."""
    from ..signatures.compile import scoped_re2_regex

    atoms = dict.fromkeys(
        scoped_re2_regex(s) for rule in rules for s in rule.strings
    )
    programs: list[str] = []
    for atom in atoms:
        if programs and (
            len(programs[-1]) + 1 + len(atom) <= ATOM_PROGRAM_MAX_CHARS
        ):
            programs[-1] += "|" + atom
        else:
            programs.append(atom)
    return programs


class CompiledEngine:
    """Per-executor compiled signature engine: the filename IOCs, the
    YARA rules with their capture regexes and parsed conditions, the
    atom programs that gate every YARA string kernel (`atom_programs`;
    arrow_matcher._batch_masks runs them once per batch and the string
    kernels only on the texts they match), the ext-bit atom order and
    the C2 lookup table."""

    def __init__(self, sigs: SignatureSet) -> None:
        self.fname = list(sigs.filename_iocs)
        self.atom_programs = atom_programs(sigs.yara_rules)
        self.yara: list[_CompiledYaraRule] = []
        for rule in sigs.yara_rules:
            patterns = [
                (s.identifier, capture_regex(s)) for s in rule.strings
            ]
            self.yara.append(
                _CompiledYaraRule(
                    rule,
                    patterns,
                    rule.condition_ast,
                    {s.identifier: s for s in rule.strings},
                )
            )
        self.atom_index = {
            atom: i for i, atom in enumerate(collect_ext_atoms(sigs))
        }
        # J4: C2 IOC hash table for the arrow matcher's scale path. The
        # reference walks the IOC list linearly per remote address
        # (src/main.rs:614-635, first match wins); here one dict probe
        # per DISTINCT SERVER LENGTH replaces the walk — raw-endswith
        # semantics ("xbad.net" DOES match IOC "bad.net", main.rs:629)
        # reduce to host[-len(server):] == server, so probing each
        # length present in the corpus is exhaustive. Sub-linear in IOC
        # count: 5,000 IOCs of ~10 distinct lengths cost 10 probes/host.
        self.c2 = list(sigs.c2_iocs)
        self.c2_table: dict[str, tuple[int, int, str]] = {}
        for order, ioc in enumerate(self.c2):
            # duplicate servers: first in file order wins
            self.c2_table.setdefault(
                ioc.server, (order, ioc.score, ioc.description)
            )
        self.c2_lengths = sorted({len(s) for s in self.c2_table})

    def c2_lookup(self, host: str) -> tuple[int, int, str] | None:
        """First-match-wins C2 IOC for one (lowercased) host token:
        exact-only for IPv4 remotes, raw suffix-or-equality for domains
        (src/main.rs:614-635). Returns (order, score, description)."""
        if _IPV4_RX.fullmatch(host):
            return self.c2_table.get(host)
        best = None
        for length in self.c2_lengths:
            if length > len(host):
                break
            entry = self.c2_table.get(host[-length:])
            if entry is not None and (best is None or entry[0] < best[0]):
                best = entry
        return best


_ENGINE_CACHE: dict[str, CompiledEngine] = {}


def _engine_for(payload: bytes) -> CompiledEngine:
    key = hashlib.sha256(payload).hexdigest()
    engine = _ENGINE_CACHE.get(key)
    if engine is None:
        engine = CompiledEngine(SignatureSet.from_payload(payload))
        _ENGINE_CACHE[key] = engine
    return engine
