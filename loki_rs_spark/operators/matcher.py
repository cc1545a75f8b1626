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
  engine, the condition algebra they evaluate rules with (`ExtBits`,
  `_MaskBackend`), the per-string occurrence walks and the
  matched-string formatting. Every read of every YARA string — `$s`,
  `#s`, `at`, `in`, `@s[i]` and its matched strings — derives from one
  list per batch: the string's occurrences (`occurrence_walk`, run by
  arrow_matcher._Candidates.read), as yara-x reads them all from one
  match list;
* the first engine build in a process also makes
  `importlib.invalidate_caches()` cheap there
  (`_stamped_zip_invalidation`). PySpark calls it at the start of every
  Python task, and before CPython 3.13 each zipimporter answers it by
  re-reading its archive's whole central directory: 16 of them over
  pyspark.zip, the spark-core jar and the py4j zip, 0.1-0.26 s of CPU per
  task. After it, an archive is re-read only when it changed, as in 3.13.

Match semantics mirrored from src/modules/filesystem_scan.rs:1002-1136:
* rule score from meta.score, default 75, valid iff 0 < s <= 100;
* matched strings formatted "{identifier}: {value} @ {offset}" with
  printable text quoted/escaped and non-printable hex-encoded
  (format_yara_matched_data, ibid.:986-1000). Offsets here are character
  offsets; for the ASCII corpus these equal the reference's byte offsets;
* rules report in definition order; per-row match cap config.MAX_MATCHES.
"""

from __future__ import annotations

import hashlib
import os
import re
import string
import sys
import zipimport
from bisect import bisect_left
from functools import reduce
from operator import itemgetter

import numpy as np
import pyarrow.compute as pc

from ..signatures.compile import capture_regex, literal_needles, scoped_re2_regex
from ..signatures.conditions import ExtPred, cmp_int, collect_ext_atoms, fold_case
from ..signatures.model import SignatureSet

# compiled forms of ioc_join's host/IPv4 patterns (identical subset in
# Java regex / RE2 / Python re — see ioc_join.HOST_PATTERN)
from .ioc_join import HOST_PATTERN, IPV4_PATTERN

_HOST_RX = re.compile(HOST_PATTERN)
_IPV4_RX = re.compile(IPV4_PATTERN)

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


def string_occurrence_lines(s, occurrences) -> list[str]:
    """Formatted matched_strings entries ("$id: 'data' @ offset") for one
    string's `occurrences` on one row of a FIRED rule; `private` strings
    are suppressed from output (they still feed the condition)."""
    if s.private:
        return []
    return [
        f"{s.identifier}: {format_matched_data(data)} @ {pos}"
        for pos, data in occurrences
    ]


_WORD_CHARS = frozenset(string.ascii_letters + string.digits)


def occurrence_walk(s):
    """The one occurrence read of YARA string `s`: a function from a row
    text to the (character offset, matched data) of its every match,
    ascending by offset, which `$s`, `#s`, `at`, `in`, `@s[i]` and the
    matched strings all derive from.

    * A literal kind (not regex or hex) walks each of its
      `literal_needles` with `str.find` and a +1 step, so overlapping
      occurrences count too (yara-x's all-positions semantics); a nocase
      one over the length-keeping `fold_case` of the text. A fullword
      hit needs a non-[0-9A-Za-z] border on both sides in the row text.
      Hits of several forms merge by offset, in form order at a tie.
    * A regex or hex string enumerates its capture regex, with the
      lookbehind transpile's report_shift added back: offset + shift,
      matched data minus the literal prefix (one char per prefix unit).
      Documented divergence (round-6 ADVICE, low): finditer does not
      overlap, so a self-overlapping rewrite ('(?<=ab)ab' on 'ababab')
      reports fewer matches than yara-x, whose engines answer
      leftmost-longest-vs-all-starts differently per engine."""
    if s.is_regex or s.is_hex:
        rx, shift = capture_regex(s), s.report_shift
        return lambda text: [
            (m.start() + shift, m.group(0)[shift:]) for m in rx.finditer(text)
        ]
    fold = fold_case if s.nocase else str
    needles = [fold(n) for n in literal_needles(s)]

    def walk(text: str) -> list[tuple[int, str]]:
        hay, found = fold(text), []
        for needle in needles:
            width, pos = len(needle), -1
            while (pos := hay.find(needle, pos + 1)) >= 0:
                if s.fullword and (
                    text[pos - 1 : pos] in _WORD_CHARS
                    or text[pos + width : pos + width + 1] in _WORD_CHARS
                ):
                    continue
                found.append((pos, text[pos : pos + width]))
        return sorted(found, key=itemgetter(0)) if len(needles) > 1 else found

    return walk


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


class _MaskBackend:
    """Condition evaluation over numpy boolean masks: every AST node maps
    to array ops over the whole batch. `reads` holds one (row mask,
    occurrences) per string of the rule, from one read of each string
    (arrow_matcher._Candidates.read); `occurrences` maps each unique
    holding the string to its (offset, data) list, ascending by offset.
    The count/at/in/offset operators derive from those lists, one Python
    read per hit unique, gathered to rows by `text_c.expand`. The
    string-free reads (uint, filesize) read every unique of `text_c`.

    Offsets are CHARACTER offsets — the matched_strings '@ {offset}'
    convention."""

    def __init__(self, strings, reads, text_c, ext) -> None:
        self.ident_masks = [
            (s.identifier, mask) for s, (mask, _) in zip(strings, reads)
        ]
        self.masks = dict(self.ident_masks)
        self.occurrences = {
            s.identifier: occ for s, (_, occ) in zip(strings, reads)
        }
        self.text_c = text_c
        self.n_rows = text_c.n
        self.ext = ext

    def _read(self, ident: str, read, fill) -> np.ndarray:
        """`read(occurrences)` on every unique holding string `ident`,
        `fill` on every other row."""
        occ = self.occurrences[ident]
        return self.text_c.expand(
            np.array([read(o) for o in occ.values()], dtype=type(fill)),
            fill,
            at=np.fromiter(occ, np.int64, len(occ)),
        )

    def count_cmp(self, node) -> np.ndarray:
        counts = self._read(node.identifier, len, 0)
        return cmp_int(node.op, counts, node.value)

    def at_expr(self, node) -> np.ndarray:
        return self._window(node.identifier, node.offset, node.offset)

    def in_expr(self, node) -> np.ndarray:
        return self._window(node.identifier, node.lo, node.hi)

    def _window(self, ident: str, lo: int, hi: int) -> np.ndarray:
        """Some occurrence starts at a character offset in [lo, hi]."""

        def starts_in(occ: list[tuple[int, str]]) -> bool:
            k = bisect_left(occ, lo, key=itemgetter(0))
            return k < len(occ) and occ[k][0] <= hi

        return self._read(ident, starts_in, False)

    def offset_cmp(self, node) -> np.ndarray:
        i = node.index

        def nth(occ: list[tuple[int, str]]) -> bool:
            return len(occ) >= i and cmp_int(node.op, occ[i - 1][0], node.value)

        return self._read(node.identifier, nth, False)

    def exists_from(self, node) -> np.ndarray:
        return self._read(
            node.identifier, lambda occ: occ[-1][0] >= node.lo, False
        )

    def bool_lit(self, node) -> np.ndarray:
        return np.full(self.n_rows, node.value, dtype=bool)

    def _lengths(self) -> np.ndarray:
        """Character lengths (codepoints; NULL -> 0) — the filesize
        analog's length convention, shared with F.length / DuckDB
        length() / Python len()."""
        lengths = pc.fill_null(pc.utf8_length(self.text_c.kernel_input), 0)
        return self.text_c.expand(
            lengths.to_numpy(zero_copy_only=False).astype("int64"), 0
        )

    def size_cmp(self, node) -> np.ndarray:
        return cmp_int(node.op, self._lengths(), node.value)

    def uint_cmp(self, node) -> np.ndarray:
        """`node.needle` at character `node.offset` of every unique text
        (utf8_slice_codeunits slices by codepoint)."""
        sliced = pc.utf8_slice_codeunits(
            self.text_c.kernel_input,
            node.offset,
            node.offset + len(node.needle),
        )
        eq = self.text_c.expand(
            pc.fill_null(pc.equal(sliced, node.needle), False)
            .to_numpy(zero_copy_only=False)
            .astype(bool),
            False,
        )
        if node.op == "eq":
            return eq
        # '!=' is false on out-of-bounds reads (yara undefined semantics)
        long_enough = self._lengths() >= node.offset + node.size
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


def atom_programs(mask_regexes) -> list[str]:
    """The OR of the distinct RE2 masks of every YARA string (each with
    its flags scoped, `scoped_re2_regex`), split into programs of at most
    ATOM_PROGRAM_MAX_CHARS (one alternative longer than that is a program
    of its own). A text matches some program iff it matches some
    string's mask, and a mask matches every text on which its string's
    occurrence walk finds a match, so every string read is empty on a
    text that matches none: a literal's mask is its forms without
    fullword borders, and a nocase literal's `(?i:...)` matches every
    text whose `fold_case` holds the literal's fold."""
    programs: list[str] = []
    for atom in dict.fromkeys(mask_regexes):
        if programs and (
            len(programs[-1]) + 1 + len(atom) <= ATOM_PROGRAM_MAX_CHARS
        ):
            programs[-1] += "|" + atom
        else:
            programs.append(atom)
    return programs


class CompiledEngine:
    """Per-executor compiled signature engine: the filename IOCs, the
    YARA rules with their parsed conditions, the RE2 mask and occurrence
    walk of every string, the atom programs that gate every YARA string
    read (`atom_programs`; arrow_matcher._batch_masks runs them once per
    batch and the string reads only on the texts they match), the
    ext-bit atom order and the C2 lookup table."""

    def __init__(self, sigs: SignatureSet) -> None:
        self.fname = list(sigs.filename_iocs)
        self.yara = [(rule, rule.condition_ast) for rule in sigs.yara_rules]
        strings = [s for rule in sigs.yara_rules for s in rule.strings]
        self.mask_regexes = {s: scoped_re2_regex(s) for s in strings}
        self.walks = {s: occurrence_walk(s) for s in strings}
        self.atom_programs = atom_programs(self.mask_regexes.values())
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


def _stamped_zip_invalidation() -> None:
    """Replace `zipimporter.invalidate_caches` (once per process; a no-op
    on CPython >= 3.13, whose zipimporter is lazy already) with one that
    re-reads an archive's central directory only when the archive's
    `(st_mtime_ns, st_size)` differs from the stamp taken when this
    importer last read it. An importer with no stamp yet re-reads and
    records one; the stamp is taken before the read, so a rewrite during
    the read is caught by the next call."""
    cls = zipimport.zipimporter
    if sys.version_info >= (3, 13) or getattr(
        cls, "_stamped_invalidation", False
    ):
        return
    reread = cls.invalidate_caches

    def invalidate_caches(self) -> None:
        try:
            st = os.stat(self.archive)
            stamp = (st.st_mtime_ns, st.st_size)
        except OSError:
            stamp = None
        if stamp is None or stamp != getattr(self, "_archive_stamp", None):
            reread(self)
            self._archive_stamp = stamp

    cls.invalidate_caches = invalidate_caches
    cls._stamped_invalidation = True


_ENGINE_CACHE: dict[str, CompiledEngine] = {}


def _engine_for(payload: bytes) -> CompiledEngine:
    key = hashlib.sha256(payload).hexdigest()
    engine = _ENGINE_CACHE.get(key)
    if engine is None:
        _stamped_zip_invalidation()
        engine = CompiledEngine(SignatureSet.from_payload(payload))
        _ENGINE_CACHE[key] = engine
    return engine
