"""Arrow-native multi-pattern matcher — the one UDF matcher for P5/J3/J4.

The matcher stays in Arrow end to end:

* a scalar `arrow_udf` (iterator form) ships only the text, tool and
  packed ext_bits columns across the Python bridge;
* every kernel runs over the batch's dictionary-encoded unique values
  and gathers back to rows through the codes (`_CompactCol`);
* one pass of the engine's atom programs (the OR of every YARA string's
  RE2 mask) over the unique texts picks the candidates, and each YARA
  string is read ONCE over them (`_Candidates.read`): one
  `pyarrow.compute.match_substring_regex` of its RE2 mask, then its
  occurrence walk (matcher.occurrence_walk: a +1-step find walk of each
  literal form, a capture-regex walk of a regex or hex string) on the
  candidates the mask hits. A string holds on a row iff the walk finds
  an occurrence there, and `#s`, `at`, `in`, `@s[i]` and its matched
  strings all derive from the same list, as yara-x reads them from one
  match list;
* per-rule condition algebra on numpy boolean masks;
* Python-level work (occurrence walks, reason building) happens only for
  the sparse hit values, and the output list<struct> arrays are built
  from offsets + flat values (no per-row Python lists for misses);
* the reasons leave the kernel in the pipeline's final shape
  (ioc_join.REASON_TYPE, messages included), so the Spark side only
  concatenates them with the hash reasons.

The matcher (`match_record_batch`) renders the fired masks of one mask
pass (`_batch_masks`) as reasons, and `make_arrow_matcher_udf` is its one
UDF: score-only scans project the reasons' `score` field on the Spark
side. `match_scores_record_batch` is that projection at kernel level.

Pattern-dialect note: the masks run in RE2, and the occurrence walks of
regex and hex strings in Python `re`; a row holds a string only where
the walk finds it, so RE2 is only the filter in front of it. The walk
finds nothing RE2 misses on the supported subset (RE2-compatible
regexes, no backreferences/lookaround) except one case fold: Python
`re` folds U+0130 into a nocase regex's `i`, RE2 does not. Literal kinds
never reach Python `re`: their walk is `str.find` over the `fold_case`d
text, which RE2's `(?i)` mask covers. Parity with the reference scanner
is enforced by tests/test_pipeline.py and tests/test_truth_tables.py.

Mirrors the reference's compile-once automaton sharing (src/main.rs:780-851)
via the per-executor `matcher._engine_for` cache. Its first build in a
Python worker process also makes the `importlib.invalidate_caches()` that
PySpark runs at the start of every task cheap
(`matcher._stamped_zip_invalidation`), so the worker's later tasks no
longer re-read its zip archives (pyspark.zip, the spark-core jar, py4j).
"""

from functools import cached_property
from typing import Iterator, Tuple

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import SparkSession

from ..config import MAX_MATCHES
from ..signatures.conditions import render_condition
from ..signatures.model import SignatureSet
from .ioc_join import (
    C2_GATE_MAX_LITERALS,
    C2_MSG,
    FNAME_MSG,
    REASON_TYPE,
    YARA_MSG,
)
from .matcher import (
    ExtBits,
    _engine_for,
    _HOST_RX,
    _MaskBackend,
    string_occurrence_lines,
)

# REASON_TYPE (ioc_join.py) as a pyarrow type: executors have no JVM to
# parse the DDL, so it is declared twice (tests/test_pipeline.py pins the
# two equal).
REASON_STRUCT = pa.struct(
    [
        pa.field("message", pa.string()),
        pa.field("score", pa.int32()),
        pa.field("description", pa.string()),
        pa.field("author", pa.string()),
        pa.field("reference", pa.string()),
        pa.field("matched_strings", pa.list_(pa.string())),
    ]
)


def _mask(arr, pattern: str, *, regex: bool, ignore_case: bool = False) -> np.ndarray:
    if regex:
        m = pc.match_substring_regex(arr, pattern, ignore_case=ignore_case)
    else:
        m = pc.match_substring(arr, pattern, ignore_case=ignore_case)
    return m.to_numpy(zero_copy_only=False).astype(bool)


class _CompactCol:
    """Unique-value kernel evaluation for one string column.

    Each of the ~O(100) per-signature kernels would otherwise walk the
    full batch. The column is dictionary-encoded once: kernels run over
    its unique non-NULL values (`kernel_input`; a blank text is one of
    them) and their results gather back to rows through the codes, so
    kernel cost follows the batch's unique bytes, and rows sharing a
    value (templated tool output, retry loops, replayed logs) share its
    result. NULL rows point one past the uniques and read the caller's
    `fill`.

    Masks returned are full-batch-length and identical to running each
    kernel over the raw column, verified by the routed-row-equality tests.
    """

    def __init__(self, arr) -> None:
        enc = _as_array(arr).dictionary_encode()
        self.kernel_input = enc.dictionary
        self.n = len(enc)
        # per row, its index into `kernel_input` (NULL rows: one past it)
        self.codes = pc.fill_null(enc.indices, len(enc.dictionary)).to_numpy(
            zero_copy_only=False
        )

    def expand(
        self, values: np.ndarray, fill, at: np.ndarray | None = None
    ) -> np.ndarray:
        """Per-`kernel_input` values -> the full-batch array (NULL rows read
        `fill`). With `at`, `values` covers only `kernel_input[at]` and
        every other unique reads `fill`."""
        full = np.full(len(self.kernel_input) + 1, fill, dtype=values.dtype)
        full[slice(None, -1) if at is None else at] = values
        return full[self.codes]

    def mask(self, fn) -> np.ndarray:
        """fn(pa.Array) -> np bool mask over that array; returns the
        equivalent full-batch mask."""
        return self.expand(fn(self.kernel_input), False)


class _Candidates:
    """The atom candidates of one batch — `at`, indices into the text
    column's uniques — and the one read of each YARA string over them.
    Their texts as `str` are built once per batch, on first use."""

    def __init__(self, text_c: "_CompactCol", at: np.ndarray) -> None:
        self.at = at
        self.texts = text_c.kernel_input.take(pa.array(at, type=pa.int64()))

    @cached_property
    def strs(self) -> list[str]:
        return self.texts.to_pylist()

    def read(self, regex: str, walk):
        """One YARA string over the candidates: its RE2 mask `regex`, then
        its occurrence `walk` (matcher.occurrence_walk) on the texts the
        mask hits. Returns (the uniques holding it, occurrences):
        `occurrences` maps each unique where the walk finds a match to
        its (offset, data) list."""
        occurrences = {}
        for k in np.nonzero(_mask(self.texts, regex, regex=True))[0]:
            if found := walk(self.strs[k]):
                occurrences[int(self.at[k])] = found
        return np.fromiter(occurrences, np.int64, len(occurrences)), occurrences


def _reason_list_array(
    counts: np.ndarray, rows: dict[int, list[dict]]
) -> pa.Array:
    offsets = np.zeros(len(counts) + 1, dtype=np.int64)
    np.cumsum(counts, out=offsets[1:])
    flat: list[dict] = []
    for i in sorted(rows):
        flat.extend(rows[i])
    values = pa.array(flat, type=REASON_STRUCT)  # absent keys are NULL
    return pa.ListArray.from_arrays(
        pa.array(offsets, type=pa.int32()), values
    )


def _batch_masks(engine, batch: pa.RecordBatch):
    """The matcher's mask pass: decode the JVM-packed ext_bits,
    dictionary-encode the text/tool columns, then run every filename-IOC
    kernel and every YARA rule (`_yara_masks`). Returns
    (text_c, fname, yara): `fname` is one (mask, ioc) per filename IOC
    and `yara` one (fired, string reads, rule) per rule, both in engine
    order. `ext_bits` follows the conditions.collect_ext_atoms ordering.
    Text and tool arrive raw: the encoding keeps kernel cost proportional
    to unique bytes, and the masks are exact.

    The YARA string reads are gated: one pass of the engine's atom
    programs (the OR of every string's RE2 mask) over the unique texts
    picks the candidates, and every string read runs on those alone. A
    text matches `A|B|...` iff it matches one of them, and each mask
    matches every text its walk finds a match in (matcher.atom_programs),
    so the result equals an ungated pass's."""
    bits_np = (
        batch.column("ext_bits")
        .to_numpy(zero_copy_only=False)
        .astype("int64", copy=False)
    )
    ext = ExtBits(bits_np, engine.atom_index)
    tool_c = _CompactCol(batch.column("tool"))
    text_c = _CompactCol(batch.column("text"))

    # ---- filename IOCs (J3)
    fname = []
    for ioc in engine.fname:
        mask = tool_c.mask(lambda a: _mask(a, ioc.pattern, regex=True))
        if ioc.fp_pattern:
            mask &= ~tool_c.mask(
                lambda a: _mask(a, ioc.fp_pattern, regex=True)
            )
        fname.append((mask, ioc))

    # ---- YARA subset (P5): one atom pass, string reads on candidates
    hit = np.zeros(len(text_c.kernel_input), dtype=bool)
    for program in engine.atom_programs:
        hit |= _mask(text_c.kernel_input, program, regex=True)
    return text_c, fname, _yara_masks(engine, text_c, ext, np.nonzero(hit)[0])


def _yara_masks(engine, text_c: "_CompactCol", ext, cand: np.ndarray):
    """Every YARA rule over one batch, each string read once over the
    uniques `cand` (`_Candidates.read`; every other unique holds no
    match). Conditions render over every row, so negations, `0 of them`
    and string-free rules (filesize, uint, external variables) fire on
    rows without any candidate. Returns one (fired, reads, rule) per
    rule; `reads` holds one (row mask, occurrences) per string."""
    candidates = _Candidates(text_c, cand)
    yara = []
    for rule, ast in engine.yara:
        reads = []
        for s in rule.strings:
            at, occurrences = candidates.read(
                engine.mask_regexes[s], engine.walks[s]
            )
            mask = text_c.expand(np.ones(len(at), dtype=bool), False, at=at)
            reads.append((mask, occurrences))
        backend = _MaskBackend(rule.strings, reads, text_c, ext)
        fired = np.asarray(render_condition(ast, backend), dtype=bool)
        yara.append((fired, reads, rule))
    return yara


def match_record_batch(
    engine, batch: pa.RecordBatch
) -> tuple[pa.Array, pa.Array, pa.Array]:
    """Match one RecordBatch of (text, tool, ext_bits); returns the
    per-row (fname, yara, c2) reason lists, each a list<REASON_STRUCT>
    array carrying the reasons exactly as the pipeline emits them."""
    text_c, fname, yara = _batch_masks(engine, batch)
    n = batch.num_rows

    fn_counts = np.zeros(n, dtype=np.int64)
    fn_rows: dict[int, list[dict]] = {}
    for mask, ioc in fname:
        # one shared (read-only) reason dict per IOC — its fields are
        # row-independent, so hit rows append the same object instead of
        # building a fresh dict per hit
        entry = {
            "message": FNAME_MSG + ioc.pattern,
            "score": ioc.score,
            "description": ioc.description,
        }
        for idx in np.nonzero(mask)[0]:
            i = int(idx)
            fn_rows.setdefault(i, []).append(entry)
            fn_counts[i] += 1
    fname_arr = _reason_list_array(fn_counts, fn_rows)

    ya_counts = np.zeros(n, dtype=np.int64)
    ya_rows: dict[int, list[dict]] = {}
    for fired, reads, rule in yara:
        # Matched strings depend only on (rule, text VALUE): the string
        # reads are per unique, so rows sharing a unique value fire with
        # identical matched_strings. Compute the reason ONCE per unique
        # value and append the shared (read-only) dict per hit row — on
        # replicated corpora (the rep-1600 bench table has ~7 distinct
        # texts per 10k-row batch) this formats each reason once.
        per_unique: dict[int, dict] = {}
        for idx in np.nonzero(fired)[0]:
            i = int(idx)
            if ya_counts[i] >= MAX_MATCHES:
                continue
            u = int(text_c.codes[i])
            entry = per_unique.get(u)
            if entry is None:
                # a NULL row (u past the uniques) has no occurrences
                matched_strings = [
                    line
                    for s, (_, occurrences) in zip(rule.strings, reads)
                    for line in string_occurrence_lines(
                        s, occurrences.get(u, ())
                    )
                ]
                entry = {
                    "message": YARA_MSG + rule.name,
                    "score": rule.score,
                    "description": rule.description or None,
                    "author": rule.author or None,
                    "reference": rule.reference or None,
                    "matched_strings": matched_strings or None,
                }
                per_unique[u] = entry
            ya_rows.setdefault(i, []).append(entry)
            ya_counts[i] += 1
    yara_arr = _reason_list_array(ya_counts, ya_rows)

    c2_arr = _reason_list_array(*_c2_match_lists(text_c, engine))
    return fname_arr, yara_arr, c2_arr


def _c2_match_lists(
    text_c: "_CompactCol", engine
) -> tuple[np.ndarray, dict[int, list[dict]]]:
    """J4 C2 matching, the arrow scale path. Two stages, both over the
    dict-encoded UNIQUE text values:

    1. candidate gate — OR of case-insensitive literal kernels per IOC
       server (identical superset semantics to ioc_join.c2_text_gate);
       beyond C2_GATE_MAX_LITERALS one structural '.' kernel instead
       (a host token requires a dot);
    2. per candidate unique: extract host tokens (ioc_join.HOST_PATTERN
       over the lowercased text, occurrence order preserved) and resolve
       each via engine.c2_lookup — a dict probe per distinct server
       LENGTH, so cost is sub-linear in IOC count (matcher.py
       CompiledEngine docs; reference walk: src/main.rs:614-635).

    Returns (per-row match counts, {row: [reason dict, ...]}) — one
    reason per host occurrence, first match wins; rows sharing a text
    value share its (read-only) list."""
    n = text_c.n
    counts = np.zeros(n, dtype=np.int64)
    if not engine.c2:
        return counts, {}

    ki = text_c.kernel_input
    if len(engine.c2) > C2_GATE_MAX_LITERALS:
        gate = _mask(ki, ".", regex=False)
    else:
        gate = np.zeros(len(ki), dtype=bool)
        for ioc in engine.c2:
            gate |= _mask(ki, ioc.server, regex=False, ignore_case=True)

    uniq_lists: dict[int, list[dict]] = {}
    for u in np.nonzero(gate)[0]:
        out: list[dict] = []
        for host in _HOST_RX.findall(ki[int(u)].as_py().lower()):
            hit = engine.c2_lookup(host)
            if hit is not None:
                out.append(
                    {
                        "message": C2_MSG + host,
                        "score": hit[1],
                        "description": hit[2],
                    }
                )
                # the pipeline slices assembled reasons to MAX_MATCHES,
                # so later entries are never seen: this bounds memory on
                # pathological host-stuffed rows
                if len(out) >= MAX_MATCHES:
                    break
        if out:
            uniq_lists[int(u)] = out

    rows: dict[int, list[dict]] = {}
    if uniq_lists:
        row_idx = text_c.codes
        hit_uniques = np.array(sorted(uniq_lists), dtype=np.int64)
        hit_rows = np.nonzero(np.isin(row_idx, hit_uniques))[0]
        for r in hit_rows:
            lst = uniq_lists[int(row_idx[r])]
            rows[int(r)] = lst
            counts[int(r)] = len(lst)
    return counts, rows


def match_scores_record_batch(
    engine, batch: pa.RecordBatch
) -> tuple[pa.Array, pa.Array, pa.Array]:
    """The `score` field of match_record_batch's three reason lists, over
    the same offsets (list<int32> arrays). No scan reads it: it is the
    kernel-level measure of the reason-to-score projection
    (perfbench/layers.py, `score_kernel_us_per_row`)."""
    return tuple(
        pa.ListArray.from_arrays(arr.offsets, arr.values.field("score"))
        for arr in match_record_batch(engine, batch)
    )


def make_arrow_matcher_udf(spark: SparkSession, sigs: SignatureSet):
    """Scalar Arrow UDF (Spark 4.1 `arrow_udf`, iterator form) running
    `match_record_batch` per batch: ONLY text, tool and ext_bits cross
    the Python bridge. Returns struct<fname, yara, c2>, each an
    array<REASON_TYPE> (the catalyst renderings' shape). Each call
    broadcasts the signature payload, so the scan pipeline makes one per
    compiled plan (plans.pipeline._scan_plan); each executor process
    compiles the payload once (`_engine_for`)."""
    from pyspark.sql.functions import arrow_udf

    bc = spark.sparkContext.broadcast(sigs.to_payload())

    def match_signatures_arrow(
        it: Iterator[Tuple[pa.Array, pa.Array, pa.Array]],
    ) -> Iterator[pa.Array]:
        engine = _engine_for(bc.value)
        for text, tool, ext_bits in it:
            batch = pa.RecordBatch.from_arrays(
                [_as_array(text), _as_array(tool), _as_array(ext_bits)],
                names=["text", "tool", "ext_bits"],
            )
            yield pa.StructArray.from_arrays(
                list(match_record_batch(engine, batch)),
                names=["fname", "yara", "c2"],
            )

    # The matcher is pure, but the non-deterministic marking is an
    # optimizer fence: without it, the routed filter — whose substituted
    # n_reasons/score trees reference this UDF's output — is pushed below
    # the projection by SUBSTITUTING the UDF call into the predicate, and
    # the plan carries TWO ArrowEvalPython nodes (every row pays the
    # matcher twice). Pinned by tests/test_pipeline.py
    # (test_scan_routed_plan_invariants, test_score_only_plan_invariants).
    return arrow_udf(
        match_signatures_arrow,
        f"struct<fname:array<{REASON_TYPE}>,yara:array<{REASON_TYPE}>,"
        f"c2:array<{REASON_TYPE}>>",
    ).asNondeterministic()


def _as_array(arr):
    if isinstance(arr, pa.ChunkedArray):
        return arr.combine_chunks()
    return arr
