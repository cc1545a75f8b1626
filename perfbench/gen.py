"""Seeded transcript-table generators, one per workload.

Each generator writes a stored parquet table with the transcript schema
``(conv_id, turn_idx, role, text, tool, ts)`` and nothing else, so the
program under test sees only what a production scan sees.  A table is
built once per (spec, seed) with write-then-rename and reused by later runs
in the same checkout; workloads with the same spec share it.

The properties the scan's speed depends on are set per workload and then
measured on the written rows:

* distinct-text fraction per 20k-row Arrow batch (the matcher dict-encodes
  each batch, so unique text costs kernel time and repeated text does not);
* trigger rate: turns carrying a planted signature payload (text rule from
  ``sources.transcripts.TEXT_RULES`` or a tool rule from ``TOOL_RULES``);
* conversation-length skew: conversation k owns turn uids [k^2, (k+1)^2),
  the same spec as ``sources.transcripts``, so the largest conversation
  grows with the table.

Only the planted "replace" payloads can hit hash IOCs, which keeps the
DuckDB oracle's sha1-by-payload rendering exact.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import math
import os
import shutil
from dataclasses import asdict, dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

GEN_VERSION = 3
BATCH_ROWS = 20_000  # the pipeline's Arrow batch (session.py default)

VOCAB = (
    "agent plan tool call result query table scan filter join batch stream "
    "window column value key hash index partition shard merge sort group "
    "order limit offset cursor buffer cache token prompt reply turn session "
    "retry error status config deploy build test commit branch review patch "
    "latency budget quota metric trace span log event alert record schema "
    "file path folder archive upload download fetch parse render format "
    "node worker driver task stage job queue lock mutex thread process "
    "memory disk network socket packet route gateway proxy client server "
    "user assistant system model vector embed rank score weight bias"
).split()

TS_EPOCH = dt.datetime(2026, 1, 1, tzinfo=dt.timezone.utc)
TS_STEP_SECONDS = 7


@dataclass(frozen=True)
class Spec:
    """What one workload's table looks like."""

    name: str  # workloads with equal specs share the generated table
    rows: int
    files: int
    unique_text: bool  # True: every base text distinct; False: templated
    template_fraction: float  # templated pool size / rows (unique_text=False)
    trigger_rate: float  # share of turns carrying a planted payload
    increments: int = 1  # small_scans: separate freshly landed tables
    uid_base: int = 0  # first turn uid (conversation skew offset)


UNIQUE = Spec(name="unique", rows=40_000, files=8, unique_text=True,
              template_fraction=1.0, trigger_rate=0.01)
TEMPLATED = Spec(name="templated", rows=10_000, files=4, unique_text=False,
                 template_fraction=0.02, trigger_rate=0.10, increments=6,
                 uid_base=1_000_000)
SPECS = {
    "bulk_scan": UNIQUE,
    "small_scans": TEMPLATED,
    "rollup_queries": UNIQUE,
}

# sf0.001-scale inputs for the smoke invocation
SMOKE_UNIQUE = Spec(name="unique", rows=2_000, files=2, unique_text=True,
                    template_fraction=1.0, trigger_rate=0.01)
SMOKE_SPECS = {
    "bulk_scan": SMOKE_UNIQUE,
    "small_scans": Spec(name="templated", rows=1_000, files=1,
                        unique_text=False, template_fraction=0.02,
                        trigger_rate=0.10, increments=2, uid_base=1_000_000),
    "rollup_queries": SMOKE_UNIQUE,
}


def _rules():
    from loki_rs_spark.sources.transcripts import TEXT_RULES, TOOL_RULES

    return TEXT_RULES, TOOL_RULES


def _sentences(rng: np.random.Generator, n: int, mean_words: int) -> list[str]:
    """`n` random word sequences (~6 chars/word incl. the space)."""
    lengths = np.clip(
        rng.normal(mean_words, mean_words / 4, size=n).astype(np.int64),
        4, 3 * mean_words,
    )
    words = rng.integers(0, len(VOCAB), size=int(lengths.sum()))
    vocab = np.array(VOCAB, dtype=object)[words]
    bounds = np.concatenate(([0], np.cumsum(lengths)))
    return [
        " ".join(vocab[bounds[i]:bounds[i + 1]]) for i in range(n)
    ]


def _increment(
    spec: Spec, rng: np.random.Generator, uid0: int
) -> tuple[pa.Table, int]:
    text_rules, tool_rules = _rules()
    n = spec.rows
    uid = np.arange(uid0, uid0 + n, dtype=np.int64)
    conv = np.floor(np.sqrt(uid.astype(np.float64))).astype(np.int64)
    # float sqrt can be off by one near perfect squares
    conv -= (conv * conv > uid)
    conv += ((conv + 1) * (conv + 1) <= uid)

    if spec.unique_text:
        base = _sentences(rng, n, 50)
    else:
        pool = _sentences(rng, max(1, int(n * spec.template_fraction)), 50)
        # skewed template popularity: a few templates carry most turns
        pick = (len(pool) * rng.random(n) ** 2).astype(np.int64)
        base = [pool[i] for i in pick]

    text = list(base)
    tool = [f"tool-{u % 7}" for u in uid.tolist()]
    triggered = np.nonzero(rng.random(n) < spec.trigger_rate)[0]
    # templated tables keep planted rows templated too: the payload lands
    # on one of a handful of base texts, so distinct text stays low
    trig_base = base[:4] if not spec.unique_text else None
    kinds = rng.random(len(triggered))
    text_pick = rng.integers(0, len(text_rules), size=len(triggered))
    tool_pick = rng.integers(0, len(tool_rules), size=len(triggered))
    base_pick = rng.integers(0, 4, size=len(triggered))
    for j, i in enumerate(triggered.tolist()):
        if kinds[j] < 0.75:
            _mod, _res, action, payload = text_rules[text_pick[j]]
            if action == "replace":
                text[i] = payload
            else:
                stem = base[i] if trig_base is None else trig_base[base_pick[j]]
                text[i] = stem + payload
        else:
            tool[i] = tool_rules[tool_pick[j]][2]

    roles = np.array(["user", "assistant", "tool", "assistant"], dtype=object)
    ts = pa.array(
        (uid * TS_STEP_SECONDS * 1_000_000
         + int(TS_EPOCH.timestamp() * 1_000_000)),
        type=pa.timestamp("us", tz="UTC"),
    )
    table = pa.table(
        {
            "conv_id": pa.array([f"conv-{c}" for c in conv.tolist()]),
            "turn_idx": pa.array(uid - conv * conv, type=pa.int32()),
            "role": pa.array(roles[uid % 4].tolist()),
            "text": pa.array(text),
            "tool": pa.array(tool),
            "ts": ts,
        }
    )
    return table, len(triggered)


def _measure(tables: list[pa.Table], planted: int) -> dict:
    """Properties the code depends on, measured on the written rows."""
    fractions = [
        pc.count_distinct(batch.column("text")).as_py() / batch.num_rows
        for t in tables
        for batch in t.to_batches(max_chunksize=BATCH_ROWS)
    ]
    conv = pa.concat_arrays([t.column("conv_id").combine_chunks() for t in tables])
    lengths = np.sort(pc.value_counts(conv).field("counts").to_numpy())
    rows = sum(t.num_rows for t in tables)
    return {
        "rows": rows,
        "distinct_fraction": round(float(np.mean(fractions)), 4),
        "trigger_rate": round(planted / rows, 4),
        "conversations": len(lengths),
        "conv_len_max": int(lengths[-1]),
        "conv_len_median": int(lengths[len(lengths) // 2]),
    }


def table_key(seed: int, spec: Spec) -> str:
    digest = hashlib.sha256(repr((spec, GEN_VERSION)).encode()).hexdigest()
    return f"{spec.name}_s{seed}_{spec.rows}x{spec.increments}_{digest[:8]}"


def build(workload: str, seed: int, root: str, smoke: bool = False) -> dict:
    """Write (or reuse) the workload's tables under `root`.  Returns the
    table directories plus the measured input properties."""
    spec = (SMOKE_SPECS if smoke else SPECS)[workload]
    path = os.path.join(root, table_key(seed, spec))
    meta_path = os.path.join(path, "_generator.json")
    if os.path.exists(meta_path):
        return _load(path)

    code = int.from_bytes(spec.name.encode()[:8], "little")
    rng = np.random.default_rng([seed % (1 << 63), code, GEN_VERSION])
    tmp = f"{path}.tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    tables, planted = [], 0
    for k in range(spec.increments):
        t, n_planted = _increment(spec, rng, spec.uid_base + k * spec.rows)
        planted += n_planted
        out = os.path.join(tmp, f"inc{k}")
        os.makedirs(out)
        per_file = math.ceil(t.num_rows / spec.files)
        for f in range(spec.files):
            pq.write_table(
                t.slice(f * per_file, per_file),
                os.path.join(out, f"part-{f:05d}.parquet"),
            )
        tables.append(t)
    meta = {
        "seed": seed,
        "spec": asdict(spec),
        "increments": [f"inc{k}" for k in range(spec.increments)],
        "measured": _measure(tables, planted),
    }
    with open(os.path.join(tmp, "_generator.json"), "w") as f:
        json.dump(meta, f)
    try:
        os.rename(tmp, path)
    except OSError:  # another process won the rename: use its copy
        shutil.rmtree(tmp, ignore_errors=True)
    return _load(path)


def _load(path: str) -> dict:
    with open(os.path.join(path, "_generator.json")) as f:
        meta = json.load(f)
    meta["path"] = path
    meta["dirs"] = [os.path.join(path, d) for d in meta["increments"]]
    return meta
