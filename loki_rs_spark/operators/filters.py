"""Row-pruning filters (SURVEY.md §2.2, F1-F8).

The reference applies cheap conjunctive predicates per row before the
expensive scan (src/modules/filesystem_scan.rs:559-708). In Spark these are
plain `filter` expressions that Catalyst pushes toward the scan; the
OR-folded exclusion alternation keeps it ONE regex evaluation per row
regardless of how many exclusion patterns are configured.
"""

from __future__ import annotations

from collections.abc import Iterable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def exclusion_pattern(patterns: Iterable[str]) -> str | None:
    pats = [p for p in patterns if p]
    if not pats:
        return None
    return "|".join(f"(?:{p})" for p in pats)


def exclusion_predicate(patterns: Iterable[str]) -> Column | None:
    """Config exclusions (F3, src/modules/filesystem_scan.rs:607-613) as
    the keep-predicate, None without patterns. The reference tests each
    regex against the full path; `tool` is the path analog of a
    transcript turn. A NULL `tool` matches no exclusion; coalesce (not
    `IS NULL OR`) inlines a computed `tool` only once."""
    combined = exclusion_pattern(patterns)
    if combined is None:
        return None
    return F.coalesce(~F.col("tool").rlike(combined), F.lit(True))


def apply_exclusions(df: DataFrame, patterns: Iterable[str]) -> DataFrame:
    keep = exclusion_predicate(patterns)
    return df if keep is None else df.filter(keep)


def size_predicate(max_text_chars: int) -> Column:
    """Size cap (F7): the reference drops files larger than
    --max-file-size (64 MB default, src/modules/filesystem_scan.rs:672-685);
    for turns the scanned content is `text`. NULL text (a corrupt record)
    survives the filter: the reference counts unreadable inputs as errors
    (tests/error_handling_tests/) rather than silently dropping them —
    scan_counters reports them via its `errors` column and they match
    nothing downstream."""
    return F.col("text").isNull() | (F.length(F.col("text")) <= max_text_chars)


def apply_size_filter(df: DataFrame, max_text_chars: int) -> DataFrame:
    return df.filter(size_predicate(max_text_chars))


# ---- F4/F5: path-taxonomy skips (cloud / system paths) --------------------

# src/modules/filesystem_scan.rs:71-88
CLOUD_ROOT_SEGMENTS: tuple[str, ...] = (
    "onedrive", "dropbox", ".dropbox", "google drive", "googledrive",
    "icloud drive", "box", "box-box", "mega", "megasync", "nextcloud",
    "owncloud", "tresorit", "tresorit drive", "syncthing",
)
# src/modules/filesystem_scan.rs:91-112
LINUX_PATH_SKIPS_START: tuple[str, ...] = (
    "/proc", "/dev", "/sys", "/run", "/sys/kernel/debug",
    "/sys/kernel/slab", "/sys/kernel/tracing", "/sys/devices",
    "/usr/src/linux",
)
MOUNTED_DEVICES: tuple[str, ...] = ("/media", "/volumes")
LINUX_PATH_SKIPS_END: tuple[str, ...] = ("/initctl",)


def cloud_path_predicate(path: Column) -> Column:
    """F4: is_cloud_or_remote_path (filesystem_scan.rs:129-162) as a pure
    Catalyst higher-order-function expression — segment-exact matches (no
    substring matches), dynamic provider prefixes, and the macOS
    library/cloudstorage adjacent-pair marker. Whole-stage codegen'd; at
    scale this predicate belongs in the scan filter so pruning happens at
    the source."""
    segs = F.filter(
        F.split(F.regexp_replace(F.lower(path), r"\\", "/"), "/"),
        lambda s: s != F.lit(""),
    )
    direct = F.exists(
        segs, lambda s: s.isin(*[F.lit(c) for c in CLOUD_ROOT_SEGMENTS])
    )
    dynamic = F.exists(
        segs,
        lambda s: s.startswith("onedrive - ")
        | s.startswith("onedrive-")
        | s.startswith("nextcloud-"),
    )
    # windows(2) pair scan: zip each segment with its successor. Both
    # slices are the SAME length (size-1) so zip_with never null-pads —
    # a trailing 'library' pairs with nothing and yields false, matching
    # the reference's windows(2) (not NULL, which would three-value-poison
    # the enclosing filter; see round-3 ADVICE).
    n = F.greatest(F.size(segs) - 1, F.lit(0))
    head = F.slice(segs, 1, n)
    tail = F.slice(segs, 2, n)
    pair = F.exists(
        F.zip_with(
            head,
            tail,
            lambda a, b: (a == F.lit("library")) & (b == F.lit("cloudstorage")),
        ),
        lambda x: x,
    )
    return F.coalesce(direct | dynamic | pair, F.lit(False))


def system_path_predicate(
    path: Column, scan_all_drives: bool = False
) -> Column:
    """F5: unix system-path skip (filesystem_scan.rs:630-654): path starts
    with any system prefix, ends with /initctl, or sits under a mounted-
    device root unless --scan-all-drives. Matching is CASE-SENSITIVE like
    the reference's raw `starts_with`/`ends_with` on the path string
    (filesystem_scan.rs:632-654) — '/PROC/x' is NOT skipped there."""
    pred = F.lit(False)
    for p in LINUX_PATH_SKIPS_START:
        pred = pred | path.startswith(p)
    for p in LINUX_PATH_SKIPS_END:
        pred = pred | path.endswith(p)
    if not scan_all_drives:
        for p in MOUNTED_DEVICES:
            pred = pred | path.startswith(p)
    return F.coalesce(pred, F.lit(False))


def apply_path_taxonomy_filters(
    df: DataFrame,
    path_col: str = "tool",
    scan_all_drives: bool = False,
) -> DataFrame:
    """F4+F5 applied together (the reference applies both before the
    expensive scan, filesystem_scan.rs:623-654). `tool` plays the path
    role in the transcript model; transcripts rarely carry such paths, so
    this stays an opt-in operator rather than a DEFAULT_CONFIG stage.

    A NULL path is treated as '' (kept): the reference only ever sees
    concrete path strings, and silently dropping NULL-path rows here
    would contradict the F7 convention that corrupt records survive as
    `errors`. The cloud skip is gated on `not scan_all_drives`, matching
    filesystem_scan.rs:622-628 ("Always exclude cloud paths unless
    scan_all_drives is true")."""
    col = F.coalesce(F.col(path_col), F.lit(""))
    pred = ~system_path_predicate(col, scan_all_drives=scan_all_drives)
    if not scan_all_drives:
        pred = pred & ~cloud_path_predicate(col)
    return df.filter(pred)
