"""Scan configuration, mirroring the reference's CLI defaults.

Reference defaults: severity thresholds 80/60/40 (src/main.rs:98-108),
max_reasons 2 (src/main.rs:110-112), max file size 64 MB
(src/main.rs:115-116). Threshold ordering alert >= warning >= notice is
validated like src/main.rs:1215-1219.
"""

from __future__ import annotations

from dataclasses import dataclass

# Per-row match cap (src/modules/filesystem_scan.rs:822, the reference's
# `ArrayVec<GenMatch, 100>`): a constant there, so one here too. The
# pipeline's reason slice, both Arrow kernel caps, `scan_turn` and the
# oracle SQL read it.
MAX_MATCHES = 100


@dataclass(frozen=True)
class ScanConfig:
    alert_threshold: int = 80
    warning_threshold: int = 60
    notice_threshold: int = 40
    max_reasons: int = 2
    max_text_chars: int = 64_000_000
    # Regexes applied to the `tool` column (the path analog of a turn);
    # mirrors config/excludes.cfg (src/main.rs:909-942).
    exclude_patterns: tuple[str, ...] = ("debug-tool",)

    def __post_init__(self) -> None:
        if not (
            self.alert_threshold >= self.warning_threshold >= self.notice_threshold
        ):
            raise ValueError(
                "thresholds must satisfy alert >= warning >= notice "
                f"(got {self.alert_threshold}/{self.warning_threshold}/"
                f"{self.notice_threshold})"
            )
        if self.max_reasons < 0:
            raise ValueError("max_reasons must be >= 0")


DEFAULT_CONFIG = ScanConfig()
