"""Hash projections (P1): md5/sha1/sha256 of the scanned content, lowercased
hex — src/modules/filesystem_scan.rs:849-851. All three are JVM built-ins
(whole-stage codegen), unlike the reference's per-row Rust hashing."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def hash_columns(content_col: str = "text") -> dict[str, Column]:
    content = F.col(content_col).cast("binary")
    return {
        "md5": F.md5(content),
        "sha1": F.sha1(content),
        "sha256": F.sha2(content, 256),
    }


def with_hashes(df: DataFrame, content_col: str = "text") -> DataFrame:
    return df.withColumns(hash_columns(content_col))
