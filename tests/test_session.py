"""session.local_frame: small driver-side frames as Arrow-backed
LocalRelations, typed exactly by their DDL; and the shuffle-partition
default that get_spark derives from its master."""

from __future__ import annotations

import os

import pytest
from pyspark.sql.types import DataType

from loki_rs_spark.session import local_frame

DDL = "i int, b bigint, d double, s string"


@pytest.mark.parametrize("n", [0, 1, 64])
def test_local_frame(spark, n):
    # bigint values past the int range; `s` is NULL on even rows, so the
    # 1-row frame has an all-NULL string column
    rows = [
        (k, k << 40, k / 4, None if k % 2 == 0 else f"r{k}") for k in range(n)
    ]
    df = local_frame(spark, rows, DDL)
    assert df.schema == DataType.fromDDL(DDL)
    analyzed = df._jdf.queryExecution().analyzed()
    assert analyzed.getClass().getSimpleName() == "LocalRelation"
    assert [tuple(r) for r in df.collect()] == rows


@pytest.mark.parametrize(
    "master, expected",
    [
        ("local", 1),
        ("local[4]", 4),
        ("local[3,2]", 3),
        ("local[*]", os.cpu_count()),
        ("spark://host:7077", 32),
    ],
    ids=["local", "local[4]", "local[3,2]", "local[*]", "cluster"],
)
def test_default_shuffle_partitions(monkeypatch, master, expected):
    # a local master's core count wins over $SPARK_GRAFT_CPUS, which only
    # applies to cluster masters (default 32)
    from loki_rs_spark.session import default_shuffle_partitions

    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert default_shuffle_partitions(master) == expected
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "6")
    assert default_shuffle_partitions(master) == (
        6 if master.startswith("spark:") else expected
    )
