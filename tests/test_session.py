"""session.local_frame: small driver-side frames as Arrow-backed
LocalRelations, typed exactly by their DDL."""

from __future__ import annotations

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
