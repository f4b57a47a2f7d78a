"""operators/rows.map_rows, the engine's one Arrow row mapper: zero, one
or many output rows per input row, across batch and partition boundaries,
with nulls kept as nulls."""

from __future__ import annotations

from collections import Counter

import pytest
from pyspark.sql import types as T

from azure_workflow_for_kml_satellite_spark.operators.rows import map_rows

FIELDS = [
    T.StructField("copy", T.LongType()),
    T.StructField("tag", T.StringType()),
    T.StructField("maybe", T.DoubleType()),
]


def _flat_map():
    """The row function: 0, 1 or 2 rows by id % 3, ``maybe`` None on every
    other copy. Built in a closure so that Spark ships it by value."""

    def row_fn(rec: dict) -> list[dict]:
        i = int(rec["id"])
        return [
            {"copy": k, "tag": f"{rec['name']}/{k}", "maybe": None if k % 2 else i / 4}
            for k in range(i % 3)
        ]

    return row_fn


_row_fn = _flat_map()


@pytest.fixture
def small_batches(spark):
    """Arrow batches of 7 rows, so every partition spans several batches."""
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "7")
    yield
    spark.conf.set(key, old)


def _input(spark, n: int = 200):
    rows = [(i, f"n{i}", None if i % 5 == 0 else i * 10) for i in range(n)]
    return spark.createDataFrame(rows, "id long, name string, opt long").repartition(3)


def test_map_rows_matches_python_flat_map(spark, small_batches):
    df = _input(spark)
    assert df.rdd.getNumPartitions() == 3
    got = map_rows(df, ["id", "opt"], ["id", "name"], FIELDS, _row_fn)
    assert got.columns == ["id", "opt", "copy", "tag", "maybe"]
    assert got.schema["opt"].dataType == T.LongType()
    want = Counter(
        (i, None if i % 5 == 0 else i * 10, r["copy"], r["tag"], r["maybe"])
        for i in range(200)
        for r in _row_fn({"id": i, "name": f"n{i}"})
    )
    assert Counter(tuple(r) for r in got.collect()) == want
    # kept nulls and new None fields come back as nulls, not NaN or 0
    assert got.filter("opt is null").count() == sum(
        n for (i, *_), n in want.items() if i % 5 == 0
    )
    assert got.filter("maybe is null").count() == sum(
        n for (_, _, k, _, _), n in want.items() if k % 2
    )


def test_map_rows_without_kept_columns_and_on_empty_input(spark, small_batches):
    df = _input(spark)
    got = map_rows(df, [], ["id", "name"], FIELDS, _row_fn)
    assert got.columns == ["copy", "tag", "maybe"]
    want = Counter(
        (r["copy"], r["tag"], r["maybe"])
        for i in range(200)
        for r in _row_fn({"id": i, "name": f"n{i}"})
    )
    assert Counter(tuple(r) for r in got.collect()) == want

    # one row out per row in, kept nullable long with nulls
    one = map_rows(df, ["id", "opt"], ["id"], FIELDS[1:2], lambda rec: [{"tag": str(rec["id"])}])
    assert sorted(tuple(r) for r in one.collect()) == [
        (i, None if i % 5 == 0 else i * 10, str(i)) for i in range(200)
    ]

    empty = _input(spark).limit(0)
    assert map_rows(empty, ["id"], ["id", "name"], FIELDS, _row_fn).collect() == []
    assert map_rows(empty, [], ["id", "name"], FIELDS, _row_fn).collect() == []
