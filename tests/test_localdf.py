"""``local_df``: driver-side rows as a JVM local relation.

The frame must hold the same values ``spark.createDataFrame(list,
schema)`` gives for every schema form the callers pass, plan as a
``LocalTableScan`` (no Python-worker ``Scan ExistingRDD``) — on its own
and inside the Delta/Iceberg read plans built from it — and still spread
a ``mapInPandas`` input over several partitions.
"""

import datetime
import decimal

import pytest
from pyspark.sql import Row
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

from aws_glue_data_lake_spark.deltacompat import (
    DeltaTableReader,
    DeltaTableWriter,
)
from aws_glue_data_lake_spark.icebergcompat import (
    IcebergTableReader,
    IcebergTableWriter,
)
from aws_glue_data_lake_spark.localdf import local_df


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _assert_local(df):
    plan = _plan(df)
    assert "LocalTableScan" in plan, plan
    assert "ExistingRDD" not in plan, plan


_WIDE_DDL = (
    "s string, i int, l long, d double, b boolean, t timestamp, "
    "a array<string>, m decimal(18,6)"
)
_WIDE_ROWS = [
    (
        "x",
        1,
        2**40,
        1.5,
        True,
        datetime.datetime(2024, 1, 2, 3, 4, 5, 678901),
        ["a", None, "c"],
        decimal.Decimal("1.250000"),
    ),
    (
        "",
        -7,
        -1,
        -0.0,
        False,
        datetime.datetime(1969, 12, 31, 23, 59),
        [],
        decimal.Decimal("-99.000001"),
    ),
    (None, None, None, None, None, None, None, None),
]


@pytest.mark.parametrize("form", ["ddl", "struct"])
@pytest.mark.parametrize("shape", ["tuple", "row", "generator"])
def test_values_match_create_dataframe(spark, form, shape):
    schema = (
        _WIDE_DDL if form == "ddl" else StructType.fromDDL(_WIDE_DDL)
    )
    rows = {
        "tuple": list(_WIDE_ROWS),
        "row": [Row(*r) for r in _WIDE_ROWS],
        "generator": (r for r in _WIDE_ROWS),
    }[shape]
    got = local_df(spark, rows, schema)
    want = spark.createDataFrame(list(_WIDE_ROWS), schema)
    assert got.schema == want.schema
    # same session-timezone reading of the naive datetimes
    assert got.collect() == want.collect()
    _assert_local(got)


def test_timestamps_read_in_session_timezone(spark):
    ts = datetime.datetime(2024, 6, 1, 12, 0, 0)
    got = local_df(spark, [(ts,)], "t timestamp").selectExpr(
        "CAST(t AS STRING) AS s", "unix_micros(t) AS us"
    ).collect()
    want = spark.createDataFrame([(ts,)], "t timestamp").selectExpr(
        "CAST(t AS STRING) AS s", "unix_micros(t) AS us"
    ).collect()
    assert got == want


def test_bare_atomic_schema_names_value(spark):
    got = local_df(spark, iter([3, None, 1]), "bigint")
    want = spark.createDataFrame([3, None, 1], "bigint")
    assert got.schema == want.schema
    assert got.collect() == want.collect()
    assert local_df(spark, [], "bigint").columns == ["value"]


def test_non_nullable_struct_schema_kept(spark):
    st = StructType(
        [
            StructField("k", LongType(), False),
            StructField("v", StringType(), False),
        ]
    )
    df = local_df(spark, [(1, "a"), (2, "b")], st)
    assert df.schema == st
    assert sorted(df.collect()) == [Row(k=1, v="a"), Row(k=2, v="b")]


def test_row_width_mismatch_raises(spark):
    with pytest.raises(ValueError):
        local_df(spark, [(1, "a", "extra")], "k long, v string")


def test_empty_frame_is_local_and_prunes_joins(spark):
    empty = local_df(spark, [], "id long")
    assert empty.count() == 0
    assert "LocalTableScan <empty>" in _plan(empty)
    anti = spark.range(10).join(empty, "id", "left_anti")
    plan = _plan(anti)
    assert "Join" not in plan and "Exchange" not in plan, plan
    assert anti.count() == 10


def test_map_in_pandas_input_spreads_over_partitions(spark):
    def sizes(batches):
        import pandas as pd

        for pdf in batches:
            yield pd.DataFrame({"n": [len(pdf)]})

    src = local_df(spark, [(i,) for i in range(40)], "i long")
    assert src.rdd.getNumPartitions() > 1
    per_part = src.mapInPandas(sizes, "n long").collect()
    assert sum(r.n for r in per_part) == 40
    assert len([r for r in per_part if r.n]) > 1


def test_lake_read_plans_have_no_existing_rdd(spark, tmp_path):
    """Iceberg ``to_df``/``changes`` over equality deletes and Delta
    ``changes`` over a change-data-feed merge: every driver-built map
    in their plans is a local relation."""
    ice = str(tmp_path / "ice")
    w = IcebergTableWriter(ice)
    w.create(
        spark.createDataFrame(
            [(1, "a"), (2, "b"), (3, "c")], "k long, v string"
        )
    )
    w.merge(
        spark.createDataFrame([(2, "B"), (4, "d")], "k long, v string"),
        keys=["k"],
    )
    r = IcebergTableReader(ice)
    assert r.snapshot().eq_deletes
    tip = r.to_df(spark)
    assert sorted(tuple(x) for x in tip.collect()) == [
        (1, "a"), (2, "B"), (3, "c"), (4, "d")
    ]
    _assert_local(tip)
    ch = r.changes(spark)
    assert {
        (x.k, x._change_type) for x in ch.collect()
    } >= {(2, "delete"), (2, "insert"), (4, "insert")}
    _assert_local(ch)

    dpath = str(tmp_path / "delta")
    dw = DeltaTableWriter(dpath)
    dw.create(
        spark.createDataFrame(
            [(1, "a"), (2, "b"), (3, "c")], "k long, v string"
        )
    )
    dw.set_change_data_feed(True)
    dw.merge(
        spark,
        spark.createDataFrame([(2, "B"), (4, "d")], "k long, v string"),
        keys=["k"],
    )
    dch = DeltaTableReader(dpath).changes(spark, starting_version=2)
    assert {(x.k, x._change_type) for x in dch.collect()} == {
        (2, "update_preimage"),
        (2, "update_postimage"),
        (4, "insert"),
    }
    _assert_local(dch)
