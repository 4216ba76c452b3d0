"""Session helpers: a scoped conf override never leaks into later queries,
and a driver-built small table plans as a local relation."""

import pytest
from pyspark.sql import types as T

from otel_arrow_spark.session import local_frame, small_state_conf

KEYS = ("spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions")


def test_small_state_conf_restores_after_body_raises(spark):
    scoped = {KEYS[0]: "false", KEYS[1]: "1"}
    before = {k: spark.conf.get(k) for k in KEYS}
    assert before[KEYS[0]] != "false" and before[KEYS[1]] != "1"
    with pytest.raises(RuntimeError, match="boom"):
        with small_state_conf(spark):
            assert {k: spark.conf.get(k) for k in KEYS} == scoped
            raise RuntimeError("boom")
    assert {k: spark.conf.get(k) for k in KEYS} == before


LOCAL_SCHEMA = T.StructType(
    [
        T.StructField("s", T.StringType()),
        T.StructField("b", T.BooleanType()),
        T.StructField("i", T.IntegerType()),
        T.StructField("l", T.LongType()),
        T.StructField("v", T.ArrayType(T.FloatType())),
    ]
)


@pytest.mark.parametrize(
    "rows",
    [
        [
            ("user", True, 1, 2**40, [0.1, -2.5]),
            ("", False, -(2**31), -1, []),
            (None, None, None, None, None),
            ("tool", True, 2**31 - 1, 2**63 - 1, [None, 3.0]),
        ],
        [],
    ],
    ids=["rows", "empty"],
)
def test_local_frame_matches_create_dataframe(spark, rows):
    got = local_frame(spark, rows, LOCAL_SCHEMA)
    want = spark.createDataFrame(rows, LOCAL_SCHEMA)
    assert got.schema == want.schema == LOCAL_SCHEMA
    assert got.collect() == want.collect()
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert plan.startswith("LocalTableScan"), plan
