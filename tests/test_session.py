"""Session helpers: a scoped conf override never leaks into later queries,
a driver-built small table plans as a local relation, and Python UDF
workers fork from the engine's daemon wherever the driver runs."""

import os
import subprocess
import sys

import pandas as pd
import pytest
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from otel_arrow_spark.operators.parse import parse_transcripts
from otel_arrow_spark.session import local_frame, small_state_conf
from tests.conftest import assert_df_equal

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

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


def test_udf_workers_keep_zip_directories(spark):
    """Inside a UDF, zip importers answer invalidate_caches with the
    daemon's no-op instead of re-reading their archives."""

    def probe(s: pd.Series) -> pd.Series:
        import zipimport

        f = zipimport.zipimporter.invalidate_caches
        return s.map(lambda _: f"{f.__code__.co_filename}:{f.__name__}")

    got = spark.range(1).select(pandas_udf("string")(probe)("id")).first()[0]
    want = os.path.join("otel_arrow_spark", "pyworker.py") + ":_keep_zip_directory"
    assert got.endswith(want), got


# Run in a fresh interpreter whose working directory is outside the
# checkout and whose PYTHONPATH is unset: the package is reachable only
# through sys.path, as in a script that inserts it.
_PARSE_ELSEWHERE = """
import sys
sys.path.insert(0, {root!r})
from otel_arrow_spark import get_spark
from otel_arrow_spark.operators.parse import parse_transcripts
spark = get_spark(master="local[2]", shuffle_partitions=2)
parse_transcripts(spark.read.parquet({inp!r})).write.parquet({out!r})
spark.stop()
"""


def test_udf_workers_start_from_any_working_directory(spark, tiny_transcripts, tmp_path):
    out = str(tmp_path / "parsed")
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_DRIVER_MEMORY"] = "1g"
    script = _PARSE_ELSEWHERE.format(root=ROOT, inp=tiny_transcripts, out=out)
    r = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=600,
    )
    assert r.returncode == 0, r.stderr[-4000:]
    want = parse_transcripts(spark.read.parquet(tiny_transcripts))
    assert_df_equal(spark.read.parquet(out), want, "parse in a subprocess")
