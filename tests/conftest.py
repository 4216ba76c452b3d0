import shutil
import tempfile

import pytest

from otel_arrow_spark.session import get_spark
from otel_arrow_spark.sources.transcripts import write_transcripts_parquet

TINY_TURNS = 4000


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="otel-arrow-spark-tests", master="local[4]", shuffle_partitions=4)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def workdir():
    d = tempfile.mkdtemp(prefix="oas-tests-")
    yield d
    shutil.rmtree(d, ignore_errors=True)


@pytest.fixture(scope="session")
def tiny_transcripts(workdir):
    """Deterministic tiny corpus (seed 42) written once per test session."""
    return write_transcripts_parquet(f"{workdir}/transcripts", TINY_TURNS)


def assert_df_equal(a, b, msg=""):
    """Order-insensitive logical equality — the assert.Equiv analog
    (go/pkg/otel/assert/equiv.go:111)."""
    sa = [(f.name, f.dataType) for f in a.schema.fields]
    sb = [(f.name, f.dataType) for f in b.schema.fields]
    assert sa == sb, f"{msg} schema mismatch (nullability ignored):\n{sa}\n{sb}"
    extra = a.exceptAll(b).count()
    missing = b.exceptAll(a).count()
    assert extra == 0 and missing == 0, f"{msg} rows differ: extra={extra} missing={missing}"


def parquet_column_chunks(path):
    """Footer metadata of every column chunk in the parquet data files
    under ``path``: ``{column: [(compression, encodings), ...]}``."""
    import glob
    import os

    import pyarrow.parquet as pq

    files = glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
    assert files, f"no parquet files under {path}"
    chunks: dict = {}
    for f in files:
        md = pq.ParquetFile(f).metadata
        for g in range(md.num_row_groups):
            for i in range(md.num_columns):
                c = md.row_group(g).column(i)
                chunks.setdefault(c.path_in_schema, []).append((c.compression, c.encodings))
    return chunks
