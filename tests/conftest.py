import pyarrow as pa
import pytest

from sqlite_otel_spark.session import get_spark

TRANSCRIPT_SCHEMA = (
    "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
)
# The same schema for transcript parquet files written with pyarrow
# (stream inputs)
TRANSCRIPT_ARROW_SCHEMA = pa.schema([
    ("conv_id", pa.string()), ("turn_idx", pa.int32()), ("role", pa.string()),
    ("text", pa.string()), ("tool", pa.string()), ("ts", pa.timestamp("us")),
])


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", master="local[4]", shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


def transcripts_df(spark, rows):
    return spark.createDataFrame(rows, schema=TRANSCRIPT_SCHEMA)


def sorted_rows(df):
    """Every row of a sink as a repr, over its columns in name order and
    without the checkpoint's ``bucket`` and the stream's ``batch``
    partition columns (repr keeps NaN and None comparable)."""
    cols = sorted(c for c in df.columns if c not in ("bucket", "batch"))
    return sorted(repr(tuple(r)) for r in df.select(*cols).collect())
