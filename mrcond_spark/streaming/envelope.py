"""Change-event envelope (SURVEY §1.2, FIXTURES.md §1.2).

The reference forwards MongoDB change-stream events verbatim as JSON
(`mrcon/src/rabbitmq/amqp.rs:96`). We model the envelope as a fixed
StructType with the document body kept as a JSON string — schemaless
fidelity, parsed on demand with ``from_json``/``get_json_object``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType, TimestampType

#: operationType values that terminate a stream (connector.rs:169-171 treats
#: stream end — caused by drop/invalidate — as the clean-stop signal)
TERMINAL_OPERATIONS = ("drop", "invalidate")

ENVELOPE_SCHEMA = StructType(
    [
        StructField("_id", StringType(), False),  # opaque resume token JSON
        StructField("operationType", StringType(), False),
        StructField("clusterTime", TimestampType(), True),
        StructField(
            "ns",
            StructType(
                [StructField("db", StringType(), True), StructField("coll", StringType(), True)]
            ),
            True,
        ),
        StructField("documentKey", StringType(), True),  # JSON {"_id": ...}
        StructField("fullDocument", StringType(), True),  # JSON document body
    ]
)


def to_payload(df: DataFrame, include_operation: bool = False) -> DataFrame:
    """R3 projection: serialize the whole event struct to a JSON payload
    (identity projection, format change only — `amqp.rs:96`).

    Keeps ``_id`` alongside for per-batch ordering and resume bookkeeping;
    ``include_operation`` additionally carries ``operationType`` (as ``__op``)
    so terminal-event detection costs no second projection/job.
    """
    cols = [
        F.col("_id").alias("_token"),
        F.to_json(F.struct(*[F.col(c) for c in df.columns])).alias("value"),
    ]
    if include_operation:
        cols.append(F.col("operationType").alias("__op"))
    return df.select(*cols)
