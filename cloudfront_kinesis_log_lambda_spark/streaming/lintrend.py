"""Streaming incremental OLS trend (the streaming twin of
``operators/timeseries.py::events_linear_trend``).

The simplest twin in the engine, and deliberately so: the batch
operator is a pure partial+final aggregation over six EXACT moment
sums (COUNT + integer/decimal SUMs), and exact sums form a
commutative monoid — so the twin just persists each micro-batch's
per-type partials under ``partials/batch=<id>`` and SUM-merges the
whole history on read, feeding the SAME closed-form finalizer
(``linear_trend_final``) the batch operator uses. No ordering
contract, no high-water mark, no as-of seeding: writes never read
state (the retrieval-store idempotence argument — a retried batch
overwrites its own paths byte-for-byte and the merge is
order-free), so stream == batch is exact by construction.

100 TB shape: per-batch state is ≤ |event types| compact rows
regardless of batch size; the serve step merges those rows only.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cloudfront_kinesis_log_lambda_spark.operators.timeseries import (
    linear_trend_final,
    linear_trend_partials,
)
from cloudfront_kinesis_log_lambda_spark.streaming.store import (
    read_batch_store,
    write_batch,
)

_SCHEMA = (
    "event_type string, n bigint, sx bigint, sxx bigint, "
    "sy decimal(28,3), sxy decimal(38,3), syy decimal(28,3)"
)


class StreamingLinearTrend:
    """``foreachBatch`` callable maintaining per-type moment sums.

    >>> q = (events_stream.writeStream
    ...      .foreachBatch(StreamingLinearTrend(store_dir))
    ...      .start())

    Query the running regression with :meth:`trend`.
    """

    def __init__(self, store_dir: str) -> None:
        self.partials_dir = os.path.join(store_dir, "partials")

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        parts = linear_trend_partials(
            batch_df.select("event_type", "ts", "value")
        )
        write_batch(parts, self.partials_dir, batch_id)

    def merged(self, spark: SparkSession) -> DataFrame:
        """SUM-merged moment sums over the whole batch history —
        exactly the batch operator's aggregate over every row arrived
        so far (exact sums commute)."""
        raw = read_batch_store(spark, self.partials_dir, _SCHEMA, -1)
        return raw.groupBy("event_type").agg(
            F.sum("n").alias("n"),
            F.sum("sx").alias("sx"),
            F.sum("sxx").alias("sxx"),
            F.expr("cast(sum(sy) as decimal(28,3))").alias("sy"),
            F.expr("cast(sum(sxy) as decimal(38,3))").alias("sxy"),
            F.expr("cast(sum(syy) as decimal(28,3))").alias("syy"),
        )

    def trend(self, spark: SparkSession) -> DataFrame:
        """Merged result, column-for-column the batch query's output
        (shared finalizer)."""
        return linear_trend_final(self.merged(spark))
