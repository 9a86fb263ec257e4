"""Streaming incremental OHLC candles (the streaming twin of
``operators/timeseries.py::events_ohlc``).

Candles are the textbook mergeable aggregate: high/low are MIN/MAX,
open/close are extremum-by-composite-key — argmin/argmax merge as
MIN/MAX over (key, value) pairs — and the event count is a SUM. Each
micro-batch lands its per-(type, hour) partial candle under
``candles/batch=<id>``; reads merge the partials with the same
extremum laws, reproducing the batch query bit-for-bit over the union
of arrived rows regardless of how events were sliced into batches
(waves may even split one hour's events arbitrarily — unlike the
transition twin there is NO ordering contract, because every merge law
here is commutative).

Exactly-once: MIN/MAX legs are re-delivery-idempotent; the COUNT leg
is a SUM, so the batch=<id> overwrite + exclude-current-batch read
contract (streaming/store.py) carries idempotence exactly as in the
Count-Min / quota stores.

100 TB shape: per-batch state is one row per (event_type, hour)
touched by the batch — the raw events never enter the store.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cloudfront_kinesis_log_lambda_spark.operators.timeseries import _event_key
from cloudfront_kinesis_log_lambda_spark.streaming.store import (
    read_batch_store,
    write_batch,
)

_SCHEMA = (
    "event_type string, hour string, open_k string, open double, "
    "high double, low double, close_k string, close double, n bigint"
)


class StreamingOHLC:
    """``foreachBatch`` callable maintaining per-hour candle partials.

    >>> q = (events_stream.writeStream
    ...      .foreachBatch(StreamingOHLC(store_dir))
    ...      .start())

    Query merged candles with :meth:`candles`.
    """

    def __init__(self, store_dir: str) -> None:
        self.candles_dir = os.path.join(store_dir, "candles")

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        keyed = batch_df.select(
            "event_type", "ts", "event_id", "value"
        ).filter(  # no hour bucket / open-close position (r15, batch rule)
            F.col("ts").isNotNull()
        ).withColumn("k", _event_key()).withColumn(
            "hour",
            F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:00"),
        )
        partial = keyed.groupBy("event_type", "hour").agg(
            F.min("k").alias("open_k"),
            F.expr("min_by(value, k)").alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max("k").alias("close_k"),
            F.expr("max_by(value, k)").alias("close"),
            F.count(F.lit(1)).cast("long").alias("n"),
        )
        write_batch(partial, self.candles_dir, batch_id)

    def candles(
        self, spark: SparkSession, exclude_batch: int = -1
    ) -> DataFrame:
        """Merged candles, column-for-column the batch query's output:
        open = value at the MIN open key across partials (struct-MIN),
        close at the MAX close key, high/low/n by MAX/MIN/SUM."""
        raw = read_batch_store(
            spark, self.candles_dir, _SCHEMA, exclude_batch
        )
        return (
            raw.groupBy("event_type", "hour")
            .agg(
                F.min(F.struct("open_k", "open")).alias("o"),
                F.max("high").alias("high"),
                F.min("low").alias("low"),
                F.max(F.struct("close_k", "close")).alias("c"),
                F.sum("n").cast("long").alias("n_events"),
            )
            .select(
                "event_type",
                "hour",
                F.col("o.open").alias("open"),
                "high",
                "low",
                F.col("c.close").alias("close"),
                "n_events",
            )
        )
