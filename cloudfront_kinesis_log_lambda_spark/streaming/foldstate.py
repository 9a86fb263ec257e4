"""Shared state-store machinery for the per-user ORDER-DEPENDENT fold
twins (streaming/ewma.py, streaming/holt.py) and the last-event state
of streaming/transitions.py.

Both twins persist one CUMULATIVE accumulator row per active user per
batch and share three retry-safety-critical behaviors that must live
in exactly one place (the r7 transitions retry bug was of this class):

- writes land under ``state/batch=<id>`` with mode=overwrite (a
  retried batch rewrites its own paths byte-for-byte);
- reads argmax-merge by the (last_ts, last_id) high-water mark via
  struct-MAX — each row is cumulative, so the newest row per user IS
  the answer and re-delivered rows are harmless;
- seeding reads are AS-OF (``read_batch_store_before``): a retried
  batch recomputes against exactly the pre-batch state, never its own
  half-written or later batches' rows.

The fold expressions themselves (what makes EWMA EWMA and Holt Holt)
stay in the twins; only the store contract is shared.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cloudfront_kinesis_log_lambda_spark.streaming.store import (
    read_batch_store,
    read_batch_store_before,
    write_batch,
)


class FoldStateStore:
    """``state/batch=<id>`` store of per-user cumulative accumulators.

    ``value_fields`` are the accumulator columns beyond the fixed
    (user_id, last_ts, last_id) key + high-water mark.
    """

    def __init__(
        self,
        store_dir: str,
        schema: str,
        value_fields: tuple[str, ...],
        key: str = "user_id",
    ) -> None:
        self.state_dir = os.path.join(store_dir, "state")
        self.schema = schema
        self.value_fields = tuple(value_fields)
        self.key = key

    def write(self, state_rows: DataFrame, batch_id: int) -> None:
        write_batch(state_rows, self.state_dir, batch_id)

    def state(
        self, spark: SparkSession, before_batch: int | None = None
    ) -> DataFrame:
        """Per-user newest cumulative row (argmax by the high-water
        mark). ``before_batch`` gives the AS-OF read a retried batch
        must seed from."""
        if before_batch is None:
            raw = read_batch_store(spark, self.state_dir, self.schema, -1)
        else:
            raw = read_batch_store_before(
                spark, self.state_dir, self.schema, before_batch
            )
        merged = raw.groupBy(self.key).agg(
            F.max(
                F.struct("last_ts", "last_id", *self.value_fields)
            ).alias("s")
        )
        return merged.select(
            self.key,
            F.col("s.last_ts").alias("last_ts"),
            F.col("s.last_id").alias("last_id"),
            *[F.col(f"s.{f}").alias(f) for f in self.value_fields],
        )


def user_series(batch_df: DataFrame) -> DataFrame:
    """The twins' shared per-user event-ordered series aggregate.

    NULL event time is excluded (r15 hostile-dates sweep): a row with
    no timestamp has no position on the stream timeline — real
    Structured Streaming could never deliver it past a watermark, and
    in the order-dependent folds Spark would rank it FIRST (sort_array
    NULL-field ordering), silently making it the seed. Same rule as the
    batch events_ewma/events_holt."""
    return (
        batch_df.select("user_id", "ts", "event_id", "value")
        .filter(F.col("ts").isNotNull())
        .groupBy("user_id")
        .agg(
            F.sort_array(
                F.collect_list(F.struct("ts", "event_id", "value"))
            ).alias("series")
        )
    )
