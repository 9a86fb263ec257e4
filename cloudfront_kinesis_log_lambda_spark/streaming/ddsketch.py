"""Streaming incremental DDSketch quantiles (the streaming twin of
``operators/sketch.py::events_value_ddsketch``).

The batch query histograms a closed table into log-γ buckets; a
metrics pipeline maintains the histogram as events stream in and
answers "p50/p95/p99 so far" at any point. Bucket counts are SUMs, so
per-batch partial histograms combine by addition (the same sum-merge
law as the Count-Min counters, proven bit-exact for the batch operator
in test_sketch's daily-merge gate): the accumulated histogram — and
therefore every quantile read from it — is IDENTICAL to the batch
sketch over the union of arrived rows.
``events_ddsketch_incremental`` shares the batch entry's exact oracle.

foreachBatch shape per micro-batch:

  batch rows → (group, bucket) COUNT partial histogram (≤ groups ×
  ~1200 compact rows whatever the batch size) appended under
  ``hist/batch=<id>``
  quantiles-on-read: SUM-merge the history, cumulative window over the
  tiny bucket table, MIN-CASE per quantile (the shared
  ``dd_quantile_sql`` fragment).

Exactly-once: ``batch=<id>`` overwrite makes retries idempotent; SUM
is not idempotent under re-delivery, so the exclude-current-batch read
contract is load-bearing here exactly as in streaming/countmin.py.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from cloudfront_kinesis_log_lambda_spark.operators.sketch import (
    dd_bucket_sql,
    dd_quantile_sql,
)
from cloudfront_kinesis_log_lambda_spark.operators.util import finite
from cloudfront_kinesis_log_lambda_spark.streaming.store import (
    read_sum_merged,
    write_batch,
)


class StreamingDDSketch:
    """``foreachBatch`` callable maintaining per-group log-γ bucket
    histograms over a positive ``value`` column.

    >>> q = (events_stream.writeStream
    ...      .foreachBatch(StreamingDDSketch(store_dir, ["event_type"]))
    ...      .start())

    Query running quantiles with :meth:`quantiles`.
    """

    def __init__(
        self,
        store_dir: str,
        group_cols: list[str],
        value_col: str = "value",
        group_ddl: str | None = None,
    ) -> None:
        self.hist_dir = os.path.join(store_dir, "hist")
        self.group_cols = list(group_cols)
        self.value_col = value_col
        self._schema = (
            group_ddl or ", ".join(f"{g} string" for g in self.group_cols)
        ) + ", bucket bigint, n bigint"

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        bucket_sql = dd_bucket_sql(self.value_col)
        partial = (
            batch_df.filter(
                (F.col(self.value_col) > 0) & finite(F.col(self.value_col))
            )
            .select(*self.group_cols, F.expr(bucket_sql).alias("bucket"))
            .groupBy(*self.group_cols, "bucket")
            .agg(F.count(F.lit(1)).cast("long").alias("n"))
        )
        write_batch(partial, self.hist_dir, batch_id)

    def histogram(
        self, spark: SparkSession, exclude_batch: int = -1
    ) -> DataFrame:
        """SUM-merged (group…, bucket, n) over the batch history."""
        return read_sum_merged(
            spark, self.hist_dir, self._schema, (*self.group_cols, "bucket"),
            ("n",), exclude_batch,
        )

    def quantiles(
        self, spark: SparkSession, exclude_batch: int = -1
    ) -> DataFrame:
        """(group…, n_values, p50, p95, p99) as of now — bit-identical
        to the batch sketch over every row arrived so far, by the
        histogram sum-merge law."""
        hist = self.histogram(spark, exclude_batch)
        w = (
            Window.partitionBy(*self.group_cols)
            .orderBy("bucket")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        cum = hist.select(
            *self.group_cols,
            "bucket",
            F.sum("n").over(w).alias("cum"),
            F.sum("n").over(Window.partitionBy(*self.group_cols)).alias("total"),
        )
        return cum.groupBy(*self.group_cols).agg(
            F.max("total").cast("long").alias("n_values"),
            F.expr(dd_quantile_sql(0.5)).alias("p50"),
            F.expr(dd_quantile_sql(0.95)).alias("p95"),
            F.expr(dd_quantile_sql(0.99)).alias("p99"),
        )
