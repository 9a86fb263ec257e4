"""Streaming incremental statistics: the chi-square contingency test
and the Benford digit audit maintained over micro-batches.

Both batch operators (operators/stats.py::chi2_independence,
operators/quality.py::benford_digits) reduce the fact table to a
small table of INTEGER counts and run deterministic double math on
it. Counts are SUMs, so per-batch partials combine by addition and
the accumulated table is bit-identical to the batch reduce over the
union of arrived rows — the same merge-law family as the Count-Min
cells and the PSI bin counts, which lets the driver gate hold the
twins to the SAME DuckDB oracles as the batch entries.

Each twin keeps keyed count partials under ``counts/batch=<id>``
and reads them back through streaming/store.py's ``read_sum_merged``.
Writers never read state, so batch-id overwrite alone makes retries
idempotent (the retrieval-store argument); re-delivery under a NEW
batch id would double-count — the standard SUM-store contract.

100 TB shape: per-batch state is the contingency's r·c rows (or 9
digit rows) no matter the batch size; the stream's rows are never
stored.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cloudfront_kinesis_log_lambda_spark.operators.util import finite
from cloudfront_kinesis_log_lambda_spark.streaming.store import (
    read_sum_merged,
    write_batch,
)


class StreamingChi2:
    """``foreachBatch`` callable maintaining the (rv, cv) contingency
    table; :meth:`chi2` re-runs the batch operator's marginal/grid/
    fold math over the merged counts, so the running statistic equals
    the batch test over the union of arrived rows bit-for-bit."""

    def __init__(
        self, store_dir: str, row_col: str, col_col: str
    ) -> None:
        self.counts_dir = os.path.join(store_dir, "counts")
        self.row_col = row_col
        self.col_col = col_col

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        partial = (
            batch_df.select(
                F.col(self.row_col).alias("rv"),
                F.col(self.col_col).cast("long").alias("cv"),
            )
            # mirror the batch operator's NULL-category drop at WRITE
            # time so the store never carries mass chi2_from_counts's
            # shared guard would discard at every read
            .filter(F.col("rv").isNotNull() & F.col("cv").isNotNull())
            .groupBy("rv", "cv")
            .agg(F.count(F.lit(1)).cast("long").alias("o"))
        )
        write_batch(partial, self.counts_dir, batch_id)

    def chi2(self, spark: SparkSession, exclude_batch: int = -1) -> DataFrame:
        from cloudfront_kinesis_log_lambda_spark.operators.stats import (
            chi2_from_counts,
        )

        return chi2_from_counts(
            read_sum_merged(
                spark, self.counts_dir, "rv string, cv bigint, o bigint",
                ("rv", "cv"), ("o",), exclude_batch,
            )
        )


class StreamingBenford:
    """``foreachBatch`` callable maintaining first-digit counts;
    :meth:`digits` runs the batch audit's grid/χ²/MAD math over the
    merged counts — bit-identical to the batch operator."""

    def __init__(self, store_dir: str, value_col: str) -> None:
        self.counts_dir = os.path.join(store_dir, "counts")
        self.value_col = value_col

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        from cloudfront_kinesis_log_lambda_spark.operators.quality import (
            benford_digit_expr,
        )

        partial = (
            batch_df.filter(
                (F.col(self.value_col) > 0) & finite(F.col(self.value_col))
            )
            .select(
                benford_digit_expr(F.col(self.value_col)).alias("digit")
            )
            .groupBy("digit")
            .agg(F.count(F.lit(1)).cast("long").alias("n_obs"))
        )
        write_batch(partial, self.counts_dir, batch_id)

    def digits(
        self, spark: SparkSession, exclude_batch: int = -1
    ) -> DataFrame:
        from cloudfront_kinesis_log_lambda_spark.operators.quality import (
            benford_from_counts,
        )

        return benford_from_counts(
            spark,
            read_sum_merged(
                spark, self.counts_dir, "digit bigint, n_obs bigint",
                ("digit",), ("n_obs",), exclude_batch,
            ),
        )


class StreamingKS:
    """``foreachBatch`` callable maintaining the (type, value) KS grid
    against a fixed reference split; :meth:`ks` feeds the SUM-merged
    grid through the batch test's own finalizer — bit-identical to
    the batch KS over the union of arrived rows. State is bounded by
    the distinct quantized value domain, not stream volume."""

    def __init__(
        self,
        store_dir: str,
        split,
        type_col: str = "event_type",
        ts_col: str = "ts",
        value_col: str = "value",
        quantize: int | None = 3,
    ) -> None:
        self.counts_dir = os.path.join(store_dir, "counts")
        self.split = split
        self.type_col = type_col
        self.ts_col = ts_col
        self.value_col = value_col
        self.quantize = quantize

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        v = F.col(self.value_col)
        if self.quantize is not None:
            v = F.round(v, self.quantize)
        is_ref = F.col(self.ts_col) < F.lit(self.split)
        partial = (
            batch_df.select(
                F.col(self.type_col).alias("event_type"),
                v.alias("v"),
                is_ref.alias("is_ref"),
            )
            .groupBy("event_type", "v")
            .agg(
                F.sum(F.when(F.col("is_ref"), 1).otherwise(0))
                .cast("long")
                .alias("c_ref"),
                F.sum(F.when(~F.col("is_ref"), 1).otherwise(0))
                .cast("long")
                .alias("c_cur"),
            )
        )
        write_batch(partial, self.counts_dir, batch_id)

    def ks(self, spark: SparkSession, exclude_batch: int = -1) -> DataFrame:
        from cloudfront_kinesis_log_lambda_spark.operators.quality import (
            ks_from_grid,
        )

        return ks_from_grid(
            read_sum_merged(
                spark,
                self.counts_dir,
                "event_type string, v double, c_ref bigint, c_cur bigint",
                ("event_type", "v"),
                ("c_ref", "c_cur"),
                exclude_batch,
            )
        )
