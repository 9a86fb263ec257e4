"""Streaming incremental embedding-centroid drift (the streaming twin
of ``operators/quality.py::embedding_centroid_drift``).

A live embedding monitor watches vectors arrive and answers "how far
have the per-label centroids moved from the reference cohort" at any
point. The batch operator's state is exactly two SUM-mergeable
tables:

- per-dimension DECIMAL(18,9)-quantized element sums at
  (label, dim) grain — decimal addition is exact, so per-batch
  partials merge into BIT-IDENTICAL full-corpus sums;
- label-grain cohort counts (counted at the ROW grain, before any
  explode, so a vector-less row still counts into its cohort —
  mirroring the batch operator's count semantics).

The read feeds the merged tables through the batch operator's own
``centroid_drift_from_sums`` finalizer, so the running drift equals
the batch run over the union of arrived rows and the driver holds
``embedding_drift_incremental`` to the SAME DuckDB oracle.

Exactly-once: ``batch=<id>`` overwrite + the exclude-current-batch
read contract — decimal/count SUMs are not idempotent under new-id
re-delivery (the standard SUM-store contract, streaming/store.py).

100 TB shape: per-batch state is |labels|·|dims| sum rows plus
|labels| count rows no matter the batch size; vectors are never
stored.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cloudfront_kinesis_log_lambda_spark.operators.util import (
    DECIMAL_18_9_BOUND,
    in_decimal_domain,
)
from cloudfront_kinesis_log_lambda_spark.operators.quality import (
    centroid_drift_from_sums,
)
from cloudfront_kinesis_log_lambda_spark.streaming.store import (
    read_batch_store,
    read_sum_merged,
    write_batch,
)

_SUMS_SCHEMA = (
    "label int, dim int, s_ref decimal(28,9), s_cur decimal(28,9)"
)
_COUNTS_SCHEMA = "label int, n_ref bigint, n_cur bigint"


class StreamingEmbeddingDrift:
    """``foreachBatch`` callable maintaining per-dimension centroid
    sums against a reference/current cohort split; query the running
    drift with :meth:`drift`."""

    # fixed input contract (label int, embedding array<float>,
    # is_ref boolean) — the store schemas below pin the label type,
    # so configurable column parameters would promise a generality
    # the read path cannot deliver (review finding; the sibling
    # count-store twins share this shape)
    def __init__(self, store_dir: str) -> None:
        self.sums_dir = os.path.join(store_dir, "sums")
        self.counts_dir = os.path.join(store_dir, "counts")
        self.label_col = "label"
        self.emb_col = "embedding"

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        """``batch_df`` must carry an ``is_ref`` boolean column (the
        cohort assignment is the caller's split rule)."""
        counts = (
            batch_df.groupBy(F.col(self.label_col).alias("label"))
            .agg(
                F.sum(F.when(F.col("is_ref"), 1).otherwise(0))
                .cast("long")
                .alias("n_ref"),
                F.sum(F.when(~F.col("is_ref"), 1).otherwise(0))
                .cast("long")
                .alias("n_cur"),
            )
        )
        sums = (
            batch_df.select(
                F.col(self.label_col).alias("label"),
                "is_ref",
                F.posexplode(self.emb_col).alias("dim", "val"),
            )
            .filter(
                # decimal-exact domain (r14), same rule as the batch op
                in_decimal_domain(F.col("val"), DECIMAL_18_9_BOUND)
            )
            .select(
                "label",
                "dim",
                "is_ref",
                F.expr("cast(val as decimal(18,9))").alias("vd"),
            )
            .groupBy("label", "dim")
            .agg(
                F.expr(
                    "cast(sum(case when is_ref then vd end)"
                    " as decimal(28,9))"
                ).alias("s_ref"),
                F.expr(
                    "cast(sum(case when not is_ref then vd end)"
                    " as decimal(28,9))"
                ).alias("s_cur"),
            )
        )
        write_batch(sums, self.sums_dir, batch_id)
        write_batch(counts, self.counts_dir, batch_id)

    def drift(self, spark: SparkSession, exclude_batch: int = -1) -> DataFrame:
        sums = (
            read_batch_store(spark, self.sums_dir, _SUMS_SCHEMA, exclude_batch)
            .groupBy("label", "dim")
            .agg(
                F.expr("cast(sum(s_ref) as decimal(28,9))").alias("s_ref"),
                F.expr("cast(sum(s_cur) as decimal(28,9))").alias("s_cur"),
            )
        )
        counts = read_sum_merged(
            spark, self.counts_dir, _COUNTS_SCHEMA, ("label",),
            ("n_ref", "n_cur"), exclude_batch,
        ).filter((F.col("n_ref") > 0) & (F.col("n_cur") > 0))
        return centroid_drift_from_sums(sums, counts)
