"""Streaming incremental constraint validation (the streaming twin of
``operators/quality.py::quality_checks``).

Six of the seven checks are ratios of SUM-mergeable counters
(condition hits / rows) — per-batch one-row counter partials add up.
Uniqueness is the one metric a counter cannot carry across batches: a
key duplicated BETWEEN two batches is invisible to either batch's
local distinct-count. The twin therefore keeps a per-key count store
at entity grain ((o_orderkey, n) SUM-merged — the retrieval twins'
per-doc granularity), from which the running distinct count is the
store's row count and the running total its sum: cross-batch
duplicates surface exactly.

The condition predicates and the threshold verdict step are IMPORTED
from the batch operator (quality_row_conditions / quality_verdicts),
so the counted conditions can never drift between the two paths, and
identical integer counts through identical double math make the read
bit-identical to the batch suite over the union of arrived rows —
the driver holds the twin to the batch entry's DuckDB oracle.

Referential integrity joins each batch against the (static)
dimension at WRITE time — a per-batch resolved counter — so the read
path never rejoins history.

Exactly-once: ``batch=<id>`` overwrite; SUM counters are not
idempotent under new-id re-delivery (standard SUM-store contract,
streaming/store.py).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cloudfront_kinesis_log_lambda_spark.operators.quality import (
    PSI_ROUND,
    QUALITY_THRESHOLDS,
    quality_row_conditions,
    quality_verdicts,
)
from cloudfront_kinesis_log_lambda_spark.streaming.store import (
    read_sum_merged,
    write_batch,
)

_COUNTER_SCHEMA = (
    "n bigint, custkey_complete bigint, status_in_set bigint, "
    "totalprice_positive bigint, priority_format bigint, "
    "orderdate_in_range bigint, custkey_resolves bigint"
)
_KEYS_SCHEMA = "o_orderkey bigint, k_n bigint"

_ROW_CHECKS = (
    "custkey_complete",
    "status_in_set",
    "totalprice_positive",
    "priority_format",
    "orderdate_in_range",
)


class StreamingQualityChecks:
    """``foreachBatch`` callable maintaining the constraint counters
    and the per-orderkey count store; query the running suite with
    :meth:`checks`.

    ``customer`` is the static referential dimension (c_custkey) the
    write path semi-joins each batch against.
    """

    def __init__(self, store_dir: str, customer: DataFrame) -> None:
        self.counters_dir = os.path.join(store_dir, "counters")
        self.keys_dir = os.path.join(store_dir, "keys")
        self.customer = customer.select("c_custkey")

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        conds = quality_row_conditions()
        cnt = batch_df.agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            *[
                F.sum(F.when(conds[name], 1).otherwise(0))
                .cast("long")
                .alias(name)
                for name in _ROW_CHECKS
            ],
        )
        resolved = batch_df.join(
            self.customer,
            batch_df.o_custkey == self.customer.c_custkey,
            "left_semi",
        ).agg(F.count(F.lit(1)).cast("long").alias("custkey_resolves"))
        write_batch(
            cnt.join(F.broadcast(resolved)), self.counters_dir, batch_id
        )
        keys = batch_df.groupBy("o_orderkey").agg(
            F.count(F.lit(1)).cast("long").alias("k_n")
        )
        write_batch(keys, self.keys_dir, batch_id)

    def checks(
        self, spark: SparkSession, exclude_batch: int = -1
    ) -> DataFrame:
        """The running (check, metric, passed) suite — bit-identical
        to the batch operator over the union of arrived rows."""
        counters = read_sum_merged(
            spark, self.counters_dir, _COUNTER_SCHEMA, (),
            ("n", *_ROW_CHECKS, "custkey_resolves"), exclude_batch,
        )
        keys = read_sum_merged(
            spark, self.keys_dir, _KEYS_SCHEMA, ("o_orderkey",), ("k_n",),
            exclude_batch,
        )
        uniq = keys.agg(
            F.count(F.lit(1)).cast("long").alias("n_distinct")
        )
        # zero-guard (mirrors the batch operator's F.when(n > 0, ...)):
        # a history of only-empty micro-batches sums n to 0, and a bare
        # 0/0 yields NaN — which Spark orders ABOVE every number, so
        # every `metric >= threshold` verdict would pass fail-open.
        # NULL metrics instead fail via quality_verdicts' coalesce.
        nd = F.col("n").cast("double")

        def frac(col: str) -> F.Column:
            return F.round(
                F.when(F.col("n") > 0, F.col(col).cast("double") / nd),
                PSI_ROUND,
            ).alias(col if col != "n_distinct" else "orderkey_unique")

        wide = counters.join(F.broadcast(uniq)).select(
            *[frac(name) for name in (*_ROW_CHECKS, "custkey_resolves")],
            frac("n_distinct"),
        )
        long_rows = wide.unpivot(
            [], list(QUALITY_THRESHOLDS), "check", "metric"
        )
        return quality_verdicts(long_rows)
