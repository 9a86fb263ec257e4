"""Streaming incremental distinct counting (the streaming twin of
``operators/sketch.py``'s deterministic HLL).

The batch operator sketches a closed table; an ingest pipeline asks the
same question continuously: how many distinct keys has each group
accumulated so far? Maintaining an exact distinct set in streaming
state grows without bound; the HLL register vector is the textbook
replacement — fixed ``groups × m`` state, and because registers
combine by element-wise MAX the estimate-on-read over any batch
history is BIT-IDENTICAL to the batch sketch of the union of arrived
rows (the merge law the batch query ``events_hll_daily_merge`` proves
in the driver gate; test_streaming_hll asserts the stream==batch leg).

foreachBatch shape per micro-batch:

  batch rows → hll_registers (groupBy bucket → MAX rho, map-side
    partial sketching) → appended under ``registers/batch=<id>``
  estimate-on-read: MAX-merge all register rows → hll_estimate

Exactly-once, and better: writes land under ``batch=<id>`` with
mode=overwrite (a retried micro-batch rewrites its own paths), and
because MAX is idempotent as well as associative-commutative, register
rows are harmless even if double-merged — the store tolerates
at-least-once delivery strictly more gracefully than the sum-based
stores (streaming/quota.py), where the exclude-current-batch read is
load-bearing. The exclusion is kept anyway so reads never see a
half-written partition.

100 TB shape: per-batch state appended is ≤ groups × m compact rows
(event-type × 512 here) regardless of batch size; the estimate read
MAX-merges register rows only — the stream's keys are never stored.
A long-lived stream accumulates one tiny directory per micro-batch;
``streaming.store.fold_batch_store`` maintenance applies unchanged
(MAX-merge is fold-safe for the same reason it is merge-safe).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cloudfront_kinesis_log_lambda_spark.operators.sketch import (
    hll_estimate,
    hll_registers,
)
from cloudfront_kinesis_log_lambda_spark.streaming.store import (
    read_batch_store,
    write_batch,
)


class StreamingHLL:
    """``foreachBatch`` callable maintaining per-group HLL registers.

    >>> q = (events_stream.writeStream
    ...      .foreachBatch(StreamingHLL(store_dir, ["event_type"], "user_id"))
    ...      .start())

    Query the running estimate at any point with :meth:`estimate`.
    """

    def __init__(
        self,
        store_dir: str,
        group_cols: list[str],
        key_col: str,
        group_ddl: str | None = None,
    ) -> None:
        self.registers_dir = os.path.join(store_dir, "registers")
        self.group_cols = list(group_cols)
        self.key_col = key_col
        # read_batch_store needs a DDL schema for the store-not-yet-
        # created case; group columns default to string — pass group_ddl
        # (e.g. "day date, source string") for anything else
        self._schema = (
            group_ddl or ", ".join(f"{g} string" for g in self.group_cols)
        ) + ", bucket bigint, rho int"

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        regs = hll_registers(batch_df, self.group_cols, self.key_col)
        write_batch(regs, self.registers_dir, batch_id)

    def registers(
        self, spark: SparkSession, exclude_batch: int = -1
    ) -> DataFrame:
        """MAX-merged register vectors over the whole batch history."""
        raw = read_batch_store(
            spark, self.registers_dir, self._schema, exclude_batch
        )
        return raw.groupBy(*self.group_cols, "bucket").agg(
            F.max("rho").alias("rho")
        )

    def estimate(self, spark: SparkSession) -> DataFrame:
        """(group…, n_registers, v_zero, approx_distinct) as of now —
        bit-identical to the batch sketch over every row arrived so
        far, by the register merge law."""
        return hll_estimate(self.registers(spark), self.group_cols)
