"""Streaming incremental PSI drift monitor (the streaming twin of
``operators/quality.py::events_psi_drift``).

The batch operator bins every row against the REFERENCE window's
per-type [min, max] geometry and folds (type, bin) counts into the
PSI score. An ingest pipeline maintains the same monitor live: the
reference geometry is FROZEN once (that is what "reference" means —
the yardstick must not move as current data arrives), each
micro-batch appends its (type, bin, n_ref, n_cur) partial counts,
and the PSI read SUM-merges the history through the batch operator's
own ``psi_from_counts`` finalizer.

Counts are SUMs, so per-batch partials combine by addition and the
accumulated table is BIT-IDENTICAL to the batch operator's counts
over the union of arrived rows — identical integers into identical
double math means the driver gate can hold ``events_psi_drift_
incremental`` to the SAME DuckDB oracle as the batch entry.

foreachBatch shape per micro-batch:

  batch rows → broadcast-join frozen stats → bin → (type, bin,
  n_ref, n_cur) partial (≤ 10·|types| rows) under ``counts/
  batch=<id>``; psi-on-read SUM-merges the history.

Exactly-once: ``batch=<id>`` overwrite + the exclude-current-batch
read contract (streaming/store.py) — SUM is not idempotent under
re-delivery with a NEW batch id, exactly as in the Count-Min and
quota stores. Writers never read state, so overwrite alone makes
retries safe (the retrieval-store argument, streaming/retrieval.py).

100 TB shape: per-batch state is ≤ 10 rows per event type no matter
the batch size; the stream's rows are never stored.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from cloudfront_kinesis_log_lambda_spark.operators.quality import (
    PSI_SPLIT,
    psi_bin_counts,
    psi_from_counts,
    psi_ref_stats,
)
from cloudfront_kinesis_log_lambda_spark.streaming.store import (
    read_sum_merged,
    write_batch,
)

_COUNTS_SCHEMA = "event_type string, bin long, n_ref bigint, n_cur bigint"
_STATS_SCHEMA = "event_type string, vmin double, vmax double"


class StreamingPSI:
    """``foreachBatch`` callable maintaining PSI bin counts against a
    frozen reference geometry.

    >>> mon = StreamingPSI(store_dir)
    >>> mon.freeze_reference(ref_df)          # once, before the stream
    >>> q = (events_stream.writeStream
    ...      .foreachBatch(mon).start())

    Query the running drift score with :meth:`psi`.
    """

    def __init__(self, store_dir: str, split=PSI_SPLIT) -> None:
        self.counts_dir = os.path.join(store_dir, "counts")
        self.stats_dir = os.path.join(store_dir, "stats")
        self.split = split

    def freeze_reference(self, ref: DataFrame) -> None:
        """Materialize the reference bin geometry (type, vmin, vmax).
        Call once before any batch; the geometry never changes after —
        re-freezing against a grown reference would silently re-bin
        only FUTURE batches and break the merge law."""
        psi_ref_stats(ref, "event_type", "value").write.mode(
            "error"
        ).parquet(self.stats_dir)

    def _stats(self, spark: SparkSession) -> DataFrame:
        return spark.read.schema(_STATS_SCHEMA).parquet(self.stats_dir)

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        partial = psi_bin_counts(
            batch_df, self._stats(batch_df.sparkSession), self.split
        )
        write_batch(partial, self.counts_dir, batch_id)

    def counts(
        self, spark: SparkSession, exclude_batch: int = -1
    ) -> DataFrame:
        """SUM-merged (type, bin) counts over the batch history."""
        return read_sum_merged(
            spark, self.counts_dir, _COUNTS_SCHEMA, ("event_type", "bin"),
            ("n_ref", "n_cur"), exclude_batch,
        )

    def psi(self, spark: SparkSession, exclude_batch: int = -1) -> DataFrame:
        """Running PSI per type — bit-identical to the batch operator
        over the union of arrived rows (SUM-merge law)."""
        return psi_from_counts(
            self.counts(spark, exclude_batch), self._stats(spark)
        )
