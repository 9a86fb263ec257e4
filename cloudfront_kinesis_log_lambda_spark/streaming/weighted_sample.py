"""Streaming incremental weighted sampling (the streaming twin of
``operators/reshape.py::doc_weighted_sample``).

The batch operator draws a weight-proportional without-replacement
sample of a closed corpus via the A-Res key ln(u)/w; an ingest pipeline
maintains the same sample as documents stream in. The key insight is a
MERGE LAW again, this time for top-k: every member of the global top-k
is necessarily in its own batch's top-k, so keeping only the per-batch
top-k candidate rows (bounded state: ≤ k rows per micro-batch,
whatever the batch size) and re-selecting top-k over the stored
candidates reproduces the batch sample EXACTLY —
``doc_weighted_sample_incremental`` shares the batch entry's oracle.

foreachBatch shape per micro-batch:

  batch docs → deterministic A-Res keys (md5-derived uniforms — no
  RNG) → batch top-k (TakeOrderedAndProject) → appended under
  ``candidates/batch=<id>``
  sample-on-read: top-k over the candidate history.

Exactly-once and re-delivery: ``batch=<id>`` overwrite makes retries
idempotent, and because the keys are DETERMINISTIC functions of the
row, re-delivering old rows under a new batch id just writes duplicate
candidate rows that ``distinct()`` collapses on read — like the HLL
MAX store (and unlike the CMS SUM store), at-least-once delivery
cannot change the sample.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cloudfront_kinesis_log_lambda_spark.operators.reshape import (
    weighted_sample_key_sql,
)
from cloudfront_kinesis_log_lambda_spark.streaming.store import (
    read_batch_store,
    write_batch,
)

_SCHEMA = "doc_id long, n_chars long, sample_key double"


class StreamingWeightedSample:
    """``foreachBatch`` callable maintaining the A-Res candidate set.

    >>> q = (docs_stream.writeStream
    ...      .foreachBatch(StreamingWeightedSample(store_dir, k=50))
    ...      .start())

    Read the current sample with :meth:`sample`.
    """

    def __init__(
        self,
        store_dir: str,
        k: int = 50,
        id_col: str = "doc_id",
        weight_col: str = "n_chars",
    ) -> None:
        self.candidates_dir = os.path.join(store_dir, "candidates")
        self.k = k
        self.id_col = id_col
        self.weight_col = weight_col

    def _keyed(self, df: DataFrame) -> DataFrame:
        return df.filter(F.col(self.weight_col) > 0).select(
            F.col(self.id_col).cast("long").alias("doc_id"),
            F.col(self.weight_col).cast("long").alias("n_chars"),
            F.expr(
                weighted_sample_key_sql(
                    self.id_col, self.weight_col, duck=False
                )
            ).alias("sample_key"),
        )

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        top = (
            self._keyed(batch_df)
            .orderBy(F.col("sample_key").desc(), F.col("doc_id").asc())
            .limit(self.k)
        )
        write_batch(top, self.candidates_dir, batch_id)

    def sample(
        self, spark: SparkSession, exclude_batch: int = -1
    ) -> DataFrame:
        """The current weight-proportional sample — bit-identical to
        the batch operator over every row arrived so far (top-k merge
        law). ``distinct()`` collapses re-delivered duplicate
        candidates; deterministic keys make that sound."""
        cand = read_batch_store(
            spark, self.candidates_dir, _SCHEMA, exclude_batch
        ).distinct()
        return cand.orderBy(
            F.col("sample_key").desc(), F.col("doc_id").asc()
        ).limit(self.k)
