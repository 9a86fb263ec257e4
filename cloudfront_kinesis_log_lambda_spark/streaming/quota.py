"""Streaming per-source admission quota (the streaming twin of
``operators/corpus.py::source_quota(priority="arrival")``).

Batch quota capping ranks a closed corpus; an ingest pipeline must
decide AT ARRIVAL whether a document's source still has budget — the
admission-control form of the domain cap (bound any crawl source's
share of the corpus while the corpus is still arriving). First-come
admission is the only priority an unbounded stream can honor, which is
exactly ``source_quota(priority="arrival")`` — so the stream and batch
operators are EXACTLY equivalent for doc_id-ordered arrival, and the
test gate asserts set equality of the admitted ids.

foreachBatch shape per micro-batch:

  batch docs → in-batch per-source rank (doc_id order)
    → prior per-source admitted totals from the persistent counts store
      (probed by the batch's sources only)
    → admit iff prior_total + in-batch rank ≤ cap
    → admitted rows appended to the output log; per-source admitted
      deltas appended to the counts store.

Exactly-once: batch=<id> overwrite directories + exclude-current-batch
reads (``streaming/store.py`` — shared with the near-dup and novelty
indexes), so a retried micro-batch re-admits exactly the same set
instead of double-counting its own deltas.

100 TB shape: the counts store holds one delta row per (batch, admitting
source) — semi-joined down to the batch's own sources before the
aggregate, so the probe cost tracks the batch, not total history. The
delta-dir count still grows one per batch; a long-lived stream folds
them with ``streaming/store.py::fold_batch_store`` (generational
pointer — reader-race-free, keeps the newest deltas for retry safety). The admitted LOG is corpus-sized
and append-only, as an audit log should be; nothing re-reads it on the
hot path.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from cloudfront_kinesis_log_lambda_spark.streaming.store import (
    read_batch_store,
    write_batch,
)

_COUNTS_SCHEMA = "source string, admitted long"
_OUT_SCHEMA = "doc_id long, source string, admitted int"


class StreamingSourceQuota:
    """``foreachBatch`` callable: first-come per-source admission up to
    ``cap`` documents, against a persistent per-source counts store.

    >>> q = (docs_stream.writeStream
    ...      .foreachBatch(StreamingSourceQuota(store_dir, out_dir, cap=10))
    ...      .start())

    Admission decisions accumulate under ``out_dir`` (read back with
    :func:`admission_log`); the counts store lives under ``store_dir``.
    """

    def __init__(self, store_dir: str, out_dir: str, cap: int = 10) -> None:
        self.counts_dir = os.path.join(store_dir, "source_counts")
        self.out_dir = out_dir
        self.cap = cap

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        batch_sources = batch_df.select("source").distinct()
        # probe, don't rescan: only the batch's sources' deltas matter
        prior = (
            read_batch_store(spark, self.counts_dir, _COUNTS_SCHEMA, batch_id)
            .join(F.broadcast(batch_sources), "source", "left_semi")
            .groupBy("source")
            .agg(F.sum("admitted").alias("prior"))
        )
        w = Window.partitionBy("source").orderBy("doc_id")
        decided = (
            batch_df.select("doc_id", "source")
            .withColumn("rn", F.row_number().over(w))
            .join(F.broadcast(prior), "source", "left")
            .select(
                "doc_id",
                "source",
                (
                    F.coalesce("prior", F.lit(0)) + F.col("rn") <= self.cap
                ).cast("int").alias("admitted"),
            )
            .localCheckpoint(eager=True)  # reused 2×; drops the stream source
        )
        write_batch(decided, self.out_dir, batch_id)
        write_batch(
            decided.filter(F.col("admitted") == 1)
            .groupBy("source")
            .agg(F.count(F.lit(1)).alias("admitted")),
            self.counts_dir,
            batch_id,
        )


_TOKENS_SCHEMA = "source string, seen_tokens long"
_MIX_SCHEMA = (
    "doc_id long, source string, n_tokens long, cum_tokens long, "
    "budget long, admitted int"
)


class StreamingMixture:
    """``foreachBatch`` callable: token-budget mixture admission — the
    streaming twin of ``operators/corpus.py::mixture_sample``. Each
    source's running TOKEN total (admitted or not — the batch operator's
    cumulative sum runs over every doc in doc_id order, so the stream
    must count skipped docs too) gates arrivals against the same
    deterministic per-source budget rule; exact stream==batch parity
    for doc_id-ordered arrival is the test contract.

    Store/probe/idempotence shape is identical to
    :class:`StreamingSourceQuota`; the only state is a per-source token
    counter, so the counts store stays sources×batches-sized and
    foldable by ``store.fold_batch_store``.
    """

    def __init__(self, store_dir: str, out_dir: str) -> None:
        self.counts_dir = os.path.join(store_dir, "token_counts")
        self.out_dir = out_dir

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        from cloudfront_kinesis_log_lambda_spark.operators.corpus import (
            _source_budget,
            n_tokens_col,
        )

        spark = batch_df.sparkSession
        batch_sources = batch_df.select("source").distinct()
        prior = (
            read_batch_store(spark, self.counts_dir, _TOKENS_SCHEMA, batch_id)
            .join(F.broadcast(batch_sources), "source", "left_semi")
            .groupBy("source")
            .agg(F.sum("seen_tokens").alias("prior"))
        )
        n_tok = n_tokens_col("text")  # THE shared budget-accounting rule
        w = (
            Window.partitionBy("source")
            .orderBy("doc_id")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        decided = (
            batch_df.select(
                "doc_id", "source", n_tok.alias("n_tokens"),
                _source_budget().alias("budget"),
            )
            .withColumn("batch_cum", F.sum("n_tokens").over(w))
            .join(F.broadcast(prior), "source", "left")
            .select(
                "doc_id",
                "source",
                "n_tokens",
                (F.coalesce("prior", F.lit(0)) + F.col("batch_cum")).alias(
                    "cum_tokens"
                ),
                "budget",
            )
            .withColumn(
                "admitted",
                (F.col("cum_tokens") <= F.col("budget")).cast("int"),
            )
            .localCheckpoint(eager=True)
        )
        write_batch(decided, self.out_dir, batch_id)
        write_batch(
            decided.groupBy("source").agg(
                F.sum("n_tokens").alias("seen_tokens")
            ),
            self.counts_dir,
            batch_id,
        )


def mixture_log(spark: SparkSession, out_dir: str) -> DataFrame:
    """Every mixture admission decision so far (one row per document)."""
    return read_batch_store(spark, out_dir, _MIX_SCHEMA, exclude_batch=-1)


def admission_log(spark: SparkSession, out_dir: str) -> DataFrame:
    """Every admission decision made so far (one row per document)."""
    # exclude_batch=-1: read everything (batch ids are non-negative)
    return read_batch_store(spark, out_dir, _OUT_SCHEMA, exclude_batch=-1)
