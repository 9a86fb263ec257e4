"""Streaming incremental n-gram novelty (the streaming twin of
``operators/corpus.py::gram_novelty``).

The batch operator answers "which fraction of each document's grams
first occur in that document" over a closed corpus. An ingest pipeline
asks it incrementally: as crawl snapshots stream in, how much of each
arriving document is text the corpus has never seen? (The per-snapshot
aggregate of this signal is the "how much new data did this crawl
actually add" number.)

Unlike the streaming near-dup detector (a recall contract), novelty is
*deterministic*, so the stream and batch operators are EXACTLY
equivalent when documents arrive in ascending doc_id order — the parity
gate in test_streaming_novelty asserts bit-identical output, including
grams whose first and repeat occurrences arrive batches apart.

foreachBatch shape per micro-batch:

  batch docs → distinct (doc_id, shingle) rows
    → probe the persistent first-occurrence index (semi-join on the
      batch's shingles — the index is probed, never rescanned)
    → a shingle is novel iff absent from the index AND this doc is the
      batch-minimum doc_id holding it (the in-batch first)
    → per-doc (n_grams, n_novel, novelty) appended to the output log;
      the batch's first-occurrences appended to the index.

Exactly-once: every write lands in a ``batch=<id>`` directory with
mode=overwrite, and the index read excludes the current batch id, so a
retried micro-batch recomputes against exactly the pre-batch index
instead of seeing its own half-written grams (every batch gram would
otherwise count as already-seen → novelty 0).

100 TB shape: the index is (shingle, first_doc) parquet — corpus-gram-
sized, which is where corpus-sized state belongs (object storage, not
the streaming state store). Per-batch cost scales with batch gram count:
one semi-join probe keyed by the batch's shingles, one in-batch min
aggregate, one per-doc fold. Production would store xxhash64(shingle)
int64s (exactly as ``text.contamination(hash_grams=True)``) — strings
kept here so the parity gate against the oracle-checked batch operator
stays string-exact.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cloudfront_kinesis_log_lambda_spark.operators.dedup import shingles
from cloudfront_kinesis_log_lambda_spark.streaming.store import (
    read_batch_store,
    write_batch,
)

_INDEX_SCHEMA = "shingle string, first_doc long"
_OUT_SCHEMA = "doc_id long, n_grams long, n_novel long, novelty double"


class StreamingNovelty:
    """``foreachBatch`` callable: incremental gram-novelty scoring
    against a persistent first-occurrence index.

    >>> q = (docs_stream.writeStream
    ...      .foreachBatch(StreamingNovelty(store_dir, out_dir))
    ...      .start())

    Per-document scores accumulate under ``out_dir`` (read back with
    :func:`novelty_log`); the index lives under ``store_dir``.
    """

    def __init__(
        self, store_dir: str, out_dir: str, n: int = 3, text_col: str = "text"
    ) -> None:
        self.index_dir = os.path.join(store_dir, "gram_first")
        self.out_dir = out_dir
        self.n = n
        self.text_col = text_col

    def _read_index(self, spark: SparkSession, exclude_batch: int) -> DataFrame:
        # retry safety: a half-written batch=<id> partition from a
        # failed attempt must not make this batch's grams look seen
        return read_batch_store(spark, self.index_dir, _INDEX_SCHEMA, exclude_batch)

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        sh = shingles(
            batch_df.select("doc_id", self.text_col), self.n, self.text_col
        ).localCheckpoint(eager=True)  # reused 3×; cuts the stream source out

        index = self._read_index(spark, batch_id)
        # probe, don't rescan: only index rows for shingles present in
        # this batch can affect this batch's novelty
        seen = index.join(
            F.broadcast(sh.select("shingle").distinct()), "shingle", "left_semi"
        ).select("shingle")

        batch_first = sh.groupBy("shingle").agg(
            F.min("doc_id").alias("batch_first")
        )
        # reused twice (scored join + index append) — checkpoint so the
        # on-disk index probe (scan + semi-join + min-agg + anti-join)
        # runs once per batch, not per consumer
        novel_shingles = batch_first.join(
            seen, "shingle", "left_anti"
        ).localCheckpoint(eager=True)

        scored = (
            sh.join(
                novel_shingles.withColumnRenamed("batch_first", "first_doc"),
                "shingle",
                "left",
            )
            .groupBy("doc_id")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_grams"),
                F.sum(
                    (F.col("first_doc") == F.col("doc_id")).cast("long")
                ).alias("n_novel"),
            )
            .select(
                "doc_id",
                "n_grams",
                F.coalesce("n_novel", F.lit(0)).alias("n_novel"),
                F.round(
                    F.coalesce("n_novel", F.lit(0)) / F.col("n_grams"), 4
                ).alias("novelty"),
            )
        )

        write_batch(scored, self.out_dir, batch_id)
        write_batch(
            novel_shingles.select(
                "shingle", F.col("batch_first").alias("first_doc")
            ),
            self.index_dir,
            batch_id,
        )


def novelty_log(spark: SparkSession, out_dir: str) -> DataFrame:
    """All per-document novelty rows emitted so far (one row per doc —
    each document is scored exactly once, in its arrival batch). Read
    via the shared store reader so maintenance folding of the log stays
    visible (a raw parquet read would skip underscore fold dirs)."""
    return read_batch_store(spark, out_dir, _OUT_SCHEMA, exclude_batch=-1)
