"""Streaming incremental inverted index + BM25 serving (the streaming
twin of ``operators/retrieval.py::doc_inverted_index`` /
``doc_bm25_topk``).

An ingest pipeline builds its retrieval index as crawl snapshots
stream in — re-tokenizing the whole corpus per snapshot is the
anti-pattern this twin exists to avoid. Every merge law here is
commutative, so (like the OHLC twin, unlike EWMA/transitions) there is
NO ordering contract:

  per micro-batch:
    batch docs → (word, doc_id, tf) partials   →  ``postings/batch=<id>``
    the same tf rows → per-doc (doc_id, dl)    →  ``dl/batch=<id>``
      (dl = Σ tf — the token stream is scanned ONCE per batch)

  on read:
    postings partials SUM-merge on (word, doc_id); df = row count per
    word of the merged tf; dl partials SUM-merge on doc_id. The merged
    tables feed the SAME assembly/scoring code as the batch operators
    (``index_from_tf`` / ``bm25_score_topk``), so stream == batch is
    structural, not coincidental.

SUM merges even keep a document whose text is delivered in pieces
across batches exact (tf and dl both add); the usual case — each doc
whole in one batch — is a special case of that.

Exactly-once: writers never read state (pure partial emission), so the
``batch=<id>`` overwrite alone makes retries byte-idempotent — the
simplest point on the house idempotence spectrum (MAX < distinct <
SUM-with-as-of-read; this is "no read at all").

100 TB shape: per-batch store rows are the batch's DISTINCT (word,
doc_id) pairs — text never enters the store; serving reads merge
compact posting rows and the per-term top-k is a rank window, no
global sort. Store growth is bounded by fold_batch_store maintenance
(streaming/store.py) exactly as for the sketch stores.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cloudfront_kinesis_log_lambda_spark.operators.retrieval import (
    BM25_QUERY,
    INDEX_MIN_DF,
    _tokens,
    bm25_score_topk,
    index_from_tf,
)
from cloudfront_kinesis_log_lambda_spark.streaming.store import (
    read_sum_merged,
    write_batch,
)

_TF_SCHEMA = "word string, doc_id bigint, tf bigint"
_DL_SCHEMA = "doc_id bigint, dl bigint"


class StreamingInvertedIndex:
    """``foreachBatch`` callable maintaining tf/dl partial stores.

    >>> q = (docs_stream.writeStream
    ...      .foreachBatch(StreamingInvertedIndex(store_dir))
    ...      .start())

    Serve with :meth:`index` (the merged inverted index) or
    :meth:`bm25_topk` (ranked retrieval over the accumulated corpus).
    """

    def __init__(self, store_dir: str) -> None:
        self.postings_dir = os.path.join(store_dir, "postings")
        self.dl_dir = os.path.join(store_dir, "dl")

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        tf = (
            _tokens(batch_df.select("doc_id", "text"))
            .groupBy("word", "doc_id")
            .agg(F.count(F.lit(1)).cast("long").alias("tf"))
            # feeds two writes; without this the batch re-tokenizes
            .localCheckpoint(eager=True)
        )
        write_batch(tf, self.postings_dir, batch_id)
        write_batch(
            tf.groupBy("doc_id").agg(F.sum("tf").cast("long").alias("dl")),
            self.dl_dir,
            batch_id,
        )

    def _merged_tf(self, spark: SparkSession) -> DataFrame:
        return read_sum_merged(
            spark, self.postings_dir, _TF_SCHEMA, ("word", "doc_id"), ("tf",)
        )

    def _merged_dl(self, spark: SparkSession) -> DataFrame:
        return read_sum_merged(
            spark, self.dl_dir, _DL_SCHEMA, ("doc_id",), ("dl",)
        )

    def index(
        self, spark: SparkSession, min_df: int = INDEX_MIN_DF
    ) -> DataFrame:
        """Merged inverted index, column-for-column the batch build."""
        return index_from_tf(self._merged_tf(spark), min_df)

    def bm25_topk(
        self,
        spark: SparkSession,
        terms: tuple[str, ...] = BM25_QUERY,
        k: int | None = None,
    ) -> DataFrame:
        """BM25 top-k over the accumulated corpus — the serving path:
        the query probes the posting store (filter on the ≤|terms| hot
        words), never re-tokenizes a document."""
        tf = (
            self._merged_tf(spark)
            .filter(F.col("word").isin(*terms))
            .select("doc_id", "word", F.col("tf").cast("double").alias("tf"))
        )
        if k is None:
            return bm25_score_topk(tf, self._merged_dl(spark))
        return bm25_score_topk(tf, self._merged_dl(spark), k)
