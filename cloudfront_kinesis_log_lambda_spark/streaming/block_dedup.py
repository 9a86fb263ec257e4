"""Streaming incremental block-level substring dedup (the streaming
twin of ``operators/corpus.py::block_dedup``).

The batch operator rewrites a closed corpus: every 16-token block keeps
only its corpus-wide first occurrence and documents are reassembled
from surviving blocks. An ingest pipeline needs the same rewrite
*incrementally*: as crawl snapshots stream in, each arriving document
should shed every block the corpus has already seen — without
re-scanning the corpus.

Block dedup is deterministic, so (like ``StreamingNovelty``, unlike the
recall-contract near-dup detector) the stream and batch operators are
EXACTLY equivalent when documents arrive in ascending doc_id order: the
batch keep rule min(doc_id, block_idx) decomposes into "first batch
holding the block, then the in-batch struct-min" — the parity gate in
test_streaming_block_dedup asserts bit-identical reassembled text,
including blocks whose first and repeat occurrences arrive batches
apart.

foreachBatch shape per micro-batch:

  batch docs → compact (doc_id, block_idx, bk) rows
    → probe the persistent seen-block index (semi-join on the batch's
      keys — the index is probed, never rescanned)
    → keep = in-batch struct-min occurrence AND key absent from index
    → per-doc reassembly (the shared ``reassemble_blocks`` fold)
      appended to the output log; the batch's new keys appended to the
      index.

Exactly-once: every write lands in a ``batch=<id>`` directory with
mode=overwrite, and the index read excludes the current batch id, so a
retried micro-batch recomputes against exactly the pre-batch index (a
half-written attempt would otherwise make every batch block look
seen → documents wrongly emptied).

100 TB shape: the index is one ``bk`` column of parquet — corpus-
distinct-block-sized, which is where corpus-sized state belongs (object
storage, not the streaming state store). Per-batch cost scales with the
batch's block count: one semi-join probe keyed by the batch's keys, one
in-batch struct-min aggregate, one per-doc fold. Production stores
xxhash64 int64 keys (``hash_blocks=True`` — the same contract as the
batch operator's production mode); strings are the default here so the
parity gate against the oracle-checked batch operator stays
string-exact.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cloudfront_kinesis_log_lambda_spark.operators.corpus import (
    block_base,
    block_rows,
    reassemble_blocks,
)
from cloudfront_kinesis_log_lambda_spark.streaming.store import (
    read_batch_store,
    write_batch,
)

_OUT_SCHEMA = "doc_id long, n_blocks long, n_kept long, dedup_text string"


class StreamingBlockDedup:
    """``foreachBatch`` callable: incremental block dedup + reassembly
    against a persistent seen-block index.

    >>> q = (docs_stream.writeStream
    ...      .foreachBatch(StreamingBlockDedup(store_dir, out_dir))
    ...      .start())

    Rewritten documents accumulate under ``out_dir`` (read back with
    :func:`block_dedup_log`); the index lives under ``store_dir``.
    """

    def __init__(
        self,
        store_dir: str,
        out_dir: str,
        block_tokens: int = 16,
        text_col: str = "text",
        hash_blocks: bool = False,
    ) -> None:
        self.index_dir = os.path.join(store_dir, "blocks_seen")
        self.out_dir = out_dir
        self.block_tokens = block_tokens
        self.text_col = text_col
        self.hash_blocks = hash_blocks
        self._index_schema = (
            "bk long" if hash_blocks else "bk string"
        )

    def _read_index(self, spark: SparkSession, exclude_batch: int) -> DataFrame:
        # retry safety: a half-written batch=<id> partition from a
        # failed attempt must not make this batch's blocks look seen
        return read_batch_store(
            spark, self.index_dir, self._index_schema, exclude_batch
        )

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        base = block_base(
            batch_df.select("doc_id", self.text_col),
            self.block_tokens,
            self.text_col,
        ).localCheckpoint(eager=True)  # reused by rows + reassembly
        blocks = block_rows(
            base, self.block_tokens, self.hash_blocks
        ).localCheckpoint(eager=True)

        index = self._read_index(spark, batch_id)
        # probe, don't rescan: only index rows for keys present in this
        # batch can affect this batch's keep decisions
        seen = index.join(
            F.broadcast(blocks.select("bk").distinct()), "bk", "left_semi"
        ).select("bk")

        batch_first = blocks.groupBy("bk").agg(
            F.min(F.struct("doc_id", "block_idx")).alias("f")
        )
        new_first = batch_first.join(seen, "bk", "left_anti")
        kept_rows = blocks.join(new_first, "bk").filter(
            (F.col("doc_id") == F.col("f.doc_id"))
            & (F.col("block_idx") == F.col("f.block_idx"))
        )

        out = reassemble_blocks(base, kept_rows, self.block_tokens)
        write_batch(out, self.out_dir, batch_id)
        write_batch(new_first.select("bk"), self.index_dir, batch_id)


def block_dedup_log(spark: SparkSession, out_dir: str) -> DataFrame:
    """All rewritten documents emitted so far (one row per doc — each
    document is rewritten exactly once, in its arrival batch). Read via
    the shared store reader so maintenance folding of the log stays
    visible (a raw parquet read would skip underscore fold dirs)."""
    return read_batch_store(spark, out_dir, _OUT_SCHEMA, exclude_batch=-1)
