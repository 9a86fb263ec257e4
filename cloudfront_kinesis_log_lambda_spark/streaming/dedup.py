"""Streaming incremental near-dup detection (MinHash-LSH over a stream).

The batch near-dup operators (operators/dedup.py) answer "which pairs in
THIS corpus are near-duplicates". A training-data ingest pipeline asks
the incremental question instead: as documents arrive, which of them
near-duplicate ANY document seen so far? The reference engine cannot
express this at all (it has no state); Structured Streaming can't
either with built-in operators (`dropDuplicatesWithinWatermark` is
exact-key only, and the LSH candidate join is not a stream-stream
equi-join with bounded watermark state — the index must live forever).

So this is the canonical foreachBatch incremental-index pattern:

  micro-batch of (doc_id, text)
    → gram arrays + MinHash band buckets (the SAME codegen path the
      batch operator uses: dedup.minhash_band_rows — batch and stream
      bucket identically for identical parameters)
    → candidates = in-batch bucket collisions ∪ collisions against the
      PERSISTED bucket index (semi-joined to just-touched buckets, so
      the index is probed, never rescanned)
    → exact-Jaccard verification against the persisted gram store
    → verified pairs appended to the output log; the batch's bands and
      grams appended to the index.

Exactly-once without a transaction log: every store write lands in a
``batch=<id>`` partition directory with mode=overwrite — a foreachBatch
retry of batch N rewrites the same paths byte-for-byte instead of
duplicating them (the same idempotence contract Structured Streaming's
own file sink gets from its manifest).

100 TB shape: the bucket index is partitioned by ``band`` (16 dirs) and
probed via a broadcast semi-join on the batch's touched (band, h) keys;
the gram store is probed by candidate doc_id only. Per-batch work scales
with batch size × collision rate, not with index size. The only
unbounded growth is the index itself — which is the point: dedup state
over a corpus is inherently corpus-sized, and parquet on object storage
(not executor memory / streaming state store) is where a corpus-sized
index belongs.

Semantics note vs the batch operator: ``max_bucket_size`` caps a bucket
at detection time, so a bucket that grows past the cap stops yielding
NEW pairs from later arrivals, while the batch operator (seeing only
the final size) drops the bucket entirely. Both are documented
boilerplate guards, not recall contracts.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cloudfront_kinesis_log_lambda_spark.operators.dedup import (
    gram_array,
    has_min_tokens,
    minhash_band_rows,
    ordered_pairs,
)
from cloudfront_kinesis_log_lambda_spark.streaming.store import (
    read_batch_store,
    write_batch,
)

_BANDS_SCHEMA = "doc_id long, band int, h long"
_GRAMS_SCHEMA = "doc_id long, grams array<string>"
_PAIRS_SCHEMA = "doc_a long, doc_b long, jaccard double"


class StreamingNearDup:
    """``foreachBatch`` callable: incremental MinHash-LSH near-dup
    detection against a persistent bucket/gram index.

    >>> q = (docs_stream.writeStream
    ...      .foreachBatch(StreamingNearDup(store_dir, out_dir))
    ...      .start())

    Emitted pairs accumulate under ``out_dir`` (read them back with
    :func:`near_dup_pair_log`); the index lives under ``store_dir``.
    """

    def __init__(
        self,
        store_dir: str,
        out_dir: str,
        n: int = 3,
        num_hashes: int = 64,
        bands: int = 16,
        threshold: float = 0.5,
        max_bucket_size: int = 1000,
        text_col: str = "text",
    ) -> None:
        self.bands_dir = os.path.join(store_dir, "bands")
        self.grams_dir = os.path.join(store_dir, "grams")
        self.out_dir = out_dir
        self.n = n
        self.num_hashes = num_hashes
        self.bands = bands
        self.threshold = threshold
        self.max_bucket_size = max_bucket_size
        self.text_col = text_col

    def _read_store(
        self, spark: SparkSession, path: str, schema: str, exclude_batch: int
    ) -> DataFrame:
        # a RETRIED micro-batch must see exactly the pre-batch index:
        # its own half-written batch=<id> partition (from the failed
        # attempt) would otherwise pair every new doc with itself
        return read_batch_store(spark, path, schema, exclude_batch)

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        new_grams = (
            batch_df.filter(has_min_tokens(self.text_col, self.n))
            .select("doc_id", gram_array(self.text_col, self.n).alias("grams"))
            # reused 4× below; eager checkpoint also cuts the streaming
            # source out of every downstream plan
            .localCheckpoint(eager=True)
        )
        new_bands = minhash_band_rows(
            new_grams, self.num_hashes, self.bands, seed=42
        ).localCheckpoint(eager=True)

        touched = new_bands.select("band", "h").distinct()
        old_bands = self._read_store(spark, self.bands_dir, _BANDS_SCHEMA, batch_id)
        # probe, don't rescan: only index rows in buckets this batch
        # touched can produce new pairs
        relevant_old = old_bands.join(F.broadcast(touched), ["band", "h"], "left_semi")

        tagged = new_bands.withColumn("is_new", F.lit(True)).unionByName(
            relevant_old.withColumn("is_new", F.lit(False))
        )
        members = (
            tagged.groupBy("band", "h")
            .agg(
                F.array_sort(
                    F.collect_list(F.struct("doc_id", "is_new"))
                ).alias("ms")
            )
            .filter(
                (F.size("ms") >= 2) & (F.size("ms") <= self.max_bucket_size)
            )
        )
        pairs = members.select(
            ordered_pairs(
                F.col("ms"),
                lambda x, y: F.struct(
                    x["doc_id"].alias("doc_a"),
                    y["doc_id"].alias("doc_b"),
                    (x["is_new"] | y["is_new"]).alias("any_new"),
                ),
            ).alias("p")
        )
        candidates = (
            pairs.filter(F.col("p.any_new"))
            # self-pair guard: a doc_id legitimately re-ingested (or
            # visible twice through any index anomaly) must not emit
            # (x, x) with jaccard 1.0
            .filter(F.col("p.doc_a") != F.col("p.doc_b"))
            .select("p.doc_a", "p.doc_b")
            .distinct()
            # reused 3× below (probe-id broadcast + both verification
            # join sides) — without this the bucket collect_list +
            # pair-explode shuffle would run three times per batch
            .localCheckpoint(eager=True)
        )

        all_grams = new_grams.unionByName(
            self._read_store(spark, self.grams_dir, _GRAMS_SCHEMA, batch_id)
            .join(
                F.broadcast(
                    candidates.select(F.col("doc_a").alias("doc_id")).union(
                        candidates.select(F.col("doc_b").alias("doc_id"))
                    ).distinct()
                ),
                "doc_id",
                "left_semi",
            )
        )
        sa = all_grams.select(F.col("doc_id").alias("doc_a"), F.col("grams").alias("set_a"))
        sb = all_grams.select(F.col("doc_id").alias("doc_b"), F.col("grams").alias("set_b"))
        inter = F.size(F.array_intersect("set_a", "set_b")).cast("double")
        union = (F.size("set_a") + F.size("set_b")).cast("double") - inter
        verified = (
            candidates.join(sa, "doc_a")
            .join(sb, "doc_b")
            .withColumn("jaccard", F.round(inter / union, 4))
            .filter(F.col("jaccard") >= self.threshold)
            .select("doc_a", "doc_b", "jaccard")
        )

        # batch=<id> overwrite everywhere → a retried micro-batch
        # rewrites, never duplicates
        write_batch(verified, self.out_dir, batch_id)
        write_batch(new_bands, self.bands_dir, batch_id)
        write_batch(new_grams, self.grams_dir, batch_id)


def near_dup_pair_log(spark: SparkSession, out_dir: str) -> DataFrame:
    """All pairs the streaming detector has emitted so far, normalized
    to (doc_a < doc_b) orientation and deduplicated across batches."""
    # read via the shared store reader (exclude_batch=-1 → everything):
    # it is fold-aware, so maintenance folding of the pair log can never
    # silently hide rows from this reader the way a raw parquet read of
    # underscore-prefixed fold dirs would
    raw = read_batch_store(spark, out_dir, _PAIRS_SCHEMA, exclude_batch=-1)
    a, b = F.col("doc_a"), F.col("doc_b")
    return (
        raw.select(
            F.least(a, b).alias("doc_a"),
            F.greatest(a, b).alias("doc_b"),
            "jaccard",
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.max("jaccard").alias("jaccard"))
    )
