"""Streaming incremental semantic deduplication (SemDeDup over a
stream of embeddings).

The batch operator (operators/similarity.py::semantic_dedup) answers
"which documents in THIS corpus are semantic duplicates". An
embedding-ingest pipeline asks the incremental question: as vectors
arrive, which of them duplicate anything seen so far? Same foreachBatch
incremental-index pattern as streaming/dedup.py (MinHash) and
streaming/vector_index.py (ANN serving):

  micro-batch of (vec_id, embedding)
    → IVF cell assignment against FROZEN coarse centroids (trained once
      on the first non-empty batch, persisted via fsync'd atomic rename
      — every later batch probes the same geometry, so stream and a
      batch re-run injected with these centroids agree exactly)
    → candidates = within-cell pairs between (new × new) ∪ (new ×
      persisted index rows of the batch's TOUCHED cells) — the index is
      probed, never rescanned
    → exact cosine ≥ threshold → appended to the pair log; the batch's
      (vec_id, cid, embedding) rows appended to the index.

Exactly-once without a transaction log: every write lands under
``batch=<id>`` with mode=overwrite — a foreachBatch retry rewrites the
same paths instead of duplicating them, and reads exclude the retrying
batch's own half-written partition (read_batch_store contract).

100 TB shape: pair work is confined to touched cells (O(batch ×
cell)), never the index size; ``max_cell_size`` caps the quadratic
blowup at DETECTION time (a cell past the cap stops yielding NEW pairs
— same semantics note as StreamingNearDup vs its batch twin). The
float vectors do land in the index (exact-cosine verification needs
them), flat by (vec_id, cid); at production scale partition the index
directory by cid as streaming/vector_index.py does and this module's
touched-cell semi-join becomes partition pruning.

Parity contract (tested in test_streaming_semantic_dedup): feeding the
same corpus through any batch split yields the same pair set — and the
same canonical assignment — as ``semantic_dedup(...,
centroids=<this stream's frozen centroids>)``, because cell geometry,
pair candidacy (within-cell, any-new), cosine, and threshold all match
and every cross-batch pair meets through the index probe.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cloudfront_kinesis_log_lambda_spark.operators.dedup import (
    near_dup_clusters,
)
from cloudfront_kinesis_log_lambda_spark.operators.similarity import (
    assign_centroids,
    assign_centroids_topp,
    grouped_cell_pairs,
    kmeans_centroids,
)
from cloudfront_kinesis_log_lambda_spark.streaming.store import (
    ensure_frozen_centroids,
    load_centroids,
    read_batch_store,
    write_batch,
)

_INDEX_SCHEMA = "vec_id long, cid int, embedding array<float>"
_PAIRS_SCHEMA = "vec_a long, vec_b long, cos double"


class StreamingSemanticDedup:
    """``foreachBatch`` callable: incremental SemDeDup against a
    persistent cell-assigned vector index.

    >>> q = (emb_stream.writeStream
    ...      .foreachBatch(StreamingSemanticDedup(store_dir, out_dir))
    ...      .start())

    Emitted pairs accumulate under ``out_dir`` (read back with
    :func:`semantic_pair_log` / :func:`semantic_assignment`); the index
    and the frozen centroid geometry live under ``store_dir``.
    """

    def __init__(
        self,
        store_dir: str,
        out_dir: str,
        threshold: float = 0.92,
        n_centroids: int = 16,
        iters: int = 3,
        max_cell_size: int = 4096,
        nprobe: int = 1,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
    ) -> None:
        self.store_dir = store_dir
        self.index_dir = os.path.join(store_dir, "index")
        self.centroids_path = os.path.join(store_dir, "centroids.json")
        self.out_dir = out_dir
        self.threshold = threshold
        self.n_centroids = n_centroids
        self.iters = iters
        self.max_cell_size = max_cell_size
        self.nprobe = nprobe
        self.id_col = id_col
        self.vec_col = vec_col

    # -- frozen geometry (the StreamingVectorIndex discipline) ---------
    def frozen_centroids(self) -> list[list[float]] | None:
        """The persisted geometry, or None before the first batch —
        exposed so a batch re-run can be injected with it (parity)."""
        if not os.path.exists(self.centroids_path):
            return None
        return load_centroids(self.centroids_path)

    def _centroids(self, batch_df: DataFrame) -> list[list[float]]:
        return ensure_frozen_centroids(
            self.store_dir,
            self.centroids_path,
            lambda: kmeans_centroids(
                batch_df,
                self.n_centroids,
                self.iters,
                self.id_col,
                self.vec_col,
            ),
        )

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        # first triggers routinely fire empty; training geometry on an
        # empty batch would poison every later one — wait for data
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        cents = self._centroids(batch_df)
        if self.nprobe > 1:
            # multi-probe: new vectors visible in runner-up cells too,
            # so boundary-straddling duplicates still meet somewhere
            assigned = assign_centroids_topp(
                batch_df, cents, self.nprobe, self.id_col, self.vec_col
            ).select(self.id_col, "cid", self.vec_col)
        else:
            assigned = assign_centroids(
                batch_df, cents, self.id_col, self.vec_col
            ).select(self.id_col, "cid", self.vec_col)
        # reused by the touched-cell probe, the cap count, both pair
        # sides, and the index append — and the eager checkpoint cuts
        # the streaming source out of every downstream plan
        new_rows = assigned.withColumnRenamed(self.id_col, "vec_id").\
            withColumnRenamed(self.vec_col, "embedding").localCheckpoint(
                eager=True
            )

        touched = new_rows.select("cid").distinct()
        old_rows = (
            read_batch_store(spark, self.index_dir, _INDEX_SCHEMA, batch_id)
            # probe, don't rescan: only touched cells can yield new pairs
            .join(F.broadcast(touched), "cid", "left_semi")
        )
        tagged = new_rows.withColumn("is_new", F.lit(True)).unionByName(
            old_rows.withColumn("is_new", F.lit(False))
        )
        # detection-time quadratic guard: population = new + relevant
        # old rows of the cell (multi-probe visitors included — that is
        # what the join below squares); an over-cap cell stops yielding
        # NEW pairs, matching the documented stream-vs-batch cap note
        small = (
            tagged.groupBy("cid")
            .agg(F.count(F.lit(1)).alias("_n"))
            .filter(F.col("_n") <= self.max_cell_size)
            .select("cid")
        )
        gated = tagged.join(F.broadcast(small), "cid", "left_semi")
        # THE shared grouped GEMM kernel (operators/similarity.py) — the
        # same code path the batch operator runs, so stream==batch pair
        # parity holds to the bit, not just to formulation; old×old
        # pairs are excluded inside the kernel (earlier batches already
        # logged them)
        verified = grouped_cell_pairs(
            gated,
            self.threshold,
            id_col="vec_id",
            vec_col="embedding",
            new_col="is_new",
            emit_cos=True,
        ).select(
            F.col("doc_a").alias("vec_a"),
            F.col("doc_b").alias("vec_b"),
            "cos",
        )
        if self.nprobe > 1:  # a pair can meet in several shared cells
            verified = verified.groupBy("vec_a", "vec_b").agg(
                F.max("cos").alias("cos")
            )

        # batch=<id> overwrite everywhere → retries rewrite, never dup
        write_batch(verified, self.out_dir, batch_id)
        write_batch(new_rows, self.index_dir, batch_id)


def semantic_pair_log(spark: SparkSession, out_dir: str) -> DataFrame:
    """All pairs emitted so far, (vec_a < vec_b) oriented, deduplicated
    across batches (max cos wins — probe multiplicity is noise)."""
    raw = read_batch_store(spark, out_dir, _PAIRS_SCHEMA, exclude_batch=-1)
    a, b = F.col("vec_a"), F.col("vec_b")
    return (
        raw.select(F.least(a, b).alias("vec_a"), F.greatest(a, b).alias("vec_b"), "cos")
        .groupBy("vec_a", "vec_b")
        .agg(F.max("cos").alias("cos"))
    )


def semantic_assignment(
    spark: SparkSession, out_dir: str, ids: DataFrame, id_col: str = "vec_id"
) -> DataFrame:
    """(``id_col``, canon_id) over the accumulated pair log — the batch
    operator's exact materialization contract (pointer-jumping connected
    components; keep = ``filter(id == canon_id)``)."""
    pairs = semantic_pair_log(spark, out_dir).select(
        F.col("vec_a").alias("doc_a"), F.col("vec_b").alias("doc_b")
    )
    docs = ids.select(F.col(id_col).alias("doc_id"))
    return near_dup_clusters(docs, pairs).select(
        F.col("doc_id").alias(id_col), "canon_id"
    )
