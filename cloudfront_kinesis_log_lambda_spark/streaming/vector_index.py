"""Streaming incremental vector index: IVF cells + int8 codes over a
stream of embeddings.

The batch ANN tiers (operators/similarity.py) build their index inside
one query. An embedding-ingest pipeline instead maintains the index as
vectors arrive and serves top-k from it at any point. foreachBatch
pattern, like streaming/dedup.py:

  micro-batch of (vec_id, embedding)
    → cell assignment against FROZEN coarse centroids (trained once, on
      the first batch, persisted next to the index — every later batch
      and every query uses the same geometry, so the index stays
      self-consistent as it grows)
    → per-vector int8 quantization (operators/similarity.quantize_int8,
      JVM-side) + exact L2 norm
    → appended to a parquet index PARTITIONED BY cid: a top-k query
      probes nprobe cells via partition pruning and reads codes only —
      at 100 TB the float vectors stay in cold storage and a query
      touches nprobe/n_centroids of a 4×-compressed table.

Writes land under ``batch=<id>`` (then ``cid=…``) with mode=overwrite —
the same idempotent-retry contract as the dedup index. Centroids are
written via tmp-file + atomic rename, so a crashed first batch can't
leave a half-written geometry behind.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cloudfront_kinesis_log_lambda_spark.operators.similarity import (
    _norm,
    assign_centroids,
    kmeans_centroids,
    quantize_int8,
)
from cloudfront_kinesis_log_lambda_spark.streaming.store import (
    ensure_frozen_centroids,
    load_centroids,
    write_batch,
)


class StreamingVectorIndex:
    """``foreachBatch`` callable maintaining the (cid, codes, nrm) index."""

    def __init__(
        self,
        store_dir: str,
        n_centroids: int = 16,
        iters: int = 3,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
    ) -> None:
        self.store_dir = store_dir
        self.index_dir = os.path.join(store_dir, "index")
        self.centroids_path = os.path.join(store_dir, "centroids.json")
        self.n_centroids = n_centroids
        self.iters = iters
        self.id_col = id_col
        self.vec_col = vec_col

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
        # a streaming query's first triggers routinely fire empty (no
        # files yet); training frozen geometry on an empty/degenerate
        # batch would poison every later batch — wait for data instead
        # (kmeans_centroids clamps k for small-but-nonempty batches)
        if batch_df.isEmpty():
            return
        cents = self._centroids(batch_df)
        # checkpoint: assigned feeds BOTH sides of the join below —
        # without it the stream source is scanned and the Arrow
        # centroid-assignment kernel runs twice per batch
        assigned = assign_centroids(
            batch_df, cents, self.id_col, self.vec_col
        ).localCheckpoint(eager=True)
        q = quantize_int8(assigned, self.id_col, self.vec_col)
        entry = (
            assigned.select(self.id_col, "cid", _norm(F.col(self.vec_col)).alias("nrm"))
            .join(q, self.id_col)
        )
        write_batch(
            entry.select(self.id_col, "cid", "scale", "codes", "nrm"),
            self.index_dir,
            batch_id,
            partition_by=("cid",),
        )


def index_topk(
    spark: SparkSession,
    store_dir: str,
    query_vec: list[float],
    k: int = 10,
    nprobe: int = 4,
    id_col: str = "vec_id",
    exclude_id: int | None = None,
) -> DataFrame:
    """Approximate cosine top-k served FROM THE INDEX ALONE: probe the
    ``nprobe`` cells nearest the query (partition pruning on ``cid``),
    score each entry by its dequantized-int8 dot against the query
    (JVM integer zip_with fold × scale), normalize by the stored norms.
    The float embedding column is never read. Pass ``exclude_id`` when
    the query vector is itself an indexed entry (the other top-k
    operators' ``id != query`` convention) so it doesn't burn a slot on
    its own ~1.0 self-similarity."""
    import math

    empty_schema = f"{id_col} long, cos double"
    cents_path = os.path.join(store_dir, "centroids.json")
    index_dir = os.path.join(store_dir, "index")
    if not os.path.isfile(cents_path) or not os.path.isdir(index_dir):
        # not-yet-created store: empty result, like the sibling log
        # readers — not a FileNotFoundError
        return spark.createDataFrame([], empty_schema)
    cents = load_centroids(cents_path)
    qn = math.sqrt(sum(x * x for x in query_vec)) or 1.0

    def cos_c(c: list[float]) -> float:
        nc = math.sqrt(sum(x * x for x in c)) or 1.0
        return sum(a * b for a, b in zip(query_vec, c)) / (nc * qn)

    probe = sorted(range(len(cents)), key=lambda i: -cos_c(cents[i]))[:nprobe]

    # serve only COMMITTED batches: a crashed micro-batch leaves a
    # batch=<id> dir with some task files written and no _SUCCESS
    # marker — scoring against it would silently serve a
    # partially-indexed batch until the retry lands
    committed = [
        os.path.join(index_dir, e)
        for e in os.listdir(index_dir)
        if e.startswith("batch=")
        and os.path.isfile(os.path.join(index_dir, e, "_SUCCESS"))
    ]
    if not committed:
        return spark.createDataFrame([], empty_schema)
    index = spark.read.option("basePath", index_dir).parquet(*committed)
    qlit = F.array(*[F.lit(float(x)) for x in query_vec])
    dot = F.aggregate(
        F.zip_with(F.col("codes"), qlit, lambda c, x: c.cast("double") * x),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    score = (dot * F.col("scale")) / (
        F.when(F.col("nrm") > 0, F.col("nrm")).otherwise(F.lit(1.0)) * F.lit(qn)
    )
    probed = index.filter(F.col("cid").isin([int(p) for p in probe]))
    if exclude_id is not None:
        probed = probed.filter(F.col(id_col) != exclude_id)
    return (
        probed.select(id_col, F.round(score, 4).alias("cos"))
        .orderBy(F.col("cos").desc(), F.col(id_col))
        .limit(k)
    )
