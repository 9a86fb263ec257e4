"""Streaming incremental association rules (the streaming twin of
``operators/mining.py::basket_rules``).

Baskets are mutable under streaming arrival: a later batch can add
items to an already-seen basket, which creates pairs BETWEEN the new
items and everything the basket already held — so pair counts are
not per-batch SUM partials. The correct compact state is the
distinct (basket, item) edge set itself (one row per edge, exactly
the retrieval twins' per-doc state granularity, far smaller than the
raw stream), and the serve step runs the batch operator's own pair
expansion over the merged edges — which makes the read bit-identical
to the batch run over the union of arrived rows by construction, and
lets the driver hold the twin to the batch entry's DuckDB oracle.

foreachBatch shape per micro-batch:

  batch rows → within-batch distinct (basket, item) → append under
  ``edges/batch=<id>``; rules-on-read merges the history (distinct
  again — cross-batch repeats collapse) and runs basket_rules.

Exactly-once: ``batch=<id>`` overwrite + cross-batch DISTINCT makes
this store IDEMPOTENT even under re-delivery with a new batch id
(unlike the SUM stores — an edge is a fact, not a count), the same
argument as the HLL register store.

100 TB shape: state is the distinct edge set (bounded by the
catalog's true basket-item relation, not stream volume); the serve
step costs one batch-rules run over it — the periodic-refresh
serving pattern, not a per-event path.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cloudfront_kinesis_log_lambda_spark.operators.mining import (
    MAX_BASKET_SIZE,
    MIN_SUPPORT,
    basket_rules,
)
from cloudfront_kinesis_log_lambda_spark.streaming.store import (
    read_batch_store,
    write_batch,
)

_EDGES_SCHEMA = "basket bigint, item string"


class StreamingBasketRules:
    """``foreachBatch`` callable maintaining the distinct basket-item
    edge store; query the running rule table with :meth:`rules`."""

    def __init__(
        self,
        store_dir: str,
        basket_col: str = "basket",
        item_col: str = "item",
    ) -> None:
        self.edges_dir = os.path.join(store_dir, "edges")
        self.basket_col = basket_col
        self.item_col = item_col

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        edges = batch_df.select(
            F.col(self.basket_col).cast("long").alias("basket"),
            F.col(self.item_col).alias("item"),
        ).distinct()
        write_batch(edges, self.edges_dir, batch_id)

    def edges(
        self, spark: SparkSession, exclude_batch: int = -1
    ) -> DataFrame:
        return read_batch_store(
            spark, self.edges_dir, _EDGES_SCHEMA, exclude_batch
        ).distinct()

    def rules(
        self,
        spark: SparkSession,
        min_support: float = MIN_SUPPORT,
        max_basket_size: int = MAX_BASKET_SIZE,
        exclude_batch: int = -1,
    ) -> DataFrame:
        """Association rules over every edge arrived so far — the
        batch operator run on the merged edge set, hence exactly its
        output."""
        return basket_rules(
            self.edges(spark, exclude_batch),
            min_support=min_support,
            max_basket_size=max_basket_size,
        )
