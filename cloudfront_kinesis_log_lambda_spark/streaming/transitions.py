"""Streaming incremental Markov transition matrix (the streaming twin
of ``operators/timeseries.py::event_transitions``).

The batch query leads over each user's complete event sequence; the
stream sees that sequence sliced across micro-batches, so the pair
(last event of a user in batch k, first event of the same user in a
later batch) exists in NO single batch — the genuinely stateful part.
Per-user "last event seen" state (a timestamp + type per user, nothing
else) bridges the boundary:

  per micro-batch:
    within-batch pairs  →  lead over the batch's own per-user order
    boundary pairs      →  first event per user ⋈ the persisted state
    pair counts         →  appended under ``pairs/batch=<id>``
    new state           →  last event per user  →  ``state/batch=<id>``

Reads merge the state store (streaming/foldstate.py's FoldStateStore)
by per-user (ts, event_id) argmax — a MAX merge, so re-delivered state
rows are harmless — while pair counts are SUMs: like the Count-Min /
quota stores, ``batch=<id>`` overwrite makes retries idempotent and the
exclude-current-batch read contract (streaming/store.py) is
load-bearing.

Ordering contract: micro-batches must arrive in event-time order per
user (the property checkpointed sources provide); the boundary join
asserts nothing about late data — a batch whose events precede the
stored state would produce a WRONG adjacency, which is exactly the
batch-vs-stream parity the tests pin with out-of-order wave splits
excluded by construction.

100 TB shape: state is one compact row per ACTIVE user per batch
(folded by streaming/store.py maintenance), pair partials are ≤
|types|² rows per batch, and event text/props never enter either
store.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from cloudfront_kinesis_log_lambda_spark.operators.timeseries import (
    transition_pairs,
)
from cloudfront_kinesis_log_lambda_spark.streaming.foldstate import (
    FoldStateStore,
)
from cloudfront_kinesis_log_lambda_spark.streaming.store import (
    read_sum_merged,
    write_batch,
)

_PAIR_SCHEMA = "from_type string, to_type string, n bigint"
_STATE_SCHEMA = (
    "user_id bigint, last_ts timestamp, last_id bigint, last_type string"
)


class StreamingTransitions:
    """``foreachBatch`` callable maintaining transition counts + the
    per-user boundary state.

    >>> q = (events_stream.writeStream
    ...      .foreachBatch(StreamingTransitions(store_dir))
    ...      .start())

    Query the accumulated matrix with :meth:`transitions`.
    """

    def __init__(self, store_dir: str) -> None:
        self.pairs_dir = os.path.join(store_dir, "pairs")
        self.store = FoldStateStore(store_dir, _STATE_SCHEMA, ("last_type",))

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        # NULL event time is excluded here as well as in the
        # transition_pairs kernel: the firsts/lasts boundary legs rank
        # by (ts, event_id) too, and a NULL-ts row would become a
        # phantom batch-boundary endpoint (r15 hostile-dates)
        events = batch_df.select(
            "user_id", "ts", "event_id", "event_type"
        ).filter(F.col("ts").isNotNull())

        w = Window.partitionBy("user_id").orderBy(
            F.col("ts").asc(), F.col("event_id").asc()
        )
        ranked = events.withColumn("rn", F.row_number().over(w)).withColumn(
            "rn_desc",
            F.row_number().over(
                Window.partitionBy("user_id").orderBy(
                    F.col("ts").desc(), F.col("event_id").desc()
                )
            ),
        )
        # localCheckpoint: ranked feeds three legs (within, firsts,
        # lasts); without it each leg re-sorts the batch.
        ranked = ranked.localCheckpoint(eager=True)

        within = transition_pairs(ranked)
        firsts = ranked.filter(F.col("rn") == 1).select(
            "user_id", F.col("event_type").alias("to_type")
        )
        boundary = firsts.join(
            self.state(spark, before_batch=batch_id).select(
                "user_id", F.col("last_type").alias("from_type")
            ),
            "user_id",
            "inner",
        ).select("from_type", "to_type")

        pairs = (
            within.unionByName(boundary)
            .groupBy("from_type", "to_type")
            .agg(F.count(F.lit(1)).cast("long").alias("n"))
        )
        write_batch(pairs, self.pairs_dir, batch_id)

        lasts = ranked.filter(F.col("rn_desc") == 1).select(
            "user_id",
            F.col("ts").alias("last_ts"),
            F.col("event_id").alias("last_id"),
            F.col("event_type").alias("last_type"),
        )
        self.store.write(lasts, batch_id)

    def state(
        self, spark: SparkSession, before_batch: int | None = None
    ) -> DataFrame:
        """Per-user latest event across the batch history
        (FoldStateStore's argmax by (last_ts, last_id)). The boundary
        join reads AS-OF ``before_batch``: a retried batch must
        recompute against exactly the pre-batch state — the merely
        exclude-current read would see LATER batches' state on an
        out-of-order retry and rewrite different pair counts
        (non-idempotent overwrite; pinned by the retry test)."""
        return self.store.state(spark, before_batch)

    def transitions(
        self, spark: SparkSession, exclude_batch: int = -1
    ) -> DataFrame:
        """SUM-merged transition matrix with row-normalized
        probabilities — column-for-column the batch query's output."""
        counts = read_sum_merged(
            spark, self.pairs_dir, _PAIR_SCHEMA, ("from_type", "to_type"),
            ("n",), exclude_batch,
        )
        wf = Window.partitionBy("from_type")
        return counts.select(
            "from_type",
            "to_type",
            "n",
            F.round(
                F.col("n").cast("double")
                / F.sum("n").over(wf).cast("double"),
                6,
            ).alias("prob"),
        )
