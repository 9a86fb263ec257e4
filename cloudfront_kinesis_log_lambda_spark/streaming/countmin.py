"""Streaming incremental Count-Min frequency sketch (the streaming
twin of ``operators/sketch.py::word_countmin_topk``'s counter matrix).

The batch query builds the d×w counter matrix over a closed corpus; an
ingest pipeline maintains it as documents stream in and answers "how
often has word w occurred so far?" for ANY probe word at any point —
without per-word state. Counter cells are SUMs, so per-batch partial
matrices combine by addition: the accumulated matrix is BIT-IDENTICAL
to the batch matrix over the union of arrived rows (the sum-merge law,
the CMS analogue of the HLL register MAX-merge — both proven in the
driver gate, ``word_countmin_incremental`` sharing the batch entry's
exact oracle).

foreachBatch shape per micro-batch:

  batch docs → word counts → d cells per word → per-batch (r, col, n)
  partial matrix (≤ d·w rows) appended under ``counters/batch=<id>``
  probe-on-read: SUM-merge the history, join probe words to their d
  cells broadcast-style, MIN over rows.

Exactly-once: ``batch=<id>`` overwrite makes retries idempotent. Unlike
MAX (HLL), SUM is NOT idempotent — re-delivering old rows under a NEW
batch id WOULD over-count, so the exclude-current-batch read contract
(streaming/store.py) is load-bearing here, exactly as in the
sum-based quota stores.

100 TB shape: per-batch state is ≤ d·w = 2048 compact rows no matter
the batch size; probe cost is a broadcast join against the merged
matrix. The stream's words are never stored.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cloudfront_kinesis_log_lambda_spark.operators.sketch import (
    cms_cells_expr,
)
from cloudfront_kinesis_log_lambda_spark.streaming.store import (
    read_sum_merged,
    write_batch,
)

_SCHEMA = "r int, col bigint, cell_n bigint"


class StreamingCountMin:
    """``foreachBatch`` callable maintaining the d×w counter matrix.

    >>> q = (docs_stream.writeStream
    ...      .foreachBatch(StreamingCountMin(store_dir))
    ...      .start())

    Query running frequency estimates with :meth:`probe`.
    """

    def __init__(self, store_dir: str, text_col: str = "text") -> None:
        self.counters_dir = os.path.join(store_dir, "counters")
        self.text_col = text_col

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        words = batch_df.select(
            F.explode(F.split(F.col(self.text_col), r"\s+")).alias("word")
        ).filter(F.col("word") != "")
        partial = (
            words.groupBy("word")
            .agg(F.count(F.lit(1)).alias("n"))
            .select(F.explode(cms_cells_expr("word")).alias("c"), "n")
            .groupBy(F.col("c.r").alias("r"), F.col("c.col").alias("col"))
            .agg(F.sum("n").cast("long").alias("cell_n"))
        )
        write_batch(partial, self.counters_dir, batch_id)

    def counters(
        self, spark: SparkSession, exclude_batch: int = -1
    ) -> DataFrame:
        """SUM-merged counter matrix over the whole batch history."""
        return read_sum_merged(
            spark, self.counters_dir, _SCHEMA, ("r", "col"), ("cell_n",),
            exclude_batch,
        )

    def probe(
        self,
        words: DataFrame,
        word_col: str = "word",
        exclude_batch: int = -1,
    ) -> DataFrame:
        """Frequency estimate for each probe word: MIN over its d
        merged counter cells. Input columns pass through; adds
        ``cms_est``. Estimates are ≥ the true count of every word
        arrived so far (the CMS guarantee), and exactly equal the batch
        matrix's estimates by the sum-merge law.

        LEFT join + 0-fill (r6 review finding): only incremented cells
        exist in the store, so a never-seen word has absent cells — the
        correct CMS estimate is 0 (the min includes its empty cells),
        not a dropped row, and not the min over whichever of its cells
        happen to collide with seen words. Pass ``exclude_batch`` when
        probing from inside a foreachBatch that may be mid-write — the
        same load-bearing contract as :meth:`counters`."""
        spark = words.sparkSession
        pcols = [c for c in words.columns]
        clash = sorted(set(pcols) & {"r", "col", "cell_n", "cms_est"})
        if clash:
            # refuse loudly, same contract as _asof_join's reserved-name
            # guard — a silent join on a passed-through 'r'/'col' would
            # corrupt every estimate (r6 advice)
            raise ValueError(
                f"column name(s) {clash} are reserved by the Count-Min "
                "probe — rename them before probing"
            )
        probe = words.select(
            *pcols, F.explode(cms_cells_expr(word_col)).alias("c")
        ).select(*pcols, F.col("c.r").alias("r"), F.col("c.col").alias("col"))
        return (
            probe.join(
                F.broadcast(self.counters(spark, exclude_batch)),
                ["r", "col"],
                "left",
            )
            .withColumn("cell_n", F.coalesce("cell_n", F.lit(0)))
            .groupBy(*pcols)
            .agg(F.min("cell_n").cast("long").alias("cms_est"))
        )
