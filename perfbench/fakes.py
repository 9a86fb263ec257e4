"""Sink-side helpers around the package's file-backed Kinesis fake.

``TimedDataPlane`` is ``FakeKinesisDataPlane`` with a span per
``put_records`` call appended to a per-process file, which the driver
merges after the write. It runs inside Spark's Python workers, which
unpickle the sink's client factory by import path, so it lives in an
importable module. ``BatchDirSink`` is the ``foreachBatch`` callable of
the streaming rollup: it ships each micro-batch through the package's
``KinesisSink`` into its own directory, so the output check can tell
which batch wrote a record.
"""

from __future__ import annotations

import glob
import json
import os
import time
from functools import partial

from cloudfront_kinesis_log_lambda_spark.sinks.kinesis import KinesisSink
from cloudfront_kinesis_log_lambda_spark.sources.kinesis import FakeKinesisDataPlane

N_SHARDS = 8


class TimedDataPlane(FakeKinesisDataPlane):
    def __init__(self, fake_dir: str, n_shards: int, span_dir: str) -> None:
        super().__init__(fake_dir, n_shards=n_shards)
        self.span_dir = span_dir

    def put_records(self, StreamName: str, Records: list) -> dict:
        start = time.perf_counter()
        resp = super().put_records(StreamName=StreamName, Records=Records)
        end = time.perf_counter()
        with open(os.path.join(self.span_dir, f"put-{os.getpid()}.jsonl"), "a") as f:
            f.write(
                json.dumps(
                    {
                        "start": start,
                        "end": end,
                        "records": len(Records),
                        "failed": resp.get("FailedRecordCount", 0),
                    }
                )
                + "\n"
            )
        return resp


def data_plane(out_dir: str, span_dir: str | None):
    """Client factory for ``KinesisSink``: timed when ``span_dir`` is set."""
    if span_dir:
        return partial(TimedDataPlane, out_dir, N_SHARDS, span_dir)
    return partial(FakeKinesisDataPlane, out_dir, n_shards=N_SHARDS)


def read_put_spans(span_dir: str) -> list[dict]:
    spans = []
    for path in glob.glob(os.path.join(span_dir, "put-*.jsonl")):
        with open(path) as f:
            spans.extend(json.loads(line) for line in f if line.strip())
    return spans


def delivered_lines(out_dir: str):
    """Every record line the fake data plane wrote under ``out_dir``."""
    for path in sorted(glob.glob(os.path.join(out_dir, "shard-*.jsonl"))):
        with open(path) as f:
            yield from (line for line in f if line.strip())


def escaped_data(line: str) -> str:
    """The ``Data`` value of one written line, still JSON-encoded.

    ``FakeKinesisDataPlane`` writes ``{"PartitionKey": <hex>, "Data":
    <str>}`` with ``json.dumps``, so the payload is everything between
    the ``"Data": `` key and the closing brace.
    """
    return line[line.index('"Data": ') + 8 : line.rindex("}")]


class BatchDirSink:
    """``foreachBatch`` callable: micro-batch ``b`` lands in ``out_dir/bNNNNNN``.

    ``batch_spans`` collects (batch_id, start, end) per call; the calls
    arrive on a Spark callback thread, so the driver's span stack is
    left alone.
    """

    def __init__(self, out_dir: str, parallelism: int, span_dir: str | None = None) -> None:
        self.out_dir = out_dir
        self.parallelism = parallelism
        self.span_dir = span_dir
        self.batch_spans: list[tuple[int, float, float]] = []

    def __call__(self, batch_df, batch_id: int) -> None:
        start = time.perf_counter()
        sink = KinesisSink(
            "perfbench-rollup",
            parallelism=self.parallelism,
            client_factory=data_plane(
                os.path.join(self.out_dir, f"b{batch_id:06d}"), self.span_dir
            ),
        )
        sink(batch_df, batch_id)
        self.batch_spans.append((batch_id, start, time.perf_counter()))
