"""Seeded inputs for the workloads.

- ``cloudfront_tree``: a gzipped CloudFront log tree written by the
  package's own ``testing.fixtures.write_log_tree``, cached inside the
  checkout. A finished tree carries a ``.complete`` marker and is built
  under a pid-scoped name, then renamed, so an interrupted run never
  leaves half an input behind.
- ``events_table``: an ``events.parquet`` with the schema and shape of
  the sf0.1 events table, cached like the log tree, for the registry
  entries;
- ``stream_events``: event records for the Kinesis rollup, in event-time
  order (cheap enough to regenerate every run).
"""

from __future__ import annotations

import os
import shutil
from datetime import datetime, timedelta

import numpy as np


def cloudfront_tree(cache_dir: str, seed: int, files_per_env: int, rows_per_file: int) -> str:
    from cloudfront_kinesis_log_lambda_spark.testing.fixtures import write_log_tree

    path = os.path.join(cache_dir, f"cf-s{seed}-{2 * files_per_env}x{rows_per_file}")
    if os.path.exists(os.path.join(path, ".complete")):
        return path
    tmp = f"{path}.tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    write_log_tree(
        tmp,
        envs=("prod", "stg"),
        files_per_service=files_per_env,
        rows=rows_per_file,
        seed=seed,
    )
    open(os.path.join(tmp, ".complete"), "w").close()
    shutil.rmtree(path, ignore_errors=True)
    os.rename(tmp, path)
    return path


# The events generators follow the shape of the sf0.1 ``events`` table the
# package's tests and bench.py run on (measured with DuckDB; README.md):
# 5 event types in equal shares, arrival times uniform over 30 days from
# 2024-01-01 with event_id in time order, values exponential with mean 50
# rounded to cents, 1,500 users per 100k events, props '{"k": 0..99}'.
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
EVENT_EPOCH = datetime(2024, 1, 1)
EVENT_DAYS = 30
VALUE_MEAN = 50.0
USERS_PER_EVENT = 0.015


def events_table(cache_dir: str, seed: int, n: int) -> str:
    """A directory holding ``events.parquet`` with the sf0.1 events schema
    and shape (``n`` rows), cached by seed and size. Returns the
    directory, which the registry entries take as their ``sf_dir``."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = os.path.join(cache_dir, f"events-s{seed}-{n}")
    if os.path.exists(os.path.join(path, ".complete")):
        return path
    rng = np.random.default_rng([seed, n])
    span_us = EVENT_DAYS * 86_400 * 10**6
    ts = np.datetime64(EVENT_EPOCH, "us") + np.sort(rng.integers(0, span_us, n)).astype(
        "timedelta64[us]"
    )
    table = pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(
                rng.integers(0, max(1, round(n * USERS_PER_EVENT)), n), pa.int64()
            ),
            "event_type": pa.array(
                [EVENT_TYPES[i] for i in rng.integers(0, len(EVENT_TYPES), n)]
            ),
            "value": pa.array(np.round(rng.exponential(VALUE_MEAN, n), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
        }
    )
    tmp = f"{path}.tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    pq.write_table(table, os.path.join(tmp, "events.parquet"))
    open(os.path.join(tmp, ".complete"), "w").close()
    shutil.rmtree(path, ignore_errors=True)
    os.rename(tmp, path)
    return path


def stream_events(seed: int, n: int, span_s: int) -> list[tuple[int, str, str, float]]:
    """``n`` events as (event_id, 'YYYY-mm-dd HH:MM:SS', type, value) in
    event-time order, uniform over ``span_s`` seconds from ``EVENT_EPOCH``.

    Types and values are drawn as in ``events_table``; only the arrival
    rate is the caller's (``n / span_s``)."""
    rng = np.random.default_rng(seed)
    offsets = np.sort(rng.integers(0, span_s, n))
    types = rng.integers(0, len(EVENT_TYPES), n)
    values = np.round(rng.exponential(VALUE_MEAN, n), 2)
    ts = (np.datetime64(EVENT_EPOCH, "s") + offsets.astype("timedelta64[s]")).astype(str)
    return [
        (i, t.replace("T", " "), EVENT_TYPES[e], float(v))
        for i, (t, e, v) in enumerate(zip(ts, types, values))
    ]


def seconds_since_epoch_start(ts: str) -> int:
    """Seconds from ``EVENT_EPOCH`` to a 'YYYY-mm-dd HH:MM:SS' time."""
    return int((datetime.fromisoformat(ts) - EVENT_EPOCH) / timedelta(seconds=1))
