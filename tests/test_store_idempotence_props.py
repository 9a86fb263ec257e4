"""Hypothesis properties for the batch-store idempotence SPECTRUM
(streaming/store.py) over RANDOM re-delivery schedules.

The per-store tests (test_streaming_*.py) each pin ONE retry shape.
This file drives the shared primitives — read_batch_store /
read_batch_store_before / fold_batch_store + the ``batch=<id>``
overwrite of write_batch —
through randomized schedules of newest-batch retries with maintenance
folds interleaved, across the four merge-contract classes the stores
implement:

- MAX       — retry-safe for free (per-batch content is input-pure);
- SUM       — retry-safe ONLY via the exclude-current-batch read (the
              writer's emitted state depends on prior totals);
- TOP-K     — top-k-of-union state, same exclude-current dependence;
- FACT-SET  — anti-join append; the strongest class: idempotent even
              under NEW-batch-id re-delivery of old rows.

Property: the store's full visible content after any valid schedule
equals the content after the clean one-run-per-batch schedule.
Structured Streaming's retry model is "only the newest batch re-runs",
and a maintenance fold may race any of it (fold keeps the newest batch
as a delta, so the exclude-current contract stays satisfiable).

The r9 properties found a real operator bug in three tries; these
target the next-highest-density seam (r9 VERDICT item 6).
"""

from __future__ import annotations

import os
import shutil
import tempfile

from hypothesis import HealthCheck, given, settings
from conftest import fuzz_examples
from hypothesis import strategies as st
from pyspark.sql import functions as F

from cloudfront_kinesis_log_lambda_spark.streaming.store import (
    fold_batch_store,
    read_batch_store,
    write_batch,
)

TOPK = 3

# --- the four writer models -------------------------------------------------
# Each: (schema, writer(spark, path, rows, bid), final(spark, path) -> rows)


def _mk(spark, rows, schema):
    return spark.createDataFrame(rows, schema) if rows else (
        spark.createDataFrame([], schema)
    )


MAX_SCHEMA = "key string, val long"


def max_writer(spark, path, rows, bid):
    df = _mk(spark, rows, MAX_SCHEMA)
    write_batch(df.groupBy("key").agg(F.max("val").alias("val")), path, bid)


def max_final(spark, path):
    return (
        read_batch_store(spark, path, MAX_SCHEMA, -1)
        .groupBy("key")
        .agg(F.max("val").alias("val"))
        .collect()
    )


SUM_SCHEMA = "key string, partial long, prior long"


def sum_writer(spark, path, rows, bid):
    """The exclude-current-batch contract made load-bearing: the row a
    batch writes CONTAINS the prior total it observed, so a retry that
    saw its own half-written partition would write DIFFERENT bytes and
    break overwrite idempotence."""
    batch = _mk(spark, rows, MAX_SCHEMA)
    partial = batch.groupBy("key").agg(F.sum("val").alias("partial"))
    prior = (
        read_batch_store(spark, path, SUM_SCHEMA, bid)
        .groupBy("key")
        .agg(F.sum("partial").alias("prior"))
    )
    out = (
        partial.join(prior, "key", "left")
        .select("key", "partial", F.coalesce("prior", F.lit(0)).alias("prior"))
    )
    write_batch(out, path, bid)


def sum_final(spark, path):
    # FULL content (totals AND every observed prior) — catches a retry
    # that recomputed against the wrong state even when totals survive
    return read_batch_store(spark, path, SUM_SCHEMA, -1).collect()


def topk_writer(spark, path, rows, bid):
    batch = _mk(spark, rows, MAX_SCHEMA)
    prior = read_batch_store(spark, path, MAX_SCHEMA, bid)
    out = (
        prior.unionByName(batch)
        .groupBy("key")
        .agg(F.max("val").alias("val"))
        .orderBy(F.col("val").desc(), F.col("key").asc())
        .limit(TOPK)
    )
    write_batch(out, path, bid)


def topk_final(spark, path):
    return (
        read_batch_store(spark, path, MAX_SCHEMA, -1)
        .groupBy("key")
        .agg(F.max("val").alias("val"))
        .orderBy(F.col("val").desc(), F.col("key").asc())
        .limit(TOPK)
        .collect()
    )


FACT_SCHEMA = "key string, val long"


def fact_writer(spark, path, rows, bid):
    batch = _mk(spark, rows, FACT_SCHEMA).distinct()
    prior = read_batch_store(spark, path, FACT_SCHEMA, bid)
    write_batch(batch.join(prior, ["key", "val"], "left_anti"), path, bid)


def fact_final(spark, path):
    return read_batch_store(spark, path, FACT_SCHEMA, -1).distinct().collect()


CLASSES = {
    "max": (max_writer, max_final),
    "sum": (sum_writer, sum_final),
    "topk": (topk_writer, topk_final),
    "factset": (fact_writer, fact_final),
}


# --- schedule interpreter ---------------------------------------------------

_rows_st = st.lists(
    st.tuples(st.sampled_from("abcd"), st.integers(0, 20)),
    min_size=0,
    max_size=5,
)
# per batch: (rows, n_retries, fold_between_runs, fold_after)
_batch_st = st.tuples(
    _rows_st, st.integers(0, 2), st.booleans(), st.booleans()
)
_schedule_st = st.lists(_batch_st, min_size=2, max_size=3)


def _run_schedule(spark, cls, schedule, *, retries: bool):
    writer, final = CLASSES[cls]
    schema = {"sum": SUM_SCHEMA}.get(cls, MAX_SCHEMA)
    d = tempfile.mkdtemp(prefix=f"storeprop-{cls}-")
    path = os.path.join(d, "store")
    try:
        for bid, (rows, n_retry, fold_mid, fold_after) in enumerate(schedule):
            rows = [(k, int(v)) for k, v in rows]
            writer(spark, path, rows, bid)
            if retries:
                for j in range(n_retry):
                    if fold_mid and j == 0 and os.path.isdir(path):
                        # a maintenance fold racing the retry window:
                        # keep_last=1 keeps THIS batch as a delta, so the
                        # exclude-current read still resolves
                        fold_batch_store(spark, path, schema, keep_last=1)
                    writer(spark, path, rows, bid)
                if fold_after and os.path.isdir(path):
                    fold_batch_store(spark, path, schema, keep_last=1)
        return sorted(map(tuple, final(spark, path)))
    finally:
        shutil.rmtree(d, ignore_errors=True)


@settings(max_examples=fuzz_examples(5), deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(_schedule_st, st.sampled_from(sorted(CLASSES)))
def test_store_contract_survives_retry_and_fold_schedules(
    spark, schedule, cls
):
    clean = _run_schedule(spark, cls, schedule, retries=False)
    stressed = _run_schedule(spark, cls, schedule, retries=True)
    assert stressed == clean, (cls, schedule)


@settings(max_examples=fuzz_examples(5), deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    _schedule_st,
    st.lists(st.integers(0, 2), min_size=1, max_size=2),
)
def test_factset_survives_new_id_redelivery(spark, schedule, redeliver):
    """The fact-set class alone is idempotent under re-delivery with a
    FRESH batch id (at-least-once upstream): the anti-join against the
    exclude-current read suppresses every already-stored fact."""
    writer, final = CLASSES["factset"]
    d = tempfile.mkdtemp(prefix="storeprop-redeliver-")
    path = os.path.join(d, "store")
    try:
        for bid, (rows, *_rest) in enumerate(schedule):
            writer(spark, path, [(k, int(v)) for k, v in rows], bid)
        clean = sorted(map(tuple, final(spark, path)))
        nxt = len(schedule)
        for i, src in enumerate(redeliver):
            src_rows = schedule[src % len(schedule)][0]
            writer(spark, path, [(k, int(v)) for k, v in src_rows], nxt + i)
        assert sorted(map(tuple, final(spark, path))) == clean
        # and the re-delivery partitions are literally empty: the raw
        # (pre-distinct) store holds exactly the clean fact set
        raw = read_batch_store(spark, path, FACT_SCHEMA, -1).count()
        assert raw == len(clean)
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_lazy_reader_survives_one_racing_fold(spark):
    """The store docstring's consistency bound, pinned: a reader that
    resolved the pointer (plan built, directories listed) stays correct
    across ONE maintenance fold racing it — absorbed deltas and the
    previous generation survive as grace copies until the NEXT fold.
    The plan here is built BEFORE the fold and collected AFTER it."""
    writer, final = CLASSES["factset"]
    d = tempfile.mkdtemp(prefix="foldrace-")
    path = os.path.join(d, "store")
    try:
        for bid, rows in enumerate(
            [[("a", 1)], [("b", 2)], [("c", 3)], [("d", 4)]]
        ):
            writer(spark, path, rows, bid)
        clean = sorted(
            map(tuple, read_batch_store(spark, path, FACT_SCHEMA, -1)
                .distinct().collect())
        )

        lazy = read_batch_store(spark, path, FACT_SCHEMA, -1).distinct()
        # the racing fold: absorbs batches 0-2 into a generation and
        # sweeps — but the just-absorbed dirs are grace-kept
        n = fold_batch_store(spark, path, FACT_SCHEMA, keep_last=1)
        assert n == 3
        assert sorted(map(tuple, lazy.collect())) == clean

        # second race, one fold deeper: a FRESH plan built now, folded
        # over again after new data, still collects correctly
        writer(spark, path, [("e", 5)], 4)
        lazy2 = read_batch_store(spark, path, FACT_SCHEMA, -1).distinct()
        fold_batch_store(spark, path, FACT_SCHEMA, keep_last=1)
        assert sorted(map(tuple, lazy2.collect())) == sorted(
            clean + [("e", 5)]
        )
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_fold_crash_debris_is_invisible_and_swept(spark):
    """Crash-point A of fold_batch_store (new generation written,
    pointer NOT yet flipped) leaves an un-pointed ``_fold-*`` dir —
    plus possibly a torn ``.tmp-`` pointer file. Both must be invisible
    to every reader (even when the orphan holds POISON rows that would
    corrupt the visible set) and swept by the next fold call."""
    import json

    writer, final = CLASSES["factset"]
    d = tempfile.mkdtemp(prefix="foldcrash-")
    path = os.path.join(d, "store")
    try:
        for bid, rows in enumerate([[("a", 1)], [("b", 2)], [("c", 3)]]):
            writer(spark, path, rows, bid)
        clean = sorted(map(tuple, final(spark, path)))
        fold_batch_store(spark, path, FACT_SCHEMA, keep_last=1)
        assert sorted(map(tuple, final(spark, path))) == clean

        # crash debris: an orphaned generation full of poison rows and
        # a torn pointer temp file
        poison = spark.createDataFrame([("zz", 99)], FACT_SCHEMA)
        poison.write.mode("overwrite").parquet(
            os.path.join(path, "_fold-99")
        )
        with open(os.path.join(path, "_fold_pointer.json.tmp-777"), "w") as f:
            f.write('{"gen": 99, "dir"')  # torn mid-write

        assert sorted(map(tuple, final(spark, path))) == clean

        # next maintenance call sweeps both; the real pointer survives
        writer(spark, path, [("e", 5)], 3)
        fold_batch_store(spark, path, FACT_SCHEMA, keep_last=1)
        entries = set(os.listdir(path))
        assert "_fold-99" not in entries
        assert not any(".tmp-" in e for e in entries)
        ptr = json.load(open(os.path.join(path, "_fold_pointer.json")))
        assert os.path.isdir(os.path.join(path, ptr["dir"]))
        assert sorted(map(tuple, final(spark, path))) == sorted(
            clean + [("e", 5)]
        )
    finally:
        shutil.rmtree(d, ignore_errors=True)


# --- fifth class: the order-dependent fold (FoldStateStore) -----------------

FOLD_SCHEMA = "user_id string, last_ts long, last_id long, acc double"
_EVENT_SCHEMA = "user_id string, ts long, event_id long, value double"


def _fold_store(path):
    from cloudfront_kinesis_log_lambda_spark.streaming.foldstate import (
        FoldStateStore,
    )

    # FoldStateStore appends "state/" itself
    return FoldStateStore(path, FOLD_SCHEMA, ("acc",))


def _fold_writer(spark, store, rows, bid, *, seed_mode="asof"):
    """The EWMA/Holt twin shape: seed from strictly-before state, fold
    the batch's events in (ts, event_id) order, write cumulative rows.
    seed_mode='exclude' is the deliberately WEAKER contract used by the
    teeth test (sees later batches on old-batch replay)."""
    from cloudfront_kinesis_log_lambda_spark.streaming.foldstate import (
        user_series,
    )

    batch = (
        spark.createDataFrame(rows, _EVENT_SCHEMA)
        if rows
        else spark.createDataFrame([], _EVENT_SCHEMA)
    )
    seed = store.state(
        spark, before_batch=bid if seed_mode == "asof" else None
    )
    # the production series aggregate, so this property tracks the
    # twins' actual sort contract (review finding r10)
    series = user_series(batch)
    out = series.join(seed, "user_id", "left").select(
        "user_id",
        F.element_at("series", -1)["ts"].alias("last_ts"),
        F.element_at("series", -1)["event_id"].alias("last_id"),
        F.expr(
            "aggregate(series, coalesce(acc, 0.0D),"
            " (a, x) -> 0.5D * a + x.value)"
        ).alias("acc"),
    )
    store.write(out, bid)


_fold_rows_st = st.lists(
    st.tuples(
        st.sampled_from("ab"),
        st.integers(0, 50),
        st.integers(0, 99),
        st.integers(0, 8),
    ),
    min_size=0,
    max_size=4,
)
_fold_schedule_st = st.lists(
    st.tuples(_fold_rows_st, st.integers(0, 2), st.booleans()),
    min_size=2,
    max_size=3,
)


def _norm_events(rows):
    # distinct (user, ts, id) within a batch — collect_list would
    # otherwise fold duplicate keys in nondeterministic multiplicity
    seen = {}
    for u, ts, eid, v in rows:
        seen[(u, ts, eid)] = (u, int(ts), int(eid), float(v))
    return list(seen.values())


@settings(max_examples=fuzz_examples(5), deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(_fold_schedule_st)
def test_foldstate_asof_survives_retry_and_fold_schedules(spark, schedule):
    """The order-dependent fold class (EWMA/Holt shape) through the
    REAL FoldStateStore: newest-batch retries, with a maintenance fold
    optionally racing the retry window, must leave the argmax-merged
    state identical to the clean run — the as-of seed recomputes every
    retry against exactly the pre-batch state."""

    def run(stress):
        d = tempfile.mkdtemp(prefix="foldprop-")
        store = _fold_store(d)
        try:
            for bid, (rows, n_retry, fold_mid) in enumerate(schedule):
                ev = _norm_events(rows)
                _fold_writer(spark, store, ev, bid)
                if stress:
                    for j in range(n_retry):
                        if fold_mid and j == 0:
                            fold_batch_store(
                                spark, store.state_dir, FOLD_SCHEMA, keep_last=1
                            )
                        _fold_writer(spark, store, ev, bid)
            return sorted(map(tuple, store.state(spark).collect()))
        finally:
            shutil.rmtree(d, ignore_errors=True)

    assert run(True) == run(False), schedule


def test_foldstate_old_batch_replay_needs_asof_not_exclude(spark):
    """Checkpoint-replay of an OLD batch (crash recovery re-runs batch
    i after batch i+1's state exists, no fold in between): the AS-OF
    seed rewrites batch=i byte-identically; the weaker exclude-current
    seed reads batch i+1's accumulator into batch i's partition and
    corrupts the fold order — the r7 transitions retry bug class."""
    b0 = [("a", 10, 1, 4.0)]
    b1 = [("a", 20, 2, 2.0)]
    d = tempfile.mkdtemp(prefix="foldreplay-")
    store = _fold_store(d)
    try:
        _fold_writer(spark, store, b0, 0)
        _fold_writer(spark, store, b1, 1)
        clean = sorted(map(tuple, store.state(spark).collect()))
        # acc = 0.5*(0.5*0 + 4) + 2 = 4.0
        assert clean == [("a", 20, 2, 4.0)]

        _fold_writer(spark, store, b0, 0)  # as-of replay of batch 0
        assert sorted(map(tuple, store.state(spark).collect())) == clean

        # teeth: exclude-current seed on the same replay reads batch
        # 1's accumulator into batch 0's partition (acc 2.0 → 6.0).
        # The argmax merge MASKS it (batch 1's high-water mark still
        # wins) — the corruption surfaces the moment any later as-of
        # read consumes batch 0, exactly how the r7 bug escaped the
        # obvious check:
        _fold_writer(spark, store, b0, 0, seed_mode="exclude")
        assert sorted(map(tuple, store.state(spark).collect())) == clean
        _fold_writer(spark, store, b1, 1)  # legitimate as-of retry of b1
        corrupted = sorted(map(tuple, store.state(spark).collect()))
        assert corrupted != clean  # seeded from the poisoned batch 0
        assert corrupted == [("a", 20, 2, 5.0)]  # 0.5*6.0 + 2
        # as-of replay of batch 0 then batch 1 repairs the chain
        _fold_writer(spark, store, b0, 0)
        _fold_writer(spark, store, b1, 1)
        assert sorted(map(tuple, store.state(spark).collect())) == clean
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_sum_writer_depends_on_exclude_current(spark):
    """Teeth check: the SUM class is NOT retry-safe without the
    exclude-current read — a retry reading its own partition doubles
    the prior it records. Verifies the property would fail on the
    broken contract rather than passing vacuously."""
    d = tempfile.mkdtemp(prefix="storeprop-teeth-")
    path = os.path.join(d, "store")
    try:
        sum_writer(spark, path, [("a", 5)], 0)
        sum_writer(spark, path, [("a", 3)], 1)
        before = sorted(map(tuple, sum_final(spark, path)))

        # broken retry: exclude_batch = -1 (sees its own batch=1 rows)
        batch = _mk(spark, [("a", 3)], MAX_SCHEMA)
        partial = batch.groupBy("key").agg(F.sum("val").alias("partial"))
        prior = (
            read_batch_store(spark, path, SUM_SCHEMA, -1)
            .groupBy("key")
            .agg(F.sum("partial").alias("prior"))
        )
        out = partial.join(prior, "key", "left").select(
            "key", "partial", F.coalesce("prior", F.lit(0)).alias("prior")
        )
        write_batch(out, path, 1)
        after = sorted(map(tuple, sum_final(spark, path)))
        assert after != before  # the broken read corrupts state
        # and the correct retry restores it
        sum_writer(spark, path, [("a", 3)], 1)
        assert sorted(map(tuple, sum_final(spark, path))) == before
    finally:
        shutil.rmtree(d, ignore_errors=True)
