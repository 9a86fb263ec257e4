"""The benchmark's own arithmetic: span self time, status-store
aggregation per job group, the backfill's delivery latency, the output
checks, and metric-name validity.

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import pytest

from perfbench.harness import (
    STAGE_METRICS,
    Span,
    Tracer,
    aggregate_jobs,
    check_metric_names,
    half_delivered_at,
    self_times,
)


def _span(i, start, end, parent=None):
    return Span(i, f"s{i}", start, end, parent, "run")


def test_self_time_subtracts_the_union_of_overlapping_children():
    spans = [
        _span(0, 0.0, 10.0),
        _span(1, 1.0, 3.0, parent=0),
        _span(2, 2.0, 5.0, parent=0),  # overlaps span 1: [1, 5] covered once
        _span(3, 8.0, 9.0, parent=0),
    ]
    got = self_times(spans)
    assert got[0] == pytest.approx(10.0 - 4.0 - 1.0)
    assert got[1] == pytest.approx(2.0)
    assert got[2] == pytest.approx(3.0)


def test_self_time_clips_children_to_the_parent():
    # a worker span that outlives its driver span only covers the overlap
    spans = [_span(0, 0.0, 4.0), _span(1, 3.0, 6.0, parent=0), _span(2, 5.0, 7.0, parent=0)]
    assert self_times(spans)[0] == pytest.approx(3.0)


def test_self_time_counts_only_direct_children():
    spans = [
        _span(0, 0.0, 10.0),
        _span(1, 2.0, 8.0, parent=0),
        _span(2, 3.0, 5.0, parent=1),
    ]
    got = self_times(spans)
    assert got == pytest.approx({0: 4.0, 1: 4.0, 2: 2.0})


def test_tracer_nests_spans_and_a_disabled_tracer_records_nothing():
    tr = Tracer("r")
    with tr.span("outer"):
        with tr.span("inner"):
            pass
        tr.add("worker", 0.0, 0.0, parent=tr.current())
    assert [(s.name, s.parent) for s in tr.spans] == [
        ("outer", None),
        ("inner", 0),
        ("worker", 0),
    ]
    assert all(s.end >= s.start for s in tr.spans)
    off = Tracer("r", enabled=False)
    with off.span("x"):
        off.add("y", 0.0, 1.0)
    assert off.spans == []


def _metrics(**kw):
    return {m: float(kw.get(m, 0.0)) for m in STAGE_METRICS}


def test_aggregate_jobs_counts_a_shared_stage_once():
    stages_by_job = {1: [10, 11], 2: [11, 12]}
    metrics = {
        10: _metrics(tasks=4, executor_run_s=1.0),
        11: _metrics(tasks=8, shuffle_write_bytes=100),
        12: _metrics(tasks=2, executor_run_s=0.5, shuffle_read_bytes=100),
    }
    got = aggregate_jobs([1, 2], stages_by_job, metrics)
    assert got["jobs"] == 2
    assert got["tasks"] == 14
    assert got["executor_run_s"] == pytest.approx(1.5)
    assert got["shuffle_write_bytes"] == 100
    assert got["shuffle_read_bytes"] == 100


def test_aggregate_jobs_per_group_ignores_other_groups_and_missing_stages():
    stages_by_job = {1: [10], 2: [20, 21], 3: [30]}
    metrics = {10: _metrics(tasks=1), 20: _metrics(tasks=5), 30: _metrics(tasks=7)}
    # stage 21 was skipped (no attempt in the store); job 3 is another group
    got = aggregate_jobs([1, 2], stages_by_job, metrics)
    assert got["jobs"] == 2
    assert got["tasks"] == 6
    empty = aggregate_jobs([], stages_by_job, metrics)
    assert empty["jobs"] == 0 and empty["tasks"] == 0


def test_metric_name_rule():
    check_metric_names(["setup_s", "plans.registry.events_hll_users.wall_s", "a-b.c_1"])
    for bad in ["", ".lead", "sp ace", "slash/name", "x" * 65, "unicodé"]:
        with pytest.raises(ValueError):
            check_metric_names([bad])


def test_every_declared_metric_name_is_valid():
    from perfbench.run import END_TO_END, per_layer_units

    names = list(END_TO_END) + list(per_layer_units())
    check_metric_names(names)
    assert len(names) == len(set(names))


def test_registry_entries_and_twins_get_their_own_layer_metrics():
    from perfbench.run import per_layer_units
    from perfbench.workloads import IncrementalTwins

    units = per_layer_units()
    for batch, twin in IncrementalTwins.PAIRS:
        assert units[f"plans.registry.{batch}.wall_s"] == "s"
        assert units[f"plans.registry.{batch}.jobs"] == "count"
        assert units[f"streaming.twins.{twin}.wall_s"] == "s"
        assert units[f"streaming.twins.{twin}.jobs"] == "count"
    assert units["streaming.twins.persisted_rdds_end"] == "count"


def _put(end, records, failed=0):
    return {"start": end - 0.1, "end": end, "records": records, "failed": failed}


def test_half_delivered_at_is_the_put_that_delivers_the_median_record():
    # calls arrive out of order from parallel workers
    puts = [_put(3.0, 500), _put(1.0, 500), _put(2.0, 500), _put(4.0, 500)]
    assert half_delivered_at(puts, 2000) == 2.0
    assert half_delivered_at(puts, 2001) == 3.0


def test_half_delivered_at_counts_only_delivered_records():
    puts = [_put(1.0, 500, failed=400), _put(2.0, 500), _put(3.0, 500)]
    assert half_delivered_at(puts, 1200) == 2.0
    # half never delivered: the last call's end
    assert half_delivered_at([_put(1.0, 10), _put(2.0, 10)], 100) == 2.0


def test_twins_check_compares_with_the_gate_rules():
    import pandas as pd

    from perfbench.workloads import IncrementalTwins, _load_normalize

    wl = object.__new__(IncrementalTwins)
    wl.normalize = _load_normalize()
    exp = pd.DataFrame({"event_type": ["click", "view"], "n": [3, 4]})
    wl.expected = {"e": wl.normalize(exp)}
    # column and row order do not matter; dtype width does not either
    got = pd.DataFrame({"n": [4, 3], "event_type": ["view", "click"]}).astype({"n": "int32"})
    assert wl._matches("e", got)
    assert not wl._matches("e", got.iloc[:1])
    assert not wl._matches("e", got.rename(columns={"n": "m"}))
    assert not wl._matches("e", got.assign(n=[4, 2]))


def test_backfill_check_counts_lost_duplicated_and_altered_records(tmp_path):
    import json
    from collections import Counter

    from perfbench.workloads import CfBackfill, _compact

    records = [{"k": str(i), "env": "prod"} for i in range(4)]
    wl = object.__new__(CfBackfill)
    wl.expected = Counter(json.dumps(_compact(r)) for r in records)
    wl.n_rows = len(records)

    def bad(datas):
        with open(tmp_path / "shard-000.jsonl", "w") as f:
            for d in datas:
                f.write(json.dumps({"PartitionKey": "ab12", "Data": d}) + "\n")
        return wl._bad_records(str(tmp_path))

    exact = [_compact(r) for r in records]
    assert bad(exact) == 0
    # key order and spacing are not part of the payload's identity
    assert bad([json.dumps(dict(reversed(list(r.items())))) for r in records]) == 0
    assert bad(exact[:3]) == 1  # lost
    assert bad(exact + exact[:1]) == 1  # duplicated
    assert bad(exact[:3] + [_compact({"k": "3", "env": "stg"})]) == 1  # altered
