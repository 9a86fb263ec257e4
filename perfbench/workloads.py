"""The benchmark's workloads. Each is a closed loop driven by one driver
process: one Spark job or micro-batch at a time, the next started only
after the previous one returned.

A workload exposes

- ``prepare()``: seeded inputs and expected outputs (untimed, not part
  of set-up);
- ``bind(spark)``: after every ``get_spark``;
- ``warmup()``: the untimed warm-up rep that ends a set-up;
- ``unbind()``: before the next set-up;
- ``run_pass(tag)``: one timed pass, its Spark jobs under job groups
  derived from ``tag``; returns a ``PassResult`` (None if it raised);
- ``end()``: after the timed passes;
- ``check()``: output checks of every pass kept for checking;
- ``baseline_pass(tag)`` and ``traced_pass(status)``: the untraced and
  the traced pass of a ``--trace 1`` run. Both time the same work; the
  traced pass returns its wall and the per-layer metrics, and runs any
  extra layer-split jobs after its timed window;
- ``spark_groups(tag)``: the job groups of pass ``tag``.

Why these workloads, and which layer each one loads, is in README.md
next to this file.
"""

from __future__ import annotations

import gzip
import json
import os
import shutil
import sys
import time
import traceback
from collections import Counter
from dataclasses import dataclass

from perfbench import datagen, fakes
from perfbench.harness import StatusStore, Tracer, half_delivered_at, median


@dataclass
class Ctx:
    cache_dir: str
    work_dir: str
    seed: int
    nproc: int
    tracer: Tracer

    def fresh_dir(self, tag: str) -> str:
        path = os.path.join(self.work_dir, f"{tag}-{time.perf_counter_ns()}")
        os.makedirs(path)
        return path


@dataclass
class PassResult:
    wall_s: float
    records: int
    latencies_s: list[float]


def force(df) -> None:
    """Run a plan to completion on the executors without collecting it."""
    df.write.format("noop").mode("overwrite").save()


def log_failure(what: str) -> None:
    print(f"perfbench: {what} failed:\n{traceback.format_exc()}", file=sys.stderr)


def release_persisted(spark) -> None:
    """Drop every persisted RDD and cached table (as bench.py does
    between timings): the iterative entries localCheckpoint and never
    unpersist."""
    for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        rdd.unpersist()
    spark.catalog.clearCache()


class Workload:
    #: passes one run can make at most (None: as many as the window takes)
    max_passes: int | None = None

    def __init__(self, ctx: Ctx) -> None:
        self.ctx = ctx
        self.spark = None
        self.attempted = 0
        self.failed = 0

    def bind(self, spark) -> None:
        self.spark = spark

    def warmup(self) -> None:
        self.run_pass("warmup", keep=False)

    def unbind(self) -> None:
        """Before the next set-up: close what the last one left open."""

    def end(self) -> None:
        """After the timed passes: close what the set-up left open."""

    def baseline_pass(self, tag: str) -> float | None:
        """The untraced pass the traced pass is compared with: its wall."""
        r = self.run_pass(tag)
        return r.wall_s if r else None

    def job_group(self, name: str) -> None:
        self.spark.sparkContext.setJobGroup(name, name)

    def spark_groups(self, tag: str) -> list[str]:
        return [tag]


def _sink_metrics(self_s: float, puts: list[dict], delivered_ratio: float) -> dict[str, float]:
    n_records = sum(p["records"] for p in puts)
    return {
        "sinks.kinesis.self_s": self_s,
        "sinks.kinesis.put_s": sum(p["end"] - p["start"] for p in puts),
        "sinks.kinesis.put_calls": float(len(puts)),
        "sinks.kinesis.records_per_put": n_records / len(puts) if puts else 0.0,
        "sinks.kinesis.retried_records": float(sum(p["failed"] for p in puts)),
        "sinks.kinesis.delivered_ratio": delivered_ratio,
    }


# --- cf_backfill -------------------------------------------------------------


def _compact(record: dict, sort_keys: bool = False) -> str:
    """A record in the wire's compact JSON form (key order kept unless
    ``sort_keys``)."""
    return json.dumps(record, separators=(",", ":"), ensure_ascii=False, sort_keys=sort_keys)


class CfBackfill(Workload):
    """The reference's job at scale: gz log tree → read_cloudfront_logs →
    cloudfront_wire_pipeline → KinesisSink into the fake data plane."""

    FILES_PER_CORE = 4  # split over 2 envs
    ROWS_PER_FILE = 3_000

    def prepare(self) -> None:
        self.tree = datagen.cloudfront_tree(
            self.ctx.cache_dir,
            self.ctx.seed,
            self.FILES_PER_CORE * self.ctx.nproc // 2,
            self.ROWS_PER_FILE,
        )
        self.expected = self._expected()
        self.n_rows = sum(self.expected.values())
        self.outputs: list[str] = []

    def _expected(self) -> Counter:
        """Expected payloads straight from the gz files, through the
        package's pure-Python oracle of the reference transform; cached
        beside the tree, outside what the scan reads."""
        from cloudfront_kinesis_log_lambda_spark.schema import FIELDNAMES
        from cloudfront_kinesis_log_lambda_spark.testing.oracle import enrich_row

        cached = f"{self.tree}.expected.json"
        if os.path.exists(cached):
            with open(cached) as f:
                return Counter(json.load(f))
        expected: Counter = Counter()
        for dirpath, _, names in os.walk(self.tree):
            rel = os.path.relpath(dirpath, os.path.join(self.tree, "cloudfront"))
            for name in names:
                if not name.endswith(".gz"):
                    continue
                env, service_id = rel.split(os.sep)
                with gzip.open(os.path.join(dirpath, name), "rt", newline="") as f:
                    for line in f:
                        if line.startswith("#") or not line.strip():
                            continue
                        row = dict(zip(FIELDNAMES, line.rstrip("\n").split("\t")))
                        data = _compact(enrich_row(row, env, service_id))
                        expected[json.dumps(data)] += 1
        tmp = f"{cached}.tmp-{os.getpid()}"
        with open(tmp, "w") as f:
            json.dump(expected, f)
        os.rename(tmp, cached)
        return expected

    def _wire(self):
        from cloudfront_kinesis_log_lambda_spark.operators.transforms import (
            cloudfront_wire_pipeline,
        )
        from cloudfront_kinesis_log_lambda_spark.sources.cloudfront import (
            read_cloudfront_logs,
        )

        return cloudfront_wire_pipeline(read_cloudfront_logs(self.spark, self.tree))

    def _write(self, out_dir: str, span_dir: str) -> None:
        from cloudfront_kinesis_log_lambda_spark.sinks.kinesis import KinesisSink

        KinesisSink(
            "perfbench-backfill",
            parallelism=self.ctx.nproc,
            client_factory=fakes.data_plane(out_dir, span_dir),
        ).write(self._wire())

    def _timed_write(self, tag: str) -> tuple[float, float, str, str]:
        """One full backfill under job group ``tag``: (wall, pass start,
        output dir, put-span dir)."""
        out = self.ctx.fresh_dir("cf-out")
        span_dir = self.ctx.fresh_dir("cf-puts")
        self.job_group(tag)
        t0 = time.perf_counter()
        self._write(out, span_dir)
        return time.perf_counter() - t0, t0, out, span_dir

    def run_pass(self, tag: str, keep: bool = True) -> PassResult | None:
        try:
            wall, t0, out, span_dir = self._timed_write(tag)
        except Exception:  # noqa: BLE001 — a failed pass is counted, not fatal
            log_failure("cf_backfill pass")
            self.attempted += self.n_rows
            self.failed += self.n_rows
            return None
        # the latency of a backfill: from the pass start until half of
        # its records have been delivered by a put call
        latency = half_delivered_at(fakes.read_put_spans(span_dir), self.n_rows) - t0
        shutil.rmtree(span_dir, ignore_errors=True)
        if keep:
            self.outputs.append(out)
        else:
            shutil.rmtree(out, ignore_errors=True)
        return PassResult(wall, self.n_rows, [latency])

    def _bad_records(self, out_dir: str) -> int:
        # Counted by the JSON-escaped payload as the fake data plane
        # writes it, so most lines need no parsing; payloads that differ
        # only in JSON formatting or key order still compare equal below
        got = Counter(fakes.escaped_data(line) for line in fakes.delivered_lines(out_dir))
        missing, extra = self.expected - got, got - self.expected
        if missing or extra:
            missing = Counter(
                {_compact(json.loads(json.loads(d)), True): n for d, n in missing.items()}
            )
            extra = Counter(
                {_compact(json.loads(json.loads(d)), True): n for d, n in extra.items()}
            )
            missing, extra = missing - extra, extra - missing
        # a lost record is missing, a duplicate is extra, a wrong one is both
        return min(self.n_rows, max(sum(missing.values()), sum(extra.values())))

    def check(self) -> None:
        for out in self.outputs:
            self.attempted += self.n_rows
            self.failed += self._bad_records(out)
            shutil.rmtree(out, ignore_errors=True)
        self.outputs.clear()

    def traced_pass(self, status: StatusStore) -> tuple[float, dict[str, float]]:
        """The baseline's full backfill with spans, then (outside the
        compared window) scan and wire as forced runs with a span each:
        scan = read_cloudfront_logs, wire = scan + transforms, and the
        sink is the full write minus wire."""
        from cloudfront_kinesis_log_lambda_spark.sources.cloudfront import (
            read_cloudfront_logs,
        )

        tr = self.ctx.tracer
        t0 = time.perf_counter()
        with tr.span("cf_backfill.pass"), tr.span("sinks.kinesis"):
            sink_span = tr.current()
            _, _, out, span_dir = self._timed_write("trace.sink")
        wall = time.perf_counter() - t0
        walls = {"sinks.kinesis": tr.spans[sink_span].end - tr.spans[sink_span].start}
        for layer, group, run in (
            ("sources.cloudfront", "trace.scan",
             lambda: force(read_cloudfront_logs(self.spark, self.tree))),
            ("operators.transforms", "trace.wire", lambda: force(self._wire())),
        ):
            self.job_group(group)
            with tr.span(layer):
                layer_span = tr.current()
                run()
            walls[layer] = tr.spans[layer_span].end - tr.spans[layer_span].start
        puts = fakes.read_put_spans(span_dir)
        for p in puts:
            tr.add("sinks.kinesis.put", p["start"], p["end"], parent=sink_span)
        delivered = sum(1 for _ in fakes.delivered_lines(out))
        self.outputs.append(out)
        scan = status.totals(["trace.scan"])
        return wall, {
            "sources.cloudfront.scan_s": walls["sources.cloudfront"],
            "sources.cloudfront.files": float(
                len(read_cloudfront_logs(self.spark, self.tree).inputFiles())
            ),
            "sources.cloudfront.rows": scan["input_records"],
            "operators.transforms.self_s": walls["operators.transforms"]
            - walls["sources.cloudfront"],
            **_sink_metrics(
                walls["sinks.kinesis"] - walls["operators.transforms"],
                puts,
                delivered / self.n_rows,
            ),
            "sinks.kinesis.shuffle_write_bytes": status.totals(["trace.sink"])[
                "shuffle_write_bytes"
            ],
        }


# --- kinesis_rollup ----------------------------------------------------------


class KinesisRollup(Workload):
    """Event-time-ordered waves through kinesis_py → JSON decode →
    tumbling_event_counts → KinesisSink. A pass is one wave: append it
    to the fake shards, then ``processAllAvailable``; the timed passes
    share one streaming query, started before the window and stopped
    after it.

    A wave spans at most the pipeline's 30-minute watermark of event
    time. The fake data plane appends a wave shard by shard, so a
    micro-batch can see part of a wave; a wider wave would let the
    watermark overtake the rest of it and drop records as late.
    """

    WAVES = 16  # generated; a run appends as many as its window takes
    EVENTS_PER_WAVE = 2_500
    WAVE_SPAN_S = 1_800
    TRACE_WAVES = 2

    def prepare(self) -> None:
        self.events = datagen.stream_events(
            self.ctx.seed, self.WAVES * self.EVENTS_PER_WAVE, self.WAVES * self.WAVE_SPAN_S
        )
        self.waves: list[dict[int, str]] = [{} for _ in range(self.WAVES)]
        #: events in waves [0, k) = events[: self.prefix[k]]
        self.prefix = [0] * (self.WAVES + 1)
        for eid, ts, et, v in self.events:
            k = min(datagen.seconds_since_epoch_start(ts) // self.WAVE_SPAN_S, self.WAVES - 1)
            line = json.dumps(
                {
                    "PartitionKey": str(eid),
                    "Data": json.dumps({"ts": ts, "event_type": et, "value": v}),
                }
            )
            shard = eid % fakes.N_SHARDS
            self.waves[k][shard] = self.waves[k].get(shard, "") + line + "\n"
            self.prefix[k + 1] = eid + 1
        for k in range(1, self.WAVES + 1):
            self.prefix[k] = max(self.prefix[k], self.prefix[k - 1])
        self.max_passes = self.WAVES - 1  # wave 0 is the warm-up rep
        self.streams: list[dict] = []
        self.run_ids: dict[str, str] = {}

    def bind(self, spark) -> None:
        from cloudfront_kinesis_log_lambda_spark.sources.kinesis import (
            register_kinesis_source,
        )

        super().bind(spark)
        register_kinesis_source(spark)

    def _open(self, tag: str, span_dir: str | None = None) -> dict:
        """Start the rollup query over a fresh, empty fake stream."""
        from pyspark.sql import functions as F

        from cloudfront_kinesis_log_lambda_spark.streaming.pipeline import (
            tumbling_event_counts,
        )

        root = self.ctx.fresh_dir("kin")
        in_dir = os.path.join(root, "in")
        os.makedirs(in_dir)
        for s in range(fakes.N_SHARDS):
            open(os.path.join(in_dir, f"shard-{s:03d}.jsonl"), "w").close()
        sink = fakes.BatchDirSink(os.path.join(root, "out"), self.ctx.nproc, span_dir)
        t0 = time.perf_counter()
        with self.ctx.tracer.span("streaming.pipeline.start"):
            stream = (
                self.spark.readStream.format("kinesis_py").option("fake_dir", in_dir).load()
            )
            decoded = stream.select(
                F.to_timestamp(F.get_json_object("Data", "$.ts")).alias("ts"),
                F.get_json_object("Data", "$.event_type").alias("event_type"),
                F.get_json_object("Data", "$.value").cast("double").alias("value"),
            )
            wire = tumbling_event_counts(decoded, window="10 minutes").select(
                F.to_json(F.struct("*")).alias("Data"),
                F.expr("replace(uuid(),'-','')").alias("PartitionKey"),
            )
            query = (
                wire.writeStream.foreachBatch(sink)
                .option("checkpointLocation", os.path.join(root, "ckpt"))
                .outputMode("update")
                .start()
            )
        self.run_ids[tag] = str(query.runId)
        return {
            "root": root, "in_dir": in_dir, "sink": sink, "query": query,
            "waves": 0, "start_s": time.perf_counter() - t0,
        }

    def _wave(self, st: dict) -> PassResult:
        t0 = time.perf_counter()
        with self.ctx.tracer.span("streaming.pipeline.wave"):
            for s, text in sorted(self.waves[st["waves"]].items()):
                with open(os.path.join(st["in_dir"], f"shard-{s:03d}.jsonl"), "a") as f:
                    f.write(text)
            t_appended = time.perf_counter()
            st["query"].processAllAvailable()
        t_end = time.perf_counter()
        st["waves"] += 1
        n = self.prefix[st["waves"]] - self.prefix[st["waves"] - 1]
        return PassResult(t_end - t0, n, [t_end - t_appended])

    def _close(self, st: dict) -> None:
        st["progress"] = [json.loads(p.json) for p in st["query"].recentProgress]
        t0 = time.perf_counter()
        with self.ctx.tracer.span("streaming.pipeline.stop"):
            st["query"].stop()
        st["stop_s"] = time.perf_counter() - t0

    def _lifetime(self, tag: str, waves: int, span_dir: str | None = None) -> dict:
        t0 = time.perf_counter()
        st = self._open(tag, span_dir)
        try:
            for _ in range(waves):
                self._wave(st)
        finally:
            self._close(st)
        st["wall_s"] = time.perf_counter() - t0
        return st

    def warmup(self) -> None:
        # the set-up leaves the query running with wave 0 drained, so
        # the timed waves measure the steady state of one query
        self.stream = self._open("timed")
        self._wave(self.stream)

    def unbind(self) -> None:
        self._close(self.stream)
        shutil.rmtree(self.stream["root"], ignore_errors=True)

    def run_pass(self, tag: str) -> PassResult | None:
        try:
            return self._wave(self.stream)
        except Exception:  # noqa: BLE001 — a failed wave is counted, not fatal
            log_failure("kinesis_rollup wave")
            self.stream["failed_wave"] = True
            return None

    def end(self) -> None:
        self._close(self.stream)
        self.streams.append(self.stream)

    def baseline_pass(self, tag: str) -> float:
        # with timed puts, as in the traced pass, so both do the same work
        st = self._lifetime(tag, self.TRACE_WAVES, self.ctx.fresh_dir("kin-puts"))
        self.streams.append(st)
        return st["wall_s"]

    def _bad_records(self, st: dict) -> int:
        """Records whose (window, type) result is wrong or missing in the
        highest micro-batch that emitted it, plus any extra results."""
        import duckdb
        import pyarrow as pa

        appended = self.events[: self.prefix[st["waves"]]]
        con = duckdb.connect()
        con.register(
            "ev",
            pa.table(
                {
                    "ts": [e[1] for e in appended],
                    "event_type": [e[2] for e in appended],
                    "value": [e[3] for e in appended],
                }
            ),
        )
        expected = {
            (str(w), et): (n, s)
            for w, et, n, s in con.execute(
                "SELECT time_bucket(INTERVAL 10 MINUTE, ts::TIMESTAMP), event_type, "
                "count(*), round(sum(value), 2) FROM ev GROUP BY ALL"
            ).fetchall()
        }
        con.close()
        out_dir = os.path.join(st["root"], "out")
        final: dict[tuple[str, str], tuple[int, float]] = {}
        for batch in sorted(os.listdir(out_dir)) if os.path.isdir(out_dir) else []:
            for line in fakes.delivered_lines(os.path.join(out_dir, batch)):
                rec = json.loads(json.loads(line)["Data"])
                start = rec["window_start"][:19].replace("T", " ")
                final[(start, rec["event_type"])] = (rec["n_events"], rec["sum_value"])
        bad = sum(n for key, (n, s) in expected.items() if final.get(key) != (n, s))
        bad += sum(final[k][0] for k in final.keys() - expected.keys())
        return min(len(appended), bad)

    def check(self) -> None:
        for st in self.streams:
            n = self.prefix[st["waves"]]
            self.attempted += n
            self.failed += n if st.get("failed_wave") else self._bad_records(st)
            shutil.rmtree(st["root"], ignore_errors=True)
        self.streams.clear()

    def traced_pass(self, status: StatusStore) -> tuple[float, dict[str, float]]:
        """The baseline's query lifetime with spans; after its window, a
        bounded replay of the source and the output check."""
        tr = self.ctx.tracer
        span_dir = self.ctx.fresh_dir("kin-puts")
        t0 = time.perf_counter()
        with tr.span("kinesis_rollup.pass"):
            pass_span = tr.current()
            st = self._lifetime("trace", self.TRACE_WAVES, span_dir)
        wall = time.perf_counter() - t0
        # a bounded replay of everything the pass appended: the source
        # layer's own cost without the streaming machinery
        self.job_group("trace.kread")
        with tr.span("sources.kinesis"):
            read_span = tr.current()
            force(self.spark.read.format("kinesis_py").option("fake_dir", st["in_dir"]).load())
        # a micro-batch's sink call belongs to the wave that drained it
        waves = [s for s in tr.spans if s.name == "streaming.pipeline.wave"]
        batch_spans = []
        for _, start, end in st["sink"].batch_spans:
            parent = next(
                (w.span_id for w in waves if w.start <= start <= w.end), pass_span
            )
            tr.add("sinks.kinesis", start, end, parent=parent)
            batch_spans.append(tr.spans[-1])
        puts = fakes.read_put_spans(span_dir)
        for p in puts:
            parent = next(
                (s.span_id for s in batch_spans if s.start <= p["start"] <= s.end), None
            )
            tr.add("sinks.kinesis.put", p["start"], p["end"], parent=parent)
        progress = st["progress"]
        dur = [p["durationMs"] for p in progress]
        data = [p for p in progress if p["numInputRows"] > 0]
        nodata = [p for p in progress if p["numInputRows"] == 0]
        states = [p["stateOperators"][0] for p in progress if p["stateOperators"]]
        # per micro-batch input rows and planned offsets, for the span file
        self.micro_batches = [
            {
                "batch_id": p["batchId"],
                "num_input_rows": p["numInputRows"],
                "start_offset": p["sources"][0]["startOffset"] if p["sources"] else None,
                "end_offset": p["sources"][0]["endOffset"] if p["sources"] else None,
            }
            for p in progress
        ]
        bad = self._bad_records(st)
        self.attempted += self.prefix[st["waves"]]
        self.failed += bad
        delivered = 1.0 - bad / self.prefix[st["waves"]]
        shutil.rmtree(st["root"], ignore_errors=True)
        return wall, {
            "sources.kinesis.read_s": tr.spans[read_span].end - tr.spans[read_span].start,
            "sources.kinesis.rows_per_batch": median([p["numInputRows"] for p in data]),
            "streaming.pipeline.start_ms": st["start_s"] * 1e3,
            "streaming.pipeline.stop_ms": st["stop_s"] * 1e3,
            "streaming.pipeline.batches": float(len(progress)),
            "streaming.pipeline.data_batch_ms": float(
                sum(p["durationMs"].get("triggerExecution", 0) for p in data)
            ),
            "streaming.pipeline.nodata_batch_ms": float(
                sum(p["durationMs"].get("triggerExecution", 0) for p in nodata)
            ),
            "streaming.pipeline.add_batch_ms": float(sum(d.get("addBatch", 0) for d in dur)),
            "streaming.pipeline.query_planning_ms": float(
                sum(d.get("queryPlanning", 0) for d in dur)
            ),
            "streaming.pipeline.commit_ms": float(
                sum(d.get("walCommit", 0) + d.get("commitOffsets", 0) for d in dur)
            ),
            "streaming.pipeline.latest_offset_ms": float(
                sum(d.get("latestOffset", 0) for d in dur)
            ),
            "streaming.pipeline.outside_trigger_ms": 1e3
            * (st["wall_s"] - st["start_s"] - st["stop_s"])
            - sum(d.get("triggerExecution", 0) for d in dur),
            "streaming.pipeline.state_rows": float(states[-1]["numRowsTotal"]) if states else 0.0,
            "streaming.pipeline.state_mem_bytes": float(
                max((s["memoryUsedBytes"] for s in states), default=0)
            ),
            "streaming.pipeline.state_partitions": float(
                states[-1]["numShufflePartitions"] if states else 0
            ),
            **_sink_metrics(sum(s.end - s.start for s in batch_spans), puts, delivered),
        }

    def spark_groups(self, tag: str) -> list[str]:
        # a streaming query runs its jobs under its run id as job group
        return [self.run_ids[tag]]


# --- incremental_twins -------------------------------------------------------


def _load_normalize():
    """The correctness gate's ``normalize`` (tools/check_correctness.py),
    so entry outputs are compared by the same rules."""
    import importlib.util

    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "tools", "check_correctness.py",
    )
    spec = importlib.util.spec_from_file_location("perfbench_check_correctness", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.normalize


class IncrementalTwins(Workload):
    """Registry entries over a generated events table: batch entries and
    their foreachBatch twins, which drive the streaming operators through
    streaming/store.py with a parquet read-modify-write per wave. A pass
    runs every entry once, each forced with a noop write; persisted RDDs
    are released between entries, outside the timing."""

    N_EVENTS = 100_000  # the sf0.1 events table's size
    #: (batch entry, its incremental twin); a pass runs them in this order.
    #: One pair: every entry's cold run adds to both set-ups, and the run
    #: budget has room for one (README.md).
    PAIRS = (("events_hll_users", "events_hll_incremental"),)
    ENTRIES = [name for pair in PAIRS for name in pair]
    TWINS = [twin for _, twin in PAIRS]

    @classmethod
    def layer(cls, entry: str) -> str:
        """The per-layer metric prefix of an entry."""
        return f"{'streaming.twins' if entry in cls.TWINS else 'plans.registry'}.{entry}"

    def prepare(self) -> None:
        import duckdb

        import __spark_entry__

        self.sf_dir = datagen.events_table(self.ctx.cache_dir, self.ctx.seed, self.N_EVENTS)
        queries = __spark_entry__.queries()
        oracles = __spark_entry__.oracle_sql()
        self.queries = {name: queries[name] for name in self.ENTRIES}
        self.normalize = _load_normalize()
        con = duckdb.connect()
        con.execute(
            f"CREATE VIEW events AS SELECT * FROM '{self.sf_dir}/events.parquet'"
        )
        self.expected = {
            name: self.normalize(con.execute(oracles[name]).df()) for name in self.ENTRIES
        }
        con.close()
        self.results: list[tuple[str, object]] = []
        self.persisted_after: dict[str, int] = {}

    def run_pass(self, tag: str, keep: bool = True) -> PassResult | None:
        tr = self.ctx.tracer
        walls, ok = [], True
        for name in self.ENTRIES:
            try:
                self.job_group(f"{tag}.{name}")
                t0 = time.perf_counter()
                with tr.span(self.layer(name)):
                    df = self.queries[name](self.spark, self.sf_dir)
                    force(df)
                walls.append(time.perf_counter() - t0)
                if keep:
                    self.job_group(f"{tag}.{name}.check")
                    self.results.append((name, df.toPandas()))
            except Exception:  # noqa: BLE001 — a failed entry is counted, not fatal
                log_failure(f"incremental_twins {name}")
                self.attempted += 1
                self.failed += 1
                ok = False
            if tr.enabled:
                self.persisted_after[name] = len(
                    self.spark.sparkContext._jsc.getPersistentRDDs()
                )
            release_persisted(self.spark)
        if not ok:
            return None
        # the latency of an incremental refresh: the twins' walls
        twin_walls = [w for name, w in zip(self.ENTRIES, walls) if name in self.TWINS]
        return PassResult(sum(walls), self.N_EVENTS * len(walls), twin_walls)

    def _matches(self, name: str, got) -> bool:
        exp = self.expected[name]
        if sorted(got.columns) != sorted(exp.columns) or len(got) != len(exp):
            return False
        import pandas as pd

        try:
            pd.testing.assert_frame_equal(
                self.normalize(got), exp, check_dtype=False, check_exact=True
            )
        except AssertionError:
            return False
        return True

    def check(self) -> None:
        for name, got in self.results:
            self.attempted += 1
            if not self._matches(name, got):
                print(f"perfbench: {name} differs from its oracle", file=sys.stderr)
                self.failed += 1
        self.results.clear()

    def spark_groups(self, tag: str) -> list[str]:
        return [f"{tag}.{name}" for name in self.ENTRIES]

    def traced_pass(self, status: StatusStore) -> tuple[float, dict[str, float]]:
        """The baseline's pass with a span around each entry. Its wall
        is the summed entry walls, as the baseline's is."""
        tr = self.ctx.tracer
        with tr.span("incremental_twins.pass"):
            pass_span = tr.spans[tr.current()]
            r = self.run_pass("trace")
        wall = r.wall_s if r else pass_span.end - pass_span.start
        metrics = {}
        for name in self.ENTRIES:
            span = next(s for s in reversed(tr.spans) if s.name == self.layer(name))
            metrics[f"{self.layer(name)}.wall_s"] = span.end - span.start
            metrics[f"{self.layer(name)}.jobs"] = status.totals([f"trace.{name}"])["jobs"]
        metrics["streaming.twins.persisted_rdds_end"] = float(
            sum(self.persisted_after.get(name, 0) for name in self.TWINS)
        )
        return wall, metrics


WORKLOADS = {
    "cf_backfill": CfBackfill,
    "kinesis_rollup": KinesisRollup,
    "incremental_twins": IncrementalTwins,
}
