"""The benchmark's workloads, each driving only the program's public
entry points: ``pipeline.parse_envelopes``, ``pipeline.start_stream_ingest``
(which commits through ``pipeline.write_batch``), entries of
``queries.REGISTRY`` and ``spark.read`` on the sink output.

A workload has four phases, and only ``op`` is timed:

- ``prepare``: write the seeded inputs (part of no metric);
- ``warm_up``: the untimed warm-up, counted in ``setup_s``;
- ``op``: one timed operation, repeated for the run's length. Every op
  writes to fresh sink and checkpoint directories;
- ``check`` / ``cleanup``: output checks and deletion, after the op.

With tracing on, ``op`` also sets job groups and records spans, and the
traced op's ``layers`` are filled from Spark's status tracker, SQL
status store and streaming progress, all read after the op ends.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil
import statistics
import time
from dataclasses import dataclass, field

import datagen
import probes

#: The payload record inside every envelope: the ``events`` row.
RECORD_DDL = (
    "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING, "
    "value DOUBLE, props STRING"
)

#: The ``query_mix`` entries at sf0.1: relational (percentiles),
#: LLM-data (BM25) and iterative (PageRank with ``localCheckpoint``).
#: Each takes at least 1.6 times as long at sf0.1 as at sf0.01, so the
#: pass measures data work and not only the per-job floor (METRICS.md).
QUERY_MIX = (
    "q36_percentiles",
    "text_bm25_topk",
    "graph_pagerank",
)

#: Metric names of the reference system's ingest telemetry; the traced
#: micro-batch op counts how many of them the listener never emits.
REFERENCE_METRIC_NAMES = (
    "ingestor_messages_received_total",
    "ingestor_flush_completed_total",
    "ingestor_flush_duration_ms",
    "ingestor_flush_bytes_total",
    "ingestor_source_buffer_usage",
    "ingestor_messages_dropped_total",
)


def median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def tail(xs) -> tuple[float, float]:
    """The highest percentile with at least ten samples beyond it, as
    (value, percentile). Needs at least 11 samples."""
    xs = sorted(xs)
    if len(xs) < 11:
        raise ValueError(f"{len(xs)} samples cannot leave 10 beyond a tail")
    k = len(xs) - 11
    return float(xs[k]), 100.0 * (k + 1) / len(xs)


@dataclass
class Op:
    """One timed operation and what was measured about it."""

    index: int
    traced: bool
    wall_s: float = 0.0
    values: dict = field(default_factory=dict)
    layers: dict = field(default_factory=dict)  # per-layer, traced ops only
    dirs: list = field(default_factory=list)


class Workload:
    name = ""

    def __init__(self, spark_factory, work: str, seed: int, tracer: probes.Tracer):
        self.spark_factory = spark_factory
        self.spark = None
        self.store = None
        self.work = work
        self.seed = seed
        self.tracer = tracer
        self.failures: list[str] = []
        self.attempted = 0

    def fresh_dir(self, *parts: str) -> str:
        path = os.path.join(self.work, *parts)
        shutil.rmtree(path, ignore_errors=True)
        return path

    def fail(self, what: str) -> None:
        self.failures.append(what)

    def start(self) -> None:
        self.spark = self.spark_factory()
        self.store = probes.SqlStore(self.spark)

    def job_group(self, op: Op, layer: str) -> str | None:
        """Tag a traced op's jobs for one layer with a job group."""
        if not op.traced:
            return None
        gid = f"perfbench-{op.index}-{layer}"
        self.spark.sparkContext.setJobGroup(gid, layer)
        return gid

    def _drain(self) -> None:
        """Wait until the listener bus has delivered every event so far
        to the status stores (it delivers asynchronously)."""
        self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(60_000)

    def mark(self) -> int:
        """The last SQL execution id so far; executions an op issues
        after the mark have larger ids (ops run one at a time)."""
        self._drain()
        return self.store.last_id()

    def executions_since(self, last_id: int) -> list[probes.SqlExecution]:
        """Completed SQL executions issued after ``last_id``."""
        self._drain()
        return self.store.since(last_id)

    def exec_spans(self, execs, parent: probes.Span, op: Op) -> None:
        for e in execs:
            self.tracer.add(
                f"sql.{e.id}", e.start, e.end, parent.id, op.index,
                description=e.description[:80],
            )

    def cleanup(self, op: Op) -> None:
        for d in op.dirs:
            shutil.rmtree(d, ignore_errors=True)

    def prepare(self) -> None: ...
    def warm_up(self) -> None: ...
    def op(self, op: Op) -> None: ...
    def check(self, op: Op) -> None: ...

    def traced_extras(self, ops: list[Op], info: dict) -> dict:
        """Per-layer measurements taken once, after every op of a traced
        run; notes for the summary line go to ``info``."""
        return {}

    def summary(self, ops: list[Op]) -> dict:
        """Workload figures for the summary line, from untraced ops."""
        return {}


# ================================================== streaming ingest


class Microbatch(Workload):
    """The streaming path: ``start_stream_ingest`` over a backlog of
    small pre-landed files, one file per trigger and no trigger
    interval, drained with ``processAllAvailable`` (a closed loop: the
    backlog exists at start, so the rate is the sustainable rate at this
    batch size), then two downstream reads of the sink."""

    name = "ingest_microbatch"
    files = 8
    per_file = 250
    #: The landing straddles midnight into 2024-01-15, one UTC hour per
    #: file, so the ``day = 15`` readback prunes about half the sink.
    readback_day = 15
    first_hour = 14 * 24 - files // 2
    #: Streams the warm-up drains: the JVM's per-op CPU falls for about
    #: two streams after start, then levels off (METRICS.md).
    warm_streams = 2

    def prepare(self) -> None:
        self.landing_dir = self.fresh_dir("landing")
        self.landing = datagen.land_envelopes(
            self.landing_dir, self.seed, self.files * self.per_file, self.files,
            self.first_hour, self.files,
        )

    def record_schema(self):
        from pyspark.sql.types import _parse_datatype_string

        return _parse_datatype_string(RECORD_DDL)

    def _stream(self, landing_dir: str, out: str):
        from parquet_ingestor_spark import pipeline

        cfg = pipeline.PipelineConfig(flush_interval="0 seconds", max_files_per_trigger=1)
        return pipeline.start_stream_ingest(
            self.spark, landing_dir, f"{out}/out", f"{out}/checkpoint",
            self.record_schema(), cfg,
        )

    def warm_up(self) -> None:
        """Drain the landing into ``warm_streams`` fresh sinks, the
        streams running side by side, and read one sink back."""
        sinks = [self.fresh_dir(f"sink_warm_{k}") for k in range(self.warm_streams)]
        streams = [self._stream(self.landing_dir, out) for out in sinks]
        for q in streams:
            q.processAllAvailable()
            q.stop()
        self._readback(f"{sinks[-1]}/out/data")
        for out in sinks:
            shutil.rmtree(out, ignore_errors=True)

    def _readback(self, data_dir: str):
        """A full aggregate and a ``day`` partition-pruned aggregate."""
        import pyspark.sql.functions as F

        df = self.spark.read.parquet(data_dir)
        agg = [F.count("*").alias("n"), F.sum("value").alias("v")]
        full = df.agg(*agg).collect()[0]
        day = df.filter(F.col("day") == self.readback_day).agg(*agg).collect()[0]
        return full["n"], day["n"]

    def op(self, op: Op) -> None:
        from parquet_ingestor_spark.observability import IngestMetricsListener

        out = self.fresh_dir(f"sink_{op.index}")
        op.dirs.append(out)
        listener = None
        if op.traced:
            listener = IngestMetricsListener()
            self.spark.streams.addListener(listener)
            last = self.mark()
        t0 = time.time()
        p0 = time.perf_counter()
        q = self._stream(self.landing_dir, out)
        q.processAllAvailable()
        drain = time.perf_counter() - p0
        progress = [p for p in q.recentProgress if p.numInputRows > 0]
        run_id = str(q.runId)
        q.stop()
        p1 = time.perf_counter()
        group = self.job_group(op, "sink_readback")
        if op.traced:
            read_last = self.mark()
        op.values["readback_rows"] = self._readback(f"{out}/out/data")
        p2 = time.perf_counter()
        op.values["readback_s"] = p2 - p1
        op.wall_s = drain + (p2 - p1)
        op.values["trigger_ms"] = [p.durationMs["triggerExecution"] for p in progress]
        if op.traced:
            stream_span = self.tracer.add(self.name, t0, t0 + drain, None, op.index)
            read_span = self.tracer.add(
                "sink_readback", t0 + (p1 - p0), t0 + (p2 - p0), None, op.index
            )
            stream_execs = [e for e in self.executions_since(last) if e.id <= read_last]
            read_execs = self.executions_since(read_last)
            self.exec_spans(read_execs, read_span, op)
            self._trace_stream(op, stream_span, stream_execs, progress)
            self._trace_readback(op, read_execs, p2 - p1)
            self._trace_session(op, stream_span, stream_execs, [run_id, group])
            self._observability(op, listener, len(progress))
        op.layers["ingest.envelopes_per_s"] = self.landing.envelopes / drain

    def _trace_stream(self, op: Op, span, execs, progress) -> None:
        """Trigger spans with their ``durationMs`` phases, the SQL
        executions inside each ``addBatch``, and the stream's layers."""
        starts, ends = [], []
        for p in progress:
            start = dt.datetime.fromisoformat(p.timestamp.replace("Z", "+00:00")).timestamp()
            d = p.durationMs
            trig = self.tracer.add(
                f"streaming.trigger.{p.batchId}", start,
                start + d["triggerExecution"] / 1e3, span.id, op.index,
            )
            starts.append(trig.start)
            ends.append(trig.end)
            at = start
            for phase in ("latestOffset", "walCommit", "getBatch", "queryPlanning",
                          "addBatch", "commitOffsets"):
                ms = d.get(phase, 0)
                ph = self.tracer.add(f"streaming.{phase}", at, at + ms / 1e3,
                                     trig.id, op.index)
                if phase == "addBatch":
                    self.exec_spans([e for e in execs if at <= e.start <= ph.end], ph, op)
                at = ph.end
        phase = {
            k: median(p.durationMs.get(k, 0) for p in progress)
            for k in ("latestOffset", "getBatch", "addBatch", "queryPlanning",
                      "walCommit", "commitOffsets", "triggerExecution")
        }
        scan = "Scan json"
        op.layers.update(_write_layers(execs))
        op.layers.update(
            {
                "sources.latest_offset_ms": phase["latestOffset"],
                "sources.get_batch_ms": phase["getBatch"],
                "sources.files_read": probes.metric_sum(execs, scan, "number of files read"),
                "sources.input_bytes": probes.metric_sum(execs, scan, "size of files read"),
                "streaming.batches": len(progress),
                "streaming.trigger_ms_p50": phase["triggerExecution"],
                "streaming.add_batch_ms": phase["addBatch"],
                "streaming.query_planning_ms": phase["queryPlanning"],
                "streaming.wal_commit_ms": phase["walCommit"],
                "streaming.commit_offsets_ms": phase["commitOffsets"],
                "streaming.trigger_gap_ms": median(
                    1e3 * (s - e) for s, e in zip(starts[1:], ends[:-1])
                ),
            }
        )

    def _trace_readback(self, op: Op, execs, seconds: float) -> None:
        scan = "Scan parquet"
        op.layers.update(
            {
                "sink_readback.s": seconds,
                "sink_readback.files_read": probes.metric_sum(
                    execs, scan, "number of files read"
                ),
                "sink_readback.partitions_read": probes.metric_sum(
                    execs, scan, "number of partitions read"
                ),
                "sink_readback.scan_time_ms": probes.metric_sum(execs, scan, "scan time"),
                "sink_readback.rows": probes.metric_sum(execs, scan, "number of output rows"),
            }
        )

    def _trace_session(self, op: Op, span, execs, groups) -> None:
        sc = self.spark.sparkContext
        counts = [probes.job_counts(sc, g) for g in groups]
        op.layers.update(
            {
                "session.jobs": sum(c[0] for c in counts),
                "session.stages": sum(c[1] for c in counts),
                "session.tasks": sum(c[2] for c in counts),
                # the stream's wall time not covered by any SQL execution
                "session.driver_self_ms": 1e3
                * (
                    (span.end - span.start)
                    - probes.covered([(e.start, e.end) for e in execs], span.start, span.end)
                ),
            }
        )

    def _observability(self, op: Op, listener, batches: int) -> None:
        """Cross-check the program's listener against what was landed."""
        self.spark.streams.removeListener(listener)
        deadline = time.time() + 30
        snap = listener.registry.snapshot()
        while snap.get("ingestor_flush_completed_total", 0) < batches and time.time() < deadline:
            time.sleep(0.1)  # progress events reach the listener asynchronously
            snap = listener.registry.snapshot()
        received = snap.get("ingestor_messages_received_total", 0)
        flushes = snap.get("ingestor_flush_completed_total", 0)
        self.attempted += 1
        if received != self.landing.envelopes or flushes != batches:
            self.fail(
                f"{self.name} op {op.index}: listener counted {received} messages "
                f"and {flushes} flushes; {self.landing.envelopes} landed in {batches} triggers"
            )
        missing = [n for n in REFERENCE_METRIC_NAMES if n not in snap]
        op.values["missing_metric_names"] = missing
        op.layers.update(
            {
                "observability.messages_received": received,
                "observability.flush_completed": flushes,
                "observability.missing_names": len(missing),
            }
        )

    def check(self, op: Op) -> None:
        """One trigger per file; sink rows = the generator's good count
        and DLQ rows = its malformed count; no duplicate event_id; every
        row in the hour partition of its ts; sum(value) equal; and the
        readback saw the same rows."""
        import pyspark.sql.functions as F

        self.attempted += 1
        out = f"{op.dirs[0]}/out"
        data = self.spark.read.parquet(f"{out}/data")
        misplaced = (
            (F.year("ts") != F.col("year"))
            | (F.month("ts") != F.col("month"))
            | (F.dayofmonth("ts") != F.col("day"))
            | (F.hour("ts") != F.col("hour"))
        )
        r = data.agg(
            F.count("*").alias("n"),
            F.countDistinct("event_id").alias("ids"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents"),
            F.sum(misplaced.cast("int")).alias("misplaced"),
            F.sum((F.col("day") == self.readback_day).cast("int")).alias("day_n"),
        ).collect()[0]
        land = self.landing
        want = {
            "triggers": self.files,
            "rows": land.good,
            "distinct event_id": land.good,
            "value cents": land.value_cents,
            "misplaced rows": 0,
            "dlq rows": land.malformed,
            "readback rows": (land.good, r["day_n"]),
        }
        got = {
            "triggers": len(op.values["trigger_ms"]),
            "rows": r["n"],
            "distinct event_id": r["ids"],
            "value cents": r["cents"],
            "misplaced rows": r["misplaced"] or 0,
            "dlq rows": self.spark.read.json(f"{out}/_dlq").count(),
            "readback rows": tuple(op.values["readback_rows"]),
        }
        bad = [f"{k}: got {got[k]}, want {want[k]}" for k in want if got[k] != want[k]]
        if bad:
            self.fail(f"{self.name} op {op.index}: " + "; ".join(bad))
        op.layers["ingest.stored_bytes_per_input_byte"] = (
            _stored_bytes(f"{out}/data", f"{out}/_dlq") / land.json_bytes
        )

    def summary(self, ops: list[Op]) -> dict:
        return {
            "envelopes_per_s": round(median(o.layers["ingest.envelopes_per_s"] for o in ops), 2),
            "stored_bytes_per_input_byte": round(
                median(o.layers["ingest.stored_bytes_per_input_byte"] for o in ops), 4
            ),
            "trigger_ms_p50": median(t for o in ops for t in o.values["trigger_ms"]),
            "readback_s": round(median(o.values["readback_s"] for o in ops), 3),
        }

    def traced_extras(self, ops: list[Op], info: dict) -> dict:
        """The trigger tail over every op's triggers (it needs 10 beyond
        it), and ``pipeline.parse.s``: ``parse_envelopes`` over the whole
        landing as one batch, good and bad rows into the ``noop`` sink."""
        from parquet_ingestor_spark import pipeline

        pooled = [t for o in ops for t in o.values["trigger_ms"]]
        trig_tail, pct = tail(pooled)
        info["trigger_tail"] = f"p{pct:.0f} of {len(pooled)} triggers"

        t0 = time.perf_counter()
        raw = self.spark.read.schema(pipeline.ENVELOPE_SCHEMA).json(self.landing_dir)
        good, bad = pipeline.parse_envelopes(raw, self.record_schema())
        good.write.format("noop").mode("overwrite").save()
        bad.write.format("noop").mode("overwrite").save()
        return {
            "pipeline.parse.s": time.perf_counter() - t0,
            "streaming.trigger_ms_tail": trig_tail,
        }


def _write_layers(execs) -> dict:
    """Roll the sink-write executions up into ``pipeline.write_batch``
    and the ``pipeline.parse`` row split."""
    cmd = "Execute InsertIntoHadoopFsRelationCommand"
    writes = [e for e in execs if (cmd, "number of written files") in e.metrics]
    data = [e for e in writes if "_dlq" not in e.plan]
    dlq = [e for e in writes if "_dlq" in e.plan]
    good = probes.metric_sum(data, cmd, "number of output rows")
    bad = probes.metric_sum(dlq, cmd, "number of output rows")
    data_files = probes.metric_sum(data, cmd, "number of written files")
    return {
        "pipeline.write_batch.data_write_s": sum(e.end - e.start for e in data),
        "pipeline.write_batch.dlq_write_s": sum(e.end - e.start for e in dlq),
        "pipeline.write_batch.files_written": probes.metric_sum(
            writes, cmd, "number of written files"
        ),
        "pipeline.write_batch.bytes_written": probes.metric_sum(writes, cmd, "written output"),
        "pipeline.write_batch.dynamic_partitions": probes.metric_sum(
            writes, cmd, "number of dynamic part"
        ),
        "pipeline.write_batch.task_commit_ms": probes.metric_sum(
            writes, cmd, "task commit time"
        ),
        "pipeline.write_batch.job_commit_ms": probes.metric_sum(writes, cmd, "job commit time"),
        "pipeline.write_batch.rows_per_file": good / data_files if data_files else 0.0,
        "pipeline.parse.rows_in": good + bad,
        "pipeline.parse.rows_good": good,
        "pipeline.parse.rows_dlq": bad,
        "pipeline.parse.good_ratio": good / (good + bad) if good + bad else 0.0,
    }


def _stored_bytes(*dirs: str) -> int:
    """Bytes of the data files under ``dirs`` (no ``_SUCCESS``/``.crc``)."""
    total = 0
    for d in dirs:
        for root, _, files in os.walk(d):
            total += sum(
                os.path.getsize(os.path.join(root, f))
                for f in files
                if not f.startswith((".", "_"))
            )
    return total


# ============================================================ query mix


class QueryMix(Workload):
    """Registry entries into the ``noop`` sink; the pipeline is never
    entered. The warm-up collects every entry's result, which
    ``oracle_check`` hash-compares with its DuckDB oracle after set-up
    is measured."""

    name = "query_mix"
    sf = 0.1

    def prepare(self) -> None:
        from parquet_ingestor_spark.queries import REGISTRY, all_queries

        self.sf_dir = self.fresh_dir("tables")
        datagen.write_tables(self.sf_dir, self.seed, self.sf)
        all_queries()  # imports every module that registers entries
        self.entries = {n: REGISTRY[n] for n in QUERY_MIX}

    def warm_up(self) -> None:
        """One pass that collects every entry's result, four entries at
        a time: a cold pass is mostly planning, code generation and JIT
        compilation, which overlap across threads."""
        from concurrent.futures import ThreadPoolExecutor

        def collect(q):
            try:
                return q.fn(self.spark, self.sf_dir).toPandas()
            except Exception as exc:  # noqa: BLE001 - reported as a failed check
                return exc

        with ThreadPoolExecutor(max_workers=4) as pool:
            self.results = dict(zip(self.entries, pool.map(collect, self.entries.values())))

    def oracle_check(self) -> None:
        """Canonicalize the warm-up's results as ``testing.spark_canon``
        does and hash-compare each with its DuckDB oracle (after set-up,
        before the timed ops)."""
        from parquet_ingestor_spark.testing import (
            canon_rows, diff_summary, duck_canon, duck_connect,
        )

        con = duck_connect(self.sf_dir)
        try:
            for name, q in self.entries.items():
                self.attempted += 1
                pdf = self.results.pop(name)
                if isinstance(pdf, Exception):
                    self.fail(f"{name}: {type(pdf).__name__}: {pdf}")
                    continue
                got = canon_rows(
                    [str(c) for c in pdf.columns],
                    list(pdf.itertuples(index=False, name=None)),
                )
                want = duck_canon(con, q.oracle)
                if got != want:
                    self.fail(f"{name}: oracle mismatch {diff_summary(got, want)}")
        finally:
            con.close()

    def op(self, op: Op) -> None:
        marks = []
        p0 = time.perf_counter()
        for name, q in self.entries.items():
            last = self.mark() if op.traced else None
            group = self.job_group(op, f"queries.{name}")
            t0 = time.time()
            e0 = time.perf_counter()
            self.attempted += 1
            try:
                q.fn(self.spark, self.sf_dir).write.format("noop").mode("overwrite").save()
            except Exception as exc:  # noqa: BLE001 - reported as a failed op
                self.fail(f"{name} op {op.index}: {type(exc).__name__}: {exc}")
            marks.append((name, group, last, t0, t0 + time.perf_counter() - e0))
        op.wall_s = time.perf_counter() - p0
        if op.traced:
            self._trace(op, marks)

    def _trace(self, op: Op, marks) -> None:
        sc = self.spark.sparkContext
        persisted = probes.persisted_rdds(self.spark)  # after graph_pagerank, the last entry
        everything = self.executions_since(marks[0][2])
        self_ms, totals = 0.0, [0, 0, 0]
        for i, (name, group, last, t0, t1) in enumerate(marks):
            span = self.tracer.add(f"queries.{name}", t0, t1, None, op.index)
            upto = marks[i + 1][2] if i + 1 < len(marks) else float("inf")
            execs = [e for e in everything if last < e.id <= upto]
            self.exec_spans(execs, span, op)
            self_ms += 1e3 * self.tracer.self_time(span)
            counts = probes.job_counts(sc, group)
            totals = [a + b for a, b in zip(totals, counts)]
            op.layers.update(
                {
                    f"queries.{name}.s": t1 - t0,
                    f"queries.{name}.sql_executions": len(execs),
                    f"queries.{name}.jobs": counts[0],
                    f"queries.{name}.stages": counts[1],
                }
            )
        op.layers.update(
            {
                "session.jobs": totals[0],
                "session.stages": totals[1],
                "session.tasks": totals[2],
                "session.driver_self_ms": self_ms,
                "queries.shuffle_bytes_written": probes.metric_sum(
                    everything, "", "shuffle bytes written"
                ),
                "queries.shuffle_fetch_wait_ms": probes.metric_sum(
                    everything, "", "fetch wait time"
                ),
                "queries.scan_rows": probes.metric_sum(everything, "Scan ", "number of output rows"),
                "queries.scan_time_ms": probes.metric_sum(everything, "Scan ", "scan time"),
                "queries.broadcast_collect_ms": probes.metric_sum(
                    everything, "BroadcastExchange", "time to collect"
                ),
                "queries.python_eval_ms": probes.metric_sum(
                    everything, "", "time to run Python workers"
                ),
                "checkpointing.persisted_rdds": persisted,
            }
        )


WORKLOADS = {w.name: w for w in (Microbatch, QueryMix)}
