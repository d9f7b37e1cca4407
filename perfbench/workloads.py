"""The benchmark workloads: set-up, the timed closed loop, the output
checks, and the traced per-layer ledger.

Every workload is a closed loop run from one driver process at
``local[nproc]``: the next pipeline run or micro-batch starts only when
the previous one has finished, one query at a time.

* ``ingest_batch`` -- ``pipeline.run_batch`` over seeded ``json``,
  ``csv`` and ``grok`` payload files into ``write_document_table``.
* ``ingest_stream`` -- the ``maprstream`` Python DataSource ->
  ``parse_expr("json")`` -> filter/select -> ``encode_documents`` ->
  ``format("maprdoc")`` append inside ``foreachBatch``.
"""

from __future__ import annotations

import os
import sys
import time
from dataclasses import dataclass, field
from statistics import fmean as mean
from statistics import median

from pyspark.sql import functions as F

import checks
import gen
from harvest import BatchListener, Spans, execution_metrics, status_snapshot
from stats import percentile, self_times, tail_percentile

from mapr_plugins_spark.pipeline import PipelineSpec, _parse_batch, _transform, run_batch
from mapr_plugins_spark.session import get_session
from mapr_plugins_spark.sinks.document import encode_documents, write_document_table
from mapr_plugins_spark.sources import pyds
from mapr_plugins_spark.sources.formats import parse_expr

#: Session starts per run; ``setup_s`` takes their median.
SETUP_REPEATS = 3

#: ingest_batch: rows of the fixed events content and its copies.
BATCH_BASE_ROWS = 50_000
BATCH_COPIES = 2
BATCH_WARMUP_PASSES = 2
#: Timings per prefix in the traced layer split (median taken).
PREFIX_REPEATS = 5

#: ingest_stream: rows and admission (rows per partition per micro-batch).
STREAM_ROWS_PER_PARTITION_BATCH = 250
STREAM_BATCHES = 24
#: Micro-batches of the warm-up stream; a new query's first few batches
#: run slower than its steady state.
STREAM_WARMUP_BATCHES = 6

#: Pipeline stages shared by both ingest workloads (host filter/select).
FILTERS = ["event_type <> 'error'", "CAST(value AS DOUBLE) >= 5.0"]
BATCH_SELECT = [
    "CAST(event_id AS BIGINT) AS event_id",
    "ts",
    "CAST(user_id AS BIGINT) AS user_id",
    "event_type",
    "CAST(ROUND(CAST(value AS DOUBLE) * 100) AS BIGINT) AS value_cents",
    "CAST(k AS INT) AS k",
]
#: Record the ``maprstream`` source puts in each payload (pyds.read).
STREAM_SCHEMA = (
    "event_id BIGINT, event_type STRING, props STRING, ts_ms BIGINT, user_id BIGINT, value DOUBLE"
)
STREAM_SELECT = [
    "event_id",
    "ts_ms",
    "user_id",
    "event_type",
    "CAST(ROUND(value * 100) AS BIGINT) AS value_cents",
    "CAST(get_json_object(props, '$.k') AS INT) AS k",
]

#: Execution metrics of each workload's traced run, with units.
EXEC_UNITS = {"wall_s": "s", "jobs": "count", "stages": "count", "executor_run_s": "s",
              "shuffle_write_bytes": "bytes", "spill_bytes": "bytes", "driver_gap_s": "s"}
EXEC_FIELDS = tuple(EXEC_UNITS)
#: Micro-batch phases (``durationMs`` keys) the traced runs report.
STREAM_PHASES = ("addBatch", "latestOffset", "queryPlanning", "walCommit", "commitOffsets")


@dataclass
class Result:
    """What one run reports: end-to-end metrics, or per-layer ones."""

    attempted: int = 0
    failed: int = 0
    metrics: dict[str, tuple[float, str]] = field(default_factory=dict)
    notes: list[str] = field(default_factory=list)

    def put(self, name: str, value: float, unit: str) -> None:
        self.metrics[name] = (float(value), unit)

    def count(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.notes.append(f"FAILED: {what}")


class Run:
    """One benchmark run: its scratch root, session and seed."""

    def __init__(self, scratch: str, seed: int, seconds: float, ncpu: int, trace: bool):
        self.scratch = scratch
        self.seed = seed
        self.seconds = seconds
        self.ncpu = ncpu
        self.trace = trace
        self.spark = None
        self.spans = Spans()
        self.result = Result()

    def log(self, msg: str) -> None:
        print(msg, file=sys.stderr, flush=True)

    def path(self, *parts: str) -> str:
        return os.path.join(self.scratch, *parts)

    # -- set-up -------------------------------------------------------

    def start_session(self):
        conf = {
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.log.level": "ERROR",
            "spark.local.dir": self.path("spark-local"),
            "spark.sql.warehouse.dir": self.path("warehouse"),
            "spark.sql.shuffle.partitions": str(self.ncpu),
            # a heap fixed at its maximum keeps GC sizing out of run-to-run noise
            # -XX:-UsePerfData: no hsperfdata file outside the scratch root
            "spark.driver.extraJavaOptions": (
                f"-Xms{os.environ['SPARK_GRAFT_DRIVER_MEM']} -XX:-UsePerfData "
                f"-Djava.io.tmpdir={self.path('jvm-tmp')}"
            ),
            # keep every job and stage for the traced ledger
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        }
        return get_session("perfbench", master=f"local[{self.ncpu}]", extra_conf=conf)

    def setup(self, warmup) -> None:
        """Start the session ``SETUP_REPEATS`` times, each in a fresh
        SparkContext (the first also launches the JVM), registering the
        data sources each time; then warm up once. ``setup_s`` is the
        median start plus the warm-up. A SparkContext restart also
        restarts the Python workers, so a warm-up per start would cost
        a cold warm-up each time."""
        os.makedirs(self.path("jvm-tmp"), exist_ok=True)
        start = []
        for _ in range(SETUP_REPEATS):
            if self.spark is not None:
                self.spark.stop()
            t0 = time.perf_counter()
            self.spark = self.start_session()
            pyds.register(self.spark)
            pyds.register_sink(self.spark)
            start.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        warmup()
        self.setup_times = {"start": start, "warmup": time.perf_counter() - t0}

    def put_setup(self) -> None:
        r = self.result
        start, warmup = median(self.setup_times["start"]), self.setup_times["warmup"]
        if self.trace:
            r.put("session.start_s", start, "s")
            r.put("session.warmup_s", warmup, "s")
        else:
            r.put("setup_s", start + warmup, "s")

    def put_latency(self, wall_s: float, rows: int, op_ms: list[float]) -> None:
        tail = tail_percentile(len(op_ms))
        self.log(f"{len(op_ms)} operations; highest percentile with 10 beyond it: "
                 f"{'none' if tail is None else f'p{tail}'}")
        r = self.result
        r.put("wall_s", wall_s, "s")
        r.put("rows_per_s", rows / wall_s, "1/s")
        r.put("batch_latency_p50_ms", percentile(op_ms, 50), "ms")
        r.put("batch_latency_p75_ms", percentile(op_ms, 75), "ms")

    def put_exec(self, spans: list[dict], jobs, stages) -> None:
        """Execution metrics of the workload's traced pass or stream,
        summed over its spans (disjoint, so every field adds up)."""
        per_span = [execution_metrics((sp["start"], sp["end"]), jobs, stages) for sp in spans]
        for f in EXEC_FIELDS:
            self.result.put(f"exec.{f}", sum(m[f] for m in per_span), EXEC_UNITS[f])

    def put_overhead(self, untraced_s: float, traced_s: float, accounted_s: float) -> None:
        r = self.result
        r.put("trace.untraced_wall_s", untraced_s, "s")
        r.put("trace.traced_wall_s", traced_s, "s")
        r.put("trace.overhead_frac", traced_s / untraced_s - 1.0, "ratio")
        r.put("ledger.accounted_frac", accounted_s / untraced_s, "ratio")


# ---------------------------------------------------------------------------
# ingest_batch


def batch_spec(fmt: str, table_path: str) -> PipelineSpec:
    source = {"topics": "events", "format": fmt}
    if fmt == "grok":
        source["grokPattern"] = gen.GROK_PATTERN
    else:
        source["schema"] = gen.PAYLOAD_SCHEMA
    return PipelineSpec.from_properties(
        source, {"tableName": table_path, "key": "event_id"},
        filters=FILTERS, select=BATCH_SELECT,
    )


def _raw_payloads(spark, input_path: str):
    """The source read of ``pipeline.run_batch``: payload lines as binary."""
    return spark.read.text(input_path).select(F.col("value").cast("binary").alias("value"))


class IngestBatch:
    name = "ingest_batch"

    def __init__(self, run: Run):
        self.run = run
        events = gen.events_copies(BATCH_BASE_ROWS, BATCH_COPIES, run.seed)
        self.rows = events.num_rows
        self.inputs = gen.render_payloads(events, run.path("in"))
        events_path = run.path("in", "events.parquet")
        checks.write_parquet(events, events_path)
        self.expected = checks.expected_batch_docs(events_path)
        self.order = list(gen.FORMATS)

    def warmup(self) -> None:
        """Untimed passes over the inputs: with every core running tasks,
        the JIT needs about two passes to compile the per-row paths."""
        for i in range(BATCH_WARMUP_PASSES):
            for fmt in self.order:
                out = self.run.path("warm-out", f"{i}-{fmt}")
                run_batch(self.run.spark, batch_spec(fmt, out), self.inputs[fmt])

    def one_pass(self, tag: str, op_ms: list[float], check: bool, traced: bool = False) -> float:
        """Run every format once; returns the pass time, which leaves out
        the output checks run between the pipeline runs. ``traced`` keeps
        a span per pipeline run."""
        run = self.run
        wall = 0.0
        for fmt in self.order:
            out = run.path("out", tag, fmt)
            t = time.perf_counter()
            if traced:
                with run.spans.span(f"{tag}.{fmt}", parent=tag):
                    counts = run_batch(run.spark, batch_spec(fmt, out), self.inputs[fmt])
            else:
                counts = run_batch(run.spark, batch_spec(fmt, out), self.inputs[fmt])
            dt = time.perf_counter() - t
            wall += dt
            op_ms.append(dt * 1000.0)
            ok = counts == {"rows_in": self.rows, "rows_out": self.expected[0]}
            if check:
                ok = ok and checks.doc_table_digest(out) == self.expected
            run.result.count(ok, f"ingest_batch {fmt} pass {tag}: {counts}")
        return wall

    def measure(self) -> None:
        run = self.run
        walls, op_ms = [], []
        deadline = time.perf_counter() + run.seconds
        while not walls or time.perf_counter() < deadline:
            walls.append(self.one_pass(f"p{len(walls)}", op_ms, check=True))
        run.log(f"pass walls {', '.join(f'{w:.2f}' for w in walls)}")
        run.log(f"op ms {', '.join(f'{w:.0f}' for w in op_ms)}")
        run.put_latency(median(walls), self.rows * len(self.order), op_ms)

    def prefix_chain(self, fmt: str, out: str):
        """The pipeline's stages as lazily built prefixes; prefix k ends
        after stage k. The last stage writes the document table."""
        spark = self.run.spark
        spec = batch_spec(fmt, out)
        raw = _raw_payloads(spark, self.inputs[fmt])
        parsed = _parse_batch(raw, spec)
        shaped = _transform(parsed, spec)
        encoded = encode_documents(shaped, "event_id")
        noop = lambda df: df.write.format("noop").mode("overwrite").save()  # noqa: E731
        return [
            ("read", lambda: noop(raw)),
            ("parse", lambda: noop(parsed)),
            ("transform", lambda: noop(shaped)),
            ("encode", lambda: noop(encoded)),
            ("write", lambda: write_document_table(shaped, out, "event_id")),
        ]

    def traced(self) -> None:
        run, r = self.run, self.run.result
        # alternate untraced and traced passes so both see the same warmth;
        # check every run as measure() does, so the runs keep the same gaps
        untraced, traced, op_ms = [], [], []
        for i in range(3):
            untraced.append(self.one_pass(f"u{i}", op_ms, check=True))
            traced.append(self.one_pass(f"t{i}", op_ms, check=True, traced=True))
        jobs, stages = status_snapshot(run.spark)
        run.put_exec([run.spans.get(f"t2.{fmt}") for fmt in self.order], jobs, stages)
        # prefix-differenced layer self times: median per prefix,
        # the prefixes interleaved so warm-up drift hits each alike
        read_total, accounted = 0.0, 0.0
        shuffle_bytes = 0
        for fmt in self.order:
            chain = self.prefix_chain(fmt, run.path("out", "prefix", fmt))
            times: dict[str, list[float]] = {stage: [] for stage, _ in chain}
            for rep in range(PREFIX_REPEATS):
                for stage, fn in chain:
                    with run.spans.span(f"{fmt}.{stage}.{rep}", parent=fmt) as sp:
                        fn()
                    times[stage].append(sp["end"] - sp["start"])
            prefix_s = [median(times[stage]) for stage, _ in chain]
            read, parse, transform, encode, write = self_times(prefix_s)
            read_total += read
            accounted += sum((read, parse, transform, encode, write))
            r.put(f"formats.parse_s.{fmt}", parse, "s")
            r.put(f"pipeline.transform_s.{fmt}", transform, "s")
            r.put(f"document.encode_s.{fmt}", encode, "s")
            r.put(f"document.write_s.{fmt}", write, "s")
        jobs, stages = status_snapshot(run.spark)
        for fmt in self.order:
            w = run.spans.get(f"{fmt}.write.{PREFIX_REPEATS - 1}")
            shuffle_bytes += execution_metrics((w["start"], w["end"]), jobs, stages)[
                "shuffle_write_bytes"
            ]
        r.put("formats.read_s", read_total, "s")
        r.put("document.shuffle_write_bytes", shuffle_bytes, "bytes")
        run.put_overhead(median(untraced), median(traced), accounted)


# ---------------------------------------------------------------------------
# ingest_stream


class IngestStream:
    name = "ingest_stream"

    def __init__(self, run: Run):
        self.run = run
        per_part = STREAM_ROWS_PER_PARTITION_BATCH * STREAM_BATCHES
        self.rows = per_part * run.ncpu
        events = gen.events_copies(self.rows, 1, run.seed)
        self.input = run.path("in", "stream.parquet")
        checks.write_parquet(events, self.input)
        self.expected = checks.expected_stream_docs(self.input)
        self.warm_input = run.path("warm-in", "stream.parquet")
        checks.write_parquet(
            gen.events_copies(
                STREAM_WARMUP_BATCHES * STREAM_ROWS_PER_PARTITION_BATCH * run.ncpu, 1, run.seed
            ),
            self.warm_input,
        )

    def source(self, path: str):
        return (
            self.run.spark.readStream.format("maprstream")
            .option("path", path)
            .option("topics", "events")
            .option("numPartitions", str(self.run.ncpu))
            .option("rowsPerBatch", str(STREAM_ROWS_PER_PARTITION_BATCH))
            .option("startingOffsets", "earliest")
            .load()
        )

    def pipeline(self, path: str):
        parsed = self.source(path).select(
            parse_expr("json", F.col("value"), STREAM_SCHEMA).alias("r")
        ).select("r.*")
        for pred in FILTERS:
            parsed = parsed.filter(F.expr(pred))
        return parsed.selectExpr(*STREAM_SELECT)

    def stream_once(self, path: str, tag: str, timed_calls: list | None = None):
        """Run the stream until every offset is delivered; returns
        ``(wall_s, progress list, output dir)``."""
        run = self.run
        out = run.path("out", tag)
        ck = run.path("ck", tag)

        def sink(batch_df, batch_id):
            t0 = time.perf_counter()
            docs = encode_documents(batch_df, "event_id")
            t1 = time.perf_counter()
            docs.write.format("maprdoc").mode("append").option("path", out).save()
            t2 = time.perf_counter()
            if timed_calls is not None:
                timed_calls.append(((t1 - t0) * 1000.0, (t2 - t1) * 1000.0))

        t0 = time.perf_counter()
        q = (
            self.pipeline(path).writeStream.foreachBatch(sink)
            .option("checkpointLocation", ck)
            .queryName(f"perfbench-{tag}")
            .trigger(processingTime="0 seconds")
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        wall = time.perf_counter() - t0
        progress = [p for p in q.recentProgress if p.numInputRows > 0]
        return wall, progress, out

    def warmup(self) -> None:
        self.stream_once(self.warm_input, "warm")

    def check(self, tag: str, progress, out: str) -> None:
        """Every offset delivered and every document written, once."""
        delivered = sum(p.numInputRows for p in progress)
        ok = delivered == self.rows and checks.doc_table_digest(out) == self.expected
        for _ in progress:
            self.run.result.count(ok, f"ingest_stream {tag}: delivered {delivered}/{self.rows}")
        if not progress:
            self.run.result.count(False, f"ingest_stream {tag}: no micro-batch ran")

    def measure(self) -> None:
        run = self.run
        walls, lat = [], []
        deadline = time.perf_counter() + run.seconds
        while not walls or time.perf_counter() < deadline:
            tag = f"s{len(walls)}"
            wall, progress, out = self.stream_once(self.input, tag)
            self.check(tag, progress, out)
            walls.append(wall)
            lat += [p.durationMs["triggerExecution"] for p in progress]
        run.log(f"micro-batch ms {', '.join(str(x) for x in lat)}")
        run.put_latency(median(walls), self.rows, lat)

    def traced(self) -> None:
        run, r = self.run, self.run.result
        untraced, progress, out = self.stream_once(self.input, "untraced")
        self.check("untraced", progress, out)
        listener = BatchListener()
        run.spark.streams.addListener(listener)
        calls: list[tuple[float, float]] = []
        with run.spans.span("stream") as sp:
            traced, progress, out = self.stream_once(self.input, "traced", calls)
        self.check("traced", progress, out)
        # source-only drain to noop at the same admission
        with run.spans.span("drain"):
            q = (
                self.source(self.input).writeStream.format("noop")
                .option("checkpointLocation", run.path("ck", "drain"))
                .queryName("perfbench-drain")
                .trigger(processingTime="0 seconds")
                .start()
            )
            try:
                q.processAllAvailable()
            finally:
                q.stop()
        drain = [p for p in q.recentProgress if p.numInputRows > 0]
        _await_batches(listener, "perfbench-traced", len(progress))
        run.spark.streams.removeListener(listener)
        batches = [b for b in listener.snapshot() if b["query"] == "perfbench-traced" and b["rows"]]
        # per-batch figures are means: they add up to the stream's total,
        # and durationMs is whole milliseconds, so its medians repeat
        for ph in STREAM_PHASES:
            r.put(f"stream.{ph}_ms", mean([b["duration_ms"].get(ph, 0) for b in batches]), "ms")
        r.put("stream.batches", len(batches), "count")
        r.put("maprstream.read_ms_per_batch", mean([p.durationMs["addBatch"] for p in drain]), "ms")
        r.put("maprdoc.encode_ms_per_batch", mean([c[0] for c in calls]), "ms")
        r.put("maprdoc.write_ms_per_batch", mean([c[1] for c in calls]), "ms")
        jobs, stages = status_snapshot(run.spark)
        run.put_exec([sp], jobs, stages)
        accounted = sum(b["duration_ms"]["triggerExecution"] for b in batches) / 1000.0
        run.put_overhead(untraced, traced, accounted)


def _await_batches(listener: BatchListener, query: str, n: int, timeout_s: float = 10.0) -> None:
    """Progress events reach Python listeners asynchronously; wait for
    the ``n`` batches ``query`` is known to have run."""
    deadline = time.monotonic() + timeout_s
    while time.monotonic() < deadline:
        if sum(1 for b in listener.snapshot() if b["query"] == query and b["rows"]) >= n:
            return
        time.sleep(0.05)
    raise RuntimeError(f"listener saw fewer than {n} batches of {query}")


WORKLOADS = {w.name: w for w in (IngestBatch, IngestStream)}


def per_layer_metrics() -> list[tuple[str, str]]:
    """Every per-layer metric a traced run reports, with its unit."""
    out = [("session.start_s", "s"), ("session.warmup_s", "s"), ("formats.read_s", "s")]
    for fmt in gen.FORMATS:
        out += [(f"formats.parse_s.{fmt}", "s"), (f"pipeline.transform_s.{fmt}", "s"),
                (f"document.encode_s.{fmt}", "s"), (f"document.write_s.{fmt}", "s")]
    out += [("document.shuffle_write_bytes", "bytes"),
            ("maprstream.read_ms_per_batch", "ms"), ("maprdoc.encode_ms_per_batch", "ms"),
            ("maprdoc.write_ms_per_batch", "ms")]
    out += [(f"stream.{ph}_ms", "ms") for ph in STREAM_PHASES] + [("stream.batches", "count")]
    out += [(f"exec.{f}", EXEC_UNITS[f]) for f in EXEC_FIELDS]
    out += [("trace.untraced_wall_s", "s"), ("trace.traced_wall_s", "s"),
            ("trace.overhead_frac", "ratio"), ("ledger.accounted_frac", "ratio")]
    return out
