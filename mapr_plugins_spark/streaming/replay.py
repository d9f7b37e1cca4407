"""Stream replay + run-to-completion utilities.

The reference's streaming surface is a micro-batch DStream fed by a
Kafka-API direct stream (``MapRStreamingSource.java:88-93``). The
engine's equivalent is Structured Streaming; for deterministic tests the
``events`` table is replayed through the file stream source (same
micro-batch execution path as Kafka, minus the broker).

``run_available_now`` executes a streaming DataFrame to the end of
available input (Trigger.AvailableNow — the bounded-reprocess trigger)
into a memory sink and returns the result as a batch DataFrame, so
streaming queries can participate in the oracle-differential gate.
``run_delta_log`` is its ``foreachBatch`` twin for keys whose state is
a fold over per-batch deltas.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import uuid
from collections.abc import Callable
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapr_plugins_spark.session import pin_runtime_conf, scratch_dir

#: Advisory bytes of staged (compressed parquet) replay input per
#: streaming state partition — the streaming twin of AQE's
#: ``advisoryPartitionSizeInBytes``, which cannot act here because
#: adaptive execution is disabled under Structured Streaming, so every
#: stateful shuffle otherwise materializes one state-store instance
#: (task launch + Python worker round-trip + state commit, measured
#: ~75 ms each) per session shuffle partition PER MICRO-BATCH
#: regardless of data volume. Derivation: partitions =
#: clamp(ceil(source_bytes / advisory), 1, defaultParallelism).
#: 512 KiB is measured, not guessed (round-13 A/B at sf0.1, 5 stateful
#: keys, best-of-2 each: 32 parts 70.0 s → 8 parts 28.2 s → 4 parts
#: 21.7 s → 2 parts 32.9 s — fewer instances win until the Python fold
#: serializes).
_STATE_PARTITION_BYTES = 512 * 1024

#: Denser advisory for ENTITY-KEYED, ROW-PACED GroupState folds (state
#: key count ∝ entities in the data, Python fold work ∝ rows — e.g.
#: the per-user z-score and Markov twins): their binding resource is
#: Python-worker CPU across partitions, not state-store instance
#: overhead, so they want more partitions per staged byte than the
#: bounded-key sketch folds (whose state is a design constant and
#: whose per-partition overhead dominates). Both densities measured,
#: round-14 interleaved A/B at sf0.1: s22 12.0→8.0 s / s23 11.3→7.1 s
#: median at 64 KiB, while the bounded-key folds REGRESS there
#: (s26 6.1→11.2, s18 6.0→7.5, s17 4.1→4.8) — hence a per-operator
#: declaration, not a family-wide constant. Same clamp.
_ROW_FOLD_PARTITION_BYTES = 64 * 1024


def _path_bytes(path: str) -> int:
    """On-disk size of a staged stream source directory (or single
    file), following symlinks."""
    if os.path.isdir(path):
        return sum(
            os.stat(e.path).st_size
            for e in os.scandir(path)
            if e.is_file(follow_symlinks=True)
        )
    return os.path.getsize(path) if os.path.exists(path) else 0


def _source_bytes(stream_df: DataFrame) -> int:
    """Size of the largest file-source leaf of a streaming query's
    analyzed plan (a stream-stream join reads two; before analysis a
    bare ``readStream`` frame is an unresolved source); 0 when it reads
    no file source (e.g. the ``maprstream`` Python DataSource)."""
    leaves = stream_df._jdf.queryExecution().analyzed().collectLeaves().iterator()
    sizes = [0]
    while leaves.hasNext():
        leaf = leaves.next()
        if leaf.nodeName() == "StreamingRelation":
            path = leaf.dataSource().options().get("path")
            if path.isDefined():
                sizes.append(_path_bytes(path.get()))
    return max(sizes)


def _state_partitions(
    spark: SparkSession, source_bytes: int, row_paced_fold: bool = False
) -> int:
    """Streaming state-partition count for ``source_bytes`` of input
    (see ``_STATE_PARTITION_BYTES``; ``_ROW_FOLD_PARTITION_BYTES`` when
    the operator declares its fold row-paced). Falls back to the
    session's default parallelism when the size is unknown."""
    par = spark.sparkContext.defaultParallelism
    if source_bytes <= 0:
        return par
    target = _ROW_FOLD_PARTITION_BYTES if row_paced_fold else _STATE_PARTITION_BYTES
    return max(1, min(-(-source_bytes // target), par))


def _stream_dir(sf_dir: str, name: str) -> str:
    """The file stream source requires a *directory*; the test tables are
    single read-only files. Stage a per-table symlink directory under
    the scratch root (idempotent, content untouched)."""
    key = hashlib.md5(f"{sf_dir}/{name}".encode()).hexdigest()[:12]
    d = scratch_dir("stream", key)
    os.makedirs(d, exist_ok=True)
    link = f"{d}/{name}.parquet"
    if not os.path.lexists(link):
        os.symlink(f"{sf_dir}/{name}.parquet", link)
    return d


def as_event_time(df: DataFrame, col: str) -> DataFrame:
    """Convert a TIMESTAMP_NTZ column to a TIMESTAMP (instant) suitable
    for watermarks/window buckets, anchoring the naive wall time at UTC
    **independently of the session timezone**: wall-clock micros via
    NTZ-to-NTZ ``timestampdiff`` (pure calendar arithmetic, no zone),
    then ``timestamp_micros`` (absolute epoch, no zone). Watermarks
    reject NTZ ([EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE]); a plain cast
    would shift by the session offset."""
    epoch_us = F.expr(
        f"timestampdiff(MICROSECOND, TIMESTAMP_NTZ'1970-01-01 00:00:00', {col})"
    )
    return df.withColumn(col, F.timestamp_micros(epoch_us))


def events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``events`` replayed as a stream (schema-pinned file source, with
    the same physical-type normalization as the batch catalog: shipped
    data is timestamp[us] → TIMESTAMP_NTZ pass-through; a LONG-nanos
    read would get the nanos→micros conversion)."""
    pin_runtime_conf(spark)
    from pyspark.sql.types import LongType, TimestampType

    batch_schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    src = _stream_dir(sf_dir, "events")
    raw = spark.readStream.schema(batch_schema).parquet(src)
    ts_type = batch_schema["ts"].dataType
    if isinstance(ts_type, LongType):
        raw = raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif isinstance(ts_type, TimestampType):
        raw = raw.withColumn("ts", F.expr("to_timestamp_ntz(ts)"))
    return raw


def events_stream_chunked(spark: SparkSession, sf_dir: str, n_chunks: int = 4) -> DataFrame:
    """``events`` replayed as ``n_chunks`` REAL incremental micro-batches:
    the table is staged once into n parquet chunk files (event_id mod n,
    ts pinned to UTC-wall NTZ) and streamed with maxFilesPerTrigger=1.

    Downstream folds must be order-independent (e.g. last-writer-wins by
    (ts, event_id)) — the file source picks files by modification time,
    which we set ascending, but correctness should not depend on it."""
    pin_runtime_conf(spark)
    key = hashlib.md5(f"{sf_dir}/events/chunks{n_chunks}".encode()).hexdigest()[:12]
    d = scratch_dir("stream", key)
    staged = f"{d}/_STAGED"
    if not os.path.exists(staged):
        os.makedirs(d, exist_ok=True)
        import glob as _glob

        from mapr_plugins_spark.catalog import table

        # catalog.table yields ts as TIMESTAMP_NTZ (naive wall time),
        # which Spark writes back as parquet timestamp[us]. Each chunk
        # is staged by a Spark write — no driver-side toPandas
        # materialization, so the stager itself scales with the table.
        ev = table(spark, sf_dir, "events")
        for i in range(n_chunks):
            tmp = f"{d}/_tmp{i}"
            (
                ev.filter(F.col("event_id") % n_chunks == i)
                .coalesce(1)
                .write.mode("overwrite")
                .parquet(tmp)
            )
            part = _glob.glob(f"{tmp}/part-*.parquet")[0]
            os.replace(part, f"{d}/chunk{i}.parquet")
            shutil.rmtree(tmp)
            os.utime(f"{d}/chunk{i}.parquet", (1_700_000_000 + i, 1_700_000_000 + i))
        with open(staged, "w") as f:
            f.write("ok")
    schema = spark.read.parquet(f"{d}/chunk0.parquet").schema
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(d)
    )


def df_stream_chunked(
    df: DataFrame, cache_key: str, order_col: str, n_chunks: int = 4
) -> DataFrame:
    """Replay an arbitrary DataFrame as ``n_chunks`` REAL incremental
    micro-batches: staged once into contiguous chunks along
    ``order_col`` (wave i = the i-th ntile — "arrival order" follows
    the key), mtimes ascending, streamed with maxFilesPerTrigger=1.
    Same contract as :func:`events_stream_chunked`: downstream folds
    must be order-independent; the staging global sort is test-harness
    scoped."""
    import glob as _glob

    from pyspark.sql import Window

    spark = df.sparkSession
    pin_runtime_conf(spark)
    key = hashlib.md5(f"{cache_key}/chunks{n_chunks}".encode()).hexdigest()[:12]
    d = scratch_dir("stream", key)
    staged = f"{d}/_STAGED"
    if not os.path.exists(staged):
        os.makedirs(d, exist_ok=True)
        chunked = df.withColumn(
            "__chunk", F.ntile(n_chunks).over(Window.orderBy(order_col))
        )
        for i in range(n_chunks):
            tmp = f"{d}/_tmp{i}"
            (
                chunked.filter(F.col("__chunk") == i + 1)
                .drop("__chunk")
                .coalesce(1)
                .write.mode("overwrite")
                .parquet(tmp)
            )
            part = _glob.glob(f"{tmp}/part-*.parquet")[0]
            os.replace(part, f"{d}/chunk{i}.parquet")
            shutil.rmtree(tmp)
            os.utime(f"{d}/chunk{i}.parquet", (1_700_000_000 + i, 1_700_000_000 + i))
        with open(staged, "w") as f:
            f.write("ok")
    schema = spark.read.parquet(f"{d}/chunk0.parquet").schema
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(d)
    )


@contextmanager
def pinned_state_partitions(stream_df: DataFrame, row_paced_fold: bool = False):
    """Pin ``spark.sql.shuffle.partitions`` to the state-partition count
    derived from ``stream_df``'s own file sources for the duration of
    its run; restore the caller's value after."""
    spark = stream_df.sparkSession
    key = "spark.sql.shuffle.partitions"
    old = spark.conf.get(key)
    n = _state_partitions(spark, _source_bytes(stream_df), row_paced_fold)
    spark.conf.set(key, str(n))
    try:
        yield
    finally:
        spark.conf.set(key, old)


def run_available_now(
    stream_df: DataFrame,
    output_mode: str = "complete",
    row_paced_fold: bool = False,
) -> DataFrame:
    """Run a streaming DataFrame to completion into a memory sink;
    return the sink contents as a batch DataFrame.

    Streaming disables AQE, so the state store materializes EVERY
    shuffle partition; on a host session left at the 200 default that is
    ~200 state-store instances per stateful op for test-sized data. Pin
    the partition count to one derived from the query's source bytes
    (see ``_STATE_PARTITION_BYTES``), restore after — results are
    partitioning-independent, only the state layout changes.
    ``row_paced_fold=True`` declares the query's stateful fold
    entity-keyed and row-paced (see ``_ROW_FOLD_PARTITION_BYTES``).
    """
    spark = stream_df.sparkSession
    with pinned_state_partitions(stream_df, row_paced_fold):
        name = f"snap_{uuid.uuid4().hex[:12]}"
        q = (
            stream_df.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.table(name)


def delta_log_writer(
    run: str, delta: Callable[[DataFrame], DataFrame]
) -> Callable[[DataFrame, int], None]:
    """The ``foreachBatch`` body of :func:`run_delta_log`: write
    ``delta(batch)`` to ``<run>/deltas/batch_id=<id>`` with mode
    overwrite, so a replayed batch id replaces its own delta and never
    doubles it."""

    def write(batch: DataFrame, batch_id: int) -> None:
        delta(batch).write.mode("overwrite").parquet(f"{run}/deltas/batch_id={batch_id}")

    return write


def read_delta_log(spark: SparkSession, run: str) -> DataFrame:
    """Every delta of ``run`` (with its ``batch_id``), materialized so
    the result outlives the run directory."""
    return spark.read.parquet(f"{run}/deltas").localCheckpoint()


def run_delta_log(
    stream_df: DataFrame, delta: Callable[[DataFrame], DataFrame], name: str
) -> DataFrame:
    """Run a stream to completion under ``foreachBatch``, logging each
    micro-batch's ``delta(batch)``, and return the delta log as a batch
    DataFrame. No batch reads an earlier one: a key's state is its
    associative, commutative fold over the log, so arrival order and
    batch boundaries cannot change it, and a replayed batch id
    overwrites its own delta. The per-run directory (deltas + stream
    checkpoint) is removed before returning. Sized like
    :func:`run_available_now`."""
    spark = stream_df.sparkSession
    run = scratch_dir("run", f"{name}-{uuid.uuid4().hex[:12]}")
    write = delta_log_writer(run, delta)
    applied: set[int] = set()

    def apply_batch(batch: DataFrame, batch_id: int) -> None:
        write(batch, batch_id)
        applied.add(batch_id)

    try:
        with pinned_state_partitions(stream_df):
            q = (
                stream_df.writeStream.foreachBatch(apply_batch)
                .option("checkpointLocation", f"{run}/ckpt")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
        assert len(applied) >= 2, "expected multiple incremental micro-batches"
        return read_delta_log(spark, run)
    finally:
        shutil.rmtree(run, ignore_errors=True)
