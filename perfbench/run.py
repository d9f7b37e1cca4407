"""Data-plane benchmark: batch and streaming ingest plus a query mix.

Run from the root of a checkout:

    python3 perfbench/run.py --workload ingest_batch --seed 1 --seconds 12 --trace 0

``--workload`` is ``ingest_batch`` or ``ingest_stream`` (see
``workloads.py`` and ``README.md``). ``--trace 0``
measures the end-to-end metrics; ``--trace 1`` runs the traced ledger
and reports the per-layer metrics instead. Human-readable lines go to
stderr; the last line of stdout is one JSON object::

    {"correct": true, "attempted": 33, "failed": 0,
     "metrics": {"wall_s": {"value": 19.2, "unit": "s"}, ...}}

Each run works in its own scratch root under ``.perfbench_scratch/``
and removes it when it ends; ``--trace 1`` also writes its spans to
``.perfbench_traces/``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import sys
import time
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

END_TO_END = (("setup_s", "s"), ("wall_s", "s"), ("rows_per_s", "1/s"),
              ("batch_latency_p50_ms", "ms"), ("batch_latency_p75_ms", "ms"))


def _prepare_env(ncpu: int, scratch: str) -> None:
    """Pin parallelism, keep temporary files inside the scratch root,
    and make the engine importable from any cwd, including in Python
    workers (they inherit ``PYTHONPATH`` and ``TMPDIR``)."""
    os.environ["SPARK_GRAFT_CPUS"] = str(ncpu)
    os.environ["TMPDIR"] = os.path.join(scratch, "tmp")
    os.makedirs(os.environ["TMPDIR"])
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "3g")
    paths = [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(paths))
    for p in (HERE, ROOT):
        if p not in sys.path:
            sys.path.insert(0, p)


def _stop_spark(spark) -> None:
    """Stop the session, then the JVM the gateway launched, and wait."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def _fill(measured: dict[str, tuple[float, str]], catalog) -> dict[str, dict]:
    """Every catalog metric in catalog order. A per-layer metric of a
    layer this workload does not run reports 0: the layer did no work."""
    out = {}
    for name, unit in catalog:
        value, _ = measured.get(name, (0.0, unit))
        out[name] = {"value": value, "unit": unit}
    return out


def measure(run, workload, args) -> None:
    """Set up, then run the timed loop or the traced ledger."""
    t0 = time.perf_counter()
    run.setup(workload.warmup)
    run.put_setup()
    t1 = time.perf_counter()
    if args.trace:
        workload.traced()
    else:
        workload.measure()
    starts = ", ".join(f"{x:.2f}" for x in run.setup_times["start"])
    run.log(f"set-up {t1 - t0:.1f} s (starts {starts}; warm-up "
            f"{run.setup_times['warmup']:.2f}), measure {time.perf_counter() - t1:.1f} s")
    if args.trace:
        traces = os.path.join(ROOT, ".perfbench_traces")
        os.makedirs(traces, exist_ok=True)
        run.spans.dump(
            os.path.join(traces, f"{args.workload}-seed{args.seed}.json"),
            metrics=run.result.metrics, setup=run.setup_times,
        )


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    ncpu = len(os.sched_getaffinity(0))
    scratch = os.path.join(
        ROOT, ".perfbench_scratch", f"{args.workload}-{args.seed}-{uuid.uuid4().hex[:8]}"
    )
    _prepare_env(ncpu, scratch)
    try:
        import workloads  # after the environment is pinned

        if args.workload not in workloads.WORKLOADS:
            ap.error(f"unknown workload {args.workload!r}; known: {sorted(workloads.WORKLOADS)}")
        run = workloads.Run(scratch, args.seed, args.seconds, ncpu, bool(args.trace))
        try:
            t0 = time.perf_counter()
            workload = workloads.WORKLOADS[args.workload](run)
            run.log(f"generate {time.perf_counter() - t0:.1f} s")
            measure(run, workload, args)
        finally:
            if run.spark is not None:
                _stop_spark(run.spark)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
        with contextlib.suppress(OSError):  # other runs may share the parent
            os.rmdir(os.path.dirname(scratch))

    r = run.result
    catalog = workloads.per_layer_metrics() if args.trace else END_TO_END
    metrics = _fill(r.metrics, catalog)
    for note in r.notes:
        print(note, file=sys.stderr)
    for name, m in metrics.items():
        if name in r.metrics:
            print(f"{args.workload:14s} {name:44s} {m['value']:16.6g} {m['unit']}", file=sys.stderr)
    print(f"{args.workload:14s} {'ops_failed_frac':44s} {r.failed / max(1, r.attempted):16.6g} "
          f"({r.failed}/{r.attempted})", file=sys.stderr)
    print(json.dumps({"correct": r.failed == 0 and r.attempted > 0, "attempted": r.attempted,
                      "failed": r.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    t0 = time.time()
    code = main()
    print(f"run took {time.time() - t0:.1f} s", file=sys.stderr)
    sys.exit(code)
