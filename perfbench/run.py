#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. Reads its inputs from the fixture tables
under ``perfbench/fixtures``, sets up the engine, runs one warm-up pass
and then timed passes of the named workload, checks every op's output, and
prints one JSON object as the last line of standard output. With ``--trace 0``
its metrics are the end-to-end metrics; with ``--trace 1`` they are the
per-layer metrics, taken from a traced pass that alternates with an untraced
one so the tracing overhead can be reported.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
FIXTURES = os.path.join(HERE, "fixtures")
PACKAGE = os.path.join(ROOT, "eviction_lab_etl_spark")
# After the warm-up pass, pass time still drifts down by a few percent over
# the next passes (JIT tiers). The median over at least this many timed
# passes keeps that drift, and any one pass disturbed by another process, out
# of the figures.
MIN_TIMED_PASSES = 3


def _isolate(run_dir: str) -> None:
    """Keep every file the engine writes inside the run directory and pin
    the timezone the result checks assume."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["TZ"] = "UTC"
    time.tzset()
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    # The JVM's temp files go to the run directory; perf data would go to /tmp.
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # The inputs are megabytes; the engine's default 8g heap only makes the
    # run more likely to be killed on a shared machine.
    os.environ.setdefault("ELSPARK_DRIVER_MEMORY", "1g")
    os.environ["SPARK_SUBMIT_OPTS"] = f"{os.environ.get('SPARK_SUBMIT_OPTS', '')} {java_opts}".strip()


def _cores() -> int:
    return len(os.sched_getaffinity(0))


def run(workload_name: str, seed: int, seconds: float, trace: bool, run_dir: str) -> dict:
    import duckdb
    import pyarrow.parquet as pq

    from monitor import SparkHarvest, StreamListener, Tracer, vm_hwm_mib
    from stats import TooFewSamples, end_to_end, percentile
    from workloads import WORKLOADS, Context, make_rng, run_ops

    wl = WORKLOADS[workload_name]()
    data_dir = os.path.join(FIXTURES, wl.scale)
    # sf0.01 is the full fixture set; sf0.1 holds only the events table that
    # ingest reads. Every table present is registered.
    tables = sorted(f[: -len(".parquet")] for f in os.listdir(data_dir) if f.endswith(".parquet"))
    cores = _cores()
    tracer = Tracer(enabled=trace)

    with tracer.span("setup") as setup:
        with tracer.span("registry.load") as load_span:
            sys.path.insert(0, ROOT)
            from eviction_lab_etl_spark import registry

            registry.load_all_operators()
        with tracer.span("session.build") as build_span:
            from eviction_lab_etl_spark.session import build_session

            spark = build_session(
                app_name=f"perfbench-{workload_name}",
                master=f"local[{cores}]",
                shuffle_partitions=cores,
            )
        with tracer.span("inputs.register") as register_span:
            from eviction_lab_etl_spark.sources.loader import register_views

            register_views(spark, data_dir, tables)
    spark.sparkContext.setLogLevel("ERROR")
    jvm = spark.sparkContext._gateway.proc

    try:
        duck = duckdb.connect()
        for t in tables:
            duck.sql(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
        table_rows = {
            t: pq.ParquetFile(f"{data_dir}/{t}.parquet").metadata.num_rows for t in tables
        }
        ctx = Context(spark, registry, data_dir, run_dir, duck, table_rows, tracer)
        if trace:
            ctx.harvest = SparkHarvest(spark)
            ctx.listener = StreamListener()
            spark.streams.addListener(ctx.listener)
        t_prep = time.perf_counter()
        wl.prepare(ctx)
        t_prep = time.perf_counter() - t_prep
        rng = make_rng(workload_name, seed)
        cancel = spark.sparkContext.cancelAllJobs
        op_index = 0
        live_before = 0

        def after_op(op, idx) -> None:
            nonlocal live_before
            gc.collect()
            if tracer.enabled:
                ctx.harvest.harvest()
                live = ctx.harvest.persisted_rdds()
                ctx.count("pins.live_after_op", max(0, live - live_before))
                live_before = live

        def one_pass(label: str, traced: bool) -> tuple[list, float]:
            nonlocal op_index, live_before
            ops = wl.plan(rng)
            tracer.enabled = traced
            if traced:
                ctx.harvest.skip_to_now()
                live_before = ctx.harvest.persisted_rdds()
            t0 = time.perf_counter()
            wl.begin_pass(ctx, label)
            records = run_ops(
                ops,
                lambda op, i: wl.execute(ctx, op, i),
                lambda op, res: wl.check(ctx, op, res),
                tracer,
                cancel=cancel,
                after=after_op,
                first_index=op_index,
            )
            wall = time.perf_counter() - t0
            tracer.enabled = False
            # The pass's end-of-pass checks (and, traced, the write-amplification
            # figures) run outside its wall clock.
            wl.end_pass(ctx, records, traced)
            op_index += len(ops)
            return records, wall

        warm, warm_wall = one_pass("warm", False)
        timed_passes: list[list] = []
        traced_records: list = []
        walls: dict[bool, list[float]] = {False: [], True: []}
        busy = 0.0
        # Whole passes only, so every run measures the same op mix, until
        # the ops have been busy for --seconds. An untraced run times at
        # least MIN_TIMED_PASSES passes, so that the median over passes can
        # pass over one disturbed pass. A traced run alternates untraced and
        # traced passes, runs at least one traced pass and ends on an
        # untraced one: the untraced passes then bracket the traced ones, so
        # a steady drift in pass time cancels out of the overhead.
        while True:
            traced = trace and len(walls[False]) > len(walls[True])
            records, wall = one_pass(f"p{len(walls[False]) + len(walls[True])}", traced)
            walls[traced].append(wall)
            if traced:
                traced_records.extend(records)
            else:
                timed_passes.append(records)
            busy += sum(r.latency_s for r in records)
            if trace:
                enough = 0 < len(walls[True]) < len(walls[False])
            else:
                enough = len(walls[False]) >= MIN_TIMED_PASSES
            if busy >= seconds and enough:
                break

        rss_driver, rss_jvm = vm_hwm_mib(), vm_hwm_mib(jvm.pid)
    finally:
        spark.stop()
        # The JVM exits when its stdin closes; wait for it (and with it the
        # Python workers it forked) to end.
        jvm.stdin.close()
        try:
            jvm.wait(timeout=60)
        except subprocess.TimeoutExpired:
            jvm.kill()
            jvm.wait()

    timed = [r for records in timed_passes for r in records]
    every = warm + timed + traced_records
    failed = [r for r in every if not r.ok]
    for r in failed[:10]:
        print(f"FAILED {r.name}: {r.error}")
    e2e = end_to_end(timed_passes)
    lat = [r.latency_s for r in timed]
    try:
        tail_text = f"p90={percentile(lat, 0.9):.3f}s"
    except TooFewSamples as exc:
        tail_text = f"p90 refused ({exc})"
    print(
        f"{workload_name} seed={seed}: n={len(timed)} ops in {len(walls[False])} timed passes, "
        f"{tail_text}, failed_frac={len(failed) / len(every):.4f}, "
        f"peak RSS {rss_driver:.0f} MiB driver + {rss_jvm:.0f} MiB JVM; "
        f"wall: setup {setup.end - setup.start:.1f}s, checks prepared {t_prep:.1f}s, "
        f"warm-up {warm_wall:.1f}s, passes {'/'.join(f'{w:.1f}' for w in walls[False] + walls[True])}s"
    )

    units = {"setup_s": "s", "ops_per_s": "op/s", "op_p50_s": "s", "rows_per_s": "rows/s", "peak_rss_mb": "MiB"}
    if not trace:
        values = {**e2e, "setup_s": setup.end - setup.start, "peak_rss_mb": rss_driver + rss_jvm}
        metrics = {k: {"value": values[k], "unit": u} for k, u in units.items()}
    else:
        metrics = _per_layer(ctx, tracer, walls, cores, load_span, build_span, register_span)
        os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
        tracer.dump(os.path.join(WORK, "traces", f"{workload_name}-seed{seed}.json"))
    return {
        "correct": not failed,
        "attempted": len(every),
        "failed": len(failed),
        "metrics": metrics,
    }


PER_LAYER_UNITS = {
    "registry.load_s": "s",
    "session.build_s": "s",
    "inputs.register_s": "s",
    "operators.build_s": "s",
    "operators.eager_jobs": "count",
    "catalyst.plan_s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.stages_skipped_frac": "ratio",
    "exec.tasks": "count",
    "exec.task_attempts_per_task": "ratio",
    "exec.run_s": "s",
    "exec.executor_cpu_s": "s",
    "exec.gc_s": "s",
    "exec.core_busy_frac": "ratio",
    "sources.input_rows": "rows",
    "sources.input_bytes": "bytes",
    "sources.scan_s": "s",
    "shuffle.write_bytes": "bytes",
    "shuffle.read_bytes": "bytes",
    "shuffle.records_written": "count",
    "shuffle.fetch_wait_s": "s",
    "shuffle.spill_bytes": "bytes",
    "pins.cached_bytes_peak": "bytes",
    "pins.live_after_op": "count",
    "python.bytes_sent": "bytes",
    "python.bytes_returned": "bytes",
    "python.exec_s": "s",
    "driver.collect_s": "s",
    "driver.result_rows": "rows",
    "snapshot.append_s": "s",
    "snapshot.read_s": "s",
    "snapshot.compact_s": "s",
    "snapshot.files_written": "count",
    "snapshot.write_amp": "ratio",
    "streaming.batch_s": "s",
    "streaming.batches": "count",
    "trace.overhead_s": "s",
    "self_s.op": "s",
    "self_s.setup": "s",
}


def _per_layer(ctx, tracer, walls, cores, load_span, build_span, register_span) -> dict:
    spans: dict[str, float] = {}
    for s in tracer.spans:
        spans[s.name] = spans.get(s.name, 0.0) + (s.end - s.start)
    self_times = tracer.self_times()
    t = ctx.harvest.totals
    c = ctx.counters
    traced_wall = sum(walls[True])
    v = {
        "registry.load_s": load_span.end - load_span.start,
        "session.build_s": build_span.end - build_span.start,
        "inputs.register_s": register_span.end - register_span.start,
        "operators.build_s": spans.get("operators.build", 0.0),
        "operators.eager_jobs": c.get("operators.eager_jobs", 0.0),
        "catalyst.plan_s": spans.get("catalyst.plan", 0.0),
        "exec.stages_skipped_frac": t["exec.stages_skipped"] / max(1.0, t["exec.stages"]),
        "exec.task_attempts_per_task": t["exec.task_attempts"] / max(1.0, t["exec.tasks"]),
        "exec.core_busy_frac": t["exec.run_s"] / (traced_wall * cores),
        "pins.cached_bytes_peak": ctx.harvest.cached_peak,
        "pins.live_after_op": c.get("pins.live_after_op", 0.0),
        "driver.collect_s": spans.get("driver.collect", 0.0),
        "driver.result_rows": c.get("driver.result_rows", 0.0),
        "snapshot.append_s": spans.get("snapshot.append", 0.0),
        "snapshot.read_s": spans.get("snapshot.read", 0.0),
        "snapshot.compact_s": spans.get("snapshot.compact", 0.0),
        "snapshot.files_written": c.get("snapshot.files_written", 0.0),
        "snapshot.write_amp": c.get("snapshot.bytes_written", 0.0) / c["snapshot.compacted_bytes"]
        if c.get("snapshot.compacted_bytes")
        else 0.0,
        "streaming.batch_s": ctx.listener.batch_s,
        "streaming.batches": ctx.listener.batches,
        "trace.overhead_s": statistics.mean(walls[True]) - statistics.mean(walls[False]),
        "self_s.op": self_times.get("op", 0.0),
        "self_s.setup": self_times.get("setup", 0.0),
    }
    for key in PER_LAYER_UNITS:
        if key not in v:
            v[key] = t.get(key, 0.0)
    return {k: {"value": float(v[k]), "unit": u} for k, u in PER_LAYER_UNITS.items()}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(PACKAGE, "registry.py")):
        print(f"error: engine package not found at {PACKAGE}", file=sys.stderr)
        return 2
    sys.path.insert(0, HERE)
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"error: unknown workload {args.workload!r}; have {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    run_dir = os.path.join(WORK, f"run-{uuid.uuid4().hex[:12]}")
    os.makedirs(run_dir)
    try:
        _isolate(run_dir)
        result = run(args.workload, args.seed, args.seconds, bool(args.trace), run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
