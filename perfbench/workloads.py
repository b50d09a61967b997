"""The benchmark's workloads: what one pass runs, and how each op is checked.

A pass is a fixed multiset of ops in an order drawn from the run's seeded
generator, so every pass of every run does the same work and only the order
(and, in ingest, the batch boundaries) changes with the seed.
"""

from __future__ import annotations

import os
import re
import shutil
import threading
import zlib
from dataclasses import dataclass, field
from typing import Any, Callable

import numpy as np

from monitor import SparkHarvest, StreamListener, Tracer
from stats import OpRecord
from verify import Fingerprint, fingerprint, oracle_fingerprint

# An op still running after this long is cancelled and counted as failed.
OP_TIMEOUT_S = 60.0


@dataclass
class Op:
    kind: str
    name: str
    rows_in: int = 0
    args: tuple = ()


@dataclass
class Context:
    """Everything one run shares between its passes."""

    spark: Any
    registry: Any
    data_dir: str
    work_dir: str
    duck: Any
    table_rows: dict[str, int]
    tracer: Tracer
    harvest: SparkHarvest | None = None
    listener: StreamListener | None = None
    expected: dict[str, Fingerprint] = field(default_factory=dict)
    counters: dict[str, float] = field(default_factory=dict)

    def count(self, key: str, value: float) -> None:
        self.counters[key] = self.counters.get(key, 0.0) + value


def run_ops(
    ops: list[Op],
    execute: Callable[[Op, int], Any],
    check: Callable[[Op, Any], str | None],
    tracer: Tracer,
    cancel: Callable[[], None] = lambda: None,
    after: Callable[[Op, int], None] = lambda op, i: None,
    first_index: int = 0,
) -> list[OpRecord]:
    """Run ``ops`` in a closed loop: each op starts when the previous one and
    its check have finished. Only ``execute`` is timed; ``check`` returns
    None for a correct result or a reason, and an op that raises is failed."""
    records = []
    for k, op in enumerate(ops):
        idx = first_index + k
        watchdog = threading.Timer(OP_TIMEOUT_S, cancel)
        watchdog.start()
        result, error = None, None
        try:
            with tracer.span("op", op=idx) as span:
                try:
                    result = execute(op, idx)
                except Exception as exc:  # counted, and the workload goes on
                    error = f"{type(exc).__name__}: {str(exc)[:300]}"
        finally:
            watchdog.cancel()
        if error is None:
            error = check(op, result)
        records.append(OpRecord(op.name, span.end - span.start, op.rows_in, error is None, error))
        after(op, idx)
    return records


def make_rng(workload: str, seed: int) -> np.random.Generator:
    """The run's generator: it fixes the op order of every pass and, in
    ingest, the batch boundaries."""
    return np.random.default_rng([seed, zlib.crc32(workload.encode())])


class QueryWorkload:
    """Registered queries collected to the driver, each checked against its
    DuckDB oracle (row count plus order-insensitive value hash)."""

    def __init__(self, name: str, scale: str, pool: list[str]) -> None:
        self.name, self.scale, self.pool = name, scale, pool

    def prepare(self, ctx: Context) -> None:
        reg = ctx.registry
        self.ops = []
        for q in self.pool:
            # An op's input is every fixture table its oracle names.
            tables = {t for t in ctx.table_rows if re.search(rf"\b{t}\b", reg.ORACLES[q])}
            self.ops.append(Op("query", q, sum(ctx.table_rows[t] for t in tables), tuple(sorted(tables))))
            ctx.expected[q] = oracle_fingerprint(ctx.duck, reg.ORACLES[q])

    def plan(self, rng: np.random.Generator) -> list[Op]:
        return [self.ops[i] for i in rng.permutation(len(self.ops))]

    def begin_pass(self, ctx: Context, label: str) -> None:
        pass

    def end_pass(self, ctx: Context, records: list[OpRecord], traced: bool) -> None:
        pass

    def execute(self, ctx: Context, op: Op, idx: int):
        return run_query(ctx, op.name, idx)

    def check(self, ctx: Context, op: Op, result) -> str | None:
        return check_fingerprint(ctx, op.name, fingerprint(*result))


def run_query(ctx: Context, name: str, idx: int) -> tuple[list[str], list]:
    """Build one registered query and collect it; returns (columns, rows).
    In a traced pass the build and the run carry their own job group, and
    physical planning is forced before execution so that it is timed as its
    own span."""
    tr, sc = ctx.tracer, ctx.spark.sparkContext
    if tr.enabled:
        sc.setJobGroup(f"op{idx}.build", name)
    with tr.span("operators.build", idx):
        df = ctx.registry.QUERIES[name](ctx.spark, ctx.data_dir)
    if tr.enabled:
        with tr.span("catalyst.plan", idx):
            df._jdf.queryExecution().executedPlan()
        sc.setJobGroup(f"op{idx}.run", name)
    with tr.span("driver.collect", idx):
        rows = df.collect()
    if tr.enabled:
        sc.setLocalProperty("spark.jobGroup.id", None)
        ctx.count("operators.eager_jobs", len(ctx.harvest.job_ids(f"op{idx}.build")))
        ctx.count("driver.result_rows", len(rows))
        ctx.harvest.cached_bytes()
    return df.columns, rows


def check_fingerprint(ctx: Context, key: str, got: Fingerprint) -> str | None:
    """Compare with the oracle's fingerprint; a query without an oracle is
    compared with its first (warm-up) result."""
    want = ctx.expected.setdefault(key, got)
    if got != want:
        return f"{key}: got {got.describe()}, want {want.describe()}"
    return None


class IngestWorkload:
    """Appends of seeded event batches to one SnapshotTable per pass,
    interleaved with time-travel counts, one compaction and one streaming
    micro-batch run into a snapshot sink."""

    name = "snapshot_ingest"
    scale = "sf0.1"
    APPENDS = 6
    READS = 3

    def prepare(self, ctx: Context) -> None:
        self.n_events = ctx.table_rows["events"]
        self.events_fp = oracle_fingerprint(ctx.duck, "SELECT * FROM events")

    def plan(self, rng: np.random.Generator) -> list[Op]:
        # Batch sizes vary by up to a quarter around an even split, so each
        # seed moves the boundaries without changing the work much.
        n = self.n_events
        sizes = (n / self.APPENDS) * rng.uniform(0.75, 1.25, self.APPENDS)
        cuts = np.round(np.cumsum(sizes)[:-1] * n / sizes.sum()).astype(int)
        bounds = [0, *(int(c) for c in cuts), n]
        ops = [
            Op("append", "snapshot.append", hi - lo, (k, lo, hi))
            for k, (lo, hi) in enumerate(zip(bounds, bounds[1:]))
        ]
        # Reads go anywhere after the first append; the version each reads is
        # a seeded fraction of the versions committed by then.
        for _ in range(self.READS):
            ops.insert(int(rng.integers(1, len(ops) + 1)), Op("read", "snapshot.read", 0, (float(rng.random()),)))
        ops.insert(int(rng.integers(len(ops) // 2, len(ops) + 1)), Op("compact", "snapshot.compact"))
        ops.insert(int(rng.integers(0, len(ops) + 1)), Op("stream", "stream_snapshot_sink"))
        return ops

    def begin_pass(self, ctx: Context, label: str) -> None:
        from eviction_lab_etl_spark.sources.snapshot import SnapshotTable

        self.table = SnapshotTable(os.path.join(ctx.work_dir, f"table-{label}"))
        self.rows_at = [0]

    def execute(self, ctx: Context, op: Op, idx: int):
        from pyspark.sql import functions as F

        from eviction_lab_etl_spark.sources.loader import load

        tr, table = ctx.tracer, self.table
        if op.kind == "append":
            k, lo, hi = op.args
            df = load(ctx.spark, ctx.data_dir, "events").where(
                (F.col("event_id") >= lo) & (F.col("event_id") < hi)
            )
            with tr.span("snapshot.append", idx):
                version = table.append(df, txn=("batch_id", k))
            self.rows_at.append(self.rows_at[-1] + hi - lo)
            return version
        if op.kind == "read":
            version = 1 + int(op.args[0] * (len(self.rows_at) - 1))
            with tr.span("snapshot.read", idx):
                return version, table.read(ctx.spark, version=version).count()
        if op.kind == "compact":
            with tr.span("snapshot.compact", idx):
                version = table.compact(ctx.spark)
            self.rows_at.append(self.rows_at[-1])
            return version
        return run_query(ctx, "stream_snapshot_sink", idx)

    def check(self, ctx: Context, op: Op, result) -> str | None:
        if op.kind in ("append", "compact"):
            want = len(self.rows_at) - 1
            return None if result == want else f"{op.name} committed v{result}, want v{want}"
        if op.kind == "read":
            version, rows = result
            want = self.rows_at[version]
            return None if rows == want else f"read v{version}: {rows} rows, want {want}"
        return check_fingerprint(ctx, op.name, fingerprint(*result))

    def end_pass(self, ctx: Context, records: list[OpRecord], traced: bool) -> None:
        """The final version must hold exactly the union of the committed
        batches, which together are the whole events table. After a traced
        pass, one more compaction gives the size of a compacted copy, the
        denominator of ``snapshot.write_amp``."""
        table = self.table
        files = table.files()
        got = oracle_fingerprint(ctx.duck, f"SELECT * FROM read_parquet({files!r})")
        if got != self.events_fp:
            last = max(i for i, r in enumerate(records) if r.name == "snapshot.append")
            records[last].ok = False
            records[last].error = (
                f"final version holds {got.describe()}, committed batches {self.events_fp.describe()}"
            )
        if traced:
            data = os.path.join(table.root, "data")
            sizes = [
                os.path.getsize(os.path.join(d, f))
                for d, _, fs in os.walk(data)
                for f in fs
                if f.endswith(".parquet")
            ]
            compacted = table.files(table.compact(ctx.spark))
            ctx.count("snapshot.files_written", len(sizes))
            ctx.count("snapshot.bytes_written", sum(sizes))
            ctx.count("snapshot.compacted_bytes", sum(os.path.getsize(f) for f in compacted))
        shutil.rmtree(table.root, ignore_errors=True)


# The interactive pool: one hash-checked query from each relational family
# of the registry (agg, join, window, reshape, complex, events, ts, setop,
# sort, filter) and one from the udf family, a pandas UDF that runs in Python
# workers. One warm pass takes a few seconds on four cores.
INTERACTIVE_POOL = [
    "agg_sum_groupby",
    "join_broadcast_dims",
    "window_rank_topk",
    "reshape_pivot_wide",
    "complex_shipping_priority",
    "events_funnel",
    "ts_resample_ohlc",
    "setop_intersect",
    "sort_multi_topk",
    "filter_compound",
    "udf_pandas_scalar",
]

# Workload name -> factory; each run builds its own workload object.
WORKLOADS: dict[str, Callable[[], Any]] = {
    "interactive_sf0.01": lambda: QueryWorkload("interactive_sf0.01", "sf0.01", INTERACTIVE_POOL),
    "snapshot_ingest": IngestWorkload,
}
