"""Checks of the benchmark's own logic; no Spark session is started.

Run with ``python -m pytest perfbench/tests -q`` from the repository root.
"""

from __future__ import annotations

import os
import sys
from types import SimpleNamespace

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from monitor import Tracer, parse_metric  # noqa: E402
from stats import MIN_BEYOND, TooFewSamples, end_to_end, percentile  # noqa: E402
from verify import fingerprint  # noqa: E402
from workloads import IngestWorkload, Op, QueryWorkload, check_fingerprint, make_rng, run_ops  # noqa: E402

ROWS = {"a": [(1, "x"), (2, "y")], "b": [(3, 1.5)], "c": [(4, None)]}


def _ctx_with_oracles() -> SimpleNamespace:
    return SimpleNamespace(expected={k: fingerprint(["k", "v"], v) for k, v in ROWS.items()})


def test_planted_wrong_result_is_counted_as_failed():
    ctx = _ctx_with_oracles()
    ops = [Op("query", n) for n in ("a", "b", "c")]

    def execute(op, idx):
        rows = ROWS[op.name]
        if op.name == "b":
            rows = [(3, 1.5000000000000002)]  # planted: last-bit float error
        return fingerprint(["k", "v"], rows)

    records = run_ops(ops, execute, lambda op, res: check_fingerprint(ctx, op.name, res), Tracer())
    assert [r.ok for r in records] == [True, False, True]
    assert "b:" in records[1].error
    # The failed op stays in the workload: it is timed and reported.
    assert len(records) == 3 and all(r.latency_s >= 0 for r in records)


def test_op_that_raises_is_counted_as_failed_and_the_loop_goes_on():
    def execute(op, idx):
        if op.name == "boom":
            raise RuntimeError("planted")
        return None

    ops = [Op("query", "boom"), Op("query", "fine")]
    records = run_ops(ops, execute, lambda op, res: None, Tracer())
    assert [r.ok for r in records] == [False, True]
    assert records[0].error.startswith("RuntimeError: planted")


def test_rows_only_op_is_checked_against_its_first_result():
    ctx = SimpleNamespace(expected={})
    first = fingerprint(["n"], [(1,), (2,)])
    assert check_fingerprint(ctx, "rows_only", first) is None
    assert check_fingerprint(ctx, "rows_only", fingerprint(["n"], [(2,), (1,)])) is None
    assert check_fingerprint(ctx, "rows_only", fingerprint(["n"], [(1,)])) is not None


def test_fingerprint_ignores_row_and_column_order_but_not_values():
    a = fingerprint(["x", "y"], [(1, "p"), (2, "q")])
    assert a == fingerprint(["y", "x"], [("q", 2), ("p", 1)])
    assert a != fingerprint(["x", "y"], [(1, "p"), (2, "r")])
    assert a != fingerprint(["x", "y"], [(1, "p"), (2, "q"), (2, "q")])


def test_percentile_is_refused_with_fewer_than_ten_samples_beyond_it():
    with pytest.raises(TooFewSamples):
        percentile([float(i) for i in range(99)], 0.9)
    values = [float(i) for i in range(100)]
    assert percentile(values, 0.9) == 89.0
    assert len([v for v in values if v > 89.0]) == MIN_BEYOND


def test_end_to_end_rates_use_op_busy_time():
    from stats import OpRecord

    recs = [OpRecord("a", 1.0, 100, True), OpRecord("b", 3.0, 300, True)]
    m = end_to_end([recs])
    assert m == {"ops_per_s": 0.5, "op_p50_s": 2.0, "rows_per_s": 100.0}


def test_end_to_end_takes_the_median_over_passes():
    from stats import OpRecord

    def one_pass(scale):
        return [OpRecord("a", 1.0 * scale, 100, True), OpRecord("b", 3.0 * scale, 300, True)]

    # One pass slowed tenfold by an outside process leaves the figures as
    # they are on the other two.
    m = end_to_end([one_pass(1.0), one_pass(10.0), one_pass(1.0)])
    assert m == {"ops_per_s": 0.5, "op_p50_s": 2.0, "rows_per_s": 100.0}


def test_same_seed_gives_the_same_query_sequence():
    wl = QueryWorkload("interactive_sf0.01", "sf0.01", [])
    wl.ops = [Op("query", f"q{i}") for i in range(10)]

    def passes(seed):
        rng = make_rng(wl.name, seed)
        return [[op.name for op in wl.plan(rng)] for _ in range(3)]

    assert passes(7) == passes(7)
    assert passes(7) != passes(8)
    # Every pass runs the whole pool once.
    assert all(sorted(p) == sorted(op.name for op in wl.ops) for p in passes(7))


def test_same_seed_gives_the_same_ingest_batches():
    wl = IngestWorkload()
    wl.n_events = 100_000

    def plan(seed):
        return [(op.kind, op.args) for op in wl.plan(make_rng(wl.name, seed))]

    assert plan(3) == plan(3)
    assert plan(3) != plan(4)
    ops = wl.plan(make_rng(wl.name, 3))
    appends = [op.args for op in ops if op.kind == "append"]
    # Batches tile the event ids exactly once, in order.
    assert appends[0][1] == 0 and appends[-1][2] == wl.n_events
    assert all(a[2] == b[1] for a, b in zip(appends, appends[1:]))
    first_append = next(i for i, op in enumerate(ops) if op.kind == "append")
    first_read = next(i for i, op in enumerate(ops) if op.kind == "read")
    assert first_read > first_append
    assert [op.kind for op in ops].count("compact") == 1


def test_sql_metric_strings_parse_to_base_units():
    assert parse_metric("785 ms") == pytest.approx(0.785)
    assert parse_metric("1.2 s") == pytest.approx(1.2)
    assert parse_metric("62.8 KiB") == pytest.approx(62.8 * 1024)
    assert parse_metric("60,000") == 60000
    assert parse_metric("total (min, med, max (stageId: taskId))\n3.0 s (1 ms, 2 ms, 3 ms)") == 3.0


def test_self_time_subtracts_direct_children():
    tr = Tracer(enabled=True)
    with tr.span("op", op=0):
        with tr.span("driver.collect", op=0):
            pass
    s = tr.self_times()
    op, child = tr.spans
    assert child.parent == 0
    assert s["op"] == pytest.approx((op.end - op.start) - (child.end - child.start))
