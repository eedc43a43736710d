"""Tests for the benchmark's own logic (no Spark needed).

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys
from datetime import datetime, timezone
from types import SimpleNamespace

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))

from perfbench import gen, sparklog, stats  # noqa: E402
from perfbench.trace import Span, Tracer, layer_times, self_times  # noqa: E402

# -- span self-time arithmetic ---------------------------------------------


def test_self_time_subtracts_direct_children_only():
    spans = [
        Span("k", "sources.register_input", 2.0, 3.0),
        Span("k", "sources.write_parquet_single_file", 4.0, 7.0),
        Span("k", "plans.engine", 1.5, 8.0),
        Span("k", "transport.client_call", 1.0, 9.0),
        Span("k", "streaming.tick", 0.0, 10.0),
    ]
    got = dict(zip((s.name for s in spans), self_times(spans)))
    assert got == pytest.approx(
        {
            "sources.register_input": 1.0,
            "sources.write_parquet_single_file": 3.0,
            "plans.engine": 6.5 - 4.0,
            "transport.client_call": 8.0 - 6.5,
            "streaming.tick": 10.0 - 8.0,
        }
    )


def test_self_time_counts_overlapping_children_once():
    spans = [
        Span("k", "transport.codec", 1.0, 4.0),
        Span("k", "transport.codec", 3.0, 6.0),
        Span("k", "transport.client_call", 0.0, 10.0),
    ]
    assert self_times(spans)[-1] == pytest.approx(10.0 - 5.0)


def test_identical_intervals_nest_caller_outside():
    # A wrapper around a wrapper records the inner span first; the later
    # one is the caller and takes the nesting, not both the time.
    spans = [Span("k", "plans.tune_session", 1.0, 2.0), Span("k", "plans.engine", 1.0, 2.0)]
    assert self_times(spans) == pytest.approx([1.0, 0.0])


def test_layer_times_partition_the_outer_span():
    spans = [
        Span("k", "transport.codec", 1.0, 1.5),
        Span("k", "plans.new_session", 2.0, 2.5),
        Span("k", "plans.tune_session", 2.5, 3.0),
        Span("k", "sources.write_parquet_single_file", 3.0, 8.0),
        Span("k", "plans.engine", 1.8, 8.2),
        Span("k", "transport.client_call", 0.5, 9.0),
        Span("k", "streaming.tick", 0.0, 10.0),
    ]
    got = layer_times(spans)
    assert got["plans.session_s"] == pytest.approx(1.0)
    assert got["sources.sink_s"] == pytest.approx(5.0)
    assert got["transport.codec_s"] == pytest.approx(0.5)
    assert got["transport.rpc_overhead_s"] == pytest.approx(8.5 - 0.5 - 6.4)
    assert got["streaming.tick_self_s"] == pytest.approx(1.5)
    # everything but the engine's own residue (0.4 s) is some layer's
    assert sum(got.values()) == pytest.approx(10.0 - 0.4)


def test_tracer_records_only_traced_keys_and_restores():
    ns = SimpleNamespace(f=lambda x: x * 2)
    orig = ns.f
    t = Tracer()
    t.wrap(ns, "f", "plans.analyze", key_before=lambda a: f"k{a[0]}")
    t.traced.add("k1")
    assert ns.f(1) == 2 and ns.f(2) == 4
    assert [(s.key, s.name) for s in t.spans] == [("k1", "plans.analyze")]
    t.restore()
    assert ns.f is orig


# -- the tail-percentile rule ----------------------------------------------


@pytest.mark.parametrize(
    "n,p",
    [(5, 50), (19, 50), (20, 50), (39, 50), (40, 75), (99, 75), (100, 90), (199, 90), (200, 95), (999, 95), (1000, 99)],
)
def test_tail_is_highest_percentile_with_ten_samples_beyond(n, p):
    assert stats.tail_percentile(n) == p
    values = list(range(n))
    cut = stats.percentile(values, p)
    if n >= 20:
        assert sum(v > cut for v in values) >= 10
    higher = [q for q in stats.TAIL_PERCENTILES if q > p]
    for q in higher:
        assert sum(v > stats.percentile(values, q) for v in values) < 10


def test_percentile_is_nearest_rank():
    assert stats.percentile([5.0, 1.0, 3.0, 2.0, 4.0], 50) == 3.0
    assert stats.percentile([1.0, 2.0, 3.0, 4.0], 75) == 3.0
    assert stats.percentile([1.0, 2.0, 3.0, 4.0], 100) == 4.0


# -- the seeded generator --------------------------------------------------


def _ledger(tmp_path, name, seed):
    files = gen.write_ledger(str(tmp_path / name), seed, parts=3, rows_per_part=500)
    return pa.concat_tables([pq.read_table(f) for f in files])


def test_one_seed_gives_identical_ledgers(tmp_path):
    assert _ledger(tmp_path, "a", 7).equals(_ledger(tmp_path, "b", 7))


def test_two_seeds_give_different_ledgers(tmp_path):
    a, b = _ledger(tmp_path, "a", 7), _ledger(tmp_path, "b", 8)
    assert a.schema.equals(b.schema)
    assert not a.equals(b)
    # only the data differs: offsets are dense from 0 in both
    assert a["offset"].to_pylist() == b["offset"].to_pylist() == list(range(1500))


def test_part_is_a_function_of_seed_and_index(tmp_path):
    whole = _ledger(tmp_path, "a", 3)
    alone = gen.ledger_part(3, 1, 500, 500)
    assert whole.slice(500, 500).equals(alone)


# -- Spark event-log folding -----------------------------------------------


def _task(stage, run_ms, rows=0, nbytes=0):
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage,
        "Task Metrics": {
            "Executor Run Time": run_ms,
            "Executor CPU Time": run_ms * 1_000_000,
            "JVM GC Time": 1,
            "Input Metrics": {"Bytes Read": nbytes, "Records Read": rows},
            "Output Metrics": {"Bytes Written": 10},
            "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": 5},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 7},
            "Memory Bytes Spilled": 0,
            "Disk Bytes Spilled": 0,
        },
    }


def test_fold_events_charges_tasks_to_the_request_of_their_job():
    prop = {"Properties": {sparklog.KEY_PROPERTY: "req-a"}}
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1], **prop},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [2], "Properties": {}},
        _task(0, 100, rows=10, nbytes=1000),
        _task(0, 100, rows=10, nbytes=1000),
        _task(0, 100, rows=10, nbytes=1000),
        _task(1, 50),
        _task(2, 999, rows=5, nbytes=5),  # another caller's job: not charged
    ]
    got = sparklog.fold_events(json.dumps(e) for e in events)
    assert list(got) == ["req-a"]
    a = got["req-a"]
    assert a["spark.jobs"] == 1
    assert a["spark.tasks"] == 4
    assert a["spark.scan_tasks"] == 3
    assert a["spark.executor_run_s"] == pytest.approx(0.35)
    assert a["spark.executor_cpu_s"] == pytest.approx(0.35)
    assert a["spark.gc_s"] == pytest.approx(0.004)
    assert a["spark.input_rows"] == 30 and a["spark.input_bytes"] == 3000
    assert a["spark.shuffle_bytes"] == 4 * 12 and a["spark.output_bytes"] == 40


# -- output checks ---------------------------------------------------------


def _op(tmp_path, offsets, ops, system_time, next_offset, interval):
    from perfbench.harness import Op

    path = str(tmp_path / "out.parquet")
    n = len(offsets)
    pq.write_table(
        pa.table(
            {
                "offset": pa.array(offsets, pa.int64()),
                "op": pa.array(ops, pa.int32()),
                "system_time": pa.array([system_time] * n, pa.timestamp("ms", "UTC")),
            }
        ),
        path,
    )
    req = SimpleNamespace(next_offset=next_offset, system_time=system_time, new_data_path=path)
    oi = SimpleNamespace(start=interval[0], end=interval[1]) if interval else None
    return Op(req=req, measured=True, resp=SimpleNamespace(new_offset_interval=oi))


T = datetime(2024, 1, 1, tzinfo=timezone.utc)


def test_check_op_accepts_a_correct_output(tmp_path):
    from perfbench.harness import check_op

    assert check_op(_op(tmp_path, [5, 6, 7], [0, 0, 0], T, 5, (5, 7)), 3) is None


@pytest.mark.parametrize(
    "offsets,ops,interval,expected,why",
    [
        ([5, 7, 8], [0, 0, 0], (5, 7), 3, "offsets"),
        ([5, 6, 7], [0, 1, 0], (5, 7), 3, "op column"),
        ([5, 6, 7], [0, 0, 0], (5, 8), 3, "interval"),
        ([5, 6, 7], [0, 0, 0], (5, 8), 4, "footer"),
    ],
)
def test_check_op_rejects_a_wrong_output(tmp_path, offsets, ops, interval, expected, why):
    from perfbench.harness import check_op

    assert why in check_op(_op(tmp_path, offsets, ops, T, 5, interval), expected)


def test_check_op_rejects_a_wrong_system_time(tmp_path):
    from perfbench.harness import check_op

    op = _op(tmp_path, [5, 6], [0, 0], T, 5, (5, 6))
    op.req.system_time = datetime(2024, 1, 2, tzinfo=timezone.utc)
    assert "system_time" in check_op(op, 2)


# -- the benchmark's declaration -------------------------------------------


def test_benchmark_json_declares_what_the_harness_prints():
    from perfbench.harness import END_TO_END_UNITS, PER_LAYER_UNITS, WORKLOADS

    root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        decl = json.load(f)
    assert [w["name"] for w in decl["workloads"]] == list(WORKLOADS)
    assert {m["name"]: m["unit"] for m in decl["end_to_end"]} == END_TO_END_UNITS
    assert {m["name"]: m["unit"] for m in decl["per_layer"]} == PER_LAYER_UNITS
