"""Tests of the benchmark itself (no Spark needed).

Run from the repository root:

    python3 -m pytest perfbench/tests -q -p no:cacheprovider
"""

from __future__ import annotations

import filecmp
import itertools
import json
import os
import sys

import pytest

BENCH_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH_DIR)
sys.path[:0] = [BENCH_DIR, ROOT]

import datagen  # noqa: E402
import run  # noqa: E402
import spans  # noqa: E402
import workloads  # noqa: E402


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _samples(seconds, ok=True, kind="q"):
    return [run.Sample(kind, "read", s, ok, rows=10) for s in seconds]


class FakeEngine:
    last_shortcut_kind = None

    def __init__(self):
        self.queries = []

    def sql(self, query):
        self.queries.append(query)


class FakeSpark:
    sparkContext = None


def test_every_end_to_end_metric_prints_with_its_unit(capsys):
    spec = _spec()
    e2e, _ = run.end_to_end(_samples([0.5, 0.6, 0.7]), [1.0, 1.1, 1.2], 300 * 2**20)
    run.emit(spec["end_to_end"], {k: v for k, (v, _) in e2e.items()}, True, 3, 0)
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert set(out["metrics"]) == {m["name"] for m in spec["end_to_end"]}
    for m in spec["end_to_end"]:
        assert out["metrics"][m["name"]]["unit"] == m["unit"]
        assert out["metrics"][m["name"]]["value"] > 0


def test_every_per_layer_metric_prints_with_its_unit(capsys):
    spec = _spec()
    tracer = spans.Tracer()
    state = run.TraceState(tracer, "/nonexistent")

    class NoStore(workloads.Workload):
        store = None

    values = run.per_layer(NoStore(None), None, state, _samples([0.1, 0.2]), 1.5)
    run.emit(spec["per_layer"], values, True, 2, 0)
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert set(out["metrics"]) == {m["name"] for m in spec["per_layer"]}
    for m in spec["per_layer"]:
        assert out["metrics"][m["name"]]["unit"] == m["unit"]


def test_wrong_expected_value_raises_failed_ratio():
    """A check against a deliberately wrong expected answer must count
    as a failed op, not be dropped or crash the loop."""

    ctx = workloads.Context(FakeSpark(), FakeEngine(), "/nonexistent", 1, spans.NullTracer())
    right = workloads.Op("sum", lambda: [(6,)], lambda got: workloads.rows_close(got, [(6,)]))
    wrong = workloads.Op("sum", lambda: [(6,)], lambda got: workloads.rows_close(got, [(7,)]))
    samples = [run.run_op(op, ctx, i) for i, op in enumerate([right, wrong, right, wrong])]
    failed = sum(not s.ok for s in samples)
    assert failed == 2 and len(samples) == 4
    e2e, _ = run.end_to_end(samples, [1.0], 1)
    assert e2e["op_p50_s"][0] > 0  # the successful ops still time


def test_set_ups_alternate_with_loop_slices_of_whole_iterations():
    """A cold set-up, a warm-up, then each later set-up opens a slice of
    the closed loop; a slice runs whole iterations only."""
    events = []

    class Fake(workloads.Workload):
        def setup(self):
            events.append("setup")

        def cycles(self, stream):
            while True:
                yield [workloads.Op(kind, lambda s=stream: events.append(f"op{s}") or [1],
                                    lambda got: got == [1]) for kind in ("a", "b", "a")]

    ctx = workloads.Context(FakeSpark(), FakeEngine(), "/nonexistent", 1, spans.NullTracer())
    setups, _, samples = run.measure(Fake(ctx), ctx, spans.NullTracer(), 0.02)
    assert len(setups) == run.SETUP_REPS and samples and all(s.ok for s in samples)
    # the warm-up runs the first op of each kind
    assert events[:4] == ["setup", "op0", "op0", "setup"]
    slices = [sl.split() for sl in " ".join(events[3:]).split("setup")[1:]]
    assert len(slices) == run.SETUP_REPS - 1
    for sl in slices[:run.SLICES]:
        assert sl and set(sl) == {"op1"} and len(sl) % 3 == 0
    assert not any(slices[run.SLICES:])
    assert [s.kind for s in samples[:3]] == ["a", "b", "a"] and len(samples) % 3 == 0


def test_later_set_ups_leave_the_ops_table_alone(tmp_path):
    class Small(workloads.ArrayLookup):
        ntime, nlat, nlon = 3, 13, 24

    eng = FakeEngine()
    w = Small(workloads.Context(FakeSpark(), eng, str(tmp_path), 1, spans.NullTracer()))
    w.generate()
    first = w.store
    for _ in range(3):
        w.setup()
    assert w.store == first and len(set(w.stores)) == 3
    assert all(os.path.isdir(s) for s in w.stores)
    tables = [q.split()[3] for q in eng.queries]
    assert tables == ["era5", "era5_1", "era5_2"]
    assert all(f"LOCATION '{s}'" in q for s, q in zip(w.stores, eng.queries))


def test_float_answers_compare_within_tolerance_only():
    assert workloads.rows_close([(1, 0.30000000000000004)], [(1, 0.3)])
    assert not workloads.rows_close([(1, 0.31)], [(1, 0.3)])
    assert not workloads.rows_close([(1, 0.3)], [(1, 0.3), (2, 0.3)])


def test_fixed_seed_regenerates_byte_identical_stores(tmp_path):
    def write(sub, seed):
        arrays = datagen.era5_arrays(seed, 5, 13, 24)
        return datagen.write_era5_store(str(tmp_path / sub), arrays)

    a, b, c = write("a", 7), write("b", 7), write("c", 8)
    cmp = filecmp.dircmp(a, b)
    assert not cmp.left_only and not cmp.right_only
    files = [os.path.join(d, f) for d, _, fs in os.walk(a) for f in fs]
    assert len(files) > 10
    for path in files:
        rel = os.path.relpath(path, a)
        assert filecmp.cmp(path, os.path.join(b, rel), shallow=False), rel
    assert not filecmp.cmp(os.path.join(a, "t", "0.0.0.0"),
                           os.path.join(c, "t", "0.0.0.0"), shallow=False)


def test_fixed_seed_regenerates_byte_identical_tables(tmp_path):
    a = datagen.write_tpch(str(tmp_path / "a"), 3, 0.001)
    b = datagen.write_tpch(str(tmp_path / "b"), 3, 0.001)
    for name in workloads.TPCH_TABLES:
        assert filecmp.cmp(os.path.join(a, f"{name}.parquet"),
                           os.path.join(b, f"{name}.parquet"), shallow=False), name


def test_appended_slab_matches_whole_store_generation():
    whole = datagen.era5_arrays(5, 6, 13, 24)
    frame = datagen.era5_frame(5, 4, 1, 13, 24)
    assert (frame["t"].to_numpy() == whole["t"][4].ravel()).all()
    assert (frame["q"].to_numpy() == whole["q"][4].ravel()).all()
    assert (frame["time"].unique() == whole["time"][4]).all()


def test_lineitem_keys_are_unique():
    li = datagen.tpch_tables(2, 0.001)["lineitem"].to_pandas()
    assert not li.duplicated(["l_orderkey", "l_linenumber"]).any()


def test_tail_percentile_keeps_ten_samples_beyond():
    xs = [float(i) for i in range(1, 101)]
    v, q, beyond = run.tail(xs)
    assert (q, beyond) == (90, 10) and v == 90.0
    v, q, beyond = run.tail(xs[:12])
    assert q == 100 and v == 12.0


def test_span_self_time_excludes_children():
    tr = spans.Tracer()
    with tr.op(0):
        with tr.span("engine.sql"):
            with tr.span("metadata.discover"):
                pass
    st = tr.self_times()
    dur = {s["name"]: s["end"] - s["start"] for s in tr.spans}
    total, child = dur["engine.sql"], dur["metadata.discover"]
    assert st["engine.sql"] == pytest.approx(total - child)
    assert tr.per_op_totals("engine.sql") == {0: total}
