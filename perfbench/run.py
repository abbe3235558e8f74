#!/usr/bin/env python3
"""Benchmark runner.

Run from the root of a checkout of the repository:

    python3 perfbench/run.py --workload array_lookup --seed 1 --seconds 15 --trace 0

One run starts Spark (``local[N]``, N = min(4, cores)), generates the
workload's inputs from ``--seed``, times a first set-up, runs one
untimed loop iteration, then alternates three more timed set-ups with
two slices of a closed loop of operations, ``--seconds`` seconds in
all, checking every result (see :func:`measure`).  Human-readable
lines go to stdout first; the last stdout line is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``:

* ``--trace 0``: the end-to-end metrics of BENCHMARK.json;
* ``--trace 1``: the per-layer metrics.  The traced run patches each
  layer's public functions with timing wrappers (see ``spans.py``),
  runs every operation once traced and once untraced (alternating
  which goes first) to get ``trace.overhead_ratio``, and writes its
  spans to ``.perfbench_out/``.

Everything the run writes stays inside the checkout: inputs and the
Spark scratch space live in ``.perfbench_work/`` and are deleted at
exit.
"""

from __future__ import annotations

import argparse
import itertools
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import threading
import time
import traceback
from dataclasses import dataclass

import spans
import workloads

PACKAGE = "zarr_datafusion_spark"
SETUP_REPS = 4
#: slices of the closed loop; a timed set-up precedes each, and the
#: set-ups left over follow the last
SLICES = 2
DRIVER_HEAP = "1g"


@dataclass
class Sample:
    kind: str
    category: str
    seconds: float
    ok: bool
    rows: int = 0
    traced: bool = False
    op_id: int = -1
    result_rows: int = 0
    shortcut: bool = False


# ---------------------------------------------------------------------------
# Process tree and memory
# ---------------------------------------------------------------------------


def process_tree(root: int) -> list[int]:
    """``root`` and all its descendants, from /proc."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may contain spaces; fields resume after ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except (OSError, IndexError, ValueError):
        return 0


class RssSampler(threading.Thread):
    """Peak of the summed resident set of this process, the JVM and the
    Python workers, sampled from /proc."""

    def __init__(self, interval: float = 0.2):
        super().__init__(daemon=True)
        self.interval = interval
        self.peak = 0
        self._stop_event = threading.Event()

    def run(self) -> None:
        while not self._stop_event.is_set():
            total = sum(rss_bytes(p) for p in process_tree(os.getpid()))
            self.peak = max(self.peak, total)
            self._stop_event.wait(self.interval)

    def stop(self) -> None:
        self._stop_event.set()
        self.join(timeout=5)


# ---------------------------------------------------------------------------
# Spark lifecycle
# ---------------------------------------------------------------------------


def configure_env(root: str, tmp: str) -> None:
    """Keep Spark and Python scratch files inside ``tmp`` and let the
    Python workers import the package from the checkout.

    The JVM runs with the C1 compiler only (``TieredStopAtLevel=1``).
    Under the default C2, op latency keeps falling for about a minute of
    queries while C2 compiles Spark's planner code on the same cores, so
    a run short enough for the time budget measures a point on that
    slope.  Under C1 it is flat after the first op.  JVM-bound work runs
    slower than under C2 (README.md, "What keeps the numbers steady").

    The driver heap is fixed and touched at start (``-Xms``,
    ``AlwaysPreTouch``).  G1 otherwise grows the heap at moments that
    differ from run to run, and the JVM's resident set, most of
    ``peak_rss_mb``, spread by 20% over runs of the same code."""
    os.makedirs(os.path.join(tmp, "spark"), exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(min(4, os.cpu_count() or 1))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_HEAP
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark")
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false "
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
        f"-XX:TieredStopAtLevel=1 -Xms{DRIVER_HEAP} -XX:+AlwaysPreTouch' pyspark-shell"
    )


def stop_spark(spark) -> None:
    """Stop Spark, end the JVM and wait until every process this run
    started (the JVM, the Python worker daemon and its workers) is gone."""
    from pyspark import SparkContext

    me = os.getpid()
    started = [p for p in process_tree(me) if p != me]
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        spark.stop()
    finally:
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=10)
        wait_gone(started)


def _alive(pid: int) -> bool:
    """Running (not a zombie); reaps the zombie if it is our child."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            state = f.read().rsplit(")", 1)[1].split()[0]
    except OSError:
        return False
    if state == "Z":
        try:
            os.waitpid(pid, os.WNOHANG)
        except ChildProcessError:
            pass
        return False
    return True


def wait_gone(pids: list[int], timeout: float = 20.0) -> None:
    deadline = time.monotonic() + timeout
    while time.monotonic() < deadline:
        if not any(_alive(p) for p in pids):
            return
        time.sleep(0.2)
    for p in pids:
        if _alive(p):
            try:
                os.kill(p, signal.SIGKILL)
            except ProcessLookupError:
                pass
    deadline = time.monotonic() + 5.0
    while any(_alive(p) for p in pids) and time.monotonic() < deadline:
        time.sleep(0.1)


# ---------------------------------------------------------------------------
# Measurement
# ---------------------------------------------------------------------------


class TraceState:
    """What the traced run collects per op besides spans: Spark stages
    and tasks (job groups) and scan I/O (``stats_dir`` spill files)."""

    def __init__(self, tracer, stats_dir: str):
        self.tracer = tracer
        self.stats_dir = stats_dir
        self.seen: set[str] = set()
        self.op_stats: dict[int, dict] = {}
        tracer.before_call["read_zarr"] = self._inject_stats_dir
        tracer.before_call["compute_zarr_chunk_stats"] = self._mark_cached
        tracer.after_call["write_zarr"] = tracer.after_call["append_zarr"] = (
            lambda res: {"bytes_written": res.get("bytes_written", 0),
                         "rows": res.get("rows", 0)})

    def _inject_stats_dir(self, args, kwargs):
        if "stats_dir" not in kwargs and len(args) < 6:
            kwargs = dict(kwargs, stats_dir=self.stats_dir)
        return args, kwargs, {}

    @staticmethod
    def _mark_cached(args, kwargs):
        from zarr_datafusion_spark.stats.chunk_stats import chunk_stats_sidecar_path

        store = args[1] if len(args) > 1 else kwargs["store_path"]
        sidecar = chunk_stats_sidecar_path(store)
        return args, kwargs, {"cached": bool(sidecar and os.path.exists(sidecar))}

    def after_op(self, sc, op_id: int, traced: bool) -> None:
        """Consume the spill files the op produced (untraced ops spill
        too, through views registered during a traced set-up)."""
        io = {"n_chunks": 0, "disk_bytes": 0, "rows": 0}
        try:
            names = set(os.listdir(self.stats_dir))
        except OSError:
            names = set()
        for name in sorted(names - self.seen):
            if name.startswith("part-"):
                with open(os.path.join(self.stats_dir, name)) as f:
                    part = json.load(f)
                for k in io:
                    io[k] += int(part.get(k, 0))
        self.seen |= names
        if not traced:
            return
        tracker = sc.statusTracker()
        stages = tasks = 0
        for job in tracker.getJobIdsForGroup(f"perfbench-{op_id}"):
            info = tracker.getJobInfo(job)
            for sid in info.stageIds if info is not None else ():
                stages += 1
                st = tracker.getStageInfo(sid)
                tasks += st.numTasks if st is not None else 0
        self.op_stats[op_id] = dict(io, stages=stages, tasks=tasks)


def run_op(op, ctx, op_id: int, state: TraceState | None = None, traced: bool = False) -> Sample:
    """Time one op from the public call to the materialised result, then
    check the result outside the timed region."""
    eng = ctx.engine
    sc = ctx.spark.sparkContext
    if traced:
        sc.setJobGroup(f"perfbench-{op_id}", op.kind)
        state.tracer.install()
        ctx.tracer = state.tracer
    result, ok = None, False
    t0 = time.perf_counter()
    try:
        with ctx.tracer.op(op_id):
            result = op.run()
        seconds = time.perf_counter() - t0
    except Exception:
        seconds = time.perf_counter() - t0
        traceback.print_exc(limit=3, file=sys.stderr)
    finally:
        if traced:
            state.tracer.uninstall()
            ctx.tracer = NULL_TRACER
            sc.setLocalProperty("spark.jobGroup.id", None)
    if state is not None:
        state.after_op(sc, op_id, traced)
    if result is not None:
        try:
            ok = bool(op.check(result))
        except Exception:
            traceback.print_exc(limit=3, file=sys.stderr)
        if not ok:
            print(f"# wrong answer: op {op_id} {op.kind}", file=sys.stderr)
    try:
        n_result = len(result) if result is not None else 0
    except TypeError:
        n_result = 1
    return Sample(op.kind, op.category, seconds, ok, op.rows, traced, op_id, n_result,
                  shortcut=eng.last_shortcut_kind is not None)


def timed_setup(workload, tracer) -> float:
    if tracer.enabled:
        tracer.install()
    t0 = time.perf_counter()
    try:
        workload.setup()
    finally:
        seconds = time.perf_counter() - t0
        if tracer.enabled:
            tracer.uninstall()
    return seconds


def warm_up(workload, ctx) -> float:
    """Run the first op of each kind in one loop iteration, untimed, and
    return its seconds.  The first op of each kind on a freshly
    registered table pays for query compilation and per-table caches;
    measured ops would otherwise mix cold and warm samples in
    proportions that vary from run to run."""
    t0 = time.perf_counter()
    kinds = set()
    for op in next(workload.cycles(stream=0)):
        if op.kind not in kinds:
            kinds.add(op.kind)
            run_op(op, ctx, -1)
    return time.perf_counter() - t0


def closed_loop(workload, ctx, cycles, op_ids, seconds: float,
                state: TraceState | None = None) -> list[Sample]:
    """Run whole loop iterations from ``cycles`` (enumerated), op after
    op, for about ``seconds``: at least one, then another while at least
    half the last one's time is left.  Whole iterations keep the mix of
    op kinds the same in every run, so the median and the throughput do
    not move with where the time ran out; the half-iteration rule keeps
    the loop near ``seconds`` instead of up to a whole iteration over.
    Traced: each op of a repeatable workload runs twice, traced and
    untraced, alternating which goes first; a stateful workload
    alternates whole iterations."""
    samples = []
    deadline = time.perf_counter() + seconds
    last = 0.0
    while time.perf_counter() + last / 2 < deadline:
        t0 = time.perf_counter()
        n, cycle = next(cycles)
        for op in cycle:
            i = next(op_ids)
            if state is None:
                samples.append(run_op(op, ctx, i))
            elif workload.repeatable:
                for traced in ((False, True) if i % 2 == 0 else (True, False)):
                    samples.append(run_op(op, ctx, i, state, traced))
            else:
                samples.append(run_op(op, ctx, i, state, n % 2 == 1))
        last = time.perf_counter() - t0
    return samples


def measure(workload, ctx, tracer, seconds: float,
            state: TraceState | None = None) -> tuple[list[float], float, list[Sample]]:
    """Time :data:`SETUP_REPS` set-ups and ``seconds`` of closed loop.

    The first set-up pays once-per-process costs (Python worker start,
    data-source registration) and the median of the set-ups ignores it.
    The warm-up follows it.  The other set-ups alternate with
    :data:`SLICES` slices of the closed loop, so the op samples spread
    over more of the run than one window at its end: the host's speed
    drifts over tens of seconds, and a wider window averages more of
    that drift.  A later set-up leaves the state the ops use untouched
    (see :meth:`workloads.Workload.setup`).
    Returns (set-up seconds, warm-up seconds, samples)."""
    setups = [timed_setup(workload, tracer)]
    warm_s = warm_up(workload, ctx)
    cycles, op_ids = enumerate(workload.cycles(stream=1)), itertools.count()
    samples = []
    for k in range(1, SETUP_REPS):
        setups.append(timed_setup(workload, tracer))
        if k <= SLICES:
            samples += closed_loop(workload, ctx, cycles, op_ids, seconds / SLICES, state)
    return setups, warm_s, samples


def percentile(xs: list[float], q: float) -> float:
    """Nearest-rank percentile."""
    xs = sorted(xs)
    k = max(1, math.ceil(q / 100.0 * len(xs)))
    return xs[k - 1]


def tail(xs: list[float]) -> tuple[float, int, int]:
    """The highest whole percentile with at least 10 samples beyond it
    (the maximum when there are fewer than 20 samples): (value,
    percentile, samples beyond)."""
    n = len(xs)
    if n >= 20:
        q = math.floor(100.0 * (n - 10) / n)
        while q > 50 and n - math.ceil(q / 100.0 * n) < 10:
            q -= 1
    else:
        q = 100
    v = percentile(xs, q)
    return v, q, sum(1 for x in xs if x > v)


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def end_to_end(samples, setups, peak_rss) -> tuple[dict, list[str]]:
    ok = [s.seconds for s in samples if s.ok]
    tail_v, tail_q, beyond = tail(ok) if ok else (0.0, 100, 0)
    busy = sum(ok)
    metrics = {
        "setup_s": (median(setups), "s"),
        "op_p50_s": (median(ok), "s"),
        "op_tail_s": (tail_v, "s"),
        "ops_per_s": (len(ok) / busy if busy else 0.0, "1/s"),
        "peak_rss_mb": (peak_rss / 2**20, "MB"),
    }
    notes = [f"op_tail_s is p{tail_q} of {len(ok)} successful ops ({beyond} beyond it)",
             f"setup_s is the median of {len(setups)} set-ups: "
             + ", ".join(f"{s:.3f}" for s in setups)]
    return metrics, notes


# ---------------------------------------------------------------------------
# Per-layer metrics (traced run)
# ---------------------------------------------------------------------------


def probe_store(workload, ctx) -> dict[str, float]:
    """Layer probes outside the op loop.  Metadata discovery and scan
    planning run in a Python worker, out of sight of driver-side spans,
    so they are timed directly; likewise the scan into a noop sink, one
    thread decoding every chunk, and the planned full-scan chunk count."""
    from zarr_datafusion_spark.stats.io_stats import plan_scan_stats
    from zarr_datafusion_spark.zarr import discover_arrays, infer_spark_schema, read_zarr
    from zarr_datafusion_spark.zarr.chunkio import read_chunk

    store, spark = workload.store, ctx.spark
    discovers = []
    for _ in range(5):
        t0 = time.perf_counter()
        meta = discover_arrays(store)
        infer_spark_schema(meta)
        discovers.append(time.perf_counter() - t0)
    rows = int(meta.total_rows)
    scans = []
    for _ in range(3):
        t0 = time.perf_counter()
        (read_zarr(spark, store, columns=workload.scan_columns)
         .write.format("noop").mode("overwrite").save())
        scans.append(time.perf_counter() - t0)
    decoded, t0 = 0, time.perf_counter()
    for var in meta.data_vars:
        grid = [range(math.ceil(s / c)) for s, c in zip(var.shape, var.chunks)]
        for idx in itertools.product(*grid):
            decoded += read_chunk(store, var, idx).nbytes
            if time.perf_counter() - t0 > 2.0:
                break
    decode_s = time.perf_counter() - t0
    return {
        "metadata.discover_s": median(discovers),
        "datasource.scan_s": median(scans),
        "datasource.rows_per_s": rows / median(scans),
        "chunkio.decode_mb_per_s": decoded / 2**20 / decode_s,
        "full_scan_chunks": plan_scan_stats(store).n_chunks,
    }


#: op id of the traced sink probe (set-up spans carry -1)
SINK_PROBE_OP = -2


def probe_sink(workload, ctx, tracer) -> None:
    """For a workload whose ops do not write: write the store's first
    outer slab to a new store through ``write_zarr``, traced, so the
    sink's spans and return values are recorded."""
    from pyspark.sql import functions as F

    from zarr_datafusion_spark.zarr import discover_arrays, read_zarr, sink
    from zarr_datafusion_spark.zarr.chunkio import read_array

    meta = discover_arrays(workload.store)
    outer = meta.coords[0]
    first = read_array(workload.store, outer)[:1].tolist()
    df = read_zarr(ctx.spark, workload.store).where(F.col(outer.name).isin(first))
    tracer.install()
    try:
        with tracer.op(SINK_PROBE_OP):
            sink.write_zarr(df, os.path.join(ctx.workdir, "sink_probe.zarr"),
                            coords=[c.name for c in meta.coords], compression="zlib")
    finally:
        tracer.uninstall()


def per_layer(workload, ctx, state: TraceState, samples, session_start_s: float) -> dict:
    tracer, op_stats = state.tracer, state.op_stats
    traced = [s for s in samples if s.traced]
    plain = [s for s in samples if not s.traced]
    n = max(1, len(traced))

    def per_op(name: str) -> float:
        return sum(tracer.per_op_totals(name).values()) / n

    engine_ops = [s for s in traced if tracer.per_op_totals("engine.sql").get(s.op_id)]
    builds = [s["end"] - s["start"] for s in tracer.spans
              if s["name"] == "chunk_stats.build" and not s.get("cached", True)]
    write_rows = sum(s.rows for s in traced if s.category == "write")
    if not write_rows and workload.store:
        probe_sink(workload, ctx, tracer)

    writes = [s for s in tracer.spans
              if s["name"] == "sink.write" and s["end"] and s["op"] != -1]
    write_s = sum(s["end"] - s["start"] for s in writes)
    write_rows += sum(s.get("rows", 0) for s in writes)
    chunks = sum(v["n_chunks"] for v in op_stats.values())
    disk = sum(v["disk_bytes"] for v in op_stats.values())
    examined = sum(v["rows"] for v in op_stats.values())
    result_rows = sum(s.result_rows for s in traced)
    probes = probe_store(workload, ctx) if workload.store else {}
    full_chunks = probes.pop("full_scan_chunks", 0)
    stages = [v["stages"] for v in op_stats.values()]
    tasks = [v["tasks"] for v in op_stats.values()]
    p50_plain = median([s.seconds for s in plain if s.ok])
    p50_traced = median([s.seconds for s in traced if s.ok])
    m = {
        "session.start_s": session_start_s,
        "engine.sql_s": per_op("engine.sql"),
        "engine.shortcut_ratio": (sum(s.shortcut for s in engine_ops) / len(engine_ops)
                                  if engine_ops else 0.0),
        "metadata.discover_s": probes.get("metadata.discover_s", 0.0),
        "datasource.scan_s": probes.get("datasource.scan_s", 0.0),
        "datasource.rows_per_s": probes.get("datasource.rows_per_s", 0.0),
        "chunkio.decode_mb_per_s": probes.get("chunkio.decode_mb_per_s", 0.0),
        "io.chunks_read": chunks / n,
        "io.disk_bytes": disk / n,
        "io.chunks_read_ratio": chunks / n / full_chunks if full_chunks else 0.0,
        "io.rows_examined_per_result_row": examined / result_rows if result_rows else 0.0,
        "chunk_stats.build_s": median(builds),
        "sink.write_s": median([s["end"] - s["start"] for s in writes]),
        "sink.bytes_written": (sum(s.get("bytes_written", 0) for s in writes) / len(writes)
                               if writes else 0.0),
        "sink.rows_per_s": write_rows / write_s if write_s else 0.0,
        "operators.build_s": per_op("operators.build"),
        "operators.exec_s": per_op("operators.exec"),
        "spark.stages_per_op": sum(stages) / n,
        "spark.tasks_per_op": sum(tasks) / n,
        "trace.overhead_ratio": p50_traced / p50_plain if p50_plain else 0.0,
    }
    return m


# ---------------------------------------------------------------------------
# Entry point
# ---------------------------------------------------------------------------


NULL_TRACER = spans.NullTracer()


def load_spec(root: str) -> dict:
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        return json.load(f)


def emit(spec_metrics, values: dict[str, float], correct, attempted, failed) -> None:
    """Print the result line: every metric of ``spec_metrics`` by name
    with its unit (a missing one raises)."""
    metrics = {m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]}
               for m in spec_metrics}
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}), flush=True)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, PACKAGE, "__init__.py")):
        print(f"error: run from a checkout root holding {PACKAGE}/", file=sys.stderr)
        return 2
    spec = load_spec(root)
    sys.path.insert(0, root)
    if args.workload not in workloads.WORKLOADS:
        print(f"error: unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    workdir = os.path.join(root, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    configure_env(root, tmp)

    # on SIGTERM, unwind through the finally below so Spark's processes stop too
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    rss = RssSampler()
    rss.start()
    spark = workload = None
    try:
        t0 = time.perf_counter()
        from zarr_datafusion_spark import Engine, get_spark

        spark = get_spark("perfbench")
        session_start_s = time.perf_counter() - t0
        tracer = spans.Tracer() if args.trace else NULL_TRACER
        ctx = workloads.Context(spark, Engine(spark), workdir, args.seed, NULL_TRACER)
        workload = workloads.WORKLOADS[args.workload](ctx)
        workload.generate()
        state = (TraceState(tracer, os.path.join(workdir, "io_stats"))
                 if args.trace else None)
        setups, warm_s, samples = measure(workload, ctx, tracer, args.seconds, state)
        attempted = len(samples)
        failed = sum(1 for s in samples if not s.ok)
        print(f"# workload {args.workload} seed {args.seed} trace {args.trace}: "
              f"{attempted} ops, {failed} failed, warm-up {warm_s:.3f} s, "
              f"session start {session_start_s:.3f} s")
        if args.trace:
            values = per_layer(workload, ctx, state, samples, session_start_s)
            out = os.path.join(root, ".perfbench_out")
            os.makedirs(out, exist_ok=True)
            tracer.dump(os.path.join(out, f"trace-{args.workload}-seed{args.seed}.json"))
            spec_metrics = spec["per_layer"]
            shown = {m["name"]: (values[m["name"]], m["unit"]) for m in spec_metrics}
        else:
            e2e, notes = end_to_end(samples, setups, rss.peak)
            for note in notes:
                print(f"# {note}")
            by_kind: dict[str, list[float]] = {}
            for smp in samples:
                by_kind.setdefault(smp.kind, []).append(smp.seconds)
            for kind, xs in by_kind.items():
                print(f"# {kind}: n={len(xs)} " + " ".join(f"{x:.3f}" for x in xs))
            shown = {**e2e, **workload.extra_metrics(samples),
                     "failed_ratio": (failed / attempted if attempted else 0.0, "ratio")}
            values = {name: v for name, (v, _) in e2e.items()}
            spec_metrics = spec["end_to_end"]
        for name, (v, unit) in shown.items():
            print(f"{name} = {v:.6g} {unit}")
        emit(spec_metrics, values, failed == 0, attempted, failed)
        return 0
    finally:
        rss.stop()
        try:
            if workload is not None:
                try:
                    workload.cleanup()
                except OSError:
                    traceback.print_exc(file=sys.stderr)
            if spark is not None:
                stop_spark(spark)
        finally:
            shutil.rmtree(workdir, ignore_errors=True)
            try:
                os.rmdir(os.path.dirname(workdir))
            except OSError:
                pass


if __name__ == "__main__":
    sys.exit(main())
