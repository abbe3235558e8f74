"""The four benchmark workloads.

Each workload is a closed loop driven by one client: the runner asks
:meth:`Workload.ops` for the next operation only after the previous one
finished.  An :class:`Op` carries the public call to time (``run``,
which must return a materialised result) and the check of that result
against an answer computed beforehand from the seeded inputs
(``check``); building the op and its expected answer happens outside
the timed region.

Why these four (see README.md for the layer map):

* ``array_scan``   -- full-table SQL; chunk decode and the scan dominate.
* ``array_lookup`` -- short selective SQL on a ``chunk_stats`` table; the
  engine front door, metadata and the stats rewrites dominate.
* ``array_ingest`` -- appends beside reads-after-write; the sink and the
  chunk-stats invalidation path.
* ``pipeline_sql`` -- operator-registry entries on parquet; no Zarr code,
  the control for every Zarr-layer change.
"""

from __future__ import annotations

import math
import os
import shutil
import sys
from collections.abc import Callable, Iterator
from dataclasses import dataclass

import numpy as np

import datagen


@dataclass
class Op:
    kind: str
    run: Callable[[], object]
    check: Callable[[object], bool]
    #: "read" or "write"
    category: str = "read"
    #: rows the op scans (reads) or writes; feeds the throughput metrics
    rows: int = 0


@dataclass
class Context:
    spark: object
    engine: object
    workdir: str
    seed: int
    tracer: object


def close(a, b, rtol: float = 1e-9, atol: float = 1e-9) -> bool:
    if a is None or b is None:
        return a is b
    return math.isclose(float(a), float(b), rel_tol=rtol, abs_tol=atol)


def rows_close(got: list[tuple], want: list[tuple], rtol: float = 1e-9) -> bool:
    """Row lists equal after sorting, floats within ``rtol``."""
    if len(got) != len(want):
        return False
    for g, w in zip(sorted(got), sorted(want)):
        if len(g) != len(w):
            return False
        for x, y in zip(g, w):
            if isinstance(y, float) or isinstance(x, float):
                if not close(x, y, rtol):
                    return False
            elif x != y:
                return False
    return True


class Workload:
    name = ""
    #: ops can run twice without changing the state the next op sees
    repeatable = True
    #: Zarr store whose layers the traced run probes (None: no Zarr)
    store: str | None = None
    #: projection of the traced run's scan probe
    scan_columns: list[str] | None = None

    def __init__(self, ctx: Context):
        self.ctx = ctx

    def generate(self) -> None:
        """Make the seeded inputs (untimed)."""

    def setup(self) -> None:
        """Bring the system from raw inputs to ready-to-query (timed as
        ``setup_s``).  Runs several times, between slices of the op loop;
        the ops use what the first set-up made, and a later set-up must
        leave that untouched."""

    def cycles(self, stream: int) -> Iterator[list[Op]]:
        """Endless sequence of loop iterations, each a list of ops that
        holds every op kind of the workload in a fixed mix; ``stream``
        selects an independent draw of parameters (warm-up and
        measurement use different streams)."""
        raise NotImplementedError

    def extra_metrics(self, samples: list) -> dict[str, tuple[float, str]]:
        """Workload-specific end-to-end metrics: name -> (value, unit)."""
        return {}

    def cleanup(self) -> None:
        """Remove derived artefacts the program keeps outside the work dir."""


# ---------------------------------------------------------------------------
# ERA5-shaped Zarr workloads
# ---------------------------------------------------------------------------


#: bytes of one row of the user's DataFrame (4 x 8-byte coordinates,
#: float32 t, int32 q)
ROW_BYTES = 4 * 8 + 4 + 4


def _lit(v) -> str:
    return repr(float(v)) if isinstance(v, (float, np.floating)) else str(int(v))


class _Era5(Workload):
    ntime = 24
    nlat, nlon = 181, 360
    table = "era5"
    #: appended to CREATE EXTERNAL TABLE
    options = ""

    def generate(self) -> None:
        self.a = datagen.era5_arrays(self.ctx.seed, self.ntime, self.nlat, self.nlon)
        self.store = os.path.join(self.ctx.workdir, f"{self.name}.zarr")
        self.stores: list[str] = []
        self.total_rows = int(self.a["t"].size)

    def setup(self) -> None:
        """Write a fresh store and register it.  Set-up k > 0 writes its
        own store and table, so the ops keep querying the first table
        with warm caches, and every set-up rebuilds the chunk-stats
        sidecar (keyed by the store's path and metadata mtime)."""
        k = len(self.stores)
        store = self.store if k == 0 else self.store.replace(".zarr", f"-{k}.zarr")
        table = self.table if k == 0 else f"{self.table}_{k}"
        self.stores.append(store)
        datagen.write_era5_store(store, self.a)
        self.ctx.engine.sql(
            f"CREATE EXTERNAL TABLE {table} STORED AS ZARR "
            f"LOCATION '{store}'{self.options}"
        )

    def sql_op(self, kind: str, query: str, want: list[tuple], rows: int, rtol=1e-9) -> Op:
        eng = self.ctx.engine

        def run():
            return [tuple(r) for r in eng.sql(query).collect()]

        return Op(kind, run, lambda got: rows_close(got, want, rtol), rows=rows)

    def cleanup(self) -> None:
        for store in self.stores:
            _remove_sidecars(store)


def copy_store(engine, view: str, store: str, rows: int) -> None:
    """(Re)write ``store`` from a temp view through the SQL front door of
    the Zarr sink: zlib-compressed v2, one time slab per chunk."""
    shutil.rmtree(store, ignore_errors=True)
    n = engine.sql(
        f"COPY (SELECT * FROM {view}) TO '{store}' STORED AS ZARR "
        "(COORDS 'time,level,lat,lon', COMPRESSION 'zlib')"
    ).collect()[0][0]
    if n != rows:
        raise RuntimeError(f"COPY wrote {n} rows to {store}, expected {rows}")


def stored_bytes(store: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(store) for f in fs)


def _remove_sidecars(store: str | None) -> None:
    """Delete the chunk-stats sidecar the program keeps for ``store``
    outside the work dir (call while the store still exists)."""
    if not store or not os.path.isdir(store):
        return
    from zarr_datafusion_spark.stats.chunk_stats import chunk_stats_sidecar_path

    sidecar = chunk_stats_sidecar_path(store)
    if sidecar is None:
        return
    parent = os.path.dirname(sidecar)
    prefix = os.path.basename(sidecar).rsplit("-", 1)[0] + "-"
    try:
        names = os.listdir(parent)
    except OSError:
        return
    for name in names:
        if name.startswith(prefix):
            os.remove(os.path.join(parent, name))


class ArrayScan(_Era5):
    """Full-table analytic SQL through ``Engine.sql`` on a zlib v2 store
    registered without chunk stats: every query decodes every chunk."""

    name = "array_scan"
    ntime = 24
    scan_columns = ["time", "level", "lat", "lon", "t", "q"]

    def generate(self) -> None:
        super().generate()
        a = self.a
        t64 = a["t"].astype(np.float64)
        self.want = {}
        self.want["groupby_time_level"] = [
            (int(a["time"][i]), int(a["level"][j]), float(t64[i, j].mean()))
            for i in range(self.ntime) for j in range(len(a["level"]))
        ]
        band = np.floor(a["lat"] / 30.0).astype(int)
        self.want["lat_band"] = [
            (int(b), float(t64[:, :, band == b].mean()), int(a["q"][:, :, band == b].max()))
            for b in np.unique(band)
        ]
        self.want["minmax"] = [(float(a["t"].min()), float(a["t"].max()),
                                int(a["q"].astype(np.int64).sum()))]
        north = a["lat"] >= 0
        self.want["level_sum"] = [
            (int(a["level"][j]), int(a["q"][:, j, north, :].astype(np.int64).sum()),
             int(self.ntime * north.sum() * self.nlon))
            for j in range(len(a["level"]))
        ]

    QUERIES = {
        "groupby_time_level": "SELECT time, level, AVG(t) AS a FROM era5 GROUP BY time, level",
        "lat_band": (
            "SELECT CAST(FLOOR(lat / 30) AS INT) AS band, AVG(t) AS a, MAX(q) AS m "
            "FROM era5 GROUP BY CAST(FLOOR(lat / 30) AS INT)"
        ),
        "minmax": "SELECT MIN(t) AS lo, MAX(t) AS hi, SUM(q) AS s FROM era5",
        "level_sum": (
            "SELECT level, SUM(q) AS s, COUNT(*) AS n FROM era5 "
            "WHERE lat >= 0 GROUP BY level"
        ),
    }

    def cycles(self, stream: int) -> Iterator[list[Op]]:
        while True:
            yield [self.sql_op(kind, query, self.want[kind], self.total_rows, rtol=1e-7)
                   for kind, query in self.QUERIES.items()]

    def extra_metrics(self, samples) -> dict:
        ok = [s for s in samples if s.ok]
        busy = sum(s.seconds for s in ok)
        return {"scan_rows_per_s": (sum(s.rows for s in ok) / busy if busy else 0.0, "rows/s")}


class ArrayLookup(_Era5):
    """Short selective queries on the same store shape, registered with
    ``OPTIONS ('chunk_stats' 'true')``; time parameters skew toward the
    most recent slabs."""

    name = "array_lookup"
    ntime = 32
    options = " OPTIONS ('chunk_stats' 'true')"
    scan_columns = ["time", "level", "lat", "lon", "t"]
    #: fixed kind order and fixed window/range sizes; only positions
    #: come from the seed, so every run does the same amount of work;
    #: point selects the most common kind, so the median of any run
    #: falls among point selects rather than between two kinds
    KINDS = ("point", "window", "stats", "point", "sum_range", "point", "avg_range", "topk")

    def extra_metrics(self, samples) -> dict:
        user = self.total_rows * ROW_BYTES
        return {"stored_bytes_per_user_byte": (stored_bytes(self.store) / user, "ratio")}

    def _recent(self, rng) -> int:
        return self.ntime - 1 - min(self.ntime - 1, int(rng.exponential(self.ntime / 8)))

    def cycles(self, stream: int) -> Iterator[list[Op]]:
        rng = np.random.default_rng([self.ctx.seed, stream])
        a = self.a
        time, level, lat, lon = a["time"], a["level"], a["lat"], a["lon"]
        inner = len(level) * self.nlat * self.nlon
        while True:
            cycle = []
            for kind in self.KINDS:
                i = self._recent(rng)
                j = int(rng.integers(0, len(level)))
                if kind == "point":
                    y, x = int(rng.integers(0, self.nlat)), int(rng.integers(0, self.nlon))
                    q = (f"SELECT t, q FROM era5 WHERE time = {time[i]} AND level = {level[j]} "
                         f"AND lat = {_lit(lat[y])} AND lon = {_lit(lon[x])}")
                    want = [(float(a["t"][i, j, y, x]), int(a["q"][i, j, y, x]))]
                    rows = 1
                elif kind == "window":
                    y0 = int(rng.integers(0, self.nlat - 10))
                    x0 = int(rng.integers(0, self.nlon - 20))
                    y1, x1 = y0 + 9, x0 + 19
                    q = (f"SELECT AVG(t) AS a, MAX(q) AS m, COUNT(*) AS n FROM era5 "
                         f"WHERE time = {time[i]} AND level = {level[j]} "
                         f"AND lat BETWEEN {_lit(lat[y0])} AND {_lit(lat[y1])} "
                         f"AND lon BETWEEN {_lit(lon[x0])} AND {_lit(lon[x1])}")
                    tw = a["t"][i, j, y0:y1 + 1, x0:x1 + 1].astype(np.float64)
                    qw = a["q"][i, j, y0:y1 + 1, x0:x1 + 1]
                    want = [(float(tw.mean()), int(qw.max()), int(tw.size))]
                    rows = int(tw.size)
                elif kind == "stats":
                    q = ("SELECT COUNT(*) AS n, MIN(time) AS t0, MAX(time) AS t1, "
                         "MIN(q) AS qmin, MAX(q) AS qmax FROM era5")
                    want = [(self.total_rows, int(time[0]), int(time[-1]),
                             int(a["q"].min()), int(a["q"].max()))]
                    rows = self.total_rows
                elif kind in ("sum_range", "avg_range"):
                    i0 = max(0, i - 3)
                    where = f"WHERE time BETWEEN {time[i0]} AND {time[i]}"
                    rows = (i - i0 + 1) * inner
                    if kind == "sum_range":
                        q = f"SELECT SUM(q) AS s, COUNT(*) AS n FROM era5 {where}"
                        want = [(int(a["q"][i0:i + 1].astype(np.int64).sum()), rows)]
                    else:
                        q = f"SELECT AVG(t) AS a FROM era5 {where}"
                        want = [(float(a["t"][i0:i + 1].astype(np.float64).mean()),)]
                else:  # topk: newest rows at or before a time bound
                    k = int(rng.integers(3, 20))
                    q = (f"SELECT time, level, lat, lon, t FROM era5 WHERE time <= {time[i]} "
                         f"ORDER BY time DESC, level, lat, lon LIMIT {k}")
                    want = [(int(time[i]), int(level[0]), float(lat[0]), float(lon[x]),
                             float(a["t"][i, 0, 0, x])) for x in range(k)]
                    rows = k
                cycle.append(self.sql_op(kind, q, want, rows, rtol=1e-7))
            yield cycle


class ArrayIngest(_Era5):
    """Writes beside reads: ``COPY ... STORED AS ZARR`` of an initial
    image, then per iteration append one time slab, read it back and
    count through a re-registered ``chunk_stats`` table."""

    name = "array_ingest"
    repeatable = False
    nlat, nlon = 91, 180
    initial = 3
    table = "ingest"
    scan_columns = ["time", "level", "lat", "lon", "t"]

    def generate(self) -> None:
        self.store = os.path.join(self.ctx.workdir, "array_ingest.zarr")
        self.stores: list[str] = []
        self.slab_rows = len(datagen.LEVELS) * self.nlat * self.nlon
        src = datagen.era5_frame(self.ctx.seed, 0, self.initial, self.nlat, self.nlon)
        self.ctx.spark.createDataFrame(src).createOrReplaceTempView("ingest_src")

    def _register(self, store: str | None = None, table: str | None = None) -> None:
        self.ctx.engine.sql(
            f"CREATE EXTERNAL TABLE {table or self.table} STORED AS ZARR "
            f"LOCATION '{store or self.store}' OPTIONS ('chunk_stats' 'true')"
        )

    def setup(self) -> None:
        """COPY the initial image to a fresh store and register it.
        Set-up k > 0 writes its own store and table, leaving the store
        the ops append to alone."""
        k = len(self.stores)
        store = self.store if k == 0 else self.store.replace(".zarr", f"-{k}.zarr")
        self.stores.append(store)
        copy_store(self.ctx.engine, "ingest_src", store, self.initial * self.slab_rows)
        self._register(store, self.table if k == 0 else f"{self.table}_{k}")
        if k == 0:
            self.slabs = self.initial

    def cycles(self, stream: int) -> Iterator[list[Op]]:
        from pyspark.sql import functions as F

        from zarr_datafusion_spark.zarr import append_zarr, read_zarr

        spark, eng, store = self.ctx.spark, self.ctx.engine, self.store
        while True:
            s = self.slabs
            pdf = datagen.era5_frame(self.ctx.seed, s, 1, self.nlat, self.nlon)
            df = spark.createDataFrame(pdf)
            t_new = int(pdf["time"].iloc[0])
            want_q = int(pdf["q"].astype(np.int64).sum())
            want_t = float(pdf["t"].astype(np.float64).sum())
            rows = self.slab_rows

            def append(df=df):
                return append_zarr(df, store)

            def append_ok(res, s=s):
                ok = res.get("appended_slabs") == 1 and res.get("outer_size") == s + 1
                if ok:
                    self.slabs = s + 1
                return ok

            append_op = Op("append", append, append_ok, category="write", rows=rows)

            def read_back(t_new=t_new):
                r = (read_zarr(spark, store).where(F.col("time") == t_new)
                     .agg(F.count("*"), F.sum("q"), F.sum("t")).collect()[0])
                return tuple(r)

            def read_ok(got, want=(rows, want_q, want_t)):
                return got[0] == want[0] and got[1] == want[1] and close(got[2], want[2], 1e-7)

            read_op = Op("read_newest", read_back, read_ok, rows=rows)

            def count():
                self._register()
                return eng.sql(f"SELECT COUNT(*) AS n FROM {self.table}").collect()[0][0]

            count_op = Op("count", count, lambda n: n == self.slabs * self.slab_rows,
                          rows=(s + 1) * self.slab_rows)
            yield [append_op, read_op, count_op]

    def extra_metrics(self, samples) -> dict:
        ok = [s for s in samples if s.ok]
        writes = [s for s in ok if s.category == "write"]
        reads = [s for s in ok if s.category == "read"]
        w_busy = sum(s.seconds for s in writes)
        user = self.slabs * self.slab_rows * ROW_BYTES
        return {
            "read_p50_s": (_median([s.seconds for s in reads]), "s"),
            "write_p50_s": (_median([s.seconds for s in writes]), "s"),
            "write_rows_per_s": (sum(s.rows for s in writes) / w_busy if w_busy else 0.0, "rows/s"),
            "stored_bytes_per_user_byte": (stored_bytes(self.store) / user, "ratio"),
        }


def _median(xs: list[float]) -> float:
    return float(np.median(xs)) if xs else 0.0


# ---------------------------------------------------------------------------
# Operator registries on seeded parquet
# ---------------------------------------------------------------------------

#: The entries of one op, run in this order.  The other TPC-H entries
#: are left out to keep one op near 5 s.
PIPELINE_ENTRIES = (
    "tpch_q3_shipping_priority", "text_token_count", "agg_groupby", "dedup_exact",
    "tpch_q6_forecast_revenue", "sim_topk_bruteforce", "search_bm25_topk",
)

TPCH_TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
               "lineitem", "events", "documents", "embeddings")


def normalize_frame(df):
    """Column-sorted, row-sorted frame with Decimal -> float and dates ->
    datetime64, so Spark and DuckDB answers compare cell by cell."""
    import pandas as pd

    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]")
        elif df[c].dtype == object and len(df[c].dropna()):
            v = df[c].dropna().iloc[0]
            if type(v).__name__ == "Decimal":
                df[c] = df[c].astype(float)
            elif type(v).__name__ == "date":
                df[c] = pd.to_datetime(df[c]).astype("datetime64[us]")
    if len(df):
        df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)
    return df


def frames_match(got, want, rtol: float = 1e-9) -> bool:
    import pandas as pd

    got, want = normalize_frame(got), normalize_frame(want)
    if list(got.columns) != list(want.columns) or len(got) != len(want):
        return False
    for c in got.columns:
        g, w = got[c], want[c]
        if pd.api.types.is_float_dtype(g) or pd.api.types.is_float_dtype(w):
            g, w = g.astype(float).to_numpy(), w.astype(float).to_numpy()
            if not np.all(np.isclose(g, w, rtol=rtol, atol=1e-9, equal_nan=True)):
                return False
        elif not ((g.isna() == w.isna()).all()
                  and (g[~g.isna()].astype(str) == w[~w.isna()].astype(str)).all()):
            return False
    return True


class PipelineSql(Workload):
    """Operator-registry entries on seeded TPC-H-shaped parquet, each
    checked against its DuckDB ``ORACLE`` SQL.  One op runs every entry
    of :data:`PIPELINE_ENTRIES` once: the entries' latencies differ by up
    to 6x, so per-entry samples would give a median that jumps between
    entries as the op count of a run changes."""

    name = "pipeline_sql"
    #: TPC-H scale of the generated tables (lineitem ~ 6M x SF rows)
    SF = 0.01

    def generate(self) -> None:
        import duckdb

        from zarr_datafusion_spark.operators import (
            dedup, extras, relational, similarity, textstats,
        )

        self.sf_dir = datagen.write_tpch(
            os.path.join(self.ctx.workdir, "tpch"), self.ctx.seed, self.SF)
        self.fns, oracle = {}, {}
        for mod in (relational, dedup, extras, similarity, textstats):
            self.fns.update(mod.QUERIES)
            oracle.update(mod.ORACLE)
        con = duckdb.connect()
        for t in TPCH_TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{os.path.join(self.sf_dir, t)}.parquet')")
        self.want = {n: con.sql(oracle[n]).df() for n in PIPELINE_ENTRIES}
        con.close()

    def setup(self) -> None:
        self.ctx.engine.register_parquet_dir(self.sf_dir)

    def run_entries(self) -> dict:
        ctx = self.ctx
        out = {}
        for name in PIPELINE_ENTRIES:
            with ctx.tracer.span("operators.build"):
                df = self.fns[name](ctx.spark, self.sf_dir)
            with ctx.tracer.span("operators.exec"):
                out[name] = df.toPandas()
        return out

    def check(self, got: dict) -> bool:
        bad = [n for n in PIPELINE_ENTRIES if not frames_match(got[n], self.want[n])]
        for name in bad:
            print(f"# wrong answer: {name}", file=sys.stderr)
        return not bad

    def cycles(self, stream: int) -> Iterator[list[Op]]:
        """Two passes per iteration: a pass takes 5-8 s, and with one pass
        per iteration a 15-s loop held only two, so one slow pass moved
        a run's throughput by a quarter."""
        while True:
            yield [Op("entries", self.run_entries, self.check) for _ in range(2)]


WORKLOADS = {w.name: w for w in (ArrayScan, ArrayLookup, ArrayIngest, PipelineSql)}
