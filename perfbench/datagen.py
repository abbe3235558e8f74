"""Seeded input generators for the benchmark.

Everything here is a pure function of ``seed`` (and of the sizes the
workloads pass), so a rerun with the same seed writes byte-identical
stores and parquet files.  The generators run before any timed step.

* ERA5-shaped gridded data: ``time x level x lat x lon`` with one
  temperature-like float32 variable ``t`` and one humidity-like int32
  variable ``q``, one time slab (both levels) per chunk.  Slab ``i`` is
  derived from ``(seed, i)`` alone, so appended slabs can be generated
  one at a time and their expected contents recomputed anywhere.
* TPC-H-shaped parquet tables with the column names, types and value
  domains the operator registries query (region ... lineitem, events,
  documents, embeddings).
"""

from __future__ import annotations

import os

import numpy as np

LEVELS = (500, 850)
#: hours since 1970-01-01 of 2024-01-01T00; time steps are 6-hourly
TIME0_H = 473_352
TIME_STEP_H = 6


def era5_coords(ntime: int, nlat: int, nlon: int) -> dict[str, np.ndarray]:
    """Coordinate values in dimension order.  Sizes must differ pairwise:
    unnamed stores infer the dimension order by matching sizes."""
    sizes = [ntime, len(LEVELS), nlat, nlon]
    if len(set(sizes)) != len(sizes):
        raise ValueError(f"dimension sizes must be distinct, got {sizes}")
    return {
        "time": TIME0_H + TIME_STEP_H * np.arange(ntime, dtype=np.int64),
        "level": np.asarray(LEVELS, dtype=np.int64),
        "lat": np.linspace(-90.0, 90.0, nlat),
        "lon": np.arange(nlon, dtype=np.float64) * (360.0 / nlon),
    }


def era5_slab(seed: int, i: int, nlat: int, nlon: int) -> tuple[np.ndarray, np.ndarray]:
    """Time slab ``i``: ``(t, q)`` of shape ``(levels, nlat, nlon)``."""
    rng = np.random.default_rng([seed, i])
    lat = np.radians(np.linspace(-90.0, 90.0, nlat))[:, None]
    lon = np.radians(np.arange(nlon) * (360.0 / nlon))[None, :]
    season = 4.0 * np.sin(2.0 * np.pi * i / 28.0)
    field = 300.0 - 45.0 * np.sin(lat) ** 2 + 3.0 * np.cos(2.0 * lon) + season
    shape = (len(LEVELS), nlat, nlon)
    level_off = np.array([-32.0, -9.0])[:, None, None]
    t = (field[None] + level_off + rng.normal(0.0, 1.5, shape)).astype(np.float32)
    moist = 9000.0 * np.cos(lat) ** 2 + 400.0 * np.sin(3.0 * lon)
    q = (moist[None] * np.array([0.4, 1.0])[:, None, None]
         + rng.integers(0, 600, shape)).astype(np.int32)
    return t, q


def era5_arrays(seed: int, ntime: int, nlat: int, nlon: int) -> dict[str, np.ndarray]:
    """Whole-store values: the coordinates plus stacked ``t``/``q``."""
    out = dict(era5_coords(ntime, nlat, nlon))
    slabs = [era5_slab(seed, i, nlat, nlon) for i in range(ntime)]
    out["t"] = np.stack([s[0] for s in slabs])
    out["q"] = np.stack([s[1] for s in slabs])
    return out


def write_era5_store(path: str, arrays: dict[str, np.ndarray], compression: str = "zlib") -> str:
    """Write ``arrays`` as a v2 store with one chunk per time slab."""
    from zarr_datafusion_spark.zarr.writer import write_store

    grid = arrays["t"].shape
    spec = {name: (arrays[name], arrays[name].shape) for name in ("time", "level", "lat", "lon")}
    for var in ("t", "q"):
        spec[var] = (arrays[var], (1,) + grid[1:])
    return write_store(path, spec, zarr_format=2, compression=compression)


def era5_frame(seed: int, first: int, count: int, nlat: int, nlon: int):
    """Flattened row-major pandas frame of slabs ``[first, first+count)``
    (the dense-grid input the Zarr sink expects)."""
    import pandas as pd

    ts, qs = zip(*(era5_slab(seed, i, nlat, nlon) for i in range(first, first + count)))
    time, level, lat, lon = np.meshgrid(
        TIME0_H + TIME_STEP_H * np.arange(first, first + count, dtype=np.int64),
        np.asarray(LEVELS, dtype=np.int64),
        np.linspace(-90.0, 90.0, nlat),
        np.arange(nlon, dtype=np.float64) * (360.0 / nlon),
        indexing="ij",
    )
    return pd.DataFrame({
        "time": time.ravel(), "level": level.ravel(),
        "lat": lat.ravel(), "lon": lon.ravel(),
        "t": np.stack(ts).ravel(), "q": np.stack(qs).ravel(),
    })


# ---------------------------------------------------------------------------
# TPC-H-shaped parquet tables
# ---------------------------------------------------------------------------

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["de", "en", "es", "fr"]
_WORDS = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()


def _days(rng, n: int, start: str, span_days: int) -> np.ndarray:
    base = np.datetime64(start, "D")
    return (base + rng.integers(0, span_days, n)).astype("datetime64[ms]")


def tpch_tables(seed: int, sf: float) -> dict:
    """name -> pyarrow Table.  Row counts follow TPC-H ratios
    (lineitem ~ 6M x sf); ``(l_orderkey, l_linenumber)`` is unique, so
    every LIMIT over lineitem has a deterministic answer."""
    import pyarrow as pa

    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), max(10, int(10_000 * sf)), int(200_000 * sf)
    n_ord, n_line = int(1_500_000 * sf), int(6_000_000 * sf)
    n_events, n_docs, n_vecs = int(1_000_000 * sf), max(50, int(50_000 * sf)), max(50, int(50_000 * sf))

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    def pick(values, n):
        return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)].tolist())

    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(_REGIONS),
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
    })
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(money(-999.99, 9999.99, n_cust)),
        "c_mktsegment": pick(_SEGMENTS, n_cust),
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(money(-999.99, 9999.99, n_supp)),
    })
    adj = np.asarray(_ADJ, dtype=object)[rng.integers(0, 8, n_part)]
    noun = np.asarray(_NOUN, dtype=object)[rng.integers(0, 8, n_part)]
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": pa.array([f"{a} {b}" for a, b in zip(adj, noun)]),
        "p_brand": pa.array([f"Brand#{k}" for k in rng.integers(1, 26, n_part)]),
        "p_type": pick(_PTYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2)),
    })
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord).astype(np.int64)),
        "o_orderstatus": pick(["F", "O", "P"], n_ord),
        "o_totalprice": pa.array(money(1000.0, 500_000.0, n_ord)),
        "o_orderdate": pa.array(_days(rng, n_ord, "1995-01-01", 2404), pa.timestamp("ms")),
        "o_orderpriority": pick(_PRIORITIES, n_ord),
    })
    # 1..7 lines per order, numbered from 1, until n_line rows exist
    per_order = rng.integers(1, 8, n_ord)
    okey = np.repeat(np.arange(n_ord, dtype=np.int64), per_order)[:n_line]
    starts = np.r_[0, np.flatnonzero(np.diff(okey)) + 1]
    linenumber = np.arange(len(okey)) - np.repeat(starts, np.diff(np.r_[starts, len(okey)])) + 1
    n_line = len(okey)
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(okey),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line).astype(np.int64)),
        "l_linenumber": pa.array(linenumber.astype(np.int32)),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900.0, 2100.0, n_line), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
        "l_returnflag": pick(["A", "N", "R"], n_line),
        "l_linestatus": pick(["F", "O"], n_line),
        "l_shipdate": pa.array(_days(rng, n_line, "1995-01-02", 2498), pa.timestamp("ms")),
    })
    ts = np.datetime64("2024-01-01", "us") + np.sort(
        rng.integers(0, 30 * 86_400_000_000, n_events)
    ).astype("timedelta64[us]")
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_events, dtype=np.int64)),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 150, n_events).astype(np.int64)),
        "event_type": pick(_EVENT_TYPES, n_events),
        "value": pa.array(money(0.01, 490.0, n_events)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]),
    })
    words = np.asarray(_WORDS, dtype=object)
    texts = [" ".join(words[rng.integers(0, len(words), rng.integers(10, 100))]) for _ in range(n_docs)]
    # every tenth document repeats an earlier one, so dedup has work
    for d in range(10, n_docs, 10):
        texts[d] = texts[int(rng.integers(0, d))]
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pick(_LANGS, n_docs),
        "source": pick([f"src{i}" for i in range(20)], n_docs),
        "n_chars": pa.array(np.array([len(x) for x in texts], dtype=np.int64)),
    })
    vecs = rng.normal(0.0, 0.12, (n_vecs, 64)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_vecs, dtype=np.int64)),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vecs).astype(np.int32)),
    })
    return t


def write_tpch(sf_dir: str, seed: int, sf: float) -> str:
    """Write :func:`tpch_tables` as ``<sf_dir>/<name>.parquet``."""
    import pyarrow.parquet as pq

    os.makedirs(sf_dir, exist_ok=True)
    for name, table in tpch_tables(seed, sf).items():
        pq.write_table(table, os.path.join(sf_dir, f"{name}.parquet"))
    return sf_dir
