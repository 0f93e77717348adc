"""Seeded inputs for the benchmark workloads.

Every input is a parquet file written here from ``seed``; the engine
only ever sees these files. The same seed gives byte-identical inputs.

- climate cube: the packaged land-mask cells (0.5 deg x 0.625 deg,
  70,366 land cells) x ``months`` monthly steps, ``NAN_FRAC`` of the
  values NaN, one row group per month (a time-chunked cube);
- analytics tables: TPC-H-like ``region``/``nation``/``customer``/
  ``orders``/``lineitem`` at the sf0.01 fixture's row counts and value
  domains (FIXTURES.md), and ``events`` from the repo's seeded
  generator thinned to the sf0.01 row count;
- curation corpus: Zipf-Mandelbrot documents, and per-increment
  batches in their own ``doc_id`` ranges.
"""

from __future__ import annotations

import datetime as dt
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO, "tools"))

import gen_scale_fixture as fixture  # noqa: E402

LAND_MASK = os.path.join(
    REPO, "climate_data_pipelines_spark", "data", "land_mask", "land_mask.parquet"
)
NAN_FRAC = 0.02
CUBE_START = (2022, 1)

# the held-out eval source of curate_corpus (its default
# benchmark_source); increment batches leave it out, as a crawl would
BENCH_SOURCE = "src0"
# increment batch i takes doc_ids [(i + 1) * BATCH_ID_STRIDE, ...):
# disjoint from the base (ids < n_docs) and from every other batch
BATCH_ID_STRIDE = 10_000_000


def month_start(i: int) -> dt.datetime:
    """First instant of month ``i`` counted from ``CUBE_START``."""
    y, m = divmod(CUBE_START[0] * 12 + CUBE_START[1] - 1 + i, 12)
    return dt.datetime(y, m + 1, 1)


def gen_cube(path: str, seed: int, months: int) -> dict[tuple[int, int], int]:
    """Write the gridded cube ``(ts, lat, lon, value)`` and return the
    number of non-NaN values per (year, month) — the count a correct
    ETL keeps."""
    cells = pq.read_table(LAND_MASK)
    land = cells.filter(cells["is_land"])
    lat = land["lat"].to_numpy()
    lon = land["lon"].to_numpy()
    n = len(lat)
    rng = np.random.default_rng(seed)
    expected = {}
    with pq.ParquetWriter(path, pa.schema([
        ("ts", pa.timestamp("us")), ("lat", pa.float64()),
        ("lon", pa.float64()), ("value", pa.float64()),
    ])) as w:
        for i in range(months):
            t = month_start(i)
            # a smooth seasonal field plus noise, in kelvin-like units
            value = 288.0 - 0.4 * np.abs(lat) + 8.0 * np.sin(
                2 * np.pi * (i % 12) / 12.0
            ) + rng.normal(0.0, 2.0, n)
            value[rng.random(n) < NAN_FRAC] = np.nan
            expected[(t.year, t.month)] = int(np.count_nonzero(~np.isnan(value)))
            w.write_table(pa.table({
                "ts": pa.array(np.full(n, np.datetime64(t, "us"))),
                "lat": lat, "lon": lon, "value": value,
            }))
    return expected


REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
# the sf0.01 fixture's row counts (FIXTURES.md)
N_CUSTOMER, N_ORDERS, N_LINEITEM = 1_500, 15_000, 60_000
N_PART, N_SUPPLIER = 2_000, 100
EVENTS_STRIDE = 10  # every 10th event of the sf0.1-shaped stream: 10k events


def _days(rng, start: dt.date, span: int, n: int) -> pa.Array:
    base = np.datetime64(start, "D")
    d = base + rng.integers(0, span, n).astype("timedelta64[D]")
    return pa.array(d.astype("datetime64[us]"))


def _pick(rng, values: list[str], n: int) -> pa.Array:
    return pa.array(np.array(values, dtype=object)[rng.integers(0, len(values), n)])


def gen_tables(out_dir: str, seed: int) -> None:
    """The analytics tables at the sf0.01 fixture's shape: a TPC-H-like
    star schema (``region``, ``nation``, ``customer``, ``orders``,
    ``lineitem``) and the ``events`` observation stream."""
    rng = np.random.default_rng(seed)
    i32 = pa.int32()
    tables = {
        "region": {
            "r_regionkey": pa.array(range(5), i32),
            "r_name": pa.array(REGIONS),
        },
        "nation": {
            "n_nationkey": pa.array(range(25), i32),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
        },
        "customer": {
            "c_custkey": pa.array(range(N_CUSTOMER), pa.int64()),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(N_CUSTOMER)]),
            "c_nationkey": pa.array(rng.integers(0, 25, N_CUSTOMER), i32),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, N_CUSTOMER), 2),
            "c_mktsegment": _pick(rng, SEGMENTS, N_CUSTOMER),
        },
        "orders": {
            "o_orderkey": pa.array(range(N_ORDERS), pa.int64()),
            "o_custkey": rng.integers(0, N_CUSTOMER, N_ORDERS),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], N_ORDERS),
            "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, N_ORDERS), 2),
            "o_orderdate": _days(rng, dt.date(1995, 1, 1), 2404, N_ORDERS),
            "o_orderpriority": _pick(rng, PRIORITIES, N_ORDERS),
        },
        "lineitem": {
            "l_orderkey": rng.integers(0, N_ORDERS, N_LINEITEM),
            "l_partkey": rng.integers(0, N_PART, N_LINEITEM),
            "l_suppkey": rng.integers(0, N_SUPPLIER, N_LINEITEM),
            "l_linenumber": pa.array(rng.integers(1, 8, N_LINEITEM), i32),
            "l_quantity": rng.integers(1, 51, N_LINEITEM).astype(np.float64),
            "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, N_LINEITEM), 2),
            "l_discount": rng.integers(0, 11, N_LINEITEM) / 100.0,
            "l_tax": rng.integers(0, 9, N_LINEITEM) / 100.0,
            "l_returnflag": _pick(rng, ["A", "N", "R"], N_LINEITEM),
            "l_linestatus": _pick(rng, ["F", "O"], N_LINEITEM),
            "l_shipdate": _days(rng, dt.date(1995, 1, 2), 2498, N_LINEITEM),
        },
    }
    for name, cols in tables.items():
        pq.write_table(pa.table(cols), f"{out_dir}/{name}.parquet")
    events = fixture.gen_events(1, seed=seed + 1)
    pq.write_table(
        events.take(np.arange(0, events.num_rows, EVENTS_STRIDE)),
        f"{out_dir}/events.parquet",
    )


def gen_corpus(out_dir: str, seed: int, n_docs: int) -> None:
    """The base corpus ``documents`` table (Zipf text)."""
    pq.write_table(
        fixture.gen_documents_zipf(n_docs, seed=seed),
        f"{out_dir}/documents.parquet",
    )


def gen_batch(path: str, seed: int, index: int, n_docs: int) -> None:
    """Increment batch ``index``: fresh Zipf documents (the same text
    for every index of one seed, so increments of a run do equal work),
    renumbered into the batch's own id range and without
    benchmark-source documents."""
    t = fixture.gen_documents_zipf(n_docs, seed=seed + 1)
    t = t.filter(pc.not_equal(t["source"], BENCH_SOURCE))
    ids = np.asarray(t["doc_id"]) + batch_id_offset(index)
    t = t.set_column(0, "doc_id", pa.array(ids, pa.int64()))
    pq.write_table(t, path)


def batch_id_offset(index: int) -> int:
    return (index + 1) * BATCH_ID_STRIDE
