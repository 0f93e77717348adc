"""Pipeline runner CLI — the reference's entry points, one lazy plan.

Mirrors the CLI surface of the reference pipelines
(precipitation_pipeline.py:666-697 argparse: --start-year/--start-month/
--end-year/--end-month, stage-skip flags; pipeline_manager.py:261-305
fan-out over data types) but the stages are a single Catalyst plan
instead of file-IR between steps (SURVEY.md §3.1):

    read → inclusive month filter (P2) → NaN/null drop (P3) →
    year/month derive (F1) → [land-mask semi-join (P4)] →
    polygonize (U1 vectorized) → GeoJSON structs (F7/F8) →
    partitioned parquet + per-month GeoJSON sinks (K1/K2/K7)

Stage-resume (--skip-*) becomes sink selection: lazy lineage makes
recompute free of bookkeeping, and persisted parquet is the only
materialization. Usage:

    python -m climate_data_pipelines_spark.plans.runner \
        --input /root/testdata/sf0.001/events.parquet \
        --output /tmp/out --start-year 2024 --start-month 1 \
        --end-year 2024 --end-month 12
"""

from __future__ import annotations

import argparse

from pyspark.sql import functions as F

from climate_data_pipelines_spark import get_spark, sinks
from climate_data_pipelines_spark.catalog import ensure_session_confs, normalize_ns_timestamp
from climate_data_pipelines_spark.operators import climate


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(description="climate pipeline (one lazy Spark plan)")
    p.add_argument("--input", required=True, help="parquet path of the observation table")
    p.add_argument("--output", required=True, help="output directory")
    # reference defaults: 2022-01 → 2025-05 (humidity_pipeline.py:27-30)
    p.add_argument("--start-year", type=int, default=2022)
    p.add_argument("--start-month", type=int, default=1, choices=range(1, 13))
    p.add_argument("--end-year", type=int, default=2025)
    p.add_argument("--end-month", type=int, default=5, choices=range(1, 13))
    p.add_argument("--ts-col", default="ts")
    p.add_argument("--value-col", default="value")
    p.add_argument("--lat-col", default=None, help="latitude column (enables polygonize)")
    p.add_argument("--lon-col", default=None)
    p.add_argument("--skip-parquet", action="store_true", help="skip the parquet sink")
    p.add_argument("--skip-geojson", action="store_true", help="skip the GeoJSON sink")
    return p


def validate(args) -> None:
    # reference CLI validation (precipitation_pipeline.py:683-695):
    # month range + year sanity + ordering
    if not (1980 <= args.start_year <= 2030 and 1980 <= args.end_year <= 2030):
        raise SystemExit("years must be in [1980, 2030]")
    if (args.start_year, args.start_month) > (args.end_year, args.end_month):
        raise SystemExit("start year-month must not be after end year-month")


def run(args, spark=None) -> dict[str, int]:
    if spark is None:
        spark = get_spark(app_name="climate-pipeline")
    ensure_session_confs(spark)

    df = normalize_ns_timestamp(spark.read.parquet(args.input), args.ts_col)
    obs = climate.observations(
        df,
        ts_col=args.ts_col,
        value_col=args.value_col,
        start=(args.start_year, args.start_month),
        end=(args.end_year, args.end_month),
    )

    from pyspark.sql import Observation

    written = {}
    months = None
    if not args.skip_parquet:
        # P9 empty-input guard, lazily: Observation metrics ride the
        # write action (no second scan of the output), mirroring the
        # reference's `if df.empty: return False` checks
        # (humidity_pipeline.py:117-134) without an extra job.
        guard = Observation("observations_guard")
        observed = obs.observe(
            guard,
            F.count(F.lit(1)).alias("n_rows"),
            F.count_if(F.col(args.value_col).isNull()).alias("n_null_values"),
        )
        sinks.write_parquet_partitioned(
            observed, f"{args.output}/observations", ["year", "month"]
        )
        metrics = guard.get
        if metrics["n_rows"] == 0:
            print("WARNING: no observations in the selected range (empty input)")
        written["observations"] = metrics["n_rows"]
        months = _partition_rows(f"{args.output}/observations")

    if not args.skip_geojson and args.lat_col and args.lon_col:
        polys = climate.polygonize(obs, lat_col=args.lat_col, lon_col=args.lon_col)
        feats = climate.geojson_features(polys, value_col=args.value_col, props=["year", "month"])
        fc = climate.feature_collection(feats, ["year", "month"])
        # one FeatureCollection document (one text line) per row
        docs = Observation("geojson_docs")
        sinks.write_geojson_per_group(
            fc.observe(docs, F.count(F.lit(1)).alias("n")), f"{args.output}/geojson"
        )
        written["geojson_docs"] = docs.get["n"]

    # per-month cardinality report (the reference's monthly progress
    # logging, precipitation_pipeline.py:167): the row counts of the
    # parquet sink's year=/month= partitions, summed from their footers
    # on the driver. Without that sink the report is its own tiny
    # aggregate, sorted on the driver.
    if months is None:
        months = {
            (r.year, r.month): r.n
            for r in obs.groupBy("year", "month").agg(F.count("*").alias("n")).collect()
        }
    for (y, m), n in sorted(months.items()):
        print(f"  {y}-{m:02d}: {n} observations")
    return written


def _partition_rows(path: str) -> dict[tuple[int, int], int]:
    """``{(year, month): rows}`` of the parquet table at ``path``
    partitioned by ``year``/``month``, from its file footers (no job)."""
    import glob
    import os

    out = {}
    for d in glob.glob(os.path.join(path, "year=*", "month=*")):
        y = os.path.basename(os.path.dirname(d)).split("=", 1)[1]
        m = os.path.basename(d).split("=", 1)[1]
        n = sinks.parquet_rows(d)
        if n > 0:
            out[(int(y), int(m))] = n
    return out


def main() -> None:
    args = build_parser().parse_args()
    validate(args)
    written = run(args)
    print({"written": written})


if __name__ == "__main__":
    main()
