from __future__ import annotations

import json
import shutil
import tempfile

import pytest

from climate_data_pipelines_spark.plans import runner


@pytest.fixture()
def outdir():
    d = tempfile.mkdtemp(prefix="cdp_cli_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _args(argv):
    return runner.build_parser().parse_args(argv)


def test_runner_end_to_end(spark, sf_dir, outdir):
    args = _args(
        [
            "--input", f"{sf_dir}/events.parquet",
            "--output", outdir,
            "--start-year", "2024", "--start-month", "1",
            "--end-year", "2024", "--end-month", "6",
            "--lat-col", "user_id", "--lon-col", "event_id",
        ]
    )
    runner.validate(args)
    written = runner.run(args, spark=spark)
    assert written["observations"] == 1000
    back = spark.read.parquet(f"{outdir}/observations")
    assert {tuple(r) for r in back.select("year", "month").distinct().collect()} == {(2024, 1)}
    doc = json.loads(spark.read.text(f"{outdir}/geojson").first().value)
    assert doc["type"] == "FeatureCollection"


def test_runner_validation_rejects_inverted_range():
    args = _args(["--input", "x", "--output", "y", "--start-year", "2025", "--end-year", "2024"])
    with pytest.raises(SystemExit):
        runner.validate(args)


def test_runner_validation_rejects_wild_year():
    args = _args(["--input", "x", "--output", "y", "--start-year", "1800"])
    with pytest.raises(SystemExit):
        runner.validate(args)


def test_runner_skip_flags(spark, sf_dir, outdir):
    args = _args(
        [
            "--input", f"{sf_dir}/events.parquet",
            "--output", outdir,
            "--start-year", "2024", "--end-year", "2024", "--end-month", "12",
            "--skip-parquet", "--skip-geojson",
        ]
    )
    written = runner.run(args, spark=spark)
    assert written == {}


def test_runner_reports_without_read_back_in_at_most_four_jobs(spark, outdir, capsys):
    """The ETL reads, writes parquet and writes GeoJSON, and nothing
    else: its per-month report comes from the parquet partitions'
    footers and its GeoJSON document count from an Observation on the
    write (10 jobs when it read the GeoJSON back and re-scanned the
    input). The printed counts equal counts taken independently from
    the input rows."""
    import datetime as dt
    import math

    months = [(2023, 11), (2023, 12), (2024, 1), (2024, 3), (2024, 4)]
    rows = []
    for k, (y, m) in enumerate(months):
        for i in range(5 + 3 * k):
            v = [float(i), None, math.nan][i % 3] if i < 6 else float(i)
            rows.append((dt.datetime(y, m, 1 + i % 27, 6), v, i, k))
    src = f"{outdir}/in.parquet"
    spark.createDataFrame(rows, "ts timestamp, value double, lat int, lon int").write.parquet(src)
    # window 2023-12 .. 2024-03: 2024-02 has no rows, 2023-11 and
    # 2024-04 are outside it
    window = {(2023, 12), (2024, 1), (2024, 2), (2024, 3)}
    want = {}
    for ts, v, _, _ in rows:
        if (ts.year, ts.month) in window and v is not None and not math.isnan(v):
            want[(ts.year, ts.month)] = want.get((ts.year, ts.month), 0) + 1
    args = _args([
        "--input", src, "--output", f"{outdir}/out",
        "--start-year", "2023", "--start-month", "12",
        "--end-year", "2024", "--end-month", "3",
        "--lat-col", "lat", "--lon-col", "lon",
    ])
    sc = spark.sparkContext
    group = "runner-etl"
    capsys.readouterr()
    sc.setJobGroup(group, "runner ETL")
    try:
        written = runner.run(args, spark=spark)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    printed = capsys.readouterr().out.splitlines()
    assert len(list(sc.statusTracker().getJobIdsForGroup(group))) <= 4
    assert printed == [
        f"  {y}-{m:02d}: {n} observations" for (y, m), n in sorted(want.items())
    ]
    assert written == {"observations": sum(want.values()), "geojson_docs": len(want)}
    lines = spark.read.text(f"{outdir}/out/geojson").count()
    assert lines == len(want)

    # parquet skipped: the report is its own aggregate
    args.skip_parquet, args.output = True, f"{outdir}/out2"
    written = runner.run(args, spark=spark)
    assert written == {"geojson_docs": len(want)}
    assert capsys.readouterr().out.splitlines() == printed
    # both sinks skipped: the report runs its own job, same lines
    args.skip_geojson, args.output = True, f"{outdir}/out3"
    assert runner.run(args, spark=spark) == {}
    assert capsys.readouterr().out.splitlines() == printed

    # a window without rows: both sinks write nothing, nothing printed
    args.skip_parquet = args.skip_geojson = False
    args.start_year, args.end_year, args.output = 2020, 2020, f"{outdir}/out4"
    assert runner.run(args, spark=spark) == {"observations": 0, "geojson_docs": 0}
    out = capsys.readouterr().out.splitlines()
    assert out == ["WARNING: no observations in the selected range (empty input)"]
