from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from climate_data_pipelines_spark.catalog import (
    TABLES,
    load_table,
    load_tables,
    normalize_ns_timestamp,
    register_views,
    table_path,
)


def test_all_tables_load(spark, sf_dir):
    dfs = load_tables(spark, sf_dir)
    assert set(dfs) == set(TABLES)
    for name, df in dfs.items():
        assert df.limit(1).count() == 1, name


def _jobs_of(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(list(sc.statusTracker().getJobIdsForGroup(group)))


def _inferred(spark, path, name):
    """What a plain schema-inference read of ``path`` gives."""
    df = spark.read.parquet(path)
    return normalize_ns_timestamp(df, "ts") if name == "events" else df


def _simple(schema):
    return {f.name: f.dataType.simpleString() for f in schema.fields}


def _assert_declared_equals_inferred(spark, sf_dir, names):
    # load_table reads with TABLES, so comparing its schema with TABLES
    # proves nothing; the drift check is against an inference read
    for name in names:
        got = _simple(_inferred(spark, table_path(sf_dir, name), name).schema)
        assert got == _simple(TABLES[name]), f"{name}: {got} != declared"


def test_declared_schema_matches_parquet(spark, sf_dir):
    _assert_declared_equals_inferred(spark, sf_dir, TABLES)


def test_events_ts_is_timestamp_microseconds(spark, sf_dir):
    # the fixture's TIMESTAMP(MICROS, isAdjustedToUTC=false) reads as
    # TIMESTAMP_NTZ (catalog declares the same).
    df = load_table(spark, sf_dir, "events")
    assert dict(df.dtypes)["ts"] == "timestamp_ntz"
    row = df.orderBy("event_id").first()
    assert row.ts.year == 2024


def test_declared_schema_matches_benchmark_tables(spark, tmp_path):
    from perfbench import gen

    gen.gen_tables(str(tmp_path), seed=5)
    names = [t for t in TABLES if (tmp_path / f"{t}.parquet").exists()]
    assert {"region", "customer", "orders", "lineitem", "events"} <= set(names)
    _assert_declared_equals_inferred(spark, str(tmp_path), names)


def test_load_table_launches_no_job(spark, sf_dir):
    for name in TABLES:
        df, jobs = _jobs_of(spark, f"load-{name}", lambda: load_table(spark, sf_dir, name))
        assert jobs == 0, name
        assert _simple(df.schema) == _simple(TABLES[name])


def test_query_build_with_two_loads_launches_no_job(spark, sf_dir):
    from climate_data_pipelines_spark.queries import REGISTRY

    df, jobs = _jobs_of(spark, "build-q10", lambda: REGISTRY["q10_left_outer_join"].fn(spark, sf_dir))
    assert jobs == 0
    assert df.count() > 0


def _rows(df):
    return sorted(map(tuple, df.collect()), key=repr)


def test_nanos_events_match_inference_and_normalize(spark, sf_dir, tmp_path):
    ev = pq.read_table(table_path(sf_dir, "events"))
    ev = ev.set_column(ev.schema.get_field_index("ts"), "ts", ev["ts"].cast(pa.timestamp("ns")))
    pq.write_table(ev, str(tmp_path / "events.parquet"))
    lt = pq.ParquetFile(str(tmp_path / "events.parquet")).schema.column(1).logical_type
    assert "nanoseconds" in lt.to_json()
    df, jobs = _jobs_of(spark, "load-ns", lambda: load_table(spark, str(tmp_path), "events"))
    want = _inferred(spark, str(tmp_path / "events.parquet"), "events")
    assert jobs == 0
    assert df.dtypes == want.dtypes
    assert dict(df.dtypes)["ts"] == "timestamp"
    assert _rows(df) == _rows(want)


def test_missing_declared_column_raises(spark, sf_dir, tmp_path):
    cust = pq.read_table(table_path(sf_dir, "customer")).drop(["c_mktsegment"])
    pq.write_table(cust, str(tmp_path / "customer.parquet"))
    with pytest.raises(ValueError, match="c_mktsegment"):
        load_table(spark, str(tmp_path), "customer")


def test_undeclared_columns_are_kept(spark, sf_dir, tmp_path):
    from pyspark.sql import functions as F

    # a Spark-written file records the extra column's type: no job
    spark_dir = str(tmp_path / "spark")
    load_table(spark, sf_dir, "documents").withColumn(
        "url", F.concat(F.lit("http://x/"), F.col("doc_id").cast("string"))
    ).write.parquet(table_path(spark_dir, "documents"))
    df, jobs = _jobs_of(spark, "load-extra", lambda: load_table(spark, spark_dir, "documents"))
    assert jobs == 0
    assert df.columns == TABLES["documents"].fieldNames() + ["url"]
    assert df.filter(F.col("url").isNull()).count() == 0
    # a file from another writer is read with inference, as a plain read
    arrow_dir = tmp_path / "arrow"
    arrow_dir.mkdir()
    cust = pq.read_table(table_path(sf_dir, "customer"))
    pq.write_table(cust.append_column("tier", pa.array(["a"] * cust.num_rows)),
                   str(arrow_dir / "customer.parquet"))
    df = load_table(spark, str(arrow_dir), "customer")
    assert df.dtypes == _inferred(spark, table_path(str(arrow_dir), "customer"), "customer").dtypes
    assert dict(df.dtypes)["tier"] == "string"


def test_int32_file_under_declared_bigint_loads(spark, tmp_path):
    keys = list(range(5))
    pq.write_table(
        pa.table({"c_custkey": pa.array(keys, pa.int32()),
                  "c_name": [f"c{i}" for i in keys],
                  "c_nationkey": pa.array(keys, pa.int32()),
                  "c_acctbal": [float(i) for i in keys],
                  "c_mktsegment": ["BUILDING"] * 5}),
        str(tmp_path / "customer.parquet"),
    )
    df = load_table(spark, str(tmp_path), "customer")
    assert dict(df.dtypes)["c_custkey"] == "bigint"
    assert sorted(r.c_custkey for r in df.collect()) == keys


def test_unknown_table_raises(spark, sf_dir):
    with pytest.raises(KeyError):
        load_table(spark, sf_dir, "nope")


def test_register_views_sql_reachable(spark, sf_dir):
    register_views(spark, sf_dir)
    n = spark.sql("SELECT count(*) AS n FROM lineitem").first().n
    assert n > 0
