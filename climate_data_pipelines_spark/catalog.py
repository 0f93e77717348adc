"""Named-table catalog: explicit schemas + path resolution.

Replaces the reference's config-driven path helpers
(``pipeline_config.py:67-91`` — get_s3_path/get_local_path/
get_output_dir, SURVEY.md §2.1 S7) with a real catalog: every table
has a declared StructType (never ``inferSchema`` — a full-file scan at
100 TB, SURVEY.md §1.3) that every load reads with, and a loader that
registers temp views so the whole surface is reachable from
``spark.sql`` too. A load launches no Spark job: the one fact the
declaration cannot know — which columns a file really holds, and in
which timestamp unit — comes from one data file's footer, read on the
driver.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from climate_data_pipelines_spark import sinks

# Explicit schemas for the driver-generated fixture tables
# (FIXTURES.md; verified against the sf0.001 parquet footers).
TABLES: dict[str, T.StructType] = {
    "region": T.StructType(
        [
            T.StructField("r_regionkey", T.IntegerType()),
            T.StructField("r_name", T.StringType()),
        ]
    ),
    "nation": T.StructType(
        [
            T.StructField("n_nationkey", T.IntegerType()),
            T.StructField("n_name", T.StringType()),
            T.StructField("n_regionkey", T.IntegerType()),
        ]
    ),
    "customer": T.StructType(
        [
            T.StructField("c_custkey", T.LongType()),
            T.StructField("c_name", T.StringType()),
            T.StructField("c_nationkey", T.IntegerType()),
            T.StructField("c_acctbal", T.DoubleType()),
            T.StructField("c_mktsegment", T.StringType()),
        ]
    ),
    "supplier": T.StructType(
        [
            T.StructField("s_suppkey", T.LongType()),
            T.StructField("s_name", T.StringType()),
            T.StructField("s_nationkey", T.IntegerType()),
            T.StructField("s_acctbal", T.DoubleType()),
        ]
    ),
    "part": T.StructType(
        [
            T.StructField("p_partkey", T.LongType()),
            T.StructField("p_name", T.StringType()),
            T.StructField("p_brand", T.StringType()),
            T.StructField("p_type", T.StringType()),
            T.StructField("p_size", T.IntegerType()),
            T.StructField("p_retailprice", T.DoubleType()),
        ]
    ),
    "orders": T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_custkey", T.LongType()),
            T.StructField("o_orderstatus", T.StringType()),
            T.StructField("o_totalprice", T.DoubleType()),
            # parquet carries isAdjustedToUTC=false → Spark 4 reads
            # TIMESTAMP_NTZ; kept NTZ on purpose: naive timestamps
            # match the DuckDB oracle regardless of session timezone
            T.StructField("o_orderdate", T.TimestampNTZType()),
            T.StructField("o_orderpriority", T.StringType()),
        ]
    ),
    "lineitem": T.StructType(
        [
            T.StructField("l_orderkey", T.LongType()),
            T.StructField("l_partkey", T.LongType()),
            T.StructField("l_suppkey", T.LongType()),
            T.StructField("l_linenumber", T.IntegerType()),
            T.StructField("l_quantity", T.DoubleType()),
            T.StructField("l_extendedprice", T.DoubleType()),
            T.StructField("l_discount", T.DoubleType()),
            T.StructField("l_tax", T.DoubleType()),
            T.StructField("l_returnflag", T.StringType()),
            T.StructField("l_linestatus", T.StringType()),
            T.StructField("l_shipdate", T.TimestampNTZType()),  # see o_orderdate
        ]
    ),
    "events": T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            # the fixtures store TIMESTAMP(MICROS, isAdjustedToUTC=
            # false), read as TIMESTAMP_NTZ like o_orderdate/l_shipdate;
            # kept NTZ on purpose — naive timestamps match the DuckDB
            # oracle regardless of session timezone. A TIMESTAMP(NANOS)
            # file is read as bigint ns and truncated to µs (see
            # load_table)
            T.StructField("ts", T.TimestampNTZType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    ),
    "documents": T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("source", T.StringType()),
            T.StructField("n_chars", T.LongType()),
        ]
    ),
    "embeddings": T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
            T.StructField("label", T.IntegerType()),
        ]
    ),
}

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def ensure_session_confs(spark: SparkSession) -> None:
    """Set the session-level confs the engine depends on.

    Defensive: the verification driver hands us a SparkSession it
    built itself; these are all runtime-settable session configs.
    - UTC session timezone → year()/month()/window() agree with the
      DuckDB oracle on naive parquet timestamps.
    - nanosAsLong → a TIMESTAMP(NANOS) parquet column reads as bigint
      nanoseconds (Spark cannot read it as a timestamp);
      ``load_table`` declares such a column bigint and
      ``normalize_ns_timestamp`` truncates it to µs.
    """
    for k, v in (
        ("spark.sql.session.timeZone", "UTC"),
        ("spark.sql.legacy.parquet.nanosAsLong", "true"),
        ("spark.sql.adaptive.enabled", "true"),
    ):
        try:
            spark.conf.set(k, v)
        except Exception:
            pass


def table_path(sf_dir: str, name: str) -> str:
    """Catalog name→path mapping (analog of pipeline_config.get_*_path)."""
    return f"{sf_dir}/{name}.parquet"


def _data_files(path: str) -> list[str]:
    """The parquet files of the table at ``path``: the file itself, or
    the sorted ``*.parquet`` files of a directory (a driver-side
    listing; no job)."""
    if os.path.isdir(path):
        return [
            os.path.join(path, f) for f in sorted(os.listdir(path)) if f.endswith(".parquet")
        ]
    return [path]


def table_rows(sf_dir: str, name: str) -> int:
    """Exact row count from the parquet FOOTER (driver-side pyarrow
    metadata read — no Spark job, no data pages touched). The cheap
    ``corpus_n`` feed for operators like ``semantic_dedup`` that
    otherwise pay a full count() scan to size their LSH parameters;
    on a real catalog this is the table-stats lookup."""
    import pyarrow.parquet as pq

    return sum(
        pq.ParquetFile(f).metadata.num_rows
        for f in _data_files(table_path(sf_dir, name))
    )


def _read_schema(name: str, path: str) -> T.StructType | None:
    """The schema to read the table ``name`` at ``path`` with: the
    declaration ``TABLES[name]``, checked against and fitted to the
    footer of its first data file (a driver-side pyarrow read; no
    Spark job), in the file's column order as inference gives it.

    - A declared top-level column the file lacks raises ``ValueError``
      (a declared read would return it as all NULLs).
    - A TIMESTAMP(NANOS) column is declared bigint, since Spark fails
      at execution reading NANOS as a timestamp (nanosAsLong reads it
      as bigint ns). The parquet logical type tells NANOS apart from
      INT96, which Arrow also maps to ``timestamp[ns]``.
    - A column the catalog does not declare keeps the type Spark
      recorded in a Spark-written footer; ``None`` (read with
      inference) when the file is not Spark's.
    """
    import json

    import pyarrow.parquet as pq

    declared = TABLES[name]
    files = _data_files(path)
    if not files:  # no footer to probe; Spark reports a missing path itself
        return declared
    pf = pq.ParquetFile(files[0])
    names = pf.schema_arrow.names
    missing = [c for c in declared.fieldNames() if c not in names]
    if missing:
        raise ValueError(f"table {name!r}: declared column(s) {missing} absent from {path}")
    nanos = set()
    for i in range(len(pf.schema)):
        col = pf.schema.column(i)
        lt = col.logical_type
        if lt.type == "TIMESTAMP" and json.loads(lt.to_json())["timeUnit"] == "nanoseconds":
            nanos.add(col.path)
    fields = {
        f.name: T.StructField(f.name, T.LongType()) if f.name in nanos else f
        for f in declared.fields
    }
    if len(names) > len(fields):
        recorded = sinks.recorded_schema(pf.metadata)
        if recorded is None:
            return None
        for f in recorded.fields:
            fields.setdefault(f.name, f)
    return T.StructType([fields[c] for c in names])


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one fixture table with its declared schema (no
    schema-inference job), fitted to one data file's footer by
    ``_read_schema``: a missing column raises, a TIMESTAMP(NANOS)
    column reads as bigint and is truncated to a µs timestamp, and
    undeclared columns are kept. Int32 files under a declared bigint
    load: Spark widens them.
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; catalog has {sorted(TABLES)}")
    ensure_session_confs(spark)
    path = table_path(sf_dir, name)
    schema = _read_schema(name, path)
    df = (spark.read if schema is None else spark.read.schema(schema)).parquet(path)
    if name == "events":
        df = normalize_ns_timestamp(df, "ts")
    return df


def normalize_ns_timestamp(df: DataFrame, col: str) -> DataFrame:
    """TIMESTAMP(NANOS) parquet scans as LongType nanoseconds under
    spark.sql.legacy.parquet.nanosAsLong; truncate to µs (integer
    div — float division loses ulps above 2^53 ns, and matches the
    DuckDB oracle's ns→µs cast) and restore TimestampType."""
    from pyspark.sql import functions as F

    if dict(df.dtypes).get(col) == "bigint":
        return df.withColumn(col, F.timestamp_micros(F.expr(f"`{col}` div 1000")))
    return df


def load_tables(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> dict[str, DataFrame]:
    """Load every catalog table as a lazy DataFrame."""
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> dict[str, DataFrame]:
    """Load tables and register each as a temp view (SQL entry point).

    DataFrame-first, SQL-second: after this, ``spark.sql("SELECT …
    FROM lineitem")`` sees exactly the same plans as the DataFrame API
    (SURVEY.md §1.3 engine decision).
    """
    dfs = load_tables(spark, sf_dir)
    for name, df in dfs.items():
        df.createOrReplaceTempView(name)
    return dfs
