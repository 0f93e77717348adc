"""Source readers (SURVEY.md §2.1) — always explicit schemas.

The reference infers schemas everywhere (pd.read_csv at
precipitation_pipeline.py:150, csv.DictReader at
population_pipeline.py:39-45, json.load at :53-55). At 100 TB,
``inferSchema`` is a full extra scan — every reader here takes a
declared StructType (SURVEY.md §1.3 engine decision).

Zarr (S1): no native Spark source; the ingest path converts cube →
long-format Parquet once (batch job), after which everything is
``spark.read.parquet``. ``melt_cube`` covers the in-engine case where
a cube arrives as nested arrays (S2).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql import types as T


def read_csv(spark: SparkSession, path: str, schema: T.StructType, header: bool = True) -> DataFrame:
    """S3/S5: CSV scan with declared schema (no inference pass)."""
    return spark.read.schema(schema).option("header", header).csv(path)


def melt_cube(
    cube: DataFrame,
    time_col: str = "time",
    lat_axis: str = "lats",
    lon_axis: str = "lons",
    values_col: str = "values",
    value_name: str = "value",
) -> DataFrame:
    """S2: cube→table melt. Input rows carry one timestep:
    (time, lats array<double>, lons array<double>,
    values array<array<double>> [lat][lon]). posexplode twice turns
    the nested cube into the long-format observation table —
    the distributed twin of ``to_dataframe().reset_index()``
    (precipitation_pipeline.py:101-102).
    """
    lat_exploded = cube.select(
        F.col(time_col),
        F.col(lon_axis),
        F.posexplode(F.arrays_zip(F.col(lat_axis), F.col(values_col))).alias(
            "_i", "_z"
        ),
    ).select(
        F.col(time_col),
        F.col(lon_axis),
        F.col(f"_z.{lat_axis}").alias("lat"),
        F.col(f"_z.{values_col}").alias("_row_vals"),
    )
    return lat_exploded.select(
        F.col(time_col),
        F.col("lat"),
        F.posexplode(F.arrays_zip(F.col(lon_axis), F.col("_row_vals"))).alias(
            "_j", "_z2"
        ),
    ).select(
        F.col(time_col),
        F.col("lat"),
        F.col(f"_z2.{lon_axis}").alias("lon"),
        F.col(f"_z2._row_vals").alias(value_name),
    )


def fetch_and_unzip(url: str, dest_dir: str, timeout: int = 60) -> list[str]:
    """S4 driver-side ingest utility (reference
    population_pipeline.py:16-25): fetch + unzip into ``dest_dir``;
    returns extracted paths. Network ingest is a driver/orchestration
    concern, not an engine operator — files land somewhere Spark can
    scan. Stdlib-only (urllib), so it also serves ``file://`` URLs,
    which is how tests exercise it without network egress.
    """
    import io
    import os
    import urllib.request
    import zipfile

    with urllib.request.urlopen(url, timeout=timeout) as resp:
        payload = resp.read()
    os.makedirs(dest_dir, exist_ok=True)
    with zipfile.ZipFile(io.BytesIO(payload)) as zf:
        zf.extractall(dest_dir)
        return [f"{dest_dir}/{n}" for n in zf.namelist()]


def read_orc(spark: SparkSession, path: str, schema: T.StructType) -> DataFrame:
    """ORC scan with explicit schema (never inferSchema on the hot
    path — SURVEY §1.3). ORC carries the same pushdown/pruning story
    as parquet in Spark; the engine treats it as a peer columnar
    source for corpora that arrive ORC-shaped."""
    return spark.read.schema(schema).orc(path)


def read_jsonl(spark: SparkSession, path: str, schema: T.StructType) -> DataFrame:
    """JSON-lines scan with explicit schema — the arrival format of
    most crawled/exported document corpora. Explicit schema skips
    Spark's whole-file inference pass (a full scan at 100 TB) and
    pins column types for the oracle differential."""
    return spark.read.schema(schema).json(path)


def read_text_documents(
    spark: SparkSession, path: str, wholetext: bool = False
) -> DataFrame:
    """Raw text ingest: one row per line (or per file with
    ``wholetext``) with the source file path attached — the first hop
    of a crawl-dump pipeline, feeding the documents schema via
    monotonically-increasing ids resolved per partition."""
    df = spark.read.option("wholetext", wholetext).text(path)
    return df.select(
        F.monotonically_increasing_id().alias("doc_id"),
        F.col("value").alias("text"),
        F.input_file_name().alias("source"),
    )
