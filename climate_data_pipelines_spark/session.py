"""SparkSession factory with scale-ready defaults.

The reference (sppidy/climate-data-pipelines) has no session concept —
each pipeline is an eager pandas script. Here one lazy SparkSession
replaces the per-stage file IR (SURVEY.md §3.1). Defaults are chosen
for correctness on local[N] test runs *and* sanity at cluster scale:

- AQE on (runtime partition coalescing, skew-join splitting, join
  strategy switch) — replaces the reference's hand-rolled adaptivity
  (spot-instance fallback ladder, SURVEY.md §4).
- Session timezone pinned to UTC so ``year()/month()/window()`` agree
  with the DuckDB oracle on naive parquet timestamps.
- Arrow enabled for the pandas-UDF surface (vectorized exchange).
- ``spark.sql.shuffle.partitions`` sized by caller; at real scale this
  is superseded by AQE coalescing + initialPartitionNum.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "climate-data-pipelines-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine SparkSession.

    Parameters mirror what a cluster deploy would template in; on the
    test rig we default to ``local[$SPARK_GRAFT_CPUS]``.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE", "32"))

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # --- adaptivity: let AQE re-plan at runtime ---------------------
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # --- determinism vs the DuckDB oracle ---------------------------
        .config("spark.sql.session.timeZone", "UTC")
        # --- shuffle sizing ---------------------------------------------
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # AQE initial partition count. Default = shuffle_partitions
        # (Spark's own default wiring); a cluster deploy raises the env
        # knob so corpus-sized exchanges start wide and AQE coalesces
        # down. Two r9 measurements pinned this default: (a) 256 was
        # NOT the x1000 q129 fix (881 s was row-group scan skew —
        # operators/scale.py spread_for_cpu — and 256 changed nothing);
        # (b) 256 measurably HURT the one place it plausibly helped —
        # q181's z100 corpus went 55.7 s (32) → 61.6 s (64) → ~90 s
        # (256), monotonic in the knob: on a 32-core single JVM the
        # extra map-output buckets + 256-partition eager
        # localCheckpoints are pure overhead at any corpus the box can
        # hold. On a real cluster the knob belongs high; locally the
        # honest setting is the measured one.
        .config(
            "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
            os.environ.get(
                "SPARK_GRAFT_INITIAL_PARTITIONS", str(shuffle_partitions)
            ),
        )
        # AQE coalescing floor. Spark's default minPartitionSize (1 MB)
        # assumes cost ~ bytes; several engine stages are COMPUTE-bound
        # on tiny shuffle bytes (the binned range join generates ~20
        # candidate pairs per fact row from a 216 KB shuffle; exploded
        # shingle/token tables behind a 60-wide agg), and the 1 MB
        # floor coalesced them to ONE task — q165 ran its entire
        # join+filter 1.6 s single-threaded with 31 cores idle
        # (stage-profile evidence in OPTIMIZATION_r13.md). 64 KB keeps
        # those stages parallel at local fixture sizes; measured
        # A/B'd vs 1 MB with no regression on the shuffle-light
        # suite. At cluster scale post-shuffle partitions are far
        # above any floor, so the knob is inert — parameterized for a
        # deploy that wants the stock 1 MB back.
        .config(
            "spark.sql.adaptive.coalescePartitions.minPartitionSize",
            os.environ.get("SPARK_GRAFT_MIN_COALESCE", "64k"),
        )
        # --- heap: local mode runs ALL task slots in the driver JVM, so
        # the 1g default means 32 concurrent tasks share 1 GB (OOMs the
        # 64-wide minhash agg at a 50k-doc corpus). Only effective when
        # this builder launches the JVM; a pre-existing session keeps
        # its own setting (the verification driver's session is its
        # own concern).
        .config(
            "spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g")
        )
        # --- python exchange: Arrow batches, never row-at-a-time --------
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # --- parquet scan behavior --------------------------------------
        .config("spark.sql.parquet.filterPushdown", "true")
        # events.ts is TIMESTAMP(NANOS) parquet (FIXTURES.md); Spark has
        # no ns timestamp — read as long, convert ns→µs at ingest
        # (catalog.load_table).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Python DataSource scans (e.g. the native Zarr source) may
        # implement pushFilters — let the planner use it
        .config("spark.sql.python.filterPushdown.enabled", "true")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # generated-code cache: one curation cycle compiles ~360 classes,
        # so the 100-entry default missed every lookup (a warm
        # curate_corpus recompiled 169 classes, curate_increment 195);
        # 1000 holds the working set with headroom
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        # quieter local runs
        .config("spark.ui.showConsoleProgress", "false")
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
