from __future__ import annotations

from pyspark.sql import functions as F

from climate_data_pipelines_spark.catalog import load_table
from climate_data_pipelines_spark.operators import scale


def test_salted_join_matches_plain_join(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem").withColumnRenamed(
        "l_partkey", "p_partkey"
    )
    part = load_table(spark, sf_dir, "part")
    plain = li.join(part, "p_partkey").select("l_orderkey", "l_linenumber", "p_name")
    salted = scale.salted_join(li, part, "p_partkey", n_salt=4).select(
        "l_orderkey", "l_linenumber", "p_name"
    )
    assert plain.count() == salted.count()
    assert plain.exceptAll(salted).isEmpty()
    assert salted.exceptAll(plain).isEmpty()


def test_salted_agg_matches_plain_agg(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    got = {
        (r.l_returnflag, r.l_linestatus): (r.n, round(r.sum_value, 4))
        for r in scale.salted_agg_count_sum(
            li, ["l_returnflag", "l_linestatus"], "l_quantity", n_salt=4
        ).collect()
    }
    want = {
        (r.l_returnflag, r.l_linestatus): (r.n, round(r.s, 4))
        for r in li.groupBy("l_returnflag", "l_linestatus")
        .agg(F.count("*").alias("n"), F.sum("l_quantity").alias("s"))
        .collect()
    }
    assert got == want


def test_bucketed_join_avoids_shuffle(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").withColumnRenamed(
        "l_orderkey", "o_orderkey"
    )
    try:
        scale.write_bucketed(orders, "b_orders", "o_orderkey", 4, "o_orderkey")
        scale.write_bucketed(li, "b_lineitem", "o_orderkey", 4, "o_orderkey")
        bo = spark.table("b_orders")
        bl = spark.table("b_lineitem")
        # hint("merge") pins SortMergeJoin (else the small side would
        # broadcast at test scale and hide the bucketing effect)
        joined = bo.join(bl.hint("merge"), "o_orderkey").select(
            "o_orderkey", "o_totalprice", "l_quantity"
        )
        # co-located layout: same key, same bucket count -> no Exchange
        assert not scale.plan_has_exchange(joined)
        # and the result is still correct
        want = (
            orders.join(li, "o_orderkey")
            .select("o_orderkey", "o_totalprice", "l_quantity")
            .count()
        )
        assert joined.count() == want

        # contrast: the un-bucketed join of the same data shuffles
        assert scale.plan_has_exchange(
            orders.join(li.hint("merge"), "o_orderkey").select(
                "o_orderkey", "o_totalprice", "l_quantity"
            )
        )
    finally:
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_morton_code_interleaves_bits(spark):
    from pyspark.sql import functions as SF

    df = spark.createDataFrame(
        [(0, 0), (1, 0), (0, 1), (1, 1), (3, 5), (65535, 65535)], "a long, b long"
    )
    out = [
        r.z
        for r in df.select(
            scale.morton_code(SF.col("a"), SF.col("b")).alias("z")
        ).collect()
    ]

    def ref(a, b):
        z = 0
        for i in range(16):
            z |= ((a >> i) & 1) << (2 * i)
            z |= ((b >> i) & 1) << (2 * i + 1)
        return z

    assert out == [ref(a, b) for a, b in [(0, 0), (1, 0), (0, 1), (1, 1), (3, 5), (65535, 65535)]]
    # locality property: nearby points share high-order prefix
    assert ref(3, 5) == 0b100111  # b=101 interleaved above a=011


def test_zorder_write_clusters_both_dims(spark, sf_dir, tmp_path):
    from pyspark.sql import functions as SF

    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        SF.pmod("user_id", SF.lit(1 << 16)).alias("ua"),
        SF.pmod("event_id", SF.lit(1 << 16)).alias("ub"),
    )
    out = str(tmp_path / "zordered")
    scale.zorder_write(ev, out, "ua", "ub", n_files=4)
    back = spark.read.parquet(out)
    assert back.count() == ev.count()
    # each file covers a bounded rectangle: per-file spread of the
    # morton code must be far below the global spread
    per_file = (
        back.withColumn("_z", scale.morton_code(SF.col("ua"), SF.col("ub")))
        .withColumn("_f", SF.input_file_name())
        .groupBy("_f")
        .agg((SF.max("_z") - SF.min("_z")).alias("spread"))
        .collect()
    )
    assert len(per_file) == 4
    global_spread = (1 << 32) - 1
    assert all(r.spread < global_spread * 0.6 for r in per_file)


def test_compact_parquet_reduces_file_count(spark, tmp_path):
    import os

    src = str(tmp_path / "fragmented")
    df = spark.range(10000).withColumn("v", F.col("id").cast("double"))
    df.repartition(40).write.parquet(src)
    n_small = len([f for f in os.listdir(src) if f.endswith(".parquet")])
    assert n_small == 40
    out = str(tmp_path / "compacted")
    n = scale.compact_parquet(spark, src, out, target_file_mb=128)
    assert n == 1
    n_big = len([f for f in os.listdir(out) if f.endswith(".parquet")])
    assert n_big == 1
    assert spark.read.parquet(out).count() == 10000


def test_spread_for_cpu_guard(spark):
    # fewer partitions than the target -> round-robin repartition up;
    # already-parallel input passes through UNCHANGED (no added
    # shuffle at production parallelism)
    one = spark.range(100).coalesce(1)
    spread = scale.spread_for_cpu(one, min_parts=4, chunk_bytes=1)
    assert spread.rdd.getNumPartitions() == 4
    assert spread.count() == 100
    wide = spark.range(100).repartition(8)
    same = scale.spread_for_cpu(wide, min_parts=4, chunk_bytes=1)
    assert same is wide  # identity, not a new plan


def test_spread_for_cpu_broadcast_join_still_spreads(spark):
    # a broadcast hash join does NOT repartition the streamed side:
    # a single-split input joined against a broadcast dim must still
    # be spread for a downstream CPU-heavy stage (round-6 advice —
    # the old substring guard saw "Join" and skipped)
    fact = spark.range(100).coalesce(1)
    dim = spark.range(10).withColumnRenamed("id", "id2")
    joined = fact.join(
        F.broadcast(dim), fact.id == dim.id2, "left"
    ).drop("id2")
    spread = scale.spread_for_cpu(joined, min_parts=4, chunk_bytes=1)
    assert spread.rdd.getNumPartitions() == 4
    assert spread.count() == 100


def test_spread_for_cpu_shuffle_join_passthrough(spark):
    # a shuffle join's output is already shuffle.partitions-wide —
    # the structural probe must see the ShuffleExchange and return
    # the frame untouched (no partition probe, no extra repartition)
    a = spark.range(100)
    b = spark.range(100).withColumnRenamed("id", "id2")
    joined = a.hint("merge").join(b, a.id == b.id2).drop("id2")
    same = scale.spread_for_cpu(joined, min_parts=4, chunk_bytes=1)
    assert same is joined


def test_spread_for_cpu_size_gate_skips_tiny_input(spark, tmp_path):
    """A sub-chunk_bytes scan must NOT be spread (round-9): the
    exchange + 32-task stage costs ~1 s at sf0.1 while even the
    heaviest kernel clears a sub-MiB input on one core in well under
    that. The skip happens without the partition probe."""
    src = str(tmp_path / "tiny")
    spark.range(1000).selectExpr("id", "repeat('x', 10) AS text").coalesce(
        1
    ).write.parquet(src)
    df = spark.read.parquet(src)
    same = scale.spread_for_cpu(df, min_parts=8)  # default 1 MiB chunk
    assert same is df  # identity: no repartition node added


def test_spread_for_cpu_size_gate_caps_target(spark, tmp_path):
    """A mid-size scan spreads to ceil(size/chunk) partitions, not all
    the way to min_parts — each engaged core gets >= chunk_bytes."""
    src = str(tmp_path / "mid")
    spark.range(5000).selectExpr(
        "id", "repeat('y', 200) AS text"
    ).coalesce(1).write.parquet(src)
    df = spark.read.parquet(src)
    est = df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    chunk = max(1, int(est) // 4)  # force a target of ~4-5
    spread = scale.spread_for_cpu(df, min_parts=32, chunk_bytes=chunk)
    got = spread.rdd.getNumPartitions()
    assert 2 <= got <= 8
    assert spread.count() == 5000


def test_spread_for_cpu_aggregate_passthrough(spark):
    # aggregates shuffle on their keys: derived frames pass through
    grouped = (
        spark.range(100)
        .groupBy((F.col("id") % 7).alias("k"))
        .count()
    )
    same = scale.spread_for_cpu(grouped, min_parts=4, chunk_bytes=1)
    assert same is grouped


def test_spread_for_cpu_trigger_2x_width_1x(spark):
    """Round-9 x1000 finding: a scan's split COUNT can equal the core
    count while almost all splits are EMPTY (Spark sizes byte-range
    splits at bytes/cores, but a parquet row group is read whole by
    the one split holding its midpoint — a 586 MB file with five
    1M-row groups scanned as 32 splits ran 27 of them empty and the
    minhash kernel on 5 cores: 881 s). The TRIGGER is therefore
    2x defaultParallelism — an input at exactly core-count partitions
    still gets the round-robin redistribution (measured fix:
    881 s -> 205 s at x1000) — but since r13 the repartition WIDTH is
    1x defaultParallelism: round-robin rows are even by construction,
    so cores-many tasks finish in one wave where the old 2x width
    paid the per-task fixed cost twice (isolated A/B: q176
    2.57 -> 1.73 s, q122 2.97 -> 2.11 s, q191 3.33 -> 2.37 s)."""
    sc = spark.sparkContext
    n = sc.defaultParallelism
    at_cores = spark.range(10_000).repartition(n).selectExpr(
        "id", "repeat('x', 50) AS text"
    ).localCheckpoint()  # cut lineage: no upstream ShuffleExchange visible
    spread = scale.spread_for_cpu(at_cores, chunk_bytes=1)
    # fired (new frame, round-robin exchange) at exactly-cores input...
    assert spread is not at_cores
    plan = spread._jdf.queryExecution().executedPlan().toString()
    assert "roundrobin" in plan.lower()
    # ...but the width is one even wave, not two
    assert spread.rdd.getNumPartitions() == n


def test_spread_for_cpu_probe_runs_no_job(spark, tmp_path):
    """The partition probe reads the planned query's streamed-side
    leaves (file splits, checkpoint RDDs, a materialized cache,
    coalesce widths, union sums) and launches no Spark job, yet
    reaches the decision the ``df.rdd.getNumPartitions()`` probe
    reaches."""
    sc = spark.sparkContext
    src = str(tmp_path / "scan")
    spark.range(5000).selectExpr("id", "repeat('y', 200) AS text").repartition(
        3
    ).write.parquet(src)
    scan = spark.read.parquet(src)
    ck = spark.range(2000).selectExpr(
        "id", "repeat('z', 100) AS text"
    ).repartition(5).localCheckpoint()
    dim = spark.range(10).withColumnRenamed("id", "k")
    cached = spark.range(3000).selectExpr(
        "id", "repeat('c', 100) AS text"
    ).repartition(6).persist()
    cached.count()
    cases = {
        "file_scan": scan,
        "checkpoint": ck,
        "broadcast_join": ck.join(F.broadcast(dim), F.col("id") == F.col("k")).drop("k"),
        "union": scan.unionByName(ck),
        "coalesce": scan.coalesce(1),
        "cache": cached.select("id", "text"),
    }
    trigger = 2 * sc.defaultParallelism
    decisions = set()
    for name, df in cases.items():
        group = f"spread-probe-{name}"
        sc.setJobGroup(group, "spread_for_cpu partition probe")
        try:
            spread = scale.spread_for_cpu(df, chunk_bytes=1)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == [], name
        spreads = df.rdd.getNumPartitions() < trigger
        assert (spread is not df) == spreads, name
        decisions.add(spreads)
    assert decisions == {True, False}  # both outcomes are covered
    cached.unpersist()


def test_sum_partials_direct_and_aggregate_agree(spark, monkeypatch):
    """Both branches of scale.sum_partials return the same per-key
    numpy sums for a scalar and an array column (keys absent from the
    frame sum to zero), and an empty frame sums to zeros."""
    import numpy as np

    rows = [
        (0, 1, [1.0, 2.0]),
        (2, 3, [0.5, 0.25]),
        (0, 4, [10.0, 20.0]),
        (2, 5, [1.0, 1.0]),
    ]
    stats = spark.createDataFrame(rows, "k int, n long, v array<double>").repartition(2)
    empty = stats.filter("k < 0")
    want_n = np.array([5.0, 0.0, 8.0, 0.0])
    want_v = np.array([[11.0, 22.0], [0.0, 0.0], [1.5, 1.25], [0.0, 0.0]])
    for cap in (10**9, 0):  # direct collect, then keyed aggregate
        monkeypatch.setitem(scale.DRIVER_LOCAL_MAX, "kmeans", cap)
        got = scale.sum_partials(stats, "k", ["n", "v"], 4, "kmeans")
        assert np.array_equal(got["n"], want_n), cap
        assert np.array_equal(got["v"], want_v), cap
        scalar_only = scale.sum_partials(stats, "k", ["n"], 4, "kmeans")
        assert list(scalar_only) == ["n"]
        assert np.array_equal(scalar_only["n"], want_n), cap
        none = scale.sum_partials(empty, "k", ["n", "v"], 4, "kmeans")
        assert np.array_equal(none["n"], np.zeros(4)), cap
        assert none["v"].shape == (4, 0), cap
