"""Scale-out helpers: skew salting and bucketed co-located joins.

SURVEY.md §2.11 '100 TB design rule' / north-star partitioning notes.
AQE handles most skew at runtime (`spark.sql.adaptive.skewJoin`); these
are the explicit, plan-level versions for when a key distribution is
known pathological ahead of time (a handful of hot users owning most
events, a hot date partition) or when AQE's post-shuffle split can't
help (the build side of a broadcast, pre-aggregation fan-in).

Both salted forms are *semantics-preserving*: the result equals the
unsalted equivalent row-for-row, so they are oracle-checkable against
plain SQL (queries q74/q75).
"""

from __future__ import annotations

import threading

from pyspark.sql import DataFrame, functions as F

_UNPERSIST_LOG_LOCK = threading.Lock()
_UNPERSIST_FILTER_INSTALLED = False


def _install_unpersist_log_filter(jvm) -> None:
    """Install (once per JVM) a message-specific log4j2 RegexFilter
    that denies ONLY the expected ``RDD N was locally checkpointed,
    its lineage has been truncated and cannot be recomputed after
    unpersisting`` WARN — the line every intentional
    ``unpersist_checkpoint`` call emits by design.

    This replaces the earlier raise-level-to-ERROR-around-the-call
    scheme: mutating the shared MapPartitionsRDD logger level hid
    legitimate warnings from concurrent jobs during the window and
    pinned an explicit level on a logger that previously inherited it
    (round-6 advice). A message filter is global but surgical — every
    other MapPartitionsRDD (and root) warning still passes.
    """
    global _UNPERSIST_FILTER_INSTALLED
    with _UNPERSIST_LOG_LOCK:
        if _UNPERSIST_FILTER_INSTALLED:
            return
        Result = jvm.org.apache.logging.log4j.core.Filter.Result
        flt = jvm.org.apache.logging.log4j.core.filter.RegexFilter.createFilter(
            ".*locally checkpointed.*cannot be recomputed after"
            " unpersisting.*",
            None,
            False,
            Result.DENY,
            Result.NEUTRAL,
        )
        ctx = jvm.org.apache.logging.log4j.LogManager.getContext(False)
        config = ctx.getConfiguration()
        config.getLoggerConfig(
            "org.apache.spark.rdd.MapPartitionsRDD"
        ).addFilter(flt)
        ctx.updateLoggers()
        _UNPERSIST_FILTER_INSTALLED = True


def unpersist_checkpoint(df: DataFrame) -> None:
    """Free a ``localCheckpoint(eager=True)`` DataFrame's storage
    blocks NOW instead of waiting for the async ContextCleaner.

    ``DataFrame.unpersist()`` is a no-op for checkpoints (it clears the
    cacheManager entry for the plan, and a checkpointed plan is a
    LogicalRDD that was never registered there — verified empirically
    on this Spark: block count unchanged). The blocks belong to the
    internal RDD the LogicalRDD wraps, so that is what must be
    unpersisted. Iterative operators (pagerank, connected components,
    BPE training) checkpoint once per round; without this, ~rounds ×
    node-set-sized blocks pile up in executor storage for the whole
    run (ADVICE r5). Call it only on a round's PREVIOUS checkpoint
    after the new one has materialized — the lineage is truncated, so
    an unpersisted local checkpoint cannot be recomputed.

    Best-effort: plan-shape introspection is internal API, so any
    failure degrades to the old behavior (cleaner reclaims later).
    """
    try:
        jvm = df.sparkSession._jvm
        try:
            _install_unpersist_log_filter(jvm)
        except Exception:
            pass  # suppression is cosmetic; accept the WARN if it fails
        df._jdf.queryExecution().analyzed().rdd().unpersist(False)
    except Exception:
        pass


def localcheckpoint_capped(df: DataFrame) -> tuple[DataFrame, DataFrame]:
    """``localCheckpoint(eager=True)`` with the captured size-in-bytes
    statistics RESET — the checkpoint primitive every ITERATED frame in
    a checkpoint-per-round loop must use when its round plan joins two
    branches derived from the previous round's checkpoint.

    Why: Catalyst's default size estimator multiplies child sizes at
    every join (``SizeInBytesOnlyStatsPlanVisitor.visitJoin``), and a
    local checkpoint CAPTURES the computed ``sizeInBytes`` into the new
    ``LogicalRDD``'s origin stats. A loop whose round plan references
    the previous checkpoint on BOTH sides of a join (pagerank's
    delta-vs-previous join, connected components' pointer-jump
    self-join) therefore SQUARES the captured BigInt every round — the
    digit count doubles per round, and ``BigInteger.multiply`` inside
    the stats visitor takes over the driver (measured: round time
    doubling from round ~14, java.lang.OutOfMemoryError by round ~19 on
    a THREE-edge graph). Single-reference loops (BPE's fold-project)
    only multiply by constants per round and never blow up.

    Fix: after materializing the checkpoint, rebuild the DataFrame over
    the same materialized RDD *without* origin stats/constraints, so
    every round's plan re-derives sizes from the constant default
    instead of compounding captured products. The iterated frame was
    never a broadcast candidate anyway (node-sized, unbounded at 100
    TB), so pessimistic default stats on it cost nothing; loop-INVARIANT
    checkpoints (edge tables, degree tables) should keep plain
    ``localCheckpoint`` and their real, broadcast-eligible stats.

    Returns ``(clean, ckpt)``: iterate on ``clean``; pass ``ckpt`` to
    ``unpersist_checkpoint`` once the NEXT round has materialized (the
    clean frame reads the checkpoint's blocks — do not free them while
    it is still live). Falls back to ``(ckpt, ckpt)`` if the rebuild's
    internal API is unavailable.
    """
    ck = df.localCheckpoint(eager=True)
    try:
        jdf = ck._jdf
        jspark = ck.sparkSession._jsparkSession
        clean_jdf = jspark.internalCreateDataFrame(
            jdf.queryExecution().toRdd(), jdf.schema(), False
        )
        return DataFrame(clean_jdf, ck.sparkSession), ck
    except Exception:
        return ck, ck


# The driver-local budget of the dual-path operators (SURVEY.md §2.11,
# the 100 TB design rule): at or under its cap an operator finishes on
# the driver from one Arrow fetch; above it the distributed loop runs.
# Read at call time, so a test can force either branch.
DRIVER_LOCAL_MAX: dict[str, int] = {
    # connected components: verified edges as fetched, one row per
    # (id_a, id_b) pair in one direction. 100k pairs, ~20 MB of
    # union-find state, the bounded-collect budget a broadcast join
    # gets; a 100 TB candidate graph exceeds it
    "cc": 100_000,
    # BPE training: distinct vocabulary words, the (word, count) table
    # plus its symbol lists at the CC budget's scale; a production
    # vocabulary exceeds it
    "bpe": 200_000,
    # k-means: per-task cluster-statistics partial rows, |tasks|·k
    # (~25 MB at dim 384); above it (~800k scan tasks would be GBs) a
    # (cluster, dim) aggregate keeps the collect at k·dim rows
    "kmeans": 8_192,
    # logistic regression: per-task gradient partial rows,
    # |tasks|·(dim+1) (~4 MB); above it a feat-keyed aggregate keeps
    # the collect at the (dim+1)-row model size
    "logreg": 262_144,
    # benchmark decontamination: distinct eval-set shingles, a few MB
    # of strings at the CC budget's scale; a 10⁹-shingle eval set
    # exceeds it and takes the Bloom prefilter
    "decon": 200_000,
}


def fetch_at_most(df: DataFrame, kind: str):
    """Materialize ``df`` once and choose the branch for it under
    ``DRIVER_LOCAL_MAX[kind]``, the one driver-fetch rule of the
    dual-path operators.

    One Arrow collect of ``limit(cap + 1)`` over a lazy
    ``localCheckpoint`` both sizes the frame and fetches it: the
    limit's per-partition scan stores every partition of the
    checkpoint whole, so the checkpoint holds all of ``df`` even when
    the driver receives only cap + 1 rows. At or under the cap this
    returns ``(pdf, None)`` and frees the checkpoint. Above it, it
    returns ``(None, ckpt)``, the materialized frame, which the
    distributed branch reads instead of recomputing ``df``."""
    ck = df.localCheckpoint(eager=False)
    pdf = ck.limit(DRIVER_LOCAL_MAX[kind] + 1).toPandas()
    if len(pdf) <= DRIVER_LOCAL_MAX[kind]:
        unpersist_checkpoint(ck)
        return pdf, None
    return None, ck


def sum_partials(
    stats: DataFrame, key: str, cols: list[str], rows_per_task: int, kind: str
) -> dict:
    """Per-key sums of an iterative operator's per-task partial rows
    (k-means cluster statistics, logistic-regression gradients), where
    every task emits one row per key ``0 .. rows_per_task-1``.

    At or under ``DRIVER_LOCAL_MAX[kind]`` partial rows they are
    fetched as they are (one map-only job, no exchange) and summed in
    numpy. Above it a keyed Spark aggregate sums them first: one row
    per key, or per (key, position) of the one array column allowed,
    whose arrays share one non-zero width. Both branches return
    ``{col: sums}`` of shape ``(rows_per_task,)``, or
    ``(rows_per_task, width)`` for the array column; a key no row
    carries sums to zero, and an empty frame gives zeros (width 0)."""
    import numpy as np
    from pyspark.sql.types import ArrayType

    arrays = [c for c in cols if isinstance(stats.schema[c].dataType, ArrayType)]
    scalars = [c for c in cols if c not in arrays]
    out = {c: np.zeros(rows_per_task) for c in scalars}
    direct = num_partitions(stats) * rows_per_task <= DRIVER_LOCAL_MAX[kind]
    if direct or not arrays:
        if not direct:
            stats = stats.groupBy(key).agg(*[F.sum(c).alias(c) for c in cols])
        pdf = stats.toPandas()
        keys = pdf[key].to_numpy()
        for c in scalars:
            np.add.at(out[c], keys, pdf[c].to_numpy(dtype=np.float64))
        for c in arrays:
            vals = np.stack(pdf[c].to_numpy()) if len(pdf) else np.zeros((0, 0))
            out[c] = np.zeros((rows_per_task, vals.shape[1]))
            np.add.at(out[c], keys, vals)
        return out
    (arr,) = arrays
    pdf = (
        stats.select(key, *scalars, F.posexplode(arr).alias("_pos", "_x"))
        .groupBy(key, "_pos")
        .agg(F.sum("_x").alias("_x"), *[F.sum(c).alias(c) for c in scalars])
        .toPandas()
    )
    keys, pos = pdf[key].to_numpy(), pdf["_pos"].to_numpy()
    for c in scalars:
        out[c][keys[pos == 0]] = pdf[c].to_numpy(dtype=np.float64)[pos == 0]
    out[arr] = np.zeros((rows_per_task, int(pos.max()) + 1 if len(pos) else 0))
    out[arr][keys, pos] = pdf["_x"].to_numpy(dtype=np.float64)
    return out


def salted_join(
    fact: DataFrame,
    dim: DataFrame,
    key: str,
    n_salt: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Equi-join with the dimension side replicated over ``n_salt``
    salt buckets and the fact side deterministically salted, so one hot
    key's rows spread across ``n_salt`` shuffle partitions instead of
    one straggler task.

    Fact salt is ``pmod(xxhash64(<all fact columns>), n_salt)`` —
    deterministic (re-runs produce identical partitioning, no
    ``rand()`` so the plan stays reproducible and cacheable). The dim
    side explodes ×n_salt (fine for dimension tables; for fact-fact
    skew joins salt only the hot keys and union the rest unsalted).
    Result is row-identical to ``fact.join(dim, key, how)``.
    """
    fact_cols = [c for c in fact.columns]
    salted_fact = fact.withColumn(
        "_salt", F.pmod(F.xxhash64(*[F.col(c) for c in fact_cols]), F.lit(n_salt))
    )
    salted_dim = dim.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(n_salt - 1)))
    )
    return salted_fact.join(salted_dim, [key, "_salt"], how).drop("_salt")


def salted_agg_count_sum(
    df: DataFrame,
    keys: list[str],
    value_col: str,
    n_salt: int = 8,
) -> DataFrame:
    """Two-stage (salted partial → final) count+sum aggregation:
    stage 1 groups on (keys, salt) so a hot key's partial state is
    built by ``n_salt`` tasks; stage 2 merges the partials per key.

    Spark's hash aggregate already does map-side partials, but the
    *final* stage still lands each key on one reducer — for a key with
    billions of rows spread over thousands of map partitions, stage 1
    here bounds the per-task merge fan-in. Result equals the plain
    ``groupBy(keys).agg(count, sum)``.
    """
    salted = df.withColumn(
        "_salt",
        F.pmod(F.xxhash64(*[F.col(c) for c in df.columns]), F.lit(n_salt)),
    )
    partial = salted.groupBy(*keys, "_salt").agg(
        F.count("*").alias("_pc"),
        F.sum(value_col).alias("_ps"),
    )
    return partial.groupBy(*keys).agg(
        F.sum("_pc").cast("long").alias("n"),
        F.sum("_ps").alias("sum_value"),
    )


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_key: str,
    n_buckets: int = 8,
    sort_key: str | None = None,
) -> None:
    """Persist ``df`` as a bucketed (and optionally sorted) managed
    table — the co-located-join layout: two tables bucketed by the
    same key into the same bucket count join WITHOUT a shuffle
    (SortMergeJoin reads bucket i against bucket i directly).

    At 100 TB this is the difference between re-shuffling the fact
    table on every join and paying the shuffle once at write time.
    Requires ``saveAsTable`` (bucket metadata lives in the catalog,
    not in plain parquet paths).
    """
    writer = df.write.mode("overwrite").format("parquet")
    if sort_key is not None:
        writer = writer.bucketBy(n_buckets, bucket_key).sortBy(sort_key)
    else:
        writer = writer.bucketBy(n_buckets, bucket_key)
    writer.saveAsTable(table_name)


def plan_has_exchange(df: DataFrame) -> bool:
    """True if the physical plan contains a shuffle (Exchange) —
    the assertion primitive for co-located-join tests and plan audits."""
    return "Exchange" in df._jdf.queryExecution().executedPlan().toString()


def morton_code(col_a, col_b, bits: int = 16) -> "F.Column":
    """Interleave the low ``bits`` of two non-negative int columns into
    a Morton (Z-order) code — pure bitwise expressions, JVM-side.
    Clamps inputs into [0, 2^bits) first (callers bucket/normalize)."""
    mask = (1 << bits) - 1
    a = F.least(F.greatest(col_a.cast("long"), F.lit(0)), F.lit(mask))
    b = F.least(F.greatest(col_b.cast("long"), F.lit(0)), F.lit(mask))
    code = F.lit(0).cast("long")
    for i in range(bits):
        abit = F.shiftright(a, i).bitwiseAND(F.lit(1))
        bbit = F.shiftright(b, i).bitwiseAND(F.lit(1))
        code = code.bitwiseOR(F.shiftleft(abit, 2 * i)).bitwiseOR(
            F.shiftleft(bbit, 2 * i + 1)
        )
    return code


def zorder_write(
    df: DataFrame,
    path: str,
    col_a: str,
    col_b: str,
    n_files: int = 8,
    bits: int = 16,
    mode: str = "overwrite",
) -> None:
    """Z-order-clustered parquet write (the OPTIMIZE ZORDER analog):
    range-partition + sort by the Morton code of two dimensions so
    each output file covers a compact rectangle of the 2-D key space —
    parquet min/max row-group stats then prune scans filtered on
    EITHER dimension, not just a lexicographic prefix. The interleave
    is pure bitwise expressions; no UDF.
    """
    coded = df.withColumn("_z", morton_code(F.col(col_a), F.col(col_b), bits))
    (
        coded.repartitionByRange(n_files, "_z")
        .sortWithinPartitions("_z")
        .drop("_z")
        .write.mode(mode)
        .parquet(path)
    )


def compact_parquet(spark, path: str, out_path: str, target_file_mb: int = 128) -> int:
    """Small-files compaction: rewrite a parquet directory into
    size-targeted files (the 100 TB housekeeping job — streaming
    sinks and fine-grained partitionBy writes accumulate small files
    that wreck scan throughput). Returns the chosen file count.
    AQE-free deterministic sizing: total bytes / target.
    """
    import math

    jvm_path = spark._jvm.org.apache.hadoop.fs.Path(path)
    fs = jvm_path.getFileSystem(spark._jsc.hadoopConfiguration())
    total = sum(
        f.getLen()
        for f in fs.listStatus(jvm_path)
        if f.getPath().getName().endswith(".parquet")
    )
    n_files = max(1, math.ceil(total / (target_file_mb * 1024 * 1024)))
    spark.read.parquet(path).repartition(n_files).write.mode("overwrite").parquet(
        out_path
    )
    return n_files


def local_df(spark, rows: list, schema: str) -> DataFrame:
    """Build a DataFrame from a SMALL driver-side row list through the
    Arrow path (``createDataFrame(pandas_df, schema)``) instead of the
    pickled-row path.

    ``createDataFrame(list)`` parallelizes the pickled rows into
    defaultParallelism slices and converts them to rows IN PYTHON at
    every action — a 24-row merge table cost 32 Python-worker tasks
    (~0.33 s wall) per collect/broadcast-build, re-paid on every
    reference (measured: q164's stage table showed 9.8 s of task time
    collecting the driver-built BPE merge table; the classifier paid
    it once per epoch for its weight broadcast). The Arrow path ships
    the data to the JVM once as record batches; actions deserialize
    them JVM-side with no Python workers (same 24-row collect: 6 ms —
    optimization guide §6, "Arrow for driver transfers").

    Column names are parsed from the DDL schema string (top-level
    commas split the fields; the nested types used here —
    ``array<double>`` — contain none). Empty row lists fall back to
    the classic path, which handles them without dtype guessing.
    """
    if not rows:
        return spark.createDataFrame(rows, schema)
    import pandas as pd

    names = [f.strip().split()[0] for f in schema.split(",")]
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=names), schema=schema
    )


# Default scan bytes per engaged core for spread_for_cpu's size gate.
# Module-level so a measurement harness can sweep it. 64 KB, MEASURED
# (r9): the original 1 MiB assumed ~1 CPU-s/MB kernels, but the
# 64-hash minhash family costs 5-10 CPU-s/MB — gating it single-
# threaded at sf0.1 regressed q129 2.1→5.3 s, q127 1.8→4.3 s, q41
# 1.3→3.0 s, q136 2.0→4.4 s. A four-point sweep (1 MiB/256 KB/64 KB/
# 32 KB over 8 adopter queries, /tmp-matrix recorded in the r9 commit
# message) put 64 KB at-or-under every query's best: the hash family
# recovers fully (q129 2.13, q127 1.21, q41 0.98) while the light
# kernels keep their skip-won constants (q177 1.48, q181 1.60) — the
# few-task exchange a 64 KB chunk buys on a ~600 KB scan costs less
# than the measurement noise. 32 KB gains nothing further.
SPREAD_CHUNK_BYTES = 1 << 16

# Chunk for the heavy per-row kernels (digest hashing, shingle
# explodes, interpreted higher-order functions). A SEQUENTIAL sweep
# this round suggested 16 KB beat 64 KB on the minhash family
# (q129 1.47->1.29 s), but a drift-cancelling INTERLEAVED A/B
# (6 alternating reps per query) reversed it: 64 KB wins or ties
# everywhere (q41 0.65 vs 0.85, q176 1.89 vs 2.11, q136 1.69 vs
# 1.93, q177 1.47 vs 2.31, q181 1.92 vs 2.56, q127 1.46 vs 1.89) —
# the wider spread multiplies downstream task counts (and, for
# reused exchanges like the trigram LM's shared repartition, every
# consumer stage pays it; guide §2.2's M x R block growth in
# miniature). The sequential sweep's win was host drift. Kept at the
# measured 64 KB default; the per-callsite chunk_bytes plumbing
# stays so a future sweep can re-test cheaply.
CPU_CHUNK_BYTES = SPREAD_CHUNK_BYTES


def spread_for_cpu(
    df: DataFrame,
    min_parts: int | None = None,
    chunk_bytes: int | None = None,
) -> DataFrame:
    """Round-robin repartition IFF the input has fewer partitions than
    the cluster has cores AND the input is big enough that each extra
    core gets ≥ ``chunk_bytes`` of scan input — the guard for
    CPU-bound per-row stages (hashing, shingling, signature kernels)
    downstream of a scan that produced few splits.

    A parquet scan's parallelism is whatever the file/row-group layout
    gives it: one small file (or one giant row group) = one task, and a
    hash-heavy operator inherits that single thread no matter how many
    cores are idle. AQE coalesces partitions *down* but never splits a
    scan *up*, so this is the one case where an explicit repartition
    (one extra shuffle of the raw rows) buys near-linear speedup
    (measured 4.9 s → 1.3 s on the 64-perm minhash at sf0.1, where the
    594 KB documents file scans as a single partition).

    At production scale the guard makes it a no-op: a 100 TB table
    scans as ~800k splits >> defaultParallelism, so no shuffle is
    added. Call it only in operators whose per-row CPU dwarfs the
    row's serialization cost (minhash/simhash families, not plain
    projections).

    DERIVED frames pass through untouched: an input that has already
    passed a shuffle (joins/aggregates/windows produce
    spark.sql.shuffle.partitions-wide output; AQE may coalesce, but
    only because the data is small enough not to need spreading) is
    detected by walking the PHYSICAL plan (driver-side planning only,
    no jobs — and the QueryExecution caches it, so a frame returned
    unchanged reuses the work at action time) for a
    ``ShuffleExchangeExec`` on the STREAMED path: broadcast subtrees
    are skipped, because a broadcast hash join does not repartition
    the probe side — a single-split scan joined against a broadcast
    dim still needs the spread (round-6 advice; the earlier substring
    match on "Join " skipped it, and could false-positive on
    literals/aliases).

    PARTITION PROBE, job-free: ``num_partitions`` reads the input's
    partition count from the same planned query's streamed-side leaves
    (file scan splits, checkpoint RDD partitions, ``CoalesceExec``
    widths and union sums), all driver-side objects.

    SIZE GATE (round-9): the repartition target is capped at one
    partition per ``chunk_bytes`` of the Catalyst size estimate
    (``optimizedPlan().stats().sizeInBytes`` — driver-side, free, and
    exact for file scans: it is the sum of the scanned file lengths).
    When the capped target is ≤1 the function returns without the
    partition probe. The chunk default is 64 KB/core — MEASURED, twice:
    the gate first shipped at 1 MiB on the assumption that the
    heaviest kernel runs ~1 CPU-s/MB, which held for the trigram LM
    (q177 2.86→0.9 s isolated from skipping the exchange) but not
    for the 64-hash minhash family (5-10 CPU-s/MB): the 1 MiB gate
    ran those kernels single-threaded at sf0.1 and regressed q129
    2.1→5.3 s, q127 1.8→4.3 s, q41 1.3→3.0 s, q136 2.0→4.4 s in the
    same bench that the skip had just improved. The four-point sweep
    behind the 64 KB choice lives at ``SPREAD_CHUNK_BYTES`` above.
    At the ×100 fixture (57 MB) any chunk ≤1 MiB leaves the cap above
    defaultParallelism, so the measured ×100 curves are unchanged; at
    100 TB the estimate is huge, the cap never binds, and the
    split-count guard no-ops the call as always. Estimate failures
    fall back to an uncapped target (the pre-round-9 behavior), never
    to skipping the spread.
    """
    try:
        if _streamed_side_has_shuffle(_planned(df)):
            return df
    except Exception:
        pass  # internal-API probe failed: num_partitions asks df.rdd
    sc = df.sparkSession.sparkContext
    # 2× cores, not 1× (round-9 x1000 finding): a scan's SPLIT COUNT
    # can lie about usable parallelism — Spark sizes byte-range splits
    # at totalBytes/defaultParallelism, but a parquet row group is
    # read whole by the single split holding its midpoint, so a
    # 586 MB file with five 1M-row groups scanned as THIRTY-TWO
    # ~18 MB splits ran 27 of them EMPTY and the whole minhash kernel
    # on 5 cores (q129 at x1000: 881 s). With the target above the
    # split count, the <-comparison below fires and the round-robin
    # exchange redistributes the 5 fat splits across every core
    # (measured: 881 s → 205 s). At 100 TB scans produce ≫ 2×cores
    # splits and this stays a no-op; the size cap keeps tiny inputs
    # (< SPREAD_CHUNK_BYTES) exchange-free exactly as before.
    trigger = min_parts or 2 * sc.defaultParallelism
    # r13: the TRIGGER stays at 2x cores (a scan whose split count
    # equals the core count can still hide all its rows in a few
    # row-group-holding splits — the x1000 q129 case above — so the
    # probe must fire even when the split count looks "wide enough"),
    # but the repartition WIDTH is 1x cores: round-robin distributes
    # rows evenly by construction, so cores-many equal tasks run in
    # ONE wave, while the old 2x-cores width ran the same work as two
    # waves of half-sized tasks and paid the per-task fixed cost
    # (scheduling + 60-wide partial-agg hashmap setup, ~0.1-0.3 s on
    # the minhash family) twice. A 7-point isolated A/B over the
    # signature kernels (q41/q122/q129/q136/q141/q176/q191) measured
    # the 1x width at-or-under the 2x width on every query; at
    # production scale both are no-ops (parts >> trigger).
    width = min_parts or sc.defaultParallelism
    if chunk_bytes is None:
        chunk_bytes = SPREAD_CHUNK_BYTES
    try:
        # Statistics.sizeInBytes is a Scala BigInt; py4j hands it back
        # as a Python int (int(str(..)) guards a raw Java object)
        size = df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        if not isinstance(size, int):
            size = int(str(size))
        cap = max(1, -(-size // chunk_bytes))
        trigger = min(trigger, cap)
        width = min(width, cap)
    except Exception:
        pass  # estimate unavailable: keep the uncapped target
    if trigger <= 1:
        return df
    if num_partitions(df) < trigger:
        return df.repartition(width)
    return df


def _planned(df: DataFrame):
    """The physical plan of ``df`` with its exchanges (executedPlan, not
    sparkPlan; under AQE the initial plan). Planning is driver-side and
    cached on the QueryExecution for ``df``'s own action; no job runs."""
    plan = df._jdf.queryExecution().executedPlan()
    if plan.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
        plan = plan.initialPlan()
    return plan


def num_partitions(df: DataFrame) -> int:
    """``df.rdd.getNumPartitions()`` without a Spark job: with no
    shuffle on the streamed path the count is read from that path's
    leaves (``_streamed_width``). ``df.rdd`` converts the plan to an
    RDD, which under AQE runs every upstream broadcast and shuffle
    stage just to count partitions (13 of the 141 jobs of one curation
    benchmark cycle, 4-core host); it is asked only for a plan with a
    streamed shuffle or a shape the walk does not know."""
    try:
        plan = _planned(df)
        if not _streamed_side_has_shuffle(plan):
            parts = _streamed_width(plan)
            if parts is not None:
                return parts
    except Exception:
        pass  # internal-API walk failed: use the rdd probe
    return df.rdd.getNumPartitions()


def _streamed_side_has_shuffle(jnode) -> bool:
    """Walk a physical-plan tree (py4j SparkPlan node) looking for a
    shuffle that determines the ROOT's partitioning. Subtrees under a
    broadcast exchange are build sides — their exchanges (even shuffle
    ones, e.g. an aggregate later broadcast) do not repartition the
    streamed side, so they are skipped. Explicit coalesce/repartition
    DOWN compiles to CoalesceExec (no exchange), so the
    few-partitions case the spread exists for still falls through to
    the probe."""
    name = jnode.getClass().getSimpleName()
    if name.startswith(("BroadcastExchange", "BroadcastQueryStage")):
        return False
    if name.startswith(("ShuffleExchange", "ShuffleQueryStage")):
        return True
    it = jnode.children().iterator()
    while it.hasNext():
        if _streamed_side_has_shuffle(it.next()):
            return True
    return False


# leaves whose inputRDDs() are built on the driver from planning state
# (file splits, an existing RDD, a range, local rows): no job runs
_WIDTH_LEAVES = ("FileSourceScanExec", "RDDScanExec", "RangeExec", "LocalTableScanExec")


def _streamed_width(jnode) -> int | None:
    """Partition count of a physical plan with no shuffle on its
    streamed path, read from driver-side plan objects only: the leaf
    RDDs' partitions (file scan splits, checkpoint RDDs, a materialized
    cache's buffers), the streamed
    child of a broadcast hash join, ``CoalesceExec``'s min(n, child)
    and the sum over a union's children. Every other unary node keeps
    its child's partitioning. Returns None for a shape it does not
    know (other leaves, other multi-child nodes, a partitioning-aware
    union, a scan with dynamic partition pruning, whose split list
    needs a subquery job); the caller then asks ``df.rdd``."""
    name = jnode.getClass().getSimpleName()
    children = jnode.children()
    if name in _WIDTH_LEAVES:
        if name == "FileSourceScanExec" and "dynamicpruning" in (
            jnode.partitionFilters().toString().lower()
        ):
            return None
        it = jnode.inputRDDs().iterator()
        total = 0
        while it.hasNext():
            total += it.next().getNumPartitions()
        return total
    if name == "InMemoryTableScanExec":
        # a cached frame's partitions are known once it is materialized
        builder = jnode.relation().cacheBuilder()
        if not builder.isCachedColumnBuffersLoaded():
            return None
        return builder.cachedColumnBuffers().getNumPartitions()
    if name == "BroadcastHashJoinExec":
        streamed = (
            jnode.right() if jnode.buildSide().toString() == "BuildLeft" else jnode.left()
        )
        return _streamed_width(streamed)
    if name == "UnionExec":
        if jnode.outputPartitioning().getClass().getSimpleName() != "UnknownPartitioning":
            return None  # partitioning-aware union: children are zipped
        widths = [_streamed_width(children.apply(i)) for i in range(children.size())]
        return None if None in widths else sum(widths)
    if children.size() != 1 or name in (
        "TakeOrderedAndProjectExec", "CollectLimitExec", "CollectTailExec"
    ):
        return None
    child = _streamed_width(children.apply(0))
    if name == "CoalesceExec" and child is not None:
        # RDD.coalesce(n) without shuffle keeps min(n, child) splits;
        # CoalesceExec turns an empty child into one empty partition
        n = jnode.numPartitions()
        return min(n, child) if child else int(n == 1)
    return child
