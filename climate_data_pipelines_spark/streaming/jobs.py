"""Structured Streaming jobs re-expressing the reference's
incremental-batch cadence (SURVEY.md §2.10).

The reference is batch, but *incremental* batch: the spot manager
computes "previous month" as the processing target
(utils/spot_manager.py:52-58) — a monthly micro-batch with
month-partitioned state, resumed via --skip-* flags. Here that
becomes real Structured Streaming:

- file source (parquet dir) + ``trigger(availableNow=True)`` — the
  deterministic catch-up run (test mode and the monthly-batch analog);
- watermarks bound state for late data (the reference's rerun-with-
  --force overwrite becomes watermark-expired state);
- ``dropDuplicatesWithinWatermark`` replaces delete-and-rewrite
  idempotency (humidity_pipeline.py:193-195);
- windows (tumbling/sliding/session) are the same F.window /
  F.session_window operators the batch queries use — one definition,
  two execution modes.

All functions take a *streaming* DataFrame (``spark.readStream``) and
return the transformed streaming DataFrame; sinks/checkpoints are the
caller's (tests use memory sink; production uses parquet/kafka +
checkpointLocation).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from climate_data_pipelines_spark import sinks
from climate_data_pipelines_spark.catalog import TABLES, ensure_session_confs


def read_events_stream(spark: SparkSession, events_dir: str) -> DataFrame:
    """File-source stream over a directory of events parquet files.

    Explicit schema (streaming file sources require one — and at
    100 TB you never infer). maxFilesPerTrigger bounds micro-batch
    size when running continuously.
    """
    ensure_session_confs(spark)
    schema = TABLES["events"]
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 8)
        .parquet(events_dir)
        # events.ts scans as TIMESTAMP_NTZ (see catalog.py), but
        # EventTimeWatermark requires TIMESTAMP — cast at the source
        # boundary; with the UTC session timezone the instants are
        # identical, so streaming windows agree with the batch twins.
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )


def tumbling_counts(stream: DataFrame, window: str = "1 day", watermark: str = "1 hour") -> DataFrame:
    """Q35 streaming form: watermarked tumbling-window counts.

    Watermark bounds state: windows older than (max event time -
    watermark) finalize and evict. Append output mode emits each
    window exactly once — the idempotent monthly-file analog.
    """
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.sum("value").alias("sum_value"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n",
            "sum_value",
        )
    )


def session_counts(
    stream: DataFrame, gap: str = "30 minutes", watermark: str = "1 hour"
) -> DataFrame:
    """Session-window variant — stateful merge of per-user activity
    bursts; watermark keeps the session state store bounded
    (SURVEY.md §7.4 scale risk)."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )


def dedup_within_watermark(stream: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Stateful dedup on event_id with watermark-bounded state —
    replaces the reference's delete-then-rewrite idempotency
    (--force at precipitation_pipeline.py:255)."""
    return stream.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def stream_static_enrich(stream: DataFrame, dim: DataFrame) -> DataFrame:
    """Stream-static join: enrich the event stream with a batch
    dimension table (the population-lookup shape, SURVEY.md J1, in
    streaming form). The static side is re-read per micro-batch — at
    scale, broadcast it (small dim) or pre-bucket both sides."""
    return stream.join(F.broadcast(dim), "user_id", "left")


def stream_stream_join(
    left: DataFrame,
    right: DataFrame,
    watermark: str = "1 hour",
    max_delay: str = "30 minutes",
    dedup_self_pairs: bool = True,
) -> DataFrame:
    """Stream-stream inner join with watermarks + a time-range
    condition (SURVEY.md §2.10 engine-added surface).

    Both sides are watermarked and the join condition bounds how far
    apart matching events may be (``right.ts`` within [left.ts,
    left.ts + max_delay]) — together these let Spark evict buffered
    state: without the range bound a stream-stream join must hold
    every row forever. Returns one row per matching (user_id, ts
    proximity) pair.

    ``dedup_self_pairs`` (default True) adds ``l_event_id <
    r_event_id`` — correct ONLY when both sides are the SAME stream
    (each unordered pair once, no self-pairs). Joining two DISTINCT
    streams with independent id sequences MUST pass False: their ids
    carry no pair-ordering meaning, and the filter would silently
    drop roughly half of all legitimate matches.
    """
    l = left.withWatermark("ts", watermark).select(
        F.col("user_id").alias("l_user_id"),
        F.col("ts").alias("l_ts"),
        F.col("event_id").alias("l_event_id"),
    )
    r = right.withWatermark("ts", watermark).select(
        F.col("user_id").alias("r_user_id"),
        F.col("ts").alias("r_ts"),
        F.col("event_id").alias("r_event_id"),
    )
    cond = (
        (F.col("l_user_id") == F.col("r_user_id"))
        & (F.col("r_ts") >= F.col("l_ts"))
        & (F.col("r_ts") <= F.col("l_ts") + F.expr(f"INTERVAL {max_delay}"))
    )
    if dedup_self_pairs:
        cond = cond & (F.col("l_event_id") < F.col("r_event_id"))
    return l.join(r, cond, "inner").select(
        F.col("l_user_id").alias("user_id"),
        "l_event_id",
        "r_event_id",
        "l_ts",
        "r_ts",
    )


def write_foreach_batch_parquet(
    result: DataFrame, out_dir: str, checkpoint_dir: str
):
    """``foreachBatch`` sink: per-micro-batch custom write (here:
    idempotent parquet append keyed by batch_id). This is the
    escape hatch for sinks Spark lacks natively — each micro-batch
    arrives as a *batch* DataFrame, so any batch writer works; Spark
    guarantees at-least-once per batch_id, and the writer makes it
    effectively-once by being idempotent per batch: output is
    PARTITIONED by _batch_id and written with dynamic partition
    overwrite, so a replayed batch REPLACES its own partition instead
    of appending duplicate rows (a plain append would double batch N's
    rows whenever the query restarts between the write and the
    checkpoint commit).
    """

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.withColumn("_batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("_batch_id")
            .parquet(out_dir)
        )

    return (
        result.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def running_user_totals(stream: DataFrame) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``
    (SURVEY.md §2.10 'custom stateful operators'): per-user running
    event count + value total, maintained across micro-batches in the
    state store. The built-in windows cover time-bucketed aggs; this
    is the escape hatch for arbitrary per-key state machines.
    """
    import pandas as pd

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql import types as T

    out_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("n_events", T.LongType()),
            T.StructField("total_value", T.DoubleType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("n", T.LongType()),
            T.StructField("total", T.DoubleType()),
        ]
    )

    def update(key, pdfs, state: GroupState):
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].fillna(0.0).sum())
        state.update((n, total))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_value": [round(total, 4)]}
        )

    return stream.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def run_available_now(
    result: DataFrame,
    checkpoint_dir: str,
    query_name: str = "stream",
    output_mode: str = "append",
):
    """Execute a streaming result to a memory sink with
    ``availableNow`` (process everything present, then stop) — the
    deterministic test/catch-up trigger. Returns the StreamingQuery;
    caller awaits termination and reads ``SELECT * FROM {query_name}``.
    Stateful update-mode operators (``applyInPandasWithState``) need
    ``output_mode="update"``.
    """
    return (
        result.writeStream.format("memory")
        .queryName(query_name)
        .outputMode(output_mode)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def read_rate_stream(spark: SparkSession, rows_per_second: int = 100) -> DataFrame:
    """Rate source (SURVEY.md §2.10 source table): synthetic
    (timestamp, value) stream for load/latency testing — mapped to the
    events shape so every streaming job here runs against it too."""
    return (
        spark.readStream.format("rate")
        .option("rowsPerSecond", rows_per_second)
        .load()
        .select(
            F.col("value").alias("event_id"),
            F.col("timestamp").alias("ts"),
            F.pmod("value", F.lit(100)).alias("user_id"),
            F.lit("tick").alias("event_type"),
            F.col("value").cast("double").alias("value"),
            F.lit("{}").alias("props"),
        )
    )


def streaming_tile_rollup(
    stream: DataFrame,
    zoom: int = 4,
    window: str = "1 day",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming × climate composition: watermarked per-window,
    per-tile aggregate rollup of the event stream. Synthetic lat/lon
    derive from event ids (events carry no coordinates — same mapping
    as batch q76); production swaps in real coordinates unchanged.
    The batch tile pyramid becomes a continuously-maintained one:
    each closed window appends its tiles, giving time-versioned
    z/x/y aggregates with bounded state.
    """
    from climate_data_pipelines_spark.operators import climate

    pts = (
        stream.filter(F.col("value").isNotNull() & ~F.isnan("value"))
        .withColumn(
            "lat", (F.pmod("user_id", F.lit(170)) - 85).cast("double") + 0.25
        )
        .withColumn(
            "lon", (F.pmod("event_id", F.lit(360)) - 180).cast("double") + 0.3125
        )
    )
    tiled = climate.tile_assign(pts, zoom)
    return (
        tiled.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "z", "x", "y")
        .agg(F.count("*").alias("n_points"), F.round(F.avg("value"), 4).alias("mean_value"))
        .select(
            F.col("w.start").alias("window_start"),
            "z",
            "x",
            "y",
            "n_points",
            "mean_value",
        )
    )


def read_documents_stream(
    spark: SparkSession, docs_dir: str, max_files_per_trigger: int = 8
) -> DataFrame:
    """File-source stream over a directory of documents parquet files
    — the crawl-feed shape of a continuously-ingesting corpus."""
    ensure_session_confs(spark)
    return (
        spark.readStream.schema(TABLES["documents"])
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(docs_dir)
    )


def curate_documents_stream(
    stream: DataFrame, watermark: str = "1 hour"
) -> DataFrame:
    """Streaming twin of the batch curation pipeline
    (``training.curate`` / q114): quality filter → exact dedup →
    deterministic split, over a continuously-arriving document feed.

    - The quality gate and the hash split are STATELESS projections
      and reuse the exact batch Column expressions
      (``textops.quality_predicate``, ``training.hash_split``) — one
      definition, two execution modes.
    - Exact dedup becomes ``dropDuplicatesWithinWatermark`` on the
      normalized-content sha256 digest: state is one 32-byte key per
      unique document inside the watermark horizon, evicted as the
      watermark advances — bounded regardless of stream length.
      Keeper semantics differ from batch by design: the stream keeps
      the FIRST-SEEN copy (arrival order), batch keeps min doc_id;
      the kept content set is identical.

    Documents carry no event time, so an ingest timestamp is stamped
    per micro-batch (processing-time dedup horizon — the crawl-dedup
    semantics).
    """
    from climate_data_pipelines_spark.functions.text import normalize_text
    from climate_data_pipelines_spark.operators.textops import quality_predicate
    from climate_data_pipelines_spark.operators.training import hash_split

    passed = stream.filter(quality_predicate("text"))
    deduped = (
        passed.withColumn(
            "content_hash", F.sha2(normalize_text(F.col("text")), 256)
        )
        .withColumn("ingest_ts", F.current_timestamp())
        .withWatermark("ingest_ts", watermark)
        .dropDuplicatesWithinWatermark(["content_hash"])
    )
    return hash_split(deduped).select("doc_id", "lang", "split")



def decontaminate_stream(
    stream: DataFrame, benchmark: DataFrame, k: int = 3
) -> DataFrame:
    """Streaming twin of batch decontamination (``training.
    decontaminate`` / q106): drop incoming documents that share any
    k-token shingle with the (static, small) benchmark corpus.

    Entirely STATELESS on the stream side: the benchmark collapses to
    a one-row static dimension holding its distinct shingle set (MBs
    for a real eval suite), broadcast onto the stream, and the gate is
    a per-row ``arrays_overlap`` — no shuffle, no state store, so the
    same plan serves an infinite crawl feed. A stream-side anti-join
    against stream-derived ids would be an (unsupported, stateful)
    stream-stream join — this shape deliberately avoids it. Reuses the
    exact batch shingle expression (one definition, two execution
    modes); the kept-document set matches q106's batch semantics.
    """
    from climate_data_pipelines_spark.functions.text import shingles

    bench_set = benchmark.select(
        F.explode(F.array_distinct(shingles("text", k))).alias("shingle")
    ).agg(F.collect_set("shingle").alias("_bench_shingles"))
    return (
        stream.crossJoin(F.broadcast(bench_set))
        .filter(
            # coalesce: a null-text doc yields NULL shingles → NULL
            # overlap → the bare NOT would drop it, but the batch twin
            # (no shingle rows → never flagged) KEEPS it; default the
            # overlap to false so both modes keep null-text docs
            ~F.coalesce(
                F.arrays_overlap(
                    F.array_distinct(shingles("text", k)),
                    F.col("_bench_shingles"),
                ),
                F.lit(False),
            )
        )
        .drop("_bench_shingles")
    )


def pack_documents_stream(
    spark: SparkSession,
    docs_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    ctx_len: int = 2048,
    max_files_per_trigger: int = 8,
) -> None:
    """Streaming twin of context packing (q189): every micro-batch of
    newly-arrived documents CONTINUES the global token stream —
    ``pack_contexts_increment`` from the recorded running total inside
    ``foreachBatch``, the ``warc_ingest_increment`` harness shape:
    the continuation is a multi-stage batch job (hierarchical prefix
    sum + span fan-out + manifest update) that streaming's
    incremental operators cannot express, while the file source +
    checkpoint solve exactly-once arrival tracking. Micro-batches
    must arrive in doc_id-ascending order (the crawl-feed contract —
    the same precondition as ``curate_increment``'s packing stage).

    EXACTLY-ONCE under foreachBatch's at-least-once replay, the
    dynamic-partition-overwrite idiom: pieces AND touched-sequence
    manifest rows are written partitioned by micro-batch id with
    ``partitionOverwriteMode=dynamic``, so a replayed batch
    overwrites ITS OWN partitions instead of appending duplicates;
    ``out_dir/packing.json`` (the running total — the commit record)
    is written ATOMICALLY (temp file + ``os.replace``, so a crash
    mid-write can never destroy the previous total) AFTER the data,
    guarded by ``last_batch_id``. Crash before the json write →
    replay recomputes the identical pieces from the unchanged total
    and overwrites the same partitions; crash after → replay is
    skipped by the guard. The guard is only meaningful within ONE
    checkpoint lineage, so the commit record also pins
    ``checkpoint_dir`` and the job REFUSES (ValueError) a different
    checkpoint path, a batch id below the committed watermark (the
    wiped-and-recreated-checkpoint signature — batch ids restart at 0
    and would silently skip real data), or a ``ctx_len`` different
    from the recorded one (mixed context lengths corrupt the seq
    numbering). Output tables carry the extra ``_b`` partition
    column; ``read_sequence_manifest`` and piece readers drop it.
    Drains with ``Trigger.AvailableNow`` (cron-shaped); a
    long-running deployment would use ``processingTime``."""
    import json as _json
    import os as _os

    from climate_data_pipelines_spark.operators import training
    from climate_data_pipelines_spark.operators.scale import (
        unpersist_checkpoint,
    )

    stream = read_documents_stream(
        spark, docs_dir, max_files_per_trigger=max_files_per_trigger
    )
    meta_path = f"{out_dir}/packing.json"

    def _pack(batch_df: DataFrame, batch_id: int) -> None:
        meta = {"ctx_len": int(ctx_len), "total_tokens": 0,
                "n_pieces": 0, "last_batch_id": -1,
                "checkpoint_dir": checkpoint_dir}
        if _os.path.exists(meta_path):
            with open(meta_path) as fh:
                meta = _json.load(fh)
        if int(meta["ctx_len"]) != int(ctx_len):
            raise ValueError(
                f"pack_documents_stream: out_dir was packed at "
                f"ctx_len={meta['ctx_len']}, refusing to continue at "
                f"{ctx_len} — mixed context lengths corrupt the "
                "sequence numbering; repack into a fresh out_dir"
            )
        if meta.get("checkpoint_dir", checkpoint_dir) != checkpoint_dir:
            raise ValueError(
                "pack_documents_stream: out_dir is bound to checkpoint "
                f"{meta['checkpoint_dir']!r} but this run uses "
                f"{checkpoint_dir!r} — the last_batch_id replay guard "
                "is only valid within one checkpoint lineage; reuse "
                "the original checkpoint or repack into a fresh out_dir"
            )
        if batch_id < int(meta["last_batch_id"]):
            raise ValueError(
                f"pack_documents_stream: micro-batch id {batch_id} is "
                f"below the committed watermark {meta['last_batch_id']} "
                "— the checkpoint was wiped/recreated over a packed "
                "out_dir, and skipping would silently drop real data; "
                "restore the original checkpoint or repack into a "
                "fresh out_dir"
            )
        if batch_id == int(meta["last_batch_id"]):
            return  # replayed, already committed
        if batch_df.isEmpty():
            return
        base_total = int(meta["total_tokens"])
        pieces, n_new, t_new = training.pack_increment_with_totals(
            batch_df.select("doc_id", "text"), base_total, ctx_len=ctx_len
        )
        if n_new > 0:
            (
                pieces.withColumn("_b", F.lit(int(batch_id)))
                .write.option("partitionOverwriteMode", "dynamic")
                .mode("overwrite")
                .partitionBy("_b")
                .parquet(f"{out_dir}/packing/pieces")
            )
            # touched-sequence manifest rows (the q190 surface, same
            # cumulative latest-wins convention as the batch pipeline):
            # everything from the pre-batch tail sequence on, rebuilt
            # from the just-written pieces table so the tail's fresh
            # row is COMPLETE, not a delta
            first_new_seq = base_total // ctx_len
            seq_in = (
                sinks.read_parquet(spark, f"{out_dir}/packing/pieces")
                .filter(F.col("seq") >= first_new_seq)
            )
            (
                training.sequence_manifest(seq_in)
                .withColumn("_b", F.lit(int(batch_id)))
                .write.option("partitionOverwriteMode", "dynamic")
                .mode("overwrite")
                .partitionBy("_b")
                .parquet(f"{out_dir}/packing/sequences")
            )
            meta["total_tokens"] = base_total + t_new
            meta["n_pieces"] = int(meta["n_pieces"]) + n_new
        unpersist_checkpoint(pieces)
        meta["last_batch_id"] = int(batch_id)
        meta["checkpoint_dir"] = checkpoint_dir
        _os.makedirs(out_dir, exist_ok=True)
        # atomic commit: a crash mid-write must never truncate the
        # previous record (r13 review)
        tmp = f"{meta_path}.tmp"
        with open(tmp, "w") as fh:
            _json.dump(meta, fh)
        _os.replace(tmp, meta_path)

    (
        stream.writeStream.foreachBatch(_pack)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def read_warc_stream(
    spark: SparkSession, warc_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """File-arrival stream over a directory of ``.warc`` /
    ``.warc.gz`` crawl files — ``sources.warc.read_warc``'s streaming
    twin (r8 verdict item 8): a crawl's day-N increment ARRIVES as new
    WARC files, and ``readStream.format("binaryFile")`` turns each
    arrival into micro-batch rows without any new source code — the
    same Arrow-batched record walk (``parse_warc_payloads``) runs on
    the stream because ``mapInPandas`` is stateless. One task per
    file, the format's own parallelism unit (gzip members are not
    seekable)."""
    from climate_data_pipelines_spark.sources import warc as warc_src

    ensure_session_confs(spark)
    # streaming file sources require an explicit schema; binaryFile's
    # is FIXED by the format (path/modificationTime/length/content) —
    # declared verbatim, never inferred
    reader = (
        spark.readStream.format("binaryFile")
        .schema(
            "path string, modificationTime timestamp, "
            "length long, content binary"
        )
        .option("pathGlobFilter", "*.warc*")
    )
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    binary = reader.load(warc_dir)
    return warc_src.parse_warc_payloads(
        binary.select(F.col("content").alias("payload"))
    )


def warc_ingest_increment(
    spark: SparkSession,
    warc_dir: str,
    base_dir: str,
    checkpoint_dir: str,
    benchmark: DataFrame | None = None,
) -> None:
    """Streaming crawl ingestion → incremental curation: every
    micro-batch of newly-arrived WARC files is parsed, projected to
    ``documents`` rows (``warc_records_to_documents`` — the SAME
    projection the batch path uses) and appended to the curated base
    corpus through ``plans.llm_curation.curate_increment``, which
    carries all dedup state in its persisted index (digests,
    signatures, and the manifest-driven url/containment tables).

    ``foreachBatch`` is the right harness here — the increment is a
    multi-stage batch job (anti-joins against the persisted index, CC
    over candidate pairs, shard append) that Structured Streaming's
    incremental operators cannot express, while the SOURCE side
    (which files are new, exactly-once tracking across restarts) is
    exactly what the file source + checkpoint already solve. An empty
    micro-batch (rebalance tick) is skipped. Runs with
    ``Trigger.AvailableNow`` so a cron-shaped caller drains what has
    arrived and exits; a long-running deployment would use
    ``processingTime`` instead."""
    from climate_data_pipelines_spark.plans.llm_curation import curate_increment
    from climate_data_pipelines_spark.sources import warc as warc_src

    stream = read_warc_stream(spark, warc_dir)

    def _ingest(batch_df: DataFrame, _batch_id: int) -> None:
        docs = warc_src.warc_records_to_documents(batch_df)
        if docs.isEmpty():
            return
        curate_increment(spark, docs, base_dir, benchmark=benchmark)

    (
        stream.writeStream.foreachBatch(_ingest)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
