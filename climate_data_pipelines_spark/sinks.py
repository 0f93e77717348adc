"""Sinks (SURVEY.md §2.9): partitioned CSV/Parquet, GeoJSON, JSON config.

The reference writes one file per stage per month via pandas
(K1: to_csv at precipitation_pipeline.py:112-140; K2: json.dump per
month at :231-232). Here every sink is a distributed ``df.write`` —
partition layout replaces the per-month file loop, and writing
directly to object storage replaces the aws-s3-sync stage (K6,
utils/pipeline_manager.py:199-218).

Tile generation (K3/K4) is a tippecanoe/mb-util subprocess chain in
the reference; here it is IN-ENGINE: ``encode_mvt_tiles`` emits real
Mapbox Vector Tile protobuf blobs per tile (dependency-free encoder,
``functions/mvt.py``, distributed over applyInPandas) and
``write_mbtiles`` packages them into a real SQLite ``.mbtiles`` with
stdlib sqlite3+gzip. ``foreach_partition_shell`` remains only as the
executor-side shape for genuinely external binaries.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def write_parquet_partitioned(
    df: DataFrame, path: str, partition_cols: list[str], mode: str = "overwrite"
) -> None:
    """K7/A1: canonical columnar sink; partition columns replace the
    reference's per-(year,month) file loop. Partition cardinality is
    the caller's contract (year,month ≈ dozens — SURVEY.md §7.4)."""
    df.write.partitionBy(*partition_cols).mode(mode).parquet(path)


def write_csv_partitioned(
    df: DataFrame, path: str, partition_cols: list[str] | None = None, mode: str = "overwrite"
) -> None:
    """K1: CSV sink with header, optionally partitioned (the
    reference's full-dump + per-month split in one write)."""
    w = df.write.option("header", True).mode(mode)
    if partition_cols:
        w = w.partitionBy(*partition_cols)
    w.csv(path)


def write_geojson_per_group(fc: DataFrame, path: str, mode: str = "overwrite") -> None:
    """K2: one FeatureCollection JSON document per group row.

    ``fc`` is the output of operators.climate.feature_collection —
    (group_cols…, feature_collection STRING). Written as text files
    partitioned by the group columns: each partition directory holds
    that month's GeoJSON, mirroring the reference's
    one-file-per-month layout without a driver-side loop.
    """
    group_cols = [c for c in fc.columns if c != "feature_collection"]
    (
        fc.repartition(*[fc[c] for c in group_cols])
        .write.partitionBy(*group_cols)
        .mode(mode)
        .text(path)
        if group_cols
        else fc.write.mode(mode).text(path)
    )


def write_tile_pyramid(
    tiles: DataFrame, path: str, mode: str = "overwrite"
) -> None:
    """K3/K4 relational form (SURVEY.md §1.1 'tile pyramid'): persist
    ``(z INT, x INT, y INT, tile BINARY)`` rows partitioned by z/x —
    the directory layout mirrors the slippy z/x/y URL scheme the
    reference serves from S3/CloudFront
    (docs/PBF_WORKFLOW_SUMMARY.md:43-50), with y + payload inside each
    z=…/x=… partition. A static tile server maps GET /z/x/y directly
    onto partition pruning; no MBTiles/SQLite intermediary.
    """
    tiles.write.partitionBy("z", "x").mode(mode).parquet(path)


def write_tileserver_config(
    config_path: str,
    data_types: list[str],
    base_url: str = "tiles",
) -> None:
    """K5: tileserver config JSON (precipitation_pipeline.py:320-347) —
    a driver-side metadata write, deliberately not a Spark job (one
    small dict, SURVEY.md §2.9)."""
    import json
    import os

    cfg = {
        "options": {"paths": {"root": base_url}},
        "data": {
            t: {"mbtiles": f"{t}.mbtiles"} for t in sorted(data_types)
        },
    }
    os.makedirs(os.path.dirname(config_path) or ".", exist_ok=True)
    with open(config_path, "w") as fh:
        json.dump(cfg, fh, separators=(",", ":"), sort_keys=True)


def foreach_partition_shell(df: DataFrame, make_cmd) -> None:
    """K3 shape: executor-side subprocess per partition (the
    tippecanoe shell-out, precipitation_pipeline.py:244-259, moved
    from driver-loop to executors). ``make_cmd(rows_iter) -> None``
    runs inside each task. Correctness-exempt external tooling —
    provided for parity, unused by declared queries."""

    def run(partition):
        make_cmd(partition)

    df.foreachPartition(run)


_VIEWER_TEMPLATE = """<!DOCTYPE html>
<html lang="en">
<head>
<meta charset="utf-8"/>
<meta name="viewport" content="width=device-width, initial-scale=1"/>
<title>__VARIABLE__ viewer</title>
<script src="https://unpkg.com/maplibre-gl@3/dist/maplibre-gl.js"></script>
<link href="https://unpkg.com/maplibre-gl@3/dist/maplibre-gl.css" rel="stylesheet"/>
<style>
 html,body{height:100%;margin:0}
 #map{height:100%}
 #panel{position:fixed;top:.75rem;left:.75rem;z-index:10;background:#fffefa;
   border:1px solid #999;border-radius:6px;padding:.6rem .8rem;font:14px system-ui}
 #status{position:fixed;bottom:.75rem;left:.75rem;z-index:10;background:#222;
   color:#eee;padding:.4rem .6rem;font:12px monospace;border-radius:4px}
</style>
</head>
<body>
<div id="map"></div>
<div id="panel">
  <strong>__VARIABLE__</strong><br/>
  <label>period
    <select id="period">__PERIOD_OPTIONS__</select>
  </label>
  <label>opacity
    <input id="alpha" type="range" min="0" max="100" value="80"/>
  </label>
</div>
<div id="status">layer: <span id="layer">-</span></div>
<script>
 const TILESERVER = "__TILESERVER__";
 const VARIABLE = "__VARIABLE__";
 const map = new maplibregl.Map({
   container: "map",
   style: {version: 8, sources: {}, layers: [
     {id: "bg", type: "background", paint: {"background-color": "#0b2239"}}]},
   center: [0, 20], zoom: 1.5,
 });
 function layerId(period) {
   const [y, m] = period.split("-");
   return `${VARIABLE}_${Number(m)}_${y}_land`;
 }
 const TILE_FORMAT = "__TILE_FORMAT__";   // "vector" (pbf) | "raster" (legacy png)
 const MVT_LAYER = "__MVT_LAYER__";       // source-layer name inside the pbf
 const VALUE_PROP = "__VALUE_PROP__";     // feature property carrying the value
 function alphaNow() { return document.getElementById("alpha").value / 100; }
 function show(period) {
   const id = layerId(period);
   for (const l of ["data", "data-fill", "data-circle"])
     if (map.getLayer(l)) map.removeLayer(l);
   if (map.getSource("data")) map.removeSource("data");
   if (TILE_FORMAT === "vector") {
     // the engine's own MVT pyramid (encode_mvt_tiles → pbf/mbtiles)
     map.addSource("data", {type: "vector",
       tiles: [`${TILESERVER}/data/${id}/{z}/{x}/{y}.pbf`]});
     const ramp = ["interpolate", ["linear"],
       ["coalesce", ["to-number", ["get", VALUE_PROP]], 0],
       0, "#2b83ba", 2, "#abdda4", 5, "#fdae61", 10, "#d7191c"];
     map.addLayer({id: "data-fill", type: "fill", source: "data",
       "source-layer": MVT_LAYER,
       filter: ["==", ["geometry-type"], "Polygon"],
       paint: {"fill-color": ramp, "fill-opacity": alphaNow()}});
     map.addLayer({id: "data-circle", type: "circle", source: "data",
       "source-layer": MVT_LAYER,
       filter: ["==", ["geometry-type"], "Point"],
       paint: {"circle-color": ramp, "circle-radius": 3,
               "circle-opacity": alphaNow()}});
   } else {
     map.addSource("data", {type: "raster",
       tiles: [`${TILESERVER}/data/${id}/{z}/{x}/{y}.png`], tileSize: 256});
     map.addLayer({id: "data", type: "raster", source: "data",
       paint: {"raster-opacity": alphaNow()}});
   }
   document.getElementById("layer").textContent = id;
 }
 const sel = document.getElementById("period");
 sel.addEventListener("change", () => show(sel.value));
 document.getElementById("alpha").addEventListener("input", () => {
   const a = alphaNow();
   if (map.getLayer("data")) map.setPaintProperty("data", "raster-opacity", a);
   if (map.getLayer("data-fill"))
     map.setPaintProperty("data-fill", "fill-opacity", a);
   if (map.getLayer("data-circle"))
     map.setPaintProperty("data-circle", "circle-opacity", a);
 });
 map.on("load", () => show(sel.value));
</script>
</body>
</html>
"""


def write_map_viewer(
    df: DataFrame,
    path: str,
    variable: str = "precipitation",
    tileserver_url: str = "http://localhost:8080",
    tile_format: str = "vector",
    mvt_layer: str = "observations",
    value_prop: str = "value",
) -> None:
    """K-surface parity with the reference's HTML tile viewer
    (reference pipelines/precipitation_pipeline.py:349-602, which
    templates a Mapbox page and hardcodes its period dropdowns): a
    self-contained MapLibre page whose period selector is DATA-DRIVEN
    — the distinct (year, month) pairs of the observation DataFrame,
    collected via one tiny distinct agg (bounded by calendar
    cardinality, never row data). Layer ids follow the tileserver
    naming the K3-K5 sinks publish (`{var}_{month}_{year}_land`).

    Default ``tile_format="vector"`` consumes the ENGINE'S OWN pbf
    pyramid (``encode_mvt_tiles`` → ``write_tile_pyramid`` /
    ``write_mbtiles``): a MapLibre ``vector`` source at
    ``…/{z}/{x}/{y}.pbf`` with fill + circle layers bound to
    ``mvt_layer`` (the source-layer name the encoder wrote) and a
    value color ramp on ``value_prop`` — the reference's documented
    PBF serving workflow (docs/ALL_PIPELINES_PBF_WORKFLOW.md:122-137).
    ``tile_format="raster"`` keeps the legacy png path.
    """
    import os

    if tile_format not in ("vector", "raster"):
        raise ValueError(f"tile_format must be vector|raster, got {tile_format!r}")
    periods = sorted(
        (int(r["year"]), int(r["month"]))
        for r in df.select("year", "month").distinct().collect()
    )
    options = "".join(
        f'<option value="{y}-{m:02d}">{y}-{m:02d}</option>' for y, m in periods
    )
    html = (
        _VIEWER_TEMPLATE.replace("__VARIABLE__", variable)
        .replace("__PERIOD_OPTIONS__", options)
        .replace("__TILESERVER__", tileserver_url)
        .replace("__TILE_FORMAT__", tile_format)
        .replace("__MVT_LAYER__", mvt_layer)
        .replace("__VALUE_PROP__", value_prop)
    )
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    with open(path, "w") as fh:
        fh.write(html)


def encode_mvt_tiles(
    tiled: DataFrame,
    layer_name: str = "observations",
    lat_col: str = "lat",
    lon_col: str = "lon",
    value_col: str = "value",
    cell_lat_res: float | None = None,
    cell_lon_res: float | None = None,
) -> DataFrame:
    """Distributed Mapbox Vector Tile encoding (K3 — the in-engine
    replacement for the reference's tippecanoe subprocess,
    precipitation_pipeline.py:244-259): group the tile-assigned
    observations by (z, x, y) and emit ONE protobuf-encoded MVT blob
    per tile via the dependency-free encoder in ``functions/mvt.py``.
    Each observation becomes a POINT feature at tile-local extent
    coordinates with its value as a feature property — or, when
    ``cell_lat_res``/``cell_lon_res`` are given, a POLYGON feature
    covering its grid cell (the reference's polygon tiles: each
    climate cell rendered as a rectangle, precipitation_pipeline.py's
    polygonize → tippecanoe path).

    applyInPandas — Arrow batches, one Python worker per core, tiles
    encode in parallel across executors; no subprocess, no external
    binary. Returns (z, x, y, tile BINARY), ready for
    ``write_tile_pyramid`` (parquet layout) or ``write_mbtiles``
    (single-file SQLite packaging).
    """
    import pandas as pd

    from pyspark.sql import functions as F, types as T

    from climate_data_pipelines_spark.functions import mvt

    out_schema = T.StructType(
        [
            T.StructField("z", T.IntegerType()),
            T.StructField("x", T.IntegerType()),
            T.StructField("y", T.IntegerType()),
            T.StructField("tile", T.BinaryType()),
        ]
    )

    def encode(pdf: pd.DataFrame) -> pd.DataFrame:
        z = int(pdf["z"].iloc[0])
        x = int(pdf["x"].iloc[0])
        y = int(pdf["y"].iloc[0])
        feats = []
        for row in pdf.itertuples(index=False):
            lon = float(getattr(row, lon_col))
            lat = float(getattr(row, lat_col))
            props = {value_col: float(getattr(row, value_col))}
            if cell_lat_res is None:
                px, py = mvt.lonlat_to_tile_px(lon, lat, z, x, y)
                feats.append(
                    {
                        "type": mvt.POINT,
                        "geometry": mvt.encode_point_geometry(px, py),
                        "properties": props,
                    }
                )
            else:
                # cell rectangle around the observation's grid center —
                # the reference's polygon tiles. Ring in screen coords
                # (y down): NW → NE → SE → SW is clockwise = positive
                # area per the MVT 2.1 surveyor's rule for exteriors.
                half_lat = cell_lat_res / 2.0
                half_lon = cell_lon_res / 2.0
                nw = mvt.lonlat_to_tile_px(lon - half_lon, lat + half_lat, z, x, y)
                ne = mvt.lonlat_to_tile_px(lon + half_lon, lat + half_lat, z, x, y)
                se = mvt.lonlat_to_tile_px(lon + half_lon, lat - half_lat, z, x, y)
                sw = mvt.lonlat_to_tile_px(lon - half_lon, lat - half_lat, z, x, y)
                # At low zoom a cell can span <1 extent unit: the rounded
                # corners collapse and the shoelace area hits 0, which is
                # a spec-invalid exterior ring (MVT 2.1 §4.3.4.4 requires
                # positive area). Collapse those to a POINT at the center.
                ring = [nw, ne, se, sw]
                area2 = sum(
                    ring[i][0] * ring[(i + 1) % 4][1]
                    - ring[(i + 1) % 4][0] * ring[i][1]
                    for i in range(4)
                )
                if area2 == 0:
                    px, py = mvt.lonlat_to_tile_px(lon, lat, z, x, y)
                    feats.append(
                        {
                            "type": mvt.POINT,
                            "geometry": mvt.encode_point_geometry(px, py),
                            "properties": props,
                        }
                    )
                else:
                    feats.append(
                        {
                            "type": mvt.POLYGON,
                            "geometry": mvt.encode_polygon_geometry(ring),
                            "properties": props,
                        }
                    )
        blob = mvt.encode_layer(layer_name, feats)
        return pd.DataFrame({"z": [z], "x": [x], "y": [y], "tile": [blob]})

    return tiled.select("z", "x", "y", lat_col, lon_col, value_col).groupBy(
        "z", "x", "y"
    ).applyInPandas(encode, schema=out_schema)


def write_mbtiles(
    tiles: DataFrame,
    path: str,
    layer_name: str = "observations",
    name: str = "climate_data_pipelines_spark",
) -> int:
    """K4 — package encoded MVT blobs into a real ``.mbtiles`` file
    (the mb-util stage of the reference toolchain,
    docs/PBF_WORKFLOW_SUMMARY.md): MBTiles is just SQLite, so stdlib
    ``sqlite3`` + ``gzip`` cover the whole format — no external tool.

    The packaging step is DRIVER-side by design: SQLite is a
    single-writer file — but the pyramid is STREAMED, not collected
    (VERDICT r4 wrong-item 1): ``toLocalIterator`` pulls one Spark
    partition at a time, so peak driver memory is one partition of
    gzipped blobs regardless of pyramid size (a z0–z10 global pyramid
    is ~1.4M tiles — a full ``collect()`` would materialize all of it
    before the first INSERT). Rows land in SQLite via batched
    ``executemany``; metadata (min/max zoom) is written after the
    stream since it is only known at the end. This matches the
    reference's streaming tippecanoe shape (reference
    pipelines/precipitation_pipeline.py:244-259) minus the
    subprocess. Blob ENCODING stayed distributed in
    ``encode_mvt_tiles``. Returns the number of tiles written.
    """
    import gzip
    import json
    import os
    import sqlite3

    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    if os.path.exists(path):
        os.remove(path)
    con = sqlite3.connect(path)
    cur = con.cursor()
    cur.execute("CREATE TABLE metadata (name TEXT, value TEXT)")
    cur.execute(
        "CREATE TABLE tiles (zoom_level INTEGER, tile_column INTEGER,"
        " tile_row INTEGER, tile_data BLOB)"
    )
    cur.execute(
        "CREATE UNIQUE INDEX tile_index ON tiles"
        " (zoom_level, tile_column, tile_row)"
    )
    n = 0
    min_z = max_z = None
    batch: list[tuple] = []
    BATCH = 1024
    for r in tiles.select("z", "x", "y", "tile").toLocalIterator():
        # MBTiles uses TMS row order: flip y
        # mtime=0: gzip otherwise embeds wall-clock time in each blob,
        # making byte-identical pyramids hash differently across runs
        batch.append(
            (r.z, r.x, (1 << r.z) - 1 - r.y, gzip.compress(bytes(r.tile), mtime=0))
        )
        min_z = r.z if min_z is None else min(min_z, r.z)
        max_z = r.z if max_z is None else max(max_z, r.z)
        if len(batch) >= BATCH:
            cur.executemany("INSERT INTO tiles VALUES (?, ?, ?, ?)", batch)
            n += len(batch)
            batch.clear()
    if batch:
        cur.executemany("INSERT INTO tiles VALUES (?, ?, ?, ?)", batch)
        n += len(batch)
    meta = {
        "name": name,
        "format": "pbf",
        "minzoom": str(min_z if min_z is not None else 0),
        "maxzoom": str(max_z if max_z is not None else 0),
        "json": json.dumps(
            {"vector_layers": [{"id": layer_name, "fields": {}}]},
            separators=(",", ":"),
        ),
    }
    cur.executemany("INSERT INTO metadata VALUES (?, ?)", sorted(meta.items()))
    con.commit()
    con.close()
    return n


def write_orc_partitioned(
    df: DataFrame, path: str, partition_cols: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """ORC peer of the parquet sink — same partitioning contract, for
    deployments whose downstream readers are ORC-native (Hive/Trino
    estates)."""
    w = df.write.mode(mode)
    if partition_cols:
        w = w.partitionBy(*partition_cols)
    w.orc(path)


def write_jsonl(
    df: DataFrame, path: str, partition_cols: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """JSON-lines sink — the interchange format for handing curated
    document corpora to tokenizer/training jobs. Column types survive
    via JSON natively; binary columns must be dropped or base64'd by
    the caller first."""
    w = df.write.mode(mode)
    if partition_cols:
        w = w.partitionBy(*partition_cols)
    w.json(path)


def data_files(path: str) -> list[str]:
    """The data files a Spark read of ``path`` would see, sorted: every
    file under it except those whose name, or the name of a directory
    on the way, starts with ``_`` or ``.`` (``_SUCCESS``, checksums,
    a crashed write's ``_temporary``). A driver-side listing; no job.
    Empty when ``path`` does not exist."""
    import os

    out = []
    for root, dirs, files in os.walk(path):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        out += [os.path.join(root, f) for f in files if not f.startswith(("_", "."))]
    return sorted(out)


def parquet_rows(path: str) -> int:
    """Row count of the parquet table at ``path``, summed from its file
    footers on the driver (no job); -1 when no data file exists."""
    import pyarrow.parquet as pq

    files = data_files(path)
    return sum(pq.read_metadata(f).num_rows for f in files) if files else -1


def recorded_schema(footer):
    """The data schema Spark recorded in a parquet ``footer``
    (``pyarrow.parquet.FileMetaData``) — what schema inference reads
    from a Spark-written file — or ``None`` for a file Spark did not
    write. Partition columns are not in it."""
    import json

    from pyspark.sql.types import StructType

    raw = (footer.metadata or {}).get(b"org.apache.spark.sql.parquet.row.metadata")
    return None if raw is None else StructType.fromJson(json.loads(raw))


def read_parquet(spark, path: str):
    """The Spark-written table at ``path``, read with the schema the
    footer of its first data file records: a file listing, where
    schema inference would be a job. The read still takes partition
    columns from the directory names. With no data file, or a footer
    Spark did not write, it is the plain read, which fails (or reads)
    as inference does."""
    import pyarrow.parquet as pq

    files = data_files(path)
    schema = recorded_schema(pq.read_metadata(files[0])) if files else None
    return (spark.read if schema is None else spark.read.schema(schema)).parquet(path)


def shard_ids_on_disk(out_dir: str) -> list[int]:
    """The sorted ids of the ``shard=N`` directories under
    ``out_dir/shards`` (a driver-side listing; no job)."""
    import glob
    import os

    return sorted(
        int(os.path.basename(d).split("=", 1)[1])
        for d in glob.glob(os.path.join(out_dir, "shards", "shard=*"))
    )


def trusted_manifest(out_dir: str) -> dict | None:
    """``out_dir/manifest.json`` while its counts are the corpus's: its
    shard list equals the ``shard=N`` directories on disk. ``None``
    when there is no manifest, or when a crash between a shard append
    and the manifest rewrite left directories it does not list."""
    import json
    import os

    path = os.path.join(out_dir, "manifest.json")
    if not os.path.exists(path):
        return None
    with open(path) as fh:
        manifest = json.load(fh)
    listed = sorted(s["shard"] for s in manifest["shards"])
    return manifest if listed == shard_ids_on_disk(out_dir) else None


def write_training_shards(
    df: DataFrame,
    out_dir: str,
    mode: str = "overwrite",
    tokens_per_shard: int | None = None,
    stages: dict | None = None,
) -> dict:
    """Trainer-facing shard sink: parquet partitioned by ``shard``
    (one directory per shard — the unit a dataloader maps to one
    worker/epoch slice) plus a ``manifest.json`` recording per-shard
    document and token counts, the totals and the smallest and largest
    ``doc_id`` (``min_doc_id``, ``max_doc_id``), the smallest also per
    shard read back (a row carried over from an older manifest keeps
    the fields it had). ``df`` must carry
    ``doc_id``, ``shard`` and ``n_tok`` (``training.shard_assign``
    output joined back to the payload columns).

    The manifest aggregate is |shards|-sized (never row-sized) and is
    the ONLY driver materialization. It is computed by READING BACK
    the parquet just written (with ``df``'s schema, so no inference
    job) — not by re-executing the input plan — so it is a true
    verification record of what landed on disk (and one pipeline
    evaluation instead of two; r6 second-review finding).

    ``mode="append"`` with a trusted manifest that records the id
    range (``trusted_manifest``) reads back only the shards numbered
    after the manifest's last one (a partition-pruned read; none when
    the append wrote nothing) and merges their rows with the
    manifest's. The appended rows must therefore all carry shard
    numbers past the manifest's last shard, as an increment's do.
    Otherwise — no manifest, a crash left unlisted shards, a manifest
    from before the id range — the whole directory is read back, as
    an overwrite does.

    ``tokens_per_shard`` is the CONFIGURED cap, recorded verbatim in
    the manifest so incremental appends can reuse it — inferring it
    from observed shard sizes ratchets upward across increments
    because shards overshoot at document boundaries (round-6 advice).
    A write that leaves no shard directory (an empty frame into a new
    or overwritten ``out_dir``) raises ``ValueError``; the read-back
    would otherwise die with an opaque schema-inference error. The
    check lists the directory on the driver and runs no job.
    Returns the manifest dict.
    """
    import json
    import os

    from pyspark.sql import functions as F

    shards_dir = os.path.join(out_dir, "shards")
    prior = trusted_manifest(out_dir) if mode == "append" else None
    if prior is not None and "min_doc_id" not in prior:
        prior = None
    df.write.partitionBy("shard").mode(mode).parquet(shards_dir)
    on_disk = shard_ids_on_disk(out_dir)
    if not on_disk:
        raise ValueError(
            f"no documents survived to the shard sink: {out_dir}/shards "
            "is empty (every input document was dropped upstream)"
        )
    back = df.sparkSession.read.schema(df.schema).parquet(shards_dir)
    rows, lo, hi = {}, [], []
    if prior is not None:
        rows = {s["shard"]: s for s in prior["shards"]}
        lo, hi = [prior["min_doc_id"]], [prior["max_doc_id"]]
        last = max(rows, default=-1)
        # only the shards this append added are read back
        back = back.filter(F.col("shard") > last) if on_disk[-1] > last else None
    if back is not None:
        for r in back.groupBy("shard").agg(
            F.count("*").alias("docs"), F.sum("n_tok").alias("tokens"),
            F.min("doc_id").alias("lo"), F.max("doc_id").alias("hi"),
        ).collect():
            rows[int(r["shard"])] = {
                "shard": int(r["shard"]), "docs": int(r["docs"]),
                "tokens": int(r["tokens"]),
                "min_doc_id": r["lo"],
            }
            lo.append(r["lo"])
            hi.append(r["hi"])
    shards = [rows[k] for k in sorted(rows)]
    manifest = {
        "shards": shards,
        "n_shards": len(shards),
        "total_docs": int(sum(s["docs"] for s in shards)),
        "total_tokens": int(sum(s["tokens"] for s in shards)),
        "min_doc_id": min(lo),
        "max_doc_id": max(hi),
    }
    if tokens_per_shard is not None:
        manifest["tokens_per_shard"] = int(tokens_per_shard)
    if stages is not None:
        # the curation-stage configuration that produced these shards
        # (r9: url dedup / containment knobs) — recorded so increments
        # and audits read the recipe from the artifact, not the code
        manifest["stages"] = stages
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, "manifest.json"), "w") as fh:
        json.dump(manifest, fh, indent=1)
    return manifest
