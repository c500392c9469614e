"""End-to-end ingestion: fetch → decode → reproject → partitioned write →
manifest (SURVEY.md §7 M2 — the reference's full capability, Spark-native).

Reference pipeline being re-expressed (``dmi_ingestor/ingestor.py``):
fetch per parameter (:157-197) → xarray decode (:200) → conditional
LCC→WGS84 reprojection (:201-202) → temp NetCDF → COG (:203-206) → one
GeoTIFF per timestep uploaded under {collection}/{parameter}/{time}.tif
(:207-218) → forecasts.json manifest (:219-227) → cleanup (:228-233).

Spark mapping (SURVEY.md §3):

* decode once              → the decoded, reprojected grid is cached and
  materialized by ONE ``groupBy(parameter, time_str).count()``; those
  #parameters × #timesteps rows drive decode validation, the stale-leaf
  diff, the manifest and the row/partition stats, and the cached rows
  feed both the parquet write and the COG export — each cube is decoded
  and reprojected exactly once, and the output is never read back;
* band-per-timestep files  → ``partitionBy(collection, parameter,
  time_str)`` parquet layout — the same object-store layout, atomic;
* delete-then-write        → dynamic partition overwrite: only
  partitions present in the NEW data are replaced, so a failed fetch
  leaves the old forecast intact (keep-last-good, :192-199) *and* the
  replace is per-partition atomic where the reference races (:199);
* manifest                 → one JSON per (collection, parameter), built
  on the driver from the partition-key counts (tiny by construction).
"""

from __future__ import annotations

import json
import os
from collections.abc import Iterator
from dataclasses import dataclass, field

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from dmi_ingestor_spark.functions.projection import lcc_to_wgs84
from dmi_ingestor_spark.sources.cube_format import decode_cube
from dmi_ingestor_spark.sources.http_edr import (
    IngestConfig,
    Transport,
    fetch_cubes,
)

GRID_SCHEMA = StructType(
    [
        StructField("collection", StringType()),
        StructField("parameter", StringType()),
        StructField("time_s", LongType()),  # epoch seconds
        StructField("y", DoubleType()),
        StructField("x", DoubleType()),
        StructField("value", DoubleType()),
    ]
)


def decode_to_grid(fetched: DataFrame) -> DataFrame:
    """S2/U2: payload blobs → long-form grid rows via mapInPandas.

    One input row (a whole cube) explodes into time×y×x rows — the
    iterator-of-batches shape lets a single task stream multiple cubes
    without materializing more than one at a time. Failed fetches
    (payload NULL) are dropped here, and so are payloads that FAIL TO
    DECODE (corrupt/truncated bytes) — a bad cube must quarantine its
    parameter, never crash the job (the reference's per-parameter
    try/except, ingestor.py:221-227). ``run_ingest`` detects the
    decode-failed parameters (zero surviving rows) BEFORE any
    destructive write, so their previous forecasts stay intact
    (keep-last-good).
    """

    def _explode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            for _, row in pdf.iterrows():
                if row["payload"] is None:
                    continue
                try:
                    cube = decode_cube(bytes(row["payload"]))
                except Exception:  # noqa: BLE001 — quarantine, don't crash
                    continue
                nt, ny, nx = cube.values.shape
                times = np.repeat(np.asarray(cube.times, dtype="int64"), ny * nx)
                ys = np.tile(np.repeat(np.asarray(cube.ys), nx), nt)
                xs = np.tile(np.asarray(cube.xs), nt * ny)
                yield pd.DataFrame(
                    {
                        "collection": row["collection"],
                        "parameter": row["parameter"],
                        "time_s": times,
                        "y": ys,
                        "x": xs,
                        "value": cube.values.reshape(-1),
                    }
                )

    return fetched.mapInPandas(_explode, GRID_SCHEMA)


def with_wgs84(grid: DataFrame, collection_is_lambert: bool) -> DataFrame:
    """P3 branch + U1: harmonie_* grids run the LCC→WGS84 pandas UDF;
    crs84 grids pass coordinates through (ingestor.py:170-173,201-202)."""
    if collection_is_lambert:
        ll = lcc_to_wgs84(F.col("x"), F.col("y"))
        return grid.withColumn("lon", ll["lon"]).withColumn("lat", ll["lat"])
    return grid.withColumn("lon", F.col("x")).withColumn("lat", F.col("y"))


def with_time_str(grid: DataFrame) -> DataFrame:
    """F1: the reference's yyyymmddTHHMMSS partition key (ingestor.py:104),
    always in UTC.

    ``date_format`` renders in ``spark.sql.session.timeZone``, and the
    session belongs to the caller, so the key is spelled out from
    calendar arithmetic on the epoch seconds instead: no step reads a
    time zone, and no local-time DST gap can shift a key. Integer
    arithmetic and ``lpad`` keep it as cheap as ``date_format``
    (``format_string`` costs about 8× more per row).
    """
    t = F.col("time_s")
    sod = F.pmod(t, F.lit(86400))  # seconds into the UTC day
    day = F.date_from_unix_date(((t - sod) / 86400).cast("int"))
    ymd = F.year(day) * 10000 + F.month(day) * 100 + F.dayofmonth(day)
    hms = F.floor(sod / 3600) * 10000 + F.floor(sod % 3600 / 60) * 100 + sod % 60
    return grid.withColumn(
        "time_str",
        F.concat(
            F.lpad(ymd.cast("string"), 8, "0"),
            F.lit("T"),
            F.lpad(hms.cast("string"), 6, "0"),
        ),
    )


NO_DECODABLE_ROWS = "no decodable rows"


@dataclass
class IngestResult:
    out_dir: str
    n_rows: int
    n_partitions_written: int
    failed_parameters: list[str]
    manifest_paths: list[str]
    tif_paths: list[str] | None = None
    # failed parameter → reason: its fetch error, or NO_DECODABLE_ROWS
    errors: dict[str, str] = field(default_factory=dict)


def run_ingest(
    spark: SparkSession,
    config: IngestConfig,
    out_dir: str,
    transport: Transport | None = None,
    public_base_url: str = "https://bucket.example",
    export_tifs: bool = False,
) -> IngestResult:
    """The full reference pipeline, one Spark job graph.

    Writes ``{out_dir}/grid/collection=…/parameter=…/time_str=…/*.parquet``
    with dynamic partition overwrite and one
    ``{out_dir}/manifests/{collection}/{parameter}/forecasts.json`` per
    parameter (same key→URL shape as ingestor.py:219-227); with
    ``export_tifs`` also one ``{out_dir}/tif/{collection}/{parameter}/
    {time_str}.tif`` per timestep.

    The fetch results and the decoded grid are each cached and computed
    once. One ``(parameter, time_str)`` count over the grid validates the
    decode before anything destructive and yields the new leaves, the
    manifest and the stats; the write and the export both read the
    cached grid. Both caches are released on every exit path.
    """
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")

    fetched = fetch_cubes(spark, config, transport).cache()
    grid = None
    try:
        errors = {
            r["parameter"]: r["error"]
            for r in fetched.filter(F.col("error").isNotNull())
            .select("parameter", "error")
            .collect()
        }
        ok_parameters = [p for p in config.parameters if p not in errors]
        counts: dict[tuple[str, str], int] = {}
        if ok_parameters:
            # Decode validation BEFORE anything destructive: a parameter
            # whose payload fetched but produced no decodable rows (corrupt
            # bytes) joins the failed list, so the stale-leaf delete below
            # never touches its previous forecast. The count materializes
            # the cached grid, which everything after it reuses.
            grid = with_time_str(
                with_wgs84(decode_to_grid(fetched), config.crs == "native")
            ).cache()
            counts = {
                (r["parameter"], r["time_str"]): r["count"]
                for r in grid.groupBy("parameter", "time_str").count().collect()
            }
            decoded = {parameter for parameter, _ in counts}
            decode_failed = sorted(p for p in ok_parameters if p not in decoded)
            errors.update(dict.fromkeys(decode_failed, NO_DECODABLE_ROWS))
            ok_parameters = [p for p in ok_parameters if p in decoded]
        grid_path = os.path.join(out_dir, "grid")
        if not ok_parameters:
            # every fetch failed: write nothing, delete nothing — the whole
            # previous forecast stays intact (ingestor.py:192-199)
            n_existing = 0
            if os.path.isdir(grid_path):
                n_existing = spark.read.parquet(grid_path).count()
            return IngestResult(
                out_dir=out_dir,
                n_rows=n_existing,
                n_partitions_written=0,
                failed_parameters=list(errors),
                manifest_paths=[],
                errors=errors,
            )
        new_keys: dict[str, set[str]] = {p: set() for p in ok_parameters}
        for parameter, time_str in counts:
            new_keys[parameter].add(time_str)

        # S7 retention semantics (delete_outdated_forecasts, ingestor.py:67-73,
        # :199): a *successful* fetch replaces the parameter's entire previous
        # forecast — including timesteps the new run no longer covers — while
        # a failed fetch leaves its prefix untouched (keep-last-good, :192-199).
        # Order matters: the reference deletes BEFORE uploading (ingestor.py:199),
        # so a decode/upload failure destroys the previous forecast. Here the
        # write runs FIRST (dynamic partition overwrite replaces only the
        # time_str leaves present in the new data, each leaf atomically); only
        # after it succeeds are the stale leaves — old time_strs the new run no
        # longer covers — deleted, by diffing the pre-write partition listing
        # against the new partition keys. A failure anywhere before the
        # diff leaves every previous forecast readable. Deletes go through the
        # Hadoop FileSystem API (ingest/fs.py), so the same path works on
        # file://, hdfs:// and s3a://; on a table format (Iceberg/Delta) this
        # whole block becomes a single REPLACE WHERE.
        from dmi_ingestor_spark.ingest.fs import fs_delete, fs_list_subdirs

        ok_prefixes = {
            parameter: os.path.join(
                grid_path, f"collection={config.collection}", f"parameter={parameter}"
            )
            for parameter in ok_parameters
        }
        old_leaves = {
            parameter: set(fs_list_subdirs(spark, prefix))
            for parameter, prefix in ok_prefixes.items()
        }
        (
            grid.repartition("collection", "parameter", "time_str")
            .write.mode("overwrite")
            .partitionBy("collection", "parameter", "time_str")
            .parquet(grid_path)
        )
        for parameter, prefix in ok_prefixes.items():
            new_leaves = {f"time_str={t}" for t in new_keys[parameter]}
            for stale in sorted(old_leaves[parameter] - new_leaves):
                fs_delete(spark, os.path.join(prefix, stale))

        # After the overwrite and the stale delete, each ok parameter's
        # leaves hold exactly this run's rows, so the manifest and the
        # stats come from the counts — no read-back of the table.
        manifest_paths = []
        for parameter in ok_parameters:
            mdir = os.path.join(out_dir, "manifests", config.collection, parameter)
            os.makedirs(mdir, exist_ok=True)
            mpath = os.path.join(mdir, "forecasts.json")
            manifest = {
                t: f"{public_base_url}/{config.collection}/{parameter}/{t}.tif"
                for t in new_keys[parameter]
            }
            with open(mpath, "w") as fh:
                json.dump(manifest, fh, indent=4, sort_keys=True)
            manifest_paths.append(mpath)

        # S4 optional export: the reference's actual output artifact — one
        # COG-structured GeoTIFF per timestep (ingestor.py:76-80,207-218) —
        # written by the grouped-applyInPandas raster writer over the cached
        # grid. Pure opt-in: the parquet table remains the engine's native
        # format (SURVEY.md §2.1 S4).
        tif_paths: list[str] | None = None
        if export_tifs:
            from dmi_ingestor_spark.operators.raster import rasterize_timesteps

            tif_dir = os.path.join(out_dir, "tif", config.collection)
            # Hash-partitioned on the group key, one task per core: left to
            # AQE, the small shuffle coalesces to one task and every COG
            # encodes serially in one Python worker. The repartition
            # satisfies the groupBy, so the plan keeps a single Exchange.
            tif_manifest = rasterize_timesteps(
                grid.select("parameter", "time_str", "y", "x", "value").repartition(
                    spark.sparkContext.defaultParallelism, "parameter", "time_str"
                ),
                tif_dir,
            ).collect()
            tif_paths = sorted(r["path"] for r in tif_manifest)
            # retire the COGs of timesteps this run no longer covers, for the
            # refreshed parameters only (delete_outdated_forecasts,
            # ingestor.py:67-73); the raster writer writes through the local
            # filesystem, so the delete does too
            for parameter in ok_parameters:
                pdir = os.path.join(tif_dir, parameter)
                for name in os.listdir(pdir):
                    stem, ext = os.path.splitext(name)
                    if ext == ".tif" and stem not in new_keys[parameter]:
                        os.remove(os.path.join(pdir, name))

        return IngestResult(
            out_dir=out_dir,
            n_rows=sum(counts.values()),
            n_partitions_written=len(counts),
            failed_parameters=list(errors),
            manifest_paths=manifest_paths,
            tif_paths=tif_paths,
            errors=errors,
        )
    finally:
        fetched.unpersist()
        if grid is not None:
            grid.unpersist()
