"""Pipeline e2e tests (SURVEY.md §5.2.5): fetch→decode→reproject→write→
manifest against a local temp dir standing in for S3, with the
keep-last-good and replace-partition semantics asserted explicitly."""

from __future__ import annotations

import calendar
import json
import math
import os
import time

import numpy as np
import pytest

from dmi_ingestor_spark.functions.projection import (
    lcc_forward_np,
    lcc_inverse_np,
)
from dmi_ingestor_spark.ingest.pipeline import run_ingest
from dmi_ingestor_spark.sources.cube_format import (
    Cube,
    decode_cube,
    encode_cube,
    synthetic_cube,
)
from dmi_ingestor_spark.sources.http_edr import IngestConfig, build_request_url


# -- codec -------------------------------------------------------------------


def test_cube_codec_roundtrip():
    cube = synthetic_cube("sea-mean-deviation")
    back = decode_cube(encode_cube(cube))
    assert back.parameter == cube.parameter
    assert back.times == cube.times
    assert back.ys == cube.ys and back.xs == cube.xs
    assert np.array_equal(back.values, cube.values)


def test_unknown_magic_rejected():
    with pytest.raises(ValueError):
        decode_cube(b"GARBAGE-PAYLOAD")


# -- projection (U1/F7) ------------------------------------------------------


def test_lcc_origin_maps_to_reference_origin():
    lon, lat = lcc_inverse_np(np.array([0.0]), np.array([0.0]))
    # WKT false origin: 55.5N, 8W (ingestor.py:28-64)
    assert math.isclose(lat[0], 55.5, abs_tol=1e-9)
    assert math.isclose(lon[0], -8.0, abs_tol=1e-9)


def test_lcc_roundtrip_property():
    rng = np.random.default_rng(42)
    lon = rng.uniform(-20, 20, 200)
    lat = rng.uniform(45, 65, 200)
    x, y = lcc_forward_np(lon, lat)
    lon2, lat2 = lcc_inverse_np(x, y)
    assert np.allclose(lon, lon2, atol=1e-9)
    assert np.allclose(lat, lat2, atol=1e-9)


def test_lcc_northward_is_larger_y():
    # sanity against the DMI grid orientation: north = +y, east = +x
    x0, y0 = lcc_forward_np(np.array([-8.0]), np.array([56.0]))
    assert y0[0] > 0
    x1, y1 = lcc_forward_np(np.array([-7.0]), np.array([55.5]))
    assert x1[0] > 0


# -- URL construction (S1) ---------------------------------------------------


def test_request_url_mirrors_reference():
    cfg = IngestConfig(
        collection="dkss_if", parameters=("sea-mean-deviation",), api_key="KEY"
    )
    url = build_request_url(cfg, "sea-mean-deviation")
    assert url.startswith(
        "https://dmigw.govcloud.dk/v1/forecastedr/collections/dkss_if/cube?"
    )
    assert "api-key=KEY" in url
    assert "crs=crs84" in url  # non-harmonie → crs84 (ingestor.py:170-173)
    assert "parameter-name=sea-mean-deviation" in url
    assert "f=NetCDF" in url
    harm = IngestConfig(collection="harmonie_dini_sf")
    assert "crs=native" in build_request_url(harm, "t2m")


# -- pipeline e2e ------------------------------------------------------------


@pytest.fixture()
def out_dir(tmp_path):
    return str(tmp_path / "bucket")


def _make_transport_ok():
    # defined as a closure so cloudpickle ships it by value to executors
    # (a test-module-level function is not importable on workers)
    def transport(url: str) -> bytes:
        parameter = url.split("parameter-name=")[1].split("&")[0]
        return encode_cube(synthetic_cube(parameter, lambert="harmonie" in url))

    return transport


def test_e2e_layout_and_manifest(spark, out_dir):
    cfg = IngestConfig(collection="dkss_if", parameters=("sea-mean-deviation",))
    res = run_ingest(spark, cfg, out_dir, _make_transport_ok())
    assert res.failed_parameters == []
    assert res.n_rows == 4 * 8 * 8
    assert res.n_partitions_written == 4  # one per timestep (S5 analogue)

    # partition layout mirrors {collection}/{parameter}/{time} (ingestor.py:159-161)
    part_dir = os.path.join(
        out_dir, "grid", "collection=dkss_if", "parameter=sea-mean-deviation"
    )
    times = sorted(p.split("=")[1] for p in os.listdir(part_dir) if "=" in p)
    assert len(times) == 4 and all(len(t) == 15 and t[8] == "T" for t in times)

    # manifest maps every time_str to exactly one URL (ingestor.py:219-227)
    with open(res.manifest_paths[0]) as fh:
        manifest = json.load(fh)
    assert sorted(manifest) == times
    for t, url in manifest.items():
        assert url == f"https://bucket.example/dkss_if/sea-mean-deviation/{t}.tif"


def test_e2e_reprojection_adds_sane_lonlat(spark, out_dir):
    cfg = IngestConfig(collection="harmonie_dini_sf", parameters=("t2m",))
    run_ingest(spark, cfg, out_dir, _make_transport_ok())
    import pyspark.sql.functions as F

    grid = spark.read.parquet(os.path.join(out_dir, "grid"))
    row = grid.agg(
        F.min("lon"), F.max("lon"), F.min("lat"), F.max("lat")
    ).collect()[0]
    # the synthetic lambert grid sits a few hundred km east of the
    # projection origin (8W 55.5N) → lon ≈ -4..-1, lat ≈ 55..57
    assert -6 < row[0] < row[1] < 0
    assert 54 < row[2] < row[3] < 58


def test_e2e_keep_last_good(spark, out_dir):
    """A failed fetch must leave the previous forecast intact
    (ingestor.py:192-199) while successful parameters are replaced."""
    cfg = IngestConfig(collection="dkss_if", parameters=("p-ok", "p-flaky"))
    res1 = run_ingest(spark, cfg, out_dir, _make_transport_ok())
    assert res1.failed_parameters == []

    def transport_flaky(url: str) -> bytes:
        if "p-flaky" in url:
            raise RuntimeError("HTTP 500 from upstream")
        # new forecast run: shifted time axis, different values
        parameter = url.split("parameter-name=")[1].split("&")[0]
        cube = synthetic_cube(parameter, t0=1_767_312_000)  # +1 day
        cube.values = cube.values + 1.0
        return encode_cube(cube)

    res2 = run_ingest(spark, cfg, out_dir, transport_flaky)
    assert res2.failed_parameters == ["p-flaky"]
    assert res2.errors == {"p-flaky": "RuntimeError: HTTP 500 from upstream"}

    import pyspark.sql.functions as F

    grid = spark.read.parquet(os.path.join(out_dir, "grid"))
    ok_times = [
        r.time_str
        for r in grid.filter(F.col("parameter") == "p-ok")
        .select("time_str")
        .distinct()
        .collect()
    ]
    flaky_times = [
        r.time_str
        for r in grid.filter(F.col("parameter") == "p-flaky")
        .select("time_str")
        .distinct()
        .collect()
    ]
    # p-ok was replaced by the new run (Jan 2); p-flaky kept the old (Jan 1)
    assert all(t.startswith("20260102") for t in ok_times)
    assert all(t.startswith("20260101") for t in flaky_times)
    # and the new manifest only covers the successfully refreshed parameter
    assert res2.manifest_paths and all("p-ok" in p for p in res2.manifest_paths)


def test_e2e_failed_fetch_never_writes_partial(spark, out_dir):
    cfg = IngestConfig(collection="dkss_if", parameters=("gone",))

    def transport_down(url: str) -> bytes:
        raise RuntimeError("connection refused")

    res = run_ingest(spark, cfg, out_dir, transport_down)
    assert res.failed_parameters == ["gone"]
    assert res.n_rows == 0 and res.manifest_paths == []


def test_e2e_decode_failure_keeps_previous_forecast(spark, out_dir):
    """Write-before-delete + decode quarantine: the reference deletes
    the old forecast BEFORE uploading (ingestor.py:199), so a decode
    crash mid-run loses data. Here a corrupt payload QUARANTINES its
    parameter (failed_parameters, round-3 behavior: decode validation
    runs before anything destructive) and the previous forecast stays
    fully readable — no exception, no data loss."""
    cfg = IngestConfig(collection="dkss_if", parameters=("p-ok",))
    res1 = run_ingest(spark, cfg, out_dir, _make_transport_ok())
    assert res1.n_rows > 0

    def transport_corrupt(url: str) -> bytes:
        return b"not-a-cube-payload"  # fetch "succeeds", decode fails

    res2 = run_ingest(spark, cfg, out_dir, transport_corrupt)
    assert res2.failed_parameters == ["p-ok"]
    assert res2.errors == {"p-ok": "no decodable rows"}
    assert res2.n_partitions_written == 0

    import pyspark.sql.functions as F

    grid = spark.read.parquet(os.path.join(out_dir, "grid"))
    n_after = grid.filter(F.col("parameter") == "p-ok").count()
    assert n_after == res1.n_rows  # old forecast intact, byte for byte


def _utc_keys(times: list[int]) -> list[str]:
    return [time.strftime("%Y%m%dT%H%M%S", time.gmtime(t)) for t in times]


def test_decode_runs_once_per_cube(spark, out_dir, tmp_path, monkeypatch):
    """Validation, write, manifest, stats and the COG export all read one
    cached decode: 2 cubes make 2 ``decode_cube`` calls, not one per
    consumer."""
    from dmi_ingestor_spark.ingest import pipeline

    spool = str(tmp_path / "decodes.spool")
    open(spool, "wb").close()
    real_decode = pipeline.decode_cube

    # a closure, so cloudpickle ships it (and the spool path) by value
    def counting_decode(payload: bytes) -> Cube:
        with open(spool, "ab") as fh:
            fh.write(b".")
        return real_decode(payload)

    monkeypatch.setattr(pipeline, "decode_cube", counting_decode)
    cfg = IngestConfig(collection="dkss_if", parameters=("p-a", "p-b"))
    sc = spark.sparkContext
    sc.setJobGroup("test-decode-once", "one ingest cycle")
    try:
        res = run_ingest(spark, cfg, out_dir, _make_transport_ok(), export_tifs=True)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert os.path.getsize(spool) == 2
    assert len(sc.statusTracker().getJobIdsForGroup("test-decode-once")) <= 10
    assert res.failed_parameters == []
    assert res.n_rows == 2 * 4 * 8 * 8 and len(res.tif_paths) == 8


def test_export_retires_stale_cogs_of_refreshed_parameters(spark, out_dir):
    """A refreshed parameter keeps exactly its new timesteps' COGs; a
    failed parameter keeps its previous COGs (keep-last-good)."""
    cfg = IngestConfig(collection="dkss_if", parameters=("p-ok", "p-flaky"))
    res1 = run_ingest(spark, cfg, out_dir, _make_transport_ok(), export_tifs=True)
    assert len(res1.tif_paths) == 8

    t0 = 1_767_225_600 + 2 * 3600  # overlaps the first run by 2 steps

    def transport_shifted(url: str) -> bytes:
        if "p-flaky" in url:
            raise RuntimeError("HTTP 500 from upstream")
        parameter = url.split("parameter-name=")[1].split("&")[0]
        return encode_cube(synthetic_cube(parameter, t0=t0))

    res2 = run_ingest(spark, cfg, out_dir, transport_shifted, export_tifs=True)
    assert res2.failed_parameters == ["p-flaky"]
    tif_dir = os.path.join(out_dir, "tif", "dkss_if")
    new = sorted(f"{t}.tif" for t in _utc_keys([t0 + 3600 * i for i in range(4)]))
    old = sorted(f"{t}.tif" for t in _utc_keys([t0 - 7200 + 3600 * i for i in range(4)]))
    assert sorted(os.listdir(os.path.join(tif_dir, "p-ok"))) == new
    assert sorted(os.listdir(os.path.join(tif_dir, "p-flaky"))) == old
    assert res2.tif_paths == [os.path.join(tif_dir, "p-ok", f) for f in new]
    with open(res2.manifest_paths[0]) as fh:
        assert sorted(f"{t}.tif" for t in json.load(fh)) == new


def test_time_keys_are_utc_in_any_session_zone(spark, out_dir):
    """Partition keys, manifest keys and COG names render the instant in
    UTC (ingestor.py:104) whatever ``spark.sql.session.timeZone`` the
    caller's session runs in — including an hour that does not exist
    in the session zone's local time (the 2026-03-08 DST gap)."""
    from dmi_ingestor_spark.ingest.pipeline import with_time_str

    zone = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        cfg = IngestConfig(collection="dkss_if", parameters=("sea-mean-deviation",))
        res = run_ingest(spark, cfg, out_dir, _make_transport_ok(), export_tifs=True)
        edge = [calendar.timegm((2026, 3, 8, 2, 30, 0)), -1, 0]
        keys = with_time_str(
            spark.createDataFrame([(t,) for t in edge], "time_s long")
        ).collect()
    finally:
        spark.conf.set("spark.sql.session.timeZone", zone)
    want = _utc_keys([1_767_225_600 + 3600 * i for i in range(4)])
    assert want[0] == "20260101T000000"
    with open(res.manifest_paths[0]) as fh:
        assert sorted(json.load(fh)) == want
    leaf_dir = os.path.join(
        out_dir, "grid", "collection=dkss_if", "parameter=sea-mean-deviation"
    )
    assert sorted(os.listdir(leaf_dir)) == [f"time_str={t}" for t in want]
    assert sorted(os.path.basename(p) for p in res.tif_paths) == [
        f"{t}.tif" for t in want
    ]
    assert {r.time_s: r.time_str for r in keys} == dict(zip(edge, _utc_keys(edge)))
