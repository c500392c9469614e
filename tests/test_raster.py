"""S4/U3 raster export tests (SURVEY.md §5): the pure-Python GeoTIFF
writer's byte-level structure + round-trip, the grouped-applyInPandas
distributed writer, and the optional pipeline export — all without GDAL
(absent in this container; documented in operators/raster.py)."""

from __future__ import annotations

import os
import struct

import numpy as np

from dmi_ingestor_spark.operators.raster import (
    TILE,
    decode_geotiff,
    encode_geotiff,
    rasterize_timesteps,
)

# -- encoder ---------------------------------------------------------------


def test_tiff_header_and_structure():
    data = encode_geotiff(np.zeros((8, 8), dtype="f4"), 0.0, 1.0, 0.5, 0.5)
    magic, forty_two, first_ifd = struct.unpack_from("<2sHI", data, 0)
    assert magic == b"II" and forty_two == 42
    assert first_ifd == 8  # COG-style: IFD immediately after header
    (n_tags,) = struct.unpack_from("<H", data, first_ifd)
    tags = [
        struct.unpack_from("<HHII", data, first_ifd + 2 + 12 * k)[0]
        for k in range(n_tags)
    ]
    assert tags == sorted(tags), "TIFF 6.0 requires ascending tag order"
    for required in (256, 257, 258, 259, 262, 322, 323, 324, 325, 339):
        assert required in tags
    for geotag in (33550, 33922, 34735):
        assert geotag in tags


def test_roundtrip_exact_small():
    arr = np.arange(64, dtype="f4").reshape(8, 8)
    d = decode_geotiff(encode_geotiff(arr, 10.95, 55.75, 0.1, 0.1))
    assert np.array_equal(d["levels"][0], arr)
    assert d["pixel_scale"] == (0.1, 0.1)
    assert d["tiepoint"] == (10.95, 55.75)
    # EPSG 4326 geographic, PixelIsArea
    gk = d["geo_keys"]
    keys = {gk[i]: gk[i + 3] for i in range(4, len(gk), 4)}
    assert keys[1024] == 2 and keys[1025] == 1 and keys[2048] == 4326


def test_roundtrip_nonsquare_multi_tile():
    ny, nx = 40, 70  # 3×5 tiles of 16, both axes ragged
    arr = ((np.arange(ny * nx) * 31) % 257).astype("f4").reshape(ny, nx)
    d = decode_geotiff(encode_geotiff(arr, 0, 0, 1, 1))
    assert np.array_equal(d["levels"][0], arr)
    assert len(d["levels"]) == 2  # >= 32 on both axes → overview present
    ov = d["levels"][1]
    assert ov.shape == (ny // 2, nx // 2)
    exp = arr[: ny // 2 * 2, : nx // 2 * 2]
    exp = exp.reshape(ny // 2, 2, nx // 2, 2).mean(axis=(1, 3)).astype("f4")
    assert np.array_equal(ov, exp)


def test_encoding_deterministic():
    arr = np.linspace(0, 1, 64, dtype="f4").reshape(8, 8)
    assert encode_geotiff(arr, 1, 2, 3, 4) == encode_geotiff(arr, 1, 2, 3, 4)


def test_tile_dims_are_cog_legal():
    assert TILE % 16 == 0


# -- distributed writer ----------------------------------------------------


def test_rasterize_timesteps_artifacts(spark, tmp_path):
    from dmi_ingestor_spark.queries.ingestion import _spark_grid

    import pyspark.sql.functions as F

    grid = (
        _spark_grid(spark)
        .withColumn("parameter", F.lit("t2m"))
        .withColumn(
            "time_str",
            F.date_format(F.timestamp_seconds("time_s"), "yyyyMMdd'T'HHmmss"),
        )
    )
    rows = rasterize_timesteps(grid, str(tmp_path)).collect()
    assert len(rows) == 4
    for r in rows:
        assert r.width == 8 and r.height == 8
        assert os.path.exists(r.path)
        with open(r.path, "rb") as fh:
            payload = fh.read()
        assert len(payload) == r.n_bytes
        d = decode_geotiff(payload)
        # north-up: top-left pixel is (iy=NY-1, ix=0) → value ...700
        t = int(r.time_str[9:11])  # hour == timestep index
        assert d["levels"][0][0, 0] == t * 10000 + 700
        assert d["levels"][0][-1, -1] == t * 10000 + 7
        assert float(d["levels"][0].astype("f8").sum()) == r.px_sum


def test_pipeline_export_tifs(spark, tmp_path):
    from tests.test_ingest import _make_transport_ok  # reuse synthetic fetch
    from dmi_ingestor_spark.sources.http_edr import IngestConfig
    from dmi_ingestor_spark.ingest.pipeline import run_ingest

    cfg = IngestConfig(collection="dkss_if", parameters=("sea-mean-deviation",))
    res = run_ingest(
        spark, cfg, str(tmp_path), _make_transport_ok(), export_tifs=True
    )
    assert res.tif_paths and len(res.tif_paths) == 4
    for p in res.tif_paths:
        assert p.endswith(".tif") and "dkss_if" in p
        with open(p, "rb") as fh:
            d = decode_geotiff(fh.read())
        assert d["levels"][0].shape == (8, 8)


def test_binaryfile_source_reads_exports(spark, tmp_path):
    """S-family source coverage: Spark's binaryFile format reads the
    exported GeoTIFFs back as (path, length, content) rows — the
    idiomatic way a 100 TB image/raster corpus enters the engine
    (multimodal ingestion path; content stays an opaque binary column).
    Verifies pathGlobFilter pushdown selects only .tif files and that
    content round-trips byte-exactly."""
    from dmi_ingestor_spark.queries.ingestion import _spark_grid

    import pyspark.sql.functions as F

    grid = (
        _spark_grid(spark)
        .withColumn("parameter", F.lit("t2m"))
        .withColumn(
            "time_str",
            F.date_format(F.timestamp_seconds("time_s"), "yyyyMMdd'T'HHmmss"),
        )
    )
    rows = rasterize_timesteps(grid, str(tmp_path)).collect()
    (tmp_path / "README.txt").write_text("not a raster")

    bf = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.tif")
        .option("recursiveFileLookup", "true")
        .load(str(tmp_path))
        .select("path", "length", "content")
        .collect()
    )
    assert len(bf) == len(rows) == 4
    by_path = {r.path.removeprefix("file:"): r for r in bf}
    for r in rows:
        got = by_path[r.path]
        assert got.length == r.n_bytes
        with open(r.path, "rb") as fh:
            assert bytes(got.content) == fh.read()


def test_lzw_tiles_roundtrip_and_shrink():
    """Round 3: LZW-compressed tiles (reference parity with GDAL
    COMPRESS=LZW, ingestor.py:78) decode back bit-exactly and actually
    compress the smooth synthetic grids."""
    import numpy as np

    from dmi_ingestor_spark.operators.raster import decode_geotiff, encode_geotiff

    arr = np.fromfunction(
        lambda y, x: (y * 100 + x).astype("f4"), (40, 40), dtype=float
    ).astype("f4")
    lzw = encode_geotiff(arr, 0, 0, 1, 1, compress=True)
    raw = encode_geotiff(arr, 0, 0, 1, 1, compress=False)
    assert len(lzw) < len(raw)
    d = decode_geotiff(lzw)
    assert np.array_equal(d["levels"][0], arr)
    # the overview level decodes too
    assert d["levels"][1].shape == (20, 20)
    # determinism (the byte-parity property the manifest oracle pins)
    assert encode_geotiff(arr, 0, 0, 1, 1) == encode_geotiff(arr, 0, 0, 1, 1)


def test_cog_encode_works_with_rasterio_present(monkeypatch):
    """VERDICT r5 #5: a GDAL stack appearing in the container must not
    crash the encoder — the pure-Python path stays the byte contract."""
    import sys
    import types

    import numpy as np

    from dmi_ingestor_spark.operators import raster as R

    grid = np.arange(64 * 64, dtype="f4").reshape(64, 64)
    before = R.encode_geotiff(grid, 0.0, 0.0, 1.0, 1.0)
    monkeypatch.setitem(
        sys.modules, "rasterio", types.ModuleType("rasterio")
    )
    after = R.encode_geotiff(grid, 0.0, 0.0, 1.0, 1.0)
    assert after == before


def test_cog_overview_ladder_depth_and_parity():
    """VERDICT r5 #7: a >=256px grid gets the FULL 2x^n pyramid down to
    one tile (GDAL COG-driver behavior), each level the exact 2x2 mean
    of its parent, with per-level pixel scale doubling."""
    import numpy as np

    from dmi_ingestor_spark.operators.raster import (
        TILE,
        decode_geotiff,
        encode_geotiff,
    )

    rng = np.arange(256 * 256, dtype="f4").reshape(256, 256)
    data = encode_geotiff(rng, 10.0, 55.0, 0.01, 0.01)
    out = decode_geotiff(data)
    shapes = [lv.shape for lv in out["levels"]]
    # 256 -> 128 -> 64 -> 32 -> 16: ladder bottoms out at one tile
    assert shapes == [(256, 256), (128, 128), (64, 64), (32, 32), (16, 16)]
    assert shapes[-1] == (TILE, TILE)
    for parent, child in zip(out["levels"], out["levels"][1:]):
        ny2, nx2 = child.shape[0] * 2, child.shape[1] * 2
        expect = (
            parent[:ny2, :nx2]
            .reshape(child.shape[0], 2, child.shape[1], 2)
            .mean(axis=(1, 3), dtype="f8")
            .astype("f4")
        )
        np.testing.assert_array_equal(child, expect)


