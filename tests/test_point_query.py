"""`raster_value` (ST_RasterValue): the value under each point, NULL
for nodata, NaN, no covering tile and NULL coordinates; one row per
time step of a multi-step table; the point columns carried through
with their exact types; and 1000 random points against numpy over the
decoded tiles."""

from __future__ import annotations

import datetime
import math

import numpy as np
import pytest

from raquet_spark.core.metadata import BandMeta, build_metadata
from raquet_spark.functions import quadbin as qb
from raquet_spark.functions.bands import decode_block, encode_block
from raquet_spark.operators.point_query import raster_value

Z, BS, TX0, TY0 = 7, 16, 20, 46


def _table(spark, arrays, btype, nodata):
    """A one-band table at zoom Z from {(tx, ty): (BS, BS) array}."""
    rows = [
        (qb.py_tile_to_cell(tx, ty, Z), bytearray(encode_block(a.reshape(-1), btype)))
        for (tx, ty), a in arrays.items()
    ]
    tiles = spark.createDataFrame(rows, "block bigint, band_1 binary")
    meta = build_metadata(
        bands=[BandMeta("band_1", btype, nodata)], bounds=(0.0, 0.0, 0.0, 0.0),
        width=BS, height=BS, block_width=BS, block_height=BS,
        min_zoom=Z, max_zoom=Z,
    )
    return tiles, meta


def _lonlat(tx, ty, px, py, z=Z):
    """Centre of pixel (px, py) of tile (tx, ty) at zoom ``z``."""
    world = float((1 << z) * BS)
    gx, gy = tx * BS + px + 0.5, ty * BS + py + 0.5
    lon = gx / world * 360.0 - 180.0
    lat = math.degrees(math.atan(math.sinh(math.pi * (1.0 - 2.0 * gy / world))))
    return lon, lat


def _values(df):
    return {r["id"]: r["value"] for r in df.collect()}


@pytest.fixture(scope="module")
def float_table(spark):
    """float32 tile with nodata -9999 at (3, 4) and NaN at (5, 6)."""
    a = np.arange(BS * BS, dtype="f4").reshape(BS, BS) / 4.0
    a[4, 3] = -9999.0
    a[6, 5] = np.nan
    return _table(spark, {(TX0, TY0): a}, "float32", -9999.0) + (a,)


def test_nodata_nan_outside_and_null_points(spark, float_table):
    tiles, meta, a = float_table
    pts = [
        (1, *_lonlat(TX0, TY0, 3, 4)),   # nodata
        (2, *_lonlat(TX0, TY0, 5, 6)),   # NaN
        (3, *_lonlat(TX0 + 5, TY0, 1, 1)),  # no tile there
        (4, None, None),
        (5, None, _lonlat(TX0, TY0, 1, 1)[1]),
        (6, *_lonlat(TX0, TY0, 7, 2)),   # a plain pixel
    ]
    df = spark.createDataFrame(pts, "id long, lon double, lat double")
    got = _values(raster_value(tiles, df, meta))
    assert got == {1: None, 2: None, 3: None, 4: None, 5: None, 6: float(a[2, 7])}


def test_netcdf_steps_give_one_row_per_step(spark, tmp_path):
    """A 3-step NetCDF table: each point comes back 3 times, once with
    each step's pixel."""
    from raquet_spark.sources.netcdf import netcdf_to_raquet
    from raquet_spark.testing import write_netcdf_classic

    nlat, nlon = 24, 30
    base = np.arange(nlat * nlon, dtype="i2").reshape(nlat, nlon) % 500
    data = np.stack([base + 1000 * t for t in range(3)])
    path = str(tmp_path / "steps.nc")
    write_netcdf_classic(
        path, np.linspace(38.0, 37.77, nlat), np.linspace(-123.0, -122.71, nlon),
        data, times=np.arange(3, dtype="f8"), nc_type=3,
    )
    tiles, meta = netcdf_to_raquet(spark, path, block_size=BS, stats=False)
    pdf = tiles.toPandas()
    z = meta["tiling"]["max_zoom"]
    band = meta["bands"][0]
    nd = band["nodata"]
    rng = np.random.default_rng(7)
    blk = [int(b) for b in pdf["block"].unique()]
    pts, want = [], {}
    for i in range(40):
        cell = blk[int(rng.integers(len(blk)))]
        tx, ty, _ = qb.py_cell_to_tile(cell)
        px, py = (int(v) for v in rng.integers(0, BS, 2))
        pts.append((i, *_lonlat(tx, ty, px, py, z)))
        steps = pdf[pdf["block"] == cell].sort_values("time_cf")
        assert len(steps) == 3
        vals = [float(decode_block(b, band["type"])[py * BS + px]) for b in steps[band["name"]]]
        assert nd not in vals  # every sampled pixel is valid
        want[i] = sorted(vals)
    out = raster_value(
        tiles, spark.createDataFrame(pts, "id long, lon double, lat double"), meta
    ).collect()
    got: dict[int, list] = {}
    for r in out:
        got.setdefault(r["id"], []).append(r["value"])
    assert {k: sorted(v) for k, v in got.items()} == want


def test_point_columns_round_trip_exactly(spark, float_table):
    """int64 past 2^53 next to a NULL, a string and a timestamp come back
    with the same type and value (no float64 hop)."""
    tiles, meta, a = float_table
    lon, lat = _lonlat(TX0, TY0, 7, 2)
    ts = datetime.datetime(2021, 3, 4, 5, 6, 7, 891011)
    df = spark.createDataFrame(
        [(2**53 + 1, "é x", ts, lon, lat), (None, None, None, lon, lat)],
        "id long, name string, ts timestamp, lon double, lat double",
    )
    out = raster_value(tiles, df, meta)
    assert [(f.name, f.dataType) for f in out.schema.fields][:-1] == [
        (f.name, f.dataType) for f in df.schema.fields
    ]
    assert out.schema.fields[-1].name == "value"
    got = sorted(out.collect(), key=lambda r: (r["id"] is None, r["id"]))
    assert [tuple(r)[:-1] for r in got] == [
        (2**53 + 1, "é x", ts, lon, lat), (None, None, None, lon, lat)
    ]
    assert [r["value"] for r in got] == [float(a[2, 7])] * 2


def test_random_points_match_numpy(spark):
    """1000 random pixel centres over a 3×2-tile int16 raster with nodata
    voids, against numpy over the tiles."""
    rng = np.random.default_rng(11)
    arrays = {}
    for dx in range(3):
        for dy in range(2):
            t = rng.integers(-500, 500, (BS, BS)).astype("i2")
            t[rng.random((BS, BS)) < 0.1] = -32768
            arrays[(TX0 + dx, TY0 + dy)] = t
    tiles, meta = _table(spark, arrays, "int16", -32768)
    mosaic = np.zeros((2 * BS, 3 * BS), dtype="f8")
    for (tx, ty), t in arrays.items():
        mosaic[(ty - TY0) * BS:(ty - TY0 + 1) * BS, (tx - TX0) * BS:(tx - TX0 + 1) * BS] = t
    gx = rng.integers(0, 3 * BS, 1000)
    gy = rng.integers(0, 2 * BS, 1000)
    pts = [(i, *_lonlat(TX0, TY0, int(x), int(y))) for i, (x, y) in enumerate(zip(gx, gy))]
    got = _values(raster_value(
        tiles, spark.createDataFrame(pts, "id long, lon double, lat double"), meta
    ))
    want = {i: (None if mosaic[y, x] == -32768 else float(mosaic[y, x]))
            for i, (x, y) in enumerate(zip(gx, gy))}
    assert got == want
