"""The gather builder (`tiff_reader._fused_gather_tiles`) must be
BYTE-IDENTICAL to the warp-join path (`_resampled_pixels` →
`from_pixel_table`, a shuffled hash join) for every grid class it
serves — same JVM-computed source coordinates (the builder reads the
join path's own expressions, per axis or per pixel), same verbatim
value copies and kernel blends, same fill/astype/encode semantics. Each
case runs the importer twice: once as shipped (builder) and once with
the eligibility gate monkeypatched off (join path), then compares every
row's bytes."""

from __future__ import annotations

import numpy as np
import pytest

import raquet_spark.sources.tiff_reader as tr


def _rows(df, sort_cols):
    pdf = df.toPandas().sort_values(sort_cols).reset_index(drop=True)
    out = []
    for rec in pdf.to_dict("records"):
        out.append(
            tuple(
                bytes(v) if isinstance(v, (bytes, bytearray))
                # NaN stats of all-nodata tiles must compare equal
                else "NaN" if isinstance(v, float) and v != v
                else v
                for v in rec.values()
            )
        )
    return list(pdf.columns), out


def _assert_identical(mk, sort_cols, monkeypatch):
    # spy: the "new" leg must actually take the fused path (a silently
    # disabled gate would compare the join path against itself)
    calls = []
    real_fused = tr._fused_gather_tiles

    def spy(*a, **k):
        calls.append(1)
        return real_fused(*a, **k)

    monkeypatch.setattr(tr, "_fused_gather_tiles", spy)
    new_df, _ = mk()
    cols_new, rows_new = _rows(new_df, sort_cols)
    assert calls, "fused gather did not engage for this case"
    monkeypatch.setattr(tr, "_fused_gather_eligible", lambda *a, **k: False)
    old_df, _ = mk()
    cols_old, rows_old = _rows(old_df, sort_cols)
    monkeypatch.undo()
    assert cols_new == cols_old
    assert len(rows_new) == len(rows_old)
    for rn, ro in zip(rows_new, rows_old):
        assert rn == ro


def test_fused_gather_matches_join_path_netcdf(spark, tmp_path, monkeypatch):
    """Scaled int16 NetCDF with 3 time steps (the bench's
    netcdf_import_3step shape at 1/4 size): float32 tiles, time_cf
    extra key."""
    from raquet_spark.sources.netcdf import netcdf_to_raquet
    from raquet_spark.testing import write_netcdf_classic

    nlat, nlon, nt = 150, 200, 3
    gy, gx = np.mgrid[0:nlat, 0:nlon]
    data = np.stack(
        [((gx * 7 + gy * 11 + t * 13) % 199 - 50) for t in range(nt)]
    ).astype("<i2")
    path = str(tmp_path / "fused.nc")
    write_netcdf_classic(
        path,
        37.9875 - 0.01 * np.arange(nlat),
        -123.0 + 0.01 * np.arange(nlon),
        data,
        times=np.arange(nt, dtype="f8"),
        nc_type=3, scale_factor=0.5, add_offset=100.0, fill_value=-999,
    )
    _assert_identical(
        lambda: netcdf_to_raquet(spark, path, block_size=64, stats=True),
        ["block", "time_cf"],
        monkeypatch,
    )


@pytest.mark.parametrize("src", ["standin", "reference"])
def test_fused_gather_matches_join_path_n37(
    spark, monkeypatch, standin_tifs, src
):
    """int16 EPSG 4326 GeoTIFF with GDAL_NODATA through the dense+stats
    defaults — the geotiff_import_n37 bench line: a generated stand-in,
    plus the real SRTM tile (bottom-up transform) when present."""
    import os

    n37 = "/root/reference/tests/n37_w123_1arc_v2.tif"
    if src == "standin":
        n37 = standin_tifs["dem"]
    elif not os.path.exists(n37):
        pytest.skip("reference GeoTIFF not present")
    _assert_identical(
        lambda: tr.geotiff_to_raquet(spark, n37, block_size=128),
        ["block"],
        monkeypatch,
    )


def test_fused_gather_matches_join_path_grib2(spark, tmp_path, monkeypatch):
    """Regular lat/lon GRIB2, 2 forecast steps, bitmap-missing points
    (absent source rows must read as nodata fill both ways)."""
    from raquet_spark.sources.grib2 import grib2_to_raquet
    from raquet_spark.testing_grib2 import write_grib2

    nj, ni = 24, 36
    gy, gx = np.mgrid[0:nj, 0:ni]
    fields = []
    for t in range(2):
        data = ((gx * 7 + gy * 11 + t * 13) % 199 - 50).astype("f8")
        mask = (gx + gy + t) % 17 == 0
        fields.append({
            "data": np.where(mask, np.nan, data),
            "forecast_time": t * 3,
            "param": (0, 0),
        })
    path = str(tmp_path / "fused.grib2")
    write_grib2(path, fields, lat1=52.0, lon1=4.0, di=0.25, dj=0.25)
    _assert_identical(
        lambda: grib2_to_raquet(spark, path, block_size=64),
        ["block", "time_cf"],
        monkeypatch,
    )


def test_fused_gather_matches_join_path_gaussian(spark, tmp_path, monkeypatch):
    """Gaussian (irregular-lat) grid: the fused syn vector comes from
    the shared driver-side interp, the join path from the broadcast
    rowmap — same doubles, same floors."""
    from raquet_spark.sources.grib2 import grib2_to_raquet
    from raquet_spark.testing_grib2 import write_grib2

    n_par, ni = 12, 48
    nj = 2 * n_par
    gy, gx = np.mgrid[0:nj, 0:ni]
    data = (gy * 100 + gx).astype("f8")
    path = str(tmp_path / "fused_gauss.grib2")
    write_grib2(
        path, [{"data": data, "forecast_time": 0}],
        lon1=0.0, di=360.0 / ni,
        grid={"type": "gauss", "n": n_par},
    )
    _assert_identical(
        lambda: grib2_to_raquet(spark, path, block_size=64, zoom=3),
        ["block"],
        monkeypatch,
    )


@pytest.mark.parametrize("src", ["standin", "reference"])
def test_fused_kernel_matches_join_path_n37_bilinear(
    spark, monkeypatch, standin_tifs, src
):
    """Bilinear on the int16 GeoTIFF (the geotiff_import_n37_bilinear
    bench line): the fused numpy blend must be byte-identical to the
    join path's SQL blend — same JVM fs doubles, same (kx, ky)
    accumulation order with invalid terms skipped, same HALF_UP
    round() for the integer band, same dense fill."""
    import os

    n37 = "/root/reference/tests/n37_w123_1arc_v2.tif"
    if src == "standin":
        n37 = standin_tifs["dem"]
    elif not os.path.exists(n37):
        pytest.skip("reference GeoTIFF not present")
    _assert_identical(
        lambda: tr.geotiff_to_raquet(
            spark, n37, block_size=128, resampling="bilinear"
        ),
        ["block"],
        monkeypatch,
    )


@pytest.mark.parametrize("src", ["standin", "reference"])
def test_fused_kernel_matches_join_path_n37_cubic(
    spark, monkeypatch, standin_tifs, src
):
    """Cubic (4×4 neighborhood, negative lobes) on the int16 GeoTIFF —
    the piecewise kernel polynomial must match _kernel_sql
    op-for-op."""
    import os

    n37 = "/root/reference/tests/n37_w123_1arc_v2.tif"
    if src == "standin":
        n37 = standin_tifs["dem"]
    elif not os.path.exists(n37):
        pytest.skip("reference GeoTIFF not present")
    _assert_identical(
        lambda: tr.geotiff_to_raquet(
            spark, n37, block_size=128, resampling="cubic"
        ),
        ["block"],
        monkeypatch,
    )


def test_fused_kernel_matches_join_path_netcdf_bilinear(
    spark, tmp_path, monkeypatch
):
    """Scaled int16 NetCDF, 3 time steps, bilinear: float64 unpacked
    values blend per step (grids keep the px-table dtype — the blend
    sees the pre-narrowing doubles, exactly like the join path)."""
    from raquet_spark.sources.netcdf import netcdf_to_raquet
    from raquet_spark.testing import write_netcdf_classic

    nlat, nlon, nt = 150, 200, 3
    gy, gx = np.mgrid[0:nlat, 0:nlon]
    data = np.stack(
        [((gx * 7 + gy * 11 + t * 13) % 199 - 50) for t in range(nt)]
    ).astype("<i2")
    path = str(tmp_path / "kfused.nc")
    write_netcdf_classic(
        path,
        37.9875 - 0.01 * np.arange(nlat),
        -123.0 + 0.01 * np.arange(nlon),
        data,
        times=np.arange(nt, dtype="f8"),
        nc_type=3, scale_factor=0.5, add_offset=100.0, fill_value=-999,
    )
    _assert_identical(
        lambda: netcdf_to_raquet(
            spark, path, block_size=64, stats=True, resampling="bilinear"
        ),
        ["block", "time_cf"],
        monkeypatch,
    )


def test_fused_kernel_matches_join_path_grib2_cubic(
    spark, tmp_path, monkeypatch
):
    """GRIB2 with bitmap-missing points, 2 steps, cubic: nodata-valued
    cells drop out of the blend with renormalization both ways, and a
    (tile, step) with zero valid pixels is absent both ways."""
    from raquet_spark.sources.grib2 import grib2_to_raquet
    from raquet_spark.testing_grib2 import write_grib2

    nj, ni = 24, 36
    gy, gx = np.mgrid[0:nj, 0:ni]
    fields = []
    for t in range(2):
        data = ((gx * 7 + gy * 11 + t * 13) % 199 - 50).astype("f8")
        mask = (gx + gy + t) % 17 == 0
        fields.append({
            "data": np.where(mask, np.nan, data),
            "forecast_time": t * 3,
            "param": (0, 0),
        })
    path = str(tmp_path / "kfused.grib2")
    write_grib2(path, fields, lat1=52.0, lon1=4.0, di=0.25, dj=0.25)
    _assert_identical(
        lambda: grib2_to_raquet(spark, path, block_size=64,
                                resampling="cubic"),
        ["block", "time_cf"],
        monkeypatch,
    )


def test_fused_kernel_matches_join_path_gaussian_bilinear(
    spark, tmp_path, monkeypatch
):
    """Gaussian (irregular-lat) grid, bilinear: the fused fsy comes
    from the shared driver-side interp — same doubles the join path's
    rowmap floors and weights."""
    from raquet_spark.sources.grib2 import grib2_to_raquet
    from raquet_spark.testing_grib2 import write_grib2

    n_par, ni = 12, 48
    nj = 2 * n_par
    gy, gx = np.mgrid[0:nj, 0:ni]
    data = (gy * 100 + gx).astype("f8")
    path = str(tmp_path / "kfused_gauss.grib2")
    write_grib2(
        path, [{"data": data, "forecast_time": 0}],
        lon1=0.0, di=360.0 / ni,
        grid={"type": "gauss", "n": n_par},
    )
    _assert_identical(
        lambda: grib2_to_raquet(spark, path, block_size=64, zoom=3,
                                resampling="bilinear"),
        ["block"],
        monkeypatch,
    )


@pytest.mark.parametrize("resampling", ["bilinear", "cubic"])
def test_fused_kernel_signed_zero_nan_nodata(
    spark, tmp_path, monkeypatch, resampling
):
    """float32 source of ±0.0 with NaN nodata and an odd width: Spark's
    SUM is ``coalesce(sum, 0) + x``, so a pixel whose every term is
    -0.0 (a -0.0 sample, or +0.0 under a negative cubic lobe) blends to
    +0.0 on the join path — the fused blend must not keep -0.0."""
    from raquet_spark.testing import GEOKEYS_4326, write_geokey_tiff

    h, w = 70, 131
    gy, gx = np.mgrid[0:h, 0:w]
    vals = np.where((gx // 9 + gy // 7) % 2 == 0, -0.0, 0.0)
    vals[(gx + gy) % 23 == 0] = np.nan
    vals[h // 2:, w // 2:] = ((gx * 3 + gy) % 17 - 8)[h // 2:, w // 2:]
    path = str(tmp_path / "zeros.tif")
    write_geokey_tiff(
        path, w, h, (-123.0, 38.0), 0.001, GEOKEYS_4326,
        dtype="<f4", nodata=float("nan"), values=vals,
    )
    _assert_identical(
        lambda: tr.geotiff_to_raquet(
            spark, path, block_size=64, resampling=resampling
        ),
        ["block"],
        monkeypatch,
    )


def test_round_half_up_matches_spark_round(spark):
    """_round_half_up_spark vs the engine's round(double): exact ties,
    negatives, near-tie doubles on both sides, zeros, large magnitudes,
    NaN/inf — the battery the integer-band blend feeds through it."""
    vals = [
        0.5, 1.5, 2.5, -0.5, -1.5, -2.5, 0.49999999999999994,
        -0.49999999999999994, 1.4999999999999998, 1.5000000000000002,
        123.49999999999999, -123.49999999999999, 0.0, -0.0,
        32766.5, -32766.5, 2.675, -2.675, 1e15 + 0.5, -(1e15 + 0.5),
        4503599627370495.5, 0.1 + 0.2 + 0.2, 7.0, -7.0,
        float("nan"), float("inf"), float("-inf"),
    ]
    sdf = spark.createDataFrame([(v,) for v in vals], "v double")
    got_spark = [
        r["r"] for r in sdf.selectExpr("round(v) AS r").collect()
    ]
    got_np = tr._round_half_up_spark(np.array(vals, dtype="float64"))
    for v, s, n in zip(vals, got_spark, got_np):
        if s != s:  # NaN
            assert n != n, v
        else:
            assert s == n, (v, s, n)


def test_fused_gate_takes_every_grid_by_size():
    """The builder takes every near/bilinear/cubic import whose source
    fits the ~100 MB driver bound, whatever the grid — rotated,
    staggered, ragged-row and projected included. The reducing kernels
    keep the forward-map aggregate; past the bound (raw bytes × steps)
    the shuffled-hash join takes over."""
    base = {
        "transform": (-120.0, 0.01, 0.0, 40.0, 0.0, -0.01),
        "width": 100, "height": 100, "n_bands": 1, "dtype": "int16",
        "epsg": 4326,
    }
    grids = [
        base,
        {**base, "transform": (-120.0, 0.01, 1e-5, 40.0, 0.0, -0.01)},
        {**base, "epsg": 32610},
        {**base, "stagger_x": (0.5, 0.0)},
        {**base, "row_ni": [10] * 100},
    ]
    for info in grids:
        for resampling in ("near", "bilinear", "cubic"):
            assert tr._fused_gather_eligible(info, resampling)
        for resampling in ("average", "mode"):
            assert not tr._fused_gather_eligible(info, resampling)
    big = {**base, "width": 12000, "height": 12000, "dtype": "float64"}
    assert not tr._fused_gather_eligible(big, "near")
    assert not tr._fused_gather_eligible(base, "near", n_steps=10_000)


@pytest.mark.parametrize("resampling", ["near", "bilinear", "cubic"])
def test_builder_matches_join_path_utm(
    spark, monkeypatch, standin_tifs, resampling
):
    """Projected EPSG:32610 stand-in (nodata voids, partial edge tiles,
    dense fill): the builder's per-pixel (fsx, fsy) stream runs the
    Snyder TM forward the join path joins on."""
    _assert_identical(
        lambda: tr.geotiff_to_raquet(
            spark, standin_tifs["utm"], block_size=64, resampling=resampling
        ),
        ["block"],
        monkeypatch,
    )


@pytest.mark.parametrize("resampling", ["near", "bilinear"])
def test_builder_matches_join_path_rotated_affine(
    spark, tmp_path, monkeypatch, resampling
):
    """EPSG:4326 GeoTIFF with rotation terms (b, c ≠ 0) in its
    ModelTransformation: not separable, so the builder streams the
    per-pixel coordinates of the join path's affine inverse."""
    from raquet_spark.testing import GEOKEYS_4326, write_geokey_tiff

    h, w = 90, 120
    gy, gx = np.mgrid[0:h, 0:w]
    vals = ((gx * 7 + gy * 11) % 199 - 50).astype("f8")
    vals[30:40, 50:70] = -999.0
    path = str(tmp_path / "rot.tif")
    write_geokey_tiff(
        path, w, h, (0.0, 0.0), 0.0, GEOKEYS_4326, dtype="<i2",
        nodata=-999, values=vals, rows_per_strip=16,
        transform=(-122.5, 0.001, 0.0004, 37.8, 0.0003, -0.001),
    )
    _assert_identical(
        lambda: tr.geotiff_to_raquet(
            spark, path, block_size=64, resampling=resampling
        ),
        ["block"],
        monkeypatch,
    )


def test_builder_matches_join_path_staggered_grib2(
    spark, tmp_path, monkeypatch
):
    """Staggered GRIB2 rows (flag-table 3.4 bit 5: odd scan rows shift
    half a sample east): the per-row-parity offset of the containing
    cell, near."""
    from raquet_spark.sources.grib2 import grib2_to_raquet
    from raquet_spark.testing_grib2 import write_grib2

    nj, ni = 24, 36
    gy, gx = np.mgrid[0:nj, 0:ni]
    data = ((gx * 7 + gy * 11) % 199 - 50).astype("f8")
    path = str(tmp_path / "stagger.grib2")
    write_grib2(path, [{"data": data, "forecast_time": 0}],
                lat1=52.0, lon1=4.0, di=0.25, dj=0.25, stagger=0x08)
    _assert_identical(
        lambda: grib2_to_raquet(spark, path, block_size=64),
        ["block"],
        monkeypatch,
    )


@pytest.mark.parametrize("resampling", ["near", "bilinear", "cubic"])
def test_builder_matches_join_path_reduced_gaussian(
    spark, tmp_path, monkeypatch, resampling
):
    """Reduced (ragged-row) Gaussian GRIB2 with an in-row bitmap hole:
    each row's own 360/pl spacing, wrapping on the global circle."""
    from raquet_spark.sources.grib2 import grib2_to_raquet
    from raquet_spark.testing_grib2 import write_grib2

    n_par = 8
    nj = 2 * n_par
    pl = [20 + 4 * min(j, nj - 1 - j) for j in range(nj)]
    ni = max(pl)
    rect = np.full((nj, ni), np.nan)
    for j in range(nj):
        for k in range(pl[j]):
            rect[j, k] = (k * 7 + j * 11) % 199 - 50
    rect[3, 5] = np.nan
    path = str(tmp_path / "reduced.grib2")
    write_grib2(
        path, [{"data": rect, "forecast_time": 0}],
        lon1=0.0, di=360.0 / ni,
        grid={"type": "gauss_reduced", "n": n_par, "pl": pl},
    )
    _assert_identical(
        lambda: grib2_to_raquet(spark, path, block_size=64, zoom=3,
                                resampling=resampling),
        ["block"],
        monkeypatch,
    )


def test_builder_matches_join_path_lambert_2step(
    spark, tmp_path, monkeypatch
):
    """2-step Lambert-conformal GRIB2 (template 3.30), near: a
    projected grid with a time key through the per-pixel stream."""
    from raquet_spark.sources.grib2 import grib2_to_raquet
    from raquet_spark.testing_grib2 import write_grib2

    nj, ni = 20, 28
    gy, gx = np.mgrid[0:nj, 0:ni]
    fields = [
        {"data": ((gx * 7 + gy * 11 + t * 13) % 199 - 50).astype("f8"),
         "forecast_time": t * 3}
        for t in range(2)
    ]
    path = str(tmp_path / "lambert.grib2")
    write_grib2(
        path, fields,
        grid={"type": "lambert", "la1": 35.0, "lo1": -100.0, "dx": 3000,
              "dy": 3000, "lad": 38.5, "lov": -97.5, "latin1": 38.5,
              "latin2": 38.5, "shape": 6},
    )
    _assert_identical(
        lambda: grib2_to_raquet(spark, path, block_size=64),
        ["block", "time_cf"],
        monkeypatch,
    )


def test_kernel_nan_samples_renormalize(spark, tmp_path, monkeypatch):
    """A float source WITHOUT nodata holding NaN samples: GDAL treats a
    NaN as invalid in the blend, so both paths drop it from num AND den
    and renormalize — no NaN output pixel, the join path equal to the
    builder, and one pixel next to the patch equal to a hand-computed
    renormalized bilinear blend."""
    import math

    from raquet_spark.functions.bands import decode_block
    from raquet_spark.functions.quadbin import py_cell_to_tile
    from raquet_spark.testing import GEOKEYS_4326, write_geokey_tiff

    h, w, res = 48, 64, 0.001
    ox, oy = -123.0, 38.0
    gy, gx = np.mgrid[0:h, 0:w]
    vals = (gx * 3 + gy * 5).astype("f8")
    vals[20:24, 30:35] = np.nan
    path = str(tmp_path / "nan.tif")
    write_geokey_tiff(path, w, h, (ox, oy), res, GEOKEYS_4326,
                      dtype="<f4", values=vals)
    mk = lambda: tr.geotiff_to_raquet(  # noqa: E731
        spark, path, block_size=64, resampling="bilinear", stats=False
    )
    _assert_identical(mk, ["block"], monkeypatch)

    tiles, meta = mk()
    z = meta["tiling"]["max_zoom"]
    world = float((1 << z) * 64)
    shift = math.pi * 6378137.0
    src = vals.astype("f4").astype("f8")
    checked = 0
    for row in tiles.collect():
        tile = decode_block(row["band_1"], "float32").reshape(64, 64)
        assert not np.isnan(tile).any()
        tx, ty, _ = py_cell_to_tile(row["block"])
        for py, px_ in np.argwhere(tile != 0):
            gxp, gyp = tx * 64 + px_, ty * 64 + py
            lon = ((gxp + 0.5) / world * 2 * shift - shift) / shift * 180.0
            my = shift - (gyp + 0.5) / world * 2 * shift
            lat = math.degrees(2 * math.atan(math.exp(my / 6378137.0)) - math.pi / 2)
            fsx, fsy = (lon - ox) / res, (oy - lat) / res
            x0, y0 = math.floor(fsx - 0.5), math.floor(fsy - 0.5)
            if not (0 <= x0 < w - 1 and 0 <= y0 < h - 1):
                continue
            nb = src[y0:y0 + 2, x0:x0 + 2]
            if not (np.isnan(nb).any() and not np.isnan(nb).all()):
                continue
            wy = 1.0 - np.abs(fsy - (np.arange(y0, y0 + 2) + 0.5))
            wx = 1.0 - np.abs(fsx - (np.arange(x0, x0 + 2) + 0.5))
            wt = wy[:, None] * wx[None, :]
            ok = ~np.isnan(nb)
            want = (wt[ok] * nb[ok]).sum() / wt[ok].sum()
            assert tile[py, px_] == pytest.approx(want, rel=1e-5)
            checked += 1
            break
    assert checked


def test_builder_stream_rejects_non_contiguous_tiles(
    spark, monkeypatch, standin_tifs
):
    """The per-pixel stream must arrive tile by tile: a stream whose
    tiles are split or interleaved (here: a round-robin repartition of
    the target grid) fails the build with ValueError, never a half
    tile."""
    real = tr._target_fs
    monkeypatch.setattr(
        tr, "_target_fs", lambda *a, **k: real(*a, **k).repartition(3)
    )
    tiles, _ = tr.geotiff_to_raquet(
        spark, standin_tifs["utm"], block_size=64, stats=False
    )
    with pytest.raises(Exception, match="not tile-contiguous"):
        tiles.collect()


def _exact(rows):
    # floats by bit pattern (-0.0 is not 0.0), NULL as None
    return [
        tuple(v.hex() if isinstance(v, float) else v for v in r)
        for r in rows
    ]


@pytest.mark.parametrize(
    "dtype, nodata",
    [("<i2", -32767), ("<u2", 0), ("<f4", float("nan")), ("<f4", -9999.0),
     ("<f8", None), ("<f8", float("nan"))],
    ids=["int16", "uint16", "float32-nan", "float32-finite", "float64-none",
         "float64-nan"],
)
def test_builder_stats_match_with_tile_stats(
    spark, tmp_path, monkeypatch, dtype, nodata
):
    """The gather builder computes the per-tile stats on the tiles it
    encodes; they must equal ``with_tile_stats`` over the same blobs —
    names, types, order and every bit, over -0.0, NaN, ±inf, NaN and
    finite nodata, and all-nodata tiles (NULL stats, count too)."""
    import raquet_spark.operators.tile_stats as ts
    from raquet_spark.core.metadata import TILE_STAT_NAMES
    from raquet_spark.testing import GEOKEYS_4326, write_geokey_tiff

    h, w = 150, 200
    gy, gx = np.mgrid[0:h, 0:w]
    vals = ((gx * 7 + gy * 11) % 1999).astype("f8")
    if dtype[1] == "f":
        vals = vals - 1000.0
        vals[(gx + gy) % 13 == 0] = -0.0
        vals[(gx * 3 + gy) % 29 == 0] = np.nan
        vals[(gx + 5 * gy) % 31 == 0] = np.inf
        vals[(gx + 7 * gy) % 37 == 0] = -np.inf
    # the left half is void: whole tiles of nodata (or of NaN)
    vals[:, : w // 2] = np.nan if nodata is None else nodata
    path = str(tmp_path / "stats.tif")
    write_geokey_tiff(
        path, w, h, (-123.0, 38.0), 0.0005, GEOKEYS_4326,
        dtype=dtype, nodata=nodata, values=vals, rows_per_strip=16,
    )
    monkeypatch.setattr(ts, "with_tile_stats", lambda *a, **k: pytest.fail(
        "the builder branch ran a second stats pass"))
    built, meta = tr.geotiff_to_raquet(spark, path, block_size=32, stats=True)
    monkeypatch.undo()
    stat_cols = [f"band_1_{s}" for s in TILE_STAT_NAMES]
    ref = ts.with_tile_stats(built.drop(*stat_cols), meta)
    assert [(f.name, f.dataType) for f in built.schema.fields] == [
        (f.name, f.dataType) for f in ref.schema.fields
    ]
    assert built.columns[-len(stat_cols):] == stat_cols
    got = _exact(built.orderBy("block").collect())
    want = _exact(ref.orderBy("block").collect())
    assert got == want
    counts = [r[built.columns.index("band_1_count")] for r in got]
    assert None in counts and any(c for c in counts)
