"""Widened GeoTIFF CRS support (reference accepts anything proj knows
via GDAL warp, raster2raquet.py): polar stereographic (the 3031/3413
polar grids), ellipsoidal sinusoidal, general Transverse Mercator with
a non-zero latitude of origin, named EPSG entries (5070 CONUS Albers),
WGS84-compatible geographic datums, and typed errors that name the
unsupported projection FAMILY."""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from raquet_spark.sources.tiff_reader import (
    _ps_constants,
    ps_inverse,
    read_tiff_structure,
    sinu_ell_inverse,
    tiff_pixel_table,
)
from raquet_spark.testing import write_geokey_tiff


def test_ps_snyder_worked_example():
    """Snyder's published Polar Stereographic numerical example
    (USGS PP 1395 p. 315, south aspect, International 1924 ellipsoid):
    (x, y) = (-1540033.6, -560526.4) inverts to (150 E, 75 S)."""
    p = {"lat_ts": -71.0, "lon0": -100.0, "fe": 0.0, "fn": 0.0,
         "a": 6378388.0, "inv_f": 297.0}
    lon, lat = ps_inverse(p, -1540033.6, -560526.4)
    lon = (lon + 180) % 360 - 180
    assert abs(lon - 150.0) < 1e-4 and abs(lat + 75.0) < 1e-4


def test_ps_named_epsg_roundtrip():
    """EPSG 3413 (Arctic) / 3031 (Antarctic): the named-table params
    invert an independently-coded Snyder forward to 1e-7 degrees."""
    from raquet_spark.sources.tiff_reader import _EPSG_PROJ

    def fwd(p, lon, lat):
        f = 1.0 / p["inv_f"]
        e2 = 2 * f - f * f
        e = math.sqrt(e2)
        south = p["lat_ts"] < 0
        phi = math.radians(-lat if south else lat)
        lam = math.radians(lon) - math.radians(p["lon0"])
        s = math.sin(phi)
        t = math.tan(math.pi / 4 - phi / 2) / (
            (1 - e * s) / (1 + e * s)
        ) ** (e / 2)
        rho = _ps_constants(p)["rho_div"] * t
        x = rho * math.sin(lam)
        y = rho * math.cos(lam) * (1.0 if south else -1.0)
        return x + p["fe"], y + p["fn"]

    for epsg, pts in [
        (3413, [(-45.0, 70.0), (10.0, 85.0), (-150.0, 60.0)]),
        (3031, [(0.0, -71.0), (100.0, -80.0), (-60.0, -65.0)]),
    ]:
        p = _EPSG_PROJ[epsg]
        for lon0, lat0 in pts:
            x, y = fwd(p, lon0, lat0)
            lon, lat = ps_inverse(p, x, y)
            lon = (lon + 180) % 360 - 180
            assert abs(lon - lon0) < 1e-7 and abs(lat - lat0) < 1e-7, (
                epsg, lon0, lat0, lon, lat)


def test_new_projection_sql_matches_python(spark):
    """The SQL inverse steps (the warp's hot path) match the python
    reference inverses for ps north/south, ellipsoidal sinusoidal, and
    lat0 != 0 TM, evaluated in Spark over a projected-coordinate
    grid."""
    from raquet_spark.sources.tiff_reader import (
        _lonlat_steps,
        _source_projection,
        aea_inverse,
        tm_inverse,
    )

    cases = [
        # explicit sphere (GeogInvFlattening 0 → inv_f inf): exercises
        # the e→0 analytic limit in the SQL _q binding
        ("aea_sphere", {"type": "aea", "sp1": 29.5, "sp2": 45.5,
                        "lat0": 23.0, "lon0": -96.0, "fe": 0.0, "fn": 0.0,
                        "a": 6370997.0, "inv_f": float("inf")},
         (-1500000.0, 3000.0, 1000000.0), aea_inverse),
        ("ps_north", {"type": "ps", "lat_ts": 70.0, "lon0": -45.0,
                      "fe": 0.0, "fn": 0.0, "a": 6378137.0,
                      "inv_f": 298.257223563},
         (-800000.0, 700.0, 900000.0), ps_inverse),
        ("ps_south", {"type": "ps", "lat_ts": -71.0, "lon0": 0.0,
                      "fe": 0.0, "fn": 0.0, "a": 6378137.0,
                      "inv_f": 298.257223563},
         (-1000000.0, 800.0, 1100000.0), ps_inverse),
        ("sinu_ell", {"type": "sinu_ell", "lon0": 10.0, "fe": 0.0,
                      "fn": 0.0, "a": 6378137.0,
                      "inv_f": 298.257223563},
         (-2000000.0, 1500.0, 4000000.0), sinu_ell_inverse),
        ("tm_lat0", {"type": "tm", "lon0": -3.0, "lat0": 49.0,
                     "k0": 0.9996012717, "fe": 400000.0, "fn": -100000.0,
                     "a": 6377563.396, "inv_f": 299.3249646},
         (100000.0, 300.0, 100000.0), tm_inverse),
    ]
    for name, proj, (x0, res, y0), py_inv in cases:
        info = {
            "epsg": 32767, "projection": proj, "width": 16, "height": 16,
            "transform": (x0, res, 0.0, y0, 0.0, -res),
        }
        assert _source_projection(info) == proj
        steps, lon_e, lat_e = _lonlat_steps(info)
        df = spark.range(64).selectExpr(
            "CAST(id % 8 AS DOUBLE) * 2 AS sx",
            "CAST(id DIV 8 AS DOUBLE) * 2 AS sy",
        )
        for n_, e_ in steps:
            df = df.withColumn(n_, F.expr(e_))
        rows = df.selectExpr(
            "sx", "sy", f"{lon_e} AS lon", f"{lat_e} AS lat"
        ).collect()
        for r in rows:
            mx = x0 + (r["sx"] + 0.5) * res
            my = y0 - (r["sy"] + 0.5) * res
            plon, plat = py_inv(proj, mx, my)
            assert abs(r["lon"] - plon) < 1e-9, (name, r)
            assert abs(r["lat"] - plat) < 1e-9, (name, r)


def test_forward_steps_invert_new_inverses(spark):
    """SQL forward projections (dense-warp enabler) invert the SQL
    inverses for the new families, to sub-pixel accuracy in Spark."""
    from raquet_spark.sources.tiff_reader import (
        _forward_steps,
        _lonlat_steps,
    )

    cases = [
        ("ps_south", {"type": "ps", "lat_ts": -71.0, "lon0": 0.0,
                      "fe": 0.0, "fn": 0.0, "a": 6378137.0,
                      "inv_f": 298.257223563},
         (-1000000.0, 800.0, 1100000.0)),
        ("ps_north", {"type": "ps", "lat_ts": 70.0, "lon0": -45.0,
                      "fe": 10000.0, "fn": -5000.0, "a": 6378137.0,
                      "inv_f": 298.257223563},
         (-800000.0, 700.0, 900000.0)),
        ("sinu_ell", {"type": "sinu_ell", "lon0": 10.0, "fe": 0.0,
                      "fn": 0.0, "a": 6378137.0,
                      "inv_f": 298.257223563},
         (-2000000.0, 1500.0, 4000000.0)),
    ]
    for name, proj, (x0, res, y0) in cases:
        info = {
            "epsg": 32767, "projection": proj, "width": 16, "height": 16,
            "transform": (x0, res, 0.0, y0, 0.0, -res),
        }
        steps, lon_e, lat_e = _lonlat_steps(info)
        fsteps, x_e, y_e = _forward_steps(info)
        df = spark.range(64).selectExpr(
            "CAST(id % 8 AS DOUBLE) * 2 AS sx",
            "CAST(id DIV 8 AS DOUBLE) * 2 AS sy",
        )
        for n_, e_ in steps:
            df = df.withColumn(n_, F.expr(e_))
        df = (
            df.withColumn("_lon", F.expr(lon_e))
            .withColumn("_lat", F.expr(lat_e))
        )
        for n_, e_ in fsteps:
            df = df.withColumn(n_, F.expr(e_))
        mx = f"({x0} + (sx + 0.5) * {res})"
        my = f"({y0} - (sy + 0.5) * {res})"
        r = df.selectExpr(
            f"max(abs({x_e} - {mx})) AS ex",
            f"max(abs({y_e} - {my})) AS ey",
        ).first()
        assert r["ex"] < res * 0.01 and r["ey"] < res * 0.01, (name, r)


def test_warp_polar_stereo_end_to_end(spark, tmp_path):
    """User-defined south polar stereographic geokeys drive the full
    warp; the probe pixel's tile matches the python ps_inverse."""
    from raquet_spark.functions import quadbin as qb
    from raquet_spark.sources.tiff_reader import geotiff_to_raquet

    path = str(tmp_path / "ps.tif")
    doubles = (-71.0, 0.0, 0.0, 0.0, 6378137.0, 298.257223563)
    geokeys = [
        (1024, 0, 1, 1), (1025, 0, 1, 1),
        (2057, 34736, 1, 4), (2059, 34736, 1, 5),
        (3072, 0, 1, 32767),
        (3075, 0, 1, 15),          # CT_PolarStereographic
        (3078, 34736, 1, 0),       # std parallel (lat_ts)
        (3095, 34736, 1, 1),       # straight vertical pole lon
        (3082, 34736, 1, 2), (3083, 34736, 1, 3),
    ]
    vals = write_geokey_tiff(path, 48, 48, (-200000.0, 1500000.0), 2000.0,
                     geokeys, doubles)
    info = read_tiff_structure(path)
    assert info["projection"]["type"] == "ps"
    assert info["projection"]["lat_ts"] == -71.0

    tiles, meta = geotiff_to_raquet(spark, path, block_size=128)
    assert tiles.count() > 0
    # probe: source center pixel should land in the tile containing its
    # python-inverse lon/lat
    cx = -200000.0 + 24.5 * 2000.0
    cy = 1500000.0 - 24.5 * 2000.0
    lon, lat = ps_inverse(info["projection"], cx, cy)
    z = meta["tiling"]["max_zoom"] if "tiling" in meta else meta["max_zoom"]
    m = 1 << z
    tx = int((lon / 360.0 + 0.5) * m)
    sv = math.sin(math.radians(lat))
    ty = int((0.5 - 0.25 * math.log((1 + sv) / (1 - sv)) / math.pi) * m)
    cell = qb.py_tile_to_cell(tx, ty, z)
    assert tiles.where(F.col("block") == cell).count() == 1


def test_warp_sinu_ell_end_to_end(spark, tmp_path):
    """Ellipsoidal sinusoidal (GeogInvFlattening present) selects the
    ellipsoidal inverse, and the import completes."""
    from raquet_spark.sources.tiff_reader import geotiff_to_raquet

    path = str(tmp_path / "sinuell.tif")
    doubles = (0.0, 0.0, 0.0, 6378137.0, 298.257223563)
    geokeys = [
        (1024, 0, 1, 1), (1025, 0, 1, 1),
        (2057, 34736, 1, 3), (2059, 34736, 1, 4),
        (3072, 0, 1, 32767),
        (3075, 0, 1, 24),          # CT_Sinusoidal
        (3080, 34736, 1, 0),
        (3082, 34736, 1, 1), (3083, 34736, 1, 2),
    ]
    write_geokey_tiff(path, 32, 32, (-1000000.0, 4500000.0), 3000.0,
              geokeys, doubles)
    info = read_tiff_structure(path)
    assert info["projection"]["type"] == "sinu_ell"
    tiles, _ = geotiff_to_raquet(spark, path, block_size=128)
    assert tiles.count() > 0


def test_geographic_datum_handling(tmp_path):
    """NAD83 (4269) lon/lat is WGS84-compatible and normalizes to the
    4326 path; NAD27 (4267) needs a real datum shift and gates."""
    nad83 = str(tmp_path / "nad83.tif")
    write_geokey_tiff(nad83, 16, 16, (-100.0, 40.0), 0.01,
              [(1024, 0, 1, 2), (2048, 0, 1, 4269)], ())
    info = read_tiff_structure(nad83)
    assert info["epsg"] == 4326

    nad27 = str(tmp_path / "nad27.tif")
    write_geokey_tiff(nad27, 16, 16, (-100.0, 40.0), 0.01,
              [(1024, 0, 1, 2), (2048, 0, 1, 4267)], ())
    with pytest.raises(NotImplementedError, match="datum shift"):
        read_tiff_structure(nad27)


def test_unsupported_family_named_in_error(tmp_path):
    """A user-defined projection outside the closed-form set fails
    naming the FAMILY (Lambert Azimuthal Equal Area), not a bare
    code."""
    path = str(tmp_path / "laea.tif")
    doubles = (52.0, 10.0)
    geokeys = [
        (1024, 0, 1, 1), (1025, 0, 1, 1),
        (3072, 0, 1, 32767),
        (3075, 0, 1, 10),          # CT_LambertAzimEqualArea
        (3080, 34736, 1, 1), (3081, 34736, 1, 0),
    ]
    with pytest.raises(NotImplementedError, match="Lambert Azimuthal"):
        write_geokey_tiff(path, 8, 8, (0.0, 0.0), 1000.0, geokeys, doubles)
        read_tiff_structure(path)


def test_spherical_flattening_zero_is_sphere(tmp_path):
    """An EXPLICIT GeogInvFlattening of 0.0 (the GeoTIFF convention for
    a spherical ellipsoid) must select e²=0 — not silently substitute
    WGS84 flattening (key ABSENT is what means WGS84). The e→0 AEA
    limit is checked against an independently-coded spherical Albers
    forward (Snyder 14-1..14-4)."""
    from raquet_spark.sources.tiff_reader import _geokey_inv_f, aea_inverse

    assert _geokey_inv_f(None) == 298.257223563
    assert _geokey_inv_f(0.0) == float("inf")
    assert _geokey_inv_f(297.0) == 297.0

    R = 6370997.0
    p = {"type": "aea", "sp1": 29.5, "sp2": 45.5, "lat0": 23.0,
         "lon0": -96.0, "fe": 0.0, "fn": 0.0, "a": R,
         "inv_f": float("inf")}
    s1, s2 = math.sin(math.radians(29.5)), math.sin(math.radians(45.5))
    n = (s1 + s2) / 2.0
    C = math.cos(math.radians(29.5)) ** 2 + 2.0 * n * s1
    rho0 = R * math.sqrt(C - 2.0 * n * math.sin(math.radians(23.0))) / n
    for lon_w, lat_w in [(-75.0, 35.0), (-120.0, 40.0), (-96.001, 23.0)]:
        rho = R * math.sqrt(C - 2.0 * n * math.sin(math.radians(lat_w))) / n
        th = n * math.radians(lon_w + 96.0)
        x, y = rho * math.sin(th), rho0 - rho * math.cos(th)
        lon, lat = aea_inverse(p, x, y)
        assert abs(lon - lon_w) < 1e-7 and abs(lat - lat_w) < 1e-7

    # file-level: explicit 0.0 in the doubles block parses to a sphere
    path = str(tmp_path / "sphere_tm.tif")
    doubles = (0.0, 0.0, 0.0, 0.0, 6371000.0, 0.0)
    geokeys = [
        (1024, 0, 1, 1), (1025, 0, 1, 1),
        (2057, 34736, 1, 4), (2059, 34736, 1, 5),
        (3072, 0, 1, 32767),
        (3075, 0, 1, 1),           # CT_TransverseMercator
        (3080, 34736, 1, 0), (3081, 34736, 1, 1),
        (3082, 34736, 1, 2), (3083, 34736, 1, 3),
    ]
    write_geokey_tiff(path, 16, 16, (-50000.0, 50000.0), 1000.0, geokeys, doubles)
    info = read_tiff_structure(path)
    assert info["projection"]["inv_f"] == float("inf")


def test_named_epsg_lambert93_and_etrs89():
    """EPSG 2154 (RGF93 / Lambert-93) and 25832/25833 (ETRS89 UTM):
    named-table params invert an independently-coded Snyder LCC/TM
    forward, and Paris lands in the published Lambert-93 coordinate
    range."""
    from raquet_spark.sources.tiff_reader import (
        _EPSG_PROJ,
        lcc_inverse,
        tm_inverse,
    )

    p = _EPSG_PROJ[2154]

    def lcc_fwd(p, lon, lat):  # Snyder 15-1..15-4 ellipsoidal forward
        f = 1.0 / p["inv_f"]
        e2 = 2 * f - f * f
        e = math.sqrt(e2)

        def m(phi):
            s = math.sin(phi)
            return math.cos(phi) / math.sqrt(1 - e2 * s * s)

        def t(phi):
            s = math.sin(phi)
            return math.tan(math.pi / 4 - phi / 2) / (
                (1 - e * s) / (1 + e * s)
            ) ** (e / 2)

        p1, p2 = math.radians(p["sp1"]), math.radians(p["sp2"])
        n = (math.log(m(p1)) - math.log(m(p2))) / (
            math.log(t(p1)) - math.log(t(p2))
        )
        F_ = m(p1) / (n * t(p1) ** n)
        rho0 = p["a"] * F_ * t(math.radians(p["lat0"])) ** n
        rho = p["a"] * F_ * t(math.radians(lat)) ** n
        th = n * math.radians(lon - p["lon0"])
        return (p["fe"] + rho * math.sin(th),
                p["fn"] + rho0 - rho * math.cos(th))

    for lon0_, lat0_ in [(2.3522, 48.8566), (5.37, 43.30), (-4.49, 48.39)]:
        x, y = lcc_fwd(p, lon0_, lat0_)
        lon, lat = lcc_inverse(p, x, y)
        assert abs(lon - lon0_) < 1e-7 and abs(lat - lat0_) < 1e-7
    # Paris: the published Lambert-93 range (~652 km E, ~6862 km N)
    x, y = lcc_fwd(p, 2.3522, 48.8566)
    assert 640_000 < x < 665_000 and 6_850_000 < y < 6_880_000

    for epsg, lon0 in [(25832, 9.0), (25833, 15.0)]:
        q = _EPSG_PROJ[epsg]
        assert q["lon0"] == lon0 and q["k0"] == 0.9996
        # central meridian at the equator is the (FE, FN) fixed point
        lon, lat = tm_inverse(q, 500000.0, 0.0)
        assert abs(lon - lon0) < 1e-9 and abs(lat) < 1e-9


def test_named_epsg_ups_polar():
    """EPSG 32661/32761 (Universal Polar Stereographic): variant A with
    k0=0.994, FE=FN=2,000,000 — the pole is the false-origin fixed
    point, aspect/axis orientation matches the UPS convention, and the
    python inverse round-trips a variant-A forward."""
    from raquet_spark.sources.tiff_reader import _EPSG_PROJ, _ps_constants

    for epsg, south in [(32661, False), (32761, True)]:
        p = _EPSG_PROJ[epsg]
        k = _ps_constants(p)
        assert k["south"] == south
        lon, lat = ps_inverse(p, 2_000_000.0, 2_000_000.0)
        assert abs(lat - (-90.0 if south else 90.0)) < 1e-6

        def fwd(lon_, lat_):  # Snyder 21-33 variant A forward
            f = 1.0 / p["inv_f"]
            e = math.sqrt(2 * f - f * f)
            phi = math.radians(-lat_ if south else lat_)
            s = math.sin(phi)
            t = math.tan(math.pi / 4 - phi / 2) / (
                (1 - e * s) / (1 + e * s)
            ) ** (e / 2)
            rho = (2 * p["a"] * p["k0"] * t
                   / math.sqrt((1 + e) ** (1 + e) * (1 - e) ** (1 - e)))
            lam = math.radians(lon_) - math.radians(p["lon0"])
            x = rho * math.sin(lam)
            y = rho * math.cos(lam) * (1.0 if south else -1.0)
            return x + p["fe"], y + p["fn"]

        pts = [(44.0, -73.0), (-120.0, -80.0)] if south else \
              [(44.0, 73.0), (-120.0, 80.0)]
        for lon0_, lat0_ in pts:
            x, y = fwd(lon0_, lat0_)
            lon, lat = ps_inverse(p, x, y)
            lon = (lon + 180) % 360 - 180
            assert abs(lon - lon0_) < 1e-7 and abs(lat - lat0_) < 1e-7
        # UPS axis convention: north aspect, 90E maps east of the
        # false origin; south aspect mirrors
        x, y = fwd(90.0, -85.0 if south else 85.0)
        assert x > 2_000_000.0


def test_named_epsg_5070_conus_albers():
    """EPSG 5070 resolves from the named table to CONUS Albers params
    and inverts its own forward."""
    from raquet_spark.sources.tiff_reader import (
        _source_projection,
        aea_inverse,
    )

    info = {"epsg": 5070, "projection": None}
    p = _source_projection(info)
    assert p["type"] == "aea" and p["sp1"] == 29.5 and p["lon0"] == -96.0
    # CONUS center sanity: x=0, y at lat0 height maps near (-96, 23)
    lon, lat = aea_inverse(p, 0.0, 0.0)
    assert abs(lon + 96.0) < 1e-6 and abs(lat - 23.0) < 1e-6
