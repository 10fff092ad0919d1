"""Real-world GeoTIFF ingestion: the reference's primary input path
(/root/reference/raquet/raster2raquet.py reads GeoTIFF with GDAL, warps
to EPSG:3857, tiles, and writes RaQuet), re-expressed without GDAL.

Three layers:

1. ``read_tiff_structure`` — driver-side parse of the IFD only (tags,
   segment offsets, geotransform, CRS from GeoKeys). No pixel bytes are
   touched; this is the planning step.
2. ``tiff_pixel_table`` — DISTRIBUTED pixel decode: the strip/tile
   segment list is parallelized, each executor reads + inflates its
   byte ranges (zlib for compression 8) and emits (sx, sy, band...)
   source-grid pixel rows. The file must be on storage all executors
   can reach (shared FS / object store), the same contract GDAL's
   windowed reads have on a cluster.
3. ``import_tiles`` — the import planner shared with the NetCDF and
   GRIB2 importers (``geotiff_to_raquet`` adds only the colour
   interpretation): GDAL-semantics warp to the web-mercator tile grid
   at a zoom whose mercator resolution at the raster's center is at
   least as fine as the source (the reference's find_zoom intent). It
   picks the strategy per the table in its docstring: the join-free
   gather builder for every near/bilinear/cubic source of ≤ 100 MB,
   whatever its grid; a shuffled-hash warp join into
   ``operators/tiling.from_pixel_table`` above that; the forward-map
   aggregation for the reducing kernels.

Supported: classic AND BigTIFF, little- ("II") and big-endian ("MM"),
strip or tile layout, compression none/LZW/deflate/PackBits
(+ horizontal predictor), 1..N samples (pixel-interleaved),
uint8..float64, palette (kept as indices with the colortable in
metadata, like the reference's colored.tif handling), CRS = EPSG:4326,
EPSG:3857, UTM zones, and user-defined Albers/LCC-2SP/sinusoidal from
GeoKeys (closed-form Snyder math both directions — no proj database in
this environment).
"""

from __future__ import annotations

import math
import struct
import zlib
from collections.abc import Callable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from raquet_spark.sources.lzw import lzw_decode, packbits_decode

from raquet_spark.core.metadata import TILE_STAT_NAMES, BandMeta, build_metadata
from raquet_spark.sources.geotiff import read_ifd


def _jpeg_seg_decode(
    buf: bytes,
    jpeg_tables: bytes | None,
    n_bands: int,
    color_transform: bool = True,
) -> np.ndarray:
    """One JPEG-in-TIFF segment → (h, w, c) uint8. Per TIFF Tech Note 2
    the shared JPEGTables stream supplies table DEFAULTS, so it is
    always spliced in front (tables minus their EOI, segment minus its
    SOI) — a segment that carries its own DQT/DHT just redefines the
    table slots, which the decoder's last-definition-wins dict handles;
    gating the splice on a segment-local DQT would break spec-valid
    files whose DHT lives only in tag 347.

    ``color_transform=False`` for photometric=2 (RGB) files whose JPEG
    planes are stored untransformed; the channel count is checked
    against SamplesPerPixel so an inconsistent file fails with a typed
    error, not an IndexError in the band loop."""
    from raquet_spark.functions.jpeg import jpeg_decode

    buf = bytes(buf)
    if jpeg_tables:
        buf = bytes(jpeg_tables)[:-2] + buf[2:]
    arr = jpeg_decode(buf, color_transform=color_transform)
    arr = arr if arr.ndim == 3 else arr[:, :, None]
    if arr.shape[2] != n_bands:
        raise ValueError(
            f"JPEG segment decodes to {arr.shape[2]} channel(s) but the "
            f"TIFF declares SamplesPerPixel={n_bands}"
        )
    return arr

_EARTH_R = 6378137.0
_ORIGIN_SHIFT = math.pi * _EARTH_R

_KIND = {1: "u", 2: "i", 3: "f"}


def _geokeys(tags: dict[int, tuple]) -> dict[int, int | float | str]:
    """GeoKeyDirectory (34735) → {key_id: value}, dereferencing values
    stored in GeoDoubleParams (34736) / GeoAsciiParams (34737)."""
    raw = tags.get(34735)
    if not raw:
        return {}
    doubles = tags.get(34736, ())
    ascii_params = tags.get(34737, ("",))[0]
    out: dict[int, int | float | str] = {}
    for i in range(4, len(raw) - 3, 4):
        key_id, loc, cnt, val = raw[i : i + 4]
        if loc == 0:
            out[key_id] = val
        elif loc == 34736 and val < len(doubles):
            out[key_id] = doubles[val]
        elif loc == 34737:
            out[key_id] = ascii_params[val : val + cnt].rstrip("|")
    return out


# GeoKey ids for projection parameters (GeoTIFF spec §2.7)
_CT_TRANSVERSE_MERCATOR = 1
_CT_LCC_2SP = 8
_CT_ALBERS = 11
_CT_POLAR_STEREO = 15
_CT_SINUSOIDAL = 24

# coordinate-transform code → family name, for typed errors that name
# the PROJECTION FAMILY instead of an opaque code (GeoTIFF spec §6.3.3.3)
_CT_FAMILIES = {
    1: "Transverse Mercator", 2: "Modified Alaska TM",
    3: "Oblique Mercator", 4: "Oblique Mercator (Laborde)",
    5: "Swiss Oblique Cylindrical", 6: "Oblique Mercator (Spherical)",
    7: "Mercator", 8: "Lambert Conformal Conic 2SP",
    9: "Lambert Conformal Conic 1SP", 10: "Lambert Azimuthal Equal Area",
    11: "Albers Equal Area", 12: "Azimuthal Equidistant",
    13: "Equidistant Conic", 14: "Stereographic",
    15: "Polar Stereographic", 16: "Oblique Stereographic",
    17: "Equirectangular", 18: "Cassini-Soldner", 19: "Gnomonic",
    20: "Miller Cylindrical", 21: "Orthographic", 22: "Polyconic",
    23: "Robinson", 24: "Sinusoidal", 25: "VanDerGrinten",
    26: "New Zealand Map Grid", 27: "Transverse Mercator South Oriented",
    28: "Cylindrical Equal Area",
}

# common named projected EPSG codes with closed-form parameters (proj
# database is unavailable here; reference parity is GDAL's coverage)
_EPSG_PROJ: dict[int, dict] = {
    # NAD83 / Conus Albers (NLCD's published CRS); NAD83≈WGS84 (<2 m)
    5070: {"type": "aea", "sp1": 29.5, "sp2": 45.5, "lat0": 23.0,
           "lon0": -96.0, "fe": 0.0, "fn": 0.0,
           "a": 6378137.0, "inv_f": 298.257222101},
    # WGS84 / Antarctic Polar Stereographic
    3031: {"type": "ps", "lat_ts": -71.0, "lon0": 0.0, "fe": 0.0,
           "fn": 0.0, "a": 6378137.0, "inv_f": 298.257223563},
    # WGS84 / NSIDC Sea Ice Polar Stereographic North
    3413: {"type": "ps", "lat_ts": 70.0, "lon0": -45.0, "fe": 0.0,
           "fn": 0.0, "a": 6378137.0, "inv_f": 298.257223563},
    # RGF93 / Lambert-93 (France national grid; RGF93≈WGS84, GRS80)
    2154: {"type": "lcc", "sp1": 49.0, "sp2": 44.0, "lat0": 46.5,
           "lon0": 3.0, "fe": 700000.0, "fn": 6600000.0,
           "a": 6378137.0, "inv_f": 298.257222101},
    # ETRS89 / UTM zones 32-33N (central Europe; ETRS89≈WGS84, GRS80)
    25832: {"type": "tm", "lon0": 9.0, "lat0": 0.0, "k0": 0.9996,
            "fe": 500000.0, "fn": 0.0,
            "a": 6378137.0, "inv_f": 298.257222101},
    25833: {"type": "tm", "lon0": 15.0, "lat0": 0.0, "k0": 0.9996,
            "fe": 500000.0, "fn": 0.0,
            "a": 6378137.0, "inv_f": 298.257222101},
    # WGS84 / Universal Polar Stereographic N/S (variant A, scale at
    # the pole k0=0.994, FE=FN=2,000,000)
    32661: {"type": "ps", "lat_ts": 90.0, "k0": 0.994, "lon0": 0.0,
            "fe": 2000000.0, "fn": 2000000.0,
            "a": 6378137.0, "inv_f": 298.257223563},
    32761: {"type": "ps", "lat_ts": -90.0, "k0": 0.994, "lon0": 0.0,
            "fe": 2000000.0, "fn": 2000000.0,
            "a": 6378137.0, "inv_f": 298.257223563},
    # NSIDC EASE-Grid North/South use LAEA (unsupported family) — the
    # CT gate below names them if they appear user-defined
}

# geographic CRSs whose lon/lat are WGS84-compatible at raster-warp
# precision (NAD83 / ETRS89 deltas < 2 m; NAD27 is NOT in this set —
# its datum shift reaches ~100 m and needs a grid transform)
_GEOGRAPHIC_WGS84_COMPAT = {4326, 4269, 4258, 4619, 4617}


def _geokey_inv_f(inv_f) -> float:
    """GeogInvFlattening (GeoKey 2059) → inverse flattening. Key ABSENT
    means the writer omitted the ellipsoid → WGS84 default; an EXPLICIT
    0.0 is the GeoTIFF convention for a spherical ellipsoid and must
    NOT silently become WGS84 (it would shift every coordinate).
    Spheres are represented as inf so f = 1/inv_f = 0 and e² = 0 in the
    Snyder formulas downstream."""
    if inv_f is None:
        return 298.257223563
    v = float(inv_f)
    return float("inf") if v == 0.0 else v


def _projection(keys: dict) -> dict | None:
    """User-defined projected CRS → closed-form projection params.
    Albers Equal Area (the reference's NLCD raster), Lambert Conformal
    Conic 2SP, Transverse Mercator, Polar Stereographic, and
    Sinusoidal (spherical MODIS grid or ellipsoidal when
    GeogInvFlattening is present) are supported; the ellipsoid comes
    from GeogSemiMajorAxis/GeogInvFlattening. Anything else raises a
    typed error naming the projection FAMILY."""
    ct = keys.get(3075)
    a = float(keys.get(2057, 6378137.0))
    inv_f = keys.get(2059)
    if ct == _CT_SINUSOIDAL:
        if inv_f:
            return {
                "type": "sinu_ell",
                "lon0": float(keys.get(3080, 0.0)),
                "fe": float(keys.get(3082, 0.0)),
                "fn": float(keys.get(3083, 0.0)),
                "a": a,
                "inv_f": float(inv_f),
            }
        return {
            "type": "sinu",
            "lon0": float(keys.get(3080, 0.0)),
            "fe": float(keys.get(3082, 0.0)),
            "fn": float(keys.get(3083, 0.0)),
            # MODIS uses the authalic sphere; no inverse flattening
            "a": float(keys.get(2057, 6371007.181)),
        }
    if ct == _CT_POLAR_STEREO:
        lat_ts = keys.get(3078, keys.get(3081))
        if lat_ts is None:
            raise ValueError(
                "user-defined Polar Stereographic is missing its "
                "standard parallel (GeoKey 3078/3081)"
            )
        return {
            "type": "ps",
            "lat_ts": float(lat_ts),
            "lon0": float(keys.get(3095, keys.get(3080, 0.0))),
            "k0": float(keys.get(3092, 1.0)),
            "fe": float(keys.get(3082, 0.0)),
            "fn": float(keys.get(3083, 0.0)),
            "a": a,
            "inv_f": _geokey_inv_f(inv_f),
        }
    if ct == _CT_TRANSVERSE_MERCATOR:
        return {
            "type": "tm",
            "lon0": float(keys.get(3080, 0.0)),
            "lat0": float(keys.get(3081, 0.0)),
            "k0": float(keys.get(3092, 1.0)),
            "fe": float(keys.get(3082, 0.0)),
            "fn": float(keys.get(3083, 0.0)),
            "a": a,
            "inv_f": _geokey_inv_f(inv_f),
        }
    if ct not in (_CT_ALBERS, _CT_LCC_2SP):
        family = _CT_FAMILIES.get(ct, f"coordinate transform {ct}")
        raise NotImplementedError(
            f"projection family {family!r} has no closed-form inverse "
            "here (supported: TM/UTM, LCC-2SP, Albers, Polar "
            "Stereographic, Sinusoidal, Mercator, geographic)"
        )
    # A user-defined AEA/LCC without its standard parallels / origin
    # would silently warp to wrong coordinates under any default — fail
    # fast instead of guessing.
    missing = [k for k in (3078, 3079, 3081) if k not in keys]
    if missing:
        raise ValueError(
            f"user-defined projected CRS is missing GeoKeys {missing} "
            "(ProjStdParallel1/2, ProjNatOriginLat); cannot derive the "
            "projection parameters"
        )
    return {
        "type": "aea" if ct == _CT_ALBERS else "lcc",
        "sp1": float(keys[3078]),
        "sp2": float(keys[3079]),
        "lon0": float(keys.get(3080, 0.0)),
        "lat0": float(keys[3081]),
        "fe": float(keys.get(3082, 0.0)),
        "fn": float(keys.get(3083, 0.0)),
        "a": a,
        "inv_f": _geokey_inv_f(inv_f),
    }


def read_tiff_structure(path: str) -> dict:
    """Parse header/IFD only (classic or BigTIFF). Returns geometry,
    dtype, CRS, geotransform and the segment (strip or tile) layout.
    The file is mmap'd (or, for http(s) URLs, ranged — sources/io.py),
    not read: a multi-GB BigTIFF costs only the IFD
    pages here — pixel bytes are fetched per-segment by the executors."""
    from raquet_spark.sources.io import open_bytes

    raw = open_bytes(path)
    try:
        tags = read_ifd(raw)
        size = len(raw)
    except struct.error as e:
        raise ValueError(f"TIFF header is truncated: {e}") from e
    finally:
        if hasattr(raw, "close"):
            raw.close()

    width, height = tags[256][0], tags[257][0]
    spp = tags.get(277, (1,))[0]
    bits = tags.get(258, (8,) * spp)
    if len(set(bits)) != 1:
        raise ValueError(f"mixed bits-per-sample {bits}")
    fmt = tags.get(339, (1,) * spp)[0]
    en = tags.get(-1, ("<",))[0]  # byte order recorded by read_ifd
    dtype = np.dtype(f"{en}{_KIND[fmt]}{bits[0] // 8}")
    compression = tags.get(259, (1,))[0]
    if compression not in (1, 5, 7, 8, 32773, 32946):
        raise NotImplementedError(
            f"TIFF compression {compression} "
            "(only none/LZW/JPEG/deflate/PackBits supported)"
        )
    planar = tags.get(284, (1,))[0]  # 1 = chunky (BIP), 2 = band-separate
    photometric = tags.get(262, (1,))[0]
    if compression == 7:
        # new-style JPEG-in-TIFF (TIFF Tech Note 2): every segment is a
        # JPEG stream, optionally abbreviated against the shared
        # JPEGTables (tag 347) — the aerial-imagery GeoTIFF staple
        if bits[0] != 8:
            raise NotImplementedError("JPEG-in-TIFF requires 8-bit samples")
        if planar == 2:
            raise NotImplementedError("JPEG-in-TIFF with planar layout")
        # photometric decides the color transform: 6 (YCbCr) needs the
        # YCbCr→RGB step, 2 (RGB, e.g. GDAL PHOTOMETRIC=RGB) stores the
        # planes untransformed. Applying the transform to an RGB file
        # yields silently-wrong pixels, so anything else is a typed gate.
        if spp >= 3 and photometric not in (2, 6):
            raise NotImplementedError(
                f"JPEG-in-TIFF with PhotometricInterpretation="
                f"{photometric} for {spp} samples (only 2=RGB and "
                "6=YCbCr supported)"
            )

    tiled = 322 in tags
    if tiled:
        seg_w, seg_h = tags[322][0], tags[323][0]
        offsets, counts = tags[324], tags[325]
    else:
        seg_w = width
        seg_h = tags.get(278, (height,))[0]
        offsets, counts = tags[273], tags[279]
    # a header that disagrees with its own segment table (absurd or
    # truncated dimensions, a cut-off file) fails here, before any
    # planning sizes work by width × height
    if seg_w <= 0 or seg_h <= 0:
        raise ValueError(f"TIFF segment size {seg_w}x{seg_h} (must be > 0)")
    segs_across = (width + seg_w - 1) // seg_w
    n_segs = segs_across * -(-height // seg_h) * (spp if planar == 2 else 1)
    if len(offsets) != n_segs or len(counts) != n_segs:
        raise ValueError(
            f"TIFF {width}x{height} implies {n_segs} segments; the header "
            f"lists {len(offsets)} offsets and {len(counts)} byte counts"
        )
    end = max((o + n for o, n in zip(offsets, counts)), default=0)
    if end > size:
        raise ValueError(f"TIFF segments end past the {size}-byte file (truncated?)")
    if compression == 1 and sum(counts) < width * height * spp * dtype.itemsize:
        raise ValueError(f"uncompressed TIFF {width}x{height} needs more than {sum(counts)} bytes")

    # georeferencing: ModelPixelScale+Tiepoint or ModelTransformation
    if 33550 in tags and 33922 in tags:
        sx, sy = tags[33550][0], tags[33550][1]
        tp = tags[33922]
        # raster point (tp[0], tp[1]) maps to model (tp[3], tp[4])
        ox = tp[3] - tp[0] * sx
        oy = tp[4] + tp[1] * sy
        transform = (ox, sx, 0.0, oy, 0.0, -sy)
    elif 34264 in tags:
        m = tags[34264]
        transform = (m[3], m[0], m[1], m[7], m[4], m[5])
    else:
        transform = (0.0, 1.0, 0.0, 0.0, 0.0, -1.0)

    keys = _geokeys(tags)
    model = keys.get(1024)  # 1 projected, 2 geographic
    epsg = None
    projection = None
    if model == 2:
        epsg = keys.get(2048)
        if epsg is not None and epsg != 32767:
            if epsg not in _GEOGRAPHIC_WGS84_COMPAT:
                raise NotImplementedError(
                    f"geographic CRS EPSG:{epsg} needs a datum shift "
                    "(only WGS84-compatible datums — WGS84/NAD83/ETRS89 "
                    "— are treated as lon/lat here; NAD27-class shifts "
                    "reach ~100 m and need a grid transform)"
                )
            # NAD83/ETRS89 lon-lat ≡ WGS84 at raster-warp precision
            epsg = 4326
    elif model == 1:
        epsg = keys.get(3072)
        if epsg == 32767:  # user-defined: read the projection params
            projection = _projection(keys)
    if epsg is None and projection is None:
        # no CRS keys → WGS84, the reference's default
        # (imageserver.py test_default_to_wgs84)
        epsg = 4326
    nodata = tags.get(42113)
    palette = None
    if 320 in tags:
        cm = tags[320]
        n = len(cm) // 3
        nd_idx = int(float(nodata[0])) if nodata else None
        palette = {
            str(i): [
                cm[i] // 257,
                cm[n + i] // 257,
                cm[2 * n + i] // 257,
                # the nodata index renders transparent (GDAL colortable
                # convention the reference metadata records)
                0 if i == nd_idx else 255,
            ]
            for i in range(n)
        }

    return {
        "path": path,
        "width": width,
        "height": height,
        "n_bands": spp,
        "dtype": str(dtype),
        "sample_format": fmt,
        "compression": compression,
        "jpeg_tables": bytes(tags[347]) if 347 in tags else None,
        "predictor": tags.get(317, (1,))[0],
        "tiled": tiled,
        "planar": planar,
        "seg_width": seg_w,
        "seg_height": seg_h,
        "segs_across": segs_across,
        "segments": list(zip(offsets, counts)),
        "transform": transform,
        "epsg": epsg,
        "projection": projection,
        "nodata": float(nodata[0]) if nodata else None,
        "palette": palette,
        "photometric": photometric,
    }


def tiff_pixel_table(
    spark: SparkSession, info: dict, band_prefix: str = "band_",
    local: bool = False,
) -> DataFrame:
    """Distributed decode: one task per group of segments → (sx, sy,
    band_1..band_n double) rows in the SOURCE pixel grid.

    ``local=True`` (r18): run the SAME chunky decode generator over the
    same segment list on the driver and return one pandas DataFrame —
    for the fused gather path, whose next step is a driver collect
    anyway. Callers gate it to UNCOMPRESSED chunky sources
    (compression 1, planar 1): those segments are raw byte ranges, so
    a ≤100 MB broadcast-class decode is memcpy-speed; compressed and
    planar layouts keep the distributed decode."""
    from raquet_spark.session import ensure_package_shipped

    if local:
        if info["compression"] != 1 or (
            info.get("planar", 1) == 2 and info["n_bands"] > 1
        ):
            raise ValueError("local decode is uncompressed-chunky only")
    else:
        ensure_package_shipped(spark)
    path = info["path"]
    seg_w, seg_h = info["seg_width"], info["seg_height"]
    segs_across = info["segs_across"]
    width, height = info["width"], info["height"]
    n_bands, dtype = info["n_bands"], np.dtype(info["dtype"])
    compression, predictor = info["compression"], info["predictor"]
    jpeg_tables = info.get("jpeg_tables")
    # photometric=2 (RGB) JPEG segments are stored untransformed
    jpeg_color_transform = info.get("photometric", 6) != 2
    tiled = info["tiled"]
    planar = info.get("planar", 1) == 2 and n_bands > 1

    segs = [
        (i, off, cnt) for i, (off, cnt) in enumerate(info["segments"]) if cnt > 0
    ]
    seg_pdf = pd.DataFrame(segs, columns=["seg", "off", "cnt"])
    if not local:
        n_part = max(1, min(len(segs), spark.sparkContext.defaultParallelism))
        seg_df = spark.createDataFrame(seg_pdf).repartition(n_part)

    if planar:
        # band-separate layout (PlanarConfiguration=2): segments are
        # band-major (all of band 1's strips/tiles, then band 2's, ...),
        # each carrying ONE band's samples. Decode emits narrow
        # (sx, sy, band, val) rows; one pivot groupBy(sx, sy) reassembles
        # the per-band columns — the only extra shuffle planar costs.
        segs_per_band = len(info["segments"]) // n_bands

        def decode_planar(batches):
            from raquet_spark.sources.io import range_reader

            rd = range_reader(path)
            for pdf in batches:
                for row in pdf.to_dict("records"):
                    seg, off, cnt = int(row["seg"]), int(row["off"]), int(row["cnt"])
                    buf = rd(off, cnt)
                    if compression in (8, 32946):
                        buf = zlib.decompress(buf)
                    elif compression == 5:
                        buf = lzw_decode(buf)
                    elif compression == 32773:
                        buf = packbits_decode(buf)
                    band, bseg = divmod(seg, segs_per_band)
                    arr = np.frombuffer(buf, dtype=dtype)
                    if tiled:
                        ty, tx = divmod(bseg, segs_across)
                        x0, y0 = tx * seg_w, ty * seg_h
                        arr = arr.reshape(seg_h, seg_w)
                    else:
                        x0, y0 = 0, bseg * seg_h
                        rows = min(seg_h, height - y0)
                        arr = arr[: rows * seg_w].reshape(rows, seg_w)
                    if predictor == 2:
                        arr = np.cumsum(arr, axis=1, dtype=dtype).astype(dtype)
                    h, w = arr.shape
                    w_eff = min(w, width - x0)
                    h_eff = min(h, height - y0)
                    arr = arr[:h_eff, :w_eff]
                    sy, sx = np.mgrid[0:h_eff, 0:w_eff]
                    yield pd.DataFrame({
                        "sx": (sx + x0).ravel().astype("int64"),
                        "sy": (sy + y0).ravel().astype("int64"),
                        "band": np.full(h_eff * w_eff, band, dtype="int64"),
                        "val": arr.ravel().astype("f8"),
                    })

        narrow = seg_df.mapInPandas(
            decode_planar, schema="sx bigint, sy bigint, band bigint, val double"
        )
        return narrow.groupBy("sx", "sy").agg(
            *[
                F.max(F.when(F.col("band") == b, F.col("val"))).alias(
                    f"{band_prefix}{b + 1}"
                )
                for b in range(n_bands)
            ]
        )

    def decode(batches):
        from raquet_spark.sources.io import range_reader

        rd = range_reader(path)
        for pdf in batches:
            for row in pdf.to_dict("records"):
                seg, off, cnt = int(row["seg"]), int(row["off"]), int(row["cnt"])
                buf = rd(off, cnt)
                if compression in (8, 32946):
                    buf = zlib.decompress(buf)
                elif compression == 5:
                    buf = lzw_decode(buf)
                elif compression == 32773:
                    buf = packbits_decode(buf)
                if tiled:
                    ty, tx = divmod(seg, segs_across)
                    x0, y0 = tx * seg_w, ty * seg_h
                else:
                    x0, y0 = 0, seg * seg_h
                if compression == 7:
                    # each segment is its own JPEG; its header
                    # carries the true segment dims (a bottom strip
                    # is shorter than RowsPerStrip)
                    arr = _jpeg_seg_decode(
                        buf, jpeg_tables, n_bands, jpeg_color_transform
                    )
                else:
                    arr = np.frombuffer(buf, dtype=dtype)
                    if tiled:
                        arr = arr.reshape(seg_h, seg_w, n_bands)
                    else:
                        rows = min(seg_h, height - y0)
                        arr = arr[: rows * seg_w * n_bands].reshape(
                            rows, seg_w, n_bands
                        )
                    if predictor == 2:
                        arr = np.cumsum(arr, axis=1, dtype=dtype).astype(dtype)
                h, w = arr.shape[:2]
                w_eff = min(w, width - x0)
                h_eff = min(h, height - y0)
                arr = arr[:h_eff, :w_eff]
                sy, sx = np.mgrid[0:h_eff, 0:w_eff]
                out = {
                    "sx": (sx + x0).ravel().astype("int64"),
                    "sy": (sy + y0).ravel().astype("int64"),
                }
                for b in range(n_bands):
                    out[f"{band_prefix}{b + 1}"] = (
                        arr[:, :, b].ravel().astype("f8")
                    )
                yield pd.DataFrame(out)

    if local:
        parts = list(decode(iter([seg_pdf])))
        return (
            pd.concat(parts, ignore_index=True)
            if len(parts) > 1 else parts[0]
        )
    schema = "sx bigint, sy bigint, " + ", ".join(
        f"{band_prefix}{b + 1} double" for b in range(info["n_bands"])
    )
    return seg_df.mapInPandas(decode, schema=schema)


def _model_corners(info: dict) -> list[tuple[float, float]]:
    ox, sx, rx, oy, ry, sy = info["transform"]
    w, h = info["width"], info["height"]
    return [
        (ox + c * sx + r * rx, oy + c * ry + r * sy)
        for c, r in ((0, 0), (w, 0), (0, h), (w, h))
    ]


def _lonlat_corners(info: dict) -> list[tuple[float, float]]:
    corners = _model_corners(info)
    if info["epsg"] == 4326:
        return corners
    if info["epsg"] == 3857:
        return [
            (
                mx / _ORIGIN_SHIFT * 180.0,
                math.degrees(2.0 * math.atan(math.exp(my / _EARTH_R)) - math.pi / 2.0),
            )
            for mx, my in corners
        ]
    return [_inverse_lonlat(info, mx, my) for mx, my in corners]


def _src_merc_resolution(info: dict) -> float:
    """Source pixel size expressed in web-mercator meters (the
    reference's get_resolution measures the same via a 3857 transform,
    raster2raquet.py:684-686)."""
    _, sx, _, _, _, _ = info["transform"]
    if info["epsg"] == 3857:
        return abs(sx)
    lls = _lonlat_corners(info)
    lat_c = sum(lat for _, lat in lls) / len(lls)
    cos_c = max(math.cos(math.radians(lat_c)), 1e-6)
    proj = _source_projection(info)
    if info["epsg"] == 4326 or (proj and proj.get("units") == "deg"):
        # degree-unit model coords (geographic or rotated lat/lon):
        # rotated degrees are true angular distance near grid center
        ground = abs(sx) * math.pi / 180.0 * _EARTH_R * cos_c
    else:  # projected ground meters (AEA is equal-area: ~true scale)
        ground = abs(sx)
    return ground / cos_c


def _pick_zoom(info: dict, block_size: int, strategy: str = "upper") -> int:
    """Web-mercator zoom from the source resolution — the reference's
    find_zoom (raster2raquet.py:700-710): ``raw = log2(CE / tile_dim /
    resolution)`` then ceil (upper) / floor (lower) / round. ``upper``
    (the default) makes the target at least as fine as the source, so
    the forward-mapped nearest-neighbor warp has no holes; ``lower``
    downsamples ~2x (multiple source samples per target pixel, argmin
    keeps the nearest — still hole-free)."""
    raw = math.log2(2.0 * _ORIGIN_SHIFT / block_size / _src_merc_resolution(info))
    if strategy == "upper":
        z = math.ceil(raw)
    elif strategy == "lower":
        z = math.floor(raw)
    elif strategy == "round":
        z = round(raw)
    else:
        raise ValueError(f"unknown zoom strategy {strategy!r}")
    return max(0, min(24, int(z)))


def _tile_aligned_bounds(
    lls: list[tuple[float, float]], z: int
) -> tuple[float, float, float, float]:
    """Expand the corner extent to the covering zoom-``z`` tile grid —
    the reference records the union of occupied tile bounds as metadata
    ``bounds``, so tile alignment makes the values match exactly."""
    w = min(lon for lon, _ in lls)
    e = max(lon for lon, _ in lls)
    s = min(lat for _, lat in lls)
    n = max(lat for _, lat in lls)
    m = 1 << z

    def tx(lon: float) -> int:
        return min(max(int((lon / 360.0 + 0.5) * m), 0), m - 1)

    def ty(lat: float) -> int:
        sv = math.sin(math.radians(min(max(lat, -85.051128779806), 85.051128779806)))
        yf = 0.5 - 0.25 * math.log((1.0 + sv) / (1.0 - sv)) / math.pi
        return min(max(int(yf * m), 0), m - 1)

    def lon_of(x: int) -> float:
        return x / m * 360.0 - 180.0

    def lat_of(y: int) -> float:
        t = math.pi * (1.0 - 2.0 * y / m)
        return math.degrees(math.atan(math.sinh(t)))

    x0, x1 = tx(w), tx(e)
    y0, y1 = ty(n), ty(s)
    return (lon_of(x0), lat_of(y1 + 1), lon_of(x1 + 1), lat_of(y0)), (x0, y0, x1, y1)


def _aea_constants(p: dict) -> dict:
    """Precomputed Snyder constants for ellipsoidal Albers Equal Area."""
    f = 1.0 / p["inv_f"]
    e2 = 2.0 * f - f * f
    e = math.sqrt(e2)

    def m(phi: float) -> float:
        s = math.sin(phi)
        return math.cos(phi) / math.sqrt(1.0 - e2 * s * s)

    def q(phi: float) -> float:
        s = math.sin(phi)
        if e == 0.0:  # sphere: the e→0 limit of the bracket is 2s
            return 2.0 * s
        return (1.0 - e2) * (
            s / (1.0 - e2 * s * s)
            - (1.0 / (2.0 * e)) * math.log((1.0 - e * s) / (1.0 + e * s))
        )

    p1, p2 = math.radians(p["sp1"]), math.radians(p["sp2"])
    phi0 = math.radians(p["lat0"])
    m1, m2 = m(p1), m(p2)
    q1, q2 = q(p1), q(p2)
    n = (m1 * m1 - m2 * m2) / (q2 - q1)
    C = m1 * m1 + n * q1
    a = p["a"]
    rho0 = a * math.sqrt(C - n * q(phi0)) / n
    q_pole = q(math.pi / 2.0)
    # authalic-latitude → geodetic series coefficients (Snyder 3-18)
    e4, e6 = e2 * e2, e2 * e2 * e2
    return {
        "a": a, "n": n, "C": C, "rho0": rho0, "q_pole": q_pole,
        "lon0": math.radians(p["lon0"]), "fe": p["fe"], "fn": p["fn"],
        "c2": e2 / 3.0 + 31.0 * e4 / 180.0 + 517.0 * e6 / 5040.0,
        "c4": 23.0 * e4 / 360.0 + 251.0 * e6 / 3780.0,
        "c6": 761.0 * e6 / 45360.0,
    }


def aea_inverse(p: dict, x: float, y: float) -> tuple[float, float]:
    """Python reference inverse (projected meters → lon/lat degrees),
    the same formulas the SQL mirror executes — used for metadata
    bounds and round-trip accuracy tests."""
    k = _aea_constants(p)
    x, y = x - k["fe"], y - k["fn"]
    rho = math.hypot(x, k["rho0"] - y)
    theta = math.atan2(x, k["rho0"] - y)
    lon = k["lon0"] + theta / k["n"]
    qv = (k["C"] - (rho * k["n"] / k["a"]) ** 2) / k["n"]
    beta = math.asin(max(-1.0, min(1.0, qv / k["q_pole"])))
    phi = (
        beta
        + k["c2"] * math.sin(2.0 * beta)
        + k["c4"] * math.sin(4.0 * beta)
        + k["c6"] * math.sin(6.0 * beta)
    )
    return math.degrees(lon), math.degrees(phi)


def _utm_params(epsg: int) -> dict | None:
    """UTM zone parameters from the EPSG code (326xx north / 327xx
    south, WGS84 ellipsoid)."""
    if not (32601 <= epsg <= 32660 or 32701 <= epsg <= 32760):
        return None
    zone = epsg % 100
    return {
        "type": "tm",
        "lon0": -183.0 + 6.0 * zone,
        "lat0": 0.0,
        "k0": 0.9996,
        "fe": 500000.0,
        "fn": 10000000.0 if epsg >= 32701 else 0.0,
        "a": 6378137.0,
        "inv_f": 298.257223563,
    }


def _tm_constants(p: dict) -> dict:
    """Precomputed Snyder constants for ellipsoidal Transverse
    Mercator (the UTM projection)."""
    f = 1.0 / p["inv_f"]
    e2 = 2.0 * f - f * f
    ep2 = e2 / (1.0 - e2)
    e1 = (1.0 - math.sqrt(1.0 - e2)) / (1.0 + math.sqrt(1.0 - e2))
    return {
        "a": p["a"], "e2": e2, "ep2": ep2, "k0": p["k0"],
        "lon0": math.radians(p["lon0"]), "fe": p["fe"], "fn": p["fn"],
        # meridian distance at the latitude of origin (Snyder 3-21) —
        # zero for UTM (lat0=0), nonzero for general TM grids
        "m0": _meridian_distance(p["a"], e2, math.radians(p.get("lat0", 0.0))),
        "mu_div": p["a"] * (1.0 - e2 / 4.0 - 3.0 * e2**2 / 64.0 - 5.0 * e2**3 / 256.0),
        "j2": 3.0 * e1 / 2.0 - 27.0 * e1**3 / 32.0,
        "j4": 21.0 * e1**2 / 16.0 - 55.0 * e1**4 / 32.0,
        "j6": 151.0 * e1**3 / 96.0,
        "j8": 1097.0 * e1**4 / 512.0,
    }


def _meridian_distance(a: float, e2: float, phi: float) -> float:
    """Ellipsoidal meridian arc length M(phi) (Snyder 3-21)."""
    e4, e6 = e2 * e2, e2**3
    return a * (
        (1.0 - e2 / 4.0 - 3.0 * e4 / 64.0 - 5.0 * e6 / 256.0) * phi
        - (3.0 * e2 / 8.0 + 3.0 * e4 / 32.0 + 45.0 * e6 / 1024.0)
        * math.sin(2.0 * phi)
        + (15.0 * e4 / 256.0 + 45.0 * e6 / 1024.0) * math.sin(4.0 * phi)
        - (35.0 * e6 / 3072.0) * math.sin(6.0 * phi)
    )


def tm_inverse(p: dict, x: float, y: float) -> tuple[float, float]:
    """Python reference UTM inverse (Snyder 8-17..8-25) — the same
    formulas the SQL mirror executes; used for bounds and tests."""
    k = _tm_constants(p)
    e2, ep2 = k["e2"], k["ep2"]
    mu = ((y - k["fn"]) / k["k0"] + k["m0"]) / k["mu_div"]
    phi1 = (
        mu
        + k["j2"] * math.sin(2 * mu)
        + k["j4"] * math.sin(4 * mu)
        + k["j6"] * math.sin(6 * mu)
        + k["j8"] * math.sin(8 * mu)
    )
    s, c, t = math.sin(phi1), math.cos(phi1), math.tan(phi1)
    c1 = ep2 * c * c
    t1 = t * t
    n1 = k["a"] / math.sqrt(1.0 - e2 * s * s)
    r1 = k["a"] * (1.0 - e2) / (1.0 - e2 * s * s) ** 1.5
    d = (x - k["fe"]) / (n1 * k["k0"])
    phi = phi1 - (n1 * t / r1) * (
        d * d / 2.0
        - (5.0 + 3.0 * t1 + 10.0 * c1 - 4.0 * c1 * c1 - 9.0 * ep2) * d**4 / 24.0
        + (61.0 + 90.0 * t1 + 298.0 * c1 + 45.0 * t1 * t1 - 252.0 * ep2 - 3.0 * c1 * c1)
        * d**6 / 720.0
    )
    lam = k["lon0"] + (
        d
        - (1.0 + 2.0 * t1 + c1) * d**3 / 6.0
        + (5.0 - 2.0 * c1 + 28.0 * t1 - 3.0 * c1 * c1 + 8.0 * ep2 + 24.0 * t1 * t1)
        * d**5 / 120.0
    ) / c
    return math.degrees(lam), math.degrees(phi)


def _lcc_constants(p: dict) -> dict:
    """Precomputed Snyder constants for ellipsoidal Lambert Conformal
    Conic (two standard parallels)."""
    f = 1.0 / p["inv_f"]
    e2 = 2.0 * f - f * f
    e = math.sqrt(e2)

    def m(phi: float) -> float:
        s = math.sin(phi)
        return math.cos(phi) / math.sqrt(1.0 - e2 * s * s)

    def t(phi: float) -> float:
        s = math.sin(phi)
        return math.tan(math.pi / 4.0 - phi / 2.0) / (
            (1.0 - e * s) / (1.0 + e * s)
        ) ** (e / 2.0)

    p1, p2 = math.radians(p["sp1"]), math.radians(p["sp2"])
    phi0 = math.radians(p["lat0"])
    if p1 == p2:  # tangent (1SP) case — Snyder's limit n = sin(phi1);
        # GRIB Lambert grids (HRRR: latin1 == latin2) hit this
        n = math.sin(p1)
    else:
        n = (math.log(m(p1)) - math.log(m(p2))) / (
            math.log(t(p1)) - math.log(t(p2))
        )
    Fc = m(p1) / (n * t(p1) ** n)
    rho0 = p["a"] * Fc * t(phi0) ** n
    # conformal -> geodetic latitude series (Snyder 3-5)
    e4, e6, e8 = e2 * e2, e2**3, e2**4
    return {
        "a": p["a"], "n": n, "F": Fc, "rho0": rho0,
        "lon0": math.radians(p["lon0"]), "fe": p["fe"], "fn": p["fn"],
        "c2": e2 / 2.0 + 5.0 * e4 / 24.0 + e6 / 12.0 + 13.0 * e8 / 360.0,
        "c4": 7.0 * e4 / 48.0 + 29.0 * e6 / 240.0 + 811.0 * e8 / 11520.0,
        "c6": 7.0 * e6 / 120.0 + 81.0 * e8 / 1120.0,
        "c8": 4279.0 * e8 / 161280.0,
    }


def lcc_inverse(p: dict, x: float, y: float) -> tuple[float, float]:
    """Python reference LCC inverse (Snyder 15-1 inverse + 3-5 series)."""
    k = _lcc_constants(p)
    x, y = x - k["fe"], y - k["fn"]
    sgn = 1.0 if k["n"] >= 0 else -1.0
    rho = sgn * math.hypot(x, k["rho0"] - y)
    theta = math.atan2(sgn * x, sgn * (k["rho0"] - y))
    lon = k["lon0"] + theta / k["n"]
    tv = (rho / (k["a"] * k["F"])) ** (1.0 / k["n"])
    chi = math.pi / 2.0 - 2.0 * math.atan(tv)
    phi = (
        chi
        + k["c2"] * math.sin(2.0 * chi)
        + k["c4"] * math.sin(4.0 * chi)
        + k["c6"] * math.sin(6.0 * chi)
        + k["c8"] * math.sin(8.0 * chi)
    )
    return math.degrees(lon), math.degrees(phi)


def _ps_constants(p: dict) -> dict:
    """Precomputed Snyder constants for ellipsoidal Polar
    Stereographic (ch. 21, variant B with a standard parallel; the
    3031/3413 polar grids). ``south`` flips the aspect."""
    f = 1.0 / p["inv_f"]
    e2 = 2.0 * f - f * f
    e = math.sqrt(e2)
    south = p["lat_ts"] < 0.0
    phi_f = math.radians(abs(p["lat_ts"]))

    def t(phi: float) -> float:
        s = math.sin(phi)
        return math.tan(math.pi / 4.0 - phi / 2.0) / (
            (1.0 - e * s) / (1.0 + e * s)
        ) ** (e / 2.0)

    if abs(p["lat_ts"]) >= 89.999:  # variant A: scale factor at pole
        k0 = p.get("k0", 1.0)
        rho_div = (
            2.0 * p["a"] * k0
            / math.sqrt((1.0 + e) ** (1.0 + e) * (1.0 - e) ** (1.0 - e))
        )
    else:
        s = math.sin(phi_f)
        m_f = math.cos(phi_f) / math.sqrt(1.0 - e2 * s * s)
        rho_div = p["a"] * m_f / t(phi_f)
    e4, e6, e8 = e2 * e2, e2**3, e2**4
    return {
        "rho_div": rho_div, "south": south,
        "lon0": math.radians(p["lon0"]), "fe": p["fe"], "fn": p["fn"],
        "c2": e2 / 2.0 + 5.0 * e4 / 24.0 + e6 / 12.0 + 13.0 * e8 / 360.0,
        "c4": 7.0 * e4 / 48.0 + 29.0 * e6 / 240.0 + 811.0 * e8 / 11520.0,
        "c6": 7.0 * e6 / 120.0 + 81.0 * e8 / 1120.0,
        "c8": 4279.0 * e8 / 161280.0,
    }


def ps_inverse(p: dict, x: float, y: float) -> tuple[float, float]:
    """Python reference Polar Stereographic inverse (Snyder 21-39 +
    conformal-latitude series 3-5) — the SQL mirror's twin."""
    k = _ps_constants(p)
    x, y = x - k["fe"], y - k["fn"]
    rho = math.hypot(x, y)
    tv = rho / k["rho_div"]
    chi = math.pi / 2.0 - 2.0 * math.atan(tv)
    phi = (
        chi
        + k["c2"] * math.sin(2.0 * chi)
        + k["c4"] * math.sin(4.0 * chi)
        + k["c6"] * math.sin(6.0 * chi)
        + k["c8"] * math.sin(8.0 * chi)
    )
    # Snyder 20-16/21-39: north λ = λ0 + atan2(x, -y); south aspect
    # uses the ORIGINAL signs, λ = λ0 + atan2(x, y), φ negated
    if k["south"]:
        return math.degrees(k["lon0"] + math.atan2(x, y)), math.degrees(-phi)
    return math.degrees(k["lon0"] + math.atan2(x, -y)), math.degrees(phi)


def sinu_ell_inverse(p: dict, x: float, y: float) -> tuple[float, float]:
    """Ellipsoidal Sinusoidal inverse (Snyder 30-x: y is meridian arc
    length, recovered through the rectifying-latitude series)."""
    k = _tm_constants({**p, "k0": 1.0, "lat0": 0.0})
    e2 = k["e2"]
    mu = (y - p["fn"]) / k["mu_div"]
    phi = (
        mu
        + k["j2"] * math.sin(2.0 * mu)
        + k["j4"] * math.sin(4.0 * mu)
        + k["j6"] * math.sin(6.0 * mu)
        + k["j8"] * math.sin(8.0 * mu)
    )
    s, c = math.sin(phi), math.cos(phi)
    lam = math.radians(p["lon0"]) + (x - p["fe"]) * math.sqrt(
        1.0 - e2 * s * s
    ) / (p["a"] * c)
    return math.degrees(lam), math.degrees(phi)


def _rotll_constants(p: dict) -> tuple[float, float, float]:
    """(sin, cos of the rotated-north-pole latitude, pole lon radians).
    ``p``: pole_lat/pole_lon = TRUE coordinates of the rotated system's
    north pole (GRIB template 3.1 states the SOUTH pole: pole_lat =
    -lat_sp, pole_lon = lon_sp - 180). Convention pinned against the
    public COSMO example (pole 40N,-170E maps rotated (0,0) to true
    (10E, 50N)) in tests/test_grib2.py."""
    polphi = math.radians(p["pole_lat"])
    return math.sin(polphi), math.cos(polphi), math.radians(p["pole_lon"])


def rotll_inverse(p: dict, rlon: float, rlat: float) -> tuple[float, float]:
    """Rotated lon/lat degrees → TRUE lon/lat degrees (the CDO/COSMO
    phirot2phi + rlarot2rla formulation, incl. polgam: the published
    cos(rla)cos(gam) − sin(rla)sin(gam) terms are cos(rla + gam), so a
    nonzero angle of rotation shifts the rotated longitude by +gam
    before the pole rotation)."""
    zsinpol, zcospol, zlampol = _rotll_constants(p)
    zphis = math.radians(rlat)
    zrlas = math.radians(rlon + p.get("pole_gam", 0.0))
    ct = math.cos(zphis)
    t = -zsinpol * math.cos(zrlas) * ct + zcospol * math.sin(zphis)
    phi = math.asin(
        zsinpol * math.sin(zphis) + zcospol * ct * math.cos(zrlas)
    )
    zarg1 = math.sin(zlampol) * t - math.cos(zlampol) * math.sin(zrlas) * ct
    zarg2 = math.cos(zlampol) * t + math.sin(zlampol) * math.sin(zrlas) * ct
    return math.degrees(math.atan2(zarg1, zarg2)), math.degrees(phi)


def _merc_constants(p: dict) -> dict:
    """Snyder ch. 7 Mercator with true scale at lat_ts: a·k0 where
    k0 = cos(φts)/sqrt(1 − e²sin²φts), plus the conformal-latitude
    series coefficients (zero on a sphere — the spherical formulas are
    the e→0 limit of the same code path)."""
    inv_f = p.get("inv_f", float("inf"))
    f = 0.0 if inv_f == float("inf") else 1.0 / inv_f
    e2 = 2.0 * f - f * f
    phi_ts = math.radians(p.get("lat_ts", 0.0))
    s = math.sin(phi_ts)
    ak0 = p["a"] * math.cos(phi_ts) / math.sqrt(1.0 - e2 * s * s)
    e4, e6, e8 = e2 * e2, e2**3, e2**4
    return {
        "ak0": ak0, "e": math.sqrt(e2),
        "fe": p["fe"], "fn": p["fn"],
        "c2": e2 / 2.0 + 5.0 * e4 / 24.0 + e6 / 12.0 + 13.0 * e8 / 360.0,
        "c4": 7.0 * e4 / 48.0 + 29.0 * e6 / 240.0 + 811.0 * e8 / 11520.0,
        "c6": 7.0 * e6 / 120.0 + 81.0 * e8 / 1120.0,
        "c8": 4279.0 * e8 / 161280.0,
    }


def merc_inverse(p: dict, x: float, y: float) -> tuple[float, float]:
    """Mercator at lat_ts (GRIB grid 3.10; spherical AND ellipsoidal —
    Snyder 7-10 + the conformal-latitude series) — projected meters →
    lon/lat degrees."""
    k = _merc_constants(p)
    lon = math.degrees((x - k["fe"]) / k["ak0"])
    t = math.exp(-(y - k["fn"]) / k["ak0"])
    chi = math.pi / 2.0 - 2.0 * math.atan(t)
    lat = math.degrees(
        chi + k["c2"] * math.sin(2 * chi) + k["c4"] * math.sin(4 * chi)
        + k["c6"] * math.sin(6 * chi) + k["c8"] * math.sin(8 * chi)
    )
    return lon, lat


def _source_projection(info: dict) -> dict | None:
    """Closed-form projection params for the source CRS, or None for
    geographic/mercator sources."""
    if info.get("projection"):
        return info["projection"]
    if info["epsg"] not in (None, 4326, 3857):
        utm = _utm_params(info["epsg"])
        if utm:
            return utm
        named = _EPSG_PROJ.get(info["epsg"])
        if named:
            return named
        raise NotImplementedError(
            f"CRS EPSG:{info['epsg']}: not in the closed-form table "
            "(4326/3857, UTM 326xx/327xx, "
            f"{sorted(_EPSG_PROJ)}) and no proj database here; "
            "user-defined GeoKeys for TM/LCC/Albers/PolarStereo/"
            "Sinusoidal are also accepted"
        )
    return None


def _inverse_lonlat(info: dict, x: float, y: float) -> tuple[float, float]:
    proj = _source_projection(info)
    if proj is None:
        raise ValueError("geographic/mercator source has no projection inverse")
    if proj["type"] == "aea":
        return aea_inverse(proj, x, y)
    if proj["type"] == "rotll":
        return rotll_inverse(proj, x, y)
    if proj["type"] == "merc":
        return merc_inverse(proj, x, y)
    if proj["type"] == "lcc":
        return lcc_inverse(proj, x, y)
    if proj["type"] == "sinu":
        phi = (y - proj["fn"]) / proj["a"]
        lam = math.radians(proj["lon0"]) + (x - proj["fe"]) / (
            proj["a"] * math.cos(phi)
        )
        return math.degrees(lam), math.degrees(phi)
    if proj["type"] == "sinu_ell":
        return sinu_ell_inverse(proj, x, y)
    if proj["type"] == "ps":
        return ps_inverse(proj, x, y)
    return tm_inverse(proj, x, y)


def _lonlat_steps(info: dict) -> tuple[list[tuple[str, str]], str, str]:
    """(column bindings, lon_expr, lat_expr): the source-CRS inverse as
    staged Column expressions over (sx, sy). Binding intermediates as
    named columns keeps the Catalyst tree small even for the Snyder
    series projections — everything stays JVM-side."""
    ox, sx, rx, oy, ry, sy = info["transform"]
    px = f"({ox} + (sx + 0.5) * {sx} + (sy + 0.5) * {rx})"
    py = f"({oy} + (sx + 0.5) * {ry} + (sy + 0.5) * {sy})"
    if info["epsg"] == 4326:
        return [], px, py
    proj = _source_projection(info)
    if proj and proj["type"] == "aea":
        k = _aea_constants(proj)
        steps = [
            ("_x", f"{px} - {k['fe']}"),
            ("_yd", f"{k['rho0']} - ({py} - {k['fn']})"),
            ("_rho", "sqrt(_x * _x + _yd * _yd)"),
            ("_qv", f"({k['C']} - pow(_rho * {k['n']} / {k['a']}, 2)) / {k['n']}"),
            ("_beta", f"asin(greatest(-1.0D, least(1.0D, _qv / {k['q_pole']})))"),
        ]
        lon = f"degrees({k['lon0']} + atan2(_x, _yd) / {k['n']})"
        lat = (
            f"degrees(_beta + {k['c2']} * sin(2 * _beta)"
            f" + {k['c4']} * sin(4 * _beta)"
            f" + {k['c6']} * sin(6 * _beta))"
        )
        return steps, lon, lat
    if proj and proj["type"] == "sinu":
        # spherical sinusoidal (MODIS): phi = y/a, lam = lon0 + x/(a cos phi)
        steps = [("_phi", f"(({py}) - {proj['fn']}) / {proj['a']}")]
        lon = (
            f"degrees({math.radians(proj['lon0'])}"
            f" + (({px}) - {proj['fe']}) / ({proj['a']} * cos(_phi)))"
        )
        lat = "degrees(_phi)"
        return steps, lon, lat
    if proj and proj["type"] == "sinu_ell":
        k = _tm_constants({**proj, "k0": 1.0, "lat0": 0.0})
        steps = [
            ("_mu", f"(({py}) - {proj['fn']}) / {k['mu_div']}"),
            (
                "_phi",
                f"_mu + {k['j2']} * sin(2 * _mu) + {k['j4']} * sin(4 * _mu)"
                f" + {k['j6']} * sin(6 * _mu) + {k['j8']} * sin(8 * _mu)",
            ),
        ]
        lon = (
            f"degrees({math.radians(proj['lon0'])}"
            f" + (({px}) - {proj['fe']})"
            f" * sqrt(1 - {k['e2']} * pow(sin(_phi), 2))"
            f" / ({proj['a']} * cos(_phi)))"
        )
        lat = "degrees(_phi)"
        return steps, lon, lat
    if proj and proj["type"] == "ps":
        k = _ps_constants(proj)
        sgn = -1.0 if k["south"] else 1.0
        steps = [
            ("_x", f"(({px}) - {k['fe']})"),
            ("_yp", f"(({py}) - {k['fn']})"),
            ("_rho", "sqrt(_x * _x + _yp * _yp)"),
            ("_chi", f"{math.pi / 2.0} - 2 * atan(_rho / {k['rho_div']})"),
        ]
        # north: atan2(x, -y); south aspect: atan2(x, y), φ negated
        lon = f"degrees({k['lon0']} + atan2(_x, {-sgn} * _yp))"
        lat = (
            f"degrees({sgn} * (_chi + {k['c2']} * sin(2 * _chi)"
            f" + {k['c4']} * sin(4 * _chi)"
            f" + {k['c6']} * sin(6 * _chi)"
            f" + {k['c8']} * sin(8 * _chi)))"
        )
        return steps, lon, lat
    if proj and proj["type"] == "lcc":
        k = _lcc_constants(proj)
        sgn = 1.0 if k["n"] >= 0 else -1.0
        steps = [
            ("_x", f"{px} - {k['fe']}"),
            ("_yd", f"{k['rho0']} - ({py} - {k['fn']})"),
            ("_rho", f"{sgn} * sqrt(_x * _x + _yd * _yd)"),
            ("_tv", f"pow(_rho / {k['a'] * k['F']}, {1.0 / k['n']})"),
            ("_chi", f"{math.pi / 2.0} - 2 * atan(_tv)"),
        ]
        lon = f"degrees({k['lon0']} + atan2({sgn} * _x, {sgn} * _yd) / {k['n']})"
        lat = (
            f"degrees(_chi + {k['c2']} * sin(2 * _chi)"
            f" + {k['c4']} * sin(4 * _chi)"
            f" + {k['c6']} * sin(6 * _chi)"
            f" + {k['c8']} * sin(8 * _chi))"
        )
        return steps, lon, lat
    if proj and proj["type"] == "tm":
        k = _tm_constants(proj)
        e2, ep2 = k["e2"], k["ep2"]
        steps = [
            ("_mu", f"((({py}) - {k['fn']}) / {k['k0']} + {k['m0']}) / {k['mu_div']}"),
            (
                "_phi1",
                f"_mu + {k['j2']} * sin(2 * _mu) + {k['j4']} * sin(4 * _mu)"
                f" + {k['j6']} * sin(6 * _mu) + {k['j8']} * sin(8 * _mu)",
            ),
            ("_c1", f"{ep2} * pow(cos(_phi1), 2)"),
            ("_t1", "pow(tan(_phi1), 2)"),
            ("_n1", f"{k['a']} / sqrt(1 - {e2} * pow(sin(_phi1), 2))"),
            ("_r1", f"{k['a']} * {1 - e2} / pow(1 - {e2} * pow(sin(_phi1), 2), 1.5)"),
            ("_dd", f"(({px}) - {k['fe']}) / (_n1 * {k['k0']})"),
        ]
        lat = (
            "degrees(_phi1 - (_n1 * tan(_phi1) / _r1) * ("
            "pow(_dd, 2) / 2"
            f" - (5 + 3 * _t1 + 10 * _c1 - 4 * _c1 * _c1 - {9 * ep2})"
            " * pow(_dd, 4) / 24"
            f" + (61 + 90 * _t1 + 298 * _c1 + 45 * _t1 * _t1 - {252 * ep2}"
            " - 3 * _c1 * _c1) * pow(_dd, 6) / 720))"
        )
        lon = (
            f"degrees({k['lon0']} + (_dd - (1 + 2 * _t1 + _c1) * pow(_dd, 3) / 6"
            f" + (5 - 2 * _c1 + 28 * _t1 - 3 * _c1 * _c1 + {8 * ep2}"
            " + 24 * _t1 * _t1) * pow(_dd, 5) / 120) / cos(_phi1))"
        )
        return steps, lon, lat
    raise NotImplementedError(f"CRS EPSG:{info['epsg']}")


def nearest_warp(
    px: DataFrame,
    z: int,
    block_size: int,
    band_cols: list[str],
    extra_keys: tuple[str, ...] = (),
) -> DataFrame:
    """Forward-map nearest-neighbor warp: source samples carrying
    mercator positions (``_mx``/``_my`` columns plus ``sx``/``sy``
    indices) → one row per covered target pixel ``(gx, gy, bands...)``
    at zoom ``z``. ONE shuffle (the argmin groupBy on the target pixel
    key). ``extra_keys`` become extra group keys (e.g. ``time_cf`` for
    time-dimension rasters — every step warps in the same pass)."""
    world = float((1 << z) * block_size)
    mx, my = "_mx", "_my"
    # target global pixel coordinates (gx, gy) at zoom z
    gx = f"CAST(floor(({mx} + {_ORIGIN_SHIFT}) / {2.0 * _ORIGIN_SHIFT} * {world}) AS BIGINT)"
    gy = f"CAST(floor(({_ORIGIN_SHIFT} - {my}) / {2.0 * _ORIGIN_SHIFT} * {world}) AS BIGINT)"
    # distance of the source sample's mercator position from the target
    # pixel center, for the nearest-neighbor argmin
    cx = f"((CAST({gx} AS DOUBLE) + 0.5) / {world} * {2.0 * _ORIGIN_SHIFT} - {_ORIGIN_SHIFT})"
    cy = f"({_ORIGIN_SHIFT} - (CAST({gy} AS DOUBLE) + 0.5) / {world} * {2.0 * _ORIGIN_SHIFT})"
    dist = f"(pow({mx} - {cx}, 2) + pow({my} - {cy}, 2))"

    mapped = px.selectExpr(
        f"{gx} AS gx",
        f"{gy} AS gy",
        *extra_keys,
        f"{dist} AS _d",
        "sx",
        "sy",
        *band_cols,
    ).where(f"gx >= 0 AND gx < {int(world)} AND gy >= 0 AND gy < {int(world)}")

    # nearest source sample per target pixel; (sx, sy) tiebreak makes the
    # warp deterministic when two samples are equidistant
    pick = F.struct(
        F.col("_d"), F.col("sy"), F.col("sx"),
        *[F.col(b) for b in band_cols],
    )
    agg = mapped.groupBy("gx", "gy", *extra_keys).agg(F.min(pick).alias("_best"))
    return agg.select(
        "gx", "gy", *extra_keys,
        *[F.col(f"_best.{b}").alias(b) for b in band_cols],
    )


def _forward_steps(info: dict) -> tuple[list[tuple[str, str]], str, str]:
    """(column bindings, x_expr, y_expr): the source-CRS FORWARD
    projection (lon/lat degrees in ``_lon``/``_lat`` columns → projected
    model coordinates) as staged Column expressions — the Snyder forward
    formulas mirroring the inverses in ``_lonlat_steps``. This is what
    lets the target-driven (dense / bilinear / cubic) warp run on
    projected sources: each target pixel's mercator center → lon/lat
    (closed form) → projected coords → fractional source index."""
    proj = _source_projection(info)
    if proj is None:
        raise NotImplementedError("forward projection undefined for 4326/3857")
    phi, lam = "radians(_lat)", "radians(_lon)"
    if proj["type"] == "merc":
        # Mercator at lat_ts (GRIB 3.10, NOAA marine grids): y =
        # -a·k0·ln(t) with the Snyder t (sphere: e=0 → ln tan(π/4+φ/2))
        k = _merc_constants(proj)
        e = k["e"]
        steps = [("_s", f"sin({phi})")]
        t_e = (
            f"(tan({math.pi / 4.0} - {phi} / 2)"
            f" / pow((1 - {e} * _s) / (1 + {e} * _s), {e / 2.0}))"
        )
        x = f"({k['ak0']} * {lam} + {k['fe']})"
        y = f"({k['fn']} - {k['ak0']} * ln({t_e}))"
        return steps, x, y
    if proj["type"] == "rotll":
        # rotated lat/lon (GRIB 3.1, the COSMO/HARMONIE family): the
        # "projection" is a pole rotation and the model coordinates are
        # rotated DEGREES (the affine maps rotated degrees → grid
        # index) — the CDO/COSMO phi2phirot + rla2rlarot formulation
        zsinpol, zcospol, zlampol = _rotll_constants(proj)
        steps = [
            ("_zrla", f"({lam} - {zlampol})"),
            ("_cp", f"cos({phi})"),
            ("_sp", f"sin({phi})"),
        ]
        x = (
            f"degrees(atan2(-sin(_zrla) * _cp, "
            f"{zcospol} * _sp - {zsinpol} * _cp * cos(_zrla)))"
        )
        gam = proj.get("pole_gam", 0.0)
        if gam:
            # nonzero angle of rotation: the rotated longitude of the
            # gam system is the no-gam result minus gam (the inverse
            # of phirot2phi's rla + gam substitution), wrapped
            x = f"(pmod({x} - {gam} + 540.0D, 360.0D) - 180.0D)"
        y = (
            f"degrees(asin(greatest(-1.0D, least(1.0D, "
            f"{zsinpol} * _sp + {zcospol} * _cp * cos(_zrla)))))"
        )
        return steps, x, y
    if proj["type"] == "sinu":
        steps = [("_phi", phi)]
        x = f"({proj['a']} * ({lam} - {math.radians(proj['lon0'])}) * cos(_phi) + {proj['fe']})"
        y = f"({proj['a']} * _phi + {proj['fn']})"
        return steps, x, y
    if proj["type"] == "aea":
        k = _aea_constants(proj)
        f = 1.0 / proj["inv_f"]
        e2 = 2.0 * f - f * f
        e = math.sqrt(e2)
        steps = [
            ("_s", f"sin({phi})"),
            (
                "_q",
                "2 * _s" if e == 0.0 else  # sphere: e→0 limit
                f"{1.0 - e2} * (_s / (1 - {e2} * _s * _s)"
                f" - {1.0 / (2.0 * e)} * ln((1 - {e} * _s) / (1 + {e} * _s)))",
            ),
            ("_rho", f"{k['a']} * sqrt({k['C']} - {k['n']} * _q) / {k['n']}"),
            ("_th", f"{k['n']} * ({lam} - {k['lon0']})"),
        ]
        x = f"(_rho * sin(_th) + {k['fe']})"
        y = f"({k['rho0']} - _rho * cos(_th) + {k['fn']})"
        return steps, x, y
    if proj["type"] == "lcc":
        k = _lcc_constants(proj)
        f = 1.0 / proj["inv_f"]
        e2 = 2.0 * f - f * f
        e = math.sqrt(e2)
        steps = [
            ("_s", f"sin({phi})"),
            (
                "_t",
                f"tan({math.pi / 4.0} - {phi} / 2)"
                f" / pow((1 - {e} * _s) / (1 + {e} * _s), {e / 2.0})",
            ),
            ("_rho", f"{k['a'] * k['F']} * pow(_t, {k['n']})"),
            ("_th", f"{k['n']} * ({lam} - {k['lon0']})"),
        ]
        x = f"(_rho * sin(_th) + {k['fe']})"
        y = f"({k['rho0']} - _rho * cos(_th) + {k['fn']})"
        return steps, x, y
    if proj["type"] == "tm":
        k = _tm_constants(proj)
        e2, ep2 = k["e2"], k["ep2"]
        # meridian arc series coefficients (Snyder 3-21)
        m1 = 1.0 - e2 / 4.0 - 3.0 * e2**2 / 64.0 - 5.0 * e2**3 / 256.0
        m2 = 3.0 * e2 / 8.0 + 3.0 * e2**2 / 32.0 + 45.0 * e2**3 / 1024.0
        m3 = 15.0 * e2**2 / 256.0 + 45.0 * e2**3 / 1024.0
        m4 = 35.0 * e2**3 / 3072.0
        lat0 = math.radians(proj.get("lat0", 0.0))
        m0 = k["a"] * (
            m1 * lat0 - m2 * math.sin(2 * lat0) + m3 * math.sin(4 * lat0)
            - m4 * math.sin(6 * lat0)
        )
        steps = [
            ("_p", phi),
            ("_s2", "pow(sin(_p), 2)"),
            ("_nn", f"{k['a']} / sqrt(1 - {e2} * _s2)"),
            ("_tt", "pow(tan(_p), 2)"),
            ("_cc", f"{ep2} * pow(cos(_p), 2)"),
            ("_aa", f"({lam} - {k['lon0']}) * cos(_p)"),
            (
                "_mm",
                f"{k['a']} * ({m1} * _p - {m2} * sin(2 * _p)"
                f" + {m3} * sin(4 * _p) - {m4} * sin(6 * _p))",
            ),
        ]
        x = (
            f"({k['fe']} + {k['k0']} * _nn * (_aa"
            " + (1 - _tt + _cc) * pow(_aa, 3) / 6"
            f" + (5 - 18 * _tt + _tt * _tt + 72 * _cc - {58.0 * ep2})"
            " * pow(_aa, 5) / 120))"
        )
        y = (
            f"({k['fn']} + {k['k0']} * (_mm - {m0} + _nn * tan(_p) * ("
            "pow(_aa, 2) / 2"
            " + (5 - _tt + 9 * _cc + 4 * _cc * _cc) * pow(_aa, 4) / 24"
            f" + (61 - 58 * _tt + _tt * _tt + 600 * _cc - {330.0 * ep2})"
            " * pow(_aa, 6) / 720)))"
        )
        return steps, x, y
    if proj["type"] == "ps":
        k = _ps_constants(proj)
        f = 1.0 / proj["inv_f"]
        e2 = 2.0 * f - f * f
        e = math.sqrt(e2)
        # south aspect: t of -phi, and y = fn + rho cos(theta) (mirrors
        # the inverse's atan2(x, y) aspect rule)
        sphi = f"(-{phi})" if k["south"] else phi
        ysgn = 1.0 if k["south"] else -1.0
        steps = [
            ("_p", sphi),
            ("_s", "sin(_p)"),
            (
                "_t",
                f"tan({math.pi / 4.0} - _p / 2)"
                f" / pow((1 - {e} * _s) / (1 + {e} * _s), {e / 2.0})",
            ),
            ("_rho", f"{k['rho_div']} * _t"),
            ("_th", f"{lam} - {k['lon0']}"),
        ]
        x = f"(_rho * sin(_th) + {k['fe']})"
        y = f"({k['fn']} + {ysgn} * _rho * cos(_th))"
        return steps, x, y
    if proj["type"] == "sinu_ell":
        k = _tm_constants({**proj, "k0": 1.0, "lat0": 0.0})
        e2 = k["e2"]
        m1 = 1.0 - e2 / 4.0 - 3.0 * e2**2 / 64.0 - 5.0 * e2**3 / 256.0
        m2 = 3.0 * e2 / 8.0 + 3.0 * e2**2 / 32.0 + 45.0 * e2**3 / 1024.0
        m3 = 15.0 * e2**2 / 256.0 + 45.0 * e2**3 / 1024.0
        m4 = 35.0 * e2**3 / 3072.0
        steps = [("_p", phi), ("_s", "sin(_p)")]
        x = (
            f"({proj['fe']} + {proj['a']} * ({lam} - "
            f"{math.radians(proj['lon0'])}) * cos(_p)"
            f" / sqrt(1 - {e2} * _s * _s))"
        )
        y = (
            f"({proj['fn']} + {proj['a']} * ({m1} * _p - {m2} * sin(2 * _p)"
            f" + {m3} * sin(4 * _p) - {m4} * sin(6 * _p)))"
        )
        return steps, x, y
    raise NotImplementedError(f"forward projection for {proj['type']!r}")


AGG_KERNELS = ("average", "mode", "max", "min", "med", "q1", "q3")


def _sql_double(v: float) -> str:
    """``v`` as a SQL DOUBLE; NaN/±inf go through the string cast
    (a bare ``nan`` would parse as a column name)."""
    return f"CAST({v} AS DOUBLE)" if math.isfinite(v) else f"CAST('{v}' AS DOUBLE)"


def aggregate_warp(
    px: DataFrame,
    z: int,
    block_size: int,
    band_cols: list[str],
    resampling: str,
    nodata: float | None,
    extra_keys: tuple[str, ...] = (),
) -> DataFrame:
    """Forward-map aggregate warp for the reducing kernels (reference
    --resampling average/mode/max/min/med/q1/q3, GDAL's warp reducers):
    every source sample lands in the target pixel containing its
    mercator center, then ONE groupBy(target pixel) reduces the group —
    nodata samples drop out per band, an all-nodata group keeps the
    nodata value (matching the nearest path, which would copy one).
    ``mode`` breaks count ties on the smallest value and ``med``/``q1``/
    ``q3`` are exact interpolated percentiles — deterministic where
    GDAL leaves ties unspecified. ``mode`` costs one extra shuffle per
    band (count-then-argmax); the other kernels are single-shuffle."""
    if resampling not in AGG_KERNELS:
        raise ValueError(f"unknown aggregate kernel {resampling!r}")
    world = float((1 << z) * block_size)
    gx = f"CAST(floor((_mx + {_ORIGIN_SHIFT}) / {2.0 * _ORIGIN_SHIFT} * {world}) AS BIGINT)"
    gy = f"CAST(floor(({_ORIGIN_SHIFT} - _my) / {2.0 * _ORIGIN_SHIFT} * {world}) AS BIGINT)"
    mapped = px.selectExpr(
        f"{gx} AS gx", f"{gy} AS gy", *extra_keys, *band_cols
    ).where(f"gx >= 0 AND gx < {int(world)} AND gy >= 0 AND gy < {int(world)}")

    def valid(b: str) -> str:
        if nodata is None:
            return b
        return f"CASE WHEN {b} <=> {_sql_double(nodata)} THEN NULL ELSE {b} END"

    def finish(expr: str) -> str:
        if nodata is None:
            return expr
        return f"coalesce({expr}, {_sql_double(nodata)})"

    keys = ["gx", "gy", *extra_keys]
    if resampling == "mode":
        outs = None
        for b in band_cols:
            counts = (
                mapped.selectExpr(*keys, f"{valid(b)} AS _v")
                .where("_v IS NOT NULL")
                .groupBy(*keys, "_v")
                .agg(F.count("*").alias("_c"))
            )
            best = (
                counts.groupBy(*keys)
                .agg(
                    F.max(
                        F.struct(F.col("_c").alias("c"), (-F.col("_v")).alias("nv"))
                    ).alias("_m")
                )
                .selectExpr(*keys, f"(-_m.nv) AS {b}")
            )
            outs = best if outs is None else outs.join(best, keys, "outer")
        if nodata is not None:
            outs = outs.selectExpr(
                *keys, *[f"coalesce({b}, {_sql_double(nodata)}) AS {b}"
                         for b in band_cols]
            )
        return outs
    agg_fn = {
        "average": "avg({v})",
        "max": "max({v})",
        "min": "min({v})",
        "med": "percentile({v}, 0.5D)",
        "q1": "percentile({v}, 0.25D)",
        "q3": "percentile({v}, 0.75D)",
    }[resampling]
    aggs = [
        F.expr(finish(agg_fn.format(v=valid(b)))).alias(b) for b in band_cols
    ]
    return mapped.groupBy(*keys).agg(*aggs)


_CUBIC_A = -0.5  # Catmull-Rom, GDAL's cubic kernel


def _kernel_sql(d: str, resampling: str) -> str:
    """Separable resampling kernel weight as a SQL expression of the
    signed source-grid offset ``d``."""
    t = f"abs({d})"
    if resampling == "bilinear":
        return f"(1.0D - {t})"
    if resampling == "cubic":
        # a=-0.5: |t|<=1 -> 1.5t^3 - 2.5t^2 + 1 ; 1<|t|<2 -> -0.5t^3 + 2.5t^2 - 4t + 2
        return (
            f"(CASE WHEN {t} <= 1.0D THEN ((1.5D * {t} - 2.5D) * {t} * {t} + 1.0D)"
            f" ELSE ((((-0.5D) * {t} + 2.5D) * {t} - 4.0D) * {t} + 2.0D) END)"
        )
    raise ValueError(f"unknown resampling {resampling!r}")


def _kernel_np(d: np.ndarray, resampling: str) -> np.ndarray:
    """:func:`_kernel_sql`'s numpy twin, op-for-op (same literals, same
    left-assoc evaluation order), so identical float64 inputs produce
    identical bits in either engine."""
    t = np.abs(d)
    if resampling == "bilinear":
        return 1.0 - t
    if resampling == "cubic":
        inner = ((1.5 * t - 2.5) * t) * t + 1.0
        outer = (((-0.5) * t + 2.5) * t - 4.0) * t + 2.0
        return np.where(t <= 1.0, inner, outer)
    raise ValueError(f"unknown resampling {resampling!r}")


def _floor_idx(x: np.ndarray) -> np.ndarray:
    """``CAST(floor(x) AS BIGINT)`` for source-index math. A NaN
    coordinate (a NULL after the Arrow hop, which the SQL filters drop)
    becomes a far-negative index, outside every grid."""
    with np.errstate(invalid="ignore"):
        f = np.clip(np.floor(x), -(2.0 ** 62), 2.0 ** 62)
        return np.where(np.isnan(f), -(2.0 ** 62), f).astype("int64")


def _stagger_sx_sql(st: tuple[float, float]) -> str:
    """Containing source column on a STAGGERED grid (GRIB flag-table
    3.4 bits 5/6): a row whose centers are shifted by ``off`` samples
    contains ``fsx`` in cell ``floor(fsx - off)``, and the parity of
    the row ``syn`` picks ``off`` from ``st``."""
    return (
        f"CAST(floor(fsx - (CASE WHEN pmod(syn, 2) = 0 "
        f"THEN {st[0]}D ELSE {st[1]}D END)) AS BIGINT)"
    )


def _stagger_sx_np(fsx, syn, st: tuple[float, float]) -> np.ndarray:
    """:func:`_stagger_sx_sql`'s numpy twin, op-for-op."""
    return _floor_idx(fsx - np.where(np.mod(syn, 2) == 0, st[0], st[1]))


def _row_u_sql(info: dict) -> str:
    """Fractional in-row sample index on a REDUCED (ragged-row) grid,
    over ``fsx`` and the row's point count ``_rn``: the target lon from
    the affine x leg, in the row's own spacing — 360/_rn on global
    circles (points at k·360/_rn), lon_span/(_rn − 1) on
    endpoint-inclusive regional rows. No mod-360 wrap: straddling
    regional grids are gated at parse, and a wrap would push targets
    half a spacing west of column 0 to a spurious nodata seam."""
    ox, a = info["transform"][:2]
    lf, span = info.get("lon_first", 0.0), info.get("lon_span")
    lon = f"(fsx * {a} + {ox})"
    if span is not None:
        return f"({lon} - {lf}) * (_rn - 1) / {span}D"
    return f"({lon} - {lf}) * _rn / 360.0D"


def _row_u_np(info: dict, fsx, rn) -> np.ndarray:
    """:func:`_row_u_sql`'s numpy twin, op-for-op (``_rn`` promoted to
    double as the engine promotes the bigint)."""
    ox, a = info["transform"][:2]
    lf, span = info.get("lon_first", 0.0), info.get("lon_span")
    lon = fsx * a + ox
    if span is not None:
        return (lon - lf) * (rn - 1.0) / span
    return (lon - lf) * rn / 360.0


def gather_is_broadcast(info: dict, n_steps: int = 1) -> bool:
    """Whether the decoded source fits on the driver: raw source bytes
    × steps ≤ ~100 MB. The one size rule of :func:`import_tiles` — such
    sources go to the gather builder (:func:`_fused_gather_tiles`, one
    collected copy broadcast to the build tasks), larger ones to the
    shuffled-hash warp join. ``n_steps``: multi-step pixel tables carry
    one full grid per step, so a 0.25° global grid (~8 MB/step) with
    120 forecast steps is ~1 GB, not 8 MB."""
    return (
        info["width"] * info["height"] * info["n_bands"]
        * np.dtype(info["dtype"]).itemsize * max(1, int(n_steps))
    ) <= 100 * (1 << 20)


def _affine_fs(info: dict, mx: str, my: str) -> tuple[str, str]:
    """(fsx, fsy) SQL from source MODEL coordinates: the inverse
    geotransform (sample i's center sits at fractional index i + 0.5)."""
    ox, a, b, oy, c, d = info["transform"]
    det = a * d - b * c
    if det == 0:
        raise ValueError("singular geotransform")
    u, v = f"({mx} - {ox})", f"({my} - {oy})"
    return (
        f"({u} * {d} - {b} * {v}) / {det}",
        f"({-c} * {u} + {a} * {v}) / {det}",
    )


def _target_fs_exprs(
    info: dict, z: int, block_size: int
) -> tuple[list[tuple[str, str]], str, str]:
    """(column bindings, fsx, fsy): the closed-form inverse map from the
    target pixel center ``(gx, gy)`` to fractional SOURCE sample
    coordinates, as SQL. 3857 sources take the mercator meters, 4326
    sources the lon/lat degrees, projected and rotated-pole sources the
    Snyder FORWARD projection of those degrees (:func:`_forward_steps`,
    bound as named columns). The single definition behind both the
    gather builder and the join path, so both see the same doubles."""
    world = float((1 << z) * block_size)
    cmx = f"((gx + 0.5D) / {world} * {2.0 * _ORIGIN_SHIFT} - {_ORIGIN_SHIFT})"
    cmy = f"({_ORIGIN_SHIFT} - (gy + 0.5D) / {world} * {2.0 * _ORIGIN_SHIFT})"
    if info["epsg"] == 3857:
        return [], *_affine_fs(info, cmx, cmy)
    lon = f"({cmx} / {_ORIGIN_SHIFT} * 180.0D)"
    lat = f"degrees(2.0D * atan(exp({cmy} / {_EARTH_R})) - {math.pi / 2.0})"
    if info["epsg"] == 4326:
        return [], *_affine_fs(info, lon, lat)
    steps, x_e, y_e = _forward_steps(info)
    return [("_lon", lon), ("_lat", lat), *steps], *_affine_fs(info, x_e, y_e)


def _target_fs(
    spark: SparkSession,
    info: dict,
    z: int,
    block_size: int,
    tile_ext: tuple[int, int, int, int],
) -> DataFrame:
    """``(_tid, gx, gy, fsx, fsy)`` for every pixel of the covering
    target tile grid (:func:`_target_fs_exprs`), generated BLOCK-MAJOR
    with whole tiles per partition: one ``spark.range`` row per tile
    (``_tid``), exploded to its ``bs²`` pixels in row-major order. The
    gather builder streams it tile by tile; the join path joins it on
    the source index."""
    tx0, ty0, tx1, ty1 = tile_ext
    bs = block_size
    ntx = tx1 - tx0 + 1
    n_tiles = ntx * (ty1 - ty0 + 1)
    n_part = max(1, min(spark.sparkContext.defaultParallelism, n_tiles))
    tgt = (
        spark.range(0, n_tiles, 1, n_part)
        .selectExpr(
            "id AS _tid", f"explode(sequence(0, {bs * bs - 1})) AS _o"
        )
        .selectExpr(
            "_tid",
            f"{tx0 * bs} + (_tid % {ntx}) * {bs} + _o % {bs} AS gx",
            f"{ty0 * bs} + (_tid DIV {ntx}) * {bs} + _o DIV {bs} AS gy",
        )
    )
    steps, fsx_e, fsy_e = _target_fs_exprs(info, z, bs)
    for name, expr in steps:
        tgt = tgt.withColumn(name, F.expr(expr))
    return tgt.selectExpr(
        "_tid", "gx", "gy", f"{fsx_e} AS fsx", f"{fsy_e} AS fsy"
    )


def _fsy_rows_interp(info: dict, gy0: int, npy: int, world: float):
    """Per-target-ROW fractional source row for IRREGULAR row latitudes
    (Gaussian grids): row → lat is not affine, so fsy is interpolated
    on the driver (piecewise-linear between centers, linear beyond the
    outer centers like the affine path). Returns the float64 ``fsy``
    vector for gy in [gy0, gy0+npy). The single definition shared by
    the join path's broadcast rowmap and the gather builder's per-axis
    index — both floor the same doubles."""
    lc = np.asarray(info["lat_centers"], dtype="f8")  # north → south
    if len(lc) < 2 or not (np.diff(lc) < 0).all():
        raise ValueError("lat_centers must be strictly north→south")
    gys = np.arange(gy0, gy0 + npy, dtype="f8")
    merc_y = _ORIGIN_SHIFT - (gys + 0.5) / world * 2.0 * _ORIGIN_SHIFT
    lat_t = np.degrees(
        2.0 * np.arctan(np.exp(merc_y / _EARTH_R)) - math.pi / 2.0
    )
    xp = lc[::-1]
    fp = (np.arange(len(lc), dtype="f8") + 0.5)[::-1]
    fsy_t = np.interp(lat_t, xp, fp)
    n_sl = (fp[-1] - fp[-2]) / (xp[-1] - xp[-2])
    s_sl = (fp[1] - fp[0]) / (xp[1] - xp[0])
    fsy_t = np.where(
        lat_t > xp[-1], fp[-1] + (lat_t - xp[-1]) * n_sl, fsy_t
    )
    fsy_t = np.where(
        lat_t < xp[0], fp[0] + (lat_t - xp[0]) * s_sl, fsy_t
    )
    return fsy_t


def _fused_gather_eligible(info: dict, resampling: str, n_steps: int = 1) -> bool:
    """Whether :func:`import_tiles` builds the tiles with the gather
    builder (:func:`_fused_gather_tiles`): every near/bilinear/cubic
    import whose source fits :func:`gather_is_broadcast`, whatever the
    grid. The reducing kernels keep the forward-map aggregate, larger
    sources the shuffled-hash warp join."""
    return resampling in ("near", "bilinear", "cubic") and gather_is_broadcast(
        info, n_steps
    )


def _separable_src_fs(
    spark: SparkSession,
    info: dict,
    z: int,
    block_size: int,
    tile_ext: tuple[int, int, int, int],
):
    """(fsx_by_gx, fsy_by_gy) float64 vectors over the target extent of
    a NORTH-UP 4326/3857 grid, where ``fsx`` depends only on ``gx`` and
    ``fsy`` only on ``gy``: the join path's expressions
    (:func:`_target_fs_exprs`) evaluated by the same JVM engine in one
    tiny job over max(npx, npy) rows, so transcendental bit-identity is
    by construction, not by numpy-vs-JVM luck. ``lat_centers`` grids
    take fsy from the driver-side interp the join path's rowmap uses."""
    tx0, ty0, tx1, ty1 = tile_ext
    bs = block_size
    gx0, gy0 = tx0 * bs, ty0 * bs
    npx = (tx1 - tx0 + 1) * bs
    npy = (ty1 - ty0 + 1) * bs
    _, fsx_e, fsy_e = _target_fs_exprs(info, z, bs)
    n = max(npx, npy)
    pdf = (
        spark.range(0, n, 1, 1)
        .selectExpr(
            f"{gx0} + least(id, {npx - 1}) AS gx",
            f"{gy0} + least(id, {npy - 1}) AS gy",
        )
        .selectExpr(f"{fsx_e} AS fsx", f"{fsy_e} AS fsy")
        .toPandas()
    )
    fsx = pdf["fsx"].to_numpy(dtype="float64")[:npx]
    if info.get("lat_centers") is not None:
        fsy = _fsy_rows_interp(info, gy0, npy, float((1 << z) * bs))
    else:
        fsy = pdf["fsy"].to_numpy(dtype="float64")[:npy]
    return fsx, fsy


def _round_half_up_spark(x: np.ndarray) -> np.ndarray:
    """Spark's ``round(double)`` (scale 0) replicated exactly. Spark
    rounds HALF_UP on ``BigDecimal(Double.toString(v))`` — the
    SHORTEST round-trip decimal representation — not on the binary
    value. The vectorized fast path (ties-away-from-zero on the binary
    fraction) agrees everywhere except within a few ULP of a ``k.5``
    boundary, where the shortest decimal repr can sit on the other
    side of the tie; those (rare) elements are re-done through
    ``decimal.Decimal(repr(v))`` — Python's repr is the same shortest
    round-trip decimal as Java's Double.toString — with
    ROUND_HALF_UP, the exact BigDecimal semantics. NaN/±inf pass
    through like Spark's special case. Sign-of-zero differences are
    irrelevant downstream (the rounded value feeds an integer-band
    astype)."""
    import decimal

    with np.errstate(invalid="ignore"):
        ax = np.abs(x)
        fl = np.floor(ax)
        frac = ax - fl  # inf - inf → NaN, masked by the isfinite below
        mag = np.where(frac >= 0.5, fl + 1.0, fl)
        out = np.where(x < 0, -mag, mag)
        out = np.where(np.isfinite(x), out, x)
        tol = 4.0 * np.finfo(np.float64).eps * np.maximum(ax, 1.0)
        amb = np.abs(frac - 0.5) <= tol
    if amb.any():
        flat = out.reshape(-1)
        xf = np.asarray(x, dtype="float64").reshape(-1)
        for i in np.flatnonzero(amb.reshape(-1)):
            d = decimal.Decimal(repr(float(xf[i]))).quantize(
                decimal.Decimal(1), rounding=decimal.ROUND_HALF_UP
            )
            flat[i] = float(d)
    return out


def _fused_gather_tiles(
    spark: SparkSession,
    px: DataFrame,
    info: dict,
    z: int,
    block_size: int,
    tile_ext: tuple[int, int, int, int],
    metadata: dict,
    compression: str | None,
    extra_key: str | None = None,
    dense: bool = False,
    resampling: str = "near",
    stats: bool = False,
) -> DataFrame:
    """The gather builder: every tile of a near/bilinear/cubic import
    of ≤ 100 MB (:func:`_fused_gather_eligible`), with no join and no
    per-pixel shuffle. The decoded source is collected once (or
    arrives collected from a driver-side decode), broadcast as packed
    ndarrays, and each output tile is gathered (``near``) or blended
    (``bilinear``/``cubic``) and encoded inside one ``mapInPandas``.
    Output is byte-identical to the join path
    (:func:`_resampled_pixels` → ``from_pixel_table`` + the dense fill),
    pinned per grid class by tests/test_fused_gather.py.

    The grids differ only in where the per-pixel source coordinates
    come from:

    - north-up 4326/3857 grids (staggered and reduced-Gaussian rows
      too): two per-axis vectors (:func:`_separable_src_fs`) drive a
      ``mapInPandas`` over one row per tile, about 8 tiles per task;
    - projected and rotated grids: the per-pixel ``(fsx, fsy)`` stream
      of :func:`_target_fs` enters the ``mapInPandas`` tile by tile.
      Each row carries its tile id; a stream that is not
      tile-contiguous raises ``ValueError``, never a half tile.

    Either way the coordinates are the join path's own doubles, and the
    index and kernel math on them runs on 2-D (broadcast) arrays in
    IEEE float64, each piece the op-for-op twin of the SQL it mirrors
    (``floor``, :func:`_stagger_sx_np`, :func:`_row_u_np`,
    :func:`_kernel_np`). ``near`` copies the containing cell verbatim.
    The kernel blend replays the join path's fold over a pixel's taps:
    explode order, summed onto zeros (``coalesce(s, 0.0) + w * v``, so
    a lone ``-0.0`` term sums to ``+0.0``), nodata, NaN and
    out-of-grid terms skipped, ``num/den`` only where
    ``den <> 0`` (else the fill, like the SQL NULL), and Spark's
    HALF_UP ``round()`` replayed by :func:`_round_half_up_spark` for
    integer bands. A tile with no covered (near) or blended (kernel)
    pixel is emitted only when ``dense``, as the all-fill tile of the
    join path's anti-join.

    ``stats`` appends the ``{band}_{stat}`` columns after the bands,
    computed on each storage-dtype tile before it is encoded — the
    same :func:`~raquet_spark.operators.tile_stats.tile_stats_arrays`
    math :func:`~raquet_spark.operators.tile_stats.with_tile_stats`
    runs on the decoded blob, so no second Python pass gunzips what
    this one just encoded."""
    from raquet_spark.core.metadata import parse_nodata
    from raquet_spark.functions import quadbin as qb
    from raquet_spark.functions.bands import DTYPES, encode_block
    from raquet_spark.operators.tile_stats import (
        stats_columns,
        stats_schema,
        tile_stats_arrays,
    )
    from raquet_spark.session import ensure_package_shipped

    ensure_package_shipped(spark)
    tx0, ty0, tx1, ty1 = tile_ext
    bs = block_size
    h, w = info["height"], info["width"]
    _, _, b, _, c, _ = info["transform"]
    bands = [
        (bm["name"], bm["type"], parse_nodata(bm.get("nodata")))
        for bm in metadata["bands"]
    ]
    kernel = resampling in ("bilinear", "cubic")
    int_out = kernel and np.dtype(info["dtype"]).kind in "iu"
    taps = range(0, 2) if resampling == "bilinear" else range(-1, 3)
    st = info.get("stagger_x")
    rows = info.get("row_ni")
    if rows is not None:
        rows = np.asarray(rows, dtype="int64")
    wrap = bool(info.get("lon_global")) and info.get("lon_span") is None
    separable = info["epsg"] in (4326, 3857) and b == 0.0 and c == 0.0
    axes = _separable_src_fs(spark, info, z, bs, tile_ext) if separable else None

    pdf = px if isinstance(px, pd.DataFrame) else px.toPandas()
    sx = pdf["sx"].to_numpy(dtype="int64")
    sy = pdf["sy"].to_numpy(dtype="int64")
    if extra_key is not None:
        tvals = np.sort(pdf[extra_key].unique())
        ti = np.searchsorted(tvals, pdf[extra_key].to_numpy())
    else:
        tvals, ti = None, 0
    nt = len(tvals) if tvals is not None else 1
    grids: dict[str, np.ndarray] = {}
    for name, btype, nodata in bands:
        vals = pdf[name].to_numpy()
        # the kernel blend consumes the PX-TABLE values (the join path's
        # SUM sees the pixel-table column as DOUBLE, before any storage
        # narrowing); near stores the storage dtype now — the same
        # elementwise astype the assembly applies after the join.
        # Absent source cells (GRIB bitmap-omitted points) keep the
        # fill, what a no-match target pixel gets from the join path.
        dt = vals.dtype if kernel else DTYPES[btype]
        g = np.full((nt, h, w), 0 if nodata is None else nodata, dtype=dt)
        g[ti, sy, sx] = vals.astype(dt)
        grids[name] = g
    bvar = spark.sparkContext.broadcast((grids, tvals, axes))

    def near_index(fx, fy):
        # the containing source cell, as the join path's near SQL
        # picks it; returns the in-grid mask and the gathered indices
        syn = _floor_idx(fy)
        oky = (syn >= 0) & (syn < h)
        if rows is None:
            sxn = _stagger_sx_np(fx, syn, st) if st else _floor_idx(fx)
            ok = oky & (sxn >= 0) & (sxn < w)
        else:
            rn = np.where(oky, rows[np.clip(syn, 0, len(rows) - 1)], 0)
            sxn = _floor_idx(_row_u_np(info, fx, rn) + 0.5)
            if wrap:
                sxn = np.mod(sxn, np.maximum(rn, 1))
            ok = oky & (sxn >= 0) & (sxn < rn)
        syn, sxn, ok = np.broadcast_arrays(syn, sxn, ok)
        return ok, (syn[ok], sxn[ok])

    def kernel_taps(fx, fy):
        # (in-grid mask, clipped indices, weight) per kernel tap, in
        # the join path's explode order: kx outer / ky inner on affine
        # rows, ky outer / kx inner on reduced rows
        out = []
        if rows is None:
            ibx, iby = _floor_idx(fx - 0.5), _floor_idx(fy - 0.5)
            for kx in taps:
                sxn = ibx + kx
                wx = _kernel_np(fx - (sxn + 0.5), resampling)
                for ky in taps:
                    syn = iby + ky
                    wy = _kernel_np(fy - (syn + 0.5), resampling)
                    ok = (sxn >= 0) & (sxn < w) & (syn >= 0) & (syn < h)
                    out.append((ok, syn, sxn, wx * wy))
        else:
            j0 = _floor_idx(fy - 0.5)
            for ky in taps:
                syn = j0 + ky
                oky = (syn >= 0) & (syn < h)
                wy = _kernel_np(fy - (syn + 0.5), resampling)
                rn = np.where(oky, rows[np.clip(syn, 0, len(rows) - 1)], 0)
                u = _row_u_np(info, fx, rn)
                k0 = _floor_idx(u)
                for kx in taps:
                    k = k0 + kx
                    sxn = np.mod(k, np.maximum(rn, 1)) if wrap else k
                    # x weight from the UNWRAPPED index: the kernel sees
                    # the true signed offset at the seam
                    wt = wy * _kernel_np(u - k, resampling)
                    out.append((oky & (sxn >= 0) & (sxn < rn), syn, sxn, wt))
        return [
            (ok, np.clip(syn, 0, h - 1), np.clip(sxn, 0, w - 1), wt)
            for ok, syn, sxn, wt in out
            if ok.any()
        ]

    def fill_tile(btype, nodata):
        return np.full((bs, bs), 0 if nodata is None else nodata, dtype=DTYPES[btype])

    def gather(index, grids_b, si):
        ok, sel = index
        tiles = {}
        for name, btype, nodata in bands:
            tiles[name] = tile = fill_tile(btype, nodata)
            tile[ok] = grids_b[name][si][sel]
        return tiles, bool(ok.any())

    def blend(index, grids_b, si):
        tiles, any_valid = {}, False
        for name, btype, nodata in bands:
            gband = grids_b[name][si]
            num = np.zeros((bs, bs))
            den = np.zeros((bs, bs))
            for ok, syn, sxn, wt in index:
                v = gband[syn, sxn].astype("float64")
                m = ok & ~np.isnan(v)
                if nodata is not None and nodata == nodata:
                    m &= v != float(nodata)
                num = np.where(m, num + wt * v, num)
                den = np.where(m, den + wt, den)
            okp = den != 0.0
            tiles[name] = tile = fill_tile(btype, nodata)
            if okp.any():
                any_valid = True
                out = num[okp] / den[okp]
                if int_out:
                    out = _round_half_up_spark(out)
                tile[okp] = out.astype(DTYPES[btype])
        return tiles, any_valid

    ntx = tx1 - tx0 + 1
    n_tiles = ntx * (ty1 - ty0 + 1)
    names = ["block"] + ([extra_key] if extra_key is not None else [])
    names += [name for name, _, _ in bands]

    def new_out():
        out = {n: [] for n in names}
        if stats:
            out.update({("stats", name): [] for name, _, _ in bands})
        return out

    def frame(out):
        pdf = pd.DataFrame({n: out[n] for n in names})
        if stats:
            for name, _, _ in bands:
                pdf = pdf.assign(**stats_columns(name, out[("stats", name)]))
        return pdf

    def emit(out, tid, fx, fy, grids_b, tvals_b):
        tx, ty = tx0 + tid % ntx, ty0 + tid // ntx
        index = kernel_taps(fx, fy) if kernel else near_index(fx, fy)
        for si in range(nt):
            tiles, valid = (blend if kernel else gather)(index, grids_b, si)
            # dense callers get the all-fill tile (the anti-join
            # literal's byte-identical twin)
            if not (valid or dense):
                continue
            out["block"].append(qb.py_tile_to_cell(tx, ty, z))
            if extra_key is not None:
                out[extra_key].append(float(tvals_b[si]))
            for name, btype, nodata in bands:
                tile = tiles[name].reshape(-1)
                if stats:
                    out[("stats", name)].append(tile_stats_arrays(tile, nodata))
                out[name].append(encode_block(tile, btype, compression))

    def build_axes(batches):
        grids_b, tvals_b, (fsx, fsy) = bvar.value
        for task_pdf in batches:
            out = new_out()
            for tid in task_pdf["id"].tolist():
                x0, y0 = (tid % ntx) * bs, (tid // ntx) * bs
                emit(out, tid, fsx[None, x0:x0 + bs], fsy[y0:y0 + bs, None],
                     grids_b, tvals_b)
            yield frame(out)

    def build_stream(batches):
        # each run of bs² rows must be one tile, seen once: a split or
        # interleaved tile fails the job, never a half tile
        grids_b, tvals_b, _ = bvar.value
        buf, seen = None, set()
        for pdf in batches:
            buf = pdf if buf is None else pd.concat([buf, pdf], ignore_index=True)
            out = new_out()
            while len(buf) >= bs * bs:
                tile, buf = buf.iloc[:bs * bs], buf.iloc[bs * bs:]
                tid = int(tile["_tid"].iloc[0])
                if tid in seen or (tile["_tid"] != tid).any():
                    raise ValueError(
                        f"gather builder: tile {tid} is not tile-contiguous "
                        "in the coordinate stream"
                    )
                seen.add(tid)
                emit(out, tid, tile["fsx"].to_numpy("float64").reshape(bs, bs),
                     tile["fsy"].to_numpy("float64").reshape(bs, bs),
                     grids_b, tvals_b)
            yield frame(out)
        if buf is not None and len(buf):
            raise ValueError(
                "gather builder: the coordinate stream is not "
                "tile-contiguous (it ends inside a tile)"
            )

    schema = ", ".join(
        f"{n} {'bigint' if n == 'block' else 'double' if n == extra_key else 'binary'}"
        for n in names
    )
    if stats:
        schema += ", " + stats_schema([name for name, _, _ in bands])
    if separable:
        # ~8 tiles per task floor: a per-tile gather+encode is sub-ms,
        # so one task per tile at high core counts is pure scheduling
        # overhead; at real scale n_tiles/8 >> cores
        n_part = max(1, min(spark.sparkContext.defaultParallelism, (n_tiles + 7) // 8))
        return spark.range(0, n_tiles, 1, n_part).mapInPandas(
            build_axes, schema=schema
        )
    return (
        _target_fs(spark, info, z, bs, tile_ext)
        .select("_tid", "fsx", "fsy")
        .mapInPandas(build_stream, schema=schema)
    )


def _resampled_pixels(
    spark: SparkSession,
    px: DataFrame,
    info: dict,
    z: int,
    block_size: int,
    resampling: str,
    tile_ext: tuple[int, int, int, int],
    extra_cols: tuple[str, ...] = (),
    n_steps: int = 1,
) -> DataFrame:
    """Target-driven warp JOIN for near/bilinear/cubic sources too large
    for the gather builder (the reference CLI's ``--resampling``).

    Every pixel of the covering target grid (:func:`_target_fs`) carries
    its fractional SOURCE sample coordinates; ``near`` picks the
    containing cell, ``bilinear``/``cubic`` explode the 2×2 / 4×4
    neighborhood, and one equi-join on (sx, sy) gathers the samples —
    candidate volume is 1×/4×/16× the OUTPUT size, never
    source×target. Nodata and NaN samples drop out of the blend and the
    kernel renormalizes (GDAL's masked-resampling behavior). The join
    is a shuffled hash join sized by the source rows: every source that
    reaches it is past the ~100 MB driver bound
    (:func:`gather_is_broadcast`)."""
    tx0, ty0, tx1, ty1 = tile_ext
    bs = block_size
    gy0 = ty0 * bs
    npy = (ty1 - ty0 + 1) * bs
    world = float((1 << z) * bs)
    tgt = _target_fs(spark, info, z, bs, tile_ext).select(
        "gx", "gy", "fsx", "fsy"
    )
    row_ni = info.get("row_ni")  # reduced grids: ragged row widths
    if info.get("lat_centers") is not None:
        # IRREGULAR row latitudes (Gaussian grids, GRIB 3.40): row →
        # lat is not affine, so the per-target-ROW fractional source
        # row is computed on the driver (_fsy_rows_interp, shared with
        # the gather builder) and broadcast-joined on gy — npy
        # entries, O(thousands); the x affine, the gather join and the
        # kernels are untouched.
        if row_ni is not None and resampling not in ("near", "bilinear", "cubic"):
            raise NotImplementedError(
                "reduced (ragged-row) grids resample nearest, bilinear, or cubic only"
            )
        # ``_rn``: the containing row's point count on reduced grids
        gys = np.arange(gy0, gy0 + npy, dtype="f8")
        fsy_t = _fsy_rows_interp(info, gy0, npy, world)
        syn_t = np.floor(fsy_t).astype("i8")
        rn_t = np.zeros(npy, dtype="i8") if row_ni is None else np.where(
            (syn_t >= 0) & (syn_t < len(row_ni)),
            np.asarray(row_ni, dtype="i8")[np.clip(syn_t, 0, len(row_ni) - 1)],
            0,
        )
        rowmap = spark.createDataFrame(
            [(int(g), float(f), int(rn)) for g, f, rn in zip(gys, fsy_t, rn_t)],
            "gy bigint, _fsy_row double, _rn bigint",
        )
        tgt = (
            tgt.drop("fsy")
            .join(F.broadcast(rowmap), "gy")
            .withColumnRenamed("_fsy_row", "fsy")
        )
    band_cols = [f"band_{i + 1}" for i in range(info["n_bands"])]
    # the importer knows the exact source size at plan time, so the
    # shuffled hash join sizes its own width (r15, probe-found): at the
    # session default a >100 MB source splits into src_rows/width
    # per-task hash builds — 61M pixel rows over 32 tasks OOMed the
    # build. A NUMBERED repartition on the join keys pins the width
    # against AQE coalescing (the build blow-up is in-memory state,
    # invisible to byte-based coalescing) and the target side
    # co-shuffles to match; 250k rows/task keeps each build ~tens of
    # MB. The hint keeps Catalyst from broadcasting on its own
    # estimate of the decode output (the tiny segment list's size).
    from raquet_spark.session import derive_shuffle_width

    width = derive_shuffle_width(
        spark, info["width"] * info["height"] * max(1, int(n_steps)),
        target_rows_per_task=250_000,
    )
    src = (
        px.selectExpr("sx AS sxn", "sy AS syn", *extra_cols, *band_cols)
        .repartition(width, "sxn", "syn")
        .hint("shuffle_hash")
    )
    wrap = info.get("lon_global") and info.get("lon_span") is None
    if resampling == "near":
        # GDAL's nearest semantics: the source CELL CONTAINING each
        # target center (inverse mapping) — DENSE output even when the
        # target out-resolves the source, unlike the forward argmin
        # which leaves holes wherever no source center lands. One
        # equi-join, ≤1 source row per target pixel, values copied
        # verbatim (nodata included).
        if row_ni is not None:
            # ragged rows (reduced Gaussian): the nearest point of the
            # row's own spacing, wrapping on global circles
            cells = (
                tgt.where("_rn > 0")
                .selectExpr(
                    "gx", "gy", "_rn",
                    f"CAST(floor({_row_u_sql(info)} + 0.5D) AS BIGINT) AS _k",
                    "CAST(floor(fsy) AS BIGINT) AS syn",
                )
                .selectExpr(
                    "gx", "gy", "_rn", "syn",
                    "pmod(_k, _rn) AS sxn" if wrap else "_k AS sxn",
                )
                .where(
                    "sxn >= 0 AND sxn < _rn "
                    f"AND syn >= 0 AND syn < {info['height']}"
                )
            )
        else:
            st = info.get("stagger_x")
            cells = tgt.selectExpr(
                "gx", "gy", "fsx", "CAST(floor(fsy) AS BIGINT) AS syn",
            ).selectExpr(
                "gx", "gy", "syn",
                (_stagger_sx_sql(st) if st else "CAST(floor(fsx) AS BIGINT)")
                + " AS sxn",
            ).where(
                f"sxn >= 0 AND sxn < {info['width']} "
                f"AND syn >= 0 AND syn < {info['height']}"
            )
        return cells.select("gx", "gy", "sxn", "syn").join(
            src, ["sxn", "syn"]
        ).select("gx", "gy", *extra_cols, *band_cols)

    lo, hi = (0, 1) if resampling == "bilinear" else (-1, 2)
    if row_ni is not None:
        # ragged-row (reduced-grid) kernel resampling: the 2 (bilinear)
        # or 4 (cubic) candidate rows come from the piecewise fsy, and
        # each row has its OWN x spacing (_row_u_sql; neighbors wrap
        # on global circles). The gathered neighbors carry separable
        # kernel weights wy·wx evaluated in each row's own index space;
        # dropped edge / nodata contributions renormalize in the shared
        # blend below.
        rows_df = spark.createDataFrame(
            [(j, int(rn)) for j, rn in enumerate(row_ni)],
            "syn bigint, _rn bigint",
        )
        rows_c = tgt.selectExpr(
            "gx", "gy", "fsx", "fsy",
            "CAST(floor(fsy - 0.5D) AS BIGINT) AS _j0",
        ).selectExpr(
            "gx", "gy", "fsx", "fsy", "_j0",
            f"explode(sequence({lo}, {hi})) AS _ky",
        ).selectExpr(
            "gx", "gy", "fsx", "fsy", "_ky", "_j0 + _ky AS syn",
        ).where(f"syn >= 0 AND syn < {info['height']}").selectExpr(
            "gx", "gy", "fsx", "_ky", "syn",
            f"{_kernel_sql('fsy - (syn + 0.5D)', resampling)} AS _wy",
        )
        rows_c = rows_c.join(F.broadcast(rows_df), "syn")
        contrib = rows_c.selectExpr(
            "gx", "gy", "_ky", "syn", "_wy", "_rn",
            f"{_row_u_sql(info)} AS _u",
        ).selectExpr(
            "gx", "gy", "_ky", "syn", "_wy", "_rn", "_u",
            "CAST(floor(_u) AS BIGINT) AS _k0",
            f"explode(sequence({lo}, {hi})) AS _kx",
        ).selectExpr(
            "gx", "gy", "syn", "_rn",
            f"(_ky - {lo}) * 4 + (_kx - {lo}) AS _k",
            "pmod(_k0 + _kx, _rn) AS sxn" if wrap else "_k0 + _kx AS sxn",
            # x weight from the UNWRAPPED neighbor index, so the
            # kernel sees the true signed offset at the seam
            f"_wy * {_kernel_sql('_u - (_k0 + _kx)', resampling)} AS w",
        ).where("sxn >= 0 AND sxn < _rn").drop("_rn")
    else:
        contrib = (
            tgt.selectExpr(
                "gx", "gy", "fsx", "fsy",
                "CAST(floor(fsx - 0.5D) AS BIGINT) AS ibx",
                f"explode(sequence({lo}, {hi})) AS kx",
            )
            .selectExpr(
                "gx", "gy", "fsx", "fsy", "kx", "ibx + kx AS sxn",
                f"explode(sequence({lo}, {hi})) AS ky",
            )
            .selectExpr(
                "gx", "gy", "fsx", "fsy", "sxn",
                f"(kx - {lo}) * 4 + (ky - {lo}) AS _k",
                "CAST(floor(fsy - 0.5D) AS BIGINT) + ky AS syn",
            )
            .where(
                f"sxn >= 0 AND sxn < {info['width']} AND syn >= 0 AND syn < {info['height']}"
            )
            .selectExpr(
                "gx", "gy", "sxn", "syn", "_k",
                f"{_kernel_sql('fsx - (sxn + 0.5D)', resampling)}"
                f" * {_kernel_sql('fsy - (syn + 0.5D)', resampling)} AS w",
            )
        )
    # the blend sums each pixel's taps in their explode order (_k),
    # not in shuffle-arrival order: a float SUM across the shuffled
    # join would round differently with the partition layout
    taps = (
        contrib.join(src, ["sxn", "syn"])
        .groupBy("gx", "gy", *extra_cols)
        .agg(F.expr(
            f"array_sort(collect_list(struct(_k, w, {', '.join(band_cols)})))"
        ).alias("_taps"))
    )
    nodata = info["nodata"]
    aggs = []
    int_out = np.dtype(info["dtype"]).kind in "iu"
    for bcol in band_cols:
        # GDAL's masked blend: NaN samples (NULL after the decode's
        # Arrow hop) and nodata samples are invalid in num AND den
        valid = f"x.{bcol} IS NOT NULL AND NOT isnan(x.{bcol})"
        if nodata is not None and nodata == nodata:
            valid += f" AND NOT (x.{bcol} <=> {_sql_double(nodata)})"

        def total(term: str) -> str:
            # SUM(CASE WHEN valid THEN term END), replayed in tap order
            return (
                f"aggregate(_taps, CAST(NULL AS DOUBLE), (s, x) -> CASE WHEN "
                f"{valid} THEN coalesce(s, 0.0D) + {term} ELSE s END)"
            )

        num, den = total(f"x.w * x.{bcol}"), total("x.w")
        blend = f"CASE WHEN {den} <> 0.0D THEN {num} / {den} END"
        if int_out:
            blend = f"round({blend})"  # GDAL rounds for integer bands
        aggs.append(F.expr(blend).alias(bcol))
    blended = taps.select("gx", "gy", *extra_cols, *aggs)
    # a target pixel every band of which saw only nodata has no source
    # information — drop it (matching the near path's sparse output);
    # partially-valid pixels keep per-band nodata fills
    blended = blended.where(
        " OR ".join(f"{b} IS NOT NULL" for b in band_cols)
    )
    if nodata is not None:
        blended = blended.select(
            "gx",
            "gy",
            *extra_cols,
            *[
                F.coalesce(F.col(b), F.lit(float(nodata))).alias(b)
                for b in band_cols
            ],
        )
    return blended


def import_tiles(
    spark: SparkSession,
    info: dict,
    bands: list[BandMeta],
    decode: Callable[[bool], DataFrame | pd.DataFrame],
    *,
    driver_decode: bool,
    zoom: int | None,
    block_size: int,
    compression: str | None,
    stats: bool,
    resampling: str,
    zoom_strategy: str = "upper",
    dense: bool = False,
    time_key: str | None = None,
    n_steps: int = 1,
    cf_time=None,
) -> tuple[DataFrame, dict]:
    """The import planner: the one place a parsed raster source becomes
    (tiles, metadata) on the web-mercator RaQuet grid — raster2raquet's
    warp-then-tile pipeline, shared by the GeoTIFF, NetCDF and GRIB2
    importers. They pass only what differs by format:

    - ``info``: the source grid (width/height/transform/epsg/dtype/
      nodata; GRIB grids add lat_centers/stagger_x/row_ni);
    - ``bands``: the band metadata;
    - ``decode(local)``: the (sx, sy[, time key], band_*) source pixel
      table — a pandas frame decoded on the driver when ``local``,
      else a distributed DataFrame; ``driver_decode`` says whether the
      source allows the driver decode (raw byte ranges: uncompressed
      chunky TIFF, classic NetCDF);
    - ``time_key``: the extra tile key of multi-step sources
      (``time_cf``); ``n_steps``: how many full grids the pixel table
      holds; ``cf_time``: CF units deriving the ``time_ts`` column.

    The target zoom defaults to :func:`_pick_zoom` and the extent to
    the covering tiles (:func:`_tile_aligned_bounds`). Each strategy
    choice is made here, once:

    ============================  =================================  ====
    input class                   branch                             exch
    ============================  =================================  ====
    near/bilinear/cubic, raw      gather builder                     0
    bytes × steps ≤ 100 MB        (:func:`_fused_gather_tiles`):
    (:func:`gather_is_broadcast`) per-axis index on north-up
                                  4326/3857 grids, per-pixel
                                  stream on projected and rotated
                                  ones; decode on the driver when
                                  ``driver_decode``, else
                                  distributed and collected
    near > 100 MB                 shuffled-hash warp join, grouped   3
                                  assembly
    bilinear/cubic > 100 MB       shuffled-hash warp join, blend     4
                                  groupBy, grouped assembly
    average/mode/max/min/med/     forward-map aggregate groupBy      2
    q1/q3                         (:func:`aggregate_warp`), grouped
                                  assembly
    ============================  =================================  ====

    "exch" counts the hash shuffles of the tiles' plan (multi-task
    decode, ``dense`` and stats off); ``mode`` adds one per band. On the
    join and aggregate branches ``dense`` adds an anti-join that fills
    every uncovered tile of the extent with one nodata blob (the gather
    builder emits those tiles itself). Then ``time_ts`` (``cf_time``)
    and the per-tile stats (``stats``): the gather builder computes
    them on the tiles it encodes, so its import stays one Python pass;
    the join and aggregate branches add them with
    :func:`~raquet_spark.operators.tile_stats.with_tile_stats`. Either
    way the ``{band}_{stat}`` columns come last, after ``time_ts``."""
    z = zoom if zoom is not None else _pick_zoom(info, block_size, zoom_strategy)
    # bounds = covering-tile extent at the target zoom (tile-aligned,
    # like the reference's union of mercantile tile bounds); the corner
    # min/max handles bottom-up files (positive y step, e.g. n37_w123's
    # ModelTransformation) and rotated projected corners (AEA)
    bounds, tile_ext = _tile_aligned_bounds(_lonlat_corners(info), z)
    tx0, ty0, tx1, ty1 = tile_ext
    meta = build_metadata(
        bands=bands,
        bounds=bounds,
        # tile-aligned output raster dims, like the reference metadata
        width=(tx1 - tx0 + 1) * block_size,
        height=(ty1 - ty0 + 1) * block_size,
        block_width=block_size,
        block_height=block_size,
        min_zoom=z,
        max_zoom=z,
        compression=compression,
        tile_statistics=stats,
    )
    extra = (time_key,) if time_key else ()
    if info.get("stagger_x") and resampling in ("bilinear", "cubic"):
        raise NotImplementedError(
            "staggered-grid source with kernel resampling "
            "(nearest only; re-grid first)"
        )
    built = _fused_gather_eligible(info, resampling, n_steps)
    if built:
        tiles = _fused_gather_tiles(
            spark, decode(driver_decode), info, z, block_size, tile_ext,
            meta, compression, extra_key=time_key, dense=dense,
            resampling=resampling, stats=stats,
        )
    else:
        from raquet_spark.operators.tiling import from_pixel_table

        px = decode(False)
        band_cols = [b.name for b in bands]
        if resampling in AGG_KERNELS:
            # forward map: every source sample's mercator center
            if info["epsg"] == 3857:
                ox, sxr, rxr, oy, ryr, syr = info["transform"]
                px = px.withColumn(
                    "_mx", F.expr(f"{ox} + (sx + 0.5) * {sxr} + (sy + 0.5) * {rxr}")
                ).withColumn(
                    "_my", F.expr(f"{oy} + (sx + 0.5) * {ryr} + (sy + 0.5) * {syr}")
                )
            else:
                steps, lon_e, lat_e = _lonlat_steps(info)
                for name, expr in steps:
                    px = px.withColumn(name, F.expr(expr))
                px = (
                    px.withColumn("_lon", F.expr(lon_e))
                    .withColumn("_lat", F.expr(lat_e))
                    .withColumn("_mx", F.expr(f"_lon * {math.pi / 180.0 * _EARTH_R}"))
                    .withColumn(
                        "_my",
                        F.expr(
                            f"{_EARTH_R} * ln(tan({math.pi / 4.0} + radians(_lat) / 2.0))"
                        ),
                    )
                )
            pixels = aggregate_warp(
                px, z, block_size, band_cols, resampling, info["nodata"],
                extra_keys=extra,
            )
        else:
            # target-driven inverse mapping: GDAL's warp semantics —
            # every covered target pixel gets a value; an unknown
            # kernel fails here, after the grid's own gates
            pixels = _resampled_pixels(
                spark, px, info, z, block_size, resampling, tile_ext,
                extra_cols=extra, n_steps=n_steps,
            )
        tiles = from_pixel_table(
            pixels, meta, compression=compression,
            extra_keys=tuple((k, "double") for k in extra),
        )
        if dense:
            # the reference warps the full covering grid, so all-nodata
            # tiles exist too (e.g. the corners of a rotated Albers
            # footprint's bounding box). One nodata blob is encoded once
            # on the driver and attached as a literal to the anti-joined
            # missing cells — no per-tile encode work.
            from raquet_spark.functions import quadbin as qbf
            from raquet_spark.functions.bands import DTYPES, encode_block

            cell = qbf.tile_to_cell_sql("x", "y", z, "spark")
            full = spark.sql(
                f"""
                SELECT {cell} AS block
                FROM (SELECT explode(sequence({tx0}, {tx1})) AS x)
                CROSS JOIN (SELECT explode(sequence({ty0}, {ty1})) AS y)
                """
            )
            missing = full.join(tiles.select("block"), "block", "left_anti")
            fill_cols = []
            for b in bands:
                fill = b.nodata if b.nodata is not None else 0
                blob = encode_block(
                    np.full(block_size * block_size, fill, dtype=DTYPES[b.type]),
                    b.type, compression,
                )
                fill_cols.append(F.lit(bytearray(blob)).alias(b.name))
            tiles = tiles.unionByName(missing.select("block", *fill_cols))
    if cf_time is not None:
        from raquet_spark.operators.time_dim import with_time_ts

        tiles = with_time_ts(tiles, cf_time)
    if stats and built:
        # the builder's stats columns go last, after time_ts, where
        # with_tile_stats puts them
        stat_cols = [f"{b.name}_{s}" for b in bands for s in TILE_STAT_NAMES]
        tiles = tiles.select(
            *[c for c in tiles.columns if c not in stat_cols], *stat_cols
        )
    elif stats:
        from raquet_spark.operators.tile_stats import with_tile_stats

        tiles = with_tile_stats(tiles, meta)
    return tiles, meta


def geotiff_to_raquet(
    spark: SparkSession,
    path: str,
    zoom: int | None = None,
    block_size: int = 256,
    compression: str | None = "gzip",
    stats: bool = True,
    zoom_strategy: str = "upper",
    dense: bool = True,
    resampling: str = "near",
) -> tuple[DataFrame, dict]:
    """Read a real GeoTIFF and produce (tiles, metadata) on the
    web-mercator RaQuet grid — raster2raquet's convert path. The IFD
    parse and GDAL-style colour interpretation are GeoTIFF's own; the
    warp strategy, tile assembly and stats are :func:`import_tiles`'s
    (see its strategy table)."""
    info = read_tiff_structure(path)
    # GDAL-style color interpretation, as the reference records it:
    # palette > gray (single band) > RGB(A)
    n_bands = info["n_bands"]
    if info["palette"]:
        interp = ["palette"] + ["undefined"] * (n_bands - 1)
    elif n_bands == 1:
        interp = ["gray"]
    elif n_bands in (3, 4):
        interp = ["red", "green", "blue", "alpha"][:n_bands]
    else:
        interp = ["undefined"] * n_bands
    bands = [
        BandMeta(
            name=f"band_{b + 1}",
            # normalize '<i2'/'>i2' → 'int16' (RaQuet band types are
            # endian-free; blobs re-encode little-endian)
            type=str(np.dtype(info["dtype"]).newbyteorder("=")),
            nodata=info["nodata"],
            colortable=info["palette"] if b == 0 else None,
            colorinterp=interp[b],
        )
        for b in range(n_bands)
    ]
    return import_tiles(
        spark, info, bands,
        lambda local: tiff_pixel_table(spark, info, local=local),
        # uncompressed chunky segments are raw byte ranges
        driver_decode=info["compression"] == 1
        and not (info.get("planar", 1) == 2 and n_bands > 1),
        zoom=zoom, block_size=block_size, compression=compression,
        stats=stats, resampling=resampling, zoom_strategy=zoom_strategy,
        dense=dense,
    )
