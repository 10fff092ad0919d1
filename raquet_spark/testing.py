"""Deterministic synthetic raster generation for tests and benchmarks.

GDAL is not available in this container, so instead of converting the
reference's GeoTIFF fixtures we generate rasters whose pixel values are
an analytic function of global pixel coordinates — closed-form, seedable
and identical on every executor. This mirrors the role of the reference
test fixtures (/root/reference/tests/*.tif) for round-trip and stats
tests.

Pixel function: value = ((gx * 31 + gy * 17 + seed) % modulo), with a
deterministic nodata hole where (gx + gy) % nodata_every == 0 (if
requested). Fully distributed: tiles are generated with mapInPandas from
a spark.range over the tile grid.
"""

from __future__ import annotations

import math
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from raquet_spark.core.metadata import BandMeta, build_metadata
from raquet_spark.functions import quadbin as qb
from raquet_spark.functions.bands import DTYPES, encode_block


def synthetic_tile_array(
    tx: int,
    ty: int,
    zoom: int,
    block_size: int,
    band_index: int,
    seed: int,
    dtype: str,
    modulo: int = 251,
    nodata: float | None = None,
    nodata_every: int = 0,
) -> np.ndarray:
    """Closed-form pixel block for tile (tx, ty) — same on driver & executors."""
    bs = block_size
    gx = np.arange(tx * bs, (tx + 1) * bs, dtype=np.int64)
    gy = np.arange(ty * bs, (ty + 1) * bs, dtype=np.int64)
    xx, yy = np.meshgrid(gx, gy)  # row-major: yy varies by row
    vals = ((xx * 31 + yy * 17 + seed + band_index * 7) % modulo).astype(DTYPES[dtype])
    if nodata is not None and nodata_every:
        mask = ((xx + yy) % nodata_every) == 0
        vals = vals.copy()
        vals[mask] = nodata
    return vals.reshape(-1)


def make_synthetic_raster(
    spark: SparkSession,
    *,
    zoom: int = 6,
    tiles_x: int = 4,
    tiles_y: int = 4,
    origin_x: int = 16,
    origin_y: int = 20,
    block_size: int = 32,
    num_bands: int = 1,
    dtype: str = "float32",
    seed: int = 42,
    modulo: int = 251,
    nodata: float | None = None,
    nodata_every: int = 0,
    compression: str | None = "gzip",
) -> tuple[DataFrame, dict]:
    """Generate a (tiles_x × tiles_y) tile grid at ``zoom`` with
    ``num_bands`` band columns, plus matching RaQuet metadata."""
    from raquet_spark.session import ensure_package_shipped

    ensure_package_shipped(spark)
    band_names = [f"band_{i + 1}" for i in range(num_bands)]

    n_tiles = tiles_x * tiles_y
    n_parts = max(1, min(n_tiles, spark.sparkContext.defaultParallelism))
    grid = (
        spark.range(n_tiles, numPartitions=n_parts)
        .select(
            (F.lit(origin_x) + F.col("id") % tiles_x).alias("tx"),
            (F.lit(origin_y) + (F.col("id") / tiles_x).cast("long")).alias("ty"),
        )
        .withColumn("block", F.expr(qb.tile_to_cell_sql("tx", "ty", zoom, "spark")))
    )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"block": pdf["block"].astype("int64")}
            for bi, name in enumerate(band_names):
                out[name] = [
                    encode_block(
                        synthetic_tile_array(
                            tx, ty, zoom, block_size, bi, seed, dtype,
                            modulo=modulo, nodata=nodata,
                            nodata_every=nodata_every,
                        ),
                        dtype,
                        compression,
                    )
                    for tx, ty in zip(pdf["tx"], pdf["ty"])
                ]
            yield pd.DataFrame(out)

    schema = "block bigint, " + ", ".join(f"{b} binary" for b in band_names)
    tiles = grid.mapInPandas(gen, schema=schema)

    w, s0, _, _ = qb.py_cell_to_bounds(qb.py_tile_to_cell(origin_x, origin_y + tiles_y - 1, zoom))
    _, _, e, n = qb.py_cell_to_bounds(qb.py_tile_to_cell(origin_x + tiles_x - 1, origin_y, zoom))
    meta = build_metadata(
        bands=[BandMeta(name=b, type=dtype, nodata=nodata) for b in band_names],
        bounds=(w, s0, e, n),
        width=tiles_x * block_size,
        height=tiles_y * block_size,
        block_width=block_size,
        block_height=block_size,
        min_zoom=zoom,
        max_zoom=zoom,
        num_blocks=tiles_x * tiles_y,
        compression=compression,
        tile_statistics=False,
    )
    meta["tiling"]["pixel_zoom"] = zoom + int(math.log2(block_size))
    return tiles, meta


def write_netcdf_classic(
    path: str,
    lats: np.ndarray,
    lons: np.ndarray,
    data: np.ndarray,
    *,
    times: np.ndarray | None = None,
    time_units: str = "days since 2020-01-01 00:00:00",
    calendar: str = "standard",
    var_name: str = "value",
    nc_type: int = 3,
    scale_factor: float | None = None,
    add_offset: float | None = None,
    fill_value=None,
    record_time: bool = True,
    version: int = 1,
) -> str:
    """Write a classic-format NetCDF file — the fixture builder for
    sources/netcdf.py (no netCDF4 in this environment; format per the
    public NetCDF classic spec). ``data`` is (time, lat, lon) or
    (lat, lon) RAW values matching ``nc_type`` (3=short, 4=int,
    5=float, 6=double; CDF-5 adds 7-11 unsigned/64-bit).
    ``record_time=True`` writes time as the unlimited dimension
    (record layout); False writes a fixed time dim. ``version``: 1
    (CDF-1) or 5 (CDF-5, pnetcdf 64-bit data — every NON_NEG widens
    to 64-bit and ``begin`` offsets are 64-bit)."""
    import struct

    assert version in (1, 5)
    wide = version == 5
    dt_map = {1: "i1", 3: ">i2", 4: ">i4", 5: ">f4", 6: ">f8",
              7: "u1", 8: ">u2", 9: ">u4", 10: ">i8", 11: ">u8"}
    dt = np.dtype(dt_map[nc_type])

    def nn(v: int) -> bytes:
        return struct.pack(">Q" if wide else ">I", v)
    has_time = times is not None
    if has_time:
        assert data.ndim == 3 and data.shape[0] == len(times)
    else:
        assert data.ndim == 2

    def pad4(b: bytes) -> bytes:
        return b + b"\x00" * ((4 - len(b) % 4) % 4)

    def name(s: str) -> bytes:
        b = s.encode()
        return nn(len(b)) + pad4(b)

    def raw_attr(aname: str, value, atype: int) -> bytes:
        arr = np.asarray([value], dtype=dt_map[atype])
        return name(aname) + struct.pack(">I", atype) + nn(1) + pad4(arr.tobytes())

    nlat, nlon = len(lats), len(lons)
    ntime = len(times) if has_time else 0

    # dims: optionally time (0 = unlimited if record), lat, lon
    dims = []
    if has_time:
        dims.append(("time", 0 if record_time else ntime))
    dims.append(("lat", nlat))
    dims.append(("lon", nlon))
    dim_index = {d[0]: i for i, d in enumerate(dims)}

    dim_list = struct.pack(">I", 0x0A) + nn(len(dims)) + b"".join(
        name(n) + nn(sz) for n, sz in dims
    )
    gatts = struct.pack(">I", 0) + nn(0)  # no global attributes

    # variables: lat, lon, [time], data
    def var_header(vname, dimids, vatts, vtype, vsize, begin):
        va = (
            struct.pack(">I", 0x0C) + nn(len(vatts)) + b"".join(vatts)
            if vatts else struct.pack(">I", 0) + nn(0)
        )
        return (
            name(vname)
            + nn(len(dimids))
            + b"".join(nn(d) for d in dimids)
            + va
            + struct.pack(">I", vtype) + nn(vsize)
            + (struct.pack(">Q", begin) if wide else struct.pack(">I", begin))
        )

    lat_b = lats.astype(">f8").tobytes()
    lon_b = lons.astype(">f8").tobytes()
    time_item = np.dtype(">f8").itemsize
    data_slab = nlat * nlon * dt.itemsize
    data_slab_p = (data_slab + 3) // 4 * 4

    datts = []
    if scale_factor is not None:
        datts.append(raw_attr("scale_factor", scale_factor, 6))
    if add_offset is not None:
        datts.append(raw_attr("add_offset", add_offset, 6))
    if fill_value is not None:
        datts.append(raw_attr("_FillValue", fill_value, nc_type))

    def str_attr(aname: str, val: bytes) -> bytes:
        return name(aname) + struct.pack(">I", 2) + nn(len(val)) + pad4(val)

    tatts = [
        str_attr("units", time_units.encode()),
        str_attr("calendar", calendar.encode()),
    ]
    latts = [str_attr("units", b"degrees_north")]
    lonatts = [str_attr("units", b"degrees_east")]

    # layout: header, lat, lon, then (record vars: time+data interleaved)
    # or (fixed: time, data contiguous)
    n_vars = 3 + (1 if has_time else 0)
    # compute header size by building with dummy offsets, then rebuild
    def build(off_lat, off_lon, off_time, off_data):
        vars_b = [
            var_header("lat", [dim_index["lat"]], latts, 6, len(lat_b), off_lat),
            var_header("lon", [dim_index["lon"]], lonatts, 6, len(lon_b), off_lon),
        ]
        if has_time:
            vars_b.append(var_header(
                "time", [dim_index["time"]], tatts, 6,
                time_item if record_time else ntime * time_item, off_time,
            ))
        vars_b.append(var_header(
            var_name,
            ([dim_index["time"]] if has_time else []) + [dim_index["lat"], dim_index["lon"]],
            datts, nc_type,
            data_slab_p if (has_time and record_time) else
            (ntime if has_time else 1) * data_slab,
            off_data,
        ))
        numrecs = ntime if (has_time and record_time) else 0
        return (
            b"CDF" + bytes([version]) + nn(numrecs) + dim_list + gatts
            + struct.pack(">I", 0x0B) + nn(len(vars_b)) + b"".join(vars_b)
        )

    header_len = len(build(0, 0, 0, 0))
    off_lat = header_len
    off_lon = off_lat + len(lat_b)
    if has_time and record_time:
        off_time = off_lon + len(lon_b)          # record start
        off_data = off_time + time_item          # data follows time in each record
    elif has_time:
        off_time = off_lon + len(lon_b)
        off_data = off_time + ntime * time_item
    else:
        off_time = 0
        off_data = off_lon + len(lon_b)

    with open(path, "wb") as f:
        f.write(build(off_lat, off_lon, off_time, off_data))
        f.write(lat_b)
        f.write(lon_b)
        raw = np.ascontiguousarray(data, dtype=dt)
        if has_time and record_time:
            for i in range(ntime):
                f.write(np.asarray([times[i]], dtype=">f8").tobytes())
                f.write(raw[i].tobytes().ljust(data_slab_p, b"\x00"))
        elif has_time:
            f.write(np.asarray(times, dtype=">f8").tobytes())
            f.write(raw.tobytes())
        else:
            f.write(raw.tobytes())
    return path


def write_geokey_tiff(
    path: str,
    width: int,
    height: int,
    origin: tuple[float, float],
    res: float,
    geokeys: list[tuple[int, int, int, int]],
    doubles: tuple = (),
    dtype: str = "<u2",
    nodata: float | None = None,
    values: np.ndarray | None = None,
    rows_per_strip: int | None = None,
    transform: tuple | None = None,
) -> np.ndarray:
    """Write a minimal uncompressed little-endian GeoTIFF of one band —
    the fixture builder for the GeoTIFF importer's CRS and warp paths.
    ``origin`` is the model coordinate of the top-left corner, ``res``
    the square pixel size, ``geokeys`` the GeoKey directory rows (the
    header row is added) with ``doubles`` as its GeoDoubleParams.
    ``values`` (height × width) default to a ramp modulo 777;
    ``nodata`` is written as GDAL_NODATA; ``rows_per_strip`` defaults
    to one strip. ``transform`` — a GDAL geotransform ``(ox, a, b, oy,
    c, d)``, rotation terms allowed — replaces ``origin``/``res`` with
    a ModelTransformation tag. Returns the stored array."""
    import struct

    from raquet_spark.sources.geotiff import _pack_ifd

    dt = np.dtype(dtype).newbyteorder("<")
    if values is None:
        values = np.arange(width * height, dtype=dt) % 777
    vals = np.asarray(values).astype(dt).reshape(height, width)
    data = vals.tobytes()
    rps = rows_per_strip or height
    row_bytes = width * dt.itemsize
    offs = list(range(8, 8 + len(data), rps * row_bytes))
    counts = [min(rps * row_bytes, 8 + len(data) - o) for o in offs]
    gk_rows = [(1, 1, 0, len(geokeys))] + list(geokeys)
    gk = b"".join(struct.pack("<H", v) for row in gk_rows for v in row)
    entries = [
        (256, 4, 1, width),
        (257, 4, 1, height),
        (258, 3, 1, dt.itemsize * 8),
        (259, 3, 1, 1),
        (262, 3, 1, 1),
        (273, 4, len(offs), struct.pack(f"<{len(offs)}I", *offs)),
        (277, 3, 1, 1),
        (278, 4, 1, rps),
        (279, 4, len(offs), struct.pack(f"<{len(offs)}I", *counts)),
        (339, 3, 1, {"u": 1, "i": 2, "f": 3}[dt.kind]),
        (34735, 3, len(gk) // 2, gk),
    ]
    if transform is None:
        entries += [
            (33550, 12, 3, struct.pack("<3d", res, res, 0.0)),
            (33922, 12, 6, struct.pack("<6d", 0, 0, 0, origin[0], origin[1], 0)),
        ]
    else:
        ox, a, b, oy, c, d = transform
        m = (a, b, 0, ox, c, d, 0, oy, 0, 0, 0, 0, 0, 0, 0, 1)
        entries.append((34264, 12, 16, struct.pack("<16d", *m)))
    if doubles:
        entries.append(
            (34736, 12, len(doubles), struct.pack(f"<{len(doubles)}d", *doubles))
        )
    if nodata is not None:
        nd = f"{nodata}\x00".encode()
        entries.append((42113, 2, len(nd), nd))
    ifd_off = 8 + len(data)
    with open(path, "wb") as f:
        f.write(b"II*\x00" + struct.pack("<I", ifd_off) + data)
        f.write(_pack_ifd(entries, ifd_off, 0))
    return vals


GEOKEYS_4326 = [(1024, 0, 1, 2), (1025, 0, 1, 1), (2048, 0, 1, 4326)]
