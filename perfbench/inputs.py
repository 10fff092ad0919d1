"""Seeded input generators for the benchmark.

Every input is built in-process from ``--seed``: rasters through a small
GeoTIFF writer kept here (the library only writes GeoTIFF *from* RaQuet
tiles) and the library's own NetCDF writer, and the text and embedding
tables from numpy. Same seed, same bytes.
"""

from __future__ import annotations

import struct

import numpy as np

# GDAL-style nodata for SRTM-class int16 DEMs
DEM_NODATA = -32767
UTM_NODATA = 0


def write_geotiff(path, data, *, origin, pixel_size, epsg, nodata, rows_per_strip=1):
    """Uncompressed striped little-endian GeoTIFF of one band.

    ``origin`` is the model coordinate of the top-left corner and
    ``pixel_size`` the (x, y) cell size; ``epsg`` 4326 writes geographic
    geokeys, a UTM code projected ones. ``nodata`` goes to GDAL_NODATA."""
    data = np.ascontiguousarray(data)
    height, width = data.shape
    dt = data.dtype
    bits = dt.itemsize * 8
    fmt = {"i": 2, "u": 1, "f": 3}[dt.kind]
    raw = data.astype(dt.newbyteorder("<"), copy=False).tobytes()
    row_bytes = width * dt.itemsize
    n_strips = (height + rows_per_strip - 1) // rows_per_strip
    counts = [
        min(rows_per_strip, height - i * rows_per_strip) * row_bytes
        for i in range(n_strips)
    ]
    offsets = list(8 + np.concatenate([[0], np.cumsum(counts)[:-1]]).astype(int))

    if epsg == 4326:
        geokeys = [(1, 1, 0, 3), (1024, 0, 1, 2), (1025, 0, 1, 1), (2048, 0, 1, 4326)]
    else:
        geokeys = [(1, 1, 0, 3), (1024, 0, 1, 1), (1025, 0, 1, 1), (3072, 0, 1, epsg)]
    gk = b"".join(struct.pack("<H", v) for row in geokeys for v in row)
    nd = f"{nodata}\x00".encode()
    entries = [
        (256, 4, 1, struct.pack("<I", width)),
        (257, 4, 1, struct.pack("<I", height)),
        (258, 3, 1, struct.pack("<H", bits)),
        (259, 3, 1, struct.pack("<H", 1)),
        (262, 3, 1, struct.pack("<H", 1)),
        (273, 4, n_strips, struct.pack(f"<{n_strips}I", *offsets)),
        (277, 3, 1, struct.pack("<H", 1)),
        (278, 4, 1, struct.pack("<I", rows_per_strip)),
        (279, 4, n_strips, struct.pack(f"<{n_strips}I", *counts)),
        (339, 3, 1, struct.pack("<H", fmt)),
        (33550, 12, 3, struct.pack("<3d", pixel_size[0], pixel_size[1], 0.0)),
        (33922, 12, 6, struct.pack("<6d", 0, 0, 0, origin[0], origin[1], 0)),
        (34735, 3, len(gk) // 2, gk),
        (42113, 2, len(nd), nd),
    ]
    ifd_off = 8 + len(raw)
    ext_off = ifd_off + 2 + len(entries) * 12 + 4
    body, ext = b"", b""
    for tag, typ, cnt, val in entries:
        if len(val) <= 4:
            body += struct.pack("<HHI", tag, typ, cnt) + val.ljust(4, b"\x00")
        else:
            body += struct.pack("<HHII", tag, typ, cnt, ext_off + len(ext))
            ext += val + b"\x00" * (len(val) % 2)
    with open(path, "wb") as f:
        f.write(b"II*\x00" + struct.pack("<I", ifd_off))
        f.write(raw)
        f.write(struct.pack("<H", len(entries)) + body + struct.pack("<I", 0) + ext)
    return path


def _terrain(rng, height, width, base, relief):
    """Smooth separable terrain plus a little per-pixel noise (so tiles
    do not compress to nothing)."""
    y = np.arange(height, dtype=np.float64)[:, None]
    x = np.arange(width, dtype=np.float64)[None, :]
    p = rng.uniform(0, 2 * np.pi, 4)
    fx, fy = rng.uniform(2.0, 5.0, 2) * np.pi / max(height, width)
    z = (
        base
        + relief * np.sin(x * fx + p[0]) * np.cos(y * fy + p[1])
        + 0.3 * relief * np.sin((x + y) * 3 * fx + p[2])
    )
    return z + rng.integers(-4, 5, size=(height, width))


def _punch_voids(rng, arr, value, n):
    """Rectangular nodata voids, like SRTM radar shadows."""
    h, w = arr.shape
    for _ in range(n):
        vh, vw = rng.integers(h // 40 + 1, h // 12 + 2), rng.integers(w // 40 + 1, w // 12 + 2)
        y0, x0 = rng.integers(0, h - vh), rng.integers(0, w - vw)
        arr[y0:y0 + vh, x0:x0 + vw] = value


def write_dem_4326(path, seed, size):
    """SRTM-1 stand-in: EPSG:4326 int16 on a 1-arc-second grid whose
    top-left pixel is centred on (-123°, 38°), as in n37_w123. ``size``
    pixels per side (3601 covers one full degree)."""
    rng = np.random.default_rng([seed, 1])
    dem = _terrain(rng, size, size, 400.0, 350.0).astype(np.int16)
    _punch_voids(rng, dem, DEM_NODATA, 6)
    res = 1.0 / 3600.0
    return write_geotiff(
        path, dem, origin=(-123.0 - res / 2, 38.0 + res / 2),
        pixel_size=(res, res), epsg=4326, nodata=DEM_NODATA,
    )


def write_utm_32610(path, seed, size):
    """Projected EPSG:32610 uint16 raster at 30 m near San Francisco —
    the importer's warp-join path."""
    rng = np.random.default_rng([seed, 2])
    img = _terrain(rng, size, size, 2000.0, 1500.0).astype(np.uint16)
    _punch_voids(rng, img, UTM_NODATA, 3)
    return write_geotiff(
        path, img, origin=(550000.0, 4180000.0), pixel_size=(30.0, 30.0),
        epsg=32610, nodata=UTM_NODATA, rows_per_strip=16,
    )


NC_FILL = -999


def write_netcdf_3step(path, seed, nlat, nlon, steps=3):
    """Classic NetCDF, ``steps`` CF time steps of int16 with
    scale_factor / add_offset / _FillValue (the fused multi-step path)."""
    from raquet_spark.testing import write_netcdf_classic

    rng = np.random.default_rng([seed, 3])
    base = _terrain(rng, nlat, nlon, 0.0, 900.0)
    data = np.stack([base + 37 * t for t in range(steps)]).astype("<i2")
    for t in range(steps):
        _punch_voids(rng, data[t], NC_FILL, 2)
    return write_netcdf_classic(
        path,
        37.9875 - 0.0025 * np.arange(nlat),
        -123.0 + 0.0025 * np.arange(nlon),
        data,
        times=np.arange(steps, dtype="f8"),
        nc_type=3, scale_factor=0.5, add_offset=100.0, fill_value=NC_FILL,
    )


VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
LANGS = ["en", "en", "en", "zh", "es", "fr", "de"]


def make_documents(seed, n_base, copies, n_near):
    """``documents``-shaped rows: ``n_base`` seeded word-salad docs, then
    ``copies``-1 re-keyed copies of each (exact duplicates), then
    ``n_near`` planted near-duplicates of distinct base docs.

    Returns (pandas frame, planted list of (original_id, near_dup_id))."""
    import pandas as pd

    rng = np.random.default_rng([seed, 4])
    lens = rng.integers(6, 101, n_base)
    words = np.array(VOCAB)
    texts = [" ".join(words[rng.integers(0, len(VOCAB), n)]) for n in lens]
    n = n_base * copies
    all_texts = texts * copies
    src = rng.choice(n_base, n_near, replace=False)
    planted = []
    for k, i in enumerate(src):
        toks = all_texts[i].split()
        # replace 2-12 % of the words (at least one), so the planted
        # pairs spread over the MinHash LSH S-curve and recall is a
        # measured fraction rather than a constant
        n_swap = max(1, round(rng.uniform(0.02, 0.12) * len(toks)))
        for p in rng.choice(len(toks), n_swap, replace=False):
            toks[p] = VOCAB[rng.integers(0, len(VOCAB))]
        all_texts.append(" ".join(toks))
        planted.append((int(i), n + k))
    pdf = pd.DataFrame({
        "doc_id": np.arange(len(all_texts), dtype=np.int64),
        "text": all_texts,
        "lang": [LANGS[i % len(LANGS)] for i in range(len(all_texts))],
        "source": [f"src{i % 20}" for i in range(len(all_texts))],
    })
    pdf["n_chars"] = pdf["text"].str.len().astype(np.int64)
    return pdf, planted


def make_embeddings(seed, n, n_queries, dim=64, n_clusters=10):
    """``embeddings``-shaped rows: unit vectors around ``n_clusters``
    seeded centres, plus ``n_queries`` query vectors drawn the same way."""
    import pandas as pd

    rng = np.random.default_rng([seed, 5])
    centres = rng.normal(size=(n_clusters, dim))

    def draw(m):
        lab = rng.integers(0, n_clusters, m)
        v = centres[lab] + 1.2 * rng.normal(size=(m, dim))
        v /= np.linalg.norm(v, axis=1, keepdims=True)
        return v.astype(np.float32), lab

    vecs, lab = draw(n)
    qv, _ = draw(n_queries)
    cand = pd.DataFrame({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": list(vecs),
        "label": lab.astype(np.int32),
    })
    queries = pd.DataFrame({
        "vec_id": np.arange(n_queries, dtype=np.int64),
        "embedding": list(qv),
    })
    return cand, queries
