"""The workloads: raster and curate.

Each workload is one closed loop: a single client issues library calls
one after another. ``setup`` builds the seeded inputs and everything the
checks compare against; ``run_pass`` makes one fixed, seeded sequence of
calls (every call inside a tracer span) and returns what the checks and
metrics need; ``check`` compares one pass's outputs with independent
expectations and returns the failures.

Why these two: ``raster`` is the raster2raquet write path, where the
import layers do their work, followed by the lookups and export users
repeat against the finished table, so a writer change that slows scans
shows on its read layers; ``curate`` is the text / embedding side and
touches no raster layer, so every raster optimisation should leave it
unchanged.
"""

from __future__ import annotations

import glob
import hashlib
import json
import math
import os
import shutil
import statistics
import traceback

import numpy as np

import inputs

DIGESTS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "digests.json")
# convert inputs come in this many seeded variants (seed mod N), so the
# decoded-pixel digest of every output can be recorded ahead of time
CONVERT_VARIANTS = 8

# sizes per profile; "smoke" is the benchmark's own quick test. In the
# raster lookup mix, 1k-point batches are six of nine lookups, so the
# median and the 90th percentile both fall inside that (heaviest, least
# noisy) cluster instead of on the sub-second region-stats floor.
SIZES = {
    "full": {
        "dem": 901, "utm": 128, "nc": (300, 400),
        "regions": 2, "point_batches": 6, "points": 1000, "aggs": 1,
        "docs": 5000, "copies": 1, "near": 500, "junk": 200,
        "vecs": 2000, "queries": 200,
    },
    "smoke": {
        "dem": 241, "utm": 48, "nc": (40, 60),
        "regions": 3, "point_batches": 1, "points": 200, "aggs": 1,
        "docs": 50, "copies": 4, "near": 10, "junk": 5,
        "vecs": 300, "queries": 20,
    },
}
PYRAMID_LEVELS = 4


class Failures:
    """Calls attempted and the ones that raised or failed a check."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.messages: list[str] = []

    def fail(self, what: str, n: int = 1) -> None:
        self.failed += n
        self.messages.append(what)


def _guard(fails: Failures, what: str, n_calls: int, fn):
    """Run ``fn`` (``n_calls`` library calls); an exception fails them all."""
    fails.attempted += n_calls
    try:
        return fn()
    except Exception:  # one broken call must not stop the loop
        fails.fail(f"{what}: {traceback.format_exc(limit=3)}", n_calls)
        return None


def quantile(values, q):
    """Linear-interpolated quantile (0 <= q <= 1)."""
    v = sorted(values)
    if not v:
        return float("nan")
    pos = q * (len(v) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (pos - lo)


# -- web-mercator tile math, written here so checks stay independent ----

def _tile_x(lon: float, z: int) -> int:
    return int(math.floor((lon + 180.0) / 360.0 * (1 << z)))


def _tile_y(lat: float, z: int) -> int:
    s = math.sin(math.radians(lat))
    return int(math.floor((0.5 - math.log((1 + s) / (1 - s)) / (4 * math.pi)) * (1 << z)))


def _lonlat(gx: float, gy: float, world: float) -> tuple[float, float]:
    lon = gx / world * 360.0 - 180.0
    lat = math.degrees(math.atan(math.sinh(math.pi * (1 - 2 * gy / world))))
    return lon, lat


def _tile_range(bounds, z):
    w, s, e, n = bounds
    return _tile_x(w, z), _tile_y(n, z), _tile_x(e, z), _tile_y(s, z)


def _utm_inverse(x: float, y: float, zone: int) -> tuple[float, float]:
    """WGS84 UTM (north) → lon/lat, Snyder's series."""
    a, f, k0 = 6378137.0, 1 / 298.257223563, 0.9996
    e2 = f * (2 - f)
    ep2 = e2 / (1 - e2)
    e1 = (1 - math.sqrt(1 - e2)) / (1 + math.sqrt(1 - e2))
    x -= 500000.0
    mu = y / k0 / (a * (1 - e2 / 4 - 3 * e2 ** 2 / 64 - 5 * e2 ** 3 / 256))
    p = (mu + (1.5 * e1 - 27 * e1 ** 3 / 32) * math.sin(2 * mu)
         + (21 * e1 ** 2 / 16 - 55 * e1 ** 4 / 32) * math.sin(4 * mu)
         + (151 * e1 ** 3 / 96) * math.sin(6 * mu)
         + (1097 * e1 ** 4 / 512) * math.sin(8 * mu))
    c1, t1 = ep2 * math.cos(p) ** 2, math.tan(p) ** 2
    n1 = a / math.sqrt(1 - e2 * math.sin(p) ** 2)
    r1 = a * (1 - e2) / (1 - e2 * math.sin(p) ** 2) ** 1.5
    d = x / (n1 * k0)
    lat = p - (n1 * math.tan(p) / r1) * (
        d ** 2 / 2 - (5 + 3 * t1 + 10 * c1 - 4 * c1 ** 2 - 9 * ep2) * d ** 4 / 24
        + (61 + 90 * t1 + 298 * c1 + 45 * t1 ** 2 - 252 * ep2 - 3 * c1 ** 2) * d ** 6 / 720)
    lon = (d - (1 + 2 * t1 + c1) * d ** 3 / 6
           + (5 - 2 * c1 + 28 * t1 - 3 * c1 ** 2 + 8 * ep2 + 24 * t1 ** 2) * d ** 5 / 120) / math.cos(p)
    return -183.0 + 6 * zone + math.degrees(lon), math.degrees(lat)


def _canonical(values: np.ndarray) -> np.ndarray:
    """Decoded values with -0.0 folded into +0.0 and one NaN pattern,
    so the digest follows values, not encodings."""
    if values.dtype.kind == "f":
        values = np.where(values == 0, 0, values).astype(values.dtype)
        values[np.isnan(values)] = np.nan
    return values


def _read_tiles(path: str):
    """Tile rows of a written RaQuet dataset, read with pyarrow."""
    import pyarrow.parquet as pq

    return pq.read_table(path).to_pandas()


def _zoom_of(block: int) -> int:
    return (int(block) >> 52) & 0x1F


def _size_bytes(path: str) -> int:
    return sum(os.path.getsize(p) for p in glob.glob(os.path.join(path, "*.parquet")))


# ---------------------------------------------------------------------------


class Convert:
    """raster2raquet: import with stats → write, for a fused-path
    GeoTIFF (plus a 4-level pyramid), a fused multi-step NetCDF and a
    warp-join projected GeoTIFF."""

    # one ~20 s pass already spans many calls
    min_passes = 1

    def __init__(self, spark, work, seed, profile):
        self.spark, self.work, self.seed, self.profile = spark, work, seed, profile
        self.size = SIZES[profile]
        self.variant = seed % CONVERT_VARIANTS
        self.pass_no = 0

    def setup(self):
        from raquet_spark.sources.netcdf import netcdf_to_raquet
        from raquet_spark.sources.tiff_reader import geotiff_to_raquet

        d = os.path.join(self.work, "inputs")
        os.makedirs(d, exist_ok=True)
        sz, v = self.size, self.variant
        nlat, nlon = sz["nc"]
        res = 1.0 / 3600.0
        dem_w = -123.0 - res / 2
        dem_n = 38.0 + res / 2
        step = 0.0025
        utm_x1 = 550000.0 + 30.0 * sz["utm"]
        utm_y0 = 4180000.0 - 30.0 * sz["utm"]
        utm_corners = [
            _utm_inverse(x, y, 10)
            for x in (550000.0, utm_x1) for y in (4180000.0, utm_y0)
        ]
        self.inputs = [
            {
                "name": "n37_standin", "path": "fused", "layer": "sources.tiff_reader",
                "fn": geotiff_to_raquet,
                "file": inputs.write_dem_4326(f"{d}/n37_standin.tif", v, sz["dem"]),
                "px": sz["dem"] ** 2, "steps": 1, "itemsize": 2, "levels": PYRAMID_LEVELS,
                "bounds": (dem_w, dem_n - sz["dem"] * res, dem_w + sz["dem"] * res, dem_n),
            },
            {
                "name": "netcdf_3step", "path": "fused", "layer": "sources.netcdf",
                "fn": netcdf_to_raquet,
                "file": inputs.write_netcdf_3step(f"{d}/netcdf_3step.nc", v, nlat, nlon),
                "px": nlat * nlon, "steps": 3, "itemsize": 2, "levels": 0,
                "bounds": (-123.0 - step / 2, 37.9875 - step * (nlat - 1) - step / 2,
                           -123.0 + step * (nlon - 1) + step / 2, 37.9875 + step / 2),
            },
            {
                "name": "utm_32610", "path": "join", "layer": "sources.tiff_reader",
                "fn": geotiff_to_raquet,
                "file": inputs.write_utm_32610(f"{d}/utm_32610.tif", v, sz["utm"]),
                "px": sz["utm"] ** 2, "steps": 1, "itemsize": 2, "levels": 0,
                "bounds": (min(c[0] for c in utm_corners), min(c[1] for c in utm_corners),
                           max(c[0] for c in utm_corners), max(c[1] for c in utm_corners)),
            },
        ]
        self.src_mpx = sum(i["px"] * i["steps"] for i in self.inputs) / 1e6
        self.src_bytes = sum(i["px"] * i["steps"] * i["itemsize"] for i in self.inputs)
        self.recorded = {}
        if os.path.exists(DIGESTS):
            with open(DIGESTS) as f:
                self.recorded = json.load(f).get(self.profile, {})

    def run_pass(self, tr, fails, evidence=False, warmup=False):
        out_dir = os.path.join(self.work, "out", f"pass{self.pass_no}")
        self.pass_no += 1
        rec = {"outputs": {}, "conversions": [], "plans": {}}
        for inp in self.inputs:
            def convert(inp=inp):
                from raquet_spark.operators.pyramid import build_pyramid
                from raquet_spark.sources.raquet import write_raquet

                t = 0.0
                with tr.span(inp["layer"], inp["name"], path=inp["path"]) as s:
                    tiles, meta = inp["fn"](self.spark, inp["file"], stats=True)
                t += s["wall_s"]
                if evidence:
                    rec["plans"][inp["name"]] = _plan_evidence(tiles)
                z = meta["tiling"]["max_zoom"]
                pyr, pmeta = tiles, meta
                if inp["levels"]:
                    with tr.span("operators.pyramid", inp["name"], path=inp["path"]) as s:
                        pyr, pmeta = build_pyramid(tiles, meta, min_zoom=z - inp["levels"])
                    t += s["wall_s"]
                out = os.path.join(out_dir, inp["name"] + ".parquet")
                with tr.span("sources.raquet.write", inp["name"], path=inp["path"]) as s:
                    write_raquet(pyr, out, pmeta)
                t += s["wall_s"]
                rec["conversions"].append(t)
                return out, z

            res = _guard(fails, f"convert {inp['name']}", 3 if inp["levels"] else 2, convert)
            if res is not None:
                rec["outputs"][inp["name"]] = res
        return rec

    def digests(self, rec):
        """{input: {zoom: sha256 of decoded values}} for one pass."""
        out = {}
        for name, (path, _) in rec["outputs"].items():
            pdf = _read_tiles(path)
            out[name] = _digest_tiles(pdf[pdf["block"] != 0], self._band_info(pdf))
        return out

    @staticmethod
    def _band_info(pdf):
        meta = json.loads(pdf.loc[pdf["block"] == 0, "metadata"].iloc[0])
        return meta["bands"][0]["type"], meta["bands"][0].get("nodata")

    def check(self, rec, fails, full=False):
        """Tile counts per zoom against the covering tiles of the source
        bounds, per-tile stats against the decoded pixels, and the
        decoded-pixel digest per zoom against the recorded one;
        ``full`` adds ``validate_raquet``."""
        from raquet_spark.functions.bands import decode_block
        from raquet_spark.sources.validate import validate_raquet

        recorded = self.recorded.get(str(self.variant), {})
        for inp in self.inputs:
            name = inp["name"]
            if name not in rec["outputs"]:
                continue
            path, z = rec["outputs"][name]
            pdf = _read_tiles(path)
            btype, nodata = self._band_info(pdf)
            tiles = pdf[pdf["block"] != 0]
            zooms = tiles["block"].map(_zoom_of)
            steps = inp["steps"]
            x0, y0, x1, y1 = _tile_range(inp["bounds"], z)
            for k in range(inp["levels"] + 1):
                want = ((x1 >> k) - (x0 >> k) + 1) * ((y1 >> k) - (y0 >> k) + 1) * steps
                got = int((zooms == z - k).sum())
                if got != want:
                    fails.fail(f"{name}: {got} tiles at z{z - k}, covering tiles {want}")
            native = tiles[zooms == z]
            nd = None if nodata is None else float(nodata)
            for blob, cnt, mn, mx, sm in zip(
                native["band_1"], native["band_1_count"], native["band_1_min"],
                native["band_1_max"], native["band_1_sum"],
            ):
                v = decode_block(blob, btype).astype(np.float64)
                v = v[~np.isnan(v)] if nd is None or math.isnan(nd) else v[(v != nd) & ~np.isnan(v)]
                if (cnt or 0) != v.size or (v.size and not (
                    mn == v.min() and mx == v.max() and math.isclose(sm, v.sum(), rel_tol=1e-9, abs_tol=1e-6)
                )):
                    fails.fail(f"{name}: tile stats differ from decoded pixels")
                    break
            want_digest = recorded.get(name)
            got_digest = _digest_tiles(tiles, (btype, nodata))
            if want_digest is None:
                fails.fail(f"{name}: no digest recorded for variant {self.variant}")
            elif got_digest != want_digest:
                fails.fail(f"{name}: decoded-pixel digest differs from the recorded one")
            if full:
                res = validate_raquet(self.spark, path)
                if not res.is_valid:
                    fails.fail(f"{name}: validate_raquet: {res.errors}")

    def stored_ratio(self, rec):
        return sum(_size_bytes(p) for p, _ in rec["outputs"].values()) / self.src_bytes

    def cleanup(self, rec):
        for path, _ in rec["outputs"].values():
            shutil.rmtree(path, ignore_errors=True)


def _digest_tiles(tiles, band):
    btype, _ = band
    from raquet_spark.functions.bands import decode_block

    by_zoom: dict[str, "hashlib._Hash"] = {}
    keys = ["block"] + (["time_cf"] if "time_cf" in tiles.columns else [])
    for row in tiles.sort_values(keys).itertuples(index=False):
        z = str(_zoom_of(row.block))
        h = by_zoom.setdefault(z, hashlib.sha256())
        h.update(int(row.block).to_bytes(8, "little"))
        if "time_cf" in keys:
            h.update(np.float64(row.time_cf).tobytes())
        h.update(_canonical(decode_block(row.band_1, btype).copy()).tobytes())
    return {z: h.hexdigest() for z, h in sorted(by_zoom.items())}


def _plan_evidence(df):
    """Strategy evidence from the planned (not yet executed) plan."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return {
        "join": any(j in plan for j in ("HashJoin", "SortMergeJoin", "NestedLoopJoin")),
        "broadcast": "BroadcastExchange" in plan or "BroadcastHashJoin" in plan,
        "exchanges": plan.count("Exchange"),
        "map_in_pandas": "MapInPandas" in plan,
    }


# ---------------------------------------------------------------------------


class Raster(Convert):
    """Convert, then query the finished n37 stand-in table as users do
    again and again: region stats over seeded bboxes, 1k-point value
    batches and a band aggregate (the lookups), then a GeoTIFF export.
    The read path reads what this pass's writer just wrote."""

    table = "n37_standin"

    def run_pass(self, tr, fails, evidence=False, warmup=False):
        rec = super().run_pass(tr, fails, evidence)
        rec.update(exports=[], results=[], requests=[])
        if self.table not in rec["outputs"]:
            return rec
        path, z = rec["outputs"][self.table]
        if self.pass_no == 1:  # the requests depend on the table's extent
            self._make_requests(path, z)
        self._query(tr, fails, rec, path, z, warmup)
        return rec

    def _make_requests(self, path, z):
        """Seeded bboxes and point batches inside the native tile extent;
        every bbox edge and point sits on a pixel centre, so no tile or
        pixel boundary is ambiguous."""
        import pandas as pd

        rng = np.random.default_rng([self.seed, 10])
        sz = self.size
        meta = json.loads(_read_tiles(path).query("block == 0")["metadata"].iloc[0])
        bs = meta["tiling"]["block_width"]
        x0, y0, x1, y1 = _tile_range(
            next(i["bounds"] for i in self.inputs if i["name"] == self.table), z)
        nx, ny = x1 - x0 + 1, y1 - y0 + 1
        world = float((1 << z) * bs)
        self.extent = (x0, y0, nx, ny, bs)
        reqs = []
        w_t, h_t = min(2, nx), min(2, ny)  # one bbox size, so seeds compare
        for _ in range(sz["regions"]):
            tx0, ty0 = x0 + int(rng.integers(0, nx - w_t + 1)), y0 + int(rng.integers(0, ny - h_t + 1))
            west, north = _lonlat(tx0 * bs + 0.5 + rng.integers(0, bs), ty0 * bs + 0.5 + rng.integers(0, bs), world)
            east, south = _lonlat((tx0 + w_t - 1) * bs + 0.5 + rng.integers(0, bs),
                                  (ty0 + h_t - 1) * bs + 0.5 + rng.integers(0, bs), world)
            reqs.append(("region", (west, south, east, north), (tx0, ty0, w_t, h_t)))
        for _ in range(sz["point_batches"]):
            gx = rng.integers(x0 * bs, (x0 + nx) * bs, sz["points"])
            gy = rng.integers(y0 * bs, (y0 + ny) * bs, sz["points"])
            pts = [_lonlat(x + 0.5, y + 0.5, world) for x, y in zip(gx, gy)]
            df = self.spark.createDataFrame(pd.DataFrame({
                "pid": np.arange(len(pts), dtype=np.int64),
                "lon": [p[0] for p in pts], "lat": [p[1] for p in pts],
            }))
            reqs.append(("points", df, (gx - x0 * bs, gy - y0 * bs)))
        reqs += [("aggregate", None, None)] * sz["aggs"]
        self.requests = [reqs[i] for i in rng.permutation(len(reqs))]

    def _query(self, tr, fails, rec, path, z, warmup):
        from raquet_spark.operators.point_query import raster_value
        from raquet_spark.operators.region_stats import region_stats
        from raquet_spark.operators.tile_stats import aggregate_band_stats
        from raquet_spark.sources.geotiff import write_geotiff
        from raquet_spark.sources.raquet import read_raquet, read_raquet_metadata

        spark = self.spark
        state = {}

        def open_table():
            with tr.span("sources.raquet.read", "read_raquet_metadata"):
                state["meta"] = read_raquet_metadata(spark, path)

        _guard(fails, "read_raquet_metadata", 1, open_table)
        meta = state.get("meta")
        if meta is None:
            return
        requests = self.requests
        if warmup:  # every code path once
            requests = [r for i, r in enumerate(requests)
                        if r[0] not in {q[0] for q in requests[:i]}]
        out_dir = os.path.dirname(path)
        for kind, arg, want in requests + [("geotiff", None, None)]:
            t = {"wall": 0.0}

            def timed(layer, op, fn):
                with tr.span(layer, op) as s:
                    r = fn()
                t["wall"] += s["wall_s"]
                return r

            def request(kind=kind, arg=arg):
                if kind == "region":
                    df = timed("sources.raquet.read", "read_raquet",
                               lambda: read_raquet(spark, path, bbox=arg, zoom=z))
                    return timed("operators.region_stats", "region_stats",
                                 lambda: region_stats(df, meta, arg).collect()[0].asDict())
                df = timed("sources.raquet.read", "read_raquet", lambda: read_raquet(spark, path))
                if kind == "points":
                    return timed("operators.point_query", "raster_value",
                                 lambda: raster_value(df, arg, meta).select("pid", "value").toPandas())
                if kind == "aggregate":
                    native = df.where(f"(block >> 52) & 31 = {z}")
                    return timed("operators.tile_stats", "aggregate_band_stats",
                                 lambda: aggregate_band_stats(native, "band_1").collect()[0].asDict())
                out = os.path.join(out_dir, "export.tif")
                timed("sources.geotiff", "write_geotiff", lambda: write_geotiff(df, meta, out))
                return out

            res = _guard(fails, f"{kind} request", 2, request)
            if kind == "geotiff":
                rec["exports"].append(t["wall"])
            else:
                rec["requests"].append(t["wall"])
            rec["results"].append((kind, want, res))

    def check(self, rec, fails, full=False):
        """The conversion checks, then every lookup against numpy over
        the decoded native tiles of the (digest-checked) table, and every
        export read back against the mosaic of those tiles."""
        super().check(rec, fails, full)
        if self.table not in rec["outputs"] or not rec["results"]:
            return
        from raquet_spark.functions.bands import decode_block
        from raquet_spark.sources.geotiff import read_geotiff

        path, z = rec["outputs"][self.table]
        pdf = _read_tiles(path)
        btype, nodata = self._band_info(pdf)
        x0, y0, nx, ny, bs = self.extent
        mosaic = np.full((ny * bs, nx * bs), float(nodata))
        for blk, blob in zip(pdf["block"], pdf["band_1"]):
            if blk == 0 or _zoom_of(blk) != z:
                continue
            tx, ty = _tile_xy(blk)
            mosaic[(ty - y0) * bs:(ty - y0 + 1) * bs, (tx - x0) * bs:(tx - x0 + 1) * bs] = (
                decode_block(blob, btype).reshape(bs, bs))
        valid = mosaic != float(nodata)

        def stats(window):
            v = mosaic[window][valid[window]]
            if not v.size:
                return {"count": 0}
            return {"count": v.size, "min": v.min(), "max": v.max(), "sum": v.sum()}

        for kind, want, res in rec["results"]:
            if res is None:
                continue
            if kind in ("region", "aggregate"):
                if kind == "region":
                    tx0, ty0, w_t, h_t = want
                    want = stats((slice((ty0 - y0) * bs, (ty0 - y0 + h_t) * bs),
                                  slice((tx0 - x0) * bs, (tx0 - x0 + w_t) * bs)))
                else:
                    want = stats((slice(None), slice(None)))
                ok = (res["count"] or 0) == 0 if want["count"] == 0 else (
                    res["count"] == want["count"] and res["min"] == want["min"]
                    and res["max"] == want["max"]
                    and math.isclose(res["sum"], want["sum"], rel_tol=1e-9)
                    and math.isclose(res["mean"], want["sum"] / want["count"], rel_tol=1e-9)
                )
                if not ok:
                    fails.fail(f"{kind}: {res} != numpy {want}")
            elif kind == "points":
                px, py = want
                exp = np.where(valid[py, px], mosaic[py, px], np.nan)
                got = res.sort_values("pid")["value"].to_numpy(dtype=np.float64)
                if not np.array_equal(got, exp, equal_nan=True):
                    fails.fail("raster_value differs from numpy over the decoded tiles")
            else:
                arr, _ = read_geotiff(res)
                if not np.array_equal(arr[:, :, 0], mosaic):
                    fails.fail("GeoTIFF export does not read back equal to the mosaic")

    def figures(self, recs):
        """Workload figures over the timed passes, and notes."""
        _, _, nx, ny, bs = self.extent
        requests = [x for rec in recs for x in rec["requests"]]
        med = statistics.median
        return {
            "workload.convert_src_mpx_per_s": med(self.src_mpx / sum(r["conversions"]) for r in recs),
            "workload.stored_bytes_per_src_byte": self.stored_ratio(recs[-1]),
            "workload.lookup_p50_s": quantile(requests, 0.5),
            "workload.lookup_p90_s": quantile(requests, 0.9),
            "workload.lookup_samples": float(len(requests)),
            "workload.export_mpx_per_s": med(nx * ny * bs * bs / 1e6 / sum(r["exports"]) for r in recs),
        }, {}

    def layer_figures(self, spans):
        """Parquet rows read by region_stats per tile its bboxes hit."""
        hits = sum(want[2] * want[3] for kind, _, want in self.requests if kind == "region")
        rows = sum(s["input_rows"] for s in spans if s["layer"] == "operators.region_stats")
        return {"operators.region_stats.rows_read_per_tile_hit": rows / hits}


def _tile_xy(block: int) -> tuple[int, int]:
    """Tile x, y of a quadbin cell id (de-interleaved Morton bits)."""
    z = _zoom_of(block)
    m = (int(block) & ((1 << 52) - 1)) >> (52 - 2 * z)
    x = y = 0
    for i in range(z):
        x |= ((m >> (2 * i)) & 1) << i
        y |= ((m >> (2 * i + 1)) & 1) << i
    return x, y


# ---------------------------------------------------------------------------


class Curate:
    """LLM-data side: quality filter → exact dedup → MinHash pairs →
    keep-cluster-min over documents, and LSH / IVF top-10 over
    embeddings."""

    k = 10
    min_quality = 0.5
    # a ~10 s pass of six calls, and the first timed pass still costs
    # ~20 % more CPU than the later ones (JIT): the median of three
    min_passes = 3

    def __init__(self, spark, work, seed, profile):
        self.spark, self.work, self.seed, self.profile = spark, work, seed, profile
        self.size = SIZES[profile]

    def setup(self):
        import pandas as pd
        import pyarrow as pa
        import pyarrow.parquet as pq

        sz = self.size
        docs, self.planted = inputs.make_documents(self.seed, sz["docs"], sz["copies"], sz["near"])
        # junk rows the quality filter must drop: a few long
        # punctuation-heavy tokens score ~0.1, every other row >= 0.65
        rng = np.random.default_rng([self.seed, 6])
        junk_ids = np.arange(len(docs), len(docs) + sz["junk"], dtype=np.int64)
        junk = pd.DataFrame({
            "doc_id": junk_ids,
            "text": [" ".join(["zzzzzzzzzzzzzzzz!!!!??"] * int(rng.integers(2, 6))) + f" {i}"
                     for i in range(sz["junk"])],
            "lang": "en", "source": "junk",
        })
        junk["n_chars"] = junk["text"].str.len().astype(np.int64)
        docs = pd.concat([docs, junk], ignore_index=True)
        self.n_docs = len(docs)
        self.want_kept = self.n_docs - sz["junk"]
        self.want_exact = int(docs.loc[docs["source"] != "junk", "text"].nunique())
        # the first copy of each distinct text has the smallest id
        first = docs[docs["source"] != "junk"].drop_duplicates("text")
        near_ids = {b for _, b in self.planted}
        self.must_keep = set(first["doc_id"]) - near_ids
        d = os.path.join(self.work, "inputs")
        os.makedirs(d, exist_ok=True)
        pq.write_table(pa.Table.from_pandas(docs, preserve_index=False), f"{d}/documents.parquet")
        cand, queries = inputs.make_embeddings(self.seed, sz["vecs"], sz["queries"])
        pq.write_table(pa.Table.from_pandas(cand, preserve_index=False), f"{d}/embeddings.parquet")
        pq.write_table(pa.Table.from_pandas(queries, preserve_index=False), f"{d}/queries.parquet")
        self.docs = self.spark.read.parquet(f"{d}/documents.parquet")
        self.cands = self.spark.read.parquet(f"{d}/embeddings.parquet")
        self.queries = self.spark.read.parquet(f"{d}/queries.parquet")

        # exact top-k truth from numpy: cosine over float64 copies
        c = np.stack(cand["embedding"].to_numpy()).astype(np.float64)
        q = np.stack(queries["embedding"].to_numpy()).astype(np.float64)
        sims = (q / np.linalg.norm(q, axis=1, keepdims=True)) @ (c / np.linalg.norm(c, axis=1, keepdims=True)).T
        top = np.argsort(-sims, axis=1)[:, : self.k]
        self.truth = {(int(qi), int(ci)) for qi in range(len(q)) for ci in top[qi]}
        self.n_queries = sz["queries"]

    def run_pass(self, tr, fails, evidence=False, warmup=False):
        from raquet_spark.operators.dedup import exact_dedup, keep_cluster_min, minhash_dedup_pairs
        from raquet_spark.operators.similarity import ann_ivf, ann_lsh
        from raquet_spark.operators.textops import with_quality_score

        rec = {"requests": [], "chain_s": 0.0, "ann_s": 0.0}

        def step(layer, op, fn, bucket):
            def call():
                with tr.span(layer, op) as s:
                    r = fn()
                rec["requests"].append(s["wall_s"])
                rec[bucket] += s["wall_s"]
                return r
            return _guard(fails, op, 1, call)

        kept = step("operators.textops", "with_quality_score", lambda: with_quality_score(self.docs)
                    .where(f"quality_score >= {self.min_quality}").select("doc_id", "text")
                    .localCheckpoint(eager=True), "chain_s")
        if kept is not None:
            rec["kept"] = kept.count()
            uniq = step("operators.dedup", "exact_dedup",
                        lambda: exact_dedup(kept).localCheckpoint(eager=True), "chain_s")
            if uniq is not None:
                rec["exact"] = uniq.count()
                pairs = step("operators.dedup", "minhash_dedup_pairs", lambda: minhash_dedup_pairs(
                    uniq, auto_width=True, collapse_identical=True), "chain_s")
                if pairs is not None:
                    final = step("operators.dedup", "keep_cluster_min", lambda: keep_cluster_min(
                        uniq, pairs, auto_width=True).select("doc_id").toPandas(), "chain_s")
                    if final is not None:
                        rec["final"] = set(final["doc_id"].tolist())
        for op, fn in (("ann_lsh", ann_lsh), ("ann_ivf", ann_ivf)):
            res = step("operators.similarity", op, lambda fn=fn: fn(
                self.cands, self.queries, k=self.k).select("query_id", "cand_id").toPandas(), "ann_s")
            if res is not None:
                rec[op] = res
        return rec

    def check(self, rec, fails, full=False):
        if rec.get("kept") not in (None, self.want_kept):
            fails.fail(f"quality filter kept {rec['kept']}, want {self.want_kept}")
        if rec.get("exact") not in (None, self.want_exact):
            fails.fail(f"exact_dedup kept {rec['exact']}, want {self.want_exact}")
        for op in ("ann_lsh", "ann_ivf"):
            res = rec.get(op)
            if res is not None and (res.groupby("query_id").size() > self.k).any():
                fails.fail(f"{op} returned more than k={self.k} rows for a query")

    def figures(self, recs):
        """Workload figures over the timed passes, and notes."""
        last = recs[-1]
        med = statistics.median
        out = {
            "workload.curate_docs_per_s": med(self.n_docs / r["chain_s"] for r in recs),
            "workload.ann_queries_per_s": med(2 * self.n_queries / r["ann_s"] for r in recs),
        }
        notes = {}
        final = last.get("final")
        if final is not None:
            out["workload.dedup_recall"] = (
                sum(1 for _, b in self.planted if b not in final) / len(self.planted))
            # MinHash LSH candidates are not verified, so unrelated docs
            # can share a band: recorded, not checked
            notes["dedup_false_removals"] = len(self.must_keep - final)
        found = [last[op] for op in ("ann_lsh", "ann_ivf") if op in last]
        if found:
            hits = sum(len(self.truth & set(zip(r["query_id"], r["cand_id"]))) for r in found)
            out["workload.ann_recall_at_10"] = hits / (len(self.truth) * len(found))
        return out, notes

    def layer_figures(self, spans):
        return {}

    def cleanup(self, rec):
        pass


WORKLOADS = {"raster": Raster, "curate": Curate}
