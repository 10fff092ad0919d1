"""Point queries: pixel value at lon/lat (reference ST_RasterValue
semantics, format-specs/raquet.md:304-309).

Spark-first: the lookup is a *co-group*, not a per-point loop — a
DataFrame of points is mapped to its containing block cell and in-tile
pixel offset (pure quadbin Column math, usable for millions of points),
then points and the tiles of the lookup zoom are co-grouped on
``block``. Each group decodes its tile once and gathers every point's
value with one numpy fancy index, so a tile crosses into Python once
per query however many points hit it, and no blob is broadcast or
repeated per point. Arrow carries the point columns through untouched,
so their types round-trip exactly. Zoom clamping follows the spec:
requests outside [min_zoom, max_zoom] clamp to the nearest available
level.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, StructField, StructType

from raquet_spark.core.metadata import parse_nodata
from raquet_spark.functions import quadbin as qb
from raquet_spark.functions.bands import decode_block


def raster_value(
    tiles: DataFrame,
    points: DataFrame,
    metadata: dict,
    lon_col: str = "lon",
    lat_col: str = "lat",
    zoom: int | None = None,
    band: str | None = None,
) -> DataFrame:
    """Append ``value`` (double) for each point row; NULL when no tile
    covers the point (sparse dataset), lon or lat is NULL, or the pixel
    is nodata or NaN. A block with k rows (time steps) yields k rows per
    point, one per step."""
    from raquet_spark.session import ensure_package_shipped

    ensure_package_shipped(tiles.sparkSession)
    t = metadata["tiling"]
    z = t["max_zoom"] if zoom is None else max(min(zoom, t["max_zoom"]), t["min_zoom"])
    bw, bh = t["block_width"], t["block_height"]
    band_meta = metadata["bands"][0] if band is None else next(
        b for b in metadata["bands"] if b["name"] == band
    )
    bname, btype = band_meta["name"], band_meta["type"]
    nodata = parse_nodata(band_meta.get("nodata"))

    # pixel zoom relative to the block grid: 2^z tiles × bw pixels each
    pts = points.withColumn("_pt_block", F.expr(qb.point_to_cell_sql(lon_col, lat_col, z, "spark")))

    # global pixel coordinates (floor of mercator fraction × world
    # pixels), reduced to the row-major offset inside the tile
    m = f"CAST({1 << z} AS DOUBLE)"
    clat = f"greatest(least(CAST({lat_col} AS DOUBLE), {qb.MAX_LAT}), {-qb.MAX_LAT})"
    sinlat = f"sin({clat} * pi() / 180.0)"
    xf = f"(CAST({lon_col} AS DOUBLE) / 360.0 + 0.5)"
    yf = f"(0.5 - 0.25 * ln((1.0 + {sinlat}) / (1.0 - {sinlat})) / pi())"
    px = f"(CAST(floor({xf} * {m} * {bw}) AS BIGINT) % {bw})"
    py = f"(CAST(floor({yf} * {m} * {bh}) AS BIGINT) % {bh})"
    pts = pts.withColumn("_pt_off", F.expr(f"{py} * {bw} + {px}"))

    lv = (
        tiles.where(F.expr(qb.cell_to_zoom_sql("block", "spark")) == z)
        .select(F.col("block").alias("_pt_block"), F.col(bname).alias("_blob"))
    )
    # a caller's own ``value`` column is replaced, as by withColumn
    out_cols = [c for c in points.columns if c != "value"]
    schema = StructType(
        [points.schema[c] for c in out_cols] + [StructField("value", DoubleType())]
    )

    def lookup(pt: pa.Table, tl: pa.Table) -> pa.Table:
        # one group = one block: its points and its k tile rows. The
        # points come back once per tile row (k = 0: once, value NULL)
        rows = pt.select(out_cols)
        if not pt.num_rows:
            return rows.append_column("value", pa.nulls(0, pa.float64()))
        off = pt.column("_pt_off")
        missing = off.is_null().to_numpy(zero_copy_only=False)
        idx = pc.fill_null(off, 0).to_numpy()
        out = []
        for blob in tl.column("_blob").to_pylist() or [None]:
            if blob is None:
                vals = pa.nulls(pt.num_rows, pa.float64())
            else:
                v = decode_block(blob, btype)[idx].astype("f8")
                bad = missing | np.isnan(v)
                if nodata is not None:
                    bad |= v == nodata
                vals = pa.array(v, mask=bad)
            out.append(rows.append_column("value", vals))
        return pa.concat_tables(out)

    return (
        pts.groupBy("_pt_block")
        .cogroup(lv.groupBy("_pt_block"))
        .applyInArrow(lookup, schema=schema)
    )

