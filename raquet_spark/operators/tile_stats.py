"""Per-tile statistics columns (spec §Tile Statistics Columns,
/root/reference/format-specs/raquet.md:89-126).

Semantics mirror the reference numpy stats
(/root/reference/raquet/raster2raquet.py:525-574): population stddev,
NaN/Inf and nodata excluded; all-nodata tiles get NULL stats.

The importers' gather builder (``tiff_reader._fused_gather_tiles``)
computes the stats itself, on each tile it has in hand before encoding
it, with :func:`tile_stats_arrays` and :func:`stats_columns`.
:func:`with_tile_stats` serves everything else — the shuffled-hash
join and forward-map aggregate import branches, and re-stats after a
pyramid or retile: one Arrow-batched ``mapInPandas`` pass decodes each
tile once and emits all six stats per band. Everything downstream
(region stats, global metadata stats) is pure columnar aggregation
with no pixel decode — that's the spec's whole point for warehouse
engines, and at 100 TB the difference between scanning binary blobs
and scanning six DOUBLE columns is the difference between hours and
seconds.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from raquet_spark.core.metadata import TILE_STAT_NAMES, parse_nodata
from raquet_spark.functions.bands import decode_block

_FLOATY = (np.float16, np.float32, np.float64)


def tile_stats_arrays(values: np.ndarray, nodata) -> dict[str, float] | None:
    """Stats for one decoded tile; None when no valid pixels."""
    if values.dtype in _FLOATY:
        good = np.isfinite(values)
    else:
        good = np.ones(values.shape, dtype=bool)
    if nodata is not None and not (isinstance(nodata, float) and np.isnan(nodata)):
        good &= values != nodata
    valid = values[good]
    if valid.size == 0:
        return None
    vf = valid.astype("f8")
    return {
        "count": int(valid.size),
        "min": float(vf.min()),
        "max": float(vf.max()),
        "sum": float(vf.sum()),
        "mean": float(vf.mean()),
        "stddev": float(vf.std()),  # population, like reference numpy.ma std
    }


def stats_columns(name: str, stats: list[dict | None]) -> dict[str, pd.Series]:
    """The ``{name}_{stat}`` columns of one band from per-tile
    :func:`tile_stats_arrays` results (None: NULL stats, count too)."""
    return {
        f"{name}_{s}": pd.Series(
            [None if st is None else st[s] for st in stats],
            dtype="Int64" if s == "count" else "f8",
        )
        for s in TILE_STAT_NAMES
    }


def stats_schema(names: list[str]) -> str:
    """DDL of the ``{name}_{stat}`` columns, band-major."""
    return ", ".join(
        f"{name}_{s} {'bigint' if s == 'count' else 'double'}"
        for name in names
        for s in TILE_STAT_NAMES
    )


def with_tile_stats(df: DataFrame, metadata: dict) -> DataFrame:
    """Append ``{band}_{stat}`` columns for every band (sequential layout)."""
    from raquet_spark.session import ensure_package_shipped

    ensure_package_shipped(df.sparkSession)
    bands = [(b["name"], b["type"], parse_nodata(b.get("nodata"))) for b in metadata["bands"]]
    in_schema = df.schema

    def compute(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = pdf.copy()
            for name, btype, nodata in bands:
                out = out.assign(**stats_columns(name, [
                    None if blob is None
                    else tile_stats_arrays(decode_block(blob, btype), nodata)
                    for blob in pdf[name]
                ]))
            yield out

    schema = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in in_schema.fields)
    stat_fields = stats_schema([name for name, _, _ in bands])
    return df.mapInPandas(compute, schema=f"{schema}, {stat_fields}")


def aggregate_band_stats(df: DataFrame, band: str) -> DataFrame:
    """Exact global stats from per-tile stats columns — pure columnar agg.

    Pooled variance reconstructs per-tile sum-of-squares from
    (stddev, mean, count): ssq = (var + mean²)·count, so the global
    stddev is exact (vs. the reference's weighted-average approximation,
    raster2raquet.py:493).
    """
    c, mn, mx, sm = (F.col(f"{band}_{s}") for s in ("count", "min", "max", "sum"))
    ssq = (F.col(f"{band}_stddev") ** 2 + F.col(f"{band}_mean") ** 2) * c
    agg = df.agg(
        F.sum(c).alias("count"),
        F.min(mn).alias("min"),
        F.max(mx).alias("max"),
        F.sum(sm).alias("sum"),
        F.sum(ssq).alias("ssq"),
    )
    return agg.select(
        "count",
        "min",
        "max",
        "sum",
        (F.col("sum") / F.col("count")).alias("mean"),
        F.sqrt(
            F.greatest(
                F.col("ssq") / F.col("count") - (F.col("sum") / F.col("count")) ** 2, F.lit(0.0)
            )
        ).alias("stddev"),
    )
