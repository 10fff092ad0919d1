"""Malformed classic NetCDF headers fail in `read_netcdf_structure`,
before the import planner sizes any work by the header's dimensions:
bad list tags, truncation, counts the remaining bytes cannot hold,
out-of-range dimension ids, a ``vsize`` that disagrees with the shape
and data running past the end of the file each raise ValueError —
also under ``python -O``, which strips asserts."""

from __future__ import annotations

import os
import struct
import subprocess
import sys

import numpy as np
import pytest

from raquet_spark.sources.netcdf import read_netcdf_structure
from raquet_spark.testing import write_netcdf_classic

NLAT, NLON, NT = 3, 4, 2

# CDF-1 layout of the fixture header (big-endian 32-bit fields):
# magic, numrecs, dimension list (time/lat/lon, 12 bytes each), empty
# global attributes, then the variable list starting with ``lat``
NUMRECS, DIM_TAG, NDIMS, DIM0_NAME_LEN = 4, 8, 12, 16
GATT_TAG, GATT_COUNT, VAR_TAG, NVARS = 52, 56, 60, 64
LAT_DIMID, LAT_TYPE, LAT_VSIZE, LAT_BEGIN = 80, 128, 132, 136


def _nc(tmp_path, record_time=True, version=1, name="h.nc"):
    path = str(tmp_path / name)
    data = np.arange(NT * NLAT * NLON, dtype="i2").reshape(NT, NLAT, NLON)
    write_netcdf_classic(
        path, np.linspace(38.0, 37.0, NLAT), np.linspace(-123.0, -122.0, NLON),
        data, times=np.arange(NT, dtype="f8"), nc_type=3,
        record_time=record_time, version=version,
    )
    return path


def _patch(path, off, value):
    raw = bytearray(open(path, "rb").read())
    struct.pack_into(">I", raw, off, value)
    open(path, "wb").write(bytes(raw))


def _u32(path, off):
    return struct.unpack_from(">I", open(path, "rb").read(), off)[0]


def test_fixture_layout(tmp_path):
    """The patch offsets above point where this file says they do."""
    path = _nc(tmp_path)
    assert [_u32(path, o) for o in (NUMRECS, DIM_TAG, NDIMS, GATT_TAG, VAR_TAG, NVARS)] == [
        NT, 0x0A, 3, 0, 0x0B, 4,
    ]
    assert (_u32(path, LAT_DIMID), _u32(path, LAT_TYPE), _u32(path, LAT_VSIZE)) == (
        1, 6, NLAT * 8,
    )


@pytest.mark.parametrize("record_time", [True, False], ids=["record", "fixed"])
@pytest.mark.parametrize("version", [1, 5])
def test_well_formed_header_parses(tmp_path, record_time, version):
    nc = read_netcdf_structure(_nc(tmp_path, record_time, version))
    v = nc["variables"]["value"]
    assert v["shape"] == [NT, NLAT, NLON]
    assert v["record"] is record_time
    assert nc["dims"]["lat"] == NLAT


@pytest.mark.parametrize(
    "off, value, match",
    [(DIM_TAG, 0x0B, "bad dimension tag"),
     (GATT_TAG, 0x0A, "bad attribute tag"),
     (VAR_TAG, 0x0C, "bad variable tag")],
    ids=["dimension", "attribute", "variable"],
)
def test_bad_tags_rejected(tmp_path, off, value, match):
    path = _nc(tmp_path)
    _patch(path, off, value)
    with pytest.raises(ValueError, match=match):
        read_netcdf_structure(path)


@pytest.mark.parametrize("cut", [6, 30, 70, 120])
def test_truncated_header_rejected(tmp_path, cut):
    """Cut inside numrecs, the dimension list, a variable entry and an
    attribute value: ValueError, never struct.error."""
    path = _nc(tmp_path)
    raw = open(path, "rb").read()
    open(path, "wb").write(raw[:cut])
    with pytest.raises(ValueError, match="truncated|cannot fit"):
        read_netcdf_structure(path)


@pytest.mark.parametrize(
    "off, match",
    [(NDIMS, "dimensions cannot fit"),
     (GATT_COUNT, "attributes cannot fit"),
     (NVARS, "variables cannot fit"),
     (DIM0_NAME_LEN, "truncated")],
    ids=["ndims", "natts", "nvars", "name_length"],
)
def test_absurd_counts_rejected(tmp_path, off, match):
    """Counts and a name length of 2^31 - 1: no loop over them, no
    silent short slice."""
    path = _nc(tmp_path)
    _patch(path, off, 0x7FFFFFFF)
    with pytest.raises(ValueError, match=match):
        read_netcdf_structure(path)


def test_dimension_id_out_of_range(tmp_path):
    path = _nc(tmp_path)
    _patch(path, LAT_DIMID, 7)
    with pytest.raises(ValueError, match="out of range"):
        read_netcdf_structure(path)


def test_vsize_disagrees_with_shape(tmp_path):
    path = _nc(tmp_path)
    _patch(path, LAT_VSIZE, 1 << 30)
    with pytest.raises(ValueError, match="disagrees"):
        read_netcdf_structure(path)


def test_begin_past_end_of_file(tmp_path):
    path = _nc(tmp_path)
    _patch(path, LAT_BEGIN, os.path.getsize(path) - 4)
    with pytest.raises(ValueError, match="past the end"):
        read_netcdf_structure(path)


@pytest.mark.parametrize("record_time", [True, False], ids=["record", "fixed"])
def test_data_cut_short_rejected(tmp_path, record_time):
    """An intact header over missing data: the last record (or the
    tail of the fixed variable) is gone."""
    path = _nc(tmp_path, record_time)
    raw = open(path, "rb").read()
    open(path, "wb").write(raw[:-8])
    with pytest.raises(ValueError, match="past the end"):
        read_netcdf_structure(path)


def test_bad_tag_rejected_without_asserts(tmp_path):
    """``python -O`` keeps the check (a bare assert would vanish)."""
    path = _nc(tmp_path)
    _patch(path, VAR_TAG, 0x0C)
    code = (
        "from raquet_spark.sources.netcdf import read_netcdf_structure\n"
        "try:\n"
        f"    read_netcdf_structure({path!r})\n"
        "except ValueError as e:\n"
        "    print('ValueError', e)\n"
    )
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    res = subprocess.run(
        [sys.executable, "-O", "-c", code], capture_output=True, text=True,
        cwd=root, timeout=120,
    )
    assert res.stdout.startswith("ValueError"), res.stdout + res.stderr
