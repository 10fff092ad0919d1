"""Malformed TIFF headers fail in `read_tiff_structure`, before the
import planner sizes any work by width × height: absurd dimensions,
mismatched offset / byte-count tables, truncated files and zero-sized
segments each raise ValueError."""

from __future__ import annotations

import struct

import pytest

from raquet_spark.sources.tiff_reader import read_tiff_structure
from raquet_spark.testing import GEOKEYS_4326, write_geokey_tiff


def _tiff(tmp_path, name="h.tif"):
    path = str(tmp_path / name)
    write_geokey_tiff(path, 64, 48, (-123.0, 38.0), 0.001, GEOKEYS_4326,
                      rows_per_strip=8)
    return path


def _patch_tag(path, tag, value):
    """Overwrite the inline LONG/SHORT value of ``tag`` in the first IFD
    (little-endian classic TIFF, as write_geokey_tiff writes)."""
    raw = bytearray(open(path, "rb").read())
    (ifd,) = struct.unpack_from("<I", raw, 4)
    (n,) = struct.unpack_from("<H", raw, ifd)
    for i in range(n):
        e = ifd + 2 + 12 * i
        t, typ, _count = struct.unpack_from("<HHI", raw, e)
        if t == tag:
            fmt = "<H" if typ == 3 else "<I"
            struct.pack_into(fmt, raw, e + 8, value)
            open(path, "wb").write(bytes(raw))
            return
    raise KeyError(tag)


def _patch_count(path, tag, count):
    raw = bytearray(open(path, "rb").read())
    (ifd,) = struct.unpack_from("<I", raw, 4)
    (n,) = struct.unpack_from("<H", raw, ifd)
    for i in range(n):
        e = ifd + 2 + 12 * i
        if struct.unpack_from("<H", raw, e)[0] == tag:
            struct.pack_into("<I", raw, e + 4, count)
            open(path, "wb").write(bytes(raw))
            return
    raise KeyError(tag)


def test_well_formed_header_parses(tmp_path):
    info = read_tiff_structure(_tiff(tmp_path))
    assert (info["width"], info["height"]) == (64, 48)
    assert len(info["segments"]) == 6


@pytest.mark.parametrize(
    "tags, match",
    [((256,), "needs more than"), ((257,), "implies"),
     ((256, 257), "implies")],
    ids=["width", "height", "both"],
)
def test_absurd_dimensions_rejected(tmp_path, tags, match):
    """ImageWidth / ImageLength patched to 60000: the six 8-row strips
    of 64 px no longer cover the image."""
    path = _tiff(tmp_path)
    for tag in tags:
        _patch_tag(path, tag, 60000)
    with pytest.raises(ValueError, match=match):
        read_tiff_structure(path)


def test_truncated_file_rejected(tmp_path):
    """Pixel bytes cut short under an intact header (the IFD moved
    ahead of the data, as in a COG): the last strip ends past the
    file."""
    path = _tiff(tmp_path)
    raw = open(path, "rb").read()
    (ifd,) = struct.unpack_from("<I", raw, 4)
    # drop the last 500 pixel bytes and pull the IFD up behind them
    cut = ifd - 500
    out = bytearray(raw[:cut] + raw[ifd:])
    struct.pack_into("<I", out, 4, cut)
    # external IFD values sit right after the entry table: shift every
    # pointer into that region by the removed length
    (n,) = struct.unpack_from("<H", out, cut)
    for i in range(n):
        e = cut + 2 + 12 * i
        _t, typ, count = struct.unpack_from("<HHI", out, e)
        size = {2: 1, 3: 2, 4: 4, 12: 8}[typ] * count
        if size > 4:
            (off,) = struct.unpack_from("<I", out, e + 8)
            struct.pack_into("<I", out, e + 8, off - 500)
    open(path, "wb").write(bytes(out))
    with pytest.raises(ValueError, match="end past"):
        read_tiff_structure(path)


def test_truncated_header_rejected(tmp_path):
    """A file cut inside its IFD (written after the pixel bytes)."""
    path = _tiff(tmp_path)
    raw = open(path, "rb").read()
    open(path, "wb").write(raw[:-40])
    with pytest.raises(ValueError, match="truncated"):
        read_tiff_structure(path)


def test_mismatched_counts_rejected(tmp_path):
    """StripByteCounts lists fewer entries than StripOffsets."""
    path = _tiff(tmp_path)
    _patch_count(path, 279, 5)
    with pytest.raises(ValueError, match="byte counts"):
        read_tiff_structure(path)


def test_zero_rows_per_strip_rejected(tmp_path):
    path = _tiff(tmp_path)
    _patch_tag(path, 278, 0)
    with pytest.raises(ValueError, match="segment size"):
        read_tiff_structure(path)
