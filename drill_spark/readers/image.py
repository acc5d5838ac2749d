"""Image format reader — image files as a metadata table, no codecs.

Drill reference: contrib/format-image (store/image/ImageBatchReader.java
with GenericMetadataDirectory.java's tag list) emits one row per image
file with generic metadata (file size/time, format, pixel dimensions,
orientation, DPI, color mode, bits per pixel, alpha) plus per-directory
EXIF tag maps, via the metadata-extractor library. That library is a
JVM dependency we don't have; everything it reads for
PNG/JPEG/GIF/BMP, however, lives in public container headers and the
EXIF/TIFF spec, so this module parses them directly:

- container headers: PNG IHDR/pHYs chunks, JPEG SOFn + JFIF APP0
  density, GIF logical screen descriptor, BMP info header;
- EXIF: the APP1 ``Exif\\x00\\x00`` TIFF blob — byte-order aware IFD
  walk of IFD0, the Exif sub-IFD (0x8769) and the GPS IFD (0x8825),
  with BYTE/ASCII/SHORT/LONG/RATIONAL/SLONG/SRATIONAL decoding —
  flattened into an ``exif map<string,string>`` column with the
  common tag names spelled out.

The generic column set mirrors GenericMetadataDirectory (snake_cased);
``orientation`` and DPI come from EXIF/JFIF when present.

Spark-first shape (same as readers/pcap.py, readers/esri.py): driver
lists files; ``mapInPandas`` over the file list probes each image in
executors. Only headers are read per file (bounded prefix), so the
scan cost is file-count bound, not byte bound.
"""

from __future__ import annotations

import datetime
import os
import struct

from pyspark.sql import DataFrame, SparkSession

from drill_spark.readers.formats import list_files, scan_files

IMAGE_SCHEMA = (
    "file_name string, file_size bigint, file_date_time timestamp, "
    "format string, pixel_width int, pixel_height int, orientation int, "
    "dpi_width double, dpi_height double, color_mode string, "
    "bits_per_pixel int, has_alpha boolean, exif map<string,string>"
)

# common EXIF tag names (the public EXIF 2.3 tag dictionary)
_TAGS_IFD0 = {
    0x010F: "Make", 0x0110: "Model", 0x0112: "Orientation",
    0x011A: "XResolution", 0x011B: "YResolution", 0x0128: "ResolutionUnit",
    0x0131: "Software", 0x0132: "DateTime", 0x013B: "Artist",
    0x8298: "Copyright",
}
_TAGS_EXIF = {
    0x829A: "ExposureTime", 0x829D: "FNumber", 0x8827: "ISOSpeedRatings",
    0x9003: "DateTimeOriginal", 0x9004: "DateTimeDigitized",
    0x920A: "FocalLength", 0x9209: "Flash", 0xA002: "PixelXDimension",
    0xA003: "PixelYDimension", 0xA405: "FocalLengthIn35mmFilm",
    0xA431: "BodySerialNumber", 0xA433: "LensMake", 0xA434: "LensModel",
}
_TAGS_GPS = {
    0x0001: "GPSLatitudeRef", 0x0002: "GPSLatitude",
    0x0003: "GPSLongitudeRef", 0x0004: "GPSLongitude",
    0x0005: "GPSAltitudeRef", 0x0006: "GPSAltitude",
    0x0007: "GPSTimeStamp", 0x001D: "GPSDateStamp",
}
_EXIF_SUBIFD, _GPS_IFD = 0x8769, 0x8825

_TYPE_SIZE = {1: 1, 2: 1, 3: 2, 4: 4, 5: 8, 7: 1, 9: 4, 10: 8}


def _render(vals) -> str:
    if isinstance(vals, (list, tuple)):
        return ", ".join(_render(v) for v in vals)
    if isinstance(vals, float):
        return f"{vals:g}"
    return str(vals)


def _read_ifd(tiff: bytes, off: int, bo: str, names: dict[int, str],
              out: dict[str, str]) -> dict[int, int]:
    """Decode one IFD; returns {pointer_tag: offset} for sub-IFDs."""
    pointers: dict[int, int] = {}
    if off + 2 > len(tiff):
        return pointers
    (n,) = struct.unpack_from(bo + "H", tiff, off)
    for i in range(n):
        base = off + 2 + 12 * i
        if base + 12 > len(tiff):
            break
        tag, typ, cnt = struct.unpack_from(bo + "HHI", tiff, base)
        size = _TYPE_SIZE.get(typ, 1) * cnt
        if size <= 4:
            data = tiff[base + 8 : base + 8 + size]
        else:
            (doff,) = struct.unpack_from(bo + "I", tiff, base + 8)
            data = tiff[doff : doff + size]
        if tag in (_EXIF_SUBIFD, _GPS_IFD) and typ == 4:
            (pointers[tag],) = struct.unpack_from(bo + "I", data, 0)
            continue
        name = names.get(tag)
        if name is None or len(data) < size:
            continue
        if typ == 2:  # ASCII
            out[name] = data.split(b"\x00", 1)[0].decode("ascii", "replace").strip()
        elif typ in (1, 7):
            out[name] = _render(list(data) if cnt > 1 else data[0])
        elif typ == 3:
            out[name] = _render(list(struct.unpack_from(bo + f"{cnt}H", data, 0)))
        elif typ in (4, 9):
            c = "I" if typ == 4 else "i"
            out[name] = _render(list(struct.unpack_from(bo + f"{cnt}{c}", data, 0)))
        elif typ in (5, 10):
            c = "II" if typ == 5 else "ii"
            vals = []
            for j in range(cnt):
                num, den = struct.unpack_from(bo + c, data, 8 * j)
                vals.append(num / den if den else float("nan"))
            out[name] = _render(vals)
    return pointers


def parse_exif(tiff: bytes) -> dict[str, str]:
    """EXIF TIFF blob (after ``Exif\\x00\\x00``) -> flat tag map."""
    if tiff[:2] == b"II":
        bo = "<"
    elif tiff[:2] == b"MM":
        bo = ">"
    else:
        return {}
    (ifd0,) = struct.unpack_from(bo + "I", tiff, 4)
    out: dict[str, str] = {}
    pointers = _read_ifd(tiff, ifd0, bo, _TAGS_IFD0, out)
    if _EXIF_SUBIFD in pointers:
        _read_ifd(tiff, pointers[_EXIF_SUBIFD], bo, _TAGS_EXIF, out)
    if _GPS_IFD in pointers:
        _read_ifd(tiff, pointers[_GPS_IFD], bo, _TAGS_GPS, out)
    return out


_PNG_COLOR = {0: "Grayscale", 2: "RGB", 3: "Palette", 4: "Grayscale Alpha", 6: "RGBA"}


def probe_image_meta(b: bytes) -> dict:
    """Full metadata probe of one image byte string (header tier only)."""
    meta: dict = {
        "format": "unknown", "pixel_width": None, "pixel_height": None,
        "orientation": None, "dpi_width": None, "dpi_height": None,
        "color_mode": None, "bits_per_pixel": None, "has_alpha": None,
        "exif": {},
    }
    if b[:8] == b"\x89PNG\r\n\x1a\n" and len(b) >= 33:
        meta["format"] = "png"
        w, h = struct.unpack(">II", b[16:24])
        depth, ctype = b[24], b[25]
        channels = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}.get(ctype, 1)
        meta.update(
            pixel_width=w, pixel_height=h, color_mode=_PNG_COLOR.get(ctype),
            bits_per_pixel=depth * channels, has_alpha=ctype in (4, 6),
        )
        pos = 8  # chunk walk for pHYs (density) and eXIf (EXIF blob)
        while pos + 8 <= len(b):
            (clen,) = struct.unpack_from(">I", b, pos)
            ctag = b[pos + 4 : pos + 8]
            if ctag == b"pHYs" and clen >= 9:
                px, py, unit = struct.unpack_from(">IIB", b, pos + 8)
                if unit == 1:  # pixels per metre
                    meta["dpi_width"] = round(px * 0.0254, 2)
                    meta["dpi_height"] = round(py * 0.0254, 2)
            elif ctag == b"eXIf":
                meta["exif"] = parse_exif(b[pos + 8 : pos + 8 + clen])
            elif ctag in (b"IDAT", b"IEND"):
                break
            pos += 12 + clen
    elif b[:3] == b"GIF" and len(b) >= 11:
        w, h = struct.unpack("<HH", b[6:10])
        packed = b[10]
        meta.update(
            format="gif", pixel_width=w, pixel_height=h, color_mode="Palette",
            bits_per_pixel=((packed >> 4) & 0x7) + 1, has_alpha=False,
        )
    elif b[:2] == b"BM" and len(b) >= 30:
        w, h = struct.unpack("<ii", b[18:26])
        bits = struct.unpack("<H", b[28:30])[0]
        meta.update(
            format="bmp", pixel_width=w, pixel_height=abs(h),
            color_mode="Palette" if bits <= 8 else "RGB",
            bits_per_pixel=bits, has_alpha=bits == 32,
        )
        if len(b) >= 46:
            xppm, yppm = struct.unpack("<ii", b[38:46])
            if xppm > 0:
                meta["dpi_width"] = round(xppm * 0.0254, 2)
            if yppm > 0:
                meta["dpi_height"] = round(yppm * 0.0254, 2)
    elif b[:2] == b"\xff\xd8":
        meta["format"] = "jpeg"
        pos = 2
        while pos + 4 <= len(b) and b[pos] == 0xFF:
            marker = b[pos + 1]
            if marker in (0xD8, 0xD9) or 0xD0 <= marker <= 0xD7:
                pos += 2
                continue
            seglen = int.from_bytes(b[pos + 2 : pos + 4], "big")
            seg = b[pos + 4 : pos + 2 + seglen]
            if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
                precision = seg[0]
                h, w = struct.unpack(">HH", seg[1:5])
                ncomp = seg[5]
                meta.update(
                    pixel_width=w, pixel_height=h,
                    bits_per_pixel=precision * ncomp, has_alpha=False,
                    color_mode={1: "Grayscale", 3: "YCbCr", 4: "CMYK"}.get(ncomp),
                )
                break
            if marker == 0xE0 and seg[:5] == b"JFIF\x00" and len(seg) >= 12:
                unit = seg[7]
                xd, yd = struct.unpack(">HH", seg[8:12])
                if unit == 1:
                    meta["dpi_width"], meta["dpi_height"] = float(xd), float(yd)
                elif unit == 2:  # per cm
                    meta["dpi_width"] = round(xd * 2.54, 2)
                    meta["dpi_height"] = round(yd * 2.54, 2)
            if marker == 0xE1 and seg[:6] == b"Exif\x00\x00":
                meta["exif"] = parse_exif(seg[6:])
            pos += 2 + seglen
    ori = meta["exif"].get("Orientation")
    if ori and ori.split(",")[0].strip().isdigit():
        meta["orientation"] = int(ori.split(",")[0])
    if meta["dpi_width"] is None and "XResolution" in meta["exif"]:
        try:
            unit = meta["exif"].get("ResolutionUnit", "2").split(",")[0].strip()
            scale = 2.54 if unit == "3" else 1.0
            meta["dpi_width"] = round(float(meta["exif"]["XResolution"]) * scale, 2)
            meta["dpi_height"] = round(
                float(meta["exif"].get("YResolution", meta["exif"]["XResolution"])) * scale, 2
            )
        except ValueError:
            pass
    return meta


def read_images(spark: SparkSession, path: str) -> DataFrame:
    """Distributed image-metadata read: one row per image file."""
    import pandas as pd

    files = list_files(path, "image")

    cols = [
        "file_name", "file_size", "file_date_time", "format", "pixel_width",
        "pixel_height", "orientation", "dpi_width", "dpi_height",
        "color_mode", "bits_per_pixel", "has_alpha", "exif",
    ]

    def probe_partition(batches):
        for pdf in batches:
            rows = []
            for fpath in pdf["path"]:
                st = os.stat(fpath)
                with open(fpath, "rb") as f:
                    head = f.read(1 << 20)  # headers only; never the full payload
                row = {
                    "file_name": os.path.basename(fpath),
                    "file_size": st.st_size,
                    "file_date_time": datetime.datetime.fromtimestamp(st.st_mtime),
                    **probe_image_meta(head),
                }
                rows.append(row)
            yield pd.DataFrame.from_records(rows, columns=cols)

    return scan_files(spark, files, probe_partition, IMAGE_SCHEMA)
