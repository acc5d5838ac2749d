"""Pcapng format reader — next-generation packet captures as tables.

Drill reference: contrib/format-pcapng (store/pcapng/
PcapngBatchReader.java, column set in PcapColumn.java) reads pcapng
captures with the pcap column surface widened by TCP detail columns
(``tcp_session``, ``tcp_ack``, one ``tcp_flags_*`` int per flag bit,
``tcp_parsed_flags``) and a ``stat`` mode that returns per-file
section/interface metadata instead of packets. The pcapng block
format is public (IETF draft-ietf-opsawg-pcapng):

- Section Header Block ``0x0A0D0D0A``: byte-order magic 0x1A2B3C4D
  picks endianness per section; options carry shb_hardware/os/userappl;
- Interface Description Block ``0x00000001``: link type, snaplen,
  options (if_name/description/tsresol/os/speed...); ``if_tsresol``
  sets the timestamp unit (power of 10, or of 2 when the high bit is
  set; default 10^-6);
- Enhanced Packet Block ``0x00000006``: interface id, 64-bit split
  timestamp, captured/original lengths, frame bytes; Simple Packet
  Block ``0x00000003``: frame only.

L2-L4 parsing is shared with the pcap reader (parse_ethernet).
``tcp_session`` matches the reference's semantics — one stable id per
bidirectional 4-tuple — computed as a hash over the sorted
(ip, port) endpoints.

Spark-first shape (same as readers/pcap.py): driver lists files,
``mapInPandas`` decodes each capture inside executors.
"""

from __future__ import annotations

import datetime
import struct

from pyspark.sql import DataFrame, SparkSession

from drill_spark.readers.formats import list_files, scan_files
from drill_spark.readers.pcap import parse_ethernet

PCAPNG_SCHEMA = (
    "`timestamp` timestamp_ntz, packet_length int, type string, "
    "src_ip string, dst_ip string, src_port int, dst_port int, "
    "src_mac_address string, dst_mac_address string, "
    "tcp_session bigint, tcp_ack bigint, tcp_flags int, "
    "tcp_flags_ns int, tcp_flags_cwr int, tcp_flags_ece int, "
    "tcp_flags_ece_ecn_capable int, tcp_flags_ece_congestion_experienced int, "
    "tcp_flags_urg int, tcp_flags_ack int, tcp_flags_psh int, "
    "tcp_flags_rst int, tcp_flags_syn int, tcp_flags_fin int, "
    "tcp_parsed_flags string, packet_data binary"
)

STAT_SCHEMA = (
    "path string, shb_hardware string, shb_os string, shb_userappl string, "
    "if_name string, if_description string, if_speed bigint, if_tsresol int, "
    "if_os string"
)

_SHB, _IDB, _SPB, _EPB = 0x0A0D0D0A, 0x00000001, 0x00000003, 0x00000006

_FLAG_BITS = (
    ("NS", 0x100), ("CWR", 0x80), ("ECE", 0x40), ("URG", 0x20),
    ("ACK", 0x10), ("PSH", 0x08), ("RST", 0x04), ("SYN", 0x02), ("FIN", 0x01),
)


def _options(buf: bytes, bo: str) -> dict[int, bytes]:
    out: dict[int, bytes] = {}
    pos = 0
    while pos + 4 <= len(buf):
        code, ln = struct.unpack_from(bo + "HH", buf, pos)
        pos += 4
        if code == 0:  # opt_endofopt
            break
        out.setdefault(code, buf[pos : pos + ln])
        pos += ln + (-ln) % 4
    return out


def _session_id(row: dict) -> int | None:
    if row["type"] != "TCP" or row["src_ip"] is None:
        return None
    a = (row["src_ip"], row["src_port"] or 0)
    b = (row["dst_ip"], row["dst_port"] or 0)
    lo, hi = (a, b) if a <= b else (b, a)
    import hashlib

    h = hashlib.md5(f"{lo[0]}:{lo[1]}|{hi[0]}:{hi[1]}".encode()).digest()
    return int.from_bytes(h[:8], "big", signed=True)


def decode_pcapng(data: bytes, stat: bool = False) -> list[dict]:
    """Decode one pcapng file -> packet rows (or per-file stat rows)."""
    rows: list[dict] = []
    pos = 0
    bo = "<"
    tsresol = 6          # current interface: power-of-10 exponent
    tsresol_pow2 = False
    section_meta: dict = {}
    if struct.unpack_from(">I", data, 0)[0] != _SHB:
        raise ValueError("not a pcapng file (no Section Header Block)")
    while pos + 12 <= len(data):
        (btype,) = struct.unpack_from(bo + "I", data, pos)
        if btype == _SHB:
            # byte order can change per section
            magic = data[pos + 8 : pos + 12]
            bo = "<" if magic == b"\x4d\x3c\x2b\x1a" else ">"
            (blen,) = struct.unpack_from(bo + "I", data, pos + 4)
            opts = _options(data[pos + 24 : pos + blen - 4], bo)
            section_meta = {
                "shb_hardware": _txt(opts.get(2)),
                "shb_os": _txt(opts.get(3)),
                "shb_userappl": _txt(opts.get(4)),
            }
        else:
            (blen,) = struct.unpack_from(bo + "I", data, pos + 4)
            if blen < 12 or pos + blen > len(data):
                break
            body = data[pos + 8 : pos + blen - 4]
            if btype == _IDB:
                opts = _options(body[8:], bo)
                raw = opts.get(9, b"\x06")
                tsresol_pow2 = bool(raw[0] & 0x80)
                tsresol = raw[0] & 0x7F
                section_meta.update(
                    if_name=_txt(opts.get(2)),
                    if_description=_txt(opts.get(3)),
                    if_speed=struct.unpack(bo + "Q", opts[8])[0] if opts.get(8) else None,
                    if_tsresol=tsresol,
                    if_os=_txt(opts.get(12)),
                )
            elif btype == _EPB and not stat:
                _iface, ts_hi, ts_lo, cap, orig = struct.unpack_from(bo + "IIIII", body, 0)
                ts = (ts_hi << 32) | ts_lo
                if tsresol_pow2:
                    seconds = ts / (1 << tsresol)
                else:
                    seconds = ts / (10 ** tsresol)
                frame = body[20 : 20 + cap]
                rows.append(_packet_row(seconds, orig, frame))
            elif btype == _SPB and not stat:
                (orig,) = struct.unpack_from(bo + "I", body, 0)
                rows.append(_packet_row(None, orig, body[4:]))
        pos += blen
    if stat:
        return [
            {
                "shb_hardware": None, "shb_os": None, "shb_userappl": None,
                "if_name": None, "if_description": None, "if_speed": None,
                "if_tsresol": None, "if_os": None, **section_meta,
            }
        ]
    return rows


def _txt(b: bytes | None) -> str | None:
    return b.decode("utf-8", "replace") if b is not None else None


def _packet_row(seconds: float | None, orig: int, frame: bytes) -> dict:
    row = {
        "timestamp": (
            datetime.datetime(1970, 1, 1) + datetime.timedelta(seconds=seconds)
            if seconds is not None
            else None
        ),
        "packet_length": orig,
        "packet_data": frame,
    }
    row.update(parse_ethernet(frame))
    row["tcp_session"] = _session_id(row)
    flags = row["tcp_flags"]
    parsed = []
    for name, bit in _FLAG_BITS:
        v = None if flags is None else int(bool(flags & bit))
        row[f"tcp_flags_{name.lower()}"] = v
        if v:
            parsed.append(name)
    if flags is None:
        row["tcp_flags_ece_ecn_capable"] = None
        row["tcp_flags_ece_congestion_experienced"] = None
    else:
        syn = bool(flags & 0x02)
        ece = bool(flags & 0x40)
        row["tcp_flags_ece_ecn_capable"] = int(ece and syn)
        row["tcp_flags_ece_congestion_experienced"] = int(ece and not syn)
    row["tcp_parsed_flags"] = "|".join(parsed) if flags is not None else None
    return row


def read_pcapng(spark: SparkSession, path: str, stat: bool = False) -> DataFrame:
    """Distributed pcapng read: mapInPandas over the capture-file list.
    ``stat=True`` returns one metadata row per file (the reference's
    ``stat`` format-config option)."""
    import pandas as pd

    files = list_files(path, "pcapng")

    schema = STAT_SCHEMA if stat else PCAPNG_SCHEMA
    cols = [s.strip().split()[0].strip("`") for s in schema.split(",")]

    def decode_partition(batches):
        for pdf in batches:
            for fpath in pdf["path"]:
                with open(fpath, "rb") as f:
                    rows = decode_pcapng(f.read(), stat=stat)
                for r in rows:
                    r.pop("network", None)
                    if stat:
                        r["path"] = fpath
                yield pd.DataFrame.from_records(rows, columns=cols)

    return scan_files(spark, files, decode_partition, schema)
