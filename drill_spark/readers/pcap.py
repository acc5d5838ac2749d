"""Pcap format reader — packet captures as tables.

Drill reference: contrib/format-pcap (store/pcap/PcapFormatPlugin.java,
decoder in store/pcap/decoder/PacketDecoder.java) exposes one row per
packet with protocol/address/port columns. The libpcap file format is
public and simple: a 24-byte global header (magic selects byte order
and timestamp precision) followed by 16-byte per-packet headers + raw
frame bytes; Ethernet → IPv4/IPv6 → TCP/UDP parsing is fixed-offset
struct unpacking.

Spark-first shape (same as readers/avro.py): the driver only LISTS
files; a mapInPandas over the file list decodes each capture inside
executors, Arrow-batching rows out. Parallelism = number of capture
files — pcap has no internal sync points, so the file is the natural
split, exactly the reference's one-reader-per-file granularity.

Column set mirrors the reference's PcapBatchReader columns
(type, timestamp, src/dst ip+port+mac, packet_length, tcp_flags, data).
"""

from __future__ import annotations

import datetime
import struct

from pyspark.sql import DataFrame, SparkSession

from drill_spark.readers.formats import list_files, scan_files

PCAP_SCHEMA = (
    "type string, `timestamp` timestamp_ntz, network int, "
    "src_ip string, dst_ip string, src_port int, dst_port int, "
    "src_mac_address string, dst_mac_address string, "
    "tcp_flags int, packet_length int, data binary"
)

_PROTO = {1: "ICMP", 6: "TCP", 17: "UDP"}


def _mac(b: bytes) -> str:
    return ":".join(f"{x:02X}" for x in b)


def _ip4(b: bytes) -> str:
    return ".".join(str(x) for x in b)


def _ip6(b: bytes) -> str:
    return ":".join(f"{int.from_bytes(b[i:i+2], 'big'):x}" for i in range(0, 16, 2))


def parse_ethernet(frame: bytes) -> dict:
    """Ethernet II -> IPv4/IPv6 -> TCP/UDP fixed-offset parse; shared by
    the pcap and pcapng readers. Returns the L2-L4 column dict."""
    row: dict = {
        "type": "UNKNOWN",
        "src_ip": None, "dst_ip": None, "src_port": None, "dst_port": None,
        "src_mac_address": None, "dst_mac_address": None,
        "tcp_flags": None, "tcp_ack": None,
    }
    if len(frame) < 14:
        return row
    row["dst_mac_address"] = _mac(frame[0:6])
    row["src_mac_address"] = _mac(frame[6:12])
    ethertype = int.from_bytes(frame[12:14], "big")
    payload = frame[14:]
    if ethertype == 0x0800 and len(payload) >= 20:  # IPv4
        ihl = (payload[0] & 0x0F) * 4
        proto = payload[9]
        row["type"] = _PROTO.get(proto, str(proto))
        row["src_ip"] = _ip4(payload[12:16])
        row["dst_ip"] = _ip4(payload[16:20])
        l4 = payload[ihl:]
        if proto in (6, 17) and len(l4) >= 4:
            row["src_port"] = int.from_bytes(l4[0:2], "big")
            row["dst_port"] = int.from_bytes(l4[2:4], "big")
        if proto == 6 and len(l4) >= 14:
            row["tcp_flags"] = l4[13]
            row["tcp_ack"] = int.from_bytes(l4[8:12], "big")
    elif ethertype == 0x86DD and len(payload) >= 40:  # IPv6
        nxt = payload[6]
        row["type"] = _PROTO.get(nxt, str(nxt))
        row["src_ip"] = _ip6(payload[8:24])
        row["dst_ip"] = _ip6(payload[24:40])
        l4 = payload[40:]
        if nxt in (6, 17) and len(l4) >= 4:
            row["src_port"] = int.from_bytes(l4[0:2], "big")
            row["dst_port"] = int.from_bytes(l4[2:4], "big")
        if nxt == 6 and len(l4) >= 14:
            row["tcp_flags"] = l4[13]
            row["tcp_ack"] = int.from_bytes(l4[8:12], "big")
    elif ethertype == 0x0806:
        row["type"] = "ARP"
    return row


def decode_pcap(data: bytes) -> list[dict]:
    """Decode one pcap file -> list of packet-row dicts."""
    if len(data) < 24:
        raise ValueError("truncated pcap: no global header")
    magic = data[:4]
    if magic == b"\xd4\xc3\xb2\xa1":
        endian, ts_div = "<", 1_000_000  # little-endian, microseconds
    elif magic == b"\xa1\xb2\xc3\xd4":
        endian, ts_div = ">", 1_000_000
    elif magic == b"\x4d\x3c\xb2\xa1":
        endian, ts_div = "<", 1_000_000_000  # nanosecond variant
    elif magic == b"\xa1\xb2\x3c\x4d":
        endian, ts_div = ">", 1_000_000_000
    else:
        raise ValueError(f"not a pcap file (magic {magic.hex()})")
    network = struct.unpack(endian + "I", data[20:24])[0]
    rows: list[dict] = []
    pos = 24
    while pos + 16 <= len(data):
        ts_sec, ts_frac, incl, orig = struct.unpack(endian + "IIII", data[pos : pos + 16])
        pos += 16
        frame = data[pos : pos + incl]
        pos += incl
        us = ts_frac * 1_000_000 // ts_div
        row = {
            "timestamp": datetime.datetime(1970, 1, 1)
            + datetime.timedelta(seconds=ts_sec, microseconds=us),
            "network": network,
            "packet_length": orig, "data": frame,
        }
        l234 = parse_ethernet(frame) if network == 1 else parse_ethernet(b"")
        l234.pop("tcp_ack")  # not part of the legacy-pcap column set
        row.update(l234)
        # unparseable frames keep type=UNKNOWN with the raw data — the
        # reference likewise never drops packets it cannot decode
        rows.append(row)
    return rows


def read_pcap(spark: SparkSession, path: str) -> DataFrame:
    """Distributed pcap read: mapInPandas over the capture-file list."""
    import pandas as pd

    files = list_files(path, "pcap")

    cols = [
        "type", "timestamp", "network", "src_ip", "dst_ip", "src_port",
        "dst_port", "src_mac_address", "dst_mac_address", "tcp_flags",
        "packet_length", "data",
    ]

    def decode_partition(batches):
        for pdf in batches:
            for fpath in pdf["path"]:
                with open(fpath, "rb") as f:
                    rows = decode_pcap(f.read())
                yield pd.DataFrame.from_records(rows, columns=cols)

    return scan_files(spark, files, decode_partition, PCAP_SCHEMA)
