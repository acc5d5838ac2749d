"""From-scratch FLAC codec (public format spec: xiph.org / RFC 9639).

REAL lossless audio decode for the multimodal surface — no codec
library exists in this container, and none is needed: FLAC is fully
specified (bit-level) and integer-exact, so a spec implementation
round-trips bit-for-bit and every decode is verifiable against CRC-8
(frame headers), CRC-16 (frames) and the STREAMINFO MD5 of the raw
samples.

Decoder coverage: all subframe types (CONSTANT / VERBATIM / FIXED 0-4 /
LPC 1-32), both residual methods (RICE 4-bit, RICE2 5-bit) including
escaped verbatim partitions, all four channel assignments (independent,
left/side, right/side, mid/side), wasted bits, both explicit block-size
forms and STREAMINFO-coded sample rates, UTF-8-style frame numbers.

Encoder (fixture generator + writer path): fixed blocking, per-channel
best-of CONSTANT / FIXED order 0-2 with single-partition Rice residuals
— a genuine compressing encoder whose output any compliant decoder
reads.
"""

from __future__ import annotations

import hashlib
import struct

__all__ = ["encode_flac", "decode_flac", "probe_flac"]


# ------------------------------------------------------------- bit I/O


class _BitWriter:
    def __init__(self) -> None:
        self.buf = bytearray()
        self.acc = 0
        self.n = 0

    def write(self, val: int, bits: int) -> None:
        self.acc = (self.acc << bits) | (val & ((1 << bits) - 1))
        self.n += bits
        while self.n >= 8:
            self.n -= 8
            self.buf.append((self.acc >> self.n) & 0xFF)
        self.acc &= (1 << self.n) - 1

    def write_unary(self, q: int) -> None:
        while q >= 32:
            self.write(0, 32)
            q -= 32
        self.write(1, q + 1)  # q zeros then the terminating 1

    def align(self) -> None:
        if self.n:
            self.write(0, 8 - self.n)


class _BitReader:
    def __init__(self, data: bytes, pos: int = 0) -> None:
        self.data = data
        self.byte = pos
        self.bit = 0

    def read(self, bits: int) -> int:
        out = 0
        while bits > 0:
            if self.byte >= len(self.data):
                raise ValueError("FLAC bitstream truncated")
            avail = 8 - self.bit
            take = min(bits, avail)
            cur = self.data[self.byte]
            out = (out << take) | ((cur >> (avail - take)) & ((1 << take) - 1))
            self.bit += take
            if self.bit == 8:
                self.bit = 0
                self.byte += 1
            bits -= take
        return out

    def read_signed(self, bits: int) -> int:
        v = self.read(bits)
        return v - (1 << bits) if v >> (bits - 1) else v

    def read_unary(self) -> int:
        q = 0
        while self.read(1) == 0:
            q += 1
        return q

    def align(self) -> None:
        if self.bit:
            self.bit = 0
            self.byte += 1

    # ---- vectorized access (decoder hot path) --------------------
    # The per-sample Rice/fixed-width reads dominate decode time in
    # pure Python, so the residual decoders below work on a lazily
    # unpacked 0/1 bit array for the WHOLE stream. All caches are
    # per-reader; decode_flac reuses ONE reader across frames so the
    # unpack cost amortizes over the file.

    @property
    def bitpos(self) -> int:
        return self.byte * 8 + self.bit

    def seek_bit(self, absbit: int) -> None:
        self.byte, self.bit = divmod(absbit, 8)

    def bits_arr(self):
        import numpy as np

        if getattr(self, "_bits", None) is None:
            self._bits = np.unpackbits(
                np.frombuffer(self.data, dtype=np.uint8))
            # int32 is enough for any payload under 256 MB (bit index
            # < 2^31) and halves the index memory; memory profile of
            # the vectorized decoder is ~8-12 bytes per stream byte
            self._ones = np.flatnonzero(self._bits).astype(np.int32)
        return self._bits

    def ones_pos(self):
        self.bits_arr()
        return self._ones


# ----------------------------------------------------------------- CRC


def _make_crc_tables():
    t8, t16 = [], []
    for b in range(256):
        crc = b
        for _ in range(8):
            crc = ((crc << 1) ^ 0x07) & 0xFF if crc & 0x80 else (crc << 1) & 0xFF
        t8.append(crc)
        crc = b << 8
        for _ in range(8):
            crc = ((crc << 1) ^ 0x8005) & 0xFFFF if crc & 0x8000 else (crc << 1) & 0xFFFF
        t16.append(crc)
    return t8, t16


_CRC8_TABLE, _CRC16_TABLE = _make_crc_tables()


def _crc8(data: bytes) -> int:
    crc = 0
    t = _CRC8_TABLE
    for b in data:
        crc = t[crc ^ b]
    return crc


def _crc16(data: bytes) -> int:
    crc = 0
    t = _CRC16_TABLE
    for b in data:
        crc = ((crc << 8) & 0xFF00) ^ t[(crc >> 8) ^ b]
    return crc


# --------------------------------------------------- coded frame number


def _utf8_encode(n: int) -> bytes:
    if n < 0x80:
        return bytes([n])
    out = []
    nbytes = 2
    while n >= (1 << (nbytes * 5 + 1)) and nbytes < 7:
        nbytes += 1
    for i in range(nbytes - 1):
        out.append(0x80 | (n & 0x3F))
        n >>= 6
    lead_mask = (0xFF00 >> nbytes) & 0xFF
    out.append(lead_mask | n)
    return bytes(reversed(out))


def _utf8_decode(r: _BitReader) -> int:
    b0 = r.read(8)
    if b0 < 0x80:
        return b0
    nbytes = 0
    mask = 0x80
    while b0 & mask:
        nbytes += 1
        mask >>= 1
    val = b0 & (mask - 1)
    for _ in range(nbytes - 1):
        c = r.read(8)
        if c & 0xC0 != 0x80:
            raise ValueError("bad FLAC coded frame number")
        val = (val << 6) | (c & 0x3F)
    return val


_FIXED_COEFS = {
    0: [],
    1: [1],
    2: [2, -1],
    3: [3, -3, 1],
    4: [4, -6, 4, -1],
}

_SAMPLE_SIZE_BITS = {1: 8, 2: 12, 4: 16, 5: 20, 6: 24, 7: 32}
_SAMPLE_SIZE_CODE = {v: k for k, v in _SAMPLE_SIZE_BITS.items()}
_SAMPLE_RATES = {
    1: 88200, 2: 176400, 3: 192000, 4: 8000, 5: 16000, 6: 22050,
    7: 24000, 8: 32000, 9: 44100, 10: 48000, 11: 96000,
}


# ------------------------------------------------------------- encoder


def _interleave_le_bytes(vals, width: int) -> bytes:
    """int64 array -> each value's ``width`` little-endian
    two's-complement bytes, concatenated (the STREAMINFO MD5 layout) —
    the low bytes of the 8-byte LE representation ARE the truncated
    signed form, so this is one reshape, no per-sample to_bytes."""
    import numpy as np

    v = np.ascontiguousarray(np.asarray(vals, dtype="<i8"))
    if width == 8:
        return v.tobytes()
    return v.view(np.uint8).reshape(-1, 8)[:, :width].tobytes()


def _best_rice_param(zig) -> int:
    """Same selection (ascending p, strict improvement, 4x early stop)
    as the scalar loop, with the per-p cost as one vector sum."""
    import numpy as np

    zig = np.asarray(zig, dtype=np.int64)
    n = len(zig)
    best_p, best_cost = 0, None
    for p in range(15):
        cost = int((zig >> p).sum()) + n * (1 + p)
        if best_cost is None or cost < best_cost:
            best_p, best_cost = p, cost
        if cost > (best_cost or 0) * 4:
            break
    return best_p


def _write_bits_vec(w: _BitWriter, bitarr) -> None:
    """Append a 0/1 uint8 bit array to the writer MSB-first, 64 bits
    per write call instead of one call per unary/payload field."""
    import numpy as np

    total = len(bitarr)
    if not total:
        return
    packed = np.packbits(bitarr).tobytes()
    full_words, rem_bits = divmod(total, 64)
    off = 0
    for _ in range(full_words):
        w.write(int.from_bytes(packed[off:off + 8], "big"), 64)
        off += 8
    if rem_bits:
        tail = int.from_bytes(packed[off:].ljust(8, b"\0"), "big")
        w.write(tail >> (64 - rem_bits), rem_bits)


def _encode_subframe(w: _BitWriter, x, bps: int) -> None:
    """x: int64 numpy array. Emits the same bitstream as the original
    per-sample implementation (same order choice, same Rice param
    selection, same partition-order-0 layout); the residuals, costs and
    Rice bit packing are vectorized."""
    import numpy as np

    x = np.asarray(x, dtype=np.int64)
    n = len(x)
    if n and (x == x[0]).all():
        w.write(0, 1)          # zero pad
        w.write(0, 6)          # CONSTANT
        w.write(0, 1)          # no wasted bits
        w.write(int(x[0]) & ((1 << bps) - 1), bps)
        return
    # pick the fixed order (0..2) with the smallest residual magnitude;
    # the order-k fixed predictor's residual is exactly the k-th finite
    # difference, so candidates are np.diff chains
    best = None
    for order in range(0, 3):
        if n <= order:
            continue
        res = np.diff(x, order) if order else x
        zig = (res << 1) ^ (res >> 63)
        # bit_length via log2: exact because zig+1 < 2^53 (bps <= 32,
        # order <= 2 -> |res| < 2^35)
        cost = int(np.ceil(np.log2(zig.astype(np.float64) + 1.0)).sum())
        if best is None or cost < best[0]:
            best = (cost, order, zig)
    _, order, zig = best
    w.write(0, 1)
    w.write(0b001000 | order, 6)   # FIXED, order
    w.write(0, 1)                  # no wasted bits
    for v in x[:order]:            # warmup
        w.write(int(v) & ((1 << bps) - 1), bps)
    p = _best_rice_param(zig)
    w.write(0, 2)                  # residual method: RICE (4-bit params)
    w.write(0, 4)                  # partition order 0
    w.write(p, 4)
    # vectorized Rice pack: per sample q = z >> p zeros, a stop 1, then
    # p payload bits; scatter stops and payload into one bit array
    q = zig >> p
    lens = q + 1 + p
    ends = np.cumsum(lens)
    bitarr = np.zeros(int(ends[-1]), dtype=np.uint8)
    stops = ends - 1 - p
    bitarr[stops] = 1
    for j in range(p):
        bitarr[stops + 1 + j] = (zig >> (p - 1 - j)) & 1
    _write_bits_vec(w, bitarr)


def encode_flac(samples, sample_rate: int = 16000, bits: int = 16,
                block_size: int = 4096) -> bytes:
    """PCM integers -> FLAC stream. ``samples``: array-like of shape
    (n,) mono or (n, channels); values must fit ``bits`` signed."""
    import numpy as np

    x = np.asarray(samples, dtype="int64")
    if x.ndim == 1:
        x = x[:, None]
    n, nch = x.shape
    if not (1 <= nch <= 8):
        raise ValueError("FLAC supports 1..8 channels")
    bps = bits
    if bps % 8 or bps not in _SAMPLE_SIZE_CODE:
        raise ValueError("encode_flac supports 8/16/24/32-bit samples")
    lim = 1 << (bps - 1)
    if x.size and (x.min() < -lim or x.max() >= lim):
        raise ValueError(f"samples exceed {bps}-bit signed range")

    # raw-sample MD5 (interleaved little-endian, bps/8 bytes each)
    width = bps // 8
    md5 = hashlib.md5()
    md5.update(_interleave_le_bytes(x.reshape(-1), width))

    frames = []
    frame_sizes = []
    blocksizes = []
    for fi, start in enumerate(range(0, max(n, 1), block_size)):
        blk = x[start:start + block_size]
        bs = len(blk)
        if bs == 0:
            break
        blocksizes.append(bs)
        hw = _BitWriter()
        hw.write(0b11111111111110, 14)  # sync
        hw.write(0, 1)                  # reserved
        hw.write(0, 1)                  # fixed blocking
        hw.write(0b0111, 4)             # block size: 16-bit at header end
        hw.write(0b0000, 4)             # sample rate: from STREAMINFO
        hw.write(nch - 1, 4)            # independent channels
        hw.write(_SAMPLE_SIZE_CODE[bps], 3)
        hw.write(0, 1)                  # reserved
        hw.align()
        head = bytes(hw.buf) + _utf8_encode(fi) + struct.pack(">H", bs - 1)
        head += bytes([_crc8(head)])
        fw = _BitWriter()
        for ch in range(nch):
            _encode_subframe(fw, blk[:, ch], bps)
        fw.align()
        frame = head + bytes(fw.buf)
        frame += struct.pack(">H", _crc16(frame))
        frames.append(frame)
        frame_sizes.append(len(frame))

    info = _BitWriter()
    info.write(min(blocksizes) if blocksizes else block_size, 16)
    info.write(max(blocksizes) if blocksizes else block_size, 16)
    info.write(min(frame_sizes) if frame_sizes else 0, 24)
    info.write(max(frame_sizes) if frame_sizes else 0, 24)
    info.write(sample_rate, 20)
    info.write(nch - 1, 3)
    info.write(bps - 1, 5)
    info.write(n, 36)
    info.align()
    streaminfo = bytes(info.buf) + md5.digest()
    header = b"fLaC" + bytes([0x80]) + len(streaminfo).to_bytes(3, "big") + streaminfo
    return header + b"".join(frames)


# ------------------------------------------------------------- decoder


def _read_uint_vec(r: _BitReader, cnt: int, width: int):
    """cnt consecutive width-bit unsigned reads as one int64 gather."""
    import numpy as np

    if cnt == 0 or width == 0:
        r.seek_bit(r.bitpos)  # no-op, keeps the contract symmetric
        return np.zeros(cnt, dtype=np.int64)
    bits = r.bits_arr()
    start = r.bitpos
    end = start + cnt * width
    if end > len(bits):
        raise ValueError("FLAC bitstream truncated")
    mat = bits[start:end].reshape(cnt, width).astype(np.int64)
    pw = np.left_shift(np.int64(1), np.arange(width - 1, -1, -1))
    r.seek_bit(end)
    return mat @ pw


def _read_signed_vec(r: _BitReader, cnt: int, width: int):
    import numpy as np

    v = _read_uint_vec(r, cnt, width)
    if width:
        sign = np.int64(1) << (width - 1)
        v = np.where(v & sign, v - (sign << 1), v)
    return v


def _rice_decode_vec(r: _BitReader, cnt: int, param: int):
    """cnt Rice(param) codes starting at the reader's bit position:
    stop-bit positions are found by chasing doubling jump tables over
    the partition's slice of the sorted 1-bit index (O(cnt log cnt)
    gathers instead of a per-sample Python unary loop); payload bits
    come from one (cnt x param) gather. The slice bound is exact: a
    partition's cnt codes contain exactly cnt stop bits and at most
    cnt*param payload 1-bits, so ones[j0 : j0 + cnt*(param+1)] covers
    every bit the orbit can touch — jump-table memory is bounded by the
    partition, never the stream. Bit-identical to the scalar loop it
    replaced — asserted by the hand-built-frame tests in
    tests/test_flac.py."""
    import numpy as np

    if cnt <= 0:
        return np.zeros(0, dtype=np.int64)
    ones = r.ones_pos()
    start = r.bitpos
    j0 = int(np.searchsorted(ones, start))
    local = ones[j0: j0 + cnt * (param + 1) + 1].astype(np.int64)
    n = len(local)
    if n == 0:
        raise ValueError("FLAC bitstream truncated")
    # jump: index of the stop bit one sample after stop bit j (skip the
    # stop itself + param payload bits); index n = self-looping sentinel
    nxt = np.append(
        np.searchsorted(local, local + 1 + param).astype(np.int64), n)
    orbit = np.zeros(1, dtype=np.int64)  # first stop is local[0]... if valid
    if local[0] < start:
        raise ValueError("FLAC bitstream truncated")
    tab = nxt
    while len(orbit) < cnt:
        # orbit values stay in [0, n]; index n is the sentinel row
        orbit = np.concatenate([orbit, tab[orbit]])
        tab = tab[tab]
    orbit = orbit[:cnt]
    if orbit[-1] >= n:
        raise ValueError("FLAC bitstream truncated")
    stops = local[orbit]
    starts = np.empty(cnt, dtype=np.int64)
    starts[0] = start
    starts[1:] = stops[:-1] + 1 + param
    q = stops - starts
    end = int(stops[-1]) + 1 + param
    if end > len(r.bits_arr()):
        raise ValueError("FLAC bitstream truncated")
    if param:
        pay = r.bits_arr()[stops[:, None] + 1 + np.arange(param)].astype(np.int64)
        pw = np.left_shift(np.int64(1), np.arange(param - 1, -1, -1))
        u = (q << param) | (pay @ pw)
    else:
        u = q
    r.seek_bit(end)
    return (u >> 1) ^ -(u & 1)


def _decode_residual(r: _BitReader, bs: int, order: int):
    import numpy as np

    method = r.read(2)
    if method > 1:
        raise ValueError("reserved FLAC residual coding method")
    pbits = 4 if method == 0 else 5
    escape = (1 << pbits) - 1
    partorder = r.read(4)
    nparts = 1 << partorder
    if bs % nparts:
        raise ValueError("FLAC block size not divisible by partition count")
    if partorder > 0 and (bs >> partorder) <= order:
        raise ValueError("bad FLAC partition order")
    out = []
    for part in range(nparts):
        cnt = max(0, (bs >> partorder) - (order if part == 0 else 0))
        param = r.read(pbits)
        if param == escape:
            raw = r.read(5)
            out.append(_read_signed_vec(r, cnt, raw))
        else:
            out.append(_rice_decode_vec(r, cnt, param))
    return np.concatenate(out) if out else np.zeros(0, dtype=np.int64)


def _decode_subframe(r: _BitReader, bs: int, bps: int):
    """Returns the bs decoded samples as an int64 numpy array.

    FIXED reconstruction exploits that the order-k fixed predictor is
    exactly the k-th finite difference (residual = Δ^k x), so the
    inverse is k cumulative sums seeded from the warmup samples —
    integer-exact in int64 (|x| < 2^33 even at 32 bps + wasted bits).
    LPC stays a scalar loop: the mid-stream arithmetic shift makes it a
    nonlinear recurrence with no vector form."""
    import numpy as np

    if r.read(1):
        raise ValueError("bad FLAC subframe padding bit")
    stype = r.read(6)
    wasted = 0
    if r.read(1):
        wasted = r.read_unary() + 1
        bps -= wasted
    if stype == 0:  # CONSTANT
        x = np.full(bs, r.read_signed(bps), dtype=np.int64)
    elif stype == 1:  # VERBATIM
        x = _read_signed_vec(r, bs, bps)
    elif 8 <= stype <= 12:  # FIXED
        order = stype - 8
        warm = _read_signed_vec(r, order, bps)
        res = _decode_residual(r, bs, order)
        # invariant: cur = Δ^j x over indices [j .. bs-1]; prepending
        # the warmup-derived seed Δ^{j-1}x[j-1] and integrating lowers
        # j by one, so after j=1 cur is x itself over [0 .. bs-1]
        cur = res
        for j in range(order, 0, -1):
            seed = np.diff(warm, j - 1)[0]
            cur = np.concatenate([[seed], cur]).cumsum()
        x = cur if order else res
    elif stype >= 32:  # LPC
        order = (stype & 0x1F) + 1
        warm = _read_signed_vec(r, order, bps)
        prec = r.read(4) + 1
        if prec == 16:
            raise ValueError("invalid FLAC LPC precision")
        shift = r.read_signed(5)
        coefs = [r.read_signed(prec) for _ in range(order)]
        res = _decode_residual(r, bs, order)
        x = [int(v) for v in warm]
        for i, e in enumerate(res.tolist()):
            acc = sum(c * x[order + i - 1 - j] for j, c in enumerate(coefs))
            x.append((acc >> shift) + e)
        x = np.asarray(x, dtype=np.int64)
    else:
        raise ValueError(f"reserved FLAC subframe type {stype}")
    if wasted:
        x = x << wasted
    return x


_BLOCKSIZE_FIXED = {1: 192, 2: 576, 3: 1152, 4: 2304, 5: 4608,
                    8: 256, 9: 512, 10: 1024, 11: 2048, 12: 4096,
                    13: 8192, 14: 16384, 15: 32768}


def decode_flac(payload: bytes):
    """FLAC stream -> (numpy int32 array (n, channels), sample_rate,
    bits_per_sample). Verifies frame CRC-8/CRC-16 and the STREAMINFO
    sample MD5 when present; raises ValueError on corruption."""
    import numpy as np

    b = bytes(payload)
    if b[:4] != b"fLaC":
        raise ValueError("not a FLAC stream")
    pos = 4
    streaminfo = None
    while True:
        hdr = b[pos]
        btype = hdr & 0x7F
        blen = int.from_bytes(b[pos + 1: pos + 4], "big")
        body = b[pos + 4: pos + 4 + blen]
        if btype == 0:
            streaminfo = body
        pos += 4 + blen
        if hdr & 0x80:
            break
    if streaminfo is None:
        raise ValueError("FLAC stream has no STREAMINFO")
    si = _BitReader(streaminfo)
    si.read(16), si.read(16), si.read(24), si.read(24)
    si_rate = si.read(20)
    si_nch = si.read(3) + 1
    si_bps = si.read(5) + 1
    total = si.read(36)
    si_md5 = streaminfo[18:34]

    chans = [[] for _ in range(si_nch)]
    got = 0
    # ONE reader for the whole payload: its unpacked bit array and
    # per-param Rice jump tables amortize across every frame
    r = _BitReader(b, pos)
    while got < total and pos < len(b):
        fstart = pos
        r.byte, r.bit = pos, 0
        if r.read(14) != 0b11111111111110:
            raise ValueError("lost FLAC frame sync")
        r.read(1)
        r.read(1)  # blocking strategy (coded number read the same way here)
        bs_code = r.read(4)
        sr_code = r.read(4)
        chan_code = r.read(4)
        ss_code = r.read(3)
        r.read(1)
        _utf8_decode(r)
        if bs_code == 6:
            bs = r.read(8) + 1
        elif bs_code == 7:
            bs = r.read(16) + 1
        elif bs_code in _BLOCKSIZE_FIXED:
            bs = _BLOCKSIZE_FIXED[bs_code]
        else:
            raise ValueError("reserved FLAC block size code")
        if sr_code == 0:
            rate = si_rate
        elif sr_code in _SAMPLE_RATES:
            rate = _SAMPLE_RATES[sr_code]
        elif sr_code == 12:
            rate = r.read(8) * 1000
        elif sr_code == 13:
            rate = r.read(16)
        elif sr_code == 14:
            rate = r.read(16) * 10
        else:
            raise ValueError("invalid FLAC sample rate code")
        bps = si_bps if ss_code == 0 else _SAMPLE_SIZE_BITS[ss_code]
        r.align()
        if _crc8(b[fstart:r.byte]) != b[r.byte]:
            raise ValueError("FLAC frame header CRC-8 mismatch")
        r.read(8)  # consume the CRC-8 byte

        if chan_code < 8:
            nch = chan_code + 1
            subs = [_decode_subframe(r, bs, bps) for _ in range(nch)]
        elif chan_code in (8, 9, 10):
            nch = 2
            extra0 = 1 if chan_code == 9 else 0
            extra1 = 1 if chan_code in (8, 10) else 0
            s0 = _decode_subframe(r, bs, bps + extra0)
            s1 = _decode_subframe(r, bs, bps + extra1)
            if chan_code == 8:    # left/side
                subs = [s0, s0 - s1]
            elif chan_code == 9:  # side/right
                subs = [s0 + s1, s1]
            else:                 # mid/side
                m = (s0 << 1) | (s1 & 1)
                subs = [(m + s1) >> 1, (m - s1) >> 1]
        else:
            raise ValueError("reserved FLAC channel assignment")
        if nch != si_nch:
            raise ValueError("FLAC frame channel count != STREAMINFO")
        r.align()
        crc16 = (b[r.byte] << 8) | b[r.byte + 1]
        if _crc16(b[fstart:r.byte]) != crc16:
            raise ValueError("FLAC frame CRC-16 mismatch")
        pos = r.byte + 2
        for c in range(si_nch):
            chans[c].append(subs[c])
        got += bs

    out = np.stack(
        [np.concatenate(c) if c else np.zeros(0, dtype=np.int64) for c in chans]
    ).T[:total] if chans else np.zeros((0, 0), dtype=np.int64)
    if si_md5 != b"\x00" * 16 and si_bps % 8 == 0:
        width = si_bps // 8
        md5 = hashlib.md5()
        md5.update(_interleave_le_bytes(out.reshape(-1), width))
        if md5.digest() != si_md5:
            raise ValueError("FLAC decoded-sample MD5 mismatch")
    return out.astype("int32"), si_rate, si_bps


def probe_flac(payload: bytes) -> dict:
    """STREAMINFO-only metadata (no frame decode)."""
    b = bytes(payload)
    if b[:4] != b"fLaC":
        raise ValueError("not a FLAC stream")
    si = _BitReader(b, 8)
    min_bs, max_bs = si.read(16), si.read(16)
    si.read(24), si.read(24)
    rate = si.read(20)
    nch = si.read(3) + 1
    bps = si.read(5) + 1
    total = si.read(36)
    return {
        "kind": "audio/flac", "sample_rate": rate, "channels": nch,
        "bits_per_sample": bps, "n_samples": total,
        "min_block_size": min_bs, "max_block_size": max_bs,
        "duration_s": round(total / rate, 4) if rate else None,
    }
