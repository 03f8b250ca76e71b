"""Pure-Python/numpy FLAC codec (subset) — lossless compressed audio.

Speech corpora (LibriSpeech-class) ship FLAC, so the multimodal seam
needs the format the way it needs WAV: real bytes in, real samples out,
no codec deps.  This module implements the public FLAC format
(xiph.org specification / RFC 9639 subset) for 16-bit mono streams:

* ENCODER: `fLaC` magic + STREAMINFO (with the spec's MD5 of the
  unencoded samples), fixed-blocking frames, per-frame best-of
  CONSTANT / VERBATIM / FIXED-order-0..4 subframes, single-partition
  Rice-coded residuals with per-frame optimal parameter (escape to
  raw when Rice loses), CRC-8 frame-header and CRC-16 whole-frame
  checksums.
* DECODER: parses any CONSTANT / VERBATIM / FIXED(0-4) / LPC
  (order 1-32, quantized-coefficient prediction with arithmetic
  shift — what real-world encoders emit) subframe, both Rice methods
  (4- and 5-bit parameters), any residual partition order, escape
  partitions, and wasted-bits shifts; verifies both CRCs and the
  STREAMINFO MD5.  Non-mono channel assignments raise
  ``NotImplementedError`` rather than mis-decoding.

What the sandbox CAN verify — and the tests pin — is the property the
format exists for: **losslessness** (encode -> decode is bit-exact for
arbitrary int16 signals, MD5 and CRCs included) plus real compression
on predictable signals.  Spec-conformance details that only interop
with an external implementation could witness (unary polarity, CRC
polynomials 0x07 / 0x8005, STREAMINFO layout) follow the published
specification and are noted at each site.

Determinism: integer arithmetic end to end; the same bytes at any
batch shape or parallelism.
"""

from __future__ import annotations

import hashlib
import struct

import numpy as np


def _crc8(data: bytes) -> int:
    """CRC-8, polynomial 0x07 (x^8+x^2+x+1), init 0, MSB-first — the
    FLAC frame-header checksum."""
    crc = 0
    for b in data:
        crc ^= b
        for _ in range(8):
            crc = ((crc << 1) ^ 0x07) & 0xFF if crc & 0x80 else (crc << 1) & 0xFF
    return crc


def _crc16(data: bytes) -> int:
    """CRC-16, polynomial 0x8005, init 0, MSB-first — the FLAC whole-
    frame checksum."""
    crc = 0
    for b in data:
        crc ^= b << 8
        for _ in range(8):
            crc = (
                ((crc << 1) ^ 0x8005) & 0xFFFF
                if crc & 0x8000
                else (crc << 1) & 0xFFFF
            )
    return crc


class _BitWriter:
    """MSB-first bit writer (FLAC has no byte stuffing)."""

    def __init__(self) -> None:
        self.out = bytearray()
        self._acc = 0
        self._n = 0

    def put(self, value: int, bits: int) -> None:
        if bits == 0:
            return
        self._acc = (self._acc << bits) | (value & ((1 << bits) - 1))
        self._n += bits
        while self._n >= 8:
            self._n -= 8
            self.out.append((self._acc >> self._n) & 0xFF)
        self._acc &= (1 << self._n) - 1

    def put_unary(self, q: int) -> None:
        # FLAC unary: q zero bits then a terminating 1 bit
        while q >= 32:
            self.put(0, 32)
            q -= 32
        self.put(1, q + 1)

    def align(self) -> None:
        if self._n:
            self.put(0, 8 - self._n)

    def bytes(self) -> bytes:
        assert self._n == 0, "writer not byte-aligned"
        return bytes(self.out)


class _BitReader:
    """MSB-first bit reader."""

    def __init__(self, data: bytes, pos: int = 0) -> None:
        self.data = data
        self.byte = pos
        self.bit = 0

    def take(self, bits: int) -> int:
        v = 0
        for _ in range(bits):
            if self.byte >= len(self.data):
                raise ValueError("FLAC bitstream truncated")
            v = (v << 1) | ((self.data[self.byte] >> (7 - self.bit)) & 1)
            self.bit += 1
            if self.bit == 8:
                self.bit = 0
                self.byte += 1
        return v

    def take_signed(self, bits: int) -> int:
        v = self.take(bits)
        return v - (1 << bits) if v >= (1 << (bits - 1)) else v

    def take_unary(self) -> int:
        q = 0
        while self.take(1) == 0:
            q += 1
        return q

    def align(self) -> None:
        if self.bit:
            self.bit = 0
            self.byte += 1


def _utf8_number(n: int) -> bytes:
    """FLAC's UTF-8-style coded number (frame index; same scheme as
    UTF-8 code points, extended to 7 bytes / 36 bits)."""
    if n < 0x80:
        return bytes([n])
    for n_bytes in range(2, 8):
        capacity = (7 - n_bytes) + 6 * (n_bytes - 1)
        if n.bit_length() <= capacity:
            break
    tail = []
    rest = n
    for _ in range(n_bytes - 1):
        tail.append(0x80 | (rest & 0x3F))
        rest >>= 6
    lead = ((0xFF << (8 - n_bytes)) & 0xFF) | rest
    return bytes([lead] + tail[::-1])


def _read_utf8_number(r: _BitReader) -> int:
    b0 = r.take(8)
    if b0 < 0x80:
        return b0
    n_bytes = 0
    mask = 0x80
    while b0 & mask:
        n_bytes += 1
        mask >>= 1
    v = b0 & (mask - 1)
    for _ in range(n_bytes - 1):
        bx = r.take(8)
        if bx & 0xC0 != 0x80:
            raise ValueError("bad UTF-8-coded frame number")
        v = (v << 6) | (bx & 0x3F)
    return v


def _zigzag(res: np.ndarray) -> np.ndarray:
    """FLAC residual folding: n>=0 -> 2n, n<0 -> -2n-1."""
    return np.where(res >= 0, res << 1, ((-res) << 1) - 1).astype(np.int64)


def _unzigzag(u: int) -> int:
    return (u >> 1) if (u & 1) == 0 else -((u + 1) >> 1)


def _rice_bits(u: np.ndarray, param: int) -> int:
    return int((u >> param).sum()) + u.size * (param + 1)


def _best_rice_param(u: np.ndarray) -> tuple[int, int]:
    best_p, best_bits = 0, _rice_bits(u, 0)
    for p in range(1, 15):
        bits = _rice_bits(u, p)
        if bits < best_bits:
            best_p, best_bits = p, bits
    return best_p, best_bits


def sniff_flac(data: bytes) -> bool:
    return len(data) >= 4 and data[:4] == b"fLaC"


def encode_flac(
    samples: np.ndarray, sample_rate: int, block_size: int = 4096
) -> bytes:
    """int16 mono samples -> FLAC stream (fixed predictors, lossless)."""
    x = np.asarray(samples, dtype=np.int64)
    n_total = x.size
    md5 = hashlib.md5(
        np.ascontiguousarray(samples, dtype="<i2").tobytes()
    ).digest()

    # STREAMINFO bits: 16+16 min/max blocksize, 24+24 min/max framesize
    # (0 = unknown), 20 samplerate, 3 channels-1, 5 bps-1, 36 total
    # samples, then the 16-byte MD5 of the unencoded samples.  Fixed
    # blocking: min = max = block_size (the short last block is exempt)
    w = _BitWriter()
    w.put(block_size, 16)
    w.put(block_size, 16)
    w.put(0, 24)
    w.put(0, 24)
    w.put(sample_rate, 20)
    w.put(0, 3)
    w.put(15, 5)
    w.put(n_total, 36)
    info = w.bytes() + md5
    out = bytearray(b"fLaC")
    # metadata block header: 1 bit last-block, 7 bits type (0 =
    # STREAMINFO), 24 bits length
    out += bytes([0x80]) + len(info).to_bytes(3, "big") + info

    # an empty input is a header-only stream: zero frames, MD5 of b""
    for fi, start in enumerate(range(0, n_total, block_size)):
        out += _encode_frame(x[start : start + block_size], fi)
    return bytes(out)


def _encode_frame(blk: np.ndarray, frame_index: int) -> bytes:
    bs = blk.size
    w = _BitWriter()
    w.put(0b11111111111110, 14)  # sync code
    w.put(0, 1)                  # reserved
    w.put(0, 1)                  # blocking strategy: fixed
    w.put(0b0111, 4)             # blocksize: 16-bit value-1 follows
    w.put(0b0000, 4)             # samplerate: from STREAMINFO
    w.put(0b0000, 4)             # channel assignment: mono
    w.put(0b100, 3)              # sample size: 16 bits
    w.put(0, 1)                  # reserved
    w.align()
    header = bytearray(w.bytes())
    header += _utf8_number(frame_index)
    header += struct.pack(">H", bs - 1)
    header.append(_crc8(bytes(header)))

    body = _BitWriter()
    _encode_subframe(body, blk)
    body.align()
    frame = bytes(header) + body.bytes()
    return frame + struct.pack(">H", _crc16(frame))


def _write_rice_partition(
    w: _BitWriter, res: np.ndarray, u: np.ndarray, param: int
) -> None:
    """One residual partition, method 00 (4-bit Rice parameter), with
    the spec's escape to raw residuals when Rice loses (an order-4
    difference of int16 can reach 16*32768, so the raw width is sized
    from the data, up to the field's 31-bit max)."""
    need = (int(np.abs(res).max()) if res.size else 0).bit_length() + 1
    need = min(max(need, 1), 31)
    if param >= 15 or _rice_bits(u, param) >= u.size * need + 5:
        w.put(0b1111, 4)  # escape code
        w.put(need, 5)    # raw residual bit width
        for v in res:
            w.put(int(v), need)
        return
    w.put(param, 4)
    qs = (u >> param).tolist()
    lows = (u & ((1 << param) - 1)).tolist() if param else None
    for i, q in enumerate(qs):
        w.put_unary(int(q))
        if param:
            w.put(int(lows[i]), param)


def _encode_subframe(w: _BitWriter, blk: np.ndarray) -> None:
    bs = blk.size
    if bs and bool(np.all(blk == blk[0])):
        w.put(0, 1)          # zero pad bit
        w.put(0b000000, 6)   # CONSTANT
        w.put(0, 1)          # wasted-bits flag: none
        w.put(int(blk[0]), 16)
        return
    best = None
    for order in range(0, min(5, bs)):
        res = blk.copy()
        for _ in range(order):
            res = np.diff(res)
        u = _zigzag(res)
        param, bits = _best_rice_param(u)
        bits += order * 16
        if best is None or bits < best[0]:
            best = (bits, order, param, res, u)
    bits, order, param, res, u = best
    if bits >= bs * 16:
        w.put(0, 1)
        w.put(0b000001, 6)   # VERBATIM
        w.put(0, 1)
        for v in blk:
            w.put(int(v), 16)
        return
    w.put(0, 1)
    w.put(0b001000 | order, 6)  # FIXED, order in the low 3 bits
    w.put(0, 1)                 # wasted-bits flag: none
    for v in blk[:order]:       # warmup samples, full precision
        w.put(int(v), 16)
    w.put(0b00, 2)              # residual method: 4-bit Rice
    w.put(0, 4)                 # partition order 0 (one partition)
    _write_rice_partition(w, res, u, param)


def decode_flac(data: bytes) -> tuple[int, np.ndarray]:
    """FLAC bytes -> (sample_rate, int16 mono samples), verifying the
    frame CRCs and the STREAMINFO MD5."""
    if not sniff_flac(data):
        raise ValueError("not a FLAC payload")
    pos = 4
    sample_rate = None
    n_total = None
    md5_expect = None
    # metadata blocks
    while True:
        if pos + 4 > len(data):
            raise ValueError("FLAC metadata truncated")
        head = data[pos]
        last = bool(head & 0x80)
        btype = head & 0x7F
        length = int.from_bytes(data[pos + 1 : pos + 4], "big")
        body = data[pos + 4 : pos + 4 + length]
        if btype == 0:  # STREAMINFO
            r = _BitReader(body)
            r.take(16)  # min blocksize
            r.take(16)  # max blocksize
            r.take(24)
            r.take(24)
            sample_rate = r.take(20)
            channels = r.take(3) + 1
            bps = r.take(5) + 1
            n_total = r.take(36)
            md5_expect = body[18:34]
            if channels != 1 or bps != 16:
                raise NotImplementedError(
                    f"only 16-bit mono FLAC supported (ch={channels}, bps={bps})"
                )
        pos += 4 + length
        if last:
            break
    if sample_rate is None:
        raise ValueError("FLAC missing STREAMINFO")

    # total samples 0 means "unknown": decode frames until the data
    # runs out, and there is no count to check
    known = n_total > 0
    out: list[np.ndarray] = []
    got = 0
    while (got < n_total or not known) and pos < len(data):
        blk, pos = _decode_frame(data, pos, sample_rate)
        out.append(blk)
        got += blk.size
    samples = (
        np.concatenate(out).astype(np.int16) if out else np.empty(0, np.int16)
    )
    if known and samples.size != n_total:
        raise ValueError(
            f"FLAC stream ended early: {samples.size} of {n_total} samples"
        )
    md5_got = hashlib.md5(
        np.ascontiguousarray(samples, dtype="<i2").tobytes()
    ).digest()
    if md5_expect not in (b"\x00" * 16, md5_got):
        raise ValueError("FLAC MD5 mismatch — decoded audio is not the original")
    return sample_rate, samples


_BLOCKSIZE_CODE = {
    0b0001: 192, 0b0010: 576, 0b0011: 1152, 0b0100: 2304, 0b0101: 4608,
    0b1000: 256, 0b1001: 512, 0b1010: 1024, 0b1011: 2048, 0b1100: 4096,
    0b1101: 8192, 0b1110: 16384, 0b1111: 32768,
}


def _decode_frame(data: bytes, pos: int, streaminfo_rate: int) -> tuple[np.ndarray, int]:
    start = pos
    r = _BitReader(data, pos)
    if r.take(14) != 0b11111111111110:
        raise ValueError(f"bad frame sync at byte {pos}")
    r.take(1)                      # reserved
    r.take(1)                      # blocking strategy
    bs_code = r.take(4)
    sr_code = r.take(4)
    ch_code = r.take(4)
    size_code = r.take(3)
    r.take(1)                      # reserved
    _read_utf8_number(r)
    if bs_code == 0b0110:
        bs = r.take(8) + 1
    elif bs_code == 0b0111:
        bs = r.take(16) + 1
    elif bs_code in _BLOCKSIZE_CODE:
        bs = _BLOCKSIZE_CODE[bs_code]
    else:
        raise ValueError("reserved blocksize code")
    if sr_code == 0b1100:
        r.take(8)
    elif sr_code in (0b1101, 0b1110):
        r.take(16)
    if ch_code != 0:
        raise NotImplementedError("only mono channel assignment supported")
    bps = {0b100: 16}.get(size_code)
    if bps is None:
        raise NotImplementedError("only 16-bit sample size supported")
    r.align()
    header_end = r.byte
    if header_end >= len(data):
        raise ValueError("FLAC frame header truncated")
    crc8 = data[header_end]
    if _crc8(data[start:header_end]) != crc8:
        raise ValueError("frame header CRC-8 mismatch")
    r = _BitReader(data, header_end + 1)

    blk = _decode_subframe(r, bs, bps)

    r.align()
    if r.byte + 2 > len(data):
        raise ValueError("FLAC frame footer truncated")
    (crc16,) = struct.unpack_from(">H", data, r.byte)
    if _crc16(data[start : r.byte]) != crc16:
        raise ValueError("frame CRC-16 mismatch")
    return blk, r.byte + 2


def _decode_subframe(r: _BitReader, bs: int, bps: int) -> np.ndarray:
    if r.take(1) != 0:
        raise ValueError("subframe padding bit set")
    stype = r.take(6)
    wasted = 0
    if r.take(1):  # wasted-bits flag: k wasted, k-1 in unary
        wasted = r.take_unary() + 1
    eff = bps - wasted
    if stype == 0b000000:  # CONSTANT
        v = r.take_signed(eff)
        out = np.full(bs, v, dtype=np.int64)
    elif stype == 0b000001:  # VERBATIM
        out = np.array([r.take_signed(eff) for _ in range(bs)], dtype=np.int64)
    elif 0b001000 <= stype <= 0b001100:  # FIXED order 0..4
        order = stype & 0b000111
        warm = [r.take_signed(eff) for _ in range(order)]
        res = _decode_residual(r, bs, order)
        out = np.empty(bs, dtype=np.int64)
        out[:order] = warm
        if order == 0:
            out[:] = res
        else:
            # invert the order-k finite difference by k cumulative sums,
            # each seeded by the corresponding warmup difference — exact
            # integer inversion of the encoder's repeated np.diff
            seq = np.asarray(res, dtype=np.int64)
            warm_arr = np.array(warm, dtype=np.int64)
            seeds = [warm_arr.copy()]
            for _ in range(order - 1):
                seeds.append(np.diff(seeds[-1]))
            for k in range(order, 0, -1):
                seed = seeds[k - 1][-1]  # last warmup value at depth k-1
                seq = seed + np.cumsum(seq)
            out[order:] = seq
    elif stype >= 0b100000:  # LPC, order = low 5 bits + 1
        order = (stype & 0b011111) + 1
        warm = [r.take_signed(eff) for _ in range(order)]
        # coefficient precision: 4 bits, value-1 (1111 is invalid)
        prec_code = r.take(4)
        if prec_code == 0b1111:
            raise ValueError("invalid LPC coefficient precision code")
        precision = prec_code + 1
        shift = r.take_signed(5)
        if shift < 0:
            raise ValueError("negative LPC shift")
        coefs = [r.take_signed(precision) for _ in range(order)]
        res = _decode_residual(r, bs, order)
        out = np.empty(bs, dtype=np.int64)
        out[:order] = warm
        hist = list(warm)
        # prediction = (sum coef[j] * x[i-1-j]) >> shift, exact ints —
        # arithmetic shift per the spec, applied before adding the
        # residual
        for i, rv in enumerate(res):
            pred = sum(c * hist[-j - 1] for j, c in enumerate(coefs))
            nxt = int(rv) + (pred >> shift)
            out[order + i] = nxt
            hist.append(nxt)
            if len(hist) > order:
                hist.pop(0)
    else:
        raise ValueError(f"reserved subframe type {stype:06b}")
    if wasted:
        out = out << wasted
    return out


def _decode_residual(r: _BitReader, bs: int, order: int) -> np.ndarray:
    method = r.take(2)
    if method not in (0b00, 0b01):
        raise ValueError("reserved residual coding method")
    pbits = 4 if method == 0b00 else 5
    escape = (1 << pbits) - 1
    porder = r.take(4)
    n_parts = 1 << porder
    if bs % n_parts:
        raise ValueError("blocksize not divisible by partition count")
    out: list[int] = []
    for p in range(n_parts):
        count = bs // n_parts - (order if p == 0 else 0)
        param = r.take(pbits)
        if param == escape:
            raw = r.take(5)
            out.extend(
                r.take_signed(raw) if raw else 0 for _ in range(count)
            )
            continue
        for _ in range(count):
            q = r.take_unary()
            low = r.take(param) if param else 0
            out.append(_unzigzag((q << param) | low))
    return np.array(out, dtype=np.int64)
