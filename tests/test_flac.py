"""FLAC codec (functions/flac.py): the property the format exists for
— LOSSLESSNESS — pinned bit-exactly over adversarial signals, plus
stream structure, checksum/MD5 verification, decoder generality beyond
the encoder's subset, and the Spark media seam."""

from __future__ import annotations

import struct

import numpy as np
import pytest

from turtle_spark.functions.flac import (
    _BitWriter,
    _crc8,
    _crc16,
    _utf8_number,
    _zigzag,
    decode_flac,
    encode_flac,
    sniff_flac,
)


def _roundtrip(x: np.ndarray, rate: int = 16000, **kw) -> bytes:
    enc = encode_flac(x, rate, **kw)
    sr, dec = decode_flac(enc)
    assert sr == rate
    assert dec.dtype == np.int16
    assert np.array_equal(dec, x)
    return enc


def test_lossless_roundtrip_battery():
    rng = np.random.default_rng(1)
    for x in (
        np.zeros(5000, dtype=np.int16),
        np.full(3000, -1234, dtype=np.int16),
        np.arange(-4000, 4000, dtype=np.int16),                       # ramp
        (10000 * np.sin(np.arange(20000) * 0.01)).astype(np.int16),   # tonal
        rng.integers(-32768, 32768, 10000).astype(np.int16),          # noise
        np.array([32767, -32768] * 2000, dtype=np.int16),             # extremes
        np.array([5], dtype=np.int16),
        np.empty(0, dtype=np.int16),
        rng.integers(-100, 100, 4097).astype(np.int16),               # partial tail
    ):
        _roundtrip(x)


def test_lossless_hypothesis_random_signals():
    from hypothesis import given, settings, strategies as st

    @settings(max_examples=60, deadline=None)
    @given(
        st.lists(
            st.integers(min_value=-32768, max_value=32767), max_size=700
        ),
        st.sampled_from([64, 192, 4096]),
    )
    def check(vals: list[int], block_size: int) -> None:
        x = np.array(vals, dtype=np.int16)
        _roundtrip(x, block_size=block_size)

    check()


def test_compression_is_real():
    # predictable signals must actually compress; noise must not blow up
    sine = (10000 * np.sin(np.arange(20000) * 0.01)).astype(np.int16)
    assert len(encode_flac(sine, 16000)) < 0.2 * sine.size * 2
    silence = np.zeros(20000, dtype=np.int16)
    assert len(encode_flac(silence, 16000)) < 200
    noise = np.random.default_rng(0).integers(-32768, 32768, 20000).astype(np.int16)
    assert len(encode_flac(noise, 16000)) < 1.05 * noise.size * 2


def test_stream_structure():
    x = np.arange(100, dtype=np.int16)
    enc = encode_flac(x, 8000)
    assert sniff_flac(enc)
    assert enc[:4] == b"fLaC"
    assert enc[4] == 0x80            # last metadata block, type STREAMINFO
    assert int.from_bytes(enc[5:8], "big") == 34
    info = enc[8 : 8 + 34]
    # fixed blocking: min = max blocksize; the short last block (100
    # samples here) does not count toward the minimum
    assert int.from_bytes(info[0:2], "big") == 4096
    assert int.from_bytes(info[2:4], "big") == 4096
    # STREAMINFO: samplerate 20 bits starting at byte 14 of the block
    rate = (info[10] << 12) | (info[11] << 4) | (info[12] >> 4)
    assert rate == 8000
    n_total = ((info[13] & 0x0F) << 32) | int.from_bytes(info[14:18], "big")
    assert n_total == 100
    # first frame sync: 0xFF 0xF8 (14-bit sync + reserved + fixed)
    assert enc[42] == 0xFF and enc[43] == 0xF8


def test_unknown_total_samples_decodes_every_frame():
    # total samples 0 = unknown, with no MD5 set: decode until the data
    # runs out instead of stopping before the first frame
    x = (1000 * np.sin(np.arange(9000) * 0.02)).astype(np.int16)
    enc = bytearray(encode_flac(x, 16000, block_size=4096))
    enc[8 + 13] &= 0xF0                  # high nibble: bps-1; low: total
    enc[8 + 14 : 8 + 18] = bytes(4)
    enc[8 + 18 : 8 + 34] = bytes(16)     # MD5 unset
    sr, dec = decode_flac(bytes(enc))
    assert sr == 16000
    assert np.array_equal(dec, x)


def test_corruption_is_detected():
    x = (1000 * np.sin(np.arange(5000) * 0.03)).astype(np.int16)
    enc = bytearray(encode_flac(x, 16000))
    # flip one bit in the middle of the first frame's residuals
    enc[len(enc) // 2] ^= 0x10
    with pytest.raises(ValueError):
        decode_flac(bytes(enc))


def test_md5_mismatch_is_detected():
    # craft a stream whose frames decode fine but whose STREAMINFO MD5
    # was tampered: the final integrity gate must catch it
    x = np.arange(50, dtype=np.int16)
    enc = bytearray(encode_flac(x, 16000))
    enc[8 + 18] ^= 0xFF  # first MD5 byte inside STREAMINFO
    with pytest.raises(ValueError, match="MD5"):
        decode_flac(bytes(enc))


def _handmade_frame(blk: np.ndarray, *, porder: int, method: int, wasted: int) -> bytes:
    """A spec-legal frame the ENCODER never emits: order-1 FIXED with
    ``2^porder`` residual partitions, Rice method 00/01, and optional
    wasted bits — exercising the decoder's generality."""
    bs = blk.size
    w = _BitWriter()
    w.put(0b11111111111110, 14)
    w.put(0, 2)
    w.put(0b0111, 4)
    w.put(0b0000, 4)
    w.put(0b0000, 4)
    w.put(0b100, 3)
    w.put(0, 1)
    w.align()
    header = bytearray(w.bytes())
    header += _utf8_number(0)
    header += struct.pack(">H", bs - 1)
    header.append(_crc8(bytes(header)))

    shifted = (blk >> wasted).astype(np.int64)
    body = _BitWriter()
    body.put(0, 1)
    body.put(0b001001, 6)  # FIXED order 1
    if wasted:
        body.put(1, 1)
        body.put_unary(wasted - 1)
    else:
        body.put(0, 1)
    body.put(int(shifted[0]), 16 - wasted)  # warmup
    res = np.diff(shifted)
    body.put(method, 2)
    body.put(porder, 4)
    pbits = 4 if method == 0 else 5
    n_parts = 1 << porder
    pos = 0
    for p in range(n_parts):
        count = bs // n_parts - (1 if p == 0 else 0)
        part = res[pos : pos + count]
        pos += count
        u = _zigzag(part)
        param = 3
        body.put(param, pbits)
        for i in range(count):
            body.put_unary(int(u[i]) >> param)
            body.put(int(u[i]) & ((1 << param) - 1), param)
    body.align()
    frame = bytes(header) + body.bytes()
    return frame + struct.pack(">H", _crc16(frame))


def _handmade_stream(blk: np.ndarray, frame: bytes) -> bytes:
    import hashlib

    w = _BitWriter()
    w.put(blk.size, 16)
    w.put(blk.size, 16)
    w.put(0, 24)
    w.put(0, 24)
    w.put(16000, 20)
    w.put(0, 3)
    w.put(15, 5)
    w.put(blk.size, 36)
    info = w.bytes() + hashlib.md5(
        np.ascontiguousarray(blk, dtype="<i2").tobytes()
    ).digest()
    return b"fLaC" + bytes([0x80]) + len(info).to_bytes(3, "big") + info + frame


def test_decoder_generality_partitions_rice2_wasted_bits():
    rng = np.random.default_rng(7)
    base = np.cumsum(rng.integers(-8, 9, 64)).astype(np.int16)
    for porder, method, wasted in ((1, 0, 0), (2, 0, 0), (0, 1, 0), (1, 1, 0), (1, 0, 2)):
        blk = (base << wasted).astype(np.int16) if wasted else base
        frame = _handmade_frame(blk, porder=porder, method=method, wasted=wasted)
        sr, dec = decode_flac(_handmade_stream(blk, frame))
        assert np.array_equal(dec, blk), (porder, method, wasted)


def test_media_seam_dispatch(spark):
    """FLAC payloads flow through the same Arrow decode seam as WAV and
    yield IDENTICAL signal statistics for identical samples."""
    from turtle_spark.functions.audio import audio_features, encode_wav, synth_pcm
    from turtle_spark.functions.imaging import media_decoder

    x = synth_pcm(4000, 3, 9)
    flac_feats = media_decoder(encode_flac(x, 16000), "audio", 16)
    wav_feats = media_decoder(encode_wav(x, 16000), "audio", 16)
    assert np.array_equal(flac_feats, wav_feats)
    assert np.array_equal(flac_feats, audio_features(x, 16000, 16))


def test_decoder_lpc_subframe():
    """LPC decode (what real-world encoders emit): hand-build an
    order-2 LPC frame by running the spec predictor FORWARD to derive
    the residuals, then require the decoder to reproduce the signal
    exactly."""
    rng = np.random.default_rng(11)
    blk = np.cumsum(rng.integers(-20, 21, 96)).astype(np.int64)
    order, precision, shift = 2, 12, 9
    coefs = [940, -430]  # ~1.84, -0.84 at shift 9
    res = []
    hist = list(blk[:order])
    for i in range(order, blk.size):
        pred = sum(c * hist[-j - 1] for j, c in enumerate(coefs))
        res.append(int(blk[i]) - (pred >> shift))
        hist.append(int(blk[i]))
        hist.pop(0)
    res = np.array(res, dtype=np.int64)

    bs = blk.size
    w = _BitWriter()
    w.put(0b11111111111110, 14)
    w.put(0, 2)
    w.put(0b0111, 4)
    w.put(0b0000, 4)
    w.put(0b0000, 4)
    w.put(0b100, 3)
    w.put(0, 1)
    w.align()
    header = bytearray(w.bytes())
    header += _utf8_number(0)
    header += struct.pack(">H", bs - 1)
    header.append(_crc8(bytes(header)))

    body = _BitWriter()
    body.put(0, 1)
    body.put(0b100000 | (order - 1), 6)  # LPC, order
    body.put(0, 1)                        # no wasted bits
    for v in blk[:order]:
        body.put(int(v), 16)
    body.put(precision - 1, 4)
    body.put(shift, 5)
    for c in coefs:
        body.put(c, precision)
    u = _zigzag(res)
    param = 5
    body.put(0b00, 2)
    body.put(0, 4)
    body.put(param, 4)
    for uu in u:
        body.put_unary(int(uu) >> param)
        body.put(int(uu) & ((1 << param) - 1), param)
    body.align()
    frame = bytes(header) + body.bytes()
    frame += struct.pack(">H", _crc16(frame))

    blk16 = blk.astype(np.int16)
    sr, dec = decode_flac(_handmade_stream(blk16, frame))
    assert np.array_equal(dec, blk16)


def test_every_flip_and_truncation_fails_cleanly():
    """Exhaustive robustness: ANY single bit flip or truncation of a
    valid stream either decodes (flip hit a byte with no audio effect,
    e.g. the unknown-framesize fields — the MD5 gate still passed) or
    raises ValueError/NotImplementedError — never an uncontrolled
    exception, never a hang.  A malformed payload at position 10^11 of
    a corpus must not kill the executor with a surprise error type."""
    x = (1000 * np.sin(np.arange(800) * 0.01)).astype(np.int16)
    enc = encode_flac(x, 16000)
    for i in range(len(enc)):
        mutated = bytearray(enc)
        mutated[i] ^= 0x40
        try:
            decode_flac(bytes(mutated))
        except (ValueError, NotImplementedError):
            pass
    for cut in range(len(enc)):
        try:
            decode_flac(enc[:cut])
        except (ValueError, NotImplementedError):
            pass
