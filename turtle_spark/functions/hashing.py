"""Deterministic hashing primitives (numpy-vectorized, Spark-free).

These run inside Arrow-batched pandas UDFs, so they must be (a) fully
deterministic across worker processes — no Python ``hash()``, which is
salted per process — and (b) vectorized: one numpy pass per document,
one Python loop level per *batch*, never per row of anything hot.

Used by: MinHash-LSH entity linking/near-dup (SURVEY.md §2.2 joins),
SimHash dedup, document fingerprinting.  ``xxh64_str`` is the
driver-side twin of Spark's ``xxhash64``: bucket arithmetic for point
lookups (``sources/storage.py``) and the golden oracles' key hashing.
"""

from __future__ import annotations

import struct

import numpy as np

MERSENNE61 = (1 << 61) - 1
_SHINGLE_BASE = 1_000_003
_MIX = 0x9E3779B97F4A7C15  # 64-bit golden-ratio mixing constant


def char_shingle_hashes(text: str, k: int = 5) -> np.ndarray:
    """Distinct polynomial hashes of all k-char shingles of ``text``.

    Rolling polynomial hash over the UTF-8 bytes, computed with a
    strided matrix multiply — O(len) numpy work, no Python loop.
    Returns a sorted unique ``uint64`` array (empty for short texts).
    """
    data = np.frombuffer(text.encode("utf-8", "ignore"), dtype=np.uint8)
    n = data.size - k + 1
    if n <= 0:
        return np.empty(0, dtype=np.uint64)
    powers = (
        np.power(
            np.uint64(_SHINGLE_BASE),
            np.arange(k, dtype=np.uint64),
            dtype=np.uint64,
        )
    )
    windows = np.lib.stride_tricks.sliding_window_view(data, k).astype(np.uint64)
    hashes = (windows * powers).sum(axis=1)  # wraps mod 2^64, deterministic
    return np.unique(hashes)


def stable_str_hash(s: str) -> int:
    """64-bit FNV-1a — process-independent string hash."""
    h = 0xCBF29CE484222325
    for b in s.encode("utf-8", "ignore"):
        h = ((h ^ b) * 0x100000001B3) & 0xFFFFFFFFFFFFFFFF
    return h


def minhash_permutations(num_perm: int, seed: int = 7) -> tuple[np.ndarray, np.ndarray]:
    """The (a, b) coefficient vectors for ``(a*x + b) mod 2^61-1``."""
    rs = np.random.RandomState(seed)
    a = rs.randint(1, MERSENNE61, size=num_perm, dtype=np.uint64) | np.uint64(1)
    b = rs.randint(0, MERSENNE61, size=num_perm, dtype=np.uint64)
    return a, b


def minhash_signature(
    shingles: np.ndarray, a: np.ndarray, b: np.ndarray
) -> np.ndarray:
    """MinHash signature of a shingle-hash set; int64, one value per perm.

    Empty input yields the max sentinel so empty docs never collide
    into real LSH buckets.
    """
    num_perm = a.size
    if shingles.size == 0:
        return np.full(num_perm, MERSENNE61, dtype=np.int64)
    x = shingles.astype(np.uint64) % np.uint64(MERSENNE61)
    # (num_perm, n_shingles) — fine for per-document shingle counts;
    # callers chunk very large docs upstream
    vals = (a[:, None] * x[None, :] + b[:, None]) % np.uint64(MERSENNE61)
    return vals.min(axis=1).astype(np.int64)


def band_hashes(signature: np.ndarray, bands: int) -> list[int]:
    """Fold each band of the signature into one deterministic int64 key.

    Band b of a (bands × rows) split becomes the LSH bucket key
    ``(b, band_hash)`` — two docs share a bucket iff a whole band of
    their signatures matches.
    """
    rows = signature.size // bands
    out = []
    with np.errstate(over="ignore"):  # FNV-1a relies on uint64 wraparound
        for b in range(bands):
            h = np.uint64(1469598103934665603)
            for v in signature[b * rows : (b + 1) * rows]:
                h = (h ^ np.uint64(v)) * np.uint64(1099511628211)
            # mix band index in, keep positive int64 range
            mixed = int((h ^ (np.uint64(b) * np.uint64(_MIX))) & np.uint64(0x7FFFFFFFFFFFFFFF))
            out.append(mixed)
    return out


# --------------------------------------------------------------------------
# Across-row batch variants — bitwise-identical to the per-row
# functions above (same uint64-wrapping arithmetic, same fold orders),
# but one numpy pass per Arrow BATCH instead of per document.  These
# are what the pandas UDFs call; the per-row forms remain the readable
# reference implementations and the differential-test anchors.
# --------------------------------------------------------------------------


def fnv1a64_batch(words: list[bytes]) -> np.ndarray:
    """FNV-1a of every byte string, vectorized column-wise.

    One masked numpy pass per byte POSITION (≈ max word length
    iterations) instead of one Python loop iteration per byte.
    Pathologically long "words" (> 4 KiB) are hashed individually —
    identical FNV values, but they never blow the (n x maxlen) byte
    matrix up (the column loop is O(n x maxlen))."""
    n = len(words)
    if n == 0:
        return np.empty(0, dtype=np.uint64)
    out = np.empty(n, dtype=np.uint64)
    long_idx = [i for i, w in enumerate(words) if len(w) > 4096]
    for i in long_idx:
        h = 0xCBF29CE484222325
        for byte in words[i]:
            h = ((h ^ byte) * 0x100000001B3) & 0xFFFFFFFFFFFFFFFF
        out[i] = h
    short_idx = (
        [i for i in range(n) if len(words[i]) <= 4096] if long_idx else range(n)
    )
    m = len(short_idx)
    if m:
        lens = np.fromiter((len(words[i]) for i in short_idx), dtype=np.int64, count=m)
        maxlen = int(lens.max())
        buf = np.zeros((m, maxlen), dtype=np.uint8)
        for row, i in enumerate(short_idx):
            w = words[i]
            if w:
                buf[row, : len(w)] = np.frombuffer(w, dtype=np.uint8)
        h = np.full(m, 0xCBF29CE484222325, dtype=np.uint64)
        prime = np.uint64(0x100000001B3)
        with np.errstate(over="ignore"):
            for j in range(maxlen):
                active = lens > j
                h[active] = (h[active] ^ buf[active, j].astype(np.uint64)) * prime
        out[list(short_idx)] = h
    return out


def simhash64_batch(texts: list[str]) -> np.ndarray:
    """``simhash64`` for a whole batch; int64 output, empty text -> 0.

    Processed in doc-aligned WORD chunks (~16k words) so the
    (n_words x 64) bit/contribution temporaries stay ~8 MB — the same
    large-transient memory pathology as minhash_signatures_batch."""
    word_lists = [t.split() for t in texts]
    counts = np.fromiter((len(ws) for ws in word_lists), dtype=np.int64, count=len(texts))
    out = np.zeros(len(texts), dtype=np.int64)
    nz = np.flatnonzero(counts > 0)
    if nz.size == 0:
        return out
    shifts = np.arange(64, dtype=np.uint64)
    weights = np.left_shift(np.uint64(1), shifts)
    CHUNK_WORDS = 1 << 14
    i = 0
    while i < nz.size:
        j, tot = i, 0
        while j < nz.size and (j == i or tot + counts[nz[j]] <= CHUNK_WORDS):
            tot += counts[nz[j]]
            j += 1
        docs = nz[i:j]
        chunk_words = [
            w.encode("utf-8", "ignore") for d in docs for w in word_lists[d]
        ]
        hashes = fnv1a64_batch(chunk_words)
        bits = ((hashes[:, None] >> shifts[None, :]) & np.uint64(1)).astype(np.int64)
        contrib = 2 * bits - 1
        offsets = np.concatenate(([0], np.cumsum(counts[docs])[:-1]))
        sums = np.add.reduceat(contrib, offsets, axis=0)  # (len(docs), 64)
        pos = (sums > 0).astype(np.uint64)
        vals = (pos * weights).sum(axis=1) & np.uint64(0x7FFFFFFFFFFFFFFF)
        out[docs] = vals.astype(np.int64)
        i = j
    return out


def char_shingle_hashes_batch(texts: list[str], k: int) -> list[np.ndarray]:
    """``char_shingle_hashes`` for a whole batch.

    All documents' bytes are concatenated, the polynomial window hash
    runs ONCE over the concatenation (chunked to bound memory), and
    windows crossing document boundaries are discarded by offset."""
    datas = [t.encode("utf-8", "ignore") for t in texts]
    lens = [len(d) for d in datas]
    total = sum(lens)
    if total == 0:
        return [np.empty(0, dtype=np.uint64) for _ in texts]
    buf = np.frombuffer(b"".join(datas), dtype=np.uint8)
    n_windows = max(buf.size - k + 1, 0)
    hashes = np.empty(n_windows, dtype=np.uint64)
    # O(total) prefix-polynomial rolling form of the O(total x k)
    # windowed sum (r5; bitwise identical): with P[i] = sum_{t<i}
    # buf[t]*BASE^t (all mod 2^64), every window hash is
    # h_i = (P[i+k] - P[i]) * BASE^-i — exact because BASE is odd, so
    # its inverse mod 2^64 exists and the division is a wrapped
    # multiply.  Measured 1.2x at k=5 grams, 7.8x at k=64
    # fingerprints.  Chunks stay SMALL on purpose: elementwise numpy
    # over multi-hundred-MB temporaries runs 100x+ slower per element
    # on this class of VM (large-working-set memory penalty); each
    # 256 KiB segment's five uint64 temporaries are ~2 MB apiece.
    # Segments overlap k-1 bytes and restart the power ladder at their
    # own origin, which leaves per-window values unchanged.
    CHUNK = 1 << 18
    ubase = np.uint64(_SHINGLE_BASE)
    uinv = np.uint64(pow(_SHINGLE_BASE, -1, 1 << 64))
    one = np.ones(1, dtype=np.uint64)
    with np.errstate(over="ignore"):
        for s in range(0, n_windows, CHUNK):
            e = min(s + CHUNK, n_windows)
            seg = buf[s : e + k - 1].astype(np.uint64)
            pows = np.cumprod(
                np.concatenate((one, np.full(seg.size - 1, ubase))),
                dtype=np.uint64,
            )
            seg *= pows
            P = np.concatenate(
                (np.zeros(1, dtype=np.uint64), np.cumsum(seg, dtype=np.uint64))
            )
            invp = np.cumprod(
                np.concatenate((one, np.full(e - s - 1, uinv))),
                dtype=np.uint64,
            )
            hashes[s:e] = (P[k : e - s + k] - P[: e - s]) * invp
    out = []
    pos = 0
    for length in lens:
        n = length - k + 1
        if n <= 0:
            out.append(np.empty(0, dtype=np.uint64))
        else:
            out.append(np.unique(hashes[pos : pos + n]))
        pos += length
    return out


def minhash_signatures_batch(
    shingle_sets: list[np.ndarray], a: np.ndarray, b: np.ndarray
) -> np.ndarray:
    """``minhash_signature`` for a whole batch: (n_docs, num_perm) int64.

    Documents' shingles are concatenated and the permutation matrix is
    evaluated in doc-aligned chunks; per-doc minima come from
    ``np.minimum.reduceat`` — the same wrapped-uint64 arithmetic as the
    per-row form, so outputs are bitwise identical."""
    num_perm = a.size
    n = len(shingle_sets)
    out = np.full((n, num_perm), MERSENNE61, dtype=np.int64)
    sizes = np.fromiter((s.size for s in shingle_sets), dtype=np.int64, count=n)
    nz = np.flatnonzero(sizes > 0)
    if nz.size == 0:
        return out
    # SMALL chunks on purpose: the (num_perm x chunk) modmul allocates
    # three uint64 temporaries, and elementwise numpy over
    # multi-hundred-MB transients is 100x+ slower per element on this
    # class of VM (large-working-set memory penalty; measured 0.37s vs
    # 40-126s for the SAME data at 16 MB vs 268 MB temporaries).
    # 128 perms x 16k shingles ≈ 17 MB per temporary.
    CHUNK = 1 << 14
    i = 0
    while i < nz.size:
        j, tot = i, 0
        while j < nz.size and (j == i or tot + sizes[nz[j]] <= CHUNK):
            tot += sizes[nz[j]]
            j += 1
        docs = nz[i:j]
        xs = np.concatenate([shingle_sets[d] for d in docs]).astype(np.uint64)
        xs = xs % np.uint64(MERSENNE61)
        uM = np.uint64(MERSENNE61)
        with np.errstate(over="ignore"):
            # in-place Mersenne-61 reduction of the WRAPPED product
            # (a*x mod 2^64 + b mod 2^64, then mod M — the engine's
            # pinned golden semantics): for any 64-bit y,
            # y mod M = (y & M) + (y >> 61), minus M at most once.
            # Bitwise identical to `% M` and ~1.75x faster — numpy's
            # uint64 remainder is a hardware divide per element, the
            # reduction is three cheap vector ops (r5 A/B: 12.4 ->
            # 7.1 ms on a 128 x 16k chunk)
            y = a[:, None] * xs[None, :]
            y += b[:, None]
            vals = y & uM
            y >>= np.uint64(61)
            vals += y
            np.subtract(vals, uM, out=vals, where=vals >= uM)
        offsets = np.concatenate(([0], np.cumsum(sizes[docs])[:-1]))
        mins = np.minimum.reduceat(vals, offsets, axis=1)  # (num_perm, len(docs))
        out[docs] = mins.T.astype(np.int64)
        i = j
    return out


def band_hashes_batch(signatures: np.ndarray, bands: int) -> np.ndarray:
    """``band_hashes`` for an (n_docs, num_perm) matrix -> (n_docs, bands)."""
    n, num_perm = signatures.shape
    rows = num_perm // bands
    sigs = signatures.astype(np.uint64)
    out = np.empty((n, bands), dtype=np.int64)
    prime = np.uint64(1099511628211)
    with np.errstate(over="ignore"):
        for b_idx in range(bands):
            h = np.full(n, 1469598103934665603, dtype=np.uint64)
            for r in range(rows):
                h = (h ^ sigs[:, b_idx * rows + r]) * prime
            mixed = (h ^ np.uint64((b_idx * _MIX) & 0xFFFFFFFFFFFFFFFF)) & np.uint64(
                0x7FFFFFFFFFFFFFFF
            )
            out[:, b_idx] = mixed.astype(np.int64)
    return out


def rolling_fingerprint_batch(texts: list[str], window: int = 64) -> np.ndarray:
    """``rolling_fingerprint`` for a whole batch (int64 output).

    Shingle width is per-document (min(window, char length)), so docs
    are grouped by width and each group runs one batched shingle pass;
    in real corpora almost everything lands in the k=window group."""
    n = len(texts)
    out = np.empty(n, dtype=np.int64)
    by_k: dict[int, list[int]] = {}
    for i, t in enumerate(texts):
        by_k.setdefault(min(window, max(len(t), 1)), []).append(i)
    for k, idxs in by_k.items():
        hashes = char_shingle_hashes_batch([texts[i] for i in idxs], k)
        for i, h in zip(idxs, hashes):
            if h.size == 0:
                out[i] = np.int64(stable_str_hash(texts[i]) & 0x7FFFFFFFFFFFFFFF)
            else:
                out[i] = np.int64(int(h.min()) & 0x7FFFFFFFFFFFFFFF)
    return out


def simhash64(text: str) -> int:
    """64-bit SimHash over whitespace tokens (sign-sum of token bits)."""
    words = text.split()
    if not words:
        return 0
    hashes = np.array([stable_str_hash(w) for w in words], dtype=np.uint64)
    bits = ((hashes[:, None] >> np.arange(64, dtype=np.uint64)[None, :]) & np.uint64(1)).astype(np.int64)
    sums = (2 * bits - 1).sum(axis=0)
    out = np.uint64(0)
    for i in np.nonzero(sums > 0)[0]:
        out |= np.uint64(1) << np.uint64(i)
    return int(out & np.uint64(0x7FFFFFFFFFFFFFFF))


def rolling_fingerprint(text: str, window: int = 64) -> int:
    """Deterministic document fingerprint: min rolling hash over windows.

    Winnowing-style: robust to small edits at either end of the doc.
    """
    h = char_shingle_hashes(text, k=min(window, max(len(text), 1)))
    if h.size == 0:
        # masked into int64 range like every other fingerprint — the
        # raw FNV of "" exceeds 2^63 and would overflow the LongType
        # column on the (empty-document) edge
        return stable_str_hash(text) & 0x7FFFFFFFFFFFFFFF
    return int(h.min() & np.uint64(0x7FFFFFFFFFFFFFFF))


# --------------------------------------------------------------------------
# XXH64 (public spec, seed 42 = Spark's xxhash64) — scalar, for driver-side
# keys; byte-compatible with ``F.xxhash64`` on strings (pinned by pytest)
# --------------------------------------------------------------------------

_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5
_M64 = 0xFFFFFFFFFFFFFFFF


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def _round64(acc: int, inp: int) -> int:
    acc = (acc + inp * _P2) & _M64
    return (_rotl(acc, 31) * _P1) & _M64


def _merge_round(acc: int, val: int) -> int:
    acc ^= _round64(0, val)
    return (acc * _P1 + _P4) & _M64


def xxh64(data: bytes, seed: int = 42) -> int:
    """XXH64 over ``data``; returns Spark's signed-int64 value."""
    n = len(data)
    pos = 0
    if n >= 32:
        v1 = (seed + _P1 + _P2) & _M64
        v2 = (seed + _P2) & _M64
        v3 = seed & _M64
        v4 = (seed - _P1) & _M64
        while pos + 32 <= n:
            a, b, c, d = struct.unpack_from("<QQQQ", data, pos)
            v1, v2, v3, v4 = (
                _round64(v1, a), _round64(v2, b), _round64(v3, c), _round64(v4, d)
            )
            pos += 32
        h = (_rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12) + _rotl(v4, 18)) & _M64
        for v in (v1, v2, v3, v4):
            h = _merge_round(h, v)
    else:
        h = (seed + _P5) & _M64
    h = (h + n) & _M64
    while pos + 8 <= n:
        (k1,) = struct.unpack_from("<Q", data, pos)
        h ^= _round64(0, k1)
        h = (_rotl(h, 27) * _P1 + _P4) & _M64
        pos += 8
    if pos + 4 <= n:
        (k1,) = struct.unpack_from("<I", data, pos)
        h ^= (k1 * _P1) & _M64
        h = (_rotl(h, 23) * _P2 + _P3) & _M64
        pos += 4
    while pos < n:
        h ^= (data[pos] * _P5) & _M64
        h = (_rotl(h, 11) * _P1) & _M64
        pos += 1
    h ^= h >> 33
    h = (h * _P2) & _M64
    h ^= h >> 29
    h = (h * _P3) & _M64
    h ^= h >> 32
    return h - (1 << 64) if h >= (1 << 63) else h


def xxh64_str(s: str, seed: int = 42) -> int:
    return xxh64(s.encode("utf-8"), seed)
