"""Vectorized Guava-parity MurmurHash3 x64_128 (numpy).

Same bit-exact semantics as functions/murmur.py (UTF-16LE input, seed 0,
``asInt`` = low 32 bits of h1) but batched: keys are grouped by encoded
byte length and each group is hashed with numpy uint64 arithmetic —
wrap-around multiplication/addition IS murmur's mod-2^64 math, so the
block loop runs L/16 vectorized steps over the whole group instead of a
Python loop per key. 10-40× faster than the scalar path on realistic key
batches; parity is property-tested against the scalar implementation.
"""

from __future__ import annotations

import uuid

import numpy as np

_C1 = np.uint64(0x87C37B91114253D5)
_C2 = np.uint64(0x4CF5AD432745937F)
_M5 = np.uint64(5)
_A1 = np.uint64(0x52DCE729)
_A2 = np.uint64(0x38495AB5)
_F1 = np.uint64(0xFF51AFD7ED558CCD)
_F2 = np.uint64(0xC4CEB9FE1A85EC53)
_SHIFT33 = np.uint64(33)


def _rotl(x: np.ndarray, r: int) -> np.ndarray:
    r_ = np.uint64(r)
    inv = np.uint64(64 - r)
    return (x << r_) | (x >> inv)


def _fmix(k: np.ndarray) -> np.ndarray:
    k = k ^ (k >> _SHIFT33)
    k = k * _F1
    k = k ^ (k >> _SHIFT33)
    k = k * _F2
    return k ^ (k >> _SHIFT33)


def _hash_fixed_length(buf: np.ndarray) -> np.ndarray:
    """buf: (n, L) uint8 matrix of n keys with identical byte length L.
    Returns h1 (uint64) per key — enough for ``asInt``/shard codes."""
    n, length = buf.shape
    h1 = np.zeros(n, dtype=np.uint64)
    h2 = np.zeros(n, dtype=np.uint64)
    nblocks = length // 16
    words = buf[:, : nblocks * 16].reshape(n, nblocks, 2, 8) if nblocks else None
    for i in range(nblocks):
        k1 = words[:, i, 0, :].copy().view("<u8").reshape(n)
        k2 = words[:, i, 1, :].copy().view("<u8").reshape(n)
        k1 = _rotl(k1 * _C1, 31) * _C2
        h1 ^= k1
        h1 = _rotl(h1, 27) + h2
        h1 = h1 * _M5 + _A1
        k2 = _rotl(k2 * _C2, 33) * _C1
        h2 ^= k2
        h2 = _rotl(h2, 31) + h1
        h2 = h2 * _M5 + _A2
    tail = buf[:, nblocks * 16 :]
    tlen = tail.shape[1]
    if tlen:
        padded = np.zeros((n, 16), dtype=np.uint8)
        padded[:, :tlen] = tail
        k1 = padded[:, :8].copy().view("<u8").reshape(n)
        k2 = padded[:, 8:].copy().view("<u8").reshape(n)
        # zero k1/k2 mix is a no-op on h (x*c rotl *c of 0 is 0), matching
        # the reference's switch fall-through — apply unconditionally
        h2 ^= _rotl(k2 * _C2, 33) * _C1
        h1 ^= _rotl(k1 * _C1, 31) * _C2
    ln = np.uint64(length)
    h1 ^= ln
    h2 ^= ln
    h1 = h1 + h2
    h2 = h2 + h1
    h1 = _fmix(h1)
    h2 = _fmix(h2)
    h1 = h1 + h2
    return h1


def _codes_from_groups(codes: np.ndarray, byte_lens: np.ndarray,
                       row_bytes) -> np.ndarray:
    """Hash per equal-byte-length group; ``row_bytes(idx, length)`` yields
    the (n_group, length) uint8 matrix for that group."""
    for length in np.unique(byte_lens):
        idx = np.nonzero(byte_lens == length)[0]
        if length == 0:
            codes[idx] = 0
            continue
        h1 = _hash_fixed_length(row_bytes(idx, int(length)))
        as_int = (h1 & np.uint64(0xFFFFFFFF)).astype(np.uint32).view(np.int32)
        codes[idx] = as_int.astype(np.int64) & 0x7FFFFFFF
    return codes


def guava_shard_codes(keys: "list[str] | np.ndarray", out: np.ndarray | None = None) -> np.ndarray:
    """Vectorized ``murmur3_128(key).asInt() & Integer.MAX_VALUE`` for a
    batch of strings (UTF-16LE, Guava semantics). Returns int64 array.

    Fast path: ONE bulk ``"".join(keys).encode("utf-16-le")`` (C-speed)
    with per-key slices recovered from code-unit offsets — UTF-16LE
    encodes each code point independently, so the joined encoding equals
    the concatenation of per-key encodings. Python ``len`` counts code
    POINTS though, so when any key holds a non-BMP char (surrogate pair:
    len 1, 4 bytes) the total-length check fails and we fall back to
    per-key encodes. The per-key encode loop was ~60% of the UDF's CPU.
    """
    n = len(keys)
    codes = np.empty(n, dtype=np.int64) if out is None else out
    if n == 0:
        return codes
    units = np.fromiter((len(k) for k in keys), dtype=np.int64, count=n)
    blob = "".join(keys).encode("utf-16-le")
    if len(blob) == 2 * int(units.sum()):
        byte_lens = units * 2
        ends = np.cumsum(byte_lens)
        starts = ends - byte_lens
        arr = np.frombuffer(blob, dtype=np.uint8)

        def rows(idx, length):
            return arr[starts[idx][:, None] + np.arange(length)]

        return _codes_from_groups(codes, byte_lens, rows)
    # non-BMP fallback: exact per-key encoding
    encoded = [k.encode("utf-16-le") for k in keys]
    byte_lens = np.fromiter((len(e) for e in encoded), dtype=np.int64, count=n)

    def rows(idx, length):
        return np.frombuffer(b"".join(encoded[i] for i in idx),
                             dtype=np.uint8).reshape(len(idx), length)

    return _codes_from_groups(codes, byte_lens, rows)


def shard_slots(keys: "list[str | None]", total_weight: int) -> np.ndarray:
    """Weighted slot ``guava_shard_codes(key) % total_weight`` per key; a
    null or blank key gets a random route like the reference's UUID
    fallback (AbstractClickhouseLoaderMapper.java:278-280)."""
    return guava_shard_codes([k or str(uuid.uuid4()) for k in keys]) % total_weight
