"""Vectorized Guava-parity MurmurHash3 x64_128 (numpy).

Same bit-exact semantics as functions/murmur.py (UTF-16LE input, seed 0,
``asInt`` = low 32 bits of h1) but batched over an Arrow string column,
through one path for every key: the column's UTF-8 data buffer is
re-encoded to UTF-16LE in one pass, keys are grouped by encoded byte
length and each group is hashed with numpy uint64 arithmetic —
wrap-around multiplication/addition IS murmur's mod-2^64 math, so the
block loop runs L/16 vectorized steps over the whole group instead of a
Python loop per key. 10-40× faster than the scalar path on realistic key
batches; parity is property-tested against the scalar implementation.
"""

from __future__ import annotations

import uuid

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

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


def guava_shard_codes(keys: "pa.Array | list[str]") -> np.ndarray:
    """Vectorized ``murmur3_128(key).asInt() & Integer.MAX_VALUE`` for a
    ``string``/``large_string`` Arrow array (a Python list is converted
    once). Returns int64 codes; callers replace or mask null keys
    (``shard_slots``, the SQL UDFs).

    One path for every key: each key's UTF-16 length is counted from the
    UTF-8 data buffer (one code unit per byte that is not ``10xxxxxx``,
    plus one for each 4-byte lead ``>= 0xF0``, whose code point becomes a
    surrogate pair); the buffer is re-encoded to UTF-16LE in one bulk
    ``decode``/``encode``, which keeps each key's units contiguous; and
    each equal-length group is hashed by ``_hash_fixed_length``.
    """
    keys = _string_array(keys)
    n = len(keys)
    codes = np.zeros(n, dtype=np.int64)
    if n == 0:
        return codes
    offsets = np.frombuffer(keys.buffers()[1], dtype=np.int64
                            if pa.types.is_large_string(keys.type)
                            else np.int32)[keys.offset: keys.offset + n + 1]
    if offsets[-1] == offsets[0]:
        return codes
    data = np.frombuffer(keys.buffers()[2], dtype=np.uint8)[offsets[0]: offsets[-1]]
    units = np.zeros(len(data) + 1, dtype=offsets.dtype)
    np.cumsum(((data & 0xC0) != 0x80).astype(np.uint8) + (data >= 0xF0),
              dtype=units.dtype, out=units[1:])
    unit_ends = units[offsets - offsets[0]]
    starts = 2 * unit_ends[:-1]
    byte_lens = 2 * np.diff(unit_ends)
    blob = np.frombuffer(data.tobytes().decode("utf-8").encode("utf-16-le"),
                         dtype=np.uint8)
    for length in np.unique(byte_lens[byte_lens > 0]):
        idx = np.flatnonzero(byte_lens == length)
        h1 = _hash_fixed_length(blob[starts[idx][:, None] + np.arange(length)])
        codes[idx] = (h1 & np.uint64(0x7FFFFFFF)).astype(np.int64)
    return codes


def shard_slots(keys: "pa.Array | list[str | None]", total_weight: int) -> np.ndarray:
    """Weighted slot ``guava_shard_codes(key) % total_weight`` per key; a
    null or empty key gets a random route like the reference's UUID
    fallback (AbstractClickhouseLoaderMapper.java:278-280). Only those
    keys are given a UUID; whitespace is not blank."""
    keys = _string_array(keys)
    blank = pc.fill_null(pc.equal(keys, ""), True)
    n_blank = pc.sum(blank).as_py() or 0
    if n_blank:
        keys = pc.replace_with_mask(keys, blank, pa.array(
            [str(uuid.uuid4()) for _ in range(n_blank)], keys.type))
    return guava_shard_codes(keys) % total_weight


def _string_array(keys: "pa.Array | list[str | None]") -> pa.Array:
    return keys if isinstance(keys, pa.Array) else pa.array(keys, pa.string())
