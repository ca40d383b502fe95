"""Winnowing document fingerprints (rolling hash + window minimum).

Implements the standard winnowing scheme (Schleimer, Wilkerson, Aiken —
"Winnowing: Local Algorithms for Document Fingerprinting", SIGMOD 2003):
k-gram rolling hashes, then the minimum hash per sliding window of w
hashes, keeping rightmost minima. Deterministic, so fingerprints are
stable across runs and machines.

This is the one text op that is genuinely iterative per document, so it
runs as an Arrow UDF (SURVEY §7: Python UDFs only where built-ins
can't express the semantics). The md5/exact fingerprints in
functions/text.py stay fully native.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, LongType

_B = 1_000_003          # polynomial base
_M = (1 << 61) - 1      # Mersenne modulus


def winnow(text: str, k: int = 8, w: int = 4) -> list[int]:
    s = text.lower()
    n = len(s)
    if n < k:
        return []
    # rolling k-gram hashes
    pow_k = pow(_B, k - 1, _M)
    h = 0
    hashes = []
    for i, ch in enumerate(s):
        h = (h * _B + ord(ch)) % _M
        if i >= k:
            h = (h - ord(s[i - k]) * pow_k * _B) % _M
        if i >= k - 1:
            hashes.append(h)
    # winnow: rightmost minimum of each window of w hashes
    out: list[int] = []
    last = -1
    for start in range(0, len(hashes) - w + 1):
        window = hashes[start:start + w]
        m = min(window)
        idx = start + max(i for i, v in enumerate(window) if v == m)
        if idx != last:
            out.append(m)
            last = idx
    return out


def winnow_batch(texts: list, k: int = 8, w: int = 4) -> list:
    """Vectorized :func:`winnow` over a whole batch of texts — bit-exact
    the same fingerprints (parity pinned by tests/test_llm_operators.py),
    ~2 orders of magnitude fewer Python-interpreter steps.

    All lowered texts are joined and UTF-32-encoded in ONE C pass, the
    k-gram hashes are computed positionally over the concatenated
    code-point array (``H[p] = Σ_j ord[p+j]·B^{k-1-j} mod M`` — the same
    value the scalar rolling recurrence yields at every position), and
    window minima / rightmost-min dedup run as w shifted-array folds.
    Positions whose k-gram or window crosses a document boundary are
    masked out, so per-document results equal the per-document scalar
    runs exactly.

    Modular arithmetic stays overflow-free in uint64: code points are
    < 2^21 and each weight W = B^j mod M splits as W = Wh·2^31 + Wl
    (Wh < 2^30, Wl < 2^31), so ord·Wh < 2^51 and multiplying by 2^31
    mod the Mersenne M = 2^61−1 is the 61-bit rotation
    ``(x>>30) + ((x & (2^30−1)) << 31)`` (2^61 ≡ 1 mod M). Each
    unreduced term is then < 2^61 + 2^52 + 2^21 < 2^61.01, so four of
    them sum under 2^63.1 — folding the accumulator once mid-loop
    (value-preserving mod M: 2^61 ≡ 1) keeps eight terms inside uint64,
    and two final folds + one conditional subtract finish the
    reduction exactly (uint64 wrap never occurs, so every value equals
    the scalar path's Python-int arithmetic mod M).
    """
    if k > 8:
        # 4 unreduced terms < 2^63.1 per fold window (see docstring)
        raise ValueError(f"winnow_batch: k must be <= 8, got {k}")
    M = np.uint64(_M)
    lowered = [(t or "").lower() for t in texts]
    # one bulk encode; utf-32-le has no BOM, so the join's encoding is
    # the concatenation of each text's code points
    buf = "".join(lowered).encode("utf-32-le")
    o = np.frombuffer(buf, dtype="<u4").astype(np.uint64)
    lens = np.fromiter((len(s) for s in lowered), dtype=np.int64,
                       count=len(lowered))
    starts = np.zeros(len(lowered) + 1, dtype=np.int64)
    np.cumsum(lens, out=starts[1:])
    n_total = int(o.size)
    n_hash = n_total - k + 1           # k-gram positions (global)
    n_win = n_hash - w + 1             # window positions (global)
    if n_win < 1:
        # fresh list per row (the main path returns fresh lists too;
        # a shared [] would alias mutations across rows)
        return [[] for _ in lowered]
    # --- k-gram hashes at every global position (in-place passes;
    # allocations per term: the two products and the rot mask only) ---
    _s30, _s31, _s61 = np.uint64(30), np.uint64(31), np.uint64(61)
    _m30 = np.uint64((1 << 30) - 1)
    acc = np.zeros(n_hash, dtype=np.uint64)
    for j in range(k):
        wgt = pow(_B, k - 1 - j, _M)
        wh = np.uint64(wgt >> 31)
        wl = np.uint64(wgt & ((1 << 31) - 1))
        seg = o[j:j + n_hash]
        t1 = seg * wh                  # < 2^51
        low = t1 & _m30
        t1 >>= _s30
        low <<= _s31
        t1 += low                      # ord·Wh·2^31 mod M, < 2^61 + 2^21
        t1 += seg * wl                 # + ord·Wl (< 2^52): term < 2^61.01
        acc += t1
        if j == 3 and k > 4:           # mid-loop fold keeps 8 terms safe
            acc = (acc >> _s61) + (acc & M)
    h = (acc >> _s61) + (acc & M)
    h = (h >> _s61) + (h & M)
    h = np.where(h >= M, h - M, h)
    # --- rightmost window minimum per global window position ---
    m = h[:n_win].copy()
    off = np.zeros(n_win, dtype=np.int64)
    for j in range(1, w):
        c = h[j:j + n_win]
        upd = c <= m                                    # later j wins ties
        np.copyto(m, c, where=upd)
        off[upd] = j
    gidx = np.arange(n_win, dtype=np.int64) + off
    # --- keep a window iff its chosen index differs from the previous
    # window's (the scalar `last` rule; chosen indices are non-decreasing
    # within a document, so only the immediate predecessor matters) ---
    keep = np.empty(n_win, dtype=bool)
    keep[0] = True
    np.not_equal(gidx[1:], gidx[:-1], out=keep[1:])
    # force keep at each document's FIRST valid window (its scalar run
    # starts with last = -1, independent of the previous document)
    first = starts[:-1][lens >= k + w - 1]
    keep[first[first < n_win]] = True
    # --- mask windows whose span crosses a document boundary ---
    # window at p covers code points [p, p+k+w-2] ⇒ valid for doc d iff
    # starts[d] <= p and p + k + w - 2 < starts[d+1]. Map position→doc
    # with one repeat pass (zero-length docs repeat zero times, so each
    # position lands on the doc whose code-point range contains it).
    pos_doc = np.repeat(np.arange(len(lowered), dtype=np.int64),
                        lens)[:n_win]
    valid = np.arange(n_win, dtype=np.int64) + (k + w - 2) < \
        starts[pos_doc + 1]
    sel = keep & valid
    pos = np.nonzero(sel)[0]
    vals = m[pos].astype(np.int64)
    doc_of = pos_doc[pos]
    counts = np.bincount(doc_of, minlength=len(lowered))
    splits = np.cumsum(counts)[:-1]
    parts = np.split(vals, splits)
    return [p.tolist() for p in parts]


def winnow_udf(k: int = 8, w: int = 4) -> Column:
    @F.arrow_udf(ArrayType(LongType()))
    def _winnow(texts: pa.Array) -> pa.Array:
        return pa.array(winnow_batch(texts.to_pylist(), k, w),
                        pa.list_(pa.int64()))

    return _winnow
