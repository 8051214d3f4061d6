"""Vectorized single-block MD5 (RFC 1321) over numpy uint32 lanes.

Why this exists: several operators derive *deterministic, engine
portable* randomness from ``md5(text)`` — the Poisson bootstrap draws
its per-(row, replicate) resample weights that way so a DuckDB oracle
can replay them bit-for-bit.  At scale the JVM ``md5()`` *expression*
is the wall, not the algorithm: per call it allocates a UTF8String,
a byte[], a MessageDigest round-trip, and a 32-char hex string
(measured: the sf10 bootstrap spends ~50 of its 60 s there, while
DuckDB's C md5 runs the identical plan in 8.7 s).  This module runs
the md5 *rounds themselves* as numpy uint32 vector ops — one batch of
messages hashes as 64 rounds of whole-array arithmetic, no per-row
Python and no per-row JVM objects — and is consumed from
``mapInArrow`` (Arrow batch in, digest/draw arrays out).

Scope: messages up to 55 bytes, i.e. exactly ONE 64-byte md5 block
after the 0x80 marker and the 8-byte bit length.  That covers every
key-derivation use here (``<key>|<salt>|<n>``); callers route longer
messages to a per-row fallback (``hashlib``), which keeps the output
contract exact for any input.

The round constants are the RFC 1321 table verbatim (they are defined
as floor(2^32·|sin(i)|) but hardcoded here: re-deriving them through
float sin risks an off-by-one where the fraction lands within double
rounding error of an integer).

Parity pinned against ``hashlib.md5`` over random lengths 0–55 and
random bytes in tests/test_md5np.py.
"""

from __future__ import annotations

import numpy as np

# fmt: off
_K = np.array([
    0xd76aa478, 0xe8c7b756, 0x242070db, 0xc1bdceee,
    0xf57c0faf, 0x4787c62a, 0xa8304613, 0xfd469501,
    0x698098d8, 0x8b44f7af, 0xffff5bb1, 0x895cd7be,
    0x6b901122, 0xfd987193, 0xa679438e, 0x49b40821,
    0xf61e2562, 0xc040b340, 0x265e5a51, 0xe9b6c7aa,
    0xd62f105d, 0x02441453, 0xd8a1e681, 0xe7d3fbc8,
    0x21e1cde6, 0xc33707d6, 0xf4d50d87, 0x455a14ed,
    0xa9e3e905, 0xfcefa3f8, 0x676f02d9, 0x8d2a4c8a,
    0xfffa3942, 0x8771f681, 0x6d9d6122, 0xfde5380c,
    0xa4beea44, 0x4bdecfa9, 0xf6bb4b60, 0xbebfbc70,
    0x289b7ec6, 0xeaa127fa, 0xd4ef3085, 0x04881d05,
    0xd9d4d039, 0xe6db99e5, 0x1fa27cf8, 0xc4ac5665,
    0xf4292244, 0x432aff97, 0xab9423a7, 0xfc93a039,
    0x655b59c3, 0x8f0ccc92, 0xffeff47d, 0x85845dd1,
    0x6fa87e4f, 0xfe2ce6e0, 0xa3014314, 0x4e0811a1,
    0xf7537e82, 0xbd3af235, 0x2ad7d2bb, 0xeb86d391,
], dtype=np.uint32)
# fmt: on

_S = np.array(
    [7, 12, 17, 22] * 4
    + [5, 9, 14, 20] * 4
    + [4, 11, 16, 23] * 4
    + [6, 10, 15, 21] * 4,
    dtype=np.uint32,
)

_G = np.array(
    [i for i in range(16)]
    + [(5 * i + 1) % 16 for i in range(16, 32)]
    + [(3 * i + 5) % 16 for i in range(32, 48)]
    + [(7 * i) % 16 for i in range(48, 64)],
    dtype=np.int64,
)

_INIT = (0x67452301, 0xEFCDAB89, 0x98BADCFE, 0x10325476)

MAX_SINGLE_BLOCK = 55  # bytes of message that fit one padded block


def pack_single_blocks(
    data: np.ndarray, starts: np.ndarray, lens: np.ndarray
) -> np.ndarray:
    """(concatenated message bytes, per-row start, per-row len) →
    (n, 64) uint8 padded md5 blocks (0x80 marker + little-endian bit
    length).  Every len must be ≤ ``MAX_SINGLE_BLOCK`` — caller
    guards.  Fully vectorized: the variable-length copy is ONE flat
    int32 fancy-indexed scatter (row·64 − start, repeated per byte,
    plus a running arange) — int32 because the index math was the
    measured cost, and per-batch totals stay far below 2^31."""
    n = len(lens)
    blocks = np.zeros((n, 64), dtype=np.uint8)
    if n == 0:
        return blocks
    total = int(lens.sum())
    if total:
        # int32 index math is the measured fast path; fall back to
        # int64 when a (public-API) caller hands a batch whose flat
        # block index would overflow 2^31 (n·64 or total bytes)
        idt = np.int32 if n * 64 < 2**31 and total < 2**31 else np.int64
        lens_i = lens.astype(idt, copy=False)
        base = (
            np.arange(n, dtype=idt) * idt(64)
            - np.cumsum(lens_i, dtype=idt)
            + lens_i
        )
        flat_idx = np.repeat(base, lens) + np.arange(total, dtype=idt)
        if starts[0] == 0 and (np.diff(starts) == lens[:-1]).all():
            src = data[:total]  # contiguous (the Arrow buffer case)
        else:
            src = data[
                np.repeat(
                    (starts - (np.cumsum(lens) - lens)).astype(np.int64),
                    lens,
                )
                + np.arange(total)
            ]
        blocks.reshape(-1)[flat_idx] = src
    blocks[np.arange(n), lens] = 0x80
    words = blocks.view("<u4").reshape(n, 16)
    words[:, 14] = (lens.astype(np.uint64) * 8).astype(np.uint32)
    return blocks


def append_suffix(blocks: np.ndarray, lens: np.ndarray, suffix: bytes):
    """In place: append ``suffix`` to every packed message of
    ``blocks`` (lengths ``lens``, BEFORE the suffix), moving the 0x80
    marker and bit length accordingly.  Lets a caller pack an n-row
    key matrix ONCE and stamp per-iteration suffixes (``|salt|g``)
    with len(suffix)+2 vector scatters instead of re-packing —
    the bootstrap's 8 digest groups reuse one packed key block.
    Caller guards lens + len(suffix) ≤ MAX_SINGLE_BLOCK.  Successive
    stamps on the same blocks must use non-decreasing suffix lengths
    (a shorter re-stamp would leave stale bytes beyond its marker);
    ascending ``|salt|g`` satisfies this."""
    n = blocks.shape[0]
    rows = np.arange(n)
    for i, ch in enumerate(suffix):
        blocks[rows, lens + i] = ch
    new_len = lens + len(suffix)
    blocks[rows, new_len] = 0x80
    words = blocks.view("<u4").reshape(n, 16)
    words[:, 14] = (new_len.astype(np.uint64) * 8).astype(np.uint32)


def md5_words(blocks: np.ndarray) -> tuple[np.ndarray, ...]:
    """(n, 64) uint8 padded blocks → the four little-endian digest
    words (A, B, C, D) as uint32 arrays.  64 rounds of whole-array
    uint32 arithmetic (wrapping add/and/or/xor/rotate) — the per-row
    cost is pure SIMD-width work, no Python in the loop body beyond
    the 64 iterations themselves."""
    # transpose-copy once so each round reads a CONTIGUOUS word row
    # (the (n, 16) layout strides 64 bytes per element); in-place ops
    # on two scratch vectors keep the loop allocation-free — both are
    # measured wins on million-row batches (memory-bound loop)
    m = np.ascontiguousarray(
        blocks.view("<u4").reshape(-1, 16).T
    )
    n = m.shape[1]
    a = np.full(n, _INIT[0], dtype=np.uint32)
    b = np.full(n, _INIT[1], dtype=np.uint32)
    c = np.full(n, _INIT[2], dtype=np.uint32)
    d = np.full(n, _INIT[3], dtype=np.uint32)
    f = np.empty(n, dtype=np.uint32)
    t = np.empty(n, dtype=np.uint32)
    for i in range(64):
        if i < 16:
            np.bitwise_and(b, c, out=f)
            np.bitwise_not(b, out=t)
            np.bitwise_and(t, d, out=t)
            np.bitwise_or(f, t, out=f)
        elif i < 32:
            np.bitwise_and(d, b, out=f)
            np.bitwise_not(d, out=t)
            np.bitwise_and(t, c, out=t)
            np.bitwise_or(f, t, out=f)
        elif i < 48:
            np.bitwise_xor(b, c, out=f)
            np.bitwise_xor(f, d, out=f)
        else:
            np.bitwise_not(d, out=f)
            np.bitwise_or(b, f, out=f)
            np.bitwise_xor(c, f, out=f)
        np.add(f, a, out=f)
        np.add(f, _K[i], out=f)
        np.add(f, m[_G[i]], out=f)
        s = int(_S[i])
        np.left_shift(f, np.uint32(s), out=t)
        np.right_shift(f, np.uint32(32 - s), out=f)
        np.bitwise_or(t, f, out=f)
        np.add(b, f, out=f)
        a, d, c, b, f = d, c, b, f, a
    return (
        a + np.uint32(_INIT[0]),
        b + np.uint32(_INIT[1]),
        c + np.uint32(_INIT[2]),
        d + np.uint32(_INIT[3]),
    )


def md5_digest_bytes(blocks: np.ndarray) -> np.ndarray:
    """(n, 64) padded blocks → (n, 16) uint8 digests (the bytes whose
    hex spelling is ``hashlib.md5(msg).hexdigest()``)."""
    a, b, c, d = md5_words(blocks)
    out = np.empty((blocks.shape[0], 16), dtype=np.uint8)
    for k, w in enumerate((a, b, c, d)):
        out[:, 4 * k + 0] = (w & np.uint32(0xFF)).astype(np.uint8)
        out[:, 4 * k + 1] = ((w >> np.uint32(8)) & np.uint32(0xFF)).astype(
            np.uint8
        )
        out[:, 4 * k + 2] = (
            (w >> np.uint32(16)) & np.uint32(0xFF)
        ).astype(np.uint8)
        out[:, 4 * k + 3] = (w >> np.uint32(24)).astype(np.uint8)
    return out


def u28_draws(digests: np.ndarray) -> np.ndarray:
    """(n, 16) digest bytes → (n, 4) int64 draws, each the integer
    spelled by hex digits [7j, 7j+7) of the digest — EXACTLY the value
    of the SQL ``conv(substr(md5(x), j*7+1, 7), 16, 10)`` (and the
    numeric order of the hex substring itself), so the vector path and
    the expression path produce identical resample weights."""
    d = digests.astype(np.int64)
    out = np.empty((digests.shape[0], 4), dtype=np.int64)
    out[:, 0] = (d[:, 0] << 20) | (d[:, 1] << 12) | (d[:, 2] << 4) | (
        d[:, 3] >> 4
    )
    out[:, 1] = ((d[:, 3] & 0xF) << 24) | (d[:, 4] << 16) | (
        d[:, 5] << 8
    ) | d[:, 6]
    out[:, 2] = (d[:, 7] << 20) | (d[:, 8] << 12) | (d[:, 9] << 4) | (
        d[:, 10] >> 4
    )
    out[:, 3] = ((d[:, 10] & 0xF) << 24) | (d[:, 11] << 16) | (
        d[:, 12] << 8
    ) | d[:, 13]
    return out


def u28_draws_from_words(
    a: np.ndarray, b: np.ndarray, c: np.ndarray, d: np.ndarray
) -> np.ndarray:
    """Digest words straight to the four 28-bit draws, skipping the
    (n, 16) byte matrix: the hex string is the little-endian byte
    spelling, so each 7-hex slice is a field of the BYTESWAPPED words
    (u0 = bswap(A)>>4, u1 = (bswap(A)&0xf)<<24 | bswap(B)>>8, …).
    Same values as ``u28_draws(md5_digest_bytes(...))``, ~10× faster
    (a handful of whole-array ops instead of 16 int64 byte columns)."""
    ba = a.byteswap()
    bb = b.byteswap()
    bc = c.byteswap()
    bd = d.byteswap()
    out = np.empty((a.shape[0], 4), dtype=np.int64)
    out[:, 0] = ba >> np.uint32(4)
    out[:, 1] = ((ba & np.uint32(0xF)) << np.uint32(24)) | (
        bb >> np.uint32(8)
    )
    out[:, 2] = ((bb & np.uint32(0xFF)) << np.uint32(20)) | (
        bc >> np.uint32(12)
    )
    out[:, 3] = ((bc & np.uint32(0xFFF)) << np.uint32(16)) | (
        bd >> np.uint32(16)
    )
    return out


