"""Pure-Python BLAKE3 (default hash mode), implemented from the public
BLAKE3 specification (BLAKE3-team/BLAKE3-specs, "BLAKE3: one function,
fast everywhere").

Closes the last crypto-family gap vs the reference
(datafusion/functions/src/crypto/digest.rs, DigestAlgorithm::Blake3):
neither hashlib, Spark, nor DuckDB exposes BLAKE3, so `digest(x,'blake3')`
needs its own kernel. Correctness-oriented — this is Python-speed and is
invoked through an Arrow-batched pandas UDF (functions/kernels.py
``blake3``); it is a compatibility surface, not a hot-path
kernel. Verified against the reference implementation's published test
vectors (tests/test_api.py::test_blake3_known_vectors).
"""

from __future__ import annotations

import struct

_IV = (
    0x6A09E667, 0xBB67AE85, 0x3C6EF372, 0xA54FF53A,
    0x510E527F, 0x9B05688C, 0x1F83D9AB, 0x5BE0CD19,
)
_MSG_PERM = (2, 6, 3, 10, 7, 0, 4, 13, 1, 11, 12, 5, 9, 14, 15, 8)
_CHUNK_START, _CHUNK_END, _PARENT, _ROOT = 1, 2, 4, 8
_MASK = 0xFFFFFFFF
_CHUNK_LEN, _BLOCK_LEN = 1024, 64


def _g(st: list, a: int, b: int, c: int, d: int, mx: int, my: int) -> None:
    st[a] = (st[a] + st[b] + mx) & _MASK
    x = st[d] ^ st[a]
    st[d] = ((x >> 16) | (x << 16)) & _MASK
    st[c] = (st[c] + st[d]) & _MASK
    x = st[b] ^ st[c]
    st[b] = ((x >> 12) | (x << 20)) & _MASK
    st[a] = (st[a] + st[b] + my) & _MASK
    x = st[d] ^ st[a]
    st[d] = ((x >> 8) | (x << 24)) & _MASK
    st[c] = (st[c] + st[d]) & _MASK
    x = st[b] ^ st[c]
    st[b] = ((x >> 7) | (x << 25)) & _MASK


def _compress(cv, m, counter: int, block_len: int, flags: int) -> list:
    st = [
        cv[0], cv[1], cv[2], cv[3], cv[4], cv[5], cv[6], cv[7],
        _IV[0], _IV[1], _IV[2], _IV[3],
        counter & _MASK, (counter >> 32) & _MASK, block_len, flags,
    ]
    m = list(m)
    for r in range(7):
        _g(st, 0, 4, 8, 12, m[0], m[1])
        _g(st, 1, 5, 9, 13, m[2], m[3])
        _g(st, 2, 6, 10, 14, m[4], m[5])
        _g(st, 3, 7, 11, 15, m[6], m[7])
        _g(st, 0, 5, 10, 15, m[8], m[9])
        _g(st, 1, 6, 11, 12, m[10], m[11])
        _g(st, 2, 7, 8, 13, m[12], m[13])
        _g(st, 3, 4, 9, 14, m[14], m[15])
        if r < 6:
            m = [m[p] for p in _MSG_PERM]
    for i in range(8):
        st[i] ^= st[i + 8]
        st[i + 8] ^= cv[i]
    return st


def _words(block: bytes):
    return struct.unpack("<16I", block.ljust(_BLOCK_LEN, b"\0"))


def _node_output(data: bytes, chunk_counter: int):
    """(cv, block_words, counter, block_len, flags) of this subtree root's
    FINAL compression — deferred so the caller can add ROOT (and spin the
    output counter for XOF) only at the true tree root."""
    n_chunks = max(1, (len(data) + _CHUNK_LEN - 1) // _CHUNK_LEN)
    if n_chunks == 1:
        blocks = [data[i : i + _BLOCK_LEN] for i in range(0, len(data), _BLOCK_LEN)] or [b""]
        cv = list(_IV)
        for bi, blk in enumerate(blocks[:-1]):
            cv = _compress(
                cv, _words(blk), chunk_counter, len(blk),
                _CHUNK_START if bi == 0 else 0,
            )[:8]
        last = blocks[-1]
        flags = (_CHUNK_START if len(blocks) == 1 else 0) | _CHUNK_END
        return cv, _words(last), chunk_counter, len(last), flags
    # left subtree takes the largest power-of-two number of chunks that
    # still leaves the right non-empty (spec §2.1 tree structure)
    left_chunks = 1 << ((n_chunks - 1).bit_length() - 1)
    split = left_chunks * _CHUNK_LEN
    l_cv = _compress(*_node_output(data[:split], chunk_counter))[:8]
    r_cv = _compress(*_node_output(data[split:], chunk_counter + left_chunks))[:8]
    return list(_IV), tuple(l_cv + r_cv), 0, _BLOCK_LEN, _PARENT


def blake3(data: bytes, out_len: int = 32) -> bytes:
    cv, block, _counter, block_len, flags = _node_output(data, 0)
    out = bytearray()
    ocounter = 0
    while len(out) < out_len:
        st = _compress(cv, block, ocounter, block_len, flags | _ROOT)
        out += struct.pack("<16I", *st)
        ocounter += 1
    return bytes(out[:out_len])
