"""Vectorized MD5 (RFC 1321) for the hash-permutation spec's digest batches.

The portable permutation spec (SURVEY §2.6.9, oracle.perm_matrix) needs
``perm_count × n`` md5 digests per (key, test) — 2,500 per key and test at
the reference defaults. This module computes the same digests with NumPy
array ops: the 64 MD5 rounds run once per BATCH over uint32 columns
instead of once per message, so Python dispatch is paid per round, not
per digest. The rounds update preallocated per-word columns in place
(``out=``), and a message word that is equal on every row (zero padding,
a prefix shared by the whole batch) is folded into the round's scalar
addend. Measured on a 4-core x86-64
host, CPU time of one process: ~0.15 µs/digest for a 35k-row block (the
MC kernel's block size, operators/kernel.py) and ~0.29 µs for one key's
2,500 rows, against ~0.45 µs for a ``hashlib.md5`` loop and ~0.5 µs for
the earlier copy-per-round NumPy loop; identical bytes out (pinned
against hashlib in tests/test_oracle_properties.py).

This is plain RFC 1321 restated in NumPy — all round constants are the
standard ``floor(abs(sin(i+1))·2^32)`` table, and the round functions are
the usual xor forms of F and G. Only LITTLE-endian hosts run the
vectorized path (the word packing views raw bytes as '<u4'); on a
big-endian host every entry point transparently falls back to hashlib, so
results are identical everywhere.

Why not optimize the spec instead: the digest preimage layout is shared
verbatim with the DuckDB SQL oracle (md5 over ``seed|key|test|rep|pos``),
so the spec cannot get cheaper without changing the correctness contract;
this module changes only who computes the md5. The Philox
``perm_spec="fast"`` path remains the production choice at extreme key
cardinality (oracle.perm_matrix_fast).
"""

from __future__ import annotations

import hashlib

import numpy as np

_LITTLE = bool(np.little_endian)

# RFC 1321 tables: per-round left-rotate amounts, sine-derived addends, and
# the message-word index pattern of each round group.
_S = [7, 12, 17, 22] * 4 + [5, 9, 14, 20] * 4 \
    + [4, 11, 16, 23] * 4 + [6, 10, 15, 21] * 4
_K = [int(abs(np.sin(i + 1)) * 2 ** 32) & 0xFFFFFFFF for i in range(64)]
_G = list(range(16)) + [(5 * i + 1) % 16 for i in range(16, 32)] \
    + [(3 * i + 5) % 16 for i in range(32, 48)] \
    + [(7 * i) % 16 for i in range(48, 64)]
_SL = [np.uint32(s) for s in _S]
_SR = [np.uint32(32 - s) for s in _S]
_INIT = (0x67452301, 0xEFCDAB89, 0x98BADCFE, 0x10325476)


def md5_rows(data: np.ndarray, lengths: np.ndarray) -> np.ndarray:
    """MD5 of each row of a zero-padded uint8 message matrix.

    ``data``: (rows, L) uint8, row r's message in ``data[r, :lengths[r]]``.
    Returns (rows,) dtype 'S16' — the 16 raw digest bytes per row, byte-
    identical to ``hashlib.md5(msg).digest()``. Rows may need different
    block counts (lengths straddling the 55-byte single-block limit);
    every row is processed for the batch-max block count with per-row
    state masking, so mixed lengths are fine.
    """
    rows, L = data.shape
    lengths = np.asarray(lengths, dtype=np.int64)
    # trim dead columns beyond the longest row: a matrix padded wider than
    # the batch-max message would otherwise overflow the block buffer
    L = min(L, int(lengths.max()) if rows else 0)
    B = int(_nblocks(lengths.max(initial=0)))
    buf = np.zeros((rows, B * 64), dtype=np.uint8)
    buf[:, :L] = data[:, :L]
    term = np.arange(L + 1) == lengths[:, None]
    buf[:, : L + 1][term] = 0x80  # RFC padding terminator
    words = np.ascontiguousarray(
        buf.view("<u4").reshape(rows, B, 16).transpose(1, 2, 0),
        dtype=np.uint32)
    return _compress(words, lengths)


def _md5_rows_hashlib(data: np.ndarray, lengths: np.ndarray) -> np.ndarray:
    """Reference implementation (also the big-endian fallback)."""
    rows = data.shape[0]
    out = np.empty(rows, dtype="S16")
    for r in range(rows):
        out[r] = hashlib.md5(bytes(data[r, : lengths[r]])).digest()
    return out


def _nblocks(lengths: np.ndarray) -> np.ndarray:
    """64-byte blocks of each padded message (terminator + 8-byte length)."""
    return (lengths + 8) // 64 + 1


def _compress(words: np.ndarray, lengths: np.ndarray) -> np.ndarray:
    """Digests of padded messages given as per-word columns: ``words``
    (B, 16, rows) uint32 holds each row's message and 0x80 terminator,
    zeros elsewhere. Writes the bit-length trailer into each row's last
    block, then runs the 64 rounds per block in place."""
    B, _, rows = words.shape
    nblocks = _nblocks(lengths)
    bits = lengths.astype(np.uint64) * np.uint64(8)
    for blk in range(B):
        last = nblocks == blk + 1
        np.copyto(words[blk, 14], bits & np.uint64(0xFFFFFFFF),
                  casting="unsafe", where=last)
        np.copyto(words[blk, 15], bits >> np.uint64(32),
                  casting="unsafe", where=last)
    if not _LITTLE:
        msgs = np.ascontiguousarray(words.transpose(2, 0, 1), dtype="<u4")
        return _md5_rows_hashlib(msgs.view(np.uint8).reshape(rows, -1),
                                 lengths)
    state = np.empty((4, rows), dtype=np.uint32)
    for j, v in enumerate(_INIT):
        state[j] = v
    f = np.empty(rows, dtype=np.uint32)
    t = np.empty(rows, dtype=np.uint32)
    for blk in range(B):
        # a word equal on every row becomes part of the round's scalar
        # addend (mod 2^32 — the sum is associative, so the bits agree)
        cols = [int(w[0]) if rows and w.min() == w.max() else w
                for w in words[blk]]
        a, b, c, d = (state[j].copy() for j in range(4))
        for i in range(64):
            if i < 16:
                np.bitwise_xor(c, d, out=f)
                f &= b
                f ^= d
            elif i < 32:
                np.bitwise_xor(b, c, out=f)
                f &= d
                f ^= c
            elif i < 48:
                np.bitwise_xor(b, c, out=f)
                f ^= d
            else:
                np.invert(d, out=f)
                f |= b
                f ^= c
            f += a
            w = cols[_G[i]]
            if isinstance(w, int):
                f += np.uint32((_K[i] + w) & 0xFFFFFFFF)
            else:
                f += np.uint32(_K[i])
                f += w
            np.left_shift(f, _SL[i], out=t)
            f >>= _SR[i]
            f |= t
            f += b
            a, b, c, d, f = d, f, b, c, a
        if B == 1:
            state[0] += a
            state[1] += b
            state[2] += c
            state[3] += d
        else:
            # a row is live only while blk is within ITS padded length —
            # freezing finished rows is what makes mixed lengths correct
            live = blk < nblocks
            for j, x in enumerate((a, b, c, d)):
                x += state[j]
                np.copyto(state[j], x, where=live)
    return np.ascontiguousarray(state.T).view("S16").ravel()


#: (perm_count, n, shift) → (suffix words (w, P·n) uint32, lengths (P·n,)):
#: the key-independent "rep|pos" decimal tails, each followed by the 0x80
#: padding terminator and preceded by ``shift`` zero bytes (the prefix
#: length mod 4), packed into little-endian message words, built once
_SUFFIX_CACHE: dict[tuple[int, int, int], tuple[np.ndarray, np.ndarray]] = {}


def _suffix_words(perm_count: int, n: int,
                  shift: int) -> tuple[np.ndarray, np.ndarray]:
    got = _SUFFIX_CACHE.get((perm_count, n, shift))
    if got is not None:
        return got
    sufs = [f"{r}|{j}".encode() for r in range(perm_count) for j in range(n)]
    lens = np.array([len(s) for s in sufs], dtype=np.int64)
    width = -(-(shift + int(lens.max()) + 1) // 4) * 4
    mat = np.zeros((len(sufs), width), dtype=np.uint8)
    for i, s in enumerate(sufs):
        mat[i, shift : shift + len(s)] = np.frombuffer(s, dtype=np.uint8)
        mat[i, shift + len(s)] = 0x80
    words = np.ascontiguousarray(mat.view("<u4").T, dtype=np.uint32)
    _SUFFIX_CACHE[(perm_count, n, shift)] = (words, lens)
    return words, lens


def perm_digest_batch(
    prefixes: list[bytes], perm_count: int, n: int
) -> np.ndarray:
    """Digest matrices for several permutation-spec prefixes in ONE
    vectorized pass: returns (len(prefixes), perm_count, n) 'S16' where
    entry [p, r, j] = md5(prefixes[p] + b"{r}|{j}"). Batching every
    prefix (one per (key, MC test) of a block of keys) amortizes the
    fixed per-call cost of the 64 vectorized rounds. The message words
    are built per prefix length by broadcasting each prefix's words over
    the cached suffix words (shifted to the prefix's byte offset) — an OR,
    since the two never share a byte."""
    shape = (len(prefixes), perm_count, n)
    if 0 in shape:
        return np.empty(shape, dtype="S16")
    plens = np.array([len(p) for p in prefixes], dtype=np.int64)
    lengths = (plens[:, None] + _suffix_words(perm_count, n, 0)[1]).ravel()
    B = int(_nblocks(lengths.max()))
    words = np.zeros((B * 16, len(prefixes), perm_count * n), dtype=np.uint32)
    for pl in np.unique(plens).tolist():
        sel = np.flatnonzero(plens == pl)
        pre = np.zeros((len(sel), -(-pl // 4) * 4), dtype=np.uint8)
        pre[:, :pl] = np.frombuffer(
            b"".join(prefixes[i] for i in sel), dtype=np.uint8
        ).reshape(len(sel), pl)
        pw = pre.view("<u4")
        words[: pw.shape[1], sel] = pw.T[:, :, None]
        q, r = divmod(pl, 4)
        suf = _suffix_words(perm_count, n, r)[0]
        words[q : q + len(suf), sel] |= suf[:, None, :]
    return _compress(words.reshape(B, 16, -1), lengths).reshape(shape)
