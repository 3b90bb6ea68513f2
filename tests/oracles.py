"""Scalar reference implementations the native kernels are tested
against: Jaro-Winkler and Levenshtein (functions/jw_native.py),
union-find components and the single-linkage sweep
(functions/uf_native.py), and BLAKE3 (functions/b3_native.py).

They are deliberately plain — one loop, no vectorisation — so they
read as the specification rather than as a second optimised route.
"""

from __future__ import annotations

import struct

import numpy as np


def _jaro(s1: str, s2: str) -> float:
    if s1 == s2:
        return 1.0
    l1, l2 = len(s1), len(s2)
    if l1 == 0 or l2 == 0:
        return 0.0
    window = max(l1, l2) // 2 - 1
    if window < 0:
        window = 0
    flags1 = [False] * l1
    flags2 = [False] * l2
    matches = 0
    for i, c in enumerate(s1):
        lo, hi = max(0, i - window), min(l2, i + window + 1)
        for j in range(lo, hi):
            if not flags2[j] and s2[j] == c:
                flags1[i] = flags2[j] = True
                matches += 1
                break
    if matches == 0:
        return 0.0
    # transpositions: matched chars out of order
    k = 0
    transpositions = 0
    for i in range(l1):
        if flags1[i]:
            while not flags2[k]:
                k += 1
            if s1[i] != s2[k]:
                transpositions += 1
            k += 1
    t = transpositions / 2
    m = matches
    return (m / l1 + m / l2 + (m - t) / m) / 3.0


def _jaro_winkler(s1: str, s2: str, prefix_weight: float = 0.1) -> float:
    j = _jaro(s1, s2)
    if j <= 0.7:
        return j
    prefix = 0
    for c1, c2 in zip(s1[:4], s2[:4]):
        if c1 == c2:
            prefix += 1
        else:
            break
    return j + prefix * prefix_weight * (1.0 - j)


def _lev_sim_py(a: str, b: str) -> float:
    """Scalar normalised Levenshtein similarity — same semantics as the
    C lev_one (plain codepoint DP)."""
    l1, l2 = len(a), len(b)
    if l1 == 0 and l2 == 0:
        return 1.0
    if l1 == 0 or l2 == 0:
        return 0.0
    if a == b:
        return 1.0
    prev = list(range(l2 + 1))
    for i in range(1, l1 + 1):
        cur = [i] + [0] * l2
        ca = a[i - 1]
        for j in range(1, l2 + 1):
            cur[j] = min(
                prev[j - 1] + (b[j - 1] != ca), prev[j] + 1, cur[j - 1] + 1
            )
        prev = cur
    return 1.0 - prev[l2] / max(l1, l2)


def union_find_numpy(src: np.ndarray, dst: np.ndarray, nodes: np.ndarray) -> np.ndarray:
    """Plain union-find with path compression; root = min id.

    Semantics match the reference's UnionFind sweep
    (builder.rs:146-218): every union picks the smaller representative
    so labels are deterministic min-ids.
    Returns component label per entry of ``nodes``.
    """
    idx = {int(n): i for i, n in enumerate(nodes)}
    parent = np.arange(len(nodes), dtype=np.int64)

    def find(x: int) -> int:
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for s, d in zip(src, dst):
        rs, rd = find(idx[int(s)]), find(idx[int(d)])
        if rs == rd:
            continue
        # union by min node id to keep deterministic representatives
        if nodes[rs] <= nodes[rd]:
            parent[rd] = rs
        else:
            parent[rs] = rd
    return np.array([nodes[find(i)] for i in range(len(nodes))], dtype=np.int64)


def single_linkage_sweep_py(src: np.ndarray, dst: np.ndarray, wfp: np.ndarray):
    """Merge events (t, child_id, parent_id, left_size, right_size) of
    the union-find sweep over edges already in (-w_fp, src, dst) order;
    union by min node id (reference builder.rs:146-218)."""
    nodes = np.unique(np.concatenate([src, dst]))
    idx = {int(n): i for i, n in enumerate(nodes)}
    parent = np.arange(len(nodes), dtype=np.int64)
    size = np.ones(len(nodes), dtype=np.int64)

    def find(x: int) -> int:
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    rows: list[tuple[int, int, int, int, int]] = []
    for s, d, t in zip(src, dst, wfp):
        ri, rj = find(idx[int(s)]), find(idx[int(d)])
        if ri == rj:
            continue
        if nodes[ri] <= nodes[rj]:
            keep, drop = ri, rj
        else:
            keep, drop = rj, ri
        rows.append(
            (int(t), int(nodes[drop]), int(nodes[keep]), int(size[keep]), int(size[drop]))
        )
        size[keep] += size[drop]
        parent[drop] = keep
    arr = np.array(rows, dtype=np.int64).reshape(-1, 5)
    return arr[:, 0], arr[:, 1], arr[:, 2], arr[:, 3], arr[:, 4]


# ---------------------------------------------------------------------------
# BLAKE3 pure-Python spec implementation (oracle for b3_native).
# Follows the spec's sequential chunk-stack shape, deliberately NOT the
# recursive split the C kernel uses.

_IV = (
    0x6A09E667, 0xBB67AE85, 0x3C6EF372, 0xA54FF53A,
    0x510E527F, 0x9B05688C, 0x1F83D9AB, 0x5BE0CD19,
)
_PERM = (2, 6, 3, 10, 7, 0, 4, 13, 1, 11, 12, 5, 9, 14, 15, 8)
_CHUNK_START, _CHUNK_END, _PARENT, _ROOT = 1, 2, 4, 8
_M32 = 0xFFFFFFFF


def _rotr(x: int, n: int) -> int:
    return ((x >> n) | (x << (32 - n))) & _M32


def _g(s: list[int], a: int, b: int, c: int, d: int, mx: int, my: int) -> None:
    s[a] = (s[a] + s[b] + mx) & _M32
    s[d] = _rotr(s[d] ^ s[a], 16)
    s[c] = (s[c] + s[d]) & _M32
    s[b] = _rotr(s[b] ^ s[c], 12)
    s[a] = (s[a] + s[b] + my) & _M32
    s[d] = _rotr(s[d] ^ s[a], 8)
    s[c] = (s[c] + s[d]) & _M32
    s[b] = _rotr(s[b] ^ s[c], 7)


def _compress(
    cv: tuple[int, ...], block: tuple[int, ...], counter: int, block_len: int, flags: int
) -> list[int]:
    s = list(cv) + list(_IV[:4]) + [
        counter & _M32,
        (counter >> 32) & _M32,
        block_len,
        flags,
    ]
    m = list(block)
    for r in range(7):
        _g(s, 0, 4, 8, 12, m[0], m[1])
        _g(s, 1, 5, 9, 13, m[2], m[3])
        _g(s, 2, 6, 10, 14, m[4], m[5])
        _g(s, 3, 7, 11, 15, m[6], m[7])
        _g(s, 0, 5, 10, 15, m[8], m[9])
        _g(s, 1, 6, 11, 12, m[10], m[11])
        _g(s, 2, 7, 8, 13, m[12], m[13])
        _g(s, 3, 4, 9, 14, m[14], m[15])
        if r < 6:
            m = [m[p] for p in _PERM]
    return [s[i] ^ s[i + 8] for i in range(8)] + [
        s[i + 8] ^ cv[i] for i in range(8)
    ]


def _words(chunk64: bytes) -> tuple[int, ...]:
    return struct.unpack("<16I", chunk64.ljust(64, b"\x00"))


def _chunk_output(data: bytes, t: int) -> tuple[tuple[int, ...], tuple[int, ...], int, int]:
    """Process all but the final block of one chunk; return
    (cv, final_block_words, final_block_len, final_flags_sans_root)."""
    cv: tuple[int, ...] = _IV
    blocks = [data[i : i + 64] for i in range(0, len(data), 64)] or [b""]
    for i, blk in enumerate(blocks[:-1]):
        flags = _CHUNK_START if i == 0 else 0
        cv = tuple(_compress(cv, _words(blk), t, len(blk), flags)[:8])
    last = blocks[-1]
    flags = _CHUNK_END | (_CHUNK_START if len(blocks) == 1 else 0)
    return cv, _words(last), len(last), flags


def blake3_hex_py(data: bytes) -> str:
    """BLAKE3 hex digest (default hash mode, 32 bytes), pure Python."""
    chunks = [data[i : i + 1024] for i in range(0, len(data), 1024)] or [b""]
    if len(chunks) == 1:
        cv, blk, blen, flags = _chunk_output(chunks[0], 0)
        out = _compress(cv, blk, 0, blen, flags | _ROOT)
        return struct.pack("<8I", *out[:8]).hex()
    # chunk-stack: after chunk t completes, merge once per trailing one
    # bit of (t+1) — the left-complete tree the spec defines
    stack: list[tuple[int, ...]] = []
    for t, ch in enumerate(chunks):
        cv, blk, blen, flags = _chunk_output(ch, t)
        cv = tuple(_compress(cv, blk, t, blen, flags)[:8])
        if t == len(chunks) - 1:
            # final chunk: fold the whole stack, ROOT on the last merge
            while len(stack) > 1:
                cv = tuple(
                    _compress(_IV, stack.pop() + cv, 0, 64, _PARENT)[:8]
                )
            out = _compress(_IV, stack.pop() + cv, 0, 64, _PARENT | _ROOT)
            return struct.pack("<8I", *out[:8]).hex()
        total = t + 1
        while total & 1 == 0:
            cv = tuple(_compress(_IV, stack.pop() + cv, 0, 64, _PARENT)[:8])
            total >>= 1
        stack.append(cv)
    raise AssertionError("unreachable")
