"""BLAKE3 hashing kernel in C (ctypes).

Closes the one `partial` in SURVEY §2 coverage (F1): the reference
lists blake3 among its entity-hash algorithms
(/root/reference/docs/design/interface.md:547-552; the Rust core pulls
the `blake3` crate in src/rust/starlings-core/Cargo.toml) but no
blake3 wheel exists in this container. The kernel is written from the
public BLAKE3 specification ("BLAKE3: one function, fast everywhere",
O'Connor, Aumasson, Neves, Wilcox-O'Hearn, 2020) — default hash mode,
32-byte output. tests/ hold a pure-Python spec implementation that is
structured differently on purpose (chunk-stack loop there, recursive
subtree split here) so a transcription slip in one cannot silently
agree with the other; they are pinned against each other across
chunk/block boundaries and against the published test vectors for the
empty and one-byte inputs.

The shared object is loaded by ``functions.native``, like every kernel
here.
"""

from __future__ import annotations

import ctypes

import numpy as np

from entityframe_spark.functions.native import Kernel

_C_SOURCE = r"""
#include <stdint.h>
#include <string.h>

/* BLAKE3 (hash mode, 32-byte digest) — portable C from the public
   spec. Recursive subtree split: left subtree takes the largest
   power-of-two number of chunks strictly smaller than the total. */

static const uint32_t IV[8] = {
    0x6A09E667u, 0xBB67AE85u, 0x3C6EF372u, 0xA54FF53Au,
    0x510E527Fu, 0x9B05688Cu, 0x1F83D9ABu, 0x5BE0CD19u,
};
static const uint8_t PERM[16] = {2,6,3,10,7,0,4,13,1,11,12,5,9,14,15,8};

#define CHUNK_START 1u
#define CHUNK_END   2u
#define PARENT      4u
#define ROOT        8u

static inline uint32_t rotr32(uint32_t x, int n)
{
    return (x >> n) | (x << (32 - n));
}

static inline void gmix(uint32_t* s, int a, int b, int c, int d,
                        uint32_t mx, uint32_t my)
{
    s[a] = s[a] + s[b] + mx;
    s[d] = rotr32(s[d] ^ s[a], 16);
    s[c] = s[c] + s[d];
    s[b] = rotr32(s[b] ^ s[c], 12);
    s[a] = s[a] + s[b] + my;
    s[d] = rotr32(s[d] ^ s[a], 8);
    s[c] = s[c] + s[d];
    s[b] = rotr32(s[b] ^ s[c], 7);
}

static void compress(const uint32_t cv[8], const uint32_t block[16],
                     uint64_t counter, uint32_t block_len, uint32_t flags,
                     uint32_t out[16])
{
    uint32_t s[16];
    uint32_t m[16], m2[16];
    memcpy(s, cv, 32);
    memcpy(s + 8, IV, 16);
    s[12] = (uint32_t)counter;
    s[13] = (uint32_t)(counter >> 32);
    s[14] = block_len;
    s[15] = flags;
    memcpy(m, block, 64);
    for (int r = 0; r < 7; r++) {
        gmix(s, 0, 4,  8, 12, m[0],  m[1]);
        gmix(s, 1, 5,  9, 13, m[2],  m[3]);
        gmix(s, 2, 6, 10, 14, m[4],  m[5]);
        gmix(s, 3, 7, 11, 15, m[6],  m[7]);
        gmix(s, 0, 5, 10, 15, m[8],  m[9]);
        gmix(s, 1, 6, 11, 12, m[10], m[11]);
        gmix(s, 2, 7,  8, 13, m[12], m[13]);
        gmix(s, 3, 4,  9, 14, m[14], m[15]);
        if (r < 6) {
            for (int i = 0; i < 16; i++) m2[i] = m[PERM[i]];
            memcpy(m, m2, 64);
        }
    }
    for (int i = 0; i < 8; i++) {
        out[i] = s[i] ^ s[i + 8];
        out[i + 8] = s[i + 8] ^ cv[i];
    }
}

static void load_block(const uint8_t* p, int64_t len, uint32_t block[16])
{
    uint8_t buf[64];
    memset(buf, 0, 64);
    memcpy(buf, p, (size_t)len);
    for (int i = 0; i < 16; i++)
        block[i] = (uint32_t)buf[4*i] | ((uint32_t)buf[4*i+1] << 8)
                 | ((uint32_t)buf[4*i+2] << 16) | ((uint32_t)buf[4*i+3] << 24);
}

/* Chaining value of one chunk (<= 1024 bytes). root_flags is ROOT when
   this chunk is the whole input; out16 then receives the full 16-word
   root output, otherwise out16[0..7] is the chunk CV. */
static void chunk_out(const uint8_t* data, int64_t len, uint64_t t,
                      uint32_t root_flags, uint32_t out16[16])
{
    uint32_t cv[8];
    uint32_t block[16];
    memcpy(cv, IV, 32);
    int64_t off = 0;
    int nblocks = (int)((len + 63) / 64);
    if (nblocks == 0) nblocks = 1;  /* empty input: one zero block */
    for (int b = 0; b < nblocks; b++) {
        int64_t blen = len - off < 64 ? len - off : 64;
        uint32_t flags = 0;
        if (b == 0) flags |= CHUNK_START;
        if (b == nblocks - 1) flags |= CHUNK_END | root_flags;
        load_block(data + off, blen, block);
        compress(cv, block, t, (uint32_t)blen, flags, out16);
        memcpy(cv, out16, 32);
        off += blen;
    }
}

/* Largest power of two strictly less than n (n >= 2). */
static int64_t left_chunks(int64_t n)
{
    int64_t p = 1;
    while (p * 2 < n) p *= 2;
    return p;
}

/* CV of a subtree spanning >= 1 chunk starting at chunk counter t.
   Never emits ROOT (the caller handles the root node). */
static void subtree_cv(const uint8_t* data, int64_t len, uint64_t t,
                       uint32_t cv_out[8])
{
    uint32_t out16[16];
    if (len <= 1024) {
        chunk_out(data, len, t, 0, out16);
        memcpy(cv_out, out16, 32);
        return;
    }
    int64_t n_chunks = (len + 1023) / 1024;
    int64_t lc = left_chunks(n_chunks);
    uint32_t block[16];
    subtree_cv(data, lc * 1024, t, block);
    subtree_cv(data + lc * 1024, len - lc * 1024, t + (uint64_t)lc, block + 8);
    compress(IV, block, 0, 64, PARENT, out16);
    memcpy(cv_out, out16, 32);
}

static void b3_one(const uint8_t* data, int64_t len, uint8_t out[32])
{
    uint32_t out16[16];
    if (len <= 1024) {
        chunk_out(data, len, 0, ROOT, out16);
    } else {
        int64_t n_chunks = (len + 1023) / 1024;
        int64_t lc = left_chunks(n_chunks);
        uint32_t block[16];
        subtree_cv(data, lc * 1024, 0, block);
        subtree_cv(data + lc * 1024, len - lc * 1024, (uint64_t)lc, block + 8);
        compress(IV, block, 0, 64, PARENT | ROOT, out16);
    }
    for (int i = 0; i < 8; i++) {
        out[4*i]   = (uint8_t)(out16[i]);
        out[4*i+1] = (uint8_t)(out16[i] >> 8);
        out[4*i+2] = (uint8_t)(out16[i] >> 16);
        out[4*i+3] = (uint8_t)(out16[i] >> 24);
    }
}

/* Batch API: n byte strings packed into buf, string i spanning
   [starts[i], ends[i]); out receives n*32 digest bytes. */
void b3_hash_batch(const uint8_t* buf, const int64_t* starts,
                   const int64_t* ends, int64_t n, uint8_t* out)
{
    for (int64_t i = 0; i < n; i++)
        b3_one(buf + starts[i], ends[i] - starts[i], out + i * 32);
}
"""

_U8P = ctypes.POINTER(ctypes.c_uint8)
_I64P = ctypes.POINTER(ctypes.c_int64)

KERNEL = Kernel(
    "b3",
    _C_SOURCE,
    {"b3_hash_batch": ([_U8P, _I64P, _I64P, ctypes.c_int64, _U8P], None)},
)


def blake3_hex_batch(values: list[bytes]) -> list[str]:
    """BLAKE3 hex digests for a batch of byte strings."""
    lib = KERNEL.lib
    n = len(values)
    if n == 0:
        return []
    lens = np.fromiter((len(v) for v in values), dtype=np.int64, count=n)
    ends = np.cumsum(lens)
    starts = ends - lens
    buf = np.frombuffer(b"".join(values), dtype=np.uint8) if ends[-1] else np.empty(
        0, dtype=np.uint8
    )
    # frombuffer is zero-copy but read-only; the kernel only reads buf
    out = np.empty(n * 32, dtype=np.uint8)
    lib.b3_hash_batch(
        buf.ctypes.data_as(_U8P),
        starts.ctypes.data_as(_I64P),
        ends.ctypes.data_as(_I64P),
        n,
        out.ctypes.data_as(_U8P),
    )
    raw = out.tobytes()
    return [raw[i * 32 : (i + 1) * 32].hex() for i in range(n)]
