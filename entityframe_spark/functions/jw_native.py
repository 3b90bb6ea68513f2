"""Native (C, via ctypes) pair-scoring and LSH kernels.

Why this exists: per-pair string similarity in Python or numpy was
the q1 bottleneck (this host's numpy pays ~1000x on every FRESH
allocation, and a batch Jaro-Winkler allocates O(positions)
temporaries per batch — measured ~1.3k pairs/s/core). One C pass per
Arrow batch computes every scoring feature with no heap allocation
per pair (>200k pairs/s/core):

- ``score_batch`` / ``score_batch_gather``: gram and token set
  intersect sizes (exact ``size(array_intersect)`` semantics), the
  normalised Levenshtein similarity of Spark's built-in
  ``levenshtein`` and the textbook scalar Jaro-Winkler, both over
  capped prefixes;
- ``lsh_band_hashes``: shingle -> crc32 -> MinHash -> band hashes.

tests/ pin every kernel against scalar reference implementations and
against the JVM expressions. The shared object is loaded (cached,
shipped prebuilt in the --py-files zip, or compiled with cc) by
``functions.native``; a worker that can do none of these raises on
first use.
"""

from __future__ import annotations

import ctypes

import numpy as np

from entityframe_spark.functions.native import Kernel

_C_SOURCE = r"""
#include <stdint.h>
#include <string.h>

/* Jaro-Winkler over one pair of codepoint strings. Semantics match
   the scalar reference implementation exactly: equal -> 1.0; empty
   side -> 0.0; window = max(l1,l2)/2 - 1 (>=0); greedy left-to-right
   matching with availability flags; transpositions = mismatched
   aligned matched chars / 2; Winkler boost (prefix <= 4) iff
   jaro > 0.7. */
/* Bit-parallel variant of the greedy Jaro matching (r6): for each
   pattern char, candidates = Peq2[c] & window-mask & avail, and the
   LOWEST SET BIT is exactly the lowest available matching j in the
   window — i.e. the identical greedy choice the scalar loop makes,
   at ~word granularity instead of per-char scanning. Used for
   strings <= 512 codepoints (W <= 8 words); longer inputs take the
   scalar path below. Static scratch: single-threaded per worker
   process, same contract as the Myers kernel. */
static uint32_t jw_keys[1024];
static uint64_t jw_peq[1024 * 8];

static double jw_one_bp(const uint32_t* s1, int l1, const uint32_t* s2,
                        int l2, double prefix_weight)
{
    int W = (l2 + 63) >> 6;
    int W1 = (l1 + 63) >> 6;
    int window = (l1 > l2 ? l1 : l2) / 2 - 1;
    if (window < 0) window = 0;
    int tbits = 3;
    while ((1 << tbits) < 2 * l2) tbits++;
    int tmask = (1 << tbits) - 1;
    memset(jw_keys, 0xFF, ((size_t)tmask + 1) * sizeof(uint32_t));
    for (int j = 0; j < l2; j++) {
        uint32_t c = s2[j];
        uint32_t h = (c * 2654435761u) >> (32 - tbits);
        for (;;) {
            if (jw_keys[h] == 0xFFFFFFFFu) {
                jw_keys[h] = c;
                memset(jw_peq + (size_t)h * W, 0, (size_t)W * 8);
                break;
            }
            if (jw_keys[h] == c) break;
            h = (h + 1) & tmask;
        }
        jw_peq[(size_t)h * W + (j >> 6)] |= 1ull << (j & 63);
    }
    uint64_t avail[8], flags1b[8];
    for (int b = 0; b < W; b++) avail[b] = ~0ull;
    if (l2 & 63) avail[W - 1] = (1ull << (l2 & 63)) - 1;
    memset(flags1b, 0, sizeof flags1b);
    int matches = 0;
    for (int i = 0; i < l1; i++) {
        int lo = i - window; if (lo < 0) lo = 0;
        int hi = i + window + 1; if (hi > l2) hi = l2;
        if (lo >= hi) continue;
        uint32_t c = s1[i];
        uint32_t h = (c * 2654435761u) >> (32 - tbits);
        const uint64_t* pe = 0;
        for (;;) {
            if (jw_keys[h] == 0xFFFFFFFFu) break;
            if (jw_keys[h] == c) { pe = jw_peq + (size_t)h * W; break; }
            h = (h + 1) & tmask;
        }
        if (!pe) continue;
        int blo = lo >> 6, bhi = (hi - 1) >> 6;
        for (int b = blo; b <= bhi; b++) {
            uint64_t m = pe[b] & avail[b];
            if (b == blo) m &= ~0ull << (lo & 63);
            if (b == bhi && (hi & 63)) m &= (1ull << (hi & 63)) - 1;
            if (m) {
                int jbit = __builtin_ctzll(m);
                avail[b] &= ~(1ull << jbit);
                flags1b[i >> 6] |= 1ull << (i & 63);
                matches++;
                break;
            }
        }
    }
    if (matches == 0) return 0.0;
    uint64_t used[8];
    for (int b = 0; b < W; b++) used[b] = ~avail[b];
    if (l2 & 63) used[W - 1] &= (1ull << (l2 & 63)) - 1;
    int trans2 = 0;
    int bj = 0;
    uint64_t wj = used[0];
    for (int bi = 0; bi < W1; bi++) {
        uint64_t wi = flags1b[bi];
        while (wi) {
            int i = (bi << 6) + __builtin_ctzll(wi);
            wi &= wi - 1;
            while (!wj) { bj++; wj = used[bj]; }
            int j = (bj << 6) + __builtin_ctzll(wj);
            wj &= wj - 1;
            if (s1[i] != s2[j]) trans2++;
        }
    }
    double t = trans2 / 2.0;
    double m = (double)matches;
    double jv = (m / l1 + m / l2 + (m - t) / m) / 3.0;
    if (jv > 0.7) {
        int pmax = l1 < l2 ? l1 : l2;
        if (pmax > 4) pmax = 4;
        int p = 0;
        for (int i = 0; i < pmax; i++) {
            if (s1[i] == s2[i]) p++; else break;
        }
        jv = jv + p * prefix_weight * (1.0 - jv);
    }
    return jv;
}

static double jw_one(const uint32_t* s1, int l1, const uint32_t* s2,
                     int l2, double prefix_weight)
{
    unsigned char flags1[4096];
    unsigned char flags2[4096];
    if (l1 > 4096) l1 = 4096;
    if (l2 > 4096) l2 = 4096;
    if (l1 == l2 && memcmp(s1, s2, (size_t)l1 * 4) == 0) return 1.0;
    if (l1 == 0 || l2 == 0) return 0.0;
    if (l1 <= 512 && l2 <= 512) return jw_one_bp(s1, l1, s2, l2, prefix_weight);
    int window = (l1 > l2 ? l1 : l2) / 2 - 1;
    if (window < 0) window = 0;
    memset(flags1, 0, (size_t)l1);
    memset(flags2, 0, (size_t)l2);
    int matches = 0;
    for (int i = 0; i < l1; i++) {
        int lo = i - window; if (lo < 0) lo = 0;
        int hi = i + window + 1; if (hi > l2) hi = l2;
        uint32_t c = s1[i];
        for (int j = lo; j < hi; j++) {
            if (!flags2[j] && s2[j] == c) {
                flags1[i] = 1; flags2[j] = 1; matches++;
                break;
            }
        }
    }
    if (matches == 0) return 0.0;
    int k = 0, trans2 = 0;
    for (int i = 0; i < l1; i++) {
        if (flags1[i]) {
            while (!flags2[k]) k++;
            if (s1[i] != s2[k]) trans2++;
            k++;
        }
    }
    double t = trans2 / 2.0;
    double m = (double)matches;
    double j = (m / l1 + m / l2 + (m - t) / m) / 3.0;
    if (j > 0.7) {
        int pmax = l1 < l2 ? l1 : l2;
        if (pmax > 4) pmax = 4;
        int p = 0;
        for (int i = 0; i < pmax; i++) {
            if (s1[i] == s2[i]) p++; else break;
        }
        j = j + p * prefix_weight * (1.0 - j);
    }
    return j;
}

/* Exact Levenshtein distance via Myers' bit-parallel algorithm
   (Myers, JACM 1999), block-based for patterns > 64 codepoints
   (Hyyro, "A Bit-Vector Algorithm for Computing Levenshtein and
   Damerau Edit Distances", 2003 — the same formulation battle-tested
   in edlib). Distances are IDENTICAL to the plain O(l1*l2) DP this
   replaced (pinned by the JVM-levenshtein parity test); the work per
   text char drops from l1 cell updates to ceil(l1/64) word ops.
   Common prefix/suffix are trimmed first (edit-distance preserving),
   which near-duplicate candidate pairs hit hard.

   Static scratch => NOT thread-safe; each PySpark worker is its own
   process and calls the kernel from one thread. Max pattern 1024
   (lev_one caps inputs) -> W <= 16 blocks, table <= 2048 slots. */
static uint32_t lev_keys[2048];
static uint64_t lev_peq[2048 * 16];

static int lev_dist(const uint32_t* s1, int l1, const uint32_t* s2, int l2)
{
    while (l1 > 0 && l2 > 0 && *s1 == *s2) { s1++; s2++; l1--; l2--; }
    while (l1 > 0 && l2 > 0 && s1[l1 - 1] == s2[l2 - 1]) { l1--; l2--; }
    if (l1 == 0) return l2;
    if (l2 == 0) return l1;
    const uint32_t *p = s1, *t = s2;
    int m = l1, n = l2;
    if (m > n) { p = s2; t = s1; m = l2; n = l1; }   /* fewer blocks */
    int W = (m + 63) >> 6;
    int tbits = 3;
    while ((1 << tbits) < 2 * m) tbits++;
    int tmask = (1 << tbits) - 1;
    /* build Peq: open-addressed pattern-codepoint -> W-word mask
       (0xFFFFFFFF is not a valid codepoint => safe empty marker) */
    memset(lev_keys, 0xFF, ((size_t)tmask + 1) * sizeof(uint32_t));
    for (int i = 0; i < m; i++) {
        uint32_t c = p[i];
        uint32_t h = (c * 2654435761u) >> (32 - tbits);
        for (;;) {
            if (lev_keys[h] == 0xFFFFFFFFu) {
                lev_keys[h] = c;
                memset(lev_peq + (size_t)h * W, 0, (size_t)W * 8);
                break;
            }
            if (lev_keys[h] == c) break;
            h = (h + 1) & tmask;
        }
        lev_peq[(size_t)h * W + (i >> 6)] |= 1ull << (i & 63);
    }
    uint64_t VP[16], VN[16];
    for (int b = 0; b < W; b++) { VP[b] = ~0ull; VN[b] = 0; }
    uint64_t lastbit = 1ull << ((m - 1) & 63);
    int score = m;
    for (int j = 0; j < n; j++) {
        uint32_t c = t[j];
        uint32_t h = (c * 2654435761u) >> (32 - tbits);
        const uint64_t* Eqp = 0;
        for (;;) {
            if (lev_keys[h] == 0xFFFFFFFFu) break;
            if (lev_keys[h] == c) { Eqp = lev_peq + (size_t)h * W; break; }
            h = (h + 1) & tmask;
        }
        int hin = 1;   /* top boundary row D[0][j] = j */
        for (int b = 0; b < W; b++) {
            uint64_t Eq = Eqp ? Eqp[b] : 0;
            uint64_t Pv = VP[b], Mv = VN[b];
            uint64_t hinneg = (uint64_t)(hin < 0);
            uint64_t Xv = Eq | Mv;
            Eq |= hinneg;
            uint64_t Xh = (((Eq & Pv) + Pv) ^ Pv) | Eq;
            uint64_t Ph = Mv | ~(Xh | Pv);
            uint64_t Mh = Pv & Xh;
            /* horizontal delta at this block's bottom row; for the
               (possibly partial) last block that row is m-1 */
            uint64_t hb = (b == W - 1) ? lastbit : 0x8000000000000000ull;
            int hout = (Ph & hb) ? 1 : ((Mh & hb) ? -1 : 0);
            Ph <<= 1; Mh <<= 1;
            Mh |= hinneg;
            Ph |= (uint64_t)(hin > 0);
            VP[b] = Mh | ~(Xv | Ph);
            VN[b] = Ph & Xv;
            hin = hout;
        }
        score += hin;
    }
    return score;
}

/* Normalised Levenshtein similarity 1 - dist/max(l1,l2) — identical
   semantics to Spark's built-in levenshtein() on truncated inputs.
   Both empty -> 1.0. */
static double lev_one(const uint32_t* s1, int l1, const uint32_t* s2, int l2)
{
    if (l1 > 1024) l1 = 1024;
    if (l2 > 1024) l2 = 1024;
    if (l1 == 0 && l2 == 0) return 1.0;
    if (l1 == 0 || l2 == 0) return 0.0;
    if (l1 == l2 && memcmp(s1, s2, (size_t)l1 * 4) == 0) return 1.0;
    int mx = l1 > l2 ? l1 : l2;
    return 1.0 - lev_dist(s1, l1, s2, l2) / (double)mx;
}

#include <stdlib.h>

/* ---- combined pair-scoring kernel (r6): set-intersect sizes +
   lev + JW in one pass, so the whole per-pair feature computation
   happens here instead of as JVM array_intersect (boxed OpenHashSet
   per pair) + a separate string UDF. ---- */

static int sorted64(const int64_t* a, int64_t n)
{
    for (int64_t i = 1; i < n; i++) if (a[i] < a[i - 1]) return 0;
    return 1;
}

static int cmp64(const void* x, const void* y)
{
    int64_t a = *(const int64_t*)x, b = *(const int64_t*)y;
    return a < b ? -1 : (a > b);
}

/* |distinct values common to a and b| — exact parity with
   size(array_intersect(a, b)) (distinct semantics, duplicates in
   either input collapse). Inputs are normally pre-sorted by the
   feature-prep projection; an unsorted side is detected and sorted
   into scratch, so correctness never depends on the caller. */
static int64_t isect_size(const int64_t* a, int64_t na,
                          const int64_t* b, int64_t nb, int64_t* scratch)
{
    if (!sorted64(a, na)) {
        memcpy(scratch, a, (size_t)na * 8);
        qsort(scratch, (size_t)na, 8, cmp64);
        a = scratch; scratch += na;
    }
    if (!sorted64(b, nb)) {
        memcpy(scratch, b, (size_t)nb * 8);
        qsort(scratch, (size_t)nb, 8, cmp64);
        b = scratch;
    }
    int64_t i = 0, j = 0, c = 0;
    while (i < na && j < nb) {
        int64_t va = a[i], vb = b[j];
        if (va < vb) i++;
        else if (va > vb) j++;
        else {
            c++;
            while (i < na && a[i] == va) i++;
            while (j < nb && b[j] == vb) j++;
        }
    }
    return c;
}

static int64_t score_scratch[16384];

/* All offset arrays are length n+1, absolute indices into the value
   buffers (Arrow list layout). String offsets index utf-32 codepoint
   buffers. Outputs: gram/token intersect sizes (int32) + lev/jw.
   String lengths are under the pack truncation max(lev_max_len,
   jw_max_len); each metric caps its own prefix from there, so both
   are prefixes of the ORIGINAL string whichever cap is larger.
   Returns -1, or the index of the pair whose heap scratch could not
   be allocated (the batch is then incomplete). */
int64_t score_batch(const int64_t* lgv, const int64_t* lgo,
                 const int64_t* rgv, const int64_t* rgo,
                 const int64_t* ltv, const int64_t* lto,
                 const int64_t* rtv, const int64_t* rto,
                 const uint32_t* A, const int64_t* ao,
                 const uint32_t* B, const int64_t* bo,
                 int64_t n, double prefix_weight,
                 int32_t lev_max_len, int32_t jw_max_len,
                 int32_t* gi_out, int32_t* ti_out,
                 double* lev_out, double* jw_out)
{
    for (int64_t r = 0; r < n; r++) {
        int64_t ng1 = lgo[r + 1] - lgo[r], ng2 = rgo[r + 1] - rgo[r];
        int64_t nt1 = lto[r + 1] - lto[r], nt2 = rto[r + 1] - rto[r];
        int64_t need = (ng1 + ng2 > nt1 + nt2 ? ng1 + ng2 : nt1 + nt2);
        int64_t* scr = score_scratch;
        int heap = need > 16384;
        if (heap && !(scr = (int64_t*)malloc((size_t)need * 8))) return r;
        gi_out[r] = (int32_t)isect_size(lgv + lgo[r], ng1, rgv + rgo[r], ng2, scr);
        ti_out[r] = (int32_t)isect_size(ltv + lto[r], nt1, rtv + rto[r], nt2, scr);
        if (heap) free(scr);
        const uint32_t* s1 = A + ao[r];
        const uint32_t* s2 = B + bo[r];
        int l1 = (int)(ao[r + 1] - ao[r]);
        int l2 = (int)(bo[r + 1] - bo[r]);
        int v1 = l1 < lev_max_len ? l1 : lev_max_len;
        int v2 = l2 < lev_max_len ? l2 : lev_max_len;
        lev_out[r] = lev_one(s1, v1, s2, v2);
        int j1 = l1 < jw_max_len ? l1 : jw_max_len;
        int j2 = l2 < jw_max_len ? l2 : jw_max_len;
        jw_out[r] = jw_one(s1, j1, s2, j2, prefix_weight);
    }
    return -1;
}

/* ---- MinHash/LSH band-hash kernel (r6): shingle -> crc32 ->
   linear-permutation minima -> per-band crc32, per doc, bit-for-bit
   the values of the Python loop it replaces (zlib CRC-32 over the
   UTF-8 bytes of each codepoint shingle; int64 mul-mod against the
   Mersenne prime; band hash over the signature slice's little-endian
   int64 bytes). ---- */

static uint32_t crc_table[256];
static int crc_init_done = 0;

static void crc_init(void)
{
    for (uint32_t n = 0; n < 256; n++) {
        uint32_t c = n;
        for (int k = 0; k < 8; k++)
            c = (c & 1) ? 0xEDB88320u ^ (c >> 1) : c >> 1;
        crc_table[n] = c;
    }
    crc_init_done = 1;
}

static int utf8_enc(uint32_t c, unsigned char* out)
{
    if (c < 0x80) { out[0] = (unsigned char)c; return 1; }
    if (c < 0x800) {
        out[0] = 0xC0 | (c >> 6); out[1] = 0x80 | (c & 0x3F); return 2;
    }
    if (c < 0x10000) {
        out[0] = 0xE0 | (c >> 12); out[1] = 0x80 | ((c >> 6) & 0x3F);
        out[2] = 0x80 | (c & 0x3F); return 3;
    }
    out[0] = 0xF0 | (c >> 18); out[1] = 0x80 | ((c >> 12) & 0x3F);
    out[2] = 0x80 | ((c >> 6) & 0x3F); out[3] = 0x80 | (c & 0x3F); return 4;
}

/* txt: normalised docs as utf-32 codepoints, off: n_docs+1 offsets.
   out: n_docs x bands uint32 band hashes. num_hashes <= 256. */
void lsh_band_hashes(const uint32_t* txt, const int64_t* off,
                     int64_t n_docs, int32_t k,
                     const int64_t* A, const int64_t* B,
                     int32_t num_hashes, int32_t bands, uint32_t* out)
{
    if (!crc_init_done) crc_init();
    const int64_t p = 2147483647LL;  /* 2^31 - 1 */
    int rows = num_hashes / bands;
    int64_t sig[256];
    for (int64_t d = 0; d < n_docs; d++) {
        const uint32_t* s = txt + off[d];
        int64_t n = off[d + 1] - off[d];
        for (int h = 0; h < num_hashes; h++) sig[h] = 0x7FFFFFFFFFFFFFFFLL;
        int64_t shlen = n <= k ? n : k;
        int64_t n_sh = n <= k ? 1 : n - k + 1;
        for (int64_t i = 0; i < n_sh; i++) {
            unsigned char buf[4];
            uint32_t crc = 0xFFFFFFFFu;
            for (int64_t j = 0; j < shlen; j++) {
                int bl = utf8_enc(s[i + j], buf);
                for (int b2 = 0; b2 < bl; b2++)
                    crc = crc_table[(crc ^ buf[b2]) & 0xFF] ^ (crc >> 8);
            }
            int64_t base = (int64_t)(crc ^ 0xFFFFFFFFu);
            for (int h = 0; h < num_hashes; h++) {
                int64_t v = (A[h] * base + B[h]) % p;
                if (v < sig[h]) sig[h] = v;
            }
        }
        for (int b = 0; b < bands; b++) {
            uint32_t crc = 0xFFFFFFFFu;
            for (int r = 0; r < rows; r++) {
                uint64_t v = (uint64_t)sig[(size_t)b * rows + r];
                for (int by = 0; by < 8; by++) {
                    unsigned char byte = (unsigned char)((v >> (8 * by)) & 0xFF);
                    crc = crc_table[(crc ^ byte) & 0xFF] ^ (crc >> 8);
                }
            }
            out[d * bands + b] = crc ^ 0xFFFFFFFFu;
        }
    }
}

/* Gather variant: per-RECORD feature buffers (gram/token hash arrays,
   prefix codepoints — offsets are n_rec+1) shared via broadcast; each
   pair is (left_index, right_index) into them. The pair stream then
   carries two int64s instead of ~KBs of duplicated per-pair arrays —
   the guide-§8 move (decide with small rows; heavy bytes shipped once
   per worker via the broadcast). Emits sizes too (the JVM cannot see
   them without the arrays). Returns like score_batch. */
int64_t score_batch_gather(
    const int64_t* gvals, const int64_t* goff,
    const int64_t* tvals, const int64_t* toff,
    const uint32_t* pvals, const int64_t* poff,
    const int64_t* li, const int64_t* ri, int64_t n_pairs,
    double prefix_weight, int32_t lev_max_len, int32_t jw_max_len,
    int32_t* gi_out, int32_t* gl_out, int32_t* gr_out,
    int32_t* ti_out, int32_t* tl_out, int32_t* tr_out,
    double* lev_out, double* jw_out)
{
    for (int64_t r = 0; r < n_pairs; r++) {
        int64_t a = li[r], b = ri[r];
        int64_t ng1 = goff[a + 1] - goff[a], ng2 = goff[b + 1] - goff[b];
        int64_t nt1 = toff[a + 1] - toff[a], nt2 = toff[b + 1] - toff[b];
        int64_t need = (ng1 + ng2 > nt1 + nt2 ? ng1 + ng2 : nt1 + nt2);
        int64_t* scr = score_scratch;
        int heap = need > 16384;
        if (heap && !(scr = (int64_t*)malloc((size_t)need * 8))) return r;
        gi_out[r] = (int32_t)isect_size(gvals + goff[a], ng1, gvals + goff[b], ng2, scr);
        ti_out[r] = (int32_t)isect_size(tvals + toff[a], nt1, tvals + toff[b], nt2, scr);
        if (heap) free(scr);
        gl_out[r] = (int32_t)ng1; gr_out[r] = (int32_t)ng2;
        tl_out[r] = (int32_t)nt1; tr_out[r] = (int32_t)nt2;
        const uint32_t* s1 = pvals + poff[a];
        const uint32_t* s2 = pvals + poff[b];
        int l1 = (int)(poff[a + 1] - poff[a]);
        int l2 = (int)(poff[b + 1] - poff[b]);
        int v1 = l1 < lev_max_len ? l1 : lev_max_len;
        int v2 = l2 < lev_max_len ? l2 : lev_max_len;
        lev_out[r] = lev_one(s1, v1, s2, v2);
        int j1 = l1 < jw_max_len ? l1 : jw_max_len;
        int j2 = l2 < jw_max_len ? l2 : jw_max_len;
        jw_out[r] = jw_one(s1, j1, s2, j2, prefix_weight);
    }
    return -1;
}
"""

_i64 = ctypes.POINTER(ctypes.c_int64)
_i32 = ctypes.POINTER(ctypes.c_int32)
_u32 = ctypes.POINTER(ctypes.c_uint32)
_f64 = ctypes.POINTER(ctypes.c_double)

KERNEL = Kernel(
    "jw",
    _C_SOURCE,
    {
        "score_batch": (
            [_i64] * 8 + [_u32, _i64, _u32, _i64]
            + [ctypes.c_int64, ctypes.c_double, ctypes.c_int32, ctypes.c_int32]
            + [_i32, _i32, _f64, _f64],
            ctypes.c_int64,
        ),
        "score_batch_gather": (
            [_i64] * 4 + [_u32, _i64, _i64, _i64, ctypes.c_int64]
            + [ctypes.c_double, ctypes.c_int32, ctypes.c_int32]
            + [_i32] * 6 + [_f64, _f64],
            ctypes.c_int64,
        ),
        "lsh_band_hashes": (
            [_u32, _i64, ctypes.c_int64, ctypes.c_int32]
            + [_i64, _i64, ctypes.c_int32, ctypes.c_int32, _u32],
            None,
        ),
    },
)


def native_available() -> bool:
    return KERNEL.available()


def _pack_offsets(strs, max_len: int):
    """Truncate and concatenate WITHOUT padding: one join+encode, plus
    an int64 offsets array (n+1, absolute codepoint indices) — no
    per-row padding, which was the dominant Python-side cost once the
    DP went bit-parallel."""
    t = [(s or "")[:max_len] for s in strs]
    n = len(t)
    off = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(np.fromiter((len(s) for s in t), dtype=np.int64, count=n), out=off[1:])
    buf = "".join(t).encode("utf-32-le")
    arr = np.frombuffer(buf, dtype=np.uint32) if buf else np.zeros(1, np.uint32)
    return arr, off


def _u32p(arr):
    return arr.ctypes.data_as(_u32)


def _i64p(arr):
    return arr.ctypes.data_as(_i64)


def _i32p(arr):
    return arr.ctypes.data_as(_i32)


def _f64p(arr):
    return arr.ctypes.data_as(_f64)


def _scratch_error(r: int, g1: int, g2: int, t1: int, t2: int) -> MemoryError:
    """The kernel could not allocate pair r's intersect scratch."""
    return MemoryError(
        f"scoring kernel could not allocate intersect scratch for pair {r} "
        f"(gram arrays {g1} + {g2}, token arrays {t1} + {t2} values)"
    )


def lsh_band_hashes_native(
    txt: np.ndarray,
    off: np.ndarray,
    shingle_k: int,
    A: np.ndarray,
    B: np.ndarray,
    num_hashes: int,
    bands: int,
) -> np.ndarray:
    """Per-doc LSH band hashes from packed utf-32 docs (see
    _pack_offsets): zlib CRC-32 over each shingle's UTF-8 bytes,
    int64 mul-mod MinHash against the Mersenne prime, band CRC over
    the signature slice's little-endian bytes. Returns (n_docs, bands)
    uint32."""
    lib = KERNEL.lib
    if num_hashes > 256:
        raise ValueError("num_hashes must be <= 256 for the native kernel")
    n_docs = len(off) - 1
    out = np.zeros((n_docs, int(bands)), dtype=np.uint32)
    if n_docs == 0:
        return out
    A = np.ascontiguousarray(A, dtype=np.int64)
    B = np.ascontiguousarray(B, dtype=np.int64)
    lib.lsh_band_hashes(
        _u32p(txt), _i64p(np.ascontiguousarray(off, dtype=np.int64)),
        n_docs, int(shingle_k), _i64p(A), _i64p(B),
        int(num_hashes), int(bands), _u32p(out),
    )
    return out


def _c64(vals: np.ndarray, off: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Contiguous int64 (values, offsets) pair for the C kernel."""
    return (
        np.ascontiguousarray(vals, dtype=np.int64),
        np.ascontiguousarray(off, dtype=np.int64),
    )


def score_batch_native(
    lg_vals, lg_off, rg_vals, rg_off,
    lt_vals, lt_off, rt_vals, rt_off,
    a_strs, b_strs,
    lev_max_len: int = 256,
    jw_max_len: int = 128,
    prefix_weight: float = 0.1,
):
    """One C pass over a pair batch: gram/token intersect sizes
    (distinct semantics — exact parity with size(array_intersect)),
    normalised Levenshtein over the lev prefix, Jaro-Winkler over the
    jw prefix. Array inputs are Arrow list layout: int64 value buffers
    plus n+1 absolute offsets. Returns (gi, ti, lev, jw)."""
    lib = KERNEL.lib
    n = len(a_strs)
    gi = np.zeros(n, dtype=np.int32)
    ti = np.zeros(n, dtype=np.int32)
    lev = np.zeros(n, dtype=np.float64)
    jw = np.zeros(n, dtype=np.float64)
    if n == 0:
        return gi, ti, lev, jw
    _empty = np.zeros(1, np.int64)  # valid pointer for empty value buffers

    def _nz(a: np.ndarray) -> np.ndarray:
        return a if a.size else _empty

    lgv, lgo = _c64(lg_vals, lg_off)
    rgv, rgo = _c64(rg_vals, rg_off)
    ltv, lto = _c64(lt_vals, lt_off)
    rtv, rto = _c64(rt_vals, rt_off)
    lgv, rgv, ltv, rtv = _nz(lgv), _nz(rgv), _nz(ltv), _nz(rtv)
    A, ao = _pack_offsets(a_strs, max(lev_max_len, jw_max_len))
    B, bo = _pack_offsets(b_strs, max(lev_max_len, jw_max_len))
    failed = lib.score_batch(
        _i64p(lgv), _i64p(lgo),
        _i64p(rgv), _i64p(rgo),
        _i64p(ltv), _i64p(lto),
        _i64p(rtv), _i64p(rto),
        _u32p(A), _i64p(ao), _u32p(B), _i64p(bo),
        n, float(prefix_weight), int(lev_max_len), int(jw_max_len),
        _i32p(gi), _i32p(ti), _f64p(lev), _f64p(jw),
    )
    if failed >= 0:
        raise _scratch_error(
            failed, *(int(o[failed + 1] - o[failed]) for o in (lgo, rgo, lto, rto))
        )
    return gi, ti, lev, jw


def score_batch_gather_native(
    feat: tuple,
    li: np.ndarray,
    ri: np.ndarray,
    lev_max_len: int = 256,
    jw_max_len: int = 128,
    prefix_weight: float = 0.1,
):
    """Gather-variant of score_batch: ``feat`` is the packed per-record
    feature table (gvals, goff, tvals, toff, pvals, poff) — int64 hash
    buffers + uint32 prefix codepoints with n_rec+1 offsets — and
    li/ri are per-pair RECORD INDICES into it. Returns
    (gi, gl, gr, ti, tl, tr, lev, jw)."""
    lib = KERNEL.lib
    gvals, goff, tvals, toff, pvals, poff = feat
    n = len(li)
    li = np.ascontiguousarray(li, dtype=np.int64)
    ri = np.ascontiguousarray(ri, dtype=np.int64)
    out_i = [np.zeros(n, dtype=np.int32) for _ in range(6)]
    lev = np.zeros(n, dtype=np.float64)
    jw = np.zeros(n, dtype=np.float64)
    if n == 0:
        return (*out_i, lev, jw)
    failed = lib.score_batch_gather(
        _i64p(gvals), _i64p(goff), _i64p(tvals), _i64p(toff),
        _u32p(pvals), _i64p(poff),
        _i64p(li), _i64p(ri), n,
        float(prefix_weight), int(lev_max_len), int(jw_max_len),
        *[_i32p(a) for a in out_i],
        _f64p(lev), _f64p(jw),
    )
    if failed >= 0:
        a, b = li[failed], ri[failed]
        raise _scratch_error(
            failed,
            *(int(o[x + 1] - o[x]) for o, x in ((goff, a), (goff, b), (toff, a), (toff, b))),
        )
    return (*out_i, lev, jw)
