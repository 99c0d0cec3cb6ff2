"""Optional C acceleration for the fuzzy search and its Smith-Waterman DP.

The reference pins a thin C alignment kernel (``sciencebeam-alignment``,
requirements.txt:7) under python orchestration; this module goes one step
further.  The C source below is compiled once per machine with the system gcc
(cached as a shared object) and loaded via ctypes, releasing the GIL while it
runs.  ``fuzzy_search_chunks`` runs the whole long-needle branch of
``fuzzy.fuzzy_search_chunks`` -- whitespace masking, windowed Smith-Waterman
with needle chunking, junk scoring and the back-map to original offsets -- as
one C call per search; the ``sw_*`` functions are the DP it uses, also called
directly by ``align.local_matching_blocks``.  When no compiler is available
(e.g. a locked-down executor image), the pure python+numpy path in
``fuzzy.py`` / ``align.py`` runs instead: it is the fallback, gives identical
results, and is the reference the tests compare the C code against.

The compile cache lives under the repo (``.native_cache/``, gitignored); at
cluster scale the .so would be baked into the executor image or shipped as an
archive alongside the --py-files zip.
"""

from __future__ import annotations

import contextlib
import ctypes
import hashlib
import os
import subprocess
import tempfile
from typing import List, Optional, Tuple

import numpy as np

_C_SOURCE = r"""
#include <stddef.h>
#include <stdint.h>
#include <stdlib.h>
#include <string.h>
#include <math.h>
#include <emmintrin.h>

/* Smith-Waterman score matrix: h is (m+1) x (n+1) int32 row-major,
   row 0 / col 0 pre-zeroed.  Scoring: match +2, mismatch -1, gap -2. */
void sw_matrix(const uint32_t* a, int n, const uint32_t* b, int m, int32_t* h) {
    for (int j = 1; j <= m; j++) {
        const int32_t* prev = h + (size_t)(j - 1) * (n + 1);
        int32_t* cur = h + (size_t)j * (n + 1);
        uint32_t bj = b[j - 1];
        int32_t left = 0;
        cur[0] = 0;
        for (int i = 1; i <= n; i++) {
            int32_t best = prev[i - 1] + (a[i - 1] == bj ? 2 : -1);
            int32_t up = prev[i] - 2;
            if (up > best) best = up;
            int32_t lft = left - 2;
            if (lft > best) best = lft;
            if (best < 0) best = 0;
            cur[i] = best;
            left = best;
        }
    }
}

/* One int16 DP row in two passes.  Pass 1 computes the diag/up/0
   candidates with no loop-carried dependency (vectorizable, branch-free);
   pass 2 applies the left gaps, the only serial dependency, and keeps the
   row maximum as a separate max chain.  Returns the row maximum. */
static inline int16_t sw_row16(const uint32_t* a, int n, uint32_t bj_code,
                               const int16_t* restrict prev,
                               int16_t* restrict cur) {
    cur[0] = 0;
    for (int i = 1; i <= n; i++) {
        int16_t d = prev[i - 1] + (a[i - 1] == bj_code ? 2 : -1);
        int16_t u = prev[i] - 2;
        int16_t v = d > u ? d : u;
        cur[i] = v > 0 ? v : 0;
    }
    int16_t left = 0, rowmax = 0;
    for (int i = 1; i <= n; i++) {
        int16_t lft = left - 2;
        int16_t v = cur[i] > lft ? cur[i] : lft;
        cur[i] = v;
        left = v;
        rowmax = rowmax > v ? rowmax : v;
    }
    return rowmax;
}

/* First max in a-major order: prefer larger v; on ties prefer smaller i,
   then smaller j.  Rows arrive in ascending j, so taking each row's first
   maximum reproduces a cell-by-cell scan. */
static inline void sw_track_best16(const int16_t* cur, int j, int16_t rowmax,
                                   int16_t* best, int* bi, int* bj) {
    if (rowmax <= 0 || rowmax < *best) return;
    int i = 1;
    while (cur[i] != rowmax) i++;
    if (rowmax > *best || i < *bi) {
        *best = rowmax; *bi = i; *bj = j;
    }
}

/* int16 variant with the best cell tracked during generation: halves the
   memory traffic and saves the full re-scan — valid while 2*min(n,m) stays
   below INT16_MAX (checked by the caller). */
void sw_matrix16(const uint32_t* a, int n, const uint32_t* b, int m,
                 int16_t* h, int32_t* out) {
    int16_t best = 0; int bi = 0; int bj = 0;
    for (int j = 1; j <= m; j++) {
        const int16_t* prev = h + (size_t)(j - 1) * (n + 1);
        int16_t* cur = h + (size_t)j * (n + 1);
        int16_t rowmax = sw_row16(a, n, b[j - 1], prev, cur);
        sw_track_best16(cur, j, rowmax, &best, &bi, &bj);
    }
    out[0] = bi; out[1] = bj; out[2] = best;
}

/* Traceback from cell (a=i, b=j) while the score is positive, preferring
   diagonal, then up (a-gap), then left (b-gap); writes difflib-style blocks
   (ai, bi, size) ascending into `blocks` (capacity 3*(n+m) int32) and
   returns the block count. */
int sw_traceback16(const uint32_t* a, const uint32_t* b, const int16_t* h,
                   int n, int m, int i, int j, int32_t* blocks) {
    /* collect matched diagonal positions in reverse into the tail of the
       buffer, then merge into blocks from the front */
    int cap = n + m;
    int32_t* pairs = blocks + cap;  /* reuse: pairs area holds 2*count ints */
    int count = 0;
    while (i > 0 && j > 0) {
        int16_t score = h[(size_t)j * (n + 1) + i];
        if (score <= 0) break;
        int16_t sub = (a[i - 1] == b[j - 1]) ? 2 : -1;
        if (score == h[(size_t)(j - 1) * (n + 1) + (i - 1)] + sub) {
            if (sub == 2) {
                pairs[2 * count] = i - 1;
                pairs[2 * count + 1] = j - 1;
                count++;
            }
            i--; j--;
        } else if (score == h[(size_t)(j - 1) * (n + 1) + i] - 2) {
            j--;
        } else if (score == h[(size_t)j * (n + 1) + (i - 1)] - 2) {
            i--;
        } else {
            break;
        }
    }
    /* pairs are in reverse order; build ascending blocks */
    int n_blocks = 0;
    for (int k = count - 1; k >= 0; k--) {
        int ai = pairs[2 * k];
        int bi = pairs[2 * k + 1];
        if (n_blocks > 0
            && blocks[3 * (n_blocks - 1)] + blocks[3 * (n_blocks - 1) + 2] == ai
            && blocks[3 * (n_blocks - 1) + 1] + blocks[3 * (n_blocks - 1) + 2] == bi) {
            blocks[3 * (n_blocks - 1) + 2]++;
        } else {
            blocks[3 * n_blocks] = ai;
            blocks[3 * n_blocks + 1] = bi;
            blocks[3 * n_blocks + 2] = 1;
            n_blocks++;
        }
    }
    return n_blocks;
}

/* Copy one DP row to the stored matrix with non-temporal (streaming)
   stores: the bytes bypass the cache hierarchy entirely, so a large matrix
   neither evicts the hot row buffers nor occupies shared-LLC capacity that
   sibling cores need.  Head/tail handled scalar for alignment. */
static void nt_copy_row(int16_t* dst, const int16_t* src, int count) {
    int i = 0;
    while (i < count && (((uintptr_t)(dst + i)) & 15)) { dst[i] = src[i]; i++; }
    for (; i + 8 <= count; i += 8) {
        __m128i v = _mm_loadu_si128((const __m128i*)(src + i));
        _mm_stream_si128((__m128i*)(dst + i), v);
    }
    for (; i < count; i++) dst[i] = src[i];
}

/* Cache-invisible int16 DP: identical recurrence and best-cell tie-breaks
   to sw_matrix16, but the recurrence runs over two small ping-pong row
   buffers (rowbuf, capacity 2*(n+1), stays L1/L2-hot at any matrix size)
   and each finished row is streamed to `h` with non-temporal stores.  The
   stored matrix is byte-identical to sw_matrix16's; only the traffic
   pattern differs.  For matrices larger than the private L2 this removes
   the RFO read of every matrix line AND the LLC pollution that thrashes
   sibling cores at high core counts — the one genuinely scale-relevant
   footprint in the alignment path (see scripts/profile_dp_footprint.py). */
void sw_matrix16_nt(const uint32_t* a, int n, const uint32_t* b, int m,
                    int16_t* h, int16_t* rowbuf, int32_t* out) {
    int16_t best = 0; int bi = 0; int bj = 0;
    int16_t* prev = rowbuf;
    int16_t* cur = rowbuf + (n + 1);
    for (int i = 0; i <= n; i++) prev[i] = 0;
    nt_copy_row(h, prev, n + 1);
    for (int j = 1; j <= m; j++) {
        int16_t rowmax = sw_row16(a, n, b[j - 1], prev, cur);
        sw_track_best16(cur, j, rowmax, &best, &bi, &bj);
        nt_copy_row(h + (size_t)j * (n + 1), cur, n + 1);
        int16_t* t = prev; prev = cur; cur = t;
    }
    _mm_sfence();
    out[0] = bi; out[1] = bj; out[2] = best;
}

/* Fused alignment over the streaming DP (large-matrix path): same contract
   as sw_align16; the traceback touches only the ~path cells of the stored
   matrix, so the DRAM reads it incurs are negligible next to the avoided
   RFO+LLC traffic of the generation. */
int sw_align16_nt(const uint32_t* a, int n, const uint32_t* b, int m,
                  int16_t* h, int16_t* rowbuf, int32_t* blocks) {
    int32_t out[3];
    sw_matrix16_nt(a, n, b, m, h, rowbuf, out);
    int n_blocks = 0;
    if (out[2] > 0) {
        n_blocks = sw_traceback16(a, b, h, n, m, out[0], out[1], blocks);
    }
    return n_blocks;
}

/* Fused alignment: matrix16 + best cell + traceback in ONE call.  The DP
   matrix lives in caller-provided scratch (a grow-only buffer reused across
   calls: per-call malloc of the larger matrices crosses the mmap threshold
   and the resulting page faults / TLB shootdowns serialize at high
   process counts).  Returns the block count written to `blocks`. */
int sw_align16(const uint32_t* a, int n, const uint32_t* b, int m,
               int16_t* h, int32_t* blocks) {
    for (int i = 0; i <= n; i++) h[i] = 0;
    for (int j = 1; j <= m; j++) h[(size_t)j * (n + 1)] = 0;
    int32_t out[3];
    sw_matrix16(a, n, b, m, h, out);
    int n_blocks = 0;
    if (out[2] > 0) {
        n_blocks = sw_traceback16(a, b, h, n, m, out[0], out[1], blocks);
    }
    return n_blocks;
}

/* First maximum cell in a-major order (smallest a, then smallest b). */
void sw_best(const int32_t* h, int n, int m, int32_t* out) {
    int32_t best = 0; int bi = 0; int bj = 0;
    for (int j = 0; j <= m; j++) {
        const int32_t* row = h + (size_t)j * (n + 1);
        for (int i = 0; i <= n; i++) {
            int32_t v = row[i];
            if (v > best || (v == best && v > 0 && (i < bi || (i == bi && j < bj)))) {
                best = v; bi = i; bj = j;
            }
        }
    }
    out[0] = bi; out[1] = bj; out[2] = best;
}

/* ---- the long-needle branch of kernel/fuzzy.py::fuzzy_search_chunks ----

   One call runs whitespace masking (with the masked -> original index map),
   the single-window exact-occurrence fast path, auto_window, the strided
   window loop with its first/last-chunk needle splitting, each window's
   find / DP / traceback (sw_align16 or sw_align16_nt), the positional-junk
   b_gap_ratio scoring, and the back-map to original offsets.  It mirrors the
   python functions line by line, including their quirks (noted inline), so
   the blocks are identical.  Inputs the python path would treat differently
   (needle truncation above MAX_DP_CELLS, int16 overflow, a code point past
   the isalpha table before a '.') return FZ_SENTINEL and the caller runs the
   python path instead. */

#define FZ_SENTINEL (-1)
#define FZ_GROW (-2)
#define FZ_MAX_DP_CELLS 64000000LL
#define FZ_MIN_WINDOW_LENGTH 1000

typedef struct {
    const uint32_t* hay; int hn;  /* masked haystack */
    const int32_t* hay_junk;      /* positional junk prefix sums, hn+1 */
    const uint32_t* ndl; int nn;  /* masked needle */
    const int32_t* ndl_junk;      /* positional junk prefix sums, nn+1 */
    int max_length, stride;
    double threshold;
    int64_t nt_bytes;
    int16_t* mat; int64_t mat_cap;
    int64_t mat_need;             /* cells wanted when a DP does not fit */
    int32_t* tb;                  /* sw_align16 blocks + pairs scratch */
    int32_t* levels; int64_t level_stride;  /* window blocks per depth */
} fz_ctx;

static inline int fz_is_space(uint32_t ch) {
    return ch == ' ' || ch == '\t' || ch == '\n';
}

/* positional_is_junk over a masked (space-free) string: '*', ',' after '.',
   '.' after a letter.  Returns -1 when a letter check falls outside the
   isalpha table. */
static int fz_junk_prefix(const uint32_t* s, int n, const uint8_t* alpha,
                          int alpha_len, int32_t* prefix) {
    prefix[0] = 0;
    for (int i = 0; i < n; i++) {
        uint32_t ch = s[i];
        int junk = ch == '*';
        if (i > 0 && ch == ',') {
            junk = s[i - 1] == '.';
        } else if (i > 0 && ch == '.') {
            if (s[i - 1] >= (uint32_t)alpha_len) return -1;
            junk = alpha[s[i - 1]];
        }
        prefix[i + 1] = prefix[i] + junk;
    }
    return 0;
}

/* Junk in [g0, g1) of the needle slice starting at `base`: the slice's
   first character has no predecessor, so only '*' counts there. */
static inline int fz_ndl_junk(const fz_ctx* c, int base, int g0, int g1) {
    if (g0 == 0 && base > 0)
        return (c->ndl[base] == '*') + c->ndl_junk[base + g1] - c->ndl_junk[base + 1];
    return c->ndl_junk[base + g1] - c->ndl_junk[base + g0];
}

/* FuzzyScore(haystack, needle[base:base+b_len], blocks).b_gap_ratio() with
   clamped a gaps; block b indices are shifted down by b_shift.  Quirk: the
   a indices are window-relative but junk is read from the full haystack. */
static double fz_score(const fz_ctx* c, const int32_t* blk, int count,
                       int b_shift, int base, int b_len) {
    int first = -1, last = -1;
    int64_t matched = 0;
    for (int k = 0; k < count; k++) {
        if (!blk[3 * k + 2]) continue;
        if (first < 0) first = k;
        last = k;
        matched += blk[3 * k + 2];
    }
    int a_start = 0, a_end = 0;
    if (first >= 0) {
        a_start = blk[3 * first];
        a_end = blk[3 * last] + blk[3 * last + 2];
    }
    /* complement_ranges: advances to each block's end, not a running max */
    int64_t a_junk = 0, b_junk = 0;
    int i = a_start;
    for (int k = 0; k < count; k++) {
        if (!blk[3 * k + 2]) continue;
        if (i >= a_end) break;
        int rs = blk[3 * k];
        if (i < rs) a_junk += c->hay_junk[rs < a_end ? rs : a_end] - c->hay_junk[i];
        i = rs + blk[3 * k + 2];
    }
    if (i < a_end) a_junk += c->hay_junk[a_end] - c->hay_junk[i];
    i = 0;
    for (int k = 0; k < count; k++) {
        if (!blk[3 * k + 2]) continue;
        if (i >= b_len) break;
        int rs = blk[3 * k + 1] - b_shift;
        if (i < rs) b_junk += fz_ndl_junk(c, base, i, rs < b_len ? rs : b_len);
        i = rs + blk[3 * k + 2];
    }
    if (i < b_len) b_junk += fz_ndl_junk(c, base, i, b_len);
    int64_t a_gaps = (int64_t)(a_end - a_start) - matched;
    if (a_gaps < 0) a_gaps = 0;
    int64_t size = b_len + a_gaps - a_junk - b_junk;
    return size ? (double)matched / (double)size : 0.0;
}

/* str.find: first occurrence of b in a, or -1. */
static int fz_find(const uint32_t* a, int n, const uint32_t* b, int m) {
    for (int i = 0; i + m <= n; i++) {
        if (a[i] == b[0] && !memcmp(a + i, b, (size_t)m * sizeof(uint32_t)))
            return i;
    }
    return -1;
}

/* local_matching_blocks(haystack[start:start+max_length], needle[lo:lo+m])
   into `out` as (a, b, size) triples with the size-0 terminator; returns
   the triple count or a negative FZ_ code. */
static int fz_window_blocks(fz_ctx* c, int start, int lo, int m, int32_t* out) {
    int n = c->hn - start;
    if (n > c->max_length) n = c->max_length;
    const uint32_t* a = c->hay + start;
    const uint32_t* b = c->ndl + lo;
    int64_t area = (int64_t)n * m;
    int count = 0;
    if (m > 0 && area <= FZ_MAX_DP_CELLS) {
        int at = fz_find(a, n, b, m);
        if (at >= 0) {
            out[0] = at; out[1] = 0; out[2] = m;
            count = 1;
        }
    }
    if (!count && m > 0) {
        if (area > FZ_MAX_DP_CELLS || 2 * (n < m ? n : m) >= 32000)
            return FZ_SENTINEL;
        int64_t cells = (int64_t)(n + 1) * (m + 1);
        if (cells + 2 * (n + 1) > c->mat_cap) {
            int w = c->max_length < c->hn ? c->max_length : c->hn;
            c->mat_need = (int64_t)(w + 1) * (c->nn + 1) + 2 * (w + 1);
            return FZ_GROW;
        }
        if (cells * 2 <= c->nt_bytes)
            count = sw_align16(a, n, b, m, c->mat, c->tb);
        else
            count = sw_align16_nt(a, n, b, m, c->mat, c->mat + cells, c->tb);
        memcpy(out, c->tb, (size_t)count * 3 * sizeof(int32_t));
    }
    out[3 * count] = n; out[3 * count + 1] = m; out[3 * count + 2] = 0;
    return count + 1;
}

/* Appends one chunk record (count, then count triples) at out[*len]. */
static void fz_put_chunk(int32_t* out, int64_t* len, const int32_t* blk,
                         int count, int a_offset, int b_offset) {
    int32_t* rec = out + *len;
    rec[0] = count;
    for (int k = 0; k < count; k++) {
        rec[1 + 3 * k] = blk[3 * k] + a_offset;
        rec[2 + 3 * k] = blk[3 * k + 1] + b_offset;
        rec[3 + 3 * k] = blk[3 * k + 2];
    }
    *len += 1 + 3 * (int64_t)count;
}

/* strided_matching_block_chunks over needle[lo:lo+m]: appends chunk
   records to out[*len] and returns the chunk count (or a negative FZ_
   code).  Each recursion depth keeps its window blocks in its own slot. */
static int fz_strided(fz_ctx* c, int lo, int m, int max_chunks, int start,
                      int depth, int32_t* out, int64_t* len) {
    int32_t* blk = c->levels + depth * c->level_stride;
    int max_offset = c->stride;
    while (start < c->hn) {
        int count = fz_window_blocks(c, start, lo, m, blk);
        if (count < 0) return count;
        if (blk[0] > max_offset || !blk[2]) {
            start += c->stride;
            continue;
        }
        if (fz_score(c, blk, count, 0, lo, m) >= c->threshold) {
            fz_put_chunk(out, len, blk, count, start, 0);
            return 1;
        }
        if (max_chunks <= 1) {
            start += c->stride;
            continue;
        }
        /* _first_chunk: largest leading run scoring on its needle prefix */
        int first = 0;
        for (int k = count - 1; k > 0; k--) {
            int needle_end = blk[3 * (k - 1) + 2] ? blk[3 * (k - 1) + 1] + blk[3 * (k - 1) + 2] : 0;
            if (!needle_end) break;
            if (fz_score(c, blk, k, 0, lo, needle_end) >= c->threshold) {
                first = k;
                break;
            }
        }
        /* _last_chunk: largest trailing run scoring on its needle suffix */
        int last = -1;
        for (int k = 0; !first && k < count; k++) {
            if (!blk[3 * k + 2]) break;
            int ns = blk[3 * k + 1];
            if (fz_score(c, blk + 3 * k, count - k, ns, lo + ns, m - ns) >= c->threshold) {
                last = k;
                break;
            }
        }
        if (!first && last < 0) {
            start += c->stride;
            continue;
        }
        int64_t mark = *len;
        int got;
        if (first) {
            /* quirk: the remaining search starts at start + needle_split,
               and the first chunk keeps window-relative a indices */
            int split = blk[3 * (first - 1) + 1] + blk[3 * (first - 1) + 2];
            fz_put_chunk(out, len, blk, first, 0, 0);
            int64_t rest = *len;
            got = fz_strided(c, lo + split, m - split, max_chunks - 1,
                             start + split, depth + 1, out, len);
            if (got < 0) return got;
            if (got) {
                /* offset_blocks(chunk, b_offset=needle_split) */
                int64_t r = rest;
                for (int g = 0; g < got; g++) {
                    int nb = out[r];
                    for (int k = 0; k < nb; k++) out[r + 2 + 3 * k] += split;
                    r += 1 + 3 * (int64_t)nb;
                }
                return 1 + got;
            }
        } else {
            int split = blk[3 * last + 1];
            got = fz_strided(c, lo, split, max_chunks - 1, 0, depth + 1, out, len);
            if (got < 0) return got;
            if (got) {
                /* the last chunk keeps its size-0 terminator */
                fz_put_chunk(out, len, blk + 3 * last, count - last, 0, 0);
                return got + 1;
            }
        }
        *len = mark;
        start += c->stride;
    }
    return 0;
}

/* Entry point.  On success returns the chunk count and writes need[0] =
   ints used at ws[0..]: per chunk a block count then (a, b, size) triples
   in original offsets (a shifted by a_offset, size-0 blocks dropped).
   Returns FZ_GROW with need[0] (ws ints) / need[1] (mat cells) when a
   scratch buffer is too small, FZ_SENTINEL when the python path must run. */
int fuzzy_search_chunks(const uint32_t* hay, int hay_len,
                        const uint32_t* ndl, int ndl_len,
                        double threshold, int max_chunks, int a_offset,
                        const uint8_t* alpha, int alpha_len, int64_t nt_bytes,
                        int32_t* ws, int64_t ws_cap,
                        int16_t* mat, int64_t mat_cap, int64_t* need) {
    int hn = 0, nn = 0;
    for (int i = 0; i < hay_len; i++) hn += !fz_is_space(hay[i]);
    for (int i = 0; i < ndl_len; i++) nn += !fz_is_space(ndl[i]);
    /* auto_window; round() is half-to-even, as rint */
    int64_t max_length = hn, stride = hn;
    if (hn > FZ_MIN_WINDOW_LENGTH) {
        double edits = rint((double)(hn < nn ? hn : nn) * (1.0 - threshold));
        if (!(fabs(edits) < 1e9)) return FZ_SENTINEL;
        int64_t matched_len = nn + (int64_t)edits;
        max_length = matched_len * 4;
        if (max_length < FZ_MIN_WINDOW_LENGTH) max_length = FZ_MIN_WINDOW_LENGTH;
        stride = max_length - matched_len;
        if (stride <= 0 || max_length > (1 << 30)) return FZ_SENTINEL;
    }
    int64_t w = max_length < hn ? max_length : hn;
    int64_t levels = max_chunks < nn + 1 ? max_chunks : nn + 1;
    if (levels < 1) levels = 1;
    int64_t level_stride = 3 * ((w < nn ? w : nn) + 2);
    int64_t out_cap = levels * (1 + level_stride);
    int64_t total = out_cap + 3 * (int64_t)hn + 3 * (int64_t)nn + 2
        + 5 * (w + nn) + 8 + levels * level_stride;
    if (total > ws_cap) {
        need[0] = total; need[1] = 0;
        return FZ_GROW;
    }
    fz_ctx c;
    int32_t* p = ws + out_cap;
    uint32_t* hm = (uint32_t*)p; p += hn;
    int32_t* hmap = p; p += hn;
    int32_t* hjunk = p; p += hn + 1;
    uint32_t* nm = (uint32_t*)p; p += nn;
    int32_t* nmap = p; p += nn;
    int32_t* njunk = p; p += nn + 1;
    c.tb = p; p += 5 * (w + nn) + 8;
    c.levels = p;
    c.level_stride = level_stride;
    for (int i = 0, k = 0; i < hay_len; i++)
        if (!fz_is_space(hay[i])) { hm[k] = hay[i]; hmap[k++] = i; }
    for (int i = 0, k = 0; i < ndl_len; i++)
        if (!fz_is_space(ndl[i])) { nm[k] = ndl[i]; nmap[k++] = i; }
    if (fz_junk_prefix(hm, hn, alpha, alpha_len, hjunk) < 0
        || fz_junk_prefix(nm, nn, alpha, alpha_len, njunk) < 0)
        return FZ_SENTINEL;
    c.hay = hm; c.hn = hn; c.hay_junk = hjunk;
    c.ndl = nm; c.nn = nn; c.ndl_junk = njunk;
    c.max_length = (int)max_length; c.stride = (int)stride;
    c.threshold = threshold; c.nt_bytes = nt_bytes;
    c.mat = mat; c.mat_cap = mat_cap; c.mat_need = 0;

    int64_t len = 0;
    int n_chunks;
    /* single-window exact-occurrence fast path */
    int at = nn > 0 && threshold <= 1.0 && hn <= FZ_MIN_WINDOW_LENGTH
        ? fz_find(hm, hn, nm, nn) : -1;
    if (at >= 0) {
        int32_t blk[3] = {at, 0, nn};
        fz_put_chunk(ws, &len, blk, 1, 0, 0);
        n_chunks = 1;
    } else {
        n_chunks = fz_strided(&c, 0, nn, max_chunks, 0, 0, ws, &len);
    }
    if (n_chunks == FZ_GROW) {
        need[0] = total; need[1] = c.mat_need;
        return FZ_GROW;
    }
    if (n_chunks < 0) return n_chunks;
    /* back-map in place (the write cursor never passes the read cursor) */
    int64_t r = 0, wr = 0;
    for (int g = 0; g < n_chunks; g++) {
        int nb = ws[r++];
        int64_t head = wr++;
        int kept = 0;
        for (int k = 0; k < nb; k++, r += 3) {
            int ai = ws[r], bi = ws[r + 1], size = ws[r + 2];
            if (!size) continue;
            if (ai < 0 || ai + size > hn || bi < 0 || bi >= nn) return FZ_SENTINEL;
            ws[wr++] = hmap[ai] + a_offset;
            ws[wr++] = nmap[bi];
            ws[wr++] = hmap[ai + size - 1] - hmap[ai] + 1;
            kept++;
        }
        ws[head] = kept;
    }
    need[0] = wr;
    return n_chunks;
}
"""

_CACHE_DIR = os.environ.get(
    "SPARK_GRAFT_NATIVE_CACHE",
    os.path.join(os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))), ".native_cache"),
)

_lib: Optional[ctypes.CDLL] = None
_tried = False


def _cache_dir_candidates():
    yield _CACHE_DIR
    # When the package ships inside a --py-files zip, __file__-derived paths
    # point INSIDE the archive and makedirs fails; without this fallback the
    # C kernel would silently degrade to the ~5x slower numpy DP on every
    # executor.  A per-user tempdir cache keeps the compile one-time per node.
    yield os.path.join(
        tempfile.gettempdir(), "sciencebeam_spark_native_%d" % os.getuid()
    )


def _compile() -> Optional[str]:
    digest = hashlib.sha1(_C_SOURCE.encode()).hexdigest()[:16]
    for cache_dir in _cache_dir_candidates():
        so_path = os.path.join(cache_dir, "swkernel_%s.so" % digest)
        if os.path.exists(so_path):
            return so_path
        c_path = tmp_so = None
        try:
            os.makedirs(cache_dir, exist_ok=True)
            with tempfile.NamedTemporaryFile(
                "w", suffix=".c", dir=cache_dir, delete=False
            ) as fh:
                c_path = fh.name
                fh.write(_C_SOURCE)
            tmp_so = so_path + ".tmp.%d" % os.getpid()
            subprocess.run(
                ["gcc", "-O3", "-shared", "-fPIC", "-o", tmp_so, c_path, "-lm"],
                check=True,
                capture_output=True,
                timeout=60,
            )
            os.replace(tmp_so, so_path)  # atomic vs concurrent workers
            return so_path
        except Exception:
            continue
        finally:
            # a failed compile must not leave one stray source/output per
            # worker attempt in the shared cache dir
            for path in (c_path, tmp_so):
                if path:
                    with contextlib.suppress(FileNotFoundError):
                        os.unlink(path)
    return None


def get_native_lib() -> Optional[ctypes.CDLL]:
    global _lib, _tried
    if _tried:
        return _lib
    _tried = True
    so_path = _compile()
    if not so_path:
        return None
    try:
        lib = ctypes.CDLL(so_path)
        lib.sw_matrix.argtypes = [
            ctypes.POINTER(ctypes.c_uint32),
            ctypes.c_int,
            ctypes.POINTER(ctypes.c_uint32),
            ctypes.c_int,
            ctypes.POINTER(ctypes.c_int32),
        ]
        lib.sw_matrix.restype = None
        lib.sw_best.argtypes = [
            ctypes.POINTER(ctypes.c_int32),
            ctypes.c_int,
            ctypes.c_int,
            ctypes.POINTER(ctypes.c_int32),
        ]
        lib.sw_best.restype = None
        lib.sw_matrix16.argtypes = [
            ctypes.POINTER(ctypes.c_uint32),
            ctypes.c_int,
            ctypes.POINTER(ctypes.c_uint32),
            ctypes.c_int,
            ctypes.POINTER(ctypes.c_int16),
            ctypes.POINTER(ctypes.c_int32),
        ]
        lib.sw_matrix16.restype = None
        lib.sw_traceback16.argtypes = [
            ctypes.POINTER(ctypes.c_uint32),
            ctypes.POINTER(ctypes.c_uint32),
            ctypes.POINTER(ctypes.c_int16),
            ctypes.c_int,
            ctypes.c_int,
            ctypes.c_int,
            ctypes.c_int,
            ctypes.POINTER(ctypes.c_int32),
        ]
        lib.sw_traceback16.restype = ctypes.c_int
        lib.sw_align16.argtypes = [
            ctypes.POINTER(ctypes.c_uint32),
            ctypes.c_int,
            ctypes.POINTER(ctypes.c_uint32),
            ctypes.c_int,
            ctypes.POINTER(ctypes.c_int16),
            ctypes.POINTER(ctypes.c_int32),
        ]
        lib.sw_align16.restype = ctypes.c_int
        # hot-path handle with ndpointer argtypes: numpy arrays pass
        # directly (pointer extraction happens in C), skipping the four
        # per-call ctypes cast objects of the hand-rolled signature —
        # measurable at the flagship's ~40 short alignments per document.
        # CDLL.__getitem__ returns a fresh uncached function object, so the
        # same symbol carries both signatures.
        align16_np = lib["sw_align16"]
        align16_np.argtypes = [
            np.ctypeslib.ndpointer(dtype=np.uint32, flags="C_CONTIGUOUS"),
            ctypes.c_int,
            np.ctypeslib.ndpointer(dtype=np.uint32, flags="C_CONTIGUOUS"),
            ctypes.c_int,
            np.ctypeslib.ndpointer(dtype=np.int16, flags="C_CONTIGUOUS"),
            np.ctypeslib.ndpointer(dtype=np.int32, flags="C_CONTIGUOUS"),
        ]
        align16_np.restype = ctypes.c_int
        lib.sw_align16_np = align16_np
        lib.sw_align16_nt.argtypes = [
            ctypes.POINTER(ctypes.c_uint32),
            ctypes.c_int,
            ctypes.POINTER(ctypes.c_uint32),
            ctypes.c_int,
            ctypes.POINTER(ctypes.c_int16),
            ctypes.POINTER(ctypes.c_int16),
            ctypes.POINTER(ctypes.c_int32),
        ]
        lib.sw_align16_nt.restype = ctypes.c_int
        # bytes pass as char* without a copy and the scratch buffers as
        # cached addresses: ndpointer conversion would cost more per search
        # than the masking it replaces
        lib.fuzzy_search_chunks.argtypes = [
            ctypes.c_char_p,
            ctypes.c_int,
            ctypes.c_char_p,
            ctypes.c_int,
            ctypes.c_double,
            ctypes.c_int,
            ctypes.c_int,
            ctypes.c_void_p,
            ctypes.c_int,
            ctypes.c_int64,
            ctypes.c_void_p,
            ctypes.c_int64,
            ctypes.c_void_p,
            ctypes.c_int64,
            ctypes.c_void_p,
        ]
        lib.fuzzy_search_chunks.restype = ctypes.c_int
        _lib = lib
    except Exception:
        _lib = None
    return _lib


def native_sw_matrix_and_best(
    a_codes: np.ndarray, b_codes: np.ndarray
) -> Optional[tuple]:
    """C path returning (h, (i, j, score)): int16 fused-best variant when the
    score range allows (halves memory traffic), int32 two-pass otherwise.
    None when the native lib is unavailable."""
    lib = get_native_lib()
    if lib is None:
        return None
    n = a_codes.shape[0]
    m = b_codes.shape[0]
    if n == 0 or m == 0:
        return np.zeros((m + 1, n + 1), dtype=np.int16), (0, 0, 0)
    if 2 * min(n, m) < 32000:
        # only row 0 / col 0 need zeroing; the C loop writes every other cell
        h16 = np.empty((m + 1, n + 1), dtype=np.int16)
        h16[0, :] = 0
        h16[:, 0] = 0
        out = np.zeros(3, dtype=np.int32)
        a_contig = np.ascontiguousarray(a_codes, dtype=np.uint32)
        b_contig = np.ascontiguousarray(b_codes, dtype=np.uint32)
        lib.sw_matrix16(
            a_contig.ctypes.data_as(ctypes.POINTER(ctypes.c_uint32)),
            n,
            b_contig.ctypes.data_as(ctypes.POINTER(ctypes.c_uint32)),
            m,
            h16.ctypes.data_as(ctypes.POINTER(ctypes.c_int16)),
            out.ctypes.data_as(ctypes.POINTER(ctypes.c_int32)),
        )
        return h16, (int(out[0]), int(out[1]), int(out[2]))
    h = native_sw_matrix(a_codes, b_codes)
    assert h is not None
    best = native_pick_max(h)
    return h, best


def native_sw_matrix(a_codes: np.ndarray, b_codes: np.ndarray) -> Optional[np.ndarray]:
    """C-path score matrix; None when the native lib is unavailable."""
    lib = get_native_lib()
    if lib is None:
        return None
    n = a_codes.shape[0]
    m = b_codes.shape[0]
    h = np.zeros((m + 1, n + 1), dtype=np.int32)
    if n and m:
        a_contig = np.ascontiguousarray(a_codes, dtype=np.uint32)
        b_contig = np.ascontiguousarray(b_codes, dtype=np.uint32)
        lib.sw_matrix(
            a_contig.ctypes.data_as(ctypes.POINTER(ctypes.c_uint32)),
            n,
            b_contig.ctypes.data_as(ctypes.POINTER(ctypes.c_uint32)),
            m,
            h.ctypes.data_as(ctypes.POINTER(ctypes.c_int32)),
        )
    return h


def native_traceback16(
    a_codes: np.ndarray, b_codes: np.ndarray, h16: np.ndarray, i: int, j: int
):
    """C traceback over an int16 matrix; None when unavailable or when the
    matrix is not int16 (the int32 fallback paths keep the python walk)."""
    lib = get_native_lib()
    if lib is None or h16.dtype != np.int16:
        return None
    n = a_codes.shape[0]
    m = b_codes.shape[0]
    # blocks area (3 per block, <= n+m blocks) + pairs scratch (2 per match)
    buffer = np.empty(3 * (n + m) + 2 * (n + m) + 8, dtype=np.int32)
    a_contig = np.ascontiguousarray(a_codes, dtype=np.uint32)
    b_contig = np.ascontiguousarray(b_codes, dtype=np.uint32)
    n_blocks = lib.sw_traceback16(
        a_contig.ctypes.data_as(ctypes.POINTER(ctypes.c_uint32)),
        b_contig.ctypes.data_as(ctypes.POINTER(ctypes.c_uint32)),
        np.ascontiguousarray(h16).ctypes.data_as(ctypes.POINTER(ctypes.c_int16)),
        n,
        m,
        i,
        j,
        buffer.ctypes.data_as(ctypes.POINTER(ctypes.c_int32)),
    )
    return [
        (int(buffer[3 * k]), int(buffer[3 * k + 1]), int(buffer[3 * k + 2]))
        for k in range(n_blocks)
    ]


def native_pick_max(h: np.ndarray) -> Optional[tuple]:
    lib = get_native_lib()
    if lib is None:
        return None
    m_plus, n_plus = h.shape
    out = np.zeros(3, dtype=np.int32)
    lib.sw_best(
        np.ascontiguousarray(h).ctypes.data_as(ctypes.POINTER(ctypes.c_int32)),
        n_plus - 1,
        m_plus - 1,
        out.ctypes.data_as(ctypes.POINTER(ctypes.c_int32)),
    )
    return int(out[0]), int(out[1]), int(out[2])


_blocks_scratch: Optional[np.ndarray] = None
_matrix_scratch: Optional[np.ndarray] = None
_rowbuf_scratch: Optional[np.ndarray] = None

# Above this matrix size the cache-invisible streaming DP takes over.
# Measured on this box (scripts/profile_dp_footprint.py + bench_dp_nt.py,
# quiet window): flagship matrices are <=45 KB (L1-resident — the cached
# path is optimal and r2's L3-thrash theory does NOT apply to the bench
# workload); production-length needles cross L2 at ~500 chars and a
# 16-core LLC share at ~1000 chars, yet the cached path still scales
# 0.87-0.91 at 4->32 workers here (260 MB L3, ample DRAM bandwidth) while
# NT costs 1-10% single-core and wins ~5% aggregate only at the largest
# sizes.  Default 16 MB: NT engages only where the matrix exceeds any
# plausible per-core LLC share — on bandwidth/LLC-constrained production
# executors (1-3 MB LLC/core is typical) the no-RFO, zero-LLC-occupancy
# behavior is the right one; tune with SPARK_GRAFT_SW_NT_THRESHOLD.
_NT_THRESHOLD_BYTES = int(
    os.environ.get("SPARK_GRAFT_SW_NT_THRESHOLD", str(1 << 24))
)


def native_match_blocks(a_codes: np.ndarray, b_codes: np.ndarray):
    """Fused C path: matrix + best cell + traceback in ONE FFI call; the DP
    matrix is C-internal scratch and never crosses into Python.  Returns the
    difflib-style blocks (without terminator), or None when the native lib
    is unavailable / the int16 score range would overflow (caller falls back
    to the two-call or numpy paths).

    The blocks buffer is reused across calls (python workers are
    single-threaded; the buffer only grows)."""
    global _blocks_scratch
    lib = get_native_lib()
    if lib is None:
        return None
    n = a_codes.shape[0]
    m = b_codes.shape[0]
    if n == 0 or m == 0:
        return []
    if 2 * min(n, m) >= 32000:
        return None
    global _matrix_scratch
    need = 5 * (n + m) + 8
    if _blocks_scratch is None or _blocks_scratch.shape[0] < need:
        _blocks_scratch = np.empty(max(need, 4096), dtype=np.int32)
    buffer = _blocks_scratch
    cells = (n + 1) * (m + 1)
    if _matrix_scratch is None or _matrix_scratch.shape[0] < cells:
        _matrix_scratch = np.empty(max(cells, 1 << 16), dtype=np.int16)
    matrix = _matrix_scratch
    a_contig = (
        a_codes
        if a_codes.flags.c_contiguous and a_codes.dtype == np.uint32
        else np.ascontiguousarray(a_codes, dtype=np.uint32)
    )
    b_contig = (
        b_codes
        if b_codes.flags.c_contiguous and b_codes.dtype == np.uint32
        else np.ascontiguousarray(b_codes, dtype=np.uint32)
    )
    if cells * 2 <= _NT_THRESHOLD_BYTES:
        # common case first: ndpointer signature, no per-call casts
        n_blocks = lib.sw_align16_np(a_contig, n, b_contig, m, matrix, buffer)
        return [
            (int(buffer[3 * k]), int(buffer[3 * k + 1]), int(buffer[3 * k + 2]))
            for k in range(n_blocks)
        ]
    # large matrix: cache-invisible streaming DP (byte-identical values)
    global _rowbuf_scratch
    row_need = 2 * (n + 1)
    if _rowbuf_scratch is None or _rowbuf_scratch.shape[0] < row_need:
        _rowbuf_scratch = np.empty(max(row_need, 4096), dtype=np.int16)
    n_blocks = lib.sw_align16_nt(
        a_contig.ctypes.data_as(ctypes.POINTER(ctypes.c_uint32)),
        n,
        b_contig.ctypes.data_as(ctypes.POINTER(ctypes.c_uint32)),
        m,
        matrix.ctypes.data_as(ctypes.POINTER(ctypes.c_int16)),
        _rowbuf_scratch.ctypes.data_as(ctypes.POINTER(ctypes.c_int16)),
        buffer.ctypes.data_as(ctypes.POINTER(ctypes.c_int32)),
    )
    return [
        (int(buffer[3 * k]), int(buffer[3 * k + 1]), int(buffer[3 * k + 2]))
        for k in range(n_blocks)
    ]


_FZ_GROW = -2
_ISALPHA_TABLE_SIZE = 0x10000  # the basic multilingual plane
_fuzzy_scratch: Optional[np.ndarray] = None
_fuzzy_need = np.zeros(2, dtype=np.int64)
_isalpha_table: Optional[np.ndarray] = None
# (workspace, matrix) arrays the cached addresses below belong to
_fuzzy_bound: Tuple[Optional[np.ndarray], Optional[np.ndarray]] = (None, None)
_fuzzy_addrs: Tuple[int, int, int, int] = (0, 0, 0, 0)


def _get_isalpha_table() -> np.ndarray:
    """``str.isalpha`` over the basic multilingual plane, built once; the C
    search declines (sentinel) when it needs a letter check past it."""
    global _isalpha_table
    if _isalpha_table is None:
        _isalpha_table = np.fromiter(
            (chr(code).isalpha() for code in range(_ISALPHA_TABLE_SIZE)),
            dtype=np.uint8,
            count=_ISALPHA_TABLE_SIZE,
        )
    return _isalpha_table


def _fuzzy_buffers() -> Tuple[int, int, int, int]:
    """Addresses of the search workspace, the (shared) DP matrix scratch,
    the isalpha table and the need array, re-read only when a buffer was
    replaced (by growth here or in ``native_match_blocks``)."""
    global _fuzzy_scratch, _matrix_scratch, _fuzzy_bound, _fuzzy_addrs
    if _fuzzy_scratch is None:
        _fuzzy_scratch = np.empty(1 << 16, dtype=np.int32)
    if _matrix_scratch is None:
        _matrix_scratch = np.empty(1 << 16, dtype=np.int16)
    if _fuzzy_bound[0] is not _fuzzy_scratch or _fuzzy_bound[1] is not _matrix_scratch:
        _fuzzy_bound = (_fuzzy_scratch, _matrix_scratch)
        _fuzzy_addrs = (
            _fuzzy_scratch.ctypes.data,
            _matrix_scratch.ctypes.data,
            _get_isalpha_table().ctypes.data,
            _fuzzy_need.ctypes.data,
        )
    return _fuzzy_addrs


def native_fuzzy_search_chunks(
    haystack: str, needle: str, threshold: float, max_chunks: int, a_offset: int
) -> Optional[List[List[Tuple[int, int, int]]]]:
    """The long-needle branch of ``fuzzy.fuzzy_search_chunks`` as one C call:
    whitespace masking, the exact-occurrence fast path, the strided windowed
    Smith-Waterman with needle chunking, positional-junk scoring and the
    back-map to original offsets (``a`` shifted by ``a_offset``).

    Returns the chunk blocks (``[]`` when nothing is accepted), or None when
    the native lib is unavailable or the input is one the C code declines
    (the caller then runs the python path, which is the reference).  The
    workspace and DP matrix are grow-only module scratch, as in
    ``native_match_blocks``, so one process runs one search at a time (as
    Spark's Python workers do)."""
    global _fuzzy_scratch, _matrix_scratch
    lib = get_native_lib()
    if lib is None:
        return None
    try:
        hay = haystack.encode("utf-32-le")
        ndl = needle.encode("utf-32-le")
    except UnicodeEncodeError:
        return None
    need = _fuzzy_need
    while True:
        ws_addr, mat_addr, alpha_addr, need_addr = _fuzzy_buffers()
        n_chunks = lib.fuzzy_search_chunks(
            hay, len(haystack), ndl, len(needle), threshold, max_chunks, a_offset,
            alpha_addr, _ISALPHA_TABLE_SIZE, _NT_THRESHOLD_BYTES,
            ws_addr, _fuzzy_scratch.shape[0], mat_addr, _matrix_scratch.shape[0],
            need_addr,
        )
        if n_chunks != _FZ_GROW:
            break
        if need[0] > _fuzzy_scratch.shape[0]:
            _fuzzy_scratch = np.empty(int(need[0]), dtype=np.int32)
        elif need[1] > _matrix_scratch.shape[0]:
            _matrix_scratch = np.empty(int(need[1]), dtype=np.int16)
        else:
            return None
    if n_chunks < 0:
        return None
    flat = _fuzzy_scratch[: int(need[0])].tolist()
    chunks = []
    k = 0
    for _ in range(n_chunks):
        end = k + 1 + 3 * flat[k]
        chunks.append(list(zip(flat[k + 1 : end : 3], flat[k + 2 : end : 3], flat[k + 3 : end : 3])))
        k = end
    return chunks
