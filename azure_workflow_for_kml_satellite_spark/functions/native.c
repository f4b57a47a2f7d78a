/* Fused raster kernels (OPTIMIZATION_r08.md §10).
 *
 * Exact C mirror of the numpy chain in functions/raster.py:
 *   _hash_grid (murmur3-fmix32 over u32 with wrap) → gen_band (RED/NIR
 *   value synthesis + nodata divisibility masks, SCL/QA class tables)
 *   → _ndvi_core ((nir−red)/(nir+red) in IEEE float32) → aux masking
 *   (SCL validity LUT / Landsat QA bits) → row-major compaction of the
 *   valid NDVI values.
 *
 * Bit-exactness contract (tests/test_native_kernels.py pins it against
 * the numpy path on random windows):
 *  - every integer op is u32 arithmetic with wrap, exactly as the numpy
 *    uint32 pipeline (including the 13·row / 7·col NIR wraps);
 *  - the only float ops are u16→f32 convert, one f32 subtract, one f32
 *    add and one f32 divide per pixel — IEEE-754 correctly rounded in
 *    both numpy and C (compiled with -ffp-contract=off, no fast-math;
 *    SSE/AVX f32, no x87 excess precision). NDVI is computed
 *    unconditionally per pixel (0/0 → NaN quietly, exceptions masked) but
 *    only read where valid — the same "values at masked positions are
 *    never read" property the numpy path has;
 *  - valid ≡ red>0 && nir>0 (implies den ≥ 2 > 0 ⟹ finite NDVI — the
 *    identity the numpy path's mask reduces to);
 *  - the compacted output equals ndvi[valid_mask] in row-major order, so
 *    every downstream reduction (np.sort / mean / std / threshold
 *    counts) runs on an identical array.
 *
 * Shape: per output row, elementwise passes over small row buffers
 * (L1-resident, auto-vectorizable) followed by a scalar compaction —
 * the same loop structure numpy uses, minus ~30 full-array DRAM passes
 * and the Python dispatch. All REDUCTIONS stay in numpy.
 *
 * Thread-safety: the row scratch is process-global (PySpark workers run
 * one task at a time; mirrors raster._SCRATCH).
 */

#include <math.h>
#include <stdint.h>
#include <stdlib.h>
#include <string.h>

#if defined(__AVX512F__)
#include <immintrin.h>
#endif

#define M1 0x85EBCA6Bu
#define M2 0xC2B2AE35u
#define BANDMIX 0x27D4EB2Fu
#define QA_CLOUD_BITS 0x3Au /* LANDSAT_QA_CLOUD_BITS = 0b00111010 */

/* Mask-table derivation (kept for documentation; the loops use the
 * reduced predicate (h % 10) >= 3, proven identical):
 *   SCL_TABLE[10]      = {9, 8, 3, 4, 5, 6, 2, 4, 5, 4}
 *   VALID_SCL_CLASSES  = (2, 4, 5, 6) → ok by k: {0,0,0,1,1,1,1,1,1,1}
 *   QA_TABLE[10]       = {2, 8, 16, 0, ...}; 2, 8 and 16 all intersect
 *   QA_CLOUD_BITS, so (QA_TABLE[k] & bits) == 0 ⟺ k >= 3 as well. */

static inline uint32_t fmix_tail(uint32_t h) {
    h ^= h >> 16;
    h *= M1;
    h ^= h >> 13;
    h *= M2;
    h ^= h >> 16;
    return h;
}

/* ── per-side row evaluator ─────────────────────────────────────────── */

typedef struct {
    uint32_t seed;
    int32_t kind; /* 0 S2+SCL, 1 Landsat+QA, 2 no aux */
    int64_t r0, c0;
    int64_t aux_r0, aux_c0;
    const int64_t *row_idx, *col_idx;
    uint32_t s1000;
    /* row scratch, sized >= w */
    uint32_t *cp;     /* (c0+j)*M2 */
    uint32_t *cm;     /* (7*(c0+j)) % 100 */
    uint32_t *aux_cp; /* (aux_c0+col_idx[j])*M2 (S2) */
    uint32_t *h32;    /* hash scratch */
    uint32_t *t32;    /* value scratch */
    uint8_t *base;    /* red>0 && nir>0 */
    uint8_t *ok;      /* aux mask */
    float *fr;        /* red as f32 */
    float *fn;        /* nir as f32 */
    float *ndvi;
    int64_t prev_aux_row; /* last SCL source row (reuse the ok row) */
} side_t;

static void side_prepare(side_t *s, int64_t w) {
    for (int64_t j = 0; j < w; j++) {
        uint32_t c = (uint32_t)(s->c0 + j);
        s->cp[j] = c * M2;
        s->cm[j] = (7u * c) % 100u;
    }
    if (s->kind == 0) {
        for (int64_t j = 0; j < w; j++) {
            uint32_t ac = (uint32_t)(s->aux_c0 + s->col_idx[j]);
            s->aux_cp[j] = ac * M2;
        }
    }
    s->prev_aux_row = -1;
}

/* Fill ndvi/base/ok for output row i (length w). */
static void side_eval_row(side_t *s, int64_t i, int64_t w) {
    uint32_t r = (uint32_t)(s->r0 + i);
    uint32_t rp = r * M1;
    uint32_t sr = s->seed ^ (1u * BANDMIX);
    uint32_t sn = s->seed ^ (2u * BANDMIX);
    uint32_t *h = s->h32, *t = s->t32;
    const uint32_t *cp = s->cp, *cm = s->cm;

    /* RED: value + nodata + f32 */
    for (int64_t j = 0; j < w; j++) h[j] = fmix_tail(rp ^ cp[j] ^ sr);
    for (int64_t j = 0; j < w; j++) {
        uint32_t v = ((h[j] >> 8) % 1200u) + 300u;
        t[j] = (h[j] % 97u == 0u) ? 0u : v;
    }
    for (int64_t j = 0; j < w; j++) s->fr[j] = (float)t[j];
    for (int64_t j = 0; j < w; j++) s->base[j] = t[j] > 0u;

    /* NIR */
    uint32_t rm = (13u * r + s->s1000) % 100u;
    for (int64_t j = 0; j < w; j++) h[j] = fmix_tail(rp ^ cp[j] ^ sn);
    for (int64_t j = 0; j < w; j++) {
        uint32_t veg = rm + cm[j];
        if (veg >= 100u) veg -= 100u;
        uint32_t v = ((h[j] >> 8) % 900u) + veg * 55u + 400u;
        t[j] = (h[j] % 101u == 0u) ? 0u : v;
    }
    for (int64_t j = 0; j < w; j++) s->fn[j] = (float)t[j];
    for (int64_t j = 0; j < w; j++) s->base[j] &= t[j] > 0u;

    /* NDVI (unconditional; only read where base) */
    for (int64_t j = 0; j < w; j++)
        s->ndvi[j] = (s->fn[j] - s->fr[j]) / (s->fn[j] + s->fr[j]);

    /* aux mask */
    if (s->kind == 0) {
        int64_t ar = s->row_idx[i];
        if (ar != s->prev_aux_row) { /* 2x downsample: rows repeat */
            s->prev_aux_row = ar;
            uint32_t arp = (uint32_t)(s->aux_r0 + ar) * M1;
            uint32_t ss = s->seed ^ (3u * BANDMIX);
            const uint32_t *acp = s->aux_cp;
            for (int64_t j = 0; j < w; j++) {
                uint32_t hs = fmix_tail(arp ^ acp[j] ^ ss);
                /* SCL_OK_BY_MOD[k] == (k >= 3) — branchless, vectorizes */
                s->ok[j] = (hs % 10u) >= 3u;
            }
        }
    } else if (s->kind == 1) {
        uint32_t sq = s->seed ^ (4u * BANDMIX);
        for (int64_t j = 0; j < w; j++) {
            uint32_t hq = fmix_tail(rp ^ cp[j] ^ sq);
            /* (QA_TABLE[k] & QA_CLOUD_BITS) == 0  ⟺  k >= 3
             * (QA_TABLE = {2,8,16,0,...}; 2,8,16 all intersect 0x3A) */
            s->ok[j] = (hq % 10u) >= 3u;
        }
    } else {
        memset(s->ok, 1, (size_t)w);
    }
}

/* ── scratch management ─────────────────────────────────────────────── */

static void *grow(void **p, size_t *cap, size_t need) {
    if (*cap < need) {
        free(*p);
        *p = malloc(need);
        *cap = need;
    }
    return *p;
}

#define SIDE_SLOTS 11
static void *side_mem[2][SIDE_SLOTS];
static size_t side_cap[2][SIDE_SLOTS];

static void side_bind(side_t *s, int slot, int64_t w) {
    size_t w4 = (size_t)w * 4, w1 = (size_t)w;
    void **m = side_mem[slot];
    size_t *c = side_cap[slot];
    s->cp = grow(&m[0], &c[0], w4);
    s->cm = grow(&m[1], &c[1], w4);
    s->aux_cp = grow(&m[2], &c[2], w4);
    s->h32 = grow(&m[3], &c[3], w4);
    s->t32 = grow(&m[4], &c[4], w4);
    s->base = grow(&m[5], &c[5], w1);
    s->ok = grow(&m[6], &c[6], w1);
    s->fr = grow(&m[7], &c[7], w4);
    s->fn = grow(&m[8], &c[8], w4);
    s->ndvi = grow(&m[9], &c[9], w4);
}

/* ── compaction ─────────────────────────────────────────────────────────
 * Left-pack the valid lanes of one row. Pure selection — no float
 * arithmetic — so the AVX-512 compress path stores the identical bytes
 * the scalar loop does, in the same order (vcompressps preserves lane
 * order). The -march=native build takes the vector path (5.7x measured);
 * the portable fallback build keeps the scalar loop. */

static int64_t compact_row(const float *ndvi, const uint8_t *base,
                           const uint8_t *ok, int64_t w, float *out,
                           int64_t *masked_acc) {
    int64_t n = 0, masked = 0, j = 0;
#if defined(__AVX512F__)
    for (; j + 16 <= w; j += 16) {
        __m512i vb = _mm512_cvtepu8_epi32(_mm_loadu_si128((const __m128i *)(base + j)));
        __m512i vo = _mm512_cvtepu8_epi32(_mm_loadu_si128((const __m128i *)(ok + j)));
        __mmask16 mb = _mm512_test_epi32_mask(vb, vb);
        __mmask16 mo = _mm512_test_epi32_mask(vo, vo);
        __mmask16 valid = (__mmask16)(mb & mo);
        masked += __builtin_popcount((unsigned)(mb & (__mmask16)~mo));
        _mm512_mask_compressstoreu_ps(out + n, valid, _mm512_loadu_ps(ndvi + j));
        n += __builtin_popcount((unsigned)valid);
    }
#endif
    for (; j < w; j++) {
        int b = base[j], o = ok[j];
        masked += b & !o;
        if (b & o) out[n++] = ndvi[j];
    }
    *masked_acc += masked;
    return n;
}

/* Left-pack ndvi_b − ndvi_a at jointly-valid lanes. The vector path
 * computes the f32 subtraction on every lane (IEEE per-lane, identical
 * to the scalar op; invalid lanes may be NaN — discarded, exceptions
 * masked) and compresses the valid ones in lane order. */
static int64_t compact_delta_row(const float *nda, const uint8_t *ba,
                                 const uint8_t *oa, const float *ndb,
                                 const uint8_t *bb, const uint8_t *ob,
                                 int64_t w, float *out) {
    int64_t n = 0, j = 0;
#if defined(__AVX512F__)
    for (; j + 16 <= w; j += 16) {
        __m512i v1 = _mm512_cvtepu8_epi32(_mm_loadu_si128((const __m128i *)(ba + j)));
        __m512i v2 = _mm512_cvtepu8_epi32(_mm_loadu_si128((const __m128i *)(oa + j)));
        __m512i v3 = _mm512_cvtepu8_epi32(_mm_loadu_si128((const __m128i *)(bb + j)));
        __m512i v4 = _mm512_cvtepu8_epi32(_mm_loadu_si128((const __m128i *)(ob + j)));
        __mmask16 valid = _mm512_test_epi32_mask(v1, v1) & _mm512_test_epi32_mask(v2, v2)
                        & _mm512_test_epi32_mask(v3, v3) & _mm512_test_epi32_mask(v4, v4);
        __m512 d = _mm512_sub_ps(_mm512_loadu_ps(ndb + j), _mm512_loadu_ps(nda + j));
        _mm512_mask_compressstoreu_ps(out + n, valid, d);
        n += __builtin_popcount((unsigned)valid);
    }
#endif
    for (; j < w; j++) {
        if (ba[j] & oa[j] & bb[j] & ob[j]) out[n++] = ndb[j] - nda[j];
    }
    return n;
}

/* ── entry points ───────────────────────────────────────────────────── */

/* NDVI stats feed: compact the window's valid NDVI values (row-major).
 * Returns n_valid; *masked_count = pixels base-valid but aux-masked. */
int64_t kmlsat_window_valid(uint32_t seed, int32_t kind, int64_t r0, int64_t c0,
                            int64_t h, int64_t w, int64_t aux_r0, int64_t aux_c0,
                            const int64_t *row_idx, const int64_t *col_idx,
                            uint32_t s1000, float *out_vals,
                            int64_t *masked_count) {
    side_t s = {seed, kind, r0, c0, aux_r0, aux_c0, row_idx, col_idx, s1000};
    side_bind(&s, 0, w);
    side_prepare(&s, w);
    int64_t n = 0, masked = 0;
    for (int64_t i = 0; i < h; i++) {
        side_eval_row(&s, i, w);
        n += compact_row(s.ndvi, s.base, s.ok, w, out_vals + n, &masked);
    }
    *masked_count = masked;
    return n;
}

/* ── numpy-exact float32 statistics (OPTIMIZATION_r08.md §12) ─────────
 *
 * The per-row reductions (mean/std/min/max/median/threshold counts) were
 * ~54% of a row's cost in numpy: np.sort for the order statistics plus
 * five more full passes and two scratch allocations for mean/std/counts.
 * This block computes the identical values in 4-5 linear C passes:
 *
 *  - mean/std reproduce np.mean/np.std on float32 BIT-FOR-BIT. np.sum on
 *    this numpy build (1.26.4) is: acc = 0.0f; acc += pairwise(chunk)
 *    per 8192-element buffer chunk sequentially, where pairwise() is the
 *    classic blocked algorithm (n<8 sequential from 0.0f; n<=128 eight
 *    partial accumulators combined ((r0+r1)+(r2+r3))+((r4+r5)+(r6+r7))
 *    plus a sequential remainder; else split at n/2 rounded down to a
 *    multiple of 8).  np.mean then divides the f32 sum by n IN FLOAT64
 *    and casts back to f32 (scalar float32/int promotion); np.std
 *    subtracts the f32 mean elementwise, squares elementwise (both
 *    correctly-rounded f32 ops, reproduced inline without the scratch
 *    array), pairwise-sums, divides in f64, casts to f32 and takes the
 *    f32 sqrt (sqrtss — IEEE correctly rounded, same as numpy).  All of
 *    this is pinned bitwise against numpy in tests/test_native_kernels.py
 *    over every length 1..600 plus chunk-boundary and monster sizes.
 *    NO -ffast-math / -ffp-contract=off: C evaluates the written
 *    association order exactly.
 *  - median order statistics come from an MSD radix select over the
 *    monotonic u32 key map (flip sign bit for positives, all bits for
 *    negatives).  Order statistics are VALUES of the sorted multiset, so
 *    any exact selection algorithm yields np.sort(a)[k] verbatim; no
 *    float arithmetic is involved.  (The round-8 radix-SORT negative does
 *    not apply: selection needs no scatter and touches ~1.3n elements.)
 *    The kernel value arrays contain no NaN and no -0.0 (valid ⟹ finite,
 *    and IEEE subtract of equal finite operands is +0.0), so total order
 *    == numpy's comparison order.
 *  - min/max/counts are comparison-only (no FP arithmetic): exact.
 */

static float pw_sum_f32(const float *a, int64_t n) {
    if (n < 8) {
        float res = 0.0f;
        for (int64_t i = 0; i < n; i++) res += a[i];
        return res;
    }
    if (n <= 128) {
        float r[8];
        for (int j = 0; j < 8; j++) r[j] = a[j];
        int64_t i = 8;
        for (; i + 8 <= n; i += 8)
            for (int j = 0; j < 8; j++) r[j] += a[i + j];
        float res = ((r[0] + r[1]) + (r[2] + r[3])) + ((r[4] + r[5]) + (r[6] + r[7]));
        for (; i < n; i++) res += a[i];
        return res;
    }
    int64_t n2 = n / 2;
    n2 -= n2 % 8;
    return pw_sum_f32(a, n2) + pw_sum_f32(a + n2, n - n2);
}

static float np_sum_f32(const float *a, int64_t n) {
    float acc = 0.0f; /* reduce identity: np.sum([-0.0,...]) == +0.0 */
    for (int64_t s = 0; s < n; s += 8192) {
        int64_t m = n - s < 8192 ? n - s : 8192;
        acc += pw_sum_f32(a + s, m);
    }
    return acc;
}

/* pairwise sum of (a[i]-mean)^2 — the same summation tree over the
 * virtual squared-deviation array numpy materializes for np.std (each
 * element is two correctly-rounded f32 ops either way). */
static float pw_sum_sqdev(const float *a, int64_t n, float mean) {
    if (n < 8) {
        float res = 0.0f;
        for (int64_t i = 0; i < n; i++) {
            float d = a[i] - mean;
            res += d * d;
        }
        return res;
    }
    if (n <= 128) {
        float r[8];
        for (int j = 0; j < 8; j++) {
            float d = a[j] - mean;
            r[j] = d * d;
        }
        int64_t i = 8;
        for (; i + 8 <= n; i += 8)
            for (int j = 0; j < 8; j++) {
                float d = a[i + j] - mean;
                r[j] += d * d;
            }
        float res = ((r[0] + r[1]) + (r[2] + r[3])) + ((r[4] + r[5]) + (r[6] + r[7]));
        for (; i < n; i++) {
            float d = a[i] - mean;
            res += d * d;
        }
        return res;
    }
    int64_t n2 = n / 2;
    n2 -= n2 % 8;
    return pw_sum_sqdev(a, n2, mean) + pw_sum_sqdev(a + n2, n - n2, mean);
}

static float np_sum_sqdev(const float *a, int64_t n, float mean) {
    float acc = 0.0f;
    for (int64_t s = 0; s < n; s += 8192) {
        int64_t m = n - s < 8192 ? n - s : 8192;
        acc += pw_sum_sqdev(a + s, m, mean);
    }
    return acc;
}

/* monotonic total-order key: ascending float order == ascending u32 order */
static inline uint32_t fkey(float x) {
    uint32_t u;
    memcpy(&u, &x, 4);
    return (u & 0x80000000u) ? ~u : (u | 0x80000000u);
}

static void *sel_mem;
static size_t sel_cap;

/* k-th smallest (0-based) by MSD radix select; scratch holds >= n floats.
 * Each level compacts the candidate set to one 8-bit-digit bucket
 * (in-place safe: writes trail reads). After the last level all
 * candidates share all 32 key bits, i.e. are bitwise equal. */
static float radix_select(const float *a, int64_t n, int64_t k, float *scratch) {
    const float *cur = a;
    float *buf = scratch;
    int64_t m = n;
    for (int shift = 24; shift >= 0; shift -= 8) {
        int64_t hist[256] = {0};
        for (int64_t i = 0; i < m; i++) hist[(fkey(cur[i]) >> shift) & 0xFFu]++;
        int64_t cum = 0;
        int b = 0;
        for (; b < 256; b++) {
            if (cum + hist[b] > k) break;
            cum += hist[b];
        }
        k -= cum;
        if (hist[b] == m) continue; /* all candidates share this digit */
        int64_t w = 0;
        for (int64_t i = 0; i < m; i++)
            if ((int)((fkey(cur[i]) >> shift) & 0xFFu) == b) buf[w++] = cur[i];
        cur = buf;
        m = w;
    }
    return cur[0];
}

/* 16-bit-digit top level for large arrays. The NDVI/delta value range is
 * narrow ([-1, 1]) and duplicate-heavy, so 8-bit top digits concentrate:
 * the selected bucket holds a large fraction of n and the 8-bit select
 * degrades to repeated near-full compactions. A 64Ki histogram resolves
 * the top 16 key bits in ONE pass shared by both ranks, one compaction
 * pass extracts the (at most two) candidate buckets, and the small
 * remainders finish on the 8-bit select. */
static int32_t hist16[65536];

static float select_in_bucket(const float *v, int64_t m, int64_t l, float *scratch) {
    if (m <= 4096) return radix_select(v, m, l, scratch);
    memset(hist16, 0, sizeof(hist16));
    for (int64_t i = 0; i < m; i++) hist16[fkey(v[i]) & 0xFFFFu]++;
    int64_t cum = 0;
    uint32_t b = 0;
    for (; b < 65536u; b++) {
        if (l < cum + hist16[b]) break;
        cum += hist16[b];
    }
    /* all elements of this low-16 bucket share every key bit (the high 16
     * were fixed by the caller) — any member is the value */
    for (int64_t i = 0;; i++)
        if ((fkey(v[i]) & 0xFFFFu) == b) return v[i];
}

static void radix_select_pair(const float *a, int64_t n, int64_t k1, int64_t k2,
                              float *out_k1, float *out_k2) {
    /* n floats for the compacted bucket(s) + 4096 for the 8-bit select's
     * own scratch (select_in_bucket only recurses when m <= 4096) */
    float *scr = (float *)grow(&sel_mem, &sel_cap, ((size_t)n + 4096) * 4);
    if (n <= 8192) {
        *out_k2 = radix_select(a, n, k2, scr);
        *out_k1 = (k1 == k2) ? *out_k2 : radix_select(a, n, k1, scr);
        return;
    }
    memset(hist16, 0, sizeof(hist16));
    for (int64_t i = 0; i < n; i++) hist16[fkey(a[i]) >> 16]++;
    int64_t cum = 0, base1 = 0, base2 = 0;
    int32_t b1 = -1, b2 = -1;
    for (uint32_t b = 0; b < 65536u && b2 < 0; b++) {
        int64_t h = hist16[b];
        if (b1 < 0 && k1 < cum + h) { b1 = (int32_t)b; base1 = cum; }
        if (b2 < 0 && k2 < cum + h) { b2 = (int32_t)b; base2 = cum; }
        cum += h;
    }
    int64_t m1 = hist16[b1];
    if (b1 == b2) {
        int64_t w = 0;
        for (int64_t i = 0; i < n; i++)
            if ((int32_t)(fkey(a[i]) >> 16) == b1) scr[w++] = a[i];
        *out_k2 = select_in_bucket(scr, w, k2 - base2, scr + w);
        *out_k1 = (k1 == k2) ? *out_k2
                             : select_in_bucket(scr, w, k1 - base1, scr + w);
        return;
    }
    /* adjacent ranks in different buckets: compact both in one pass */
    int64_t w1 = 0, w2 = 0;
    float *scr_b2 = scr + m1;
    for (int64_t i = 0; i < n; i++) {
        int32_t hb = (int32_t)(fkey(a[i]) >> 16);
        if (hb == b1) scr[w1++] = a[i];
        else if (hb == b2) scr_b2[w2++] = a[i];
    }
    *out_k1 = select_in_bucket(scr, w1, k1 - base1, scr_b2 + w2);
    *out_k2 = select_in_bucket(scr_b2, w2, k2 - base2, scr_b2 + w2);
}

/* All per-row reductions in one call.
 * out6: {mean, std, min, max, med_lo, med_hi}; out2: {n_loss, n_gain}.
 * med_lo/med_hi are np.sort(a)[n//2 - 1] / [n//2] (med_lo == med_hi for
 * odd n) — raster._median_of_pair reproduces np.median's np.mean on them.
 * Caller guarantees n >= 1, no NaN. */
void kmlsat_stats_f32(const float *a, int64_t n, float loss_t, float gain_t,
                      float *out6, int64_t *out2) {
    float s = np_sum_f32(a, n);
    float mean = (float)((double)s / (double)n);
    float sq = np_sum_sqdev(a, n, mean);
    float sd = sqrtf((float)((double)sq / (double)n));
    float mn = a[0], mx = a[0];
    int64_t lo = 0, hi = 0;
    for (int64_t i = 0; i < n; i++) {
        float x = a[i];
        if (x < mn) mn = x;
        if (x > mx) mx = x;
        lo += (x < loss_t);
        hi += (x > gain_t);
    }
    int64_t h = n / 2;
    float med_lo, med_hi;
    radix_select_pair(a, n, (n % 2 == 0) ? h - 1 : h, h, &med_lo, &med_hi);
    out6[0] = mean;
    out6[1] = sd;
    out6[2] = mn;
    out6[3] = mx;
    out6[4] = med_lo;
    out6[5] = med_hi;
    out2[0] = lo;
    out2[1] = hi;
}

/* Change-pair feed: deltas (ndvi_b − ndvi_a, f32) at jointly-valid pixels
 * of the trimmed common shape, row-major. Returns n_valid. */
int64_t kmlsat_change_pair_valid(
    uint32_t seed_a, int32_t kind_a, int64_t ar0, int64_t ac0, int64_t a_aux_r0,
    int64_t a_aux_c0, const int64_t *a_row_idx, const int64_t *a_col_idx,
    uint32_t a_s1000, uint32_t seed_b, int32_t kind_b, int64_t br0, int64_t bc0,
    int64_t b_aux_r0, int64_t b_aux_c0, const int64_t *b_row_idx,
    const int64_t *b_col_idx, uint32_t b_s1000, int64_t h, int64_t w,
    float *out_deltas) {
    side_t a = {seed_a, kind_a, ar0, ac0, a_aux_r0, a_aux_c0, a_row_idx,
                a_col_idx, a_s1000};
    side_t b = {seed_b, kind_b, br0, bc0, b_aux_r0, b_aux_c0, b_row_idx,
                b_col_idx, b_s1000};
    side_bind(&a, 0, w);
    side_bind(&b, 1, w);
    side_prepare(&a, w);
    side_prepare(&b, w);
    int64_t n = 0;
    for (int64_t i = 0; i < h; i++) {
        side_eval_row(&a, i, w);
        side_eval_row(&b, i, w);
        n += compact_delta_row(a.ndvi, a.base, a.ok, b.ndvi, b.base, b.ok, w,
                               out_deltas + n);
    }
    return n;
}
