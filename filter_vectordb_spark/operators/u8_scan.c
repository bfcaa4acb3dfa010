/* Exact uint8 x int8 dot-product scan with a fused threshold compare
 * (AVX-512 VNNI) -- the compiled half of operators/knn.StreamTopK.scan_u8,
 * which builds, loads and calls it; see that method for the contract.
 *
 * Base rows X are n x d uint8, row-major, d a multiple of 4 (the caller
 * zero-pads both sides).  Queries arrive packed as int8
 * q - c_q (c_q a per-query offset that brings the query into int8) in
 * QT-query blocks: block b, dim group g holds QT x 4 bytes, query-major,
 * so one 64-byte load is 16 queries x 4 dims -- the int32 lanes vpdpbusd
 * accumulates.  Every accumulator starts at 0 and gets c_q * sum(x)
 * added at the end, so dot is the exact integer x . q.
 *
 * Keys: ip -> dot, kept when >= thr; l2 -> |x|^2 - 2 dot, kept when
 * <= thr (the caller folds |q|^2 into thr).  Ties are kept.  Kept
 * entries are written as (row, query, key) while the key is still in a
 * register; nothing else leaves the kernel.
 *
 * Output is committed per RB-row block: when a block would write more
 * than cap entries, the call returns the count committed before it and
 * sets *done to the block's first row, so the caller can merge (tighten
 * thr) and rescan from there. */
#include <immintrin.h>
#include <stdint.h>
#include <string.h>

#define QT 64   /* queries per register tile: 4 zmm x 16 int32 lanes */
#define RT 6    /* base rows per register tile: 24 accumulators */
#define RB 1024 /* base rows per commit block (192 KB at d = 192) */

/* acc[i][j] += x[i][o : o + 4] . (queries 16j..16j+15 of the group at qg) */
static inline __attribute__((always_inline)) void
group(__m512i acc[RT][4], const uint8_t *const x[RT], const int8_t *qg, int64_t o)
{
    __m512i q[4];
    for (int j = 0; j < 4; j++)
        q[j] = _mm512_loadu_si512(qg + 64 * j);
#pragma GCC unroll 6
    for (int i = 0; i < RT; i++) {
        uint32_t w;
        memcpy(&w, x[i] + o, 4);
        const __m512i xb = _mm512_set1_epi32((int32_t)w);
#pragma GCC unroll 4
        for (int j = 0; j < 4; j++)
            acc[i][j] = _mm512_dpbusd_epi32(acc[i][j], xb, q[j]);
    }
}

int64_t u8_scan(const uint8_t *X, int64_t n, int64_t d, const int8_t *Qp,
                int64_t nqb, const int32_t *off, const int32_t *thr, int32_t l2,
                int32_t *out_row, int32_t *out_q, int32_t *out_key, int64_t cap,
                int64_t *done)
{
    const int64_t ng = d / 4;
    int32_t sx[RB], sq[RB];
    int has_off = 0;
    int64_t cnt = 0;
    for (int64_t q = 0; q < nqb * QT; q++)
        has_off |= off[q] != 0;
    for (int64_t r0 = 0; r0 < n; r0 += RB) {
        const int64_t r1 = r0 + RB < n ? r0 + RB : n, c0 = cnt;
        if (has_off || l2)
            for (int64_t r = r0; r < r1; r++) {
                const uint8_t *x = X + r * d;
                int32_t s = 0, s2 = 0;
                for (int64_t j = 0; j < d; j++) {
                    s += x[j];
                    s2 += (int32_t)x[j] * x[j];
                }
                sx[r - r0] = s;
                sq[r - r0] = s2;
            }
        for (int64_t b = 0; b < nqb; b++) {
            const int8_t *qb = Qp + b * ng * 4 * QT;
            const int32_t *cb = off + b * QT, *tb = thr + b * QT;
            for (int64_t r = r0; r < r1; r += RT) {
                const uint8_t *x[RT];
                __m512i acc[RT][4];
#pragma GCC unroll 6
                for (int i = 0; i < RT; i++) {
                    /* a short last tile recomputes row r1 - 1; only
                     * rows below r1 are emitted */
                    x[i] = X + (r + i < r1 ? r + i : r1 - 1) * d;
                    for (int j = 0; j < 4; j++)
                        acc[i][j] = _mm512_setzero_si512();
                }
                for (int64_t g = 0; g < ng; g++)
                    group(acc, x, qb + g * QT * 4, 4 * g);
                /* keys and masks first, all in registers; the rare tile
                 * with a candidate takes the emit path */
                const int64_t rows = r1 - r < RT ? r1 - r : RT;
                __mmask16 m[RT][4];
                int any = 0;
#pragma GCC unroll 6
                for (int i = 0; i < RT; i++) {
                    const int64_t ri = (i < rows ? i : rows - 1) + r - r0;
#pragma GCC unroll 4
                    for (int j = 0; j < 4; j++) {
                        __m512i v = acc[i][j];
                        if (has_off)
                            v = _mm512_add_epi32(
                                v, _mm512_mullo_epi32(_mm512_loadu_si512(cb + 16 * j),
                                                       _mm512_set1_epi32(sx[ri])));
                        if (l2)
                            v = _mm512_sub_epi32(_mm512_set1_epi32(sq[ri]), _mm512_add_epi32(v, v));
                        const __m512i t = _mm512_loadu_si512(tb + 16 * j);
                        m[i][j] = i >= rows ? 0
                                  : l2      ? _mm512_cmple_epi32_mask(v, t)
                                            : _mm512_cmpge_epi32_mask(v, t);
                        acc[i][j] = v;
                        any |= m[i][j];
                    }
                }
                if (__builtin_expect(any, 0)) {
                    int32_t key[RT][4][16];
#pragma GCC unroll 6
                    for (int i = 0; i < RT; i++)
#pragma GCC unroll 4
                        for (int j = 0; j < 4; j++)
                            _mm512_storeu_si512(key[i][j], acc[i][j]);
                    for (int i = 0; i < RT; i++)
                        for (int j = 0; j < 4; j++)
                            for (__mmask16 mm = m[i][j]; mm; mm &= mm - 1) {
                                const int l = __builtin_ctz(mm);
                                if (cnt == cap) {
                                    *done = r0;
                                    return c0;
                                }
                                out_row[cnt] = (int32_t)(r + i);
                                out_q[cnt] = (int32_t)(b * QT + 16 * j + l);
                                out_key[cnt] = key[i][j][l];
                                cnt++;
                            }
                }
            }
        }
    }
    *done = n;
    return cnt;
}
