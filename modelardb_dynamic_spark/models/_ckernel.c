/* The segmentation cascade (PMC-Mean -> Swing -> Gorilla with the
 * Uncompressed fallback) as a C kernel: one cascade, widened bound.
 *
 * One routine, mdbs_compress_group, segments a group of G aligned series;
 * a single series is a group of one (G = 1), as in the reference, whose
 * SegmentGenerator also compresses one series as a TimeSeriesGroup of
 * one.  It is an exact restatement of two Python references:
 * models/kernels.py for G = 1 (itself pinned bit-identical to the Java
 * engine's core/SegmentGenerator.java:152-304 by the golden fixtures)
 * and the models/grouped.py engine for its never-splitting groups (the
 * grouped goldens).  Every float operation runs in the same IEEE type
 * and the same order, so the emitted segment stream is byte-identical.
 * Compile with -ffp-contract=off (no FMA contraction: `y0 - ua*t0` must
 * round twice, exactly like numpy/Java).
 *
 * Float discipline (the bit-match-sensitive spots, same as kernels.py):
 *  - percentage error: exact-equality short circuit, real==0 -> +inf,
 *    double arithmetic, bound widened from float32
 *    (core/utility/Static.java:105-118).
 *  - PMC-Mean: float32 min/max, float64 running sum, avg = (float)(sum/n)
 *    re-widened to double for the check (PMC_MeanModelType.java:48-75).
 *  - Swing: double recurrence anchored at the first point, deviation
 *    |v * eb/100.1|, fail-check BEFORE bound updates
 *    (SwingFilterModelType.java:48-116); midline encode 8/12/16 bytes by
 *    float32 round-trip (:131-143); size() re-verifies every gridded
 *    float32 point (:156-186).
 *  - Gorilla: XOR stream, MSB-first bit packing, '11' window = 5-bit LZ +
 *    6-bit significant count (32 wraps to 0), stored-window reuse
 *    (FacebookGorillaModelType.java:46-140, BitBuffer.java:51-132).
 *  - selection: compressionRatio = 16L/(24+size) in float32; the literal
 *    `best = (ratio(m) < ratio(best)) ? best : m` loop sends ties and NaNs
 *    to the LATER model (SegmentGenerator.java:266-279).
 *
 * Rows append value-at-a-time (PMC joint min/max/sum row-major, Gorilla
 * interleaves members row-major with the length bound counting ROWS);
 * at G = 1 a row is a point.  Two grouped twists remain, both no-ops at
 * G = 1:
 *  - ratio = f32(16)*f32(rows) / (f32(24)+f32(size)) — rows, not points
 *    (_ratio_g, ModelType.java:65-70; its gaps term is zero here, since
 *    the kernel only sees gap-free groups);
 *  - Swing row 0 collapses to the f32 member average, summed from the
 *    first member (all members must be within bound of it).
 */

#include <math.h>
#include <stdint.h>
#include <string.h>

#define MTID_UNCOMPRESSED 1
#define MTID_PMC 2
#define MTID_SWING 3
#define MTID_GORILLA 4

/* ---------- helpers ---------- */

/* Java Math.min/max: NaN-propagating, -0.0 < +0.0 (numpy minimum/maximum
 * agree; C fminf does not, hence these). */
static inline float jminf(float a, float b) {
    if (a != a) return a;
    if (b != b) return b;
    if (a < b) return a;
    if (b < a) return b;
    return signbit(a) ? a : b;
}
static inline float jmaxf(float a, float b) {
    if (a != a) return a;
    if (b != b) return b;
    if (a > b) return a;
    if (b > a) return b;
    return signbit(a) ? b : a;
}

/* percentage_error(approx, real) > bound, all double (Static.java:105-118);
 * bound is the float32 error bound widened to double.  NaN operands
 * compare false everywhere -> "inside", matching numpy. */
static inline int outside(double bound, double approx, double real) {
    if (approx == real) return 0;
    double err;
    if (real == 0.0) err = INFINITY;
    else err = fabs((real - approx) / real) * 100.0;
    return err > bound;
}

static inline void put_be32(uint8_t *p, uint32_t x) {
    p[0] = (uint8_t)(x >> 24); p[1] = (uint8_t)(x >> 16);
    p[2] = (uint8_t)(x >> 8);  p[3] = (uint8_t)x;
}
static inline void put_be64(uint8_t *p, uint64_t x) {
    put_be32(p, (uint32_t)(x >> 32)); put_be32(p + 4, (uint32_t)x);
}
static inline uint32_t f32_bits(float f) {
    uint32_t u; memcpy(&u, &f, 4); return u;
}
static inline void put_be_f32(uint8_t *p, float f) { put_be32(p, f32_bits(f)); }
static inline void put_be_f64(uint8_t *p, double d) {
    uint64_t u; memcpy(&u, &d, 8); put_be64(p, u);
}
static inline int f32_roundtrips(double x) {
    float f = (float)x;
    return (double)f == x;
}

typedef struct { uint8_t *buf; int64_t nbits; } bw_t;

/* OR k bits (MSB-first) into the pre-zeroed buffer with one unaligned
 * 64-bit store; k + bit-offset <= 39 < 64 always.  The buffer needs 8
 * bytes of slack past the payload (the scratch allocation provides 16). */
static inline void bw_put(bw_t *w, uint32_t val, int k) {
    int64_t p = w->nbits;
    w->nbits += k;
    uint32_t masked = (k == 32) ? val : (val & ((1u << k) - 1u));
    uint64_t x = (uint64_t)masked << (64 - k - (int)(p & 7));
    uint8_t *at = w->buf + (p >> 3);
    uint64_t cur;
    memcpy(&cur, at, 8);
    cur |= __builtin_bswap64(x);
    memcpy(at, &cur, 8);
}

/* Left-to-right double accumulation of float32 values (Java `double+=float`,
 * numpy cumsum — NOT pairwise). */
static double seq_sum64(const float *v, int64_t len) {
    double s = 0.0;
    for (int64_t i = 0; i < len; i++) s += (double)v[i];
    return s;
}

static void minmax32(const float *v, int64_t len, double *mn, double *mx) {
    float a = v[0], b = v[0];
    for (int64_t i = 1; i < len; i++) {
        a = jminf(a, v[i]);
        b = jmaxf(b, v[i]);
    }
    *mn = (double)a; *mx = (double)b;
}

/* ---------- model prefixes ---------- */

/* Maximal accepted row prefix for PMC-Mean; sum over accepted rows out
 * for the stored mean. */
static int64_t pmc_prefix_grp(const float *v, int64_t n, int64_t G,
                              double bound, double *sum_out) {
    double sum = 0.0;
    float mn = INFINITY, mx = -INFINITY;
    for (int64_t i = 0; i < n; i++) {
        double nsum = sum;
        float nmn = mn, nmx = mx;
        const float *row = v + i * G;
        for (int64_t c = 0; c < G; c++) {
            nsum += (double)row[c];
            nmn = jminf(nmn, row[c]);
            nmx = jmaxf(nmx, row[c]);
        }
        double avg = (double)(float)(nsum / (double)((i + 1) * G));
        if (outside(bound, avg, (double)nmn) ||
            outside(bound, avg, (double)nmx)) {
            *sum_out = sum;
            return i;
        }
        mn = nmn; mx = nmx; sum = nsum;
    }
    *sum_out = sum;
    return n;
}

/* Swing: row 0 is the f32 member average (all members must be within
 * bound of it); later rows append value-at-a-time to the shared line.
 * On a mid-row fail the bounds KEEP the partial updates from the failing
 * row's earlier values, exactly like _Swing.append. */
static int64_t swing_prefix_grp(const int64_t *t, const float *v,
                                int64_t n, int64_t G, double bound,
                                double *oua, double *oub,
                                double *ola, double *olb) {
    *oua = *oub = *ola = *olb = 0.0;
    if (n == 0) return 0;
    double ebdiv = bound / 100.1;
    /* summed from the first member: a group of one anchors at its value
     * exactly, -0.0 included */
    double vmin = (double)v[0], vmax = vmin, s = vmin;
    for (int64_t c = 1; c < G; c++) {
        double val = (double)v[c];
        if (val < vmin) vmin = val;
        if (val > vmax) vmax = val;
        s += val;
    }
    double avg = (double)(float)(s / (double)G);
    if (outside(bound, avg, vmin) || outside(bound, avg, vmax)) return 0;
    double y0 = avg, t0 = (double)t[0];
    double ua = 0.0, ub = 0.0, la = 0.0, lb = 0.0;
    int64_t sz = 1;
    for (int64_t i = 1; i < n; i++) {
        double ti = (double)t[i];
        const float *row = v + i * G;
        for (int64_t c = 0; c < G; c++) {
            double vi = (double)row[c];
            double dev = fabs(vi * ebdiv);
            if (sz == 1) {
                ua = (vi + dev - y0) / (ti - t0);
                ub = y0 - ua * t0;
                la = (vi - dev - y0) / (ti - t0);
                lb = y0 - la * t0;
                sz = 2;
            } else {
                double uba = ua * ti + ub;
                double lba = la * ti + lb;
                if (uba + dev < vi || lba - dev > vi) {
                    *oua = ua; *oub = ub; *ola = la; *olb = lb;
                    return i;
                }
                if (uba - dev > vi) {
                    ua = (vi + dev - y0) / (ti - t0);
                    ub = y0 - ua * t0;
                }
                if (lba + dev < vi) {
                    la = (vi - dev - y0) / (ti - t0);
                    lb = y0 - la * t0;
                }
            }
        }
    }
    *oua = ua; *oub = ub; *ola = la; *olb = lb;
    return n;
}

/* Swing size(): NaN if the f32 midline misses any member value, else
 * the encoded width (8/12/16). */
static double swing_size_grp(double ua, double ub, double la, double lb,
                             const int64_t *t, const float *v, int64_t len,
                             int64_t G, double bound,
                             double *a_out, double *b_out) {
    double a = (la + ua) / 2.0;
    double b = (lb + ub) / 2.0;
    *a_out = a; *b_out = b;
    for (int64_t i = 0; i < len; i++) {
        double approx = (double)(float)(a * (double)t[i] + b);
        const float *row = v + i * G;
        for (int64_t c = 0; c < G; c++)
            if (outside(bound, approx, (double)row[c])) return NAN;
    }
    int rta = f32_roundtrips(a), rtb = f32_roundtrips(b);
    if (rta && rtb) return 8.0;
    if (rta) return 12.0;
    return 16.0;
}

/* Gorilla over rows: members interleave row-major into one stream; buf
 * is caller-zeroed.  Returns the byte size (a partial final byte counts
 * as one, BitBuffer.size()). */
static int64_t gorilla_encode_rows(const float *v, int64_t rows, int64_t G,
                                   uint8_t *buf) {
    bw_t w = {buf, 0};
    uint32_t last = f32_bits(v[0]);
    bw_put(&w, last, 32);
    int64_t stored_lz = ((int64_t)1) << 30; /* Integer.MAX_VALUE sentinel */
    int64_t stored_tz = 0;
    int64_t total = rows * G;
    for (int64_t k = 1; k < total; k++) {
        uint32_t bits = f32_bits(v[k]);
        uint32_t xor = bits ^ last;
        last = bits;
        if (xor == 0) { w.nbits++; continue; } /* single 0 bit */
        int lz = __builtin_clz(xor);
        int tz = __builtin_ctz(xor);
        if (lz >= stored_lz && tz >= stored_tz) {
            int sig = (int)(32 - stored_lz - stored_tz);
            bw_put(&w, 0x2u, 2);
            bw_put(&w, (xor >> stored_tz) & (uint32_t)((1ull << sig) - 1), sig);
        } else {
            int sig = 32 - lz - tz;
            bw_put(&w, 0x3u, 2);
            bw_put(&w, (uint32_t)lz, 5);
            bw_put(&w, (uint32_t)(sig & 0x3F), 6);
            bw_put(&w, (xor >> tz) & (uint32_t)((1ull << sig) - 1), sig);
            stored_lz = lz;
            stored_tz = tz;
        }
    }
    return (w.nbits + 7) / 8;
}

/* _ratio_g with no gaps: float32 all the way (models/grouped.py
 * _ratio_g; ModelType.java:65-70). */
static inline float ratio_grp32(int64_t rows, double size) {
    if (rows == 0 || isnan(size)) return NAN;
    float num = 16.0f * (float)rows;
    float den = 24.0f + (float)size;
    return num / den;
}

/* ---------- cascade driver ---------- */

/* The one cascade.  Segments n rows of G aligned values (row-major v).
 * For G > 1 the caller guarantees the rows never split (no NaN, no
 * timestamp gap > si, all member pairs within 2*eb at every row — so
 * models/grouped.py _split never fires) and maximum_latency == 0; the
 * online engine is then a single _SubGen whose cascade reduces to these
 * prefix semantics.  gscratch >= 6*min(lb,n)*G+16 bytes; output arrays
 * hold >= n entries.
 * allow_flush=0 stops before an incomplete trailing segment (streaming
 * ingest: the tail stays open); consumed_out = rows consumed (== n when
 * flushing).
 * seg_vmin/vmax/vsum (NULL to skip; G = 1 only) get the decompress-side
 * closed-form summaries of kernels._emit.
 * Returns segment count, -1 on arena overflow (caller grows and
 * retries), -2 on invalid arguments. */
int64_t mdbs_compress_group(
    const int64_t *t, const float *v, int64_t n, int64_t G,
    double error_bound, int64_t length_bound, int allow_flush,
    int64_t *seg_start_idx, int64_t *seg_len, int32_t *seg_mtid,
    int64_t *seg_model_off, int64_t *seg_model_len,
    double *seg_vmin, double *seg_vmax, double *seg_vsum,
    uint8_t *arena, int64_t arena_cap, uint8_t *gscratch,
    int64_t *consumed_out)
{
    /* -2: invalid args (a 0 length_bound would make the uncompressed
     * fallback's blen=0 never advance i). EngineConfig already rejects
     * it; this keeps the kernel safe standalone. -1 stays "arena full". */
    if (length_bound < 1) return -2;
    double bound = (double)(float)error_bound;
    int64_t i = 0, nseg = 0, used = 0;
    while (i < n) {
        int64_t rem = n - i;
        const int64_t *tw = t + i;
        const float *vw = v + i * G;

        double psum;
        int64_t p = pmc_prefix_grp(vw, rem, G, bound, &psum);
        double ua, ub, la, lb;
        int64_t s = swing_prefix_grp(tw, vw, rem, G, bound,
                                     &ua, &ub, &la, &lb);
        int64_t m = p > s ? p : s;
        if (length_bound > m) m = length_bound;
        int64_t bsize;
        if (m + 1 <= rem) bsize = m + 1;        /* all models stuck */
        else if (allow_flush) bsize = rem;       /* run ended: flush */
        else break;                              /* open tail: stop */
        int64_t len_g = length_bound < bsize ? length_bound : bsize;

        double size_p = p > 0 ? 4.0 : NAN;
        double sa = 0.0, sb = 0.0, size_s = NAN;
        if (s >= 2)
            size_s = swing_size_grp(ua, ub, la, lb, tw, vw, s, G,
                                    bound, &sa, &sb);
        memset(gscratch, 0, (size_t)(6 * len_g * G + 16));
        int64_t g_bytes = gorilla_encode_rows(vw, len_g, G, gscratch);

        /* literal reference selection loop: later model wins ties/NaNs */
        float rr[3] = {ratio_grp32(p, size_p),
                       ratio_grp32(s, size_s),
                       ratio_grp32(len_g, (double)g_bytes)};
        int best = 0;
        float rbest = rr[0];
        for (int c = 0; c < 3; c++) {
            if (!(rr[c] < rbest)) { best = c; rbest = rr[c]; }
        }
        int mtid;
        int64_t blen, mlen;
        int64_t off = used;
        float pmc_mean = 0.0f;
        if (isnan(rbest)) {
            /* Uncompressed fallback: unreachable when rem >= 1 (Gorilla's
             * ratio is always finite) but kept for parity — serializes
             * the WHOLE buffer, not only length() rows
             * (UncompressedModelType.java:63-71 quirk). */
            mtid = MTID_UNCOMPRESSED;
            blen = len_g;
            mlen = 4 * bsize * G;
            if (used + mlen > arena_cap) return -1;
            for (int64_t k = 0; k < bsize * G; k++)
                put_be_f32(arena + off + 4 * k, vw[k]);
        } else if (best == 0) {
            mtid = MTID_PMC;
            blen = p;
            mlen = 4;
            if (used + mlen > arena_cap) return -1;
            pmc_mean = (float)(psum / (double)(p * G));
            put_be_f32(arena + off, pmc_mean);
        } else if (best == 1) {
            mtid = MTID_SWING;
            blen = s;
            int rta = f32_roundtrips(sa), rtb = f32_roundtrips(sb);
            if (rta && rtb) {
                mlen = 8;
                if (used + mlen > arena_cap) return -1;
                put_be_f32(arena + off, (float)sa);
                put_be_f32(arena + off + 4, (float)sb);
            } else if (rta) {
                mlen = 12;
                if (used + mlen > arena_cap) return -1;
                put_be_f32(arena + off, (float)sa);
                put_be_f64(arena + off + 4, sb);
            } else {
                mlen = 16;
                if (used + mlen > arena_cap) return -1;
                put_be_f64(arena + off, sa);
                put_be_f64(arena + off + 8, sb);
            }
        } else {
            mtid = MTID_GORILLA;
            blen = len_g;
            mlen = g_bytes;
            if (used + mlen > arena_cap) return -1;
            memcpy(arena + off, gscratch, (size_t)mlen);
        }
        used += mlen;

        if (seg_vmin) {
            /* summaries via the decompress-side closed forms (_emit) */
            double vmin, vmax, vsum;
            if (mtid == MTID_PMC) {
                vmin = vmax = (double)pmc_mean;
                vsum = (double)((float)blen * pmc_mean);
            } else if (mtid == MTID_SWING) {
                /* stored widths round-trip, so sa/sb ARE the decoded
                 * values */
                double first = sa * (double)tw[0] + sb;
                double last = sa * (double)tw[blen - 1] + sb;
                vsum = (first + last) / 2.0 * (double)blen;
                double f_start = (double)(float)first;
                double f_end = (double)(float)last;
                if (sa == 0.0) { vmin = vmax = (double)(float)sb; }
                else if (sa > 0.0) { vmin = f_start; vmax = f_end; }
                else { vmin = f_end; vmax = f_start; }
            } else {
                minmax32(vw, blen, &vmin, &vmax);
                vsum = seq_sum64(vw, blen);
            }
            seg_vmin[nseg] = vmin;
            seg_vmax[nseg] = vmax;
            seg_vsum[nseg] = vsum;
        }
        seg_start_idx[nseg] = i;
        seg_len[nseg] = blen;
        seg_mtid[nseg] = mtid;
        seg_model_off[nseg] = off;
        seg_model_len[nseg] = mlen;
        nseg++;
        i += blen;
    }
    *consumed_out = i;
    return nseg;
}

/* Whole-series entry: splits into gap-free runs (timestamp delta != si)
 * and compresses each as a group of one with flush semantics, one C call
 * per series. */
int64_t mdbs_compress_series(
    const int64_t *t, const float *v, int64_t n, int64_t si_ms,
    double error_bound, int64_t length_bound,
    int64_t *seg_start_idx, int64_t *seg_len, int32_t *seg_mtid,
    int64_t *seg_model_off, int64_t *seg_model_len,
    double *seg_vmin, double *seg_vmax, double *seg_vsum,
    uint8_t *arena, int64_t arena_cap,
    uint8_t *gscratch,
    int64_t *consumed_out)
{
    if (length_bound < 1) return -2; /* see mdbs_compress_group */
    int64_t nseg = 0, used = 0, consumed = 0;
    int64_t a = 0;
    while (a < n) {
        int64_t b = a + 1;
        while (b < n && t[b] - t[b - 1] == si_ms) b++;
        int64_t run_consumed = 0;
        int64_t k = mdbs_compress_group(
            t + a, v + a, b - a, 1, error_bound, length_bound, 1,
            seg_start_idx + nseg, seg_len + nseg, seg_mtid + nseg,
            seg_model_off + nseg, seg_model_len + nseg,
            seg_vmin + nseg, seg_vmax + nseg, seg_vsum + nseg,
            arena + used, arena_cap - used, gscratch, &run_consumed);
        if (k < 0) return -1;
        int64_t run_base = used;
        for (int64_t j = 0; j < k; j++) {
            seg_start_idx[nseg + j] += a;
            seg_model_off[nseg + j] += run_base;
            used += seg_model_len[nseg + j];
        }
        nseg += k;
        consumed += run_consumed;
        a = b;
    }
    *consumed_out = consumed;
    return nseg;
}

/* ---------- gorilla decode ---------- */

/* MSB-first bit reader over a byte buffer (BitBuffer.java read order). */
typedef struct {
    const uint8_t *buf;
    int64_t nbytes;
    int64_t pos; /* bit position */
} br_t;

static inline uint32_t br_get(br_t *r, int k) {
    int64_t byte = r->pos >> 3;
    int off = (int)(r->pos & 7);
    r->pos += k;
    int need = (off + k + 7) >> 3; /* <= 5 for k <= 32 */
    uint64_t acc = 0;
    for (int i = 0; i < need; i++) {
        uint8_t b = (byte + i < r->nbytes) ? r->buf[byte + i] : 0;
        acc = (acc << 8) | b;
    }
    acc >>= (need * 8 - off - k);
    return (uint32_t)(acc & ((k >= 32) ? 0xFFFFFFFFull : ((1ull << k) - 1)));
}

/* Decode n float32 values (as uint32 bit patterns) from one Gorilla
 * stream — exact inverse of gorilla_encode_rows at G = 1, same window-reuse
 * semantics as the Python models/gorilla.py gorilla_decode. */
int64_t mdbs_gorilla_decode(const uint8_t *buf, int64_t nbytes,
                            int64_t n, uint32_t *out) {
    if (n <= 0) return 0;
    br_t r = {buf, nbytes, 0};
    uint32_t last = br_get(&r, 32);
    out[0] = last;
    int64_t stored_lz = ((int64_t)1) << 30;
    int64_t stored_tz = 0;
    for (int64_t i = 1; i < n; i++) {
        if (br_get(&r, 1)) {
            if (br_get(&r, 1)) {
                stored_lz = (int64_t)br_get(&r, 5);
                int sig = (int)br_get(&r, 6);
                if (sig == 0) sig = 32;
                stored_tz = 32 - sig - stored_lz;
            }
            int width = (int)(32 - stored_lz - stored_tz);
            uint64_t value = (uint64_t)br_get(&r, width);
            value = (value << stored_tz) & 0xFFFFFFFFull;
            last ^= (uint32_t)value;
        }
        out[i] = last;
    }
    return 0;
}

/* Batched variant: many concatenated streams in one call (rollup and
 * reconstruction decode millions of small segments; one ctypes hop per
 * segment would cost more than the decode).  offs[j] is the byte offset
 * of stream j in buf, cnts[j] its point count, out_offs[j] the slot in
 * out where its values go. */
int64_t mdbs_gorilla_decode_batch(const uint8_t *buf, int64_t nbytes,
                                  const int64_t *offs, const int64_t *lens,
                                  const int64_t *cnts, const int64_t *out_offs,
                                  int64_t n_streams, uint32_t *out) {
    for (int64_t j = 0; j < n_streams; j++) {
        int64_t off = offs[j];
        if (off < 0 || off + lens[j] > nbytes) return -1;
        mdbs_gorilla_decode(buf + off, lens[j], cnts[j], out + out_offs[j]);
    }
    return 0;
}
