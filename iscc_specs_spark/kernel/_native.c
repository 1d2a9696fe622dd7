/* The kernel's hot loops, compiled at first import by kernel/native.py
 * and called through ctypes. Each reproduces a reference path bit for bit:
 *
 *   text_sketch       the one text path, from normalised text as UTF-8:
 *                     per doc, xxh32 and xxh64 of each spaced window of
 *                     code points, folded into sketches.minhash_np and the
 *                     sketches.similarity_hash of the xxh64 digests as
 *                     they are made, with no feature or digest array;
 *   data_sketch       the one data path: per blob, the xxh32 of each
 *                     cdc.data_chunks chunk folded into sketches.minhash_np
 *                     as it is cut, with no chunk or hash array;
 *   minhash_segments, the tests' windows onto the MinHash fold and the
 *   xxh32_var,        xxHashes, which take chosen inputs no doc or blob
 *   xxh64_var         could be made to produce.
 *
 * The two sketches are built as per-CPU clones (CLONES below): the
 * loader resolves each to its AVX-512, AVX2 or baseline body from the CPU
 * it runs on, so one library is right on every x86-64 host.
 *
 * The spec data (permutation pairs, gear table, CDC parameters) comes from
 * constants.py through the callers; nothing here allocates memory. Text
 * comes from Python's str.encode, so it is valid UTF-8: nothing here
 * checks it.
 */

#include <stdint.h>

#define MERSENNE_61 ((UINT64_C(1) << 61) - 1)
#define MAX32 UINT64_C(0xFFFFFFFF)
#define N_PERM 64

/* Function multi-versioning by ifunc: GCC 12+ on x86-64 glibc. Elsewhere
 * (another compiler, architecture or libc) and under -DISCC_NO_CLONES,
 * which only the tests set to build each body on its own, the plain loop
 * compiles for the build target. */
#if !defined(ISCC_NO_CLONES) && defined(__x86_64__) && defined(__GLIBC__) && \
    defined(__GNUC__) && !defined(__clang__) && __GNUC__ >= 12
#define CLONES_ON 1
#define CLONES __attribute__((target_clones("arch=x86-64-v4", "arch=x86-64-v3", "default")))
#else
#define CLONES
#endif

/* The clone the loader picks on this CPU ("no clones" in a plain build). */
const char *isa(void)
{
#ifdef CLONES_ON
    __builtin_cpu_init();
    if (__builtin_cpu_supports("x86-64-v4"))
        return "x86-64-v4";
    if (__builtin_cpu_supports("x86-64-v3"))
        return "x86-64-v3";
    return "default";
#else
    return "no clones";
#endif
}

/* One feature x into the 64 running mins: for each permutation (a, b),
 * ((x*a + b) mod 2^64) mod (2^61 - 1) & MAX32.
 *
 * h mod M, M = 2^61 - 1, is the fold f = (h & M) + (h >> 61), which is
 * below 2M for any 64-bit h, then the conditional subtract of M written
 * without a branch: f >= M exactly when bit 61 of f + 1 is set, and then
 * f - M = (f + 1) - 2^61. The result is below 2^32 after & MAX32, so the
 * running mins are 32-bit, which lets the compiler vectorise the loop. */
static inline void perm_min(uint32_t *mins, uint64_t x, const uint64_t *a,
                            const uint64_t *b)
{
    for (int p = 0; p < N_PERM; p++) {
        uint64_t h = x * a[p] + b[p];
        h = (h & MERSENNE_61) + (h >> 61);
        uint32_t v = (uint32_t)((h + ((h + 1) >> 61)) & MAX32);
        mins[p] = v < mins[p] ? v : mins[p];
    }
}

/* For each of the n_seg consecutive segments of feats (lens[s] rows each,
 * every segment at least one row): the MinHash of the segment's features,
 * written to out[s*64 : s*64 + 64]. The tests' window onto perm_min. */
void minhash_segments(const uint64_t *feats, const int64_t *lens, int64_t n_seg,
                      const uint64_t *a, const uint64_t *b, uint64_t *out)
{
    for (int64_t s = 0; s < n_seg; s++) {
        uint32_t mins[N_PERM];
        for (int p = 0; p < N_PERM; p++)
            mins[p] = UINT32_MAX;
        for (int64_t k = lens[s]; k > 0; k--)
            perm_min(mins, *feats++, a, b);
        for (int p = 0; p < N_PERM; p++)
            out[s * N_PERM + p] = mins[p];
    }
}

#define P32_1 UINT32_C(2654435761)
#define P32_2 UINT32_C(2246822519)
#define P32_3 UINT32_C(3266489917)
#define P32_4 UINT32_C(668265263)
#define P32_5 UINT32_C(374761393)
#define P64_1 UINT64_C(11400714785074694791)
#define P64_2 UINT64_C(14029467366897019727)
#define P64_3 UINT64_C(1609587929392839161)
#define P64_4 UINT64_C(9650029242287828579)
#define P64_5 UINT64_C(2870177450012600261)

/* little-endian loads, whatever the host's byte order */
static uint32_t read32(const uint8_t *p)
{
    return (uint32_t)p[0] | (uint32_t)p[1] << 8 | (uint32_t)p[2] << 16 | (uint32_t)p[3] << 24;
}

static uint64_t read64(const uint8_t *p)
{
    return (uint64_t)read32(p) | (uint64_t)read32(p + 4) << 32;
}

static uint32_t rotl32(uint32_t x, int r) { return (x << r) | (x >> (32 - r)); }
static uint64_t rotl64(uint64_t x, int r) { return (x << r) | (x >> (64 - r)); }

static uint32_t xxh32(const uint8_t *p, int64_t n)
{
    const uint8_t *end = p + n;
    uint32_t acc;
    if (n >= 16) {
        uint32_t v[4] = {P32_1 + P32_2, P32_2, 0, 0 - P32_1};
        for (; end - p >= 16; p += 16)
            for (int j = 0; j < 4; j++)
                v[j] = rotl32(v[j] + read32(p + 4 * j) * P32_2, 13) * P32_1;
        acc = rotl32(v[0], 1) + rotl32(v[1], 7) + rotl32(v[2], 12) + rotl32(v[3], 18);
    } else {
        acc = P32_5;
    }
    acc += (uint32_t)n;
    for (; end - p >= 4; p += 4)
        acc = rotl32(acc + read32(p) * P32_3, 17) * P32_4;
    for (; p < end; p++)
        acc = rotl32(acc + *p * P32_5, 11) * P32_1;
    acc ^= acc >> 15;
    acc *= P32_2;
    acc ^= acc >> 13;
    acc *= P32_3;
    return acc ^ (acc >> 16);
}

static uint64_t round64(uint64_t acc, uint64_t lane)
{
    return rotl64(acc + lane * P64_2, 31) * P64_1;
}

static uint64_t xxh64(const uint8_t *p, int64_t n)
{
    const uint8_t *end = p + n;
    uint64_t acc;
    if (n >= 32) {
        uint64_t v[4] = {P64_1 + P64_2, P64_2, 0, 0 - P64_1};
        for (; end - p >= 32; p += 32)
            for (int j = 0; j < 4; j++)
                v[j] = round64(v[j], read64(p + 8 * j));
        acc = rotl64(v[0], 1) + rotl64(v[1], 7) + rotl64(v[2], 12) + rotl64(v[3], 18);
        for (int j = 0; j < 4; j++)
            acc = (acc ^ round64(0, v[j])) * P64_1 + P64_4;
    } else {
        acc = P64_5;
    }
    acc += (uint64_t)n;
    for (; end - p >= 8; p += 8)
        acc = rotl64(acc ^ round64(0, read64(p)), 27) * P64_1 + P64_4;
    if (end - p >= 4) {
        acc = rotl64(acc ^ read32(p) * P64_1, 23) * P64_2 + P64_3;
        p += 4;
    }
    for (; p < end; p++)
        acc = rotl64(acc ^ *p * P64_5, 11) * P64_1;
    acc ^= acc >> 33;
    acc *= P64_2;
    acc ^= acc >> 29;
    acc *= P64_3;
    return acc ^ (acc >> 32);
}

/* out[m] = xxh32 / xxh64 of data[offsets[m] : offsets[m] + lengths[m]] for
 * each of the n messages; the caller has checked they lie inside data.
 * The tests' window onto the two hashes. */
void xxh32_var(const uint8_t *data, const int64_t *offsets, const int64_t *lengths,
               int64_t n, uint64_t *out)
{
    for (int64_t m = 0; m < n; m++)
        out[m] = xxh32(data + offsets[m], lengths[m]);
}

void xxh64_var(const uint8_t *data, const int64_t *offsets, const int64_t *lengths,
               int64_t n, uint64_t *out)
{
    for (int64_t m = 0; m < n; m++)
        out[m] = xxh64(data + offsets[m], lengths[m]);
}

/* cdc.chunk_boundary: length of the next chunk at the head of data[0:n].
 * A serial loop, so it is built once, not inlined into each clone body. */
__attribute__((noinline)) static int64_t chunk_boundary(const uint8_t *data, int64_t n,
                                                        const uint64_t *gear, int64_t norm_size,
                                                        int64_t min_size, int64_t max_size,
                                                        uint64_t mask_1, uint64_t mask_2)
{
    if (n <= min_size)
        return n;
    uint64_t pattern = 0;
    int64_t i = min_size;
    int64_t end = norm_size < n ? norm_size : n;
    for (; i < end; i++) {
        pattern = (pattern << 1) + gear[data[i]];
        if (!(pattern & mask_1))
            return i;
    }
    end = max_size < n ? max_size : n;
    for (; i < end; i++) {
        pattern = (pattern << 1) + gear[data[i]];
        if (!(pattern & mask_2))
            return i;
    }
    return i;
}

/* For each of the n_blobs blobs (blobs[j], lens[j] bytes): cdc.data_chunks
 * of the blob, each chunk hashed with xxh32 and folded into the 64 running
 * mins as soon as it is cut. minhash[j*64 : j*64 + 64] gets the MinHash of
 * the chunk hashes (sketches.minhash_np), n_chunks[j] the chunk count. The
 * empty blob has no chunk: count 0, and every min stays 2^32 - 1.
 *
 * params holds the two gear parameter sets, (norm, min, max, mask_1,
 * mask_2) for GEAR1 then GEAR2. As in the reference, a blob's first 100
 * chunks use GEAR1 and later ones GEAR2, and each iteration tops the
 * section (data[start:end]) up by at most one max-sized read. */
CLONES void data_sketch(const uint8_t *const *blobs, const int64_t *lens, int64_t n_blobs,
                        const uint64_t *gear, const uint64_t *params, const uint64_t *a,
                        const uint64_t *b, uint64_t *minhash, int64_t *n_chunks)
{
    for (int64_t j = 0; j < n_blobs; j++) {
        const uint8_t *data = blobs[j];
        int64_t n = lens[j], start = 0, emitted = 0;
        int64_t end = n < (int64_t)params[2] ? n : (int64_t)params[2];
        uint32_t mins[N_PERM];
        for (int p = 0; p < N_PERM; p++)
            mins[p] = UINT32_MAX;
        for (;;) {
            const uint64_t *g = emitted < 100 ? params : params + 5;
            int64_t max_size = (int64_t)g[2];
            if (end - start < max_size)
                end = end + max_size < n ? end + max_size : n;
            if (end == start)
                break;
            int64_t cut = chunk_boundary(data + start, end - start, gear, (int64_t)g[0],
                                         (int64_t)g[1], max_size, g[3], g[4]);
            perm_min(mins, xxh32(data + start, cut), a, b);
            start += cut;
            emitted++;
        }
        for (int p = 0; p < N_PERM; p++)
            minhash[j * N_PERM + p] = mins[p];
        n_chunks[j] = emitted;
    }
}

/* The SimHash votes of one digest: votes[j] counts set bits at position j,
 * column 0 = the most-significant bit. Two 32-bit halves keep every lane
 * 32 bits wide, which vectorises. */
static inline void vote(uint32_t *votes, uint64_t d)
{
    uint32_t hi = (uint32_t)(d >> 32), lo = (uint32_t)d;
    for (int j = 0; j < 32; j++) {
        votes[j] += (hi >> (31 - j)) & 1;
        votes[32 + j] += (lo >> (31 - j)) & 1;
    }
}

/* One window into the running MinHash mins (skipped when a == NULL) and
 * the SimHash votes. */
static inline void fold(const uint8_t *win, int64_t len, uint32_t *mins, uint32_t *votes,
                        const uint64_t *a, const uint64_t *b)
{
    if (a)
        perm_min(mins, xxh32(win, len), a, b);
    vote(votes, xxh64(win, len));
}

/* The n_docs consecutive UTF-8 docs of text (lens[r] bytes each, valid
 * UTF-8 as str.encode makes it): a byte b with (b & 0xC0) != 0x80 starts
 * a code point. Each window of width code points is hashed with step - 1
 * spaces between its code points (Content-ID: " ".join(window), step 2;
 * Meta-ID: the window as it is, step 1), so each doc is first copied once,
 * spaced, into spaced, and the offset there of each code point goes to
 * starts, then the offset where one more would start. A doc of cps code
 * points has max(cps - width + 1, 1) windows: the one window of a doc
 * shorter than width (the empty doc included) is the whole doc, as
 * codes.sliding_window gives it. spaced needs room for
 * max(lens[r] + (step - 1) * cps_r) bytes, starts for max(cps_r) + 1 values.
 *
 * Per doc r, over its windows: simhash[r] gets bit 63 - j set when
 * 2 * (digests with bit 63 - j set) >= windows, over the xxh64 digests
 * (ties vote 1); and, given the permutations a and b, the 64 MinHash
 * values of the xxh32 features go to minhash[r*64 : r*64 + 64]. With
 * a == NULL no MinHash is made and minhash is not touched. */
CLONES void text_sketch(const uint8_t *text, const int64_t *lens, int64_t n_docs,
                        int64_t width, int64_t step, uint8_t *spaced, int64_t *starts,
                        uint64_t *simhash, const uint64_t *a, const uint64_t *b,
                        uint64_t *minhash)
{
    int64_t span = step * (width - 1) + 1; /* bytes of a window of 1-byte code points */
    for (int64_t r = 0; r < n_docs; r++) {
        int64_t n = lens[r], cps = 0, pos = 0;
        for (int64_t i = 0; i < n; i++) {
            if ((text[i] & 0xC0) != 0x80) {
                if (cps)
                    for (int64_t j = 1; j < step; j++)
                        spaced[pos++] = ' ';
                starts[cps++] = pos;
            }
            spaced[pos++] = text[i];
        }
        starts[cps] = pos + step - 1;
        text += n;
        int64_t windows = cps < width ? 1 : cps - width + 1;
        uint32_t mins[N_PERM], votes[64] = {0};
        for (int p = 0; p < N_PERM; p++)
            mins[p] = UINT32_MAX;
        /* In a doc of one byte per code point every window is span bytes
         * long, a loop invariant the compiler specialises the xxHash loops
         * on; taking the lengths from starts costs such docs ~40% more. */
        if (cps == n && cps >= width)
            for (int64_t w = 0; w < windows; w++)
                fold(spaced + step * w, span, mins, votes, a, b);
        else if (cps == 0) /* the empty doc's one window is empty */
            fold(spaced, 0, mins, votes, a, b);
        else
            for (int64_t w = 0; w < windows; w++) {
                int64_t end = w + width < cps ? w + width : cps;
                fold(spaced + starts[w], starts[end] - starts[w] - (step - 1), mins, votes, a, b);
            }
        uint64_t sim = 0;
        for (int j = 0; j < 64; j++)
            sim |= (uint64_t)(2 * (int64_t)votes[j] >= windows) << (63 - j);
        simhash[r] = sim;
        if (a)
            for (int p = 0; p < N_PERM; p++)
                minhash[r * N_PERM + p] = mins[p];
    }
}
