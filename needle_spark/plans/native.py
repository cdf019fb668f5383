"""Runtime-compiled SIMD kernels for driver-local serving (ctypes).

Why this exists (VERDICT r8 #4, the angular single-query cell): the
flat tier's single-query floor is one DRAM pass over the pinned
float32 matrix — 13 ms at 1M x 200 (61.5 GB/s measured).  Halving the
bytes with a float16 copy halves that floor, but numpy has no
BLAS-free vectorized half path: `X_f16 @ q` measured 0.7 GB/s (45x
SLOWER than the f32 sgemv — the conversion runs scalar, GIL-held), and
gcc will not auto-vectorize the `_Float16 -> float` reduction either
(measured 1.2 GB/s).  One explicit F16C/AVX-512 conversion-FMA loop
streams the f16 matrix at memory bandwidth; ctypes releases the GIL
around the call, so the flat tier's existing thread pool fans blocks
across cores exactly like the f32 path.

The library holds exactly the kernels plans/flat.py serves with:
``gemv_f16`` and the fused 8-query ``gemm8_f16`` (path="f16"), and the
AVX512-VNNI pair ``gemm8vnni_u8`` / ``gemm8vnni_thr`` behind
``has_vnni`` (path="vnni").  The uint8-convert GEMV/gemm8 kernels of
the SQ8 coarse path and the 1-bit Hamming kernels of the sign-code
path were measured, declined and deleted with those paths (PLANS.md,
BIN_RECALL_CURVE.json); tests/test_plan_guards.py fails on any kernel
here that no program file calls.

This module compiles the library ON DEMAND with the host gcc into a
cached .so.  Everything degrades gracefully: no gcc, no F16C, or a
failed compile -> ``gemv_f16_kernel()`` returns None and callers keep
the numpy paths.  The C source carries preprocessor fallbacks
(AVX-512 -> AVX2+F16C -> portable scalar with manual half decode), so
the compile itself succeeds on any x86-64 and the scalar build simply
measures slower (callers gate on measured value, not presence).

Reference posture: the reference serves its in-process index with
native SIMD distance kernels (src/simd/); this is the same altitude,
reached from Python.  Public knowledge only: IEEE 754 binary16 layout
and the Intel intrinsics guide.
"""

from __future__ import annotations

import ctypes
import hashlib
import os
import subprocess
import tempfile
import threading

_SRC = r"""
#include <stdint.h>
#if defined(__AVX512F__) || defined(__F16C__)
#include <immintrin.h>
#endif

#if defined(__AVX512F__) && defined(__F16C__)
/* out[j-r0] = sum_i half2float(X[j*d+i]) * q[i], AVX-512 + F16C */
void gemv_f16(const uint16_t *X, const float *q, float *out,
              long r0, long r1, long d) {
    long dv = d & ~15L;
    for (long j = r0; j < r1; j++) {
        const uint16_t *row = X + j * d;
        __m512 acc = _mm512_setzero_ps();
        long i = 0;
        for (; i < dv; i += 16) {
            __m256i h = _mm256_loadu_si256((const __m256i *)(row + i));
            acc = _mm512_fmadd_ps(_mm512_cvtph_ps(h),
                                  _mm512_loadu_ps(q + i), acc);
        }
        float s = _mm512_reduce_add_ps(acc);
        for (; i < d; i++) {
            __m128i h = _mm_cvtsi32_si128(row[i]);
            s += _mm_cvtss_f32(_mm_cvtph_ps(h)) * q[i];
        }
        out[j - r0] = s;
    }
}
#elif defined(__AVX2__) && defined(__F16C__)
void gemv_f16(const uint16_t *X, const float *q, float *out,
              long r0, long r1, long d) {
    long dv = d & ~7L;
    for (long j = r0; j < r1; j++) {
        const uint16_t *row = X + j * d;
        __m256 acc = _mm256_setzero_ps();
        long i = 0;
        for (; i < dv; i += 8) {
            __m128i h = _mm_loadu_si128((const __m128i *)(row + i));
            acc = _mm256_fmadd_ps(_mm256_cvtph_ps(h),
                                  _mm256_loadu_ps(q + i), acc);
        }
        __m128 lo = _mm256_castps256_ps128(acc);
        __m128 hi = _mm256_extractf128_ps(acc, 1);
        __m128 s4 = _mm_add_ps(lo, hi);
        s4 = _mm_hadd_ps(s4, s4);
        s4 = _mm_hadd_ps(s4, s4);
        float s = _mm_cvtss_f32(s4);
        for (; i < d; i++) {
            __m128i h = _mm_cvtsi32_si128(row[i]);
            s += _mm_cvtss_f32(_mm_cvtph_ps(h)) * q[i];
        }
        out[j - r0] = s;
    }
}
#else
/* portable scalar fallback: manual IEEE binary16 decode */
static float half2float(uint16_t h) {
    uint32_t sign = (uint32_t)(h >> 15) << 31;
    uint32_t exp = (h >> 10) & 0x1f;
    uint32_t man = h & 0x3ff;
    uint32_t bits;
    if (exp == 0) {
        if (man == 0) { bits = sign; }
        else {                      /* subnormal: normalize */
            int e = -1;
            do { man <<= 1; e++; } while (!(man & 0x400));
            bits = sign | ((uint32_t)(127 - 15 - e) << 23)
                 | ((man & 0x3ff) << 13);
        }
    } else if (exp == 0x1f) {
        bits = sign | 0x7f800000u | (man << 13);
    } else {
        bits = sign | ((exp + (127 - 15)) << 23) | (man << 13);
    }
    union { uint32_t u; float f; } u;
    u.u = bits;
    return u.f;
}
void gemv_f16(const uint16_t *X, const float *q, float *out,
              long r0, long r1, long d) {
    for (long j = r0; j < r1; j++) {
        const uint16_t *row = X + j * d;
        float s = 0.0f;
        for (long i = 0; i < d; i++)
            s += half2float(row[i]) * q[i];
        out[j - r0] = s;
    }
}
#endif

/* ---- fused 8-query passes (round 10, micro-batch serving) --------
   The GEMV kernel above re-streams the matrix once PER QUERY; under
   sustained single-query load the micro-batch front collects several
   concurrent queries, and this variant converts each row chunk ONCE
   and FMAs it against 8 query vectors — one DRAM pass serves 8
   queries (arithmetic intensity 8x, still comfortably under the FMA
   ceiling at d=200).  B must be a multiple of 8: the Python caller
   zero-pads the query block (a zero query costs FLOPs, never
   correctness).  out is row-major (r1-r0, B). */
#define NS_ACC8(OP) OP(0) OP(1) OP(2) OP(3) OP(4) OP(5) OP(6) OP(7)

#if defined(__AVX512F__) && defined(__F16C__)
void gemm8_f16(const uint16_t *X, const float *Q, float *out,
               long r0, long r1, long d, long B) {
    long dv = d & ~15L;
    for (long b0 = 0; b0 + 8 <= B; b0 += 8) {
#define NS_QP(b) const float *q##b = Q + (b0 + b) * d;
        NS_ACC8(NS_QP)
#undef NS_QP
        for (long j = r0; j < r1; j++) {
            const uint16_t *row = X + j * d;
#define NS_Z(b) __m512 a##b = _mm512_setzero_ps();
            NS_ACC8(NS_Z)
#undef NS_Z
            long i = 0;
            for (; i < dv; i += 16) {
                __m512 x = _mm512_cvtph_ps(
                    _mm256_loadu_si256((const __m256i *)(row + i)));
#define NS_F(b) a##b = _mm512_fmadd_ps(x, _mm512_loadu_ps(q##b + i), a##b);
                NS_ACC8(NS_F)
#undef NS_F
            }
#define NS_R(b) float s##b = _mm512_reduce_add_ps(a##b);
            NS_ACC8(NS_R)
#undef NS_R
            for (; i < d; i++) {
                __m128i h = _mm_cvtsi32_si128(row[i]);
                float xv = _mm_cvtss_f32(_mm_cvtph_ps(h));
#define NS_T(b) s##b += xv * q##b[i];
                NS_ACC8(NS_T)
#undef NS_T
            }
            float *o = out + (j - r0) * B + b0;
#define NS_W(b) o[b] = s##b;
            NS_ACC8(NS_W)
#undef NS_W
        }
    }
}
#elif defined(__AVX2__) && defined(__F16C__)
void gemm8_f16(const uint16_t *X, const float *Q, float *out,
               long r0, long r1, long d, long B) {
    long dv = d & ~7L;
    for (long b0 = 0; b0 + 8 <= B; b0 += 8) {
#define NS_QP(b) const float *q##b = Q + (b0 + b) * d;
        NS_ACC8(NS_QP)
#undef NS_QP
        for (long j = r0; j < r1; j++) {
            const uint16_t *row = X + j * d;
#define NS_Z(b) __m256 a##b = _mm256_setzero_ps();
            NS_ACC8(NS_Z)
#undef NS_Z
            long i = 0;
            for (; i < dv; i += 8) {
                __m256 x = _mm256_cvtph_ps(
                    _mm_loadu_si128((const __m128i *)(row + i)));
#define NS_F(b) a##b = _mm256_fmadd_ps(x, _mm256_loadu_ps(q##b + i), a##b);
                NS_ACC8(NS_F)
#undef NS_F
            }
#define NS_R(b) __m128 lo##b = _mm256_castps256_ps128(a##b); \
    __m128 hi##b = _mm256_extractf128_ps(a##b, 1); \
    __m128 v##b = _mm_add_ps(lo##b, hi##b); \
    v##b = _mm_hadd_ps(v##b, v##b); v##b = _mm_hadd_ps(v##b, v##b); \
    float s##b = _mm_cvtss_f32(v##b);
            NS_ACC8(NS_R)
#undef NS_R
            for (; i < d; i++) {
                __m128i h = _mm_cvtsi32_si128(row[i]);
                float xv = _mm_cvtss_f32(_mm_cvtph_ps(h));
#define NS_T(b) s##b += xv * q##b[i];
                NS_ACC8(NS_T)
#undef NS_T
            }
            float *o = out + (j - r0) * B + b0;
#define NS_W(b) o[b] = s##b;
            NS_ACC8(NS_W)
#undef NS_W
        }
    }
}
#else
void gemm8_f16(const uint16_t *X, const float *Q, float *out,
               long r0, long r1, long d, long B) {
    for (long b0 = 0; b0 + 8 <= B; b0 += 8) {
        for (long j = r0; j < r1; j++) {
            const uint16_t *row = X + j * d;
            for (int b = 0; b < 8; b++) {
                const float *q = Q + (b0 + b) * d;
                float s = 0.0f;
                for (long i = 0; i < d; i++)
                    s += half2float(row[i]) * q[i];
                out[(j - r0) * B + b0 + b] = s;
            }
        }
    }
}
#endif

/* ---- VNNI integer 8-query pass (round 10) ------------------------
   u8 codes x s8 query codes -> s32 dots via VPDPBUSD (64 MACs per
   instruction, no int16 saturation — the reason to require VNNI
   rather than the PMADDUBSW pair).  This moves the coarse pass off
   the float FMA units entirely: the f32 sgemv and the f16-convert
   kernels above all saturate the SAME ~2 flops/lane/cycle FMA throughput, which is
   the measured per-pass floor on a shared host; integer dot-product
   arithmetic is 4x denser.  Epilogue (affine de-quantization) happens
   in numpy.  Q rows are s8, d-padded like X; out is (r1-r0, B) s32;
   B a multiple of 8. */
#if defined(__AVX512VNNI__) && defined(__AVX512BW__)
void gemm8vnni_u8(const uint8_t *X, const int8_t *Qc, int32_t *out,
                  long r0, long r1, long d, long B) {
    long dv = d & ~63L;
    for (long b0 = 0; b0 + 8 <= B; b0 += 8) {
#define NS_QP(b) const int8_t *q##b = Qc + (b0 + b) * d;
        NS_ACC8(NS_QP)
#undef NS_QP
        for (long j = r0; j < r1; j++) {
            const uint8_t *row = X + j * d;
#define NS_Z(b) __m512i a##b = _mm512_setzero_si512();
            NS_ACC8(NS_Z)
#undef NS_Z
            long i = 0;
            for (; i < dv; i += 64) {
                __m512i x = _mm512_loadu_si512((const void *)(row + i));
#define NS_F(b) a##b = _mm512_dpbusd_epi32(a##b, x, \
    _mm512_loadu_si512((const void *)(q##b + i)));
                NS_ACC8(NS_F)
#undef NS_F
            }
            /* joint 8-acc reduction: a per-acc reduce_add_epi32 is
               ~10 uops x 8 — at d=200 (3 dpbusd chunks/row) that
               EPILOGUE dominated the kernel (measured 44.6 GOP/s/core
               vs the dpbusd ceiling).  hadd tree: 8 zmm -> 8 ymm ->
               two m128 of 4 sums each, ~20 uops total. */
#define NS_Y(b) __m256i y##b = _mm256_add_epi32( \
    _mm512_castsi512_si256(a##b), _mm512_extracti64x4_epi64(a##b, 1));
            NS_ACC8(NS_Y)
#undef NS_Y
            __m256i t01 = _mm256_hadd_epi32(y0, y1);
            __m256i t23 = _mm256_hadd_epi32(y2, y3);
            __m256i t45 = _mm256_hadd_epi32(y4, y5);
            __m256i t67 = _mm256_hadd_epi32(y6, y7);
            __m256i u03 = _mm256_hadd_epi32(t01, t23);
            __m256i u47 = _mm256_hadd_epi32(t45, t67);
            __m128i lo03 = _mm_add_epi32(
                _mm256_castsi256_si128(u03),
                _mm256_extracti128_si256(u03, 1));
            __m128i lo47 = _mm_add_epi32(
                _mm256_castsi256_si128(u47),
                _mm256_extracti128_si256(u47, 1));
            int32_t *o = out + (j - r0) * B + b0;
            _mm_storeu_si128((__m128i *)o, lo03);
            _mm_storeu_si128((__m128i *)(o + 4), lo47);
            for (; i < d; i++) {
                int32_t xv = (int32_t)row[i];
#define NS_T(b) o[b] += xv * (int32_t)q##b[i];
                NS_ACC8(NS_T)
#undef NS_T
            }
        }
    }
}
int has_vnni(void) { return 1; }

/* threshold-compare variant: emits one BIT per (row, query) instead
   of an int32 score — the buffered epilogue's score matrix cost more
   memory traffic than the code pass itself (measured: 128 MB of i32
   scores + f32 dequant copies per 24-query call vs the 200 MB code
   read).  Bit b of byte (j-r0)*(B/8)+g is dot(row_j, q_{8g+b}) >
   thr[8g+b], thresholds pre-mapped to int by the caller (cosine/dot
   only — euclidean's per-row |x|^2 term needs the buffered path). */
void gemm8vnni_thr(const uint8_t *X, const int8_t *Qc,
                   const int32_t *thr, uint8_t *out_bits,
                   long r0, long r1, long d, long B) {
    long dv = d & ~63L;
    long gb_ = B / 8;
    for (long b0 = 0; b0 + 8 <= B; b0 += 8) {
#define NS_QP(b) const int8_t *q##b = Qc + (b0 + b) * d;
        NS_ACC8(NS_QP)
#undef NS_QP
        const int32_t *t8 = thr + b0;
        for (long j = r0; j < r1; j++) {
            const uint8_t *row = X + j * d;
#define NS_Z(b) __m512i a##b = _mm512_setzero_si512();
            NS_ACC8(NS_Z)
#undef NS_Z
            long i = 0;
            for (; i < dv; i += 64) {
                __m512i x = _mm512_loadu_si512((const void *)(row + i));
#define NS_F(b) a##b = _mm512_dpbusd_epi32(a##b, x, \
    _mm512_loadu_si512((const void *)(q##b + i)));
                NS_ACC8(NS_F)
#undef NS_F
            }
#define NS_Y(b) __m256i y##b = _mm256_add_epi32( \
    _mm512_castsi512_si256(a##b), _mm512_extracti64x4_epi64(a##b, 1));
            NS_ACC8(NS_Y)
#undef NS_Y
            __m256i t01 = _mm256_hadd_epi32(y0, y1);
            __m256i t23 = _mm256_hadd_epi32(y2, y3);
            __m256i t45 = _mm256_hadd_epi32(y4, y5);
            __m256i t67 = _mm256_hadd_epi32(y6, y7);
            __m256i u03 = _mm256_hadd_epi32(t01, t23);
            __m256i u47 = _mm256_hadd_epi32(t45, t67);
            __m128i lo03 = _mm_add_epi32(
                _mm256_castsi256_si128(u03),
                _mm256_extracti128_si256(u03, 1));
            __m128i lo47 = _mm_add_epi32(
                _mm256_castsi256_si128(u47),
                _mm256_extracti128_si256(u47, 1));
            int32_t s[8];
            _mm_storeu_si128((__m128i *)s, lo03);
            _mm_storeu_si128((__m128i *)(s + 4), lo47);
            for (; i < d; i++) {
                int32_t xv = (int32_t)row[i];
#define NS_T(b) s[b] += xv * (int32_t)q##b[i];
                NS_ACC8(NS_T)
#undef NS_T
            }
            uint8_t bits = 0;
            for (int b = 0; b < 8; b++)
                bits |= (uint8_t)(s[b] > t8[b]) << b;
            out_bits[(j - r0) * gb_ + (b0 >> 3)] = bits;
        }
    }
}
#else
void gemm8vnni_u8(const uint8_t *X, const int8_t *Qc, int32_t *out,
                  long r0, long r1, long d, long B) {
    for (long b0 = 0; b0 + 8 <= B; b0 += 8) {
        for (long j = r0; j < r1; j++) {
            const uint8_t *row = X + j * d;
            for (int b = 0; b < 8; b++) {
                const int8_t *q = Qc + (b0 + b) * d;
                int32_t s = 0;
                for (long i = 0; i < d; i++)
                    s += (int32_t)row[i] * (int32_t)q[i];
                out[(j - r0) * B + b0 + b] = s;
            }
        }
    }
}
int has_vnni(void) { return 0; }
void gemm8vnni_thr(const uint8_t *X, const int8_t *Qc,
                   const int32_t *thr, uint8_t *out_bits,
                   long r0, long r1, long d, long B) {
    long gb_ = B / 8;
    for (long b0 = 0; b0 + 8 <= B; b0 += 8) {
        for (long j = r0; j < r1; j++) {
            const uint8_t *row = X + j * d;
            uint8_t bits = 0;
            for (int b = 0; b < 8; b++) {
                const int8_t *q = Qc + (b0 + b) * d;
                int32_t s = 0;
                for (long i = 0; i < d; i++)
                    s += (int32_t)row[i] * (int32_t)q[i];
                bits |= (uint8_t)(s > thr[b0 + b]) << b;
            }
            out_bits[(j - r0) * gb_ + (b0 >> 3)] = bits;
        }
    }
}
#endif
"""

_lock = threading.Lock()
_cache: dict[str, object] = {}


def _compile() -> "ctypes.CDLL | None":
    gcc = None
    for cand in ("cc", "gcc", "clang"):
        try:
            subprocess.run([cand, "--version"], capture_output=True,
                           timeout=10, check=True)
            gcc = cand
            break
        except (OSError, subprocess.SubprocessError):
            continue
    if gcc is None:
        return None
    # cache key includes the CPU identity: -march=native bakes the host
    # ISA into the .so, and a /tmp shared across heterogeneous hosts
    # (container images, migrated VMs) must not serve an AVX-512 build
    # to a CPU without it (SIGILL mid-search)
    cpu_id = ""
    try:
        with open("/proc/cpuinfo") as f:
            for line in f:
                if line.startswith("flags"):
                    cpu_id = line
                    break
    except OSError:
        pass
    tag = hashlib.sha256((_SRC + cpu_id).encode()).hexdigest()[:16]
    # per-uid 0700 cache dir, never a world-writable shared path: a
    # predictable .so name in /tmp would let any local user plant a
    # library that ctypes.CDLL then executes in this process
    cache_dir = os.path.join(tempfile.gettempdir(),
                             f"needle_spark_native_{os.getuid()}")
    try:
        os.makedirs(cache_dir, mode=0o700, exist_ok=True)
        st = os.stat(cache_dir)
        if st.st_uid != os.getuid() or (st.st_mode & 0o022):
            # someone else owns it or it is group/world-writable:
            # refuse the cache, build into a fresh private dir
            cache_dir = tempfile.mkdtemp(prefix="needle_spark_native_")
    except OSError:
        return None
    so_path = os.path.join(cache_dir, f"gemv_{tag}.so")
    if not os.path.exists(so_path):
        src_path = so_path[:-3] + ".c"
        tmp = so_path + f".tmp{os.getpid()}"
        try:
            with open(src_path, "w") as f:
                f.write(_SRC)
            subprocess.run(
                [gcc, "-O3", "-march=native", "-shared", "-fPIC",
                 "-o", tmp, src_path],
                capture_output=True, timeout=120, check=True)
            os.replace(tmp, so_path)  # atomic vs concurrent builders
        except (OSError, subprocess.SubprocessError):
            try:
                os.unlink(tmp)
            except OSError:
                pass
            return None
    try:
        lib = ctypes.CDLL(so_path)
        lib.gemv_f16.argtypes = [ctypes.c_void_p, ctypes.c_void_p,
                                 ctypes.c_void_p, ctypes.c_long,
                                 ctypes.c_long, ctypes.c_long]
        lib.gemv_f16.restype = None
        for fn in (lib.gemm8_f16, lib.gemm8vnni_u8):
            fn.argtypes = [ctypes.c_void_p, ctypes.c_void_p,
                           ctypes.c_void_p, ctypes.c_long,
                           ctypes.c_long, ctypes.c_long, ctypes.c_long]
            fn.restype = None
        lib.gemm8vnni_thr.argtypes = [
            ctypes.c_void_p, ctypes.c_void_p, ctypes.c_void_p,
            ctypes.c_void_p, ctypes.c_long, ctypes.c_long,
            ctypes.c_long, ctypes.c_long]
        lib.gemm8vnni_thr.restype = None
        lib.has_vnni.argtypes = []
        lib.has_vnni.restype = ctypes.c_int
        return lib
    except (OSError, AttributeError):
        return None


def gemv_f16_kernel():
    """The compiled library with ``gemv_f16(X_u16, q_f32, out_f32,
    r0, r1, d)``, or None when no toolchain is available.  Cached per
    process; thread-safe."""
    with _lock:
        if "lib" not in _cache:
            _cache["lib"] = _compile()
        return _cache["lib"]
