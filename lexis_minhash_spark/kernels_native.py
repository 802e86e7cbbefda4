"""C kernels for the two hash primitives — the fast path of kernels.py.

- ``minhash_fused``: multiply-shift + min-reduce in one streaming pass,

      for each doc, for each shingle h, for j in 0..S-1:
          acc[j] = min(acc[j], (uint32)((a[j]*h + b[j]) >> 32))

  The ``>> 32`` sits inside the min (monotone non-decreasing, so it
  commutes with min), which makes the accumulator uint32 and lets the
  compiler vectorize the loop with an unsigned-32 min.  No (shingles × S)
  intermediate exists; the accumulator row stays in L1.
- ``rolling_hashes_multi``: the incremental per-document rolling hash,
  O(1) per window and no windows across document boundaries.

C unsigned arithmetic is exactly mod 2^64, so both are bit-identical to
the uint64 NumPy twins in kernels.py (asserted by the parity tests).

Build: compiled at first use with the system C compiler into a shared
library cached per user (``_CACHE_DIR``, mode 0700) and keyed by source
hash — one compile per host and user; concurrent Spark workers rename
into place atomically and every other process just dlopens.  Before the
dlopen the directory and the library must be owned by the current user
and not group- or world-writable.  No compiler, a failed check or any
other error → ``load()`` returns None (a failed check also warns once)
and kernels.py runs on uint64 NumPy with identical results.  ctypes
releases the GIL for the call, so Spark's per-core workers overlap fully.
"""

from __future__ import annotations

import ctypes
import hashlib
import os
import stat
import subprocess
import warnings

import numpy as np

_C_SOURCE = r"""
#include <stdint.h>
#include <string.h>

/* fused multiply-shift + min-reduce:
   out[d*s + j] = min over doc d's shingles h of (uint32)((a[j]*h + b[j]) >> 32)
   docs given by starts[d] (row offsets into h, ascending) and counts[d].
   Accumulator init 0xFFFFFFFF == (UINT64_MAX >> 32): empty docs keep the
   UInt32::MAX-filled init vector, matching the NumPy path. */
void minhash_fused(const uint64_t *h, const uint64_t *a, const uint64_t *b,
                   int64_t s, const int64_t *starts, const int64_t *counts,
                   int64_t n_docs, uint32_t *out)
{
    for (int64_t d = 0; d < n_docs; d++) {
        uint32_t *acc = out + d * s;
        memset(acc, 0xFF, (size_t)s * sizeof(uint32_t));
        const uint64_t *hp = h + starts[d];
        const int64_t n = counts[d];
        for (int64_t i = 0; i < n; i++) {
            const uint64_t hv = hp[i];
            for (int64_t j = 0; j < s; j++) {
                uint64_t v = a[j] * hv + b[j];
                uint32_t t = (uint32_t)(v >> 32);
                if (t < acc[j]) acc[j] = t;
            }
        }
    }
}

/* per-doc rolling k-byte polynomial hashes (P = 31, mod 2^64), incremental:
   h_next = (h - w[0]*31^(k-1))*31 + w[k]  — O(1) per window vs the NumPy
   Horner's k passes, and no cross-document windows are ever produced, so
   the caller's boundary keep-mask disappears.  Output for doc d starts at
   out_starts[d] and has max(len_d - k + 1, 0) entries. */
void rolling_hashes_multi(const uint8_t *data, const int64_t *starts,
                          const int64_t *lens, int64_t n_docs, int64_t k,
                          const int64_t *out_starts, uint64_t *out)
{
    uint64_t pk = 1; /* 31^(k-1) mod 2^64 */
    for (int64_t i = 1; i < k; i++) pk *= 31u;
    for (int64_t d = 0; d < n_docs; d++) {
        const int64_t len = lens[d];
        if (len < k) continue;
        const uint8_t *p = data + starts[d];
        uint64_t *o = out + out_starts[d];
        uint64_t h = 0;
        for (int64_t i = 0; i < k; i++) h = h * 31u + p[i];
        o[0] = h;
        const int64_t n = len - k + 1;
        for (int64_t i = 1; i < n; i++) {
            h = (h - p[i - 1] * pk) * 31u + p[i + k - 1];
            o[i] = h;
        }
    }
}
"""

_CACHE_DIR = os.path.join(
    os.environ.get("XDG_CACHE_HOME") or os.path.join(os.path.expanduser("~"), ".cache"),
    "lexis_minhash_native",
)
_LIB = None
_LOAD_TRIED = False


def _build(src: str, path: str) -> bool:
    """Compile ``src`` → shared library at ``path`` (atomic rename)."""
    cfile = path + f".{os.getpid()}.c"
    tmpso = path + f".{os.getpid()}.tmp"
    with open(cfile, "w") as f:
        f.write(src)
    try:
        for flags in (["-O3", "-march=native"], ["-O3"]):
            try:
                subprocess.run(
                    ["cc", *flags, "-shared", "-fPIC", cfile, "-o", tmpso],
                    check=True,
                    capture_output=True,
                    timeout=120,
                )
                os.replace(tmpso, path)  # atomic: concurrent builders race safely
                return True
            except Exception:
                continue
        return False
    finally:
        for p in (cfile, tmpso):
            try:
                os.unlink(p)
            except OSError:
                pass


def _untrusted(path: str) -> str | None:
    """Why ``path`` must not be used for the library, or None if it is
    owned by the current user and not group- or world-writable."""
    st = os.stat(path)
    if st.st_uid != os.getuid():
        return f"{path} is owned by uid {st.st_uid}, not {os.getuid()}"
    if st.st_mode & (stat.S_IWGRP | stat.S_IWOTH):
        return f"{path} is group- or world-writable (mode {stat.S_IMODE(st.st_mode):o})"
    return None


def _library_path() -> str:
    tag = hashlib.sha256(_C_SOURCE.encode()).hexdigest()[:16]
    return os.path.join(_CACHE_DIR, f"minhash_{tag}.so")


def load():
    """Return the ctypes-bound kernels, or None if unavailable."""
    global _LIB, _LOAD_TRIED
    if _LOAD_TRIED:
        return _LIB
    _LOAD_TRIED = True
    if os.environ.get("LEXIS_NATIVE_KERNEL", "1") == "0":
        return None
    path = _library_path()
    try:
        try:
            os.makedirs(_CACHE_DIR, mode=0o700, exist_ok=True)
            reason = _untrusted(_CACHE_DIR)
        except OSError as e:
            reason = f"cannot create {_CACHE_DIR}: {e}"
        if reason is None:
            if not os.path.exists(path) and not _build(_C_SOURCE, path):
                return None
            reason = _untrusted(path)
        if reason is not None:
            warnings.warn(
                f"native kernel cache refused ({reason}); using the NumPy kernels",
                RuntimeWarning,
                stacklevel=2,
            )
            return None
        lib = ctypes.CDLL(path)
        lib.minhash_fused.restype = None
        lib.minhash_fused.argtypes = [
            ctypes.POINTER(ctypes.c_uint64),  # h
            ctypes.POINTER(ctypes.c_uint64),  # a
            ctypes.POINTER(ctypes.c_uint64),  # b
            ctypes.c_int64,  # s
            ctypes.POINTER(ctypes.c_int64),  # starts
            ctypes.POINTER(ctypes.c_int64),  # counts
            ctypes.c_int64,  # n_docs
            ctypes.POINTER(ctypes.c_uint32),  # out
        ]
        lib.rolling_hashes_multi.restype = None
        lib.rolling_hashes_multi.argtypes = [
            ctypes.POINTER(ctypes.c_uint8),  # data
            ctypes.POINTER(ctypes.c_int64),  # starts
            ctypes.POINTER(ctypes.c_int64),  # lens
            ctypes.c_int64,  # n_docs
            ctypes.c_int64,  # k
            ctypes.POINTER(ctypes.c_int64),  # out_starts
            ctypes.POINTER(ctypes.c_uint64),  # out
        ]
        _LIB = lib
    except Exception:
        _LIB = None
    return _LIB


def minhash_fused(
    h: np.ndarray,
    starts: np.ndarray,
    counts: np.ndarray,
    a: np.ndarray,
    b: np.ndarray,
) -> np.ndarray:
    """uint32[n_docs, s] signatures via the fused C pass.

    ``h``: uint64 concatenated shingle hashes; ``starts``/``counts``:
    int64 per-doc offsets/lengths into ``h``.  Caller must ensure the
    library loaded (``load() is not None``)."""
    lib = load()
    s = int(a.shape[0])
    n_docs = int(counts.shape[0])
    out = np.empty((n_docs, s), dtype=np.uint32)
    h = np.ascontiguousarray(h, dtype=np.uint64)
    a = np.ascontiguousarray(a, dtype=np.uint64)
    b = np.ascontiguousarray(b, dtype=np.uint64)
    starts = np.ascontiguousarray(starts, dtype=np.int64)
    counts = np.ascontiguousarray(counts, dtype=np.int64)
    u64p = ctypes.POINTER(ctypes.c_uint64)
    i64p = ctypes.POINTER(ctypes.c_int64)
    lib.minhash_fused(
        h.ctypes.data_as(u64p),
        a.ctypes.data_as(u64p),
        b.ctypes.data_as(u64p),
        ctypes.c_int64(s),
        starts.ctypes.data_as(i64p),
        counts.ctypes.data_as(i64p),
        ctypes.c_int64(n_docs),
        out.ctypes.data_as(ctypes.POINTER(ctypes.c_uint32)),
    )
    return out


def rolling_hashes_multi(
    data: np.ndarray,
    starts: np.ndarray,
    lens: np.ndarray,
    k: int,
) -> tuple[np.ndarray, np.ndarray]:
    """Per-doc rolling k-byte hashes of a concatenated uint8 stream.

    Returns ``(hashes_concat, counts)`` — bit-identical to the NumPy
    batch path (hash every window of the big array, drop windows that
    straddle document boundaries), but computed incrementally per doc
    with no cross-boundary windows to mask out.  Caller must ensure
    ``load()`` succeeded."""
    lib = load()
    data = np.ascontiguousarray(data, dtype=np.uint8)
    starts = np.ascontiguousarray(starts, dtype=np.int64)
    lens = np.ascontiguousarray(lens, dtype=np.int64)
    counts = np.maximum(lens - (k - 1), 0)
    out_starts = np.concatenate(([0], np.cumsum(counts)[:-1])).astype(np.int64)
    out = np.empty(int(counts.sum()), dtype=np.uint64)
    i64p = ctypes.POINTER(ctypes.c_int64)
    lib.rolling_hashes_multi(
        data.ctypes.data_as(ctypes.POINTER(ctypes.c_uint8)),
        starts.ctypes.data_as(i64p),
        lens.ctypes.data_as(i64p),
        ctypes.c_int64(int(lens.shape[0])),
        ctypes.c_int64(int(k)),
        out_starts.ctypes.data_as(i64p),
        out.ctypes.data_as(ctypes.POINTER(ctypes.c_uint64)),
    )
    return out, counts
