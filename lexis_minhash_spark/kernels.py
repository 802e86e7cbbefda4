"""NumPy compute kernels (no Spark imports) — unit-testable standalone.

These re-express the reference's per-shingle scalar loops
(kritoke/lexis-minhash, Crystal) as batched array programs.  All uint64
arithmetic wraps mod 2**64 exactly like Crystal's ``&*``/``&+`` operators
(NumPy C-semantics overflow, warnings suppressed).

Each hash primitive has two implementations:

- the C kernels in ``kernels_native`` (fused multiply-shift + min-reduce,
  incremental per-document rolling hash) — the fast path, used exactly
  when ``kernels_native.load()`` returns a library;
- plain uint64 NumPy here — the fallback when no shared library loads
  (``LEXIS_NATIVE_KERNEL=0`` forces it) and the in-repo reference the
  C kernels are tested against.

Both wrap mod 2^64 by C unsigned semantics, so they are bit-identical by
construction.  The weighted update and the SimHash mix have no C kernel
and always run on uint64 NumPy.

Parity citations (semantics only — the vectorized formulation is new):
- rolling k-shingle polynomial hash: engine/rolling.cr:44-62 (P=31, mod 2^64)
- multiply-shift MinHash min-reduce: engine/signature.cr:7-30
- weighted MinHash update: engine.cr:170-186, 203-256
- LSH band fold: engine.cr:426-456 (``combined = (combined << 7) ^ value``)
- little-endian signature blobs: engine/serialize.cr:5-41
- zero-signature gates: engine/signature.cr:12-16
- detection probability: engine.cr:460-464

Batch layout convention: a batch of N documents is represented as
``(hashes_concat: uint64[total], counts: int64[N])`` — the concatenation of
each document's shingle-hash stream plus per-document counts.  This feeds a
single kernel call instead of N Python loops.
"""

from __future__ import annotations

import math
import re

import numpy as np

from lexis_minhash_spark import kernels_native as KN

P = np.uint64(31)
U32_MAX_F = 4294967295.0  # Float64.new(UInt32::MAX), engine.cr:181
_U32_FULL = np.uint32(0xFFFFFFFF)
_U64_SHIFT32 = np.uint64(32)
_WS_RE = re.compile(r"\s+")

# Max elements in one (shingles x signature_size) uint64 block of the NumPy
# multiply-shift; bounds its reused scratch to BLOCK_ELEMS * 8 B (384 KB),
# so the multiply, add and min-reduce passes over a block stay in L2.
# Blocks never split a document, so a document larger than the budget
# gets a block of its own.  The C kernel streams one shingle at a time and
# needs no scratch.
BLOCK_ELEMS = 48_000


# ---------------------------------------------------------------------------
# backend choice
# ---------------------------------------------------------------------------

_MULSHIFT_BACKEND: str | None = None
_ROLLING_BACKEND: str | None = None


def _backend() -> str:
    """``native`` exactly when the C kernels load, else ``u64``."""
    return "native" if KN.load() is not None else "u64"


def _pick_mulshift_backend(s: int) -> str:
    """Multiply-shift backend of this process (the same for every ``s``)."""
    global _MULSHIFT_BACKEND
    _MULSHIFT_BACKEND = _backend()
    return _MULSHIFT_BACKEND


def _pick_rolling_backend(k: int) -> str:
    """Rolling-hash backend of this process (the same for every ``k``)."""
    global _ROLLING_BACKEND
    _ROLLING_BACKEND = _backend()
    return _ROLLING_BACKEND


# ---------------------------------------------------------------------------
# normalization + gates (engine/signature.cr:12-16)
# ---------------------------------------------------------------------------

def normalize_text(text: str) -> str:
    """``text.downcase.strip`` (engine/signature.cr:12).

    Python ``str.lower``/``str.strip`` use Unicode default casing/whitespace,
    matching Crystal's for ASCII and the vast majority of Unicode; parity
    fixtures are ASCII-only by design (FIXTURES.md §6).
    """
    return text.lower().strip()


def passes_gates(normalized: str, min_words: int, shingle_size: int) -> bool:
    """False → zero signature.  Mirrors engine/signature.cr:13-16:
    empty / word-count < min_words / codepoint-length < shingle_size.
    NOTE: the length gate counts *codepoints*; shingling iterates *bytes*.
    """
    if not normalized:
        return False
    if len(_WS_RE.split(normalized)) < min_words:
        return False
    if len(normalized) < shingle_size:
        return False
    return True


# ---------------------------------------------------------------------------
# shingle hashing (engine/rolling.cr:44-62)
# ---------------------------------------------------------------------------

def shingle_hashes_concat(
    data: np.ndarray, lens: np.ndarray, k: int
) -> tuple[np.ndarray, np.ndarray]:
    """Per-document k-byte window hashes of back-to-back byte streams.

    ``data`` (uint8) holds the documents' bytes concatenated, ``lens`` their
    lengths.  Returns ``(hashes_concat: uint64[total], counts:
    int64[len(lens)])``: every window lying inside one document, in order;
    a document shorter than ``k`` has none.  The one rolling-hash entry
    point for text batches, single strings and audio envelopes.
    """
    lens = np.asarray(lens, dtype=np.int64)
    if _pick_rolling_backend(k) == "native":
        return KN.rolling_hashes_multi(data, np.cumsum(lens) - lens, lens, k)
    return _shingle_hashes_concat_u64(data, lens, k)


def _shingle_hashes_concat_u64(
    data: np.ndarray, lens: np.ndarray, k: int
) -> tuple[np.ndarray, np.ndarray]:
    """uint64 NumPy twin of ``kernels_native.rolling_hashes_multi``.

    h(w) = sum(w[j] * 31^(k-1-j)) mod 2^64 — the reference's incremental
    rolling values, computed as k in-place Horner steps (one multiply and
    one add each) over the whole concatenation; the windows that straddle
    a document boundary are dropped afterwards."""
    counts = np.maximum(lens - (k - 1), 0)
    n = int(data.shape[0]) - k + 1
    if n <= 0:
        return np.empty(0, dtype=np.uint64), counts
    d = data.astype(np.uint64)
    h = np.zeros(n, dtype=np.uint64)
    for j in range(k):
        np.multiply(h, P, out=h)
        np.add(h, d[j : j + n], out=h)
    # window i belongs to the last document starting at or before it and
    # is kept when it also ends inside that document
    starts = np.cumsum(lens) - lens
    idx = np.arange(n, dtype=np.int64)
    owner = np.searchsorted(starts, idx, side="right") - 1
    return h[idx - starts[owner] < counts[owner]], counts


def shingle_hashes_bytes(data: np.ndarray, k: int) -> np.ndarray:
    """uint64 hashes of every k-byte window of ``data`` (uint8[n])."""
    return shingle_hashes_concat(data, np.array([data.shape[0]]), k)[0]


def shingle_hashes_text(text: str, k: int) -> np.ndarray:
    """Shingle hashes of a (already normalized) text's UTF-8 bytes."""
    return shingle_hashes_bytes(
        np.frombuffer(text.encode("utf-8"), dtype=np.uint8), k
    )


def shingle_hash_for(shingle: str) -> int:
    """Polynomial hash of a whole key string (engine.cr:264-273):
    window size = byte length, i.e. plain poly hash of all bytes."""
    b = shingle.encode("utf-8")
    if not b:
        return 0
    return int(shingle_hashes_bytes(np.frombuffer(b, dtype=np.uint8), len(b))[0])


def batch_shingle_hashes(
    texts: list[str], k: int
) -> tuple[np.ndarray, np.ndarray]:
    """Shingle hashes of a batch of normalized texts' UTF-8 bytes →
    ``(hashes_concat: uint64[total], counts: int64[len(texts)])``."""
    chunks = [t.encode("utf-8") for t in texts]
    lens = np.fromiter(map(len, chunks), dtype=np.int64, count=len(chunks))
    return shingle_hashes_concat(
        np.frombuffer(b"".join(chunks), dtype=np.uint8), lens, k
    )


# ---------------------------------------------------------------------------
# MinHash min-reduce (engine/signature.cr:7-30; weighted engine.cr:170-186)
# ---------------------------------------------------------------------------

# Reusable (rows × S) uint64 blocks, one per S.  The pandas UDFs call the
# kernels once per Arrow batch; fresh multi-MB temporaries page-fault on
# every call, ``out=`` reuse does not.
_U64_SCRATCH_CACHE: dict[int, np.ndarray] = {}


def _get_u64_scratch(max_rows: int, s: int) -> np.ndarray:
    sc = _U64_SCRATCH_CACHE.get(s)
    if sc is None or sc.shape[0] < max_rows:
        if len(_U64_SCRATCH_CACHE) >= 4:  # bounded RSS across shapes
            _U64_SCRATCH_CACHE.clear()
        sc = np.empty((max_rows, s), dtype=np.uint64)
        _U64_SCRATCH_CACHE[s] = sc
    return sc


def _mulshift_high32_u64(
    h: np.ndarray, a: np.ndarray, b: np.ndarray,
    scratch: np.ndarray | None = None,
    shift: bool = True,
) -> np.ndarray:
    """``((a*h + b) mod 2^64) >> 32`` for every (shingle, hash-fn) pair →
    uint64[n, S] view into ``scratch`` (consume before the next call).
    Three in-place passes (mul, add, shift); C unsigned wraparound IS
    mod 2^64.

    ``shift=False`` returns the full 64-bit ``(a*h + b) mod 2^64``:
    ``>> 32`` is monotone non-decreasing, so it commutes with the
    min-reduce and the caller shifts only the REDUCED (docs × S) block."""
    n = int(h.shape[0])
    s = int(a.shape[0])
    if scratch is None or scratch.shape[0] < n:
        scratch = _get_u64_scratch(n, s)
    m = scratch[:n]
    np.multiply(h[:, None], a[None, :], out=m)
    m += b[None, :]
    if shift:
        np.right_shift(m, _U64_SHIFT32, out=m)
    return m


def _doc_blocks(counts: np.ndarray, s: int) -> list[tuple]:
    """Group consecutive non-empty documents into blocks of about
    BLOCK_ELEMS (shingles × S) elements, never splitting a document →
    ``(doc_idx, lo, hi, local_starts)`` per block, where ``[lo, hi)`` is
    the block's slice of the hash stream and ``local_starts`` its
    documents' offsets within that slice (the ``reduceat`` indices)."""
    starts = np.cumsum(counts) - counts
    ne_idx = np.nonzero(counts > 0)[0]
    rows_per_block = max(1, BLOCK_ELEMS // s)
    bounds = [0]
    rows = 0
    for pos, cnt in enumerate(counts[ne_idx].tolist()):
        if rows > 0 and rows + cnt > rows_per_block:
            bounds.append(pos)
            rows = 0
        rows += cnt
    bounds.append(ne_idx.shape[0])
    blocks = []
    for first, end in zip(bounds[:-1], bounds[1:]):
        if first < end:
            docs = ne_idx[first:end]
            lo = int(starts[docs[0]])
            hi = int(starts[docs[-1]] + counts[docs[-1]])
            blocks.append((docs, lo, hi, (starts[docs] - lo).astype(np.intp)))
    return blocks


def _block_scratch(blocks: list[tuple], s: int) -> np.ndarray:
    return _get_u64_scratch(max(hi - lo for _, lo, hi, _ in blocks), s)


def _minhash_batch_u64(
    h: np.ndarray, counts: np.ndarray, a: np.ndarray, b: np.ndarray
) -> np.ndarray:
    """uint64 NumPy twin of ``kernels_native.minhash_fused``: per block one
    multiply-shift, a ``minimum.reduceat`` on the full 64-bit values at
    document boundaries, and the ``>> 32`` on the reduced block only."""
    s = int(a.shape[0])
    out = np.full((int(counts.shape[0]), s), _U32_FULL, dtype=np.uint32)
    blocks = _doc_blocks(counts, s)
    if not blocks:
        return out
    scratch = _block_scratch(blocks, s)
    for docs, lo, hi, local_starts in blocks:
        mu = _mulshift_high32_u64(h[lo:hi], a, b, scratch, shift=False)
        reduced = np.minimum.reduceat(mu, local_starts, axis=0)
        np.right_shift(reduced, _U64_SHIFT32, out=reduced)
        out[docs] = reduced.astype(np.uint32)
    return out


def _minhash_batch_weighted(
    h: np.ndarray, counts: np.ndarray, a: np.ndarray, b: np.ndarray,
    w: np.ndarray,
) -> np.ndarray:
    """Weighted update (engine.cr:170-186) on uint64 NumPy: w <= 0 shingles
    skipped, divisor = log(1+w) if w < 1 else w, slot value =
    fmod(h32 / divisor, 4294967295.0) truncated to uint32, min-reduced.

    Raises ValueError on a positive weight so small that log(1.0 + w)
    rounds to 0 (below about 1.1e-16): the reference divides by zero
    there."""
    n_docs = int(counts.shape[0])
    s = int(a.shape[0])
    out = np.full((n_docs, s), _U32_FULL, dtype=np.uint32)
    keep = w > 0.0  # drop non-positive (and NaN) weights, engine.cr:175-177
    if not keep.all():
        doc_ids = np.repeat(np.arange(n_docs), counts)
        h, w = h[keep], w[keep]
        counts = np.bincount(doc_ids[keep], minlength=n_docs)
    # NB: the reference computes Math.log(1.0 + w) (engine.cr:179) — NOT
    # log1p — and the two differ in the last ulp for general w; mirror it.
    divisor = np.where(w < 1.0, np.log(1.0 + w), w)
    zero = divisor == 0.0
    if zero.any():
        raise ValueError(
            f"shingle weight {float(w[zero][0])!r} is too small: "
            "log(1.0 + w) rounds to 0, so the weighted update has no divisor"
        )
    blocks = _doc_blocks(counts, s)
    if not blocks:
        return out
    scratch = _block_scratch(blocks, s)
    for docs, lo, hi, local_starts in blocks:
        fw = _mulshift_high32_u64(h[lo:hi], a, b, scratch).astype(np.float64)
        fw /= divisor[lo:hi, None]
        np.fmod(fw, U32_MAX_F, out=fw)
        # trunc toward zero: every value is in [0, UInt32::MAX)
        out[docs] = np.minimum.reduceat(fw.astype(np.uint32), local_starts, axis=0)
    return out


def minhash_batch(
    hashes_concat: np.ndarray,
    counts: np.ndarray,
    a: np.ndarray,
    b: np.ndarray,
    weights_concat: np.ndarray | None = None,
) -> np.ndarray:
    """Signatures for a whole batch → uint32[n_docs, signature_size].

    Unweighted: ``((a[i]*h + b[i]) mod 2^64) >> 32`` min-reduced over each
    document's shingles (engine/signature.cr:22-27) — the fused C kernel
    when it loads, else the blocked uint64 NumPy path.

    ``weights_concat`` (float64, parallel to ``hashes_concat``) switches to
    the weighted update (see _minhash_batch_weighted).

    Documents with zero shingles yield the UInt32::MAX-filled init vector —
    callers apply the zero-signature gates *before* building the batch.
    """
    h = np.asarray(hashes_concat, dtype=np.uint64)
    counts = np.asarray(counts, dtype=np.int64)
    if weights_concat is not None:
        return _minhash_batch_weighted(
            h, counts, a, b, np.asarray(weights_concat, dtype=np.float64)
        )
    if _pick_mulshift_backend(int(a.shape[0])) == "native":
        return KN.minhash_fused(h, np.cumsum(counts) - counts, counts, a, b)
    return _minhash_batch_u64(h, counts, a, b)


def minhash_from_hashes(
    h64: np.ndarray, a: np.ndarray, b: np.ndarray
) -> np.ndarray:
    """Unweighted signature of one hash stream → uint32[signature_size]
    (a one-document minhash_batch).  Empty stream → all UInt32::MAX
    (init value, engine/signature.cr:18)."""
    return minhash_batch(h64, np.array([h64.size]), a, b)[0]


def zero_signature(signature_size: int) -> np.ndarray:
    """All-zero signature for gated-out documents (engine/signature.cr:13-16)."""
    return np.zeros(signature_size, dtype=np.uint32)


# ---------------------------------------------------------------------------
# LSH band fold (engine.cr:426-456)
# ---------------------------------------------------------------------------

def band_hashes_batch(
    signatures: np.ndarray, num_bands: int, rows_per_band: int
) -> np.ndarray:
    """Band hashes → uint64[n_docs, num_bands].

    Per band of ``rows_per_band`` uint32 values:
    ``combined = ((combined << 7) ^ value) mod 2^64`` starting at 0
    (engine.cr:443-456).  NOTE the reference quirk: when ``bands`` overrides
    the config, ``rows`` still comes from the config, so only the first
    ``num_bands * rows_per_band`` signature slots are consumed — callers pass
    both explicitly to reproduce that behavior.
    """
    n = signatures.shape[0]
    used = num_bands * rows_per_band
    r = signatures[:, :used].reshape(n, num_bands, rows_per_band).astype(np.uint64)
    combined = np.zeros((n, num_bands), dtype=np.uint64)
    with np.errstate(over="ignore"):
        for j in range(rows_per_band):
            combined = (combined << np.uint64(7)) ^ r[:, :, j]
    return combined


# ---------------------------------------------------------------------------
# similarity kernels (engine.cr:365-421, similarity.cr)
# ---------------------------------------------------------------------------

def signature_similarity(s1: np.ndarray, s2: np.ndarray) -> float:
    """Fraction of equal positions; 0.0 on empty or size mismatch
    (engine.cr:365-375)."""
    if s1.size == 0 or s2.size == 0 or s1.size != s2.size:
        return 0.0
    return float(np.count_nonzero(s1 == s2)) / float(s1.size)


def signature_similarity_batch(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Row-wise similarity of two (n, s) signature matrices → float64[n]."""
    if a.size == 0:
        return np.empty(0, dtype=np.float64)
    return (a == b).mean(axis=1)


def overlap_coefficient(a: np.ndarray, b: np.ndarray) -> float:
    """|A ∩ B| / min(|A|, |B|) over *sorted* arrays (engine.cr:378-421,
    similarity.cr:53-69). 0.0 if either empty."""
    if a.size == 0 or b.size == 0:
        return 0.0
    inter = np.intersect1d(a, b, assume_unique=False).size
    # reference counts multiset matches two-pointer style; on distinct-sorted
    # inputs (its documented contract) intersect1d is identical — see
    # overlap_coefficient_multiset for exact parity on non-distinct input
    return float(inter) / float(min(a.size, b.size))


def overlap_coefficient_multiset(a: np.ndarray, b: np.ndarray) -> float:
    """Exact twin of the reference's two-pointer ``fast_overlap``
    (similarity.cr:53-69) on NON-distinct input: a value appearing c1 times
    in one array and c2 in the other contributes min(c1, c2) matches;
    denominator = min(len(a), len(b)).  Identical to overlap_coefficient on
    the documented sorted-distinct contract."""
    a = np.asarray(a)
    b = np.asarray(b)
    if a.size == 0 or b.size == 0:
        return 0.0
    va, ca = np.unique(a, return_counts=True)
    vb, cb = np.unique(b, return_counts=True)
    _, ia, ib = np.intersect1d(va, vb, assume_unique=True, return_indices=True)
    matches = int(np.minimum(ca[ia], cb[ib]).sum())
    return float(matches) / float(min(a.size, b.size))


def weighted_overlap(a: dict[str, float], b: dict[str, float]) -> float:
    """Σ min(w_a, w_b) over shared keys / min(Σ w_a, Σ w_b)
    (similarity.cr:26-39). 0.0 if either empty."""
    if not a or not b:
        return 0.0
    inter = 0.0
    for k, w in a.items():
        bw = b.get(k)
        if bw is not None:
            inter += min(w, bw)
    return inter / min(sum(a.values()), sum(b.values()))


def detection_probability(similarity: float, num_bands: int, rows_per_band: int) -> float:
    """1 - (1 - s^r)^b (engine.cr:460-464)."""
    return 1.0 - (1.0 - similarity**rows_per_band) ** num_bands


def shared_bands(bands1: np.ndarray, bands2: np.ndarray) -> int:
    """Positional count of equal band hashes (spec'd, unimplemented in ref:
    openspec/specs/band-matching/spec.md:6-23)."""
    n = min(bands1.size, bands2.size)
    return int(np.count_nonzero(bands1[:n] == bands2[:n]))


# ---------------------------------------------------------------------------
# serialization (engine/serialize.cr:5-41)
# ---------------------------------------------------------------------------

def signature_to_bytes(signature: np.ndarray) -> bytes:
    """Explicit little-endian uint32 blob (engine/serialize.cr:5-14).

    This is the repo's ONE canonical wire format.  The reference also has a
    native-endian ``Signature#to_blob`` (engine.cr:48-51); see
    signature_to_bytes_native."""
    return np.ascontiguousarray(signature, dtype="<u4").tobytes()


def signature_to_bytes_native(signature: np.ndarray) -> bytes:
    """Native-endian twin of the reference's ``Signature#to_blob``
    (engine.cr:48-51).  On every little-endian host (x86-64, aarch64 in LE
    mode — all Spark deployment targets) the bytes are identical to
    signature_to_bytes; it exists so ported call sites keep their
    semantics documented.  Round-trips through bytes_to_signature only on
    little-endian hosts (the canonical format is explicitly LE)."""
    return np.ascontiguousarray(signature, dtype=np.uint32).tobytes()


def bytes_to_signature(blob: bytes) -> np.ndarray:
    """Inverse of signature_to_bytes; raises on size % 4 != 0
    (Signature.from_blob validation, engine.cr:55-67)."""
    if len(blob) == 0:
        return np.empty(0, dtype=np.uint32)
    if len(blob) % 4 != 0:
        raise ValueError("Invalid blob size: must be a multiple of 4 bytes")
    return np.frombuffer(blob, dtype="<u4").astype(np.uint32)


# ---------------------------------------------------------------------------
# SimHash extension (north star; Charikar 2002 / Manku et al. WWW'07)
# ---------------------------------------------------------------------------

# Shingle hashes from k=5 ASCII text only occupy the low ~31 bits of the
# u64 (poly sum < 2^31), which would leave simhash bits 31..63 constant —
# two of the four Hamming blocks identical across ALL documents, turning
# the block candidate join into an all-pairs join.  The hashes are
# therefore mixed to full 64-bit entropy with two fixed multiply-shift
# draws (the same uint64 multiply-shift as MinHash):
#   mixed = (msh(a1,b1,h) << 32) | msh(a2,b2,h)
SIMHASH_MIX_SEED = 0x53494D48  # 'SIMH'


def _simhash_mix(h64: np.ndarray) -> np.ndarray:
    from lexis_minhash_spark.config import seeded_coefficients

    a, b = seeded_coefficients(SIMHASH_MIX_SEED, 2)
    h = np.ascontiguousarray(h64, dtype=np.uint64)
    n = int(h.shape[0])
    out = np.empty(n, dtype=np.uint64)
    # block with one reused scratch — an unblocked call allocates ~16 B of
    # fresh scratch per shingle on every Arrow batch
    rows = max(1, min(BLOCK_ELEMS // 2, n))
    scratch = _get_u64_scratch(rows, 2)
    for lo in range(0, n, rows):
        hi = min(lo + rows, n)
        mu = _mulshift_high32_u64(h[lo:hi], a, b, scratch)
        out[lo:hi] = (mu[:, 0] << _U64_SHIFT32) | mu[:, 1]
    return out


def simhash_from_hashes(
    h64: np.ndarray, weights: np.ndarray | None = None
) -> int:
    """64-bit Charikar simhash of a shingle-hash stream.

    bit_j(fp) = 1 iff Σ_shingles (±w) > 0, where the sign is bit j of the
    MIXED shingle hash (see _simhash_mix).  Empty stream → 0.
    """
    if h64.size == 0:
        return 0
    mixed = _simhash_mix(h64)
    bits = ((mixed[:, None] >> np.arange(64, dtype=np.uint64)[None, :]) & np.uint64(1)).astype(np.int64)
    signs = 2 * bits - 1
    if weights is not None:
        acc = (signs * weights[:, None]).sum(axis=0)
    else:
        acc = signs.sum(axis=0)
    with np.errstate(over="ignore"):
        bitvals = (acc > 0).astype(np.uint64) << np.arange(64, dtype=np.uint64)
    return int(bitvals.sum(dtype=np.uint64))


def simhash_batch(
    hashes_concat: np.ndarray, counts: np.ndarray
) -> np.ndarray:
    """Batched simhash → uint64[n_docs].

    Per-bit-plane loop with reused buffers: acc_j > 0 ⟺ 2·Σ bit_j > count,
    so each of the 64 planes is one shift/and pass + one add.reduceat over
    the shingle stream.  (The former (shingles × 64) int32 sign matrix
    allocated ~250 B/shingle fresh per Arrow batch — a page-fault hotspot on
    this host class, see BENCH.md; shifts/ands on uint64 are SIMD-cheap.)"""
    n_docs = int(counts.shape[0])
    out = np.zeros(n_docs, dtype=np.uint64)
    if hashes_concat.size == 0:
        return out
    mixed = _simhash_mix(hashes_concat)
    nonempty = counts > 0
    starts_all = np.concatenate(([0], np.cumsum(counts)[:-1]))
    ne_idx = np.nonzero(nonempty)[0]
    idx = starts_all[ne_idx].astype(np.intp)
    ne_counts = counts[ne_idx].astype(np.uint64)
    fps = np.zeros(ne_idx.shape[0], dtype=np.uint64)
    bits = np.empty(mixed.shape[0], dtype=np.uint64)
    for j in range(64):
        np.right_shift(mixed, np.uint64(j), out=bits)
        np.bitwise_and(bits, np.uint64(1), out=bits)
        sums = np.add.reduceat(bits, idx)
        fps |= (2 * sums > ne_counts).astype(np.uint64) << np.uint64(j)
    out[ne_idx] = fps
    return out


def hamming_distance_u64(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Element-wise popcount(a XOR b) for uint64 arrays."""
    x = np.ascontiguousarray(a.astype(np.uint64) ^ b.astype(np.uint64))
    # popcount via unpackbits on the byte view (vectorized, no Python loop)
    bytes_view = x.view(np.uint8).reshape(*x.shape, 8)
    return np.unpackbits(bytes_view, axis=-1).sum(axis=-1).astype(np.int64)


def simhash_block_keys(fp: np.ndarray, num_blocks: int = 4) -> np.ndarray:
    """Split each 64-bit fingerprint into ``num_blocks`` equal bit-blocks →
    int64[n, num_blocks] block keys (Manku/Jain/Sarma WWW'07 candidate
    generation: dups within Hamming distance num_blocks-1 share ≥1 block)."""
    width = 64 // num_blocks
    mask = np.uint64((1 << width) - 1)
    shifts = (np.arange(num_blocks, dtype=np.uint64) * np.uint64(width))
    return ((fp[:, None] >> shifts[None, :]) & mask).astype(np.int64)


def rolling_fingerprint(text: str, k: int = 64) -> int:
    """Document fingerprint: min rolling-hash over k-byte windows (cheap
    content-defined fingerprint for the text-analysis extras). Whole-text
    poly hash when shorter than k."""
    b = text.encode("utf-8")
    data = np.frombuffer(b, dtype=np.uint8)
    if data.size == 0:
        return 0
    if data.size < k:
        h = shingle_hashes_bytes(data, data.size)
        return int(h[0])
    return int(shingle_hashes_bytes(data, k).min())


def log_detection_threshold(num_bands: int, rows_per_band: int) -> float:
    """Approximate LSH similarity threshold (1/b)^(1/r) (README.md:318-320)."""
    return math.pow(1.0 / num_bands, 1.0 / rows_per_band)
