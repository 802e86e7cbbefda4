"""Slow scalar reference oracle — deliberately UN-vectorized.

An independent, per-shingle Python-int re-statement of the reference
formulas (kritoke/lexis-minhash), used ONLY by tests to golden-check the
NumPy kernels and by the recall harness to produce reference cluster
assignments at the same config.  Keep this file boring and literal: every
function mirrors the cited Crystal lines with explicit ``% 2**64`` masks.
"""

from __future__ import annotations

import math
import re

MASK64 = (1 << 64) - 1
U32_MAX = (1 << 32) - 1
_WS = re.compile(r"\s+")


def _weight_divisor(w: float) -> float:
    """engine.cr:179 — log(1 + w) below 1, else w.  A positive w so small
    that log(1.0 + w) == 0 would divide by zero: reject it by name."""
    val = math.log(1.0 + w) if w < 1.0 else w
    if val == 0.0:
        raise ValueError(f"shingle weight {w!r} is too small: log(1.0 + w) rounds to 0")
    return val


def oracle_coefficients(seed: int, signature_size: int) -> tuple[list[int], list[int]]:
    """engine/config.cr:45-67."""
    seed_u64 = seed & MASK64
    base = (seed_u64 * 6364136223846793005) & MASK64
    a = []
    b = []
    for i in range(signature_size):
        ai = ((((base + i) & MASK64) + 1442695040888963407) & MASK64) | 1
        bi = (((base + ((i * 0x9E3779B97F4A7C15) & MASK64)) & MASK64) + 1442695040888963407) & MASK64
        a.append(ai)
        b.append(bi)
    return a, b


def oracle_shingle_hashes(text: str, k: int) -> list[int]:
    """engine/rolling.cr:44-62 over the text's UTF-8 bytes."""
    return oracle_rolling_hashes(text.encode("utf-8"), k)


def oracle_rolling_hashes(data: bytes, k: int) -> list[int]:
    """engine/rolling.cr:44-62 — incremental rolling form, byte-at-a-time."""
    p = 31
    power = 1
    for _ in range(k - 1):
        power = (power * p) & MASK64
    current = 0
    buf: list[int] = []
    out: list[int] = []
    for byte in data:
        if len(buf) == k:
            out_byte = buf.pop(0)
            current = (current - out_byte * power) & MASK64
        buf.append(byte)
        current = (current * p + byte) & MASK64
        if len(buf) >= k:
            out.append(current)
    return out


def oracle_shingle_strings(text: str, k: int) -> list[tuple[int, str]]:
    """engine/rolling.cr:68-87 — (hash, shingle byte-string) pairs."""
    hashes = oracle_shingle_hashes(text, k)
    data = text.encode("utf-8")
    return [
        (h, data[i : i + k].decode("utf-8", errors="surrogateescape"))
        for i, h in enumerate(hashes)
    ]


def oracle_signature(
    text: str,
    a: list[int],
    b: list[int],
    shingle_size: int = 5,
    min_words: int = 4,
    weights: dict[str, float] | None = None,
    default_weight: float = 1.0,
) -> list[int]:
    """engine/signature.cr:7-30 (unweighted) / engine.cr:203-228 (weighted)."""
    num_hashes = len(a)
    normalized = text.lower().strip()
    if not normalized:
        return [0] * num_hashes
    if len(_WS.split(normalized)) < min_words:
        return [0] * num_hashes
    if len(normalized) < shingle_size:
        return [0] * num_hashes

    sig = [U32_MAX] * num_hashes
    if weights is None:
        for h64 in oracle_shingle_hashes(normalized, shingle_size):
            for i in range(num_hashes):
                combined = ((a[i] * h64 + b[i]) & MASK64) >> 32
                if combined < sig[i]:
                    sig[i] = combined
    else:
        for h64, shingle_str in oracle_shingle_strings(normalized, shingle_size):
            w = weights.get(shingle_str, default_weight)
            eff = max(w, 0.0)
            if eff <= 0.0:
                continue
            val = _weight_divisor(eff)
            for i in range(num_hashes):
                combined = ((a[i] * h64 + b[i]) & MASK64) >> 32
                weighted = math.fmod(float(combined) / val, float(U32_MAX))
                wh = int(weighted)  # Float64#to_u32 truncates toward zero
                if wh < sig[i]:
                    sig[i] = wh
    return sig


def oracle_signature_from_hashes(
    hashes: list[int],
    a: list[int],
    b: list[int],
    weights: list[float] | None = None,
) -> list[int]:
    """engine/signature.cr:33-71 — caller-supplied hash stream, no gates."""
    num_hashes = len(a)
    sig = [U32_MAX] * num_hashes
    if weights is None:
        for h64 in hashes:
            for i in range(num_hashes):
                combined = ((a[i] * h64 + b[i]) & MASK64) >> 32
                if combined < sig[i]:
                    sig[i] = combined
    else:
        for h64, w in zip(hashes, weights):
            eff = max(w, 0.0)
            if eff <= 0.0:
                continue
            val = _weight_divisor(eff)
            for i in range(num_hashes):
                combined = ((a[i] * h64 + b[i]) & MASK64) >> 32
                weighted = math.fmod(float(combined) / val, float(U32_MAX))
                wh = int(weighted)
                if wh < sig[i]:
                    sig[i] = wh
    return sig


def oracle_simhash_mix(h64: int, a: list[int], b: list[int]) -> int:
    """kernels._simhash_mix of one shingle hash: two multiply-shift draws,
    the first in the high 32 bits."""
    hi = ((a[0] * h64 + b[0]) & MASK64) >> 32
    lo = ((a[1] * h64 + b[1]) & MASK64) >> 32
    return (hi << 32) | lo


def oracle_bands(signature: list[int], num_bands: int, rows_per_band: int) -> list[tuple[int, int]]:
    """engine.cr:443-456 — (band_idx, band_hash) with the << 7 ^ fold."""
    out = []
    for band_idx in range(num_bands):
        combined = 0
        for v in signature[band_idx * rows_per_band : band_idx * rows_per_band + rows_per_band]:
            combined = ((combined << 7) ^ v) & MASK64
        out.append((band_idx, combined))
    return out


def oracle_similarity(s1: list[int], s2: list[int]) -> float:
    """engine.cr:365-375."""
    if not s1 or not s2 or len(s1) != len(s2):
        return 0.0
    return sum(1 for x, y in zip(s1, s2) if x == y) / len(s1)


def oracle_find_similar_pairs(
    signatures: dict[int, list[int]],
    num_bands: int,
    rows_per_band: int,
    threshold: float = 0.75,
) -> set[tuple[int, int]]:
    """index.cr:195-217 — LSH candidate generation + similarity verify.

    Re-stated relationally: two docs are candidates iff they share at least
    one (band_idx, band_hash); pairs with similarity >= threshold survive.
    """
    buckets: dict[tuple[int, int], list[int]] = {}
    for doc_id, sig in signatures.items():
        for band_idx, band_hash in oracle_bands(sig, num_bands, rows_per_band):
            buckets.setdefault((band_idx, band_hash), []).append(doc_id)
    pairs: set[tuple[int, int]] = set()
    for ids in buckets.values():
        ids_sorted = sorted(ids)
        for i in range(len(ids_sorted)):
            for j in range(i + 1, len(ids_sorted)):
                pairs.add((ids_sorted[i], ids_sorted[j]))
    verified = set()
    for x, y in pairs:
        if oracle_similarity(signatures[x], signatures[y]) >= threshold:
            verified.add((x, y))
    return verified


def oracle_connected_components(pairs: set[tuple[int, int]]) -> dict[int, int]:
    """Union-find min-label components over the verified edge list."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for x, y in pairs:
        rx, ry = find(x), find(y)
        if rx != ry:
            lo, hi = (rx, ry) if rx < ry else (ry, rx)
            parent[hi] = lo
    return {x: find(x) for x in parent}
