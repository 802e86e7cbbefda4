"""Kernel parity: vectorized NumPy kernels ≡ independent scalar oracle,
plus ports of the reference's behavioral spec assertions
(/root/reference/spec/*.cr — cited per test)."""

import math
import os
import stat

import numpy as np
import pytest
from hypothesis import given, settings, strategies as st

from lexis_minhash_spark.config import DEFAULT_CONFIG, EngineConfig, seeded_coefficients
from lexis_minhash_spark import kernels as K
from lexis_minhash_spark import oracle as O

CFG = EngineConfig(seed=12345)
A, B = CFG.coefficients
AO, BO = O.oracle_coefficients(12345, 100)

# small config mirroring spec/lexis_minhash_more_spec.cr:6
SMALL = EngineConfig(signature_size=20, num_bands=4, shingle_size=3, min_words=1, seed=12345)

FIXTURE_TEXTS = [
    "Hello World Test Document",          # spec/lexis_minhash_spec.cr:8
    "Test Document",                      # spec/lexis_minhash_spec.cr:14
    "The quick brown fox jumps over the lazy dog",
    "The quick brown fox jumps over the lazy cat",
    "Completely different topic about cooking",
    "apple banana orange fruit salad recipe with apple and banana",
    "completely unrelated cooking about pasta and sauce",
    "Short",
    "Hello world",
    "Bitcoin price surge continues",
    "",
    "   ",
    "Deterministic seed test document",
]


def compute_sig_kernel(text: str, cfg: EngineConfig) -> list[int]:
    a, b = cfg.coefficients
    norm = K.normalize_text(text)
    if not K.passes_gates(norm, cfg.min_words, cfg.shingle_size):
        return K.zero_signature(cfg.signature_size).tolist()
    h = K.shingle_hashes_text(norm, cfg.shingle_size)
    return K.minhash_from_hashes(h, a, b).tolist()


class TestCoefficients:
    def test_seeded_parity(self):
        assert A.tolist() == AO
        assert B.tolist() == BO

    def test_a_is_odd(self):
        # engine/config.cr:52 forces | 1
        assert all(x % 2 == 1 for x in A.tolist())

    def test_same_seed_same_coeffs_different_seed_differs(self):
        # spec/engine_config_spec.cr:5-29
        a1, b1 = seeded_coefficients(12345, 100)
        a2, b2 = seeded_coefficients(12345, 100)
        a3, b3 = seeded_coefficients(54321, 100)
        assert a1.tolist() == a2.tolist() and b1.tolist() == b2.tolist()
        assert a1.tolist() != a3.tolist() and b1.tolist() != b3.tolist()

    def test_config_validation(self):
        # engine/config.cr:86-91
        with pytest.raises(ValueError):
            EngineConfig(signature_size=100, num_bands=7)


class TestShingles:
    @pytest.mark.parametrize("text,k", [("hello world", 5), ("the quick brown fox", 5), ("abcd", 3)])
    def test_parity_with_oracle(self, text, k):
        # spec/engine_config_spec.cr:31-86 (shingles_hashes ≡ roller)
        assert K.shingle_hashes_text(text, k).tolist() == O.oracle_shingle_hashes(text, k)

    def test_count(self):
        # n_bytes - k + 1 windows
        assert K.shingle_hashes_text("hello", 5).size == 1
        assert K.shingle_hashes_text("hell", 5).size == 0
        assert K.shingle_hashes_text("hello world", 5).size == 7

    def test_batch_matches_single(self):
        texts = ["hello world", "the quick brown fox", "", "abc"]
        hc, counts = K.batch_shingle_hashes(texts, 5)
        assert counts.tolist() == [7, 15, 0, 0]
        parts = np.concatenate([K.shingle_hashes_text(t, 5) for t in texts if len(t.encode()) >= 5])
        assert hc.tolist() == parts.tolist()

    def test_shingle_hash_for_matches_window_hash(self):
        # engine.cr:264-273: whole-string polynomial hash
        s = "hello"
        assert K.shingle_hash_for(s) == O.oracle_shingle_hashes(s, 5)[0]

    @given(st.text(alphabet=st.characters(min_codepoint=32, max_codepoint=126), max_size=200),
           st.integers(min_value=2, max_value=8))
    @settings(max_examples=50, deadline=None)
    def test_property_parity(self, text, k):
        assert K.shingle_hashes_text(text, k).tolist() == O.oracle_shingle_hashes(text, k)


class TestSignatures:
    @pytest.mark.parametrize("text", FIXTURE_TEXTS)
    def test_parity_with_oracle(self, text):
        assert compute_sig_kernel(text, CFG) == O.oracle_signature(text, AO, BO, 5, 4)

    def test_signature_size(self):
        # spec/lexis_minhash_spec.cr:5-11
        assert len(compute_sig_kernel("Hello World Test Document", CFG)) == 100

    def test_consistency(self):
        # spec/lexis_minhash_spec.cr:13-18
        t = "Test Document Content Here"
        assert compute_sig_kernel(t, CFG) == compute_sig_kernel(t, CFG)

    def test_different_texts_differ(self):
        # spec/lexis_minhash_spec.cr:20-24
        s1 = compute_sig_kernel("The quick brown fox jumps over the lazy dog", CFG)
        s2 = compute_sig_kernel("Completely different topic about cooking recipes", CFG)
        assert s1 != s2

    def test_zero_signature_gates(self):
        # README.md:216-218 + engine/signature.cr:13-16
        for t in ["Short", "Hello world", "", "   ", "a b c"]:
            assert compute_sig_kernel(t, CFG) == [0] * 100
        assert compute_sig_kernel("Bitcoin price surge continues", CFG) != [0] * 100

    def test_min_length_gate_codepoints(self):
        # gate counts codepoints (K3): 4 words, 4 codepoints after strip? not
        # constructible with min_words=4 & k=5 ASCII; use small config k=3
        cfg = EngineConfig(signature_size=20, num_bands=4, shingle_size=3, min_words=1, seed=12345)
        assert compute_sig_kernel("ab", cfg) == [0] * 20  # len 2 < 3
        assert compute_sig_kernel("abc", cfg) != [0] * 20

    def test_seeded_determinism_across_seeds(self):
        # spec/lexis_minhash_more_spec.cr:4-22
        t = "Deterministic seed test document"
        cfg2 = EngineConfig(seed=54321)
        s1 = compute_sig_kernel(t, CFG)
        s2 = compute_sig_kernel(t, cfg2)
        assert s1 == O.oracle_signature(t, *O.oracle_coefficients(12345, 100), 5, 4)
        assert s2 == O.oracle_signature(t, *O.oracle_coefficients(54321, 100), 5, 4)
        assert s1 != s2

    def test_batch_equals_scalar(self):
        texts = [t for t in FIXTURE_TEXTS]
        norm = [K.normalize_text(t) for t in texts]
        gated = [n if K.passes_gates(n, 4, 5) else "" for n in norm]
        hc, counts = K.batch_shingle_hashes(gated, 5)
        sigs = K.minhash_batch(hc, counts, A, B)
        for i, t in enumerate(texts):
            expected = O.oracle_signature(t, AO, BO, 5, 4)
            got = sigs[i].tolist() if K.passes_gates(norm[i], 4, 5) else [0] * 100
            assert got == expected, t

    def test_from_hashes_no_gates(self):
        # engine/signature.cr:33-47: caller-supplied hashes, MAX init on empty
        hs = [123456789, 987654321]
        got = K.minhash_from_hashes(np.array(hs, dtype=np.uint64), A, B).tolist()
        assert got == O.oracle_signature_from_hashes(hs, AO, BO)
        empty = K.minhash_from_hashes(np.empty(0, dtype=np.uint64), A, B)
        assert empty.tolist() == [0xFFFFFFFF] * 100

    @given(st.lists(st.integers(min_value=0, max_value=2**64 - 1), max_size=30))
    @settings(max_examples=30, deadline=None)
    def test_property_from_hashes(self, hs):
        got = K.minhash_from_hashes(np.array(hs, dtype=np.uint64), A[:20], B[:20]).tolist()
        exp = O.oracle_signature_from_hashes(hs, AO[:20], BO[:20])
        assert got == exp


class TestWeighted:
    W = {"hello": 2.0, "ello ": 0.5, "llo w": -1.0, "o wor": 0.0}

    def _kernel_weighted(self, text, weights, cfg=CFG):
        a, b = cfg.coefficients
        norm = K.normalize_text(text)
        if not K.passes_gates(norm, cfg.min_words, cfg.shingle_size):
            return K.zero_signature(cfg.signature_size).tolist()
        data = norm.encode("utf-8")
        h = K.shingle_hashes_text(norm, cfg.shingle_size)
        w = np.array(
            [
                weights.get(
                    data[i : i + cfg.shingle_size].decode("utf-8", "surrogateescape"),
                    cfg.default_weight,
                )
                for i in range(len(h))
            ]
        )
        return K.minhash_batch(h, np.array([len(h)]), a, b, weights_concat=w)[0].tolist()

    def test_weighted_parity(self):
        t = "hello world test document"
        assert self._kernel_weighted(t, self.W) == O.oracle_signature(
            t, AO, BO, 5, 4, weights=self.W
        )

    def test_unknown_shingles_default_weight(self):
        # spec/lexis_minhash_spec.cr:309-330: all-unknown weights == unweighted
        # only when default_weight=1.0 ⇒ value=h/1.0 then fmod; fmod changes
        # UInt32::MAX values only — assert vs oracle instead of unweighted
        t = "totally novel content words here"
        got = self._kernel_weighted(t, {"zzzzz": 9.9})
        assert got == O.oracle_signature(t, AO, BO, 5, 4, weights={"zzzzz": 9.9})

    def test_negative_weight_excluded(self):
        # engine.cr:175-177 via spec/lexis_minhash_more_spec.cr:29-44
        t = "hello world test document"
        all_neg = {**{k: -5.0 for k in ["hello", "ello ", "llo w"]}}
        got = self._kernel_weighted(t, all_neg)
        assert got == O.oracle_signature(t, AO, BO, 5, 4, weights=all_neg)

    def test_prehash_weights_path(self):
        # engine.cr:282-299: hashed-weight lookup == string-weight lookup
        t = "hello world test document"
        hashed = {K.shingle_hash_for(k): v for k, v in self.W.items()}
        norm = K.normalize_text(t)
        h = K.shingle_hashes_text(norm, 5)
        keys = np.array(sorted(hashed), dtype=np.uint64)
        vals = np.array([hashed[int(x)] for x in keys])
        pos = np.clip(np.searchsorted(keys, h), 0, keys.size - 1)
        w = np.where(keys[pos] == h, vals[pos], 1.0)
        got = K.minhash_batch(h, np.array([len(h)]), A, B, weights_concat=w)[0].tolist()
        assert got == O.oracle_signature(t, AO, BO, 5, 4, weights=self.W)

    def test_tiny_positive_weight_rejected(self):
        # log(1.0 + 1e-17) == 0: the weighted update would divide by zero,
        # so the kernel and the oracle both refuse the weight by name
        hs = [123456789, 987654321]
        w = [2.0, 1e-17]
        with pytest.raises(ValueError, match="1e-17"):
            K.minhash_batch(np.array(hs, dtype=np.uint64), np.array([2]), A, B,
                            weights_concat=np.array(w))
        with pytest.raises(ValueError, match="1e-17"):
            O.oracle_signature_from_hashes(hs, AO, BO, w)
        t = "hello world test document"
        with pytest.raises(ValueError, match="1e-17"):
            self._kernel_weighted(t, {"hello": 1e-17})
        with pytest.raises(ValueError, match="1e-17"):
            O.oracle_signature(t, AO, BO, 5, 4, weights={"hello": 1e-17})


class TestBandsAndSimilarity:
    def test_band_parity(self):
        sig = O.oracle_signature("The quick brown fox jumps over the lazy dog", AO, BO, 5, 4)
        ob = O.oracle_bands(sig, 20, 5)
        kb = K.band_hashes_batch(np.array([sig], dtype=np.uint32), 20, 5)[0]
        assert [int(x) for x in kb] == [h for _, h in ob]

    def test_band_count_and_override_quirk(self):
        # spec/lexis_minhash_spec.cr:83-99 + more_spec.cr:72 quirk
        sig = np.arange(100, dtype=np.uint32)
        assert K.band_hashes_batch(sig[None, :], 20, 5).shape == (1, 20)
        b10 = K.band_hashes_batch(sig[None, :], 10, 5)[0]
        b20 = K.band_hashes_batch(sig[None, :], 20, 5)[0]
        assert b10.tolist() == b20[:10].tolist()

    def test_similarity_identity_and_ordering(self):
        # spec/lexis_minhash_spec.cr:26-42 (relative assertions)
        s_dog = np.array(compute_sig_kernel("The quick brown fox jumps over the lazy dog", CFG), dtype=np.uint32)
        s_cat = np.array(compute_sig_kernel("The quick brown fox jumps over the lazy cat", CFG), dtype=np.uint32)
        s_diff = np.array(compute_sig_kernel("Completely different topic about cooking", CFG), dtype=np.uint32)
        assert K.signature_similarity(s_dog, s_dog) == 1.0
        assert K.signature_similarity(s_dog, s_cat) > K.signature_similarity(s_dog, s_diff)

    def test_similarity_edge_cases(self):
        # engine.cr:366-367: empty or mismatched size → 0.0
        assert K.signature_similarity(np.empty(0, np.uint32), np.empty(0, np.uint32)) == 0.0
        assert K.signature_similarity(np.array([1], np.uint32), np.array([1, 2], np.uint32)) == 0.0

    def test_overlap_coefficient(self):
        # spec/lexis_minhash_spec.cr:44-81 exact values
        a = np.array([0, 2, 4], dtype=np.uint64)
        b = np.array([2, 4, 6], dtype=np.uint64)
        assert K.overlap_coefficient(a, b) == pytest.approx(2 / 3)
        assert K.overlap_coefficient(a, a) == 1.0
        assert K.overlap_coefficient(np.empty(0, np.uint64), a) == 0.0

    def test_weighted_overlap(self):
        # similarity.cr:26-39 docstring example
        da = {"machine": 0.8, "learning": 0.9, "data": 0.5}
        db = {"machine": 0.8, "learning": 0.6, "model": 0.7}
        got = K.weighted_overlap(da, db)
        exp = (0.8 + 0.6) / min(2.2, 2.1)
        assert got == pytest.approx(exp)
        assert K.weighted_overlap({}, da) == 0.0

    def test_detection_probability(self):
        # README.md:314-322: b=20, r=5, s=0.75 → 99.56%
        p = K.detection_probability(0.75, 20, 5)
        assert abs(p - 0.9956) < 0.0005
        # monotonicity (spec/lexis_minhash_spec.cr:150-165)
        probs = [K.detection_probability(s, 20, 5) for s in (0.1, 0.3, 0.5, 0.7, 0.9)]
        assert probs == sorted(probs)

    def test_shared_bands(self):
        # openspec/specs/band-matching/spec.md:6-23, all four scenarios:
        # identical → NUM_BANDS
        sig = np.arange(100, dtype=np.uint32)
        b1 = K.band_hashes_batch(sig[None, :], 20, 5)[0]
        assert K.shared_bands(b1, b1) == 20
        # partial overlap → integer in [0, NUM_BANDS]
        sig2 = sig.copy()
        sig2[0] = 999
        b2 = K.band_hashes_batch(sig2[None, :], 20, 5)[0]
        assert K.shared_bands(b1, b2) == 19
        # disjoint signatures → 0
        b3 = K.band_hashes_batch((sig + 1000)[None, :], 20, 5)[0]
        assert K.shared_bands(b1, b3) == 0
        # either signature empty → 0
        empty = np.empty(0, dtype=np.uint64)
        assert K.shared_bands(empty, b1) == 0
        assert K.shared_bands(b1, empty) == 0
        assert K.shared_bands(empty, empty) == 0


class TestSerialize:
    def test_roundtrip(self):
        # spec/lexis_minhash_spec.cr:101-118
        sig = np.array([0, 1, 0xFFFFFFFF, 123456], dtype=np.uint32)
        blob = K.signature_to_bytes(sig)
        assert len(blob) == 16
        assert K.bytes_to_signature(blob).tolist() == sig.tolist()

    def test_little_endian_layout(self):
        # engine/serialize.cr:5-14 explicit LE byte order
        blob = K.signature_to_bytes(np.array([1], dtype=np.uint32))
        assert blob == b"\x01\x00\x00\x00"

    def test_malformed(self):
        with pytest.raises(ValueError):
            K.bytes_to_signature(b"123")
        assert K.bytes_to_signature(b"").size == 0


class TestSimhash:
    def test_deterministic_and_locality(self):
        h1 = K.shingle_hashes_text("the quick brown fox jumps over the lazy dog", 5)
        h2 = K.shingle_hashes_text("the quick brown fox jumps over the lazy cat", 5)
        h3 = K.shingle_hashes_text("completely unrelated cooking pasta text", 5)
        f1 = K.simhash_from_hashes(h1)
        f2 = K.simhash_from_hashes(h2)
        f3 = K.simhash_from_hashes(h3)
        assert f1 == K.simhash_from_hashes(h1)
        d12 = K.hamming_distance_u64(np.array([f1], np.uint64), np.array([f2], np.uint64))[0]
        d13 = K.hamming_distance_u64(np.array([f1], np.uint64), np.array([f3], np.uint64))[0]
        assert d12 < d13

    def test_batch_matches_single(self):
        texts = ["the quick brown fox", "hello world test doc", ""]
        hc, counts = K.batch_shingle_hashes(texts, 5)
        fps = K.simhash_batch(hc, counts)
        offset = 0
        for i, t in enumerate(texts):
            h = K.shingle_hashes_text(t, 5)
            assert int(fps[i]) == K.simhash_from_hashes(h)
            offset += counts[i]

    def test_block_keys_pigeonhole(self):
        fp = np.array([0x0123456789ABCDEF], dtype=np.uint64)
        blocks = K.simhash_block_keys(fp, 4)[0]
        assert blocks.tolist() == [0xCDEF, 0x89AB, 0x4567, 0x0123]


def _native():
    """The C kernels, or a clean skip on a host without a C compiler."""
    from lexis_minhash_spark import kernels_native as KN

    if KN.load() is None:
        pytest.skip("no native kernel on this host")
    return KN


def _oracle_sigs(h, counts, a, b, w=None):
    out, pos = [], 0
    for c in counts.tolist():
        ws = None if w is None else w[pos : pos + c].tolist()
        out.append(O.oracle_signature_from_hashes(
            h[pos : pos + c].tolist(), a.tolist(), b.tolist(), ws))
        pos += c
    return np.array(out, dtype=np.uint32).reshape(len(counts), len(a))


class TestMulshiftBackends:
    """The two hash-kernel families — fused C (kernels_native) and uint64
    NumPy — must be bit-identical to each other and to the scalar oracle
    on every input: C unsigned wraparound IS mod 2^64, so this is a hard
    equality.  Each implementation is called directly."""

    def test_backends_bit_identical(self):
        rng = np.random.default_rng(7)
        counts = rng.integers(0, 90, 64)
        n = int(counts.sum())
        h = rng.integers(0, 2**64, n, dtype=np.uint64)
        a, b = seeded_coefficients(12345, 100)
        ref = _oracle_sigs(h, counts, a, b)
        assert np.array_equal(K._minhash_batch_u64(h, counts, a, b), ref)
        assert np.array_equal(K.minhash_batch(h, counts, a, b), ref)

    def test_native_fused_bit_identical(self):
        # random inputs, including an empty doc (UInt32::MAX init row)
        KN = _native()
        rng = np.random.default_rng(11)
        counts = rng.integers(0, 90, 64)
        counts[5] = 0
        n = int(counts.sum())
        h = rng.integers(0, 2**64, n, dtype=np.uint64)
        a, b = seeded_coefficients(12345, 100)
        ref = K._minhash_batch_u64(h, counts, a, b)
        starts = np.concatenate(([0], np.cumsum(counts)[:-1])).astype(np.int64)
        direct = KN.minhash_fused(h, starts, counts.astype(np.int64), a, b)
        assert np.array_equal(ref, direct)
        assert np.array_equal(ref, _oracle_sigs(h, counts, a, b))

    def test_native_rolling_bit_identical(self):
        # incremental C rolling hash == uint64 Horner-over-concat + boundary
        # mask == oracle, including docs shorter than / equal to k
        KN = _native()
        texts = [
            "the quick brown fox jumps over the lazy dog",
            "", "ab", "abcd", "abcde", "abcdef", "x" * 5,
            "pack my box with five dozen liquor jugs",
        ]
        chunks = [t.encode("utf-8") for t in texts]
        data = np.frombuffer(b"".join(chunks), dtype=np.uint8)
        lens = np.array([len(c) for c in chunks], dtype=np.int64)
        for k in (2, 5, 9):
            h1, c1 = K._shingle_hashes_concat_u64(data, lens, k)
            h2, c2 = KN.rolling_hashes_multi(data, np.cumsum(lens) - lens, lens, k)
            assert np.array_equal(h1, h2) and np.array_equal(c1, c2), k
            ref = [x for t in texts for x in O.oracle_shingle_hashes(t, k)]
            assert h1.tolist() == ref, k

    @given(
        st.lists(st.integers(min_value=0, max_value=2**64 - 1), min_size=1, max_size=200),
        st.integers(min_value=1, max_value=64),
    )
    @settings(max_examples=30, deadline=None)
    def test_backends_bit_identical_property(self, hashes, s):
        h = np.array(hashes, dtype=np.uint64)
        counts = np.array([len(hashes)])
        a, b = seeded_coefficients(99, s)
        ref = _oracle_sigs(h, counts, a, b)
        assert np.array_equal(K._minhash_batch_u64(h, counts, a, b), ref)
        assert np.array_equal(K.minhash_batch(h, counts, a, b), ref)

    def test_weighted_matches_oracle(self):
        # the weighted update has one implementation (uint64 NumPy); check
        # it on a multi-doc batch with dropped, fractional and >= 1 weights
        # across several BLOCK_ELEMS blocks
        rng = np.random.default_rng(5)
        counts = rng.integers(0, 60, 40)
        counts[3] = 0
        n = int(counts.sum())
        h = rng.integers(0, 2**64, n, dtype=np.uint64)
        w = rng.choice([-1.0, 0.0, 1e-9, 0.3, 0.99, 1.0, 2.5, 1e6], size=n)
        a, b = seeded_coefficients(12345, 100)
        got = K.minhash_batch(h, counts, a, b, weights_concat=w)
        assert np.array_equal(got, _oracle_sigs(h, counts, a, b, w))

    def test_simhash_mix_matches_oracle(self):
        rng = np.random.default_rng(9)
        n = K.BLOCK_ELEMS // 2 + 17  # spans two blocks
        h = rng.integers(0, 2**64, n, dtype=np.uint64)
        a, b = seeded_coefficients(K.SIMHASH_MIX_SEED, 2)
        got = K._simhash_mix(h)
        idx = rng.choice(n, 200, replace=False).tolist() + [0, n - 1]
        for i in idx:
            assert int(got[i]) == O.oracle_simhash_mix(int(h[i]), a.tolist(), b.tolist())

    def test_audio_rolling_windows(self):
        # audio envelopes: arbitrary bytes, zero-length clips and clips
        # shorter than the window; every family must keep exactly the
        # windows inside one clip
        rng = np.random.default_rng(13)
        k = 24
        lens = np.array([0, 100, 5, 0, 23, 24, 25, 400, 0], dtype=np.int64)
        clips = [rng.integers(0, 256, int(m), dtype=np.uint8) for m in lens]
        data = np.concatenate(clips)
        ref = [x for c in clips for x in O.oracle_rolling_hashes(c.tobytes(), k)]
        h, counts = K._shingle_hashes_concat_u64(data, lens, k)
        assert h.tolist() == ref
        assert counts.tolist() == [max(int(m) - k + 1, 0) for m in lens]
        h, counts2 = K.shingle_hashes_concat(data, lens, k)
        assert h.tolist() == ref and np.array_equal(counts, counts2)
        KN = _native()
        h, counts2 = KN.rolling_hashes_multi(data, np.cumsum(lens) - lens, lens, k)
        assert h.tolist() == ref and np.array_equal(counts, counts2)

    def test_backend_choice_is_deterministic(self):
        from lexis_minhash_spark import kernels_native as KN

        expected = "native" if KN.load() is not None else "u64"
        for s in (1, 2, 64, 100, 256):
            assert K._pick_mulshift_backend(s) == expected
            assert K._MULSHIFT_BACKEND == expected
        for k in (2, 5, 24):
            assert K._pick_rolling_backend(k) == expected
            assert K._ROLLING_BACKEND == expected


class TestNativeCache:
    """The shared library is only dlopened from a cache directory owned by
    the current user and not group- or world-writable; anything else falls
    back to the NumPy kernels with one warning."""

    @pytest.fixture
    def native(self, monkeypatch):
        """kernels_native with load() not yet tried, and the list every
        dlopen path is recorded in."""
        from lexis_minhash_spark import kernels_native as KN

        monkeypatch.delenv("LEXIS_NATIVE_KERNEL", raising=False)
        monkeypatch.setattr(KN, "_LIB", None)
        monkeypatch.setattr(KN, "_LOAD_TRIED", False)
        opened = []
        real_cdll = KN.ctypes.CDLL

        def cdll(path, *args, **kw):
            opened.append(path)
            return real_cdll(path, *args, **kw)

        monkeypatch.setattr(KN.ctypes, "CDLL", cdll)
        return KN, opened

    def test_world_writable_dir_refused(self, native, monkeypatch, tmp_path):
        KN, opened = native
        d = tmp_path / "cache"
        d.mkdir()
        d.chmod(0o777)
        monkeypatch.setattr(KN, "_CACHE_DIR", str(d))
        with pytest.warns(RuntimeWarning, match="writable"):
            assert KN.load() is None
        assert opened == []
        assert list(d.iterdir()) == []  # nothing built there either

    def test_world_writable_library_refused(self, native, monkeypatch, tmp_path):
        KN, opened = native
        d = tmp_path / "cache"
        d.mkdir(mode=0o700)
        monkeypatch.setattr(KN, "_CACHE_DIR", str(d))
        so = KN._library_path()
        with open(so, "wb") as f:
            f.write(b"not a library")
        os.chmod(so, 0o666)
        with pytest.warns(RuntimeWarning, match="writable"):
            assert KN.load() is None
        assert opened == []

    def test_fresh_dir_created_private(self, native, monkeypatch, tmp_path):
        KN, _ = native
        d = tmp_path / "sub" / "cache"
        monkeypatch.setattr(KN, "_CACHE_DIR", str(d))
        KN.load()
        assert stat.S_IMODE(d.stat().st_mode) == 0o700
