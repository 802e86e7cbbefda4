"""Spark pipeline stages vs the scalar oracle, plus index API behavior
(ports of /root/reference/spec/lexis_minhash_spec.cr:168-259 and
more_spec.cr:51-90)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from lexis_minhash_spark.config import EngineConfig
from lexis_minhash_spark import kernels as K
from lexis_minhash_spark import oracle as O
from lexis_minhash_spark import ops
from lexis_minhash_spark.index import LSHIndexDF

CFG = EngineConfig(seed=12345)
AO, BO = O.oracle_coefficients(12345, 100)

DOCS = [
    (1, "Technology company announces revolutionary new smartphone innovation"),
    (2, "Technology company announces revolutionary new smartphone product"),
    (3, "Weather forecast predicts rain tomorrow afternoon in the city"),
    (4, "apple banana orange fruit salad recipe with apple and banana"),
    (5, "apple banana orange fruit salad recipe with apple and banana"),
    (6, "completely unrelated cooking about pasta and sauce"),
    (7, "Short"),
    (8, ""),
    (9, "Document number nine with some shared terms"),
]


@pytest.fixture(scope="module")
def docs_df(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


@pytest.fixture(scope="module")
def sig_df(spark, docs_df):
    return ops.with_signatures(docs_df, CFG).cache()


class TestSignatureStage:
    def test_signatures_match_oracle(self, sig_df):
        rows = {r.doc_id: r for r in sig_df.collect()}
        for doc_id, text in DOCS:
            exp = O.oracle_signature(text, AO, BO, 5, 4)
            got = np.frombuffer(rows[doc_id].sig, dtype="<u4").tolist()
            assert got == exp, doc_id

    def test_bands_match_oracle(self, sig_df):
        rows = {r.doc_id: r for r in sig_df.collect()}
        for doc_id, text in DOCS:
            sig = O.oracle_signature(text, AO, BO, 5, 4)
            exp = [h if h < 2**63 else h - 2**64 for _, h in O.oracle_bands(sig, 20, 5)]
            assert list(rows[doc_id].bands) == exp, doc_id

    def test_zero_flag(self, sig_df):
        rows = {r.doc_id: r.is_zero for r in sig_df.collect()}
        assert rows[7] and rows[8]
        assert not rows[1]

    def test_zero_sigs_quarantined_from_bands(self, sig_df):
        bands = ops.bands_table(sig_df)
        ids = {r.doc_id for r in bands.select("doc_id").distinct().collect()}
        assert 7 not in ids and 8 not in ids
        assert bands.where(F.col("doc_id") == 1).count() == 20


class TestPairsAndClusters:
    def _oracle_pairs(self, threshold=0.75):
        sigs = {d: O.oracle_signature(t, AO, BO, 5, 4) for d, t in DOCS}
        nonzero = {d: s for d, s in sigs.items() if any(s)}
        return O.oracle_find_similar_pairs(nonzero, 20, 5, threshold)

    def test_candidate_and_verified_pairs(self, sig_df):
        bands = ops.bands_table(sig_df)
        cands = ops.candidate_pairs(bands)
        ver = ops.verified_pairs(cands, sig_df, 0.75)
        got = {(r.a, r.b) for r in ver.collect()}
        assert got == self._oracle_pairs()
        assert (4, 5) in got  # exact dups
        sims = {(r.a, r.b): r.similarity for r in ver.collect()}
        assert sims[(4, 5)] == 1.0

    def test_grouped_candidates_equal_join_candidates(self, sig_df):
        bands = ops.bands_table(sig_df)
        j = {(r.a, r.b) for r in ops.candidate_pairs(bands).collect()}
        g = {(r.a, r.b) for r in ops.candidate_pairs_grouped(bands).collect()}
        assert j == g

    @pytest.mark.parametrize("driver_threshold", [5_000_000, None])
    def test_clusters(self, spark, sig_df, driver_threshold):
        # both physical strategies: driver union-find and distributed
        # min-label propagation must agree with the oracle
        bands = ops.bands_table(sig_df)
        ver = ops.verified_pairs(ops.candidate_pairs(bands), sig_df, 0.75)
        cc = ops.connected_components(
            ver.select("a", "b"), driver_threshold=driver_threshold
        )
        cl = ops.clusters_with_singletons(sig_df, cc)
        got = {r.doc_id: r.cluster_id for r in cl.collect()}
        exp_cc = O.oracle_connected_components(self._oracle_pairs())
        for d, _ in DOCS:
            assert got[d] == exp_cc.get(d, d)

    def test_threshold_filters(self, sig_df):
        bands = ops.bands_table(sig_df)
        cands = ops.candidate_pairs(bands)
        hi = {(r.a, r.b) for r in ops.verified_pairs(cands, sig_df, 0.999).collect()}
        lo = {(r.a, r.b) for r in ops.verified_pairs(cands, sig_df, 0.1).collect()}
        assert hi <= lo
        assert (4, 5) in hi

    def test_hot_bucket_cap(self, spark):
        # 60 identical docs → one hot bucket per band; cap quarantines them
        docs = spark.createDataFrame(
            [(i, "identical hot bucket text for skew handling test") for i in range(60)],
            "doc_id long, text string",
        )
        sig = ops.with_signatures(docs, CFG)
        bands = ops.bands_table(sig)
        capped = ops.candidate_pairs(bands, max_bucket_size=50)
        assert capped.count() == 0
        uncapped = ops.candidate_pairs(bands)
        assert uncapped.count() == 60 * 59 // 2

    def test_hot_bucket_cap_grouped_mega_bucket(self, spark):
        # mega-bucket skew test (round-2 verdict item #1): one bucket far
        # over the cap must be quarantined by the PRE-aggregation anti-join
        # (the id array never materializes — pinned by the plan test), while
        # genuine pairs in small buckets survive untouched.
        mega = [(i, "identical hot bucket text for skew handling test") for i in range(200)]
        near = [
            (1001, "a genuinely distinct pair of sentences about spark lsh"),
            (1002, "a genuinely distinct pair of sentences about spark lsh"),
        ]
        docs = spark.createDataFrame(mega + near, "doc_id long, text string")
        bands = ops.bands_table(ops.with_signatures(docs, CFG))
        capped = {(r.a, r.b) for r in ops.candidate_pairs_grouped(bands, max_bucket_size=50).collect()}
        assert capped == {(1001, 1002)}
        # uncapped sanity: the mega bucket contributes its full pair set
        uncapped = ops.candidate_pairs_grouped(bands, max_bucket_size=None)
        assert uncapped.count() == 200 * 199 // 2 + 1

    def test_packed_band_key_candidate_parity(self, spark, sig_df):
        # scale path (round-4 verdict item #1): packing (band_idx,
        # band_hash) into one xxhash64 long must yield the identical pair
        # set — a deterministic pack never splits a bucket, and no merge
        # collision occurs at test scale (nor, in expectation, below ~1e8
        # buckets; merged buckets only ADD candidates for the verify).
        bands = ops.bands_table(sig_df)
        exact = {(r.a, r.b) for r in ops.candidate_pairs_grouped(
            bands, max_bucket_size=None).collect()}
        packed_bands = bands.select(
            "doc_id", ops.pack_band_key().alias("band_key"))
        packed = {(r.a, r.b) for r in ops.candidate_pairs_grouped(
            packed_bands, max_bucket_size=None, key_cols=("band_key",)).collect()}
        assert packed == exact
        # capped path groups on the packed key too
        packed_capped = {(r.a, r.b) for r in ops.candidate_pairs_grouped(
            packed_bands, max_bucket_size=50, key_cols=("band_key",)).collect()}
        exact_capped = {(r.a, r.b) for r in ops.candidate_pairs_grouped(
            bands, max_bucket_size=50).collect()}
        assert packed_capped == exact_capped

    def test_grouped_candidates_drop_self_pairs(self, spark):
        # two of doc 1's band keys collide after packing, so doc 1 sits in
        # bucket 5 twice; it must not pair with itself
        packed = spark.createDataFrame(
            [(1, 5), (1, 5), (2, 5), (3, 7)], "doc_id long, band_key long"
        )
        for cap in (None, 10):
            got = ops.candidate_pairs_grouped(
                packed, max_bucket_size=cap, key_cols=("band_key",)
            ).collect()
            assert sorted((r.a, r.b) for r in got) == [(1, 2)]


class TestQueries:
    def test_query_candidates_match_oracle(self, spark, sig_df):
        sigs = {d: O.oracle_signature(t, AO, BO, 5, 4) for d, t in DOCS}
        nonzero = {d: s for d, s in sigs.items() if any(s)}
        # oracle: docs sharing >= 1 band with the query text
        qtext = "Technology company announces revolutionary new smartphone gadget"
        qsig = O.oracle_signature(qtext, AO, BO, 5, 4)
        qbands = set(O.oracle_bands(qsig, 20, 5))
        exp = {
            d
            for d, s in nonzero.items()
            if qbands & set(O.oracle_bands(s, 20, 5))
        }
        bands = ops.bands_table(sig_df)
        got = {
            r.doc_id
            for r in ops.query_candidates(spark, [(0, qtext)], bands, CFG).collect()
        }
        assert got == exp
        assert {1, 2} <= got

    def test_query_with_scores_sorted(self, spark, sig_df):
        bands = ops.bands_table(sig_df)
        scored = ops.query_with_scores(
            spark,
            [(0, "apple banana orange fruit salad recipe with apple and banana")],
            bands,
            sig_df,
            CFG,
        ).collect()
        scores = [r.score for r in scored]
        assert scores == sorted(scores, reverse=True)
        assert scored[0].score == 1.0  # exact match present (docs 4, 5)

    def test_max_candidates_limit(self, spark, sig_df):
        bands = ops.bands_table(sig_df)
        scored = ops.query_with_scores(
            spark,
            [(0, "apple banana orange fruit salad recipe with apple and banana")],
            bands,
            sig_df,
            CFG,
            max_candidates=1,
        ).collect()
        assert len(scored) == 1


class TestIndexAPI:
    def test_add_query_find_pairs(self, spark, docs_df):
        idx = LSHIndexDF(spark, CFG)
        idx.add_documents(docs_df)
        assert idx.size() == len(DOCS)
        cands = idx.query("apple banana orange fruit salad recipe with apple and banana")
        assert {4, 5} <= cands
        pairs = {(r.a, r.b) for r in idx.find_similar_pairs(0.75).collect()}
        sigs = {d: O.oracle_signature(t, AO, BO, 5, 4) for d, t in DOCS}
        nonzero = {d: s for d, s in sigs.items() if any(s)}
        assert pairs == O.oracle_find_similar_pairs(nonzero, 20, 5, 0.75)

    def test_get_signature_and_load_factors(self, spark, docs_df):
        idx = LSHIndexDF(spark, CFG)
        idx.add_documents(docs_df)
        sig = idx.get_signature(1)
        assert sig.tolist() == O.oracle_signature(DOCS[0][1], AO, BO, 5, 4)
        assert idx.get_signature(999) is None
        lf = idx.load_factors().collect()
        assert len(lf) == 20
        idx.clear()
        with pytest.raises(ValueError):
            idx.size()

    def test_band_override_quirk(self, spark, docs_df):
        # LSHIndex(bands: 10) uses only first 50 signature slots
        # (spec/lexis_minhash_more_spec.cr:51-70)
        idx = LSHIndexDF(spark, CFG, num_bands=10)
        idx.add_documents(docs_df)
        bands = idx.bands()
        assert bands.agg(F.max("band_idx")).head()[0] == 9
        sig = O.oracle_signature(DOCS[0][1], AO, BO, 5, 4)
        exp = [h if h < 2**63 else h - 2**64 for _, h in O.oracle_bands(sig, 10, 5)]
        got = [
            r.band_hash
            for r in bands.where(F.col("doc_id") == 1).orderBy("band_idx").collect()
        ]
        assert got == exp

    def test_weighted_query(self, spark, docs_df):
        idx = LSHIndexDF(spark, CFG)
        idx.add_documents(docs_df)
        cands = idx.query_with_weights(
            "apple banana orange fruit salad recipe with apple and banana",
            {"apple": 2.0},
        )
        assert isinstance(cands, set)
