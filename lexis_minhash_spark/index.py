"""LSHIndexDF — the reference's LSHIndex API surface (index.cr:95-239).

The index holds its rows twice:

- the ``signatures`` DataFrame and its exploded ``bands()`` table, which
  the set operations run on as joins (``find_similar_pairs``,
  ``load_factors``);
- a driver-side serving structure that answers the point operations
  (``query``, ``query_with_scores``, ``query_by_signature``,
  ``query_with_weights``, ``get_signature``, ``size``) without a Spark
  job: the doc ids, the uint32 signature matrix and, per band, the band
  hashes of the non-zero signatures sorted with their row order.  These
  sorted columns stand in for the reference's per-band bucket tables
  (index.cr:19-89); a probe is one ``searchsorted`` per band, and scoring
  is slot equality against the candidates' signature rows.

Each add collects the new rows' ``doc_id, sig, bands, is_zero`` in one
Arrow ``toPandas``; the sorted columns are rebuilt on the first read after
a change.  The index is therefore bounded by driver memory, as the
reference's is: about 0.9 KB per document at 100 slots and 20 bands.  A
collect too large for the driver fails through
``spark.driver.maxResultSize``.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

from lexis_minhash_spark.config import DEFAULT_CONFIG, EngineConfig
from lexis_minhash_spark import kernels as K
from lexis_minhash_spark import ops


class LSHIndexDF:
    """LSH index over a Spark signatures table, served from the driver.

    >>> idx = LSHIndexDF(spark, cfg)
    >>> idx.add_documents(docs_df)          # L5 add (index.cr:114-122)
    >>> idx.query("some text")              # L6 (index.cr:146-163)
    >>> idx.query_with_scores("some text")  # L7 (index.cr:166-192)
    >>> idx.find_similar_pairs(0.75)        # L9 (index.cr:195-217)
    """

    def __init__(
        self,
        spark: SparkSession,
        cfg: EngineConfig = DEFAULT_CONFIG,
        num_bands: int | None = None,
    ):
        self.spark = spark
        self.cfg = cfg
        # reference quirk parity: LSHIndex(bands:) overrides band count while
        # rows_per_band still comes from the engine config (engine.cr:427,444)
        self.num_bands = num_bands if num_bands is not None else cfg.num_bands
        self.clear()

    # -- build side --------------------------------------------------------

    def add_documents(
        self, docs: DataFrame, text_col: str = "text", id_col: str = "doc_id",
        weights_hashed: dict[int, float] | None = None,
    ) -> None:
        """Append documents (recompute-from-text path, L5/L8)."""
        sig = ops.with_signatures(docs, self.cfg, text_col, id_col, weights_hashed)
        self._add(sig.withColumnRenamed(id_col, "doc_id"))

    def add_signatures(self, sig_df: DataFrame) -> None:
        """Append a precomputed signatures table (add_with_signature path)."""
        self._add(sig_df)

    def _add(self, sig_df: DataFrame) -> None:
        if self.num_bands != self.cfg.num_bands:
            sig_df = self._rebands(sig_df)
        pdf = sig_df.select("doc_id", "sig", "bands", "is_zero").toPandas()
        n = len(pdf)
        sigs = np.frombuffer(b"".join(pdf["sig"]), dtype="<u4").reshape(n, self.cfg.signature_size)
        bands = np.array(pdf["bands"].tolist(), dtype=np.int64).reshape(n, self.num_bands)
        self._ids = np.concatenate([self._ids, pdf["doc_id"].to_numpy()])
        self._sigs = np.concatenate([self._sigs, sigs])
        self._bands = np.concatenate([self._bands, bands])
        self._zero = np.concatenate([self._zero, pdf["is_zero"].to_numpy(dtype=bool)])
        self._sorted = None
        self._signatures = sig_df if self._signatures is None else self._signatures.unionByName(sig_df)

    def _rebands(self, sig_df: DataFrame) -> DataFrame:
        """Recompute the bands column for a non-default band count (keeps
        rows_per_band from config — the reference quirk)."""
        s, nb, r = self.cfg.signature_size, self.num_bands, self.cfg.rows_per_band
        from pyspark.sql.functions import pandas_udf
        from pyspark.sql.types import ArrayType, LongType

        @pandas_udf(ArrayType(LongType()))
        def reband(sigs: pd.Series) -> pd.Series:
            m = np.frombuffer(b"".join(sigs), dtype="<u4").reshape(len(sigs), s)
            return pd.Series(list(K.band_hashes_batch(m, nb, r).view(np.int64)))

        return sig_df.withColumn("bands", reband(F.col("sig")))

    def _serving(self) -> tuple[np.ndarray, np.ndarray]:
        """Per-band sorted band hashes and their row numbers, each of shape
        (num_bands, non-zero docs); rebuilt after every change.  The rows
        are kept sorted by doc id, so row order is doc-id order."""
        if self._signatures is None:
            raise ValueError("index is empty — add documents first")
        if self._sorted is None:
            order = np.argsort(self._ids, kind="stable")
            self._ids, self._sigs = self._ids[order], self._sigs[order]
            self._bands, self._zero = self._bands[order], self._zero[order]
            # zero signatures are quarantined, as in ops.bands_table
            nz = np.flatnonzero(~self._zero)
            by_hash = np.argsort(self._bands[nz], axis=0, kind="stable")
            keys = np.take_along_axis(self._bands[nz], by_hash, axis=0)
            self._sorted = (np.ascontiguousarray(keys.T), np.ascontiguousarray(nz[by_hash].T))
        return self._sorted

    def _candidate_rows(self, sig: np.ndarray) -> np.ndarray:
        """Rows sharing at least one band with ``sig``, in doc-id order."""
        keys, rows = self._serving()
        qb = K.band_hashes_batch(sig[None, :], self.num_bands, self.cfg.rows_per_band)[0]
        hits = [
            r[np.searchsorted(k, q, "left"):np.searchsorted(k, q, "right")]
            for k, r, q in zip(keys, rows, qb.view(np.int64))
        ]
        return np.unique(np.concatenate(hits))

    # -- read side ---------------------------------------------------------

    @property
    def signatures(self) -> DataFrame:
        if self._signatures is None:
            raise ValueError("index is empty — add documents first")
        return self._signatures

    def bands(self) -> DataFrame:
        return ops.bands_table(self.signatures)

    def size(self) -> int:
        """L11 (index.cr:225-227)."""
        self._serving()
        return len(self._ids)

    def clear(self) -> None:
        self._signatures = None
        self._ids = np.empty(0, dtype=np.int64)
        self._sigs = np.empty((0, self.cfg.signature_size), dtype=np.uint32)
        self._bands = np.empty((0, self.num_bands), dtype=np.int64)
        self._zero = np.empty(0, dtype=bool)
        self._sorted = None

    def get_signature(self, doc_id) -> np.ndarray | None:
        """L10 point lookup (index.cr:220-222)."""
        self._serving()
        i = np.searchsorted(self._ids, doc_id)
        if i == len(self._ids) or self._ids[i] != doc_id:
            return None
        return self._sigs[i].copy()

    def load_factors(self) -> DataFrame:
        """L4 metrics (index.cr:231-233) as a metrics query."""
        return ops.band_load_factors(self.bands())

    # -- queries -----------------------------------------------------------

    def query(self, text: str) -> set:
        """L6: candidate doc ids for one query text."""
        return self.query_by_signature(ops.query_signature(text, self.cfg))

    def query_with_scores(self, text: str, max_candidates: int | None = None) -> list[tuple]:
        """L7: (doc_id, score) by score desc, then doc_id — the order of
        ``ops.query_with_scores``."""
        sig = ops.query_signature(text, self.cfg)
        rows = self._candidate_rows(sig)
        scores = (self._sigs[rows] == sig).mean(axis=1)
        # rows are in doc-id order, so a stable sort on score breaks ties by id
        top = np.argsort(-scores, kind="stable")[:max_candidates]
        return list(zip(self._ids[rows[top]].tolist(), scores[top].tolist()))

    def query_with_weights(self, text: str, weights: dict[str, float]) -> set:
        """L8: weighted query — weighted signature, then L6."""
        hashed = {K.shingle_hash_for(k): v for k, v in weights.items()}
        a, b = self.cfg.coefficients
        norm = K.normalize_text(text)
        if K.passes_gates(norm, self.cfg.min_words, self.cfg.shingle_size):
            h = K.shingle_hashes_text(norm, self.cfg.shingle_size)
            keys = np.array(sorted(hashed), dtype=np.uint64)
            vals = np.array([hashed[int(k)] for k in keys], dtype=np.float64)
            if keys.size:
                pos = np.clip(np.searchsorted(keys, h), 0, keys.size - 1)
                hit = keys[pos] == h
                w = np.where(hit, vals[pos], self.cfg.default_weight)
            else:
                w = np.full(h.shape, self.cfg.default_weight)
            sig = K.minhash_batch(h, np.array([h.size]), a, b, weights_concat=w)[0]
        else:
            sig = K.zero_signature(self.cfg.signature_size)
        return self.query_by_signature(sig)

    def query_by_signature(self, sig: np.ndarray) -> set:
        rows = self._candidate_rows(np.asarray(sig, dtype=np.uint32))
        return set(self._ids[rows].tolist())

    def find_similar_pairs(
        self, threshold: float = 0.75, max_bucket_size: int | None = None
    ) -> DataFrame:
        """L9 flagship: all-pairs above threshold → DataFrame(a, b, similarity)."""
        cands = ops.candidate_pairs(self.bands(), max_bucket_size=max_bucket_size)
        return ops.verified_pairs(cands, self.signatures, threshold)
