"""Output checks against the reference formulas.

- MinHash verified pairs and SimHash pairs inside each corpus's check block
  are compared with the DuckDB SQL oracle
  (``lexis_minhash_spark.duckdb_oracle``).  The block is the same for every
  seed, so its oracle result is computed once by ``make_oracle.py`` and
  shipped in ``oracle/``.  Precision must be exactly 1.  Pairs between two exact
  boilerplate copies are left out of recall: every band bucket and SimHash
  block they share holds more than the 10,000-member hot-bucket cap, so the
  engine quarantines them by design.
- Index probes are checked against the scalar oracle (``oracle.py``).
- Substring matches are checked by direct string comparison.
"""

from __future__ import annotations

import difflib
import json
import os

import pandas as pd

import corpus as corpus_mod
from lexis_minhash_spark import duckdb_oracle, oracle
from lexis_minhash_spark.config import EngineConfig

SIM_DIGITS = 6  # the SQL oracle rounds similarity to 6 digits
THRESHOLD = 0.75  # MinHash verify threshold (the pipeline default)
MAX_HAMMING = 3  # SimHash pair distance
CFG = EngineConfig(seed=12345)


ORACLE_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "oracle")


def oracle_path(workload: str) -> str:
    return os.path.join(ORACLE_DIR, f"{workload}.json")


def compute_block_oracle(corpus, cfg: EngineConfig, threshold: float, max_hamming: int) -> dict:
    """Run the DuckDB SQL oracle over the corpus's check block."""
    import duckdb

    docs = pd.DataFrame(
        {"doc_id": corpus.check_ids, "text": [corpus.texts[i] for i in corpus.check_ids]}
    )
    con = duckdb.connect()
    try:
        con.register("documents", docs)
        ver = con.execute(duckdb_oracle.verified_pairs_sql(cfg, threshold)).fetchall()
        sim = con.execute(duckdb_oracle.simhash_pairs_sql(cfg, max_hamming)).fetchall()
    finally:
        con.close()
    return {
        "config_hash": cfg.config_hash(),
        "threshold": threshold,
        "max_hamming": max_hamming,
        "block_digest": corpus_mod.check_block_digest(corpus),
        "verified": [(int(a), int(b), float(s)) for a, b, s in ver],
        "simhash": [(int(a), int(b), int(h)) for a, b, h in sim],
    }


def block_oracle(corpus, cfg: EngineConfig, threshold: float, max_hamming: int) -> dict:
    """{"verified": {(a, b): similarity}, "simhash": {(a, b): hamming}} over
    the check block, from the shipped oracle file.  Raises if the file was
    made for other inputs or settings."""
    with open(oracle_path(corpus.workload)) as f:
        raw = json.load(f)
    want = {
        "config_hash": cfg.config_hash(),
        "threshold": threshold,
        "max_hamming": max_hamming,
        "block_digest": corpus_mod.check_block_digest(corpus),
    }
    stale = {k: (raw.get(k), v) for k, v in want.items() if raw.get(k) != v}
    if stale:
        raise ValueError(f"oracle file does not match the inputs (file, run): {stale}")
    return {
        "verified": {(a, b): s for a, b, s in raw["verified"]},
        "simhash": {(a, b): h for a, b, h in raw["simhash"]},
    }


def compare_pairs(
    found: dict[tuple[int, int], float],
    expected: dict[tuple[int, int], float],
    subset: set[int],
    quarantined: set[int],
    what: str,
) -> tuple[float, list[str]]:
    """(recall, errors).  ``found`` may cover the whole corpus; only pairs
    with both ends in ``subset`` are compared.  Every such pair must be in
    ``expected`` with the same value (precision 1)."""
    errors: list[str] = []
    inside = {k: v for k, v in found.items() if k[0] in subset and k[1] in subset}
    for k, v in inside.items():
        ref = expected.get(k)
        if ref is None or round(v, SIM_DIGITS) != round(ref, SIM_DIGITS):
            errors.append(f"{what}: pair {k} value {v} not in the oracle (oracle: {ref})")
            if len(errors) >= 5:
                break
    eligible = [k for k in expected if not (k[0] in quarantined and k[1] in quarantined)]
    if not eligible:
        return 1.0, errors
    return sum(1 for k in eligible if k in inside) / len(eligible), errors


def check_substrings(rows: pd.DataFrame, texts: dict[int, str], min_len: int, n: int) -> list[str]:
    """Check up to ``n`` matches (every k-th row): the substring occurs in
    both transcripts, has the reported length, and no longer common
    substring exists."""
    errors: list[str] = []
    if rows.empty:
        return errors
    for r in rows.iloc[:: max(1, len(rows) // n)].itertuples(index=False):
        ta, tb = texts[int(r.a)], texts[int(r.b)]
        s = r.substring
        longest = difflib.SequenceMatcher(None, ta, tb, autojunk=False).find_longest_match(
            0, len(ta), 0, len(tb)
        ).size
        if not (
            r.a < r.b and s is not None and len(s) == r.common_len >= min_len
            and s in ta and s in tb and longest == r.common_len
        ):
            errors.append(
                f"substring: pair ({r.a}, {r.b}) common_len {r.common_len} "
                f"(longest common substring {longest}) failed the string check"
            )
    return errors


class QueryOracle:
    """Scalar-oracle signatures and bands for probe and indexed texts."""

    def __init__(self, cfg: EngineConfig):
        self.cfg = cfg
        self.a, self.b = oracle.oracle_coefficients(cfg.seed, cfg.signature_size)
        self._cache: dict[str, tuple[list[int], set]] = {}

    def _sig(self, text: str) -> tuple[list[int], set]:
        hit = self._cache.get(text)
        if hit is None:
            cfg = self.cfg
            sig = oracle.oracle_signature(text, self.a, self.b, cfg.shingle_size, cfg.min_words)
            bands = set(oracle.oracle_bands(sig, cfg.num_bands, cfg.rows_per_band))
            hit = self._cache[text] = (sig, bands)
        return hit

    def check(
        self, probe: str, source: int | None, result: list, texts: dict[int, str], scored: bool
    ) -> tuple[int, int, list[str]]:
        """(expected, found, errors) for one probe.  Every returned doc must
        share a band with the probe and, when scored, carry the oracle
        similarity; the probe's source doc is expected whenever the oracle
        says it shares a band."""
        errors: list[str] = []
        psig, pbands = self._sig(probe)
        ids = set()
        for item in result:
            doc, score = item if scored else (item, None)
            ids.add(doc)
            dsig, dbands = self._sig(texts[doc])
            if not pbands & dbands:
                errors.append(f"query: doc {doc} returned but shares no band with the probe")
            elif scored and round(score, 12) != round(oracle.oracle_similarity(psig, dsig), 12):
                errors.append(f"query: doc {doc} score {score} differs from the oracle")
        if source is None or not any(psig):
            return 0, 0, errors
        expected = bool(pbands & self._sig(texts[source])[1])
        return int(expected), int(expected and source in ids), errors
