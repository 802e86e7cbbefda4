"""Compute the check-block oracle files in ``perfbench/oracle/``.

The check block of each workload's corpus does not depend on the seed, so
the DuckDB SQL oracle runs once here, not in every benchmark run.  Re-run it
after changing the check block (``corpus.CHECK_VERSION``) or the checked
settings (``checks.CFG``, ``THRESHOLD``, ``MAX_HAMMING``):

    python3 perfbench/make_oracle.py [workload ...]

It takes a few minutes per workload.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(1, os.path.dirname(HERE))

import checks  # noqa: E402
import corpus  # noqa: E402


def main(workloads: list[str]) -> None:
    os.makedirs(checks.ORACLE_DIR, exist_ok=True)
    with tempfile.TemporaryDirectory(dir=HERE) as tmp:
        for w in workloads or sorted(corpus.SHAPES):
            c = corpus.load(w, 0, tmp)
            out = checks.compute_block_oracle(c, checks.CFG, checks.THRESHOLD, checks.MAX_HAMMING)
            with open(checks.oracle_path(w), "w") as f:
                json.dump(out, f, separators=(",", ":"))
            print(w, len(c.check_ids), "clips:", len(out["verified"]), "verified,",
                  len(out["simhash"]), "simhash pairs")


if __name__ == "__main__":
    main(sys.argv[1:])
