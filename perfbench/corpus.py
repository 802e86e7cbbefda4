"""Seeded corpus generator for the benchmark's workloads.

Owned by the benchmark and deliberately independent of the package's own
synthetic source (``lexis_minhash_spark.sources.synth``): a change to the
program can never move the inputs it is measured on.  Everything here is a
pure function of ``(workload, seed, GENERATOR_VERSION)``; the parquet table
is cached under that key.  The first ``check_clips`` rows (the check block)
do not depend on the seed, so the DuckDB oracle result over them is computed
once and shipped with the benchmark (``perfbench/oracle/``).

Every table has the contract clips schema
``(clip_id bigint, bytes binary, sr_hz int, dur_ms int, codec string,
transcript string)``, written as 16 parquet files like a small warehouse
table.  Transcripts are lowercase ASCII (the DuckDB oracle's scope) drawn
from a fixed 30,000-word vocabulary, so 5-byte shingles are diverse across
unrelated clips.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import struct
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

# bump whenever any output of this module changes, so a cached table
# written by an older generator is never reused
GENERATOR_VERSION = 8
# the check block's own seed part: it changes only when the block's texts
# do, which makes the shipped oracle files stale
CHECK_VERSION = 5
N_FILES = 16
CACHE_KEEP = 4  # cached corpora kept per workload

_ONSETS = ("b", "bl", "c", "cr", "d", "f", "g", "gl", "h", "j", "k", "l", "m",
           "n", "p", "pl", "r", "s", "sk", "sl", "sn", "t", "th", "v", "w", "y")
_VOWELS = ("a", "e", "i", "o", "u", "ay", "ee", "oa", "oo", "ie")
_CODAS = ("", "b", "ck", "d", "g", "k", "l", "m", "n", "ng", "p", "r", "sh",
          "t", "x", "z")


def _vocabulary(n_words: int = 30_000) -> tuple[str, ...]:
    """Fixed vocabulary, independent of the workload seed: every one-syllable
    word, then distinct two-syllable words."""
    syll = [o + v + c for o in _ONSETS for v in _VOWELS for c in _CODAS]
    rng = np.random.default_rng(0x5EED)
    words = list(dict.fromkeys(syll))
    seen = set(words)
    while len(words) < n_words:
        i, j = rng.integers(0, len(syll), 2)
        w = syll[i] + syll[j]
        if w not in seen:
            seen.add(w)
            words.append(w)
    return tuple(words[:n_words])


VOCAB = np.array(_vocabulary(), dtype=object)


@dataclass(frozen=True)
class Shape:
    """The properties a workload's corpus is built to have."""

    n_clips: int  # rows in the table
    words: tuple[int, int]  # transcript length range in words, inclusive
    dup_share: float  # share of the non-boilerplate clips in near-dup clusters
    cluster: tuple[int, int]  # cluster size range, inclusive
    edits: int  # word edits applied to each cluster member and mutated probe
    audio: bool  # real PCM WAV blobs (else empty blobs)
    boilerplate: int  # exact copies of one boilerplate transcript
    check_clips: int  # clips in the fixed, oracle-checked block
    check_boilerplate: int  # boilerplate copies inside the check block
    n_probes: int = 12  # index probes, in threes: mutated copy, novel text, mutated copy
    add_batch: int = 16  # clips in the add_documents batch of a round


SHAPES: dict[str, Shape] = {
    # long transcripts and real audio, 10% of clips in clusters of 2-3:
    # scan, hashing kernels and audio decode do most of the work
    "clips_long": Shape(
        n_clips=2000, words=(150, 300), dup_share=0.10, cluster=(2, 3),
        edits=4, audio=True, boilerplate=0, check_clips=240, check_boilerplate=0,
    ),
    # short transcripts, most clips in clusters of 5-60, plus 10,240 exact
    # copies of one boilerplate transcript: each of its band buckets and
    # SimHash blocks holds more than the 10,000-member hot-bucket cap, so the
    # quarantine path runs; candidates, verify, CC and suffix matching
    # dominate
    "clips_dupheavy": Shape(
        n_clips=12_840, words=(10, 25), dup_share=0.90, cluster=(5, 60),
        edits=1, audio=False, boilerplate=10_240, check_clips=480,
        check_boilerplate=48,
    ),
}

# seed of the check block: the same in every corpus of a workload, so its
# oracle result is computed once (perfbench/make_oracle.py) and shipped
CHECK_SEED = 0xC0FFEE


@dataclass
class Corpus:
    """A generated workload input plus the generator's ground truth."""

    workload: str
    seed: int
    path: str  # parquet table with the contract schema
    texts: dict[int, str]  # clip_id -> transcript, for driver-side checks
    check_ids: list[int]  # clip ids of the oracle-checked block
    boilerplate_ids: set[int]  # the exact boilerplate copies
    probes: list[tuple[str, int | None]]  # (text, source clip id or None)
    add: list[tuple[int, str]]  # the add_documents batch of (id, text)
    blob_bytes: int  # total size of the audio blobs

    @property
    def n_clips(self) -> int:
        return len(self.texts)


def _sentence(rng: np.random.Generator, n: int) -> list[str]:
    return list(VOCAB[rng.integers(0, VOCAB.size, n)])


def _mutate(rng: np.random.Generator, words: list[str], n_edits: int) -> list[str]:
    out = list(words)
    for _ in range(n_edits):
        op = int(rng.integers(0, 3))
        i = int(rng.integers(0, len(out)))
        if op == 0 and len(out) > 8:
            out.pop(i)
        elif op == 1:
            out[i] = VOCAB[int(rng.integers(0, VOCAB.size))]
        else:
            out.insert(i, VOCAB[int(rng.integers(0, VOCAB.size))])
    return out


def _wav(samples: np.ndarray, sr_hz: int) -> bytes:
    """Mono PCM16 RIFF/WAVE container."""
    data = np.asarray(samples, dtype="<i2").tobytes()
    return (
        b"RIFF" + struct.pack("<I", 36 + len(data)) + b"WAVE"
        + b"fmt " + struct.pack("<IHHIIHH", 16, 1, 1, sr_hz, sr_hz * 2, 2, 16)
        + b"data" + struct.pack("<I", len(data)) + data
    )


def _recording(rng: np.random.Generator, sr_hz: int, dur_ms: int) -> np.ndarray:
    """Three tones under a slow amplitude envelope plus a little noise: an
    envelope with temporal structure, so envelope fingerprints differ
    between recordings."""
    n = sr_hz * dur_ms // 1000
    t = np.arange(n, dtype=np.float32) / np.float32(sr_hz)
    x = np.zeros(n, dtype=np.float32)
    for _ in range(3):
        amp, freq, phase = rng.uniform(0.1, 0.3), rng.uniform(100.0, 1800.0), rng.uniform(0, 2 * np.pi)
        x += np.float32(amp) * np.sin(np.float32(2 * np.pi * freq) * t + np.float32(phase))
    rate, phase = rng.uniform(0.7, 4.0), rng.uniform(0, 6.3)
    x *= 0.55 + 0.45 * np.sin(np.float32(2 * np.pi * rate) * t + np.float32(phase))
    return x + rng.normal(0.0, 0.01, n).astype(np.float32)


def _pcm16(x: np.ndarray) -> np.ndarray:
    return (np.clip(x, -0.99, 0.99) * 32767.0).astype(np.int16)


def _generate(workload: str, seed: int) -> tuple[pd.DataFrame, dict]:
    shape = SHAPES[workload]
    wi = sorted(SHAPES).index(workload)
    fixed = np.random.default_rng([CHECK_SEED, CHECK_VERSION, wi])
    rng = np.random.default_rng([seed, GENERATOR_VERSION, wi])
    rows: list[tuple] = []
    mean = float(np.mean(shape.cluster))
    # P(a new group is a cluster), so that dup_share of the clips land in one
    p_cluster = shape.dup_share / (mean * (1.0 - shape.dup_share) + shape.dup_share)
    sr = 8000 if shape.audio else 16000

    def groups(g: np.random.Generator, n_rows: int) -> None:
        """Append singletons and near-dup clusters until ``n_rows`` rows."""
        while len(rows) < n_rows:
            size = 1
            if g.random() < p_cluster:
                size = min(int(g.integers(shape.cluster[0], shape.cluster[1] + 1)),
                           n_rows - len(rows))
            base = _sentence(g, int(g.integers(shape.words[0], shape.words[1] + 1)))
            dur = int(g.integers(800, 1601)) if shape.audio else int(g.integers(500, 8000))
            rec = _recording(g, sr, dur) if shape.audio else None
            for j in range(size):
                words = base if j == 0 else _mutate(g, base, shape.edits)
                blob = b""
                if rec is not None:
                    # re-noised copy of one recording (~40 dB SNR)
                    x = rec if j == 0 else rec + g.normal(0.0, 0.003, rec.shape[0])
                    blob = _wav(_pcm16(x), sr)
                rows.append((len(rows), blob, sr, dur, "pcm_s16le", " ".join(words)))

    def boilerplate(n: int) -> None:
        first = len(rows)
        rows.extend((first + i, b"", 16000, 3000, "pcm_s16le", boiler) for i in range(n))

    # the check block (ids 0 .. check_clips-1) and the boilerplate text are
    # the same for every seed; the rest of the table comes from the seed
    boiler = " ".join(_sentence(fixed, 20))
    groups(fixed, shape.check_clips - shape.check_boilerplate)
    boilerplate(shape.check_boilerplate)
    n_check = len(rows)
    groups(rng, shape.n_clips - (shape.boilerplate - shape.check_boilerplate))
    boilerplate(shape.boilerplate - shape.check_boilerplate)
    regular = [r[0] for r in rows if r[5] != boiler]

    df = pd.DataFrame(rows, columns=["clip_id", "bytes", "sr_hz", "dur_ms", "codec", "transcript"])
    # shuffle rows so clusters and boilerplate spread over the files
    df = df.iloc[rng.permutation(len(df))].reset_index(drop=True)

    # probes in threes: a mutated copy of an indexed non-boilerplate
    # transcript, novel text, another mutated copy
    probes: list[tuple[str, int | None]] = []
    for i in range(shape.n_probes):
        if i % 3 != 1:
            src = int(regular[int(rng.integers(0, len(regular)))])
            probes.append((" ".join(_mutate(rng, rows[src][5].split(" "), shape.edits)), src))
        else:
            n = int(rng.integers(shape.words[0], shape.words[1] + 1))
            probes.append((" ".join(_sentence(rng, n)), None))
    add = [
        (len(rows) + k, " ".join(_sentence(rng, int(rng.integers(shape.words[0], shape.words[1] + 1)))))
        for k in range(shape.add_batch)
    ]
    meta = {
        "check_ids": list(range(n_check)),
        "boilerplate_ids": [r[0] for r in rows if r[5] == boiler],
        "probes": probes,
        "add": add,
        "blob_bytes": int(df["bytes"].str.len().sum()),
    }
    return df, meta


def check_block_digest(corpus: Corpus) -> str:
    """Digest of the check block's texts: ties a shipped oracle result to
    the generator that produced its inputs."""
    h = hashlib.sha256()
    for i in corpus.check_ids:
        h.update(corpus.texts[i].encode() + b"\0")
    return h.hexdigest()[:16]


def _evict(cache_root: str, workload: str, keep: str, n_keep: int = CACHE_KEEP) -> None:
    """Drop all but the ``n_keep`` newest cached corpora of ``workload``."""
    dirs = [os.path.join(cache_root, x) for x in os.listdir(cache_root) if x.startswith(workload + "-s")]
    dirs.sort(key=os.path.getmtime, reverse=True)
    for old in [x for x in dirs if x != keep][n_keep - 1:]:
        shutil.rmtree(old, ignore_errors=True)


def load(workload: str, seed: int, cache_root: str) -> Corpus:
    """Generate (or reuse the cached) corpus for ``workload`` at ``seed``."""
    d = os.path.join(cache_root, f"{workload}-s{seed}-g{GENERATOR_VERSION}")
    path = os.path.join(d, "clips")
    meta_path = os.path.join(d, "meta.json")
    if not os.path.exists(meta_path):
        df, meta = _generate(workload, seed)
        tmp = path + f".tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        for i, part in enumerate(np.array_split(np.arange(len(df)), N_FILES)):
            df.iloc[part].to_parquet(os.path.join(tmp, f"part-{i:05d}.parquet"), index=False)
        shutil.rmtree(path, ignore_errors=True)
        os.replace(tmp, path)
        with open(meta_path + ".tmp", "w") as f:
            json.dump(meta, f)
        os.replace(meta_path + ".tmp", meta_path)
        _evict(cache_root, workload, keep=d)
        texts = dict(zip(df["clip_id"].tolist(), df["transcript"].tolist()))
    else:
        with open(meta_path) as f:
            meta = json.load(f)
        t = pq.read_table(path, columns=["clip_id", "transcript"])
        texts = dict(zip(t.column("clip_id").to_pylist(), t.column("transcript").to_pylist()))
    return Corpus(
        workload=workload,
        seed=seed,
        path=path,
        texts=texts,
        check_ids=meta["check_ids"],
        boilerplate_ids=set(meta["boilerplate_ids"]),
        probes=[(p, s) for p, s in meta["probes"]],
        add=[(int(i), t) for i, t in meta["add"]],
        blob_bytes=meta["blob_bytes"],
    )
