"""Benchmark for lexis_minhash_spark over the contract clips table.

Run from the repository root:

    python3 perfbench/run.py --workload clips_long --seed 1 --seconds 10 --trace 0

One process, one Spark application at ``local[<cores>]``.  A run generates
the workload's corpus from the seed, sets up (session, input scan, Python
worker pool, one untimed warm-up round, LSH index), then measures
``--seconds / 10`` whole rounds, at least one.  A round is the workload's
operation mix:

    DedupPipeline.run  ->  closed-loop index traffic
    (one add_documents, then query_with_scores probes)

Every round's outputs are checked against the reference formulas
(``checks.py``).  The last line of stdout is one JSON object: the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1`` (measured rounds, then one traced round whose layers, SimHash
pairs, audio near-dup pairs and exact-substring matching included, run one
by one under spans).  See README.md in this directory.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")

CORES = len(os.sched_getaffinity(0))
SETUP_REPS = 3  # input scans + index builds in the set-up, counted at their median
SCORED_PER_ROUND = 3  # query_with_scores probes per measured round
OP_TIMEOUT_S = 90.0  # an operation still running after this is cancelled
NOMINAL_ROUND_S = 10.0  # one round's wall time on a 4-core host; --seconds / this = rounds
CAP = 10_000  # hot-bucket cap, the pipeline default
LAYERS = ("scan", "signatures", "bands", "candidates", "verify", "cc", "clusters",
          "simhash", "audio", "suffix", "index")


def log(*a) -> None:
    print(*a, file=sys.stderr, flush=True)


def median(xs: list[float]) -> float:
    return float(statistics.median(xs)) if xs else float("nan")


def p90(xs: list[float]) -> float:
    """Nearest-rank 90th percentile."""
    if not xs:
        return float("nan")
    s = sorted(xs)
    return float(s[max(0, -(-9 * len(s) // 10) - 1)])


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the host's CPUs, from /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return vals[7], sum(vals)


def du(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total


class Ops:
    """Runs each operation as one attempt: times it (wall time, and the CPU
    time of the whole process tree under ``<name>.cpu``), counts failures
    and cancels its Spark jobs when it runs past OP_TIMEOUT_S.  A failed or
    cancelled operation has no sample."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.samples: dict[str, list[float]] = {}
        self.measuring = False  # record latency samples
        self.sc = None

    def run(self, name: str, fn):
        self.attempted += 1
        timer = threading.Timer(OP_TIMEOUT_S, self.sc.cancelAllJobs)
        timer.start()
        c0 = spans.tree_cpu_s()
        t0 = time.perf_counter()
        try:
            out = fn()
        except Exception:
            self.failed += 1
            log(f"operation {name} failed:\n{traceback.format_exc()}")
            return None
        finally:
            timer.cancel()
        if self.measuring:
            self.samples.setdefault(name, []).append(time.perf_counter() - t0)
            self.samples.setdefault(name + ".cpu", []).append(spans.tree_cpu_s() - c0)
        return out


class Bench:
    def __init__(self, workload: str, seed: int, trace: bool):
        self.workload = workload
        self.seed = seed
        self.trace = trace
        self.run_dir = os.path.join(WORK, "runs", f"{workload}-s{seed}-p{os.getpid()}")
        self.ops = Ops()
        self.spark = None
        self.index = None
        self.round_no = 0
        self.info: dict = {"workload": workload, "seed": seed, "cores": CORES}

    # -- session and set-up ----------------------------------------------

    def start_session(self):
        from lexis_minhash_spark.session import get_spark

        conf = {
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.environ['TMPDIR']}",
            "spark.sql.warehouse.dir": os.path.join(self.run_dir, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        }
        if self.trace:
            events = os.path.join(self.run_dir, "events")
            os.makedirs(events, exist_ok=True)
            conf.update({"spark.eventLog.enabled": "true", "spark.eventLog.dir": events,
                         "spark.eventLog.compress": "false"})
        self.spark = get_spark(
            app_name=f"perfbench-{self.workload}", master=f"local[{CORES}]", extra_conf=conf
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.ops.sc = self.spark.sparkContext

    def probe_workers(self) -> list[tuple]:
        """Spin up the Python worker pool with one pandas task per core and
        report the hash backends each worker calibrated."""
        import pandas as pd

        cfg = checks.CFG

        def probe(batches):
            from lexis_minhash_spark import kernels as K

            K._pick_mulshift_backend(cfg.signature_size)
            K._pick_rolling_backend(cfg.shingle_size)
            for _ in batches:
                pass
            time.sleep(0.2)  # hold the worker so every task gets its own
            yield pd.DataFrame({"pid": [os.getpid()], "mulshift": [str(K._MULSHIFT_BACKEND)],
                                "rolling": [str(K._ROLLING_BACKEND)]})

        rows = (
            self.spark.range(0, CORES, 1, CORES)
            .mapInPandas(probe, "pid long, mulshift string, rolling string")
            .collect()
        )
        return sorted({(r.pid, r.mulshift, r.rolling) for r in rows})

    def load_input(self) -> int:
        self.clips = self.spark.read.parquet(self.corpus.path)
        self.docs = self.clips.select("clip_id", "transcript")
        return self.docs.count()

    def build_index(self, sig_path: str) -> None:
        from lexis_minhash_spark.index import LSHIndexDF

        self.base_sig = self.spark.read.parquet(sig_path).withColumnRenamed("clip_id", "doc_id").persist()
        self.base_sig.count()
        self.index = LSHIndexDF(self.spark, checks.CFG)
        self.index.add_signatures(self.base_sig)

    def setup(self) -> float:
        """Set-up before the first measured round; returns setup_s.

        Once: start the session (launches the JVM), spin up the Python
        worker pool and run the untimed warm-up round, which leaves the
        DedupPipeline signatures checkpoint the index serves from.  Then
        SETUP_REPS times: scan the input and build the LSH index from that
        checkpoint; these count once, at their median."""
        from lexis_minhash_spark import kernels_native

        info = self.info
        t = time.perf_counter()
        kernels_native.load()  # build the native kernel once, before the workers race to
        self.start_session()
        info["session.start_s"] = time.perf_counter() - t
        self.load_input()
        t = time.perf_counter()
        info["backends"] = self.probe_workers()
        info["session.first_udf_s"] = time.perf_counter() - t
        variants = {(m, r) for _, m, r in info["backends"]}
        info["session.backend_variants"] = len(variants)
        if len(variants) > 1:
            log(f"WARNING: Python workers picked different hash backends: {sorted(variants)}")

        t = time.perf_counter()
        # one probe of each kind (pool order: mutated copy, novel text),
        # so both query paths are warm
        warm = self.round(self.corpus.probes[:2])
        if warm is None:
            raise RuntimeError("the warm-up round failed")
        info["session.warmup_s"] = time.perf_counter() - t

        reps = []
        for _ in range(SETUP_REPS):
            t = time.perf_counter()
            self.base_sig.unpersist()
            self.load_input()
            self.build_index(os.path.join(warm["workdir"], "signatures"))
            reps.append(time.perf_counter() - t)
        info["setup_reps_s"] = reps
        once = sum(info[k] for k in ("session.start_s", "session.first_udf_s", "session.warmup_s"))
        return once + median(reps)

    # -- one round of the workload's operation mix -----------------------

    def round(self, probes: list) -> dict | None:
        """Runs the operation mix once, serving ``probes``.  Returns its
        outputs for the checks (None when the dedup pipeline failed, since
        later steps need it)."""
        from lexis_minhash_spark.plans.pipeline import DedupPipeline

        ops = self.ops
        self.round_no += 1
        wd = os.path.join(self.run_dir, f"round{self.round_no}")
        out: dict = {"workdir": wd}
        cfg = checks.CFG

        pipe = DedupPipeline(self.spark, cfg, wd, threshold=checks.THRESHOLD, max_bucket_size=CAP)
        if ops.run("dedup", lambda: pipe.run(self.docs, text_col="transcript", id_col="clip_id")) is None:
            return None
        out["pipeline_metrics"] = pipe.metrics()

        if self.index is None:
            # the warm-up round runs before the set-up's index exists:
            # serve from one over this round's signatures checkpoint
            self.build_index(os.path.join(wd, "signatures"))
        out["serve"] = self.serve(ops, probes)
        return out

    def measured_probes(self, k: int) -> list:
        """The k-th measured round's SCORED_PER_ROUND probes: the next
        mutated copies of the corpus's pool, cyclically."""
        pool = [p for p in self.corpus.probes if p[1] is not None]
        return [pool[(k * SCORED_PER_ROUND + i) % len(pool)] for i in range(SCORED_PER_ROUND)]

    def serve(self, ops: Ops, probes: list) -> list:
        """Closed loop, one client: one add_documents batch, then the
        round's probes one by one, the mutated copies of indexed
        transcripts as query_with_scores, the novel texts as query.  The
        index starts each round from the set-up state, so every round does
        the same work and every probe sees the added batch."""
        idx = self.index
        idx.clear()
        idx.add_signatures(self.base_sig)
        batch = self.corpus.add
        ops.run(
            "add",
            lambda: idx.add_documents(self.spark.createDataFrame(batch, "doc_id long, text string")),
        )
        results = []
        for text, src in probes:
            if src is not None:
                res = ops.run("scored_query", lambda: idx.query_with_scores(text))
                results.append(("scored_query", text, src, res))
            else:
                res = ops.run("query", lambda: sorted(idx.query(text)))
                results.append(("query", text, src, res))
        return results

    # -- output checks ----------------------------------------------------

    def check(self, rounds: list[dict]) -> dict:
        c = self.corpus
        cfg = checks.CFG
        oracle = checks.block_oracle(c, cfg, checks.THRESHOLD, checks.MAX_HAMMING)
        block = set(c.check_ids)
        texts = dict(c.texts)
        texts.update(c.add)
        qo = checks.QueryOracle(cfg)
        errors: list[str] = []
        recall: list[float] = []
        expected = found = 0
        for r in rounds:
            ver = self.spark.read.parquet(os.path.join(r["workdir"], "verified")).toPandas()
            got = {(int(a), int(b)): float(s) for a, b, s in ver.itertuples(index=False)}
            rec, errs = checks.compare_pairs(got, oracle["verified"], block, c.boilerplate_ids, "verified")
            recall.append(rec)
            errors += errs
            if rec < 0.99:
                errors.append(f"verified: dup_pair_recall {rec:.4f} < 0.99")
            n_clusters = self.spark.read.parquet(os.path.join(r["workdir"], "clusters")).count()
            if n_clusters != c.n_clips:
                errors.append(f"clusters: {n_clusters} rows for {c.n_clips} clips")
            for kind, text, src, res in r["serve"]:
                if res is None:
                    continue
                e, f, errs = qo.check(text, src, res, texts, kind == "scored_query")
                expected += e
                found += f
                errors += errs
        query_recall = found / expected if expected else 1.0
        if query_recall < 0.99:
            errors.append(f"query: recall {query_recall:.4f} < 0.99 ({found}/{expected})")
        return {
            "errors": errors,
            "dup_pair_recall": min(recall) if recall else float("nan"),
            "query_recall": query_recall,
        }

    # -- traced round -----------------------------------------------------

    def traced_round(self, tracer) -> tuple[dict, list[str]]:
        """The round's layers one at a time, each call into a layer's public
        function under a span whose output is forced (persist + count)."""
        from pyspark.sql import functions as F

        from lexis_minhash_spark import ops as O
        from lexis_minhash_spark.config import EngineConfig
        from lexis_minhash_spark.operators.audio_dedup import with_audio_signatures
        from lexis_minhash_spark.operators.dedup import simhash_candidate_pairs, with_simhash
        from lexis_minhash_spark.operators.suffix import exact_substring_matches

        cfg = checks.CFG
        m: dict = {}
        keep: list = []

        def force(df):
            df = df.persist()
            keep.append(df)
            return df, df.count()

        with tracer.span("round"):
            with tracer.span("dedup"):
                with tracer.span("scan"):
                    docs, _ = force(self.docs)
                with tracer.span("signatures"):
                    sig, _ = force(O.with_signatures(docs, cfg, "transcript", "clip_id"))
                with tracer.span("bands"):
                    bands, m["bands.rows"] = force(O.bands_table(sig, id_col="clip_id"))
                packed = bands.select(F.col("clip_id"), O.pack_band_key().alias("band_key"))
                with tracer.span("candidates"):
                    cands, m["candidates.pairs"] = force(O.candidate_pairs_grouped(
                        packed, id_col="clip_id", max_bucket_size=CAP, key_cols=("band_key",)
                    ))
                with tracer.span("verify"):
                    ver, m["verify.pairs"] = force(
                        O.verified_pairs(cands, sig, checks.THRESHOLD, id_col="clip_id")
                    )
                with tracer.span("cc"):
                    cc, _ = force(O.connected_components(ver.select("a", "b")))
                with tracer.span("clusters"):
                    clusters, _ = force(O.clusters_with_singletons(sig, cc, id_col="clip_id"))
            with tracer.span("simhash"):
                with tracer.span("simhash.fingerprint"):
                    fp, _ = force(with_simhash(docs, cfg, text_col="transcript", id_col="clip_id"))
                with tracer.span("simhash.pairs"):
                    handle: list = []
                    simpairs, m["simhash.pairs"] = force(simhash_candidate_pairs(
                        fp, id_col="clip_id", max_hamming=checks.MAX_HAMMING,
                        max_bucket_size=CAP, cache_handle=handle,
                    ))
                    keep.extend(handle)
            with tracer.span("audio"):
                # the steps of operators.audio_dedup.audio_near_dup_pairs,
                # with its default settings, so decode and pairing split
                acfg = EngineConfig(seed=12345, num_bands=50)
                with tracer.span("audio.signature"):
                    asig, _ = force(with_audio_signatures(self.clips, acfg, id_col="clip_id"))
                with tracer.span("audio.pairs"):
                    apacked = O.bands_table(asig, id_col="clip_id").select(
                        F.col("clip_id"), O.pack_band_key().alias("band_key")
                    )
                    acands = O.candidate_pairs_grouped(
                        apacked, id_col="clip_id", max_bucket_size=CAP, key_cols=("band_key",)
                    )
                    _, m["audio.pairs"] = force(O.verified_pairs(acands, asig, 0.25, id_col="clip_id"))
            groups = clusters.withColumnRenamed("doc_id", "clip_id")
            with tracer.span("suffix"):
                matches, m["suffix.matches"] = force(exact_substring_matches(
                    docs, groups, emit_substring=True, text_col="transcript", id_col="clip_id"
                ))
            with tracer.span("index"):
                idx = self.index
                idx.clear()
                idx.add_signatures(self.base_sig)
                probes = self.corpus.probes[:3]  # scored, plain, scored
                plan, exe, cands_n = [], [], []
                with tracer.span("index.add"):
                    idx.add_documents(
                        self.spark.createDataFrame(self.corpus.add, "doc_id long, text string")
                    )
                for text, src in probes:
                    with tracer.span("index.scored_query" if src is not None else "index.query"):
                        t0 = time.perf_counter()
                        with tracer.span("index.plan"):
                            if src is not None:
                                q = O.query_with_scores(
                                    self.spark, [(0, text)], idx.bands(), idx.signatures, cfg
                                )
                            else:
                                q = O.query_candidates(self.spark, [(0, text)], idx.bands(), cfg)
                        t1 = time.perf_counter()
                        with tracer.span("index.exec"):
                            rows = q.collect()
                        plan.append(t1 - t0)
                        exe.append(time.perf_counter() - t1)
                        cands_n.append(len(rows))
                m["index.plan_ms"] = median(plan) * 1000
                m["index.exec_ms"] = median(exe) * 1000
                m["index.candidates_per_query"] = statistics.mean(cands_n)

        # counts read off the forced outputs, outside every span
        agg = sig.agg(F.sum("n_shingles").alias("s"), F.sum(F.col("is_zero").cast("int")).alias("z")).first()
        m["signatures.shingles"] = int(agg.s or 0)
        m["signatures.zero_docs"] = int(agg.z or 0)
        buckets = packed.groupBy("band_key").count()
        b = buckets.agg(F.max("count").alias("mx"),
                        F.sum(F.when(F.col("count") > CAP, F.col("count")).otherwise(0)).alias("capped")).first()
        m["candidates.max_bucket"] = int(b.mx or 0)
        m["candidates.capped_rows"] = int(b.capped or 0)
        m["verify.yield"] = m["verify.pairs"] / m["candidates.pairs"] if m["candidates.pairs"] else 0.0
        m["cc.edges"] = m["verify.pairs"]
        m["clusters.n"] = clusters.select("cluster_id").distinct().count()
        width = 16
        blocks = fp.where(F.col("simhash") != 0).select(
            F.posexplode(F.array(*[
                F.shiftrightunsigned(F.col("simhash"), i * width).bitwiseAND(F.lit((1 << width) - 1))
                for i in range(4)
            ])).alias("block_idx", "block_key")
        )
        m["simhash.hot_blocks"] = blocks.groupBy("block_idx", "block_key").count().where(
            F.col("count") > CAP).count()
        sizes = docs.join(groups.select("clip_id", "cluster_id"), "clip_id").groupBy("cluster_id").agg(
            F.count(F.lit(1)).alias("n"), F.sum(F.length("transcript")).alias("chars")
        ).where(F.col("n") >= 2)
        # the quarantine rule of exact_substring_matches at its defaults
        ok = (F.col("n") <= 512) & ((F.col("chars") + F.col("n")) <= 2_000_000)
        s = sizes.agg(F.count(F.lit(1)).alias("g"), F.sum(F.when(~ok, 1).otherwise(0)).alias("q"),
                      F.sum(F.when(ok, F.col("chars")).otherwise(0)).alias("c")).first()
        m["suffix.groups"] = int(s.g or 0)
        m["suffix.quarantined_groups"] = int(s.q or 0)
        m["suffix.chars"] = int(s.c or 0)
        m["audio.bytes_decoded"] = self.corpus.blob_bytes
        errors = checks.check_substrings(matches.toPandas(), self.corpus.texts, 20, 16)
        c = self.corpus
        oracle = checks.block_oracle(c, cfg, checks.THRESHOLD, checks.MAX_HAMMING)
        got = {(int(a), int(b)): int(h) for a, b, h in simpairs.toPandas().itertuples(index=False)}
        rec, errs = checks.compare_pairs(got, oracle["simhash"], set(c.check_ids), c.boilerplate_ids, "simhash")
        errors += errs
        if rec < 0.99:
            errors.append(f"simhash: recall {rec:.4f} < 0.99")
        for df in keep:
            df.unpersist()
        return m, errors

    def kernel_rates(self) -> dict:
        """Driver-side kernel throughput: one thread, no Spark, on the check
        block's transcripts (the same texts for every seed)."""
        import numpy as np

        from lexis_minhash_spark import kernels as K

        cfg = checks.CFG
        a, b = cfg.coefficients
        texts = [self.corpus.texts[i].lower().strip() for i in self.corpus.check_ids]
        mh, sh = [], []
        for _ in range(5):
            t0 = time.perf_counter()
            hc, counts = K.batch_shingle_hashes(texts, cfg.shingle_size)
            sig = K.minhash_batch(hc, counts, a, b)
            K.band_hashes_batch(np.ascontiguousarray(sig), cfg.num_bands, cfg.rows_per_band)
            mh.append(time.perf_counter() - t0)
            t0 = time.perf_counter()
            K.simhash_batch(hc, counts)
            sh.append(time.perf_counter() - t0)
        return {
            "kernels.minhash_docs_per_s": len(texts) / median(mh),
            "kernels.simhash_docs_per_s": len(texts) / median(sh),
        }

    # -- shutdown -----------------------------------------------------------

    def shutdown(self, sampler) -> None:
        """Stop Spark, end the JVM and wait for every process this run
        started (JVM, Python worker daemon and workers)."""
        from pyspark import SparkContext

        if self.spark is None:
            return
        self.spark.stop()
        self.spark = None
        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None) if gw is not None else None
        if gw is not None:
            gw.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits on EOF of its stdin
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait()
        deadline = time.time() + 30
        while sampler.alive() and time.time() < deadline:
            time.sleep(0.2)
        for pid in sampler.alive():
            try:
                os.kill(pid, 9)
            except OSError:
                pass


def result(correct: bool, ops: Ops, metrics: dict) -> str:
    return json.dumps({
        "correct": correct,
        "attempted": max(1, ops.attempted),
        "failed": ops.failed,
        "metrics": metrics,
    })


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if args.workload not in corpus.SHAPES:
        log(f"unknown workload {args.workload!r}; choose from {sorted(corpus.SHAPES)}")
        return 2

    if not os.path.isdir(os.path.join(ROOT, "lexis_minhash_spark")):
        log(f"lexis_minhash_spark not found in {ROOT}: run from a repository checkout")
        return 2
    _environment()
    global checks
    import checks

    sampler = spans.RssSampler()
    sampler.start()
    bench = Bench(args.workload, args.seed, bool(args.trace))
    load_before = os.getloadavg()
    ticks_before = cpu_ticks()
    t_start = time.perf_counter()
    shutil.rmtree(bench.run_dir, ignore_errors=True)
    os.makedirs(bench.run_dir)
    try:
        bench.corpus = corpus.load(args.workload, args.seed, os.path.join(WORK, "cache"))
        bench.info["corpus_s"] = time.perf_counter() - t_start
        n = bench.corpus.n_clips
        setup_s = bench.setup()
        # write back the corpus and warm-up checkpoints now: the kernel
        # flushes dirty pages ~30 s after they were written, which would
        # otherwise land inside the measured round
        os.sync()
        ops = bench.ops
        ops.measuring = True
        rounds: list[dict] = []
        last = 0.0
        # a fixed number of rounds, so every run of one --seconds takes its
        # samples at the same point of the process's warm-up: the JVM is
        # still compiling after the warm-up round, and each later round
        # costs less CPU than the one before
        for k in range(max(1, round(args.seconds / NOMINAL_ROUND_S))):
            t_round = time.perf_counter()
            out = bench.round(bench.measured_probes(k))
            last = time.perf_counter() - t_round
            if out is None:
                break
            rounds.append(out)
        bench.info["rounds"] = len(rounds)
        bench.info["round_s"] = last
        if not rounds:
            raise RuntimeError("no round completed")
        t = time.perf_counter()
        chk = bench.check(rounds)
        bench.info["check_s"] = time.perf_counter() - t
        per_layer = None
        if bench.trace:
            tracer = spans.Tracer(bench.spark.sparkContext)
            per_layer, errs = bench.traced_round(tracer)
            chk["errors"] += errs
            bench.info["spans"] = tracer.dump()
            per_layer.update(bench.kernel_rates())
        for e in chk["errors"]:
            log("CHECK FAILED:", e)
        t = time.perf_counter()
        bench.shutdown(sampler)
        bench.info["shutdown_s"] = time.perf_counter() - t
    except Exception:
        log(traceback.format_exc())
        return 1
    finally:
        bench.shutdown(sampler)
        sampler.stop()

    s = ops.samples
    if not bench.trace:
        metrics = {
            "setup_s": (setup_s, "s"),
            "dedup_clips_per_cpu_s": (median([n / c for c in s.get("dedup.cpu", [])]), "clips/cpu_s"),
            "scored_query_cpu_ms": (median(s.get("scored_query.cpu", [])) * 1000, "cpu_ms"),
            "dup_pair_recall": (chk["dup_pair_recall"], "ratio"),
            "query_recall": (chk["query_recall"], "ratio"),
        }
    else:
        per_layer["session.peak_rss_mb"] = sampler.peak_bytes / 2**20
        metrics = layer_metrics(bench, rounds, per_layer)
    missing = [k for k, (v, _) in metrics.items() if not math.isfinite(v)]
    if missing:
        log(f"no samples for {missing}: every such operation failed")
        return 1
    metrics = {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()}
    bench.info.update({
        "load_avg_before": load_before,
        "load_avg_after": os.getloadavg(),
        # CPU time the hypervisor gave to other guests: high = noisy host
        "cpu_steal_share": (cpu_ticks()[0] - ticks_before[0]) / max(1, cpu_ticks()[1] - ticks_before[1]),
        "wall_s": time.perf_counter() - t_start,
        "samples": s,
        "check_errors": chk["errors"],
        "metrics": metrics,
    })
    with open(os.path.join(WORK, f"report-{args.workload}-s{args.seed}-t{args.trace}.json"), "w") as f:
        json.dump(bench.info, f, indent=1, default=str)
    log(f"load average before {load_before}, after {bench.info['load_avg_after']}, "
        f"CPU steal {bench.info['cpu_steal_share']:.1%}; "
        f"{len(rounds)} round(s), wall {bench.info['wall_s']:.1f} s")
    shutil.rmtree(bench.run_dir, ignore_errors=True)
    correct = not chk["errors"] and ops.failed == 0
    print(result(correct, ops, metrics), flush=True)
    return 0


def layer_metrics(bench: Bench, rounds: list[dict], m: dict) -> dict:
    """Per-layer metrics of a traced run, with their units."""
    info = bench.info
    tracer_dump = info["spans"]
    spans_by_name: dict[str, list[dict]] = {}
    for sp in tracer_dump:
        spans_by_name.setdefault(sp["name"], []).append(sp)

    def dur(name: str) -> float:
        return sum(sp["dur"] for sp in spans_by_name.get(name, []))

    def self_s(name: str) -> float:
        return sum(sp["self"] for sp in spans_by_name.get(name, []))

    groups = spans.read_event_log(os.path.join(bench.run_dir, "events"))
    names = {}
    for sp in tracer_dump:
        names[f"{sp['sid']}:{sp['name']}"] = sp["name"]
    per_layer = {layer: spans.GroupStats() for layer in LAYERS}
    probe_jobs: dict[int, spans.GroupStats] = {}
    parent = {sp["sid"]: sp["parent"] for sp in tracer_dump}
    for gid, st in groups.items():
        name = names.get(gid)
        if name is None:
            continue
        if name.split(".")[0] in per_layer:
            per_layer[name.split(".")[0]].add(st)
        if name in ("index.plan", "index.exec"):
            q = parent[int(gid.split(":")[0])]
            probe_jobs.setdefault(q, spans.GroupStats()).add(st)
    n = bench.corpus.n_clips
    pm = {r["stage"]: r for r in rounds[0]["pipeline_metrics"]} if rounds else {}
    untraced_s = info["round_s"]
    traced_s = dur("round")
    s = bench.ops.samples
    query_s = [sp["dur"] for sp in spans_by_name.get("index.query", [])]
    out = {
        "wall.dedup_clips_per_s": (median([n / t for t in s.get("dedup", [])]), "clips/s"),
        "wall.scored_query_p50_ms": (median(s.get("scored_query", [])) * 1000, "ms"),
        "session.start_s": (info["session.start_s"], "s"),
        "session.first_udf_s": (info["session.first_udf_s"], "s"),
        "session.warmup_s": (info["session.warmup_s"], "s"),
        "session.backend_variants": (info["session.backend_variants"], "count"),
        "session.peak_rss_mb": (m["session.peak_rss_mb"], "MB"),
        "scan.s": (dur("scan"), "s"),
        "scan.bytes_read": (per_layer["scan"].bytes_read, "B"),
        "kernels.minhash_docs_per_s": (m["kernels.minhash_docs_per_s"], "docs/s"),
        "kernels.simhash_docs_per_s": (m["kernels.simhash_docs_per_s"], "docs/s"),
        "signatures.s": (dur("signatures"), "s"),
        "signatures.shingles": (m["signatures.shingles"], "count"),
        "signatures.zero_docs": (m["signatures.zero_docs"], "count"),
        "bands.s": (dur("bands"), "s"),
        "bands.rows": (m["bands.rows"], "count"),
        "candidates.s": (dur("candidates"), "s"),
        "candidates.pairs": (m["candidates.pairs"], "count"),
        "candidates.max_bucket": (m["candidates.max_bucket"], "count"),
        "candidates.capped_rows": (m["candidates.capped_rows"], "count"),
        "candidates.shuffle_bytes": (per_layer["candidates"].shuffle_write_bytes, "B"),
        "verify.s": (dur("verify"), "s"),
        "verify.pairs": (m["verify.pairs"], "count"),
        "verify.yield": (m["verify.yield"], "ratio"),
        "verify.shuffle_bytes": (per_layer["verify"].shuffle_write_bytes, "B"),
        "cc.s": (dur("cc"), "s"),
        "cc.edges": (m["cc.edges"], "count"),
        "clusters.s": (dur("clusters"), "s"),
        "clusters.n": (m["clusters.n"], "count"),
        "pipeline.checkpoint_bytes": (du(rounds[0]["workdir"]) if rounds else 0, "B"),
        "simhash.fingerprint_s": (dur("simhash.fingerprint"), "s"),
        "simhash.pairs_s": (dur("simhash.pairs"), "s"),
        "simhash.pairs": (m["simhash.pairs"], "count"),
        "simhash.hot_blocks": (m["simhash.hot_blocks"], "count"),
        "simhash.clips_per_s": (n / (dur("simhash.fingerprint") + dur("simhash.pairs")), "clips/s"),
        "suffix.s": (dur("suffix"), "s"),
        "suffix.groups": (m["suffix.groups"], "count"),
        "suffix.quarantined_groups": (m["suffix.quarantined_groups"], "count"),
        "suffix.chars": (m["suffix.chars"], "count"),
        "suffix.matches": (m["suffix.matches"], "count"),
        "audio.signature_s": (dur("audio.signature"), "s"),
        "audio.pairs_s": (dur("audio.pairs"), "s"),
        "audio.bytes_decoded": (m["audio.bytes_decoded"], "B"),
        "audio.pairs": (m["audio.pairs"], "count"),
        "audio.clips_per_s": (n / (dur("audio.signature") + dur("audio.pairs")), "clips/s"),
        "suffix.clips_per_s": (n / dur("suffix"), "clips/s"),
        "index.plan_ms": (m["index.plan_ms"], "ms"),
        "index.exec_ms": (m["index.exec_ms"], "ms"),
        "index.candidates_per_query": (m["index.candidates_per_query"], "count"),
        "index.jobs_per_query": (
            statistics.mean(g.jobs for g in probe_jobs.values()) if probe_jobs else 0, "count"),
        "index.tasks_per_query": (
            statistics.mean(len(g.task_ms) for g in probe_jobs.values()) if probe_jobs else 0, "count"),
        # plain queries run in the warm-up and traced rounds only
        "index.query_p50_ms": (median(query_s) * 1000, "ms"),
        "index.query_p90_ms": (p90(query_s) * 1000, "ms"),
        "index.scored_query_p90_ms": (p90(s.get("scored_query", [])) * 1000, "ms"),
        "trace.untraced_round_s": (untraced_s, "s"),
        "trace.traced_round_s": (traced_s, "s"),
        "trace.overhead_s": (traced_s - untraced_s, "s"),
    }
    for stage in ("signatures", "bands", "candidates", "verified", "clusters"):
        out[f"pipeline.{stage}_s"] = (pm.get(stage, {}).get("wall_ms", 0) / 1000, "s")
    for name in ("round", "dedup", "simhash", "audio", "index"):
        out[f"self.{name}_s"] = (self_s(name), "s")
    for layer in LAYERS:
        st = per_layer[layer]
        out[f"spark.{layer}.task_s"] = (st.run_ms / 1000, "s")
        out[f"spark.{layer}.gc_s"] = (st.gc_ms / 1000, "s")
        out[f"spark.{layer}.spill_bytes"] = (st.spill_bytes, "B")
        out[f"spark.{layer}.skew"] = (st.skew(), "ratio")
        out[f"spark.{layer}.failed_tasks"] = (st.failed_tasks, "count")
    info["event_log_groups"] = {k: vars(v) | {"task_ms": len(v.task_ms)} for k, v in groups.items() if k}
    return out


def _environment() -> None:
    """Keep every file a run writes inside the checkout, and make the
    package importable in Spark's Python workers."""
    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "1500m")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p
    )


sys.path.insert(1, ROOT)  # the package under test, for this process
import corpus  # noqa: E402
import spans  # noqa: E402

checks = None  # imported by main() once the package is known to be there

if __name__ == "__main__":
    sys.exit(main())
