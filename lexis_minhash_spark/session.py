"""SparkSession factory with scale-oriented defaults.

Settings chosen for the 100 TB design point (and harmless locally):
- AQE on (runtime partition coalescing + skew-join splitting — our band
  self-join is the skew hotspot, SURVEY.md §4.2)
- shuffle partitions sized for local[32] tests; a real cluster overrides
  via spark-submit conf
- Arrow enabled + bounded batch size so pandas-UDF kernel blocks stay in
  executor memory
"""

from __future__ import annotations

import os

import pandas as pd  # module-level: _maybe_warm's UDF annotations resolve here
from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "lexis-minhash-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    # one python worker per core already; nested BLAS threading inside the
    # pandas-UDF kernels only oversubscribes (workers inherit driver env)
    os.environ.setdefault("OPENBLAS_NUM_THREADS", "1")
    os.environ.setdefault("OMP_NUM_THREADS", "1")
    master = master or f"local[{os.environ.get('SPARK_GRAFT_CPUS') or len(os.sched_getaffinity(0))}]"
    shuffle_partitions = shuffle_partitions or int(
        os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32")
    )
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # AQE's coalescing floor: with the default 1m floor, small CPU-dense
        # post-shuffle stages (candidate-pair expansion, verify, distinct)
        # coalesce to a fraction of the available cores (measured: the 18 MB
        # verify exchange ran on 16 of 32 cores; a 6 MB ngram posting stage
        # on 6).  128k keeps parallelismFirst's target honest for small
        # stages while still merging sub-128k fragments.  Scale-neutral: at
        # production shuffle sizes (≥ advisory 64m per partition) the floor
        # never binds; override via SPARK_GRAFT_AQE_MIN_PARTITION for
        # network-bound clusters where fewer, larger partitions win.
        .config(
            "spark.sql.adaptive.coalescePartitions.minPartitionSize",
            os.environ.get("SPARK_GRAFT_AQE_MIN_PARTITION", "128k"),
        )
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # AQE re-picks the join strategy from ACTUAL post-shuffle sizes, so
        # a larger adaptive threshold is low-risk and high-value here: the
        # verify join's deduped pair list routinely lands just above the
        # 10 MB default (measured 13 MB at 1M clips), and missing the
        # broadcast conversion costs a full exchange+sort of the signature
        # table (measured 115 s vs 41.5 s).  Static threshold unchanged —
        # pre-shuffle size estimates are unreliable.
        .config("spark.sql.adaptive.autoBroadcastJoinThreshold", "64m")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    _maybe_warm(spark, master)
    return spark


def _parse_local_cores(master: str) -> int:
    if master.startswith("local["):
        inner = master[len("local[") : master.index("]")]
        if inner == "*":
            return os.cpu_count() or 1
        try:
            return int(inner)
        except ValueError:
            return 0
    return 0


_WARMED_APPS: set[str] = set()


def _maybe_warm(spark: SparkSession, master: str) -> None:
    """One-time engine warm-up at session construction.

    A freshly started application pays its JIT/codegen/worker-pool costs
    inside whatever query happens to run first: the Python worker pool
    (one interpreter per core, importing numpy/pandas/pyarrow), the
    ArrowEvalPython serialization paths, and the interpreter/JIT warm-up
    of the parser, analyzer, codegen'd exchange/aggregate/join/explode
    operators (measured ~9 s of first-query latency on a 32-core local
    master, ~0 steady-state).  A long-lived service does this once at
    startup; doing it in the session factory keeps every first real query
    at steady-state cost.  No input data is touched and nothing is cached
    — this exercises only engine code paths over `spark.range` rows.

    Enabled for wide local masters (>= 16 cores) where the worker-pool
    spin-up dominates; tests and small utility sessions skip it.  Opt out
    with LEXIS_SESSION_WARMUP=0.
    """
    cores = _parse_local_cores(master)
    if cores < 16 or os.environ.get("LEXIS_SESSION_WARMUP", "1") == "0":
        return
    app_id = spark.sparkContext.applicationId
    if app_id in _WARMED_APPS:
        return
    _WARMED_APPS.add(app_id)

    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    # compile the fused native kernel cache entry (if a C compiler exists)
    # BEFORE the Python worker pool spins up, so workers dlopen a ready .so
    # instead of racing 32 concurrent compiles on first use
    try:
        from lexis_minhash_spark import kernels_native as _KN

        _KN.load()
    except Exception:
        pass

    sc = spark.sparkContext
    sc.setJobDescription("session warm-up (engine code paths only)")
    try:
        # NB: `from __future__ import annotations` makes these hints
        # strings; pandas_udf resolves them against the MODULE globals, so
        # pd must be imported at module level (it is, above)
        @pandas_udf("v long, w long")
        def _warm_struct(s: pd.Series) -> pd.DataFrame:
            return pd.DataFrame({"v": s, "w": s})

        # one task per core so the whole Python worker pool forks and
        # imports its scientific stack now, not inside the first real query
        r = spark.range(0, cores * 64, 1, cores).withColumnRenamed("id", "k")
        small = spark.range(0, 100).withColumnRenamed("id", "k")
        (
            r.select("k", _warm_struct("k").alias("s"))
            .select("k", F.col("s.v").alias("v"))
            .join(small, "k", "left")
            .groupBy((F.col("k") % 7).alias("g"))
            .agg(F.count(F.lit(1)).alias("n"), F.collect_list("v").alias("l"))
            .orderBy("g")
            .write.format("noop")
            .mode("overwrite")
            .save()
        )
        # HOF transform/explode + distinct (the candidate-expansion shape)
        (
            spark.range(0, 1000)
            .select(
                F.explode(
                    F.expr("transform(sequence(1, 3), i -> struct(i as a, i as b))")
                ).alias("p")
            )
            .select("p.a")
            .distinct()
            .write.format("noop")
            .mode("overwrite")
            .save()
        )
    except Exception:
        # warm-up must never break session construction
        pass
    finally:
        sc.setJobDescription(None)
