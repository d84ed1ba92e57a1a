"""SparkSession factory tuned for this engine.

Local-mode defaults that still encode the cluster posture:

- AQE on (coalesce shuffle partitions, split skewed joins, re-plan at
  shuffle boundaries) — at 100 TB this is what keeps a bad static plan
  from burning the cluster.
- ``spark.sql.shuffle.partitions`` sized to cores locally; on a real
  cluster this would be ~2-3x total executor cores (AQE coalesces down).
- Arrow on: every pandas exchange (the antidote gradient carrier, the
  multimodal UDFs) crosses the Python boundary in columnar batches.
- Session timezone pinned to UTC so timestamp semantics are identical
  to the DuckDB oracle and independent of host TZ.
- DataFrame debugging off (``spark.python.sql.dataFrameDebugging.enabled``,
  a constant).  With it on, PySpark wraps every Column call so that it
  looks up the active session, reads a conf, walks the Python stack,
  tries ``import ipykernel`` and sets and clears the call-site origin
  in the JVM over py4j.  One cold q_antidote_loop (sf0.01, 4 cores)
  made 11,939 driver->JVM py4j calls with it on and 3,558 with it off.
  What is lost is the Python file:line in DataFrame error contexts,
  which no query or test reads.
- Driver JIT compiler pool capped at 2 threads (``-XX:CICompilerCount=2``:
  1 C1 + 1 C2, the floor HotSpot allows with tiered compilation) on
  hosts whose driver sees at most 4 cores, the only size it was
  measured at.  There HotSpot's default pool is 1 C1 + 2 C2 (already
  1 + 1 below 4 cores).  At 8 cores it is 4 threads and at 32 cores
  15, so the cap would remove far more than one C2 thread, unmeasured;
  larger hosts keep HotSpot's pool.  The rule reads the core affinity,
  not ``SPARK_GRAFT_CPUS``, and has no override.  On 4 vCPU a cold
  perfbench ``recsys`` pass with the default pool spent 47.6 s of the
  JVM's 97.6 s CPU in C2.  With one C2 thread every hot method is
  still compiled at full quality, hottest first, and queued methods
  that went cold are dropped instead of compiled.  Medians of 10 runs
  each way: C2 CPU 47.6 -> 29.9 s and ``cpu_s`` 75.0 -> 61.4 s on
  ``recsys``, 42.1 -> 26.7 s and 69.9 -> 55.8 s on ``pipeline``;
  ``wall_s`` flat to lower; task-thread CPU rises (11.7 -> 14.2 s) as
  hot code waits longer for C2.  Long sessions of many distinct
  queries can pay in wall time: on a loaded 4-core host a full
  306-query ``bench.py`` sweep at sf0.01 took 307.5 -> 324.8 s (+5.6%,
  medians of 5 alternating pairs, slower in all 5), mostly in the
  first fifth of the sweep.  On the same host idle, 3 pairs read
  130.0 -> 127.9 s (CHANGES.md).  The flag goes through
  ``spark.driver.defaultJavaOptions``, which spark-submit prepends to
  the user's options; ``extraJavaOptions`` is silently replaced by
  ``--driver-java-options`` (perfbench passes it), so the flag would
  vanish there.  Rejected after measuring: ``-XX:TieredStopAtLevel=1``
  (C1 only; larger frames overflow the stack inside an ALS task),
  tier-4 thresholds raised 3x (``recsys`` ``cpu_s`` only -10.8%), the
  cap plus raised thresholds (~2 s more on ``pipeline`` for four more
  flags), and ``-XX:Tier4LoadFeedback=1`` with the default pool (C2
  CPU 44 s against 45 s).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


# Largest core count at which the driver's JIT pool is capped, the
# only size it was measured at (module docstring).
_JIT_CAP_MAX_CORES = 4


def _driver_jit_options(cores: int) -> str:
    """Driver JVM JIT flags for a host whose driver sees ``cores``."""
    return "-XX:CICompilerCount=2" if cores <= _JIT_CAP_MAX_CORES else ""


def get_spark(app_name: str = "antidote_data_framework_spark") -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        # Initial shuffle-partition count: cores locally (the driver's
        # bench posture, unchanged), overridable for bigger inputs.
        # The r12 scale curve's byte columns showed WHY the override
        # matters: at the 27x synthetic point the pair-expansion family
        # spills tens of GB (q_item_item_cosine 84 GB, q_slopeone_rmse
        # 54 GB disk+mem) because 32 partitions give each task a
        # multi-GB sort buffer — AQE can only coalesce DOWN from the
        # initial count, and uniform oversize partitions never trip the
        # skew-join splitter.  On a real cluster this is ~2-3x total
        # executor cores (AQE coalesces down); the scale harness's
        # 27x A/B measuring the spill removal is in SCALE.md §Round-12.
        .config(
            "spark.sql.shuffle.partitions",
            os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", str(cpus)),
        )
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # AQE's coalescing floor models cost as BYTES, which is right
        # for JVM stages and wrong for CPU-bound stages over small-byte
        # rows: the 2 MB events shuffle coalesced to 1-2 partitions, so
        # per-key Python folds (the mapInPandas Holt stream-fold, the
        # applyInPandas chunked carries) and iterative join loops
        # (PageRank) ran on 2 of 32 cores.  A 64k floor lets
        # tiny-byte/CPU-heavy stages keep their parallelism (measured:
        # q_holt_linear 6.5->2.6 s, q_graph_pagerank 7.2->2.8 s at
        # sf0.1); large shuffles still coalesce toward the 64 MB
        # advisory size, and on a 100 TB cluster — where partition
        # bytes dwarf any floor — this setting is inert.
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Column calls skip the call-site capture (module docstring).
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        # Row-proportional demo results (per-row projections like
        # q_scalar_math_cond) exceed the 1g default when collected at
        # the synthetic 27x scale point (16.2M rows x 15 cols); 4g is
        # still a fraction of driver memory.  On a real cluster
        # results that large should land in a sink, not the driver.
        .config("spark.driver.maxResultSize", "4g")
        # UI off for the bench/test paths (driver-side listener and
        # HTTP overhead); the scale harness opts IN via env to read
        # per-stage shuffle/spill bytes from the status REST API
        # (r11 VERDICT #5) — the only metrics surface available
        # without a JVM-side listener.
        .config(
            "spark.ui.enabled",
            "true" if os.environ.get("SPARK_GRAFT_UI") == "1" else "false",
        )
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Pin BLAS/OpenMP to one thread per executor Python worker
        # (r12 VERDICT #2 / guide §4): the Arrow-batch numpy kernels
        # (q_als_recommend_ann's matmul, the antidote gradient stages,
        # PCA partials) run in up to `cpus` CONCURRENT Python workers —
        # a threaded BLAS inside each worker oversubscribes the box by
        # the BLAS thread count (this host's OpenBLAS is built
        # MAX_THREADS=2, so the local exposure is bounded at 2x; on a
        # production image with default OpenBLAS, 32 workers x 32 BLAS
        # threads is a 32x oversubscription collapse).  One thread per
        # worker is the correct posture whenever Spark owns the
        # parallelism.  Result-identical: the kernels' GEMM K-dims
        # (rank<=64) are never split across BLAS threads, so float
        # summation order is unchanged (goldens + oracle sweeps green).
        .config("spark.executorEnv.OPENBLAS_NUM_THREADS", "1")
        .config("spark.executorEnv.OMP_NUM_THREADS", "1")
        .config("spark.executorEnv.MKL_NUM_THREADS", "1")
        # The events fixture stores TIMESTAMP(NANOS), which Spark's parquet
        # reader rejects; read as epoch-nanos long, converted in the loader.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    jit = _driver_jit_options(len(os.sched_getaffinity(0)))
    if jit:
        # defaultJavaOptions survives --driver-java-options,
        # extraJavaOptions does not (module docstring).
        builder = builder.config("spark.driver.defaultJavaOptions", jit)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def clear_derived_caches(spark: SparkSession) -> None:
    """Drop every cross-query derived-state cache (fitted models,
    persisted intermediate DataFrames) so the next query run re-pays
    its eager work.  Used by bench.py between measurement sweeps: a
    sweep starts cold, and within a sweep the caches make cross-query
    sharing visible (q_als_rmse_gate rides q_als_train_predict's fit,
    the six social-metric queries share one bias-prediction pipeline)
    — exactly the cost structure a production session would have.

    Lazy plan HANDLES (sources.fixtures._DF_CACHE) and on-disk stream
    staging are fixture plumbing, not query work, and are NOT cleared.
    """
    from .ml import als, neighbors_cf, recsys_data
    from .operators import graph, lakehouse_ops, text, tokenizer

    lakehouse_ops._DEMO_TABLE_CACHE.clear()
    for vocab, _learned in tokenizer._BPE_CACHE.values():
        try:
            vocab.unpersist()
        except Exception:
            pass
    tokenizer._BPE_CACHE.clear()
    for df in neighbors_cf._SIMS_CACHE.values():
        try:
            df.unpersist()
        except Exception:
            pass
    neighbors_cf._SIMS_CACHE.clear()
    neighbors_cf._PACKABLE_CACHE.clear()
    for df in text._DEDUP_CACHE.values():
        try:
            df.unpersist()
        except Exception:
            pass
    text._DEDUP_CACHE.clear()
    for e, nodes, _n in graph._TRANSITION_CACHE.values():
        for df in (e, nodes):
            try:
                df.unpersist()
            except Exception:
                pass
    graph._TRANSITION_CACHE.clear()
    for df in list(graph._SUPPORT2_CACHE.values()) + list(
        graph._PAIR_CACHE.values()
    ):
        try:
            df.unpersist()
        except Exception:
            pass
    graph._SUPPORT2_CACHE.clear()
    graph._PAIR_CACHE.clear()

    for df in recsys_data._PRED_CACHE.values():
        try:
            df.unpersist()
        except Exception:
            pass
    recsys_data._PRED_CACHE.clear()
    for df in recsys_data._DISC_CACHE.values():
        try:
            df.unpersist()
        except Exception:
            pass
    recsys_data._DISC_CACHE.clear()
    for comps in recsys_data._COMPONENT_CACHE.values():
        for df in comps:
            try:
                df.unpersist()
            except Exception:
                pass
    recsys_data._COMPONENT_CACHE.clear()
    als._MODEL_CACHE.clear()
    als._TRAIN_COUNT_CACHE.clear()
    # Anything still pinned in the storage layer (MLlib internal caches,
    # stray persists) goes too — sweeps must not inherit warm blocks.
    spark.catalog.clearCache()
    # Streaming memory sinks accumulate one driver-held result table
    # per executed stream; dropping their temp views between sweeps
    # releases the only reference so the JVM can reclaim them.
    try:
        for t in spark.catalog.listTables():
            if t.name.startswith("mem_"):
                spark.catalog.dropTempView(t.name)
    except Exception:
        pass
