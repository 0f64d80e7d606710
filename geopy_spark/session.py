"""SparkSession builder with the engine's scale-oriented defaults.

Settings chosen for the 100 TB design point (SURVEY.md §4): AQE on with
skew-join splitting (second layer behind explicit hot-cell salting),
Arrow-batched Python UDFs sized so an image batch stays ~64-128 MB,
shuffle partitions scaled with cores.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _user() -> str:
    try:
        import getpass
        return getpass.getuser()
    except Exception:
        return f"uid{os.getuid()}"


def get_spark(app: str = "geopy_spark", cores: int | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        shuffle_partitions = max(cores * 2, 32)
    # one BLAS thread per python worker: N workers x unbounded OpenBLAS
    # pools thrash the box (measured 6-12x slowdown on 32-slot UDF stages);
    # task-level parallelism comes from Spark, not from nested BLAS
    for v in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS",
              "NUMEXPR_NUM_THREADS", "VECLIB_MAXIMUM_THREADS"):
        os.environ.setdefault(v, "1")
    # make the engine importable by python workers (warm_daemon below)
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pp = os.environ.get("PYTHONPATH", "")
    if repo_root not in pp.split(os.pathsep):
        os.environ["PYTHONPATH"] = f"{repo_root}{os.pathsep}{pp}" if pp else repo_root
    return (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # persisted frames otherwise materialize with the static shuffle
        # partition count (AQE partition coalescing is disabled below a
        # cache by default) — tiny cached aggregates like DBSCAN's
        # neighbor counts then run every consumer stage at full
        # shuffle.partitions width for kilobytes of data
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
                "true")
        # NOTE: a warm-import daemon (workers forking with pandas preloaded)
        # was tried and REVERTED — forking a ~300MB address space per slot
        # per stage produced kernel-time storms (16-21% system CPU) that
        # cost more than the per-worker imports it saved. Plain daemon +
        # worker reuse is the fastest measured configuration.
        .config("spark.python.worker.reuse", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # input-split sizing: small enough that multi-file bench inputs fan
        # out across cores, big enough that each task amortizes the Arrow
        # python round-trip (measured: 8MB splits -> 235 tasks x ~1k rows
        # burned ~70 core-s of pipe overhead on a 300k-row stage)
        .config("spark.sql.files.maxPartitionBytes",
                os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", str(32 * 1024 * 1024)))
        .config("spark.sql.files.openCostInBytes", str(4 * 1024 * 1024))
        # image payloads make Arrow batches heavy (rows x multi-KB bytes);
        # 2048 rows keeps per-task transfer ~tens of MB so slots x batches
        # fit comfortably in memory at high parallelism
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # local mode: the driver JVM IS the executor — heap must scale with
        # task slots or GC thrash anti-scales UDF stages (measured 3-8x at
        # 16 slots on an 8g heap with binary payloads)
        .config("spark.driver.memory",
                os.environ.get("SPARK_GRAFT_DRIVER_MEM", f"{max(8, cores)}g"))
        # UI off for bench/test runs (port churn + event-log overhead);
        # tools/profile_ops.py reads job and SQL metrics without it
        .config("spark.ui.enabled", "false")
        # saveAsTable (bucketed tables) must never drop files into the
        # repo tree; per-user default because a fixed shared /tmp path
        # collides across concurrent users on a multi-tenant host
        # (ADVICE r2) — explicit LOCATION databases override this anyway
        .config("spark.sql.warehouse.dir",
                os.environ.get("SPARK_GRAFT_WAREHOUSE",
                               f"/tmp/geopy_spark_warehouse_{_user()}"))
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )


def load_table(spark: SparkSession, sf_dir: str, name: str):
    # NOTE (optimization round): an automatic round-robin "spread" of
    # single-row-group scans to defaultParallelism was tried here and
    # REVERTED on measurement — with the encode and disk fan-out now in
    # pure Column codegen, the map work above these scans is too cheap
    # to amortize the extra exchange (A/B medians of 5 at sf0.1:
    # spatial_join 1.12s plain vs 1.47s spread, knn 2.45 vs 3.57,
    # within_distance 1.10 vs 1.20, minhash 1.67 vs 3.53).
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


TPCH_TABLES = ("region", "nation", "customer", "supplier", "part",
               "orders", "lineitem", "events", "documents", "embeddings")
