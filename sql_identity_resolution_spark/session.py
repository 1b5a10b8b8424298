"""SparkSession builder tuned for this engine.

Mirrors the reference's recommended engine settings
(``/root/reference/sql/databricks/optimize_tables.sql:94-106``: AQE on, shuffle
partitions sized to the data, optimized writes) translated to OSS Spark, plus the
settings this engine itself relies on (Arrow batches for pandas UDFs, UTC session
timezone so results hash-compare against DuckDB oracles).
"""

from __future__ import annotations

import os
import threading

from pyspark.sql import SparkSession

# applications whose python-worker pool was already warmed (getOrCreate can
# hand the same SparkContext to many build_session callers — warm once)
_WARMED_APPS: set[str] = set()


def _passthrough_batches(it):
    for pdf in it:
        yield pdf


def _warm_python_workers(spark: SparkSession, n_workers: int) -> None:
    """Fork + import-warm the python worker pool with one tiny mapInPandas
    job (one 1-row task per core). The first pandas-UDF action otherwise pays
    daemon launch + n_cores worker forks + per-worker Arrow/serializer setup
    inside whatever query happens to run it (~2.5 s wall at local[32] quiet,
    up to ~10 s under CPU contention — measured round 6). Runs from a daemon
    thread at session build so it overlaps driver-side setup instead of a
    measured query; job-group tagging is thread-local, so pipeline stage
    attribution is unaffected."""
    try:
        spark.sparkContext.setJobDescription("python-worker warmup")
        df = spark.range(0, n_workers, 1, n_workers)
        df.mapInPandas(_passthrough_batches, "id long").write.format("noop").mode(
            "overwrite"
        ).save()
    except Exception:
        pass  # session stopped mid-warmup or noop source unavailable


def _resolve_master(master: str | None) -> str:
    """The master the session runs on: the caller's; else the one a launcher
    submitted (``--master`` in ``PYSPARK_SUBMIT_ARGS``, or the conf of the
    spark-submit JVM this process was started from); else
    ``local[$SPARK_GRAFT_CPUS]`` (or ``local[*]``). ``build_session``'s
    local-only settings key off the result, so a submitted cluster master
    never gets them."""
    if master:
        return master
    args = os.environ.get("PYSPARK_SUBMIT_ARGS", "").split()
    for i, arg in enumerate(args):
        if arg == "--master" and i + 1 < len(args):
            return args[i + 1]
        if arg.startswith("--master="):
            return arg.split("=", 1)[1]
    if os.environ.get("PYSPARK_GATEWAY_PORT"):
        # started by spark-submit: its JVM already holds the submitted conf
        from pyspark import SparkConf, SparkContext

        SparkContext._ensure_initialized()
        submitted = SparkConf().get("spark.master", None)
        if submitted:
            return submitted
    return f"local[{os.environ.get('SPARK_GRAFT_CPUS', '*')}]"


def build_session(
    app_name: str = "sql_identity_resolution_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or get) a SparkSession with the engine's defaults.

    ``master=None`` takes the master spark-submit was given and otherwise
    defaults to ``local[$SPARK_GRAFT_CPUS]`` (or ``local[*]``); on a real
    cluster pass ``None`` via spark-submit and these settings become
    cluster-side defaults (see ``_resolve_master``).
    """
    master = _resolve_master(master)
    if shuffle_partitions is None:
        # local mode: ~cores, not the 200 default (right-sized for tests);
        # cluster mode: leave to AQE coalescing from a higher initial value.
        n = os.cpu_count() or 8
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE", str(min(64, n * 2))))

    # make this package importable in executor python workers (pandas UDFs
    # pickle references to it). On clusters, ship via spark-submit --py-files;
    # locally/PYTHONPATH covers forked workers.
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if pkg_root not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = pkg_root + (os.pathsep + existing if existing else "")

    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.executorEnv.PYTHONPATH", os.environ["PYTHONPATH"])
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # AQE's 1m minPartitionSize floor collapses any sub-1MB shuffle to ONE
        # task regardless of cores — which serializes small-byte CPU-HEAVY
        # stages (measured: the 4k-convs signature build ran its 2.8 s of
        # vectorized-minhash python in a single task; entity_extraction
        # 2.9 -> 0.9 s and edge_building 4.6 -> 3.3 s at 64k, paired A/B).
        # Scale-invariant: at corpus scale per-partition bytes dwarf this
        # floor, so large-shuffle plans are untouched.
        .config(
            "spark.sql.adaptive.coalescePartitions.minPartitionSize",
            os.environ.get("SPARK_GRAFT_AQE_MIN_PARTITION", "64k"),
        )
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.ui.enabled", os.environ.get("SPARK_GRAFT_UI", "false"))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
        # broadcast threshold: metadata tables (rules/exclusions/trust) are tiny and
        # must broadcast; 64MB keeps dimension joins shuffle-free.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # text-heavy shuffles (signatures, candidate-pair scoring) are disk-IO
        # bound on local shuffle storage; zstd roughly halves bytes vs lz4
        .config("spark.io.compression.codec", "zstd")
        .config("spark.io.compression.zstd.level", "1")
    )
    # local masters: fork python workers from a daemon that already imported
    # numpy/pandas/pyarrow (COW-shared) — the first pandas-UDF action otherwise
    # pays ~4.3 CPU-seconds of imports in EACH of the n_cores workers it
    # spawns (measured: first-action wall 4.3 -> 2.5 s at local[32]). Scoped
    # to local* masters because the daemon module must be importable at
    # executor-python startup (PYTHONPATH above guarantees that here; on a
    # cluster, ship the package and opt in via spark.python.daemon.module).
    if master.startswith("local") and os.environ.get("SPARK_GRAFT_DAEMON_PRELOAD", "1") != "0":
        builder = builder.config(
            "spark.python.daemon.module", "sql_identity_resolution_spark.daemon_preload"
        )
    # local masters: skip Hadoop's ChecksumFileSystem for file:// — it writes
    # (and verifies) a .crc sidecar per file, which doubles filesystem ops on
    # bucketed stores (one parquet file per bucket; measured 15-25% off a
    # 256-bucket commit). Matches object-store deployments, where the
    # warehouse scheme has no client-side checksum layer either.
    if master.startswith("local") and os.environ.get("SPARK_GRAFT_RAW_LOCAL_FS", "1") != "0":
        builder = builder.config(
            "spark.hadoop.fs.file.impl", "org.apache.hadoop.fs.RawLocalFileSystem"
        )
    # local masters: reading a bucketed store passes one path per bucket;
    # above this path count Spark runs a DISTRIBUTED file-listing job — one
    # task per path, ~0 compute, ~0.5 s of pure task scheduling per
    # 256-bucket read (measured; several reads per INCR run). Driver-side
    # listing of direct-filesystem paths is microseconds, so lift the
    # threshold. Cluster masters keep Spark's default: on an object store a
    # LIST call is a slow RPC and distributed listing pays off.
    if master.startswith("local"):
        builder = builder.config(
            "spark.sql.sources.parallelPartitionDiscovery.threshold",
            os.environ.get("SPARK_GRAFT_LIST_THRESHOLD", "4096"),
        )
    # ad-hoc conf injection for experiments/deployments without code changes:
    # SPARK_GRAFT_EXTRA_CONF="spark.foo=1;spark.bar=2"
    env_conf = os.environ.get("SPARK_GRAFT_EXTRA_CONF")
    if env_conf:
        for kv in env_conf.split(";"):
            if "=" in kv:
                k, v = kv.split("=", 1)
                builder = builder.config(k.strip(), v.strip())
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    if master.startswith("local") and os.environ.get("SPARK_GRAFT_WORKER_WARMUP", "1") != "0":
        app_id = spark.sparkContext.applicationId
        if app_id not in _WARMED_APPS:
            _WARMED_APPS.add(app_id)
            n = spark.sparkContext.defaultParallelism or (os.cpu_count() or 8)
            threading.Thread(
                target=_warm_python_workers, args=(spark, n), daemon=True
            ).start()
    return spark
