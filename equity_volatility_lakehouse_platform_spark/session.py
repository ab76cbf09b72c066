"""SparkSession factory.

Local-mode settings mirror what we'd set on a real cluster: AQE on (runtime
re-planning, skew-join handling, partition coalescing), shuffle partitions
sized to the parallelism actually available, Arrow for any pandas exchange.

The testdata parquet stores timestamps as INT64 TIMESTAMP(NANOS) which
Spark's vectorized reader rejects; ``spark.sql.legacy.parquet.nanosAsLong``
lets us read them as longs — ``sources.readers`` converts them back to
proper TimestampType columns (micros precision, identical values to what
DuckDB sees, verified in tests).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_TZ = "UTC"  # oracle comparisons are tz-naive; domain code converts
                    # to America/New_York explicitly via from_utc_timestamp.
_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(
    app_name: str = "evlp",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    tz: str = DEFAULT_TZ,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine SparkSession.

    ``cpus`` defaults to ``$SPARK_GRAFT_CPUS`` (driver contract) or all
    local cores. On a real cluster you'd drop ``master`` and size
    ``shuffle_partitions`` to ~2-3x total executor cores.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 4)

    checksummed_fs = os.environ.get("EVLP_LOCAL_FS_CHECKSUM") == "1"
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Split parquet scans at 16 MB so a table that arrives as one file
        # still fans out across the local threads (default 128 MB leaves a
        # multi-million-row file on ONE task); on a cluster this is sized
        # to executor memory per the same rule (SURVEY §4 / guide).
        .config(
            "spark.sql.files.maxPartitionBytes",
            os.environ.get("SPARK_MAX_PARTITION_BYTES", "16m"),
        )
        .config("spark.sql.session.timeZone", tz)
        # Fall back to the interpreted expression path for huge generated
        # methods (round 14): HotSpot never JIT-compiles methods over
        # 8000 bytecodes (-XX:+DontCompileHugeMethods is the default),
        # so a codegen stage past that point can run in the BYTECODE
        # INTERPRETER — measured 3.4x slower than Spark's interpreted
        # path on f20's 25-column rounding projection. The threshold is
        # 16000, not 8000, from a measured scan (8k/12k/16k/24k/48k/64k
        # at sf0.1): stages in the 8-16 KB range (d14/t02/d03 text
        # kernels) still win under codegen because their hot loops live
        # in JIT-able split methods, while f20's monolith (16-24 KB)
        # must fall back — f20 1.51 -> 0.71 s with the text queries at
        # their codegen-best. Scale-independent: a property of the JVM
        # and the generated code, not of data volume or core count.
        .config("spark.sql.codegen.hugeMethodLimit", "16000")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Python workers unpickle kernels that reference this package by
        # module path, and otherwise see only their cwd (the driver's):
        # put the repo root on their path so they import the package
        # whatever directory the driver runs from.
        .config("spark.executorEnv.PYTHONPATH", _REPO_ROOT)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Keep catalog/warehouse state out of the repo cwd (bucketed-table
        # queries create managed-table metadata; data goes to explicit paths).
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_WAREHOUSE_DIR", "/tmp/evlp-spark-warehouse"),
        )
        # Raw local filesystem for file:// I/O (round 15, guide §6):
        # Hadoop's default LocalFileSystem is CHECKSUMMED — every file
        # write also writes a .crc sidecar and every read re-verifies
        # it. For this engine's file:// surfaces (streaming checkpoint
        # + state-store delta files, ACID table data/manifest files,
        # scratch parquet) that doubles the small-file count on the
        # hot commit path; the interleaved whole-process A/B measured
        # snk09 0.6x, snk10 0.55x, st14/st21 ~0.9x with bit-identical
        # results. Cluster-neutral: hdfs:///s3a:// paths resolve their
        # own implementations (HDFS datanodes own integrity there), so
        # this only governs local-disk I/O, where the kernel's page
        # cache + device CRCs already cover the integrity story the
        # sidecars duplicate. EVLP_LOCAL_FS_CHECKSUM=1 restores the
        # checksummed default (applied below, outside the chain).
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.extraJavaOptions", "-Dlog4j2.level=error")
    )
    if not checksummed_fs:
        builder = builder.config(
            "spark.hadoop.fs.file.impl",
            "org.apache.hadoop.fs.RawLocalFileSystem",
        ).config(
            "spark.hadoop.fs.AbstractFileSystem.file.impl",
            "org.apache.hadoop.fs.local.RawLocalFs",
        )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark
