"""SparkSession factory with the engine's scale-oriented defaults.

Local-mode knobs mirror what the same code needs on a real cluster: AQE on
(runtime shuffle-partition coalescing + skew-join splitting), Arrow enabled
for the few Pandas-UDF paths, shuffle partitions sized to the parallelism
actually available rather than the 200 default.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import SparkSession


def _prod_configs() -> dict[str, str]:
    """100 TB-deployment codec settings, promoted from the r14 config
    sweep's prose recommendation into code (guide §2.3/§6): parquet
    zstd (smaller at-rest than snappy at similar read speed) and
    shuffle io zstd (better ratio than lz4 for the bytes that cross
    the network). EMPTY — Spark defaults — unless ``SPARK_GRAFT_PROD``
    is set truthy, so bench numbers stay comparable with the recorded
    per-key minima: at bench scale the suite is CPU-bound on tiny
    files and codec changes moved totals inside noise (measured r14);
    at cluster scale shuffle/scan bytes dominate and both belong on."""
    if os.environ.get("SPARK_GRAFT_PROD", "0") in ("", "0"):
        return {}
    return {
        "spark.sql.parquet.compression.codec": "zstd",
        "spark.io.compression.codec": "zstd",
    }


def _driver_memory() -> str:
    """``SPARK_DRIVER_MEMORY`` if set, else half the host's physical RAM.
    In local mode the driver JVM runs every task; the other half is left
    to the Python process, its workers and the OS."""
    env = os.environ.get("SPARK_DRIVER_MEMORY")
    if env:
        return env
    host = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(host // 2 // 2**20, 1024)}m"


def _host_configs() -> dict[str, str]:
    """The settings that depend on the host: the driver heap, and the
    catalog's warehouse and derby metastore dirs under the system temp
    dir (``TMPDIR``), out of the repository."""
    tmp = tempfile.gettempdir()
    return {
        "spark.driver.memory": _driver_memory(),
        # bucketed tables (sources.writer.write_bucketed) need a catalog
        "spark.sql.warehouse.dir": os.path.join(tmp, "tiny_md_hbase_spark_warehouse"),
        # the codegen'd kernels (minhash/simhash/shingle expressions) emit
        # large methods; the JVM's default 240 MB code cache fills after a
        # dozen such queries and the JIT silently stops compiling — every
        # later query then runs interpreted (measured 20x slowdowns).
        # -DontCompileHugeMethods: whole-stage codegen regularly emits
        # methods over HotSpot's 8k-bytecode JIT refusal limit; without
        # this they run interpreted forever (observed 4-5x swings on the
        # pair-verify kernels depending on how large the fused method
        # happened to be)
        "spark.driver.extraJavaOptions": "-XX:ReservedCodeCacheSize=1g -XX:-DontCompileHugeMethods "
        f"-Dderby.system.home={os.path.join(tmp, 'tiny_md_hbase_spark_metastore')}",
    }


def get_spark(app_name: str = "tiny_md_hbase_spark", cpus: int | None = None) -> SparkSession:
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or (os.cpu_count() or 8)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.maxMetadataStringLength", "2000")
        # the driver fixtures store TIMESTAMP(NANOS), which the parquet
        # reader rejects natively; read as long (ns since epoch) and convert
        # explicitly where timestamp semantics are needed
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    for key, val in {**_host_configs(), **_prod_configs()}.items():
        builder = builder.config(key, val)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
