"""SparkSession factory with scale-oriented defaults.

The reference tunes SQLite PRAGMAs and a 4-thread pool; our equivalents
are explicit shuffle-partition control, AQE (runtime coalescing +
skew-join splitting), and Arrow batching for the vectorized-UDF path —
the three knobs the north rule requires to be explicit. Cores and driver
memory default to what the host has.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"))
#: driver heap as a share of host RAM, and its ceiling. local mode runs
#: the executors inside the driver JVM; Python workers, the page cache
#: and off-heap buffers need the rest.
DRIVER_MEM_FRACTION = 0.4
DRIVER_MEM_CAP_MB = 48 * 1024


def default_cpus() -> str:
    """``SPARK_GRAFT_CPUS``, else the CPUs this process may run on."""
    if "SPARK_GRAFT_CPUS" in os.environ:
        return os.environ["SPARK_GRAFT_CPUS"]
    if hasattr(os, "sched_getaffinity"):
        return str(len(os.sched_getaffinity(0)))
    return str(os.cpu_count() or 1)


def default_driver_memory() -> str:
    """``SPARK_GRAFT_DRIVER_MEM``, else DRIVER_MEM_FRACTION of physical
    RAM capped at DRIVER_MEM_CAP_MB: a fixed large heap lets the JVM
    grow past what a small host has until the kernel kills it."""
    if "SPARK_GRAFT_DRIVER_MEM" in os.environ:
        return os.environ["SPARK_GRAFT_DRIVER_MEM"]
    total_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    return f"{min(DRIVER_MEM_CAP_MB, int(total_mb * DRIVER_MEM_FRACTION))}m"


def get_spark(
    app_name: str = "music_dedupe_spark",
    cpus: str | int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for this engine.

    In production this runs under ``spark-submit --py-files`` on a real
    cluster and ``master`` comes from the submit command; locally we run
    ``local[N]``. All settings below are cluster-safe.
    """
    cpus = str(cpus or default_cpus())
    shuffle_partitions = shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        # explicit shuffle control (north rule): size to cores locally,
        # to ~2-3x total cores on a real cluster.
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # AQE: runtime partition coalescing + skew-join splitting. At
        # 100 TB hot blocking keys (empty files, LICENSE, __init__.py)
        # produce skewed join sides; AQE splits them after the fact, our
        # blocking layer salts/caps them before the fact.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Arrow for every pandas UDF / applyInPandas / mapInPandas hop.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # shuffle/spill codec (round-6 A/B, BENCH/ab_conf_r06.json):
        # zstd trades a little CPU for a markedly better ratio — fewer
        # shuffle bytes is what a bandwidth-bound cluster pays for, and
        # it measured neutral-to-positive locally. Env-overridable for
        # probes (SPARK_GRAFT_IO_CODEC=lz4 restores the old default).
        .config(
            "spark.io.compression.codec",
            os.environ.get("SPARK_GRAFT_IO_CODEC", "zstd"),
        )
        # let the planner pick shuffled-hash join where its size checks
        # pass instead of defaulting to sort-merge (no sort pass; the
        # blocking layer caps partition-level build sides, and AQE's
        # skew handling still applies) — guide-recommended baseline.
        .config(
            "spark.sql.join.preferSortMergeJoin",
            os.environ.get("SPARK_GRAFT_PREFER_SMJ", "false"),
        )
        # scalar @udf hops (none on data paths, but entry glue) cross
        # as Arrow batches instead of pickled rows
        .config("spark.sql.execution.pythonUDF.arrow.enabled", "true")
        # deterministic timestamps vs the DuckDB oracle
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", default_driver_memory())
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    _ship_package(spark)
    return spark


def _ship_package(spark: SparkSession) -> None:
    """Ship this package to the executors (the ``spark-submit
    --py-files`` contract from the north rule, self-applied): without
    it, Python workers spawned outside the repo directory fail to
    unpickle our pandas UDFs with ModuleNotFoundError."""
    import zipfile

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    zip_path = os.path.join(
        os.environ.get("TMPDIR", "/tmp"), "music_dedupe_spark_pyfiles.zip"
    )
    if not os.path.exists(zip_path) or os.path.getmtime(zip_path) < max(
        (os.path.getmtime(os.path.join(r, f)) for r, _, fs in os.walk(pkg_dir) for f in fs),
        default=0,
    ):
        with zipfile.ZipFile(zip_path + ".tmp", "w") as z:
            for root, _, names in os.walk(pkg_dir):
                if "__pycache__" in root:
                    continue
                for name in names:
                    if name.endswith(".py"):
                        full = os.path.join(root, name)
                        rel = os.path.relpath(full, os.path.dirname(pkg_dir))
                        z.write(full, rel)
        os.replace(zip_path + ".tmp", zip_path)
    spark.sparkContext.addPyFile(zip_path)
