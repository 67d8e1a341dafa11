"""SparkSession factory with scale-oriented defaults.

All engine entry points accept an externally-created session; this helper
exists so tests, the benchmark and the CLI agree on configuration. The
defaults are the ones that matter at 100 TB:

* AQE on (runtime re-plan, skew-join splitting, partition coalescing),
* Arrow on (every Python-side UDF in this engine is a vectorized
  pandas/Arrow UDF — there are no row-at-a-time Python UDFs),
* shuffle partitions sized to the core count by default (callers running
  on a real cluster should size to 2-3x total cores),
* no per-call call-site capture. With
  ``spark.python.sql.dataFrameDebugging.enabled`` on (PySpark's default),
  every DataFrame and Column call walks the Python stack (importing
  IPython on first use, about 0.5 s) and makes extra py4j round trips,
  so that an error raised inside a query (say an ANSI ``DIVIDE_BY_ZERO``)
  can point at the Python line that built the failing expression. Off,
  such an error does not point at that line. To get it back, set the key
  to ``"true"`` in ``extra_conf`` of the first ``get_spark`` of the
  process: PySpark reads the setting once, at the first Column call.
"""

from __future__ import annotations

import hashlib
import os
import tempfile
import zipfile

from pyspark.sql import SparkSession

__all__ = ["default_driver_memory", "get_spark", "package_zip", "ship_package"]


def package_zip() -> str:
    """Path of a zip of this package's sources, named after their hash, in
    the temp dir; written only when missing, so checkouts that share a
    temp dir never overwrite each other's zip. The ``--py-files`` file
    of a ``spark-submit``."""
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    sources = sorted(
        os.path.relpath(os.path.join(root, fname), pkg_dir)
        for root, _dirs, files in os.walk(pkg_dir)
        if "__pycache__" not in root
        for fname in files
        if fname.endswith(".py")
    )
    digest = hashlib.sha256()
    for rel in sources:
        digest.update(rel.encode() + b"\0")
        with open(os.path.join(pkg_dir, rel), "rb") as fh:
            digest.update(fh.read() + b"\0")
    zip_path = os.path.join(
        tempfile.gettempdir(),
        f"jgtextrank_spark-{digest.hexdigest()[:16]}.zip",
    )
    if not os.path.exists(zip_path):
        tmp = f"{zip_path}.{os.getpid()}.tmp"
        with zipfile.ZipFile(tmp, "w") as zf:
            for rel in sources:
                zf.write(
                    os.path.join(pkg_dir, rel),
                    os.path.join("jgtextrank_spark", rel),
                )
        os.replace(tmp, zip_path)
    return zip_path


def ship_package(spark: SparkSession) -> str:
    """Ship this package to the executors' Python workers — the
    ``spark-submit --py-files`` story, automated. Registers
    ``package_zip()`` with ``addPyFile``, once per SparkContext, so
    pandas-UDF closures that reference the package resolve on every
    worker regardless of the driver's cwd/sys.path."""
    zip_path = package_zip()
    sc = spark.sparkContext
    if os.path.basename(zip_path) not in sc._python_includes:
        sc.addPyFile(zip_path)
    return zip_path


def default_driver_memory() -> str:
    """``min(32g, half of physical RAM)``. 32g is right for a 128 GiB box,
    but the JVM grows its heap toward the cap before collecting hard: on
    a 16 GiB machine a 32g cap let the test suite's JVM pass 10 GiB of
    resident memory within three minutes, leaving the machine to kill
    it. Half of RAM leaves room for the Python workers."""
    total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{min(32 * 1024, total // 2**21)}m"


def get_spark(
    master: str | None = None,
    app_name: str = "jgtextrank-spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (or ``local[*]``)
    for the sandbox; on a cluster pass ``None`` and let spark-submit decide.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        if master.startswith("local["):
            inner = master[len("local[") : -1]
            shuffle_partitions = 32 if inner == "*" else max(8, int(inner))
        else:
            shuffle_partitions = 200

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # local mode: the driver JVM IS the executor, so its heap must be
        # sized for executor-style work (cached adjacencies + shuffle +
        # broadcast churn across hundreds of supersteps). 8g forced tight
        # GC cycles on the 30M-edge bench graphs; see default_driver_memory
        # for the cap on smaller machines. Overridable per deployment
        # (SPARK_DRIVER_MEM). On a real cluster the driver does no data
        # work and can stay small — size executors instead.
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEM") or default_driver_memory(),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    ship_package(spark)
    return spark
