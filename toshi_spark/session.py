"""SparkSession factory with scale-aware defaults.

Local mode stands in for a multi-executor cluster in this sandbox; the
configuration below is what we would ship for a 1000-executor cluster
(AQE on, skew-join handling on, Arrow transfers on, shuffle partitions
sized to parallelism rather than the 200 default).
"""

from __future__ import annotations

import os
import tempfile
import zipfile

from pyspark.sql import DataFrame, Row, SparkSession


def ship_package(spark: SparkSession) -> None:
    """Make ``toshi_spark`` importable on executors from any cwd.

    The cluster deployment path is ``spark-submit --py-files
    toshi_spark.zip`` (north rule); for programmatic sessions this is
    the equivalent: zip the package and ``addPyFile`` it so Python
    workers can unpickle our UDFs regardless of the driver's cwd.
    """
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    zip_path = os.path.join(tempfile.gettempdir(), "toshi_spark_pyfiles.zip")
    src_mtime = 0.0
    for root, _dirs, files in os.walk(pkg_dir):
        for f in files:
            if f.endswith((".py", ".txt")):
                src_mtime = max(src_mtime,
                                os.path.getmtime(os.path.join(root, f)))
    # rebuild when any source is newer than the zip: workers import the
    # package from this zip (addPyFile prepends it to their sys.path),
    # so a stale zip silently ships OLD module code to executors
    if (not os.path.exists(zip_path)
            or os.path.getmtime(zip_path) < src_mtime):
        tmp = zip_path + ".tmp"
        with zipfile.ZipFile(tmp, "w") as zf:
            for root, _dirs, files in os.walk(pkg_dir):
                for f in files:
                    if f.endswith((".py", ".txt")):
                        full = os.path.join(root, f)
                        rel = os.path.join(
                            "toshi_spark", os.path.relpath(full, pkg_dir)
                        )
                        zf.write(full, rel)
        os.replace(tmp, zip_path)
    spark.sparkContext.addPyFile(zip_path)


def get_spark(
    app_name: str = "toshi_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for the engine.

    ``cores`` defaults to $SPARK_GRAFT_CPUS or 32 — the sandbox stand-in
    for executor count.  ``shuffle_partitions`` defaults to 2×cores: on a
    real cluster this would be executors × cores-per-executor × 2-3.
    """
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        shuffle_partitions = max(8, 2 * cores)
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        # pyspark 4.1 captures the Python call site of every DataFrame
        # operation for error contexts; a search pays it per py4j call
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    ship_package(spark)
    return spark


def bounded_collect(df: DataFrame, max_rows: int,
                    max_bytes: int) -> list[Row] | None:
    """Bring ``df`` to the driver only while it is small: its rows, or
    None when it has more than ``max_rows`` rows or its values take
    more than ``max_bytes`` bytes as UTF-8 text.  At most
    ``max_rows + 1`` rows are ever collected."""
    rows = df.limit(max_rows + 1).collect()
    if len(rows) > max_rows:
        return None
    size = sum(len(str(v).encode()) for r in rows for v in r)
    return rows if size <= max_bytes else None
