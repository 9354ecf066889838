"""SparkSession factory.

Tuned for local[N] testing but with settings that transfer to a real
cluster: AQE on (runtime coalesce + skew-join handling), Arrow enabled
for the pandas-UDF paths, UTC session timezone so results compare
bit-for-bit against the DuckDB oracle (DuckDB timestamps are UTC-naive).
"""

from __future__ import annotations

import os
import shutil
import tempfile
from pathlib import Path

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def get_spark(app_name: str = "ut-dwh-spark", cpus: int | None = None) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    Shuffle partitions are sized to the core count rather than the 200
    default: at local scale 200 partitions of a 60 K-row shuffle is pure
    scheduling overhead, while on a production cluster this knob is
    expected to be overridden (or left to AQE coalescing, which is on).
    """
    n = cpus or default_parallelism()
    builder = (
        SparkSession.builder.master(f"local[{n}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(n))
        .config("spark.default.parallelism", str(n))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def ensure_worker_imports(spark: SparkSession) -> None:
    """Ship this package to Spark's Python workers via addPyFile.

    Plans that cross the Python boundary (mapInArrow/mapInPandas, pandas
    UDFs) serialize closures referencing this package by module name;
    workers spawned by a driver whose cwd is outside the repo cannot
    import it otherwise. Idempotent per SparkContext."""
    sc = spark.sparkContext
    if getattr(sc, "_utde_pkg_shipped", False):
        return
    pkg_dir = Path(__file__).resolve().parent
    staging = Path(tempfile.mkdtemp(prefix="utde_pkg_"))
    zip_base = staging / "ut_data_engineering_group_project_2022_spark_pkg"
    archive = shutil.make_archive(
        str(zip_base), "zip", root_dir=pkg_dir.parent, base_dir=pkg_dir.name
    )
    sc.addPyFile(archive)
    sc._utde_pkg_shipped = True
