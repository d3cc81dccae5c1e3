"""SparkSession factory tuned for this engine.

Local testing runs on ``local[$SPARK_GRAFT_CPUS]`` (default 32). The config
choices are the ones that matter at cluster scale too:

- AQE on (runtime coalescing, skew-join splitting) — at 100 TB the static
  shuffle-partition count is always wrong for some stage; AQE fixes it.
- ``spark.sql.shuffle.partitions`` sized to the parallelism at hand; on a
  real cluster this would be ~2-3x total cores and AQE coalesces down.
- Arrow enabled: every Pandas UDF / applyInPandas transfer is Arrow-batched.
- Session timezone UTC so timestamp semantics are engine-independent and
  match the DuckDB oracle.
"""

from __future__ import annotations

import os
import tempfile
import zipfile

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def _ship_package(spark: SparkSession) -> None:
    """Make this package importable on Python WORKERS regardless of the
    driver process's cwd.

    cloudpickle serializes module-level functions (the mapInPandas /
    applyInPandas callbacks) BY REFERENCE — workers re-import
    ``hbase_packet_inspector_spark`` by name. That import only succeeds by
    accident when the driver's cwd is the repo root (workers inherit it on
    sys.path); a harness importing ``__spark_entry__`` from another cwd gets
    ModuleNotFoundError on every Arrow-batched operator. Shipping a zip of
    the package via addPyFile fixes it for any session, local or cluster.
    """
    sc = spark.sparkContext
    if getattr(sc, "_hpi_pkg_shipped", False):
        return
    pkg = os.path.dirname(os.path.abspath(__file__))
    root = os.path.dirname(pkg)
    zpath = os.path.join(
        tempfile.gettempdir(), f"hbase_packet_inspector_spark_{os.getpid()}.zip"
    )
    if not os.path.exists(zpath):
        tmp = zpath + ".tmp"
        with zipfile.ZipFile(tmp, "w") as z:
            for dirpath, _dirs, files in os.walk(pkg):
                for f in files:
                    if f.endswith(".py"):
                        full = os.path.join(dirpath, f)
                        z.write(full, os.path.relpath(full, root))
        os.replace(tmp, zpath)
    sc.addPyFile(zpath)
    sc._hpi_pkg_shipped = True


def get_spark(app_name: str = "hpi-spark", cpus: int | None = None) -> SparkSession:
    cpus = cpus or DEFAULT_CPUS
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # Respect the advisory partition size when AQE coalesces instead
        # of inflating the partition count to the default parallelism —
        # the Spark-documented production setting (r13; measured -8% on
        # the full bench: most post-shuffle frames here are byte-small
        # and width-of-session stages are pure scheduling overhead).
        # CPU-dense stages whose inputs are byte-small keep their
        # parallelism via the library's explicit repartition discipline
        # (_spread and friends), which AQE coalescing is exempt from.
        # Scale-independent (at 100 TB the advisory 64 MB target is what
        # you want respected). A runtime SQL conf: an A/B run flips it
        # with spark.conf.set.
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst",
                "false")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        # PySpark's DataFrame debugging stamps the Python call site on every
        # Column function call: ~10 driver<->JVM round trips each, which
        # made building the capture pipeline ~4000 round trips. Static conf,
        # so only a session built here can turn it off.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .getOrCreate()
    )
    _ship_package(spark)
    return spark


def tune_session(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable tuning to an externally-provided session.

    The driver hands us its own SparkSession; timezone and AQE are
    runtime-configurable, master/memory are not. Timezone UTC is required
    for timestamp parity with the DuckDB oracle.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # events.parquet stores TIMESTAMP(NANOS) which Spark rejects by default;
    # read as long (ns) and normalize in sources.tables.load_table.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # plain timestamp[us] files (no isAdjustedToUTC) must read as LTZ, not
    # TIMESTAMP_NTZ — unix_millis()/window arithmetic reject NTZ, and the
    # UTC session makes the epoch values identical to DuckDB's epoch_ms()
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    _ship_package(spark)
    try:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    except Exception:
        pass  # conf may be static in some deployments; AQE is an optimization only
    return spark
