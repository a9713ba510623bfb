"""SparkSession factory with the engine's required session settings.

The reference delegates execution to ClickHouse; the Spark rebuild delegates
to Catalyst/Tungsten. The session is configured for:

- UTC session timezone (hash-parity for ISO-8601 ``...Z`` parsing, SURVEY
  OP-D4; ClickHouse servers in the reference compose run UTC by default);
- AQE on (runtime re-plan: skew-join splitting, dynamic coalesce of shuffle
  partitions — critical at 100 TB where static partition counts are wrong),
  except for small inputs: a catalog entry whose warehouse tables sum to
  at most ``plans.registry.SMALL_INPUT_BYTES`` runs in a clone of this
  session with AQE off and one shuffle partition;
- Arrow enabled for the few Pandas-UDF extension operators;
- parquet TIMESTAMP(NANOS) columns read as LongType nanos
  (``spark.sql.legacy.parquet.nanosAsLong``; Spark's reader rejects them
  otherwise), which ``sources.tables.load_table`` converts to timestamps;
- a generated-code cache large enough for a repeated query to reuse its
  compiled classes (``spark.sql.codegen.cache.maxEntries``).

At cluster scale, ``shuffle_partitions`` should be ~2-3× total executor
cores (or left to AQE's coalescing with a high initial value); the local
default is one task slot per core this process may run on, or
``SPARK_GRAFT_CPUS`` when set.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))
_NANOS_AS_LONG = "spark.sql.legacy.parquet.nanosAsLong"


def get_spark(
    app_name: str = "ravelytics_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the configured SparkSession."""
    master = master or f"local[{DEFAULT_CPUS}]"
    shuffle_partitions = shuffle_partitions or DEFAULT_CPUS

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Keep hive-partition values as written (ingest_month stays the
        # string 'yyyyMM' the warehouse contract declares, not an int).
        .config("spark.sql.sources.partitionColumnTypeInference.enabled", "false")
        # Wide aggregate plans (64-hash MinHash/SimHash signatures) must
        # stay inside whole-stage codegen; the default 100-field cap
        # silently drops them to interpreted mode (~30x slower).
        .config("spark.sql.codegen.maxFields", "256")
        # The 12 benchmark interactive queries generate about 200 distinct
        # whole-stage and expression classes; Spark's default cache of 100
        # evicts them every pass and Janino recompiles them, partly inside
        # tasks. The cache evicts per segment, so size it 5x the working set.
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        .config(_NANOS_AS_LONG, "true")
        # Small local driver heap is fine at test SFs; a real deployment
        # sizes executors so a shuffle partition fits in memory.
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def configure_existing(spark: SparkSession) -> SparkSession:
    """Apply the runtime-settable session settings to a session we did not
    build (the driver harness passes its own). Static configs (master,
    memory, the generated-code cache size) cannot change here; the
    semantic ones (timezone, nanos reading) can. Such a session keeps
    Spark's 100-entry code cache, so a loop over the catalog recompiles
    its classes on every pass.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set(_NANOS_AS_LONG, "true")
    try:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    except Exception:
        pass  # static in some deployments; AQE default-on in Spark 4
    ship_package(spark)
    return spark


def ship_package(spark: SparkSession) -> None:
    """Make ``ravelytics_spark`` importable on executor Python workers.

    Closures in mapInPandas / applyInPandasWithState pickle module
    functions BY REFERENCE, so workers must import the package; when the
    driver found it via cwd or a sys.path edit (not an installed
    site-package), workers crash with ModuleNotFoundError. Shipping a
    zip via addPyFile covers local and cluster mode alike. Idempotent
    per SparkContext.
    """
    sc = spark.sparkContext
    if getattr(sc, "_ravelytics_pkg_shipped", False):
        return
    import shutil
    import tempfile

    import ravelytics_spark

    pkg_dir = os.path.dirname(os.path.abspath(ravelytics_spark.__file__))
    zip_base = os.path.join(tempfile.mkdtemp(prefix="rvl_pkg_"), "ravelytics_spark_pkg")
    zip_path = shutil.make_archive(
        zip_base, "zip", root_dir=os.path.dirname(pkg_dir), base_dir="ravelytics_spark"
    )
    sc.addPyFile(zip_path)
    sc._ravelytics_pkg_shipped = True
