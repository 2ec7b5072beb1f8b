"""SparkSession factory tuned for this engine.

Local testing runs on local[N]; the settings below are chosen so the
same logical plans scale to a multi-executor cluster: AQE for runtime
re-planning (skew joins, partition coalescing), explicit shuffle
partition counts, Arrow for the Python boundary, UTC session time.
"""

from __future__ import annotations

import logging
import os

from pyspark.sql import SparkSession

# An events.parquet that stores TIMESTAMP(NANOS) (the test tables store
# micros) is rejected by Spark's vectorized parquet reader; this legacy
# flag reads nanos as long and tables.py converts to timestamp_ntz at
# microsecond precision (matching DuckDB).
NANOS_AS_LONG = "spark.sql.legacy.parquet.nanosAsLong"

# Whole-stage codegen classes are cached by generated source, so a plan
# that repeats skips Janino, and the JIT keeps its compiled code. Spark's
# default holds 100 classes; the 12 bench.HEADLINE count() plans generate
# 165 distinct ones (249 with the collect() plans of the same queries;
# 4 CPUs, perfbench query_suite tables), so at 100 every pass of a mixed
# stream recompiled 122-134 of them. Guava splits the cache into 4 LRU
# segments of size/4 entries each: at 256 a segment holds 64 against the
# 41 the count() set puts in one on average. Measured steady state: 0
# compiles per pass at 200, 250, 256, 300 and 2000 (tests/test_session.py
# holds it at 0). Static conf: it only applies to sessions this factory
# creates (see ensure_session_conf).
CODEGEN_CACHE_MAX_ENTRIES = "spark.sql.codegen.cache.maxEntries"
CODEGEN_CACHE_ENTRIES = 256

log = logging.getLogger(__name__)


def get_spark(app_name: str = "helium_etl_lite_spark", cpus: int | None = None) -> SparkSession:
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    # Python workers inherit PYTHONPATH from the driver env, not from
    # runtime sys.path edits — make this package importable on workers
    # even when the driver script runs from elsewhere.
    pkg_parent = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if pkg_parent not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            f"{pkg_parent}{os.pathsep}{existing}" if existing else pkg_parent
        )
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(max(cpus, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # 64 MB broadcast ceiling: a dimension table this size is still a
        # cheap one-time transfer per executor at cluster scale, and it
        # keeps mid-size dims (orders-scale) off the shuffle path. Facts
        # beyond it still sort-merge.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.adaptive.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(NANOS_AS_LONG, "true")
        .config(CODEGEN_CACHE_MAX_ENTRIES, str(CODEGEN_CACHE_ENTRIES))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        # saveAsTable targets (bucketed layouts) land outside the repo;
        # static conf, so it only applies to sessions this factory creates.
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/helium_spark_warehouse"),
        )
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


_small_cache_warned = False


def ensure_session_conf(spark: SparkSession) -> None:
    """Best-effort: apply runtime-settable confs this engine relies on to a
    session we did not create (a caller can hand us its own session).
    Static confs cannot be raised here; a codegen cache smaller than the
    engine's is logged once per process."""
    global _small_cache_warned
    for key, value in [
        (NANOS_AS_LONG, "true"),
        ("spark.sql.adaptive.enabled", "true"),
    ]:
        try:
            spark.conf.set(key, value)
        except Exception:
            pass
    if _small_cache_warned:
        return
    entries = int(spark.conf.get(CODEGEN_CACHE_MAX_ENTRIES, None) or 100)  # unset: Spark's default
    if entries < CODEGEN_CACHE_ENTRIES:
        _small_cache_warned = True
        log.warning(
            "%s is %d on this session, below the engine's %d: repeated queries "
            "recompile their codegen classes (static conf, set it when the "
            "session is created)",
            CODEGEN_CACHE_MAX_ENTRIES, entries, CODEGEN_CACHE_ENTRIES,
        )
