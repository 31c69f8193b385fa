"""SparkSession factory.

The reference runs single-process pandas (no session concept); here every
entry point funnels through one tuned SparkSession. Defaults are chosen for
correctness-first local runs but scale-out safe:

- AQE on (runtime shuffle-partition coalescing, skew-join splitting,
  broadcast-join demotion/promotion at runtime).
- ``spark.sql.session.timeZone=UTC`` — day-name/date-part determinism
  (SURVEY.md §7 "Locale").
- Arrow enabled for any pandas interchange (Pandas UDFs, toPandas).
- Shuffle partitions default to the local core count; on a real cluster pass
  ``shuffle_partitions`` ≈ 2-3× total executor cores (or rely on AQE to
  coalesce from a higher initial number).

Only this module writes session conf: read paths call
:func:`pin_runtime_conf`; a region that needs other conf runs in a
:func:`with_conf` clone.
"""

from __future__ import annotations

import os
import warnings

from pyspark.sql import DataFrame, SparkSession

DEFAULT_APP_NAME = "traffic-accidents-spark-engine"

#: Runtime confs every read needs, whichever factory built the session:
#: UTC date parts (as the DuckDB oracle), TIMESTAMP(NANOS) events read as
#: long, ``pushFilters`` for Python data sources (off by default).
RUNTIME_PINS = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.python.filterPushdown.enabled": "true",
}


def _default_parallelism() -> int:
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if cpus and cpus.isdigit():
        return int(cpus)
    return os.cpu_count() or 8


def default_driver_memory(meminfo: str = "/proc/meminfo") -> str:
    """Local mode runs every executor thread in the driver JVM, so the
    driver heap IS the executor heap: 8g showed late-session GC inflation
    on long catalog runs (ngram_jaccard_pairs 7.4 s in-catalog vs 3.0 s
    isolated; 24g: 3.2 s). 16g, capped at MemTotal minus 4 GiB for the
    Python workers and the OS; 16g when ``meminfo`` is unreadable."""
    try:
        with open(meminfo) as f:
            kb = next(int(ln.split()[1]) for ln in f if ln.startswith("MemTotal:"))
    except (OSError, ValueError, IndexError, StopIteration):
        return "16g"
    return f"{max(1024, min(16 * 1024, kb // 1024 - 4 * 1024))}m"


def pin_runtime_conf(spark: SparkSession) -> None:
    """Set :data:`RUNTIME_PINS` on ``spark``, which may come from a
    factory other than :func:`get_spark`."""
    for key, value in RUNTIME_PINS.items():
        spark.conf.set(key, value)


def with_conf(spark: SparkSession, conf: dict[str, str]) -> SparkSession:
    """A clone of ``spark`` with ``conf`` set; ``spark`` never changes.
    The clone keeps the runtime conf, temp views and UDFs (``newSession()``
    drops runtime conf). Parent listeners do not see its streams."""
    clone = SparkSession(spark.sparkContext, spark._jsparkSession.cloneSession())
    for key, value in conf.items():
        clone.conf.set(key, value)
    return clone


def bind(df: DataFrame, spark: SparkSession) -> DataFrame:
    """``df``'s plan as a DataFrame of ``spark``: a DataFrame is planned
    under its own session's conf, whatever thread runs it."""
    jds = spark._jvm.org.apache.spark.sql.classic.Dataset.ofRows(
        spark._jsparkSession, df._jdf.logicalPlan()
    )
    return DataFrame(jds, spark)


def get_spark(
    app_name: str = DEFAULT_APP_NAME,
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (or ``local[*]``);
    on a cluster pass ``yarn``/``k8s://…`` or leave it to spark-submit.
    """
    cores = _default_parallelism()
    if master is None:
        master = os.environ.get("SPARK_GRAFT_MASTER", f"local[{cores}]")
    if shuffle_partitions is None:
        shuffle_partitions = max(cores, 8)

    # PySpark's own applyInPandasWithState serializer pd.concat()s state
    # output frames in a way pandas has deprecated (FutureWarning from
    # pyspark/sql/pandas/serializers.py — upstream code, not ours; our
    # stateful operator already filters empty frames). Scope an ignore to
    # that module ONLY, in the worker processes where it fires. Local-mode
    # workers inherit os.environ; executorEnv covers cluster deploys.
    _pyspark_warn_filter = "ignore::FutureWarning:pyspark.sql.pandas.serializers"
    existing = os.environ.get("PYTHONWARNINGS", "")
    if _pyspark_warn_filter not in existing.split(","):
        os.environ["PYTHONWARNINGS"] = (
            f"{existing},{_pyspark_warn_filter}" if existing else _pyspark_warn_filter
        )

    # getOrCreate() silently reuses an existing session, ignoring master /
    # memory (static confs). Surface that instead of hiding it.
    active = SparkSession.getActiveSession()
    if active is not None and active.sparkContext.master != master:
        warnings.warn(
            f"get_spark(master={master!r}) is reusing the existing session "
            f"(master={active.sparkContext.master!r}); static configs from "
            "this call are ignored",
            stacklevel=2,
        )

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # Local-mode niceties; harmless on a cluster.
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.enabled", "false")
        # Cluster deploys size the driver via spark-submit as usual.
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_memory(),
        )
        .config("spark.executorEnv.PYTHONWARNINGS", os.environ["PYTHONWARNINGS"])
    )
    for k, v in {**RUNTIME_PINS, **(extra_conf or {})}.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
