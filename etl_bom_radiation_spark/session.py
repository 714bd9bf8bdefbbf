"""SparkSession factory.

Design notes for scale (local[32] here; 1000-executor cluster in prod):

- ``spark.sql.session.timeZone`` is pinned to UTC so results never depend
  on cluster timezone; the Sydney conversion the reference does
  (reference bom/bom.py:101-104) is applied explicitly per-column with
  ``from_utc_timestamp``.
- AQE is on: runtime shuffle-partition coalescing, skew-join splitting,
  and dynamic broadcast-join demotion/promotion all matter far more at
  100 TB than any static setting we could pick here.
- ``spark.sql.shuffle.partitions`` defaults to the local core count; on a
  real cluster this should be ~2-3x total executor cores (AQE coalesces
  down, it does not split up non-skewed partitions).
- Arrow is enabled for the Pandas-UDF paths (LLM operators).
"""

from __future__ import annotations

import os
import weakref
from typing import Callable, Hashable

from pyspark.sql import Column, DataFrame, SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def get_spark(
    app_name: str = "etl_bom_radiation_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine's SparkSession."""
    master = master or f"local[{DEFAULT_CPUS}]"
    shuffle_partitions = shuffle_partitions or DEFAULT_CPUS
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


#: live JVM gateway -> {key: JVM Column or Seq[Column]}. Weakly keyed by the
#: gateway object itself, never by an id(): a relaunched JVM gets a new
#: gateway and so an empty cache, never another JVM's object ids.
_JVM_COLUMNS: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def _per_jvm(spark: SparkSession, key: Hashable, make: Callable[[], object]):
    cache = _JVM_COLUMNS.setdefault(spark.sparkContext._gateway, {})
    if key not in cache:
        cache[key] = make()
    return cache[key]


def select_cached(
    df: DataFrame, key: Hashable, build: Callable[[], list[Column | str]]
) -> DataFrame:
    """``df.select(*build())``, with the column list built once per live JVM
    and kept there as a ``Seq[Column]``.

    Building a Column costs several py4j round trips per function call, so
    a hot path that rebuilds a static projection on every call pays for
    the construction, not for Catalyst. Only *static* expressions belong
    here: *key* must name every parameter that changes what *build*
    returns, and a column carrying a per-call value (a literal path list,
    a partition value) stays per call. A Column is unresolved, so one
    instance serves every plan and session on its JVM."""
    from pyspark.sql.classic.column import _to_java_column, _to_seq

    spark = df.sparkSession
    seq = _per_jvm(
        spark,
        ("select", key),
        lambda: _to_seq(spark.sparkContext, build(), _to_java_column),
    )
    return DataFrame(df._jdf.select(seq), spark)


def filter_cached(df: DataFrame, key: Hashable, build: Callable[[], Column]) -> DataFrame:
    """``df.filter(build())`` with the condition built once per live JVM;
    the rules of :func:`select_cached` apply."""
    spark = df.sparkSession
    cond = _per_jvm(spark, ("filter", key), lambda: build()._jc)
    return DataFrame(df._jdf.filter(cond), spark)
