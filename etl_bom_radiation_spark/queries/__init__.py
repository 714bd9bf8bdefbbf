"""The declared query surface: a registry of (spark fn, DuckDB oracle) pairs.

Every operator from SURVEY.md §2 that we claim as done is registered here
exactly once, with:

* ``fn(spark, sf_dir) -> DataFrame`` — the PySpark implementation;
* ``oracle`` — equivalent ANSI SQL for DuckDB over the same parquet tables
  (or ``None`` for genuinely non-SQL-expressible ops -> driver records a
  rows-only check).

``__spark_entry__.py`` exposes this registry verbatim to the driver.

Oracle-equivalence discipline (SURVEY §7 M2): alias every computed column
identically on both sides, round floats, normalize timestamps, break ties
deterministically.
"""

from __future__ import annotations

import functools
import importlib
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

SparkQuery = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class Query:
    name: str
    fn: SparkQuery
    oracle: str | None
    doc: str
    #: True for entries whose fn() side-effects a REAL pipeline over a
    #: temp workspace — streaming (t01/t05/t08) or lifecycle (d01-d04,
    #: n50): seconds of wall-clock + catalog/filesystem mutation per
    #: call. Registry-wide sweeps that only inspect plans (window lint,
    #: gen_plans) should skip these. Orthogonal to the oracle: a
    #: side-effecting entry WITH an oracle (n50) still gets the exact
    #: oracle hash check.
    streaming: bool = False


REGISTRY: dict[str, Query] = {}

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def register(name: str, oracle: str | None = None, streaming: bool = False):
    """Decorator: add a query to the registry.

    The registered callable pins ``spark.sql.session.timeZone=UTC`` before
    building the plan: the driver runs queries on ITS session, and
    session-TZ-sensitive expressions (date_format/year/unix_timestamp)
    capture the timezone at analysis time — without the pin, a non-UTC
    harness session would silently diverge from the DuckDB oracles.
    """

    def deco(fn: SparkQuery) -> SparkQuery:
        if name in REGISTRY:
            raise ValueError(f"duplicate query name: {name}")

        @functools.wraps(fn)
        def pinned(spark: SparkSession, sf_dir: str) -> DataFrame:
            spark.conf.set("spark.sql.session.timeZone", "UTC")
            return fn(spark, sf_dir)

        REGISTRY[name] = Query(
            name=name,
            fn=pinned,
            oracle=oracle,
            doc=fn.__doc__ or "",
            streaming=streaming,
        )
        return fn

    return deco


def load_tables(spark: SparkSession, sf_dir: str, *names: str) -> dict[str, DataFrame]:
    """Read the requested testdata parquet tables (all of TABLES if empty)."""
    names = names or TABLES
    return {n: spark.read.parquet(f"{sf_dir}/{n}.parquet") for n in names}


def load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read the events table, normalizing ``ts`` to a session-TZ TIMESTAMP
    whatever the fixture's physical type is (the driver has regenerated it
    across rounds):

    * TIMESTAMP(NANOS) — a type Spark's vectorized reader rejects outright
      (PARQUET_TYPE_ILLEGAL). Read nanos as raw int64 via
      ``spark.sql.legacy.parquet.nanosAsLong`` and rebuild a microsecond
      timestamp JVM-side. Micros-truncation is lossless for equality with
      DuckDB (its TIMESTAMP is micros, so it truncates identically).
    * TIMESTAMP(MICROS, isAdjustedToUTC=false) — Spark reads TIMESTAMP_NTZ,
      which epoch functions (unix_micros &c) reject. Cast to TIMESTAMP: the
      session TZ is pinned UTC by ``register``, so the wall-clock values are
      preserved bit-for-bit and match DuckDB's naive read.
    * plain TIMESTAMP (micros, adjusted) passes through.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(f"{sf_dir}/events.parquet")
    ts_type = dict(df.dtypes).get("ts")
    if ts_type in ("bigint", "long"):
        # integer `div`, NOT `/`: epoch-nanos (~1.7e18) exceed double's
        # 53-bit mantissa, so float division would corrupt the low
        # microseconds.
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif ts_type == "timestamp_ntz":
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def register_views(spark: SparkSession, sf_dir: str, *names: str) -> None:
    """Register testdata tables as temp views for spark.sql-based queries.
    ``events`` goes through :func:`load_events` so SQL sees the same
    normalized TIMESTAMP ``ts`` as the DataFrame path — and must NOT pass
    through ``load_tables`` first: its eager schema read would throw
    ILLEGAL_PARQUET_TYPE on a TIMESTAMP(NANOS) fixture before load_events
    gets the chance to set the nanosAsLong conf."""
    names = names or TABLES
    for n in names:
        df = (
            load_events(spark, sf_dir)
            if n == "events"
            else spark.read.parquet(f"{sf_dir}/{n}.parquet")
        )
        df.createOrReplaceTempView(n)


# Import order is the registry order: ``load_all`` returns the entries
# grouped by module in this order.  The differentiating families (grid
# decode, LLM pipeline) lead.  A module that uses ``@register`` is wired
# in only by being named here (tests/test_registry.py checks none is
# left out).
_MODULES = [
    "grid_queries",
    "llm_queries",
    "udfs",
    "streaming_batch",
    "scalar_funcs",
    "relational",
    "windows_setops",
    "lifecycle",
    "chunking",
    "stream_joins",
    "mixture",
    "quantize",
    "mm_ext",
    "boilerplate",
    "lm_score",
    "incremental",
    "truncation",
    "regrid",
    "scd",
    "leakage",
    "packing",
    "provenance",
    "minhash_eval",
    "ivf_eval",
    "lsh_eval",
    "substring_dedup",
    "tempering",
    "zorder",
    "matryoshka",
    "profiling",
    "banded_lsh",
    "embed_clusters",
    "keeplist",
    "sessionize",
    "lateral",
    "bloom",
    "recursive_cte",
    "rolling",
    "scale_lifecycle",
    "pagerank",
    "heavy_hitters",
    "incremental_lsh",
    "lsh_lifecycle",
]


def load_all() -> dict[str, Query]:
    """Import every query module (side effect: fills REGISTRY) and return it
    in registration order: grouped by module in ``_MODULES`` order, unless a
    caller imported a query module directly before the first call.

    Every module named in ``_MODULES`` must exist — a missing or broken
    module raises instead of silently dropping its queries from the
    correctness run (silent tolerance masks wiring bugs).
    """
    for m in _MODULES:
        importlib.import_module(f"{__name__}.{m}")
    return REGISTRY
