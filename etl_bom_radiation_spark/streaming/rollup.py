"""Incrementally-maintained hourly rollup (the 'hypertable rollup' pattern).

The analyst query the reference's layout exists for — hourly aggregates of
radiation by type — recomputed from raw points is a full scan per refresh.
At 100 TB the right structure is an incrementally-maintained rollup:

* each ingest micro-batch appends PARTIAL aggregates (count/sum/min/max per
  (RadiationType, year, month, day, hour)) — tiny rows, one per touched
  hour per batch;
* readers merge partials with a second aggregation (counts and sums add,
  mins/maxes fold, avg = merged sum / merged count) — algebraic aggregates
  compose, so the merged result is EXACTLY the full recompute;
* a periodic :func:`compact_rollup` folds accumulated partials into one row
  per group so reader cost stays O(groups), not O(batches x groups).

This is the same partial/final split Spark's own HashAggregate does inside
one query, lifted across micro-batches. ``ingest_stream(rollup_dir=...)``
appends each micro-batch's partials.

Layout and commit. Every write adds one ``gen=<label>`` generation under
the rollup dir (hive-style, so readers see ``gen`` as a partition column):
``batch<id>`` or ``adhoc<uuid>`` for an append, ``fold-<n>-<uuid8>`` for
a compaction, which then commits the fold record ``_folds/<n>.json`` =
``{"fold": <label>, "absorbed": [<labels>]}`` as the next numbered version
(``workspace._commit_version``). No directory is ever renamed. Readers
drop the generations the latest record absorbed and every fold but the
one it names, so a fold and the generations it replaced are never both
counted, and an uncommitted fold never is. Nothing waits or runs on a
timer: appends and reads proceed while a compaction folds.

Conflict detection needs a rename that refuses an existing name (HDFS and
local filesystems do); on object stores, run one compactor.
"""

from __future__ import annotations

import json
from uuid import uuid4

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..workspace import _commit_version, _fs, _read_latest, _read_text, _versions

KEYS = ["RadiationType", "year", "month", "day", "hour"]

#: The schema of the partial generations as :func:`append_hourly_partials`
#: writes them from decoded points (``gen`` is the partition column).
#: Reads pass it, so a read opens no data file to infer a schema.
PARTIAL_SCHEMA = (
    "RadiationType STRING, year INT, month INT, day INT, hour INT, "
    "cnt BIGINT, sum_rad BIGINT, min_rad INT, max_rad INT, gen STRING"
)

#: fold records live here as ``<n>.json`` (see :func:`compact_rollup`);
#: the ``_`` prefix keeps the directory out of Spark's partition discovery
_FOLDS = "_folds"


def _partial_aggs():
    # built lazily: Column construction needs an active SparkContext
    return [
        F.count(F.lit(1)).alias("cnt"),
        F.sum("Radiation").alias("sum_rad"),
        F.min("Radiation").alias("min_rad"),
        F.max("Radiation").alias("max_rad"),
    ]


def _latest_record(fs, jvm, folds) -> tuple[int, dict]:
    """``(n, record)`` of the latest committed fold record; before the
    first compaction, version -1 with no fold and nothing absorbed."""
    latest = _read_latest(fs, jvm, folds)
    if latest is None:
        return -1, {"fold": None, "absorbed": []}
    return latest[0], json.loads(latest[1])


def append_hourly_partials(
    points: DataFrame, rollup_dir: str, batch_id: int | None = None
) -> None:
    """Reduce one batch of decoded points to per-hour partial aggregates and
    add them as one GENERATION of the rollup (few rows; a cheap write). No
    forced coalesce(1): a single-task write is a straggler when a batch
    touches many hours, and AQE already coalesces the tiny output.

    With *batch_id* the label is ``batch<id>`` and the write OVERWRITES
    that one generation — a re-delivered streaming micro-batch
    (ingest_stream replay after a crash between its rollup append and its
    commit marker) rewrites the same subdir with identical content instead
    of double-appending its partials. Without *batch_id* the label is
    unique per call (plain append semantics for ad-hoc/batch callers).

    Safe to run during a :func:`compact_rollup`: Spark writes the
    generation's ``_SUCCESS`` last, and a compaction absorbs only
    generations that have one."""
    label = f"batch{batch_id}" if batch_id is not None else f"adhoc{uuid4().hex}"
    (
        points.groupBy(*KEYS)
        .agg(*_partial_aggs())
        .write.mode("overwrite")
        .parquet(f"{rollup_dir}/gen={label}")
    )


def read_hourly_rollup(spark: SparkSession, rollup_dir: str) -> DataFrame:
    """Merge partials into final per-hour aggregates. Algebraic merge:
    exact regardless of how many batches contributed to an hour.

    The generations are listed under the latest fold record, and the
    listing is taken again if a compaction committed meanwhile, so the
    record and the listing agree. The filter is on the ``gen`` partition
    column, so dropped generations are pruned, never opened, and the
    schema is :data:`PARTIAL_SCHEMA`, so the call itself opens no data
    file and runs no Spark job (the listing stays on the driver below
    Spark's parallel-listing threshold).  A read that runs while a
    compaction deletes the generations it folded can still fail loudly
    on a missing file when it is collected; it never returns a wrong
    total."""
    fs, root, jvm = _fs(spark, rollup_dir)
    folds = jvm.org.apache.hadoop.fs.Path(root, _FOLDS)
    while True:
        n, rec = _latest_record(fs, jvm, folds)
        # lists every generation's files
        p = spark.read.schema(PARTIAL_SCHEMA).parquet(rollup_dir)
        if max(_versions(fs, jvm, folds), default=-1) == n:
            break
    gen = F.col("gen")
    live = ~gen.startswith("fold-") & ~gen.isin(rec["absorbed"])
    if rec["fold"] is not None:
        live = live | (gen == rec["fold"])
    return p.filter(live).groupBy(*KEYS).agg(
        F.sum("cnt").alias("points"),
        (F.sum("sum_rad") / F.sum("cnt")).alias("avg_radiation"),
        F.min("min_rad").alias("min_radiation"),
        F.max("max_rad").alias("max_radiation"),
    )


def compact_rollup(spark: SparkSession, rollup_dir: str) -> None:
    """Fold every complete generation into one new generation holding one
    row per group (reader cost back to O(groups)), and commit it.

    With ``(n, rec)`` the latest fold record:

    1. delete ``rec``'s absorbed generations — left behind only when a
       compactor died or failed between its commit and its own deletes; a
       false delete of one that still exists raises;
    2. delete, best-effort, every fold generation numbered ``<= n`` other
       than ``rec``'s: the leftovers of compactors that crashed before
       their commit or lost the race for it;
    3. absorb every generation holding a ``_SUCCESS`` file (Spark writes
       it last, so an append in flight is never absorbed), skipping fold
       generations other than ``rec``'s; if that leaves nothing but
       ``rec``'s fold, return without writing;
    4. write their fold to ``gen=fold-<n + 1>-<uuid8>`` and commit record
       ``n + 1``. A compactor that lost the race for ``n + 1`` raises
       ``OSError``, having deleted nothing;
    5. read record ``n + 1`` back — two compactors share the commit's temp
       name, so the one whose record was renamed in may be the other's —
       and only if it names this fold, delete the absorbed generations.

    A crash anywhere leaves a state readers count exactly (before the
    commit the fold is in no record; after it the record drops what it
    absorbed), and the next compaction cleans up. Records are never
    deleted: a version a slow compactor may still try to commit stays taken.

    Run only against a FULLY-COMMITTED stream (stopped, or no batch in
    flight): folding consumes every ``gen=batch<id>`` generation, so
    compacting while a crashed-uncommitted batch is pending would
    double-count that batch when its replay rewrites ``gen=batch<id>``
    after the fold already absorbed it."""
    fs, root, jvm = _fs(spark, rollup_dir)
    path = jvm.org.apache.hadoop.fs.Path
    folds = path(root, _FOLDS)
    n, rec = _latest_record(fs, jvm, folds)
    for g in rec["absorbed"]:
        old = path(root, f"gen={g}")
        if not fs.delete(old, True) and fs.exists(old):
            raise OSError(f"compact_rollup: could not delete absorbed {old}")
    for st in fs.globStatus(path(root, "gen=fold-*")) or []:
        g = st.getPath().getName()[4:]
        if g != rec["fold"] and int(g.split("-")[1]) <= n:
            fs.delete(st.getPath(), True)  # best-effort: never counted; retried next compaction
    complete = [
        st.getPath().getParent().getName()[4:]
        for st in fs.globStatus(path(root, "gen=*/_SUCCESS")) or []
    ]
    absorbed = sorted(
        g for g in complete if g == rec["fold"] or not g.startswith("fold-")
    )
    if not set(absorbed) - {rec["fold"]}:
        return
    label = f"fold-{n + 1:020d}-{uuid4().hex[:8]}"
    (
        spark.read.schema(PARTIAL_SCHEMA)
        .option("basePath", rollup_dir)
        .parquet(*(f"{rollup_dir}/gen={g}" for g in absorbed))
        .groupBy(*KEYS)
        .agg(
            F.sum("cnt").alias("cnt"),
            F.sum("sum_rad").alias("sum_rad"),
            F.min("min_rad").alias("min_rad"),
            F.max("max_rad").alias("max_rad"),
        )
        .write.parquet(f"{rollup_dir}/gen={label}")
    )
    record = json.dumps({"fold": label, "absorbed": absorbed})
    committed = _commit_version(fs, jvm, folds, n + 1, record, "compact_rollup")
    if json.loads(_read_text(fs, jvm, committed))["fold"] != label:
        raise OSError(f"compact_rollup: {committed} names another compactor's fold")
    for g in absorbed:
        fs.delete(path(root, f"gen={g}"), True)  # best-effort: the record drops it; step 1 retries
