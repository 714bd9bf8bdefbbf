"""File-level statistics manifest: data skipping beyond partition keys.

Hive partitioning prunes on the partition columns only; parquet row-group
stats prune WITHIN a file but every file must still be listed and its
footer opened.  At 100 TB / millions of files, the listing+footer pass is
itself the bottleneck — which is why modern table formats (Iceberg
manifests, Delta file-skipping stats) keep per-FILE min/max statistics in
a small side table consulted before any data file is touched.  This
module is that lever for the engine's parquet sinks:

* :func:`build_manifest` computes one row per data file — row count plus
  min/max for the requested columns — with a single distributed pass
  (``groupBy(input_file_name())``; no driver-side footer reading, so
  building scales with executors, not driver cores).
* :func:`refresh_manifest` maintains it incrementally: an append costs
  the batch, not the table.
* :func:`pruned_read` consults the manifest with interval predicates and
  returns a DataFrame over ONLY the overlapping files.  Combined with a
  clustered layout (``ingest.write_points(cluster_spatial=True)`` /
  ``scale.zorder_key``) the per-file envelopes are tight in both spatial
  dimensions, so a bbox predicate typically touches a handful of files.

Layout: the manifest is parquet part files under ``{data_dir}/_manifest``
(underscore-prefixed paths are invisible to Spark's partition discovery,
so it lives inside the table directory without polluting reads).  A build
writes one part file; each refresh that only adds files appends one more
part holding the new files' rows (a delta); a refresh that finds retired
files (after a compaction) folds everything back into one part.  Each
delta covers at least one new data file, so the manifest has no more part
files than the table has data files, and ``ingest.compact_partitions``
stays the one small-file lever for both.  (A data file with no rows never
gets a manifest row, as in a build, so each refresh sees it as new again
and appends an empty part until a compaction folds it.)  Readers go
through :func:`_read_manifest`, which passes the listed part files, never
the underscore root.

Paths: the ``file`` column holds ``input_file_name()`` URIs, which are
URL-encoded (a space is ``%20``) and which a Hadoop ``Path`` does not
decode, so every filesystem call and ``spark.read`` takes the
``unquote``-d form.

Staleness contract: the manifest describes the files that existed at its
last build or refresh — the regeneration discipline of MSCK after a
partition add (reference bom-partition/bom_partition.py:77's registration
step, applied to file stats instead of partitions).  A RETIRED file makes
``pruned_read`` raise rather than mis-serve; an APPENDED file is silently
absent from pruned reads until the next refresh picks it up.
"""

from __future__ import annotations

import json
import os
from urllib.parse import unquote

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from .workspace import _dir_files, _fs

#: manifest location inside a table dir (underscore = ignored by readers)
MANIFEST_DIR = "_manifest"


def _file_stats(df: DataFrame, cols: list[str]) -> DataFrame:
    """One row per file of *df*: its URI, row count and min/max of *cols*."""
    aggs = [F.count(F.lit(1)).alias("row_count")]
    for c in cols:
        aggs.append(F.min(c).alias(f"min_{c}"))
        aggs.append(F.max(c).alias(f"max_{c}"))
    return df.groupBy(F.input_file_name().alias("file")).agg(*aggs)


#: footer key under which Spark's parquet writer records the row schema
_SPARK_ROW_METADATA = "org.apache.spark.sql.parquet.row.metadata"


def _footer_schema(spark: SparkSession, part: str) -> StructType:
    """The schema Spark's writer recorded in the footer of the parquet file
    *part*, read on the driver: one footer, no Spark job."""
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    src = jvm.org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        jvm.org.apache.hadoop.fs.Path(part), conf
    )
    reader = jvm.org.apache.parquet.hadoop.ParquetFileReader.open(src)
    try:
        meta = reader.getFooter().getFileMetaData().getKeyValueMetaData()
        js = meta.get(_SPARK_ROW_METADATA)
    finally:
        reader.close()
    return StructType.fromJson(json.loads(js))


def _read_manifest(
    spark: SparkSession, data_dir: str, schema: StructType | None = None
) -> DataFrame | None:
    """The manifest of *data_dir* read from its listed part files, or None
    if it has none. Without a known *schema* the one recorded in the first
    part's footer is used: every part is written by this module's Spark
    writes with the same columns, and reading one footer on the driver
    costs a fraction of Spark's schema-inference job."""
    parts = _dir_files(spark, os.path.join(data_dir, MANIFEST_DIR))
    if not parts:
        return None
    if schema is None:
        schema = _footer_schema(spark, parts[0])
    return spark.read.schema(schema).parquet(*parts)


def _swap_in(spark: SparkSession, tmp: str, out: str) -> None:
    """Replace *out* with *tmp* via the filesystem's rename — a whole
    manifest is written aside and renamed in, never patched in place, so a
    concurrent pruned_read sees either the old or the new manifest; the
    unreadable window is the delete+rename instant, not a full re-write
    (and a crash inside it leaves no manifest, which the next refresh
    rebuilds)."""
    fs, out_p, jvm = _fs(spark, out)
    tmp_p = jvm.org.apache.hadoop.fs.Path(tmp)
    # Hadoop delete also returns false for a MISSING path (the first-ever
    # build), which is not a failure — only a false delete of a path that
    # SURVIVED it means the rename below cannot land.  Delete-then-exists
    # narrows (does not eliminate) the race vs exists-then-delete: under
    # CONCURRENT rebuilds a competitor can still delete out_p (our delete
    # returns false) and rename its own tmp in before our exists() check,
    # making a healthy swap raise here.  Benign under the module's
    # single-writer contract — manifest builds/refreshes are maintenance
    # ops run by one scheduler, like compaction; concurrent-writer
    # coordination belongs to that scheduler, not this rename.
    if not fs.delete(out_p, True) and fs.exists(out_p):
        raise OSError(f"manifest swap failed: could not delete old {out}")
    if not fs.rename(tmp_p, out_p):
        raise OSError(f"manifest swap failed: rename {tmp} -> {out}")


def _write_whole(spark: SparkSession, data_dir: str, manifest: DataFrame) -> None:
    """Write *manifest* as the table's only part file (staged + renamed)."""
    tmp = os.path.join(data_dir, "_manifest_tmp")
    # one file: the manifest is rows-per-file small by construction
    manifest.coalesce(1).write.mode("overwrite").parquet(tmp)
    _swap_in(spark, tmp, os.path.join(data_dir, MANIFEST_DIR))


def build_manifest(
    spark: SparkSession, data_dir: str, cols: list[str]
) -> DataFrame:
    """One distributed pass over *data_dir*: per data file, row count and
    min/max of each of *cols*. Writes the manifest as one part file under
    ``{data_dir}/_manifest`` (staged + renamed — a manifest is a snapshot,
    not a log) and returns it."""
    manifest = _file_stats(spark.read.parquet(data_dir), cols)
    _write_whole(spark, data_dir, manifest)
    return _read_manifest(spark, data_dir, manifest.schema)


def refresh_manifest(
    spark: SparkSession, data_dir: str, cols: list[str]
) -> DataFrame:
    """Incremental manifest maintenance: compute stats ONLY for data files
    not yet in the manifest, drop rows for files that no longer exist,
    keep everything else as-is.  The rows always equal what
    :func:`build_manifest` would write for the same table.

    The append set is the table listing (``inputFiles``) minus the
    manifest's ``file`` column, diffed on the driver — the same
    incremental-commit idea as Iceberg's per-snapshot manifests, with no
    transaction log needed for an append-only sink like
    ``ingest.write_points``.  Because the diff is against the manifest
    itself, a file an earlier crashed batch left out is picked up here.

    * Files added, none retired: the new files' stats are APPENDED as one
      more part file; existing parts are never rewritten, so a concurrent
      pruned_read sees the old manifest or the old manifest plus the
      delta.
    * Files retired (a compaction ran): the kept rows plus any new ones
      are folded into one part file and swapped in whole.
    * Nothing changed: nothing is written.

    Every read past the manifest's own uses an explicit schema built from
    its ``min_<col>`` types, so an append refresh runs no schema
    inference over the data.  Falls back to a full build when no manifest
    exists (and ONLY then).

    Driver-side bound: the table listing plus the manifest's ``file``
    column — O(files), the list any ``spark.read`` of the table holds
    anyway; no manifest row beyond its path is collected."""
    man = _read_manifest(spark, data_dir)
    if man is None:
        return build_manifest(spark, data_dir, cols)
    stats_schema = StructType(
        [StructField(c, man.schema[f"min_{c}"].dataType) for c in cols]
    )
    current = set(spark.read.schema(stats_schema).parquet(data_dir).inputFiles())
    known = {r.file for r in man.select("file").collect()}
    new_files = sorted(current - known)
    retired = known - current
    adds = None
    if new_files:
        df = (
            spark.read.schema(stats_schema)
            .option("basePath", data_dir)
            .parquet(*(unquote(f) for f in new_files))
        )
        adds = _file_stats(df, cols).select(*man.columns)
    if retired:
        # the retired URIs enter the plan as ONE string literal split back
        # into rows (a URI holds no raw newline): a Python-list
        # createDataFrame costs ~1.7 s the first time a session runs one
        # (4 cores), and nothing else on the ingest path runs one
        gone = spark.range(1).select(
            F.explode(F.split(F.lit("\n".join(retired)), "\n")).alias("file")
        )
        kept = man.join(F.broadcast(gone), "file", "left_anti")
        # staged while the old parts still exist: `kept` reads them
        _write_whole(spark, data_dir, kept if adds is None else kept.unionByName(adds))
    elif adds is not None:
        adds.coalesce(1).write.mode("append").parquet(
            os.path.join(data_dir, MANIFEST_DIR)
        )
    return _read_manifest(spark, data_dir, man.schema)


def pruned_read(
    spark: SparkSession,
    data_dir: str,
    ranges: dict[str, tuple],
) -> DataFrame:
    """Read only the files whose manifest envelope overlaps every
    ``col: (lo, hi)`` interval in *ranges* (inclusive bounds; a file with
    NULL stats for a column is conservatively kept).

    The returned DataFrame still carries NO implicit filter — callers
    apply their own predicate as usual; this only shrinks the file set the
    scan starts from, exactly like a format-native file-skipping index.
    Raises ``FileNotFoundError`` if a manifest-listed selected file is
    gone (stale manifest — rebuild/refresh after append/compact); the
    check goes through the path's own Hadoop filesystem, so it holds on
    any scheme, not just ``file:``.

    Driver-side bound: the surviving file PATHS are collected to the
    driver — the Iceberg/Delta planning posture, and the same list
    ``spark.read.parquet(*files)`` must hold anyway — so the memory bound
    is the number of files SURVIVING pruning, not the table's row count.
    That bound is honest but not free: a weak predicate over a
    small-files table degenerates to the full listing (~100 bytes/path —
    a million-file selection is ~100 MB of driver heap, plus an equally
    long scan-plan path list).  The mitigation is the file-count lever,
    not this function: keep generations folded with
    ``ingest.compact_partitions`` (the d03 lifecycle's lever; manifest
    maintenance itself is d02 — after a compaction, refresh the manifest
    per the staleness contract above) so the listing the manifest — and
    every ``spark.read`` — holds stays partitions-sized.
    ``tests/test_manifest.py::test_pruned_read_weak_predicate_bound``
    fences the degenerate case at an adversarial file count."""
    man = _read_manifest(spark, data_dir)
    if man is None:
        raise FileNotFoundError(f"no manifest under {data_dir}; build_manifest first")
    cond = F.lit(True)
    for c, (lo, hi) in ranges.items():
        overlap = (F.col(f"min_{c}") <= F.lit(hi)) & (
            F.col(f"max_{c}") >= F.lit(lo)
        )
        cond = cond & (
            overlap | F.col(f"min_{c}").isNull() | F.col(f"max_{c}").isNull()
        )
    files = [unquote(r.file) for r in man.filter(cond).select("file").collect()]
    if not files:
        # empty selection: preserve the schema without touching data files
        return spark.read.parquet(data_dir).limit(0)
    fs, _, jvm = _fs(spark, files[0])
    for f in files:
        if not fs.exists(jvm.org.apache.hadoop.fs.Path(f)):
            raise FileNotFoundError(
                f"manifest lists missing file {f}; rebuild the manifest"
            )
    # basePath keeps hive partition columns when the table is partitioned
    return spark.read.option("basePath", data_dir).parquet(*files)
