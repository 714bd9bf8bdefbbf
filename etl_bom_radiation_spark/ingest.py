"""Ingest pipeline: file state machine + partitioned sink (SURVEY §2.A
S3/S4/S6-S8, §2.F T1/T8).

Batch mode (:func:`ingest_batch`) and streaming mode (:func:`ingest_stream`,
``Trigger.AvailableNow`` by default) of the reference's event-driven flow
(reference bom-create-bucket/bom_create_bucket.py:80-118 wiring;
bom/bom.py:35-84 per-file processing):

    in/  --decode-->  athena/year=/month=/day=/hour=/   (good points)
     \\--move-->  done/         (processed files,   bom.py:79-80 intended)
     \\--move-->  quarantine/   (malformed files — upgrades bom.py:82-84's
                                 swallow-and-log TODO to a real parking lot)

Scale design:

* the decode plan is narrow-only (no shuffle) — file-level parallelism,
  linear to 1000 executors;
* the partitioned write repartitions on the partition columns first so each
  (year,month,day,hour) directory is written by one task instead of every
  task appending a small file to every partition — at 100 TB this is the
  difference between |partitions| output files and |tasks|x|partitions|
  small files;
* each arriving file is read once: the write job parses its header,
  classifies it on decode's own header columns and its filename metadata
  (NULL after ANSI-safe try_cast = malformed), and decodes only the good
  files; the per-file verdicts come back through an ``Observation`` of
  that job;
* file moves are Hadoop FS renames (server-side copy+delete in the
  reference, bom.py:16-25); the list of files per batch is small (one
  driver-side loop over file names, never over rows).

Publishing into the sink. The reference only ever appends (bom.py:76).
Two operations here change what the sink holds, compaction
(:func:`compact_partitions`) and the exactly-once stream sink
(:func:`ingest_stream`), and both go through one crash-safe protocol:

1. *stage*: the new files are written complete into a hidden staging dir
   (a dot-prefixed sibling of the partition for compaction,
   ``<checkpoint>/staging/<batch_id>`` for the stream);
2. *commit*: :func:`_write_manifest` writes a manifest listing the staged
   files to add (paths relative to the sink root) and the sink files the
   publish retires. It is written under a dot-temp name and renamed in,
   so it exists only once complete: a crash mid-write must not leave a
   torn manifest that a replay would take for a commit;
3. *publish*: :func:`_replay_publish` renames every listed file into its
   partition dir, then deletes the retired files. New files go in before
   old ones go out, so a concurrent reader never sees a partition empty
   or undercounted; it may briefly see both generations of a compaction
   (duplicate rows), so compact in a read-quiesced window for strict
   snapshots. Every Hadoop rename/delete boolean is checked: a silently
   failed rename would strand a file for the staging cleanup to destroy,
   and a silently failed retire would double-count rows;
4. the caller removes the staging dir.

Recovery is "manifest present: replay; absent: discard and redo". A crash
before the manifest exists has published nothing, and the replay is
idempotent (a source already gone was published, a retired file already
gone was retired), so a crash anywhere in steps 3-4 ends in the state a
clean run leaves. The add/retire lists are passed in memory on the happy
path; only recovery reads a manifest back.
"""

from __future__ import annotations

import functools
import operator
import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from .grid.decode import (
    HEADER_COLS,
    decode_body,
    decode_grids,
    decode_header,
    read_grid_files,
    with_filename_metadata,
)
from .session import filter_cached, select_cached
from .workspace import (
    Workspace,
    _fs,
    _read_text,
    _write_atomic,
    register_batch_partitions,
)

PARTITION_COLS = ["year", "month", "day", "hour"]


@dataclass
class IngestResult:
    files_ok: list[str] = field(default_factory=list)
    files_quarantined: list[str] = field(default_factory=list)
    #: path -> reason code ('bad_header' | 'bad_filename' | 'oversized' |
    #: 'empty') — the observability the reference's swallow-and-log lacked
    #: (bom.py:82-84)
    quarantine_reasons: dict[str, str] = field(default_factory=dict)
    #: path -> error for files whose archival/quarantine rename failed.
    #: Their data IS committed (the write precedes the moves); they stay in
    #: ``in/`` and would be re-decoded next batch — callers must alert on a
    #: non-empty value (or quarantine by hand) instead of re-running blindly.
    move_failures: dict[str, str] = field(default_factory=dict)
    rows_written: int = 0
    partitions: list[dict] = field(default_factory=list)


def _classify_columns() -> list:
    header_ok = functools.reduce(
        operator.and_, (F.col(c).isNotNull() for c in HEADER_COLS)
    )
    name_ok = F.col("Date").isNotNull() & F.col("RadiationType").isNotNull()
    return [
        "*",
        (header_ok & name_ok).alias("_ok"),
        # a bad header wins over a bad filename
        F.when(~header_ok, "bad_header")
        .when(~name_ok, "bad_filename")
        .alias("_reason"),
    ]


def _classify_files(headed: DataFrame) -> DataFrame:
    """Mark each file of :func:`decode_header`'s output good or bad: bad =
    a header scalar that decode cannot parse (the very columns the decode
    uses, so a header the classification passes never decodes to NULL
    coordinates) or a filename off the grammar. Adds ``_ok`` (never NULL)
    and ``_reason`` (the reason code of a bad file)."""
    return select_cached(headed, "ingest.classify", _classify_columns)


def _move(spark: SparkSession, src_uri: str, dst_dir: str) -> None:
    """S8: file state transition via FS rename (reference copy+delete,
    bom.py:16-25).

    ``FileSystem.rename`` returns False instead of raising when the
    destination already exists (e.g. a re-delivered input file whose name
    is already in done/). Silently ignoring that left the file in in/ to
    be re-ingested next batch; instead the destination is
    replaced — S3 copy semantics, matching the reference — and a rename
    that still fails raises."""
    fs, src, jvm = _fs(spark, src_uri)
    dst = jvm.org.apache.hadoop.fs.Path(f"{dst_dir}/{src.getName()}")
    if not fs.rename(src, dst):
        if fs.exists(src) and fs.exists(dst):
            fs.delete(dst, False)  # best-effort: the retried rename below is the check
            if fs.rename(src, dst):
                return
        raise OSError(f"rename failed: {src_uri} -> {dst.toString()}")


def _move_all(
    spark: SparkSession, paths: list[str], dst_dir: str, max_workers: int = 16
) -> dict[str, str]:
    """Move a batch of files with a bounded driver-side thread pool (py4j
    gateway and Hadoop FileSystem are both thread-safe). One rename per
    file is inherent to the prefix state machine; the pool amortizes the
    per-call py4j round-trip. The list is one entry per FILE per batch —
    at a millions-of-small-files regime, shard the in/ prefix across
    multiple ingest jobs rather than growing this list.

    Failures are isolated per file: every path gets its rename attempt and
    the failed ones come back as ``{path: error}`` instead of an exception
    aborting the batch mid-move (raising here AFTER points were
    appended and partitions registered stranded the not-yet-moved files in
    ``in/`` to be re-decoded — and re-appended — next batch)."""
    if not paths:
        return {}
    from concurrent.futures import ThreadPoolExecutor

    def _try(p: str) -> tuple[str, str] | None:
        try:
            _move(spark, p, dst_dir)
            return None
        except Exception as e:  # per-file isolation: collect, don't abort
            return (p, f"{type(e).__name__}: {e}")

    with ThreadPoolExecutor(max_workers=min(max_workers, len(paths))) as ex:
        return dict(r for r in ex.map(_try, paths) if r is not None)


def write_points(
    df: DataFrame,
    data_dir: str,
    mode: str = "append",
    files_per_partition: int = 1,
    cluster_spatial: bool = False,
) -> None:
    """S4: Hive-layout partitioned parquet sink (bom.py:28-32 layout,
    parquet instead of headed CSV — SURVEY §1.6). Repartition on the
    partition keys first: one writer task per output partition — the
    anti-small-file default (|partitions| files, not |tasks|x|partitions|).

    ``files_per_partition`` > 1 is the HOT-PARTITION lever: a skewed hour
    (one partition holding a large share of the batch) makes the one-task-
    per-partition shape a single-writer straggler, so fan the partition out
    across k writer tasks via a deterministic content salt (pmod of a
    coordinate hash — uniform, reproducible). Trade-off: up to k files per
    partition per batch; compact_partitions folds them back when the
    partition cools.

    ``cluster_spatial=True`` Z-orders rows WITHIN each writer task's
    partition (``sortWithinPartitions`` on the Morton key of (lon, lat) —
    ``scale.zorder_key``): the analyst workload on this table is bbox x
    time (SURVEY §3.4), hive partitioning prunes time, and the in-file
    Z-order lets the parquet reader prune row groups on BOTH coordinate
    stats for the bbox half (measured: bench ``cluster_scan_*``; footer
    envelopes asserted in tests/test_scale.py and test_ingest.py). The
    sort is in-task (no extra Exchange — the repartition above already
    placed the rows) and costs one in-memory sort per writer."""
    cols = [F.col(c) for c in PARTITION_COLS]
    repartitioned = df.repartition(*cols)
    if files_per_partition > 1:
        cols.append(
            F.pmod(
                F.xxhash64("Longitude", "Latitude"), F.lit(files_per_partition)
            ).alias("_salt")
        )
        # explicit partition count: AQE would otherwise coalesce the salted
        # shuffle back into one task and undo the fan-out
        n = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
        repartitioned = df.repartition(n, *cols)
    if cluster_spatial:
        from .scale import zorder_key

        # quantum 2^-9 deg (~200 m): binary-exact, finer than any product
        # cellsize; 18 bits/axis so the whole-globe domain (360/2^-9 =
        # 184320 cells < 2^18) never aliases
        zk = zorder_key(
            F.col("Longitude"), F.col("Latitude"), -180.0, -90.0, 0.001953125,
            bits=18,
        )
        # the partition columns MUST lead the sort: the partitioned V1
        # writer requires an ordering on them and inserts its own Sort if
        # unsatisfied — and Catalyst's EliminateSorts then removes this one
        # entirely, silently writing un-clustered files (verified on a
        # two-hour batch). Leading with the partition cols
        # makes this sort satisfy the writer's requirement, so the Morton
        # key survives as the intra-partition order. Caveat: the satisfies
        # check compares post-folding orderings, so it holds when the
        # partition columns are data-derived (the decode output always is);
        # a synthetic frame mixing LITERAL partition values with derived
        # ones folds the literals out of this sort, fails the writer's
        # prefix check, and loses the clustering — keep partition columns
        # non-foldable (tests/test_ingest.py pins the production shape).
        repartitioned = repartitioned.sortWithinPartitions(
            *PARTITION_COLS, zk
        )
    (
        repartitioned.write.mode(mode)
        .partitionBy(*PARTITION_COLS)
        .parquet(data_dir)
    )


def write_points_csv(df: DataFrame, out_dir: str, mode: str = "overwrite") -> None:
    """S3: the reference's own sink shape — headed CSV (bom.py:111,153-156)
    with the reference's minute-precision Date rendering
    ('%Y-%m-%d %H:%M', bom.py:68,105-106), kept for byte-level export
    parity; parquet (write_points) is the primary format."""
    (
        df.repartition(*PARTITION_COLS)
        .write.mode(mode)
        .option("header", True)
        .option("timestampFormat", "yyyy-MM-dd HH:mm")
        .partitionBy(*PARTITION_COLS)
        .csv(out_dir)
    )


#: wholetext holds one full file per row in executor memory — a grid far
#: beyond any real BOM product is malformed by definition and goes straight
#: to quarantine WITHOUT being read (size from the FS listing, no I/O).
DEFAULT_MAX_FILE_BYTES = 256 * 1024 * 1024


def _split_by_size(
    spark: SparkSession, in_dir: str, max_bytes: int
) -> tuple[list[str], set[str]]:
    """FS-listing size guard: (readable file paths, oversized paths).
    Oversized files are never handed to the wholetext reader — their size
    comes from the listing, zero I/O."""
    fs, path, _ = _fs(spark, in_dir)
    readable: list[str] = []
    oversized: set[str] = set()
    if not fs.exists(path):
        return readable, oversized
    for st in fs.listStatus(path):
        if not st.isFile():
            continue
        p = st.getPath().toString()
        (oversized.add(p) if st.getLen() > max_bytes else readable.append(p))
    return sorted(readable), oversized


def ingest_batch(
    spark: SparkSession,
    ws: Workspace,
    fq_table: str | None = None,
    move_files: bool = True,
    max_file_bytes: int = DEFAULT_MAX_FILE_BYTES,
    cluster_spatial: bool = False,
    stats_manifest_cols: list[str] | None = None,
) -> IngestResult:
    """One batch drain of ``in/``: decode, write good points partitioned,
    move good files to ``done/`` and bad files to ``quarantine/``, register
    partitions (T8). Mirrors process_file (bom.py:35-84) at batch scale.

    Driver-side state is one entry per FILE per batch (the observed
    per-file flags and the move lists) — bounded by arrival rate, never by
    row count. Files move only after the write has succeeded. For a
    millions-of-files backlog, shard the in/ prefix across ingest jobs; the
    decode/write data path itself is fully distributed."""
    res = IngestResult()
    readable, oversized = _split_by_size(spark, ws.in_dir, max_file_bytes)
    if not readable and not oversized:
        return res
    flags = []
    if readable:
        # one pass: every file is read, classified and (if good) decoded by
        # the write job; the flags come back through an Observation taken
        # before the filter, while the file is still one row
        flagged = _classify_files(
            decode_header(with_filename_metadata(read_grid_files(spark, readable)))
        )
        files_obs = Observation("ingest_batch_files")
        observed = flagged.observe(
            files_obs, F.collect_list(F.struct("_path", "_ok", "_reason")).alias("files")
        )
        points = decode_body(filter_cached(observed, "ingest.ok", lambda: F.col("_ok")))
        # row count + distinct partition tuples (bounded by |files| — one
        # hour partition per file), observed in the same write job
        obs = Observation("ingest_batch")
        points = points.observe(
            obs,
            F.count(F.lit(1)).alias("rows"),
            F.collect_set(F.struct(*PARTITION_COLS)).alias("parts"),
        )
        # runs even when no file is good: it writes no data file then
        write_points(points, ws.data_dir, cluster_spatial=cluster_spatial)
        if obs._jo.getRow().length() > 0:
            flags = files_obs.get["files"]  # one row per FILE (small)
            metrics = obs.get
            res.rows_written = metrics["rows"]
            res.partitions = sorted(
                (p.asDict() for p in metrics["parts"]),
                key=lambda d: tuple(d[c] for c in PARTITION_COLS),
            )
        else:
            # no point reached the write's shuffle, and AQE replaced that
            # empty stage by an empty relation, dropping both observations
            # taken inside it (Spark 4.1): nothing was written, so classify
            # in a second job
            flags = flagged.select("_path", "_ok", "_reason").collect()
    # Path reconciliation, by basename — the in/ listing is flat so
    # basenames are unique within a batch:
    # * the wholetext reader emits NO row for a zero-length file, so an
    #   empty file would never be classified — and would sit in in/
    #   forever, re-listed by every batch: any listed readable file that
    #   produced no row is malformed by absence;
    # * input_file_name() returns URL-ENCODED URIs ('"' -> %22) that
    #   Hadoop Path does NOT decode (measured: rename of the %22 form
    #   raises FileNotFoundException), so a URI-special char in a
    #   filename left the file in in/ to re-ingest — DUPLICATE rows —
    #   every later batch. All FS operations and reported paths use the
    #   listing's REAL paths, never the reader's encoded spelling.
    from urllib.parse import unquote

    by_name = {os.path.basename(p): p for p in readable}

    def _canon(uri: str) -> str:
        return by_name.get(os.path.basename(unquote(uri)), uri)

    seen = {os.path.basename(unquote(r["_path"])) for r in flags}
    empty_files = [p for p in readable if os.path.basename(p) not in seen]
    ok_files = {_canon(r["_path"]) for r in flags if r["_ok"]}
    bad_files = (
        {_canon(r["_path"]) for r in flags if not r["_ok"]}
        | oversized
        | set(empty_files)
    )
    res.files_ok = sorted(ok_files)
    res.files_quarantined = sorted(bad_files)
    res.quarantine_reasons = {
        **{_canon(r["_path"]): r["_reason"] for r in flags if not r["_ok"]},
        **{p: "oversized" for p in oversized},
        **{p: "empty" for p in empty_files},
    }

    if ok_files:
        if fq_table is not None:
            register_batch_partitions(spark, fq_table, ws, res.partitions)
        if stats_manifest_cols:
            # maintained file-skipping stats (the MSCK-analog for file
            # envelopes): refresh is incremental — only the files this
            # batch appended are read back, and their stats are appended
            # as one part file. Ordered AFTER the data write and partition
            # registration; a crash in between leaves this batch's files
            # out of the manifest, so pruned reads silently skip them until
            # the next refresh, which picks them up (only a RETIRED file
            # makes pruned_read raise).
            from .manifest import refresh_manifest

            refresh_manifest(spark, ws.data_dir, stats_manifest_cols)

    if move_files:
        res.move_failures = {
            **_move_all(spark, sorted(ok_files), ws.done_dir),
            **_move_all(spark, sorted(bad_files), ws.quarantine_dir),
        }
    return res


#: commit manifest of a publish, inside its staging dir; underscore-prefixed
#: so Spark never reads it as data
_MANIFEST = "_PUBLISH"


def _staged_data_files(fs, staging) -> list[str]:
    """Relative paths (partition dirs + file name) of the data files under a
    staging dir. One entry per FILE per batch — bounded by batch size, the
    same driver-side bound the classify/move lists already have. Paths are
    sliced against the FS-qualified root (listStatus returns qualified URIs
    like ``file:/...`` even when the caller's URI is scheme-less)."""
    base = fs.makeQualified(staging).toString()
    rels = []
    stack = [staging]
    while stack:
        for st in fs.listStatus(stack.pop()):
            name = st.getPath().getName()
            if st.isDirectory():
                if not name.startswith((".", "_")):
                    stack.append(st.getPath())
            elif not name.startswith(("_", ".")):
                rels.append(st.getPath().toString()[len(base) + 1 :])
    return sorted(rels)


def _write_manifest(fs, jvm, staging: str, add: list[str], retire: list[str]) -> None:
    """Commit a publish (step 2 of the module's protocol): one ``+path``
    line per staged file to add and one ``-path`` line per sink file to
    retire, written under a dot-temp name and renamed in, so the manifest
    exists only once it is complete."""
    lines = [f"+{r}" for r in add] + [f"-{r}" for r in retire]
    _write_atomic(fs, jvm, f"{staging}/{_MANIFEST}", "\n".join(lines), "publish")


def _read_manifest(fs, jvm, staging: str) -> tuple[list[str], list[str]] | None:
    """``(add, retire)`` of the committed manifest in *staging*, or None if
    the publish was never committed."""
    p = jvm.org.apache.hadoop.fs.Path(f"{staging}/{_MANIFEST}")
    if not fs.exists(p):
        return None
    lines = _read_text(fs, jvm, p).splitlines()
    return (
        [ln[1:] for ln in lines if ln.startswith("+")],
        [ln[1:] for ln in lines if ln.startswith("-")],
    )


def _replay_publish(
    fs, jvm, staging: str, sink: str, add: list[str], retire: list[str]
) -> None:
    """Publish a committed manifest (step 3 of the module's protocol):
    rename each staged ``add`` path into ``sink``, then delete each
    ``retire`` path from it. Idempotent, so recovery is a replay: a source
    already gone was published by an earlier attempt and a retired file
    already gone was retired. Staged names are unique, so a rename that
    returns false onto an existing destination means this very file was
    published and its leftover source is dropped. The caller removes the
    staging dir."""
    path = jvm.org.apache.hadoop.fs.Path
    for d in sorted({os.path.dirname(rel) for rel in add} - {""}):
        fs.mkdirs(path(f"{sink}/{d}"))
    for rel in add:
        src, dst = path(f"{staging}/{rel}"), path(f"{sink}/{rel}")
        if not fs.exists(src):
            continue
        if not fs.rename(src, dst):
            if not fs.exists(dst):
                raise OSError(f"publish: could not move {src} into {sink}")
            fs.delete(src, False)  # best-effort: dst holds this file; the source is staging scratch
    for rel in retire:
        old = path(f"{sink}/{rel}")
        if fs.exists(old) and not fs.delete(old, False):
            raise OSError(f"publish: could not retire {old}")


def _compact_one(
    spark: SparkSession,
    fs,
    jvm,
    part_dir,
    max_files_per_partition: int,
    min_files_to_compact: int,
) -> bool:
    """Fold ONE hive partition's small files and publish the fold in place
    of the old generation. Returns True if the partition was compacted (or
    a crashed compaction was recovered)."""
    part_uri = part_dir.toString()
    tmp_uri = f"{part_dir.getParent().toString()}/.{part_dir.getName()}.compacting"
    tmp = jvm.org.apache.hadoop.fs.Path(tmp_uri)
    if fs.exists(tmp):
        committed = _read_manifest(fs, jvm, tmp_uri)
        if committed is not None:
            _replay_publish(fs, jvm, tmp_uri, part_uri, *committed)
        # published, or a fold whose write died before its commit; a
        # survivor is discarded or replayed again by the next run
        fs.delete(tmp, True)  # best-effort: the temp holds only scratch now
        if committed is not None:
            return True  # the recovered fold IS the compacted generation
    old = [
        s.getPath().getName()
        for s in fs.listStatus(part_dir)
        if s.isFile() and not s.getPath().getName().startswith(("_", "."))
    ]
    if len(old) < min_files_to_compact:
        return False
    (
        spark.read.parquet(part_uri)
        .coalesce(max_files_per_partition)
        .write.mode("overwrite")
        .parquet(tmp_uri)
    )
    folded = _staged_data_files(fs, tmp)
    _write_manifest(fs, jvm, tmp_uri, folded, old)
    _replay_publish(fs, jvm, tmp_uri, part_uri, folded, old)
    fs.delete(tmp, True)  # best-effort: content published; leftover is scratch
    return True


def compact_partitions(
    spark: SparkSession,
    data_dir: str,
    max_files_per_partition: int = 1,
    min_files_to_compact: int = 2,
    max_concurrency: int = 8,
) -> int:
    """Small-file compaction for the partitioned sink (the known 100 TB
    follow-up of per-file incremental ingest: millions of small parquet
    files inflate driver listing time and per-task overhead).

    Rewrites each hive partition that holds at least
    ``min_files_to_compact`` data files down to ``max_files_per_partition``
    files, through the publish protocol in the module docstring: the fold
    is staged in a dot-prefixed sibling dir (hidden from partition
    discovery; a bare ``hour=N._compacting`` sibling would break hive
    layout parsing for concurrent readers of ``data_dir``), its manifest
    adds the folded files and retires the old generation, and the staged
    dir is deleted after the publish. A crash is repaired by the next run,
    which replays a committed fold and discards an uncommitted one.
    Returns the number of partitions compacted. Run it out-of-band (the
    reference has no equivalent — its output only ever accretes).

    Partitions are independent, so their fold jobs run under a bounded
    driver-side thread pool (``max_concurrency`` concurrent Spark jobs —
    the scheduler interleaves them across executor slots; the serial loop
    was the bottleneck at a millions-of-partitions archive).
    A partition that fails mid-swap doesn't strand the rest: every
    partition gets its attempt, then the first error is re-raised — its
    partition is repaired by recovery on the next run."""
    fs, root, jvm = _fs(spark, data_dir)
    if not fs.exists(root):
        return 0

    # collect leaf partition dirs (year=/month=/day=/hour=); dot/underscore
    # dirs (compaction temps, markers) are not partitions
    def leaves(p):
        subs = [
            s.getPath()
            for s in fs.listStatus(p)
            if s.isDirectory() and not s.getPath().getName().startswith((".", "_"))
        ]
        if not subs:
            return [p]
        out = []
        for s in subs:
            out.extend(leaves(s))
        return out

    parts = leaves(root)
    if not parts:
        return 0
    from concurrent.futures import ThreadPoolExecutor

    errors: list[Exception] = []

    def _try(part_dir) -> bool:
        try:
            return _compact_one(
                spark, fs, jvm, part_dir, max_files_per_partition, min_files_to_compact
            )
        except Exception as e:  # isolate: other partitions still compact
            errors.append(e)
            return False

    with ThreadPoolExecutor(max_workers=min(max_concurrency, len(parts))) as ex:
        compacted = sum(ex.map(_try, parts))
    if errors:
        raise errors[0]
    return compacted


def archived_glob_for_partition(
    spark: SparkSession, done_dir: str, year: int, month: int, day: int, hour: int
) -> str | None:
    """Listing-level partition prune for :func:`reprocess_partition`: the
    filename IS the metadata (bom.py:94-107), so an hour partition's source
    files are selected by a NAME glob on the filename-encoded UTC stamp,
    applied as ``pathGlobFilter`` during the directory's single listing —
    matching runs JVM/object-store-side with O(1) driver round-trips (a
    per-file Python loop costs ~2 py4j round-trips per archived file:
    seconds at 1000 files, unusable at millions; a path-level glob turns
    every match into its own listing root, ~6x slower). Without any prune,
    rebuilding one hour read the entire ``done/`` archive's wholetext bytes
    just to discard them post-decode.

    Returns the name pattern (``{a,b}`` alternation covers the two UTC
    candidates of the DST fall-back hour), or None when the hour cannot
    exist (spring-forward), has no archived files, or the archive dir is
    absent. The glob is a SUPERSET selector (an underscore-happy base name
    could also contain ``_YYYYMMDD_HH``); exactness comes from the
    row-level partition filter in :func:`reprocess_partition`."""
    from .grid.filenames import utc_hours_for_sydney_partition

    fs, root, jvm = _fs(spark, done_dir)
    if not fs.exists(root):
        return None
    stamps = [f"{u:%Y%m%d}_{u:%H}" for u in utc_hours_for_sydney_partition(year, month, day, hour)]
    if not stamps:
        return None
    pat = f"*_{stamps[0]}*" if len(stamps) == 1 else "*_{" + ",".join(stamps) + "}*"
    matches = fs.globStatus(jvm.org.apache.hadoop.fs.Path(f"{done_dir}/{pat}"))
    if matches is None or len(matches) == 0:
        return None  # no-op instead of an empty overwrite job
    return pat


def reprocess_partition(
    spark: SparkSession, ws: Workspace, year: int, month: int, day: int, hour: int
) -> int:
    """Ops path for corrected source data: re-derive ONE hour partition from
    the archived originals in ``done/`` and swap it in atomically via
    dynamic partition overwrite — only the targeted partition is rewritten,
    every other partition is untouched (the reference could only ever
    append, bom.py:76; corrections meant manual S3 surgery).

    The source scan opens only the target hour's archived files
    (:func:`archived_glob_for_partition`); the row-level partition filter
    makes the glob superset exact and guards the write against any parse
    divergence."""
    pat = archived_glob_for_partition(spark, ws.done_dir, year, month, day, hour)
    if pat is None:
        return 0
    meta = with_filename_metadata(
        read_grid_files(spark, ws.done_dir, path_glob_filter=pat)
    )
    points = decode_grids(meta).filter(
        (F.col("year") == year)
        & (F.col("month") == month)
        & (F.col("day") == day)
        & (F.col("hour") == hour)
    )
    # count via Observation DURING the write — a separate count() action
    # would decode every archived source file twice
    obs = Observation("reprocess")
    points = points.observe(obs, F.count(F.lit(1)).alias("rows"))
    # per-write option, not the session conf: setting the session-wide
    # mode would make every later overwrite in the session dynamic too
    (
        points.repartition(*PARTITION_COLS)
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*PARTITION_COLS)
        .parquet(ws.data_dir)
    )
    if obs._jo.getRow().length() == 0:
        # no point reached the write's shuffle, and AQE replaced that empty
        # stage by an empty relation, dropping the observation taken inside
        # it (Spark 4.1): nothing was written, the partition is as it was
        return 0
    return obs.get["rows"]


def _stage_and_publish(
    fs, jvm, batch_df: DataFrame, staging: str, data_dir: str
) -> list[str]:
    """Publish one stream micro-batch into *data_dir* exactly once, through
    the module's publish protocol (add = the staged files, retire = none).
    A committed manifest left by an earlier attempt of the same batch is
    replayed instead of restaging. Returns the published paths relative to
    *data_dir*."""
    committed = _read_manifest(fs, jvm, staging)
    if committed is None:
        # overwrite discards a generation whose write died before its
        # commit: nothing of it was published
        (
            batch_df.repartition(*PARTITION_COLS)
            .write.mode("overwrite")
            .partitionBy(*PARTITION_COLS)
            .parquet(staging)
        )
        add = _staged_data_files(fs, jvm.org.apache.hadoop.fs.Path(staging))
        _write_manifest(fs, jvm, staging, add, [])
    else:
        add = committed[0]
    _replay_publish(fs, jvm, staging, data_dir, add, [])
    return add


def _batch_committed(spark: SparkSession, commit_dir: str, batch_id: int) -> bool:
    """True if the sink-side commit marker for *batch_id* exists."""
    fs, p, _ = _fs(spark, f"{commit_dir}/{batch_id}")
    return bool(fs.exists(p))


def _mark_batch_committed(spark: SparkSession, commit_dir: str, batch_id: int) -> None:
    """Write the (empty) sink-side commit marker for *batch_id*."""
    fs, p, _ = _fs(spark, f"{commit_dir}/{batch_id}")
    fs.mkdirs(p.getParent())
    fs.create(p, True).close()


def ingest_stream(
    spark: SparkSession,
    ws: Workspace,
    checkpoint: str,
    fq_table: str | None = None,
    available_now: bool = True,
    rollup_dir: str | None = None,
):
    """T1/S6: incremental exactly-once file ingest — Structured Streaming
    file source + checkpoint (the reference's S3 ObjectCreated trigger +
    SQS retry, bom_create_bucket.py:80-97, lambda.cfn.yaml:37-45).

    ``foreachBatch``: partitioned write + T8 partition registration after
    each commit — synchronous, removing the reference's fire-and-forget
    partition-visibility race (bom_partition.py:80,129). With
    ``available_now`` the query drains pending files and stops (batch-drain
    semantics); otherwise it keeps watching ``in/``. With ``rollup_dir``
    each batch also appends hourly partial aggregates (the incrementally-
    maintained rollup, streaming/rollup.py).

    Exactly-once: foreachBatch re-delivers a micro-batch (same batch_id)
    after a failed/restarted trigger, and plain parquet appends are not
    idempotent. So each batch decodes ONCE into
    ``<checkpoint>/staging/<batch_id>`` and is published through the
    module's publish protocol (:func:`_stage_and_publish`); a re-delivered
    batch replays its committed manifest or restages. Rollup partials land
    in a per-batch OVERWRITTEN subdir and partition registration uses ADD
    IF NOT EXISTS, so every post-publish step is replay-safe too; the
    commit marker (``<checkpoint>/sink_commits/<batch_id>``) is written
    last and the staging dir is removed only after it. A crash at ANY
    point therefore resumes without duplicating or losing a row, with no
    table format needed. The published files, not a re-decode, feed the
    rollup partials and the partition list: one decode pass per batch.

    Note: malformed files are not moved here (the streaming source tracks
    its input files; moving them mid-stream breaks the source) — their rows
    degrade to NULL and are dropped by decode; run :func:`ingest_batch` for
    the moving/quarantining state machine.
    """
    files = (
        spark.readStream.format("text")
        .option("wholetext", True)
        .load(ws.in_dir)
        .select(F.input_file_name().alias("_path"), F.col("value").alias("_content"))
    )
    points = decode_grids(with_filename_metadata(files))
    commit_dir = f"{checkpoint}/sink_commits"

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        staging_uri = f"{checkpoint}/staging/{batch_id}"
        fs, staging, jvm = _fs(spark, staging_uri)
        if _batch_committed(spark, commit_dir, batch_id):
            # re-delivered batch, already fully committed; reap a staging
            # dir left by a crash between the marker write and the cleanup
            fs.delete(staging, True)  # best-effort: scratch reap, next replay re-reaps
            return
        rels = _stage_and_publish(fs, jvm, batch_df, staging_uri, ws.data_dir)
        parts = sorted(
            {tuple(seg.split("=")[1] for seg in rel.split("/")[:-1]) for rel in rels}
        )
        # a file whose NAME fails the grammar decodes with NULL Date ->
        # NULL partition values -> __HIVE_DEFAULT_PARTITION__ dirs. The
        # stream cannot quarantine (the source tracks its inputs), so the
        # rows publish there — quarantine-in-place, visible to direct
        # parquet reads — but they CANNOT be catalog-registered in an
        # int-typed partition scheme. An int() parse of them would abort
        # the sink, and foreachBatch would then replay the same batch
        # forever: one bad filename would poison-pill the whole stream
        # (found by the weird-grid net).
        part_dicts = [
            dict(zip(PARTITION_COLS, (int(v) for v in p)))
            for p in parts
            if "__HIVE_DEFAULT_PARTITION__" not in p
        ]
        if rollup_dir is not None:
            from .streaming.rollup import append_hourly_partials

            # partials come from the staged parquet (columnar re-read, no
            # second decode)... but the staged files were just renamed out;
            # read the published files for exactly this batch via the
            # manifest paths — still one decode total
            batch_files = [f"{ws.data_dir}/{rel}" for rel in rels]
            staged_points = spark.read.option("basePath", ws.data_dir).parquet(
                *batch_files
            )
            append_hourly_partials(staged_points, rollup_dir, batch_id=batch_id)
        if fq_table is not None:
            register_batch_partitions(spark, fq_table, ws, part_dicts)
        _mark_batch_committed(spark, commit_dir, batch_id)
        fs.delete(staging, True)  # best-effort: committed; leftover staging is reaped on replay

    writer = (
        points.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
