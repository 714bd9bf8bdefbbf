"""Workspace provisioning + catalog DDL (SURVEY §2.A S10, §2.B D1-D4).

Replaces the reference's CloudFormation/boto3 provisioning with
engine-native equivalents:

* prefix layout ``in/ processing/ done/ quarantine/ athena/`` — the
  reference creates these as zero-byte S3 folder objects
  (bom-create-bucket/bom_create_bucket.py:117-124); here they are
  directories created through the Hadoop FileSystem API, so the same code
  path works on local FS, HDFS, or s3a on a real cluster;
* ``CREATE DATABASE IF NOT EXISTS`` with hyphens mapped to underscores
  (bom-create-database/bom_create_database.py:26-27,41-44) — native
  Spark SQL, synchronous (no fire-and-forget visibility race);
* external partitioned table registration + ``MSCK REPAIR TABLE`` on first
  run, gated by a run-once marker file (bom-partition/bom_partition.py:29-49,
  52-81), ``ALTER TABLE ADD PARTITION`` incrementally afterwards
  (bom_partition.py:92-131). The quarantine prefix upgrades the reference's
  swallow-and-log TODO (bom/bom.py:82-84).

All functions are idempotent — the reference's existence-check pattern
(bom_create_bucket.py:12-31).
"""

from __future__ import annotations

from dataclasses import dataclass

from py4j.protocol import Py4JJavaError
from pyspark.sql import SparkSession

PREFIXES = ("in", "processing", "done", "quarantine", "athena")
PARTITION_COLS = ("year", "month", "day", "hour")  # bom.py:28-32 layout
MSCK_MARKER = "_msck_completed"  # run-once marker, bom_partition.py:39-49


def _fs(spark: SparkSession, path: str):
    """Hadoop FileSystem for *path* (works for file://, hdfs://, s3a://...)."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    return hpath.getFileSystem(spark._jsc.hadoopConfiguration()), hpath, jvm


def _write_atomic(fs, jvm, path: str, text: str, what: str) -> None:
    """Write *text* to *path* complete under the dot-temp ``.<name>.tmp``
    beside it, then rename it in, so *path* exists only once it is whole.
    A rename that returns false raises ``OSError`` (prefixed *what*)."""
    final = jvm.org.apache.hadoop.fs.Path(path)
    tmp = jvm.org.apache.hadoop.fs.Path(final.getParent(), f".{final.getName()}.tmp")
    out = fs.create(tmp, True)
    out.write(bytearray(text, "utf-8"))
    out.close()
    if not fs.rename(tmp, final):
        raise OSError(f"{what}: could not commit {final}")


def _read_text(fs, jvm, path) -> str:
    """Full contents of a small file (a Hadoop ``Path``) as UTF-8 text."""
    stream = fs.open(path)
    try:
        return jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8")
    finally:
        stream.close()


def _versions(fs, jvm, vdir) -> dict:
    """version -> Hadoop ``Path`` of every committed version ``<n>.json``
    under the directory *vdir* (a Hadoop ``Path``), from ONE glob of
    committed names.  A temp is dot-prefixed, so the glob never lists one,
    torn or complete."""
    found = fs.globStatus(jvm.org.apache.hadoop.fs.Path(vdir, "[0-9]*.json"))
    return {int(st.getPath().getName()[:-5]): st.getPath() for st in found or []}


def _commit_version(fs, jvm, vdir, n: int, text: str, what: str):
    """Commit *text* as version *n* under *vdir* and return its ``Path``:
    written complete under a dot-temp name, then renamed onto the fresh
    name ``<n zero-padded>.json``.  No version is ever replaced: a rename
    that returns false — the name already taken by a writer that won the
    race for *n*, or a store failing silently — raises ``OSError``
    (prefixed *what*)."""
    path = jvm.org.apache.hadoop.fs.Path(vdir, f"{n:020d}.json")
    _write_atomic(fs, jvm, path.toString(), text, what)
    return path


def _read_latest(fs, jvm, vdir) -> tuple[int, str] | None:
    """``(n, text)`` of the highest committed version under *vdir*, or
    None when none is committed.  If that version vanished before it was
    opened — a writer that prunes old versions deleted it during this
    read — the listing is taken again."""
    while True:
        versions = _versions(fs, jvm, vdir)
        if not versions:
            return None
        n = max(versions)
        try:
            return n, _read_text(fs, jvm, versions[n])
        except Py4JJavaError:
            if fs.exists(versions[n]):
                raise


def _dir_files(spark: SparkSession, path: str) -> list[str]:
    """The files directly under the directory *path*, skipping ``_``/``.``
    names (markers, temps), sorted; empty if *path* does not exist.
    Reading these instead of a ``_``-prefixed directory itself keeps Spark
    from warning that the root path was ignored."""
    fs, root, _ = _fs(spark, path)
    if not fs.exists(root):
        return []
    return sorted(
        st.getPath().toString()
        for st in fs.listStatus(root)
        if st.isFile() and not st.getPath().getName().startswith(("_", "."))
    )


@dataclass(frozen=True)
class Workspace:
    base: str

    def prefix(self, name: str) -> str:
        return f"{self.base}/{name}"

    @property
    def in_dir(self) -> str:
        return self.prefix("in")

    @property
    def processing_dir(self) -> str:
        return self.prefix("processing")

    @property
    def done_dir(self) -> str:
        return self.prefix("done")

    @property
    def quarantine_dir(self) -> str:
        return self.prefix("quarantine")

    @property
    def data_dir(self) -> str:
        return self.prefix("athena")


def init_workspace(spark: SparkSession, base: str) -> Workspace:
    """S10: create the prefix layout, idempotently."""
    fs, _, jvm = _fs(spark, base)
    for p in PREFIXES:
        fs.mkdirs(jvm.org.apache.hadoop.fs.Path(f"{base}/{p}"))
    return Workspace(base=base)


def database_name(stack_name: str) -> str:
    """D1 name normalization: hyphens are invalid in database names
    (bom_create_database.py:26-27)."""
    return stack_name.replace("-", "_")


def create_database(spark: SparkSession, stack_name: str) -> str:
    """D1: CREATE DATABASE IF NOT EXISTS — synchronous, unlike the
    reference's fire-and-forget Athena submission (bom_create_database.py:41-44)."""
    db = database_name(stack_name)
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {db}")
    return db


def register_table(spark: SparkSession, db: str, table: str, ws: Workspace) -> str:
    """Create the external partitioned fact table over the athena/ data area
    (the reference's table DDL lived out-of-band — SURVEY §1.4; here it is
    explicit)."""
    fq = f"{db}.{table}"
    spark.sql(
        f"""
        CREATE TABLE IF NOT EXISTS {fq}
        (Date TIMESTAMP, RadiationType STRING,
         Longitude DOUBLE, Latitude DOUBLE, Radiation INT)
        USING PARQUET
        PARTITIONED BY (year INT, month INT, day INT, hour INT)
        LOCATION '{ws.data_dir}'
        """
    )
    return fq


def _marker_path(spark: SparkSession, ws: Workspace, fq_table: str | None):
    # the run-once marker is keyed PER TABLE (code-review r6): the
    # reference has exactly one table per stack so a workspace-wide marker
    # sufficed there (bom_partition.py:39-49), but a second table
    # registered over the same workspace must still get ITS first-run
    # MSCK, or its pre-existing partitions are never discovered. A
    # table-less call keys the workspace-wide legacy marker.
    fs, _, jvm = _fs(spark, ws.base)
    # the fq name is used VERBATIM (dots are legal in filenames): flattening
    # '.' to '_' would collide 'rad_a.b' with 'rad.a_b' and silently skip
    # the second table's first-run MSCK (code-review r6 #4)
    suffix = f".{fq_table}" if fq_table else ""
    return fs, jvm.org.apache.hadoop.fs.Path(f"{ws.base}/{MSCK_MARKER}{suffix}")


def msck_completed(
    spark: SparkSession, ws: Workspace, fq_table: str | None = None
) -> bool:
    """D4: run-once idempotence check (bom_partition.py:29-49), keyed per
    table when one is given (see ``_marker_path``)."""
    fs, marker = _marker_path(spark, ws, fq_table)
    return fs.exists(marker)


def repair_table(spark: SparkSession, fq_table: str, ws: Workspace) -> None:
    """D2: MSCK REPAIR TABLE — bulk partition discovery on first run
    (bom_partition.py:52-81), then write the run-once marker
    (bom_partition.py:84-89) — both the per-table marker and the legacy
    workspace-wide one (so existing table-less checks keep reporting that
    the workspace had its first-run discovery)."""
    spark.sql(f"MSCK REPAIR TABLE {fq_table}")
    for table_key in (fq_table, None):
        fs, marker = _marker_path(spark, ws, table_key)
        out = fs.create(marker, True)
        out.close()


def add_partitions(spark: SparkSession, fq_table: str, parts: list[dict]) -> int:
    """D3: incremental ALTER TABLE ADD IF NOT EXISTS PARTITION
    (bom_partition.py:92-131). ``parts`` is a list of
    {year, month, day, hour} dicts — typically the distinct partition tuples
    of one ingest batch (small: collected agg output, never fact rows)."""
    for p in parts:
        spec = ", ".join(f"{c}={int(p[c])}" for c in PARTITION_COLS)
        spark.sql(f"ALTER TABLE {fq_table} ADD IF NOT EXISTS PARTITION ({spec})")
    return len(parts)


def register_batch_partitions(spark: SparkSession, fq_table: str, ws: Workspace, parts) -> None:
    """T8/D2-D4 composed: the post-commit metadata hook — MSCK once (marker
    branch, bom_partition.py:152-163), ADD PARTITION afterwards, then a
    table refresh.

    The refresh closes a staleness hole the r16 streaming-ingest fuzzer
    found (seed 1622): a batch whose files all land in ALREADY-registered
    partitions (including the default partition) fires no ALTER TABLE at
    all, so a catalog reader's cached file index never learns about the
    newly published files — ``spark.table(t).count()`` stayed at the old
    total while the direct parquet read saw the new rows. MSCK/ADD
    invalidate the cache only for the partitions they touch; the explicit
    refresh covers the appended-to-existing-partition case (the common
    steady-state shape: most hours receive many files). Metadata-only,
    no data scan."""
    if not msck_completed(spark, ws, fq_table):
        repair_table(spark, fq_table, ws)
    else:
        add_partitions(spark, fq_table, parts)
    spark.catalog.refreshTable(fq_table)


def register_run_file_partition(
    spark: SparkSession, fq_table: str, filename: str, with_minute: bool = False
) -> dict | None:
    """The grammar-2 registration path — the full analog of the reference
    partition lambda's per-file flow (bom_partition.py:134-163, intended
    semantics): parse the 11-digit run from the filename, derive the
    partition tuple, submit ``ADD IF NOT EXISTS PARTITION`` synchronously.

    The default matches the canonical year/month/day/hour layout this
    module's ``register_table`` creates (code-review r6: minute-keyed was
    the default and produced an AnalysisException against our own tables);
    pass ``with_minute=True`` for the reference's 5-key tas-hydro variant
    (bom_partition.py:126). Returns the partition dict, or None when the
    filename has no 11-digit run (the reference would raise AttributeError
    on the failed regex — here it is a explicit no-op for the caller).

    The parse runs ON THE DRIVER (a regex + date arithmetic on one
    filename): the previous shape launched a full Spark job per file
    (range(1) + head), paying job-scheduling latency for microseconds of
    work at a many-files-per-hour cadence (code-review r6). The Python
    parse mirrors grid/filenames.py's Column expression exactly and is
    pinned to it by tests."""
    from .grid.filenames import parse_run_timestamp_py

    ts = parse_run_timestamp_py(filename)
    if ts is None:
        return None
    part = {
        "year": ts.year,
        "month": ts.month,
        "day": ts.day,
        "hour": ts.hour,
        "minute": ts.minute,
    }
    keys = PARTITION_COLS + (("minute",) if with_minute else ())
    spec = ", ".join(f"{k}={int(part[k])}" for k in keys)
    spark.sql(f"ALTER TABLE {fq_table} ADD IF NOT EXISTS PARTITION ({spec})")
    return {k: part[k] for k in keys}


def analyze_table(spark: SparkSession, fq_table: str, columns: tuple[str, ...] = ()) -> None:
    """Refresh table + column statistics for CBO (join reordering, broadcast
    decisions). The reference had no optimizer to feed; Spark's CBO uses
    these row counts / NDVs when AQE's runtime stats aren't available
    (e.g. first access to a cold table)."""
    spark.sql(f"ANALYZE TABLE {fq_table} COMPUTE STATISTICS")
    if columns:
        cols = ", ".join(columns)
        spark.sql(f"ANALYZE TABLE {fq_table} COMPUTE STATISTICS FOR COLUMNS {cols}")


def clean_prefixes(spark: SparkSession, ws: Workspace, prefixes=("in", "processing", "done")) -> int:
    """S9: recursive prefix delete (bom-clean-test-files/
    bom_clean_test_files.py:43-49) — test teardown / workspace reset."""
    n = 0
    fs, _, jvm = _fs(spark, ws.base)
    for p in prefixes:
        path = jvm.org.apache.hadoop.fs.Path(ws.prefix(p))
        if fs.exists(path):
            # boolean checked (ADVICE r10 discipline): a false delete
            # leaves the prefix populated while the count reports it
            # cleaned — a "reset" that silently kept stale files
            if not fs.delete(path, True):
                raise OSError(f"clean_prefixes: could not delete {path}")
            n += 1
        fs.mkdirs(path)
    return n
