"""Ingest pipeline + workspace tests: S3/S4/S6-S10, D1-D4, T1, T8.

Covers the reference's full file lifecycle (reference
bom-create-bucket/bom_create_bucket.py:80-118, bom/bom.py:35-84,
bom-partition/bom_partition.py:134-163) in both batch and streaming modes,
plus the scale assertions: partition pruning visible in the physical plan,
quarantine instead of abort for malformed files, exactly-once across
stream restarts.
"""

from __future__ import annotations

import os
import re
import shutil

import pytest
from py4j.protocol import MEMORY_COMMAND_NAME, MEMORY_DEL_SUBCOMMAND_NAME
from pyspark.sql import functions as F

from etl_bom_radiation_spark import workspace as W
from etl_bom_radiation_spark.ingest import ingest_batch, ingest_stream, write_points_csv

FIXTURES = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "fixtures", "grids")

GOOD_FILES = [
    "IDCJ0000_GLOBAL_20180330_0100.txt",
    "IDCJ0000_GLOBAL_20180401_0100.txt",
]

BAD_GRID = "IDCJ0000_GLOBAL_20180401_0200.txt"  # malformed header
BAD_NAME = "notagridfile.txt"  # filename grammar miss
EMPTY_GRID = "IDCJ0000_GLOBAL_20180401_0300.txt"  # zero bytes


def _stage_inputs(ws_dir: str, include_bad: bool = True) -> None:
    indir = os.path.join(ws_dir, "in")
    os.makedirs(indir, exist_ok=True)
    for f in GOOD_FILES:
        shutil.copy(os.path.join(FIXTURES, f), os.path.join(indir, f))
    if include_bad:
        with open(os.path.join(indir, BAD_GRID), "w") as fh:
            fh.write("ncols x\nnrows 2\nbroken header\n")
        with open(os.path.join(indir, BAD_NAME), "w") as fh:
            # valid grid body, but the filename misses grammar 1 -> the
            # quarantine reason must be 'bad_filename', not 'bad_header'
            fh.write(
                "ncols 1\nnrows 1\nxllcorner 0.0\nyllcorner 0.0\ncellsize 1.0\n"
                "NODATA_value -1\n5\n"
            )


@pytest.fixture()
def ws(spark, tmp_path):
    return W.init_workspace(spark, str(tmp_path / "wsbase"))


def test_init_workspace_idempotent(spark, ws):
    for p in W.PREFIXES:
        assert os.path.isdir(ws.prefix(p))
    again = W.init_workspace(spark, ws.base)  # S10 idempotence
    assert again.base == ws.base


def test_ingest_batch_lifecycle(spark, ws, tmp_path):
    _stage_inputs(ws.base)
    db = W.create_database(spark, "bom-test-stack")  # D1: hyphens -> underscores
    assert db == "bom_test_stack"
    table = W.register_table(spark, db, "radiation", ws)

    res = ingest_batch(spark, ws, fq_table=table)

    # good files decoded and moved to done/ (S8)
    assert [os.path.basename(f) for f in res.files_ok] == GOOD_FILES
    assert sorted(os.listdir(ws.prefix("done"))) == GOOD_FILES
    # malformed files quarantined, not aborted (upgrade of bom.py:82-84)
    assert sorted(os.path.basename(f) for f in res.files_quarantined) == sorted(
        [BAD_GRID, BAD_NAME]
    )
    assert sorted(os.listdir(ws.prefix("quarantine"))) == sorted([BAD_GRID, BAD_NAME])
    reasons = {os.path.basename(p): r for p, r in res.quarantine_reasons.items()}
    assert reasons[BAD_GRID] == "bad_header"
    assert reasons[BAD_NAME] == "bad_filename"
    assert os.listdir(ws.prefix("in")) == []

    # 2 files x 9 valid cells (FIXTURES.md golden grids)
    assert res.rows_written == 18
    # Sydney-local partitions: 2018-03-30 12h (AEDT) and 2018-04-01 11h (AEST)
    assert res.partitions == [
        {"year": 2018, "month": 3, "day": 30, "hour": 12},
        {"year": 2018, "month": 4, "day": 1, "hour": 11},
    ]

    # S4: hive layout on disk
    assert os.path.isdir(os.path.join(ws.data_dir, "year=2018", "month=3", "day=30", "hour=12"))

    # catalog sees the partitions (D2/D3 via T8 hook)
    parts = {r[0] for r in spark.sql(f"SHOW PARTITIONS {table}").collect()}
    assert "year=2018/month=3/day=30/hour=12" in parts
    assert "year=2018/month=4/day=1/hour=11" in parts
    # D4: first batch ran MSCK and wrote the run-once marker
    assert W.msck_completed(spark, ws)

    # partition pruning: the year/month filter reaches the scan (Q3 pattern)
    q = spark.read.parquet(ws.data_dir).filter((F.col("year") == 2018) & (F.col("month") == 4))
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "year" in plan
    assert q.count() == 9

    # second batch on an empty in/ is a no-op (idempotence)
    res2 = ingest_batch(spark, ws, fq_table=table)
    assert res2.rows_written == 0 and res2.files_ok == []

    # statistics for CBO land in the catalog
    W.analyze_table(spark, table, columns=("RadiationType", "Radiation"))
    desc = spark.sql(f"DESCRIBE TABLE EXTENDED {table}").collect()
    stats = [r for r in desc if r["col_name"] == "Statistics"]
    assert stats and "rows" in stats[0]["data_type"]

    # the analyst path the reference delegates to Athena (README.md:4):
    # plain SQL on the catalog table, pruned by partition predicates
    rows = spark.sql(
        f"""
        SELECT RadiationType, CAST(AVG(Radiation) AS DOUBLE) AS avg_rad,
               COUNT(*) AS n
        FROM {table}
        WHERE year = 2018 AND month = 4 AND day = 1 AND hour = 11
        GROUP BY RadiationType
        """
    ).collect()
    assert len(rows) == 1
    assert rows[0]["n"] == 9 and abs(rows[0]["avg_rad"] - (10+12+13+20+21+23+30+31+32) / 9) < 1e-9


def test_ingest_stream_exactly_once(spark, ws, tmp_path):
    """T1/S6: AvailableNow streaming drain; re-running with the same
    checkpoint must not duplicate rows; a late-arriving file is picked up
    incrementally (the reference's per-file S3 trigger semantics)."""
    ckpt = str(tmp_path / "ckpt")
    indir = ws.prefix("in")
    shutil.copy(os.path.join(FIXTURES, GOOD_FILES[0]), os.path.join(indir, GOOD_FILES[0]))

    q = ingest_stream(spark, ws, checkpoint=ckpt)
    q.awaitTermination(120)
    assert spark.read.parquet(ws.data_dir).count() == 9

    # restart with same checkpoint, no new files -> no duplicates
    q = ingest_stream(spark, ws, checkpoint=ckpt)
    q.awaitTermination(120)
    assert spark.read.parquet(ws.data_dir).count() == 9

    # late file arrives -> exactly its rows are appended
    shutil.copy(os.path.join(FIXTURES, GOOD_FILES[1]), os.path.join(indir, GOOD_FILES[1]))
    q = ingest_stream(spark, ws, checkpoint=ckpt)
    q.awaitTermination(120)
    df = spark.read.parquet(ws.data_dir)
    assert df.count() == 18
    assert df.select("year", "month").distinct().count() == 2


def test_ingest_stream_maintains_rollup(spark, ws, tmp_path):
    """The streaming sink keeps the incremental hourly rollup in step with
    the fact table across micro-batches."""
    from etl_bom_radiation_spark.streaming.rollup import read_hourly_rollup

    ckpt, rdir = str(tmp_path / "ckpt"), str(tmp_path / "rollup")
    indir = ws.prefix("in")
    for i, f in enumerate(GOOD_FILES):
        shutil.copy(os.path.join(FIXTURES, f), os.path.join(indir, f))
        q = ingest_stream(spark, ws, checkpoint=ckpt, rollup_dir=rdir)
        q.awaitTermination(120)

    merged = {
        (r["year"], r["month"], r["day"], r["hour"]): r["points"]
        for r in read_hourly_rollup(spark, rdir).collect()
    }
    assert merged == {(2018, 3, 30, 12): 9, (2018, 4, 1, 11): 9}


def test_reprocess_partition(spark, ws):
    """Dynamic-partition-overwrite reprocessing: one hour is re-derived from
    done/ archives; the other partition's files are untouched."""
    from etl_bom_radiation_spark.ingest import reprocess_partition

    _stage_inputs(ws.base, include_bad=False)
    ingest_batch(spark, ws)  # moves sources to done/

    other = os.path.join(ws.data_dir, "year=2018", "month=3", "day=30", "hour=12")
    other_files_before = sorted(os.listdir(other))

    n = reprocess_partition(spark, ws, 2018, 4, 1, 11)
    assert n == 9
    df = spark.read.parquet(ws.data_dir)
    assert df.count() == 18  # no duplication: the partition was replaced
    assert sorted(os.listdir(other)) == other_files_before  # untouched


def test_reprocess_partition_no_decodable_row(spark, ws):
    """An hour whose archived files hold no decodable row reprocesses to 0
    rows and leaves the partition's files as they were, although the
    write's empty shuffle stage (and the row-count observation inside it)
    is dropped by AQE."""
    from etl_bom_radiation_spark.ingest import reprocess_partition

    _stage_inputs(ws.base, include_bad=False)
    ingest_batch(spark, ws)
    hour = os.path.join(ws.data_dir, "year=2018", "month=4", "day=1", "hour=11")
    before = sorted(os.listdir(hour))
    with open(os.path.join(ws.done_dir, GOOD_FILES[1]), "w") as fh:
        fh.write("ncols x\nnrows 2\nbroken header\n")
    assert reprocess_partition(spark, ws, 2018, 4, 1, 11) == 0
    assert sorted(os.listdir(hour)) == before


def test_reprocess_partition_leaves_session_conf(spark, ws, tmp_path):
    """Dynamic overwrite is asked for on reprocess_partition's own write:
    the session's partitionOverwriteMode is unchanged after it, so a later
    overwrite in the session (write_points_csv) still replaces its whole
    output instead of keeping stale partitions."""
    from etl_bom_radiation_spark.grid.decode import decode_grid_directory
    from etl_bom_radiation_spark.ingest import reprocess_partition

    key = "spark.sql.sources.partitionOverwriteMode"
    prev = spark.conf.get(key)
    spark.conf.set(key, "static")
    try:
        _stage_inputs(ws.base, include_bad=False)
        ingest_batch(spark, ws)
        assert reprocess_partition(spark, ws, 2018, 4, 1, 11) == 9
        assert spark.conf.get(key) == "static"

        out = str(tmp_path / "csv")
        pts = decode_grid_directory(spark, ws.done_dir)
        write_points_csv(pts, out)
        write_points_csv(pts.filter(F.col("month") == 4), out)
        assert os.listdir(os.path.join(out, "year=2018")) == ["month=4"]
    finally:
        spark.conf.set(key, prev)


def test_reprocess_partition_scan_pruned(spark, ws):
    """VERDICT r3: a one-hour rebuild must open ONLY that hour's archived
    files — selected by a name glob on the filename-encoded UTC stamp,
    applied during the directory's single listing (store-side matching,
    zero file I/O, O(1) driver round-trips)."""
    from etl_bom_radiation_spark.grid.decode import read_grid_files
    from etl_bom_radiation_spark.ingest import (
        archived_glob_for_partition,
        reprocess_partition,
    )

    _stage_inputs(ws.base, include_bad=False)
    ingest_batch(spark, ws)  # both fixtures now archived in done/

    # AEST hour (UTC+10): 2018-04-01 11 Sydney <- 01:00 UTC on the same day
    pat = archived_glob_for_partition(spark, ws.done_dir, 2018, 4, 1, 11)
    opened = read_grid_files(spark, ws.done_dir, path_glob_filter=pat).inputFiles()
    assert [os.path.basename(p) for p in opened] == [GOOD_FILES[1]]
    # AEDT hour (UTC+11): 2018-03-30 12 Sydney <- 01:00 UTC same day
    pat2 = archived_glob_for_partition(spark, ws.done_dir, 2018, 3, 30, 12)
    opened2 = read_grid_files(spark, ws.done_dir, path_glob_filter=pat2).inputFiles()
    assert [os.path.basename(p) for p in opened2] == [GOOD_FILES[0]]

    # an hour with no archived sources: explicit no-op, nothing rewritten
    before = spark.read.parquet(ws.data_dir).count()
    assert archived_glob_for_partition(spark, ws.done_dir, 2018, 1, 1, 0) is None
    assert reprocess_partition(spark, ws, 2018, 1, 1, 0) == 0
    assert spark.read.parquet(ws.data_dir).count() == before


def test_utc_hours_for_sydney_partition_dst():
    """The glob selector's UTC inversion across DST: normal hours have one
    candidate, the AEDT->AEST fall-back hour (2018-04-01 02:00 Sydney,
    repeated) has two, the spring-forward skipped hour (2018-10-07 02:00)
    has none."""
    from etl_bom_radiation_spark.grid.filenames import (
        utc_hours_for_sydney_partition,
    )

    assert [f"{u:%Y%m%d %H}" for u in utc_hours_for_sydney_partition(2018, 4, 1, 11)] == [
        "20180401 01"
    ]
    assert [f"{u:%Y%m%d %H}" for u in utc_hours_for_sydney_partition(2018, 3, 30, 12)] == [
        "20180330 01"
    ]
    # fall-back: 02:xx Sydney happens at UTC 15:xx (AEDT) and 16:xx (AEST)
    assert len(utc_hours_for_sydney_partition(2018, 4, 1, 2)) == 2
    # spring-forward: 02:xx Sydney does not exist on 2018-10-07
    assert utc_hours_for_sydney_partition(2018, 10, 7, 2) == []


def test_sydney_partition_for_filename_mirrors_spark_parse():
    """The driver-side grammar-1 parse must agree with the Column-expression
    parse for well-formed names and miss (None) exactly when the Spark side
    yields NULL metadata — including across the AEDT transition."""
    from etl_bom_radiation_spark.grid.filenames import sydney_partition_for_filename

    # AEDT (UTC+11): 2018-03-30 01:00 UTC -> 12:00 Sydney
    assert sydney_partition_for_filename("IDCJ0000_GLOBAL_20180330_0100.txt") == (2018, 3, 30, 12)
    # AEST (UTC+10): 2018-04-01 01:00 UTC -> 11:00 Sydney
    assert sydney_partition_for_filename("IDCJ0000_GLOBAL_20180401_0100.txt") == (2018, 4, 1, 11)
    # grammar misses
    assert sydney_partition_for_filename("notagridfile.txt") is None
    assert sydney_partition_for_filename("IDCJ0000_GLOBAL_2018AB01_0100.txt") is None
    assert sydney_partition_for_filename("a_b.txt") is None
    # pinned-grammar edges (ADVICE r14 / weird-grid net): width-lax
    # strptime forms and the two excluded years must miss here exactly
    # like the Catalyst rlike NULLs them
    assert sydney_partition_for_filename("IDCJ0000_GLOBAL_2018041_0100.txt") is None
    assert sydney_partition_for_filename("IDCJ0000_GLOBAL_00000101_0000.txt") is None
    # year 9999: grammar-valid to strptime, but +11h Sydney overflows
    # datetime.max — excluded by the pinned grammar (no OverflowError)
    assert sydney_partition_for_filename("IDCJ0000_GLOBAL_99991231_2300.txt") is None


def test_datasource_parse_filename_year_9999_returns_null_timestamp():
    """ADVICE r14 (medium): a year-9999 filename must degrade to a NULL
    timestamp on the DataSource path — never an OverflowError aborting the
    read task (the no-abort/quarantine contract). The type piece survives
    (field independence)."""
    from etl_bom_radiation_spark.grid.datasource import _parse_filename

    assert _parse_filename("/x/IDCJ0000_GLOBAL_99991231_2300.txt") == ("GLOBAL", None)
    # belt-and-braces: even with the grammar guard bypassed, the
    # conversion path catches OverflowError (astimezone inside the try)
    import etl_bom_radiation_spark.grid.datasource as DS

    orig = DS._DATE_RE
    try:
        DS._DATE_RE = __import__("re").compile(r"[0-9]{8}\Z")
        assert _parse_filename("/x/IDCJ0000_GLOBAL_99991231_2300.txt") == (
            "GLOBAL",
            None,
        )
    finally:
        DS._DATE_RE = orig


def test_csv_sink_parity(spark, ws, tmp_path):
    """S3: the reference's own output shape — headed CSV under the hive
    layout (bom.py:111,153-156)."""
    _stage_inputs(ws.base, include_bad=False)
    from etl_bom_radiation_spark.grid.decode import decode_grid_directory

    points = decode_grid_directory(spark, ws.prefix("in"))
    out = str(tmp_path / "csvout")
    write_points_csv(points, out)
    back = spark.read.option("header", True).csv(out)
    assert back.count() == 18
    assert set(["Date", "RadiationType", "Longitude", "Latitude", "Radiation"]).issubset(
        set(back.columns) | {"year", "month", "day", "hour"}
    )
    # reference Date rendering: '%Y-%m-%d %H:%M' (bom.py:68,105-106) —
    # minute precision, no seconds, no ISO 'T'
    import re as _re

    a_date = back.select("Date").first()["Date"]
    assert _re.fullmatch(r"\d{4}-\d{2}-\d{2} \d{2}:\d{2}", a_date), a_date


def test_oversized_file_quarantined_without_read(spark, ws):
    """The wholetext size guard: a file over the limit goes straight to
    quarantine from the FS listing; the rest of the batch proceeds."""
    _stage_inputs(ws.base, include_bad=False)
    res = ingest_batch(spark, ws, max_file_bytes=100)  # both fixtures > 100 B
    assert res.files_ok == []
    assert sorted(os.path.basename(f) for f in res.files_quarantined) == GOOD_FILES
    assert sorted(os.listdir(ws.prefix("quarantine"))) == GOOD_FILES

    # normal limit: everything ingests
    _stage_inputs(ws.base, include_bad=False)
    res2 = ingest_batch(spark, ws)
    assert res2.rows_written == 18


def test_compact_partitions(spark, ws):
    """Small-file compaction: two single-file ingests into the same
    partition -> 2 files; compaction folds them to 1 with identical rows."""
    from etl_bom_radiation_spark.ingest import compact_partitions

    indir = ws.prefix("in")
    # same grid content, two ingest batches, same partition (same hour)
    for copy_name in ["IDCJ0001_GLOBAL_20180401_0100.txt", "IDCJ0002_GLOBAL_20180401_0100.txt"]:
        shutil.copy(os.path.join(FIXTURES, GOOD_FILES[1]), os.path.join(indir, copy_name))
        ingest_batch(spark, ws)

    part = os.path.join(ws.data_dir, "year=2018", "month=4", "day=1", "hour=11")
    n_before = len([f for f in os.listdir(part) if f.endswith(".parquet")])
    assert n_before >= 2
    before = spark.read.parquet(ws.data_dir).count()

    n_compacted = compact_partitions(spark, ws.data_dir)
    assert n_compacted == 1
    n_after = len([f for f in os.listdir(part) if f.endswith(".parquet")])
    assert n_after == 1
    assert spark.read.parquet(ws.data_dir).count() == before  # no row lost


def test_compact_partitions_many_parallel(spark, ws):
    """Multiple partitions compact in one call (the per-partition jobs run
    under a bounded thread pool — VERDICT r3); rows and layout survive."""
    from etl_bom_radiation_spark.ingest import compact_partitions

    indir = ws.prefix("in")
    # two partitions (different hours), two generations each -> 2 files/partition
    for name in [
        "IDCJ0001_GLOBAL_20180401_0100.txt",
        "IDCJ0001_GLOBAL_20180401_0300.txt",
    ]:
        shutil.copy(os.path.join(FIXTURES, GOOD_FILES[1]), os.path.join(indir, name))
    ingest_batch(spark, ws)
    for name in [
        "IDCJ0002_GLOBAL_20180401_0100.txt",
        "IDCJ0002_GLOBAL_20180401_0300.txt",
    ]:
        shutil.copy(os.path.join(FIXTURES, GOOD_FILES[1]), os.path.join(indir, name))
    ingest_batch(spark, ws)

    before = spark.read.parquet(ws.data_dir).count()
    assert compact_partitions(spark, ws.data_dir) == 2
    for hour in (11, 13):
        part = os.path.join(ws.data_dir, "year=2018", "month=4", "day=1", f"hour={hour}")
        assert len([f for f in os.listdir(part) if f.endswith(".parquet")]) == 1
    assert spark.read.parquet(ws.data_dir).count() == before


def test_compact_partitions_partial_fold(spark, tmp_path):
    """The parameterized fold paths beyond fold-to-one (VERDICT r8 #7):
    with max_files_per_partition=2 and min_files_to_compact=3, a 5-file
    partition folds to 2 files (partial fold, not 1), a 2-file partition
    stays untouched (below the min), rows AND content checksum survive,
    and the second run is a no-op (2 files < min 3)."""
    from pyspark.sql import functions as F

    from etl_bom_radiation_spark.ingest import compact_partitions

    tbl = str(tmp_path / "sink")
    # 5 single-file appends into p=0, 2 into p=1
    for i in range(5):
        spark.range(i * 20, (i + 1) * 20).select(
            "id", F.lit(0).alias("p")
        ).coalesce(1).write.mode("append").partitionBy("p").parquet(tbl)
    for i in range(2):
        spark.range(1000 + i * 20, 1000 + (i + 1) * 20).select(
            "id", F.lit(1).alias("p")
        ).coalesce(1).write.mode("append").partitionBy("p").parquet(tbl)

    def files(p):
        d = os.path.join(tbl, f"p={p}")
        return [f for f in os.listdir(d) if f.endswith(".parquet")]

    assert len(files(0)) == 5 and len(files(1)) == 2
    chk = lambda: spark.read.parquet(tbl).agg(
        F.count(F.lit(1)).alias("n"), F.sum(F.crc32(F.col("id").cast("string"))).alias("c")
    ).first()
    before = chk()

    # the fold is a shuffle-free coalesce, so the 2-file target only binds
    # when the read has >= 2 input partitions — force one partition per
    # tiny source file (at real file sizes maxPartitionBytes does this)
    keys = ("spark.sql.files.maxPartitionBytes", "spark.sql.files.openCostInBytes")
    prev = {k: spark.conf.get(k) for k in keys}
    try:
        spark.conf.set(keys[0], "1k")
        spark.conf.set(keys[1], "1k")
        n = compact_partitions(
            spark, tbl, max_files_per_partition=2, min_files_to_compact=3
        )
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)
    assert n == 1  # only the 5-file partition qualifies
    assert len(files(0)) == 2  # partial fold: down to 2, not 1
    assert len(files(1)) == 2  # untouched: below min_files_to_compact
    after = chk()
    assert (after["n"], after["c"]) == (before["n"], before["c"])
    assert (
        compact_partitions(
            spark, tbl, max_files_per_partition=2, min_files_to_compact=3
        )
        == 0
    )  # second run no-op


def test_move_failure_does_not_abort_batch(spark, ws, monkeypatch):
    """ADVICE r3: one failed rename must not abort the batch — the other
    files still move, and the failure surfaces in IngestResult instead of
    an exception raised after data was already committed."""
    import etl_bom_radiation_spark.ingest as ingest_mod

    _stage_inputs(ws.base, include_bad=False)
    real_move = ingest_mod._move

    def flaky_move(spark_, src_uri, dst_dir):
        if os.path.basename(src_uri) == GOOD_FILES[0]:
            raise OSError("injected rename failure")
        return real_move(spark_, src_uri, dst_dir)

    monkeypatch.setattr(ingest_mod, "_move", flaky_move)
    res = ingest_mod.ingest_batch(spark, ws)
    assert res.rows_written == 18  # the write committed
    assert [os.path.basename(p) for p in res.move_failures] == [GOOD_FILES[0]]
    assert "injected rename failure" in next(iter(res.move_failures.values()))
    # the healthy file still made it to done/; the failed one stayed in in/
    assert os.listdir(ws.prefix("done")) == [GOOD_FILES[1]]
    assert os.listdir(ws.prefix("in")) == [GOOD_FILES[0]]


def test_register_run_file_partition(spark, ws, tmp_path):
    """Grammar-2 path (bom_partition.py:134-163 intended semantics): an
    11-digit-run filename registers a 5-key partition; a non-matching
    filename is an explicit no-op."""
    db = W.create_database(spark, "runs-test")
    loc = str(tmp_path / "runtable")
    spark.sql(
        f"""
        CREATE TABLE IF NOT EXISTS {db}.prices (price DOUBLE)
        USING PARQUET
        PARTITIONED BY (year INT, month INT, day INT, hour INT, minute INT)
        LOCATION '{loc}'
        """
    )
    part = W.register_run_file_partition(
        spark, f"{db}.prices", "NEMPriceSetter_20171031123.csv", with_minute=True
    )
    # 2017-10-31 04:00 + 123*5min = 14:15
    assert part == {"year": 2017, "month": 10, "day": 31, "hour": 14, "minute": 15}
    parts = {r[0] for r in spark.sql(f"SHOW PARTITIONS {db}.prices").collect()}
    assert "year=2017/month=10/day=31/hour=14/minute=15" in parts

    assert W.register_run_file_partition(spark, f"{db}.prices", "no_digits.csv") is None
    spark.sql(f"DROP TABLE {db}.prices")


def test_clean_prefixes(spark, ws):
    _stage_inputs(ws.base)
    assert len(os.listdir(ws.prefix("in"))) > 0
    W.clean_prefixes(spark, ws, prefixes=("in", "processing", "done"))
    assert os.listdir(ws.prefix("in")) == []  # S9
    assert os.path.isdir(ws.prefix("in"))


def test_clean_prefixes_false_delete_raises(spark, ws, monkeypatch):
    """ADVICE r10 discipline: a recursive delete failing BY RETURNING
    FALSE used to leave the prefix populated while the returned count
    reported it cleaned — a workspace 'reset' that silently kept stale
    files (the exact pollution S9 exists to prevent)."""
    from tests.conftest import LyingFS

    _stage_inputs(ws.base)
    real_fs = W._fs

    def lying(s, base):
        fs, p, jvm = real_fs(s, base)
        return LyingFS(fs, fail_deletes=1), p, jvm

    monkeypatch.setattr(W, "_fs", lying)
    with pytest.raises(OSError, match="could not delete"):
        W.clean_prefixes(spark, ws, prefixes=("in",))
    # the staged inputs are verifiably still there — nothing half-reported
    assert len(os.listdir(ws.prefix("in"))) > 0


def test_move_replaces_existing_destination(spark, ws):
    """ADVICE r2: a same-named file already in done/ must not make the
    rename fail silently (which left the file in in/ to be re-ingested
    and duplicated next batch)."""
    _stage_inputs(ws.base, include_bad=False)
    stale = os.path.join(ws.done_dir, GOOD_FILES[0])
    os.makedirs(ws.done_dir, exist_ok=True)
    with open(stale, "w") as fh:
        fh.write("stale previous generation")
    res = ingest_batch(spark, ws)
    assert sorted(os.path.basename(f) for f in res.files_ok) == sorted(GOOD_FILES)
    # in/ fully drained — nothing left behind to re-ingest
    assert os.listdir(os.path.join(ws.base, "in")) == []
    # the stale done/ copy was replaced by the real input file
    assert os.path.getsize(stale) > len("stale previous generation")


def test_sink_commit_marker_roundtrip(spark, tmp_path):
    """The foreachBatch sink's commit log: marker absent -> present after
    commit; a re-delivered batch id is detected as already committed."""
    from etl_bom_radiation_spark.ingest import _batch_committed, _mark_batch_committed

    commit_dir = str(tmp_path / "ckpt" / "sink_commits")
    assert not _batch_committed(spark, commit_dir, 0)
    _mark_batch_committed(spark, commit_dir, 0)
    assert _batch_committed(spark, commit_dir, 0)
    assert not _batch_committed(spark, commit_dir, 1)
    _mark_batch_committed(spark, commit_dir, 0)  # re-mark is idempotent
    assert _batch_committed(spark, commit_dir, 0)


def test_write_points_hot_partition_fanout(spark, ws, tmp_path):
    """files_per_partition > 1 salts a hot partition across k writer tasks:
    more than one file lands in the partition dir (bounded by k), rows are
    identical to the default write, and compaction folds the files back."""
    from etl_bom_radiation_spark.grid.decode import decode_grid_directory
    from etl_bom_radiation_spark.ingest import compact_partitions, write_points

    _stage_inputs(ws.base, include_bad=False)
    pts = decode_grid_directory(spark, ws.prefix("in"))
    fan_dir = str(tmp_path / "fanout")
    write_points(pts, fan_dir, files_per_partition=4)

    part = os.path.join(fan_dir, "year=2018", "month=4", "day=1", "hour=11")
    n_files = len([f for f in os.listdir(part) if f.endswith(".parquet")])
    assert 1 < n_files <= 4
    df = spark.read.parquet(fan_dir)
    assert df.count() == 18
    assert "_salt" not in df.columns  # the salt never reaches the schema

    # same rows as the default single-writer shape
    write_points(pts, str(tmp_path / "plain"))
    plain = spark.read.parquet(str(tmp_path / "plain"))
    assert df.exceptAll(plain).count() == 0 and plain.exceptAll(df).count() == 0

    compact_partitions(spark, fan_dir)
    assert len([f for f in os.listdir(part) if f.endswith(".parquet")]) == 1
    assert spark.read.parquet(fan_dir).count() == 18


def test_staged_manifest_lists_partition_relative_paths(spark, ws, tmp_path):
    """_staged_data_files must slice against the FS-qualified root (the
    listing returns file:/ URIs even for scheme-less inputs) — a wrong
    offset here would corrupt every rename the publish step does — and the
    manifest those paths go into reads back as written, committed under
    its final name with no temp left behind."""
    from etl_bom_radiation_spark.grid.decode import decode_grid_directory
    from etl_bom_radiation_spark.ingest import (
        _MANIFEST,
        PARTITION_COLS,
        _read_manifest,
        _staged_data_files,
        _write_manifest,
    )

    _stage_inputs(ws.base, include_bad=False)
    pts = decode_grid_directory(spark, ws.prefix("in"))
    staging_uri = str(tmp_path / "staging" / "7")  # scheme-less, like ingest_stream's
    (
        pts.repartition(*PARTITION_COLS)
        .write.mode("overwrite")
        .partitionBy(*PARTITION_COLS)
        .parquet(staging_uri)
    )
    fs, staging, jvm = W._fs(spark, staging_uri)
    rels = _staged_data_files(fs, staging)
    assert rels and all(r.startswith("year=") and r.count("/") == 4 for r in rels)
    assert all(os.path.exists(os.path.join(staging_uri, r)) for r in rels)

    assert _read_manifest(fs, jvm, staging_uri) is None
    _write_manifest(fs, jvm, staging_uri, rels, ["year=2018/old.parquet"])
    assert _read_manifest(fs, jvm, staging_uri) == (rels, ["year=2018/old.parquet"])
    left = os.listdir(staging_uri)
    assert _MANIFEST in left and not [f for f in left if f.endswith(".tmp")]


#: (caller, publish step whose Hadoop boolean comes back false). Compaction
#: adds one folded file and retires the old generation; the stream adds two
#: files in two partitions (month=3 publishes first, so failing the month=4
#: rename leaves the batch partly published) and retires nothing.
PUBLISH_FAILURES = [
    ("compaction", "manifest"),
    ("compaction", "rename_in"),
    ("compaction", "retire"),
    ("stream", "manifest"),
    ("stream", "partial"),
]


@pytest.mark.parametrize("caller,step", PUBLISH_FAILURES)
def test_publish_crash_replays_exactly(spark, ws, tmp_path, caller, step):
    """The shared publish under a failure at each step. A rename or delete
    that returns false must raise (a silent false would strand a file for
    the staging cleanup to destroy, or double-count rows), and the state it
    leaves is the crash state of that step: no committed manifest if the
    manifest's own rename failed, otherwise a committed manifest with the
    publish partly done. The caller's next run must end with exactly the
    input rows — replaying a committed publish, redoing an uncommitted
    one — and a further run must change nothing."""
    import glob

    import etl_bom_radiation_spark.ingest as I
    from etl_bom_radiation_spark.grid.decode import decode_grid_directory
    from tests.conftest import LyingFS

    lie = {
        "manifest": dict(fail_renames=1, path_match=I._MANIFEST),
        "rename_in": dict(fail_renames=1, path_match=".parquet"),
        "retire": dict(fail_deletes=1, path_match=".parquet"),
        "partial": dict(fail_renames=1, path_match="month=4"),
    }[step]

    def rows() -> int:
        if not glob.glob(os.path.join(ws.data_dir, "year=*")):
            return 0
        return spark.read.parquet(ws.data_dir).count()

    if caller == "compaction":
        pts = decode_grid_directory(spark, os.path.join(FIXTURES, GOOD_FILES[0]))
        I.write_points(pts, ws.data_dir)
        I.write_points(pts, ws.data_dir)  # second generation: 2 files
        total = rows()
        part_dir = os.path.join(ws.data_dir, "year=2018", "month=3", "day=30", "hour=12")
        staging = os.path.join(os.path.dirname(part_dir), ".hour=12.compacting")
        fs, part_p, jvm = W._fs(spark, part_dir)
        with pytest.raises(OSError, match="publish: could not"):
            I._compact_one(spark, LyingFS(fs, **lie), jvm, part_p, 1, 2)
        # the fold is all in once the retire step runs: both generations
        # visible, the state a crash between rename-in and retire leaves
        assert rows() == (2 * total if step == "retire" else total)
    else:
        _stage_inputs(ws.base, include_bad=False)
        batch = decode_grid_directory(spark, ws.in_dir)
        total = 18
        ckpt = str(tmp_path / "ckpt")
        staging = f"{ckpt}/staging/0"
        fs, _, jvm = W._fs(spark, staging)
        with pytest.raises(OSError, match="publish: could not"):
            I._stage_and_publish(LyingFS(fs, **lie), jvm, batch, staging, ws.data_dir)
        assert rows() == (9 if step == "partial" else 0)

    manifest = os.path.join(staging, I._MANIFEST)
    assert os.path.exists(manifest) == (step != "manifest")

    if caller == "compaction":
        assert I.compact_partitions(spark, ws.data_dir) == 1
        assert len(glob.glob(os.path.join(part_dir, "*.parquet"))) == 1
        assert rows() == total and not os.path.exists(staging)
        assert I.compact_partitions(spark, ws.data_dir) == 0
    else:
        if step == "partial":
            # replay finishes the partial publish; a second replay, with
            # every source already moved out, moves nothing twice
            committed = I._read_manifest(fs, jvm, staging)
            for _ in range(2):
                got = I._stage_and_publish(fs, jvm, batch, staging, ws.data_dir)
                assert got == committed[0] and rows() == total
        # the restarted stream over the same checkpoint completes batch 0
        for _ in range(2):
            ingest_stream(spark, ws, checkpoint=ckpt).awaitTermination(120)
            assert rows() == total and not os.path.exists(staging)


def test_write_points_cluster_spatial_sorts_by_morton_key(spark, tmp_path):
    """cluster_spatial=True Z-orders rows inside each partition file: the
    on-disk row order is monotone in the Morton key (recomputed in Python
    from the file contents — the property row-group pruning rides on), and
    the rows are identical to the plain write."""
    import pyarrow.parquet as pq

    n = 80
    # PRODUCTION-SHAPED partition columns: every partition col is derived
    # from data (non-foldable, like the decode output), and the batch spans
    # two hour partitions. With literal partition values the check is
    # vacuous (the writer's required sort folds away); with mixed
    # literal/derived values the writer's requirement cannot be satisfied
    # and clustering is lost — both documented in write_points. The
    # regression this pins (code-review r6): the zk sort must LEAD with the
    # partition cols or the writer's own Sort eliminates it entirely.
    pts = spark.range(n * n).selectExpr(
        "timestamp'2018-04-01 11:00:00' AS Date",
        "'G' AS RadiationType",
        f"110.0 + CAST(id % {n} AS DOUBLE) * 0.05 AS Longitude",
        f"-46.0 + CAST(id DIV {n} AS DOUBLE) * 0.05 AS Latitude",
        "CAST(id % 1000 AS INT) AS Radiation",
        "CAST(2018 + id % 1 AS INT) AS year",
        "CAST(4 + id % 1 AS INT) AS month",
        "CAST(1 + id % 1 AS INT) AS day",
        "CAST(11 + id % 2 AS INT) AS hour",
    )
    from etl_bom_radiation_spark.ingest import write_points

    clus_dir = str(tmp_path / "clustered")
    write_points(pts, clus_dir, cluster_spatial=True)
    part = os.path.join(clus_dir, "year=2018", "month=4", "day=1", "hour=11")
    files = [f for f in os.listdir(part) if f.endswith(".parquet")]
    assert len(files) == 1  # the anti-small-file default is unchanged

    def morton(lon, lat):
        xi = int(round((lon + 180.0) / 0.001953125))
        yi = int(round((lat + 90.0) / 0.001953125))
        z = 0
        for b in range(18):
            z |= ((xi >> b) & 1) << (2 * b)
            z |= ((yi >> b) & 1) << (2 * b + 1)
        return z

    # BOTH hour partitions must come out Z-ordered
    for hour in (11, 12):
        p = os.path.join(clus_dir, "year=2018", "month=4", "day=1", f"hour={hour}")
        f = [x for x in os.listdir(p) if x.endswith(".parquet")][0]
        th = pq.read_table(os.path.join(p, f))
        ks = [
            morton(lo, la)
            for lo, la in zip(
                th.column("Longitude").to_pylist(), th.column("Latitude").to_pylist()
            )
        ]
        assert ks == sorted(ks), hour  # physically Z-ordered on disk
        assert len(set(ks)) == len(ks)  # 18-bit domain: no aliasing collisions

    plain_dir = str(tmp_path / "plain")
    write_points(pts, plain_dir)
    a, b = spark.read.parquet(clus_dir), spark.read.parquet(plain_dir)
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_ingest_batch_maintains_stats_manifest(spark, ws, tmp_path):
    """ingest_batch(stats_manifest_cols=...) keeps the file-skipping
    manifest current across batches (incremental refresh per batch, exact
    agreement with a from-scratch rebuild) and composes with the clustered
    write option."""
    from etl_bom_radiation_spark import manifest as mf
    from etl_bom_radiation_spark.ingest import ingest_batch

    cols = ["Longitude", "Latitude"]
    _stage_inputs(ws.base, include_bad=False)
    res1 = ingest_batch(
        spark, ws, cluster_spatial=True, stats_manifest_cols=cols
    )
    assert res1.rows_written > 0
    man1 = spark.read.parquet(os.path.join(ws.data_dir, mf.MANIFEST_DIR))
    assert (
        man1.agg({"row_count": "sum"}).collect()[0][0] == res1.rows_written
    )

    # second batch: same fixtures re-staged under new names -> new files
    for f in GOOD_FILES:
        shutil.copy(
            os.path.join(FIXTURES, f),
            os.path.join(ws.base, "in", f.replace("2018", "2019")),
        )
    res2 = ingest_batch(
        spark, ws, cluster_spatial=True, stats_manifest_cols=cols
    )
    man2 = spark.read.parquet(os.path.join(ws.data_dir, mf.MANIFEST_DIR))
    total = res1.rows_written + res2.rows_written
    assert man2.agg({"row_count": "sum"}).collect()[0][0] == total
    # incremental result == full rebuild
    got = {tuple(r) for r in man2.collect()}
    rebuilt = {tuple(r) for r in mf.build_manifest(spark, ws.data_dir, cols).collect()}
    assert got == rebuilt
    # and the maintained manifest serves a pruned bbox read correctly
    out = mf.pruned_read(spark, ws.data_dir, {"Longitude": (112.0, 113.0)})
    full = spark.read.parquet(ws.data_dir)
    import pyspark.sql.functions as F

    pred = F.col("Longitude").between(112.0, 113.0)
    assert out.filter(pred).count() == full.filter(pred).count() > 0


def test_parse_run_timestamp_py_matches_column_expression(spark):
    """The driver-side grammar-2 parse must mirror the Column expression
    exactly (code-review r6: per-file registration no longer launches a
    Spark job, so the two parsers must be pinned to each other)."""
    import pyspark.sql.functions as F

    from etl_bom_radiation_spark.grid.filenames import (
        parse_run_timestamp,
        parse_run_timestamp_py,
    )

    cases = [
        "NEMPriceSetter_20171031123.csv",
        "x_20240101000_y.dat",
        "20001231287suffix",
        "no_digits.csv",
        "short_123456789.csv",  # only 9 digits: no run
        "bad_20171331123.csv",  # month 13: invalid date -> None/NULL
        "bad_20170229123.csv",  # Feb 29 off-leap -> None/NULL
    ]
    df = spark.createDataFrame([(c,) for c in cases], "fname string")
    spark_side = {
        r.fname: r.ts
        for r in df.select(
            "fname", parse_run_timestamp(F.col("fname")).alias("ts")
        ).collect()
    }
    for c in cases:
        assert spark_side[c] == parse_run_timestamp_py(c), c


def test_msck_marker_is_per_table(spark, ws):
    """A second table registered over the same workspace must still get
    its own first-run MSCK (code-review r6): the run-once marker is keyed
    per table, so t2's pre-existing partitions are discovered even after
    t1's marker exists."""
    _stage_inputs(ws.base, include_bad=False)
    db = W.create_database(spark, "marker-test")
    t1 = W.register_table(spark, db, "rad_a", ws)
    res = ingest_batch(spark, ws, fq_table=t1)
    assert res.rows_written > 0
    assert W.msck_completed(spark, ws, t1)
    # legacy workspace-wide check still reports the first-run discovery
    assert W.msck_completed(spark, ws)

    # second table over the SAME existing data: its own MSCK must run and
    # discover the partitions t1's batch wrote
    t2 = W.register_table(spark, db, "rad_b", ws)
    assert not W.msck_completed(spark, ws, t2)
    W.register_batch_partitions(spark, t2, ws, [])
    assert W.msck_completed(spark, ws, t2)
    parts = spark.sql(f"SHOW PARTITIONS {t2}").count()
    assert parts == spark.sql(f"SHOW PARTITIONS {t1}").count() > 0


#: committed r16 streaming-filename fuzz seed (VERDICT r15 #6). The r14
#: poison-pill and URI-corruption classes both lived in ingest_stream's
#: filename handling, but the r15 fuzzers swept only the batch oracles —
#: this drain routes the same seeded fuzz corpus (text grids with
#: grammar-missing filenames + byte-level invalid-UTF-8 files) through a
#: REAL ingest_stream, pinning the quarantine-in-place/no-abort contract
#: and exactly-once counts end-to-end. Deterministic: a passing seed
#: stays green forever; bump per round after an offline hunt.
INGEST_FUZZ_SEED = 1616


@pytest.mark.parity
def test_ingest_stream_fuzz_filenames_no_abort_exactly_once(spark, ws, tmp_path):
    """VERDICT r15 #6: fuzzed filenames/content through a real streaming
    drain. Contract: (1) the drain never aborts — a grammar-missing
    filename lands its rows in __HIVE_DEFAULT_PARTITION__ instead of
    poison-pilling the batch; (2) published rows == the batch decode of
    the same files (count parity between the stream plan and the batch
    plan); (3) a re-drain on the same checkpoint appends nothing; (4)
    registration: the first batch's MSCK registers the default partition
    natively (the r14-pinned contract — the table serves quarantined
    rows too), while a LATE batch takes the add_partitions path, whose
    int() parse was the r14 poison-pill site and must skip default
    tuples."""
    from etl_bom_radiation_spark.grid.decode import decode_grid_directory
    from tools.gen_weird_grids import write_fuzz_binary, write_fuzz_grids

    indir = ws.prefix("in")
    write_fuzz_grids(indir, seed=INGEST_FUZZ_SEED)
    write_fuzz_binary(indir, seed=INGEST_FUZZ_SEED)

    db = W.create_database(spark, "bom-fuzz-stream")
    table = W.register_table(spark, db, "radiation_fuzz", ws)
    ckpt = str(tmp_path / "ckpt")

    q = ingest_stream(spark, ws, checkpoint=ckpt, fq_table=table)
    q.awaitTermination(300)

    # count parity vs the batch decode of the identical input files
    want = decode_grid_directory(spark, indir).count()
    got_df = spark.read.parquet(ws.data_dir) if os.listdir(ws.data_dir) else None
    got = got_df.count() if got_df is not None else 0
    assert got == want, (got, want)

    # exactly-once: same checkpoint, no new files -> no appends
    q = ingest_stream(spark, ws, checkpoint=ckpt, fq_table=table)
    q.awaitTermination(300)
    got2 = spark.read.parquet(ws.data_dir).count() if os.listdir(ws.data_dir) else 0
    assert got2 == got

    # first-batch MSCK (marker branch) registers the default partition
    # natively — the r14-pinned contract: the catalog table serves the
    # quarantine-in-place rows as well, so it matches the direct read
    assert spark.table(table).count() == got
    parts = [r[0] for r in spark.sql(f"SHOW PARTITIONS {table}").collect()]

    def int_parts(entries):
        return {
            tuple(int(seg.split("=")[1]) for seg in p.split("/"))
            for p in entries
            if "__HIVE_DEFAULT_PARTITION__" not in p
        }

    def data_parts(df):
        return {
            (r["year"], r["month"], r["day"], r["hour"])
            for r in df.filter(F.col("year").isNotNull())
            .select("year", "month", "day", "hour")
            .distinct()
            .collect()
        }

    assert got_df is not None and int_parts(parts) == data_parts(got_df)

    # LATE batch: fresh fuzz files (different sub-seed) arrive after the
    # MSCK marker exists, so the sink takes the add_partitions path —
    # the r14 poison-pill site. It must skip default tuples (no abort,
    # no __HIVE_DEFAULT_PARTITION__ ADD) and register the new int ones.
    write_fuzz_grids(indir, seed=INGEST_FUZZ_SEED + 1, n=12)
    q = ingest_stream(spark, ws, checkpoint=ckpt, fq_table=table)
    q.awaitTermination(300)
    all_df = spark.read.parquet(ws.data_dir)
    want_all = decode_grid_directory(spark, indir).count()
    assert all_df.count() == want_all
    parts2 = [r[0] for r in spark.sql(f"SHOW PARTITIONS {table}").collect()]
    assert int_parts(parts2) == data_parts(all_df)
    assert spark.table(table).count() == want_all

    # deterministic pin of the r16 fuzz find (seed 1622): a batch whose
    # files ALL land in already-registered partitions fires no ALTER
    # TABLE, and before the register_batch_partitions refresh the
    # catalog reader's cached file index never saw the published rows
    # (direct read 417, catalog 369). One grammar-missing filename ->
    # every row joins the existing default partition.
    with open(os.path.join(indir, "no_grammar_here.txt"), "w") as fh:
        fh.write(
            "ncols 2\nnrows 1\nxllcorner 0.0\nyllcorner 0.0\ncellsize 1.0\n"
            "NODATA_value -1\n5 6\n"
        )
    q = ingest_stream(spark, ws, checkpoint=ckpt, fq_table=table)
    q.awaitTermination(300)
    assert spark.table(table).count() == want_all + 2
    assert spark.read.parquet(ws.data_dir).count() == want_all + 2


def test_ingest_batch_reads_each_file_once(spark, ws):
    """A warm arrival is one pass over its files: the classification rides
    in the write job and its per-file flags come back through an
    Observation, so ingest_batch runs at most 2 Spark jobs and its executed
    plans hold exactly one text scan."""
    from tests.conftest import jobs_run

    _stage_inputs(ws.base)
    ingest_batch(spark, ws)  # warm: the first write into this sink
    _stage_inputs(ws.base)  # the same arrival re-delivered
    res, jobs, plans = jobs_run(spark, lambda: ingest_batch(spark, ws))
    assert res.rows_written == 18 and len(res.files_quarantined) == 2
    assert len(jobs) <= 2, len(jobs)
    # one "(<id>) Scan text" operator detail per text scan in the plans
    scans = [s for p in plans for s in re.findall(r"^\(\d+\) Scan text", p, re.M)]
    assert len(scans) == 1, plans


def test_arrival_plan_build_sends_few_py4j_commands(spark, monkeypatch):
    """A warm build of read -> filename metadata -> classification ->
    decode reuses the column lists cached on the JVM, so it sends a few
    dozen py4j gateway commands; rebuilding every Column per call sent
    about 1,600."""
    from etl_bom_radiation_spark.grid.decode import (
        decode_body,
        decode_header,
        read_grid_files,
        with_filename_metadata,
    )
    from etl_bom_radiation_spark.ingest import _classify_files

    paths = [os.path.join(FIXTURES, f) for f in GOOD_FILES]

    def build():
        files = with_filename_metadata(read_grid_files(spark, paths))
        return decode_body(_classify_files(decode_header(files)))

    build()  # warm: the first build on this JVM fills the cache
    client = spark._jvm._gateway_client
    send, sent = client.send_command, []
    release = MEMORY_COMMAND_NAME + MEMORY_DEL_SUBCOMMAND_NAME

    def counting(command, *a, **kw):
        # py4j releases each collected JVM object with a command of its
        # own, which is not construction; its finalizer thread sends them
        # whenever it wakes, so earlier tests' garbage can land here
        if not command.startswith(release):
            sent.append(1)
        return send(command, *a, **kw)

    monkeypatch.setattr(client, "send_command", counting)
    try:
        points = build()
    finally:
        monkeypatch.undo()
    assert len(sent) <= 60, len(sent)
    assert points.count() == 18


def test_ingest_batch_all_malformed_arrival(spark, ws):
    """An arrival of only malformed files still runs the fused write job,
    which writes nothing: every file is quarantined with its reason, no
    data file or partition dir appears, nothing is registered and no
    manifest is written. The next good arrival then ingests normally."""
    from etl_bom_radiation_spark import manifest as mf

    cols = ["Longitude", "Latitude"]
    db = W.create_database(spark, "bom-bad-only")
    table = W.register_table(spark, db, "radiation", ws)
    indir = ws.prefix("in")
    _stage_inputs(ws.base)
    for f in GOOD_FILES:
        os.remove(os.path.join(indir, f))
    open(os.path.join(indir, EMPTY_GRID), "w").close()

    res = ingest_batch(spark, ws, fq_table=table, stats_manifest_cols=cols)
    reasons = {os.path.basename(p): r for p, r in res.quarantine_reasons.items()}
    assert reasons == {
        BAD_GRID: "bad_header",
        BAD_NAME: "bad_filename",
        EMPTY_GRID: "empty",
    }
    assert res.files_ok == [] and res.rows_written == 0 and res.partitions == []
    assert sorted(os.listdir(ws.prefix("quarantine"))) == sorted(reasons)
    written = [
        os.path.join(d, f)
        for d, subdirs, files in os.walk(ws.data_dir)
        for f in files + subdirs
        if not f.startswith(("_", "."))
    ]
    assert written == []
    assert not os.path.exists(os.path.join(ws.data_dir, mf.MANIFEST_DIR))
    assert not W.msck_completed(spark, ws, table)
    assert spark.sql(f"SHOW PARTITIONS {table}").collect() == []

    _stage_inputs(ws.base, include_bad=False)
    res2 = ingest_batch(spark, ws, fq_table=table, stats_manifest_cols=cols)
    assert res2.rows_written == 18 and res2.files_quarantined == []
    assert spark.table(table).count() == 18
    assert len(spark.sql(f"SHOW PARTITIONS {table}").collect()) == 2
    man = spark.read.parquet(os.path.join(ws.data_dir, mf.MANIFEST_DIR))
    assert man.agg({"row_count": "sum"}).collect()[0][0] == 18
