"""File-skipping manifest tests: the Iceberg/Delta-style per-file stats
lever (`manifest.py`) — build in one distributed pass, prune file sets by
interval overlap, stay exactly result-equivalent to the full scan."""

from __future__ import annotations

import os
import uuid

import pytest
from pyspark.sql import functions as F

from etl_bom_radiation_spark import manifest as mf


@pytest.fixture()
def clustered_table(spark, tmp_path):
    """A Z-order-clustered multi-file table: 64 files whose (lon, lat)
    envelopes are compact squares — the layout the manifest prunes best."""
    from etl_bom_radiation_spark import scale

    n_side = 256
    base = spark.range(n_side * n_side).select(
        (110.0 + (F.col("id") % n_side) * 0.015625).alias("lon"),
        (-46.0 + (F.col("id") / n_side).cast("long") * 0.015625).alias("lat"),
        (F.col("id") % 997).alias("val"),
    )
    d = str(tmp_path / "ztab")
    zk = scale.zorder_key(F.col("lon"), F.col("lat"), 110.0, -47.0, 0.015625)
    base.withColumn("zk", zk).repartitionByRange(64, "zk").sortWithinPartitions(
        "zk"
    ).drop("zk").write.parquet(d)
    return d


def test_manifest_prunes_files_and_preserves_results(spark, clustered_table):
    d = clustered_table
    man = mf.build_manifest(spark, d, ["lon", "lat"])
    n_files = man.count()
    assert n_files >= 32  # one row per data file
    assert set(man.columns) == {
        "file", "row_count", "min_lon", "max_lon", "min_lat", "max_lat"
    }
    # manifest totals reconcile with the table
    assert (
        man.agg(F.sum("row_count")).collect()[0][0]
        == spark.read.parquet(d).count()
    )

    box = {"lon": (112.0, 112.5), "lat": (-44.5, -44.0)}
    pruned = mf.pruned_read(spark, d, box)
    picked = len(pruned.inputFiles())
    # compact Z-order envelopes: a small box touches a small file fraction
    assert picked < n_files / 2, (picked, n_files)

    pred = (
        F.col("lon").between(*box["lon"]) & F.col("lat").between(*box["lat"])
    )
    full = spark.read.parquet(d).filter(pred)
    part = pruned.filter(pred)
    assert part.count() == full.count() > 0
    assert part.exceptAll(full).count() == 0 and full.exceptAll(part).count() == 0


def test_manifest_empty_selection_keeps_schema(spark, clustered_table):
    d = clustered_table
    mf.build_manifest(spark, d, ["lon", "lat"])
    out = mf.pruned_read(spark, d, {"lon": (500.0, 501.0)})
    assert out.count() == 0
    assert set(out.columns) == {"lon", "lat", "val"}


def test_manifest_null_stats_kept_conservatively(spark, tmp_path):
    d = str(tmp_path / "nulltab")
    spark.createDataFrame(
        [(None, 1.0, 1), (None, 2.0, 2)], "lon double, lat double, val int"
    ).coalesce(1).write.parquet(d)
    mf.build_manifest(spark, d, ["lon", "lat"])
    # the file's lon stats are NULL -> it must survive any lon interval
    out = mf.pruned_read(spark, d, {"lon": (0.0, 1.0), "lat": (0.0, 5.0)})
    assert out.count() == 2


def test_manifest_stale_raises(spark, clustered_table):
    d = clustered_table
    man = mf.build_manifest(spark, d, ["lon", "lat"])
    victim = man.select("file").first().file.removeprefix("file:")
    os.remove(victim)
    with pytest.raises(FileNotFoundError, match="rebuild"):
        mf.pruned_read(spark, d, {"lon": (-180.0, 180.0)})


def test_manifest_on_partitioned_sink_keeps_partition_columns(spark, tmp_path):
    """pruned_read over a hive-partitioned write_points sink retains the
    partition columns (basePath) and composes with partition pruning."""
    from etl_bom_radiation_spark.ingest import write_points

    n = 64
    pts = spark.range(n * n).selectExpr(
        "timestamp'2018-04-01 11:00:00' AS Date",
        "'G' AS RadiationType",
        f"110.0 + CAST(id % {n} AS DOUBLE) * 0.0625 AS Longitude",
        f"-46.0 + CAST(id DIV {n} AS DOUBLE) * 0.0625 AS Latitude",
        "CAST(id % 97 AS INT) AS Radiation",
        "2018 AS year", "4 AS month", "1 AS day",
        f"CAST(11 + id % 2 AS INT) AS hour",  # two hive partitions
    )
    d = str(tmp_path / "sink")
    write_points(pts, d, cluster_spatial=True)
    mf.build_manifest(spark, d, ["Longitude", "Latitude"])
    out = mf.pruned_read(spark, d, {"Longitude": (111.0, 112.0)})
    assert "hour" in out.columns and out.select("hour").distinct().count() == 2
    full = spark.read.parquet(d).filter(F.col("Longitude").between(111.0, 112.0))
    got = out.filter(F.col("Longitude").between(111.0, 112.0))
    assert got.count() == full.count() > 0


def test_refresh_manifest_incremental_append_and_retire(spark, tmp_path):
    """refresh_manifest computes stats only for appended files, drops rows
    for retired files, and converges to exactly what a full rebuild says."""
    d = str(tmp_path / "inc")
    spark.range(1000).selectExpr(
        "CAST(id AS DOUBLE)/10 AS lon", "CAST(id AS DOUBLE)/20 AS lat", "id AS val"
    ).coalesce(2).write.parquet(d)
    first = mf.build_manifest(spark, d, ["lon", "lat"])
    n_first = first.count()

    # append a batch -> refresh picks up only the new files
    spark.range(1000, 1500).selectExpr(
        "CAST(id AS DOUBLE)/10 AS lon", "CAST(id AS DOUBLE)/20 AS lat", "id AS val"
    ).coalesce(1).write.mode("append").parquet(d)
    refreshed = mf.refresh_manifest(spark, d, ["lon", "lat"])
    assert refreshed.count() == n_first + 1
    assert (
        refreshed.agg(F.sum("row_count")).collect()[0][0]
        == spark.read.parquet(d).count()
        == 1500
    )
    # refresh result == full rebuild (order-insensitive)
    rows_ref = {tuple(r) for r in refreshed.collect()}
    rebuilt = mf.build_manifest(spark, d, ["lon", "lat"])
    assert {tuple(r) for r in rebuilt.collect()} == rows_ref

    # retire a data file -> refresh drops its row
    victim = spark.read.parquet(d).inputFiles()[0].removeprefix("file:")
    os.remove(victim)
    after = mf.refresh_manifest(spark, d, ["lon", "lat"])
    assert after.count() == n_first  # one file gone, none added
    assert (
        after.agg(F.sum("row_count")).collect()[0][0]
        == spark.read.parquet(d).count()
    )
    # and pruned_read over the refreshed manifest no longer raises
    assert mf.pruned_read(spark, d, {"lon": (0.0, 1000.0)}).count() == spark.read.parquet(d).count()


def test_pruned_read_weak_predicate_bound(spark, tmp_path):
    """The degenerate planning case, fenced at an adversarial file count.
    ``pruned_read`` collects the SURVIVING file paths to the driver —
    bounded by files-after-pruning, so a weak
    predicate over a many-small-files table degenerates to the full
    listing (the honest Iceberg/Delta-posture bound now documented in
    the docstring).  The fence pins (a) the bound's SHAPE — the
    collected list is exactly the overlapping-file set, never more, (b)
    correctness at the degenerate point (result == full scan), and (c)
    the mitigation: ``compact_partitions`` folds the file count back so
    the same weak predicate collects a partitions-sized list."""
    from etl_bom_radiation_spark.ingest import compact_partitions

    # adversarial layout: 256 one-row-group files in ONE hive partition
    d = str(tmp_path / "many")
    (
        spark.range(256 * 40)
        .selectExpr(
            "CAST(id % 24 AS INT) AS hour",
            "CAST(id AS DOUBLE) / 7 AS lon",
            "id AS val",
        )
        .withColumn("year", F.lit(2018))
        .repartition(256)
        .write.partitionBy("year")
        .parquet(d)
    )
    man = mf.build_manifest(spark, d, ["lon"])
    n_files = man.count()
    assert n_files >= 256  # the adversarial premise holds

    # weak predicate: every file's envelope overlaps -> full listing
    weak = {"lon": (-1e9, 1e9)}
    pruned = mf.pruned_read(spark, d, weak)
    assert len(pruned.inputFiles()) == n_files  # the documented bound
    assert pruned.count() == spark.read.parquet(d).count()

    # mitigation: fold the generations, rebuild, same weak predicate now
    # collects a partitions-sized list (1 here)
    assert compact_partitions(spark, d) == 1
    man2 = mf.build_manifest(spark, d, ["lon"])
    assert man2.count() == 1
    pruned2 = mf.pruned_read(spark, d, weak)
    assert len(pruned2.inputFiles()) == 1
    assert pruned2.count() == spark.read.parquet(d).count()


def _jobs_run(spark, fn):
    """``(fn(), number of Spark jobs fn ran)``, counted through a job group
    (wall time on a shared box says nothing about the mechanism)."""
    sc = spark.sparkContext
    group = f"manifest-test-{uuid.uuid4().hex}"
    keys = ("spark.jobGroup.id", "spark.job.description")
    prev = [sc.getLocalProperty(k) for k in keys]
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        for k, v in zip(keys, prev):
            sc.setLocalProperty(k, v)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _parts(d: str) -> dict[str, bytes]:
    """The manifest's part files, name -> bytes."""
    root = os.path.join(d, mf.MANIFEST_DIR)
    return {
        n: open(os.path.join(root, n), "rb").read()
        for n in os.listdir(root)
        if not n.startswith(("_", "."))
    }


def _append(spark, d: str, lo: int, hi: int, files: int = 1) -> None:
    spark.range(lo, hi).selectExpr(
        "CAST(id AS DOUBLE)/10 AS lon",
        "CAST(id AS DOUBLE)/20 AS lat",
        "id AS val",
        "CAST(id % 2 AS INT) AS h",
    ).coalesce(files).write.partitionBy("h").mode("append").parquet(d)


def _rows(df) -> set:
    return {tuple(r) for r in df.collect()}


def test_refresh_append_writes_one_delta_part(spark, tmp_path):
    """An append refresh costs the batch: at most 3 Spark jobs (no schema
    inference over the data or the manifest, no manifest re-read), one new
    part file, and the existing part files left byte-identical; the rows
    still equal a full rebuild."""
    d = str(tmp_path / "delta")
    _append(spark, d, 0, 1000, files=2)
    mf.build_manifest(spark, d, ["lon", "lat"])
    before = _parts(d)
    assert len(before) == 1

    _append(spark, d, 1000, 1500)
    man, jobs = _jobs_run(spark, lambda: mf.refresh_manifest(spark, d, ["lon", "lat"]))
    assert jobs <= 3, jobs
    got = _rows(man)
    after = _parts(d)
    assert len(after) == 2
    assert {n: after[n] for n in before} == before  # never rewritten
    assert got == _rows(mf.build_manifest(spark, d, ["lon", "lat"]))

    # nothing new, nothing retired: nothing is written
    parts = _parts(d)
    mf.refresh_manifest(spark, d, ["lon", "lat"])
    assert _parts(d) == parts


def test_manifest_opens_with_its_footer_schema(spark, tmp_path):
    """Without a caller's schema the manifest is opened with the schema its
    Spark writer recorded in the first part's footer: no inference job,
    and the same StructType that inference gives."""
    from etl_bom_radiation_spark.workspace import _dir_files

    d = str(tmp_path / "footer")
    _append(spark, d, 0, 100)
    mf.build_manifest(spark, d, ["lon", "lat"])
    parts = _dir_files(spark, os.path.join(d, mf.MANIFEST_DIR))
    man, jobs = _jobs_run(spark, lambda: mf._read_manifest(spark, d))
    assert jobs == 0
    assert man.schema == spark.read.parquet(*parts).schema


def test_refresh_retire_folds_to_one_part(spark, tmp_path):
    """After a compaction retires files, the refresh folds the deltas back
    into a single part file whose rows equal a full rebuild."""
    from etl_bom_radiation_spark.ingest import compact_partitions

    d = str(tmp_path / "fold")
    _append(spark, d, 0, 600)
    mf.build_manifest(spark, d, ["lon", "lat"])
    for lo in (600, 1200, 1800):
        _append(spark, d, lo, lo + 600)
        mf.refresh_manifest(spark, d, ["lon", "lat"])
    assert len(_parts(d)) == 4

    assert compact_partitions(spark, d) == 2
    got = _rows(mf.refresh_manifest(spark, d, ["lon", "lat"]))
    assert len(_parts(d)) == 1
    assert len(got) == 2
    assert got == _rows(mf.build_manifest(spark, d, ["lon", "lat"]))
    assert mf.pruned_read(spark, d, {"lon": (0.0, 1e9)}).count() == 2400


def test_refresh_picks_up_file_a_crash_left_out(spark, tmp_path):
    """A batch appended with no refresh (a crash between the data write and
    the manifest append) is silently absent from pruned reads until the
    next refresh, which picks it up together with its own batch."""
    d = str(tmp_path / "crash")
    _append(spark, d, 0, 1000)
    mf.build_manifest(spark, d, ["lon", "lat"])
    _append(spark, d, 1000, 1200)  # crashed before its refresh
    assert mf.pruned_read(spark, d, {"lon": (0.0, 1e9)}).count() == 1000
    _append(spark, d, 1200, 1500)
    got = _rows(mf.refresh_manifest(spark, d, ["lon", "lat"]))
    assert sum(r[1] for r in got) == 1500
    assert got == _rows(mf.build_manifest(spark, d, ["lon", "lat"]))
    assert mf.pruned_read(spark, d, {"lon": (0.0, 1e9)}).count() == 1500


def test_manifest_paths_with_uri_special_chars(spark, tmp_path):
    """input_file_name() and inputFiles() return URL-encoded URIs (a space
    is %20) that a Hadoop Path does not decode: build -> pruned_read and
    append -> refresh -> pruned_read must work on a table under a
    directory whose name holds a space."""
    d = str(tmp_path / "my table" / "t")
    _append(spark, d, 0, 1000, files=2)
    mf.build_manifest(spark, d, ["lon", "lat"])
    box = {"lon": (10.0, 20.0)}
    pred = F.col("lon").between(*box["lon"])
    assert mf.pruned_read(spark, d, box).filter(pred).count() == 101

    _append(spark, d, 1000, 1500)
    got = _rows(mf.refresh_manifest(spark, d, ["lon", "lat"]))
    assert sum(r[1] for r in got) == 1500
    assert got == _rows(mf.build_manifest(spark, d, ["lon", "lat"]))
    full = mf.pruned_read(spark, d, {"lon": (0.0, 1e9)})
    assert full.count() == 1500 and "h" in full.columns
