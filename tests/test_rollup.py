"""Incremental hourly rollup: merged partials must equal the full
recompute, across multiple batches and after compaction."""

from __future__ import annotations

from pathlib import Path

import pytest
from pyspark.sql import functions as F

from etl_bom_radiation_spark.grid.decode import decode_grid_directory
from etl_bom_radiation_spark.streaming import rollup as R

FIXTURES = Path(__file__).resolve().parent.parent / "fixtures" / "grids"


def _full_recompute(points):
    return points.groupBy(*R.KEYS).agg(
        F.count(F.lit(1)).alias("points"),
        F.avg("Radiation").alias("avg_radiation"),
        F.min("Radiation").alias("min_radiation"),
        F.max("Radiation").alias("max_radiation"),
    )


def _as_dict(df):
    return {
        tuple(r[k] for k in R.KEYS): (
            r["points"],
            round(r["avg_radiation"], 9),
            r["min_radiation"],
            r["max_radiation"],
        )
        for r in df.collect()
    }


def test_rollup_matches_full_recompute(spark, tmp_path):
    rdir = str(tmp_path / "rollup")
    files = sorted(FIXTURES.glob("*.txt"))

    # batch 1: first file; batch 2: second file; batch 3: first file AGAIN
    # (same hour touched twice -> partials for that hour must merge)
    batches = [files[0], files[1], files[0]]
    all_points = []
    for f in batches:
        pts = decode_grid_directory(spark, str(f))
        R.append_hourly_partials(pts, rdir)
        all_points.append(pts)

    union = all_points[0].unionAll(all_points[1]).unionAll(all_points[2])
    assert _as_dict(R.read_hourly_rollup(spark, rdir)) == _as_dict(_full_recompute(union))

    # compaction folds partial rows but must not change the merged result
    before = _as_dict(R.read_hourly_rollup(spark, rdir))
    n_partials_before = spark.read.parquet(rdir).count()
    R.compact_rollup(spark, rdir)
    assert spark.read.parquet(rdir).count() < n_partials_before
    assert _as_dict(R.read_hourly_rollup(spark, rdir)) == before


def test_rollup_batch_generation_overwrite_idempotent(spark, tmp_path):
    """A re-delivered streaming batch rewrites its own gen=batch<id>
    generation instead of double-appending its partials (the ingest_stream
    crash window between rollup append and commit marker); a genuinely new
    batch id still adds."""
    rdir = str(tmp_path / "rollup")
    pts = decode_grid_directory(spark, str(sorted(FIXTURES.glob("*.txt"))[0]))
    R.append_hourly_partials(pts, rdir, batch_id=0)
    before = _as_dict(R.read_hourly_rollup(spark, rdir))
    R.append_hourly_partials(pts, rdir, batch_id=0)  # replay: overwrite
    assert _as_dict(R.read_hourly_rollup(spark, rdir)) == before
    R.append_hourly_partials(pts, rdir, batch_id=1)  # new batch: adds
    after = _as_dict(R.read_hourly_rollup(spark, rdir))
    for k in before:
        assert after[k][0] == 2 * before[k][0]


def _gens(rdir):
    """Labels of the ``gen=<label>`` directories on disk, sorted."""
    return sorted(p.name[4:] for p in Path(rdir).glob("gen=*"))


def test_rollup_crash_window_recovery(spark, tmp_path, monkeypatch):
    """A compaction that dies after writing its fold but before committing
    its record, or after the commit but before deleting the generations it
    folded, leaves a rollup that reads exactly; the next compactions end
    exact with only the committed fold left on disk."""
    rdir = str(tmp_path / "rollup")
    pts = decode_grid_directory(spark, str(sorted(FIXTURES.glob("*.txt"))[0]))
    real_commit = R._commit_version

    def crash_before_commit(*args):
        raise RuntimeError("crash before the commit")

    def crash_after_commit(*args):
        real_commit(*args)
        raise RuntimeError("crash after the commit")

    for crash in (crash_before_commit, crash_after_commit):
        R.append_hourly_partials(pts, rdir)
        R.append_hourly_partials(pts, rdir)
        expect = _as_dict(R.read_hourly_rollup(spark, rdir))
        monkeypatch.setattr(R, "_commit_version", crash)
        with pytest.raises(RuntimeError, match="crash"):
            R.compact_rollup(spark, rdir)
        monkeypatch.setattr(R, "_commit_version", real_commit)
        assert _as_dict(R.read_hourly_rollup(spark, rdir)) == expect
        R.compact_rollup(spark, rdir)
        R.compact_rollup(spark, rdir)  # cleans what the first one kept
        assert _as_dict(R.read_hourly_rollup(spark, rdir)) == expect
        (left,) = _gens(rdir)
        assert left.startswith("fold-")


def _one_point(spark, rad: int):
    return spark.createDataFrame(
        [("GLOBAL", 2018, 4, 1, 11, rad)],
        "RadiationType string, year int, month int, day int, hour int, Radiation int",
    )


def test_compaction_concurrent_with_live_appender(spark, tmp_path):
    """VERDICT r4 #8, end-to-end: compact_rollup racing a LIVE appender
    under real interleaving. The fence (marker up before the fold's
    listing + drain of per-append leases) means no appended generation can
    be destroyed by the directory swap and no append can double-land —
    after the dust settles the rollup totals are exactly the sum of every
    append that returned."""
    import threading

    rdir = str(tmp_path / "rollup")
    n_appends = 12
    R.append_hourly_partials(_one_point(spark, 100), rdir)  # dir exists

    errors: list[Exception] = []

    def appender():
        try:
            for i in range(1, n_appends + 1):
                R.append_hourly_partials(_one_point(spark, i), rdir)
        except Exception as exc:  # pragma: no cover - failure surface
            errors.append(exc)

    t = threading.Thread(target=appender)
    t.start()
    n_compactions = 0
    try:
        while t.is_alive():
            R.compact_rollup(spark, rdir)
            n_compactions += 1
    finally:
        t.join()
    assert not errors, errors
    assert n_compactions >= 2, "appender finished before any real interleaving"
    R.compact_rollup(spark, rdir)  # final fold over whatever remained
    got = _as_dict(R.read_hourly_rollup(spark, rdir))
    n = n_appends + 1
    total = 100 + sum(range(1, n_appends + 1))
    assert got[("GLOBAL", 2018, 4, 1, 11)] == (
        n,
        round(total / n, 9),
        1,
        100,
    )


_KEY = ("GLOBAL", 2018, 4, 1, 11)


def _total(spark, rdir):
    return _as_dict(R.read_hourly_rollup(spark, rdir))[_KEY]


def test_second_compactor_fails_instead_of_coopting_live_fence(
    spark, tmp_path, monkeypatch
):
    """Two compactors racing for one fold record version: the rival
    commits first, and the loser finds the version taken, raises
    ``OSError`` and deletes nothing.  Two compactors also share the
    commit's temp name, so one may rename the other's record in: it reads
    the record back, finds another fold named, and raises deleting
    nothing.  Either way reads stay exact and the next compaction cleans
    the loser's fold away."""
    rdir = str(tmp_path / "rollup")
    real_commit = R._commit_version
    state = {}

    def rival_commits_first(*args):
        monkeypatch.setattr(R, "_commit_version", real_commit)
        R.compact_rollup(spark, rdir)
        state["gens"] = _gens(rdir)
        return real_commit(*args)

    def rival_record_renamed_in(fs, jvm, folds, n, text, what):
        rival = {}

        def stalls_before_rename(fs, jvm, folds, n, text, what):
            rival["text"] = text
            raise RuntimeError("rival stalled before its rename")

        monkeypatch.setattr(R, "_commit_version", stalls_before_rename)
        with pytest.raises(RuntimeError, match="stalled"):
            R.compact_rollup(spark, rdir)
        monkeypatch.setattr(R, "_commit_version", real_commit)
        state["gens"] = _gens(rdir)
        return real_commit(fs, jvm, folds, n, rival["text"], what)

    for race, error in (
        (rival_commits_first, "could not commit"),
        (rival_record_renamed_in, "another compactor's fold"),
    ):
        R.append_hourly_partials(_one_point(spark, 5), rdir)
        R.append_hourly_partials(_one_point(spark, 7), rdir)
        expect = _total(spark, rdir)
        monkeypatch.setattr(R, "_commit_version", race)
        with pytest.raises(OSError, match=error):
            R.compact_rollup(spark, rdir)
        monkeypatch.setattr(R, "_commit_version", real_commit)
        assert _gens(rdir) == state["gens"]  # the loser deleted nothing
        assert len([g for g in state["gens"] if g.startswith("fold-")]) >= 2
        assert _total(spark, rdir) == expect
        R.compact_rollup(spark, rdir)
        assert _total(spark, rdir) == expect
        (left,) = _gens(rdir)
        assert left.startswith("fold-")


def test_recover_heal_rename_failure_raises_keeps_generations(
    spark, tmp_path, monkeypatch
):
    """Hadoop reports a failed rename or delete by RETURNING FALSE.  A
    false rename at the record commit raises and deletes nothing.  A false
    delete of a folded generation after the commit is harmless to readers
    (the record drops it), and the next compaction's checked delete raises
    while it survives.  Honest compactions then resume exactly."""
    from tests.conftest import LyingFS

    rdir = str(tmp_path / "rollup")
    pts = decode_grid_directory(spark, str(sorted(FIXTURES.glob("*.txt"))[0]))
    R.append_hourly_partials(pts, rdir)
    R.append_hourly_partials(pts, rdir)
    expect = _as_dict(R.read_hourly_rollup(spark, rdir))
    appended = _gens(rdir)
    real_fs = R._fs

    def lying_fs(**lies):
        def _fs(s, path):
            fs, p, jvm = real_fs(s, path)
            return LyingFS(fs, **lies), p, jvm

        return _fs

    monkeypatch.setattr(R, "_fs", lying_fs(fail_renames=1))
    with pytest.raises(OSError, match="could not commit"):
        R.compact_rollup(spark, rdir)
    monkeypatch.setattr(R, "_fs", real_fs)
    assert set(appended) < set(_gens(rdir))  # only an uncommitted fold added
    assert _as_dict(R.read_hourly_rollup(spark, rdir)) == expect

    monkeypatch.setattr(R, "_fs", lying_fs(fail_deletes=1, path_match="gen=adhoc"))
    R.compact_rollup(spark, rdir)
    monkeypatch.setattr(R, "_fs", real_fs)
    (survivor,) = set(appended) & set(_gens(rdir))
    assert _as_dict(R.read_hourly_rollup(spark, rdir)) == expect

    monkeypatch.setattr(
        R, "_fs", lying_fs(fail_deletes=1, path_match=f"gen={survivor}")
    )
    with pytest.raises(OSError, match="could not delete absorbed"):
        R.compact_rollup(spark, rdir)
    monkeypatch.setattr(R, "_fs", real_fs)
    assert survivor in _gens(rdir)

    R.compact_rollup(spark, rdir)
    assert _as_dict(R.read_hourly_rollup(spark, rdir)) == expect
    (left,) = _gens(rdir)
    assert left.startswith("fold-")


def _in_thread(fn, *args):
    """Start ``fn(*args)`` on a thread; returns (thread, done, out) where
    ``out`` collects the result or the exception."""
    import threading

    done, out = threading.Event(), []

    def run():
        try:
            out.append(fn(*args))
        except Exception as exc:  # reported through out
            out.append(exc)
        done.set()

    t = threading.Thread(target=run, daemon=True)
    t.start()
    return t, done, out


@pytest.mark.parametrize("entry", ["read", "append"])
def test_entry_points_proceed_while_compaction_folds(
    spark, tmp_path, monkeypatch, entry
):
    """With a compaction blocked inside its fold write, a read returns the
    pre-compaction totals, and an append completes, within 5 s: no entry
    point waits for a compaction.  Once released, the compaction commits
    and an append made during it stays counted."""
    import threading

    from pyspark.sql import DataFrameWriter

    rdir = str(tmp_path / "rollup")
    R.append_hourly_partials(_one_point(spark, 5), rdir)
    R.append_hourly_partials(_one_point(spark, 7), rdir)
    in_fold, release = threading.Event(), threading.Event()
    real_parquet = DataFrameWriter.parquet

    def parquet(self, path, *args, **kwargs):
        if "gen=fold" in path:
            in_fold.set()
            release.wait(120)
        return real_parquet(self, path, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", parquet)
    compactor, _, compact_out = _in_thread(R.compact_rollup, spark, rdir)
    try:
        assert in_fold.wait(60), "compaction never reached its fold write"
        if entry == "read":
            _, done, out = _in_thread(_total, spark, rdir)
            expect, after = (2, 6.0, 5, 7), (2, 6.0, 5, 7)
        else:
            point = _one_point(spark, 9)
            _, done, out = _in_thread(R.append_hourly_partials, point, rdir)
            expect, after = None, (3, 7.0, 5, 9)
        assert done.wait(5), f"{entry} waited for the compaction"
        assert out == [expect]
    finally:
        release.set()
        compactor.join(120)
    assert not compactor.is_alive() and compact_out == [None]
    assert _total(spark, rdir) == after
    assert len([g for g in _gens(rdir) if g.startswith("fold-")]) == 1


def test_reads_during_compactions_are_prefix_totals(spark, tmp_path):
    """An appender adds the points 1..n one at a time while compactions
    run back to back and a reader reads in a loop.  Every read that
    completes holds exactly the first k appends for some k, and k never
    goes backwards: a fold and the generations it replaced are never both
    counted, and no append is lost.  A read may fail loudly when a
    compaction deletes the files it listed, never silently."""
    import threading

    rdir = str(tmp_path / "rollup")
    n_appends = 10
    R.append_hourly_partials(_one_point(spark, 1), rdir)
    seen, failed, stop = [], [], threading.Event()

    def reader():
        while not stop.is_set():
            try:
                seen.append(_total(spark, rdir))
            except Exception as exc:
                failed.append(exc)

    def appender():
        for i in range(2, n_appends + 1):
            R.append_hourly_partials(_one_point(spark, i), rdir)

    readers = threading.Thread(target=reader, daemon=True)
    appends = threading.Thread(target=appender, daemon=True)
    readers.start()
    appends.start()
    n_compactions = 0
    try:
        while appends.is_alive():
            R.compact_rollup(spark, rdir)
            n_compactions += 1
    finally:
        appends.join(120)
        stop.set()
        readers.join(120)
    assert not appends.is_alive() and not readers.is_alive()
    assert n_compactions >= 2, "appender finished before any real interleaving"
    ks = [points for points, *_ in seen]
    assert len(seen) >= 3 and ks == sorted(ks)
    for points, avg, lo, hi in seen:
        assert (avg, lo, hi) == (round((points + 1) / 2, 9), 1, points)
    for exc in failed:
        assert "FILE_NOT_EXIST" in str(exc) or "does not exist" in str(exc), exc
    R.compact_rollup(spark, rdir)
    assert _total(spark, rdir) == (n_appends, (n_appends + 1) / 2, 1, n_appends)


def test_generation_without_success_neither_absorbed_nor_deleted(spark, tmp_path):
    """An append in flight — data files written, ``_SUCCESS`` not yet — is
    left alone by a compaction: not folded and not deleted, so its rows
    are counted once, through the generation itself.  Once it completes,
    the next compaction absorbs it."""
    rdir = str(tmp_path / "rollup")
    R.append_hourly_partials(_one_point(spark, 5), rdir)
    R.append_hourly_partials(_one_point(spark, 7), rdir, batch_id=3)
    success = tmp_path / "rollup" / "gen=batch3" / "_SUCCESS"
    success.unlink()
    R.compact_rollup(spark, rdir)
    assert "batch3" in _gens(rdir)
    assert list((tmp_path / "rollup" / "gen=batch3").glob("part-*"))
    assert _total(spark, rdir) == (2, 6.0, 5, 7)
    success.touch()
    R.compact_rollup(spark, rdir)
    (left,) = _gens(rdir)
    assert left.startswith("fold-")
    assert _total(spark, rdir) == (2, 6.0, 5, 7)


def test_swap_layout_folded_generation_absorbed(spark, tmp_path):
    """A rollup compacted by the older directory-swap code holds its fold
    as ``gen=folded`` and no fold record.  It reads exactly as an ordinary
    generation, and the next compaction absorbs it."""
    rdir = str(tmp_path / "rollup")
    (
        _one_point(spark, 5)
        .groupBy(*R.KEYS)
        .agg(*R._partial_aggs())
        .write.parquet(f"{rdir}/gen=folded")
    )
    R.append_hourly_partials(_one_point(spark, 7), rdir)
    assert _total(spark, rdir) == (2, 6.0, 5, 7)
    R.compact_rollup(spark, rdir)
    (left,) = _gens(rdir)
    assert left.startswith("fold-")
    assert _total(spark, rdir) == (2, 6.0, 5, 7)


def test_read_opens_no_data_file(spark, tmp_path):
    """``read_hourly_rollup`` runs no Spark job: the partials' schema is
    declared, so the call opens no footer of a generation a concurrent
    compaction may be about to delete (a few generations stay below
    Spark's parallel-listing threshold, so the listing is driver-side).
    The declared schema is the one the appends and the fold write."""
    from tests.conftest import jobs_run

    rdir = str(tmp_path / "rollup")
    for rad in (5, 7):
        R.append_hourly_partials(_one_point(spark, rad), rdir)
    R.compact_rollup(spark, rdir)
    R.append_hourly_partials(_one_point(spark, 9), rdir, batch_id=0)

    merged, jobs, _ = jobs_run(spark, lambda: R.read_hourly_rollup(spark, rdir))
    assert jobs == []
    assert _total(spark, rdir) == (3, 7.0, 5, 9)
    assert merged.count() == 1
    for gen in _gens(rdir):
        written = spark.read.parquet(f"{rdir}/gen={gen}").schema
        assert [(f.name, f.dataType.simpleString()) for f in written] == [
            (f.name, f.dataType.simpleString())
            for f in spark.read.schema(R.PARTIAL_SCHEMA).parquet(rdir).schema
            if f.name != "gen"
        ]
