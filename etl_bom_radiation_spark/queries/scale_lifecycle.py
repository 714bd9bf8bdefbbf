"""The 100-TB scale levers as a declared query (VERDICT r6 task #4).

The file-skipping manifest (`manifest.py`), the Z-order clustered layout
(`scale.zorder_key`), and the IVF-partitioned ANN index with dynamic
partition pruning (`scale.write_ivf_index` / `ivf_probe_candidates`) are
the levers that decide whether a query LISTS/READS the whole table or a
few files at 100 TB — but until this entry they were bench/pytest-only
infrastructure, invisible to the driver's CORRECTNESS record.

``d02_scale_levers_lifecycle`` packages them the d01 way: one rows-only
entry over temp scratch, every step contributing a deterministic
(step, value) row, so a regression in any lever changes the returned
relation and fails the driver's rows check.  The rows record the
*pruning evidence itself* — files selected before/after the manifest
consult, rows scanned before/after the IVF partition restriction — plus
the correctness fence that matters: the pruned paths must return exactly
the rows the full scans return for the same predicate.

Layout determinism (why the values are stable run-to-run): the clustered
write hive-partitions on a coarse Z-order bucket (pure integer bit
arithmetic on quantized (user, day) — no range-partitioner sampling, no
hash placement), so the file set, the per-file stat envelopes, and hence
every file/row count below are pure functions of the input table.

Reference parity: the reference's layout story is hive partition dirs +
MSCK (bom-partition/bom_partition.py:77,126; bom/bom.py:28-32); these
levers are the same idea carried to the file-stats and storage-layout
dimensions a 100-TB Spark deployment needs (Iceberg/Delta-style
skipping, OPTIMIZE ZORDER, IVF ANN).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..workspace import _dir_files
from . import load_events, register

def _data_files(tbl: str, part_glob: str) -> list[str]:
    """Visible parquet data files under a hive-partitioned sink — the ONE
    definition of "data file" every d02/d03 file-count fence uses (a
    sidecar convention added in one place cannot silently diverge the
    fences — code-review r8)."""
    import glob
    import os

    return [
        f
        for f in glob.glob(os.path.join(tbl, part_glob, "*.parquet"))
        if not os.path.basename(f).startswith((".", "_"))
    ]


#: coarse Z bucket: (user_id mod 64, day-of-year mod 64) bit-interleaved
#: at 6+6 bits, keeping the top 4 bits -> at most 16 hive dirs whatever
#: the scale factor. The mod-64 demo domain is pinned so bucket ids are
#: run/sf-stable (a real deployment uses the raw coordinates with
#: bits sized to the domain, as cluster_scan_zorder does in bench.py).
_Z_BITS = 6
_BUCKET_SHIFT = 8


def _bucketed_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..scale import zorder_key

    e = load_events(spark, sf_dir).filter(F.col("ts").isNotNull())
    pts = e.select(
        "event_id",
        (F.col("user_id") % 64).cast("double").alias("u"),
        (F.dayofyear("ts") % 64).cast("double").alias("d"),
    )
    z = zorder_key(F.col("u"), F.col("d"), 0.0, 0.0, 1.0, bits=_Z_BITS)
    return pts.withColumn("bucket", F.shiftright(z, _BUCKET_SHIFT))


@register("d02_scale_levers_lifecycle", streaming=True)
def d02_scale_levers_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale-lever lifecycle: Z-bucketed clustered sink -> file-stats
    manifest -> manifest-pruned box read (files/rows before vs after, plus
    pruned==full equality on the same predicate) -> append + incremental
    manifest refresh -> IVF-partitioned ANN layout -> DPP-pruned probe
    (rows scanned before vs after, plan-level dynamicpruning bit, probed
    rows == layout restricted to the INDEPENDENTLY-derived intended cells
    — centroid scores, not the probe's own output).

    Rows-only by nature (provisions temp layouts; DuckDB has no file
    manifest or DPP to mirror), t01/d01-style: 17 deterministic
    (step, value) rows."""
    import glob
    import os
    import shutil
    import tempfile

    from ..manifest import build_manifest, pruned_read, refresh_manifest
    from ..scale import ivf_probe_candidates, write_ivf_index

    base = tempfile.mkdtemp(prefix="d02_levers_")
    tbl = os.path.join(base, "events_clustered")
    ivf = os.path.join(base, "ivf_index")
    try:
        pts = _bucketed_points(spark, sf_dir)
        # precondition, surfaced clearly: provisioning a clustered
        # workspace over an EMPTY corpus has no meaningful lifecycle (a
        # partitioned sink with zero data files cannot even be re-read
        # without a schema) — the operational empty-input paths (ingest
        # batches, index probes/folds) all degrade instead; this demo's
        # input being empty is a configuration error (empty-corpus net
        # r13, scoped there to non-provisioning entries for this reason)
        if pts.head() is None:
            raise ValueError(
                "d02_scale_levers_lifecycle: events corpus is empty — "
                "nothing to cluster/manifest/probe"
            )
        # one file per bucket dir: each bucket lives in exactly one task
        # after repartition(bucket), so the layout (and every count below)
        # is a pure function of the data
        pts.repartition("bucket").write.partitionBy("bucket").mode(
            "overwrite"
        ).parquet(tbl)
        data_files = _data_files(tbl, "bucket=*")

        man = build_manifest(spark, tbl, ["u", "d"])
        manifest_rows = man.count()

        # the analyst box predicate (a user-cohort x date window): crosses
        # one u-bucket boundary (16) and stays inside the low d-bucket, so
        # it must keep SOME and drop SOME files on any fixture that covers
        # the mod-64 domain
        box = {"u": (8.0, 23.0), "d": (4.0, 12.0)}
        pred = (
            (F.col("u") >= 8)
            & (F.col("u") <= 23)
            & (F.col("d") >= 4)
            & (F.col("d") <= 12)
        )
        full_df = spark.read.parquet(tbl)
        sel = pruned_read(spark, tbl, box)
        files_pruned = len(sel.inputFiles())
        rows_scanned_full = full_df.count()
        rows_scanned_pruned = sel.count()
        # correctness fence: skipping may only drop non-matching files
        match_full = full_df.filter(pred).count()
        match_pruned = sel.filter(pred).count()

        # append a second batch (same points, shifted ids -> same buckets)
        pts.withColumn("event_id", F.col("event_id") + 10_000_000).repartition(
            "bucket"
        ).write.partitionBy("bucket").mode("append").parquet(tbl)
        man2 = refresh_manifest(spark, tbl, ["u", "d"])
        manifest_rows_after = man2.count()
        appended = len(_data_files(tbl, "bucket=*"))
        # re-prune against the REFRESHED manifest (VERDICT r7 #5): the
        # incremental refresh must leave the skipping index usable — the
        # same box now selects the old + appended twins of the matching
        # files (still a strict subset of the table) and the pruned read
        # still returns exactly what the full scan returns
        sel2 = pruned_read(spark, tbl, box)
        files_pruned_after = len(sel2.inputFiles())
        match_full_after = spark.read.parquet(tbl).filter(pred).count()
        match_pruned_after = sel2.filter(pred).count()

        # --- ANN at the storage layer: IVF partitions + Catalyst DPP ---
        write_ivf_index(spark, sf_dir, ivf)
        cells = len(glob.glob(os.path.join(ivf, "cell=*")))
        layout, _ = ivf_probe_candidates(spark, ivf, sf_dir, nprobe=None)
        cand, _ = ivf_probe_candidates(spark, ivf, sf_dir, nprobe=4)
        ann_rows_full = layout.count()
        ann_rows_probed = cand.count()
        plan = cand._jdf.queryExecution().executedPlan().toString()
        dpp_visible = int("dynamicpruning" in plan)
        # fence: the probed candidates ARE the layout restricted to the
        # INTENDED cells — derived independently from the centroid scores
        # (probe_cells), never from cand's own output: a fence built from
        # cand's cells is a tautology that passes even if the probe chose
        # the wrong cells (code-review r7). Catches wrong-cell probes AND
        # rows DPP dropped/added within a probed cell.
        from ..scale import probe_cells
        from .ivf_eval import base_vectors

        e_vec = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        q_row = base_vectors(e_vec.filter(F.col("vec_id") == 0))
        cent = spark.read.parquet(*_dir_files(spark, f"{ivf}/_centroids"))
        expected = layout.join(
            F.broadcast(probe_cells(q_row, cent, nprobe=4)), "cell"
        ).count()

        rows = [
            ("01_clustered_files", len(data_files)),
            ("02_manifest_rows", manifest_rows),
            ("03_manifest_covers_every_file", int(manifest_rows == len(data_files))),
            ("04_box_files_full", len(data_files)),
            ("05_box_files_pruned", files_pruned),
            ("06_box_rows_scanned_full", rows_scanned_full),
            ("07_box_rows_scanned_pruned", rows_scanned_pruned),
            ("08_box_match_full", match_full),
            ("09_box_match_pruned_equal", int(match_pruned == match_full)),
            ("10_refresh_added_only_new", int(manifest_rows_after == appended)),
            ("11_box_files_full_after_append", appended),
            ("12_box_files_pruned_after_refresh", files_pruned_after),
            ("13_box_match_pruned_after_equal", int(match_pruned_after == match_full_after)),
            ("14_ivf_cells", cells),
            ("15_ann_rows_full", ann_rows_full),
            ("16_ann_rows_probed", ann_rows_probed),
            ("17_ann_dpp_in_plan_and_exact", int(dpp_visible and expected == ann_rows_probed)),
        ]
        return spark.createDataFrame(rows, "step string, value long").orderBy("step")
    finally:
        shutil.rmtree(base, ignore_errors=True)


@register("d03_compaction_lifecycle", streaming=True)
def d03_compaction_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction lifecycle (the remaining pytest/bench-only
    maintenance lever after d02 covered manifests): the write-fast /
    read-optimal decoupling that keeps a 100-TB partitioned sink healthy.

    A hot-partition ingest wants MANY writer tasks (the fan-out lever —
    one task per partition is a straggler), which necessarily lands many
    small files per hive dir; ``ingest.compact_partitions`` folds each
    multi-file partition back to one file out-of-band (rename-in before
    delete-old, crash-repairable swap — the protocol details carry their
    own pytest fences incl. forced-restart recovery, test_ingest).  This
    entry puts the end-to-end discipline under driver evidence: fan-out
    write -> every partition folded -> row count AND content checksum
    preserved -> second run is a no-op.

    Rows-only by nature (provisions temp layouts; DuckDB has no file
    layout to mirror), d01/d02-style: 11 deterministic (step, value)
    rows.  Layout determinism: the writer shard is ``event_id % 8`` and
    the partition key ``user_id % 4`` — hash placement of a pinned shard
    domain, so every file count below is a pure function of the input
    (the d02 convention).

    Reference parity: the reference's sink only ever accretes objects
    (bom/bom.py:150-157 — one parquet per source file, no maintenance);
    this is the discipline that posture needs at Spark scale.
    """
    import glob
    import os
    import shutil
    import tempfile

    from ..ingest import compact_partitions

    base = tempfile.mkdtemp(prefix="d03_compact_")
    tbl = os.path.join(base, "events_sink")

    try:
        e = load_events(spark, sf_dir).filter(F.col("ts").isNotNull())
        src = e.select(
            "event_id",
            "user_id",
            (F.col("user_id") % 4).alias("p"),
            (F.col("event_id") % 8).alias("shard"),
        )
        # precondition, surfaced clearly (see d02): compacting an empty
        # sink is a configuration error, not a degradable input
        if src.head() is None:
            raise ValueError(
                "d03_compaction_lifecycle: events corpus is empty — "
                "nothing to write/compact"
            )
        # fan-out write: 8 writer shards x 4 hive partitions — every
        # partition dir receives one file per shard task that holds rows
        # for it (the maint_partitioned_write_fanout lever, bench.py).
        # The shard count is EXPLICIT: an un-numbered repartition lets
        # AQE coalesce the tiny shuffle back into one writer task, which
        # silently undoes the fan-out (observed: 4 files for 4 dirs)
        src.repartition(8, "shard").drop("shard").write.partitionBy("p").mode(
            "overwrite"
        ).parquet(tbl)
        dirs = len(glob.glob(os.path.join(tbl, "p=*")))
        listing = _data_files(tbl, "p=*")
        files_before = len(listing)
        # multi-file partitions from the SAME listing the file-count
        # fences use (one data-file definition — code-review r8)
        from collections import Counter

        per_dir = Counter(os.path.dirname(f) for f in listing)
        multi = sum(1 for n in per_dir.values() if n >= 2)
        # rows + content checksum in ONE scan (order-independent and
        # overflow-safe: sum of crc32(event_id:user_id) < 2^32 * |rows|
        # << 2^63); a separate count() would scan the sink twice
        cnt = F.count(F.lit(1)).alias("n")
        chk = F.sum(
            F.crc32(F.concat_ws(":", F.col("event_id"), F.col("user_id")))
        ).alias("c")
        b = spark.read.parquet(tbl).agg(cnt, chk).first()
        rows_before, chk_before = b["n"], b["c"]

        compacted = compact_partitions(spark, tbl)
        files_after = len(_data_files(tbl, "p=*"))
        a = spark.read.parquet(tbl).agg(cnt, chk).first()
        rows_after, chk_after = a["n"], a["c"]
        again = compact_partitions(spark, tbl)

        rows = [
            ("01_partition_dirs", dirs),
            ("02_files_written", files_before),
            ("03_fanout_multiplied_files", int(files_before > dirs)),
            ("04_rows_before", rows_before),
            ("05_multifile_partitions", multi),
            ("06_compacted_partitions", compacted),
            ("07_compacted_every_multifile", int(compacted == multi)),
            ("08_files_after", files_after),
            ("09_one_file_per_partition", int(files_after == dirs)),
            ("10_rows_and_checksum_preserved",
             int(rows_after == rows_before and chk_after == chk_before)),
            ("11_second_run_noop", int(again == 0)),
        ]
        return spark.createDataFrame(rows, "step string, value long").orderBy("step")
    finally:
        shutil.rmtree(base, ignore_errors=True)
