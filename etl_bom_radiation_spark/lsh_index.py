"""Persisted banded-LSH near-dup index: build once, probe per arrival,
fold admissions back in without a rebuild.

``queries.incremental_lsh`` (n49) demonstrates the incremental near-dup
SEMANTICS as a one-shot oracle-verified query; this module is the
production form of the same workflow — the index artifacts n49 builds
in-query are here written as parquet tables, and each arriving batch is
probed against them without touching (or re-sketching) the indexed
corpus:

* ``build_lsh_index(spark, docs, index_dir)``: tokenize -> 2-gram
  shingles -> 16-min engine-neutral sketch -> 8x2 band keys ->
  BUCKET_CAP-gated bucket membership (capped at build time — the cap
  cannot depend on future arrivals), persisted as ``bands.parquet``
  (8 rows/doc) alongside ``hsets.parquet`` (hashed BIGINT shingle set,
  1 array/doc: the verify-stage material).  At 100 TB these are the
  only tables an arrival ever reads — the corpus text is never
  reopened.
* ``probe_lsh_index(spark, index_dir, batch)``: sketch ONLY the batch,
  then run the shared probe/verify/verdict assembly
  (``incremental_lsh.shard_verdicts`` — one implementation, so the
  persisted path cannot drift from the hash-verified query): the
  batch's band rows broadcast onto the index buckets, the enriched
  candidate frame broadcasts onto the index hset table, and the
  verdicts come back per batch doc (keep / drop_index_dup /
  drop_shard_dup + candidate counts + best verified Jaccard).  No
  SortMergeJoin anywhere; the index parquet is scanned, never
  shuffled.
* ``update_lsh_index(spark, index_dir, kept_batch)``: fold the docs a
  probe ADMITTED into the index by APPEND — their hsets append as-is;
  their band rows are cap-gated against the occupancy the touched
  (band, bk) buckets already have, so the gate recompute is local to
  the touched buckets (batch-bounded, never index-bounded) and no
  existing index row is ever rewritten.  This is the
  ``refresh_manifest`` discipline applied to the LSH index: the next
  probe sees the admitted docs without any rebuild.

Plan shape and scale envelope: the batch side of an arrival is small
by contract, the index side is not.  Each batch-side frame — the
hashed sets, the band rows, the in-batch gated band rows and (in
``admit_batch``) the verdicts — is collected ONCE to the driver as a
local relation (:func:`_local`), and every query that needs it reads
those rows: nothing batch-side is re-derived per consuming query,
projections and filters over them are folded at planning time, and the
verdicts are read back without a job.  The index tables stay
distributed parquet scans, read with a declared schema
(:data:`INDEX_SCHEMAS`, so no footer-inference job).  The probe
broadcasts the batch band rows, the batch hset slice, the enriched
candidate frame and the per-doc verdict aggregate — so the real bound
is that the BATCH (not the index) plus its candidate fan-out must fit
the driver and Spark's broadcast limit
(``spark.sql.autoBroadcastJoinThreshold`` semantics; hard ceiling
8 GB).  The driver holds exactly the frames the probe broadcasts, so
the bound is the same one.  A 100 TB INDEX is fine; a 100 GB arriving
batch is not one probe call — ``admit_batch(..., max_docs=N)`` splits
it into id-ordered broadcast-sized sub-batches, probing and folding
each in turn (admission contract in its docstring).

Per-arrival IO floor: a probe scans BOTH index tables once, map-side,
shuffle-free — the bands table (8 short rows/doc, ~3% of corpus bytes)
and the hset table (the hashed shingle sets, ~10-15% of corpus bytes,
the dominant term).  That floor is embarrassingly parallel and paid
once per arrival, not per candidate; if arrival cadence ever makes it
bind, the lever is candidate-id pushdown — the candidate set is
batch-bounded and each update generation's files cover a disjoint id
range, so a static ``doc_id IN (...)`` predicate on the verify scan
file-prunes to the generations that hold candidates.  Not implemented:
at bench scale both tables are sub-MB and the win is unmeasurable, so
the cut would be speculative code.

Crash consistency: an update appends data files FIRST and commits
the meta high-water mark LAST.  The commit ADDS a numbered meta
version (``_meta/<n>.json``, written under a dot-temp name and renamed
onto the fresh name; no file is ever replaced), so a committed meta
exists at every instant and a crash leaves either the new version or
only an unlisted temp — readers take the highest committed version and
there is nothing to repair (the commit-log idea of Delta Lake, VLDB
2020, reduced to one small file per commit, two kept).  Every read
filters to the committed snapshot (ids at or below the mark; parquet
min/max stats skip uncommitted append files outright, so the filter is
free on a healthy index), and ``vacuum_lsh_index`` deletes the
leftover FILES (orphan rows never share a file with committed ones,
so the repair rewrites nothing) so a crashed batch can be retried.
``compact_lsh_index`` periodically folds the accumulated per-update
generation files back into a few id-sorted files per table — layout
only, content and probe results identical.

Exactly-once streaming admission: ``admit_batch(..., epoch=N)`` is an
idempotent ``foreachBatch`` sink — fold commits record the epoch
atomically with the high-water mark, so a restarted stream's replayed
micro-batch reproduces its verdicts bit-identically (each sub-batch
probed against the reconstructed as-of index view, exact under
append-only ids) and skips the folds that already committed, instead
of tripping the stale-id guard (protocol in the ``admit_batch``
docstring; pytest-locked for full, mid-sub-batch and mid-append
crash replays).

Append-only id discipline: ``update_lsh_index`` requires every new
doc_id to exceed ``max_doc_id`` recorded in the index meta (checked,
not assumed).  Under it, append-plus-local-gate is EXACTLY the capped
membership a from-scratch rebuild over the union would produce: the
cap keeps the BUCKET_CAP lowest doc_ids per bucket, and monotone ids
mean existing members can never be evicted by later arrivals
(pytest-locked rebuild parity, tests/test_scale.py).  Re-arrivals are
therefore impossible by construction in the fold path; the probe path
additionally drops index rows whose doc_id re-appears in the batch
(defensive anti-join) so a re-probed doc is judged against
the index minus itself instead of fanning out the verify join.

Parity with the one-shot query is pytest-locked: building the index
from the n49 index side and probing the n49 shard must reproduce the
query's rows exactly (tests/test_scale.py).

Cluster-mode durability note: the batch-side local relations live in
the driver, so losing an executor loses none of them.  Executor-side
pins remain in two places, each scoped to one driver call:
``build_lsh_index``'s lazy ``localCheckpoint`` of the hashed sets, and
in a split ``admit_batch`` the tagged batch (``localCheckpoint``) and
the ``_IndexView`` base (``persist``, recomputable).  A
``localCheckpoint`` block is NOT recomputable: on a cluster, a job that
reads one after its executor is lost fails (in ``local[*]`` the
executor is the driver; moot).  No pin is the durability story — the
crash/retry protocol re-reads the PERSISTED parquet tables plus the
committed meta, so a failed call is retried from storage (vacuum +
replay), never from cached blocks.

Reference parity: no reference analog (the reference's pipeline has no
dedup at all); this is the LLM-training-corpus maintenance workflow
SURVEY §2.H's near-dup family exists to serve.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .queries.banded_lsh import (
    BUCKET_CAP,
    band_frame,
    bucket_rank,
    gate_buckets,
    hashed_sets,
)
from .queries.incremental_lsh import shard_verdicts
from .queries.llm_queries import _shingles, _tokens
from .queries.minhash_eval import sketch_from_hashes
from .workspace import _commit_version, _fs, _read_latest, _versions

#: committed meta versions live here as ``<n>.json`` (see :func:`_write_meta`)
_META_DIR = "_meta"

#: The schema of each index table, exactly as :func:`build_lsh_index`
#: writes it (pytest-locked).  Every index read passes it, so opening a
#: table never runs a footer-inference job.
INDEX_SCHEMAS = {
    "bands": "doc_id BIGINT, band INT, bk STRING",
    "hsets": "doc_id BIGINT, hs ARRAY<BIGINT>",
}

#: Index dirs this DRIVER PROCESS has vacuumed and not since seen a fold
#: fail on.  Orphan rows can only be created by a fold that died
#: mid-append, so :func:`admit_batch`'s epoch-mode repair pass runs once
#: per process per index instead of per micro-batch; a failed fold
#: evicts its dir (``_fold_frames``) and a process crash loses the cache
#: entirely — either way the next epoch-bearing call re-vacuums.
_KNOWN_CLEAN: set[str] = set()


def _local(df: DataFrame) -> DataFrame:
    """``df`` collected ONCE into a driver-local relation; the rows go
    from the executors to the driver JVM, never through Python.  For the
    batch-side frames of an arrival, which are broadcast-sized by
    contract.  Later queries read these rows instead of re-deriving
    them; projections and filters over them are folded at planning
    time, and ``collect()`` reads them with no job.  Broadcasting one
    still runs a small job on Spark 4.1 (``BroadcastExchangeExec``
    collects its child through ``executeCollectIterator``, which
    ``LocalTableScanExec`` does not override), but it re-derives
    nothing."""
    spark = df.sparkSession
    jdf = spark._jsparkSession.createDataFrame(
        df._jdf.collectAsList(), df._jdf.schema()
    )
    return DataFrame(jdf, spark)


def _hashed_sets(docs: DataFrame) -> DataFrame:
    """(doc_id BIGINT, hs) hashed shingle sets of a (doc_id, text) frame —
    the exact n42/n49 stages (shared helpers), one text pass, unpinned."""
    toks = docs.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        _tokens(F.col("text")).alias("ws"),
    )
    return hashed_sets(
        toks.select("doc_id", F.array_distinct(_shingles("ws", 2)).alias("s"))
    )


def _band_rows(hsets: DataFrame) -> DataFrame:
    """UNGATED (doc_id, band, bk) rows of a hashed-set frame.  Hash-once
    (sketch_from_hashes docstring): the sketch explodes the hashed sets —
    one polyhash per (doc, distinct shingle), not two."""
    return band_frame(
        sketch_from_hashes(hsets.select("doc_id", F.explode("hs").alias("x")))
    )


def _batch_frames(batch: DataFrame) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(hashed sets, UNGATED band rows, in-batch BUCKET_CAP-gated band
    rows) of a broadcast-sized batch, all driver-local.  The fold needs
    the ungated rows (its gate must see existing bucket occupancy, not
    just the batch), the probe the gated ones.  Two jobs: the text pass,
    then the sketch and the bucket rank over the local sets in ONE task
    — a single partition already satisfies the per-doc aggregate and the
    per-bucket window, so there is no exchange; both band frames are
    projections of that one ranked relation."""
    hsets = _local(_hashed_sets(batch))
    ranked = _local(bucket_rank(_band_rows(hsets.coalesce(1))))
    gated = ranked.filter(F.col("rn") <= BUCKET_CAP)
    return hsets, ranked.drop("rn"), gated.drop("rn")


def _write_meta(
    spark: SparkSession, index_dir: str, max_doc_id: int, epoch=None
) -> None:
    """Publish the high-water mark — the COMMIT of an update (see
    ``update_lsh_index``) — as the next numbered version
    ``_meta/<latest + 1>.json``: written complete under a dot-temp name,
    then renamed onto that fresh name (a rename that returns false raises
    and the previous version stays authoritative).  No file is ever
    replaced, so there is no moment without a committed meta and nothing
    for a reader to repair; a crash before the rename leaves only a temp
    that no reader lists.  Versions older than the new one's predecessor
    are then deleted, so at most two remain.  ``epoch`` is the
    admission-transaction id :func:`admit_batch` uses for replay
    detection — recorded in the SAME file as the mark, so a commit and
    its epoch are indivisible."""
    fs, meta_dir, jvm = _fs(spark, f"{index_dir}/{_META_DIR}")
    versions = _versions(fs, jvm, meta_dir)
    n = max(versions, default=-1) + 1
    payload = json.dumps({"max_doc_id": max_doc_id, "epoch": epoch})
    _commit_version(fs, jvm, meta_dir, n, payload, "LSH index meta")
    for v, old in versions.items():
        if v < n - 1:
            fs.delete(old, False)  # best-effort: superseded; the next commit retries


def _read_meta(spark: SparkSession, index_dir: str) -> dict:
    """The committed index meta, read from the highest version under
    ``_meta/``: ``max_doc_id`` (the high-water mark) and ``epoch`` (last
    admission-transaction id, None when the commit recorded none).  If
    that version vanished before it was opened — only possible when two
    commits landed during this read, the second deleting it — the listing
    is taken again.  Raises ``FileNotFoundError`` when the index holds no
    committed version."""
    fs, meta_dir, jvm = _fs(spark, f"{index_dir}/{_META_DIR}")
    latest = _read_latest(fs, jvm, meta_dir)
    if latest is None:
        raise FileNotFoundError(
            f"no committed LSH index meta under {index_dir}/{_META_DIR}"
        )
    meta = json.loads(latest[1])
    meta["max_doc_id"] = int(meta["max_doc_id"])
    return meta


def _part_file_count(fs, path) -> int:
    """Number of ``part-*`` data files under a table dir (Hadoop FS) —
    the one counting convention, shared by :func:`compact_lsh_index`'s
    threshold check and d04's layout fences (queries/lsh_lifecycle)."""
    return sum(
        1
        for f in fs.listStatus(path)
        if f.getPath().getName().startswith("part-")
    )


def _table(spark: SparkSession, index_dir: str, name: str) -> DataFrame:
    """An index table read with its declared schema: opening it lists the
    files and reads no footer."""
    return spark.read.schema(INDEX_SCHEMAS[name]).parquet(
        f"{index_dir}/{name}.parquet"
    )


def _committed(spark: SparkSession, index_dir: str, name: str, hw: int) -> DataFrame:
    """The COMMITTED snapshot of an index table: rows at or below the
    meta high-water mark.  ``update_lsh_index`` appends data files FIRST
    and publishes the new high-water LAST, so rows above it are exactly
    the leftovers of a crashed update — this filter makes every read
    crash-consistent with zero rewrite, and since an append's files
    contain ONLY ids above the pre-crash mark, parquet min/max stats
    skip those files entirely (the filter costs no IO on a healthy
    index either)."""
    return _table(spark, index_dir, name).filter(F.col("doc_id") <= hw)


def build_lsh_index(spark: SparkSession, docs: DataFrame, index_dir: str) -> None:
    """Sketch ``docs`` (doc_id, text, ...) and persist the two index
    tables an arrival probe reads — ``bands.parquet`` (capped bucket
    membership) and ``hsets.parquet`` (hashed shingle sets) — plus the
    committed meta high-water mark ``update_lsh_index`` checks its
    append-only id precondition against.  The written schemas are
    :data:`INDEX_SCHEMAS`."""
    # pinned: the sets feed the sketch, their own write and the mark
    hsets = _hashed_sets(docs).localCheckpoint(eager=False)
    gate_buckets(_band_rows(hsets)).write.mode("overwrite").parquet(
        f"{index_dir}/bands.parquet"
    )
    hsets.write.mode("overwrite").parquet(f"{index_dir}/hsets.parquet")
    # high-water mark from the ALREADY-MATERIALIZED hset frame — one row
    # per input doc (hashed_sets neither filters nor explodes), so
    # max(doc_id) is identical to an agg over ``docs``, without a second
    # scan of the corpus
    mx = hsets.agg(F.max("doc_id")).first()[0]
    _write_meta(spark, index_dir, -(2**62) if mx is None else int(mx))


class _IndexView:
    """The committed index, read ONCE per ``admit_batch`` call and shared
    by every sub-batch cycle.

    Without it each of k sub-batch cycles re-opened and re-scanned the
    full committed tables three times over (probe bands, probe hsets,
    fold occupancy) — ``lsh_admit_split4`` paid ~4x the one-shot's full
    fixed cost (14.91 s vs 3.75 s in BENCH_IO) even though between
    sub-batches the index changes ONLY by the just-folded generation.
    The view pins the base tables (persist: memory, disk-spilled —
    they are re-read k times within one call, then released) and tracks
    each committed fold's appended rows as in-memory deltas; ``current``
    is base ∪ deltas, which under the module's single-writer contract is
    EXACTLY the committed snapshot a fresh ``_committed`` read would
    return after those folds.  Replay stays byte-exact: the as-of view
    is id-gated downstream, and an id filter over base ∪ deltas equals
    the same filter over a fresh read (append-only ids; proved by the
    existing cross-process replay test).

    Deltas are the POST-GATE admitted band rows and the keeper hsets —
    precisely the rows the fold appended, as driver-local relations, so
    k-1 later cycles re-read a batch-sized frame instead of re-running
    the admission lineage.

    Measured (quiet spin canaries 0.666/0.659, sf0.1, median-of-3):
    oneshot 5.08 s, split4 13.33 s without the view vs 12.74 s with it —
    a 4.4% saving at sandbox scale, where the index tables are sub-MB
    and re-opening them costs almost nothing.  The remaining
    split4-vs-oneshot gap is per-cycle driver fixed cost — each cycle
    runs its own sketch, probe and fold jobs (about a dozen), which no
    read cache can remove: the cycles are sequential BY DESIGN (the
    append-only fold order is the admission contract).

    Re-priced at INDEX scale (``scaling_probe.py --split``: view vs a
    no-cache emulation, 1x vs 10x synthetic index): at the 10x
    cell all three captures agree the view costs 4-10% (the persist
    overhead without enough re-read volume to amortize), and admit time
    is FLAT from 1x to 10x index (driver fixed cost swamps the scan
    term: the ``--probe`` curve puts a full 10x-index scan at only
    +9-11% over 1x here).  So at ANY sandbox-reachable scale the view
    is cost-neutral-to-slightly-negative and NOT CI-fenceable.  The
    payoff remains structural and arrives where the probe curve turns
    linear in index bytes: k-1 full listings + scans of a 100 TB table
    pair eliminated per oversized arrival — a derivation ((k-1) x the
    probe's index-scan term), not a sandbox-measurable ratio — at the
    price of one persist whose spill is local-disk (MEMORY_AND_DISK
    default) and released at call end."""

    def __init__(self, spark: SparkSession, index_dir: str):
        hw = _read_meta(spark, index_dir)["max_doc_id"]
        self._bands = _committed(spark, index_dir, "bands", hw).persist()
        self._hsets = _committed(spark, index_dir, "hsets", hw).persist()
        self._delta_bands: list[DataFrame] = []
        self._delta_hsets: list[DataFrame] = []

    def current(self) -> tuple[DataFrame, DataFrame]:
        b, h = self._bands, self._hsets
        for d in self._delta_bands:
            b = b.unionByName(d)
        for d in self._delta_hsets:
            h = h.unionByName(d)
        return b, h

    def add_delta(self, bands: DataFrame, hsets: DataFrame) -> None:
        self._delta_bands.append(bands)
        self._delta_hsets.append(hsets)

    def release(self) -> None:
        self._bands.unpersist()
        self._hsets.unpersist()


def _index_frames(
    spark: SparkSession,
    index_dir: str,
    idx_view: _IndexView | None = None,
    as_of_id: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """The committed (bands, hsets) an arrival is probed against: the
    caller's pinned view (base ∪ committed deltas — identical rows to a
    fresh meta + :func:`_committed` read, without re-opening the tables
    per sub-batch cycle) or a fresh committed read.

    ``as_of_id`` reconstructs a PAST index view for replay
    (:func:`admit_batch`'s epoch protocol): only ids strictly below it
    count as the index.  The append-only discipline makes this exact —
    everything folded after a batch began has ids above the batch's
    minimum, so ``as_of_id = min(batch ids)`` is precisely the index
    the batch's original probe saw."""
    if idx_view is not None:
        bands, hsets = idx_view.current()
    else:
        hw = _read_meta(spark, index_dir)["max_doc_id"]
        bands = _committed(spark, index_dir, "bands", hw)
        hsets = _committed(spark, index_dir, "hsets", hw)
    if as_of_id is not None:
        bands = bands.filter(F.col("doc_id") < as_of_id)
        hsets = hsets.filter(F.col("doc_id") < as_of_id)
    return bands, hsets


def _probe_frames(
    idx_bands: DataFrame, idx_hsets: DataFrame, hsets: DataFrame, gated: DataFrame
) -> DataFrame:
    """The probe of a batch's driver-local frames (:func:`_batch_frames`)
    against the given index frames — shared by :func:`probe_lsh_index`
    and :func:`admit_batch` (which sketches ONCE and feeds probe and fold
    from the same frames).  Lazy: the caller decides whether to collect."""
    return shard_verdicts(
        idx_bands,
        gated,
        idx_hsets.unionByName(hsets),
        hsets,
        hsets.select("doc_id"),
    )


def probe_lsh_index(
    spark: SparkSession, index_dir: str, batch: DataFrame
) -> DataFrame:
    """Per-doc near-dup verdicts for an arriving ``batch`` (doc_id,
    text, ...) against a :func:`build_lsh_index` layout — the batch is
    sketched fresh, collected to the driver and broadcast; the index
    tables stream map-side (no shuffle of the index, no SortMergeJoin).

    Broadcast-bound: the batch band rows, batch hset
    slice, candidate frame and verdict aggregate are all broadcast, so
    the BATCH and its candidate fan-out must fit the broadcast limit —
    split over-sized arrivals into sub-batches before probing
    (:func:`admit_batch` does).

    A doc_id present in BOTH the index and the batch (a re-arrival) is
    judged against the index minus itself: the defensive anti-joins
    drop its index-side band rows and hset before the union, so the
    verify join cannot fan out across generations.

    Reads are the COMMITTED snapshot (ids at or below the meta
    high-water mark): leftovers of a crashed ``update_lsh_index`` are
    invisible until :func:`vacuum_lsh_index` repairs them."""
    hsets, _, gated = _batch_frames(batch)
    ids = F.broadcast(hsets.select("doc_id"))
    idx_bands, idx_hsets = (
        t.join(ids, "doc_id", "left_anti") for t in _index_frames(spark, index_dir)
    )
    return _probe_frames(idx_bands, idx_hsets, hsets, gated)


def update_lsh_index(
    spark: SparkSession, index_dir: str, kept_batch: DataFrame
) -> int:
    """Fold ``kept_batch`` — the docs a probe ADMITTED (decision
    ``keep``) — into the persisted index without a rebuild.  Returns
    the number of docs folded in.  The batch is broadcast-sized, like a
    probe's: its sketch is collected to the driver.

    Pure append, gate recompute local to the touched buckets:

    * hsets: the batch's hashed shingle sets append as-is;
    * bands: a new row enters a (band, bk) bucket only while the bucket
      stays within ``BUCKET_CAP`` counting its EXISTING occupancy — the
      index band table is semi-joined against the batch's band keys
      (broadcast; the index streams map-side), and the gate ranks the
      surviving rows together with the batch's: a shuffle bounded by
      batch size x bands x cap, never by index size.

    Requires append-only doc_ids (every new id > the index's recorded
    ``max_doc_id`` — checked against the committed meta, ValueError
    otherwise).  Under that precondition the appended membership is
    EXACTLY what a from-scratch rebuild over the union would cap: the
    gate keeps the BUCKET_CAP lowest ids per bucket and monotone ids
    can never evict existing members (rebuild parity pytest-locked).
    Without it, admitting a low id would require evicting an already-
    persisted row — a rewrite, which is the rebuild this API exists to
    avoid.

    Crash protocol: data files append FIRST, the meta high-water mark
    publishes LAST — the mark IS the commit.  A crash anywhere in
    between leaves rows above the mark that every read filters out
    (``_committed``); run :func:`vacuum_lsh_index` before RETRYING the
    crashed batch, or the retry's append would double the uncommitted
    rows and the commit would expose both copies."""
    hsets, bands, _ = _batch_frames(kept_batch)
    return _fold_frames(spark, index_dir, hsets.select("doc_id"), bands, hsets)


def _fold_frames(
    spark: SparkSession,
    index_dir: str,
    kept_ids: DataFrame,
    new_bands: DataFrame,
    new_hsets: DataFrame,
    epoch=None,
    idx_view: _IndexView | None = None,
) -> int:
    """The fold on driver-local keeper frames (``new_bands`` UNGATED) —
    shared by :func:`update_lsh_index` (which sketches then folds) and
    :func:`admit_batch` (one sketch for probe and fold; passes its
    ``epoch`` so the commit records the admission transaction, and its
    ``idx_view`` so the occupancy read reuses the pinned committed view
    and the committed delta is registered for later sub-batch cycles)."""
    ids = [r[0] for r in kept_ids.collect()]
    if not ids:
        return 0
    high_water = _read_meta(spark, index_dir)["max_doc_id"]
    if min(ids) <= high_water:
        raise ValueError(
            f"update_lsh_index requires append-only doc_ids: batch min "
            f"{min(ids)} <= indexed max {high_water} (re-arrival or "
            f"out-of-order fold — rebuild or re-id the batch)"
        )
    # the gate over each touched bucket's committed members plus the
    # keepers: append-only ids rank every committed member first, so a
    # keeper's rank is the bucket's occupancy plus its rank among the
    # keepers — the rebuild's cap test, on touched buckets only.
    # Committed snapshot: a crashed update's leftovers must not count
    # toward the cap.  The semi-join's build side is the local keeper
    # rows as they are (a semi-join needs no unique keys); with no
    # shuffle on either join side, Catalyst injects no runtime bloom
    # filter that would scan the index bands to build it.
    committed_bands = (
        idx_view.current()[0]
        if idx_view is not None
        else _committed(spark, index_dir, "bands", high_water)
    )
    occupants = committed_bands.join(
        F.broadcast(new_bands.select("band", "bk")), ["band", "bk"], "left_semi"
    )
    admitted = (
        gate_buckets(occupants.unionByName(new_bands))
        .filter(F.col("doc_id") > high_water)
        .select("doc_id", "band", "bk")  # the semi-join put its keys first
    )
    if idx_view is not None:
        # later sub-batch cycles read this delta: hold it on the driver
        admitted = _local(admitted)
    try:
        # one file per table per fold: the rows are batch-sized
        for rows, name in ((admitted, "bands"), (new_hsets, "hsets")):
            rows.coalesce(1).write.mode("append").parquet(
                f"{index_dir}/{name}.parquet"
            )
        _write_meta(spark, index_dir, max(ids), epoch)  # <- the commit
    except BaseException:
        # the fold may have appended rows it never committed — the next
        # epoch-bearing admit_batch must re-vacuum, not trust the cache
        _KNOWN_CLEAN.discard(index_dir)
        raise
    if idx_view is not None:
        # registered only AFTER the commit: a crashed fold's rows must
        # stay invisible to later cycles, exactly as _committed's
        # high-water filter would keep them
        idx_view.add_delta(admitted, new_hsets)
    return len(ids)


def _split_batch(batch: DataFrame, k: int, lo: int, hi: int) -> DataFrame:
    """Tag ``batch`` rows with a sub-batch id ``_sub`` in [0, k): contiguous
    doc_id ranges, ordered (every id in sub i sorts below every id in sub
    i+1) — the property :func:`admit_batch`'s in-order folds need so the
    append-only guard holds across sub-batches.

    The cuts are EQUAL-WIDTH id intervals over [lo, hi] (the batch's own
    min/max), i.e. a pure projection ``(doc_id - lo) div width`` — which
    buys the two properties this path must have at once:

    * distributed: no shuffle, no sort, no Window at all
      — every task tags its own rows.  The rejected first form,
      ``ntile(k) OVER (ORDER BY doc_id)``, funneled the whole
      over-broadcast batch through ONE task's sort; the rejected second
      form, ``repartitionByRange(k, doc_id)``, distributed the sort but
      computes its cuts from a reservoir SAMPLE seeded by the RDD id —
      nondeterministic across process restarts, which breaks the
      exactly-once replay below;
    * deterministic (the epoch replay protocol REQUIRES it): a restarted
      stream redelivers the same batch content, so (lo, hi, k) — and
      therefore every sub-batch boundary — reproduce exactly.  With
      sampled cuts a replay sub-batch could straddle the crashed run's
      commit point, containing both committed keepers (at or below the
      mark) and new ones: the committed-fold skip would not fire and the
      fold would trip the append-only guard — a permanently wedged
      stream on every restart.

    The price of width-equal (rather than count-equal) cuts: id SKEW can
    over-fill a range past ``max_docs``.  :func:`admit_batch` handles
    that by forwarding ``max_docs`` into the recursion — an over-filled
    sub-batch re-splits within its (strictly narrower) id interval, so
    the envelope is enforced at every leaf, deterministically, and the
    recursion terminates (a single-id interval cannot over-fill: ids are
    unique).  Plan shape (no Exchange, no Window) is pytest-locked."""
    if hi - lo >= 2**63:
        # (doc_id - lo) would wrap LONG arithmetic (silently, ANSI off)
        # and the wrapped rows' negative tags would be dropped by the
        # per-sub filters — refuse instead of losing admissions.  Only
        # reachable if a batch spans nearly the full int64 id space.
        raise ValueError(
            f"admit_batch cannot split a batch whose doc_id span "
            f"[{lo}, {hi}] exceeds the LONG range — re-id the batch"
        )
    width = (hi - lo) // k + 1  # >= 1, and k*width > hi-lo => tags in [0, k)
    return batch.withColumn("_sub", F.expr(f"(doc_id - {lo}) div {width}"))


def admit_batch(
    spark: SparkSession,
    index_dir: str,
    batch: DataFrame,
    max_docs: int | None = None,
    epoch=None,
    _replay: bool | None = None,
    _view: _IndexView | None = None,
    _stats: tuple | None = None,
) -> DataFrame:
    """Probe-and-fold an arriving ``batch`` (doc_id, text, ...) in one
    call, returning the per-doc verdict frame — result-identical to
    :func:`probe_lsh_index` then :func:`update_lsh_index` on the
    keepers (pytest-pinned), but the batch is sketched ONCE and the
    probe and fold share its driver-local frames (the sketch is the
    arrival's dominant linear term; the two-call path pays it twice).
    The returned verdicts are driver-local too: collecting them runs no
    job.  Without ``max_docs`` the whole batch is collected to the
    driver — pass ``max_docs`` for an arrival that may not fit.

    Fails fast if any batch id is at or below the index high-water
    mark: each leaf checks after its sketch and before its probe, and
    the first leaf of a split holds the batch's lowest id, so the check
    fires BEFORE any fold and a multi-sub-batch admission can never
    stop half-folded on the id guard.

    ``max_docs`` closes the module's scale caveat with code instead of a
    docstring instruction: the probe broadcasts the BATCH and its
    candidate fan-out, so an arrival too big for the broadcast limit
    must be split.  When the batch exceeds ``max_docs`` it is cut into
    ``ceil(n / max_docs)`` id-ordered sub-batches via a DISTRIBUTED,
    DETERMINISTIC range split (:func:`_split_batch`: equal-width id
    intervals over the batch's own [min, max] — a pure projection, no
    shuffle and no single-partition stage; this path executes precisely
    when the batch EXCEEDS the broadcast envelope, so it must never
    funnel the whole batch through one task, and the cuts must
    reproduce bit-identically on an epoch replay in a fresh process),
    each probed and folded IN ID ORDER so the fold's append-only guard
    holds across sub-batches.  Width-equal cuts track count-equal ones
    for the monotone id sequences streams produce; under id SKEW an
    over-filled interval recursively re-splits (``max_docs`` forwards),
    so the envelope is enforced at every leaf.

    Admission contract vs one-shot (``max_docs=None``), pytest-locked:

    * the admitted set always satisfies the near-dup-free invariant —
      no admitted doc is a verified near-dup of the prior index or of
      any doc admitted before it;
    * on batches where no near-dup chain crosses a sub-batch boundary
      through a DROPPED doc, admission is IDENTICAL to one-shot (the
      real-corpus case);
    * on chain-crossing batches, sub-batching is never LESS admissive:
      one-shot's shard rule drops doc B for a lower-id near-dup A even
      when A itself was dropped (pairwise, n49 semantics), while B in a
      later sub-batch is judged only against the index + folded
      keepers — every comparison one-shot would also make — so B can
      only flip drop -> keep, never keep -> drop.  A cross-sub-batch
      near-dup of a KEPT doc reports ``drop_index_dup`` where one-shot
      says ``drop_shard_dup`` (same admission, the survivor is already
      folded).

    ``epoch`` makes admission EXACTLY-ONCE under redelivery — the
    Spark ``foreachBatch`` idempotent-sink protocol (a restarted
    streaming query replays its last uncommitted micro-batch with the
    SAME epoch id and content; that redelivery contract is the
    precondition).  Every fold commit records the epoch atomically
    with the high-water mark, so on entry:

    * epoch given at all -> ``vacuum_lsh_index`` first, making a fold
      that crashed MID-APPEND (orphan rows, no commit) retryable
      without double-appending.  Paid ONCE per driver process per
      index, not per micro-batch: orphans only appear when a fold
      dies, so after one repair the dir is cached clean
      (``_KNOWN_CLEAN``) until a fold fails in-process (evicts the
      entry) or the process itself dies (loses the cache — the
      restarted driver's first batch re-vacuums).  Without the cache
      every arrival would pay the repair's file listing + stats-pruned
      footer scan over the WHOLE index — a real per-arrival IO floor
      at the module's 100 TB posture.  Single-writer assumption as
      everywhere in this module: another process folding into the same
      dir concurrently is out of contract;
    * stored epoch == this epoch -> REPLAY: some sub-batches may have
      committed before the crash.  Each sub-batch's probe reconstructs
      the index view its ORIGINAL run saw — ``as_of_id = min(sub-batch
      ids)`` is exact, because append-only ids mean everything folded
      later sits strictly above it — so verdicts reproduce
      bit-identically (pytest-locked); a sub-batch whose keepers are
      all at or below the committed mark already folded and is
      skipped, the rest fold normally.  The stale-id fail-fast is
      waived (a replay's ids are legitimately at or below the mark).

    Without ``epoch`` the stale-id guard treats any redelivery as the
    error it then is (out-of-order arrival or re-id bug).

    Operational note — upgrading the SPLITTER implementation: replay
    exactness holds because the cuts are deterministic WITHIN one
    implementation.  A stream that crashed mid-epoch under an older
    splitter (e.g. the sampled repartitionByRange form this module once
    shipped) and restarts on a build with different cut semantics can
    re-cut the replayed batch across the crashed run's commit point and
    wedge on the append-only guard.  Quiesce streams (let the in-flight
    micro-batch commit) before deploying a splitter change, or complete
    a dirty checkpoint's replay on the old build first."""
    if _replay is None and epoch is not None:
        _replay = _read_meta(spark, index_dir).get("epoch") == epoch
        if index_dir not in _KNOWN_CLEAN:
            vacuum_lsh_index(spark, index_dir)
            _KNOWN_CLEAN.add(index_dir)
    if _stats is None and max_docs is not None:
        # the split decision must precede any collect of the batch
        row = batch.agg(
            F.count("*").alias("n"),
            F.min("doc_id").alias("mn"),
            F.max("doc_id").alias("mx"),
        ).first()
        _stats = (row["n"], row["mn"], row["mx"])
    if _stats is None:
        return _admit_leaf(spark, index_dir, batch, epoch, _replay, _view)
    n, mn, mx = _stats
    # recursion backstop: a single-id interval cannot split further, so a
    # contract-violating batch with DUPLICATED ids (n > max_docs, one id)
    # degrades to a one-shot probe instead of recursing forever — for
    # n<=1 the preceding arm already forces k=1
    k = 1 if n <= max_docs or mn == mx else -(-n // max_docs)
    if k == 1:
        return _admit_leaf(spark, index_dir, batch, epoch, _replay, _view)
    # localCheckpoint so the k per-sub filters materialize the batch once
    # (determinism does NOT depend on it: the cuts are a pure function of
    # the batch's lo/hi/k, so a replay in a fresh process reproduces them).
    # LAZY: the grouped stats aggregation right below
    # is the first consumer and materializes the blocks inside its own job.
    tagged = _split_batch(batch, k, mn, mx).localCheckpoint(eager=False)
    # ONE grouped aggregation replaces k per-leaf stats jobs plus k
    # isEmpty probes (per-cycle driver fixed cost):
    # the leaves receive exactly the count/min/max the per-sub agg would
    # have computed, and absent keys are the empty ranges isEmpty skipped
    sub_stats = {
        int(r["_sub"]): (r["n"], r["mn"], r["mx"])
        for r in tagged.groupBy("_sub")
        .agg(
            F.count("*").alias("n"),
            F.min("doc_id").alias("mn"),
            F.max("doc_id").alias("mx"),
        )
        .collect()
    }
    # generation reuse: pin the committed view ONCE for
    # all k sub-batch cycles — each cycle's probe and fold read the
    # persisted base plus the prior cycles' committed deltas instead of
    # re-opening the full index tables per cycle.  Created at the
    # OUTERMOST split only (a skew re-split inherits its parent's view).
    created_view = _view is None
    if created_view:
        _view = _IndexView(spark, index_dir)
    try:
        parts = []
        for i in range(k):
            if i not in sub_stats:
                continue  # width-equal cuts leave sparse ranges empty
            sub = tagged.filter(F.col("_sub") == i).drop("_sub")
            parts.append(
                # max_docs forwards: id skew can over-fill a width-equal
                # range, and an over-filled sub-batch must re-split (within
                # its strictly narrower interval), not broadcast
                # over-envelope
                admit_batch(
                    spark, index_dir, sub, max_docs=max_docs,
                    epoch=epoch, _replay=_replay, _view=_view,
                    _stats=sub_stats[i],
                )
            )
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        # the leaf verdicts are driver-local relations, so releasing the
        # view's pinned base under them is safe
        return out
    finally:
        if created_view:
            _view.release()


def _admit_leaf(
    spark: SparkSession,
    index_dir: str,
    batch: DataFrame,
    epoch,
    replay: bool | None,
    view: _IndexView | None,
) -> DataFrame:
    """One broadcast-sized probe-and-fold of :func:`admit_batch`.  The
    batch is sketched ONCE into driver-local frames; the probe and the
    fold both read them (the sketch is the arrival's dominant linear
    term — re-sketching the keepers from text would double it).  The
    verdicts are collected to the driver too: their rows give the batch
    ids and the keepers without a stats job, and the caller's
    ``collect()`` runs none."""
    hsets, bands, gated = _batch_frames(batch)
    ids = [r[0] for r in hsets.select("doc_id").collect()]
    if ids and not replay:
        # admit_batch's fail-fast, after the sketch and before the probe
        hw = _read_meta(spark, index_dir)["max_doc_id"]
        if min(ids) <= hw:
            raise ValueError(
                f"admit_batch requires append-only doc_ids: batch min "
                f"{min(ids)} <= indexed max {hw} (re-arrival or "
                f"out-of-order arrival — re-id the batch)"
            )
    idx_bands, idx_hsets = _index_frames(
        spark, index_dir, view, as_of_id=min(ids) if replay and ids else None
    )
    verdicts = _local(_probe_frames(idx_bands, idx_hsets, hsets, gated))
    keep, drop = [], []
    for r in verdicts.collect():
        (keep if r.decision == "keep" else drop).append(r.doc_id)
    if not keep:
        return verdicts  # nothing to fold, as an empty fold would do
    if replay and max(keep) <= _read_meta(spark, index_dir)["max_doc_id"]:
        return verdicts  # this (sub-)batch's fold already committed
    # a literal id list: filters over local relations fold at planning
    # time.  Each filter compiles the list into its predicate, so the
    # shorter list is used — the keepers, or else every batch doc but the
    # dropped ones (each row of these frames is a batch doc with a verdict)
    if len(keep) <= len(drop):
        kept = F.expr(f"doc_id IN ({', '.join(map(str, keep))})")
    elif drop:
        kept = F.expr(f"NOT doc_id IN ({', '.join(map(str, drop))})")
    else:
        kept = F.lit(True)
    _fold_frames(
        spark,
        index_dir,
        hsets.select("doc_id").filter(kept),
        bands.filter(kept),
        hsets.filter(kept),
        epoch=epoch,
        idx_view=view,
    )
    return verdicts


def compact_lsh_index(
    spark: SparkSession, index_dir: str, files_per_table: int = 8
) -> dict[str, int]:
    """Fold the per-update append generations back into ``files_per_table``
    id-sorted files per index table — the ``compact_partitions``
    discipline applied to the LSH index.  Daily folds accumulate one-plus
    small files each; after years of arrivals every probe pays listing +
    footer overhead per generation.  Compaction is the deliberate,
    amortized rewrite (the opposite trade from ``vacuum_lsh_index``'s
    surgical file deletes): read the COMMITTED snapshot, rewrite it
    range-partitioned and sorted on doc_id, swap in.  Returns
    ``{table: files_before}``.

    Invariants preserved:

    * only committed rows are rewritten, so compacted files hold only
      ids at or below the high-water mark — a LATER crashed update's
      orphans still sit in their own files above the mark, keeping the
      file-exclusivity property ``vacuum_lsh_index`` relies on (any
      orphans present NOW are dropped, which is vacuum's repair);
    * the id-sorted layout keeps per-file min/max stats tight, so the
      committed-snapshot filter and any future candidate-id pushdown
      stay file-prunable;
    * the meta is untouched — compaction changes layout, never
      content (probe results bit-identical, pytest-locked).

    Like ``compact_partitions``, the swap (delete-old, rename-new) wants
    a read-quiesced window: a reader that listed files before the swap
    can hit vanished files.  Crash protocol (the d03 repair discipline):
    the rewrite lands complete in a dot-prefixed temp dir (Spark's
    ``_SUCCESS`` marker) BEFORE the live dir is deleted, so a crash
    inside the swap leaves a finished replacement next to the missing
    table — :func:`_repair_compaction` (run at the head of every
    compact AND of :func:`vacuum_lsh_index`) renames it in; a crash
    before the delete leaves the live table authoritative and the temp
    is discarded.  In between, probes fail loudly on the missing path —
    never a torn read (content is identical either way: compaction is
    layout-only)."""
    import uuid

    _repair_compaction(spark, index_dir)
    hw = _read_meta(spark, index_dir)["max_doc_id"]
    fs, _, jvm = _fs(spark, index_dir)
    out = {}
    for name in ("bands", "hsets"):
        live = f"{index_dir}/{name}.parquet"
        live_p = jvm.org.apache.hadoop.fs.Path(live)
        n_before = _part_file_count(fs, live_p)
        out[name] = n_before
        if n_before <= files_per_table:
            continue
        tmp = f"{index_dir}/.{name}.compact-{uuid.uuid4().hex[:8]}"
        try:
            (
                _committed(spark, index_dir, name, hw)
                .repartitionByRange(files_per_table, "doc_id")
                .sortWithinPartitions("doc_id")
                .write.parquet(tmp)
            )
            # the boolean-return discipline (applied module-wide): a false
            # delete means the live dir still exists and the rename below
            # cannot land — the compaction would report success having
            # changed nothing; a false rename after a successful delete
            # would leave the table missing until the NEXT entry point's
            # _repair_compaction, so repair inline.
            if not fs.delete(live_p, True):
                # Hadoop delete ALSO returns false when the path does not
                # exist — a live table that vanished after
                # _repair_compaction (out-of-band delete) must surface as
                # the missing-table diagnosis, not a misleading
                # 'could not delete'.
                if not fs.exists(live_p):
                    # no data is at risk: this rewrite's COMPLETE
                    # _SUCCESS-marked temp is already on disk, and the
                    # next entry point's _repair_compaction promotes it
                    # (live-missing + complete temp is exactly the
                    # crashed-swap state it repairs) — so the remediation
                    # is a re-run, never a rebuild
                    raise RuntimeError(
                        f"compact_lsh_index: live table {live_p} vanished "
                        "at the swap (deleted out-of-band or by a "
                        "concurrent compactor); re-run compact_lsh_index — "
                        "it will resume from this rewrite's completed temp"
                    )
                raise RuntimeError(
                    f"compact_lsh_index: could not delete {live_p} for the swap"
                )
            if not fs.rename(jvm.org.apache.hadoop.fs.Path(tmp), live_p):
                _repair_compaction(spark, index_dir)
                raise RuntimeError(
                    f"compact_lsh_index: could not swap {tmp} into {live_p}; "
                    "the completed temp was repaired back in"
                )
        except BaseException:
            # a crashed swap needs _repair_compaction before the next
            # probe — don't let admit_batch's clean-cache skip it
            _KNOWN_CLEAN.discard(index_dir)
            raise
    return out


def _repair_compaction(spark: SparkSession, index_dir: str) -> bool:
    """Complete or discard a crashed :func:`compact_lsh_index` swap;
    returns whether anything was repaired.  The swap's invariant makes
    this unambiguous: the rewrite is COMPLETE (``_SUCCESS``-marked temp
    dir) before the live dir is deleted, so

    * live table present -> it is authoritative; any ``.{name}.compact-*``
      temp is partial or superseded — discard it (compaction is
      layout-only, so finishing vs. discarding give identical content;
      discarding is the conservative, idempotent choice);
    * live table MISSING -> the crash happened between delete and
      rename, therefore a complete temp exists — rename it in.  A
      missing live with no complete temp is real corruption (someone
      deleted data out-of-band) and raises instead of guessing."""
    fs, root, jvm = _fs(spark, index_dir)
    HPath = jvm.org.apache.hadoop.fs.Path
    repaired = False
    for name in ("bands", "hsets"):
        live = HPath(f"{index_dir}/{name}.parquet")
        tmps = [
            f.getPath()
            for f in fs.listStatus(root)
            if f.getPath().getName().startswith(f".{name}.compact-")
        ]
        if fs.exists(live):
            for t in tmps:
                fs.delete(t, True)  # best-effort: superseded scratch only
        else:
            done = [t for t in tmps if fs.exists(HPath(t, "_SUCCESS"))]
            if not done:
                raise RuntimeError(
                    f"LSH index table {name}.parquet is missing and no "
                    f"completed compaction temp exists under {index_dir} — "
                    f"not a crashed swap; restore from a rebuild"
                )
            if not fs.rename(done[0], live):
                raise RuntimeError(
                    f"_repair_compaction: could not rename completed temp "
                    f"{done[0]} to {live} — index table still missing"
                )
            for t in done[1:]:
                fs.delete(t, True)  # best-effort: superseded scratch only
            repaired = True
    return repaired


def vacuum_lsh_index(spark: SparkSession, index_dir: str) -> int:
    """Repair a crashed :func:`update_lsh_index`: DELETE the uncommitted
    append files (rows above the meta high-water mark), so the crashed
    batch can be retried without double-appending.  Returns the number
    of uncommitted rows removed (0 = healthy index, nothing touched).
    Also completes a crashed :func:`compact_lsh_index` swap first
    (:func:`_repair_compaction`) — vacuum is the index's one repair
    entry point.

    Orphans are FILE-exclusive by construction: the append-only id
    guard means every committed file holds only ids at or below some
    past high-water mark, and a crashed append's files hold only ids
    ABOVE the current one — no file ever mixes the two.  So the repair
    is file-granular: scan ``doc_id > hw`` (parquet min/max stats prune
    the committed files, so only the orphan files are read), collect
    the offending file paths via ``input_file_name``, and delete
    exactly those — the committed table bytes are never rewritten,
    which at the module's posture is the difference between deleting a
    crashed batch's few files and rewriting a 100 TB table.

    Concurrent readers are already blind to these files' ROWS
    (``_committed`` filters above the mark); a reader that listed the
    directory before the delete can still hit a vanished-file error on
    the orphan itself — retry, or set
    ``spark.sql.files.ignoreMissingFiles`` during repair windows."""
    _repair_compaction(spark, index_dir)
    hw = _read_meta(spark, index_dir)["max_doc_id"]
    fs, _, jvm = _fs(spark, index_dir)
    removed = 0
    for name in ("bands", "hsets"):
        orphan_files = (
            _table(spark, index_dir, name)
            .filter(F.col("doc_id") > hw)
            .groupBy(F.input_file_name().alias("path"))
            .agg(F.count("*").alias("n"))
            .collect()
        )
        for r in orphan_files:
            # input_file_name() yields a percent-ENCODED URI string; fed
            # straight to Path(String) the encoding is kept literal, so a
            # path with encodable characters (a space in a workspace dir)
            # would miss the real file — and a missed delete that still
            # counted its rows would tell the caller the index is clean,
            # the crashed batch would be retried, and the double-append
            # would commit duplicates.  Route through
            # java.net.URI (decodes) and fail LOUDLY on a false delete.
            p = jvm.org.apache.hadoop.fs.Path(jvm.java.net.URI(r["path"]))
            if not fs.delete(p, False):
                raise RuntimeError(
                    f"vacuum_lsh_index failed to delete orphan file {p} — "
                    "index NOT clean; do not retry the crashed batch"
                )
            removed += r["n"]
    return removed
