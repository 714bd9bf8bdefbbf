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

Layout and commit: every write to the index — the build, each fold,
each compaction — puts its rows in a fresh GENERATION directory,
``bands.parquet/gen=<label>/`` and ``hsets.parquet/gen=<label>/`` (one
label for both tables), and then commits by ADDING the next numbered
meta version ``_meta/<n>.json`` (written under a dot-temp name and
renamed onto the fresh name; no file is ever replaced).  The version
names every live generation with its doc count, beside the high-water
mark and the admission epoch.  A label is ``<n>-<uuid8>`` with ``n`` the
version that commits it, so a retry never writes into a directory a
crashed attempt left.  Readers open only the generations the highest
committed version names: rows a crashed call wrote are never read, and
a crashed fold is retried as it is (the commit-log idea of Delta Lake,
VLDB 2020, reduced to one small file per commit, two kept).  No
directory is deleted or renamed while the latest version names it.

Compaction (:func:`compact_lsh_index`) is size-tiered merging of
immutable runs (O'Neil et al., "The Log-Structured Merge-Tree", Acta
Informatica 1996): once the live generations outnumber
``N.bit_length()`` (N = the docs the meta names), the newest small
generations are rewritten into one id-sorted generation, and a version
naming it in their place commits — layout only, content and probe
results identical.  Equal-sized folds then rewrite each doc O(log N)
times and keep O(log N) generations live (:func:`_absorb_from`).
:func:`vacuum_lsh_index` deletes the generation directories the latest
version does not name.

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
crash/retry protocol re-reads the PERSISTED generations the committed
meta names, so a failed call is retried from storage, never from
cached blocks.

Reference parity: no reference analog (the reference's pipeline has no
dedup at all); this is the LLM-training-corpus maintenance workflow
SURVEY §2.H's near-dup family exists to serve.
"""

from __future__ import annotations

import json
from uuid import uuid4

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
    spark: SparkSession,
    index_dir: str,
    n: int,
    max_doc_id: int,
    gens: list,
    epoch=None,
) -> None:
    """Commit version ``n`` of the index meta — the COMMIT of every write
    to the index — as ``_meta/<n>.json``: written complete under a
    dot-temp name, then renamed onto that fresh name (a rename that
    returns false raises, and the previous version stays authoritative).
    A writer passes ``n`` = the version it read + 1, never a number
    listed again at commit time.  No file is ever replaced, so there is
    no moment without a committed meta and nothing for a reader to
    repair; a crash before the rename leaves only a temp that no reader
    lists.  Versions older than ``n - 1`` are then deleted, so at most
    two remain.

    The payload is the high-water mark, ``epoch`` (the admission
    transaction id :func:`admit_batch` uses for replay detection, in the
    SAME file as the mark, so a commit and its epoch are indivisible) and
    ``gens``: ``[label, docs]`` of every live generation, oldest first."""
    fs, meta_dir, jvm = _fs(spark, f"{index_dir}/{_META_DIR}")
    payload = json.dumps({"max_doc_id": max_doc_id, "epoch": epoch, "gens": gens})
    _commit_version(fs, jvm, meta_dir, n, payload, "LSH index meta")
    for v, old in _versions(fs, jvm, meta_dir).items():
        if v < n - 1:
            fs.delete(old, False)  # best-effort: superseded; the next commit retries


def _read_meta(spark: SparkSession, index_dir: str) -> dict:
    """The committed index meta, read from the highest version under
    ``_meta/``: ``version`` (its number), ``max_doc_id`` (the high-water
    mark), ``epoch`` (last admission-transaction id, None when the commit
    recorded none) and ``gens`` (the live generations).  If that version
    vanished before it was opened — only possible when two commits landed
    during this read, the second deleting it — the listing is taken
    again.  Raises ``FileNotFoundError`` when the index holds no
    committed version, and ``ValueError`` when that version predates the
    generation layout."""
    fs, meta_dir, jvm = _fs(spark, f"{index_dir}/{_META_DIR}")
    latest = _read_latest(fs, jvm, meta_dir)
    if latest is None:
        raise FileNotFoundError(
            f"no committed LSH index meta under {index_dir}/{_META_DIR}"
        )
    meta = json.loads(latest[1])
    if "gens" not in meta:
        raise ValueError(
            f"LSH index {index_dir} has a flat layout (its meta names no "
            "generations): rebuild it, or follow the UPGRADE note on the "
            "generation layout in CHANGES.md"
        )
    meta["version"] = latest[0]
    meta["max_doc_id"] = int(meta["max_doc_id"])
    return meta


def _new_label(n: int) -> str:
    """A fresh generation label for a write that commits version ``n``."""
    return f"{n:020d}-{uuid4().hex[:8]}"


def _gen_dir(index_dir: str, name: str, label: str) -> str:
    return f"{index_dir}/{name}.parquet/gen={label}"


def _committed(
    spark: SparkSession, index_dir: str, name: str, gens: list
) -> DataFrame:
    """The rows of index table ``name`` in the generations ``gens`` (the
    ``[label, docs]`` pairs of a committed meta, or a subset of them),
    read with the declared schema: opening them lists those directories
    only and reads no footer.  Generations no committed version names —
    a crashed write's — are never listed.  The leaf directories are
    named, not the table root, so no ``gen`` column appears."""
    return spark.read.schema(INDEX_SCHEMAS[name]).parquet(
        *(_gen_dir(index_dir, name, label) for label, _ in gens)
    )


def build_lsh_index(spark: SparkSession, docs: DataFrame, index_dir: str) -> None:
    """Sketch ``docs`` (doc_id, text, ...) and persist the two index
    tables an arrival probe reads — ``bands.parquet`` (capped bucket
    membership) and ``hsets.parquet`` (hashed shingle sets) — as one
    generation, then commit the meta version that names it with the
    high-water mark ``update_lsh_index`` checks its append-only id
    precondition against.  The written schemas are :data:`INDEX_SCHEMAS`.
    Built into an existing index dir, the new version names only the new
    generation; the next :func:`vacuum_lsh_index` deletes the old ones."""
    fs, meta_dir, jvm = _fs(spark, f"{index_dir}/{_META_DIR}")
    n = max(_versions(fs, jvm, meta_dir), default=-1) + 1
    label = _new_label(n)
    # pinned: the sets feed the sketch, their own write and the mark
    hsets = _hashed_sets(docs).localCheckpoint(eager=False)
    gate_buckets(_band_rows(hsets)).write.parquet(_gen_dir(index_dir, "bands", label))
    hsets.write.parquet(_gen_dir(index_dir, "hsets", label))
    # mark and doc count from the ALREADY-MATERIALIZED hset frame — one row
    # per input doc (hashed_sets neither filters nor explodes), so they
    # equal an agg over ``docs``, without a second scan of the corpus
    mx, docs_n = hsets.agg(F.max("doc_id"), F.count("*")).first()
    mark = -(2**62) if mx is None else int(mx)
    _write_meta(spark, index_dir, n, mark, [[label, docs_n]])


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
        gens = _read_meta(spark, index_dir)["gens"]
        self._bands = _committed(spark, index_dir, "bands", gens).persist()
        self._hsets = _committed(spark, index_dir, "hsets", gens).persist()
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
        gens = _read_meta(spark, index_dir)["gens"]
        bands = _committed(spark, index_dir, "bands", gens)
        hsets = _committed(spark, index_dir, "hsets", gens)
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

    Reads are the COMMITTED snapshot (the generations the latest meta
    version names): a crashed ``update_lsh_index``'s generation is never
    opened."""
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

    Crash protocol: the rows land FIRST, in a new generation, and the
    meta version that names it (with the new mark) commits LAST — that
    version IS the commit.  A crash anywhere in between leaves a
    generation no version names, which no read opens: retry the crashed
    batch as it is (its retry writes a generation of its own), and
    :func:`vacuum_lsh_index` deletes the leftover whenever convenient."""
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
    meta = _read_meta(spark, index_dir)
    high_water = meta["max_doc_id"]
    if min(ids) <= high_water:
        raise ValueError(
            f"update_lsh_index requires append-only doc_ids: batch min "
            f"{min(ids)} <= indexed max {high_water} (re-arrival or "
            f"out-of-order fold — rebuild or re-id the batch)"
        )
    # the gate over each touched bucket's committed members plus the
    # keepers: append-only ids rank every committed member first, so a
    # keeper's rank is the bucket's occupancy plus its rank among the
    # keepers — the rebuild's cap test, on touched buckets only.  The
    # semi-join's build side is the local keeper rows as they are (a
    # semi-join needs no unique keys); with no shuffle on either join
    # side, Catalyst injects no runtime bloom filter that would scan the
    # index bands to build it.
    committed_bands = (
        idx_view.current()[0]
        if idx_view is not None
        else _committed(spark, index_dir, "bands", meta["gens"])
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
    n = meta["version"] + 1
    label = _new_label(n)
    # one file per table per fold: the rows are batch-sized
    for rows, name in ((admitted, "bands"), (new_hsets, "hsets")):
        rows.coalesce(1).write.parquet(_gen_dir(index_dir, name, label))
    gens = meta["gens"] + [[label, len(ids)]]
    _write_meta(spark, index_dir, n, max(ids), gens, epoch)  # <- the commit
    if idx_view is not None:
        # registered only AFTER the commit: a crashed fold's rows must
        # stay invisible to later cycles, as its unnamed generation is
        # to every read
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

    * stored epoch != this epoch -> the normal path.  A fold that
      crashed MID-WRITE (a generation written, no version naming it)
      left nothing any read opens, so its redelivery needs no repair
      first.  Single-writer assumption as everywhere in this module:
      another process folding into the same dir concurrently is out of
      contract;
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
        _replay = _read_meta(spark, index_dir)["epoch"] == epoch
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


def _absorb_from(docs: list[int]) -> int | None:
    """Where a compaction starts, given the doc counts of the live
    generations, oldest first: it absorbs ``docs[start:]`` into one
    generation, or nothing when None.

    It compacts only when the generations outnumber ``N.bit_length()``
    (N = ``sum(docs)``), and then starts at the oldest generation holding
    no more docs than all newer ones together (the newest alone is never
    a merge).  If every generation held more than all newer ones
    together, sizes would at least double going back, so there could be
    at most ``N.bit_length()`` of them: the trigger and the rule agree,
    and equal-sized folds keep O(log N) generations and rewrite each doc
    O(log N) times (size-tiered merging, O'Neil et al. 1996)."""
    if len(docs) <= sum(docs).bit_length():
        return None
    newer, start = docs[-1], None
    for i in range(len(docs) - 2, -1, -1):
        if docs[i] <= newer:
            start = i
        newer += docs[i]
    return start


def compact_lsh_index(spark: SparkSession, index_dir: str) -> int:
    """Merge the index's newest small generations into one — the
    ``compact_partitions`` discipline applied to the LSH index, so a
    probe's listing and footer reads stay O(log N) generations however
    many folds arrived.  Returns the number of generations absorbed (0:
    the layout already met the bound, nothing written).

    :func:`vacuum_lsh_index` runs first.  :func:`_absorb_from` picks the
    generations from the doc counts the latest meta version records;
    their rows are rewritten sorted on doc_id (AQE sizes the files) into
    a new generation, and the next version commits naming it in their
    place, with the mark and the epoch carried over.  Content never
    changes (probe results bit-identical, pytest-locked) and no live
    directory is renamed or deleted: a crash before the commit leaves an
    unnamed generation, one after it leaves unnamed absorbed ones —
    vacuum's to delete either way.  After the commit the absorbed
    directories are deleted at once (best-effort), so a reader that
    listed them before can fail loudly on a missing file; it never
    returns different verdicts.  Single writer: do not run it beside a
    fold into the same index."""
    vacuum_lsh_index(spark, index_dir)
    meta = _read_meta(spark, index_dir)
    gens = meta["gens"]
    start = _absorb_from([docs for _, docs in gens])
    if start is None:
        return 0
    absorbed = gens[start:]
    n = meta["version"] + 1
    label = _new_label(n)
    for name in INDEX_SCHEMAS:
        _committed(spark, index_dir, name, absorbed).orderBy("doc_id").write.parquet(
            _gen_dir(index_dir, name, label)
        )
    merged = [label, sum(docs for _, docs in absorbed)]
    _write_meta(
        spark, index_dir, n, meta["max_doc_id"], gens[:start] + [merged], meta["epoch"]
    )
    fs, _, jvm = _fs(spark, index_dir)
    for name in INDEX_SCHEMAS:
        for g, _ in absorbed:
            # best-effort: no version names it now; the next vacuum retries
            fs.delete(jvm.org.apache.hadoop.fs.Path(_gen_dir(index_dir, name, g)), True)
    return len(absorbed)


def vacuum_lsh_index(spark: SparkSession, index_dir: str) -> int:
    """Delete every generation directory, in either table, that the latest
    meta version does not name: what a write left when it crashed before
    its commit, or a compaction after its commit but before its deletes.
    Returns the number of generations removed (0 = nothing to remove).
    A delete that returns false while the directory still exists raises.

    No read opens an unnamed generation, so vacuum never changes what a
    probe sees, and a crashed fold needs no vacuum before its retry.
    Single writer: a fold in flight has written a generation no version
    names yet, so do not vacuum beside one."""
    named = {g for g, _ in _read_meta(spark, index_dir)["gens"]}
    fs, root, jvm = _fs(spark, index_dir)
    removed = set()
    for name in INDEX_SCHEMAS:
        pattern = jvm.org.apache.hadoop.fs.Path(root, f"{name}.parquet/gen=*")
        for st in fs.globStatus(pattern) or []:
            g = st.getPath().getName()[len("gen="):]
            if g in named:
                continue
            if not fs.delete(st.getPath(), True) and fs.exists(st.getPath()):
                raise OSError(f"vacuum_lsh_index: could not delete {st.getPath()}")
            removed.add(g)
    return len(removed)
