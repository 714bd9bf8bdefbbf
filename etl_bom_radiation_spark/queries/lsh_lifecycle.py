"""Persisted-LSH-index lifecycle under the correctness gate.

``lsh_index.update_lsh_index`` is the fold that admits a probed batch's
keepers into the persisted index by append + local cap re-gate, no
rebuild.  These entries put the full build -> probe -> fold ->
probe-again workflow under the oracle correctness gate:

* ``d04`` (rows-only lifecycle, d01/d02/d03-style step rows) and
  ``t11`` (rows-only, REAL streaming foreachBatch composition) carry
  the side-effecting forms — temp workspaces, persisted parquet
  index, streaming state: nothing DuckDB can mirror;
* ``n50`` puts the fold's OUTPUT under the exact hash gate: the Spark
  side runs the production API end-to-end, the oracle re-derives the
  post-fold index generation declaratively (a from-scratch re-gate
  over initial + batch-1 keeps) — a hash match certifies
  fold == rebuild across engines, not just across two Spark runs.

Reference parity: no reference analog (the reference's pipeline has no
dedup); this is the arrival-time maintenance posture SURVEY §2.H's
near-dup family runs at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import load_tables, register
from .banded_lsh import DUCK_BANDS_CTE, DUCK_HSETS_CTE, duck_gated_cte
from .incremental_lsh import duck_verdict_ctes, duck_verdict_tail
from .llm_queries import _DUCK_TOKENS
from .minhash_eval import _DUCK_SH2, _duck_sig_cte


@register("d04_lsh_index_lifecycle", streaming=True)
def d04_lsh_index_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH index maintenance lifecycle on the real corpus: build the
    persisted index over the low-80% of doc_ids, probe the next decile
    as an arriving batch, FOLD its keepers in (``update_lsh_index``),
    then prove the three contracts that make the fold production-safe:

    * rebuild parity — the folded index's band and hset tables are
      row-identical to a from-scratch ``build_lsh_index`` over
      (initial + keepers): the append + occupancy-aware local cap gate
      loses nothing and invents nothing;
    * the next probe sees the fold — the top decile probed against the
      FOLDED index equals the same probe against the REBUILT index;
    * the append-only guard holds — re-folding the same batch (ids at
      or below the recorded high-water mark) is refused, because
      admitting it would require evicting persisted rows (a rewrite);
    * compaction is layout-only — after ``compact_lsh_index`` the live
      generations are within the size-tiered bound (at most
      ``N.bit_length()`` for N indexed docs), the committed rows are
      conserved and the top-decile probe is bit-identical, and
      ``vacuum_lsh_index`` on the healthy compacted index removes
      nothing (the maintenance pair never changes content).

    Every table read goes through the committed meta
    (``lsh_index._committed``), so the two indexes compare by rows, not
    by their generation labels.

    Rows-only by nature (persisted parquet index in a temp workspace),
    d02/d03-style: 16 deterministic (step, value) rows — every count a
    pure function of the fixture (the id cuts derive from max(doc_id))."""
    import shutil
    import tempfile

    from ..lsh_index import (
        _committed,
        _read_meta,
        build_lsh_index,
        compact_lsh_index,
        probe_lsh_index,
        update_lsh_index,
        vacuum_lsh_index,
    )

    base = tempfile.mkdtemp(prefix="d04_lshidx_")
    inc_dir, reb_dir = f"{base}/folded", f"{base}/rebuilt"
    try:
        docs = load_tables(spark, sf_dir, "documents")["documents"].select(
            "doc_id", "text"
        )
        # max() of an empty corpus is NULL: split at 0 so every batch is
        # empty and the lifecycle degrades to empty verdicts instead of a
        # driver-side TypeError (empty-corpus net r13; build/probe/fold
        # each handle zero-row inputs)
        mx = docs.agg(F.max("doc_id")).first()[0] or 0
        cut1, cut2 = (mx * 8) // 10, (mx * 9) // 10
        initial = docs.filter(F.col("doc_id") <= cut1)
        batch1 = docs.filter((F.col("doc_id") > cut1) & (F.col("doc_id") <= cut2))
        batch2 = docs.filter(F.col("doc_id") > cut2)

        build_lsh_index(spark, initial, inc_dir)
        v1 = probe_lsh_index(spark, inc_dir, batch1).localCheckpoint()
        keeps1 = batch1.join(
            v1.filter(F.col("decision") == "keep").select("doc_id"), "doc_id"
        )
        folded = update_lsh_index(spark, inc_dir, keeps1)

        build_lsh_index(spark, initial.unionByName(keeps1), reb_dir)

        def _table(index_dir: str, name: str) -> DataFrame:
            return _committed(
                spark, index_dir, name, _read_meta(spark, index_dir)["gens"]
            )

        def _tables_equal(name: str) -> int:
            a, b = _table(inc_dir, name), _table(reb_dir, name)
            return int(
                a.exceptAll(b).isEmpty()
                and b.exceptAll(a).isEmpty()
                and a.count() == b.count()
            )

        kp = ["doc_id", "n_index_cand", "n_shard_cand", "best_jaccard", "decision"]
        # localized: reused below as the pre-compaction reference, after
        # the files it would lazily re-read have been rewritten
        v2_folded = probe_lsh_index(spark, inc_dir, batch2).select(*kp).localCheckpoint()
        v2_rebuilt = probe_lsh_index(spark, reb_dir, batch2).select(*kp)
        probe2_equal = int(
            v2_folded.exceptAll(v2_rebuilt).isEmpty()
            and v2_rebuilt.exceptAll(v2_folded).isEmpty()
        )
        try:
            update_lsh_index(spark, inc_dir, batch1)
            refold_refused = 0
        except ValueError:
            refold_refused = 1

        def _rows(name: str) -> int:
            return _table(inc_dir, name).count()

        rows_pre = (_rows("bands"), _rows("hsets"))
        compact_lsh_index(spark, inc_dir)
        gens = [docs for _, docs in _read_meta(spark, inc_dir)["gens"]]
        v2_compacted = probe_lsh_index(spark, inc_dir, batch2).select(*kp)
        probe2_after_compact = int(
            v2_compacted.exceptAll(v2_folded).isEmpty()
            and v2_folded.exceptAll(v2_compacted).isEmpty()
        )

        d1 = {r["decision"]: r["n"] for r in
              v1.groupBy("decision").agg(F.count("*").alias("n")).collect()}
        rows = [
            ("01_indexed_docs", initial.count()),
            ("02_probe1_docs", batch1.count()),
            ("03_probe1_keep", d1.get("keep", 0)),
            ("04_probe1_drop_index", d1.get("drop_index_dup", 0)),
            ("05_probe1_drop_shard", d1.get("drop_shard_dup", 0)),
            ("06_folded_docs", folded),
            ("07_fold_only_keeps", int(folded == d1.get("keep", 0))),
            ("08_bands_parity_with_rebuild", _tables_equal("bands")),
            ("09_hsets_parity_with_rebuild", _tables_equal("hsets")),
            ("10_probe2_docs", batch2.count()),
            ("11_probe2_equal_on_folded_vs_rebuilt", probe2_equal),
            ("12_refold_refused_by_id_guard", refold_refused),
            ("13_compact_generations_within_log_bound",
             int(len(gens) <= max(1, sum(gens).bit_length()))),
            ("14_compact_rows_conserved",
             int((_rows("bands"), _rows("hsets")) == rows_pre)),
            ("15_probe2_equal_after_compaction", probe2_after_compact),
            ("16_vacuum_after_compaction_noop",
             int(vacuum_lsh_index(spark, inc_dir) == 0)),
        ]
        return spark.createDataFrame(rows, "step string, value long").orderBy("step")
    finally:
        shutil.rmtree(base, ignore_errors=True)


@register("t11_stream_lsh_admission", streaming=True)
def t11_stream_lsh_admission(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T11 (extension): REAL streaming near-dup admission — the streaming
    form of n49, composing ``probe_lsh_index`` + ``update_lsh_index``
    into a ``foreachBatch`` loop (t10 proved this for exact digests; this
    closes the near-dup half).  Each micro-batch is probed
    against the persisted index, its keepers are folded in before the
    next batch, so an admission in batch 1 suppresses its near-dups from
    batch 2 onward.

    Two file-source micro-batches prove every decision path:

    * b1: a novel doc (keep), a near-dup of the SEEDED corpus
      (drop_index_dup), an in-batch near-dup of the novel doc
      (drop_shard_dup — min-id survivor);
    * b2: a near-dup of b1's admitted doc — droppable ONLY because the
      fold ran between batches (drop_index_dup), plus a novel keep.

    The sink is exactly-once across restarts: each ``admit_batch`` call
    carries the micro-batch's epoch id, so a replayed batch (Spark
    redelivers the last uncommitted one after a restart) reproduces its
    verdicts and skips already-committed folds instead of tripping the
    append-only guard (the epoch protocol is pytest-locked at the
    ``admit_batch`` level in tests/test_scale.py).

    Returns the per-doc verdict log (collected per batch on the driver —
    foreachBatch runs there; the verdict relation is batch-sized by the
    probe's own broadcast bound, so localizing it is the d01 temp-sink
    convention, not a data-path collect).  Rows-only by nature (stateful
    streaming over a persisted index)."""
    import json
    import os
    import shutil
    import tempfile

    from ..lsh_index import admit_batch, build_lsh_index

    base = tempfile.mkdtemp(prefix="t11_lsh_")
    src, ckpt, idx = f"{base}/src", f"{base}/ckpt", f"{base}/idx"
    os.makedirs(src)

    seed = spark.createDataFrame(
        [
            (1, "seeded corpus doc about minhash banding and jaccard estimates"),
            (2, "unrelated seeded doc listing parquet row group statistics"),
        ],
        "doc_id bigint, text string",
    )
    build_lsh_index(spark, seed, idx)

    log: list[tuple[int, int, str]] = []

    def admit(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        # the ONE probe-and-fold implementation (lsh_index.admit_batch) —
        # the streaming loop must not re-state it (parity discipline).
        # epoch_id makes the sink exactly-once: a restart's replayed
        # micro-batch reproduces its verdicts and skips committed folds
        # instead of tripping the stale-id guard (admit_batch docstring)
        verdicts = admit_batch(
            spark, idx, batch_df.localCheckpoint(), epoch=epoch_id
        )
        log.extend(
            (int(epoch_id), int(r["doc_id"]), r["decision"])
            for r in verdicts.select("doc_id", "decision").collect()
        )

    def _drop(fname: str, docs: list[dict]) -> None:
        tmp = os.path.join(src, f".{fname}.tmp")
        with open(tmp, "w") as fh:
            for d in docs:
                fh.write(json.dumps(d) + "\n")
        os.rename(tmp, os.path.join(src, fname))

    q = (
        spark.readStream.schema("doc_id long, text string")
        .json(src)
        .writeStream.foreachBatch(admit)
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        _drop(
            "b1.json",
            [
                {"doc_id": 100, "text": "novel arrival text about spark "
                                        "shuffles and broadcast joins"},
                {"doc_id": 101, "text": "seeded corpus doc about minhash "
                                        "banding and jaccard estimation"},
                {"doc_id": 102, "text": "novel arrival text about spark "
                                        "shuffles and merge joins"},
            ],
        )
        q.processAllAvailable()
        _drop(
            "b2.json",
            [
                {"doc_id": 200, "text": "novel arrival text about spark "
                                        "shuffles and union joins"},
                {"doc_id": 201, "text": "fresh topic entirely about watermark "
                                        "eviction in state stores"},
            ],
        )
        q.processAllAvailable()
    finally:
        q.stop()
        shutil.rmtree(base, ignore_errors=True)
    return spark.createDataFrame(
        [(b, d, v) for b, d, v in sorted(log)],
        "batch bigint, doc_id bigint, decision string",
    )


#: the two id cuts (low-80% = initial index, next decile = fold batch,
#: top decile = second probe), derived from max(doc_id) on both engines
_C1 = "(SELECT (MAX(doc_id)*8)//10 FROM documents)"
_C2 = "(SELECT (MAX(doc_id)*9)//10 FROM documents)"


@register(
    "n50_fold_probe_roundtrip",
    # streaming=True here means "side-effecting over a temp workspace;
    # plan sweeps skip it" (the d02/d03 sense) — the driver still
    # hash-checks it because the oracle is present
    streaming=True,
    oracle=f"""
    WITH t AS (
        SELECT doc_id, {_DUCK_TOKENS} AS toks FROM documents
    ), shs AS (
        SELECT doc_id, {_DUCK_SH2} AS s FROM t
    ), sh AS (
        SELECT doc_id, unnest(s) AS sh FROM shs
    ), {_duck_sig_cte().lstrip()}, {DUCK_BANDS_CTE}, {DUCK_HSETS_CTE},
    {duck_gated_cte("idx1_gated", f"doc_id <= {_C1}")},
    {duck_gated_cte("b1_gated", f"doc_id > {_C1} AND doc_id <= {_C2}")},
    {duck_verdict_ctes("1", "idx1_gated", "b1_gated")},
    keeps1 AS (
        SELECT d.doc_id FROM documents d
        LEFT JOIN agg1 a ON a.doc = d.doc_id
        WHERE d.doc_id > {_C1} AND d.doc_id <= {_C2}
          AND COALESCE(a.idx_dup, 0) = 0 AND COALESCE(a.shard_dup, 0) = 0
    ),
    {duck_gated_cte(
        "idx2_gated",
        f"doc_id <= {_C1} OR doc_id IN (SELECT doc_id FROM keeps1)",
    )},
    {duck_gated_cte("b2_gated", f"doc_id > {_C2}")},
    {duck_verdict_ctes("2", "idx2_gated", "b2_gated")}
    {duck_verdict_tail("2", f"d.doc_id > {_C2}")}
    """,
)
def n50_fold_probe_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N50 (extension): the persisted-index FOLD under the exact hash
    gate — d04 proves the lifecycle's fences rows-only; this entry makes
    the driver hash-verify the production API's actual output against a
    declarative oracle.  The Spark side RUNS ``build_lsh_index`` (low-80%
    of doc_ids) -> ``probe_lsh_index`` (next decile) ->
    ``update_lsh_index`` (fold the keepers) -> ``probe_lsh_index`` (top
    decile) on a temp index and returns the second probe's verdicts; the
    oracle computes the same verdicts from pure SQL with the SECOND index
    generation expressed as a from-scratch re-gate over (initial docs +
    batch-1 keeps) — so a hash match certifies, end-to-end, that the
    incremental fold is indistinguishable from a rebuild (the module's
    central scale claim), on top of the n49 probe semantics both engines
    already share.  Result is localized (localCheckpoint) before the temp
    index is deleted."""
    import shutil
    import tempfile

    from ..lsh_index import build_lsh_index, probe_lsh_index, update_lsh_index

    d = tempfile.mkdtemp(prefix="n50_idx_")
    try:
        docs = load_tables(spark, sf_dir, "documents")["documents"].select(
            "doc_id", "text"
        )
        # max() of an empty corpus is NULL: split at 0 so every batch is
        # empty and the lifecycle degrades to empty verdicts instead of a
        # driver-side TypeError (empty-corpus net r13; build/probe/fold
        # each handle zero-row inputs)
        mx = docs.agg(F.max("doc_id")).first()[0] or 0
        cut1, cut2 = (mx * 8) // 10, (mx * 9) // 10
        build_lsh_index(spark, docs.filter(F.col("doc_id") <= cut1), d)
        b1 = docs.filter((F.col("doc_id") > cut1) & (F.col("doc_id") <= cut2))
        v1 = probe_lsh_index(spark, d, b1).localCheckpoint()
        update_lsh_index(
            spark,
            d,
            b1.join(v1.filter(F.col("decision") == "keep").select("doc_id"), "doc_id"),
        )
        b2 = docs.filter(F.col("doc_id") > cut2)
        return probe_lsh_index(spark, d, b2).localCheckpoint()
    finally:
        shutil.rmtree(d, ignore_errors=True)
