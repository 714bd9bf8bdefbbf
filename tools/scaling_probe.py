#!/usr/bin/env python
"""Empirical scaling-curve probe: do the heavy declared operators scale
near-linearly with corpus size, as their plan-shape arguments claim?

Plans argue "no all-pairs, bounded fan-out, uniform shuffle keys"; this
probe MEASURES it.  It synthesizes documents/events corpora at 1x and Mx
the sf0.1 shape (word salad with realistic token diversity, duplicated
texts and small shared-opening groups so the dedup operators have real
work; Zipf-ish user activity for events), times a
fixed list of the most expensive operators at both sizes (warmup + best
of 2, noop sink), and reports t(Mx)/t(1x) per operator.

Reading the ratios: an operator whose plan is linear should land near M
(shuffle volume dominates; task-count overhead pulls it below M at local
scale); a superlinear ratio (>> M) is a quadratic term a plan argument
missed — exactly the regression class that only shows at 100 TB.

Usage:  python tools/scaling_probe.py [M] [op-substring ...] [flags]
(default M=10, all OPS; extra args filter OPS/REL_OPS by substring, the
check_queries convention — e.g. ``scaling_probe.py 100 n39 n42`` probes
just those two at 100x).  Flags: ``--relational`` probes REL_OPS over
replicated TPC-H facts; ``--hot`` switches the corpus generator to the
adversarial saturated-bucket regime (see gen_corpus); ``--streaming``
probes state-store growth of the stateful streaming pipelines instead
of batch runtimes (M multiplies the micro-batch count); ``--plateau``
ladders a pipeline's micro-batch count geometrically until its state
rows go flat across a doubling (default: t09); ``--fold`` /
``--probe`` measure the persisted LSH index's maintenance pair (fold a
fixed batch into, resp. probe a fixed batch against, a 1x vs Mx index);
``--split`` prices the admit_batch ``_IndexView`` (shipped vs a no-cache
pre-r13 emulation) at 1x vs Mx index scale.
Prints one JSON line: {"m": M, "ops": {name: {"t1": s, "tm": s,
"ratio": r}}}.  Corpora go under /tmp and are removed on exit.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import _io_canary, _spin_canary  # noqa: E402  (canaries,
#  DRIFT_r10/r11: ratios are only comparable between runs whose canaries
#  agree ~10% — the n49 "3.33" outlier was a contended box, not a
#  regression; the disk pair covers the CPU-invisible contention the
#  spin pair misses)

#: set by _canary_start() on first use — lazy so pytest's import of the
#: corpus/time helpers does not pay the spin at collection time
_CANARY_AT_START: float | None = None
_IO_CANARY_AT_START: float | None = None


def _canary_start() -> float:
    """The 'before' half of the spin-canary pair, measured at most once
    per process.  Each ``*_main`` calls this BEFORE building its Spark
    session (ADVICE r10: when stream/fold/probe_main were invoked
    programmatically, only ``main()`` set the start value, so the JSON
    line read ``"spin": [null, a]`` — losing the before/after agreement
    check the pair exists for)."""
    global _CANARY_AT_START, _IO_CANARY_AT_START
    if _CANARY_AT_START is None:
        _CANARY_AT_START = _spin_canary()
        _IO_CANARY_AT_START = _io_canary()
    return _CANARY_AT_START


#: operators probed — the shuffle-heaviest of the text/dedup/events
#: families (grid ops scale with file count, probed by bench's
#: 1000-file decode instead)
OPS = [
    "n01_exact_dedup",
    "n32_truncation_dedup",
    "n39_substring_dup_spans",
    "n42_minhash_banded_lsh",
    "n44_corpus_keep_list",
    "n22_tfidf_topterms",
    "x04_sessionization",
    "x08_rolling_dau",
    # signature-bucket family (the second quadratic the probe caught:
    # uncapped simhash collision joins; SIMHASH_BUCKET_CAP fix)
    "n11b_simhash_neardup",
    "n20_dedup_clusters",
    # Arrow mapInPandas kernel family (Python-worker batch path — scales
    # with partition count, no shuffle at all)
    "mm01_multimodal_features",
    # broadcast-model family (corpus never shuffles for the model join)
    "n30_unigram_lm_score",
    # provenance/graph family: fingerprint-collapse self-join (bounded
    # per-key fan-out), the fixed-iteration PageRank on its output, and
    # the composed authority-weighted sampler
    "n35_source_dup_matrix",
    "n47_source_pagerank",
    "n48_authority_weighted_sampling",
    # frequency sketch: state bounded by construction; the probe verifies
    # the PASS is linear (shard Exchange + sort + Arrow kernel)
    "x10b_heavy_hitters_mg",
    # incremental near-dup (r8): same capped bucket joins as n42 but in
    # the probe-the-index shape — candidate volume must stay bounded by
    # buckets x cap under saturation, and the probe side is shard-sized
    "n49_incremental_lsh_dedup",
]

#: relational-core ops probed in ``--relational`` mode over a key-shifted
#: Mx replication of the sf0.1 TPC-H facts (dims stay 1x — they broadcast)
REL_OPS = [
    "q05_inner_join",
    "q14_groupby_agg",
    "q16_count_distinct",
    "q23_ranking",
    # the scale-safe sibling (VERDICT r11 #3): same per-class rank from a
    # range exchange + broadcast offsets — its ratio should beat q23's
    # (q23's 5-task window sort is the family's worst recorded curve)
    "q23b_ranking_at_scale",
    "q27_global_sort",
    "q13b_profit_star",
    "x02_gapfill",
]

BASE_DOCS = 5_000
BASE_EVENTS = 100_000

SF01 = "/root/testdata/sf0.1"

#: streaming mode (``--streaming``): micro-batches per pipeline at 1x;
#: the Mx run drains M*BASE_BATCHES batches over an M*-long event-time
#: span at the same per-batch density, so BOUNDED state means the final
#: state-store row count stays ~flat (the watermark horizon covers the
#: same wall of recent batches either way) while input grew Mx.
BASE_BATCHES = 8
BATCH_ROWS = 200
BATCH_STEP_S = 60  # event-time advance per micro-batch
STREAM_USERS = 50


def gen_relational(spark, out_dir: str, mult: int) -> None:
    """The sf0.1 TPC-H tables with the two FACTS (lineitem, orders)
    replicated ``mult`` times under shifted order keys (so the fact-fact
    join fans out realistically instead of multiplying matches per key);
    dimensions copied 1x — at scale they broadcast, so growing them would
    only distort the ratio."""
    from pyspark.sql import functions as F

    for t in ("region", "nation", "customer", "supplier", "part"):
        spark.read.parquet(f"{SF01}/{t}.parquet").write.mode("overwrite").parquet(
            f"{out_dir}/{t}.parquet"
        )
    li = spark.read.parquet(f"{SF01}/lineitem.parquet")
    od = spark.read.parquet(f"{SF01}/orders.parquet")
    step = od.agg(F.max("o_orderkey")).collect()[0][0] + 1
    li_m = li
    od_m = od
    for i in range(1, mult):
        li_m = li_m.unionByName(
            li.withColumn("l_orderkey", F.col("l_orderkey") + F.lit(i * step))
        )
        od_m = od_m.unionByName(
            od.withColumn("o_orderkey", F.col("o_orderkey") + F.lit(i * step))
        )
    li_m.write.mode("overwrite").parquet(f"{out_dir}/lineitem.parquet")
    od_m.write.mode("overwrite").parquet(f"{out_dir}/orders.parquet")


def gen_corpus(
    spark, out_dir: str, mult: int, hot: bool = False, classes: int = 5003
) -> None:
    """documents + events at ``mult`` x the sf0.1 row counts, same shape:
    ~20 sources, 8-90 token docs over a ~5000-word synthetic vocabulary,
    ~10% exact-duplicate texts and ~10% shared openings in ~5-doc groups
    (so every dedup stage has work); events over mult*1500 users across
    30 days.

    ``hot=False`` (default): token at position i is an xxhash64 mix of
    (seed, i) — distinct seeds give independent token sequences, so
    digest/bucket fan-out comes only from the INTENTIONAL duplicate
    structure and stays bounded as the corpus grows (the realistic
    regime; linearity curves are clean).

    ``hot=True``: the round-6 polynomial token hash.  Every polynomial
    in (seed, i) mod m is linear in i for a fixed seed — an arithmetic
    progression mod 5003 — so the whole token SEQUENCE is a function of
    seed mod 5003 and the corpus collapses into <= 5003 near-dup
    classes whose size grows linearly with the corpus (measured: n39
    max docs-per-digest 65 -> 110 from 60x -> 100x; distinct window
    digests saturate at ~585k).  That is the adversarial hot-key regime
    — the shape that exposed the n42/n11b bucket-join quadratics in
    round 6 — kept as an explicit stress mode, not the default.

    ``classes``: the token-hash modulus (default 5003).  In the hot
    regime it IS the near-dup class count, so shrinking it makes the
    corpus saturated at small M: with ``classes=101`` a 1x corpus
    already has ~50 docs per class and a 10x one ~500 — an uncapped
    bucket join generates ~100x the candidate pairs at 10x (quadratic
    term dominant at pytest scale), while a capped one stays flat at
    <= BUCKET_CAP^2 per bucket.  ``tests/test_scaling_fence.py`` uses
    this for a liveness-provable fence: at the default 5003 the M=10
    quadratic hides under fixed costs (measured: uncapped n42 ratio
    1.66 vs capped 1.40 — indistinguishable)."""
    from pyspark.sql import functions as F

    n_docs = BASE_DOCS * mult
    base = spark.range(n_docs).select(
        F.col("id").alias("doc_id"),
        # ~10% duplicate pairs: doc 10k..11k copies doc 0..1k's seed
        F.when(F.col("id") % 10 == 7, F.col("id") - 7)
        .otherwise(F.col("id"))
        .alias("seed"),
    )
    # tokens are 'w<h>' over a ~5000-word synthetic vocabulary
    if hot:
        tok_hash = lambda key, i: F.pmod(
            key * 131 + key * i * 31 + i * 71 + 17, F.lit(classes)
        )
    else:
        tok_hash = lambda key, i: F.pmod(
            F.xxhash64(F.concat_ws("_", key.cast("string"), i.cast("string"))),
            F.lit(classes),
        )
    toklist = F.transform(
        F.sequence(
            F.lit(0),
            # length 8..88 tokens, deterministic per seed
            (F.pmod(F.col("seed") * 31 + 11, F.lit(81)) + 8).cast("int"),
        ),
        # ~10% shared openings, in SMALL groups: seeds ending in 3 share
        # their first 8 tokens with the other such seeds of their 50-seed
        # block (~5 docs per opening — realistic syndication, many small
        # buckets; the corpus-wide hot bucket lives, deliberately, in
        # scale.gen_skewed_documents).
        lambda i: F.concat(
            F.lit("w"),
            F.when(
                (F.col("seed") % 10 == 3) & (i < 8),
                tok_hash((F.col("seed") / 50).cast("long"), i),
            )
            .otherwise(tok_hash(F.col("seed"), i))
            .cast("string"),
        ),
    )
    docs = base.select(
        "doc_id",
        F.concat_ws(" ", toklist).alias("text"),
        F.element_at(
            F.array(F.lit("en"), F.lit("fr"), F.lit("de")),
            (F.pmod(F.col("seed"), F.lit(3)) + 1).cast("int"),
        ).alias("lang"),
        F.concat(F.lit("src"), F.pmod(F.col("seed"), F.lit(20)).cast("string")).alias(
            "source"
        ),
    ).withColumn("n_chars", F.length("text"))
    docs.write.mode("overwrite").parquet(f"{out_dir}/documents.parquet")

    n_events = BASE_EVENTS * mult
    ev = spark.range(n_events).select(
        F.col("id").alias("event_id"),
        F.timestamp_micros(
            F.lit(1704067200_000_000)  # 2024-01-01
            + F.pmod(F.col("id") * 7919, F.lit(30 * 86400)) * 1_000_000
        ).alias("ts"),
        # Zipf-ish over mult*1500 users: square a uniform draw u in
        # [0, U) -> P(user < x) = sqrt(x/U), so low ids concentrate
        # activity while the id range really is ~U.  (The previous
        # expression divided the uniform before a dead outer pmod —
        # 1500 users at every M and no squaring; code-review r7.)
        (
            F.pmod(F.col("id") * 104729, F.lit(1500 * mult))
            * F.pmod(F.col("id") * 104729, F.lit(1500 * mult))
            / F.lit(1500 * mult)
        ).cast("long").alias("user_id"),
        F.lit("e").alias("event_type"),
        (F.pmod(F.col("id"), F.lit(100)) / 10.0).alias("value"),
        F.lit("{}").alias("props"),
    )
    ev.write.mode("overwrite").parquet(f"{out_dir}/events.parquet")


def gen_stream_batches(src_dir: str, n_batches: int) -> None:
    """JSON-lines micro-batch files: BATCH_ROWS events per file, event
    time advancing BATCH_STEP_S per file, globally-unique event_ids, a
    fixed STREAM_USERS key set, and ~5% in-horizon duplicate texts so the
    dedup pipelines hold real state."""
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1)
    for b in range(n_batches):
        lines = []
        for i in range(BATCH_ROWS):
            eid = b * BATCH_ROWS + i
            ts = t0 + dt.timedelta(seconds=b * BATCH_STEP_S, milliseconds=i)
            # ~5% near-in-time duplicate payloads (re-crawl storm shape)
            text_id = eid - 3 if (eid % 20 == 7 and i >= 3) else eid
            lines.append(
                json.dumps(
                    {
                        "event_id": eid,
                        "doc_id": eid,
                        "ts": ts.strftime("%Y-%m-%dT%H:%M:%S.%f"),
                        "user_id": eid % STREAM_USERS,
                        # alternate view/click so the stream-stream join
                        # pipeline holds real two-sided state
                        "event_type": "view" if eid % 2 == 0 else "click",
                        "value": (eid % 100) / 10.0,
                        "text": f"payload number {text_id}",
                    }
                )
            )
        tmp = os.path.join(src_dir, f".b{b:05d}.json.tmp")
        with open(tmp, "w") as fh:
            fh.write("\n".join(lines))
        os.rename(tmp, os.path.join(src_dir, f"b{b:05d}.json"))


def _stream_pipelines(spark, src: str):
    """name -> streaming DataFrame over the JSON source at *src*.  Probe
    watermarks are 5 minutes (= 5 micro-batches of horizon) so the 1x run
    already outlives the horizon and the Mx run must EVICT to stay flat;
    t07's applyInPandasWithState has NoTimeout state, bounded by the key
    cardinality instead (fixed STREAM_USERS here) — the probe shows which
    bound each pipeline rides."""
    from pyspark.sql import functions as F

    from etl_bom_radiation_spark.queries.stream_joins import (
        view_click_pairs,
        watermarked_admission,
    )
    from etl_bom_radiation_spark.streaming import (
        dedup_stream,
        read_event_stream,
        running_totals_stateful,
        windowed_counts,
    )

    def events():
        return read_event_stream(spark, src, max_files_per_trigger=1)

    def docs():
        return (
            spark.readStream.format("json")
            .schema("doc_id LONG, ts TIMESTAMP, text STRING")
            .option("maxFilesPerTrigger", 1)
            .load(src)
        )

    existing = spark.createDataFrame(
        [("seed corpus doc",)], "text string"
    ).select(F.md5("text").alias("h"), F.lit(1).alias("in_corpus"))
    return {  # name -> (make_df, sink output mode)
        "t02_windowed_counts": (
            lambda: windowed_counts(events(), window="2 minutes", watermark="5 minutes"),
            "update",
        ),
        "t06_dedup_stream": (
            lambda: dedup_stream(events(), watermark="5 minutes"),
            "update",
        ),
        "t10_watermarked_admission": (
            lambda: watermarked_admission(docs(), existing, delay="5 minutes"),
            "update",
        ),
        "t07_running_totals": (lambda: running_totals_stateful(events()), "update"),
        # stream-stream join (append: the only mode joins support): state
        # holds both input sides within watermark + the 10-min attribution
        # range — bounded by the event-time horizon (~15 min of rows
        # here), not by input size
        "t09_stream_stream_join": (
            lambda: view_click_pairs(events().withWatermark("ts", "5 minutes")),
            "append",
        ),
    }


def drain_stream(spark, make_df, src: str, n_batches: int, ckpt: str,
                 mode: str = "update") -> dict:
    """Write the batch files, drain them one micro-batch each, and report
    the state-store footprint from the progress events: final and peak
    ``numRowsTotal``, batches drained, input rows."""
    import uuid

    os.makedirs(src, exist_ok=True)
    gen_stream_batches(src, n_batches)
    name = f"probe_{uuid.uuid4().hex[:8]}"
    q = (
        make_df()
        .writeStream.format("noop")
        .queryName(name)
        .outputMode(mode)
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
        progress = [p for p in q.recentProgress if p.get("stateOperators")]
        rows = [p["stateOperators"][0]["numRowsTotal"] for p in progress]
        n_input = sum(p["numInputRows"] for p in q.recentProgress)
    finally:
        q.stop()
    return {
        "batches": n_batches,
        "input_rows": n_input,
        "state_final": rows[-1] if rows else 0,
        "state_peak": max(rows) if rows else 0,
    }


def stream_main(mult: int, filters: list[str]) -> int:
    _canary_start()
    from etl_bom_radiation_spark.session import get_spark

    spark = get_spark(app_name="scaling_probe_stream")
    spark.sparkContext.setLogLevel("ERROR")
    # recentProgress keeps only the last numRecentProgressUpdates
    # (default 100) progress events — an Mx run drains BASE_BATCHES*M
    # micro-batches, so at M >= 13 the default silently truncates
    # input_rows / state_peak (code-review r7); size it to the run
    spark.conf.set(
        "spark.sql.streaming.numRecentProgressUpdates",
        str(BASE_BATCHES * mult + 100),
    )
    out = {}
    root = tempfile.mkdtemp(prefix="probe_stream_")
    pipelines = _stream_pipelines  # built per-source below
    try:
        names = list(pipelines(spark, root))  # names only; throwaway src
        if filters:
            names = [n for n in names if any(f in n for f in filters)]
        for name in names:
            res = {}
            for label, nb in (("1x", BASE_BATCHES), ("mx", BASE_BATCHES * mult)):
                src = os.path.join(root, f"{name}_{label}_src")
                ckpt = os.path.join(root, f"{name}_{label}_ckpt")
                df_fn, mode = pipelines(spark, src)[name]
                res[label] = drain_stream(spark, df_fn, src, nb, ckpt, mode)
            f1, fm = res["1x"]["state_final"], res["mx"]["state_final"]
            res["state_ratio"] = round(fm / f1, 2) if f1 else None
            out[name] = res
            print(
                f"{name}: state 1x={f1} {mult}x={fm} ratio={res['state_ratio']}"
                f" (input {res['1x']['input_rows']} -> {res['mx']['input_rows']})",
                file=sys.stderr,
            )
    finally:
        shutil.rmtree(root, ignore_errors=True)
    print(json.dumps({"m": mult, "mode": "streaming", "ops": out, "spin": [_CANARY_AT_START, _spin_canary()], "io_spin": [_IO_CANARY_AT_START, _io_canary()]}))
    return 0


def flat_step(prev: int | None, cur: int) -> bool:
    """True when a ladder doubling left the state flat: exactly equal —
    INCLUDING 0 -> 0, the flattest curve possible; requiring prev > 0
    made an all-zero pipeline run the full ladder and report
    plateau=false (ADVICE r12) — or within 10% relative."""
    return prev is not None and (
        cur == prev or (prev > 0 and abs(cur - prev) / prev < 0.10)
    )


def tail_ratio(curve: dict[int, int]) -> float | None:
    """state(last rung) / state(previous rung) — the plateau statistic.
    0 -> 0 is ratio 1.0 (flat at zero); 0 -> nonzero has no meaningful
    ratio and stays None (plateau reads false); a single rung is None."""
    rungs = sorted(curve)
    if len(rungs) < 2:
        return None
    a, b = curve[rungs[-2]], curve[rungs[-1]]
    return round(b / a, 3) if a else (1.0 if b == 0 else None)


def plateau_main(filters: list[str]) -> int:
    """State-plateau probe (``--plateau``, VERDICT r11 #4): drain each
    stateful pipeline at a GEOMETRIC ladder of batch counts (8, 16, 32,
    64, 128) and report ``state_final`` at every rung — the bounded-state
    claim is proven when the curve goes FLAT across a doubling, not
    extrapolated from a single 1x/Mx pair.  Default pipeline set is just
    t09 (the stream-stream join whose plateau the 10x probe had not yet
    reached: its state holds BOTH sides within watermark + the 10-minute
    attribution range, ~16 batches of fill at 60 s event-time per batch,
    so the old 8-batch baseline was still filling while an 80-batch run
    had long plateaued — ratio 1.54 measured mid-fill); pass name
    filters to ladder any other ``_stream_pipelines`` entry.  Stops
    early once a doubling changes state_final by <10%.  Prints
    {"mode": "plateau", "ops": {name: {"curve": {batches: state_final},
    "plateau": bool, "final_ratio": r}}}."""
    _canary_start()
    from etl_bom_radiation_spark.session import get_spark

    spark = get_spark(app_name="scaling_probe_plateau")
    spark.sparkContext.setLogLevel("ERROR")
    ladder = [BASE_BATCHES * (2 ** k) for k in range(5)]  # 8..128
    spark.conf.set(
        "spark.sql.streaming.numRecentProgressUpdates", str(ladder[-1] + 100)
    )
    out = {}
    root = tempfile.mkdtemp(prefix="probe_plateau_")
    try:
        names = [n for n in _stream_pipelines(spark, root)]
        names = [
            n for n in names if any(f in n for f in (filters or ["t09"]))
        ]
        for name in names:
            curve: dict[int, int] = {}
            prev = None
            for nb in ladder:
                src = os.path.join(root, f"{name}_{nb}_src")
                ckpt = os.path.join(root, f"{name}_{nb}_ckpt")
                df_fn, mode = _stream_pipelines(spark, src)[name]
                res = drain_stream(spark, df_fn, src, nb, ckpt, mode)
                curve[nb] = res["state_final"]
                print(
                    f"{name}: batches={nb} state_final={res['state_final']}"
                    f" (input {res['input_rows']})",
                    file=sys.stderr,
                )
                if flat_step(prev, curve[nb]):
                    break  # flat across a doubling: plateau shown
                prev = curve[nb]
            final_ratio = tail_ratio(curve)
            out[name] = {
                "curve": {str(k): curve[k] for k in sorted(curve)},
                "plateau": final_ratio is not None and abs(final_ratio - 1) < 0.10,
                "final_ratio": final_ratio,
            }
    finally:
        shutil.rmtree(root, ignore_errors=True)
    print(json.dumps({"mode": "plateau", "ops": out, "spin": [_CANARY_AT_START, _spin_canary()], "io_spin": [_IO_CANARY_AT_START, _io_canary()]}))
    return 0


def time_op(spark, fn, sf_dir: str) -> float:
    fn(spark, sf_dir).write.format("noop").mode("overwrite").save()  # warm
    best = float("inf")
    for _ in range(2):
        t0 = time.time()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        best = min(best, time.time() - t0)
    return round(best, 3)


def fold_main(mult: int) -> int:
    """Index-maintenance scaling (``--fold``): does ``update_lsh_index``
    stay batch-bounded as the INDEX grows?  Build the persisted LSH
    index over a 1x and an Mx corpus, then time folding the SAME
    fixed-size batch (BASE_DOCS//10 novel docs, ids above both corpora)
    into each.  The fold's only index-proportional term is the map-side
    occupancy scan of the bands table (8 small rows/doc, no shuffle of
    the index, no hset read at all) — so the ratio should sit far below
    M; a ratio near M would mean the fold re-processes the index, i.e.
    the rebuild the API exists to avoid.  Each timed run folds into a
    FRESH copy of the index (the fold mutates it); the copy is outside
    the timer.  Prints {"m": M, "fold": {"t1", "tm", "ratio"}}."""
    _canary_start()
    from pyspark.sql import functions as F

    from etl_bom_radiation_spark.lsh_index import build_lsh_index, update_lsh_index
    from etl_bom_radiation_spark.session import get_spark

    spark = get_spark(app_name="scaling_probe_fold")
    spark.sparkContext.setLogLevel("ERROR")
    base = tempfile.mkdtemp(prefix="probe_fold_")
    out = {}
    try:
        c1, cm = f"{base}/c1", f"{base}/cm"
        gen_corpus(spark, c1, 1)
        gen_corpus(spark, cm, mult)
        docs1 = spark.read.parquet(f"{c1}/documents.parquet").select("doc_id", "text")
        docsm = spark.read.parquet(f"{cm}/documents.parquet").select("doc_id", "text")
        build_lsh_index(spark, docs1, f"{base}/idx1")
        build_lsh_index(spark, docsm, f"{base}/idxm")
        # fixed arriving batch, identical for both index sizes: novel ids
        # above both corpora, text drawn from the 1x generator's shape
        batch = (
            docs1.filter(F.col("doc_id") % 10 == 3)
            .limit(BASE_DOCS // 10)
            .withColumn("doc_id", F.col("doc_id") + F.lit(10_000_000))
            .localCheckpoint()
        )
        batch.count()  # materialize outside every timer

        def timed_fold(idx: str) -> float:
            best = float("inf")
            for i in range(3):  # first run is the warmup
                scratch = f"{base}/scratch_{os.path.basename(idx)}_{i}"
                shutil.copytree(idx, scratch)
                t0 = time.time()
                update_lsh_index(spark, scratch, batch)
                dt = time.time() - t0
                shutil.rmtree(scratch, ignore_errors=True)
                if i > 0:
                    best = min(best, dt)
            return round(best, 3)

        t1 = timed_fold(f"{base}/idx1")
        tm = timed_fold(f"{base}/idxm")
        out = {"t1": t1, "tm": tm, "ratio": round(tm / t1, 2) if t1 else None}
        print(f"fold into 1x index={t1}s {mult}x index={tm}s "
              f"ratio={out['ratio']}", file=sys.stderr)
    finally:
        shutil.rmtree(base, ignore_errors=True)
    print(json.dumps({"m": mult, "fold": out, "spin": [_CANARY_AT_START, _spin_canary()], "io_spin": [_IO_CANARY_AT_START, _io_canary()]}))
    return 0


def probe_main(mult: int) -> int:
    """Arrival-probe scaling (``--probe``, VERDICT r9 #4): how does
    ``probe_lsh_index`` of a FIXED batch grow with INDEX size?  Build
    the persisted index over a 1x and an Mx corpus, then time probing
    the same fixed-size batch (BASE_DOCS//10 novel docs) against each.
    Unlike the fold (whose only index term is the touched-bucket
    occupancy scan, measured ~1 at M=10), the probe's floor is a full
    map-side scan of BOTH index tables per arrival — the hset table
    dominating — so the expected curve is ~linear in index BYTES once
    the scan outweighs fixed costs; the measured M=10 ratio is the
    number that decides when the documented candidate-id pushdown lever
    (lsh_index.py module docstring) stops being speculative.  Probing
    is read-only: no index copies needed between runs.  Prints
    {"m": M, "probe": {"t1", "tm", "ratio"}}."""
    _canary_start()
    from pyspark.sql import functions as F

    from etl_bom_radiation_spark.lsh_index import build_lsh_index, probe_lsh_index
    from etl_bom_radiation_spark.session import get_spark

    spark = get_spark(app_name="scaling_probe_probe")
    spark.sparkContext.setLogLevel("ERROR")
    base = tempfile.mkdtemp(prefix="probe_probe_")
    out = {}
    try:
        c1, cm = f"{base}/c1", f"{base}/cm"
        gen_corpus(spark, c1, 1)
        gen_corpus(spark, cm, mult)
        docs1 = spark.read.parquet(f"{c1}/documents.parquet").select("doc_id", "text")
        docsm = spark.read.parquet(f"{cm}/documents.parquet").select("doc_id", "text")
        build_lsh_index(spark, docs1, f"{base}/idx1")
        build_lsh_index(spark, docsm, f"{base}/idxm")
        batch = (
            docs1.filter(F.col("doc_id") % 10 == 3)
            .limit(BASE_DOCS // 10)
            .withColumn("doc_id", F.col("doc_id") + F.lit(10_000_000))
            .localCheckpoint()
        )
        batch.count()  # materialize outside every timer

        def timed_probe(idx: str) -> float:
            best = float("inf")
            for i in range(3):  # first run is the warmup
                t0 = time.time()
                probe_lsh_index(spark, idx, batch).write.format("noop").mode(
                    "overwrite"
                ).save()
                dt = time.time() - t0
                if i > 0:
                    best = min(best, dt)
            return round(best, 3)

        t1 = timed_probe(f"{base}/idx1")
        tm = timed_probe(f"{base}/idxm")
        out = {"t1": t1, "tm": tm, "ratio": round(tm / t1, 2) if t1 else None}
        print(f"probe against 1x index={t1}s {mult}x index={tm}s "
              f"ratio={out['ratio']}", file=sys.stderr)
    finally:
        shutil.rmtree(base, ignore_errors=True)
    print(json.dumps({"m": mult, "probe": out, "spin": [_CANARY_AT_START, _spin_canary()], "io_spin": [_IO_CANARY_AT_START, _io_canary()]}))
    return 0


def split_main(mult: int) -> int:
    """``--split``: price the ``_IndexView`` at INDEX scale, not just
    sandbox.  Times ``admit_batch`` k=4 (the bench's ``lsh_admit_split4``
    shape) of a fixed batch into a 1x vs Mx committed index, with the
    shipped view vs a no-cache emulation of the behavior before the
    view (every sub-batch cycle re-opens and re-scans
    the committed tables via a fresh meta + _committed read — result-
    identical under the single-writer contract, since a committed
    re-read after a fold equals base ∪ deltas).

    The structural claim to verify: the view's saving is k-1 full index
    scans per oversized arrival, so it should GROW with the index (the
    sandbox sf0.1 measurement was -4.4% on sub-MB tables).  Prints
    {"m": M, "split": {"1x": {view, noview, saving}, "mx": {...}}}."""
    _canary_start()
    import etl_bom_radiation_spark.lsh_index as LI
    from pyspark.sql import functions as F

    from etl_bom_radiation_spark.session import get_spark

    class _NoCacheView:
        """The behavior before the view: no pinned base, no deltas — ``current()``
        is a fresh committed read (meta + both parquet opens) each time,
        exactly what every sub-batch cycle paid before the view."""

        def __init__(self, spark, index_dir):
            self._spark, self._dir = spark, index_dir

        def current(self):
            gens = LI._read_meta(self._spark, self._dir)["gens"]
            return (
                LI._committed(self._spark, self._dir, "bands", gens),
                LI._committed(self._spark, self._dir, "hsets", gens),
            )

        def add_delta(self, bands, hsets):
            pass

        def release(self):
            pass

    spark = get_spark(app_name="scaling_probe_split")
    spark.sparkContext.setLogLevel("ERROR")
    base = tempfile.mkdtemp(prefix="probe_split_")
    out = {}
    try:
        c1, cm = f"{base}/c1", f"{base}/cm"
        gen_corpus(spark, c1, 1)
        gen_corpus(spark, cm, mult)
        docs1 = spark.read.parquet(f"{c1}/documents.parquet").select("doc_id", "text")
        docsm = spark.read.parquet(f"{cm}/documents.parquet").select("doc_id", "text")
        LI.build_lsh_index(spark, docs1, f"{base}/idx1")
        LI.build_lsh_index(spark, docsm, f"{base}/idxm")
        batch = (
            docs1.filter(F.col("doc_id") % 10 == 3)
            .limit(BASE_DOCS // 10)
            .withColumn("doc_id", F.col("doc_id") + F.lit(10_000_000))
            .localCheckpoint()
        )
        n = batch.count()  # materialize outside every timer
        max_docs = max(1, -(-n // 4))  # k=4, the bench split4 shape

        def timed_admit(idx: str, view_cls) -> float:
            real = LI._IndexView
            LI._IndexView = view_cls
            try:
                best = float("inf")
                for i in range(3):  # first run is the warmup
                    scratch = f"{base}/s_{os.path.basename(idx)}_{view_cls.__name__}_{i}"
                    shutil.copytree(idx, scratch)
                    t0 = time.time()
                    admitted = LI.admit_batch(
                        spark, scratch, batch, max_docs=max_docs
                    )
                    admitted.write.format("noop").mode("overwrite").save()
                    dt = time.time() - t0
                    shutil.rmtree(scratch, ignore_errors=True)
                    if i > 0:
                        best = min(best, dt)
                return round(best, 3)
            finally:
                LI._IndexView = real

        for tag, idx in (("1x", f"{base}/idx1"), ("mx", f"{base}/idxm")):
            with_v = timed_admit(idx, LI._IndexView)
            no_v = timed_admit(idx, _NoCacheView)
            out[tag] = {
                "view": with_v,
                "noview": no_v,
                "saving": round(1 - with_v / no_v, 3) if no_v else None,
            }
            print(
                f"split4 into {tag} index: view={with_v}s noview={no_v}s "
                f"saving={out[tag]['saving']}",
                file=sys.stderr,
            )
    finally:
        shutil.rmtree(base, ignore_errors=True)
    print(json.dumps({"m": mult, "split": out, "spin": [_CANARY_AT_START, _spin_canary()], "io_spin": [_IO_CANARY_AT_START, _io_canary()]}))
    return 0


def main() -> int:
    _canary_start()
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    # M is optional: a leading non-numeric positional is an op filter
    if args and args[0].isdigit():
        mult, filters = int(args[0]), args[1:]
    else:
        mult, filters = 10, args
    if "--streaming" in sys.argv:
        return stream_main(mult, filters)
    if "--plateau" in sys.argv:
        return plateau_main(filters)
    if "--fold" in sys.argv:
        return fold_main(mult)
    if "--probe" in sys.argv:
        return probe_main(mult)
    if "--split" in sys.argv:
        return split_main(mult)
    relational = "--relational" in sys.argv
    hot = "--hot" in sys.argv
    from etl_bom_radiation_spark.queries import load_all
    from etl_bom_radiation_spark.session import get_spark

    spark = get_spark(app_name="scaling_probe")
    spark.sparkContext.setLogLevel("ERROR")
    qs = load_all()
    out = {}
    d1 = tempfile.mkdtemp(prefix="probe_1x_")
    dm = tempfile.mkdtemp(prefix=f"probe_{mult}x_")
    if relational:
        gen = gen_relational
    else:
        gen = lambda spark, out_dir, m: gen_corpus(spark, out_dir, m, hot=hot)
    ops = REL_OPS if relational else OPS
    if filters:
        ops = [o for o in ops if any(f in o for f in filters)]
    try:
        gen(spark, d1, 1)
        gen(spark, dm, mult)
        for name in ops:
            t1 = time_op(spark, qs[name].fn, d1)
            tm = time_op(spark, qs[name].fn, dm)
            out[name] = {
                "t1": t1,
                "tm": tm,
                "ratio": round(tm / t1, 2) if t1 > 0 else None,
            }
            print(f"{name}: 1x={t1}s {mult}x={tm}s ratio={out[name]['ratio']}",
                  file=sys.stderr)
    finally:
        shutil.rmtree(d1, ignore_errors=True)
        shutil.rmtree(dm, ignore_errors=True)
    print(json.dumps({"m": mult, "ops": out, "spin": [_CANARY_AT_START, _spin_canary()], "io_spin": [_IO_CANARY_AT_START, _io_canary()]}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
