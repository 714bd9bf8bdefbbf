"""Weird-grid parity net: the grid/ingest axis of the adversarial-corpus
method (VERDICT r13 #2).

The golden grid fixtures are well-formed, so before r14 the decode's
malformed-input coverage was three hand-picked unit cases. This net
mirrors the relational corpora's discipline for the FILE FORMAT axis:
``tools/gen_weird_grids.py`` writes grids that are ragged / truncated /
mis-declared / separator-chaotic / header-garbled / filename-near-miss,
and every grid-family oracle entry is swept Spark-vs-DuckDB over it with
its fixture dir substituted.

Divergences found and fixed by the r14 sweep (each a silent wrong-answer
class on the Python DataSource mount, invisible on the golden fixtures):

* ``_parse_filename`` returned (None, None) when only the DATE piece was
  malformed — Catalyst keeps the type and NULLs just the timestamp;
* text-mode ``open()`` universal newlines translated a LONE ``\\r`` into
  ``\\n``, splitting body lines the Catalyst ``\\r?\\n`` split keeps
  (shifting every subsequent row's latitude);
* bare ``int()``/``int(float())`` header and cell parses accepted '4.5',
  '1e1', '1_0' and unicode digits that Spark's try_cast rejects — now
  routed through the ``_try_int``/``_try_double`` mirrors;
* DuckDB-side: bare CAST rounded '4.5' and raised on strptime
  near-misses (oracle scaffold hardened, see grid_queries.oracle_base).

The binary corpus (invalid UTF-8, empty files, BOM, truncated-mid-cell)
is swept ENGINE-ONLY — DuckDB's read_text raises on invalid UTF-8 — for
the no-abort + quarantine contract.
"""

from __future__ import annotations

import os

import duckdb
import pytest

from etl_bom_radiation_spark.queries import load_all
from tools.check_queries import compare
from tools.gen_weird_grids import write_binary_grids, write_weird_grids

QS = load_all()
G_PARITY = sorted(
    n for n, q in QS.items() if n.startswith("g_") and q.oracle is not None
)


@pytest.fixture(scope="module")
def weird_dir(tmp_path_factory) -> str:
    return write_weird_grids(str(tmp_path_factory.mktemp("weird_grids")))


@pytest.fixture(scope="module")
def binary_dir(tmp_path_factory) -> str:
    return write_binary_grids(str(tmp_path_factory.mktemp("binary_grids")))


#: per-corpus liveness floor for the full-decode entries: the sweep must
#: keep decoding real points or it degrades to comparing empty frames
_LIVENESS = {"weird": 200, "fuzz": 50}


@pytest.fixture(params=sorted(_LIVENESS))
def adversarial_corpus(request, weird_dir, fuzz_dir):
    """(corpus_dir, liveness_floor) for each adversarial grid corpus —
    one parametrized fixture so adding a corpus (or a new grid-query
    module below) happens in exactly one place."""
    d = {"weird": weird_dir, "fuzz": fuzz_dir}[request.param]
    return d, _LIVENESS[request.param]


@pytest.fixture()
def grid_dirs_patched(monkeypatch, adversarial_corpus):
    """Point every grid-query module's fixture dir at the corpus under
    test. regrid/zorder bind MULTIRES_DIR into their own namespaces, so
    each module attribute is patched individually."""
    import etl_bom_radiation_spark.queries.grid_queries as GQ
    import etl_bom_radiation_spark.queries.regrid as RG
    import etl_bom_radiation_spark.queries.zorder as ZO

    corpus_dir, _ = adversarial_corpus
    orig_g, orig_m = GQ.GRID_DIR, GQ.MULTIRES_DIR
    for mod, attr in ((GQ, "GRID_DIR"), (GQ, "MULTIRES_DIR"),
                      (RG, "MULTIRES_DIR"), (ZO, "MULTIRES_DIR")):
        monkeypatch.setattr(mod, attr, corpus_dir)
    return orig_g, orig_m


def _sub_dirs(oracle: str, orig_g: str, orig_m: str, weird: str) -> str:
    # substitute the LONGER path first: orig_g is a string prefix of orig_m
    return oracle.replace(orig_m, weird).replace(orig_g, weird)


@pytest.mark.parity
@pytest.mark.parametrize("name", G_PARITY)
def test_grid_oracle_parity_on_adversarial_corpus(
    spark, adversarial_corpus, grid_dirs_patched, name
):
    """Every grid-family oracle, Spark vs DuckDB, over each adversarial
    corpus: the hand-designed weird grids (r14) and the seeded random
    fuzz grids (r15, VERDICT r14 #4, committed seed FUZZ_SEED)."""
    corpus_dir, floor = adversarial_corpus
    orig_g, orig_m = grid_dirs_patched
    q = QS[name]
    got = q.fn(spark, corpus_dir).toPandas()
    want = duckdb.connect().execute(
        _sub_dirs(q.oracle, orig_g, orig_m, corpus_dir)
    ).df()
    problems = compare(name, got, want)
    assert problems == [], problems
    if name in ("g_flagship_decode", "g_datasource_decode"):
        assert len(got) > floor


def test_decode_never_aborts_on_binary_corpus(spark, weird_dir, binary_dir):
    """No-abort contract over byte-level pathologies: invalid UTF-8 cells
    degrade to dropped cells (U+FFFD fails the strict-int parse), corrupt
    headers degrade to zero rows — never an executor exception."""
    from etl_bom_radiation_spark.grid.decode import decode_grid_directory

    pts = decode_grid_directory(spark, binary_dir).collect()
    # WB01: the corrupt byte kills exactly ONE cell of 12 (and never
    # splices '1<ff>2' into 12 — the reference's errors='ignore' would)
    wb01 = [r for r in pts if r.Date is not None and r.hour == 11]
    assert len(wb01) == 11
    assert {r.Radiation for r in wb01} == {10, 11, 12, 13, 20, 22, 23, 30, 31, 32, 33}
    # extension-less + BOM + truncated files all decode to >= 0 rows
    combined = decode_grid_directory(spark, weird_dir).count()
    assert combined > 200


@pytest.mark.parity
def test_datasource_row_identical_on_binary_corpus(spark, binary_dir):
    """The Python DataSource mount must match the Catalyst path row-for-row
    on the byte-pathology corpus too (the weird-text corpus is covered by
    g_datasource_decode's sweep entry above). Sort-insensitive multiset
    equality over every output column."""
    from etl_bom_radiation_spark.grid.datasource import EsriGridDataSource
    from etl_bom_radiation_spark.grid.decode import decode_grid_directory

    spark.dataSource.register(EsriGridDataSource)
    cat = decode_grid_directory(spark, binary_dir)
    ds = spark.read.format("esri_grid").load(binary_dir)
    cols = cat.columns
    # repr-keyed sort: a fuzz filename whose hour token is out of range
    # (e.g. the FB...x024_..._2400 draw) decodes with NULL Date, and a
    # plain tuple sort dies on None < datetime (r16 hunt harness find)
    assert sorted(map(tuple, cat.select(*cols).collect()), key=repr) == sorted(
        map(tuple, ds.select(*cols).collect()), key=repr
    )


def test_ingest_quarantine_routes_weird_corpus(spark, tmp_path, weird_dir, binary_dir):
    """ingest_batch over the full weird+binary corpus: never aborts, files
    with unparseable headers or filename-grammar near-misses land in
    quarantine/ with the right reason code, everything else ingests."""
    import shutil

    import etl_bom_radiation_spark.workspace as W
    from etl_bom_radiation_spark.ingest import ingest_batch

    ws = W.init_workspace(spark, str(tmp_path / "wsweird"))
    indir = ws.prefix("in")
    for d in (weird_dir, binary_dir):
        for f in os.listdir(d):
            shutil.copy(os.path.join(d, f), os.path.join(indir, f))

    res = ingest_batch(spark, ws)
    reasons = {os.path.basename(p): r for p, r in res.quarantine_reasons.items()}

    # header casualties: truncated / garbage / float-typed int headers /
    # empty and NUL-only files / corrupt header byte / Java-literal header
    # doubles that decode's pinned grammar turns into NULL coordinates
    for f in ("WG12_GLOBAL_20180401_1200.txt", "WG15_GLOBAL_20180401_1500.txt",
              "WG19_GLOBAL_20180401_1900.txt", "WG11_GLOBAL_20180401_1100.txt",
              "WB02_GLOBAL_20180401_0200.txt", "WB04_GLOBAL_20180401_0400.txt",
              "WG47_GLOBAL_20180401_0108.txt", "WG48_GLOBAL_20180401_0109.txt"):
        assert reasons.get(f) == "bad_header", (f, reasons.get(f))
    # a ZERO-length file produces no row from the wholetext reader at all;
    # before r14 it was never classified and sat in in/ forever, re-listed
    # by every batch — now malformed-by-absence with its own reason code
    assert reasons.get("WB03_GLOBAL_20180401_0300.txt") == "empty"
    # filename-grammar near-misses with parseable headers
    for f in ("WG23GLOBALnounder.txt", "WG24_GLOBAL_2018AB01_0100.txt",
              "WG26_GLOBAL_20180401_9900.txt", "WG27_GLOBAL_20180401.txt"):
        assert reasons.get(f) == "bad_filename", (f, reasons.get(f))
    # clean control and the ragged/separator files ingest fine
    ok = {os.path.basename(p) for p in res.files_ok}
    for f in ("WG01_GLOBAL_20180401_0100.txt", "WG02_GLOBAL_20180401_0200.txt",
              "WG06_GLOBAL_20180401_0600.txt", "WG07_GLOBAL_20180401_0700.txt"):
        assert f in ok, f
    assert res.rows_written > 100
    # a file that passes the classification decodes to real coordinates
    from pyspark.sql import functions as F

    written = spark.read.parquet(ws.data_dir)
    assert written.filter(
        F.col("Longitude").isNull() | F.col("Latitude").isNull()
    ).count() == 0
    # every staged file left in/: moved to done/ or quarantine/
    assert os.listdir(indir) == []


@pytest.mark.parity
def test_ingest_stream_drains_weird_corpus(spark, tmp_path, weird_dir, binary_dir):
    """T1 over the weird+binary corpus: the streaming drain must not abort
    on any pathology (the source cannot quarantine mid-stream — malformed
    files just decode to zero/NULL rows), must write exactly the rows the
    batch decode produces, and a checkpointed re-run must not duplicate."""
    import shutil

    import etl_bom_radiation_spark.workspace as W
    from etl_bom_radiation_spark.grid.decode import decode_grid_directory
    from etl_bom_radiation_spark.ingest import ingest_stream

    ws = W.init_workspace(spark, str(tmp_path / "wsstream"))
    indir = ws.prefix("in")
    for d in (weird_dir, binary_dir):
        for f in os.listdir(d):
            shutil.copy(os.path.join(d, f), os.path.join(indir, f))
    expected = decode_grid_directory(spark, indir).count()

    # rollup + catalog registration on: both sink branches sat downstream
    # of the pre-r14 poison-pill int() parse
    db = W.create_database(spark, "weird-stream-stack")
    table = W.register_table(spark, db, "weird_stream_pts", ws)
    ckpt = str(tmp_path / "ckpt")
    rdir = str(tmp_path / "rollup")
    q = ingest_stream(spark, ws, checkpoint=ckpt, fq_table=table, rollup_dir=rdir)
    q.awaitTermination(180)
    got = spark.read.parquet(ws.data_dir)
    assert got.count() == expected > 200
    # near-miss filenames decode with NULL Date -> NULL partition values;
    # they must land in the default-partition dirs, not vanish or abort
    assert got.filter("year IS NULL").count() > 0
    # the typed partitions register; the default partition is data-only
    registered = spark.sql(f"SHOW PARTITIONS {table}").count()
    assert registered > 0

    q = ingest_stream(spark, ws, checkpoint=ckpt, fq_table=table, rollup_dir=rdir)
    q.awaitTermination(180)  # replay: no duplicates
    assert spark.read.parquet(ws.data_dir).count() == expected
    spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_csv_sink_round_trips_weird_corpus(spark, tmp_path, weird_dir):
    """S3 over the weird corpus: the headed-CSV sink must quote
    comma/double-quote radiation types byte-exactly, land NULL-date rows
    in the default partition, and round-trip every numeric value. One
    documented CSV asymmetry: an EMPTY-STRING type (WG29's '__' filename)
    writes as an unquoted empty field and reads back NULL — pinned here,
    not hidden by the comparison."""
    from pyspark.sql import functions as F

    from etl_bom_radiation_spark.grid.decode import decode_grid_directory
    from etl_bom_radiation_spark.ingest import write_points_csv

    pts = decode_grid_directory(spark, weird_dir)
    out = str(tmp_path / "csvout")
    write_points_csv(pts, out)
    back = spark.read.option("header", True).schema(
        "Date string, RadiationType string, Longitude double, "
        "Latitude double, Radiation int"
    ).csv(out)

    src = pts.select(
        F.date_format("Date", "yyyy-MM-dd HH:mm").alias("Date"),
        # the pinned asymmetry: '' -> NULL through the CSV layer
        F.when(F.col("RadiationType") == "", None)
        .otherwise(F.col("RadiationType"))
        .alias("RadiationType"),
        "Longitude", "Latitude", "Radiation",
    ).collect()
    got = back.select("Date", "RadiationType", "Longitude", "Latitude",
                      "Radiation").collect()

    def key(rows):
        return sorted(map(repr, map(tuple, rows)))

    assert key(got) == key(src)
    # the comma+quote type survived the CSV layer byte-exact
    assert back.filter(F.col("RadiationType") == 'GLO,B"AL').count() == 4
    # NULL-date rows exist and landed in the default partition dirs
    assert back.filter("Date IS NULL").count() > 0
    default_dirs = [
        p for p in os.listdir(out) if p == "year=__HIVE_DEFAULT_PARTITION__"
    ]
    assert default_dirs, sorted(os.listdir(out))[:5]


def test_maintenance_survives_default_partitions(spark, tmp_path):
    """The quarantine-in-place rows live under __HIVE_DEFAULT_PARTITION__
    dirs; every maintenance surface must walk them without the sink's
    old int()-poison class: MSCK registers the default partition
    natively, compaction's leaves() recurses through harmlessly, and
    direct reads serve all rows (probed r14, pinned here)."""
    import etl_bom_radiation_spark.workspace as W
    from etl_bom_radiation_spark.ingest import compact_partitions

    ws = W.init_workspace(spark, str(tmp_path / "wsdefault"))
    df = spark.createDataFrame(
        [(None, "GLOBAL", 1.0, 2.0, 5, None, None, None, None),
         (None, "GLOBAL", 1.0, 2.0, 6, 2018, 4, 1, 11)],
        "Date timestamp, RadiationType string, Longitude double, "
        "Latitude double, Radiation int, year int, month int, day int, "
        "hour int",
    )
    df.write.mode("append").partitionBy("year", "month", "day", "hour").parquet(
        ws.data_dir
    )
    assert "year=__HIVE_DEFAULT_PARTITION__" in set(os.listdir(ws.data_dir))

    db = W.create_database(spark, "default-part-stack")
    t = W.register_table(spark, db, "pts", ws)
    W.repair_table(spark, t, ws)
    assert spark.sql(f"SHOW PARTITIONS {t}").count() == 2
    assert spark.table(t).count() == 2
    compact_partitions(spark, ws.data_dir)  # must not raise
    assert spark.read.parquet(ws.data_dir).count() == 2
    spark.sql(f"DROP TABLE {t}")


def test_weird_corpus_liveness(weird_dir):
    """The net is only as good as its fixture: the corpus must actually
    carry each adversarial class (prefix conventions pin them)."""
    names = os.listdir(weird_dir)
    assert len(names) >= 30
    raw = {n: open(os.path.join(weird_dir, n), encoding="utf-8", newline="").read()
           for n in names}
    assert any("\r\n" in c for c in raw.values())          # CRLF axis
    assert any("\r" in c.replace("\r\n", "") for c in raw.values())  # stray CR
    assert any("e-1" in c or "e2" in c or "e1" in c.lower() for c in raw.values())
    assert any(n.count("_") < 3 for n in names)            # grammar near-miss
    assert any("  " in c for c in raw.values())            # multi-space runs
    # URI-special and percent/space filename classes (the decoded_filename
    # round-trip + CSV-quoting coverage rides on these existing)
    assert any('"' in n or "," in n for n in names)
    assert any("%" in n or " " in n for n in names)


# ----------------------------------------------------------- seeded fuzzer
#: the committed r16 fuzz seed (VERDICT r15 #5 bump; r15 shipped 1515).
#: Deterministic: the sweep below is exactly reproducible from this
#: constant; a new round bumps the seed (recording it in DRIFT) so each
#: round explores new random shapes while past seeds' classes stay
#: covered by the hand corpus pins they produced. The r16 offline hunt
#: (text+byte seeds 90-100, 1616) found one real class — a cellsize-0
#: header ANSI-aborts the gradient's central difference (seed 93) —
#: fixed with the rounded-step-0 exclusion and pinned as WG62/WG63.
#: 1616 matches tests/test_ingest.py::INGEST_FUZZ_SEED by design: the
#: same corpus shape is swept through both the batch oracles and the
#: streaming drain.
FUZZ_SEED = 1616


@pytest.fixture(scope="module")
def fuzz_dir(tmp_path_factory) -> str:
    from tools.gen_weird_grids import write_fuzz_grids

    return write_fuzz_grids(
        str(tmp_path_factory.mktemp("fuzz_grids")), seed=FUZZ_SEED
    )


@pytest.fixture(scope="module")
def fuzz_binary_dir(tmp_path_factory) -> str:
    from tools.gen_weird_grids import write_fuzz_binary

    return write_fuzz_binary(
        str(tmp_path_factory.mktemp("fuzz_binary")), seed=FUZZ_SEED
    )


def test_decode_never_aborts_on_fuzz_binary(spark, fuzz_binary_dir):
    """No-abort contract over seeded random byte corruption: every fuzzed
    file decodes to >= 0 rows, never an executor exception."""
    from etl_bom_radiation_spark.grid.decode import decode_grid_directory

    assert decode_grid_directory(spark, fuzz_binary_dir).count() >= 0


@pytest.mark.parity
def test_datasource_row_identical_on_fuzz_binary(spark, fuzz_binary_dir):
    """Catalyst vs Python-DataSource row identity on the byte-fuzz corpus
    (same multiset discipline as the hand binary corpus)."""
    from etl_bom_radiation_spark.grid.datasource import EsriGridDataSource
    from etl_bom_radiation_spark.grid.decode import decode_grid_directory

    spark.dataSource.register(EsriGridDataSource)
    cat = decode_grid_directory(spark, fuzz_binary_dir)
    ds = spark.read.format("esri_grid").load(fuzz_binary_dir)
    cols = cat.columns
    assert sorted(map(repr, map(tuple, cat.select(*cols).collect()))) == sorted(
        map(repr, map(tuple, ds.select(*cols).collect()))
    )
