"""ESRI ASCII grid decode — the flagship transform (SURVEY §2.C, G1-G6).

Semantics mirror the reference's ``extract_data`` (reference
bom/bom.py:110-157) and ``extract_datetime`` (bom/bom.py:94-107), expressed
as pure DataFrame operations so the whole pipeline stays inside Catalyst /
whole-stage codegen. The plan is narrow-only (scan -> project -> generate ->
filter -> project): NO shuffle anywhere, which is the property that lets it
scale linearly with file count on a large cluster — one task per file group,
zero exchange.

Decode semantics under test (FIXTURES.md §A):

* header = first 6 lines: ncols, nrows, xllcorner, yllcorner, cellsize,
  NODATA_value (bom.py:125-139);
* latitude starts from the TOP edge: ``y0 = yllcorner + nrows*cellsize`` and
  body row ``r`` (0-based) has ``lat = y0 - (r+1)*cellsize`` (bom.py:138,142);
* longitude restarts at ``xllcorner`` each row and advances by ``cellsize``
  per cell INCLUDING nodata cells (bom.py:141,146-149) — hence positions come
  from ``posexplode`` indices, never from a post-filter counter;
* cells equal to NODATA_value are dropped (bom.py:144-147);
* the timestamp comes from the FILENAME ``<base>_<TYPE>_<YYYYMMDD>_<HHMM>``
  (bom.py:94-107): parsed at hour precision ("%Y%m%d %H", bom.py:102-103)
  as UTC and converted to Australia/Sydney (bom.py:104). We keep the session
  timezone pinned to UTC and convert explicitly with ``from_utc_timestamp``.

Files are NOT splittable (cell position depends on line position), so the
unit of parallelism is the file — matching the reference's one-Lambda-per-file
model (bom.py:89), but with thousands of files per Spark job instead of one.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import filter_cached, select_cached

SYDNEY_TZ = "Australia/Sydney"

#: Output schema of the decoded fact table (typed; the reference stringifies
#: everything at bom.py:148 — typing is an intentional upgrade, SURVEY §1.2).
FACT_COLUMNS = ["Date", "RadiationType", "Longitude", "Latitude", "Radiation"]

# Plan construction. Every projection and filter below is built once per
# JVM and reused (session.select_cached / filter_cached), because building
# Columns over py4j, not Catalyst, was the cost: on a warm 4-core session,
# constructing read -> metadata -> decode over the two fixture grids sent
# about 1,100-1,400 gateway commands and took 0.3-0.45 s, while analysis
# of the whole decode plan takes about 6 ms. With the cached lists the
# same construction sends about 20 commands and takes 0.08-0.13 s; the
# expression trees, and so the optimized plan, are unchanged.


def read_grid_files(
    spark: SparkSession,
    path: str | list[str],
    path_glob_filter: str | None = None,
) -> DataFrame:
    """S1: whole-file text scan — one row per grid file.

    Mirrors get_object + Body.read().decode(...).splitlines()
    (bom.py:57-59) but distributed: Spark lists the input once on the
    driver and fans file reads out to executors. Accepts a directory or an
    explicit file list. ``path_glob_filter`` filters file NAMES during that
    single listing (Hadoop glob, ``{a,b}`` alternation supported) — the
    cheap way to scan a subset of a large directory: resolving a path-level
    glob instead turns every matched file into its own listing root
    (measured ~6x slower at 1000 matches)."""
    reader = spark.read
    if path_glob_filter is not None:
        reader = reader.option("pathGlobFilter", path_glob_filter)
    return select_cached(
        reader.text(path, wholetext=True),
        "grid.read",
        lambda: [F.input_file_name().alias("_path"), F.col("value").alias("_content")],
    )


#: the PINNED filename date/hour grammar CORE, shared by every Python/
#: Java-regex mirror (this module's fused rlike, the DataSource's and the
#: driver-side pruner's compiled res) so the mirrors cannot drift — the
#: DOUBLE_GRAMMAR discipline, applied after the grammar changed twice
#: (years 0000, then 9999). The RE2-dialect oracles cannot use lookahead
#: and keep their NOT LIKE renderings — parity-pinned by corpus cases
#: WG44-WG46/WG54.
#: Dates: exactly 8 ASCII digits, years 0000 (PySpark driver-side
#: conversion crash) and 9999 (Sydney +11h rolls to year 10000,
#: overflowing datetime.max) excluded. Hours: exactly 2 ASCII digits.
DATE_GRAMMAR = r"(?!0000|9999)[0-9]{8}"
HOUR_GRAMMAR = r"[0-9]{2}"


def decoded_filename(path_col: str = "_path") -> Column:
    """The REAL filename from an ``input_file_name()`` path.

    input_file_name() returns the URI-ENCODED path (found by the weird-grid
    net: a double-quote in a filename arrives as %22 and silently corrupts
    the extracted type/base vs the raw-name readers — the Python DataSource
    and the DuckDB oracle). Percent-decode after shielding literal '+'
    (a URI-path-legal char input_file_name does NOT encode, but
    form-decoding url_decode would turn into a space). input_file_name's
    own output is always valid percent encoding (a literal '%' arrives
    as %25) — but the no-abort contract must not REST on that: a caller
    feeding raw FS-listing paths (bare '%x') gets NULL metadata routed
    to bad_filename quarantine via try_url_decode, never an abort."""
    raw_name = F.element_at(F.split(F.col(path_col), "/"), -1)
    return F.try_url_decode(F.regexp_replace(raw_name, r"\+", "%2B"))


def _filename_metadata_columns(path_col: str) -> list[Column | str]:
    filename = decoded_filename(path_col)
    stem = F.regexp_replace(filename, r"\.[^.]*$", "")  # os.path.splitext, bom.py:95
    pieces = F.split(stem, "_")  # bom.py:96
    date_piece = F.try_element_at(pieces, F.lit(3))
    hour_piece = F.substring(F.try_element_at(pieces, F.lit(4)), 1, 2)  # [:2], bom.py:102
    # PINNED date grammar: exactly 8 ASCII digits + 2-digit hour, years
    # 0000 AND 9999 excluded. try_to_timestamp is already width-strict,
    # but a '00000101' filename parses to a year-0 timestamp that CRASHES
    # PySpark's driver-side conversion (measured: datetime.fromtimestamp ->
    # 'year 0 is out of range'), and '99991231_23xx' is the symmetric
    # top-end crash: the +11h Sydney conversion rolls it to year 10000,
    # past both Python's datetime.max (DataSource astimezone ->
    # OverflowError) and pandas' conversion on collect. The
    # DataSource/oracle mirrors (Python strptime, DuckDB try_strptime) are
    # also width-LAX ('2018041 01' parses on both) — one explicit guard,
    # enforced identically in all three implementations.
    stamp = F.concat_ws(" ", date_piece, hour_piece)
    utc_ts = F.when(
        stamp.rlike(f"^{DATE_GRAMMAR} {HOUR_GRAMMAR}$"),  # one fused regex
        F.try_to_timestamp(stamp, F.lit("yyyyMMdd HH")),
    )
    return [
        "*",
        filename.alias("_filename"),
        stem.alias("_base"),  # full stem, mirroring bom.py:95 csv_name
        F.try_element_at(pieces, F.lit(2)).alias("RadiationType"),  # bom.py:97
        utc_ts.alias("_utc_ts"),
        # bom.py:101-104: UTC -> Sydney wall clock (DST-aware).
        F.from_utc_timestamp(utc_ts, SYDNEY_TZ).alias("Date"),
    ]


def with_filename_metadata(df: DataFrame, path_col: str = "_path") -> DataFrame:
    """S2 + F1/F6/F7: extract (base, radiation_type, utc_ts, sydney_ts) from
    the object key, grammar 1: ``<base>_<TYPE>_<YYYYMMDD>_<HHMM...>.<ext>``
    (bom.py:89-107).

    The reference parses the timestamp at hour precision ("%Y%m%d %H",
    bom.py:102-103); minutes in the filename are deliberately dropped.

    ANSI-safe: ``try_element_at`` + ``try_to_timestamp`` so a filename that
    doesn't match the grammar yields NULL metadata instead of aborting the
    batch (the reference's per-file try/except, bom.py:82-84; malformed rows
    are routed to quarantine by the ingest layer, not crashed on).

    Precondition: the input must NOT already carry any of the five output
    columns. They are added by one cached ``select("*", ...)`` projection,
    which, unlike ``withColumn``, does not replace a same-named column but
    emits a duplicate, ambiguous one — asserted here because the helper is
    public API.
    """
    _OUT_COLS = {"_filename", "_base", "RadiationType", "_utc_ts", "Date"}
    clash = _OUT_COLS.intersection(df.columns)
    if clash:
        raise ValueError(
            f"with_filename_metadata: input already carries {sorted(clash)}; "
            "pass a fresh (_path, _content) frame (the select('*', ...) "
            "projection would produce ambiguous duplicate columns)"
        )
    return select_cached(
        df, ("grid.filename_metadata", path_col),
        lambda: _filename_metadata_columns(path_col),
    )


def _header_field(lines: Column, line_no: int) -> Column:
    """G1 helper: ``lines[line_no]`` -> value token (split on whitespace,
    take the 2nd token; reference splits on a single space, bom.py:124-137).

    ``try_element_at`` so a short/truncated file yields NULL header fields
    (-> zero decoded rows) instead of aborting the batch under ANSI mode.
    """
    return F.try_element_at(
        F.split(F.trim(F.try_element_at(lines, F.lit(line_no))), r"\s+"), F.lit(2)
    )


#: the PINNED header-double grammar: anchored ASCII decimal / scientific /
#: signed Infinity-or-NaN spellings, nothing else.
#: Spark's bare try_cast(string AS DOUBLE) additionally accepts Java
#: literal forms — 'd'/'f' suffixes, hex floats like '0x1p3' (measured) —
#: that neither DuckDB nor a strict reading of the ESRI ASCII format
#: admits, so the engine DEFINES the grammar explicitly and every
#: implementation (this Catalyst path, the Python DataSource's
#: _try_double, the DuckDB oracle's _sql_try_double) enforces the same
#: anchored regex. Tokens come from a \s+ split so they can't contain
#: ASCII whitespace; other control chars fail the anchor on all three.
#: the grammar CORE, shared verbatim by all three implementations (each
#: adds only its dialect's anchors/flags) so the mirrors cannot drift:
#: this module's rlike, the DataSource's compiled re, the oracle's RE2.
#: Out-of-range magnitudes are grammar-VALID and pinned to IEEE strtod
#: semantics on all three engines (measured, corpus WG56-WG58):
#: overflow ('1e999', 330-digit mantissas) -> ±Infinity, underflow
#: ('1e-400') -> 0.0 — Spark try_cast, Python float() and this
#: container's DuckDB TRY_CAST all agree (DuckDB was once reported to give
#: NULL on overflow; not reproduced here, pinned by the corpus so any
#: future DuckDB change surfaces as a parity failure, not silently).
DOUBLE_GRAMMAR = (
    r"[+-]?([0-9]+\.?[0-9]*|\.[0-9]+)([eE][+-]?[0-9]+)?"
    r"|[+-]?(inf|infinity|nan)"
)
DOUBLE_TOKEN_RE = f"^(?i)({DOUBLE_GRAMMAR})$"


def _header_double(lines: Column, line_no: int) -> Column:
    """Header double under the pinned grammar above.

    regexp_extract(group 0), not when(rlike): one evaluation of the
    token pipeline instead of two, and a no-match yields '' whose
    try_cast is NULL — identical semantics, smaller generated code
    (the grammar guards first cost ~19% on the 1000-file decode bench;
    this form recovers most of it)."""
    tok = _header_field(lines, line_no)
    return F.regexp_extract(tok, DOUBLE_TOKEN_RE, 0).try_cast("double")


#: the six header scalars :func:`decode_header` adds; NULL where the
#: header line is missing or its token fails the type's grammar
HEADER_COLS = ("_ncols", "_nrows", "_xll", "_yll", "_cellsize", "_nodata")


def _header_columns() -> list[Column | str]:
    lines = F.col("_lines")
    # try_cast throughout: a malformed header degrades to NULL fields (and
    # zero decoded rows for that file) rather than killing the whole batch
    # under ANSI mode — the reference quarantines per-file (bom.py:82-84).
    nrows_col = _header_field(lines, 2).try_cast("int")
    return [
        "*",
        _header_field(lines, 1).try_cast("int").alias("_ncols"),
        nrows_col.alias("_nrows"),
        _header_double(lines, 3).alias("_xll"),
        _header_double(lines, 4).alias("_yll"),
        _header_double(lines, 5).alias("_cellsize"),
        _header_field(lines, 6).try_cast("int").alias("_nodata"),
        # greatest(…, 0): F.slice THROWS on a negative length, so a header
        # declaring "nrows -2" must clamp to zero rows for that file, not
        # kill the whole batch (ANSI-safe contract)
        F.slice(lines, 7, F.greatest(F.coalesce(nrows_col, F.lit(0)), F.lit(0))).alias(
            "_body"
        ),
    ]


def decode_header(files: DataFrame) -> DataFrame:
    """G1: one row per file, with the six header scalars (:data:`HEADER_COLS`)
    and the body lines (``_body``) the header declares.

    Input: ``_path``/``_content`` (from :func:`read_grid_files`), already
    passed through :func:`with_filename_metadata`. This is the first half
    of :func:`decode_grids`; the ingest layer classifies each file on these
    columns before :func:`decode_body` explodes the good ones, so the
    classification and the decode share one header parse."""
    # materialize the full-content line split ONCE as its own column:
    # every header field (and the body slice) references the attribute
    # instead of re-splitting the whole file text — the grammar guards'
    # when() branches defeat Catalyst's subexpression elimination for the
    # inline form (measured: +19% on the 1000-file decode bench; recovered
    # by this projection)
    files = select_cached(
        files, "grid.lines",
        lambda: ["*", F.split(F.col("_content"), r"\r?\n").alias("_lines")],
    )
    return select_cached(files, "grid.header", _header_columns)


def _point_columns(with_partition_cols: bool, keep_cellsize: bool) -> list[Column | str]:
    # G5/G6 in ONE projection: coordinate arithmetic (bom.py:138-149,
    #   lon = xll + col*cs ;  lat = (yll + nrows*cs) - (row+1)*cs)
    # plus the S4 partition keys (bom.py:28-32, Sydney-local).
    return [
        "Date",
        "RadiationType",
        (F.col("_xll") + F.col("_col_idx") * F.col("_cellsize")).alias("Longitude"),
        (
            F.col("_yll")
            + F.col("_nrows") * F.col("_cellsize")
            - (F.col("_row_idx") + 1) * F.col("_cellsize")
        ).alias("Latitude"),
        F.col("_cell").try_cast("int").alias("Radiation"),
        *([F.col("_cellsize").alias("cellsize")] if keep_cellsize else []),
        *(
            [
                F.year("Date").alias("year"),
                F.month("Date").alias("month"),
                F.dayofmonth("Date").alias("day"),
                F.hour("Date").alias("hour"),
            ]
            if with_partition_cols
            else []
        ),
    ]


def decode_body(
    headed: DataFrame,
    with_partition_cols: bool = True,
    keep_cellsize: bool = False,
) -> DataFrame:
    """G2-G6: the rows of :func:`decode_header` -> long-format points; the
    second half of :func:`decode_grids`, which documents the output."""
    # G2: body lines -> rows with 0-based row index (latitude driver).
    # G3: cells -> rows with 0-based column index (longitude driver).
    # posexplode index — NOT a post-filter counter — so nodata cells still
    # advance the longitude (bom.py:146-149). Cells are truncated to _ncols
    # so an over-long body line cannot emit points past the grid's east
    # edge — matching the Python DataSource (cells[:ncols]) and the DuckDB
    # oracle bound.
    rows = select_cached(
        headed, "grid.rows",
        lambda: ["*", F.posexplode("_body").alias("_row_idx", "_line")],
    )
    cells = select_cached(
        rows, "grid.cells",
        lambda: [
            "*",
            F.posexplode(
                F.slice(
                    F.split(F.rtrim(F.col("_line")), " "),
                    1,
                    # greatest(…, 0): negative ncols would make F.slice throw
                    F.greatest(F.coalesce(F.col("_ncols"), F.lit(0)), F.lit(0)),
                )
            ).alias("_col_idx", "_cell"),
        ],
    )

    # G4: nodata filter (bom.py:144-147). Empty/non-numeric cells try_cast
    # to NULL and are dropped by the same predicate (ANSI-safe). The
    # filter references the cast expression directly; the named column
    # materializes in the single output projection.
    def kept_cond() -> Column:
        radiation = F.col("_cell").try_cast("int")
        return radiation.isNotNull() & (radiation != F.col("_nodata"))

    kept = filter_cached(cells, "grid.nodata", kept_cond)
    return select_cached(
        kept, ("grid.points", with_partition_cols, keep_cellsize),
        lambda: _point_columns(with_partition_cols, keep_cellsize),
    )


def decode_grids(
    files: DataFrame,
    with_partition_cols: bool = True,
    keep_cellsize: bool = False,
) -> DataFrame:
    """G1-G6: grid text -> long-format point table.

    Input: DataFrame with ``_path``/``_content`` (from :func:`read_grid_files`),
    already passed through :func:`with_filename_metadata`.
    Output columns: Date timestamp, RadiationType string, Longitude double,
    Latitude double, Radiation int (+ year/month/day/hour partition ints).

    ``keep_cellsize`` additionally carries the per-file header cellsize as a
    ``cellsize`` double column — consumers whose arithmetic depends on the
    lattice step (regrid, gradient) read it per-row instead of assuming a
    corpus-wide constant. Carrying the column is free (the header scalar is
    already in-row at this point in the plan); joining it back from a
    separate header pass would rescan every file and add a shuffle for
    nothing.

    The whole thing is one narrow Catalyst plan:
    Project(header scalars) -> Generate(posexplode rows) ->
    Generate(posexplode cells) -> Filter(nodata) -> Project(coords).
    """
    return decode_body(decode_header(files), with_partition_cols, keep_cellsize)


def decode_grid_directory(spark: SparkSession, path: str, **kw) -> DataFrame:
    """Convenience: S1 -> S2 -> G1..G6 over a directory of grid files."""
    return decode_grids(with_filename_metadata(read_grid_files(spark, path)), **kw)
