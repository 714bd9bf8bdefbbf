"""AST lint: the Hadoop FS boolean-return discipline, ratcheted.

Hadoop's ``FileSystem.rename``/``delete`` report failure by RETURNING
FALSE — no exception — so an unchecked call site is a silent-loss bug
class this repo has fixed seven times by audit (four call sites, one
module-wide sweep, manifest._swap_in).  Nothing stopped an eighth from
being written; this lint does.

Rule: every statement-level ``fs.rename(...)`` / ``fs.delete(...)`` in
the package (result discarded — an ``ast.Expr`` whose value is the
call) must carry the literal marker ``best-effort`` in a comment within
the statement's own lines, documenting WHY a silent false is benign
there.  The allowlisted classes, each marked in place at its site:

* final temp/staging deletes after the content has already moved out
  (scratch reclamation — a survivor is garbage, never data);
* checkpoint GC (graph.py's per-round checkpoint directories);
* deletes whose failure is surfaced by the VERY NEXT checked call
  (a pre-rename delete: a false delete makes the checked rename fail).

Any call whose boolean feeds an expression (``if not fs.rename(...)``,
an assignment, an assert) is checked by construction and needs no
marker.  ``test_lint_is_live`` proves the lint fails on the regression
it exists for, the fence-liveness convention.

Second rule, in-place writes: a Hadoop ``fs.create`` shows up to
``exists()`` at once, as a 0-byte file, so a crash between create and
close leaves a torn file under its final name, and a reader that trusts
existence (a commit manifest, a high-water mark) takes it as complete.
A stream returned by ``fs.create(...)`` may therefore be written to only
inside the atomic writers in ``ATOMIC_WRITERS``, which write under a temp
name and rename in.  Empty markers (``fs.create(p, True).close()``) stay
allowed: their content is their existence.  ``test_in_place_lint_is_live``
covers this rule the same way.

Third rule, one FS-handle source: ``getFileSystem(`` is called only inside
``workspace._fs``, so every Hadoop handle comes from one function that a
test can patch (``test_fs_handle_lint_is_live`` covers it).

Fourth rule, no wall clock in crash protocols: no package module calls
``time.sleep(`` or ``getModificationTime(``.  A protocol that decides by
waiting, or by how old a marker file is, is only as safe as its guess of
how long a live owner can pause; the commit protocols here decide by what
is committed (a numbered version, a manifest), never by time
(``test_wall_clock_lint_is_live`` covers it).

Fifth rule, index paths in one module: the LSH index's table paths are
built only in ``lsh_index.py``.  No other package module contains
``bands.parquet`` or ``hsets.parquet``, and a module that imports
``lsh_index`` builds no ``.parquet`` path with an f-string: a raw read of
a table directory would open generations no committed version names
(and add a ``gen`` column), so every index read goes through
``lsh_index._committed`` (``test_index_path_lint_is_live`` covers it).
"""

from __future__ import annotations

import ast
import os

PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "etl_bom_radiation_spark",
)

MARKER = "best-effort"

#: the functions allowed to write into an ``fs.create`` stream: the one
#: shared writer, which writes complete under a temp name and renames it in
ATOMIC_WRITERS = {"_write_atomic"}


def unchecked_fs_calls(source: str, filename: str = "<mem>") -> list[str]:
    """``(file:line)`` of every statement-level (result-discarded)
    ``fs.rename``/``fs.delete`` call whose statement lines lack the
    ``best-effort`` marker — in the statement's own lines, or in a pure
    COMMENT line directly above it (a trailing marker on a preceding
    STATEMENT must not leak down and suppress the lint for a new
    unchecked call written below it).  Receiver
    matching is the repo convention: the Hadoop FileSystem handle is
    always bound to a local name ``fs``."""
    tree = ast.parse(source)
    lines = source.splitlines()
    out = []
    for node in ast.walk(tree):
        if not isinstance(node, ast.Expr):
            continue
        call = node.value
        if not (
            isinstance(call, ast.Call)
            and isinstance(call.func, ast.Attribute)
            and call.func.attr in ("rename", "delete")
            and isinstance(call.func.value, ast.Name)
            and call.func.value.id == "fs"
        ):
            continue
        seg = "\n".join(lines[node.lineno - 1 : node.end_lineno])
        above = lines[node.lineno - 2] if node.lineno >= 2 else ""
        above_ok = above.lstrip().startswith("#") and MARKER in above
        if MARKER not in seg and not above_ok:
            out.append(f"{filename}:{node.lineno}")
    return out


def _is_fs_create(node) -> bool:
    return (
        isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "create"
        and isinstance(node.func.value, ast.Name)
        and node.func.value.id == "fs"
    )


def _own_nodes(scope):
    """Nodes of *scope* (a module or function), not descending into the
    functions defined inside it — each of those is its own scope."""
    stack = list(ast.iter_child_nodes(scope))
    while stack:
        node = stack.pop()
        yield node
        if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            stack.extend(ast.iter_child_nodes(node))


def in_place_writes(source: str, filename: str = "<mem>") -> list[str]:
    """``(file:line)`` of every ``fs.create(...)`` whose stream is written
    to (any ``.write*`` call, on the create itself or on the name it is
    assigned to) outside a function named in ``ATOMIC_WRITERS``."""
    tree = ast.parse(source)
    scopes = [tree] + [
        n
        for n in ast.walk(tree)
        if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
        and n.name not in ATOMIC_WRITERS
    ]
    out = set()
    for scope in scopes:
        nodes = list(_own_nodes(scope))
        streams = {
            t.id: n.lineno
            for n in nodes
            if isinstance(n, ast.Assign) and _is_fs_create(n.value)
            for t in n.targets
            if isinstance(t, ast.Name)
        }
        for n in nodes:
            if not (
                isinstance(n, ast.Call)
                and isinstance(n.func, ast.Attribute)
                and n.func.attr.startswith("write")
            ):
                continue
            recv = n.func.value
            if _is_fs_create(recv):
                out.add(recv.lineno)
            elif isinstance(recv, ast.Name) and recv.id in streams:
                out.add(streams[recv.id])
    return [f"{filename}:{line}" for line in sorted(out)]


def _package_offenders(lint) -> list[str]:
    offenders: list[str] = []
    for root, _dirs, files in os.walk(PKG):
        for f in sorted(files):
            if not f.endswith(".py"):
                continue
            p = os.path.join(root, f)
            with open(p) as fh:
                offenders += lint(fh.read(), os.path.relpath(p, os.path.dirname(PKG)))
    return offenders


def test_package_fs_calls_checked_or_marked():
    offenders = _package_offenders(unchecked_fs_calls)
    assert not offenders, (
        "unchecked Hadoop fs.rename/fs.delete call sites (silent-false "
        "hazard — check the boolean and raise, or mark the line with a "
        f"'{MARKER}: <why a silent false is benign>' comment): "
        + ", ".join(offenders)
    )


def test_lint_is_live():
    """The lint demonstrably catches the regression class: an unchecked,
    unmarked call is flagged; checked or marked forms are not."""
    flagged = unchecked_fs_calls(
        "def f(fs, a, b):\n"
        "    fs.rename(a, b)\n"
        "    fs.delete(a, True)\n"
    )
    assert flagged == ["<mem>:2", "<mem>:3"]

    clean = unchecked_fs_calls(
        "def f(fs, a, b, jvm):\n"
        "    if not fs.rename(a, b):\n"
        "        raise OSError('rename failed')\n"
        "    ok = fs.delete(a, True)\n"
        "    assert fs.delete(b, False)\n"
        "    fs.delete(a, True)  # best-effort: scratch only\n"
        "    fs.delete(  # best-effort: scratch only\n"
        "        jvm, True,\n"
        "    )\n"
        "    other.delete(a)\n"  # not the Hadoop handle convention
        "    fs.open(a)\n"  # not rename/delete
    )
    assert clean == []

    # a marker TRAILING a preceding statement must not leak down to a
    # new unchecked call written below it — only a pure comment line
    # directly above counts
    leak = unchecked_fs_calls(
        "def f(fs, a, b, c):\n"
        "    fs.delete(a, True)  # best-effort: scratch only\n"
        "    fs.rename(b, c)\n"
        "    # best-effort: lease age-out\n"
        "    fs.delete(c, False)\n"
    )
    assert leak == ["<mem>:3"]


def test_package_creates_not_written_in_place():
    offenders = _package_offenders(in_place_writes)
    assert not offenders, (
        "fs.create streams written in place (a crash leaves a torn file "
        "under its final name — write through an atomic writer, "
        f"{sorted(ATOMIC_WRITERS)}): " + ", ".join(offenders)
    )


def test_in_place_lint_is_live():
    """The in-place rule flags a written create stream outside the atomic
    writers — including one in a closure, the shape of a stream sink's
    per-batch function — and passes atomic writers and empty markers."""
    flagged = in_place_writes(
        "def f(fs, p):\n"
        "    out = fs.create(p, True)\n"
        "    out.write(b'x')\n"
        "    out.close()\n"
        "def ingest(fs, p):\n"
        "    def _sink(df, batch_id):\n"
        "        out = fs.create(p, True)\n"
        "        out.write(b'x')\n"
        "        out.close()\n"
        "    fs.create(p, True).write(b'x')\n"
        "def _write_atomic(fs, p):\n"
        "    def inner():\n"
        "        fs.create(p, True).writeBytes('x')\n"
    )
    assert flagged == ["<mem>:2", "<mem>:7", "<mem>:10", "<mem>:13"]

    clean = in_place_writes(
        "def _write_atomic(fs, p):\n"
        "    out = fs.create(p, True)\n"
        "    out.write(b'x')\n"
        "    out.close()\n"
        "def marker(fs, p):\n"
        "    fs.create(p, True).close()\n"
        "    out = fs.create(p, True)\n"
        "    out.close()\n"
        "def other(store, p):\n"
        "    out = store.create(p)\n"  # not the Hadoop handle convention
        "    out.write(b'x')\n"
    )
    assert clean == []


def fs_handle_sites(source: str, filename: str = "<mem>") -> list[str]:
    """``(file:line)`` of every ``getFileSystem(...)`` call outside the
    function ``_fs`` of ``workspace.py``."""
    tree = ast.parse(source)
    allowed = set()
    if os.path.basename(filename) == "workspace.py":
        for n in ast.walk(tree):
            if isinstance(n, ast.FunctionDef) and n.name == "_fs":
                allowed |= {id(c) for c in ast.walk(n)}
    return [
        f"{filename}:{n.lineno}"
        for n in ast.walk(tree)
        if isinstance(n, ast.Call)
        and isinstance(n.func, ast.Attribute)
        and n.func.attr == "getFileSystem"
        and id(n) not in allowed
    ]


def test_package_fs_handles_come_from_workspace_fs():
    offenders = _package_offenders(fs_handle_sites)
    assert not offenders, (
        "Hadoop FileSystem handles made outside workspace._fs (take "
        "`fs, path, jvm = _fs(spark, uri)` instead): " + ", ".join(offenders)
    )


def test_fs_handle_lint_is_live():
    """The handle rule flags ``getFileSystem`` anywhere but ``_fs`` in
    ``workspace.py`` — a same-named ``_fs`` elsewhere is no exemption."""
    src = (
        "def _fs(spark, path):\n"
        "    return path.getFileSystem(spark.conf)\n"
        "def other(spark, p):\n"
        "    return p.getFileSystem(spark.conf)\n"
    )
    assert fs_handle_sites(src, "pkg/workspace.py") == ["pkg/workspace.py:4"]
    assert fs_handle_sites(src, "pkg/lsh_index.py") == [
        "pkg/lsh_index.py:2",
        "pkg/lsh_index.py:4",
    ]


def wall_clock_sites(source: str, filename: str = "<mem>") -> list[str]:
    """``(file:line)`` of every ``time.sleep(...)`` or bare ``sleep(...)``
    call and every ``....getModificationTime(...)`` call."""
    lines = set()
    for n in ast.walk(ast.parse(source)):
        f = n.func if isinstance(n, ast.Call) else None
        if (
            (isinstance(f, ast.Name) and f.id == "sleep")
            or (
                isinstance(f, ast.Attribute)
                and f.attr == "sleep"
                and isinstance(f.value, ast.Name)
                and f.value.id == "time"
            )
            or (isinstance(f, ast.Attribute) and f.attr == "getModificationTime")
        ):
            lines.add(n.lineno)
    return [f"{filename}:{line}" for line in sorted(lines)]


def test_package_never_waits_on_the_wall_clock():
    offenders = _package_offenders(wall_clock_sites)
    assert not offenders, (
        "wall-clock waits or file-age checks in the package (decide by "
        "what is committed, not by time): " + ", ".join(offenders)
    )


def test_wall_clock_lint_is_live():
    """The wall-clock rule flags a sleep poll and a marker-age check — the
    shape of a lease protocol — and passes other ``sleep``/stat calls."""
    flagged = wall_clock_sites(
        "import time\n"
        "from time import sleep\n"
        "def wait_out(fs, marker):\n"
        "    while fs.exists(marker):\n"
        "        age = time.time() - fs.getFileStatus(marker).getModificationTime()\n"
        "        time.sleep(0.05)\n"
        "        sleep(1)\n"
    )
    assert flagged == ["<mem>:5", "<mem>:6", "<mem>:7"]

    clean = wall_clock_sites(
        "def f(fs, p, ev, pool):\n"
        "    ev.wait(1)\n"
        "    pool.sleep(1)\n"  # not the time module
        "    fs.getFileStatus(p).getLen()\n"
    )
    assert clean == []


INDEX_TABLES = ("bands.parquet", "hsets.parquet")


def index_path_sites(source: str, filename: str = "<mem>") -> list[str]:
    """``(file:line)`` of every line of a module other than
    ``lsh_index.py`` that names an index table (``bands.parquet`` or
    ``hsets.parquet``), and — in a module that imports ``lsh_index`` —
    of every f-string holding ``.parquet``."""
    if os.path.basename(filename) == "lsh_index.py":
        return []
    lines = {
        i
        for i, line in enumerate(source.splitlines(), 1)
        if any(t in line for t in INDEX_TABLES)
    }
    tree = ast.parse(source)
    imported = [
        name
        for n in ast.walk(tree)
        if isinstance(n, (ast.Import, ast.ImportFrom))
        for name in [getattr(n, "module", None) or ""] + [a.name for a in n.names]
    ]
    if any(name.split(".")[-1] == "lsh_index" for name in imported):
        lines |= {
            n.lineno
            for n in ast.walk(tree)
            if isinstance(n, ast.JoinedStr)
            and any(
                isinstance(v, ast.Constant) and ".parquet" in str(v.value)
                for v in n.values
            )
        }
    return [f"{filename}:{line}" for line in sorted(lines)]


def test_package_reads_index_tables_through_lsh_index():
    offenders = _package_offenders(index_path_sites)
    assert not offenders, (
        "LSH index table paths built outside lsh_index.py (read through "
        "lsh_index._committed and the committed meta instead): "
        + ", ".join(offenders)
    )


def test_index_path_lint_is_live():
    """The index-path rule flags a raw table read — by literal name, or by
    an f-string in a module that imports ``lsh_index``, the shape of a
    lifecycle check comparing two indexes — and passes ``lsh_index.py``
    itself and other modules' ``.parquet`` f-strings."""
    flagged = index_path_sites(
        "from ..lsh_index import build_lsh_index\n"
        "def rows(spark, d, name):\n"
        "    a = spark.read.parquet(f'{d}/bands.parquet')\n"
        "    return spark.read.parquet(f'{d}/{name}.parquet')\n",
        "pkg/queries/lsh_lifecycle.py",
    )
    assert flagged == [
        "pkg/queries/lsh_lifecycle.py:3",
        "pkg/queries/lsh_lifecycle.py:4",
    ]
    assert index_path_sites(
        "import etl_bom_radiation_spark.lsh_index as L\n"
        "p = f'{d}/{n}.parquet'\n"
    ) == ["<mem>:2"]
    assert index_path_sites("p = f'{d}/hsets.parquet'\n", "pkg/lsh_index.py") == []
    assert index_path_sites(
        "def load(spark, sf_dir, n):\n"
        "    return spark.read.parquet(f'{sf_dir}/{n}.parquet')\n"
    ) == []
