from __future__ import annotations

import os

import pytest

from etl_bom_radiation_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
ORACLE_SF_DIR = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")


@pytest.fixture(scope="session")
def spark():
    spark = get_spark(app_name="etl_bom_radiation_spark-tests")
    yield spark


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def oracle_sf_dir() -> str:
    return ORACLE_SF_DIR


class LyingFS:
    """Delegates to a real Hadoop FileSystem but makes chosen operations
    fail BY RETURNING FALSE — the Hadoop boolean contract (no exception),
    i.e. the silent failure mode the boolean-return discipline
    exists to surface.  ``fail_renames`` / ``fail_deletes`` are counts of
    matching operations to lie about (the real operation is NOT
    performed); ``path_match`` optionally scopes the lie to paths whose
    string contains the substring."""

    def __init__(self, fs, fail_renames=0, fail_deletes=0, path_match=""):
        self._fs = fs
        self._fail_renames = fail_renames
        self._fail_deletes = fail_deletes
        self._path_match = path_match

    def __getattr__(self, name):
        return getattr(self._fs, name)

    def rename(self, src, dst):
        if self._fail_renames > 0 and self._path_match in src.toString():
            self._fail_renames -= 1
            return False
        return self._fs.rename(src, dst)

    def delete(self, path, recursive):
        if self._fail_deletes > 0 and self._path_match in path.toString():
            self._fail_deletes -= 1
            return False
        return self._fs.delete(path, recursive)


def index_rows(spark, index_dir):
    """Sorted ``(bands, hsets)`` rows of an LSH index's committed snapshot:
    the generations its latest meta version names, read the way every
    index read is (``lsh_index._committed``), so rows a crashed write left
    are not counted and two indexes compare by content, whatever their
    generation labels."""
    from etl_bom_radiation_spark import lsh_index as L

    gens = L._read_meta(spark, index_dir)["gens"]
    bands = sorted(
        (r.doc_id, r.band, r.bk)
        for r in L._committed(spark, index_dir, "bands", gens).collect()
    )
    hsets = sorted(
        (r.doc_id, tuple(sorted(r.hs)))
        for r in L._committed(spark, index_dir, "hsets", gens).collect()
    )
    return bands, hsets


def jobs_run(spark, fn):
    """``(fn(), ids of the Spark jobs fn ran, SQL plans fn executed)``.
    Jobs are counted through a job group; the plans are the final
    physical plans of the SQL executions that started during the call
    (wall time on a shared box says nothing about the mechanism)."""
    import uuid

    sc = spark.sparkContext
    store = spark._jsparkSession.sharedState().statusStore()

    def executions():
        it = store.executionsList().iterator()
        out = {}
        while it.hasNext():
            e = it.next()
            out[e.executionId()] = e.physicalPlanDescription()
        return out

    before = set(executions())
    group = f"jobs-run-{uuid.uuid4().hex}"
    keys = ("spark.jobGroup.id", "spark.job.description")
    prev = [sc.getLocalProperty(k) for k in keys]
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        for k, v in zip(keys, prev):
            sc.setLocalProperty(k, v)
    plans = [p for i, p in executions().items() if i not in before]
    return out, list(sc.statusTracker().getJobIdsForGroup(group)), plans
