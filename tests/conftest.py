import contextlib
import shutil
import tempfile
import uuid

import pytest

from lakota_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    spark = get_spark("lakota-spark-tests", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    yield spark


@pytest.fixture()
def count_jobs(spark):
    """``count_jobs(fn)``: the Spark jobs ``fn()`` starts on this
    thread."""
    sc = spark.sparkContext

    def count(fn) -> int:
        group = f"lakota-count-jobs-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    return count


@pytest.fixture()
def repo(spark):
    from lakota_spark.repo import Repo

    root = tempfile.mkdtemp(prefix="lakota-spark-test-")
    yield Repo(root, spark)
    shutil.rmtree(root, ignore_errors=True)


@contextlib.contextmanager
def backend_repo(kind: str, spark):
    """A fresh repo on the ``kind`` backend: ``file`` (local), ``http``
    (a live HTTP repo server: HttpFS + read-through CacheFS) or
    ``memory`` (the in-process MemFS)."""
    from lakota_spark.repo import Repo

    root = tempfile.mkdtemp(prefix="lakota-spark-test-")
    with contextlib.ExitStack() as stack:
        if kind == "http":
            from lakota_spark.server import serve

            url = stack.enter_context(serve(root))
            yield Repo(url, spark)
        elif kind == "memory":
            from lakota_spark.fsio import MemFS

            uri = f"memory://test-{uuid.uuid4().hex}"
            try:
                yield Repo(uri, spark)
            finally:
                MemFS._STORES.pop(uri, None)
        else:
            yield Repo(root, spark)
    shutil.rmtree(root, ignore_errors=True)


@pytest.fixture(params=["file", "http", "memory"])
def any_repo(request, spark):
    """Storage-matrix fixture (reference `tests/conftest.py:29-41`): the
    same engine suite runs over every `backend_repo` kind."""
    with backend_repo(request.param, spark) as repo:
        yield repo


@pytest.fixture(scope="module", params=["http", "memory"])
def module_store_repo(request, spark):
    """One `backend_repo` per non-file backend, shared by a module's
    tests (the file backend is the default ``Repo`` of every suite)."""
    with backend_repo(request.param, spark) as repo:
        yield repo


@pytest.fixture()
def planned(monkeypatch):
    """Every `segscan.partitions` result (the planned chunks of each
    segment read) in call order; the planner itself is unchanged."""
    from lakota_spark import segscan

    seen = []
    real = segscan.partitions

    def spy(*args, **kwargs):
        seen.append(real(*args, **kwargs))
        return seen[-1]

    monkeypatch.setattr(segscan, "partitions", spy)
    return seen
