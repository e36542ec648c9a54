import shutil
import tempfile

import pytest

from lakota_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    spark = get_spark("lakota-spark-tests", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    yield spark


@pytest.fixture()
def repo(spark):
    from lakota_spark.repo import Repo

    root = tempfile.mkdtemp(prefix="lakota-spark-test-")
    yield Repo(root, spark)
    shutil.rmtree(root, ignore_errors=True)


@pytest.fixture(params=["file", "http", "memory"])
def any_repo(request, spark):
    """Storage-matrix fixture (reference `tests/conftest.py:29-41`): the
    same engine suite runs over the local backend, a live HTTP repo
    server (HttpFS + read-through CacheFS), and the in-process MemFS."""
    import contextlib
    import uuid

    from lakota_spark.repo import Repo

    root = tempfile.mkdtemp(prefix="lakota-spark-test-")
    with contextlib.ExitStack() as stack:
        if request.param == "http":
            from lakota_spark.server import serve

            url = stack.enter_context(serve(root))
            yield Repo(url, spark)
        elif request.param == "memory":
            from lakota_spark.fsio import MemFS

            uri = f"memory://test-{uuid.uuid4().hex}"
            try:
                yield Repo(uri, spark)
            finally:
                MemFS._STORES.pop(uri, None)
        else:
            yield Repo(root, spark)
    shutil.rmtree(root, ignore_errors=True)


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
