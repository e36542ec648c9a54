"""lakota_spark — a PySpark-native, versioned, columnar time-series engine.

A from-scratch re-expression of the capabilities of bertrandchenal/lakota
(reference surveyed in SURVEY.md) on top of Apache Spark:

- Storage: sorted Parquet segment files + a JSON commit log reproducing the
  reference's changelog semantics (leaves, branches, time-travel, overlay
  writes) — see `lakota/changelog.py:17-122` and `lakota/commit.py:263-359`
  in the reference for the *semantics* being reproduced (not the code).
- Query: stock DataFrame/Catalyst. The engine only resolves a snapshot to a
  file list + per-segment bounds and hands Spark a declarative plan, so
  column pruning, predicate pushdown and vectorized execution are free.
- Extensions: relational queries (joins/windows/set-ops), large-scale
  training-data operators (dedup, similarity search, text analysis,
  multimodal plumbing) — all plain PySpark.
"""

from lakota_spark import zipcache

# First, before anything else imports: a Python worker that runs lakota
# code stops re-reading pyspark.zip's directory at every task start.
zipcache.install()

from lakota_spark.session import get_spark  # noqa: E402

__version__ = "0.1.0"


def __getattr__(name):  # lazy: storage engine imports only when used
    if name in ("Schema", "Repo", "Collection", "Series", "KVSeries"):
        import importlib

        mod = {
            "Schema": "schema",
            "Repo": "repo",
            "Collection": "collection",
            "Series": "series",
            "KVSeries": "series",
        }[name]
        return getattr(importlib.import_module(f"lakota_spark.{mod}"), name)
    raise AttributeError(name)

__all__ = [
    "Schema",
    "Repo",
    "Collection",
    "Series",
    "KVSeries",
    "get_spark",
    "__version__",
]
