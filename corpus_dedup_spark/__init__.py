"""corpus_dedup_spark — a PySpark-native corpus deduplication + clustering engine.

From-scratch Spark-first reimplementation of the capabilities of the reference corpus
dedup engine (exact unit-level dedup, block-fingerprint substring matching, verify,
search) generalized to web-scale near-dup detection: MinHash/LSH, SimHash, n-gram
Jaccard, embedding cosine, connected-components clustering, with checkpointed,
lineage-tracked, resumable stages.
"""

import sys

__version__ = "0.1.0"


def _keep_zip_directories() -> None:
    """Stop zipimporters re-reading their archives before every PySpark task.

    PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
    every task (``worker_util.setup_spark_files``). On CPython 3.10-3.12 that
    makes every ``zipimporter`` re-read its archive's central directory; the
    worker's path starts with ``pyspark.zip`` (~1,300 entries) and 14-16
    zipimporters point into it, so each task burns ~0.25 s of worker CPU
    before the UDF body starts (0.10-0.12 s per call; CPython 3.13 reads
    lazily and pays ~0.004 s). Every program UDF and ``mapInArrow`` function
    imports this package when the worker unpickles it, so from then on that
    worker skips the reload; its first task still pays it once.

    Skipping it is safe because Spark never rewrites an archive already on a
    worker's path (files added with ``addFile``/``addPyFile`` cannot be
    overwritten), and a new py-file gets a new path, hence a new zipimporter
    that reads its own directory when it is created.

    Acts only inside a PySpark task (``TaskContext.get()`` is set) on CPython
    3.10-3.12. ``pyspark`` is looked at only if something already imported
    it, so the package stays importable without Spark and the driver's
    import machinery is never touched.
    """
    if not (3, 10) <= sys.version_info[:2] <= (3, 12) or "pyspark" not in sys.modules:
        return
    from pyspark.taskcontext import TaskContext

    if TaskContext.get() is None:
        return
    import zipimport

    zipimport.zipimporter.invalidate_caches = _keep_directory


def _keep_directory(self) -> None:
    """``zipimporter.invalidate_caches`` that keeps the directory already read."""


_keep_zip_directories()
