"""The package keeps Python workers from re-reading zip archives before every task."""

import sys
import zipimport

import pandas as pd
import pytest
from pyspark.sql.functions import pandas_udf


def test_worker_tasks_do_not_reread_zip_archives(spark):
    @pandas_udf("array<long>")
    def rereads(ids: pd.Series) -> pd.Series:
        import importlib
        import sys
        import zipimport

        import corpus_dedup_spark  # noqa: F401 - installs the guard in the worker

        n = [0]
        read_directory = zipimport._read_directory

        def counted(path):
            n[0] += 1
            return read_directory(path)

        zipimport._read_directory = counted
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read_directory
        held = sum(isinstance(f, zipimport.zipimporter)
                   for f in sys.path_importer_cache.values())
        return pd.Series([[n[0], held, sys.version_info[1]]] * len(ids))

    df = spark.range(0, 40, numPartitions=4)
    rows = [r[0] for r in df.select(rereads("id")).collect()]
    assert len(rows) == 40
    if any(minor >= 13 for _, _, minor in rows):
        pytest.skip("CPython >= 3.13 reads zip directories lazily")
    if not any(held for _, held, _ in rows):
        pytest.skip("the worker holds no zipimporter")
    assert [n for n, _, _ in rows] == [0] * 40, rows
    # the driver's import machinery is untouched
    assert zipimport.zipimporter.invalidate_caches.__module__ == "zipimport"
    assert "corpus_dedup_spark" in sys.modules
