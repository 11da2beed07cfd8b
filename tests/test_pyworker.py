"""``forget_zip_importers``: imports survive it, and tasks on reused Python
workers start with no zip importer left for ``invalidate_caches`` to
re-read."""

from __future__ import annotations

import os
import sys
import zipfile
import zipimport

import pandas as pd

from language_identification_spark.pyworker import forget_zip_importers


def test_zip_module_still_imports_after_forget(tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("zmod_a.py", "VALUE = 1\n")
        z.writestr("zmod_b.py", "VALUE = 2\n")
    monkeypatch.syspath_prepend(archive)
    for name in ("zmod_a", "zmod_b"):
        monkeypatch.delitem(sys.modules, name, raising=False)

    import zmod_a

    assert isinstance(sys.path_importer_cache[archive], zipimport.zipimporter)
    forget_zip_importers()
    assert not any(
        isinstance(f, zipimport.zipimporter) for f in sys.path_importer_cache.values()
    )
    assert zmod_a.VALUE == 1
    import zmod_b  # rebuilds only the importer it needs

    assert zmod_b.VALUE == 2
    assert isinstance(sys.path_importer_cache[archive], zipimport.zipimporter)
    forget_zip_importers()  # no importer outlives the temporary archive


def test_reused_workers_start_tasks_without_zip_importers(spark):
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import LongType, StructField, StructType

    from language_identification_spark.operators.dedup import _simhash_batch

    # count first, then run a package batch function (which calls the helper)
    def probe(texts: pd.Series) -> pd.DataFrame:
        n_zip = sum(
            isinstance(f, zipimport.zipimporter)
            for f in sys.path_importer_cache.values()
        )
        _simhash_batch(texts)
        return pd.DataFrame({"pid": os.getpid(), "n_zip": n_zip}, index=texts.index)

    schema = StructType(
        [StructField("pid", LongType()), StructField("n_zip", LongType())]
    )
    probe_udf = pandas_udf(probe, schema)
    df = spark.range(0, 64, numPartitions=16).selectExpr("cast(id as string) as t")

    def run() -> list:
        return df.select(probe_udf("t").alias("p")).select("p.*").distinct().collect()

    first_pids = {r.pid for r in run()}
    reused = [r for r in run() if r.pid in first_pids]
    assert reused, "no Python worker was reused"
    assert all(r.n_zip == 0 for r in reused), reused
