"""Wiring of the session factory's worker settings."""

from __future__ import annotations

import pytest


def test_workers_use_stat_checked_zip_importers(spark):
    """Python workers of a local session come from swingstream.pydaemon:
    every zip importer they hold is the stat-checked one."""
    master = spark.sparkContext.master
    if not (master == "local" or master.startswith("local[")):
        pytest.skip("only local masters use the swingstream worker daemon")

    def zip_finder_classes(batches):
        import sys
        import zipimport

        import pandas as pd

        for _ in batches:
            pass
        names = sorted({type(f).__name__
                        for f in sys.path_importer_cache.values()
                        if isinstance(f, zipimport.zipimporter)})
        yield pd.DataFrame({"names": [",".join(names)]})

    rows = (spark.range(0, 4, numPartitions=4)
            .mapInPandas(zip_finder_classes, "names string").collect())
    assert len(rows) == 4
    assert {r["names"] for r in rows} == {"StatCheckedZipImporter"}
