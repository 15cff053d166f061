"""The session's Python workers fork from wtq/daemon.py: a task sees
the daemon's imports frozen out of the garbage collector and, on
CPython < 3.13, importlib.invalidate_caches() leaves every
zipimporter's directory as it was instead of re-reading the archive."""

from __future__ import annotations

import os
import sys

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T


@F.pandas_udf(
    T.StructType(
        [
            T.StructField("frozen", T.LongType()),
            T.StructField("zips", T.LongType()),
            T.StructField("kept", T.BooleanType()),
        ]
    )
)
def _worker_probe(x: pd.Series) -> pd.DataFrame:
    import gc
    import importlib
    import sys
    import zipimport

    zips = [f for f in sys.path_importer_cache.values() if isinstance(f, zipimport.zipimporter)]
    before = [f._files for f in zips]
    importlib.invalidate_caches()
    kept = all(f._files is b for f, b in zip(zips, before))
    return pd.DataFrame(
        {"frozen": gc.get_freeze_count(), "zips": len(zips), "kept": kept}, index=x.index
    )


def test_workers_fork_from_wtq_daemon(spark):
    assert spark.conf.get("spark.python.daemon.module") == "wtq.daemon"
    got = spark.range(4).repartition(2).select(_worker_probe("id").alias("p")).select("p.*").collect()
    assert len(got) == 4
    assert all(r.frozen > 0 for r in got), got
    if sys.version_info < (3, 13):
        assert all(r.kept for r in got), got
    zipped = os.path.join(os.environ.get("SPARK_HOME", ""), "python", "lib", "pyspark.zip")
    if os.path.exists(zipped):  # then the workers import pyspark from it
        assert all(r.zips > 0 for r in got), got
