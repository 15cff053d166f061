"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)       — flagship: full quality-filter decisions on the
                     synthetic pages table derived from sf0.001.
queries()          — operator-parity registry (SURVEY.md §2) — each
                     callable takes (spark, sf_dir) → DataFrame.
oracle_sql()       — matching DuckDB SQL per query (column names and
                     rounding aligned for value-hash comparison).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from wtq.generate import ensure_pages  # noqa: E402
from wtq.pipeline import decisions_view, run_pipeline  # noqa: E402
from wtq.queries import ORACLE_SQL, QUERIES  # noqa: E402


def _pin_utc(spark: SparkSession) -> None:
    """The testdata timestamps are TIMESTAMP_NTZ and the DuckDB oracle
    reads them as naive-UTC; epoch-emitting queries therefore require a
    UTC session timezone regardless of how the caller configured the
    session."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query: language-ID + heuristic rules + PII/toxicity
    scrub over Common-Crawl-style pages; returns the decisions table
    (url, keep, fired_rules) — the err_all analog."""
    _pin_utc(spark)
    pages_path = ensure_pages("/root/testdata/sf0.001")
    res = run_pipeline(spark, pages_path, num_partitions=16)
    return decisions_view(res.decided)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    def wrap(f):
        def g(spark: SparkSession, sf_dir: str) -> DataFrame:
            _pin_utc(spark)
            return f(spark, sf_dir)

        return g

    return {name: wrap(f) for name, f in QUERIES.items()}


def oracle_sql() -> dict[str, str]:
    return dict(ORACLE_SQL)
