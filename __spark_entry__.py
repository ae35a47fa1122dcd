"""Driver contract for the spark-graft builder (PySpark target).

Thin wrapper over osml10n_spark.contract — one queries() entry per
implemented operator from SURVEY.md §2.  Every query carries a DuckDB
oracle (79/79): SQL re-derivation where expressible,
replay-literal pinning (driver-side kernel replay, no Spark) for the
pixel/iterative paths.
"""
from __future__ import annotations

import sys
from collections.abc import Callable, Mapping
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, str(Path(__file__).resolve().parent))


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: localization + cell/tile assignment over a
    documents-derived image+caption table at sf0.001."""
    from osml10n_spark.contract import flagship
    return flagship(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from osml10n_spark.contract import QUERIES
    return dict(QUERIES)


def oracle_sql() -> Mapping[str, str]:
    from osml10n_spark.contract import resolve_oracles
    return resolve_oracles()
