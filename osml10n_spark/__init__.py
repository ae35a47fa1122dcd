"""osml10n_spark — a PySpark-native spatial-join + caption-localization
engine with the capabilities of giggls/osml10n, rebuilt Spark-first.

Public API:
    osml10n_spark.kernels   — pure localization kernels (golden parity)
    osml10n_spark.spatial   — packed geometry, cell index, covers
    osml10n_spark.operators — spatial join, kNN, tiles, dedup, images
    osml10n_spark.engine    — localize() pipeline, snapshots, metrics
    osml10n_spark.udfs      — pandas UDF wrappers + SQL registration
"""
__version__ = "0.1.0"


def __getattr__(name):
    """Lazy top-level conveniences: ``from osml10n_spark import
    localize, build_session, register_all`` without importing pyspark
    at package-import time."""
    if name == "localize":
        from .engine.localize import localize
        return localize
    if name == "build_session":
        from .engine.session import build_session
        return build_session
    if name == "register_all":
        from .udfs import register_all
        return register_all
    raise AttributeError(name)
