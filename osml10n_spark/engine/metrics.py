"""Observable metrics + per-partition lineage (north_rule requirement).

- observe_localization: attaches a named Observation to the pipeline
  DataFrame (rows, empty outputs, approximate distinct cells) —
  collected for free with the action that materializes the plan.
- lineage: one row per cell prefix (rows out, tiles, min/max id,
  payload bytes) — recorded in each snapshot manifest by run_job.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, Observation, functions as F

__all__ = ["observe_localization", "lineage"]


def observe_localization(df: DataFrame, name: str = "localize"):
    obs = Observation(name)
    observed = df.observe(
        obs,
        F.count(F.lit(1)).alias("rows"),
        F.sum(F.when(F.col("caption_l10n") == "", 1).otherwise(0)).alias("empty_out"),
        F.approx_count_distinct("cell_id").alias("approx_cells"),
    )
    return observed, obs


def lineage(df: DataFrame, prefix_col: str = "cell_prefix") -> DataFrame:
    agg = [
        F.count(F.lit(1)).alias("rows_out"),
        F.approx_count_distinct("tile_id").alias("tiles"),
        F.min("image_id").alias("min_id"),
        F.max("image_id").alias("max_id"),
    ]
    if "bytes" in df.columns:
        agg.append(F.sum(F.length("bytes")).alias("payload_bytes"))
    return df.groupBy(prefix_col).agg(*agg)
