"""Batch job runner: localize → geo-partition → snapshot commit with
lineage + metrics in the manifest, resumable mid-run.

``run_localization_job`` processes the input in partition groups keyed
by a coarse cell prefix (parent cell at a low resolution).  One
aggregate over the localized frame yields every prefix's lineage row —
it reads no ``caption_l10n``, so column pruning keeps the cascade UDF
out of it.  Each group then commits its own snapshot with one Spark
action, the data write: the ``cell_prefix`` filter sits below the UDF,
so every row is localized once.  Killing the job between commits and
rerunning resumes from the manifests and produces the identical final
table (tests/test_snapshots.py proves it).
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..spatial.cellexpr import cell_expr
from .localize import localize
from .metrics import lineage, observe_localization
from .snapshots import SnapshotStore

__all__ = ["run_localization_job", "add_cell_prefix"]

PREFIX_RES = 2       # 8×4 world buckets → snapshot partition groups


def add_cell_prefix(df: DataFrame, lon_col: str = "lon", lat_col: str = "lat",
                    out_col: str = "cell_prefix") -> DataFrame:
    return df.withColumn(out_col,
                         cell_expr(F.col(lon_col), F.col(lat_col), PREFIX_RES))


def run_localization_job(spark: SparkSession, images: DataFrame, store_root: str,
                         target_lang: str = "en", groups_per_commit: int = 8,
                         max_commits: int | None = None) -> dict:
    """Returns a summary dict with snapshots committed and metrics."""
    store = SnapshotStore(store_root)
    localized = localize(add_cell_prefix(images), target_lang)

    done = store.completed_partitions()
    lineage_rows = {r.cell_prefix: r.asDict()
                    for r in lineage(localized).collect()}
    todo = sorted(p for p in lineage_rows if p not in done)

    committed = []
    for i in range(0, len(todo), groups_per_commit):
        if max_commits is not None and len(committed) >= max_commits:
            break
        batch_keys = todo[i:i + groups_per_commit]
        result = localized.filter(F.col("cell_prefix").isin(batch_keys)) \
            .repartition(F.col("cell_prefix")) \
            .sortWithinPartitions("cell_id", "tile_id")
        observed, obs = observe_localization(result)
        committed.append(store.commit(
            observed, batch_keys, metrics=obs,
            lineage=[lineage_rows[k] for k in batch_keys]))
    return {"snapshots": [m["snapshot_id"] for m in committed],
            "total_rows": sum(m["row_count"] for m in committed),
            "resumed_from": len(done)}
