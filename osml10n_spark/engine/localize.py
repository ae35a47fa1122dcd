"""The flagship pipeline: caption localization over an image+caption
table, geo-partitioned — osml10n's per-record dataflow lifted into a
set-oriented Spark plan (SURVEY.md §2.8 C1-C3, §3 EP1).

Plan shape (all declarative; Catalyst handles pruning/codegen):

 1. One Arrow-batched pandas UDF running the full cascade +
    combined-name heuristic + transliteration; country resolution uses
    the per-executor prepared cover lookup (no shuffle — the polygon
    index is broadcast state, a map-side spatial join).  Only the UDF's
    input columns (tags JSON, lon, lat) cross the Arrow boundary — payload
    bytes never leave the JVM.  Latin-name rows early-return inside the
    kernel at ~µs cost, so a single pass beats splitting (measured:
    0.56s vs 1.09s on 150k rows — the split's second scan of the source
    costs more than Python transfer saves at text-caption row widths).
 2. cell_id / tile_id assignment as pure JVM bit-math expressions
    (whole-stage codegen, bit-identical to the numpy kernels).

A ``when(cond, fast).otherwise(udf)`` does NOT gate a pandas UDF —
ArrowEvalPython is hoisted and evaluated for every row — so cheap rows
are skipped inside the UDF instead: the ASCII single-name fast path and
the per-worker memos of udfs._batch_localize.  Callers that want write
locality repartition for themselves (engine/job.py, sources/sinks.py).

The image payload columns (bytes/w/h/fmt/phash) are carried through
untouched — integrity is asserted by tests/test_pipeline.py via PSNR
and caption byte-equality.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..udfs import make_cascade_udf

__all__ = ["localize"]


def localize(df: DataFrame, target_lang: str = "en", *,
             is_street: bool = False, localized_name_last: bool = False,
             separator: str | None = None, tags_col: str = "tags",
             lon_col: str = "lon", lat_col: str = "lat",
             out_col: str = "caption_l10n", cell_res: int = 9,
             tile_z: int = 8, tile_maxz: int = 16,
             add_cells: bool = True) -> DataFrame:
    """Append ``caption_l10n`` (+ ``cell_id``/``tile_id``) to ``df``."""
    if separator is None:
        separator = " - " if is_street else "\n"

    # tags travel to Python as a JSON string: Arrow map-type writes
    # contend on the shared JVM allocator and anti-scale (see
    # udfs._batch_localize); to_json is whole-stage-codegen JVM work.
    # Job constants (target/order/sep) are closed over in the UDF, not
    # shipped per row — the Arrow stream is (tags_json, lon, lat) only.
    udf = make_cascade_udf("streetname" if is_street else "placename",
                           target_lang, localized_name_last, separator)
    out = df.withColumn(out_col, udf(F.to_json(F.col(tags_col)),
                                     F.col(lon_col), F.col(lat_col)))
    if add_cells:
        # pure JVM bit math (whole-stage codegen) — no Python crossing
        from ..spatial.cellexpr import cell_expr, tile_expr
        out = out.withColumn("cell_id",
                             cell_expr(F.col(lon_col), F.col(lat_col), cell_res))
        out = out.withColumn("tile_id",
                             tile_expr(F.col(lon_col), F.col(lat_col),
                                       tile_z, tile_maxz))
    return out
