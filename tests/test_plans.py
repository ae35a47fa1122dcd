"""Plan-shape regression tests: the scale claims in SURVEY.md §4 as
assertions over the optimized physical plan.

- payload bytes pruned out of scans that don't touch pixels,
- predicate pushdown reaching the parquet source,
- broadcast joins for dimension sides,
- the flagship localization pipeline is map-side only (zero shuffles),
- exactly one Arrow Python island in the cascade (no row-at-a-time
  BatchEvalPython anywhere),
- whole-stage codegen present around the JVM ladders.
"""
import pytest
from pyspark.sql import functions as F

from osml10n_spark.plans import (
    assert_broadcast_join, assert_column_pruned, assert_filter_pushed,
    assert_no_shuffle, exchange_count, python_eval_count,
    wholestage_codegen_count,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def staged(spark, tmp_path_factory):
    """A tiny input-hint-shaped table WITH payload bytes on disk."""
    from osml10n_spark.sources.datagen import generate_images
    path = str(tmp_path_factory.mktemp("plans") / "images")
    generate_images(spark, 200, seed=5).write.mode("overwrite").parquet(path)
    return path


def test_payload_pruned_from_projection(spark, staged):
    df = spark.read.parquet(staged).select("image_id", "caption")
    assert_column_pruned(df, ["bytes", "phash", "w", "h"])


def test_localize_prunes_payload_from_python_island(spark, staged):
    """The cascade UDF reads id/tags/lon/lat only; bytes must stay
    JVM-side (they cross into Python never — input_hint invariant)."""
    from osml10n_spark.engine.localize import localize
    df = localize(spark.read.parquet(staged), "de") \
        .select("image_id", "caption_l10n", "cell_id", "tile_id")
    # projection down to non-payload output → scan must prune bytes
    assert_column_pruned(df, ["bytes"])


def test_filter_pushdown_reaches_parquet(spark):
    df = spark.read.parquet(f"{SF}/orders.parquet") \
        .filter(F.col("o_orderkey") < 100).select("o_orderkey")
    assert_filter_pushed(df, "o_orderkey")


def test_flagship_pipeline_is_map_side_only(spark, staged):
    """localize = cascade UDF + cell/tile bit-math: no groupBy, no join
    shuffle — the polygon index is per-executor broadcast state."""
    from osml10n_spark.engine.localize import localize
    df = localize(spark.read.parquet(staged), "de")
    assert_no_shuffle(df)
    # exactly ONE Arrow island (the cascade) — cell/tile ids are pure
    # JVM bit-math expressions since spatial/cellexpr.py
    assert python_eval_count(df) == 1


def test_dim_rollup_uses_broadcast_joins(spark):
    o = spark.read.parquet(f"{SF}/orders.parquet")
    c = spark.read.parquet(f"{SF}/customer.parquet")
    joined = o.join(F.broadcast(c), o.o_custkey == c.c_custkey) \
        .groupBy("c_nationkey").count()
    assert_broadcast_join(joined)


def test_agg_has_single_shuffle_and_codegen(spark):
    l = spark.read.parquet(f"{SF}/lineitem.parquet")
    agg = l.groupBy("l_returnflag").agg(F.count("*").alias("n"))
    assert exchange_count(agg) == 1          # one partial→final shuffle
    # codegen subtrees are only enumerable pre-AQE; toggle it briefly
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        agg2 = l.groupBy("l_returnflag").agg(F.count("*").alias("n"))
        assert wholestage_codegen_count(agg2) >= 1
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def test_no_row_at_a_time_python_anywhere(spark, staged):
    """Every Python crossing in the engine is Arrow-vectorized."""
    from osml10n_spark.engine.localize import localize
    from osml10n_spark.operators.spatial import assign_country
    from osml10n_spark.plans import physical_plan
    for df in (localize(spark.read.parquet(staged), "de"),
               assign_country(spark.read.parquet(staged),
                              gate_name_col="caption")):
        assert "BatchEvalPython" not in physical_plan(df, "simple")


def test_bucketed_join_eliminates_shuffle(spark, tmp_path_factory, staged):
    """Pre-bucketing both sides on cell_id makes the join shuffle-free
    (co-located scan), the strategy for repeated big-big joins at 100 TB
    — broadcast disabled so the proof is the bucketing, not a BHJ."""
    from osml10n_spark.operators.spatial import assign_cells
    wh = str(tmp_path_factory.mktemp("warehouse"))
    cells = assign_cells(spark.read.parquet(staged), res=5) \
        .select("image_id", "cell_id", "caption")
    spark.sql("DROP TABLE IF EXISTS b_left")
    spark.sql("DROP TABLE IF EXISTS b_right")
    cells.write.bucketBy(8, "cell_id").sortBy("cell_id") \
        .option("path", f"{wh}/b_left").mode("overwrite").saveAsTable("b_left")
    cells.groupBy("cell_id").count().write.bucketBy(8, "cell_id") \
        .option("path", f"{wh}/b_right").mode("overwrite").saveAsTable("b_right")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table("b_left").join(spark.table("b_right"), "cell_id")
        assert exchange_count(joined) == 0, "bucketed join must not shuffle"
        assert joined.count() == spark.table("b_left").count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold",
                       str(64 * 1024 * 1024))
        spark.sql("DROP TABLE IF EXISTS b_left")
        spark.sql("DROP TABLE IF EXISTS b_right")


def test_image_dup_pairs_plan_is_equijoin_and_pruned(spark, staged):
    """The banded Hamming join must plan as an equi-join on (band,
    bkey) — no cartesian / nested-loop anywhere — and the image payload
    bytes must be pruned from the scan: at 100 TB the exchange carries
    (id, phash), not pixels."""
    from osml10n_spark.operators.multimodal import image_dup_pairs
    from osml10n_spark.plans import physical_plan
    df = image_dup_pairs(spark.read.parquet(staged))
    plan = physical_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert_column_pruned(df, ["bytes", "caption", "tags"])


def test_knn_ring_explode_is_jvm_only(spark):
    """The static-offset k-ring explode stays entirely in the JVM: no
    Python island of any kind in the fan-out plan."""
    from osml10n_spark.operators.spatial import (_explode_neighbor_cells,
                                                 assign_cells)
    from osml10n_spark.plans import physical_plan
    pts = spark.createDataFrame(
        [(i, float(i), float(i % 80) - 40.0) for i in range(100)],
        "qid long, lon double, lat double")
    plan = physical_plan(_explode_neighbor_cells(assign_cells(pts, 7),
                                                 "cell_id", 7, 2))
    assert "ArrowEvalPython" not in plan
    assert "BatchEvalPython" not in plan
    assert "Generate explode" in plan or "Generate" in plan


def test_knn_cells_plan_is_one_cogroup(spark):
    """knn_cells is one tile-grouped pass: exactly one cogroup pandas
    island, and no cartesian or nested-loop join anywhere."""
    from osml10n_spark.operators.spatial import knn_cells
    from osml10n_spark.plans import physical_plan
    q = spark.createDataFrame(
        [(f"q{i}", float(i % 60) - 30.0, float(i % 30) - 15.0)
         for i in range(50)], "qid string, lon double, lat double")
    items = spark.createDataFrame(
        [(f"i{i}", float(i % 60) - 30.0, float(i % 30) - 15.0 + 0.001 * i)
         for i in range(2000)], "iid string, lon double, lat double")
    out = knn_cells(q, items, 3, res=7)
    # the result is cached and materialized: check the adaptive plan
    # that ran, not the initial plan printed after it
    plan = physical_plan(out, mode="simple").split("== Initial Plan ==")[0]
    out.unpersist()
    assert plan.count("FlatMapCoGroupsInPandas") == 1, plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_knn_geo_bq_plan_has_no_candidate_shuffle(spark):
    """The broadcast-queries brute plan (knn_cells residue path) never
    materializes or shuffles the q x n candidate space: no join of any
    kind, exactly one MapInPandas over the items scan, and the only
    Exchange is the final window over the tiny nq*k partial frame."""
    from osml10n_spark.operators.spatial import knn_geo_bq
    from osml10n_spark.plans import physical_plan
    q = spark.createDataFrame(
        [(f"q{i}", float(i), float(i % 40) - 20.0) for i in range(8)],
        "qid string, lon double, lat double")
    items = spark.createDataFrame(
        [(f"i{i}", float(i % 60) - 30.0, float(i % 30) - 15.0)
         for i in range(500)],
        "iid string, lon double, lat double")
    plan = physical_plan(knn_geo_bq(q, items, 3), mode="simple")
    assert "Join" not in plan and "CartesianProduct" not in plan
    assert plan.count("MapInPandas") == 1
    assert plan.count("Exchange") == 1, plan


def test_tiled_layout_prunes_partitions(spark, tmp_path_factory, staged):
    """The geo-partitioned write layout gives partition pruning for
    cell-prefix predicates: the scan must list a PartitionFilter and
    read only the matching directory."""
    from pyspark.sql import functions as F
    from osml10n_spark.sources.sinks import write_tiled
    from osml10n_spark.plans import physical_plan
    out = str(tmp_path_factory.mktemp("tiled") / "data")
    write_tiled(spark.read.parquet(staged), out)
    tiled = spark.read.parquet(out)
    one_prefix = tiled.select("cell_prefix").first()[0]
    q = tiled.filter(F.col("cell_prefix") == one_prefix).select("image_id")
    plan = physical_plan(q)
    assert "PartitionFilters: [" in plan
    assert "cell_prefix" in plan.split("PartitionFilters:")[1].split("]")[0]
    # pruning is real: the pruned scan reads fewer files than the table
    n_parts = tiled.select("cell_prefix").distinct().count()
    assert n_parts > 1
    assert q.count() == tiled.filter(F.col("cell_prefix") == one_prefix).count()


def test_cell_density_is_histogram_convolution(spark):
    """The smoothing must run on the histogram, not the rows: plan is
    two aggregations with the static-offset explode between them — NO
    join of any kind, no Python eval (the heavy side is the one
    partial-aggregated histogram shuffle; the explode touches only
    occupied cells)."""
    from osml10n_spark.operators.spatial import cell_density
    from osml10n_spark.plans.inspect import physical_plan
    df = spark.createDataFrame([(i, float(i % 17) * 3 - 20.0,
                                 float(i % 11) * 4 - 20.0)
                                for i in range(200)],
                               "id long, lon double, lat double")
    out = cell_density(df, res=6, k=1)
    plan = physical_plan(out, mode="simple")
    assert "Join" not in plan and "CartesianProduct" not in plan
    assert python_eval_count(out) == 0
    assert exchange_count(out) == 2     # row→hist + hist→density aggs


def test_headline_pipelines_compile_under_wholestage_codegen(spark):
    """No silent interpreted fallback on the localization pipelines:
    with spark.sql.codegen.fallback=false a janino failure ("Code grows
    beyond 64 KB") becomes a hard error instead of a silent
    constant-factor tax.  Every stage of the mixed-script cascade
    (q_localize_mixed) and of the flagship documents pipeline with
    cell and tile ids (q_localize_documents) must COMPILE, not merely
    run."""
    from osml10n_spark.contract import REGISTRY
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try:
        for q in ("q_localize_mixed", "q_localize_documents"):
            rows = REGISTRY[q].run(spark, SF).collect()
            assert rows, f"{q} returned no rows"
    finally:
        spark.conf.set("spark.sql.codegen.fallback", "true")


def _localized_job_input(spark, staged):
    """The frame run_localization_job builds once per job."""
    from osml10n_spark.engine.job import add_cell_prefix
    from osml10n_spark.engine.localize import localize
    return localize(add_cell_prefix(spark.read.parquet(staged)), "de")


def test_job_lineage_scan_prunes_the_cascade(spark, staged):
    """The job's one pre-commit scan (lineage rows + todo prefixes)
    reads no caption_l10n, so column pruning drops the Python island."""
    from osml10n_spark.engine.metrics import lineage
    assert python_eval_count(lineage(_localized_job_input(spark, staged))) == 0


def test_job_commit_filter_sits_below_the_cascade(spark, staged):
    """Each commit filters the shared localized frame by cell_prefix;
    Catalyst must push that Filter below ArrowEvalPython, so every row
    is localized once per job, not once per commit."""
    from osml10n_spark.plans import physical_plan
    batch = _localized_job_input(spark, staged) \
        .filter(F.col("cell_prefix").isin([1, 2])) \
        .repartition(F.col("cell_prefix")).sortWithinPartitions("cell_id")
    ops = [ln.strip().lstrip("+- :") for ln in
           physical_plan(batch, "simple").splitlines()]
    arrow = [i for i, op in enumerate(ops) if op.startswith("ArrowEvalPython")]
    filters = [i for i, op in enumerate(ops) if op.startswith("Filter ")]
    assert len(arrow) == 1 and filters, ops
    assert min(filters) > arrow[0]          # printed below = runs before
