"""End-to-end training-data curation pipeline: the engine's operators
composed the way a pretraining-corpus build actually uses them —

    exact dedup  →  quality gate (Gopher rules + repetition)  →
    language profile  →  caption localization  →  metrics

One call, DataFrame in / DataFrame out, every stage built from the
already-oracled operators so the composition itself stays verifiable:
the driver-contract query q_curate re-derives the full latin-path
output (dedup keep-set, quality signals, kept-row predicate, localized
caption) in DuckDB.

Plan shape at scale: ONE shuffle total — the dedup is a single
``groupBy(md5).agg(min_by(struct(row), id))`` whose partial aggregate
collapses duplicate rows map-side BEFORE the exchange (no join back;
tests/test_plans.py pins exchange_count == 1); the quality gate and
language profile are map-side JVM expressions; localization adds its
single Arrow island.  Metrics ride ``df.observe`` (no extra action).
"""
from __future__ import annotations

from pyspark.sql import DataFrame, Observation, functions as F

from ..operators.dedup import normalize_text
from ..operators.textops import add_gopher_flags, lang_id, repetition_ratio

__all__ = ["curate"]


def curate(df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
           *, max_repetition: float = 0.3, near_dup: str | None = None,
           near_dup_threshold: float = 0.8,
           checkpoint_dir: str | None = None,
           localize_to: str | None = None,
           lon_col: str | None = None, lat_col: str | None = None,
           with_metrics: bool = True):
    """Curate a document corpus.  Returns ``(out_df, observation)`` —
    ``observation.get`` yields rows_kept / avg_words / avg_repetition /
    n_langs after the first action on ``out_df`` (None observation when
    ``with_metrics=False``).

    Stages:
    1. exact dedup: md5(normalized text) — minimum id survives;
    2. quality gate: Gopher pass flag AND word-bigram repetition ≤
       ``max_repetition``;
    2b. optional NEAR-dup removal (``near_dup='minhash'``): LSH pairs
       (``minhash_dup_pairs`` at ``near_dup_threshold`` Jaccard) →
       transitive closure (``dup_components``) → min-id survivor per
       cluster; losers leave via one anti-join.  Runs AFTER the gate so
       the quadratic-ish candidate machinery only sees surviving rows.
       NOTE: this stage is EAGER (the components fixpoint iterates
       bounded O(log diameter) rounds, each a checkpointed action, and
       the survivor set itself is checkpoint-materialized — see the
       in-branch comments) — the default ``near_dup=None`` path stays
       fully lazy and keeps its pinned one-exchange plan.
       ``checkpoint_dir`` (optional) makes the eagerness
       cluster-reliable: both the components fixpoint and the survivor
       set checkpoint to that directory (an HDFS/S3 path on a real
       cluster) instead of executor-local ``localCheckpoint`` blocks,
       so executor loss mid-stage is survivable;
    3. ``lang`` column from the heuristic language profiler;
    4. optional caption localization (needs lon/lat columns and a
       ``localize_to`` target language) — the kept text becomes the
       ``tags`` map's ``name`` entry, matching the flagship pipeline.
    """
    c = F.col(text_col)
    # survivor selection in ONE shuffle: min_by(struct(row), id) under
    # the md5 group key partial-aggregates map-side, so duplicate rows
    # collapse BEFORE the exchange — replaces the previous narrow
    # groupBy + full-row left-semi join (two shuffles, no map-side dup
    # collapse).  Ids are unique, so min_by is deterministic.
    keyed = df.withColumn("_dup_key", F.md5(normalize_text(c)))
    deduped = (keyed.groupBy("_dup_key")
               .agg(F.min_by(F.struct(*df.columns), F.col(id_col))
                    .alias("_row"))
               .select("_row.*"))

    # add_gopher_flags (not the single-Column gopher_flags): the
    # Generate-barrier form is the one that compiles under whole-stage
    # codegen — the Column form's inlined expression alone exceeds
    # janino's 64 KB method limit (see its docstring)
    rep = repetition_ratio(c, 2)
    out = (add_gopher_flags(deduped, text_col, "quality")
           .withColumn("repetition", rep)
           .withColumn("lang", lang_id(c))
           .withColumn("kept", F.col("quality.gopher_pass")
                       & (F.col("repetition") <= F.lit(max_repetition))))
    kept = out.filter(F.col("kept")).drop("kept")

    if near_dup is not None:
        if near_dup != "minhash":
            raise ValueError("near_dup must be None or 'minhash'")
        from ..operators.dedup import dup_components, minhash_dup_pairs
        # Materialize the gated rows ONCE before the minhash machinery.
        # Two reasons, both scale-real: (1) the pairs computation
        # consumes the gate output four times (signature a/b sides,
        # shingle verify a/b sides) and the final anti-join a fifth —
        # without a barrier each consumer recomputes the dedup-agg +
        # Gopher/lang CASE ladders; (2) fusing those ladders with the
        # 8-band minhash expressions (or with the anti-join consume
        # path) into one whole-stage-codegen unit blows janino's 64 KB
        # method limit ("Code grows beyond 64 KB") and Spark silently
        # falls back to INTERPRETED evaluation — a constant-factor tax
        # on the hottest stage.  The persist + survivor checkpoint
        # split the plan at boundaries every stage compiles under
        # (tests/test_plans.py pins codegen.fallback=false end-to-end).
        gated = kept.persist()
        try:
            pairs = minhash_dup_pairs(gated.select(id_col, text_col),
                                      id_col, text_col,
                                      jaccard_threshold=near_dup_threshold)
            comps = dup_components(pairs, id_col=id_col,
                                   checkpoint_dir=checkpoint_dir)
            losers = comps.filter(~F.col("is_survivor")).select(id_col)
            # loser set is tiny relative to the corpus (it only holds
            # docs that were IN a near-dup pair and lost) — AQE
            # broadcasts it.  The survivor set is materialized HERE
            # (this stage is already eager — dup_components just ran
            # its fixpoint actions) so the gate cache can be released
            # immediately and downstream consumers read a
            # lineage-truncated snapshot instead of re-running the
            # gate per action.  With checkpoint_dir this is a reliable
            # checkpoint (the natural between-stages table write of a
            # production corpus build); without, executor-local blocks.
            survivors = gated.join(losers, id_col, "left_anti")
            if checkpoint_dir is not None:
                gated.sparkSession.sparkContext.setCheckpointDir(
                    checkpoint_dir)
                kept = survivors.checkpoint()
            else:
                kept = survivors.localCheckpoint()
        finally:
            # safe either way: the survivor snapshot (or a failed run)
            # no longer needs the gate cache
            gated.unpersist()

    if localize_to is not None:
        from .localize import localize
        if lon_col is None or lat_col is None:
            raise ValueError("localize_to requires lon_col and lat_col")
        staged = kept.withColumn(
            "tags", F.create_map(F.lit("name"), c))
        kept = localize(staged, localize_to, tags_col="tags",
                        lon_col=lon_col, lat_col=lat_col, add_cells=True)

    if not with_metrics:
        return kept, None
    obs = Observation("curate")
    observed = kept.observe(
        obs,
        F.count(F.lit(1)).alias("rows_kept"),
        F.avg(F.col("quality.words")).alias("avg_words"),
        F.avg("repetition").alias("avg_repetition"),
        F.approx_count_distinct("lang").alias("n_langs"))
    return observed, obs
