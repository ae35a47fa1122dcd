"""Corpus-shaping operators for training-data pipelines: deterministic
stratified sampling, token-budget shard packing, per-group quantile
calibration.

All three are pure DataFrame compositions (no Python crossing, no
driver loops) chosen for their 100-TB shape:

- ``sample_stratified`` is a FILTER — zero shuffles, pushdown-friendly,
  reproducible across reruns/engines because the keep decision is a
  cryptographic hash of the row id, not an RNG stream (Spark's
  ``df.sample`` is partition-order-dependent and not replayable across
  engines; a hash gate is the standard corpus-sampling idiom).
- ``pack_shards`` is ONE window shuffle per pack group; groups bound
  window-state size so no single task ever sorts the whole corpus.
- ``quantile_gate`` is one exact-percentile aggregation plus a
  broadcast join back — per-group thresholds are tiny by construction.

No reference analog (giggls/osml10n is per-record localization); these
extend the engine the way the dedup/ANN suite does.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

__all__ = ["sample_stratified", "pack_shards", "quantile_gate"]

# hash gate resolution: first 8 md5 hex chars = 32 bits
_GATE_BITS = 32
_GATE_CHARS = _GATE_BITS // 4


def _rate_to_hex_threshold(rate: float) -> str:
    """Map a keep-rate in [0, 1] to a fixed-width lowercase hex string;
    lexicographic comparison of fixed-width lowercase hex equals
    numeric comparison, and ASCII string ordering is identical in the
    JVM and DuckDB — which makes the gate expressible in BOTH engines
    with no integer-conversion dialect quirks."""
    if not 0.0 <= rate <= 1.0:
        raise ValueError(f"rate must be in [0, 1], got {rate}")
    t = min(int(rate * (1 << _GATE_BITS)), (1 << _GATE_BITS) - 1)
    if rate >= 1.0:
        return "g" * _GATE_CHARS          # > any hex char → keep all
    return format(t, f"0{_GATE_CHARS}x")


def sample_stratified(df: DataFrame, id_col: str, strata_col: str,
                      rates: dict, default_rate: float = 0.0,
                      salt: str = "") -> DataFrame:
    """Deterministic stratified sample: keep a row iff the md5 hash of
    its id (plus salt) falls under its stratum's keep-rate.

    ``rates`` maps stratum value → keep-rate in [0, 1]; strata not in
    the map keep ``default_rate``.  Changing ``salt`` draws an
    independent sample; the same (id, salt) always decides the same
    way, so samples are replayable across engines, reruns and data
    layouts — none of which is true of ``DataFrame.sample``.

    Plan shape: a single filter expression (md5 + substring + CASE) —
    zero shuffles, survives predicate pushdown, and composes with any
    downstream operator.  Rate resolution is 2^-32.
    """
    gate = F.substring(
        F.md5(F.concat(F.col(id_col).cast("string"), F.lit(":" + salt))),
        1, _GATE_CHARS)
    thresh = None
    for val, rate in sorted(rates.items(), key=lambda kv: str(kv[0])):
        cond = F.col(strata_col) == F.lit(val)
        lit = F.lit(_rate_to_hex_threshold(rate))
        thresh = F.when(cond, lit) if thresh is None \
            else thresh.when(cond, lit)
    if thresh is None:
        thresh = F.lit(_rate_to_hex_threshold(default_rate))
    else:
        thresh = thresh.otherwise(
            F.lit(_rate_to_hex_threshold(default_rate)))
    return df.filter(gate < thresh)


def pack_shards(df: DataFrame, id_col: str, weight_col: str,
                budget: int, group_col: str | None = None) -> DataFrame:
    """Assign each document to a training shard by its START offset in
    the deterministic concatenated token stream — exactly how
    pretraining shards are cut from a token stream: lay documents out
    in id order, cut every ``budget`` tokens, and a document belongs to
    the shard its first token falls in (a boundary-crossing document
    stays with its start shard; strict-capacity bin packing is a
    sequential recurrence no engine can parallelize, and is NOT what
    contiguous-stream training uses).

    ``group_col`` packs each group as its own independent stream —
    REQUIRED at scale: a single global ordered window funnels the whole
    corpus through one task, while per-group windows shuffle once on
    the group key and bound each task's sort by the group size (the
    natural group is a date / language / source bucket).

    Output: (id, [group,] weight, start_offset, shard_id) — one window
    shuffle, everything whole-stage codegen.
    """
    if budget <= 0:
        raise ValueError(f"budget must be positive, got {budget}")
    part = [group_col] if group_col else []
    if not part:
        import warnings
        warnings.warn(
            "pack_shards without group_col is a single-partition global "
            "window — fine for small frames, a scale bottleneck "
            "otherwise; pass group_col (date/lang/source bucket)",
            stacklevel=2)
    w = (Window.partitionBy(*part).orderBy(F.col(id_col).asc())
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    start = (F.sum(F.col(weight_col)).over(w) - F.col(weight_col)) \
        .cast("long")
    cols = [F.col(id_col), *( [F.col(group_col)] if group_col else [] ),
            F.col(weight_col),
            start.alias("start_offset"),
            F.floor(start / F.lit(budget)).cast("long").alias("shard_id")]
    return df.select(*cols)


def quantile_gate(df: DataFrame, score_col: str, by_col: str,
                  q: float = 0.5) -> DataFrame:
    """Per-group exact-quantile calibration: compute the q-quantile of
    ``score_col`` within each ``by_col`` group (exact, interpolating —
    Spark ``percentile`` ≡ DuckDB ``quantile_cont``) and flag every row
    against ITS OWN group's threshold.

    Absolute quality thresholds misbehave across languages/domains
    (quality scorers are calibrated differently per language); gating
    on the per-group quantile keeps the same retention fraction in
    every group.  Plan: one groupBy aggregation (tiny output: one row
    per group) broadcast-joined back — no second shuffle of the data.

    Output: input columns + (threshold, keep).
    """
    if not 0.0 <= q <= 1.0:
        raise ValueError(f"q must be in [0, 1], got {q}")
    th = (df.groupBy(by_col)
          .agg(F.expr(f"percentile({score_col}, {q!r})")
               .alias("threshold")))
    return (df.join(F.broadcast(th), by_col)
            .withColumn("keep", F.col(score_col) >= F.col("threshold")))
