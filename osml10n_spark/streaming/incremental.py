"""Incremental ingest via Structured Streaming (SURVEY.md §2.9).

The reference daemon is a stateless request/response server; the
engine's equivalent incremental surface is a ``foreachBatch`` loop that
runs the same batch localization over each micro-batch and commits a
snapshot per epoch — exactly-once via the snapshot manifest (replayed
epochs skip completed partitions).

``localize_stream`` wires any streaming DataFrame with the input-table
schema into the pipeline.
"""
from __future__ import annotations

from pyspark.sql import DataFrame

from ..engine.localize import localize
from ..engine.snapshots import SnapshotStore

__all__ = ["localize_stream"]


def localize_stream(stream_df: DataFrame, store_root: str,
                    target_lang: str = "en", checkpoint_dir: str | None = None):
    """Start a foreachBatch streaming query running the localization
    pipeline per micro-batch with snapshot commits.

    Concurrency contract: one ACTIVE committer per store root (the
    normal Structured Streaming deployment — one query per checkpoint).
    The committed-epoch cache is still re-validated against the
    manifests on every cache miss, so an epoch landed by ANOTHER
    incarnation (an old job that drained after this one started, even
    one whose manifest seq COLLIDES with an already-scanned seq — seq
    is allocated at commit start, the manifest lands after the slow
    data write) is detected before any double-commit; the rescan reads
    only manifest files not read before (filename-tracked, exact), so
    a long-running stream's per-epoch miss path stays O(new
    manifests), not O(all epochs ever committed)."""
    from ..engine.job import add_cell_prefix

    store = SnapshotStore(store_root)
    # loaded once at stream start, appended in memory, re-validated
    # exactly on miss (see the concurrency contract above)
    seen_files: set[str] = set()
    committed = store.committed_epochs_tracked(seen_files)

    def process(batch_df: DataFrame, epoch_id: int):
        if batch_df.isEmpty():
            return
        # exactly-once: a crash AFTER commit but BEFORE the streaming
        # checkpoint re-delivers this epoch on restart — the manifest
        # (written last = the commit point) proves it already landed
        if int(epoch_id) in committed:
            return
        # cache miss → read any manifest file not read before (covers
        # stale committers, including seq collisions)
        committed.update(store.committed_epochs_tracked(seen_files))
        if int(epoch_id) in committed:
            return
        staged = add_cell_prefix(batch_df)
        out = localize(staged, target_lang)
        keys = [r.cell_prefix for r in
                staged.select("cell_prefix").distinct().collect()]
        store.commit(out, keys, metrics={"epoch": int(epoch_id)})
        committed.add(int(epoch_id))

    writer = stream_df.writeStream.foreachBatch(process).outputMode("append")
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer.start()

