"""Snapshot checkpointing + resume (Iceberg-semantics emulation).

No Iceberg jar ships in the sandbox, so snapshot isolation is emulated
with the same contract (SURVEY.md §2.6 E4, §4): a snapshot directory
holds immutable parquet data plus a manifest JSON recording the
snapshot id, parent, completed partition keys (cell prefixes), row
count, metrics and one lineage row per partition key.  Resume semantics:

- partition-level: completed cell prefixes are skipped wholesale (an
  anti-join against a tiny broadcast list — the cheap path);
- row-level: an anti-join on image_id against the checkpointed output
  (exactness fallback when partition bookkeeping is unavailable).

A killed job rerun from the last committed manifest produces the
identical final table with no duplicates (tests/test_snapshots.py).
"""
from __future__ import annotations

import json
import os
import time
import uuid
from collections.abc import Container

from pyspark.sql import DataFrame, Observation, SparkSession, functions as F

__all__ = ["SnapshotStore"]


class SnapshotStore:
    def __init__(self, root: str):
        self.root = root
        os.makedirs(os.path.join(root, "snapshots"), exist_ok=True)

    # ---------------------------------------------------------- manifest
    def _manifest_path(self, snap_id: str) -> str:
        return os.path.join(self.root, "snapshots", f"{snap_id}.json")

    @staticmethod
    def _write_manifest(path: str, manifest: dict) -> None:
        """ATOMIC commit point: write to a sibling temp file and
        os.replace onto the manifest path — a crash mid-write can never
        leave a truncated manifest that poisons every later resume."""
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(manifest, f, separators=(",", ":"))
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, path)

    @staticmethod
    def _read_manifest(path: str) -> dict | None:
        """None for unparsable/unreadable manifests: an interrupted
        (pre-atomic) or corrupted commit reads as UNCOMMITTED rather
        than raising on every subsequent resume."""
        try:
            with open(path) as f:
                return json.load(f)
        except (OSError, json.JSONDecodeError):
            return None

    def _walk(self, skip: Container[str] = ()):
        """Yield ``(filename, manifest)`` for every readable manifest in
        filename (= seq) order, skipping the filenames in ``skip``."""
        snaps_dir = os.path.join(self.root, "snapshots")
        if os.path.isdir(snaps_dir):
            for fn in sorted(os.listdir(snaps_dir)):
                if fn.endswith(".json") and fn not in skip:
                    m = self._read_manifest(os.path.join(snaps_dir, fn))
                    if m is not None:
                        yield fn, m

    def _manifests(self) -> list[dict]:
        return [m for _, m in self._walk()]

    def last_snapshot(self) -> dict | None:
        snaps = self._manifests()
        return snaps[-1] if snaps else None

    def commit(self, df: DataFrame, partition_keys: list[int],
               metrics: dict | Observation | None = None,
               lineage: list[dict] | None = None) -> dict:
        """Write a new immutable snapshot with one Spark action: data
        files first, manifest last (the commit point — readers only see
        manifested data).

        The row count is an Observation wrapping the top of the written
        plan: it is collected in the result stage, so a recomputed
        shuffle-map stage below cannot count twice.  ``metrics`` may be
        an Observation attached to ``df``, resolved after the write.
        Metrics and ``lineage`` rows land in the same manifest write, so
        a committed snapshot never lacks its run facts."""
        parent = self.last_snapshot()
        seq = (parent["seq"] + 1) if parent else 0
        snap_id = f"{seq:06d}-{uuid.uuid4().hex[:8]}"
        data_dir = os.path.join(self.root, "data", snap_id)
        counted = Observation()
        df.observe(counted, F.count(F.lit(1)).alias("rows")) \
            .write.mode("overwrite").parquet(data_dir)
        if isinstance(metrics, Observation):
            metrics = {k: (int(v) if v is not None else None)
                       for k, v in metrics.get.items()}
        manifest = {
            "snapshot_id": snap_id,
            "seq": seq,
            "parent": parent["snapshot_id"] if parent else None,
            "data_dir": data_dir,
            "completed_partitions": sorted(int(k) for k in partition_keys),
            "row_count": int(counted.get["rows"]),
            "metrics": metrics or {},
            "lineage": lineage or [],
            "committed_at": time.time(),
        }
        self._write_manifest(self._manifest_path(snap_id), manifest)
        return manifest

    # -------------------------------------------------------- compaction
    def compact(self, spark: SparkSession, keep_last: int = 0,
                min_snapshots: int = 2,
                rows_per_file: int = 4_000_000) -> dict | None:
        """Iceberg-style small-file compaction for the incremental /
        streaming commit pattern, where every micro-batch epoch left a
        small parquet dir: rewrite the data of all live snapshots
        (optionally sparing the newest ``keep_last``) into ONE new
        snapshot sized at ``rows_per_file`` rows per output file.

        The compacted manifest records the snapshot ids it ``replaces``;
        replaced snapshots stay on disk untouched, so ``as_of`` time
        travel to any pre-compaction state still reads the original
        files, while current-state readers (``committed_output`` with no
        ``as_of``) skip replaced snapshots and scan the compacted files
        once.  Compactions compose: a later compaction can replace an
        earlier one.  Returns the new manifest, or None when fewer than
        ``min_snapshots`` live snapshots qualify."""
        manifests = self._manifests()
        replaced = self._replaced_ids(manifests)
        live = [m for m in manifests if m["snapshot_id"] not in replaced]
        cand = live[:len(live) - keep_last] if keep_last else live
        if len(cand) < min_snapshots:
            return None
        df = spark.read.parquet(*[m["data_dir"] for m in cand])
        total = sum(int(m["row_count"]) for m in cand)
        n_files = max(1, -(-total // rows_per_file))
        parts: set[int] = set()
        epochs: list[int] = []
        for m in cand:
            parts.update(m["completed_partitions"])
            ep = m.get("metrics", {}).get("epoch")
            if ep is not None:
                epochs.append(int(ep))
        parent = self.last_snapshot()
        seq = (parent["seq"] + 1) if parent else 0
        snap_id = f"{seq:06d}-{uuid.uuid4().hex[:8]}"
        data_dir = os.path.join(self.root, "data", snap_id)
        df.coalesce(n_files).write.mode("overwrite").parquet(data_dir)
        row_count = spark.read.parquet(data_dir).count()
        if row_count != total:      # refuse a lossy rewrite outright
            raise RuntimeError(
                f"compaction row mismatch: {row_count} != {total}")
        manifest = {
            "snapshot_id": snap_id,
            "seq": seq,
            "parent": parent["snapshot_id"] if parent else None,
            "data_dir": data_dir,
            "completed_partitions": sorted(parts),
            "row_count": row_count,
            "metrics": {"compaction": True,
                        "replaced_epochs": sorted(epochs)},
            "replaces": [m["snapshot_id"] for m in cand],
            "committed_at": time.time(),
        }
        self._write_manifest(self._manifest_path(snap_id), manifest)
        return manifest

    @staticmethod
    def _replaced_ids(manifests: list[dict]) -> set[str]:
        out: set[str] = set()
        for m in manifests:
            out.update(m.get("replaces", []))
        return out

    # ------------------------------------------------------------ resume
    def committed_epochs(self) -> set[int]:
        """Streaming epoch ids already committed (manifest-last commit
        makes this the exactly-once replay filter: a crash between
        commit and the streaming checkpoint re-delivers the epoch, and
        the manifest proves it already landed)."""
        return self.committed_epochs_tracked(set())

    def committed_epochs_tracked(self, seen_files: set[str]) -> set[int]:
        """Exact incremental replay-filter refresh: reads every manifest
        whose FILENAME is not in ``seen_files`` (mutated in place), and
        returns the epochs found in the newly read ones.  Filenames, not
        a seq cursor, because ``commit`` allocates seq at commit START
        (``last_snapshot()+1``) but the manifest lands only after the
        slow data write: a stale concurrent committer can publish a
        manifest whose seq is at or below one already read (a SEQ
        COLLISION), which a seq cursor would skip forever
        (double-commit).  Tracking read filenames keeps the per-call
        cost O(unseen manifests) with full-rescan correctness.
        Unparsable manifests are NOT added to ``seen_files`` (a
        pre-atomic-era partial write stays re-checked, and the cost of
        re-reading a corrupt file is one failed parse)."""
        out: set[int] = set()
        for fn, m in self._walk(seen_files):
            seen_files.add(fn)
            ep = m.get("metrics", {}).get("epoch")
            if ep is not None:
                out.add(int(ep))
        return out

    def completed_partitions(self) -> set[int]:
        done: set[int] = set()
        for m in self._manifests():
            done.update(m["completed_partitions"])
        return done

    def committed_output(self, spark: SparkSession,
                         as_of: int | str | None = None) -> DataFrame | None:
        """Union of committed snapshot data (each snapshot holds a
        disjoint partition subset in the incremental-batch pattern).

        ``as_of`` gives Iceberg-style TIME TRAVEL: pass a snapshot id or
        a seq number and only snapshots committed up to and including it
        are read — the table exactly as that commit left it.  Snapshots
        replaced by a compaction WITHIN the visible prefix are skipped
        (their rewrite covers them); a pre-compaction ``as_of`` sees no
        compaction manifest and reads the original files."""
        manifests = self._manifests()
        if as_of is not None:
            cut = None
            for idx, m in enumerate(manifests):
                if m["snapshot_id"] == as_of or m["seq"] == as_of:
                    cut = idx
                    break
            if cut is None:
                raise KeyError(f"no committed snapshot {as_of!r}")
            manifests = manifests[:cut + 1]
        replaced = self._replaced_ids(manifests)
        dirs = [m["data_dir"] for m in manifests
                if m["snapshot_id"] not in replaced]
        if not dirs:
            return None
        return spark.read.parquet(*dirs)

    def pending(self, df: DataFrame, partition_col: str = "cell_prefix",
                id_col: str = "image_id",
                row_level: bool = False) -> DataFrame:
        """Rows not yet covered by a committed snapshot: rows of
        completed partitions drop out, and with ``row_level`` so does
        every row whose ``id_col`` is in the committed output."""
        done = self.completed_partitions()
        out = df
        if done:
            out = out.filter(~F.col(partition_col).isin([int(d) for d in done]))
        if row_level:
            committed = self.committed_output(df.sparkSession)
            if committed is not None:
                out = out.join(committed.select(id_col).distinct(),
                               id_col, "left_anti")
        return out
