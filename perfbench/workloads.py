"""The benchmark's two workloads.

Each workload makes its inputs (cached under the work directory by
seed), runs one warm-up pass on a small slice, then timed passes.  ``timed`` is the part
a pass is measured on; ``check`` runs after it, untimed, and returns
failure messages.  Spans name the layer each call enters.
"""
from __future__ import annotations

import json
import shutil
from concurrent.futures import ProcessPoolExecutor
from contextlib import contextmanager
from functools import partial
from pathlib import Path

import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import inputs
from checks import compare_localized, localized_aggs, reference_localized

SAMPLES_PER_PASS = 12
KNN_QUERIES = 1_000


def _read_rows(path: Path, ids: list[str]) -> list[dict]:
    t = pq.read_table(path, columns=["image_id", "tags", "lon", "lat"],
                      filters=[("image_id", "in", ids)])
    return t.to_pylist()


def _cached(path: Path, make, files: int = 8) -> Path:
    """Parquet ``make()`` wrote to ``path``, written on first use."""
    if not (path / "_SUCCESS").exists():
        shutil.rmtree(path, ignore_errors=True)
        inputs.write_parquet(make(), path, files)
    return path


def _dir_bytes(path: Path) -> int:
    return sum(p.stat().st_size for p in path.rglob("*") if p.is_file())


class Workload:
    name = ""
    action = ""                 # the span around the engine call a pass times
    # a run has at least this many passes; end-to-end figures are
    # medians over the second half of these first passes (run._settled)
    MIN_PASSES = 3

    def __init__(self, seed: int, work: Path, transcriptor):
        self.seed = seed
        self.transcriptor = transcriptor
        self.cache = work / "inputs" / self.name / str(seed)
        self.scratch = work / "scratch" / self.name
        self.digests: dict[str, str] = {}
        self._digest_file = self.cache / "digests.json"
        if self._digest_file.exists():
            self.digests = json.loads(self._digest_file.read_text())

    def _parquet(self, sub: str, make, files: int = 8) -> Path:
        return _cached(self.cache / sub, make, files)

    def check_digest(self, key: str, digest: str) -> list[str]:
        """A digest must equal every earlier digest of the same input,
        in this run or an earlier one with the same seed."""
        want = self.digests.setdefault(key, digest)
        if want != digest:
            return [f"{key}: digest {digest} != earlier {want}"]
        return []

    def save_digests(self) -> None:
        self._digest_file.write_text(json.dumps(self.digests, indent=1))

    def probe_table(self) -> Path:
        """Parquet the layer probes read their rows from."""
        raise NotImplementedError

    def knn_queries(self) -> Path:
        """World points the kNN probe queries the probe table with."""
        return self._parquet("knn-queries", lambda: inputs.unique_rows(
            self.seed, 6, 0, KNN_QUERIES), files=4)

    def prepare(self, i: int) -> None:
        """Untimed work before pass ``i``."""

    def replay(self, spark) -> list[str]:
        """Untimed checks after the last pass."""
        return []


class L10nUnique(Workload):
    """``localize(df, "de")`` with cells and tiles on slices no earlier
    pass has seen, ending in one aggregate action."""

    name = "l10n_unique"
    action = "engine.localize"
    PASS_ROWS = 100_000
    WARM_ROWS = 5_000
    # the JVM's JIT keeps cutting a pass's CPU time for the first
    # 500k-600k rows
    MIN_PASSES = 8

    def make_inputs(self) -> dict:
        self.warm = self._parquet("warm", lambda: inputs.unique_rows(
            self.seed, 1, 0, self.WARM_ROWS), files=4)
        # the slices of the first passes, written by a few processes at
        # once before the session starts
        with ProcessPoolExecutor(4) as pool:
            list(pool.map(_cached, *zip(*map(self._slice_args,
                                             range(self.MIN_PASSES)))))
        return inputs.input_mix(pq.read_table(self.slice(0)))

    def _slice_args(self, i: int) -> tuple:
        return self.cache / f"slice-{i:03d}", partial(
            inputs.unique_rows, self.seed, 0, i * self.PASS_ROWS, self.PASS_ROWS)

    def slice(self, i: int) -> Path:
        return _cached(*self._slice_args(i))

    def probe_table(self) -> Path:
        return self._parquet("probe", lambda: inputs.unique_rows(
            self.seed, 2, 0, 20_000))

    def sample_ids(self, i: int) -> list[str]:
        rng = np.random.default_rng([self.seed, 11, i])
        rows = i * self.PASS_ROWS + rng.choice(self.PASS_ROWS, SAMPLES_PER_PASS,
                                               replace=False)
        return [f"img_{self.seed}_0_{r:09d}" for r in sorted(rows)]

    def _localize(self, spark, path: Path, ids: list[str]):
        from osml10n_spark.engine.localize import localize
        out = localize(spark.read.parquet(str(path)), "de")
        return out.agg(*localized_aggs(ids)).collect()[0]

    def warmup(self, spark) -> None:
        self._localize(spark, self.warm, [])

    def prepare(self, i: int) -> None:
        self.slice(i)

    def timed(self, spark, i: int, span) -> dict:
        with span(self.action):
            row = self._localize(spark, self.slice(i), self.sample_ids(i))
        return {"units": row.n, "row": row}

    def check(self, spark, i: int, res: dict) -> list[str]:
        row = res["row"]
        bad = []
        if row.n != self.PASS_ROWS:
            bad.append(f"slice {i}: {row.n} rows, expected {self.PASS_ROWS}")
        if row.empties:
            bad.append(f"slice {i}: {row.empties} names localized to ''")
        ids = self.sample_ids(i)
        expected = reference_localized(_read_rows(self.slice(i), ids),
                                       self.transcriptor)
        bad += compare_localized(row.samples, expected)
        return bad + self.check_digest(f"slice-{i:03d}", row.digest)

    def replay(self, spark) -> list[str]:
        """Re-run the first slice: its digest must not change."""
        row = self._localize(spark, self.slice(0), [])
        return self.check_digest("slice-000", row.digest)


@contextmanager
def _commit_spans(span):
    """Wrap ``SnapshotStore.commit`` in a span for the duration."""
    from osml10n_spark.engine.snapshots import SnapshotStore
    commit = SnapshotStore.commit

    def traced(self, *args, **kwargs):
        with span("engine.snapshots.commit"):
            return commit(self, *args, **kwargs)

    SnapshotStore.commit = traced
    try:
        yield
    finally:
        SnapshotStore.commit = commit


class JobRepeat(Workload):
    """``run_localization_job`` into a fresh snapshot store; labels
    repeat from a pool of about 2k tag maps and rows carry payloads."""

    name = "job_repeat"
    action = "engine.job"
    ROWS = 12_000
    WARM_ROWS = 500
    GROUPS_PER_COMMIT = 16

    def make_inputs(self) -> dict:
        self.input = self._parquet("input", lambda: inputs.pooled_rows(
            self.seed, self.ROWS))
        self.warm = self._parquet("warm", lambda: inputs.pooled_rows(
            self.seed, self.WARM_ROWS), files=4)
        return inputs.input_mix(pq.read_table(self.input))

    def probe_table(self) -> Path:
        return self.input

    def sample_ids(self) -> list[str]:
        rng = np.random.default_rng([self.seed, 12])
        rows = rng.choice(self.ROWS, SAMPLES_PER_PASS, replace=False)
        return [f"img_{self.seed}_pool_{r:09d}" for r in sorted(rows)]

    def _job(self, spark, src: Path, store: Path) -> dict:
        from osml10n_spark.engine.job import run_localization_job
        shutil.rmtree(store, ignore_errors=True)
        return run_localization_job(spark, spark.read.parquet(str(src)),
                                    str(store), "de",
                                    groups_per_commit=self.GROUPS_PER_COMMIT)

    def warmup(self, spark) -> None:
        self._job(spark, self.warm, self.scratch / "warm")
        shutil.rmtree(self.scratch / "warm", ignore_errors=True)

    def prepare(self, i: int) -> None:
        shutil.rmtree(self.scratch, ignore_errors=True)

    def timed(self, spark, i: int, span) -> dict:
        store = self.scratch / f"store-{i}"
        with span(self.action), _commit_spans(span):
            summary = self._job(spark, self.input, store)
        return {"units": self.ROWS, "summary": summary, "store": store}

    def check(self, spark, i: int, res: dict) -> list[str]:
        from osml10n_spark.engine.snapshots import SnapshotStore
        store = res["store"]
        committed = SnapshotStore(str(store)).committed_output(spark)
        ids = self.sample_ids()
        row = committed.agg(*localized_aggs(ids),
                            F.countDistinct("image_id").alias("ids")).collect()[0]
        bad = []
        if row.n != self.ROWS or res["summary"]["total_rows"] != self.ROWS:
            bad.append(f"pass {i}: committed {row.n} rows "
                       f"(summary {res['summary']['total_rows']}), "
                       f"expected {self.ROWS}")
        if row.ids != row.n:
            bad.append(f"pass {i}: {row.n - row.ids} duplicate image_id")
        if row.empties:
            bad.append(f"pass {i}: {row.empties} names localized to ''")
        expected = reference_localized(_read_rows(self.input, ids),
                                       self.transcriptor)
        bad += compare_localized(row.samples, expected)
        res["extra"] = {
            "engine.job.write_amp": _dir_bytes(store) / _dir_bytes(self.input),
            "engine.job.commits": len(res["summary"]["snapshots"]),
            "engine.job.files_written": sum(1 for p in store.rglob("*.parquet")),
        }
        shutil.rmtree(store, ignore_errors=True)
        return bad + self.check_digest("committed", row.digest)


WORKLOADS = {w.name: w for w in (L10nUnique, JobRepeat)}
