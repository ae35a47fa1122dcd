"""Snapshot/resume + streaming tests: kill-after-snapshot resume
produces the identical final table with no duplicates (north_rule)."""
import pytest
from pyspark.sql import functions as F

from osml10n_spark.engine.job import add_cell_prefix, run_localization_job
from osml10n_spark.engine.snapshots import SnapshotStore
from osml10n_spark.sources.datagen import generate_images

N = 300


def _final_table(spark, root):
    return SnapshotStore(root).committed_output(spark) \
        .select("image_id", "caption_l10n", "cell_id", "tile_id")


def test_resume_after_partial_run(spark, tmp_path):
    images = generate_images(spark, N, seed=11, with_images=False).cache()
    images.count()

    # full run in one go → the reference output
    full_root = str(tmp_path / "full")
    run_localization_job(spark, images, full_root, "de", groups_per_commit=100)
    expected = sorted(map(tuple, _final_table(spark, full_root).collect()))

    # partial run "killed" after 2 commits, then resumed
    part_root = str(tmp_path / "partial")
    r1 = run_localization_job(spark, images, part_root, "de",
                              groups_per_commit=2, max_commits=2)
    assert len(r1["snapshots"]) == 2
    r2 = run_localization_job(spark, images, part_root, "de",
                              groups_per_commit=2)
    assert r2["resumed_from"] > 0
    got = sorted(map(tuple, _final_table(spark, part_root).collect()))
    assert got == expected

    # no duplicates
    final = _final_table(spark, part_root)
    assert final.count() == final.select("image_id").distinct().count() == N

    # idempotent re-run: nothing left to do
    r3 = run_localization_job(spark, images, part_root, "de")
    assert r3["snapshots"] == []
    images.unpersist()


def test_manifest_metrics_and_lineage(spark, tmp_path):
    images = generate_images(spark, 120, seed=13, with_images=False)
    root = str(tmp_path / "m")
    run_localization_job(spark, images, root, "en", groups_per_commit=100)
    store = SnapshotStore(root)
    man = store.last_snapshot()
    assert man["row_count"] == 120
    assert man["metrics"]["rows"] == 120
    assert man["metrics"]["empty_out"] == 0
    assert sum(r["rows_out"] for r in man["lineage"]) == 120


def test_manifest_lineage_matches_committed_data(spark, tmp_path):
    """A killed run's only manifest carries the lineage of exactly the
    partitions it completed, equal to a groupBy over its own data."""
    images = generate_images(spark, 120, seed=13, with_images=False)
    root = str(tmp_path / "ml")
    run_localization_job(spark, images, root, "en", groups_per_commit=2,
                         max_commits=1)
    man = SnapshotStore(root).last_snapshot()
    lin = {r["cell_prefix"]: r for r in man["lineage"]}
    assert len(lin) == 2 and sorted(lin) == man["completed_partitions"]
    data = spark.read.parquet(man["data_dir"]).groupBy("cell_prefix").agg(
        F.count(F.lit(1)).alias("rows"), F.min("image_id").alias("lo"),
        F.max("image_id").alias("hi")).collect()
    assert {r.cell_prefix: (r.rows, r.lo, r.hi) for r in data} == {
        k: (r["rows_out"], r["min_id"], r["max_id"]) for k, r in lin.items()}
    assert man["row_count"] == sum(r["rows_out"] for r in lin.values())


def test_row_level_pending(spark, tmp_path):
    """A snapshot with no partition bookkeeping covers its rows only
    through the row-level anti-join on image_id."""
    staged = add_cell_prefix(generate_images(spark, 40, seed=17,
                                             with_images=False))
    store = SnapshotStore(str(tmp_path / "rl"))
    store.commit(staged.orderBy("image_id").limit(15), [])
    assert store.completed_partitions() == set()
    pend = store.pending(staged, row_level=True)
    assert pend.count() == 25
    done = store.committed_output(spark).select("image_id")
    assert pend.join(done, "image_id").isEmpty()


def test_streaming_foreachbatch(spark, tmp_path):
    from osml10n_spark.streaming.incremental import localize_stream

    src_dir = str(tmp_path / "in")
    images = generate_images(spark, 60, seed=19, with_images=False)
    images.write.parquet(src_dir)
    stream = (spark.readStream.schema(images.schema)
              .option("maxFilesPerTrigger", "1").parquet(src_dir))
    root = str(tmp_path / "snap")
    q = localize_stream(stream, root, "de",
                        checkpoint_dir=str(tmp_path / "ckpt"))
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    out = SnapshotStore(root).committed_output(spark)
    assert out.count() == 60
    assert out.filter(F.col("caption_l10n") == "").count() == 0


def test_streaming_epoch_replay_is_idempotent(spark, tmp_path):
    """Re-delivering an epoch (crash between commit and streaming
    checkpoint) must not duplicate rows: the manifest's epoch record is
    the replay filter."""
    from osml10n_spark.engine.snapshots import SnapshotStore
    from osml10n_spark.sources.datagen import generate_images
    from osml10n_spark.engine.job import add_cell_prefix
    from osml10n_spark.engine.localize import localize

    root = str(tmp_path / "es")
    store = SnapshotStore(root)
    batch = generate_images(spark, 60, seed=3, with_images=False)

    def process_like_stream(batch_df, epoch_id):
        if int(epoch_id) in store.committed_epochs():
            return False
        staged = add_cell_prefix(batch_df)
        keys = [r.cell_prefix for r in
                staged.select("cell_prefix").distinct().collect()]
        store.commit(localize(staged, "en"), keys,
                     metrics={"epoch": int(epoch_id)})
        return True

    assert process_like_stream(batch, 0) is True
    assert process_like_stream(batch, 0) is False      # replay skipped
    out = store.committed_output(spark)
    assert out.count() == 60                           # no duplicates


def test_corrupt_manifest_reads_as_uncommitted(spark, tmp_path):
    """A truncated manifest (crash mid-write before the atomic-replace
    era, or disk corruption) must quarantine as UNCOMMITTED — resume
    scans keep working and the snapshot's partitions re-run instead of
    every later resume raising."""
    import json
    import os

    from osml10n_spark.engine.snapshots import SnapshotStore
    from osml10n_spark.sources.datagen import generate_images
    from osml10n_spark.engine.job import add_cell_prefix

    root = str(tmp_path / "corrupt")
    store = SnapshotStore(root)
    batch = add_cell_prefix(generate_images(spark, 40, seed=5,
                                            with_images=False))
    keys = [r.cell_prefix for r in
            batch.select("cell_prefix").distinct().collect()]
    m1 = store.commit(batch, keys[:1], metrics={"epoch": 0})
    store.commit(batch, keys[1:2], metrics={"epoch": 1})
    # truncate the second manifest mid-JSON
    snaps = sorted(os.listdir(os.path.join(root, "snapshots")))
    broken = os.path.join(root, "snapshots", snaps[-1])
    with open(broken) as f:
        txt = f.read()
    with open(broken, "w") as f:
        f.write(txt[: len(txt) // 2])
    # resume surfaces: no raise, corrupt snapshot invisible
    assert store.completed_partitions() == set(keys[:1])
    assert store.committed_epochs() == {0}
    assert store.last_snapshot()["snapshot_id"] == m1["snapshot_id"]
    assert store.committed_output(spark).count() == 40
    # no stray temp files from the atomic writer
    assert not [f for f in snaps if f.endswith(".tmp")]


def test_snapshot_time_travel(spark, tmp_path):
    """committed_output(as_of=...) reads the table exactly as that
    commit left it (Iceberg-style time travel by snapshot id or seq)."""
    import pytest

    from osml10n_spark.engine.snapshots import SnapshotStore
    from osml10n_spark.sources.datagen import generate_images
    from osml10n_spark.engine.job import add_cell_prefix

    root = str(tmp_path / "tt")
    store = SnapshotStore(root)
    batch = add_cell_prefix(generate_images(spark, 50, seed=9,
                                            with_images=False))
    first = batch.limit(20)
    rest = batch.join(first.select("image_id"), "image_id", "left_anti")
    m1 = store.commit(first, [0])
    store.commit(rest, [1])
    assert store.committed_output(spark).count() == 50
    assert store.committed_output(spark, as_of=m1["snapshot_id"]).count() == 20
    assert store.committed_output(spark, as_of=0).count() == 20   # by seq
    with pytest.raises(KeyError):
        store.committed_output(spark, as_of="nope")


def test_snapshot_compaction(spark, tmp_path):
    """compact(): many small epoch snapshots rewrite into ONE snapshot
    the current-state reader scans instead (identical rowset, fewer
    files); time travel to pre-compaction snapshots reads the original
    files; committed epochs survive; compactions compose."""
    from osml10n_spark.engine.job import add_cell_prefix
    from osml10n_spark.engine.snapshots import SnapshotStore
    from osml10n_spark.sources.datagen import generate_images

    root = str(tmp_path / "cmp")
    store = SnapshotStore(root)
    batch = add_cell_prefix(generate_images(spark, 60, seed=21,
                                            with_images=False))
    g = F.pmod(F.xxhash64("image_id"), F.lit(3))
    slices = [batch.filter(g == i) for i in range(3)]
    for i, s in enumerate(slices):
        store.commit(s, [i], metrics={"epoch": i})
    n0 = slices[0].count()
    before = sorted(r.image_id for r in
                    store.committed_output(spark).collect())
    files_before = len(store.committed_output(spark).inputFiles())
    cm = store.compact(spark)
    assert cm is not None and cm["row_count"] == 60
    cur = store.committed_output(spark)
    assert sorted(r.image_id for r in cur.collect()) == before
    assert len(cur.inputFiles()) == 1 < files_before
    assert store.committed_epochs() == {0, 1, 2}
    assert cm["metrics"]["replaced_epochs"] == [0, 1, 2]
    # time travel: pre-compaction state reads the ORIGINAL files
    assert store.committed_output(spark, as_of=0).count() == n0
    # as-of the compaction itself = the full table, compacted files
    at_cm = store.committed_output(spark, as_of=cm["snapshot_id"])
    assert at_cm.count() == 60 and len(at_cm.inputFiles()) == 1
    # compactions compose: new epoch + re-compact replaces (cm, new)
    extra = batch.limit(10).withColumn(
        "image_id", F.concat(F.lit("n_"), F.col("image_id")))
    m4 = store.commit(extra, [3], metrics={"epoch": 3})
    cm2 = store.compact(spark)
    assert set(cm2["replaces"]) == {cm["snapshot_id"], m4["snapshot_id"]}
    final = store.committed_output(spark)
    assert final.count() == 70 and len(final.inputFiles()) == 1
    # a lone live snapshot does not re-compact
    assert store.compact(spark) is None


def test_committed_epochs_tracked_catches_seq_collision(spark, tmp_path):
    """The streaming miss path must detect an epoch landed by a STALE
    CONCURRENT committer whose manifest seq collides with an
    already-read one: commit() allocates seq at commit start but
    publishes the manifest only after the slow data write, so the
    manifest can appear with a seq the reader has already seen.  A
    seq-cursor refresh would skip that filename forever (double
    commit); the filename-tracked rescan reads it."""
    import json
    import os
    import shutil

    from osml10n_spark.engine.job import add_cell_prefix
    from osml10n_spark.sources.datagen import generate_images

    root = str(tmp_path / "snap_coll")
    store = SnapshotStore(root)
    batch = add_cell_prefix(generate_images(spark, 10, seed=5,
                                            with_images=False))
    m0 = store.commit(batch, [0], metrics={"epoch": 0})

    # the stream starts: full load, tracking established
    seen: set[str] = set()
    committed = store.committed_epochs_tracked(seen)
    assert committed == {0}

    # stale committer: allocated seq=1 BEFORE the stream's own seq=1
    # commit, lands AFTER it — same leading seq, different uuid suffix
    m1 = store.commit(batch, [1], metrics={"epoch": 1})       # stream's
    committed.update(store.committed_epochs_tracked(seen))
    stale_id = "000001-deadbeef"
    stale_dir = os.path.join(root, "data", stale_id)
    shutil.copytree(m1["data_dir"], stale_dir)
    stale = dict(m1, snapshot_id=stale_id, data_dir=stale_dir,
                 metrics={"epoch": 99})
    with open(os.path.join(root, "snapshots", f"{stale_id}.json"),
              "w") as f:
        json.dump(stale, f)

    # tracked rescan reads the unseen filename and finds epoch 99
    committed.update(store.committed_epochs_tracked(seen))
    assert 99 in committed and committed == {0, 1, 99}
    # and it stays incremental: nothing new → no epochs, set stable
    assert store.committed_epochs_tracked(seen) == set()
