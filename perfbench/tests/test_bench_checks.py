import numpy as np
import pytest

import inputs
from checks import digest_col, knn_brute


@pytest.fixture(scope="module")
def spark():
    from osml10n_spark.engine.session import build_session
    s = build_session(app_name="perfbench-tests", cores=2, shuffle_partitions=4,
                      extra_conf={"spark.driver.memory": "1g",
                                  "spark.ui.showConsoleProgress": "false"})
    yield s
    s.stop()


def test_digest_does_not_depend_on_row_order(spark):
    from pyspark.sql import functions as F
    rows = [(f"img_{i}", f"cap {i % 7}", i * 31, -i) for i in range(500)]
    df = spark.createDataFrame(rows, "image_id string, caption_l10n string, "
                                     "cell_id long, tile_id long")
    cols = ("image_id", "caption_l10n", "cell_id", "tile_id")

    def digest(frame):
        return frame.agg(digest_col(*cols).alias("d")).collect()[0].d

    base = digest(df)
    shuffled = df.repartition(7).orderBy(F.rand(3))
    assert digest(shuffled) == base
    assert digest(spark.createDataFrame(rows[::-1], df.schema).coalesce(1)) == base
    changed = rows[:-1] + [(rows[-1][0], "other", rows[-1][2], rows[-1][3])]
    assert digest(spark.createDataFrame(changed, df.schema)) != base


def test_knn_brute_breaks_distance_ties_by_iid():
    ilon = np.array([1.0, -1.0, 0.0, 0.0, 3.0])
    ilat = np.array([0.0, 0.0, 1.0, -1.0, 0.0])
    iid = ["d", "b", "c", "a", "e"]
    # four items tie at dist2 == 1; the two smallest iids win
    assert knn_brute(0.0, 0.0, ilon, ilat, iid, 2) == [("a", 1.0), ("b", 1.0)]
    assert knn_brute(0.0, 0.0, ilon, ilat, iid, 5)[-1] == ("e", 9.0)


def test_inputs_are_seeded_and_slices_disjoint():
    a = inputs.unique_rows(3, 0, 0, 2000)
    assert a.equals(inputs.unique_rows(3, 0, 0, 2000))
    b = inputs.unique_rows(3, 0, 2000, 2000)
    captions_a = set(a.column("caption").to_pylist())
    suffixed_b = {c for c in b.column("caption").to_pylist()
                  if c.rsplit(" ", 1)[-1].isdigit() and int(c.rsplit(" ", 1)[-1]) >= 2000}
    assert suffixed_b and not (suffixed_b & captions_a)
    mix = inputs.input_mix(a)
    assert 0.15 < mix["input.cjk_frac"] < 0.21
    assert 0.15 < mix["input.hotspot_cell_frac"] < 0.25


def test_pooled_rows_repeat_a_small_pool():
    t = inputs.pooled_rows(3, 6000, pool=500, payload=(16, 32))
    mix = inputs.input_mix(t)
    assert mix["input.distinct_tags_frac"] * 6000 <= 500
    sizes = [len(b) for b in t.column("bytes").to_pylist()]
    assert min(sizes) >= 16 and max(sizes) <= 32
