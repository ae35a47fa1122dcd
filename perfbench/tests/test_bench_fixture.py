import json

import numpy as np
import pytest

import fixture
import inputs
from osml10n_spark.spatial.boundaries import load_boundaries
from osml10n_spark.spatial.prepared import PreparedLookup


@pytest.fixture(scope="module", params=[1, 2024])
def fixture_dir(request, tmp_path_factory):
    return fixture.write_fixture(tmp_path_factory.mktemp("fx"), request.param)


def test_cluster_centres_resolve_through_both_lookups(fixture_dir):
    index = load_boundaries(str(fixture_dir))
    prepared = PreparedLookup(index, res=9)
    for cc, parts in fixture.CLUSTERS.items():
        for lon, lat, _, _ in parts:
            assert index.lookup_one(lon, lat) == cc
            assert prepared.lookup(np.array([lon]), np.array([lat]))[0] == cc


def test_shape_and_vertex_counts(fixture_dir):
    doc = json.loads((fixture_dir / "boundaries.geojson").read_text())
    geoms = {f["properties"]["cc"]: f["geometry"] for f in doc["features"]}
    assert sorted(geoms) == ["hk", "jp", "mo", "th", "tw"]
    assert geoms["jp"]["type"] == "MultiPolygon"
    rings = [r for g in geoms.values()
             for poly in (g["coordinates"] if g["type"] == "MultiPolygon"
                          else [g["coordinates"]])
             for r in poly]
    assert min(len(r) for r in rings) > 1000
    assert all(r[0] == r[-1] for r in rings)


def test_lookups_agree_on_cluster_points(fixture_dir):
    rng = np.random.default_rng(5)
    c = np.asarray(inputs.CJK_CLUSTERS)[rng.integers(len(inputs.CJK_CLUSTERS), size=3000)]
    lon = rng.normal(c[:, 0], c[:, 2])
    lat = rng.normal(c[:, 1], c[:, 2])
    index = load_boundaries(str(fixture_dir))
    got = PreparedLookup(index, res=9).lookup(lon, lat)
    assert list(got) == list(index.lookup(lon, lat))
    # the clusters straddle the outlines: both inside and outside occur
    assert 0 < sum(1 for x in got if x) < len(got)


def test_same_seed_same_bytes(tmp_path):
    a = fixture.write_fixture(tmp_path / "a", 9) / "boundaries.geojson"
    b = fixture.write_fixture(tmp_path / "b", 9) / "boundaries.geojson"
    assert a.read_bytes() == b.read_bytes()
