"""Replicates the driver's correctness gate locally: every queries()
entry runs on Spark at sf0.001 and, where an oracle exists, must match
DuckDB row-for-row (order-insensitive, columns sorted by name, values
normalized the way a value-hash would see them)."""
import math

import duckdb
import pytest

import __spark_entry__ as entrymod

SF_DIR = "/root/testdata/sf0.001"
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    yield con
    con.close()


def _norm_cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return f"{v!r}"
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return v


def _norm_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_norm_cell(r[i]) for i in order) for r in rows)


@pytest.mark.parametrize("name", sorted(entrymod.queries().keys()))
def test_query_runs_and_matches_oracle(spark, duck, name):
    q = entrymod.queries()[name]
    sdf = q(spark, SF_DIR)
    scols = sdf.columns
    srows = [tuple(r) for r in sdf.collect()]
    assert len(srows) >= 0          # runs
    sql = entrymod.oracle_sql().get(name)
    if sql is None:
        assert len(srows) > 0       # rows-only check
        return
    res = duck.sql(sql)
    dcols = res.columns
    drows = res.fetchall()
    assert sorted(c.lower() for c in scols) == sorted(c.lower() for c in dcols), \
        (scols, dcols)
    left = _norm_rows([c.lower() for c in scols], srows)
    right = _norm_rows([c.lower() for c in dcols], drows)
    assert len(left) == len(right), (name, len(left), len(right))
    mism = [i for i, (a, b) in enumerate(zip(left, right)) if a != b]
    assert not mism, (name, [(left[i], right[i]) for i in mism[:3]])


# queries that emit in-query self-check columns; the pytest gate pins
# them ALL-TRUE / 1.0.  As of round 4 ALL of these also carry full
# replay-literal oracles (70/70 gate queries oracled — none rows-only);
# keeping the self-check pin makes the invariant fail loudly in pytest
# too, not just as a gate hash mismatch
ROWS_ONLY_SELF_CHECKS = {
    "q_payload_audit": {"bool": ["ok"], "frac": ["ok_frac"]},
    "q_image_features": {"bool": ["decoded", "stats_ok"],
                         "frac": ["decoded_frac"]},
    "q_image_resize": {"bool": ["ok", "dims_ok"], "frac": ["ok_frac"]},
    "q_frame_sample": {"bool": ["idx_ok", "dims_ok", "count_ok"],
                       "frac": []},
    "q_cell_embedding_profile": {"bool": ["profile_ok"], "frac": []},
}


@pytest.mark.parametrize("name", sorted(ROWS_ONLY_SELF_CHECKS))
def test_rows_only_self_checks(spark, name):
    spec = ROWS_ONLY_SELF_CHECKS[name]
    df = entrymod.queries()[name](spark, SF_DIR)
    rows = df.collect()
    assert rows, name
    for col in spec["bool"]:
        assert all(getattr(r, col) for r in rows), (name, col)
    for col in spec["frac"]:
        assert all(getattr(r, col) == 1.0 for r in rows), (name, col)


def test_replay_images_matches_distributed_generator(spark):
    """The replay-literal oracles (q_image_features / q_payload_audit /
    q_image_resize) are only as good as _replay_images' fidelity to the
    DISTRIBUTED generator — pin payload bytes, fmt and stored phash
    byte-identical so a datagen edit can't silently desync the oracle
    ground truth from what the Spark queries actually consume."""
    from osml10n_spark.contract import _replay_images
    from osml10n_spark.sources.datagen import generate_images
    rows = {r.image_id: r
            for r in generate_images(spark, 24, seed=7,
                                     png_every=4).collect()}
    rep = _replay_images(7, 24, png_every=4)
    assert len(rep) == 24
    for rid, fmt, _pix, data, ph in rep:
        r = rows[rid]
        assert (r.fmt, r.phash) == (fmt, ph), rid
        assert bytes(r.bytes) == data, rid


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert df.columns == ["image_id", "caption_l10n", "cell_id", "tile_id"]


def test_every_query_has_an_oracle():
    """A query whose oracle entry goes missing would fall back to the
    rows-only check above; the two registries must name the same
    queries."""
    from osml10n_spark import contract
    assert set(contract.QUERIES) == set(contract.ORACLES)


def test_broken_oracle_fails_only_its_own_query(monkeypatch):
    """Oracles resolve per query on access: a builder that raises (e.g.
    missing boundaries) must not take the other queries' oracles down."""
    from osml10n_spark import contract

    def broken():
        raise FileNotFoundError("no boundaries")

    monkeypatch.setitem(contract.ORACLES, "q_broken", broken)
    oracles = entrymod.oracle_sql()
    assert "q_broken" in oracles and len(oracles) == len(contract.ORACLES)
    assert oracles.get("q_abbrev_de") == contract.ORACLES["q_abbrev_de"]
    with pytest.raises(FileNotFoundError):
        oracles.get("q_broken")
    assert oracles.get("q_no_such_query") is None
