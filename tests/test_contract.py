"""Replicates the driver's correctness gate locally: every queries()
entry runs on Spark at sf0.001 and must match its DuckDB oracle
row-for-row (order-insensitive, columns sorted by name, values
normalized the way a value-hash would see them)."""
import duckdb
import pytest

import __spark_entry__ as entrymod
from osml10n_spark.contract import TABLES, norm_rows

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    yield con
    con.close()


@pytest.mark.parametrize("name", sorted(entrymod.queries().keys()))
def test_query_runs_and_matches_oracle(spark, duck, name):
    q = entrymod.queries()[name]
    sdf = q(spark, SF_DIR)
    scols = sdf.columns
    srows = [tuple(r) for r in sdf.collect()]
    res = duck.sql(entrymod.oracle_sql()[name])
    dcols = res.columns
    drows = res.fetchall()
    assert sorted(c.lower() for c in scols) == sorted(c.lower() for c in dcols), \
        (scols, dcols)
    left = norm_rows(scols, srows)
    right = norm_rows(dcols, drows)
    assert len(left) == len(right), (name, len(left), len(right))
    mism = [i for i, (a, b) in enumerate(zip(left, right)) if a != b]
    assert not mism, (name, [(left[i], right[i]) for i in mism[:3]])


# queries that emit in-query self-check columns; the pytest gate pins
# them ALL-TRUE / 1.0.  Every one of them also carries a full
# replay-literal oracle (every query is oracled — none rows-only);
# keeping the self-check pin makes the invariant fail loudly in pytest
# too, not just as an oracle mismatch
ROWS_ONLY_SELF_CHECKS = {
    "q_payload_audit": {"bool": ["ok"], "frac": ["ok_frac"]},
    "q_image_features": {"bool": ["decoded", "stats_ok"],
                         "frac": ["decoded_frac"]},
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
    """The replay-literal oracles (q_image_features / q_payload_audit)
    are only as good as _replay_images' fidelity to the
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
    """Spark-free check of the driver interface: queries() and
    oracle_sql() name the same 40 queries."""
    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    assert set(qs) == set(oracles)
    assert len(qs) == len(oracles) == 40


def test_tables_are_exactly_the_ones_oracles_read():
    """Spark-free: the gate's view list is the set of tables the
    oracles read, as DuckDB's parser sees them (CTE names excluded) —
    no oracle reads a table outside TABLES, and no TABLES entry is
    left over once the queries reading it are gone."""
    oracles = entrymod.oracle_sql()
    read = {name: duckdb.get_table_names(oracles[name]) for name in oracles}
    outside = {name: t - set(TABLES) for name, t in read.items()
               if t - set(TABLES)}
    assert not outside, outside
    assert set().union(*read.values()) == set(TABLES)


def test_contract_import_builds_no_oracle_data():
    """Importing the contract builds no replay-literal oracle: a fresh
    interpreter that imports it has loaded neither the image generator
    nor the image codecs (their builders run on first oracle access)."""
    import subprocess
    import sys
    from pathlib import Path

    code = ("import sys, osml10n_spark.contract; "
            "print(sorted(m for m in ('osml10n_spark.sources.datagen', "
            "'osml10n_spark.imaging') if m in sys.modules))")
    out = subprocess.run([sys.executable, "-c", code], check=True,
                         capture_output=True, text=True,
                         cwd=Path(__file__).resolve().parents[1])
    assert out.stdout.strip() == "[]", out.stdout


def test_broken_oracle_fails_only_its_own_query(monkeypatch):
    """Oracles resolve per query on access: a builder that raises (e.g.
    missing boundaries) must not take the other queries' oracles down."""
    from osml10n_spark import contract

    def broken():
        raise FileNotFoundError("no boundaries")

    monkeypatch.setitem(contract.REGISTRY, "q_broken",
                        contract.Query(contract.q_abbrev_de, broken))
    oracles = entrymod.oracle_sql()
    assert "q_broken" in oracles and len(oracles) == len(contract.REGISTRY)
    assert oracles.get("q_abbrev_de") == contract.REGISTRY["q_abbrev_de"].oracle
    with pytest.raises(FileNotFoundError):
        oracles.get("q_broken")
    assert oracles.get("q_no_such_query") is None


def test_coverage_names_only_registered_queries():
    """Doc drift guard (no Spark session): every bold **q_…** query
    name in COVERAGE.md must be a key of contract.REGISTRY, so a query
    that leaves the registry takes its coverage rows with it."""
    import re
    from pathlib import Path

    from osml10n_spark import contract
    text = (Path(__file__).resolve().parents[1] / "COVERAGE.md").read_text()
    named = set(re.findall(r"\*\*(q_[a-z0-9_]+)\*\*", text))
    assert named
    assert sorted(named - set(contract.REGISTRY)) == []
