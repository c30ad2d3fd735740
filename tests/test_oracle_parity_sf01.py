"""Scale-dependent oracle parity (@slow, excluded from the default run):
the driver checks correctness at sf0.01, but the overflow bug class
(ppm multiplies, int64 revenue sums, HUGEINT-vs-decimal drift) only
manifests with more rows. Re-run the 16 headline queries vs DuckDB at
sf0.1 — run with `pytest -m slow tests/test_oracle_parity_sf01.py`."""

import duckdb
import pytest

import __spark_entry__ as entry_mod
from tests.test_entry_oracle import TABLES, assert_parity
from tools.harness import HEADLINE

SF_DIR = "/root/testdata/sf0.1"


@pytest.fixture(scope="module")
def ddb01():
    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"CREATE VIEW {t} AS"
            f" SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    yield con
    con.close()


@pytest.mark.slow
@pytest.mark.parametrize("name", HEADLINE)
def test_headline_parity_sf01(spark, ddb01, name):
    queries, oracles = entry_mod.queries(), entry_mod.oracle_sql()
    sdf = queries[name](spark, SF_DIR).toPandas()
    ddf = ddb01.sql(oracles[name]).df()
    assert len(sdf) > 0, f"{name}: empty at sf0.1"
    assert_parity(sdf, ddf, name)


# Round-18's stateful-streaming registrations: the flush/shard paths
# move real volume through applyInPandasWithState at sf0.1 (~10× the
# driver's certification rows), where state-size and multi-batch
# effects would surface if they existed.
STREAMING_R18 = [
    "streaming_funnel_flush",
    "streaming_peak_sharded",
    "streaming_sessionize_flush",
]


@pytest.mark.slow
@pytest.mark.parametrize("name", STREAMING_R18)
def test_streaming_r18_parity_sf01(spark, ddb01, name):
    queries, oracles = entry_mod.queries(), entry_mod.oracle_sql()
    sdf = queries[name](spark, SF_DIR).toPandas()
    ddf = ddb01.sql(oracles[name]).df()
    assert len(sdf) > 0, f"{name}: empty at sf0.1"
    assert_parity(sdf, ddf, name)


# ---------------------------------------------------------------------
# Rolling rotation (VERDICT r12 #5): each @slow run certifies the 50
# STALEST registry queries at sf0.1 (driver-style staleness: never
# certified first, then oldest SF01CERT_r*.json round), and records a
# LOCALCERT-style artifact SF01CERT_r{N}.json so the next run rotates
# forward. Headline queries are excluded — they re-certify every round
# above. Empty results are allowed here (some registry queries are
# legitimately empty at a given SF); parity is the gate.

from tools.sf01_rotation import next_round, rotation  # noqa: E402

ROTATION = rotation(50)
_ROT_RESULTS: dict = {}


@pytest.fixture(scope="module")
def _sf01cert_writer():
    yield
    if not _ROT_RESULTS:
        return
    import json
    import subprocess

    rnd = next_round()
    try:
        head = subprocess.run(
            ["git", "rev-parse", "--short", "HEAD"],
            capture_output=True, text=True, cwd=str(_REPO),
        ).stdout.strip()
    except Exception:
        head = None
    out = dict(sorted(_ROT_RESULTS.items()))
    out["__meta__"] = {
        "round": rnd,
        "git_head": head,
        "sf_dir": SF_DIR,
        "selected": len(ROTATION),
        "ran": len(_ROT_RESULTS),
        "passed": sum(1 for v in _ROT_RESULTS.values() if v.get("ok")),
        "failed": [k for k, v in _ROT_RESULTS.items() if not v.get("ok")],
    }
    path = _REPO / f"SF01CERT_r{rnd}.json"
    path.write_text(json.dumps(out, indent=1))


import pathlib  # noqa: E402

_REPO = pathlib.Path(__file__).resolve().parent.parent


@pytest.mark.slow
@pytest.mark.parametrize("name", ROTATION)
def test_rotation_parity_sf01(spark, ddb01, _sf01cert_writer, name):
    queries, oracles = entry_mod.queries(), entry_mod.oracle_sql()
    row = {"ok": False, "rows": None}
    _ROT_RESULTS[name] = row
    sdf = queries[name](spark, SF_DIR).toPandas()
    ddf = ddb01.sql(oracles[name]).df()
    row["rows"] = len(sdf)
    assert_parity(sdf, ddf, name)
    row["ok"] = True
