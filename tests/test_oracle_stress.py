"""Replay the entire oracle matrix against the adversarial stress corpus
(tests/stress_corpus.py): apostrophes/unicode/empty text, boundary-equality
prices, timestamp ties, zero/duplicate vectors.

The standard oracle gate (test_oracle.py) proves Spark == DuckDB on the
driver's bland synthetic fixture; a self-consistent pair of queries can
still disagree on content the fixture never contains (the apostrophe
tokenization bug survived three green rounds that way). This suite makes
the data hostile while keeping every schema/enum/key contract intact, so
any failure here is a genuine convention divergence, not a contract breach.

The FULL replay (~32 min) stays gated behind SPARK_GRAFT_STRESS_TEST=1;
the default suite runs a fixed quarter of the matrix plus a ROTATING
quarter keyed on the day ordinal (full coverage every 4 days, so plain
`pytest tests/` does not under-verify). The fixed quarter keeps the
sample's test ids stable from one day to the next: a suite compared by
test name would otherwise see a quarter of it vanish at midnight.
Pin a rotation with SPARK_GRAFT_STRESS_ROT=<int> to reproduce a sample run.
"""

from __future__ import annotations

import os
from datetime import date

import pytest

import __spark_entry__ as entry_mod
from tests.oracle_utils import run_oracle_matrix
from tests.stress_corpus import build_stress_dir

QUERIES = entry_mod.queries()
ORACLES = entry_mod.oracle_sql()

_FULL = os.environ.get("SPARK_GRAFT_STRESS_TEST") == "1"

STRESS_DIR = "/tmp/spark_graft_stress_sf"


# the quarter every default run replays, whatever the day
_FIXED_ROT = 2


def _rotation_sample() -> list[str]:
    names = sorted(QUERIES)
    rot = int(os.environ.get("SPARK_GRAFT_STRESS_ROT", date.today().toordinal()))
    return [
        n for i, n in enumerate(names) if (i + rot) % 4 == 0 or (i + _FIXED_ROT) % 4 == 0
    ]


@pytest.fixture(scope="module")
def stress_dir():
    return build_stress_dir(STRESS_DIR)


@pytest.fixture(scope="module")
def stress_results(spark, stress_dir):
    # r11: the replay (full or rotating sample) runs through the overlapped
    # matrix runner (oracle_utils.run_oracle_matrix); granularity preserved
    names = sorted(QUERIES) if _FULL else _rotation_sample()
    return run_oracle_matrix(spark, stress_dir, names, QUERIES, ORACLES)


@pytest.mark.skipif(
    not _FULL,
    reason="set SPARK_GRAFT_STRESS_TEST=1 for the full stress replay "
    "(the default suite runs the sample below)",
)
@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_matches_oracle_on_stress(stress_results, name):
    err = stress_results[name]
    if err is not None:
        raise err


@pytest.mark.skipif(
    _FULL, reason="full stress replay active; the sample would be redundant"
)
@pytest.mark.parametrize("name", _rotation_sample())
def test_query_matches_oracle_on_stress_sample(stress_results, name):
    err = stress_results[name]
    if err is not None:
        raise err
