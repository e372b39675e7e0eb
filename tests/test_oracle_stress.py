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
the default suite runs a fixed half of the matrix, the queries whose
index in the sorted matrix is even, so the odd half replays only under
that switch. The sample does not depend on the date: a sample rotating
by day changes the suite's test ids at midnight, and a run compared by
test name then sees some of them vanish. Both halves together cost about
twice the sample's 125-210 s, which the tier-1 time budget does not hold.
"""

from __future__ import annotations

import os

import pytest

import __spark_entry__ as entry_mod
from tests.oracle_utils import run_oracle_matrix
from tests.stress_corpus import build_stress_dir

QUERIES = entry_mod.queries()
ORACLES = entry_mod.oracle_sql()

_FULL = os.environ.get("SPARK_GRAFT_STRESS_TEST") == "1"

STRESS_DIR = "/tmp/spark_graft_stress_sf"


def _sample() -> list[str]:
    return sorted(QUERIES)[::2]


@pytest.fixture(scope="module")
def stress_dir():
    return build_stress_dir(STRESS_DIR)


@pytest.fixture(scope="module")
def stress_results(spark, stress_dir):
    # r11: the replay (full or sample) runs through the overlapped
    # matrix runner (oracle_utils.run_oracle_matrix); granularity preserved
    names = sorted(QUERIES) if _FULL else _sample()
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
@pytest.mark.parametrize("name", _sample())
def test_query_matches_oracle_on_stress_sample(stress_results, name):
    err = stress_results[name]
    if err is not None:
        raise err
