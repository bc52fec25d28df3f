"""Every registered query must hash-match its DuckDB oracle at sf0.001
(the driver runs the same check at sf0.01).

Tier-2 (`slow`) for the FULL sweep: the /verify sweep runs the
identical comparison for all queries at the larger sf0.01 before every
commit, and the full suite runs this module once per round. A SMOKE
subset (ADVICE r8: the fast path must still catch gross parity breaks
— a broken tokens()/md5 helper, a registry assembly bug — without
depending on the out-of-band sweep) stays un-marked: the newest
round's queries plus one sentinel per oracle discipline (exact-integer
agg, rounded-float kernel, window, sketch-internal hash, guarantee
flags, text shingler)."""

import pytest

from tests.conftest import SF_SMOKE
from tests.oracle_utils import compare, duck_connection

# newest-round additions + one sentinel per parity discipline; keep
# this list short (~10) so the fast tier stays fast
SMOKE = [
    "gate_champion_challenger",  # round-9 extension (GBT arm, topic label)
    "mllib_als_retrieval",       # round-8; guarantee-flag discipline
    "knn_search",                # int8 cosine kernel, rounded-float scores
    "pricing_summary",           # exact-integer cents aggregation
    "customer_order_running",    # window-frame discipline
    "kmv_distinct_users",        # sketch-internal hash oracle
    "dedup_minhash_lsh",         # banded dedup + text shingler
    "order_priority_counts",     # plain grouped count (r1 sentinel)
    "knn_join",                  # int8 cosine scan, per-query top-k selector
    "contrastive_triplets",      # int8 cosine scan, label-masked (both arms)
]


def _registry():
    from pythonvectordb_spark.registry import ORACLES, QUERIES

    assert set(ORACLES) <= set(QUERIES)
    return QUERIES, ORACLES


def pytest_generate_tests(metafunc):
    if "qname" in metafunc.fixturenames:
        queries, oracles = _registry()
        rest = sorted(set(oracles) - set(SMOKE))
        metafunc.parametrize(
            "qname",
            [pytest.param(n) for n in SMOKE if n in oracles]
            + [pytest.param(n, marks=pytest.mark.slow) for n in rest],
        )


@pytest.fixture(scope="module")
def duck():
    con = duck_connection(SF_SMOKE)
    yield con
    con.close()


def test_oracle(qname, spark, duck):
    queries, oracles = _registry()
    df = queries[qname](spark, SF_SMOKE)
    ok, msg = compare(df, duck, oracles[qname])
    assert ok, f"{qname}: {msg}"
