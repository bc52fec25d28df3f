"""The shipped end-to-end example must actually run and be internally
consistent — it is the README's proof that the operator families
compose on the public API."""

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "examples"))


@pytest.mark.slow
def test_llm_pipeline_example_runs(spark):
    from llm_pipeline import run

    s = run("/root/testdata/sf0.001")
    assert s["corpus"]["n_docs"] >= s["after_quality"] >= s["after_dedup"] > 0
    assert s["encoded_docs"] == s["after_dedup"]
    assert 0 < s["vocab_size"] <= 512
    assert s["n_sequences"] > 0
    assert 0.0 <= s["boundary_doc_frac"] <= 1.0
    assert s["survivors_upgraded_by_quality"] >= 0
    assert 0.0 <= s["heldout_ngram_coverage"] <= 1.0
    assert s["sources_unimax_capped"] >= 0


def test_serving_knn_example_runs(spark):
    from serving_knn import run

    s = run("/root/testdata/sf0.001", n_clients=8)
    assert s["parity"], "server results must equal per-query knn_join"
    assert s["raw_qps"] > 0 and s["coalesced_qps"] > 0
    assert 0 < s["coalesced_p50_ms"] <= s["coalesced_p99_ms"]
    assert s["n_clients"] == 8


def test_hybrid_search_and_export_example_runs(spark):
    from hybrid_search_and_export import run

    s = run("/root/testdata/sf0.001")
    assert len(s["ivf_hits"]) == 10
    assert len(s["hybrid_top"]) == 10
    assert s["skew_factor"] >= 1.0
    assert sum(s["shards"].values()) == s["n_exported"] > 0


@pytest.mark.slow
def test_gates_and_retrieval_example_runs(spark):
    from gates_and_retrieval import run

    s = run("/root/testdata/sf0.001")
    g, r = s["gates"], s["retrieval"]
    assert g["n_test"] > 0 and g["exact_champion"] in ("nb", "rule")
    assert g["logreg_acc_ok"] == 1
    # round-9 arms: tree gate learns the length label; the topic label
    # is the learnable one, so its champion verdict is earned by NB
    assert g["gbt_acc_ok"] == 1 and g["gbt_beats_rule_ok"] == 1
    assert g["acc_nb_topic"] > g["acc_rule_topic"]
    assert g["exact_champion_topic"] == "nb"
    assert r["n_interactions"] == r["n_train"] + r["n_test"] > 0
    assert r["als_hit_rate_ok"] == 1 and r["pop_hit_rate_ok"] == 1
