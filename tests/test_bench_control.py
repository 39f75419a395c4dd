"""Guard for the bench drift-control group's integrity (ADVICE r9).

``bench.py`` stamps the headline line with ``control_s`` — the frozen
BENCH_R4 group total minus ``CONTROL_EXCLUDED`` — and the cross-round
protocol judges ``headline_over_control`` first. That only works if a
control member whose CODE changes is excluded the same commit; until
this test, that rested on a comment-only convention.

The pin is a short sha256 of each member's registered function source.
Editing a member now fails here unless the member is added to
``CONTROL_EXCLUDED`` (at which point its pin row may be refreshed or
dropped). Helpers a member calls are not covered — the pin is the
tripwire for direct edits, which is the class that actually occurred
(dd15's r9 persist rework).
"""

from __future__ import annotations

import hashlib
import inspect

import bench
from chicago_business_owners_data_engineering_spark import registry

# Pinned at round 10 open (pre-optimization tree, r09 tag b37e784).
CONTROL_SOURCE_PINS = {
    "gr05_kcore": "4f61448251507473",
    "sim12_ivf_mmr_rerank": "2a4754184736f3e4",
    "sim13_knn_join": "2714ff4e2fa46df3",
    "dq06_k_anonymity": "6497248d5c0f4978",
    "dq07_k_anonymity_suppress": "59cc01cde0528972",
    "gr06_onion_layers": "56fb986400fae886",
    "ml04_density_dedup": "3d73da83367cfa25",
    "sim14_pq_knn_join": "7f34b28a33e5d7cf",
    "tx13_bigram_surprisal": "7c3c02fba8c9f074",
    "dq08_ks_drift": "e5f9705b7ef595a2",
    "dq09_mann_whitney": "68c99e9633fec6dc",
    "ml05_fasttext_quality": "7e4f303753d16d72",
    "dd13_containment_join": "86788bef0e594e82",
    "tx14_bpe_merges": "4774619ab49e820e",
    "tx15_bpe_tokenize": "13358c2c3ec3eb1a",
    "dq10_mad_outliers": "4de0f428612d36b1",
    "ts09_seasonal_naive_backtest": "6eb5b9fdd41efdc6",
    "dq11_benford_digits": "628d0bfb41b91c75",
    "gr07_lpa_communities": "983b68832b86bc92",
    "ml06_threshold_sweep": "8b904dd7b2244410",
    "ab01_experiment_readout": "cff95ae825c73c02",
    "gr08_bfs_hops": "18030e9882d2522b",
    "ts10_linear_trend": "30d7a2a33e23e3e9",
    "tp16_dsir_resample": "423c479b90f89e72",
    "gr09_link_prediction": "466158aa53c5dd1b",
    "tx16_collocations": "60475bb79129c797",
    "dq12_key_discovery": "9d9283e94ccb5b51",
    "dq13_l_diversity": "3a79601b9d4d0a94",
    "ts11_cusum_changepoint": "f368104c849af51c",
    "er04_golden_record": "6eae4334d0ba4b29",
    "inc03_incremental_distinct": "e12b56d4388370b2",
    "gr10_degree_assortativity": "e4ef73f8c44e2a15",
    "tp17_decontaminate_train": "1e1d50854160690b",
    "ts12_weekday_seasonality": "90d6f98e02467844",
    "dd14_ngram_novelty": "e07a9bb2aa7f75ab",
    "dq14_referential_orphans": "2f3e4b3e21af70ec",
    "ml08_reliability_bins": "fefb1f099a698f65",
    "st02_last_touch_attribution": "749d6a5016858509",
    "u06_arrow_udf_bucket": "fb32bc1c91f60cc7",
    "sim15_ivf_recall_eval": "9b9233148051446a",
    "a30_grouped_string_agg": "94d7f169ef5413ec",
    "j12_null_safe_join": "29edea0f2e9a4699",
    "dd15_simhash_hamming_pairs": "27614b644da0b039",
    "gr11_clustering_coefficient": "4cfaf40e30f8a9c5",
    "wh04_scd2_merge": "c908413b42ac74d1",
    "f25_id_gap_islands": "138cf67481f6f09c",
    "ts13_seasonal_anomaly": "6b8f6d2bda99b318",
}


def _pin(name: str) -> str:
    src = inspect.getsource(registry.QUERIES[name])
    return hashlib.sha256(src.encode()).hexdigest()[:16]


def test_control_members_pinned():
    """Every non-excluded BENCH_R4 member's source matches its pin."""
    drifted = []
    for name in bench.BENCH_R4:
        if name in bench.CONTROL_EXCLUDED:
            continue
        if _pin(name) != CONTROL_SOURCE_PINS.get(name):
            drifted.append(name)
    assert not drifted, (
        f"control member source changed without CONTROL_EXCLUDED entry: "
        f"{drifted} — add them to bench.CONTROL_EXCLUDED in the same "
        f"commit (and refresh their pin here if intentional)"
    )


def test_excluded_are_real_members():
    assert bench.CONTROL_EXCLUDED <= set(bench.BENCH_R4)


# Membership hash of the FROZEN control basis (VERDICT r10 #3). r11
# dropped dq12 (its plan became adaptive, VERDICT r10 #7) and the shared
# graph iteration driver dropped gr05-gr11, so the operative basis is 33
# members; the prior rounds' ratios recomputed on this basis from their
# committed logs are recorded next to the constant in bench.py. If this
# assert ever needs editing, recompute the prior round's ratio on the
# new basis the same way and record both.
CONTROL_BASIS_R10_SHA = "274a7f4a85c6e089"


def test_control_basis_r10_frozen():
    digest = hashlib.sha256(
        "\n".join(sorted(bench.CONTROL_BASIS_R10)).encode()
    ).hexdigest()[:16]
    assert digest == CONTROL_BASIS_R10_SHA
    # the computed basis (BENCH_R4 minus exclusions) must agree with the
    # frozen one: a member excluded later without conscious basis
    # bookkeeping fails here instead of silently shifting control_s.
    assert set(bench.BENCH_R4) - bench.CONTROL_EXCLUDED == set(
        bench.CONTROL_BASIS_R10
    )


def test_pins_cover_the_group():
    assert set(CONTROL_SOURCE_PINS) == set(bench.BENCH_R4)


def test_final_headline_line_fits_driver_tail():
    """The driver keeps a 2,000-char stdout tail and parses the LAST
    JSON line; the final headline line (VERDICT r10 #1: per-query
    2-decimal medians restored to it) must fit with headroom even at
    implausibly slow per-query values."""
    import json

    line = json.dumps(
        {
            "metric": "headline_queries_total_runtime",
            "value": 99999.999,
            "value_min": 99999.999,
            "unit": "sec",
            "sf": 0.1,
            "control_s": 99999.999,
            "headline_over_control": 0.2777,
            "queries": {n: 999.99 for n in bench.BENCH_QUERIES},
        }
    )
    assert len(line) < 1800, len(line)
