"""Invariant tests for the analytics ops of oracle_defs55, 61 and 62
(value equality vs DuckDB is covered by the oracle sweep; these pin the
guarantees the value hash can't express)."""

from __future__ import annotations

SF = "/root/testdata/sf0.001"


def test_theil_components_nonnegative(spark):
    from lnex_spark.oracle_defs55 import theil_decomp_events

    r = theil_decomp_events(spark, SF).collect()[0]
    assert r.theil_total >= 0
    assert r.theil_between >= -1e-9
    assert r.theil_within >= -1e-9
    assert abs(r.theil_total - (r.theil_between + r.theil_within)) < 1e-5


def test_weighted_median_matches_bruteforce(spark):
    from lnex_spark.oracle_defs55 import weighted_median_lineitem

    r = weighted_median_lineitem(spark, SF).collect()[0]
    rows = (
        spark.read.parquet(f"{SF}/lineitem.parquet")
        .select("l_extendedprice", "l_quantity", "l_orderkey", "l_linenumber")
        .collect()
    )
    rows.sort(key=lambda x: (x.l_extendedprice, x.l_orderkey, x.l_linenumber))
    tw = sum(int(x.l_quantity) for x in rows)
    cum = 0
    for x in rows:
        cum += int(x.l_quantity)
        if cum * 2 >= tw:
            assert abs(r.weighted_median - round(x.l_extendedprice, 6)) < 1e-9
            break
    assert r.total_weight == tw


def test_conformal_coverage_near_nominal(spark):
    from lnex_spark.oracle_defs61 import conformal_events

    r = conformal_events(spark, SF).collect()[0]
    assert r.q90 > 0
    # split-conformal guarantee: coverage >= 0.9 - O(1/n_cal); allow finite-sample slack
    assert 0.8 <= r.coverage <= 1.0


def test_good_turing_discounts_singletons(spark):
    from lnex_spark.oracle_defs61 import good_turing_docs

    rows = {r.r: r for r in good_turing_docs(spark, SF).collect()}
    assert 1 in rows
    assert 0.0 < rows[1].unseen_mass < 1.0
    # GT discounts the singleton count (r*=2*N2/N1 < 1 on a Zipf tail)
    assert rows[1].r_star < 1.0


def test_silhouette_bounded(spark):
    from lnex_spark.oracle_defs62 import silhouette_embeddings

    rows = silhouette_embeddings(spark, SF).collect()
    assert rows and sum(r.n for r in rows) == 300
    for r in rows:
        assert -1.0 <= r.avg_silhouette <= 1.0


def test_f1_curve_invariants(spark):
    """Recall and true positives are non-increasing in the threshold
    (the rule predicts n_chars > t); is_best flags exactly the F1 max.
    Note F1 and info gain legitimately pick different thresholds on a
    weak score: F1 tolerates the predict-everything regime, IG does
    not — asserting agreement here would encode a false belief."""
    from lnex_spark.oracle_defs62 import f1_threshold_docs

    rows = sorted(f1_threshold_docs(spark, SF).collect(), key=lambda r: r.t)
    for a, b in zip(rows, rows[1:]):
        assert b.rec <= a.rec + 1e-9
        assert b.tp <= a.tp
    best = max(r.f1 for r in rows)
    assert {r.f1 for r in rows if r.is_best} == {best}
