"""scripts/scaling.py's report on synthetic leg dicts (no Spark
session): pairing, median speedup, efficiency, and the contention
correction."""

from __future__ import annotations

import pytest

from scripts.scaling import FAMILIES, N, N4, build_report


def _leg(cores: int, near: float, spans: float, cpu: float) -> dict:
    return {"cores": cores, "n_docs": 80_000,
            "seconds": {"near_dedup": near, "duplicate_spans": spans},
            "sum_run_s": cores * (near + spans), "sum_cpu_s": cpu,
            "sum_gc_s": 0.0}


# run order (4N, N) x 3; pair k = (N leg k, 4N leg k), so the near_dedup
# pair ratios are 12/4 = 3.0, 14/4 = 3.5 and 16/5 = 3.2
LEGS = [
    _leg(N4, 4.0, 2.0, 12.0), _leg(N, 12.0, 6.0, 10.0),
    _leg(N4, 4.0, 2.0, 13.0), _leg(N, 14.0, 6.0, 10.0),
    _leg(N4, 5.0, 2.0, 11.0), _leg(N, 16.0, 6.0, 10.0),
]


def _report() -> dict:
    return build_report("dedup", 16, LEGS, 3.9, "sf")


def test_legs_pair_in_run_order():
    q = _report()["queries"]["near_dedup"]
    assert q["seconds"] == {"1": [12.0, 14.0, 16.0], "4": [4.0, 4.0, 5.0]}
    assert q["pair_ratios_N_to_4N"] == [3.0, 3.2, 3.5]


def test_speedup_is_median_pair_ratio_and_efficiency_a_quarter():
    q = _report()["queries"]["near_dedup"]
    assert q["median_speedup"] == 3.2
    assert q["efficiency"] == pytest.approx(3.2 / 4)
    assert q["engine_efficiency_vs_cpu_ceiling"] == pytest.approx(
        round(3.2 / 3.9, 3))


def test_contention_corrected_efficiency():
    r = _report()
    infl = r["task_metrics"]["cpu_inflation_4N_vs_N"]
    assert infl == 1.2  # median of 12/10, 13/10, 11/10
    q = r["queries"]["near_dedup"]
    assert q["contention_corrected_efficiency"] == pytest.approx(
        round(3.2 * 1.2 / 4, 3))


def test_report_schema():
    r = _report()
    assert (r["N"], r["4N"], r["n_docs"], r["repeat"]) == (1, 4, 80_000, 2)
    assert set(r["queries"]) == {"near_dedup", "duplicate_spans"}


def test_legs_without_task_metrics_report_null():
    legs = [{"cores": c, "n_pages": 5000, "seconds": {"crawl_pipeline": s}}
            for c, s in ((N4, 2.0), (N, 7.0))]
    r = build_report("crawl", 1, legs, 3.9, "sf")
    assert r["task_metrics"] is None
    q = r["queries"]["crawl_pipeline"]
    assert q["median_speedup"] == 3.5
    assert q["contention_corrected_efficiency"] is None


@pytest.mark.parametrize("name", sorted(FAMILIES))
def test_family_names_input_and_query(name):
    fam = FAMILIES[name]
    assert callable(fam.build)
    assert fam.queries
    assert fam.size in ("n_docs", "n_edges", "n_pages")
    assert fam.factor > 0
