"""A deliberately corrupted output counts as a failed operation."""

import gen
import run


def test_corrupted_warehouse_count_is_flagged():
    expected = gen.expected_counts(gen.make_rows(4, gen.TINY))
    actual = {t: (v[0] if isinstance(v, list) else v) for t, v in expected.items()}
    assert gen.counts_mismatch(expected, actual) == []
    actual["Fact_HealthMetric"] += 1
    assert gen.counts_mismatch(expected, actual) == [
        f"Fact_HealthMetric: expected {expected['Fact_HealthMetric']}, "
        f"got {actual['Fact_HealthMetric']}"
    ]
    actual["Fact_NutritionLog"] = expected["Fact_NutritionLog"][1] + 1
    assert len(gen.counts_mismatch(expected, actual)) == 2


def test_corrupted_query_result_is_flagged():
    good = (["k", "v"], [(1, 0.5), (2, 1.5)])
    results = {"q_ok": good, "q_bad": (["k", "v"], [(1, 0.5), (2, 1.6)]),
               "q_cols": (["k", "w"], [(1, 0.5), (2, 1.5)])}
    oracle = {"q_ok": (["v", "k"], [(1.5, 2), (0.5, 1)]), "q_bad": good,
              "q_cols": good}
    wrong = run.oracle_mismatches(results, oracle)
    assert set(wrong) == {"q_bad", "q_cols"}


def test_tail_percentile_needs_ten_samples_beyond():
    assert run.percentile_with_ten_beyond([1.0] * 10) == (None, None)
    p, v = run.percentile_with_ten_beyond([float(i) for i in range(1, 41)])
    assert (p, v) == (75.0, 30.0)
