"""The driver-side drift scores equal the Spark (part x bin) grid they
replaced (tests/drift_oracle.py), row for row and schema for schema."""

import pytest
from pyspark.sql import functions as F

import drift_oracle as O
from drift_detection_pibic___framework_spark.operators import drift_dist as D


@pytest.fixture(scope="module")
def synthetic(spark):
    """64 partitions of 400 rows: lognormal-ish dur_ms whose centre moves
    with the partition, ~0.2% nulls, values past the last bin and below
    the first."""
    part = (F.col("id") % 64).cast("int")
    dur = (F.when(F.rand(11) < 0.002, None)
           .when(F.col("id") % 97 == 0, 4100 + F.col("id") % 500)
           .when(F.col("id") % 89 == 0, -3)
           .otherwise(F.floor(F.exp(F.randn(7) * 0.6 + 5.9 + part * 0.01))))
    df = (spark.range(0, 64 * 400, 1, 8)
          .select(part.alias("part"), dur.cast("int").alias("dur_ms"))
          .cache())
    df.count()
    yield df
    df.unpersist()


@pytest.fixture(scope="module")
def fixture_dur(clips):
    df = clips.select("part", "dur_ms").cache()
    df.count()
    yield df
    df.unpersist()


def _cases(fixture_dur, synthetic, round_to):
    """Every case at round_to 6; the two full tables at 4 and 3 too."""
    cases = [("fixture", fixture_dur, {}), ("synthetic", synthetic, {})]
    if round_to == 6:
        cases += [
            ("separate baseline", fixture_dur.filter("part >= 8"),
             {"baseline": fixture_dur}),
            ("synthetic separate baseline", synthetic.filter("part >= 32"),
             {"baseline": synthetic, "baseline_parts": (0, 5, 9)}),
            ("absent baseline", fixture_dur.filter("part >= 8"), {})]
    return cases


@pytest.mark.parametrize("round_to", [6, 4, 3])
def test_drift_functions_equal_grid_oracle(spark, fixture_dur, synthetic,
                                           round_to):
    for name, df, kw in _cases(fixture_dur, synthetic, round_to):
        want = O.scores(df, round_to=round_to, **kw).cache()
        rows = want.collect()
        for fn, cols in O.COLUMNS.items():
            got = getattr(D, fn)(df, round_to=round_to, **kw)
            assert got.schema == want.select("part", *cols).schema, (name, fn)
            assert (sorted(tuple(r) for r in got.collect())
                    == sorted((r.part, *[r[c] for c in cols]) for r in rows)
                    ), (name, fn)
        got = D.drift_verdicts(df, round_to=round_to, **kw)
        oracle = O.verdicts(want)
        assert got.schema == oracle.schema, name
        assert sorted(got.collect()) == sorted(oracle.collect()), name
        want.unpersist()


def test_absent_baseline_scores_are_null(spark, clips):
    """No baseline partition: every score is null, n_part stays the row
    count, ks_p is 0.0 and the verdict fails closed."""
    late = clips.filter("part >= 8")
    rows = D.drift_scores_with_p(late).collect()
    assert rows and all(
        (r.psi, r.ks, r.n_base, r.ks_p) == (None, None, None, 0.0)
        and r.n_part > 0 for r in rows)
    assert not any(r.passed for r in D.drift_verdicts(late).collect())


def test_ks_p_value_is_one_at_zero_and_never_increases():
    """Below the series' convergence point p is 1 (the truncated series
    summed to 0 at d = 0), and p never increases as d grows."""
    assert D.ks_p_value(0.0, 200, 800) == 1.0
    assert D.ks_p_value(0.001, 200, 800) == 1.0
    for n1, n2 in ((200, 800), (5, 7), (40_000, 160_000)):
        ps = [D.ks_p_value(i / 10_000, n1, n2)
              for i in range(10_001)]
        assert all(b <= a for a, b in zip(ps, ps[1:])), (n1, n2)
