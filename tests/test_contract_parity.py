"""Data-contract verdicts through the check registry
(``profile.suggested_suite_verdicts`` -> ``suite.contract_checks`` ->
``collect_suite``) equal the Spark-expression compiler they replaced
(tests/contract_oracle.py), row for row, on the fixture and on a
64-partition frame with NaN, +-inf, nulls and -0.0."""

import random

import pytest
from pyspark.sql import types as T

import contract_oracle
from drift_detection_pibic___framework_spark.operators import profile as P

HAND = [("transcript", "not_null", ""),
        ("transcript", "completeness_pct_ge", "99"),
        ("clip_id", "unique", ""),
        ("sr_hz", "range", "[8000,48000]"),
        ("dur_ms", "range", "[50.5,1999.25]"),
        ("codec", "isin", "alaw,mulaw,pcm_s16le")]


@pytest.fixture(scope="module")
def synthetic(spark):
    rnd = random.Random(11)
    special = [float("nan"), float("inf"), float("-inf"), -0.0, 0.0, 1e-300]
    rows = []
    for i in range(512):
        part = i % 64
        d = (None if rnd.random() < 0.1 else rnd.choice(special)
             if rnd.random() < 0.2 else rnd.uniform(-5, 5))
        n = None if rnd.random() < 0.1 else rnd.randint(-2 ** 40, 2 ** 40)
        s = None if rnd.random() < 0.05 else rnd.choice("abcde") * (i % 3)
        rows.append((part, d, n, s, f"id{i % 300}"))
    # one partition of nulls only, one of NaN only
    rows += [(64, None, None, None, "x"), (65, float("nan"), 1, "a", "y")]
    schema = T.StructType([T.StructField("part", T.IntegerType()),
                           T.StructField("d", T.DoubleType()),
                           T.StructField("n", T.LongType()),
                           T.StructField("s", T.StringType()),
                           T.StructField("k", T.StringType())])
    return spark.createDataFrame(rows, schema)


SYNTH = [("d", "not_null", ""), ("n", "completeness_pct_ge", "90"),
         ("s", "completeness_pct_ge", "95"), ("k", "unique", ""),
         ("d", "range", "[-4.5,4.5]"), ("d", "range", "[-inf,inf]"),
         ("n", "range", "[-1099511627776,1099511627776]"),
         ("s", "isin", "a,aa,bb,cc"), ("s", "isin", ""),
         ("n", "not_null", "")]


def _rows(df):
    return sorted((tuple(repr(v) for v in r) for r in df.collect()))


def _same(df, contract):
    got = P.suggested_suite_verdicts(df, contract)
    want = contract_oracle.suggested_suite_verdicts(df, contract)
    assert [(f.name, f.dataType) for f in got.schema] == \
        [(f.name, f.dataType) for f in want.schema]
    assert _rows(got) == _rows(want)
    return got


def test_contract_verdicts_equal_expression_compiler_on_fixture(spark,
                                                                clips):
    got = _same(clips, HAND)
    assert got.count() == 6 * clips.select("part").distinct().count()
    assert _same(clips, []).count() == 0
    suggested = P.suggest_constraints(clips.drop("bytes"),
                                      exact_distinct=True)
    _same(clips, suggested)


def test_contract_verdicts_equal_expression_compiler_on_edge_values(
        spark, synthetic):
    got = {(r.part, r.check_name): r for r in _same(synthetic, SYNTH)
           .collect()}
    assert got[(64, "range(d)")].passed is None            # all null
    assert got[(65, "range(d)")].observed == "NaN..NaN"
    suggested = P.suggest_constraints(synthetic, cols=["d", "n", "s"],
                                      max_domain=5, exact_distinct=True)
    _same(synthetic, suggested)
