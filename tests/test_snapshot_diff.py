"""Per-commit stats sidecars and the zero-rescan commit-drift gate."""

import os

import pytest
from pyspark.sql import functions as F

from drift_detection_pibic___framework_spark.operators import snapshot_diff
from drift_detection_pibic___framework_spark.sources.tableio import (
    ParquetTableIO, fold_sidecars)


@pytest.fixture()
def io(tmp_path):
    return ParquetTableIO(str(tmp_path))


def _commit(spark, io, name, n, mean, nulls=0, extra_col=False):
    """n rows of v ~ [mean-2, mean+2] (integer ramp) with optional nulls."""
    df = spark.range(n).select(
        F.col("id"),
        (F.lit(mean) + F.pmod(F.col("id"), F.lit(5)) - 2)
        .cast("int").alias("v"))
    if nulls:
        df = df.withColumn(
            "v", F.when(F.col("id") < nulls, None).otherwise(F.col("v")))
    if extra_col:
        df = df.withColumn("w", F.lit(1))
    return io.append(df, name, stats_cols=("v",))


def test_sidecar_written_and_fold_matches_direct(spark, io):
    _commit(spark, io, "t", 100, 50)
    _commit(spark, io, "t", 60, 50)
    sides = io.snapshot_stats("t")
    assert len(sides) == 2 and sides[0]["rows"] == 100
    folded = snapshot_diff.moments(fold_sidecars(sides)["cols"]["v"])
    direct = (io.read_appended(spark, "t")
              .agg(F.avg("v").alias("m"), F.stddev_samp("v").alias("s"),
                   F.min("v").alias("mn"), F.max("v").alias("mx"))
              .collect()[0])
    assert folded["mean"] == pytest.approx(direct.m, abs=1e-9)
    assert folded["std"] == pytest.approx(direct.s, abs=1e-9)
    assert (folded["min"], folded["max"]) == (direct.mn, direct.mx)


def test_drift_report_flags_shift_null_jump_and_escape(spark, io):
    _commit(spark, io, "t", 200, 50)
    _commit(spark, io, "t", 200, 50)
    # shifted mean (+10 on std ~1.4 -> huge effect) + nulls + range escape
    _commit(spark, io, "t", 100, 60, nulls=5)
    rep = {r.column: r for r in
           snapshot_diff.stat_drift_report(spark, io, "t").collect()}
    r = rep["v"]
    assert r.flagged and r.effect_size > 0.5 and r.range_escape
    assert r.null_rate_after == pytest.approx(0.05)
    assert r.n_before == 400 and r.n_after == 95


def test_drift_report_quiet_on_identical_commit(spark, io):
    _commit(spark, io, "t", 200, 50)
    _commit(spark, io, "t", 200, 50)
    rows = snapshot_diff.stat_drift_report(spark, io, "t").collect()
    assert len(rows) == 1 and not rows[0].flagged
    assert rows[0].effect_size == 0.0 and not rows[0].range_escape


def test_drift_report_empty_below_two_commits(spark, io):
    assert snapshot_diff.stat_drift_report(spark, io, "t").count() == 0
    _commit(spark, io, "t", 50, 10)
    assert snapshot_diff.stat_drift_report(spark, io, "t").count() == 0


def test_rolled_back_commit_excluded_from_fold(spark, io):
    _commit(spark, io, "t", 200, 50)
    keep = io.snapshots("t")[-1]["snap"]
    _commit(spark, io, "t", 100, 90)          # bad commit
    io.rollback("t", keep)
    _commit(spark, io, "t", 200, 50)
    rows = snapshot_diff.stat_drift_report(spark, io, "t").collect()
    # baseline = first commit only; the rolled-back 90-mean commit is gone
    assert rows[0].n_before == 200 and not rows[0].flagged


def test_schema_diff_detects_added_column(spark, io):
    _commit(spark, io, "t", 50, 10)
    s2 = _commit(spark, io, "t", 50, 10, extra_col=True)
    rows = snapshot_diff.schema_diff_report(spark, io, "t").collect()
    assert [(r.snap, r.column, r.change) for r in rows] == \
        [(s2, "w", "added")]


def test_append_without_stats_cols_writes_no_sidecar(spark, io):
    io.append(spark.range(5), "t")
    assert io.snapshot_stats("t") == []
    assert not os.path.isdir(os.path.join(io.root, "t", "_stats"))


def test_kll_ks_distance_matches_exact_ks():
    import numpy as np
    from drift_detection_pibic___framework_spark.functions.sketches import (
        kll_from_values, kll_ks_distance)
    rng = np.random.default_rng(3)
    a = rng.normal(0, 1, 20000)
    b = rng.normal(0.5, 1, 20000)
    # exact two-sample KS on the raw samples
    support = np.union1d(a, b)
    fa = np.searchsorted(np.sort(a), support, side="right") / a.size
    fb = np.searchsorted(np.sort(b), support, side="right") / b.size
    exact = float(np.max(np.abs(fa - fb)))
    got = kll_ks_distance(kll_from_values(a), kll_from_values(b))
    assert got == pytest.approx(exact, abs=0.03)
    # identical distributions: near zero
    same = kll_ks_distance(kll_from_values(a), kll_from_values(a.copy()))
    assert same < 0.02


def test_quantile_gate_catches_same_mean_shape_drift(spark, io):
    # baseline: two commits of v uniform-ish around 50 (mean 50)
    _commit(spark, io, "t", 400, 50)
    _commit(spark, io, "t", 400, 50)
    # drifted commit: SAME mean 50, SAME [48, 52] range, but the mass
    # collapses onto the extremes {48, 52} (bimodal)
    bimodal = spark.range(400).select(
        F.col("id"),
        F.when(F.pmod("id", F.lit(2)) == 0, 48).otherwise(52)
        .cast("int").alias("v"))
    io.append(bimodal, "t", stats_cols=("v",))
    moment = snapshot_diff.stat_drift_report(spark, io, "t").collect()[0]
    shape = snapshot_diff.quantile_drift_report(spark, io, "t").collect()[0]
    # the moment gate is completely blind to this commit...
    assert not moment.flagged and moment.effect_size == 0.0
    assert not moment.range_escape
    # ...but the KS gate flags the reshaped distribution
    assert shape.flagged and shape.ks > 0.25
    assert shape.n_before == 800 and shape.n_after == 400


def test_quantile_gate_quiet_on_identical_commits(spark, io):
    _commit(spark, io, "t", 300, 50)
    _commit(spark, io, "t", 300, 50)
    rows = snapshot_diff.quantile_drift_report(spark, io, "t").collect()
    assert len(rows) == 1 and not rows[0].flagged and rows[0].ks < 0.05


def test_category_gate_flags_share_swing_and_new_arrival(spark, io):
    def cat_commit(weights):
        rows, total = [], 200
        vals = []
        for item, w in weights.items():
            vals += [item] * int(w * total)
        df = spark.createDataFrame([(i, v) for i, v in enumerate(vals)],
                                   "id int, codec string")
        io.append(df, "t", cat_cols=("codec",))

    cat_commit({"a": 0.7, "b": 0.3})
    cat_commit({"a": 0.7, "b": 0.3})
    cat_commit({"a": 0.4, "b": 0.3, "z": 0.3})   # a collapses, z appears
    rep = {r.item: r for r in
           snapshot_diff.category_drift_report(spark, io, "t").collect()}
    assert rep["a"].flagged and rep["a"].delta == pytest.approx(-0.3)
    assert not rep["b"].flagged
    assert rep["z"].flagged and rep["z"].new_arrival
    assert rep["z"].share_before == 0.0
    assert rep["z"].share_after == pytest.approx(0.3)


def test_category_gate_quiet_on_stable_mix(spark, io):
    for _ in range(3):
        df = spark.createDataFrame(
            [(i, "a" if i % 10 < 7 else "b") for i in range(200)],
            "id int, codec string")
        io.append(df, "t", cat_cols=("codec",))
    rows = snapshot_diff.category_drift_report(spark, io, "t").collect()
    assert rows and not any(r.flagged for r in rows)


def _key_commit(spark, io, lo, hi, dup_frac=0.0):
    """Commit keys [lo, hi) plus an optional within-commit duplicated
    prefix (dup_frac of the range repeated once)."""
    df = spark.range(lo, hi).selectExpr("CAST(id AS STRING) AS clip_id")
    if dup_frac:
        n_dup = int((hi - lo) * dup_frac)
        df = df.unionAll(spark.range(lo, lo + n_dup)
                         .selectExpr("CAST(id AS STRING) AS clip_id"))
    io.append(df, "t", key_cols=("clip_id",))


def test_uniqueness_gate_flags_reingestion(spark, io):
    _key_commit(spark, io, 0, 2000)
    _key_commit(spark, io, 2000, 4000)
    _key_commit(spark, io, 1000, 3000)   # 100% already ingested
    r = snapshot_diff.uniqueness_drift_report(spark, io, "t").collect()[0]
    assert r.column == "clip_id" and r.flagged
    assert r.cross_dup_rate > 0.9
    assert r.intra_dup_rate < 0.05
    assert r.base_distinct == pytest.approx(4000, rel=0.05)


def test_uniqueness_gate_flags_internal_dups(spark, io):
    _key_commit(spark, io, 0, 2000)
    _key_commit(spark, io, 2000, 4000, dup_frac=0.5)  # fresh but 1/3 dup rows
    r = snapshot_diff.uniqueness_drift_report(spark, io, "t").collect()[0]
    assert r.flagged
    assert r.cross_dup_rate < 0.1
    assert r.intra_dup_rate == pytest.approx(1 / 3, abs=0.05)


def test_uniqueness_gate_quiet_on_fresh_keys(spark, io):
    _key_commit(spark, io, 0, 2000)
    _key_commit(spark, io, 2000, 4000)
    _key_commit(spark, io, 4000, 6000)
    r = snapshot_diff.uniqueness_drift_report(spark, io, "t").collect()[0]
    assert not r.flagged
    assert r.cross_dup_rate < 0.05 and r.intra_dup_rate < 0.05
    assert r.commit_rows == 2000


def test_clips_commit_drift_query_flags_dur_not_sr(spark):
    from drift_detection_pibic___framework_spark import queries as Q
    rep = {r.column: r for r in
           Q.QUERIES["clips_commit_drift"](spark,
                                           "/root/testdata/sf0.001").collect()}
    # fixture parts 8+ carry the injected dur_ms drift; sr_hz is stable
    assert rep["dur_ms"].flagged
    assert not rep["sr_hz"].flagged


# -- sidecar compaction ----------------------------------------------------

def _commit_keyed(spark, io, name, n, start, dup_from=None):
    """n keyed rows [start, start+n) with optional re-ingested key range."""
    df = spark.range(start, start + n).select(
        F.concat(F.lit("k"), F.col("id")).alias("key"),
        (F.pmod(F.col("id"), F.lit(5)) + 50).cast("int").alias("v"),
        F.when(F.pmod(F.col("id"), F.lit(2)) == 0, "mp3")
        .otherwise("wav").alias("codec"))
    if dup_from is not None:
        df = df.unionByName(df.limit(0)).unionByName(
            spark.range(dup_from, dup_from + n // 2).select(
                F.concat(F.lit("k"), F.col("id")).alias("key"),
                F.lit(50).cast("int").alias("v"),
                F.lit("mp3").alias("codec")))
    return io.append(df, name, stats_cols=("v",), cat_cols=("codec",),
                     key_cols=("key",))


def test_compact_stats_fold_matches_uncompacted(spark, io):
    for m in (50, 50, 50, 50):
        _commit(spark, io, "t", 100, m)
    before = snapshot_diff.moments(
        fold_sidecars(io.snapshot_stats("t")[:-1])["cols"]["v"])
    assert io.compact_stats(spark, "t", keep_last=1) == 3
    sides = io.snapshot_stats("t")
    assert [s["snap"] for s in sides][0] == "_baseline" and len(sides) == 2
    after = snapshot_diff.moments(fold_sidecars(sides[:-1])["cols"]["v"])
    for k in ("n", "mean", "std", "min", "max", "null_rate"):
        assert after[k] == pytest.approx(before[k], abs=1e-12), k
    # the drift gate reads straight through the baseline
    _commit(spark, io, "t", 100, 60, nulls=5)
    rep = {r.column: r for r in
           snapshot_diff.stat_drift_report(spark, io, "t").collect()}
    assert rep["v"].flagged and rep["v"].n_before == 400


def test_compact_stats_noop_below_two_foldable(spark, io):
    _commit(spark, io, "t", 50, 10)
    _commit(spark, io, "t", 50, 10)
    assert io.compact_stats(spark, "t", keep_last=2) == 0
    assert len(io.snapshot_stats("t")) == 2


def test_compact_stats_merges_hll_mg_kll(spark, io):
    for i in range(4):
        _commit_keyed(spark, io, "u", 200, 200 * i)
    assert io.compact_stats(spark, "u", keep_last=1) == 3
    # uniqueness gate: re-ingest keys 0..99 -> cross-commit dup flagged
    _commit_keyed(spark, io, "u", 200, 800, dup_from=0)
    rep = {r.column: r for r in
           snapshot_diff.uniqueness_drift_report(spark, io, "u").collect()}
    assert rep["key"].flagged and rep["key"].cross_dup_rate > 0.2
    # category gate still sees the merged Misra-Gries baseline
    cat = snapshot_diff.category_drift_report(spark, io, "u")
    assert {r.column for r in cat.collect()} <= {"codec"}
    # quantile gate folds baseline KLL + fresh commits without error
    q = snapshot_diff.quantile_drift_report(spark, io, "u")
    assert q.count() >= 0


def test_compact_stats_recompacts_existing_baseline(spark, io):
    for m in (50, 50, 50):
        _commit(spark, io, "t", 100, m)
    assert io.compact_stats(spark, "t", keep_last=1) == 2
    for m in (50, 50):
        _commit(spark, io, "t", 100, m)
    # baseline + 2 fresh sidecars fold into one again
    assert io.compact_stats(spark, "t", keep_last=1) == 3
    sides = io.snapshot_stats("t")
    assert len(sides) == 2
    assert len(sides[0]["covers"]) == 4 and sides[0]["rows"] == 400


def test_rollback_into_compacted_range_drops_baseline(spark, io):
    snaps = [_commit(spark, io, "t", 100, 50) for _ in range(4)]
    io.compact_stats(spark, "t", keep_last=1)
    io.rollback("t", snaps[1])
    # baseline covered retired snaps -> dropped; survivors carry no sidecar
    # history inside the folded range (documented contract), gates go quiet
    assert io.snapshot_stats("t") == []
    _commit(spark, io, "t", 100, 50)
    _commit(spark, io, "t", 100, 50)
    rows = snapshot_diff.stat_drift_report(spark, io, "t").collect()
    assert len(rows) == 1 and rows[0].n_before == 100


def test_kll_w1_distance_matches_exact_w1():
    import numpy as np
    from drift_detection_pibic___framework_spark.functions.sketches import (
        kll_from_values, kll_w1_distance)
    rng = np.random.default_rng(5)
    a = rng.normal(0, 1, 20000)
    b = rng.normal(0.5, 1, 20000)
    # exact W1 between equal-size empirical samples = mean |sorted diff|
    exact = float(np.mean(np.abs(np.sort(a) - np.sort(b))))
    got = kll_w1_distance(kll_from_values(a), kll_from_values(b))
    # a pure location shift of 0.5 moves W1 ~ 0.5 (in the column's units)
    assert got == pytest.approx(exact, rel=0.15)
    assert got == pytest.approx(0.5, abs=0.1)
    same = kll_w1_distance(kll_from_values(a), kll_from_values(a.copy()))
    assert same < 0.05
    # degenerate: single-point sketches at the same value
    assert kll_w1_distance(kll_from_values(np.array([3.0])),
                           kll_from_values(np.array([3.0]))) == 0.0


# -- which commits each gate compares --------------------------------------

def _stats_key_commit(spark, io, name, start, n=200, mean=50,
                      key_only=False):
    """Keys [start, start+n) with v ~ [mean-2, mean+2]; stats + key
    sidecars, or the key sidecar alone."""
    df = spark.range(start, start + n).select(
        F.concat(F.lit("k"), F.col("id")).alias("key"),
        (F.lit(mean) + F.pmod(F.col("id"), F.lit(5)) - 2)
        .cast("int").alias("v"))
    if key_only:
        return io.append(df.select("key"), name, key_cols=("key",))
    return io.append(df, name, stats_cols=("v",), key_cols=("key",))


def test_moment_gate_sees_past_a_key_only_commit(spark, io):
    """A key-only commit in history must not blind the moment gate: the
    baseline is the earlier sidecars that carry moments."""
    for i in range(3):
        _stats_key_commit(spark, io, "t", 200 * i)
    _stats_key_commit(spark, io, "t", 600, key_only=True)
    _stats_key_commit(spark, io, "t", 800, mean=5050)
    rows = snapshot_diff.stat_drift_report(spark, io, "t").collect()
    assert [r.column for r in rows] == ["v"]
    assert rows[0].flagged and rows[0].effect_size > 0.5
    assert rows[0].n_before == 600 and rows[0].n_after == 200
    q = snapshot_diff.quantile_drift_report(spark, io, "t").collect()
    assert q[0].flagged and q[0].ks == 1.0


def test_sketch_gates_skip_a_key_only_latest_commit(spark, io):
    """A family the latest sidecar lacks yields no rows: a key-only
    latest commit is not gated on moments or quantiles by re-comparing
    the commit before it, and its uniqueness row is its own."""
    for i in range(3):
        _stats_key_commit(spark, io, "t", 200 * i)
    _stats_key_commit(spark, io, "t", 600, n=150, key_only=True)
    assert snapshot_diff.quantile_drift_report(spark, io, "t").count() == 0
    assert snapshot_diff.stat_drift_report(spark, io, "t").count() == 0
    u = snapshot_diff.uniqueness_drift_report(spark, io, "t").collect()
    assert [(r.column, r.commit_rows) for r in u] == [("key", 150)]


# -- one fold against the former report bodies -----------------------------

def _family_commit(spark, io, name, start, n=300, shift=0,
                   codecs=("mp3", "wav"), nulls=0):
    """Keys [start, start+n) with every sidecar family: v (with ``nulls``
    of every 50 rows null) shifted by ``shift``, codec cycling over
    ``codecs``."""
    df = spark.range(start, start + n).select(
        F.concat(F.lit("k"), F.col("id")).alias("key"),
        F.when(F.pmod(F.col("id"), F.lit(50)) < nulls, None)
        .otherwise(F.pmod(F.col("id"), F.lit(7)) + 50 + shift)
        .cast("int").alias("v"),
        F.element_at(F.array(*map(F.lit, codecs)),
                     (F.pmod(F.col("id"), F.lit(len(codecs))) + 1)
                     .cast("int")).alias("codec"))
    io.append(df, name, stats_cols=("v",), cat_cols=("codec",),
              key_cols=("key",))
    return df


def _same_frames(a, b):
    assert a.schema == b.schema
    assert a.collect() == b.collect()


def test_reports_equal_former_bodies_before_and_after_compaction(spark, io):
    import snapshot_diff_oracle as O

    from drift_detection_pibic___framework_spark.operators import (
        profile as P)
    from drift_detection_pibic___framework_spark.streaming import (
        stream_validate)

    first = _family_commit(spark, io, "t", 0)
    for start, kw in ((300, {}), (600, {}), (900, {"nulls": 2}),
                      (1000, {"shift": 3,
                              "codecs": ("mp3", "wav", "opus")}),
                      (1300, {"shift": 10})):
        _family_commit(spark, io, "t", start, **kw)
    pinned = [(r.column, r.constraint, r.params) for r in
              P.suggest_constraints(first, exact_distinct=True).collect()]
    reports = ("stat_drift_report", "quantile_drift_report",
               "category_drift_report", "uniqueness_drift_report")
    for compacted in (False, True):
        if compacted:
            assert io.compact_stats(spark, "t", keep_last=2) == 4
        for rep in reports:
            _same_frames(getattr(snapshot_diff, rep)(spark, io, "t"),
                         getattr(O, rep)(spark, io, "t"))
        _same_frames(P.suggest_from_sidecars(spark, io, "t"),
                     O.suggest_from_sidecars(spark, io, "t"))
        assert P.sidecar_contract_drift(spark, io, "t", pinned) == \
            O.sidecar_contract_drift(spark, io, "t", pinned)
        got = stream_validate.gate_rows(spark, io.snapshot_stats("t"),
                                        pinned)
        assert got == O.gate_rows(spark, io, "t", pinned)
        assert {g for g, _, _, f in got if f} == \
            {"moments", "quantile", "category", "contract"}


def test_gate_rows_run_one_spark_job(spark, io):
    """The four reports plus the contract gate of one commit: one fold,
    one Spark job (the HLL aggregation of every key column)."""
    import uuid

    from drift_detection_pibic___framework_spark.streaming import (
        stream_validate)

    for i in range(6):
        _family_commit(spark, io, "t", 250 * i, shift=5 * (i == 5))
    sides = io.snapshot_stats("t")
    pinned = [("v", "range", "[48,56]"), ("codec", "isin", "mp3,wav"),
              ("key", "unique", "")]
    sc = spark.sparkContext
    group = f"gate-jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        rows = stream_validate.gate_rows(spark, sides, pinned)
    finally:
        for k in ("spark.jobGroup.id", "spark.job.description"):
            sc.setLocalProperty(k, None)
    assert {g for g, _, _, _ in rows} == \
        {"moments", "quantile", "category", "uniqueness", "contract"}
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 1
