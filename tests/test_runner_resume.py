"""End-to-end runner tests: golden verdict matrix, violation rows, resume
(kill after partition k -> only the suffix recomputes; outputs identical),
and the partition-series drift monitor (FIXTURES.md §5, SURVEY §5)."""

import shutil

import pytest

from drift_detection_pibic___framework_spark.plans.runner import ValidationRunner
from drift_detection_pibic___framework_spark.sources.tableio import ParquetTableIO


@pytest.fixture()
def io(fixture_dir, tmp_path):
    """Copy of the fixture tables in a scratch root (runner writes here)."""
    root = tmp_path / "warehouse"
    shutil.copytree(fixture_dir, root)
    return ParquetTableIO(str(root))


def test_full_run_verdict_matrix(spark, io):
    r = ValidationRunner(io, scope="full")
    res = r.run(spark)
    assert not res["skipped"]
    matrix = r.verdict_matrix()
    # fail set = golden matrix (null p2/p10, dups p3/p9, codec p5/p11,
    # drift p8..15) + sr_hz outlier partitions (scale-dependent)
    must_fail = {2, 3, 5, 9, 10, 11} | set(range(8, 16))
    assert {p for p, v in matrix.items() if v == "fail"} >= must_fail
    assert matrix[0] == "pass" and matrix[1] == "pass"
    # series monitor: manifest drift state from p8 onward
    m = io.read_manifest("full")
    assert any(m[p]["series_drift"] for p in range(8, 16))
    assert not any(m[p]["series_drift"] for p in range(0, 8))


def test_violation_rows_shape_and_content(spark, io):
    r = ValidationRunner(io, scope="viol")
    r.run(spark)
    v = r.read_violations(spark)
    cols = set(v.columns)
    assert {"clip_id", "check_name", "observed", "expected", "part",
            "run_scope"} <= cols
    by_check = {row["check_name"]: row["n"] for row in
                v.groupBy("check_name").count()
                .withColumnRenamed("count", "n").collect()}
    assert by_check.get("referential(codec)", 0) >= 2     # p5 + p11
    assert by_check.get("unique(clip_id)", 0) >= 2        # p3 + p9
    assert by_check.get("null_rate(transcript)", 0) >= 2  # p2 + p10


def test_resume_only_processes_pending(spark, io):
    r = ValidationRunner(io, scope="resume")
    res1 = r.run(spark, limit_parts=6)   # "kill" after partition 5
    assert sorted(res1["validated"] + res1["failed"]) == list(range(6))
    assert io.pending_partitions("clips", "resume") == list(range(6, 16))
    res2 = r.run(spark)
    assert sorted(res2["validated"] + res2["failed"]) == list(range(6, 16))
    # idempotent third run: nothing pending
    res3 = r.run(spark)
    assert res3["skipped"]


def test_resume_outputs_identical_to_uninterrupted(spark, io):
    a = ValidationRunner(io, scope="one_shot")
    a.run(spark)
    b = ValidationRunner(io, scope="two_step")
    b.run(spark, limit_parts=9)
    b.run(spark)

    ma, mb = io.read_manifest("one_shot"), io.read_manifest("two_step")
    assert set(ma) == set(mb) == set(range(16))
    for p in ma:
        for k in ("verdict", "state", "checks", "series_drift",
                  "metrics_json"):
            assert ma[p][k] == mb[p][k], (p, k)

    va = (a.read_violations(spark).orderBy("part", "clip_id", "check_name")
          .drop("run_scope").collect())
    vb = (b.read_violations(spark).orderBy("part", "clip_id", "check_name")
          .drop("run_scope").collect())
    assert va == vb


def test_detector_state_sidecar_and_replay(spark, io):
    """Manifest rows no longer carry the detector-state blob (row size
    independent of detector count); the O(state) sidecar holds it, and a
    sidecar left behind by a kill between row-commit and sidecar-write is
    repaired by replaying the missing rows' stored metrics to the exact
    same state."""
    r = ValidationRunner(io, scope="sidecar")
    r.run(spark, limit_parts=6)
    st6 = io.read_state("sidecar")
    assert st6["part"] == 5 and st6["detector_state"]
    r.run(spark, limit_parts=2)          # parts 6, 7
    st8 = io.read_state("sidecar")
    assert st8["part"] == 7
    m = io.read_manifest("sidecar")
    assert all("detector_state" not in v for v in m.values())

    canon = ValidationRunner._dump_steppers(
        ValidationRunner._steppers_from_blob(st8["detector_state"]))
    # simulate the kill window: sidecar rolled back to part 5 while rows
    # 6-7 are committed -> loader must replay 6-7 deterministically
    io.commit_state("sidecar", st6)
    replayed = ValidationRunner._dump_steppers(r._load_steppers())
    assert replayed == canon


def test_compact_manifest_spares_concurrent_rows(tmp_path, monkeypatch):
    """A row committed after compact_manifest snapshots the directory must
    SURVIVE the cleanup (ADVICE r3: the old unlink-everything loop deleted
    it without folding).  Simulated by hiding the concurrent row from the
    snapshot listing while it exists on disk."""
    import os as _os

    from drift_detection_pibic___framework_spark.sources.tableio import (
        ParquetTableIO)
    io = ParquetTableIO(str(tmp_path))
    for p in range(4):
        io.commit_manifest_row("scope", p, {"status": "done", "v": p})
    d = io._manifest_dir("scope")
    real_listdir = _os.listdir

    def snapshot_without_row3(path):
        out = real_listdir(path)
        if _os.path.abspath(str(path)) == _os.path.abspath(d):
            return [f for f in out if f != "part-3.json"]
        return out

    monkeypatch.setattr(_os, "listdir", snapshot_without_row3)
    n = io.compact_manifest("scope")
    monkeypatch.undo()
    assert n == 3                      # folded the snapshot only
    # the concurrently-committed row is still on disk and still read
    assert _os.path.exists(_os.path.join(d, "part-3.json"))
    m = io.read_manifest("scope")
    assert set(m) == {0, 1, 2, 3}
    assert m[3]["v"] == 3
    # the next compaction folds it
    assert io.compact_manifest("scope") == 4
    assert not _os.path.exists(_os.path.join(d, "part-3.json"))


def test_manifest_commit_is_o1_per_partition(tmp_path, monkeypatch):
    """Committing one partition's manifest row must not read or rewrite any
    other row (round-1 full-file rewrite was O(P^2) over a run): 400 rows
    commit with read_manifest forbidden, then read back completely."""
    io = ParquetTableIO(str(tmp_path))

    def boom(*a, **k):
        raise AssertionError("commit path must not read the manifest")
    monkeypatch.setattr(ParquetTableIO, "read_manifest", boom)
    for p in range(400):
        io.commit_manifest_row("big", p, {"status": "done",
                                          "verdict": "pass"})
    monkeypatch.undo()
    m = io.read_manifest("big")
    assert set(m) == set(range(400))
    assert all(m[p]["verdict"] == "pass" for p in m)
    assert io.pending_partitions("clips", "big") == []


def test_manifest_rows_carry_timestamps(tmp_path):
    """SURVEY F5: every committed manifest row gets an ISO-8601
    updated_at stamp (run metadata lineage); caller-provided stamps are
    preserved."""
    import re
    io = ParquetTableIO(str(tmp_path))
    io.commit_manifest_row("ts", 0, {"status": "done", "verdict": "pass"})
    io.commit_manifest_row("ts", 1, {"status": "done", "verdict": "pass",
                                     "updated_at": "2020-01-01T00:00:00"})
    m = io.read_manifest("ts")
    assert re.fullmatch(r"\d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2}",
                        m[0]["updated_at"])
    assert m[1]["updated_at"] == "2020-01-01T00:00:00"


def test_manifest_reads_legacy_single_file(tmp_path):
    """Pre-existing single-file manifests still resume: per-row commits
    overlay the legacy file, legacy-only rows survive."""
    import json
    import os
    io = ParquetTableIO(str(tmp_path))
    legacy = os.path.join(str(tmp_path), "_manifest")
    os.makedirs(legacy, exist_ok=True)
    with open(os.path.join(legacy, "old.json"), "w") as f:
        json.dump({"0": {"status": "done", "verdict": "pass"},
                   "1": {"status": "done", "verdict": "fail"}}, f)
    io.commit_manifest_row("old", 1, {"status": "done", "verdict": "pass"})
    io.commit_manifest_row("old", 2, {"status": "done", "verdict": "fail"})
    m = io.read_manifest("old")
    assert m[0]["verdict"] == "pass"      # legacy-only row kept
    assert m[1]["verdict"] == "pass"      # per-row commit wins
    assert m[2]["verdict"] == "fail"


def test_manifest_compaction_folds_row_files(tmp_path):
    """On run completion the per-row commit log folds into ONE consolidated
    file: 1,000 committed partitions compact to a single JSON, per-row
    files are gone, read_manifest/pending_partitions are unchanged, and a
    later per-row commit still overlays the compacted file."""
    import os
    io = ParquetTableIO(str(tmp_path))
    for p in range(1000):
        io.commit_manifest_row("big", p, {"status": "done",
                                          "verdict": "pass"})
    before = io.read_manifest("big")
    assert io.compact_manifest("big") == 1000
    d = os.path.join(str(tmp_path), "_manifest")
    files = sorted(os.listdir(d))
    assert files == ["big.json"]          # one file, row dir removed
    assert io.read_manifest("big") == before
    assert io.pending_partitions("clips", "big") == []
    # a post-compaction per-row commit overlays the consolidated file
    io.commit_manifest_row("big", 3, {"status": "done", "verdict": "fail"})
    assert io.read_manifest("big")[3]["verdict"] == "fail"
    # compaction is idempotent and folds the new row in
    assert io.compact_manifest("big") == 1000
    assert io.read_manifest("big")[3]["verdict"] == "fail"


def test_compact_parquet_dir(spark, tmp_path):
    """40 tiny files compact to the byte-targeted count with identical
    rows; the rollback .bak is RETAINED until the next successful
    compaction has re-read the swapped data (ADVICE r3 contract), and a
    crash between the two swap renames is repaired on the next call."""
    import os
    import shutil

    from drift_detection_pibic___framework_spark.sources.tableio import (
        compact_parquet_dir)
    d = str(tmp_path / "sink")
    df = spark.range(0, 4000).selectExpr("id", "id * 2 as v")
    df.repartition(40).write.parquet(d)
    n_files = len([f for f in os.listdir(d) if f.endswith(".parquet")])
    assert n_files == 40
    total = sum(os.path.getsize(os.path.join(d, f))
                for f in os.listdir(d) if f.endswith(".parquet"))
    before = sorted((r.id, r.v) for r in spark.read.parquet(d).collect())

    res = compact_parquet_dir(spark, d, target_file_bytes=total // 3 + 1)
    files = [f for f in os.listdir(d) if f.endswith(".parquet")]
    assert res["files_before"] == 40 and res["files_after"] == len(files)
    assert len(files) <= 4
    assert sorted((r.id, r.v)
                  for r in spark.read.parquet(d).collect()) == before
    # rollback copy retained until the NEXT compaction proves the swap
    assert os.path.exists(d + ".bak")
    assert not os.path.exists(d + ".compact-tmp")

    # second compaction re-reads the source (validating generation 1),
    # then drops generation 1's .bak and leaves its own
    res2 = compact_parquet_dir(spark, d, target_file_bytes=total)
    assert res2["rows"] == 4000
    assert sorted((r.id, r.v)
                  for r in spark.read.parquet(d).collect()) == before

    # crash repair: simulate a kill between the two swap renames
    # (src renamed away, validated tmp not yet promoted)
    shutil.rmtree(d + ".bak", ignore_errors=True)
    os.rename(d, d + ".compact-tmp")
    res3 = compact_parquet_dir(spark, d, target_file_bytes=total)
    assert res3["rows"] == 4000
    assert sorted((r.id, r.v)
                  for r in spark.read.parquet(d).collect()) == before


def test_invalidate_from_reopens_suffix_identical(spark, io):
    """The correction path: after a full run, invalidate_from(10) must
    re-open exactly parts 10..15 with the detector series rolled back to
    part 9 (state rebuilt by metric replay), and the re-run must
    reproduce the uninterrupted run byte-identically."""
    a = ValidationRunner(io, scope="canon")
    a.run(spark)
    b = ValidationRunner(io, scope="corr")
    b.run(spark)
    victims = b.invalidate_from(10)
    assert victims == list(range(10, 16))
    assert io.pending_partitions("clips", "corr") == list(range(10, 16))
    # series state rolled back to the surviving prefix
    assert io.read_state("corr")["part"] == 9
    b.run(spark)

    ma, mb = io.read_manifest("canon"), io.read_manifest("corr")
    for p in range(16):
        for k in ("verdict", "state", "checks", "series_drift",
                  "metrics_json"):
            assert ma[p][k] == mb[p][k], (p, k)
    assert io.read_state("corr")["part"] == 15


def test_invalidate_from_zero_resets_everything(spark, io):
    r = ValidationRunner(io, scope="wipe")
    r.run(spark)
    assert len(r.invalidate_from(0)) == 16
    assert io.read_state("wipe") is None
    assert io.pending_partitions("clips", "wipe") == list(range(16))


def test_compact_manifest_spares_concurrent_updates(tmp_path, monkeypatch):
    """A row UPDATED in place (commit_manifest_row replaces existing part
    files — e.g. invalidate_from) between compact_manifest's fold and its
    unlink must survive: the unlink is guarded by a content re-check, so
    the invalidation overlays the consolidated file instead of being
    silently erased."""
    import json
    import os as _os

    from drift_detection_pibic___framework_spark.sources import tableio
    io = ParquetTableIO(str(tmp_path))
    for p in range(3):
        io.commit_manifest_row("s", p, {"status": "done", "v": p})
    d = io._manifest_dir("s")
    consolidated = io._manifest_path("s")
    real_replace = _os.replace

    def replace_then_race(src, dst):
        real_replace(src, dst)
        if _os.path.abspath(str(dst)) == _os.path.abspath(consolidated):
            # a concurrent invalidation lands right after the consolidated
            # snapshot commits, before the unlink loop reaches part-2
            with open(_os.path.join(d, "part-2.json"), "w") as f:
                json.dump({"status": "invalidated"}, f)

    monkeypatch.setattr(tableio.os, "replace", replace_then_race)
    assert io.compact_manifest("s") == 3
    monkeypatch.undo()
    # the updated row file survived and overlays the consolidated blob
    import os
    assert os.path.exists(os.path.join(d, "part-2.json"))
    assert io.read_manifest("s")[2]["status"] == "invalidated"
    # the next compaction folds the update in
    assert io.compact_manifest("s") == 3
    assert io.read_manifest("s")[2]["status"] == "invalidated"
    assert not os.path.exists(os.path.join(d, "part-2.json"))


def test_revalidated_partition_clears_stale_violations(spark, io):
    """Dynamic partition overwrite only replaces partitions PRESENT in the
    output: when corrected data re-validates with ZERO violations for a
    partition, its stale violation files must still disappear."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    r = ValidationRunner(io, scope="stale")
    r.run(spark)
    assert r.read_violations(spark).filter("part = 3").count() > 0  # dups
    # correct EVERY row-level defect in partition 3 (duplicate clip_ids +
    # sr_hz outliers) so the re-run emits ZERO violation rows for it —
    # the one case where dynamic overwrite can't replace the partition
    p3 = os.path.join(io.root, "clips", "part-0003.parquet")
    t = pq.read_table(p3)
    df = t.to_pandas().drop_duplicates(subset=["clip_id"], keep="first")
    df.loc[(df["sr_hz"] < 8000) | (df["sr_hz"] > 48000), "sr_hz"] = 16000
    pq.write_table(pa.Table.from_pandas(df, schema=t.schema,
                                        preserve_index=False), p3)
    r.invalidate_from(3)
    r.run(spark)
    m = io.read_manifest("stale")
    assert m[3]["checks"]["unique(clip_id)"] is True
    assert m[3]["checks"]["range(sr_hz)"] is True
    assert r.read_violations(spark).filter("part = 3").count() == 0


def test_invalidate_inside_baseline_window_identical(spark, io):
    """invalidate_from a BASELINE part: the override row destroys the
    victim's metrics_json on disk, so the keep-prefix replay must use the
    pre-invalidation manifest + per-row stored moments.  With unchanged
    data the re-run must reproduce the uninterrupted run identically,
    including the final detector state (compared after a deserialize →
    re-serialize round-trip, the same normalization the sidecar replay
    test uses: raw pickle bytes vary with object provenance — memo
    layout — even for equal states)."""
    a = ValidationRunner(io, scope="canon_b")
    a.run(spark)
    b = ValidationRunner(io, scope="corr_b")
    b.run(spark)
    victims = b.invalidate_from(3)        # p3 is inside baseline_parts
    assert victims == list(range(3, 16))
    b.run(spark)
    ma, mb = io.read_manifest("canon_b"), io.read_manifest("corr_b")
    for p in range(16):
        for k in ("verdict", "state", "checks", "series_drift",
                  "metrics_json", "base_mean", "base_std"):
            assert ma[p][k] == mb[p][k], (p, k)
    norm = lambda blob: ValidationRunner._dump_steppers(  # noqa: E731
        ValidationRunner._steppers_from_blob(blob))
    assert (norm(io.read_state("canon_b")["detector_state"])
            == norm(io.read_state("corr_b")["detector_state"]))


def test_replay_kill_inside_baseline_window(spark, io, monkeypatch):
    """A kill between commit_manifest_row(p1) and commit_state(p1) while
    the manifest holds only p0-p1: the original run standardized p1's z
    with the FULL baseline (all parts were in stat_rows), so the loader's
    replay must use the moments stored IN the row, not a manifest-only
    recomputation over 2 parts."""
    from drift_detection_pibic___framework_spark.sources.tableio import (
        ParquetTableIO)
    states = []
    real_commit_state = ParquetTableIO.commit_state

    def record(self, scope, payload):
        states.append(dict(payload))
        real_commit_state(self, scope, payload)

    monkeypatch.setattr(ParquetTableIO, "commit_state", record)
    r = ValidationRunner(io, scope="basekill")
    r.run(spark)
    monkeypatch.undo()
    canon_through_p1 = states[1]["detector_state"]

    # reconstruct the kill: manifest rows p2.. deleted, sidecar at p0
    import json
    import os
    m = io.read_manifest("basekill")
    d = io._manifest_dir("basekill")
    consolidated = io._manifest_path("basekill")
    if os.path.exists(consolidated):
        os.unlink(consolidated)           # run completion compacted it
    os.makedirs(d, exist_ok=True)
    for p in (0, 1):
        with open(os.path.join(d, f"part-{p}.json"), "w") as f:
            json.dump(m[p], f)
    io.commit_state("basekill", states[0])

    replayed = ValidationRunner._dump_steppers(r._load_steppers())
    canon = ValidationRunner._dump_steppers(
        ValidationRunner._steppers_from_blob(canon_through_p1))
    assert replayed == canon


def test_empty_and_allnull_partitions_do_not_wedge(spark, io):
    """A physically-present empty partition (or one whose monitored column
    is entirely null) has no stats row: it must fail validation explicitly
    (has_monitor_stat=False), advance NO detector state, and never
    KeyError-wedge the run — before the guard, every resume died on it."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    d = os.path.join(io.root, "clips")
    sch = pq.read_schema(os.path.join(d, "part-0000.parquet"))
    pq.write_table(sch.empty_table(),
                   os.path.join(d, "part-0016.parquet"))
    t = pq.read_table(os.path.join(d, "part-0000.parquet"))
    cols = {}
    for name in t.schema.names:
        if name == "dur_ms":
            cols[name] = pa.nulls(t.num_rows, t.schema.field(name).type)
        elif name == "part":
            cols[name] = pa.array([17] * t.num_rows,
                                  t.schema.field(name).type)
        else:
            cols[name] = t[name]
    pq.write_table(pa.table(cols, schema=t.schema),
                   os.path.join(d, "part-0017.parquet"))

    r = ValidationRunner(io, scope="gaps")
    res = r.run(spark)
    assert not res["skipped"]
    assert 16 in res["failed"] and 17 in res["failed"]
    m = io.read_manifest("gaps")
    for p in (16, 17):
        assert m[p]["verdict"] == "fail"
        assert m[p]["checks"]["has_monitor_stat"] is False
        assert m[p]["series_drift"] is False
    # not wedged: the next run has nothing pending
    assert r.run(spark)["skipped"]
    # replay skips the stat-less rows exactly like run() did
    st = io.read_state("gaps")
    io.commit_state("gaps", {"part": 15,
                             "detector_state": st["detector_state"]})
    replayed = ValidationRunner._dump_steppers(r._load_steppers())
    assert replayed == ValidationRunner._dump_steppers(
        ValidationRunner._steppers_from_blob(st["detector_state"]))


def test_run_reads_manifest_exactly_once(spark, io, monkeypatch):
    """run() threads ONE manifest read to every consumer (pending set,
    stepper load, baseline moments, completion check) — at 1e5 partitions
    the previous three independent scans tripled resume startup IO."""
    from drift_detection_pibic___framework_spark.sources.tableio import (
        ParquetTableIO)
    calls = []
    real = ParquetTableIO.read_manifest

    def counting(self, scope):
        calls.append(scope)
        return real(self, scope)

    r = ValidationRunner(io, scope="once")
    r.run(spark, limit_parts=3)
    monkeypatch.setattr(ParquetTableIO, "read_manifest", counting)
    r.run(spark, limit_parts=3)           # a RESUME run (state replay live)
    monkeypatch.undo()
    assert calls.count("once") == 1


def _rows(df):
    return sorted(tuple("" if x is None else str(x) for x in r)
                  for r in df.collect())


def test_runner_violations_equal_unrestricted_suite(spark, io):
    """The runner lists violations only for partitions whose check failed;
    on the fixture that is exactly the unrestricted per-check union
    (tests/violation_oracle.py)."""
    import violation_oracle

    r = ValidationRunner(io, scope="restricted")
    r.run(spark)
    got = r.read_violations(spark).drop("run_scope")
    clips = io.read_table(spark, "clips")
    want = violation_oracle.suite_violations(
        clips, io.read_table(spark, "allowed_codecs"))
    cols = ["clip_id", "check_name", "observed", "expected", "part"]
    assert _rows(got.select(*cols)) == _rows(want.select(*cols))


def test_manifest_metrics_equal_partition_stats(spark, io):
    """metrics_json of every committed row is the partition's
    ``partition_column_stats`` row, key order included."""
    import json

    from drift_detection_pibic___framework_spark.operators import stats

    r = ValidationRunner(io, scope="metrics")
    r.run(spark)
    m = io.read_manifest("metrics")
    st = stats.partition_column_stats(io.read_table(spark, "clips"))
    rows = {x["part"]: x.asDict() for x in st.collect()}
    assert set(m) == set(rows)
    for p, row in rows.items():
        assert m[p]["metrics_json"] == json.dumps(row, default=str), p


def test_all_passing_table_writes_no_violations_and_resumes(spark, io):
    """A table whose every partition passes (parts 0 and 1 only) commits
    both, writes no violation rows, and resumes like any other."""
    import os

    d = os.path.join(io.root, "clips")
    for f in os.listdir(d):
        if f not in ("part-0000.parquet", "part-0001.parquet"):
            os.unlink(os.path.join(d, f))
    r = ValidationRunner(io, scope="clean")
    assert r.run(spark, limit_parts=1)["validated"] == [0]
    assert io.pending_partitions("clips", "clean") == [1]
    assert r.run(spark)["validated"] == [1]
    assert r.run(spark)["skipped"]
    assert r.verdict_matrix() == {0: "pass", 1: "pass"}
    m = io.read_manifest("clean")
    assert all(all(v["checks"].values()) for v in m.values())
    out = os.path.join(io.root, r.violations_table)
    assert not any(f.endswith(".parquet")
                   for _, _, fs in os.walk(out) for f in fs)


def test_resume_run_aggregates_only_pending_partitions(spark, io,
                                                       monkeypatch):
    """A resume run with the baseline window already done runs the suite
    over the pending partitions only; the drift baseline comes from a
    separate bins-only aggregation over the full table.  A backfill sums
    the baseline from its own pass-1 rows."""
    from drift_detection_pibic___framework_spark.plans import suite

    calls = []
    real = suite.collect_suite

    def spy(clips, dim, baseline=None, **kw):
        calls.append((clips, baseline))
        return real(clips, dim, baseline=baseline, **kw)

    monkeypatch.setattr(suite, "collect_suite", spy)
    r = ValidationRunner(io, scope="incr")
    r.run(spark, limit_parts=6)
    r.run(spark)
    monkeypatch.undo()

    def parts(df):
        return sorted(x["part"] for x in df.select("part").distinct()
                      .collect())
    (first, base1), (second, base2) = calls
    assert parts(first) == list(range(6)) and base1 is None
    assert parts(second) == list(range(6, 16))
    assert parts(base2) == list(range(16))


def test_violation_files_schema(spark, io):
    """Every written violation file has the same columns, types and
    nullability: the check name, expectation and run scope are required
    (never-null literals), the clip id and the observed value optional."""
    import glob
    import os

    import pyarrow.parquet as pq

    r = ValidationRunner(io, scope="schema")
    r.run(spark)
    files = glob.glob(os.path.join(io.root, r.violations_table, "part=*",
                                   "*.parquet"))
    assert files
    for f in files:
        assert [(x.name, str(x.type), x.nullable)
                for x in pq.read_schema(f)] == [
            ("clip_id", "string", True), ("check_name", "string", False),
            ("observed", "string", True), ("expected", "string", False),
            ("run_scope", "string", False)], f


def test_run_job_count(spark, io):
    """A backfill of the fixture runs at most 10 Spark jobs: the suite
    query (broadcast, three shuffle stages, collect), the violation plan
    (broadcast, one shuffle stage) and its write.  It ran 14 when the two
    passes were collected apart and each check listed its violations in
    its own plan."""
    from test_batch_checks import _run_counting_jobs

    r = ValidationRunner(io, scope="jobs")
    _, n_jobs = _run_counting_jobs(spark, lambda: r.run(spark))
    assert n_jobs <= 10


def test_engine_writes_nothing_to_stdout(spark, io, capfd):
    """A run and a suite collect write nothing to file descriptor 1, so a
    caller may keep its own output there (a benchmark prints its result
    as its last line).  The JVM inherited its descriptors when it started,
    so this covers the Python side."""
    from drift_detection_pibic___framework_spark.plans import suite

    clips = io.read_table(spark, "clips")
    dim = io.read_table(spark, "allowed_codecs")
    capfd.readouterr()
    ValidationRunner(io, scope="quiet").run(spark)
    suite.collect_suite(clips, dim)
    assert capfd.readouterr().out == ""
