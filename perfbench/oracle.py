"""Correctness check: DuckDB recomputes what the engine should have written.

Runs outside every timer.  Each ``compare_*`` function returns a list of
mismatch strings; an empty list means the operation's outputs are right.
The expectations are recomputed from the generated parquet tables with
SQL that shares no code with the engine, plus the generator's record for
what SQL cannot see (the payload corruption set, the drift change point).
"""

from __future__ import annotations

import json
import os

import duckdb

NULL_RATE_MAX = 0.005
SR_RANGE = (8000, 48000)
PSI_MAX = 0.2
BIN_WIDTH, N_BINS, EPS = 100.0, 40, 1e-6
BASELINE_PARTS = (0, 1, 2, 3)

CHECK_NAMES = ("null_rate(transcript)", "range(sr_hz)", "unique(clip_id)",
               "referential(codec)", "dist_drift(dur_ms)")
STREAM_CHECKS = ("null_rate(transcript)", "range(sr_hz)",
                 "referential(codec)")

_PER_PART = f"""
with c as (select * from read_parquet(?)),
dim as (select codec from read_parquet(?)),
per as (
  select part,
    round(avg(case when transcript is null then 1.0 else 0.0 end), 6) as nr,
    sum(case when transcript is null then 1 else 0 end) as n_null,
    min(sr_hz) as sr_min, max(sr_hz) as sr_max,
    sum(case when sr_hz < {SR_RANGE[0]} or sr_hz > {SR_RANGE[1]}
        then 1 else 0 end) as n_range,
    count(*) as n, count(distinct clip_id) as n_distinct,
    sum(case when codec not in (select codec from dim) then 1 else 0 end)
        as n_ref
  from c group by part),
bins as (
  select part, least(greatest(floor(dur_ms / {BIN_WIDTH}), 0),
                     {N_BINS - 1})::int as bin, count(*) as cnt
  from c group by all),
base as (select bin, sum(cnt) as bcnt from bins
         where part in {BASELINE_PARTS} group by bin),
btot as (select sum(bcnt) as btot from base),
tot as (select part, sum(cnt) as tot from bins group by part),
grid as (select p.part, b.bin from (select distinct part from bins) p,
         range({N_BINS}) b(bin)),
psi as (
  select g.part, round(sum(
      (coalesce(h.cnt, 0) / t.tot - coalesce(b.bcnt, 0) / bt.btot)
      * ln((coalesce(h.cnt, 0) / t.tot + {EPS})
           / (coalesce(b.bcnt, 0) / bt.btot + {EPS}))), 6) as psi
  from grid g left join bins h on h.part = g.part and h.bin = g.bin
  left join base b on b.bin = g.bin join tot t on t.part = g.part,
  btot bt group by g.part)
select per.*, psi.psi from per join psi using (part) order by part
"""


def expected_checks(clips_glob: str, dim_path: str) -> dict:
    """{part: {"checks": {check_name: passed}, "violations": {check_name:
    rows}, "psi": psi}} for every partition; partitions 0-3 of the same
    table are the drift baseline."""
    con = duckdb.connect()
    try:
        rows = con.execute(_PER_PART, [clips_glob, dim_path]).fetchall()
        cols = [d[0] for d in con.description]
        dups = dict(con.execute(
            "select part, sum(k - 1) from (select part, clip_id, count(*) k "
            "from read_parquet(?) group by all having k > 1) group by part",
            [clips_glob]).fetchall())
    finally:
        con.close()
    out = {}
    for r in rows:
        r = dict(zip(cols, r))
        nr_fail = r["nr"] > NULL_RATE_MAX
        out[int(r["part"])] = {
            "checks": {
                "null_rate(transcript)": not nr_fail,
                "range(sr_hz)": (r["sr_min"] >= SR_RANGE[0]
                                 and r["sr_max"] <= SR_RANGE[1]),
                "unique(clip_id)": r["n_distinct"] == r["n"],
                "referential(codec)": r["n_ref"] == 0,
                "dist_drift(dur_ms)": (r["psi"] is not None
                                       and r["psi"] <= PSI_MAX),
            },
            "violations": {
                "null_rate(transcript)": int(r["n_null"]) if nr_fail else 0,
                "range(sr_hz)": int(r["n_range"]),
                "unique(clip_id)": int(dups.get(r["part"], 0)),
                "referential(codec)": int(r["n_ref"]),
            },
            "psi": r["psi"],
        }
    return out


def cached_expected(input_dir: str, name: str = "expected.json") -> dict:
    p = os.path.join(input_dir, name)
    if not os.path.exists(p):
        exp = expected_checks(os.path.join(input_dir, "clips", "*.parquet"),
                              os.path.join(input_dir, "allowed_codecs.parquet"))
        with open(p + ".tmp", "w") as f:
            json.dump({str(k): v for k, v in exp.items()}, f)
        os.replace(p + ".tmp", p)
    with open(p) as f:
        return {int(k): v for k, v in json.load(f).items()}


def violation_counts(violations_dir: str, parts) -> dict:
    """{(part, check_name): rows} from the engine's violations table."""
    if not os.path.isdir(violations_dir):
        return {}
    con = duckdb.connect()
    try:
        files = [os.path.join(violations_dir, f"part={p}", "*.parquet")
                 for p in parts
                 if os.path.isdir(os.path.join(violations_dir, f"part={p}"))]
        if not files:
            return {}
        got = con.execute(
            "select part, check_name, count(*) from read_parquet(?, "
            "hive_partitioning = true) group by all", [files]).fetchall()
    finally:
        con.close()
    return {(int(p), c): int(n) for p, c, n in got}


def compare_runner(expected: dict, manifest: dict, violations: dict,
                   parts, change_point: int = None) -> list:
    """Manifest rows and violation counts of ``parts`` against the
    expectation.  With ``change_point``, the series detector must first
    flag exactly at the shifted partition."""
    bad = []
    for p in parts:
        row = manifest.get(p)
        if row is None or row.get("status") != "done":
            bad.append(f"part {p}: no committed manifest row")
            continue
        exp = expected[p]
        got = {k: v for k, v in row.get("checks", {}).items()
               if k in CHECK_NAMES}
        if got != exp["checks"]:
            bad.append(f"part {p}: checks {got} != {exp['checks']}")
        want_verdict = all(exp["checks"].values()) and not row.get(
            "series_drift")
        if row.get("verdict") != ("pass" if want_verdict else "fail"):
            bad.append(f"part {p}: verdict {row.get('verdict')}")
        for check, n in exp["violations"].items():
            if violations.get((p, check), 0) != n:
                bad.append(f"part {p}: {violations.get((p, check), 0)} "
                           f"{check} violations != {n}")
    if change_point is not None:
        flagged = sorted(p for p in parts
                         if manifest.get(p, {}).get("series_drift"))
        if not flagged or flagged[0] != change_point:
            bad.append(f"series drift first flagged at {flagged[:1]}, "
                       f"change point {change_point}")
    return bad


def compare_invariant(result_dir: str, expected_rids: set) -> list:
    """The failing-row set the payload invariant wrote vs the record."""
    con = duckdb.connect()
    try:
        got = {r[0] for r in con.execute(
            "select rid from read_parquet(?)",
            [os.path.join(result_dir, "*.parquet")]).fetchall()}
    finally:
        con.close()
    if got == expected_rids:
        return []
    return [f"invariant: {len(got - expected_rids)} unexpected and "
            f"{len(expected_rids - got)} missing failing rows"]


def compare_stream_epoch(expected: dict, verdict_dir: str, gates_dir: str,
                         epoch: int, part: int, change_point: int) -> list:
    """One gated-ingest epoch: its verdict rows against the expectation
    for the partition it carried, and its gate rows present, with the
    ``dur_ms`` moments gate flagged on the change-point epoch."""
    bad = []
    con = duckdb.connect()
    try:
        vd = os.path.join(verdict_dir, f"epoch={epoch}", "*.parquet")
        got = dict(con.execute(
            "select check_name, passed from read_parquet(?) where part = ?",
            [vd, part]).fetchall())
        gates = []
        if epoch > 0:    # the first commit has no history to gate against
            gates = con.execute(
                "select gate, subject, flagged from read_parquet(?)",
                [os.path.join(gates_dir, f"epoch={epoch}", "*.parquet")]
            ).fetchall()
    except duckdb.Error as e:
        return [f"epoch {epoch}: unreadable output ({e})"]
    finally:
        con.close()
    want = {c: expected[part]["checks"][c] for c in STREAM_CHECKS}
    if got != want:
        bad.append(f"epoch {epoch}: verdicts {got} != {want}")
    families = {g for g, _s, _f in gates}
    if epoch > 0 and families != {"moments", "quantile", "category",
                                  "uniqueness"}:
        bad.append(f"epoch {epoch}: gate families {sorted(families)}")
    if part == change_point and ("moments", "dur_ms", True) not in gates:
        bad.append(f"epoch {epoch}: dur_ms shift not flagged")
    return bad
