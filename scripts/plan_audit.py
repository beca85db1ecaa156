"""Emit PLANS.md: the physical plans of the headline queries with the
plan-shape properties that matter at 100 TB, checked mechanically.

Checks per query (where applicable):
- bytes-column pruning: plans that must not scan the audio payload don't
  (ReadSchema excludes `bytes`);
- no CartesianProduct / BroadcastNestedLoopJoin in any scale-path plan
  (candidate generation is an equi-join by construction);
- broadcast where a small side exists (referential dim, knn query side);
- WholeStageCodegen present in the JVM hot paths.

Plan-only (df.explain), no jobs run. Usage:
    SPARK_GRAFT_DRIVER_MEM=2g python scripts/plan_audit.py > PLANS.md
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")

import bench  # noqa: E402


def formatted(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    # file locations relative to the checkout, so the report is the same
    # wherever it is generated
    return buf.getvalue().replace(ROOT + os.sep, "")


def main() -> int:
    spark = bench.build_spark(os.environ.get("SPARK_GRAFT_CPUS", "4"))
    from pyspark.sql import functions as F

    from drift_detection_pibic___framework_spark.operators import (
        dedup, multimodal, referential, similarity, stats)
    from drift_detection_pibic___framework_spark.plans import suite as SU
    from drift_detection_pibic___framework_spark.sources import generators as G

    d = G.ensure_fixtures("sf0.001")
    clips = spark.read.parquet(f"{d}/clips")
    dim = spark.read.parquet(f"{d}/allowed_codecs.parquet")
    docs = (spark.read.parquet(f"{d}/clips")
            .select(F.col("rid").alias("doc_id"),
                    F.col("transcript").alias("text"))
            .filter("text is not null"))

    cases = [
        # the batch check suite is two aggregation passes finalized on
        # the driver, collected as one query; its violations are one scan
        # with one shuffle, gated to the fixture's failing partitions
        ("suite pass 1 (fused per-partition aggregation)",
         SU.aggregate_plan(clips, dim),
         {"no_bytes_scan": True, "no_cartesian": True, "broadcast": True,
          "single_exchange": True}),
        ("suite query (pass 1 + the two-level distinct clip_id count, "
         "one collect)",
         SU.suite_plan(clips, dim),
         {"no_bytes_scan": True, "no_cartesian": True, "broadcast": True}),
        ("suite violations (every failing check: one scan, one shuffle)",
         SU.violation_plan(clips, dim, {
             "null_rate(transcript)": [2, 10], "range(sr_hz)": [2, 14],
             "unique(clip_id)": [3, 9], "referential(codec)": [5, 11]}),
         {"no_bytes_scan": True, "no_cartesian": True, "broadcast": True,
          "single_exchange": True}),
        ("partition_column_stats",
         stats.partition_column_stats(clips),
         {"no_bytes_scan": True, "no_cartesian": True,
          "single_exchange": True}),
        ("referential_violations (broadcast anti-join)",
         referential.referential_violations(clips, dim),
         {"no_bytes_scan": True, "no_cartesian": True, "broadcast": True}),
        # skew-salted join: the hot codec key must land on a SHUFFLED hash
        # join over (codec, salt) — a broadcast here would erase the
        # fan-out (and mean the caller should have used F.broadcast)
        ("salted_join (hot-key fan-out: shuffled hash join on (key, salt))",
         __import__(
             "drift_detection_pibic___framework_spark.operators.skewjoin",
             fromlist=["salted_join"]).salted_join(
             clips.select("rid", "codec", "dur_ms"), dim, "codec",
             salt_from="rid", n_salts=8),
         {"no_bytes_scan": True, "no_cartesian": True, "hash_join": True}),
        ("minhash_lsh_candidates (banded equi-join)",
         dedup.lsh_candidate_pairs(
             dedup.minhash_signatures(docs, num_hashes=8), bands=4),
         {"no_cartesian": True, "codegen": True}),
        ("simhash_near_duplicates (chunk pigeonhole join)",
         dedup.simhash_near_duplicates(docs, max_hamming=3),
         {"no_cartesian": True}),
        # incremental-stats fold: phase-1 agg shuffles O(parts) summary
        # rows, the lifetime fold is a scalar agg over those — bytes never
        # scanned, no raw-row rescan in the fold
        ("merge_moments (mergeable-summary fold, bytes pruned)",
         stats.merge_moments(stats.moment_summaries(clips)),
         {"no_bytes_scan": True, "no_cartesian": True}),
        # exact-median MAD screen: histogram cells only, medians join back
        # broadcast (O(groups) rows), never a raw-value percentile buffer
        ("mad_outlier_screen (histogram median, broadcast join-back)",
         stats.mad_outlier_screen(clips, "part", "dur_ms"),
         {"no_bytes_scan": True, "no_cartesian": True, "broadcast": True}),
    ]
    # quarantine: one (part, clip_id) window shuffle + broadcast dim join;
    # bytes rides through to the admitted sink by contract, so only the
    # SUMMARY (which projects it away) asserts the pruned scan
    from drift_detection_pibic___framework_spark.operators import (
        quarantine as QRop)
    cases.append((
        "quarantine_summary (row labelling: broadcast dim, bytes pruned)",
        QRop.quarantine_summary(clips, dim),
        {"no_bytes_scan": True, "no_cartesian": True, "broadcast": True}))
    # fused standardize: the payload IS the work here, so bytes must be
    # scanned — but nothing else beyond the kernel's input contract may
    # be (transcript / sr_hz / dur_ms pruned: at 100 TB the transcript
    # column riding along an audio rewrite is pure wasted I/O)
    cases.append((
        "audio_standardize (fused curation write: metadata pruned)",
        multimodal.audio_standardize(clips, 1000),
        {"no_cartesian": True,
         "scan_cols_subset": {"rid", "clip_id", "part", "bytes", "codec"}}))
    # band-energy features: same kernel contract — the scan must read
    # nothing beyond (ids, bytes, codec); transcript/sr_hz/dur_ms pruned
    cases.append((
        "audio_band_energy (acoustic drift features: metadata pruned)",
        multimodal.audio_band_energy(clips),
        {"no_cartesian": True,
         "scan_cols_subset": {"rid", "clip_id", "part", "bytes", "codec"}}))
    # merge-on-read: the folded delete set is tiny, so AQE must resolve the
    # equality-delete join to a broadcast, never a cartesian
    import tempfile

    from drift_detection_pibic___framework_spark.sources.tableio import (
        ParquetTableIO)
    tio = ParquetTableIO(tempfile.mkdtemp(prefix="plan_audit_mor_"))
    tio.append(clips.select("rid", "clip_id", "part").limit(2000), "t")
    tio.delete_keys(clips.select("clip_id").limit(50), "t", "clip_id")
    cases.append((
        "read_appended merge-on-read (equality-delete broadcast join)",
        tio.read_appended(spark, "t"),
        {"no_cartesian": True, "broadcast": True}))
    # file-level pruning: a range-clustered layout + bounded predicate
    # must list only the overlapping files into the scan (fewer tasks,
    # not just fewer bytes) — the Iceberg manifest-pruning contract
    tio_p = ParquetTableIO(tempfile.mkdtemp(prefix="plan_audit_prune_"))
    tio_p.write_clustered(clips.select("rid", "clip_id", "part", "dur_ms"),
                          "t", ["dur_ms"], n_files=16)
    cases.append((
        "read_where (file-level min/max pruning on a 16-file layout)",
        tio_p.read_where(spark, "t", {"dur_ms": (400, 500)}),
        {"no_cartesian": True, "max_input_files": 4}))
    # sessionization: the groupBy(user_id, session_idx) must REUSE the
    # window's HashPartitioning(user_id) — a subset of the grouping keys
    # satisfies the clustering requirement, so the whole lag -> running
    # session counter -> per-session agg chain is ONE shuffle.
    ev_path = "/root/testdata/sf0.001/events.parquet"
    if os.path.exists(ev_path):
        from drift_detection_pibic___framework_spark import queries as QQ
        cases.append((
            "events_sessionized (one window shuffle reused by the agg)",
            QQ.QUERIES["events_sessionized"](spark, "/root/testdata/sf0.001"),
            {"no_cartesian": True, "single_exchange": True}))
        # two-phase prefix sum: the ONLY data shuffle is the per-shard
        # window; shard offsets ride a BroadcastExchange (not counted by
        # the shuffle-exchange check)
        cases.append((
            "doc_pack_sequences (two-phase prefix sum: one data shuffle)",
            QQ.QUERIES["doc_pack_sequences"](spark, "/root/testdata/sf0.001"),
            {"no_cartesian": True, "single_exchange": True,
             "broadcast": True}))
        cases.append((
            "q5_region_revenue (6-table join: dims broadcast, facts keyed)",
            QQ.QUERIES["q5_region_revenue"](spark, "/root/testdata/sf0.001"),
            {"no_cartesian": True, "broadcast": True, "hash_join": True}))
        # codegen is NOT asserted: the argmax step is max(struct(cnt, ...)),
        # and struct-typed max lowers to SortAggregate (outside whole-stage
        # codegen by design); the load-bearing properties are no cartesian
        # and keyed (non-global) aggregation.
        cases.append((
            "doc_repetition (k-tagged explode + keyed aggregations)",
            QQ.QUERIES["doc_repetition"](spark, "/root/testdata/sf0.001"),
            {"no_cartesian": True}))
        # as-of join: union-tag form = ONE keyed shuffle, never the
        # broadcast-nested-loop a naive non-equi formulation plans
        cases.append((
            "events_asof_hourly_baseline (union-tag as-of: keyed window)",
            QQ.QUERIES["events_asof_hourly_baseline"](
                spark, "/root/testdata/sf0.001"),
            {"no_cartesian": True}))
        # range join: interval containment via bucket-decomposed EQUI-join
        cases.append((
            "events_error_blast_radius (bucketed range join, no BNLJ)",
            QQ.QUERIES["events_error_blast_radius"](
                spark, "/root/testdata/sf0.001"),
            {"no_cartesian": True, "hash_join": True}))
        # temperature mix: O(sources) rate table broadcast back onto the
        # corpus; the carve itself stays a narrow md5 filter
        from drift_detection_pibic___framework_spark.operators import (
            sampling as SAop)
        cases.append((
            "temperature_mix (data-derived rates broadcast, narrow carve)",
            SAop.temperature_mix(
                spark.read.parquet("/root/testdata/sf0.001/documents.parquet"),
                "source", "doc_id", 300),
            {"no_cartesian": True, "broadcast": True}))
    emb = None
    sf_dir = "/root/testdata/sf0.001"
    if os.path.exists(f"{sf_dir}/embeddings.parquet"):
        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        cases.append((
            "hyperplane_lsh_neighbors (multi-table equi-join ANN)",
            similarity.hyperplane_lsh_neighbors(emb, k=3),
            {"no_cartesian": True}))
        # codegen is NOT asserted here: the dot products are higher-order
        # array expressions (aggregate/zip_with), which run JVM-side but
        # outside whole-stage codegen by design; the load-bearing plan
        # property is the equi (hash) join on ivf_cell.
        cases.append((
            "ivf_topk (cell equi-join ANN, literal centroids)",
            similarity.ivf_topk(
                emb, emb.limit(20), k=3,
                centroids=similarity.random_unit_centroids(64, 16)),
            {"no_cartesian": True, "hash_join": True}))
        cases.append((
            "with_ivf_cell @256x64 (quantizer folded to ONE literal)",
            similarity.with_ivf_cell(
                emb, similarity.random_unit_centroids(64, 256)),
            {"folded_literal": True}))
        # SemDeDup candidates: pair volume is sum(|cell|^2), never N^2 —
        # the join must stay equi on ivf_cell
        cases.append((
            "semantic_dup_pairs (SemDeDup: within-cell equi-join)",
            similarity.semantic_dup_pairs(
                emb, similarity.random_unit_centroids(64, 16),
                threshold=0.95),
            {"no_cartesian": True, "hash_join": True}))
    # bigram-LM scoring: both model joins broadcast (count-pruned model
    # by contract); the corpus side is one narrow explode
    from drift_detection_pibic___framework_spark.operators import (
        text as Top)
    lm_model = Top.train_bigram_lm(docs)
    cases.append((
        "lm_score (bigram LM: broadcast model joins, narrow explode)",
        Top.lm_score(docs, lm_model),
        {"no_cartesian": True, "broadcast": True}))
    # markup strip: pure regexp/replace projection — zero shuffle, codegen
    cases.append((
        "strip_markup (narrow codegen projection)",
        Top.strip_markup(docs),
        {"no_cartesian": True, "codegen": True}))
    # training-window chunk plan: metadata-only explode — the payload
    # column must NOT be in the scan (at 10^12 clips the plan reads only
    # (clip_id, part, dur_ms))
    cases.append((
        "chunk_plan (training windows: metadata-only explode)",
        multimodal.chunk_plan(clips),
        {"no_bytes_scan": True, "no_cartesian": True, "codegen": True}))
    # epoch shuffle order: ONE hash-partitioned window on the shard key
    from drift_detection_pibic___framework_spark.operators import (
        sampling as SAop)
    cases.append((
        "epoch_order (deterministic training shuffle, one window)",
        SAop.epoch_order(docs.select("doc_id"), "doc_id", epoch=1),
        {"no_cartesian": True, "single_exchange": True}))
    # span-level dedup: flagged-gram keys join back EQUI on the 64-bit
    # gram hash (partial-agg'd count side), never any pairwise form
    cases.append((
        "duplicate_spans (positional gram hash groups, equi join-back)",
        dedup.duplicate_spans(docs, L=8),
        {"no_cartesian": True, "hash_join": True}))
    # strip: the span-list join is a plain equi-join (AQE broadcasts a
    # small list side at runtime, falls back to shuffle when a 100 TB
    # corpus makes it large — a forced hint would foreclose that);
    # the strip itself is an array expression over the token array
    cases.append((
        "strip_duplicate_spans (span lists equi-joined onto the corpus)",
        dedup.strip_duplicate_spans(docs, L=8),
        {"no_cartesian": True, "hash_join": True}))
    # frequent-line strip: the flagged-set join stays a plain equi-join
    # (C4-scale crawls have millions of repeated lines — too big to
    # force-broadcast; AQE broadcasts small sets at runtime); re-assembly
    # is one keyed aggregation — never any pairwise/cartesian form
    cases.append((
        "strip_frequent_lines (C4 line dedup: flagged set equi-joined)",
        dedup.strip_frequent_lines(docs, min_count=3),
        {"no_cartesian": True, "hash_join": True}))
    # RAG chunker: pure array expressions + explode — no shuffle at all,
    # whole-stage codegen end to end
    from drift_detection_pibic___framework_spark.operators.packing import (
        chunk_text)
    cases.append((
        "chunk_text (overlap chunker: zero shuffle, codegen)",
        chunk_text(docs, window=8, stride=4),
        {"no_cartesian": True, "codegen": True, "zero_exchange": True}))
    # TF-IDF: keyed aggregations + equi joins; N rides a 1-row broadcast
    cases.append((
        "tfidf_top_terms (keyed aggs, equi joins, 1-row N broadcast)",
        Top.tfidf_top_terms(docs, k=5),
        {"no_cartesian_data": True, "hash_join": True, "broadcast": True}))
    # embedding health: narrow projection + 1-row stats broadcast
    from drift_detection_pibic___framework_spark.operators import (
        similarity as SIMop)
    if emb is not None:
        cases.append((
            "embedding_health (narrow screen, 1-row stats broadcast)",
            SIMop.embedding_health(emb),
            {"no_cartesian_data": True, "broadcast": True}))
    # weighted sample: top-k must lower to TakeOrderedAndProject — a
    # global Sort before the limit would shuffle the whole corpus
    cases.append((
        "weighted_sample (A-Res top-k, no global sort)",
        SAop.weighted_sample(
            docs.select("doc_id",
                        F.size(F.split("text", r"\s+")).alias("w")),
            "w", 60),
        {"no_cartesian": True, "top_k": True}))

    # constraint-suggestion profiler: the profile is ONE aggregation pass
    # (map-side partials, bytes pruned); a compiled contract's checks ride
    # the check registry's pass 1, likewise one agg pass, and the driver
    # finalizes every verdict row
    from drift_detection_pibic___framework_spark.operators import (
        profile as PRop)
    cases.append((
        "column_profiles (one-pass profile, bytes pruned)",
        PRop.column_profiles(clips),
        {"no_bytes_scan": True, "no_cartesian": True,
         "single_exchange": True}))
    cases.append((
        "suggested_suite_violations (row-level contract breaches, "
        "zero shuffle)",
        PRop.suggested_suite_violations(clips, [
            ("sr_hz", "range", "[8000,48000]"),
            ("codec", "isin", "alaw,mulaw,pcm_s16le"),
            ("transcript", "not_null", "")]),
        {"no_bytes_scan": True, "no_cartesian": True,
         "zero_exchange": True, "codegen": True}))
    cases.append((
        "suggested_suite_verdicts pass 1 (a compiled contract's "
        "aggregates, one groupBy(part))",
        SU.aggregate_plan(clips, None, SU.contract_checks([
            ("sr_hz", "range", "[8000,48000]"),
            ("codec", "isin", "alaw,mulaw,pcm_s16le"),
            ("transcript", "not_null", "")])),
        {"no_bytes_scan": True, "no_cartesian": True,
         "single_exchange": True}))

    # association metrics: joint-histogram fold, marginals via keyed
    # joins + 1-row broadcast total (never a global window over cells)
    cases.append((
        "mutual_information (joint-cell fold, keyed joins, 1-row bcast)",
        stats.mutual_information(clips.select("codec", "part"),
                                 "codec", "part"),
        {"no_bytes_scan": True, "no_cartesian_data": True,
         "broadcast": True}))
    cases.append((
        "group_entropy (histogram cells, per-group window)",
        stats.group_entropy(clips, "codec"),
        {"no_bytes_scan": True, "no_cartesian": True}))
    # CER/WER adjudication: the dup-id self-join must land on an equi
    # hash join keyed (part, clip_id) over a bytes-pruned projection;
    # the token->char encoding is pure expression work (no Python stage)
    from drift_detection_pibic___framework_spark.operators import (
        text as TXop)
    _ea = clips.select("part", "clip_id", F.col("rid").alias("rid_a"),
                       F.col("transcript").alias("t_a"))
    _eb = clips.select("part", "clip_id", F.col("rid").alias("rid_b"),
                       F.col("transcript").alias("t_b"))
    cases.append((
        "edit_metrics dup-pair adjudication (equi self-join, bytes pruned)",
        TXop.edit_metrics(
            _ea.join(_eb, ["part", "clip_id"]).filter("rid_a < rid_b"),
            "t_a", "t_b"),
        {"no_bytes_scan": True, "no_cartesian": True, "hash_join": True}))
    # FD + Benford: each ONE map-side-combined groupBy, bytes pruned
    cases.append((
        "fd_violations (single keyed groupBy, bytes pruned)",
        stats.fd_violations(
            clips.select("part", "clip_id", "transcript"),
            ["part", "clip_id"], "transcript"),
        {"no_bytes_scan": True, "no_cartesian": True,
         "single_exchange": True}))
    cases.append((
        "benford_check (9 digit counts per group, bytes pruned)",
        stats.benford_check(clips.select("part", "dur_ms"),
                            "dur_ms", "part"),
        {"no_bytes_scan": True, "no_cartesian": True,
         "single_exchange": True}))
    # every binned drift score (PSI/KS/JSD/chi2/W1/KS p-value) is
    # finalized on the driver from ONE groupBy(part) of count_if bins:
    # bytes never touched, one exchange; the baseline window of a separate
    # frame is filtered before the same aggregation
    from drift_detection_pibic___framework_spark.operators import (
        drift_dist as DDop)
    cases.append((
        "drift bin counts (40 count_if bins, one groupBy(part))",
        DDop.bin_count_plan(clips, "dur_ms"),
        {"no_bytes_scan": True, "no_cartesian": True,
         "single_exchange": True}))
    cases.append((
        "drift baseline bin counts (baseline parts filtered first)",
        DDop.bin_count_plan(clips, "dur_ms",
                            parts=DDop.DEFAULT_BASELINE_PARTS),
        {"no_bytes_scan": True, "no_cartesian": True,
         "single_exchange": True}))
    # dropout screen: payload kernel — bytes IS the work, but the scan
    # must stop at the kernel's input contract (transcript/sr_hz/dur_ms
    # riding along would be wasted I/O at 100 TB)
    cases.append((
        "audio_dropouts (payload kernel: scan limited to input contract)",
        multimodal.audio_dropouts(clips),
        {"no_cartesian": True,
         "scan_cols_subset": {"rid", "clip_id", "part", "bytes",
                              "codec"}}))
    # semantic decontamination: eval side broadcast BY DESIGN — the one
    # similarity problem where brute force is the scale path (E bounded);
    # assert the broadcast, not no-cartesian (it IS a bounded cross join)
    if emb is not None:
        # codegen NOT asserted: the dot products are higher-order array
        # expressions (aggregate/zip_with) — JVM-side but outside
        # whole-stage codegen, same caveat as ivf_topk above
        cases.append((
            "semantic_contamination (bounded eval side broadcast)",
            SIMop.semantic_contamination(
                emb, emb.filter("vec_id < 20"), threshold=0.4),
            {"broadcast": True}))
        # persisted AnnIndex (r5): admit assigns cells to the INCREMENT
        # only — the plan is a narrow codegen projection over the new
        # vectors; neither the ann_cells inverted file nor the base
        # corpus may appear in it (the O(increment) contract that keeps
        # a 10^12-vector index maintainable)
        tio_a = ParquetTableIO(tempfile.mkdtemp(prefix="plan_audit_ann_"))
        idx = SIMop.AnnIndex(tio_a, n_files=16)
        idx.build(emb, centroids=SIMop.random_unit_centroids(64, 16))
        _inc = emb.filter("vec_id < 5").select(
            F.col("vec_id"), F.col("embedding"))
        cases.append((
            "ann_index.admit assignment (O(increment): index + base "
            "untouched)",
            SIMop.with_ivf_cell(_inc, idx.centroids(), "embedding"),
            {"no_cartesian": True, "codegen": True, "zero_exchange": True,
             "plan_excludes": ["ann_cells"]}))
        # search must probe ONLY the probed cells' parquet files: the
        # inverted file is range-clustered on ivf_cell, so plan_probe's
        # footer min/max pruning drops every unprobed cell's files from
        # the scan list (files_kept < files_total, the static verdict
        # below), and the join back to the query batch stays equi on
        # ivf_cell.  (embeddings.parquet DOES appear in this plan — as
        # the caller-supplied QUERY batch, a bounded side; the base
        # corpus is only ever read through the pruned ann_cells listing.)
        _sr = idx.search(spark, emb.filter("vec_id < 2"), k=3, n_probe=2)
        _rep = idx.last_probe_report or {}
        cases.append((
            "ann_index.search (persisted IVF: probed-cell file pruning)",
            _sr,
            {"no_cartesian": True, "hash_join": True,
             "static_verdicts": [(
                 "probe scans {k}/{t} files for {c} probed cells "
                 "(pruned inverted file)".format(
                     k=_rep.get("files_kept"), t=_rep.get("files_total"),
                     c=_rep.get("cells_probed")),
                 bool(_rep) and not _rep.get("fallback", True)
                 and 0 < _rep.get("files_kept", 0)
                 < _rep.get("files_total", 0))]}))
        # IVFPQ (r5): the compressed-domain search joins equi on
        # ivf_cell with the base side reduced to (nbr_id, ivf_cell,
        # pq_code) BEFORE the join; codebooks, like centroids, must
        # constant-fold to one nested literal even at production widths
        from drift_detection_pibic___framework_spark.operators import (
            pq as PQop)
        _B = PQop.random_codebooks(64, 8, 16)
        cases.append((
            "ivfpq_topk (ADC over cell equi-join, literal codebooks)",
            PQop.ivfpq_topk(emb, emb.limit(20), k=3,
                            centroids=SIMop.random_unit_centroids(64, 16),
                            codebooks=_B),
            {"no_cartesian": True, "hash_join": True}))
        cases.append((
            "with_pq_code @8x256x8 (codebooks folded to ONE literal)",
            PQop.with_pq_code(emb, PQop.random_codebooks(64, 8, 256)),
            {"folded_literal": True}))
        # refine stage 2: the shortlist must BROADCAST against the corpus
        # scan — a sort-merge join here would shuffle the full embedding
        # table on the id to meet Q*shortlist rows
        _ref = PQop.ivfpq_refine_topk(
            emb, emb.limit(5), k=3, shortlist=10,
            centroids=SIMop.random_unit_centroids(64, 16), codebooks=_B)
        _rplan = formatted(_ref)
        cases.append((
            "ivfpq_refine_topk (broadcast shortlist re-rank)",
            _ref,
            {"no_cartesian": True, "broadcast": True,
             "static_verdicts": [(
                 "corpus never shuffled to meet the shortlist "
                 "(no SortMergeJoin)", "SortMergeJoin" not in _rplan)]}))
        # persisted-index ADC: stage 1 must scan ONLY (vec_id, ivf_cell,
        # pq_code) from the inverted file — the embedding column (the
        # dominant bytes) is pruned from every codes ReadSchema, on top
        # of the probed-cell file cut.  (The query batch legitimately
        # reads its own embedding column.)
        tio_pq = ParquetTableIO(tempfile.mkdtemp(prefix="plan_audit_pq_"))
        idx_pq = SIMop.AnnIndex(tio_pq, n_files=16)
        idx_pq.build(emb, centroids=SIMop.random_unit_centroids(64, 16),
                     codebooks=_B)
        _adc = idx_pq.search(spark, emb.filter("vec_id < 2"), k=3,
                             n_probe=2, mode="adc")
        _prep = idx_pq.last_probe_report or {}
        _aplan = formatted(_adc)
        _code_scans = [ln for ln in _aplan.splitlines()
                       if "ReadSchema" in ln and "pq_code" in ln]
        cases.append((
            "ann_index.search mode=adc (codes-only pruned scan)",
            _adc,
            {"no_cartesian": True, "hash_join": True,
             "static_verdicts": [
                 ("codes scan present and embedding column absent from it",
                  bool(_code_scans) and all(
                      "embedding" not in ln for ln in _code_scans)),
                 ("probe scans {k}/{t} files for {c} probed cells "
                  "(pruned inverted file)".format(
                      k=_prep.get("files_kept"),
                      t=_prep.get("files_total"),
                      c=_prep.get("cells_probed")),
                  bool(_prep) and not _prep.get("fallback", True)
                  and 0 < _prep.get("files_kept", 0)
                  < _prep.get("files_total", 0))]}))

    print("# PLANS.md — physical-plan audit (generated by "
          "scripts/plan_audit.py)\n")
    print("Every scale-path plan is checked for the properties that decide "
          "100 TB behavior; a FAIL below is a regression.\n")
    failures = 0
    for name, df, checks in cases:
        plan = formatted(df)
        verdicts = []
        if checks.get("no_bytes_scan"):
            ok = "bytes" not in [
                c.strip() for line in plan.splitlines()
                if "ReadSchema" in line
                for c in line.split("struct<")[-1].rstrip(">").split(",")
                for c in [c.split(":")[0]]]
            verdicts.append(("bytes column pruned from scan", ok))
        if checks.get("no_cartesian"):
            # BroadcastNestedLoopJoin is tolerated ONLY as the histogram
            # bin-grid densification pattern: a literal Range (e.g. 40
            # bins) broadcast against per-partition AGGREGATES — O(bins)
            # rows, never a data-table cross join.
            n_bnlj = plan.count("BroadcastNestedLoopJoin")
            n_range = plan.count(") Range")
            ok = ("CartesianProduct" not in plan
                  and (n_bnlj == 0 or n_range >= 1))
            label = ("no cartesian over data tables"
                     + (" (BNLJ is the literal bin-grid Range broadcast)"
                        if n_bnlj else ""))
            verdicts.append((label, ok))
        if checks.get("broadcast"):
            ok = "BroadcastHashJoin" in plan or "BroadcastExchange" in plan
            verdicts.append(("small side broadcast", ok))
        if checks.get("hash_join"):
            ok = ("BroadcastHashJoin" in plan
                  or "SortMergeJoin" in plan
                  or "ShuffledHashJoin" in plan)
            verdicts.append(("equi hash/merge join (keyed, never nested-loop)",
                             ok))
        if checks.get("codegen"):
            # formatted explain marks codegen per-node as "[codegen id : N]"
            ok = "[codegen id" in plan
            verdicts.append(("whole-stage codegen in the hot path", ok))
        if checks.get("folded_literal"):
            # the centroid/hyperplane matrix must constant-fold into a
            # single nested-array literal: no per-centroid array(...)
            # builder expressions may survive optimization (bounds the
            # analyzed-expression count at production ANN widths)
            opt = df._jdf.queryExecution().optimizedPlan().toString()
            ok = opt.count("array(") <= 2
            verdicts.append(
                ("quantizer constant-folded to one literal", ok))
        if checks.get("zero_exchange"):
            ok = "Exchange" not in plan
            verdicts.append(("ZERO exchanges (narrow end to end)", ok))
        if checks.get("no_cartesian_data"):
            # like no_cartesian, but the query's own scalar-aggregate
            # side (a literal 1-row frame, e.g. corpus N or global
            # mean/std) legitimately joins via BroadcastNestedLoopJoin —
            # only a true CartesianProduct over data is forbidden
            ok = "CartesianProduct" not in plan
            verdicts.append(
                ("no cartesian over data tables "
                 "(1-row scalar broadcast BNLJ allowed)", ok))
        if checks.get("top_k"):
            # orderBy(...).limit(k) must lower to TakeOrderedAndProject
            # (per-partition heaps + k-row reduction); a Sort node would
            # mean the whole corpus shuffles to sort.  Formatted explain
            # renders sort nodes as "Sort (<id>)" — match that, not a
            # line prefix that never occurs (r4 code review).
            import re as _re
            ok = ("TakeOrderedAndProject" in plan
                  and not _re.search(r"\bSort \(", plan))
            verdicts.append(("top-k via TakeOrderedAndProject, "
                             "no sort node anywhere in the plan", ok))
        if "scan_cols_subset" in checks:
            allowed = checks["scan_cols_subset"]
            scanned = {
                c.strip() for line in plan.splitlines()
                if "ReadSchema" in line
                for c in line.split("struct<")[-1].rstrip(">").split(",")
                for c in [c.split(":")[0]]}
            extra = scanned - allowed
            ok = not extra and bool(scanned)
            verdicts.append(
                (f"scan reads only {sorted(scanned)}"
                 + (f" — EXTRA {sorted(extra)}" if extra else ""), ok))
        if "max_input_files" in checks:
            nf = len(df.inputFiles())
            cap = checks["max_input_files"]
            ok = 0 < nf <= cap
            verdicts.append(
                (f"pruned scan lists {nf} files (bound {cap})", ok))
        if "plan_excludes" in checks:
            for frag in checks["plan_excludes"]:
                ok = frag not in plan
                verdicts.append(
                    (f"plan never touches {frag!r}", ok))
        for label, ok in checks.get("static_verdicts", []):
            verdicts.append((label, ok))
        if checks.get("single_exchange"):
            # one-pass aggregation: exactly one shuffle (partial agg ->
            # exchange -> final agg). ObjectHashAggregate is expected —
            # percentile_approx is a TypedImperativeAggregate, which
            # whole-stage codegen does not apply to by design.
            ok = plan.count(") Exchange") == 1
            verdicts.append(("single-shuffle one-pass aggregation", ok))
        print(f"## {name}\n")
        for label, ok in verdicts:
            print(f"- {'PASS' if ok else '**FAIL**'}: {label}")
            failures += (not ok)
        print("\n```\n" + plan.strip() + "\n```\n")
    spark.stop()
    print(f"\n_{failures} failures._")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
