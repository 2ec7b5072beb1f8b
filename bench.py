"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints
ONE JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Headline set: one per plan shape that matters at scale — scan+filter
pushdown, the flagship star join, large sort-merge join, hash agg,
window top-k, as-of join, streaming-shaped session window, minhash
dedup, brute-force knn, the blocked exact cosine self-join, and the
one-plan corpus curation pipeline. Each query is executed with a
count-style terminal action so results materialize fully but don't
serialize to the driver.

Variance discipline (r4 verdict item 1): BENCH totals swung ±30%
across rounds with unchanged code because best-of-2 doesn't reach JVM
steady state (measured: join_multiway_star 3.47 → 1.90 → 1.85 → 1.32
→ 1.26 → 1.21 s over six runs). The cause was codegen cache thrash, not
slow C2 tier-up: the headline plans generate more whole-stage classes
than Spark's default 100-entry cache holds, so runs kept recompiling
them with Janino and the JIT kept re-compiling the new classes.
`get_spark` now sizes the cache for the engine's working set
(session.py). Each query runs N_RUNS=5 times; the reported number is
the min (the reproducible steady-state cost a resident engine pays),
and the JSON carries every run plus a spread so a real regression is
distinguishable from host noise: spread_pct = (median - min) / min —
high spread means the host was loaded and the min is the trustworthy
number.

`value` stays the sum over the SAME 12-query headline set benched
since r3 (named in "headline") so round-over-round totals compare;
the r4 control-plane operators (pack_sequence_bins, ts_gapfill_locf)
are tracked in "queries" / "extended_total" without breaking the
series.

Scaling lane (r5 verdict item 2): after the sf0.1 headline pass, the
same queries run on a 10x replicated copy of sf0.1 (tools/
make_scaled_sf.py — key-shifted self-consistent replicas, cached on
disk) and the JSON carries per-query sf1/sf0.1 ratios. Linear
operators should sit near 10x (minus fixed per-query overhead, so
often below); a super-linear ratio is the scaling regression signal
plan shapes alone can't give. `vec_dedup_cosine` is excluded — it is
exact all-pairs BY CONTRACT (quadratic, 100x expected); its
production-path twin `vec_dedup_semantic` is measured instead.
Disable with SPARK_GRAFT_BENCH_SCALE=0.

Stdout contract (r9 verdict item 1): the driver captures only a ~2 KB
stdout tail, and BENCH_r05..r09 were head-truncated past recovery once
the scale lane grew to 38 queries. The FINAL stdout line is now a
compact summary guaranteed <= 1.5 KB: metric, value, the 12 headline
timings, extended/scale totals, and the worst-3 scale ratios. The full
detail document (every timing, spread, per-query scale ratio) goes to
stderr as a single `# DETAIL <json>` line, and per-run series stay on
stderr as before. A hard assert keeps the stdout line under budget so
a future lane addition can't silently break the driver parse again.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from helium_etl_lite_spark import registry
from helium_etl_lite_spark.session import get_spark
from helium_etl_lite_spark.tables import TABLE_NAMES, load_table

HEADLINE = [
    "scan_predicate_pushdown",
    "join_multiway_star",
    "join_sortmerge_large",
    "agg_groupby_hash",
    "agg_count_distinct",
    "win_row_number_topk_per_group",
    "join_asof_event_order",
    "stream_session_window",
    "text_dedup_minhash",
    "vec_knn_cosine",
    "vec_dedup_cosine",
    "pipeline_corpus_curation",
]

# Tracked but excluded from `value` to keep the headline series
# comparable across rounds.
EXTENDED = [
    "pack_sequence_bins",
    "ts_gapfill_locf",
    # r6: composite TPC-H-shaped reports — the "real user query" lane.
    "report_pricing_summary",
    "report_local_supplier_volume",
    # r6: the five-stage curation flagship.
    "pipeline_pretraining_select",
    # r7: the widest new report (5-table star, integer-cents agg).
    "report_product_profit",
    # r8 fourth session: the incremental/maintenance tools lane.
    "view_incremental_join_refresh",
    "pipeline_incremental_curation",
    "table_diff_audit",
    # r12: the C4 front-end flagship (url gate -> extract -> redact ->
    # dedup in one plan; measured 2.9s base / 4.1x at x10 before adding).
    "pipeline_web_curation",
]

N_RUNS = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "5"))

# Rolling best official headline total (r11, BENCH_r11.json). The r12
# verdict's rerun rule keys off this: a first headline pass more than
# 1.5x the record WITH a mid-run load breach is presumed
# noise-contaminated and is re-run once in the same session. Update
# when a new official round sets a faster point.
HEADLINE_RECORD_SEC = 6.043
RERUN_FACTOR = 1.5

# Rolling best PER-QUERY official points (min over BENCH_r01..r13
# stdout summaries; sums to 5.84s). The r13 verdict's outlier rule
# (What's wrong #1): the total-keyed rerun above can never fire when a
# single contaminated query hides inside an under-record total — r13
# shipped scan_predicate_pushdown at 5.2x its record inside a
# 0.95x-record total. A headline query exceeding OUTLIER_FACTOR x its
# rolling record is presumed noise (min-of-5 on an idle host does not
# drift 3x without interference; the headline set and its modules are
# stable across rounds) and triggers the same bounded once-per-session
# headline rerun.
#
# UPDATE RULE (r14 verdict item 9): entries may only ever be lowered,
# and only from an OFFICIAL driver point (the BENCH_rNN.json series) —
# never from builder-side runs, which have no independent witness.
# Checked against BENCH_r14 (r15): its per-query values (degraded
# host) beat no entry, so the table is unchanged — still the min over
# BENCH_r01..r14.
HEADLINE_QUERY_RECORD_SEC = {
    "scan_predicate_pushdown": 0.231,
    "join_multiway_star": 1.086,
    "join_sortmerge_large": 0.517,
    "agg_groupby_hash": 0.265,
    "agg_count_distinct": 0.214,
    "win_row_number_topk_per_group": 0.394,
    "join_asof_event_order": 0.345,
    "stream_session_window": 0.346,
    "text_dedup_minhash": 0.924,
    "vec_knn_cosine": 0.495,
    "vec_dedup_cosine": 0.658,
    "pipeline_corpus_curation": 0.362,
}
OUTLIER_FACTOR = 3.0

# Idle-gate / breach threshold, shared by _wait_for_idle, the mid-run
# breach check and the degraded expression (r13 ADVICE item 1: these
# previously hardcoded 2.0 while the gate honored the env var, so an
# override desynced them).
IDLE_LOAD_THRESHOLD = float(os.environ.get("SPARK_GRAFT_BENCH_IDLE_LOAD", "2.0"))

# r15 gate hardening (disclosed in OPTIMIZATION_r15.md): guest loadavg
# cannot see HYPERVISOR contention — r15 measured windows where an
# idle-loadavg guest ran a fixed pure-python loop 2.5-3.4x slower than
# calm (steal windows), which contaminated several same-code
# measurements by 2-3x. The idle gate therefore also requires a
# fixed-work CPU probe to run at calm speed: min-of-3 of a 2M-iteration
# integer loop, nominal ~0.10 s on this sandbox's Python 3.11, flagged
# above PROBE_THRESHOLD_SEC (2.5x nominal; env-tunable). The probe
# value is reported in the output either way; a gate that times out
# with a slow probe flows into the existing degraded flag.
PROBE_THRESHOLD_SEC = float(os.environ.get("SPARK_GRAFT_BENCH_PROBE_SEC", "0.25"))


def _cpu_probe() -> float:
    """min-of-3 fixed-work loop (2M integer adds), seconds."""
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        s = 0
        for i in range(2_000_000):
            s += i
        best = min(best, time.perf_counter() - t0)
    return best

# Scaling lane: replicate sf0.1 by this factor and re-run the headline
# set (vec_dedup_cosine swapped for its subquadratic production twin).
SCALE_ENABLED = os.environ.get("SPARK_GRAFT_BENCH_SCALE", "1") != "0"
SCALE_REPLICAS = int(os.environ.get("SPARK_GRAFT_BENCH_SCALE_REPLICAS", "10"))
SCALE_RUNS = int(os.environ.get("SPARK_GRAFT_BENCH_SCALE_RUNS", "3"))
SCALE_SET = [q for q in HEADLINE if q != "vec_dedup_cosine"] + [
    "vec_dedup_semantic",
    # r7: the two grouped-control-plane reshapes — their ratios at 10x
    # are the direct evidence the low-cardinality-window fix holds —
    # plus the hashed-span paragraph dedup (8-byte shuffle keys).
    "win_ntile",
    "sample_mixture_interleave",
    "text_paragraph_dedup",
    # r8 (r7 verdict item 7): the r7 heavies had no measured scale
    # ratio — the lane is the only instrument that has caught a
    # super-linear shape (r6: 26.5x) — plus the r8-new overlap dedup
    # and banded pHash near-dup.
    "dedup_containment_screened",
    "graph_pagerank_topk",
    "join_interval_overlap",
    "agg_count_min_sketch",
    "text_span_dedup_overlap",
    "multimodal_phash_neardup",
    # r8 second batch: the runtime-bloom join and BM25 (both cheap at
    # 10x: ~2s each). graph_triangle_count / graph_kcore_peel are NOT
    # in this lane: at 13s/26s base they would multiply the lane's
    # total by ~20x and risk the driver's bench budget — their 10x
    # ratios were measured once manually instead (README, scale-lane
    # section; replicas are key-disjoint so both scale linearly in
    # component count by construction).
    "join_bloom_pruned",
    "text_bm25_topk",
    # r8 fourth session: the new incremental/maintenance heavies — the
    # IVM refresh, the CDC-fed curation loop and the keyed data-diff
    # all write or double-scan, so their 10x ratios are worth watching
    # (cheap singles: ~1-3s base each).
    "view_incremental_join_refresh",
    "pipeline_incremental_curation",
    "table_diff_audit",
    # r8 fifth session: the recurrence fold (linear: replicas shift
    # user_id so users multiply, series length stays fixed).
    # join_spatial_grid stays out: replicas duplicate coordinates, so
    # pair OUTPUT is quadratic by semantics (the interval-overlap
    # caveat squared) — measured manually instead (README scale-lane
    # notes). graph_reachability_recursive is OUT as of the seventh
    # session: its original UNION ALL form CRASHED this lane at base
    # sf0.1 (path rows are exponential in hops; Spark's 1e6-row
    # recursion guard fired) — the fix is per-level SELECT DISTINCT
    # (true BFS), which passes at sf0.1 in ~21 s base, still too heavy
    # for the automated lane (the graph_triangle_count rule); its 10x
    # ratio is measured manually (README).
    "ts_ewma_portable",
    # r8 seventh session: the BPE-priced budget walk (corpus scans
    # linear; the trainer loop is N-independent by construction — a
    # flat trainer share at 10x IS the claim), waterfill quotas
    # (grouped-control-plane rank fill), portable LSH ANN (queries
    # fixed at 8 ids in replica 0; candidate lists grow linearly),
    # and power-iteration PCA (N*d Gram agg linear; matvec rounds
    # N-independent). vec_dedup_semantic_portable and
    # dedup_containment_screened_portable stay OUT: verbatim-text
    # replicas grow their within-cluster/within-bucket pair terms
    # quadratically BY SEMANTICS (the join_spatial_grid caveat) — the
    # production twins already in this lane carry the shape evidence.
    "sample_token_budget_bpe_portable",
    "sample_quota_waterfill",
    "vec_ann_lsh_portable",
    "vec_pca_portable",
    # concat-chunk packing (prefix-sum control plane, linear) and
    # the postings build (tokenize + two aggs, linear; replica-
    # shifted doc_ids multiply df, the 3..100 band keeps output
    # bounded).
    "pack_concat_chunk",
    "text_inverted_index",
    # r9 (verdict item 7): the window newcomers cheap enough for the
    # automated lane. er_sorted_neighborhood output is linear (next-3
    # window); text_dedup_winnow WALL is ~2x at 10x but its pair
    # OUTPUT is replica-quadratic BY SEMANTICS (verbatim-text replicas
    # are genuine mutual near-dups: 236 -> 240k pairs, dominated by
    # each doc x its 9 replica twins) — the join_spatial_grid caveat,
    # time stays healthy because the stop-gram cap bounds fp fan-out;
    # retrieval_rrf_hybrid is bounded top-k on both arms.
    "text_dedup_winnow",
    "er_sorted_neighborhood",
    "retrieval_rrf_hybrid",
    # second r9 batch (measured 0.8x / 1.9x at 10x before adding):
    # the top-k sampler is scan-bounded; the KMV build is one distinct
    # + map-side-pruned window, algebra on 64-element arrays.
    "sample_weighted_reservoir",
    "agg_kmv_theta_sketch_portable",
    # r10 batch (measured idle-host best-of-2 before adding:
    # 1.3x / 7.9x / 2.4x / 3.2x at 10x): unigram-budget train is
    # N-independent after the word-count pass; the spectrogram is a
    # pure narrow kernel (linear); the keyed CDC diff is O(churn); the
    # classifier trainer is 2 hash-aggs x 6 epochs + broadcast weights.
    # dedup_cluster_components_star stays OUT on the >10s cost rule
    # (16.1s base) — its 10x ratio (4.6x, and the min-label twin's 10x
    # OOM) is measured manually (README scale table).
    "sample_token_budget_unigram",
    "multimodal_audio_spectrogram",
    "sink_snapshot_changes_updates",
    "text_quality_classifier_train",
    # r11 batch (measured idle-host min-of-3 before adding — all well
    # under the 10s lane-cost rule after the _fan_out_small fix):
    # isolated idle ratios video frame stats 1.0x, keyframes 1.4x,
    # MJPEG-dhash near-dup 4.2x (base 4.1s; pre-fix it was 32.9s base
    # / 7.3x on ONE core), WET extraction 0.9x, bigram LM 1.9x,
    # WordPiece 1.7x (both: LM / vocab tables scale with vocab,
    # sublinear in corpus), shard manifest 1.1x (16 fixed shards).
    # First full-lane idle run read 1.7-6.4x for the seven (in-lane
    # numbers carry sustained-session GC pressure; README scale table).
    "multimodal_video_frames",
    "multimodal_video_keyframes",
    "multimodal_video_neardup",
    "text_html_extract",
    "text_perplexity_bigram",
    "text_tokenize_wordpiece",
    "corpus_shard_manifest",
    # r12 batch (measured idle-host min-of-2 base / 1 run x10 before
    # adding, all under the 10s lane-cost rule): URL family 0.8-1.5x
    # (row-local legs + one hash agg each), PII redact 0.9x (pure
    # narrow map), cross-modal pair dedup 1.6x at 8.6s base (exact
    # phash grouping shrinks the banded join to distinct-hash
    # representatives).
    "url_canonicalize",
    "url_host_stats",
    "url_blocklist_filter",
    "url_dedup_canonical",
    "text_pii_redact",
    "multimodal_pair_dedup",
    "pipeline_web_curation",
    # second r12 batch (measured 2.9s base / 1.8x at x10 / 3.5x at x30
    # before adding): the CCNet tercile selector on the grouped_ntile
    # control plane.
    "text_ccnet_perplexity_buckets",
    # r13 batch (measured idle-host min-of-2 base + x10 before adding;
    # both trivially cheap): the pair-dedup policy twin (0.3s base,
    # 1.0x — output bounded by the 97x5 cluster/caption domain) and the
    # URL recrawl state loop (2.3s base, 1.5x — probe O(batch), state
    # append O(batch)). The OTHER r13 newcomers stay manual-measured
    # (README scale table) on the bench-budget rule: text_dsir
    # importance runs 39s at x10 (8.7x of a 4.5s base — would be the
    # lane's heaviest member), sample_dsir_token_budget 64s at x10
    # (6.8x of 9.4s), stream_url_dedup_canonical is a two-drain
    # streaming loop (5.6s base, 1.2x).
    "multimodal_pair_dedup_portable",
    "url_dedup_canonical_incremental",
    # second r13 batch (measured 1.7s base / 0.8x at x10 before
    # adding): interpolated Kneser-Ney — all four LM statistics off one
    # persisted bigram table, which scales with VOCAB, not corpus.
    "text_perplexity_kneser_ney",
]


def _bench_one(spark, sf_dir, name, n_runs=N_RUNS, tag=""):
    fn = registry.QUERIES[name]
    runs = []
    n = 0
    for _ in range(n_runs):
        t0 = time.perf_counter()
        n = fn(spark, sf_dir).count()
        runs.append(time.perf_counter() - t0)
    best = min(runs)
    med = statistics.median(runs)
    spread = round(100.0 * (med - best) / best, 1) if best > 0 else 0.0
    print(
        f"# {tag}{name}: {n} rows; min {best:.3f}s median {med:.3f}s "
        f"spread {spread}% (runs: {', '.join(f'{r:.3f}' for r in runs)})",
        file=sys.stderr,
    )
    return runs, best, spread


def _wait_for_idle():
    """Bounded wait-for-idle before the headline pass (r11 verdict
    item 2, tightened per r12 item 2): BENCH_r09..r12 all absorbed
    30-100% host-load noise into the official series — r12 passed the
    old gate at the EDGE (load5 2.91 vs the 3.0 threshold, 15-min
    still 3.53) and every headline query came out 1.7-2.7x slow.  The
    gate now requires ALL THREE loadavg windows to be calm: 1-min and
    5-min under the threshold (2.0), 15-min under 1.25x of it — a
    draining host shows up in the longer averages long after the 1-min
    decays.  r15: additionally requires the fixed-work CPU probe to be
    calm (hypervisor-contention windows are invisible to loadavg — see
    PROBE_THRESHOLD_SEC).  Bounded budget so the driver's bench slot
    can't hang.  Returns (waited_sec, timed_out, probe_sec)."""
    threshold = IDLE_LOAD_THRESHOLD
    budget = float(os.environ.get("SPARK_GRAFT_BENCH_IDLE_WAIT_SEC", "600"))
    poll = 15.0
    t0 = time.monotonic()
    while True:
        load1, load5, load15 = os.getloadavg()
        probe = _cpu_probe()
        waited = time.monotonic() - t0
        if (
            load1 < threshold
            and load5 < threshold
            and load15 < threshold * 1.25
            and probe < PROBE_THRESHOLD_SEC
        ):
            if waited > 0.5:
                print(
                    f"# idle gate: loadavg {load1:.2f}/{load5:.2f}/"
                    f"{load15:.2f} probe {probe:.3f}s calm after "
                    f"{waited:.0f}s wait",
                    file=sys.stderr,
                )
            return round(waited, 1), False, round(probe, 3)
        if waited + poll > budget:
            print(
                f"# idle gate TIMED OUT after {waited:.0f}s (loadavg "
                f"still {load1:.2f}/{load5:.2f}/{load15:.2f}, cpu probe "
                f"{probe:.3f}s vs {PROBE_THRESHOLD_SEC}); "
                "proceeding (gate_timeout; degraded if the probe is slow)",
                file=sys.stderr,
            )
            return round(waited, 1), True, round(probe, 3)
        print(
            f"# idle gate: loadavg {load1:.2f}/{load5:.2f}/{load15:.2f} "
            f"vs {threshold}/{threshold}/{threshold * 1.25}, cpu probe "
            f"{probe:.3f}s vs {PROBE_THRESHOLD_SEC}, waiting "
            f"({waited:.0f}/{budget:.0f}s)",
            file=sys.stderr,
        )
        time.sleep(poll)


def run_flags(idle_timeout, probe_sec, load1_start, midrun_load, headline_total, outliers):
    """The run-quality flags of the record.

    `gate_timeout`: the bounded idle wait gave up (any of its signals
    stayed above threshold). `degraded`: the measurement itself is
    suspect — the gate gave up with the CPU probe still slow (the direct
    measure of contention; a calm probe means only loadavg, which cannot
    tell a draining 15-min average from live load, held the gate), load
    was present at session start, the headline total is STILL
    record-breaking slow with a recorded mid-run breach after the one
    allowed rerun (r12 verdict item 2), or a per-query outlier survived
    the rerun (r13 verdict item 2 — the point is then
    honest-but-contaminated, never silently official)."""
    return {
        "gate_timeout": bool(idle_timeout),
        "degraded": bool(
            (idle_timeout and probe_sec >= PROBE_THRESHOLD_SEC)
            or load1_start > IDLE_LOAD_THRESHOLD
            or (
                any(v > IDLE_LOAD_THRESHOLD for v in midrun_load.values())
                and headline_total > RERUN_FACTOR * HEADLINE_RECORD_SEC
            )
            or bool(outliers)
        ),
    }


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    idle_wait, idle_timeout, probe_sec = _wait_for_idle()
    registry.load_all()
    spark = get_spark("bench")
    try:
        load0 = os.getloadavg()
        # warm the JVM + parquet footers of every input so per-query
        # times measure the query, not session startup / first-touch IO.
        for table in TABLE_NAMES:
            load_table(spark, sf_dir, table).count()

        timings: dict[str, float] = {}
        spreads: dict[str, float] = {}
        # Headline pass with MID-RUN load sampling (r12 verdict item 2):
        # the idle gate only proves the host was calm at t=0; load that
        # arrives DURING the pass contaminated r09-r12. Sample loadavg
        # after every headline query, stamp a per-query breach flag, and
        # if the total comes out > RERUN_FACTOR x the rolling record
        # WITH any mid-run breach, rerun the headline pass once in the
        # same session (keeping per-query minima — min-of-runs is
        # already the series metric).
        midrun_load: dict[str, float] = {}
        # Caveat (r13 ADVICE item 2): the mid-run load1 sample cannot
        # distinguish EXTERNAL load from the bench's own CPU — Spark
        # saturates cores during a pass, and loadavg decays over ~60s,
        # so a long pass self-inflates the 1-min average. The baseline
        # sample just before the pass bounds this: a breach that was
        # ALREADY present at pass start is external; one that only
        # appears mid-pass may be self-load. Both the single-rerun
        # bound and the headline_rerun flag disclose any retry either
        # way, so the worst case is one extra (still-honest, min-kept)
        # pass.
        load_before_pass = round(os.getloadavg()[0], 2)

        def _headline_pass(tag=""):
            t_pass, s_pass, breach = {}, {}, False
            for name in HEADLINE:
                _, best, spread = _bench_one(spark, sf_dir, name, tag=tag)
                t_pass[name] = round(best, 3)
                s_pass[name] = spread
                load1 = os.getloadavg()[0]
                midrun_load[name] = max(midrun_load.get(name, 0.0), round(load1, 2))
                if load1 > IDLE_LOAD_THRESHOLD:
                    breach = True
            return t_pass, s_pass, breach

        # the per-query records are sf0.1 official-series numbers; the
        # outlier rule only arms on that series (an sf0.001 smoke or an
        # sf10 stress run would mis-trip it in either direction)
        outlier_rule_armed = sf_dir.rstrip("/").endswith("sf0.1")

        def _outliers(t_pass):
            if not outlier_rule_armed:
                return []
            return sorted(
                name
                for name, rec in HEADLINE_QUERY_RECORD_SEC.items()
                if name in t_pass and t_pass[name] > OUTLIER_FACTOR * rec
            )

        t1, s1, breach1 = _headline_pass()
        total1 = sum(t1.values())
        headline_rerun = False
        # rerun when slowness is attributable to MEASURED load (either a
        # mid-run 1-min breach, or the idle gate itself timed out — the
        # host was known-draining at start; observed r13: a post-test
        # session ran 13.6s at load1 0.06 / load15 3.2 with no breach)
        # OR when any single headline query exceeds OUTLIER_FACTOR x its
        # rolling per-query record (r13 verdict item 2: a 5.2x outlier
        # inside an under-record total never trips the total rule).
        total_slow = (
            breach1 or idle_timeout
        ) and total1 > RERUN_FACTOR * HEADLINE_RECORD_SEC
        outliers1 = _outliers(t1)
        if total_slow or outliers1:
            headline_rerun = True
            reason = (
                f"total {total1:.3f}s > {RERUN_FACTOR}x record "
                f"{HEADLINE_RECORD_SEC}s with a load signal (mid-run max "
                f"{max(midrun_load.values()):.2f}, idle_timeout={idle_timeout})"
                if total_slow
                else f"per-query outliers > {OUTLIER_FACTOR}x rolling record: "
                + ", ".join(
                    f"{q} {t1[q]}s vs {HEADLINE_QUERY_RECORD_SEC[q]}s"
                    for q in outliers1
                )
            )
            print(
                f"# headline {reason} — rerunning the headline pass once",
                file=sys.stderr,
            )
            t2, s2, _ = _headline_pass(tag="rerun ")
            for name in HEADLINE:
                if t2[name] < t1[name]:
                    t1[name], s1[name] = t2[name], s2[name]
        outliers_final = _outliers(t1)
        timings.update(t1)
        spreads.update(s1)
        for name in EXTENDED:
            _, best, spread = _bench_one(spark, sf_dir, name)
            timings[name] = round(best, 3)
            spreads[name] = spread

        scale_block = None
        if SCALE_ENABLED:
            from tools.make_scaled_sf import ensure_scaled

            scale_dir = os.path.join(
                os.path.dirname(os.path.abspath(__file__)), ".scaled",
                f"sf_x{SCALE_REPLICAS}",
            )
            t0 = time.perf_counter()
            ensure_scaled(spark, sf_dir, scale_dir, SCALE_REPLICAS)
            print(
                f"# scale lane: {scale_dir} ready in "
                f"{time.perf_counter() - t0:.1f}s",
                file=sys.stderr,
            )
            # base-lane timings for scale-set members outside the
            # headline (vec_dedup_semantic) so every ratio has a
            # denominator.
            for name in SCALE_SET:
                if name not in timings:
                    _, best, spread = _bench_one(
                        spark, sf_dir, name, n_runs=SCALE_RUNS
                    )
                    timings[name] = round(best, 3)
                    spreads[name] = spread
            scale_timings: dict[str, float] = {}
            scale_spreads: dict[str, float] = {}
            for name in SCALE_SET:
                _, best, spread = _bench_one(
                    spark, scale_dir, name, n_runs=SCALE_RUNS, tag="x10 "
                )
                scale_timings[name] = round(best, 3)
                scale_spreads[name] = spread
            scale_block = {
                "replicas": SCALE_REPLICAS,
                "n_runs": SCALE_RUNS,
                "total": round(sum(scale_timings.values()), 3),
                "queries": scale_timings,
                "spread_pct": scale_spreads,
                "ratio_vs_base": {
                    q: round(scale_timings[q] / timings[q], 1)
                    for q in scale_timings
                    if q in timings and timings[q] > 0
                },
            }

        sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
        # Full-detail document -> stderr (the driver only keeps a short
        # stdout tail; humans and tools read BENCH detail from here).
        detail = {
            "metric": "headline_queries_total",
            "value": round(sum(timings[q] for q in HEADLINE), 3),
            "unit": "sec",
            "queries": timings,
            "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
            "headline": HEADLINE,
            "extended_total": round(
                sum(timings[q] for q in EXTENDED), 3
            ),
            "n_runs": N_RUNS,
            "spread_pct": spreads,
            "loadavg_start": [round(x, 2) for x in load0],
            "loadavg_end": [round(x, 2) for x in os.getloadavg()],
            **run_flags(
                idle_timeout, probe_sec, load0[0], midrun_load,
                sum(timings[q] for q in HEADLINE), outliers_final,
            ),
            "idle_wait_sec": idle_wait,
            "cpu_probe_sec": probe_sec,
            "load_before_pass": load_before_pass,
            "midrun_load": midrun_load,
            "headline_rerun": headline_rerun,
            "headline_record_sec": HEADLINE_RECORD_SEC,
            "headline_outliers": outliers_final,
        }
        if scale_block is not None:
            detail["scale"] = scale_block
        print("# DETAIL " + json.dumps(detail), file=sys.stderr)

        # Compact summary -> the FINAL stdout line (<= 1.5 KB, asserted).
        out = {
            "metric": "headline_queries_total",
            "value": detail["value"],
            "unit": "sec",
            "sf": detail["sf"],
            "queries": {q: timings[q] for q in HEADLINE},
            "n_runs": N_RUNS,
            "extended_total": detail["extended_total"],
            "loadavg_start": detail["loadavg_start"],
        }
        if scale_block is not None:
            ratios = scale_block["ratio_vs_base"]
            worst3 = dict(
                sorted(ratios.items(), key=lambda kv: -kv[1])[:3]
            )
            out["scale_total"] = scale_block["total"]
            out["scale_replicas"] = scale_block["replicas"]
            out["scale_n_queries"] = len(scale_block["queries"])
            out["scale_worst3_ratio"] = worst3
            out["scale_max_ratio"] = max(ratios.values()) if ratios else None
        # Loadavg gate (r10 verdict item 7, strengthened per r11 item
        # 2): the idle gate above waits for loadavg < 2 before the
        # session starts, so both flags should normally be false now —
        # they stay ALWAYS-PRESENT (not just when true) so the series
        # records that the gate ran (see run_flags for what each means).
        out["gate_timeout"] = detail["gate_timeout"]
        out["degraded"] = detail["degraded"]
        out["idle_wait_sec"] = idle_wait
        out["cpu_probe_sec"] = probe_sec
        out["midrun_load_max"] = (
            max(midrun_load.values()) if midrun_load else 0.0
        )
        if headline_rerun:
            out["headline_rerun"] = True
        if outliers_final:
            out["headline_outliers"] = outliers_final
        line = json.dumps(out)
        if len(line) > 1500:
            # Never leave the driver without a parseable final line
            # (r10 ADVICE item 3): print a minimally-trimmed fallback
            # first — drop the scale worst-3 map, then the per-query
            # timings — THEN raise so the overflow still fails loudly.
            fallback = dict(out)
            fallback["trimmed"] = True
            fallback.pop("scale_worst3_ratio", None)
            if len(json.dumps(fallback)) > 1500:
                fallback.pop("queries", None)
            print(json.dumps(fallback))
            raise RuntimeError(  # explicit raise: survives python -O
                f"stdout summary line grew to {len(line)} bytes; trim it "
                "— the driver tail-captures ~2 KB (r9 verdict item 1)"
            )
        print(line)
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
