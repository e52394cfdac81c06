"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default sf0.1)
on local[$SPARK_GRAFT_CPUS].

Prints ONE compact JSON summary line (<1 KB — the driver's tail capture has a
fixed budget, and round 2's 100-query inline map exceeded it, truncating the
artifact to parsed:null). The full per-query map + ANN recall detail is
written to BENCH_DETAIL.json beside this file; the summary line carries only
the headline scalars plus a small `queries` map of the top-N slowest queries
so a round-over-round diff of the hot set stays possible from the driver
artifact alone.

Each query is forced through the noop sink (full computation, zero
collect/serialization cost) so timings measure the engine, not the driver.
"""

from __future__ import annotations

import contextlib
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from drive_health_etl_spark.plans.registry import REGISTRY
from drive_health_etl_spark.session import get_spark
from perfbench.measure import tree_pids

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

# Headline set: the flagship agg, the heaviest joins/windows, the pipeline
# E2E, and the LLM-ops (dedup/similarity/text) — the queries whose scaling
# behavior matters most.
HEADLINE = [
    "q1_pricing_summary",
    "j1_inner_equi",
    "j6_star_join",
    "j5_range_join",
    "w1_first_write_wins",
    "w4_running_sum",
    "st8_session_window",
    "a1_group_count",
    "o8_projection_rename",
    "text_word_freq",
    "text_quality",
    "dedup_exact",
    "dedup_minhash_pairs",
    "dedup_prefix_join",
    "dedup_substring_ladder",
    "dedup_suffix_doubling",
    "dedup_suffix_lcs",
    "dedup_cdc_chunks",
    "corpus_weighted_sample",
    "quality_ppx_gate",
    "dedup_simhash",
    "sim_cosine_topk",
    "sim_ann_lsh",
    "sim_ann_lsh_multiprobe",
    "sim_ann_lsh_multitable",
    "sim_ann_ivf",
    "sim_ann_binary",
    "sim_binary_quality",
    "text_bpe_token_count",
    "text_repetition",
    "text_char_entropy",
    "text_zipf_fit",
    "text_decontaminate",
    "corpus_pack_sequences",
    "corpus_temperature_mix",
    "corpus_dsir_select",
    "multimodal_decode_stats",
    "multimodal_png_stats",
    "multimodal_jpeg_stats",
    "multimodal_jpeg420_stats",
    "multimodal_jpeg_prog_stats",
    "multimodal_jpeg_bytes",
    "multimodal_mjpeg_stats",
    "multimodal_mjpeg_p_stats",
    "multimodal_adpcm_stats",
    "multimodal_ulaw_stats",
    "multimodal_gif_stats",
    "multimodal_png_adam7_stats",
    "multimodal_qoi_stats",
    "dedup_exactsubstr_spans",
    "dedup_exactsubstr_clean",
    "multimodal_flac_stats",
    "asof_last_purchase",
    "sess_stats",
    "sess_funnel",
    "text_bm25",
    "dedup_components",
    "dedup_semantic",
    "dedup_semantic_prune",
    "q13_customer_distribution",
    "q21_waiting_orders",
    "corpus_prep_pipeline",
    "text_bigram_logprob",
    "text_trigram_kn_logprob",
    "feat_hashing_tf",
    "feat_tfidf_top_terms",
    "basket_part_pairs",
    "graph_pagerank",
    "graph_hits",
    "graph_kcore",
    "scd2_order_status",
    "dedup_keep_best",
    "j5b_binned_range_join",
    "sketch_distinct_hll",
    "sql_recursive_cte",
    "layout_zorder_stats",
    "layout_hilbert_stats",
    "graph_triangles",
    "corpus_source_overlap",
    "emb_pq_stats",
    "w10_mad_outliers",
    "dq_expectations",
    "st8_session_dynamic_gap",
    "j7_bloom_prefilter_join",
    "j8_skew_salted_join",
    "retrieval_eval_ndcg",
    "retrieval_rrf_fusion",
    "lake_time_travel",
    "text_bpe_train",
    "text_bpe_encode",
    "text_bpe_subword_encode",
    "text_wordpiece_encode",
    "text_unigram_encode",
    "emb_gram_topk",
    "emb_jl_projection",
    "w11_interval_concurrency",
    "w12_ewma_smooth",
    "dq_psi_drift",
    "sketch_bitmap_distinct",
    "sdp_daily_rollup",
    "st_sprt_monitor",
    "stat_ab_welch",
    "stat_bootstrap_ci",
    "stat_sprt_ab",
    "ts_theil_sen_trend",
    "stat_chi2_independence",
    "stat_mann_whitney",
    "ts_holt_linear",
    "ts_holt_winters",
    "sess_attribution",
    "sess_survival_km",
    "sketch_cms_estimate",
    "graph_bfs_distances",
    "dedup_containment",
    "emb_centroid_drift",
    "multimodal_phash_neardup",
    "multimodal_audio_match",
    "feat_target_encoding",
    "lake_merge",
    "sim_mmr_rerank",
    "text_keyphrases_rake",
    "graph_label_propagation",
    "stat_ks_test",
    "ts_seasonal_decompose",
    "w13_interpolate_linear",
    "sess_journey_paths",
    "lake_wap_publish",
    "lake_stats_pruned_read",
    "text_readability",
    "sim_ann_pq_adc",
    "emb_power_iteration",
    "stat_anova_oneway",
    "ts_max_drawdown",
    "text_langid_eval",
    "dq_reconcile_orders",
    "sim_ann_ivfpq",
    "dedup_lsh_scurve",
    "sess_cohort_value",
    "w15_percent_of_total",
    "dq_pk_audit",
    "dq_benford",
    "dq_k_anonymity",
    "text_url_canonical",
    "ts_residual_anomalies",
    "quality_lr_eval",
    "quality_ft_eval",
    "corpus_novelty",
    "emb_triplet_mining",
    "dedup_edit_join",
    "stat_bh_fdr",
    "dq_dp_counts",
    "feat_woe_iv",
    "ts_sax_motifs",
    "stat_cuped",
    "stat_did",
    "graph_adamic_adar",
    "stat_srm_check",
    "pipeline_ingest_e2e",
]


def time_noop(fn, spark, sf_dir: str) -> float:
    """Wall time of building `fn(spark, sf_dir)` and running it through the
    noop sink: the one timing call of bench.py and the tools."""
    t0 = time.perf_counter()
    fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


# ---------------------------------------------------------------------------
# Machine-load accounting (round-8: VERDICT r7 — the committed r7 bench read
# as a 21.7% regression that judge re-timing showed was mostly driver-box
# load; the file must self-annotate so box noise can never again masquerade
# as an engine regression). loadavg DURING the run is polluted by the bench's
# own Spark tasks, so the idle verdict uses two signals that are not:
#   - pre-run 1-min loadavg (sampled before the timing pass starts), and
#   - external CPU share over the run: system-wide busy jiffies minus the
#     bench's own process tree (python + the local[*] JVM), as a fraction of
#     total machine capacity.

IDLE_LOAD1_MAX = 1.0        # pre-run 1-min loadavg above this = box not idle
IDLE_EXT_SHARE_MAX = 0.05   # >5% of machine CPU spent outside our tree
IDLE_IOWAIT_SHARE_MAX = 0.05
IDLE_STEAL_SHARE_MAX = 0.05  # hypervisor steal: the box itself ran slow


def parse_proc_stat(text: str) -> dict[str, float]:
    """Aggregate cpu line of /proc/stat -> jiffy counters.

    busy excludes idle AND iowait; iowait is reported separately (a loaded
    disk shows up there, not in busy)."""
    parts = text.splitlines()[0].split()
    vals = [float(x) for x in parts[1:]] + [0.0] * 10
    idle, iowait = vals[3], vals[4]
    total = sum(vals[:10])
    # steal (field 8) is hypervisor time the vCPU wanted but didn't get —
    # counted inside busy, owned by NO local process. Reported separately:
    # a steal burst inflates every wall clock while the external-CPU signal
    # stays quiet (round 11: a probe window ran 8-20x slow at ext 5-11%).
    return {"busy": total - idle - iowait, "iowait": iowait, "total": total,
            "steal": vals[7]}


def _read_proc_stat() -> dict[str, float] | None:
    try:
        with open("/proc/stat") as f:
            return parse_proc_stat(f.read())
    except Exception:
        return None


def _tree_cpu_jiffies() -> float:
    """utime+stime summed over the bench's live process tree, PLUS each
    member's reaped-children time (cutime+cstime): transient pyspark
    workers spawn and die inside a measurement window, and their jiffies
    would otherwise vanish from the live-pid sum and read as ~5% 'external'
    CPU (r9: two bench attempts were idle-gated away by exactly this). A
    live child's time is in its own utime/stime; once reaped it moves to
    the parent's cutime/cstime — summing both keeps the tree total
    continuous across worker death without double counting."""
    tot = 0.0
    for pid in tree_pids(os.getpid()):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            # utime, stime, cutime, cstime
            tot += sum(float(fields[i]) for i in (11, 12, 13, 14))
        except Exception:
            continue
    return tot


def _kthread_cpu_jiffies() -> float:
    """utime+stime summed over KERNEL threads (children of kthreadd, pid 2).

    Round-9 attribution fix: heavy persist/unpersist churn from our own JVM
    drives kernel memory reclaim (kworker kvfree_rcu_reclaim and friends),
    whose CPU lands in no userspace process tree — it was being counted as
    'external' and flagged genuinely idle probe windows at ext 6-17%. On
    this single-tenant VM, kernel-thread CPU is either caused by our own
    work or by housekeeping, never by a competing process, so the idle
    verdict subtracts it."""
    tot = 0.0
    try:
        for entry in os.listdir("/proc"):
            if not entry.isdigit():
                continue
            try:
                with open(f"/proc/{entry}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
                if int(fields[1]) == 2 or int(entry) == 2:  # ppid == kthreadd
                    tot += float(fields[11]) + float(fields[12])
            except Exception:
                continue
    except Exception:
        return 0.0
    return tot


def load_snapshot() -> dict[str, float] | None:
    stat = _read_proc_stat()
    if stat is None:
        return None
    stat["tree"] = _tree_cpu_jiffies()
    stat["kthread"] = _kthread_cpu_jiffies()
    return stat


def external_shares(pre: dict[str, float], post: dict[str, float]) -> dict[str, float]:
    """Fraction of total machine capacity over [pre, post] spent (a) on CPU
    outside the bench's process tree — excluding kernel threads, which on a
    single-tenant box are our own reclaim/housekeeping, reported separately
    as kernel_cpu_share — and (b) in iowait."""
    total = post["total"] - pre["total"]
    if total <= 0:
        return {"external_cpu_share": 0.0, "iowait_share": 0.0,
                "kernel_cpu_share": 0.0, "steal_share": 0.0}
    kth = max(0.0, post.get("kthread", 0.0) - pre.get("kthread", 0.0))
    steal = max(0.0, post.get("steal", 0.0) - pre.get("steal", 0.0))
    # steal sits inside busy but is neither ours nor a competing process —
    # split it out of the external share and report it on its own (it
    # invalidates timings for a different reason: the box itself was slow)
    ext = (post["busy"] - pre["busy"]) - (post["tree"] - pre["tree"]) - kth - steal
    return {
        "external_cpu_share": round(max(0.0, ext) / total, 4),
        "iowait_share": round(max(0.0, post["iowait"] - pre["iowait"]) / total, 4),
        "kernel_cpu_share": round(kth / total, 4),
        "steal_share": round(steal / total, 4),
    }


@contextlib.contextmanager
def load_window(snapshot=load_snapshot):
    """Bracket the body with one machine-load window. The yielded dict holds
    `external_shares` over the body once it exits, or stays empty when
    /proc/stat cannot be read (an empty window flags nothing)."""
    shares: dict[str, float] = {}
    pre = snapshot()
    yield shares
    post = snapshot()
    if pre is not None and post is not None:
        shares.update(external_shares(pre, post))


def window_flagged(shares: dict | None) -> list[str]:
    """Reasons a load window is untrustworthy: the one place the share
    thresholds are applied (per-query windows, the whole run, the idle
    wait's polls and the probes' table cells)."""
    if not shares:
        return []
    reasons = []
    if shares.get("steal_share", 0.0) > IDLE_STEAL_SHARE_MAX:
        reasons.append(f"steal {shares['steal_share']:.1%}")
    if shares.get("external_cpu_share", 0.0) > IDLE_EXT_SHARE_MAX:
        reasons.append(f"external {shares['external_cpu_share']:.1%}")
    if shares.get("iowait_share", 0.0) > IDLE_IOWAIT_SHARE_MAX:
        reasons.append(f"iowait {shares['iowait_share']:.1%}")
    return reasons


def idle_verdict(load_pre_1m: float, shares: dict[str, float]) -> tuple[bool, list[str]]:
    """(box_was_idle, reasons-it-wasn't) for the whole timing pass: the
    pre-run 1-min loadavg (sampled before the pass's own tasks could raise
    it) plus the pass window's shares."""
    reasons = []
    if load_pre_1m > IDLE_LOAD1_MAX:
        reasons.append(f"pre-run load1 {load_pre_1m:.2f} > {IDLE_LOAD1_MAX}")
    reasons += window_flagged(shares)
    return (not reasons, reasons)


# Start gate (round 10): before the timing pass, poll the load shares over
# short windows and start only once a window reads idle, up to a time budget.
# A box that never quiets still gets timed, and its file says so.
IDLE_WAIT_BUDGET_SEC = 600.0
IDLE_POLL_SEC = 15.0


def wait_for_idle_window(
    budget_sec: float,
    poll_sec: float = IDLE_POLL_SEC,
    snapshot=load_snapshot,
    loadavg=None,
    sleep=None,
    clock=None,
) -> dict:
    """Poll until one poll_sec window satisfies the idle thresholds, or the
    budget runs out. Returns {"went_idle", "waited_sec", "polls"} for the
    artifact's idle_waits record. Pure-injectable (snapshot/loadavg/sleep/
    clock) so the polling rule is pytest-covered without real sleeps."""
    loadavg = loadavg or os.getloadavg
    sleep = sleep or time.sleep
    clock = clock or time.monotonic
    t0 = clock()
    polls: list[dict] = []
    while True:
        with load_window(snapshot) as shares:
            sleep(poll_sec)
        waited = clock() - t0
        if not shares:
            # no /proc/stat: the load gate is vacuous on this platform, so
            # don't burn the budget polling a signal that cannot exist
            return {"went_idle": True, "waited_sec": round(waited, 1),
                    "polls": polls, "note": "no load signal on this platform"}
        load1 = loadavg()[0]
        ok = load1 <= IDLE_LOAD1_MAX and not window_flagged(shares)
        polls.append(
            {
                "external_cpu_share": shares["external_cpu_share"],
                "iowait_share": shares["iowait_share"],
                "steal_share": shares["steal_share"],
                "load1": round(load1, 2),
                "idle": ok,
            }
        )
        del polls[:-40]  # bound the artifact record
        if ok:
            return {"went_idle": True, "waited_sec": round(waited, 1), "polls": polls}
        if waited + poll_sec > budget_sec:
            return {"went_idle": False, "waited_sec": round(waited, 1), "polls": polls}


# Per-query burst gate (round-12: VERDICT r11 item 2 — the whole-run idle
# gate passed at 1.4-3.8% average steal while individual queries absorbed
# 11-15% bursts, shipping burst-hit per-query numbers and a 32c/8c
# contradiction). A query whose own sample window shows a steal, external or
# iowait burst is re-sampled (bounded); the fastest pass ships, marked
# flagged_and_kept when that pass was flagged.
PER_QUERY_RESAMPLE_MAX = 2


def sample_query(run, snapshot=load_snapshot, loadavg=None) -> tuple[float, dict]:
    """One sampling pass: sample until the two SMALLEST samples agree within
    10% (max 10 samples), report the min. The VM's background load adds
    multi-second noise to single samples (observed 3.9s-10.8s for the same
    warm query), and round 3 showed >2x cross-run swings on sub-second
    queries (dq_psi_drift 0.40<->0.87s) with only 2-3 samples — a
    reproduced min (two agreeing smallest) is the engine's actual cost.
    The 10%/10 rule replaced 20%/6 in round 6: the r5 headline moved +6.1%
    on byte-identical code because the recorded per-query spread was
    routinely ~1.06-1.13 — the stopping rule must be tighter than the
    round-over-round delta it is supposed to adjudicate.

    The record carries `first` — the pass's FIRST sample — so per-(session,
    dataset) fit/index amortization stays visible next to the steady-state
    min (VERDICT r11 item 3), plus the window's external/steal shares: a
    query whose window shows a big share was timed on a loaded box."""
    loadavg = loadavg or os.getloadavg
    with load_window(snapshot) as shares:
        samples = [run(), run()]
        while len(samples) < 10:
            lo1, lo2 = sorted(samples)[:2]
            if lo2 <= 1.1 * lo1:
                break
            samples.append(run())
    lo1, lo2 = sorted(samples)[:2]
    # measurement-quality record: spread = how well the reported min was
    # reproduced (lo2/lo1); residual cross-RUN drift beyond this is VM
    # background load, not engine behavior
    rec = {"n": len(samples), "spread": round(lo2 / lo1, 3) if lo1 else 1.0,
           "first": round(samples[0], 3)}
    if shares:
        rec.update(shares)
        rec["load1"] = round(loadavg()[0], 2)
    return round(min(samples), 3), rec


def sample_query_gated(
    run, snapshot=load_snapshot, loadavg=None, max_resamples=PER_QUERY_RESAMPLE_MAX
) -> tuple[float, dict]:
    """Re-sample a query whose window shows a steal/external/iowait burst,
    stopping at the first CLEAN pass. Ship the fastest pass: load only
    inflates wall time, so a flagged minimum is still an upper bound on
    engine cost. When the shipped pass is flagged it is marked
    flagged_and_kept=true so the artifact is self-identifying."""
    passes: list[tuple[float, dict, list[str]]] = []
    for _ in range(1 + max_resamples):
        t, rec = sample_query(run, snapshot, loadavg)
        flags = window_flagged(rec)
        passes.append((t, rec, flags))
        if not flags:
            break
    t, rec, flags = min(passes, key=lambda p: (p[0], bool(p[2])))  # clean wins ties
    if flags:
        rec = dict(rec)
        rec["flagged_and_kept"] = True
    if len(passes) > 1 or flags:
        rec = dict(rec)
        rec["resamples"] = len(passes) - 1
        rec["flagged_windows"] = [p[2] for p in passes if p[2]]
    # `first` is the coldest sample of the query: take it from pass 1
    rec["first"] = passes[0][1]["first"]
    return t, rec


def timing_pass(spark) -> dict:
    """The timing pass over HEADLINE (plus the extra ingest sample),
    bracketed by its own load window. Returns {"timings", "sampling",
    "load"} — "load" carries the pass's box_idle verdict."""
    load_pre = os.getloadavg()
    timings: dict[str, float] = {}
    sampling: dict[str, dict] = {}
    with load_window() as shares:
        for name in HEADLINE:
            fn = REGISTRY[name][0]
            timings[name], sampling[name] = sample_query_gated(
                lambda fn=fn: time_noop(fn, spark, SF_DIR)
            )
        # ingest_rows_per_sec is the headline comparable to the baseline's
        # msgs/min target — take one extra sample (min of 3 total): VM
        # background load has been observed to double a single run
        timings["pipeline_ingest_e2e"] = round(
            min(timings["pipeline_ingest_e2e"],
                time_noop(REGISTRY["pipeline_ingest_e2e"][0], spark, SF_DIR)),
            3,
        )
    box_idle, load_reasons = idle_verdict(load_pre[0], shares)
    load_detail = {
        "pre_run_loadavg": [round(x, 2) for x in load_pre],
        "post_run_load1": round(os.getloadavg()[0], 2),
        **shares,
        "box_idle": box_idle,
        "non_idle_reasons": load_reasons,
        "thresholds": {
            "load1": IDLE_LOAD1_MAX,
            "external_cpu_share": IDLE_EXT_SHARE_MAX,
            "iowait_share": IDLE_IOWAIT_SHARE_MAX,
        },
    }
    return {"timings": timings, "sampling": sampling, "load": load_detail}


def main() -> None:
    spark = get_spark("dhe-bench", cpus=CPUS)
    spark.sparkContext.setLogLevel("ERROR")
    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]

    # Warm the JVM/parquet footers AND the ingest chain's generated code once
    # so timings measure steady state (first ingest run pays ~10s of codegen
    # + C2 compilation that a long-running cluster never re-pays).
    for name in ("a1_group_count", "a5_agg_suite", "pipeline_ingest_e2e"):
        time_noop(REGISTRY[name][0], spark, SF_DIR)

    idle_wait = wait_for_idle_window(IDLE_WAIT_BUDGET_SEC)
    if not idle_wait["went_idle"]:
        print("# idle-wait budget exhausted (box never quieted) — proceeding under load",
              file=sys.stderr)
    timed = timing_pass(spark)
    timings, sampling, load_detail = timed["timings"], timed["sampling"], timed["load"]
    load_detail["idle_waits"] = [idle_wait]
    box_idle, load_reasons = load_detail["box_idle"], load_detail["non_idle_reasons"]
    total = round(sum(timings.values()), 3)

    # Ingest throughput (rows/sec through decode->validate->sample->dedup->
    # row-construction) — the figure comparable to BASELINE.md's
    # messages/minute targets.
    from drive_health_etl_spark.sources.tables import load_table

    n_events = load_table(spark, SF_DIR, "events").count()
    ingest_rows_per_sec = round(n_events / timings["pipeline_ingest_e2e"], 1)

    # ANN quality: recall@3 of each approximate index vs the brute-force
    # ground truth (per-query overlap of neighbor sets, averaged). A fast
    # ANN that misses the true neighbors is not "done" — recall is the
    # second axis of the benchmark. Correctness, not timing: one untimed
    # pass.
    truth = {
        (r["query_id"], r["neighbor_id"])
        for r in REGISTRY["sim_cosine_topk"][0](spark, SF_DIR)
        .filter("rnk <= 3")
        .collect()
    }
    ann_recall: dict[str, float] = {}
    for ann in (
        "sim_ann_lsh",
        "sim_ann_lsh_multiprobe",
        "sim_ann_lsh_multitable",
        "sim_ann_ivf",
        "sim_ann_binary",
    ):
        got = {
            (r["query_id"], r["neighbor_id"])
            for r in REGISTRY[ann][0](spark, SF_DIR).collect()
        }
        ann_recall[ann] = round(len(got & truth) / len(truth), 3) if truth else 1.0

    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf

    # Full detail → file (unbounded size is fine on disk); compact summary →
    # stdout (bounded, so the driver's tail capture can never truncate it).
    detail = {
        "metric": "headline_query_wall_time",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf_val,
        "cpus": CPUS,
        "ingest_rows_per_sec": ingest_rows_per_sec,
        "sampling": sampling,
        "load": load_detail,
        "ann_recall_at_3": ann_recall,
        "ann_production_tier": "sim_ann_lsh_multitable",
        "ann_tiers": {
            "sim_ann_lsh": "ablation (single probe, single table)",
            "sim_ann_lsh_multiprobe": "ablation (multiprobe, single table)",
            "sim_ann_lsh_multitable": "production (multiprobe, multitable)",
            "sim_ann_ivf": "production (IVF-flat, trained centroids)",
            "sim_ann_binary": "production (1-bit sign sketch, Hamming prefilter + exact rerank)",
        },
    }
    # Fold the committed cross-round A/B (tools/ab_probe.py) into the
    # detail artifact so the drift-vs-host-variance methodology and its
    # verdict travel with every bench file (VERDICT r10 item 1).
    ab_path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "ABCHECK.json")
    if os.path.exists(ab_path):
        try:
            with open(ab_path) as f:
                detail["cross_round_ab"] = json.load(f)
        except (OSError, json.JSONDecodeError):
            pass
    # Per-cpu-config detail filename (round-12: VERDICT r11 item 2 — the
    # driver's 8-core scaling run overwrote the 32-core run's detail file,
    # destroying the primary per-query evidence). The unsuffixed path is
    # still written as a compatibility copy (tools read it); the suffixed
    # file is the evidence that survives a multi-config driver run.
    base_dir = os.path.dirname(os.path.abspath(__file__))
    detail_name = f"BENCH_DETAIL.c{CPUS}.json"
    for path in (os.path.join(base_dir, detail_name),
                 os.path.join(base_dir, "BENCH_DETAIL.json")):
        with open(path, "w") as f:
            json.dump(detail, f, indent=1, sort_keys=True)

    top = dict(sorted(timings.items(), key=lambda kv: -kv[1])[:10])
    summary = {
        "metric": "headline_query_wall_time",
        "value": total,
        "unit": "sec",
        "sf": sf_val,
        "cpus": CPUS,
        "n_queries": len(timings),
        "ingest_rows_per_sec": ingest_rows_per_sec,
        "recall_at_3": ann_recall.get("sim_ann_lsh_multitable"),
        "production_ann_tier": "sim_ann_lsh_multitable",
        "box_idle": box_idle,
        "queries": top,
        "detail": detail_name,
    }
    if not box_idle:
        summary["load_warning"] = "; ".join(load_reasons)[:120]
    # Keep the stdout line under the driver's tail-capture budget by
    # shrinking the top-queries map — never abort after all timing work is
    # done (the full map is always in BENCH_DETAIL.json anyway).
    line = json.dumps(summary)
    while len(line) >= 1024 and summary["queries"]:
        summary["queries"].pop(next(reversed(summary["queries"])))
        line = json.dumps(summary)
    print(line)


if __name__ == "__main__":
    main()
