"""Measure how each headline query's wall time scales with data volume.

Runs a representative query set at sf0.001 / sf0.01 / sf0.1 (100x data
across the range) and reports the log-log slope of time vs scale factor
over the top decade (0.01 -> 0.1, where fixed per-query costs stop
dominating). slope <= ~1 means linear-or-better scaling — the property
that survives a 100x cluster scale-up; slope >> 1 flags a super-linear
term (quadratic join, unfenced expansion).

Fail-safe contract (round-6 postmortem: a crashed sf1 re-run overwrote 34
healthy measured rows with PROBE-ERROR rows and the snapshot commit shipped
the vandalized table):

- A probe error for query X CARRIES X's previous committed row (annotated
  with the failed-attempt date) instead of replacing it with garbage.
- A dead Spark session is recycled once; if a healthy session cannot be
  re-established, the regeneration ABORTS WITHOUT WRITING the file.
- The deep (sf1) loop recycles the session every RECYCLE_EVERY probes —
  the r6 crash was accumulated JVM state across 36 back-to-back sf1 probes
  in one session (~118k objects at death).
- `--deep-only name...` re-probes only the named deep queries and carries
  every other row verbatim from the committed table (no annotation — they
  remain real prior measurements).

Writes SCALING.md. Run: python tools/scale_probe.py [--deep-only q1 q2 ...]
"""

from __future__ import annotations

import datetime
import math
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import load_window, time_noop, window_flagged  # noqa: E402  (repo root)

SFS = [("0.001", "/root/testdata/sf0.001"), ("0.01", "/root/testdata/sf0.01"), ("0.1", "/root/testdata/sf0.1")]

# Breadth across operator families: scan-agg, joins, windows, dedup/LSH,
# text, similarity, featurization, graph, sessionization, range join.
PROBES = [
    "q1_pricing_summary",
    "graph_hits",
    "dedup_prefix_join",
    "sess_survival_km",
    "stat_sprt_ab",
    "corpus_temperature_mix",
    "multimodal_ulaw_stats",
    "text_trigram_kn_logprob",
    "graph_kcore",
    "sim_ann_binary",
    "multimodal_qoi_stats",
    "retrieval_rrf_fusion",
    "a1_group_count",
    "j1_inner_equi",
    "j6_star_join",
    "j5b_binned_range_join",
    "w1_first_write_wins",
    "w4_running_sum",
    "st8_session_window",
    "dedup_exact",
    # NOT dedup_minhash_pairs: its per-session subtree cache would make the
    # probe measure cache lookup, not the operator
    "sim_ann_lsh_multitable",
    "dedup_simhash",
    "text_bpe_token_count",
    "text_quality",
    "text_bm25",
    "sim_cosine_topk",
    "feat_hashing_tf",
    "sess_stats",
    "basket_part_pairs",
    "graph_triangles",
    "corpus_pack_sequences",
    "j7_bloom_prefilter_join",
    "j8_skew_salted_join",
    "w11_interval_concurrency",
    "cdc_apply_changelog",
    "retrieval_eval_ndcg",
    "emb_gram_topk",
    "asof_next_within",
    "stat_chi2_independence",
    "stat_mann_whitney",
    "stat_ols_trend",
    "sketch_cms_estimate",
    "graph_bfs_distances",
    "multimodal_phash_neardup",
    "multimodal_audio_match",
    "multimodal_video_scenecut",
    "dedup_containment",
    "feat_target_encoding",
    "sess_attribution",
    "lake_merge",
    "stat_ks_test",
    "stat_anova_oneway",
    "text_keyphrases_rake",
    "text_readability",
    "sim_mmr_rerank",
    "w13_interpolate_linear",
    "sess_journey_paths",
    # The top-cost bench queries (VERDICT r2 item 4). The ANN/PQ family
    # measures WARM-fit cost (centroid/codebook caches are per-sf_dir, so
    # the probe captures the recurring encode+search work, not the one-time
    # Lloyd fit); pagerank/BPE retrain per call, so their probe is the full
    # iterative cost. dedup_lsh_scurve reuses the warm minhash subtree like
    # every post-startup call does.
    "graph_pagerank",
    "sim_ann_ivfpq",
    "sim_ann_pq_adc",
    "emb_pq_stats",
    "text_bpe_train",
    "text_bpe_encode",
    "layout_hilbert_stats",
    "dedup_lsh_scurve",
    "multimodal_png_stats",
    "multimodal_jpeg_stats",
    "multimodal_jpeg420_stats",
    "quality_lr_eval",
    "emb_triplet_mining",
    "text_char_entropy",
    "corpus_dsir_select",
    "quality_ft_eval",
    "dedup_substring_ladder",
    "corpus_novelty",
    "quality_ft_calibration",
    "quality_ft_histcal",
    "text_zipf_fit",
    "dedup_suffix_doubling",
    "dedup_cdc_chunks",
    "corpus_weighted_sample",
    "quality_ppx_gate",
    # Round 8, second session: Ed-Join exact edit-distance join, BH-FDR,
    # DP counts, WOE/IV, SAX motifs.
    "dedup_edit_join",
    "stat_bh_fdr",
    "dq_dp_counts",
    "feat_woe_iv",
    "ts_sax_motifs",
    "stat_cuped",
    "stat_did",
    "graph_adamic_adar",
    "stat_srm_check",
    # Round 9: suffix-rank bisection (unbounded-k longest cross-doc repeat)
    # + the ExactSubstr removal pass (full corpus rewrite)
    "dedup_suffix_lcs",
    "dedup_exactsubstr_clean",
]


# Second-decade probes: the most expensive bench queries, additionally run
# at sf1 (a key-shifted 10x replication of sf0.1 — tools/make_scale_slice.py)
# so the slope table covers TWO decades (sf0.01 -> sf0.1 -> sf1) where fixed
# per-query costs are fully amortized.
DEEP_PROBES = [
    "graph_pagerank",
    "text_bpe_train",
    "text_bpe_encode",
    "layout_hilbert_stats",
    "dedup_lsh_scurve",
    "q1_pricing_summary",
    "basket_part_pairs",
    # SemDeDup is probed in its PRODUCTION configuration (k ~ n/256, cells
    # constant size -> linear pair work). The registry's `dedup_semantic`
    # pins k=16 because its unrolled-Lloyd-CTE oracle needs a static
    # centroid count; with k fixed, in-cell pairs grow n^2/k BY DESIGN
    # (measured slope 1.19 at sf1) — that is the algorithm's documented
    # fixed-k behavior, not an engine defect, and the k ∝ n variant is
    # what a 100 TB run uses (measured slope 0.32).
    "dedup_semantic_scaled",
    "sim_ann_ivfpq",
    "sim_ann_lsh_multitable",
    "text_bigram_logprob",
    "dq_reconcile_orders",
    "pipeline_ingest_e2e",
    # Round-4 operators (VERDICT r5 item 1): second-decade evidence for the
    # newest families — prefix-filter join (the steepest first-decade slope),
    # the KN trigram LM, ExactSubstr span dedup, iterative graph (HITS,
    # k-core), binary-sketch ANN, RRF fusion, temperature mixing, KM
    # survival, and three codecs (FLAC, GIF LZW, mu-law).
    "dedup_prefix_join",
    "text_trigram_kn_logprob",
    "dedup_exactsubstr_spans",
    "graph_hits",
    "graph_kcore",
    "sim_ann_binary",
    "retrieval_rrf_fusion",
    "corpus_temperature_mix",
    "sess_survival_km",
    "multimodal_flac_stats",
    "multimodal_gif_stats",
    "multimodal_ulaw_stats",
    # Round 6: the heaviest remaining bench queries without an sf1 row —
    # joins (star, binned range), measured ANN quality grids, recursive
    # SQL, token stats, MJPEG decode, and the new inter-frame P-frame
    # decode. (dedup_semantic stays EXCLUDED on purpose: its oracle pins
    # k=16, making in-cell pairs n^2/k by design — dedup_semantic_scaled
    # above is the production k ~ n shape and is what the slope grades.)
    "j6_star_join",
    "corpus_source_overlap",
    "sim_binary_quality",
    "j5b_binned_range_join",
    # NOT sql_recursive_cte: at sf1 its recursion exceeds Spark's
    # RECURSION_ROW_LIMIT guardrail (1M rows) — the rCTE is a SQL-surface
    # demo whose frontier scales with data; a production use sets an
    # explicit LIMIT on the CTE relation.
    "feat_tfidf_top_terms",
    "text_repetition",
    "sim_mmr_rerank",
    "dedup_keep_best",
    "multimodal_mjpeg_stats",
    "multimodal_mjpeg_p_stats",
    "text_char_entropy",
    "corpus_dsir_select",
    # Round 7: the two new families — hashed-ngram NB classifier and the
    # multi-resolution shared-substring profile (the char-explode is the
    # heaviest scan shape in the repo; its sf1 slope is the row to watch).
    "quality_ft_eval",
    "dedup_substring_ladder",
    "corpus_novelty",
    "quality_ft_calibration",
    "quality_ft_histcal",
    "text_zipf_fit",
    "dedup_suffix_doubling",
    "dedup_cdc_chunks",
    "corpus_weighted_sample",
    "quality_ppx_gate",
    # Round 8, second session: the gram explode + prefix window make the
    # edit join the batch's heaviest scan shape; the other four are
    # enum-bounded aggregates whose sf1 rows are cheap insurance.
    "dedup_edit_join",
    "stat_bh_fdr",
    "dq_dp_counts",
    "feat_woe_iv",
    "ts_sax_motifs",
    "stat_cuped",
    "stat_did",
    "graph_adamic_adar",
    "stat_srm_check",
    # Round 9: suffix-rank bisection (unbounded-k longest cross-doc repeat)
    # + the ExactSubstr removal pass (full corpus rewrite)
    "dedup_suffix_lcs",
    "dedup_exactsubstr_clean",
    # Round 10: SemDeDup's prune half, probed in its PRODUCTION shape
    # (k ~ n/256 like dedup_semantic_scaled above; the registry's
    # dedup_semantic_prune pins k=16 for its static-CTE oracle, so its
    # in-cell pairs grow n^2/k by design — this is the 100 TB row)
    "dedup_semantic_prune_scaled",
]

SF1_DIR = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".scale", "sf1")

# Recycle the Spark session every N sf1 probes. The r6 crash happened after
# ~118k JVM objects accumulated across 36 back-to-back deep probes in one
# session; per-application caches (keyed by applicationId) re-fit cleanly in
# the fresh session.
RECYCLE_EVERY = 6
# The first-decade loop needs recycling too: ~80 probes x 9 executions
# accumulate ~30k tasks, and a round-7 run OOM'd an 8g driver right at the
# end of that loop in a single session. 15 probes ~ 135 executions/session.
RECYCLE_EVERY_FIRST = 15

DEEP_HEADER = "## Second decade: sf0.01 -> sf0.1 -> sf1"
DEEP_TABLE_HEAD = (
    "| query | t@sf0.01 | t@sf0.1 | t@sf1 | slope (top decade) | verdict | load |"
)
# Prefix shared by the current head and the pre-load-column format, so a
# regeneration over an old committed file still finds (and carries) rows.
_DEEP_TABLE_HEAD_PREFIX = "| query | t@sf0.01 |"
DEEP_N_CELLS = 7

_ROW_RE = re.compile(r"^\|\s*(?P<name>[A-Za-z0-9_]+)\s*\|")


# ---------------------------------------------------------------------------
# Pure merge logic (unit-tested without Spark: tests/test_scale_probe.py)


_FIRST_TABLE_HEAD_PREFIX = "| query | t@sf0.001 |"


def parse_first_rows(md_text: str) -> dict[str, str]:
    """Extract the FIRST-decade table's good rows as {query: row_line} —
    the carry source for `--first-only` (same drop-PROBE-ERROR policy as
    the deep parser). The table ends at the second-decade header."""
    head = md_text.split(DEEP_HEADER, 1)[0]
    rows: dict[str, str] = {}
    in_table = False
    for line in head.splitlines():
        if line.startswith(_FIRST_TABLE_HEAD_PREFIX):
            in_table = True
            continue
        if in_table:
            if not line.startswith("|"):
                if line.strip():
                    break
                continue
            if line.startswith("|---"):
                continue
            name = line.split("|")[1].strip()
            if name and "PROBE-ERROR" not in line:
                rows[name] = line.rstrip()
    return rows


def parse_deep_rows(md_text: str) -> dict[str, str]:
    """Extract the second-decade table's GOOD rows as {query: row_line}.

    PROBE-ERROR rows are dropped — they are never worth carrying; a prior
    healthy measurement is. Returns {} if the section/table is absent.
    """
    if DEEP_HEADER not in md_text:
        return {}
    section = md_text.split(DEEP_HEADER, 1)[1]
    rows: dict[str, str] = {}
    in_table = False
    for line in section.splitlines():
        if line.startswith(_DEEP_TABLE_HEAD_PREFIX):
            in_table = True
            continue
        if in_table:
            if not line.startswith("|"):
                if line.strip():
                    break  # table ended
                continue
            if line.startswith("|---"):
                continue
            m = _ROW_RE.match(line)
            if m and "PROBE-ERROR" not in line:
                rows[m.group("name")] = line.rstrip()
    return rows


def _sanitize_err(err: str) -> str:
    """Make an exception string safe to embed in a markdown table row /
    HTML comment: Spark/py4j messages routinely contain newlines (which
    would break the row) and '|' (which would add phantom cells) within
    the first 60 chars."""
    return " ".join(str(err).split()).replace("|", "/").replace("-->", "-- >")


def probe_load_cell(shares: dict[str, float] | None) -> str:
    """Format one probe window's machine-load verdict as a table cell
    (round-9: VERDICT r8 item 2 — the r8 substring-ladder row read 17.47s
    vs 12.85s measured mid-window and the file couldn't say which number
    was the engine; every row now self-annotates like bench rows do).
    Loadavg is polluted by the probe's own Spark tasks, so the verdict is
    bench.window_flagged over the probe's own window: "idle" exactly when
    it flags nothing, "-" when the window has no load signal."""
    if not shares:
        return "-"
    flags = window_flagged(shares)
    if not flags:
        return "idle"
    cell = f"ext {shares['external_cpu_share']:.0%}, io {shares['iowait_share']:.0%}"
    if any(f.startswith("steal") for f in flags):
        # hypervisor contention: the box itself ran slow — a different
        # invalidation than a competing local process
        cell += f", steal {shares['steal_share']:.0%}"
    return cell


def pad_row_cells(row: str, want_cells: int = DEEP_N_CELLS) -> str:
    """Pad a carried prior-format table row (pre-load-column files have one
    cell fewer) with '-' cells so the table stays rectangular. Comments
    after the closing pipe are preserved."""
    body, sep, comment = row.partition("<!--")
    body = body.rstrip()
    n_cells = body.count("|") - 1
    if n_cells < want_cells:
        body += " - |" * (want_cells - n_cells)
    return body + ((" " + sep + comment) if sep else "")


def merge_deep_row(name: str, fresh_row: str | None, err: str | None,
                   prev_rows: dict[str, str], today: str) -> str:
    """Decide the emitted row for one deep probe. INVARIANT: an errored
    probe can never replace a previously good row — it carries it, stamped
    with the failed-attempt date (prior carried annotations are replaced,
    not accumulated)."""
    if fresh_row is not None:
        return fresh_row
    prev = prev_rows.get(name)
    if prev is not None:
        if err is None:
            return pad_row_cells(prev)  # --deep-only skip: carry verbatim
        # strip any prior carried annotation so consecutive failed runs
        # don't grow the row without bound
        prev = pad_row_cells(prev.split("<!--", 1)[0].rstrip())
        return prev + f" <!-- carried: probe errored {today}: {_sanitize_err(err)[:60]} -->"
    reason = _sanitize_err(err) if err else "skipped, no prior row"
    return f"| {name} | - | - | - | - | PROBE-ERROR: {reason[:80]} | - |"


# ---------------------------------------------------------------------------
# Spark-side probing


def _probe_fn(name: str):
    from drive_health_etl_spark.plans.registry import REGISTRY

    if name == "dedup_semantic_scaled":
        from drive_health_etl_spark.operators.similarity import dedup_semantic_scaled

        return dedup_semantic_scaled
    if name == "dedup_semantic_prune_scaled":
        from drive_health_etl_spark.operators.similarity import (
            dedup_semantic_prune_scaled,
        )

        return dedup_semantic_prune_scaled
    return REGISTRY[name][0]


COLD_WALLS: dict[tuple[str, str], float] = {}  # (name, sf_dir) -> first-call wall


def _run(spark, name: str, sf_dir: str) -> float:
    """One cold call (recorded in COLD_WALLS), then the min of 2 warm calls."""
    fn = _probe_fn(name)
    COLD_WALLS[(name, sf_dir)] = time_noop(fn, spark, sf_dir)
    return min(time_noop(fn, spark, sf_dir) for _ in range(2))


def _fresh_session(cpus: int):
    from drive_health_etl_spark.operators import fitcache
    from drive_health_etl_spark.session import get_spark

    # drop the dataset cache so a recycled session doesn't pin py4j
    # references (and therefore JVM objects) of dead SparkContexts
    fitcache.clear()
    try:
        spark = get_spark("scale-probe", cpus=cpus)
        spark.sparkContext.setLogLevel("ERROR")
    except Exception as e:  # a dead py4j gateway can make creation itself
        # fail (e.g. Connection refused after a JVM OOM) — surface it as
        # the clean abort-without-write path, not a raw traceback
        raise SessionDead(f"could not create a Spark session: {e}") from e
    return spark


HEALTH_PROBE_TIMEOUT_S = 60


def _healthy(spark, timeout_s: float = HEALTH_PROBE_TIMEOUT_S) -> bool:
    """Probe the session with a trivial job under a watchdog: a
    wedged-but-alive JVM (GC thrash before an OOM) would otherwise hang
    the regeneration indefinitely instead of triggering the recycle path.
    The probe runs in a daemon thread; on timeout the thread is abandoned
    (the session is about to be stopped anyway) and the session is
    treated as unhealthy."""
    import threading

    result: list[bool] = []

    def probe() -> None:
        try:
            result.append(spark.range(1).count() == 1)
        except Exception:
            result.append(False)

    t = threading.Thread(target=probe, daemon=True)
    t.start()
    t.join(timeout_s)
    if t.is_alive():
        print(f"[scale_probe] health probe timed out after {timeout_s}s — treating session as dead",
              file=sys.stderr)
        return False
    return bool(result and result[0])


class SessionDead(RuntimeError):
    """A healthy Spark session could not be (re-)established — the caller
    must abort WITHOUT writing SCALING.md."""


def _ensure_session(spark, cpus: int):
    """Return a healthy session, recycling the given one if dead."""
    if _healthy(spark):
        return spark
    print("[scale_probe] WARNING: Spark session dead — recycling", file=sys.stderr)
    try:
        spark.stop()
    except Exception:
        pass
    spark = _fresh_session(cpus)
    if not _healthy(spark):
        raise SessionDead("could not re-establish a healthy Spark session")
    return spark


def main() -> None:
    argv = sys.argv[1:]
    deep_only: set[str] | None = None
    first_only: set[str] | None = None
    if argv and argv[0] == "--first-only":
        # Incremental mode for ADDING/refreshing a few first-decade rows:
        # probes only the named queries (plus their deep rows when listed
        # in DEEP_PROBES) and carries every other committed row verbatim —
        # the same fail-safe contract as --deep-only.
        first_only = set(argv[1:])
        unknown = first_only - set(PROBES)
        if unknown:
            sys.exit(f"--first-only names not in PROBES: {sorted(unknown)}")
        deep_only = first_only & set(DEEP_PROBES)
        if not os.path.isdir(SF1_DIR):
            # without sf1 the deep section would be silently dropped from
            # the rewrite — same abort-without-write contract as --deep-only
            sys.exit(f"--first-only requires {SF1_DIR} (run tools/make_scale_slice.py) "
                     "— aborting WITHOUT writing SCALING.md")
    elif argv and argv[0] == "--deep-only":
        deep_only = set(argv[1:])
        unknown = deep_only - set(DEEP_PROBES)
        if unknown:
            sys.exit(f"--deep-only names not in DEEP_PROBES: {sorted(unknown)}")
        if not os.path.isdir(SF1_DIR):
            # The mode's entire purpose is regenerating deep rows; writing
            # without the sf1 data would silently drop the whole committed
            # deep table (abort-without-write contract).
            sys.exit(f"--deep-only requires {SF1_DIR} (run tools/make_scale_slice.py) "
                     "— aborting WITHOUT writing SCALING.md")

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    md_path = os.path.join(root, "SCALING.md")
    old = ""
    if os.path.exists(md_path):
        with open(md_path) as f:
            old = f.read()
    prev_rows = parse_deep_rows(old)
    today = datetime.date.today().isoformat()

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = _fresh_session(cpus)

    rows = []
    first_rows_out: list[str] = []
    if deep_only is None or first_only is not None:
        prev_first = parse_first_rows(old)
        if first_only is not None and not prev_first:
            sys.exit("--first-only needs an existing SCALING.md first-decade table")
        n_probed = 0
        try:
            for name in PROBES:
                if first_only is not None and name not in first_only:
                    prev = prev_first.get(name)
                    if prev is not None:
                        first_rows_out.append(prev)
                    continue
                i = n_probed
                n_probed += 1
                if i and i % RECYCLE_EVERY_FIRST == 0:
                    print(f"[scale_probe] recycling session after {RECYCLE_EVERY_FIRST} probes")
                    try:
                        spark.stop()
                    except Exception:
                        pass
                    spark = _fresh_session(cpus)
                spark = _ensure_session(spark, cpus)
                try:
                    with load_window() as shares:
                        ts = {label: _run(spark, name, d) for label, d in SFS}
                except Exception:
                    if _healthy(spark):
                        raise  # genuine query failure: fail loud, nothing written
                    spark = _ensure_session(spark, cpus)  # SessionDead if hopeless
                    with load_window() as shares:
                        ts = {label: _run(spark, name, d) for label, d in SFS}
                load_cell = probe_load_cell(shares)
                # slope over the top decade: data grows 10x sf0.01 -> sf0.1
                slope = math.log10(ts["0.1"] / ts["0.01"]) if ts["0.01"] > 0 else float("nan")
                verdict = "linear-or-better" if slope <= 1.05 else "SUPER-LINEAR"
                rows.append((name, ts["0.001"], ts["0.01"], ts["0.1"], slope, verdict, load_cell))
                first_rows_out.append(
                    f"| {name} | {ts['0.001']:.2f}s | {ts['0.01']:.2f}s | "
                    f"{ts['0.1']:.2f}s | {slope:.2f} | {verdict} | {load_cell} |"
                )
                print(f"{name}: {ts['0.001']:.2f}/{ts['0.01']:.2f}/{ts['0.1']:.2f}s "
                      f"slope={slope:.2f} load={load_cell}")
            # fresh session for the sf1 phase: the first decade leaves ~30k
            # completed tasks of JVM state behind
            try:
                spark.stop()
            except Exception:
                pass
            spark = _fresh_session(cpus)
        except SessionDead as e:
            print(f"[scale_probe] ABORT: {e} — SCALING.md NOT written", file=sys.stderr)
            sys.exit(1)

        out = [
            "# SCALING — measured wall time vs data volume",
            "",
            "Generated by `tools/scale_probe.py` (min-of-2 warm runs per SF on "
            "local[32]). `slope` = log10(t_sf0.1 / t_sf0.01) over the 10x top "
            "decade: <= ~1.0 means the query's cost grows at most linearly with "
            "data — the shape that survives a 100x cluster scale-up. Small-SF "
            "times are dominated by fixed per-query costs (planning, task "
            "launch), which is why the slope uses only the top decade; values "
            "well below 1 mean the engine still isn't data-bound at sf0.1.",
            "",
            "The `load` column is the probe's own machine-load window "
            "(external-CPU/iowait share outside the probe's process tree, "
            "thresholds shared with bench.py): `idle` means the number was "
            "taken on a quiet box; anything else flags host contention in "
            "that row's window.",
            "",
            "| query | t@sf0.001 | t@sf0.01 | t@sf0.1 | slope | verdict | load |",
            "|---|---|---|---|---|---|---|",
        ]
        out += first_rows_out
    else:
        # carry the committed first-decade section verbatim
        if DEEP_HEADER not in old:
            sys.exit("--deep-only needs an existing SCALING.md with a second-decade section")
        out = old.split(DEEP_HEADER, 1)[0].rstrip("\n").splitlines()
    n_bad = (sum(1 for r in rows if r[5] == "SUPER-LINEAR")
             + sum(1 for line in first_rows_out
                   if "SUPER-LINEAR" in line
                   and not any(r[0] == line.split("|")[1].strip() for r in rows)))

    if os.path.isdir(SF1_DIR):
        out += [
            "",
            DEEP_HEADER,
            "",
            "sf1 is a key-shifted 10x replication of the driver's sf0.1"
            " (`tools/make_scale_slice.py`: FK-consistent key offsets;"
            " documents word-permuted and embeddings rotated per replica so"
            " near-dup/ANN candidate growth stays a data-linear property)."
            " `slope` here = log10(t_sf1 / t_sf0.1): the decade where fixed"
            " per-query costs are fully amortized — the closest local proxy"
            " for cluster-scale growth. `dedup_suffix_doubling`'s ~1.0 slope"
            " is its measured data-linear floor: constant hashes + one"
            " shuffled row per corpus position per rung, nothing amortizable"
            " (an array_distinct pre-shuffle cut was measured 2.2x slower"
            " and rejected — see the operator docstring).",
            "",
            DEEP_TABLE_HEAD,
            "|---|---|---|---|---|---|---|",
        ]
        base = {n: (b, c) for n, _a, b, c, _s, _v, _lc in rows}
        pj_warm_sf1 = None
        probes_since_recycle = 0
        try:
            for name in DEEP_PROBES:
                if deep_only is not None and name not in deep_only:
                    out.append(merge_deep_row(name, None, None, prev_rows, today))
                    continue
                if probes_since_recycle >= RECYCLE_EVERY:
                    print(f"[scale_probe] recycling session after {probes_since_recycle} sf1 probes")
                    try:
                        spark.stop()
                    except Exception:
                        pass
                    spark = _fresh_session(cpus)
                    probes_since_recycle = 0
                spark = _ensure_session(spark, cpus)
                fresh_row, err = None, None
                try:
                    with load_window() as shares:
                        if name in base:
                            t001, t01 = base[name]
                        else:
                            t001 = _run(spark, name, SFS[1][1])
                            t01 = _run(spark, name, SFS[2][1])
                        t1 = _run(spark, name, SF1_DIR)
                except Exception as e:
                    # One retry on a recycled session IF the session died —
                    # a genuine query failure on a healthy session is final.
                    if not _healthy(spark):
                        spark = _ensure_session(spark, cpus)  # raises SessionDead if hopeless
                        probes_since_recycle = 0
                        try:
                            with load_window() as shares:
                                if name not in base:
                                    t001 = _run(spark, name, SFS[1][1])
                                    t01 = _run(spark, name, SFS[2][1])
                                t1 = _run(spark, name, SF1_DIR)
                        except Exception as e2:
                            err = str(e2)
                    else:
                        err = str(e)
                probes_since_recycle += 1
                if err is None:
                    load_cell = probe_load_cell(shares)
                    if name == "dedup_prefix_join":
                        pj_warm_sf1 = t1
                    slope = math.log10(t1 / t01) if t01 > 0 else float("nan")
                    verdict = "linear-or-better" if slope <= 1.05 else "SUPER-LINEAR"
                    if verdict == "SUPER-LINEAR":
                        n_bad += 1
                    fresh_row = (
                        f"| {name} | {t001:.2f}s | {t01:.2f}s | {t1:.2f}s | {slope:.2f} "
                        f"| {verdict} | {load_cell} |"
                    )
                    print(f"[sf1] {name}: {t01:.2f} -> {t1:.2f}s slope={slope:.2f} load={load_cell}")
                else:
                    print(f"[sf1] {name}: PROBE-ERROR {err[:120]} "
                          f"({'carrying previous row' if name in prev_rows else 'no prior row'})")
                out.append(merge_deep_row(name, fresh_row, err, prev_rows, today))
        except SessionDead as e:
            print(f"[scale_probe] ABORT: {e} — SCALING.md NOT written", file=sys.stderr)
            sys.exit(1)

        pj_cold = COLD_WALLS.get(("dedup_prefix_join", SF1_DIR))
        if pj_cold is not None and pj_warm_sf1 is not None:
            out += [
                "",
                f"`dedup_prefix_join` cold/warm split at sf1: first call "
                f"{pj_cold:.1f}s, warm {pj_warm_sf1:.1f}s — the gap is the "
                "shared `_shingle_sets` subtree cache (tokenize + 3-gram "
                "shingle + persist), a per-(session, dataset) ONE-TIME fit "
                "amortized across every dedup-family query; the warm number "
                "is the recurring per-run cost a production pipeline pays, "
                "and it is what the slope column grades.",
            ]
        elif "cold/warm split at sf1" in old:
            # carry the committed cold/warm footnote when the probe that
            # produces it didn't run this invocation
            for line in old.splitlines():
                if "cold/warm split at sf1" in line:
                    out += ["", line]
                    break
    else:
        print(f"note: {SF1_DIR} missing — run tools/make_scale_slice.py for the second decade")

    # Preserve the streaming-scale section (tools/stream_scale_probe.py owns
    # the block between its markers).
    stream_block = ""
    b = "<!-- STREAM-SCALE:BEGIN -->"
    if b in old:
        # carry from the stream markers to EOF: hand-written analysis
        # sections may follow the marker block and must survive a rewrite
        # (round 11: the r10 per-batch fixed-cost breakdown was dropped by
        # the end-marker slice)
        stream_block = "\n" + old[old.index(b):].rstrip("\n") + "\n"
    with open(md_path, "w") as f:
        f.write("\n".join(out) + "\n" + stream_block)
    print(f"wrote SCALING.md ({len(rows)} probes, {n_bad} super-linear)")


if __name__ == "__main__":
    main()
