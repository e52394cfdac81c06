"""Interleaved same-session A/B between two repo checkouts (VERDICT r10
"What's wrong" #1 / next-round item 1).

Round 10's driver bench read +3.8% vs round 9 spread thinly across ~100
untouched queries. Every available signal said host variance (plan pins
unchanged, the touched queries all got FASTER, r10 was the first
box_idle=true file) — but r9 and r10 were measured under DIFFERENT gating
regimes (3-attempt busy minima vs 1 idle attempt), so the two committed
files cannot settle it. This tool removes every between-run variable:

- ONE Spark session (one JVM, one box window) runs BOTH code versions;
- the two checkouts' ``drive_health_etl_spark`` packages are swapped in
  and out of ``sys.modules`` with per-variant snapshots, so each
  variant's one dataset cache (``fitcache._CACHE``) survives across pairs
  (both variants are measured WARM, the bench's steady state — a
  delete-and-reimport swap would re-fit every pair and measure cold cost
  instead);
- runs are interleaved in alternating order (A,B / B,A / A,B ...) so a
  monotone host drift cancels out of the pairwise deltas instead of
  biasing one variant;
- the probed queries are the top r9->r10 risers PLUS stable controls: if
  risers and controls show the same delta distribution, the drift is the
  box, not the code.

All six probed queries are native-DataFrame plans (no Python-UDF row
path), so the swap never has to reach executor workers — the only Python
that differs per variant runs in the driver while building the plan.

Writes ABCHECK.json (bench.py folds it into BENCH_DETAIL.json's
``cross_round_ab`` so the methodology travels with the bench artifact).

Run: python tools/ab_probe.py --ref <commit> [--pairs N]
Requires: a worktree of <ref> (created automatically under /tmp), and
``drive_health_etl_spark/session.py`` identical at <ref> and HEAD — both
variants run in one session built by HEAD's ``get_spark``, so the tool
exits when that file differs.
"""

from __future__ import annotations

import importlib
import json
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from bench import load_window, time_noop, wait_for_idle_window  # noqa: E402

PKG = "drive_health_etl_spark"
SESSION_PY = f"{PKG}/session.py"
N_PAIRS = 5

# top r9->r10 risers (judge's diff of BENCH_DETAIL r9 vs r10)
RISERS = ["graph_hits", "sdp_daily_rollup", "dedup_exactsubstr_spans"]
# stable controls spanning scan-agg / join / similarity shapes
CONTROLS = ["q1_pricing_summary", "a1_group_count", "sim_cosine_topk"]
QUERIES = RISERS + CONTROLS


class Variant:
    def __init__(self, name: str, path: str):
        self.name = name
        self.path = path
        self.modules: dict | None = None  # saved sys.modules snapshot
        self.registry = None


_ACTIVE: list = [None]


def activate(v: Variant, all_variants: list[Variant]):
    """Swap v's package modules into sys.modules (snapshot-preserving)."""
    if _ACTIVE[0] is v:
        return v.registry
    cur = {
        m: mod for m, mod in sys.modules.items()
        if m == PKG or m.startswith(PKG + ".")
    }
    if _ACTIVE[0] is not None:
        _ACTIVE[0].modules = cur
    for m in cur:
        del sys.modules[m]
    for other in all_variants:
        while other.path in sys.path:
            sys.path.remove(other.path)
    sys.path.insert(0, v.path)
    if v.modules is not None:
        sys.modules.update(v.modules)
    reg_mod = importlib.import_module(PKG + ".plans.registry")
    v.registry = reg_mod.REGISTRY
    _ACTIVE[0] = v
    return v.registry


def ensure_worktree(ref: str) -> str:
    path = f"/tmp/ab_{ref}"
    if not os.path.isdir(os.path.join(path, PKG)):
        subprocess.run(
            ["git", "-C", ROOT, "worktree", "add", "--detach", path, ref],
            check=True,
        )
    return path


def main() -> None:
    argv = sys.argv[1:]
    ref, pairs = None, N_PAIRS
    global RISERS, CONTROLS, QUERIES
    while argv:
        a = argv.pop(0)
        if a == "--ref":
            ref = argv.pop(0)
        elif a == "--pairs":
            pairs = int(argv.pop(0))
        elif a == "--risers":  # round-12: probe list set per investigation
            RISERS = argv.pop(0).split(",")
        elif a == "--controls":
            CONTROLS = argv.pop(0).split(",")
        else:
            sys.exit(f"unknown arg {a}")
    QUERIES = RISERS + CONTROLS
    if ref is None:
        sys.exit("usage: ab_probe.py --ref <commit> [--pairs N] "
                 "[--risers q,...] [--controls q,...]")
    if subprocess.run(["git", "-C", ROOT, "diff", "--quiet", ref, "HEAD", "--", SESSION_PY]
                      ).returncode != 0:
        sys.exit(f"{SESSION_PY} differs between {ref} and HEAD (or {ref} is not a "
                 "commit): both variants would run under HEAD's get_spark confs, "
                 "so the A/B would not be neutral")

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    old_path = ensure_worktree(ref)
    v_old = Variant(f"old@{ref}", old_path)
    v_new = Variant("HEAD", ROOT)
    variants = [v_old, v_new]

    idle = wait_for_idle_window(300.0)
    print(f"[ab] idle wait: {idle['went_idle']} after {idle['waited_sec']}s")

    # session from the CURRENT repo's helper; the session.py check above
    # makes it the helper of both refs, so neither variant is favored
    from drive_health_etl_spark.session import get_spark

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark("ab-probe", cpus=cpus)
    spark.sparkContext.setLogLevel("ERROR")

    # warm-up leg per variant: builds each variant's fit caches so every
    # TIMED pair measures the bench's warm steady state
    for v in variants:
        reg = activate(v, variants)
        for q in QUERIES:
            time_noop(reg[q][0], spark, sf_dir)
    print("[ab] warm-up done")

    results: dict[str, dict[str, list[float]]] = {
        q: {v.name: [] for v in variants} for q in QUERIES
    }
    with load_window() as shares:
        for i in range(pairs):
            order = variants if i % 2 == 0 else variants[::-1]
            for v in order:
                reg = activate(v, variants)
                for q in QUERIES:
                    results[q][v.name].append(time_noop(reg[q][0], spark, sf_dir))
            a, b = variants
            print(f"[ab] pair {i + 1}/{pairs}: " + ", ".join(
                f"{q} {results[q][a.name][-1]:.2f}/{results[q][b.name][-1]:.2f}"
                for q in QUERIES))

    per_query = {}
    for q in QUERIES:
        told = results[q][v_old.name]
        tnew = results[q][v_new.name]
        deltas = [n - o for n, o in zip(tnew, told)]
        mean_old = statistics.mean(told)
        mean_d = statistics.mean(deltas)
        spread = statistics.stdev(deltas) if len(deltas) > 1 else 0.0
        per_query[q] = {
            "role": "riser" if q in RISERS else "control",
            "t_old": [round(t, 3) for t in told],
            "t_new": [round(t, 3) for t in tnew],
            "mean_delta_sec": round(mean_d, 3),
            "mean_delta_pct": round(100 * mean_d / mean_old, 1),
            "pair_spread_sec": round(spread, 3),
            "within_spread": abs(mean_d) <= 2 * spread,
        }

    out = {
        "purpose": (
            "interleaved same-session A/B over the probed risers + stable "
            "controls: one JVM, "
            "alternating order, both variants warm — deltas here contain "
            "no between-run host window"
        ),
        "ref_old": ref,
        "ref_new": subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "--short", "HEAD"],
            capture_output=True, text=True).stdout.strip(),
        "sf_dir": sf_dir,
        "pairs": pairs,
        "idle_wait": {k: idle[k] for k in ("went_idle", "waited_sec")},
        "external_cpu_share_over_run": shares.get("external_cpu_share"),
        "queries": per_query,
    }
    n_signal = sum(
        1 for q in per_query.values()
        if not q["within_spread"] and abs(q["mean_delta_pct"]) > 5
    )
    out["verdict"] = (
        "host variance: every riser's mean delta sits within the "
        "interleaved pair spread" if n_signal == 0 else
        f"{n_signal} queries show a real repeatable delta — investigate"
    )
    with open(os.path.join(ROOT, "ABCHECK.json"), "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
    print(json.dumps({k: out[k] for k in ("verdict", "pairs")},
                     sort_keys=True))
    for q, r in per_query.items():
        print(f"  {q:28s} {r['role']:7s} mean_delta {r['mean_delta_sec']:+.3f}s "
              f"({r['mean_delta_pct']:+.1f}%) spread {r['pair_spread_sec']:.3f}s "
              f"within={r['within_spread']}")


if __name__ == "__main__":
    main()
