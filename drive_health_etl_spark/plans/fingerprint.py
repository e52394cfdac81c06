"""Physical-plan fingerprints: the join-strategy / shuffle-count signature of
a query, cheap enough to compute at bench time and stable enough to pin in a
regression test. A silently demoted broadcast (BroadcastHashJoin ->
SortMergeJoin after a threshold change) or a new shuffle shows up as a
fingerprint diff and fails loudly — not as an unexplained timing blip
(VERDICT r2 item 7).

The fingerprint counts marker substrings in the executed-plan string (the
AQE initial plan when adaptive is on — deterministic for a fixed Spark
version and query, which is exactly what a regression guard needs).
"""

from __future__ import annotations

# Shuffle exchanges are counted separately from broadcast exchanges: the
# former are the scale-relevant events, the latter are the cheap dim ships.
_SHUFFLE_MARKS = (
    "Exchange hashpartitioning",
    "Exchange rangepartitioning",
    "Exchange SinglePartition",
    "Exchange RoundRobinPartitioning",
)
_JOIN_MARKS = (
    "BroadcastHashJoin",
    "SortMergeJoin",
    "ShuffledHashJoin",
    "BroadcastNestedLoopJoin",
    "CartesianProduct",
)


_HEADERS = ("== Final Plan ==", "== Current Plan ==", "== Initial Plan ==")


def _kids_prefix(line: str, indent: int) -> str:
    """The prefix every descendant of tree line ``line`` starts with: the
    connectors before its marker, then ":  " if it has later siblings
    (marker ":-") else "   ". A section root has no marker; its children
    put theirs at its column."""
    if line.startswith(":- ", indent):
        return line[:indent] + ":  "
    if line.startswith("+- ", indent):
        return line[:indent] + "   "
    return line[:indent]


def _continues(kids: str, line: str, indent: int) -> bool:
    """Whether ``line`` (marker at ``indent``) continues the tree whose last
    line has descendant prefix ``kids``: a descendant of that line, or a
    later sibling of it or of an ancestor — which Spark renders only where
    the connector at the marker's column is ":"."""
    if not line.startswith(("+- ", ":- "), indent):
        return False
    if indent >= len(kids):
        return line.startswith(kids)
    return line[:indent] == kids[:indent] and kids[indent] == ":"


def _live_plan(plan: str) -> str:
    """Drop every InMemoryRelation subtree from the plan string. The cached
    build plan embedded under an InMemoryRelation never re-executes, and its
    text depends on WHICH query materialized the shared cache entry first
    (Spark's CacheManager keys on plan equality) — counting it made
    fingerprints order-dependent (observed 12 vs 24 shuffles for
    dedup_minhash_pairs depending on sibling-test order). Subtree extent is
    the structural indentation of the tree rendering.

    r12: a MATERIALIZED cached relation renders its build as
    "AdaptiveSparkPlan isFinalPlan=true" followed by "== Final Plan ==" /
    "== Initial Plan ==" sections whose trees restart at the header's
    depth, dropping the enclosing indent: inside a cached relation built
    from another cached relation (dedup_prefix_join's prefix_pre over
    sh_sets) the inner sections DEDENT below the cache boundary. A fresh,
    unexecuted outer plan is isFinalPlan=false and never renders these
    headers, so inside a skip each header opens a section whose tree is
    followed line by line (``_continues``); the section ends at the first
    line that does not continue it. Live siblings that follow a dedented
    section resume even when they sit deeper than its header."""
    out: list[str] = []
    skip_indent = -1
    sections: list[list] = []  # [header indent, header, kids prefix or None]
    for line in plan.splitlines():
        # structural depth = the " "/":" prefix before the "+-"/":-" marker
        # (codegen "*(n)" tags live AFTER the marker, so they don't shift it)
        indent = len(line) - len(line.lstrip(" :"))
        if skip_indent >= 0:
            header = next((h for h in _HEADERS if h in line), None)
            if header is not None:
                if header == "== Initial Plan ==":
                    # closes its AQE's first section at this depth, and
                    # every section still open inside that one
                    while sections and not (
                            sections[-1][0] == indent and sections[-1][1] != header):
                        sections.pop()
                    if sections:
                        sections.pop()
                sections.append([indent, header, None])
                continue
            while sections and sections[-1][2] is not None and not _continues(
                    sections[-1][2], line, indent):
                sections.pop()
            if sections:
                sections[-1][2] = _kids_prefix(line, indent)
                continue
            if indent > skip_indent:
                continue
            skip_indent = -1
        if "InMemoryRelation" in line:
            skip_indent = indent
            continue
        if "InMemoryTableScan" in line:
            # the scan itself is live, but everything rendered UNDER it is
            # the cached build plan (executedPlan().toString() inlines it
            # directly beneath the scan when the cache was materialized by
            # an AQE query — no InMemoryRelation line in that rendering;
            # round 11: text_bigram_logprob counted 6 dead shuffles)
            out.append(line)
            skip_indent = indent
            continue
        out.append(line)
    return "\n".join(out)


def plan_fingerprint(df) -> dict[str, int]:
    """Counts of shuffle exchanges, broadcast exchanges, and each join
    strategy in ``df``'s LIVE physical plan (cached subtrees excluded,
    zero-count keys omitted)."""
    plan = _live_plan(df._jdf.queryExecution().executedPlan().toString())
    fp: dict[str, int] = {}
    shuffles = sum(plan.count(m) for m in _SHUFFLE_MARKS)
    if shuffles:
        fp["shuffle_exchange"] = shuffles
    n = plan.count("BroadcastExchange")
    if n:
        fp["broadcast_exchange"] = n
    for m in _JOIN_MARKS:
        n = plan.count(m)
        if n:
            fp[m] = n
    return fp
