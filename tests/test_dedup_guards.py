"""Scale guards on the MinHash-LSH dedup path: the pathological all-identical
corpus (one LSH bucket holding everything) must stay bounded via BUCKET_CAP,
with the dropped tail observable through the bucket sizes."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from drive_health_etl_spark.operators import dedup, fitcache


def _bucket_stats(spark, sf_dir, cap):
    """LSH bucket count, largest bucket, and how many docs a cap of ``cap``
    drops from the buckets ``dedup_minhash_pairs`` expands."""
    buckets = dedup._lsh_buckets(dedup.minhash_signatures(spark, sf_dir))
    return buckets.agg(
        F.count("*").alias("n_buckets"),
        F.max(F.size("ids")).alias("max_bucket"),
        F.sum(F.greatest(F.size("ids") - cap, F.lit(0))).cast("long").alias("docs_dropped"),
    ).collect()[0]


@pytest.fixture()
def identical_corpus(spark, tmp_path):
    """3000 byte-identical documents -> every band hashes them into ONE
    bucket; uncapped pair expansion would be ~4.5M pairs per band."""
    text = "alpha beta gamma delta epsilon zeta eta theta"
    rows = [(i, text, "en", "synthetic", len(text)) for i in range(1, 3001)]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    df.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    return str(tmp_path)


def test_bucket_cap_bounds_pathological_corpus(spark, identical_corpus, monkeypatch):
    monkeypatch.setattr(dedup, "BUCKET_CAP", 50)
    pairs = dedup._build_minhash_pairs(spark, identical_corpus)
    # capped: C(50, 2) pairs, not C(3000, 2)
    assert pairs.count() == 50 * 49 // 2

    stats = _bucket_stats(spark, identical_corpus, cap=50)
    assert stats["max_bucket"] == 3000
    # 4 bands x (3000 - 50) docs dropped — the "logged drop-count"
    assert stats["docs_dropped"] == 4 * (3000 - 50)


def test_bucket_cap_never_binds_on_testdata(spark, sf_dir):
    """On the real corpus the cap must be far above every bucket — capped and
    uncapped candidate sets are identical (oracle parity depends on this)."""
    stats = _bucket_stats(spark, sf_dir, cap=dedup.BUCKET_CAP)
    assert stats["docs_dropped"] == 0
    assert stats["max_bucket"] < dedup.BUCKET_CAP


def test_exactsubstr_span_semantics(spark):
    """Hand-built corpus with KNOWN duplicated spans: the shared 8-token
    phrase must be found in both docs with exact maximal extent; the
    within-doc repeat must be merged into one contiguous span when its
    occurrences overlap/touch; unique text contributes nothing."""
    from drive_health_etl_spark.operators.dedup import EXACTSUBSTR_L, dedup_exactsubstr_spans
    import drive_health_etl_spark.operators.dedup as D
    from unittest import mock

    assert EXACTSUBSTR_L == 8
    phrase = "a b c d e f g h"  # exactly L shared tokens
    docs = [
        (0, f"u0 u1 u2 {phrase} u3 u4 u5"),              # one dup span of 8
        (1, f"v0 {phrase} v1 v2 v3 v4 v5 v6 v7 v8 v9"),  # same span elsewhere
        (2, "w0 w1 w2 w3 w4 w5 w6 w7 w8 w9 w10"),        # unique -> no spans
        (3, f"{phrase} {phrase}"),                        # self-repeat, contiguous
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    with mock.patch.object(D, "load_table", lambda _s, _d, _t: df):
        rows = {r["doc_id"]: r.asDict() for r in dedup_exactsubstr_spans(spark, "ignored").collect()}
    assert rows[0]["n_dup_spans"] == 1 and rows[0]["dup_tokens"] == 8
    assert rows[1]["n_dup_spans"] == 1 and rows[1]["dup_tokens"] == 8
    assert rows[2]["n_dup_spans"] == 0 and rows[2]["dup_tokens"] == 0
    # doc 3: every position's 8-gram recurs (the doc is phrase twice), so the
    # whole 16 tokens are one maximal duplicated span
    assert rows[3]["n_dup_spans"] == 1 and rows[3]["dup_tokens"] == 16
    assert rows[3]["longest_span"] == 16 and rows[3]["dup_frac"] == 1.0


def test_prefix_join_superset_of_banded_pairs(spark, sf_dir):
    """Prefix filtering is EXACT by construction: every pair the banded
    MinHash-LSH verify emits at or above the prefix threshold MUST also
    appear in dedup_prefix_join's output (the reverse need not hold — LSH
    may miss pairs). A missing pair means the prefix/positional filters
    pruned a true match."""
    from drive_health_etl_spark.plans.registry import REGISTRY
    from drive_health_etl_spark.operators.dedup import _PREFIX_T

    banded = {
        (r["doc_a"], r["doc_b"])
        for r in REGISTRY["dedup_ngram_jaccard"][0](spark, sf_dir).collect()
        if r["jaccard"] >= _PREFIX_T
    }
    prefix = {
        (r["doc_a"], r["doc_b"])
        for r in REGISTRY["dedup_prefix_join"][0](spark, sf_dir).collect()
    }
    assert banded, "guard needs at least one qualifying pair in the fixture"
    assert banded <= prefix, banded - prefix


def test_prefix_join_equals_bruteforce_on_synthetic_corpus(spark):
    """Completeness of the full filter stack (prefix + length-ratio +
    positional + r6 count-filter) against brute force: on a synthetic
    corpus with engineered near-dups, dedup_prefix_join's pair set must
    EQUAL the all-pairs exact-Jaccard >= t set. The count-filter is an
    upper bound (sum of per-bucket count minimums >= true intersection),
    so any miss here means a pruning stage turned unsound."""
    from itertools import combinations
    from unittest import mock

    from drive_health_etl_spark.operators import dedup as D
    from drive_health_etl_spark.operators.dedup import _PREFIX_T, dedup_prefix_join

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    words = base.split()
    docs = []
    for i in range(12):
        w = list(words)
        if i % 3 == 1:
            w[i % len(w)] = f"mut{i}"  # near-dup of base (1 token changed)
        elif i % 3 == 2:
            w = [f"u{i}w{j}" for j in range(10)]  # unrelated
        docs.append((i, " ".join(w)))

    def shingles(text):
        t = text.split()
        return {" ".join(t[j : j + 3]) for j in range(len(t) - 2)}

    truth = set()
    for (ia, ta), (ib, tb) in combinations(docs, 2):
        sa, sb = shingles(ta), shingles(tb)
        if not sa or not sb:
            continue
        j = len(sa & sb) / len(sa | sb)
        if round(j, 6) >= _PREFIX_T:
            truth.add((min(ia, ib), max(ia, ib)))

    df = spark.createDataFrame(docs, "doc_id long, text string")
    # the mock must not see a cached fit of an earlier run
    fitcache.purge(lambda k: k[1] == "synthetic")
    try:
        with mock.patch.object(D, "load_table", lambda _s, _d, _t: df):
            got = {
                (r["doc_a"], r["doc_b"])
                for r in dedup_prefix_join(spark, "synthetic").collect()
            }
    finally:
        fitcache.purge(lambda k: k[1] == "synthetic")
    assert truth, "fixture must contain engineered near-dup pairs"
    assert got == truth, f"missing={truth - got} extra={got - truth}"


def test_substring_ladder_known_answers(spark, tmp_path):
    """Two docs sharing an exact 40-char run: every k <= 40 must report
    shared grams from that run, k > 40 must report zero — and the ladder
    always emits its 5 rows, even for the zero-overlap resolutions."""
    shared = "0123456789abcdefghijklmnopqrstuvwxyzABCD"  # 40 chars
    assert len(shared) == 40
    rows = [
        (1, "XX" + shared + "YYYYYYYYYYYY", "en", "s", 54),
        (2, "qq" + shared + "zzzzzzzzzzzz", "en", "s", 54),
        (3, "no overlap here at all, pure filler text", "en", "s", 40),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    df.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    from drive_health_etl_spark.operators.dedup import dedup_substring_ladder

    out = {
        r["k"]: (r["n_shared_grams"], r["n_docs_sharing"])
        for r in dedup_substring_ladder(spark, str(tmp_path)).collect()
    }
    assert set(out) == {8, 16, 32, 64, 128}
    # a 40-char shared run contains 40-k+1 shared k-grams (all unique here)
    assert out[8] == (33, 2)
    assert out[16] == (25, 2)
    assert out[32] == (9, 2)
    assert out[64] == (0, 0)
    assert out[128] == (0, 0)


def test_novelty_known_answers(spark, tmp_path):
    """Identical docs have novelty 0 (every shingle shared); a doc with no
    shingle in common with any other has novelty 1; short docs (< 3 tokens,
    no shingles) drop out entirely."""
    import drive_health_etl_spark.operators.dedup as D

    rows = [
        (1, "alpha beta gamma delta epsilon", "en", "s", 30),
        (2, "alpha beta gamma delta epsilon", "en", "s", 30),
        (3, "one two three four five six", "en", "s", 27),
        (4, "tiny doc", "en", "s", 8),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    df.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    fitcache.purge(lambda k: k[1] == str(tmp_path))
    try:
        out = {
            r["doc_id"]: r.asDict()
            for r in D.corpus_novelty(spark, str(tmp_path)).collect()
        }
    finally:
        fitcache.purge(lambda k: k[1] == str(tmp_path))
    assert set(out) == {1, 2, 3}  # doc 4 has no 3-gram shingles
    assert out[1]["novelty"] == 0.0 and out[2]["novelty"] == 0.0
    assert out[3]["novelty"] == 1.0
    assert out[3]["n_shingles"] == out[3]["n_unique"] == 4


def test_suffix_doubling_known_answer(spark, tmp_path):
    """KMR prefix doubling on a hand corpus with an EXACTLY known overlap
    structure: two docs share a 40-char block (so rungs 8/16/32 see sharing,
    64+ see none), a third doc is disjoint. Counts are derivable by hand
    from the k-gram definition (distinct k-grams in >= 2 docs)."""
    shared = "0123456789abcdefghijklmnopqrstuvwxyzABCD"  # 40 chars, no repeats
    rows = [
        (1, shared + "!unique-tail-one-" + "q" * 30, "en", "s", 0),
        (2, "%PREFIX-two%" + shared + "#tail#" + "z" * 30, "en", "s", 0),
        (3, "completely different text with no forty char overlap at all....", "en", "s", 0),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    df.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))

    from drive_health_etl_spark.operators.dedup import dedup_suffix_doubling

    got = {r["k"]: (r["n_shared_grams"], r["n_docs_sharing"]) for r in
           dedup_suffix_doubling(spark, str(tmp_path)).collect()}
    assert set(got) == {8, 16, 32, 64, 128, 256}
    # k-grams fully inside the 40-char shared block appear in docs 1 AND 2:
    # 40-k+1 of them; nothing else is shared (tails are made distinct).
    for k in (8, 16, 32):
        assert got[k] == (40 - k + 1, 2), (k, got[k])
    # no 64+ char substring is shared
    for k in (64, 128, 256):
        assert got[k] == (0, 0), (k, got[k])


def _cdc_chunks_py(text, w=16, d=64):
    """Pure-Python replica of the CDC boundary rule (independent of both
    engines): boundary after i where the 60-bit md5 head of the trailing
    w-window is divisible by d."""
    import hashlib

    cuts = [
        i for i in range(w, len(text) + 1)
        if int(hashlib.md5(text[i - w:i].encode()).hexdigest()[:15], 16) % d == 0
    ]
    if not cuts or cuts[-1] != len(text):
        cuts.append(len(text))
    out, prev = [], 0
    for c in cuts:
        out.append(text[prev:c])
        prev = c
    return out


def test_cdc_chunks_match_python_model(spark, tmp_path):
    """Engine output must equal a pure-Python recompute on a corpus built
    to exercise the defining CDC property: doc2 = prefix + doc1, so every
    chunk after the first post-edit boundary is shared (content-defined
    boundaries realign; fixed-size blocks would not)."""
    import random

    rng = random.Random(8)
    base = "".join(rng.choice("abcdefgh ") for _ in range(400))
    docs = [base, "THE-INSERTED-PREFIX-" + base, "totally unrelated filler " * 16]
    chunks = [c for t in docs for c in _cdc_chunks_py(t)]
    per_doc = [set(_cdc_chunks_py(t)) for t in docs]
    shared = {c for c in set(chunks) if sum(c in s for s in per_doc) >= 2}
    assert shared, "fixture must realize the shift-invariance property"

    rows = [(i + 1, t, "en", "s", len(t)) for i, t in enumerate(docs)]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))

    from drive_health_etl_spark.operators.dedup import dedup_cdc_chunks

    got = dedup_cdc_chunks(spark, str(tmp_path)).collect()[0]
    assert got["n_chunks"] == len(chunks)
    assert got["n_distinct_chunks"] == len(set(chunks))
    assert got["n_shared_chunks"] == len(shared)
    assert got["bytes_total"] == sum(len(c) for c in chunks)
    assert got["bytes_unique"] == sum(len(c) for c in set(chunks))


def test_suffix_doubling_multi_segment(spark, tmp_path):
    """Docs longer than the 4096-char segment cap must produce EXACTLY the
    same counts as an unsegmented k-gram counter — the 255-char overlap
    preserves every k <= 256 gram across segment boundaries, and overlap
    duplicates collapse in the per-(k, doc, id) distinct."""
    import random

    rng = random.Random(88)
    alpha = "abcdefghijklmnopqrstuvwxyz0123456789"
    long_doc = "".join(rng.choice(alpha) for _ in range(9000))  # 3 segments
    # second doc embeds a 600-char block straddling long_doc's first segment
    # boundary (positions 3700..4300 cross the 3841/4096 cut region)
    other = "zz" + long_doc[3700:4300] + "qq" * 50
    docs = [long_doc, other]

    def grams(t, k):
        return {t[i:i + k] for i in range(len(t) - k + 1)}

    expect = {}
    for k in (8, 16, 32, 64, 128, 256):
        per_doc = [grams(t, k) for t in docs]
        sh = {g for g in set.union(*per_doc) if sum(g in s for s in per_doc) >= 2}
        expect[k] = (len(sh), sum(1 for s in per_doc if s & sh))

    rows = [(i + 1, t, "en", "s", len(t)) for i, t in enumerate(docs)]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))

    from drive_health_etl_spark.operators.dedup import dedup_suffix_doubling

    got = {r["k"]: (r["n_shared_grams"], r["n_docs_sharing"]) for r in
           dedup_suffix_doubling(spark, str(tmp_path)).collect()}
    assert got == expect


def _lev_py(a: str, b: str) -> int:
    """Pure-Python Levenshtein — the independent truth for the edit join."""
    if len(a) < len(b):
        a, b = b, a
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def test_edit_join_equals_bruteforce_on_synthetic_corpus(spark, tmp_path):
    """Completeness of the Ed-Join filter stack (rarity prefix + length +
    count filter + small-set brute branch) against all-pairs Levenshtein:
    on a corpus with engineered edits the pair set must EQUAL the
    brute-force ed <= K set. Includes repetitive short docs whose distinct
    q-gram sets are <= Q*K — the tau < 1 regime where prefix filtering has
    NO guarantee and only the brute branch preserves exactness."""
    import random
    from itertools import combinations

    from drive_health_etl_spark.operators.dedup import _EDJ_K, dedup_edit_join

    rng = random.Random(812)
    alpha = "abcdefghijklmnopqrstuvwxyz "
    base = "".join(rng.choice(alpha) for _ in range(260))
    mid = "".join(rng.choice(alpha) for _ in range(130))
    docs = [
        base,                                   # 0
        base[:100] + "XYZ" + base[103:],        # 1: 3 substitutions
        base[:50] + base[58:],                  # 2: 8 deletions (== K)
        base[:50] + base[59:],                  # 3: 9 deletions (> K, excluded)
        "".join(rng.choice(alpha) for _ in range(260)),  # 4: unrelated
        mid,                                    # 5
        mid[:40] + "qq" + mid[40:],             # 6: 2 insertions
        # repetitive small-distinct-gram docs (brute branch): ~2 distinct
        # 12-grams each, within 2 edits of each other
        "ab" * 40,                              # 7
        "ab" * 39 + "ba",                       # 8
        "cd" * 40,                              # 9: unrelated repetitive
        # sub-gram-length docs (len < Q=12, zero q-grams): must route via
        # the brute branch, not be dropped (ADVICE r8 medium defect)
        "hello world",                          # 10: len 11 < Q
        "hello w0rld",                          # 11: 1 sub of 10
        "hello world ab",                       # 12: len 14 >= Q, 3 edits
        "zq",                                   # 13: len 2, unrelated
    ]
    truth = set()
    for (ia, ta), (ib, tb) in combinations(enumerate(docs), 2):
        if abs(len(ta) - len(tb)) <= _EDJ_K and _lev_py(ta, tb) <= _EDJ_K:
            truth.add((ia + 1, ib + 1))
    assert (8, 9) in truth and (1, 2) in truth, "fixture must engineer near pairs"
    assert (11, 12) in truth and (11, 13) in truth, (
        "fixture must engineer short-doc pairs (len < Q) incl. one crossing "
        "the gram-length boundary"
    )

    rows = [(i + 1, t, "en", "s", len(t)) for i, t in enumerate(docs)]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))

    out = dedup_edit_join(spark, str(tmp_path)).collect()
    got = {(r["doc_a"], r["doc_b"]) for r in out}
    assert got == truth, f"missing={truth - got} extra={got - truth}"
    by_pair = {(r["doc_a"], r["doc_b"]): r["edit_distance"] for r in out}
    for (a, b), ed in by_pair.items():
        assert ed == _lev_py(docs[a - 1], docs[b - 1])


def _brute_lcs(docs: dict[int, str]):
    """Exact longest cross-doc repeated substring by direct enumeration:
    (L*, n distinct shared contents at L*, n docs containing one)."""
    maxlen = max((len(t) for t in docs.values()), default=0)
    for L in range(maxlen, 0, -1):
        seen: dict[str, set[int]] = {}
        for did, t in docs.items():
            for i in range(len(t) - L + 1):
                seen.setdefault(t[i : i + L], set()).add(did)
        shared = {g: ds for g, ds in seen.items() if len(ds) >= 2}
        if shared:
            return L, len(shared), len(set().union(*shared.values()))
    return 0, 0, 0


def test_suffix_lcs_matches_bruteforce(spark, tmp_path):
    """Exactness of the rank-bisection longest cross-doc repeat against a
    pure-Python third implementation (the DuckDB oracle is the second):
    engineered corpus with two planted max-length runs shared by two pairs,
    shorter decoys, and no exact duplicates."""
    import random

    from drive_health_etl_spark.operators.dedup import dedup_suffix_lcs

    rng = random.Random(93)
    alpha = "abcdefghijklmnopqrstuvwxyz0123456789"

    def rand(n):
        return "".join(rng.choice(alpha) for _ in range(n))

    run1, run2 = rand(37), rand(37)   # two distinct max-length shared runs
    decoy = rand(21)                  # shorter shared run
    docs = {
        1: rand(40) + run1 + rand(40),
        2: run1 + rand(90),
        3: rand(15) + run2 + rand(55) + decoy,
        4: rand(60) + run2,
        5: decoy + rand(100),
        6: rand(120),
    }
    want = _brute_lcs(docs)
    assert want[0] == 37 and want[1] == 2 and want[2] == 4, "fixture must plant the answer"

    rows = [(d, t, "en", "s", len(t)) for d, t in docs.items()]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    got = dedup_suffix_lcs(spark, str(tmp_path)).collect()
    assert [(r["lcs_len"], r["n_repeats"], r["n_docs"]) for r in got] == [want]


def test_suffix_lcs_short_repeat_and_no_repeat(spark, tmp_path):
    """The L* < 8 regime (below the oracle's rung grid) and the zero-share
    corpus must both be exact."""
    from drive_health_etl_spark.operators.dedup import dedup_suffix_lcs

    docs = {1: "abcXYZ", 2: "qqXYZpp", 3: "zzzz"}  # L* = 3 ("XYZ")
    want = _brute_lcs(docs)
    assert want == (3, 1, 2)
    rows = [(d, t, "en", "s", len(t)) for d, t in docs.items()]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    got = dedup_suffix_lcs(spark, str(tmp_path)).collect()
    assert [(r["lcs_len"], r["n_repeats"], r["n_docs"]) for r in got] == [want]

    # disjoint alphabets: nothing shared at any length
    docs2 = {1: "aaaa", 2: "bbbb"}
    spark.createDataFrame(
        [(d, t, "en", "s", len(t)) for d, t in docs2.items()],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    fitcache.purge(lambda k: k[1] == str(tmp_path))  # same tmp_path, new corpus
    got2 = dedup_suffix_lcs(spark, str(tmp_path)).collect()
    assert [(r["lcs_len"], r["n_repeats"], r["n_docs"]) for r in got2] == [(0, 0, 0)]


def test_exactsubstr_clean_removes_exactly_the_spans(spark):
    """The removal half must drop exactly the maximal duplicated spans the
    detection half reports: engineered corpus with a known shared phrase,
    a unique doc (untouched), and a fully-duplicated doc (cleans to empty —
    the paper's aggressive every-occurrence semantics)."""
    from unittest import mock

    import drive_health_etl_spark.operators.dedup as D
    from drive_health_etl_spark.operators.dedup import EXACTSUBSTR_L, dedup_exactsubstr_clean

    assert EXACTSUBSTR_L == 8
    phrase = "a b c d e f g h"
    docs = [
        (0, f"u0 u1 u2 {phrase} u3 u4 u5"),
        (1, f"v0 {phrase} v1 v2 v3 v4 v5 v6 v7 v8 v9"),
        (2, "w0 w1 w2 w3 w4 w5 w6 w7 w8 w9 w10"),
        (3, f"{phrase} {phrase}"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    with mock.patch.object(D, "load_table", lambda _s, _d, _t: df):
        rows = {r["doc_id"]: r.asDict() for r in dedup_exactsubstr_clean(spark, "x").collect()}
    assert rows[0]["cleaned_text"] == "u0 u1 u2 u3 u4 u5"
    assert rows[0]["n_tokens"] == 14 and rows[0]["kept_tokens"] == 6
    assert rows[1]["cleaned_text"] == "v0 v1 v2 v3 v4 v5 v6 v7 v8 v9"
    assert rows[2]["cleaned_text"] == docs[2][1]  # unique doc untouched
    assert rows[2]["kept_tokens"] == rows[2]["n_tokens"] == 11
    assert rows[3]["cleaned_text"] == "" and rows[3]["kept_tokens"] == 0


def test_suffix_lcs_oracle_lim_guard_scopes_to_uncapped_branch():
    """ADVICE r10: the bisection-range guard must measure CANDIDATE length,
    not raw document length. On the capped branch (best < max rung, so
    candidates are <= 2*best chars) a document longer than hi0 is still
    exact and must NOT error; only the uncapped best == max-rung branch,
    where candidates are full suffixes, may trip it."""
    import duckdb
    import pandas as pd

    from drive_health_etl_spark.operators.dedup import _suffix_lcs_oracle_sql

    # capped branch: shared run of 10 chars (best rung = 8, candidates
    # capped at 16 chars) inside documents LONGER than hi0 = 256 — the old
    # MAX(n)-based guard errored here; the answer stays exact.
    run = "SHAREDRUN#"  # 10 chars, planted once per doc
    docs = pd.DataFrame({
        "doc_id": [1, 2],
        "text": ["a" * 150 + run + "b" * 150, "c" * 200 + run + "d" * 100],
    })
    con = duckdb.connect()
    con.register("documents", docs)
    got = con.execute(_suffix_lcs_oracle_sql(rounds=8, hi0=256)).fetchall()
    # L* = 10 (the planted run; the aaaa/cccc runs are single-doc)
    assert got == [(10, 1, 2)]

    # uncapped branch: best == 1024 forces full-suffix candidates; with a
    # candidate >= hi0 the guard must error loudly (silent wrong answers
    # are the failure mode it exists to prevent).
    big = "x" + "yz" * 600  # 1201 chars, shared verbatim
    docs2 = pd.DataFrame({
        "doc_id": [1, 2],
        "text": [big + "A", big + "B"],
    })
    con2 = duckdb.connect()
    con2.register("documents", docs2)
    import pytest

    with pytest.raises(Exception, match="exceeds the unrolled bisection range"):
        con2.execute(_suffix_lcs_oracle_sql(rounds=10, hi0=1024)).fetchall()


def test_suffix_lcs_short_ladder_unpersists_on_success(spark, tmp_path, monkeypatch):
    """ADVICE r10: the two short-repeat ladder paths persisted shared/sm
    and only unpersisted on the EMPTY-result path; a successful short-LCS
    call leaked the cached blocks for the session's lifetime. Every persist
    inside the operator must now be paired with an unpersist, except the
    deliberate session-scoped fit-cache entry (the docs relation)."""
    from pyspark.sql import DataFrame

    from drive_health_etl_spark.operators.dedup import dedup_suffix_lcs

    persisted: list[int] = []
    unpersisted: list[int] = []
    orig_p, orig_u = DataFrame.persist, DataFrame.unpersist

    def track_persist(self, *a, **k):
        persisted.append(id(self))
        return orig_p(self, *a, **k)

    def track_unpersist(self, *a, **k):
        unpersisted.append(id(self))
        return orig_u(self, *a, **k)

    monkeypatch.setattr(DataFrame, "persist", track_persist)
    monkeypatch.setattr(DataFrame, "unpersist", track_unpersist)

    for docs in (
        {1: "abcXYZ", 2: "qqXYZpp", 3: "zzzz"},   # L* = 3: lo_idx == -1 ladder
        {1: "abXde", 2: "fgXhi"},                  # max_n < 8 one-shot ladder
    ):
        fitcache.purge(lambda k: k[1] == str(tmp_path))
        persisted.clear()
        unpersisted.clear()
        rows = [(d, t, "en", "s", len(t)) for d, t in docs.items()]
        spark.createDataFrame(
            rows, "doc_id long, text string, lang string, source string, n_chars long"
        ).coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
        res = dedup_suffix_lcs(spark, str(tmp_path))
        assert res.count() == 1  # SUCCESS path (the leaky one)
        leaked = set(persisted) - set(unpersisted)
        # the only surviving persist is the fit-cached docs relation
        assert len(leaked) <= 1, f"leaked persisted DataFrames: {len(leaked)}"
    fitcache.purge(lambda k: k[1] == str(tmp_path))
