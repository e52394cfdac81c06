"""text_bpe_encode semantics: the applied merge table must reproduce the
training rewrite exactly, ids must follow the (count DESC, token ASC)
vocab ranking, and the digest must capture sequence ORDER (not just the
multiset). Oracle parity on the real corpus is tests/oracle_check.py's
job; these fixtures pin the hand-computable cases."""

from __future__ import annotations

import hashlib

from drive_health_etl_spark.operators import bpe as B
from drive_health_etl_spark.operators import fitcache

# the tokenizer family's dataset-cache entries, one name per trained artifact
_BPE_NAMES = {"bpe_merges", "word_counts", "bpe_subword", "wordpiece", "unigram"}


def _reset_bpe_fits() -> None:
    fitcache.purge(lambda k: k[2] in _BPE_NAMES)


def _write_docs(spark, tmp_path, docs: dict[int, str]) -> str:
    rows = [(d, t, "en", "s", len(t)) for d, t in docs.items()]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    return str(tmp_path)


def test_bpe_encode_hand_computed(spark, tmp_path):
    # corpus engineered so all three merge rounds are forced:
    #   r1: (a, b) x4 -> a~b        r2: (a~b, c) x3 -> a~b~c
    #   r3: best remaining pair
    docs = {
        1: "a b c a b c x",
        2: "a b c a b y",
        3: "z z",
    }
    sf = _write_docs(spark, tmp_path, docs)
    _reset_bpe_fits()
    merges = B._train_merges(spark, sf)
    assert [(m[1], m[2]) for m in merges][:2] == [("a", "b"), ("a~b", "c")]

    got = {r["doc_id"]: r for r in B.text_bpe_encode(spark, sf).collect()}
    assert got[1]["n_tokens_base"] == 7 and got[3]["n_tokens_base"] == 2

    # replay the merge table in pure Python (literal left-to-right
    # non-overlapping replace, rank order) and re-derive everything
    def encode(text: str) -> list[str]:
        s = " " + " ".join(text.split()) + " "
        for _r, w1, w2, _c, _n in merges:
            s = s.replace(f" {w1} {w2} ", f" {w1}~{w2} ")
        return s.split()

    toks = {d: encode(t) for d, t in docs.items()}
    freq: dict[str, int] = {}
    for ts in toks.values():
        for t in ts:
            freq[t] = freq.get(t, 0) + 1
    vocab = {t: i for i, t in enumerate(sorted(freq, key=lambda t: (-freq[t], t)))}
    for d, ts in toks.items():
        ids = [vocab[t] for t in ts]
        assert got[d]["n_tokens"] == len(ts)
        assert got[d]["n_merged"] == sum("~" in t for t in ts)
        assert got[d]["ids_sum"] == sum(ids)
        want_sig = hashlib.md5(",".join(map(str, ids)).encode()).hexdigest()
        assert got[d]["ids_sig"] == want_sig, f"doc {d}: id sequence diverged"

    # text_bpe_vocab must publish exactly the id map encode used
    vrows = B.text_bpe_vocab(spark, sf).collect()
    assert {(r["token"], r["id"]) for r in vrows} == set(vocab.items())
    assert {r["token"]: r["count"] for r in vrows} == freq
    for r in vrows:
        assert r["is_merged"] == ("~" in r["token"])
    _reset_bpe_fits()


def test_bpe_encode_digest_is_order_sensitive(spark, tmp_path, monkeypatch):
    # two docs with the SAME token multiset in different order must get
    # different ids_sig (equal ids_sum makes the sum an honest weak check);
    # rounds pinned to 0 so merges don't rewrite the planted permutation
    monkeypatch.setattr(B, "BPE_ROUNDS", 0)
    docs = {1: "p q r", 2: "r q p"}
    sf = _write_docs(spark, tmp_path, docs)
    _reset_bpe_fits()
    rows = {r["doc_id"]: r for r in B.text_bpe_encode(spark, sf).collect()}
    assert rows[1]["ids_sum"] == rows[2]["ids_sum"]
    assert rows[1]["ids_sig"] != rows[2]["ids_sig"]
    _reset_bpe_fits()


def test_bpe_encode_no_pairs_and_empty_docs(spark, tmp_path):
    # single-token and empty docs: training finds < BPE_ROUNDS merges (or
    # none) and encode must pass documents through unchanged — in BOTH
    # engines (the oracle's LEFT JOIN + CASE pass-through branch).
    import duckdb

    docs = {1: "solo", 2: "", 3: "duo"}
    sf = _write_docs(spark, tmp_path, docs)
    _reset_bpe_fits()
    assert B._train_merges(spark, sf) == []
    got = {r["doc_id"]: r for r in B.text_bpe_encode(spark, sf).collect()}
    assert got[2]["n_tokens"] == 0 and got[2]["ids_sum"] == 0
    assert got[2]["ids_sig"] == hashlib.md5(b"").hexdigest()
    assert got[1]["n_tokens"] == 1 and got[1]["n_merged"] == 0

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{sf}/documents.parquet/*.parquet'"
    )
    oracle = {
        r[0]: r for r in con.execute(B.TEXT_BPE_ENCODE_SQL).fetchall()
    }
    for d in docs:
        g = got[d]
        assert oracle[d] == (
            d, g["n_tokens_base"], g["n_tokens"], g["n_merged"],
            g["ids_sig"], g["ids_sum"],
        )
    _reset_bpe_fits()


def _py_bpe(docs: dict[int, str], rounds: int):
    """Pure-Python third implementation of the whole tokenizer loop (the
    DuckDB oracle is the second): greedy pair training with the exact
    (count DESC, w1 ASC, w2 ASC) tie-break and literal left-to-right
    non-overlapping replace, then encode + vocab ranking + digests."""
    s = {d: " " + " ".join(t.split()) + " " for d, t in docs.items()}
    merges = []
    for _ in range(rounds):
        counts: dict[tuple, int] = {}
        for v in s.values():
            toks = v.split()
            for a, b in zip(toks, toks[1:]):
                counts[(a, b)] = counts.get((a, b), 0) + 1
        if not counts:
            break
        (w1, w2), _c = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((w1, w2))
        s = {d: v.replace(f" {w1} {w2} ", f" {w1}~{w2} ") for d, v in s.items()}
    toks = {d: v.split() for d, v in s.items()}
    freq: dict[str, int] = {}
    for ts in toks.values():
        for t in ts:
            freq[t] = freq.get(t, 0) + 1
    vocab = {t: i for i, t in enumerate(sorted(freq, key=lambda t: (-freq[t], t)))}
    out = {}
    for d, ts in toks.items():
        ids = [vocab[t] for t in ts]
        out[d] = (
            len(docs[d].split()), len(ts), sum("~" in t for t in ts),
            hashlib.md5(",".join(map(str, ids)).encode()).hexdigest(), sum(ids),
        )
    return merges, vocab, freq, out


def test_bpe_loop_matches_python_reference_on_random_corpora(spark, tmp_path):
    """Seeded randomized cross-check of train + encode + vocab against the
    pure-Python reference: tiny alphabets force adversarial shapes —
    overlapping runs ("a a a a": the literal-scan consume rule), repeated
    tie-broken pair counts, singleton and empty documents."""
    import random

    rng = random.Random(1117)
    alpha = ["a", "b", "c", "aa", "b~x"]  # incl. a token containing the joiner
    for trial in range(6):
        n_docs = rng.randint(2, 7)
        docs = {}
        for d in range(1, n_docs + 1):
            n_tok = rng.choice([0, 1, rng.randint(2, 30)])
            docs[d] = " ".join(rng.choice(alpha) for _ in range(n_tok))
        sf = _write_docs(spark, tmp_path / f"t{trial}", docs)
        _reset_bpe_fits()
        want_merges, want_vocab, want_freq, want = _py_bpe(docs, B.BPE_ROUNDS)
        got_merges = [(m[1], m[2]) for m in B._train_merges(spark, sf)]
        assert got_merges == want_merges, f"trial {trial}: merge table diverged"
        got = {
            r["doc_id"]: (r["n_tokens_base"], r["n_tokens"], r["n_merged"],
                          r["ids_sig"], r["ids_sum"])
            for r in B.text_bpe_encode(spark, sf).collect()
        }
        assert got == want, f"trial {trial}: encode diverged (docs={docs})"
        vrows = B.text_bpe_vocab(spark, sf).collect()
        assert {(r["token"], r["id"]) for r in vrows} == set(want_vocab.items())
        assert {r["token"]: r["count"] for r in vrows} == want_freq
    _reset_bpe_fits()


def _py_subword(docs: dict[int, str], rounds: int):
    """Pure-Python reference for the subword loop (third implementation):
    weighted word-frequency training per Sennrich et al., literal replace,
    greedy segmentation, weighted vocab ranking."""
    words: dict[str, int] = {}
    for t in docs.values():
        for w in t.split():
            words[w] = words.get(w, 0) + 1
    spelled = {w: " " + " ".join(w) + " </w> " for w in words}
    merges = []
    for rnd in range(1, rounds + 1):
        counts: dict[tuple, int] = {}
        for w, s in spelled.items():
            syms = s.split()
            for a, b in zip(syms, syms[1:]):
                counts[(a, b)] = counts.get((a, b), 0) + words[w]
        if not counts:
            break
        (a, b), c = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        spelled = {w: s.replace(f" {a} {b} ", f" {a}{b} ") for w, s in spelled.items()}
        n_after = sum(words[w] * len(s.split()) for w, s in spelled.items())
        merges.append((rnd, a, b, a + b, c, n_after))
    syms_of = {w: s.split() for w, s in spelled.items()}
    sub_counts: dict[str, int] = {}
    for w, syms in syms_of.items():
        for s in syms:
            sub_counts[s] = sub_counts.get(s, 0) + words[w]
    vocab = {s: i for i, s in enumerate(sorted(sub_counts, key=lambda s: (-sub_counts[s], s)))}
    out = {}
    for d, t in docs.items():
        ws = t.split()
        ids = [vocab[s] for w in ws for s in syms_of[w]]
        out[d] = (
            len(ws), sum(len(w) for w in ws), len(ids),
            hashlib.md5(",".join(map(str, ids)).encode()).hexdigest(), sum(ids),
        )
    return merges, out


def test_bpe_subword_matches_python_reference(spark, tmp_path):
    """Hand + randomized cross-check of the character-level loop: repeated
    chars inside words (the consume rule at char level), single-char
    words, empty docs, and weighted tie-breaks."""
    import random

    fixed = {1: "aaa ab aaa", 2: "b ab aaa", 3: ""}
    rng = random.Random(2311)
    alpha = "abc"
    corpora = [fixed] + [
        {
            d: " ".join(
                "".join(rng.choice(alpha) for _ in range(rng.randint(1, 6)))
                for _ in range(rng.choice([0, 1, rng.randint(2, 12)]))
            )
            for d in range(1, rng.randint(2, 6) + 1)
        }
        for _ in range(4)
    ]
    for trial, docs in enumerate(corpora):
        sf = _write_docs(spark, tmp_path / f"s{trial}", docs)
        _reset_bpe_fits()
        want_merges, want = _py_subword(docs, B.SUBWORD_ROUNDS)
        got_merges, _sp = B._train_subword(spark, sf)
        assert [tuple(m) for m in got_merges] == want_merges, f"trial {trial}"
        got = {
            r["doc_id"]: (r["n_words"], r["n_chars"], r["n_subwords"],
                          r["sub_sig"], r["sub_sum"])
            for r in B.text_bpe_subword_encode(spark, sf).collect()
        }
        assert got == want, f"trial {trial}: subword encode diverged ({docs})"
    _reset_bpe_fits()


def test_wordpiece_matches_python_reference_and_diverges_from_bpe(spark, tmp_path):
    """WordPiece's likelihood rule cross-checked against a pure-Python
    reference, on a corpus engineered so likelihood and frequency pick
    DIFFERENT first merges: 'q u' is rare but q predicts u perfectly,
    while 'a b' is frequent but both symbols are everywhere."""
    import random

    docs = {
        1: "ab ab ab ab qu",
        2: "ba ab ba qu ab",
        3: "aa bb ab ba aa",
    }
    sf = _write_docs(spark, tmp_path / "wp", docs)
    _reset_bpe_fits()

    def py_wordpiece(docs, rounds):
        words: dict[str, int] = {}
        for t in docs.values():
            for w in t.split():
                words[w] = words.get(w, 0) + 1
        spelled = {w: " " + " ".join(w) + " </w> " for w in words}
        merges = []
        for rnd in range(1, rounds + 1):
            counts: dict[tuple, int] = {}
            syms_c: dict[str, int] = {}
            for w, s in spelled.items():
                syms = s.split()
                for sym in syms:
                    syms_c[sym] = syms_c.get(sym, 0) + words[w]
                for a, b in zip(syms, syms[1:]):
                    counts[(a, b)] = counts.get((a, b), 0) + words[w]
            if not counts:
                break
            (a, b), c = min(
                counts.items(),
                key=lambda kv: (-(kv[1] / (syms_c[kv[0][0]] * syms_c[kv[0][1]])), kv[0]),
            )
            score = c / (syms_c[a] * syms_c[b])
            spelled = {w: s.replace(f" {a} {b} ", f" {a}{b} ") for w, s in spelled.items()}
            n_after = sum(words[w] * len(s.split()) for w, s in spelled.items())
            merges.append((rnd, a, b, a + b, c, score, n_after))
        return merges

    want = py_wordpiece(docs, B.SUBWORD_ROUNDS)
    got, _sp = B._train_wordpiece(spark, sf)
    assert [tuple(m) for m in got] == want
    # likelihood picks the predictive pair first; frequency would not
    assert got[0][3] == "qu"
    bpe_merges, _ = B._train_subword(spark, sf)
    assert bpe_merges[0][3] != "qu"

    # encode parity with the shared apply path, checked via DuckDB
    import duckdb

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{sf}/documents.parquet/*.parquet'"
    )
    oracle = {r[0]: r for r in con.execute(B.TEXT_WORDPIECE_ENCODE_SQL).fetchall()}
    for r in B.text_wordpiece_encode(spark, sf).collect():
        assert oracle[r["doc_id"]] == (
            r["doc_id"], r["n_words"], r["n_chars"], r["n_subwords"],
            r["sub_sig"], r["sub_sum"],
        )
    _reset_bpe_fits()


def test_unigram_hand_computed_and_long_word_splits(spark, tmp_path):
    """Hand-checkable unigram case plus corpora whose words EXCEED the
    candidate length (forcing real Viterbi splits), cross-checked against
    the DuckDB oracle directly."""
    import duckdb

    # single word "ab": seed p uniform over {a, b, ab}; Viterbi picks the
    # single token (1/3 > 1/9); EM converges to p(ab) = 1
    sf = _write_docs(spark, tmp_path / "u1", {1: "ab", 2: "ab"})
    _reset_bpe_fits()
    rows = B.text_unigram_train(spark, sf).collect()
    assert [(r["token"], r["usage"], r["p"], r["id"]) for r in rows] == [("ab", 2, 1.0, 0)]
    enc = {r["doc_id"]: r for r in B.text_unigram_encode(spark, sf).collect()}
    assert enc[1]["n_subwords"] == 1 and enc[1]["sub_sum"] == 0

    # words longer than UNI_CAND_MAX must split; oracle must agree exactly
    import random

    rng = random.Random(47)
    alpha = "xyz"
    for trial in range(3):
        docs = {
            d: " ".join(
                "".join(rng.choice(alpha) for _ in range(rng.randint(1, 12)))
                for _ in range(rng.randint(1, 10))
            )
            for d in range(1, rng.randint(2, 5) + 1)
        }
        sf = _write_docs(spark, tmp_path / f"u{trial + 2}", docs)
        _reset_bpe_fits()
        got = {
            r["doc_id"]: (r["n_words"], r["n_chars"], r["n_subwords"],
                          r["sub_sig"], r["sub_sum"])
            for r in B.text_unigram_encode(spark, sf).collect()
        }
        assert any(g[2] > g[0] for g in got.values()), "no word split — fixture too easy"
        con = duckdb.connect()
        con.execute(
            f"CREATE VIEW documents AS SELECT * FROM '{sf}/documents.parquet/*.parquet'"
        )
        oracle = {
            r[0]: tuple(r[1:])
            for r in con.execute(B.TEXT_UNIGRAM_ENCODE_SQL).fetchall()
        }
        assert oracle == got, f"trial {trial}: unigram encode diverged ({docs})"
    _reset_bpe_fits()


def test_unigram_oracle_guards_overlong_words(spark, tmp_path):
    """A word longer than the DP unroll must make the ORACLE fail loudly
    (never silently mis-segment); the Spark side handles any length."""
    import duckdb
    import pytest

    long_word = "q" * (B.UNI_WORD_MAX + 1)
    sf = _write_docs(spark, tmp_path, {1: f"ab {long_word}", 2: "ab"})
    _reset_bpe_fits()
    rows = B.text_unigram_encode(spark, sf).collect()  # Spark side: fine
    assert {r["doc_id"] for r in rows} == {1, 2}
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{sf}/documents.parquet/*.parquet'"
    )
    with pytest.raises(Exception, match="exceeds the .*-position DP unroll"):
        con.execute(B.TEXT_UNIGRAM_ENCODE_SQL).fetchall()
    _reset_bpe_fits()
