"""Distributed BPE-style merge training over the documents corpus.

The second iterative-algorithm showcase next to PageRank (`operators/
graph.py`): each round counts all adjacent token pairs corpus-wide, picks
the most frequent pair (deterministic tie-break), and rewrites the corpus
merging that pair into one token — exactly the training loop of byte-pair /
WordPiece tokenizers, run at word level over the whitespace tokens.

Merge semantics are pinned to LITERAL left-to-right non-overlapping string
replacement of ``" w1 w2 "`` with ``" w1~w2 "`` (the scan consumes the
matched text, so in a run like ``a b a b`` only the first occurrence merges
this round — the second merges next round if still the best pair). Spark's
``replace`` and DuckDB's ``replace`` share this semantics, which is what
makes the unrolled-CTE oracle exact.

Scale shape (per round, R = ``BPE_ROUNDS`` rounds total):
- pair counting: explode adjacent pairs -> ONE shuffle with map-side
  partial counts (pair cardinality is vocab^2-bounded, not corpus-bounded);
- best-pair selection: TakeOrdered(1) + a 1-row driver fetch (bounded
  metadata, the same pattern as the k-means centroid fetch);
- corpus rewrite: narrow map (string replace), ``localCheckpoint`` per
  round so the plan does not accumulate R rewrite stages of lineage —
  the same discipline as the connected-components loop.
Real tokenizer trainers (sentencepiece at corpus scale) run this exact
loop with the pair-count aggregation distributed; R is the vocab budget.

Reference parity: north-star extension (BASELINE.json "text analysis");
complements `text_bpe_token_count` (applying a tokenizer) with TRAINING one.

Two granularities, one loop: the word-level queries (`text_bpe_train` /
`text_bpe_encode` / `text_bpe_vocab`) run the merge loop over whitespace
tokens corpus-wide; the subword queries (`text_bpe_subword_*`) run the
SAME loop at character level inside words (Sennrich et al. ACL'16) off
the vocab-bounded word-frequency table — see the subword section below
for why that formulation is the 100 TB shape.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from drive_health_etl_spark.operators.fitcache import dataset_cached
from drive_health_etl_spark.operators.text import TOKENS_SQL, tokens_col
from drive_health_etl_spark.sources.tables import load_table

BPE_ROUNDS = 3


def _pair_counts(s_df: DataFrame) -> DataFrame:
    toks = tokens_col("s")
    pairs = F.expr(
        "transform(sequence(0, size(toks)-2), i -> struct(toks[i] AS w1, toks[i+1] AS w2))"
    )
    return (
        s_df.select(toks.alias("toks"))
        .filter(F.size("toks") >= 2)  # sequence(0, -1) would run DESCENDING
        .select(F.explode(pairs).alias("p"))
        .select("p.w1", "p.w2")
        .groupBy("w1", "w2")
        .agg(F.count("*").alias("c"))
    )


def _token_total(s_df: DataFrame) -> int:
    return s_df.select(F.sum(F.size(tokens_col("s"))).alias("n")).collect()[0]["n"]


def _train_merges(spark: SparkSession, sf_dir: str) -> list[tuple]:
    """Run the ``BPE_ROUNDS`` training loop; return one
    (round, w1, w2, pair_count, tokens_after) tuple per executed round.
    Fit-cached per (session, dataset): `text_bpe_train` reports these rows
    and `text_bpe_encode` applies the (w1, w2) merge table, and the two
    must never re-run the iterative loop twice in one session. The cached
    value is a plain list (bounded: BPE_ROUNDS rows of short strings), so
    FitCache's best-effort unpersist is a no-op on eviction."""

    def build() -> list[tuple]:
        docs = load_table(spark, sf_dir, "documents")
        s_df = docs.select(
            F.concat(F.lit(" "), F.concat_ws(" ", tokens_col()), F.lit(" ")).alias("s")
        ).localCheckpoint(eager=True)

        rows = []
        for rnd in range(1, BPE_ROUNDS + 1):
            top = (
                _pair_counts(s_df)
                .orderBy(F.col("c").desc(), F.col("w1").asc(), F.col("w2").asc())
                .limit(1)
                .collect()  # bounded: one row per round
            )
            if not top:  # corpus empty or no pairs left — nothing to merge
                break
            best = top[0]
            w1, w2, c = best["w1"], best["w2"], best["c"]
            s_df = s_df.select(
                F.replace(
                    F.col("s"), F.lit(f" {w1} {w2} "), F.lit(f" {w1}~{w2} ")
                ).alias("s")
            ).localCheckpoint(eager=True)  # truncate lineage each round
            rows.append((rnd, w1, w2, c, _token_total(s_df)))
        return rows

    return dataset_cached(spark, sf_dir, "bpe_merges", build)


def text_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train ``BPE_ROUNDS`` merges; emit one row per round: the merged pair,
    its corpus frequency when selected, and the corpus token total after
    applying the merge (which verifies every rewrite, not just the
    selection)."""
    return spark.createDataFrame(
        _train_merges(spark, sf_dir),
        "round int, w1 string, w2 string, pair_count long, tokens_after long",
    )


def _round_sql(prev: str, rnd: int) -> str:
    """One unrolled round: pair counts over ``prev``, best pair, rewrite."""
    return f"""
l{rnd} AS (
  SELECT list_filter(regexp_split_to_array(trim(s), '\\s+'), x -> x <> '') AS l
  FROM {prev}
),
p{rnd} AS (
  SELECT p[1] AS w1, p[2] AS w2, COUNT(*) AS c
  FROM (
    SELECT unnest(list_zip(l[1:len(l)-1], l[2:len(l)])) AS p
    FROM l{rnd} WHERE len(l) >= 2
  )
  WHERE p[2] IS NOT NULL
  GROUP BY 1, 2
),
b{rnd} AS (SELECT w1, w2, c FROM p{rnd} ORDER BY c DESC, w1 ASC, w2 ASC LIMIT 1),
t{rnd} AS (
  SELECT replace(s, ' ' || b.w1 || ' ' || b.w2 || ' ',
                    ' ' || b.w1 || '~' || b.w2 || ' ') AS s
  FROM {prev}, b{rnd} b
),
n{rnd} AS (
  SELECT CAST(SUM(len(list_filter(regexp_split_to_array(trim(s), '\\s+'),
                                  x -> x <> ''))) AS BIGINT) AS n
  FROM t{rnd}
)"""


def _bpe_train_sql() -> str:
    parts = [
        f"WITH t0 AS (SELECT ' ' || array_to_string({TOKENS_SQL}, ' ') || ' ' AS s FROM documents)"
    ]
    selects = []
    for rnd in range(1, BPE_ROUNDS + 1):
        parts.append(_round_sql(f"t{rnd - 1}", rnd))
        selects.append(
            f"SELECT CAST({rnd} AS INT) AS round, w1, w2, c AS pair_count, n AS tokens_after "
            f"FROM b{rnd}, n{rnd}"
        )
    return ",\n".join(parts) + "\n" + "\nUNION ALL\n".join(selects)


TEXT_BPE_TRAIN_SQL = _bpe_train_sql()


def _merged_tokens(spark: SparkSession, sf_dir: str, *cols: Column) -> DataFrame:
    """``cols`` of each document plus ``toks``, its whitespace tokens after
    the trained merges: pad the tokens into " t1 t2 ... ", apply each
    (w1, w2) in rank order as training's literal rewrite, then re-tokenize.
    Shared by `text_bpe_encode` and `text_bpe_vocab`."""
    merges = _train_merges(spark, sf_dir)
    enc = load_table(spark, sf_dir, "documents").select(
        *cols, F.concat(F.lit(" "), F.concat_ws(" ", tokens_col()), F.lit(" ")).alias("s")
    )
    for _rnd, w1, w2, _c, _n in merges:
        enc = enc.withColumn(
            "s", F.replace(F.col("s"), F.lit(f" {w1} {w2} "), F.lit(f" {w1}~{w2} "))
        )
    return enc.select(*enc.columns[:-1], tokens_col("s").alias("toks"))


def text_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply the trained BPE merge table to the corpus — the missing half
    of the tokenizer loop (`text_bpe_train` FITS the merges; a training
    pipeline then has to ENCODE every document with them). Per document:
    token counts before/after the merges, how many emitted tokens are
    merged units, and the frequency-ranked token-ID sequence — the ids are
    proven order-exactly via an md5 digest of the comma-joined sequence
    plus its sum, keeping the driver-compared schema scalar (the driver's
    value hash is defined over scalar cells).

    Application semantics are exactly training's rewrite: each learned
    (w1, w2) is applied IN RANK ORDER as a literal left-to-right
    non-overlapping replacement of " w1 w2 " with " w1~w2 " on the
    space-delimited token string — one narrow JVM `replace` map per merge
    rank, no shuffle, no Python in the row path. Token IDs come from the
    post-merge vocabulary ranked by (count DESC, token ASC), id = rank-1;
    the id assignment is a `transform` over a BROADCAST LITERAL map
    (vocab is budget-bounded in any real tokenizer — here base vocab + one
    entry per merge — so the map literal is enum-sized; the same bounded
    collect pattern as the corpus-mix enum broadcasts).

    Scale shape: train is the fit-cached iterative loop (shared with
    `text_bpe_train`, one run per session/dataset); encode itself is ONE
    scan — R chained narrow replaces, a split, and per-row array exprs —
    plus one vocab^2-bounded count aggregate for the ranking. Nothing is
    quadratic and nothing shuffles per document except the single vocab
    count (map-side combinable).

    Oracle: the same unrolled training CTEs as TEXT_BPE_TRAIN_SQL carrying
    doc_id through the rewrites, then the identical vocab ranking and id
    digest in DuckDB — both engines learn from the data and must agree end
    to end. Reference parity: north-star extension (BASELINE.json "text
    analysis"); the shape mirrors the reference's payload-normalize step
    (/root/reference/src/phone.js:36-56) — a learned table applied
    row-wise at scale."""
    enc = _merged_tokens(
        spark, sf_dir, F.col("doc_id"), F.size(tokens_col()).cast("int").alias("n_tokens_base")
    )

    # vocab ranking: one bounded count aggregate; the collect is capped by
    # construction (base vocab + BPE_ROUNDS merge units)
    vocab = (
        enc.select(F.explode("toks").alias("t"))
        .groupBy("t")
        .agg(F.count("*").alias("c"))
        .orderBy(F.col("c").desc(), F.col("t").asc())
        .collect()
    )
    id_map = F.create_map(
        *[x for i, r in enumerate(vocab) for x in (F.lit(r["t"]), F.lit(i))]
    ) if vocab else F.create_map()

    ids = F.transform(F.col("toks"), lambda x: F.element_at(id_map, x))
    return enc.select(
        "doc_id",
        "n_tokens_base",
        F.size("toks").cast("int").alias("n_tokens"),
        F.size(F.filter(F.col("toks"), lambda x: x.contains("~"))).cast("int").alias("n_merged"),
        F.md5(F.concat_ws(",", F.transform(ids, lambda i: i.cast("string")))).alias("ids_sig"),
        F.coalesce(F.aggregate(ids, F.lit(0).cast("long"), lambda acc, i: acc + i), F.lit(0).cast("long")).alias("ids_sum"),
    )


def text_bpe_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The merge-aware vocabulary as a first-class artifact: one row per
    post-merge token with its corpus frequency and the id
    `text_bpe_encode` assigns (rank by count DESC, token ASC, id =
    rank-1). This is the lookup table a downstream consumer ships with the
    encoded corpus — and an independent oracle check of the ranking that
    encode's digest exercises only in aggregate. Bounded output: base
    vocab + one entry per learned merge (any real tokenizer's vocab is
    budget-bounded), so the single count aggregate is the only shuffle."""
    from pyspark.sql import Window

    w = Window.orderBy(F.col("count").desc(), F.col("token").asc())
    return (
        _merged_tokens(spark, sf_dir)
        .select(F.explode("toks").alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("count"))
        # single-partition window is CORRECT here: its input is the
        # budget-bounded vocab relation, never corpus rows
        .select("token", "count", (F.row_number().over(w) - 1).alias("id"))
        .withColumn("is_merged", F.col("token").contains("~"))
    )


def _bpe_vocab_sql() -> str:
    parts = [
        "WITH d0 AS MATERIALIZED (SELECT doc_id, "
        f"' ' || COALESCE(array_to_string({TOKENS_SQL}, ' '), '') || ' ' AS s, "
        "0 AS n_tokens_base FROM documents)"
    ]
    prev = "d0"
    for rnd in range(1, BPE_ROUNDS + 1):
        parts.append(_encode_round_sql(prev, rnd))
        prev = f"d{rnd}"
    parts.append(f"""
tok AS (
  SELECT unnest(list_filter(regexp_split_to_array(trim(s), '\\s+'), x -> x <> '')) AS token
  FROM {prev}
)
SELECT token, COUNT(*) AS count,
       CAST(ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, token ASC) - 1 AS INT) AS id,
       contains(token, '~') AS is_merged
FROM tok GROUP BY token""")
    return ",".join(parts)


def _encode_round_sql(prev: str, rnd: int) -> str:
    """One unrolled merge round carrying doc_id through the rewrite —
    shared by the encode and vocab oracles."""
    return f"""
l{rnd} AS (
  SELECT list_filter(regexp_split_to_array(trim(s), '\\s+'), x -> x <> '') AS l
  FROM {prev}
),
p{rnd} AS (
  SELECT p[1] AS w1, p[2] AS w2, COUNT(*) AS c
  FROM (
    SELECT unnest(list_zip(l[1:len(l)-1], l[2:len(l)])) AS p
    FROM l{rnd} WHERE len(l) >= 2
  )
  WHERE p[2] IS NOT NULL
  GROUP BY 1, 2
),
b{rnd} AS (SELECT w1, w2 FROM p{rnd} ORDER BY c DESC, w1 ASC, w2 ASC LIMIT 1),
d{rnd} AS MATERIALIZED (
  -- LEFT JOIN + CASE, not a cross join: when a round finds no pair (b is
  -- empty) documents must pass through UNCHANGED, matching the Spark
  -- loop's early break — a cross join would drop every row instead
  SELECT doc_id, n_tokens_base,
         CASE WHEN b.w1 IS NULL THEN s
              ELSE replace(s, ' ' || b.w1 || ' ' || b.w2 || ' ',
                              ' ' || b.w1 || '~' || b.w2 || ' ') END AS s
  FROM {prev} LEFT JOIN b{rnd} b ON TRUE
)"""


def _bpe_encode_sql() -> str:
    """Unrolled training rounds (the TEXT_BPE_TRAIN_SQL discipline) with
    doc_id carried through every rewrite, then vocab ranking + id digest."""
    parts = [
        "WITH d0 AS MATERIALIZED (SELECT doc_id, "
        # COALESCE: DuckDB's array_to_string is NULL (not '') on an empty
        # list, and an empty document must encode to zero tokens, not NULLs
        f"' ' || COALESCE(array_to_string({TOKENS_SQL}, ' '), '') || ' ' AS s, "
        f"CAST(len({TOKENS_SQL}) AS INT) AS n_tokens_base FROM documents)"
    ]
    prev = "d0"
    for rnd in range(1, BPE_ROUNDS + 1):
        parts.append(_encode_round_sql(prev, rnd))
        prev = f"d{rnd}"
    parts.append(f"""
enc AS MATERIALIZED (
  SELECT doc_id, n_tokens_base,
         list_filter(regexp_split_to_array(trim(s), '\\s+'), x -> x <> '') AS toks
  FROM {prev}
),
vocab AS MATERIALIZED (
  SELECT t, CAST(ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, t ASC) - 1 AS INT) AS id
  FROM (SELECT unnest(toks) AS t FROM enc) GROUP BY t
),
pos AS (
  SELECT e.doc_id, e.toks[r.i] AS t, r.i
  FROM enc e, UNNEST(range(1, len(e.toks) + 1)) AS r(i)
),
idseq AS (
  SELECT p.doc_id, list(v.id ORDER BY p.i) AS ids
  FROM pos p JOIN vocab v ON v.t = p.t GROUP BY p.doc_id
)
SELECT e.doc_id,
       e.n_tokens_base,
       CAST(len(e.toks) AS INT) AS n_tokens,
       CAST(len(list_filter(e.toks, x -> contains(x, '~'))) AS INT) AS n_merged,
       md5(COALESCE(array_to_string(i.ids, ','), '')) AS ids_sig,
       CAST(COALESCE(list_sum(i.ids), 0) AS BIGINT) AS ids_sum
FROM enc e LEFT JOIN idseq i USING (doc_id)""")
    return ",".join(parts)


TEXT_BPE_ENCODE_SQL = _bpe_encode_sql()
TEXT_BPE_VOCAB_SQL = _bpe_vocab_sql()


QUERIES: dict[str, tuple] = {
    "text_bpe_train": (text_bpe_train, TEXT_BPE_TRAIN_SQL),
    "text_bpe_encode": (text_bpe_encode, TEXT_BPE_ENCODE_SQL),
    "text_bpe_vocab": (text_bpe_vocab, TEXT_BPE_VOCAB_SQL),
}


# --- subword (character-level) BPE ------------------------------------------
#
# The word-level loop above merges WORDS into phrases; real tokenizers run
# the same merge loop INSIDE words, starting from characters (Sennrich,
# Haddow & Birch ACL'16, "Neural machine translation of rare words with
# subword units"). Their key observation is also the 100 TB scale story:
# merges never cross word boundaries, so training needs only the WORD
# FREQUENCY TABLE — one map-side-combinable corpus scan reduces 100 TB of
# text to a vocab-bounded (word, count) relation, and every merge round is
# then a loop over that tiny weighted table. The driver-side merge loop
# below is the same bounded-metadata pattern as the k-means centroid fetch
# and the word-level BPE best-pair fetch: the data that reaches the driver
# is bounded by the tokenizer's vocab budget, never by corpus size.

SUBWORD_ROUNDS = 8
_EOW = "</w>"  # end-of-word marker symbol (the paper's </w>)


def _word_counts(spark: SparkSession, sf_dir: str) -> dict:
    """Corpus word-frequency table (bounded by the word vocabulary) —
    the single scan every subword-family fit reduces to. Fit-cached so
    the subword/WordPiece/unigram trainers and the encoder's ranking pass
    share ONE aggregate per (session, dataset) instead of re-scanning."""

    def build() -> dict:
        docs = load_table(spark, sf_dir, "documents")
        rows = (
            docs.select(F.explode(tokens_col()).alias("w"))
            .groupBy("w")
            .agg(F.count("*").alias("wc"))
            .collect()
        )
        return {r["w"]: int(r["wc"]) for r in rows}

    return dataset_cached(spark, sf_dir, "word_counts", build)


def _spell(word: str) -> str:
    return " " + " ".join(word) + f" {_EOW} "


def _train_subword(spark: SparkSession, sf_dir: str):
    """Fit the subword merge table. Returns (merge_rows, spell) where
    merge_rows = [(round, left, right, merged, pair_count, symbols_after)]
    and spell maps each corpus word to its final symbol sequence. Both are
    vocab-bounded; fit-cached per (session, dataset). The merge rewrite is
    the same literal left-to-right non-overlapping replace as the
    word-level loop (" a b " -> " ab "), so the unrolled DuckDB oracle is
    exact by the identical-replace-semantics argument."""

    def build():
        words = _word_counts(spark, sf_dir)
        spelled = {w: _spell(w) for w in words}
        merges = []
        for rnd in range(1, SUBWORD_ROUNDS + 1):
            counts: dict[tuple, int] = {}
            for w, s in spelled.items():
                syms = s.split()
                for a, b in zip(syms, syms[1:]):
                    counts[(a, b)] = counts.get((a, b), 0) + words[w]
            if not counts:
                break
            (a, b), c = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
            spelled = {
                w: s.replace(f" {a} {b} ", f" {a}{b} ") for w, s in spelled.items()
            }
            n_after = sum(words[w] * len(s.split()) for w, s in spelled.items())
            merges.append((rnd, a, b, a + b, c, n_after))
        return merges, {w: s.split() for w, s in spelled.items()}

    return dataset_cached(spark, sf_dir, "bpe_subword", build)


def text_bpe_subword_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-level BPE training (Sennrich et al. ACL'16): one row per
    merge round — the merged symbol pair, its corpus-weighted frequency at
    selection, and the weighted corpus symbol total after the rewrite
    (verifying every rewrite corpus-wide, the word-level train's
    discipline). Scale shape: ONE corpus scan (map-side-combinable word
    counts); every round then touches only the vocab-bounded weighted word
    table."""
    merges, _spelled = _train_subword(spark, sf_dir)
    return spark.createDataFrame(
        merges,
        "round int, left string, right string, merged string, "
        "pair_count long, symbols_after long",
    )


UNK_ID = -1  # id for a word absent from the fit vocabulary (stream OOV)


def subword_encoder(spark: SparkSession, fit_sf_dir: str, fit=None):
    """Fit the subword tokenizer on ``fit_sf_dir`` and return a pure
    function DataFrame -> DataFrame applying it: per input doc the
    word/char/subword counts and the ORDER-exact md5 digest (+ sum) of the
    subword-id sequence, ids from the corpus-weighted subword vocabulary
    (count DESC, symbol ASC, id = rank-1). The word -> subword-ids map is
    a vocab-bounded broadcast literal, so applying the encoder is ONE
    narrow scan — per-row split + map lookup + flatten + digest, no
    shuffle, no Python in the row path. A word outside the fit vocabulary
    (possible when encoding a DIFFERENT corpus, e.g. a stream of new
    documents) contributes the single UNK_ID — the classic <unk> token;
    a production variant would char-segment OOV words with the learned
    merges, which the bounded map cannot express JVM-side.

    A document's subword sequence is its words' symbol sequences
    concatenated in order, exactly the paper's greedy segmentation.

    ``fit`` overrides the merge table: pass another trainer's
    (merge_rows, spell) — e.g. `_train_wordpiece` — to reuse the whole
    id-ranking + literal-map apply path for a different merge-selection
    rule (the apply semantics are selection-rule-independent)."""
    merges, spelled = fit if fit is not None else _train_subword(spark, fit_sf_dir)

    sub_counts: dict[str, int] = {}
    wcounts = _word_counts(spark, fit_sf_dir)
    for w, syms in spelled.items():
        for s in syms:
            sub_counts[s] = sub_counts.get(s, 0) + wcounts[w]
    vocab = {
        s: i
        for i, s in enumerate(
            sorted(sub_counts, key=lambda s: (-sub_counts[s], s))
        )
    }
    word_ids = {w: [vocab[s] for s in syms] for w, syms in spelled.items()}

    toks = tokens_col()
    if word_ids:
        id_map = F.create_map(
            *[
                x
                for w, ids in sorted(word_ids.items())
                for x in (F.lit(w), F.array(*[F.lit(i) for i in ids]))
            ]
        )
        ids = F.flatten(
            F.transform(
                toks,
                lambda w: F.coalesce(
                    F.element_at(id_map, w), F.array(F.lit(UNK_ID))
                ),
            )
        )
    else:
        # empty fit corpus: no vocab, no map — in-vocab words cannot exist,
        # every input word is UNK (an argless create_map is untypable)
        ids = F.transform(toks, lambda _w: F.lit(UNK_ID))

    def encode(in_docs: DataFrame) -> DataFrame:
        return in_docs.select(
            "doc_id",
            F.size(toks).cast("int").alias("n_words"),
            F.aggregate(
                toks, F.lit(0).cast("long"), lambda acc, w: acc + F.length(w)
            ).alias("n_chars"),
            F.size(ids).cast("int").alias("n_subwords"),
            F.md5(F.concat_ws(",", F.transform(ids, lambda i: i.cast("string")))).alias("sub_sig"),
            F.coalesce(
                F.aggregate(ids, F.lit(0).cast("long"), lambda acc, i: acc + i),
                F.lit(0).cast("long"),
            ).alias("sub_sum"),
        )

    return encode


def text_bpe_subword_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encode every document with the subword merges trained on the SAME
    corpus (no OOV by construction; see `subword_encoder` for the encode
    semantics and scale shape)."""
    return subword_encoder(spark, sf_dir)(load_table(spark, sf_dir, "documents"))


def _subword_round_sql(prev: str, rnd: int) -> str:
    """One unrolled weighted merge round over the spelled word table."""
    return f"""
sl{rnd} AS (
  SELECT word, wc, list_filter(regexp_split_to_array(trim(s), '\\s+'), x -> x <> '') AS l
  FROM {prev}
),
sp{rnd} AS (
  SELECT p[1] AS a, p[2] AS b, SUM(wc) AS c
  FROM (
    SELECT wc, unnest(list_zip(l[1:len(l)-1], l[2:len(l)])) AS p
    FROM sl{rnd} WHERE len(l) >= 2
  )
  WHERE p[2] IS NOT NULL
  GROUP BY 1, 2
),
sb{rnd} AS (SELECT a, b, c FROM sp{rnd} ORDER BY c DESC, a ASC, b ASC LIMIT 1),
sw{rnd} AS MATERIALIZED (
  SELECT word, wc,
         CASE WHEN b.a IS NULL THEN s
              ELSE replace(s, ' ' || b.a || ' ' || b.b || ' ',
                              ' ' || b.a || b.b || ' ') END AS s
  FROM {prev} LEFT JOIN sb{rnd} b ON TRUE
)"""


_SUBWORD_SPELL_SQL = (
    "' ' || array_to_string(list_transform(range(1, len(word) + 1), "
    "i -> substr(word, CAST(i AS INT), 1)), ' ') || ' " + _EOW + " '"
)


def _subword_base_sql() -> str:
    return (
        "WITH w0 AS MATERIALIZED (SELECT t AS word, COUNT(*) AS wc FROM "
        f"(SELECT unnest({TOKENS_SQL}) AS t FROM documents) GROUP BY t),\n"
        f"sw0 AS (SELECT word, wc, {_SUBWORD_SPELL_SQL} AS s FROM w0)"
    )


def _bpe_subword_train_sql() -> str:
    parts = [_subword_base_sql()]
    selects = []
    for rnd in range(1, SUBWORD_ROUNDS + 1):
        parts.append(_subword_round_sql(f"sw{rnd - 1}", rnd))
        selects.append(
            f"SELECT CAST({rnd} AS INT) AS round, a AS left, b AS right, "
            f"a || b AS merged, CAST(c AS BIGINT) AS pair_count, "
            f"(SELECT CAST(SUM(wc * len(list_filter(regexp_split_to_array(trim(s), "
            f"'\\s+'), x -> x <> ''))) AS BIGINT) FROM sw{rnd}) AS symbols_after "
            f"FROM sb{rnd}"
        )
    return ",".join(parts) + "\n" + "\nUNION ALL\n".join(selects)


def _subword_readout_sql(final: str | None = None) -> str:
    """Vocab ranking + per-doc id-digest readout over the final spelled
    word table — shared by the BPE-subword and WordPiece encode oracles
    (the readout is selection-rule-independent, like the Spark apply
    path it mirrors)."""
    final = final or f"sw{SUBWORD_ROUNDS}"
    return f"""
spellf AS MATERIALIZED (
  SELECT word, wc, list_filter(regexp_split_to_array(trim(s), '\\s+'), x -> x <> '') AS syms
  FROM {final}
),
subct AS (
  SELECT sym, SUM(wc) AS c FROM (
    SELECT wc, unnest(syms) AS sym FROM spellf
  ) GROUP BY sym
),
svocab AS MATERIALIZED (
  SELECT sym, CAST(ROW_NUMBER() OVER (ORDER BY c DESC, sym ASC) - 1 AS INT) AS id
  FROM subct
),
wids AS MATERIALIZED (
  -- word -> its subword-id list, symbol order preserved
  SELECT f.word, list(v.id ORDER BY sp.j) AS ids
  FROM spellf f,
       UNNEST(range(1, len(f.syms) + 1)) AS sp(j)
  JOIN svocab v ON v.sym = f.syms[sp.j]
  GROUP BY f.word
),
dtok AS MATERIALIZED (
  SELECT doc_id, {TOKENS_SQL} AS toks FROM documents
),
dwords AS (
  SELECT d.doc_id, d.toks[t.i] AS word, t.i
  FROM dtok d, UNNEST(range(1, len(d.toks) + 1)) AS t(i)
),
dids AS (
  SELECT dw.doc_id, flatten(list(w.ids ORDER BY dw.i)) AS ids
  FROM dwords dw JOIN wids w USING (word)
  GROUP BY dw.doc_id
),
dchars AS (
  SELECT doc_id, CAST(COALESCE(SUM(len(word)), 0) AS BIGINT) AS n_chars
  FROM dwords GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(len(d.toks) AS INT) AS n_words,
       CAST(COALESCE(c.n_chars, 0) AS BIGINT) AS n_chars,
       CAST(COALESCE(len(i.ids), 0) AS INT) AS n_subwords,
       md5(COALESCE(array_to_string(i.ids, ','), '')) AS sub_sig,
       CAST(COALESCE(list_sum(i.ids), 0) AS BIGINT) AS sub_sum
FROM dtok d
LEFT JOIN dids i USING (doc_id)
LEFT JOIN dchars c USING (doc_id)"""


def _bpe_subword_encode_sql() -> str:
    parts = [_subword_base_sql()]
    for rnd in range(1, SUBWORD_ROUNDS + 1):
        parts.append(_subword_round_sql(f"sw{rnd - 1}", rnd))
    parts.append(_subword_readout_sql())
    return ",".join(parts)


TEXT_BPE_SUBWORD_TRAIN_SQL = _bpe_subword_train_sql()
TEXT_BPE_SUBWORD_ENCODE_SQL = _bpe_subword_encode_sql()

# --- WordPiece ---------------------------------------------------------------
#
# Same character-level merge machinery, different SELECTION RULE: WordPiece
# (Schuster & Nakajima ICASSP'12; the BERT tokenizer's trainer) picks the
# pair maximizing count(ab) / (count(a) * count(b)) — the likelihood gain
# of merging under a unigram LM — instead of raw frequency. Rare-but-
# predictive pairs win over frequent-but-independent ones. The score is a
# single IEEE division of exactly-representable integer counts, so the
# selection (and therefore the whole merge table) is bit-identical across
# Spark-driver Python and the DuckDB oracle.


def _train_wordpiece(spark: SparkSession, sf_dir: str):
    """Fit the WordPiece merge table; returns (merge_rows, spell) with
    merge_rows = [(round, left, right, merged, pair_count, score,
    symbols_after)]. Same vocab-bounded word-frequency formulation and
    fit-cache discipline as `_train_subword`."""

    def build():
        words = _word_counts(spark, sf_dir)
        spelled = {w: _spell(w) for w in words}
        merges = []
        for rnd in range(1, SUBWORD_ROUNDS + 1):
            counts: dict[tuple, int] = {}
            sym_counts: dict[str, int] = {}
            for w, s in spelled.items():
                syms = s.split()
                for sym in syms:
                    sym_counts[sym] = sym_counts.get(sym, 0) + words[w]
                for a, b in zip(syms, syms[1:]):
                    counts[(a, b)] = counts.get((a, b), 0) + words[w]
            if not counts:
                break
            (a, b), c = min(
                counts.items(),
                key=lambda kv: (
                    -(kv[1] / (sym_counts[kv[0][0]] * sym_counts[kv[0][1]])),
                    kv[0],
                ),
            )
            score = c / (sym_counts[a] * sym_counts[b])
            spelled = {
                w: s.replace(f" {a} {b} ", f" {a}{b} ") for w, s in spelled.items()
            }
            n_after = sum(words[w] * len(s.split()) for w, s in spelled.items())
            merges.append((rnd, a, b, a + b, c, score, n_after))
        return merges, {w: s.split() for w, s in spelled.items()}

    return dataset_cached(spark, sf_dir, "wordpiece", build)


def text_wordpiece_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WordPiece training (Schuster & Nakajima ICASSP'12): one row per
    merge round with the selected pair, its corpus-weighted frequency, the
    likelihood score count(ab)/(count(a)*count(b)) that picked it, and the
    weighted symbol total after the rewrite. Compare with
    `text_bpe_subword_train` on the same corpus to see where likelihood
    and frequency selection diverge."""
    merges, _sp = _train_wordpiece(spark, sf_dir)
    return spark.createDataFrame(
        merges,
        "round int, left string, right string, merged string, "
        "pair_count long, score double, symbols_after long",
    )


def text_wordpiece_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encode the corpus with the WordPiece merges — the whole apply path
    (id ranking, literal map, digest) is shared with the BPE subword
    encoder; only the merge-selection rule differs."""
    return subword_encoder(
        spark, sf_dir, fit=_train_wordpiece(spark, sf_dir)
    )(load_table(spark, sf_dir, "documents"))


def _wordpiece_round_sql(prev: str, rnd: int) -> str:
    """One unrolled likelihood-scored merge round."""
    return f"""
sl{rnd} AS (
  SELECT word, wc, list_filter(regexp_split_to_array(trim(s), '\\s+'), x -> x <> '') AS l
  FROM {prev}
),
sc{rnd} AS (
  SELECT sym, SUM(wc) AS c FROM (
    SELECT wc, unnest(l) AS sym FROM sl{rnd}
  ) GROUP BY sym
),
sp{rnd} AS (
  SELECT p[1] AS a, p[2] AS b, SUM(wc) AS c
  FROM (
    SELECT wc, unnest(list_zip(l[1:len(l)-1], l[2:len(l)])) AS p
    FROM sl{rnd} WHERE len(l) >= 2
  )
  WHERE p[2] IS NOT NULL
  GROUP BY 1, 2
),
sb{rnd} AS (
  SELECT a, b, c, score FROM (
    SELECT p.a, p.b, p.c, p.c * 1.0 / (ca.c * cb.c) AS score
    FROM sp{rnd} p
    JOIN sc{rnd} ca ON ca.sym = p.a
    JOIN sc{rnd} cb ON cb.sym = p.b
  ) ORDER BY score DESC, a ASC, b ASC LIMIT 1
),
sw{rnd} AS MATERIALIZED (
  SELECT word, wc,
         CASE WHEN b.a IS NULL THEN s
              ELSE replace(s, ' ' || b.a || ' ' || b.b || ' ',
                              ' ' || b.a || b.b || ' ') END AS s
  FROM {prev} LEFT JOIN sb{rnd} b ON TRUE
)"""


def _wordpiece_train_sql() -> str:
    parts = [_subword_base_sql()]
    selects = []
    for rnd in range(1, SUBWORD_ROUNDS + 1):
        parts.append(_wordpiece_round_sql(f"sw{rnd - 1}", rnd))
        selects.append(
            f"SELECT CAST({rnd} AS INT) AS round, a AS left, b AS right, "
            f"a || b AS merged, CAST(c AS BIGINT) AS pair_count, score, "
            f"(SELECT CAST(SUM(wc * len(list_filter(regexp_split_to_array(trim(s), "
            f"'\\s+'), x -> x <> ''))) AS BIGINT) FROM sw{rnd}) AS symbols_after "
            f"FROM sb{rnd}"
        )
    return ",".join(parts) + "\n" + "\nUNION ALL\n".join(selects)


def _wordpiece_encode_sql() -> str:
    parts = [_subword_base_sql()]
    for rnd in range(1, SUBWORD_ROUNDS + 1):
        parts.append(_wordpiece_round_sql(f"sw{rnd - 1}", rnd))
    parts.append(_subword_readout_sql())
    return ",".join(parts)


TEXT_WORDPIECE_TRAIN_SQL = _wordpiece_train_sql()
TEXT_WORDPIECE_ENCODE_SQL = _wordpiece_encode_sql()


QUERIES.update(
    {
        "text_bpe_subword_train": (text_bpe_subword_train, TEXT_BPE_SUBWORD_TRAIN_SQL),
        "text_bpe_subword_encode": (text_bpe_subword_encode, TEXT_BPE_SUBWORD_ENCODE_SQL),
        "text_wordpiece_train": (text_wordpiece_train, TEXT_WORDPIECE_TRAIN_SQL),
        "text_wordpiece_encode": (text_wordpiece_encode, TEXT_WORDPIECE_ENCODE_SQL),
    }
)


# --- Unigram LM tokenizer ----------------------------------------------------
#
# The third major subword algorithm next to BPE and WordPiece: the unigram
# language model (Kudo ACL'18, "Subword regularization"; SentencePiece's
# default). Instead of growing a vocabulary by merges, it ESTIMATES token
# probabilities over a fixed candidate vocabulary with EM, segmenting each
# word by Viterbi under the current model. Implemented here as the
# hard-EM (Viterbi-E-step) variant WITHOUT the pruning schedule — the
# estimation/segmentation core, documented as such; the candidate vocab is
# every word substring up to UNI_CAND_MAX chars, seeded by weighted
# occurrence counts. Same 100 TB formulation as the other subword
# trainers: one corpus scan reduces everything to the vocab-bounded word
# frequency table, and EM runs over that.
#
# Cross-engine determinism: every Viterbi score is a product of doubles
# built by the SAME operation sequence in both engines — each factor is
# one IEEE division usage/total of exactly-representable ints, and the
# path score multiplies them left to right — so comparisons (and the
# smallest-last-token-first tie-break on exact float equality) agree
# bit-for-bit, the wordpiece-score argument extended to products.

UNI_CAND_MAX = 6  # max candidate-token length (chars)
UNI_EM_ITERS = 2  # unrolled EM iterations (hard-EM)
UNI_WORD_MAX = 16  # oracle DP unroll bound; the oracle errors loudly above


def _uni_viterbi(word: str, p: dict[str, float]) -> list[str]:
    """Best segmentation of ``word`` under token probabilities ``p``:
    maximize the left-to-right product of p(token). Ties (exact float
    equality, including the all-zero-probability regime) break toward the
    SHORTEST last token — iterate candidate lengths ascending and replace
    only on strictly greater score, mirroring the oracle's
    ORDER BY score DESC, l ASC."""
    L = len(word)
    best = [1.0] + [-1.0] * L
    back = [0] * (L + 1)
    for i in range(1, L + 1):
        for l in range(1, min(UNI_CAND_MAX, i) + 1):
            t = word[i - l:i]
            if t in p:
                cand = best[i - l] * p[t]
                if cand > best[i]:
                    best[i] = cand
                    back[i] = l
    toks = []
    i = L
    while i > 0:
        l = back[i]
        toks.append(word[i - l:i])
        i -= l
    return toks[::-1]


def _train_unigram(spark: SparkSession, sf_dir: str):
    """Fit the unigram LM. Returns (usage, spell): final per-token weighted
    usage counts (the model numerators; total = their sum) and each corpus
    word's final-model Viterbi segmentation (the E-step of one more
    iteration, i.e. what encode applies). Vocab-bounded; fit-cached."""

    def build():
        words = _word_counts(spark, sf_dir)
        # seed: weighted substring-occurrence counts
        usage: dict[str, int] = {}
        for w, wc in words.items():
            for i in range(len(w)):
                for l in range(1, min(UNI_CAND_MAX, len(w) - i) + 1):
                    t = w[i:i + l]
                    usage[t] = usage.get(t, 0) + wc
        for _it in range(UNI_EM_ITERS):
            total = sum(usage.values())
            p = {t: u / total for t, u in usage.items()}
            nxt: dict[str, int] = {}
            for w, wc in words.items():
                for t in _uni_viterbi(w, p):
                    nxt[t] = nxt.get(t, 0) + wc
            # keep the full candidate support with zero counts: a token
            # unused this E-step has p = 0 next round but remains a legal
            # (score-zero) path, matching the oracle's LEFT-JOIN lookups
            usage = {t: nxt.get(t, 0) for t in usage}
        total = sum(usage.values())
        p = {t: u / total for t, u in usage.items()}
        spell = {w: _uni_viterbi(w, p) for w in words}
        return words, usage, spell

    return dataset_cached(spark, sf_dir, "unigram", build)


def text_unigram_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM training (Kudo ACL'18, hard-EM variant): the shipped
    tokenizer artifact — one row per token USED by the final Viterbi
    segmentations, with its corpus-weighted usage there, its relative
    frequency (one exact IEEE division), and the frequency-ranked id
    `text_unigram_encode` assigns. (The EM-internal probabilities that
    SELECTED these segmentations are intermediate state; the artifact a
    pipeline ships is the segmentation vocabulary.)"""
    words, _usage, spell = _train_unigram(spark, sf_dir)
    counts: dict[str, int] = {}
    for w, syms in spell.items():
        for t in syms:
            counts[t] = counts.get(t, 0) + words[w]
    total = sum(counts.values())
    rows = [
        (t, c, (c / total) if total else 0.0, i)
        for i, (t, c) in enumerate(
            sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        )
    ]
    return spark.createDataFrame(
        rows, "token string, usage long, p double, id int"
    )


def text_unigram_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encode the corpus with the unigram model's Viterbi segmentations —
    the apply path (vocab ranking over the final segmentations, literal
    word -> ids map, order-exact digest) is the shared subword-encoder
    machinery, so ids here match `text_unigram_train` by construction."""
    _words, _usage, spell = _train_unigram(spark, sf_dir)
    fit = ([], dict(spell))
    enc = subword_encoder(spark, sf_dir, fit=fit)
    return enc(load_table(spark, sf_dir, "documents"))


def _uni_em_ctes() -> str:
    """Unrolled EM + final-segmentation CTEs shared by both unigram
    oracles: word table -> weighted candidate counts -> UNI_EM_ITERS
    (vocab -> Viterbi DP -> backtrace -> usage) rounds -> one final
    segmentation pass. The DP unrolls UNI_WORD_MAX positions with a union
    chain so each position's best-score row can join any of the previous
    UNI_CAND_MAX positions; the `wlim` guard errors loudly on a word
    longer than the unroll (the suffix-lcs guard discipline). Viterbi
    score = left-to-right product of usage/total divisions, tie-broken
    score DESC then last-token length ASC — bit-identical to
    `_uni_viterbi`."""
    W, C = UNI_WORD_MAX, UNI_CAND_MAX
    parts = [
        f"w0 AS MATERIALIZED (SELECT t AS word, COUNT(*) AS wc FROM "
        f"(SELECT unnest({TOKENS_SQL}) AS t FROM documents) GROUP BY t)",
        f"""wlim AS MATERIALIZED (
  SELECT CASE WHEN MAX(len(word)) > {W}
              THEN error('unigram oracle: word length ' || MAX(len(word)) ||
                         ' exceeds the {W}-position DP unroll')
              ELSE 1 END AS ok FROM w0)""",
        f"""u0 AS MATERIALIZED (
  SELECT substr(word, CAST(i AS INT), CAST(l AS INT)) AS t, SUM(wc) AS u
  FROM w0,
       UNNEST(range(1, len(word) + 1)) AS p(i),
       UNNEST(range(1, least({C}, len(word) - p.i + 1) + 1)) AS q(l)
  GROUP BY 1)""",
        "tot0 AS MATERIALIZED (SELECT SUM(u) * (SELECT ok FROM wlim) AS s FROM u0)",
    ]
    for k in range(1, UNI_EM_ITERS + 2):  # EM iters + the final pass
        prev = k - 1
        parts.append(
            f"v{k} AS MATERIALIZED (SELECT t, CAST(u AS DOUBLE) / "
            f"CAST((SELECT s FROM tot{prev}) AS DOUBLE) AS p FROM u{prev})"
        )
        parts.append(f"""sp{k} AS MATERIALIZED (
  SELECT w.word, CAST(p.i AS INT) AS i, CAST(q.l AS INT) AS l, v.p
  FROM w0 w,
       UNNEST(range(1, len(w.word) + 1)) AS p(i),
       UNNEST(range(1, least({C}, p.i) + 1)) AS q(l)
  JOIN v{k} v ON v.t = substr(w.word, CAST(p.i AS INT) - CAST(q.l AS INT) + 1, CAST(q.l AS INT)))""")
        parts.append(
            f"dp{k}_0 AS MATERIALIZED (SELECT word, 0 AS i, CAST(1.0 AS DOUBLE) AS score, 0 AS l FROM w0)"
        )
        parts.append(f"dpu{k}_0 AS MATERIALIZED (SELECT * FROM dp{k}_0)")
        for i in range(1, W + 1):
            parts.append(f"""dp{k}_{i} AS MATERIALIZED (
  SELECT word, {i} AS i, score, l FROM (
    SELECT word, score, l,
           ROW_NUMBER() OVER (PARTITION BY word ORDER BY score DESC, l ASC) AS rn
    FROM (
      SELECT s.word, d.score * s.p AS score, s.l
      FROM sp{k} s JOIN dpu{k}_{i - 1} d
        ON d.word = s.word AND d.i = {i} - s.l
      WHERE s.i = {i}
    )
  ) WHERE rn = 1
)""")
            parts.append(
                f"dpu{k}_{i} AS MATERIALIZED (SELECT * FROM dpu{k}_{i - 1} UNION ALL SELECT * FROM dp{k}_{i})"
            )
        parts.append(
            f"bt{k}_{W} AS MATERIALIZED (SELECT word, CAST(len(word) AS INT) AS pos FROM w0)"
        )
        for j in range(W, 0, -1):
            parts.append(f"""tk{k}_{j} AS MATERIALIZED (
  SELECT b.word, b.pos, d.l,
         substr(b.word, b.pos - d.l + 1, d.l) AS token
  FROM bt{k}_{j} b JOIN dpu{k}_{W} d ON d.word = b.word AND d.i = b.pos
  WHERE b.pos > 0)""")
            parts.append(
                f"bt{k}_{j - 1} AS MATERIALIZED (SELECT word, pos - l AS pos FROM tk{k}_{j})"
            )
        seg_union = "\n  UNION ALL ".join(
            f"SELECT word, pos, token FROM tk{k}_{j}" for j in range(W, 0, -1)
        )
        parts.append(f"segs{k} AS MATERIALIZED (\n  {seg_union}\n)")
        if k <= UNI_EM_ITERS:
            # usage over the FULL candidate support (zero-usage tokens stay)
            parts.append(f"""u{k} AS MATERIALIZED (
  SELECT c.t, CAST(COALESCE(s.u, 0) AS BIGINT) AS u
  FROM u0 c LEFT JOIN (
    SELECT g.token AS t, SUM(w.wc) AS u
    FROM segs{k} g JOIN w0 w USING (word) GROUP BY g.token
  ) s USING (t))""")
            parts.append(f"tot{k} AS MATERIALIZED (SELECT SUM(u) AS s FROM u{k})")
    fin = UNI_EM_ITERS + 1
    parts.append(f"""spellw AS MATERIALIZED (
  SELECT w.word, w.wc,
         ' ' || string_agg(g.token, ' ' ORDER BY g.pos) || ' ' AS s
  FROM segs{fin} g JOIN w0 w USING (word)
  GROUP BY w.word, w.wc)""")
    return ",\n".join(parts)


def _unigram_train_sql() -> str:
    return (
        "WITH " + _uni_em_ctes() + f""",
fc AS MATERIALIZED (
  SELECT g.token AS t, CAST(SUM(w.wc) AS BIGINT) AS c
  FROM segs{UNI_EM_ITERS + 1} g JOIN w0 w USING (word) GROUP BY g.token
),
ftot AS (SELECT SUM(c) AS s FROM fc)
SELECT t AS token, c AS usage,
       CAST(c AS DOUBLE) / CAST((SELECT s FROM ftot) AS DOUBLE) AS p,
       CAST(ROW_NUMBER() OVER (ORDER BY c DESC, t ASC) - 1 AS INT) AS id
FROM fc"""
    )


def _unigram_encode_sql() -> str:
    return "WITH " + _uni_em_ctes() + ",\n" + _subword_readout_sql("spellw")


TEXT_UNIGRAM_TRAIN_SQL = _unigram_train_sql()
TEXT_UNIGRAM_ENCODE_SQL = _unigram_encode_sql()

QUERIES.update(
    {
        "text_unigram_train": (text_unigram_train, TEXT_UNIGRAM_TRAIN_SQL),
        "text_unigram_encode": (text_unigram_encode, TEXT_UNIGRAM_ENCODE_SQL),
    }
)
