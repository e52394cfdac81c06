"""Duplicate-detection operators over ``documents`` (north-star extension):

- exact dedup: content-hash groupBy (one shuffle on the hash — the 100 TB
  pattern; hash first so the shuffle carries 32-byte keys, not documents).
- MinHash + LSH near-dup: token-set minhash signatures -> banded LSH ->
  candidate pairs via per-band equi-join (shuffle on band hash), NOT an O(n^2)
  cross join — this is the scale path.
- n-gram Jaccard: exact set similarity on LSH-style blocked candidate pairs.

Hash parity: one md5 per shingle (identical across Spark/DuckDB), split into
two 28-bit chunks feeding an 8-member 2-universal family (see below) — all
arithmetic in int64 range in both engines.

MinHash runs over 3-gram token shingles, not unigrams: this corpus has a
tiny vocabulary, so unigram token sets collide pathologically (one LSH
bucket held 63% of all docs -> ~10M candidate pairs at sf0.1); the shingle
space is |V|^3 and only genuinely similar documents share bands (826 pairs).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from drive_health_etl_spark.operators.fitcache import dataset_cached
from drive_health_etl_spark.operators.text import TOKENS_SQL, tokens_col
from drive_health_etl_spark.session import broadcast_if_small
from drive_health_etl_spark.sources.tables import load_table

N_HASHES = 8
N_BANDS = 4  # bands of 2 hashes each

# 2-universal hash family over ONE md5 per shingle: split the digest into
# two independent 28-bit chunks (x1, x2) and set
#     h_i(s) = (a_i * x1 + b_i * x2 + c_i) mod p,   p = 2^31 - 1.
# One md5 instead of N_HASHES md5s — the md5 evaluations dominate signature
# cost at corpus scale, so this is an ~8x cut on the hot path. Products stay
# < 2^60 (30-bit coefficients x 28-bit chunks): no int64 overflow in either
# engine, and crucially the 31-bit modulus WRAPS ~2^27 times so the family
# scrambles. (Families whose intermediate never exceeds the modulus are
# piecewise-linear: every h_i is minimized on the same few convex-hull
# points of the (x1,x2) set, mins correlate across i, and LSH false
# positives explode — observed 826 -> ~12k pairs at sf0.1 before this fix.)
_MERSENNE_P = (1 << 31) - 1


def _hash_params(i: int) -> tuple[int, int, int]:
    a = (1_000_000_007 * (i + 1)) % (1 << 30) | 1
    b = (2_147_483_629 * (i + 3)) % (1 << 30) | 1
    c = (998_244_353 * (i + 7)) % (1 << 30)
    return a, b, c


_X1_SQL = "(('0x' || substr(md5(shingle), 1, 7))::BIGINT)"
_X2_SQL = "(('0x' || substr(md5(shingle), 9, 7))::BIGINT)"


def _minhash_expr(i: int) -> Column:
    """min over shingles of the i-th universal hash (one shared md5)."""
    a, b, c = _hash_params(i)
    digest = F.md5(F.col("shingle"))
    x1 = F.conv(F.substring(digest, 1, 7), 16, 10).cast("long")
    x2 = F.conv(F.substring(digest, 9, 7), 16, 10).cast("long")
    return F.min((F.lit(a) * x1 + F.lit(b) * x2 + F.lit(c)) % F.lit(_MERSENNE_P)).alias(
        f"mh{i}"
    )


def _minhash_sql(i: int) -> str:
    a, b, c = _hash_params(i)
    return f"MIN(({a} * {_X1_SQL} + {b} * {_X2_SQL} + {c}) % {_MERSENNE_P}) AS mh{i}"


def shingles_col() -> Column:
    """3-gram token shingles from a ``toks`` column (docs with <3 tokens have
    no shingles and drop out of near-dup detection — consistent with the
    DuckDB ``range()`` construction)."""
    return F.when(
        F.size("toks") >= 3,
        F.expr(
            "transform(sequence(0, size(toks)-3),"
            " i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))"
        ),
    ).otherwise(F.array().cast("array<string>"))


# The single-element list_transform wrapper binds the token array ONCE per
# row: referencing TOKENS_SQL inside the per-shingle lambda re-evaluates the
# full regexp split per element (O(tokens^2) regexp work per document — 0.94s
# vs 0.03s for the whole sf0.01 shingle explode in DuckDB). Same rows, same
# order.
SHINGLES_SQL = (
    f"list_transform([{TOKENS_SQL}],"
    " toks -> list_transform(range(1, len(toks)-1),"
    " i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))[1]"
)


def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup via content hash: canonical doc = min doc_id per distinct
    normalized text; n_copies counts collapsed duplicates."""
    docs = load_table(spark, sf_dir, "documents")
    fp = F.md5(F.array_join(tokens_col(), " "))
    return (
        docs.select(F.col("doc_id"), fp.alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(F.min("doc_id").alias("canonical_doc"), F.count("*").alias("n_copies"))
    )


DEDUP_EXACT_SQL = f"""
SELECT md5(array_to_string({TOKENS_SQL}, ' ')) AS fingerprint,
       MIN(doc_id) AS canonical_doc, COUNT(*) AS n_copies
FROM documents GROUP BY 1
"""


# Shared subtrees: signatures and LSH pairs feed FOUR registry queries
# (signatures, pairs, components, jaccard). Recomputing the minhash subtree
# per query dominated the driver-contract runtime; one persisted copy per
# (session, sf_dir) via fitcache.dataset_cached amortizes it. Memory cost is
# one (doc_id, 8 longs) row per document.


def _shingle_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document distinct 3-gram shingle sets, built ONCE per
    (session, sf_dir) via the family subtree cache — the tokenize+shingle
    pass feeds the Jaccard verify, the containment verify, and the
    prefix-filtering join (docs with zero shingles have no bands/prefixes
    and cannot be candidates anywhere, so the size>0 filter is uniform).
    r11: also carries `source` (for the source-overlap audit) and feeds
    the LSH quality/scurve/bias eval queries via a doc_id filter — every
    consumer reaches shingle sets ONLY through shared-shingle pairs or
    per-source distinct shingles, so the size>0 filter stays invisible
    to all of them."""
    docs = load_table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    # The library contract (signatures_for, the synthetic-corpus guard tests)
    # admits bare (doc_id, text) corpora; only the real documents table has
    # `source`. Carry a null source for the bare shape so the shared relation
    # keeps one schema either way.
    src = F.col("source") if "source" in docs.columns else F.lit(None).cast("string")
    return dataset_cached(
        spark, sf_dir, "sh_sets",
        lambda: docs.withColumn("toks", tokens_col())
        .select("doc_id", src.alias("source"), F.array_distinct(shingles_col()).alias("sh_set"))
        .filter(F.size("sh_set") > 0)
        .persist(),
    )


def minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document MinHash signature (8 hash functions over the 3-gram
    shingle set). Explode + 8 min-aggs: one shuffle on doc_id with map-side
    partial mins — signature computation is linear in corpus size."""
    return dataset_cached(
        spark, sf_dir, "sigs", lambda: _build_minhash_signatures(spark, sf_dir).persist()
    )


def signatures_for(docs: DataFrame) -> DataFrame:
    """MinHash signatures (mh0..mh7) for any (doc_id, text) DataFrame —
    batch or micro-batch alike (the streaming dedup-on-arrival operator in
    ``streaming/corpus_stream.py`` calls this per batch)."""
    exploded = docs.withColumn("toks", tokens_col()).select(
        "doc_id", F.explode(shingles_col()).alias("shingle")
    )
    return exploded.groupBy("doc_id").agg(*[_minhash_expr(i) for i in range(N_HASHES)])


def band_keys(sigs: DataFrame) -> DataFrame:
    """Explode signatures to LSH band keys: (doc_id, band, h1, h2) — the
    join/bucket key for candidate generation, batch and streaming."""
    return sigs.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.col(f"mh{2 * b}").alias("h1"),
                        F.col(f"mh{2 * b + 1}").alias("h2"),
                    )
                    for b in range(N_BANDS)
                ]
            )
        ).alias("bs"),
    ).select("doc_id", "bs.band", "bs.h1", "bs.h2")


def _build_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Repartition after the single-file scan so the shingle hashing runs on
    # all cores, not the one scan partition.
    docs = load_table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    return signatures_for(docs)


MINHASH_SIG_SQL = f"""
SELECT doc_id, {', '.join(_minhash_sql(i) for i in range(N_HASHES))}
FROM (SELECT doc_id, unnest({SHINGLES_SQL}) AS shingle FROM documents)
GROUP BY doc_id
"""


# Pathological-bucket guard: a bucket of n docs expands to n^2/2 pairs, so
# one degenerate bucket (e.g. a corpus that is 50% one boilerplate page)
# can dominate the whole job. Buckets are truncated to this many docs.
# Pre-collapsing exact duplicates (dedup_exact) before LSH keeps real
# corpora far below the cap — on this testdata the largest bucket is <20 docs, so the cap
# never binds and the DuckDB oracle (uncapped band self-join) still matches.
BUCKET_CAP = 1000


def _lsh_buckets(sigs: DataFrame) -> DataFrame:
    # Group docs per LSH bucket, instead of a self-join: signatures are
    # computed ONCE (a self-join would recompute the whole minhash subtree
    # for each side) and the shuffle carries (band, h1, h2) -> [doc_id]
    # buckets.
    return (
        band_keys(sigs).groupBy("band", "h1", "h2")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ids"))
        .filter(F.size("ids") > 1)
    )


def dedup_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH candidate pairs: docs agreeing on any band of 2 consecutive
    minhashes. Scale path: explode signatures into (band_idx, h1, h2) keys,
    bucket-group, and expand in-bucket pairs — the shuffle key is the band
    hash, never a cross join. Buckets are truncated at BUCKET_CAP docs
    (sorted, so truncation is deterministic). Output: distinct
    (doc_a, doc_b), doc_a < doc_b."""
    return dataset_cached(
        spark, sf_dir, "pairs", lambda: _build_minhash_pairs(spark, sf_dir).persist()
    )


def _build_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    buckets = _lsh_buckets(minhash_signatures(spark, sf_dir)).withColumn(
        "ids", F.slice(F.col("ids"), 1, BUCKET_CAP)
    )
    pairs = buckets.select(
        F.explode(
            F.expr(
                "flatten(transform(ids, (x, i) ->"
                " transform(slice(ids, i + 2, size(ids)), y ->"
                " struct(x AS doc_a, y AS doc_b))))"
            )
        ).alias("p")
    )
    return pairs.select("p.doc_a", "p.doc_b").distinct()


DEDUP_MINHASH_PAIRS_SQL = f"""
WITH sigs AS (
  SELECT doc_id, {', '.join(_minhash_sql(i) for i in range(N_HASHES))}
  FROM (SELECT doc_id, unnest({SHINGLES_SQL}) AS shingle FROM documents)
  GROUP BY doc_id
)
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
WHERE (a.mh0 = b.mh0 AND a.mh1 = b.mh1)
   OR (a.mh2 = b.mh2 AND a.mh3 = b.mh3)
   OR (a.mh4 = b.mh4 AND a.mh5 = b.mh5)
   OR (a.mh6 = b.mh6 AND a.mh7 = b.mh7)
"""


def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Jaccard verify over distinct 3-gram shingle sets for MinHash-LSH
    candidate pairs. Blocking on LSH bands (not a content key like the first
    token) is the skew-safe scale path: candidate volume is bounded by band
    collisions, and the two equi-joins below are keyed on doc_id — uniformly
    distributed, broadcastable when the candidate set is small relative to
    the corpus. Emits pairs with similarity >= 0.2."""
    sets_df = _shingle_sets(spark, sf_dir)
    cand = dedup_minhash_pairs(spark, sf_dir)
    joined = cand.join(
        sets_df.select(F.col("doc_id").alias("doc_a"), F.col("sh_set").alias("set_a")),
        "doc_a",
    ).join(
        sets_df.select(F.col("doc_id").alias("doc_b"), F.col("sh_set").alias("set_b")),
        "doc_b",
    )
    inter = F.size(F.array_intersect(F.col("set_a"), F.col("set_b")))
    union = F.size("set_a") + F.size("set_b") - inter
    jac = F.round(inter.cast("double") / union.cast("double"), 6)
    return (
        joined.select("doc_a", "doc_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= 0.2)
    )


DEDUP_NGRAM_JACCARD_SQL = f"""
WITH pairs AS ({DEDUP_MINHASH_PAIRS_SQL}),
t AS (
  SELECT doc_id, list_distinct({SHINGLES_SQL}) AS sh_set
  FROM documents
)
SELECT doc_a, doc_b, jaccard FROM (
  SELECT p.doc_a, p.doc_b,
         ROUND(CAST(len(list_intersect(a.sh_set, b.sh_set)) AS DOUBLE)
               / (len(a.sh_set) + len(b.sh_set) - len(list_intersect(a.sh_set, b.sh_set))), 6) AS jaccard
  FROM pairs p JOIN t a ON a.doc_id = p.doc_a JOIN t b ON b.doc_id = p.doc_b
) WHERE jaccard >= 0.2
"""


_CONTAIN_MIN = 0.5  # keep pairs where either direction's containment >= 0.5


def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric shingle CONTAINMENT over MinHash-LSH candidate pairs:
    C(A->B) = |sh(A) n sh(B)| / |sh(A)| — the quote/subset detector Jaccard
    misses (a paragraph fully quoted inside a much longer document has low
    Jaccard but containment ~1). Emits both directions where either is >=
    ``_CONTAIN_MIN``.

    Same scale shape as `dedup_ngram_jaccard` (this is its directional
    twin): candidates come from the banded-LSH join, the verify joins are
    keyed on doc_id. The division is exact-int / exact-int -> identical
    doubles; round 6 per the float policy."""
    sets_df = _shingle_sets(spark, sf_dir)
    cand = dedup_minhash_pairs(spark, sf_dir)
    joined = cand.join(
        sets_df.select(F.col("doc_id").alias("doc_a"), F.col("sh_set").alias("set_a")),
        "doc_a",
    ).join(
        sets_df.select(F.col("doc_id").alias("doc_b"), F.col("sh_set").alias("set_b")),
        "doc_b",
    )
    inter = F.size(F.array_intersect(F.col("set_a"), F.col("set_b"))).cast("double")
    c_ab = F.round(inter / F.size("set_a").cast("double"), 6)
    c_ba = F.round(inter / F.size("set_b").cast("double"), 6)
    return (
        joined.select(
            "doc_a", "doc_b", c_ab.alias("contain_ab"), c_ba.alias("contain_ba")
        )
        .filter(
            (F.col("contain_ab") >= _CONTAIN_MIN) | (F.col("contain_ba") >= _CONTAIN_MIN)
        )
        .orderBy("doc_a", "doc_b")
    )


DEDUP_CONTAINMENT_SQL = f"""
WITH pairs AS ({DEDUP_MINHASH_PAIRS_SQL}),
t AS (
  SELECT doc_id, list_distinct({SHINGLES_SQL}) AS sh_set
  FROM documents
)
SELECT doc_a, doc_b, contain_ab, contain_ba FROM (
  SELECT p.doc_a, p.doc_b,
         ROUND(CAST(len(list_intersect(a.sh_set, b.sh_set)) AS DOUBLE)
               / CAST(len(a.sh_set) AS DOUBLE), 6) AS contain_ab,
         ROUND(CAST(len(list_intersect(a.sh_set, b.sh_set)) AS DOUBLE)
               / CAST(len(b.sh_set) AS DOUBLE), 6) AS contain_ba
  FROM pairs p JOIN t a ON a.doc_id = p.doc_a JOIN t b ON b.doc_id = p.doc_b
) WHERE contain_ab >= {_CONTAIN_MIN} OR contain_ba >= {_CONTAIN_MIN}
ORDER BY doc_a, doc_b
"""


N_SIMHASH_BITS = 16


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash document signatures: per token-hash bit position, majority
    vote weighted +1/-1 across the document's tokens; identical signatures =
    near-dup candidates. 16-bit variant (16 aggregates per doc — each a sum
    over the exploded token hashes, all map-side combinable)."""
    docs = load_table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    exploded = docs.select("doc_id", F.explode(tokens_col()).alias("token")).withColumn(
        "h",
        F.conv(F.substring(F.md5(F.col("token")), 1, 15), 16, 10).cast("long"),
    )
    votes = [
        F.sum(2 * F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1)) - 1).alias(f"v{i}")
        for i in range(N_SIMHASH_BITS)
    ]
    sig = exploded.groupBy("doc_id").agg(*votes)
    code = sig.select(
        "doc_id",
        sum(
            (F.when(F.col(f"v{i}") > 0, F.lit(2**i)).otherwise(F.lit(0)))
            for i in range(N_SIMHASH_BITS)
        ).alias("simhash"),
    )
    return code


_SIMHASH_VOTES_SQL = ", ".join(
    f"SUM(2 * ((h >> {i}) & 1) - 1) AS v{i}" for i in range(N_SIMHASH_BITS)
)
_SIMHASH_CODE_SQL = " + ".join(
    f"(CASE WHEN v{i} > 0 THEN {2**i} ELSE 0 END)" for i in range(N_SIMHASH_BITS)
)

DEDUP_SIMHASH_SQL = f"""
WITH hashed AS (
  SELECT doc_id, ('0x' || substr(md5(token), 1, 15))::BIGINT AS h
  FROM (SELECT doc_id, unnest({TOKENS_SQL}) AS token FROM documents)
), votes AS (
  SELECT doc_id, {_SIMHASH_VOTES_SQL} FROM hashed GROUP BY doc_id
)
SELECT doc_id, CAST({_SIMHASH_CODE_SQL} AS BIGINT) AS simhash FROM votes
"""


def dedup_embedding_near(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, LSH-blocked: only vectors in
    the same random-hyperplane bucket are compared (the scale path — the
    full cross join never materializes), then exact cosine above the
    near-dup threshold (0.4 here — this corpus plants no vector dups, max
    pairwise cosine ~0.51; production near-dup would use ~0.95)."""
    from drive_health_etl_spark.operators.similarity import _dot, _norm
    from drive_health_etl_spark.plans.extended import _bucket_expr

    emb = (
        load_table(spark, sf_dir, "embeddings")
        .repartition(spark.sparkContext.defaultParallelism)
        .select("vec_id", F.col("embedding").cast("array<double>").alias("e"))
        .withColumn("bucket", _bucket_expr(F.col("e")))
    )
    a, b = emb.alias("a"), emb.alias("b")
    cos = F.round(
        _dot(F.col("a.e"), F.col("b.e")) / (_norm(F.col("a.e")) * _norm(F.col("b.e"))), 6
    )
    return (
        a.join(b, (F.col("a.bucket") == F.col("b.bucket")) & (F.col("a.vec_id") < F.col("b.vec_id")))
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            cos.alias("cosine"),
        )
        .filter(F.col("cosine") >= 0.4)
    )


def _dedup_embedding_near_sql() -> str:
    from drive_health_etl_spark.plans.extended import _sql_bucket

    return f"""
WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS emb, {_sql_bucket('embedding::DOUBLE[]')} AS bucket
  FROM embeddings
)
SELECT vec_a, vec_b, cosine FROM (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         ROUND(list_dot_product(a.emb, b.emb)
               / (sqrt(list_dot_product(a.emb, a.emb)) * sqrt(list_dot_product(b.emb, b.emb))), 6) AS cosine
  FROM e a JOIN e b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
) WHERE cosine >= 0.4
"""


def dedup_collapse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup materialization: keep exactly the canonical document row per
    distinct content fingerprint (min doc_id wins) — the corpus a training
    pipeline actually emits after exact dedup."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    fp = F.md5(F.array_join(tokens_col(), " "))
    w = Window.partitionBy("fingerprint").orderBy(F.col("doc_id").asc())
    return (
        docs.withColumn("fingerprint", fp)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "lang", "source", "n_chars")
    )


DEDUP_COLLAPSE_SQL = f"""
SELECT doc_id, lang, source, n_chars FROM (
  SELECT doc_id, lang, source, n_chars,
         ROW_NUMBER() OVER (PARTITION BY md5(array_to_string({TOKENS_SQL}, ' '))
                            ORDER BY doc_id ASC) AS rn
  FROM documents
) WHERE rn = 1
"""


def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware near-dup collapse: cluster on the SimHash code, then
    keep the highest-quality member per cluster (longest document, doc_id
    as the deterministic tiebreak) instead of first-write-wins — the
    curation policy real corpus pipelines use ('among near-dups, keep the
    richest copy').

    Plan: the SimHash aggregation (16 map-side-combinable vote sums), a
    join back to ``documents`` on ``doc_id`` for the quality column, then
    an argmax AGGREGATE on the cluster key — max over (n_chars, -doc_id)
    structs, NOT a row_number window: the aggregate combines map-side, so
    a pathological mega-cluster (the same spam page a billion times) costs
    one partial state per task instead of sorting the whole cluster inside
    a single window partition."""
    codes = dedup_simhash(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    best = F.max(F.struct(F.col("n_chars"), (-F.col("doc_id")).alias("neg_id")))
    return (
        codes.join(docs, "doc_id")
        .groupBy("simhash")
        .agg(F.count("*").alias("cluster_size"), best.alias("best"))
        .select(
            (-F.col("best.neg_id")).alias("doc_id"),
            "simhash",
            F.col("best.n_chars").alias("n_chars"),
            "cluster_size",
        )
    )


DEDUP_KEEP_BEST_SQL = f"""
WITH hashed AS (
  SELECT doc_id, ('0x' || substr(md5(token), 1, 15))::BIGINT AS h
  FROM (SELECT doc_id, unnest({TOKENS_SQL}) AS token FROM documents)
), votes AS (
  SELECT doc_id, {_SIMHASH_VOTES_SQL} FROM hashed GROUP BY doc_id
), codes AS (
  SELECT doc_id, CAST({_SIMHASH_CODE_SQL} AS BIGINT) AS simhash FROM votes
)
SELECT doc_id, simhash, n_chars, cluster_size FROM (
  SELECT c.doc_id, c.simhash, d.n_chars,
         COUNT(*) OVER (PARTITION BY c.simhash) AS cluster_size,
         ROW_NUMBER() OVER (PARTITION BY c.simhash
                            ORDER BY d.n_chars DESC, c.doc_id ASC) AS rn
  FROM codes c JOIN documents d USING (doc_id)
) WHERE rn = 1
"""


# dedup_components runs a driver-side union-find up to this many edges.
SMALL_GRAPH_EDGES = 100_000


def dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the near-dup pair graph — the cluster-
    collapse step after LSH: every doc in a component dedupes to the
    component's min doc_id.

    Spark side: alternating large-star/small-star (Kiveris et al.,
    "Connected Components in MapReduce and Beyond") — converges in
    O(log n) rounds regardless of graph diameter (plain min-label
    propagation needs O(diameter) rounds, which a chain-shaped duplicate
    cluster can make arbitrarily deep). Every round is localCheckpoint-ed,
    so logical-plan lineage stays one round deep no matter how many rounds
    run — no planner blowup on high-diameter graphs. Data never leaves the
    cluster; the driver loop only compares a (count, hash) edge-set
    checksum for convergence.

    Oracle: DuckDB recursive CTE computing min-reachable over the same
    edges — an independent formulation of the same fixpoint."""
    from drive_health_etl_spark.session import shuffle_partitions

    pairs = dedup_minhash_pairs(spark, sf_dir)
    # Hybrid execution: near-dup graphs are tiny relative to the corpus
    # (edges ~ true duplicates, not documents). Below the threshold a
    # driver-side union-find beats 4+ distributed join rounds by an order of
    # magnitude in scheduling overhead; above it, fall through to the
    # distributed star-contraction. Same fixpoint either way.
    n_edges = pairs.count()
    if n_edges <= SMALL_GRAPH_EDGES:
        parent: dict[int, int] = {}

        def find(x: int) -> int:
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in pairs.collect():
            parent.setdefault(a, a)
            parent.setdefault(b, b)
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        # canonical root = min doc_id in component (path-compress to mins)
        roots = [(doc, find(doc)) for doc in parent]
        comp_min: dict[int, int] = {}
        for doc, r in roots:
            comp_min[r] = min(comp_min.get(r, doc), doc)
        result = [(doc, comp_min[r]) for doc, r in roots]
        return spark.createDataFrame(result, "doc_id long, component_root long")
    edges = pairs.select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v"))
    with shuffle_partitions(spark, 8):  # iterative joins on a tiny graph
        labels = _cc_star_contraction(edges)
        labels = labels.localCheckpoint(eager=True)  # pin before conf restore
    return labels


def _cc_large_star(edges: DataFrame) -> DataFrame:
    """Large-star: every node links its strictly-larger neighbors to the
    minimum of its closed neighborhood."""
    bidir = edges.union(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
    mins = bidir.groupBy("u").agg(F.min("v").alias("mv")).select(
        "u", F.least("mv", "u").alias("m")
    )
    return (
        bidir.join(mins, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _cc_small_star(edges: DataFrame) -> DataFrame:
    """Small-star: orient each edge toward its smaller endpoint; every node
    links its smaller neighbors (and itself) to the smallest of them."""
    directed = edges.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    ).distinct()
    mins = directed.groupBy("u").agg(F.min("v").alias("m"))
    relinked = directed.join(mins, "u").select(
        F.col("v").alias("u"), F.col("m").alias("v")
    )
    self_links = mins.select("u", F.col("m").alias("v"))
    return (
        relinked.union(self_links).filter(F.col("u") != F.col("v")).distinct()
    )


def _cc_star_contraction(edges: DataFrame, max_rounds: int = 50) -> DataFrame:
    """Alternate large-star/small-star until the edge set reaches its
    fixpoint (min-rooted stars), checkpointing every round so lineage depth
    is constant. Convergence check: (edge count, sum of edge hashes) —
    one tiny aggregate per round, no driver-side data."""

    def checksum(df: DataFrame):
        # decimal(38,0) sum: long-sum of 64-bit hashes overflows under ANSI
        row = df.agg(
            F.count("*").alias("n"),
            F.coalesce(
                F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")), F.lit(0)
            ).alias("h"),
        ).collect()[0]
        return (row["n"], row["h"])

    edges = edges.localCheckpoint(eager=True)
    prev = None
    for _ in range(max_rounds):
        edges = _cc_small_star(_cc_large_star(edges)).localCheckpoint(eager=True)
        cur = checksum(edges)
        if cur == prev:
            break
        prev = cur
    # converged: edges are (node -> component-min root) stars
    members = edges.select(F.col("u").alias("doc_id"), F.col("v").alias("component_root"))
    roots = edges.select(F.col("v").alias("doc_id")).distinct().select(
        "doc_id", F.col("doc_id").alias("component_root")
    )
    return members.union(roots).distinct()


def _dedup_components_sql() -> str:
    return f"""
WITH RECURSIVE pairs AS ({DEDUP_MINHASH_PAIRS_SQL.strip()}),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION SELECT doc_b AS src, doc_a AS dst FROM pairs
),
reach(src, dst) AS (
  SELECT src, dst FROM edges
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
)
SELECT src AS doc_id, LEAST(src, MIN(dst)) AS component_root
FROM reach GROUP BY src
"""


def dedup_near_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed near-dup flow a corpus pipeline actually ships:
    MinHash signatures -> LSH candidate pairs -> connected components ->
    collapse (component root survives, other members drop) -> per-source
    before/after accounting. One registry entry proving the stages compose
    (each stage is also independently oracle-checked).

    Plan: reuses the cached signature/pair subtrees; the removal set is
    component-members-minus-roots (near-dup-graph-sized, tiny vs the
    corpus) anti-joined against the corpus — the corpus is scanned, never
    shuffled, for the collapse."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    comp = dedup_components(spark, sf_dir)
    removed = comp.filter(F.col("doc_id") != F.col("component_root")).select("doc_id")
    survivors = docs.join(removed, "doc_id", "left_anti")
    before = docs.groupBy("source").agg(F.count("*").alias("n_before"))
    after = survivors.groupBy("source").agg(F.count("*").alias("n_after"))
    return (
        before.join(after, "source", "left")
        .select(
            "source",
            "n_before",
            F.coalesce("n_after", F.lit(0)).alias("n_after"),
            (F.col("n_before") - F.coalesce("n_after", F.lit(0))).alias("n_removed"),
        )
    )


def _dedup_near_pipeline_sql() -> str:
    return f"""
WITH RECURSIVE pairs AS ({DEDUP_MINHASH_PAIRS_SQL.strip()}),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION SELECT doc_b AS src, doc_a AS dst FROM pairs
),
reach(src, dst) AS (
  SELECT src, dst FROM edges
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
),
comp AS (
  SELECT src AS doc_id, LEAST(src, MIN(dst)) AS component_root
  FROM reach GROUP BY src
),
removed AS (SELECT doc_id FROM comp WHERE doc_id <> component_root),
before AS (SELECT source, COUNT(*) AS n_before FROM documents GROUP BY source),
survivors AS (
  SELECT d.source FROM documents d ANTI JOIN removed r ON d.doc_id = r.doc_id
),
after AS (SELECT source, COUNT(*) AS n_after FROM survivors GROUP BY source)
SELECT b.source, b.n_before, COALESCE(a.n_after, 0) AS n_after,
       b.n_before - COALESCE(a.n_after, 0) AS n_removed
FROM before b LEFT JOIN after a ON b.source = a.source
"""


# --- LSH quality evaluation --------------------------------------------------

_EVAL_N = 250  # fixed evaluation subset -> bounded all-pairs at any SF; the
# corpus's tiny vocabulary makes the shared-shingle expansion dense, so the
# subset size is the cost knob (scales ~quadratically)
_EVAL_TAU = 0.5  # "true near-dup" ground-truth threshold


def _eval_shingle_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shingle sets of the _EVAL_N-doc evaluation subset ONLY, as its own
    small cached relation. r12 (VERDICT r11 item 7): the audits previously
    filtered the full-corpus `_shingle_sets` relation, so a COLD session
    running only an audit paid a whole-corpus tokenize+shingle for a
    250-doc evaluation — at 100 TB a real cold-path cost the inline
    subset build never had. The doc_id predicate now reaches the parquet
    scan (PushedFilters), and the per-row transforms are identical to
    `_shingle_sets` (filter-then-shingle == shingle-then-filter row-wise),
    so every consumer's rows are unchanged."""
    return dataset_cached(
        spark, sf_dir, "eval_sh_sets",
        lambda: load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < _EVAL_N)
        .repartition(spark.sparkContext.defaultParallelism)
        .withColumn("toks", tokens_col())
        .select("doc_id", F.array_distinct(shingles_col()).alias("sh_set"))
        .filter(F.size("sh_set") > 0)
        .persist(),
    )


def _eval_pair_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared-shingle pair overlap stats on the fixed evaluation subset:
    (doc_a, doc_b, n_inter, na, nb) for every subset pair sharing >= 1
    shingle. r11 (guide §2.4, share one exchange): this exact subtree —
    explode -> distinct -> inverted-index self-join -> intersection count
    -> two size joins — was rebuilt identically by all THREE estimator-
    audit queries (`dedup_lsh_quality`, `dedup_lsh_scurve`,
    `dedup_minhash_bias`); one persisted copy per (session, dataset) runs
    it once (measured 2.86 + 2.04 + 1.65 s isolated full-run costs, the
    subtree being the dominant share of each). Bounded: the subset is
    _EVAL_N docs, so the relation is at most C(_EVAL_N, 2) slim rows."""

    def build() -> DataFrame:
        sets_df = _eval_shingle_sets(spark, sf_dir)
        sh = sets_df.select("doc_id", F.explode("sh_set").alias("shingle")).distinct()
        a = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
        b = sh.select(F.col("doc_id").alias("doc_b"), "shingle")
        inter = (
            a.join(b, "shingle")
            .filter(F.col("doc_a") < F.col("doc_b"))
            .groupBy("doc_a", "doc_b")
            .agg(F.count("*").alias("n_inter"))
        )
        sizes = sets_df.select("doc_id", F.size("sh_set").alias("n_sh"))
        return inter.join(
            sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("na")), "doc_a"
        ).join(
            sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("nb")), "doc_b"
        ).persist()

    return dataset_cached(spark, sf_dir, "eval_pair_overlap", build)


def dedup_lsh_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured quality of the MinHash-LSH candidate generator: precision
    and recall against EXACT-Jaccard ground truth (pairs with true 3-gram
    Jaccard >= 0.5) on a fixed 500-doc evaluation subset. The "measure,
    don't guess" twin of bench's ANN recall@3 — an LSH dedup whose recall
    nobody measured is not done.

    Ground truth is exact but bounded: candidate pairs come from a
    shared-shingle inverted-index join on the SUBSET (never the corpus),
    so the quadratic term is fenced to 500 docs at any SF; pairs sharing
    zero shingles have Jaccard 0 and can't reach tau. Predictions are the
    production LSH pair generator restricted to the same subset."""
    # r11: ground truth derives from the shared persisted pair-overlap
    # relation (`_eval_pair_overlap` — one inverted-index join per
    # session/dataset, shared with the s-curve and bias audits); empty-set
    # docs, absent from the shingle relation, reach no output either way.
    truth = (
        _eval_pair_overlap(spark, sf_dir)
        .filter(
            F.col("n_inter").cast("double")
            / (F.col("na") + F.col("nb") - F.col("n_inter"))
            >= _EVAL_TAU
        )
        .select("doc_a", "doc_b")
    )
    pred = dedup_minhash_pairs(spark, sf_dir).filter(
        (F.col("doc_a") < _EVAL_N) & (F.col("doc_b") < _EVAL_N)
    )
    hits = pred.join(truth, ["doc_a", "doc_b"], "left_semi")
    stats = (
        truth.agg(F.count("*").alias("n_truth"))
        .join(F.broadcast(pred.agg(F.count("*").alias("n_pred"))))
        .join(F.broadcast(hits.agg(F.count("*").alias("n_hit"))))
    )
    return stats.select(
        "n_truth",
        "n_pred",
        "n_hit",
        # try_divide: an empty truth/pred set at some SF must yield NULL,
        # not an ANSI divide-by-zero error
        F.round(F.try_divide(F.col("n_hit").cast("double"), F.col("n_pred")), 6).alias(
            "precision"
        ),
        F.round(F.try_divide(F.col("n_hit").cast("double"), F.col("n_truth")), 6).alias(
            "recall"
        ),
    )


def _dedup_lsh_quality_sql() -> str:
    return f"""
WITH sub AS (
  SELECT doc_id, list_distinct({SHINGLES_SQL}) AS sh_set
  FROM documents WHERE doc_id < {_EVAL_N}
),
sh AS (SELECT DISTINCT doc_id, unnest(sh_set) AS shingle FROM sub),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
truth AS (
  SELECT i.doc_a, i.doc_b
  FROM inter i
  JOIN sub sa ON sa.doc_id = i.doc_a
  JOIN sub sb ON sb.doc_id = i.doc_b
  WHERE CAST(i.n_inter AS DOUBLE) / (len(sa.sh_set) + len(sb.sh_set) - i.n_inter) >= {_EVAL_TAU}
),
psigs AS (
  -- signatures are doc-local, so LSH pairs among the subset == full-corpus
  -- pairs filtered to the subset; computing only subset signatures keeps
  -- the oracle O(subset)
  SELECT doc_id, {', '.join(_minhash_sql(i) for i in range(N_HASHES))}
  FROM (SELECT doc_id, unnest({SHINGLES_SQL}) AS shingle
        FROM documents WHERE doc_id < {_EVAL_N})
  GROUP BY doc_id
),
pred AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM psigs a JOIN psigs b ON a.doc_id < b.doc_id
  WHERE (a.mh0 = b.mh0 AND a.mh1 = b.mh1)
     OR (a.mh2 = b.mh2 AND a.mh3 = b.mh3)
     OR (a.mh4 = b.mh4 AND a.mh5 = b.mh5)
     OR (a.mh6 = b.mh6 AND a.mh7 = b.mh7)
),
hit AS (SELECT p.doc_a, p.doc_b FROM pred p JOIN truth t ON t.doc_a = p.doc_a AND t.doc_b = p.doc_b),
m AS (
  SELECT (SELECT COUNT(*) FROM truth) AS n_truth,
         (SELECT COUNT(*) FROM pred) AS n_pred,
         (SELECT COUNT(*) FROM hit) AS n_hit
)
SELECT n_truth, n_pred, n_hit,
       ROUND(CAST(n_hit AS DOUBLE) / NULLIF(n_pred, 0), 6) AS precision,
       ROUND(CAST(n_hit AS DOUBLE) / NULLIF(n_truth, 0), 6) AS recall
FROM m
"""


def dedup_lsh_scurve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LSH S-curve, MEASURED: on the fixed evaluation subset, bucket
    every shared-shingle pair by exact-Jaccard decile and report the
    fraction the banded-MinHash generator captures in each bucket — the
    empirical capture-probability curve `P(candidate | J)` that the
    (bands, rows) configuration is chosen against. Completes
    `dedup_lsh_quality` (one point on the curve) with the whole curve.

    Counts exact; only the capture-rate division rounds. The quadratic
    pair term stays fenced to the subset (same argument as lsh_quality)."""
    # r11: decile bucketing derives from the shared persisted pair-overlap
    # relation (`_eval_pair_overlap`, shared with the quality and bias
    # audits); empty-set docs, absent from the shingle relation, reach no
    # output either way.
    jac = (
        _eval_pair_overlap(spark, sf_dir)
        .select(
            "doc_a",
            "doc_b",
            F.least(
                F.floor(
                    F.col("n_inter").cast("double")
                    / (F.col("na") + F.col("nb") - F.col("n_inter"))
                    * 10
                ).cast("int"),
                F.lit(9),
            ).alias("decile"),
        )
    )
    pred = dedup_minhash_pairs(spark, sf_dir).filter(
        (F.col("doc_a") < _EVAL_N) & (F.col("doc_b") < _EVAL_N)
    )
    flagged = jac.join(
        pred.withColumn("cap", F.lit(1)), ["doc_a", "doc_b"], "left"
    ).select("decile", F.coalesce("cap", F.lit(0)).alias("cap"))
    return (
        flagged.groupBy("decile")
        .agg(
            F.count("*").alias("n_pairs"),
            F.sum("cap").alias("n_captured"),
            F.round(
                F.sum("cap").cast("double") / F.count("*").cast("double"), 6
            ).alias("capture_rate"),
        )
        .orderBy("decile")
    )


def _dedup_lsh_scurve_sql() -> str:
    return f"""
WITH sub AS (
  SELECT doc_id, list_distinct({SHINGLES_SQL}) AS sh_set
  FROM documents WHERE doc_id < {_EVAL_N}
),
sh AS (SELECT DISTINCT doc_id, unnest(sh_set) AS shingle FROM sub),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
jac AS (
  SELECT i.doc_a, i.doc_b,
         LEAST(CAST(floor(CAST(i.n_inter AS DOUBLE)
                          / (len(sa.sh_set) + len(sb.sh_set) - i.n_inter) * 10)
                    AS INTEGER), 9) AS decile
  FROM inter i
  JOIN sub sa ON sa.doc_id = i.doc_a
  JOIN sub sb ON sb.doc_id = i.doc_b
),
psigs AS (
  SELECT doc_id, {', '.join(_minhash_sql(i) for i in range(N_HASHES))}
  FROM (SELECT doc_id, unnest({SHINGLES_SQL}) AS shingle
        FROM documents WHERE doc_id < {_EVAL_N})
  GROUP BY doc_id
),
pred AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM psigs a JOIN psigs b ON a.doc_id < b.doc_id
  WHERE (a.mh0 = b.mh0 AND a.mh1 = b.mh1)
     OR (a.mh2 = b.mh2 AND a.mh3 = b.mh3)
     OR (a.mh4 = b.mh4 AND a.mh5 = b.mh5)
     OR (a.mh6 = b.mh6 AND a.mh7 = b.mh7)
),
flagged AS (
  SELECT j.decile, CASE WHEN p.doc_a IS NULL THEN 0 ELSE 1 END AS cap
  FROM jac j LEFT JOIN pred p ON p.doc_a = j.doc_a AND p.doc_b = j.doc_b
)
SELECT decile, COUNT(*) AS n_pairs, CAST(SUM(cap) AS BIGINT) AS n_captured,
       ROUND(CAST(SUM(cap) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6) AS capture_rate
FROM flagged GROUP BY decile ORDER BY decile
"""


def dedup_minhash_bias(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured MinHash ESTIMATOR accuracy: on the evaluation subset's
    shared-shingle pairs, compare the signature-agreement estimate
    (matching minhashes / N_HASHES) against exact Jaccard, reporting mean
    absolute error and bias per exact-Jaccard quintile — the estimator
    audit behind choosing the signature width. Agreement counts and exact
    Jaccard are integers/exact ratios; the error means sum per-term
    decimal-cast and round 6 dp."""
    # r11: exact Jaccard derives from the shared persisted pair-overlap
    # relation (`_eval_pair_overlap`, shared with the quality and s-curve
    # audits); empty-set docs, absent from the shingle relation, reach no
    # output either way.
    exact = (
        _eval_pair_overlap(spark, sf_dir)
        .select(
            "doc_a",
            "doc_b",
            (
                F.col("n_inter").cast("double")
                / (F.col("na") + F.col("nb") - F.col("n_inter"))
            ).alias("jac"),
        )
    )
    sigs = minhash_signatures(spark, sf_dir).filter(F.col("doc_id") < _EVAL_N)
    sa = sigs.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"mh{i}").alias(f"a{i}") for i in range(N_HASHES)],
    )
    sb = sigs.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"mh{i}").alias(f"b{i}") for i in range(N_HASHES)],
    )
    agree = sum(
        (F.col(f"a{i}") == F.col(f"b{i}")).cast("int") for i in range(N_HASHES)
    )
    est = (
        exact.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            (agree.cast("double") / N_HASHES).alias("est"),
            "jac",
            F.least(F.floor(F.col("jac") * 5).cast("int"), F.lit(4)).alias("quintile"),
        )
    )
    return (
        est.groupBy("quintile")
        .agg(
            F.count("*").alias("n_pairs"),
            F.round(
                F.sum(F.abs(F.col("est") - F.col("jac")).cast("decimal(38,18)"))
                .cast("double")
                / F.count("*"),
                6,
            ).alias("mean_abs_err"),
            F.round(
                F.sum((F.col("est") - F.col("jac")).cast("decimal(38,18)"))
                .cast("double")
                / F.count("*"),
                6,
            ).alias("mean_bias"),
        )
        .orderBy("quintile")
    )


def _dedup_minhash_bias_sql() -> str:
    agree = " + ".join(
        f"CASE WHEN a.mh{i} = b.mh{i} THEN 1 ELSE 0 END" for i in range(N_HASHES)
    )
    return f"""
WITH sub AS (
  SELECT doc_id, list_distinct({SHINGLES_SQL}) AS sh_set
  FROM documents WHERE doc_id < {_EVAL_N}
),
sh AS (SELECT DISTINCT doc_id, unnest(sh_set) AS shingle FROM sub),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
exact AS (
  SELECT i.doc_a, i.doc_b,
         CAST(i.n_inter AS DOUBLE)
           / (len(sa.sh_set) + len(sb.sh_set) - i.n_inter) AS jac
  FROM inter i
  JOIN sub sa ON sa.doc_id = i.doc_a
  JOIN sub sb ON sb.doc_id = i.doc_b
),
psigs AS (
  SELECT doc_id, {', '.join(_minhash_sql(i) for i in range(N_HASHES))}
  FROM (SELECT doc_id, unnest({SHINGLES_SQL}) AS shingle
        FROM documents WHERE doc_id < {_EVAL_N})
  GROUP BY doc_id
),
est AS (
  SELECT CAST(({agree}) AS DOUBLE) / {N_HASHES} AS est, e.jac,
         LEAST(CAST(floor(e.jac * 5) AS INTEGER), 4) AS quintile
  FROM exact e
  JOIN psigs a ON a.doc_id = e.doc_a
  JOIN psigs b ON b.doc_id = e.doc_b
)
SELECT quintile, COUNT(*) AS n_pairs,
       ROUND(CAST(SUM(CAST(abs(est - jac) AS DECIMAL(38,18))) AS DOUBLE)
             / COUNT(*), 6) AS mean_abs_err,
       ROUND(CAST(SUM(CAST(est - jac AS DECIMAL(38,18))) AS DOUBLE)
             / COUNT(*), 6) AS mean_bias
FROM est GROUP BY quintile ORDER BY quintile
"""


EXACTSUBSTR_L = 8  # tokens per gram: a "duplicated span" is an exact
# L-token run whose content occurs at ≥2 positions corpus-wide


def _exactsubstr_spans(docs: DataFrame) -> DataFrame:
    """Maximal duplicated token spans (doc_id, s, e) over a docs relation
    carrying a `toks` column — the shared core of
    ``dedup_exactsubstr_spans`` (stats) and ``dedup_exactsubstr_clean``
    (removal). Positions are 0-based; a span covers [s, e)."""
    from pyspark.sql import Window

    L = EXACTSUBSTR_L
    grams = docs.select(
        "doc_id",
        F.posexplode(
            F.when(
                F.size("toks") >= L,
                F.expr(
                    f"transform(sequence(0, size(toks)-{L}),"
                    f" i -> concat_ws(' ', slice(toks, i+1, {L})))"
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("pos", "gram"),
    ).select("doc_id", "pos", F.md5("gram").alias("h"))
    counts = grams.groupBy("h").agg(F.count("*").alias("n_occ"))
    dup = grams.join(counts, "h").filter(F.col("n_occ") > 1).select("doc_id", "pos")

    w = Window.partitionBy("doc_id").orderBy("pos")
    islands = dup.withColumn(
        "brk", F.when(F.col("pos") - F.lag("pos").over(w) > L, 1).otherwise(0)
    ).withColumn("island", F.sum("brk").over(w.rowsBetween(Window.unboundedPreceding, 0)))
    return islands.groupBy("doc_id", "island").agg(
        F.min("pos").alias("s"), (F.max("pos") + F.lit(EXACTSUBSTR_L)).alias("e")
    ).select("doc_id", "s", "e")


def dedup_exactsubstr_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr-style duplicated-span detection (Lee et al. 2021,
    "Deduplicating Training Data Makes Language Models Better"), token-level
    distributed approximation: mark every overlapping L-token gram whose
    content occurs at two or more positions corpus-wide (WITHIN-doc repeats
    included, as in the paper), then merge overlapping/adjacent marked
    positions into MAXIMAL duplicated spans per document (gap > L breaks a
    span; coverage of an island is exactly [min_pos, max_pos + L)).

    Scale shape — the reason this replaces a suffix array at 100 TB: the
    paper's suffix-array pass needs a global sorted order; this formulation
    is two hash-key shuffles (gram count, count join-back) plus one doc-key
    window — counts join back per POSITION, never pair-expanding, so an
    all-identical corpus concentrates only the count row, not O(n^2) pairs.
    Emits per-doc span stats (integer-exact, hash-solid oracle); removal =
    substring drop on the span offsets downstream
    (``dedup_exactsubstr_clean``)."""
    docs = (
        load_table(spark, sf_dir, "documents")
        .repartition(spark.sparkContext.defaultParallelism)
        .withColumn("toks", tokens_col())
    )
    spans = _exactsubstr_spans(docs)
    per_doc = spans.groupBy("doc_id").agg(
        F.count("*").alias("n_dup_spans"),
        F.sum(F.col("e") - F.col("s")).alias("dup_tokens"),
        F.max(F.col("e") - F.col("s")).alias("longest_span"),
    )
    return (
        docs.select("doc_id", F.size("toks").cast("long").alias("n_tokens"))
        .join(per_doc, "doc_id", "left_outer")
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce(F.col("n_dup_spans"), F.lit(0)).cast("long").alias("n_dup_spans"),
            F.coalesce(F.col("dup_tokens"), F.lit(0)).cast("long").alias("dup_tokens"),
            F.coalesce(F.col("longest_span"), F.lit(0)).cast("long").alias("longest_span"),
            F.round(
                F.when(
                    F.col("n_tokens") > 0,
                    F.coalesce(F.col("dup_tokens"), F.lit(0)).cast("double")
                    / F.col("n_tokens"),
                ).otherwise(F.lit(0.0)),
                6,
            ).alias("dup_frac"),
        )
    )


DEDUP_EXACTSUBSTR_SQL = f"""
WITH toks AS (
  SELECT doc_id, {TOKENS_SQL} AS ws FROM documents
),
grams AS (
  SELECT doc_id, i - 1 AS pos,
         md5(array_to_string(ws[i:i+{EXACTSUBSTR_L - 1}], ' ')) AS h
  FROM toks, UNNEST(generate_series(1, len(ws) - {EXACTSUBSTR_L} + 1)) AS u(i)
),
counts AS (SELECT h, COUNT(*) AS n_occ FROM grams GROUP BY h),
dup AS (
  SELECT doc_id, pos FROM grams JOIN counts USING (h) WHERE n_occ > 1
),
isl AS (
  SELECT doc_id, pos,
         SUM(CASE WHEN pos - lagpos > {EXACTSUBSTR_L} THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY pos) AS island
  FROM (
    SELECT doc_id, pos,
           LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS lagpos
    FROM dup
  )
),
spans AS (
  SELECT doc_id, island, MIN(pos) AS s, MAX(pos) + {EXACTSUBSTR_L} AS e
  FROM isl GROUP BY doc_id, island
),
per_doc AS (
  SELECT doc_id, COUNT(*) AS n_dup_spans,
         CAST(SUM(e - s) AS BIGINT) AS dup_tokens,
         CAST(MAX(e - s) AS BIGINT) AS longest_span
  FROM spans GROUP BY doc_id
)
SELECT t.doc_id, CAST(len(t.ws) AS BIGINT) AS n_tokens,
       COALESCE(p.n_dup_spans, 0) AS n_dup_spans,
       COALESCE(p.dup_tokens, 0) AS dup_tokens,
       COALESCE(p.longest_span, 0) AS longest_span,
       ROUND(CASE WHEN len(t.ws) > 0
                  THEN CAST(COALESCE(p.dup_tokens, 0) AS DOUBLE) / len(t.ws)
                  ELSE 0.0 END, 6) AS dup_frac
FROM toks t LEFT JOIN per_doc p USING (doc_id)
"""


def dedup_exactsubstr_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr REMOVAL — the corpus transformation half of Lee et al.
    2021's pipeline (``dedup_exactsubstr_spans`` is the detection half):
    delete every maximal duplicated span from every document and emit the
    cleaned text plus before/after token counts. The paper's semantics are
    deliberately aggressive: EVERY occurrence of a duplicated span is
    dropped (including the "first" one — with no canonical copy, exact-dup
    documents clean to empty), which is what makes the pass idempotent and
    order-independent; a gentler keep-one policy needs a global canonical
    choice and is a different operator.

    Scale shape: reuses the span subtree (two hash-keyed shuffles + one
    doc-key window, never pair-expanding); the spans collapse to a per-doc
    ARRAY of (s, e) structs — bounded by n_tokens/L per doc — and removal
    is then a single per-row higher-order filter over the token array
    (token index covered by no span), zero additional shuffles beyond the
    span aggregation's doc grouping. Output is a full corpus rewrite: at
    100 TB this is scan -> span join -> scan-shaped write, the same cost
    class as the detection pass."""
    docs = (
        load_table(spark, sf_dir, "documents")
        .repartition(spark.sparkContext.defaultParallelism)
        .withColumn("toks", tokens_col())
    )
    sp = _exactsubstr_spans(docs).groupBy("doc_id").agg(
        F.collect_list(F.struct("s", "e")).alias("sp")
    )
    return (
        docs.join(sp, "doc_id", "left_outer")
        .withColumn(
            "sp",
            F.coalesce("sp", F.expr("cast(array() as array<struct<s:int,e:int>>)")),
        )
        .withColumn(
            "kept",
            F.expr("filter(toks, (t, i) -> NOT exists(sp, x -> i >= x.s AND i < x.e))"),
        )
        .select(
            "doc_id",
            F.size("toks").cast("long").alias("n_tokens"),
            F.size("kept").cast("long").alias("kept_tokens"),
            F.concat_ws(" ", F.col("kept")).alias("cleaned_text"),
        )
    )


DEDUP_EXACTSUBSTR_CLEAN_SQL = f"""
WITH toks AS (
  SELECT doc_id, {TOKENS_SQL} AS ws FROM documents
),
grams AS (
  SELECT doc_id, i - 1 AS pos,
         md5(array_to_string(ws[i:i+{EXACTSUBSTR_L - 1}], ' ')) AS h
  FROM toks, UNNEST(generate_series(1, len(ws) - {EXACTSUBSTR_L} + 1)) AS u(i)
),
counts AS (SELECT h, COUNT(*) AS n_occ FROM grams GROUP BY h),
dup AS (
  SELECT doc_id, pos FROM grams JOIN counts USING (h) WHERE n_occ > 1
),
isl AS (
  SELECT doc_id, pos,
         SUM(CASE WHEN pos - lagpos > {EXACTSUBSTR_L} THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY pos) AS island
  FROM (
    SELECT doc_id, pos,
           LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS lagpos
    FROM dup
  )
),
spans AS (
  SELECT doc_id, island, MIN(pos) AS s, MAX(pos) + {EXACTSUBSTR_L} AS e
  FROM isl GROUP BY doc_id, island
),
pos AS (
  SELECT doc_id, u.i - 1 AS p, ws[u.i] AS tok
  FROM toks, UNNEST(generate_series(1, len(ws))) AS u(i)
),
badpos AS (
  SELECT DISTINCT pos.doc_id, pos.p
  FROM pos JOIN spans ON pos.doc_id = spans.doc_id
                     AND pos.p >= spans.s AND pos.p < spans.e
),
keptagg AS (
  SELECT pos.doc_id,
         COUNT(*) FILTER (WHERE b.p IS NULL) AS kept_tokens,
         string_agg(pos.tok, ' ' ORDER BY pos.p) FILTER (WHERE b.p IS NULL)
           AS cleaned_text
  FROM pos LEFT JOIN badpos b ON pos.doc_id = b.doc_id AND pos.p = b.p
  GROUP BY pos.doc_id
)
SELECT t.doc_id, CAST(len(t.ws) AS BIGINT) AS n_tokens,
       CAST(COALESCE(k.kept_tokens, 0) AS BIGINT) AS kept_tokens,
       COALESCE(k.cleaned_text, '') AS cleaned_text
FROM toks t LEFT JOIN keptagg k USING (doc_id)
"""


_PREFIX_T = 0.7  # Jaccard threshold: prefix filtering pays off at HIGH
# thresholds (prefix length = n - ceil(t*n) + 1 ~ (1-t)*n). Measured on this
# corpus (template-heavy docs, so even rare shingles are shared): t=0.2 ->
# 80%-length prefixes, 310k candidates, 128s oracle; t=0.7 + the PPJoin
# positional filter cuts candidates ~30x with the identical result set
# (every real pair here is >= 0.7).


_COUNT_FILTER_BUCKETS = 64  # count-filter histogram width (engine-side
# pruning only — never part of the oracle contract)


def _prefix_pre(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The rarity-ordered prefix relation (doc_id, n, shingle, pos), cached
    per (session, dataset). r12 (guide §2.4, the LSH-audit lesson): the
    candidate self-join consumed this subtree TWICE — side a and side b each
    re-ran the shingle explode, the vocabulary frequency aggregate (a full
    corpus shuffle), and the per-doc rank window (another shuffle + sort),
    because the per-side aliasing defeats ReuseExchange. One persisted copy
    halves those stages and, like the signature cache, amortizes across
    repeat calls. Deterministic: (df asc, shingle asc) is a total order.
    Size: ~(1 - t) of corpus shingle instances + one row per doc, slimmer
    than the shingle-set relation it derives from."""

    def build() -> DataFrame:
        sets_df = _shingle_sets(spark, sf_dir)
        ex = sets_df.select(
            "doc_id", F.size("sh_set").alias("n"), F.explode("sh_set").alias("shingle")
        )
        freq = ex.groupBy("shingle").agg(F.count("*").alias("df"))
        # The rarity order only needs to be a TOTAL order both engines agree
        # on — (df asc, shingle asc) is one, used directly as the per-doc
        # window key. Materializing a global dense rank would mean a
        # single-partition sort of the whole vocabulary: a scale killer the
        # tuple key avoids.
        w = Window.partitionBy("doc_id").orderBy(F.col("df").asc(), F.col("shingle").asc())
        # The df map is vocab-sized: broadcast while it fits the session
        # threshold, sized by a measured distinct-shingle count (one cheap
        # agg over the already-persisted sets, cached per (app, dataset)).
        # Without the hint the planner broadcasts the far larger shingle
        # explode instead (measured: build side flips, +4 stages at sf0.1);
        # with an open vocabulary at 100 TB the equi-join stays keyed.
        n_vocab = dataset_cached(spark, sf_dir, "vocab_size", freq.count)
        return (
            ex.join(broadcast_if_small(freq, n_vocab), "shingle")
            .withColumn("pos", F.row_number().over(w))
            .filter(
                F.col("pos")
                <= F.col("n") - F.ceil(F.lit(_PREFIX_T) * F.col("n")) + F.lit(1)
            )
            .select("doc_id", "n", "shingle", "pos")
            .persist()
        )

    return dataset_cached(spark, sf_dir, "prefix_pre", build)


def _prefix_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The count-filter histograms (doc_id, n, cnt), cached per (session,
    dataset). r12: both candidate sides attached this relation, and the old
    inline expression ran `pmod(xxhash64(s), B)` once per (shingle, bucket)
    — B string hashes per shingle, per side. The hash now runs ONCE per
    shingle into an int array and the B bucket counts scan ints
    (mathematically the same counts, so the pruning decisions — engine-side
    only, never oracle-visible — are unchanged)."""

    def build() -> DataFrame:
        hashed = F.expr(
            f"transform(sh_set, s -> pmod(xxhash64(s), {_COUNT_FILTER_BUCKETS}))"
        )
        cnt = F.expr(
            f"transform(sequence(0, {_COUNT_FILTER_BUCKETS - 1}), b ->"
            f" size(filter(hashed, h -> h = b)))"
        )
        return (
            _shingle_sets(spark, sf_dir)
            .select("doc_id", F.size("sh_set").alias("n"), hashed.alias("hashed"))
            .select("doc_id", "n", cnt.alias("cnt"))
            .persist()
        )

    return dataset_cached(spark, sf_dir, "prefix_sketch", build)


def dedup_prefix_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact set-similarity join via PREFIX FILTERING (the PPJoin/AllPairs
    family): for Jaccard >= t, two shingle sets MUST share at least one
    element among each set's first ``n - ceil(t*n) + 1`` shingles when both
    are sorted by a global rarity order — so candidate generation is an
    equi-join on rare prefix shingles only, with a length-ratio filter
    (``min(n) >= t * max(n)``), then exact verification. Unlike MinHash-LSH
    (probabilistic recall, tunable), prefix filtering is EXACT: it finds
    every qualifying pair by construction, at the cost of frequency-ordering
    the vocabulary.

    Scale shape: the rarity ranking is vocab-sized; prefixes shrink each
    doc's join footprint to the (1-t) rarest fraction, and keying the join
    on the RAREST shingles is precisely what bounds bucket skew (the
    most-frequent shingle never appears in a prefix unless a doc is tiny).
    One shuffle each: doc shingle stats, vocab ranking, prefix window,
    candidate join, verify join — all equi-keyed.

    Completeness vs the LSH path is itself oracle-checked: this query's
    output is the FULL >= t pair set, so any pair the banded
    `dedup_ngram_jaccard` emits must appear here too."""
    # The shingle-set relation feeds the verify sides AND two sibling
    # queries — shared via _shingle_sets (without it the tokenize+shingle
    # pass re-executed per consumer: measured 18s -> 11s with a checkpoint,
    # ~2s warm with the persisted cache; the DuckDB oracle needs
    # AS MATERIALIZED for the identical reason). r12: the prefix relation
    # and the count-filter sketch are likewise cached (`_prefix_pre`,
    # `_prefix_sketch`) — each fed two plan consumers that re-executed the
    # full subtree per side.
    sets_df = _shingle_sets(spark, sf_dir)
    pre = _prefix_pre(spark, sf_dir)
    a = pre.select(
        F.col("doc_id").alias("doc_a"), F.col("n").alias("na"),
        F.col("pos").alias("pa"), "shingle",
    )
    b = pre.select(
        F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"),
        F.col("pos").alias("pb"), "shingle",
    )
    # PPJoin positional filter: Jaccard >= t needs overlap >= ceil(t/(1+t) *
    # (na+nb)); a pair first meeting at prefix positions (pa, pb) can still
    # reach at most 1 + min(na - pa, nb - pb) shared shingles.
    alpha = F.ceil(
        F.lit(_PREFIX_T / (1.0 + _PREFIX_T)) * (F.col("na") + F.col("nb")).cast("double")
    )
    cand = (
        a.join(b, "shingle")
        .filter(
            (F.col("doc_a") < F.col("doc_b"))
            & (
                F.least("na", "nb").cast("double")
                >= F.lit(_PREFIX_T) * F.greatest("na", "nb").cast("double")
            )
            & (
                F.lit(1) + F.least(F.col("na") - F.col("pa"), F.col("nb") - F.col("pb"))
                >= alpha
            )
        )
        .select("doc_a", "doc_b")
        .distinct()
    )
    # Count-filter pre-verify (the PartEnum/count-vector family): per doc, a
    # _COUNT_FILTER_BUCKETS-bucket histogram of hashed shingles; for any
    # pair, sum(min(cnt_a[i], cnt_b[i])) is an EXACT upper bound on the
    # intersection size (each shared shingle lands in the same bucket of
    # both), so ub < ceil(t/(1+t)*(na+nb)) proves J < t with zero false
    # negatives. The tiny-vocab corpus makes prefixes collide promiscuously
    # (measured at sf1: 5.54M candidate pairs, avg 1.02 shared prefix
    # shingles); the count filter kills 99.95% of them (5.54M -> 2.7k)
    # with an int-array join payload instead of the full string shingle
    # sets, leaving the exact array_intersect verify a trivial tail.
    sketch = _prefix_sketch(spark, sf_dir)
    ub = F.expr("aggregate(zip_with(ca, cb, (x, y) -> least(x, y)), 0, (acc, v) -> acc + v)")
    # Round-tolerant alpha: this filter is Spark-side ONLY (the oracle has
    # no count filter), and the final accept is round(J, 6) >= t, which
    # admits true J down to t - 5e-7. Deriving alpha from the strict t
    # could prune a pair in that window engine-side only; t_eff = t - 5e-7
    # makes the bound sound for every pair the rounded verify can accept.
    _t_eff = _PREFIX_T - 5e-7
    alpha_pair = F.ceil(
        F.lit(_t_eff / (1.0 + _t_eff)) * (F.col("na") + F.col("nb")).cast("double")
    )
    cand = (
        cand.join(
            sketch.select(
                F.col("doc_id").alias("doc_a"), F.col("n").alias("na"), F.col("cnt").alias("ca")
            ),
            "doc_a",
        )
        .join(
            sketch.select(
                F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"), F.col("cnt").alias("cb")
            ),
            "doc_b",
        )
        .filter(ub >= alpha_pair)
        .select("doc_a", "doc_b")
    )
    joined = cand.join(
        sets_df.select(F.col("doc_id").alias("doc_a"), F.col("sh_set").alias("set_a")),
        "doc_a",
    ).join(
        sets_df.select(F.col("doc_id").alias("doc_b"), F.col("sh_set").alias("set_b")),
        "doc_b",
    )
    inter = F.size(F.array_intersect(F.col("set_a"), F.col("set_b")))
    union = F.size("set_a") + F.size("set_b") - inter
    jac = F.round(inter.cast("double") / union.cast("double"), 6)
    return joined.select("doc_a", "doc_b", jac.alias("jaccard")).filter(
        F.col("jaccard") >= _PREFIX_T
    )


# MATERIALIZED CTEs: tt/ex/pre are each referenced more than once and the
# shingle construction is the expensive part — DuckDB would otherwise
# re-inline it per reference (the quality_lr oracle lesson).
DEDUP_PREFIX_JOIN_SQL = f"""
WITH t AS MATERIALIZED (
  SELECT doc_id, list_distinct({SHINGLES_SQL}) AS sh_set
  FROM documents
),
tt AS MATERIALIZED (SELECT doc_id, sh_set, len(sh_set) AS n FROM t WHERE len(sh_set) > 0),
ex AS MATERIALIZED (SELECT doc_id, n, unnest(sh_set) AS shingle FROM tt),
freq AS (SELECT shingle, COUNT(*) AS df FROM ex GROUP BY shingle),
pre AS MATERIALIZED (
  SELECT doc_id, n, shingle, pos FROM (
    SELECT e.doc_id, e.n, e.shingle,
           ROW_NUMBER() OVER (PARTITION BY e.doc_id ORDER BY f.df ASC, f.shingle ASC) AS pos
    FROM ex e JOIN freq f USING (shingle)
  ) WHERE pos <= n - CEIL({_PREFIX_T} * n) + 1
),
cand AS MATERIALIZED (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM pre a JOIN pre b
    ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  WHERE CAST(LEAST(a.n, b.n) AS DOUBLE) >= {_PREFIX_T} * CAST(GREATEST(a.n, b.n) AS DOUBLE)
    AND 1 + LEAST(a.n - a.pos, b.n - b.pos)
        >= CEIL({_PREFIX_T / (1.0 + _PREFIX_T)!r} * CAST(a.n + b.n AS DOUBLE))
)
SELECT doc_a, doc_b, jaccard FROM (
  SELECT c.doc_a, c.doc_b,
         ROUND(CAST(len(list_intersect(a.sh_set, b.sh_set)) AS DOUBLE)
               / (len(a.sh_set) + len(b.sh_set) - len(list_intersect(a.sh_set, b.sh_set))), 6) AS jaccard
  FROM cand c JOIN tt a ON a.doc_id = c.doc_a JOIN tt b ON b.doc_id = c.doc_b
) WHERE jaccard >= {_PREFIX_T}
"""


# --- per-document novelty score ---------------------------------------------


def corpus_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document NOVELTY: the fraction of a doc's distinct 3-gram
    shingles that appear in NO other document — the inverse of the
    containment/duplication signals, used as a data-SELECTION weight
    (novel documents add information; near-zero novelty means the doc is
    assembled from text seen elsewhere, even when no single pair crosses a
    dedup threshold). Lives here (not corpus.py) to share the per-session
    `_shingle_sets` subtree cache with the dedup family.

    Exactness: n_unique / n_shingles is a ratio of exact integers; the
    double division of identical ints is IEEE-exact in both engines, so no
    rounding is needed anywhere. Scale shape: one vocab-keyed aggregation
    (docs-per-shingle, map-side combinable since sets are per-doc
    distinct), one equi-keyed join back, one per-doc aggregate — never
    pairwise."""
    sets_df = _shingle_sets(spark, sf_dir)
    ex = sets_df.select("doc_id", F.explode("sh_set").alias("s"))
    dfc = ex.groupBy("s").agg(F.count("*").alias("nd"))
    return (
        ex.join(dfc, "s")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_shingles"),
            F.sum(F.when(F.col("nd") == 1, 1).otherwise(0)).alias("n_unique"),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_unique",
            (F.col("n_unique").cast("double") / F.col("n_shingles")).alias("novelty"),
        )
    )


CORPUS_NOVELTY_SQL = f"""
WITH t AS MATERIALIZED (
  SELECT doc_id, list_distinct({SHINGLES_SQL}) AS sh FROM documents
),
ex AS MATERIALIZED (
  SELECT doc_id, unnest(sh) AS s FROM t WHERE len(sh) > 0
),
dfc AS (SELECT s, COUNT(*) AS nd FROM ex GROUP BY s)
SELECT doc_id, COUNT(*) AS n_shingles,
       CAST(SUM(CASE WHEN nd = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_unique,
       CAST(SUM(CASE WHEN nd = 1 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS novelty
FROM ex JOIN dfc USING (s)
GROUP BY doc_id
"""


# --- multi-resolution shared-substring profile ------------------------------

_LADDER = (8, 16, 32, 64, 128)  # geometric char-gram resolutions


def dedup_substring_ladder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document shared-substring profile at a geometric ladder of
    resolutions — the multi-resolution complement to
    ``dedup_exactsubstr_spans``'s fixed 8-gram pass (Lee et al. 2022's
    ExactSubstr uses a single length threshold; this measures how much
    verbatim overlap exists AT EACH scale, which is how that threshold gets
    chosen for a new corpus). For each k in {8,16,32,64,128}: the number of
    distinct char k-grams appearing in >= 2 distinct documents, and the
    number of documents containing at least one such shared gram. Counts
    decay with k — long verbatim overlaps are rarer — and the decay curve
    separates boilerplate-heavy corpora (flat) from clean ones (steep).

    Scale shape: one explode to (doc, k, gram-hash) rows (~|ladder| x
    corpus chars — scan-shaped, no pairwise work), per-doc-distinct is
    map-side combinable, then two keyed aggregations over the SHARED tail
    only; the gram->doc back-join is equi-keyed on (k, hash). Never
    all-pairs; at 100 TB the profile costs a constant factor of the corpus
    scan. Round-8: grams are folded to a 60-bit engine-portable hash
    (``conv(substr(md5(g),1,15),16,10)`` == DuckDB
    ``('0x'||substr(md5(g),1,15))::BIGINT``) BEFORE any shuffle — the k=128
    rung was shuffling ~128-byte strings through distinct + groupBy + the
    back-join (22.3 s at sf1); 8-byte keys cut the shuffled bytes ~10x.
    Counts are therefore over gram HASHES: both engines hash identically so
    parity is exact by construction, and a 60-bit collision (expected
    ~0.04 collisions at sf1's ~3x10^8 distinct grams) would merge the same
    pair in both engines; a 100 TB run widens to the md5's full 128 bits.
    The k=8..128 rows always appear (left join from the ladder relation),
    so the output shape is stable even on a corpus with zero overlap."""
    docs = load_table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    lad = F.explode(F.array(*[F.lit(k) for k in _LADDER])).alias("k")
    # guard: sequence(1, 0) is [1, 0] in Spark (step defaults to -1), so
    # docs shorter than k must be fenced out before the position explode
    pos = F.explode(
        F.when(
            F.length("text") >= F.col("k"),
            F.sequence(F.lit(1), F.length("text") - F.col("k") + 1),
        ).otherwise(F.array().cast("array<int>"))
    ).alias("i")
    from pyspark.storagelevel import StorageLevel

    gh = F.conv(F.substring(F.md5(F.expr("substring(text, i, k)")), 1, 15), 16, 10).cast(
        "long"
    )
    # r9 shuffle collapse: ONE explicit repartition on (k, h) up front, then
    # every downstream step runs EXCHANGE-FREE — the dedup aggregate needs
    # clustering by (doc, k, h) and hashpartitioning(k, h) satisfies any
    # superset clustering (Spark's subset rule), so dropDuplicates dedups in
    # place AND the persisted relation keeps (k, h) partitioning for the
    # shared-gram count and the semi join. Was: distinct + groupBy + join
    # re-shuffles = 3 full-relation exchanges; now 1 (sf1 warm ~17s -> ~7s).
    dg = (
        docs.select("doc_id", "text", lad)
        .select("doc_id", "k", "text", pos)
        .select("doc_id", "k", gh.alias("h"))
        .repartition(spark.sparkContext.defaultParallelism, "k", "h")
        .dropDuplicates(["doc_id", "k", "h"])
        # two consumers (shared-gram counts + the doc back-join); DISK_ONLY
        # keeps the reuse without holding the relation in executor heap (an
        # eager in-memory checkpoint OOM'd an 8g driver at the sf1 slice)
        .persist(StorageLevel.DISK_ONLY)
    )
    sh = dg.groupBy("k", "h").agg(F.count("*").alias("nd")).filter(F.col("nd") >= 2)
    grams_per_k = sh.groupBy("k").agg(F.count("*").alias("n_shared_grams"))
    # the shared-gram side grows with the corpus's TRUE overlap structure
    # (boilerplate-heavy corpora have millions of shared grams), so it must
    # never be broadcast: AQE's estimate picked a ~300 MB long-string
    # broadcast at the sf1 slice (46s warm); the pinned shuffle-hash join
    # is the only scale-safe strategy
    docs_per_k = (
        dg.join(sh.select("k", "h").hint("shuffle_hash"), ["k", "h"])
        .select("k", "doc_id")
        .distinct()
        .groupBy("k")
        .agg(F.count("*").alias("n_docs_sharing"))
    )
    ladder = spark.createDataFrame([(k,) for k in _LADDER], "k int")
    # explicit broadcast on the |ladder|-row rollups: AQE otherwise flips
    # these 5-row joins between BHJ and SMJ depending on warm state, which
    # made the pinned plan fingerprint order-dependent
    return (
        ladder.join(F.broadcast(grams_per_k), "k", "left")
        .join(F.broadcast(docs_per_k), "k", "left")
        .select(
            "k",
            F.coalesce("n_shared_grams", F.lit(0)).alias("n_shared_grams"),
            F.coalesce("n_docs_sharing", F.lit(0)).alias("n_docs_sharing"),
        )
    )


DEDUP_SUBSTRING_LADDER_SQL = f"""
WITH lad AS (SELECT unnest([{", ".join(str(k) for k in _LADDER)}]) AS k),
dg AS MATERIALIZED (
  SELECT DISTINCT d.doc_id, l.k,
         ('0x' || substr(md5(substr(d.text, i, l.k)), 1, 15))::BIGINT AS h
  FROM documents d
  JOIN lad l ON len(d.text) >= l.k
  CROSS JOIN UNNEST(generate_series(1, len(d.text) - l.k + 1)) AS t(i)
),
sh AS MATERIALIZED (
  SELECT k, h FROM dg GROUP BY k, h HAVING COUNT(*) >= 2
),
gk AS (SELECT k, COUNT(*) AS n_shared_grams FROM sh GROUP BY k),
dk AS (
  SELECT k, COUNT(*) AS n_docs_sharing FROM (
    SELECT DISTINCT dg.k, dg.doc_id FROM dg JOIN sh USING (k, h)
  ) GROUP BY k
)
SELECT lad.k,
       COALESCE(gk.n_shared_grams, 0) AS n_shared_grams,
       COALESCE(dk.n_docs_sharing, 0) AS n_docs_sharing
FROM lad LEFT JOIN gk USING (k) LEFT JOIN dk USING (k)
"""


# --- KMR prefix-doubling shared-substring profile ---------------------------

_KMR_LADDER = (8, 16, 32, 64, 128, 256)
_KMR_SEG = 4096  # segment length (chars); bounds per-row state
_KMR_OVERLAP = _KMR_LADDER[-1] - 1  # k_max-1 overlap preserves every k-gram


def dedup_suffix_doubling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared-substring profile at k = 8..256 built by Karp-Miller-Rosenberg
    prefix doubling (KMR 1972) — the fingerprint-doubling step of
    suffix-array construction (Manber-Myers). One substring extraction at
    k=8 assigns each position a 64-bit fingerprint; each round combines a
    position's fingerprint with the one h characters ahead
    (``id_2h(p) = xxhash64(id_h(p), id_h(p+h))``), so length-2h equality
    classes are built from length-h classes WITHOUT re-extracting text —
    cost independent of gram width (equality classes, not sorted ranks,
    are what dedup counting needs). Per rung the output is the same
    measure as ``dedup_substring_ladder``: distinct k-grams appearing in
    >= 2 documents, and documents touched.

    Distribution strategy: documents are split into 4096-char SEGMENTS
    with k_max-1 = 255-char overlap — the standard sharding identity (a
    k <= 256 gram lies wholly inside at least one segment, and overlap
    duplicates collapse in the per-(k, doc, id) distinct) — and the whole
    doubling chain then runs as per-row array transforms inside one
    narrow scan: no joins, no iteration state, per-row memory bounded by
    the segment cap regardless of document length. Round 8 tried the
    textbook equi-join formulation first: localCheckpoint erases
    partitioning metadata, so every round re-planned as a sort-merge join
    (77 s at sf1) and pinned SHJ hit non-spillable hash-build OOM against
    the checkpoint storage in one 8 GB JVM — the segment form is 9 s at
    sf1 with zero iteration state. (A full suffix ARRAY — unbounded k —
    still wants the join/sort formulation, e.g. pDC3/Flick & Aluru SC'15;
    this operator caps k at 256, which is what the dedup ladder needs.)

    The DuckDB oracle is the INDEPENDENT explode algorithm (extract every
    k-gram per rung and count) — agreement is a cross-algorithm check, not
    a reimplementation. Spark counts fingerprint classes: an xxhash64
    collision would merge two grams (expected ~1e-6 at sf1's ~1.5e7
    positions over the 2^64 space); the oracle's raw-gram counts would
    catch exactly that.

    Measured data-linear floor (round 11): the sf0.1 -> sf1 slope sits at
    ~1.0 because the operator's work is a constant number of hashes and
    one shuffled row PER CORPUS POSITION PER RUNG — scan-shaped cost with
    nothing amortizable, so wall tracks data exactly. A shuffle-volume cut
    was tried and REJECTED: `array_distinct` on each rung's id array
    before the explode (collapsing within-segment repeats pre-shuffle)
    measured 2.2x SLOWER at sf1 (interleaved same-session pairs, 9.4-9.9 s
    -> 20-22 s) — the per-row hash-set build costs more than the removed
    shuffle rows save on this corpus's low within-segment repeat rate."""
    docs = load_table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    step = _KMR_SEG - _KMR_OVERLAP
    segs = (
        docs.filter(F.length("text") >= 8)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    f"transform(sequence(1, length(text), {step}), s -> substring(text, s, {_KMR_SEG}))"
                )
            ).alias("seg"),
        )
        .filter(F.length("seg") >= 8)
    )
    # fingerprint chain as per-row array columns: ids{n}[i] covers
    # seg[i .. i + h - 1] at h = ladder[n]; |ids| = len(seg) - h + 1
    cur = segs.withColumn(
        "ids0",
        F.expr("transform(sequence(1, length(seg) - 7), i -> xxhash64(substring(seg, i, 8)))"),
    ).drop("seg")
    for n, h in enumerate(_KMR_LADDER[:-1]):
        cur = cur.withColumn(
            f"ids{n + 1}",
            F.expr(
                f"CASE WHEN size(ids{n}) > {h} THEN transform(sequence(1, size(ids{n}) - {h}), "
                f"i -> xxhash64(element_at(ids{n}, i), element_at(ids{n}, i + {h}))) "
                f"ELSE CAST(array() AS array<bigint>) END"
            ),
        )
    rung_cols = [
        F.expr(f"transform(ids{n}, x -> struct({k} AS k, x AS id))")
        for n, k in enumerate(_KMR_LADDER)
    ]
    allr = cur.select(
        "doc_id", F.explode(F.concat(*rung_cols)).alias("g")
    ).select("doc_id", F.col("g.k").alias("k"), F.col("g.id").alias("id"))
    # dd feeds BOTH the shared-gram counts and the doc back-join — persist,
    # or the dedup (and the whole fingerprint scan) computes twice. Same
    # r9 shuffle collapse as dedup_substring_ladder: repartition on (k, id)
    # once, dedup in place (subset-clustering rule), and the groupBy + semi
    # join downstream run exchange-free off the persisted partitioning.
    dd = (
        allr.select("k", "doc_id", "id")
        .repartition(spark.sparkContext.defaultParallelism, "k", "id")
        .dropDuplicates(["k", "doc_id", "id"])
        .persist()
    )
    sh = dd.groupBy("k", "id").agg(F.count("*").alias("nd")).filter(F.col("nd") >= 2)
    gk = sh.groupBy("k").agg(F.count("*").alias("n_shared_grams"))
    dk = (
        dd.join(sh.select("k", "id").hint("shuffle_hash"), ["k", "id"], "left_semi")
        .select("k", "doc_id")
        .distinct()
        .groupBy("k")
        .agg(F.count("*").alias("n_docs_sharing"))
    )
    ladder = spark.createDataFrame([(k,) for k in _KMR_LADDER], "k int")
    return (
        ladder.join(F.broadcast(gk), "k", "left")
        .join(F.broadcast(dk), "k", "left")
        .select(
            "k",
            F.coalesce("n_shared_grams", F.lit(0)).alias("n_shared_grams"),
            F.coalesce("n_docs_sharing", F.lit(0)).alias("n_docs_sharing"),
        )
    )


DEDUP_SUFFIX_DOUBLING_SQL = f"""
WITH lad AS (SELECT unnest([{", ".join(str(k) for k in _KMR_LADDER)}]) AS k),
dg AS MATERIALIZED (
  SELECT DISTINCT d.doc_id, l.k, substr(d.text, i, l.k) AS g
  FROM documents d
  JOIN lad l ON len(d.text) >= l.k
  CROSS JOIN UNNEST(generate_series(1, len(d.text) - l.k + 1)) AS t(i)
),
sh AS MATERIALIZED (
  SELECT k, g FROM dg GROUP BY k, g HAVING COUNT(*) >= 2
),
gk AS (SELECT k, COUNT(*) AS n_shared_grams FROM sh GROUP BY k),
dk AS (
  SELECT k, COUNT(*) AS n_docs_sharing FROM (
    SELECT DISTINCT dg.k, dg.doc_id FROM dg JOIN sh USING (k, g)
  ) GROUP BY k
)
SELECT lad.k,
       COALESCE(gk.n_shared_grams, 0) AS n_shared_grams,
       COALESCE(dk.n_docs_sharing, 0) AS n_docs_sharing
FROM lad LEFT JOIN gk USING (k) LEFT JOIN dk USING (k)
"""


# --- content-defined chunking (CDC) ------------------------------------------

_CDC_W = 16  # hash-window width (chars)
_CDC_D = 64  # boundary divisor -> expected chunk length ~ D chars


def dedup_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking dedup stats — the storage-layer complement
    to document-level dedup (Manber 1994's fingerprint anchors; LBFS,
    Muthitacharoen et al. SOSP'01; FastCDC, Xia et al. ATC'16). A chunk
    boundary falls AFTER position i wherever the hash of the trailing
    W=16-char window is ≡ 0 mod D=64, so boundaries move with content:
    insert a byte mid-doc and only the chunks touching the edit change,
    which is why a content-addressed chunk store dedups across shifted
    copies where fixed-size blocks cannot. Output: corpus chunk-store
    stats — chunk counts, distinct/shared chunk contents, exact byte
    dedup ratio.

    The window hash is the engine-portable 60-bit md5 head (identical
    expression in the DuckDB oracle, so boundaries — and therefore every
    count — are exact parity by construction). This is the analyzable
    unconstrained-boundary CDC (chunk lengths geometric, mean ~D); a
    production store adds FastCDC's min/max clamps + normalized masks and
    a rolling Gear hash (O(1)/byte instead of O(W)/byte) — sequential
    within a doc, so it would live in a mapInPandas kernel; the boundary
    SEMANTICS and the store stats here are the same.

    Scale shape: boundary detection + chunk assembly are per-row array
    expressions inside one narrow scan (no shuffle; work bounded by doc
    length x W); then ONE content-keyed aggregation over chunks and two
    scalar folds. At 100 TB the chunk aggregation is the only shuffle and
    its key is ~D-char chunk text (a production store keys on the chunk
    digest instead — same shape)."""
    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.length("text") > 0)
        .repartition(spark.sparkContext.defaultParallelism)
    )
    w, d = _CDC_W, _CDC_D
    bnd = (
        f"filter(CASE WHEN length(text) >= {w} THEN sequence({w}, length(text)) "
        f"ELSE CAST(array() AS array<int>) END, "
        f"i -> CAST(conv(substring(md5(substring(text, i - {w - 1}, {w})), 1, 15), 16, 10) AS BIGINT) % {d} = 0)"
    )
    cuts = (
        f"CASE WHEN size(_bnd) > 0 AND element_at(_bnd, -1) = length(text) THEN _bnd "
        f"ELSE concat(_bnd, array(length(text))) END"
    )
    # Spark transform's index is 0-based; element_at is 1-based, so
    # element_at(_cuts, idx) IS the previous cut for idx >= 1.
    chunks = (
        "transform(_cuts, (c, idx) -> substring(text, "
        "CASE WHEN idx = 0 THEN 1 ELSE element_at(_cuts, idx) + 1 END, "
        "c - CASE WHEN idx = 0 THEN 0 ELSE element_at(_cuts, idx) END))"
    )
    ch = (
        docs.withColumn("_bnd", F.expr(bnd))
        .withColumn("_cuts", F.expr(cuts))
        .select("doc_id", F.explode(F.expr(chunks)).alias("chunk"))
        .persist()
    )
    tot = ch.agg(
        F.count("*").alias("n_chunks"),
        F.sum(F.length("chunk")).alias("bytes_total"),
    )
    per = ch.groupBy("chunk").agg(
        F.count_distinct("doc_id").alias("nd"), F.max(F.length("chunk")).alias("l")
    )
    uniq = per.agg(
        F.count("*").alias("n_distinct_chunks"),
        F.sum(F.when(F.col("nd") >= 2, 1).otherwise(0)).alias("n_shared_chunks"),
        F.sum("l").alias("bytes_unique"),
    )
    return tot.crossJoin(uniq).select(
        "n_chunks",
        "n_distinct_chunks",
        "n_shared_chunks",
        "bytes_total",
        "bytes_unique",
        (F.col("bytes_unique").cast("double") / F.col("bytes_total")).alias("dedup_ratio"),
        (F.col("bytes_total").cast("double") / F.col("n_chunks")).alias("avg_chunk_len"),
    )


DEDUP_CDC_CHUNKS_SQL = f"""
WITH bnd AS (
  SELECT doc_id, text,
         list_filter(
           CASE WHEN len(text) >= {_CDC_W} THEN range({_CDC_W}, len(text) + 1) ELSE [] END,
           i -> ('0x' || substr(md5(substr(text, i - {_CDC_W - 1}, {_CDC_W})), 1, 15))::BIGINT % {_CDC_D} = 0
         ) AS b
  FROM documents WHERE len(text) > 0
),
cuts AS (
  SELECT doc_id, text,
         CASE WHEN len(b) > 0 AND b[-1] = len(text) THEN b
              ELSE list_append(b, len(text)) END AS c
  FROM bnd
),
ch AS MATERIALIZED (
  SELECT doc_id, u.chunk
  FROM (
    SELECT doc_id,
           list_transform(c, (x, idx) -> substr(text,
             CASE WHEN idx = 1 THEN 1 ELSE c[idx - 1] + 1 END,
             x - CASE WHEN idx = 1 THEN 0 ELSE c[idx - 1] END)) AS chunks
    FROM cuts
  ), UNNEST(chunks) AS u(chunk)
),
tot AS (SELECT COUNT(*) AS n_chunks, CAST(SUM(len(chunk)) AS BIGINT) AS bytes_total FROM ch),
per AS (
  SELECT chunk, COUNT(DISTINCT doc_id) AS nd, MAX(len(chunk)) AS l FROM ch GROUP BY chunk
),
uniq AS (
  SELECT COUNT(*) AS n_distinct_chunks,
         CAST(SUM(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared_chunks,
         CAST(SUM(l) AS BIGINT) AS bytes_unique
  FROM per
)
SELECT n_chunks, n_distinct_chunks, n_shared_chunks, bytes_total, bytes_unique,
       CAST(bytes_unique AS DOUBLE) / bytes_total AS dedup_ratio,
       CAST(bytes_total AS DOUBLE) / n_chunks AS avg_chunk_len
FROM tot CROSS JOIN uniq
"""


# --- longest cross-document repeated substring (suffix ranks, unbounded k) ---

# Seed rung cap: rung-r fingerprints hash r chars per position, so the seed
# job's work is O(corpus_chars * 2 * cap) — capped so a single pathological
# multi-MB document cannot make the seed quadratic in its own length. Above
# the cap the bisection loop takes over (it only ever hashes the tiny
# frontier). 1024 matches the DuckDB oracle's rung grid.
_LCS_RUNG_CAP = 1024
# One-shot exhaustive probe budget: after the seed pins L* into
# [best, hi), enumerate EVERY candidate length in one job iff the exploded
# row count and the hashed-char volume stay small; otherwise bisect (the
# 100 TB path — a heavily-duplicated corpus keeps a large frontier).
_LCS_ONESHOT_ROWS = 64_000_000
# r11 (measured): the exhaustive job hashes ~cnt*w*hi chars, a bisection
# probe only ~cnt*hi (one length, same frontier) plus one job of fixed
# overhead — so the one-shot is only worth taking once its volume is
# within a few dozen probe-equivalents. The old 8e9 budget fired with the
# window still 321 lengths wide at sf0.1 (6.9e9 chars hashed, 3.1 s, 60%
# of the query) where one more 19M-char rung probe would first collapse
# the frontier 37k -> ~600; at 5e8 the search takes that probe and the
# one-shot drops to ~22M chars (4.4 -> ~2.4 s end to end, same L* — the
# search is exact along every path, only the probe schedule changes).
_LCS_ONESHOT_CHARS = 500_000_000


def dedup_suffix_lcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT longest cross-document repeated substring — the unbounded-k
    completion of the suffix-rank family (`dedup_suffix_doubling` caps its
    KMR ladder at k=256; this operator answers "how long is the longest
    run of text shared verbatim by two different documents?", the quantity
    a suffix ARRAY's cross-document LCP maximum gives, cf. Manber-Myers
    1990 and the suffix-array dedup machinery of Lee et al. 2022).

    Algorithm (rung-seeded distributed rank bisection): shared(L) :=
    "some length-L substring occurs in >= 2 distinct documents" is
    monotone decreasing in L, so L* is found by search over L in
    [0, max_len]. A probe at L fingerprints every candidate suffix
    position's length-L prefix (xxhash64 of the substring — 64-bit
    equality classes exactly as in KMR prefix doubling, except the class
    id is computed directly because documents are scan-resident strings)
    and hash-aggregates by fingerprint, testing for a class with >= 2
    distinct docs. The search first BISECTS A GEOMETRIC RUNG GRID
    (8, 16, ..., min(max_len, rung cap) — the oracle's rung ladder) by
    rung INDEX, reusing the position FRONTIER across probes (a position
    can start an L-repeat, L > r, only if its r-prefix is already shared),
    pinning lo = best shared rung and hi = 2*best (bisection ends on
    adjacent indices, so the next rung was tested and failed). Only probes
    taken before any rung succeeds scan full corpus positions — at most
    log2(#rungs) of them — where r9's cold start materialized one frontier
    row per corpus character for ~4 rounds (VERDICT r9 item 2); a fused
    all-rungs-in-one-job seed was tried and rejected (#rungs x corpus rows
    of near-unique keys through one shuffle — 2.4x the sf1 wall).
    The remaining window (lo, hi) then resolves EXHAUSTIVELY in one job —
    every candidate length for every frontier position, when
    |frontier| * window fits the one-shot budget — or by per-round
    bisection probes over the shrinking checkpointed frontier when it
    does not (the 100 TB path: a heavily-duplicated corpus keeps a large
    frontier). Driver involvement is one boolean per round
    (`pagerank`-style bounded iteration), <= log2(rung cap) rounds.
    Corpora whose repeats are all shorter than the rung grid (L* < 8)
    take a direct content-grouped ladder over L in [1, 7] — one job, no
    fingerprints; empty documents are filtered before any position
    generator (sequence(1, 0) is the DESCENDING [1, 0] in Spark — two
    empty docs must not fabricate a shared empty prefix; ADVICE r9).

    Readout at L* groups by substring CONTENT (not hash), so the reported
    repeat count and doc count are collision-free; a fingerprint collision
    during the search (prob ~ positions^2 / 2^64) could only inflate L*,
    and the content-grouped readout plus the cross-algorithm oracle would
    both expose it. The DuckDB oracle is a COMPLETELY different algorithm:
    sorted-adjacency over candidate suffixes (the max cross-doc LCP is
    attained at a sorted-adjacent cross-doc pair — the classic suffix-array
    LCP property) with a 21-round unrolled prefix-bisection computing
    each adjacent pair's exact LCP in static SQL.

    Scale shape: the seed is ONE scan-shaped job (<= log2 rung-cap
    fingerprint rows per position, one hash agg); every later job touches
    only the frontier — positions inside cross-document duplicated runs —
    which the rung seed has already collapsed to the near-dup cluster
    positions. The text side broadcasts while the docs relation fits the
    session's broadcast threshold (``broadcast_if_small``) and
    shuffle-joins above it. Nothing is quadratic: candidate positions bound
    the work, never document pairs, and rung fingerprints hash at most
    2 * ``_LCS_RUNG_CAP`` chars per position regardless of document
    length."""
    docs = dataset_cached(
        spark, sf_dir, "lcs_docs",
        lambda: load_table(spark, sf_dir, "documents")
        .repartition(spark.sparkContext.defaultParallelism)
        .select("doc_id", "text", F.length("text").alias("n"))
        .persist(),
    )
    # corpus stats are a dataset property like the cached docs relation
    # itself: fit-cache them so warm calls skip the stats job
    stats = dataset_cached(
        spark, sf_dir, "lcs_stats",
        lambda: tuple(docs.agg(F.max("n"), F.count("*")).first()),
    )
    max_n, n_docs = (stats[0] or 0), stats[1]
    empty = spark.createDataFrame(
        [(0, 0, 0)], "lcs_len int, n_repeats bigint, n_docs bigint"
    )
    if n_docs < 2 or max_n == 0:
        return empty
    # Without the hint the planner broadcasts the checkpointed frontier in
    # 8 of the probe joins instead (measured: +8 stages at sf0.1).
    d_txt = broadcast_if_small(docs, n_docs)

    if max_n < 8:
        # Whole corpus is below the rung grid: one-shot content ladder over
        # L in [1, max_n] — contents compared directly (7-char strings, no
        # fingerprints), one scan + one hash agg. The n >= 1 filter keeps
        # empty documents out of the generator (sequence(1, 0) is the
        # DESCENDING [1, 0] in Spark — two empty docs must not fabricate a
        # shared empty prefix).
        lad = (
            docs.filter(F.col("n") >= 1)
            .select("doc_id", "text", "n",
                    F.explode(F.expr("sequence(1, n)")).alias("ln"))
            .select("doc_id", "ln",
                    F.expr("explode(sequence(1, n - ln + 1))").alias("i"),
                    "text")
            .select("doc_id", "ln", F.expr("substring(text, i, ln)").alias("gc"))
        )
        shared = (
            lad.groupBy("ln", "gc")
            .agg(F.count_distinct("doc_id").alias("nd"))
            .filter(F.col("nd") >= 2)
            .persist()
        )
        lstar = shared.agg(F.max("ln")).first()[0]
        if not lstar:
            shared.unpersist()
            return empty
        grp = shared.filter(F.col("ln") == lstar).select("gc")
        # one Expand aggregation: distinct contents + distinct docs in one
        # job. localCheckpoint the 1-row readout so `shared` can be
        # unpersisted before returning (ADVICE r10: the success path leaked
        # the persisted blocks for the session's lifetime).
        res = (
            lad.filter(F.col("ln") == lstar)
            .join(grp, "gc", "left_semi")
            .agg(
                F.count_distinct("gc").alias("n_repeats"),
                F.count_distinct("doc_id").alias("n_docs"),
            )
            .select(
                F.lit(int(lstar)).cast("int").alias("lcs_len"),
                "n_repeats", "n_docs",
            )
            .localCheckpoint()
        )
        shared.unpersist()
        return res

    # --- rung-ladder bisection seed. Rung-r fingerprints exist for every
    # position whose full r-gram fits; a position starting an L*-repeat has
    # suffix length >= L* >= r, so for every rung r <= L* its r-gram is the
    # shared run's prefix — the best (largest) shared rung pins
    # lo = best <= L* with its positions a SUPERSET of the L*-starting
    # positions: the exact frontier invariant the window search needs. The
    # grid is probed by BINARY SEARCH OVER RUNG INDICES with the frontier
    # reused across probes: only probes taken before any rung has succeeded
    # scan full corpus positions (<= log2(#rungs) of them, worst case —
    # r9's cold start ran ~4 full-position rounds routinely); every later
    # probe runs over the current frontier, which collapses toward
    # duplicated-run positions as the rung grows. A fused
    # all-rungs-in-one-job seed was tried first and REJECTED: it shuffles
    # sum_r positions_r ~ #rungs x corpus rows of near-unique (r, fp) keys
    # (partial aggregation never combines random hashes) — 2.4x the sf1
    # wall of this ladder search.
    rungs = []
    r = 8
    while r <= min(max_n, _LCS_RUNG_CAP):
        rungs.append(r)
        r *= 2

    def _probe(L: int, frontier):
        """shared(L) over `frontier` (None = all corpus positions).
        Returns (shrunk_frontier_or_None, its_count). ONE action per call:
        the eager localCheckpoint materializes the shrunk frontier (an
        empty result IS the "not shared" verdict); the count reads the
        checkpoint. localCheckpoint, not persist: each round's frontier
        plan would otherwise nest the whole previous round's plan —
        exponential plan trees by round ~10 (the pagerank lesson; old
        blocks are freed by the ContextCleaner as rounds drop refs)."""
        if frontier is None:
            base = docs.filter(F.col("n") >= L).select(
                "doc_id", "text",
                F.expr(f"explode(sequence(1, n - {L} + 1))").alias("i"),
            )
        else:
            base = (
                frontier.join(d_txt, "doc_id")
                .filter(F.col("n") - F.col("i") + 1 >= L)
                .select("doc_id", "i", "text")
            )
        test = base.select(
            "doc_id", "i",
            F.expr(f"xxhash64(substring(text, i, {L}))").alias("fp"),
        ).persist()
        hit = (
            test.groupBy("fp")
            .agg(F.count_distinct("doc_id").alias("nd"))
            .filter(F.col("nd") >= 2)
            .select("fp")
        )
        nxt = test.join(hit, "fp", "left_semi").select("doc_id", "i").localCheckpoint()
        test.unpersist()
        cnt = nxt.count()
        return (nxt, cnt) if cnt else (None, 0)

    def _fits_oneshot(cnt: int, lo_: int, hi_: int) -> bool:
        w = hi_ - lo_ - 1
        return (w >= 1 and cnt * w <= _LCS_ONESHOT_ROWS
                and cnt * w * hi_ <= _LCS_ONESHOT_CHARS)

    lo_idx, hi_idx = -1, len(rungs)
    frontier, f_cnt = None, 0
    while hi_idx - lo_idx > 1:
        if frontier is not None and _fits_oneshot(
            f_cnt, rungs[lo_idx],
            rungs[hi_idx] if hi_idx < len(rungs) else max_n + 1,
        ):
            break  # remaining window is cheaper to resolve exhaustively
        mid_idx = (lo_idx + hi_idx) // 2
        nf, cnt = _probe(rungs[mid_idx], frontier)
        if nf is not None:
            lo_idx, frontier, f_cnt = mid_idx, nf, cnt
        else:
            hi_idx = mid_idx
    if lo_idx == -1:
        # No shared 8-gram: L* < 8. One-shot direct ladder over L in [1, 7]
        # (content-grouped — no fingerprints at these widths).
        lad = (
            docs.filter(F.col("n") >= 1)
            .select("doc_id", "text", "n",
                    F.explode(F.expr("sequence(1, least(n, 7))")).alias("ln"))
            .select("doc_id", "ln",
                    F.expr("explode(sequence(1, n - ln + 1))").alias("i"),
                    "text")
            .select("doc_id", "ln", F.expr("substring(text, i, ln)").alias("gc"))
        )
        sm = (
            lad.groupBy("ln", "gc")
            .agg(F.count_distinct("doc_id").alias("nd"))
            .filter(F.col("nd") >= 2)
            .persist()
        )
        lstar = sm.agg(F.max("ln")).first()[0]
        if not lstar:
            sm.unpersist()
            return empty
        grp = sm.filter(F.col("ln") == lstar).select("gc")
        # 1-row readout localCheckpointed so `sm` can be unpersisted on the
        # success path too (ADVICE r10 leak fix, same as the max_n < 8 path).
        res = (
            lad.filter(F.col("ln") == lstar)
            .join(grp, "gc", "left_semi")
            .agg(
                F.count_distinct("gc").alias("n_repeats"),
                F.count_distinct("doc_id").alias("n_docs"),
            )
            .select(
                F.lit(int(lstar)).cast("int").alias("lcs_len"),
                "n_repeats", "n_docs",
            )
            .localCheckpoint()
        )
        sm.unpersist()
        return res

    lo = rungs[lo_idx]
    # hi is proven either way the loop ended: hi_idx was only ever set by a
    # FAILED probe at rungs[hi_idx] (so L* < rungs[hi_idx]); when no probed
    # rung failed, the grid stopped at max_n (L* <= max_n trivially) or at
    # the rung cap (the window bisection below does the honest work).
    hi = rungs[hi_idx] if hi_idx < len(rungs) else max_n + 1

    # Window bisection runs only while the one-shot budget rejects the
    # window; the frontier shrinks every successful probe, so the search
    # always hands off to the exhaustive job once it is cheap.
    while hi - lo > 1 and not _fits_oneshot(f_cnt, lo, hi):
        mid = (lo + hi) // 2
        nf, cnt = _probe(mid, frontier)
        if nf is not None:
            frontier, f_cnt, lo = nf, cnt, mid
        else:
            hi = mid
    if hi - lo > 1:
        # One-shot exhaustive probe: every candidate length in (lo, hi) for
        # every frontier position, one scan + one hash agg — replaces the
        # tail of the bisection once the frontier has collapsed.
        sh = (
            frontier.join(d_txt, "doc_id")
            .filter(F.col("n") - F.col("i") + 1 >= lo + 1)
            .select("doc_id", "i", "text",
                    F.expr(f"explode(sequence({lo + 1}, least({hi - 1}, n - i + 1)))").alias("ln"))
            .select("doc_id", "ln",
                    F.expr("xxhash64(substring(text, i, ln))").alias("fp"))
            .groupBy("ln", "fp")
            .agg(F.count_distinct("doc_id").alias("nd"))
            .filter(F.col("nd") >= 2)
            .agg(F.max("ln"))
            .first()[0]
        )
        lo = int(sh) if sh else lo
    if lo == 0:
        return empty
    sharedg = (
        frontier.join(d_txt, "doc_id")
        .filter(F.col("n") - F.col("i") + 1 >= lo)
        .select("doc_id", F.expr(f"substring(text, i, {lo})").alias("gc"))
    )
    grp = (
        sharedg.groupBy("gc")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("gc")
    )
    # one Expand aggregation replaces the r9 two-agg scalar crossJoin:
    # n_repeats = distinct shared contents, n_docs = distinct docs holding
    # one — both over the semi-joined positions, single job
    return (
        sharedg.join(grp, "gc", "left_semi")
        .agg(
            F.count_distinct("gc").alias("n_repeats"),
            F.count_distinct("doc_id").alias("n_docs"),
        )
        .select(F.lit(lo).cast("int").alias("lcs_len"), "n_repeats", "n_docs")
    )


_LCS_ORACLE_HI0 = 2 ** 21  # bisection range; guarded against doc length below


def _lcs_bisect_ctes(rounds: int = 21, hi0: int = _LCS_ORACLE_HI0) -> str:
    """Unrolled exact-LCP bisection rounds over candidate adjacent pairs:
    invariant after round t — prefix of length lo matches, prefix of length
    hi does not. hi0 must exceed every candidate string's length: when
    best < max rung the candidates are capped at 2*best <= 1024 chars
    (rung 2*best was tested and failed, so L* < 2*best — the cap loses
    nothing); when best == max rung that bound is UNPROVEN (ADVICE r9), so
    the cs CTE keeps FULL suffixes and the `lim` guard CTE errors loudly if
    any CANDIDATE string reaches hi0 = 2^21 chars (21 rounds = log2(hi0),
    so the search converges to hi - lo = 1 and stays exact up to that
    length). The guard measures cs's candidate lengths, not raw document
    length (ADVICE r10): on the capped best < 1024 branch candidates are
    <= 2048 chars and a multi-MiB document must NOT trip the error."""
    parts = ["b0 AS (SELECT s, ns, 0 AS lo, %d AS hi FROM pairs)" % hi0]
    for t in range(1, rounds + 1):
        parts.append(
            f"b{t} AS (SELECT s, ns, CASE WHEN ok THEN m ELSE lo END AS lo, "
            f"CASE WHEN ok THEN hi ELSE m END AS hi FROM ("
            f"SELECT s, ns, lo, hi, (lo + hi) // 2 AS m, "
            f"((lo + hi) // 2 <= least(len(s), len(ns)) AND "
            f"substr(s, 1, (lo + hi) // 2) = substr(ns, 1, (lo + hi) // 2)) AS ok "
            f"FROM b{t - 1}))"
        )
    return ",\n".join(parts)


def _suffix_lcs_oracle_sql(rounds: int = 21, hi0: int = _LCS_ORACLE_HI0) -> str:
    """Build the suffix-lcs oracle with a parameterized bisection range so
    tests can exercise the `lim` guard cheaply (small hi0) on both the
    capped and uncapped candidate branches; the registry ships the
    default rounds=21 / hi0=2^21 instance."""
    return f"""
WITH d AS MATERIALIZED (SELECT doc_id, text, len(text) AS n FROM documents),
rungs AS (SELECT unnest([8, 16, 32, 64, 128, 256, 512, 1024]) AS r),
rg AS MATERIALIZED (
  -- md5 hex keys, not gram strings: the materialized rung relation would
  -- otherwise carry up-to-512-char substrings (~10x the bytes); a 128-bit
  -- key never collides in practice and the LCP bisection downstream is
  -- exact on the real text either way
  SELECT r.r, t.i, d.doc_id, md5(substr(d.text, t.i, r.r)) AS h
  FROM d JOIN rungs r ON d.n >= r.r, UNNEST(range(1, d.n - r.r + 2)) AS t(i)
),
shr AS MATERIALIZED (
  SELECT r, h FROM rg GROUP BY r, h HAVING COUNT(DISTINCT doc_id) >= 2
),
best AS MATERIALIZED (SELECT COALESCE(MAX(r), 0) AS r FROM shr),
-- L* < 8 fallback: tiny direct ladder over lengths 1..7. The range bound
-- collapses to an empty generator when a rung already matched, and every
-- scalar CTE here is MATERIALIZED: un-materialized scalars get re-inlined
-- at each reference and this branch's 10M-row generation was re-running
-- ~6x (34s -> ~4s at sf0.1).
small AS (
  SELECT ll.l, substr(d.text, t.i, ll.l) AS g, d.doc_id
  FROM d, UNNEST([1, 2, 3, 4, 5, 6, 7]) AS ll(l),
       UNNEST(range(1, CASE WHEN (SELECT r FROM best) = 0
                            THEN d.n - ll.l + 2 ELSE 1 END)) AS t(i)
  WHERE d.n >= ll.l
),
lsmall AS MATERIALIZED (
  SELECT COALESCE(MAX(l), 0) AS l FROM (
    SELECT l FROM small GROUP BY l, g HAVING COUNT(DISTINCT doc_id) >= 2
  )
),
-- candidate suffixes: positions whose best-rung gram is cross-doc shared.
-- When best < max rung, capped at 2 * best chars: rung 2*best was tested
-- and not shared, so L* < 2*best and LCPs never need more. When best ==
-- max rung (1024) that bound is unproven (ADVICE r9), so keep the FULL
-- suffix — the lim guard bounds it below the bisection range.
cs AS MATERIALIZED (
  SELECT rg.doc_id,
         CASE WHEN (SELECT r FROM best) < 1024
              THEN substr(d.text, rg.i, 2 * (SELECT r FROM best))
              ELSE substr(d.text, rg.i) END AS s
  FROM rg JOIN shr ON rg.r = shr.r AND rg.h = shr.h
  JOIN d ON d.doc_id = rg.doc_id
  WHERE rg.r = (SELECT r FROM best)
),
-- Guard the bisection range on the ACTUAL candidate strings, not raw doc
-- length (ADVICE r10): with best < 1024 the candidates are capped at
-- 2*best <= 2048 chars and the bisection is exact no matter how long the
-- documents are, so only the uncapped best == 1024 branch can overflow —
-- and cs's max candidate length captures exactly that (empty cs on the
-- best = 0 ladder path yields NULL >= hi0 = NULL -> ok, no spurious error
-- even if DuckDB evaluates lbig's scalar subquery eagerly inside the CASE).
lim AS MATERIALIZED (
  SELECT CASE WHEN MAX(len(s)) >= {hi0}
              THEN error('suffix-lcs oracle: candidate length ' || MAX(len(s)) ||
                         ' exceeds the unrolled bisection range {hi0}')
              ELSE 1 END AS ok
  FROM cs
),
adj AS (
  SELECT doc_id, s,
         LEAD(s) OVER (ORDER BY s, doc_id) AS ns,
         LEAD(doc_id) OVER (ORDER BY s, doc_id) AS nd2
  FROM cs
),
pairs AS (SELECT s, ns FROM adj WHERE nd2 IS NOT NULL AND nd2 <> doc_id),
{_lcs_bisect_ctes(rounds, hi0)},
lbig AS MATERIALIZED (
  -- the (SELECT ok FROM lim) factor forces the guard to evaluate exactly
  -- on the path that needs it (best > 0 is the only reader of lbig)
  SELECT COALESCE(MAX(lo), 0) * (SELECT ok FROM lim) AS l FROM b{rounds}
),
lstar AS MATERIALIZED (
  SELECT CASE WHEN (SELECT r FROM best) > 0
              THEN (SELECT l FROM lbig) ELSE (SELECT l FROM lsmall) END AS l
),
sharedg AS MATERIALIZED (
  SELECT substr(d.text, t.i, (SELECT l FROM lstar)) AS gc, d.doc_id
  FROM d, UNNEST(range(1, d.n - (SELECT l FROM lstar) + 2)) AS t(i)
  WHERE (SELECT l FROM lstar) > 0
),
grp AS MATERIALIZED (
  SELECT gc FROM sharedg GROUP BY gc HAVING COUNT(DISTINCT doc_id) >= 2
)
SELECT CAST((SELECT l FROM lstar) AS INTEGER) AS lcs_len,
       (SELECT COUNT(*) FROM grp) AS n_repeats,
       (SELECT COUNT(DISTINCT s.doc_id) FROM sharedg s JOIN grp USING (gc)) AS n_docs
"""


DEDUP_SUFFIX_LCS_SQL = _suffix_lcs_oracle_sql()


# --- edit-distance similarity join (Ed-Join family) --------------------------

_EDJ_Q = 12  # char q-gram width at base corpus sizes (see docstring)
_EDJ_Q_BIG = 16  # width above _EDJ_BIG_DOCS: keeps chunk contents discriminative
_EDJ_BIG_DOCS = 20_000  # corpus-size threshold for the wider gram
_EDJ_K = 8  # edit-distance threshold (absolute, in single-char edits)
_EDJ_PREFIX = _EDJ_Q * _EDJ_K + 1  # oracle's prefix-filter length (q*k+1)


def dedup_edit_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT edit-distance similarity self-join (the Ed-Join family: Xiao,
    Wang & Lin VLDB'08 prefix filtering over q-grams; Gravano et al.
    VLDB'01 count/length filters) — the character-level complement to the
    token-set `dedup_prefix_join`: finds every document pair within
    K=8 single-character edits, catching near-dups that token Jaccard
    blurs (one-word insertions, typo copies).

    Candidate generation is the ASYMMETRIC chunk-gram signature (Qin,
    Wang, Lu, Lin & Zhou VLDB'11 "Asymmetric signature schemes for
    efficient exact edit similarity joins"), which round 9 swapped in for
    the classic Ed-Join rarity-prefix join: split each doc into its
    floor(n/Q) DISJOINT full Q-chunks (substrings at offsets 0, Q, 2Q, …).
    One edit operation overlaps at most ONE chunk (chunks are disjoint),
    and any chunk untouched by all K edits maps to an identical contiguous
    run of the partner — i.e. appears verbatim among the partner's
    q-grams. So ed(A,B) <= K forces at least nchunks(A) - K of A's chunks
    to occur in B's gram SET, and whenever nchunks(A) >= K+1 at least one
    of ANY fixed K+1 chunks of A matches (at most K can miss). The
    signature is therefore the K+1 globally-RAREST chunks per doc (rarity
    = corpus gram document-frequency, ties by hash), joined against the
    full gram relation of every other doc. This is strictly stronger than
    gram-set prefix filtering on this workload: the corpus's word-permuted
    near-dups share most of their gram SETS (408k prefix-filter survivors
    at sf1, 2.9k true pairs) but a permutation scatters any 16-char
    CONTIGUOUS run, so chunk containment kills them at generation time
    (149k candidates, most from exact-dup clusters).

    Exactness routing: docs with n < (K+1)*Q have no signature guarantee —
    but n <= (K+1)*Q - 1 is EXACTLY ng <= Q*K (ng = n-Q+1), the brute-set
    test, so every such doc (including docs shorter than Q, ng = 0) routes
    to the length-bucketed brute branch, and a mixed pair (one side
    brute-small, one side >= (K+1)*Q) is still generated by the big side's
    chunks against the small side's grams (the small side has n >=
    (K+1)*Q - K > Q, so its gram relation is non-empty). The result set is
    provably IDENTICAL for any Q (signature choice only tunes candidate
    volume; the verifier is exact), which is why the sf0.01 DuckDB oracle
    — still the r8 Ed-Join rarity-prefix algorithm over md5-folded grams —
    hash-matches while walking a COMPLETELY different candidate set: a
    cross-algorithm check like dedup_suffix_doubling's. A length filter
    |len_a - len_b| <= K prunes at generation; the verifier is Spark's
    built-in banded levenshtein (threshold form: O(K·n) per pair, not
    O(n²)), applied directly — with chunk candidates the Gravano count
    filter no longer pays for its gram-array shuffle.

    Q grows with the corpus (12 -> 16 above 20,000 docs, the classic gram
    width knob): the WORD vocabulary is closed, so wider grams keep chunk
    contents discriminative as the corpus grows. Chunk/gram hashing is
    exactness-safe by construction: a hash collision can only ADD a
    candidate pair (chunk "appears" spuriously), never lose one — a true
    pair's chunk match is a content match and always hash-matches — and
    the levenshtein verifier is exact.

    Scale shape: chunks and grams fold to 64-bit xxhash64 INSIDE the scan
    (the r7 substring-ladder trick — slim int64 join keys, no string
    shuffles). The signature relation is K+1 rows per doc and persisted,
    so the planner sizes it: at this corpus size it broadcasts (one
    scan-side hash join, ZERO shuffle for candidate generation), and past
    the broadcast threshold it degrades to a plain equi-join on the gram
    hash — still one shuffle of slim longs.
    Gram df stats are one map-side-combinable count aggregate; the rarest-
    chunk selection is a per-doc slice(array_sort(collect_list)) over
    <= n/Q structs — a hash aggregate, never a partition-wide sort. The
    brute branch is banded by length bucket, never all-pairs."""
    k = _EDJ_K
    n_docs = dataset_cached(
        spark, sf_dir, "edj_ndocs", lambda: load_table(spark, sf_dir, "documents").count()
    )
    q = _EDJ_Q_BIG if n_docs > _EDJ_BIG_DOCS else _EDJ_Q
    # Family subtree cache (not a bare per-call persist): repeated calls in
    # one session must REUSE the materialized gram relation — stacking a
    # fresh persist per call churns the block store at sf1 (measured:
    # second warm call 2x slower than the first).
    # Docs shorter than Q have NO q-grams: their gram array is empty and
    # ng = 0 <= Q*K, so they route into the length-bucketed brute branch
    # below (never silently dropped — their only possible partners have
    # n <= (q-1)+K, hence ng <= K <= Q*K, so every partner is in the brute
    # set too and completeness holds independent of the adaptive Q).
    docs = dataset_cached(
        spark, sf_dir, "edj_grams",
        lambda: load_table(spark, sf_dir, "documents")
        .repartition(spark.sparkContext.defaultParallelism)
        .select("doc_id", "text", F.length("text").alias("n"))
        .withColumn(
            "grams",
            F.expr(
                f"if(length(text) >= {q},"
                f" array_distinct(transform(sequence(1, length(text) - {q} + 1),"
                f" i -> xxhash64(substring(text, i, {q})))),"
                f" cast(array() as array<bigint>))"
            ),
        )
        .withColumn("ng", F.size("grams"))
        .persist(),
        q,
    )
    # Signature: the K+1 rarest full Q-chunks per doc (docs with
    # n >= (K+1)*Q — everything smaller is brute-set by the ng <= Q*K test
    # below, see docstring). Chunk hashes are also gram hashes of the same
    # doc, so rarity comes from the gram df relation; the rarest-(K+1)
    # selection is a per-doc slice(array_sort(collect_list)) hash
    # aggregate over <= n/Q structs — no window, no partition-wide sort.
    # r12: the gram document-frequency aggregate (a full gram-instance
    # shuffle) and this signature are dataset artifacts like the gram
    # relation itself — cached per (session, dataset, Q), so repeat calls
    # pay only the candidate probe + verify.
    def build_sig() -> DataFrame:
        g = docs.select("doc_id", "n", F.explode("grams").alias("g"))
        freq = g.groupBy("g").agg(F.count("*").alias("df"))
        ch = docs.filter(F.col("n") >= (k + 1) * q).select(
            "doc_id",
            "n",
            F.explode(
                F.expr(
                    f"transform(sequence(0, n div {q} - 1),"
                    f" j -> xxhash64(substring(text, 1 + j * {q}, {q})))"
                )
            ).alias("c"),
        )
        sig = (
            ch.join(freq, ch["c"] == freq["g"])
            .groupBy("doc_id")
            .agg(
                F.first("n").alias("n"),
                F.slice(
                    F.array_sort(F.collect_list(F.struct("df", F.col("c").alias("c")))),
                    1,
                    k + 1,
                ).alias("sc"),
            )
        )
        return sig.select(
            F.col("doc_id").alias("doc_a"),
            F.col("n").alias("la"),
            F.explode("sc.c").alias("c"),
        ).persist()

    sig_flat = dataset_cached(spark, sf_dir, "edj_sig", build_sig, q)
    # Candidate join: every doc's gram relation probes the signature. The
    # persisted signature carries measured size stats, so the planner
    # broadcasts it on its own while it fits the threshold.
    bg = docs.select(
        F.col("doc_id").alias("doc_b"),
        F.col("n").alias("lb"),
        F.explode("grams").alias("g"),
    )
    cand0 = (
        bg.join(sig_flat, bg["g"] == sig_flat["c"])
        .filter(
            (F.col("doc_a") != F.col("doc_b"))
            & (F.abs(F.col("la") - F.col("lb")) <= F.lit(k))
        )
        .select(
            F.least("doc_a", "doc_b").alias("doc_a"),
            F.greatest("doc_a", "doc_b").alias("doc_b"),
        )
    )
    # Brute branch: docs whose DISTINCT gram count <= Q*K (tau < 1 possible,
    # and docs shorter than Q with ng = 0). Banded small x small join on
    # length buckets of width K.
    small = docs.filter(F.col("ng") <= F.lit(q * k)).select(
        "doc_id", "n", F.expr(f"n div {k}").alias("bk")
    )
    sl = small.select(
        F.col("doc_id").alias("doc_a"),
        F.col("n").alias("la"),
        F.explode(F.expr("array(bk - 1, bk, bk + 1)")).alias("bk"),
    )
    brute = (
        sl.join(
            small.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("lb"), "bk"),
            "bk",
        )
        .filter(
            (F.col("doc_a") < F.col("doc_b"))
            & (F.abs(F.col("la") - F.col("lb")) <= F.lit(k))
        )
        .select("doc_a", "doc_b")
    )
    # ONE distinct over both branches, then one slim text join per side and
    # the banded levenshtein verify directly — chunk candidates are already
    # near-true (the r8 Gravano count filter earned its gram-array shuffle
    # only against the loose rarity-prefix candidate set).
    cand = cand0.union(brute).distinct()
    da = docs.select(
        F.col("doc_id").alias("doc_a"), F.col("text").alias("text_a"),
        F.col("n").alias("len_a"),
    )
    db = docs.select(
        F.col("doc_id").alias("doc_b"), F.col("text").alias("text_b"),
        F.col("n").alias("len_b"),
    )
    return (
        cand.join(da, "doc_a")
        .join(db, "doc_b")
        .withColumn("edit_distance", F.levenshtein("text_a", "text_b", k))
        .filter(F.col("edit_distance") >= 0)  # threshold form returns -1 past K
        .select("doc_a", "doc_b", "len_a", "len_b", "edit_distance")
    )


DEDUP_EDIT_JOIN_SQL = f"""
WITH d AS MATERIALIZED (
  SELECT doc_id, text, len(text) AS n FROM documents
),
g AS MATERIALIZED (
  -- range() is empty for n < Q: short docs contribute no grams and get
  -- ng = 0 from the LEFT-join count below, routing them to the brute
  -- branch exactly like the Spark side.
  SELECT DISTINCT doc_id, n,
         ('0x' || substr(md5(substr(text, i, {_EDJ_Q})), 1, 15))::BIGINT AS g
  FROM d, UNNEST(range(1, n - {_EDJ_Q} + 2)) AS t(i)
),
cnt AS (
  SELECT d.doc_id, COUNT(g.g) AS ng
  FROM d LEFT JOIN g USING (doc_id) GROUP BY d.doc_id
),
freq AS (SELECT g, COUNT(*) AS df FROM g GROUP BY g),
pre AS MATERIALIZED (
  SELECT doc_id, n, ng, g, pos FROM (
    SELECT g.doc_id, g.n, cnt.ng, g.g,
           ROW_NUMBER() OVER (PARTITION BY g.doc_id ORDER BY df ASC, g.g ASC) AS pos
    FROM g JOIN freq USING (g) JOIN cnt USING (doc_id)
  ) WHERE pos <= {_EDJ_PREFIX}
),
cand0 AS MATERIALIZED (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM pre a JOIN pre b
    ON a.g = b.g AND a.doc_id < b.doc_id AND abs(a.n - b.n) <= {_EDJ_K}
   AND 1 + least(a.ng - a.pos, b.ng - b.pos)
       >= greatest(a.ng, b.ng) - {_EDJ_Q * _EDJ_K}
),
main AS (
  SELECT doc_a, doc_b FROM (
    SELECT c.doc_a, c.doc_b, COUNT(*) AS n_common
    FROM cand0 c
    JOIN g ga ON ga.doc_id = c.doc_a
    JOIN g gb ON gb.doc_id = c.doc_b AND gb.g = ga.g
    GROUP BY c.doc_a, c.doc_b
  ) x
  JOIN cnt a ON a.doc_id = x.doc_a
  JOIN cnt b ON b.doc_id = x.doc_b
  WHERE n_common >= greatest(a.ng, b.ng) - {_EDJ_Q * _EDJ_K}
),
small AS (
  SELECT doc_id, n, n // {_EDJ_K} AS bk
  FROM cnt JOIN d USING (doc_id) WHERE ng <= {_EDJ_Q * _EDJ_K}
),
brute AS (
  SELECT l.doc_id AS doc_a, r.doc_id AS doc_b
  FROM (SELECT doc_id, n, UNNEST([bk - 1, bk, bk + 1]) AS bk FROM small) l
  JOIN small r
    ON l.bk = r.bk AND l.doc_id < r.doc_id AND abs(l.n - r.n) <= {_EDJ_K}
),
cand AS (
  SELECT DISTINCT doc_a, doc_b
  FROM (SELECT * FROM main UNION ALL SELECT * FROM brute)
)
SELECT doc_a, doc_b, a.n AS len_a, b.n AS len_b,
       levenshtein(a.text, b.text) AS edit_distance
FROM cand JOIN d a ON cand.doc_a = a.doc_id JOIN d b ON cand.doc_b = b.doc_id
WHERE levenshtein(a.text, b.text) <= {_EDJ_K}
"""


QUERIES: dict[str, tuple] = {
    "dedup_edit_join": (dedup_edit_join, DEDUP_EDIT_JOIN_SQL),
    "dedup_prefix_join": (dedup_prefix_join, DEDUP_PREFIX_JOIN_SQL),
    "dedup_suffix_doubling": (dedup_suffix_doubling, DEDUP_SUFFIX_DOUBLING_SQL),
    "dedup_suffix_lcs": (dedup_suffix_lcs, DEDUP_SUFFIX_LCS_SQL),
    "dedup_cdc_chunks": (dedup_cdc_chunks, DEDUP_CDC_CHUNKS_SQL),
    "dedup_substring_ladder": (dedup_substring_ladder, DEDUP_SUBSTRING_LADDER_SQL),
    "corpus_novelty": (corpus_novelty, CORPUS_NOVELTY_SQL),
    "dedup_exactsubstr_spans": (dedup_exactsubstr_spans, DEDUP_EXACTSUBSTR_SQL),
    "dedup_exactsubstr_clean": (dedup_exactsubstr_clean, DEDUP_EXACTSUBSTR_CLEAN_SQL),
    "dedup_lsh_quality": (dedup_lsh_quality, _dedup_lsh_quality_sql()),
    "dedup_lsh_scurve": (dedup_lsh_scurve, _dedup_lsh_scurve_sql()),
    "dedup_minhash_bias": (dedup_minhash_bias, _dedup_minhash_bias_sql()),
    "dedup_keep_best": (dedup_keep_best, DEDUP_KEEP_BEST_SQL),
    "dedup_near_pipeline": (dedup_near_pipeline, _dedup_near_pipeline_sql()),
    "dedup_exact": (dedup_exact, DEDUP_EXACT_SQL),
    "dedup_components": (dedup_components, _dedup_components_sql()),
    "dedup_collapse": (dedup_collapse, DEDUP_COLLAPSE_SQL),
    "dedup_minhash_signatures": (minhash_signatures, MINHASH_SIG_SQL),
    "dedup_minhash_pairs": (dedup_minhash_pairs, DEDUP_MINHASH_PAIRS_SQL),
    "dedup_ngram_jaccard": (dedup_ngram_jaccard, DEDUP_NGRAM_JACCARD_SQL),
    "dedup_containment": (dedup_containment, DEDUP_CONTAINMENT_SQL),
    "dedup_simhash": (dedup_simhash, DEDUP_SIMHASH_SQL),
    "dedup_embedding_near": (dedup_embedding_near, _dedup_embedding_near_sql()),
}
