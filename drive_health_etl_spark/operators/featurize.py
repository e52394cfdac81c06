"""Text featurization operators over ``documents`` (north-star extension;
SURVEY.md §2.9 U3 family): the hashing trick (Spark MLlib ``HashingTF``
analog, built natively so it stays in whole-stage codegen) and TF-IDF term
weighting (``CountVectorizer``+``IDF`` analog) — the classic sparse
featurization steps between raw text and any downstream model.

Both are pure column expressions. The hashing trick is the canonical
fixed-width featurizer at scale because it needs NO vocabulary broadcast at
all — bucket = hash(token) mod D is stateless, so the operator is one
explode + one (doc, bucket) aggregate regardless of vocabulary size. TF-IDF
needs the document-frequency table, which joins on the token key its own
aggregate just produced (exchange reuse), plus a 1-row corpus-size
broadcast.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from drive_health_etl_spark.operators.text import TOKENS_SQL, tokens_col
from drive_health_etl_spark.sources.tables import load_table

HASH_DIM = 64  # feature-vector width for the hashing trick
TFIDF_TOP_K = 3


def _bucket_col(token) -> F.Column:
    """Deterministic token -> [0, HASH_DIM) bucket shared with the oracle:
    integer value of the first 15 hex chars of md5, mod the width."""
    return (
        F.conv(F.substring(F.md5(token), 1, 15), 16, 10).cast("long") % HASH_DIM
    ).alias("bucket")


def feat_hashing_tf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick term-frequency vectors: per document, the number of
    non-zero buckets, the L2 norm of the count vector, and the argmax
    bucket (count desc, bucket asc tiebreak).

    Plan: explode -> one groupBy(doc, bucket) with map-side combine -> a
    per-doc rollup plus one window for the argmax. No vocabulary state, no
    broadcast — the property that makes feature hashing THE featurizer at
    100 TB."""
    docs = load_table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    counts = (
        docs.select("doc_id", F.explode(tokens_col()).alias("token"))
        .select("doc_id", _bucket_col(F.col("token")))
        .groupBy("doc_id", "bucket")
        .agg(F.count("*").alias("cnt"))
    )
    per_doc = counts.groupBy("doc_id").agg(
        F.count("*").alias("nnz"),
        F.round(F.sqrt(F.sum(F.col("cnt") * F.col("cnt")).cast("double")), 6).alias(
            "l2_norm"
        ),
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("cnt").desc(), F.col("bucket").asc())
    top = (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", F.col("bucket").alias("top_bucket"))
    )
    return per_doc.join(top, "doc_id").select("doc_id", "nnz", "l2_norm", "top_bucket")


FEAT_HASHING_TF_SQL = f"""
WITH counts AS (
  SELECT doc_id, ('0x' || substr(md5(token), 1, 15))::BIGINT % {HASH_DIM} AS bucket,
         COUNT(*) AS cnt
  FROM (SELECT doc_id, unnest({TOKENS_SQL}) AS token FROM documents)
  GROUP BY 1, 2
), per_doc AS (
  SELECT doc_id, COUNT(*) AS nnz,
         ROUND(sqrt(CAST(SUM(cnt * cnt) AS DOUBLE)), 6) AS l2_norm
  FROM counts GROUP BY doc_id
), top AS (
  SELECT doc_id, bucket AS top_bucket FROM (
    SELECT doc_id, bucket,
           ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY cnt DESC, bucket ASC) AS rn
    FROM counts
  ) WHERE rn = 1
)
SELECT p.doc_id, p.nnz, p.l2_norm, t.top_bucket
FROM per_doc p JOIN top t ON p.doc_id = t.doc_id
"""


def feat_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF term weighting: the top-``TFIDF_TOP_K`` highest-scoring terms
    per document, score = tf * ln(N / df) (score desc, term asc tiebreak).
    The interpretable featurizer twin of the hashing trick — and the
    keyword-extraction query every search/curation pipeline runs.

    Plan: one explode feeding BOTH the (doc, term) tf aggregate and the
    term-level df aggregate; the df side joins back on ``term`` — the key
    its own aggregate shuffled on — and the corpus size N is a 1-row
    broadcast. Scoring is a narrow map; top-k is one window per doc."""
    docs = load_table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    toks = docs.select("doc_id", F.explode(tokens_col()).alias("term"))
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    df = tf.groupBy("term").agg(F.count("*").alias("df"))
    n = docs.agg(F.count("*").alias("n_docs"))
    scored = (
        tf.join(df, "term")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            (
                F.col("tf").cast("double")
                * F.log(F.col("n_docs").cast("double") / F.col("df"))
            ).alias("score"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), F.col("term").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TFIDF_TOP_K)
        .select("doc_id", "term", "rank", F.round("score", 6).alias("score"))
    )


FEAT_TFIDF_SQL = f"""
WITH toks AS (
  SELECT doc_id, unnest({TOKENS_SQL}) AS term FROM documents
),
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
n AS (SELECT COUNT(*) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.term,
         CAST(tf.tf AS DOUBLE) * ln(CAST(n.n_docs AS DOUBLE) / df.df) AS score
  FROM tf JOIN df USING (term), n
)
SELECT doc_id, term, rank, ROUND(score, 6) AS score FROM (
  SELECT doc_id, term, score,
         ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, term ASC) AS rank
  FROM scored
) WHERE rank <= {TFIDF_TOP_K}
"""


_TE_SMOOTH = 10  # pseudo-count weight toward the global prior


def feat_target_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out target encoding of ``event_type`` against ``value`` with
    additive smoothing toward the global mean — the standard high-cardinality
    categorical feature for gradient-boosted/linear models, LOO so a row
    never sees its own label (no target leakage).

        enc_i = (sum_type - v_i + m * prior) / (n_type - 1 + m)

    Exactness: per-type and global sums are decimal (order-independent);
    ``sum_type - v_i`` stays exact decimal per row; prior and the final
    division are identical double chains. The re-aggregation to per-type
    check stats sums encodings per-term decimal-cast and rounds 6 dp (the
    one engine-divergent step, double->decimal cast rounding).

    Scale: one group-by over the fact table plus an enum-sized broadcast
    join back — no per-row shuffle beyond the single aggregate; encoding
    then happens in the narrow map."""
    e = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select("event_type", F.col("value").cast("decimal(18,6)").alias("v"))
    )
    per_type = e.groupBy("event_type").agg(
        F.sum("v").alias("sum_t"), F.count("*").alias("n_t")
    )
    glob = e.agg(
        (F.sum("v").cast("double") / F.count("*").cast("double")).alias("prior")
    )
    enc = (
        e.join(F.broadcast(per_type), "event_type")
        .crossJoin(F.broadcast(glob))
        .select(
            "event_type",
            (
                (
                    (F.col("sum_t") - F.col("v")).cast("double")
                    + F.lit(float(_TE_SMOOTH)) * F.col("prior")
                )
                / (F.col("n_t").cast("double") - 1 + F.lit(float(_TE_SMOOTH)))
            ).alias("enc"),
        )
    )
    return enc.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.round(F.min("enc"), 6).alias("min_enc"),
        F.round(F.max("enc"), 6).alias("max_enc"),
        F.round(F.sum(F.col("enc").cast("decimal(38,18)")).cast("double"), 6).alias(
            "sum_enc"
        ),
    )


FEAT_TARGET_ENC_SQL = f"""
WITH e AS (
  SELECT event_type, CAST(value AS DECIMAL(18,6)) AS v
  FROM events WHERE value IS NOT NULL
),
per_type AS (
  SELECT event_type, SUM(v) AS sum_t, COUNT(*) AS n_t FROM e GROUP BY event_type
),
gmean AS (
  SELECT CAST(SUM(v) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS prior FROM e
),
enc AS (
  SELECT e.event_type,
         (CAST(p.sum_t - e.v AS DOUBLE) + CAST({float(_TE_SMOOTH)!r} AS DOUBLE) * g.prior)
           / (CAST(p.n_t AS DOUBLE) - 1 + CAST({float(_TE_SMOOTH)!r} AS DOUBLE)) AS enc
  FROM e JOIN per_type p USING (event_type) CROSS JOIN gmean g
)
SELECT event_type, COUNT(*) AS n,
       ROUND(MIN(enc), 6) AS min_enc,
       ROUND(MAX(enc), 6) AS max_enc,
       ROUND(CAST(SUM(CAST(enc AS DECIMAL(38,18))) AS DOUBLE), 6) AS sum_enc
FROM enc GROUP BY event_type
"""


def feat_woe_iv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-of-evidence encoding + information value per category — the
    credit-scoring-standard supervised categorical encoder (Siddiqi,
    "Credit Risk Scorecards"): for category i with good/bad counts against
    a binary target,

        woe_i = ln( (good_i/G) / (bad_i/B) ),
        IV    = sum_i (good_i/G - bad_i/B) * woe_i

    here over order priority vs the target 'order totalprice above the
    global median' (exact integer counts by construction). +0.5 Laplace
    smoothing on every cell keeps woe finite on empty cells; IV > 0.3
    reads as a strong predictor. All ratios are exact-int divisions on
    identical inputs; ln/round follow the repo's logprob parity policy
    (round 6 dp after the ln chain).

    Scale: one conditional aggregate over the fact table (map-side
    combinable), then scalar math + an unpartitioned sum over the
    ENUM-SIZED category table (5 rows). The median bound is a 1-row
    broadcast onto the scan."""
    o = load_table(spark, sf_dir, "orders")
    med = o.agg(F.expr("percentile(o_totalprice, 0.5)").alias("med"))
    flagged = o.crossJoin(F.broadcast(med)).select(
        "o_orderpriority", (F.col("o_totalprice") > F.col("med")).alias("good")
    )
    agg = flagged.groupBy("o_orderpriority").agg(
        F.count(F.when(F.col("good"), 1)).alias("n_good"),
        F.count(F.when(~F.col("good"), 1)).alias("n_bad"),
    )
    w_all = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    tot = agg.withColumn("g_tot", F.sum("n_good").over(w_all)).withColumn(
        "b_tot", F.sum("n_bad").over(w_all)
    ).withColumn("k", F.count("*").over(w_all))
    # 0.5e0 / explicit double casts: a bare 0.5 literal is DECIMAL in Spark
    # SQL, which would silently run the whole ratio in decimal arithmetic
    # (truncated scale) while DuckDB's '/' always yields DOUBLE.
    pg = _WOE_PG
    pb = _WOE_PB
    woed = tot.withColumn("woe", F.round(F.expr(f"ln({pg} / {pb})"), 6)).withColumn(
        "iv_contrib", F.round(F.expr(f"({pg} - {pb}) * ln({pg} / {pb})"), 6)
    )
    # decimal-cast before the unordered window sum (order-independent policy)
    return woed.withColumn(
        "iv_total",
        F.round(
            F.sum(
                F.expr(f"CAST(({pg} - {pb}) * ln({pg} / {pb}) AS DECIMAL(38,18))")
            ).over(w_all).cast("double"),
            6,
        ),
    ).select(
        "o_orderpriority", "n_good", "n_bad", "woe", "iv_contrib", "iv_total"
    )


_WOE_PG = ("((CAST(n_good AS DOUBLE) + 0.5e0)"
           " / (CAST(g_tot AS DOUBLE) + 0.5e0 * CAST(k AS DOUBLE)))")
_WOE_PB = ("((CAST(n_bad AS DOUBLE) + 0.5e0)"
           " / (CAST(b_tot AS DOUBLE) + 0.5e0 * CAST(k AS DOUBLE)))")

FEAT_WOE_IV_SQL = f"""
WITH med AS (SELECT quantile_cont(o_totalprice, 0.5) AS med FROM orders),
flagged AS (
  SELECT o_orderpriority, (o_totalprice > med) AS good FROM orders CROSS JOIN med
),
agg AS (
  SELECT o_orderpriority,
         COUNT(CASE WHEN good THEN 1 END) AS n_good,
         COUNT(CASE WHEN NOT good THEN 1 END) AS n_bad
  FROM flagged GROUP BY o_orderpriority
),
tot AS (
  SELECT *, SUM(n_good) OVER () AS g_tot, SUM(n_bad) OVER () AS b_tot,
         COUNT(*) OVER () AS k
  FROM agg
)
SELECT o_orderpriority, n_good, n_bad,
       ROUND(ln({_WOE_PG} / {_WOE_PB}), 6) AS woe,
       ROUND(({_WOE_PG} - {_WOE_PB}) * ln({_WOE_PG} / {_WOE_PB}), 6) AS iv_contrib,
       ROUND(CAST(SUM(CAST(({_WOE_PG} - {_WOE_PB}) * ln({_WOE_PG} / {_WOE_PB}) AS DECIMAL(38,18))) OVER () AS DOUBLE), 6) AS iv_total
FROM tot
"""


QUERIES: dict[str, tuple] = {
    "feat_woe_iv": (feat_woe_iv, FEAT_WOE_IV_SQL),
    "feat_hashing_tf": (feat_hashing_tf, FEAT_HASHING_TF_SQL),
    "feat_tfidf_top_terms": (feat_tfidf_top_terms, FEAT_TFIDF_SQL),
    "feat_target_encoding": (feat_target_encoding, FEAT_TARGET_ENC_SQL),
}
