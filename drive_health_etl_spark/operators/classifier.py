"""In-engine quality-classifier training (north-star extension, the
fastText-style step of an LLM data pipeline): logistic regression trained
with class-balanced full-batch gradient descent entirely as DataFrame
operations — the "distill the rule-based filter into a learned scorer"
loop (heuristic labels -> model, exactly how production quality classifiers
are bootstrapped) without leaving the engine or importing MLlib.

Task: learn the Gopher-style keep/drop rule (`text_gopher_rules`:
word-count, mean-word-length, and stopword-fraction thresholds) from the
three underlying statistics as features. The corpus is 90.6% keep at
sf0.01, so unweighted GD would sit at the majority prior; the gradient is
class-balanced (each class contributes weight 0.5), after which the model
separates the rule's active margin — measured accuracy 0.99 vs the 0.906
majority baseline, zero false positives (`quality_lr_eval` reports both so
the lift is visible, not asserted).

Training shape at scale: per round, one narrow map computes z = <w, x>
against the weight literal (no join — weights ride in the expression like
the k-means centroids), then ONE map-side-combinable aggregate produces
the LR_DIM+1 gradient sums; the only driver state is the tiny weight
vector per round, the same bounded collect MLlib's optimizers perform per
iteration. Shuffle volume per round is LR_DIM+1 decimal sums — independent
of corpus size, the layout a 1000-executor trainer uses.

Engine-exact math (why this oracle can demand bit-equality): the logistic
sigmoid's exp() is NOT bit-portable across engines (JVM Math.exp vs libm
differ in ulps), so training uses the rational surrogate
sigma~(z) = 0.5 + z / (2 * (1 + |z|)) — same shape, range (0, 1),
monotone, built only from + * / abs, every one of which is IEEE-exact in
both engines. Gradient sums go through DECIMAL(38,18) (order-independent);
class weights and means divide in double with matching association order.
The DuckDB oracle re-trains the identical model via unrolled MATERIALIZED
CTEs (`_lr_sql_ctes`; scalar subqueries would inline the upstream chain
per reference and make the unroll exponential) and must reproduce every
weight bit-for-bit before the 6-dp display rounding.

Reference parity note: the reference ETL has no ML surface; this is part of
the §2.9 LLM-pipeline extension family (SURVEY.md), alongside dedup/ANN.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from drive_health_etl_spark.operators.fitcache import dataset_cached
from drive_health_etl_spark.operators.quality import (
    MAX_MEAN_WORD_LEN,
    MAX_WORDS,
    MIN_MEAN_WORD_LEN,
    MIN_STOPWORD_FRAC,
    MIN_WORDS,
    _SW_SQL,
    _sw_array,
)
from drive_health_etl_spark.operators.text import TOKENS_SQL, tokens_col
from drive_health_etl_spark.sources.tables import load_table

LR_DIM = 3  # features: capped word count, mean word length, stopword frac
LR_ROUNDS = 5  # full-batch GD steps
LR_RATE = 8.0  # learning rate (features scaled to ~[0, 1])
_TERMS = ("n_words_capped", "mean_word_len", "stopword_frac", "bias")

_DSUM = "decimal(38,18)"


def _features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, y, x): y = the Gopher keep rule on RAW (unrounded) stats,
    x = the three scaled statistics. One narrow map, no shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens_col()
    n_words = F.size(toks)
    total_chars = F.aggregate(F.transform(toks, F.length), F.lit(0), lambda a, x: a + x)
    n_stop = F.size(F.filter(toks, lambda x: F.array_contains(_sw_array(), x)))
    base = docs.select(
        "doc_id",
        n_words.alias("nw"),
        (total_chars.cast("double") / n_words).alias("mwl"),
        (n_stop.cast("double") / n_words).alias("swf"),
    )
    keep = (
        (F.col("nw") >= MIN_WORDS)
        & (F.col("nw") <= MAX_WORDS)
        & (F.col("mwl") >= MIN_MEAN_WORD_LEN)
        & (F.col("mwl") <= MAX_MEAN_WORD_LEN)
        & (F.col("swf") >= MIN_STOPWORD_FRAC)
    )
    x = F.array(
        (F.least(F.col("nw"), F.lit(20)).cast("double") / F.lit(20.0)).alias("x0"),
        (F.col("mwl") / F.lit(12.0)).alias("x1"),
        F.least(F.col("swf") * F.lit(20.0), F.lit(1.0)).alias("x2"),
    )
    return base.select(
        "doc_id", F.when(keep, F.lit(1.0)).otherwise(F.lit(0.0)).alias("y"), x.alias("x")
    )


def _fast_sigmoid(z: F.Column) -> F.Column:
    """sigma~(z) = 0.5 + z / (2 * (1 + |z|)) — engine-exact (+ * / abs only)."""
    return F.lit(0.5) + z / (F.lit(2.0) * (F.lit(1.0) + F.abs(z)))


def _z_col(weights: list[float]) -> F.Column:
    """z = bias + sum_b w_b * x[b], folded left-to-right in index order so
    the oracle's identical fold reproduces it bit-for-bit."""
    z = F.lit(weights[LR_DIM])  # bias first, matching the SQL fold
    for b in range(LR_DIM):
        z = z + F.lit(weights[b]) * F.col("x").getItem(b)
    return z


def lr_train(spark: SparkSession, sf_dir: str, rounds: int = LR_ROUNDS) -> list[float]:
    """Class-balanced full-batch GD from w = 0.
    Returns [w_0..w_{LR_DIM-1}, w_bias]."""
    from drive_health_etl_spark.session import shuffle_partitions

    feats = _features(spark, sf_dir)
    weights = [0.0] * (LR_DIM + 1)
    with shuffle_partitions(spark, 8):
        feats = feats.persist()
        try:
            cls = feats.agg(
                F.count("*").alias("n"),
                F.sum(F.col("y").cast("long")).alias("n_pos"),
            ).collect()[0]
            n, n_pos = int(cls["n"]), int(cls["n_pos"] or 0)
            if n == 0 or n_pos in (0, n):
                # empty or single-class corpus: no decision boundary to
                # learn — return the zero model rather than divide by zero
                return weights
            pw = 0.5 * n / n_pos  # each class contributes gradient weight 0.5
            nw = 0.5 * n / (n - n_pos)
            for _ in range(rounds):
                cw = F.when(F.col("y") == 1.0, F.lit(pw)).otherwise(F.lit(nw))
                err = ((_fast_sigmoid(_z_col(weights)) - F.col("y")) * cw).alias("e")
                grads = feats.select(err, "x").agg(
                    F.count("*").alias("n"),
                    F.sum(F.col("e").cast(_DSUM)).cast("double").alias("g_bias"),
                    *[
                        F.sum((F.col("e") * F.col("x").getItem(b)).cast(_DSUM))
                        .cast("double")
                        .alias(f"g{b}")
                        for b in range(LR_DIM)
                    ],
                )
                row = grads.collect()[0]
                nn = float(row["n"])
                weights = [
                    weights[b] - LR_RATE * row[f"g{b}"] / nn for b in range(LR_DIM)
                ] + [weights[LR_DIM] - LR_RATE * row["g_bias"] / nn]
        finally:
            feats.unpersist()
    return weights


# Trained weights per (session, sf_dir): deterministic fit, shared by the
# train-readout and eval queries (the similarity centroid pattern).
def _lr_weights_cached(spark: SparkSession, sf_dir: str) -> list[float]:
    return dataset_cached(spark, sf_dir, "lr_weights", lambda: lr_train(spark, sf_dir))


def quality_lr_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Readout of the trained quality classifier: one row per model term
    with its weight at 6 dp. The oracle re-trains the whole model in SQL
    and must match every weight."""
    weights = _lr_weights_cached(spark, sf_dir)
    rows = [(t, w) for t, w in zip(_TERMS, weights)]
    # rounding happens IN-ENGINE (F.round = half-away, matching DuckDB
    # ROUND); Python round() is banker's and would diverge on exact ties
    return spark.createDataFrame(rows, "term string, weight double").select(
        "term", F.round("weight", 6).alias("weight")
    )


def quality_lr_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Score the corpus with the trained classifier and report confusion
    counts, accuracy, AND the majority-class baseline — the lift over the
    prior is the evidence the model learned the rule rather than the class
    distribution. Predict keep iff z > 0 (sigma~ is monotone, so this is
    p > 0.5 without evaluating the sigmoid; z is engine-exact so the
    threshold compare is too)."""
    weights = _lr_weights_cached(spark, sf_dir)
    feats = _features(spark, sf_dir)
    scored = feats.select("y", (_z_col(weights) > 0).cast("int").alias("pred"))
    return scored.agg(
        F.count("*").alias("n"),
        F.sum(F.when((F.col("pred") == 1) & (F.col("y") == 1.0), 1).otherwise(0)).alias("tp"),
        F.sum(F.when((F.col("pred") == 1) & (F.col("y") == 0.0), 1).otherwise(0)).alias("fp"),
        F.sum(F.when((F.col("pred") == 0) & (F.col("y") == 0.0), 1).otherwise(0)).alias("tn"),
        F.sum(F.when((F.col("pred") == 0) & (F.col("y") == 1.0), 1).otherwise(0)).alias("fn"),
        F.round(
            F.sum(F.when(F.col("pred").cast("double") == F.col("y"), 1).otherwise(0))
            / F.count("*"),
            6,
        ).alias("accuracy"),
        F.round(
            F.greatest(F.sum(F.col("y")), F.count("*") - F.sum(F.col("y"))) / F.count("*"),
            6,
        ).alias("majority_acc"),
    )


# --- DuckDB oracle: identical featurization + unrolled GD ------------------

_FEATS_SQL = f"""
feats AS MATERIALIZED (
  SELECT doc_id,
         CASE WHEN nw >= {MIN_WORDS} AND nw <= {MAX_WORDS}
               AND mwl >= {MIN_MEAN_WORD_LEN} AND mwl <= {MAX_MEAN_WORD_LEN}
               AND swf >= {MIN_STOPWORD_FRAC}
              THEN 1.0 ELSE 0.0 END AS y,
         [least(nw, 20)::DOUBLE / 20.0, mwl / 12.0, least(swf * 20.0, 1.0)] AS x
  FROM (
    SELECT doc_id, len(ws) AS nw,
           CAST(list_sum(list_transform(ws, t -> length(t))) AS DOUBLE) / len(ws) AS mwl,
           CAST(len(list_filter(ws, t -> list_contains({_SW_SQL}, t))) AS DOUBLE) / len(ws) AS swf
    FROM (SELECT doc_id, {TOKENS_SQL} AS ws FROM documents)
  )
)"""

# Degenerate-corpus guard, mirroring lr_train's early return: on an empty
# or single-class corpus BOTH class weights go to 0.0, which zeroes every
# gradient term so the unrolled rounds leave the zero model untouched —
# the same weights Spark returns (a NULL-propagating x/0 here would break
# the bit-equality contract exactly on the guarded edge case).
_CLS_SQL = """
cls AS MATERIALIZED (
  SELECT CASE WHEN n = 0 OR np = 0 OR np = n THEN 0.0
              ELSE 0.5 * n / np END AS pw,
         CASE WHEN n = 0 OR np = 0 OR np = n THEN 0.0
              ELSE 0.5 * n / (n - np) END AS nw_t
  FROM (SELECT COUNT(*) AS n,
               CAST(COALESCE(SUM(CAST(y AS BIGINT)), 0) AS BIGINT) AS np
        FROM feats)
)"""


def _z_sql() -> str:
    """Same left-to-right fold as _z_col: bias + w0*x[1] + w1*x[2] + ...
    Weight columns come from a 1-row weights relation CROSS JOINed in
    (NOT scalar subqueries: those inline the whole upstream CTE chain per
    reference, which makes the unroll exponential in DuckDB)."""
    terms = ["w_bias"] + [f"w{b} * x[{b + 1}]" for b in range(LR_DIM)]
    return " + ".join(terms)


def _sig_sql(z: str) -> str:
    return f"(0.5 + ({z}) / (2.0 * (1.0 + abs({z}))))"


def _lr_sql_ctes(rounds: int = LR_ROUNDS) -> str:
    """Unrolled class-balanced GD mirroring lr_train exactly; expects
    `feats` + `cls`, emits `w{rounds}` with columns w0.., w_bias. Every CTE
    is MATERIALIZED and each round consumes the previous round's single-row
    weight relation via CROSS JOIN, so each round evaluates exactly once."""
    z = _z_sql()
    e = f"(({_sig_sql(z)} - y) * (CASE WHEN y = 1.0 THEN pw ELSE nw_t END))"
    cols = ", ".join([f"0.0::DOUBLE AS w{b}" for b in range(LR_DIM)] + ["0.0::DOUBLE AS w_bias"])
    parts = [f"w0 AS MATERIALIZED (SELECT {cols})"]
    for r in range(rounds):
        gsel = ", ".join(
            ["COUNT(*) AS n"]
            + [f"CAST(SUM(CAST({e} AS DECIMAL(38,18))) AS DOUBLE) AS g_bias"]
            + [
                f"CAST(SUM(CAST({e} * x[{b + 1}] AS DECIMAL(38,18))) AS DOUBLE) AS g{b}"
                for b in range(LR_DIM)
            ]
        )
        parts.append(
            f"g{r} AS MATERIALIZED (\n  SELECT {gsel} FROM feats CROSS JOIN w{r} CROSS JOIN cls\n)"
        )
        # weights come from w{r} directly (NOT aggregated through the feats
        # join — on an empty corpus MAX over zero rows would be NULL); the
        # n = 0 case keeps the previous weights, matching lr_train's guard
        wsel = ", ".join(
            [
                f"CASE WHEN g.n = 0 THEN p.w{b} ELSE p.w{b} - {LR_RATE} * g.g{b} / g.n END AS w{b}"
                for b in range(LR_DIM)
            ]
            + [
                f"CASE WHEN g.n = 0 THEN p.w_bias ELSE p.w_bias - {LR_RATE} * g.g_bias / g.n END AS w_bias"
            ]
        )
        parts.append(
            f"w{r + 1} AS MATERIALIZED (\n  SELECT {wsel} FROM g{r} g CROSS JOIN w{r} p\n)"
        )
    return ",\n".join(parts)


QUALITY_LR_TRAIN_SQL = f"""
WITH {_FEATS_SQL},
{_CLS_SQL},
{_lr_sql_ctes()}
SELECT * FROM (
  {" UNION ALL ".join(
      f"SELECT '{term}' AS term, ROUND(w{b}, 6) AS weight FROM w{LR_ROUNDS}"
      for b, term in enumerate(_TERMS[:LR_DIM])
  )}
  UNION ALL SELECT 'bias' AS term, ROUND(w_bias, 6) AS weight FROM w{LR_ROUNDS}
)
"""

QUALITY_LR_EVAL_SQL = f"""
WITH {_FEATS_SQL},
{_CLS_SQL},
{_lr_sql_ctes()},
scored AS (
  SELECT y, CASE WHEN ({_z_sql()}) > 0 THEN 1 ELSE 0 END AS pred
  FROM feats CROSS JOIN w{LR_ROUNDS}
)
SELECT COUNT(*) AS n,
       CAST(SUM(CASE WHEN pred = 1 AND y = 1.0 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
       CAST(SUM(CASE WHEN pred = 1 AND y = 0.0 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
       CAST(SUM(CASE WHEN pred = 0 AND y = 0.0 THEN 1 ELSE 0 END) AS BIGINT) AS tn,
       CAST(SUM(CASE WHEN pred = 0 AND y = 1.0 THEN 1 ELSE 0 END) AS BIGINT) AS fn,
       ROUND(SUM(CASE WHEN pred::DOUBLE = y THEN 1 ELSE 0 END) / COUNT(*), 6) AS accuracy,
       ROUND(greatest(SUM(y), COUNT(*) - SUM(y)) / COUNT(*), 6) AS majority_acc
FROM scored
"""

# --- fastText-style hashed-ngram classifier (NBSVM closed-form fit) --------
#
# The second classifier family: where quality_lr learns from THREE dense
# hand-built statistics, this one learns from the raw hashed unigram+bigram
# bag-of-ngrams — the fastText feature space (Joulin et al. 2016: hashed
# n-gram bins, mean pooling, linear classifier). The fit is the NBSVM
# log-count-ratio (Wang & Manning 2012, public): per-bucket weights
#
#   w_b = ln((c+_b + 1) / (N+ + D)) - ln((c-_b + 1) / (N- + D))
#
# i.e. the add-1-smoothed class-conditional log likelihood ratio, and a doc
# scores positive iff sum_b c_db * w_b > 0 (the maximum-likelihood class
# under equal priors — the sign is invariant to the mean-pooling divisor).
# Closed-form is chosen over SGD deliberately: measured on this corpus,
# 5-round full-batch GD over 513 sparse features stays at the majority
# prior (the same rounds that converge for quality_lr's 3 dense features),
# while the count-ratio fit reaches 0.996 accuracy in ONE aggregation pass
# — and one pass over exact integer counts is also the shape that wins at
# 100 TB (no per-round shuffles, no driver round-trips) AND what makes the
# DuckDB oracle exact instead of a 5x-unrolled CTE chain.
#
# Task: distill the stopword-fraction prose test (the binding constraint of
# text_gopher_rules on this corpus) into the hashed-ngram scorer — the model
# must REdiscover the stopword buckets from labels alone; eval reports
# accuracy next to the majority baseline so the lift is visible, not
# asserted.
#
# Float policy (the DSIR pattern, corpus.py): bucket counts are exact
# integers aggregated once; each bucket's weight is computed from those
# integers, rounded to 9dp, decimal-cast; per-doc scores are exact decimal
# sums of (int count x decimal weight) — order-independent in both engines;
# the readout casts the identical decimal to double (no re-round).

FT_BUCKETS = 512  # hashed bins: 40-word synthetic vocab + ~1.6k bigrams
# spread thin enough that stopword buckets stay mostly collision-free
# (measured: D=256 -> 0.984 accuracy, D=512 -> 0.996)


def _ft_db(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, y, b, c): per-doc hashed-gram bucket counts with the
    stopword-rule label carried through the explode (no doc-keyed join).
    One scan, map-side combinable, localCheckpointed. r11: cached per
    (session, dataset) — FOUR registry queries (ft_train/eval/calibration/
    histcal) each re-ran the identical fit scan + checkpoint; the bucket
    counts are a fitted artifact exactly like the LR weights above."""
    return dataset_cached(spark, sf_dir, "ft_db", lambda: _build_ft_db(spark, sf_dir))


def _build_ft_db(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.types import ArrayType, StringType

    docs = load_table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    toks = tokens_col()
    swf = F.size(F.filter(toks, lambda x: F.array_contains(_sw_array(), x))).cast(
        "double"
    ) / F.size(toks)
    y = F.when(
        (F.size(toks) >= 1) & (swf >= F.lit(MIN_STOPWORD_FRAC)), F.lit(1.0)
    ).otherwise(F.lit(0.0))
    # bigrams via a guarded sequence (sequence(1, 0) is [1, 0] in Spark —
    # the step defaults to -1 — so size >= 2 gates the window)
    bigrams = F.when(
        F.size("ws") >= 2,
        F.expr("transform(sequence(1, size(ws) - 1), i -> concat(ws[i-1], ' ', ws[i]))"),
    ).otherwise(F.lit(None).cast(ArrayType(StringType())))
    bucket = (
        F.conv(F.substring(F.md5(F.col("g")), 1, 7), 16, 10).cast("long") % FT_BUCKETS
    )
    return (
        docs.select("doc_id", toks.alias("ws"), y.alias("y"))
        .select(
            "doc_id",
            "y",
            F.explode(F.concat("ws", F.coalesce(bigrams, F.array()))).alias("g"),
        )
        .select("doc_id", "y", bucket.alias("b"))
        .groupBy("doc_id", "y", "b")
        .agg(F.count("*").alias("c"))
        .localCheckpoint(eager=True)
    )


def _ft_lam(db: DataFrame) -> DataFrame:
    """(b, w): add-1-smoothed log-count-ratio weights. Well-defined even on
    a single-class corpus (smoothing keeps every log argument positive), so
    no degenerate-corpus guard is needed — unlike lr_train's."""
    counts = db.groupBy("b").agg(
        F.sum(F.when(F.col("y") == 1.0, F.col("c")).otherwise(F.lit(0))).alias("cp"),
        F.sum(F.when(F.col("y") == 0.0, F.col("c")).otherwise(F.lit(0))).alias("cn"),
    )
    tots = counts.agg(
        (F.sum("cp") + F.lit(FT_BUCKETS)).alias("np_t"),
        (F.sum("cn") + F.lit(FT_BUCKETS)).alias("nn_t"),
    )
    return counts.crossJoin(F.broadcast(tots)).select(
        "b",
        F.round(
            F.log((F.col("cp") + 1).cast("double") / F.col("np_t").cast("double"))
            - F.log((F.col("cn") + 1).cast("double") / F.col("nn_t").cast("double")),
            9,
        )
        .cast("decimal(16,9)")  # sized so the c*w product stays under
        # Spark's 38-digit cap (decimal(12,0) x decimal(16,9) -> precision
        # 29, scale 9 — exact in both engines); past the cap Spark silently
        # DROPS SCALE while DuckDB raises. 12 digits of count headroom:
        # a per-(doc,bucket) gram count >= 10^12 would overflow-to-NULL in
        # Spark (non-ANSI) — unreachable for any real document
        .alias("w"),
    )


def quality_ft_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Readout of the fitted hashed-ngram weights: one row per OCCUPIED
    bucket (absent buckets would score 0 and are omitted in both engines).
    The oracle recomputes every weight from the same integer counts."""
    lam = _ft_lam(_ft_db(spark, sf_dir))
    return lam.select("b", F.col("w").cast("double").alias("weight"))


def quality_ft_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Score the corpus with the fitted weights (exact decimal sums of
    int-count x decimal-weight products; predict positive iff s > 0) and
    report confusion counts, accuracy, and the majority baseline."""
    db = _ft_db(spark, sf_dir)
    lam = _ft_lam(db)
    scored = (
        db.join(F.broadcast(lam), "b")
        .groupBy("doc_id", "y")
        .agg(F.sum(F.col("c").cast("decimal(12,0)") * F.col("w")).alias("s"))
        .select("y", (F.col("s") > 0).cast("int").alias("pred"))
    )
    return scored.agg(
        F.count("*").alias("n"),
        F.sum(F.when((F.col("pred") == 1) & (F.col("y") == 1.0), 1).otherwise(0)).alias("tp"),
        F.sum(F.when((F.col("pred") == 1) & (F.col("y") == 0.0), 1).otherwise(0)).alias("fp"),
        F.sum(F.when((F.col("pred") == 0) & (F.col("y") == 0.0), 1).otherwise(0)).alias("tn"),
        F.sum(F.when((F.col("pred") == 0) & (F.col("y") == 1.0), 1).otherwise(0)).alias("fn"),
        F.round(
            F.sum(F.when(F.col("pred").cast("double") == F.col("y"), 1).otherwise(0))
            / F.count("*"),
            6,
        ).alias("accuracy"),
        F.round(
            F.greatest(F.sum(F.col("y")), F.count("*") - F.sum(F.col("y"))) / F.count("*"),
            6,
        ).alias("majority_acc"),
    )


_FT_DB_SQL = f"""
labtoks AS MATERIALIZED (
  SELECT doc_id, ws,
         CASE WHEN len(ws) >= 1
               AND CAST(len(list_filter(ws, t -> list_contains({_SW_SQL}, t))) AS DOUBLE)
                   / len(ws) >= {MIN_STOPWORD_FRAC}
              THEN 1.0 ELSE 0.0 END AS y
  FROM (SELECT doc_id, {TOKENS_SQL} AS ws FROM documents)
),
db AS MATERIALIZED (
  SELECT doc_id, y, ('0x' || substr(md5(g), 1, 7))::BIGINT % {FT_BUCKETS} AS b,
         COUNT(*) AS c
  FROM (
    SELECT doc_id, y, unnest(ws) AS g FROM labtoks
    UNION ALL
    SELECT doc_id, y, ws[i] || ' ' || ws[i + 1] AS g
    FROM labtoks, UNNEST(generate_series(1, len(ws) - 1)) AS t(i)
  )
  GROUP BY 1, 2, 3
),
lam AS MATERIALIZED (
  SELECT b,
         ROUND(ln(CAST(cp + 1 AS DOUBLE) / CAST(np_t AS DOUBLE))
               - ln(CAST(cn + 1 AS DOUBLE) / CAST(nn_t AS DOUBLE)),
               9)::DECIMAL(16,9) AS w
  FROM (
    SELECT b,
           SUM(CASE WHEN y = 1.0 THEN c ELSE 0 END) AS cp,
           SUM(CASE WHEN y = 0.0 THEN c ELSE 0 END) AS cn
    FROM db GROUP BY b
  ) CROSS JOIN (
    SELECT SUM(CASE WHEN y = 1.0 THEN c ELSE 0 END) + {FT_BUCKETS} AS np_t,
           SUM(CASE WHEN y = 0.0 THEN c ELSE 0 END) + {FT_BUCKETS} AS nn_t
    FROM db
  )
)"""

QUALITY_FT_TRAIN_SQL = f"""
WITH {_FT_DB_SQL}
SELECT b, CAST(w AS DOUBLE) AS weight FROM lam
"""

def quality_ft_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calibration diagnostic (reliability table) for the hashed-ngram
    classifier: map each doc's mean-pooled NB score through the engine-exact
    rational sigmoid to an uncalibrated confidence p in (0,1), bin into 8
    fixed-width bins, and report per bin the doc count, mean confidence,
    and EMPIRICAL positive rate — the gap between the last two columns IS
    the calibration error a Platt rescale would fix, and the table is how a
    keep-threshold on the score gets chosen in practice.

    Exactness: the decimal score s is exact; m = s/n and p = sigma~(m) use
    only + * / abs on identical doubles (the quality_lr sigmoid argument);
    the bin is an explicit floor (both engines truncate identically);
    mean confidence is a decimal sum of 9dp-rounded p terms over an integer
    count. One extra aggregate over the scored relation — no new scan."""
    db = _ft_db(spark, sf_dir)
    lam = _ft_lam(db)
    m = F.col("s").cast("double") / F.col("n_grams").cast("double")
    p = F.lit(0.5) + m / (F.lit(2.0) * (F.lit(1.0) + F.abs(m)))
    scored = (
        db.join(F.broadcast(lam), "b")
        .groupBy("doc_id", "y")
        .agg(
            F.sum("c").alias("n_grams"),
            F.sum(F.col("c").cast("decimal(12,0)") * F.col("w")).alias("s"),
        )
        .select("y", p.alias("p"))
        .select(
            "y", "p", F.floor(F.col("p") * 8).cast("int").alias("bin")
        )
    )
    return (
        scored.groupBy("bin")
        .agg(
            F.count("*").alias("n_docs"),
            (
                F.sum(F.round(F.col("p"), 9).cast("decimal(28,9)")).cast("double")
                / F.count("*")
            ).alias("avg_conf"),
            (
                F.sum(F.col("y").cast("long")).cast("double") / F.count("*")
            ).alias("pos_rate"),
        )
        .select("bin", "n_docs", "avg_conf", "pos_rate")
    )


QUALITY_FT_CALIBRATION_SQL = f"""
WITH {_FT_DB_SQL},
scored AS (
  SELECT db.y,
         0.5 + (m / (2.0 * (1.0 + abs(m)))) AS p
  FROM (
    SELECT db.doc_id, db.y,
           CAST(SUM(db.c::DECIMAL(12,0) * lam.w) AS DOUBLE)
             / CAST(SUM(db.c) AS DOUBLE) AS m
    FROM db JOIN lam USING (b)
    GROUP BY db.doc_id, db.y
  ) db
)
SELECT CAST(floor(p * 8) AS INTEGER) AS bin,
       COUNT(*) AS n_docs,
       CAST(SUM(ROUND(p, 9)::DECIMAL(28,9)) AS DOUBLE) / COUNT(*) AS avg_conf,
       CAST(SUM(CAST(y AS BIGINT)) AS DOUBLE) / COUNT(*) AS pos_rate
FROM scored
GROUP BY 1
"""


def quality_ft_histcal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram-binning calibration (Zadrozny & Elkan 2001, public) for
    the hashed-ngram classifier, with an honest holdout: bins are FIT on
    odd doc_ids and EVALUATED on even doc_ids (a deterministic split both
    engines reproduce exactly). The calibrated probability for a test doc
    is its bin's train-side empirical positive rate (the binwise-optimal
    map — the closed-form alternative to a Platt fit, chosen because the
    engine-exact rational sigmoid saturates too slowly for a few-round GD
    Platt fit to converge, measured); the one-row readout is the test-side
    expected calibration error before and after.

    Exactness: confidences are the engine-exact sigmoid of exact-decimal
    scores; bins are explicit floors; train rates and test positive rates
    are integer ratios; ECE terms are 9dp-rounded and decimal-summed. Test
    bins with no train data fall back to the train prior (deterministic in
    both engines). Scale shape: two aggregates over the scored relation +
    an 8-row broadcast back — no new scan."""
    db = _ft_db(spark, sf_dir)
    lam = _ft_lam(db)
    m = F.col("s").cast("double") / F.col("n_grams").cast("double")
    p = F.lit(0.5) + m / (F.lit(2.0) * (F.lit(1.0) + F.abs(m)))
    scored = (
        db.join(F.broadcast(lam), "b")
        .groupBy("doc_id", "y")
        .agg(
            F.sum("c").alias("n_grams"),
            F.sum(F.col("c").cast("decimal(12,0)") * F.col("w")).alias("s"),
        )
        .select(
            "doc_id",
            "y",
            p.alias("p"),
            F.floor(p * 8).cast("int").alias("bin"),
            (F.col("doc_id") % 2 == 1).alias("is_train"),
        )
        .localCheckpoint(eager=True)  # two consumers: bin fit + test eval
    )
    train = scored.filter("is_train")
    cal = train.groupBy("bin").agg(
        (F.sum(F.col("y").cast("long")).cast("double") / F.count("*")).alias("p_cal")
    )
    prior = train.agg(
        (F.sum(F.col("y").cast("long")).cast("double") / F.count("*")).alias("p_prior")
    )
    _d9 = "decimal(28,9)"
    test = (
        scored.filter(~F.col("is_train"))
        .join(F.broadcast(cal), "bin", "left")
        .crossJoin(F.broadcast(prior))
        .select(
            "bin", "y", "p", F.coalesce("p_cal", "p_prior").alias("p_cal")
        )
    )
    per_bin = test.groupBy("bin").agg(
        F.count("*").alias("nb"),
        F.sum(F.round(F.col("p"), 9).cast(_d9)).alias("sp"),
        F.sum(F.col("y").cast("long")).alias("npos"),
        # p_cal is constant within a bin (bin-keyed map); min = that value
        F.min("p_cal").alias("p_cal"),
    )
    rate = F.col("npos").cast("double") / F.col("nb")
    conf_raw = F.col("sp").cast("double") / F.col("nb")
    term_raw = F.round(
        F.col("nb").cast("double") * F.abs(conf_raw - rate), 9
    ).cast(_d9)
    term_cal = F.round(
        F.col("nb").cast("double") * F.abs(F.col("p_cal") - rate), 9
    ).cast(_d9)
    return per_bin.agg(
        F.sum("nb").alias("n_test"),
        F.round(F.sum(term_raw).cast("double") / F.sum("nb"), 6).alias("ece_raw"),
        F.round(F.sum(term_cal).cast("double") / F.sum("nb"), 6).alias("ece_cal"),
    )


QUALITY_FT_HISTCAL_SQL = f"""
WITH {_FT_DB_SQL},
scored AS MATERIALIZED (
  SELECT doc_id, y, p, CAST(floor(p * 8) AS INTEGER) AS bin,
         doc_id % 2 = 1 AS is_train
  FROM (
    SELECT db.doc_id, db.y,
           0.5 + (m / (2.0 * (1.0 + abs(m)))) AS p
    FROM (
      SELECT db.doc_id, db.y,
             CAST(SUM(db.c::DECIMAL(12,0) * lam.w) AS DOUBLE)
               / CAST(SUM(db.c) AS DOUBLE) AS m
      FROM db JOIN lam USING (b)
      GROUP BY db.doc_id, db.y
    ) db
  )
),
cal AS (
  SELECT bin, CAST(SUM(CAST(y AS BIGINT)) AS DOUBLE) / COUNT(*) AS p_cal
  FROM scored WHERE is_train GROUP BY bin
),
prior AS (
  SELECT CAST(SUM(CAST(y AS BIGINT)) AS DOUBLE) / COUNT(*) AS p_prior
  FROM scored WHERE is_train
),
per_bin AS (
  SELECT t.bin, COUNT(*) AS nb,
         SUM(ROUND(t.p, 9)::DECIMAL(28,9)) AS sp,
         CAST(SUM(CAST(t.y AS BIGINT)) AS BIGINT) AS npos,
         MIN(COALESCE(cal.p_cal, prior.p_prior)) AS p_cal
  FROM scored t LEFT JOIN cal USING (bin) CROSS JOIN prior
  WHERE NOT t.is_train
  GROUP BY t.bin
)
SELECT CAST(SUM(nb) AS BIGINT) AS n_test,
       ROUND(CAST(SUM(ROUND(CAST(nb AS DOUBLE) * abs(CAST(sp AS DOUBLE) / nb
                 - CAST(npos AS DOUBLE) / nb), 9)::DECIMAL(28,9)) AS DOUBLE)
             / SUM(nb), 6) AS ece_raw,
       ROUND(CAST(SUM(ROUND(CAST(nb AS DOUBLE) * abs(p_cal
                 - CAST(npos AS DOUBLE) / nb), 9)::DECIMAL(28,9)) AS DOUBLE)
             / SUM(nb), 6) AS ece_cal
FROM per_bin
"""


QUALITY_FT_EVAL_SQL = f"""
WITH {_FT_DB_SQL},
scored AS (
  SELECT db.y, CASE WHEN SUM(db.c::DECIMAL(12,0) * lam.w) > 0 THEN 1 ELSE 0 END AS pred
  FROM db JOIN lam USING (b)
  GROUP BY db.doc_id, db.y
)
SELECT COUNT(*) AS n,
       CAST(SUM(CASE WHEN pred = 1 AND y = 1.0 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
       CAST(SUM(CASE WHEN pred = 1 AND y = 0.0 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
       CAST(SUM(CASE WHEN pred = 0 AND y = 0.0 THEN 1 ELSE 0 END) AS BIGINT) AS tn,
       CAST(SUM(CASE WHEN pred = 0 AND y = 1.0 THEN 1 ELSE 0 END) AS BIGINT) AS fn,
       ROUND(SUM(CASE WHEN pred::DOUBLE = y THEN 1 ELSE 0 END) / COUNT(*), 6) AS accuracy,
       ROUND(greatest(SUM(y), COUNT(*) - SUM(y)) / COUNT(*), 6) AS majority_acc
FROM scored
"""

QUERIES: dict[str, tuple] = {
    "quality_lr_train": (quality_lr_train, QUALITY_LR_TRAIN_SQL),
    "quality_lr_eval": (quality_lr_eval, QUALITY_LR_EVAL_SQL),
    "quality_ft_train": (quality_ft_train, QUALITY_FT_TRAIN_SQL),
    "quality_ft_eval": (quality_ft_eval, QUALITY_FT_EVAL_SQL),
    "quality_ft_calibration": (quality_ft_calibration, QUALITY_FT_CALIBRATION_SQL),
    "quality_ft_histcal": (quality_ft_histcal, QUALITY_FT_HISTCAL_SQL),
}
