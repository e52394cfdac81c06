"""In-engine LR quality-classifier tests: learning lift, determinism, and
the engine-exact sigmoid surrogate."""

from __future__ import annotations

from drive_health_etl_spark.plans.registry import REGISTRY


def test_lr_learns_above_majority_prior(spark, sf_dir):
    """The trained model must beat the majority-class baseline — the whole
    point of the class-balanced gradient. An unweighted trainer regresses
    to predicting all-keep (accuracy == majority_acc), which this catches."""
    row = REGISTRY["quality_lr_eval"][0](spark, sf_dir).collect()[0]
    assert row["accuracy"] > row["majority_acc"] + 0.03
    assert row["fp"] == 0  # rule margin is clean on this corpus
    assert row["tp"] + row["fp"] + row["tn"] + row["fn"] == row["n"]


def test_lr_training_is_deterministic(spark, sf_dir):
    from drive_health_etl_spark.operators.classifier import lr_train

    w1 = lr_train(spark, sf_dir)
    w2 = lr_train(spark, sf_dir)
    assert w1 == w2  # bit-for-bit, not approx: decimal sums + fixed fold order


def test_fast_sigmoid_properties(spark):
    """The rational sigmoid surrogate: range (0,1), monotone, sigma~(0)=0.5,
    symmetric — the properties GD relies on."""
    import pyspark.sql.functions as F

    from drive_health_etl_spark.operators.classifier import _fast_sigmoid

    df = spark.range(1).select(
        *[
            _fast_sigmoid(F.lit(z)).alias(f"s{i}")
            for i, z in enumerate([-100.0, -1.0, 0.0, 1.0, 100.0])
        ]
    )
    s = df.collect()[0]
    vals = [s[f"s{i}"] for i in range(5)]
    assert vals[2] == 0.5
    assert all(a < b for a, b in zip(vals, vals[1:]))  # monotone
    assert 0.0 < vals[0] and vals[4] < 1.0
    assert abs((1 - vals[4]) - vals[0]) < 1e-12  # symmetry


def test_lr_weights_match_rule_structure(spark, sf_dir):
    """On this corpus every rule failure is a low stopword fraction, so the
    stopword-frac weight must dominate positively."""
    rows = {r["term"]: r["weight"] for r in REGISTRY["quality_lr_train"][0](spark, sf_dir).collect()}
    assert set(rows) == {"n_words_capped", "mean_word_len", "stopword_frac", "bias"}
    assert rows["stopword_frac"] > 1.0
    assert rows["stopword_frac"] > abs(rows["n_words_capped"])
    assert rows["stopword_frac"] > abs(rows["mean_word_len"])


def test_lr_oracle_matches_on_degenerate_corpora(spark, tmp_path):
    """The SQL oracle must mirror lr_train's degenerate-corpus guard: on an
    EMPTY corpus and an all-one-class corpus both engines must produce the
    zero model, not NULL-propagated weights (the gap a review found: the
    Spark guard existed, the oracle's didn't)."""
    import duckdb
    import pyspark.sql.functions as F

    from drive_health_etl_spark.operators.classifier import (
        QUALITY_LR_TRAIN_SQL,
        quality_lr_train,
    )
    from drive_health_etl_spark.operators import fitcache
    from drive_health_etl_spark.sources.tables import load_table
    from tests.conftest import SF_DIR

    docs = load_table(spark, SF_DIR, "documents")
    # the label is the GOPHER KEEP RULE (not lang): build a genuinely
    # single-class corpus from docs the rule keeps
    keep_ids = [
        r["doc_id"]
        for r in REGISTRY["text_gopher_rules"][0](spark, SF_DIR)
        .filter("keep")
        .limit(5)
        .collect()
    ]
    cases = {
        "empty": docs.filter(F.lit(False)),
        "single_class": docs.filter(F.col("doc_id").isin(keep_ids)),
    }
    for label, df in cases.items():
        d = str(tmp_path / label)
        df.coalesce(1).write.mode("overwrite").parquet(f"{d}/documents.parquet")
        fitcache.purge(lambda k: k[2] == "lr_weights")  # fresh fit on this corpus
        got = {r["term"]: r["weight"] for r in quality_lr_train(spark, d).collect()}
        con = duckdb.connect()
        # Spark writes a directory of part files; point DuckDB at the parts
        con.execute(
            f"CREATE VIEW documents AS SELECT * FROM '{d}/documents.parquet/*.parquet'"
        )
        want = dict(con.sql(QUALITY_LR_TRAIN_SQL).fetchall())
        con.close()
        assert got == want == {t: 0.0 for t in got}, (label, got, want)
    fitcache.purge(lambda k: k[2] == "lr_weights")


# --- fastText-style hashed-ngram classifier (NBSVM closed-form) ------------


def test_ft_learns_above_majority_prior(spark, sf_dir):
    """The hashed-ngram model must rediscover the stopword rule from labels
    alone — accuracy well above the ~0.906 majority prior (measured 0.996
    at sf0.01 with D=512)."""
    row = REGISTRY["quality_ft_eval"][0](spark, sf_dir).collect()[0]
    assert row["accuracy"] > row["majority_acc"] + 0.03
    assert row["tp"] + row["fp"] + row["tn"] + row["fn"] == row["n"]


def test_ft_known_answers(spark, tmp_path):
    """Hand corpus: stopword docs (y=1) vs content docs (y=0). The fitted
    weights must put positive mass on the stopword buckets, every doc must
    classify correctly, and an empty-text doc must drop out entirely."""
    import pyspark.sql.functions as F  # noqa: F401

    from drive_health_etl_spark.operators.classifier import (
        FT_BUCKETS,
        quality_ft_eval,
        quality_ft_train,
    )

    rows = [
        (1, "the data of the table and the sort", "en", "s", 34),
        (2, "a fast join in a batch is a win", "en", "s", 31),
        (3, "vector hash merge filter window batch", "en", "s", 37),
        (4, "spark query scan group column stream", "en", "s", 36),
        (5, "", "en", "s", 0),  # no grams -> no rows in either engine
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    df.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))

    ev = quality_ft_eval(spark, str(tmp_path)).collect()[0]
    assert ev["n"] == 4  # doc 5 contributed nothing
    assert ev["accuracy"] == 1.0
    assert ev["tp"] == 2 and ev["tn"] == 2 and ev["fp"] == 0 and ev["fn"] == 0

    # the bucket holding 'the' must carry positive weight
    import hashlib

    b_the = int(hashlib.md5(b"the").hexdigest()[:7], 16) % FT_BUCKETS
    weights = {r["b"]: r["weight"] for r in quality_ft_train(spark, str(tmp_path)).collect()}
    assert weights[b_the] > 0


def test_ft_single_class_corpus_is_well_defined(spark, tmp_path):
    """Add-1 smoothing keeps every log argument positive, so a one-class
    corpus fits without any degenerate guard (unlike lr_train) and predicts
    the one observed class."""
    from drive_health_etl_spark.operators.classifier import quality_ft_eval

    rows = [
        (1, "the data of the table", "en", "s", 21),
        (2, "a fast join in the batch", "en", "s", 24),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    df.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    ev = quality_ft_eval(spark, str(tmp_path)).collect()[0]
    assert ev["n"] == 2 and ev["fn"] == 0 and ev["accuracy"] == 1.0


def test_ft_calibration_reliability_table(spark, sf_dir):
    """Bins partition the corpus; confidences and rates are probabilities;
    the table must expose the raw model's miscalibration structure (every
    bin's empirical rate is a valid probability and bin populations sum to
    the scored corpus)."""
    from drive_health_etl_spark.operators.classifier import quality_ft_calibration

    rows = quality_ft_calibration(spark, sf_dir).collect()
    ev = REGISTRY["quality_ft_eval"][0](spark, sf_dir).collect()[0]
    assert sum(r["n_docs"] for r in rows) == ev["n"]
    for r in rows:
        assert 0 <= r["bin"] <= 7
        assert 0.0 < r["avg_conf"] < 1.0
        assert 0.0 <= r["pos_rate"] <= 1.0
        # avg_conf must live inside its bin's range
        assert r["bin"] / 8 <= r["avg_conf"] < (r["bin"] + 1) / 8


def test_ft_histcal_holdout_improvement(spark, sf_dir):
    """Histogram binning fitted on odd doc_ids must collapse the held-out
    (even doc_ids) calibration error: the raw rational-sigmoid confidences
    are badly uncalibrated on this corpus (ECE ~0.41), the binwise map is
    near-perfect when the score distribution is stable across the split."""
    from drive_health_etl_spark.operators.classifier import quality_ft_histcal

    row = quality_ft_histcal(spark, sf_dir).collect()[0]
    assert row["n_test"] > 0
    assert row["ece_raw"] > 0.1  # raw sigmoid confidences are honest-bad
    assert row["ece_cal"] < row["ece_raw"] / 10  # the map fixes them
    assert 0.0 <= row["ece_cal"] <= 1.0
