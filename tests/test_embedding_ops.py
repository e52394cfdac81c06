"""Invariant tests for the embedding ML-pipeline operators (kNN eval, int8
quantization). Value equality is the DuckDB oracle's job; these pin the
mathematical invariants that hold at any scale."""

from __future__ import annotations

from drive_health_etl_spark.operators.similarity import (
    KNN_EVAL_N,
    emb_quantize_stats,
    sim_knn_classify,
)


def test_knn_accuracy_bounds(spark, sf_dir):
    rows = sim_knn_classify(spark, sf_dir).collect()
    assert rows, "eval report must not be empty"
    assert sum(r["n_eval"] for r in rows) == KNN_EVAL_N
    for r in rows:
        assert 0 <= r["n_correct"] <= r["n_eval"]
        assert 0.0 <= r["accuracy"] <= 1.0


def test_quantization_error_bounded(spark, sf_dir):
    rows = emb_quantize_stats(spark, sf_dir).collect()
    assert rows, "quantization report must not be empty"
    for r in rows:
        assert r["mse"] >= 0.0
        # per-element |x - round(x·s)/s| <= 0.5/s = max_abs/254, so the MSE
        # cannot exceed that bound squared
        bound = (r["max_abs"] / 254.0) ** 2
        assert r["mse"] <= bound + 1e-9, (r["vec_id"], r["mse"], bound)


def test_semdedup_scaled_matches_fixed_k_at_small_n(spark, sf_dir):
    """dedup_semantic_scaled's k = max(N_CELLS, n/256) collapses to N_CELLS
    at test scale, so the production-scaled variant must reproduce the
    oracle-checked fixed-k results exactly (same fit, same pairs)."""
    from drive_health_etl_spark.operators.similarity import (
        dedup_semantic,
        dedup_semantic_scaled,
    )

    a = sorted(map(tuple, dedup_semantic(spark, sf_dir).collect()))
    b = sorted(map(tuple, dedup_semantic_scaled(spark, sf_dir).collect()))
    assert a == b


def test_semdedup_prune_keeps_farthest_from_centroid(spark, tmp_path):
    """The paper's keeper rule (Abbas et al. 2023 §2.2), distinguished from
    a lowest-id rule: a 3-vector near-dup clique planted in one cell must
    keep exactly the member with the LOWEST cosine to its cluster centroid
    (the most diverse exemplar) — which is engineered to be the HIGHEST
    vec_id, so an id-based keeper would fail this test."""
    import math

    from drive_health_etl_spark.operators import similarity as S

    dim = S.EMB_DIM
    rows = []
    # anchors: one-hot dims 0..15, vec_ids 0..15 — these seed Lloyd's init
    for i in range(S.N_CELLS):
        e = [0.0] * dim
        e[i] = 1.0
        rows.append((i, e, 0))
    # clique near anchor 0, rotated into the unused dim 20: v16 = anchor
    # exactly, v17 at 20 deg, v18 at 40 deg. The cell-0 centroid becomes the
    # mean of {v0, v16, v17, v18} (angle ~15 deg), so centroid-cosine order
    # is v17 > v0 = v16 > v18: the survivor must be v18.
    for vid, theta in ((16, 0.0), (17, math.radians(20)), (18, math.radians(40))):
        e = [0.0] * dim
        e[0] = math.cos(theta)
        e[20] = math.sin(theta)
        rows.append((vid, e, 0))
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "embeddings.parquet"))

    got = {r["vec_id"]: r for r in S.dedup_semantic_prune(spark, str(tmp_path)).collect()}
    assert len(got) == 19
    assert not got[0]["kept"] and not got[16]["kept"] and not got[17]["kept"]
    assert got[18]["kept"], "paper rule keeps the farthest-from-centroid member"
    for vid in range(1, 16):
        assert got[vid]["kept"], vid  # singleton cells are untouched
    # priority sanity: the survivor's centroid cosine is the clique minimum
    clique = [got[v]["cent_cos"] for v in (0, 16, 17, 18)]
    assert got[18]["cent_cos"] == min(clique)


def test_adc_lut_cache_matches_uncached_build_for_dataset_query(spark, sf_dir):
    """The cached ADC lookup table equals a fresh, uncached build for the
    dataset's own query id (MAX vec_id) and freshly trained codebooks. The
    LUT resolves both inputs itself, so its per-dataset key cannot hand
    back a table built for another query. The reference repeats the
    engine's left-to-right folds, so the match is exact."""
    import pyspark.sql.functions as F

    from drive_health_etl_spark.operators.similarity import (
        PQ_SUB,
        _adc_lut_cached,
        pq_codebooks,
    )
    from drive_health_etl_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    cached = {(r["m"], r["code"]): r["d"] for r in _adc_lut_cached(spark, sf_dir, emb).collect()}

    def dot(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc += x * y
        return acc

    q = emb.orderBy(F.col("vec_id").desc()).first()["e"]
    want = {}
    for m, code, cv in pq_codebooks(emb):
        sv = q[m * PQ_SUB:(m + 1) * PQ_SUB]
        want[(m, code)] = dot(sv, sv) - 2.0 * dot(sv, cv) + dot(cv, cv)
    assert cached == want
