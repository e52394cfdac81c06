"""Streaming MinHash-LSH dedup-on-arrival: cross-batch state, exact-dup
drops, and batch-equivalence of the greedy semantics."""

from __future__ import annotations

from pyspark.sql import functions as F

from drive_health_etl_spark.operators.dedup import band_keys, signatures_for
from drive_health_etl_spark.sources.tables import load_table
from drive_health_etl_spark.streaming.corpus_stream import (
    CorpusStreamConfig,
    run_corpus_dedup_stream,
)


def _expected_greedy(spark, batches):
    """Reference implementation: sequential batch-mode greedy LSH dedup —
    accepted = docs with no band collision against (earlier accepted ∪
    lower-id same-batch docs)."""
    accepted_keys = None
    accepted_ids = []
    for docs in batches:
        bands = band_keys(signatures_for(docs))
        bucket_min = bands.groupBy("band", "h1", "h2").agg(F.min("doc_id").alias("keeper"))
        collide_in_batch = (
            bands.join(bucket_min, ["band", "h1", "h2"])
            .filter(F.col("doc_id") != F.col("keeper"))
            .select("doc_id")
            .distinct()
        )
        surv = docs.join(collide_in_batch, "doc_id", "left_anti")
        keys = band_keys(signatures_for(surv))
        if accepted_keys is not None:
            dup = keys.join(accepted_keys, ["band", "h1", "h2"], "left_semi").select(
                "doc_id"
            ).distinct()
            surv = surv.join(dup, "doc_id", "left_anti")
            keys = keys.join(dup, "doc_id", "left_anti")
        accepted_ids.extend(r["doc_id"] for r in surv.select("doc_id").collect())
        keys = keys.localCheckpoint(eager=True)
        accepted_keys = keys if accepted_keys is None else accepted_keys.union(keys)
    return sorted(accepted_ids)


def test_streaming_dedup_matches_batch_greedy(spark, sf_dir, tmp_path):
    docs = load_table(spark, sf_dir, "documents")
    b1 = docs.filter(F.col("doc_id") < 250)
    # batch 2: the rest, plus exact copies of 20 batch-1 docs under new ids
    dups = (
        docs.filter(F.col("doc_id") < 20)
        .withColumn("doc_id", F.col("doc_id") + 10_000)
    )
    b2 = docs.filter(F.col("doc_id") >= 250).unionByName(dups)

    src = str(tmp_path / "spool")
    b1.coalesce(1).write.mode("append").parquet(src)
    b2.coalesce(1).write.mode("append").parquet(src)

    cfg = CorpusStreamConfig(
        input_path=src,
        corpus_path=str(tmp_path / "corpus"),
        store_path=str(tmp_path / "store"),
        checkpoint_path=str(tmp_path / "ckpt"),
    )
    q = run_corpus_dedup_stream(spark, cfg)
    q.awaitTermination()

    got = sorted(
        r["doc_id"] for r in spark.read.parquet(cfg.corpus_path).select("doc_id").collect()
    )
    # file-source order = write order, so the reference batches match
    expected = _expected_greedy(spark, [b1, b2])
    assert got == expected
    # every injected exact copy was dropped (identical text -> all bands equal)
    assert all(d < 10_000 for d in got)
    # re-draining with the same checkpoint appends nothing
    q2 = run_corpus_dedup_stream(spark, cfg)
    q2.awaitTermination()
    n_after = spark.read.parquet(cfg.corpus_path).count()
    assert n_after == len(got)


def test_streaming_dedup_accepts_all_uniques_first_batch(spark, sf_dir, tmp_path):
    """A batch of pairwise-non-colliding docs passes through unchanged
    (no false drops from the store path on a fresh stream)."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    surviving = _expected_greedy(spark, [docs])
    src = str(tmp_path / "spool")
    docs.coalesce(1).write.mode("append").parquet(src)
    cfg = CorpusStreamConfig(
        input_path=src,
        corpus_path=str(tmp_path / "corpus"),
        store_path=str(tmp_path / "store"),
        checkpoint_path=str(tmp_path / "ckpt"),
    )
    q = run_corpus_dedup_stream(spark, cfg)
    q.awaitTermination()
    got = sorted(
        r["doc_id"] for r in spark.read.parquet(cfg.corpus_path).select("doc_id").collect()
    )
    assert got == surviving
    store = spark.read.parquet(cfg.store_path)
    assert store.select("doc_id").distinct().count() == len(got)


def test_streaming_dedup_restart_seeds_state_from_store(spark, sf_dir, tmp_path):
    """The in-run state cache (r10: append-only localCheckpointed band keys,
    parquet read only at stream start) must be seeded from the persisted
    store on a RESTART: duplicates of docs accepted by a previous stream —
    a fresh foreachBatch closure with empty in-memory state — must still be
    dropped by the parquet-seeded state, and survivors must keep appending."""
    docs = load_table(spark, sf_dir, "documents")
    b1 = docs.filter(F.col("doc_id") < 100)
    src = str(tmp_path / "spool")
    b1.coalesce(1).write.mode("append").parquet(src)
    cfg = CorpusStreamConfig(
        input_path=src,
        corpus_path=str(tmp_path / "corpus"),
        store_path=str(tmp_path / "store"),
        checkpoint_path=str(tmp_path / "ckpt"),
    )
    run_corpus_dedup_stream(spark, cfg).awaitTermination()
    first = sorted(
        r["doc_id"] for r in spark.read.parquet(cfg.corpus_path).select("doc_id").collect()
    )

    # second stream run: exact copies of already-accepted docs (new ids)
    # plus genuinely new docs
    dups = (
        docs.filter(F.col("doc_id") < 10).withColumn("doc_id", F.col("doc_id") + 50_000)
    )
    fresh = docs.filter((F.col("doc_id") >= 100) & (F.col("doc_id") < 150))
    dups.unionByName(fresh).coalesce(1).write.mode("append").parquet(src)
    run_corpus_dedup_stream(spark, cfg).awaitTermination()

    got = sorted(
        r["doc_id"] for r in spark.read.parquet(cfg.corpus_path).select("doc_id").collect()
    )
    assert all(d < 50_000 for d in got), "cross-run duplicate escaped the seeded state"
    expected = _expected_greedy(spark, [b1, dups.unionByName(fresh)])
    assert got == expected
    assert set(first) <= set(got)


def test_tokenize_stream_matches_batch_and_replay_idempotent(spark, tmp_path):
    """Tokenize-on-arrival must equal the batch subword encode exactly
    (row-local, batch-invariant), and a REPLAYED batch must not duplicate
    output rows (the idempotent batch=<id> overwrite sink)."""
    from drive_health_etl_spark.operators import fitcache
    from drive_health_etl_spark.operators.bpe import subword_encoder, text_bpe_subword_encode
    from drive_health_etl_spark.streaming.corpus_stream import (
        TokenizeStreamConfig,
        run_corpus_tokenize_stream,
    )

    docs = {1: "hello world", 2: "world world hi", 3: ""}
    rows = [(d, t, "en", "s", len(t)) for d, t in docs.items()]
    sf = str(tmp_path)
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(f"{sf}/documents.parquet")
    fitcache.purge(lambda k: k[2] in ("word_counts", "bpe_subword"))

    cfg = TokenizeStreamConfig(
        input_path=f"{sf}/spool",
        output_path=f"{sf}/encoded",
        checkpoint_path=f"{sf}/ckpt",
        fit_sf_dir=sf,
    )
    from drive_health_etl_spark.sources.tables import load_table

    d = load_table(spark, sf, "documents")
    d.filter("doc_id < 2").coalesce(1).write.mode("append").parquet(cfg.input_path)
    d.filter("doc_id >= 2").coalesce(1).write.mode("append").parquet(cfg.input_path)
    q = run_corpus_tokenize_stream(spark, cfg)
    q.awaitTermination()

    got = sorted(
        tuple(r) for r in spark.read.parquet(cfg.output_path).drop("batch").collect()
    )
    want = sorted(tuple(r) for r in text_bpe_subword_encode(spark, sf).collect())
    assert got == want

    # simulate an at-least-once replay of batch 0: same batch_id, same
    # directory — output must be unchanged, not doubled
    encode = subword_encoder(spark, sf)
    encode(d.filter("doc_id < 2")).write.mode("overwrite").parquet(
        f"{cfg.output_path}/batch=0"
    )
    again = sorted(
        tuple(r) for r in spark.read.parquet(cfg.output_path).drop("batch").collect()
    )
    assert again == want
    fitcache.purge(lambda k: k[2] in ("word_counts", "bpe_subword"))
