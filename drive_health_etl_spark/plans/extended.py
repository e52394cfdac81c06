"""Extended operator coverage (SURVEY.md §2 rows not in relational.py):

- F1/F2 phone normalization through the real pandas UDF, oracle-checked
  against a SQL spec of the normalizer's rules on synthesized inputs.
- Pivot / unpivot (stack).
- GROUPING SETS via the SQL API (temp views), proving the spark.sql surface.
- S9 table-metadata stats.
- ST6 DLQ replay routing through ``operators.dlq.route_dlq``, oracle-checked
  against an independent SQL statement of the routing contract.
- Random-hyperplane LSH bucketing + bucketed ANN (the scale path for
  similarity search: candidates share a bucket, so the scan is 1/|buckets|
  of brute force). Plane weights are Python-computed float64 literals
  embedded identically on both engines — no cross-engine math on weights.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from drive_health_etl_spark.functions.phone import normalize_phone_udf
from drive_health_etl_spark.operators.dlq import route_dlq
from drive_health_etl_spark.operators.fitcache import dataset_cached
from drive_health_etl_spark.sources.tables import load_table, register_views

# --- F1/F2: phone normalization (the one real UDF) --------------------------


def f1_phone_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E.164 normalization via the pandas UDF over synthesized phone strings
    (``src/phone.js:15-29``; golden formats from ``scripts/01:156-161``).
    The oracle states the normalizer's contract in SQL; the Spark side must
    reproduce it through the actual UDF path (Arrow batches and all)."""
    e = load_table(spark, sf_dir, "events")
    last4 = F.lpad((F.col("event_id") % 10000).cast("string"), 4, "0")
    raw_phone = (
        F.when(F.col("event_id") % 4 == 0, F.concat(F.lit("(415) 555-"), last4))
        .when(F.col("event_id") % 4 == 1, F.concat(F.lit("415-555-"), last4))
        .when(F.col("event_id") % 4 == 2, F.concat(F.lit("+44 20 7123 "), last4))
        .otherwise(F.lit("not-a-phone"))
    )
    return e.select(
        "event_id",
        raw_phone.alias("raw_phone"),
        normalize_phone_udf(raw_phone).alias("e164"),
    )


F1_SQL = """
SELECT event_id,
       CASE WHEN event_id % 4 = 0 THEN '(415) 555-' || lpad(CAST(event_id % 10000 AS VARCHAR), 4, '0')
            WHEN event_id % 4 = 1 THEN '415-555-' || lpad(CAST(event_id % 10000 AS VARCHAR), 4, '0')
            WHEN event_id % 4 = 2 THEN '+44 20 7123 ' || lpad(CAST(event_id % 10000 AS VARCHAR), 4, '0')
            ELSE 'not-a-phone' END AS raw_phone,
       CASE WHEN event_id % 4 IN (0, 1) THEN '+1415555' || lpad(CAST(event_id % 10000 AS VARCHAR), 4, '0')
            WHEN event_id % 4 = 2 THEN '+44207123' || lpad(CAST(event_id % 10000 AS VARCHAR), 4, '0')
            ELSE NULL END AS e164
FROM events
"""


# --- T4: pivot / unpivot ----------------------------------------------------

EVENT_TYPES = ("click", "view", "purchase", "signup", "error")


def t4_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot event counts per day into one column per event type."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.to_date("ts").alias("event_date"))
        .pivot("event_type", list(EVENT_TYPES))
        .agg(F.count(F.lit(1)))
        .na.fill(0, list(EVENT_TYPES))
    )


T4_PIVOT_SQL = f"""
SELECT CAST(ts AS DATE) AS event_date,
       {', '.join(f"CAST(SUM(CASE WHEN event_type = '{t}' THEN 1 ELSE 0 END) AS BIGINT) AS {t}" for t in EVENT_TYPES)}
FROM events GROUP BY 1
"""


def t4_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (stack) two measures of lineitem into rows."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.expr(
            "stack(2, 'extendedprice', l_extendedprice, 'tax_rate', l_tax)"
        ).alias("measure_name", "measure_value"),
    )


T4_UNPIVOT_SQL = """
SELECT l_orderkey, l_linenumber, 'extendedprice' AS measure_name, l_extendedprice AS measure_value FROM lineitem
UNION ALL
SELECT l_orderkey, l_linenumber, 'tax_rate' AS measure_name, l_tax AS measure_value FROM lineitem
"""


# --- A5: grouping sets via the SQL API --------------------------------------


def a5_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS through spark.sql over registered temp views — the SQL
    entry point of the engine (same Catalyst plan as the DataFrame API)."""
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus, COUNT(*) AS n
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        """
    )


A5_GROUPING_SETS_SQL = """
SELECT l_returnflag, l_linestatus, COUNT(*) AS n
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
"""


# --- S9: table metadata scan ------------------------------------------------


# ONE SQL text, two engines: this exact string runs through spark.sql() over
# the registered views AND through DuckDB as its own oracle — the strongest
# possible SQL-API parity statement (no per-engine translation at all). Keep
# it dialect-neutral: ANSI aggregates, decimal-cast sums (exact, order-
# independent), DATE literals, HAVING, CASE.
SQL_ANSI_PARITY_TEXT = """
SELECT o.o_orderpriority AS priority,
       COUNT(*) AS n_lines,
       CAST(SUM(CAST(l.l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
       CAST(SUM(CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS n_returned
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
WHERE l.l_shipdate >= DATE '1995-01-01'
GROUP BY o.o_orderpriority
HAVING COUNT(*) > 10
ORDER BY priority
"""


def sql_ansi_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The engine's SQL entry point (``spark.sql`` over registered views)
    executing the *identical* ANSI text the DuckDB oracle runs — zero
    translation. Mirrors the reference's embedded verification-SQL pattern
    (``scripts/01_smoke_publish.js:142-153``) where the check IS a SQL
    string handed to the warehouse."""
    from drive_health_etl_spark.sources.tables import register_views

    register_views(spark, sf_dir)
    return spark.sql(SQL_ANSI_PARITY_TEXT)


def s9_table_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """numRows/key-range/cardinality monitoring scan (``src/bq.js:116-134``)."""
    o = load_table(spark, sf_dir, "orders")
    return o.agg(
        F.count("*").alias("num_rows"),
        F.countDistinct("o_custkey").alias("n_customers"),
        F.min("o_orderdate").alias("first_order"),
        F.max("o_orderdate").alias("last_order"),
        F.min("o_orderkey").alias("min_key"),
        F.max("o_orderkey").alias("max_key"),
    )


S9_SQL = """
SELECT COUNT(*) AS num_rows, COUNT(DISTINCT o_custkey) AS n_customers,
       MIN(o_orderdate) AS first_order, MAX(o_orderdate) AS last_order,
       MIN(o_orderkey) AS min_key, MAX(o_orderkey) AS max_key
FROM orders
"""


def s9_table_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full BigQuery-metadata parity for the table info endpoint
    (``src/bq.js:116-134`` returns numRows/numBytes/lastModified): row count
    plus per-file size and modification time from Spark's file-source
    ``_metadata`` hidden column — storage facts SQL over the data can't see,
    hence rows-only (no DuckDB oracle)."""
    import os as _os

    o = spark.read.parquet(_os.path.join(sf_dir, "orders.parquet"))
    files = (
        o.select(
            F.col("_metadata.file_path").alias("path"),
            F.col("_metadata.file_size").alias("bytes"),
            F.col("_metadata.file_modification_time").alias("mtime"),
        )
        .groupBy("path")
        .agg(F.first("bytes").alias("bytes"), F.first("mtime").alias("mtime"))
    )
    stats = files.agg(
        F.count("*").alias("num_files"),
        F.sum("bytes").alias("num_bytes"),
        F.max("mtime").alias("last_modified"),
    )
    rows = o.groupBy().agg(F.count("*").alias("num_rows"))
    return rows.crossJoin(F.broadcast(stats))


# --- ST6: replay routing through the real operator --------------------------


def st6_replay_routing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DLQ replay/parking routing (``src/replay-dlq-job.js:81-92``) exercised
    through ``route_dlq`` on a synthesized DLQ; the oracle is an independent
    SQL statement of the routing contract (attempts<3 -> replay with +1 and
    hygiene-cleaned attributes; else parked)."""
    e = load_table(spark, sf_dir, "events")
    dlq = e.select(
        F.lit("x").alias("data"),
        F.create_map(
            F.lit("googclient_delivery"), F.lit("t"),
            F.lit("x-replay-attempts"), (F.col("event_id") % 5).cast("string"),
        ).alias("attributes"),
        F.concat(F.lit("m-"), F.col("event_id").cast("string")).alias("message_id"),
        F.lit(None).cast("string").alias("ordering_key"),
        F.lit("VALIDATION_ERROR").alias("status"),
    )
    routed = route_dlq(dlq)
    replay = routed.replay.select(
        "message_id",
        F.lit("replay").alias("destination"),
        F.col("attempts").alias("attempts_out"),
        F.array_contains(F.map_keys("attributes"), "googclient_delivery").alias("kept_googclient"),
    )
    parked = routed.parked.select(
        "message_id",
        F.lit("parked").alias("destination"),
        F.col("attempts").alias("attempts_out"),
        F.array_contains(F.map_keys("attributes"), "googclient_delivery").alias("kept_googclient"),
    )
    return replay.union(parked)


ST6_SQL = """
SELECT 'm-' || CAST(event_id AS VARCHAR) AS message_id,
       CASE WHEN event_id % 5 >= 3 THEN 'parked' ELSE 'replay' END AS destination,
       CAST(CASE WHEN event_id % 5 >= 3 THEN event_id % 5 ELSE event_id % 5 + 1 END AS INTEGER) AS attempts_out,
       FALSE AS kept_googclient
FROM events
"""


# --- LSH-bucketed similarity (the ANN scale path) ---------------------------

N_PLANES = 4
DIM = 64


def _plane_weights() -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes in [-1, 1]^64, derived from
    md5 so both engines receive IDENTICAL float64 literals (no cross-engine
    arithmetic on weights)."""
    planes = []
    for p in range(N_PLANES):
        row = []
        for d in range(DIM):
            h = int(hashlib.md5(f"{p}:{d}".encode()).hexdigest()[:8], 16)
            row.append(h / 0xFFFFFFFF * 2.0 - 1.0)
        planes.append(row)
    return planes


_PLANES = _plane_weights()


def _bucket_expr(e: Column) -> Column:
    # one transform over one array-of-structs literal, not N_PLANES separate
    # dot-fold subtrees (see _all_table_buckets_expr for the rationale)
    planes_lit = F.array(
        *[
            F.struct(
                F.lit(2**p).alias("bitval"),
                F.array(*[F.lit(x) for x in w]).alias("w"),
            )
            for p, w in enumerate(_PLANES)
        ]
    )
    bits = F.transform(
        planes_lit,
        lambda s: F.when(
            F.aggregate(F.zip_with(e, s["w"], lambda x, y: x * y), F.lit(0.0), lambda a, x: a + x)
            > 0,
            s["bitval"],
        ).otherwise(F.lit(0)),
    )
    return F.aggregate(bits, F.lit(0), lambda a, x: a + x)


def _sql_weights(weights: list[float]) -> str:
    return "[" + ", ".join(repr(w) for w in weights) + "]::DOUBLE[]"


def _sql_bucket(col: str) -> str:
    terms = [
        f"(CASE WHEN list_dot_product({col}, {_sql_weights(w)}) > 0 THEN {2**p} ELSE 0 END)"
        for p, w in enumerate(_PLANES)
    ]
    return "(" + " + ".join(terms) + ")"


def sim_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane LSH bucket assignment + occupancy histogram."""
    # r11: bucket codes from the shared LSH index (one corpus hash per
    # session/dataset; see _lsh_index_cached)
    return (
        _lsh_index_cached(spark, sf_dir)
        .select("bucket")
        .groupBy("bucket")
        .agg(F.count("*").alias("n_vectors"))
    )


SIM_LSH_BUCKETS_SQL = f"""
SELECT {_sql_bucket('embedding::DOUBLE[]')} AS bucket, COUNT(*) AS n_vectors
FROM embeddings GROUP BY 1
"""


def sim_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed ANN: per query (vec_id < 8), rank only same-bucket candidates
    by cosine — the candidate scan is ~1/2^planes of brute force; recall
    trades off via N_PLANES (multi-probe would union adjacent buckets)."""
    from drive_health_etl_spark.operators.similarity import _dot

    # r11: hash table, query codes, and norms from the shared LSH index
    # (identical folds, materialized once — see _lsh_index_cached)
    emb = _lsh_index_cached(spark, sf_dir).select("vec_id", "e", "enorm", "bucket")
    q = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), F.col("e").alias("qe"),
        F.col("enorm").alias("qnorm"), F.col("bucket").alias("qb")
    )
    cand = emb.join(
        F.broadcast(q), (F.col("bucket") == F.col("qb")) & (F.col("vec_id") != F.col("query_id"))
    )
    scored = cand.select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        F.round(_dot(F.col("qe"), F.col("e")) / (F.col("qnorm") * F.col("enorm")), 6).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id").asc())
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("query_id", "neighbor_id", "cosine", "rnk")
    )


SIM_ANN_LSH_SQL = f"""
WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS emb, {_sql_bucket('embedding::DOUBLE[]')} AS bucket
  FROM embeddings
),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         ROUND(list_dot_product(q.emb, c.emb)
               / (sqrt(list_dot_product(q.emb, q.emb)) * sqrt(list_dot_product(c.emb, c.emb))), 6) AS cosine
  FROM e q JOIN e c ON c.bucket = q.bucket AND c.vec_id <> q.vec_id
  WHERE q.vec_id < 8
)
SELECT query_id, neighbor_id, cosine, rnk FROM (
  SELECT query_id, neighbor_id, cosine,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rnk
  FROM scored
) WHERE rnk <= 3
"""


def sim_ann_lsh_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe LSH ANN: each query searches its own bucket PLUS the
    N_PLANES buckets at Hamming distance 1 (one hyperplane flipped) — the
    standard recall fix for hash-boundary misses. Candidate volume grows by
    (N_PLANES+1)x but stays ~(p+1)/2^p of brute force; every vector lives in
    exactly one bucket, so the probe join produces no duplicate candidates
    and needs no distinct. Top-3 per query by exact cosine."""
    from drive_health_etl_spark.operators.similarity import _dot

    # r11: hash table, query codes, and norms from the shared LSH index
    emb = _lsh_index_cached(spark, sf_dir).select("vec_id", "e", "enorm", "bucket")
    q = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), F.col("e").alias("qe"),
        F.col("enorm").alias("qnorm"), F.col("bucket").alias("qb")
    )
    probes = q.select(
        "query_id",
        "qe",
        "qnorm",
        F.explode(
            F.array(
                F.col("qb"),
                *[F.col("qb").bitwiseXOR(F.lit(1 << p)) for p in range(N_PLANES)],
            )
        ).alias("pb"),
    )
    cand = emb.join(
        F.broadcast(probes),
        (F.col("bucket") == F.col("pb")) & (F.col("vec_id") != F.col("query_id")),
    )
    scored = cand.select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        F.round(_dot(F.col("qe"), F.col("e")) / (F.col("qnorm") * F.col("enorm")), 6).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id").asc())
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("query_id", "neighbor_id", "cosine", "rnk")
    )


# --- Multi-table LSH (OR-amplification): L independent hash tables, each
# with its own hyperplane set; a vector is a candidate if it collides with
# the query (within Hamming radius 1) in ANY table. P(miss) decays as
# miss_one^L — the standard recall lever when single-table probing tops out.
# On THIS corpus (near-random embeddings, true neighbors at cosine ~0.5)
# reaching recall 0.95 costs ~60% of brute-force scan; on a real near-dup
# corpus (neighbors at cosine 0.95+) the same config scans a tiny fraction.
N_TABLES = 8
N_TABLE_PLANES = 6


def _table_planes(t: int) -> list[list[float]]:
    planes = []
    for p in range(N_TABLE_PLANES):
        row = []
        for d in range(DIM):
            h = int(hashlib.md5(f"{t}:{p}:{d}".encode()).hexdigest()[:8], 16)
            row.append(h / 0xFFFFFFFF * 2.0 - 1.0)
        planes.append(row)
    return planes


_TABLE_PLANES = [_table_planes(t) for t in range(N_TABLES)]


def _planes_df(spark: SparkSession):
    """The full 48-plane matrix as a ONE-ROW DataFrame (column ``planes``:
    array<struct<bitval:int, w:array<double>>>, t-major then plane order).
    Joining this in as a broadcast keeps the 3072 plane weights OUT of the
    query's expression tree — the same matrix as an array-of-structs
    LITERAL costs ~3s of Catalyst analysis/codegen per query regardless of
    data size (measured at sf0.01: tb materialization 3.5s literal vs 0.7s
    broadcast row). The 1-row broadcast nested-loop join is fenced in
    tests/test_plans.py BNLJ_BY_DESIGN."""
    import pyspark.sql.types as T

    planes = [
        {"bitval": 2**p, "w": _TABLE_PLANES[t][p]}
        for t in range(N_TABLES)
        for p in range(N_TABLE_PLANES)
    ]
    schema = T.StructType(
        [
            T.StructField(
                "planes",
                T.ArrayType(
                    T.StructType(
                        [
                            T.StructField("bitval", T.IntegerType()),
                            T.StructField("w", T.ArrayType(T.DoubleType())),
                        ]
                    )
                ),
            )
        ]
    )
    return spark.createDataFrame([(planes,)], schema)


def _all_table_buckets_expr(e: Column) -> Column:
    """All N_TABLES bucket codes from the joined ``planes`` column: ONE
    shared transform lambda computes the 48 hyperplane signs, then a second
    transform folds each table's N_TABLE_PLANES bits into its bucket code.
    Returns array<int> of length N_TABLES. Requires ``planes`` in scope
    (join ``_planes_df`` first)."""
    bits = F.transform(
        F.col("planes"),
        lambda s: F.when(
            F.aggregate(F.zip_with(e, s["w"], lambda x, y: x * y), F.lit(0.0), lambda a, x: a + x)
            > 0,
            s["bitval"],
        ).otherwise(F.lit(0)),
    )
    return F.transform(
        F.sequence(F.lit(0), F.lit(N_TABLES - 1)),
        lambda t: F.aggregate(
            F.slice(bits, t * N_TABLE_PLANES + 1, N_TABLE_PLANES), F.lit(0), lambda a, x: a + x
        ),
    )


def _sql_table_bucket(col: str, t: int) -> str:
    terms = [
        f"(CASE WHEN list_dot_product({col}, {_sql_weights(w)}) > 0 THEN {2**p} ELSE 0 END)"
        for p, w in enumerate(_TABLE_PLANES[t])
    ]
    return "(" + " + ".join(terms) + ")"


def _lsh_index_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE LSH INDEX — every vector with its single-table bucket, its
    N_TABLES multi-table bucket codes, and its precomputed L2 norm —
    persisted once per (session, dataset). r11: each LSH query re-hashed
    the whole corpus per CALL (sim_ann_lsh and multiprobe each fold
    N_PLANES hyperplane dots per vector; multitable folds 48), and the
    scoring joins re-scanned the embeddings besides. A production LSH tier
    stores exactly these hash tables at indexing time; search only probes
    them (the `_assigned_cached` inverted-file precedent from the IVF
    family). The norm is the same `_norm` fold the scorers inlined, so
    cosines read from here are bit-identical. Consumers project what they
    need."""
    from drive_health_etl_spark.operators.similarity import _norm  # noqa: PLC0415

    def build() -> DataFrame:
        emb = (
            load_table(spark, sf_dir, "embeddings")
            .repartition(spark.sparkContext.defaultParallelism)
            .select("vec_id", F.col("embedding").cast("array<double>").alias("e"))
        )
        return (
            emb.join(F.broadcast(_planes_df(spark)))
            .select(
                "vec_id",
                "e",
                _norm(F.col("e")).alias("enorm"),
                _bucket_expr(F.col("e")).alias("bucket"),
                _all_table_buckets_expr(F.col("e")).alias("tbuckets"),
            )
            .persist()
        )

    return dataset_cached(spark, sf_dir, "lsh_index", build)


def sim_ann_lsh_multitable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-table multi-probe LSH ANN: N_TABLES independent hyperplane
    tables, each probed at Hamming radius <=1; a candidate needs a collision
    in ANY table (OR-amplification), then exact cosine top-3. Shuffle keys
    are (table, bucket) — uniform; candidate pairs are deduped BEFORE the
    cosine scoring so each pair is scored once. Measured recall@3 vs brute
    force at sf0.1: 0.958 (vs 0.458 single-table multiprobe). r11: corpus
    hash tables, query codes, and norms all read `_lsh_index_cached`; the
    probes side still aliases t as pt so the candidate join stays a true
    two-sided equi-join (a tb-derived SELF-join would resolve t == pt to
    one attribute and admit cross-table collisions)."""
    from drive_health_etl_spark.operators.similarity import _dot

    idx = _lsh_index_cached(spark, sf_dir)
    tb = idx.select(
        "vec_id", F.posexplode(F.col("tbuckets")).alias("t", "bucket")
    )
    probes = (
        idx.filter(F.col("vec_id") < 8)
        .select(
            F.col("vec_id").alias("query_id"),
            F.posexplode(F.col("tbuckets")).alias("pt", "qb"),
        )
        .select(
            "query_id",
            "pt",
            F.explode(
                F.array(
                    F.col("qb"),
                    *[F.col("qb").bitwiseXOR(F.lit(1 << p)) for p in range(N_TABLE_PLANES)],
                )
            ).alias("pb"),
        )
    )
    cand = (
        tb.join(
            F.broadcast(probes),
            (F.col("t") == F.col("pt"))
            & (F.col("bucket") == F.col("pb"))
            & (F.col("vec_id") != F.col("query_id")),
        )
        .select("query_id", "vec_id")
        .distinct()
    )
    # candidate set and the 8 query rows are the small sides — broadcast
    # them explicitly (the persisted index carries no pre-AQE size stats,
    # so the static planner would otherwise fall back to sort-merge)
    scored = (
        idx.select("vec_id", "e", "enorm")
        .join(F.broadcast(cand), "vec_id")
        .join(
            F.broadcast(
                idx.filter(F.col("vec_id") < 8).select(
                    F.col("vec_id").alias("query_id"),
                    F.col("e").alias("qe"),
                    F.col("enorm").alias("qnorm"),
                )
            ),
            "query_id",
        )
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(
                _dot(F.col("qe"), F.col("e")) / (F.col("qnorm") * F.col("enorm")), 6
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id").asc())
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("query_id", "neighbor_id", "cosine", "rnk")
    )


def _multitable_sql() -> str:
    tb_selects = "\n  UNION ALL ".join(
        f"SELECT vec_id, {t} AS t, {_sql_table_bucket('embedding::DOUBLE[]', t)} AS bucket FROM embeddings"
        for t in range(N_TABLES)
    )
    probe_list = "[bucket, " + ", ".join(
        f"xor(bucket, {1 << p})" for p in range(N_TABLE_PLANES)
    ) + "]"
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
tb AS (
  {tb_selects}
),
probes AS (
  SELECT vec_id AS query_id, t, unnest({probe_list}) AS pb
  FROM tb WHERE vec_id < 8
),
cand AS (
  SELECT DISTINCT p.query_id, c.vec_id
  FROM probes p JOIN tb c ON c.t = p.t AND c.bucket = p.pb AND c.vec_id <> p.query_id
),
scored AS (
  SELECT cand.query_id, cand.vec_id AS neighbor_id,
         ROUND(list_dot_product(q.emb, c.emb)
               / (sqrt(list_dot_product(q.emb, q.emb)) * sqrt(list_dot_product(c.emb, c.emb))), 6) AS cosine
  FROM cand
  JOIN e q ON q.vec_id = cand.query_id
  JOIN e c ON c.vec_id = cand.vec_id
)
SELECT query_id, neighbor_id, cosine, rnk FROM (
  SELECT query_id, neighbor_id, cosine,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rnk
  FROM scored
) WHERE rnk <= 3
"""


_PROBE_LIST_SQL = "[q.bucket, " + ", ".join(
    f"xor(q.bucket, {1 << p})" for p in range(N_PLANES)
) + "]"

SIM_ANN_LSH_MULTIPROBE_SQL = f"""
WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS emb, {_sql_bucket('embedding::DOUBLE[]')} AS bucket
  FROM embeddings
),
probes AS (
  SELECT q.vec_id AS query_id, q.emb AS qemb, unnest({_PROBE_LIST_SQL}) AS pb
  FROM e q WHERE q.vec_id < 8
),
scored AS (
  SELECT p.query_id, c.vec_id AS neighbor_id,
         ROUND(list_dot_product(p.qemb, c.emb)
               / (sqrt(list_dot_product(p.qemb, p.qemb)) * sqrt(list_dot_product(c.emb, c.emb))), 6) AS cosine
  FROM probes p JOIN e c ON c.bucket = p.pb AND c.vec_id <> p.query_id
)
SELECT query_id, neighbor_id, cosine, rnk FROM (
  SELECT query_id, neighbor_id, cosine,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rnk
  FROM scored
) WHERE rnk <= 3
"""


# --- F5: base64 encode/decode roundtrip -------------------------------------


def f5_base64_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Base64 encode/decode (F5, ``src/handler.js:44``/``replay-dlq-job.js:28``)
    — the message-data codec of the ingest path, roundtripped."""
    e = load_table(spark, sf_dir, "events")
    encoded = F.base64(F.encode(F.col("props"), "utf-8"))
    return e.select(
        "event_id",
        encoded.alias("b64"),
        F.unbase64(encoded).cast("string").alias("decoded"),
        (F.unbase64(encoded).cast("string") == F.col("props")).alias("roundtrip_ok"),
    )


F5_SQL = """
SELECT event_id,
       to_base64(encode(props)) AS b64,
       decode(from_base64(to_base64(encode(props)))) AS decoded,
       decode(from_base64(to_base64(encode(props)))) = props AS roundtrip_ok
FROM events
"""


# --- W2b: rank / dense_rank -------------------------------------------------


def w2b_rank_dense(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rank + dense_rank over a key with real ties (order priority within
    status) — distinguishes the three ranking functions."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderstatus").orderBy(F.col("o_orderpriority").asc())
    return o.select(
        "o_orderkey",
        "o_orderstatus",
        "o_orderpriority",
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
    )


W2B_SQL = """
SELECT o_orderkey, o_orderstatus, o_orderpriority,
       RANK() OVER (PARTITION BY o_orderstatus ORDER BY o_orderpriority ASC) AS rnk,
       DENSE_RANK() OVER (PARTITION BY o_orderstatus ORDER BY o_orderpriority ASC) AS drnk
FROM orders
"""


# --- A5c: approximate aggregates (rows-only: sketch implementations differ) --


def a5_approx_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ distinct + approximate percentiles, verified IN-ENGINE
    against the exact values (sketch outputs differ across engines by
    design, so the emitted columns are the exact ones plus boolean
    within-tolerance flags the DuckDB oracle reproduces as TRUE — the same
    pattern as sketch_distinct_hll / sketch_quantile_check)."""
    li = load_table(spark, sf_dir, "lineitem")
    exact_nd = F.count_distinct("l_orderkey")
    # Two 1-row aggregates joined, NOT one: a distinct aggregate mixed with
    # percentile aggs plans an Expand (row duplication per agg group) and
    # was measured 20-60x slower than the two independent scans. Percentiles
    # use the array form — each percentile() aggregate buffers the whole
    # column separately, the array form buffers it once for both quantiles.
    # rsd pinned to 1%: the default 5% is a ONE-sigma bound, observed 6.4%
    # off at sf0.001's ~1.5k cardinality — the tolerance flag needs the
    # estimate's error comfortably inside the asserted 5% at every SF.
    dist = li.agg(
        exact_nd.alias("n_orders"),
        (F.abs(F.approx_count_distinct("l_orderkey", 0.01) - exact_nd)
         <= F.lit(0.05) * exact_nd).alias("nd_ok"),
    )
    pctl = (
        li.agg(
            F.expr("percentile(l_extendedprice, array(0.5D, 0.95D))").alias("ex"),
            F.expr("approx_percentile(l_extendedprice, array(0.5D, 0.95D))").alias("ap"),
        )
        .select(
            F.round(F.col("ex")[0], 6).alias("p50_price"),
            F.round(F.col("ex")[1], 6).alias("p95_price"),
            ((F.abs(F.col("ap")[0] - F.col("ex")[0]) <= F.lit(0.05) * F.col("ex")[0])
             & (F.abs(F.col("ap")[1] - F.col("ex")[1]) <= F.lit(0.05) * F.col("ex")[1])
            ).alias("pctl_ok"),
        )
    )
    return dist.join(F.broadcast(pctl))  # 1 row x 1 row


A5_APPROX_STATS_SQL = """
SELECT COUNT(DISTINCT l_orderkey) AS n_orders, TRUE AS nd_ok,
       round(quantile_cont(l_extendedprice, 0.5), 6) AS p50_price,
       round(quantile_cont(l_extendedprice, 0.95), 6) AS p95_price,
       TRUE AS pctl_ok
FROM lineitem
"""


# --- Entity resolution (blocked fuzzy record linkage) -----------------------

LINK_PROBE_MOD = 37  # every 37th customer becomes a corrupted probe record


def link_entity_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Record linkage: match corrupted probe records (customer names with one
    deterministically-deleted character — stand-in for dirty CRM imports)
    back to the master table via blocking + edit-distance scoring. Per
    probe: the argmin-levenshtein master within the same block, custkey as
    the deterministic tiebreak.

    Plan: the blocking key is (nation, last-4-of-name) — a property the
    corruption model cannot touch (the deletion hits position 10; the
    suffix survives), giving thousands of small blocks instead of ~25
    nation-sized ones (nation-only blocking is a skew magnet at scale:
    block size grows with the table, and candidate pairs grow
    quadratically inside it). Real pipelines run several such
    corruption-invariant keys as multi-pass blocking. The join is a plain
    equi-join on the composite key, then one window per probe for the
    argmin. Probe side is a filtered scan of the same table (distinct
    attribute names keep the self-join predicates honest)."""
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey"
    )
    cust = cust.withColumn("block_sfx", F.substring("c_name", -4, 4))
    probes = cust.filter(F.col("c_custkey") % LINK_PROBE_MOD == 0).select(
        F.col("c_custkey").alias("probe_key"),
        F.concat(
            F.substring("c_name", 1, 9), F.expr("substring(c_name, 11)")
        ).alias("probe_name"),
        F.col("c_nationkey").alias("probe_nation"),
        F.col("block_sfx").alias("probe_sfx"),
    )
    cands = probes.join(
        cust,
        (probes["probe_nation"] == cust["c_nationkey"])
        & (probes["probe_sfx"] == cust["block_sfx"]),
    )
    scored = cands.withColumn("dist", F.levenshtein("probe_name", "c_name"))
    w = Window.partitionBy("probe_key").orderBy("dist", "c_custkey")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "probe_key",
            F.col("c_custkey").alias("match_key"),
            "dist",
            (F.col("probe_key") == F.col("c_custkey")).alias("is_correct"),
        )
    )


LINK_SQL = f"""
WITH cust AS (
  SELECT c_custkey, c_name, c_nationkey, right(c_name, 4) AS block_sfx
  FROM customer
), probes AS (
  SELECT c_custkey AS probe_key,
         substr(c_name, 1, 9) || substr(c_name, 11) AS probe_name,
         c_nationkey AS probe_nation, block_sfx AS probe_sfx
  FROM cust WHERE c_custkey % {LINK_PROBE_MOD} = 0
), scored AS (
  SELECT p.probe_key, c.c_custkey, levenshtein(p.probe_name, c.c_name) AS dist
  FROM probes p JOIN cust c
    ON p.probe_nation = c.c_nationkey AND p.probe_sfx = c.block_sfx
)
SELECT probe_key, c_custkey AS match_key, dist, probe_key = c_custkey AS is_correct
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY probe_key
                               ORDER BY dist, c_custkey) AS rn
  FROM scored
) WHERE rn = 1
"""


# --- SCD2 dimension build (gaps-and-islands) --------------------------------


def scd2_order_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 slowly-changing-dimension build: collapse each customer's
    order-status timeline into validity ranges — consecutive orders with
    the same status fold into one row [valid_from, valid_to), open-ended
    for the current run. The standard gaps-and-islands warehouse pattern
    (dimension versioning, CDC history tables).

    Plan: one shuffle on ``o_custkey`` shared by ALL THREE window passes
    (change flag, run cumsum, next-run lead — same partition key, so
    Catalyst plans a single exchange and sorts) plus the run-level groupBy,
    which refines the same key. Linear, skew-free (customers are the
    partition key)."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_orderstatus", "o_orderdate"
    )
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    prev = F.lag("o_orderstatus").over(w)
    chg = F.when(prev.isNull() | (prev != F.col("o_orderstatus")), 1).otherwise(0)
    runs = o.withColumn(
        "version", F.sum(chg).over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    hist = runs.groupBy("o_custkey", "version").agg(
        F.min("o_orderstatus").alias("status"),
        F.min("o_orderdate").alias("valid_from"),
        F.count("*").alias("n_orders"),
    )
    wv = Window.partitionBy("o_custkey").orderBy("version")
    return hist.select(
        "o_custkey",
        "version",
        "status",
        "valid_from",
        F.lead("valid_from").over(wv).alias("valid_to"),
        "n_orders",
        F.lead("valid_from").over(wv).isNull().alias("is_current"),
    )


SCD2_SQL = """
WITH flagged AS (
  SELECT o_custkey, o_orderkey, o_orderstatus, o_orderdate,
         CASE WHEN LAG(o_orderstatus) OVER w IS NULL
                OR LAG(o_orderstatus) OVER w <> o_orderstatus
              THEN 1 ELSE 0 END AS chg
  FROM orders
  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
), runs AS (
  SELECT *, CAST(SUM(chg) OVER (PARTITION BY o_custkey
                                ORDER BY o_orderdate, o_orderkey
                                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS version
  FROM flagged
), hist AS (
  SELECT o_custkey, version, MIN(o_orderstatus) AS status,
         MIN(o_orderdate) AS valid_from, COUNT(*) AS n_orders
  FROM runs GROUP BY o_custkey, version
)
SELECT o_custkey, version, status, valid_from,
       LEAD(valid_from) OVER wv AS valid_to, n_orders,
       LEAD(valid_from) OVER wv IS NULL AS is_current
FROM hist
WINDOW wv AS (PARTITION BY o_custkey ORDER BY version)
"""


QUERIES: dict[str, tuple] = {
    "sql_ansi_parity": (sql_ansi_parity, SQL_ANSI_PARITY_TEXT),
    "scd2_order_status": (scd2_order_status, SCD2_SQL),
    "link_entity_resolution": (link_entity_resolution, LINK_SQL),
    "f1_phone_normalize": (f1_phone_normalize, F1_SQL),
    "f5_base64_roundtrip": (f5_base64_roundtrip, F5_SQL),
    "w2b_rank_dense": (w2b_rank_dense, W2B_SQL),
    "a5_approx_stats": (a5_approx_stats, A5_APPROX_STATS_SQL),
    "t4_pivot": (t4_pivot, T4_PIVOT_SQL),
    "t4_unpivot": (t4_unpivot, T4_UNPIVOT_SQL),
    "a5_grouping_sets": (a5_grouping_sets, A5_GROUPING_SETS_SQL),
    "s9_table_stats": (s9_table_stats, S9_SQL),
    "s9_table_metadata": (s9_table_metadata, None),
    "st6_replay_routing": (st6_replay_routing, ST6_SQL),
    "sim_lsh_buckets": (sim_lsh_buckets, SIM_LSH_BUCKETS_SQL),
    "sim_ann_lsh": (sim_ann_lsh, SIM_ANN_LSH_SQL),
    "sim_ann_lsh_multiprobe": (sim_ann_lsh_multiprobe, SIM_ANN_LSH_MULTIPROBE_SQL),
    "sim_ann_lsh_multitable": (sim_ann_lsh_multitable, _multitable_sql()),
}
