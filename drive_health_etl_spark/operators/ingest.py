"""The ingest chain (SURVEY.md §3.1) as declarative DataFrame transforms.

Reference flow (``src/handler.js:37-109``): base64+JSON decode -> envelope
validation -> idempotency key -> deterministic sampling -> phone
normalization -> warehouse row -> idempotent insert. The reference processes
one HTTP message at a time with exceptions for control flow; here the whole
chain is columnar and per-row outcomes are *data* (a ``status`` column), so
one pass over a 100 TB input is a single narrow stage with no shuffle until
the final dedup.

Stage map (reference file:line -> function here):
- decode        ``src/handler.js:43-44``        -> :func:`decode_messages`
- validate      ``src/validation.js:12-42``     -> :func:`validate_envelopes`
- sample        ``src/sampling.js:15-24``       -> sampling column (bit-exact)
- normalize     ``src/phone.js:36-56``          -> :func:`normalize_payload_phones`
- row construct ``src/bq.js:20-35``             -> :func:`to_warehouse_rows`
- dedup         ``src/bq.js:49`` (insertId)     -> first-write-wins window (W1)
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from drive_health_etl_spark import schemas
from drive_health_etl_spark.functions.keys import idempotency_key
from drive_health_etl_spark.functions.phone import process_payload_udf
from drive_health_etl_spark.functions.sampling import should_sample


def decode_messages(raw: DataFrame) -> DataFrame:
    """base64 -> utf8 -> JSON parse into envelope columns (S2).

    Undecodable data (bad base64 / non-JSON) produces a null envelope struct;
    the status column marks it FORMAT_ERROR (the reference's 422 path,
    ``src/app.test.js:67-75``) instead of throwing.
    """
    # arrival_seq: per-message arrival order (the HTTP-arrival order the
    # reference sees implicitly). Doubles as the first-write-wins tiebreak
    # when message ids collide AND — being nondeterministic — as a predicate
    # barrier: without it Catalyst pushes downstream status filters (whole
    # decode+validate expression trees) below the repartition exchange into
    # the single-partition scan stage, serializing all JSON parsing onto one
    # core (measured 14s vs 2s at sf0.1).
    #
    # The envelope parse gets the same barrier treatment (r11, guide §4.4's
    # duplicated-evaluation trap, here with a native expression): a plain
    # deterministic from_json is rewritten by OptimizeJsonExprs into one
    # single-field from_json PER FIELD REFERENCE, which CollapseProject then
    # inlines into the downstream validation filter — the captured plan
    # showed the whole JSON text parsed ~8+ times per row (once per required
    # field, again for the key coalesce, again in the post-filter project).
    # Guarding the JSON text behind an always-true comparison on a
    # NONDETERMINISTIC expression is value-invisible (mono_id is
    # non-negative by construction) but makes the parse ineligible for
    # per-field rewriting and for project collapse, so the struct is
    # materialized exactly once per row and every consumer reads its fields
    # as attributes. Same-session A/B at sf0.1: 2.08 -> 1.67 s (-20% on the
    # flagship; at 100 TB this is ~8x less JSON-parse CPU in the decode
    # stage, the pipeline's dominant cost).
    json_text = F.when(
        F.monotonically_increasing_id() >= 0, F.unbase64(F.col("data")).cast("string")
    )
    decoded = raw.withColumn("arrival_seq", F.monotonically_increasing_id()).withColumn(
        "_envelope", F.from_json(json_text, schemas.ENVELOPE_SCHEMA)
    )
    # from_json yields a struct of all-nulls for undecodable/typeless input;
    # treat "no field survived parsing" as a format error.
    env_fields = [f.name for f in schemas.ENVELOPE_SCHEMA.fields]
    any_field = F.coalesce(*[F.col(f"_envelope.{f}") for f in env_fields], F.lit(None))
    decoded = decoded.withColumn(
        "status",
        F.when(F.col("data").isNull() | any_field.isNull(), F.lit(schemas.STATUS_FORMAT_ERROR)).otherwise(
            F.lit(None).cast("string")
        ),
    )
    return decoded.select(
        "arrival_seq",
        "message_id",
        "ordering_key",
        "attributes",
        "data",
        "status",
        *[F.col(f"_envelope.{f}").alias(f) for f in env_fields],
    )


def validate_envelopes(decoded: DataFrame) -> DataFrame:
    """Required-field presence (O1), timestamp validity (O2), key coalesce (O3).

    Presence is truthiness in the reference (``src/validation.js:14``): null
    or empty string both fail. Failures set status=VALIDATION_ERROR; an
    already-set FORMAT_ERROR wins.
    """
    present = [
        (F.col(f).isNotNull() & (F.col(f).cast("string") != F.lit("")))
        for f in schemas.REQUIRED_ENVELOPE_FIELDS
    ]
    all_present = present[0]
    for p in present[1:]:
        all_present = all_present & p
    ts_valid = F.try_to_timestamp(F.col("occurred_at")).isNotNull()
    key = idempotency_key("payload", "trace_id")

    return (
        decoded.withColumn("idempotency_key", key)
        .withColumn(
            "status",
            F.when(F.col("status").isNotNull(), F.col("status"))
            .when(~all_present | ~ts_valid, F.lit(schemas.STATUS_VALIDATION_ERROR))
            .when(F.col("idempotency_key").isNull(), F.lit(schemas.STATUS_VALIDATION_ERROR))
            .otherwise(F.lit(None).cast("string")),
        )
    )


def normalize_payload_phones(df: DataFrame, payload_col: str = "payload") -> DataFrame:
    """E.164-normalize the four phone fields inside the JSON payload (F1/F2).

    The reference shallow-copies the payload and rewrites present phone
    fields (``src/phone.js:36-56``). One Arrow-vectorized payload-level UDF
    does the whole rewrite — nested objects/numbers/key order preserved,
    fields that normalize to null are *kept* as null, matching
    ``processedPayload[field] = normalizePhone(...)`` semantics.
    """
    return df.withColumn(payload_col, process_payload_udf(F.col(payload_col)))


def to_warehouse_rows(df: DataFrame) -> DataFrame:
    """Envelope -> flat warehouse row (S4, ``src/bq.js:20-35``): casts,
    defaults (trace_id -> null, source -> 'unknown'), received_at=now,
    payload stays JSON text."""
    return df.select(
        F.col("tenant_id"),
        F.col("event_type"),
        F.col("schema_version").cast("long").alias("schema_version"),
        F.col("envelope_version").cast("long").alias("envelope_version"),
        F.col("trace_id"),
        F.to_timestamp("occurred_at").alias("occurred_at"),
        F.current_timestamp().alias("received_at"),
        F.coalesce(F.col("source"), F.lit("unknown")).alias("source"),
        F.col("sampled"),
        F.col("idempotency_key"),
        F.col("payload"),
    )


@dataclass
class IngestResult:
    """Split outputs of one ingest pass — the reference's HTTP statuses as data."""

    warehouse: DataFrame  # deduped rows to append (204 success)
    sampled_out: DataFrame  # kept-out by audit sampling (204, not persisted)
    dlq: DataFrame  # terminal failures: raw message + status + attempts=0
    # the decoded+validated parent all three branches filter — a caller
    # consuming more than one branch should persist THIS (decode+validate
    # then runs once per batch, not once per branch; round-8 streaming
    # profile: the per-branch recompute was ~25% of micro-batch wall)
    validated: DataFrame = None


def ingest(raw: DataFrame, audit_rate: float = 1.0, normalize_phones: bool = True) -> IngestResult:
    """Full chain: decode -> validate -> sample -> normalize -> dedup -> rows.

    Scale notes: stages up to dedup are narrow (no shuffle). Dedup is a
    window by idempotency_key — one hash shuffle, the only one in the chain;
    at 100 TB AQE handles skewed keys. Sampling runs *before* phone
    normalization so sampled-out rows never pay the UDF (the reference's
    early-exit, ``src/handler.js:50-60`` — here it's explicit operator order),
    and normalization runs *after* dedup so rows dropped as retry duplicates
    never pay it either — the UDF rewrites only ``payload`` while the dedup
    partitions/orders on (idempotency_key, message_id, arrival_seq), so the
    surviving row per key, and hence every output, is identical either way.
    """
    # ingest may receive DataFrames that never went through load_table
    # (fixtures, streams) — make sure workers can import the phone UDF module
    from drive_health_etl_spark.session import ship_package

    ship_package(raw.sparkSession)

    validated = validate_envelopes(decode_messages(raw))

    dlq = validated.filter(F.col("status").isin(*schemas.TERMINAL_STATUSES)).select(
        "message_id",
        "ordering_key",
        "attributes",
        "data",
        "status",
        F.lit(0).alias("attempts"),
    )

    ok = validated.filter(F.col("status").isNull())
    ok = ok.withColumn("sampled", should_sample("idempotency_key", audit_rate))

    sampled_out = ok.filter(~F.col("sampled")).select("message_id", "idempotency_key")

    kept = ok.filter(F.col("sampled"))

    # First-write-wins per idempotency key (W1) = BigQuery insertId semantics
    # (``src/bq.js:49``): order by message_id (stable across retries), then
    # arrival order.
    w = Window.partitionBy("idempotency_key").orderBy(
        F.col("message_id").asc_nulls_last(), F.col("arrival_seq").asc()
    )
    deduped = (
        kept.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1).drop("_rn")
    )
    if normalize_phones:
        deduped = normalize_payload_phones(deduped)

    return IngestResult(
        warehouse=to_warehouse_rows(deduped),
        sampled_out=sampled_out,
        dlq=dlq,
        validated=validated,
    )


def write_warehouse(df: DataFrame, path: str) -> None:
    """Partitioned/clustered warehouse append (S5, DDL ``README.md:86-92``).

    Day-partition on event time (-> partition pruning for
    ``DATE(occurred_at) = X`` scans) and sort within partitions by
    (tenant_id, event_type) (-> parquet row-group min/max skipping, the
    BigQuery clustering analog). The sort leads with ``event_date``: the
    partitioned writer needs its input ordered by the partition column, and
    sorting by (tenant_id, event_type) alone made it re-sort by date only,
    which left the files unclustered.
    """
    (
        df.withColumn("event_date", F.to_date("occurred_at"))
        .repartition("event_date")
        .sortWithinPartitions("event_date", "tenant_id", "event_type")
        .write.mode("append")
        .partitionBy("event_date")
        .parquet(path)
    )
