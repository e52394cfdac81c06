"""Manifest-based table snapshots with time travel (lakehouse versioning).

The reference's warehouse is append-only BigQuery, where every load job is
implicitly a new table version and `FOR SYSTEM_TIME AS OF` gives time travel
for free. Plain parquet directories have neither, so this module adds the
minimal transaction-log mechanism Delta/Iceberg are built on:

- a commit = (a) write new data files under ``<table>/data/c<NNNNN>/``,
  (b) atomically publish ``<table>/_manifests/v<N>.json`` listing the FULL
  set of files visible at that version (parent files + new for ``append``,
  new only for ``overwrite``);
- a read at version N = ``spark.read.parquet(*manifest[N].files)`` — the
  query plan is built from the manifest's file list, never from directory
  listing, so concurrent/failed writers can never leak half-written files
  into a read (files not in a published manifest don't exist).

Scale shape (the point of the design): planning cost is O(len(manifest)),
not O(object-store LIST) — at 100 TB with millions of files, listing is the
bottleneck manifests exist to remove. Data files are immutable; commits only
add files and swap a pointer, so time travel to any retained version is a
metadata operation. A real deployment adds file-level min/max stats to the
manifest for pruning and a catalog swap for multi-writer atomicity — that is
exactly Iceberg's snapshot + manifest-list design, emulated here one level
down.

Reference parity: the versioned-load audit trail of the reference's BigQuery
load jobs (``src/bq.js:49`` insert batches; `README.md:86-92` table DDL).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession

_MANIFEST_DIR = "_manifests"


def _manifest_path(table_path: str, version: int) -> str:
    return os.path.join(table_path, _MANIFEST_DIR, f"v{version}.json")


def list_snapshots(table_path: str) -> list[int]:
    """Published versions, ascending. Only manifests count — data files
    without a manifest are invisible (uncommitted)."""
    mdir = os.path.join(table_path, _MANIFEST_DIR)
    if not os.path.isdir(mdir):
        return []
    out = []
    for name in os.listdir(mdir):
        if name.startswith("v") and name.endswith(".json"):
            try:
                out.append(int(name[1:-5]))
            except ValueError:
                continue
    return sorted(out)


def _read_manifest(table_path: str, version: int) -> dict:
    with open(_manifest_path(table_path, version)) as f:
        return json.load(f)


def commit_snapshot(df: DataFrame, table_path: str, mode: str = "append") -> int:
    """Write ``df`` as a new snapshot of the table; returns the new version.

    ``append`` makes the new version = parent files + this commit's files;
    ``overwrite`` makes it this commit's files only (the parent's files stay
    on disk, still readable through older manifests — that immutability is
    what makes time travel and concurrent readers safe).
    """
    if mode not in ("append", "overwrite"):
        raise ValueError(f"unsupported snapshot mode: {mode!r}")
    # Single-writer fence (same lock as refresh_rollup): without it two
    # concurrent committers can allocate the SAME version number and the
    # later manifest publish silently clobbers the earlier one.
    from drive_health_etl_spark.operators.upsert import warehouse_write_lock

    with warehouse_write_lock(table_path):
        versions = list_snapshots(table_path)
        version = (versions[-1] + 1) if versions else 1
        commit_dir = os.path.join(table_path, "data", f"c{version:05d}")
        df.write.mode("error").parquet(commit_dir)
        files = sorted(
            os.path.join(commit_dir, name)
            for name in os.listdir(commit_dir)
            if name.endswith(".parquet")
        )
        if mode == "append" and versions:
            files = _read_manifest(table_path, versions[-1])["files"] + files
        os.makedirs(os.path.join(table_path, _MANIFEST_DIR), exist_ok=True)
        # Publish atomically: manifest becomes visible all-or-nothing
        # (rename on one filesystem), mirroring the spool sink's
        # rename-as-commit protocol.
        tmp = _manifest_path(table_path, version) + ".tmp"
        with open(tmp, "w") as f:
            json.dump(
                {
                    "version": version,
                    "mode": mode,
                    "parent": versions[-1] if versions else None,
                    "files": files,
                },
                f,
            )
        os.replace(tmp, _manifest_path(table_path, version))
    return version


def read_snapshot(
    spark: SparkSession,
    table_path: str,
    version: int | None = None,
    merge_schema: bool = False,
) -> DataFrame:
    """Read the table AS OF ``version`` (latest when omitted) — plans from
    the manifest's explicit file list, never a directory listing.
    ``merge_schema=True`` unions file schemas across commits (schema
    evolution: files written before a column existed read it as null)."""
    versions = list_snapshots(table_path)
    if not versions:
        raise FileNotFoundError(f"no snapshots published at {table_path}")
    if version is None:
        version = versions[-1]
    if version not in versions:
        raise FileNotFoundError(f"version {version} not in {versions}")
    files = _read_manifest(table_path, version)["files"]
    reader = spark.read
    if merge_schema:
        reader = reader.option("mergeSchema", "true")
    return reader.parquet(*files)


# --- registered query -------------------------------------------------------


def lake_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time travel: commit the events table as v1, commit a correction batch
    (every `error` event re-tagged) as v2-overwrite, then read AS OF v1 —
    which must be byte-identical to the original table even though v2 is
    current. The oracle is the plain events table: time travel returning
    anything else is a correctness bug, not a freshness difference."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from drive_health_etl_spark.sources.tables import load_table

    events = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "event_type", "value"
    )
    table = tempfile.mkdtemp(prefix="dhe_lake_")
    shutil.rmtree(table, ignore_errors=True)
    try:
        v1 = commit_snapshot(events, table, mode="append")
        corrected = events.withColumn(
            "event_type",
            F.when(F.col("event_type") == "error", F.lit("error_reviewed")).otherwise(
                F.col("event_type")
            ),
        )
        commit_snapshot(corrected, table, mode="overwrite")
        asof_v1 = read_snapshot(spark, table, version=v1).select(
            "event_id", "user_id", "ts", "event_type", "value"
        )
        # The read is lazy; pin the data in the block manager so the temp
        # table directory can be removed before the caller collects.
        return asof_v1.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(table, ignore_errors=True)


LAKE_TIME_TRAVEL_SQL = """
SELECT event_id, user_id, ts, event_type, value FROM events
"""


def merge_into(target: DataFrame, source: DataFrame, key: str, op_col: str = "op") -> DataFrame:
    """ANSI MERGE semantics over a snapshot table read: WHEN MATCHED AND
    op='U' THEN UPDATE (source row wins), WHEN MATCHED AND op='D' THEN
    DELETE, WHEN NOT MATCHED AND op='I' THEN INSERT; everything else is a
    no-op. One full-outer equi-join on the key — the Delta/Iceberg MERGE
    execution shape. At scale the join is preceded by touched-file pruning
    (join source key bounds against manifest min/max stats, as
    ``read_snapshot_pruned`` does for a predicate).

    The source carries the full target schema plus ``op_col``; unmatched
    source rows with op 'U'/'D' fall through silently (MERGE's standard
    not-matched-by-source behavior)."""
    from pyspark.sql import functions as F

    data_cols = [c for c in target.columns]
    t = target.alias("t")
    s = source.alias("s")
    joined = t.join(s, F.col(f"t.{key}").eqNullSafe(F.col(f"s.{key}")), "full_outer")
    matched = F.col(f"t.{key}").isNotNull() & F.col(f"s.{key}").isNotNull()
    src_only = F.col(f"t.{key}").isNull() & F.col(f"s.{key}").isNotNull()
    op = F.col(f"s.{op_col}")
    keep = ~(matched & (op == "D")) & ~(src_only & (op != "I"))
    use_source = (matched & (op == "U")) | (src_only & (op == "I"))
    return joined.filter(keep).select(
        *[
            F.when(use_source, F.col(f"s.{c}")).otherwise(F.col(f"t.{c}")).alias(c)
            for c in data_cols
        ]
    )


def lake_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end MERGE INTO the versioned lake: commit events as v1, apply
    a deterministic change batch (update every id%10==0, delete id%10==5,
    insert shifted copies of id%10==7) through :func:`merge_into`, commit
    the result as v2-overwrite, and return the v2 read. The oracle replays
    the same MERGE as plain SQL — so join semantics, the delete filter, and
    the insert branch are all value-checked, and the snapshot machinery
    must round-trip the merged table byte-exactly."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from drive_health_etl_spark.sources.tables import load_table

    events = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "event_type", "value"
    )
    source = (
        events.filter(F.col("event_id") % 10 == 0)
        .select(
            "event_id",
            "user_id",
            "ts",
            "event_type",
            (F.col("value") + 1000).alias("value"),
            F.lit("U").alias("op"),
        )
        .unionByName(
            events.filter(F.col("event_id") % 10 == 5).select(
                "event_id", "user_id", "ts", "event_type", "value", F.lit("D").alias("op")
            )
        )
        .unionByName(
            events.filter(F.col("event_id") % 10 == 7).select(
                (F.col("event_id") + 10_000_000).alias("event_id"),
                "user_id",
                "ts",
                F.lit("backfill").alias("event_type"),
                "value",
                F.lit("I").alias("op"),
            )
        )
    )
    table = tempfile.mkdtemp(prefix="dhe_merge_")
    shutil.rmtree(table, ignore_errors=True)
    try:
        commit_snapshot(events, table, mode="append")
        target = read_snapshot(spark, table)
        merged = merge_into(target, source, key="event_id")
        v2 = commit_snapshot(merged, table, mode="overwrite")
        return read_snapshot(spark, table, version=v2).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(table, ignore_errors=True)


LAKE_MERGE_SQL = """
WITH src AS (
  SELECT event_id, user_id, ts, event_type, value + 1000 AS value, 'U' AS op
  FROM events WHERE event_id % 10 = 0
  UNION ALL
  SELECT event_id, user_id, ts, event_type, value, 'D' AS op
  FROM events WHERE event_id % 10 = 5
  UNION ALL
  SELECT event_id + 10000000 AS event_id, user_id, ts,
         'backfill' AS event_type, value, 'I' AS op
  FROM events WHERE event_id % 10 = 7
)
SELECT CASE WHEN s.op = 'U' THEN s.event_id ELSE t.event_id END AS event_id,
       CASE WHEN s.op = 'U' THEN s.user_id ELSE t.user_id END AS user_id,
       CASE WHEN s.op = 'U' THEN s.ts ELSE t.ts END AS ts,
       CASE WHEN s.op = 'U' THEN s.event_type ELSE t.event_type END AS event_type,
       CASE WHEN s.op = 'U' THEN s.value ELSE t.value END AS value
FROM events t LEFT JOIN src s ON t.event_id = s.event_id
WHERE s.op IS NULL OR s.op <> 'D'
UNION ALL
SELECT s.event_id, s.user_id, s.ts, s.event_type, s.value
FROM src s LEFT JOIN events t ON t.event_id = s.event_id
WHERE t.event_id IS NULL AND s.op = 'I'
"""


def lake_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution across snapshot commits: v1 holds half the events
    with the ORIGINAL schema; v2 appends the other half WITH A NEW
    ``region`` column. A merged-schema read of the latest version must
    null-fill the pre-evolution files (the Parquet/Iceberg add-column
    contract), which the per-region rollup then surfaces as a 'legacy'
    bucket. The oracle replays the same split + null-fill in SQL, so a
    dropped column, wrong null-fill, or mis-merged schema breaks the hash.

    Scale: schema merge here is a footer union across the manifest's file
    list (metadata work); production caches the unioned schema IN the
    manifest so readers skip footer sampling entirely."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from drive_health_etl_spark.sources.tables import load_table

    events = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "value"
    )
    v1_rows = events.filter(F.col("event_id") % 2 == 0)
    v2_rows = events.filter(F.col("event_id") % 2 == 1).withColumn(
        "region", F.concat(F.lit("r"), F.pmod(F.col("user_id"), F.lit(4)).cast("string"))
    )
    table = tempfile.mkdtemp(prefix="dhe_schevo_")
    shutil.rmtree(table, ignore_errors=True)
    try:
        commit_snapshot(v1_rows, table, mode="append")
        commit_snapshot(v2_rows, table, mode="append")
        latest = read_snapshot(spark, table, merge_schema=True)
        out = (
            latest.groupBy(F.coalesce("region", F.lit("legacy")).alias("region"))
            .agg(
                F.count("*").alias("n_events"),
                F.round(
                    F.sum(F.col("value").cast("decimal(18,6)")).cast("double"), 6
                ).alias("sum_value"),
            )
            .orderBy("region")
        )
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(table, ignore_errors=True)


LAKE_SCHEMA_EVOLUTION_SQL = """
WITH evolved AS (
  SELECT event_id, user_id, value, NULL AS region
  FROM events WHERE event_id % 2 = 0
  UNION ALL
  SELECT event_id, user_id, value, 'r' || CAST(user_id % 4 AS VARCHAR) AS region
  FROM events WHERE event_id % 2 = 1
)
SELECT COALESCE(region, 'legacy') AS region, COUNT(*) AS n_events,
       ROUND(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 6) AS sum_value
FROM evolved GROUP BY 1 ORDER BY region
"""


# --- File-level min/max stats + pruned reads --------------------------------


def attach_file_stats(table_path: str, version: int, columns: list[str]) -> int:
    """Backfill per-file min/max stats for ``columns`` into the manifest —
    read from parquet FOOTERS (row-group statistics), no data scan. This is
    the manifest half of Iceberg's scan planning: with stats in the
    manifest, a reader prunes files entirely driver-side. Returns the
    number of files profiled."""
    import pyarrow.parquet as pq

    manifest = _read_manifest(table_path, version)
    stats: dict[str, dict] = {}
    for path in manifest["files"]:
        meta = pq.ParquetFile(path).metadata
        per_col: dict[str, list] = {}
        for rg in range(meta.num_row_groups):
            row_group = meta.row_group(rg)
            for ci in range(row_group.num_columns):
                col = row_group.column(ci)
                name = col.path_in_schema
                if name not in columns or col.statistics is None:
                    continue
                s = col.statistics
                if not s.has_min_max:
                    continue
                cur = per_col.get(name)
                lo, hi = s.min, s.max
                if cur is None:
                    per_col[name] = [lo, hi]
                else:
                    per_col[name] = [min(cur[0], lo), max(cur[1], hi)]
        stats[path] = per_col
    manifest["file_stats"] = stats
    tmp = _manifest_path(table_path, version) + ".tmp"
    with open(tmp, "w") as f:
        json.dump(manifest, f)
    os.replace(tmp, _manifest_path(table_path, version))
    return len(stats)


def read_snapshot_pruned(
    spark: SparkSession, table_path: str, column: str, lo, hi, version: int | None = None
) -> tuple[DataFrame, int, int]:
    """Read AS OF ``version`` keeping only files whose manifest [min, max]
    for ``column`` intersects [lo, hi] — DRIVER-SIDE file pruning from
    manifest stats, before any footer or data I/O. Files without stats are
    conservatively kept. Returns (df, files_kept, files_total); the caller
    still applies the row-level filter (stats prune files, not rows)."""
    versions = list_snapshots(table_path)
    if version is None:
        version = versions[-1]
    manifest = _read_manifest(table_path, version)
    stats = manifest.get("file_stats", {})
    kept = []
    for path in manifest["files"]:
        col_stats = stats.get(path, {}).get(column)
        if col_stats is None or (col_stats[0] <= hi and col_stats[1] >= lo):
            kept.append(path)
    if not kept:
        empty = spark.read.parquet(manifest["files"][0]).filter("1=0")
        return empty, 0, len(manifest["files"])
    return spark.read.parquet(*kept), len(kept), len(manifest["files"])


def lake_stats_pruned_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manifest-stats scan pruning end to end: commit events REPARTITIONED
    BY RANGE on user_id (so files have tight, disjoint user_id bounds),
    backfill per-file min/max from parquet footers into the manifest, then
    answer a selective user_id range query through the pruned read — which
    must plan FEWER files (asserted) yet return exactly the rows the plain
    filtered table returns (the oracle). This is Iceberg's
    stats-in-metadata scan planning on this module's manifests."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from drive_health_etl_spark.sources.tables import load_table

    events = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "event_type", "value"
    )
    lo, hi = 10, 40
    table = tempfile.mkdtemp(prefix="dhe_prune_")
    shutil.rmtree(table, ignore_errors=True)
    try:
        v = commit_snapshot(
            events.repartitionByRange(8, "user_id"), table, mode="append"
        )
        attach_file_stats(table, v, ["user_id"])
        df, kept, total = read_snapshot_pruned(spark, table, "user_id", lo, hi)
        assert kept < total, f"pruning must drop files ({kept}/{total})"
        out = df.filter((F.col("user_id") >= lo) & (F.col("user_id") <= hi)).select(
            "event_id", "user_id", "ts", "event_type", "value"
        )
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(table, ignore_errors=True)


LAKE_STATS_PRUNED_SQL = """
SELECT event_id, user_id, ts, event_type, value
FROM events WHERE user_id BETWEEN 10 AND 40
"""


# --- Write-audit-publish (branch staging) -----------------------------------


def commit_branch(df: DataFrame, table_path: str, branch: str, mode: str = "overwrite") -> int:
    """Commit ``df`` to a STAGING BRANCH: data files land under the table's
    data dir, but the manifest publishes under ``_manifests/branches/<b>/``
    — invisible to main readers. The Iceberg write-audit-publish setup:
    produce, then audit the branch, then promote."""
    branch_root = os.path.join(table_path, _MANIFEST_DIR, "branches", branch)
    os.makedirs(branch_root, exist_ok=True)
    versions = sorted(
        int(f[1:-5]) for f in os.listdir(branch_root) if f.endswith(".json")
    )
    version = (versions[-1] + 1) if versions else 1
    commit_dir = os.path.join(table_path, "data", f"b-{branch}-c{version:05d}")
    df.write.mode("error").parquet(commit_dir)
    files = sorted(
        os.path.join(commit_dir, name)
        for name in os.listdir(commit_dir)
        if name.endswith(".parquet")
    )
    tmp = os.path.join(branch_root, f"v{version}.json.tmp")
    with open(tmp, "w") as f:
        json.dump({"version": version, "mode": mode, "files": files}, f)
    os.replace(tmp, os.path.join(branch_root, f"v{version}.json"))
    return version


def read_branch(spark: SparkSession, table_path: str, branch: str) -> DataFrame:
    """Read the staging branch's latest version (the audit step's input)."""
    branch_root = os.path.join(table_path, _MANIFEST_DIR, "branches", branch)
    versions = sorted(
        int(f[1:-5]) for f in os.listdir(branch_root) if f.endswith(".json")
    )
    with open(os.path.join(branch_root, f"v{versions[-1]}.json")) as f:
        manifest = json.load(f)
    return spark.read.parquet(*manifest["files"])


def publish_branch(table_path: str, branch: str) -> int:
    """Promote the branch's latest manifest as the next MAIN version —
    METADATA-ONLY (the data files were already written); then retire the
    branch manifests. Under the single-writer lock so the promoted version
    number can't collide."""
    from drive_health_etl_spark.operators.upsert import warehouse_write_lock

    branch_root = os.path.join(table_path, _MANIFEST_DIR, "branches", branch)
    versions = sorted(
        int(f[1:-5]) for f in os.listdir(branch_root) if f.endswith(".json")
    )
    with open(os.path.join(branch_root, f"v{versions[-1]}.json")) as f:
        staged = json.load(f)
    with warehouse_write_lock(table_path):
        main_versions = list_snapshots(table_path)
        version = (main_versions[-1] + 1) if main_versions else 1
        files = staged["files"]
        if staged.get("mode") == "append" and main_versions:
            files = _read_manifest(table_path, main_versions[-1])["files"] + files
        tmp = _manifest_path(table_path, version) + ".tmp"
        with open(tmp, "w") as f:
            json.dump(
                {
                    "version": version,
                    "mode": staged.get("mode", "overwrite"),
                    "parent": main_versions[-1] if main_versions else None,
                    "files": files,
                },
                f,
            )
        os.replace(tmp, _manifest_path(table_path, version))
    for v in versions:
        os.remove(os.path.join(branch_root, f"v{v}.json"))
    return version


def lake_wap_publish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write-audit-publish end to end: raw events commit to main (v1), a
    CLEANED batch (error events quarantined, values clamped non-negative)
    commits to the ``audit`` branch — invisible to main readers — passes
    its audit gate (no error rows, no negative values), and only then
    publishes as main v2, a metadata-only promotion. The returned read of
    main-latest must equal the cleaned projection, which the oracle
    recomputes in SQL: a branch leak, a failed promotion, or an
    audit-order bug all break the hash."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from drive_health_etl_spark.sources.tables import load_table

    events = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "event_type", "value"
    )
    cleaned = events.filter(F.col("event_type") != "error").withColumn(
        # null stays null: engines disagree on greatest()'s null handling,
        # CASE semantics are identical
        "value", F.when(F.col("value") < 0, F.lit(0.0)).otherwise(F.col("value"))
    )
    table = tempfile.mkdtemp(prefix="dhe_wap_")
    shutil.rmtree(table, ignore_errors=True)
    try:
        commit_snapshot(events, table, mode="append")
        commit_branch(cleaned, table, branch="audit", mode="overwrite")
        staged = read_branch(spark, table, "audit")
        # the audit gate: staged data must satisfy the publish contract,
        # while main still serves the raw v1
        assert staged.filter(F.col("event_type") == "error").count() == 0
        assert staged.filter(F.col("value") < 0).count() == 0
        publish_branch(table, "audit")
        return read_snapshot(spark, table).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(table, ignore_errors=True)


LAKE_WAP_SQL = """
SELECT event_id, user_id, ts, event_type,
       CASE WHEN value < 0 THEN 0.0 ELSE value END AS value
FROM events WHERE event_type <> 'error'
"""


QUERIES: dict[str, tuple] = {
    "lake_time_travel": (lake_time_travel, LAKE_TIME_TRAVEL_SQL),
    "lake_merge": (lake_merge, LAKE_MERGE_SQL),
    "lake_schema_evolution": (lake_schema_evolution, LAKE_SCHEMA_EVOLUTION_SQL),
    "lake_wap_publish": (lake_wap_publish, LAKE_WAP_SQL),
    "lake_stats_pruned_read": (lake_stats_pruned_read, LAKE_STATS_PRUNED_SQL),
}
