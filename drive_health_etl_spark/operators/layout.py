"""Multi-dimensional layout keys: Z-order (Morton) and Hilbert curves for
parquet file skipping on MORE THAN ONE column.

A warehouse sorted by one column prunes scans on that column only; filters
on a second column read every file. Interleaving the bits of two key
columns into one curve key and range-partitioning + sorting a write on that
key makes every file cover a compact rectangle in (x, y) space, so parquet
min/max footer stats stay tight on BOTH columns. This is the key behind
Delta Lake's OPTIMIZE ZORDER BY; here it is plain Spark: a native
bit-interleave expression (``morton_key``) or an ``aggregate`` fold over the
bit levels (``hilbert_key_df``), no UDF.

Scale notes:
- The keys are pure integer bit arithmetic inside whole-stage codegen —
  no UDF, no stats collection pass (keys are normalized by masking to the
  low ``bits`` bits, not by min/max scaling, so no extra scan).
- Resolution ``bits`` trades layout quality for key width (16 bits/column
  x 2 columns fits comfortably in a long).

The key math is DuckDB-oracle-checked (``layout_zorder_stats``,
``layout_hilbert_stats``): both engines evaluate the same shift/mask
formulas exactly over int64.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from drive_health_etl_spark.sources.tables import load_table


def morton_key(x: Column, y: Column, bits: int = 8) -> Column:
    """Interleave the low ``bits`` bits of two non-negative integer columns
    into a single Morton key (x's bit i lands at position 2i+1, y's at 2i).
    Native shift/mask expressions only — stays in whole-stage codegen."""
    parts = []
    for i in range(bits):
        parts.append(F.shiftleft(F.shiftrightunsigned(x, i).bitwiseAND(F.lit(1)), 2 * i + 1))
        parts.append(F.shiftleft(F.shiftrightunsigned(y, i).bitwiseAND(F.lit(1)), 2 * i))
    out = parts[0]
    for p in parts[1:]:
        out = out.bitwiseOR(p)
    return out


def morton_key_sql(x: str, y: str, bits: int = 8) -> str:
    """The identical Morton formula as engine-portable SQL text (``<<``,
    ``>>``, ``&``, ``|`` — shared by DuckDB and Spark SQL)."""
    parts = []
    for i in range(bits):
        parts.append(f"((({x} >> {i}) & 1) << {2 * i + 1})")
        parts.append(f"((({y} >> {i}) & 1) << {2 * i})")
    return " | ".join(parts)


# --- Hilbert curve (locality-superior alternative to Morton) ----------------


def hilbert_steps(bits: int) -> list[int]:
    """Bit levels high→low, shared by the column and SQL generators."""
    return list(range(bits - 1, -1, -1))


def hilbert_key_df(df: DataFrame, x: str, y: str, bits: int = 8, out: str = "hkey") -> DataFrame:
    """Append the Hilbert d-index of integer columns (x, y) ∈ [0, 2^bits)^2.

    The classic xy2d walk (per level: quadrant digit + rotate/reflect) is
    inherently sequential in the bit levels, so it unrolls into ``bits``
    chained projections mutating (x, y, d) — still pure integer expressions
    inside whole-stage codegen, no UDF. Hilbert beats Morton on LOCALITY:
    consecutive d values are always grid-adjacent (Morton jumps at quadrant
    boundaries), so range scans over the key touch tighter (x, y)
    rectangles — the same reason Hilbert is the curve in production
    clustering implementations. Cost: the rotation state makes it ~3x the
    expression count of the Morton interleave."""
    n = 1 << bits
    # ONE higher-order aggregate() fold over the bit levels, not a chain of
    # per-level projections: chained selects get re-inlined by the optimizer
    # and the (x, y, d) references multiply ~4x per level (measured 9.7s
    # analysis + 4.6s codegen for 8 levels). The fold keeps every subterm
    # exactly once — linear expression tree, evaluated iteratively at
    # runtime inside codegen (the same lesson as the k-means scoring fold).
    expr = f"""
aggregate(
  sequence({bits - 1}, 0, -1),
  named_struct('hx', CAST({x} AS BIGINT), 'hy', CAST({y} AS BIGINT), 'hd', CAST(0 AS BIGINT)),
  (acc, k) -> named_struct(
    'hx', CASE WHEN (shiftright(acc.hy, k) & 1) = 0
               THEN (CASE WHEN (shiftright(acc.hx, k) & 1) = 1 THEN {n - 1} - acc.hy ELSE acc.hy END)
               ELSE acc.hx END,
    'hy', CASE WHEN (shiftright(acc.hy, k) & 1) = 0
               THEN (CASE WHEN (shiftright(acc.hx, k) & 1) = 1 THEN {n - 1} - acc.hx ELSE acc.hx END)
               ELSE acc.hy END,
    'hd', acc.hd + shiftleft(CAST(1 AS BIGINT), 2 * k)
                   * ((3 * (shiftright(acc.hx, k) & 1)) ^ (shiftright(acc.hy, k) & 1))
  ),
  acc -> acc.hd
)"""
    return df.withColumn(out, F.expr(expr))


def hilbert_key_sql(x: str, y: str, bits: int = 8) -> str:
    """The identical walk as nested SQL subqueries (engine-portable)."""
    n = 1 << bits
    inner = f"SELECT {x} AS hx, {y} AS hy, CAST(0 AS BIGINT) AS hd, t0.*"
    sql = f"({inner} FROM __T__ t0)"
    for k in hilbert_steps(bits):
        s = 1 << k
        rx = f"((hx >> {k}) & 1)"
        ry = f"((hy >> {k}) & 1)"
        sql = f"""(SELECT
  hd + {s * s} * xor(3 * {rx}, {ry}) AS hd,
  CASE WHEN {ry} = 0 THEN (CASE WHEN {rx} = 1 THEN {n - 1} - hy ELSE hy END) ELSE hx END AS hx,
  CASE WHEN {ry} = 0 THEN (CASE WHEN {rx} = 1 THEN {n - 1} - hx ELSE hx END) ELSE hy END AS hy,
  * EXCLUDE (hx, hy, hd)
FROM {sql})"""
    return sql


def layout_hilbert_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hilbert-key distribution over lineitem's masked (l_partkey,
    l_suppkey): per top-2-bit segment of the curve, row count and key
    bounds — the Hilbert twin of ``layout_zorder_stats``, hash-checking the
    full rotate/reflect walk bit-for-bit against the oracle."""
    li = load_table(spark, sf_dir, "lineitem")
    mask = F.lit((1 << _BITS) - 1)
    base = li.select(
        F.col("l_partkey").bitwiseAND(mask).alias("hx0"),
        F.col("l_suppkey").bitwiseAND(mask).alias("hy0"),
    )
    # r11 (guide §2.3, aggregate before the expensive work): hkey is a pure
    # function of the masked (hx0, hy0) pair, whose domain is <= 2^(2*_BITS)
    # = 65,536 values no matter the corpus size — so count rows per pair
    # FIRST (a cheap map-side-combinable int agg inside the scan stage),
    # then run the 8-level rotate/reflect fold once per DISTINCT pair
    # instead of once per row, and re-aggregate the counts by segment.
    # Same fold expressions over the same ints -> bit-identical results;
    # the per-row fold (previously the dominant cost, spread across cores
    # with an extra repartition exchange) and that exchange are both gone.
    counts = base.groupBy("hx0", "hy0").agg(F.count("*").alias("n_pair"))
    keyed = hilbert_key_df(counts, "hx0", "hy0", _BITS, out="hkey")
    return keyed.groupBy(
        F.shiftrightunsigned("hkey", 2 * _BITS - 2).alias("segment")
    ).agg(
        F.sum("n_pair").alias("n_rows"),
        F.min("hkey").alias("hkey_min"),
        F.max("hkey").alias("hkey_max"),
    )


def _layout_hilbert_sql() -> str:
    walk = hilbert_key_sql("hx0", "hy0", _BITS).replace(
        "__T__",
        f"(SELECT l_partkey & {(1 << _BITS) - 1} AS hx0, l_suppkey & {(1 << _BITS) - 1} AS hy0 FROM lineitem)",
    )
    return f"""
SELECT hd >> {2 * _BITS - 2} AS segment, COUNT(*) AS n_rows,
       MIN(hd) AS hkey_min, MAX(hd) AS hkey_max
FROM {walk}
GROUP BY 1
"""


# --- Oracle-checked key math ------------------------------------------------

_BITS = 8


def layout_zorder_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton-key distribution over lineitem's (l_partkey, l_suppkey):
    per z-quadrant (top 4 bits of the interleaved key) row count and key
    bounds. Pure int64 arithmetic, so the DuckDB oracle hash-matches
    bitwise."""
    li = load_table(spark, sf_dir, "lineitem")
    mask = F.lit((1 << _BITS) - 1)
    zkey = morton_key(
        F.col("l_partkey").bitwiseAND(mask), F.col("l_suppkey").bitwiseAND(mask), _BITS
    )
    return (
        li.select(zkey.alias("zkey"))
        .groupBy(F.shiftrightunsigned("zkey", 2 * _BITS - 4).alias("quadrant"))
        .agg(
            F.count("*").alias("n_rows"),
            F.min("zkey").alias("zkey_min"),
            F.max("zkey").alias("zkey_max"),
        )
    )


LAYOUT_ZORDER_SQL = f"""
WITH z AS (
  SELECT {morton_key_sql(f'(l_partkey & {(1 << _BITS) - 1})', f'(l_suppkey & {(1 << _BITS) - 1})', _BITS)} AS zkey
  FROM lineitem
)
SELECT zkey >> {2 * _BITS - 4} AS quadrant, COUNT(*) AS n_rows,
       MIN(zkey) AS zkey_min, MAX(zkey) AS zkey_max
FROM z GROUP BY 1
"""


QUERIES = {
    "layout_zorder_stats": (layout_zorder_stats, LAYOUT_ZORDER_SQL),
    "layout_hilbert_stats": (layout_hilbert_stats, _layout_hilbert_sql()),
}
