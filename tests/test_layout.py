"""Layout-key math: the Morton interleave is a bijection with the documented
bit placement, and the Hilbert curve keeps consecutive keys grid-adjacent
where Morton jumps."""

from __future__ import annotations

from pyspark.sql import functions as F

from drive_health_etl_spark.operators.layout import morton_key


def test_morton_key_properties(spark):
    df = spark.range(256).select(
        F.col("id").alias("x"), (F.lit(255) - F.col("id")).alias("y")
    )
    keys = df.select(morton_key(F.col("x"), F.col("y"), 8).alias("z")).collect()
    zs = [r.z for r in keys]
    # bijective on the 8-bit grid diagonal and bounded by 16 bits
    assert len(set(zs)) == 256
    assert all(0 <= z < (1 << 16) for z in zs)
    # spot-check the interleave: x=1,y=0 -> bit 1; x=0,y=1 -> bit 0
    row = spark.createDataFrame([(1, 0), (0, 1), (3, 3)], "x int, y int").select(
        morton_key(F.col("x"), F.col("y"), 8).alias("z")
    ).collect()
    assert [r.z for r in row] == [2, 1, 15]


def test_hilbert_locality_beats_morton(spark):
    """The Hilbert property: EVERY pair of consecutive d values maps to
    grid-ADJACENT cells (Manhattan distance 1); Morton jumps at quadrant
    boundaries. This is why Hilbert range scans touch tighter rectangles."""
    from drive_health_etl_spark.operators.layout import hilbert_key_df

    bits = 4  # full 16x16 grid = 256 cells, exhaustive
    n = 1 << bits
    grid = spark.range(n * n).select(
        (F.col("id") % n).cast("long").alias("x"),
        (F.col("id") / n).cast("long").alias("y"),
    )
    hk = hilbert_key_df(grid, "x", "y", bits, out="d").select("x", "y", "d")
    rows = sorted((r["d"], r["x"], r["y"]) for r in hk.collect())
    # bijective onto [0, 256)
    assert [r[0] for r in rows] == list(range(n * n))
    manhattan = [
        abs(a[1] - b[1]) + abs(a[2] - b[2]) for a, b in zip(rows, rows[1:])
    ]
    assert all(m == 1 for m in manhattan), "Hilbert consecutive cells must be adjacent"

    mk = grid.select("x", "y", morton_key(F.col("x"), F.col("y"), bits).alias("d"))
    mrows = sorted((r["d"], r["x"], r["y"]) for r in mk.collect())
    m_manhattan = [
        abs(a[1] - b[1]) + abs(a[2] - b[2]) for a, b in zip(mrows, mrows[1:])
    ]
    assert max(m_manhattan) > 1  # Morton demonstrably jumps
