"""Skew mitigation operators (SURVEY.md §4 'horizontal scaling' row).

Two complementary tools for hot keys at 100 TB:

- **AQE skew-join** (``spark.sql.adaptive.skewJoin.enabled``, on in
  ``session.py``): splits oversized shuffle partitions at runtime — the
  zero-code path; works when skew shows up in shuffle-file sizes.
- **Salted join** (here): for extreme single-key skew (one tenant = 40% of
  events), pre-split the hot rows across ``n_salts`` synthetic sub-keys and
  replicate the build side per salt. Deterministic given the row's own
  columns (salt = hash of the probe row's payload), so retries/replays salt
  identically.

Correctness contract: ``salted_join(big, small, key, n)`` ==
``big.join(small, key)`` row-for-row — asserted in tests.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def salted_join(
    big: DataFrame,
    small: DataFrame,
    key: str,
    n_salts: int = 16,
    salt_source: Column | None = None,
    how: str = "inner",
) -> DataFrame:
    """Equi-join with the big side salted: shuffle key becomes (key, salt) so
    a hot key spreads over ``n_salts`` reducers; the small side is exploded
    x n_salts (only the small side pays replication).

    ``salt_source``: column used to derive the deterministic salt; defaults
    to a hash over all of ``big``'s columns.

    Supported: inner / left (probe-side outer). right/full would emit each
    unmatched small-side row once PER SALT — rejected explicitly."""
    if how not in ("inner", "left", "left_outer", "leftouter"):
        raise ValueError(
            f"salted_join supports inner/left only (got {how!r}): the replicated "
            "small side would duplicate unmatched rows under right/full semantics"
        )
    if salt_source is None:
        salt_source = F.hash(*[F.col(c) for c in big.columns])
    salted_big = big.withColumn("_salt", F.pmod(salt_source, F.lit(n_salts)))
    exploded_small = small.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)))
    )
    joined = salted_big.join(exploded_small, on=[key, "_salt"], how=how)
    return joined.drop("_salt")
