"""Inferential-statistics suite over the events table (north-star extension;
complements `stat_ab_welch` / `ts_theil_sen_trend` in ``plans/scalar_suite.py``):
chi-square independence, Mann-Whitney rank-sum, per-key OLS trend, and the
autocorrelation function — the experiment-analysis and time-series primitives
a training-data/metrics warehouse runs daily.

Float policy (the repo-wide rule): every cross-row accumulation is either an
exact integer/decimal sum (order-independent under any partitioning) or a
per-term ``decimal(38,18)``-cast sum; only the genuinely engine-divergent
final scalar chains (long division/sqrt trees that DuckDB's expression
rewriter may re-associate, and the per-term double->decimal cast that rounds
HALF_UP in Spark vs half-even in DuckDB) are rounded, at 6-9 dp.

Scale design: every query here is one map-side-combinable aggregate over the
fact table plus enum- or calendar-sized post-processing — no query touches a
shuffle whose key cardinality grows with the data. Contingency cells are
(event_type x bucket) counts; rank sums reuse one window sort per type; the
OLS/ACF inputs are per-day rollups (calendar-bounded). All pure column
expressions — no Python, fully codegen'd.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from drive_health_etl_spark.sources.tables import load_table

_CHI2_BUCKETS = 4  # user_id % 4 device-bucket stand-in


def stat_chi2_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square test of independence between event_type and a deterministic
    user bucket (``user_id % 4``): one row with the contingency shape, dof,
    and the statistic.

    Observed counts and the row/column totals are exact integers; each cell's
    expected count ``row_total*col_total/n`` and term ``(o-e)^2/e`` are doubles
    computed from identical integer inputs (bit-identical across engines); the
    cross-cell sum is per-term decimal-cast so accumulation order cannot
    matter, and the final statistic rounds 6 dp (the cast is the one
    engine-divergent step: Spark HALF_UP vs DuckDB half-even)."""
    e = load_table(spark, sf_dir, "events").select(
        "event_type", F.pmod(F.col("user_id"), F.lit(_CHI2_BUCKETS)).alias("bucket")
    )
    cells = e.groupBy("event_type", "bucket").agg(F.count("*").alias("o"))
    row_t = cells.groupBy("event_type").agg(F.sum("o").alias("row_total"))
    col_t = cells.groupBy("bucket").agg(F.sum("o").alias("col_total"))
    n = cells.agg(F.sum("o").alias("n"))
    # enum-sized dims: both totals broadcast; the cell relation itself is tiny
    joined = (
        cells.join(F.broadcast(row_t), "event_type")
        .join(F.broadcast(col_t), "bucket")
        .crossJoin(F.broadcast(n))
    )
    exp = (
        F.col("row_total").cast("double")
        * F.col("col_total").cast("double")
        / F.col("n").cast("double")
    )
    term = (F.col("o").cast("double") - exp) * (F.col("o").cast("double") - exp) / exp
    return joined.agg(
        F.countDistinct("event_type").alias("n_types"),
        F.countDistinct("bucket").alias("n_buckets"),
        ((F.countDistinct("event_type") - 1) * (F.countDistinct("bucket") - 1)).alias("dof"),
        F.max("n").alias("n"),
        F.round(F.sum(term.cast("decimal(38,18)")).cast("double"), 6).alias("chi2"),
    )


STAT_CHI2_SQL = f"""
WITH e AS (
  SELECT event_type, user_id % {_CHI2_BUCKETS} AS bucket FROM events
),
cells AS (
  SELECT event_type, bucket, COUNT(*) AS o FROM e GROUP BY event_type, bucket
),
row_t AS (SELECT event_type, SUM(o) AS row_total FROM cells GROUP BY event_type),
col_t AS (SELECT bucket, SUM(o) AS col_total FROM cells GROUP BY bucket),
n AS (SELECT CAST(SUM(o) AS BIGINT) AS n FROM cells),
joined AS (
  SELECT c.o,
         CAST(r.row_total AS DOUBLE) * CAST(ct.col_total AS DOUBLE)
           / CAST(n.n AS DOUBLE) AS exp_cnt,
         c.event_type, c.bucket, n.n
  FROM cells c
  JOIN row_t r USING (event_type)
  JOIN col_t ct USING (bucket)
  CROSS JOIN n
)
SELECT COUNT(DISTINCT event_type) AS n_types,
       COUNT(DISTINCT bucket) AS n_buckets,
       (COUNT(DISTINCT event_type) - 1) * (COUNT(DISTINCT bucket) - 1) AS dof,
       MAX(n) AS n,
       ROUND(CAST(SUM(CAST(
         (CAST(o AS DOUBLE) - exp_cnt) * (CAST(o AS DOUBLE) - exp_cnt) / exp_cnt
         AS DECIMAL(38,18))) AS DOUBLE), 6) AS chi2
FROM joined
"""


def stat_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U (rank-sum) per event type between the ``user_id % 2``
    A/B buckets — the non-parametric sibling of `stat_ab_welch`.

    Pooled average ranks (ties -> midrank) come from one window sort per
    type: ``rank()`` gives the minimum rank of a tie group and the per-value
    count gives its width, so midrank = rank + (cnt-1)/2 — an exact multiple
    of 0.5, summed as decimal (exact, order-independent). U and its
    tie-corrected normal approximation use only exact integer/decimal inputs;
    the z statistic's division/sqrt chain rounds 6 dp."""
    e = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())  # NULL sort position differs across engines
        .select(
            "event_type",
            (F.pmod(F.col("user_id"), F.lit(2)) == 0).alias("is_a"),
            F.col("value").alias("v"),
        )
    )
    w = Window.partitionBy("event_type").orderBy("v")
    wt = Window.partitionBy("event_type", "v")
    ranked = e.select(
        "event_type",
        "is_a",
        (
            F.rank().over(w).cast("decimal(38,6)")
            + (F.count("*").over(wt).cast("decimal(38,6)") - 1) / 2
        ).alias("midrank"),
        F.count("*").over(wt).alias("tie_n"),
    )
    agg = ranked.groupBy("event_type").agg(
        F.count(F.when(F.col("is_a"), 1)).alias("n_a"),
        F.count(F.when(~F.col("is_a"), 1)).alias("n_b"),
        F.sum(F.when(F.col("is_a"), F.col("midrank"))).alias("r_a"),
        # tie-group sizes: each tie group of width t contributes t rows each
        # seeing tie_n = t, so sum(t^2) per row / t = t ... recover
        # sum(t^3 - t) exactly as sum over rows of (tie_n^2 - 1)
        F.sum(F.col("tie_n") * F.col("tie_n") - 1).alias("tie_cubes"),
    )
    na = F.col("n_a").cast("double")
    nb = F.col("n_b").cast("double")
    nn = na + nb
    u_a = F.col("r_a").cast("double") - na * (na + 1) / 2
    mu = na * nb / 2
    sigma2 = na * nb / 12 * ((nn + 1) - F.col("tie_cubes").cast("double") / (nn * (nn - 1)))
    z = (u_a - mu) / F.sqrt(sigma2)
    return agg.select(
        "event_type",
        "n_a",
        "n_b",
        F.col("r_a").cast("double").alias("rank_sum_a"),
        u_a.alias("u_a"),
        F.round(z, 6).alias("z_stat"),
    )


STAT_MANN_WHITNEY_SQL = """
WITH e AS (
  SELECT event_type, (user_id % 2 = 0) AS is_a, value AS v
  FROM events WHERE value IS NOT NULL
),
ranked AS (
  SELECT event_type, is_a,
         CAST(RANK() OVER (PARTITION BY event_type ORDER BY v) AS DECIMAL(38,6))
           + (CAST(COUNT(*) OVER (PARTITION BY event_type, v) AS DECIMAL(38,6)) - 1) / 2
           AS midrank,
         COUNT(*) OVER (PARTITION BY event_type, v) AS tie_n
  FROM e
),
agg AS (
  SELECT event_type,
         COUNT(CASE WHEN is_a THEN 1 END) AS n_a,
         COUNT(CASE WHEN NOT is_a THEN 1 END) AS n_b,
         SUM(CASE WHEN is_a THEN midrank END) AS r_a,
         SUM(tie_n * tie_n - 1) AS tie_cubes
  FROM ranked GROUP BY event_type
)
SELECT event_type, n_a, n_b,
       CAST(r_a AS DOUBLE) AS rank_sum_a,
       CAST(r_a AS DOUBLE) - CAST(n_a AS DOUBLE) * (CAST(n_a AS DOUBLE) + 1) / 2 AS u_a,
       ROUND(
         (CAST(r_a AS DOUBLE) - CAST(n_a AS DOUBLE) * (CAST(n_a AS DOUBLE) + 1) / 2
          - CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / 2)
         / sqrt(CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / 12
                * ((CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE) + 1)
                   - CAST(tie_cubes AS DOUBLE)
                     / ((CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE))
                        * (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE) - 1))))
       , 6) AS z_stat
FROM agg
"""


def stat_ols_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type OLS of daily total value on the day index: slope,
    intercept, and R^2 — the linear-trend sibling of `ts_theil_sen_trend`.

    Daily sums are decimal-exact; all five OLS moments (n, sum x, sum x^2,
    sum y, sum xy, sum y^2) stay exact (x is a small int; decimal*int and
    decimal^2 are exact at decimal(38,12)), so slope/intercept/R^2 are pure
    double chains over identical exact inputs. The chains round 6 dp (DuckDB
    may re-associate long division trees; same policy as stat_ab_welch)."""
    e = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.dayofmonth("ts").alias("x"),
        F.col("value").cast("decimal(18,6)").alias("v"),
    )
    daily = e.groupBy("event_type", "x").agg(F.sum("v").alias("y"))
    mom = daily.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("y") * F.col("x")).alias("sxy"),
        F.sum((F.col("y") * F.col("y")).cast("decimal(38,12)")).alias("syy"),
    )
    n = F.col("n").cast("double")
    sx = F.col("sx").cast("double")
    sxx = F.col("sxx").cast("double")
    sy = F.col("sy").cast("double")
    sxy = F.col("sxy").cast("double")
    syy = F.col("syy").cast("double")
    num = n * sxy - sx * sy
    den_x = n * sxx - sx * sx
    den_y = n * syy - sy * sy
    slope = num / den_x
    intercept = (sy - slope * sx) / n
    r2 = num * num / (den_x * den_y)
    return mom.select(
        "event_type",
        "n",
        F.round(slope, 6).alias("slope"),
        F.round(intercept, 6).alias("intercept"),
        F.round(r2, 6).alias("r2"),
    )


STAT_OLS_SQL = """
WITH e AS (
  SELECT event_type, EXTRACT(day FROM ts) AS x,
         CAST(value AS DECIMAL(18,6)) AS v
  FROM events
),
daily AS (
  SELECT event_type, x, SUM(v) AS y FROM e GROUP BY event_type, x
),
mom AS (
  SELECT event_type, COUNT(*) AS n, SUM(x) AS sx, SUM(x * x) AS sxx,
         SUM(y) AS sy, SUM(y * x) AS sxy,
         SUM(CAST(y * y AS DECIMAL(38,12))) AS syy
  FROM daily GROUP BY event_type
)
SELECT event_type, n,
       ROUND((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6) AS slope,
       ROUND((CAST(sy AS DOUBLE)
              - (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                 - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                   - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                * CAST(sx AS DOUBLE))
             / CAST(n AS DOUBLE), 6) AS intercept,
       ROUND((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             * (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / ((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                 - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                   - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6) AS r2
FROM mom
"""


_ACF_MAX_LAG = 7


def ts_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation function of the daily event-count series at lags
    1..7 — the seasonality detector behind `ts_anomaly_dow`.

    The series is calendar-bounded (one row per day); the mean comes from
    exact integer sums. Each lag's numerator sum((x_t - m)(x_{t+k} - m)) and
    the shared denominator sum((x_t - m)^2) are per-term decimal-cast sums of
    doubles built from identical inputs; acf rounds 9 dp. The lag join is a
    calendar-sized self-join (30 x 7 rows) — broadcast, no fact-table
    re-scan."""
    e = load_table(spark, sf_dir, "events").select(F.to_date("ts").alias("day"))
    daily = e.groupBy("day").agg(F.count("*").alias("x"))
    m = daily.agg(
        (F.sum("x").cast("double") / F.count("*").cast("double")).alias("m")
    )
    centered = daily.crossJoin(F.broadcast(m)).select(
        "day", (F.col("x").cast("double") - F.col("m")).alias("c")
    )
    den = centered.agg(
        F.sum((F.col("c") * F.col("c")).cast("decimal(38,18)")).cast("double").alias("den")
    )
    lags = spark.range(1, _ACF_MAX_LAG + 1).select(F.col("id").cast("int").alias("lag"))
    a = centered.select(F.col("day").alias("day_a"), F.col("c").alias("c_a"))
    b = centered.select(F.col("day").alias("day_b"), F.col("c").alias("c_b"))
    pairs = (
        a.crossJoin(F.broadcast(lags))
        .join(b, F.col("day_b") == F.date_add(F.col("day_a"), F.col("lag")))
        .groupBy("lag")
        .agg(
            F.count("*").alias("n_terms"),
            F.sum((F.col("c_a") * F.col("c_b")).cast("decimal(38,18)"))
            .cast("double")
            .alias("num"),
        )
    )
    return (
        pairs.crossJoin(F.broadcast(den))
        .select(
            "lag", "n_terms", F.round(F.col("num") / F.col("den"), 9).alias("acf")
        )
        .orderBy("lag")
    )


TS_ACF_SQL = f"""
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day, COUNT(*) AS x FROM events GROUP BY 1
),
m AS (
  SELECT CAST(SUM(x) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS m FROM daily
),
centered AS (
  SELECT day, CAST(x AS DOUBLE) - m.m AS c FROM daily CROSS JOIN m
),
den AS (
  SELECT CAST(SUM(CAST(c * c AS DECIMAL(38,18))) AS DOUBLE) AS den FROM centered
),
lags AS (SELECT UNNEST(range(1, {_ACF_MAX_LAG + 1})) AS lag),
pairs AS (
  SELECT l.lag, COUNT(*) AS n_terms,
         CAST(SUM(CAST(a.c * b.c AS DECIMAL(38,18))) AS DOUBLE) AS num
  FROM centered a
  CROSS JOIN lags l
  JOIN centered b ON b.day = a.day + CAST(l.lag AS INTEGER)
  GROUP BY l.lag
)
SELECT CAST(lag AS INTEGER) AS lag, n_terms, ROUND(num / den, 9) AS acf
FROM pairs CROSS JOIN den
ORDER BY lag
"""


def ts_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM change detection on the daily total-value series: the cumulative
    sum of deviations from the global mean, per day, plus a flag on the
    |CUSUM|-argmax day (the classic single-changepoint estimate).

    Exactness: daily totals and their running prefix are decimal sums (exact
    under any partition order); the mean-removal ``cum - t*m`` is one double
    chain over identical inputs, rounded 6 dp; the argmax is taken on the
    ROUNDED value with a day tiebreak so both engines flag the same row.
    Scale: one fact-table aggregate, then a calendar-sized window — the
    series is days, never rows."""
    e = load_table(spark, sf_dir, "events").select(
        F.to_date("ts").alias("day"), F.col("value").cast("decimal(18,6)").alias("v")
    )
    daily = e.groupBy("day").agg(F.sum("v").alias("y"))
    gm = daily.agg(
        (F.sum("y").cast("double") / F.count("*").cast("double")).alias("m")
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cum = daily.crossJoin(F.broadcast(gm)).select(
        "day",
        F.round(F.col("y").cast("double"), 6).alias("daily_total"),
        F.round(
            F.sum("y").over(w).cast("double")
            - F.row_number().over(Window.orderBy("day")).cast("double") * F.col("m"),
            6,
        ).alias("cusum"),
    )
    wmax = Window.orderBy(F.abs(F.col("cusum")).desc(), F.col("day").asc())
    return cum.select(
        "day",
        "daily_total",
        "cusum",
        (F.row_number().over(wmax) == 1).alias("is_changepoint"),
    ).orderBy("day")


TS_CUSUM_SQL = """
WITH e AS (
  SELECT CAST(ts AS DATE) AS day, CAST(value AS DECIMAL(18,6)) AS v FROM events
),
daily AS (SELECT day, SUM(v) AS y FROM e GROUP BY day),
gm AS (SELECT CAST(SUM(y) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS m FROM daily),
cum AS (
  SELECT day,
         ROUND(CAST(y AS DOUBLE), 6) AS daily_total,
         ROUND(CAST(SUM(y) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS DOUBLE)
               - CAST(ROW_NUMBER() OVER (ORDER BY day) AS DOUBLE) * gm.m, 6) AS cusum
  FROM daily CROSS JOIN gm
)
SELECT day, daily_total, cusum,
       ROW_NUMBER() OVER (ORDER BY abs(cusum) DESC, day ASC) = 1 AS is_changepoint
FROM cum ORDER BY day
"""


_HOLT_A = 0.3  # level smoothing
_HOLT_G = 0.2  # trend smoothing


def ts_holt_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt's linear (double-exponential) smoothing of the daily event-count
    series, with 1/2/3-day-ahead forecasts — the trend-aware sibling of
    `w12_ewma_smooth`. The coupled recursion

        s_t = a*x_t + (1-a)*(s_{t-1} + b_{t-1})
        b_t = g*(s_t - s_{t-1}) + (1-g)*b_{t-1}

    cannot be a window function; both engines run the IDENTICAL
    left-to-right struct fold (init = (x_1, 0), matching DuckDB's
    list_reduce first-element init), so every float op associates the same
    way and the result is BIT-exact — no rounding discipline needed, per
    the w12 precedent. Smoothing constants are embedded via Python repr in
    both engines (same exact doubles).

    Scale: the series is calendar-sized; the fold runs on one row. Per-key
    variants shuffle once on the key exactly like w12."""
    e = load_table(spark, sf_dir, "events").select(F.to_date("ts").alias("day"))
    daily = e.groupBy("day").agg(F.count("*").cast("double").alias("x"))
    series = daily.agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("day", "x"))), lambda r: r["x"]
        ).alias("vals")
    )
    a, g = _HOLT_A, _HOLT_G
    # try_element_at + a when() guard keep the zero-row case (empty vals
    # array from the agg) returning nulls instead of tripping ANSI
    # element_at/negative-length slice errors.
    init = F.struct(
        F.try_element_at("vals", F.lit(1)).alias("s"), F.lit(0.0).alias("b")
    )
    new_s = lambda acc, x: F.lit(a) * x + F.lit(1.0 - a) * (acc["s"] + acc["b"])  # noqa: E731
    folded = F.when(
        F.size("vals") > 0,
        F.aggregate(
            F.expr("slice(vals, 2, greatest(size(vals) - 1, 0))"),
            init,
            lambda acc, x: F.struct(
                new_s(acc, x).alias("s"),
                (
                    F.lit(g) * (new_s(acc, x) - acc["s"]) + F.lit(1.0 - g) * acc["b"]
                ).alias("b"),
            ),
        ),
    )
    return series.select(
        F.size("vals").alias("n_days"),
        folded["s"].alias("level"),
        folded["b"].alias("trend"),
        (folded["s"] + folded["b"]).alias("forecast_1"),
        (folded["s"] + F.lit(2.0) * folded["b"]).alias("forecast_2"),
        (folded["s"] + F.lit(3.0) * folded["b"]).alias("forecast_3"),
    )


# Oracle is a recursive CTE, NOT list_reduce: DuckDB's list_reduce evaluates
# struct_pack fields SEQUENTIALLY and rebinds acc fields mid-struct (the b
# field of a (s, b) state sees the NEW s — verified: fold (acc,x) ->
# (s := acc.s + x.s, b := (acc.s + x.s) * 2) over [1,2,3] returns b = 18,
# not 12). The recursive CTE has standard all-old-values semantics, and its
# per-step op chain is written identically to Spark's fold, so the result
# stays bit-exact.
TS_HOLT_SQL = f"""
WITH RECURSIVE daily AS (
  SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS DOUBLE) AS x
  FROM events GROUP BY 1
),
ds AS (SELECT ROW_NUMBER() OVER (ORDER BY day) AS rn, x FROM daily),
hw AS (
  SELECT rn, x AS s, CAST(0.0 AS DOUBLE) AS b FROM ds WHERE rn = 1
  UNION ALL
  SELECT d.rn,
         {_HOLT_A!r}::DOUBLE * d.x + {1.0 - _HOLT_A!r}::DOUBLE * (h.s + h.b) AS s,
         {_HOLT_G!r}::DOUBLE
           * (({_HOLT_A!r}::DOUBLE * d.x
               + {1.0 - _HOLT_A!r}::DOUBLE * (h.s + h.b)) - h.s)
         + {1.0 - _HOLT_G!r}::DOUBLE * h.b AS b
  FROM hw h JOIN ds d ON d.rn = h.rn + 1
),
last AS (SELECT rn, s, b FROM hw ORDER BY rn DESC LIMIT 1)
SELECT CAST(rn AS INT) AS n_days, s AS level, b AS trend,
       s + b AS forecast_1,
       s + CAST(2.0 AS DOUBLE) * b AS forecast_2,
       s + CAST(3.0 AS DOUBLE) * b AS forecast_3
FROM last
"""


_SPRT_P0 = 0.3   # H0 conversion rate
_SPRT_P1 = 0.36   # H1 conversion rate (minimum detectable effect)
# Wald boundaries and per-observation LLR increments, computed ONCE in
# Python and embedded as identical double literals in both engines
_SPRT_LA = 0.1823215567939546      # ln(p1/p0), added per success
_SPRT_LB = -0.08961215868968704      # ln((1-p1)/(1-p0)), added per failure
_SPRT_UPPER = 2.772588722239781  # ln((1-beta)/alpha): cross -> accept H1
_SPRT_LOWER = -1.5581446180465497  # ln(beta/(1-alpha)): cross -> accept H0


def stat_sprt_ab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald's Sequential Probability Ratio Test on the treatment arm's
    conversion stream (user_id % 2 = 1; conversion = event_type =
    'purchase'), processed in (ts, event_id) order: after n observations
    with k successes the log-likelihood ratio is EXACTLY

        LLR_n = k * ln(p1/p0) + (n - k) * ln((1-p1)/(1-p0))

    and the test stops at the first n crossing a Wald boundary — the
    always-valid early-stopping design that replaces fixed-horizon A/B
    peeking. Every LLR_n is two integer-by-literal products (no running
    float accumulation at all), so the trace is engine-exact; boundaries
    embedded via repr. Emits the stopping point and decision plus the
    final-state row.

    Scale shape: one window cumsum of an 0/1 column in event order, one
    filter, one min() — a streaming-friendly single pass (the stateful
    twin would be a running counter in applyInPandasWithState)."""
    e = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id") % 2 == 1)
        .select(
            "ts",
            "event_id",
            (F.col("event_type") == "purchase").cast("int").alias("x"),
        )
    )
    w = Window.orderBy(F.col("ts").asc(), F.col("event_id").asc())
    trace = e.select(
        F.row_number().over(w).alias("n"),
        F.sum("x").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)).alias("k"),
    ).select(
        "n",
        "k",
        (
            F.col("k").cast("double") * F.lit(_SPRT_LA)
            + (F.col("n") - F.col("k")).cast("double") * F.lit(_SPRT_LB)
        ).alias("llr"),
    )
    crossed = trace.filter(
        (F.col("llr") >= F.lit(_SPRT_UPPER)) | (F.col("llr") <= F.lit(_SPRT_LOWER))
    )
    first = crossed.agg(F.min("n").alias("stop_n"))
    final = trace.agg(F.max("n").alias("total_n"))
    hit = (
        trace.join(F.broadcast(first), F.col("n") == F.col("stop_n"))
        .select("stop_n", F.col("k").alias("stop_k"), F.col("llr").alias("stop_llr"))
    )
    return (
        final.crossJoin(F.broadcast(hit))
        .select(
            "total_n",
            "stop_n",
            "stop_k",
            F.round("stop_llr", 9).alias("stop_llr"),
            F.when(F.col("stop_llr") >= F.lit(_SPRT_UPPER), F.lit("accept_h1"))
            .otherwise(F.lit("accept_h0"))
            .alias("decision"),
        )
    )


STAT_SPRT_SQL = f"""
WITH e AS (
  SELECT ts, event_id, CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS x
  FROM events WHERE user_id % 2 = 1
),
trace AS (
  SELECT ROW_NUMBER() OVER (ORDER BY ts ASC, event_id ASC) AS n,
         SUM(x) OVER (ORDER BY ts ASC, event_id ASC
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS k
  FROM e
),
llr AS (
  SELECT n, k,
         CAST(k AS DOUBLE) * 0.1823215567939546 + CAST(n - k AS DOUBLE) * -0.08961215868968704 AS llr
  FROM trace
),
first AS (
  SELECT MIN(n) AS stop_n FROM llr
  WHERE llr >= 2.772588722239781 OR llr <= -1.5581446180465497
),
hit AS (
  SELECT f.stop_n, l.k AS stop_k, l.llr AS stop_llr
  FROM first f JOIN llr l ON l.n = f.stop_n
)
SELECT (SELECT CAST(MAX(n) AS BIGINT) FROM llr) AS total_n,
       CAST(stop_n AS BIGINT) AS stop_n, CAST(stop_k AS BIGINT) AS stop_k,
       ROUND(stop_llr, 9) AS stop_llr,
       CASE WHEN stop_llr >= 2.772588722239781 THEN 'accept_h1' ELSE 'accept_h0' END AS decision
FROM hit
"""


_BOOT_B = 50  # Poisson-bootstrap resamples


def stat_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bootstrap confidence interval for mean(c_acctbal) via the POISSON
    bootstrap — the resampling scheme that actually runs at 100 TB: instead
    of drawing n rows with replacement (needs global coordination), each row
    independently appears Poisson(1) times in each resample, so the whole
    thing is one stateless map (row x B replicate weights) + one
    map-side-combinable aggregate per resample. Weights are DETERMINISTIC:
    u = md5(custkey, b) scaled to [0,1), inverted through the Poisson(1) CDF
    whose cumulative thresholds are computed once in Python and embedded as
    identical double literals in both engines. Resample means use exact
    decimal sums; the CI is an order statistic (2nd smallest / 2nd largest
    of 50 (``_BOOT_B``) = a 96% interval), so no float summation crosses rows."""
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", F.col("c_acctbal").cast("decimal(18,2)").alias("x")
    )
    b = c.select(
        "c_custkey", "x", F.explode(F.sequence(F.lit(0), F.lit(_BOOT_B - 1))).alias("b")
    )
    u = (
        F.conv(
            F.substring(F.md5(F.concat_ws("-", F.col("c_custkey"), F.col("b"))), 1, 8),
            16,
            10,
        ).cast("long")
        / F.lit(4294967296.0)
    )
    w = (
        F.when(F.lit(False), F.lit(0))
        .when(F.col("u") < F.lit(0.36787944117144233), F.lit(0))
        .when(F.col("u") < F.lit(0.7357588823428847), F.lit(1))
        .when(F.col("u") < F.lit(0.9196986029286058), F.lit(2))
        .when(F.col("u") < F.lit(0.9810118431238463), F.lit(3))
        .when(F.col("u") < F.lit(0.9963401531726563), F.lit(4))
        .when(F.col("u") < F.lit(0.9994058151824183), F.lit(5))
        .otherwise(F.lit(6))
    )
    means = (
        b.select("b", "x", u.alias("u"))
        .select("b", "x", w.alias("w"))
        .groupBy("b")
        .agg(
            F.sum(F.col("x") * F.col("w")).alias("wsum"),
            F.sum("w").alias("n_w"),
        )
        .select(
            "b",
            F.round(
                F.col("wsum").cast("double") / F.col("n_w").cast("double"), 9
            ).alias("mean_b"),
        )
    )
    ranked = means.select(
        "b",
        "mean_b",
        F.row_number()
        .over(Window.orderBy(F.col("mean_b").asc(), F.col("b").asc()))
        .alias("rk"),
    )
    lo = ranked.filter(F.col("rk") == 2).select(F.col("mean_b").alias("ci_lo"))
    hi = ranked.filter(F.col("rk") == _BOOT_B - 1).select(F.col("mean_b").alias("ci_hi"))
    n = means.agg(F.count("*").alias("n_resamples"))
    return n.crossJoin(F.broadcast(lo)).crossJoin(F.broadcast(hi))


STAT_BOOTSTRAP_SQL = """
WITH c AS (SELECT c_custkey, CAST(c_acctbal AS DECIMAL(18,2)) AS x FROM customer),
b AS (SELECT c_custkey, x, unnest(range({B})) AS b FROM c),
uw AS (
  SELECT b,  x,
         CASE WHEN u < 0.36787944117144233 THEN 0 WHEN u < 0.7357588823428847 THEN 1 WHEN u < 0.9196986029286058 THEN 2 WHEN u < 0.9810118431238463 THEN 3 WHEN u < 0.9963401531726563 THEN 4 WHEN u < 0.9994058151824183 THEN 5 ELSE 6 END AS w
  FROM (
    SELECT b, x,
           (('0x' || substr(md5(CAST(c_custkey AS VARCHAR) || '-' || CAST(b AS VARCHAR)), 1, 8))::BIGINT)
             / 4294967296.0 AS u
    FROM b
  )
),
means AS (
  SELECT b, ROUND(CAST(SUM(x * w) AS DOUBLE) / CAST(SUM(w) AS DOUBLE), 9) AS mean_b
  FROM uw GROUP BY b
),
ranked AS (
  SELECT b, mean_b, ROW_NUMBER() OVER (ORDER BY mean_b ASC, b ASC) AS rk FROM means
)
SELECT (SELECT COUNT(*) FROM means) AS n_resamples,
       (SELECT mean_b FROM ranked WHERE rk = 2) AS ci_lo,
       (SELECT mean_b FROM ranked WHERE rk = {B_1}) AS ci_hi
""".replace("{B}", str(_BOOT_B)).replace("{B_1}", str(_BOOT_B - 1))


_HW_A = 0.3  # level smoothing
_HW_G = 0.2  # trend smoothing
_HW_D = 0.25  # seasonal smoothing
_HW_M = 7  # season length (weekly pattern on a daily series)


def ts_holt_winters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt-Winters ADDITIVE seasonal smoothing of the daily event-count
    series (season m=7), the seasonal upgrade of `ts_holt_linear`:

        s_t = a*(x_t - c_{t-m}) + (1-a)*(s_{t-1} + b_{t-1})
        b_t = g*(s_t - s_{t-1}) + (1-g)*b_{t-1}
        c_t = d*(x_t - s_{t-1} - b_{t-1}) + (1-d)*c_{t-m}

    Init is the textbook one: level = mean of season 1, trend = (mean of
    season 2 - mean of season 1)/m, seasonal c_i = x_i - mean1; recursion
    runs from t=m+1. Every arithmetic op is written in the IDENTICAL order
    in the Spark fold and the DuckDB recursive CTE (init means unrolled as
    literal 7-term add chains), so the result is BIT-exact with no rounding
    — the `ts_holt_linear`/`w12_ewma_smooth` discipline extended to a
    three-variable coupled recursion with a rotating array state.

    Scale: the series is calendar-sized; the fold runs on ONE row after a
    map-side-combined daily count. Per-key variants shuffle once on the key."""
    e = load_table(spark, sf_dir, "events").select(F.to_date("ts").alias("day"))
    daily = e.groupBy("day").agg(F.count("*").cast("double").alias("x"))
    series = daily.agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("day", "x"))), lambda r: r["x"]
        ).alias("vals")
    )
    a, g, d, m = _HW_A, _HW_G, _HW_D, _HW_M
    el = lambda i: F.try_element_at("vals", F.lit(i))  # noqa: E731
    mean1 = (el(1) + el(2) + el(3) + el(4) + el(5) + el(6) + el(7)) / F.lit(float(m))
    mean2 = (el(8) + el(9) + el(10) + el(11) + el(12) + el(13) + el(14)) / F.lit(float(m))
    init = F.struct(
        mean1.alias("s"),
        ((mean2 - mean1) / F.lit(float(m))).alias("b"),
        F.array(*[el(i) - mean1 for i in range(1, m + 1)]).alias("c"),
    )

    def step(acc, x):
        c_tm = F.element_at(acc["c"], 1)
        new_s = F.lit(a) * (x - c_tm) + F.lit(1.0 - a) * (acc["s"] + acc["b"])
        new_b = F.lit(g) * (new_s - acc["s"]) + F.lit(1.0 - g) * acc["b"]
        new_c = F.lit(d) * (x - acc["s"] - acc["b"]) + F.lit(1.0 - d) * c_tm
        return F.struct(
            new_s.alias("s"),
            new_b.alias("b"),
            F.concat(F.slice(acc["c"], 2, m - 1), F.array(new_c)).alias("c"),
        )

    folded = F.when(
        F.size("vals") >= 2 * m,
        F.aggregate(
            F.expr(f"slice(vals, {m + 1}, greatest(size(vals) - {m}, 0))"), init, step
        ),
    )
    fc = lambda h: folded["s"] + F.lit(float(h)) * folded["b"] + F.element_at(folded["c"], h)  # noqa: E731
    return series.select(
        F.size("vals").alias("n_days"),
        folded["s"].alias("level"),
        folded["b"].alias("trend"),
        fc(1).alias("forecast_1"),
        fc(2).alias("forecast_2"),
        fc(3).alias("forecast_3"),
    )


def _hw_sql() -> str:
    a, g, d, m = _HW_A, _HW_G, _HW_D, _HW_M
    mean1 = "(" + " + ".join(f"vals[{i}]" for i in range(1, m + 1)) + f") / {float(m)!r}"
    mean2 = "(" + " + ".join(f"vals[{i}]" for i in range(m + 1, 2 * m + 1)) + f") / {float(m)!r}"
    c0 = "[" + ", ".join(f"vals[{i}] - {mean1}" for i in range(1, m + 1)) + "]"
    # per-step expressions, written once and inlined so the op order matches
    # the Spark fold exactly (recursive CTEs see only the OLD row)
    new_s = f"{a!r} * (d.x - h.c[1]) + {1.0 - a!r} * (h.s + h.b)"
    return f"""
WITH RECURSIVE daily AS (
  SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS DOUBLE) AS x
  FROM events GROUP BY 1
),
ds AS (SELECT ROW_NUMBER() OVER (ORDER BY day) AS rn, x FROM daily),
arr AS (SELECT list(x ORDER BY rn) AS vals, COUNT(*) AS n FROM ds),
hw AS (
  SELECT {m}::BIGINT AS rn,
         {mean1} AS s,
         (({mean2}) - ({mean1})) / {float(m)!r} AS b,
         {c0} AS c
  FROM arr WHERE n >= {2 * m}
  UNION ALL
  SELECT d.rn,
         {new_s} AS s,
         {g!r} * (({new_s}) - h.s) + {1.0 - g!r} * h.b AS b,
         h.c[2:{m}] || [{d!r} * (d.x - h.s - h.b) + {1.0 - d!r} * h.c[1]] AS c
  FROM hw h JOIN ds d ON d.rn = h.rn + 1
),
last AS (SELECT s, b, c FROM hw ORDER BY rn DESC LIMIT 1)
SELECT CAST((SELECT n FROM arr) AS INT) AS n_days,
       last.s AS level, last.b AS trend,
       last.s + 1.0 * last.b + last.c[1] AS forecast_1,
       last.s + 2.0 * last.b + last.c[2] AS forecast_2,
       last.s + 3.0 * last.b + last.c[3] AS forecast_3
FROM (SELECT 1) one LEFT JOIN last ON TRUE
"""


TS_HOLT_WINTERS_SQL = _hw_sql()


def ts_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical additive decomposition of the daily total-value series:
    trend = centered 7-day moving average (only where the full window
    exists), seasonal = day-of-week mean of the detrended series re-centered
    to sum to zero, residual = y - trend - seasonal — the STL-lite monitor
    behind `ts_anomaly_dow`.

    Exactness: daily totals are decimal; the 7-day trend divides an exact
    decimal window sum by 7; the seasonal means and centering sum per-term
    decimal-cast doubles; every emitted float rounds 6 dp. All windows are
    calendar-sized."""
    e = load_table(spark, sf_dir, "events").select(
        F.to_date("ts").alias("day"), F.col("value").cast("decimal(18,6)").alias("v")
    )
    daily = e.groupBy("day").agg(F.sum("v").alias("y"))
    w7 = Window.orderBy("day").rowsBetween(-3, 3)
    with_trend = daily.select(
        "day",
        F.col("y").cast("double").alias("y"),
        F.when(
            F.count("*").over(w7) == 7,
            F.sum("y").over(w7).cast("double") / F.lit(7.0),
        ).alias("trend"),
        F.dayofweek("day").alias("dow"),
    )
    seas = (
        with_trend.filter(F.col("trend").isNotNull())
        .groupBy("dow")
        .agg(
            (
                F.sum((F.col("y") - F.col("trend")).cast("decimal(38,18)")).cast(
                    "double"
                )
                / F.count("*").cast("double")
            ).alias("s_raw")
        )
    )
    center = seas.agg(
        (
            F.sum(F.col("s_raw").cast("decimal(38,18)")).cast("double")
            / F.count("*").cast("double")
        ).alias("s_mean")
    )
    seas_c = seas.crossJoin(F.broadcast(center)).select(
        "dow", (F.col("s_raw") - F.col("s_mean")).alias("seasonal")
    )
    return (
        with_trend.join(F.broadcast(seas_c), "dow")
        .select(
            "day",
            F.round("y", 6).alias("y"),
            F.round("trend", 6).alias("trend"),
            F.round("seasonal", 6).alias("seasonal"),
            F.round(F.col("y") - F.col("trend") - F.col("seasonal"), 6).alias(
                "residual"
            ),
        )
        .orderBy("day")
    )


TS_SEASONAL_SQL = """
WITH e AS (
  SELECT CAST(ts AS DATE) AS day, CAST(value AS DECIMAL(18,6)) AS v FROM events
),
daily AS (SELECT day, SUM(v) AS y FROM e GROUP BY day),
wt AS (
  SELECT day, CAST(y AS DOUBLE) AS y,
         CASE WHEN COUNT(*) OVER w = 7
              THEN CAST(SUM(y) OVER w AS DOUBLE) / 7.0 END AS trend,
         dayofweek(day) + 1 AS dow
  FROM daily
  WINDOW w AS (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
),
seas AS (
  SELECT dow,
         CAST(SUM(CAST(y - trend AS DECIMAL(38,18))) AS DOUBLE)
           / CAST(COUNT(*) AS DOUBLE) AS s_raw
  FROM wt WHERE trend IS NOT NULL GROUP BY dow
),
center AS (
  SELECT CAST(SUM(CAST(s_raw AS DECIMAL(38,18))) AS DOUBLE)
           / CAST(COUNT(*) AS DOUBLE) AS s_mean
  FROM seas
),
sc AS (SELECT dow, s_raw - s_mean AS seasonal FROM seas CROSS JOIN center)
SELECT day, ROUND(y, 6) AS y, ROUND(trend, 6) AS trend,
       ROUND(seasonal, 6) AS seasonal,
       ROUND(y - trend - seasonal, 6) AS residual
FROM wt JOIN sc USING (dow)
ORDER BY day
"""


def stat_ab_proportion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test per event type between the ``user_id % 2`` A/B
    buckets on the 'did this event carry a value above the type median'
    proportion — the conversion-rate readout complementing `stat_ab_welch`
    (means) and `stat_mann_whitney` (ranks). Pooled-variance z with exact
    integer counts; the z chain rounds 6 dp (same policy as Welch).

    Scale: the median bound is one percentile aggregate broadcast back; the
    test is a single conditional aggregate over the fact table."""
    e = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    med = e.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("med")
    )
    flagged = e.join(F.broadcast(med), "event_type").select(
        "event_type",
        (F.pmod(F.col("user_id"), F.lit(2)) == 0).alias("is_a"),
        (F.col("value") > F.col("med")).alias("hit"),
    )
    agg = flagged.groupBy("event_type").agg(
        F.count(F.when(F.col("is_a"), 1)).alias("n_a"),
        F.count(F.when(~F.col("is_a"), 1)).alias("n_b"),
        F.count(F.when(F.col("is_a") & F.col("hit"), 1)).alias("x_a"),
        F.count(F.when(~F.col("is_a") & F.col("hit"), 1)).alias("x_b"),
    )
    na = F.col("n_a").cast("double")
    nb = F.col("n_b").cast("double")
    xa = F.col("x_a").cast("double")
    xb = F.col("x_b").cast("double")
    p_pool = (xa + xb) / (na + nb)
    z = (xa / na - xb / nb) / F.sqrt(p_pool * (1 - p_pool) * (1 / na + 1 / nb))
    return agg.select(
        "event_type",
        "n_a",
        "n_b",
        "x_a",
        "x_b",
        F.round(z, 6).alias("z_stat"),
    )


STAT_AB_PROP_SQL = """
WITH e AS (SELECT * FROM events WHERE value IS NOT NULL),
med AS (
  SELECT event_type, quantile_cont(value, 0.5) AS med FROM e GROUP BY event_type
),
flagged AS (
  SELECT e.event_type, (e.user_id % 2 = 0) AS is_a, (e.value > m.med) AS hit
  FROM e JOIN med m USING (event_type)
),
agg AS (
  SELECT event_type,
         COUNT(CASE WHEN is_a THEN 1 END) AS n_a,
         COUNT(CASE WHEN NOT is_a THEN 1 END) AS n_b,
         COUNT(CASE WHEN is_a AND hit THEN 1 END) AS x_a,
         COUNT(CASE WHEN NOT is_a AND hit THEN 1 END) AS x_b
  FROM flagged GROUP BY event_type
)
SELECT event_type, n_a, n_b, x_a, x_b,
       ROUND(
         (CAST(x_a AS DOUBLE) / CAST(n_a AS DOUBLE)
          - CAST(x_b AS DOUBLE) / CAST(n_b AS DOUBLE))
         / sqrt((CAST(x_a AS DOUBLE) + CAST(x_b AS DOUBLE))
                  / (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE))
                * (1 - (CAST(x_a AS DOUBLE) + CAST(x_b AS DOUBLE))
                         / (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE)))
                * (1 / CAST(n_a AS DOUBLE) + 1 / CAST(n_b AS DOUBLE)))
       , 6) AS z_stat
FROM agg
"""


# A&S 7.1.26 erfc in Horner form over x = |z|/sqrt(2) — ONE shared string so
# Spark and DuckDB execute the identical IEEE op sequence (sqrt(2) inlined as
# the correctly-rounded double literal; abs/exp/arithmetic elementwise).
_BH_X = "(abs(z_stat) / 1.4142135623730951)"
_BH_T = f"(1.0 / (1.0 + 0.3275911 * {_BH_X}))"
_BH_ERFC = (
    f"((((((1.061405429 * {_BH_T} - 1.453152027) * {_BH_T} + 1.421413741) * {_BH_T}"
    f" - 0.284496736) * {_BH_T} + 0.254829592) * {_BH_T}) * exp(-({_BH_X} * {_BH_X})))"
)
assert _BH_ERFC.count("(") == _BH_ERFC.count(")")


def stat_bh_fdr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benjamini-Hochberg FDR control (JRSS-B 1995) over the full family of
    per-(event_type, weekday) two-proportion z-tests — the multiple-testing
    layer every large experimentation platform needs on top of the single
    tests (`stat_ab_proportion` runs ONE test per type; slicing by weekday
    multiplies the family and naive per-test alpha would flood false
    positives).

    Chain: per-cell pooled z (same integer-count + round-6dp policy as
    `stat_ab_proportion`); two-sided p = erfc(|z|/sqrt(2)) via the
    Abramowitz-Stegun 7.1.26 rational approximation (|error| < 1.5e-7 —
    identical Horner form in both engines, input pre-rounded so both see
    the same doubles); BH step-up adjustment
    p_adj(i) = min_{j>=i} min(1, p_(j) * m / j) as a running window min
    over the descending p-rank. Degenerate cells (an empty arm or a 0/100%
    pooled rate) are excluded deterministically.

    Scale: the fact scan is one conditional aggregate (map-side
    combinable); everything after runs on the HYPOTHESIS table, whose size
    is the enum-sized test family (types x 7), so the unpartitioned BH
    rank/min windows sort m ~ dozens of rows, not data."""
    e = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    med = e.groupBy("event_type").agg(F.expr("percentile(value, 0.5)").alias("med"))
    flagged = e.join(F.broadcast(med), "event_type").select(
        "event_type",
        F.weekday("ts").alias("wd"),
        (F.pmod(F.col("user_id"), F.lit(2)) == 0).alias("is_a"),
        (F.col("value") > F.col("med")).alias("hit"),
    )
    agg = flagged.groupBy("event_type", "wd").agg(
        F.count(F.when(F.col("is_a"), 1)).alias("n_a"),
        F.count(F.when(~F.col("is_a"), 1)).alias("n_b"),
        F.count(F.when(F.col("is_a") & F.col("hit"), 1)).alias("x_a"),
        F.count(F.when(~F.col("is_a") & F.col("hit"), 1)).alias("x_b"),
    )
    ok = agg.filter(
        (F.col("n_a") > 0)
        & (F.col("n_b") > 0)
        & (F.col("x_a") + F.col("x_b") > 0)
        & (F.col("x_a") + F.col("x_b") < F.col("n_a") + F.col("n_b"))
    )
    na = F.col("n_a").cast("double")
    nb = F.col("n_b").cast("double")
    xa = F.col("x_a").cast("double")
    xb = F.col("x_b").cast("double")
    p_pool = (xa + xb) / (na + nb)
    z = (xa / na - xb / nb) / F.sqrt(p_pool * (1 - p_pool) * (1 / na + 1 / nb))
    zd = ok.withColumn("z_stat", F.round(z, 6))
    # A&S 7.1.26 erfc, Horner form — the EXACT same expression string as the
    # oracle so both engines execute the same IEEE op sequence.
    pe = zd.withColumn("p_value", F.round(F.expr(_BH_ERFC), 6))
    w_all = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    w_rank = Window.orderBy("p_value", "event_type", "wd")
    r = pe.withColumn("m", F.count("*").over(w_all)).withColumn(
        "rnk", F.row_number().over(w_rank)
    )
    w_min = Window.orderBy(F.col("rnk").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    adj = r.withColumn(
        "p_adj",
        F.round(
            F.min(F.least(F.lit(1.0), (F.col("p_value") * F.col("m")) / F.col("rnk"))).over(
                w_min
            ),
            6,
        ),
    )
    return adj.select(
        "event_type",
        "wd",
        "n_a",
        "n_b",
        "x_a",
        "x_b",
        "z_stat",
        "p_value",
        "p_adj",
        (F.col("p_adj") <= F.lit(0.05)).alias("reject"),
    )


STAT_BH_FDR_SQL = """
WITH e AS (SELECT * FROM events WHERE value IS NOT NULL),
med AS (
  SELECT event_type, quantile_cont(value, 0.5) AS med FROM e GROUP BY event_type
),
flagged AS (
  SELECT e.event_type, isodow(e.ts) - 1 AS wd,
         (e.user_id % 2 = 0) AS is_a, (e.value > m.med) AS hit
  FROM e JOIN med m USING (event_type)
),
agg AS (
  SELECT event_type, wd,
         COUNT(CASE WHEN is_a THEN 1 END) AS n_a,
         COUNT(CASE WHEN NOT is_a THEN 1 END) AS n_b,
         COUNT(CASE WHEN is_a AND hit THEN 1 END) AS x_a,
         COUNT(CASE WHEN NOT is_a AND hit THEN 1 END) AS x_b
  FROM flagged GROUP BY event_type, wd
),
ok AS (
  SELECT * FROM agg
  WHERE n_a > 0 AND n_b > 0 AND x_a + x_b > 0 AND x_a + x_b < n_a + n_b
),
zt AS (
  SELECT *, ROUND(
    (CAST(x_a AS DOUBLE) / CAST(n_a AS DOUBLE)
     - CAST(x_b AS DOUBLE) / CAST(n_b AS DOUBLE))
    / sqrt((CAST(x_a AS DOUBLE) + CAST(x_b AS DOUBLE))
             / (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE))
           * (1 - (CAST(x_a AS DOUBLE) + CAST(x_b AS DOUBLE))
                    / (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE)))
           * (1 / CAST(n_a AS DOUBLE) + 1 / CAST(n_b AS DOUBLE)))
  , 6) AS z_stat
  FROM ok
),
pv AS (
  SELECT *, ROUND({ERFC}, 6) AS p_value
  FROM zt
),
r AS (
  SELECT *, COUNT(*) OVER () AS m,
         ROW_NUMBER() OVER (ORDER BY p_value, event_type, wd) AS rnk
  FROM pv
),
adj AS (
  SELECT *, ROUND(
    MIN(least(1.0, (p_value * m) / rnk))
      OVER (ORDER BY rnk DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
  , 6) AS p_adj
  FROM r
)
SELECT event_type, wd, n_a, n_b, x_a, x_b, z_stat, p_value, p_adj,
       (p_adj <= 0.05) AS reject
FROM adj
""".replace("{ERFC}", _BH_ERFC)


# SAX (Lin/Keogh/Lonardi/Chiu, DMKD'07) parameters: 4-day PAA frames,
# 4-frame words, alphabet {a,b,c,d} split at the N(0,1) quartiles.
_SAX_PAA_W = 4
_SAX_WORD = 4
_SAX_BP_LO = "-0.6744897501960817"
_SAX_BP_HI = "0.6744897501960817"
_SAX_LETTER = (
    f"(CASE WHEN paa < CAST({_SAX_BP_LO} AS DOUBLE) THEN 'a'"
    f" WHEN paa < CAST(0.0 AS DOUBLE) THEN 'b'"
    f" WHEN paa < CAST({_SAX_BP_HI} AS DOUBLE) THEN 'c' ELSE 'd' END)"
)


def ts_sax_motifs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SAX symbolic motif mining over the per-type daily-total series (Lin
    et al., "Experiencing SAX", DMKD'07): z-normalize each series, average
    into 4-day PAA frames, quantize frames to a 4-letter alphabet at the
    standard-normal quartile breakpoints, slide a 4-frame word window, and
    report each type's top-3 most frequent words — recurring weekly-scale
    shapes ('dcba' = a falling week) that exact-value methods can't see.

    Float discipline: daily totals and all sums are decimal
    (order-independent); mean/var/std and z run as one identical double
    chain on exact inputs; PAA averages decimal-sum the 9-dp-rounded z's
    and divide by the frame width (a power of two — exact); breakpoint
    comparisons see identical doubles.

    Scale: one fact aggregate (map-combinable), then everything runs on
    the calendar-sized per-type series — the row_number/lead windows key
    on event_type, so no global sort anywhere."""
    e = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.to_date("ts").alias("day"),
        F.col("value").cast("decimal(18,6)").alias("v"),
    )
    # Integer micro-unit series: z-normalization is scale-invariant, and an
    # exact integer series lets BOTH engines square without decimal-width
    # overflow (Spark decimal(18,0)^2 -> (37,0); DuckDB squares in HUGEINT).
    daily = e.groupBy("event_type", "day").agg(
        F.expr("CAST(SUM(v) * 1000000 AS DECIMAL(18,0))").alias("yi")
    )
    stats = daily.groupBy("event_type").agg(
        F.sum("yi").alias("s1"),
        F.sum((F.col("yi") * F.col("yi")).cast("decimal(38,0)")).alias("s2"),
        F.count("*").alias("n"),
    )
    zs = (
        daily.join(F.broadcast(stats), "event_type")
        .withColumn("mean", F.expr("CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)"))
        .withColumn(
            "std",
            F.expr("sqrt(CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE) - mean * mean)"),
        )
        .filter(F.col("std") > 0)
        .withColumn("z", F.expr("(CAST(yi AS DOUBLE) - mean) / std"))
    )
    w_idx = Window.partitionBy("event_type").orderBy("day")
    frames = (
        zs.withColumn("idx", F.row_number().over(w_idx))
        .withColumn("bk", F.expr(f"(idx - 1) div {_SAX_PAA_W}"))
        .groupBy("event_type", "bk")
        .agg(
            F.count("*").alias("nf"),
            F.expr(
                "CAST(SUM(CAST(ROUND(z, 9) AS DECIMAL(20,10))) AS DOUBLE)"
                f" / CAST({_SAX_PAA_W} AS DOUBLE)"
            ).alias("paa"),
        )
        .filter(F.col("nf") == _SAX_PAA_W)
        .withColumn("l", F.expr(_SAX_LETTER))
    )
    w_bk = Window.partitionBy("event_type").orderBy("bk")
    words = frames.select(
        "event_type",
        F.concat(
            "l",
            F.lead("l", 1).over(w_bk),
            F.lead("l", 2).over(w_bk),
            F.lead("l", 3).over(w_bk),
        ).alias("motif"),
    ).filter(F.col("motif").isNotNull())
    counts = words.groupBy("event_type", "motif").agg(F.count("*").alias("n_occ"))
    w_rank = Window.partitionBy("event_type").orderBy(
        F.col("n_occ").desc(), F.col("motif").asc()
    )
    return (
        counts.withColumn("rank", F.row_number().over(w_rank))
        .filter(F.col("rank") <= 3)
        .select("event_type", "rank", "motif", "n_occ")
    )


TS_SAX_MOTIFS_SQL = f"""
WITH e AS (
  SELECT event_type, CAST(ts AS DATE) AS day, CAST(value AS DECIMAL(18,6)) AS v
  FROM events
),
daily AS (
  SELECT event_type, day, CAST(SUM(v) * 1000000 AS HUGEINT) AS yi
  FROM e GROUP BY event_type, day
),
stats AS (
  SELECT event_type, SUM(yi) AS s1, SUM(yi * yi) AS s2, COUNT(*) AS n
  FROM daily GROUP BY event_type
),
zs AS (
  SELECT d.event_type, d.day,
         (CAST(d.yi AS DOUBLE) - CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
           / sqrt(CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE)
                  - (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                    * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))) AS z
  FROM daily d JOIN stats USING (event_type)
  WHERE sqrt(CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE)
             - (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
               * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))) > 0
),
frames AS (
  SELECT event_type, bk, COUNT(*) AS nf,
         CAST(SUM(CAST(ROUND(z, 9) AS DECIMAL(20,10))) AS DOUBLE)
           / CAST({_SAX_PAA_W} AS DOUBLE) AS paa
  FROM (
    SELECT event_type, z,
           (ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day) - 1)
             // {_SAX_PAA_W} AS bk
    FROM zs
  ) GROUP BY event_type, bk
),
letters AS (
  SELECT event_type, bk, {_SAX_LETTER} AS l
  FROM frames WHERE nf = {_SAX_PAA_W}
),
words AS (
  SELECT event_type,
         l || LEAD(l, 1) OVER w || LEAD(l, 2) OVER w || LEAD(l, 3) OVER w AS motif
  FROM letters
  WINDOW w AS (PARTITION BY event_type ORDER BY bk)
),
counts AS (
  SELECT event_type, motif, COUNT(*) AS n_occ
  FROM words WHERE motif IS NOT NULL GROUP BY event_type, motif
)
SELECT event_type, rank, motif, n_occ FROM (
  SELECT event_type, motif, n_occ,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY n_occ DESC, motif ASC) AS rank
  FROM counts
) WHERE rank <= 3
"""


def stat_cuped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance reduction (Deng, Xu, Kohavi & Walker, WSDM'13) — the
    industry-standard pre-experiment covariate adjustment: per user,
    X = pre-period value total and Y = post-period value total (split at
    the corpus median day); theta = cov(X,Y)/var(X); the adjusted metric
    Y' = Y - theta*(X - mean(X)) has variance var(Y)(1 - rho^2). Output:
    one row with theta, the naive and CUPED A/B deltas (user_id % 2 arms),
    and the measured variance-reduction fraction — the number that decides
    how much traffic an experiment platform saves.

    Exactness: per-user totals are integer micro-units (x1e6), so the
    moment sums (Sx, Sy, Sxx, Sxy, Syy and per-arm variants) are EXACT
    integers in both engines (Spark decimal(38,0), DuckDB HUGEINT); every
    moment then enters one identical double chain, rounded 6 dp on output.
    Cells with zero pre-period variance return NULL theta (degenerate).

    Scale: one (user, period) aggregate over the fact scan (map-side
    combinable), a per-user pivot, then a single 1-row moment aggregate —
    the same two-exchange shape at any data volume."""
    e = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    med = e.agg(F.expr("percentile(CAST(unix_date(to_date(ts)) AS DOUBLE), 0.5)").alias("mday"))
    per_user = (
        e.crossJoin(F.broadcast(med))
        .groupBy("user_id")
        .agg(
            F.expr(
                "CAST(SUM(CASE WHEN CAST(unix_date(to_date(ts)) AS DOUBLE) <= mday"
                " THEN CAST(value AS DECIMAL(18,6)) ELSE CAST(0 AS DECIMAL(18,6)) END)"
                " * 1000000 AS DECIMAL(18,0))"
            ).alias("x"),
            F.expr(
                "CAST(SUM(CASE WHEN CAST(unix_date(to_date(ts)) AS DOUBLE) > mday"
                " THEN CAST(value AS DECIMAL(18,6)) ELSE CAST(0 AS DECIMAL(18,6)) END)"
                " * 1000000 AS DECIMAL(18,0))"
            ).alias("y"),
        )
        .withColumn("arm_a", F.pmod(F.col("user_id"), F.lit(2)) == 0)
    )
    m = per_user.agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum((F.col("x") * F.col("x")).cast("decimal(38,0)")).alias("sxx"),
        F.sum((F.col("x") * F.col("y")).cast("decimal(38,0)")).alias("sxy"),
        F.sum((F.col("y") * F.col("y")).cast("decimal(38,0)")).alias("syy"),
        F.count(F.when(F.col("arm_a"), 1)).alias("n_a"),
        F.sum(F.when(F.col("arm_a"), F.col("x")).otherwise(F.lit(0).cast("decimal(18,0)"))).alias("sx_a"),
        F.sum(F.when(F.col("arm_a"), F.col("y")).otherwise(F.lit(0).cast("decimal(18,0)"))).alias("sy_a"),
    )
    return m.selectExpr(
        "n",
        "n_a",
        "ROUND(" + _CUPED_THETA + ", 6) AS theta",
        "ROUND(" + _CUPED_DIFF_NAIVE + ", 6) AS diff_naive",
        "ROUND(" + _CUPED_DIFF_ADJ + ", 6) AS diff_cuped",
        "ROUND(" + _CUPED_VAR_RED + ", 6) AS var_reduction",
    )


# Shared double chains (identical text in both engines). All inputs are
# exact integer moments; 1e6 scaling cancels inside every ratio.
_C_MX = "(CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))"
_C_MY = "(CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))"
_C_VX = f"(CAST(sxx AS DOUBLE) / CAST(n AS DOUBLE) - {_C_MX} * {_C_MX})"
_C_VY = f"(CAST(syy AS DOUBLE) / CAST(n AS DOUBLE) - {_C_MY} * {_C_MY})"
_C_CXY = f"(CAST(sxy AS DOUBLE) / CAST(n AS DOUBLE) - {_C_MX} * {_C_MY})"
_CUPED_THETA = f"(CASE WHEN {_C_VX} > 0 THEN {_C_CXY} / {_C_VX} ELSE NULL END)"
_C_MXA = "(CAST(sx_a AS DOUBLE) / CAST(n_a AS DOUBLE))"
_C_MYA = "(CAST(sy_a AS DOUBLE) / CAST(n_a AS DOUBLE))"
_C_MXB = "(CAST(sx - sx_a AS DOUBLE) / CAST(n - n_a AS DOUBLE))"
_C_MYB = "(CAST(sy - sy_a AS DOUBLE) / CAST(n - n_a AS DOUBLE))"
_CUPED_DIFF_NAIVE = f"(({_C_MYA} - {_C_MYB}) / 1000000.0e0)"
_CUPED_DIFF_ADJ = (
    f"((({_C_MYA} - {_C_MYB}) - {_CUPED_THETA} * ({_C_MXA} - {_C_MXB})) / 1000000.0e0)"
)
_CUPED_VAR_RED = (
    f"(CASE WHEN {_C_VY} > 0 AND {_C_VX} > 0"
    f" THEN ({_CUPED_THETA} * {_CUPED_THETA} * {_C_VX}) / {_C_VY} ELSE NULL END)"
)

STAT_CUPED_SQL = f"""
WITH e AS (SELECT * FROM events WHERE value IS NOT NULL),
med AS (
  SELECT quantile_cont(CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS DOUBLE), 0.5) AS mday
  FROM e
),
per_user AS (
  SELECT user_id,
         CAST(SUM(CASE WHEN CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS DOUBLE) <= mday
              THEN CAST(value AS DECIMAL(18,6)) ELSE CAST(0 AS DECIMAL(18,6)) END)
              * 1000000 AS HUGEINT) AS x,
         CAST(SUM(CASE WHEN CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS DOUBLE) > mday
              THEN CAST(value AS DECIMAL(18,6)) ELSE CAST(0 AS DECIMAL(18,6)) END)
              * 1000000 AS HUGEINT) AS y,
         (user_id % 2 = 0) AS arm_a
  FROM e CROSS JOIN med GROUP BY user_id
),
m AS (
  SELECT COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
         SUM(x * x) AS sxx, SUM(x * y) AS sxy, SUM(y * y) AS syy,
         COUNT(CASE WHEN arm_a THEN 1 END) AS n_a,
         SUM(CASE WHEN arm_a THEN x ELSE 0 END) AS sx_a,
         SUM(CASE WHEN arm_a THEN y ELSE 0 END) AS sy_a
  FROM per_user
)
SELECT n, n_a,
       ROUND({_CUPED_THETA}, 6) AS theta,
       ROUND({_CUPED_DIFF_NAIVE}, 6) AS diff_naive,
       ROUND({_CUPED_DIFF_ADJ}, 6) AS diff_cuped,
       ROUND({_CUPED_VAR_RED}, 6) AS var_reduction
FROM m
"""


def stat_did(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences estimator per event type: arms are the
    user_id % 2 split, periods are pre/post the corpus median day, cells
    are exact decimal value means, and the effect is
    (treat_post - treat_pre) - (ctrl_post - ctrl_pre) — the canonical
    causal readout when treatment rollout correlates with time.

    Exactness: the four cell sums/counts per type are decimal/integer
    (order-independent); the four means and the double-difference are one
    identical double chain, rounded 6 dp.

    Scale: a 1-row median broadcast onto the scan, then ONE map-side
    combinable conditional aggregate per type — nothing after the first
    exchange scales with data."""
    e = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    med = e.agg(
        F.expr("percentile(CAST(unix_date(to_date(ts)) AS DOUBLE), 0.5)").alias("mday")
    )
    cells = (
        e.crossJoin(F.broadcast(med))
        .select(
            "event_type",
            (F.pmod(F.col("user_id"), F.lit(2)) == 0).alias("treat"),
            (F.expr("CAST(unix_date(to_date(ts)) AS DOUBLE)") > F.col("mday")).alias("post"),
            F.col("value").cast("decimal(18,6)").alias("v"),
        )
        .groupBy("event_type")
        .agg(
            *[
                agg
                for t, p, tag in [
                    (True, True, "tp"), (True, False, "tr"),
                    (False, True, "cp"), (False, False, "cr"),
                ]
                for agg in (
                    F.sum(
                        F.when((F.col("treat") == t) & (F.col("post") == p), F.col("v"))
                        .otherwise(F.lit(0).cast("decimal(18,6)"))
                    ).alias(f"s_{tag}"),
                    F.count(
                        F.when((F.col("treat") == t) & (F.col("post") == p), 1)
                    ).alias(f"n_{tag}"),
                )
            ]
        )
    )
    mean = lambda tag: f"(CAST(s_{tag} AS DOUBLE) / CAST(n_{tag} AS DOUBLE))"  # noqa: E731
    return cells.filter(
        (F.col("n_tp") > 0) & (F.col("n_tr") > 0) & (F.col("n_cp") > 0) & (F.col("n_cr") > 0)
    ).selectExpr(
        "event_type",
        "n_tp", "n_tr", "n_cp", "n_cr",
        f"ROUND({mean('tp')}, 6) AS mean_treat_post",
        f"ROUND({mean('tr')}, 6) AS mean_treat_pre",
        f"ROUND({mean('cp')}, 6) AS mean_ctrl_post",
        f"ROUND({mean('cr')}, 6) AS mean_ctrl_pre",
        f"ROUND(({mean('tp')} - {mean('tr')}) - ({mean('cp')} - {mean('cr')}), 6) AS did_effect",
    )


STAT_DID_SQL = """
WITH e AS (SELECT * FROM events WHERE value IS NOT NULL),
med AS (
  SELECT quantile_cont(CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS DOUBLE), 0.5) AS mday
  FROM e
),
cells AS (
  SELECT event_type,
         SUM(CASE WHEN (user_id % 2 = 0) AND CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS DOUBLE) > mday
             THEN CAST(value AS DECIMAL(18,6)) ELSE CAST(0 AS DECIMAL(18,6)) END) AS s_tp,
         COUNT(CASE WHEN (user_id % 2 = 0) AND CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS DOUBLE) > mday THEN 1 END) AS n_tp,
         SUM(CASE WHEN (user_id % 2 = 0) AND NOT CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS DOUBLE) > mday
             THEN CAST(value AS DECIMAL(18,6)) ELSE CAST(0 AS DECIMAL(18,6)) END) AS s_tr,
         COUNT(CASE WHEN (user_id % 2 = 0) AND NOT CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS DOUBLE) > mday THEN 1 END) AS n_tr,
         SUM(CASE WHEN NOT (user_id % 2 = 0) AND CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS DOUBLE) > mday
             THEN CAST(value AS DECIMAL(18,6)) ELSE CAST(0 AS DECIMAL(18,6)) END) AS s_cp,
         COUNT(CASE WHEN NOT (user_id % 2 = 0) AND CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS DOUBLE) > mday THEN 1 END) AS n_cp,
         SUM(CASE WHEN NOT (user_id % 2 = 0) AND NOT CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS DOUBLE) > mday
             THEN CAST(value AS DECIMAL(18,6)) ELSE CAST(0 AS DECIMAL(18,6)) END) AS s_cr,
         COUNT(CASE WHEN NOT (user_id % 2 = 0) AND NOT CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS DOUBLE) > mday THEN 1 END) AS n_cr
  FROM e CROSS JOIN med GROUP BY event_type
)
SELECT event_type, n_tp, n_tr, n_cp, n_cr,
       ROUND(CAST(s_tp AS DOUBLE) / CAST(n_tp AS DOUBLE), 6) AS mean_treat_post,
       ROUND(CAST(s_tr AS DOUBLE) / CAST(n_tr AS DOUBLE), 6) AS mean_treat_pre,
       ROUND(CAST(s_cp AS DOUBLE) / CAST(n_cp AS DOUBLE), 6) AS mean_ctrl_post,
       ROUND(CAST(s_cr AS DOUBLE) / CAST(n_cr AS DOUBLE), 6) AS mean_ctrl_pre,
       ROUND((CAST(s_tp AS DOUBLE) / CAST(n_tp AS DOUBLE) - CAST(s_tr AS DOUBLE) / CAST(n_tr AS DOUBLE))
             - (CAST(s_cp AS DOUBLE) / CAST(n_cp AS DOUBLE) - CAST(s_cr AS DOUBLE) / CAST(n_cr AS DOUBLE)), 6) AS did_effect
FROM cells
WHERE n_tp > 0 AND n_tr > 0 AND n_cp > 0 AND n_cr > 0
"""


def stat_srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-ratio-mismatch guardrail (Kohavi et al., KDD'19 'Diagnosing
    Sample Ratio Mismatch'): per event type, test the observed user split
    against the designed 50/50 allocation with the one-degree chi-square
    chi2 = (n_a - n_b)^2 / (n_a + n_b). SRM is the #1 invalidator of A/B
    readouts — any significant imbalance means assignment/logging is
    broken and the experiment's metrics (including `stat_cuped` /
    `stat_did` outputs) cannot be trusted. Users are counted DISTINCT per
    arm (assignment is per user, not per event). Flag at chi2 > 9
    (~|z| > 3, alpha ~ 0.0027 — the conventional always-on monitor bar).

    Exactness: distinct counts are exact integers; chi2 is one identical
    double chain rounded 6 dp.

    Scale: one distinct-aggregate over the fact scan (map-side partial),
    then enum-sized scalar math."""
    e = load_table(spark, sf_dir, "events")
    agg = e.groupBy("event_type").agg(
        F.count_distinct(F.when(F.pmod(F.col("user_id"), F.lit(2)) == 0, F.col("user_id"))).alias("n_a"),
        F.count_distinct(F.when(F.pmod(F.col("user_id"), F.lit(2)) == 1, F.col("user_id"))).alias("n_b"),
    )
    chi2 = (
        "(CAST(n_a AS DOUBLE) - CAST(n_b AS DOUBLE))"
        " * (CAST(n_a AS DOUBLE) - CAST(n_b AS DOUBLE))"
        " / (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE))"
    )
    return agg.selectExpr(
        "event_type",
        "n_a",
        "n_b",
        f"ROUND({chi2}, 6) AS chi2",
        f"({chi2} > 9.0) AS srm_flag",
    )


STAT_SRM_SQL = """
WITH agg AS (
  SELECT event_type,
         COUNT(DISTINCT CASE WHEN user_id % 2 = 0 THEN user_id END) AS n_a,
         COUNT(DISTINCT CASE WHEN user_id % 2 = 1 THEN user_id END) AS n_b
  FROM events GROUP BY event_type
)
SELECT event_type, n_a, n_b,
       ROUND((CAST(n_a AS DOUBLE) - CAST(n_b AS DOUBLE))
             * (CAST(n_a AS DOUBLE) - CAST(n_b AS DOUBLE))
             / (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE)), 6) AS chi2,
       ((CAST(n_a AS DOUBLE) - CAST(n_b AS DOUBLE))
        * (CAST(n_a AS DOUBLE) - CAST(n_b AS DOUBLE))
        / (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE)) > 9.0) AS srm_flag
FROM agg
"""


def stat_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov statistic per event type between the
    ``user_id % 2`` A/B buckets: D = max over pooled values of
    |F_a(x) - F_b(x)| — the distribution-equality test that catches shape
    changes means/ranks miss.

    Exact construction: per distinct value, running counts per bucket come
    from one window cumsum over the pooled sort (integers); each ECDF step
    is an exact-int / exact-int division — identical doubles — and the max
    runs over identical inputs, rounded 9 dp only on output. One shuffle
    (window sort per type; enum-sized key space), then an enum-sized max."""
    e = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select(
            "event_type",
            (F.pmod(F.col("user_id"), F.lit(2)) == 0).alias("is_a"),
            F.col("value").alias("v"),
        )
    )
    per_val = e.groupBy("event_type", "v").agg(
        F.count(F.when(F.col("is_a"), 1)).alias("ca"),
        F.count(F.when(~F.col("is_a"), 1)).alias("cb"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wn = Window.partitionBy("event_type")
    steps = per_val.select(
        "event_type",
        (
            F.sum("ca").over(w).cast("double") / F.sum("ca").over(wn).cast("double")
            - F.sum("cb").over(w).cast("double") / F.sum("cb").over(wn).cast("double")
        ).alias("diff"),
        F.sum("ca").over(wn).alias("n_a"),
        F.sum("cb").over(wn).alias("n_b"),
    )
    return (
        steps.groupBy("event_type")
        .agg(
            F.max("n_a").alias("n_a"),
            F.max("n_b").alias("n_b"),
            F.round(F.max(F.abs(F.col("diff"))), 9).alias("ks_d"),
        )
        .orderBy("event_type")
    )


STAT_KS_SQL = """
WITH e AS (
  SELECT event_type, (user_id % 2 = 0) AS is_a, value AS v
  FROM events WHERE value IS NOT NULL
),
per_val AS (
  SELECT event_type, v,
         COUNT(CASE WHEN is_a THEN 1 END) AS ca,
         COUNT(CASE WHEN NOT is_a THEN 1 END) AS cb
  FROM e GROUP BY event_type, v
),
steps AS (
  SELECT event_type,
         CAST(SUM(ca) OVER (PARTITION BY event_type ORDER BY v
                            ROWS UNBOUNDED PRECEDING) AS DOUBLE)
           / CAST(SUM(ca) OVER (PARTITION BY event_type) AS DOUBLE)
         - CAST(SUM(cb) OVER (PARTITION BY event_type ORDER BY v
                              ROWS UNBOUNDED PRECEDING) AS DOUBLE)
           / CAST(SUM(cb) OVER (PARTITION BY event_type) AS DOUBLE) AS diff,
         SUM(ca) OVER (PARTITION BY event_type) AS n_a,
         SUM(cb) OVER (PARTITION BY event_type) AS n_b
  FROM per_val
)
SELECT event_type,
       CAST(MAX(n_a) AS BIGINT) AS n_a,
       CAST(MAX(n_b) AS BIGINT) AS n_b,
       ROUND(MAX(abs(diff)), 9) AS ks_d
FROM steps GROUP BY event_type ORDER BY event_type
"""


def stat_anova_oneway(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA across event types: F = (between-group SS / (k-1)) /
    (within-group SS / (n-k)) from exact decimal moments — does the metric
    differ across the k groups at all, before pairwise tests.

    Per-group (n, sum, sum-of-squares) are decimal-exact; SS terms and F
    are one double chain over identical inputs, rounded 6 dp. One
    map-side-combinable aggregate; everything after is k-row scalar math."""
    e = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select("event_type", F.col("value").cast("decimal(18,6)").alias("v"))
    )
    g = e.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("v").alias("s1"),
        F.sum((F.col("v") * F.col("v")).cast("decimal(38,12)")).alias("s2"),
    )
    tot = g.agg(
        F.count("*").alias("k"),
        F.sum("n").alias("n_tot"),
        F.sum("s1").cast("double").alias("s1_tot"),
        F.sum("s2").cast("double").alias("s2_tot"),
        F.sum(
            (
                F.col("s1").cast("double")
                * F.col("s1").cast("double")
                / F.col("n").cast("double")
            ).cast("decimal(38,12)")
        )
        .cast("double")
        .alias("group_means_ss"),
    )
    k = F.col("k").cast("double")
    n = F.col("n_tot").cast("double")
    grand_sq = F.col("s1_tot") * F.col("s1_tot") / n
    ss_between = F.col("group_means_ss") - grand_sq
    ss_within = F.col("s2_tot") - F.col("group_means_ss")
    f_stat = (ss_between / (k - 1)) / (ss_within / (n - k))
    return tot.select(
        "k",
        F.col("n_tot").cast("long").alias("n_tot"),
        F.round(ss_between, 6).alias("ss_between"),
        F.round(ss_within, 6).alias("ss_within"),
        F.round(f_stat, 6).alias("f_stat"),
    )


STAT_ANOVA_SQL = """
WITH e AS (
  SELECT event_type, CAST(value AS DECIMAL(18,6)) AS v
  FROM events WHERE value IS NOT NULL
),
g AS (
  SELECT event_type, COUNT(*) AS n, SUM(v) AS s1,
         SUM(CAST(v * v AS DECIMAL(38,12))) AS s2
  FROM e GROUP BY event_type
),
tot AS (
  SELECT COUNT(*) AS k, CAST(SUM(n) AS BIGINT) AS n_tot,
         CAST(SUM(s1) AS DOUBLE) AS s1_tot,
         CAST(SUM(s2) AS DOUBLE) AS s2_tot,
         CAST(SUM(CAST(CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
                       / CAST(n AS DOUBLE) AS DECIMAL(38,12))) AS DOUBLE)
           AS group_means_ss
  FROM g
)
SELECT k, n_tot,
       ROUND(group_means_ss - s1_tot * s1_tot / CAST(n_tot AS DOUBLE), 6) AS ss_between,
       ROUND(s2_tot - group_means_ss, 6) AS ss_within,
       ROUND(((group_means_ss - s1_tot * s1_tot / CAST(n_tot AS DOUBLE))
              / (CAST(k AS DOUBLE) - 1))
             / ((s2_tot - group_means_ss)
                / (CAST(n_tot AS DOUBLE) - CAST(k AS DOUBLE))), 6) AS f_stat
FROM tot
"""


def ts_max_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum drawdown of the cumulative daily-value series: running peak
    minus current equity, maxed over time, plus the peak and trough days —
    the risk metric any metered/revenue series is monitored with.

    The equity curve and its running max are exact decimal window sums
    (order-independent); drawdown subtraction stays decimal; only the
    reported doubles round. Calendar-sized windows after one fact
    aggregate."""
    e = load_table(spark, sf_dir, "events").select(
        F.to_date("ts").alias("day"), F.col("value").cast("decimal(18,6)").alias("v")
    )
    daily = e.groupBy("day").agg(F.sum("v").alias("y"))
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    eq = daily.select(
        "day",
        F.sum("y").over(w).alias("equity"),
        F.max(F.sum("y").over(w)).over(w).alias("peak"),
    ).select("day", "equity", "peak", (F.col("peak") - F.col("equity")).alias("dd"))
    wmax = Window.orderBy(F.col("dd").desc(), F.col("day").asc())
    worst = eq.withColumn("rn", F.row_number().over(wmax)).filter(F.col("rn") == 1)
    return worst.select(
        F.col("day").alias("trough_day"),
        F.round(F.col("equity").cast("double"), 6).alias("equity_at_trough"),
        F.round(F.col("peak").cast("double"), 6).alias("peak_equity"),
        F.round(F.col("dd").cast("double"), 6).alias("max_drawdown"),
    )


TS_DRAWDOWN_SQL = """
WITH e AS (
  SELECT CAST(ts AS DATE) AS day, CAST(value AS DECIMAL(18,6)) AS v FROM events
),
daily AS (SELECT day, SUM(v) AS y FROM e GROUP BY day),
cum AS (
  SELECT day, SUM(y) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS equity
  FROM daily
),
eq AS (
  SELECT day, equity,
         MAX(equity) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS peak
  FROM cum
),
dd AS (
  SELECT day, equity, peak, peak - equity AS dd,
         ROW_NUMBER() OVER (ORDER BY peak - equity DESC, day ASC) AS rn
  FROM eq
)
SELECT day AS trough_day,
       ROUND(CAST(equity AS DOUBLE), 6) AS equity_at_trough,
       ROUND(CAST(peak AS DOUBLE), 6) AS peak_equity,
       ROUND(CAST(dd AS DOUBLE), 6) AS max_drawdown
FROM dd WHERE rn = 1
"""


def stat_kruskal_wallis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kruskal-Wallis H across ALL event types — the k-group omnibus rank
    test completing the family (`stat_mann_whitney` = 2 groups, ANOVA =
    means): H = (12 / (n(n+1))) * Σ R_g²/n_g - 3(n+1), divided by the tie
    correction 1 - Σ(t³-t)/(n³-n). Midranks over the POOLED sort come from
    one global window; rank sums are exact decimals (midranks are halves);
    the H chain rounds 6 dp.

    Scale note: the pooled global sort is the test-scale shape; at 100 TB
    ranks come from a two-pass value-histogram (same outputs), exactly the
    Mann-Whitney note."""
    e = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select("event_type", F.col("value").alias("v"))
    )
    w = Window.orderBy("v")
    wt = Window.partitionBy("v")
    ranked = e.select(
        "event_type",
        (
            F.rank().over(w).cast("decimal(38,6)")
            + (F.count("*").over(wt).cast("decimal(38,6)") - 1) / 2
        ).alias("midrank"),
        F.count("*").over(wt).alias("tie_n"),
    )
    per_g = ranked.groupBy("event_type").agg(
        F.count("*").alias("n_g"), F.sum("midrank").alias("r_g")
    )
    tot = ranked.agg(
        F.count("*").alias("n"),
        F.sum(F.col("tie_n") * F.col("tie_n") - 1).alias("tie_cubes"),
    )
    gsum = per_g.agg(
        F.count("*").alias("k"),
        F.sum(
            (
                F.col("r_g").cast("double")
                * F.col("r_g").cast("double")
                / F.col("n_g").cast("double")
            ).cast("decimal(38,12)")
        )
        .cast("double")
        .alias("rr"),
    )
    n = F.col("n").cast("double")
    h_raw = F.lit(12.0) / (n * (n + 1)) * F.col("rr") - F.lit(3.0) * (n + 1)
    correction = 1 - F.col("tie_cubes").cast("double") / (n * n * n - n)
    return (
        gsum.crossJoin(F.broadcast(tot))
        .select(
            "k",
            F.col("n").alias("n"),
            F.round(h_raw / correction, 6).alias("h_stat"),
        )
    )


STAT_KRUSKAL_SQL = """
WITH e AS (
  SELECT event_type, value AS v FROM events WHERE value IS NOT NULL
),
ranked AS (
  SELECT event_type,
         CAST(RANK() OVER (ORDER BY v) AS DECIMAL(38,6))
           + (CAST(COUNT(*) OVER (PARTITION BY v) AS DECIMAL(38,6)) - 1) / 2 AS midrank,
         COUNT(*) OVER (PARTITION BY v) AS tie_n
  FROM e
),
per_g AS (
  SELECT event_type, COUNT(*) AS n_g, SUM(midrank) AS r_g
  FROM ranked GROUP BY event_type
),
tot AS (
  SELECT COUNT(*) AS n,
         CAST(SUM(tie_n * tie_n - 1) AS BIGINT) AS tie_cubes
  FROM ranked
),
gsum AS (
  SELECT COUNT(*) AS k,
         CAST(SUM(CAST(CAST(r_g AS DOUBLE) * CAST(r_g AS DOUBLE)
                       / CAST(n_g AS DOUBLE) AS DECIMAL(38,12))) AS DOUBLE) AS rr
  FROM per_g
)
SELECT k, CAST(n AS BIGINT) AS n,
       ROUND((12.0 / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1)) * rr
              - 3.0 * (CAST(n AS DOUBLE) + 1))
             / (1 - CAST(tie_cubes AS DOUBLE)
                    / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
                       - CAST(n AS DOUBLE))), 6) AS h_stat
FROM gsum CROSS JOIN tot
"""


def stat_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson AND Spearman correlation between line-item quantity and
    extended price — the relationship readout (linear vs monotonic) behind
    any pricing model sanity check. Pearson from exact decimal moments;
    Spearman = Pearson ON MIDRANKS (two windows, exact half-integer
    decimals); both r chains round 6 dp."""
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_quantity").alias("x"), F.col("l_extendedprice").alias("y")
    )
    wx = Window.orderBy("x")
    wtx = Window.partitionBy("x")
    wy = Window.orderBy("y")
    wty = Window.partitionBy("y")
    # DECIMAL(19,6): products stay within int128 (19+19 = 38) in BOTH
    # engines — DECIMAL(18) is int64-backed in DuckDB and x*y overflows it
    ranked = li.select(
        F.col("x").cast("decimal(19,6)").alias("x"),
        F.col("y").cast("decimal(19,6)").alias("y"),
        (
            F.rank().over(wx).cast("decimal(38,6)")
            + (F.count("*").over(wtx).cast("decimal(38,6)") - 1) / 2
        ).cast("decimal(19,6)").alias("rx"),
        (
            F.rank().over(wy).cast("decimal(38,6)")
            + (F.count("*").over(wty).cast("decimal(38,6)") - 1) / 2
        ).cast("decimal(19,6)").alias("ry"),
    )

    def _pearson(a, b, asq, bsq, ab, n):
        num = n * ab - a * b
        den = F.sqrt(n * asq - a * a) * F.sqrt(n * bsq - b * b)
        return num / den

    mom = ranked.agg(
        F.count("*").alias("n"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum((F.col("x") * F.col("x")).cast("decimal(38,12)")).cast("double").alias("sxx"),
        F.sum((F.col("y") * F.col("y")).cast("decimal(38,12)")).cast("double").alias("syy"),
        F.sum((F.col("x") * F.col("y")).cast("decimal(38,12)")).cast("double").alias("sxy"),
        F.sum("rx").cast("double").alias("srx"),
        F.sum("ry").cast("double").alias("sry"),
        F.sum((F.col("rx") * F.col("rx")).cast("decimal(38,12)")).cast("double").alias("srxx"),
        F.sum((F.col("ry") * F.col("ry")).cast("decimal(38,12)")).cast("double").alias("sryy"),
        F.sum((F.col("rx") * F.col("ry")).cast("decimal(38,12)")).cast("double").alias("srxy"),
    )
    n = F.col("n").cast("double")
    return mom.select(
        "n",
        F.round(
            _pearson(
                F.col("sx"), F.col("sy"), F.col("sxx"), F.col("syy"), F.col("sxy"), n
            ),
            6,
        ).alias("pearson_r"),
        F.round(
            _pearson(
                F.col("srx"), F.col("sry"), F.col("srxx"), F.col("sryy"), F.col("srxy"), n
            ),
            6,
        ).alias("spearman_r"),
    )


STAT_CORRELATION_SQL = """
WITH ranked AS (
  SELECT CAST(l_quantity AS DECIMAL(19,6)) AS x,
         CAST(l_extendedprice AS DECIMAL(19,6)) AS y,
         CAST(CAST(RANK() OVER (ORDER BY l_quantity) AS DECIMAL(38,6))
           + (CAST(COUNT(*) OVER (PARTITION BY l_quantity) AS DECIMAL(38,6)) - 1) / 2
           AS DECIMAL(19,6)) AS rx,
         CAST(CAST(RANK() OVER (ORDER BY l_extendedprice) AS DECIMAL(38,6))
           + (CAST(COUNT(*) OVER (PARTITION BY l_extendedprice) AS DECIMAL(38,6)) - 1) / 2
           AS DECIMAL(19,6)) AS ry
  FROM lineitem
),
mom AS (
  SELECT COUNT(*) AS n,
         CAST(SUM(x) AS DOUBLE) AS sx, CAST(SUM(y) AS DOUBLE) AS sy,
         CAST(SUM(CAST(x * x AS DECIMAL(38,12))) AS DOUBLE) AS sxx,
         CAST(SUM(CAST(y * y AS DECIMAL(38,12))) AS DOUBLE) AS syy,
         CAST(SUM(CAST(x * y AS DECIMAL(38,12))) AS DOUBLE) AS sxy,
         CAST(SUM(rx) AS DOUBLE) AS srx, CAST(SUM(ry) AS DOUBLE) AS sry,
         CAST(SUM(CAST(rx * rx AS DECIMAL(38,12))) AS DOUBLE) AS srxx,
         CAST(SUM(CAST(ry * ry AS DECIMAL(38,12))) AS DOUBLE) AS sryy,
         CAST(SUM(CAST(rx * ry AS DECIMAL(38,12))) AS DOUBLE) AS srxy
  FROM ranked
)
SELECT n,
       ROUND((CAST(n AS DOUBLE) * sxy - sx * sy)
             / (sqrt(CAST(n AS DOUBLE) * sxx - sx * sx)
                * sqrt(CAST(n AS DOUBLE) * syy - sy * sy)), 6) AS pearson_r,
       ROUND((CAST(n AS DOUBLE) * srxy - srx * sry)
             / (sqrt(CAST(n AS DOUBLE) * srxx - srx * srx)
                * sqrt(CAST(n AS DOUBLE) * sryy - sry * sry)), 6) AS spearman_r
FROM mom
"""


def stat_zipf_exponent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf/power-law fit of user activity: rank users by event count, OLS of
    ln(count) on ln(rank) — the heavy-tail diagnostic for per-key skew
    (its slope is the exponent the salting/AQE skew machinery exists for).

    Determinism: rank ties pinned on user_id; ln of identical integer
    inputs is the same double; the OLS moments sum per-term decimal-cast;
    slope/intercept chains round 6 dp."""
    e = load_table(spark, sf_dir, "events").groupBy("user_id").agg(
        F.count("*").alias("cnt")
    )
    w = Window.orderBy(F.col("cnt").desc(), F.col("user_id").asc())
    lg = e.select(
        F.log(F.row_number().over(w).cast("double")).alias("lx"),
        F.log(F.col("cnt").cast("double")).alias("ly"),
    )
    mom = lg.agg(
        F.count("*").alias("n"),
        F.sum(F.col("lx").cast("decimal(38,18)")).cast("double").alias("sx"),
        F.sum((F.col("lx") * F.col("lx")).cast("decimal(38,18)")).cast("double").alias("sxx"),
        F.sum(F.col("ly").cast("decimal(38,18)")).cast("double").alias("sy"),
        F.sum((F.col("lx") * F.col("ly")).cast("decimal(38,18)")).cast("double").alias("sxy"),
    )
    n = F.col("n").cast("double")
    slope = (n * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        n * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    intercept = (F.col("sy") - slope * F.col("sx")) / n
    return mom.select(
        "n",
        F.round(slope, 6).alias("zipf_slope"),
        F.round(intercept, 6).alias("intercept"),
    )


STAT_ZIPF_SQL = """
WITH c AS (SELECT user_id, COUNT(*) AS cnt FROM events GROUP BY user_id),
lg AS (
  SELECT ln(CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, user_id ASC) AS DOUBLE)) AS lx,
         ln(CAST(cnt AS DOUBLE)) AS ly
  FROM c
),
mom AS (
  SELECT COUNT(*) AS n,
         CAST(SUM(CAST(lx AS DECIMAL(38,18))) AS DOUBLE) AS sx,
         CAST(SUM(CAST(lx * lx AS DECIMAL(38,18))) AS DOUBLE) AS sxx,
         CAST(SUM(CAST(ly AS DECIMAL(38,18))) AS DOUBLE) AS sy,
         CAST(SUM(CAST(lx * ly AS DECIMAL(38,18))) AS DOUBLE) AS sxy
  FROM lg
)
SELECT n,
       ROUND((CAST(n AS DOUBLE) * sxy - sx * sy)
             / (CAST(n AS DOUBLE) * sxx - sx * sx), 6) AS zipf_slope,
       ROUND((sy - (CAST(n AS DOUBLE) * sxy - sx * sy)
                     / (CAST(n AS DOUBLE) * sxx - sx * sx) * sx)
             / CAST(n AS DOUBLE), 6) AS intercept
FROM mom
"""


def ts_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streak analytics via gaps-and-islands on condition runs: the longest
    consecutive-day runs of above-median daily totals (and below-median),
    with start/end days — the 'N days above target' readout. Median from
    the audited interpolated-percentile parity; runs from the classic
    rownum-difference island key; all counts exact."""
    e = load_table(spark, sf_dir, "events").select(
        F.to_date("ts").alias("day"), F.col("value").cast("decimal(18,6)").alias("v")
    )
    daily = e.groupBy("day").agg(F.sum("v").cast("double").alias("y"))
    med = daily.agg(F.expr("percentile(y, 0.5)").alias("med"))
    flagged = daily.crossJoin(F.broadcast(med)).select(
        "day", (F.col("y") > F.col("med")).alias("above")
    )
    w = Window.orderBy("day")
    wg = Window.partitionBy("above").orderBy("day")
    runs = flagged.select(
        "day",
        "above",
        (F.row_number().over(w) - F.row_number().over(wg)).alias("island"),
    )
    streaks = runs.groupBy("above", "island").agg(
        F.count("*").alias("streak_len"),
        F.min("day").alias("start_day"),
        F.max("day").alias("end_day"),
    )
    wbest = Window.partitionBy("above").orderBy(
        F.col("streak_len").desc(), F.col("start_day").asc()
    )
    return (
        streaks.withColumn("rn", F.row_number().over(wbest))
        .filter(F.col("rn") == 1)
        .select("above", "streak_len", "start_day", "end_day")
        .orderBy("above")
    )


TS_STREAKS_SQL = """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day,
         CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS y
  FROM events GROUP BY 1
),
med AS (SELECT quantile_cont(y, 0.5) AS med FROM daily),
flagged AS (
  SELECT day, y > med AS above FROM daily CROSS JOIN med
),
runs AS (
  SELECT day, above,
         ROW_NUMBER() OVER (ORDER BY day)
           - ROW_NUMBER() OVER (PARTITION BY above ORDER BY day) AS island
  FROM flagged
),
streaks AS (
  SELECT above, island, COUNT(*) AS streak_len,
         MIN(day) AS start_day, MAX(day) AS end_day
  FROM runs GROUP BY above, island
)
SELECT above, streak_len, start_day, end_day FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY above
            ORDER BY streak_len DESC, start_day ASC) AS rn
  FROM streaks
) WHERE rn = 1 ORDER BY above
"""


def ts_residual_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonality-aware anomaly flags: the days whose DECOMPOSED residual
    (y - trend - seasonal, from `ts_seasonal_decompose`) is a robust
    outlier — |modified z| = |r - median| / (1.4826 * MAD) > 2.5. Detrending
    + deseasonalizing first is what separates real incidents from weekend
    effects; the MAD scale makes the threshold outlier-resistant (the w10
    recipe applied to residuals).

    Residuals round 6 dp BEFORE the percentile so both engines interpolate
    identical inputs; the z chain rounds 6. Calendar-sized throughout."""
    resid = ts_seasonal_decompose(spark, sf_dir).filter(
        F.col("trend").isNotNull()
    )
    med = resid.agg(F.expr("percentile(residual, 0.5)").alias("med"))
    absdev = resid.crossJoin(F.broadcast(med)).select(
        "day", "residual", "med", F.abs(F.col("residual") - F.col("med")).alias("adev")
    )
    mad = absdev.agg(F.expr("percentile(adev, 0.5)").alias("mad"))
    z = (F.col("residual") - F.col("med")) / (F.lit(1.4826) * F.col("mad"))
    return (
        absdev.crossJoin(F.broadcast(mad))
        .select(
            "day",
            F.round("residual", 6).alias("residual"),
            F.round(z, 6).alias("robust_z"),
            (F.abs(z) > 2.5).alias("is_anomaly"),
        )
        .orderBy("day")
    )


TS_RESIDUAL_ANOM_SQL = f"""
WITH decomp AS ({TS_SEASONAL_SQL.replace("ORDER BY day", "")}),
r AS (SELECT day, residual FROM decomp WHERE trend IS NOT NULL),
med AS (SELECT quantile_cont(residual, 0.5) AS med FROM r),
ad AS (
  SELECT day, residual, med, abs(residual - med) AS adev
  FROM r CROSS JOIN med
),
mad AS (SELECT quantile_cont(adev, 0.5) AS mad FROM ad)
SELECT day, ROUND(residual, 6) AS residual,
       ROUND((residual - med) / (1.4826 * mad), 6) AS robust_z,
       abs((residual - med) / (1.4826 * mad)) > 2.5 AS is_anomaly
FROM ad CROSS JOIN mad
ORDER BY day
"""


QUERIES: dict[str, tuple] = {
    "stat_chi2_independence": (stat_chi2_independence, STAT_CHI2_SQL),
    "ts_residual_anomalies": (ts_residual_anomalies, TS_RESIDUAL_ANOM_SQL),
    "ts_streaks": (ts_streaks, TS_STREAKS_SQL),
    "stat_ab_proportion": (stat_ab_proportion, STAT_AB_PROP_SQL),
    "stat_bh_fdr": (stat_bh_fdr, STAT_BH_FDR_SQL),
    "stat_cuped": (stat_cuped, STAT_CUPED_SQL),
    "stat_did": (stat_did, STAT_DID_SQL),
    "stat_srm_check": (stat_srm_check, STAT_SRM_SQL),
    "stat_zipf_exponent": (stat_zipf_exponent, STAT_ZIPF_SQL),
    "stat_ks_test": (stat_ks_test, STAT_KS_SQL),
    "stat_kruskal_wallis": (stat_kruskal_wallis, STAT_KRUSKAL_SQL),
    "stat_correlation": (stat_correlation, STAT_CORRELATION_SQL),
    "stat_anova_oneway": (stat_anova_oneway, STAT_ANOVA_SQL),
    "ts_max_drawdown": (ts_max_drawdown, TS_DRAWDOWN_SQL),
    "ts_cusum_changepoint": (ts_cusum_changepoint, TS_CUSUM_SQL),
    "ts_holt_linear": (ts_holt_linear, TS_HOLT_SQL),
    "ts_holt_winters": (ts_holt_winters, TS_HOLT_WINTERS_SQL),
    "stat_bootstrap_ci": (stat_bootstrap_ci, STAT_BOOTSTRAP_SQL),
    "stat_sprt_ab": (stat_sprt_ab, STAT_SPRT_SQL),
    "ts_seasonal_decompose": (ts_seasonal_decompose, TS_SEASONAL_SQL),
    "ts_sax_motifs": (ts_sax_motifs, TS_SAX_MOTIFS_SQL),
    "stat_mann_whitney": (stat_mann_whitney, STAT_MANN_WHITNEY_SQL),
    "stat_ols_trend": (stat_ols_trend, STAT_OLS_SQL),
    "ts_acf": (ts_acf, TS_ACF_SQL),
}
