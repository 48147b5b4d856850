"""Scoring kernels: quantile thresholds, robust z / MAD, the distributed
average rank under Hazen percentiles and top-percent labels, and the
boolean rule engine.

Re-expresses the reference's detector math as column expressions:
  * quantile thresholds          — analysis/detectors/rule_based_anomaly_detection.py:4-27
  * rule flags + descriptions    — rule_based_anomaly_detection.py:30-259 (H1-H6 pattern)
  * z-score preprocessing        — statistical_anomaly_detection.py:18-57
  * Hazen average-rank percentile— analysis/scoring/scoring.py:4-21,52-79
  * top-percent rank             — scoring.py:100-104
plus the north-rule generalization: robust z via median/MAD instead of
mean/std, so a single mega-partition can't drag the threshold. The rule
score and final mean (scoring.py:24-98) are EP2's analysis/pipeline.score.
"""

from __future__ import annotations

import itertools
from collections.abc import Sequence
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F


def quantile_thresholds(
    df: DataFrame, cols: list[str], q: float = 0.99, exclude_zeros: bool = True
) -> dict[str, float]:
    """One-pass exact quantile thresholds (reference excludes zeros for
    heavy-tailed columns: rule_based_anomaly_detection.py:10-20).

    Exact `percentile` matches pandas/DuckDB linear interpolation; swap to
    percentile_approx (KLL sketch) for the 100 TB path — callers choose
    via `approx=True` in threshold_exprs().
    """
    aggs = []
    for c in cols:
        src = f"`{c}`"
        flt = f" FILTER (WHERE {src} > 0)" if exclude_zeros else ""
        aggs.append(F.expr(f"percentile({src}, {q}){flt}").alias(c))
    row = df.agg(*aggs).collect()[0]
    return {c: (row[c] if row[c] is not None else 0.0) for c in cols}


def zscore_cols(df: DataFrame, cols: list[str], suffix: str = "_z") -> DataFrame:
    """Z-score columns with ZERO driver actions: the 1-row moment
    aggregate is broadcast-cross-joined into the plan instead of being
    collected and re-injected as literals. Same job count as the data
    scan itself — the stats stage and the scoring stage overlap inside
    one Spark job, no driver round-trip between them."""
    aggs = []
    for c in cols:
        aggs.append(F.avg(c).alias(f"__m__{c}"))
        aggs.append(F.stddev_samp(c).alias(f"__s__{c}"))
    stats = df.agg(*aggs)
    out = df.crossJoin(F.broadcast(stats))
    for c in cols:
        sd = F.when(
            F.col(f"__s__{c}").isNull() | (F.col(f"__s__{c}") == 0), F.lit(1.0)
        ).otherwise(F.col(f"__s__{c}"))
        out = out.withColumn(
            f"{c}{suffix}",
            (F.col(c) - F.coalesce(F.col(f"__m__{c}"), F.lit(0.0))) / sd,
        )
    return out.drop(*[f"__m__{c}" for c in cols], *[f"__s__{c}" for c in cols])


def robust_z_cols(df: DataFrame, cols: list[str], suffix: str = "_rz") -> DataFrame:
    """Median/MAD robust z with ZERO driver actions: median aggregate →
    broadcast; MAD aggregate over the residuals → broadcast; scoring pass.
    Three scans chained in ONE job, with no collect() round-trip between
    the median and the MAD."""
    med = df.agg(
        *[F.expr(f"percentile(`{c}`, 0.5)").alias(f"__med__{c}") for c in cols]
    )
    with_med = df.crossJoin(F.broadcast(med))
    mad = with_med.agg(
        *[
            F.expr(f"percentile(abs(`{c}` - `__med__{c}`), 0.5)").alias(f"__mad__{c}")
            for c in cols
        ]
    )
    out = with_med.crossJoin(F.broadcast(mad))
    for c in cols:
        mad_c = F.when(
            F.col(f"__mad__{c}").isNull() | (F.col(f"__mad__{c}") <= 0), F.lit(1.0)
        ).otherwise(F.col(f"__mad__{c}"))
        out = out.withColumn(
            f"{c}{suffix}",
            F.lit(0.6745) * (F.col(c) - F.col(f"__med__{c}")) / mad_c,
        )
    return out.drop(
        *[f"__med__{c}" for c in cols], *[f"__mad__{c}" for c in cols]
    )


def shuffle_partitions(spark: SparkSession) -> int:
    """spark.sql.shuffle.partitions as a count: the number of rank buckets.
    Falls back to Spark's default of 200 when the conf is not a number
    (e.g. "auto")."""
    try:
        return max(int(spark.conf.get("spark.sql.shuffle.partitions", "200")), 1)
    except (TypeError, ValueError):
        return 200


def _boundary_aggs(cols: list[str], p: int) -> list[Column]:
    qs = F.array(*[F.lit(i / p) for i in range(1, p)])
    return [F.percentile_approx(c, qs, F.lit(10_000)).alias(f"__b_{i}__")
            for i, c in enumerate(cols)]


def _bounds_of(row, cols: list[str]) -> dict[str, list[float]]:
    return {
        c: sorted({float(b) for b in (row[f"__b_{i}__"] or []) if b is not None})
        for i, c in enumerate(cols)
    }


def rank_boundaries(df: DataFrame, cols: list[str]) -> dict[str, list[float]]:
    """Bucket boundaries for distributed_avg_rank over SEVERAL columns in
    ONE collected percentile_approx pass (p−1 quantiles per column, p =
    shuffle partitions). percentile_approx ignores NULLs. Boundaries only
    balance the buckets; the ranks are exact for any boundaries."""
    p = shuffle_partitions(df.sparkSession)
    if p <= 1 or not cols:
        return {c: [] for c in cols}
    return _bounds_of(df.agg(*_boundary_aggs(cols, p)).collect()[0], cols)


def checkpoint_with_boundaries(
    df: DataFrame, cols: list[str]
) -> tuple[DataFrame, dict[str, list[float]]]:
    """`df.localCheckpoint(eager=True)` that also returns rank_boundaries
    for `cols`, gathered by an Observation on the checkpoint job itself —
    zero extra jobs. Observed metrics may double-count a retried task;
    that only shifts boundaries, which cannot change a rank."""
    p = shuffle_partitions(df.sparkSession)
    if p <= 1 or not cols:
        return df.localCheckpoint(eager=True), {c: [] for c in cols}
    obs = Observation()
    pinned = df.observe(obs, *_boundary_aggs(cols, p)).localCheckpoint(eager=True)
    return pinned, _bounds_of(obs.get, cols)


def _bucket(col: str, bounds: Sequence[float]) -> Column:
    """Bucket id of each value: how many boundaries lie below it; NULL for
    a NULL value. A pure function of the value and the literal boundaries,
    so ties never split across buckets and the count job and the rank
    plan compute the same id. A plain sum of comparisons, not a higher-order filter-lambda:
    Catalyst 4.1 miscompiles the captured column reference once that
    expression is inlined across an aggregate boundary."""
    c = F.col(col)
    return sum(((F.lit(b) < c).cast("int") for b in bounds),
               F.when(c.isNotNull(), F.lit(0)))


@dataclass(frozen=True)
class RankLayout:
    """Exact bucket geometry of one ranked column: its boundaries, the
    number of non-NULL rows in all lower buckets (one per bucket) and the
    non-NULL row count n."""

    bounds: tuple[float, ...]
    offsets: tuple[int, ...]
    n: int


def rank_layouts(
    df: DataFrame, bounds: dict[str, list[float]]
) -> dict[str, RankLayout]:
    """RankLayouts for every column of `bounds` from ONE collected
    groupBy(column index, bucket id).count(). Counts come from a collected
    aggregate, never from an accumulator or an observed metric, because a
    retried task may add to those twice."""
    cols = list(bounds)
    if not cols:
        return {}
    keyed = df.select(F.inline(F.array(*[
        F.struct(F.lit(i).alias("k"), _bucket(c, bounds[c]).alias("pid"))
        for i, c in enumerate(cols)
    ])))
    counts = {
        (r["k"], r["pid"]): r["count"]
        for r in keyed.filter(F.col("pid").isNotNull())
        .groupBy("k", "pid").count().collect()
    }
    out = {}
    for i, c in enumerate(cols):
        per = [counts.get((i, b), 0) for b in range(len(bounds[c]) + 1)]
        cum = list(itertools.accumulate(per, initial=0))
        out[c] = RankLayout(tuple(bounds[c]), tuple(cum[:-1]), cum[-1])
    return out


def distributed_avg_rank(
    df: DataFrame, col: str, ascending: bool = True,
    out_col: str = "__avg_rank__", n_col: str = "__n__",
    layout: RankLayout | None = None,
) -> DataFrame:
    """Fully distributed pandas-style average rank (ties share the mean of
    their competition ranks) — the kernel under Hazen percentiles and
    top-percent labels, safe for CONTINUOUS scores at any scale.

    Plan shape: ONE hash exchange on the bucket id `__pid__` and one sort,
    parallel across buckets, and no driver round-trip. Everything else
    enters the plan as literals from a RankLayout:
      1. the bucket id is a pure function of the value and the literal
         boundary array (_bucket), so ties never split across buckets and
         every branch computes the identical id (spark_partition_id after
         repartitionByRange is NOT branch-stable once AQE coalesces two
         shuffle reads differently — measured 85% silent row loss at
         2M-edge scale);
      2. per-bucket rank + tie counts via a Window partitioned by the
         bucket id; both window specs share the exchange, since hash(pid)
         satisfies ClusteredDistribution(pid, col);
      3. the bucket's global offset is `element_at(literal offsets,
         pid + 1)` and n is a literal, both from the layout's exact
         counts.
    Without a `layout` the call collects one itself: one boundary job
    (rank_boundaries) and one count job (rank_layouts). Callers ranking
    several columns of one frame share both (hazen_percentile_agg_multi).
    Descending ranks are n + 1 − r_asc (exact for average-rank ties), so
    one ascending kernel serves both directions.

    NULL scores follow pandas rank(method='average') semantics: they get
    a NULL rank and NULL n and are excluded from n. They share the NULL
    bucket's window partition, whose ranks are masked out.
    """
    if layout is None:
        layout = rank_layouts(df, rank_boundaries(df, [col]))[col]
    pid = F.col("__pid__")
    w_rank = Window.partitionBy(pid).orderBy(F.col(col).asc())
    w_ties = Window.partitionBy(pid, col)
    local = F.rank().over(w_rank) + (F.count(F.lit(1)).over(w_ties) - 1) / 2.0
    offset = F.element_at(
        F.array(*[F.lit(o) for o in layout.offsets]).cast("array<bigint>"),
        pid + 1,
    )
    n = F.lit(float(layout.n))
    avg_rank = offset + local
    rank = avg_rank if ascending else n + 1 - avg_rank
    valid = F.col(col).isNotNull()
    return (
        df.withColumn("__pid__", _bucket(col, layout.bounds))
        .withColumn(n_col, F.when(valid, n))
        .withColumn(out_col, F.when(valid, rank))
        .drop("__pid__")
    )


def hazen_percentile_agg(
    df: DataFrame, col: str, out_col: str, ascending: bool = True
) -> DataFrame:
    """Distributed Hazen percentile: (avg_rank − 0.5) / n × 100 on the
    literal-offset rank kernel — scales to continuous scores where the
    distinct-value table IS the table."""
    return hazen_percentile_agg_multi(df, [(col, out_col)], ascending)


def hazen_percentile_agg_multi(
    df: DataFrame, specs: list[tuple[str, str]], ascending: bool = True,
    bounds: dict[str, list[float]] | None = None,
) -> DataFrame:
    """Hazen percentiles for several independent columns: `specs` is
    [(col, out_col), ...]. One boundary job (skipped when the caller
    passes `bounds`, e.g. from checkpoint_with_boundaries) and one count
    job serve every column; each rank is then one lazy hash exchange."""
    cols = [c for c, _ in specs]
    layouts = rank_layouts(
        df, bounds if bounds is not None else rank_boundaries(df, cols))
    out = df
    for col, out_col in specs:
        out = distributed_avg_rank(out, col, ascending, layout=layouts[col])
        out = out.withColumn(
            out_col,
            ((F.col("__avg_rank__") - 0.5) / F.col("__n__") * 100.0)
            .cast("float"),
        ).drop("__avg_rank__", "__n__")
    return out


@dataclass(frozen=True)
class Rule:
    """flag column + human description, the reference's H1-H6 shape."""

    name: str
    condition: Column
    description: str


def apply_rules(df: DataFrame, rules: list[Rule]) -> DataFrame:
    """Adds {name}_flag (0/1 int) and {name}_description per rule —
    vectorized `when()` replaces the reference's per-row `.apply` of
    description lambdas (rule_based_anomaly_detection.py:60-64)."""
    for r in rules:
        flag = F.when(r.condition, 1).otherwise(0)
        df = df.withColumn(f"{r.name}_flag", flag.cast("int")).withColumn(
            f"{r.name}_description",
            F.when(F.col(f"{r.name}_flag") == 1, F.lit(r.description)).otherwise(
                F.lit("")
            ),
        )
    return df


def top_percent_rank(
    df: DataFrame, score_col: str, out_col: str = "top_percent_pct",
    bounds: list[float] | None = None,
) -> DataFrame:
    """Descending average-rank / n × 100, rounded to 2dp (reference
    scoring.py:100-104) — distributed via the same literal-offset rank
    kernel, no global single-reducer sort. A score with known range can
    pass literal `bounds` and skip the boundary job."""
    if bounds is None:
        bounds = rank_boundaries(df, [score_col])[score_col]
    layout = rank_layouts(df, {score_col: bounds})[score_col]
    ranked = distributed_avg_rank(df, score_col, ascending=False, layout=layout)
    return ranked.withColumn(
        out_col, F.round(F.col("__avg_rank__") / F.col("__n__") * 100.0, 2)
    ).drop("__avg_rank__", "__n__")


def top_percent_label(
    df: DataFrame, score_col: str, out_col: str = "top_percent"
) -> DataFrame:
    """top_percent_rank formatted as the reference's '%.2f%%' string."""
    ranked = top_percent_rank(df, score_col, "__pct__")
    return ranked.withColumn(
        out_col, F.format_string("%.2f%%", F.col("__pct__"))
    ).drop("__pct__")
