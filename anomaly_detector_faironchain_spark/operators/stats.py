"""Single-pass per-partition column statistics + predicate-violation counts.

This is the engine's workhorse: ALL metric-style constraints for a table
(null fractions, min/max, length quantiles, domain/range/regex/row-check
violation counts, approximate distinct counts for uniqueness candidates)
are fused into ONE ``groupBy(partition_col).agg(...)`` so the table is
scanned exactly once per validation run. Catalyst turns this into a
partial+final hash aggregate with whole-stage codegen; at 100 TB the cost
is one pass over the data with map-side combine — no shuffle of raw rows,
only of per-partition partial aggregates.

Generalizes the reference's per-table assertion scripts
(reference: etl/test.py:60-128, tests/test_etl.py:25-65) where each check
re-scanned the pandas frame independently.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from anomaly_detector_faironchain_spark.plans.spec import (
    CardinalityBounds,
    Correlation,
    Freshness,
    InRange,
    InSet,
    LengthInRange,
    NotNull,
    QuantileBounds,
    Regex,
    RowCheck,
    TableSpec,
    Unique,
    VectorShape,
)

# Sentinel partition value when a table has no partition column.
WHOLE_TABLE = "__whole_table__"

_NUMERIC_TYPES = (
    T.ByteType,
    T.ShortType,
    T.IntegerType,
    T.LongType,
    T.FloatType,
    T.DoubleType,
    T.DecimalType,
)

# Quantiles tracked for string-length profiles (north-rule "length
# quantiles via sketches"): percentile_approx is KLL-sketch-backed in
# Spark — mergeable per-partition, constant memory at any scale.
LENGTH_QUANTILES = (0.5, 0.95, 0.99)
# sketch accuracy: 1/200 relative-rank error is ample for length
# profiling (the quantiles feed drift thresholds, not billing) and the
# sketch update/merge cost — the fused pass's GC hot spot — drops
# superlinearly with accuracy (measured ~2.5x pass speedup vs 10000)
PCTL_ACCURACY = 200


def violation_predicate(c, df_cols: list[str]) -> Column | None:
    """Boolean Column that is true where a row VIOLATES constraint c.

    Null handling mirrors the reference suites: format/domain/range checks
    skip nulls (nullness is NotNull's job); NotNull and RowCheck count
    nulls as violations.
    """
    if isinstance(c, NotNull):
        pred = F.lit(False)
        for col in c.cols:
            pred = pred | F.col(col).isNull()
        return pred
    if isinstance(c, Regex):
        col = F.col(c.col)
        return col.isNotNull() & ~col.rlike(f"^(?:{c.pattern})$")
    if isinstance(c, InRange):
        col = F.col(c.col)
        return col.isNotNull() & ~col.between(F.lit(c.lo), F.lit(c.hi))
    if isinstance(c, InSet):
        col = F.col(c.col)
        return col.isNotNull() & ~col.isin(list(c.values))
    if isinstance(c, LengthInRange):
        col = F.col(c.col)
        return col.isNotNull() & ~F.length(col).between(F.lit(c.lo), F.lit(c.hi))
    if isinstance(c, RowCheck):
        # violation = predicate is false OR null (null-hostile, like an
        # assertion): coalesce(expr, false) == false
        return ~F.coalesce(F.expr(c.sql_expr), F.lit(False))
    if isinstance(c, VectorShape):
        col = F.col(c.col)
        bad_elem = F.exists(
            col,
            lambda x: x.isNull()
            | F.isnan(x.cast("double"))
            | (F.abs(x.cast("double")) == F.lit(float("inf"))),
        )
        norm = F.sqrt(
            F.aggregate(
                col, F.lit(0.0),
                lambda acc, x: acc + x.cast("double") * x.cast("double"),
            )
        )
        # a NaN/Inf norm makes the between-clause null/true, but bad_elem
        # already fires for those rows, so the OR stays deterministic
        bad = (
            (F.size(col) != F.lit(c.dim))
            | bad_elem
            | ~norm.between(F.lit(float(c.norm_lo)), F.lit(float(c.norm_hi)))
        )
        return col.isNotNull() & bad
    return None


def partition_expr(spec: TableSpec) -> Column:
    if spec.partition_col:
        return F.coalesce(
            F.col(spec.partition_col).cast("string"), F.lit("__null__")
        )
    return F.lit(WHOLE_TABLE)


def profile_aggs(
    df: DataFrame,
    spec: TableSpec,
    include_violation_counts: bool = True,
    lengths: dict[str, str] | None = None,
) -> list[Column]:
    """The fused aggregate list for one table.

    include_violation_counts=False drops the per-constraint violation
    counters — used when the row-materialization pass runs anyway (the
    counts then come from the materialized violation set, so expensive
    predicates like sha2 are evaluated exactly once per row).
    lengths: {column: name of a column already holding its length} (see
    profile_table); any other length is computed in place.
    """
    lengths = lengths or {}

    def length(col: str) -> Column:
        return F.col(lengths[col]) if col in lengths else F.length(F.col(col))

    aggs: list[Column] = [F.count(F.lit(1)).alias("n_rows")]

    # Per-column profile: null count; numeric min/max/mean; string length
    # quantiles. Column pruning: only profile columns a constraint or the
    # caller cares about — here every df column (callers may pre-select).
    dtypes = dict((f.name, f.dataType) for f in df.schema.fields)
    for col, dt in dtypes.items():
        aggs.append(
            F.sum(F.col(col).isNull().cast("long")).alias(f"null_count__{col}")
        )
        if isinstance(dt, _NUMERIC_TYPES):
            aggs.append(F.min(col).cast("double").alias(f"min__{col}"))
            aggs.append(F.max(col).cast("double").alias(f"max__{col}"))
            aggs.append(F.avg(col).alias(f"mean__{col}"))
        elif isinstance(dt, T.StringType):
            if spec.profile_len_cols is None or col in spec.profile_len_cols:
                aggs.append(
                    F.percentile_approx(
                        length(col), list(LENGTH_QUANTILES), PCTL_ACCURACY
                    ).alias(f"len_q__{col}")
                )
                aggs.append(F.max(length(col)).alias(f"len_max__{col}"))

    # One violation-count aggregate per metric constraint.
    if include_violation_counts:
        for c in spec.constraints:
            pred = violation_predicate(c, df.columns)
            if pred is not None:
                aggs.append(
                    F.sum(pred.cast("long")).alias(f"violations__{c.check_id()}")
                )

    # Approximate distinct counts for uniqueness candidates (phase 1 of
    # the two-phase exact-fallback check, see operators/uniqueness.py).
    # Only approx_screen mode needs the HLL sketch — in exact mode the
    # full duplicate pass runs anyway, so the sketch would be wasted CPU.
    for u in spec.by_type(Unique):
        if u.mode == "approx_screen":
            key = (
                F.col(u.cols[0])
                if len(u.cols) == 1
                else F.concat_ws("\x1f", *[F.col(c) for c in u.cols])
            )
            aggs.append(
                F.approx_count_distinct(key, u.rsd).alias(
                    f"approx_distinct__{u.check_id()}"
                )
            )
        null_pred = F.lit(False)
        for col in u.cols:
            null_pred = null_pred | F.col(col).isNull()
        aggs.append(
            F.sum(null_pred.cast("long")).alias(f"key_nulls__{u.check_id()}")
        )

    # Freshness: one max() per constraint, cast to double (timestamps →
    # epoch seconds) so the verdict builder compares against as_of
    # uniformly. Zero extra scans.
    for fr in spec.by_type(Freshness):
        aggs.append(
            F.max(F.col(fr.col)).cast("double").alias(
                f"freshness_max__{fr.check_id()}"
            )
        )

    # Correlation: built from covar_samp / stddev_samp co-moment
    # aggregates (each algebraic — map-side combines like a sum), joined
    # by try_divide, NOT from F.corr. Two measured reasons:
    # (1) under ANSI mode (this build's default) F.corr on an exactly
    #     zero-variance group ABORTS the job with DIVIDE_BY_ZERO;
    # (2) with ANSI off it returns partitioning-dependent garbage on
    #     constant columns (corr(x, const) = -0.31 or +0.61 depending on
    #     the plan) — cancellation residue divided by ~0.
    # try_divide yields NULL exactly when the denominator is zero, and
    # the verdict builder ALSO guards undefinedness exactly via paired
    # min==max (min/max carry no FP error) over the both-non-null
    # subset, so tiny nonzero cancellation residue in stddev cannot
    # smuggle a garbage metric through.
    for co in spec.by_type(Correlation):
        a = F.col(co.col_a).cast("double")
        b = F.col(co.col_b).cast("double")
        # covar_samp pairs internally; stddevs must see the SAME subset
        pair = a.isNotNull() & b.isNotNull()
        pa, pb = F.when(pair, a), F.when(pair, b)
        cid = co.check_id()
        ratio = F.try_divide(
            F.covar_samp(a, b), F.stddev_samp(pa) * F.stddev_samp(pb)
        )
        aggs.extend(
            [
                # clamp FP overshoot (measured: 1.0000000000000002 on a
                # perfectly linear pair) — Pearson is in [-1, 1] exactly
                F.greatest(F.lit(-1.0), F.least(F.lit(1.0), ratio))
                .alias(f"corr__{cid}"),
                F.count(F.when(pair, 1)).alias(f"corr_n__{cid}"),
                F.min(pa).alias(f"corr_amin__{cid}"),
                F.max(pa).alias(f"corr_amax__{cid}"),
                F.min(pb).alias(f"corr_bmin__{cid}"),
                F.max(pb).alias(f"corr_bmax__{cid}"),
            ]
        )

    # QuantileBounds: one KLL-backed percentile_approx per constraint
    # rides the fused pass (map-side partial sketches; exact — order
    # statistic at rank ceil(q·n) — while the partition holds
    # ≤ accuracy values; measured convention, see spec docstring).
    for qb in spec.by_type(QuantileBounds):
        v = length(qb.col) if qb.length else F.col(qb.col)
        aggs.append(
            F.percentile_approx(
                v.cast("double"), F.lit(float(qb.q)), F.lit(int(qb.accuracy))
            ).alias(quantile_metric_col(qb))
        )

    # CardinalityBounds approx mode: HLL estimate rides the fused pass
    # (exact mode runs its own two-level agg in the compiler instead).
    for cb in spec.by_type(CardinalityBounds):
        if cb.mode == "approx":
            aggs.append(
                F.approx_count_distinct(F.col(cb.col), cb.rsd).alias(
                    f"approx_distinct__{cb.check_id()}"
                )
            )
    return aggs


def quantile_metric_col(qb) -> str:
    """Profile-column alias for a QuantileBounds metric. check_id holds
    dots and parens (human-facing verdict value); column NAMES must stay
    free of them — dots break F.col resolution downstream and parquet
    rejects "(),=" in field names when the profile is checkpointed."""
    import re as _re

    return "quantile__" + _re.sub(r"[^A-Za-z0-9_]+", "_", qb.check_id())


def profile_table(
    df: DataFrame, spec: TableSpec, include_violation_counts: bool = True
) -> DataFrame:
    """ONE scan → one row per partition with every fused metric.

    Every length the profile reads (length quantiles and maximum of each
    profiled string column, QuantileBounds(length=True)) is projected
    once below the aggregate. percentile_approx runs in an
    ObjectHashAggregate without codegen, so a length written inside
    each aggregate would be computed once per aggregate per row."""
    len_cols = [
        f.name
        for f in df.schema.fields
        if isinstance(f.dataType, T.StringType)
        and (spec.profile_len_cols is None or f.name in spec.profile_len_cols)
    ]
    len_cols += [
        qb.col for qb in spec.by_type(QuantileBounds)
        if qb.length and qb.col not in len_cols
    ]
    # Spark resolves names case-insensitively: keep clear of every user
    # column under any casing
    taken = {c.lower() for c in df.columns}
    lengths: dict[str, str] = {}
    for col in len_cols:
        name = f"__len__{col}"
        while name.lower() in taken:
            name = "_" + name
        taken.add(name.lower())
        lengths[col] = name
    src = df.select(
        "*", *[F.length(F.col(c)).alias(n) for c, n in lengths.items()]
    )
    return src.groupBy(partition_expr(spec).alias("partition_id")).agg(
        *profile_aggs(df, spec, include_violation_counts, lengths)
    )


def kll_partition_sketches(
    df: DataFrame,
    value_col,
    partition_col: str,
    k: int = 8192,
) -> DataFrame:
    """Per-partition MERGEABLE KLL quantile sketches of a numeric column
    — the resumable / incremental form of the length-quantile profile
    (north-rule: "length quantiles via KLL/t-digest sketches").

    ``percentile_approx`` inside the fused profile pass yields NUMBERS
    per partition; numbers from two runs cannot be combined (quantiles
    don't add). This returns the Datasketches KLL BINARY itself
    (``kll_sketch_agg_bigint``), so corpus-level quantiles are the
    ``kll_merge_agg_bigint`` of every partition's sketch — including
    sketches persisted by EARLIER runs. At 10^12 rows that means:
    sketch only new partitions, merge ~KB-sized sketches for the global
    length distribution, never rescan completed data. See
    plans/checkpoint.write_value_sketches / corpus_value_quantiles.

    ``value_col`` may be a name or a Column (e.g. ``F.length("text")``);
    it is cast to long — KLL sketches one primitive type, and the
    engine's use case is length/size/count profiling. k=8192 → ~0.4%
    normalized rank error, ~20 KB per sketch; while a partition holds
    ≤ k values the sketch is in exact mode (no compaction, no
    randomness), which the small-scale oracle relies on.

    Returns (partition_id, n_rows, sketch binary).

    Generalizes the reference's per-table length assertions
    (reference: etl/test.py:60-128) into a mergeable distribution
    profile.
    """
    v = F.col(value_col) if isinstance(value_col, str) else value_col
    return df.groupBy(
        F.col(partition_col).cast("string").alias("partition_id")
    ).agg(
        F.count(v).cast("long").alias("n_rows"),
        F.kll_sketch_agg_bigint(v.cast("long"), F.lit(k)).alias("sketch"),
    )


def kll_quantiles(
    sk_df: DataFrame,
    quantiles: tuple = LENGTH_QUANTILES,
    merged: bool = False,
    k: int = 8192,
) -> DataFrame:
    """Quantile estimates from KLL sketch rows.

    merged=False → one output row per sketch row (per-partition
    quantiles). merged=True → ONE corpus-level row from
    ``kll_merge_agg_bigint`` over every input sketch; merging reads the
    ~KB sketch column only, never the data it summarizes.

    Quantile semantics are Datasketches INCLUSIVE rank: quantile(q) is
    the smallest value v with #(items <= v) >= q·n — i.e. the order
    statistic at 1-based rank ceil(q·n), which is how the DuckDB oracle
    states it.
    """
    if merged:
        sk_df = sk_df.agg(
            F.sum("n_rows").cast("long").alias("n_rows"),
            F.count(F.lit(1)).cast("long").alias("n_sketches"),
            F.kll_merge_agg_bigint("sketch", F.lit(k)).alias("sketch"),
        )
    qcols = [
        F.kll_sketch_get_quantile_bigint("sketch", F.lit(float(q)))
        .alias(f"p{str(q)[2:].ljust(2, '0')}")
        for q in quantiles
    ]
    return sk_df.select(
        *[c for c in sk_df.columns if c != "sketch"], *qcols
    )


def key_skew_profile(
    df: DataFrame, key_col: str, top_n: int = 20
) -> DataFrame:
    """Pre-join skew diagnostic for a prospective join/groupBy key:
    the top_n heaviest keys with count, frequency share, and the
    multiple of a perfectly uniform key's share
    (skew_x = share × n_distinct — 1.0 means flat, 10³ means that key
    alone is a thousand uniform keys' worth of shuffle).

    Run this BEFORE a big join to decide broadcast vs salt vs AQE: the
    decision needs only the head of the frequency distribution, which is
    exactly what this computes — one map-side-combined count aggregation,
    a 1-row total/distinct aggregate broadcast back, and a
    TakeOrderedAndProject head; the full key distribution is never
    sorted or collected.
    """
    from pyspark.sql import functions as F

    counts = df.groupBy(F.col(key_col).alias("key")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    totals = counts.agg(
        F.sum("cnt").cast("double").alias("__total__"),
        F.count(F.lit(1)).cast("double").alias("__distinct__"),
    )
    return (
        counts.crossJoin(F.broadcast(totals))
        .select(
            "key",
            F.col("cnt").cast("long").alias("cnt"),
            F.round(F.col("cnt") / F.col("__total__"), 6).alias("share"),
            F.round(
                F.col("cnt") * F.col("__distinct__") / F.col("__total__"), 4
            ).alias("skew_x"),
        )
        .orderBy(F.col("cnt").desc(), F.col("key").asc())
        .limit(top_n)
    )
