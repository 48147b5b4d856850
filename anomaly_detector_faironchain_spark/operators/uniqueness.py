"""Two-phase uniqueness: approx_count_distinct screen + exact fallback.

Phase 1 (inside the fused stats pass, operators/stats.py): per partition,
``approx_count_distinct(key, rsd)`` vs exact row count. A partition is a
*suspect* if the approximate distinct count falls short of the non-null
row count by more than the sketch's error margin — or trivially if the
key has nulls.

Phase 2 (this module): ONLY suspect partitions are re-scanned with an
exact ``groupBy(key).count()`` and duplicate rows are materialized as
violations. At 10^12 rows the overwhelmingly common clean partition costs
one HLL sketch (constant memory, mergeable, map-side combined); the exact
shuffle is paid only where a duplicate plausibly exists.

Generalizes the reference's pandas ``is_unique`` assertions
(reference: etl/test.py:64-67, tests/test_etl.py:29-32).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from anomaly_detector_faironchain_spark.operators.stats import partition_expr
from anomaly_detector_faironchain_spark.plans.spec import TableSpec, Unique


def hll_partition_sketches(
    df: DataFrame,
    key_cols: list[str],
    partition_col: str,
    lg_k: int = 12,
) -> DataFrame:
    """Per-partition MERGEABLE HLL sketches of the key — the resumable /
    incremental form of the uniqueness screen.

    ``approx_count_distinct`` yields a NUMBER per partition; numbers from
    two runs cannot be combined (distinct counts don't add). This
    returns the Datasketches HLL BINARY itself
    (``hll_sketch_agg``), so corpus-level uniqueness is the
    ``hll_union_agg`` of every partition's sketch — including sketches
    persisted by EARLIER runs. At 10^12 rows that means: validate only
    new partitions, merge ~bytes-per-partition sketches for the global
    answer, never rescan completed data. See
    plans/checkpoint.write_key_sketches / corpus_distinct_estimate.

    Sketches are built over ``xxhash64(key)`` so multi-column keys cost
    one 64-bit value per row, map-side combined; lg_k=12 → ~2.5% rsd,
    2 KB per sketch.

    Returns (partition_id, n_rows, n_nonnull, sketch binary, estimate).
    """
    key = [F.col(c) for c in key_cols]
    any_null = key[0].isNull()
    for k in key[1:]:
        any_null = any_null | k.isNull()
    nonnull = F.count(F.when(~any_null, 1))
    sk = F.hll_sketch_agg(F.xxhash64(*key), F.lit(lg_k))
    return (
        df.groupBy(F.col(partition_col).cast("string").alias("partition_id"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            nonnull.alias("n_nonnull"),
            sk.alias("key_sketch"),
        )
        .withColumn(
            "distinct_estimate", F.hll_sketch_estimate("key_sketch")
        )
    )


def merge_sketches(sketches: DataFrame) -> DataFrame:
    """Corpus-level distinct estimate from per-partition sketches
    (possibly spanning several runs): one row
    (n_rows, n_partitions, distinct_estimate). Bytes shuffled =
    #partitions × 2 KB, independent of corpus size."""
    return sketches.agg(
        F.sum("n_rows").alias("n_rows"),
        F.count(F.lit(1)).alias("n_partitions"),
        F.hll_sketch_estimate(
            F.hll_union_agg("key_sketch", True)
        ).alias("distinct_estimate"),
    )


def suspect_partitions(profile: DataFrame, u: Unique) -> DataFrame:
    """Filter the (small) profile table to partitions needing exact check.

    profile: output of stats.profile_table. Returns partition_id rows.
    """
    cid = u.check_id()
    approx = F.col(f"approx_distinct__{cid}")
    nulls = F.col(f"key_nulls__{cid}")
    nonnull = F.col("n_rows") - nulls
    margin = F.lit(u.rsd_margin * u.rsd) * nonnull
    return profile.filter((nulls > 0) | (approx < nonnull - margin)).select(
        "partition_id"
    )


def exact_duplicates(
    df: DataFrame,
    spec: TableSpec,
    u: Unique,
    suspect_ids: list[str] | None = None,
) -> DataFrame:
    """Exact duplicate-key groups, optionally restricted to suspect
    partitions (partition pruning happens at the scan when the partition
    column is a physical partition/bucket column).

    Hash-compacted two-step: the wide groupBy shuffles only a 64-bit
    xxhash of the key (map-side combined), not the key strings — at
    10^12 rows that is ~10x fewer shuffle bytes for 100-char SIDs. Keys
    whose HASH duplicates (true dups + rare hash collisions) are then
    re-grouped on the REAL key over only those candidate rows, so the
    result is exact: a 64-bit collision can only cost a few extra rows in
    the verification join, never a wrong verdict.

    Returns one row per duplicated key: (partition_id, <key cols>, dup_count).
    """
    part = partition_expr(spec).alias("partition_id")
    scoped = df
    if suspect_ids is not None:
        if not suspect_ids:
            # no suspects → empty result without scanning
            scoped = df.limit(0)
        elif spec.partition_col:
            scoped = df.filter(
                F.coalesce(F.col(spec.partition_col).cast("string"), F.lit("__null__")).isin(
                    suspect_ids
                )
            )
    key_cols = [F.col(c) for c in u.cols]
    h = F.xxhash64(*key_cols)
    hashed = scoped.select(part, h.alias("__h__"), *key_cols)
    hot = (
        hashed.groupBy("partition_id", "__h__")
        .agg(F.count(F.lit(1)).alias("__hc__"))
        .filter(F.col("__hc__") > 1)
        .select("partition_id", "__h__")
    )
    candidates = hashed.join(hot, ["partition_id", "__h__"], "left_semi")
    return (
        candidates.groupBy("partition_id", *u.cols)
        .agg(F.count(F.lit(1)).alias("dup_count"))
        .filter(F.col("dup_count") > 1)
    )


def check_unique(
    df: DataFrame, spec: TableSpec, u: Unique, profile: DataFrame
) -> DataFrame:
    """Phase 2 of the two-phase check: the duplicate-key groups of
    ``exact_duplicates``. mode='exact' → the duplicate pass covers every
    partition (``profile`` is not read); mode='approx_screen' → only the
    HLL suspects of the profile (``suspect_partitions`` is tiny — one row
    per partition — so collecting it is driver-cheap).

    The verdict adds the profile's ``key_nulls__<check_id>`` to each
    partition's duplicate rows (``dup_count - 1`` per group); the
    compiler's count table does that sum.
    """
    suspects = None
    if u.mode != "exact":
        suspects = [r.partition_id for r in suspect_partitions(profile, u).collect()]
    return exact_duplicates(df, spec, u, suspects)


def functional_dependency_groups(
    df: DataFrame, spec: TableSpec, fd
) -> DataFrame:
    """ONE full scan supporting every downstream FD artifact: candidate
    (determinant…, partition_id, dependent-value) groups with row counts,
    restricted to keys whose 64-bit key-hash maps to more than one
    64-bit value-hash.

    Hash-compacted like ``exact_duplicates``: the wide screen shuffles
    two xxhash64 values per row (map-side combined), not the key/value
    strings; only keys whose HASH is multi-valued (true violations +
    rare collisions) have their real columns re-grouped, so verdicts
    built on this frame are exact — a collision can only add a few rows
    to the verification shuffle, never a wrong verdict. Clean data
    dominates at 10^12 rows, so the candidate set (and this output,
    one row per (violating key, partition, value)) stays tiny.

    Rows with a null determinant column are skipped; null dependent
    values are ignored (see FunctionalDependency docstring).
    """
    part = partition_expr(spec).alias("partition_id")
    det = [F.col(c) for c in fd.determinant]
    nn = df
    for c in fd.determinant:
        nn = nn.filter(F.col(c).isNotNull())
    nn = nn.filter(F.col(fd.dependent).isNotNull())
    hashed = nn.select(
        part,
        F.xxhash64(*det).alias("__hk__"),
        F.xxhash64(F.col(fd.dependent)).alias("__hv__"),
        *det,
        F.col(fd.dependent),
    )
    hot = (
        hashed.groupBy("__hk__")
        .agg(F.count_distinct("__hv__").alias("__nv__"))
        .filter(F.col("__nv__") > 1)
        .select("__hk__")
    )
    cand = hashed.join(hot, "__hk__", "left_semi")
    return cand.groupBy(*fd.determinant, "partition_id", fd.dependent).agg(
        F.count(F.lit(1)).alias("n_rows")
    )


def distinct_count_per_partition(
    df: DataFrame, spec: TableSpec, col: str
) -> DataFrame:
    """Exact per-partition distinct count of one column for the
    CardinalityBounds exact mode: two-level aggregation —
    groupBy(partition, col) with map-side combine collapses duplicates
    before any shuffle, then a count per partition. Raw rows never
    shuffle and no Expand operator appears (a countDistinct mixed into
    the fused profile agg would force one, multiplying the scan's rows
    by the aggregate count). Nulls are excluded (the ratio's
    denominator is the non-null count from the fused profile)."""
    part = partition_expr(spec).alias("partition_id")
    return (
        df.filter(F.col(col).isNotNull())
        .groupBy(part, F.col(col))
        .agg(F.lit(1).alias("__one__"))
        .groupBy("partition_id")
        .agg(F.count(F.lit(1)).alias("n_distinct"))
    )


def check_functional_dependency(
    groups: DataFrame, fd
) -> tuple[DataFrame, DataFrame]:
    """Derive (violating_keys, violating_groups) from the persisted
    ``functional_dependency_groups`` frame — NO further input scans.

    violating_keys: (determinant…, n_values, n_rows) for keys with >1
    distinct dependent value (exact: regrouped on real columns, so hash
    collisions from the screen drop out here).
    violating_groups: the per-(key, partition, value) rows of those
    keys — the source for per-partition verdict counts and sampled
    violation payloads.
    """
    keys = (
        groups.groupBy(*fd.determinant)
        .agg(
            F.count_distinct(fd.dependent).alias("n_values"),
            F.sum("n_rows").alias("n_rows"),
        )
        .filter(F.col("n_values") > 1)
    )
    viol_groups = groups.join(
        F.broadcast(keys.select(*fd.determinant)), list(fd.determinant), "left_semi"
    )
    return keys, viol_groups
