"""Referential-integrity checks via broadcast / salted anti-joins.

The violation set for "fact.k must exist in dim.k" IS the anti-join
output (reference: etl/test.py:86-97 computed it with driver-side Python
sets — here it's a distributed left_anti join).

Scale strategy:
  * dim fits in memory → ``F.broadcast(dim)`` left_anti: zero shuffle of
    the 100 TB fact side.
  * dim too big → shuffle anti-join; skewed fact keys are handled by
    SALTING THE DIM SIDE: replicate each dim key S ways with a salt
    column, give every fact row a deterministic pseudo-random salt in
    [0,S), and join on (key, salt). Replication multiplies only the
    (small) dim; the hot fact key now spreads over S reducers. AQE skew
    splitting handles residual imbalance.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def anti_join_violations(
    fact: DataFrame,
    fact_cols: list[str],
    dim: DataFrame,
    dim_cols: list[str],
    broadcast: bool = True,
    salt: int = 0,
) -> DataFrame:
    """Rows of ``fact`` whose non-null key is absent from ``dim``.

    salt > 1 enables dim-side salting for skewed fact keys (ignored when
    broadcasting — a broadcast join has no shuffle to skew).
    """
    nn = F.lit(True)
    for c in fact_cols:
        nn = nn & F.col(c).isNotNull()
    probe = fact.filter(nn)

    dkeys = dim.select(
        *[F.col(d).alias(f) for f, d in zip(fact_cols, dim_cols)]
    ).dropDuplicates(fact_cols)

    if broadcast:
        return probe.join(F.broadcast(dkeys), on=fact_cols, how="left_anti")

    if salt > 1:
        salted_dim = dkeys.withColumn(
            "__salt__", F.explode(F.array([F.lit(i) for i in range(salt)]))
        )
        salted_fact = probe.withColumn(
            "__salt__",
            F.pmod(F.xxhash64(F.monotonically_increasing_id()), F.lit(salt)).cast(
                "int"
            ),
        )
        return salted_fact.join(
            salted_dim, on=fact_cols + ["__salt__"], how="left_anti"
        ).drop("__salt__")

    return probe.join(dkeys, on=fact_cols, how="left_anti")


def check_foreign_key(
    fact: DataFrame,
    fact_cols: list[str],
    dim: DataFrame,
    dim_cols: list[str],
    partition_id: F.Column,
) -> DataFrame:
    """Violating fact rows projected to (partition_id, *fact_cols): the
    one frame both the per-partition counts and the sampled payloads
    read. ``partition_id`` is evaluated on fact rows. The dim side is
    broadcast (``anti_join_violations``' default)."""
    viol = anti_join_violations(fact, fact_cols, dim, dim_cols)
    return viol.select(
        partition_id.alias("partition_id"), *[F.col(c) for c in fact_cols]
    )


def check_count_match(
    fact: DataFrame,
    group_cols: list[str],
    ref: DataFrame,
    ref_group_cols: list[str],
    expected_col: str,
    partition_id: F.Column | None = None,
) -> DataFrame:
    """Cross-table row-count reconciliation: per-group mismatch frame
    (partition_id, *group_cols, actual long, expected long, diff long)
    holding ONLY the groups whose fact row count differs from the
    manifest's declared count. Full-outer semantics: a manifest group
    with no fact rows (actual=0, partition_id='__missing__') and fact
    rows with no manifest entry (expected=0) are both mismatches.

    The completeness complement of the FK anti-join — FK proves each
    row's key exists, this proves the dataset is WHOLE (no dropped or
    double-loaded partition). Groups with a null key component are
    skipped on both sides (NotNull covers those).

    partition_id: expression evaluated on fact rows; each group reports
    min(partition_id) — exact when groups are partition-local (repo
    groups under repo-hash partitioning), a deterministic representative
    otherwise.

    Plan shape: ONE map-side-combined groupBy over the fact table (the
    only pass that scales with input size), then a full-outer join of
    two GROUP-cardinality frames — manifest-sized, not row-sized, so a
    shuffle join is fine (Spark cannot broadcast a full-outer side).
    """
    nn = F.lit(True)
    for c in group_cols:
        nn = nn & F.col(c).isNotNull()
    # min(string) forces the partial agg to SortAggregate (still map-side
    # combined, but with a per-partition sort of the projected rows);
    # without a partition expression the representative is a constant, so
    # skip the min and attach it after the agg for the cheaper plan
    aggs = [F.count(F.lit(1)).alias("__actual__")]
    if partition_id is not None:
        aggs.append(F.min(partition_id).alias("__pid__"))
    actual = fact.filter(nn).groupBy(*group_cols).agg(*aggs)
    if partition_id is None:
        actual = actual.withColumn("__pid__", F.lit("__whole_table__"))
    rnn = F.lit(True)
    for c in ref_group_cols:
        rnn = rnn & F.col(c).isNotNull()
    declared = ref.filter(rnn).select(
        *[F.col(r).alias(g) for g, r in zip(group_cols, ref_group_cols)],
        F.col(expected_col).cast("long").alias("__expected__"),
    )
    j = actual.join(declared, on=list(group_cols), how="full_outer")
    return (
        j.select(
            F.coalesce(F.col("__pid__"), F.lit("__missing__")).alias(
                "partition_id"
            ),
            *[F.col(c) for c in group_cols],
            F.coalesce(F.col("__actual__"), F.lit(0)).alias("actual"),
            F.coalesce(F.col("__expected__"), F.lit(0)).alias("expected"),
            (
                F.coalesce(F.col("__actual__"), F.lit(0))
                - F.coalesce(F.col("__expected__"), F.lit(0))
            ).alias("diff"),
        )
        .filter(F.col("actual") != F.col("expected"))
    )
