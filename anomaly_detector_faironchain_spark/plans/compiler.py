"""Compile a TableSpec into the minimum number of scan passes and run it.

Pass structure for one table (the whole suite, regardless of how many
constraints it contains):
  1. ONE fused aggregation scan   → per-partition profile (operators/stats.py)
  2. ONE exact-duplicate scan     → only over suspect partitions (uniqueness.py)
  3. ONE anti-join per ForeignKey → violations (referential.py)
  4. ONE histogram scan per Drift column → PSI/KS on the tiny histogram
  5. ONE row-level scan           → materialized violation rows for every
                                    metric constraint at once (stacked
                                    predicates, exploded)

The reference ran each assertion as its own full pandas scan
(etl/test.py:60-128); at 10^12 rows fusing them is the difference between
1 pass and ~20.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from anomaly_detector_faironchain_spark.operators import drift as drift_ops
from anomaly_detector_faironchain_spark.operators import referential, stats, temporal, uniqueness
from anomaly_detector_faironchain_spark.plans.spec import (
    Benford,
    CardinalityBounds,
    Correlation,
    CountMatch,
    DistributionOutlier,
    Drift,
    ForeignKey,
    FunctionalDependency,
    Freshness,
    MonotonicPerKey,
    ProfileOutlier,
    QuantileBounds,
    SchemaMatch,
    TableSpec,
    Unique,
)

VERDICT_COLS = [
    "table",
    "partition_id",
    "check_id",
    "passed",
    "metric",
    "threshold",
    "n_violations",
    "description",
]

VIOLATION_COLS = ["table", "partition_id", "check_id", "description", "row_payload"]


@dataclass
class ValidationResult:
    table: str
    profile: DataFrame
    verdicts: DataFrame
    violations: DataFrame
    drift_scores: dict[str, DataFrame] = field(default_factory=dict)
    # this run's GLOBAL histogram per Drift column (bucket, cnt) — the
    # snapshot the NEXT run validates against; persisted by
    # checkpoint.write_drift_references
    drift_histograms: dict[str, DataFrame] = field(default_factory=dict)
    # the persisted full violation scan shared by verdicts AND violations
    # (None when materialize_violations=False)
    row_violations: DataFrame | None = None
    # every frame validate_table persisted (profile, row scan, duplicate
    # keys, FK counts/samples, drift histograms) — release with
    # unpersist() when done
    cached_frames: list[DataFrame] = field(default_factory=list)
    # True when validate_table's eager_warm already computed every cached
    # scan — materialize() then skips straight to the final two jobs
    warmed: bool = False

    def passed(self) -> bool:
        return self.verdicts.filter(~F.col("passed")).limit(1).count() == 0

    def unpersist(self) -> None:
        """Release every frame the suite persisted (executor memory at
        100 TB is the scarce resource — free it between tables)."""
        for f in self.cached_frames:
            f.unpersist()

    def materialize(self) -> tuple[list, int]:
        """Evaluate verdicts and violations CONCURRENTLY (two Spark jobs
        submitted from two driver threads): the scheduler fills one job's
        stage tails with the other's tasks, removing the serial gap two
        back-to-back actions would leave.

        The cached input scans are warmed first, CONCURRENTLY with each
        other: they are independent full passes over the input, so
        overlapping them fills each other's stage tails, and warming
        before the consumer jobs prevents two uncached concurrent
        consumers of one persisted frame from both computing its
        partitions (RDD cache locking is best-effort). Skipped when
        validate_table's eager_warm already did it (warmed=True).
        Returns (verdict_rows, n_violation_rows)."""
        from concurrent.futures import ThreadPoolExecutor

        if not self.warmed:
            targets = self.cached_frames or [
                f for f in (self.profile, self.row_violations) if f is not None
            ]
            with ThreadPoolExecutor(max(2, len(targets))) as ex:
                for w in [ex.submit(t.count) for t in targets]:
                    w.result()
            self.warmed = True
        with ThreadPoolExecutor(2) as ex:
            fv = ex.submit(self.verdicts.collect)
            fx = ex.submit(self.violations.count)
            return fv.result(), fx.result()


def _metric_verdicts(profile: DataFrame, spec: TableSpec) -> DataFrame | None:
    """Melt the fused profile's violation counters into verdict rows."""
    checks = [
        c
        for c in spec.constraints
        if stats.violation_predicate(c, []) is not None
    ]
    if not checks:
        return None
    parts = []
    for c in checks:
        cid = c.check_id()
        parts.append(
            profile.select(
                F.lit(spec.name).alias("table"),
                F.col("partition_id"),
                F.lit(cid).alias("check_id"),
                (F.col(f"violations__{cid}") == 0).alias("passed"),
                F.col(f"violations__{cid}").cast("double").alias("metric"),
                F.lit(0.0).alias("threshold"),
                F.col(f"violations__{cid}").alias("n_violations"),
                F.lit(c.description()).alias("description"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _row_violations(df: DataFrame, spec: TableSpec, limit_per_check: int | None = None) -> DataFrame:
    """ONE scan materializing violating rows for every metric constraint:
    build an array of (check_id, violated) structs per row, keep rows with
    at least one violation, explode. Payload is the full row as JSON.
    With limit_per_check=None the FULL violation set is returned (callers
    aggregate counts from it and apply their own sample limit)."""
    checks = []
    for c in spec.constraints:
        pred = stats.violation_predicate(c, df.columns)
        if pred is not None:
            checks.append((c, pred))
    spark = df.sparkSession
    if not checks:
        return spark.createDataFrame(
            [], "table string, partition_id string, check_id string, "
            "description string, row_payload string"
        )
    part = stats.partition_expr(spec).alias("partition_id")
    structs = F.array(
        *[
            F.struct(
                F.lit(c.check_id()).alias("check_id"),
                F.lit(c.description()).alias("description"),
                pred.alias("violated"),
            )
            for c, pred in checks
        ]
    )
    # Filter the check array PER ROW before exploding: clean rows (the
    # overwhelming majority) are dropped while still one row wide, so the
    # explode never duplicates row payloads check-times over, and
    # JSON-encoding is paid only for actual violations.
    row_struct = F.struct(*[F.col(c) for c in df.columns])
    out = (
        df.select(
            part,
            row_struct.alias("__row__"),
            F.filter(structs, lambda v: v["violated"]).alias("__vs__"),
        )
        .filter(F.size("__vs__") > 0)
        .select(
            F.lit(spec.name).alias("table"),
            "partition_id",
            F.explode("__vs__").alias("v"),
            F.to_json(F.col("__row__")).alias("row_payload"),
        )
        .select(
            "table",
            "partition_id",
            F.col("v.check_id").alias("check_id"),
            F.col("v.description").alias("description"),
            "row_payload",
        )
    )
    if limit_per_check:
        from pyspark.sql import Window

        w = Window.partitionBy("partition_id", "check_id").orderBy("row_payload")
        out = (
            out.withColumn("__rn__", F.row_number().over(w))
            .filter(F.col("__rn__") <= limit_per_check)
            .drop("__rn__")
        )
    return out


def validate_table(
    df: DataFrame,
    spec: TableSpec,
    refs: dict[str, DataFrame] | None = None,
    drift_refs: dict[str, DataFrame] | None = None,
    materialize_violations: bool = True,
    violation_limit_per_check: int | None = 1000,
    broadcast_refs: bool = True,
    fk_salt: int = 0,
    eager_warm: bool = True,
) -> ValidationResult:
    """Run the full compiled suite for one table.

    refs: {ref_table_name: DataFrame} for ForeignKey constraints.
    drift_refs: {col: reference histogram DataFrame (bucket, cnt)} for
      Drift constraints — typically the previous run's histogram loaded
      from the checkpoint dir.
    eager_warm: warm the two cached full-input scans (fused profile +
      shared violation scan) CONCURRENTLY before the uniqueness phase.
      Without it the approx-screen's suspect-partition collect computes
      the profile as a lone serial job — the single biggest job-level
      serialization in the suite (the two scans are independent full
      passes; overlapping them fills each other's stage tails, the same
      trick ValidationResult.materialize plays for verdicts+violations).
    """
    refs = refs or {}
    drift_refs = drift_refs or {}
    spark = df.sparkSession
    row_viol = None

    # Pass 1: fused profile. Cached — it is tiny (one row per partition)
    # and consumed by several verdict builders. When the row-violation
    # pass runs (materialize_violations=True) the per-constraint counts
    # come from IT, so the profile pass skips the violation predicates —
    # expensive ones (sha2 of every content body, regexes) are then
    # evaluated exactly once per row instead of twice.
    profile = stats.profile_table(
        df, spec, include_violation_counts=not materialize_violations
    ).cache()

    verdict_parts: list[DataFrame] = []
    violation_parts: list[DataFrame] = []
    drift_scores: dict[str, DataFrame] = {}
    drift_histograms: dict[str, DataFrame] = {}

    if materialize_violations:
        row_viol = _row_violations(df, spec, limit_per_check=None)
        metric_checks = [
            c for c in spec.constraints
            if stats.violation_predicate(c, df.columns) is not None
        ]
        if metric_checks:
            # the violation set is assumed small (clean data dominates);
            # persist it so counts + sampled payloads share one scan
            row_viol = row_viol.persist()
            counts = row_viol.groupBy("partition_id", "check_id").agg(
                F.count(F.lit(1)).alias("__n__")
            )
            check_tbl = spark.createDataFrame(
                [(c.check_id(), c.description()) for c in metric_checks],
                "check_id string, description string",
            )
            grid = profile.select("partition_id").crossJoin(F.broadcast(check_tbl))
            verdict_parts.append(
                grid.join(counts, ["partition_id", "check_id"], "left")
                .select(
                    F.lit(spec.name).alias("table"),
                    "partition_id",
                    "check_id",
                    (F.coalesce(F.col("__n__"), F.lit(0)) == 0).alias("passed"),
                    F.coalesce(F.col("__n__"), F.lit(0)).cast("double").alias("metric"),
                    F.lit(0.0).alias("threshold"),
                    F.coalesce(F.col("__n__"), F.lit(0)).alias("n_violations"),
                    "description",
                )
            )
    else:
        mv = _metric_verdicts(profile, spec)
        if mv is not None:
            verdict_parts.append(mv)

    cached_frames: list[DataFrame] = [profile]
    if row_viol is not None:
        cached_frames.append(row_viol)

    # Pass 0 (metadata-only): schema contracts. Verdicts derive from
    # df.schema — the Catalyst schema known from the parquet footer /
    # catalog before any job runs — so a spec holding ONLY SchemaMatch
    # constraints launches ZERO Spark jobs on the data (the fused
    # profile above is lazy and stays unexecuted unless something else
    # consumes it). Declared DDL strings normalize through Spark's own
    # type parser, so 'long' == 'bigint' and nested types compare
    # structurally. partition_id is '__schema__': the schema is a table
    # property, not a per-partition one.
    sm_list = spec.by_type(SchemaMatch)
    if sm_list:
        import json as _json

        from pyspark.sql.types import DataType

        actual_types = {f.name: f.dataType for f in df.schema.fields}
        sm_verdict_rows = []
        sm_viol_rows = []
        for sm in sm_list:
            declared = {n for n, _ in sm.expected}
            mismatches: list[tuple[str, str | None, str | None]] = []
            for name, ddl in sm.expected:
                want = DataType.fromDDL(ddl)
                got = actual_types.get(name)
                if got is None:
                    mismatches.append((name, want.simpleString(), None))
                elif got != want:
                    mismatches.append(
                        (name, want.simpleString(), got.simpleString())
                    )
            if not sm.allow_extra:
                for name in df.schema.names:
                    if name not in declared:
                        mismatches.append(
                            (name, None, actual_types[name].simpleString())
                        )
            n_bad = len(mismatches)
            sm_verdict_rows.append((
                spec.name, "__schema__", sm.check_id(), n_bad == 0,
                float(n_bad), 0.0, n_bad, sm.description(),
            ))
            for name, want_s, got_s in mismatches:
                sm_viol_rows.append((
                    spec.name, "__schema__", sm.check_id(), sm.description(),
                    _json.dumps(
                        {"column": name, "expected": want_s, "actual": got_s},
                        sort_keys=True,
                    ),
                ))
        verdict_parts.append(spark.createDataFrame(
            sm_verdict_rows,
            "table string, partition_id string, check_id string, "
            "passed boolean, metric double, threshold double, "
            "n_violations long, description string",
        ))
        if materialize_violations and sm_viol_rows:
            violation_parts.append(spark.createDataFrame(
                sm_viol_rows,
                "table string, partition_id string, check_id string, "
                "description string, row_payload string",
            ))

    # Declare the OTHER independent full-input scans up front — FK
    # anti-joins (pass 3) and drift histograms (pass 4) — persisting their
    # tiny outputs, so eager_warm can run every heavy scan in ONE
    # concurrent wave instead of leaving FK/drift to execute serially
    # inside the final verdict job. Each is declared here and consumed in
    # its numbered pass below (union order unchanged).
    fk_items: list[tuple] = []
    for fk in spec.by_type(ForeignKey):
        if fk.ref_table not in refs:
            raise ValueError(f"missing ref table DataFrame: {fk.ref_table}")
        fk_counts, fk_viol = referential.check_foreign_key(
            df,
            list(fk.cols),
            refs[fk.ref_table],
            list(fk.ref_cols),
            partition_col=spec.partition_col,
            broadcast=broadcast_refs,
            salt=fk_salt,
        )
        fk_counts = fk_counts.persist()
        cached_frames.append(fk_counts)
        fk_sample = None
        if materialize_violations:
            # cap + persist so the violations job reads the sample from
            # cache instead of re-running the anti-join scan
            fk_sample = (
                fk_viol.limit(violation_limit_per_check)
                if violation_limit_per_check
                else fk_viol
            ).persist()
            cached_frames.append(fk_sample)
        fk_items.append((fk, fk_counts, fk_sample))

    fd_items: list[tuple] = []
    for fdc in spec.by_type(FunctionalDependency):
        # one full scan → tiny (violating key, partition, value) groups;
        # persisted so the verdict counts and the sampled payloads both
        # read from cache (pass 2b below)
        fd_groups = uniqueness.functional_dependency_groups(
            df, spec, fdc
        ).persist()
        cached_frames.append(fd_groups)
        fd_items.append((fdc, fd_groups))

    # Cross-table count reconciliation: one map-side-combined groupBy over
    # the fact table + a group-cardinality full-outer join vs the
    # manifest; the mismatch frame is tiny (clean data dominates) and is
    # persisted so verdict counts and sampled payloads share one scan.
    cm_items: list[tuple] = []
    for cm in spec.by_type(CountMatch):
        if cm.ref_table not in refs:
            raise ValueError(f"missing ref table DataFrame: {cm.ref_table}")
        cm_groups = referential.check_count_match(
            df,
            list(cm.group_cols),
            refs[cm.ref_table],
            list(cm.ref_group_cols),
            cm.expected_col,
            partition_id=stats.partition_expr(spec),
        ).persist()
        cached_frames.append(cm_groups)
        cm_items.append((cm, cm_groups))

    # Per-key monotonicity: one keyed-window pass; only the violating
    # rows survive, persisted for verdict counts + sampled payloads.
    mono_items: list[tuple] = []
    for mc in spec.by_type(MonotonicPerKey):
        mono_viol = temporal.monotonic_violations(
            df,
            list(mc.key_cols),
            mc.order_col,
            mc.value_col,
            strict=mc.strict,
            partition_id=stats.partition_expr(spec),
        ).persist()
        cached_frames.append(mono_viol)
        mono_items.append((mc, mono_viol))

    # Benford first-digit conformity: one map-side agg to <= 9 rows per
    # partition; the MAD frame is one row per partition.
    bf_items: list[tuple] = []
    for bf in spec.by_type(Benford):
        bf_mad = drift_ops.benford_mad(
            df, bf.col, bf.scale, spec.partition_col
        ).persist()
        cached_frames.append(bf_mad)
        bf_items.append((bf, bf_mad))

    # CardinalityBounds exact mode: one extra two-level aggregation per
    # constraint (approx mode rides the fused profile — nothing to warm).
    card_items: list[tuple] = []
    for cb in spec.by_type(CardinalityBounds):
        grp = None
        if cb.mode == "exact":
            grp = uniqueness.distinct_count_per_partition(
                df, spec, cb.col
            ).persist()
            cached_frames.append(grp)
        card_items.append((cb, grp))

    # Fleet-relative distribution outliers: one histogram pass per
    # constraint (groupBy(partition, bucket), map-side combined); the
    # fleet reference is the SAME warmed frame summed over groups, so
    # unlike Drift no external snapshot is needed.
    do_items: list[tuple] = []
    for do in spec.by_type(DistributionOutlier):
        if do.categorical:
            do_hist = drift_ops.categorical_histogram(
                df, do.col, spec.partition_col
            )
        else:
            do_hist = drift_ops.numeric_histogram(
                df, do.col, do.bins, do.lo, do.hi, spec.partition_col
            )
        do_hist = do_hist.persist()
        cached_frames.append(do_hist)
        do_items.append((do, do_hist))

    drift_items: list[tuple] = []
    for d in spec.by_type(Drift):
        if d.col not in drift_refs:
            raise ValueError(f"missing drift reference histogram for {d.col}")
        if d.categorical:
            cur = drift_ops.categorical_histogram(df, d.col, spec.partition_col)
        else:
            cur = drift_ops.numeric_histogram(
                df, d.col, d.bins, d.lo, d.hi, spec.partition_col
            )
        cur = cur.persist()  # one small histogram row per (group, bucket)
        cached_frames.append(cur)
        drift_items.append((d, cur))

    if eager_warm:
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max(2, len(cached_frames))) as ex:
            for w in [ex.submit(c.count) for c in cached_frames]:
                w.result()

    # Pass 2: uniqueness exact fallback. The duplicate-key frame is
    # persisted like every other scan output: the verdict counts and the
    # sampled payloads then share ONE duplicate scan instead of each
    # running its own.
    for u in spec.by_type(Unique):
        uv, dups = uniqueness.check_unique(df, spec, u, profile)
        dups = dups.persist()
        cached_frames.append(dups)
        verdict_parts.append(
            uv.select(
                F.lit(spec.name).alias("table"),
                "partition_id",
                "check_id",
                "passed",
                F.col("n_violations").cast("double").alias("metric"),
                F.lit(0.0).alias("threshold"),
                "n_violations",
                F.lit(u.description()).alias("description"),
            )
        )
        if materialize_violations:
            violation_parts.append(
                dups.select(
                    F.lit(spec.name).alias("table"),
                    "partition_id",
                    F.lit(u.check_id()).alias("check_id"),
                    F.lit(u.description()).alias("description"),
                    F.to_json(
                        F.struct(*[F.col(c) for c in u.cols], F.col("dup_count"))
                    ).alias("row_payload"),
                )
            )

    # Pass 3: referential anti-joins (declared + warmed above).
    all_parts = profile.select("partition_id")
    for fk, counts, fk_sample in fk_items:
        verdict_parts.append(
            all_parts.join(counts, "partition_id", "left")
            .select(
                F.lit(spec.name).alias("table"),
                "partition_id",
                F.lit(fk.check_id()).alias("check_id"),
                (F.coalesce(F.col("n_violations"), F.lit(0)) == 0).alias("passed"),
                F.coalesce(F.col("n_violations"), F.lit(0))
                .cast("double")
                .alias("metric"),
                F.lit(0.0).alias("threshold"),
                F.coalesce(F.col("n_violations"), F.lit(0)).alias("n_violations"),
                F.lit(fk.description()).alias("description"),
            )
        )
        if materialize_violations:
            violation_parts.append(
                fk_sample.select(
                    F.lit(spec.name).alias("table"),
                    (
                        stats.partition_expr(spec)
                        if spec.partition_col
                        else F.lit(stats.WHOLE_TABLE)
                    ).alias("partition_id"),
                    F.lit(fk.check_id()).alias("check_id"),
                    F.lit(fk.description()).alias("description"),
                    F.to_json(F.struct(*[F.col(c) for c in fk.cols])).alias(
                        "row_payload"
                    ),
                )
            )

    # Pass 2b: functional dependencies — verdicts and payloads both
    # derive from the one warmed groups frame (zero extra input scans).
    for fdc, fd_groups in fd_items:
        fd_keys, fd_viol_groups = uniqueness.check_functional_dependency(
            fd_groups, fdc
        )
        fd_counts = fd_viol_groups.groupBy("partition_id").agg(
            F.sum("n_rows").alias("__n__")
        )
        verdict_parts.append(
            all_parts.join(fd_counts, "partition_id", "left")
            .select(
                F.lit(spec.name).alias("table"),
                "partition_id",
                F.lit(fdc.check_id()).alias("check_id"),
                (F.coalesce(F.col("__n__"), F.lit(0)) == 0).alias("passed"),
                F.coalesce(F.col("__n__"), F.lit(0))
                .cast("double")
                .alias("metric"),
                F.lit(0.0).alias("threshold"),
                F.coalesce(F.col("__n__"), F.lit(0)).alias("n_violations"),
                F.lit(fdc.description()).alias("description"),
            )
        )
        if materialize_violations:
            sample = fd_viol_groups
            if violation_limit_per_check:
                sample = sample.limit(violation_limit_per_check)
            violation_parts.append(
                sample.select(
                    F.lit(spec.name).alias("table"),
                    "partition_id",
                    F.lit(fdc.check_id()).alias("check_id"),
                    F.lit(fdc.description()).alias("description"),
                    F.to_json(
                        F.struct(
                            *[F.col(c) for c in fdc.determinant],
                            F.col(fdc.dependent),
                            F.col("n_rows"),
                        )
                    ).alias("row_payload"),
                )
            )

    # Pass 3b: count reconciliation — verdicts and payloads both derive
    # from the one warmed mismatch frame. The verdict grid is a FULL
    # outer join of the profile's partitions with the mismatch counts:
    # manifest-only groups live in the synthetic '__missing__' partition,
    # which the profile cannot know about.
    for cm, cm_groups in cm_items:
        cm_counts = cm_groups.groupBy("partition_id").agg(
            F.count(F.lit(1)).alias("__n__"),
            F.sum(F.abs(F.col("diff"))).alias("__rows_off__"),
        )
        verdict_parts.append(
            all_parts.join(cm_counts, "partition_id", "full_outer")
            .select(
                F.lit(spec.name).alias("table"),
                "partition_id",
                F.lit(cm.check_id()).alias("check_id"),
                (F.coalesce(F.col("__n__"), F.lit(0)) == 0).alias("passed"),
                F.coalesce(F.col("__rows_off__"), F.lit(0))
                .cast("double")
                .alias("metric"),
                F.lit(0.0).alias("threshold"),
                F.coalesce(F.col("__n__"), F.lit(0)).alias("n_violations"),
                F.lit(cm.description()).alias("description"),
            )
        )
        if materialize_violations:
            sample = cm_groups
            if violation_limit_per_check:
                sample = sample.limit(violation_limit_per_check)
            violation_parts.append(
                sample.select(
                    F.lit(spec.name).alias("table"),
                    "partition_id",
                    F.lit(cm.check_id()).alias("check_id"),
                    F.lit(cm.description()).alias("description"),
                    F.to_json(
                        F.struct(
                            *[F.col(c) for c in cm.group_cols],
                            F.col("actual"),
                            F.col("expected"),
                            F.col("diff"),
                        )
                    ).alias("row_payload"),
                )
            )

    # Pass 2c: per-key monotonicity — verdict counts + sampled payloads
    # from the one warmed violating-rows frame.
    for mc, mono_viol in mono_items:
        mono_counts = mono_viol.groupBy("partition_id").agg(
            F.count(F.lit(1)).alias("__n__")
        )
        verdict_parts.append(
            all_parts.join(mono_counts, "partition_id", "left")
            .select(
                F.lit(spec.name).alias("table"),
                "partition_id",
                F.lit(mc.check_id()).alias("check_id"),
                (F.coalesce(F.col("__n__"), F.lit(0)) == 0).alias("passed"),
                F.coalesce(F.col("__n__"), F.lit(0))
                .cast("double")
                .alias("metric"),
                F.lit(0.0).alias("threshold"),
                F.coalesce(F.col("__n__"), F.lit(0)).alias("n_violations"),
                F.lit(mc.description()).alias("description"),
            )
        )
        if materialize_violations:
            sample = mono_viol
            if violation_limit_per_check:
                sample = sample.limit(violation_limit_per_check)
            violation_parts.append(
                sample.select(
                    F.lit(spec.name).alias("table"),
                    "partition_id",
                    F.lit(mc.check_id()).alias("check_id"),
                    F.lit(mc.description()).alias("description"),
                    F.to_json(
                        F.struct(
                            *[F.col(c) for c in mc.key_cols],
                            F.col(mc.order_col),
                            F.col(mc.value_col),
                            F.col("prev_max"),
                        )
                    ).alias("row_payload"),
                )
            )

    # Pass 4b: Benford conformity — distribution-level verdict per
    # partition from the warmed one-row-per-partition MAD frame. A
    # partition with no digit-bearing rows passes vacuously.
    for bf, bf_mad in bf_items:
        verdict_parts.append(
            all_parts.join(bf_mad, "partition_id", "left")
            .select(
                F.lit(spec.name).alias("table"),
                "partition_id",
                F.lit(bf.check_id()).alias("check_id"),
                F.coalesce(
                    F.col("mad") <= F.lit(float(bf.threshold)), F.lit(True)
                ).alias("passed"),
                F.coalesce(F.col("mad"), F.lit(0.0))
                .cast("double")
                .alias("metric"),
                F.lit(float(bf.threshold)).alias("threshold"),
                F.lit(0).cast("long").alias("n_violations"),
                F.lit(bf.description()).alias("description"),
            )
        )

    # Pass 1b: freshness — straight off the fused profile's max()
    # aggregate; a partition with no non-null values FAILS (metric null
    # → staleness indistinguishable from a stopped feed; see spec).
    for fr in spec.by_type(Freshness):
        fmax = F.col(f"freshness_max__{fr.check_id()}")
        verdict_parts.append(
            profile.select(
                F.lit(spec.name).alias("table"),
                "partition_id",
                F.lit(fr.check_id()).alias("check_id"),
                F.coalesce(
                    fmax >= F.lit(fr.as_of - fr.max_age), F.lit(False)
                ).alias("passed"),
                (F.lit(fr.as_of) - fmax).cast("double").alias("metric"),
                F.lit(float(fr.max_age)).alias("threshold"),
                F.lit(0).cast("long").alias("n_violations"),
                F.lit(fr.description()).alias("description"),
            )
        )

    # Pass 1c: quantile bounds — straight off the fused profile's
    # percentile_approx aggregate; a partition with no non-null values
    # passes vacuously (metric null; NotNull/CountMatch own absence).
    for qb in spec.by_type(QuantileBounds):
        qm = F.col(stats.quantile_metric_col(qb))
        lo_ok = F.lit(True) if qb.lo is None else qm >= F.lit(float(qb.lo))
        hi_ok = F.lit(True) if qb.hi is None else qm <= F.lit(float(qb.hi))
        verdict_parts.append(
            profile.select(
                F.lit(spec.name).alias("table"),
                "partition_id",
                F.lit(qb.check_id()).alias("check_id"),
                F.coalesce(lo_ok & hi_ok, F.lit(True)).alias("passed"),
                qm.cast("double").alias("metric"),
                F.lit(
                    float(qb.hi if qb.hi is not None else (qb.lo or 0.0))
                ).alias("threshold"),
                F.lit(0).cast("long").alias("n_violations"),
                F.lit(qb.description()).alias("description"),
            )
        )

    # Pass 1e: correlation bounds — straight off the fused profile's
    # corr() co-moment aggregate; undefined correlation (metric null:
    # < 2 paired values or zero variance) passes or fails per
    # allow_undefined.
    for co in spec.by_type(Correlation):
        cid = co.check_id()
        defined = (
            (F.col(f"corr_n__{cid}") >= 2)
            & (F.col(f"corr_amin__{cid}") < F.col(f"corr_amax__{cid}"))
            & (F.col(f"corr_bmin__{cid}") < F.col(f"corr_bmax__{cid}"))
        )
        cm = F.when(defined, F.col(f"corr__{cid}"))
        verdict_parts.append(
            profile.select(
                F.lit(spec.name).alias("table"),
                "partition_id",
                F.lit(co.check_id()).alias("check_id"),
                F.coalesce(
                    cm.between(F.lit(float(co.lo)), F.lit(float(co.hi))),
                    F.lit(bool(co.allow_undefined)),
                ).alias("passed"),
                cm.cast("double").alias("metric"),
                F.lit(float(co.hi)).alias("threshold"),
                F.lit(0).cast("long").alias("n_violations"),
                F.lit(co.description()).alias("description"),
            )
        )

    # Pass 1c/2d: cardinality bounds — approx mode reads the profile's
    # HLL estimate; exact mode joins the warmed two-level distinct
    # counts. Denominator is the profile's non-null count either way. A
    # partition with no non-null values passes vacuously.
    for cb, grp in card_items:
        nonnull = F.col("n_rows") - F.col(f"null_count__{cb.col}")
        if cb.mode == "exact":
            base = profile.select(
                "partition_id", nonnull.alias("__nn__")
            ).join(grp, "partition_id", "left")
            nd = F.coalesce(F.col("n_distinct"), F.lit(0))
        else:
            base = profile.select(
                "partition_id",
                nonnull.alias("__nn__"),
                F.col(f"approx_distinct__{cb.check_id()}").alias("n_distinct"),
            )
            nd = F.col("n_distinct")
        if cb.is_absolute():
            lo = float(0 if cb.lo_abs is None else cb.lo_abs)
            hi = float("inf") if cb.hi_abs is None else float(cb.hi_abs)
            metric = nd.cast("double")
            passed = metric.between(F.lit(lo), F.lit(hi))
            threshold = F.lit(hi)
        else:
            ratio = F.when(F.col("__nn__") > 0, nd / F.col("__nn__"))
            metric = F.coalesce(ratio, F.lit(0.0)).cast("double")
            passed = F.coalesce(
                ratio.between(
                    F.lit(float(cb.lo_ratio)), F.lit(float(cb.hi_ratio))
                ),
                F.lit(True),
            )
            threshold = F.lit(float(cb.hi_ratio))
        verdict_parts.append(
            base.select(
                F.lit(spec.name).alias("table"),
                "partition_id",
                F.lit(cb.check_id()).alias("check_id"),
                passed.alias("passed"),
                metric.alias("metric"),
                threshold.alias("threshold"),
                F.lit(0).cast("long").alias("n_violations"),
                F.lit(cb.description()).alias("description"),
            )
        )

    # Pass 1d: fleet-relative profile outliers — median/MAD across the
    # partitions of THIS run, computed over the tiny persisted profile
    # frame (one row per partition; the two fleet aggregates each reduce
    # it to a single broadcast row). Zero extra scans of the data.
    for po in spec.by_type(ProfileOutlier):
        if po.metric == "row_count":
            x = F.col("n_rows").cast("double")
        elif po.metric == "null_fraction":
            ncol = f"null_count__{po.col}"
            if ncol not in profile.columns:
                raise ValueError(
                    f"ProfileOutlier(null_fraction:{po.col}): {po.col!r} "
                    "is not a profiled column"
                )
            x = (F.col(ncol) / F.col("n_rows")).cast("double")
        else:  # mean
            mcol = f"mean__{po.col}"
            if mcol not in profile.columns:
                raise ValueError(
                    f"ProfileOutlier(mean:{po.col}): {po.col!r} is not a "
                    "numeric profiled column"
                )
            x = F.col(mcol).cast("double")
        base = profile.select("partition_id", x.alias("__x__"))
        med = base.agg(
            F.expr("percentile(__x__, 0.5)").alias("__med__")
        )
        with_med = base.crossJoin(F.broadcast(med))
        mad = with_med.agg(
            F.expr("percentile(abs(__x__ - __med__), 0.5)").alias("__mad__")
        )
        j = with_med.crossJoin(F.broadcast(mad))
        # guard the division (ANSI-safe): rz only when MAD > 0;
        # MAD == 0 → pass iff x equals the median exactly
        rz = F.abs(F.col("__x__") - F.col("__med__")) / (
            F.lit(1.4826) * F.col("__mad__")
        )
        metric = F.when(F.col("__mad__") > 0, rz).when(
            F.col("__x__") == F.col("__med__"), F.lit(0.0)
        )
        passed = F.coalesce(
            F.when(F.col("__mad__") > 0, rz <= F.lit(float(po.z_max))).otherwise(
                F.col("__x__") == F.col("__med__")
            ),
            F.lit(False),  # NULL metric: the profile cannot vouch for it
        )
        verdict_parts.append(
            j.select(
                F.lit(spec.name).alias("table"),
                "partition_id",
                F.lit(po.check_id()).alias("check_id"),
                passed.alias("passed"),
                metric.cast("double").alias("metric"),
                F.lit(float(po.z_max)).alias("threshold"),
                F.lit(0).cast("long").alias("n_violations"),
                F.lit(po.description()).alias("description"),
            )
        )

    # Pass 4c: fleet-relative distribution outliers — each partition's
    # histogram vs the fleet histogram (the same warmed frame summed
    # over groups, replicated per group through a broadcast). Partitions
    # with no non-null values contribute no histogram rows → metric
    # null → vacuous pass via the left join against the profile's
    # partition list.
    for do, do_hist in do_items:
        by_group = spec.partition_col is not None
        if by_group:
            fleet = do_hist.groupBy("bucket").agg(F.sum("cnt").alias("cnt"))
            groups = do_hist.select("group_id").distinct()
            ref_g = groups.crossJoin(F.broadcast(fleet))
            score = drift_ops.psi(do_hist, ref_g, by_group=True)
            score = score.withColumnRenamed("group_id", "partition_id")
        else:
            score = drift_ops.psi(do_hist, do_hist, by_group=False)
            score = score.withColumn(
                "partition_id", F.lit(stats.WHOLE_TABLE)
            )
        verdict_parts.append(
            all_parts.join(score, "partition_id", "left")
            .select(
                F.lit(spec.name).alias("table"),
                "partition_id",
                F.lit(do.check_id()).alias("check_id"),
                F.coalesce(
                    F.col("psi") <= F.lit(float(do.psi_max)), F.lit(True)
                ).alias("passed"),
                F.col("psi").cast("double").alias("metric"),
                F.lit(float(do.psi_max)).alias("threshold"),
                F.lit(0).cast("long").alias("n_violations"),
                F.lit(do.description()).alias("description"),
            )
        )

    # Pass 4: drift per column, per partition, vs reference histograms
    # (histograms declared + warmed above).
    for d, cur in drift_items:
        ref_hist = drift_refs[d.col]
        by_group = spec.partition_col is not None
        if by_group:
            cur = cur.withColumnRenamed("group_id", "group_id")
        # this run's corpus-level histogram — stored so it can serve as
        # the NEXT run's reference (checkpoint.write_drift_references)
        drift_histograms[d.col] = (
            cur.groupBy("bucket").agg(F.sum("cnt").alias("cnt"))
            if by_group else cur
        )
        fn = drift_ops.psi if d.method == "psi" else drift_ops.ks
        # reference histogram is global (no group) — replicate per group
        # by dropping group from the join: _normalized_join needs matched
        # shapes, so cross the ref against distinct groups.
        if by_group:
            groups = cur.select("group_id").distinct()
            ref_g = groups.crossJoin(F.broadcast(ref_hist))
        else:
            ref_g = ref_hist
        score = fn(cur, ref_g, by_group=by_group)
        metric_col = "psi" if d.method == "psi" else "ks"
        if by_group:
            score = score.withColumnRenamed("group_id", "partition_id")
        else:
            score = score.withColumn("partition_id", F.lit(stats.WHOLE_TABLE))
        drift_scores[d.check_id()] = score
        verdict_parts.append(
            score.select(
                F.lit(spec.name).alias("table"),
                "partition_id",
                F.lit(d.check_id()).alias("check_id"),
                (F.col(metric_col) <= d.threshold).alias("passed"),
                F.col(metric_col).cast("double").alias("metric"),
                F.lit(float(d.threshold)).alias("threshold"),
                F.lit(0).cast("long").alias("n_violations"),
                F.lit(d.description()).alias("description"),
            )
        )

    # Pass 5: row-level violation payloads (sampled from the persisted
    # violation set computed above — no extra scan of the input).
    if materialize_violations:
        sampled = row_viol
        if violation_limit_per_check:
            from pyspark.sql import Window

            w = Window.partitionBy("partition_id", "check_id").orderBy("row_payload")
            sampled = (
                sampled.withColumn("__rn__", F.row_number().over(w))
                .filter(F.col("__rn__") <= violation_limit_per_check)
                .drop("__rn__")
            )
        violation_parts.append(sampled)

    if verdict_parts:
        verdicts = verdict_parts[0]
        for p in verdict_parts[1:]:
            verdicts = verdicts.unionByName(p)
    else:
        # a spec with zero executable constraints (e.g. suggested from a
        # table with no evidence — empty or all-NULL) validates anything
        # vacuously: empty verdicts, not an IndexError (found by
        # tests/test_suggest_hypothesis.py)
        verdicts = spark.createDataFrame(
            [],
            "table string, partition_id string, check_id string, "
            "passed boolean, metric double, threshold double, "
            "n_violations long, description string",
        )
    if violation_parts:
        violations = violation_parts[0]
        for p in violation_parts[1:]:
            violations = violations.unionByName(p)
    else:
        violations = spark.createDataFrame(
            [],
            "table string, partition_id string, check_id string, "
            "description string, row_payload string",
        )
    return ValidationResult(spec.name, profile, verdicts, violations,
                            drift_scores, drift_histograms,
                            row_violations=row_viol,
                            cached_frames=cached_frames,
                            warmed=eager_warm)
