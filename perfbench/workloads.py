"""The benchmark's workloads: seeded fixtures, the timed public call, the
output check, and the traced replay of each workload as timed layer calls.

Every workload is driven only through the library's public functions. Its
fixture is generated from the seed and written to parquet during set-up,
so the timed call reads nothing but the generated inputs.
"""

from __future__ import annotations

import random
from dataclasses import dataclass, field
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from anomaly_detector_faironchain_spark.analysis import pipeline
from anomaly_detector_faironchain_spark.datagen import source_files as gen
from anomaly_detector_faironchain_spark.etl import abstract, rawgen
from anomaly_detector_faironchain_spark.operators import (
    graph,
    iforest,
    mahalanobis,
    referential,
    scoring,
    stats,
    uniqueness,
)
from anomaly_detector_faironchain_spark.plans import checkpoint
from anomaly_detector_faironchain_spark.plans.snapshots import (
    SnapshotTable,
    validate_new_snapshots,
)
from anomaly_detector_faironchain_spark.plans.spec import (
    ForeignKey,
    FunctionalDependency,
    InSet,
    RowCheck,
    Unique,
)
from anomaly_detector_faironchain_spark.specs import north_rule_spec

from tracing import Tracer

# The four compiler layers that validate_table declares lazily and then
# runs in one concurrent scan wave. The traced replay forces each one in
# its own span, so its scan is attributed to it (see tracing.Tracer.patch).
COMPILER_LAYERS = (
    (stats, "profile_table", "stats.profile_table"),
    (uniqueness, "check_unique", "uniqueness.check_unique"),
    (uniqueness, "functional_dependency_groups",
     "uniqueness.functional_dependency_groups"),
    (referential, "check_foreign_key", "referential.check_foreign_key"),
)

P = 1_000_000_007  # checksum modulus: keeps sum() inside a long under ANSI mode


def checksum(df: DataFrame) -> int:
    """Order-independent checksum over every column of ``df``."""
    cols = sorted(df.columns)
    row = df.agg(F.sum(F.pmod(F.xxhash64(*cols), F.lit(P)))).collect()[0]
    return int(row[0] or 0)


@dataclass
class Outcome:
    """What one call produced, as seen by the output check."""
    ok: bool
    detail: dict = field(default_factory=dict)


class EP2Graph:
    """EP2 anomaly analysis over abstract transfers in a shared account
    space, at degree ~100 (transfers / accounts), the density bench.py
    holds. The graph, motif, scoring and rank layers and the Spark job
    chain do the work; no validation code runs."""

    name = "ep2_graph"
    TRANSFERS = 20_000
    ACCOUNTS = 200
    MIN_AMOUNT = 1e12
    IFOREST = {"max_samples": 2048}

    def __init__(self, spark: SparkSession, seed: int):
        self.spark, self.seed = spark, seed
        self.rows = self.TRANSFERS
        self.params = {"transfers": self.TRANSFERS, "accounts": self.ACCOUNTS,
                       "min_amount": self.MIN_AMOUNT,
                       "iforest_params": self.IFOREST}
        self.guard: dict = {}
        self.first_checksum: int | None = None

    def setup(self, out: Path) -> None:
        rt = rawgen.raw_native_transfers(
            self.spark, self.TRANSFERS, max(self.TRANSFERS // 50, 1),
            seed=self.seed, n_accounts=self.ACCOUNTS,
            shared_account_space=True,
        )
        abstract.build_abstract_token_transfer(
            abstract.clean_native_transfers(rt)
        ).write.parquet(str(out / "transfers"))

    def load(self, out: Path) -> None:
        self.tt = self.spark.read.parquet(str(out / "transfers"))
        ends = self.tt.select(F.col("spender_address_sid").alias("a")).union(
            self.tt.select("receiver_address_sid"))
        self.accounts = ends.distinct().count()

    def run(self):
        return pipeline.run_anomaly_analysis(
            self.tt, min_amount=self.MIN_AMOUNT, iforest_params=self.IFOREST,
            on_guard=self.guard.update,
        )

    def check(self, out: DataFrame) -> Outcome:
        n, cs = out.count(), checksum(out)
        if self.first_checksum is None:
            self.first_checksum = cs
        return Outcome(n == self.accounts and cs == self.first_checksum,
                       {"rows": n, "expected_rows": self.accounts,
                        "checksum": cs})

    def replay(self, tr: Tracer) -> DataFrame:
        """run_anomaly_analysis with its defaults (guard on, iforest on,
        materialize=True, no infra whitelist), one timed span per layer.
        The traced run checks that this returns the checksum of the
        direct call, so the replay cannot drift from the pipeline."""
        with tr.span("pipeline.build_edges"):
            edges = pipeline.build_edges(
                self.tt, None, self.MIN_AMOUNT, None).cache()
            edges.count()
        with tr.patch(graph, "motif_wedge_guard", "graph.motif_wedge_guard"), \
                tr.span("pipeline.features_from_edges"):
            feats = pipeline.features_from_edges(
                edges, wedge_budget=pipeline.DEFAULT_WEDGE_BUDGET,
                on_guard=self.guard.update)
        with tr.span("pipeline.fused_threshold_and_z_stats"):
            feats = feats.withColumn(
                "is_infra", F.col("address").isin([]).cast("int"))
            scored_pred = ((F.col("is_infra") == 0)
                           & (F.col("motif_excluded") == 0))
            base = pipeline.add_log_features(feats.filter(scored_pred)).cache()
            t, zstats = pipeline.fused_threshold_and_z_stats(base)
        with tr.span("pipeline.heuristic_rules"):
            work = pipeline.apply_z(pipeline.heuristic_rules(base, t), zstats)
        zcols = [f"{c}_z" for c in pipeline.Z_FEATURES]
        with tr.span("mahalanobis.mahalanobis"):
            work = mahalanobis.mahalanobis(work, zcols, "mahalanobis_distance")
        with tr.span("iforest.fit_iforest"):
            model = iforest.fit_iforest(
                work, zcols, n_estimators=300, seed=42, **self.IFOREST)
        # the pipeline pins the detector scores before the rank layers;
        # that checkpoint is where both Arrow scoring UDFs execute
        with tr.span("iforest.score_iforest"):
            work = iforest.score_iforest(work, zcols, model)
            work = work.localCheckpoint(eager=True)
        with tr.span("scoring.hazen_percentile_agg_multi"):
            work = scoring.hazen_percentile_agg_multi(work, [
                ("mahalanobis_distance", "mahalanobis_distance_stats_score_100"),
                ("iforest_score", "iforest_stats_score_100"),
            ])
        with tr.span("pipeline.score"):
            work = pipeline.score(work, ["iforest_stats_score_100"],
                                  ranks_precomputed=True)
        with tr.span("pipeline.materialize"):
            drop = [c for c in work.columns if c.endswith(("_log", "_z", "_ratio"))]
            out = work.drop(*drop).unionByName(
                feats.filter(~scored_pred), allowMissingColumns=True
            ).localCheckpoint(eager=True)
            base.unpersist()
            edges.unpersist()
        return out

    def counts(self) -> dict:
        """Counts of the last call, for the traced run."""
        return {"graph.wedge_rows": self.guard.get("wedge_rows", 0),
                "graph.excluded_hubs": self.guard.get("n_excluded", 0)}


class SnapshotIncrement:
    """SnapshotTable.append of a fixed increment, then validate_new_snapshots
    with checkpointed verdicts, violations, profile and manifests. Every
    call re-appends the same increment, so every call does the same work.
    The increment carries 1% injected violations; per-job overhead and the
    parquet write path weigh more here than on a clean full scan."""

    name = "snapshot_increment"
    INCREMENT = 20_000
    INJECT_EACH = 50

    def __init__(self, spark: SparkSession, seed: int):
        self.spark, self.seed = spark, seed
        self.rows = self.INCREMENT + self.INJECT_EACH  # duplicates add rows
        self.params = {"increment_rows": self.INCREMENT,
                       "injected_each": self.INJECT_EACH,
                       "kinds": ["bad_lang", "truncate_content",
                                 "dangling_repo", "duplicate_sid"]}
        self.spec = north_rule_spec()

    def setup(self, out: Path) -> None:
        """Clean source_files rows joined with their sha256 manifest, then
        k generator ids each of bad lang, truncated content, dangling repo
        and duplicate sid (disjoint sets drawn from the seed)."""
        n, k = self.INCREMENT, self.INJECT_EACH
        ids = random.Random(self.seed).sample(range(n), 4 * k)
        files = gen.generate_source_files(self.spark, n, seed=self.seed)
        inc = gen.inject_violations(
            files.join(gen.manifest(files), "file_sid"),
            bad_lang_ids=ids[:k], truncate_content_ids=ids[k:2 * k],
            dangling_repo_ids=ids[2 * k:3 * k], duplicate_sid_ids=ids[3 * k:],
        )
        inc.write.parquet(str(out / "increment"))
        gen.companion_dims(files)[0].write.parquet(str(out / "repos"))
        SnapshotTable.create(str(out / "table"))

    def load(self, out: Path) -> None:
        self.inc = self.spark.read.parquet(str(out / "increment"))
        self.repos = self.spark.read.parquet(str(out / "repos"))
        self.table = SnapshotTable(str(out / "table"))
        self.ckpt = out / "ckpt"
        self.expected = self._expected()

    def _expected(self) -> dict[str, int]:
        """Violation rows per check_id that the injection must produce,
        computed from the fixture with plain Spark, not the library."""
        ids = {type(c): c.check_id() for c in self.spec.constraints}
        inc = self.inc
        k = self.INJECT_EACH
        # a dangling repo splits its commit across two repos; each
        # (commit, bucket, repo) group of such a commit is one FD row
        split = (inc.groupBy("commit").agg(F.count_distinct("repo").alias("n"))
                 .filter("n > 1").select("commit"))
        fd_rows = (inc.join(split, "commit", "left_semi")
                   .select("commit", "bucket", "repo").distinct().count())
        return {ids[InSet]: k, ids[RowCheck]: k, ids[ForeignKey]: k,
                ids[Unique]: k, ids[FunctionalDependency]: fd_rows}

    def run(self):
        self.table.append(self.inc)
        return validate_new_snapshots(
            self.spark, self.table, self.spec, str(self.ckpt),
            refs={"repos": self.repos})

    def check(self, out) -> Outcome:
        until, res = out
        if res is not None:
            res.unpersist()
        viol = self.spark.read.parquet(
            str(self.ckpt / f"snap-{until:06d}" / "violations"))
        got = {r["check_id"]: r["n"] for r in
               viol.groupBy("check_id").agg(F.count(F.lit(1)).alias("n"))
               .collect()}
        self.violation_rows = sum(got.values())
        return Outcome(got == self.expected,
                       {"violations": got, "snapshot": until})

    def replay(self, tr: Tracer):
        with tr.span("snapshots.append"):
            self.table.append(self.inc)
        with tr.patch(checkpoint, "validate_table", "compiler.validate_table"), \
                tr.patch_all(COMPILER_LAYERS, force=True), \
                tr.span("snapshots.validate_new_snapshots"):
            return validate_new_snapshots(
                self.spark, self.table, self.spec, str(self.ckpt),
                refs={"repos": self.repos})

    def counts(self) -> dict:
        """Counts of the last checked call, for the traced run."""
        return {"compiler.violation_rows": self.violation_rows}


WORKLOADS = {w.name: w for w in (EP2Graph, SnapshotIncrement)}
