"""End-to-end: generate source_files, inject known violations, assert the
engine's verdicts and materialized violation rows catch exactly them.

Mirrors the reference's validation suites (etl/test.py, tests/test_etl.py)
as the functional spec — every injected corruption must surface as a
failing check with the corrupted rows in the violations table.
"""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from anomaly_detector_faironchain_spark.datagen import source_files as gen
from anomaly_detector_faironchain_spark.plans import (
    ForeignKey,
    InSet,
    LengthInRange,
    NotNull,
    Regex,
    RowCheck,
    TableSpec,
    Unique,
)
from anomaly_detector_faironchain_spark.plans.compiler import validate_table
from anomaly_detector_faironchain_spark.specs import north_rule_spec
from conftest import probe_job_id

N = 2000
NULL_LANG = [7, 11]
BAD_LANG = [23]
TRUNC = [41, 59]
DANGLING = [101]
DUP = [151, 163]


spec = north_rule_spec


@pytest.fixture(scope="module")
def corrupted(spark):
    clean = gen.generate_source_files(spark, N, seed=42, partitions=8)
    man = gen.manifest(clean)
    repos, commits = gen.companion_dims(clean)
    bad = gen.inject_violations(
        clean,
        null_lang_ids=NULL_LANG,
        bad_lang_ids=BAD_LANG,
        truncate_content_ids=TRUNC,
        dangling_repo_ids=DANGLING,
        duplicate_sid_ids=DUP,
    )
    joined = bad.join(man, "file_sid")  # attach golden hash for RowCheck
    return joined.cache(), repos.cache()


def test_determinism(spark):
    a = gen.generate_source_files(spark, 500, seed=7, partitions=2)
    b = gen.generate_source_files(spark, 500, seed=7, partitions=13)
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
    c = gen.generate_source_files(spark, 500, seed=8, partitions=2)
    assert c.exceptAll(a).count() > 0


def test_clean_table_passes(spark):
    clean = gen.generate_source_files(spark, 500, seed=1, partitions=4)
    man = gen.manifest(clean)
    repos, _ = gen.companion_dims(clean)
    res = validate_table(clean.join(man, "file_sid"), spec(), refs={"repos": repos})
    assert res.passed(), res.verdicts.filter(~F.col("passed")).collect()


def test_violations_detected_exactly(spark, corrupted):
    df, repos = corrupted
    res = validate_table(df, spec(), refs={"repos": repos})

    failed = {
        r.check_id: r.total
        for r in res.verdicts.groupBy("check_id")
        .agg(F.sum("n_violations").alias("total"))
        .collect()
    }
    assert failed["not_null(repo,path,commit,lang,content)"] == len(NULL_LANG)
    assert failed["in_set(lang)"] == len(BAD_LANG)
    # each duplicated sid contributes 1 extra row
    assert failed["unique(file_sid)"] == len(DUP)
    assert failed["fk(repo)->repos(repo)"] == len(DANGLING)
    # truncation breaks sha; duplicated rows still hash-match
    assert failed["row_check(sha_invariant)"] == len(TRUNC)

    # materialized violation rows are exactly the corrupted ones
    sha_rows = res.violations.filter(
        F.col("check_id") == "row_check(sha_invariant)"
    ).collect()
    got_ids = sorted(json.loads(r.row_payload)["_gen_id"] for r in sha_rows)
    assert got_ids == sorted(TRUNC)

    dangling = res.violations.filter(F.col("check_id").startswith("fk(")).collect()
    assert len(dangling) == len(DANGLING)
    assert all(json.loads(r.row_payload)["repo"] == "ghost/xrepo" for r in dangling)


def test_verdicts_are_per_partition(spark, corrupted):
    df, repos = corrupted
    res = validate_table(df, spec(), refs={"repos": repos})
    parts = res.verdicts.select("partition_id").distinct().count()
    assert parts > 1  # bucketed verdicts, not a single global row
    # every (partition, check) pair appears at most once
    dup = (
        res.verdicts.groupBy("partition_id", "check_id")
        .count()
        .filter(F.col("count") > 1)
        .count()
    )
    assert dup == 0


def test_vector_shape_constraint_catches_each_corruption(spark):
    """VectorShape edge semantics: null vectors are SKIPPED (NotNull's
    job), while wrong dim, NaN, Inf, null elements, and out-of-range
    norms are each a violation — and the materialized violation rows
    identify exactly the corrupted ids."""
    from anomaly_detector_faironchain_spark.plans import VectorShape

    rows = [
        (0, [0.6, 0.8, 0.0]),        # clean, norm 1.0
        (1, [3.0, 4.0, 0.0]),        # norm 5.0 > hi
        (2, [0.1, 0.1, 0.0]),        # norm 0.141 < lo
        (3, [0.6, 0.8]),             # wrong dim
        (4, [float("nan"), 1.0, 0.0]),
        (5, [float("inf"), 1.0, 0.0]),
        (6, [None, 1.0, 0.0]),       # null element
        (7, None),                   # null vector -> NOT a VectorShape hit
    ]
    df = spark.createDataFrame(rows, "id long, vec array<float>")
    spec = TableSpec(
        name="vecs", partition_col=None,
        constraints=(NotNull("vec"), VectorShape("vec", 3, 0.5, 2.0)),
    )
    res = validate_table(df, spec)
    verdicts = {r.check_id: r for r in res.verdicts.collect()}
    assert verdicts["not_null(vec)"].n_violations == 1
    assert verdicts["vector_shape(vec)"].n_violations == 6
    bad_ids = sorted(
        json.loads(r.row_payload)["id"]
        for r in res.violations.filter(
            F.col("check_id") == "vector_shape(vec)"
        ).collect()
    )
    assert bad_ids == [1, 2, 3, 4, 5, 6]


# materialize()'s jobs on the corrupted fixture: the verdict collect and
# the violation count, with their AQE stages, reading only the pins.
MATERIALIZE_JOBS = 7


def test_scan_wave_pins_fk_and_materialize_runs_only_final_jobs(
    spark, corrupted
):
    """validate_table must pin the FK anti-join in the same concurrent
    wave as the profile and row-violation scans (so no full-input pass
    is left to run serially inside the final verdict job), and
    materialize() must run only the two final actions over the pins."""
    df, repos = corrupted
    res = validate_table(df, spec(), refs={"repos": repos})
    # profile, row violations, the Unique duplicate pass, the FK
    # anti-join and the FD violating groups are each pinned once
    assert len(res.cached_frames) >= 4
    sc = spark.sparkContext
    first = probe_job_id(sc, "materialize-a")
    verdicts, n_viol = res.materialize()
    assert probe_job_id(sc, "materialize-b") - first - 1 == MATERIALIZE_JOBS
    # verdict correctness unchanged by the restructure
    by_check = {}
    for r in verdicts:
        by_check.setdefault(r.check_id, 0)
        by_check[r.check_id] += r.n_violations
    assert by_check["fk(repo)->repos(repo)"] == len(DANGLING)
    assert n_viol > 0
    res.unpersist()


def _committed_rows(spark, out_dir: str, name: str) -> list[str]:
    """The committed parquet rows of one output, as sorted JSON lines
    (every column, in column-name order)."""
    df = spark.read.parquet(f"{out_dir}/{name}")
    cols = sorted(df.columns)
    return sorted(
        json.dumps([r[c] for c in cols]) for r in df.select(*cols).collect()
    )


# sha256 of the committed verdict and violation rows (_committed_rows
# joined by newlines) of run_with_checkpoint over the `corrupted`
# fixture, as the engine committed them before its scans were pinned by
# localCheckpoint and its count-type verdicts moved to one count table
COMMITTED_SHA256 = {
    "verdicts": "cf2ce9b00cf12e4b5b6d63ac11b816cad339d060f77e3b3390b2f48cfde444ba",
    "violations": "98b7fb83186d672bc866d54eda97f91e5f2d41ed02357c3312803b2471fc8661",
}


def test_committed_rows_match_the_persist_engine(spark, corrupted, tmp_path):
    """Committed verdicts and violations of a fixture with null, bad-lang,
    truncated, dangling-repo and duplicate-sid rows are the same multiset
    as the persist()-based engine committed (pinned as digests)."""
    import hashlib

    from anomaly_detector_faironchain_spark.plans.checkpoint import (
        run_with_checkpoint,
    )

    df, repos = corrupted
    out = str(tmp_path / "ck")
    res = run_with_checkpoint(df, spec(), out, refs={"repos": repos},
                              run_id="r1")
    res.unpersist()
    for name, want in COMMITTED_SHA256.items():
        rows = _committed_rows(spark, out, name)
        got = hashlib.sha256("\n".join(rows).encode()).hexdigest()
        assert got == want, (name, len(rows))


def test_checkpoint_result_unpersist_releases_every_pin(
    spark, corrupted, tmp_path
):
    """run_with_checkpoint(...).unpersist() frees the scan pins AND the
    commit pins: DataFrame.unpersist() alone never frees a
    localCheckpoint, so the persistent-RDD registry must end where it
    began."""
    from anomaly_detector_faironchain_spark.plans.checkpoint import (
        run_with_checkpoint,
    )

    df, repos = corrupted
    df.count(), repos.count()  # the fixture's own caches are not ours
    sc = spark.sparkContext

    def pinned() -> set[int]:
        return set(sc._jsc.getPersistentRDDs().keys())

    before = pinned()
    res = run_with_checkpoint(df, spec(), str(tmp_path / "ck"),
                              refs={"repos": repos})
    assert pinned() - before, "the result holds no pins"
    res.unpersist()
    assert pinned() - before == set()


def test_functional_dependency_detects_multi_valued_keys(spark):
    from anomaly_detector_faironchain_spark.plans import FunctionalDependency

    df = spark.createDataFrame(
        [
            # commit c1 maps to two repos -> FD violation (4 rows)
            ("r1", "c1", "p0", "en"),
            ("r1", "c1", "p1", "en"),
            ("r2", "c1", "p2", "en"),
            ("r2", "c1", "p3", "en"),
            # commit c2 clean (single repo, many rows)
            ("r1", "c2", "p4", "en"),
            ("r1", "c2", "p5", "de"),
            # null determinant / null dependent are skipped
            ("r3", None, "p6", "en"),
            (None, "c3", "p7", "en"),
            # c4 maps to {r4, NULL} -> passes (null dependent ignored)
            ("r4", "c4", "p8", "en"),
            (None, "c4", "p9", "en"),
        ],
        "repo string, commit string, path string, lang string",
    )
    tspec = TableSpec(
        name="t",
        partition_col="lang",
        constraints=(FunctionalDependency("commit", dependent="repo"),),
    )
    res = validate_table(df, tspec)
    verdicts = {
        r["partition_id"]: (r["passed"], r["n_violations"])
        for r in res.verdicts.collect()
    }
    # all four c1 rows are in partition lang=en
    assert verdicts["en"] == (False, 4)
    assert verdicts["de"] == (True, 0)
    payloads = [
        json.loads(r["row_payload"]) for r in res.violations.collect()
    ]
    assert all(p["commit"] == "c1" for p in payloads)
    assert {p["repo"] for p in payloads} == {"r1", "r2"}
    assert not res.passed()
    res.unpersist()


def test_functional_dependency_clean_passes(spark):
    from anomaly_detector_faironchain_spark.plans import FunctionalDependency

    df = spark.createDataFrame(
        [("r%d" % (i % 5), "c%d" % i, float(i)) for i in range(100)],
        "repo string, commit string, v double",
    )
    tspec = TableSpec(
        name="t",
        partition_col=None,
        constraints=(FunctionalDependency("commit", dependent="repo"),),
    )
    res = validate_table(df, tspec)
    assert res.passed()
    assert res.violations.count() == 0
    res.unpersist()


def test_monotonic_per_key_constraint(spark):
    from anomaly_detector_faironchain_spark.plans import MonotonicPerKey

    df = spark.createDataFrame(
        [
            # k1: 10 -> 20 -> 15: ONE violation (the 15 after max 20)
            ("a", "k1", 1, 10.0),
            ("a", "k1", 2, 20.0),
            ("a", "k1", 3, 15.0),
            # k2: tie in order -> rows at equal order never compare
            ("a", "k2", 1, 5.0),
            ("a", "k2", 1, 4.0),
            # k3: equal values OK non-strict, violation when strict
            ("b", "k3", 1, 1.0),
            ("b", "k3", 2, 1.0),
            # nulls skipped
            ("b", "k4", None, 9.0),
            ("b", None, 2, 3.0),
            ("b", "k5", 3, None),
        ],
        "grp string, key string, ord int, val double",
    )
    tspec = TableSpec(
        name="t",
        partition_col="grp",
        constraints=(MonotonicPerKey("key", order_col="ord", value_col="val"),),
    )
    res = validate_table(df, tspec)
    verdicts = {
        r["partition_id"]: (r["passed"], r["n_violations"])
        for r in res.verdicts.collect()
    }
    assert verdicts["a"] == (False, 1)
    assert verdicts["b"] == (True, 0)
    payloads = [json.loads(r["row_payload"]) for r in res.violations.collect()]
    assert payloads == [{"key": "k1", "ord": 3, "val": 15.0, "prev_max": 20.0}]
    res.unpersist()

    strict_spec = TableSpec(
        name="t",
        partition_col="grp",
        constraints=(
            MonotonicPerKey("key", order_col="ord", value_col="val", strict=True),
        ),
    )
    res2 = validate_table(df, strict_spec)
    verdicts2 = {
        r["partition_id"]: r["n_violations"] for r in res2.verdicts.collect()
    }
    # strict adds k3's equal-value row
    assert verdicts2 == {"a": 1, "b": 1}
    res2.unpersist()


def test_count_match_constraint(spark):
    from anomaly_detector_faironchain_spark.plans import CountMatch

    df = spark.createDataFrame(
        [("a", "k1"), ("a", "k1"), ("a", "k2"), ("b", "k3"), ("b", "k3")],
        "grp string, key string",
    )
    manifest = spark.createDataFrame(
        [("k1", 2), ("k2", 1), ("k3", 1), ("ghost", 4)],
        "mkey string, n_files long",
    )
    tspec = TableSpec(
        name="t",
        partition_col="grp",
        constraints=(
            CountMatch("key", ref_table="manifest",
                       ref_group_cols=("mkey",), expected_col="n_files"),
        ),
    )
    res = validate_table(df, tspec, refs={"manifest": manifest})
    verdicts = {
        r["partition_id"]: (r["passed"], r["n_violations"], r["metric"])
        for r in res.verdicts.collect()
    }
    assert verdicts["a"] == (True, 0, 0.0)            # k1, k2 both match
    assert verdicts["b"] == (False, 1, 1.0)           # k3: 2 rows vs 1 declared
    assert verdicts["__missing__"] == (False, 1, 4.0)  # ghost: declared, absent
    payloads = {
        json.loads(r["row_payload"])["key"]: json.loads(r["row_payload"])
        for r in res.violations.collect()
    }
    assert payloads["k3"] == {"key": "k3", "actual": 2, "expected": 1, "diff": 1}
    assert payloads["ghost"] == {
        "key": "ghost", "actual": 0, "expected": 4, "diff": -4,
    }
    assert not res.passed()
    res.unpersist()


def test_benford_constraint(spark):
    import math

    from anomaly_detector_faironchain_spark.plans import Benford

    # a perfectly Benford-ish partition: counts proportional to
    # log10(1 + 1/d) out of 1000; and a uniform-digit partition (the
    # classic fabricated-data signature, MAD = mean|1/9 - p_exp| ~ 0.0597)
    rows = []
    for d in range(1, 10):
        n_good = round(1000 * math.log10(1 + 1 / d))
        rows += [("good", float(d) + 0.023)] * n_good
        rows += [("flat", float(d) + 0.023)] * 100
    # zero / null rows carry no digit and are skipped
    rows += [("good", 0.0), ("good", None)]
    df = spark.createDataFrame(rows, "grp string, amount double")
    tspec = TableSpec(
        name="t",
        partition_col="grp",
        constraints=(Benford("amount", threshold=0.015),),
    )
    res = validate_table(df, tspec)
    verdicts = {
        r["partition_id"]: (r["passed"], r["metric"])
        for r in res.verdicts.collect()
    }
    assert verdicts["good"][0] is True
    assert verdicts["good"][1] < 0.005
    assert verdicts["flat"][0] is False
    assert abs(verdicts["flat"][1] - 0.0597) < 0.002
    res.unpersist()


def test_freshness_constraint(spark):
    from anomaly_detector_faironchain_spark.plans import Freshness

    # fresh partition (max=990), stale partition (max=500), and a
    # partition whose values are all null → FAILS (absence = staleness)
    rows = (
        [("fresh", float(v)) for v in (100, 990, 400)]
        + [("stale", float(v)) for v in (100, 500)]
        + [("empty", None)]
    )
    df = spark.createDataFrame(rows, "grp string, ts double")
    tspec = TableSpec(
        name="t",
        partition_col="grp",
        constraints=(Freshness("ts", max_age=100.0, as_of=1000.0),),
    )
    res = validate_table(df, tspec)
    verdicts = {
        r["partition_id"]: (r["passed"], r["metric"])
        for r in res.verdicts.collect()
    }
    assert verdicts["fresh"] == (True, 10.0)
    assert verdicts["stale"] == (False, 500.0)
    assert verdicts["empty"][0] is False and verdicts["empty"][1] is None
    # zero extra scans: the max() aggregate lives inside the fused profile
    assert "freshness_max__freshness(ts)" in res.profile.columns
    res.unpersist()


def test_cardinality_bounds_constraint(spark):
    from anomaly_detector_faironchain_spark.plans import CardinalityBounds

    # constant-fill (ratio 1/4), healthy (2/4), exploded (4/4); nulls are
    # excluded from both numerator and denominator; all-null passes
    # vacuously
    rows = (
        [("const", "x")] * 4
        + [("ok", v) for v in ("a", "a", "b", "b")]
        + [("boom", v) for v in ("a", "b", "c", "d")]
        + [("ok", None), ("nulls", None)]
    )
    df = spark.createDataFrame(rows, "grp string, v string")
    for mode in ("exact", "approx"):
        tspec = TableSpec(
            name="t",
            partition_col="grp",
            constraints=(
                CardinalityBounds("v", lo_ratio=0.4, hi_ratio=0.8, mode=mode),
            ),
            profile_len_cols=(),
        )
        res = validate_table(df, tspec)
        verdicts = {
            r["partition_id"]: (r["passed"], r["metric"])
            for r in res.verdicts.filter(
                F.col("check_id").startswith("cardinality")
            ).collect()
        }
        # HLL is exact at these cardinalities, so both modes agree
        assert verdicts["const"] == (False, 0.25), mode
        assert verdicts["ok"] == (True, 0.5), mode
        assert verdicts["boom"] == (False, 1.0), mode
        assert verdicts["nulls"] == (True, 0.0), mode
        if mode == "approx":
            # approx mode rides the fused profile — no extra cached scan
            assert "approx_distinct__cardinality(v)" in res.profile.columns
        res.unpersist()


def test_cardinality_absolute_form(spark):
    from anomaly_detector_faironchain_spark.plans import CardinalityBounds

    rows = (
        [("enumish", v) for v in ("a", "b", "a", "c")]
        + [("exploded", str(i)) for i in range(6)]
        + [("empty", None)]
    )
    df = spark.createDataFrame(rows, "grp string, v string")
    tspec = TableSpec(
        name="t",
        partition_col="grp",
        constraints=(
            CardinalityBounds("v", hi_abs=4, mode="exact"),
        ),
        profile_len_cols=(),
    )
    res = validate_table(df, tspec)
    verdicts = {
        r["partition_id"]: (r["passed"], r["metric"])
        for r in res.verdicts.filter(
            F.col("check_id").startswith("cardinality")
        ).collect()
    }
    assert verdicts["enumish"] == (True, 3.0)
    assert verdicts["exploded"] == (False, 6.0)
    # absolute form: empty partition's distinct count is 0, within [0, 4]
    assert verdicts["empty"] == (True, 0.0)
    res.unpersist()


def test_profile_outlier_constraint(spark):
    from anomaly_detector_faironchain_spark.plans import ProfileOutlier

    # 5 partitions; 'whale' has a shifted mean and a doubled row count;
    # 'leaky' has a raised null fraction against an otherwise-zero-null
    # fleet (degenerate MAD: every deviation is an outlier)
    rows = []
    for g in ("a", "b", "c", "d"):
        rows += [(g, float(v), "x") for v in (10, 11, 12, 13)]
    rows += [("whale", 1000.0, "x")] * 8
    rows += [("leaky", 11.0, None), ("leaky", 12.0, "x"),
             ("leaky", 13.0, "x"), ("leaky", 10.0, "x")]
    df = spark.createDataFrame(rows, "grp string, v double, s string")
    tspec = TableSpec(
        name="t",
        partition_col="grp",
        constraints=(
            ProfileOutlier("mean", "v", z_max=3.5),
            ProfileOutlier("null_fraction", "s", z_max=3.5),
            ProfileOutlier("row_count", z_max=3.5),
        ),
        profile_len_cols=(),
    )
    res = validate_table(df, tspec)
    out = {
        (r["check_id"], r["partition_id"]): r["passed"]
        for r in res.verdicts.filter(
            F.col("check_id").startswith("profile_outlier")
        ).collect()
    }
    assert out[("profile_outlier(mean:v)", "whale")] is False
    assert out[("profile_outlier(mean:v)", "a")] is True
    # degenerate fleet (median null_fraction = 0, MAD = 0): the one
    # deviating partition fails, the exact-median ones pass
    assert out[("profile_outlier(null_fraction:s)", "leaky")] is False
    assert out[("profile_outlier(null_fraction:s)", "b")] is True
    # row counts: 4,4,4,4,8 → MAD 0; only the doubled shard deviates
    assert out[("profile_outlier(row_count)", "whale")] is False
    assert out[("profile_outlier(row_count)", "c")] is True
    res.unpersist()


def test_profile_outlier_null_metric_fails_and_validates_args(spark):
    import pytest as _pytest

    from anomaly_detector_faironchain_spark.plans import ProfileOutlier

    # all-null partition → mean is NULL → the profile cannot vouch for it
    rows = [("a", 1.0), ("a", 2.0), ("b", 1.5), ("dead", None)]
    df = spark.createDataFrame(rows, "grp string, v double")
    tspec = TableSpec(
        name="t",
        partition_col="grp",
        constraints=(ProfileOutlier("mean", "v", z_max=3.5),),
        profile_len_cols=(),
    )
    res = validate_table(df, tspec)
    out = {
        r["partition_id"]: (r["passed"], r["metric"])
        for r in res.verdicts.filter(
            F.col("check_id").startswith("profile_outlier")
        ).collect()
    }
    assert out["dead"][0] is False and out["dead"][1] is None
    res.unpersist()
    with _pytest.raises(ValueError):
        ProfileOutlier("median")  # unknown metric
    with _pytest.raises(ValueError):
        ProfileOutlier("mean")  # missing column
    with _pytest.raises(ValueError):
        ProfileOutlier("row_count", "v")  # spurious column
    with _pytest.raises(ValueError):
        # non-numeric column has no mean__ in the profile
        validate_table(
            df,
            TableSpec(
                name="t",
                partition_col="grp",
                constraints=(ProfileOutlier("mean", "grp"),),
                profile_len_cols=(),
            ),
        )


def test_distribution_outlier_constraint(spark):
    from anomaly_detector_faironchain_spark.plans import DistributionOutlier

    # 8 healthy partitions drawing the same uniform cycle over buckets
    # 1-5; 'shifted' concentrates all mass in one bucket, so its shape
    # diverges from the fleet while the healthy ones (whose buckets all
    # stay populated — eps-smoothed PSI punishes absent buckets hard)
    # barely move; 'empty' has only nulls (vacuous pass)
    rows = []
    for g in ("a", "b", "c", "d", "e", "f", "g", "h"):
        rows += [(g, float(10 + (i % 50))) for i in range(100)]
    rows += [("shifted", 15.0)] * 50
    rows += [("empty", None)] * 3
    df = spark.createDataFrame(rows, "grp string, v double")
    tspec = TableSpec(
        name="t",
        partition_col="grp",
        constraints=(
            DistributionOutlier("v", bins=10, lo=0.0, hi=100.0,
                                psi_max=0.25),
        ),
        profile_len_cols=(),
    )
    res = validate_table(df, tspec, materialize_violations=False)
    out = {
        r["partition_id"]: (r["passed"], r["metric"])
        for r in res.verdicts.filter(
            F.col("check_id").startswith("distribution_outlier")
        ).collect()
    }
    assert out["shifted"][0] is False and out["shifted"][1] > 0.25
    for g in ("a", "b", "c", "d", "e", "f", "g", "h"):
        assert out[g][0] is True
    # all-null partition: no histogram rows → vacuous pass, null metric
    assert out["empty"][0] is True and out["empty"][1] is None
    res.unpersist()


def test_distribution_outlier_categorical_and_whole_table(spark):
    from anomaly_detector_faironchain_spark.plans import DistributionOutlier

    # categorical form: one partition's lang mix collapses to a single
    # value while the fleet is an even two-way split
    rows = []
    for g in ("a", "b", "c", "d", "e"):
        rows += [(g, "py"), (g, "rs")] * 10
    rows += [("mono", "py")] * 20
    df = spark.createDataFrame(rows, "grp string, lang string")
    tspec = TableSpec(
        name="t",
        partition_col="grp",
        constraints=(
            DistributionOutlier("lang", categorical=True, psi_max=0.2),
        ),
        profile_len_cols=(),
    )
    res = validate_table(df, tspec, materialize_violations=False)
    out = {
        r["partition_id"]: r["passed"]
        for r in res.verdicts.filter(
            F.col("check_id").startswith("distribution_outlier")
        ).collect()
    }
    assert out["mono"] is False
    assert out["a"] is True
    res.unpersist()

    # partition_col=None: the whole table compared against itself → PSI
    # ~0 → always passes (degenerate but well-defined)
    tspec1 = TableSpec(
        name="t",
        constraints=(
            DistributionOutlier("lang", categorical=True, psi_max=0.2),
        ),
        profile_len_cols=(),
    )
    res1 = validate_table(df, tspec1, materialize_violations=False)
    row = res1.verdicts.filter(
        F.col("check_id").startswith("distribution_outlier")
    ).collect()
    assert len(row) == 1 and row[0]["passed"] is True
    assert abs(row[0]["metric"]) < 1e-9
    res1.unpersist()


def test_schema_match_constraint(spark):
    import json

    from anomaly_detector_faironchain_spark.plans import SchemaMatch

    df = spark.createDataFrame(
        [(1, "a", [1.0])], "id long, name string, vec array<double>"
    )
    tspec = TableSpec(
        name="t",
        constraints=(
            # exact contract incl. DDL synonyms ('long'≡'bigint') and a
            # structural nested-type comparison
            SchemaMatch(
                ("id", "bigint"), ("name", "string"),
                ("vec", "array<double>"), allow_extra=False,
            ),
            # wrong nested element type + missing column
            SchemaMatch(("vec", "array<float>"), ("ghost", "int")),
            # closed subset: name and vec are undeclared extras
            SchemaMatch(("id", "long"), allow_extra=False),
        ),
        profile_len_cols=(),
    )
    res = validate_table(df, tspec)
    out = {
        r["check_id"]: (r["passed"], r["n_violations"], r["partition_id"])
        for r in res.verdicts.filter(
            F.col("check_id").startswith("schema_match")
        ).collect()
    }
    assert out["schema_match(id,name,vec)"] == (True, 0, "__schema__")
    assert out["schema_match(vec,ghost)"] == (False, 2, "__schema__")
    assert out["schema_match(id)"] == (False, 2, "__schema__")
    # violation payloads name the offending column and both types
    viol = {
        json.loads(r["row_payload"])["column"]: json.loads(r["row_payload"])
        for r in res.violations.filter(
            F.col("check_id") == "schema_match(vec,ghost)"
        ).collect()
    }
    assert viol["vec"]["expected"] == "array<float>"
    assert viol["vec"]["actual"] == "array<double>"
    assert viol["ghost"]["actual"] is None
    res.unpersist()


def test_schema_match_only_spec_runs_zero_data_jobs(spark):
    """A spec holding ONLY SchemaMatch constraints must not scan the
    data: verdicts derive from df.schema, so collecting them launches no
    job that reads the input rows (the verdict plan is a local scan)."""
    from anomaly_detector_faironchain_spark.plans import SchemaMatch

    df = spark.range(10).selectExpr("id", "cast(id as string) as s")
    tspec = TableSpec(
        name="t",
        constraints=(SchemaMatch(("id", "bigint"), ("s", "string")),),
        profile_len_cols=(),
    )
    res = validate_table(df, tspec, materialize_violations=False)
    plan = res.verdicts._jdf.queryExecution().executedPlan().toString()
    assert ("LocalTableScan" in plan or "ExistingRDD" in plan)
    assert "Range" not in plan
    rows = res.verdicts.collect()
    assert len(rows) == 1 and rows[0]["passed"] is True


def test_correlation_constraint(spark):
    from anomaly_detector_faironchain_spark.plans import (
        Correlation,
        TableSpec,
    )
    from anomaly_detector_faironchain_spark.plans.compiler import (
        validate_table,
    )

    # p_corr: y tracks x (corr ~1). p_anti: y = -x (corr -1).
    # p_shuffled: same marginals as p_corr but y decoupled from x.
    # p_const: zero variance in y -> correlation undefined.
    # p_tiny: a single row -> undefined.
    base = spark.range(200).select(
        F.col("id").alias("x"), (F.col("id") * 2).alias("y")
    )
    df = (
        base.withColumn("part", F.lit("p_corr"))
        .unionByName(
            base.select("x", (-F.col("x")).alias("y"))
            .withColumn("part", F.lit("p_anti"))
        )
        .unionByName(
            base.select(
                "x",
                (F.xxhash64("x") % 1000).cast("long").alias("y"),
            ).withColumn("part", F.lit("p_shuffled"))
        )
        .unionByName(
            base.select("x", F.lit(7).cast("long").alias("y"))
            .withColumn("part", F.lit("p_const"))
        )
        .unionByName(
            spark.range(1).select(
                F.col("id").alias("x"), F.col("id").alias("y"),
                F.lit("p_tiny").alias("part"),
            )
        )
    )
    spec = TableSpec(
        name="t", partition_col="part",
        constraints=(Correlation("x", "y", lo=0.8, hi=1.0),),
    )
    res = validate_table(df, spec)
    got = {
        r["partition_id"]: r
        for r in res.verdicts.filter(
            F.col("check_id") == "corr(x,y)"
        ).collect()
    }
    assert got["p_corr"]["passed"] and got["p_corr"]["metric"] > 0.999
    assert not got["p_anti"]["passed"] and got["p_anti"]["metric"] < -0.999
    assert not got["p_shuffled"]["passed"]
    assert abs(got["p_shuffled"]["metric"]) < 0.3
    # undefined -> vacuous pass with null metric (default)
    for p in ("p_const", "p_tiny"):
        assert got[p]["passed"] and got[p]["metric"] is None

    strict = TableSpec(
        name="t", partition_col="part",
        constraints=(
            Correlation("x", "y", lo=0.8, hi=1.0, allow_undefined=False),
        ),
    )
    got2 = {
        r["partition_id"]: r["passed"]
        for r in validate_table(df, strict).verdicts.filter(
            F.col("check_id") == "corr(x,y)"
        ).collect()
    }
    assert not got2["p_const"] and not got2["p_tiny"]
