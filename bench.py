"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric", "value", "unit", "queries", "sf", ...}.

The north-rule headline metric is validated files/sec for the full
constraint suite over a generated source_files table (BASELINE.json);
alongside it the suite queries are timed individually.
"""

from __future__ import annotations

import glob
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from anomaly_detector_faironchain_spark import suite  # noqa: E402
from anomaly_detector_faironchain_spark.datagen import source_files as gen  # noqa: E402
from anomaly_detector_faironchain_spark.plans.compiler import validate_table  # noqa: E402
from anomaly_detector_faironchain_spark.session import get_spark  # noqa: E402
from anomaly_detector_faironchain_spark.specs import north_rule_spec  # noqa: E402

# Headline subset: one per operator family (full suite runs in pytest /
# correctness gate; bench keeps wall-clock bounded while covering every
# execution pattern: fused agg, two-phase unique, anti-join, drift,
# window rank, threshold rules).
HEADLINE = [
    "validation_verdicts",
    "profile_stats",
    "unique_duplicates",
    "fk_violations_salted",
    "psi_drift",
    "ks_drift",
    "rule_flags",
    "hazen_percentile",
    "pricing_summary",
]

# 2M rows ≈ 7.5 GB decompressed: large enough that per-job overhead is
# amortized and the headline number reflects steady-state throughput
SOURCE_FILES_ROWS = int(os.environ.get("BENCH_SOURCE_ROWS", "2000000"))


def bench_source_files(spark, work_dir: str = "/tmp/bench_source_files") -> tuple[float, int]:
    """North-rule metric: full constraint suite over source_files.

    The fixture (table + manifest join + dims) is materialized to parquet
    OUTSIDE the timed region — the metric measures validation, not data
    generation.
    """
    import shutil

    tag = f"{work_dir}/r{SOURCE_FILES_ROWS}"
    try:
        df = spark.read.parquet(f"{tag}/input")
        repos = spark.read.parquet(f"{tag}/repos")
        if df.count() != SOURCE_FILES_ROWS:
            raise ValueError("stale fixture")
    except Exception:  # noqa: BLE001 — (re)build the fixture
        shutil.rmtree(tag, ignore_errors=True)
        files = gen.generate_source_files(spark, SOURCE_FILES_ROWS, seed=42)
        man = gen.manifest(files)
        repos_df, _ = gen.companion_dims(files)
        files.join(man, "file_sid").write.parquet(f"{tag}/input")
        repos_df.write.parquet(f"{tag}/repos")
        df = spark.read.parquet(f"{tag}/input")
        repos = spark.read.parquet(f"{tag}/repos")

    def run() -> float:
        t0 = time.time()
        res = validate_table(df, north_rule_spec(), refs={"repos": repos},
                             materialize_violations=True)
        res.materialize()
        wall = time.time() - t0
        # release this run's pinned scans: otherwise a later run on the
        # same frame reads every persisted scan from cache and times
        # cache hits, not validation
        res.unpersist()
        return wall

    run()  # warm-up: JIT + page cache; throughput is the steady state
    return min(run(), run()), SOURCE_FILES_ROWS


# EP2 corpus: 2M abstract transfers over 20k accounts (degree ~100 —
# motif/egonet joins dominate, which is the path being regression-guarded).
# Scaled-up benches hold DENSITY constant (accounts grow with rows,
# degree stays ~100): wedge enumeration is Σ deg² work, so scaling edges
# 10x at fixed accounts makes the motif stage ~100x — measured in the r4
# scale audit, where 20M transfers over the 2M fixture's 20k accounts
# (degree ~1000) filled >60 GB of wedge shuffle and died. A real corpus
# grows its account space with its edge count; a denser graph is a
# harder PROBLEM, not a bigger instance of the same one.
TRANSFER_ROWS = int(os.environ.get("BENCH_TRANSFER_ROWS", "2000000"))
TRANSFER_ACCOUNTS = int(os.environ.get(
    "BENCH_TRANSFER_ACCOUNTS", str(max(20_000, TRANSFER_ROWS // 100))
))


def bench_analysis_pipeline(spark, work_dir: str = "/tmp/bench_transfers") -> float:
    """EP2 wall time: the full anomaly-analysis pipeline (graph build →
    node/motif/egonet features → rules + Mahalanobis + IsolationForest →
    distributed Hazen/top-percent scores → materialized result).

    iforest max_samples is capped at 2048 for the bench: the numpy fit is
    a driver-side cost knob (the reference's 100k assumes sklearn's C
    trees); 300 trees × 2048 samples keeps the fit a few seconds while
    still exercising the broadcast + Arrow scoring path at full width.
    """
    from anomaly_detector_faironchain_spark.analysis import pipeline  # noqa: E402
    from anomaly_detector_faironchain_spark.etl import abstract, rawgen  # noqa: E402

    import shutil

    tag = f"{work_dir}/r{TRANSFER_ROWS}_v2"  # v2: shared account space
    if TRANSFER_ACCOUNTS != 20_000:
        tag = f"{work_dir}/r{TRANSFER_ROWS}_a{TRANSFER_ACCOUNTS}_v2"
    try:
        tt = spark.read.parquet(tag)
        if tt.count() != TRANSFER_ROWS:
            raise ValueError("stale fixture")
    except Exception:  # noqa: BLE001 — (re)build the fixture
        shutil.rmtree(tag, ignore_errors=True)
        rt = rawgen.raw_native_transfers(
            spark, TRANSFER_ROWS, max(TRANSFER_ROWS // 50, 1),
            n_accounts=TRANSFER_ACCOUNTS, shared_account_space=True,
        )
        abstract.build_abstract_token_transfer(
            abstract.clean_native_transfers(rt)
        ).write.parquet(tag)
        tt = spark.read.parquet(tag)

    def run() -> float:
        t0 = time.time()
        res = pipeline.run_anomaly_analysis(
            tt, min_amount=1e12,
            iforest_params={"max_samples": 2048},
        )
        res.count()  # result is localCheckpoint'ed; count is a fetch
        return time.time() - t0

    # EP2 is minutes per run on a degraded host (measured 62 s in a quiet
    # window, 171 s in a contended one), so the default is warm-up + ONE
    # timed run to keep the whole bench inside a per-round time budget;
    # BENCH_EP2_RUNS=2 restores min-of-2 for record runs.
    n_runs = int(os.environ.get("BENCH_EP2_RUNS", "1"))
    run()  # warm-up
    return min(run() for _ in range(max(n_runs, 1)))


def cpu_canary(n_procs: int, seconds: float = 2.0) -> float:
    """Pure-CPU health canary (no Spark): n_procs independent python
    integer-burn subprocesses for ~`seconds`; returns aggregate million
    iterations/sec. The sandbox host shows time-correlated slowdowns of
    up to ~3x (documented in BENCH/BASELINE.md); stamping the canary
    before AND after the suite makes a degraded measurement window
    self-evident in the bench JSON instead of masquerading as a code
    regression. Best-of-2 (the burn itself jitters ±30% second-to-second
    on this host). Healthy @32 procs with THIS loop shape: ~720-770
    M iter/s (calibrated 2026-08-18, CANARY_CEILING_MIPS); a run whose
    canary sits well below that is a contaminated window."""
    import subprocess

    code = (
        "import time\n"
        f"t0 = time.time(); n = 0\n"
        f"while time.time() - t0 < {seconds}:\n"
        "    for _ in range(100000): pass\n"
        "    n += 100000\n"
        "print(n / (time.time() - t0))"
    )
    best = 0.0
    for _ in range(2):
        procs = [
            subprocess.Popen([sys.executable, "-c", code],
                             stdout=subprocess.PIPE, text=True)
            for _ in range(n_procs)
        ]
        total = sum(float(p.communicate()[0].strip()) for p in procs)
        best = max(best, total / 1e6)
    return round(best, 1)


CANARY_CEILING_MIPS = 770.0  # best healthy-window @32 procs (2026-08-18)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    canary_pre = cpu_canary(int(cpus))
    spark = get_spark("bench", cores=cpus)

    # warm the JVM/session so per-query timings measure the plan, not
    # init: one parquet-scan query primes codegen, Arrow, and page cache
    spark.range(1000).count()
    suite.QUERIES["pricing_summary"](spark, sf_dir).collect()

    # IO pre-warm + stamp: touch every input table once so per-query
    # timings measure the plan, not the page-cache state. The CPU canary
    # CANNOT see IO-cold windows (measured: canaries ~1000 MIPS while
    # throughput sat 10x down on cold parquet — BENCH/BASELINE.md,
    # round-3 anomaly investigation); io_warm_sec makes that state
    # visible in the bench JSON instead.
    t0 = time.time()
    for f in sorted(glob.glob(f"{sf_dir}/*.parquet")):
        spark.read.parquet(f).count()
    io_warm_sec = round(time.time() - t0, 3)

    timings: dict[str, float] = {}
    for name in HEADLINE:
        fn = suite.QUERIES[name]
        t0 = time.time()
        fn(spark, sf_dir).collect()
        timings[name] = round(time.time() - t0, 3)

    sf_seconds, n_files = bench_source_files(spark)
    timings["source_files_suite"] = round(sf_seconds, 3)
    timings["analysis_pipeline"] = round(bench_analysis_pipeline(spark), 3)
    total = round(sum(timings.values()), 3)

    canary_post = cpu_canary(int(cpus))

    sf_label = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    try:
        sf_val = float(sf_label)
    except ValueError:
        sf_val = sf_label
    print(json.dumps({
        "metric": "validated files/sec (full constraint suite, source_files)",
        "value": round(n_files / sf_seconds, 1),
        "unit": "files/sec",
        "queries": timings,
        "suite_total_sec": total,
        "source_files_rows": n_files,
        "sf": sf_val,
        "cores": cpus,
        # host-health stamps: compare against canary_ceiling_mips —
        # a window where these sit far below ceiling is host
        # contamination, not a code regression (BENCH/BASELINE.md)
        "io_warm_sec": io_warm_sec,
        "canary_pre_mips": canary_pre,
        "canary_post_mips": canary_post,
        "canary_ceiling_mips": CANARY_CEILING_MIPS,
        "window_healthy": bool(
            min(canary_pre, canary_post) >= 0.75 * CANARY_CEILING_MIPS
        ),
    }))


if __name__ == "__main__":
    main()
