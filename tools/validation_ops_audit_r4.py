"""Round-4 scale audit of the round-3 VALIDATION additions (VERDICT r3
item 5) — the same treatment the curation ops got in r3
(BENCH/curation_ops_scale_audit_r3.json), which caught two real
would-not-survive-100x bugs the 500-doc oracles never could.

Audited at the 2M-row heavy bench fixture (~7.3 GB of text, log-uniform
64..16k-char bodies), local[32]:

  - sampled_row_screen: 1% deterministic-hash screen + Wilson
    certification vs the full exact validate (speedup + verdict parity)
  - suggest_constraints (approx mode, FD candidates commit->repo)
  - quarantine split_rows (count both sides; map-only contract)
  - SnapshotTable append + validate_new_snapshots increment (the
    snapshot commit path writing real multi-GB parquet)
  - render_corpus_report (post-null-lang-fix re-measurement vs the
    r3 number 105.4 s)
  - cross_entropy_score throughput on 200k heavy docs (the r4 run also
    timed the dict loop against it; that arm is deleted and its result
    stays in BENCH/validation_ops_scale_audit_r4.json)

Usage: python tools/validation_ops_audit_r4.py [out.json]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import bench  # cpu canary

OUT = sys.argv[1] if len(sys.argv) > 1 else "BENCH/validation_ops_scale_audit_r4.json"
FIXTURE = "/tmp/bench_source_files/r2000000_l6_15"
ROWS = 2_000_000


def main() -> None:
    from anomaly_detector_faironchain_spark.datagen import source_files as gen
    from anomaly_detector_faironchain_spark.operators import text as text_ops
    from anomaly_detector_faironchain_spark.operators.sampled import (
        sampled_row_screen,
    )
    from anomaly_detector_faironchain_spark.plans.compiler import validate_table
    from anomaly_detector_faironchain_spark.plans.corpus_report import (
        render_corpus_report,
    )
    from anomaly_detector_faironchain_spark.plans.quarantine import split_rows
    from anomaly_detector_faironchain_spark.plans.snapshots import (
        SnapshotTable,
        validate_new_snapshots,
    )
    from anomaly_detector_faironchain_spark.plans.suggest import (
        suggest_constraints,
    )
    from anomaly_detector_faironchain_spark.session import get_spark
    from anomaly_detector_faironchain_spark.specs import north_rule_spec

    report: dict = {
        "what": ("round-4 scale audit of the r3 validation additions over "
                 f"the {ROWS // 1_000_000}M-row heavy bench fixture "
                 "(log-uniform 64..16k-char bodies), local[32]"),
        "canary_pre_mips": bench.cpu_canary(32),
        "ops": {},
    }
    spark = get_spark("validation-ops-audit", cores=32,
                      extra_conf={"spark.driver.memory": "48g"})

    # fixture (shared with scale_audit_r4 / scaling_bench)
    try:
        df = spark.read.parquet(f"{FIXTURE}/input")
        repos = spark.read.parquet(f"{FIXTURE}/repos")
        assert df.count() == ROWS
    except Exception:  # noqa: BLE001
        shutil.rmtree(FIXTURE, ignore_errors=True)
        files = gen.generate_source_files(spark, ROWS, seed=42,
                                          len_exp_lo=6, len_exp_hi=15)
        man = gen.manifest(files)
        repos_df, _ = gen.companion_dims(files)
        files.join(man, "file_sid").repartition(128) \
             .write.parquet(f"{FIXTURE}/input")
        repos_df.write.parquet(f"{FIXTURE}/repos")
        df = spark.read.parquet(f"{FIXTURE}/input")
        repos = spark.read.parquet(f"{FIXTURE}/repos")
    df.count()  # page-cache warm
    spec = north_rule_spec()

    def timed(fn):
        t0 = time.time()
        out = fn()
        return round(time.time() - t0, 2), out

    # -- exact validate (the comparison bar for the screen) -----------------
    def full():
        res = validate_table(df, spec, refs={"repos": repos},
                             materialize_violations=True)
        res.materialize()
        n = res.verdicts.count()
        res.unpersist()
        return n

    full()  # warm
    sec_full, n_verd = timed(full)
    report["ops"]["validate_exact_full"] = {
        "sec": sec_full, "files_per_sec": round(ROWS / sec_full, 1),
        "n_verdicts": n_verd,
    }

    # -- sampled screen ------------------------------------------------------
    def screen():
        out = sampled_row_screen(df, spec, sample_key="file_sid",
                                 fraction=0.01)
        return out.collect()

    screen()  # warm
    sec_scr, rows_scr = timed(screen)
    n_exact = sum(1 for r in rows_scr if r.method == "exact")
    report["ops"]["sampled_row_screen_1pct_tol0"] = {
        "sec": sec_scr,
        "speedup_vs_exact": round(sec_full / sec_scr, 2),
        "n_screen_rows": len(rows_scr),
        "n_escalated_exact": n_exact,
        "all_passed_on_clean_fixture": all(r.passed for r in rows_scr),
        "note": ("tolerance=0 can NEVER be certified from a sample (the "
                 "Wilson UCB of 0/n is > 0), so every partition escalates "
                 "by design — the zero-tolerance screen is only the "
                 "stacked-predicate replay, still ~3x the full suite"),
    }

    # the intended fast path: a nonzero violation-rate budget lets the
    # sample certify clean partitions and skip the exact scan entirely
    def screen_tol():
        out = sampled_row_screen(df, spec, sample_key="file_sid",
                                 fraction=0.01, tolerance=0.005)
        return out.collect()

    screen_tol()  # warm
    sec_st, rows_st = timed(screen_tol)
    report["ops"]["sampled_row_screen_1pct_tol0p5pct"] = {
        "sec": sec_st,
        "speedup_vs_exact": round(sec_full / sec_st, 2),
        "n_escalated_exact": sum(1 for r in rows_st if r.method == "exact"),
        "all_passed": all(r.passed for r in rows_st),
    }

    # -- suggest_constraints -------------------------------------------------
    def suggest():
        return suggest_constraints(
            df, "source_files", distinct_mode="approx",
            fd_candidates=(("commit", "repo"), ("path", "repo")),
        )

    sec_sug, rep = timed(suggest)
    report["ops"]["suggest_constraints_approx"] = {
        "sec": sec_sug, "n_suggestions": len(rep.suggestions),
        "kinds": sorted({s.kind for s in rep.suggestions}),
    }

    # -- quarantine split ----------------------------------------------------
    def quarantine():
        clean, quar = split_rows(df, spec)
        return clean.count(), quar.count()

    quarantine()  # warm
    sec_q, (n_clean, n_quar) = timed(quarantine)
    report["ops"]["quarantine_split"] = {
        "sec": sec_q, "rows_per_sec": round(ROWS / sec_q, 1),
        "n_clean": n_clean, "n_quarantine": n_quar,
        "partition_exact": n_clean + n_quar == ROWS,
    }

    # -- snapshot layer: two appends + incremental validation ----------------
    snap_dir = "/tmp/audit_snap_r4"
    ckpt_dir = "/tmp/audit_snap_r4_ckpt"
    shutil.rmtree(snap_dir, ignore_errors=True)
    shutil.rmtree(ckpt_dir, ignore_errors=True)
    table = SnapshotTable.create(snap_dir)
    half = df.limit(ROWS // 2)
    sec_a1, _ = timed(lambda: table.append(half))
    sec_v1, (wm1, _res1) = timed(
        lambda: validate_new_snapshots(spark, table, spec, ckpt_dir,
                                       refs={"repos": repos})
    )
    sec_a2, _ = timed(lambda: table.append(half))
    sec_v2, (wm2, _res2) = timed(
        lambda: validate_new_snapshots(spark, table, spec, ckpt_dir,
                                       refs={"repos": repos})
    )
    report["ops"]["snapshot_append_validate"] = {
        "append1_sec": sec_a1, "validate_inc1_sec": sec_v1,
        "append2_sec": sec_a2, "validate_inc2_sec": sec_v2,
        "watermarks": [wm1, wm2],
        "rows_per_increment": ROWS // 2,
    }
    shutil.rmtree(snap_dir, ignore_errors=True)
    shutil.rmtree(ckpt_dir, ignore_errors=True)

    # -- corpus report (post null-lang fix) ----------------------------------
    def corpus():
        return render_corpus_report(
            df, id_col="file_sid", text_col="content",
            lang_col="lang", source_col="repo",
        )

    sec_c, md = timed(corpus)
    report["ops"]["corpus_report"] = {
        "sec": sec_c, "r3_sec_for_comparison": 105.4,
        "report_chars": len(md),
    }

    # -- cross_entropy_score throughput ---------------------------------------
    # NB: limit() alone collapses to ONE task downstream (GlobalLimit);
    # repartition so the timing measures the operator, not a 1/32 core run
    sample = df.limit(200_000).select(
        "file_sid", df["content"].alias("text")
    ).repartition(64).cache()
    sample.count()
    model = text_ops.char_ngram_model(
        sample.limit(20_000).repartition(32), "text", n=3, top_k=50_000
    )
    total_ngrams = sample.selectExpr(
        "sum(greatest(length(text) - 2, 0)) as n"
    ).collect()[0].n

    def ce():
        out = text_ops.cross_entropy_score(
            sample, "file_sid", "text", model, n=3)
        return out.count()

    ce()  # warm
    sec_vec, n_docs = timed(ce)
    report["ops"]["cross_entropy_200k_heavy_docs_n3"] = {
        "vectorized_sec": sec_vec,
        "vectorized_mngrams_per_sec": round(total_ngrams / sec_vec / 1e6, 1),
        "r3_loop_mngrams_per_sec_for_comparison": 140.9,
        "n_docs": n_docs,
    }
    sample.unpersist()

    report["canary_post_mips"] = bench.cpu_canary(32)
    report["window_healthy"] = (
        min(report["canary_pre_mips"], report["canary_post_mips"])
        >= 0.75 * bench.CANARY_CEILING_MIPS
    )
    with open(OUT, "w") as f:
        json.dump(report, f, indent=2)
    print(json.dumps(report, indent=2))


if __name__ == "__main__":
    main()
