"""Streaming incremental validation, guarded SQL surface, and
checkpoint/resume semantics.
"""

from __future__ import annotations

import json
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from anomaly_detector_faironchain_spark.datagen import source_files as gen
from anomaly_detector_faironchain_spark.plans import (
    InSet,
    NotNull,
    TableSpec,
    Unique,
)
from anomaly_detector_faironchain_spark.plans.checkpoint import (
    completed_partitions,
    run_with_checkpoint,
)
from anomaly_detector_faironchain_spark.plans.sqlapi import (
    SqlGuardError,
    guard_sql,
    run_sql,
    top_failing_partitions,
)
from anomaly_detector_faironchain_spark.streaming import validate_stream

SF = "/root/testdata/sf0.001"


def _docs_spec() -> TableSpec:
    return TableSpec(
        name="documents",
        partition_col="source",
        constraints=(
            NotNull("doc_id", "text", "lang"),
            Unique("doc_id"),
            InSet("lang", ("en", "de", "es", "fr", "zh")),
        ),
    )


def test_streaming_matches_batch(spark, tmp_path):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    in_dir = tmp_path / "in"
    # two file drops — two micro-batches under availableNow+maxFilesPerTrigger
    docs.filter("doc_id % 2 = 0").coalesce(1).write.parquet(str(in_dir / "a"))
    docs.filter("doc_id % 2 = 1").coalesce(1).write.parquet(str(in_dir / "b"))
    out = tmp_path / "out"
    spark.catalog.clearCache()
    validate_stream(
        spark,
        f"{in_dir}/*",
        docs.schema,
        _docs_spec(),
        str(out),
        max_files_per_trigger=1,
    )
    # every micro-batch released the scans it cached
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
    got = spark.read.parquet(str(out / "verdicts"))
    assert got.select("batch_id").distinct().count() >= 2
    # summed violations across micro-batches == batch run on the full table
    from anomaly_detector_faironchain_spark.plans.compiler import validate_table
    batch = validate_table(docs, _docs_spec())
    merged = got.groupBy("check_id").agg(F.sum("n_violations").alias("v"))
    ref = batch.verdicts.groupBy("check_id").agg(F.sum("n_violations").alias("v"))
    assert {(r.check_id, r.v) for r in merged.collect()} == \
           {(r.check_id, r.v) for r in ref.collect()}


def test_sql_guard_rejects_non_select_and_ddl():
    with pytest.raises(SqlGuardError):
        guard_sql("DROP TABLE t")
    with pytest.raises(SqlGuardError):
        guard_sql("SELECT * FROM t; CREATE TABLE x AS SELECT 1")
    with pytest.raises(SqlGuardError):
        guard_sql("  update t set a=1")
    assert guard_sql("  SELECT doc_id FROM t LIMIT 3").startswith("SELECT")


def test_run_sql_executes_guarded_select(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    out = run_sql(spark, docs, "SELECT lang, count(*) AS n FROM t GROUP BY lang")
    assert out.count() > 0 and set(out.columns) == {"lang", "n"}


def test_top_failing_partitions_ranking(spark):
    from anomaly_detector_faironchain_spark.plans.compiler import validate_table
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    bad_spec = TableSpec(
        name="documents", partition_col="source",
        constraints=(InSet("lang", ("en",)),),  # most rows violate
    )
    res = validate_table(docs, bad_spec)
    top = top_failing_partitions(res.verdicts, n=5).collect()
    assert len(top) == 5
    assert [r.ranking for r in top] == [1, 2, 3, 4, 5]
    viols = [r.n_violations for r in top]
    assert viols == sorted(viols, reverse=True)


def test_checkpoint_resume_skips_completed(spark, tmp_path):
    files = gen.generate_source_files(spark, 1000, seed=3, partitions=4)
    man = gen.manifest(files)
    repos, _ = gen.companion_dims(files)
    df = files.join(man, "file_sid")
    from anomaly_detector_faironchain_spark.specs import north_rule_spec
    out = tmp_path / "ckpt"
    r1 = run_with_checkpoint(df, north_rule_spec(), str(out), refs={"repos": repos})
    assert r1 is not None and r1.passed()
    done = completed_partitions(str(out))
    assert len(done) > 1
    # full re-run: nothing left to validate
    assert run_with_checkpoint(df, north_rule_spec(), str(out), refs={"repos": repos}) is None
    # invalidate ONE partition manifest → only that partition re-scans
    victim = sorted(done)[0]
    mdir = Path(out) / "_manifest"
    for f in mdir.glob("*.json"):
        if json.loads(f.read_text())["partition_id"] == victim:
            f.unlink()
    r2 = run_with_checkpoint(df, north_rule_spec(), str(out), refs={"repos": repos})
    assert r2 is not None
    scanned = [r.partition_id for r in r2.profile.select("partition_id").collect()]
    assert scanned == [victim]


def test_v1_address_response_contract_matches_reference(spark):
    """Dict shape mirrors reference api/app.py:117-186 exactly: nested
    meta/features/scores/explanations, infra null profile, ETH strings."""
    from anomaly_detector_faironchain_spark.plans import sqlapi

    cols = ("address string, is_infra int, in_degree long, out_degree long, "
            "in_transfer_count long, out_transfer_count long, "
            "total_input_amount double, total_output_amount double, "
            "has_self_loop int, two_node_loop_count long, "
            "triangle_loop_count long, egonet_density double, "
            "H1_flag int, H1_description string, H2_flag int, H2_description string, "
            "H3_flag int, H3_description string, H4_flag int, H4_description string, "
            "H5_flag int, H5_description string, H6_flag int, H6_description string, "
            "rule_score_100 float, mahalanobis_distance_stats_score_100 float, "
            "iforest_stats_score_100 float, final_score_0_100 float, "
            "final_score_top_percent_display string")
    h = {f"H{i}": v for i, v in
         [(1, (1, "H1: desc")), (2, (0, "")), (3, (0, "")),
          (4, (0, "")), (5, (1, "H5: desc")), (6, (0, ""))]}
    flags = [x for i in range(1, 7) for x in h[f"H{i}"]]
    rows = [
        tuple(["0xAbC1", 0, 7, 2, 11, 3, 2.5e18, 1.2e18, 1, 2, 0, 0.25]
              + flags + [33.33, 91.2345, 88.5, 71.0, "0.50%"]),
        tuple(["0xinfra", 1, 0, 0, 0, 0, 0.0, 0.0, 0, 0, 0, 0.0]
              + [0, ""] * 6 + [None, None, None, None, None]),
    ]
    df = spark.createDataFrame(rows, cols)

    resp = sqlapi.address_profile(df, "0xABC1", chain="ethereum",
                                  period="2023-01")
    assert set(resp) == {"meta", "features", "scores", "explanations"}
    assert set(resp["meta"]) == {"chain", "period", "address", "units"}
    assert set(resp["meta"]["units"]) == {"amounts", "egonet_density",
                                          "degree", "scores"}
    assert set(resp["features"]) == {"is_infra", "degree", "amounts",
                                     "motifs", "egonet"}
    assert set(resp["features"]["degree"]) == {
        "in_degree", "out_degree", "in_transfer_count", "out_transfer_count"}
    assert resp["features"]["amounts"] == {
        "total_input_amount_eth": "2.500000",
        "total_output_amount_eth": "1.200000"}
    assert resp["features"]["motifs"] == {
        "self_loop_count": 1, "two_node_loop_count": 2,
        "triangle_loop_count": 0}
    assert resp["features"]["egonet"] == {"egonet_density": 0.2}
    assert resp["scores"] == {
        "rule_score_100": 33.3, "mahalanobis_stats_100": 91.2,
        "iforest_stats_100": 88.5, "final_score_0_100": 71.0,
        "final_score_top_percent": "0.50%"}
    assert resp["explanations"]["rule_ids"] == ["H1", "H5"]
    assert resp["explanations"]["rules"][0] == {
        "rule": "H1", "description": "H1: desc"}

    infra = sqlapi.address_profile(df, "0xINFRA")
    assert infra["features"] == {"is_infra": True, "degree": None,
                                 "amounts": None, "motifs": None,
                                 "egonet": None}
    assert infra["scores"] is None and infra["explanations"] is None

    assert sqlapi.address_profile(df, "0xmissing") is None

    top = sqlapi.top_addresses(df, n=5)
    assert top[0] == {"ranking": 1, "address": "0xAbC1",
                      "final_score_0_100": 71.0}
    assert [t["ranking"] for t in top] == [1, 2]


def test_source_adapter_resolves_refs(spark, tmp_path):
    from anomaly_detector_faironchain_spark.sources import load_table

    df = spark.range(5).withColumnRenamed("id", "x")
    pq = str(tmp_path / "t.parquet")
    df.write.parquet(pq)
    csv = str(tmp_path / "t.csv")
    df.write.option("header", True).csv(csv)

    assert load_table(spark, pq).count() == 5                   # bare path
    assert load_table(spark, f"parquet:{pq}").count() == 5      # prefixed
    assert load_table(spark, f"csv:{csv}").count() == 5
    assert load_table(spark, csv, default_format="csv").count() == 5

    df.createOrReplaceTempView("adapter_view")
    assert load_table(spark, "table:adapter_view").count() == 5

    # URI schemes are not formats: the scheme must survive resolution
    with pytest.raises(Exception) as ei:
        load_table(spark, f"file:{pq}x_missing")
    assert "x_missing" in str(ei.value)

    # iceberg: without the runtime jar → Spark's own error, annotated
    # with the --packages hint (the production path needs the catalog)
    with pytest.raises(Exception) as ei:
        load_table(spark, "iceberg:lake.db.tbl")
    notes = getattr(ei.value, "__notes__", [])
    assert any("iceberg-spark-runtime" in n for n in notes)


def test_streaming_curation_matches_batch(spark, tmp_path):
    # two arrival batches: originals first, exact copies (doc_id+100000)
    # second → the state-store dedup keeps the originals, matching the
    # batch keeper rule (min id); the gate is the same projection, so the
    # curated sets must be identical
    from anomaly_detector_faironchain_spark.operators import curation
    from anomaly_detector_faironchain_spark.streaming.curation import (
        curate_stream,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    indir = tmp_path / "in"
    docs.write.parquet(str(indir / "b0"))
    docs.select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text"
    ).write.parquet(str(indir / "b1"))

    out = tmp_path / "out"
    q = curate_stream(
        spark, f"{indir}/*", docs.schema, str(out),
        available_now=True,
    )
    q.awaitTermination(120)

    # keeper IDENTITY differs by arrival/batching order (streaming keeps
    # first-seen, batch keeps min id) — compare modulo the +100000 copy
    # offset, which collapses a keeper and its exact copy to one key
    got = {
        (r.id % 100000, r.predicted_lang, r.n_tokens, r.quality)
        for r in spark.read.parquet(str(out / "curated")).collect()
    }
    batch_input = docs.unionByName(
        docs.select((F.col("doc_id") + 100000).alias("doc_id"), "text")
    )
    want = {
        (r.id % 100000, r.predicted_lang, r.n_tokens, r.quality)
        for r in curation.curate_documents(batch_input, "doc_id", "text").collect()
    }
    assert got == want and len(got) > 0


def test_drift_reference_loop_through_checkpoint(spark, tmp_path):
    """Run N validates against run N-1's persisted histogram: run 1
    bootstraps against itself (passes, becomes baseline), run 2 brings a
    shifted batch and must FAIL the drift check against run 1's
    snapshot, run 3 finds nothing left to scan."""
    from anomaly_detector_faironchain_spark.plans.spec import Drift, TableSpec

    out = str(tmp_path / "drift_ck")
    spec = TableSpec(
        name="t", partition_col="batch",
        constraints=(
            Drift("x", method="psi", bins=20, lo=0.0, hi=200.0, threshold=0.2),
        ),
    )
    b1 = spark.range(5000).selectExpr(
        "1 as batch", "cast(id % 100 as double) as x"
    )
    r1 = run_with_checkpoint(b1, spec, out)
    v1 = [
        r for r in r1.verdicts.collect() if r.check_id.startswith("drift")
    ]
    assert len(v1) == 1 and v1[0].passed  # self-baseline: psi ~ 0
    assert v1[0].metric < 1e-6

    shifted = spark.range(5000).selectExpr(
        "2 as batch", "cast(100 + id % 100 as double) as x"
    )
    vdir = Path(out) / "verdicts"
    before = set(vdir.rglob("*.parquet"))
    r2 = run_with_checkpoint(b1.unionAll(shifted), spec, out)
    v2 = {
        r.partition_id: r for r in r2.verdicts.collect()
        if r.check_id.startswith("drift")
    }
    assert set(v2) == {"2"}  # batch 1 already complete, pruned
    assert not v2["2"].passed  # disjoint distribution vs run-1 snapshot
    assert v2["2"].metric > 1.0

    # run 2's manifests and returned verdicts agree with what it wrote,
    # although its drift reference was appended after the write
    new = sorted(str(f) for f in set(vdir.rglob("*.parquet")) - before)
    disk = spark.read.option("basePath", str(vdir)).parquet(*new).collect()
    cols = r2.verdicts.columns
    assert sorted(tuple(r[c] for c in cols) for r in disk) == sorted(
        tuple(r) for r in r2.verdicts.collect()
    )
    parts = {r.partition_id for r in disk}
    assert parts == {"2", "__schema__"}
    for p in parts:
        m = json.loads((Path(out) / "_manifest" / f"{p}.json").read_text())
        rows = [r for r in disk if r.partition_id == p]
        assert m["n_checks"] == len(rows)
        assert m["n_failed"] == sum(not r.passed for r in rows)
        assert m["n_violations"] == sum(r.n_violations for r in rows)

    assert run_with_checkpoint(b1.unionAll(shifted), spec, out) is None


def test_checkpoint_run_stamps_one_run_id(spark, tmp_path, monkeypatch):
    """A run that crosses a second boundary still stamps its profile, its
    drift reference and its schema reference with ONE id: later runs
    are ordered against each other by it."""
    from types import SimpleNamespace

    from anomaly_detector_faironchain_spark.plans import checkpoint
    from anomaly_detector_faironchain_spark.plans.spec import Drift, TableSpec

    ticks = iter(range(1_700_000_000, 1_800_000_000))
    monkeypatch.setattr(
        checkpoint, "time", SimpleNamespace(time=lambda: float(next(ticks)))
    )
    out = tmp_path / "rid"
    spec = TableSpec(name="t", partition_col="batch",
                     constraints=(Drift("x", bins=10, lo=0.0, hi=100.0),))
    b = spark.range(100).selectExpr("1 as batch", "cast(id as double) as x")
    run_with_checkpoint(b, spec, str(out))

    def ids(d):
        return {r.run_id for r in
                spark.read.parquet(str(out / d)).select("run_id").collect()}

    schema_ids = {f.stem for f in (out / "schema_refs").glob("*.json")}
    assert ids("profile") == ids("drift_refs") == schema_ids
    assert len(schema_ids) == 1


def test_drift_reference_refuses_changed_binning(spark, tmp_path):
    """A stored snapshot's bucket ids are only meaningful under the
    binning that produced them — loading it under a different bins/lo/hi
    must raise, not silently join misaligned buckets."""
    from anomaly_detector_faironchain_spark.plans.spec import Drift, TableSpec

    out = str(tmp_path / "drift_ck2")
    mk = lambda hi: TableSpec(  # noqa: E731
        name="t", partition_col="batch",
        constraints=(Drift("x", bins=10, lo=0.0, hi=hi),),
    )
    b1 = spark.range(1000).selectExpr("1 as batch", "cast(id % 50 as double) as x")
    run_with_checkpoint(b1, mk(100.0), out)
    b2 = spark.range(1000).selectExpr("2 as batch", "cast(id % 50 as double) as x")
    with pytest.raises(ValueError, match="misalign"):
        run_with_checkpoint(b1.unionAll(b2), mk(200.0), out)
    # unchanged binning still works and passes (same distribution)
    r = run_with_checkpoint(b1.unionAll(b2), mk(100.0), out)
    v = [r_ for r_ in r.verdicts.collect() if r_.check_id.startswith("drift")]
    assert len(v) == 1 and v[0].passed


def test_cross_run_dedup_through_checkpoint(spark, tmp_path):
    """Run 2 flags exactly the documents whose content run 1 already
    indexed; run 3 sees run 2's novel content too. Within-batch dups
    stay unflagged (exact_dedup's job, not this one)."""
    from anomaly_detector_faironchain_spark.plans.checkpoint import (
        dedup_against_history,
    )

    out = str(tmp_path / "dd")
    b1 = spark.createDataFrame(
        [(1, "alpha"), (2, "beta"), (3, "alpha")],  # within-batch dup
        "doc_id long, text string",
    )
    f1 = {r.id: r.is_cross_run_dup
          for r in dedup_against_history(b1, "doc_id", "text", out, "r1").collect()}
    assert f1 == {1: False, 2: False, 3: False}

    b2 = spark.createDataFrame(
        [(10, "alpha"), (11, "gamma")],
        "doc_id long, text string",
    )
    f2 = {r.id: (r.is_cross_run_dup, r.first_seen_run)
          for r in dedup_against_history(b2, "doc_id", "text", out, "r2").collect()}
    assert f2 == {10: (True, "r1"), 11: (False, None)}

    b3 = spark.createDataFrame(
        [(20, "gamma"), (21, "beta"), (22, "delta")],
        "doc_id long, text string",
    )
    f3 = {r.id: (r.is_cross_run_dup, r.first_seen_run)
          for r in dedup_against_history(b3, "doc_id", "text", out, "r3").collect()}
    assert f3 == {20: (True, "r2"), 21: (True, "r1"), 22: (False, None)}


def test_schema_lineage_loop_through_checkpoint(spark, tmp_path):
    """Schema lineage mirrors the drift-reference loop: run N's schema is
    diffed against run N-1's persisted schema; a drifted schema fails
    once (with per-column payloads) and becomes the new baseline."""
    out = str(tmp_path / "ckpt")
    spec = TableSpec(
        name="t", partition_col="grp",
        constraints=(NotNull("grp"),), profile_len_cols=(),
    )

    def sd_row(res):
        rows = [
            r for r in res.verdicts.collect() if r.check_id == "schema_drift"
        ]
        assert len(rows) == 1 and rows[0].partition_id == "__schema__"
        return rows[0]

    b1 = spark.createDataFrame([("p1", 1.0)], "grp string, v double")
    r1 = run_with_checkpoint(b1, spec, out, run_id="000000000001")
    assert sd_row(r1).passed  # first run self-baselines, like drift

    # batch 2 (new partition): v retyped double→string, extra column added
    b2 = spark.createDataFrame(
        [("p2", "oops", 5)], "grp string, v string, extra long"
    )
    r2 = run_with_checkpoint(b2, spec, out, run_id="000000000002")
    sd2 = sd_row(r2)
    assert sd2.passed is False and sd2.n_violations == 2
    payloads = [
        json.loads(r.row_payload)
        for r in r2.violations.filter(
            F.col("check_id") == "schema_drift"
        ).collect()
    ]
    by_col = {p["column"]: p for p in payloads}
    assert by_col["v"] == {
        "actual": "string", "column": "v", "expected": "double"
    }
    assert by_col["extra"]["expected"] is None

    # batch 3, same drifted shape: the drifted schema IS the baseline now
    b3 = spark.createDataFrame(
        [("p3", "ok", 6)], "grp string, v string, extra long"
    )
    r3 = run_with_checkpoint(b3, spec, out, run_id="000000000003")
    assert sd_row(r3).passed

    # opt-out: no schema verdict, no new reference written
    b4 = spark.createDataFrame([("p4", 9)], "grp string, other int")
    r4 = run_with_checkpoint(
        b4, spec, out, run_id="000000000004", track_schema=False
    )
    assert all(r.check_id != "schema_drift" for r in r4.verdicts.collect())
    refs = sorted((Path(out) / "schema_refs").glob("*.json"))
    assert [f.stem for f in refs] == [
        "000000000001", "000000000002", "000000000003"
    ]


def test_streaming_classifier_gate_matches_batch(spark, tmp_path):
    """The optional model-based gate (min_clf_score) is the same
    literal-weight logistic in both modes — the gated sets must agree,
    and the gate must actually drop documents at a high threshold."""
    from anomaly_detector_faironchain_spark.operators import curation
    from anomaly_detector_faironchain_spark.streaming.curation import (
        curate_stream,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    indir = tmp_path / "in"
    docs.write.parquet(str(indir / "b0"))

    out = tmp_path / "out"
    q = curate_stream(
        spark, f"{indir}/*", docs.schema, str(out),
        min_quality=0.0, min_clf_score=0.7, available_now=True,
    )
    q.awaitTermination(120)
    got = {r.id for r in spark.read.parquet(str(out / "curated")).collect()}
    want_df = curation.curate_documents(
        docs, "doc_id", "text", min_quality=0.0, min_clf_score=0.7
    )
    want = {r.id for r in want_df.collect()}
    assert got == want and len(got) > 0
    # the classifier gate is stricter than no gate
    no_gate = curation.curate_documents(
        docs, "doc_id", "text", min_quality=0.0
    ).count()
    assert len(want) < no_gate
