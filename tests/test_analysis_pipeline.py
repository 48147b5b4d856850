"""EP2 parity: the full anomaly-analysis pipeline on a synthetic star,
with the scoring math cross-checked against a pandas/numpy replication of
the REFERENCE's own formulas (rank(method='average'), ddof=1 z-scores,
np.cov + inv Mahalanobis) on identical feature rows.
"""

from __future__ import annotations

from decimal import ROUND_HALF_UP, Decimal

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from anomaly_detector_faironchain_spark.analysis import pipeline
from anomaly_detector_faironchain_spark.etl import abstract, rawgen
from conftest import probe_job_id


@pytest.fixture(scope="module")
def tt(spark):
    rt = rawgen.raw_native_transfers(spark, 3000, 80)
    return abstract.build_abstract_token_transfer(
        abstract.clean_native_transfers(rt)
    ).cache()


@pytest.fixture(scope="module")
def result(tt):
    return pipeline.run_anomaly_analysis(tt).cache()


def test_result_shape_and_ranges(result):
    cols = set(result.columns)
    for c in ["account_sid", "address", "in_degree", "out_degree",
              "total_input_amount", "total_output_amount",
              "two_node_loop_count", "triangle_loop_count", "egonet_density",
              "H1_flag", "H6_flag", "H1_description",
              "mahalanobis_distance", "rule_score_100",
              "mahalanobis_distance_stats_score_100",
              "iforest_score", "iforest_stats_score_100",
              "final_score_0_100",
              "final_score_top_percent", "final_score_top_percent_display",
              "is_infra"]:
        assert c in cols, c
    bad = result.filter(
        (F.col("final_score_0_100") < 0) | (F.col("final_score_0_100") > 100)
    ).count()
    assert bad == 0
    # no *_log/*_z/*_ratio intermediates in the output (reference :92-96)
    assert not [c for c in cols if c.endswith(("_log", "_z", "_ratio"))]


def test_rule_flag_consistency(result):
    rows = result.collect()
    for r in rows:
        if r.H2_flag == 1:
            assert r.out_degree == 0
        if r.H3_flag == 1:
            assert r.in_degree == 1
        if r.H5_flag == 1:
            assert r.two_node_loop_count >= 1
        if r.H6_flag == 1:
            assert r.triangle_loop_count >= 1
        # descriptions attach iff flagged (reference F10 pattern)
        assert (r.H1_description != "") == (r.H1_flag == 1)


def test_infra_split_and_remerge(tt):
    some = tt.limit(1).collect()[0].spender_address_sid.split("_", 1)[1]
    res = pipeline.run_anomaly_analysis(tt, infra_addresses=[some])
    infra_rows = res.filter(F.col("is_infra") == 1).collect()
    assert infra_rows and all(r.final_score_0_100 is None for r in infra_rows)
    n_total = res.count()
    assert n_total == pipeline.run_anomaly_analysis(tt).count()


def test_scores_match_reference_formulas(result):
    """Replicate the reference's pandas/numpy math on the final feature
    rows and compare scores."""
    pdf = result.filter(F.col("is_infra") == 0).toPandas()

    # reference preprocess_features (statistical_anomaly_detection.py:18-57)
    f = pd.DataFrame()
    for c in pipeline.LOG_FEATURES:
        f[f"{c}_log"] = np.log1p(pdf[c].astype(float))
    f["log_degree_ratio"] = np.log((pdf["in_degree"] + 1) / (pdf["out_degree"] + 1))
    f["log_amount_ratio"] = np.log(
        (pdf["total_input_amount"] + 1) / (pdf["total_output_amount"] + 1)
    )
    f["egonet_density"] = pdf["egonet_density"].astype(float)
    z = (f - f.mean()) / f.std(ddof=1)

    # reference Mahalanobis, with pinv instead of inv: the reference's
    # feature set is rank-deficient by construction (the log-ratios are
    # exact differences of the logged features), so plain inv() is
    # undefined noise — see operators/mahalanobis.py docstring
    keep = [c for c in z.columns if z[c].std(ddof=1) > 0 and np.isfinite(z[c]).all()]
    x = z[keep].to_numpy()
    cov = np.cov(x, rowvar=False)
    inv = np.linalg.pinv(cov, hermitian=True)
    mu = x.mean(axis=0)
    d = np.sqrt(np.einsum("ij,jk,ik->i", x - mu, inv, x - mu))
    np.testing.assert_allclose(
        pdf["mahalanobis_distance"].to_numpy(), d, rtol=1e-6, atol=1e-8
    )

    # reference hazen percentile + final score (mean of 3 detectors,
    # scoring.py:96-98; iforest percentile replicated from the emitted
    # iforest_score exactly as score_iforest_percentile does)
    ranks = pd.Series(d).rank(method="average")
    maha_pct = ((ranks - 0.5) / len(d) * 100.0).astype(np.float32)
    np.testing.assert_allclose(
        pdf["mahalanobis_distance_stats_score_100"].to_numpy(),
        maha_pct.to_numpy(), rtol=1e-5,
    )
    if_ranks = pdf["iforest_score"].rank(method="average")
    if_pct = ((if_ranks - 0.5) / len(pdf) * 100.0).astype(np.float32)
    np.testing.assert_allclose(
        pdf["iforest_stats_score_100"].to_numpy(), if_pct.to_numpy(),
        rtol=1e-5,
    )
    main_any = pdf[["H1_flag", "H2_flag", "H3_flag", "H4_flag"]].any(axis=1).astype(int)
    raw = main_any + pdf["H5_flag"] + pdf["H6_flag"]
    rule100 = (raw * (100.0 / 3.0)).round(2).astype(np.float32)
    np.testing.assert_allclose(pdf["rule_score_100"].to_numpy(), rule100.to_numpy())
    final = np.float32(
        (rule100.astype(np.float64) + maha_pct.astype(np.float64)
         + if_pct.astype(np.float64)) / 3
    )
    np.testing.assert_allclose(
        pdf["final_score_0_100"].to_numpy(), final, rtol=1e-5
    )

    # reference top-percent rank (scoring.py:100-104) on the emitted final
    # scores. Spark's round() is HALF_UP on the shortest decimal form of
    # the double, where numpy's rounds half to even, hence Decimal(repr).
    top = (pdf["final_score_0_100"].rank(method="average", ascending=False)
           / len(pdf) * 100.0)
    top2 = [Decimal(repr(v)).quantize(Decimal("0.01"), ROUND_HALF_UP)
            for v in top]
    np.testing.assert_array_equal(
        pdf["final_score_top_percent"].to_numpy(),
        np.array([float(v) for v in top2], dtype=np.float32),
    )
    assert list(pdf["final_score_top_percent_display"]) == [
        f"{v}%" for v in top2]


def test_iforest_spark_scoring_matches_driver_arrays(spark):
    """The pandas-UDF scoring path must equal scoring the same rows with
    the broadcast model on the driver (1e-6), and be deterministic."""
    from anomaly_detector_faironchain_spark.operators import iforest as ifo

    rows = [(i, float(i % 17), float((i * 7) % 23), float(i % 5)) for i in range(400)]
    rows.append((400, 900.0, -800.0, 700.0))  # blatant outlier
    df = spark.createDataFrame(rows, "id long, a double, b double, c double")
    model = ifo.fit_iforest(df, ["a", "b", "c"], n_estimators=100, seed=42)
    out = ifo.score_iforest(df, ["a", "b", "c"], model).orderBy("id")
    pdf = out.toPandas()
    X = pdf[["a", "b", "c"]].to_numpy(dtype=np.float64)
    expected = ifo.score_arrays(model, X)
    np.testing.assert_allclose(
        pdf["iforest_score"].to_numpy(), expected, rtol=1e-9, atol=1e-12
    )
    # the outlier is the most anomalous row
    assert int(pdf["iforest_score"].idxmax()) == 400
    # refit with the same seed → identical forest and scores
    model2 = ifo.fit_iforest(df, ["a", "b", "c"], n_estimators=100, seed=42)
    assert np.array_equal(model.thr, model2.thr)
    assert np.array_equal(model.feat, model2.feat)


def test_edge_filter_parity_with_reference(spark):
    """min_amount + blacklist exclusion exactly as filter_edgelist.py:26-35:
    amount >= threshold kept, either endpoint blacklisted dropped."""
    burn = "1_0x0000000000000000000000000000000000000000"
    rows = [
        ("1_0xaaa", "1_0xbbb", "2000000000000"),   # kept
        ("1_0xaaa", "1_0xccc", "1000000000000"),   # kept (>= is inclusive)
        ("1_0xaaa", "1_0xddd", "999999999999"),    # micro → dropped
        (burn, "1_0xbbb", "5000000000000"),        # burn src → dropped
        ("1_0xbbb", burn, "5000000000000"),        # burn dst → dropped
    ]
    tt = spark.createDataFrame(
        rows, "spender_address_sid string, receiver_address_sid string, amt string"
    ).withColumn("amount_dec38", F.col("amt").cast("decimal(38,0)"))
    edges = pipeline.build_edges(tt, min_amount=1e12)
    got = {(r.src, r.dst) for r in edges.collect()}
    assert got == {("1_0xaaa", "1_0xbbb"), ("1_0xaaa", "1_0xccc")}
    # blacklist=[] disables the endpoint filter but keeps the amount one
    edges2 = pipeline.build_edges(tt, min_amount=1e12, blacklist=[])
    assert edges2.count() == 4


def test_timestamp_lineage_and_orphan_counts(spark):
    """transfer⋈tx⋈block join (load_clean_edgelist.py:41-54): edges carry
    real first_ts; orphaned transfers are counted, not dropped."""
    tt = spark.createDataFrame(
        [("t1", "1_0xa", "1_0xb", "100"), ("t1", "1_0xa", "1_0xb", "200"),
         ("t2", "1_0xc", "1_0xd", "300"), ("tX", "1_0xe", "1_0xf", "400")],
        "tx_sid string, spender_address_sid string, "
        "receiver_address_sid string, amt string",
    ).withColumn("amount_dec38", F.col("amt").cast("decimal(38,0)"))
    tx = spark.createDataFrame(
        [("t1", "b1"), ("t2", "b9")], "tx_sid string, block_sid string"
    )  # b9 has no block row → missing timestamp; tX has no tx row
    blocks = spark.createDataFrame(
        [("b1", 1_673_000_000), ("b2", 1_673_000_012)],
        "block_sid string, timestamp long",
    )
    joined, orphans = pipeline.attach_block_timestamps(tt, tx, blocks)
    assert orphans == {"missing_tx": 1, "missing_ts": 2}
    edges = pipeline.build_edges(joined, ts_col="timestamp")
    by_pair = {(r.src, r.dst): r.first_ts for r in edges.collect()}
    assert by_pair[("1_0xa", "1_0xb")] == 1_673_000_000
    assert by_pair[("1_0xc", "1_0xd")] is None  # orphan keeps null ts


def test_pipeline_caches_feature_frame_and_materializes(spark, tt):
    res = pipeline.run_anomaly_analysis(tt, materialize=False)
    handles = dict(pipeline._last_run_handles)
    assert handles["edges"].storageLevel.useMemory
    assert handles["work"].storageLevel.useMemory
    # the cached feature frame actually serves reads
    plan = handles["work"]._sc._jvm.PythonSQLUtils.explainString(
        handles["work"]._jdf.queryExecution(), "simple"
    )
    assert "InMemoryTableScan" in plan or "InMemoryRelation" in plan
    handles["work"].unpersist()
    handles["edges"].unpersist()

    # materialize=True: result is localCheckpoint'ed — its plan is a bare
    # materialized-RDD scan (the triangle/egonet joins ran exactly once,
    # inside the run), so re-collecting is one fetch job, zero recompute
    res = pipeline.run_anomaly_analysis(tt)
    rplan = res._sc._jvm.PythonSQLUtils.explainString(
        res._jdf.queryExecution(), "simple"
    )
    assert "ExistingRDD" in rplan
    for op in ("SortMergeJoin", "BroadcastHashJoin", "HashAggregate"):
        assert op not in rplan
    tracker = spark.sparkContext.statusTracker()
    before = len(tracker.getJobIdsForGroup(None))
    res.collect()
    after = len(tracker.getJobIdsForGroup(None))
    assert after - before <= 1
    assert not pipeline._last_run_handles["work"].storageLevel.useMemory


def test_feature_frame_reads_pinned_tables_only(spark, tt):
    """features_from_edges returns a plan over its two pinned tables: no
    cached-edgelist scan, and at most 6 hash exchanges (the two wedge
    legs, the wedge rows and the closing pairs, the credits, and the
    node table they join to)."""
    edges = pipeline.build_edges(tt).cache()
    try:
        feats = pipeline.features_from_edges(
            edges, wedge_budget=pipeline.DEFAULT_WEDGE_BUDGET)
        plan = feats._sc._jvm.PythonSQLUtils.explainString(
            feats._jdf.queryExecution(), "simple")
        assert "InMemoryTableScan" not in plan
        assert 0 < plan.count("Exchange hashpartitioning") <= 6
    finally:
        edges.unpersist()


# Spark jobs of one run_anomaly_analysis(tt) call on this fixture, so
# EP2's job chain (listed in run_anomaly_analysis's docstring) cannot
# silently grow back. To re-pin after an intended change, run this test
# alone (pytest -k job_count) and set the count its failure reports.
EP2_JOBS = 35


def test_ep2_job_count_is_pinned(spark, tt):
    sc = spark.sparkContext
    tt.count()  # fill the fixture's cache first, whatever ran before
    first = probe_job_id(sc, "ep2-jobs-a")
    pipeline.run_anomaly_analysis(tt)
    jobs = probe_job_id(sc, "ep2-jobs-b") - first - 1
    assert jobs == EP2_JOBS, f"EP2 ran {jobs} Spark jobs, pinned {EP2_JOBS}"
