"""Snapshot table layer: atomic commits, time travel, incremental scans,
schema lineage, snapshot-aware incremental validation."""

import json
import os

import pytest
from pyspark.sql import functions as F

from anomaly_detector_faironchain_spark.plans.snapshots import (
    SnapshotTable,
    validate_new_snapshots,
)
from conftest import probe_job_id


def _mk(spark, lo, hi, lang="en"):
    return spark.range(lo, hi).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("text-"), F.col("id")).alias("text"),
        F.lit(lang).alias("lang"),
    )


def test_append_read_and_time_travel(spark, tmp_path):
    t = SnapshotTable.create(str(tmp_path / "t"))
    s1 = t.append(_mk(spark, 0, 100))
    s2 = t.append(_mk(spark, 100, 150, lang="de"))
    assert (s1, s2) == (1, 2)
    assert t.current_id() == 2
    assert t.read(spark).count() == 150
    assert t.read(spark, snapshot_id=1).count() == 100
    got = {r["lang"]: r["n"] for r in
           t.read(spark).groupBy("lang").agg(F.count("*").alias("n"))
           .collect()}
    assert got == {"en": 100, "de": 50}
    # footer stats recorded without scanning
    assert t.snapshot(1).added_rows == 100
    assert t.snapshot(2).added_rows == 50


def test_incremental_reads_only_appended_rows(spark, tmp_path):
    t = SnapshotTable.create(str(tmp_path / "t"))
    t.append(_mk(spark, 0, 100))
    t.append(_mk(spark, 100, 180))
    t.append(_mk(spark, 180, 200))
    inc = t.incremental(spark, after_id=1)
    ids = sorted(r["doc_id"] for r in inc.collect())
    assert ids == list(range(100, 200))
    # bounded increment
    ids2 = sorted(
        r["doc_id"]
        for r in t.incremental(spark, after_id=1, until_id=2).collect()
    )
    assert ids2 == list(range(100, 180))
    # empty increment is a valid empty frame with the right schema
    assert t.incremental(spark, after_id=3).count() == 0


def test_overwrite_resets_visible_files(spark, tmp_path):
    t = SnapshotTable.create(str(tmp_path / "t"))
    t.append(_mk(spark, 0, 100))
    t.overwrite(_mk(spark, 500, 510))
    assert t.read(spark).count() == 10
    assert t.read(spark, snapshot_id=1).count() == 100  # history intact
    # the overwrite's rows ARE the increment after snapshot 1
    assert t.incremental(spark, after_id=1).count() == 10


def test_crash_before_pointer_swap_is_invisible(spark, tmp_path):
    t = SnapshotTable.create(str(tmp_path / "t"))
    t.append(_mk(spark, 0, 50))
    # simulate a writer that crashed after data files + manifest landed
    # but BEFORE the pointer swap: data dir and manifest for snap 2 exist
    _mk(spark, 50, 80).write.parquet(str(tmp_path / "t/data/snap-000002"))
    (tmp_path / "t/metadata/snap-000002.json").write_text(
        json.dumps(
            {
                "snapshot_id": 2,
                "parent_id": 1,
                "operation": "append",
                "added_files": [],
                "schema_json": t.snapshot(1).schema_json,
            }
        )
    )
    assert t.current_id() == 1
    assert t.read(spark).count() == 50  # reader unaffected
    assert len(t.snapshots()) == 1


def test_schema_lineage_and_add_column_semantics(spark, tmp_path):
    t = SnapshotTable.create(str(tmp_path / "t"))
    t.append(_mk(spark, 0, 10))
    t.append(
        _mk(spark, 10, 20).withColumn("stars", F.col("doc_id") * 2)
    )
    changes = t.schema_changes()
    assert changes == [
        {"snapshot_id": 2, "added": ["stars"], "dropped": [], "retyped": []}
    ]
    cur = t.read(spark)
    assert "stars" in cur.columns
    # pre-evolution files yield nulls for the added column
    assert cur.filter(F.col("stars").isNull()).count() == 10
    # time travel reads UNDER THE OLD SCHEMA
    assert "stars" not in t.read(spark, snapshot_id=1).columns


def test_validate_new_snapshots_scans_only_increment(spark, tmp_path):
    from anomaly_detector_faironchain_spark.plans.spec import (
        NotNull,
        TableSpec,
    )

    t = SnapshotTable.create(str(tmp_path / "t"))
    spec = TableSpec(
        name="docs",
        partition_col="lang",
        constraints=(NotNull("doc_id", "text"),),
    )
    ck = str(tmp_path / "ck")

    t.append(_mk(spark, 0, 100))
    sid, res = validate_new_snapshots(spark, t, spec, ck)
    assert sid == 1 and res is not None
    assert res.profile.agg(F.sum("n_rows")).collect()[0][0] == 100

    # nothing new -> watermark short-circuits, no scan
    sid, res = validate_new_snapshots(spark, t, spec, ck)
    assert sid == 1 and res is None

    # two more snapshots -> ONE increment covering exactly their rows
    t.append(_mk(spark, 100, 130, lang="de"))
    t.append(_mk(spark, 130, 140, lang="de"))
    sid, res = validate_new_snapshots(spark, t, spec, ck)
    assert sid == 3 and res is not None
    assert res.profile.agg(F.sum("n_rows")).collect()[0][0] == 40
    assert os.path.isdir(os.path.join(ck, "snap-000003"))


# Spark jobs of one validate_new_snapshots call on the fixture below, so
# neither the pinned scan wave (one localCheckpoint per full-input scan)
# nor the checkpoint commit (one write per pinned frame, manifests from
# the pins) can silently grow back. To re-pin after an intended change,
# run this test alone (pytest -k commit_shape) and set the count its
# failure reports.
SNAPSHOT_COMMIT_JOBS = 17


def test_snapshot_commit_shape_and_job_count(spark, tmp_path):
    from anomaly_detector_faironchain_spark.plans.spec import (
        InSet,
        NotNull,
        TableSpec,
        Unique,
    )

    t = SnapshotTable.create(str(tmp_path / "t"))
    spec = TableSpec(
        name="docs",
        partition_col="lang",
        constraints=(
            NotNull("doc_id", "text"),
            Unique("doc_id"),
            InSet("lang", ("en", "de")),
        ),
    )
    ck = tmp_path / "ck"
    # three partitions; fr violates InSet, doc_ids 0-9 are duplicated
    t.append(
        _mk(spark, 0, 60)
        .unionByName(_mk(spark, 0, 10, lang="de"))
        .unionByName(_mk(spark, 60, 80, lang="fr"))
        .repartition(4)
    )
    sc = spark.sparkContext
    first = probe_job_id(sc, "snap-commit-a")
    sid, res = validate_new_snapshots(spark, t, spec, str(ck))
    jobs = probe_job_id(sc, "snap-commit-b") - first - 1
    assert sid == 1 and not res.passed()

    snap = ck / "snap-000001"
    for name in ("verdicts", "violations"):
        dirs = sorted(snap.glob(f"{name}/partition_id=*"))
        assert dirs, name
        for d in dirs:
            assert len(list(d.glob("*.parquet"))) == 1, d

    # the returned verdicts are the committed rows: re-reading them is
    # one fetch job, not a re-run of the suite
    first = probe_job_id(sc, "snap-collect-a")
    rows = res.verdicts.collect()
    assert probe_job_id(sc, "snap-collect-b") - first - 1 == 1
    disk = spark.read.parquet(str(snap / "verdicts"))
    key = lambda r: (r.partition_id, r.check_id)  # noqa: E731
    assert sorted(map(key, rows)) == sorted(map(key, disk.collect()))

    assert jobs == SNAPSHOT_COMMIT_JOBS, (
        f"validate_new_snapshots ran {jobs} Spark jobs, "
        f"pinned {SNAPSHOT_COMMIT_JOBS}"
    )


def test_profile_metric_drift_across_increments(spark, tmp_path):
    from anomaly_detector_faironchain_spark.plans.checkpoint import (
        profile_metric_drift,
    )
    from anomaly_detector_faironchain_spark.plans.spec import (
        NotNull,
        TableSpec,
    )

    t = SnapshotTable.create(str(tmp_path / "t"))
    spec = TableSpec(
        name="docs", partition_col="lang",
        constraints=(NotNull("doc_id"),),
    )
    ck = str(tmp_path / "ck")

    # increment 1: en docs, healthy text
    t.append(_mk(spark, 0, 100))
    validate_new_snapshots(spark, t, spec, ck)
    # increment 2: en again, but text nulled out for half the rows AND
    # 4x the row count — both must trip metric drift vs increment 1
    bad = _mk(spark, 100, 500).withColumn(
        "text", F.when(F.col("doc_id") % 2 == 0, F.col("text"))
    )
    t.append(bad)
    validate_new_snapshots(spark, t, spec, ck)

    d = profile_metric_drift(spark, ck, rel_threshold=0.5)
    en = {r["check_id"]: r for r in
          d.filter(F.col("partition_id") == "en").collect()}
    row_drift = en["metric_drift(n_rows)"]
    assert not row_drift["passed"]          # 100 -> 400 rows
    assert row_drift["metric"] == 3.0
    assert row_drift["prev_value"] == 100.0 and row_drift["cur_value"] == 400.0
    null_drift = en["metric_drift(null_count__text)"]
    assert not null_drift["passed"]         # 0 -> 200 nulls
    # a metric that stayed put passes
    assert en["metric_drift(null_count__doc_id)"]["passed"]
