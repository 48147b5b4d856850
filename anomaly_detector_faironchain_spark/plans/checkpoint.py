"""Checkpoint / resume with per-partition lineage and metrics.

The reference achieves resumability at STAGE granularity: every pipeline
stage persists its output and the next stage re-reads files
(reference: graph/run_graph_builder.py:35,46-48 →
run_feature_extraction.py:29 → run_anomaly_analysis_pipeline.py:31).
This module keeps that contract at PARTITION granularity: a validation
run writes, per input partition, a manifest JSON with lineage + metrics;
re-running the same spec against the same output dir skips partitions
whose manifest says 'complete' and validates only the remainder.
"""

from __future__ import annotations

import json
import time
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from anomaly_detector_faironchain_spark import __version__
from anomaly_detector_faironchain_spark.plans.compiler import (
    ValidationResult,
    constraint_histogram,
    validate_table,
)
from anomaly_detector_faironchain_spark.plans.spec import TableSpec

MANIFEST_DIR = "_manifest"
SKETCH_DIR = "key_sketches"
VALUE_SKETCH_DIR = "value_sketches"
DRIFT_DIR = "drift_refs"


def write_key_sketches(
    df: DataFrame,
    key_cols: list[str],
    partition_col: str,
    out_dir: str,
    run_id: str,
    lg_k: int = 12,
) -> None:
    """Persist per-partition HLL key sketches for this run's partitions.

    The incremental-uniqueness companion to the manifest: each run
    appends (run_id, partition_id, n_rows, sketch) rows; sketches are
    MERGEABLE, so `corpus_distinct_estimate` answers "how many distinct
    keys across every run so far" from #partitions × 2 KB of parquet —
    no rescan of completed partitions, ever (operators/uniqueness
    module doc)."""
    from anomaly_detector_faironchain_spark.operators.uniqueness import (
        hll_partition_sketches,
    )

    sk = hll_partition_sketches(df, key_cols, partition_col, lg_k=lg_k)
    (
        sk.withColumn("run_id", F.lit(run_id))
        .write.mode("append")
        .parquet(str(Path(out_dir) / SKETCH_DIR))
    )


def _latest_sketches(spark, path: Path) -> DataFrame:
    """The persisted sketch rows under ``path``, keeping per partition
    only the latest run's row: a partition re-validated by a later run
    must not be counted twice."""
    sk = spark.read.parquet(str(path))
    return sk.withColumn(
        "__rn__",
        F.row_number().over(
            Window.partitionBy("partition_id").orderBy(F.col("run_id").desc())
        ),
    ).filter(F.col("__rn__") == 1).drop("__rn__")


def corpus_distinct_estimate(spark, out_dir: str):
    """Merge every persisted partition sketch (across all runs) into one
    corpus-level row: (n_rows, n_partitions, distinct_estimate). Reads
    only the sketch parquet — never the data."""
    from anomaly_detector_faironchain_spark.operators.uniqueness import (
        merge_sketches,
    )

    return merge_sketches(_latest_sketches(spark, Path(out_dir) / SKETCH_DIR))


def write_value_sketches(
    df: DataFrame,
    value_col,
    partition_col: str,
    out_dir: str,
    run_id: str,
    k: int = 8192,
) -> None:
    """Persist per-partition KLL quantile sketches for this run's
    partitions — the length-distribution companion to
    ``write_key_sketches``. Each run appends
    (run_id, partition_id, n_rows, sketch) rows; KLL sketches are
    MERGEABLE, so `corpus_value_quantiles` answers "what are the length
    quantiles across every run so far" from #partitions × ~20 KB of
    parquet — no rescan of completed partitions, ever."""
    from anomaly_detector_faironchain_spark.operators.stats import (
        kll_partition_sketches,
    )

    sk = kll_partition_sketches(df, value_col, partition_col, k=k)
    (
        sk.withColumn("run_id", F.lit(run_id))
        .write.mode("append")
        .parquet(str(Path(out_dir) / VALUE_SKETCH_DIR))
    )


def corpus_value_quantiles(spark, out_dir: str, quantiles=None, k: int = 8192):
    """Merge every persisted partition KLL sketch (across all runs) into
    one corpus-level quantile row. Reads only the sketch parquet — never
    the data. A partition re-validated by a later run keeps only its
    latest sketch, so corrected partitions don't double-count."""
    from anomaly_detector_faironchain_spark.operators.stats import (
        LENGTH_QUANTILES,
        kll_quantiles,
    )

    latest = _latest_sketches(spark, Path(out_dir) / VALUE_SKETCH_DIR).drop(
        "run_id", "partition_id"
    )
    return kll_quantiles(
        latest, quantiles or LENGTH_QUANTILES, merged=True, k=k
    )


TDIGEST_SKETCH_DIR = "tdigest_sketches"


def write_tdigest_sketches(
    df: DataFrame,
    value_col,
    partition_col: str,
    out_dir: str,
    run_id: str,
    delta: int = 8192,
) -> None:
    """t-digest twin of ``write_value_sketches`` (the north rule names
    both sketch families: "KLL/t-digest"). Digest state is plain
    (array<double>, array<double>) parquet — readable without a sketch
    library — and merges across runs, so the tail quantiles (p99/p999
    of length/size, where t-digest beats KLL's uniform rank error) come
    from KBs of centroids, never a rescan."""
    from anomaly_detector_faironchain_spark.operators.tdigest import (
        tdigest_partition_sketches,
    )

    sk = tdigest_partition_sketches(df, value_col, partition_col, delta=delta)
    (
        sk.withColumn("run_id", F.lit(run_id))
        .write.mode("append")
        .parquet(str(Path(out_dir) / TDIGEST_SKETCH_DIR))
    )


def corpus_tdigest_quantiles(
    spark, out_dir: str, quantiles=(0.5, 0.95, 0.99), delta: int = 8192
):
    """Merge every persisted t-digest (latest sketch per partition wins,
    matching ``corpus_value_quantiles``) into one corpus quantile row."""
    from anomaly_detector_faironchain_spark.operators.tdigest import (
        tdigest_quantiles,
    )

    latest = _latest_sketches(spark, Path(out_dir) / TDIGEST_SKETCH_DIR).drop(
        "run_id"
    )
    return tdigest_quantiles(latest, quantiles, merged=True, delta=delta)


MG_SKETCH_DIR = "mg_sketches"


def write_heavyhitter_sketches(
    df: DataFrame, key_col: str, out_dir: str, run_id: str, k: int = 1024
) -> None:
    """Persist this run's Misra-Gries key summaries (≤ k+1 plain rows per
    task — parquet, no sketch library needed to read). MG summaries are
    MERGEABLE with an additive error bound, so corpus-level heavy
    hitters across every run so far come from KBs of counters: the skew
    keys that need salting are known BEFORE the next run plans its
    joins, without rescanning completed data."""
    from anomaly_detector_faironchain_spark.operators.heavyhitters import (
        mg_partition_sketches,
    )

    sk = mg_partition_sketches(df, key_col, k=k)
    (
        sk.withColumn("run_id", F.lit(run_id))
        .write.mode("append")
        .parquet(str(Path(out_dir) / MG_SKETCH_DIR))
    )


def corpus_heavy_hitters(
    spark, out_dir: str, k: int = 1024, top_n: int = 20
):
    """Merge every persisted MG summary (ALL runs — counts accumulate
    across runs, unlike the latest-wins distribution sketches: a key's
    total frequency is the SUM over runs) into one corpus top-n frame
    (key, est_count, err_bound)."""
    import pandas as pd

    from anomaly_detector_faironchain_spark.operators.heavyhitters import (
        _mg_update,
    )

    path = Path(out_dir) / MG_SKETCH_DIR
    sk = spark.read.parquet(str(path))

    def merge(pdf: pd.DataFrame) -> pd.DataFrame:
        decs = int(pdf.loc[pdf["key"].isna(), "dec"].sum())
        counts = pdf.dropna(subset=["key"]).groupby("key")["cnt"].sum()
        counters, decs = _mg_update({}, decs, counts, k)
        out = pd.DataFrame(
            {"key": list(counters), "est_count": list(counters.values())}
        )
        out["err_bound"] = decs
        out = out.sort_values(
            ["est_count", "key"], ascending=[False, True]
        ).head(top_n)
        return out.reset_index(drop=True)

    return (
        sk.withColumn("__g__", F.lit(0))
        .groupBy("__g__")
        .applyInPandas(
            lambda pdf: merge(pdf),
            schema="key string, est_count long, err_bound long",
        )
    )


def _drift_params(d) -> str:
    """Bucketing identity of a Drift constraint. Two histograms are only
    comparable when this matches — bucket ids are integers, so a changed
    bins/lo/hi silently joins MISALIGNED buckets otherwise."""
    if d.categorical:
        return "categorical"
    return f"bins={d.bins},lo={d.lo},hi={d.hi}"


def write_drift_references(
    result: ValidationResult, out_dir: str, run_id: str,
    spec: TableSpec | None = None,
) -> None:
    """Persist this run's global drift histograms (one (bucket, cnt)
    table per Drift column) so the NEXT run can validate against them —
    the drift analogue of the HLL key sketches. Histograms are tiny
    (``bins`` rows), so each run appends a few KB of parquet. The
    bucketing params travel with each snapshot so a later run with a
    changed binning is REFUSED instead of silently compared."""
    from anomaly_detector_faironchain_spark.plans.spec import Drift

    params = {}
    if spec is not None:
        params = {d.col: _drift_params(d) for d in spec.by_type(Drift)}
    for col, hist in result.drift_histograms.items():
        (
            hist.withColumn("run_id", F.lit(run_id))
            .withColumn("col", F.lit(col))
            .withColumn("params", F.lit(params.get(col, "")))
            .write.mode("append")
            .parquet(str(Path(out_dir) / DRIFT_DIR))
        )


def load_drift_references(
    spark, out_dir: str, expected_params: dict[str, str] | None = None
) -> dict[str, DataFrame]:
    """Latest persisted histogram per drift column: {col: (bucket, cnt)}.
    run_id ordering is lexicographic — use sortable ids (zero-padded
    timestamps, dates). Returns {} when no run has persisted yet.
    expected_params: {col: params-string} from the current spec — a
    stored snapshot whose bucketing differs raises ValueError."""
    path = Path(out_dir) / DRIFT_DIR
    if not path.is_dir():
        return {}
    df = spark.read.parquet(str(path))
    latest = df.join(
        df.groupBy("col").agg(F.max("run_id").alias("run_id")),
        ["col", "run_id"],
    )
    meta = latest.select("col", "params").distinct().collect()
    if expected_params:
        for r in meta:
            want = expected_params.get(r.col)
            if want is not None and r.params and r.params != want:
                raise ValueError(
                    f"drift reference for {r.col!r} was built with "
                    f"({r.params}) but the spec now says ({want}); "
                    "bucket ids would misalign — re-baseline under a new "
                    "out_dir or restore the original binning"
                )
    return {
        r.col: latest.filter(F.col("col") == r.col).select("bucket", "cnt")
        for r in meta
    }


SCHEMA_DIR = "schema_refs"


def write_schema_reference(df: DataFrame, out_dir: str, run_id: str) -> None:
    """Persist the input's Catalyst schema under the checkpoint dir so the
    NEXT run can diff against it (the schema analogue of the drift-
    reference loop). One small JSON per run — column names + DDL types."""
    sdir = Path(out_dir) / SCHEMA_DIR
    sdir.mkdir(parents=True, exist_ok=True)
    (sdir / f"{run_id}.json").write_text(json.dumps({
        "fields": [
            [f.name, f.dataType.simpleString()] for f in df.schema.fields
        ],
        "engine_version": __version__,
        "written_unix": time.time(),
    }, indent=1))


def load_schema_reference(out_dir: str) -> list[tuple[str, str]] | None:
    """Latest persisted schema (run_ids sort lexicographically), or None
    on a fresh checkpoint dir."""
    sdir = Path(out_dir) / SCHEMA_DIR
    if not sdir.is_dir():
        return None
    files = sorted(sdir.glob("*.json"))
    if not files:
        return None
    ref = json.loads(files[-1].read_text())
    return [(n, t) for n, t in ref["fields"]]


def completed_partitions(out_dir: str) -> set[str]:
    mdir = Path(out_dir) / MANIFEST_DIR
    done = set()
    if mdir.is_dir():
        for f in mdir.glob("*.json"):
            try:
                m = json.loads(f.read_text())
            except json.JSONDecodeError:
                continue
            if m.get("status") == "complete":
                done.add(m["partition_id"])
    return done


def _write_manifests(out_dir: str, spec: TableSpec, result: ValidationResult,
                     duration_s: float, input_path: str | None) -> list[dict]:
    """One manifest JSON per partition: lineage + verdict metrics.

    Aggregates ``result.verdicts`` as run_with_checkpoint pinned them
    (already partitioned on partition_id) and joins the cached profile,
    so the counts are those of the committed rows and the suite is not
    scanned again."""
    rows = (
        result.verdicts.groupBy("partition_id")
        .agg(
            F.count(F.lit(1)).alias("n_checks"),
            F.sum((~F.col("passed")).cast("long")).alias("n_failed"),
            F.sum("n_violations").alias("n_violations"),
        )
        .join(
            result.profile.select("partition_id", "n_rows"),
            "partition_id",
            "left",
        )
        .collect()
    )
    mdir = Path(out_dir) / MANIFEST_DIR
    mdir.mkdir(parents=True, exist_ok=True)
    manifests = []
    for r in rows:
        m = {
            "table": spec.name,
            "partition_id": r.partition_id,
            "status": "complete",
            "n_rows": r.n_rows,
            "n_checks": r.n_checks,
            "n_failed": r.n_failed,
            "n_violations": r.n_violations,
            "engine_version": __version__,
            "input_path": input_path,
            "constraints": [c.check_id() for c in spec.constraints],
            "finished_unix": time.time(),
            "run_duration_s": duration_s,
        }
        safe = "".join(ch if ch.isalnum() or ch in "-_." else "_" for ch in str(r.partition_id))
        (mdir / f"{safe}.json").write_text(json.dumps(m, indent=1))
        manifests.append(m)
    return manifests


def run_with_checkpoint(
    df: DataFrame,
    spec: TableSpec,
    out_dir: str,
    refs: dict[str, DataFrame] | None = None,
    drift_refs: dict[str, DataFrame] | None = None,
    input_path: str | None = None,
    run_id: str | None = None,
    track_schema: bool = True,
    **validate_kwargs,
) -> ValidationResult | None:
    """Validate only partitions not yet marked complete under out_dir;
    append verdict/violation parquet (partitioned by partition_id so a
    re-run prunes at the file level) and write per-partition manifests.

    Drift references close their loop through the checkpoint dir: when
    the spec has Drift constraints and the caller passes no drift_refs,
    the latest persisted histogram per column is loaded (run N validates
    against run N-1's snapshot — batch-over-batch monitoring semantics,
    mirroring streaming/drift). A column with no stored snapshot yet
    bootstraps against THIS run's own histogram (scores 0, passes) and
    becomes the baseline. After every run the current histograms are
    persisted under ``run_id`` (default: zero-padded unix time —
    lexicographically sortable).

    Schema lineage closes the same loop (track_schema=True): each run
    persists the input's Catalyst schema and diffs against the previous
    run's — a metadata-only ``schema_drift`` verdict (partition_id
    '__schema__') that trips when a writer adds, drops, or retypes a
    column between batches, with per-column violation payloads. The
    first run self-baselines (passes) exactly like drift. Batch-over-
    batch semantics: a drifted schema fails ONCE, then becomes the new
    reference.

    Each run is committed once. The verdict and violation frames are
    hash-partitioned on partition_id and pinned, so each is computed by
    its own write and lands as exactly one parquet file per
    ``partition_id=`` directory. The verdict, violation and profile
    writes read independent pins and run concurrently; the drift and
    schema references and the manifests follow all three. The manifests
    aggregate the pinned verdicts, and the returned ValidationResult
    carries the pinned frames: a later ``passed()`` or ``collect()``
    reads exactly the committed rows without re-running the suite, and
    its ``unpersist()`` releases these pins with the scan pins. The pin
    is a lineage-cutting ``localCheckpoint``, not ``persist()``: the
    verdict plan reads ``drift_refs/``, which ``write_drift_references``
    appends to after the write, and that append invalidates any cached
    plan over the directory. A persisted frame would then be recomputed
    against this run's own histogram (PSI 0, passing) while the parquet
    on disk says it failed.

    Losing an executor fails the run. The scans (``validate_table``'s
    one eager scan wave) and the committed frames are pinned by
    localCheckpoint, which keeps no lineage to recompute lost blocks
    from, so a lost executor surfaces as a failed job rather than as a
    silent recomputation with different row ids. The manifests make the
    failure cheap: they are written last, so re-running the same call
    validates again exactly the partitions that have no manifest.

    Returns None if everything was already complete (nothing scanned).
    """
    import dataclasses

    from anomaly_detector_faironchain_spark.plans.spec import Drift, SchemaMatch

    t0 = time.time()
    # one id for every artifact of this run: profile rows, drift and
    # schema references are ordered by it across runs
    run_id = run_id or f"{int(t0):012d}"
    done = completed_partitions(out_dir)
    scoped = df
    if done and spec.partition_col:
        scoped = df.filter(
            ~F.coalesce(F.col(spec.partition_col).cast("string"), F.lit("__null__")).isin(
                sorted(done)
            )
        )
    elif done and spec.partition_col is None:
        return None  # whole-table run already complete

    # Nothing left? (cheap: limit 1)
    if spec.partition_col and scoped.limit(1).count() == 0:
        return None

    drifts = spec.by_type(Drift)
    if drifts and drift_refs is None:
        drift_refs = load_drift_references(
            df.sparkSession, out_dir,
            expected_params={d.col: _drift_params(d) for d in drifts},
        )
        for d in drifts:
            if d.col not in drift_refs:  # first run: self-baseline
                drift_refs[d.col] = constraint_histogram(scoped, d)

    if track_schema:
        ref_fields = load_schema_reference(out_dir)
        if ref_fields is None:  # first run: self-baseline, like drift
            ref_fields = [
                (f.name, f.dataType.simpleString()) for f in df.schema.fields
            ]
        spec = dataclasses.replace(spec, constraints=spec.constraints + (
            SchemaMatch(*ref_fields, allow_extra=False, label="schema_drift"),
        ))

    result = validate_table(scoped, spec, refs=refs, drift_refs=drift_refs,
                            **validate_kwargs)
    # Pin each frame once, hash-partitioned on partition_id (one file per
    # partition directory): the write computes it, the manifests and the
    # caller read the committed rows back (see docstring: not persist()).
    pins = {
        name: getattr(result, name)
        .repartition("partition_id")
        .localCheckpoint(eager=False)
        for name in ("verdicts", "violations")
    }
    result = dataclasses.replace(
        result, **pins,
        cached_frames=result.cached_frames + list(pins.values()),
    )
    writers = {
        name: frame.write.partitionBy("partition_id")
        for name, frame in pins.items()
    }
    writers["profile"] = result.profile.withColumn("run_id", F.lit(run_id)).write
    # the three writes read independent pins: run them concurrently
    with ThreadPoolExecutor(len(writers)) as ex:
        for f in [
            ex.submit(w.mode("append").parquet, str(Path(out_dir) / name))
            for name, w in writers.items()
        ]:
            f.result()
    if result.drift_histograms:
        write_drift_references(result, out_dir, run_id, spec=spec)
    if track_schema:
        write_schema_reference(df, out_dir, run_id)
    _write_manifests(out_dir, spec, result, time.time() - t0, input_path)
    return result


def profile_metric_drift(
    spark,
    out_dir: str,
    metrics: list[str] | None = None,
    rel_threshold: float = 0.5,
    abs_floor: float = 1e-9,
) -> DataFrame:
    """Run-over-run regression check on the persisted profile metrics —
    the scalar-metric sibling of the histogram Drift loop (Deequ's
    RelativeRateOfChange anomaly strategy, re-expressed over the
    checkpoint dir).

    For every (partition_id, metric) present in the LATEST run that also
    has a PREVIOUS observation, emits a verdict row failing when
    |cur - prev| / max(|prev|, abs_floor) > rel_threshold. A partition
    or metric seen for the first time passes vacuously (first
    observation is the baseline — same bootstrap semantics as Drift and
    schema lineage). Run ordering is the lexicographic run_id, so use
    sortable ids (the run_with_checkpoint default is a zero-padded unix
    time).

    ``metrics`` defaults to every numeric profile column (n_rows,
    null_count__*, mean__*, min__*, max__*, len_max__*, violations__*).

    Scale shape: the profile is ONE ROW per partition per run — this
    reads and joins only those rows, never the data; at 10^12 source
    rows the comparison frame is still #partitions-sized. Profile dirs
    are discovered under out_dir itself AND under snap-*/ children, so
    snapshot-increment validation (plans/snapshots.validate_new_
    snapshots) gets cross-increment monitoring for free.

    Returns verdict-shaped rows: (partition_id, check_id, passed,
    metric [relative change], threshold, prev_value, cur_value,
    prev_run, cur_run).
    """
    root = Path(out_dir)
    paths = [
        str(p)
        for p in [root / "profile", *sorted(root.glob("snap-*/profile"))]
        if p.is_dir()
    ]
    if not paths:
        raise ValueError(f"no persisted profiles under {out_dir!r}")
    prof = spark.read.option("mergeSchema", "true").parquet(*paths)
    if "run_id" not in prof.columns:
        raise ValueError(
            "persisted profiles carry no run_id (written by an older "
            "engine version); re-run validation to enable metric drift"
        )

    num_types = tuple(t.simpleString() for t in (
        T.LongType(), T.IntegerType(), T.DoubleType(), T.FloatType(),
        T.ShortType(),
    ))
    if metrics is None:
        metrics = [
            f.name
            for f in prof.schema.fields
            if f.name not in ("partition_id", "run_id")
            and f.dataType.simpleString() in num_types
        ]

    melted = prof.select(
        "partition_id",
        "run_id",
        F.stack(
            F.lit(len(metrics)),
            *[
                x
                for m in metrics
                for x in (F.lit(m), F.col(m).cast("double"))
            ],
        ).alias("metric_name", "value"),
    )
    w = Window.partitionBy("partition_id", "metric_name").orderBy("run_id")
    ranked = melted.select(
        "*",
        F.lag("value").over(w).alias("prev_value"),
        F.lag("run_id").over(w).alias("prev_run"),
        F.row_number().over(
            Window.partitionBy("partition_id", "metric_name")
            .orderBy(F.col("run_id").desc())
        ).alias("__rn__"),
    ).filter(F.col("__rn__") == 1)

    rel = F.abs(F.col("value") - F.col("prev_value")) / F.greatest(
        F.abs(F.col("prev_value")), F.lit(float(abs_floor))
    )
    return ranked.select(
        "partition_id",
        F.concat(F.lit("metric_drift("), "metric_name", F.lit(")"))
        .alias("check_id"),
        F.coalesce(rel <= F.lit(float(rel_threshold)), F.lit(True))
        .alias("passed"),
        F.round(F.coalesce(rel, F.lit(0.0)), 6).alias("metric"),
        F.lit(float(rel_threshold)).alias("threshold"),
        F.col("prev_value"),
        F.col("value").alias("cur_value"),
        F.col("prev_run"),
        F.col("run_id").alias("cur_run"),
    )


DIGEST_DIR = "content_digests"


def dedup_against_history(
    df: DataFrame,
    id_col: str,
    text_col: str,
    out_dir: str,
    run_id: str | None = None,
) -> DataFrame:
    """Cross-RUN exact dedup through the checkpoint dir — the batch
    analogue of the streaming state-store dedup: each run's content
    digests are persisted under ``content_digests/run_id=…``, and the
    next run's documents are flagged against everything seen before.

    Returns (id, content_md5, is_cross_run_dup, first_seen_run) for THIS
    batch, where is_cross_run_dup marks digests already present in a
    PREVIOUS run (within-batch duplicates are exact_dedup's job and stay
    unflagged here). After flagging, this run's previously-unseen
    digests are appended so the index grows by exactly the novel
    content.

    Scale shape: only (digest, run_id) pairs are ever stored or
    shuffled — 32 bytes per novel document, never bodies; the flag join
    and the novelty anti-join share one digest-keyed exchange pattern.
    The flag frame is written to parquet under ``dedup_flags/`` BEFORE
    the index append and re-read from disk — returning the lazy plan
    would silently re-scan the grown index and flag this run's own
    digests as duplicates.
    """
    rid = run_id or f"{int(time.time()):012d}"
    spark = df.sparkSession
    hashed = df.select(
        F.col(id_col).alias("id"), F.md5(F.col(text_col)).alias("content_md5")
    )
    idx_path = Path(out_dir) / DIGEST_DIR
    if idx_path.is_dir():
        hist = (
            spark.read.parquet(str(idx_path))
            .groupBy("content_md5")
            .agg(F.min("run_id").alias("first_seen_run"))
        )
    else:
        hist = spark.createDataFrame(
            [], "content_md5 string, first_seen_run string"
        )
    flags = hashed.join(hist, "content_md5", "left").select(
        "id",
        "content_md5",
        F.col("first_seen_run").isNotNull().alias("is_cross_run_dup"),
        "first_seen_run",
    )
    flags_path = Path(out_dir) / "dedup_flags" / f"run_id={rid}"
    flags.write.mode("overwrite").parquet(str(flags_path))
    flags = spark.read.parquet(str(flags_path))
    novel = (
        flags.filter(~F.col("is_cross_run_dup"))
        .select("content_md5")
        .distinct()
        .withColumn("run_id", F.lit(rid))
    )
    novel.write.mode("append").parquet(str(idx_path))
    return flags
