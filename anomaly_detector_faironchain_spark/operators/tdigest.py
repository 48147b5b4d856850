"""Mergeable t-digest quantile sketches (the second sketch family the
north rule names: "length quantiles via KLL/t-digest sketches").

Spark 4.1 ships KLL natively (`operators/stats.kll_partition_sketches`)
but has no t-digest, so this is the engine's own merging-digest
implementation (Dunning & Ertl, "Computing Extremely Accurate Quantiles
Using t-Digests", arXiv:1902.04023 — public algorithm): centroids
(mean, weight) compressed under the k1 scale function, which bounds the
centroid count at ~2·delta while keeping extreme quantiles (p99/p999 of
a length distribution) far more accurate than uniform-width summaries.

Why keep both sketch families:
- KLL gives a PROVEN uniform rank-error bound and Spark-native merge
  aggregates (zero Python in the merge path).
- t-digest gives asymmetric accuracy — relative error shrinks toward
  the tails — which is what length/size anomaly thresholds (p99.9 of
  file size) actually need, and its state is plain
  (array<double>, array<double>), i.e. parquet-able and inspectable
  without a sketch library on the reading side.

Scale shape (the 10^12-row story):
1. `tdigest_partition_sketches` runs ONE `mapInPandas` pass that
   map-side-combines every Arrow batch into per-(task, partition_id)
   partial digests — raw values never shuffle; a task emits at most
   (#groups-it-saw) rows of ≤2·delta centroids each.
2. The only shuffle moves those centroid rows (≈ delta·16 bytes per
   group per task), merged per group by `applyInPandas`.
3. Corpus-level quantiles merge the per-group digests — KBs per group,
   never data. Digests persist as plain parquet (see
   plans/checkpoint.write_tdigest_sketches) and merge across runs, so
   incremental validation never rescans completed partitions.

Determinism: the classic implementation alternates merge direction /
uses randomized tie-breaks; this one is fully deterministic (stable
sort by mean, single left-to-right merge pass) so resumed runs and the
DuckDB oracle see identical digests. Exactness contract (what the
small-scale oracle relies on, mirroring the KLL exact-mode note in
stats.py): while a digest holds ≤ delta centroids NO compression runs,
every centroid is a singleton, and `tdigest_quantiles` reduces to the
exact Hazen percentile (rank h = q·n + 0.5, linear interpolation) —
the same definition `operators/scoring.hazen_percentile_agg` and its
DuckDB oracle already use.

Reference anchor: generalizes the reference's fixed length assertions
(reference: etl/test.py:60-128) and its percentile thresholding
(reference: analysis/statistical_anomaly_detection.py:60-75) into a
mergeable, resumable distribution profile.
"""
from __future__ import annotations

import math
from typing import Iterable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F

TD_SCHEMA = (
    "partition_id string, n_rows long, vmin double, vmax double, "
    "means array<double>, weights array<double>"
)

# values buffered per group before an in-task compression; bounds task
# memory at ~BUFFER·8 bytes per live group regardless of group size
_BUFFER = 16384


def _k1(q: np.ndarray | float, delta: float):
    """k1 scale function: k(q) = (delta / 2π)·asin(2q − 1)."""
    return (delta / (2.0 * math.pi)) * np.arcsin(2.0 * np.clip(q, 0, 1) - 1)


def _compress(
    means: np.ndarray, weights: np.ndarray, delta: int
) -> tuple[np.ndarray, np.ndarray]:
    """Deterministic single-pass merging compression under k1.

    No-op while ≤ delta centroids (the exactness contract above). Stable
    mergesort keeps equal means in input order, so the result is a pure
    function of the multiset of centroids.
    """
    if means.size <= delta:
        order = np.argsort(means, kind="stable")
        return means[order], weights[order]
    order = np.argsort(means, kind="stable")
    means, weights = means[order], weights[order]
    total = float(weights.sum())
    out_m: list[float] = []
    out_w: list[float] = []
    acc = 0.0  # weight fully emitted so far
    cur_m, cur_w = float(means[0]), float(weights[0])
    limit = _k1(0.0, delta) + 1.0
    for i in range(1, means.size):
        w = float(weights[i])
        q_new = (acc + cur_w + w) / total
        if _k1(q_new, delta) <= limit:
            # weighted-mean merge keeps the centroid exact for its mass
            cur_m += (means[i] - cur_m) * (w / (cur_w + w))
            cur_w += w
        else:
            out_m.append(cur_m)
            out_w.append(cur_w)
            acc += cur_w
            cur_m, cur_w = float(means[i]), w
            limit = _k1(acc / total, delta) + 1.0
    out_m.append(cur_m)
    out_w.append(cur_w)
    return np.asarray(out_m), np.asarray(out_w)


class _Partial:
    """Per-group accumulator inside one task: value buffer + digest."""

    __slots__ = ("means", "weights", "buf", "n", "vmin", "vmax")

    def __init__(self) -> None:
        self.means = np.empty(0)
        self.weights = np.empty(0)
        self.buf: list[np.ndarray] = []
        self.n = 0
        self.vmin = math.inf
        self.vmax = -math.inf

    def add(self, vals: np.ndarray, delta: int) -> None:
        if vals.size == 0:
            return
        self.n += int(vals.size)
        self.vmin = min(self.vmin, float(vals.min()))
        self.vmax = max(self.vmax, float(vals.max()))
        self.buf.append(vals)
        if sum(v.size for v in self.buf) >= _BUFFER:
            self.flush(delta)

    def flush(self, delta: int) -> None:
        if not self.buf:
            return
        vals = np.concatenate(self.buf)
        self.buf = []
        self.means, self.weights = _compress(
            np.concatenate([self.means, vals]),
            np.concatenate([self.weights, np.ones(vals.size)]),
            delta,
        )


def tdigest_partition_sketches(
    df: DataFrame,
    value_col,
    partition_col: str,
    delta: int = 8192,
) -> DataFrame:
    """Per-partition mergeable t-digests of a numeric column.

    ONE mapInPandas pass with in-task map-side combine (raw values
    never shuffle) followed by one centroid-row shuffle per group.
    NULL values are excluded (profile semantics match
    kll_partition_sketches). Returns
    (partition_id, n_rows, vmin, vmax, means, weights).
    """
    v = F.col(value_col) if isinstance(value_col, str) else value_col
    src = df.select(
        F.col(partition_col).cast("string").alias("partition_id"),
        v.cast("double").alias("__v__"),
    ).filter(F.col("__v__").isNotNull() & ~F.isnan("__v__"))

    def partials(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        groups: dict[str, _Partial] = {}
        for pdf in batches:
            for pid, vals in pdf.groupby("partition_id", sort=False)["__v__"]:
                groups.setdefault(pid, _Partial()).add(
                    vals.to_numpy(dtype=np.float64), delta
                )
        rows = []
        for pid, p in groups.items():
            p.flush(delta)
            rows.append(
                (pid, p.n, p.vmin, p.vmax, list(p.means), list(p.weights))
            )
        if rows:
            yield pd.DataFrame(
                rows,
                columns=[
                    "partition_id", "n_rows", "vmin", "vmax",
                    "means", "weights",
                ],
            )

    partial_df = src.mapInPandas(partials, schema=TD_SCHEMA)
    return _merge_groups(partial_df, delta)


def _merge_groups(sk_df: DataFrame, delta: int) -> DataFrame:
    """Merge digest rows per partition_id (centroid concat + compress)."""

    def merge(pdf: pd.DataFrame) -> pd.DataFrame:
        m, w = _compress(
            np.concatenate([np.asarray(x) for x in pdf["means"]]),
            np.concatenate([np.asarray(x) for x in pdf["weights"]]),
            delta,
        )
        return pd.DataFrame(
            {
                "partition_id": [pdf["partition_id"].iloc[0]],
                "n_rows": [int(pdf["n_rows"].sum())],
                "vmin": [float(pdf["vmin"].min())],
                "vmax": [float(pdf["vmax"].max())],
                "means": [list(m)],
                "weights": [list(w)],
            }
        )

    return sk_df.groupBy("partition_id").applyInPandas(merge, schema=TD_SCHEMA)


def _quantile(
    means: np.ndarray,
    weights: np.ndarray,
    vmin: float,
    vmax: float,
    q: float,
) -> float:
    """Midpoint-interpolated quantile. For all-singleton digests this is
    exactly the Hazen percentile (rank q·n + 0.5, linear interpolation,
    clamped to [min, max]) — see module docstring."""
    total = float(weights.sum())
    if total == 0:
        return float("nan")
    centers = np.cumsum(weights) - weights / 2.0
    t = q * total
    if t <= centers[0]:
        return float(means[0]) if means.size else vmin
    if t >= centers[-1]:
        return float(means[-1])
    i = int(np.searchsorted(centers, t, side="right")) - 1
    span = centers[i + 1] - centers[i]
    frac = (t - centers[i]) / span if span > 0 else 0.0
    return float(means[i] + frac * (means[i + 1] - means[i]))


def tdigest_quantiles(
    sk_df: DataFrame,
    quantiles: tuple = (0.5, 0.95, 0.99),
    merged: bool = False,
    delta: int = 8192,
) -> DataFrame:
    """Quantile estimates from digest rows. merged=False → one row per
    digest; merged=True → ONE corpus row merging every input digest
    (reads only centroid arrays, never data)."""
    if merged:
        sk_df = sk_df.withColumn("partition_id", F.lit("__corpus__"))
        sk_df = _merge_groups(sk_df, delta)

    qnames = [f"p{str(q)[2:].ljust(2, '0')}" for q in quantiles]
    schema = (
        "partition_id string, n_rows long, vmin double, vmax double, "
        + ", ".join(f"{n} double" for n in qnames)
    )

    def est(pdf: pd.DataFrame) -> pd.DataFrame:
        out = {
            "partition_id": pdf["partition_id"],
            "n_rows": pdf["n_rows"],
            "vmin": pdf["vmin"],
            "vmax": pdf["vmax"],
        }
        for q, name in zip(quantiles, qnames):
            out[name] = [
                _quantile(
                    np.asarray(r["means"]),
                    np.asarray(r["weights"]),
                    r["vmin"],
                    r["vmax"],
                    q,
                )
                for _, r in pdf.iterrows()
            ]
        return pd.DataFrame(out)

    # group to 1-row frames only to reuse applyInPandas' Arrow transport
    return sk_df.groupBy("partition_id").applyInPandas(est, schema=schema)


def merge_digests_py(
    rows: Iterable[tuple], delta: int = 8192
) -> tuple[np.ndarray, np.ndarray, int, float, float]:
    """Driver/test-side merge of (means, weights, n, vmin, vmax) tuples —
    the associativity surface the pytest property checks exercise."""
    means = np.concatenate([np.asarray(r[0], dtype=float) for r in rows])
    weights = np.concatenate([np.asarray(r[1], dtype=float) for r in rows])
    n = sum(int(r[2]) for r in rows)
    vmin = min(float(r[3]) for r in rows)
    vmax = max(float(r[4]) for r in rows)
    m, w = _compress(means, weights, delta)
    return m, w, n, vmin, vmax
