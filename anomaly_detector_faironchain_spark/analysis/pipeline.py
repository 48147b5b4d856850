"""The reference's EP2 anomaly-analysis pipeline end-to-end, Spark-first:
abstract token transfers → graph features → H1-H6 heuristics → z-features
→ Mahalanobis → 0-100 scores → analysis_result-shaped output.

Parity map (reference file → here):
  graph/construction + graph/feature/*        → operators/graph.py
                                                (node table + pair table
                                                + one motif kernel)
  analysis/detectors/rule_based_*.py:30-259   → heuristic_rules()
  analysis/detectors/statistical_*.py:18-57   → add_log_features() +
                                                fused_threshold_and_z_stats()
                                                + apply_z()
  analysis/detectors/statistical_*.py:60-103  → operators/mahalanobis.py
  analysis/detectors/unsupervised_*.py        → operators/iforest.py
                                                (numpy iTree ensemble fit
                                                on a bounded driver sample,
                                                broadcast, Arrow-batched
                                                UDF scoring; drift scoring
                                                remains the engine's
                                                streaming-friendly
                                                alternative, SURVEY §2 K4)
  analysis/scoring/scoring.py                 → score() (Hazen percentiles,
                                                rule score, final mean,
                                                top-percent display)
  run_anomaly_analysis_pipeline.py:22-104     → run_anomaly_analysis()

Infra handling mirrors the reference's split/re-merge (:32-36, :88-89):
whitelisted accounts are excluded from every statistic and re-attached
with null scores and is_infra=1.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from anomaly_detector_faironchain_spark.operators import (
    graph,
    iforest,
    mahalanobis,
    scoring,
)

log = logging.getLogger(__name__)

# the reference's burn-address blacklist, applied before graph build
# (graph/construction/filter_edgelist.py:4-8)
ADDRESS_BLACKLIST = (
    "1_0x0000000000000000000000000000000000000000",
    "1_0x000000000000000000000000000000000000dead",
    "1_0xeeeeeeeeeeeeeeeeeeeeeeeeeeeeeeeeeeeeeeee",
)

RULE_DESCRIPTIONS = {
    "H1": "H1: Aggregates from many sources and forwards almost unchanged to few addresses. May indicate ransomware or scam fund routing.",
    "H2": "H2: Aggregates from many sources but shows no outgoing transfers. May indicate scam fund storage or ransomware holding address.",
    "H3": "H3: Receives funds from a single source and distributes to many addresses. May indicate laundering or scam profit distribution.",
    "H4": "H4: Receives from many sources and distributes to many others with minimal balance retained. Possible mixer or laundering relay.",
    "H5": "H5: Participates in closed two-node loops with high value or frequent transfers. May indicate wash trading or self-laundering.",
    "H6": "H6: Participates in closed triangle-shaped loops with high value or frequent transfers. May indicate self-laundering or obfuscation.",
}

THRESHOLD_COLS = [
    "in_degree", "out_degree",
    "two_node_loop_amount", "two_node_loop_tx_count",
    "triangle_loop_amount", "triangle_loop_tx_count",
]
ZERO_EXCLUDED = [
    "two_node_loop_amount", "two_node_loop_tx_count",
    "triangle_loop_amount", "triangle_loop_tx_count",
]

LOG_FEATURES = [
    "in_degree", "out_degree",
    "total_input_amount", "total_output_amount",
    "two_node_loop_count", "triangle_loop_count",
]
Z_FEATURES = [f"{c}_log" for c in LOG_FEATURES] + [
    "log_degree_ratio", "log_amount_ratio", "egonet_density",
]


def attach_block_timestamps(
    tt: DataFrame, tx: DataFrame, blocks: DataFrame,
    count_orphans: bool = True,
) -> tuple[DataFrame, dict[str, int]]:
    """Edge timestamp lineage (reference load_clean_edgelist.py:41-54):
    transfer ⋈ tx → block_sid, ⋈ block → timestamp, both left joins, with
    the reference's orphan safety counts (transfers missing a tx, and
    transfers missing a block timestamp) computed in ONE aggregation pass
    and logged as warnings when non-zero."""
    joined = (
        tt.join(tx.select("tx_sid", "block_sid"), "tx_sid", "left")
        .join(blocks.select("block_sid", "timestamp"), "block_sid", "left")
    )
    orphans = {"missing_tx": 0, "missing_ts": 0}
    if count_orphans:
        row = joined.agg(
            F.sum(F.col("block_sid").isNull().cast("long")).alias("mt"),
            F.sum(F.col("timestamp").isNull().cast("long")).alias("ms"),
        ).collect()[0]
        orphans = {
            "missing_tx": int(row.mt or 0),
            "missing_ts": int(row.ms or 0),
        }
        if orphans["missing_tx"]:
            log.warning("%d transfers have no matching tx_sid",
                        orphans["missing_tx"])
        if orphans["missing_ts"]:
            log.warning("%d transfers have no block timestamp",
                        orphans["missing_ts"])
    return joined, orphans


def build_edges(
    tt: DataFrame,
    ts_col: str | None = None,
    min_amount: float = 0.0,
    blacklist: list[str] | None = None,
) -> DataFrame:
    """Filtered, aggregated edgelist. Mirrors the reference's pre-graph
    pruning — `amount >= min_amount` (run_graph_builder.py:23 passes
    1e12 Wei) and the burn-address blacklist on BOTH endpoints
    (filter_edgelist.py:26-35; pass blacklist=[] to disable) — then
    collapses parallel transfers (build_token_transfer_graph.py:26-31).

    Amounts go through double (the reference's features CSV does the same
    — SURVEY §1.2 notes the accepted precision loss downstream)."""
    bl = list(ADDRESS_BLACKLIST if blacklist is None else blacklist)
    t = tt.select(
        F.col("spender_address_sid").alias("src"),
        F.col("receiver_address_sid").alias("dst"),
        F.col("amount_dec38").cast("double").alias("amount"),
        (F.col(ts_col) if ts_col else F.lit(0)).alias("ts"),
    )
    if min_amount:
        t = t.filter(F.col("amount") >= min_amount)
    if bl:
        t = t.filter(~F.col("src").isin(bl) & ~F.col("dst").isin(bl))
    return graph.aggregate_edges(t, "src", "dst", "amount", "ts")


def features_from_edges(
    edges: DataFrame,
    broadcast_dict_max: int = 5_000_000,
    wedge_budget: int | None = None,
    on_guard=None,
) -> DataFrame:
    """Per-account feature frame over a (cached) aggregated edgelist,
    built on two pinned tables:

    * the node table (graph.node_table: in/out degree, transfer counts,
      amounts, balance_proxy, has_self_loop — one groupBy over both
      endpoint projections) doubles as the vertex dictionary: it gets an
      int64 ``__nid__`` and is pinned with localCheckpoint. Its first
      action is also the first read of the cached edgelist.
      monotonically_increasing_id is plan-layout-dependent, so a
      recomputed table could mint different ids per consumer branch —
      eviction must fail the job, not recompute;
    * the pair table (graph.pair_table) of the edgelist encoded to those
      ids (two broadcast joins while the node table is under
      `broadcast_dict_max` rows; shuffle joins above — still a win at
      scale because wedges strictly outnumber edges), pinned. The wedge
      intermediate — the largest frame EP2 ever shuffles — carries 3
      node keys per row; ~30-byte sids → 8-byte longs cuts its shuffle
      bytes ~3x and the hash-join probes compare longs instead of
      strings (measured 1.39x on the 2M-edge bench corpus,
      BENCH/fused_shj_ab_round3.json intids arm).

    The wedge guard (wedge_budget, see graph.motif_features) and the
    motif kernel both read the pinned pair table, and the kernel's
    per-node credits left-join the node table on its id, which already
    carries the account sid — no decode join. When wedge_budget is set,
    the output carries a motif_excluded int column and excluded hubs get
    null motif features (their node features and has_self_loop are
    kept).

    Spark jobs: the node table's aggregation and pin, its row count,
    the pair table's aggregation and pin, then the guard's estimates; the
    returned frame is lazy (the feature plan runs in the caller's first
    action) and reads no cached edgelist."""
    nodes = graph.node_table(edges).withColumn(
        "__nid__", F.monotonically_increasing_id()
    ).localCheckpoint(eager=True)
    n_nodes = nodes.count()  # fetch over checkpointed blocks
    side = F.broadcast(nodes) if n_nodes <= broadcast_dict_max else nodes
    encoded = (
        edges
        .join(side.select(F.col("node").alias("src"),
                          F.col("__nid__").alias("__s__")), "src")
        .join(side.select(F.col("node").alias("dst"),
                          F.col("__nid__").alias("__d__")), "dst")
        .select(F.col("__s__").alias("src"), F.col("__d__").alias("dst"),
                "amount", "cnt")
    )
    pairs = graph.pair_table(encoded).localCheckpoint(eager=True)
    out = graph.motif_features(
        nodes.withColumnRenamed("node", "account_sid")
        .withColumnRenamed("__nid__", "node"),
        pairs, wedge_budget=wedge_budget, on_guard=on_guard)
    return out.select(
        "in_degree", "in_transfer_count", "total_input_amount",
        "out_degree", "out_transfer_count", "total_output_amount",
        "balance_proxy",
        "two_node_loop_count", "two_node_loop_amount",
        F.col("two_node_loop_tx").alias("two_node_loop_tx_count"),
        F.col("triangle_count").alias("triangle_loop_count"),
        F.col("triangle_amount").alias("triangle_loop_amount"),
        F.col("triangle_tx").alias("triangle_loop_tx_count"),
        F.col("ego_density").alias("egonet_density"),
        *(["motif_excluded"] if wedge_budget is not None else []),
        "has_self_loop", "account_sid",
        F.substring_index(F.col("account_sid"), "_", -1).alias("address"),
    )


def heuristic_rules(df: DataFrame, t: dict[str, float]) -> DataFrame:
    """H1-H6 with the reference's exact conditions and description text."""
    retention = F.when(
        F.col("total_input_amount") > 0,
        F.abs(F.col("total_input_amount") - F.col("total_output_amount"))
        / F.col("total_input_amount"),
    )  # NaN→null when input == 0 yields no flag, like np.where+NaN
    rules = [
        scoring.Rule("H1",
                     (F.col("in_degree") >= t["in_degree"])
                     & (F.col("out_degree") <= 3)
                     & (retention <= 0.05),
                     RULE_DESCRIPTIONS["H1"]),
        scoring.Rule("H2",
                     (F.col("in_degree") >= t["in_degree"])
                     & (F.col("out_degree") == 0),
                     RULE_DESCRIPTIONS["H2"]),
        scoring.Rule("H3",
                     (F.col("in_degree") == 1)
                     & (F.col("out_degree") >= t["out_degree"]),
                     RULE_DESCRIPTIONS["H3"]),
        scoring.Rule("H4",
                     (F.col("in_degree") >= t["in_degree"])
                     & (F.col("out_degree") >= t["out_degree"])
                     & (retention <= 0.05),
                     RULE_DESCRIPTIONS["H4"]),
        scoring.Rule("H5",
                     (F.col("two_node_loop_count") >= 1)
                     & ((F.col("two_node_loop_amount") >= t["two_node_loop_amount"])
                        | (F.col("two_node_loop_tx_count") >= t["two_node_loop_tx_count"])),
                     RULE_DESCRIPTIONS["H5"]),
        scoring.Rule("H6",
                     (F.col("triangle_loop_count") >= 1)
                     & ((F.col("triangle_loop_amount") >= t["triangle_loop_amount"])
                        | (F.col("triangle_loop_tx_count") >= t["triangle_loop_tx_count"])),
                     RULE_DESCRIPTIONS["H6"]),
    ]
    return scoring.apply_rules(df, rules)


def add_log_features(df: DataFrame) -> DataFrame:
    """K1 first half: log1p on 6 skewed columns + two log-ratios — pure
    column expressions, no action (statistical_anomaly_detection.py:18-40)."""
    for c in LOG_FEATURES:
        df = df.withColumn(f"{c}_log", F.log1p(F.col(c)))
    return df.withColumn(
        "log_degree_ratio",
        F.log((F.col("in_degree") + 1) / (F.col("out_degree") + 1)),
    ).withColumn(
        "log_amount_ratio",
        F.log((F.col("total_input_amount") + 1) / (F.col("total_output_amount") + 1)),
    )


def apply_z(df: DataFrame, stats: dict[str, tuple[float, float]]) -> DataFrame:
    """K1 second half: z-score the 9 features with precomputed ddof=1
    moments (statistical_anomaly_detection.py:43-57)."""
    for c in Z_FEATURES:
        m, s = stats[c]
        df = df.withColumn(f"{c}_z", (F.col(c) - F.lit(m)) / F.lit(s))
    return df


def fused_threshold_and_z_stats(
    df: DataFrame, q: float = 0.99
) -> tuple[dict[str, float], dict[str, tuple[float, float]]]:
    """Rule thresholds (A4) AND z-score moments (K1) in ONE aggregation
    action over a frame that already has the log/ratio columns.

    Trade-off, measured in round 1 (BENCH/BASELINE.md): exact percentile
    forces ObjectHashAggregate, so the avg/stddev expressions in the same
    aggregate run interpreted. Here the input is the CACHED per-account
    feature frame (orders of magnitude smaller than the transfer table),
    where one interpreted pass beats two codegen'd passes + an extra
    driver sync — the suite's per-row hot path keeps the codegen split."""
    aggs = []
    for c in THRESHOLD_COLS:
        flt = f" FILTER (WHERE `{c}` > 0)" if c in ZERO_EXCLUDED else ""
        aggs.append(F.expr(f"percentile(`{c}`, {q}){flt}").alias(f"t__{c}"))
    for c in Z_FEATURES:
        aggs.append(F.avg(c).alias(f"m__{c}"))
        aggs.append(F.stddev_samp(c).alias(f"s__{c}"))
    row = df.agg(*aggs).collect()[0]
    thresholds = {
        c: (row[f"t__{c}"] if row[f"t__{c}"] is not None else 0.0)
        for c in THRESHOLD_COLS
    }
    zstats = {}
    for c in Z_FEATURES:
        m = row[f"m__{c}"] or 0.0
        s = row[f"s__{c}"]
        zstats[c] = (float(m), float(s) if s not in (None, 0.0) else 1.0)
    return thresholds, zstats


def score(
    df: DataFrame, score_cols: list[str], ranks_precomputed: bool = False
) -> DataFrame:
    """K5: rule score (0-3 → 0-100), Hazen percentiles, final mean,
    top-percent display (scoring.py:24-105).

    ranks_precomputed=True skips the internal Mahalanobis Hazen pass —
    the caller already produced mahalanobis_distance_stats_score_100
    (run_anomaly_analysis ranks it with the iforest score in one
    hazen_percentile_agg_multi call).

    Jobs: the frame with final_score_0_100 is pinned (localCheckpoint),
    so the top-percent rank's count job and the caller's next action do
    not both recompute the upstream ranks. final_score_0_100 lies in
    [0, 100], so its bucket boundaries are literals and need no job."""
    df = df.withColumn(
        "rule_score_raw",
        (F.greatest(*[F.col(f"H{i}_flag") for i in range(1, 5)])
         + F.col("H5_flag") + F.col("H6_flag")).cast("float"),
    ).withColumn(
        "rule_score_100",
        F.round(F.col("rule_score_raw") * (100.0 / 3.0), 2).cast("float"),
    )
    if not ranks_precomputed:
        df = scoring.hazen_percentile_agg(
            df, "mahalanobis_distance", "mahalanobis_distance_stats_score_100"
        )
    components = ["rule_score_100", "mahalanobis_distance_stats_score_100"] + score_cols
    mean_expr = sum((F.col(c) for c in components[1:]), F.col(components[0]))
    df = df.withColumn(
        "final_score_0_100", (mean_expr / len(components)).cast("float")
    ).localCheckpoint(eager=True)
    p = scoring.shuffle_partitions(df.sparkSession)
    df = scoring.top_percent_rank(
        df, "final_score_0_100", "__tp__",
        bounds=[100.0 * i / p for i in range(1, p)],
    )
    df = (
        df.withColumn("final_score_top_percent", F.col("__tp__").cast("float"))
        .withColumn(
            "final_score_top_percent_display",
            F.format_string("%.2f%%", F.col("final_score_top_percent")),
        )
        .drop("__tp__")
    )
    return df


# test/debug handles from the most recent run_anomaly_analysis call —
# lets tests assert cache state without widening the return type
_last_run_handles: dict = {}


DEFAULT_WEDGE_BUDGET = 500_000_000  # ≈25-50 GB wedge shuffle at 50-100 B/row


def run_anomaly_analysis(
    tt: DataFrame,
    infra_addresses: list[str] | None = None,
    include_iforest: bool = True,
    min_amount: float = 0.0,
    blacklist: list[str] | None = None,
    tx: DataFrame | None = None,
    blocks: DataFrame | None = None,
    iforest_params: dict | None = None,
    materialize: bool = True,
    wedge_budget: int | None = DEFAULT_WEDGE_BUDGET,
    on_guard=None,
) -> DataFrame:
    """Full EP2 (reference run_anomaly_analysis_pipeline.py:22-104):
    [timestamp lineage] → edge filter → features → split infra →
    thresholds → rules → z → Mahalanobis → IsolationForest → scores →
    re-merged result.

    * `min_amount`/`blacklist` mirror the reference's pre-graph pruning
      (run_graph_builder.py:23 uses 1e12 Wei; blacklist defaults to the
      reference's 3 burn addresses — pass [] to disable).
    * `tx`/`blocks` enable the transfer⋈tx⋈block timestamp join with
      orphan counting (load_clean_edgelist.py:41-54); the edgelist then
      carries real `first_ts`.
    * iforest: numpy iTree ensemble with the reference's parameters
      (n_estimators=300, max_samples=100k, seed=42); final score is the
      mean of 3 detectors (scoring.py:96-98).
    * `wedge_budget` (default 5e8 rows): the dense-graph guard. Before
      the motif stage, the wedge-shuffle volume is estimated exactly
      from the degree distribution (graph.motif_wedge_guard); a graph
      that would blow past the budget gets degree-orientation routing
      and, if still over, automatic hub exclusion — the excluded hubs
      are REPORTED (on_guard callback + WARNING log), carry null motif
      features and a `motif_excluded=1` flag in the result, and are
      routed around the scoring stats exactly like infra whitelist rows
      (null scores, re-attached at the end) — the reference's manual
      whitelist (extract_motif_features.py:32-44,83-94), automated.
      Pass None to disable (pre-round-5 behavior, no motif_excluded
      column, wedge shuffle unbounded).
    * Cache discipline: the edgelist and the per-account feature frame
      are cached (the feature frame feeds 3-4 separate driver actions —
      without the cache every action re-runs the triangle/egonet joins);
      with materialize=True the result is localCheckpoint'ed (cuts
      lineage, one extra job over the small per-account table) and both
      caches are released before returning. With materialize=False they
      stay pinned for inspection (handles in _last_run_handles) and are
      released by the NEXT run. On a multi-tenant cluster, swap
      localCheckpoint for a reliable checkpoint dir.

    Spark jobs per call: 35 on the benchmark's ep2_graph fixture
    (perfbench: 20k transfers among 200 accounts, local[2], 8 shuffle
    partitions). With adaptive execution every shuffle stage of an action
    is its own job, so the chain, in order, is:
      5  node table checkpoint (features_from_edges); its aggregation is
         the first read of the edgelist and fills the edge cache
      2  node table row count (broadcast decision)
      3  pair table checkpoint: id-encode broadcast, pair aggregation
      3  wedge-guard estimate over the pinned pair table
         (graph.motif_wedge_guard)
      9  fused threshold + z-moment collect: the stages of the motif
         plan over the two pinned tables, which fill the feature cache
      2  Mahalanobis covariance
      1  iforest fit sample
      1  detector-score checkpoint; it also observes the rank boundaries
      2  bucket counts of both detector-score ranks
      3  checkpoint of the two Hazen ranks and final_score_0_100
      2  bucket counts of final_score_0_100 (literal boundaries)
      2  final checkpoint: the top-percent rank and the infra re-merge
    The orphan count adds its own jobs when tx/blocks are given.
    tests/test_analysis_pipeline.py pins the count on its own fixture.
    """
    # release caches a previous materialize=False run left pinned (its
    # handles are clobbered below; unpersist is safe — consumers recompute)
    for h in ("edges", "work"):
        prev = _last_run_handles.get(h)
        if prev is not None:
            prev.unpersist()

    ts_col = None
    orphans = None
    if tx is not None and blocks is not None:
        tt, orphans = attach_block_timestamps(tt, tx, blocks)
        ts_col = "timestamp"
    edges = build_edges(tt, ts_col, min_amount, blacklist).cache()
    feats = features_from_edges(edges, wedge_budget=wedge_budget,
                                on_guard=on_guard)
    infra = [a.strip().lower() for a in (infra_addresses or [])]
    feats = feats.withColumn(
        "is_infra", F.col("address").isin(infra).cast("int")
    )
    # guard-excluded hubs leave the scoring population with the infra
    # rows: their motif features are null by construction, so letting
    # them into the threshold/z/Mahalanobis stats would poison every
    # aggregate; they re-attach below with null scores, as the
    # reference's whitelist rows do
    scored_pred = F.col("is_infra") == 0
    if wedge_budget is not None:
        scored_pred = scored_pred & (F.col("motif_excluded") == 0)
    base = add_log_features(feats.filter(scored_pred)).cache()

    t, zstats = fused_threshold_and_z_stats(base)  # action 1 (fills cache)
    work = heuristic_rules(base, t)
    work = apply_z(work, zstats)
    zcols = [f"{c}_z" for c in Z_FEATURES]
    work = mahalanobis.mahalanobis(work, zcols, "mahalanobis_distance")
    extra_scores: list[str] = []
    if include_iforest:
        params = {"n_estimators": 300, "max_samples": 100_000, "seed": 42}
        params.update(iforest_params or {})
        try:
            model = iforest.fit_iforest(work, zcols, **params)  # action 3
        except ValueError:
            # empty non-infra frame (everything pruned/whitelisted):
            # degrade to the 2-detector mean instead of crashing a
            # scheduled run over a quiet slice
            log.warning("isolation forest skipped: no rows to fit on")
            model = None
        if model is not None:
            work = iforest.score_iforest(work, zcols, model)
            extra_scores = ["iforest_stats_score_100"]
    rank_specs = [("mahalanobis_distance",
                   "mahalanobis_distance_stats_score_100")]
    if extra_scores:
        rank_specs.append(("iforest_score", "iforest_stats_score_100"))
    bounds = None
    if materialize:
        # pin the detector-score frame (per-account, small) before the
        # rank layers, so the rank count job and the ranks themselves
        # read materialized rows instead of re-running the Mahalanobis/
        # iforest Arrow UDF scans; the same job observes the ranks'
        # bucket boundaries
        work, bounds = scoring.checkpoint_with_boundaries(
            work, [c for c, _ in rank_specs])
    work = scoring.hazen_percentile_agg_multi(work, rank_specs, bounds=bounds)
    work = score(work, extra_scores, ranks_precomputed=True)

    drop = [c for c in work.columns
            if c.endswith("_log") or c.endswith("_z") or c.endswith("_ratio")]
    work = work.drop(*drop)
    infra_rows = feats.filter(~scored_pred)
    out = work.unionByName(infra_rows, allowMissingColumns=True)
    _last_run_handles.clear()
    _last_run_handles.update(edges=edges, work=base, orphans=orphans)
    if materialize:
        out = out.localCheckpoint(eager=True)  # final action
        base.unpersist()
        edges.unpersist()
    return out
