"""Graph-operator and detector-kernel query suite.

The motif/egonet operators need a non-bipartite directed graph; it is
derived deterministically from `orders`: src = 'n'||o_custkey,
dst = 'n'||(1 + o_orderkey % 1500) — same construction in the oracle.
The customer→supplier edge table (real join) covers the J1/A1 kernels.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from anomaly_detector_faironchain_spark.operators import graph, mahalanobis, scoring


def _orders(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/orders.parquet")


def _synthetic_transfers(spark, sf_dir) -> DataFrame:
    o = _orders(spark, sf_dir)
    return o.select(
        F.concat(F.lit("n"), F.col("o_custkey")).alias("src"),
        F.concat(F.lit("n"), (F.lit(1) + F.col("o_orderkey") % 1500)).alias("dst"),
        F.col("o_totalprice").alias("amount"),
        F.col("o_orderdate").alias("ts"),
    )


_SYN_EDGES_SQL = """
edges AS (
  SELECT 'n' || o_custkey AS src, 'n' || (1 + o_orderkey % 1500) AS dst,
         SUM(o_totalprice) AS amount, CAST(COUNT(*) AS BIGINT) AS cnt,
         MIN(o_orderdate) AS first_ts
  FROM orders GROUP BY 1, 2
)"""


def _syn_edges(spark, sf_dir) -> DataFrame:
    return graph.aggregate_edges(
        _synthetic_transfers(spark, sf_dir), "src", "dst", "amount", "ts"
    )


# -- A1/J1: customer→supplier edge aggregation from a real join -------------

def q_edge_aggregation(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    o = _orders(spark, sf_dir)
    transfers = li.join(o, li.l_orderkey == o.o_orderkey).select(
        F.concat(F.lit("c"), F.col("o_custkey")).alias("src"),
        F.concat(F.lit("s"), F.col("l_suppkey")).alias("dst"),
        F.col("l_extendedprice").alias("amount"),
        F.col("l_shipdate").alias("ts"),
    )
    e = graph.aggregate_edges(transfers, "src", "dst", "amount", "ts")
    return e.select(
        "src", "dst",
        F.round("amount", 4).cast("double").alias("amount"),
        F.col("cnt").cast("long").alias("cnt"),
        F.date_format("first_ts", "yyyy-MM-dd").alias("first_ship"),
    )


ORACLE_EDGE_AGGREGATION = """
SELECT 'c' || o_custkey AS src, 's' || l_suppkey AS dst,
       CAST(ROUND(SUM(l_extendedprice), 4) AS DOUBLE) AS amount,
       CAST(COUNT(*) AS BIGINT) AS cnt,
       strftime(MIN(l_shipdate), '%Y-%m-%d') AS first_ship
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY 1, 2
"""


# -- J7: per-node degree/amount features ------------------------------------

def q_node_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _syn_edges(spark, sf_dir)
    nf = graph.node_features(e)
    return nf.select(
        "node",
        F.col("in_degree").cast("long").alias("in_degree"),
        F.col("out_degree").cast("long").alias("out_degree"),
        F.col("in_transfer_count").cast("long").alias("in_transfer_count"),
        F.col("out_transfer_count").cast("long").alias("out_transfer_count"),
        F.round("total_input_amount", 4).cast("double").alias("total_input_amount"),
        F.round("total_output_amount", 4).cast("double").alias("total_output_amount"),
        F.round("balance_proxy", 4).cast("double").alias("balance_proxy"),
    )


ORACLE_NODE_FEATURES = f"""
WITH {_SYN_EDGES_SQL.strip()},
i AS (
  SELECT dst AS node, CAST(COUNT(*) AS BIGINT) AS in_degree,
         CAST(SUM(cnt) AS BIGINT) AS in_transfer_count,
         SUM(amount) AS total_input_amount
  FROM edges GROUP BY 1
),
o AS (
  SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS out_degree,
         CAST(SUM(cnt) AS BIGINT) AS out_transfer_count,
         SUM(amount) AS total_output_amount
  FROM edges GROUP BY 1
)
SELECT node,
       COALESCE(in_degree, 0) AS in_degree,
       COALESCE(out_degree, 0) AS out_degree,
       COALESCE(in_transfer_count, 0) AS in_transfer_count,
       COALESCE(out_transfer_count, 0) AS out_transfer_count,
       CAST(ROUND(COALESCE(total_input_amount, 0), 4) AS DOUBLE) AS total_input_amount,
       CAST(ROUND(COALESCE(total_output_amount, 0), 4) AS DOUBLE) AS total_output_amount,
       CAST(ROUND(COALESCE(total_input_amount, 0) - COALESCE(total_output_amount, 0), 4) AS DOUBLE) AS balance_proxy
FROM i FULL OUTER JOIN o USING (node)
"""


# -- J8: self-loop motif ----------------------------------------------------

def q_self_loops(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _syn_edges(spark, sf_dir)
    return graph.self_loop_flag(e).select(
        "node", F.col("has_self_loop").cast("int").alias("has_self_loop")
    )


ORACLE_SELF_LOOPS = f"""
WITH {_SYN_EDGES_SQL.strip()},
nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
loops AS (SELECT DISTINCT src AS node FROM edges WHERE src = dst)
SELECT n.node, CAST(CASE WHEN l.node IS NULL THEN 0 ELSE 1 END AS INT) AS has_self_loop
FROM nodes n LEFT JOIN loops l ON n.node = l.node
"""


# -- J9: two-node-loop (mutual pair) motif ----------------------------------

def q_mutual_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _syn_edges(spark, sf_dir)
    out = graph.fused_motif_features(e)
    return out.filter(F.col("two_node_loop_count") > 0).select(
        "node",
        F.col("two_node_loop_count").cast("long").alias("two_node_loop_count"),
        F.round("two_node_loop_amount", 4).cast("double").alias("two_node_loop_amount"),
        F.col("two_node_loop_tx").cast("long").alias("two_node_loop_tx"),
    )


ORACLE_MUTUAL_PAIRS = f"""
WITH {_SYN_EDGES_SQL.strip()},
e AS (SELECT * FROM edges WHERE src <> dst)
SELECT a.src AS node,
       CAST(COUNT(*) AS BIGINT) AS two_node_loop_count,
       CAST(ROUND(SUM(a.amount + b.amount), 4) AS DOUBLE) AS two_node_loop_amount,
       CAST(SUM(a.cnt + b.cnt) AS BIGINT) AS two_node_loop_tx
FROM e a JOIN e b ON a.src = b.dst AND a.dst = b.src
GROUP BY 1
"""


# -- J10: directed-triangle motif -------------------------------------------

def q_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _syn_edges(spark, sf_dir)
    out = graph.fused_motif_features(e)
    return out.filter(F.col("triangle_count") > 0).select(
        "node",
        F.col("triangle_count").cast("long").alias("triangle_count"),
        F.round("triangle_amount", 4).cast("double").alias("triangle_amount"),
        F.col("triangle_tx").cast("long").alias("triangle_tx"),
    )


ORACLE_TRIANGLES = f"""
WITH {_SYN_EDGES_SQL.strip()},
e AS (SELECT * FROM edges WHERE src <> dst),
tri AS (
  SELECT e1.src AS a, e1.dst AS b, e2.dst AS c,
         e1.amount + e2.amount + e3.amount AS tri_amount,
         e1.cnt + e2.cnt + e3.cnt AS tri_tx
  FROM e e1
  JOIN e e2 ON e2.src = e1.dst
  JOIN e e3 ON e3.src = e2.dst AND e3.dst = e1.src
  WHERE e1.src < e1.dst AND e1.src < e2.dst
),
x AS (
  SELECT UNNEST([a, b, c]) AS node, tri_amount, tri_tx FROM tri
)
SELECT node, CAST(COUNT(*) AS BIGINT) AS triangle_count,
       CAST(ROUND(SUM(tri_amount), 4) AS DOUBLE) AS triangle_amount,
       CAST(SUM(tri_tx) AS BIGINT) AS triangle_tx
FROM x GROUP BY 1
"""


# -- J11: egonet size/density -----------------------------------------------

def q_egonet(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _syn_edges(spark, sf_dir)
    out = graph.fused_motif_features(e)
    return out.select(
        "node", "ego_n", "ego_m",
        F.round("ego_density", 4).cast("double").alias("ego_density"),
    )


ORACLE_EGONET = f"""
WITH {_SYN_EDGES_SQL.strip()},
e AS (SELECT src, dst FROM edges WHERE src <> dst),
und AS (SELECT src, dst FROM e UNION SELECT dst, src FROM e),
nodes AS (SELECT src AS v FROM edges UNION SELECT dst FROM edges),
ego AS (SELECT src AS v, dst AS member FROM und UNION ALL SELECT v, v FROM nodes),
n_tbl AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS n FROM ego GROUP BY 1),
m_tbl AS (
  SELECT eb.v, CAST(COUNT(*) AS BIGINT) AS m
  FROM e
  JOIN ego eb ON eb.member = e.dst
  WHERE EXISTS (SELECT 1 FROM ego ea WHERE ea.v = eb.v AND ea.member = e.src)
  GROUP BY 1
)
SELECT n_tbl.v AS node, n_tbl.n AS ego_n, COALESCE(m_tbl.m, 0) AS ego_m,
       CAST(ROUND(CASE WHEN n_tbl.n > 1
            THEN COALESCE(m_tbl.m, 0) * 1.0 / (n_tbl.n * (n_tbl.n - 1))
            ELSE 0.0 END, 4) AS DOUBLE) AS ego_density
FROM n_tbl LEFT JOIN m_tbl ON m_tbl.v = n_tbl.v
"""


# -- J9+J10+J11 fused: one triangle enumeration serves all three motifs -----

def q_motif_fused(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _syn_edges(spark, sf_dir)
    out = graph.fused_motif_features(e)
    return out.select(
        "node",
        F.col("two_node_loop_count").cast("long").alias("two_node_loop_count"),
        F.round("two_node_loop_amount", 4).cast("double")
         .alias("two_node_loop_amount"),
        F.col("two_node_loop_tx").cast("long").alias("two_node_loop_tx"),
        F.col("triangle_count").cast("long").alias("triangle_count"),
        F.round("triangle_amount", 4).cast("double").alias("triangle_amount"),
        F.col("triangle_tx").cast("long").alias("triangle_tx"),
        "ego_n", "ego_m",
        F.round("ego_density", 4).cast("double").alias("ego_density"),
    )


ORACLE_MOTIF_FUSED = f"""
WITH {_SYN_EDGES_SQL.strip()},
e AS (SELECT * FROM edges WHERE src <> dst),
nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
mut AS (
  SELECT a.src AS node,
         CAST(COUNT(*) AS BIGINT) AS two_node_loop_count,
         SUM(a.amount + b.amount) AS two_node_loop_amount,
         CAST(SUM(a.cnt + b.cnt) AS BIGINT) AS two_node_loop_tx
  FROM e a JOIN e b ON a.src = b.dst AND a.dst = b.src
  GROUP BY 1
),
tri AS (
  SELECT e1.src AS a, e1.dst AS b, e2.dst AS c,
         e1.amount + e2.amount + e3.amount AS tri_amount,
         e1.cnt + e2.cnt + e3.cnt AS tri_tx
  FROM e e1
  JOIN e e2 ON e2.src = e1.dst
  JOIN e e3 ON e3.src = e2.dst AND e3.dst = e1.src
  WHERE e1.src < e1.dst AND e1.src < e2.dst
),
tx AS (SELECT UNNEST([a, b, c]) AS node, tri_amount, tri_tx FROM tri),
tcr AS (
  SELECT node, CAST(COUNT(*) AS BIGINT) AS triangle_count,
         SUM(tri_amount) AS triangle_amount,
         CAST(SUM(tri_tx) AS BIGINT) AS triangle_tx
  FROM tx GROUP BY 1
),
und AS (SELECT src, dst FROM e UNION SELECT dst, src FROM e),
ego AS (SELECT src AS v, dst AS member FROM und
        UNION ALL SELECT node, node FROM nodes),
n_tbl AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS n FROM ego GROUP BY 1),
m_tbl AS (
  SELECT eb.v, CAST(COUNT(*) AS BIGINT) AS m
  FROM e
  JOIN ego eb ON eb.member = e.dst
  WHERE EXISTS (SELECT 1 FROM ego ea WHERE ea.v = eb.v AND ea.member = e.src)
  GROUP BY 1
)
SELECT nodes.node,
       COALESCE(mut.two_node_loop_count, 0) AS two_node_loop_count,
       CAST(ROUND(COALESCE(mut.two_node_loop_amount, 0), 4) AS DOUBLE)
         AS two_node_loop_amount,
       COALESCE(mut.two_node_loop_tx, 0) AS two_node_loop_tx,
       COALESCE(tcr.triangle_count, 0) AS triangle_count,
       CAST(ROUND(COALESCE(tcr.triangle_amount, 0), 4) AS DOUBLE)
         AS triangle_amount,
       COALESCE(tcr.triangle_tx, 0) AS triangle_tx,
       n_tbl.n AS ego_n,
       COALESCE(m_tbl.m, 0) AS ego_m,
       CAST(ROUND(CASE WHEN n_tbl.n > 1
            THEN COALESCE(m_tbl.m, 0) * 1.0 / (n_tbl.n * (n_tbl.n - 1))
            ELSE 0.0 END, 4) AS DOUBLE) AS ego_density
FROM nodes
LEFT JOIN mut ON mut.node = nodes.node
LEFT JOIN tcr ON tcr.node = nodes.node
JOIN n_tbl ON n_tbl.v = nodes.node
LEFT JOIN m_tbl ON m_tbl.v = nodes.node
"""


# -- K3: Mahalanobis distance (fused covariances + Arrow-batched matmul) ----

def q_mahalanobis(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _orders(spark, sf_dir)
    feats = o.groupBy("o_custkey").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.avg("o_totalprice").alias("a"),
        F.max("o_totalprice").alias("mx"),
    )
    out = mahalanobis.mahalanobis(feats, ["n", "a", "mx"], "maha")
    return out.select(
        F.col("o_custkey").cast("long").alias("o_custkey"),
        F.round("maha", 4).cast("double").alias("maha"),
    )


ORACLE_MAHALANOBIS = """
WITH f AS (
  SELECT o_custkey, CAST(COUNT(*) AS DOUBLE) AS n,
         AVG(o_totalprice) AS a, MAX(o_totalprice) AS mx
  FROM orders GROUP BY 1
),
s AS (
  SELECT AVG(n) AS m1, AVG(a) AS m2, AVG(mx) AS m3,
         covar_samp(n, n) AS c11, covar_samp(n, a) AS c12, covar_samp(n, mx) AS c13,
         covar_samp(a, a) AS c22, covar_samp(a, mx) AS c23, covar_samp(mx, mx) AS c33
  FROM f
),
dt AS (
  SELECT *, (c11 * (c22 * c33 - c23 * c23)
           - c12 * (c12 * c33 - c23 * c13)
           + c13 * (c12 * c23 - c22 * c13)) AS det
  FROM s
),
i2 AS (
  SELECT m1, m2, m3,
         (c22 * c33 - c23 * c23) / det AS i11,
         (c13 * c23 - c12 * c33) / det AS i12,
         (c12 * c23 - c13 * c22) / det AS i13,
         (c11 * c33 - c13 * c13) / det AS i22,
         (c13 * c12 - c11 * c23) / det AS i23,
         (c11 * c22 - c12 * c12) / det AS i33
  FROM dt
),
z AS (
  SELECT f.o_custkey, f.n - m1 AS z1, f.a - m2 AS z2, f.mx - m3 AS z3,
         i11, i12, i13, i22, i23, i33
  FROM f, i2
)
SELECT CAST(o_custkey AS BIGINT) AS o_custkey,
       CAST(ROUND(sqrt(GREATEST(
         z1 * (i11 * z1 + i12 * z2 + i13 * z3)
       + z2 * (i12 * z1 + i22 * z2 + i23 * z3)
       + z3 * (i13 * z1 + i23 * z2 + i33 * z3), 0.0)), 4) AS DOUBLE) AS maha
FROM z
"""


# -- K5: full detector combination — rules + Hazen-percentiled Mahalanobis --

def q_final_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _orders(spark, sf_dir)
    feats = o.groupBy("o_custkey").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.avg("o_totalprice").alias("a"),
        F.max("o_totalprice").alias("mx"),
        F.sum("o_totalprice").alias("total_spend"),
    )
    th = scoring.quantile_thresholds(feats, ["total_spend"], q=0.99)
    t_spend = round(th["total_spend"], 4)
    scored = mahalanobis.mahalanobis(feats, ["n", "a", "mx"], "maha_raw")
    scored = scored.withColumn("maha", F.round("maha_raw", 4))
    scored = scoring.apply_rules(scored, [
        scoring.Rule("whale", F.col("total_spend") >= F.lit(t_spend),
                     "total spend at or above the 99th percentile"),
    ])
    scored = scored.withColumn(
        "rule_score", (F.col("whale_flag") * 100.0).cast("double")
    )
    scored = scoring.hazen_percentile_agg(scored, "maha", "maha_pctl")
    out = scored.withColumn(
        "final_score",
        F.round((F.col("rule_score") + F.col("maha_pctl")) / 2.0, 2).cast("double"),
    )
    out = scoring.top_percent_label(out, "final_score", "top_percent")
    return out.select(
        F.col("o_custkey").cast("long").alias("o_custkey"),
        F.col("whale_flag").cast("int").alias("whale_flag"),
        F.round("maha_pctl", 4).cast("double").alias("maha_pctl"),
        "final_score",
        "top_percent",
    )


ORACLE_FINAL_SCORES = """
WITH f AS (
  SELECT o_custkey, CAST(COUNT(*) AS DOUBLE) AS n,
         AVG(o_totalprice) AS a, MAX(o_totalprice) AS mx,
         SUM(o_totalprice) AS total_spend
  FROM orders GROUP BY 1
),
s AS (
  SELECT AVG(n) AS m1, AVG(a) AS m2, AVG(mx) AS m3,
         covar_samp(n, n) AS c11, covar_samp(n, a) AS c12, covar_samp(n, mx) AS c13,
         covar_samp(a, a) AS c22, covar_samp(a, mx) AS c23, covar_samp(mx, mx) AS c33,
         ROUND(quantile_cont(total_spend, 0.99) FILTER (WHERE total_spend > 0), 4) AS t_spend
  FROM f
),
dt AS (
  SELECT *, (c11 * (c22 * c33 - c23 * c23)
           - c12 * (c12 * c33 - c23 * c13)
           + c13 * (c12 * c23 - c22 * c13)) AS det
  FROM s
),
i2 AS (
  SELECT m1, m2, m3, t_spend,
         (c22 * c33 - c23 * c23) / det AS i11,
         (c13 * c23 - c12 * c33) / det AS i12,
         (c12 * c23 - c13 * c22) / det AS i13,
         (c11 * c33 - c13 * c13) / det AS i22,
         (c13 * c12 - c11 * c23) / det AS i23,
         (c11 * c22 - c12 * c12) / det AS i33
  FROM dt
),
m AS (
  SELECT f.o_custkey, f.total_spend, i2.t_spend,
         ROUND(sqrt(GREATEST(
           (f.n - m1) * (i11 * (f.n - m1) + i12 * (f.a - m2) + i13 * (f.mx - m3))
         + (f.a - m2) * (i12 * (f.n - m1) + i22 * (f.a - m2) + i23 * (f.mx - m3))
         + (f.mx - m3) * (i13 * (f.n - m1) + i23 * (f.a - m2) + i33 * (f.mx - m3)), 0.0)), 4) AS maha
  FROM f, i2
),
h AS (
  SELECT *,
         CASE WHEN total_spend >= t_spend THEN 1 ELSE 0 END AS whale_flag,
         CAST(((RANK() OVER (ORDER BY maha)
               + (COUNT(*) OVER (PARTITION BY maha) - 1) / 2.0) - 0.5)
              / (COUNT(*) OVER ()) * 100.0 AS FLOAT) AS maha_pctl
  FROM m
),
fin AS (
  SELECT *, ROUND((whale_flag * 100.0 + CAST(maha_pctl AS DOUBLE)) / 2.0, 2) AS final_score FROM h
)
SELECT CAST(o_custkey AS BIGINT) AS o_custkey,
       CAST(whale_flag AS INT) AS whale_flag,
       CAST(ROUND(maha_pctl, 4) AS DOUBLE) AS maha_pctl,
       CAST(final_score AS DOUBLE) AS final_score,
       printf('%.2f%%', ROUND((RANK() OVER (ORDER BY final_score DESC)
              + (COUNT(*) OVER (PARTITION BY final_score) - 1) / 2.0)
              / (COUNT(*) OVER ()) * 100.0, 2)) AS top_percent
FROM fin
"""


# -- connected components: transitive closure over a sparse synthetic
#    graph (large-star/small-star; oracle = recursive min-label closure) --

def q_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _orders(spark, sf_dir)
    edges = o.filter(F.col("o_orderkey") % 40 == 0).select(
        F.concat(F.lit("c"), F.col("o_custkey") % 800).alias("src"),
        F.concat(F.lit("p"), F.lit(1) + F.col("o_orderkey") % 1500).alias("dst"),
    )
    return graph.connected_components(edges)


ORACLE_CONNECTED_COMPONENTS = """
WITH RECURSIVE base AS (
  SELECT 'c' || (o_custkey % 800) AS u, 'p' || (1 + o_orderkey % 1500) AS v
  FROM orders WHERE o_orderkey % 40 = 0
),
bidir AS (
  SELECT u, v FROM base WHERE u <> v
  UNION
  SELECT v, u FROM base WHERE u <> v
),
nodes AS (
  SELECT DISTINCT id FROM (
    SELECT u AS id FROM base UNION SELECT v AS id FROM base
  )
),
walk(id, comp) AS (
  SELECT id, id FROM nodes
  UNION
  SELECT b.v, w.comp FROM walk w JOIN bidir b ON b.u = w.id
)
SELECT id, MIN(comp) AS component FROM walk GROUP BY id
"""


# -- PageRank: power iteration; oracle = the same 5 iterations unrolled
#    as chained CTEs (recursive terms can't aggregate, so unroll) --------

def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _orders(spark, sf_dir)
    edges = o.filter(F.col("o_orderkey") % 20 == 0).select(
        F.concat(F.lit("c"), F.col("o_custkey") % 800).alias("src"),
        F.concat(F.lit("p"), F.lit(1) + F.col("o_orderkey") % 1500).alias("dst"),
    )
    pr = graph.pagerank(edges, damping=0.85, n_iter=5)
    return pr.select(
        "id", F.round("pagerank", 8).cast("double").alias("pagerank")
    )


def _pagerank_oracle(k: int = 5) -> str:
    steps = []
    prev = "pr0"
    for i in range(1, k + 1):
        steps.append(f"""pr{i} AS (
  SELECT n.id,
         (1 - 0.85) / (SELECT n FROM nn)
         + 0.85 * (COALESCE(c.contrib, 0)
                   + (SELECT COALESCE(SUM(pr), 0) FROM {prev}
                      WHERE id NOT IN (SELECT u FROM deg))
                     / (SELECT n FROM nn)) AS pr
  FROM nodes n
  LEFT JOIN (
    SELECT e.v AS id, SUM(p.pr / d.outd) AS contrib
    FROM e JOIN {prev} p ON p.id = e.u JOIN deg d ON d.u = e.u
    GROUP BY 1
  ) c ON c.id = n.id
)""")
        prev = f"pr{i}"
    chain = ",\n".join(steps)
    return f"""
WITH base AS (
  SELECT 'c' || (o_custkey % 800) AS u, 'p' || (1 + o_orderkey % 1500) AS v
  FROM orders WHERE o_orderkey % 20 = 0
),
e AS (SELECT DISTINCT u, v FROM base),
nodes AS (
  SELECT DISTINCT id FROM (SELECT u AS id FROM e UNION SELECT v AS id FROM e)
),
nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes),
deg AS (SELECT u, CAST(COUNT(*) AS DOUBLE) AS outd FROM e GROUP BY 1),
pr0 AS (SELECT id, 1.0 / (SELECT n FROM nn) AS pr FROM nodes),
{chain}
SELECT id, CAST(ROUND(pr, 8) AS DOUBLE) AS pagerank FROM pr{k}
"""


def q_wedge_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-5 dense-graph guard (graph.estimate_wedges): the EXACT
    wedge-intermediate row count the motif kernels would shuffle, under
    both orientations, computed without materializing a single wedge —
    the number the wedge_budget guard escalates on. Oracle-replicable:
    Σ_pivot C(d₊,2) over the distinct undirected pair graph, with the
    degree orientation's (degree, id) lexicographic pivot spelled out
    in portable SQL."""
    e = _syn_edges(spark, sf_dir)
    rows = [("degree", graph.estimate_wedges(e, "degree")),
            ("id", graph.estimate_wedges(e, "id"))]
    return spark.createDataFrame(
        rows, "orientation string, wedge_rows long")


ORACLE_WEDGE_ESTIMATE = f"""
WITH {_SYN_EDGES_SQL.strip()},
e AS (SELECT * FROM edges WHERE src <> dst),
pairs AS (
  SELECT DISTINCT least(src, dst) AS lo, greatest(src, dst) AS hi FROM e
),
deg AS (
  SELECT v, COUNT(*) AS n FROM (
    SELECT lo AS v FROM pairs UNION ALL SELECT hi FROM pairs
  ) GROUP BY v
),
rk AS (
  SELECT p.lo, p.hi, dl.n AS dlo, dh.n AS dhi
  FROM pairs p JOIN deg dl ON dl.v = p.lo JOIN deg dh ON dh.v = p.hi
),
piv_deg AS (
  SELECT CASE WHEN dlo < dhi OR (dlo = dhi AND lo < hi) THEN lo ELSE hi
         END AS p
  FROM rk
),
w_id AS (
  SELECT COALESCE(CAST(SUM(n * (n - 1) // 2) AS BIGINT), 0) AS w
  FROM (SELECT lo AS p, COUNT(*) AS n FROM pairs GROUP BY 1)
),
w_deg AS (
  SELECT COALESCE(CAST(SUM(n * (n - 1) // 2) AS BIGINT), 0) AS w
  FROM (SELECT p, COUNT(*) AS n FROM piv_deg GROUP BY 1)
)
SELECT 'degree' AS orientation, w AS wedge_rows FROM w_deg
UNION ALL
SELECT 'id' AS orientation, w AS wedge_rows FROM w_id
"""


QUERIES = {
    "edge_aggregation": q_edge_aggregation,
    "wedge_estimate": q_wedge_estimate,
    "connected_components": q_connected_components,
    "pagerank": q_pagerank,
    "node_features": q_node_features,
    "self_loops": q_self_loops,
    "mutual_pairs": q_mutual_pairs,
    "triangles": q_triangles,
    "egonet": q_egonet,
    "motif_fused": q_motif_fused,
    "mahalanobis": q_mahalanobis,
    "final_scores": q_final_scores,
}

ORACLES = {
    "edge_aggregation": ORACLE_EDGE_AGGREGATION,
    "wedge_estimate": ORACLE_WEDGE_ESTIMATE,
    "connected_components": ORACLE_CONNECTED_COMPONENTS,
    "pagerank": _pagerank_oracle(),
    "node_features": ORACLE_NODE_FEATURES,
    "self_loops": ORACLE_SELF_LOOPS,
    "mutual_pairs": ORACLE_MUTUAL_PAIRS,
    "triangles": ORACLE_TRIANGLES,
    "egonet": ORACLE_EGONET,
    "motif_fused": ORACLE_MOTIF_FUSED,
    "mahalanobis": ORACLE_MAHALANOBIS,
    "final_scores": ORACLE_FINAL_SCORES,
}


# -- F4/F8: hex→Wei decode (Arrow UDF + pure-SQL long path) and Wei→ETH ----

def q_wei_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from anomaly_detector_faironchain_spark.etl import amounts

    o = _orders(spark, sf_dir)
    hexed = o.select(
        F.col("o_orderkey").cast("long").alias("o_orderkey"),
        F.concat(
            F.lit("0x"),
            F.lower(F.lpad(F.hex(F.col("o_orderkey") * 1000000007 + 12345), 15, "0")),
        ).alias("wei_hex"),
    )
    return hexed.select(
        "o_orderkey",
        "wei_hex",
        amounts.hex_to_digits(F.col("wei_hex")).alias("wei_digits"),
        amounts.hex_to_long(F.col("wei_hex")).alias("wei_long"),
    )


def _wei_decode_oracle() -> str:
    nib = lambda i: (  # noqa: E731
        f"(strpos('0123456789abcdef', substr(h, {i + 3}, 1)) - 1)"
    )
    val = " + ".join(f"{nib(i)} * {16 ** (14 - i)}" for i in range(15))
    return f"""
WITH x AS (
  SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey,
         '0x' || lower(lpad(to_hex(o_orderkey * 1000000007 + 12345), 15, '0')) AS h
  FROM orders
)
SELECT o_orderkey, h AS wei_hex,
       CAST(({val}) AS VARCHAR) AS wei_digits,
       CAST(({val}) AS BIGINT) AS wei_long
FROM x
"""


def q_wei_to_eth(spark: SparkSession, sf_dir: str) -> DataFrame:
    from anomaly_detector_faironchain_spark.etl import amounts

    o = _orders(spark, sf_dir)
    wei = (F.col("o_totalprice") * 1e10).cast("long")
    return o.select(
        F.col("o_orderkey").cast("long").alias("o_orderkey"),
        wei.alias("wei"),
        amounts.wei_to_eth(wei).alias("eth"),
    )


ORACLE_WEI_TO_ETH = """
SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey,
       CAST(trunc(o_totalprice * 1e10) AS BIGINT) AS wei,
       printf('%.6f',
              FLOOR(CAST(trunc(o_totalprice * 1e10) AS BIGINT) / 1e12 + 0.5)
              / 1e6) AS eth
FROM orders
"""

QUERIES.update({
    "wei_decode": q_wei_decode,
    "wei_to_eth": q_wei_to_eth,
})
ORACLES.update({
    "wei_decode": _wei_decode_oracle(),
    "wei_to_eth": ORACLE_WEI_TO_ETH,
})
