"""Guarded interactive SQL surface over validation results — the Spark
re-expression of the reference's DuckDB-backed endpoints
(reference: api/sql_api.py:16-76, api/app.py:26-58).

Same contract: user SQL must be a single SELECT against the view `t`;
DDL/DML/system keywords are rejected with the reference's exact keyword
list. Catalyst supplies the parse→analyze→optimize→execute lifecycle the
reference delegated to DuckDB.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# guard regexes: the reference's DuckDB keyword list (api/sql_api.py:16-18)
# PLUS Spark-specific SELECT-able escape hatches — reflect()/java_method()
# can invoke arbitrary static Java methods (System.getenv leaks), and the
# file/session introspection functions widen the surface beyond the view.
SQL_SELECT = re.compile(r"^\s*select\b", re.I)
SQL_FORBIDDEN = re.compile(
    r"\b(attach|install|load|pragma|copy|insert|update|delete|create|drop|"
    r"alter|grant|revoke|call|execute|"
    r"reflect|java_method|input_file_name|input_file_block_start|"
    r"input_file_block_length|current_user|session_user|uuid|"
    r"spark_partition_id|monotonically_increasing_id)\b",
    re.I,
)


class SqlGuardError(ValueError):
    pass


def guard_sql(user_sql: str) -> str:
    s = user_sql.strip()
    if not SQL_SELECT.match(s):
        raise SqlGuardError("only SELECT queries are allowed")
    if SQL_FORBIDDEN.search(s):
        raise SqlGuardError("forbidden keyword detected")
    return s


def run_sql(spark: SparkSession, df: DataFrame, user_sql: str,
            view: str = "t") -> DataFrame:
    """Register df as view `t` (reference: sql_api.py:64) and run the
    guarded user SELECT through Catalyst."""
    sql = guard_sql(user_sql)
    df.createOrReplaceTempView(view)
    return spark.sql(sql)


def top_failing_partitions(verdicts: DataFrame, n: int = 100) -> DataFrame:
    """/v1/top analogue (reference app.py:45-52): partitions ranked by
    failed checks then violations, with a 1..n ranking column."""
    from pyspark.sql import Window

    agg = verdicts.groupBy("table", "partition_id").agg(
        F.sum((~F.col("passed")).cast("long")).alias("n_failed"),
        F.sum("n_violations").alias("n_violations"),
    )
    order = [
        F.col("n_failed").desc(), F.col("n_violations").desc(),
        F.col("partition_id").asc(),
    ]
    # distributed top-N first (TakeOrderedAndProject: per-partition heads
    # merged on the driver) so the ranking window only ever sees <= n rows
    # — a global row_number over millions of partition verdicts would
    # otherwise serialize on one reducer.
    top = agg.orderBy(*order).limit(n)
    # <= n rows by construction, so a single-partition ranking window is
    # the intended plan; the WindowExec warning it would log is silenced
    # session-wide in session.py (a lit(0) partition key does NOT silence
    # it — Catalyst constant-folds the foldable key away).
    w = Window.orderBy(*order)
    return (
        top.withColumn("ranking", F.row_number().over(w))
        .select("ranking", "table", "partition_id", "n_failed", "n_violations")
    )


# ===== EP2 analysis-result endpoints (reference api/app.py) =====

_UNITS = {
    "amounts": "ether (ETH)",
    "egonet_density": "0–1",
    "degree": "count",
    "scores": "0–100",
}


def _eth(x) -> str:
    """reference api/utils.py:6-15: f"{int(wei)/1e18:.6f}"."""
    return f"{int(x) / 1e18:.6f}"


def _score1(row: dict, key: str):
    """Score rounded to 1dp, or None when absent/null (e.g. a pipeline
    run with include_iforest=False omits the iforest columns)."""
    v = row.get(key)
    return round(float(v), 1) if v is not None else None


def pack_rules(row: dict, ids=range(1, 7)) -> list[dict]:
    """Triggered-rule list (reference api/utils.py:51-71): one
    {rule, description} entry per H{i}_flag == 1."""
    items = []
    for i in ids:
        if row.get(f"H{i}_flag", 0) == 1:
            items.append({
                "rule": f"H{i}",
                "description": str(row.get(f"H{i}_description")),
            })
    return items


def top_addresses(result: DataFrame, n: int = 100) -> list[dict]:
    """/v1/top (reference app.py:45-58): top-n by final_score_0_100 with a
    1..n ranking column and the score rounded to 1dp. orderBy+limit is a
    distributed TakeOrdered — only n rows ever reach the driver."""
    rows = (
        result.select("address", "final_score_0_100")
        .orderBy(F.col("final_score_0_100").desc_nulls_last())
        .limit(n)
        .collect()
    )
    return [
        {
            "ranking": i + 1,
            "address": r.address,
            "final_score_0_100": round(float(r.final_score_0_100), 1)
            if r.final_score_0_100 is not None else None,
        }
        for i, r in enumerate(rows)
    ]


def address_profile(
    result: DataFrame, addr: str, chain: str = "ethereum", period: str = ""
) -> dict | None:
    """/v1/address (reference app.py:103-188): the nested
    meta/features/scores/explanations response for one address, with the
    infra null profile special case. Returns None when the address is
    absent (the reference returns an empty JSON list).

    The lookup is a pushed-down equality filter + limit — at scale this
    prunes to the partitions/row-groups containing the address."""
    rows = (
        result.filter(F.lower(F.col("address")) == addr.strip().lower())
        .limit(1)
        .collect()
    )
    if not rows:
        return None
    r = rows[0].asDict()
    meta = {
        "chain": chain,
        "period": period,
        "address": r["address"],
        "units": dict(_UNITS),
    }
    if bool(r["is_infra"]):
        return {
            "meta": meta,
            "features": {
                "is_infra": True,
                "degree": None,
                "amounts": None,
                "motifs": None,
                "egonet": None,
            },
            "scores": None,
            "explanations": None,
        }
    return {
        "meta": meta,
        "features": {
            "is_infra": bool(r["is_infra"]),
            "degree": {
                "in_degree": int(r["in_degree"]),
                "out_degree": int(r["out_degree"]),
                "in_transfer_count": int(r["in_transfer_count"]),
                "out_transfer_count": int(r["out_transfer_count"]),
            },
            "amounts": {
                "total_input_amount_eth": _eth(r["total_input_amount"]),
                "total_output_amount_eth": _eth(r["total_output_amount"]),
            },
            "motifs": {
                # the aggregated graph carries one self-edge per account,
                # so has_self_loop IS the reference's self_loop_count
                "self_loop_count": int(r.get("self_loop_count",
                                             r.get("has_self_loop", 0))),
                "two_node_loop_count": int(r["two_node_loop_count"]),
                "triangle_loop_count": int(r["triangle_loop_count"]),
            },
            "egonet": {
                "egonet_density": round(float(r["egonet_density"]), 1),
            },
        },
        "scores": {
            "rule_score_100": _score1(r, "rule_score_100"),
            "mahalanobis_stats_100": _score1(
                r, "mahalanobis_distance_stats_score_100"),
            # None when the pipeline ran with include_iforest=False
            "iforest_stats_100": _score1(r, "iforest_stats_score_100"),
            "final_score_0_100": _score1(r, "final_score_0_100"),
            "final_score_top_percent": r.get("final_score_top_percent_display"),
        },
        "explanations": {
            "rule_ids": [item["rule"] for item in pack_rules(r)],
            "rules": pack_rules(r),
        },
    }
