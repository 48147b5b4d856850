"""Multi-table suites: validate a whole schema in one call, overlapped.

The reference validates its five abstract tables back-to-back
(reference `etl/run_preprocessing.py` → per-table validate_*.py, and
this repo's `etl/checks.run_parity_suite`); at cluster scale that
serial loop leaves the executors idle in every job's stage tail.
`validate_suite` runs each table's validation from its own driver
thread — Spark's scheduler interleaves the independent jobs, so table
B's scan wave fills table A's tail (the same overlap trick
`validate_table`'s scan wave and `ValidationResult.materialize` play
within one table, lifted across tables). FAIR scheduling or FIFO both
work; jobs are independent.

Cross-table references resolve INSIDE the suite first: a ForeignKey or
CountMatch whose `ref_table` names another suite table validates
against that table's DataFrame; external refs are passed through.

Threading notes: each thread only SUBMITS Spark jobs (py4j calls are
thread-safe; PySpark pins Python threads to JVM threads); results are
materialized inside the worker so the overlap actually happens rather
than being deferred to the caller's serial collect loop.
`max_parallel` bounds concurrent tables — each table pins its scans
(localCheckpoint blocks) in executor memory until `unpersist()`, so at
100 TB two or three tables in flight is the sweet spot, not ten.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame

from anomaly_detector_faironchain_spark.plans.compiler import (
    ValidationResult,
    validate_table,
)
from anomaly_detector_faironchain_spark.plans.spec import (
    CountMatch,
    ForeignKey,
    TableSpec,
)


def suite_refs(
    spec: TableSpec,
    tables: dict[str, DataFrame],
    external: dict[str, DataFrame] | None = None,
) -> dict[str, DataFrame]:
    """Resolve every ref_table a spec needs: suite tables win, then
    external refs; a miss raises before any job runs."""
    external = external or {}
    out: dict[str, DataFrame] = {}
    needed = [fk.ref_table for fk in spec.by_type(ForeignKey)] + [
        cm.ref_table for cm in spec.by_type(CountMatch) if cm.ref_table
    ]
    for name in needed:
        if name in tables:
            out[name] = tables[name]
        elif name in external:
            out[name] = external[name]
        else:
            raise ValueError(
                f"{spec.name}: ref_table {name!r} is neither in the "
                f"suite ({sorted(tables)}) nor in external refs "
                f"({sorted(external)})"
            )
    return out


def validate_suite(
    tables: dict[str, DataFrame],
    specs: dict[str, TableSpec],
    refs: dict[str, DataFrame] | None = None,
    max_parallel: int = 3,
    materialize_violations: bool = True,
    violation_limit_per_check: int | None = 1000,
) -> dict[str, ValidationResult]:
    """Validate every (table, spec) pair, overlapping tables across
    driver threads. Returns {table_name: ValidationResult} with each
    result already materialized (scans pinned, verdicts computed)."""
    missing = sorted(set(specs) - set(tables))
    if missing:
        raise ValueError(f"specs without input tables: {missing}")

    def run_one(name: str) -> tuple[str, ValidationResult]:
        res = validate_table(
            tables[name],
            specs[name],
            refs=suite_refs(specs[name], tables, refs),
            materialize_violations=materialize_violations,
            violation_limit_per_check=violation_limit_per_check,
        )
        # validate_table ran this table's scan wave in this thread, so
        # the waves of the tables in flight overlap; the final verdict
        # and violation jobs read only the pins
        res.materialize()
        return name, res

    with ThreadPoolExecutor(max(1, max_parallel)) as ex:
        return dict(ex.map(run_one, list(specs)))
