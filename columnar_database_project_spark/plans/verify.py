"""Plan verification utilities — prove the optimizations happened.

The reference can't verify its own pruning (its benchmarks never check
results or plans, SURVEY §2.5.4); we make both directions checkable:

- ``pushed_filters(df)``: parse the formatted physical plan for the
  parquet scan's PushedFilters — asserts predicate pushdown reached
  the scan (the Spark-native form of the reference's zone-map pruning).
- ``assert_broadcast(df)`` / ``count_shuffles(df)``: join-strategy and
  shuffle-count checks for the 100 TB design review.
- ``pruning_report(index, sql, spark_df)``: compare the
  MicroBlockIndex's predicted candidate blocks against ground truth
  per block — the pruning-effectiveness verifier of SURVEY §4.3.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from pyspark.sql import DataFrame


def _formatted_plan(df: DataFrame) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), "formatted"
    )


def formatted_plan(df: DataFrame) -> str:
    """The formatted physical plan (explain('formatted') as a string)."""
    try:
        return _formatted_plan(df)
    except Exception:
        # public fallback: simple string plan
        return df._jdf.queryExecution().executedPlan().toString()


def pushed_filters(df: DataFrame) -> list[str]:
    """PushedFilters entries of every parquet scan in the plan."""
    plan = formatted_plan(df)
    out: list[str] = []
    for m in re.finditer(r"PushedFilters:\s*\[([^\]]*)\]", plan):
        body = m.group(1).strip()
        if body:
            out.extend(p.strip() for p in body.split(","))
    return out


def count_shuffles(df: DataFrame) -> int:
    """Number of shuffle Exchange operators in the physical plan
    (broadcast exchanges excluded — they move only the small side)."""
    plan = formatted_plan(df)
    # an executed AQE plan prints Final + Initial sections — count the
    # final one only
    plan = plan.split("== Initial Plan ==")[0]
    # formatted plans list each operator once as a detail header
    # "(n) Exchange"; fall back to tree nodes for simple plans
    detail = re.findall(r"\(\d+\) (\w*Exchange)", plan)
    if detail:
        return sum(1 for d in detail if d == "Exchange")
    return len(re.findall(r"\bExchange (?:hash|range|Single)", plan))


def has_broadcast_join(df: DataFrame) -> bool:
    plan = formatted_plan(df)
    return "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def whole_stage_codegen_spans(df: DataFrame) -> int:
    """How many WholeStageCodegen spans the EXECUTED plan compiled
    into. Under AQE the spans only exist after execution, so this
    triggers a count() when none are visible yet."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    spans = set(re.findall(r"\*\((\d+)\)", plan))
    if not spans:
        # count() would build a separate query execution; collect()
        # materializes THIS df's plan so AQE finalizes its stages
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        spans = set(re.findall(r"\*\((\d+)\)", plan))
    return len(spans)


@dataclass
class PruningReport:
    total_blocks: int
    predicted: list[int]
    actual: list[int]          # blocks that physically contain matches
    false_positives: list[int]  # predicted but empty (harmless)
    missed: list[int]           # matching but not predicted (MUST be empty)

    @property
    def sound(self) -> bool:
        return not self.missed

    @property
    def selectivity(self) -> float:
        return len(self.predicted) / max(self.total_blocks, 1)


def pruning_report(index, sql: str) -> PruningReport:
    """Predicted candidates vs per-block ground truth (DuckDB applied
    block-by-block) for the WHERE clause of ``sql``."""
    import duckdb

    from columnar_database_project_spark.plans.sql_where import (
        _WHERE_SPLIT_RE,
    )

    predicted = index.predict_blocks_for_sql(sql)
    m = _WHERE_SPLIT_RE.search(sql)
    where = m.group(1).strip() if m else ""
    con = duckdb.connect()
    actual = []
    for bid in sorted(index.by_block):
        f = index.block_file(bid)
        q = f"SELECT count(*) FROM read_parquet('{f}')"
        if where:
            q += f" WHERE {where}"
        if con.execute(q).fetchone()[0] > 0:
            actual.append(bid)
    pset = set(predicted)
    return PruningReport(
        total_blocks=index.num_blocks,
        predicted=predicted,
        actual=actual,
        false_positives=sorted(pset - set(actual)),
        missed=sorted(set(actual) - pset),
    )
