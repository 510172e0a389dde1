"""Physical-plan assertions — the tests' window into Catalyst's decisions.

`.explain("formatted")` is the ground truth for scale behavior: a filter that
doesn't appear in PushedFilters re-reads the whole table at 100 TB; a dim
join that isn't a BroadcastHashJoin shuffles the fact table; an operator
outside WholeStageCodegen runs interpreted. These helpers parse that output
so the properties become test assertions instead of hopes.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession


def formatted_plan(df: DataFrame) -> str:
    """The formatted physical plan as a string."""
    return df._jdf.queryExecution().explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )


def pushed_filters(df: DataFrame) -> list[str]:
    """Every PushedFilters entry across the plan's file scans."""
    out: list[str] = []
    for m in re.finditer(r"PushedFilters: \[([^\]]*)\]", formatted_plan(df)):
        body = m.group(1).strip()
        if body:
            out.extend(p.strip() for p in body.split(","))
    return out


def read_schemas(df: DataFrame) -> list[str]:
    """ReadSchema of each file scan — what actually leaves the parquet
    reader. A scan reading columns the query never uses is a pruning bug."""
    return [
        m.group(1)
        for m in re.finditer(r"ReadSchema: (struct<[^\n]*)", formatted_plan(df))
    ]


def join_strategies(df: DataFrame) -> list[str]:
    """Join operator names in the physical plan (BroadcastHashJoin,
    SortMergeJoin, ShuffledHashJoin, BroadcastNestedLoopJoin...)."""
    return re.findall(
        r"\b(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin|"
        r"BroadcastNestedLoopJoin|CartesianProduct)\b",
        formatted_plan(df),
    )


def _simple_plan(df: DataFrame) -> str:
    return df._jdf.queryExecution().explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "simple"
        )
    )


def num_exchanges(df: DataFrame) -> int:
    """Count of shuffle exchanges (each is a full network repartition of its
    input — THE scale cost to minimize). Counted on the SIMPLE plan, where a
    shuffle prints as one ``Exchange hashpartitioning(...)`` line; formatted
    mode splits the operator name and its arguments across lines and must
    not be grepped for this."""
    return len(
        re.findall(
            r"\bExchange (?:hashpartitioning|rangepartitioning|SinglePartition)",
            _simple_plan(df),
        )
    )


def has_whole_stage_codegen(df: DataFrame, execute: bool = True) -> bool:
    """Under AQE the codegen stages only appear in the FINAL adaptive plan,
    so by default this runs the query and inspects the executed plan, where
    codegen stages print as ``*(n)`` operator prefixes."""
    if execute:
        df.collect()
    simple = df._jdf.queryExecution().explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "simple"
        )
    )
    return bool(re.search(r"\*\(\d+\)", simple))


def codegen_compiles(spark: SparkSession) -> int:
    """Classes the JVM's code generator has compiled so far (the count of
    Spark's ``CodegenMetrics`` compilation-time histogram). The count is
    JVM-wide, across sessions; a class found in the codegen cache adds
    nothing, so its growth over a warm repeat of a query counts the
    classes the cache no longer held."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(metrics.METRIC_COMPILATION_TIME().getCount())


def scans_are_vectorized(df: DataFrame) -> bool:
    """Every parquet scan should read Batched (the vectorized columnar
    reader) — the row-based fallback is an order of magnitude slower."""
    plan = formatted_plan(df)
    return "Batched: true" in plan and "Batched: false" not in plan
