"""Declared query catalog.

Every operator the engine claims (SURVEY.md §2 + the LLM-pipeline set) is
declared here as a named query: a Spark callable ``(spark, sf_dir) ->
DataFrame`` plus, where ANSI-SQL-expressible, an equivalent DuckDB oracle
SQL string. The driver hash-compares both at sf=0.01.
"""

from streamprocessors_spark.plans.registry import REGISTRY, Query, register  # noqa: F401


def load_all() -> None:
    """Import every plan module so its @register decorators run."""
    import streamprocessors_spark.plans.relational  # noqa: F401
    import streamprocessors_spark.plans.ts_pipeline  # noqa: F401
    import streamprocessors_spark.plans.llm_ops  # noqa: F401
    import streamprocessors_spark.plans.streaming_queries  # noqa: F401
    import streamprocessors_spark.plans.advanced  # noqa: F401
    import streamprocessors_spark.plans.tpch_decision  # noqa: F401
    import streamprocessors_spark.plans.analytics  # noqa: F401
    import streamprocessors_spark.plans.feature_eng  # noqa: F401
    import streamprocessors_spark.plans.data_quality  # noqa: F401
    import streamprocessors_spark.plans.mm_dedup  # noqa: F401
    import streamprocessors_spark.plans.graph_ops  # noqa: F401
