"""Config-table fixtures: routes (pipeline fan-out) + service_dim (enrich).

These are the DataFrame re-expressions of the reference's YAML pipeline
config (receiver/opencensusreceiver/testdata/config.yaml:24-29 — a batch
entering pipeline P is delivered to every exporter of P) and of the
attributes/resource/k8s processors' lookup metadata
(cmd/omnitelsvc/components.go:89-95).

The constants here are the single source of truth: sources render them as
Spark DataFrames, functions/sqlgen.py renders the SAME constants as SQL
VALUES clauses for the DuckDB oracle, so engine and oracle can never skew.

Every config table reaches Spark through `local_relation`: a JVM
LocalRelation (LocalTableScan in the physical plan). createDataFrame(list)
would make each table a Python RDD, and every query broadcasting it would
run a Python-worker stage to unpickle 6-256 rows.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

# (pipeline_id, role_pattern, tool_pattern, sink); '*' matches anything,
# otherwise exact match. NULL role/tool matches only '*' (SQL equality
# semantics — mirrors the reference where unset attributes fail matchers).
# Overlapping routes are intentional: one turn may fan out to several
# sinks, like a receiver shared by several pipelines (config.yaml service
# blocks). 'traces/all' is the catch-all pipeline (FIXTURES.md §4).
ROUTES: list[tuple[str, str, str, str]] = [
    ("traces/all", "*", "*", "sink_all"),
    ("traces/tooling", "*", "search", "sink_tools"),
    ("traces/tooling", "*", "code", "sink_tools"),
    ("traces/tooling", "*", "browser", "sink_tools"),
    ("traces/agent", "assistant", "*", "sink_agent"),
    ("traces/errors", "tool", "*", "sink_errors"),
]

ROUTES_SCHEMA = "pipeline_id string, role_pattern string, tool_pattern string, sink string"

# (role, tool, service_name, resource_type). Unique on (role, tool);
# ('tool','browser') is deliberately ABSENT to exercise left-join null
# handling (FIXTURES.md §2).
SERVICE_DIM: list[tuple[str, str, str, str]] = [
    ("user", "none", "frontend", "host"),
    ("user", "search", "frontend", "host"),
    ("user", "code", "ide", "host"),
    ("user", "browser", "frontend", "host"),
    ("assistant", "none", "agent-core", "container"),
    ("assistant", "search", "agent-retrieval", "container"),
    ("assistant", "code", "agent-coder", "container"),
    ("assistant", "browser", "agent-browser", "container"),
    ("system", "none", "orchestrator", "k8s"),
    ("system", "search", "orchestrator", "k8s"),
    ("system", "code", "orchestrator", "k8s"),
    ("system", "browser", "orchestrator", "k8s"),
    ("tool", "none", "toolhost", "vm"),
    ("tool", "search", "toolhost-search", "vm"),
    ("tool", "code", "toolhost-code", "vm"),
    # ('tool', 'browser') intentionally missing
]

SERVICE_DIM_SCHEMA = "role string, tool string, service_name string, resource_type string"


def local_relation(spark: SparkSession, rows: list[tuple], ddl: str) -> DataFrame:
    """Driver-side config rows as a JVM local relation (`ddl` schema).

    The rows travel as one Arrow batch and become a LocalRelation, so no
    query that reads them runs a Python worker. Values arrive verbatim:
    no SQL text is rendered, so quotes and backslashes in user config
    need no escaping. Column types and nullability follow `ddl`. Spark
    keeps Arrow input local only below
    spark.sql.execution.arrow.localRelationThreshold (48 MB by default),
    far above any config table.
    """
    schema = StructType.fromDDL(ddl)
    arrow_schema = to_arrow_schema(schema)
    columns = [
        pa.array([r[i] for r in rows], type=f.type)
        for i, f in enumerate(arrow_schema)
    ]
    return spark.createDataFrame(
        pa.Table.from_arrays(columns, schema=arrow_schema), schema
    )


def routes_df(
    spark: SparkSession, routes: list[tuple[str, str, str, str]] | None = None
) -> DataFrame:
    """The routes table: ROUTES, or `routes` loaded from a YAML config."""
    return local_relation(spark, ROUTES if routes is None else routes, ROUTES_SCHEMA)


def service_dim_df(spark: SparkSession) -> DataFrame:
    return local_relation(spark, SERVICE_DIM, SERVICE_DIM_SCHEMA)


def _values_sql(rows: list[tuple], alias: str, cols: list[str]) -> str:
    def lit(v) -> str:
        if v is None:
            return "NULL"
        if isinstance(v, str):
            return "'" + v.replace("'", "''") + "'"
        return str(v)

    body = ", ".join("(" + ", ".join(lit(v) for v in r) + ")" for r in rows)
    return f"(VALUES {body}) AS {alias}({', '.join(cols)})"


def routes_values_sql(alias: str = "routes") -> str:
    """ANSI VALUES rendering of ROUTES for oracle SQL."""
    return _values_sql(ROUTES, alias, ["pipeline_id", "role_pattern", "tool_pattern", "sink"])


def service_dim_values_sql(alias: str = "service_dim") -> str:
    return _values_sql(SERVICE_DIM, alias, ["role", "tool", "service_name", "resource_type"])


def shards_values_sql(shards: list[dict], alias: str = "shards") -> str:
    rows = [(s["shard_id"], s["start_key"], s["end_key"]) for s in shards]
    return _values_sql(rows, alias, ["shard_id", "start_key", "end_key"])
