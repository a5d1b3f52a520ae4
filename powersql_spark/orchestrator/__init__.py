"""PowerSQL-parity orchestration tool on Spark.

Pipeline (mirrors reference src/main.rs:319-345): load powersql.toml ->
discover *.sql models/tests -> parse -> extract refs with the session's
Catalyst parser -> build DAG -> detect cycles -> then per command:

- ``check``: type every model without executing (Spark lazy analysis
  replaces the reference's TableType checker, src/types.rs:47-221).
- ``run``:   materialize models in topological order (CREATE OR REPLACE
  TEMP VIEW / parquet table; idempotent re-run like the reference's
  DROP+CREATE, src/execute.rs:77-111).
- ``test``:  execute ASSERT data tests, --fail-fast support
  (src/main.rs:430-454).
- ``docs``:  markdown docs incl. the dependency arrows the reference
  computes but never writes (src/main.rs:416-429).
"""

from powersql_spark.orchestrator.config import PowerSqlConfig, load_config
from powersql_spark.orchestrator.dag import build_graph, detect_cycles, get_dependencies
from powersql_spark.orchestrator.sqlparse import (
    Model,
    Test,
    extract_refs,
    parse_model_file,
    parse_test_file,
    sql_parser,
)

__all__ = [
    "PowerSqlConfig",
    "load_config",
    "build_graph",
    "detect_cycles",
    "get_dependencies",
    "Model",
    "Test",
    "extract_refs",
    "parse_model_file",
    "parse_test_file",
    "sql_parser",
]
