"""compile_time_data_contracts_spark — a PySpark-native schema-contract
engine with a full relational / LLM-data-pipeline query surface.

Re-expresses the semantics of the reference implementation
(vim89/compile-time-data-contracts, studied read-only at /root/reference)
Spark-first: contracts are declared as Python dataclasses, validated at
*pipeline-construction time* (the Python analogue of the reference's
compile-time macro proof), pinned again at runtime against live
``DataFrame.schema`` metadata, and every relational operator is expressed
through the DataFrame/SQL API so Catalyst + AQE own the physical plan.

Layers (see SURVEY.md §7):
  contracts/  StructType reflection + policies + conforms (ContractsCore.scala)
  runtime/    the one policy comparer + pins            (SparkCore.scala:30-189)
  plans/      typestate pipeline builder                (SparkCore.scala:395-444)
  sources/    typed sources/sinks, read_df/write_df     (SparkCore.scala:346-367)
  operators/  relational + LLM-pipeline operator surface (SURVEY §2.2)
  functions/  scalar/vector helper expressions
  streaming/  event-time windows, watermarks, stateful dedup
"""

from .contracts.shape import contract, UnsupportedShapeError
from .contracts.policies import SchemaPolicy
from .contracts.conforms import conforms, ContractDriftError, DriftReport
from .contracts.codegen import (
    UnsupportedSchemaError,
    contract_source,
    load_contract,
)
from .contracts.schema import spark_schema, HAS_DEFAULT_KEY
from .runtime.comparator import compare_data_type, RuntimeSchemaComparator
from .runtime.pins import assert_matches_contract, SchemaMismatchError
from .plans.builder import PipelineBuilder, PipelineStateError
from .sources.io import Source, Sink, read_df, write_df

__all__ = [
    "contract",
    "UnsupportedShapeError",
    "SchemaPolicy",
    "conforms",
    "ContractDriftError",
    "DriftReport",
    "spark_schema",
    "contract_source",
    "load_contract",
    "UnsupportedSchemaError",
    "HAS_DEFAULT_KEY",
    "compare_data_type",
    "RuntimeSchemaComparator",
    "assert_matches_contract",
    "SchemaMismatchError",
    "PipelineBuilder",
    "PipelineStateError",
    "Source",
    "Sink",
    "read_df",
    "write_df",
]
