"""Driver-contract schema guard: no catalog query may emit a complex-typed
output column.

The per-round driver gate canonicalizes every result with a pandas
``sort_values`` over EVERY output column and hashes the cells; list- and
dict-valued cells are unhashable, so any ArrayType / MapType output column
crashes the gate and scores the query as a failure regardless of value
correctness (round 11 lost 6 otherwise-correct queries this way —
CORRECTNESS_r11.json ``TypeError: unhashable type: 'list'``).  StructType
cells round-trip as ``Row`` tuples whose ordering semantics differ from any
SQL oracle's, so they are banned by the same contract.

Array/map-shaped RESULTS are still first-class inside plans (the agg_map /
topK / groupUniqArray operators build them); the contract only pins the
FINAL projection: serialize to a canonical joined string (pinned element
order, ``array_join`` vs DuckDB ``string_agg``/``array_to_string``) before
returning.
"""

import pytest
from pyspark.sql.types import ArrayType, MapType, StructType

from kickhouse_iti_graduate_project_kafka_spark_airflow_gcp_warehouse_powerbi_spark.catalog import (
    load_all,
)

_COMPLEX = (ArrayType, MapType, StructType)


def test_no_complex_output_columns(spark, sf_small):
    """Every catalog query's output schema is scalar-only (plan-build
    only — nothing is executed, so this covers all 240 queries in one
    pass)."""
    violations = {}
    for name, q in sorted(load_all().items()):
        schema = q.fn(spark, sf_small).schema
        complex_cols = [
            f"{f.name}: {f.dataType.simpleString()}"
            for f in schema.fields
            if isinstance(f.dataType, _COMPLEX)
        ]
        if complex_cols:
            violations[name] = complex_cols
    assert not violations, (
        "driver-gate contract: catalog queries must not return "
        f"array/map/struct columns (pandas canonicalizer cannot hash "
        f"them) — serialize to joined strings instead: {violations}"
    )


def test_guard_detects_complex_types(spark, sf_small):
    """The guard's detection logic itself: a deliberately array-typed
    frame must trip the same check (guards that can never fire are
    decoration)."""
    from pyspark.sql import functions as F

    df = spark.range(1).select(F.array(F.lit(1), F.lit(2)).alias("a"))
    flagged = [
        f.name for f in df.schema.fields if isinstance(f.dataType, _COMPLEX)
    ]
    assert flagged == ["a"]
