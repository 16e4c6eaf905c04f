"""Union-type helpers over the struct-of-branches encoding.

Spark has no UNION type; SURVEY.md §1.3 prescribes encoding an Avro/JSON
union or proto oneof as a struct with one nullable field per branch, exactly
one non-null (AvroTransformer.java:62-83, ProtobufTransformer.java:100-106).
These helpers recover DuckDB's ``union_tag`` / ``union_extract`` surface on
that encoding — pure column expressions, JVM-side.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def union_tag(col: Column, branches: list[str]) -> Column:
    """Name of the branch that is set (first non-null field), NULL if the
    whole union is NULL — DuckDB union_tag equivalent."""
    expr = F.lit(None).cast("string")
    for name in reversed(branches):
        expr = F.when(col.getField(name).isNotNull(), F.lit(name)).otherwise(expr)
    return expr


def union_extract(col: Column, branch: str) -> Column:
    """Value of one branch (NULL when another branch is set) — DuckDB
    union_extract equivalent."""
    return col.getField(branch)
