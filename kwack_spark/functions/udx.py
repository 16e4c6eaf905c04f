"""User-defined function surface (SURVEY §2.D): the three extension points
Spark exposes beyond built-in expressions, each in its fastest available
form.  The reference delegates UDFs to DuckDB's own surface; here the
engine's SparkSession surface is demonstrated with deterministic,
oracle-checkable examples.

- scalar: ``@pandas_udf`` (Arrow-vectorized, one Python call per batch —
  never a row-at-a-time ``udf()`` in a hot path)
- aggregate: ``@pandas_udf`` GROUPED_AGG (partial aggregation still applies
  per group partition; the function sees each group's column as a Series)
- table: ``@udtf`` (one input row -> many output rows; Arrow-backed)

All three are deterministic integer/string computations so a DuckDB oracle
can verify them bit-for-bit.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql.functions import pandas_udf, udtf


@pandas_udf("long")
def vowel_count(s: pd.Series) -> pd.Series:
    """Vectorized scalar UDF: vowel count per string (Arrow batch in/out)."""
    return s.fillna("").str.count("[aeiou]").astype("int64")


@pandas_udf("long")
def int_span_agg(s: pd.Series) -> int:
    """GROUPED_AGG pandas UDAF: max-min over the group's values — an exact
    integer aggregate (no float-order sensitivity)."""
    return int(s.max() - s.min()) if len(s) else 0


@udtf(returnType="chunk_idx int, chunk string")
class ChunkWords:
    """Python UDTF: split a whitespace-tokenized string into fixed-size word
    chunks — one input row fans out to ceil(n_words/size) output rows.
    Lateral-joined per row; at scale this runs inside the same narrow stage
    as the scan (no shuffle)."""

    def eval(self, text: str, size: int):  # noqa: D102
        words = [w for w in (text or "").split(" ") if w]
        for i in range(0, len(words), size):
            yield i // size, " ".join(words[i : i + size])


def register_udx(spark) -> None:
    """Expose the three UDx forms to SQL under stable names."""
    spark.udf.register("kw_vowel_count", vowel_count)
    spark.udf.register("kw_int_span", int_span_agg)
    spark.udtf.register("kw_chunk_words", ChunkWords)
