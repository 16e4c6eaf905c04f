"""The engine's one Python row stage.

Every per-row Python kernel in kwack_spark (the Kafka decode in
``sources/kafka.py`` and the media kernels in ``operators/multimodal.py``)
runs through ``per_row``: one narrow ``mapInArrow`` pass.  pyarrow is
imported inside the stage, never at module import.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import types as ST


def per_row(df: DataFrame, in_cols, row_fn, out_schema: ST.StructType) -> DataFrame:
    """A narrow ``mapInArrow`` pass over ``df.select(*in_cols)``.
    ``row_fn(*values)`` gets each row's Python values (binary columns arrive
    as ``bytes``, top-level timestamps as naive UTC datetimes) and yields
    zero or more output tuples in ``out_schema`` order, so one contract
    covers 1->1 kernels, skipping a row and fanning a row out.  Output
    batches are built
    against the Arrow form of ``out_schema``: NULLs survive in any column
    type, structs may be tuples, maps dicts, and a naive ``datetime`` is
    read as UTC whatever the session time zone.

    ``row_fn`` and everything it closes over are pickled with the stage and
    unpickled once per task: a closed-over memo or cache is per-task state
    that starts empty in each task and dies with it."""
    from pyspark.sql.pandas.types import to_arrow_schema

    schema = to_arrow_schema(out_schema)

    def stage(batches):
        import pyarrow as pa

        for batch in batches:
            cols = [[] for _ in schema]
            ins = [
                # aware datetimes do not survive pa.array (pyarrow 16 reads
                # their wall clock), so a top-level timestamp arrives naive UTC
                c.cast(pa.timestamp(c.type.unit))
                if pa.types.is_timestamp(c.type) and c.type.tz
                else c
                for c in batch.columns
            ]
            for values in zip(*(c.to_pylist() for c in ins)):
                for out in row_fn(*values):
                    for col, v in zip(cols, out, strict=True):
                        col.append(v)
            yield pa.RecordBatch.from_arrays(
                [pa.array(c, type=f.type) for c, f in zip(cols, schema)],
                schema=schema,
            )

    return df.select(*in_cols).mapInArrow(stage, out_schema)
