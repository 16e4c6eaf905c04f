"""The engine's one Python row stage.

Every per-row Python kernel in kwack_spark (the Kafka decode in
``sources/kafka.py`` and the media kernels in ``operators/multimodal.py``)
runs through ``per_row``: one narrow ``mapInArrow`` pass.  pyarrow is
imported inside the stage, never at module import.

Each Python task starts with ``importlib.invalidate_caches()`` (pyspark's
``worker_util.setup_spark_files``), and on Python 3.11 every
``zipimporter`` in ``sys.path_importer_cache`` then re-reads its archive's
whole central directory: ~16 importers over ``pyspark.zip`` cost a reused
worker over 100 ms of CPU per task.  The first ``per_row`` task in a worker
installs ``_guard_zip_rereads``, after which an importer re-reads only when
its archive's ``(st_ino, st_size, st_mtime_ns)`` differs from what that
importer last read.  That keeps ``invalidate_caches``' contract: the zips on
``sys.path`` do not change while a worker lives, one rewritten in place
(a ``--py-files`` zip) has a new stat and is still re-read, and a newly
added path gets a new importer.  ``FileFinder`` and Spark are untouched.
"""

from __future__ import annotations

import os
import sys

from pyspark.sql import DataFrame
from pyspark.sql import types as ST

# zipimporter.invalidate_caches as shipped; set once per process by the guard
_zip_reread = None


def _zip_stat(archive):
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return (st.st_ino, st.st_size, st.st_mtime_ns)


def _zip_invalidate_if_changed(self):
    """``zipimporter.invalidate_caches`` that skips an unchanged archive."""
    st = _zip_stat(self.archive)
    if st is None or st != getattr(self, "_kwack_zip_stat", None):
        _zip_reread(self)
        self._kwack_zip_stat = st


def _guard_zip_rereads():
    """Install ``_zip_invalidate_if_changed`` once per process and stamp the
    cached zip importers, which this task's set-up has just re-read."""
    global _zip_reread
    if _zip_reread is not None:
        return
    import zipimport

    _zip_reread = zipimport.zipimporter.invalidate_caches
    zipimport.zipimporter.invalidate_caches = _zip_invalidate_if_changed
    for imp in list(sys.path_importer_cache.values()):
        if isinstance(imp, zipimport.zipimporter):
            imp._kwack_zip_stat = _zip_stat(imp.archive)


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
        _guard_zip_rereads()
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
