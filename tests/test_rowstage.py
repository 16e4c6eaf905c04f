"""The row stage's zip re-read guard (``rowstage._guard_zip_rereads``):
installed inside the Python worker, it skips re-reading an unchanged zip on
``importlib.invalidate_caches()`` and still re-reads one rewritten in place.

The guard patches ``zipimport`` for the whole process, so the unit checks
run in a subprocess and leave this interpreter's importers as they are."""

import subprocess
import sys
import textwrap
from pathlib import Path

from kwack_spark.rowstage import per_row

REPO = Path(__file__).resolve().parent.parent


def _run(code: str, tmp_path) -> None:
    proc = subprocess.run(
        [sys.executable, "-c", textwrap.dedent(code), str(tmp_path)],
        cwd=REPO,
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert proc.returncode == 0, proc.stderr


def test_guard_is_installed_inside_the_worker(spark):
    from pyspark.sql import types as ST

    def row(i):
        import zipimport

        from kwack_spark import rowstage

        yield i, zipimport.zipimporter.invalidate_caches is rowstage._zip_invalidate_if_changed

    out_schema = ST.StructType(
        [ST.StructField("id", ST.LongType()), ST.StructField("guarded", ST.BooleanType())]
    )
    rows = per_row(spark.range(0, 4, numPartitions=2), ["id"], row, out_schema).collect()
    assert len(rows) == 4 and all(r.guarded for r in rows)


def test_guard_skips_unchanged_zip_and_rereads_rewritten_one(tmp_path):
    _run(
        """
        import importlib, sys, zipfile, zipimport
        from pathlib import Path

        archive = Path(sys.argv[1]) / "mods.zip"
        with zipfile.ZipFile(archive, "w") as z:
            z.writestr("kw_first.py", "X = 1\\n")
        sys.path.insert(0, str(archive))
        import kw_first
        assert isinstance(sys.path_importer_cache[str(archive)], zipimport.zipimporter)

        from kwack_spark import rowstage
        rowstage._guard_zip_rereads()

        reads = []
        read_directory = zipimport._read_directory
        def counting(path):
            reads.append(path)
            return read_directory(path)
        zipimport._read_directory = counting

        importlib.invalidate_caches()
        assert reads == [], reads

        with zipfile.ZipFile(archive, "w") as z:
            z.writestr("kw_first.py", "X = 1\\n")
            z.writestr("kw_second.py", "Y = 2\\n")
        importlib.invalidate_caches()
        assert str(archive) in reads, reads
        import kw_second
        assert kw_second.Y == 2
        """,
        tmp_path,
    )


def test_guard_installs_once_per_process(tmp_path):
    _run(
        """
        import zipimport
        from kwack_spark import rowstage

        shipped = zipimport.zipimporter.invalidate_caches
        rowstage._guard_zip_rereads()
        rowstage._guard_zip_rereads()
        assert zipimport.zipimporter.invalidate_caches is rowstage._zip_invalidate_if_changed
        assert rowstage._zip_reread is shipped
        """,
        tmp_path,
    )
