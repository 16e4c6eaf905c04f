"""The benchmark's own tests: seeded inputs are reproducible, frame files have
the frame schema, every checker rejects a corrupted output, and the command
refuses to run without the program.  No Spark session is started.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import checks, gen  # noqa: E402

WORKLOADS = ("sql_interactive", "live_topic")


def _files(root: str) -> dict[str, bytes]:
    out = {}
    for d, _, fs in os.walk(root):
        for f in fs:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = fh.read()
    return out


@pytest.fixture(scope="module")
def inputs(tmp_path_factory):
    base = tmp_path_factory.mktemp("inputs")
    # traced: the sql_interactive inputs then hold the curation topic too
    return {w: (str(base / w), gen.generate(w, str(base / w), 7, 4, traced=True)) for w in WORKLOADS}


@pytest.mark.parametrize("workload", WORKLOADS)
def test_same_seed_gives_byte_identical_inputs(workload, inputs, tmp_path):
    again = str(tmp_path / "again")
    gen.generate(workload, again, 7, 4, traced=True)
    first = _files(inputs[workload][0])
    assert first and first == _files(again)
    other = str(tmp_path / "other")
    gen.generate(workload, other, 8, 4, traced=True)
    assert _files(other) != first


def test_frame_files_have_the_frame_schema(inputs):
    frames = [
        os.path.join(d, f)
        for root in (inputs["live_topic"][0], inputs["sql_interactive"][1]["curation"]["inputs"])
        for d, _, fs in os.walk(root)
        for f in fs
        if f.endswith(".parquet")
    ]
    assert frames
    for p in frames:
        gen.check_frame_file(p)


def test_frame_check_rejects_inferred_headers(tmp_path):
    """pyarrow infers an all-null headers column as type null."""
    rows = {f: [] for f in gen.frame_arrow_schema().names}
    gen._append(rows, b"k", b"v", "t", 0, 0)
    path = str(tmp_path / "bad.parquet")
    pq.write_table(pa.table(rows), path)
    with pytest.raises(ValueError, match="frame schema mismatch"):
        gen.check_frame_file(path)


def test_sql_check_rejects_corruption(inputs):
    import duckdb

    tables = inputs["sql_interactive"][1]["tables"]
    con = duckdb.connect()
    for name in os.listdir(tables):
        con.execute(
            f"CREATE VIEW {name.split('.')[0]} AS "
            f"SELECT * FROM read_parquet('{os.path.join(tables, name)}')"
        )
    for sql in inputs["sql_interactive"][1]["mix"][:40]:
        cur = con.execute(sql)
        cols = [d[0] for d in cur.description]
        ref = cur.fetchall()
        good = [json.dumps(dict(zip(cols, map(checks._norm, r)))) for r in ref]
        assert checks.check_sql(sql, good, ref, cols) == []
        if not ref:
            continue
        bad = [json.loads(r) for r in good]
        bad[0][cols[-1]] = -1
        assert checks.check_sql(sql, [json.dumps(r) for r in bad], ref, cols)
        if "ORDER BY" in sql and len(set(good)) > 1:
            assert checks.check_sql(sql, good[::-1], ref, cols)
        assert checks.check_sql(sql, good[1:], ref, cols)


def test_live_check_rejects_corruption(inputs):
    visible = inputs["live_topic"][1]["visible_per_file"]
    assert sum(visible) < len(visible) * inputs["live_topic"][1]["records_per_file"]  # tombstones
    landed = [0, 1, 2]
    good = {f: visible[f] for f in landed}
    n = sum(good.values())
    assert checks.check_live(good, landed, visible, (n, n)) == []
    assert checks.check_live({**good, 1: 2 * visible[1]}, landed, visible, (n + visible[1], n))  # replayed
    assert checks.check_live({0: visible[0], 1: visible[1]}, landed, visible, (n - visible[2],) * 2)  # lost
    assert checks.check_live({**good, 2: visible[2] + 1}, landed, visible, (n + 1, n + 1))  # tombstone shown
    assert checks.check_live(good, landed, visible, (n, n - 1))  # duplicate seq


def test_curation_check_rejects_corruption(inputs):
    truth = inputs["sql_interactive"][1]["curation"]
    keep = list(truth["keep"])
    assert checks.check_curation(keep, truth) == []
    assert checks.check_curation(keep[1:], truth)
    assert checks.check_curation(keep + [keep[0]], truth)
    others = sorted(set(range(truth["docs"])) - set(keep))
    assert checks.check_curation(keep[1:] + others[:1], truth)


def test_refuses_to_run_without_the_program(tmp_path):
    here = os.path.dirname(os.path.abspath(__file__))
    shutil.copytree(here, tmp_path / "perfbench", ignore=shutil.ignore_patterns(".work", "__pycache__"))
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "live_topic",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert p.returncode != 0
    assert p.stdout.strip() == ""
