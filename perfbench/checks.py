"""Output checks.  Each takes the program's outputs and the generator's truth
and returns a list of problems (empty when the output is right), so tests can
feed them deliberately corrupted outputs."""

from __future__ import annotations

import datetime
import json
from decimal import Decimal

def _norm(v):
    if isinstance(v, (datetime.date, datetime.datetime)):
        return v.isoformat()
    if isinstance(v, Decimal):
        return int(v) if v == v.to_integral_value() else float(v)
    return v


def sql_rowset(json_rows: list[str], columns: list[str]) -> list[tuple]:
    """``query_json`` output as tuples in ``columns`` order (Spark's JSON
    omits null fields, hence ``get``)."""
    return [tuple(_norm(json.loads(r).get(c)) for c in columns) for r in json_rows]


def check_sql(sql: str, json_rows: list[str], ref_rows: list[tuple], columns: list[str]) -> list[str]:
    """Spark's rows equal the reference engine's: in order when the query
    orders its output, as a multiset otherwise."""
    got = sql_rowset(json_rows, columns)
    want = [tuple(_norm(v) for v in r) for r in ref_rows]
    if "ORDER BY" not in sql:
        got, want = sorted(got, key=repr), sorted(want, key=repr)
    if got != want:
        return [f"rowset differs from the reference for: {sql}"]
    return []


def check_live(counts: dict[int, int], landed: list[int], visible: list[int], total: tuple) -> list[str]:
    """Every landed record visible exactly once: each landed file shows
    exactly its non-tombstone records (``visible[file]``), nothing else is
    visible, and (rows, distinct seqs) both equal their sum."""
    errs = []
    want = {f: visible[f] for f in landed}
    if counts != want:
        bad = sorted(f for f in set(counts) | set(want) if counts.get(f) != want.get(f))
        errs.append(f"per-file visible counts wrong for files {bad[:10]}")
    n = sum(want.values())
    if total != (n, n):
        errs.append(f"live table has (rows, distinct seq) {total}, want ({n}, {n})")
    return errs


def check_curation(kept: list[int], truth: dict) -> list[str]:
    """The kept set is exactly the good singletons plus one (the min id)
    per planted cluster."""
    errs = []
    if len(kept) != len(set(kept)):
        errs.append("curated output holds a document more than once")
    want = set(truth["keep"])
    got = set(kept)
    if got != want:
        errs.append(
            f"kept set differs: {len(got - want)} extra, {len(want - got)} missing"
        )
    return errs
