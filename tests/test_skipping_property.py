"""File skipping's one three-valued verdict against Spark's row semantics.

``_verdict`` (``etl_job_spark/table.py``) judges a file entry NONE, SOME
or ALL under a conjunctive predicate spec from metadata alone; every
prune in the library (reads, ``count_where``, the row verbs, MERGE,
``delete_keys``) keeps a file unless the verdict is NONE, and counts or
takes it unopened when it is ALL. The property: NONE ⇒ no row of the
file matches, ALL ⇒ every row does, under Spark's row semantics — NaN
is the largest double and NaN = NaN, -0.0 = 0.0, NULL satisfies no
comparison, and a bigint meets a double through a double cast.

- ``test_verdict_is_sound_on_rows`` is pure Python (no Spark): one-
  column files written with pyarrow under the fused writer's statistics
  rule (``manifest_source.stats_columns``: no float footer statistics;
  ``fold_float_stats``: float manifest stats with NaN as the max, the
  shape parquet-java records), raw partition constants, and
  transform-partitioned files.
- ``test_all_null_file_is_excluded_by_every_comparison``: a recorded
  all-NULL file is NONE for every comparison and IN set.
- ``test_fused_route_nan_file_is_never_pruned`` pins the end-to-end
  repro of the NaN hole: pyarrow leaves NaN out of float min/max, so a
  fused-route file holding [NaN, NaN, -1.5] used to read -1.5..-1.5.
- ``test_rewrite_planner_judges_alike_on_both_tiers``: the row verbs'
  planner reads each file's verdict from the split, at either tier.
- ``test_twin_routes_count_like_a_scan`` (slow tier) runs the same spec
  generator over Spark-written tables, unguarded (native writer) and
  under a trivially true CHECK (fused writer).
"""

from __future__ import annotations

import datetime as dt
import hashlib
import io
import math

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from etl_job_spark.sources.manifest_source import fold_float_stats, stats_columns
from etl_job_spark.table import (
    ManifestTable,
    _ALL,
    _NONE,
    _PruneCtx,
    _file_stats,
    _prune_tmap,
    _verdict,
    predicate_column,
)

# pure Python: thousands of examples cost seconds
EXAMPLES = 3000

NAN = float("nan")
BIG = 2**53

VALUES = {
    "bigint": st.one_of(
        st.integers(-4, 4),
        st.sampled_from([BIG - 1, BIG, BIG + 1, -BIG, -BIG - 1, 2**63 - 1, -(2**63)]),
    ),
    "double": st.sampled_from(
        [NAN, NAN, NAN, -0.0, 0.0, 1.5, -1.5, 3.0, float(BIG), -float(BIG), math.inf]
    ),
    "string": st.text(alphabet="aAb0é", min_size=1, max_size=3),
    "date": st.dates(min_value=dt.date(1969, 12, 28), max_value=dt.date(1970, 1, 6)),
}
# probes: the column's own domain, plus the cross-type numeric corner
PROBES = {
    "bigint": st.one_of(
        VALUES["bigint"], st.sampled_from([float(BIG), 0.5, -1.0, 3.0, NAN])
    ),
    "double": st.one_of(VALUES["double"], st.sampled_from([BIG + 1, 1, -2, 0])),
    "string": VALUES["string"],
    "date": VALUES["date"],
}
ARROW = {"bigint": pa.int64(), "double": pa.float64(), "string": pa.string(), "date": pa.date32()}
OPS = ["=", "in", "between", "<", "<=", ">", ">=", "is_null", "not_null"]
# one transform per kind for the transform-partitioned flavour
TRANSFORMS = {
    "bigint": ["truncate(3, c)", "bucket(4, c)"],
    "string": ["truncate(2, c)", "bucket(4, c)"],
    "date": ["days(c)"],
}


def _cmp(a, b) -> int:
    """Spark's comparison of two non-NULL values: a bigint meets a
    double through a double cast; NaN is the largest double and equals
    itself; -0.0 equals 0.0."""
    if isinstance(a, float) or isinstance(b, float):
        a, b = float(a), float(b)
        an, bn = a != a, b != b
        if an or bn:
            return (an > bn) - (an < bn)
    return (a > b) - (a < b)


def _row_matches(x, op: str, v) -> bool:
    if op == "is_null":
        return x is None
    if op == "not_null":
        return x is not None
    if x is None:
        return False
    if op == "in":
        return any(m is not None and _cmp(x, m) == 0 for m in v)
    if op == "between":
        lo, hi = v
        return lo is not None and hi is not None and _cmp(x, lo) >= 0 and _cmp(x, hi) <= 0
    if v is None:
        return False
    c = _cmp(x, v)
    return {"=": c == 0, "<": c < 0, "<=": c <= 0, ">": c > 0, ">=": c >= 0}[op]


@st.composite
def constraint(draw, kind: str, rows: list):
    """One spec constraint; probes are often the file's own values,
    where the edge cases (equal bounds, NaN, -0.0) live."""
    op = draw(st.sampled_from(OPS))
    probe = PROBES[kind]
    seen = [x for x in rows if x is not None]
    if seen:
        probe = st.one_of(probe, st.sampled_from(seen))
    if draw(st.integers(0, 9)) == 0:
        probe = st.one_of(probe, st.none())
    if op in ("is_null", "not_null"):
        return ("c", op)
    if op == "in":
        return ("c", op, draw(st.lists(probe, min_size=1, max_size=3)))
    if op == "between":
        return ("c", op, (draw(probe), draw(probe)))
    return ("c", op, draw(probe))


def _spell(v, kind: str) -> str | None:
    """A partition value as its hive dir spells it (None = NULL dir)."""
    if v is None:
        return None
    return v.isoformat() if kind == "date" else repr(v) if kind == "double" else str(v)


def _transform_dir(spec: str, v) -> str | None:
    """The dir a value lands in, derived the way the writer's Spark
    column does (``_PartitionField.column``)."""
    if v is None:
        return None
    if spec.startswith("days"):
        return v.isoformat()
    n = int(spec.split("(")[1].split(",")[0])
    if spec.startswith("bucket"):
        return str(int(hashlib.md5(str(v).encode()).hexdigest()[:8], 16) % n)
    return v[:n] if isinstance(v, str) else str(v - v % n)


def _file_entry(rows: list, kind: str) -> dict:
    """One-column parquet file written with pyarrow (in memory) and
    recorded the way the fused writer records one."""
    tbl = pa.table({"c": pa.array(rows, ARROW[kind])})
    buf = io.BytesIO()
    with pq.ParquetWriter(buf, tbl.schema, write_statistics=stats_columns(tbl.schema)) as w:
        w.write_table(tbl)
    n, stats = _file_stats(io.BytesIO(buf.getvalue()))
    fold_float_stats(stats, tbl)
    return {"rows": n, "stats": stats, "partition": {}}


@st.composite
def case(draw):
    # doubles three times as often: NaN, -0.0 and the 2**53 cast live there
    kind = draw(st.sampled_from(["bigint", "double", "double", "double", "string", "date"]))
    value = st.one_of(VALUES[kind], st.none())
    flavour = draw(st.sampled_from(["file", "partition", "transform"]))
    if flavour == "transform" and kind not in TRANSFORMS:
        flavour = "file"
    tmap = {}
    if flavour == "partition":
        pv = draw(value)
        rows = [pv] * draw(st.integers(1, 4))
        entry = {"rows": len(rows), "stats": {}, "partition": {"c": _spell(pv, kind)}}
    else:
        # all-NULL files on their own branch: a list of mixed draws
        # rarely comes out all NULL past one row
        rows = draw(
            st.one_of(
                st.lists(value, min_size=1, max_size=4),
                st.lists(st.none(), min_size=1, max_size=4),
            )
        )
        if flavour == "transform":
            spec = draw(st.sampled_from(TRANSFORMS[kind]))
            first = _transform_dir(spec, rows[0])
            rows = [x for x in rows if _transform_dir(spec, x) == first]
            tmap = _prune_tmap([spec])
        entry = _file_entry(rows, kind)
        if flavour == "transform":
            (field,) = tmap["c"]
            entry["partition"] = {field.dirname: first}
    spec = draw(st.lists(constraint(kind, rows), min_size=1, max_size=3))
    return kind, rows, entry, tmap, spec


# the NaN hole's own file, pinned besides whatever the search finds
_NAN_ROWS = [NAN, NAN, -1.5]
_NULL_ROWS = [None, None, None]


@settings(
    max_examples=EXAMPLES, deadline=None, suppress_health_check=[HealthCheck.too_slow]
)
@given(case())
@example(("double", _NAN_ROWS, _file_entry(_NAN_ROWS, "double"), {}, [("c", "=", -1.5)]))
@example(("double", _NAN_ROWS, _file_entry(_NAN_ROWS, "double"), {}, [("c", ">=", 4.5)]))
@example(("bigint", _NULL_ROWS, _file_entry(_NULL_ROWS, "bigint"), {}, [("c", "in", [1, 2])]))
def test_verdict_is_sound_on_rows(c):
    kind, rows, entry, tmap, spec = c
    ctx = _PruneCtx({"c": kind}, tmap, True, {})
    verdict = _verdict(entry, ctx.spec(spec), ctx)
    hits = [
        all(_row_matches(x, p[1], p[2] if len(p) == 3 else None) for p in spec)
        for x in rows
    ]
    if verdict == _NONE:
        assert not any(hits), (rows, entry, spec)
    if verdict == _ALL:
        assert all(hits), (rows, entry, spec)


def test_all_null_file_is_excluded_by_every_comparison():
    """A file whose recorded NULL count equals its row count holds no
    row that a comparison or an IN set matches: the verdict is NONE,
    so no prune opens it, while IS NULL is proved for every row."""
    probes = {"bigint": 5, "double": 1.5, "string": "a", "date": dt.date(1970, 1, 1)}
    for kind, v in probes.items():
        entry = _file_entry(_NULL_ROWS, kind)
        assert entry["stats"]["c"] == {"nulls": 3}
        ctx = _PruneCtx({"c": kind}, {}, True, {})
        for spec in (
            [("c", op, v) for op in ("=", "<", "<=", ">", ">=")]
            + [("c", "in", [v]), ("c", "between", (v, v)), ("c", "not_null")]
        ):
            assert _verdict(entry, ctx.spec([spec]), ctx) == _NONE, (kind, spec)
        assert _verdict(entry, ctx.spec([("c", "is_null")]), ctx) == _ALL
    # a hand-built entry alike; one without a NULL count proves nothing
    ctx = _PruneCtx({"x": "double"}, {}, True, {})
    assert _verdict({"rows": 3, "stats": {"x": {"nulls": 3}}}, [("x", ">", 5.0)], ctx) == _NONE
    assert _verdict({"rows": 3, "stats": {"x": {}}}, [("x", ">", 5.0)], ctx) != _NONE


def test_fused_route_nan_file_is_never_pruned(spark, tmp_path):
    """The NaN hole: a CHECK sends the write down the fused (pyarrow)
    route, whose float min/max would leave NaN out — [NaN, NaN, -1.5]
    read as -1.5..-1.5, so the NaN rows were deleted with x = -1.5,
    counted for it, and skipped by Spark's own row-group pushdown."""
    t = ManifestTable(str(tmp_path / "nan"))
    df = spark.createDataFrame(
        [(1, NAN), (2, NAN), (3, -1.5)], "k bigint, x double"
    ).coalesce(1)
    t.overwrite(df, constraints={"kpos": "k > 0"})
    assert t.last_write_route == "fused"
    snap = t.snapshot(spark)
    assert t.count_where(spark, [("x", "=", -1.5)]) == snap.filter("x = -1.5").count() == 1
    assert sorted(r.k for r in snap.filter("x >= 4.5").collect()) == [1, 2]
    t.delete_where(spark, [("x", "=", -1.5)])
    assert sorted(r.k for r in t.snapshot(spark).collect()) == [1, 2]


def test_rewrite_planner_judges_alike_on_both_tiers(spark, tmp_path, monkeypatch):
    """The row verbs' planner takes each kept file's verdict from the
    split itself: the driver loop and the distributed job give the same
    (proved, candidates, untouched) over a range-clustered table."""
    import etl_job_spark.table as tablemod

    t = ManifestTable(str(tmp_path / "tiers"))
    t.overwrite(
        spark.range(0, 800).selectExpr("id as k", "id % 7 as v")
        .repartitionByRange(8, "k").sortWithinPartitions("k")
    )
    man = t._read_manifest(t.latest_version())
    where = tablemod._where_form([("k", ">=", 250)])
    got = {}
    for tier, gate in (("driver", 10**9), ("distributed", 4)):
        monkeypatch.setattr(tablemod, "_SPARK_PRUNE_MIN_FILES", gate)
        split = t._rewrite_candidates(
            spark, man, t._manifest_schema(man), where, "update-allmatch"
        )
        assert t.last_planning["mode"] == tier
        got[tier] = [sorted(e["path"] for e in part) for part in split]
    proved, candidates, untouched = got["driver"]
    assert (len(proved), len(candidates), len(untouched)) == (5, 1, 2)
    assert got["distributed"] == got["driver"]


# -- slow tier: the same specs over Spark-written tables ---------------

TWIN_ROWS = {
    "bigint": [None, -4, -1, 0, 2, 3, BIG - 1, BIG, BIG + 1, -BIG - 1, 2**63 - 1],
    "double": [None, NAN, NAN, -1.5, -0.0, 0.0, 1.5, 3.0, float(BIG), math.inf],
    "string": [None, "a", "aA", "b", "b0", "é", "0", "A"],
    "date": [None] + [dt.date(1969, 12, 28) + dt.timedelta(days=i) for i in range(0, 9, 2)],
}


@pytest.fixture(scope="module")
def twin_tables(spark, tmp_path_factory):
    """Per kind: the rows above written twice, range-clustered into
    four files — unguarded (native writer) and guarded (fused)."""
    out = {}
    for kind, rows in TWIN_ROWS.items():
        df = spark.createDataFrame(
            [(i, v) for i, v in enumerate(rows)], f"i bigint, c {kind}"
        ).repartitionByRange(4, "c")
        pair = []
        for route, cons in (("native", None), ("fused", {"ok": "i >= 0"})):
            t = ManifestTable(str(tmp_path_factory.mktemp(f"{kind}_{route}")))
            t.overwrite(df, constraints=cons)
            assert t.last_write_route == route
            pair.append(t)
        out[kind] = pair
    return out


@st.composite
def twin_case(draw):
    kind = draw(st.sampled_from(sorted(TWIN_ROWS)))
    return kind, draw(st.lists(constraint(kind, TWIN_ROWS[kind]), min_size=1, max_size=2))


@settings(
    max_examples=100,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(twin_case())
def test_twin_routes_count_like_a_scan(spark, twin_tables, c):
    kind, spec = c
    for t in twin_tables[kind]:
        want = t.snapshot(spark).filter(predicate_column(spec)).count()
        assert t.count_where(spark, spec) == want, (t.last_write_route, spec)
        assert t.snapshot_where(spark, spec).count() == want, (t.last_write_route, spec)
