"""EXPLAIN for DML (round 14, VERDICT r13 Missing #3): the routed
verb, the planned file-prune split — computed by the SAME planner the
verb runs (``_merge_prune`` / the metadata half of
``_rewrite_targets``) — and the join strategy for merges, with NOTHING
committed. One plan line per row."""

from __future__ import annotations

import pytest

from etl_job_spark.sql import execute_dml, execute_sql
from etl_job_spark.table import ManifestTable
from etl_job_spark.txn import TransactionalCatalog


@pytest.fixture()
def cat(spark, tmp_path):
    c = TransactionalCatalog(str(tmp_path / "cat"))
    t = c.table("mart")
    t.overwrite(
        spark.range(0, 8000)
        .selectExpr("id as k", "id % 5 as g", "id * 1.0 as v")
        .repartitionByRange(8, "k")
    )
    d = c.table("dim")
    d.overwrite(spark.range(100, 120).selectExpr("id as k", "id * 9.0 as v"))
    return c


def _lines(df):
    return [r.plan for r in df.collect()]


def test_explain_merge_reports_prune_without_committing(spark, cat):
    t = cat.table("mart")
    v = t.latest_version()
    lines = _lines(
        execute_sql(
            spark, cat,
            "EXPLAIN MERGE INTO mart a USING dim b ON a.k = b.k "
            "WHEN MATCHED THEN UPDATE SET a.v = b.v "
            "WHEN NOT MATCHED THEN INSERT *",
        )
    )
    assert "verb: MERGE" in lines
    assert any(l.startswith("keys: k") for l in lines)
    # dim keys 100..119 hit exactly one of 8 range-clustered files —
    # the SAME merge-range tier the write path runs
    assert "files: total=8 rewrite_candidates=1 carried_by_reference=7" in lines
    assert any("prune tier merge-range" in l for l in lines)
    assert any(l.startswith("join: ") for l in lines)
    assert cat.table("mart").latest_version() == v  # committed nothing


def test_explain_merge_ordered_reports_broadcast(spark, cat):
    lines = _lines(
        execute_sql(
            spark, cat,
            "EXPLAIN MERGE INTO mart a USING dim b ON a.k = b.k "
            "WHEN MATCHED THEN UPDATE SET a.v = b.v "
            "WHEN MATCHED THEN DELETE "
            "WHEN NOT MATCHED THEN INSERT *",
        )
    )
    assert any("engine: ordered" in l for l in lines)
    assert any("broadcast-replanned" in l for l in lines)


def test_explain_update_spec_prune(spark, cat):
    t = cat.table("mart")
    v = t.latest_version()
    lines = _lines(
        execute_sql(
            spark, cat,
            "EXPLAIN UPDATE mart SET v = 0 WHERE k BETWEEN 10 AND 20",
        )
    )
    assert "verb: UPDATE" in lines
    assert "files: total=8 metadata_pruned=7 candidates=1" in lines
    assert cat.table("mart").latest_version() == v


def test_explain_delete_unprovable_predicate_is_honest(spark, cat):
    lines = _lines(
        execute_sql(
            spark, cat,
            "EXPLAIN DELETE FROM mart WHERE upper(string(g)) = '3'",
        )
    )
    assert any("not provable" in l for l in lines)
    assert any("copy_on_write" in l for l in lines)


def test_explain_insert_and_replace_where(spark, cat):
    lines = _lines(
        execute_sql(spark, cat, "EXPLAIN INSERT INTO mart SELECT * FROM dim")
    )
    assert any("append only" in l for l in lines)
    lines2 = _lines(
        execute_sql(
            spark, cat,
            "EXPLAIN INSERT INTO mart REPLACE WHERE k BETWEEN 0 AND 999 "
            "SELECT k, g, 0.0 AS v FROM mart WHERE k < 1000",
        )
    )
    assert any("REPLACE WHERE" in l for l in lines2)
    assert any("all-match proved" in l for l in lines2)


def test_explain_dml_direct_table_surface(spark, tmp_path):
    t = ManifestTable(str(tmp_path / "t"))
    t.overwrite(
        spark.range(0, 100).selectExpr("id as k", "id * 1.0 as v")
    )
    v = t.latest_version()
    df = execute_dml(spark, t, "EXPLAIN UPDATE t SET v = 1 WHERE k = 5")
    assert any("verb: UPDATE" in r.plan for r in df.collect())
    assert t.latest_version() == v


def test_explain_update_allmatch_proved(spark, tmp_path):
    """A whole-partition UPDATE proves its files from metadata alone."""
    t = ManifestTable(str(tmp_path / "p"))
    t.overwrite(
        spark.createDataFrame(
            [(p, k, k) for p in ("a", "b") for k in range(50)],
            "p string, k int, v int",
        ),
        partition_by=["p"],
    )
    lines = [
        r.plan
        for r in execute_dml(
            spark, t, "EXPLAIN UPDATE p SET v = 0 WHERE p = 'a'"
        ).collect()
    ]
    proved = [l for l in lines if l.startswith("all-match proved")]
    assert proved and proved[0].split(":")[1].strip() != "0", lines
    assert any(l == "hit-discovery scan candidates: 0" for l in lines), lines


def test_explain_select_surfaces_file_skip_decisions(spark, cat):
    """EXPLAIN SELECT appends the manifest-level file-skip decisions as
    plan rows (r14) — they happen at view registration, before the
    scan exists, so Catalyst's plan cannot show them."""
    execute_sql(spark, cat, "CREATE VIEW martv AS SELECT k, v FROM mart")

    def lines(stmt):
        return [r.plan for r in execute_sql(spark, cat, stmt).collect()]

    l1 = lines("EXPLAIN SELECT k FROM mart WHERE k BETWEEN 10 AND 20")
    assert any(
        "manifest file skipping: mart: kept 1 of 8 files "
        "(conjunctive spec)" in x
        for x in l1
    ), l1
    l2 = lines("EXPLAIN SELECT k FROM mart WHERE k < 10 OR k >= 7990")
    assert any("2-disjunct DNF" in x and "kept 2 of 8" in x for x in l2), l2
    l3 = lines("EXPLAIN SELECT k FROM martv WHERE k BETWEEN 10 AND 20")
    assert any("view martv -> base mart: kept 1 of 8" in x for x in l3), l3
    # no prune applies -> exactly the one physical-plan row
    l4 = lines("EXPLAIN SELECT count(*) AS n FROM mart")
    assert len(l4) == 1 and "Physical Plan" in l4[0]


def test_explain_in_subquery_dml_reports_the_merge_route(spark, cat):
    """EXPLAIN of an IN-subquery DELETE/UPDATE reports the route
    EXECUTION takes (the keyed merge with key-envelope pruning), not
    the plain scan route — and the NOT IN three-valued NO-OP is
    called out when the subquery yields NULL (r14)."""
    nm = cat.table("nm")
    nm.overwrite(spark.sql("SELECT cast(null as long) AS k UNION ALL SELECT 1"))
    v0 = cat.table("mart").latest_version()

    l1 = _lines(
        execute_sql(
            spark, cat,
            "EXPLAIN DELETE FROM mart WHERE k IN (SELECT k FROM dim)",
        )
    )
    assert l1[0] == "verb: DELETE"
    assert any("route: keyed merge" in x for x in l1)
    # dim keys 100..119 → one of 8 range-clustered files, the SAME
    # split the executing merge would plan
    assert any("rewrite_candidates=1" in x for x in l1), l1

    l2 = _lines(
        execute_sql(
            spark, cat,
            "EXPLAIN UPDATE mart SET v = 0 WHERE k NOT IN (SELECT k FROM dim)",
        )
    )
    assert any("prune: DISABLED" in x for x in l2), l2
    assert any(x.startswith("set: v") for x in l2)

    l3 = _lines(
        execute_sql(
            spark, cat,
            "EXPLAIN DELETE FROM mart WHERE k NOT IN (SELECT k FROM nm)",
        )
    )
    assert any("NO-OP" in x and "three-valued" in x for x in l3), l3
    assert cat.table("mart").latest_version() == v0  # nothing committed


def _discovery_scans(monkeypatch) -> list[int]:
    """Spy on ``ManifestTable._read_files``: the file count of every
    hit-discovery scan (the read that exposes ``__file``)."""
    sent: list[int] = []
    real = ManifestTable._read_files

    def spy(self, spark, entries, with_file_path=False, with_row_index=False, *, man):
        if with_file_path:
            sent.append(len(entries))
        return real(self, spark, entries, with_file_path, with_row_index, man=man)

    monkeypatch.setattr(ManifestTable, "_read_files", spy)
    return sent


def test_executed_row_verbs_scan_what_explain_reports(spark, cat, monkeypatch):
    """EXPLAIN and execution run one planner: an executed SQL UPDATE or
    DELETE sends exactly EXPLAIN's candidates to the discovery scan
    (the spec form prunes 7 of the 8 range-clustered files), and the
    history keeps the statement's SQL text."""
    sent = _discovery_scans(monkeypatch)
    for stmt, where in (
        ("UPDATE mart SET v = 0 WHERE k BETWEEN 10 AND 20", "k BETWEEN 10 AND 20"),
        ("DELETE FROM mart WHERE k BETWEEN 30 AND 40", "k BETWEEN 30 AND 40"),
    ):
        lines = _lines(execute_sql(spark, cat, "EXPLAIN " + stmt))
        assert any(l.endswith("candidates=1") for l in lines), lines
        assert "hit-discovery scan candidates: 1" in lines, lines
        sent.clear()
        execute_sql(spark, cat, stmt)
        assert sent == [1], (stmt, sent)
        t = cat.table("mart")
        assert t._read_manifest(t.latest_version())["operation"]["predicate"] == where
    got = {r.k: r.v for r in cat.table("mart").snapshot(spark).collect()}
    assert len(got) == 8000 - 11
    assert all(got[k] == 0.0 for k in range(10, 21)) and got[21] == 21.0
    # an unprovable WHERE still scans every live file
    t = cat.table("mart")
    live = len(t._read_manifest(t.latest_version())["files"])
    sent.clear()
    execute_sql(spark, cat, "DELETE FROM mart WHERE upper(string(g)) = '3'")
    assert sent == [live], sent
    assert cat.table("mart").snapshot(spark).filter("g = 3").count() == 0


def test_spec_form_delete_drops_allmatch_partition_without_scan(
    spark, tmp_path, monkeypatch
):
    """``delete_where`` takes the spec form: a partition whose metadata
    proves every row matches is dropped whole with no scan, and the
    rows left are the string form's."""
    rows = [(p, k, k * 10) for p in ("a", "b", "c") for k in range(3)]
    tables = []
    for name in ("spec", "text"):
        t = ManifestTable(str(tmp_path / name))
        t.overwrite(  # one file per partition
            spark.createDataFrame(rows, "p string, k int, v int").coalesce(1),
            partition_by=["p"],
        )
        tables.append(t)
    t_spec, t_text = tables
    sent = _discovery_scans(monkeypatch)
    t_spec.delete_where(spark, [("p", "=", "a")])
    assert sent == [] and t_spec.last_planning["op"] == "delete-cow"
    t_text.delete_where(spark, "p = 'a'")
    assert sent == [3]  # the string form scans every file

    def snap(t):
        return sorted(tuple(r) for r in t.snapshot(spark).collect())

    assert snap(t_spec) == snap(t_text) == sorted(r for r in rows if r[0] != "a")
    # a spec that no file proves falls back to the discovery scan over
    # the metadata survivors only (partition b)
    sent.clear()
    t_spec.delete_where(spark, [("p", "=", "b"), ("k", "<", 1)])
    t_text.delete_where(spark, "p = 'b' AND k < 1")
    assert sent == [1, 2]
    assert snap(t_spec) == snap(t_text)
