"""SQL-interface tests: Spark SQL over the registered views must agree
with the DataFrame formulation of the same query (same engine, same
catalog — this checks the views wire to the identical data)."""

from __future__ import annotations

from etl_job_spark.plans.registry import QUERIES
from etl_job_spark.sql import run_sql

SPARK_Q1 = """
SELECT l_returnflag, l_linestatus,
       CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""


def _rows(df, cols):
    return sorted(tuple(str(v) for v in r) for r in df.select(*cols).collect())


def test_sql_view_matches_dataframe(spark, sf_dir):
    got = run_sql(spark, sf_dir, SPARK_Q1)
    want = QUERIES["pricing_summary"](spark, sf_dir)
    cols = ["l_returnflag", "l_linestatus", "sum_qty", "count_order"]
    assert _rows(got, cols) == _rows(want, cols)


def test_sql_events_view_normalized(spark, sf_dir):
    df = run_sql(spark, sf_dir, "SELECT count(*) AS n, min(ts) AS lo FROM events")
    row = df.first()
    assert row.n > 0
    assert str(row.lo).startswith("2024-")  # nanos column arrived as timestamp


def test_execute_dml_update_and_delete(spark, tmp_path):
    """Row-level SQL DML routed to the table verbs — the reference's
    literal UPDATE statements (kicc_to_tb_sales.py:109-134) run
    verbatim against a ManifestTable."""
    from etl_job_spark.sql import execute_dml
    from etl_job_spark.table import ManifestTable

    path = str(tmp_path / "dml")
    t = ManifestTable(path)
    t.overwrite(
        spark.createDataFrame(
            [(i, i % 3, i * 10, f"s{i}") for i in range(30)],
            "k long, g long, v long, s string",
        )
    )
    # commas inside function calls, keywords inside string literals,
    # multi-assignment, nested parens in the predicate
    v = execute_dml(
        spark,
        path,
        "UPDATE dml SET v = coalesce(v, 0) + 1, s = concat(s, ' where set')"
        " WHERE (g = 1 AND k < 20) OR k = 29;",
    )
    assert v == 2
    # verification reads as literal SELECTs — the same SQL surface the
    # writes use (one-surface lifecycle, r12)
    got = {
        r.k: (r.v, r.s)
        for r in execute_dml(spark, t, "SELECT k, v, s FROM dml").collect()
    }
    hit = {k for k in range(30) if (k % 3 == 1 and k < 20) or k == 29}
    for k in range(30):
        want = (k * 10 + 1, f"s{k} where set") if k in hit else (k * 10, f"s{k}")
        assert got[k] == want, k
    # DELETE
    v = execute_dml(spark, t, "DELETE FROM dml WHERE g = 0")
    assert v == 3
    assert {
        r.k for r in execute_dml(spark, t, "SELECT k FROM dml").collect()
    } == {k for k in range(30) if k % 3 != 0}
    # and the pre-delete state stays reachable through SQL time travel
    assert (
        execute_dml(
            spark, t, "SELECT count(*) AS n FROM dml VERSION AS OF 2"
        ).collect()[0].n
        == 30
    )
    # unsupported / malformed shapes fail loudly
    import pytest as _pytest

    with _pytest.raises(ValueError, match="MERGE"):
        execute_dml(spark, t, "MERGE INTO dml USING src ON dml.k = src.k")
    with _pytest.raises(ValueError, match="supported form"):
        execute_dml(spark, t, "UPDATE dml SET v = 1")  # no WHERE
    with _pytest.raises(ValueError, match="col = expr"):
        execute_dml(spark, t, "UPDATE dml SET nonsense WHERE k = 1")


def test_execute_dml_merge_into(spark, tmp_path):
    """Constrained MERGE INTO: the Delta clause surface the engine's
    merge implements, as a literal SQL statement."""
    from etl_job_spark.sql import execute_dml
    from etl_job_spark.table import ManifestTable

    path = str(tmp_path / "mi")
    t = ManifestTable(path)
    t.overwrite(
        spark.createDataFrame(
            [(1, 10, "a"), (2, 20, "b"), (3, 30, "c"), (4, 40, "d")],
            "k long, v long, s string",
        )
    )
    spark.createDataFrame(
        [(2, 99, "B", False), (3, 0, "", True), (9, 90, "new", False)],
        "k long, v long, s string, _deleted boolean",
    ).createOrReplaceTempView("changes")

    v = execute_dml(
        spark,
        path,
        """
        MERGE INTO mi AS t USING changes AS c
        ON t.k = c.k
        WHEN MATCHED AND c._deleted THEN DELETE
        WHEN MATCHED THEN UPDATE SET t.v = c.v
        WHEN NOT MATCHED THEN INSERT *
        """,
    )
    assert v == 2
    got = {r.k: (r.v, r.s) for r in t.snapshot(spark).collect()}
    assert got == {
        1: (10, "a"),   # untouched
        2: (99, "b"),   # matched update: v only, s keeps target value
        4: (40, "d"),   # untouched
        9: (90, "new"),  # unmatched insert (whole row, _deleted dropped)
    }
    assert "_deleted" not in t.snapshot(spark).columns

    # full-sync: NOT MATCHED BY SOURCE THEN DELETE (predicated). The
    # keys-only source has no matched clause: matched rows must come
    # through UNTOUCHED (not whole-row-replaced with NULLs — the r9
    # ADVICE finding), so assert VALUES, not just keys
    spark.createDataFrame([(2,), (9,)], "k long").createOrReplaceTempView("keep")
    v = execute_dml(
        spark,
        t,
        "MERGE INTO mi t USING keep s ON t.k = s.k "
        "WHEN NOT MATCHED BY SOURCE AND t.v < 50 THEN DELETE",
    )
    got = {r.k: (r.v, r.s) for r in t.snapshot(spark).collect()}
    # k=1 (v=10) and k=4 (v=40) deleted; matched rows keep their values
    assert got == {2: (99, "b"), 9: (90, "new")}

    # refusals name the constraint
    import pytest as _pytest

    with _pytest.raises(ValueError, match="same-named equi-keys"):
        execute_dml(spark, t, "MERGE INTO mi t USING changes c ON t.k = c.v "
                              "WHEN NOT MATCHED THEN INSERT *")
    with _pytest.raises(ValueError, match="identity pairs"):
        execute_dml(spark, t, "MERGE INTO mi t USING changes c ON t.k = c.k "
                              "WHEN NOT MATCHED THEN INSERT (k) VALUES (c.k + 1)")
    with _pytest.raises(ValueError, match="WHEN clause"):
        execute_dml(spark, t, "MERGE INTO mi t USING changes c ON t.k = c.k")


def test_execute_dml_merge_expression_set(spark, tmp_path):
    """Expression SET — the CDC-increment shape the r9 grammar refused
    (SET t.total = t.total + b.delta). Oracle: DuckDB runs the same
    statement relationally below."""
    import duckdb

    from etl_job_spark.sql import execute_dml
    from etl_job_spark.table import ManifestTable

    rows = [(1, 100, 5), (2, 200, 7), (3, 300, 9)]
    deltas = [(2, 42, "x"), (3, -8, "y"), (4, 1000, "z")]
    path = str(tmp_path / "cdc")
    t = ManifestTable(path)
    t.overwrite(spark.createDataFrame(rows, "k long, total long, n long"))
    spark.createDataFrame(
        deltas, "k long, delta long, tag string"
    ).createOrReplaceTempView("batch")

    execute_dml(
        spark,
        t,
        "MERGE INTO cdc t USING batch b ON t.k = b.k "
        "WHEN MATCHED THEN UPDATE SET t.total = t.total + b.delta, "
        "t.n = t.n * 2",
    )
    got = {r.k: (r.total, r.n) for r in t.snapshot(spark).collect()}

    con = duckdb.connect()
    con.execute("CREATE TABLE tgt AS SELECT * FROM (VALUES "
                + ", ".join(f"({k}, {tot}, {n})" for k, tot, n in rows)
                + ") v(k, total, n)")
    con.execute("CREATE TABLE b AS SELECT * FROM (VALUES "
                + ", ".join(f"({k}, {d}, '{g}')" for k, d, g in deltas)
                + ") v(k, delta, tag)")
    con.execute("UPDATE tgt SET total = tgt.total + b.delta, n = tgt.n * 2 "
                "FROM b WHERE tgt.k = b.k")
    want = {k: (tot, n) for k, tot, n in con.execute(
        "SELECT k, total, n FROM tgt").fetchall()}
    assert got == want
    # simultaneous assignment: an expression referencing another SET
    # column sees the PRE-update value
    execute_dml(
        spark,
        t,
        "MERGE INTO cdc t USING batch b ON t.k = b.k "
        "WHEN MATCHED THEN UPDATE SET t.total = t.n, t.n = t.total",
    )
    got2 = {r.k: (r.total, r.n) for r in t.snapshot(spark).collect()}
    for k, (tot, n) in want.items():
        if k in (2, 3):  # matched keys
            assert got2[k] == (n, tot), k
        else:
            assert got2[k] == (tot, n), k


def test_execute_dml_merge_set_list_with_comments_and_backticks(spark, tmp_path):
    """A SET list whose items carry a backticked name and comments
    holding a quote: the comments are not literals, so the comma after
    ``/* it's … */`` still splits the list and ``t.n`` is still
    de-qualified. A comment after the ON keys reads as space."""
    from etl_job_spark.sql import execute_dml
    from etl_job_spark.table import ManifestTable

    t = ManifestTable(str(tmp_path / "cdc"))
    t.overwrite(spark.createDataFrame(
        [(1, 100, 5), (2, 200, 7)], "k long, total long, n long"
    ))
    spark.createDataFrame(
        [(2, 42)], "k long, delta long"
    ).createOrReplaceTempView("batch")
    execute_dml(
        spark,
        t,
        "MERGE INTO cdc t USING batch b ON t.k = b.k -- the key's pair\n"
        "WHEN MATCHED THEN UPDATE SET "
        "t.total = `total` + b.delta /* it's the delta */, "
        "t.n = t.n * 2 -- don't lose n\n",
    )
    got = sorted(tuple(r) for r in t.snapshot(spark).select("k", "total", "n").collect())
    assert got == [(1, 100, 5), (2, 242, 14)]


def test_execute_dml_merge_nmbs_update(spark, tmp_path):
    """WHEN NOT MATCHED BY SOURCE THEN UPDATE SET — Delta's full-sync
    soft-expiry shape: unmatched target rows get flagged instead of
    deleted; expressions see the target row only."""
    import pytest as _pytest

    from etl_job_spark.sql import execute_dml
    from etl_job_spark.table import ManifestTable

    path = str(tmp_path / "sync")
    t = ManifestTable(path)
    t.overwrite(
        spark.createDataFrame(
            [(1, 10, True), (2, 20, True), (3, 30, True), (4, 40, True)],
            "k long, v long, active boolean",
        )
    )
    spark.createDataFrame([(2,), (3,)], "k long").createOrReplaceTempView("cur")
    execute_dml(
        spark,
        t,
        "MERGE INTO sync t USING cur s ON t.k = s.k "
        "WHEN NOT MATCHED BY SOURCE AND t.v < 40 "
        "THEN UPDATE SET t.active = false, t.v = t.v + 1000",
    )
    got = {r.k: (r.v, r.active) for r in t.snapshot(spark).collect()}
    assert got == {
        1: (1010, False),  # unmatched, pred hit: both assignments applied
        2: (20, True),     # matched: untouched
        3: (30, True),     # matched: untouched
        4: (40, True),     # unmatched but pred (v<40) false: untouched
    }
    # a source-alias reference in the assignment refuses loudly —
    # there is no source row for NOT-MATCHED-BY-SOURCE targets
    with _pytest.raises(ValueError, match="only"):
        execute_dml(
            spark, t,
            "MERGE INTO sync t USING cur s ON t.k = s.k "
            "WHEN NOT MATCHED BY SOURCE THEN UPDATE SET t.v = s.k",
        )


def test_execute_dml_wrong_table_name_raises(spark, tmp_path):
    """A statement naming table A executed against table B raises
    instead of silently mutating B (r9 ADVICE)."""
    import pytest as _pytest

    from etl_job_spark.sql import execute_dml
    from etl_job_spark.table import ManifestTable

    path = str(tmp_path / "right")
    t = ManifestTable(path)
    t.overwrite(spark.createDataFrame([(1, 10)], "k long, v long"))
    with _pytest.raises(ValueError, match="targets 'wrong'"):
        execute_dml(spark, t, "UPDATE wrong SET v = 0 WHERE k = 1")
    with _pytest.raises(ValueError, match="targets"):
        execute_dml(spark, t, "DELETE FROM wrong WHERE k = 1")
    # accepted spellings: basename, full path, qualified name
    assert execute_dml(spark, t, "UPDATE right SET v = 1 WHERE k = 1") == 2
    assert execute_dml(spark, t, f"UPDATE {path} SET v = 2 WHERE k = 1") == 3
    assert execute_dml(spark, t, "UPDATE db.right SET v = 3 WHERE k = 1") == 4
    assert t.snapshot(spark).collect()[0].v == 3


def test_dml_route_matches_library_route(spark, sf_dir, tmp_path):
    """r9 VERDICT #1 'done' criterion: the SQL-DML route and the
    library-verb route commit identical table states — same version
    count, same schema, same per-file (rows, stats) multiset, same
    snapshot rows — for the J1/J2/P6-P7 enrichment statements."""
    import json

    from etl_job_spark.plans import kicc
    from etl_job_spark.plans.queries import _IN_LIST, mart_sales_by_store
    from etl_job_spark.sql import execute_dml
    from etl_job_spark.table import ManifestTable
    from pyspark.sql import functions as F

    mart = mart_sales_by_store(spark, sf_dir).select(
        "chain_no", "sale_dy", "chong_maechool",
        F.lit(None).cast("string").alias("responsible"),
        F.lit(None).cast("string").alias("xy"),
    ).limit(500).cache()
    temp = kicc.tb_store_temp(spark, sf_dir).select(
        "chain_no", F.col("resp").alias("responsible")
    )
    easy = kicc.tb_store_easypos(spark, sf_dir).select(
        "chain_no", F.col("xy_degree").alias("xy")
    )
    t_lib = ManifestTable(str(tmp_path / "lib"))
    t_sql = ManifestTable(str(tmp_path / "sql"))
    for t in (t_lib, t_sql):
        t.overwrite(mart.repartitionByRange(2, F.col("chain_no")))

    # library route
    t_lib.merge(spark, temp, keys=["chain_no"],
                when_matched_update=["responsible"], insert_unmatched=False)
    t_lib.merge(spark, easy, keys=["chain_no"],
                when_matched_update=["xy"], insert_unmatched=False)
    t_lib.update_where(
        spark, {"responsible": "'직영'"},
        [("responsible", "is_null"), ("chain_no", "in", list(_IN_LIST.replace("'", "").split(",")))],
    )
    # SQL route
    temp.createOrReplaceTempView("rt_temp")
    easy.createOrReplaceTempView("rt_easy")
    execute_dml(spark, t_sql,
                "MERGE INTO sql t USING rt_temp s ON t.chain_no = s.chain_no "
                "WHEN MATCHED THEN UPDATE SET t.responsible = s.responsible")
    execute_dml(spark, t_sql,
                "MERGE INTO sql t USING rt_easy s ON t.chain_no = s.chain_no "
                "WHEN MATCHED THEN UPDATE SET t.xy = s.xy")
    execute_dml(spark, t_sql,
                "UPDATE sql SET responsible = '직영' "
                f"WHERE responsible IS NULL AND chain_no IN ({_IN_LIST})")

    assert t_lib.latest_version() == t_sql.latest_version()
    m_lib = t_lib._read_manifest(t_lib.latest_version())
    m_sql = t_sql._read_manifest(t_sql.latest_version())
    assert m_lib["schema"] == m_sql["schema"]

    def entry_key(e):
        return json.dumps(
            {"rows": e["rows"], "stats": e.get("stats"),
             "partition": e.get("partition")}, sort_keys=True)

    assert sorted(entry_key(e) for e in m_lib["files"]) == sorted(
        entry_key(e) for e in m_sql["files"])
    rows = lambda t: sorted(map(str, t.snapshot(spark).collect()))  # noqa: E731
    assert rows(t_lib) == rows(t_sql)
    mart.unpersist()


def test_execute_dml_insert_into(spark, tmp_path):
    """INSERT INTO completes the DML quartet: SELECT bodies, VALUES
    lists, column lists (unlisted columns NULL-fill via append's
    additive-evolution contract), constraint enforcement, and the
    wrong-name guard."""
    import pytest as _pytest

    from etl_job_spark.sql import execute_dml
    from etl_job_spark.table import ManifestTable

    path = str(tmp_path / "ins")
    t = ManifestTable(path)
    t.overwrite(
        spark.createDataFrame(
            [(1, 10, "a"), (2, 20, "b")], "k long, v long, s string"
        )
    )
    spark.createDataFrame(
        [(3, 30, "c"), (4, 40, "d")], "k long, v long, s string"
    ).createOrReplaceTempView("src_rows")

    # SELECT body
    v = execute_dml(spark, t, "INSERT INTO ins SELECT * FROM src_rows")
    assert v == 2
    got = {r.k: (r.v, r.s) for r in t.snapshot(spark).collect()}
    assert got == {1: (10, "a"), 2: (20, "b"), 3: (30, "c"), 4: (40, "d")}

    # column list: unlisted column lands NULL
    execute_dml(
        spark, t,
        "INSERT INTO ins (k, v) SELECT k + 10, v FROM src_rows WHERE k = 3",
    )
    got = {r.k: (r.v, r.s) for r in t.snapshot(spark).collect()}
    assert got[13] == (30, None)

    # VALUES without a column list takes the committed column order
    execute_dml(spark, t, "INSERT INTO ins VALUES (50, 500, 'e'), (51, 510, 'f')")
    got = {r.k: (r.v, r.s) for r in t.snapshot(spark).collect()}
    assert got[50] == (500, "e") and got[51] == (510, "f")

    # VALUES with a column list
    execute_dml(spark, t, "INSERT INTO ins (k, s) VALUES (60, 'g')")
    got = {r.k: (r.v, r.s) for r in t.snapshot(spark).collect()}
    assert got[60] == (None, "g")

    # constraints still gate the append route
    t.alter_constraints(spark, add={"k_small": "k < 1000"})
    n = t.snapshot(spark).count()
    with _pytest.raises(Exception, match="k_small"):
        execute_dml(spark, t, "INSERT INTO ins VALUES (5000, 1, 'x')")
    assert t.snapshot(spark).count() == n

    # guards
    with _pytest.raises(ValueError, match="targets"):
        execute_dml(spark, t, "INSERT INTO other SELECT * FROM src_rows")
    with _pytest.raises(ValueError, match="arity|columns explicitly"):
        execute_dml(spark, t, "INSERT INTO ins VALUES (1, 2)")
    with _pytest.raises(ValueError, match="column list"):
        execute_dml(spark, t, "INSERT INTO ins (k) SELECT k, v FROM src_rows")
    with _pytest.raises(ValueError, match="parenthesized"):
        execute_dml(spark, t, "INSERT INTO ins (SELECT * FROM src_rows)")


def test_execute_dml_merge_insert_column_list(spark, tmp_path):
    """MERGE's column-list INSERT: unmatched rows take listed source
    columns, every other column lands NULL even when the source
    carries it; keys must be listed; identity pairs only."""
    import pytest as _pytest

    from etl_job_spark.sql import execute_dml
    from etl_job_spark.table import ManifestTable

    path = str(tmp_path / "mic")
    t = ManifestTable(path)
    t.overwrite(
        spark.createDataFrame(
            [(1, 10, "a"), (2, 20, "b")], "k long, v long, s string"
        )
    )
    spark.createDataFrame(
        [(2, 99, "B"), (7, 70, "new")], "k long, v long, s string"
    ).createOrReplaceTempView("mic_src")
    execute_dml(
        spark, t,
        "MERGE INTO mic t USING mic_src s ON t.k = s.k "
        "WHEN MATCHED THEN UPDATE SET t.v = s.v "
        "WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v)",
    )
    got = {r.k: (r.v, r.s) for r in t.snapshot(spark).collect()}
    # matched row updates v, keeps s; inserted row has s NULL though
    # the source carried 'new'
    assert got == {1: (10, "a"), 2: (99, "b"), 7: (70, None)}

    with _pytest.raises(ValueError, match="every merge key"):
        execute_dml(
            spark, t,
            "MERGE INTO mic t USING mic_src s ON t.k = s.k "
            "WHEN MATCHED THEN UPDATE SET t.v = s.v "
            "WHEN NOT MATCHED THEN INSERT (v) VALUES (s.v)",
        )
    with _pytest.raises(ValueError, match="identity pairs"):
        execute_dml(
            spark, t,
            "MERGE INTO mic t USING mic_src s ON t.k = s.k "
            "WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v + 1)",
        )


def test_execute_dml_merge_unconditional_matched_delete(spark, tmp_path):
    """WHEN MATCHED THEN DELETE: every matched target row drops. Since
    round 11 the SQL surface carries Delta's clause scope (the delete
    claims MATCHED rows only), so the combo with WHEN NOT MATCHED
    INSERT is supported as delete-matched/insert-rest instead of the
    old CDC-contract refusal (test_advice_r11 pins the combo's
    values; the library's CDC default is pinned there too)."""
    from etl_job_spark.sql import execute_dml
    from etl_job_spark.table import ManifestTable

    t = ManifestTable(str(tmp_path / "md"))
    t.overwrite(
        spark.createDataFrame([(1, 10), (2, 20), (3, 30)], "k long, v long")
    )
    spark.createDataFrame([(2,), (9,)], "k long").createOrReplaceTempView("gone")
    execute_dml(
        spark, t,
        "MERGE INTO md t USING gone s ON t.k = s.k "
        "WHEN MATCHED THEN DELETE",
    )
    assert {r.k: r.v for r in t.snapshot(spark).collect()} == {1: 10, 3: 30}
    execute_dml(
        spark, t,
        "MERGE INTO md t USING gone s ON t.k = s.k "
        "WHEN MATCHED THEN DELETE "
        "WHEN NOT MATCHED THEN INSERT *",
    )
    # nothing matches now (2 was deleted above): both source keys
    # insert (v NULL — the keys-only source), 1 and 3 untouched
    assert {r.k for r in t.snapshot(spark).collect()} == {1, 2, 3, 9}


def test_execute_dml_create_table_as(spark, tmp_path):
    """CTAS: CREATE [OR REPLACE] TABLE ... [PARTITIONED BY (...)] AS
    SELECT routed to overwrite — hidden-transform specs included."""
    import pytest as _pytest

    from etl_job_spark.sql import execute_dml
    from etl_job_spark.table import ManifestTable

    spark.createDataFrame(
        [(i, i % 4, f"2024-01-{(i % 9) + 1:02d} 00:00:00") for i in range(40)],
        "k long, g long, ts_s string",
    ).selectExpr("k", "g", "cast(ts_s as timestamp) as ts").createOrReplaceTempView(
        "ctas_src"
    )
    path = str(tmp_path / "ct")
    t = ManifestTable(path)
    v = execute_dml(
        spark, t,
        "CREATE TABLE ct PARTITIONED BY (days(ts), bucket(4, k)) AS "
        "SELECT * FROM ctas_src WHERE g < 3",
    )
    assert v == 1
    assert t.snapshot(spark).count() == 30
    man = t._read_manifest(1)
    assert man["partition_by"] == ["days(ts)", "bucket(4, k)"]
    # plain CREATE refuses on an existing table; OR REPLACE replaces
    with _pytest.raises(ValueError, match="already exists"):
        execute_dml(spark, t, "CREATE TABLE ct AS SELECT * FROM ctas_src")
    v = execute_dml(
        spark, t,
        "CREATE OR REPLACE TABLE ct AS SELECT k, g FROM ctas_src",
    )
    assert v == 2 and t.snapshot(spark).columns == ["k", "g"]
    # VALUES body and wrong-name guard
    with _pytest.raises(ValueError, match="targets"):
        execute_dml(spark, t, "CREATE OR REPLACE TABLE other AS SELECT 1 AS x")


def test_execute_dml_maintenance_statements(spark, tmp_path):
    """VACUUM / OPTIMIZE / RESTORE as literal statements routed to the
    table verbs — the Delta maintenance surface."""
    import os

    import pytest as _pytest

    from etl_job_spark.sql import execute_dml
    from etl_job_spark.table import ManifestTable

    path = str(tmp_path / "mt")
    t = ManifestTable(path)
    t.overwrite(
        spark.range(0, 40).selectExpr("id as k", "id * 10 as v").repartition(8)
    )
    execute_dml(spark, t, "DELETE FROM mt WHERE k < 10")
    v_del = t.latest_version()

    # RESTORE to the pre-delete version (a NEW version, history intact)
    v = execute_dml(spark, t, "RESTORE TABLE mt TO VERSION AS OF 1")
    assert v == v_del + 1 and t.snapshot(spark).count() == 40

    # OPTIMIZE bin-packs the slivers into fewer files
    before = len(t._read_manifest(t.latest_version())["files"])
    v = execute_dml(spark, t, "OPTIMIZE mt")
    after = len(t._read_manifest(v)["files"])
    assert after < before and t.snapshot(spark).count() == 40
    # ZORDER form
    v = execute_dml(spark, t, "OPTIMIZE mt ZORDER BY (k)")
    assert t.snapshot(spark).count() == 40

    # VACUUM RETAIN 1 VERSIONS drops older manifests (data files written
    # seconds ago sit inside the in-flight grace window and survive —
    # the protocol contract); the table still reads fine
    assert os.path.exists(os.path.join(t.manifest_dir, "v000000000001.json"))
    ret = execute_dml(spark, t, f"VACUUM {path} RETAIN 1 VERSIONS")
    assert ret == t.latest_version()
    assert not os.path.exists(os.path.join(t.manifest_dir, "v000000000001.json"))
    assert t.snapshot(spark).count() == 40

    with _pytest.raises(ValueError, match="supported form"):
        execute_dml(spark, t, "RESTORE mt")
    with _pytest.raises(ValueError, match="targets"):
        execute_dml(spark, t, "VACUUM other")


def test_execute_dml_alter_table(spark, tmp_path):
    """ALTER TABLE DDL routed to the metadata-only verbs: constraints,
    column rename/drop, partition-spec evolution."""
    import pytest as _pytest

    from etl_job_spark.sql import execute_dml
    from etl_job_spark.table import ConstraintViolationError, ManifestTable

    path = str(tmp_path / "at")
    t = ManifestTable(path)
    t.overwrite(
        spark.createDataFrame(
            [(i, i * 10, f"s{i}") for i in range(10)], "k long, v long, s string"
        )
    )
    # ADD CONSTRAINT enforces immediately and on later writes
    v = execute_dml(spark, t, "ALTER TABLE at ADD CONSTRAINT v_ok CHECK (v >= 0)")
    assert t._read_manifest(v)["constraints"] == {"v_ok": "v >= 0"}
    with _pytest.raises(ConstraintViolationError):
        execute_dml(spark, t, "INSERT INTO at VALUES (99, -1, 'bad')")
    # DROP CONSTRAINT lifts it
    execute_dml(spark, t, "ALTER TABLE at DROP CONSTRAINT v_ok")
    execute_dml(spark, t, "INSERT INTO at VALUES (99, -1, 'ok now')")
    assert t.snapshot(spark).filter("v = -1").count() == 1

    # RENAME COLUMN: metadata-only, reads resolve through the mapping
    execute_dml(spark, t, "ALTER TABLE at RENAME COLUMN v TO val")
    assert "val" in t.snapshot(spark).columns
    assert t.snapshot(spark).filter("val = 20").count() == 1

    # DROP COLUMN: tombstoned away
    execute_dml(spark, t, "ALTER TABLE at DROP COLUMN s")
    assert t.snapshot(spark).columns == ["k", "val"]

    # SET PARTITION SPEC: future writes land the new layout
    execute_dml(spark, t, "ALTER TABLE at SET PARTITION SPEC (bucket(2, k))")
    assert t._read_raw_manifest(t.latest_version())["partition_by"] == [
        "bucket(2, k)"
    ]
    execute_dml(spark, t, "INSERT INTO at VALUES (500, 1)")
    assert t.snapshot(spark).filter("k = 500").count() == 1

    with _pytest.raises(ValueError, match="supported form"):
        execute_dml(spark, t, "ALTER TABLE at ADD CONSTRAINT broken")
    with _pytest.raises(ValueError, match="targets"):
        execute_dml(spark, t, "ALTER TABLE other DROP CONSTRAINT x")


def test_truncate_and_describe_statements(spark, tmp_path):
    """Round 11: TRUNCATE TABLE is a METADATA-ONLY delete-all (zero
    files referenced, properties carried, time travel intact), and
    DESCRIBE HISTORY/DETAIL return DataFrames — the executor's one
    read shape."""
    import pytest as _pytest

    from etl_job_spark.sql import execute_dml
    from etl_job_spark.table import ManifestTable

    t = ManifestTable(str(tmp_path / "tr"))
    t.overwrite(
        spark.createDataFrame([(1, 10), (2, 20)], "k long, v long"),
        bloom_cols=["k"],
    )
    t.alter_constraints(spark, add={"k_pos": "k > 0"})
    v = execute_dml(spark, t, "TRUNCATE TABLE tr")
    assert v == 3
    man = t._read_manifest(v)
    assert man["files"] == [] and man["n_files"] == 0
    assert t.snapshot(spark).count() == 0
    assert t.snapshot(spark, 1).count() == 2  # time travel intact
    # properties carried: the next load is still guarded
    assert man.get("constraints") == {"k_pos": "k > 0"}
    assert man.get("bloom_cols") == ["k"]
    from etl_job_spark.table import ConstraintViolationError

    with _pytest.raises(ConstraintViolationError):
        t.append(spark.createDataFrame([(-1, 0)], "k long, v long"))
    t.append(spark.createDataFrame([(5, 50)], "k long, v long"))
    assert {r.k for r in t.snapshot(spark).collect()} == {5}

    # DESCRIBE returns frames
    hist = execute_dml(spark, t, "DESCRIBE HISTORY tr")
    ops = {r.version: r.op for r in hist.collect()}
    assert ops[3] == "truncate" and ops[1] == "overwrite"
    detail = execute_dml(spark, t, "DESCRIBE DETAIL tr").first()
    assert detail.version == t.latest_version()
    assert detail.rows == 1 and '"k_pos"' in detail.constraints
    with _pytest.raises(ValueError, match="supported form"):
        execute_dml(spark, t, "DESCRIBE SOMETHING tr")
    with _pytest.raises(ValueError, match="targets"):
        execute_dml(spark, t, "TRUNCATE TABLE other")
