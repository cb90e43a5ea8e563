"""Null-count data skipping: footer null counts + is_null/not_null
predicate pruning through every planning surface (stats, NULL
partition dirs, null-preserving transform dirs, distributed tier).

Reference analogue: the reference's staging loads carry nullable
channel/medium codes that its mart queries backfill with IS NULL
guards (kicc_to_tb_sales.py WHERE-clause NULL handling); here the
nullness test prunes files before the scan like any range predicate.
"""

import os

import pytest
from pyspark.sql import functions as F

import etl_job_spark.table as tablemod
from etl_job_spark.table import ManifestTable, _file_stats, _strip_file_scheme


def _paths(df):
    return {_strip_file_scheme(p) for p in df.inputFiles()}


def test_footer_null_counts_recorded(spark, tmp_path):
    t = ManifestTable(str(tmp_path / "t"))
    df = spark.range(0, 100).selectExpr(
        "id as k",
        "if(id % 4 = 0, null, concat('v', id)) as v",
        "cast(null as string) as dead",  # all-NULL: no min/max, nulls only
    )
    t.overwrite(df.coalesce(1))
    [e] = t._read_manifest(t.latest_version())["files"]
    assert e["stats"]["k"]["nulls"] == 0
    assert e["stats"]["v"]["nulls"] == 25
    # the all-NULL column records a nulls-only stats entry
    assert e["stats"]["dead"] == {"nulls": 100}
    # and _file_stats agrees directly on the footer
    rows, st = _file_stats(os.path.join(t.data_dir, e["path"]))
    assert rows == 100 and st["dead"]["nulls"] == 100


def test_is_null_and_not_null_prune_on_stats(spark, tmp_path):
    t = ManifestTable(str(tmp_path / "t"))
    # three files with controlled null placement in column v
    t.overwrite(
        spark.range(0, 100).selectExpr("id as k", "concat('v', id) as v").coalesce(1)
    )  # no nulls
    t.append(
        spark.range(100, 200).selectExpr(
            "id as k", "if(id % 2 = 0, null, concat('v', id)) as v"
        ).coalesce(1)
    )  # mixed
    t.append(
        spark.range(200, 300).selectExpr("id as k", "cast(null as string) as v")
        .coalesce(1)
    )  # all null
    man = t._read_manifest(t.latest_version())
    assert len(man["files"]) == 3

    got = t.snapshot_where(spark, [("v", "is_null")])
    exp = t.snapshot(spark).filter(F.col("v").isNull())
    assert sorted(r.k for r in got.collect()) == sorted(r.k for r in exp.collect())
    assert len(_paths(got)) == 2  # the no-null file is pruned

    got = t.snapshot_where(spark, [("v", "not_null", None)])  # 3-tuple form too
    exp = t.snapshot(spark).filter(F.col("v").isNotNull())
    assert sorted(r.k for r in got.collect()) == sorted(r.k for r in exp.collect())
    assert len(_paths(got)) == 2  # the all-null file is pruned

    # composes with range predicates: not_null AND k >= 150 hits 1 file
    got = t.snapshot_where(spark, [("v", "not_null"), ("k", ">=", 150)])
    assert len(_paths(got)) == 1
    assert sorted(r.k for r in got.collect()) == list(range(151, 200, 2))

    # any_of: (v is null) OR (k < 50) — all-null + mixed + first file
    got = t.snapshot_where(spark, any_of=[[("v", "is_null")], [("k", "<", 50)]])
    exp = t.snapshot(spark).filter("v is null or k < 50")
    assert sorted(r.k for r in got.collect()) == sorted(r.k for r in exp.collect())


def test_nullness_prunes_on_partition_and_transform_dirs(spark, tmp_path):
    t = ManifestTable(str(tmp_path / "p"))
    df = spark.createDataFrame(
        [(i, None if i % 3 == 0 else f"c{i % 2}") for i in range(60)],
        "k long, ch string",
    )
    t.overwrite(df.repartition(F.col("ch")), partition_by=["ch"])
    got = t.snapshot_where(spark, [("ch", "is_null")])
    assert all("__HIVE_DEFAULT_PARTITION__" in p for p in _paths(got))
    assert sorted(r.k for r in got.collect()) == list(range(0, 60, 3))
    got = t.snapshot_where(spark, [("ch", "not_null")])
    assert not any("__HIVE_DEFAULT_PARTITION__" in p for p in _paths(got))
    assert got.count() == 40

    # hidden partitioning: days(ts) dirs are null-preserving, so the
    # nullness of the SOURCE column prunes on the transform dir
    t2 = ManifestTable(str(tmp_path / "h"))
    df2 = spark.createDataFrame(
        [(i, None if i < 20 else f"2024-01-{1 + i % 3:02d} 10:00:00") for i in range(60)],
        "k long, ts_s string",
    ).selectExpr("k", "cast(ts_s as timestamp) as ts")
    t2.overwrite(df2.repartition(4), partition_by=["days(ts)"])
    got = t2.snapshot_where(spark, [("ts", "is_null")])
    assert all("ts_day=__HIVE_DEFAULT_PARTITION__" in p for p in _paths(got))
    assert sorted(r.k for r in got.collect()) == list(range(20))
    got = t2.snapshot_where(spark, [("ts", "not_null")])
    assert not any("__HIVE_DEFAULT_PARTITION__" in p for p in _paths(got))
    assert got.count() == 40


def test_nullness_through_distributed_planner_and_delta_chain(
    spark, tmp_path, monkeypatch
):
    monkeypatch.setattr(tablemod, "_SPARK_PRUNE_MIN_FILES", 2)
    t = ManifestTable(str(tmp_path / "d"))
    t.overwrite(
        spark.range(0, 90).selectExpr(
            "id as k", "if(id % 30 < 10, null, concat('v', id)) as v"
        ).repartitionByRange(3, "k").sortWithinPartitions("k")
    )
    got = t.snapshot_where(spark, [("v", "is_null")])
    exp = t.snapshot(spark).filter("v is null")
    assert sorted(r.k for r in got.collect()) == sorted(r.k for r in exp.collect())
    # rows-only check that pruning actually fired under the job tier
    assert len(_paths(got)) == 3  # every file holds a null band here

    t.append(
        spark.range(90, 120).selectExpr("id as k", "concat('v', id) as v").coalesce(1)
    )
    got = t.snapshot_where(spark, [("v", "is_null")])
    assert len(_paths(got)) == 3  # the appended null-free file pruned


def test_range_probe_on_nulls_only_stats_never_crashes(spark, tmp_path):
    t = ManifestTable(str(tmp_path / "n"))
    t.overwrite(
        spark.range(0, 10).selectExpr("id as k", "cast(null as bigint) as m")
        .coalesce(1)
    )
    # m's stats entry is nulls-only; every planner surface must read
    # it without a range (the all-NULL file is skipped) and yield empty
    assert t.snapshot_where(spark, [("m", ">", 5)]).count() == 0
    assert t.snapshot_where(spark, [("m", "in", [1, 2])]).count() == 0
    assert t.snapshot_where(spark, [("m", "is_null"), ("k", "<", 3)]).count() == 3


def test_bad_op_message_names_null_ops(spark, tmp_path):
    t = ManifestTable(str(tmp_path / "e"))
    t.overwrite(spark.range(3).selectExpr("id as k").coalesce(1))
    with pytest.raises(ValueError, match="is_null"):
        t.snapshot_where(spark, [("k", "~", 1)])


def test_backfill_scan_query_prunes_backfilled_files(spark):
    """The registry query's contract: the is_null maintenance scan
    never opens a file whose footer proves zero NULLs."""
    from etl_job_spark.plans.registry import QUERIES

    got = QUERIES["kicc_mart_backfill_scan"](spark, "/root/testdata/sf0.001")
    # the scratch table landed 8 range files; the preset-only tail
    # files must be pruned from the scan
    paths = {p for p in got.inputFiles()}
    assert 0 < len(paths) < 8
    assert got.count() > 0
    # every surviving row really needs backfill
    assert got.filter(~(F.col("prod_code").cast("int") % 7 != 0)).count() == 0
