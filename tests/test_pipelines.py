"""End-to-end pipeline tests: E1 ingest (fetch→decode→merge), E2/E3
mart builds, and the idempotency + correction-replay invariants the
reference relies on operationally (re-run a window to repair it)."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, StringType, StructField, StructType

from etl_job_spark import pipelines
from etl_job_spark.plans import kicc

ROW_SCHEMA = StructType(
    [
        StructField("sp_code", StringType()),
        StructField("sp_name", StringType()),
        StructField("total_amt", DoubleType()),
        StructField("sale_amt", DoubleType()),
        StructField("net_amt", DoubleType()),
        StructField("total_dc_amt", DoubleType()),
        StructField("vat_amt", DoubleType()),
        StructField("cash_amt", DoubleType()),
        StructField("card_amt", DoubleType()),
        StructField("emoney_amt", DoubleType()),
        StructField("bill_qty", DoubleType()),
    ]
)


def make_transport(scale: float = 1.0):
    def transport(sp_code: str, sale_date: str) -> str:
        if sp_code == "S9":
            raise ConnectionError("down")
        base = (int(sp_code[1:]) + 1) * int(sale_date[-2:]) * scale
        row = {
            "sp_code": sp_code,
            "sp_name": f"store {sp_code}",
            "total_amt": base,
            "sale_amt": base * 0.9,
            "net_amt": base * 0.99,
            "total_dc_amt": base * 0.1,
            "vat_amt": base * 0.09,
            "cash_amt": base * 0.5,
            "card_amt": base * 0.4,
            "emoney_amt": base * 0.1,
            "bill_qty": 3.0,
        }
        return json.dumps({"ret_code": "0000", "data": [row]})

    return transport


@pytest.fixture()
def stores(spark):
    return spark.createDataFrame([("S1",), ("S2",), ("S9",)], "sp_code string")


def test_ingest_is_idempotent_and_quarantines(spark, stores, tmp_path):
    staging = str(tmp_path / "staging")
    dlq = str(tmp_path / "dlq")
    window = ("20240101", "20240103")

    pipelines.ingest_sales(
        spark, stores, window, make_transport(), ROW_SCHEMA, staging,
        quarantine_path=dlq, fetch_partitions=4,
    )
    got = spark.read.parquet(staging)
    assert got.count() == 6  # 2 good stores × 3 days
    assert spark.read.parquet(dlq).count() == 3  # S9 × 3 days, replayable

    # re-run the same window: merge keys (sp_code, sale_date) → no dups
    pipelines.ingest_sales(
        spark, stores, window, make_transport(), ROW_SCHEMA, staging,
        quarantine_path=dlq, fetch_partitions=4,
    )
    assert spark.read.parquet(staging).count() == 6

    # corrected re-fetch (amounts doubled) updates in place — the
    # reference's late-correction reconciliation (K3)
    pipelines.ingest_sales(
        spark, stores, ("20240102", "20240102"), make_transport(2.0), ROW_SCHEMA, staging,
    )
    after = spark.read.parquet(staging)
    assert after.count() == 6
    day2 = after.filter(F.col("sale_date") == "20240102")
    orig = {r.sp_code: r.total_amt for r in day2.collect()}
    # base = (store_index + 1) × day-of-month × scale
    assert orig == {"S1": 2 * 2 * 2.0, "S2": 3 * 2 * 2.0}


def test_mart_store_pipeline(spark, sf_dir, tmp_path):
    mart_path = str(tmp_path / "tb_sales_by_store")
    staging = kicc.kicc_sales_data(spark, sf_dir)
    temp = kicc.tb_store_temp(spark, sf_dir)
    easy = kicc.tb_store_easypos(spark, sf_dir)

    covered = {r.chain_no for r in temp.select("chain_no").collect()}
    all_stores = {r.sp_code for r in staging.select("sp_code").distinct().collect()}
    uncovered = sorted(all_stores - covered)
    assert uncovered, "fixture should leave some stores without a resp match"
    direct = (uncovered[0],)  # exercises P7 on a genuinely unmatched store

    pipelines.build_mart_store(spark, staging, temp, easy, mart_path, direct_stores=direct)
    mart = spark.read.parquet(mart_path)
    assert mart.count() == staging.count()  # grain preserved
    assert {"responsible", "xy", "chong_maechool", "sale_dy"} <= set(mart.columns)
    # J1 keep-NULL for unmatched, P7 constant for direct stores
    assert mart.filter(F.col("chain_no") == uncovered[0]).select("responsible").first()[0] == "직영"
    if len(uncovered) > 1:
        assert (
            mart.filter(F.col("chain_no") == uncovered[1]).select("responsible").first()[0]
            is None
        )
    matched = mart.filter(F.col("responsible").isNotNull()).count()
    assert 0 < matched < mart.count()
    n1 = mart.count()
    s1 = mart.agg(F.sum(F.round(F.col("chong_maechool") * 100))).first()[0]

    # idempotency: rebuilding converges to the same table
    pipelines.build_mart_store(spark, staging, temp, easy, mart_path, direct_stores=direct)
    again = spark.read.parquet(mart_path)
    assert again.count() == n1
    s2 = again.agg(F.sum(F.round(F.col("chong_maechool") * 100))).first()[0]
    assert s1 == s2


def test_mart_store_pipeline_catalog_backend(spark, sf_dir, tmp_path):
    """The catalog-driven E2 produces the same mart as the path-based
    one, with the mart living in a ManifestTable resolved by name —
    swapping storage is a catalog edit, not a pipeline change."""
    from etl_job_spark.catalog import Catalog
    from etl_job_spark.table import ManifestTable

    staging = kicc.kicc_sales_data(spark, sf_dir)
    temp = kicc.tb_store_temp(spark, sf_dir)
    easy = kicc.tb_store_easypos(spark, sf_dir)

    # materialize staging/dims as the E1 outputs they model
    stg_path = str(tmp_path / "staging")
    tmp_dim_path = str(tmp_path / "temp_dim")
    easy_path = str(tmp_path / "easy_dim")
    staging.write.parquet(stg_path)
    temp.write.parquet(tmp_dim_path)
    easy.write.parquet(easy_path)

    mart_path = str(tmp_path / "mart_manifest")
    cat = Catalog(
        {
            "kicc_sales_data": {"backend": "parquet", "path": stg_path},
            "tb_store_temp": {"backend": "parquet", "path": tmp_dim_path},
            "tb_store_easypos": {"backend": "parquet", "path": easy_path},
            "tb_sales_by_store": {"backend": "manifest", "path": mart_path},
        }
    )
    direct = ("000005",)
    pipelines.build_mart_store_catalog(spark, cat, direct_stores=direct)

    # reference result from the path-based variant
    ref_path = str(tmp_path / "mart_parquet")
    pipelines.build_mart_store(spark, staging, temp, easy, ref_path, direct_stores=direct)

    cols = ["chain_no", "sale_dy", "chong_maechool", "responsible", "xy"]
    got = sorted(tuple(str(v) for v in r) for r in cat.load(spark, "tb_sales_by_store").select(*cols).collect())
    want = sorted(tuple(str(v) for v in r) for r in spark.read.parquet(ref_path).select(*cols).collect())
    assert got == want

    # the enrichment rewrite committed a second version (merge, then
    # overwrite) — snapshot isolation all the way through
    assert ManifestTable(mart_path).versions() == [1, 2]

    # idempotent: rebuilding converges (two more versions, same rows)
    pipelines.build_mart_store_catalog(spark, cat, direct_stores=direct)
    again = sorted(tuple(str(v) for v in r) for r in cat.load(spark, "tb_sales_by_store").select(*cols).collect())
    assert again == got


def test_continuous_aggregate_incremental_refresh(spark, sf_dir, tmp_path):
    """Refreshing two half-windows (plus an overlapping re-refresh)
    must equal the one-shot full rollup — the hypertable refresh
    invariant."""
    from etl_job_spark.plans.registry import QUERIES
    from etl_job_spark.sources import load_table

    rollup = str(tmp_path / "rollup")
    ev = load_table(spark, sf_dir, "events")
    pipelines.refresh_continuous_aggregate(
        spark, ev, rollup, ("2024-01-01 00:00:00", "2024-01-15 23:59:59")
    )
    pipelines.refresh_continuous_aggregate(
        spark, ev, rollup, ("2024-01-10 00:00:00", "2024-01-31 23:59:59")
    )
    got = spark.read.parquet(rollup)
    want = QUERIES["events_tumbling_hourly"](spark, sf_dir)
    cols = ["window_start", "event_type", "n", "sum_value"]
    g = sorted(tuple(str(v) for v in r) for r in got.select(*cols).collect())
    w = sorted(tuple(str(v) for v in r) for r in want.select(*cols).collect())
    assert g == w


def test_mart_prod_incremental_window(spark, sf_dir, tmp_path):
    mart_path = str(tmp_path / "tb_sales_by_prod")
    staging = kicc.kicc_store_product_sales(spark, sf_dir)
    prods = kicc.kicc_product_list(spark, sf_dir)

    w1 = ("19980101", "19980131")
    pipelines.build_mart_prod(spark, staging, prods, mart_path, w1)
    n1 = spark.read.parquet(mart_path).count()
    assert n1 == staging.filter(F.col("sale_date").between(*w1)).count()

    # widening the window only adds the new days' rows (incremental)
    w2 = ("19980101", "19980228")
    pipelines.build_mart_prod(spark, staging, prods, mart_path, w2)
    n2 = spark.read.parquet(mart_path).count()
    assert n2 == staging.filter(F.col("sale_date").between(*w2)).count()
    assert n2 > n1
    # backfill happened: every row with a dim match carries the name
    mart = spark.read.parquet(mart_path)
    assert mart.filter(F.col("medium_scale_nm").isNotNull()).count() > 0


def test_iso_day_guard_is_eight_ascii_digits(spark):
    # the guard refuses non-digit input (no '2024-AB-CD' fragment) but
    # does not check calendar validity, exactly as the docstring says
    df = spark.createDataFrame(
        [("20240102",), ("2024ABCD",), ("20241399",), ("2024-1-1",), (None,)],
        "sale_date string",
    )
    got = [r[0] for r in df.select(pipelines._iso_day("sale_date")).collect()]
    assert got == ["2024-01-02", None, "2024-13-99", None, None]
