"""Physical-plan regression tests (SURVEY.md §4).

Correctness tests prove the answers match; these prove the PLANS stay
scale-worthy: filters reach the parquet scan, projections prune the
read schema, small dims broadcast, and the shuffle-free operators
really are shuffle-free. A regression here is a 100 TB incident that
no sf0.01 correctness test would catch.
"""

from __future__ import annotations

import contextlib
import io

from pyspark.sql import functions as F

from etl_job_spark.operators import dedup
from etl_job_spark.plans import kicc
from etl_job_spark.plans.registry import QUERIES
from etl_job_spark.sources import load_table


def plan(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode=mode)
    return buf.getvalue()


def test_range_predicate_pushed_to_parquet_scan(spark, sf_dir):
    """S3: sale-window predicates must reach the scan (the reference
    ships BETWEEN to MySQL, kicc_to_tb_sales_prod.py:63-70; here the
    parquet reader must see it)."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") >= F.lit("1995-01-01").cast("timestamp")
    )
    p = plan(li)
    assert "PushedFilters: [IsNotNull(l_shipdate), GreaterThanOrEqual(l_shipdate" in p


def test_column_pruning_reaches_read_schema(spark, sf_dir):
    """P1: a 2-column projection must scan 2 columns, not 16."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    p = plan(li)
    assert "ReadSchema: struct<l_orderkey:bigint,l_quantity:double>" in p


def test_enrichment_joins_broadcast(spark, sf_dir):
    """J1/J2: tiny dims must broadcast — a shuffled join against a
    20-row dim at 100 TB shuffles the fact for nothing."""
    p = plan(QUERIES["kicc_enrich_store"](spark, sf_dir))
    assert "BroadcastHashJoin" in p
    assert "BroadcastExchange" in p


def test_shingles_need_no_shuffle(spark, sf_dir):
    """Within-document array_distinct dedup keeps the shingle table
    shuffle-free (operators/dedup.py) — the whole point of the
    restructure; an Exchange here reshuffles the dedup pipeline's
    largest intermediate."""
    docs = load_table(spark, sf_dir, "documents")
    p = plan(dedup.shingles(docs))
    assert "Exchange" not in p


def test_pricing_summary_is_one_shuffle_codegen(spark, sf_dir):
    """A2-style rollup: partial agg → single exchange → final agg, all
    inside whole-stage codegen."""
    p = plan(QUERIES["pricing_summary"](spark, sf_dir))
    # formatted mode names each exchange twice (tree + detail): one
    # real exchange = the group-by shuffle; the sort is partition-local
    assert p.count("Exchange") <= 2
    # map-side combine: every sum must run as partial_sum BEFORE the
    # exchange, so the shuffle moves one row per (group × partition)
    assert "partial_sum" in p


def test_bucketed_join_needs_no_shuffle(spark, sf_dir, tmp_path):
    """Two tables bucketed on the join key co-locate: the join plan
    must contain NO Exchange — the pay-once-at-write bucketing
    contract (sinks.bucketed_write)."""
    from etl_job_spark import sinks
    from etl_job_spark.plans import kicc

    staging = kicc.kicc_sales_data(spark, sf_dir).select("sp_code", "sale_date", "total_amt")
    sinks.bucketed_write(staging, "bk_staging", ["sp_code"], num_buckets=8)
    sinks.bucketed_write(staging, "bk_mart", ["sp_code"], num_buckets=8)
    # at test scale the planner would just broadcast the tiny side;
    # disable that to exercise the plan both sides get at 100 TB
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table("bk_staging").join(spark.table("bk_mart"), "sp_code")
        p = plan(joined)
        assert "Exchange" not in p
        assert "Bucketed: true" in p
        # and it actually runs
        assert joined.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS bk_staging")
        spark.sql("DROP TABLE IF EXISTS bk_mart")


def test_partition_pruning_on_date_partitioned_mart(spark, sf_dir, tmp_path):
    """A date filter on a sale_date-partitioned mart must prune at
    planning time (PartitionFilters), reading only the touched days —
    the reference's daily window as a metadata operation."""
    from etl_job_spark import sinks
    from etl_job_spark.plans import kicc

    path = str(tmp_path / "mart")
    staging = kicc.kicc_sales_data(spark, sf_dir).filter(
        F.col("sale_date").between("19950102", "19950131")
    )
    sinks.overwrite(staging, path, partition_by=["sale_date"])
    read = spark.read.parquet(path).filter(F.col("sale_date") == "19950110")
    p = plan(read)
    assert "PartitionFilters" in p and "19950110" in p


def test_asof_join_is_single_shuffle(spark, sf_dir):
    """The as-of join must plan as union → one exchange on the key →
    window sort; a range-join formulation would show a nested-loop or
    cartesian node here."""
    p = plan(QUERIES["asof_view_attribution"](spark, sf_dir))
    assert "CartesianProduct" not in p and "NestedLoop" not in p
    # one real exchange (named twice in formatted output: tree + detail)
    assert p.count("Exchange") <= 2
    assert "Window" in p


def test_cosine_topk_broadcasts_queries(spark, sf_dir):
    """Brute-force ANN must broadcast the small query set — the corpus
    side must never shuffle."""
    p = plan(QUERIES["embed_cosine_topk"](spark, sf_dir))
    assert "BroadcastExchange" in p


def test_semi_join_replaces_exists_probe(spark, sf_dir):
    """J5: the reference's per-row COUNT(*) probe must appear as a set
    semi-join, never a per-row loop."""
    p = plan(QUERIES["kicc_semi_join"](spark, sf_dir))
    assert "SemiJoin" in p.replace("LeftSemi", "SemiJoin") or "LeftSemi" in plan(
        QUERIES["kicc_semi_join"](spark, sf_dir), "extended"
    )


def test_vocab_topk_is_take_ordered(spark, sf_dir):
    """text_vocab's global top-100 must plan as TakeOrderedAndProject
    (per-partition heap + driver merge) feeding a window over the
    bounded 100-row result — never a row_number window over the full
    distinct-token table, which at 100 TB is billions of rows through
    one task (r3 VERDICT wrong-#2)."""
    p = plan(QUERIES["text_vocab"](spark, sf_dir))
    assert "TakeOrderedAndProject" in p


def test_cjk_token_count_is_shuffle_free(spark, sf_dir):
    """unicode_token_count is pure per-row expression work: the plan
    over the (union) corpus must contain no Exchange — a shuffle here
    would mean the token budget pays a network pass at corpus scale."""
    p = plan(QUERIES["text_token_count_cjk"](spark, sf_dir))
    assert "Exchange" not in p


def test_mart_versioned_earlier_snapshot_survives_reinvocation(spark, sf_dir):
    """Code-review r4: the session-scoped scratch table must NOT be
    rmtree'd on re-entry — a lazy frame returned by an earlier call
    still references those files; reuse relies on snapshot isolation
    (each call commits new versions)."""
    df1 = QUERIES["kicc_mart_versioned"](spark, sf_dir)
    n1 = df1.count()
    df2 = QUERIES["kicc_mart_versioned"](spark, sf_dir)
    assert df2.count() == n1
    # the FIRST frame must still be actionable after the second call
    assert df1.count() == n1


def test_contamination_probe_is_broadcast(spark, sf_dir):
    """The benchmark side of decontamination must broadcast — a
    sort-merge join here shuffles the full corpus shingle stream to
    meet a set that is small by construction."""
    p = plan(QUERIES["text_contamination"](spark, sf_dir))
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_repetition_scores_tokenize_once_per_row(spark, sf_dir):
    """The ≥3-token guard must surface as a size(split(...)) >= 3
    condition, not as a filter over the BUILT 3-gram array — pushdown
    of the latter inlines the tokenizer into the transform lambda and
    re-splits the text per element (the 7.4 s scan-stage regression).
    One split per expression tree below the exchange: the condition
    may not contain a lambda."""
    p = plan(QUERIES["text_repetition"](spark, sf_dir))
    cond = [ln for ln in p.splitlines() if ln.startswith("Condition")]
    assert cond, p
    assert "lambdafunction" not in cond[0]


def test_pack_shards_window_is_partitioned_not_global(spark, sf_dir):
    """The running sum must come from per-bucket windows (parallel)
    plus broadcast offsets — never a global ORDER BY window, whose
    SinglePartition exchange funnels the corpus through one task."""
    p = plan(QUERIES["corpus_pack_shards"](spark, sf_dir))
    assert "SinglePartition" not in p
    assert "BroadcastHashJoin" in p  # the offsets join


def test_mix_sources_joins_broadcast_and_corpus_never_shuffles(spark, sf_dir):
    """Thresholds come back to the corpus via broadcast; the only
    exchanges allowed are for the TINY per-source aggregates, so no
    exchange may sit above the documents scan on the probe side."""
    p = plan(QUERIES["corpus_mix_sources"](spark, sf_dir))
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_snapshot_where_residual_filter_pushes_to_scan(spark, sf_dir):
    """Read-path data skipping prunes FILES; the residual predicate
    must still reach the surviving scans as pushed parquet filters —
    otherwise every surviving file is read in full and filtered
    row-by-row above the scan."""
    p = plan(QUERIES["kicc_mart_window_read"](spark, sf_dir))
    assert "PushedFilters" in p
    assert "GreaterThanOrEqual(sale_date" in p and "LessThanOrEqual(sale_date" in p
    assert "In(sp_code" in p
    # no join/shuffle machinery: a pruned snapshot read is scan+filter
    assert "SortMergeJoin" not in p


def test_evolved_read_prunes_both_layouts(spark, sf_dir):
    """The partition-evolution window read (events_mart_evolved_read)
    must actually SKIP files in BOTH layouts: day dirs outside the
    window in the historical half, ts file stats inside the month dir
    in the appended half — not merely return correct rows by scanning
    everything."""
    import hashlib

    from etl_job_spark.scratch import scratch_dir
    from etl_job_spark.table import ManifestTable

    # build (or reuse) the session-scoped mart, then inspect the plan
    QUERIES["events_mart_evolved_read"](spark, sf_dir).collect()
    path = scratch_dir(
        spark, "events_mart_evolved",
        f"_{hashlib.md5(sf_dir.encode()).hexdigest()[:8]}",
    )
    t = ManifestTable(path)
    import datetime as dt

    spec = [("ts", ">=", dt.datetime(2024, 1, 12)), ("ts", "<", dt.datetime(2024, 1, 18))]
    t.snapshot_where(spark, spec).count()
    lp = t.last_planning
    assert lp["kept"] < lp["candidates"], lp
    man = t._read_manifest(t.latest_version())
    assert man["partition_specs"] == [["days(ts)"]]
    legacy = [e for e in man["files"] if "ts_day" in e["partition"]]
    current = [e for e in man["files"] if "ts_month" in e["partition"]]
    assert legacy and current  # genuinely mixed layouts
    # re-plan explicitly to get the per-entry kept set
    kept, pruned = t._prune_by_key_stats(
        man["files"], spec, t.snapshot(spark).schema, man=man
    )
    pruned_legacy = [e for e in pruned if "ts_day" in e["partition"]]
    pruned_current = [e for e in pruned if "ts_month" in e["partition"]]
    assert pruned_legacy, "historical days(ts) layout did not prune"
    assert pruned_current, "appended months(ts) layout did not prune"
