"""Bench harness: run every registered query at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and print
ONE JSON line the driver records as BENCH_r{N}.json.

Methodology (round 3): each query runs ``SPARK_GRAFT_BENCH_REPS``
(default 3) times and reports the MEDIAN — a single-pass number moves
with execution order (JIT warm-up, page cache, AQE state land on
whichever query runs first; round 2 saw a 3x swing on text_lang_id
purely from moving it to slot 11). The median of three warm runs is
stable under reordering, so a round-over-round delta means the PLAN
changed, not the schedule. Session-level warm-up (JVM, codegen,
parquet footers) still runs once, untimed, as ``warmup_seconds``; the
per-query spread ships as ``BENCH_SPREAD.json`` [min, max] so order
artifacts stay visible instead of silently polluting the headline.

Round-4 contract fix (VERDICT r3 #1): the single stdout JSON line is
COMPACT — metric/value/unit/queries/sf/n_queries only.  Round 3 put
``queries_spread`` (+reps/failures) on the same line and it outgrew
the driver's tail-capture window, so BENCH_r03.json recorded
``parsed: null`` and the round's perf gate was unverifiable.  The
spread, reps, warmup, and failure detail now land in
``BENCH_SPREAD.json`` next to this file and on stderr; stdout stays
parseable no matter how many queries register.

Timing = wall clock of plan construction + execution to the ``noop``
sink (round-5 methodology fix): ``count()`` lets Catalyst PRUNE every
projection the count doesn't need, so a projection-heavy query benched
as its scan+filter skeleton — text_repetition's O(distinct x n)
top-gram expression was invisible to a count() while costing every
real consumer seconds. ``df.write.format("noop")`` materializes every
row of every column through the full plan (the standard Spark
benchmarking sink), so the number is what a consumer actually pays.
Row counts on stderr come from ``observe()`` so the plan still runs
exactly once per rep.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

from pyspark.sql import Observation
from pyspark.sql import functions as F

from etl_job_spark.plans.registry import QUERIES
from etl_job_spark.session import get_spark

# Queries whose medians the driver has ALREADY seen on the printed
# stdout line (everything BENCH_r14 parsed, plus the two entries the
# r14 truncation guard evicted and the driver flagged as phantom
# "dropped_from_bench"). The truncation guard below must never evict
# one of these: a median that vanishes from the printed line reads as
# a dropped query round-over-round. New registry additions start
# UNPROTECTED (evicted first, newest-first) until a driver round
# prints them; extend this list when that happens.
PRINTED_CONTRACT = frozenset([
    "kicc_sales_by_store", "kicc_sales_by_prod", "kicc_enrich_store",
    "kicc_backfill_medium", "kicc_mart_sql_dml", "kicc_filter_rows",
    "kicc_semi_join", "kicc_mart_sql_read", "kicc_calendar_plan",
    "kicc_scalar_dates", "kicc_mart_versioned", "kicc_mart_gdpr",
    "events_mart_evolved_read", "text_lang_id", "corpus_filter_pipeline",
    "text_tfidf_top_term", "text_vocab", "text_contamination",
    "corpus_pack_shards", "multimodal_frame_sample", "multimodal_decode_meta",
    "dedup_exact", "dedup_ngram_jaccard", "dedup_minhash_lsh",
    "dedup_simhash_pairs", "dedup_clusters", "embed_cosine_topk",
    "embed_lsh_topk", "kicc_mart_cdf_timestamped", "corpus_incremental_dedup",
    "text_stats", "corpus_dsir_resample", "text_winnowing",
    "pricing_summary", "shipping_priority", "window_topk_products",
    "kicc_mart_add_column", "cube_flags", "set_ops",
    "events_json_extract", "events_tumbling_hourly", "kicc_mart_cdf_updates",
    "orders_month_range_join", "kicc_staging_converted", "full_outer_year_compare",
    "events_pivot_by_type", "events_exact_percentiles", "asof_view_attribution",
    "events_sessionize", "window_rank_family", "sketch_cardinalities",
    "events_zscore_anomalies", "string_functions", "kicc_mart_select_read",
    "kicc_mart_cdf_batch", "embed_cosine_neardup", "window_day_over_day",
    "kicc_merge_upsert", "kicc_mart_window_read", "kicc_mart_enrich_update",
    "kicc_anti_join", "embed_lsh_buckets", "window_trailing_7d",
    "text_fingerprint", "window_first_last", "top_orders",
    "distinct_agg", "rollup_flags", "events_sliding_hourly",
    "local_supplier_revenue", "dedup_simhash", "embed_ivf_topk",
    "text_quality_score",
])


def format_stdout_line(
    timings: dict[str, float], total: float, sf: float, budget: int = 1900
) -> str:
    """Encode the ONE stdout JSON line the driver parses.

    The driver tail-captures the last ~2000 chars of stdout; a longer
    line records parsed:null (BENCH_r03 lesson). When the registry's
    growth crowds the budget, degrade in stages (sums and the gate use
    BENCH_ANCHORS.json / BENCH_SPREAD.json, which keep full precision)
    rather than risk losing the whole artifact:

    1. 1-decimal medians, integral values as ints (2.0 -> 2);
    2. evict UNPROTECTED entries from the END of the registry order
       (newest additions first) — never a query a previous driver
       round already printed: a median that vanishes from the printed
       line reads as "dropped_from_bench" round-over-round (PERF_r14
       phantom-dropped embed_ivf_topk/text_quality_score exactly this
       way when the r14 registry grew 108->111);
    3. drop the informational n_queries/queries_omitted keys;
    4. only then, as a last resort, evict protected tail entries — an
       unparseable line loses every median, not just the tail — and
       put ``queries_omitted`` back, so the line still says so.
    """
    out = {
        "metric": "total_query_seconds",
        "value": round(total, 2),
        "unit": "sec",
        "queries": dict(timings),
        "sf": sf,
        "n_queries": len(timings),
    }
    line = json.dumps(out, separators=(",", ":"))
    if len(line) <= budget:
        return line

    def _enc(v: float):
        r = round(v, 1)
        return int(r) if r == int(r) else r

    kept = {k: _enc(v) for k, v in timings.items()}
    out["queries"] = kept
    line = json.dumps(out, separators=(",", ":"))
    print(
        f"# stdout line trimmed to 1-decimal medians ({len(line)} chars); "
        "full precision in BENCH_SPREAD.json",
        file=sys.stderr,
    )
    evictable = [n for n in kept if n not in PRINTED_CONTRACT]
    protected = [n for n in kept if n in PRINTED_CONTRACT]
    for stage in (evictable, None, protected):
        if len(line) <= budget:
            break
        if stage is None:
            out.pop("n_queries", None)
            out.pop("queries_omitted", None)
            line = json.dumps(out, separators=(",", ":"))
            continue
        names = list(stage)
        while len(line) > budget and names:
            kept.pop(names.pop())
            out["queries"] = kept
            # the omission marker survives every stage: stage 3 drops
            # it for room, a protected eviction puts it back
            out["queries_omitted"] = len(timings) - len(kept)
            line = json.dumps(out, separators=(",", ":"))
    print(
        f"# stdout queries map holds {len(kept)} of {len(timings)} "
        f"({len(line)} chars); full set in BENCH_SPREAD.json",
        file=sys.stderr,
    )
    return line


def run_to_noop(df) -> int:
    """Materialize every row/column through the noop sink; returns the
    row count via observe() so the plan executes exactly once."""
    obs = Observation()
    df.observe(obs, F.count(F.lit(1)).alias("n")).write.format("noop").mode(
        "overwrite"
    ).save()
    return int(obs.get["n"])


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    reps = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3")))
    sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", "") or 0)
    spark = get_spark("etl-job-spark-bench")
    spark.sparkContext.setLogLevel("ERROR")

    # warm up JVM + whole-stage codegen + parquet footer reads by
    # running the flagship query once, untimed
    t0 = time.perf_counter()
    first_name, first_fn = next(iter(QUERIES.items()))
    run_to_noop(first_fn(spark, sf_dir))
    warmup = round(time.perf_counter() - t0, 4)
    print(f"# warmup ({first_name}): {warmup:.3f}s", file=sys.stderr)

    timings: dict[str, float] = {}
    spread: dict[str, list[float]] = {}
    failures: dict[str, str] = {}
    # optional subset run (e.g. the 8 headliners at a second scale
    # factor for BENCH_SF2.json): comma-separated names; unknown names
    # fail loudly so a typo can't silently bench nothing
    only = os.environ.get("SPARK_GRAFT_BENCH_ONLY")
    queries = dict(QUERIES)
    if only:
        names = [n.strip() for n in only.split(",") if n.strip()]
        unknown = sorted(set(names) - set(queries))
        if unknown:
            raise SystemExit(f"SPARK_GRAFT_BENCH_ONLY names not registered: {unknown}")
        queries = {n: queries[n] for n in names}

    landing: dict[str, float] = {}
    for name, fn in queries.items():
        runs: list[float] = []
        try:
            for _ in range(reps):
                t0 = time.perf_counter()
                n = run_to_noop(fn(spark, sf_dir))
                runs.append(time.perf_counter() - t0)
            # LANDING separation (round 13, VERDICT r12 #8): queries
            # that lazily build a once-per-session fixture (scratch
            # tables, IVF indexes, the MinHash signature store) pay it
            # entirely in rep 0 — a 3-rep median then lands ON the
            # landing rep and reads as a regression
            # (kicc_staging_converted's [0.82, 3.04] spread was exactly
            # this). When rep 0 is an obvious landing outlier (> 2x the
            # median of the remaining reps), record it SEPARATELY
            # (BENCH_SPREAD.json "queries_landing" + stderr, the
            # embed_ivf_search precedent) and take the median/spread
            # over the steady-state reps — the number a warm consumer
            # actually pays.
            if len(runs) >= 3 and runs[0] > 2 * statistics.median(runs[1:]):
                landing[name] = round(runs[0], 4)
                runs = runs[1:]
            # 2 decimals on the stdout medians: 10 ms precision is
            # ample for 2x-gated anchors, and the registry's growth
            # (67 queries) needs every char of the driver's ~2000-char
            # stdout capture window; full 4-decimal spreads still land
            # in BENCH_SPREAD.json
            timings[name] = round(statistics.median(runs), 2)
            spread[name] = [round(min(runs), 4), round(max(runs), 4)]
            note = (
                f" landing={landing[name]:.2f}s" if name in landing else ""
            )
            print(
                f"# {name}: {timings[name]:.2f}s (min {spread[name][0]:.3f}, "
                f"max {spread[name][1]:.3f}){note} rows={n}",
                file=sys.stderr,
            )
        except Exception as exc:  # pragma: no cover - bench resilience
            failures[name] = f"{type(exc).__name__}: {exc}"[:200]
            print(f"# {name}: FAILED {failures[name]}", file=sys.stderr)

    total = round(sum(timings.values()), 4)
    detail = {
        "reps": reps,
        "warmup_seconds": warmup,
        # full medians live HERE unconditionally: once the registry
        # outgrows the stdout capture window the truncation guard
        # drops tail entries from the printed line, and anchors must
        # still be regenerable from an artifact
        "queries_median": dict(timings),
        "queries_spread": spread,
        # rep-0 fixture-landing costs, recorded apart from the medians
        # (see the landing-separation note in the rep loop)
        "queries_landing": landing,
        "failures": failures,
        "sf": sf,
        "total_median_seconds": total,
    }
    if only:
        # subset runs are diagnostics — never let them clobber the
        # full-registry BENCH_SPREAD.json artifact the judge reads
        print("# subset run (SPARK_GRAFT_BENCH_ONLY): BENCH_SPREAD.json not written", file=sys.stderr)
    else:
        spread_path = os.path.join(
            os.path.dirname(os.path.abspath(__file__)), "BENCH_SPREAD.json"
        )
        try:
            with open(spread_path, "w") as fh:
                json.dump(detail, fh, indent=1, sort_keys=True)
        except OSError as exc:  # pragma: no cover - bench resilience
            print(f"# could not write {spread_path}: {exc}", file=sys.stderr)
    print(f"# detail: {json.dumps(detail)}", file=sys.stderr)
    if failures:
        print(f"# {len(failures)} FAILED queries: {sorted(failures)}", file=sys.stderr)
    print(format_stdout_line(timings, total, sf))
    # reclaim this session's scratch tables (keyed by applicationId —
    # nothing else will ever reuse them once the session ends). The
    # same reclaim is registered atexit by scratch_dir for any caller
    # that isn't the bench; running it here too keeps the bench's
    # cleanup deterministic and pre-stop.
    from etl_job_spark.scratch import reclaim_scratch

    reclaim_scratch(spark.sparkContext.applicationId)
    spark.stop()


if __name__ == "__main__":
    main()
