"""Pin the bench stdout one-line-JSON contract (no Spark needed).

PERF_r14 flagged embed_ivf_topk / text_quality_score as
"dropped_from_bench" because bench.py's truncation guard evicted them
from the printed line when the registry grew 108->111.  The guard now
protects every query a driver round has already printed
(PRINTED_CONTRACT) and only evicts newer, never-printed registry
additions, newest-first.
"""

import json

import bench
from etl_job_spark.plans.registry import QUERIES

BUDGET = 1900


def _registry_timings():
    # Representative medians: real spreads where recorded, 1.5 s filler
    # for anything newer (pessimistic for line length: 3 chars each).
    try:
        with open("BENCH_SPREAD.json") as f:
            med = json.load(f)["queries_median"]
    except (FileNotFoundError, KeyError):
        med = {}
    return {name: float(med.get(name, 1.5)) for name in QUERIES}


def test_contract_names_all_registered():
    missing = bench.PRINTED_CONTRACT - set(QUERIES)
    assert not missing, f"contract names not in registry: {sorted(missing)}"


def test_protected_queries_never_evicted_at_current_registry():
    timings = _registry_timings()
    line = bench.format_stdout_line(timings, sum(timings.values()), 0.1)
    assert len(line) <= BUDGET
    parsed = json.loads(line)
    missing = bench.PRINTED_CONTRACT - set(parsed["queries"])
    assert not missing, f"protected medians evicted: {sorted(missing)}"
    # The two r14 phantom-drops must be back on the line.
    assert "embed_ivf_topk" in parsed["queries"]
    assert "text_quality_score" in parsed["queries"]


def test_eviction_takes_unprotected_newest_first():
    timings = _registry_timings()
    # Inflate with enough fake new registrations to force deep eviction.
    for i in range(60):
        timings[f"zz_fake_new_query_{i:02d}"] = 12.345
    line = bench.format_stdout_line(timings, sum(timings.values()), 0.1)
    assert len(line) <= BUDGET
    parsed = json.loads(line)
    kept = set(parsed["queries"])
    assert bench.PRINTED_CONTRACT <= kept
    # fakes are newest -> all evicted before any protected entry
    assert not any(k.startswith("zz_fake_") for k in kept)


def test_small_registry_keeps_full_precision():
    timings = {"a": 1.234567, "b": 2.0}
    line = bench.format_stdout_line(timings, 3.234567, 0.01)
    parsed = json.loads(line)
    assert parsed["queries"]["a"] == 1.234567
    assert parsed["metric"] == "total_query_seconds"
    assert parsed["unit"] == "sec"
    assert parsed["sf"] == 0.01


def test_protected_eviction_keeps_the_omission_marker():
    # a budget too small for the protected set forces the last-resort
    # stage, which runs after n_queries/queries_omitted were dropped;
    # the line must still say that medians are missing
    timings = {name: 1.5 for name in sorted(bench.PRINTED_CONTRACT)}
    line = bench.format_stdout_line(timings, sum(timings.values()), 0.1, budget=400)
    parsed = json.loads(line)
    assert len(line) <= 400
    assert "n_queries" not in parsed
    assert parsed["queries_omitted"] == len(timings) - len(parsed["queries"]) > 0
