"""The benchmark workloads. Each drives one Spark session through the
package's public functions in a closed loop: one client, the next op
only after the previous one returned.

A workload has a ``land`` step (its fixture landing, part of set-up)
and ``op(i)``, which returns an :class:`OpResult` whose check runs
after the timed window.
"""

from __future__ import annotations

import datetime as dt
import os
import time
from collections.abc import Callable
from dataclasses import dataclass

import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from etl_job_spark import TransactionalCatalog
from etl_job_spark.operators import dedup, similarity
from etl_job_spark.plans import kicc, queries
from etl_job_spark import sql as graft_sql

from perfbench import fixtures, oracle, stats

DAY = dt.timedelta(days=1)
LANDED_DAYS = 365


@dataclass
class OpResult:
    units: float  # work items: store-day rows merged, or docs deduplicated
    check: Callable[[], bool] | None = None
    aux: Callable[[], dict] | None = None  # trace-only counts, run untimed


@dataclass
class Ctx:
    spark: object
    work: str
    seed: int
    nproc: int
    tracer: object

    def span(self, name: str):
        return self.tracer.span(name)


class Workload:
    name = ""
    warmup_ops = 2
    max_ops = 60  # guards the fixture's day range, far above what a window runs

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.spark = ctx.spark

    def land(self) -> None:
        """The fixture landing, part of set-up."""

    def op(self, i: int) -> OpResult:
        raise NotImplementedError

    def final_check(self) -> bool:
        return True

    def similarity_phase(self) -> tuple[dict[str, float], int, int]:
        """Traced runs only, after the timed window: per-layer figures of
        a phase outside the ops, and its (attempted, failed) requests."""
        return {}, 0, 0

    def close(self) -> None:
        pass


def _mart_staging(spark, data: str, lo: dt.date, hi: dt.date):
    """Staging rows of the (lo, hi) window in the enriched mart's shape
    (the registry's ``kicc_mart_sql_dml`` mart), enrichment columns
    empty."""
    d = kicc.kicc_sales_data_dated(spark, data).filter(
        F.col("sale_d").between(*kicc.date_window(fixtures.day_str(lo), fixtures.day_str(hi)))
    )
    return d.select(
        F.lpad(F.col("sp_key").cast("string"), 6, "0").alias("chain_no"),
        F.date_format("sale_d", "yyyy-MM-dd").alias("sale_dy"),
        F.col("total_amt").alias("chong_maechool"),
        F.lit(None).cast("string").alias("responsible"),
        F.lit(None).cast("string").alias("xy"),
    )


_IN_LIST = ", ".join(f"'{c}'" for c in queries.DIRECT_STORES)
ENRICH_STATEMENTS = [
    "MERGE INTO mart t USING temp_dim s ON t.chain_no = s.chain_no "
    "WHEN MATCHED THEN UPDATE SET t.responsible = s.responsible",
    "MERGE INTO mart t USING easy_dim s ON t.chain_no = s.chain_no "
    "WHEN MATCHED THEN UPDATE SET t.xy = s.xy",
    f"UPDATE mart SET responsible = '직영' WHERE responsible IS NULL AND chain_no IN ({_IN_LIST})",
]


REPORT_STORES = 5
REPORT_DAYS = 7
TREND_DAYS = 30


class MartDaily(Workload):
    """The reference's daily job and its report. Each op merges the
    (yesterday, today) staging window into the mart, runs the J1/J2/
    P6-P7 enrichment as one three-statement transaction, then reads the
    result back: a file-pruned window read (last week, five stores) and
    a SQL aggregate over the last month."""

    name = "mart_daily"
    warmup_ops = 6

    def __init__(self, ctx: Ctx):
        super().__init__(ctx)
        self.data = os.path.join(ctx.work, "sales")
        os.makedirs(self.data)
        self.first = fixtures.start_day(ctx.seed)
        self.n_days = LANDED_DAYS + self.warmup_ops + self.max_ops
        fixtures.write_sales(self.data, ctx.seed, self.first, self.n_days)
        self.rows_per_day = oracle.store_days_per_day(
            self.data, self.first, self.first + (self.n_days - 1) * DAY
        )
        self.stores = [f"{k:06d}" for k in range(fixtures.N_SUPPLIERS)]
        self.cat = None
        self.last_day = self.first + (LANDED_DAYS - 1) * DAY
        self._oracle = None

    def land(self) -> None:
        spark = self.spark
        cat = TransactionalCatalog(os.path.join(self.ctx.work, "mart"))
        year = _mart_staging(spark, self.data, self.first, self.last_day)
        temp = kicc.tb_store_temp(spark, self.data).select("chain_no", F.col("resp").alias("responsible"))
        easy = kicc.tb_store_easypos(spark, self.data).select("chain_no", F.col("xy_degree").alias("xy"))

        def load(txn) -> None:
            txn.overwrite("mart", year.repartitionByRange(self.ctx.nproc, F.col("chain_no")))
            txn.overwrite("temp_dim", temp)
            txn.overwrite("easy_dim", easy)

        cat.commit(load)
        self.cat = cat

    def op(self, i: int) -> OpResult:
        today = self.first + (LANDED_DAYS + i) * DAY
        rng = np.random.default_rng([self.ctx.seed, 5, i])
        stores = sorted(rng.choice(self.stores, size=REPORT_STORES, replace=False).tolist())
        week = ((today - (REPORT_DAYS - 1) * DAY).isoformat(), today.isoformat())
        month = ((today - (TREND_DAYS - 1) * DAY).isoformat(), today.isoformat())
        spark, cat = self.spark, self.cat
        with self.ctx.span("kicc.staging_plan"):
            src = _mart_staging(spark, self.data, today - DAY, today)
        cat.commit(lambda txn: txn.merge("mart", spark, src, keys=["chain_no", "sale_dy"]))
        graft_sql.execute_dml_txn(spark, cat, ENRICH_STATEMENTS)
        self.last_day = today
        window = cat.table("mart").snapshot_where(
            spark, [("sale_dy", "between", week), ("chain_no", "in", stores)]
        ).select(*oracle.MART_COLS)
        statement = (
            "SELECT sale_dy, count(*) AS stores, max(chong_maechool) AS top_amt, "
            "count(responsible) AS enriched FROM mart "
            f"WHERE sale_dy BETWEEN '{month[0]}' AND '{month[1]}' GROUP BY sale_dy"
        )
        trend = graft_sql.execute_sql(spark, cat, statement)
        with self.ctx.span("sink.exec"):
            window_rows = [tuple(r) for r in window.collect()]
            trend_rows = [tuple(r) for r in trend.collect()]

        def check() -> bool:
            # rows up to an op's day never change after that op, so the
            # replay of the final mart answers every earlier read
            want = self.replay()
            return (sorted(window_rows) == sorted(want.window(week, stores))
                    and sorted(trend_rows) == sorted(want.select(statement)))

        def aux() -> dict:
            n = len(window.inputFiles())
            total = len(cat.table("mart").snapshot(spark).inputFiles())
            return {"table.files_read": n, "table.files_skipped_share": 1 - n / total}

        merged = self.rows_per_day.get(today - DAY, 0) + self.rows_per_day.get(today, 0)
        return OpResult(merged, check, aux)

    def replay(self) -> oracle.MartOracle:
        """DuckDB replay of the mart after the last merged day, built on
        first use (after the timed window)."""
        if self._oracle is None:
            self._oracle = oracle.MartOracle(self.data, self.first, self.last_day)
        return self._oracle

    def final_check(self) -> bool:
        """The final mart's row count and checksum against the replay."""
        got = self.cat.table("mart").snapshot(self.spark).select(*oracle.MART_COLS).collect()
        return oracle.checksum(tuple(r) for r in got) == oracle.checksum(self.replay().rows())

    def close(self) -> None:
        if self._oracle is not None:
            self._oracle.close()


DEDUP_DOCS = 1000
WARMUP_DOCS = 100
DUP_SHARE = 0.3
JACCARD = 0.5
PQ_CORPUS = 2000
PQ_QUERIES = 20
PQ_M = 2
PQ_RERANK = 50
PQ_BATCHES = 4  # the first runs untraced: its cold plan is not the layer's cost
RECALL_FLOOR = 0.2  # lowest batch recall@5 measured when the floor was set: 0.30


class CorpusDedup(Workload):
    """The LLM-data operators on seeded corpus batches: each op runs the
    MinHash/LSH/verify/CC/resolve dedup chain and SimHash pairs over one
    batch. Traced runs also build a PQ index over an embedding corpus
    after the timed window and serve top-k query batches from it."""

    name = "corpus_dedup"
    warmup_ops = 4

    def __init__(self, ctx: Ctx):
        super().__init__(ctx)
        self.recalls: list[float] = []

    def op(self, i: int) -> OpResult:
        # the batch is written before the op starts; warm-up batches are
        # small, as an op's cost is mostly per plan shape, not per doc
        n = WARMUP_DOCS if i < self.warmup_ops else DEDUP_DOCS
        batch = os.path.join(self.ctx.work, f"batch_{i}.parquet")
        pq.write_table(fixtures.doc_batch(self.ctx.seed, i, n, DUP_SHARE), batch)
        spark = self.spark
        corpus = spark.read.parquet(batch)
        sh = dedup.shingles(corpus).persist()
        try:
            sigs = dedup.minhash_signatures(sh, num_hashes=12)
            cands = dedup.lsh_candidate_pairs(sigs, band_size=3)
            pairs = dedup.verify_pairs(cands, sh, JACCARD)
            clusters = dedup.connected_components(corpus.select("doc_id"), pairs)
            resolved = dedup.resolve_duplicates(corpus, clusters).select("doc_id", "n_duplicates")
            with self.ctx.span("sink.exec"):
                survivors = {(int(r.doc_id), int(r.n_duplicates)) for r in resolved.collect()}
        finally:
            sh.unpersist()
        with self.ctx.span("dedup.simhash_pairs"):
            sp = dedup.simhash_pairs(dedup.simhash_signatures(corpus), max_hamming=3)
            sp.write.format("noop").mode("overwrite").save()

        def check() -> bool:
            return survivors == oracle.dedup_survivors(batch, JACCARD)

        def aux() -> dict:
            n_cand, n_ver = cands.count(), pairs.count()
            return {"dedup.candidate_pairs": n_cand, "dedup.verified_pairs": n_ver,
                    "dedup.verify_yield": n_ver / n_cand if n_cand else 0.0}

        return OpResult(pq.ParquetFile(batch).metadata.num_rows, check, aux)

    def similarity_phase(self) -> tuple[dict[str, float], int, int]:
        spark, tracer = self.spark, self.ctx.tracer
        vec_ids, vecs = fixtures.embeddings(self.ctx.seed, PQ_CORPUS)
        emb_path = os.path.join(self.ctx.work, "embeddings.parquet")
        pq.write_table(fixtures.vectors_table(vec_ids, vecs), emb_path)
        emb = spark.read.parquet(emb_path)
        index = os.path.join(self.ctx.work, "pq_index")
        t0 = time.perf_counter()
        similarity.pq_build_index(emb, index, m=PQ_M, ksub=16, n_iters=1)
        build_s = time.perf_counter() - t0
        plan_ms, failed = [], 0
        for b in range(PQ_BATCHES):
            qids, qvecs = fixtures.query_vectors(self.ctx.seed, b, vecs, PQ_QUERIES)
            path = os.path.join(self.ctx.work, f"queries_{b}.parquet")
            pq.write_table(fixtures.vectors_table(qids, qvecs), path)
            tracer.reset()
            tracer.enabled = b > 0
            topk = similarity.pq_search(spark, index, spark.read.parquet(path), k=5,
                                        rerank=PQ_RERANK, rerank_vectors=emb)
            tracer.enabled = False
            if b > 0:
                plan_ms.append(stats.self_times(tracer.spans)["similarity.search_plan"] * 1000)
            got: dict[int, set[int]] = {}
            for r in topk.select("q_id", "n_id").collect():
                got.setdefault(int(r.q_id), set()).add(int(r.n_id))
            truth = oracle.exact_topk(vec_ids, vecs, qvecs, 5)
            recall = float(np.mean([len(got.get(int(q), set()) & t) / 5 for q, t in zip(qids, truth)]))
            self.recalls.append(recall)
            failed += recall < RECALL_FLOOR
        figures = {"similarity.index_build_s": build_s, "similarity.search_plan_ms": stats.median(plan_ms)}
        return figures, PQ_BATCHES, failed


WORKLOADS = {w.name: w for w in (MartDaily, CorpusDedup)}
