"""The shared ANN scoring and ranking kernel (similarity.py).

Every search path scores through ``_with_cosine`` / ``_sq_l2`` /
``_adc`` and ranks through ``_rank_topk``; these tests pin what the
kernel promises whatever path calls it: a zero vector has no
neighbours instead of a division by zero, k-means refuses a corpus
smaller than its centroid count, and the ranker keeps Spark's partial
``WindowGroupLimit`` below the ranking exchange.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from etl_job_spark.operators import similarity


def _vecs(spark, rows):
    return spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")


def test_zero_vector_has_no_cosine_neighbours(spark):
    vecs = _vecs(spark, [(0, [0.0, 0.0]), (1, [1.0, 0.0]), (2, [0.5, 0.5])])
    top = similarity.cosine_topk(vecs, vecs, k=5).collect()
    assert {(r.q_id, r.n_id) for r in top} == {(1, 2), (2, 1)}
    assert all(r.rk == 1 for r in top)
    # one plane puts all three vectors in one bucket, so the zero
    # vector is paired with both others before the cosine check
    assert {r.bucket for r in similarity.hyperplane_buckets(vecs, 1).collect()} == {0}
    pairs = similarity.cosine_near_dups(vecs, 0.5, n_planes=1).collect()
    assert [(r.vec_a, r.vec_b) for r in pairs] == [(1, 2)]
    assert pairs[0].cosine == pytest.approx(0.5**0.5)


def test_kmeans_refuses_a_corpus_smaller_than_its_centroid_count(spark):
    vecs = _vecs(spark, [(i, [float(i), 1.0]) for i in range(3)])
    with pytest.raises(ValueError, match="16 centroids on a corpus of 3 vectors"):
        similarity.kmeans_centroids(vecs, n_centroids=16)
    with pytest.raises(ValueError, match="16 centroids on a corpus of 3 vectors"):
        similarity.pq_train(vecs, m=2, ksub=16)
    with pytest.raises(ValueError, match="16 centroids on a corpus of 3 vectors"):
        similarity.ivf_topk(vecs, vecs, n_centroids=16)


def _plan(df) -> list[str]:
    return df._jdf.queryExecution().executedPlan().toString().splitlines()


def test_rank_topk_keeps_a_partial_window_group_limit_below_the_exchange(spark):
    scored = spark.range(200).select(
        (F.col("id") % 4).alias("q_id"),
        F.col("id").alias("n_id"),
        (F.col("id") % 7).alias("d"),
    )
    plan = _plan(similarity._rank_topk(scored, ["d", "n_id"], 5))
    exchange = next(i for i, ln in enumerate(plan) if "Exchange hashpartitioning(q_id" in ln)
    partial = [i for i, ln in enumerate(plan) if "WindowGroupLimit" in ln and "Partial" in ln]
    assert partial and all(i > exchange for i in partial), "\n".join(plan)
    # past Spark's threshold (spark.sql.optimizer.windowGroupLimitThreshold,
    # 1000) no limit is inferred
    big = _plan(similarity._rank_topk(scored, ["d", "n_id"], 1001))
    assert not any("WindowGroupLimit" in ln for ln in big), "\n".join(big)
