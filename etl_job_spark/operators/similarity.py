"""Embedding similarity search: exact cosine and squared-L2 top-k,
random-hyperplane LSH, trained IVF, product quantization (PQ) and
IVF-PQ, each as a one-call top-k and (IVF, PQ, IVF-PQ) as a persisted
index with build / append / search verbs.

Determinism trick shared with the DuckDB oracle: embeddings are
quantized to integer micro-units (round(x·10⁶)), so dot products and
norms are exact integer sums — order-independent and bit-identical on
any engine — and the final cosine is a quotient of exactly-derived
doubles (IEEE sqrt/div are correctly rounded, hence identical).

One scorer, one ranker. Every path scores with the SQL-string helpers
``_dot``, ``_sq_l2`` and ``_adc`` (exact bigint folds; cosine through
``_with_cosine``, which drops pairs with an all-zero side: a zero
vector has no direction, so it has no neighbours and is nobody's) and
ranks with ``_rank_topk``: within each query, by score, then by
neighbour id, so ties never depend on partitioning.

Scale shape:
- brute force: queries broadcast against the corpus — one pass, no
  shuffle of the big side; right for |Q| small.
- hyperplane LSH: P integer-weight planes → P sign bits → bucket id;
  candidates only pair within buckets (sub-quadratic), then exact
  cosine re-ranks. Plane weights are a fixed integer formula, not
  RNG, so every engine/run agrees.
- IVF / PQ / IVF-PQ: the quantizer tables ride the plan (or a one-row
  broadcast), so assignment and encoding are projections.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, Window
from pyspark.sql import functions as F

EMBED_SCALE = 1_000_000
N_PLANES = 8


def quantized(df: DataFrame, col: str = "embedding") -> DataFrame:
    """Add e_int (array<bigint>, micro-quantized) and n_int (exact
    squared norm)."""
    return df.withColumn(
        "e_int",
        F.expr(f"transform({col}, x -> cast(round(cast(x as double) * {EMBED_SCALE}) as bigint))"),
    ).withColumn(
        "n_int",
        F.expr("aggregate(e_int, cast(0 as bigint), (acc, x) -> acc + x * x)"),
    )


def _side(df: DataFrame, id_col: str, id_name: str, p: str) -> DataFrame:
    """``df`` quantized as (``id_name``, ``{p}_int``, ``{p}n_int``)."""
    return quantized(df).select(
        F.col(id_col).alias(id_name),
        F.col("e_int").alias(f"{p}_int"),
        F.col("n_int").alias(f"{p}n_int"),
    )


def _dot(a: str, b: str) -> str:
    """SQL: the exact integer dot product of bigint arrays ``a``, ``b``."""
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> x * y),"
        " cast(0 as bigint), (acc, x) -> acc + x)"
    )


def _sq_l2(a: str, b: str) -> str:
    """SQL: the exact integer squared L2 distance between ``a`` and ``b``."""
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> (x - y) * (x - y)),"
        " cast(0 as bigint), (acc, x) -> acc + x)"
    )


def _adc(dtab: str, codes: str) -> str:
    """SQL: the asymmetric (ADC) distance — one ``dtab[j][codes[j]]``
    lookup per subspace, summed; the raw vector is never read."""
    return (
        f"aggregate(zip_with({dtab}, {codes}, (t, c) -> element_at(t, c + 1)),"
        " cast(0 as bigint), (acc, x) -> acc + x)"
    )


def _with_cosine(pairs: DataFrame, a: str, b: str) -> DataFrame:
    """``pairs`` plus the exact ``cosine`` of vectors ``{a}_int`` and
    ``{b}_int`` (squared norms ``{a}n_int``, ``{b}n_int``). Pairs with
    a zero-norm side are dropped: a zero vector has no direction.

    The test is ONE predicate over both sides (norms are sums of
    squares, so never negative): split into per-side conjuncts it
    would be pushed below the join and substitute the whole
    quantize-and-fold norm expression into each side's scan filter,
    computing it twice per vector."""
    return pairs.filter(F.least(f"{a}n_int", f"{b}n_int") > 0).withColumn(
        "cosine",
        F.expr(
            f"{_dot(f'{a}_int', f'{b}_int')} / (sqrt(cast({a}n_int as double))"
            f" * sqrt(cast({b}n_int as double)))"
        ),
    )


def _rank_topk(scored: DataFrame, order: list, k: int) -> DataFrame:
    """Top-k per query: ``rk`` numbers each ``q_id``'s rows by
    ``order`` — the score, then the neighbour's id, so ranks are a
    total order whatever the partitioning — and rows with ``rk <= k``
    stay. For k ≤ 1000 Spark plans a partial ``WindowGroupLimit``
    below the ranking exchange, so no partition ships more than k
    rows per query."""
    w = Window.partitionBy("q_id").orderBy(*order)
    return scored.withColumn("rk", F.row_number().over(w).cast("bigint")).filter(
        F.col("rk") <= k
    )


def _cosine_ranked(pairs: DataFrame, k: int) -> DataFrame:
    """(q_id, n_id, cosine, rk): ``pairs``' k most similar per query by
    the exact cosine of ``q_int`` and ``v_int``."""
    scored = _with_cosine(pairs, "q", "v")
    return _rank_topk(scored, [F.col("cosine").desc(), "n_id"], k).select(
        "q_id", "n_id", "cosine", "rk"
    )


def _l2_ranked(pairs: DataFrame, k: int) -> DataFrame:
    """(q_id, n_id, d2, rk): ``pairs``' k nearest per query by exact
    squared L2 between ``q_int`` and ``v_int``."""
    scored = pairs.withColumn("d2", F.expr(_sq_l2("q_int", "v_int")))
    return _rank_topk(scored, ["d2", "n_id"], k).select("q_id", "n_id", "d2", "rk")


def _adc_ranked(pairs: DataFrame, k: int) -> DataFrame:
    """(q_id, n_id, adist, rk): ``pairs``' k nearest per query by the
    ADC distance of ``codes`` under the query's ``dtab``."""
    scored = pairs.withColumn("adist", F.expr(_adc("dtab", "codes")))
    return _rank_topk(scored, ["adist", "n_id"], k).select("q_id", "n_id", "adist", "rk")


def cosine_topk(
    vectors: DataFrame, queries: DataFrame, k: int = 5, id_col: str = "vec_id"
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    ``queries`` is small and broadcast; the corpus streams past it in
    one stage. Ranking is totally ordered (cosine desc, neighbor id)."""
    q = _side(queries, id_col, "q_id", "q")
    v = _side(vectors, id_col, "n_id", "v")
    pairs = v.crossJoin(F.broadcast(q)).filter(F.col("n_id") != F.col("q_id"))
    return _cosine_ranked(pairs, k)


def plane_weight_expr(p: int) -> str:
    """Deterministic integer weight for plane p, dimension i (1-based):
    ((p*67 + i*31) % 97) - 48 — same formula inlined in the oracle."""
    return f"((({p} * 67) + (i * 31)) % 97) - 48"


def hyperplane_buckets(vectors: DataFrame, n_planes: int = N_PLANES, id_col: str = "vec_id") -> DataFrame:
    """Random-hyperplane LSH: bucket = concatenated sign bits of the
    integer dot products with n_planes fixed planes."""
    v = quantized(vectors)
    bucket = " + ".join(
        f"shiftleft(cast(CASE WHEN aggregate(sequence(1, size(e_int)), cast(0 as bigint),"
        f" (acc, i) -> acc + element_at(e_int, i) * ({plane_weight_expr(p)})) > 0"
        f" THEN 1 ELSE 0 END as bigint), {p})"
        for p in range(n_planes)
    )
    return v.select(F.col(id_col).alias("vec_id"), F.expr(bucket).alias("bucket"))


def cosine_near_dups(
    vectors: DataFrame, threshold: float, n_planes: int = N_PLANES, id_col: str = "vec_id"
) -> DataFrame:
    """Embedding near-duplicate pairs: LSH bucket-mates (a < b) whose
    exact cosine ≥ threshold — the embedding leg of the dedup ladder
    (operators/dedup.py covers the text legs). Pair generation is
    bucket-local (sub-quadratic); the cosine re-check is exact integer
    arithmetic, so misses are deterministic ANN recall, not noise."""
    vb = hyperplane_buckets(vectors, n_planes, id_col)
    v = quantized(vectors).select(
        F.col(id_col).alias("vid"), F.col("e_int"), F.col("n_int")
    ).join(vb.withColumnRenamed("vec_id", "vid"), "vid")
    a = v.select(
        F.col("vid").alias("vec_a"), F.col("e_int").alias("a_int"),
        F.col("n_int").alias("an_int"), "bucket",
    )
    b = v.select(
        F.col("vid").alias("vec_b"), F.col("e_int").alias("b_int"),
        F.col("n_int").alias("bn_int"), "bucket",
    )
    pairs = a.join(b, "bucket").filter(F.col("vec_a") < F.col("vec_b"))
    return (
        _with_cosine(pairs, "a", "b")
        .filter(F.col("cosine") >= threshold)
        .select("vec_a", "vec_b", "cosine")
    )


def semantic_dedup(
    vectors: DataFrame, threshold: float, n_planes: int = N_PLANES, id_col: str = "vec_id"
) -> DataFrame:
    """SemDeDup-style resolution (Abbas et al. 2023, "SemDeDup: Data-
    efficient learning at web-scale through semantic deduplication"):
    detection via LSH-bucketed exact-cosine pairs, resolution via the
    deterministic greedy min-id policy — a vector is REMOVED iff some
    smaller-id bucket-mate sits at cosine ≥ threshold.

    Returns one row per input vector: (id, dedup_to, kept) where
    ``dedup_to`` is the smallest such neighbor (the vector itself when
    kept) and ``kept`` ∈ {0, 1}. Chains (a~b, b~c, ¬a~c) resolve
    greedily — c points at b even though b was itself removed; feed
    the pairs into ``dedup.connected_components`` +
    ``dedup.resolve_duplicates`` when transitive-closure resolution is
    wanted instead.

    Scale shape: pair generation is bucket-local (sub-quadratic, the
    same fan-out bound as ``cosine_near_dups``); resolution adds ONE
    groupBy on the removed side (min combines map-side) and one
    broadcast-eligible left join back to the id set — vectors
    themselves never move in the resolution stage."""
    pairs = cosine_near_dups(vectors, threshold, n_planes, id_col)
    removed = pairs.groupBy(F.col("vec_b").alias(id_col)).agg(
        F.min("vec_a").alias("_min_neighbor")
    )
    return (
        vectors.select(id_col)
        .join(removed, id_col, "left")
        .select(
            id_col,
            F.coalesce("_min_neighbor", F.col(id_col)).cast("bigint").alias("dedup_to"),
            F.when(F.col("_min_neighbor").isNull(), 1)
            .otherwise(0)
            .cast("bigint")
            .alias("kept"),
        )
    )


def bucket_centroids(vectors: DataFrame, n_planes: int = N_PLANES, id_col: str = "vec_id") -> DataFrame:
    """Element-wise vector sum + count per LSH bucket — the coarse-
    centroid primitive an IVF index trains from (centroid =
    sum/count). Cross-row vector aggregation = posexplode to
    (bucket, dim) then one groupBy: the shuffle moves (bucket × dim)
    partial sums, not vectors, thanks to map-side combine. Emits the
    exact integer L1 norm of the sum-vector as the engine-portable
    checksum."""
    # hyperplane_buckets emits the id as "vec_id" whatever id_col was
    q = quantized(vectors).withColumnRenamed(id_col, "vec_id")
    v = q.join(hyperplane_buckets(vectors, n_planes, id_col), "vec_id")
    dims = v.select("bucket", F.posexplode("e_int").alias("dim", "x"))
    per_dim = dims.groupBy("bucket", "dim").agg(F.sum("x").alias("sx"))
    return (
        per_dim.groupBy("bucket")
        .agg(
            F.sum(F.abs("sx")).alias("centroid_l1"),
            F.count(F.lit(1)).alias("n_dims"),
        )
        .join(
            v.groupBy("bucket").agg(F.count(F.lit(1)).alias("n_vectors")),
            "bucket",
        )
        .select("bucket", "n_vectors", "n_dims", "centroid_l1")
    )


def lsh_topk(
    vectors: DataFrame, queries: DataFrame, k: int = 5, n_planes: int = N_PLANES, id_col: str = "vec_id"
) -> DataFrame:
    """ANN: restrict the cosine search to bucket-mates, then rank.
    Recall < 1 by construction; the bench compares it to brute force."""
    vb = hyperplane_buckets(vectors, n_planes, id_col)
    qb = hyperplane_buckets(queries, n_planes, id_col).withColumnRenamed("vec_id", "q_id")
    q = _side(queries, id_col, "q_id", "q").join(qb, "q_id")
    v = _side(vectors, id_col, "n_id", "v").join(
        vb.withColumnRenamed("vec_id", "n_id"), "n_id"
    )
    pairs = v.join(F.broadcast(q), "bucket").filter(F.col("n_id") != F.col("q_id"))
    return _cosine_ranked(pairs, k)


# ---------------------------------------------------------------------
# Trained IVF: deterministic k-means coarse quantizer + probed search
# ---------------------------------------------------------------------


# past this many ints (k×dim centroids, m×ksub×sub codebook entries),
# a plan-literal table stops being a trick and becomes the bottleneck:
# k=4096 lists of dim=1024 is ~4M Literal nodes — a ~100 MB expression
# tree that blows plan compilation before any data moves (a production
# codebook at m=64, ksub=256, dim=1024 is 262k ints). Bigger tables
# ride a ONE-ROW broadcast DataFrame instead (same column, O(1) plan
# size), with the argmin as a single transform/array_min expression
# rather than k generated expressions.
_CENT_LITERAL_MAX_INTS = 100_000


def _table_shape(table: list) -> tuple[int, int]:
    """(nesting depth, total ints) of a rectangular nested int list."""
    depth, n = 0, 1
    while isinstance(table, list):
        depth, n, table = depth + 1, n * len(table), table[0] if table else None
    return depth, n


def _is_literal_path(table: list) -> bool:
    """Whether ``_with_table`` attaches ``table`` as a plan literal."""
    return _table_shape(table)[1] <= _CENT_LITERAL_MAX_INTS


def _int_array(table):
    """A nested int list as a nested array literal column."""
    if isinstance(table, list):
        return F.array(*map(_int_array, table))
    return F.lit(int(table))


def _with_table(
    df: DataFrame, name: str, table: list, force_frame: bool = False
) -> DataFrame:
    """Attach a nested int table (centroids, codebooks) as column
    ``name``: a plan literal up to ``_CENT_LITERAL_MAX_INTS`` ints
    (cheapest per ROW — a pure codegen constant — right for
    compile-once corpus passes), a broadcast one-row crossJoin above
    it (no row multiplication: the broadcast side is a single row).
    ``force_frame=True`` takes the broadcast form whatever the size:
    the k-means loop, whose centroids change per round, so a literal
    plan's compile cost would recur every iteration (guide §7.3), and
    |Q|-small query-side attachments, where the per-call compile
    dominates (see ``_probe_queries``)."""
    if not force_frame and _is_literal_path(table):
        return df.withColumn(name, _int_array(table))
    depth = _table_shape(table)[0]
    row = df.sparkSession.createDataFrame(
        [(table,)], f"{name} {'array<' * depth}bigint{'>' * depth}"
    )
    return df.crossJoin(F.broadcast(row))


def _argmin_expr(table: str, x: str) -> str:
    """SQL: the index of ``table``'s entry nearest ``x`` (exact squared
    L2) as ONE expression — O(1) plan size, O(k·dim) row cost. Struct
    ordering on (d, cid) breaks ties to the lower index, exactly the
    literal path's least(struct(d, cid)) semantics."""
    return (
        f"array_min(transform({table}, (c, i) -> struct({_sq_l2(x, 'c')} as d,"
        " cast(i as int) as cid))).cid"
    )


def _dists_expr(table: str, x: str) -> str:
    """SQL: the exact squared L2 from ``x`` to each entry of ``table``."""
    return f"transform({table}, c -> {_sq_l2(x, 'c')})"


def _residual_expr(x: str) -> str:
    """SQL: ``x`` minus the centroid of its list ``cid``."""
    return f"zip_with({x}, element_at(__cents, cid + 1), (x, y) -> x - y)"


_NEAREST_CID_EXPR = _argmin_expr("__cents", "e_int")
_CENT_DISTS_EXPR = _dists_expr("__cents", "e_int")


def _nearest_centroid(cents: list[list[int]]):
    """Column: argmin over squared-L2 to each centroid (exact integer
    arithmetic; ties break to the lower centroid id). No join, no
    shuffle — each row computes k distances in one codegen stage."""
    return F.least(
        *[
            F.struct(
                F.expr(_sq_l2("e_int", f"element_at(__cents, {c + 1})")).alias("d"),
                F.lit(c).cast("int").alias("cid"),
            )
            for c in range(len(cents))
        ]
    )["cid"]


def kmeans_centroids(
    vectors: DataFrame,
    n_centroids: int = 16,
    n_iters: int = 5,
    id_col: str = "vec_id",
) -> list[list[int]]:
    """Lloyd's k-means over micro-quantized embeddings, fully
    deterministic: seeds are the ``n_centroids`` vectors with the
    smallest ``xxhash64(id)`` (pseudo-random spread, no RNG state), a
    fixed ``n_iters`` rounds, centroids floored to integer micro-units
    each round so every distance ever computed is an exact integer.

    Scale shape per round: assignment is a projection (centroids
    travel into the plan as literals — no join, no shuffle of the
    corpus); the update is posexplode → groupBy(cid, dim) with
    map-side combine, so the shuffle carries at most
    partitions × k × dim partial sums. The only driver-side data is
    the k×dim centroid table itself — the quantizer, which a real IVF
    index persists anyway.
    """
    v = quantized(vectors).select(F.col(id_col).alias("vid"), "e_int")
    return _kmeans_core(v, n_centroids, n_iters)


def _kmeans_core(v: DataFrame, n_centroids: int, n_iters: int) -> list[list[int]]:
    """The k-means loop over ALREADY-INTEGER vectors (vid, e_int) —
    shared by the float-corpus entry point above and the PQ paths that
    train on integer slices/residuals directly."""
    v = v.persist()
    try:
        seeds = (
            v.withColumn("h", F.xxhash64(F.col("vid")))
            .orderBy("h", "vid")
            .limit(n_centroids)
            .select("e_int")
            .collect()
        )
        if len(seeds) < n_centroids:
            raise ValueError(
                f"cannot train {n_centroids} centroids on a corpus of "
                f"{len(seeds)} vectors: k-means needs at least one vector "
                "per centroid"
            )
        cents = [[int(x) for x in r.e_int] for r in seeds]
        for _ in range(n_iters):
            # training assignment ALWAYS rides the broadcast-frame /
            # transform-argmin path (optimization r14, guide §7.3 "very
            # large plans"): the centroids CHANGE every round, so the
            # plan-literal path re-plans and re-codegens a k·dim-literal
            # expression tree per iteration — pure driver overhead paid
            # n_iters times for a pass whose per-row cost is amortized
            # over a training SAMPLE, not the corpus. Bit-identical
            # assignment either way (same integer arithmetic and
            # tie-breaks — tests/test_ivf.py pins the two paths equal);
            # the compile-once, corpus-sized assignment in
            # _assigned_corpus keeps the literal path below the
            # threshold, where the cheaper per-row code wins.
            assigned = _with_table(v, "__cents", cents, force_frame=True).select(
                "vid", "e_int", F.expr(_NEAREST_CID_EXPR).alias("cid")
            )
            rows = (
                assigned.select("cid", F.posexplode("e_int").alias("dim", "x"))
                .groupBy("cid", "dim")
                .agg(F.sum("x").alias("sx"), F.count(F.lit(1)).alias("n"))
                .collect()
            )
            by_cid: dict[int, dict[int, int]] = {}
            for r in rows:
                by_cid.setdefault(r.cid, {})[r.dim] = int(r.sx) // int(r.n)
            cents = [
                [by_cid[c][d] for d in sorted(by_cid[c])] if c in by_cid else cents[c]
                for c in range(n_centroids)
            ]
        return cents
    finally:
        v.unpersist()


def _assigned_corpus(vectors: DataFrame, cents: list[list[int]], id_col: str) -> DataFrame:
    """Corpus quantized and assigned to inverted lists:
    (n_id, v_int, vn_int, cid) — assignment is a pure projection
    either way: generated least(struct…) over the literal centroid
    table below the size threshold, one transform/array_min expression
    over a broadcast one-row centroid frame above it (identical
    integer arithmetic, identical tie-breaks — determinism-pinned)."""
    v = _with_table(quantized(vectors), "__cents", cents)
    cid = (
        _nearest_centroid(cents)
        if _is_literal_path(cents)
        else F.expr(_NEAREST_CID_EXPR)
    )
    return v.select(
        F.col(id_col).alias("n_id"),
        F.col("e_int").alias("v_int"),
        F.col("n_int").alias("vn_int"),
        cid.alias("cid"),
    )


def _probe_queries(
    queries: DataFrame, cents: list[list[int]], n_probe: int, id_col: str
) -> DataFrame:
    """Each query's ``n_probe`` nearest inverted lists:
    (q_id, q_int, qn_int, cid), one row per probed list.

    Always the broadcast-frame centroid path (optimization r15, guide
    §7.3): queries are |Q|-small by contract, so the literal path's
    k×dim-literal plan — re-analyzed and re-codegen'd on EVERY serve
    call — costs more than the whole probe computes (profiled at
    sf0.1: the probe stage was ~1.1 s of embed_ivf_search's ~2.2 s
    warm rep for 20 query rows). The per-row advantage that justifies
    the literal path on corpus-sized passes (``_assigned_corpus``)
    never materializes over |Q| rows. Identical integer distances and
    (cdist, cid) ordering either way."""
    q = _with_table(quantized(queries), "__cents", cents, force_frame=True)
    probes = q.select(
        F.col(id_col).alias("q_id"),
        F.col("e_int").alias("q_int"),
        F.col("n_int").alias("qn_int"),
        F.posexplode(F.expr(_CENT_DISTS_EXPR)).alias("cid", "cdist"),
    )
    return _rank_topk(probes, ["cdist", "cid"], n_probe).select(
        "q_id", "q_int", "qn_int", F.col("cid").cast("int").alias("cid")
    )


def _score_topk(assigned: DataFrame, probed: DataFrame, k: int) -> DataFrame:
    """Exact integer cosine over probed lists only, ranked top-k."""
    pairs = assigned.join(F.broadcast(probed), "cid").filter(
        F.col("n_id") != F.col("q_id")
    )
    return _cosine_ranked(pairs, k)


def ivf_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_centroids: int = 16,
    n_probe: int = 4,
    n_iters: int = 5,
    id_col: str = "vec_id",
) -> DataFrame:
    """IVF-flat ANN, self-contained: train the coarse quantizer, assign
    the corpus to inverted lists, probe each query's ``n_probe``
    nearest lists with exact integer cosine, rank top-k. Same output
    contract as ``cosine_topk`` so recall is directly measurable.

    Training per call is the bench/test shape; a deployment builds the
    index once with ``ivf_build_index`` and serves query batches with
    ``ivf_search``, which prunes unprobed lists at the file level.
    """
    cents = kmeans_centroids(vectors, n_centroids, n_iters, id_col)
    assigned = _assigned_corpus(vectors, cents, id_col)
    probed = _probe_queries(queries, cents, n_probe, id_col)
    return _score_topk(assigned, probed, k)


def ivf_build_index(
    vectors: DataFrame,
    index_path: str,
    n_centroids: int = 16,
    n_iters: int = 5,
    id_col: str = "vec_id",
) -> list[list[int]]:
    """Build a persistent IVF index: train the quantizer, then land

    - ``{index_path}/centroids`` — the k×dim integer centroid table
      (one row per list: cid, centroid);
    - ``{index_path}/assignment`` — the quantized corpus partitioned
      BY LIST (``partitionBy(cid)``): (n_id, v_int, vn_int) under
      ``cid=…`` directories.

    The corpus moves exactly once (the partitioned write); after that
    every ``ivf_search`` batch touches only the probed lists' files —
    partition pruning at the scan, the on-disk inverted-list layout
    that makes IVF sub-linear in |corpus| per query batch. Rebuild to
    refresh (an index is derived data; the build is idempotent-by-
    replacement into a fresh write)."""
    cents = kmeans_centroids(vectors, n_centroids, n_iters, id_col)
    _write_index(
        _assigned_corpus(vectors, cents, id_col), index_path, "assignment",
        by_list=True, cents=cents,
    )
    return cents


def _write_index(
    df: DataFrame,
    index_path: str,
    data: str,
    append: bool = False,
    by_list: bool = False,
    cents: list[list[int]] | None = None,
    books: list[list[list[int]]] | None = None,
) -> None:
    """Every index write: the quantizer tables given (``centroids``:
    one (cid, centroid) row per list; ``codebooks``: one (j, cid,
    centroid) row per subspace entry), then ``df`` under
    ``{index_path}/{data}`` (``cid=…`` directories when ``by_list``),
    then one row of the ``meta`` staleness ledger: ("base", n)
    replacing it on a build, ("append", n) added to it on an append.
    The count rides the data write via observe() — a separate
    count() would recompute the (often expensive) upstream embedding
    pipeline a whole extra time for one ledger integer, and could
    disagree with the rows actually written if the upstream is
    nondeterministic."""
    spark = df.sparkSession
    mode = "append" if append else "overwrite"

    def small(name: str, rows: list, schema: str) -> None:
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(mode).parquet(
            f"{index_path}/{name}"
        )

    if cents is not None:
        small("centroids", list(enumerate(cents)), "cid int, centroid array<bigint>")
    if books is not None:
        small(
            "codebooks",
            [(j, c, e) for j, b in enumerate(books) for c, e in enumerate(b)],
            "j int, cid int, centroid array<bigint>",
        )
    obs = Observation()
    out = df.observe(obs, F.count(F.lit(1)).alias("n")).write.mode(mode)
    (out.partitionBy("cid") if by_list else out).parquet(f"{index_path}/{data}")
    kind = "append" if append else "base"
    small("meta", [(kind, int(obs.get["n"]))], "kind string, n bigint")


def _load_centroids(spark, index_path: str) -> list[list[int]]:
    cent_rows = spark.read.parquet(f"{index_path}/centroids").collect()
    return [list(map(int, r.centroid)) for r in sorted(cent_rows, key=lambda r: r.cid)]


def ivf_append(
    spark,
    index_path: str,
    vectors: DataFrame,
    id_col: str = "vec_id",
) -> dict:
    """Append new vectors to a persisted IVF index WITHOUT retraining
    or rewriting any existing inverted list — the standard serving
    pattern (r5 verdict #5): the FROZEN quantizer (the persisted
    centroid table) assigns each new vector to its nearest list, and
    the assignment parquet gains append-mode files under the same
    ``cid=…`` partition directories. Existing files are untouched, so
    results for previously indexed vectors keep their exact scores;
    the next ``ivf_search`` sees the new vectors immediately (same
    partition-pruned scan).

    The quantizer drifts as the corpus grows — appended vectors land
    in lists trained on the old distribution, so probe recall decays
    slowly. The index's ``meta`` ledger counts appended-vs-base rows;
    ``ivf_index_staleness`` turns that into a retrain recommendation
    (rebuild with ``ivf_build_index`` — idempotent-by-replacement).
    Returns the staleness summary after the append."""
    cents = _load_centroids(spark, index_path)
    _write_index(
        _assigned_corpus(vectors, cents, id_col), index_path, "assignment",
        append=True, by_list=True,
    )
    return ivf_index_staleness(spark, index_path)


_IVF_RETRAIN_APPEND_FRACTION = 0.2


def ivf_index_staleness(spark, index_path: str) -> dict:
    """Staleness summary of a persisted IVF index:
    ``{"n_base", "n_appended", "appended_fraction", "recommend_retrain"}``.
    Retrain is recommended once appends exceed
    ``_IVF_RETRAIN_APPEND_FRACTION`` of the trained base — past that
    the frozen quantizer's lists no longer reflect the corpus
    distribution and probe recall degrades."""
    rows = spark.read.parquet(f"{index_path}/meta").collect()
    n_base = sum(int(r.n) for r in rows if r.kind == "base")
    n_app = sum(int(r.n) for r in rows if r.kind == "append")
    frac = (n_app / n_base) if n_base else float("inf")
    return {
        "n_base": n_base,
        "n_appended": n_app,
        "appended_fraction": frac,
        "recommend_retrain": frac > _IVF_RETRAIN_APPEND_FRACTION,
    }


class IndexStalenessError(RuntimeError):
    """The index's appended fraction exceeds the caller's
    ``max_staleness`` budget — retrain with the matching
    ``*_build_index``."""


def _enforce_staleness(spark, index_path: str, max_staleness: float | None) -> None:
    """Shared ``max_staleness`` guard for every persisted index that
    keeps the ivf-shape ``meta`` ledger (IVF, PQ, IVF-PQ)."""
    if max_staleness is None:
        return
    st = ivf_index_staleness(spark, index_path)
    if st["appended_fraction"] > max_staleness:
        raise IndexStalenessError(
            f"index at {index_path} has appended_fraction "
            f"{st['appended_fraction']:.3f} > max_staleness "
            f"{max_staleness:.3f} ({st['n_appended']} appended on "
            f"{st['n_base']} base rows); rebuild the index"
        )


def ivf_search(
    spark,
    index_path: str,
    queries: DataFrame,
    k: int = 5,
    n_probe: int = 4,
    id_col: str = "vec_id",
    max_staleness: float | None = None,
) -> DataFrame:
    """Serve a query batch from a persisted IVF index (``ivf_build_index``).

    The centroid table (k×dim, bounded) loads driver-side to plan the
    probes; the distinct probed list ids (≤ |Q|·n_probe, driver-side
    bounded by the same |Q|-small contract as ``cosine_topk``) become a
    static ``cid IN (…)`` partition filter, so the scan reads ONLY the
    probed lists' files — unprobed inverted lists cost zero I/O. Same
    output contract and identical results to ``ivf_topk`` with the
    same training parameters.

    ``max_staleness`` ENFORCES the retrain ledger ``ivf_append``
    maintains (r6 verdict: recommendation alone lets a long-running
    ingest degrade recall silently): a search against an index whose
    appended fraction exceeds the budget raises
    ``IndexStalenessError`` instead of quietly serving from a
    quantizer that no longer reflects the corpus. ``None`` (default)
    keeps the advisory-only behavior."""
    _enforce_staleness(spark, index_path, max_staleness)
    cents = _load_centroids(spark, index_path)
    probed = _probe_queries(queries, cents, n_probe, id_col)
    probe_cids = sorted({r.cid for r in probed.select("cid").distinct().collect()})
    assigned = spark.read.parquet(f"{index_path}/assignment").filter(
        F.col("cid").isin(probe_cids)
    )
    return _score_topk(assigned, probed, k)


# ---------------------------------------------------------------------------
# Exact L2 top-k (the PQ recall oracle) and product quantization (PQ) —
# the COMPRESSION tier of the ANN ladder. Exact cosine is the recall
# oracle, LSH/IVF bound the candidate set; PQ bounds the BYTES: a
# dim-float vector becomes m small codes (m bytes at ksub ≤ 256), so a
# corpus whose raw embeddings are 100 TB scans as ~m/(4·dim) of that —
# and asymmetric-distance (ADC) scoring replaces O(dim) multiplies per
# candidate with m table lookups. Same determinism discipline as the
# rest of the module: codebooks come from the integer k-means (no RNG),
# all distances are exact bigint sums, ties break on ids.


def l2_topk(
    vectors: DataFrame, queries: DataFrame, k: int = 5, id_col: str = "vec_id"
) -> DataFrame:
    """Exact squared-L2 top-k for each query vector — ``cosine_topk``'s
    Euclidean twin and the ground truth PQ recall is measured against
    (PQ approximates L2, so measuring it against the cosine ranking
    would conflate quantization loss with metric mismatch). Distances
    are exact integer sums over micro-quantized vectors; ranking is
    totally ordered (d2 asc, neighbor id)."""
    q = _side(queries, id_col, "q_id", "q")
    v = _side(vectors, id_col, "n_id", "v")
    return _l2_ranked(v.crossJoin(F.broadcast(q)).filter(F.col("n_id") != F.col("q_id")), k)


def _pq_codes_expr(sub: int) -> str:
    """codes: per subspace j, the argmin codebook entry over exact
    integer squared-L2 on the j-th slice — ONE expression regardless of
    m/ksub (ties to the lower code id, like every argmin here)."""
    return f"transform(__books, (book, j) -> {_argmin_expr('book', _slice_expr(sub))})"


def _slice_expr(sub: int) -> str:
    """SQL: the j-th ``sub``-wide slice of ``e_int``."""
    return f"slice(e_int, j * {sub} + 1, {sub})"


def _pq_dtab_expr(sub: int) -> str:
    """Per-query ADC distance table: dtab[j][c] = exact squared-L2 from
    the query's j-th slice to codebook entry c (m×ksub bigints)."""
    return f"transform(__books, (book, j) -> {_dists_expr('book', _slice_expr(sub))})"


_BYTE_LUT = "X'" + "".join(f"{i:02X}" for i in range(256)) + "'"


def _pack_codes_expr() -> str:
    """m uint8 codes → ONE m-byte binary value — the production index
    layout (FAISS stores exactly this): parquet keeps one BYTE_ARRAY
    per vector instead of an int-array's per-element overhead, and a
    1B-vector index at m=64 is 64 GB of codes instead of ~10× that.
    Pure SQL (byte-table substring folded over the codes), JVM-side.

    The fold re-concats the accumulator each step, so it allocates
    O(m²) bytes per vector — irrelevant at the PQ regime's m ≤ 64
    (≤ ~2 KB of transient garbage per row); if m ever grows past a few
    hundred, switch to a binary-producing UDF or a hex-string join."""
    return (
        "aggregate(codes, X'', (acc, c) -> "
        f"concat(acc, substring({_BYTE_LUT}, c + 1, 1)))"
    )


def _unpack_codes_expr(m: int) -> str:
    """The inverse projection: byte j of ``packed`` → int code — so
    every scorer keeps consuming ``codes array<int>`` unchanged."""
    return (
        f"transform(sequence(1, {m}), j -> "
        "cast(conv(hex(substring(packed, j, 1)), 16, 10) as int))"
    )


def _packed_codes(df: DataFrame, books: list[list[list[int]]]) -> DataFrame:
    """codes → packed for the persisted layout, when every code fits a
    byte (ksub ≤ 256 — the standard PQ regime); larger codebooks keep
    the int-array column and readers pass them through."""
    if len(books[0]) > 256:
        return df
    return df.withColumn("packed", F.expr(_pack_codes_expr())).drop("codes")


def _unpacked_codes(df: DataFrame, books: list[list[list[int]]]) -> DataFrame:
    """Normalize a persisted codes scan back to ``codes array<int>``
    (handles both the packed-binary layout and the legacy int-array
    one, so old indexes keep serving)."""
    if "packed" in df.columns:
        return df.withColumn("codes", F.expr(_unpack_codes_expr(len(books)))).drop(
            "packed"
        )
    return df


def _append_layout_codes(
    spark, index_path: str, df: DataFrame, books: list[list[list[int]]]
) -> DataFrame:
    """Encode ``df``'s codes in whatever layout the EXISTING codes
    directory stores. An append must never mix layouts in one parquet
    directory: a plain ``spark.read.parquet`` (no mergeSchema) resolves
    ONE footer's schema, so packed files appended into a legacy
    ``codes array<int>`` index (or vice versa) would silently read as
    NULL — dropping part of the index from every later search. A
    legacy index therefore keeps receiving ``array<int>`` files; only
    packed-layout indexes receive packed appends. (Rebuilding the
    index migrates a legacy one to the packed layout.)"""
    existing = spark.read.parquet(f"{index_path}/codes").schema.names
    if "packed" in existing:
        return _packed_codes(df, books)
    return df


def pq_train(
    vectors: DataFrame,
    m: int = 4,
    ksub: int = 16,
    n_iters: int = 4,
    id_col: str = "vec_id",
) -> list[list[list[int]]]:
    """Train PQ codebooks: split each micro-quantized vector into ``m``
    equal subvectors and run the deterministic integer k-means (ksub
    centroids) independently per subspace — m small trainings over
    dim/m-dimensional slices, each with ``kmeans_centroids``'s scale
    shape (assignment is a projection, updates are map-side-combined
    partial sums). Returns m codebooks of ksub × (dim/m) integers —
    bounded driver-side metadata, like the IVF quantizer."""
    v = quantized(vectors).select(F.col(id_col).alias("vid"), "e_int")
    return _pq_train_int(v, m, ksub, n_iters)


def _pq_train_int(v: DataFrame, m: int, ksub: int, n_iters: int) -> list[list[list[int]]]:
    """PQ training over already-integer vectors (vid, e_int) — the
    shared core, also fed residuals by ``ivfpq_build_index``. Slicing
    commutes with the element-wise micro-quantization, so training on
    int slices is bit-identical to quantizing float slices."""
    first = v.select(F.size("e_int").alias("d")).first()
    if first is None:
        raise ValueError("cannot train PQ codebooks on an empty corpus")
    dim = int(first.d)
    if m < 1 or dim % m != 0:
        raise ValueError(f"m={m} must divide the embedding dimension {dim}")
    sub = dim // m
    return [
        _kmeans_core(
            v.select("vid", F.expr(f"slice(e_int, {j * sub + 1}, {sub})").alias("e_int")),
            ksub,
            n_iters,
        )
        for j in range(m)
    ]


def pq_encode(
    vectors: DataFrame, books: list[list[list[int]]], id_col: str = "vec_id"
) -> DataFrame:
    """Encode the corpus to PQ codes: (id, codes array<int> of length
    m). Pure projection — zero shuffle, the codebooks ride the plan (or
    a one-row broadcast), and the output row is the whole point: m
    small ints instead of dim floats."""
    sub = len(books[0][0])
    return _with_table(quantized(vectors), "__books", books).select(
        F.col(id_col), F.expr(_pq_codes_expr(sub)).alias("codes")
    )


def _pq_score_topk(
    codes: DataFrame, queries: DataFrame, books: list[list[list[int]]], k: int,
    id_col: str = "vec_id",
) -> DataFrame:
    """ADC scoring: each query precomputes its m×ksub distance table,
    broadcasts, and every code row folds m table LOOKUPS into an exact
    approximate-squared-L2 — never touching the original vectors.
    Output (q_id, n_id, adist, rk), ranked (adist asc, n_id)."""
    sub = len(books[0][0])
    q = _with_table(quantized(queries), "__books", books, force_frame=True).select(
        F.col(id_col).alias("q_id"), F.expr(_pq_dtab_expr(sub)).alias("dtab")
    )
    pairs = codes.select(F.col(id_col).alias("n_id"), "codes").crossJoin(F.broadcast(q))
    return _adc_ranked(pairs.filter(F.col("n_id") != F.col("q_id")), k)


def _exact_rerank(
    vectors: DataFrame, queries: DataFrame, shortlist: DataFrame, k: int,
    id_col: str = "vec_id",
) -> DataFrame:
    """Refine an ADC shortlist with EXACT squared-L2 on the raw
    vectors — the standard PQ serving pattern (quantized distances
    pick |Q|·R candidates, exact arithmetic ranks the final k). The
    shortlist is small and broadcasts; the raw corpus is touched by a
    broadcast-hash join on id (on a ManifestTable corpus with a vec_id
    bloom this is a file-pruned read, not a full scan). Output contract
    = ``l2_topk`` (q_id, n_id, d2, rk)."""
    q = _side(queries, id_col, "q_id", "q")
    v = _side(vectors, id_col, "n_id", "v")
    cand = shortlist.select("q_id", "n_id")
    return _l2_ranked(v.join(F.broadcast(cand), "n_id").join(F.broadcast(q), "q_id"), k)


def _check_rerank(k: int, rerank: int | None, rerank_vectors: DataFrame | None) -> None:
    """A re-rank needs the raw vectors it re-scores, and R ≥ k."""
    if (rerank is None) != (rerank_vectors is None):
        raise ValueError("rerank and rerank_vectors must be passed together")
    if rerank is not None and rerank < k:
        raise ValueError(f"rerank={rerank} must be >= k={k}")


def pq_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 5,
    m: int = 4,
    ksub: int = 16,
    n_iters: int = 4,
    id_col: str = "vec_id",
    rerank: int | None = None,
) -> DataFrame:
    """PQ ANN, self-contained: train codebooks, encode the corpus, ADC
    top-k. The train-per-call twin of ``pq_search`` (same relationship
    as ``ivf_topk``/``ivf_search``); recall is measured against
    ``l2_topk`` since ADC approximates squared-L2.

    ``rerank=R`` (R ≥ k) is the recall lever: ADC picks a top-R
    shortlist per query, then exact L2 on the raw vectors ranks the
    final k (output contract flips to ``l2_topk``'s d2). Quantization
    error only costs recall it pushed a true neighbor below rank R —
    on weakly structured corpora this is the difference between ~0.3
    and ~0.8 recall@5 for a few R·|Q| exact distance evaluations."""
    _check_rerank(k, rerank, None if rerank is None else vectors)
    books = pq_train(vectors, m, ksub, n_iters, id_col)
    codes = pq_encode(vectors, books, id_col)
    short = _pq_score_topk(codes, queries, books, rerank or k, id_col)
    if rerank is None:
        return short
    return _exact_rerank(vectors, queries, short, k, id_col)


def pq_build_index(
    vectors: DataFrame,
    index_path: str,
    m: int = 4,
    ksub: int = 16,
    n_iters: int = 4,
    id_col: str = "vec_id",
) -> list[list[list[int]]]:
    """Build a persistent PQ index: codebooks at
    ``{index_path}/codebooks`` (m·ksub rows of (j, cid, centroid)) and
    the encoded corpus at ``{index_path}/codes`` — the compressed
    representation every later ``pq_search`` scans INSTEAD of the raw
    embeddings. Codes persist as ONE m-byte binary per vector
    (``packed``; ksub ≤ 256 — the FAISS storage shape), so at
    production m=64/dim=1024 the index is 64 bytes/vector, ~1/64th
    the raw floats. Idempotent-by-replacement like
    ``ivf_build_index``."""
    books = pq_train(vectors, m, ksub, n_iters, id_col)
    codes = _packed_codes(pq_encode(vectors, books, id_col), books)
    _write_index(codes, index_path, "codes", books=books)
    return books


def _load_books(spark, index_path: str) -> list[list[list[int]]]:
    rows = spark.read.parquet(f"{index_path}/codebooks").collect()
    by_j: dict[int, dict[int, list[int]]] = {}
    for r in rows:
        by_j.setdefault(int(r.j), {})[int(r.cid)] = list(map(int, r.centroid))
    return [[by_j[j][c] for c in sorted(by_j[j])] for j in sorted(by_j)]


def pq_append(
    spark,
    index_path: str,
    vectors: DataFrame,
    id_col: str = "vec_id",
) -> dict:
    """Append new vectors to a persisted PQ index without retraining:
    the FROZEN codebooks encode them (a pure projection — existing
    codes are untouched, so prior results keep their exact adists) and
    the codes parquet gains append-mode files. Quantization error
    drifts as the corpus grows past the trained distribution; the
    ``meta`` ledger counts appended-vs-base rows and
    ``ivf_index_staleness`` (shared ledger shape) turns that into a
    retrain recommendation. Returns the staleness summary."""
    books = _load_books(spark, index_path)
    codes = _append_layout_codes(
        spark, index_path, pq_encode(vectors, books, id_col), books
    )
    _write_index(codes, index_path, "codes", append=True)
    return ivf_index_staleness(spark, index_path)


def pq_search(
    spark,
    index_path: str,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    rerank: int | None = None,
    rerank_vectors: DataFrame | None = None,
    max_staleness: float | None = None,
) -> DataFrame:
    """Serve a query batch from a persisted PQ index: the scan reads
    ONLY the codes parquet (never the raw embeddings), each query's
    distance table broadcasts, and scoring is m lookups per candidate.
    Identical results to ``pq_topk`` with the same training params.

    Pass ``rerank=R`` with ``rerank_vectors`` (the raw corpus — e.g. a
    bloom-indexed ManifestTable read) to refine the ADC shortlist with
    exact L2, as in ``pq_topk``; the refine touches only the R·|Q|
    shortlisted ids. ``max_staleness`` enforces the append ledger like
    ``ivf_search``."""
    _check_rerank(k, rerank, rerank_vectors)
    _enforce_staleness(spark, index_path, max_staleness)
    books = _load_books(spark, index_path)
    codes = _unpacked_codes(spark.read.parquet(f"{index_path}/codes"), books)
    short = _pq_score_topk(codes, queries, books, rerank or k, id_col)
    if rerank is None:
        return short
    return _exact_rerank(rerank_vectors, queries, short, k, id_col)


# ---------------------------------------------------------------------------
# IVF-PQ: the two tiers composed — the production ANN architecture.
# The coarse quantizer bounds which files a query batch READS
# (cid-partitioned codes, static partition pruning like ivf_search);
# PQ bounds the BYTES those files hold (m codes per vector). Codes
# encode RESIDUALS (v - centroid[cid]): within a list the residual
# distribution is tighter than the raw corpus, so the same ksub codes
# quantize it with less error — the standard IVFADC layout.


def ivfpq_build_index(
    vectors: DataFrame,
    index_path: str,
    n_centroids: int = 16,
    m: int = 4,
    ksub: int = 16,
    n_iters: int = 4,
    id_col: str = "vec_id",
) -> None:
    """Build a persistent IVF-PQ index:

    - ``{index_path}/centroids`` — the coarse quantizer (IVF format);
    - ``{index_path}/codebooks`` — m×ksub RESIDUAL codebooks;
    - ``{index_path}/codes`` — (n_id, packed) partitioned BY LIST
      (``cid=…`` dirs), ONE m-byte binary per vector (ksub ≤ 256;
      the FAISS IVFADC storage shape).

    The corpus moves once (the partitioned write); training is the
    coarse k-means plus m residual k-means, all deterministic. A
    search then reads only the probed lists' code files — partition
    pruning AND compression on the same scan."""
    cents = kmeans_centroids(vectors, n_centroids, n_iters, id_col)
    resid = _ivfpq_residuals(vectors, cents, id_col)
    books = _pq_train_int(
        resid.select(F.col("n_id").alias("vid"), "e_int"), m, ksub, n_iters
    )
    codes = _packed_codes(_ivfpq_codes(resid, books), books)
    _write_index(codes, index_path, "codes", by_list=True, cents=cents, books=books)


def _ivfpq_residuals(vectors: DataFrame, cents: list[list[int]], id_col: str) -> DataFrame:
    """(n_id, cid, e_int) where e_int is the vector's RESIDUAL against
    its nearest coarse centroid — the representation IVF-PQ codes."""
    assigned = _assigned_corpus(vectors, cents, id_col)
    return _with_table(assigned, "__cents", cents).select(
        "n_id", "cid", F.expr(_residual_expr("v_int")).alias("e_int")
    )


def _ivfpq_codes(resid: DataFrame, books: list[list[list[int]]]) -> DataFrame:
    """(n_id, cid, codes): the residuals PQ-encoded."""
    return _with_table(resid, "__books", books).select(
        "n_id", "cid", F.expr(_pq_codes_expr(len(books[0][0]))).alias("codes")
    )


def ivfpq_append(
    spark,
    index_path: str,
    vectors: DataFrame,
    id_col: str = "vec_id",
) -> dict:
    """Append to a persisted IVF-PQ index without retraining either
    tier: the frozen coarse quantizer assigns lists, the frozen
    codebooks encode residuals, and the cid-partitioned codes parquet
    gains append-mode files under the same directories (existing list
    files untouched — ``ivf_append``'s contract, on compressed codes).
    Both quantizers drift as the corpus grows; the shared ``meta``
    ledger feeds ``ivf_index_staleness``/``max_staleness``. Returns
    the staleness summary."""
    cents = _load_centroids(spark, index_path)
    books = _load_books(spark, index_path)
    resid = _ivfpq_residuals(vectors, cents, id_col)
    codes = _append_layout_codes(spark, index_path, _ivfpq_codes(resid, books), books)
    _write_index(codes, index_path, "codes", append=True, by_list=True)
    return ivf_index_staleness(spark, index_path)


def ivfpq_search(
    spark,
    index_path: str,
    queries: DataFrame,
    k: int = 5,
    n_probe: int = 4,
    id_col: str = "vec_id",
    rerank: int | None = None,
    rerank_vectors: DataFrame | None = None,
    max_staleness: float | None = None,
) -> DataFrame:
    """Serve a query batch from a persisted IVF-PQ index: probe each
    query's ``n_probe`` nearest lists, build one RESIDUAL distance
    table per (query, probed list) — the residual differs per list,
    so each probed pair carries its own m×ksub table — then ADC-score
    only the pruned lists' codes. ``rerank``/``rerank_vectors`` refine
    with exact L2 as in ``pq_search``. Output (q_id, n_id, adist, rk),
    or ``l2_topk``'s (q_id, n_id, d2, rk) when re-ranked.
    ``max_staleness`` enforces the append ledger like ``ivf_search``."""
    _check_rerank(k, rerank, rerank_vectors)
    _enforce_staleness(spark, index_path, max_staleness)
    cents = _load_centroids(spark, index_path)
    books = _load_books(spark, index_path)
    sub = len(books[0][0])
    probed = _probe_queries(queries, cents, n_probe, id_col)
    # query-side attachments ride the broadcast frame: |Q|·n_probe
    # rows never amortize a k×dim / m×ksub×sub literal plan compile
    pq = _with_table(probed, "__cents", cents, force_frame=True).select(
        "q_id", "cid", F.expr(_residual_expr("q_int")).alias("e_int")
    )
    pq = _with_table(pq, "__books", books, force_frame=True).select(
        "q_id", "cid", F.expr(_pq_dtab_expr(sub)).alias("dtab")
    )
    probe_cids = sorted({r.cid for r in probed.select("cid").distinct().collect()})
    codes = _unpacked_codes(
        spark.read.parquet(f"{index_path}/codes").filter(
            F.col("cid").isin(probe_cids)
        ),
        books,
    )
    pairs = codes.join(F.broadcast(pq), "cid").filter(F.col("n_id") != F.col("q_id"))
    short = _adc_ranked(pairs, rerank or k)
    if rerank is None:
        return short
    return _exact_rerank(rerank_vectors, queries, short, k, id_col)
