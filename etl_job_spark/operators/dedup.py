"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash.

The standard LLM-corpus dedup ladder, each expressed as compositions
of built-in DataFrame ops (explode / groupBy / join) so Catalyst owns
the physical plan:

- **exact**: hash-groupBy on a normalized-text fingerprint. One
  shuffle on the fingerprint; at 100 TB this is the cheapest pass and
  always runs first.
- **n-gram Jaccard**: word-k-shingles → self-join on shingle →
  per-pair intersection counts. The shingle join only pairs documents
  that share a shingle, so cost tracks true near-duplicate density,
  not n² — but a hot shingle (boilerplate) can skew; AQE skew-join
  plus an optional frequency cap handle that.
- **MinHash + LSH**: K hash "permutations" realized as
  min(md5(seed:shingle)) per seed (md5 is available and identical in
  both Spark and the DuckDB oracle), banded so candidate pairs only
  form inside small buckets — the sub-quadratic scale path.
- **SimHash**: 32-bit signature from per-token md5 bit votes weighted
  by term frequency; Hamming-close signatures → near-dups. Signature
  computation is one explode + two groupBys, all integer arithmetic.

Wide column trees (the K minhash aggregates, the band arrays, SimHash's
33 aggregates and 32-term vote) are written as SQL expression strings:
every ``Column`` call is a py4j round trip plus PySpark's call-site
capture, so building them call by call cost thousands of driver round
trips per batch before any job ran, where a string parses in one.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from etl_job_spark.operators.text import fingerprint, tokens

SHINGLE_K = 3


def exact_duplicates(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Group documents by normalized-text fingerprint; the canonical
    representative is the smallest doc_id (deterministic)."""
    return (
        docs.select("doc_id", fingerprint(text_col).alias("fp"))
        .groupBy("fp")
        .agg(
            F.min("doc_id").alias("canonical_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def shingles(docs: DataFrame, text_col: str = "text", k: int = SHINGLE_K) -> DataFrame:
    """Distinct word-k-shingles per document: (doc_id, shingle).

    Dedup happens inside the row (``array_distinct`` before the
    explode), so the shingle table needs NO shuffle at all — it stays
    partitioned however the documents were. The alternative
    (explode → ``.distinct()``) shuffles the largest intermediate in
    the whole dedup pipeline; within-document dedup is equivalent
    because (doc_id, shingle) duplicates can only occur within one row."""
    toks = tokens(text_col)
    parts = ", ".join(f"element_at(toks, i + {j})" for j in range(k))
    # The short-doc guard must be an explicit CASE: Spark's
    # sequence(1, 0) is the DESCENDING [1, 0] (step inferred), so the
    # greatest(...)-clamp alone would feed element_at an index of 0
    # (INVALID_INDEX_OF_ZERO) for any document shorter than k tokens.
    sh = F.expr(
        f"CASE WHEN size(toks) >= {k} THEN array_distinct("
        f"transform(sequence(1, size(toks) - {k - 1}),"
        f" i -> concat_ws(' ', {parts}))) ELSE array() END"
    )
    return docs.select("doc_id", toks.alias("toks")).select(
        "doc_id", F.explode(sh).alias("shingle")
    )


def cap_shingles(doc_shingles: DataFrame, max_shingle_freq: int) -> DataFrame:
    """Drop shingles appearing in more than N documents (boilerplate):
    at corpus scale a shingle shared by 10⁵ documents contributes 10¹⁰
    candidate pairs while carrying ~zero signal — capping it bounds the
    self-join fan-out. Callers that feed the result into
    ``jaccard_pairs`` should persist the *capped* table (it's read
    three times there: both join sides + sizes); persisting the uncapped
    table instead re-runs this freq-filter subtree per use."""
    freq = doc_shingles.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    return doc_shingles.join(
        freq.filter(F.col("df") <= max_shingle_freq), "shingle", "left_semi"
    )


def jaccard_pairs(
    doc_shingles: DataFrame, threshold: float, max_shingle_freq: int | None = None
) -> DataFrame:
    """All-pairs Jaccard over shared shingles (``max_shingle_freq``:
    see ``cap_shingles``; sizes are computed over the capped universe)."""
    sh = doc_shingles
    if max_shingle_freq is not None:
        sh = cap_shingles(sh, max_shingle_freq)

    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    a = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
    b = sh.select(F.col("doc_id").alias("doc_b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    return (
        inter.join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("sz", "sz_a"), "doc_a")
        .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("sz", "sz_b"), "doc_b")
        .withColumn("jaccard", F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")))
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def minhash_signatures(doc_shingles: DataFrame, num_hashes: int = 12) -> DataFrame:
    """Wide signature: (doc_id, mh_0 … mh_{K-1}) where permutation s is
    realized as min(md5('s:' || shingle)) — portable, deterministic,
    and a valid minwise hash family for Jaccard estimation.

    All K minhashes come from ONE groupBy(doc_id) with K min()
    aggregates: the md5s are computed map-side and partially aggregated
    before the shuffle, so exactly |docs| rows (of K columns) move —
    versus K·|docs| rows for the explode-seeds formulation this
    replaced (2× wall-clock at sf0.1, and the gap widens with K)."""
    mins = [
        F.expr(f"min(md5(concat_ws(':', '{s}', shingle))) AS mh_{s}")
        for s in range(num_hashes)
    ]
    return doc_shingles.groupBy("doc_id").agg(*mins)


def signature_bands(
    signatures: DataFrame, band_size: int = 3, num_hashes: int = 12
) -> DataFrame:
    """Band the wide signature (band b = minhashes [b·size, (b+1)·size))
    into one bucket string per band — pure column concat + explode, no
    shuffle: (doc_id, band, sig)."""
    band_structs = ", ".join(
        f"struct({b} AS band, concat_ws('|', "
        + ", ".join(f"mh_{b * band_size + j}" for j in range(band_size))
        + ") AS sig)"
        for b in range(num_hashes // band_size)
    )
    return signatures.selectExpr("doc_id", f"inline(array({band_structs}))")


def lsh_candidate_pairs(
    signatures: DataFrame, band_size: int = 3, num_hashes: int = 12
) -> DataFrame:
    """Self-join the banded signatures on (band, sig): only bucket-mates
    ever pair, the LSH guarantee that candidate generation is
    sub-quadratic."""
    bands = signature_bands(signatures, band_size, num_hashes)
    a = bands.selectExpr("doc_id AS doc_a", "band", "sig")
    b = bands.selectExpr("doc_id AS doc_b", "band", "sig")
    return (
        a.join(b, ["band", "sig"])
        .where("doc_a < doc_b")
        .select("doc_a", "doc_b")
        .distinct()
    )


def verify_pairs(candidates: DataFrame, doc_shingles: DataFrame, threshold: float) -> DataFrame:
    """Exact Jaccard for candidate pairs only (the verify stage of
    MinHash→LSH→verify). Joins shingles twice, keyed by doc.

    For threshold > 0, candidate pairs sharing zero shingles can never
    pass, so the intersection aggregate alone decides. Pass the shingle
    table persisted (the query layer does): it's read three times
    (twice here, once for sizes).

    The candidate pairs are ``localCheckpoint``-materialized before
    the verify joins (optimization r15, guide §3.1 "estimates are
    often badly wrong"): planned lazily, the candidate side's size
    estimate comes from the LSH banding subtree and the planner builds
    the hash relation from the SHINGLE side — at sf0.1 that broadcast
    two 515k-row shingle relations to verify 6k pairs. Materialized,
    the planner sees the candidates' true (tiny relative to shingles)
    size and builds from them instead; at cluster scale, where neither
    side fits a broadcast, AQE falls back to a sort-merge join from
    the same true sizes. Measured (5-rep solo, sf0.1): 6.36 s → 4.10 s
    median, max 58 s → 6 s. A bloom/semi pre-filter of the shingle
    table on candidate doc ids (guide §3.2) was prototyped and
    measured SLOWER here (5.12 s): the planted near-dup fixture makes
    9,998 of 10,000 docs candidates, so the filter removes nothing —
    it only pays on corpora where candidates are sparse, which is a
    property of the data, not the plan."""
    if threshold <= 0:
        raise ValueError("verify_pairs requires a positive threshold")
    candidates = candidates.localCheckpoint()
    sizes = doc_shingles.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    sh_a = doc_shingles.select(F.col("doc_id").alias("doc_a"), "shingle")
    sh_b = doc_shingles.select(F.col("doc_id").alias("doc_b"), "shingle")
    inter = (
        candidates.join(sh_a, "doc_a")
        .join(sh_b, ["doc_b", "shingle"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    return (
        inter.join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("sz", "sz_a"), "doc_a")
        .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("sz", "sz_b"), "doc_b")
        .withColumn("jaccard", F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")))
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def simhash_pairs(signatures: DataFrame, max_hamming: int = 3) -> DataFrame:
    """Hamming-close SimHash pairs via byte banding: a 32-bit signature
    splits into 4 bytes; two signatures within Hamming distance 3 MUST
    agree on at least one whole byte (pigeonhole), so candidates only
    form inside shared (band, byte) buckets — sub-quadratic, zero
    false negatives for the distance bound. Verify = popcount(xor).

    A pair sharing several bytes meets in several buckets, so the
    bucket join repeats it; the distance is a function of the pair, so
    it is computed and filtered on the joined rows and the ``distinct``
    runs over ``(doc_a, doc_b, hamming)`` only — the signatures never
    cross that exchange, and pairs past the bound never reach it."""
    bands = ", ".join(
        f"struct({b} AS band, shiftright(simhash, {8 * b}) & 255 AS `byte`)"
        for b in range(4)
    )
    banded = signatures.selectExpr("doc_id", "simhash", f"inline(array({bands}))")
    a = banded.selectExpr("doc_id AS doc_a", "simhash AS sig_a", "band", "`byte`")
    b = banded.selectExpr("doc_id AS doc_b", "simhash AS sig_b", "band", "`byte`")
    return (
        a.join(b, ["band", "byte"])
        .where("doc_a < doc_b")
        .selectExpr("doc_a", "doc_b", "cast(bit_count(sig_a ^ sig_b) as bigint) AS hamming")
        .where(f"hamming <= {max_hamming}")
        .distinct()
    )


def connected_components(
    nodes: DataFrame, pairs: DataFrame, max_iter: int = 20
) -> DataFrame:
    """Duplicate clusters from near-dup pairs: (doc_id, cluster_id)
    where cluster_id = min doc_id reachable through pair edges —
    min-label propagation iterated to fixpoint.

    The loop is DataFrame-only with a driver-side convergence check;
    rounds needed = cluster diameter, which for dedup graphs is tiny
    (duplicates of one document link to a common near-neighbor). The
    first propagation is the start itself: one groupBy of the edges
    gives every incident node the min of its own id and its
    neighbours' ids, planned into the first round instead of
    materialized on its own. Each round is ONE groupBy(doc_id) over a
    union of the current labels (carrying their value as ``old_cid``)
    and the labels propagated along the edges (``edges ⋈ labels``,
    ``old_cid`` NULL): min(cluster_id) is the new label and
    max(old_cid) the old one, so the changed-label count is an
    ``observe()`` metric on that same aggregate — no label-diff join,
    no second pass. The shuffle is keyed on doc_id, so partitioning is
    stable across rounds. Every round ends in a localCheckpoint, which
    truncates the growing lineage — without it, round k replans rounds
    1..k-1 (iterative algorithms on Spark MUST checkpoint) — and
    releases the checkpoint it superseded once its own has
    materialized.

    ``max_iter`` counts the loop rounds after that start, each ending
    in a convergence check: labels that settle in the start still take
    one round to prove it, and a path of diameter D takes D rounds.

    ``nodes``: one doc_id column; ``pairs``: (doc_a, doc_b) edges.
    """
    # symmetrize with ONE pass over the pair stream (optimization r14,
    # guide §2.4): the union-of-two-selects form evaluated the whole
    # upstream pair pipeline TWICE — LSH banding, candidate join and
    # Jaccard verify are a multi-join subtree, and only its exchanges
    # are reused across union branches, so every post-shuffle join and
    # filter ran once per direction. Exploding both orientations from
    # each pair row reads the subtree once; distinct() sees the same
    # 2|pairs| rows either way.
    edges = (
        pairs.selectExpr(
            "explode(array(struct(doc_a AS src, doc_b AS dst),"
            " struct(doc_b AS src, doc_a AS dst))) AS e"
        )
        .select("e.src", "e.dst")
        .distinct()
        .localCheckpoint()
    )
    # only nodes incident to an edge can ever change label; singletons
    # (the overwhelming majority of a real corpus) skip the loop and
    # rejoin at the end with their own id
    singletons = nodes.select("doc_id").join(
        edges.selectExpr("src AS doc_id"), "doc_id", "left_anti"
    )
    labels = (
        edges.groupBy("src")
        .agg(F.expr("least(src, min(dst)) AS cluster_id"))
        .withColumnRenamed("src", "doc_id")
    )
    for i in range(max_iter):
        obs = Observation()
        propagated = edges.join(labels.withColumnRenamed("doc_id", "dst"), "dst").selectExpr(
            "src AS doc_id", "cluster_id", "NULL AS old_cid"
        )
        new_labels = (
            labels.selectExpr("doc_id", "cluster_id", "cluster_id AS old_cid")
            .unionByName(propagated)
            .groupBy("doc_id")
            .agg(F.expr("min(cluster_id) AS cluster_id"), F.expr("max(old_cid) AS old_cid"))
            .observe(obs, F.expr("sum(cast(cluster_id != old_cid AS long)) AS changed"))
            .select("doc_id", "cluster_id")
            .localCheckpoint()
        )
        # free the superseded checkpoint's blocks now, not whenever the
        # JVM collects its RDD (the start labels are a plan, not one)
        if i:
            labels._jdf.queryExecution().logical().rdd().unpersist(False)
        labels = new_labels
        changed = obs.get["changed"] or 0
        if changed == 0:
            break
    else:
        # loop exhausted max_iter with labels still moving: silently
        # returning would hand back WRONG cluster_ids with no signal
        # (chain-shaped pair graphs need ~diameter rounds)
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds "
            f"({changed} labels still changing); raise max_iter or use "
            "connected_components_star for long-diameter graphs"
        )
    return labels.unionByName(singletons.selectExpr("doc_id", "doc_id AS cluster_id"))


def simhash_signatures(docs: DataFrame, text_col: str = "text", bits: int = 32) -> DataFrame:
    """32-bit SimHash: per-token md5 supplies the bit stream, term
    frequency the weight; each bit position takes the sign of the
    weighted vote. Pure integer arithmetic end to end.

    Bit-parallel formulation: ONE explode (token occurrences) and ONE
    groupBy(doc_id) carrying 32 sum aggregates — one per bit — plus the
    occurrence count. The algebra: the TF-weighted vote for bit j,
    ``sum_over_distinct_tokens(cnt * (2*bit_j - 1))``, equals
    ``2 * sum_over_occurrences(bit_j) - n_occurrences``, so neither the
    per-(doc, token) TF groupBy nor a per-bit row explode is needed.
    This replaced a 3-shuffle / 32x-row-explode pipeline: at corpus
    scale the bit explode alone multiplied the largest intermediate by
    the signature width; here every bit travels as a map-side-combined
    integer column and the only shuffle is the final groupBy(doc_id).
    Map-side combine makes the shuffle |docs| rows of 33 longs."""
    if not 0 < bits <= 32:
        # the bit stream below comes from the first 8 md5 hex chars
        # (32 bits); a wider request would silently index negative bit
        # positions and produce garbage signatures
        raise ValueError(f"simhash bits must be in 1..32, got {bits}")
    occ = docs.select("doc_id", F.explode(tokens(text_col)).alias("tok")).selectExpr(
        "doc_id",
        # value of the first 8 md5 hex chars; nibble c of the hex string
        # occupies bits [(7-c)*4, (7-c)*4 + 4) of this integer
        "cast(conv(substring(md5(tok), 1, 8), 16, 10) as bigint) AS w",
    )
    # same bit mapping as the oracle: hex char (j div 4), bit (j%4) of
    # its nibble value → global bit (7 - j div 4)*4 + (j%4)
    aggs = [
        F.expr(f"sum(shiftright(w, {(7 - j // 4) * 4 + j % 4}) & 1) AS c{j}")
        for j in range(bits)
    ]
    counts = occ.groupBy("doc_id").agg(F.expr("count(1) AS n"), *aggs)
    # vote sign: 2*c_j - n > 0  ⟺  2*c_j > n  (ties → bit 0)
    vote = " + ".join(f"CASE WHEN 2 * c{j} > n THEN {1 << j} ELSE 0 END" for j in range(bits))
    return counts.selectExpr("doc_id", f"cast({vote} as bigint) AS simhash")


def connected_components_star(
    nodes: DataFrame, pairs: DataFrame, max_rounds: int = 25
) -> DataFrame:
    """Duplicate clusters via alternating large-star/small-star rounds
    (the MapReduce CC formulation from Kiveris et al., "Connected
    Components in MapReduce and Beyond") — same output contract as
    ``connected_components``: (doc_id, cluster_id = component min).

    Why a second algorithm: min-label propagation needs ~diameter
    rounds, so a chain-shaped pair set (A~B~C~…) degrades linearly;
    star operations contract whole neighborhoods onto their minimum,
    converging in O(log n) rounds regardless of diameter. Each round is
    two groupBy(min)+join passes over the edge set — no collect_list
    (a hot node's neighborhood never materializes in one task), so a
    109-document boilerplate cluster and a 2-document pair cost the
    same per edge. Convergence is one aggregate per round (count +
    order-insensitive hash sum of the edge set) folded over the
    checkpointed edges — cheaper than the label-diff join the
    propagation loop does.

    Use this for long/unknown-diameter graphs; ``connected_components``
    remains marginally cheaper for the tiny-diameter graphs typical of
    near-dup output (its per-round work is one groupBy, not two).
    """
    edges = (
        pairs.select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint()
    )
    incident = (
        edges.select(F.col("u").alias("doc_id"))
        .unionByName(edges.select(F.col("v").alias("doc_id")))
        .distinct()
        .localCheckpoint()
    )
    singletons = nodes.select("doc_id").join(incident, "doc_id", "left_anti")

    def checksum(e: DataFrame) -> tuple:
        row = e.agg(
            F.count(F.lit(1)).alias("n"),
            # bit_xor: order-insensitive, overflow-free under ANSI mode
            F.expr("bit_xor(xxhash64(u, v))").alias("h"),
        ).collect()[0]
        return (row.n, row.h)

    prev = None
    for _ in range(max_rounds):
        # large-star: every neighbor v > u links to min(N(u) ∪ {u})
        sym = edges.unionByName(
            edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        nbr_min = sym.groupBy("u").agg(F.min("v").alias("mn"))
        large = (
            sym.join(nbr_min, "u")
            .filter(F.col("v") > F.col("u"))
            .select(
                F.col("v").alias("u"),
                F.least(F.col("mn"), F.col("u")).alias("v"),
            )
        )
        # small-star: orient edges high→low, link all low neighbors
        # (and the high node) to the minimum
        d = large.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        ).filter(F.col("u") != F.col("v"))
        d_min = d.groupBy("u").agg(F.min("v").alias("m"))
        small = (
            d.join(d_min, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .unionByName(d_min.select("u", F.col("m").alias("v")))
        )
        edges = small.distinct().localCheckpoint()
        cur = checksum(edges)
        if cur == prev:
            break
        prev = cur
    else:
        raise RuntimeError(
            f"connected_components_star did not converge in {max_rounds} rounds"
        )
    # at fixpoint every edge is (node, component_min); roots and
    # singletons label themselves
    labels = edges.select(F.col("u").alias("doc_id"), F.col("v").alias("cluster_id"))
    roots = incident.join(labels, "doc_id", "left_anti")
    return labels.unionByName(
        roots.select("doc_id", F.col("doc_id").alias("cluster_id"))
    ).unionByName(singletons.select("doc_id", F.col("doc_id").alias("cluster_id")))


def resolve_duplicates(
    corpus: DataFrame, clusters: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """The RESOLVE step that turns cluster labels into a deduplicated
    corpus: keep ONE deterministic representative per cluster (the
    minimum ``id_col`` — the CCNet/"keep first" policy; stable across
    runs and partitionings) and annotate it with ``n_duplicates``, the
    number of rows it displaced. Completes the dedup ladder:
    detect (pairs) → cluster (connected components) → resolve (this).

    Scale shape: one groupBy on cluster_id where both aggregates
    (min, count) combine map-side — a giant duplicate cluster
    collapses in the partial aggregation instead of skewing a window
    sort — then one join back to the corpus on the surviving ids
    (broadcast-eligible when survivors are small). Rows never widen:
    the join carries only (id, n_duplicates).

    Reference analogue: the reference keeps the LAST write per key
    (load_sales_data.py update-or-insert); for corpus dedup the
    canonical-representative policy is explicit and pluggable — pick
    a different representative by pre-ranking ids upstream (e.g.
    re-keying ``id_col`` to "<quality_rank>:<doc_id>")."""
    keeps = clusters.groupBy("cluster_id").agg(
        F.min(id_col).alias(id_col),
        (F.count("*") - F.lit(1)).alias("n_duplicates"),
    )
    return corpus.join(keeps.drop("cluster_id"), id_col)


def positional_shingles(
    docs: DataFrame, k: int, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """EVERY k-token window with its start position: (id, start, g).

    Unlike ``shingles`` this keeps positions and within-document
    repeats — span removal must know *where* a duplicated sequence
    sits, and a sequence repeated twice inside one document is just as
    duplicated as one shared across documents (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better",
    §3: any substring occurring more than once in the corpus).
    Zero shuffle: one projection + one explode."""
    toks = tokens(text_col)
    # explicit CASE guard: sequence(0, n-k) DESCENDS for n < k (Spark
    # infers step -1), which would index before the array start
    wins = F.expr(
        f"CASE WHEN size(toks) >= {k} THEN"
        f" transform(sequence(0, size(toks) - {k}),"
        f" i -> struct(i AS start, concat_ws(' ', slice(toks, i + 1, {k})) AS g))"
        f" ELSE array() END"
    )
    return (
        docs.select(F.col(id_col), toks.alias("toks"))
        .select(id_col, F.explode(wins).alias("w"))
        .select(id_col, F.col("w.start").alias("start"), F.col("w.g").alias("g"))
    )


def remove_duplicate_spans(
    docs: DataFrame, k: int = 8, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact substring deduplication: delete every token position
    covered by a k-token window that occurs more than once in the
    corpus, and reassemble what's left (Lee et al. 2022 span removal —
    the dedup modality the pair-based ladder can't express: it edits
    *inside* documents instead of dropping whole ones).

    Returns (id, n_tokens, n_removed, kept_text) for every input row.

    Scale shape — strictly LINEAR in corpus size, never quadratic:
    unlike Jaccard/MinHash/SimHash this never pairs documents, so
    there is no candidate-pair fan-out to cap. One explode (O(total
    tokens) rows), one groupBy on the window text (the big shuffle —
    same shape as the MinHash shingle pass), one semi-join back, one
    bounded per-document collect (≤ doc length ints), then an O(n+m)
    within-row interval-merge reassembly via ``aggregate`` — all
    JVM-side, no Python. A window duplicated 10⁶ times costs 10⁶
    rows here, not 10¹² pairs.

    The duplicated-window decision is two-level and EXACT
    (optimization r15, guide §2.3 "shuffle keys and metadata instead
    of payloads"): windows first count by ``xxhash64(g)`` — an 8-byte
    exchange key instead of ~50 bytes of window text — and only rows
    whose HASH group repeats (a superset of true duplicates, since
    collisions can only merge groups) re-verify with an exact
    count/semi-join on the full text. A hash group of count 1 is
    provably unique — no collision can shrink a group — so unique
    windows (the overwhelming majority of a lightly-duplicated
    corpus) never put their text on the wire at all, and the exact
    text passes run over the candidate subset only. Results are
    bit-identical to the single-pass text grouping (pinned by the SQL
    oracle and an order-insensitive content hash in the r15 A/B:
    3.25 s → 2.02 s median at sf0.1, mins 3.03 → 1.66).

    The reassembly walks the sorted duplicate starts once: gaps
    between merged [s, s+k) intervals are sliced out of the token
    array and concatenated — O(n + m) per row, no per-position
    existence probe (which would go O(n·m) on a fully-duplicated
    document)."""
    sh = positional_shingles(docs, k, text_col, id_col).withColumn(
        "gh", F.xxhash64("g")
    )
    hdup = sh.groupBy("gh").agg(F.count(F.lit(1)).alias("n")).filter(F.col("n") > 1)
    cand = sh.join(hdup.select("gh"), "gh", "left_semi")
    dup = cand.groupBy("g").agg(F.count(F.lit(1)).alias("n")).filter(F.col("n") > 1)
    dup_starts = cand.join(dup.select("g"), "g", "left_semi")
    per_doc = dup_starts.groupBy(id_col).agg(
        F.sort_array(F.collect_set("start")).alias("dup_starts")
    )
    base = docs.select(F.col(id_col), tokens(text_col).alias("toks"))
    kept = F.expr(
        f"""aggregate(
          coalesce(dup_starts, cast(array() as array<int>)),
          struct(0 AS cur, cast(array() as array<string>) AS kept),
          (acc, s) -> struct(
            greatest(acc.cur, s + {k}) AS cur,
            CASE WHEN s > acc.cur
                 THEN concat(acc.kept, slice(toks, acc.cur + 1, s - acc.cur))
                 ELSE acc.kept END AS kept),
          acc -> CASE WHEN acc.cur < size(toks)
                      THEN concat(acc.kept, slice(toks, acc.cur + 1, size(toks) - acc.cur))
                      ELSE acc.kept END
        )"""
    )
    return (
        base.join(per_doc, id_col, "left")
        .select(F.col(id_col), F.col("toks"), kept.alias("kept"))
        .select(
            id_col,
            F.size("toks").cast("bigint").alias("n_tokens"),
            (F.size("toks") - F.size("kept")).cast("bigint").alias("n_removed"),
            F.array_join("kept", " ").alias("kept_text"),
        )
    )


# ---------------------------------------------------------------------
# Cross-run incremental dedup: a persisted LSH signature store
# ---------------------------------------------------------------------


class MinHashStore:
    """Persisted LSH signature store — dedup a new batch against an
    ever-growing corpus WITHOUT rescanning the corpus.

    This is the production shape of MinHash dedup at 100 TB: the
    corpus's banded signatures land once in a ManifestTable partitioned
    by a hash bucket of the band signature; each incremental batch
    (a daily crawl, a new source) then

      1. computes its own bands (zero-shuffle on top of the one
         signature groupBy),
      2. reads back ONLY the store partitions whose buckets the batch
         actually touches — ``snapshot_where('sig_bucket' IN …)`` file
         skipping, driver-side data bounded at ``n_buckets`` ints —
      3. resolves greedily (a batch doc is removed iff some store doc
         OR some smaller-id batch doc shares a band signature), and
      4. appends the SURVIVORS' bands, so the next batch dedups
         against everything kept so far.

    Cost per increment is O(batch + matching store partitions), never
    O(corpus). ``n_buckets`` sizes the skipping granularity: a batch
    touching b buckets reads ~b/n_buckets of the store; production
    stores want n_buckets ≫ the per-batch bucket footprint (e.g. 4096),
    the tests use small values so pruning is observable at fixture
    scale. The greedy min-id policy matches ``semantic_dedup``; feed
    ``lsh_candidate_pairs`` + ``connected_components`` instead when
    transitive-closure resolution is wanted.

    Reference analogue: none (its MySQL scripts have no dedup at all);
    extension per SURVEY.md §2's LLM-pipeline mandate, shaped like the
    reference's own daily incremental loads (load_sales_data.py's
    yesterday-window append) applied to corpus hygiene.
    """

    def __init__(
        self,
        path: str,
        num_hashes: int = 12,
        band_size: int = 3,
        n_buckets: int = 64,
    ):
        self.path = path
        self.num_hashes = num_hashes
        self.band_size = band_size
        self.n_buckets = n_buckets
        self._last_bands: DataFrame | None = None

    def _table(self):
        from etl_job_spark.table import ManifestTable

        return ManifestTable(self.path)

    def bands_of(self, docs: DataFrame, text_col: str = "text") -> DataFrame:
        """(doc_id, band, sig, sig_bucket) for a document set: shingle →
        minhash → band, plus the store's partition bucket (first 8 md5
        hex chars of the sig, mod n_buckets — the same portable bucket
        the probe computes, so batch and store always agree)."""
        sh = shingles(docs, text_col)
        sigs = minhash_signatures(sh, self.num_hashes)
        bands = signature_bands(sigs, self.band_size, self.num_hashes)
        return bands.withColumn(
            "sig_bucket",
            F.expr(
                f"cast(conv(substring(md5(sig), 1, 8), 16, 10) as bigint)"
                f" % {self.n_buckets}"
            ),
        )

    def initialize(self, docs: DataFrame, text_col: str = "text") -> int:
        """Land the initial corpus's bands, partitioned by sig_bucket."""
        return self._table().overwrite(
            self.bands_of(docs, text_col), partition_by=["sig_bucket"]
        )

    def exists(self) -> bool:
        return self._table().latest_version() is not None

    def release(self) -> None:
        """Unpersist the cached bands of the most recent
        ``dedup_batch`` — long-running callers (the streaming sink)
        call this per batch so caches don't accumulate; one-shot
        callers may ignore it (dedup_batch also releases the PRIOR
        batch automatically)."""
        if self._last_bands is not None:
            self._last_bands.unpersist()
            self._last_bands = None

    def dedup_batch(
        self, spark, new_docs: DataFrame, text_col: str = "text"
    ) -> DataFrame:
        """Resolve a new batch against the store and itself.

        Returns one row per batch document: (doc_id, dedup_to, kept,
        via_store) — ``dedup_to`` is the smallest colliding store doc
        or smaller-id batch doc (itself when kept), ``via_store``
        flags a store displacement (store wins ties). Documents too
        short to shingle have no bands and always survive."""
        self.release()  # drop the previous batch's cached bands
        nb = self.bands_of(new_docs, text_col).persist()
        self._last_bands = nb
        buckets = sorted(
            r[0] for r in nb.select("sig_bucket").distinct().collect()
        )  # bounded driver metadata: ≤ n_buckets ints
        # Greedy min-id resolution only ever needs each band-bucket's
        # MINIMUM id, so both probes join against per-bucket minima
        # (map-side-combining groupBys) instead of materializing all
        # bucket pairs — a hot bucket (viral boilerplate duplicated
        # across the whole batch) costs O(bucket), not O(bucket²),
        # and the result is identical: any smaller bucket-mate of a
        # doc is ≥ its bucket's minimum.
        store_hits = None
        if buckets and self.exists():
            sb = self._table().snapshot_where(
                spark, [("sig_bucket", "in", buckets)]
            )
            store_mins = sb.groupBy("band", "sig").agg(F.min("doc_id").alias("m"))
            store_hits = (
                nb.join(store_mins, ["band", "sig"])
                .groupBy("doc_id")
                .agg(F.min("m").alias("store_min"))
            )
        batch_mins = nb.groupBy("band", "sig").agg(F.min("doc_id").alias("m"))
        within = (
            nb.join(batch_mins, ["band", "sig"])
            .filter(F.col("m") < F.col("doc_id"))
            .groupBy("doc_id")
            .agg(F.min("m").alias("within_min"))
        )
        res = new_docs.select("doc_id").join(within, "doc_id", "left")
        if store_hits is not None:
            res = res.join(store_hits, "doc_id", "left")
        else:
            res = res.withColumn("store_min", F.lit(None).cast("bigint"))
        # explicit CASE (not least()): least()'s NULL handling differs
        # across engines/versions; this form is portable and mirrors
        # the oracle SQL token for token
        return res.select(
            "doc_id",
            F.expr(
                """cast(CASE
                     WHEN store_min IS NULL THEN coalesce(within_min, doc_id)
                     WHEN within_min IS NULL THEN store_min
                     WHEN store_min <= within_min THEN store_min
                     ELSE within_min END as bigint)"""
            ).alias("dedup_to"),
            F.expr(
                "cast(CASE WHEN store_min IS NULL AND within_min IS NULL"
                " THEN 1 ELSE 0 END as bigint)"
            ).alias("kept"),
            F.expr(
                "cast(CASE WHEN store_min IS NOT NULL AND"
                " (within_min IS NULL OR store_min <= within_min)"
                " THEN 1 ELSE 0 END as bigint)"
            ).alias("via_store"),
        )

    def absorb(
        self, resolution: DataFrame, new_docs: DataFrame, text_col: str = "text"
    ) -> int:
        """Append the SURVIVORS' bands so later batches dedup against
        them. Recomputing the kept docs' bands (a semi-join in front of
        the same zero-shuffle band build) beats persisting the full
        batch's bands across the commit."""
        kept = new_docs.join(
            resolution.filter(F.col("kept") == 1).select("doc_id"), "doc_id", "left_semi"
        )
        return self._table().append(self.bands_of(kept, text_col))
