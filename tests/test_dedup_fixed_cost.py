"""The dedup operators' per-batch fixed cost: connected components
against a union-find, its round count and checkpoint release, SimHash
pairs against brute force, and the py4j round trips it takes to BUILD
(not run) the hash and bit column trees."""

from __future__ import annotations

import pytest

from etl_job_spark.operators import dedup


def _union_find(nodes: list[int], edges: list[tuple[int, int]]) -> list[tuple[int, int]]:
    """(doc_id, min doc_id of its component) for every node."""
    parent = {n: n for n in nodes}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return sorted((n, find(n)) for n in nodes)


SHAPES = {
    # diameter 7, labels settle only from one end
    "path": (8, [(i, i + 1) for i in range(7)]),
    # a hub that is NOT the minimum, so every leaf learns 0 via the hub
    "star": (7, [(3, j) for j in range(7) if j != 3]),
    "cycle": (6, [(i, (i + 1) % 6) for i in range(6)]),
    "self_loops": (5, [(0, 0), (2, 2), (2, 3), (4, 4)]),
    "reversed_and_duplicate": (6, [(4, 3), (3, 4), (3, 2), (2, 3), (5, 1), (1, 5), (1, 5)]),
    # most nodes touch no edge, as in a real corpus
    "isolated": (10, [(7, 2)]),
}


@pytest.mark.parametrize("shape", sorted(SHAPES))
def test_connected_components_matches_union_find(spark, shape):
    n, edges = SHAPES[shape]
    nodes = spark.createDataFrame([(i,) for i in range(n)], "doc_id bigint")
    pairs = spark.createDataFrame(edges, "doc_a bigint, doc_b bigint")
    got = sorted(map(tuple, dedup.connected_components(nodes, pairs).collect()))
    assert got == _union_find(list(range(n)), edges)


def test_connected_components_round_count(spark):
    """On the star-vs-propagation fixture (largest cluster diameter 2)
    the start already propagates one hop, one round takes the second
    and one more proves the fixpoint: two rounds, not three."""
    from tests.test_cc_star import _fixture

    nodes, pairs = _fixture(spark)
    labels = dedup.connected_components(nodes, pairs, max_iter=2)
    edges = [(r.doc_a, r.doc_b) for r in pairs.collect()]
    assert sorted(map(tuple, labels.collect())) == _union_find(list(range(20)), edges)
    with pytest.raises(RuntimeError, match="did not converge in 1 rounds"):
        dedup.connected_components(nodes, pairs, max_iter=1)


def test_connected_components_releases_superseded_checkpoints(spark):
    """Only the edges and the returned labels stay cached, however many
    rounds ran; the returned labels stay readable."""
    n = 6
    nodes = spark.createDataFrame([(i,) for i in range(n)], "doc_id bigint")
    path = spark.createDataFrame([(i, i + 1) for i in range(n - 1)], "doc_a bigint, doc_b bigint")
    jsc = spark.sparkContext._jsc.sc()
    before = len(jsc.getRDDStorageInfo())
    labels = dedup.connected_components(nodes, path)
    assert len(jsc.getRDDStorageInfo()) <= before + 2
    assert sorted(r.cluster_id for r in labels.collect()) == [0] * n


def test_simhash_pairs_match_brute_force(spark):
    """Pairs sharing 0..4 bytes at distances around the bound: the
    filter before the distinct keeps every pair within it exactly once."""
    base = 0x5A3C_F00F
    sigs = [base, base ^ 0x1, base ^ 0x0101, base ^ 0x010101, base ^ 0x01010101,
            base ^ 0x7, base ^ 0xF, base ^ 0x0300_0001, 0x1234_5678, 0x1234_5679]
    rows = [(i, s) for i, s in enumerate(sigs)]
    df = spark.createDataFrame(rows, "doc_id bigint, simhash bigint")
    got = sorted(map(tuple, dedup.simhash_pairs(df, max_hamming=3).collect()))
    want = sorted(
        (a, b, bin(sa ^ sb).count("1"))
        for a, sa in rows
        for b, sb in rows
        if a < b and bin(sa ^ sb).count("1") <= 3
    )
    assert got == want


def _build_calls(spark, build) -> int:
    """py4j round trips spent building a frame (no job runs)."""
    client = spark.sparkContext._gateway._gateway_client
    orig, calls = client.send_command, [0]

    def send_command(*args, **kwargs):
        calls[0] += 1
        return orig(*args, **kwargs)

    client.send_command = send_command
    try:
        build()
    finally:
        del client.send_command
    return calls[0]


def test_hash_column_trees_are_cheap_to_build(spark):
    """Written as SQL strings, the signature and band trees cost a few
    hundred round trips to build, where a Column call per node (each
    paying PySpark's call-site capture) cost 3,232, 2,326 and 458.
    Bounds are the measured 271, 106 and 44 plus about half again."""
    docs = spark.createDataFrame([(1, "a b c d"), (2, "a b c e")], "doc_id bigint, text string")
    sh = dedup.shingles(docs)
    sigs = dedup.simhash_signatures(docs)
    assert _build_calls(spark, lambda: dedup.simhash_signatures(docs)) <= 400
    assert _build_calls(
        spark, lambda: dedup.lsh_candidate_pairs(dedup.minhash_signatures(sh), 3)
    ) <= 160
    assert _build_calls(spark, lambda: dedup.simhash_pairs(sigs, 3)) <= 70
