"""Dump `.explain('formatted')` for registry queries into
plans/<round>/<query>_<tag>.txt.

Run:  python tools/explain_plans.py <round> <tag> <query> [<query> ...]
      python tools/explain_plans.py r15 before dedup_minhash_lsh ...

Special name `cc_edges`: dumps the symmetrized-edge frame of the
dedup_clusters pair pipeline BEFORE its localCheckpoint —
connected_components checkpoints its edges, so the query's own plan
shows only `Scan ExistingRDD` where the single-pair-subtree +
Generate(explode) shape lives.

The `before` files are captured on the pre-optimization tree, the
`after` files on the optimized tree, and the two are diffed against
the round's OPTIMIZATION notes. Plans are captured at sf0.1 (the
benched scale) unless SPARK_GRAFT_SF_DIR says otherwise; queries that
commit table versions during DataFrame construction do that work here
too (scratch-scoped, same as any bench invocation).
"""

from __future__ import annotations

import contextlib
import io
import os
import sys


def _cc_edges_frame(spark, sf):
    """The edges frame dedup_clusters feeds to connected_components,
    reproduced WITHOUT the localCheckpoint so the pair pipeline is
    visible in the plan (same expressions as operators/dedup.py
    connected_components's symmetrization)."""
    from etl_job_spark.operators import dedup
    from etl_job_spark.plans import llm_ops

    corpus = llm_ops._neardup_corpus(spark, sf)
    sh = dedup.shingles(corpus).persist()
    sigs = dedup.minhash_signatures(sh, num_hashes=12)
    cands = dedup.lsh_candidate_pairs(sigs, band_size=3)
    pairs = dedup.verify_pairs(cands, sh, llm_ops.JACCARD_THRESHOLD)
    return (
        pairs.selectExpr(
            "explode(array(struct(doc_a AS src, doc_b AS dst),"
            " struct(doc_b AS src, doc_a AS dst))) AS e"
        )
        .select("e.src", "e.dst")
        .distinct()
    )


def main() -> None:
    if len(sys.argv) < 4:
        sys.exit(__doc__)
    rnd, tag, names = sys.argv[1], sys.argv[2], sys.argv[3:]
    sf = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from etl_job_spark.plans.registry import QUERIES
    from etl_job_spark.session import get_spark

    spark = get_spark(f"explain-{rnd}-{tag}")
    spark.sparkContext.setLogLevel("ERROR")
    out_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", rnd
    )
    os.makedirs(out_dir, exist_ok=True)
    for name in names:
        df = _cc_edges_frame(spark, sf) if name == "cc_edges" else QUERIES[name](spark, sf)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain(mode="formatted")
        path = os.path.join(out_dir, f"{name}_{tag}.txt")
        with open(path, "w") as fh:
            fh.write(f"-- {name} ({tag}) explain('formatted') at {sf}\n")
            fh.write(buf.getvalue())
        print(f"wrote {path}")
    from etl_job_spark.scratch import reclaim_scratch

    reclaim_scratch(spark.sparkContext.applicationId)
    spark.stop()


if __name__ == "__main__":
    main()
