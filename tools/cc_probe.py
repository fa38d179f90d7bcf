"""Connected-components at adversarial scale (VERDICT r16 #4).

``dedup_clusters``'s large-graph path — iterative min-label propagation
(``operators/components.py``) — had never been driven past the 1M-edge
union-find cutoff in a bench: every driver fixture lands in the
single-task path.  This probe PLANTS a graph big enough to force the
loop and structured to verify itself:

* ``n_cliques`` near-dup cliques of ``clique_size`` nodes, star-wired to
  their min node (the dominant real shape: diameter 2, converges in one
  check window);
* ``n_chains`` path components of ``chain_len`` nodes (adversarial
  diameter: min-label propagation needs ~chain_len rounds — the shape
  that exposes the loop's rounds × shuffle cost).

Every component's expected label is its min node by construction, so
correctness is checked distributively: per-component sizes grouped by
size must match the planted histogram exactly, and every label must
equal the component's min member.

Arms: ``localCheckpoint`` (bench default) vs ``reliable_checkpoint=True``
(replicated ``checkpoint()`` to a checkpoint dir — the cluster-mode,
executor-loss-safe configuration).  The delta prices the durability.

Usage::

    python tools/cc_probe.py [--n-cliques 120000] [--clique-size 10] \
        [--n-chains 10000] [--chain-len 12] [--cpus 32]
"""

from __future__ import annotations

import argparse
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--n-cliques", type=int, default=120_000)
    ap.add_argument("--clique-size", type=int, default=10)
    ap.add_argument("--n-chains", type=int, default=10_000)
    ap.add_argument("--chain-len", type=int, default=12)
    ap.add_argument("--cpus", default="32")
    ap.add_argument("--max-iterations", type=int, default=20)
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from amazon_kinesis_data_analytics_flinktableapi_spark.engine import build_spark
    from amazon_kinesis_data_analytics_flinktableapi_spark.operators.components import (
        connected_components,
    )

    spark = build_spark(app_name="cc_probe", master=f"local[{args.cpus}]")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1_000_000).selectExpr("sum(id)").collect()  # JVM warm

    cs, cl = args.clique_size, args.chain_len
    # cliques: nodes [base, base+cs); star edges (base, base+j) j=1..cs-1
    clique_edges = (
        spark.range(args.n_cliques)
        .select((F.col("id") * cs).alias("base"))
        .select(
            F.explode(F.sequence(F.lit(1), F.lit(cs - 1))).alias("j"), "base"
        )
        .select(F.col("base").alias("id_a"), (F.col("base") + F.col("j")).alias("id_b"))
    )
    # chains live above the clique id space: nodes [off + i*cl, off + (i+1)*cl)
    off = args.n_cliques * cs
    chain_edges = (
        spark.range(args.n_chains)
        .select((F.lit(off) + F.col("id") * cl).alias("base"))
        .select(
            F.explode(F.sequence(F.lit(0), F.lit(cl - 2))).alias("j"), "base"
        )
        .select(
            (F.col("base") + F.col("j")).alias("id_a"),
            (F.col("base") + F.col("j") + 1).alias("id_b"),
        )
    )
    edges = clique_edges.union(chain_edges).repartition(int(args.cpus))
    n_edges = edges.count()
    n_directed = 2 * n_edges
    print(
        f"planted: {args.n_cliques:,} cliques(size {cs}) + "
        f"{args.n_chains:,} chains(len {cl}) = {n_edges:,} undirected edges "
        f"({n_directed:,} directed — {'LOOP' if n_directed > 1_000_000 else 'union-find'} path)"
    )

    expect_hist = {cs: args.n_cliques, cl: args.n_chains}

    def check(labels) -> None:
        agg = labels.groupBy("comp").agg(
            F.count("*").alias("size"), F.min("node").alias("mn")
        )
        bad_label = agg.filter(F.col("comp") != F.col("mn")).count()
        hist = {r["size"]: r["n"] for r in
                agg.groupBy("size").agg(F.count("*").alias("n")).collect()}
        assert bad_label == 0, f"{bad_label} components mislabeled"
        assert hist == expect_hist, f"size histogram {hist} != {expect_hist}"

    # untimed warmup on a slice (forced onto the loop path): both timed
    # arms then read from an equally warm session — without this the
    # second arm inherits ~all of the first's JIT/codegen warmth and the
    # arm delta measures session position, not checkpoint cost (SCALING.md,
    # duplicate_span_removal creep attribution)
    connected_components(
        edges.limit(50_000), small_graph_edges=0, max_iterations=args.max_iterations
    ).count()

    for label, kwargs in [
        ("localCheckpoint (bench default)", {}),
        ("reliable checkpoint() (cluster mode)", {"reliable_checkpoint": True}),
    ]:
        if kwargs.get("reliable_checkpoint"):
            ckpt = tempfile.mkdtemp(prefix="cc_probe_ckpt_")
            spark.sparkContext.setCheckpointDir(ckpt)
        t = time.perf_counter()
        labels = connected_components(
            edges, max_iterations=args.max_iterations, **kwargs
        )
        check(labels)
        sec = round(time.perf_counter() - t, 2)
        n_nodes = labels.count()
        print(f"| {label} | {sec} s | {n_nodes:,} nodes labeled | converged, histogram exact |")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
