#!/usr/bin/env python3
"""Connected-components scale bench (operators/dedup.connected_components).

The near-dup pair graphs that LSH/SimHash banding emit at 100 TB are
edge sets in the 10^7-10^9 range with two adversarial shapes: long
chains (transcluded/boilerplate page families, where naive min-label
propagation needs diameter rounds) and heavy stars (one boilerplate doc
near-duplicating millions). This job synthesizes both deterministically
and measures the operator: wall seconds, rounds to convergence, edges/s,
and a correctness checksum (component count + membership hash) that is
independent of the execution plan.

Graph: ``n_chains`` chains of ``chain_len`` nodes each, plus
``n_stars`` stars of ``star_size`` leaves; node ids are disjoint by
construction, so the expected component count is n_chains + n_stars —
the checksum is exact, no oracle run needed.

Prints ONE JSON line; paste into BENCH.md.

Usage: python3 jobs/components_bench.py [n_chains] [chain_len] [n_stars] [star_size] [cpus]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from jobs import rig  # noqa: E402


def main() -> None:
    n_chains, chain_len, n_stars, star_size, cpus = rig.argv(2_000, 500, 200, 5_000, None)

    from pyspark.sql import functions as F

    from osm_poi_matchmaker_spark.operators.dedup import connected_components

    spark = rig.session("components-bench", cpus)

    # chains: node ids [c*chain_len, (c+1)*chain_len); edge i -> i+1
    chain_nodes = n_chains * chain_len
    chains = (
        spark.range(chain_nodes)
        .where((F.col("id") % chain_len) != chain_len - 1)
        .select(F.col("id").alias("doc_a"), (F.col("id") + 1).alias("doc_b"))
    )
    # stars: hub h owns leaves; ids offset past the chain range
    hub = F.lit(chain_nodes) + (F.col("id") / star_size).cast("long") * (star_size + 1)
    stars = spark.range(n_stars * star_size).select(
        hub.alias("doc_a"), (hub + 1 + F.col("id") % star_size).alias("doc_b")
    )
    pairs = rig.cached(chains.union(stars).repartition(cpus * 2))
    n_edges = pairs.count()  # untimed: input materialization

    sec, agg = rig.timed(
        lambda: connected_components(pairs).agg(
            F.countDistinct("component").alias("n_components"),
            F.count(F.lit(1)).alias("n_nodes"),
            F.sum(F.hash("node", "component").cast("long")).alias("membership_hash"),
        ).collect()[0]
    )

    expected = n_chains + n_stars
    rig.emit({
        "metric": "connected_components",
        "value": round(sec, 2),
        "unit": "sec",
        "edges": n_edges,
        "nodes": agg["n_nodes"],
        "components": agg["n_components"],
        "components_expected": expected,
        "correct": agg["n_components"] == expected,
        "membership_hash": agg["membership_hash"],
        "edges_per_sec": round(n_edges / sec, 1),
        "chain_len": chain_len,
        "star_size": star_size,
        "cpus": cpus,
    })
    spark.stop()


if __name__ == "__main__":
    main()
