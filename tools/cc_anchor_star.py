"""Time ``connected_components`` on anchor-star graphs above the driver cap.

Each group of 20 nodes is an anchor star: the group's minimum key is joined
to its 19 other keys, the edge shape the anchor-edge stage emits. Nodes are
shuffled before the long ids are assigned, so id order is not key order.
The driver union-find is off (``local_max_edges=0``), so every size runs the
distributed pass; each label is checked against its group's anchor.

Usage:
    python tools/cc_anchor_star.py [nodes,...] [reps]

``nodes`` defaults to ``800000,2500000`` (760k edges, under the one-task
union-find cap; 2.375M edges, above it); ``reps`` to 2. One ``RESULT`` line
per run: path, iterations, wall (including a checkpoint of the labels),
wrong labels and the per-round decomposition (``CCResult.rounds``).
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

CPUS = os.environ.get("SPARK_GRAFT_CPUS", "4")
GROUP = 20


def main(sizes: list[int], reps: int) -> None:
    from pyspark.sql import functions as F

    from sql_identity_resolution_spark.operators import graph
    from sql_identity_resolution_spark.session import build_session

    spark = build_session(app_name="cc-anchor-star", master=f"local[{CPUS}]")
    spark.sparkContext.setLogLevel("ERROR")

    def key(col):
        return F.format_string("e%08d", col)

    def anchor(col):
        return (col / GROUP).cast("long") * GROUP

    def build(n):
        ids = spark.range(n)
        nodes = ids.select(key("id").alias("entity_key")).orderBy(F.rand(7))
        edges = ids.where(F.col("id") % GROUP != 0).select(
            key(anchor(F.col("id"))).alias("left_entity_key"), key("id").alias("right_entity_key"))
        return nodes, edges

    # warm-up: JIT and Python workers
    wn, we = build(2000)
    graph.connected_components(wn, we, local_max_edges=0).labels.write.format("noop").mode(
        "overwrite").save()
    for n in sizes:
        nodes, edges = build(n)
        for r in range(reps):
            t0 = time.perf_counter()
            res = graph.connected_components(nodes, edges, local_max_edges=0)
            labels = res.labels.localCheckpoint(eager=True)
            wall = time.perf_counter() - t0
            want = key(anchor(F.substring("entity_key", 2, 8).cast("long")))
            wrong = labels.where(F.col("label") != want).count()
            print(f"RESULT nodes={n} edges={n - n // GROUP} rep={r} path={res.path} "
                  f"iters={res.iterations} converged={res.converged} wall_s={wall:.2f} "
                  f"labels={labels.count()} wrong={wrong} rounds={res.rounds}", flush=True)
    spark.stop()


if __name__ == "__main__":
    sizes = [int(x) for x in sys.argv[1].split(",")] if len(sys.argv) > 1 else [800_000, 2_500_000]
    main(sizes, int(sys.argv[2]) if len(sys.argv) > 2 else 2)
