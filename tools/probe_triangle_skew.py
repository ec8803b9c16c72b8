"""Hub-skew probe for the degree-ordered triangle census.

Builds a synthetic power-law-ish graph (uniform src, dst drawn as
floor(N * u^4) so low ids become heavy hubs), then measures the ONE
number that decides feasibility at scale: how many wedges each edge
orientation enumerates.

- id-orientation (the naive choice) pivots every wedge on the
  lower-id node — a hub with degree d contributes C(d, 2);
- degree-orientation (what graph_triangle_count ships) bounds every
  node's out-degree, so hubs stop being pivots.

Both wedge counts are computed ANALYTICALLY from the degree tables
(sum C(outdeg, 2) — no wedge is materialized), then the real
adjacency-intersection census runs, timed, under degree orientation.

Usage: python tools/probe_triangle_skew.py [--nodes 100000] [--edges 2000000]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402
from pyspark.sql.window import Window  # noqa: E402

from ondemand_dask_spark.session import build_session  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--nodes", type=int, default=100_000)
    ap.add_argument("--edges", type=int, default=2_000_000)
    args = ap.parse_args()
    n, m = args.nodes, args.edges

    spark = build_session(
        app_name="probe_triangle_skew",
        shuffle_partitions=32,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")

    u1 = (F.xxhash64(F.col("id"), F.lit(1)) % 1_000_003).cast("double") / 1_000_003
    u2 = (F.xxhash64(F.col("id"), F.lit(2)) % 1_000_003).cast("double") / 1_000_003
    raw = spark.range(m).select(
        F.floor(F.abs(u1) * n).alias("x"),
        F.floor(F.abs(u2) * F.abs(u2) * F.abs(u2) * F.abs(u2) * n).alias("y"),
    )
    edges = (
        raw.select(
            F.least("x", "y").alias("src"), F.greatest("x", "y").alias("dst")
        )
        .where(F.col("src") != F.col("dst"))
        .distinct()
        .localCheckpoint()
    )
    m_real = edges.count()
    sym = edges.select(F.col("src").alias("u"), F.col("dst").alias("v")).unionByName(
        edges.select(F.col("dst").alias("u"), F.col("src").alias("v"))
    )
    deg = sym.groupBy(F.col("u").alias("node")).agg(F.count("*").alias("d"))
    top = deg.orderBy(F.desc("d")).limit(3).collect()

    # analytic wedge counts: sum C(outdeg, 2) under each orientation
    def wedge_sum(out_deg_df):
        row = out_deg_df.agg(
            F.sum(F.col("od") * (F.col("od") - 1) / 2).alias("w")
        ).first()
        return int(row["w"] or 0)

    id_out = sym.where(F.col("v") > F.col("u")).groupBy("u").agg(
        F.count("*").alias("od")
    )
    rnk = deg.select(
        "node", F.row_number().over(Window.orderBy("d", "node")).alias("r")
    )
    ra = F.broadcast(rnk).alias("ra")
    rb = F.broadcast(rnk).alias("rb")
    deg_out = (
        sym.join(ra, F.col("ra.node") == F.col("u"))
        .join(rb, F.col("rb.node") == F.col("v"))
        .where(F.col("rb.r") > F.col("ra.r"))
        .groupBy("u")
        .agg(F.count("*").alias("od"))
    )
    wedges_id = wedge_sum(id_out)
    wedges_deg = wedge_sum(deg_out)

    # the shipped census shape, timed (degree orientation + adjacency
    # intersection, as in queries/graph.py)
    t0 = time.perf_counter()
    oriented = (
        edges.alias("s")
        .join(ra, F.col("ra.node") == F.col("s.src"))
        .join(rb, F.col("rb.node") == F.col("s.dst"))
        .select(
            F.when(F.col("ra.r") < F.col("rb.r"), F.col("s.src"))
            .otherwise(F.col("s.dst"))
            .alias("lo"),
            F.when(F.col("ra.r") < F.col("rb.r"), F.col("s.dst"))
            .otherwise(F.col("s.src"))
            .alias("hi"),
        )
        .localCheckpoint()
    )
    adj = oriented.groupBy(F.col("lo").alias("node")).agg(
        F.collect_list("hi").alias("nbrs")
    )
    tri = (
        oriented.join(
            adj.select(F.col("node").alias("lo"), F.col("nbrs").alias("na")), "lo"
        )
        .join(adj.select(F.col("node").alias("hi"), F.col("nbrs").alias("nb")), "hi")
        .select(F.size(F.array_intersect("na", "nb")).alias("t"))
        .agg(F.sum("t"))
        .first()[0]
    )
    secs = round(time.perf_counter() - t0, 2)

    print(
        json.dumps(
            {
                "nodes": n,
                "edges": m_real,
                "top_degrees": [int(r["d"]) for r in top],
                "wedges_id_orientation": wedges_id,
                "wedges_degree_orientation": wedges_deg,
                "wedge_ratio": round(wedges_id / max(wedges_deg, 1), 1),
                "triangles": int(tri or 0),
                "census_seconds": secs,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
