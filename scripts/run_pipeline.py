#!/usr/bin/env python3
"""End-to-end pipeline CLI, runnable under spark-submit:

  spark-submit --py-files sheep_spark.zip scripts/run_pipeline.py \
      --input data/hep-th.dat --format xs1 --k 8 --output /tmp/parts

or locally: python scripts/run_pipeline.py --pages 5000 --k 8 ...

Stages (the reference's dist-partition.sh pipeline, SURVEY §3.1):
load/extract → degree sequence → elimination tree → FFD partition →
down-assign → partitioned parquet sink + quality metrics JSON
(+ optional PageRank to convergence on the partitioned graph).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    src = ap.add_mutually_exclusive_group(required=True)
    src.add_argument("--input", help="edge-list file (SNAP text or XS1 binary)")
    src.add_argument("--pages", type=int, help="generate N synthetic Common-Crawl-style pages")
    src.add_argument(
        "--pages-parquet",
        help="parquet directory or catalog table name with pages(url,warc_ts,html,text,lang)",
    )
    ap.add_argument("--format", choices=["snap", "xs1"], default="snap")
    ap.add_argument("--k", type=int, default=8, help="number of partitions")
    ap.add_argument("--balance", type=float, default=1.03)
    ap.add_argument("--output", help="partitioned edge parquet sink")
    ap.add_argument("--tree-out", help="persist the elimination tree here")
    ap.add_argument("--pagerank", action="store_true", help="run PageRank to 1e-6 after partitioning")
    ap.add_argument(
        "--full-metrics",
        action="store_true",
        help="evaluate the full 10-metric suite (default: the headline "
        "edges_cut/ecv_down/down_balance subset — ~3x less work)",
    )
    ap.add_argument(
        "--checkpoint-dir",
        help="PageRank superstep checkpoint root (resumable); checkpoints are "
        "written only above analytics.DRIVER_ANALYTICS_MAX_EDGES undirected edges — "
        "at or below it PageRank runs on the driver and has nothing to resume",
    )
    ap.add_argument("--cores", type=int, default=None)
    args = ap.parse_args()

    from sheep_spark import analytics, evaluate, extract, graph, io as gio, partitioner, tree
    from sheep_spark.checkpointing import Checkpointer
    from sheep_spark.session import get_spark

    spark = get_spark("sheep-pipeline", cores=args.cores)
    spark.sparkContext.setLogLevel("WARN")
    t0 = time.time()

    if args.pages is not None:
        from sheep_spark import corpus

        pages = corpus.generate_pages(spark, args.pages)
        edges, _ids = extract.edges_from_pages(pages)
    elif args.pages_parquet:
        from sheep_spark import catalog

        pages = catalog.read_table(spark, args.pages_parquet)
        edges, _ids = extract.edges_from_pages(pages)
    else:
        raw = gio.read_xs1(spark, args.input) if args.format == "xs1" else gio.read_snap(spark, args.input)
        edges = graph.symmetrize(raw)
        _ids = None
    edges = edges.persist()
    if _ids is not None:
        # url<->vid map unused by this CLI; the edge table is eagerly
        # checkpointed inside edges_from_pages, so the cache can go now
        # (ADVICE r4: leaving it persisted leaked a V-sized block)
        _ids.unpersist()

    verts = graph.vertices_from_edges(edges).persist()
    n_vertices = verts.count()
    stage_load = time.time() - t0

    t1 = time.time()
    t = tree.build_tree(graph.edges_pos(edges, verts, n_vertices), n_vertices)
    if args.tree_out:
        tree.save_tree(t, args.tree_out)
        t = tree.load_tree(spark, args.tree_out)
    assign = partitioner.sheep_partition(t, verts, args.k, args.balance)
    vmeta = partitioner.vertex_meta(verts, assign).persist()
    vmeta.count()
    stage_tree = time.time() - t1

    t2 = time.time()
    metric_subset = None if args.full_metrics else ("edges_cut", "ecv_down", "down_balance")
    metrics = evaluate.evaluate(edges, vmeta, metrics=metric_subset)
    stage_eval = time.time() - t2

    if args.output:
        partitioner.write_partitioned(
            partitioner.down_assign(edges, vmeta, n_vertices), args.output
        )

    report = {
        "n_vertices": n_vertices,
        "k": args.k,
        "stages_s": {
            "load": round(stage_load, 2),
            "tree_partition": round(stage_tree, 2),
            "evaluate": round(stage_eval, 2),
        },
        **{k: v for k, v in metrics.items()},
    }

    if args.pagerank:
        ck = Checkpointer(spark, args.checkpoint_dir, job="pagerank") if args.checkpoint_dir else None
        t3 = time.time()
        _, info = analytics.pagerank(edges, verts, tol=1e-6, checkpointer=ck)
        report["pagerank"] = {
            "iterations": info["iterations"],
            "l1_delta": info["l1_delta"],
            "path": info["path"],
            "wall_s": round(time.time() - t3, 2),
        }

    print(json.dumps(report))
    spark.stop()


if __name__ == "__main__":
    main()
